package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Schemas
import graft.lake.{LakeTable, LineageEntry, Snapshot}

/** Per-batch apply result (also the lineage record content). `quarantined`
  * is set only by the audited-ingest gate ([[CdcStream.start]]): the batch
  * was staged, rejected, and excluded from the table.
  */
case class ApplyStats(
    queryId: String,
    batchId: Long,
    skipped: Boolean,
    events: Long,
    upserts: Long,
    deletes: Long,
    minLsn: Long,
    maxLsn: Long,
    version: Long,
    quarantined: Boolean = false)

/** The CDC apply engine: applies one micro-batch of change events to a
  * [[LakeTable]] with last-writer-wins semantics, exactly-once via a
  * per-query batch-id high-watermark in the committed snapshot, and
  * Catalyst-driven schema evolution. Two apply paths:
  *
  *  - [[applyBatchAppendRaw]], write-optimized: every event is appended as
  *    its own row version in un-bucketed L0 spanning files (mode `l0`);
  *    readers and compaction resolve LWW.
  *  - [[applyBatchDv]], read-optimized: superseded committed rows are masked
  *    by deletion vectors and only the batch's winners are appended, so the
  *    table keeps one live version per url and reads need no resolve.
  *
  * Scale design (the parts that must survive 100 TB / 1000 executors):
  *
  *  - '''No full-table shuffle, ever.''' The append path reads no table
  *    data. The dv path hashes the batch's distinct urls to buckets, reads
  *    only the key columns of files in affected buckets (manifest pruning)
  *    and joins them with a '''broadcast''' of the batch keys — the big
  *    existing side is never shuffled.
  *  - '''Hot-key skew''' (Zipf domains, hot urls) is absorbed by partial
  *    aggregation: the dv path's LWW reduction is
  *    `max_by(struct(...), struct(lsn, wal_part))` — a declarative aggregate
  *    with map-side combine, so a million updates to one url reduce locally
  *    before the exchange; AQE handles residual skew.
  *  - '''Idempotent replay''': batches commit in order per streaming query, so
  *    a high-watermark batchId in the snapshot suffices; a replayed batch
  *    (crash between sink commit and checkpoint write) is skipped → table
  *    state is exactly-once even though the source is at-least-once.
  *  - '''Tombstones''': a delete persists as `_deleted=true` with its LSN so a
  *    later-arriving *stale* update (lower LSN, different WAL partition) loses
  *    the LWW comparison instead of resurrecting the row. GC'd by compaction
  *    once the out-of-orderness bound passes.
  *
  * Reference analogues: keyed upsert/erase state
  * (`libtenzir/builtins/contexts/lookup_table.cpp:416-470`), stream dedup
  * (`libtenzir/builtins/operators/deduplicate.cpp:107-205`), importer/catalog
  * write path (`libtenzir/src/importer.cpp:35-106`).
  */
object CdcApply {

  /** Envelope columns that are not payload (plus generator bookkeeping). */
  private val NonPayload = Set("op", "lsn", "wal_part", "seg")

  /** Phase profiler for scaling diagnosis: `-Dgraft.profile=true` prints one
    * stderr line per phase so the driver-serial slice of a batch (snapshot
    * load, write job, footer stats, commit) can be attributed at different
    * core counts. Zero overhead when off.
    */
  private val profile = sys.props.get("graft.profile").contains("true") ||
    sys.env.get("SPARK_GRAFT_PROFILE").contains("true")
  @inline private[graft] def phase[T](name: String)(body: => T): T =
    if (!profile) body
    else {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(f"[phase] $name%-14s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }

  /** Above this many distinct keys per batch, the dv competitor join is left
    * to the shuffle planner instead of a forced broadcast (~1M urls ≈ 60+ MB
    * broadcast — past the point where driver collect + ship beats a shuffle
    * of the bucket-pruned existing side).
    */
  val BroadcastKeyLimit: Long = 1000L * 1000

  /** Schema-evolution preamble shared by both apply paths (a drift here
    * would silently diverge table state between them): merge the event user
    * schema into the table's, allocating the next schema id on evolution.
    * @return (mergedUser, evolved, schemaId, mergedFileSchema)
    */
  private def evolveSchema(table: LakeTable, snap0: Snapshot, ev: DataFrame)
      : (StructType, Boolean, Int, StructType) = {
    val tableUser = StructType(table.currentFileSchema(snap0).fields
      .filterNot(f => Schemas.systemColumns.exists(_.name == f.name)))
    val mergedUser = Schemas.mergeStructs(tableUser, userSchemaOf(ev.schema))
    val evolved = mergedUser != tableUser
    val schemaId =
      if (evolved) snap0.schemas.keys.map(_.toInt).max + 1 else snap0.currentSchemaId
    (mergedUser, evolved, schemaId, LakeTable.fileSchema(mergedUser))
  }

  /** Envelope rows → file-schema rows, shared by both apply paths: delete ops
    * null the payload (tombstone keeps key + LSN — deterministic content),
    * system columns appended.
    */
  private def toFileRows(aligned: DataFrame, mergedUser: StructType): DataFrame = {
    val isDel = col("op") === "D"
    aligned.select(
      (Seq(col("url")) ++
        mergedUser.fields.filter(_.name != "url").map(f =>
          when(isDel, lit(null).cast(f.dataType)).otherwise(col(f.name)).as(f.name)) ++
        Seq(
          col("lsn").as("_lsn"),
          isDel.as("_deleted"),
          xxhash64(col("url")).as("_urlhash"),
          col("wal_part").cast("int").as("_wal_part"))).toIndexedSeq: _*)
  }

  /** WAP ordering guard for COMMIT paths (both apply paths): committing
    * batch N of a query at or past a staged-unpublished batch of the SAME
    * query would advance the exactly-once watermark over data that is not
    * durable yet — crash replay would then skip the staged batch forever —
    * or double-apply a staged batch its publish later rebase-appends. Refuse
    * until published/dropped. Cost: one list of an almost-always-absent dir
    * per batch; WHILE a stage pends (transient by design) each pending staged
    * snapshot's inline JSON is parsed per batch to read its lineage tail —
    * accepted, since pending stages are audit-scoped and short-lived.
    */
  private def requireNoStagedGap(table: LakeTable, queryId: String, batchId: Long): Unit = {
    val blocking = table.stagedIds.flatMap(id => table.stagedSnapshot(id).lineage
      .filter(e => e.snapshotVersion < 0 && e.queryId == queryId && e.batchId <= batchId)
      .map(e => id -> e.batchId))
    if (blocking.nonEmpty)
      throw new IllegalStateException(
        s"query '$queryId' has staged unpublished batch(es) " +
          blocking.map(p => s"${p._2} (WAP '${p._1}')").mkString(", ") +
          s" at or before batch $batchId — publish or drop them before committing")
  }

  /** Deletion-vector apply (the Iceberg-v2 positional-delete design): the
    * READ-optimized merge path. A batch
    *
    *  1. computes its LWW winners (a map-side-combined `max_by`);
    *  2. reads the CURRENT committed row identity of competing urls from the
    *     touched buckets — a '''column-pruned masked scan''' of
    *     `(url, _lsn, _wal_part)` plus each row's physical position
    *     ([[graft.lake.LakeTable.readFilesSlim]]); payload bytes (html) are
    *     never read, and the touched buckets are never rewritten;
    *  3. masks superseded committed rows by appending their
    *     `(file, row-ordinal)` pairs to a per-batch DV sidecar
    *     ([[graft.lake.LakeTable.writeDvFiles]]) — committed rows that WIN
    *     the LWW comparison (a stale late batch) are left in place and their
    *     batch rows are discarded instead;
    *  4. appends only the winning rows as new bucket files.
    *
    * Per-batch cost is O(batch + touched-bucket key columns); write
    * amplification is O(batch) like the append path — but reads stay a pure
    * scan + broadcast anti-join (NO url-keyed resolve shuffle), because the
    * table keeps the single-live-version invariant: every superseded row is
    * positionally masked the moment its successor lands. Compaction folds
    * masks into the data and clears the sidecar list.
    *
    * Requires a single-version base (no L0 spanning files, and no bucket
    * deltas a partial flush left multi-version) — the invariant the path
    * itself maintains. A table fed by the append path switches to dv after
    * one full `compact()`.
    *
    * Reference analogue: the reference's only rewrite mechanism is the
    * whole-partition `rebuild` copy (`builtins/commands/rebuild.cpp:45-77`);
    * positional deletes give the same read-optimized layout without paying
    * a rewrite per batch.
    */
  def applyBatchDv(
      table: LakeTable,
      batch: DataFrame,
      queryId: String,
      batchId: Long,
      createBuckets: Int = 64): ApplyStats = {

    val snap0: Snapshot = phase("snapshot") { table.currentSnapshot.getOrElse {
      table.create(userSchemaOf(batch.schema), createBuckets)
    } }
    if (snap0.watermarks.get(queryId).exists(_ >= batchId))
      return ApplyStats(queryId, batchId, skipped = true, 0, 0, 0, -1, -1, snap0.version)
    requireNoStagedGap(table, queryId, batchId)
    // L0 first: every spanning append also sets needs_resolve, so checked
    // second its more specific message could never be shown
    require(!snap0.files.exists(_.bucket < 0),
      "table has un-flushed L0 spanning files — run compact() before deletion-vector applies")
    require(!table.needsResolve(snap0),
      "dv apply requires a single-version base (un-compacted merge-on-read deltas " +
        "present) — run compact() first")

    val ev = batch.drop("seg")
    val (mergedUser, evolved, schemaId, mergedFile) = evolveSchema(table, snap0, ev)

    // batch LWW winners (order: LSN, then WAL partition for determinism) +
    // bookkeeping in one aggregation: a stats job, then the write jobs
    val evCols = ev.columns
    val winners = ev
      .groupBy(col("url"))
      .agg(
        max_by(struct(evCols.map(col).toIndexedSeq: _*), struct(col("lsn"), col("wal_part")))
          .as("w"),
        count(lit(1)).as("_n"),
        min(col("lsn")).as("_minLsn"),
        max(col("lsn")).as("_maxLsn"))
      .select(col("w.*"), col("_n"), col("_minLsn"), col("_maxLsn"))
      .withColumn("_urlhash", xxhash64(col("url")))
      .withColumn("_bucket", LakeTable.bucketCol(col("_urlhash"), snap0.buckets))
      .persist()

    try {
      val perBucket = winners.groupBy(col("_bucket")).agg(
        sum(col("_n")), min(col("_minLsn")), max(col("_maxLsn")),
        sum(when(col("op") === "D", 1L).otherwise(0L)),
        sum(when(col("op") =!= "D", 1L).otherwise(0L))).collect()

      val events = perBucket.map(_.getLong(1)).sum
      if (events == 0L) { // empty batch: advance the watermark only
        val s = table.commit(snap0.copy(
          watermarks = snap0.watermarks + (queryId -> batchId),
          lineage = snap0.lineage :+ LineageEntry(queryId, batchId, 0, 0, 0, -1, -1, -1)),
          appendedOnly = Some(Nil))
        return ApplyStats(queryId, batchId, skipped = false, 0, 0, 0, -1, -1, s.version)
      }
      val minLsn = perBucket.map(_.getLong(2)).min
      val maxLsn = perBucket.map(_.getLong(3)).max
      val deletes = perBucket.map(_.getLong(4)).sum
      val upserts = perBucket.map(_.getLong(5)).sum
      val affected: Set[Int] = perBucket.map(_.getInt(0)).toSet
      val keyCount = deletes + upserts

      // current committed competitor per url: slim masked identity read of
      // the touched buckets, semi-restricted to the batch's keys (broadcast
      // below BroadcastKeyLimit — the pruned scan never shuffles)
      val candidateFiles = table.planFiles(snap0, buckets = Some(affected))
      val keysRaw = winners.select(col("url"), col("lsn").as("_b_lsn"))
      val keys = if (keyCount <= BroadcastKeyLimit) broadcast(keysRaw) else keysRaw
      // inner join: only committed rows whose url the batch touches matter.
      // Batch-wins iff _b_lsn > _lsn: at equal LSN the committed row wins,
      // so a redelivered duplicate never supersedes its committed original
      // (the two share wal_part, so no later tiebreak is needed)
      val cmp = table.readFilesSlim(snap0, candidateFiles)
        .join(keys, Seq("url"))
        .persist()
      try {
        val dvRows = cmp.filter(col("_b_lsn") > col("_lsn"))
          .select(col(LakeTable.DvPathCol), col(LakeTable.DvPosCol))
        val newDv = phase("dv-sidecar") {
          table.writeDvFiles(dvRows, nTasks = math.min(8, math.max(1, affected.size)))
        }
        // stale batch rows (their committed competitor won) must NOT land —
        // they would be a second live version with no resolve to hide them
        val losers = cmp.filter(col("_b_lsn") <= col("_lsn")).select(col("url"))
        val loserSide = if (keyCount <= BroadcastKeyLimit) broadcast(losers) else losers
        val appendRows = toFileRows(
          alignUser(winners.join(loserSide, Seq("url"), "left_anti"), mergedUser),
          mergedUser)
        // one winner per url: the writer's LWW fold keeps every row
        val newFiles = phase("write-job") {
          table.writeDataFiles(appendRows, schemaId, snap0.buckets,
            nTasks = math.max(1, affected.size))
        }

        val schemas =
          if (evolved) snap0.schemas + (schemaId.toString -> mergedFile.json) else snap0.schemas
        val committed = phase("commit") { table.commit(snap0.copy(
          currentSchemaId = schemaId,
          schemas = schemas,
          files = snap0.files ++ newFiles,
          dvFiles = snap0.dvFiles ++ newDv,
          watermarks = snap0.watermarks + (queryId -> batchId),
          lineage = snap0.lineage :+
            LineageEntry(queryId, batchId, events, upserts, deletes, minLsn, maxLsn, -1)),
          appendedOnly = Some(newFiles)) }

        ApplyStats(queryId, batchId, skipped = false, events, upserts, deletes,
          minLsn, maxLsn, committed.version)
      } finally cmp.unpersist()
    } finally winners.unpersist()
  }

  /** Merge-on-read apply WITHOUT batch-level LWW dedup: every event row is
    * appended as its own version in L0 ''spanning'' files
    * ([[graft.lake.LakeTable.writeDataFilesSpanning]]) — scan → project →
    * write, ZERO exchanges, each scan task streaming straight into one parquet
    * file. Readers and compaction already LWW-resolve across versions, so
    * intra-batch losers are just extra rows that the next compaction folds
    * (the LSM/sorted-run design — Paimon/Hudi-style changelog appends).
    * Bucket placement is deferred wholly to compaction (the L0→L1 flush of
    * an LSM tree); until then point lookups pay a read of the un-flushed L0
    * files, bounded by the auto-compaction threshold.
    *
    * Why no dedup: a batch `max_by(struct(<whole row>))` holds the full row
    * per key in its aggregation buffer, the hot spot that capped the removed
    * deduped append's 4→16-core scaling (BASELINE.md, round 2). The raw
    * append pays the intra-batch dup factor (~1.2×) in delta bytes instead,
    * amortized away by compaction.
    *
    * Lineage bookkeeping reports RAW event counts (upserts/deletes as
    * delivered); exactly-once watermark + schema evolution identical to
    * [[applyBatchDv]].
    *
    * `spanning` must be `true`; it remains only for callers that still pass
    * it.
    *
    * `stageAs = Some(wapId)` switches the final commit to
    * [[graft.lake.LakeTable.stageCommit]] — write-audit-publish: the batch's
    * files land invisibly, the caller audits `pages(stagedSnapshot(id))`,
    * then `publishStaged`/`dropStaged`. A staged empty batch stages nothing
    * and advances no watermark; replaying an already-staged batch skips
    * idempotently (the stage is the durable record until publish/drop).
    * Ordering rule: committing a LATER batch of the same queryId while an
    * earlier batch is staged-unpublished is refused — it would advance the
    * exactly-once watermark past a batch that is not durable yet. Audit a
    * side channel under its own queryId (the multi-writer WAP pattern) to
    * commit past a pending stage. With staging, `ApplyStats.version`
    * reports the staged BASE — nothing is committed until publish.
    */
  def applyBatchAppendRaw(
      table: LakeTable,
      batch: DataFrame,
      queryId: String,
      batchId: Long,
      createBuckets: Int = 64,
      spanning: Boolean = true,
      stageAs: Option[String] = None): ApplyStats = {
    require(spanning,
      "bucketed raw appends were removed: raw appends always write L0 spanning files")

    val snap0: Snapshot = phase("snapshot") { table.currentSnapshot.getOrElse {
      table.create(userSchemaOf(batch.schema), createBuckets)
    } }
    // Pending-stage reconstruction runs BEFORE the watermark skip: a later
    // out-of-order publish on the same query can max-merge the watermark
    // past a batch whose own stage is still pending — the replay must still
    // surface that batch's REAL stats to a resuming audit gate, not the
    // zeroed skip shape.
    val pendingStage = stageAs.filter(id => table.stagedIds.contains(id))
    if (pendingStage.isDefined) {
      // replay of an already-staged batch: idempotent skip (the stage IS the
      // durable record until publish/drop) — with the batch's REAL stats
      // reconstructed from the staged snapshot's fresh lineage entry, so an
      // audit gate resuming after a crash sees the same numbers the first
      // attempt did. A pending stage under this id for a DIFFERENT batch is
      // a collision (e.g. a stale stage from an abandoned run reused with a
      // fresh checkpoint): skipping would silently drop THIS batch's data —
      // refuse loudly instead.
      val fresh = table.stagedSnapshot(pendingStage.get).lineage
        .filter(_.snapshotVersion < 0)
      val mine = fresh.find(e => e.queryId == queryId && e.batchId == batchId)
      if (mine.isEmpty)
        throw new IllegalStateException(
          s"WAP id '${pendingStage.get}' is already staged for " +
            s"${fresh.map(e => s"${e.queryId}#${e.batchId}").mkString(",")} — not query " +
            s"'$queryId' batch $batchId; drop the stale stage or choose a different id")
      val e = mine.get
      return ApplyStats(queryId, batchId, skipped = true, e.events, e.upserts,
        e.deletes, e.minLsn, e.maxLsn, snap0.version)
    }
    if (snap0.watermarks.get(queryId).exists(_ >= batchId))
      return ApplyStats(queryId, batchId, skipped = true, 0, 0, 0, -1, -1, snap0.version)
    if (stageAs.isEmpty) requireNoStagedGap(table, queryId, batchId)

    val ev = batch.drop("seg")

    val (mergedUser, evolved, schemaId, mergedFile) = evolveSchema(table, snap0, ev)

    val rows = toFileRows(alignUser(ev, mergedUser), mergedUser)

    val obs = org.apache.spark.sql.Observation(s"cdc-raw-$queryId-$batchId")
    val observed = rows.observe(obs,
      count(lit(1)).as("events"),
      sum(when(col("_deleted"), 1L).otherwise(0L)).as("deletes"),
      min(col("_lsn")).as("minLsn"), max(col("_lsn")).as("maxLsn"))

    val newFiles = phase("write-job") { table.writeDataFilesSpanning(observed, schemaId) }
    val m = phase("obs-get") { obs.get }
    // an empty LOCAL batch (in-memory relation, zero rows) executes no
    // observed plan, so the metrics map can be EMPTY — treat as 0 events
    val events = m.getOrElse("events", 0L).asInstanceOf[Long]
    if (events == 0L) {
      if (stageAs.isDefined) // nothing to audit; leave the watermark for replay
        return ApplyStats(queryId, batchId, skipped = false, 0, 0, 0, -1, -1, snap0.version)
      val s = table.commit(snap0.copy(
        watermarks = snap0.watermarks + (queryId -> batchId),
        lineage = snap0.lineage :+ LineageEntry(queryId, batchId, 0, 0, 0, -1, -1, -1)),
        appendedOnly = Some(Nil))
      return ApplyStats(queryId, batchId, skipped = false, 0, 0, 0, -1, -1, s.version)
    }
    val deletes = m("deletes").asInstanceOf[Long]
    val upserts = events - deletes
    val minLsn = m("minLsn").asInstanceOf[Long]
    val maxLsn = m("maxLsn").asInstanceOf[Long]

    val schemas =
      if (evolved) snap0.schemas + (schemaId.toString -> mergedFile.json) else snap0.schemas
    val next = snap0.copy(
      currentSchemaId = schemaId,
      schemas = schemas,
      files = snap0.files ++ newFiles,
      watermarks = snap0.watermarks + (queryId -> batchId),
      lineage = snap0.lineage :+
        LineageEntry(queryId, batchId, events, upserts, deletes, minLsn, maxLsn, -1),
      props = snap0.props + (LakeTable.NeedsResolveProp -> "true"))
    val committed = phase("commit") {
      stageAs.fold(table.commit(next, appendedOnly = Some(newFiles)))(
        id => table.stageCommit(next, id))
    }

    ApplyStats(queryId, batchId, skipped = false, events, upserts, deletes,
      minLsn, maxLsn, committed.version)
  }

  /** The user-table schema carried by a change envelope: url + payload. */
  private def userSchemaOf(envelope: StructType): StructType =
    StructType(envelope.fields.filterNot(f => NonPayload.contains(f.name)))

  /** Project `df` onto `user` columns (missing → null, types cast up). */
  private def alignUser(df: DataFrame, user: StructType): DataFrame = {
    val present = df.columns.toSet
    df.select((Seq(col("op"), col("lsn"), col("wal_part")) ++
      user.fields.map { f =>
        if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }).toIndexedSeq: _*)
  }
}
