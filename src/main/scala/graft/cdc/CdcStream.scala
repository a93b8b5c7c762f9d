package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.Schemas
import graft.lake.LakeTable

/** Structured-Streaming WAL tail → lake upsert.
  *
  * The WAL is a directory of parquet segment files (the sandbox Kafka
  * stand-in; on a cluster this swaps for `readStream.format("kafka")` with the
  * same `foreachBatch` body — reference analogue: `load_kafka offset=store`,
  * `plugins/kafka/builtins/plugin.cpp:85-112`). Source offsets live in the
  * Spark checkpoint; sink idempotence lives in the lake snapshot's batch-id
  * watermark — together they give exactly-once table state over an
  * at-least-once source, resumable from any checkpoint.
  */
object CdcStream {

  /** Change-envelope schema as written by the generator (seg = WAL segment). */
  val walSchema: StructType =
    StructType(Schemas.changeEvent.fields :+ StructField("seg", LongType, nullable = false))

  /** Start the CDC ingest query. `Trigger.AvailableNow` drains everything
    * currently in the WAL and stops — loop it (or use ProcessingTime) for a
    * continuous tail.
    *
    * @param maxFilesPerTrigger bounds micro-batch size (backpressure knob; the
    *        reference's demand window analogue, `execution_node.cpp:44-67`)
    * @param mode               the write-optimized `"l0"` (the default:
    *                           [[CdcApply.applyBatchAppendRaw]], raw append
    *                           as spanning L0 files — no bucket shuffle at
    *                           all, bucket placement deferred to compaction)
    *                           or the read-optimized `"dv"` (deletion-vector
    *                           merge: positional delete sidecars + winner
    *                           appends; [[CdcApply.applyBatchDv]], which
    *                           needs a compacted base)
    * @param autoCompactFilesPerBucket when k > 0, after a batch commit any
    *        bucket holding more than k files triggers a partial compaction
    *        (bounded read amplification for long MOR streams; reference
    *        analogue: auto-rebuild interval, `defaults.hpp:227`). It folds
    *        only each such bucket's smallest files, back down to k, and the
    *        whole bucket once those reach half its largest file; the L0
    *        group is flushed whole. Each run then writes less, but runs come
    *        more often (at k = 2 after every batch), and between full
    *        compactions a bucket holds k files and the base keeps its DV
    *        entries (see [[LakeTable.compact]])
    * @param expireKeepLast     when > 0, retain only this many snapshots after
    *        each compaction, deleting expired manifests and any data file no
    *        retained snapshot references (incl. crash orphans)
    * @param onBatch            test/metrics hook invoked after each batch:
    *        published batches report the PUBLISHED version; a rejected batch
    *        reports `quarantined = true` with its real counts
    * @param audit              AUDITED INGEST (write-audit-publish per
    *        micro-batch; append mode `l0` only, and requires
    *        `quarantineDir` — rejecting with no durable record would be
    *        silent data loss). Each batch lands as a STAGED commit under a
    *        run-scoped WAP id (`<queryId>-b<batch>-<checkpoint hash>`, so a
    *        stale stage from an abandoned run can never be mistaken for this
    *        run's batch), the predicate runs against the staged table state
    *        (`pages` over the staged snapshot — base plus only this batch's
    *        effect) plus the batch's real ApplyStats, and `true` publishes
    *        while `false` QUARANTINES: the raw batch is written to
    *        `quarantineDir/batch-<id>` (overwrite — replay-idempotent) for
    *        triage and the stage is dropped, excluding the batch from the
    *        table permanently (its watermark never advances, but later
    *        batches do — the deliberate gap IS the quarantine record's
    *        meaning). Crash-safe at every window: crash after stage → replay
    *        finds the stage pending and resumes at the audit with the SAME
    *        stats (reconstructed from the staged lineage); after publish →
    *        replay skips on the watermark; after drop → replay re-stages,
    *        re-audits, re-quarantines over the same dir.
    * @param quarantineDir      where rejected batches land, one parquet dir
    *        per batch id
    */
  def start(
      spark: SparkSession,
      walDir: String,
      table: LakeTable,
      checkpointDir: String,
      queryId: String = "cdc",
      maxFilesPerTrigger: Int = 8,
      createBuckets: Int = 64,
      mode: String = "l0",
      autoCompactFilesPerBucket: Int = 0,
      expireKeepLast: Int = 0,
      onBatch: ApplyStats => Unit = _ => (),
      audit: Option[(DataFrame, ApplyStats) => Boolean] = None,
      quarantineDir: Option[String] = None): StreamingQuery = {
    require(audit.isEmpty || mode == "l0",
      s"audited ingest requires the append mode l0, not '$mode'")
    require(audit.isEmpty || quarantineDir.isDefined,
      "audited ingest requires a quarantineDir — rejecting a batch with no durable record is silent data loss")
    // run-scoped WAP id: stable across RESUMES of this checkpoint (replay
    // finds its own pending stage), distinct across runs (a fresh checkpoint
    // restarts batch numbering — a stale stage must not alias the new
    // batch). The identity is a marker file INSIDE the checkpoint directory,
    // not a hash of its path: wiping the checkpoint mints a fresh tag (a
    // path hash would resurrect the wiped run's stale stages under fresh
    // batch numbering — silent adoption of old data), and two spellings of
    // one directory ('./ckpt' vs absolute) cannot fork the identity.
    lazy val runTag = runIdentity(spark, checkpointDir)
    def wapId(batchId: Long): String = s"$queryId-b$batchId-$runTag"
    val apply: (DataFrame, Long) => ApplyStats = mode match {
      case "dv" => (b, id) => CdcApply.applyBatchDv(table, b, queryId, id, createBuckets)
      case "l0" => (b, id) => CdcApply.applyBatchAppendRaw(table, b, queryId, id,
        createBuckets, stageAs = audit.map(_ => wapId(id)))
      case removed @ ("cow" | "mor" | "morraw") =>
        throw new IllegalArgumentException(s"CDC mode '$removed' was removed; use l0 or dv")
      case other => throw new IllegalArgumentException(s"unknown CDC mode '$other'")
    }
    spark.readStream
      .schema(walSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(walDir)
      .writeStream
      .queryName(queryId)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        var stats = apply(batch, batchId)
        audit.foreach { check =>
          val id = wapId(batchId)
          // run the gate whenever the stage is pending — including a replay
          // that skipped the (already-staged) apply after a crash mid-audit;
          // the skip path reconstructed the batch's real stats for `check`
          if (table.stagedIds.contains(id)) {
            if (table.stagedAlreadyPublished(id)) {
              // crash window between the publish commit and the staged-file
              // delete: the data is durably committed — clean up via the
              // idempotent publish, do NOT re-run the predicate (one that
              // consults external state could now "reject" committed data)
              val published = table.publishStaged(id)
              stats = stats.copy(skipped = false, version = published.version)
            } else if (check(table.pages(table.stagedSnapshot(id)), stats)) {
              val published = table.publishStaged(id)
              stats = stats.copy(skipped = false, version = published.version)
            } else {
              // quarantine record scoped like the WAP id: two streams (or a
              // re-started run with fresh batch numbering) sharing a
              // quarantineDir must not overwrite each other's un-triaged
              // rejects
              quarantineDir.foreach(q => batch.write.mode("overwrite")
                .parquet(s"$q/$id"))
              table.dropStaged(id)
              stats = stats.copy(quarantined = true)
            }
          }
        }
        onBatch(stats)
        if (autoCompactFilesPerBucket > 0) {
          // advisory check on the streaming hot path: the handle's cached
          // snapshot (the commit above just refreshed it) — not an
          // O(manifest-chain) re-read per batch
          val worst = table.lastKnownSnapshot
            .map(_.files.groupBy(_.bucket).values.map(_.size).maxOption.getOrElse(0))
            .getOrElse(0)
          if (worst > autoCompactFilesPerBucket) {
            table.compact(maxFilesPerBucket = autoCompactFilesPerBucket)
            if (expireKeepLast > 0) table.expireSnapshots(expireKeepLast)
          }
        }
        ()
      }
      .start()
  }

  /** Follow the table's committed versions as a CHANGE STREAM — the
    * downstream-consumption loop over [[LakeTable.changes]] (Delta CDF /
    * Iceberg incremental-read pattern): diff the consumer's cursor against
    * the current head, hand the changelog to `onChanges(df, from, to)`, and
    * return the advanced cursor (the head consumed). One poll per call
    * (AvailableNow-style; loop for a continuous follow). No-op — cursor
    * returned unchanged, `onChanges` not invoked — when the head hasn't
    * advanced.
    *
    * Exactly-once consumption: the cursor is the consumer's checkpoint.
    * `changes()` is a pure function of the two snapshots, so a crash before
    * the cursor persists re-delivers the IDENTICAL changelog and any
    * idempotent downstream sink reconverges — the same watermark discipline
    * as the ingest side, mirrored at the output.
    *
    * Retention interplay: `start`'s auto-maintenance runs
    * [[LakeTable.expireSnapshots]], which can delete the snapshot a lagging
    * cursor points at — `changes(cursor, head)` would then throw on EVERY
    * poll with no way out. Two defenses:
    *   - `pinTag`: after each delivery the consumed head is pinned under
    *     this tag (the lag protection: the next poll's diff base survives
    *     arbitrary lag), and the PREVIOUS base stays pinned under
    *     `<tag>.prev` until the next poll acks it (the crash protection: a
    *     consumer that dies between delivery and persisting cursor=head
    *     re-polls from the old cursor, which must still exist for the
    *     identical-redelivery contract to hold). Both exempt from expiry
    *     (Iceberg ref-retention); at most two versions pinned per
    *     follower.
    *   - if the cursor version is gone anyway (an unpinned consumer
    *     outlagged retention), the poll degrades to a RE-BOOTSTRAP: the full
    *     live state at head is delivered as inserts
    *     ([[LakeTable.changesBootstrap]]) with `from = -1` so the consumer
    *     can tell — it must REPLACE its replica (truncate-and-load), not
    *     merge: a full state as inserts cannot express deletions that
    *     happened beyond retention. cursor = 0 (fresh consumer, version 0
    *     expired) takes the same path.
    */
  def followChanges(table: LakeTable, cursor: Long,
      pinTag: Option[String] = None, withPreimages: Boolean = false)
      (onChanges: (DataFrame, Long, Long) => Unit): Long = {
    // head probe via the directory listing — no O(manifest-chain) snapshot
    // fold per poll for the common nothing-advanced case
    val head = table.headVersion.getOrElse(cursor)
    if (head <= cursor) return cursor
    val exists = table.versionExists(cursor)
    // TOCTOU defense: an UNPINNED cursor can be expired by concurrent
    // auto-maintenance BETWEEN the versionExists probe and the diff's reads
    // (the pins protect every later poll; the first poll has none). The
    // retention contract's answer to an outlagged cursor is the bootstrap
    // degrade — apply it to the race the same way, instead of letting the
    // poll (and a daemon follower thread) die on FileNotFound.
    // The changelog DataFrame is LAZY — errors surface inside the consumer's
    // onChanges, so the catch wraps consumer code too. isMissingData is a
    // message heuristic ("does not exist" is a common substring in ordinary
    // analysis/path errors from the consumer's own sink), so before
    // degrading, RE-PROBE the cursor: only when its version is actually gone
    // is this the expiry race — anything else is the consumer's own failure
    // and must propagate, not be papered over with a second (bootstrap)
    // delivery on top of a partial side-effecting first one. The bootstrap
    // redelivery itself is safe only because from = -1 means
    // RESET-AND-REPLACE (see above): a consumer honoring that contract
    // discards whatever the failed partial delivery wrote.
    val delivered =
      try {
        if (exists) { onChanges(table.changes(cursor, head, withPreimages), cursor, head); true }
        else { onChanges(table.changesBootstrap(head), -1L, head); false }
      } catch {
        case e: Throwable if exists && isMissingData(e) && !table.versionExists(cursor) =>
          onChanges(table.changesBootstrap(head), -1L, head)
          false
      }
    // Two pins, because two versions need protection: `head` for the LAG
    // window (the next poll's diff base once the consumer persists
    // cursor=head), and the OLD cursor for the CRASH window — the consumer
    // may die between this return and persisting its cursor, and the
    // identical-redelivery contract requires the version it will re-poll
    // from to still exist. Pinning only head (the old behavior) un-pinned
    // exactly that version. `<tag>.prev` advances to the new base on the
    // NEXT poll — polling from a version is the ack that it was persisted.
    // One atomic tags-file write covers both pins — no crash window
    // between them.
    pinTag.foreach { t =>
      table.tagAll(Map(s"$t.prev" -> (if (delivered) cursor else head), t -> head))
    }
    head
  }

  /** The WAP run identity: a marker file INSIDE the checkpoint directory,
    * minted on first start, re-read on resume. Lives and dies with the
    * checkpoint — wiping the directory (fresh batch numbering) mints a new
    * identity, so a wiped run's abandoned stages can never alias the new
    * run's batches. Concurrent first-starts race on the rename; the loser
    * re-reads the winner's id. A blank marker (what an older
    * create-then-write claim left after a crash) is replaced by a fresh
    * claim.
    */
  private def runIdentity(spark: SparkSession, checkpointDir: String): String = {
    val dir = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(dir, "graft-run-id")
    // a blank marker is ABSENT, not an identity: adopting "" permanently
    // would collapse every later resume onto one tag and defeat the
    // stale-stage aliasing defense the marker exists for — it is deleted
    // and claimed afresh below
    def read(): Option[String] = {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
      Option(s).filter(_.nonEmpty)
    }
    val existing = if (fs.exists(p)) read() else None
    existing.getOrElse {
      // tmp-then-rename, same protocol as the lake's claimByRename: content
      // is durable before the claim, so a crash can leave only an inert tmp
      // (or nothing) — never a created-but-empty marker that every later
      // resume would adopt as runTag ""
      fs.mkdirs(dir)
      if (fs.exists(p) && read().isEmpty) fs.delete(p, false)
      val id = java.util.UUID.randomUUID().toString.take(8)
      val tmp = new org.apache.hadoop.fs.Path(dir, s"graft-run-id.tmp-$id")
      val out = fs.create(tmp, true)
      try out.write(id.getBytes("UTF-8")) finally out.close()
      if (fs.exists(p) || !fs.rename(tmp, p)) {
        // lost a concurrent first-start race — adopt the winner's id
        fs.delete(tmp, false)
        read().getOrElse(throw new IllegalStateException(
          s"run-id marker at $p exists but is blank after a lost claim race"))
      } else id
    }
  }

  /** Whether a failure's cause chain is a missing-snapshot/data-file read —
    * the signature of an expiry racing an unpinned diff.
    */
  private def isMissingData(e: Throwable): Boolean = {
    var t = e
    var depth = 0
    while (t != null && depth < 10) {
      t match {
        case _: java.io.FileNotFoundException => return true
        case _ =>
          val m = Option(t.getMessage).getOrElse("")
          if (m.contains("PATH_NOT_FOUND") || m.contains("does not exist")) return true
      }
      t = t.getCause
      depth += 1
    }
    false
  }

  /** Drain the WAL completely and return the number of COMMITTED batches —
    * watermark-skipped replays don't count (a resume after a crash between
    * lake commit and checkpoint write replays a batch as a skip), and
    * neither do quarantined batches (rejected, never published). Atomic:
    * the count is written on the micro-batch thread and read after
    * awaitTermination.
    */
  def runToCompletion(
      spark: SparkSession,
      walDir: String,
      table: LakeTable,
      checkpointDir: String,
      queryId: String = "cdc",
      maxFilesPerTrigger: Int = 8,
      createBuckets: Int = 64): Long = {
    val batches = new java.util.concurrent.atomic.AtomicLong
    val q = start(spark, walDir, table, checkpointDir, queryId, maxFilesPerTrigger,
      createBuckets, onBatch = st => { if (!st.skipped && !st.quarantined) batches.incrementAndGet(); () })
    q.awaitTermination()
    batches.get()
  }
}
