package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameWriter, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

import graft.core.Schemas

/** A from-scratch Iceberg-style table: Parquet data files hash-bucketed by
  * `xxhash64(url)`, plus a JSON manifest log with per-file column stats and an
  * atomic version-file commit protocol.
  *
  * Layout:
  * {{{
  *   <root>/manifests/v%012d.json   // one immutable snapshot per version
  *   <root>/data/<uuid>/_bucket=<n>/part-*.parquet
  * }}}
  *
  * Commit = serialize the snapshot COMPLETELY to a tmp file, then claim the
  * next version by `rename` — atomic and refusing an existing destination on
  * HDFS-like filesystems; on local filesystems the per-root JVM mutex plus an
  * exists probe cover in-process racers. A concurrent writer loses the claim
  * (ConcurrentModificationException) and must re-read and re-plan
  * (single-streaming-writer is the supported mode; the claim just makes
  * corruption impossible, and a crash mid-serialization leaves only an inert
  * tmp, never a truncated head version).
  *
  * Reference analogues: partition/catalog write path
  * (`/root/reference/libtenzir/src/importer.cpp:35-106`,
  * `src/catalog.cpp:98-106`), pruning read path (`src/catalog.cpp:120-171`),
  * `rebuild` compaction (`libtenzir/builtins/commands/rebuild.cpp:45-77`).
  */
class LakeTable(val spark: SparkSession, val root: String,
    val lineageRetention: Int = LakeTable.LineageRetention) {

  private val conf = spark.sessionState.newHadoopConf()
  private def fs: FileSystem = new Path(root).getFileSystem(conf)
  private val manifestDir = new Path(root, "manifests")
  private val dataDir = new Path(root, "data")
  private val lineageDir = new Path(root, "lineage")

  def exists: Boolean = fs.exists(manifestDir) && latestVersion.isDefined

  // ---------------------------------------------------------------- manifests

  private def versionPath(v: Long) = new Path(manifestDir, f"v$v%012d.json")

  private def latestVersion: Option[Long] =
    if (!fs.exists(manifestDir)) None
    else {
      val vs = fs.listStatus(manifestDir).map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
      if (vs.isEmpty) None else Some(vs.max)
    }

  def currentSnapshot: Option[Snapshot] = latestVersion.map(snapshotAt)

  private def readString(p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
  }

  /** Serialize-completely-then-claim-by-rename, the ONE publish protocol for
    * version files and staged commits: content is durable before the claim
    * (a crash leaves an inert tmp, never a truncated destination), and the
    * rename is the atomic claim on HDFS-like stores (it refuses an existing
    * destination); on local filesystems (overwriting POSIX rename) the
    * exists probe under the caller-held per-root mutex covers in-process
    * racers. Calls `onLoss` (then throws its result) if the destination
    * exists or the rename fails.
    */
  private def claimByRename(tmp: Path, dst: Path, bytes: Array[Byte],
      onLoss: => Exception): Unit = {
    val out = fs.create(tmp, true)
    try out.write(bytes)
    finally out.close()
    if (fs.exists(dst) || !fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw onLoss
    }
  }

  /** LWW-resolve only when the snapshot can hold multi-version rows — the
    * single definition of the conditional every read path shares. */
  private def resolveIfNeeded(snap: Snapshot, df: DataFrame): DataFrame =
    if (needsResolve(snap)) resolve(df) else df

  // -------------------------------------------------------------------- tags

  private val tagsPath = new Path(root, "tags.tsv")

  /** Named snapshot refs (Iceberg tags): name → pinned version. Tagged
    * versions are exempt from [[expireSnapshots]], so a tag is a durable
    * time-travel anchor ("the corpus train-set cut", "pre-migration").
    *
    * Crash recovery: the update protocol (write tmp → delete live → rename)
    * has a window where only the tmp exists; losing the tag set there would
    * void the retention exemption and let expireSnapshots collect pinned
    * snapshots. The reader closes the window by falling back to the newest
    * tmp when the live file is absent (single-writer, like [[commit]]).
    */
  def tags: Map[String, Long] = {
    val live =
      if (fs.exists(tagsPath)) Some(tagsPath)
      else Option(fs.globStatus(new Path(root, "tags.tsv.tmp-*")))
        .getOrElse(Array.empty).sortBy(_.getModificationTime)
        .lastOption.map(_.getPath)
    live match {
      case None => Map.empty
      case Some(p) => readString(p).split("\n").filter(_.nonEmpty).map { l =>
        val Array(n, v) = l.split("\t", 2); n -> v.toLong
      }.toMap
    }
  }

  private def writeTags(m: Map[String, Long]): Unit = {
    val tmp = new Path(root, s"tags.tsv.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(m.toSeq.sortBy(_._1)
      .map { case (n, v) => s"$n\t$v" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(tagsPath)) fs.delete(tagsPath, false)
    if (!fs.rename(tmp, tagsPath))
      throw new java.io.IOException(s"tag update failed: rename $tmp -> $tagsPath")
    // success: sweep tmps orphaned by earlier crashes (they are strictly
    // older than the state just installed; single-writer protocol)
    Option(fs.globStatus(new Path(root, "tags.tsv.tmp-*")))
      .getOrElse(Array.empty).foreach(s => fs.delete(s.getPath, false))
  }

  /** Pin `name` to `version` (must be a live snapshot). Overwrites an
    * existing tag of the same name. */
  def tag(name: String, version: Long): Unit = tagAll(Map(name -> version))

  /** Pin several tags in ONE read-modify-write of the tags file — atomic
    * for the group (a follower pinning its lag + crash pins per poll pays
    * one tags-file rewrite, and no crash window exists between its pins).
    */
  def tagAll(pins: Map[String, Long]): Unit =
    LakeTable.commitMutex(root).synchronized {
      // read-modify-write under the per-root mutex: two in-process taggers
      // (e.g. two followers pinning cursors) must not drop each other's pins
      pins.foreach { case (name, version) =>
        require(name.matches("[A-Za-z0-9._-]+"), s"invalid tag name '$name'")
        require(fs.exists(versionPath(version)), s"no snapshot v$version to tag")
      }
      writeTags(tags ++ pins)
    }

  /** The head version — a directory listing, NO manifest-chain fold: the
    * cheap has-the-table-advanced probe for polling followers.
    */
  def headVersion: Option[Long] = latestVersion

  /** The last snapshot THIS handle committed or read (O(1)) — falls back to
    * a real read. May be stale if another process advanced the table; right
    * for advisory checks (the auto-compaction trigger) that re-run next
    * batch anyway, wrong for correctness decisions.
    */
  def lastKnownSnapshot: Option[Snapshot] = cachedSnap.orElse(currentSnapshot)

  def dropTag(name: String): Unit =
    LakeTable.commitMutex(root).synchronized { writeTags(tags - name) }

  /** Whether `version`'s snapshot is still live (not expired by
    * [[expireSnapshots]]) — consumers holding version cursors
    * ([[graft.cdc.CdcStream.followChanges]]) probe this before diffing. */
  def versionExists(version: Long): Boolean = fs.exists(versionPath(version))

  /** Snapshot a tag points at. */
  def snapshotAtTag(name: String): Snapshot =
    snapshotAt(tags.getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name'")))

  def snapshotAt(version: Long): Snapshot = {
    val base = ManifestCodec.fromJson(readString(versionPath(version)))
    // Resolve the file list by folding the snapshot's manifest chain
    // (oldest→newest); the snapshot JSON itself carries no file entries.
    val byPath = scala.collection.mutable.LinkedHashMap.empty[String, DataFile]
    base.manifests.foreach { name =>
      val d = readDelta(name)
      d.removedPaths.foreach(byPath.remove)
      d.added.foreach(f => byPath(f.path) = f)
    }
    base.copy(files = byPath.values.toSeq)
  }

  /** Last snapshot committed or read through this instance — saves the
    * parent-manifest re-read on the streaming hot path (one instance per
    * query); plain correctness fallback is `snapshotAt`.
    */
  @volatile private var cachedSnap: Option[Snapshot] = None

  /** Atomically publish `snap` as the next version. Returns the committed
    * snapshot (with its final version number).
    *
    * The file list is persisted as a manifest *delta* (files this commit
    * added/removed vs the parent) — O(batch), not O(table), per commit; every
    * [[LakeTable.ManifestConsolidateEvery]] commits the delta chain is folded
    * into a bucketed part and an L0 part, bounding snapshot-read fan-in.
    * This is Iceberg's manifest-list design; the reference's analogue is the
    * catalog registering one immutable partition synopsis per partition
    * (`src/catalog.cpp:98-106`) rather than rewriting a global file index.
    */
  def commit(snap: Snapshot): Snapshot = commit(snap, None)

  /** CONTRACT: [[DataFile]] entries are immutable per path — a commit may
    * ADD new paths and REMOVE old ones, never mutate an existing entry's
    * stats in place. The delta chain diffs by path (an in-place stat change
    * produces an empty delta and is silently dropped), and consolidation
    * carries the bucketed part over by name on the grounds that a window
    * which removed no file and added no bucketed file left every bucketed
    * entry as it was. Rewrites (compaction, rebucket) honor this by writing
    * new files under new paths.
    *
    * Commit with an append-only hint: `appendedOnly = Some(newFiles)` asserts
    * this commit ADDED exactly those files and removed none, skipping the
    * O(table) file-list diff — at 10^6 manifest entries that diff costs
    * ~1.7 s PER COMMIT (BASELINE.md, "Round 4: the metadata path at 10^6
    * files"), which would dominate every streaming micro-batch; the hinted
    * path is O(batch). Guarded by an O(1) size check; the unhinted path
    * stays for compaction/expiry (rare, remove files, genuinely need the
    * diff).
    */
  def commit(snap: Snapshot, appendedOnly: Option[Seq[DataFile]]): Snapshot =
      LakeTable.commitMutex(root).synchronized {
    // The JVM-level per-root mutex covers SAME-PROCESS writers (two threads /
    // two LakeTable handles): local filesystems emulate
    // `create(overwrite=false)` with a non-atomic exists+create, so without
    // it two in-process racers could both "win" v+1. Cross-process safety
    // stays the filesystem's atomic-create claim (HDFS-like stores) — the
    // same split Iceberg's HadoopTableOperations makes.
    fs.mkdirs(manifestDir)
    val parentV = latestVersion
    // Optimistic concurrency (the Iceberg commit model): the caller passes
    // the snapshot it BASED its changes on; if the table advanced since, the
    // commit would silently drop the other writer's files when diffing the
    // file lists — refuse instead, so the caller re-reads and reapplies.
    // (The single-writer stream never trips this; it protects multi-writer
    // misuse and concurrent maintenance.)
    if (snap.version != parentV.getOrElse(-1L))
      throw new java.util.ConcurrentModificationException(
        s"stale base snapshot v${snap.version}: table is at v${parentV.getOrElse(-1L)} — re-read and retry")
    val v = parentV.getOrElse(-1L) + 1
    val parent = parentV.map(pv =>
      cachedSnap.filter(_.version == pv).getOrElse(snapshotAt(pv)))
    val oldFiles = parent.map(_.files).getOrElse(Nil)
    val oldManifests = parent.map(_.manifests).getOrElse(Nil)
    val (added, removed) = appendedOnly match {
      case Some(a) =>
        require(oldFiles.size + a.size == snap.files.size,
          s"appendedOnly hint inconsistent: parent ${oldFiles.size} + hint ${a.size} " +
            s"!= snapshot ${snap.files.size} files")
        (a, Nil: Seq[String])
      case None =>
        val newPaths = snap.files.map(_.path).toSet
        val oldPaths = oldFiles.map(_.path).toSet
        (snap.files.filterNot(f => oldPaths.contains(f.path)),
          oldFiles.map(_.path).filterNot(newPaths.contains))
    }
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    // consolidation counts only the trailing DELTAS — the parts of the last
    // consolidation are the folded base, not chain growth
    val deltaCount = oldManifests.count(n => !LakeTable.isConsolidatedPart(n))
    val manifests =
      if (added.isEmpty && removed.isEmpty) oldManifests
      else if (deltaCount + 1 >= consolidateEvery)
        consolidate(v, nonce, snap.files, oldManifests, added, removed)
      else
        oldManifests :+ writeDelta(f"m-v$v%012d-$nonce%s.json", ManifestDelta(added, removed))
    val resolved = snap.copy(
      version = v,
      parentVersion = parentV.getOrElse(-1L),
      manifests = manifests,
      lineage = snap.lineage.takeRight(lineageRetention)
        .map(le => if (le.snapshotVersion < 0) le.copy(snapshotVersion = v) else le))
    // Publish protocol: serialize COMPLETELY to a tmp file, then claim the
    // version by RENAME — a crash or write error mid-serialization leaves
    // only an inert tmp (swept by expireSnapshots), never a truncated head
    // version file that would brick every subsequent read and commit. The
    // rename is the atomic cross-process claim on HDFS-like stores (rename
    // refuses an existing destination); on local filesystems (overwriting
    // POSIX rename) the exists probe + the per-root JVM mutex cover
    // same-process racers — the same split as the mutex comment above.
    claimByRename(new Path(manifestDir, f"v$v%012d.json.tmp-$nonce%s"),
      versionPath(v), ManifestCodec.toJson(resolved.copy(files = Nil)).getBytes("UTF-8"),
      new java.util.ConcurrentModificationException(s"lost commit race for v$v"))
    cachedSnap = Some(resolved)
    // Durable full-history lineage: one immutable delta file per commit with
    // the entries this commit added (those resolved to version v) — O(1) per
    // commit regardless of table age, survives both the in-snapshot tail
    // trim (lineageRetention) and expireSnapshots manifest deletion.
    val fresh = resolved.lineage.filter(_.snapshotVersion == v)
    if (fresh.nonEmpty) {
      fs.mkdirs(lineageDir)
      val lo = fs.create(new Path(lineageDir, f"v$v%012d.jsonl"), true)
      try lo.write(fresh.map(ManifestCodec.lineageToJson)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally lo.close()
    }
    resolved
  }

  /** Write one immutable manifest file (a delta or a consolidated part).
    * Names carry the committing version plus a random nonce, so two
    * cross-process racers from the same base can never write the same path
    * — the loser's file would otherwise replace the winner's AFTER the
    * winner's version file already referenced it (silent file-list
    * corruption); losers just leave an unreferenced file for the manifest
    * GC, as does a crash before the version claim.
    */
  private def writeDelta(name: String, d: ManifestDelta): String = {
    val out = fs.create(new Path(manifestDir, name), false)
    try ManifestCodec.writeDelta(out, d)
    finally out.close()
    name
  }

  private def readDelta(name: String): ManifestDelta = {
    val in = fs.open(new Path(manifestDir, name))
    try ManifestCodec.readDelta(in)
    finally in.close()
  }

  /** Fold the delta chain into at most two parts, written like deltas under
    * version `v`'s name: a bucketed part (bucket ≥ 0) and an L0 part
    * (bucket −1). The previous bucketed part is carried over by name when
    * no commit since the last consolidation, this one included, removed a
    * file or added a bucketed file — its entries are then exactly the
    * bucketed files of `allFiles`. An append-only L0 window (the streaming
    * `l0` shape) therefore rewrites only the L0 part: O(L0) I/O, not
    * O(table). Any other window rewrites both parts from the full list.
    */
  private def consolidate(v: Long, nonce: String, allFiles: Seq[DataFile],
      oldManifests: Seq[String], added: Seq[DataFile],
      removed: Seq[String]): Seq[String] = {
    def touchesBuckets(d: ManifestDelta): Boolean =
      d.removedPaths.nonEmpty || d.added.exists(_.bucket >= 0)
    val (parts, deltas) = oldManifests.partition(LakeTable.isConsolidatedPart)
    val carry = !touchesBuckets(ManifestDelta(added, removed)) &&
      !deltas.exists(n => touchesBuckets(readDelta(n)))
    def part(kind: String, files: Seq[DataFile]): Seq[String] =
      if (files.isEmpty) Nil
      else Seq(writeDelta(f"m-v$v%012d-$kind-$nonce%s.json", ManifestDelta(files, Nil)))
    val bucketedPart =
      if (carry) parts.filter(LakeTable.isBucketedPart)
      else part(LakeTable.BucketedPart, allFiles.filter(_.bucket >= 0))
    bucketedPart ++ part(LakeTable.L0Part, allFiles.filter(_.bucket < 0))
  }

  /** Full per-batch lineage history from the append-only commit log (oldest
    * first) — unlike `currentSnapshot.lineage` this is not trimmed to the
    * retention tail and is not lost when `expireSnapshots` deletes old
    * manifest versions. Driver-side: one small file per commit.
    *
    * Durability note: the log file is appended AFTER the version claim, so a
    * hard kill in that window omits (never duplicates or invents) that one
    * commit's entries — the atomic record is the lineage tail inside the
    * claimed snapshot JSON itself; consumers needing a gap-free recent
    * history read the snapshot tail, this log serves the long tail
    * (ChaosKillSpec exercises exactly this split under real SIGKILL).
    */
  def lineageLog: Seq[LineageEntry] =
    if (!fs.exists(lineageDir)) Nil
    else fs.listStatus(lineageDir).map(_.getPath).sortBy(_.getName).toSeq.flatMap { p =>
      readString(p).split('\n').filter(_.nonEmpty)
        .map(ManifestCodec.lineageFromJson).toSeq
    }

  def create(userSchema: StructType, buckets: Int): Snapshot = {
    require(!exists, s"table already exists at $root")
    commit(Snapshot(
      version = -1L, parentVersion = -1L, // base: "no table yet" → commits as v0
      currentSchemaId = 0,
      schemas = Map("0" -> LakeTable.fileSchema(userSchema).json),
      buckets = buckets,
      files = Nil, watermarks = Map.empty, lineage = Nil,
      props = Map("format" -> "graft-lake/1")))
  }

  // -------------------------------------------------------------------- reads

  /** Read raw file rows (system columns included) for the given files, aligning
    * every file group to `target` (missing columns → null, narrower numerics
    * cast up) — our schema-evolution read path (reference widening analogue:
    * `libtenzir/include/tenzir/cast.hpp:30-140`).
    */
  def readFiles(snap: Snapshot, files: Seq[DataFile], target: StructType): DataFrame = {
    if (files.isEmpty) return emptyDf(target)
    val masked = snap.dvFiles.nonEmpty
    val parts = files.groupBy(_.schemaId).map { case (sid, group) =>
      val fileSchema = DataType.fromJson(snap.schemaJson(sid)).asInstanceOf[StructType]
      val scan = spark.read.schema(fileSchema).parquet(group.map(_.path): _*)
      // the mask is applied ONCE over the schema-group union below — masking
      // per group would build one anti-join (and one DV broadcast) per
      // schema id of the same sidecar set
      if (!masked) align(scan, target)
      else align(scan.select(col("*"),
          col("_metadata.file_path").as(LakeTable.DvPathCol),
          col("_metadata.row_index").as(LakeTable.DvPosCol)),
        target,
        extra = Seq(col(LakeTable.DvPathCol), col(LakeTable.DvPosCol)))
    }.reduce(_.unionByName(_))
    if (masked) maskTagged(snap, parts).drop(LakeTable.DvPathCol, LakeTable.DvPosCol)
    else parts
  }

  // ------------------------------------------------- deletion-vector masking

  /** Anti-join `tagged` (must carry the DV path/pos columns) against the
    * snapshot's delete vectors — the Iceberg-v2 delete-vector read. The DV
    * side broadcasts below [[LakeTable.DvBroadcastLimit]] rows (known from
    * sidecar footers — no count job), so the big scan side is filtered by a
    * broadcast hash anti-join with NO shuffle — the whole point of the DV
    * read path vs the merge-on-read resolve (a full url-keyed exchange).
    * Above the limit it degrades to a shuffled anti-join; compaction keeps
    * the DV small. No-op when the snapshot has none. */
  private def maskTagged(snap: Snapshot, tagged: DataFrame): DataFrame =
    if (snap.dvFiles.isEmpty) tagged
    else {
      val dv = dvEntries(snap)
      val side =
        if (snap.dvFiles.map(_.rows).sum <= dvBroadcastLimit) broadcast(dv)
        else dv
      tagged.join(side, Seq(LakeTable.DvPathCol, LakeTable.DvPosCol), "left_anti")
    }

  private def dvEntries(snap: Snapshot): DataFrame =
    spark.read.schema(LakeTable.dvSchema).parquet(snap.dvFiles.map(_.path): _*)

  /** Column-pruned masked identity read for the deletion-vector apply: the
    * current committed row of each url in `files` as
    * `(url, _lsn, _wal_part, _dv_path, _dv_pos)` — the LWW key plus the
    * row's physical position, NEVER the payload bytes. On a single-version
    * base (the DV-mode invariant) this is at most one row per url.
    */
  def readFilesSlim(snap: Snapshot, files: Seq[DataFile]): DataFrame = {
    val slim = StructType(Seq(
      StructField("url", StringType, nullable = false),
      StructField("_lsn", LongType, nullable = false),
      StructField("_wal_part", IntegerType, nullable = false)))
    val out = StructType(slim.fields ++ Seq(
      StructField(LakeTable.DvPathCol, StringType, nullable = false),
      StructField(LakeTable.DvPosCol, LongType, nullable = false)))
    if (files.isEmpty) return emptyDf(out)
    // one scan across schema groups: the three requested columns are system
    // columns present with fixed types in every file schema
    val tagged = spark.read.schema(slim).parquet(files.map(_.path): _*)
      .select(col("url"), col("_lsn"), col("_wal_part"),
        col("_metadata.file_path").as(LakeTable.DvPathCol),
        col("_metadata.row_index").as(LakeTable.DvPosCol))
    maskTagged(snap, tagged)
  }

  /** Write a batch of positional deletes (`_dv_path`, `_dv_pos`) as a DV
    * sidecar commit dir under `data/`; returns the sidecar entries (empty if
    * the batch deleted nothing — no empty sidecars accumulate). Content is
    * deterministic: hash-partitioned by file path, sorted within partitions.
    */
  def writeDvFiles(deletes: DataFrame, nTasks: Int = 4): Seq[DvFile] = {
    val dir = new Path(dataDir, java.util.UUID.randomUUID().toString + "-dv")
    val placed = deletes
      .repartition(math.max(1, nTasks), col(LakeTable.DvPathCol))
      .sortWithinPartitions(col(LakeTable.DvPathCol), col(LakeTable.DvPosCol))
    graft.cdc.CdcApply.phase("dv-write") {
      tiered(placed.write, compacted = false).parquet(dir.toString)
    }
    val options = HadoopReadOptions.builder(conf).build()
    val entries = fs.listStatus(dir)
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
      .map(f => DvFile(f.getPath.toString,
        LakeTable.footerStats(f, conf, options, Nil)._1))
      .filter(_.rows > 0)
    if (entries.isEmpty) { fs.delete(dir, true); Nil } else entries
  }

  /** Drop DV entries pointing at data files a partial compaction rewrote
    * (their rows are physically gone) and rewrite the survivors as ONE fresh
    * consolidated sidecar — the mask a long-running stream reads stays
    * O(still-masked rows), not O(every delete ever). Sidecar entries carry
    * Spark's `_metadata.file_path`, the percent-encoded URI of the file,
    * while DataFile paths are decoded Hadoop `Path.toString`s, so each live
    * path is compared in its URI form.
    */
  private def consolidateDvs(snap: Snapshot, live: Seq[DataFile]): Seq[DvFile] = {
    val livePaths = live.map(f => new Path(f.path).toUri.toString)
    val liveDf = spark.createDataFrame(
      livePaths.map(org.apache.spark.sql.Row(_)).asJava,
      StructType(Seq(StructField("_live_path", StringType, nullable = false))))
    val kept = dvEntries(snap).join(broadcast(liveDf),
      col(LakeTable.DvPathCol) === col("_live_path"), "left_semi")
    writeDvFiles(kept)
  }

  private def align(df: DataFrame, target: StructType,
      extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val present = df.columns.toSet
    df.select((target.fields.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq ++ extra): _*)
  }

  private def emptyDf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def currentFileSchema(snap: Snapshot): StructType =
    DataType.fromJson(snap.currentSchemaJson).asInstanceOf[StructType]

  /** Full raw scan at a snapshot (tombstones + system columns included). */
  def scanRaw(snap: Snapshot): DataFrame =
    readFiles(snap, snap.files, currentFileSchema(snap))

  /** LWW-resolve multi-version rows across files: keep the row with the
    * highest `(_lsn, _wal_part)` per url. A no-op semantically for dv- or
    * compaction-maintained tables (≤1 version per url); required for
    * merge-on-read delta files. `max_by` partial-aggregates map-side, so the
    * resolve is one shuffle on url — the MOR read amplification, amortized by
    * compaction.
    */
  def resolve(raw: DataFrame): DataFrame = {
    // One exchange, map-side-combined wide aggregate. A "slim" alternative
    // (max(struct(_lsn,_wal_part)) + url-keyed self-join + dropDuplicates)
    // was measured 5x SLOWER under matched conditions (326 s vs 64 s for an
    // 8.3M-row fold at 16 cores): the join sort-merge-sorts the full html
    // rows and the final dedup holds full rows per key anyway, so it pays
    // the wide-state cost twice plus a sort. The wide max_by holds one row
    // per key and ships partial winners through a single exchange.
    val cols = raw.columns
    raw.groupBy(col("url"))
      .agg(max_by(struct(cols.map(col).toIndexedSeq: _*),
        struct(col("_lsn"), col("_wal_part"))).as("w"))
      .select(col("w.*"))
  }

  /** True when the snapshot may hold more than one version of a url (any
    * merge-on-read append since the last full compaction). Cleared by
    * [[compact]]; dv applies never set it, so dv-maintained tables skip the
    * whole-table resolve shuffle and stay pure (masked) scans.
    *
    * Invariant (maintained by every writer in this codebase): the prop is
    * ABSENT only when no MOR/L0 append has happened since table creation or
    * the last full compaction — both single-version states — so absent ⇒
    * pure scan is safe. Tables are never opened across incompatible writer
    * versions (the lake format is internal to this library).
    */
  def needsResolve(snap: Snapshot): Boolean =
    snap.props.get(LakeTable.NeedsResolveProp).contains("true")

  /** The user-facing page table at a snapshot: live rows, user columns only. */
  def pages(snap: Snapshot): DataFrame = {
    val sys = Schemas.systemColumns.map(_.name).toSet
    val raw = scanRaw(snap)
    val one = resolveIfNeeded(snap, raw)
    val live = one.filter(!col("_deleted"))
    live.select(live.columns.filterNot(sys.contains).map(col).toIndexedSeq: _*)
  }

  def pages(): DataFrame = pages(currentSnapshot.getOrElse(
    throw new IllegalStateException(s"no table at $root")))

  // ---------------------------------------------------------- pruned planning

  /** Manifest-stat file pruning: keep files whose [min,max] ranges intersect
    * the predicate. Driver-side O(#files); no data IO (reference analogue:
    * catalog candidate lookup, `src/catalog.cpp:120-171`).
    */
  def planFiles(
      snap: Snapshot,
      buckets: Option[Set[Int]] = None,
      urlHash: Option[Long] = None,
      lsnAtLeast: Option[Long] = None): Seq[DataFile] =
    snap.files.filter { f =>
      // bucket -1 = L0 spanning file: member of every bucket by construction
      buckets.forall(bs => f.bucket < 0 || bs.contains(f.bucket)) &&
      urlHash.forall(h => h >= f.minUrlHash && h <= f.maxUrlHash) &&
      lsnAtLeast.forall(l => f.maxLsn >= l)
    }

  /** Point lookup for one url: bucket + urlhash-range pruning, then filter
    * and LWW-resolve (returns 0 rows if the latest version is a tombstone).
    */
  def lookupUrl(snap: Snapshot, url: String): DataFrame = {
    val h = LakeTable.urlHash(url)
    val b = LakeTable.bucketOf(h, snap.buckets)
    val files = planFiles(snap, buckets = Some(Set(b)), urlHash = Some(h))
    val hit = readFiles(snap, files, currentFileSchema(snap))
      .filter(col("url") === lit(url))
    resolveIfNeeded(snap, hit).filter(!col("_deleted"))
  }

  /** Snapshot-diff changelog — the downstream-consumption half of CDC (the
    * Iceberg incremental/changelog scan, Delta CDF analogue): one row per
    * url whose LIVE state differs between two committed versions, with
    * `change_type` ("insert" | "update" | "delete"), the user columns
    * (post-image for insert/update, pre-image for delete), and `lsn` — the
    * event that created the emitted state (for deletes, the tombstone's
    * lsn while it is still retained; after tombstone GC, the pre-image's).
    * A consumer that merges these rows into a copy of pages(fromVersion)
    * reconverges to pages(toVersion) exactly.
    *
    * Scale shape: candidate urls come only from files ADDED or REMOVED
    * between the versions, so untouched buckets are never scanned — both
    * sides read bucket-pruned file sets, restrict to candidates with a
    * semi join (broadcast when the change set is small), LWW-resolve, and
    * classify with one url-keyed join that reuses the resolve's hash
    * partitioning. A compaction inside the range adds+removes files whose
    * row winners carry identical (_lsn, _wal_part), so it emits nothing —
    * the changelog reflects committed DATA changes, not file layout.
    */
  def changes(fromVersion: Long, toVersion: Long): DataFrame =
    changes(fromVersion, toVersion, withPreimages = false)

  /** As [[changes]]; `withPreimages = true` switches updates to the Delta
    * CDF convention — TWO rows per updated url, `update_preimage` (the old
    * values, old lsn) and `update_postimage` (the new) — which is exactly
    * what downstream incremental view maintenance needs: every delta row
    * then carries a sign (insert/postimage +1, delete/preimage −1) and
    * keyed sums/counts telescope without rescanning the table
    * ([[graft.ops.MatView]]). Same single-join plan; the extra row is a
    * per-row explode, no extra shuffle.
    */
  def changes(fromVersion: Long, toVersion: Long,
      withPreimages: Boolean): DataFrame = {
    require(fromVersion <= toVersion,
      s"changes: fromVersion $fromVersion > toVersion $toVersion")
    val sFrom = snapshotAt(fromVersion)
    val sTo = snapshotAt(toVersion)
    val target = currentFileSchema(sTo) // evolution: both sides align to TO
    val sys = Schemas.systemColumns.map(_.name).toSet
    val userCols = target.fields.map(_.name)
      .filterNot(c => sys.contains(c) || c == "url").toSeq
    val outSchema = StructType(
      StructField("change_type", StringType, nullable = false) +:
        (target.fields.filter(f => f.name == "url" || userCols.contains(f.name))
          :+ StructField("lsn", LongType)))

    val fromPaths = sFrom.files.map(_.path).toSet
    val toPaths = sTo.files.map(_.path).toSet
    val added = sTo.files.filterNot(f => fromPaths.contains(f.path))
    val removed = sFrom.files.filterNot(f => toPaths.contains(f.path))
    if (added.isEmpty && removed.isEmpty) return emptyDf(outSchema)

    // bucket pruning: only buckets that gained or lost a file can differ
    // (bucket -1 = L0 spanning file → every bucket is a candidate)
    val touched = (added ++ removed).map(_.bucket).toSet
    val bucketsOpt = if (touched.contains(-1)) None else Some(touched)
    // NOT cached: a persist here would pin an InMemoryRelation in the
    // CacheManager with no caller-visible release (a long-running follower
    // polling changes() would leak one per poll). Both sides semi-join
    // against this plan, so the delta-file url read runs at most twice —
    // column-pruned to `url` over only the range's added/removed files, the
    // small side of the diff by construction (and the semi-join hash build
    // dedups, so no distinct shuffle is needed at all).
    val cand = readFiles(sTo, added, target).select("url")
      .unionByName(readFiles(sFrom, removed, target).select("url"))

    def side(snap: Snapshot, p: String): DataFrame = {
      val raw = readFiles(snap, planFiles(snap, buckets = bucketsOpt), target)
        .join(cand, Seq("url"), "left_semi")
      val one = resolveIfNeeded(snap, raw)
      one.select(col("url") +:
        (userCols ++ Seq("_deleted", "_lsn", "_wal_part"))
          .map(c => col(c).as(s"$p$c")): _*)
    }
    val j = side(sFrom, "pre_").join(side(sTo, "post_"), Seq("url"), "full_outer")

    val preLive = coalesce(!col("pre__deleted"), lit(false))
    val postLive = coalesce(!col("post__deleted"), lit(false))
    val sameWinner = col("pre__lsn") === col("post__lsn") &&
      col("pre__wal_part") === col("post__wal_part")
    val isDelete = preLive && !postLive
    val changed = (!preLive && postLive) || isDelete ||
      (preLive && postLive && !sameWinner)
    val base = j.filter(changed)
    if (!withPreimages)
      base.select(
        when(isDelete, lit("delete"))
          .when(!preLive, lit("insert"))
          .otherwise(lit("update")).as("change_type") +:
          col("url") +:
          userCols.map(c =>
            when(isDelete, col(s"pre_$c")).otherwise(col(s"post_$c")).as(c)) :+
          coalesce(col("post__lsn"), col("pre__lsn")).as("lsn"): _*)
    else {
      def cdcRow(tpe: String, side: String,
          lsn: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        struct(lit(tpe).as("change_type") +:
          userCols.map(c => col(s"${side}_$c").as(c)) :+ lsn.as("lsn"): _*)
      // delete rows keep the plain convention's lsn: the tombstone's while
      // retained (post side), the pre-image's after tombstone GC
      val delLsn = coalesce(col("post__lsn"), col("pre__lsn"))
      val rows = when(isDelete, array(cdcRow("delete", "pre", delLsn)))
        .when(!preLive, array(cdcRow("insert", "post", col("post__lsn"))))
        .otherwise(array(cdcRow("update_preimage", "pre", col("pre__lsn")),
          cdcRow("update_postimage", "post", col("post__lsn"))))
      base.select(col("url"), explode(rows).as("c"))
        .select(col("c.change_type") +: col("url") +:
          userCols.map(c => col(s"c.$c")) :+ col("c.lsn"): _*)
    }
  }

  /** Full live state at `toVersion` in the [[changes]] schema, every row
    * `change_type = "insert"` — the RE-BOOTSTRAP path for a consumer whose
    * cursor version was expired by retention (the Iceberg/Delta convention:
    * an incremental read from beyond the retention window degrades to a full
    * re-read). Merging these rows into ANY prior copy with an idempotent
    * url-keyed upsert reconverges it to `pages(toVersion)` exactly.
    */
  def changesBootstrap(toVersion: Long): DataFrame = {
    val sTo = snapshotAt(toVersion)
    val target = currentFileSchema(sTo)
    val sys = Schemas.systemColumns.map(_.name).toSet
    val userCols = target.fields.map(_.name)
      .filterNot(c => sys.contains(c) || c == "url").toSeq
    resolveIfNeeded(sTo, scanRaw(sTo)).filter(!col("_deleted"))
      .select(lit("insert").as("change_type") +: col("url") +:
        userCols.map(col) :+ col("_lsn").as("lsn"): _*)
  }

  // -------------------------------------------------------------------- write

  /** The one bucketed writer: LWW fold + bucket placement of `raw` (file-schema
    * shape, `_bucket` NOT included) in ONE exchange, written as per-bucket
    * data files; returns their DataFile entries with footer stats. Dv winner
    * appends and every compaction (a rebucket too) write through it.
    *
    * Rows are routed to bucket slots and each slot is sorted by
    * `(_bucket, _urlhash, url, _lsn desc, _wal_part desc)` — which makes the
    * per-url winner the FIRST row of its group AND is exactly the layout the
    * bucketed writer wants (deterministic file content for replay comparison,
    * urls clustered for scan locality) — then the O(1)-state [[KeyChange]]
    * streaming filter keeps first-per-url. `resolve` followed by a bucketed
    * write would pay TWO full-data exchanges (url hash-aggregate holding one
    * wide row per key, then the bucket-slot repartition) plus the same sort;
    * the fold's only wide state is the sorter's, which spills gracefully.
    * Same LWW semantics: one winner per url by max `(_lsn, _wal_part)`. On
    * single-version input (dv winners, a dv table's compaction) the filter
    * keeps every row. One output file per touched bucket unless
    * `maxRecordsPerFile` splits it.
    *
    * `gcTombstonesBelowLsn` drops tombstone WINNERS below the watermark —
    * applied after the winner filter, in resolve-then-filter order (an
    * ordinary deterministic filter; Catalyst keeps it above
    * the nondeterministic [[KeyChange]] so it cannot drop a tombstone before
    * the tombstone wins its group).
    */
  def writeDataFiles(raw: DataFrame, schemaId: Int, buckets: Int, nTasks: Int,
      gcTombstonesBelowLsn: Option[Long] = None, maxRecordsPerFile: Long = 0L,
      compacted: Boolean = false): Seq[DataFile] = {
    // Exact bucket→task placement (round-robin via ExactPartition): plain
    // repartition(col("_bucket")) re-hashes 64 bucket ids into nTasks
    // partitions and the balls-in-bins collisions gave the write stage a
    // measured 2x straggler. Buckets are uniform in rows (hash of url), so
    // round-robin slots are balanced.
    val n = math.max(1, nTasks)
    val bucketed = raw.withColumn("_bucket", LakeTable.bucketCol(col("_urlhash"), buckets))
    val winners = ExactPartition.bySlot(bucketed, n, pmod(col("_bucket"), lit(n)))
      .sortWithinPartitions(col("_bucket"), col("_urlhash"), col("url"),
        col("_lsn").desc, col("_wal_part").desc)
      .filter(KeyChange.column(col("url")))
    val kept = gcTombstonesBelowLsn match {
      case Some(w) => winners.filter(!col("_deleted") || col("_lsn") >= lit(w))
      case None => winners
    }
    val commitId = java.util.UUID.randomUUID().toString
    val dir = new Path(dataDir, commitId).toString
    graft.cdc.CdcApply.phase("spark-write") {
      // `_bucket` leads the sort, so the dynamic-partition writer opens one
      // file at a time
      val writer = tiered(kept.write.partitionBy("_bucket"), compacted)
      // target file sizing: a 10^10-event table folded to one file per bucket
      // would produce ~TB parquet files — split on a row target instead
      // (readers/pruning already handle many files per bucket)
      (if (maxRecordsPerFile > 0) writer.option("maxRecordsPerFile", maxRecordsPerFile)
       else writer).parquet(dir)
    }
    graft.cdc.CdcApply.phase("footer-stats") { collectDataFiles(dir, schemaId) }
  }

  /** The parquet settings of a lake file; reads need none, since parquet
    * records the codec of each column chunk and the encoding of each page.
    *
    * - '''One codec for every file''': L0 spanning files, dv winner
    *   appends, DV sidecars and compaction output are all zstd level 1. On
    *   the lake's rows it writes about 0.65× snappy's column bytes; level 3
    *   compresses no better at twice the CPU. Appends carry most of the
    *   bytes a stream writes; on them level 1 writes about a third fewer
    *   bytes than snappy, for an l0 ingest cost of 2–13% at 4M-event
    *   batches that the host's noise leaves unresolved (BASELINE.md,
    *   "Tiered lake codec" and "One lake codec").
    * - '''No dictionary pages''': every page is PLAIN. By default parquet-mr
    *   hashes every value of every column into a dictionary and falls back
    *   to PLAIN once the dictionary is no smaller than the data. On the
    *   lake's rows it fell back for html, text, `_lsn` and `_urlhash` in
    *   every file and for url in every bucket file, about 97% of the bytes;
    *   a dictionary stuck only on lang, `_wal_part`, `warc_ts`, the url of
    *   L0 files and a DV sidecar's `_dv_path`, under 10 B of a 320-340 B
    *   row, and zstd finds those repeats anyway. So the hashing is
    *   per-value work thrown away: one 30,000-row write takes 0.45 s of CPU
    *   without it against 0.54 s, at 0.2% fewer bytes. The reference
    *   dictionary-encodes only columns declared `enumeration` (SURVEY.md),
    *   and the lake has none (BASELINE.md, "Round 6: no dictionary pages").
    * - '''A url bloom filter on compaction output''' (`compacted`) only.
    *   Files are sorted by `_urlhash`, so url's row-group min/max stats
    *   cannot prune a point lookup; the bloom lets parquet-mr skip row
    *   groups on the pushed `url = x` equality, the row-group complement of
    *   the manifest's file-level pruning (reference analogue: per-partition
    *   bloom synopses, synopsis.cpp). The adaptive filter keeps the smallest
    *   of its candidates, halving from 1 MiB, that still holds the row
    *   group's distinct urls at fpp 1%; ten candidates reach down to 2 KiB,
    *   where parquet's default five stop at 64 KiB, many times what a
    *   compacted file of a few thousand rows needs. Appends go without it:
    *   on the apply hot path it costs CPU and buys no measurable lookup
    *   gain on L0 files.
    */
  private def tiered[T](w: DataFrameWriter[T], compacted: Boolean): DataFrameWriter[T] = {
    val zstd = w.option("compression", "zstd")
      .option("parquet.compression.codec.zstd.level", "1")
      .option("parquet.enable.dictionary", "false")
    if (compacted)
      zstd.option("parquet.bloom.filter.enabled#url", "true")
        .option("parquet.bloom.filter.adaptive.enabled", "true")
        .option("parquet.bloom.filter.candidates.number#url", "10")
    else zstd
  }

  /** Write `rows` as L0 ''spanning'' files: NO repartition, NO sort, NO
    * bucket dirs — each upstream task streams its partition straight into one
    * parquet file. The apply hot path becomes scan → project → write with
    * zero exchanges (the RocksDB/LSM L0 design: sorted-run placement is
    * deferred wholly to compaction, which flushes L0 into hash buckets).
    * The files carry `bucket = -1` in the manifest — they span the key space,
    * so [[planFiles]] treats them as members of every bucket; their footer
    * urlhash/lsn ranges still prune point lookups when they can.
    */
  def writeDataFilesSpanning(rows: DataFrame, schemaId: Int): Seq[DataFile] = {
    val commitId = java.util.UUID.randomUUID().toString
    val dir = new Path(dataDir, commitId).toString
    graft.cdc.CdcApply.phase("spark-write") {
      tiered(rows.write, compacted = false).parquet(dir)
    }
    graft.cdc.CdcApply.phase("footer-stats") { collectDataFiles(dir, schemaId) }
  }

  /** List written files and read their Parquet footers for stats — O(#files)
    * driver-side metadata reads, the same trick Iceberg uses; never rescans
    * data to build the manifest. Footer reads fan out on a bounded thread pool:
    * they are independent ~ms metadata I/Os, and doing 64+ of them serially
    * was a measurable slice of per-batch latency.
    */
  private def collectDataFiles(dir: String, schemaId: Int): Seq[DataFile] = {
    val d = new Path(dir)
    val entries = fs.listStatus(d)
    val buckets = entries.filter(s => s.isDirectory && s.getPath.getName.startsWith("_bucket="))
    // flat layout (no _bucket= dirs) = L0 spanning files → bucket -1
    val l0: Seq[(Int, FileStatus)] = entries.toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (-1, f))
    val work: Seq[(Int, FileStatus)] = l0 ++ buckets.toSeq.flatMap { bs =>
      val bucket = bs.getPath.getName.stripPrefix("_bucket=").toInt
      fs.listStatus(bs.getPath).filter(f => f.getPath.getName.endsWith(".parquet"))
        .map(f => (bucket, f))
    }
    val options = HadoopReadOptions.builder(conf).build()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, work.size)))
    try {
      val futures = work.map { case (bucket, f) =>
        pool.submit(new java.util.concurrent.Callable[DataFile] {
          def call(): DataFile = {
            val (rows, stats) =
              LakeTable.footerStats(f, conf, options, Seq("_lsn", "_urlhash"))
            val (minL, maxL) = stats("_lsn"); val (minH, maxH) = stats("_urlhash")
            DataFile(f.getPath.toString, bucket, schemaId, rows, f.getLen, minL, maxL, minH, maxH)
          }
        })
      }
      futures.map(_.get())
    } finally pool.shutdown()
  }

  // --------------------------------------------------------------- compaction

  /** Bring every bucket back to at most `maxFilesPerBucket` files
    * (reference analogue `rebuild.cpp`). If `gcTombstonesBelowLsn` is set,
    * tombstones with `_lsn` below it are dropped — safe once the source's
    * out-of-orderness bound guarantees no older update can still arrive.
    * Every rewrite goes through the sorted LWW fold of [[writeDataFiles]];
    * the default row target is the reference's own partition cap
    * (defaults.hpp:220, 4 Mi events), so "one file per bucket" never becomes
    * a TB-scale file on a 10^10-event table.
    *
    * With `maxFilesPerBucket = 1` this is a FULL compaction (the OPTIMIZE
    * analogue): every bucket is folded down to one version per url, the
    * `needs_resolve` flag is cleared, deletion vectors are applied
    * physically, and subsequent reads are pure scans.
    *
    * `rebucket = Some(n)` with n ≠ the current count is a full compaction at
    * the new count, whatever `maxFilesPerBucket` is: bucket = hash(url) % n
    * changes for every row (as Iceberg partition-spec evolution does), so
    * every file is rewritten, and the snapshot publishes the new count. Old
    * snapshots keep their own count — time travel stays correct. A table
    * created at 64 buckets must not still have 64 ~150GB buckets at 10^10
    * rows.
    *
    * Partial compaction (`maxFilesPerBucket = k > 1`) rewrites, in each
    * bucket holding n > k files, only its n−k+1 smallest files (by rows,
    * ties by path) into one file — the least rewrite that brings the bucket
    * back to k files, so a small delta does not drag the compacted base into
    * the rewrite. Once those files together reach half the rows of the
    * bucket's largest file, the whole bucket is folded instead: without
    * that, a stream that never runs a full compaction would re-rewrite an
    * ever larger merged delta on every run. Rows, not bytes: a small delta
    * holds more bytes per row than a large base, because of its fixed
    * per-file and per-column-chunk overhead and the fewer rows it
    * compresses together (about 2× for 90 rows against 400 of the same
    * payload, both zstd), so a bytes rule would fold the base in at well
    * under half of its rows. The L0
    * spanning group (bucket −1) is always flushed whole, and with tombstone
    * GC requested victim buckets are taken whole (a tombstone may kill a
    * version in a file outside a subset).
    *
    * The trade, per run: fewer bytes written, but a bucket is left at k
    * files rather than one, so the next run comes sooner (at k = 2, after
    * every batch instead of every other one). Until the next full or
    * whole-bucket fold the files left in place keep their DV entries, and
    * `needs_resolve` stays set unless every file was rewritten.
    */
  def compact(maxFilesPerBucket: Int = 1, gcTombstonesBelowLsn: Option[Long] = None,
      maxRecordsPerFile: Long = 4L * 1024 * 1024, rebucket: Option[Int] = None): Snapshot = {
    val snap = currentSnapshot.getOrElse(throw new IllegalStateException("no table"))
    val nb = rebucket.getOrElse(snap.buckets)
    require(nb > 0, "bucket count must be positive")
    val byBucket = snap.files.groupBy(_.bucket)
    // a DV'd table at one file per bucket still needs the full pass: the
    // rewrite applies the masks physically so the sidecar list can be cleared
    val full = nb != snap.buckets ||
      maxFilesPerBucket <= 1 && (needsResolve(snap) || snap.dvFiles.nonEmpty)
    val victims = byBucket.filter(_._2.size > maxFilesPerBucket)
    if (victims.isEmpty && gcTombstonesBelowLsn.isEmpty && !full) return snap
    val target = if (victims.nonEmpty && !full) victims else byBucket
    // a partial run without GC folds each victim bucket's n−k+1 smallest
    // files; everything else (full, GC'd, the L0 group) takes whole groups.
    // Once those small files reach half the rows of the bucket's largest
    // file the whole bucket is folded: past that point every run would
    // re-rewrite a merged delta nearly the base's size, more than folding
    // the base in once
    val subset = maxFilesPerBucket > 1 && gcTombstonesBelowLsn.isEmpty && !full
    val input = target.toSeq.flatMap { case (bucket, files) =>
      val small = files.sortBy(f => (f.rows, f.path)).take(files.size - maxFilesPerBucket + 1)
      if (!subset || bucket < 0 || 2 * small.map(_.rows).sum >= files.map(_.rows).max) files
      else small
    }
    val inputPaths = input.map(_.path).toSet
    val untouched = snap.files.filterNot(f => inputPaths.contains(f.path))
    // the fold reduces merge-on-read deltas to one version per url.
    // Folding a file SUBSET is always safe (LWW is associative: the global
    // read-side resolve still picks the true winner across subsets) — but
    // DROPPING rows is not: a tombstone may kill a version living in a file
    // outside the subset. With L0 spanning files a url's versions can straddle
    // the -1 group and its bucket, so tombstone GC only runs when the input
    // covers every file (full compaction) or no L0 files exist (then a
    // bucket's files hold ALL versions of its urls: the only bucketed
    // writers, compaction output and dv winner appends, place every row in
    // its url's bucket).
    val gcSafe = gcTombstonesBelowLsn.filter(_ =>
      !byBucket.contains(-1) || untouched.isEmpty)
    val raw0 = readFiles(snap, input, currentFileSchema(snap))
    // A rebucket or an L0 flush (-1 in the target) spans all buckets →
    // slot-scaled writers; plain bucket compaction keeps one task per victim
    // bucket.
    val nTasks =
      if (nb != snap.buckets || target.contains(-1))
        math.min(nb, spark.sparkContext.defaultParallelism * 2)
      else target.size
    val newFiles = writeDataFiles(raw0, snap.currentSchemaId, nb, nTasks,
      gcTombstonesBelowLsn = gcSafe, maxRecordsPerFile = maxRecordsPerFile, compacted = true)
    // only a rewrite of EVERY file leaves one version per url; after a
    // subset rewrite the files left in place may still hold older versions
    val props0 =
      if (untouched.isEmpty) snap.props - LakeTable.NeedsResolveProp
      else snap.props
    // record the tombstone-GC watermark: a staged (WAP) batch with updates
    // below it could resurrect GC'd deletes — publishStaged refuses those
    val props = gcSafe.fold(props0)(w => props0 +
      (LakeTable.TombstoneGcLsnProp -> math.max(w,
        props0.get(LakeTable.TombstoneGcLsnProp).map(_.toLong).getOrElse(Long.MinValue)).toString))
    // the rewrite read masks, so rewritten rows have their deletes applied
    // physically: every file rewritten → no DV survives; otherwise keep only
    // entries pointing at files left in place (a base file outside the
    // subset keeps its masked rows masked), rewritten as one fresh sidecar.
    // The fold drops rows only through the mask, the LWW filter or the GC,
    // so when it wrote every input row no entry pointed at a rewritten file
    // and the sidecar list stands as it is, with no consolidation job
    val dvLeft =
      if (snap.dvFiles.isEmpty || untouched.isEmpty) Nil
      else if (newFiles.map(_.rows).sum == input.map(_.rows).sum) snap.dvFiles
      else consolidateDvs(snap, untouched)
    commit(snap.copy(files = untouched ++ newFiles, buckets = nb, props = props,
      dvFiles = dvLeft))
  }

  // ------------------------------------------- WAP: staged commits (audit)

  private val stagedDir = new Path(root, "staged")
  private def stagedPath(id: String) = new Path(stagedDir, s"wap-$id.json")

  /** Write-audit-publish, Iceberg's staged-snapshot pattern: stage the
    * snapshot a writer WOULD commit (same contract as [[commit]]:
    * `snap.version` = the base it was built on, `snap.files` = the full new
    * list) under a WAP id instead of publishing it. The data files are
    * already written; the batch is invisible to readers until
    * [[publishStaged]]. Audit with `pages(stagedSnapshot(id))` — validate
    * row counts, PII scans, quality gates — then publish or [[dropStaged]].
    *
    * The staged file stores the file list INLINE (no manifest-delta chain
    * participation): one transient O(#files) JSON per staged batch.
    * [[expireSnapshots]] pins both the staged base version (needed to
    * rebase at publish) and the staged data files (they are referenced by
    * no committed snapshot yet).
    */
  def stageCommit(snap: Snapshot, wapId: String): Snapshot = {
    require(wapId.matches("[A-Za-z0-9._-]+"), s"invalid WAP id '$wapId'")
    require(snap.version < 0 || fs.exists(versionPath(snap.version)),
      s"staged base v${snap.version} is not a live snapshot")
    fs.mkdirs(stagedDir)
    val staged = snap.copy(manifests = Nil)
    // tmp-then-rename: a crash mid-write must never leave a truncated
    // wap-*.json (it would break every later expireSnapshots); the rename is
    // the already-staged claim — atomic cross-process on HDFS-like stores
    // (rename refuses an existing destination); on local filesystems
    // (overwriting POSIX rename) the exists probe under the per-root JVM
    // mutex covers same-process racers, the same split as [[commit]]. Tmp
    // names don't end in .json, so stagedIds never lists them.
    LakeTable.commitMutex(root).synchronized {
      claimByRename(
        new Path(stagedDir, s"wap-$wapId.json.tmp-${java.util.UUID.randomUUID()}"),
        stagedPath(wapId), ManifestCodec.toJson(staged).getBytes("UTF-8"),
        new IllegalArgumentException(s"WAP id '$wapId' already staged"))
    }
    staged
  }

  def stagedIds: Seq[String] =
    if (!fs.exists(stagedDir)) Nil
    else fs.listStatus(stagedDir).map(_.getPath.getName)
      .filter(n => n.startsWith("wap-") && n.endsWith(".json"))
      .map(_.stripPrefix("wap-").stripSuffix(".json")).toSeq.sorted

  def stagedSnapshot(wapId: String): Snapshot = {
    if (!fs.exists(stagedPath(wapId)))
      throw new IllegalArgumentException(s"no staged commit '$wapId'")
    ManifestCodec.fromJson(readString(stagedPath(wapId)))
  }

  /** Publish a staged commit (Iceberg cherry-pick). Fast path: the table
    * head is still the staged base → commit as-is. If the table advanced, an
    * APPEND-ONLY staged delta (MOR/L0 batches — no base files removed) is
    * rebased onto the head: files appended, watermarks max-merged per query,
    * fresh lineage entries carried over, schema additions merged with
    * id-clash detection. A staged REWRITE (one that removes base files,
    * e.g. a compaction) cannot be rebased mechanically and is refused for
    * re-audit, as is any conflicting schema/bucket change.
    */
  /** Whether `wapId`'s PENDING staged bytes match the head's published
    * breadcrumb — i.e. a crash landed between the publish commit and the
    * staged-file delete, and [[publishStaged]] would just clean up. The
    * audited-ingest gate consults this BEFORE re-running its user
    * predicate on replay: re-auditing an already-committed batch with a
    * predicate that consults external state could "quarantine" data that
    * is durably in the table.
    */
  def stagedAlreadyPublished(wapId: String): Boolean = {
    if (!fs.exists(stagedPath(wapId))) return false
    val stagedJson = readString(stagedPath(wapId))
    val d = java.security.MessageDigest.getInstance("MD5")
    val stamp = java.util.Base64.getEncoder.encodeToString(d.digest(stagedJson.getBytes("UTF-8")))
    currentSnapshot.exists(_.props.get(LakeTable.publishedProp(wapId)).contains(stamp))
  }

  def publishStaged(wapId: String): Snapshot = {
    if (!fs.exists(stagedPath(wapId)))
      throw new IllegalArgumentException(s"no staged commit '$wapId'")
    val stagedJson = readString(stagedPath(wapId))
    val staged = ManifestCodec.fromJson(stagedJson)
    // content stamp: the breadcrumb must identify THIS staged payload, not
    // just the id — a wapId legitimately reused after a successful publish
    // stages different bytes, and treating its pending file as an
    // already-published retry would silently drop the new batch
    val stamp = {
      val d = java.security.MessageDigest.getInstance("MD5")
      java.util.Base64.getEncoder.encodeToString(d.digest(stagedJson.getBytes("UTF-8")))
    }
    val head = latestVersion.getOrElse(-1L)
    // Idempotent re-publish: a crash between the publish commit and the
    // staged-file delete below leaves the stage pending although its data is
    // already committed. The committed snapshot carries a published-(wapId →
    // staged-content-stamp) breadcrumb prop (inherited by every later
    // commit), so a retry whose pending bytes MATCH the stamp just clears
    // the stage and returns the head — committing again would both write a
    // redundant snapshot AND re-resolve the stage's fresh lineage entries
    // into the durable lineage log (double-counted batches). A pending stage
    // with a DIFFERENT stamp under a published id is a new batch and
    // publishes normally.
    if (head >= 0) {
      val headSnap = snapshotAt(head)
      if (headSnap.props.get(LakeTable.publishedProp(wapId)).contains(stamp)) {
        if (!fs.delete(stagedPath(wapId), false))
          throw new java.io.IOException(
            s"'$wapId' already published but its staged file could not be deleted — " +
              s"delete ${stagedPath(wapId)} manually")
        return headSnap
      }
    }
    val result =
      if (staged.version == head)
        commit(staged.copy(props = publishedProps(staged.props, wapId, stamp)))
      else {
        val base = snapshotAt(staged.version)
        val basePaths = base.files.map(_.path).toSet
        val stagedPaths = staged.files.map(_.path).toSet
        val added = staged.files.filterNot(f => basePaths.contains(f.path))
        val removed = base.files.filterNot(f => stagedPaths.contains(f.path))
        if (removed.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"staged '$wapId' rewrites ${removed.size} base file(s) but the table advanced " +
              s"past its base v${staged.version} (head v$head) — drop and re-audit")
        val cur = snapshotAt(head)
        // a concurrent REBUCKET changed bucket = hash % n for every row: a
        // staged bucketed file's manifest bucket id is stale and
        // bucket-pruned reads would silently miss it — refuse, re-audit
        // under the new layout. L0 files (bucket -1) span every bucket, so
        // a stage of only those is valid under any count
        if (cur.buckets != base.buckets && added.exists(_.bucket >= 0))
          throw new java.util.ConcurrentModificationException(
            s"staged '$wapId' was bucketed under buckets=${base.buckets} but the table " +
              s"was rebucketed to ${cur.buckets} — drop and re-audit")
        // a concurrent compaction GC'd tombstones below this LSN: a staged
        // update older than the fence could resurrect a GC'd delete (the
        // delete's tombstone is gone, so LWW would pick the stale update)
        cur.props.get(LakeTable.TombstoneGcLsnProp).map(_.toLong).foreach { fence =>
          val oldest = added.map(_.minLsn).minOption.getOrElse(Long.MaxValue)
          if (oldest < fence)
            throw new java.util.ConcurrentModificationException(
              s"staged '$wapId' carries updates at lsn $oldest below the tombstone-GC " +
                s"fence $fence — publishing could resurrect deleted rows; drop and re-audit")
        }
        val idClash = staged.schemas.exists { case (k, j) =>
          cur.schemas.get(k).exists(_ != j) }
        if (idClash)
          throw new java.util.ConcurrentModificationException(
            s"staged '$wapId' assigned a schema id the table meanwhile bound differently — re-audit")
        val mergedWm = (cur.watermarks.keySet ++ staged.watermarks.keySet).map(q =>
          q -> math.max(cur.watermarks.getOrElse(q, -1L),
            staged.watermarks.getOrElse(q, -1L))).toMap
        val needsResolve =
          if (staged.props.get(LakeTable.NeedsResolveProp).contains("true"))
            Map(LakeTable.NeedsResolveProp -> "true")
          else Map.empty[String, String]
        commit(cur.copy(
          files = cur.files ++ added,
          schemas = cur.schemas ++ staged.schemas,
          currentSchemaId = math.max(cur.currentSchemaId, staged.currentSchemaId),
          watermarks = mergedWm,
          lineage = cur.lineage ++ staged.lineage.filter(_.snapshotVersion < 0),
          props = publishedProps(cur.props ++ needsResolve, wapId, stamp)))
      }
    if (!fs.delete(stagedPath(wapId), false))
      throw new java.io.IOException(
        s"published '$wapId' but failed to delete its staged file — it would pin " +
          s"its base against expiry forever; delete ${stagedPath(wapId)} manually")
    result
  }

  /** Publish-commit props: add this wapId's published breadcrumb and prune
    * breadcrumbs whose staged file is gone (their crash window is closed) —
    * the set stays bounded by the number of concurrently pending stages
    * instead of growing with every publish the table ever saw.
    */
  private def publishedProps(base: Map[String, String], wapId: String,
      stamp: String): Map[String, String] = {
    val pending = stagedIds.toSet - wapId
    base.filterNot { case (k, _) =>
      k.startsWith(LakeTable.PublishedPropPrefix) &&
        !pending.contains(k.stripPrefix(LakeTable.PublishedPropPrefix))
    } + (LakeTable.publishedProp(wapId) -> stamp)
  }

  /** Abandon a staged commit: the audit failed. Its data files become
    * orphans and the next [[expireSnapshots]] sweep collects them. Throws
    * if no such stage exists (a typo'd id silently 'succeeding' would leave
    * the real stage pinning its base forever). */
  def dropStaged(wapId: String): Unit = {
    if (!fs.exists(stagedPath(wapId)))
      throw new IllegalArgumentException(s"no staged commit '$wapId' to drop")
    if (!fs.delete(stagedPath(wapId), false))
      throw new java.io.IOException(s"failed to delete staged '$wapId'")
  }

  // ---------------------------------------------- snapshot expiry / orphan GC

  /** Expire old snapshots and garbage-collect data files: keep the newest
    * `keepLast` manifest versions (time travel window), delete older
    * manifests, and delete any file under `data/` referenced by NO retained
    * snapshot. This also sweeps crash orphans — files written by an apply
    * that died before its commit are referenced by no manifest at all.
    *
    * Single-streaming-writer assumption (same as commit): no other writer may
    * be mid-`writeDataFiles` while this runs; the CDC stream invokes it
    * between batches. Reference analogue: partition eviction + `rebuild`
    * maintenance (`libtenzir/src/index.cpp` disk-monitor eviction,
    * `rebuild.cpp:45-77`).
    *
    * @return (expired manifest count, deleted data file count)
    */
  def expireSnapshots(keepLast: Int = 2): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    // Kept set, version deletion and manifest sweep form ONE commit-mutex
    // block: a commit that lands between computing the kept set and the
    // sweep would otherwise lose its new delta or consolidated part to the
    // sweep (bricking the head it just claimed). The mutex serializes
    // in-process maintenance against commits; cross-process maintenance
    // stays excluded by the single-writer contract above.
    val (expired, referenced) = LakeTable.commitMutex(root).synchronized {
      val versions =
        if (!fs.exists(manifestDir)) Seq.empty[Long]
        else fs.listStatus(manifestDir).map(_.getPath.getName)
          .filter(n => n.startsWith("v") && n.endsWith(".json"))
          .map(_.stripPrefix("v").stripSuffix(".json").toLong).toSeq.sorted
      if (versions.isEmpty) return (0, 0)
      // tagged versions are retention-exempt: keep the trailing `keepLast`
      // plus anything a tag pins (Iceberg ref-retention semantics) plus the
      // BASE of every staged WAP commit (publishStaged rebases against it)
      val stagedSnaps = stagedIds.map(stagedSnapshot)
      val pinnedVs = tags.values.toSet ++
        stagedSnaps.map(_.version).filter(_ >= 0)
      val (expired0, kept0) = versions.splitAt(math.max(0, versions.size - keepLast))
      val expired = expired0.filterNot(pinnedVs.contains)
      val kept = versions.filter(v => kept0.contains(v) || pinnedVs.contains(v))
      val keptSnaps = kept.map(snapshotAt)
      // staged (not yet committed) data files are live too — the sweep must
      // not collect a batch that is pending audit
      val referenced: Set[String] = (keptSnaps ++ stagedSnaps).flatMap(s =>
        (s.files.map(_.path) ++ s.dvFiles.map(_.path))
          .map(p => new Path(p).toUri.getPath)).toSet
      val keptManifests = keptSnaps.flatMap(_.manifests).toSet
      expireHook("kept")
      // version files go FIRST: readers probe the version file before its
      // manifests and data, so a follower that hits a swept file re-probes,
      // finds its version gone and re-bootstraps instead of failing
      expired.foreach(v => fs.delete(versionPath(v), false))
      // GC manifest deltas and parts referenced by no retained snapshot
      // (incl. files orphaned by a crash between write and version claim, and
      // chains superseded by consolidation). Only completed `.json` names —
      // `.json.tmp-*` in-flight writes belong to the age-graced sweep below.
      fs.listStatus(manifestDir).map(_.getPath)
        .filter(p => p.getName.startsWith("m-") && p.getName.endsWith(".json"))
        .filterNot(p => keptManifests.contains(p.getName))
        .foreach(p => fs.delete(p, false))
      // sweep tmps left by commits/stages that crashed mid-serialization
      // (inert but accumulating) — under the commit mutex, so the sweep can
      // never delete the tmp of an IN-FLIGHT in-process commit between its
      // write and its rename (which would fail that commit with a spurious
      // lost-race error). The mutex is JVM-local, so CROSS-process writers are
      // only protected by the age grace: a live writer's write→rename window
      // is milliseconds, so sweeping only tmps minutes old still collects
      // crash debris without ever racing another process's in-flight commit.
      val cutoff = System.currentTimeMillis() - LakeTable.TmpSweepGraceMs
      (fs.listStatus(manifestDir) ++
        (if (fs.exists(stagedDir)) fs.listStatus(stagedDir) else Array.empty))
        .filter(st => st.getPath.getName.contains(".json.tmp-") &&
          st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, false))
      (expired, referenced)
    }
    var deletedFiles = 0
    if (fs.exists(dataDir)) {
      // commit dirs with no referenced file go wholesale (incl. _SUCCESS and
      // empty _bucket= subdirs); partially-referenced dirs lose only the
      // unreferenced files. The commit dir is the ancestor DIRECTLY under
      // data/ — one level up for L0 spanning files (data/<commit>/part-*),
      // two for bucketed files (data/<commit>/_bucket=N/part-*); a fixed
      // two-level getParent mis-resolved L0 files to data/ itself and
      // deleted live L0 commit dirs wholesale.
      // QUALIFIED anchor: with a relative table root, dataDir.toUri.getPath
      // would be a relative string while DataFile paths and listings are
      // absolute — commitDirOf would then match NOTHING and the sweep would
      // delete every live commit dir
      val dataPathStr = fs.makeQualified(dataDir).toUri.getPath
      def commitDirOf(p: String): Option[String] = {
        var cur = new Path(p).getParent
        while (cur != null && cur.getParent != null &&
            cur.getParent.toUri.getPath != dataPathStr)
          cur = cur.getParent
        Option(cur).filter(c => Option(c.getParent)
          .exists(_.toUri.getPath == dataPathStr)).map(_.toUri.getPath)
      }
      val referencedDirs: Set[String] = referenced.flatMap(commitDirOf)
      fs.listStatus(dataDir).filter(_.isDirectory).foreach { d =>
        if (!referencedDirs.contains(d.getPath.toUri.getPath)) {
          val it = fs.listFiles(d.getPath, true)
          while (it.hasNext) { if (it.next().isFile) deletedFiles += 1 }
          fs.delete(d.getPath, true)
        } else {
          val it = fs.listFiles(d.getPath, true)
          val dead = scala.collection.mutable.ArrayBuffer.empty[Path]
          while (it.hasNext) {
            val f = it.next()
            if (f.isFile && f.getPath.getName.endsWith(".parquet") &&
                !referenced.contains(f.getPath.toUri.getPath)) dead += f.getPath
          }
          dead.foreach { p => fs.delete(p, false); deletedFiles += 1 }
        }
      }
    }
    expireHook("swept")
    (expired.size, deletedFiles)
  }

  /** Test seam: called inside [[expireSnapshots]] with `"kept"` once the
    * kept set is computed (before any deletion) and `"swept"` after the
    * data sweep, so a spec can inject a commit or a follower poll at exactly
    * those points instead of racing threads on timing. */
  @volatile private[graft] var expireHook: String => Unit = _ => ()

  /** Test seams: this handle's consolidation threshold and DV broadcast
    * limit, so a spec can reach a consolidation in a few commits or force
    * the shuffled anti-join mask without a large table. */
  @volatile private[graft] var consolidateEvery: Int = LakeTable.ManifestConsolidateEvery
  @volatile private[graft] var dvBroadcastLimit: Long = LakeTable.DvBroadcastLimit
}

object LakeTable {
  /** Max lineage entries carried in the *current* manifest (so a long-lived
    * stream's per-commit manifest write stays O(files + retention), never
    * O(all batches ever)); the untrimmed history lives in the append-only
    * per-commit `lineage/` log ([[LakeTable.lineageLog]]), which survives
    * `expireSnapshots`.
    */
  val LineageRetention = 1000

  /** Consolidate the manifest-delta chain every K commits: commit I/O stays
    * O(batch files) amortized and snapshot reads open at most K + 2 JSON
    * files. The consolidated form is a bucketed part and an L0 part; an
    * append-only L0 window carries the bucketed part over by name, so its
    * consolidation writes O(L0) entries (see `LakeTable.consolidate`). 32
    * matches Iceberg's default snapshot retention ballpark.
    */
  val ManifestConsolidateEvery: Int = 32

  /** Kind tags in the names of the two consolidated parts
    * (`m-v<version>-<kind>-<nonce>.json`); a plain delta's name has none. */
  private val BucketedPart = "bucketed"
  private val L0Part = "l0"
  def isBucketedPart(name: String): Boolean = name.contains(s"-$BucketedPart-")
  def isConsolidatedPart(name: String): Boolean =
    isBucketedPart(name) || name.contains(s"-$L0Part-")

  /** Snapshot prop set by merge-on-read appends, cleared by full compaction:
    * "this table may hold multiple versions of a url; reads must resolve".
    */
  val NeedsResolveProp = "needs_resolve"
  /** Highest LSN below which compaction has GC'd tombstones — the
    * publish-time fence against staged batches resurrecting deletes. */
  val TombstoneGcLsnProp = "tombstone_gc_lsn"

  /** Prefix of the per-wapId published breadcrumb prop: set by the publish
    * commit (value = MD5 stamp of the staged JSON it published), inherited by
    * later commits, pruned once the staged file is gone. Makes
    * [[LakeTable.publishStaged]] retries idempotent across the crash window
    * between its commit and its staged-file delete, while a reused id whose
    * pending bytes differ from the stamp still publishes as a new batch. */
  val PublishedPropPrefix = "wap_published/"
  def publishedProp(wapId: String): String = PublishedPropPrefix + wapId

  /** Minimum age before [[LakeTable.expireSnapshots]] sweeps a crash-debris
    * `.json.tmp-*` file: the JVM commit mutex cannot see other processes, so
    * only age separates a crashed writer's tmp from a live one's. */
  val TmpSweepGraceMs: Long = 10L * 60 * 1000

  // --------------------------------------------------------- deletion vectors

  /** DV sidecar columns: the deleted row's file (as `_metadata.file_path`
    * reports it — self-consistent with the scan the mask joins against) and
    * its physical row ordinal (`_metadata.row_index`). */
  val DvPathCol = "_dv_path"
  val DvPosCol = "_dv_pos"
  val dvSchema: StructType = StructType(Seq(
    StructField(DvPathCol, StringType, nullable = false),
    StructField(DvPosCol, LongType, nullable = false)))

  /** Below this many total DV entries the mask is a broadcast hash anti-join
    * (no shuffle of the scan side); above it, a shuffled anti-join. ~100
    * bytes/entry → this caps the broadcast near 200 MB. Compaction is what
    * keeps real tables under it. */
  val DvBroadcastLimit: Long = 2L * 1000 * 1000

  /** Per-root intra-process commit lock (see [[LakeTable.commit]]). */
  private val commitMutexes =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[lake] def commitMutex(root: String): Object =
    commitMutexes.computeIfAbsent(root, _ => new Object)

  /** File schema = user columns + system columns (`_lsn`,`_deleted`,`_urlhash`). */
  def fileSchema(userSchema: StructType): StructType =
    StructType(userSchema.fields ++ Schemas.systemColumns)

  def bucketCol(urlHash: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    pmod(urlHash, lit(buckets)).cast("int")

  /** Driver-side xxhash64(url) matching Spark's `xxhash64` (seed 42). */
  def urlHash(url: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    import org.apache.spark.sql.catalyst.expressions.Literal
    XxHash64(Seq(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(url))), 42L)
      .eval(null).asInstanceOf[Long]
  }

  def bucketOf(hash: Long, buckets: Int): Int = {
    val m = hash % buckets
    (if (m < 0) m + buckets else m).toInt
  }

  /** Row count + per-column (min,max) from a Parquet footer (no data IO).
    * `file` is the listing's status, so opening the file costs no second
    * `getFileStatus`. Build `options` once per run of footer reads with
    * `HadoopReadOptions.builder(conf).build()`: without them
    * `ParquetFileReader.open` builds a fresh Hadoop `Configuration` per file,
    * which parses Hadoop's XML resources again. Footer reads never take a
    * decompressor from the options' codec factory, so threads can share
    * them. */
  def footerStats(file: FileStatus, conf: org.apache.hadoop.conf.Configuration,
      options: ParquetReadOptions, cols: Seq[String]): (Long, Map[String, (Long, Long)]) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), options)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      val stats = cols.map { c =>
        var mn = Long.MaxValue; var mx = Long.MinValue
        blocks.foreach { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == c).foreach { cc =>
            val s = cc.getStatistics
            if (s != null && !s.isEmpty) {
              mn = math.min(mn, s.genericGetMin.asInstanceOf[java.lang.Long])
              mx = math.max(mx, s.genericGetMax.asInstanceOf[java.lang.Long])
            }
          }
        }
        c -> (mn, mx)
      }.toMap
      (rows, stats)
    } finally reader.close()
  }
}
