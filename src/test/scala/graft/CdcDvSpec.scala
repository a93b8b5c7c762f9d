package graft

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.cdc.CdcApply
import graft.gen.{ChangeGen, GenConfig, GenEvent}
import graft.lake.LakeTable

/** Deletion-vector apply mode ([[CdcApply.applyBatchDv]]): positional delete
  * sidecars + winner appends must converge to the same LWW state as the
  * append path and the independent oracle, while maintaining the
  * single-live-version invariant that lets reads skip the resolve shuffle
  * entirely.
  */
class CdcDvSpec extends SparkSpec {
  import spark.implicits._

  val cfg = GenConfig(events = 8000, segmentSize = 512)
  lazy val allEvents: Seq[GenEvent] = ChangeGen.events(spark, cfg).collect().toSeq
  lazy val golden: Map[String, (String, String, Long, Int)] = expectedMap(allEvents)

  private def replayDv(table: LakeTable, groups: Seq[Seq[GenEvent]], queryId: String): Unit =
    groups.zipWithIndex.foreach { case (g, i) =>
      CdcApply.applyBatchDv(table, spark.createDataset(g).toDF(), queryId, i.toLong,
        createBuckets = 16)
    }

  private def segGroups(events: Seq[GenEvent], segsPerBatch: Int): Seq[Seq[GenEvent]] =
    events.groupBy(_.seg / segsPerBatch).toSeq.sortBy(_._1).map(_._2)

  /** Every DV entry of `snap` as (data-file URI, row ordinal). */
  private def dvEntries(snap: graft.lake.Snapshot): Set[(String, Long)] =
    if (snap.dvFiles.isEmpty) Set.empty
    else spark.read.schema(LakeTable.dvSchema).parquet(snap.dvFiles.map(_.path): _*)
      .as[(String, Long)].collect().toSet

  /** A data file's path in the percent-encoded URI form DV entries carry. */
  private def uriOf(f: graft.lake.DataFile): String = new Path(f.path).toUri.toString

  /** urls holding more than one unmasked row — the single-live-version
    * invariant that lets dv reads skip the resolve. */
  private def liveDupes(table: LakeTable, snap: graft.lake.Snapshot): Long =
    table.scanRaw(snap).groupBy(col("url")).count().filter(col("count") > 1).count()

  test("dv replay converges to the independent final state; reads need no resolve") {
    val table = new LakeTable(spark, tmpDir())
    replayDv(table, segGroups(allEvents, 8), "q")
    val snap = table.currentSnapshot.get
    assert(!table.needsResolve(snap), "dv mode must not set needs_resolve")
    assert(snap.dvFiles.nonEmpty, "a multi-batch update stream must have masked rows")
    assert(pagesMap(table.pages(snap)) == golden)
    // the invariant that makes the no-resolve read correct: at most one
    // UNMASKED row per url across the whole table
    val dupes = liveDupes(table, snap)
    assert(dupes == 0, s"$dupes urls hold more than one unmasked version")
  }

  test("dv replay with different batch boundaries reaches the same state") {
    val t1 = new LakeTable(spark, tmpDir()); replayDv(t1, segGroups(allEvents, 3), "a")
    val t2 = new LakeTable(spark, tmpDir()); replayDv(t2, segGroups(allEvents, 20), "b")
    assert(pagesMap(t1.pages()) == golden)
    assert(pagesMap(t2.pages()) == golden)
  }

  test("out-of-order replay (stale late batches) reaches the same state") {
    // apply the lsn windows in REVERSE: every batch after the first is
    // entirely stale vs the committed state, so the loser path (batch rows
    // discarded, no mask written) carries the whole convergence
    val table = new LakeTable(spark, tmpDir())
    val groups = segGroups(allEvents, 8).reverse
    replayDv(table, groups, "q")
    val snap = table.currentSnapshot.get
    assert(pagesMap(table.pages(snap)) == golden)
    assert(liveDupes(table, snap) == 0)
  }

  test("stale update after a delete stays dead; equal-lsn redelivery keeps the committed row") {
    val table = new LakeTable(spark, tmpDir())
    val ts = new Timestamp(1704067200000L)
    def ev(op: String, lsn: Long, part: Int, url: String, text: String): GenEvent =
      GenEvent(op, lsn, part, url, ts,
        if (op == "D") null else text.getBytes("UTF-8"),
        if (op == "D") null else text, if (op == "D") null else "en", 0L)
    val b0 = Seq(ev("I", 1, 0, "https://a/x", "v1"), ev("I", 2, 0, "https://a/y", "w1"))
    val b1 = Seq(ev("D", 10, 1, "https://a/x", null))
    // stale update (lsn 5 < 10) + equal-lsn redelivery of u2@2 + real update
    val b2 = Seq(ev("U", 5, 2, "https://a/x", "stale"),
      ev("U", 2, 0, "https://a/y", "redelivered"),
      ev("U", 11, 1, "https://a/y", "w2"))
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      CdcApply.applyBatchDv(table, spark.createDataset(b).toDF(), "q", i.toLong,
        createBuckets = 4)
    }
    val rows = table.pages().collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(rows == Map("https://a/y" -> "w2"))
  }

  test("point lookup prunes and sees through the mask") {
    val table = new LakeTable(spark, tmpDir())
    replayDv(table, segGroups(allEvents, 8), "q")
    val snap = table.currentSnapshot.get
    val url = golden.keysIterator.next()
    // manifest pruning: the lookup touches at most the files of one bucket
    val h = LakeTable.urlHash(url)
    val b = LakeTable.bucketOf(h, snap.buckets)
    val planned = table.planFiles(snap, buckets = Some(Set(b)), urlHash = Some(h))
    assert(planned.nonEmpty)
    assert(planned.size < snap.files.size, "pruning must cut the file list")
    val row = table.lookupUrl(snap, url).collect()
    assert(row.length == 1 && row(0).getAs[String]("text") == golden(url)._1)
  }

  test("full compaction folds masks into the data and clears the sidecar list") {
    val table = new LakeTable(spark, tmpDir())
    replayDv(table, segGroups(allEvents, 4), "q")
    val before = table.currentSnapshot.get
    assert(before.dvFiles.nonEmpty)
    val snap = table.compact(maxFilesPerBucket = 1)
    assert(snap.dvFiles.isEmpty, "full compaction must clear the DV list")
    assert(pagesMap(table.pages(snap)) == golden)
    // time travel: the pre-compaction snapshot still reads masked
    assert(pagesMap(table.pages(table.snapshotAt(before.version))) == golden)
  }

  test("dv compaction bounds files per bucket; tombstone GC drops deletes") {
    val table = new LakeTable(spark, tmpDir())
    replayDv(table, segGroups(allEvents, 2), "q") // many small commits → many files
    val before = table.currentSnapshot.get
    val maxLsn = allEvents.map(_.lsn).max
    val snap = table.compact(maxFilesPerBucket = 1, gcTombstonesBelowLsn = Some(maxLsn + 1))
    assert(pagesMap(table.pages(snap)) == golden)
    assert(snap.files.groupBy(_.bucket).values.forall(_.size == 1))
    assert(table.scanRaw(snap).filter(col("_deleted")).count() == 0)
    // time travel: the pre-compaction snapshot still reads identically
    assert(pagesMap(table.pages(table.snapshotAt(before.version))) == golden)
  }

  test("partial compaction consolidates the DV list to surviving files only") {
    val table = new LakeTable(spark, tmpDir())
    replayDv(table, segGroups(allEvents, 2), "q") // many small commits
    val before = table.currentSnapshot.get
    assert(before.dvFiles.nonEmpty)
    val snap = table.compact(maxFilesPerBucket = 2)
    assert(pagesMap(table.pages(snap)) == golden)
    // every surviving entry must point at a file that still exists
    val live = snap.files.map(uriOf).toSet
    dvEntries(snap).foreach { case (p, _) =>
      assert(live.contains(p), s"dangling DV entry for $p")
    }
    // consolidated masks must still hide exactly the superseded rows
    assert(liveDupes(table, snap) == 0)
  }

  /** Base + two small dv deltas in every bucket, then `compact(k = 2)`: only
    * the deltas are rewritten, and the base's DV entries survive the
    * consolidation exactly. */
  private def baseAndTwoDeltas(root: String): Unit = {
    val table = new LakeTable(spark, root)
    // seven eighths of the stream build the base, two small batches follow
    val ordered = allEvents.sortBy(e => (e.seg, e.lsn))
    val (baseEvents, rest) = ordered.splitAt(ordered.size * 7 / 8)
    val (delta1, delta2) = rest.splitAt(rest.size / 2)
    replayDv(table, Seq(baseEvents), "q")
    table.compact(maxFilesPerBucket = 1) // the compacted base: one file per bucket
    Seq(delta1, delta2).zipWithIndex.foreach { case (d, i) =>
      CdcApply.applyBatchDv(table, spark.createDataset(d).toDF(), "q", i + 1L,
        createBuckets = 16)
    }
    val before = table.currentSnapshot.get
    val byBucket = before.files.groupBy(_.bucket)
    assert(byBucket.values.forall(_.size == 3), "want base + two deltas in every bucket")
    // and deltas small enough that the base is not folded in with them
    assert(byBucket.values.forall { fs =>
      val rows = fs.map(_.rows).sorted
      2 * (rows(0) + rows(1)) < rows(2)
    }, "want the two deltas under half the base's rows in every bucket")
    val bases = byBucket.values.map(_.maxBy(_.rows)).toSeq
    assert(byBucket.values.forall(fs => fs.count(_.rows == fs.map(_.rows).max) == 1))
    val basePaths = bases.map(uriOf).toSet
    val baseEntries = dvEntries(before).filter(e => basePaths.contains(e._1))
    assert(baseEntries.nonEmpty, "the deltas must mask rows of the base")
    val snap = table.compact(maxFilesPerBucket = 2)
    // only the two deltas were rewritten: every base file is still live
    assert(bases.map(_.path).toSet.subsetOf(snap.files.map(_.path).toSet))
    assert(snap.files.groupBy(_.bucket).values.forall(_.size == 2))
    // the base's masks survive consolidation exactly; the deltas' are gone
    assert(dvEntries(snap) == baseEntries)
    assert(liveDupes(table, snap) == 0)
    assert(pagesMap(table.pages(snap)) == golden)
  }

  test("partial compaction folds only the small deltas; the base file and its DV entries stay") {
    baseAndTwoDeltas(tmpDir())
  }

  test("partial compaction keeps the base's DV entries under a root with a space and a %") {
    // DV entries carry the percent-encoded file URI, DataFile paths the
    // decoded form: the two spellings differ only under such a root
    baseAndTwoDeltas(tmpDir() + "/lake with space o u%t")
  }

  /** Apply one hand-made `(op, lsn, url)` batch to a one-bucket dv table. */
  private def applyHand(table: LakeTable, batchId: Long, b: Seq[(String, Long, String)]): Unit = {
    val ts = new Timestamp(1704067200000L)
    val evs = b.map { case (op, lsn, url) =>
      // varied payload, so file sizes follow row counts
      val text = (1 to 30).map(j => (lsn * 31 + j * 17) % 1000).mkString(s"$url ", " ", "")
      GenEvent(op, lsn, 0, url, ts, text.getBytes("UTF-8"), text, "en", 0L)
    }
    CdcApply.applyBatchDv(table, spark.createDataset(evs).toDF(), "h", batchId,
      createBuckets = 1)
  }

  /** A one-bucket dv table built from hand-made batches, one per element. */
  private def oneBucketDv(batches: Seq[Seq[(String, Long, String)]]): LakeTable = {
    val table = new LakeTable(spark, tmpDir())
    batches.zipWithIndex.foreach { case (b, i) => applyHand(table, i.toLong, b) }
    table
  }

  private def textsOf(table: LakeTable, snap: graft.lake.Snapshot): Map[String, String] =
    table.pages(snap).collect().map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap

  test("partial compaction folds the whole bucket once its small files reach half the largest") {
    val urls = (1 to 40).map(i => s"https://a/p$i")
    // a base of 40 urls, then two batches updating half of them each: the
    // two deltas together are about the base's size
    val table = oneBucketDv(Seq(
      urls.zipWithIndex.map { case (u, i) => ("I", i + 1L, u) },
      urls.take(20).zipWithIndex.map { case (u, i) => ("U", 100L + i, u) },
      urls.drop(20).zipWithIndex.map { case (u, i) => ("U", 200L + i, u) }))
    val before = table.currentSnapshot.get
    val rows = before.files.map(_.rows).sorted
    assert(rows.size == 3 && 2 * (rows(0) + rows(1)) >= rows(2))
    val expected = textsOf(table, before)
    val snap = table.compact(maxFilesPerBucket = 2)
    // the base was folded in too: one fresh file, every mask applied
    assert(snap.files.size == 1 && !before.files.exists(_.path == snap.files.head.path))
    assert(snap.dvFiles.isEmpty)
    assert(textsOf(table, snap) == expected && expected.size == 40)
  }

  test("partial compaction compares rows: deltas over half a base's bytes but under half its rows fold alone") {
    val urls = (1 to 400).map(i => s"https://a/p$i")
    // a compacted base of 400 urls, then two deltas of 90 updates each:
    // under half the base in rows, over half of it in bytes (a small file
    // holds more bytes per row: fixed per-file and per-chunk overhead, and
    // fewer rows to compress together)
    val table = oneBucketDv(Seq(
      urls.zipWithIndex.map { case (u, i) => ("I", i + 1L, u) },
      urls.take(10).zipWithIndex.map { case (u, i) => ("U", 500L + i, u) }))
    val base = table.compact(maxFilesPerBucket = 1).files.head
    applyHand(table, 2L, urls.slice(100, 190).zipWithIndex.map { case (u, i) => ("U", 1000L + i, u) })
    applyHand(table, 3L, urls.slice(200, 290).zipWithIndex.map { case (u, i) => ("U", 2000L + i, u) })
    val before = table.currentSnapshot.get
    val deltas = before.files.filterNot(_.path == base.path)
    assert(before.files.size == 3 && deltas.map(_.rows) == Seq(90L, 90L) && base.rows == 400)
    assert(2 * deltas.map(_.bytes).sum >= base.bytes,
      s"want deltas over half the base in bytes: ${deltas.map(_.bytes)} vs ${base.bytes}")
    val expected = textsOf(table, before)
    val snap = table.compact(maxFilesPerBucket = 2)
    // only the deltas were folded: the base stays, with its masks
    assert(snap.files.size == 2 && snap.files.exists(_.path == base.path))
    assert(dvEntries(snap).map(_._1) == Set(uriOf(base)))
    assert(liveDupes(table, snap) == 0)
    assert(textsOf(table, snap) == expected && expected.size == 400)
  }

  test("partial compaction keeps the sidecar list when no rewritten file carries a DV entry") {
    val urls = (1 to 200).map(i => s"https://a/p$i")
    // the first delta masks base rows; the second only inserts new urls,
    // so no DV entry points at either delta
    val table = oneBucketDv(Seq(
      urls.zipWithIndex.map { case (u, i) => ("I", i + 1L, u) },
      urls.take(3).zipWithIndex.map { case (u, i) => ("U", 1000L + i, u) },
      (1 to 3).map(i => ("I", 2000L + i, s"https://a/q$i"))))
    val before = table.currentSnapshot.get
    val base = before.files.maxBy(_.rows)
    val rows = before.files.map(_.rows).sorted
    assert(rows.size == 3 && 2 * (rows(0) + rows(1)) < rows(2))
    assert(before.dvFiles.nonEmpty)
    val expected = textsOf(table, before)
    val snap = table.compact(maxFilesPerBucket = 2)
    assert(snap.files.size == 2 && snap.files.exists(_.path == base.path))
    // no consolidation: the very same sidecars, all pointing at the base
    assert(snap.dvFiles == before.dvFiles)
    assert(dvEntries(snap).map(_._1) == Set(uriOf(base)))
    assert(liveDupes(table, snap) == 0)
    assert(textsOf(table, snap) == expected && expected.size == 203)
  }

  test("changes() over dv versions classifies inserts/updates/deletes") {
    val table = new LakeTable(spark, tmpDir())
    val groups = segGroups(allEvents, 8)
    var vFrom = -1L
    groups.zipWithIndex.foreach { case (g, i) =>
      CdcApply.applyBatchDv(table, spark.createDataset(g).toDF(), "q", i.toLong,
        createBuckets = 16)
      if (i == 0) vFrom = table.currentSnapshot.get.version
    }
    val vTo = table.currentSnapshot.get.version
    val got = table.changes(vFrom, vTo).collect()
      .map(r => r.getAs[String]("url") ->
        (r.getAs[String]("change_type"), r.getAs[String]("text"))).toMap
    // independent twin: LWW state after the first window vs the final state
    val s1 = expectedState(groups.head)
    val s2 = expectedState(allEvents)
    val all1 = { // including tombstone winners, for update-vs-insert classing
      val m = scala.collection.mutable.Map.empty[String, GenEvent]
      groups.head.sortBy(e => (e.lsn, e.wal_part)).foreach(e => m(e.url) = e)
      m.toMap
    }
    val expected = (s1.keySet ++ s2.keySet).flatMap { url =>
      (s1.get(url), s2.get(url)) match {
        case (None, Some(e)) => Some(url -> ("insert", e.text))
        case (Some(p), None) => Some(url -> ("delete", p.text))
        case (Some(p), Some(e)) if (p.lsn, p.wal_part) != (e.lsn, e.wal_part) =>
          Some(url -> ("update", e.text))
        case _ =>
          // urls dead at BOTH versions can still differ (tombstone advanced) —
          // the changelog contract only covers live-state change, and the
          // implementation emits nothing for dead→dead; ignore
          None
      }
    }.toMap
    assert(got == expected)
  }

  test("expiry keeps referenced sidecars; orphaned ones are swept after compaction") {
    val table = new LakeTable(spark, tmpDir())
    replayDv(table, segGroups(allEvents, 4), "q")
    val withDv = table.currentSnapshot.get
    assert(withDv.dvFiles.nonEmpty)
    // expire down to the head only: its sidecars must survive
    table.expireSnapshots(keepLast = 1)
    assert(pagesMap(table.pages(table.currentSnapshot.get)) == golden)
    // full compaction drops the DV list; expiry may then sweep the sidecars
    table.compact(maxFilesPerBucket = 1)
    table.expireSnapshots(keepLast = 1)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    withDv.dvFiles.foreach { dv =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dv.path)),
        s"orphaned sidecar ${dv.path} survived the sweep")
    }
    assert(pagesMap(table.pages(table.currentSnapshot.get)) == golden)
  }

  test("schema evolution applies mid-stream in dv mode") {
    val table = new LakeTable(spark, tmpDir())
    val ts = new Timestamp(1704067200000L)
    val b0 = Seq(("I", 1L, 0, "https://s/1", ts, "t1", "en", 7))
      .toDF("op", "lsn", "wal_part", "url", "warc_ts", "text", "lang", "score")
    val b1 = Seq(
      ("I", 2L, 0, "https://s/2", ts, "t2", "en", 123456789012L, 200),
      ("U", 3L, 0, "https://s/1", ts, "t1b", "en", 5L, 304))
      .toDF("op", "lsn", "wal_part", "url", "warc_ts", "text", "lang", "score", "fetch_status")
    CdcApply.applyBatchDv(table, b0, "q", 0L, createBuckets = 4)
    CdcApply.applyBatchDv(table, b1, "q", 1L, createBuckets = 4)
    val schema = table.currentFileSchema(table.currentSnapshot.get)
    assert(schema("score").dataType == org.apache.spark.sql.types.LongType)
    assert(schema.fieldNames.contains("fetch_status"))
    val rows = table.pages().collect()
      .map(r => r.getAs[String]("url") ->
        (r.getAs[String]("text"), r.getAs[Long]("score"),
          Option(r.getAs[Integer]("fetch_status")).map(_.toInt)))
      .toMap
    assert(rows == Map(
      "https://s/1" -> ("t1b", 5L, Some(304)),
      "https://s/2" -> ("t2", 123456789012L, Some(200))))
  }

  test("dv apply refuses a multi-version (merge-on-read) base") {
    val table = new LakeTable(spark, tmpDir())
    val g = segGroups(allEvents, 8)
    // two L0 appends, each flushed into its buckets: the buckets then hold
    // two versions of some urls, with no L0 file left
    segGroups(g.head, 4).zipWithIndex.foreach { case (h, i) =>
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(h).toDF(), "q", i.toLong,
        createBuckets = 16)
      table.compact(maxFilesPerBucket = 2)
    }
    assert(table.currentSnapshot.get.files.forall(_.bucket >= 0))
    val e = intercept[IllegalArgumentException] {
      CdcApply.applyBatchDv(table, spark.createDataset(g(1)).toDF(), "q", 2L,
        createBuckets = 16)
    }
    assert(e.getMessage.contains("single-version base"))
    // after a full compaction the base is single-version again → dv applies
    table.compact(maxFilesPerBucket = 1)
    CdcApply.applyBatchDv(table, spark.createDataset(g(1)).toDF(), "q", 2L,
      createBuckets = 16)
    assert(pagesMap(table.pages()) == expectedMap(g.head ++ g(1)))
  }

  test("mask correctness survives the shuffled anti-join fallback (DvBroadcastLimit=0)") {
    val table = new LakeTable(spark, tmpDir())
    table.dvBroadcastLimit = 0 // force the non-broadcast path
    replayDv(table, segGroups(allEvents, 8), "q")
    val snap = table.currentSnapshot.get
    assert(snap.dvFiles.nonEmpty)
    assert(pagesMap(table.pages(snap)) == golden)
    assert(liveDupes(table, snap) == 0)
  }

  test("streaming dv mode: checkpoint resume applies nothing; auto-compaction folds masks") {
    val work = tmpDir()
    val wal = s"$work/wal"
    graft.gen.ChangeGen.writeWal(spark,
      graft.gen.GenConfig(events = 8000, segmentSize = 512), wal)
    val table = new LakeTable(spark, s"$work/lake")
    var applied = 0
    var firstFiles = Set.empty[String]
    // k = 2: the merged delta soon outgrows the first batch's files,
    // which then rank among the smallest and get folded too
    graft.cdc.CdcStream.start(spark, wal, table, s"$work/ckpt",
      maxFilesPerTrigger = 4, createBuckets = 16, mode = "dv",
      autoCompactFilesPerBucket = 2,
      onBatch = st => if (!st.skipped) {
        if (applied == 0) firstFiles = table.lastKnownSnapshot.get.files.map(_.path).toSet
        applied += 1
      }).awaitTermination()
    assert(applied > 3)
    val snap = table.currentSnapshot.get
    assert(pagesMap(table.pages(snap)) == golden)
    assert(liveDupes(table, snap) == 0)
    // auto-compaction ran mid-stream: per-bucket file counts are bounded,
    // the first batch's files were folded, and the consolidated DV list
    // reflects only still-live files
    assert(snap.files.groupBy(_.bucket).values.forall(_.size <= 2))
    assert(firstFiles.nonEmpty && firstFiles.intersect(snap.files.map(_.path).toSet).isEmpty)
    val live = snap.files.map(uriOf).toSet
    assert(dvEntries(snap).forall(e => live.contains(e._1)))
    // checkpoint resume: nothing new to apply, state unchanged
    var applied2 = 0
    graft.cdc.CdcStream.start(spark, wal, table, s"$work/ckpt",
      maxFilesPerTrigger = 4, createBuckets = 16, mode = "dv",
      onBatch = st => if (!st.skipped) applied2 += 1).awaitTermination()
    assert(applied2 == 0)
    assert(pagesMap(table.pages()) == golden)
  }

  test("exactly-once watermark skips a replayed dv batch") {
    val table = new LakeTable(spark, tmpDir())
    val groups = segGroups(allEvents, 8)
    replayDv(table, groups, "q")
    val before = table.currentSnapshot.get
    val st = CdcApply.applyBatchDv(table, spark.createDataset(groups(1)).toDF(), "q", 1L)
    assert(st.skipped)
    assert(table.currentSnapshot.get.version == before.version)
    assert(pagesMap(table.pages()) == golden)
  }
}
