package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.cdc.{CdcApply, CdcStream}
import graft.gen.{ChangeGen, GenConfig, GenEvent}
import graft.lake.LakeTable

/** Merge-on-read apply path (raw append as L0 spanning files, mode `l0`):
  * append-only delta files + LWW resolve at read, and bucketed multi-version
  * deltas once partial compactions flush L0. Must reach byte-identical state
  * to the dv path and the independent oracle.
  */
class CdcMorSpec extends SparkSpec {
  import spark.implicits._

  val cfg = GenConfig(events = 8000, segmentSize = 512)
  lazy val allEvents: Seq[GenEvent] = ChangeGen.events(spark, cfg).collect().toSeq
  lazy val golden: Map[String, (String, String, Long, Int)] = expectedMap(allEvents)

  private def replayMor(table: LakeTable, groups: Seq[Seq[GenEvent]], queryId: String): Unit =
    groups.zipWithIndex.foreach { case (g, i) =>
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(g).toDF(), queryId, i.toLong,
        createBuckets = 16)
    }

  private def segGroups(events: Seq[GenEvent], segsPerBatch: Int): Seq[Seq[GenEvent]] =
    events.groupBy(_.seg / segsPerBatch).toSeq.sortBy(_._1).map(_._2)

  test("MOR replay converges to the independent oracle (append-only writes)") {
    val table = new LakeTable(spark, tmpDir())
    val v0files = 0
    replayMor(table, segGroups(allEvents, 8), "m1")
    val snap = table.currentSnapshot.get
    assert(pagesMap(table.pages()) == golden)
    // append-only: every batch added files, none were rewritten
    assert(snap.files.size > v0files)
    val lineageBatches = snap.lineage.map(_.batchId).toSet
    assert(lineageBatches == segGroups(allEvents, 8).indices.map(_.toLong).toSet)
  }

  test("l0 and dv reach identical final state from the same WAL") {
    val mor = new LakeTable(spark, tmpDir()); replayMor(mor, segGroups(allEvents, 5), "m")
    val dv = new LakeTable(spark, tmpDir())
    segGroups(allEvents, 5).zipWithIndex.foreach { case (g, i) =>
      CdcApply.applyBatchDv(dv, spark.createDataset(g).toDF(), "d", i.toLong, createBuckets = 16)
    }
    assert(pagesMap(mor.pages()) == pagesMap(dv.pages()))
    assert(pagesMap(mor.pages()) == golden)
  }

  test("MOR re-applied batch is skipped (exactly-once watermark)") {
    val table = new LakeTable(spark, tmpDir())
    val groups = segGroups(allEvents, 8)
    replayMor(table, groups, "q")
    val before = table.currentSnapshot.get
    val st = CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(1)).toDF(), "q", 1L)
    assert(st.skipped)
    assert(table.currentSnapshot.get.version == before.version)
    assert(pagesMap(table.pages()) == golden)
  }

  test("MOR tombstone: stale update after delete stays dead across delta files") {
    val table = new LakeTable(spark, tmpDir())
    val ts = new Timestamp(1704067200000L)
    def ev(op: String, lsn: Long, part: Int, url: String, text: String): GenEvent =
      GenEvent(op, lsn, part, url, ts,
        if (op == "D") null else text.getBytes("UTF-8"),
        if (op == "D") null else text, if (op == "D") null else "en", 0L)
    val b0 = Seq(ev("I", 1, 0, "https://a/x", "v1"), ev("I", 2, 0, "https://a/y", "w1"))
    val b1 = Seq(ev("D", 10, 1, "https://a/x", null))
    val b2 = Seq(ev("U", 5, 2, "https://a/x", "stale"), ev("U", 11, 1, "https://a/y", "w2"))
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(b).toDF(), "q", i.toLong,
        createBuckets = 4)
    }
    val rows = table.pages().collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(rows == Map("https://a/y" -> "w2"))
    // point lookup resolves across deltas too
    assert(table.lookupUrl(table.currentSnapshot.get, "https://a/x").count() == 0)
    val y = table.lookupUrl(table.currentSnapshot.get, "https://a/y").collect()
    assert(y.length == 1 && y(0).getAs[String]("text") == "w2")
  }

  test("compaction folds MOR deltas to one file per bucket, preserving state") {
    val table = new LakeTable(spark, tmpDir())
    replayMor(table, segGroups(allEvents, 2), "q") // many delta commits
    val before = table.currentSnapshot.get
    assert(before.files.groupBy(_.bucket).values.exists(_.size > 1), "deltas expected")
    val maxLsn = allEvents.map(_.lsn).max
    val snap = table.compact(maxFilesPerBucket = 1, gcTombstonesBelowLsn = Some(maxLsn + 1))
    assert(snap.files.groupBy(_.bucket).values.forall(_.size == 1))
    assert(pagesMap(table.pages(snap)) == golden)
    assert(table.scanRaw(snap).filter(org.apache.spark.sql.functions.col("_deleted")).count() == 0)
    // pre-compaction snapshot still time-travels identically
    assert(pagesMap(table.pages(table.snapshotAt(before.version))) == golden)
  }

  test("partial compaction of raw deltas folds a subset per bucket and keeps needs_resolve") {
    val table = new LakeTable(spark, tmpDir())
    // a large first append, then two small ones, each flushed from L0 into
    // one file per bucket: the small pair stays under half the large file,
    // so each bucket folds only its two smallest files
    val ordered = allEvents.sortBy(e => (e.seg, e.lsn))
    val (first, rest) = ordered.splitAt(ordered.size * 7 / 8)
    val (second, third) = rest.splitAt(rest.size / 2)
    Seq(first, second, third).zipWithIndex.foreach { case (g, i) =>
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(g).toDF(), "r", i.toLong,
        createBuckets = 16)
      table.compact(maxFilesPerBucket = 2) // flushes only the L0 group
    }
    val before = table.currentSnapshot.get
    assert(before.files.groupBy(_.bucket).values.forall(_.size > 2), "every bucket over k")
    val snap = table.compact(maxFilesPerBucket = 2)
    assert(snap.files.groupBy(_.bucket).values.forall(_.size == 2))
    // every bucket was compacted but not every file: the files left in place
    // can still hold older versions of a url, so reads must keep resolving
    assert(before.files.exists(f => snap.files.exists(_.path == f.path)))
    assert(table.needsResolve(snap))
    assert(pagesMap(table.pages(snap)) == golden)
  }

  test("tombstone GC takes the whole bucket: a victim in the largest file stays deleted") {
    val table = new LakeTable(spark, tmpDir())
    val ts = new Timestamp(1704067200000L)
    def ev(op: String, lsn: Long, url: String, text: String): GenEvent =
      GenEvent(op, lsn, 0, url, ts,
        if (op == "D") null else text.getBytes("UTF-8"),
        if (op == "D") null else text, if (op == "D") null else "en", 0L)
    val filler = (1 to 50).map(i => ev("I", i + 1L, s"https://a/f$i", s"filler text $i"))
    // tombstones of urls never inserted: each small batch has three rows, so
    // it lands as three L0 files and a k = 2 compaction flushes it
    def never(lsn: Long) = Seq(ev("D", lsn, s"https://a/never$lsn", null),
      ev("D", lsn + 1, s"https://a/never${lsn + 1}", null))
    // one bucket: the victim x lives in the largest file, its tombstone and
    // an unrelated update in two small ones, each flushed from L0
    Seq(
      ev("I", 1, "https://a/x", "v1") +: filler,
      ev("D", 100, "https://a/x", null) +: never(102),
      ev("U", 101, "https://a/f1", "w2") +: never(104)).zipWithIndex.foreach { case (b, i) =>
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(b).toDF(), "g", i.toLong,
        createBuckets = 1)
      table.compact(maxFilesPerBucket = 2) // flushes only the L0 group
    }
    val before = table.currentSnapshot.get
    assert(before.files.size == 3)
    assert(before.files.map(_.rows).max == 51, "the victim's file must be the largest")
    val snap = table.compact(maxFilesPerBucket = 2, gcTombstonesBelowLsn = Some(1000L))
    assert(table.scanRaw(snap).filter(org.apache.spark.sql.functions.col("_deleted")).count() == 0,
      "the tombstone was GC'd")
    val rows = table.pages(snap).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(!rows.contains("https://a/x"), "x must stay deleted")
    assert(rows.size == 50 && rows("https://a/f1") == "w2")
  }

  test("L0 spanning append converges, serves lookups pre-flush, and flushes to buckets") {
    val table = new LakeTable(spark, tmpDir())
    segGroups(allEvents, 8).zipWithIndex.foreach { case (g, i) =>
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(g).toDF(), "l", i.toLong,
        createBuckets = 16)
    }
    val snap = table.currentSnapshot.get
    // every data file is an un-bucketed L0 spanning file
    assert(snap.files.nonEmpty && snap.files.forall(_.bucket == -1))
    assert(pagesMap(table.pages()) == golden)
    // point lookup resolves across L0 files (planFiles treats -1 as every bucket)
    val someLive = golden.keys.head
    assert(table.lookupUrl(snap, someLive).count() == 1)
    // compaction = L0→bucket flush: spanning files disappear, state preserved
    val maxLsn = allEvents.map(_.lsn).max
    val flushed = table.compact(maxFilesPerBucket = 1, gcTombstonesBelowLsn = Some(maxLsn + 1))
    assert(flushed.files.forall(_.bucket >= 0))
    assert(pagesMap(table.pages(flushed)) == golden)
    assert(table.scanRaw(flushed).filter(org.apache.spark.sql.functions.col("_deleted")).count() == 0)
  }

  test("L0 partial flush never GCs a tombstone whose victim lives in a bucketed file") {
    val table = new LakeTable(spark, tmpDir())
    val ts = new Timestamp(1704067200000L)
    def ev(op: String, lsn: Long, part: Int, url: String, text: String): GenEvent =
      GenEvent(op, lsn, part, url, ts,
        if (op == "D") null else text.getBytes("UTF-8"),
        if (op == "D") null else text, if (op == "D") null else "en", 0L)
    // batch 0: flushed into a bucket file that holds the live row
    CdcApply.applyBatchAppendRaw(table,
      spark.createDataset(Seq(ev("I", 1, 0, "https://a/x", "v1"))).toDF(), "g", 0L,
      createBuckets = 4)
    table.compact()
    // batches 1-3: L0 spanning files; batch 1 holds the tombstone
    Seq(
      Seq(ev("D", 10, 1, "https://a/x", null)),
      Seq(ev("I", 11, 1, "https://a/y", "w1")),
      Seq(ev("U", 12, 1, "https://a/y", "w2"))).zipWithIndex.foreach { case (b, i) =>
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(b).toDF(), "g", i + 1L,
        createBuckets = 4)
    }
    // partial compaction targeting only the L0 group (3 files > 2), GC armed:
    // the tombstone's victim sits in a bucketed file OUTSIDE the input, so GC
    // must be suppressed — otherwise v1 would resurrect.
    val bucketedBefore = table.currentSnapshot.get.files.filter(_.bucket >= 0).map(_.path).toSet
    val snap = table.compact(maxFilesPerBucket = 2, gcTombstonesBelowLsn = Some(100L))
    assert(snap.files.forall(_.bucket >= 0), "L0 group should have been flushed")
    // incrementality (the O(new-data) flush property): pre-existing bucketed
    // files are NOT rewritten by an L0-only flush — only the L0 group was read
    assert(bucketedBefore.subsetOf(snap.files.map(_.path).toSet),
      "partial L0 flush must leave pre-existing bucketed files untouched")
    val rows = table.pages(snap).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(rows == Map("https://a/y" -> "w2"), "tombstone must survive a partial L0 flush")
    // full compaction covers every group → GC is safe: tombstone gone, x stays dead
    val full = table.compact(maxFilesPerBucket = 1, gcTombstonesBelowLsn = Some(100L))
    assert(table.scanRaw(full).filter(org.apache.spark.sql.functions.col("_deleted")).count() == 0)
    val after = table.pages(full).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(after == Map("https://a/y" -> "w2"))
  }

  test("schema evolution on the L0 path: added column + widened type survive the flush") {
    val table = new LakeTable(spark, tmpDir())
    val ts = new Timestamp(1704067200000L)
    val b0: DataFrame = Seq(
      ("I", 1L, 0, "https://s/1", ts, "t1", "en", 7)
    ).toDF("op", "lsn", "wal_part", "url", "warc_ts", "text", "lang", "score")
    // v2 adds fetch_status and widens score int→long
    val b1: DataFrame = Seq(
      ("I", 2L, 0, "https://s/2", ts, "t2", "en", 123456789012L, 200),
      ("U", 3L, 0, "https://s/1", ts, "t1b", "en", 5L, 304)
    ).toDF("op", "lsn", "wal_part", "url", "warc_ts", "text", "lang", "score", "fetch_status")
    CdcApply.applyBatchAppendRaw(table, b0, "q", 0L, createBuckets = 4)
    CdcApply.applyBatchAppendRaw(table, b1, "q", 1L, createBuckets = 4)
    val snap = table.currentSnapshot.get
    val schema = table.currentFileSchema(snap)
    assert(schema("score").dataType == org.apache.spark.sql.types.LongType)
    assert(schema.fieldNames.contains("fetch_status"))
    def state(s: graft.lake.Snapshot): Map[String, (String, Long, Option[Int])] =
      table.pages(s).collect()
        .map(r => r.getAs[String]("url") ->
          (r.getAs[String]("text"), r.getAs[Long]("score"),
            Option(r.getAs[Integer]("fetch_status")).map(_.toInt)))
        .toMap
    val expected = Map(
      "https://s/1" -> ("t1b", 5L, Some(304)),
      "https://s/2" -> ("t2", 123456789012L, Some(200)))
    // pre-flush: the L0 resolve reads heterogeneous file schemas (old files
    // lack fetch_status, carry int score) under the evolved table schema
    assert(state(snap) == expected)
    // the L0→bucket flush folds mixed-schema L0 files; state is preserved
    val flushed = table.compact(maxFilesPerBucket = 1, gcTombstonesBelowLsn = Some(100L))
    assert(flushed.files.forall(_.bucket >= 0))
    assert(state(flushed) == expected)
    assert(table.currentFileSchema(flushed)("score").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("L0 apply moves zero shuffle bytes (scan -> project -> write, no exchange)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        shuffleWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        stages.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val table = new LakeTable(spark, tmpDir())
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(allEvents).toDF(), "z", 0L,
        createBuckets = 16)
      // listener delivery is async; wait for the stage events to drain
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stages.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(stages.get() > 0, "no stage events observed")
      Thread.sleep(200) // let any straggler stage event land
      assert(shuffleWrite.get() == 0L,
        s"L0 apply wrote ${shuffleWrite.get()} shuffle bytes; expected none")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("streaming L0 tail with auto-compaction drains to the golden state") {
    val work = tmpDir()
    val walDir = s"$work/wal"
    ChangeGen.writeWal(spark, cfg, walDir)
    val table = new LakeTable(spark, s"$work/lake")
    CdcStream.start(spark, walDir, table, s"$work/ckpt", queryId = "s0",
      maxFilesPerTrigger = 4, createBuckets = 16, mode = "l0",
      autoCompactFilesPerBucket = 3).awaitTermination()
    assert(pagesMap(table.pages()) == golden)
    // auto-compaction kept the L0 group bounded
    val l0 = table.currentSnapshot.get.files.count(_.bucket == -1)
    assert(l0 <= 3, s"expected <=3 un-flushed L0 files, saw $l0")
  }

  test("streaming MOR tail drains to the golden state and resumes exactly-once") {
    val work = tmpDir()
    val walDir = s"$work/wal"
    ChangeGen.writeWal(spark, cfg, walDir)
    val table = new LakeTable(spark, s"$work/lake")
    CdcStream.start(spark, walDir, table, s"$work/ckpt", queryId = "s",
      maxFilesPerTrigger = 6, createBuckets = 16, mode = "l0").awaitTermination()
    assert(pagesMap(table.pages()) == golden)
    val v = table.currentSnapshot.get.version
    // second run: nothing new → same version
    CdcStream.start(spark, walDir, table, s"$work/ckpt", queryId = "s",
      maxFilesPerTrigger = 6, createBuckets = 16, mode = "l0").awaitTermination()
    assert(table.currentSnapshot.get.version == v)
    // wipe checkpoint: all batches replay as skips, state unchanged
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$work/ckpt"))
    var skips = 0
    CdcStream.start(spark, walDir, table, s"$work/ckpt2", queryId = "s",
      maxFilesPerTrigger = 6, createBuckets = 16, mode = "l0",
      onBatch = st => if (st.skipped) skips += 1).awaitTermination()
    assert(skips > 0)
    assert(pagesMap(table.pages()) == golden)
  }
}
