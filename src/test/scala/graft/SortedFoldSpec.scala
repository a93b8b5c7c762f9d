package graft

import java.sql.Timestamp

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.{col, struct}

import graft.cdc.CdcApply
import graft.gen.{ChangeGen, GenConfig, GenEvent}
import graft.lake.{KeyChange, LakeTable}

/** The sort-based single-exchange compaction fold: equivalence with an
  * independent wide `max_by` fold, one-shuffle plan shape, GC-after-winner
  * ordering, and the KeyChange expression's per-partition streaming
  * semantics.
  */
class SortedFoldSpec extends SparkSpec {
  import spark.implicits._

  val cfg = GenConfig(events = 8000, segmentSize = 512)
  lazy val allEvents: Seq[GenEvent] = ChangeGen.events(spark, cfg).collect().toSeq
  lazy val golden: Map[String, (String, String, Long, Int)] = expectedMap(allEvents)

  private def segGroups(events: Seq[GenEvent], segsPerBatch: Int): Seq[Seq[GenEvent]] =
    events.groupBy(_.seg / segsPerBatch).toSeq.sortBy(_._1).map(_._2)

  private def l0Replay(table: LakeTable): Unit =
    segGroups(allEvents, 4).zipWithIndex.foreach { case (g, i) =>
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(g).toDF(), "f", i.toLong,
        createBuckets = 16)
    }

  /** The wide `max_by` LWW fold over `raw`: one winner row per url
    * (tombstone winners included) — the independent twin of the sorted fold. */
  private def maxByWinners(raw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    raw.groupBy(col("url"))
      .agg(org.apache.spark.sql.functions.max_by(
        struct(raw.columns.map(col).toIndexedSeq: _*),
        struct(col("_lsn"), col("_wal_part"))).as("w"))
      .select(col("w.*"))

  test("sorted fold equals an independent max_by fold of the same input") {
    val table = new LakeTable(spark, tmpDir())
    l0Replay(table)
    val before = table.currentSnapshot.get
    val winners = maxByWinners(
      table.readFiles(before, before.files, table.currentFileSchema(before)))
    val snap = table.compact(maxFilesPerBucket = 1)
    assert(snap.files.forall(_.bucket >= 0))
    assert(pagesMap(table.pages(snap)) == golden)
    assert(pagesMap(winners.filter(!col("_deleted"))) == golden)
    // one row per url (tombstone winners kept: no GC watermark), each in its
    // hash bucket
    val maxByBuckets = winners.select(col("_urlhash")).as[Long].collect()
      .groupBy(h => LakeTable.bucketOf(h, snap.buckets)).view.mapValues(_.length.toLong).toMap
    assert(snap.files.groupBy(_.bucket).view.mapValues(_.map(_.rows).sum).toMap ==
      maxByBuckets)
    assert(table.scanRaw(snap).count() == winners.count())
  }

  /** Stages that wrote shuffle bytes while `body` ran. */
  private def shufflesDuring(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        if (s.stageInfo.taskMetrics != null &&
            s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
          counter.incrementAndGet()
        stages.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener delivery is async; wait for the stage events to drain
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stages.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(300) // let straggler stage events land
    } finally spark.sparkContext.removeSparkListener(listener)
    counter.get()
  }

  test("sorted fold runs exactly one shuffle") {
    val table = new LakeTable(spark, tmpDir())
    l0Replay(table)
    assert(shufflesDuring(table.compact(maxFilesPerBucket = 1)) == 1)
    // a dv table's compaction is single-version input through the same
    // fold: one shuffle, and every unmasked row is kept
    val dv = new LakeTable(spark, tmpDir())
    segGroups(allEvents, 8).zipWithIndex.foreach { case (g, i) =>
      CdcApply.applyBatchDv(dv, spark.createDataset(g).toDF(), "d", i.toLong,
        createBuckets = 16)
    }
    val before = dv.currentSnapshot.get
    assert(before.dvFiles.nonEmpty && !dv.needsResolve(before))
    val rows = dv.scanRaw(before).count()
    assert(shufflesDuring(dv.compact(maxFilesPerBucket = 1)) == 1)
    val after = dv.currentSnapshot.get
    assert(after.dvFiles.isEmpty)
    assert(dv.scanRaw(after).count() == rows)
  }

  test("GC runs after the winner filter: a GC'd tombstone never resurrects its victim") {
    val table = new LakeTable(spark, tmpDir())
    val ts = new Timestamp(1704067200000L)
    def ev(op: String, lsn: Long, url: String, text: String): GenEvent =
      GenEvent(op, lsn, 0, url, ts,
        if (op == "D") null else text.getBytes("UTF-8"),
        if (op == "D") null else text, if (op == "D") null else "en", 0L)
    // url x: insert then tombstone, BOTH below the GC watermark. If the GC
    // predicate ever ran before the winner selection it would drop only the
    // tombstone and the insert would win — x must instead vanish entirely.
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(Seq(
      ev("I", 1, "https://a/x", "v1"), ev("I", 2, "https://a/y", "keep"))).toDF(),
      "g", 0L, createBuckets = 4)
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(Seq(
      ev("D", 3, "https://a/x", null))).toDF(), "g", 1L, createBuckets = 4)
    val snap = table.compact(maxFilesPerBucket = 1, gcTombstonesBelowLsn = Some(100L))
    val state = table.pages(snap).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(state == Map("https://a/y" -> "keep"))
    assert(table.scanRaw(snap).filter(col("_deleted")).count() == 0)
  }

  test("adversarial fold input: unaligned buckets/tasks, keys scattered across files") {
    // The KeyChange contract is "all rows of a key are consecutive within
    // the partition". Attack it: 48 buckets folded into 5 tasks (not a
    // divisor — several buckets per task, unevenly), an L0 set of 36 small
    // files where every url's events are scattered over ≥7 different files
    // with permuted lsn placement, plus delete-winners. A key straddling
    // partitions would surface as a duplicate winner; a missed group as a
    // wrong winner vs the independent max_by computation.
    val table = new LakeTable(spark, tmpDir())
    val ts = new Timestamp(1704067200000L)
    val nUrls = 300
    def urlOf(u: Int) = s"https://adv.example.com/p/$u"
    def ev(u: Int, p: Int, batch: Int): GenEvent = {
      val lsn = u.toLong * 100 + p
      val del = p == 6 && u % 11 == 0 // the WINNER (max lsn) is a delete
      val text = if (p == 6) s"t$u-final" else s"t$u-v$p"
      GenEvent(if (del) "D" else "U", lsn, batch, urlOf(u), ts,
        if (del) null else text.getBytes("UTF-8"),
        if (del) null else text, if (del) null else "en", batch.toLong)
    }
    val byBatch = (0 until nUrls).flatMap { u =>
      (0 until 7).map(p => ((u + p * 5) % 12, ev(u, p, (u + p * 5) % 12)))
    }.groupBy(_._1).toSeq.sortBy(_._1)
    byBatch.foreach { case (b, evs) =>
      val shuffled = new scala.util.Random(b).shuffle(evs.map(_._2))
      CdcApply.applyBatchAppendRaw(table,
        spark.createDataset(shuffled).toDF().repartition(3), "adv", b.toLong,
        createBuckets = 48)
    }
    val snap = table.currentSnapshot.get
    require(snap.files.size >= 30, s"want many small L0 files, got ${snap.files.size}")
    val schema = table.currentFileSchema(snap)
    val raw = table.readFiles(snap, snap.files, schema)
    val out = table.writeDataFiles(raw, snap.currentSchemaId,
      buckets = 48, nTasks = 5)
    assert(out.map(_.bucket).distinct.size > 5) // genuinely multi-bucket
    val folded = table.readFiles(snap, out, schema)
    // exactly one winner per url — the straddle failure mode is a duplicate
    assert(folded.groupBy("url").count().filter(col("count") > 1).count() == 0)
    val live = folded.filter(!col("_deleted"))
      .select("url", "text").as[(String, String)].collect().toMap
    val expected = (0 until nUrls).filterNot(_ % 11 == 0)
      .map(u => urlOf(u) -> s"t$u-final").toMap
    assert(live == expected)
    // delete-winners survive as tombstones (no GC watermark passed)
    assert(folded.filter(col("_deleted")).count() ==
      (0 until nUrls).count(_ % 11 == 0).toLong)
    // independent cross-check: the wide max_by plan over the SAME raw agrees
    val maxby = maxByWinners(raw).filter(!col("_deleted"))
      .select("url", "text").as[(String, String)].collect().toMap
    assert(live == maxby)
  }

  test("KeyChange keeps the first row of each sorted key group, per partition") {
    // one partition: groups are runs; first of each run survives
    val one = Seq(("a", 3), ("a", 2), ("b", 9), ("c", 5), ("c", 1))
      .toDF("k", "v").coalesce(1).sortWithinPartitions(col("k"), col("v").desc)
    val kept = one.filter(KeyChange.column(col("k")))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(kept == Seq(("a", 3), ("b", 9), ("c", 5)))
    // state resets per partition: the same key leading two partitions
    // survives in each (the caller owns key-to-partition co-location)
    val two = spark.range(0, 2, 1, 2).selectExpr("'dup' AS k", "id AS v")
    assert(two.filter(KeyChange.column(col("k"))).count() == 2)
    // interpreted eval path (no codegen) agrees
    import org.apache.spark.sql.GraftExpr
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val e = KeyChange(GraftExpr.expression(col("k"))).copy(
      child = org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.StringType, nullable = true))
    e.initialize(0)
    def row(s: String) = InternalRow(if (s == null) null else UTF8String.fromString(s))
    assert(e.eval(row("a")) == true)
    assert(e.eval(row("a")) == false)
    assert(e.eval(row(null)) == true)
    assert(e.eval(row(null)) == false)
    assert(e.eval(row("b")) == true)
    e.initialize(1)
    assert(e.eval(row("b")) == true)
  }
}
