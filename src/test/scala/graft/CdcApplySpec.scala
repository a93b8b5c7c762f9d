package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.cdc.CdcApply
import graft.gen.{ChangeGen, GenConfig, GenEvent}
import graft.lake.LakeTable

/** Raw-append apply ([[CdcApply.applyBatchAppendRaw]]): L0 spanning appends
  * resolve last-writer-wins on read, both among themselves and against the
  * bucket files an L0 flush left behind, so tombstones, schema evolution and
  * manifest pruning must hold without any merge at write time. The
  * deletion-vector path has its own spec.
  */
class CdcApplySpec extends SparkSpec {
  import spark.implicits._

  val cfg = GenConfig(events = 8000, segmentSize = 512)
  lazy val allEvents: Seq[GenEvent] =
    ChangeGen.events(spark, cfg).collect().toSeq
  lazy val golden: Map[String, (String, String, Long, Int)] = expectedMap(allEvents)

  private def segGroups(events: Seq[GenEvent], segsPerBatch: Int): Seq[Seq[GenEvent]] =
    events.groupBy(_.seg / segsPerBatch).toSeq.sortBy(_._1).map(_._2)

  test("stale update arriving after a delete does not resurrect the row (tombstone)") {
    val ts = new Timestamp(1704067200000L)
    def ev(op: String, lsn: Long, part: Int, url: String, text: String): GenEvent =
      GenEvent(op, lsn, part, url,
        ts, if (op == "D") null else text.getBytes("UTF-8"),
        if (op == "D") null else text, if (op == "D") null else "en", 0L)
    // batch 0: insert u1@1, insert u2@2 ; batch 1: delete u1@10
    // batch 2: stale update u1@5 (lower lsn than the delete, later arrival)
    val b0 = Seq(ev("I", 1, 0, "https://a/x", "v1"), ev("I", 2, 0, "https://a/y", "w1"))
    val b1 = Seq(ev("D", 10, 1, "https://a/x", null))
    val b2 = Seq(ev("U", 5, 2, "https://a/x", "stale"), ev("U", 11, 1, "https://a/y", "w2"))
    // flushed: the tombstone sits in a bucket file, the stale update in L0
    for (flushed <- Seq(false, true)) {
      val table = new LakeTable(spark, tmpDir())
      Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
        CdcApply.applyBatchAppendRaw(table, spark.createDataset(b).toDF(), "q", i.toLong,
          createBuckets = 4)
        if (flushed && i == 1) table.compact()
      }
      val rows = table.pages().collect()
        .map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
      assert(rows == Map("https://a/y" -> "w2"), s"flushed=$flushed") // u1 stays deleted
    }
  }

  test("schema evolution: added column and widened type apply mid-stream") {
    val ts = new Timestamp(1704067200000L)
    val b0: DataFrame = Seq(
      ("I", 1L, 0, "https://s/1", ts, "t1", "en", 7)
    ).toDF("op", "lsn", "wal_part", "url", "warc_ts", "text", "lang", "score")
    // v2 adds fetch_status and widens score int→long
    val b1: DataFrame = Seq(
      ("I", 2L, 0, "https://s/2", ts, "t2", "en", 123456789012L, 200),
      ("U", 3L, 0, "https://s/1", ts, "t1b", "en", 5L, 304)
    ).toDF("op", "lsn", "wal_part", "url", "warc_ts", "text", "lang", "score", "fetch_status")
    // flushed: the old-schema row sits in a bucket file, the evolved ones in L0
    for (flushed <- Seq(false, true)) {
      val table = new LakeTable(spark, tmpDir())
      CdcApply.applyBatchAppendRaw(table, b0, "q", 0L, createBuckets = 4)
      if (flushed) table.compact()
      CdcApply.applyBatchAppendRaw(table, b1, "q", 1L, createBuckets = 4)
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
        "https://s/2" -> ("t2", 123456789012L, Some(200))), s"flushed=$flushed")
    }
  }

  test("manifest pruning: point lookup touches at most the files of one bucket") {
    // before a flush a lookup plans the L0 group (bucket -1, a member of
    // every bucket) plus one bucket's files; after it, one bucket's files
    val table = new LakeTable(spark, tmpDir())
    val groups = segGroups(allEvents, 8)
    assert(groups.size >= 2, s"want at least 2 batches, got ${groups.size}")
    groups.zipWithIndex.foreach { case (g, i) =>
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(g).toDF(), "q", i.toLong,
        createBuckets = 16)
      if (i == 0) table.compact() // flush the first batch into buckets
    }
    val url = golden.keysIterator.next()
    val h = LakeTable.urlHash(url)
    def check(snap: graft.lake.Snapshot): Unit = {
      val b = LakeTable.bucketOf(h, snap.buckets)
      val planned = table.planFiles(snap, buckets = Some(Set(b)), urlHash = Some(h))
      assert(planned.nonEmpty)
      assert(planned.size < snap.files.size, "pruning must cut the file list")
      assert(planned.forall(f => f.bucket == -1 || f.bucket == b))
      val row = table.lookupUrl(snap, url).collect()
      assert(row.length == 1 && row(0).getAs[String]("text") == golden(url)._1)
    }
    val before = table.currentSnapshot.get
    assert(before.files.exists(_.bucket == -1) && before.files.exists(_.bucket >= 0))
    check(before)
    val after = table.compact()
    assert(after.files.forall(_.bucket >= 0))
    check(after)
  }
}
