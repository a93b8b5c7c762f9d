package graft

import org.apache.spark.sql.SparkSession

import graft.cdc.CdcStream
import graft.gen.{ChangeGen, GenConfig}
import graft.lake.LakeTable

/** End-to-end demo driver: synthesize a WAL, tail it with the streaming CDC
  * engine into a lake table, then query the result. Usage:
  * {{{ sbt "runMain graft.Demo <workDir> [numEvents]" }}}
  * Re-running against the same workDir exercises checkpoint resume + the
  * exactly-once watermark (second run applies nothing new).
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(sys.error("usage: Demo <workDir> [numEvents]"))
    val n = args.lift(1).map(_.toLong).getOrElse(20000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val wal = s"$work/wal"; val lake = s"$work/lake"; val ckpt = s"$work/ckpt"
    val cfg = GenConfig(events = n, segmentSize = math.max(1024L, n / 16))
    if (!new java.io.File(wal).exists()) {
      println(s"[demo] generating $n change events into $wal ...")
      ChangeGen.writeWal(spark, cfg, wal)
    } else println(s"[demo] reusing existing WAL at $wal")

    val table = new LakeTable(spark, lake)
    // SPARK_GRAFT_MODE selects the apply mode: l0 (default) | dv
    val mode = sys.env.getOrElse("SPARK_GRAFT_MODE", "l0")
    var applied = 0L; var skipped = 0L
    val q = CdcStream.start(spark, wal, table, ckpt, maxFilesPerTrigger = 8,
      createBuckets = 32, mode = mode, onBatch = { st =>
        if (st.skipped) skipped += 1 else applied += 1
        println(f"[demo] batch ${st.batchId}%3d ${if (st.skipped) "SKIP" else "apply"}" +
          f" events=${st.events}%7d upserts=${st.upserts}%7d deletes=${st.deletes}%5d" +
          f" lsn=[${st.minLsn},${st.maxLsn}] -> v${st.version}")
      })
    q.awaitTermination()

    val snap = table.currentSnapshot.get
    println(s"[demo] mode=$mode batches applied=$applied skipped=$skipped;" +
      s" table version=${snap.version} files=${snap.files.size} buckets=${snap.buckets}")
    val pages = table.pages()
    println(s"[demo] live pages: ${pages.count()}")
    pages.orderBy("url").show(5, 60)
    val someUrl = pages.select("url").orderBy("url").head().getString(0)
    println(s"[demo] point lookup ($someUrl):")
    table.lookupUrl(snap, someUrl).show(1, 60)
    println(s"[demo] lineage tail: ${snap.lineage.takeRight(3)}")
    spark.stop()
  }
}
