package graft

import org.apache.spark.sql.SparkSession

import graft.cdc.CdcStream
import graft.gen.{ChangeGen, GenConfig}
import graft.lake.LakeTable

/** Scaling experiment harness: runs a list of (mode, knobs) configs through
  * the BASELINE.md interleaved N/4N protocol (warmup pair, then `pairs`
  * interleaved timed pairs, best-of per side) on one shared WAL, printing
  * throughput at both core counts and the scaling efficiency per config.
  * Dev tool only — the official artifact stays graft.Bench.
  *
  * Usage: ScalingLab <events> <pairs> <configName>[,<configName>...]
  */
object ScalingLab {

  case class Cfg(name: String, mode: String, buckets: Int = 64,
      maxPart: String = "128m", filesPerTrigger: Int = 48, tasksPerSlot: Int = 2,
      openCost: String = "4194304", extraConf: Map[String, String] = Map.empty,
      audited: Boolean = false)

  val configs: Map[String, Cfg] = Seq(
    Cfg("morraw", "morraw"),
    Cfg("morraw-mp32", "morraw", maxPart = "32m"),
    Cfg("morraw-t1", "morraw", tasksPerSlot = 1),
    // openCost=128m → every WAL segment file is its own scan split: even
    // task sizes, whole waves (48 files = 3 waves at 16 cores)
    Cfg("morraw-t1-oc", "morraw", tasksPerSlot = 1, openCost = "134217728"),
    // batch-size sweep: per-trigger fixed cost vs amortization
    Cfg("morraw-ft24", "morraw", tasksPerSlot = 1, openCost = "134217728", filesPerTrigger = 24),
    Cfg("morraw-ft96", "morraw", tasksPerSlot = 1, openCost = "134217728", filesPerTrigger = 96),
    // shuffle byte/CPU tradeoffs under single-box memory-bandwidth contention
    Cfg("morraw-nocomp", "morraw", tasksPerSlot = 1, openCost = "134217728",
      extraConf = Map("spark.shuffle.compress" -> "false")),
    Cfg("morraw-zstd", "morraw", tasksPerSlot = 1, openCost = "134217728",
      extraConf = Map("spark.io.compression.codec" -> "zstd")),
    // L0 spanning append: zero exchanges in the hot path (scan→project→write)
    Cfg("l0", "l0", tasksPerSlot = 1, openCost = "134217728"),
    // audited ingest overhead: every batch stages + audits + publishes
    // (two manifest writes + one staged pages() count per batch)
    Cfg("l0-audited", "l0", tasksPerSlot = 1, openCost = "134217728", audited = true),
    // batch-size sweep for L0: serial per-batch cost is a bigger fraction now
    Cfg("l0-ft96", "l0", tasksPerSlot = 1, openCost = "134217728", filesPerTrigger = 96),
    Cfg("l0-ft24", "l0", tasksPerSlot = 1, openCost = "134217728", filesPerTrigger = 24),
    Cfg("morraw-b256", "morraw", buckets = 256),
    // deletion-vector merge: the read-optimized path
    Cfg("dv", "dv", tasksPerSlot = 1, openCost = "134217728"),
    Cfg("dv-ft12", "dv", filesPerTrigger = 12),
    Cfg("dv-ft96", "dv", tasksPerSlot = 1, openCost = "134217728", filesPerTrigger = 96),
  ).map(c => c.name -> c).toMap

  private val scratch = sys.env.getOrElse("SPARK_GRAFT_SCRATCH", "/dev/shm/graft")

  /** The two parallelism levels (N, 4N); override e.g. SPARK_GRAFT_LAB_CORES=2,8. */
  private val (nLo, nHi): (Int, Int) = sys.env.get("SPARK_GRAFT_LAB_CORES") match {
    case Some(s) => val a = s.split(","); (a(0).trim.toInt, a(1).trim.toInt)
    case None => (4, 16)
  }

  private def rmrf(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))

  private def session(cores: Int, cfg: Cfg): SparkSession = {
    val b0 = SparkSession.builder()
    cfg.extraConf.foreach { case (k, v) => b0.config(k, v) }
    val s = b0
      .master(s"local[$cores]")
      .appName(s"lab-$cores-${cfg.name}")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", cfg.maxPart)
      .config("spark.sql.files.openCostInBytes", cfg.openCost)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One replay in a fresh session; returns (events, secs). */
  private def oneRun(cores: Int, walDir: String, cfg: Cfg): (Long, Double) = {
    val spark = session(cores, cfg)
    try {
      val work = s"$scratch/lab-${cfg.name}-$cores"
      rmrf(work)
      sys.props("graft.tasksPerSlot") = cfg.tasksPerSlot.toString
      val table = new LakeTable(spark, s"$work/lake")
      var events = 0L
      val t0 = System.nanoTime()
      CdcStream.start(spark, walDir, table, s"$work/ckpt",
        maxFilesPerTrigger = cfg.filesPerTrigger, createBuckets = cfg.buckets,
        mode = cfg.mode, onBatch = st => events += st.events,
        // trivial predicate: measures the GATE's protocol cost (stage +
        // staged-snapshot read + publish) — a real audit's own query cost is
        // the user's choice on top
        audit = if (cfg.audited) Some((_, _) => true) else None,
        quarantineDir = if (cfg.audited) Some(s"$work/quar") else None)
        .awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      rmrf(work)
      (events, secs)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val nEvents = args(0).toLong
    val pairs = args(1).toInt
    val names = args(2).split(",").toSeq
    new java.io.File(scratch).mkdirs()

    val wal = s"$scratch/lab-wal-$nEvents"
    val warm = s"$scratch/lab-wal-warm"
    locally {
      val gen = session(16, Cfg("gen", "l0"))
      try {
        if (!new java.io.File(wal).exists())
          ChangeGen.writeWal(gen, GenConfig(events = nEvents, segmentSize = nEvents / 96), wal)
        if (!new java.io.File(warm).exists())
          ChangeGen.writeWal(gen, GenConfig(events = 500000, segmentSize = 125000), warm)
      } finally gen.stop()
    }

    for (name <- names) {
      val cfg = configs(name)
      oneRun(nLo, warm, cfg); oneRun(nHi, warm, cfg) // JIT warmup
      val runs = (1 to pairs).map { i =>
        val r4 = oneRun(nLo, wal, cfg)
        val r16 = oneRun(nHi, wal, cfg)
        println(f"[lab] $name pair $i: n$nLo=${r4._1 / r4._2}%.0f ev/s (${r4._2}%.1f s)  " +
          f"n$nHi=${r16._1 / r16._2}%.0f ev/s (${r16._2}%.1f s)")
        (r4, r16)
      }
      val best4 = runs.map(r => r._1._1 / r._1._2).max
      val best16 = runs.map(r => r._2._1 / r._2._2).max
      println(f"[lab] == $name: best n$nLo=$best4%.0f n$nHi=$best16%.0f " +
        f"eff=${best16 / (4 * best4)}%.3f ==")
    }
  }
}
