package cdcperf

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cdc.{ApplyStats, CdcApply, CdcStream}
import graft.lake.LakeTable

/** One workload: the apply mode, the table layout and the read rounds.
  *
  * @param mode         CdcStream apply mode
  * @param autoCompact  CdcStream auto-compaction threshold (files per bucket)
  * @param roundBatches micro-batches between two read rounds
  * @param lookups      point lookups per layout in a read round
  * @param walBatches   micro-batches the WAL holds (warm-up + window)
  */
final case class Workload(
    name: String,
    mode: String,
    buckets: Int,
    autoCompact: Int,
    roundBatches: Int,
    lookups: Int,
    walBatches: Int)

object Workload {
  /** Fixed key space: the base table's rows, ten times a micro-batch, so a
    * batch touches a small share of the table as in the engine's design
    * regime (BASELINE.md: batches of up to 65,536 events into the table of
    * a 10^10-event ingest). */
  val Keys = 30000
  /** Changes per WAL segment file. */
  val Segment = 750
  /** WAL files per micro-batch: about 3k changes. */
  val FilesPerTrigger = 4
  /** Snapshots kept by the expiry after each auto-compaction. */
  val ExpireKeep = 4

  // ingest_l0: 4 L0 files per batch, so the third batch of a round crosses
  // the threshold and the fourth absorbs the L0 flush.
  // upsert_dv: one file per bucket per batch, so the second batch of a round
  // crosses the threshold and the third absorbs the compaction.
  val all: Map[String, Workload] = Seq(
    Workload("ingest_l0", "l0", buckets = 16, autoCompact = 8, roundBatches = 4, lookups = 6, walBatches = 22),
    Workload("upsert_dv", "dv", buckets = 8, autoCompact = 2, roundBatches = 3, lookups = 6, walBatches = 18)
  ).map(w => w.name -> w).toMap
}

/** The benchmark driver: builds the base table, streams the WAL through
  * [[CdcStream.start]] and, between rounds of micro-batches, times point
  * lookups, full scans, a changelog poll and a full compaction, first over the
  * layout the stream left and then over the compacted one. It writes every
  * raw sample to a JSON file; `run.py` turns them into metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <out json>
  */
object Main {

  /** Timed base-table builds, after one untimed build that warms the JVM. */
  val SetupReps = 3
  /** Warm-up batches at least and at most. */
  val WarmRoundsMin = 3
  val WarmRoundsMax = 8
  /** Warm-up goes on while a timed operation's last sample is below every
    * earlier one by more than this share. */
  val WarmFall = 0.15
  /** A timing still falling by more than this share when warm-up hits its
    * cap leaves the run unsteady: the largest bound a gated metric may have. */
  val TrendBound = 0.25
  /** Read rounds the timed window holds at least. */
  val WindowRoundsMin = 2
  val OneCoreBatches = 3

  def main(args: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, work, out) = args
    val wl = Workload.all.getOrElse(wlName,
      throw new IllegalArgumentException(s"unknown workload '$wlName'"))
    val result = new Run(wl, seedS.toLong, secondsS.toDouble, traceS == "1", work).run()
    val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
    Files.write(Paths.get(out), mapper.writeValueAsBytes(result))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("cdcperf")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.stopTimeout", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Bytes written under the lake directory, by kind, from file sizes. */
final class LakeBytes(root: String) {
  private val seen = mutable.HashSet.empty[String]
  val written: mutable.Map[String, Long] = mutable.LinkedHashMap(
    "data" -> 0L, "dv" -> 0L, "manifest" -> 0L, "other" -> 0L)

  private def kind(rel: String): String =
    if (rel.startsWith("data/")) {
      if (rel.split('/')(1).endsWith("-dv")) "dv" else if (rel.endsWith(".parquet")) "data" else "other"
    } else if (rel.startsWith("manifests/") || rel.startsWith("lineage/") || rel.startsWith("tags")) "manifest"
    else "other"

  /** Account every file not seen before; returns the bytes of the new files
    * by kind and the number of new data files. */
  def scan(): (Map[String, Long], Int) = {
    val base = Paths.get(root)
    val before = written.toMap
    var newData = 0
    if (Files.exists(base)) {
      val st = Files.walk(base)
      // a file removed between listing and sizing is skipped; it is counted
      // by a later walk only if it reappears under the same name
      try st.iterator().asScala.foreach { p =>
        val name = p.getFileName.toString
        if (Files.isRegularFile(p) && !name.endsWith(".crc") && !name.contains(".tmp")) {
          val rel = base.relativize(p).toString
          if (seen.add(rel)) {
            val k = kind(rel)
            try { written(k) += Files.size(p); if (k == "data") newData += 1 }
            catch { case _: java.nio.file.NoSuchFileException => seen -= rel }
          }
        }
      } finally st.close()
    }
    (written.map { case (k, v) => k -> (v - before(k)) }.toMap, newData)
  }

  def dirBytes(sub: String): (Long, Long) = {
    val d = Paths.get(root, sub)
    if (!Files.exists(d)) (0L, 0L)
    else {
      val st = Files.list(d)
      try {
        val fs = st.iterator().asScala.filter(p => Files.isRegularFile(p) && !p.toString.endsWith(".crc")).toSeq
        (fs.size.toLong, fs.map(p => Files.size(p)).sum)
      } finally st.close()
    }
  }
}

final class Run(wl: Workload, seed: Long, seconds: Double, traced: Boolean, work: String) {
  import Main._
  import Workload._

  private val cores = Runtime.getRuntime.availableProcessors()
  private var spark: SparkSession = Main.session(cores, work)
  private var trace = new Trace(spark)
  private val walDir = s"$work/wal"
  private val lakeDir = s"$work/lake"

  // a traced run also feeds the one-core baseline from the same WAL
  private val spec = WalSpec(seed, Keys,
    (wl.walBatches + (if (traced) OneCoreBatches else 0)) * FilesPerTrigger, Segment)

  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]

  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** One timed operation; a failure is counted and never timed. */
  private def op[T](kind: String, meta: Map[String, Any])(body: => T): Option[T] = {
    attempted += 1
    val c0 = Jvm.cpuNs
    val t0 = System.nanoTime()
    try {
      val r = trace.span(kind)(body)
      val t1 = System.nanoTime()
      ops += Map("kind" -> kind, "t0" -> t0, "t1" -> t1, "s" -> secs(t0, t1), "cpu" -> secs(c0, Jvm.cpuNs)) ++ meta
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$kind: $e"
        System.err.println(s"cdcperf: $kind failed: $e")
        None
    }
  }

  def run(): Map[String, Any] = {
    val t0 = System.nanoTime()
    val marks = mutable.LinkedHashMap.empty[String, Double]
    def mark(name: String): Unit = marks(name) = secs(t0, System.nanoTime())
    Jvm.HeapAfterGc.install()
    // set-up: build the base table from scratch, once untimed to pay the
    // JVM's cold start, then SetupReps times; the last build is kept. Each
    // build's (wall, CPU) seconds: setup_s is timed in CPU time, which the
    // host's other tenants do not inflate by stealing CPU
    val builds = (0 to Main.SetupReps).map { _ =>
      org.apache.commons.io.FileUtils.deleteDirectory(new File(lakeDir))
      val c0 = Jvm.cpuNs
      val t0 = System.nanoTime()
      val table = new LakeTable(spark, lakeDir)
      val base = Wal.base(spark, spec)
      CdcApply.applyBatchAppendRaw(table, base, "preload", 0, wl.buckets, spanning = true)
      table.compact()
      (secs(t0, System.nanoTime()), secs(c0, Jvm.cpuNs))
    }
    mark("setup")
    val tGen = System.nanoTime()
    val walBytes = Wal.write(spark, spec, walDir)
    val genS = secs(tGen, System.nanoTime())
    mark("wal")
    val table = new LakeTable(spark, lakeDir)
    val loop = new Loop(table)
    if (traced) trace.install()
    val q = CdcStream.start(spark, walDir, table, s"$work/ckpt", queryId = "cdc",
      maxFilesPerTrigger = FilesPerTrigger, createBuckets = wl.buckets, mode = wl.mode,
      autoCompactFilesPerBucket = wl.autoCompact, expireKeepLast = ExpireKeep,
      onBatch = loop.onBatch)
    loop.awaitDone(q)
    mark("stream")
    val streamError = q.exception.map(_.toString)
    streamError.foreach { e => failed += 1; errors += s"stream: $e" }
    if (!loop.stopped) q.stop()

    // correctness: the live table against the generator's own LWW state
    val consumed = math.min(spec.segments, loop.batchesApplied * FilesPerTrigger)
    val (refRows, refPrint, delivered) = Wal.reference(spec, consumed)
    val (rows, print) = Wal.tablePrint(table.pages())
    val applied = loop.eventsApplied
    val correct = streamError.isEmpty && rows == refRows && print == refPrint && applied == delivered &&
      loop.checksFailed == 0

    mark("check")
    val traceDump = if (traced) trace.dump() else Map.empty
    val oneCore = if (traced && streamError.isEmpty) oneCoreBaseline(consumed) else Map.empty[String, Any]
    mark("end")

    Map(
      "workload" -> wl.name, "mode" -> wl.mode, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cores" -> cores,
      "gen_s" -> genS, "setup_warm_s" -> builds.head._1,
      "setup_s" -> builds.tail.map(_._2), "setup_wall_s" -> builds.tail.map(_._1),
      "wal_bytes" -> walBytes, "files_per_trigger" -> FilesPerTrigger,
      "wal_exhausted" -> (loop.batchesApplied * FilesPerTrigger >= spec.segments),
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "correct" -> correct,
      "check" -> Map("ref_rows" -> refRows, "rows" -> rows, "ref_print" -> refPrint, "print" -> print,
        "delivered" -> delivered, "applied" -> applied, "read_checks_failed" -> loop.checksFailed),
      "batches" -> loop.batches.toSeq, "ops" -> ops.toSeq, "window" -> loop.windows.headOption,
      "rounds" -> loop.rounds.toSeq, "warm_rounds" -> loop.warmRounds,
      "warm_series" -> loop.warmSeries.map { case (k, v) => k -> v.toSeq }.toMap,
      "still_warming" -> loop.stillWarming,
      "marks_s" -> (marks.toMap ++ loop.marks),
      "one_core" -> oneCore,
      "trace" -> traceDump)
  }

  /** Ingest rate of the same stream on one core: a fresh local[1] session
    * continues on the WAL segments the timed stream did not consume. */
  private def oneCoreBaseline(consumed: Int): Map[String, Any] = {
    trace.enabled = false
    spark.stop()
    spark = Main.session(1, work)
    trace = new Trace(spark)
    val rest = s"$work/wal1"
    new File(rest).mkdirs()
    val segs = new File(walDir).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).drop(consumed).take(OneCoreBatches * FilesPerTrigger)
    segs.foreach { f =>
      val to = new File(rest, f.getName)
      val mtime = f.lastModified()
      Files.move(f.toPath, to.toPath)
      to.setLastModified(mtime)
    }
    val table = new LakeTable(spark, lakeDir)
    val times = mutable.ArrayBuffer.empty[(Double, Long)]
    var last = System.nanoTime()
    val q = CdcStream.start(spark, rest, table, s"$work/ckpt1", queryId = "cdc1",
      maxFilesPerTrigger = FilesPerTrigger, createBuckets = wl.buckets, mode = wl.mode,
      onBatch = (st: ApplyStats) => {
        val now = System.nanoTime()
        times += ((secs(last, now), st.events))
        last = System.nanoTime()
      })
    q.awaitTermination()
    // the first batch of a fresh session pays its own warm-up
    val steady = times.drop(1)
    Map("batches" -> times.size, "events" -> steady.map(_._2).sum, "s" -> steady.map(_._1).sum)
  }

  /** The closed loop on the stream's own thread: each trigger starts after
    * the previous commit callback returns, and read rounds run inside the
    * callback while the stream waits.
    *
    * Warm-up runs a short round after every batch until no timed operation
    * type, the commit included, is still getting faster (see [[warmRound]]).
    * The timed window then runs a full round every `roundBatches` batches and
    * closes at the first round end after `seconds`, once it holds
    * `WindowRoundsMin` rounds. In a traced run every other window round is
    * traced, so traced and untraced rounds of the same stationary stream can
    * be compared.
    */
  final class Loop(table: LakeTable) {
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    val marks = mutable.LinkedHashMap.empty[String, Double]
    val windows = mutable.ArrayBuffer.empty[Map[String, Any]]
    /** Per timed operation type, the warm-up rounds' medians of CPU time. */
    val warmSeries = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    /** Operation types still falling by more than `TrendBound` at the cap. */
    var stillWarming: Seq[String] = Nil
    var batchesApplied = 0
    var eventsApplied = 0L
    var checksFailed = 0
    var warmRounds = 0
    @volatile var stopped = false

    private var warm = true
    private val warmStart = System.nanoTime()
    private var windowStart = 0L
    private var lastReturn = System.nanoTime()
    private var lastVersion = table.headVersion.getOrElse(0L)
    private var hookCommits = 0
    private var inRound = 0
    private var round = 0
    private var cursor = lastVersion
    private val bytes = new LakeBytes(lakeDir)
    bytes.scan()
    /** Bytes the stream's own commits wrote: apply plus auto-maintenance. */
    private var engineWritten = 0L
    private var gcAtReturn = Jvm.gcMs
    private var cpuAtReturn = Jvm.cpuNs
    private val done = new java.util.concurrent.CountDownLatch(1)
    private val never = new java.util.concurrent.CountDownLatch(1)
    private var windowMarks: Map[String, Any] = Map.empty

    private def phase = if (warm) "warm" else "window"
    private def meta(extra: (String, Any)*): Map[String, Any] =
      Map("phase" -> phase, "round" -> round, "traced" -> trace.enabled) ++ extra
    private def tracedRound = traced && !warm && round % 2 == 1

    def onBatch(st: ApplyStats): Unit = {
      val now = System.nanoTime()
      val cpu = Jvm.cpuNs
      val gc = Jvm.gcMs
      if (!st.skipped && !st.quarantined) { batchesApplied += 1; eventsApplied += st.events }
      trace.record("CdcStream.batch", lastReturn, now)
      // the last read round ended with a walk, so every new file is this batch's
      val (written, newFiles) = try bytes.scan() catch {
        case NonFatal(e) => errors += s"lake walk: $e"; (Map.empty[String, Long], -1)
      }
      engineWritten += written.values.sum
      // auto-maintenance commits besides the batch's own
      val stall = st.version - lastVersion - hookCommits > 1
      batches += Map("phase" -> phase, "batch" -> st.batchId, "t0" -> lastReturn, "t1" -> now,
        "s" -> secs(lastReturn, now), "cpu" -> secs(cpuAtReturn, cpu), "events" -> st.events, "version" -> st.version,
        "prev_version" -> lastVersion, "hook_commits" -> hookCommits, "gc_ms" -> (gc - gcAtReturn),
        "written" -> written, "new_data_files" -> newFiles, "round" -> round,
        "traced" -> trace.enabled)
      attempted += 1
      lastVersion = st.version
      hookCommits = 0
      inRound += 1
      try {
        if (warm) warmRound(stall)
        else if (inRound == wl.roundBatches) {
          readRound(wl.lookups)
          // the window holds whole rounds, so every window has the same mix
          // of ordinary batches, stalls and reads
          if (round + 1 >= WindowRoundsMin && secs(windowStart, System.nanoTime()) >= seconds) closeWindow()
          else nextRound()
        }
      } catch {
        case NonFatal(e) =>
          failed += 1; errors += s"round: $e"; System.err.println(s"cdcperf: round failed: $e")
      }
      if (stopped) {
        done.countDown()
        never.await() // the stream stops here: stop() interrupts this wait
      }
      gcAtReturn = Jvm.gcMs
      cpuAtReturn = Jvm.cpuNs
      lastReturn = System.nanoTime()
    }

    def awaitDone(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      while (done.getCount > 0 && q.isActive) done.await(200, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (stopped) q.stop()
      else try q.awaitTermination() catch { case NonFatal(_) => }
      if (!warm && windows.isEmpty) closeWindow()
    }

    private def nextRound(): Unit = {
      inRound = 0
      round += 1
      trace.enabled = tracedRound
    }

    private def windowState(): Map[String, Any] =
      Map("jit_ms" -> Jvm.jitMs, "gc_ms" -> Jvm.gcMs, "engine_written" -> engineWritten,
        "batch" -> batchesApplied, "version" -> table.headVersion.getOrElse(0L),
        "manifest" -> Map("versions" -> bytes.dirBytes("manifests")._1, "bytes" -> bytes.dirBytes("manifests")._2))

    /** Kinds whose last warm-up sample is below every earlier one by more
      * than `by`, so still setting new lows; a kind with one sample is not
      * judged yet. */
    private def falling(by: Double): Seq[String] = warmSeries.collect {
      case (k, s) if s.size < 2 || s.last * (1 + by) < s.init.min => k
    }.toSeq

    /** One warm-up round after a batch: every timed operation type runs once
      * more, except that after `WarmRoundsMin` rounds, once only the commit
      * is still falling, the read round is left out. Types are judged on CPU time, which the host's
      * other tenants do not inflate by stealing CPU. The window opens once
      * no type is falling by more than `WarmFall`, or at `WarmRoundsMax`
      * rounds, when the types still falling by more than `TrendBound` are
      * kept in `stillWarming` and the run is unsteady. */
    private def warmRound(stall: Boolean): Unit = {
      val reading = warmRounds < WarmRoundsMin || falling(WarmFall).exists(_ != "commit")
      val from = ops.size
      if (reading) readRound(lookups = 2)
      val samples = ops.drop(from).groupBy(_("kind").toString).map { case (k, os) =>
        k -> median(os.map(_("cpu").asInstanceOf[Double]).toSeq)
      } ++ (if (stall) Nil else Seq("commit" -> batches.last("cpu").asInstanceOf[Double]))
      samples.foreach { case (k, v) => warmSeries.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
      warmRounds += 1
      if ((warmRounds >= WarmRoundsMin && falling(WarmFall).isEmpty) || warmRounds >= WarmRoundsMax) {
        stillWarming = falling(TrendBound)
        // every window starts from a compacted table, as after a read round
        if (!reading) {
          val v0 = table.headVersion.getOrElse(0L)
          table.compact()
          hookCommits += (table.headVersion.getOrElse(0L) - v0).toInt
          cursor = table.headVersion.getOrElse(cursor)
          bytes.scan()
        }
        warm = false
        windowMarks = windowState()
        Jvm.HeapAfterGc.reset()
        round = 0
        inRound = 0
        trace.enabled = tracedRound
        windowStart = System.nanoTime()
        marks("warm") = secs(warmStart, windowStart)
      } else nextRound()
    }

    private def closeWindow(): Unit = {
      val t1 = System.nanoTime()
      trace.enabled = false
      marks("window") = secs(windowStart, t1)
      windows += Map("phase" -> phase, "t0" -> windowStart, "t1" -> t1,
        "start" -> windowMarks, "end" -> windowState(), "heap_after_gc_peak" -> Jvm.HeapAfterGc.peakBytes)
      stopped = true
    }

    private def snapshotLoad() = trace.span("LakeTable.currentSnapshot")(table.currentSnapshot.get)

    private def tag(extra: (String, Any)*): Unit =
      if (ops.nonEmpty) ops(ops.size - 1) = ops.last ++ extra

    private def lookup(kind: String, key: Int, dvRows: Long): Unit = {
      val url = Wal.url(seed, key)
      var files = -1
      val res = op(kind, meta("dv_rows" -> dvRows)) {
        val snap = snapshotLoad()
        if (trace.enabled) {
          val h = LakeTable.urlHash(url)
          files = trace.span("LakeTable.planFiles") {
            table.planFiles(snap, buckets = Some(Set(LakeTable.bucketOf(h, snap.buckets))), urlHash = Some(h)).size
          }
        }
        trace.span("LakeTable.lookupUrl")(table.lookupUrl(snap, url).select("url").collect())
      }
      res.foreach { rows =>
        if (rows.length > 1 || rows.exists(_.getString(0) != url)) checksFailed += 1
        if (files >= 0) tag("files" -> files)
      }
    }

    private def scan(kind: String, dvRows: Long): Option[Long] =
      op(kind, meta("dv_rows" -> dvRows)) {
        val snap = snapshotLoad()
        trace.span("LakeTable.pages") {
          table.pages(snap).agg(count(lit(1)), sum(length(col("text"))), sum(length(col("html")))).collect()
        }
      }.map(_.head.getLong(0))

    private def readRound(lookups: Int): Unit = {
      val snap = table.currentSnapshot.get
      val dvRows = snap.dvFiles.map(_.rows).sum
      var changeRows = 0L
      op("changes", meta()) {
        cursor = CdcStream.followChanges(table, cursor, pinTag = Some("cdcperf")) { (df, _, _) =>
          changeRows = trace.span("LakeTable.changes")(df.count())
        }
      }.foreach(_ => tag("rows" -> changeRows))
      val keys = (0 until lookups).map(j => ((Wal.mix(seed * 31 + round * 1009L + j) >>> 1) % Keys).toInt)
      keys.foreach(k => lookup("lookup", k, dvRows))
      val live = scan("scan", dvRows)
      // the layout the stream left, for the drift check across the window
      rounds += Map("phase" -> phase, "round" -> round, "files" -> snap.files.size, "dv_rows" -> dvRows,
        "live_rows" -> live.getOrElse(-1L))
      val v0 = table.headVersion.getOrElse(0L)
      op("compact", meta()) { table.compact() }.foreach(_ => tag("written" -> bytes.scan()._1))
      hookCommits += (table.headVersion.getOrElse(0L) - v0).toInt
      // the next poll covers the next round's commits, not this compaction
      cursor = table.headVersion.getOrElse(cursor)
      keys.foreach(k => lookup("lookup_compacted", k, 0L))
      val compacted = scan("scan_compacted", 0L)
      // compaction must not change the live rows
      if (live.isDefined && compacted.isDefined && live != compacted) checksFailed += 1
      if (trace.enabled) (0 until 3).foreach(_ => op("noop", meta())(spark.range(1).count()))
      // this round's own writes (pin tags, compaction) are not the stream's
      bytes.scan()
    }
  }
}
