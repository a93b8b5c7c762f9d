package cdcperf

import java.sql.Timestamp

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.cdc.CdcStream
import graft.gen.{ChangeGen, GenConfig}

/** An update-heavy change stream over a fixed key space, derived only from
  * `seed`, with the skew of the engine's fixture generator `ChangeGen`
  * (FIXTURES.md §3).
  *
  * The base table holds keys `0 until keys`, inserted at lsn = key. Key `k`'s
  * url is `ChangeGen.urlFor(k)`: its domain is drawn Zipf(1.2) over 200
  * domains, `GenConfig`'s defaults. The WAL after the base carries changes at
  * lsn = keys + i. Change `i` targets key ⌊u³·keys⌋, `ChangeGen.targetFor`'s
  * bias toward old, hot keys. 5% of changes are deletes, FIXTURES.md §3's
  * delete share. Another 5% re-insert a key and the rest update one, so the
  * live row count stays near the base's instead of growing tenfold as under
  * `ChangeGen`'s 70% inserts. Text and html are `ChangeGen`'s.
  *
  * Arrival order is `ChangeGen`'s too: WAL partition `p` = lsn mod 8 lags
  * `(7-p)·3` segments, and one change in 23 is delivered again 5 segments
  * later, so a stale change for a key can arrive after a newer one. The WAL
  * starts at the first arrival segment every partition reaches, so every
  * segment file holds about `segment` changes. A file's modification time is
  * set from its segment, so a file stream consumes segments in order and the
  * changes of any consumed prefix can be enumerated here without reading the
  * files.
  *
  * @param keys     the base table's rows: the fixed key space
  * @param segments WAL segment files
  * @param segment  changes per WAL segment (before redeliveries)
  */
final case class WalSpec(seed: Long, keys: Int, segments: Int, segment: Int)

object Wal {

  private val Gen = GenConfig(events = 0L)
  private val Parts = Gen.walParts
  private val LagSegments = 3
  private val RedeliverAfter = 5
  private val DeletePct = 5
  /** Arrival segment of the WAL's first file: partition 0's lag. */
  private val First = (Parts - 1) * LagSegments

  private lazy val Zipf = new ChangeGen.Zipf(Gen.domains, Gen.zipfExp)
  private val Langs = Array("en", "de", "fr", "es", "pt", "zh", "ja", "ru")
  private val EpochMs = 1704067200000L

  def mix(z: Long): Long = ChangeGen.mix(z)
  private def h(seed: Long, salt: Long, x: Long): Long = mix(mix(seed ^ salt) ^ x)
  private def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))

  def url(seed: Long, key: Int): String = ChangeGen.urlFor(key, Gen.copy(seed = seed), Zipf)
  def text(seed: Long, url: String, lsn: Long): String = ChangeGen.textFor(url, lsn, seed)

  def lsnOf(w: WalSpec, i: Long): Long = w.keys + i
  private def partOf(w: WalSpec, i: Long): Int = (lsnOf(w, i) % Parts).toInt
  def keyOf(w: WalSpec, i: Long): Int = {
    val u = unit(h(w.seed, 0x7A96L, i))
    math.min(w.keys - 1L, (u * u * u * w.keys).toLong).toInt
  }
  def opOf(w: WalSpec, i: Long): Char = {
    val r = java.lang.Long.remainderUnsigned(h(w.seed, 0x0B5EL, i), 100)
    if (r < DeletePct) 'D' else if (r < 2 * DeletePct) 'I' else 'U'
  }
  private def arrival(w: WalSpec, i: Long): Long =
    (i + (Parts - 1 - partOf(w, i)).toLong * LagSegments * w.segment) / w.segment
  private def redelivered(w: WalSpec, i: Long): Boolean =
    java.lang.Long.remainderUnsigned(h(w.seed, 0xD4BL, i), Gen.dupMod.toLong) == 0

  /** Change indices of WAL file `f`, in arrival order (redeliveries last). */
  def segmentEvents(w: WalSpec, f: Int): Iterator[Long] = {
    def arriving(seg: Long): Iterator[Long] = {
      val lo = math.max(0L, (seg - (Parts - 1).toLong * LagSegments) * w.segment)
      Iterator.range(lo, (seg + 1) * w.segment).filter(i => arrival(w, i) == seg)
    }
    val s = First + f.toLong
    arriving(s) ++ (if (f >= RedeliverAfter) arriving(s - RedeliverAfter).filter(redelivered(w, _))
                    else Iterator.empty)
  }

  private def row(w: WalSpec, op: Char, lsn: Long, key: Int, seg: Long): Row = {
    val u = url(w.seed, key)
    val part = (lsn % Parts).toInt
    if (op == 'D') Row("D", lsn, part, u, new Timestamp(EpochMs + lsn), null, null, null, seg)
    else {
      val t = text(w.seed, u, lsn)
      Row(op.toString, lsn, part, u, new Timestamp(EpochMs + lsn),
        ("<html><body>" + t + "</body></html>").getBytes("UTF-8"), t, Langs(key % Langs.length), seg)
    }
  }

  /** The base preload as one change batch: every key inserted once. */
  def base(spark: SparkSession, w: WalSpec): DataFrame = {
    val rdd = spark.sparkContext.parallelize(0 until w.keys, spark.sparkContext.defaultParallelism)
      .map(k => row(w, 'I', k.toLong, k, -1L))
    spark.createDataFrame(rdd, CdcStream.walSchema)
  }

  /** Write the WAL as one parquet file per segment; returns each file's
    * bytes. Segment files get increasing modification times, the order in
    * which a file stream source consumes them.
    */
  def write(spark: SparkSession, w: WalSpec, dir: String): IndexedSeq[Long] = {
    val rdd = spark.sparkContext.parallelize(0 until w.segments, w.segments)
      .flatMap(f => segmentEvents(w, f).map(i => row(w, opOf(w, i), lsnOf(w, i), keyOf(w, i), f.toLong)))
    spark.createDataFrame(rdd, CdcStream.walSchema).write.parquet(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    require(files.length == w.segments,
      s"expected ${w.segments} WAL segment files, found ${files.length}")
    val t0 = System.currentTimeMillis() - 3600L * 1000
    val bytes = new Array[Long](w.segments)
    files.foreach { f =>
      val s = f.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt
      require(f.setLastModified(t0 + s * 1000L), s"cannot set mtime of $f")
      bytes(s) = f.length()
    }
    bytes.toIndexedSeq
  }

  /** Order-independent fingerprint of one live row. */
  def rowPrint(url: String, text: String): Long = {
    val a = MurmurHash3.stringHash(url, 0x5EED)
    val b = MurmurHash3.stringHash(if (text == null) "\u0000" else text, 0x7E47)
    (a.toLong << 32) ^ (b.toLong & 0xFFFFFFFFL)
  }

  /** (live rows, fingerprint sum, changes delivered) of the last-writer-wins
    * state after the base plus WAL files `0 until consumed` — computed from
    * the generator alone, without Spark or the engine.
    */
  def reference(w: WalSpec, consumed: Int): (Long, Long, Long) = {
    val winLsn = Array.tabulate(w.keys)(_.toLong)
    val dead = new Array[Boolean](w.keys)
    var delivered = 0L
    var f = 0
    while (f < consumed) {
      segmentEvents(w, f).foreach { i =>
        delivered += 1
        val k = keyOf(w, i)
        val l = lsnOf(w, i)
        if (l > winLsn(k)) { winLsn(k) = l; dead(k) = opOf(w, i) == 'D' }
      }
      f += 1
    }
    var live = 0L
    var print = 0L
    var k = 0
    while (k < w.keys) {
      if (!dead(k)) {
        val u = url(w.seed, k)
        live += 1
        print += rowPrint(u, text(w.seed, u, winLsn(k)))
      }
      k += 1
    }
    (live, print, delivered)
  }

  /** (live rows, fingerprint sum) of a page table, computed on the executors. */
  def tablePrint(pages: DataFrame): (Long, Long) =
    pages.select("url", "text").rdd.mapPartitions { it =>
      var n = 0L
      var p = 0L
      it.foreach { r => n += 1; p += rowPrint(r.getString(0), r.getString(1)) }
      Iterator((n, p))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
}
