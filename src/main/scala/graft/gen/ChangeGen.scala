package graft.gen

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One WAL record as produced by the generator. `seg` is the WAL segment the
  * event arrives in (the Kafka-stand-in file; reference analogue:
  * `load_kafka offset=store` resumability, `plugins/kafka/builtins/plugin.cpp:85-112`).
  */
case class GenEvent(
    op: String,
    lsn: Long,
    wal_part: Int,
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String,
    seg: Long)

/** Generator parameters. Everything is derived from `seed` — identical bytes
  * across runs and JVMs (FIXTURES.md §3). No wall clock, no unseeded Random.
  *
  * @param events      number of distinct logical change events (LSNs 0..events-1)
  * @param walParts    WAL source partitions; lsn is strictly increasing per part
  * @param segmentSize approximate events per WAL segment file
  * @param domains     size of the Zipf-weighted domain universe (hot-domain skew)
  * @param zipfExp     Zipf exponent for domain popularity
  * @param dupMod      ~1/dupMod of events are re-delivered in a later segment
  *                    (at-least-once source semantics; LWW must absorb them)
  */
case class GenConfig(
    events: Long,
    walParts: Int = 8,
    segmentSize: Long = 4096,
    seed: Long = 42L,
    domains: Int = 200,
    zipfExp: Double = 1.2,
    dupMod: Int = 23)

/** Deterministic synthetic CDC stream over Common-Crawl-style pages.
  *
  * Op mix is a fixed 20-LSN pattern (14 I / 5 U / 1 D = 70/25/5, FIXTURES.md §3),
  * which makes "number of inserts before LSN L" a closed form, so updates and
  * deletes can deterministically target previously-inserted urls without any
  * sequential state. Update targets are skewed toward old (hot) urls.
  *
  * Arrival order ≠ LSN order: WAL partition p lags by (walParts-1-p)·3·segmentSize
  * arrival slots, so segments contain cross-partition LSN inversions and a later
  * segment can carry a *lower* LSN for the same url than an earlier one — the
  * case LWW-with-tombstones must get right.
  */
object ChangeGen {

  private val OpPattern = "IIUIIIUIIDIIUIIIUIIU" // 14×I, 5×U, 1×D per 20 LSNs
  private val InsertsPerBlock = OpPattern.count(_ == 'I')
  private val InsertPrefix: Array[Int] = // inserts among pattern positions < i
    OpPattern.scanLeft(0)((n, c) => n + (if (c == 'I') 1 else 0)).toArray

  private val Langs = Array("en", "de", "fr", "es", "pt", "zh", "ja", "ru")

  // -- splitmix64 (public-domain PRNG finalizer) --------------------------------
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  // h(seed, a, b, ...) = mix(...mix(mix(mix(seed) ^ a) ^ b)...), fixed arity so
  // the per-row calls box nothing
  @inline private def h(seed: Long, a: Long): Long = mix(mix(seed) ^ a)
  @inline private def h(seed: Long, a: Long, b: Long): Long = mix(h(seed, a) ^ b)
  @inline private def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))

  /** `java.lang.Long.remainderUnsigned(x, d)` for `d > 0`, without the JDK 17
    * `BigInteger` path for a negative `x`: x = 2a + b, so x mod d = (2(a mod d) + b) mod d.
    */
  @inline private[graft] def remU(x: Long, d: Long): Long =
    if (x >= 0) x % d else (((x >>> 1) % d) * 2 + (x & 1L)) % d

  /** Inverse-CDF Zipf sampler over [0, n). CDF built once per executor task. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val total = w.sum
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += w(i) / total; c(i) = acc; i += 1 }
      c(n - 1) = 1.0
      c
    }
    def sample(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      if (i >= 0) i else math.min(n - 1, -i - 1)
    }
  }

  private val EpochBase = 1704067200L // 2024-01-01T00:00:00Z, fixed

  def insertsBefore(lsn: Long): Long =
    (lsn / OpPattern.length) * InsertsPerBlock + InsertPrefix((lsn % OpPattern.length).toInt)

  def opAt(lsn: Long): Char = {
    val c = OpPattern((lsn % OpPattern.length).toInt)
    if (c != 'I' && insertsBefore(lsn) == 0) 'I' else c // nothing to update yet
  }

  /** url of the j-th inserted page; domain drawn Zipf-hot. */
  def urlFor(j: Long, cfg: GenConfig, zipf: Zipf): String = {
    val d = zipf.sample(unit(h(cfg.seed, 0xD0A1L, j)))
    s"https://d$d.example.com/p/$j"
  }

  /** Target insert-index for an update/delete at `lsn`: u³ bias toward low j
    * (old pages are hot keys — exercises LWW-groupBy skew handling).
    */
  def targetFor(lsn: Long, cfg: GenConfig): Long = {
    val n = insertsBefore(lsn)
    val u = unit(h(cfg.seed, 0x7A96L, lsn))
    math.min(n - 1, (u * u * u * n).toLong)
  }

  private val Digits = "0123456789abcdefghijklmnopqrstuvwxyz"
  private val Pow36: Array[Long] = Array.iterate(1L, 13)(_ * 36L) // 36^0 .. 36^12

  /** Appends the first `n` (1 to 12) characters of
    * `java.lang.Long.toUnsignedString(st, 36)`, all of them if it is shorter,
    * with no `BigInteger` and no `String`. A negative `st` is at least
    * 2^63 > 36^12 and so has 13 digits; the leading `n` of `len` digits are
    * `st / 36^(len-n)` (unsigned), and since 36^k is even that equals
    * `(st >>> 1) / (36^k / 2)`, a signed division.
    */
  private[graft] def appendBase36Prefix(sb: java.lang.StringBuilder, st: Long, n: Int): Unit = {
    var len = 13
    if (st >= 0) while (len > 1 && st < Pow36(len - 1)) len -= 1
    val k = math.min(len, n)
    var q = if (len == k) st else (st >>> 1) / (Pow36(len - k) >>> 1)
    val end = sb.length + k
    sb.setLength(end)
    var p = end
    while (p > end - k) {
      p -= 1
      sb.setCharAt(p, Digits.charAt((q % 36).toInt))
      q /= 36
    }
  }

  /** Deterministic page text for (url, lsn): the oracle for the byte-identical
    * replay invariant, ~120–400 bytes of seeded base-36 words.
    *
    * The text is `url=<url> v=<lsn>` and then `16 + s mod 40` words, each
    * preceded by one space, where s = mix(mix(mix(mix(mix(seed) ^ 0x3E47) ^ lsn)
    * ^ url.length) ^ url.hashCode) (the int widened with its sign) and "mod" is
    * unsigned. Word `i` (from 0) is the first `3 + i % 6` characters of the
    * unsigned base-36 form (`java.lang.Long.toUnsignedString(_, 36)`) of the
    * `i+1`-th splitmix64 state after s, mix applied `i + 1` times.
    *
    * These bytes are a contract, not an implementation detail: cdcperf's
    * `Wal.reference` fingerprints the live table from them, the replay goldens
    * of FIXTURES.md §4 and the WALs Bench and Demo generate are built from them,
    * and GenSpec pins them against the formula above and a golden fingerprint.
    * A change here must keep every byte.
    */
  def textFor(url: String, lsn: Long, seed: Long): String = {
    var st = mix(mix(h(seed, 0x3E47L, lsn) ^ url.length.toLong) ^ url.hashCode.toLong)
    val words = 16 + remU(st, 40L).toInt
    val sb = new java.lang.StringBuilder(words * 9 + url.length + 28)
    sb.append("url=").append(url).append(" v=").append(lsn)
    var i = 0
    while (i < words) {
      st = mix(st)
      sb.append(' ')
      appendBase36Prefix(sb, st, 3 + (i % 6))
      i += 1
    }
    sb.toString
  }

  /** The event at global LSN `l`, arrival segment included; a duplicate
    * re-delivery is the same event with `seg + 5` (see `events`).
    */
  def eventAt(l: Long, cfg: GenConfig, zipf: Zipf): GenEvent = {
    val op = opAt(l)
    val j = if (op == 'I') insertsBefore(l) else targetFor(l, cfg)
    val url = urlFor(j, cfg, zipf)
    val part = (l % cfg.walParts).toInt
    val arrival = l + (cfg.walParts - 1 - part).toLong * 3L * cfg.segmentSize // per-part lag
    val seg = arrival / cfg.segmentSize
    val ts = new Timestamp((EpochBase + l) * 1000L)
    if (op == 'D') GenEvent("D", l, part, url, ts, null, null, null, seg)
    else {
      val t = textFor(url, l, cfg.seed)
      val html = ("<html><body>" + t + "</body></html>").getBytes(StandardCharsets.UTF_8)
      val lang = Langs(remU(h(cfg.seed, 0x11A9L, j), Langs.length.toLong).toInt)
      GenEvent(if (op == 'I') "I" else "U", l, part, url, ts, html, t, lang, seg)
    }
  }

  /** True when the event at `lsn` is delivered a second time, 5 segments later. */
  private def redelivered(lsn: Long, cfg: GenConfig): Boolean =
    remU(h(cfg.seed, 0xD4BL, lsn), cfg.dupMod.toLong) == 0L

  /** Full envelope + segment assignment, as a typed Dataset. Distributed: pure
    * function of the range index, no sequential state, no driver loop.
    */
  def events(spark: SparkSession, cfg: GenConfig): Dataset[GenEvent] = {
    import spark.implicits._
    spark.range(cfg.events).mapPartitions { lsns =>
      val zipf = ZipfCache.get(cfg.domains, cfg.zipfExp)
      new Iterator[GenEvent] {
        private var again: GenEvent = null // the pending duplicate re-delivery
        def hasNext: Boolean = again != null || lsns.hasNext
        def next(): GenEvent =
          if (again != null) { val e = again; again = null; e }
          else {
            val e = eventAt(lsns.next(), cfg, zipf)
            if (redelivered(e.lsn, cfg)) again = e.copy(seg = e.seg + 5)
            e
          }
      }
    }
  }

  /** Number of WAL segments a config produces (closed form, no job). */
  def numSegments(cfg: GenConfig): Int =
    ((cfg.events + (cfg.walParts - 1).toLong * 3L * cfg.segmentSize) / cfg.segmentSize + 6L).toInt

  /** Write the stream as a flat directory of parquet WAL segment files (the
    * file-based Kafka stand-in; `seg` kept as a data column). Roughly one file
    * per segment via hash-repartition on `seg` — residual collisions only make
    * batches coarser, never reorder LSNs within a partition.
    */
  def writeWal(spark: SparkSession, cfg: GenConfig, walDir: String): Int = {
    import org.apache.spark.sql.functions.col
    val n = numSegments(cfg)
    events(spark, cfg).repartition(n, col("seg"))
      .sortWithinPartitions("seg", "lsn")
      .write.mode("overwrite").parquet(walDir)
    n
  }

  /** Per-JVM cache of Zipf CDFs so executor tasks don't rebuild them per row. */
  private object ZipfCache {
    private val cache = new java.util.concurrent.ConcurrentHashMap[(Int, Double), Zipf]()
    def get(n: Int, s: Double): Zipf =
      cache.computeIfAbsent((n, s), { case (nn, ss) => new Zipf(nn, ss) })
  }
}
