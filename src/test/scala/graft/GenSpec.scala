package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import graft.gen.{ChangeGen, GenConfig}

/** The generator as first written: varargs `h` and `Long.toUnsignedString`,
  * kept verbatim as the oracle for the byte-identity pins in GenSpec.
  */
object GenOracle {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, parts: Long*): Long = parts.foldLeft(mix(seed))((a, b) => mix(a ^ b))
  def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))

  def urlFor(j: Long, cfg: GenConfig, zipf: ChangeGen.Zipf): String = {
    val d = zipf.sample(unit(h(cfg.seed, 0xD0A1L, j)))
    s"https://d$d.example.com/p/$j"
  }

  def targetFor(lsn: Long, cfg: GenConfig): Long = {
    val n = ChangeGen.insertsBefore(lsn)
    val u = unit(h(cfg.seed, 0x7A96L, lsn))
    math.min(n - 1, (u * u * u * n).toLong)
  }

  def textFor(url: String, lsn: Long, seed: Long): String = {
    var st = h(seed, 0x3E47L, lsn, url.length.toLong, url.hashCode.toLong)
    val words = 16 + (java.lang.Long.remainderUnsigned(st, 40L)).toInt
    val sb = new StringBuilder(words * 8 + url.length + 24)
    sb.append("url=").append(url).append(" v=").append(lsn)
    var i = 0
    while (i < words) {
      st = mix(st)
      sb.append(' ').append(java.lang.Long.toUnsignedString(st, 36).take(3 + (i % 6)))
      i += 1
    }
    sb.toString
  }
}

class GenSpec extends SparkSpec {
  import spark.implicits._

  val cfg = GenConfig(events = 5000, segmentSize = 512)

  test("generator is deterministic across runs") {
    val a = ChangeGen.events(spark, cfg).collect().sortBy(e => (e.lsn, e.seg))
    val b = ChangeGen.events(spark, cfg).collect().sortBy(e => (e.lsn, e.seg))
    assert(a.length == b.length)
    assert(a.zip(b).forall { case (x, y) =>
      x.op == y.op && x.lsn == y.lsn && x.url == y.url && x.text == y.text &&
        x.seg == y.seg && x.wal_part == y.wal_part
    })
  }

  test("op mix, duplicates, per-part lsn monotonicity, out-of-order arrival") {
    val evs = ChangeGen.events(spark, cfg).collect()
    val distinct = evs.distinctBy(_.lsn)
    assert(distinct.length == cfg.events)
    assert(evs.length > cfg.events) // duplicate re-deliveries exist
    val mix = distinct.groupBy(_.op).view.mapValues(_.length.toDouble / cfg.events).toMap
    assert(mix("I") > 0.65 && mix("I") < 0.75, s"insert share ${mix("I")}")
    assert(mix("U") > 0.20 && mix("U") < 0.30)
    assert(mix("D") > 0.02 && mix("D") < 0.08)
    // lsn strictly increasing per wal_part (WAL contract)
    distinct.groupBy(_.wal_part).foreach { case (_, es) =>
      val ls = es.sortBy(_.lsn).map(_.lsn)
      assert(ls.zip(ls.tail).forall { case (a, b) => a < b })
    }
    // arrival (segment) order ≠ lsn order: some later segment has a smaller lsn
    val bySeg = distinct.sortBy(_.seg)
    assert(bySeg.zip(bySeg.tail).exists { case (a, b) => a.seg < b.seg && a.lsn > b.lsn })
    // updates/deletes target previously inserted urls
    val inserted = distinct.filter(_.op == "I").map(_.url).toSet
    assert(distinct.filter(e => e.op != "I").forall(e => inserted.contains(e.url)))
  }

  test("domain skew is Zipf-hot") {
    val evs = ChangeGen.events(spark, cfg).collect().distinctBy(_.lsn)
    val domains = evs.map(e => e.url.split('/')(2)).groupBy(identity).view.mapValues(_.length).toSeq
    val top = domains.map(_._2).max.toDouble / evs.length
    assert(top > 0.15, s"hottest domain share $top — expected Zipf skew")
  }

  test("text is a pure function of the raw html bytes: extractText(html) == text, byte-identical") {
    import org.apache.spark.sql.functions.col
    // the replay invariant's derivation direction: the WAL's `text` column is
    // re-derivable from `html` alone, so ANY replay that preserves html bytes
    // reconverges to byte-identical extracted text per url
    val mismatches = ChangeGen.events(spark, cfg).toDF()
      .filter(col("op") =!= "D")
      .filter(graft.functions.Text.extractText(col("html")) =!= col("text"))
      .count()
    assert(mismatches == 0L)
  }

  test("textFor, urlFor and targetFor equal the oracle over 120k inputs, negative seeds and lsns included") {
    val zipf = new ChangeGen.Zipf(cfg.domains, cfg.zipfExp)
    val seeds = Array(42L, 0L, -1L, 7L, Long.MinValue, Long.MaxValue, -123456789L)
    var i = 0
    while (i < 120000) {
      val r = GenOracle.mix(i.toLong * 0x51ED)
      val seed = if (i % 3 == 0) seeds(i % seeds.length) else r
      val c = cfg.copy(seed = seed)
      val lsn = if (i % 2 == 0) i.toLong else r >> (i % 64) // negatives of every magnitude
      val j = if (i % 5 == 0) -i.toLong else i.toLong * 977
      val url = GenOracle.urlFor(j, c, zipf)
      assert(ChangeGen.urlFor(j, c, zipf) == url, s"urlFor($j, seed $seed)")
      assert(ChangeGen.textFor(url, lsn, seed) == GenOracle.textFor(url, lsn, seed),
        s"textFor($url, $lsn, $seed)")
      val target = math.abs(lsn >> 2) // insertsBefore needs lsn >= 0
      assert(ChangeGen.targetFor(target, c) == GenOracle.targetFor(target, c),
        s"targetFor($target, seed $seed)")
      i += 1
    }
  }

  test("base-36 prefix kernel and unsigned remainder on edge states") {
    val p12 = BigInt(36).pow(12).toLong
    val edges = Seq(0L, 1L, 35L, 36L, 37L, 1295L, 1296L, p12 - 1, p12, p12 + 1,
      Long.MaxValue, Long.MinValue, Long.MinValue + 1, -2L, -1L) ++
      (1 to 12).flatMap { k => val p = BigInt(36).pow(k).toLong; Seq(p - 1, p, p + 1) }
    for (st <- edges; n <- 1 to 12) {
      val sb = new java.lang.StringBuilder("x")
      ChangeGen.appendBase36Prefix(sb, st, n)
      assert(sb.toString == "x" + java.lang.Long.toUnsignedString(st, 36).take(n), s"st=$st n=$n")
    }
    for (x <- edges; d <- Seq(1L, 2L, 6L, 8L, 23L, 36L, 40L))
      assert(ChangeGen.remU(x, d) == java.lang.Long.remainderUnsigned(x, d), s"x=$x d=$d")
  }

  test("events fingerprint equals the golden of the first generator") {
    val md = MessageDigest.getInstance("SHA-256")
    val evs = ChangeGen.events(spark, cfg).collect().sortBy(e => (e.lsn, e.seg))
    evs.foreach { e =>
      md.update(s"${e.op}|${e.lsn}|${e.wal_part}|${e.url}|${e.warc_ts.getTime}|${e.text}|${e.lang}|${e.seg}|"
        .getBytes(UTF_8))
      if (e.html != null) md.update(e.html)
      md.update('\n'.toByte)
    }
    val n = evs.length
    val print = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(n == 5219 && print == "2412bf58932b0df2ea31891b4b18c0d47ffb7a1193d363d0466fd0564c46e367", s"$n events, sha-256 $print")
  }
}
