package graft

import org.apache.spark.sql.functions._

import graft.ops.Pipe._
import graft.tql.Tql

class TqlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, "alpha", "GET", 200L, 1.5),
    (2L, "beta", "POST", 404L, 2.5),
    (3L, "alpha", "GET", 200L, 3.0),
    (4L, "gamma", "PUT", 500L, 0.5),
    (5L, "alpha", "POST", 200L, 4.0),
    (6L, "beta", "GET", 301L, 1.0)
  ).toDF("id", "user", "method", "status", "value")

  test("where / select / assignment compile to the hand-written twin") {
    val got = Tql("""
      where status == 200 and value > 1.0
      double = value * 2
      select id, user, double
    """)(df)
    val want = df.filter(col("status") === 200 && col("value") > 1.0)
      .withColumn("double", col("value") * 2)
      .select("id", "user", "double")
    assert(got.collect().toSeq == want.collect().toSeq)
    assert(got.columns.toSeq == Seq("id", "user", "double"))
  }

  test("assert drops failing rows; move renames in place") {
    val got = Tql("""assert status == 200 | move code=status, who=user | select id, who, code""")(df)
    val want = df.filter(col("status") === 200)
      .withColumnRenamed("status", "code").withColumnRenamed("user", "who")
      .select("id", "who", "code")
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("pipe separators, drop, rename, unique, in-list") {
    val got = Tql("""where method in ["GET", "PUT"] | drop value | rename verb=method | unique""")(df)
    assert(got.columns.toSeq == Seq("id", "user", "verb", "status"))
    assert(got.count() == 4)
    assert(got.filter(col("verb") === "PUT").count() == 1)
  }

  test("summarize classifies scalar-wrapped aggregates as aggregations") {
    // round(mean(x)) must land in aggs, not group keys, even though the
    // OUTERMOST parsed call is the scalar round()
    val got = Tql("summarize user, r = round(mean(value))")(df)
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == Seq(("alpha", 3.0), ("beta", 2.0), ("gamma", 1.0)))
  }

  test("summarize with groups, named aggregations, and auto-names") {
    val got = Tql("summarize user, n=count(), total=sum(value), hi=max(status)")(df)
      .orderBy("user").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq ==
      Seq(("alpha", 3L, 8.5, 200L), ("beta", 2L, 3.5, 404L), ("gamma", 1L, 0.5, 500L)))
    // unnamed aggregation takes the function name
    assert(Tql("summarize count()")(df).columns.toSeq == Seq("count"))
  }

  test("sort feeds the positional operators: head, tail, enumerate, slice") {
    val head = Tql("sort -value | head 2 | select id")(df).as[Long].collect().toSeq
    assert(head == Seq(5L, 3L))
    val tail = Tql("sort value | tail 2 | select id")(df).as[Long].collect().toSeq
    assert(tail == Seq(3L, 5L)) // last two in ascending-value order
    val enum = Tql("sort id | enumerate | where index < 2 | select index, id")(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(enum == Seq((0L, 1L), (1L, 2L)))
    val sliced = Tql("sort id | slice 1:5:2 | select id")(df).as[Long].collect().toSeq
    assert(sliced == Seq(2L, 4L))
    // positional ops without a sort are a compile-contract error
    intercept[IllegalArgumentException](Tql("tail 2")(df).collect())
  }

  test("top / rare / deduplicate / unroll / UFCS method sugar") {
    val top = Tql("top method")(df).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.head == ("GET", 3L))
    val rare = Tql("rare method 1")(df).collect().toSeq
    assert(rare.map(_.getString(0)) == Seq("PUT"))
    val dedup = Tql("sort id | deduplicate user | select user")(df)
      .as[String].collect().sorted.toSeq
    assert(dedup == Seq("alpha", "beta", "gamma"))
    val ufcs = Tql("""where user.starts_with("al") | parts = user.split("l") | unroll parts""")(df)
    assert(ufcs.count() == 6) // 3 alpha rows x ["a", "pha"]
    assert(ufcs.columns.contains("parts"))
  }

  test("group { } runs the subpipeline per key: head, tail, enumerate, slice, summarize") {
    // per-user top-1 by value
    val top1 = Tql("group user { sort -value | head 1 } | select user, id")(df)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(top1 == Seq(("alpha", 5L), ("beta", 2L), ("gamma", 4L)))
    // an assignment inside the group must NOT drop the group context:
    // head after it stays per-user, not global
    val top1b = Tql("group user { sort -value | flag = 1 | head 1 } | select user, id")(df)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(top1b == top1, "assignment inside group dropped the group keys")
    // per-user last row in id order
    val last = Tql("group user { sort id | tail 1 } | select user, id")(df)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(last == Seq(("alpha", 5L), ("beta", 6L), ("gamma", 4L)))
    // per-user 0-based index
    val enum = Tql("group user { sort id | enumerate rank } | where rank == 1 | select user, id")(df)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(enum == Seq(("alpha", 3L), ("beta", 6L))) // gamma has only one row
    // negative slice per group: last two rows of each user
    val sl = Tql("group user { sort id | slice -2:99 } | select user, id")(df)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(sl == Seq(("alpha", 3L), ("alpha", 5L), ("beta", 2L), ("beta", 6L), ("gamma", 4L)))
    // summarize inside group gains the group keys
    val agg = Tql("group user { summarize method, n=count() }")(df)
    assert(agg.columns.toSeq == Seq("user", "method", "n"))
    assert(agg.count() == 5)
    // positional ops inside a group still demand a sort
    intercept[IllegalArgumentException](Tql("group user { head 1 }")(df).collect())
  }

  test("from/to IO, enrich against a registered context, chart statement") {
    import graft.tql.Tql
    val dir = tmpDir("tqlio")
    df.write.parquet(s"$dir/in.parquet")

    // complete pipeline: source → transform → sink, then read the sink back
    Tql.run(spark, s"""
      from "$dir/in.parquet"
      where status == 200
      to "$dir/out.json"
    """)
    val back = spark.read.json(s"$dir/out.json")
    assert(back.count() == df.filter(col("status") === 200).count())

    // enrich: ctxKey=probeField broadcast probe
    Tql.registerContext("users", Seq(("alpha", "admin"), ("beta", "dev"))
      .toDF("name", "role"))
    val enriched = Tql(s"""enrich "users", name=user""")(df)
    assert(enriched.columns.contains("role"))
    assert(enriched.filter(col("user") === "alpha").select("role")
      .distinct().as[String].collect().toSeq == Seq("admin"))
    assert(enriched.filter(col("user") === "gamma").select("role").head().isNullAt(0))
    Tql.dropContext("users")
    intercept[RuntimeException](Tql(s"""enrich "users", name=user""")(df).collect())

    // chart statement compiles to the chart_ operator with metadata
    val c = Tql("chart_pie x=user, n=count()")(df)
    assert(c.columns.toSeq == Seq("user", "n"))
    assert(c.getAttribute_("user", "chart:type").contains("pie"))
    assert(c.count() == 3)
  }

  test("flatten / unflatten / sample / timeshift / deduplicate distance statements") {
    // flatten then unflatten round-trips a nested struct
    val nested = df.select(col("id"), struct(col("user"), col("status")).as("req"))
    val flat = Tql("flatten")(nested)
    assert(flat.columns.toSeq == Seq("id", "req.user", "req.status"))
    val back = Tql("unflatten")(flat)
    assert(back.columns.toSeq == nested.columns.toSeq)
    assert(back.select("id", "req.user", "req.status").collect().toSeq ==
      nested.select("id", "req.user", "req.status").collect().toSeq)

    // sample: matches the hand-written deterministic hash sample over all cols
    val got = Tql("sample 0.5")(df)
    val want = df.sample_(0.5, df.columns.map(col).toIndexedSeq)
    assert(got.collect().toSeq == want.collect().toSeq)

    // timeshift: shifts the column by the signed interval
    val ts = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "ts")
    val shifted = Tql("timeshift ts, by=-3600")(ts)
    assert(shifted.select("ts").head().getTimestamp(0) ==
      java.sql.Timestamp.valueOf("2023-12-31 23:00:00"))

    // deduplicate distance=n: matches deduplicateDistance_ on the same order
    val gotD = Tql("sort id | deduplicate user, distance=2")(df)
    val wantD = df.deduplicateDistance_(Seq("user"), Seq(col("id")), 2L)
    assert(gotD.collect().toSeq == wantD.collect().toSeq)
    // unsorted distance-dedup is a compile-usage error
    val e = intercept[IllegalArgumentException](
      Tql("deduplicate user, distance=2")(df))
    assert(e.getMessage.contains("requires a preceding sort"))

    // a field literally named "limit" or "distance" stays selectable where
    // the operator takes no options
    assert(Tql("select id, distance")(df.withColumnRenamed("value", "distance"))
      .columns.toSeq == Seq("id", "distance"))

    // flatten output (dotted top-level names) flows into sample unharmed
    val fs = Tql("flatten | sample 1.0")(nested)
    assert(fs.count() == nested.count())
  }

  test("group distance-dedup counts per-group events, not global row gaps") {
    // host A rows at seq 1,2; host B rows interleave between them globally.
    // Per-group distance=1 must drop A's second "u" row (gap 1 within A)
    // even though 3 other-global rows sit between them.
    val ev = Seq(
      (1L, "A", "u"), (2L, "B", "u"), (3L, "B", "v"),
      (4L, "B", "w"), (5L, "A", "u")
    ).toDF("ts", "host", "user")
    val got = Tql("group host { sort ts | deduplicate user, distance=1 }")(ev)
      .orderBy("ts").collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
    // A: seqs 1,2 for "u" → gap 1, second dropped. B: all distinct users kept.
    assert(got == Seq((1L, "A"), (2L, "B"), (3L, "B"), (4L, "B")))
  }

  test("to_opensearch / save_email statements render NDJSON and parse options") {
    import java.net.InetSocketAddress
    import java.nio.charset.StandardCharsets
    import java.util.concurrent.ConcurrentLinkedQueue
    import com.sun.net.httpserver.HttpServer

    val requests = new ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", ex => {
      requests.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      val resp = """{"errors":false}""".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    server.start()
    try {
      val out = Tql(s"""
        where status == 200
        select id, user
        to_opensearch "http://127.0.0.1:${server.getAddress.getPort}", index="pages"
      """)(df)
      assert(out.columns.toSeq == Seq("id", "user")) // sink passes events through
      val lines = requests.toArray(Array.empty[String]).toSeq
        .flatMap(_.split('\n').filter(_.nonEmpty))
      val (actions, docs) = lines.partition(_.startsWith("""{"create""""))
      assert(actions.forall(_ == """{"create":{"_index":"pages"}}"""))
      assert(docs.sorted == Seq(
        """{"id":1,"user":"alpha"}""", """{"id":3,"user":"alpha"}""",
        """{"id":5,"user":"alpha"}"""))
    } finally server.stop(0)

    // unknown option names are compile-time errors, not silent drops
    val err = intercept[IllegalArgumentException](
      Tql("""to_opensearch "http://x", bogus="1""""))
    assert(err.getMessage.contains("does not accept option 'bogus'"))
    assert(intercept[IllegalArgumentException](
      Tql("""save_email "a@b", bogus="1"""")).getMessage.contains("bogus"))
  }

  test("parse_* statements and namespaced/domain functions") {
    // CEF header parse from the string surface
    val cef = Seq((1L, "CEF:0|graft|engine|1.0|sig-7|probe|3|src=10.1.0.1"))
      .toDF("id", "line")
    val parsed = Tql("parse_cef line | select id, device_vendor, signature_id, severity")(cef)
      .head()
    assert(parsed.getString(1) == "graft" && parsed.getString(2) == "sig-7" &&
      parsed.getString(3) == "3")

    // syslog RFC5424 header
    val sys = Seq((1L, "<165>1 - host7 app - - - boom")).toDF("id", "line")
    val s5424 = Tql("parse_syslog line | select facility, severity, hostname, app_name, message")(sys).head()
    assert(s5424.getLong(0) == 20L && s5424.getLong(1) == 5L)
    assert(s5424.getString(2) == "host7" && s5424.getString(3) == "app" &&
      s5424.getString(4) == "boom")

    // kv parse into a map
    val kv = Tql("""parse_kv line""")(Seq((1L, "a=1 b=x")).toDF("id", "line"))
    assert(kv.select(element_at(col("kv"), "b")).as[String].head() == "x")

    // grok with an inline pattern
    val g = Tql("""parse_grok line, "%{INT:code} %{WORD:what}" | select code, what""")(
      Seq((1L, "42 hello")).toDF("id", "line")).head()
    assert(g.getString(0) == "42" && g.getString(1) == "hello")

    // namespaced + domain functions
    val r = Tql("""
      cu = ocsf::class_uid("DNS Activity")
      cn = ocsf::category_name(4)
      cid = community_id("10.0.0.1", "192.168.1.2", 1234, 80, 6)
      v4 = is_v4("10.0.0.1")
      toks = token_count(line)
      select cu, cn, cid, v4, toks
    """)(Seq((1L, "two words")).toDF("id", "line")).head()
    assert(r.getLong(0) == 4003L)
    assert(r.getString(1) == "Network Activity")
    assert(r.getString(2).startsWith("1:") && r.getBoolean(3) && r.getLong(4) == 2L)

    // url:: module + repetition signals
    val w = Tql("""
      host = url::host(u)
      dom = url::domain(u)
      canon = url::normalize(u)
      rep = top_2gram_fraction(line)
      dl = dup_line_fraction(ml)
      select host, dom, canon, rep, dl
    """)(Seq(("HTTP://WWW.Ex.CO.UK:80/a?q=1#f", "a b a b a", "x\ny\nx"))
      .toDF("u", "line", "ml")).head()
    assert(w.getString(0) == "www.ex.co.uk")
    assert(w.getString(1) == "ex.co.uk")
    assert(w.getString(2) == "http://www.ex.co.uk/a?q=1")
    assert(w.getDouble(3) == 0.8 && w.getDouble(4) == 1.0 / 3.0)
  }

  test("compress_*/decompress_* statements round-trip; read_gelf explodes frames") {
    // every codec surfaces as a statement pair; round-trip is the identity
    for (c <- graft.formats.Codec.Codecs) {
      val rt = Tql(s"compress_$c user | decompress_$c user | s = string(user) | select id, s")(df)
      assert(rt.as[(Long, String)].collect().sortBy(_._1).map(_._2).toSeq ==
        df.sort("id").select("user").as[String].collect().toSeq, c)
    }
    intercept[IllegalArgumentException](Tql("compress_brotli user")(df))
    // prefixed names stay usable as assignment targets
    val asn = Tql("compress_ratio = value * 2 | select id, compress_ratio")(df)
    assert(asn.columns.toSeq == Seq("id", "compress_ratio"))
    assert(asn.sort("id").as[(Long, Double)].head()._2 == 3.0)
    // nested paths are rejected eagerly (withColumn can't rewrite a nested field)
    val err = intercept[IllegalArgumentException](Tql("compress_gzip a.b")(df))
    assert(err.getMessage.contains("top-level field"))

    val NUL = 0.toChar.toString
    val gelf = Seq(
      ("""{"host":"a","short_message":"x"}""" + NUL + """{"host":"b","short_message":"y"}"""))
      .toDF("chunk")
    val out = Tql("read_gelf chunk | h = parsed.host | select h")(gelf)
    assert(out.as[String].collect().sorted.toSeq == Seq("a", "b"))
  }

  test("reverse flips the tracked order for downstream positional ops") {
    // head after reverse == tail of the original order
    val got = Tql("sort id | reverse | head 2 | select id")(df)
      .as[Long].collect().toSeq.sorted
    assert(got == Seq(5L, 6L))
    // enumerate after reverse numbers from the other end
    val e = Tql("sort id | reverse | enumerate idx | where idx == 0 | select id")(df)
      .as[Long].head()
    assert(e == 6L)
    intercept[IllegalArgumentException](Tql("reverse")(df).collect())
  }

  test("import/export statements: lake round-trip, watermark continuation, time travel") {
    import spark.implicits._
    val root = tmpDir("tql-lake")
    val b1 = Seq(("U", 1L, 0, "u1", "one"), ("U", 2L, 0, "u2", "two"))
      .toDF("op", "lsn", "wal_part", "url", "text")
    Tql(s"""import "$root"""")(b1)
    val table = new graft.lake.LakeTable(spark, root)
    val v1 = table.currentSnapshot.get.version
    // an import is an L0 append: un-bucketed files, resolved on read
    val files = table.currentSnapshot.get.files
    assert(files.nonEmpty && files.forall(_.bucket == -1), files.map(_.bucket))
    assert(table.needsResolve(table.currentSnapshot.get))
    table.tag("cut", v1)
    // second import continues the watermark (a NEW batch, not a replay-skip)
    val b2 = Seq(("U", 3L, 0, "u1", "one-v2"), ("D", 4L, 0, "u2", null))
      .toDF("op", "lsn", "wal_part", "url", "text")
    Tql(s"""import "$root"""")(b2)
    assert(table.currentSnapshot.get.watermarks("tql-import") == 1L)
    // head export sees the LWW result of both batches
    val head = Tql(s"""export "$root" | select url, text | sort url""")(b1)
    assert(head.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq("u1" -> "one-v2"))
    // time travel: version= and tag= both read the pre-batch-2 state
    for (opt <- Seq(s"version=$v1", """tag="cut"""")) {
      val old = Tql(s"""export "$root", $opt | select url, text | sort url""")(b1)
      assert(old.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq("u1" -> "one", "u2" -> "two"), s"opt=$opt")
    }
    // envelope contract enforced
    val e = intercept[IllegalArgumentException](
      Tql(s"""import "$root"""")(Seq(("u9", "x")).toDF("url", "text")))
    assert(e.getMessage.contains("envelope"))
  }

  test("if/else routes rows through subpipelines and re-joins the flows") {
    val got = Tql("""
      if status == 200 {
        tag = "ok"
        double = value * 2.0
      } else if status >= 500 {
        tag = "err"
      } else {
        tag = "other"
      }
      select id, tag, double
    """)(df)
    val want = df.ifElse_(col("status") === 200L,
      d => d.withColumn("tag", lit("ok")).withColumn("double", col("value") * 2.0),
      d => d.ifElse_(col("status") >= 500L,
        e => e.withColumn("tag", lit("err")),
        e => e.withColumn("tag", lit("other"))))
      .select("id", "tag", "double")
    assert(got.collect().toSet == want.collect().toSet)
    assert(got.queryExecution.optimizedPlan.canonicalized ==
      want.queryExecution.optimizedPlan.canonicalized)
    // else omitted = else {} (pass-through)
    val noElse = Tql("""if status == 200 { tag = "ok" } | select id, tag""")(df)
    assert(noElse.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "ok"), (3L, "ok"), (5L, "ok"), (2L, null), (4L, null), (6L, null)))
  }

  test("let binds compile-time constants, chained and const-folded") {
    val got = Tql("""
      let $cut = 100 + 100
      let $tag = "s00"
      where status >= $cut and status < $cut * 2
      select id, cut = $cut, tag = $tag
    """)(df)
    // the binding is a literal in the plan: the hand twin uses lit directly
    val want = df.filter(col("status") >= lit(200L) && col("status") < lit(400L))
      .select(col("id"), lit(200L).as("cut"), lit("s00").as("tag"))
    assert(got.collect().toSeq == want.collect().toSeq)
    assert(got.queryExecution.optimizedPlan.canonicalized ==
      want.queryExecution.optimizedPlan.canonicalized)
    // non-constant lets are rejected at compile time
    val err = intercept[IllegalArgumentException](Tql("let $x = status + 1"))
    assert(err.getMessage.contains("constant"))
  }

  test("every/cron statements: batch compile runs the body once; schedule drives fires") {
    val dir = tmpDir()
    val src = s"$dir/src.json"
    def writeRows(rows: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(src),
        rows.mkString("\n").getBytes("UTF-8"))
    writeRows("""{"x": 1}""")
    // batch compile: the body runs once, immediately
    val once = Tql.run(spark, s"""every 10min { from "$src" } | select x""")
    assert(once.collect().map(_.getLong(0)).toSeq == Seq(1L))

    // schedule with an injectable clock/sleeper: fires sit on the interval
    // grid from the first (immediate) run; the sleeper mutates the source
    // between fires, so the union proves each fire re-ran the body
    var nowMs = 1000000L
    val waits = Seq.newBuilder[Long]
    val out = Tql.schedule(spark, s"""every 10min { from "$src" } | select x""",
      maxRuns = 3,
      clock = () => java.time.Instant.ofEpochMilli(nowMs),
      sleeper = w => {
        waits += w; nowMs += w
        writeRows(s"""{"x": ${100 + (nowMs - 1000000L) / 600000L}}""")
      })
    assert(out.collect().map(_.getLong(0)).toSet == Set(1L, 101L, 102L))
    assert(waits.result() == Seq(600000L, 600000L))

    // cron spec wiring: fires at the next */5-minute marks (Cron.nextAfter
    // semantics), body re-read per fire
    writeRows("""{"x": 7}""")
    var cnowMs = 0L
    val cron = Tql.schedule(spark, s"""cron "*/5 * * * *" {
        from "$src"
      }
      summarize n=count()""",
      maxRuns = 2,
      clock = () => java.time.Instant.ofEpochMilli(cnowMs),
      sleeper = w => cnowMs += w)
    assert(cron.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // a bad cron expression fails at compile time, not at fire time
    assertThrows[IllegalArgumentException](Tql("""cron "61 * * * *" { pass }"""))
  }

  test("@metadata fields and `this` compile to columns and a full-event struct") {
    // write + read + filter @name; project it out under a plain name
    val got = Tql("""
      @name = concat("t.", method)
      where @name == "t.GET"
      select id, name = @name
    """)(df)
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "t.GET"), (3L, "t.GET"), (6L, "t.GET")))
    // `this` captures the event record — WITHOUT metadata: @-prefixed
    // columns are not part of the record `this` denotes (reference keeps
    // metadata beside the event)
    val self = Tql("""ev = this | select id, ev""")(df)
    val r = self.filter(col("id") === 2L).select("ev.*").collect().head
    assert(r.getAs[String]("user") == "beta" && r.getAs[Long]("status") == 404L)
    val withMeta = Tql("""@name = "t.x" | ev = this | select ev""")(df)
    val evFields = withMeta.schema("ev").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    assert(!evFields.exists(_.startsWith("@")), s"this leaked metadata: ${evFields.toSeq}")
    assert(evFields.contains("id") && evFields.contains("user"))
    // routed frames carry @name (zeek.<path> naming)
    val raw = Seq("""{"_path":"conn","uid":1}""", """{"_path":"dns","uid":2}""")
      .toDF("line")
    val routed = graft.formats.JsonStreams.readZeekJson(raw, "line")
    assert(routed("conn").select("`@name`").collect().head.getString(0) == "zeek.conn")
    assert(routed("dns").select("`@name`").collect().head.getString(0) == "zeek.dns")
    // `from` stamps @import_time with the ingest clock (injected here for
    // determinism); an explicit user stamp is never clobbered
    val dir = tmpDir()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/s.json"),
      """{"x": 1}""".getBytes("UTF-8"))
    val fixed = java.time.Instant.parse("2026-03-01T12:00:00Z")
    val prevClock = graft.core.IngestClock.now
    graft.core.IngestClock.now = () => fixed
    try {
      val stamped = Tql(s"""from "$dir/s.json" | select x, it = @import_time""")(df)
      val row = stamped.collect().head
      assert(row.getTimestamp(1).toInstant == fixed)
      val explicit = Tql(
        s"""from "$dir/s.json" | @import_time = "own" | select it = @import_time""")(df)
      // user stamp set AFTER the read overwrites; the reader never re-stamps
      assert(explicit.collect().head.getString(0) == "own")
    } finally graft.core.IngestClock.now = prevClock
  }

  test("review-fix regressions: keyword guards, this-in-let, zero-fire schedule") {
    // fields literally named every/cron remain assignable — plain and
    // path-continuation forms (`every.field = 1` is the `set` op, not a
    // malformed schedule)
    val kw = Tql("""every = 1 | cron = 2 | select id, every, cron""")(df)
    val r = kw.collect().head
    assert(r.getLong(1) == 1L && r.getLong(2) == 2L)
    // (dotted top-level names are the flattened-frame convention, Pipe.set_)
    val kwPath = Tql("""every.x = 1 | cron.y = 2""")(df)
    assert(kwPath.columns.contains("every.x") && kwPath.columns.contains("cron.y"))
    assert(kwPath.select(col("`every.x`"), col("`cron.y`")).head() ==
      org.apache.spark.sql.Row(1L, 2L))
    // `this` in a let is a use-site-dependent capture, not a constant
    val err = intercept[IllegalArgumentException](Tql("let $snap = this"))
    assert(err.getMessage.contains("constant"))
    // zero fires → clear errors, not empty.reduce
    assertThrows[IllegalArgumentException](
      Tql.schedule(spark, """every 1s { pass }""", maxRuns = 0))
    val never = intercept[IllegalArgumentException](
      Tql.schedule(spark, """cron "0 0 31 2 *" { pass }""", maxRuns = 1,
        clock = () => java.time.Instant.ofEpochMilli(0L), sleeper = _ => ()))
    assert(never.getMessage.contains("zero fires"))
    // the body replaces the frame: outer sort context does not leak through
    val dir = tmpDir()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/s.json"),
      """{"y": 5}""".getBytes("UTF-8"))
    val fresh = Tql(s"""sort -value | every 1h { from "$dir/s.json" } | select y""")(
      df.withColumnRenamed("id", "value"))
    assert(fresh.collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("every overrun re-syncs to the next future grid slot (no catch-up burst)") {
    val dir = tmpDir()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/s.json"),
      """{"x": 1}""".getBytes("UTF-8"))
    // scripted clock: the 2nd reading (after fire 1) jumps 25 min forward —
    // a body that overran two 10-min slots. The scheduler must skip slots 1-2
    // and wait 5 min to slot 3, NOT fire slots 1 and 2 back-to-back.
    var now = 0L
    var calls = 0
    val waits = Seq.newBuilder[Long]
    val out = Tql.schedule(spark, s"""every 10min { from "$dir/s.json" }""",
      maxRuns = 3,
      clock = () => { calls += 1; if (calls == 2) now += 1500000L
        java.time.Instant.ofEpochMilli(now) },
      sleeper = w => { waits += w; now += w })
    assert(out.count() == 3) // still exactly maxRuns fires
    // slot 3 at t=30min (wait 5min), then slot 4 at t=40min (wait 10min)
    assert(waits.result() == Seq(300000L, 600000L))
  }

  test("let bindings are lexically scoped to their subpipeline block") {
    // an inner let does not leak past its block
    val leak = intercept[RuntimeException](
      Tql("""if value > 0 { let $k = 5 | x = $k } | y = $k"""))
    assert(leak.getMessage.contains("unknown constant"))
    // outer bindings stay visible inside; inner re-binding shadows without
    // clobbering the outer one
    val shadow = Tql(
      """let $k = 1 | if id >= 0 { let $k = 2 | a = $k } | b = $k | select id, a, b""")(df)
    val rows = shadow.collect()
    assert(rows.forall(r => r.getLong(1) == 2L && r.getLong(2) == 1L))
    assert(rows.length == df.count())
  }

  test("list lambdas: map/where compile to the transform/filter HOF twins") {
    val lists = Seq(
      (1L, "alpha beta gammaray x", "en"),
      (2L, "delta epsilonizer", "de")
    ).toDF("id", "text", "lang")
    // behavior: filter then transform, body capturing an outer field
    val got = Tql("""
      words = where(split(text, " "), w => length(w) >= 6)
      caps = map(words, w => concat(w, ":", lang))
      select id, joined = join(caps, " ")
    """)(lists)
    assert(got.sort("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "gammaray:en"), (2L, "epsilonizer:de")))
    // plan identity vs the Scala HOF twins (same ArrayFilter/ArrayTransform)
    // modulo lambda-variable naming (TQL keeps the user's `w`; the Scala HOF
    // generates x_N) and expression ids
    val hand = lists
      .withColumn("words", filter(split(col("text"), " "), w => length(w) >= 6))
      .withColumn("caps", transform(col("words"), w => concat(w, lit(":"), col("lang"))))
      .select(col("id"), array_join(col("caps"), " ").as("joined"))
    def norm(p: org.apache.spark.sql.execution.QueryExecution): String =
      p.optimizedPlan.toString.replaceAll("#\\d+", "").replaceAll("lambda \\w+", "lambda v")
    assert(norm(got.queryExecution) == norm(hand.queryExecution))
    // the lambda parameter shadows a same-named event field; the field
    // stays reachable from OUTSIDE the lambda
    val shadow = Tql("""m = map(split(text, " "), lang => lang) | select id, m""")(lists)
    assert(shadow.sort("id").select(element_at(col("m"), 1)).as[String].head() == "alpha")
    // let-guard: a lambda over a literal list is a constant; one touching an
    // event field is not — and the bound parameter itself is not a field ref
    Tql("""let $c = map([1, 2], x => x + 1) | y = $c | select id, y""")(lists)
    val err = intercept[IllegalArgumentException](
      Tql("let $c = map(split(text, \" \"), x => x)"))
    assert(err.getMessage.contains("constant"))
    val err2 = intercept[IllegalArgumentException](
      Tql("let $c = map([1], x => x + value)"))
    assert(err2.getMessage.contains("constant"))
    // nested lambdas over a list of lists; the inner parameter may even
    // SHADOW the outer one (innermost wins, as in SQL `x -> ... x -> ...`)
    val nested = Seq((1L, Seq(Seq(1, 2, 3), Seq(4, 5)))).toDF("id", "xss")
    val inner = Tql("""
      sums = map(xss, xs => join(map(where(xs, v => v >= 2), v => string(v * 10)), "-"))
      select id, s = join(sums, "|")
    """)(nested)
    assert(inner.as[(Long, String)].head() == (1L, "20-30|40-50"))
    val shadowed = Tql("""m = map(xss, x => join(map(x, x => string(x)), ",")) | select m""")(nested)
    assert(shadowed.select(element_at(col("m"), 1)).as[String].head() == "1,2,3")
  }

  test("if lowering: one pushed-predicate scan per branch") {
    val dir = tmpDir()
    df.write.parquet(s"$dir/src.parquet")
    def fileScans(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }.size
    val q = s"""from "$dir/src.parquet"
      if status == 200 { sev = "ok" } else { sev = "bad" }
      select id, sev"""
    val routed = Tql(q)(df)
    assert(fileScans(routed) == 2) // one scan per branch, disjoint pushed predicates
    // the routed branches together hold every source row once
    val expected = df.select(col("id"),
      when(col("status") === 200, "ok").otherwise("bad").as("sev"))
    assert(routed.collect().toSet == expected.collect().toSet)
    assert(routed.count() == df.count())
  }

  test("string-surface fidelity: literal replace/split, escapes, ||, summarize keys") {
    // replace/split are LITERAL (the reference separates the regex variants)
    val lit = Tql("""r = replace(user, "a", "_") | s = join(split(method, "E"), "-")
      | rr = replace_regex(user, "a+", "X") | select id, r, s, rr""")(df)
    val row = lit.filter(col("id") === 1L).head()
    assert(row.getString(1) == "_lph_")   // not every-char (regex '.') semantics
    assert(row.getString(2) == "G-T")     // split on literal E
    assert(row.getString(3) == "XlphX") // regex variant: every a+ run
    // a regex metacharacter as a literal separator must not explode the string
    val dot = Tql("""p = join(split(user, "."), "/") | select p""")(
      Seq("a.b.c").toDF("user"))
    assert(dot.as[String].head() == "a/b/c")
    // standard string escapes reach the data
    val esc = Tql("""t = concat(user, "\t", "\n") | n = length(t) | select n""")(
      Seq("x").toDF("user"))
    assert(esc.as[Long].head() == 3L) // x + tab + newline
    // || spells or (single | stays the statement separator)
    val orq = Tql("""where status == 200 || status == 404 | select id""")(df)
    assert(orq.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 5L))
    // summarize with only keys = distinct-by-key (no opaque crash)
    val dk = Tql("""summarize user""")(df)
    assert(dk.as[String].collect().sorted.toSeq == Seq("alpha", "beta", "gamma"))
    // slice stride 0 rejected at parse, both paths
    val sErr = intercept[IllegalArgumentException](Tql("sort id | slice 0:10:0"))
    assert(sErr.getMessage.contains("stride"))
    // `else` on its own line parses (Allman style)
    val allman = Tql("sort value | if status == 200 { sev = \"ok\" }\nelse { sev = \"bad\" }\nselect id, sev")(df)
    assert(allman.filter(col("sev") === "ok").count() == 3)
    // every/cron inside group is rejected, not silently global
    val gErr = intercept[IllegalArgumentException](
      Tql("""group user { every 1h { pass } }""")(df))
    assert(gErr.getMessage.contains("inside group"))
    // enrich key-rename collisions fail with the cause
    graft.tql.Tql.registerContext("t_ctx",
      Seq((200L, "ok", "dup")).toDF("code", "info", "status"))
    try {
      val eErr = intercept[IllegalArgumentException](
        Tql("""enrich "t_ctx", code=status""")(df))
      assert(eErr.getMessage.contains("collides"))
    } finally graft.tql.Tql.dropContext("t_ctx")
  }

  test("@ metadata stays out of byte sinks and the sample hash") {
    val dir = tmpDir()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/in.json"),
      """{"x": 1, "y": "a"}""".getBytes("UTF-8"))
    // from stamps @import_time; to must NOT serialize it
    Tql.run(spark, s"""from "$dir/in.json" | to "$dir/out.json"""")
    val out = spark.read.json(s"$dir/out.json")
    assert(!out.columns.exists(_.startsWith("@")), out.columns.toSeq.toString)
    assert(out.columns.toSet == Set("x", "y"))
    // sample's deterministic hash ignores the per-run stamp: same subset
    // across two runs with different stamps
    val fixed1 = java.time.Instant.parse("2026-01-01T00:00:00Z")
    val fixed2 = java.time.Instant.parse("2026-02-02T00:00:00Z")
    val prev = graft.core.IngestClock.now
    def ids(at: java.time.Instant): Seq[Long] = {
      graft.core.IngestClock.now = () => at
      Tql(s"""sample 0.5 | select id""")(
        graft.core.IngestClock.stamp(df)).as[Long].collect().sorted.toSeq
    }
    try assert(ids(fixed1) == ids(fixed2))
    finally graft.core.IngestClock.now = prev
  }

  test("compiled plan is identical to the hand-written DataFrame plan") {
    val tql = Tql("where status == 200 | summarize user, n=count()")(df)
    val hand = df.filter(col("status") === lit(200L))
      .groupBy(col("user").as("user")).agg(count(lit(1)).as("n"))
    assert(tql.queryExecution.optimizedPlan.canonicalized ==
      hand.queryExecution.optimizedPlan.canonicalized)
  }
}
