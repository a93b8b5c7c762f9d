package graft.tql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Pipe._

/** A TQL2-subset pipeline compiler: the reference's string query surface
  * (`/root/reference/web/docs/tql2/language/statements.md`; operator grammar
  * per-op under `web/docs/tql2/operators/`) compiled to DataFrame
  * transforms — `Tql("where x > 5 | select user_id, n = x + 1")` returns a
  * `DataFrame => DataFrame`.
  *
  * Everything compiles to built-in Catalyst expressions (the same `Pipe`
  * operators the Scala surface uses); nothing is interpreted per row, so a
  * TQL-compiled pipeline has the identical physical plan to its hand-written
  * DataFrame twin. This is the `sigma`-plugin pattern
  * (`plugins/sigma/src/parse.cpp:492-540`) applied to the whole operator
  * language rather than one rule format.
  *
  * Supported statements (newline or `|` separated, TQL2 grammar):
  * `where`, `select`, `drop`, `rename`, bare assignment (`set`), `sort`
  * (with `-expr` descending), `head n`, `tail n`, `taste n`, `unique`,
  * `deduplicate keys… [limit=n | distance=n]`,
  * `summarize (group|name=agg())…`,
  * `unroll f`, `flatten ["sep"]` / `unflatten ["sep"]`,
  * `sample <fraction>`, `timeshift f, by=<seconds>`,
  * `enumerate [f]`, `slice b:e[:stride]`, `top f [n]`,
  * `rare f [n]`, `pass`, `discard`, `assert expr` (drop-on-failure with an
  * observed dropped-count metric), `move to=from, …`,
  * `from "<path>"` / `to "<path>"`
  * (extension-dispatched IO; see [[Tql.run]]),
  * `save_email "<to>"[, endpoint=…, from=…, subject=…]` and
  * `to_opensearch "<url>"[, index=…, action=…]` (events rendered as NDJSON
  * into the push connectors), `enrich "<context>",
  * ctxKey=probeField…` (named-context broadcast probe, register frames via
  * [[Tql.registerContext]]), `chart_line/_area/_bar/_pie x=f[,
  * resolution="day"], name=agg()…`, `parse_json/_grok/_syslog/_cef/_leef/_kv
  * field[, args]` (format parsers appended as typed columns), and
  * `group keys… { subpipeline }`
  * (per-key subpipeline semantics, reference `group.cpp:20-70` — positional
  * ops inside the braces compile to `Window.partitionBy(keys)` forms and
  * `summarize` gains the group keys, so one distributed plan serves every
  * key instead of a plan per key), `if <expr> { … } [else { … } | else if …]`
  * (predicate routing through subpipelines, flows re-joined —
  * `statements.md:35-47`), `let $name = <const-expr>` bindings
  * (field references rejected at compile time, constant-folded by Catalyst —
  * the reference's const-eval contract, `exec.cpp:39-97`; referenced as
  * `$name` in any later expression or `let`), and `every <duration> { … }` /
  * `cron "<expr>" { … }` scheduled subpipelines (batch compile = one
  * immediate run; [[Tql.schedule]] drives repeated fires — `every_cron.cpp`).
  *
  * Expressions: literals (`1`, `1.5`, `"s"`, `true`, `null`), field paths
  * (`a.b`), arithmetic, comparisons, `and`/`or`/`not`, `in [v, …]`, list
  * literals, function calls (whitelist below), and UFCS method sugar
  * (`x.starts_with("a")` ≡ `starts_with(x, "a")`).
  *
  * Positional operators (`tail`/`enumerate`/`slice`/deterministic
  * `deduplicate`) take their order from the most recent `sort` in the
  * pipeline — the compiler tracks it; using them unsorted is an error
  * (Spark streams have no implicit event order, unlike the reference's
  * single-node pipeline; demanding a sort makes the semantics exact).
  */
object Tql {

  def apply(pipeline: String): DataFrame => DataFrame = compile(pipeline)

  def compile(pipeline: String): DataFrame => DataFrame = {
    val stmts = new Parser(Lexer.tokenize(pipeline)).parsePipeline()
    df => stmts.foldLeft(new State(df, Nil))((st, stmt) => stmt(st)).df
  }

  /** Run a COMPLETE pipeline string — may start with `from "<path>"` and end
    * with `to "<path>"` (the reference's source/sink operators, extension-
    * dispatched like `from_to_2.cpp`'s scheme/extension routing). Returns the
    * final DataFrame (already written if the pipeline ends in `to`).
    */
  def run(spark: org.apache.spark.sql.SparkSession, pipeline: String): DataFrame =
    compile(pipeline)(spark.emptyDataFrame)

  /** Drive a pipeline whose FIRST statement is `every <dur> { … }` or
    * `cron "<expr>" { … }` for `maxRuns` fires (reference `every_cron.cpp`:
    * each fire spawns the body pipeline and runs it to completion; the
    * outputs flow onward as ONE stream into the remaining statements — so
    * `every 1s { from … } | enumerate` numbers rows across runs, the
    * `every.md` example). `clock`/`sleeper` are injectable for tests, same
    * contract as [[graft.streaming.Cron.schedule]]. For `every`, fires sit
    * on the fixed interval grid from the first (immediate) run; a body that
    * OVERRUNS its interval re-syncs to the next grid slot at or after now —
    * missed slots are skipped, never replayed as a catch-up burst
    * (Cron.schedule's rule; reference every_cron.cpp delta < 0 →
    * next_after(now)).
    */
  def schedule(spark: org.apache.spark.sql.SparkSession, pipeline: String, maxRuns: Int,
      clock: () => java.time.Instant = () => java.time.Instant.now(),
      sleeper: Long => Unit = Thread.sleep): DataFrame = {
    val stmts = new Parser(Lexer.tokenize(pipeline)).parsePipeline()
    val sched = stmts.headOption match {
      case Some(s: SchedStmt) => s
      case _ => sys.error("tql: schedule requires a pipeline starting with every/cron")
    }
    require(maxRuns >= 1, s"tql: schedule needs maxRuns >= 1, got $maxRuns")
    // each fire "runs to completion" (every.md): materialize the run's
    // output NOW — a lazy plan would re-read its sources at the final
    // action and observe post-fire state instead of the fire's snapshot.
    // The checkpointed blocks live until the session drops the returned
    // frame — bounded by maxRuns fires, the cost of per-fire snapshots.
    def runBody(): DataFrame = sched.run(spark.emptyDataFrame).localCheckpoint(true)
    val outs = Seq.newBuilder[DataFrame]
    sched.spec match {
      case Left(intervalMs) =>
        val startMs = clock().toEpochMilli
        var i = 0
        var slot = 0L // grid index of the most recent fire
        while (i < maxRuns) {
          outs += runBody()
          i += 1
          if (i < maxRuns) {
            // on overrun, re-sync to the next grid slot AT or after now
            // instead of replaying every missed slot as a back-to-back
            // catch-up burst (Cron.schedule's rule; reference every_cron.cpp:
            // delta < 0 → next_after(now)). Ceiling division: a body ending
            // exactly ON a boundary fires at that boundary (delta == 0 is
            // on time, not missed).
            val nowMs = clock().toEpochMilli
            slot = math.max(slot + 1, (nowMs - startMs + intervalMs - 1) / intervalMs)
            val wait = startMs + slot * intervalMs - nowMs
            if (wait > 0) sleeper(wait)
          }
        }
      case Right(expr) =>
        graft.streaming.Cron.schedule(expr, maxRuns, clock, sleeper)(_ => outs += runBody())
    }
    val runs = outs.result()
    // a parse-valid cron can still never fire (e.g. "0 0 31 2 *"): fail with
    // the cause rather than an opaque empty.reduce
    require(runs.nonEmpty, "tql: schedule produced zero fires (cron never fires?)")
    val union = runs.reduce(_.unionByName(_, allowMissingColumns = true))
    stmts.tail.foldLeft(new State(union, Nil))((s, x) => x(s)).df
  }

  /** The `this` star: every top-level column EXCEPT `@`-prefixed metadata.
    * An [[org.apache.spark.sql.catalyst.analysis.UnresolvedRegex]] expands
    * against the frame at analysis time (full-string match, so `[^@].*`
    * admits exactly the names not starting with `@`), in the frame's column
    * order — same order a plain star would give.
    */
  private[tql] def thisColumn: Column =
    org.apache.spark.sql.GraftExpr.column(
      org.apache.spark.sql.catalyst.analysis.UnresolvedRegex(
        "[^@].*", None, caseSensitive = true))

  /** Named context registry for `enrich` (the reference's `context::create` /
    * `context::enrich` pair — `lookup_table.cpp`; here any DataFrame can be a
    * context). Registered frames are broadcast at probe time.
    */
  private val contextsReg = new scala.collection.concurrent.TrieMap[String, DataFrame]
  def registerContext(name: String, df: DataFrame): Unit = contextsReg(name) = df
  def dropContext(name: String): Unit = contextsReg.remove(name)
  private[tql] def context(name: String): DataFrame =
    contextsReg.getOrElse(name, sys.error(s"tql: unknown context '$name'"))

  // ------------------------------------------- TQL-managed contexts (context::*)

  /** State of a `context::create_*`-made context. Lookup-table entries:
    * `(key, value, created_ts, updated_ts, create_timeout_ms,
    * write_timeout_ms)` — timeouts are per-entry nullable millis, exactly the
    * reference's lookup-table TTL model (`lookup_table.cpp:218-243`). Bloom
    * contexts hold raw keys; the filter is built at probe time. Entries are
    * `localCheckpoint`ed per mutation so a long create→update chain never
    * accumulates an unbounded plan.
    */
  private case class CtxState(kind: String, entries: Option[DataFrame],
      capacity: Long = 1000000L, fp: Double = 0.01)
  private val tqlCtxReg = new scala.collection.concurrent.TrieMap[String, CtxState]
  private def tqlCtx(name: String): CtxState =
    tqlCtxReg.getOrElse(name, sys.error(s"tql: unknown context '$name' " +
      "(create it with context::create_lookup_table / create_bloom_filter)"))

  private[tql] def ctxCreate(name: String, kind: String,
      capacity: Long = 1000000L, fp: Double = 0.01): Unit = {
    require(!tqlCtxReg.contains(name), s"tql: context '$name' already exists")
    tqlCtxReg(name) = CtxState(kind, None, capacity, fp)
  }
  private[tql] def ctxRemove(name: String): Unit = {
    tqlCtx(name); tqlCtxReg.remove(name); ()
  }
  private[tql] def ctxReset(name: String): Unit =
    tqlCtxReg(name) = tqlCtx(name).copy(entries = None)
  /** Test hook: drop every context::* context (suite isolation). */
  def ctxClearAll(): Unit = tqlCtxReg.clear()

  private def ctxNow(): java.sql.Timestamp =
    new java.sql.Timestamp(graft.core.IngestClock.now().toEpochMilli)

  /** Entries still alive at `now` under their own per-entry timeouts. */
  private def liveEntries(df: DataFrame, now: java.sql.Timestamp): DataFrame =
    df.filter(
      (col("create_timeout_ms").isNull ||
        unix_millis(col("created_ts")) + col("create_timeout_ms") > lit(now.getTime)) &&
      (col("write_timeout_ms").isNull ||
        unix_millis(col("updated_ts")) + col("write_timeout_ms") > lit(now.getTime)))

  /** `context::update`: upsert the frame's `(key, value)` pairs. Within one
    * update the winner per key is the greatest value (a deterministic
    * tiebreak; the reference's "last event wins" has no stable meaning over
    * an unordered Spark frame). Existing keys keep their `created_ts`
    * (create_timeout keeps counting from first creation) but take the new
    * value, `updated_ts`, and timeouts; entries already expired at update
    * time are dropped first, so re-adding one mints a fresh creation.
    */
  private[tql] def ctxUpdate(name: String, frame: DataFrame, key: Column,
      value: Option[Column], createTimeoutMs: Option[Long],
      writeTimeoutMs: Option[Long]): Unit = {
    val st = tqlCtx(name)
    val now = ctxNow()
    if (st.kind == "bloom-filter") {
      require(createTimeoutMs.isEmpty && writeTimeoutMs.isEmpty,
        "tql: timeouts only apply to lookup tables, not bloom filters")
      require(value.isEmpty, "tql: a bloom filter stores membership, not values")
      val add = frame.select(key.as("key")).distinct()
      val merged = st.entries.fold(add)(_.unionByName(add).distinct())
      tqlCtxReg(name) = st.copy(entries = Some(merged.localCheckpoint()))
    } else {
      val v = value.getOrElse(struct(recordCols(frame).map(n => col(s"`$n`")): _*))
      val add = frame.select(key.as("key"), v.as("value"))
        .groupBy(col("key")).agg(max_by(col("value"), col("value")).as("value"))
        .select(col("key"), col("value"),
          lit(now).as("created_ts"), lit(now).as("updated_ts"),
          createTimeoutMs.map(lit(_)).getOrElse(lit(null)).cast("long").as("create_timeout_ms"),
          writeTimeoutMs.map(lit(_)).getOrElse(lit(null)).cast("long").as("write_timeout_ms"))
      val merged = st.entries match {
        case None => add
        case Some(old0) =>
          val old = liveEntries(old0, now)
          val refreshed = add.join(
              old.select(col("key"), col("created_ts").as("__old_created")),
              Seq("key"), "left_outer")
            .select(col("key"), col("value"),
              coalesce(col("__old_created"), col("created_ts")).as("created_ts"),
              col("updated_ts"), col("create_timeout_ms"), col("write_timeout_ms"))
          old.join(add.select("key"), Seq("key"), "left_anti").unionByName(refreshed)
      }
      tqlCtxReg(name) = st.copy(entries = Some(merged.localCheckpoint()))
    }
  }

  /** `context::erase`: drop the frame's keys from a lookup table. */
  private[tql] def ctxErase(name: String, frame: DataFrame, key: Column): Unit = {
    val st = tqlCtx(name)
    require(st.kind == "lookup-table",
      s"tql: context::erase needs a lookup table; a ${st.kind} cannot remove " +
        "members (probabilistic sets have no deletion — reset and rebuild instead)")
    st.entries.foreach { e =>
      val gone = frame.select(key.as("key")).distinct()
      tqlCtxReg(name) =
        st.copy(entries = Some(e.join(gone, Seq("key"), "left_anti").localCheckpoint()))
    }
  }

  /** `context::enrich`: broadcast probe. Lookup tables left-join the live
    * entries' value into `into` (overwriting it — the reference's
    * `mode="set"`); bloom filters attach a membership boolean. The event
    * frame is never shuffled.
    */
  private[tql] def ctxEnrich(name: String, frame: DataFrame, key: Column,
      into: String): DataFrame = {
    val st = tqlCtx(name)
    st.kind match {
      case "bloom-filter" =>
        val keys = st.entries.getOrElse(frame.sparkSession.emptyDataFrame
          .select(lit("").as("key")).limit(0))
        // m for k=2 probes: fp ≈ (1 − e^(−2n/m))² → m = −2n / ln(1 − √fp).
        // The upper clamp must itself be a multiple of 32 (bloomBuild packs
        // 32 bits/word and requires it) — clamping to a raw Int.MaxValue
        // made every probe of a ≥ ~113M-capacity filter throw.
        val mBits = {
          val m = math.ceil(-2.0 * math.max(1L, st.capacity) /
            math.log(1 - math.sqrt(st.fp))).toLong
          val maxM = (Int.MaxValue.toLong / 32) * 32
          math.max(64L, ((m + 31) / 32) * 32).min(maxM).toInt
        }
        val filter = graft.ops.Contexts.bloomBuild(keys, col("key"), mBits)
        frame.withColumn(into, filter.mightContain(key))
      case _ =>
        val now = ctxNow()
        st.entries.map(e => liveEntries(e, now)) match {
          case None => frame.withColumn(into, lit(null))
          case Some(e) =>
            val ctx = broadcast(e.select(col("key").as("__ctx_key"), col("value").as(into)))
            frame.drop(into)
              .join(ctx, key === col("__ctx_key"), "left_outer")
              .drop("__ctx_key")
        }
    }
  }

  /** `context::inspect`: the context contents as a frame — live lookup
    * entries as `{key, value}` (the reference's inspect shape), bloom keys
    * as `{key}`.
    */
  private[tql] def ctxInspect(name: String, spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val st = tqlCtx(name)
    st.entries match {
      case None =>
        if (st.kind == "bloom-filter")
          spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("key",
                org.apache.spark.sql.types.StringType))))
        else sys.error(s"tql: context '$name' has no entries yet to inspect")
      case Some(e) =>
        if (st.kind == "bloom-filter") e.select(col("key"))
        else liveEntries(e, ctxNow()).select(col("key"), col("value"))
    }
  }

  /** `context::list`: one row per context — `{name, kind, entries}`. The
    * entry count uses the same probe-time liveness as inspect/enrich, so
    * the three surfaces never disagree about an expired entry.
    */
  private[tql] def ctxList(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val now = ctxNow()
    val rows = tqlCtxReg.toSeq.sortBy(_._1).map { case (n, st) =>
      org.apache.spark.sql.Row(n, st.kind,
        st.entries.map(e =>
          if (st.kind == "bloom-filter") e.count() else liveEntries(e, now).count())
          .getOrElse(0L))
    }
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("kind",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("entries",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Extension-dispatched read for `from` (parquet/json/csv/lines). */
  private[tql] def readPath(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    path.replaceAll("/+$", "").split('.').last.toLowerCase match {
      case "parquet" => spark.read.parquet(path)
      case "json" | "ndjson" | "jsonl" => spark.read.json(path)
      case "csv" => spark.read.option("header", "true").option("inferSchema", "true").csv(path)
      case "txt" | "log" | "lines" => spark.read.text(path).withColumnRenamed("value", "line")
      case other => sys.error(s"tql: no reader for extension '.$other' (from $path)")
    }

  /** Extension-dispatched write for `to`. */
  private[tql] def writePath(df: DataFrame, path: String): Unit =
    path.replaceAll("/+$", "").split('.').last.toLowerCase match {
      case "parquet" => df.write.mode("overwrite").parquet(path)
      case "json" | "ndjson" | "jsonl" => df.write.mode("overwrite").json(path)
      case "csv" => df.write.mode("overwrite").option("header", "true").csv(path)
      case other => sys.error(s"tql: no writer for extension '.$other' (to $path)")
    }

  /** The event RECORD's columns — metadata (`@`-prefixed) lives beside the
    * event, not in it (same rule as `this`), so serializing sinks and
    * record-shaped hashing exclude it.
    */
  private[tql] def recordCols(df: DataFrame): Seq[String] =
    df.columns.toSeq.filterNot(_.startsWith("@"))

  /** Events rendered as one NDJSON string column — what the byte-oriented
    * sinks (`save_email`, `to_opensearch`) consume. The reference's
    * connector pipelines insert a `write_ndjson` printer the same way
    * (`email.cpp` defaults the body printer to JSON). Ships the event
    * record only: `@` metadata (e.g. the reader-stamped `@import_time`)
    * stays out of the serialized document.
    */
  private[tql] def renderLines(df: DataFrame): DataFrame =
    // backtick-quote: flattened frames have dotted top-level column names;
    // keep nulls so the shipped docs have a uniform shape
    df.select(to_json(
      struct(recordCols(df).map(n => col(s"`$n`")): _*),
      Map("ignoreNullFields" -> "false")).as("value"))

  // ------------------------------------------------------------------ lexer

  sealed trait Tok
  case class Ident(s: String) extends Tok
  case class Num(s: String) extends Tok
  case class Str(s: String) extends Tok
  case class Punct(s: String) extends Tok
  case object Sep extends Tok // '|' or newline: statement separator

  private object Lexer {
    private val puncts = Seq("::", "==", "!=", "<=", ">=", "=>", "&&", "||",
      "<", ">", "+", "-", "*", "/", "%", "(", ")", "[", "]", "{", "}",
      ",", "=", ":", ".", "$", "@")

    def tokenize(s: String): Vector[Tok] = {
      val out = Vector.newBuilder[Tok]
      var i = 0
      var depth = 0 // newlines inside (…)/[…] are not separators
      while (i < s.length) {
        val c = s(i)
        if (c == '\n') { if (depth == 0) out += Sep; i += 1 }
        else if (c.isWhitespace) i += 1
        // adjacent pipes are the boolean-or operator; a single pipe is the
        // statement separator (without this, the parser's documented `||`
        // branch was unreachable — two Seps were emitted instead)
        else if (c == '|' && i + 1 < s.length && s(i + 1) == '|') {
          out += Punct("||"); i += 2
        }
        else if (c == '|') { out += Sep; i += 1 }
        else if (c == '#') { while (i < s.length && s(i) != '\n') i += 1 } // comment
        else if (c == '"') {
          val sb = new StringBuilder; i += 1
          while (i < s.length && s(i) != '"') {
            if (s(i) == '\\' && i + 1 < s.length) {
              // standard escapes (the reference's string grammar); an
              // unknown escape keeps the character verbatim (\" \\ work)
              sb += (s(i + 1) match {
                case 'n' => '\n'
                case 't' => '\t'
                case 'r' => '\r'
                case '0' => '\u0000'
                case other => other
              })
              i += 2
            } else { sb += s(i); i += 1 }
          }
          require(i < s.length, "unterminated string literal")
          i += 1
          out += Str(sb.toString)
        }
        else if (c.isDigit) {
          val start = i
          while (i < s.length && (s(i).isDigit || s(i) == '.') &&
            // "1:2" and "1..2" stay separate tokens; only one dot, digit-led
            !(s(i) == '.' && (i + 1 >= s.length || !s(i + 1).isDigit))) i += 1
          out += Num(s.substring(start, i))
        }
        else if (c.isLetter || c == '_') {
          val start = i
          while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_')) i += 1
          out += Ident(s.substring(start, i))
        }
        else {
          puncts.find(p => s.startsWith(p, i)) match {
            case Some(p) =>
              if (p == "(" || p == "[") depth += 1
              if (p == ")" || p == "]") depth = math.max(0, depth - 1)
              out += Punct(p); i += p.length
            case None => sys.error(s"tql: unexpected character '$c' at $i")
          }
        }
      }
      // collapse runs of separators and trim the ends
      out.result().foldLeft(Vector.empty[Tok]) {
        case (acc, Sep) if acc.isEmpty || acc.last == Sep => acc
        case (acc, t) => acc :+ t
      }.reverse.dropWhile(_ == Sep).reverse
    }
  }

  // ------------------------------------------------------------ parser state

  /** `order`: (expr, descending) keys of the most recent `sort`, consumed by
    * positional ops. Kept unwrapped — a `SortOrder` can't be re-wrapped (e.g.
    * reversed for `tail`) without a codegen-fatal nested SortOrder.
    *
    * `groupKeys`: non-empty inside a `group keys { … }` subpipeline — the
    * positional/aggregate statements then compile to their
    * `Window.partitionBy(keys)` / extra-grouping forms (per-key subpipeline
    * semantics, reference `group.cpp:20-70`, without spawning per-key plans).
    */
  private class State(val df: DataFrame, val orderKeys: Seq[(Column, Boolean)],
      val groupKeys: Seq[String] = Nil) {
    def order: Seq[Column] =
      orderKeys.map { case (e, desc) => if (desc) e.desc_nulls_last else e.asc_nulls_last }
    def reversed: Seq[Column] =
      orderKeys.map { case (e, desc) => if (desc) e.asc_nulls_first else e.desc_nulls_first }
    def grouped: Boolean = groupKeys.nonEmpty
    def window: org.apache.spark.sql.expressions.WindowSpec = {
      require(orderKeys.nonEmpty, "tql: positional ops inside group require a preceding sort")
      org.apache.spark.sql.expressions.Window.partitionBy(groupKeys.map(col): _*)
        .orderBy(order: _*)
    }
    def windowReversed: org.apache.spark.sql.expressions.WindowSpec = {
      require(orderKeys.nonEmpty, "tql: positional ops inside group require a preceding sort")
      org.apache.spark.sql.expressions.Window.partitionBy(groupKeys.map(col): _*)
        .orderBy(reversed: _*)
    }
    def next(df: DataFrame): State = new State(df, orderKeys, groupKeys)
  }
  private type Stmt = State => State

  /** A scheduled subpipeline statement (`every`/`cron`): batch compile runs
    * the body once; [[Tql.schedule]] pattern-matches on this to drive fires.
    * `spec` = Left(intervalMs) for `every`, Right(cronExpr) for `cron`.
    */
  private class SchedStmt(val spec: Either[Long, String], val body: Seq[Stmt])
      extends (State => State) {
    def run(df: DataFrame): DataFrame =
      body.foldLeft(new State(df, Nil))((s, x) => x(s)).df
    // the body replaces the frame, so the outer sort context does not
    // survive it (same convention as `summarize`). Inside a `group { }` the
    // per-key subpipeline semantics would be silently ignored — reject,
    // like the other whole-frame statements (if/top/chart).
    def apply(st: State): State = {
      require(st.groupKeys.isEmpty,
        "tql: every/cron inside group is not supported")
      new State(run(st.df), Nil, st.groupKeys)
    }
  }

  private class Parser(toks: Vector[Tok]) {
    private var pos = 0
    private def peek: Option[Tok] = toks.lift(pos)
    private def peek2: Option[Tok] = toks.lift(pos + 1)
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def accept(p: String): Boolean = peek match {
      case Some(Punct(`p`)) => pos += 1; true
      case _ => false
    }
    private def expect(p: String): Unit =
      require(accept(p), s"tql: expected '$p' at token ${peek.getOrElse("<end>")}")

    def parsePipeline(): Seq[Stmt] = {
      val stmts = Seq.newBuilder[Stmt]
      while (peek.isDefined) {
        stmts += parseStatement()
        while (peek.contains(Sep)) next()
      }
      stmts.result()
    }

    // `let $name = <const-expr>` bindings, substituted wherever `$name`
    // appears. Field references are rejected at compile time (the
    // reference's const-eval contract, `src/tql2/exec.cpp:39-97`); the
    // actual evaluation is Catalyst's ConstantFolding — the substituted
    // tree is literal-only, so the optimized plan carries the folded value.
    private val lets = scala.collection.mutable.Map.empty[String, Column]

    private def acceptIdent(s: String): Boolean = peek match {
      case Some(Ident(`s`)) => pos += 1; true
      case _ => false
    }

    private def parseStatement(): Stmt = next() match {
      case Ident("where") => val e = parseExpr(); st => st.next(st.df.where_(e))
      case Ident("let") =>
        expect("$")
        val name = next() match {
          case Ident(n) => n
          case t => sys.error(s"tql: expected identifier after 'let $$', got $t")
        }
        expect("=")
        val c = parseExpr()
        val refs = org.apache.spark.sql.GraftExpr.fieldRefs(c)
        require(refs.isEmpty,
          s"tql: let $$$name must be a constant expression (references ${refs.mkString(", ")})")
        lets(name) = c
        st => st
      // `if <expr> { … } [else { … } | else if …]`: route rows by the
      // predicate through the two subpipelines and re-join the flows
      // (reference lowering `src/tql2/exec.cpp:260-276`) — compiles to
      // [[graft.ops.Pipe.ifElse_]]: filter + filter(negated, null-safe) +
      // unionByName(allowMissingColumns), one shared scan per branch.
      case Ident("if") =>
        val cond = parseExpr()
        expect("{")
        val thenStmts = parseSubpipeline()
        val elseStmts: Seq[Stmt] = {
          // `else` may sit on its own line after the closing `}` (Allman
          // style): look past separators, consuming them ONLY when an else
          // actually follows — otherwise they stay statement separators
          val mark = pos
          while (peek.contains(Sep)) next()
          if (acceptIdent("else")) peek match {
            case Some(Ident("if")) => Seq(parseStatement()) // else-if chain
            case _ => expect("{"); parseSubpipeline()
          } else { pos = mark; Nil }
        }
        st => {
          requireUngrouped(st, "if")
          def run(stmts: Seq[Stmt])(d: DataFrame): DataFrame =
            stmts.foldLeft(new State(d, st.orderKeys))((s, x) => x(s)).df
          st.next(st.df.ifElse_(cond, run(thenStmts), run(elseStmts)))
        }
      // `every <duration> { … }` / `cron "<expr>" { … }` — scheduled
      // subpipelines (reference `every_cron.cpp`; docs
      // `web/docs/tql2/operators/every.md`, `cron.md`). In a plain batch
      // compile the body runs ONCE ("the first run starts directly when the
      // outer pipeline starts"); [[Tql.schedule]] drives the repeated fires.
      // guards: a field literally named `every`/`cron` stays assignable —
      // both the plain form (`every = 1`) and the path form
      // (`every.field = 1`) were valid before these statements existed
      case Ident("every") if !peek.contains(Punct("=")) && !peek.contains(Punct(".")) =>
        val dur = parseDurationMs()
        expect("{")
        new SchedStmt(Left(dur), parseSubpipeline())
      case Ident("cron") if !peek.contains(Punct("=")) && !peek.contains(Punct(".")) =>
        val expr = parseStringLit("cron")
        graft.streaming.Cron.parse(expr) // validate at compile time
        expect("{")
        new SchedStmt(Right(expr), parseSubpipeline())
      case Ident("assert") => val e = parseExpr(); st => st.next(st.df.assert_(e))
      // `@field = expr` — write event metadata (expressions.md:107-112)
      case Punct("@") =>
        val name = next() match {
          case Ident(n) => n
          case t => sys.error(s"tql: expected metadata field after '@', got $t")
        }
        expect("=")
        val e = parseExpr()
        st => st.next(st.df.withColumn(s"@$name", e))
      case Ident("move") =>
        val pairs = parseCommaList { () =>
          val to = parsePath().mkString(".")
          expect("="); val from = parsePath().mkString("."); (to, from)
        }
        st => st.next(pairs.foldLeft(st.df) { case (d, (to, from)) => d.move_(to, from) })
      case Ident("pass") => st => st
      case Ident("discard") => st => st.next(st.df.limit(0))
      case Ident("unique") => st => st.next(st.df.distinct())
      case Ident("drop") =>
        val fs = parseFieldList(); st => st.next(st.df.drop_(fs: _*))
      case Ident("select") =>
        val items = parseCommaList(parseSelectItem)
        st => st.next(st.df.select(items: _*))
      case Ident("rename") =>
        val pairs = parseCommaList { () =>
          val to = parsePath().mkString(".")
          expect("="); val from = parsePath().mkString("."); (to, from)
        }
        st => st.next(st.df.rename_(pairs: _*))
      case Ident("set") => parseAssignments()
      case Ident("sort") =>
        val keys = parseCommaList { () =>
          if (accept("-")) (parseExpr(unary = true), true)
          else (parseExpr(unary = true), false)
        }
        st => {
          val next = new State(st.df, keys, st.groupKeys)
          // inside a group the sort only sets the per-key order context —
          // positional ops consume it through partitioned windows; a global
          // sort would be wasted work with no observable per-key meaning
          if (st.grouped) next else new State(next.df.sort_(next.order: _*), keys)
        }
      case Ident("head") =>
        val n = parseInt()
        st =>
          if (st.grouped) rnAtMost(st, st.window, n)
          else st.next(if (st.order.nonEmpty) st.df.head_(n, st.order) else st.df.limit(n))
      case Ident("tail") =>
        val n = parseInt()
        st =>
          if (st.grouped) rnAtMost(st, st.windowReversed, n)
          else {
            require(st.order.nonEmpty, "tql: tail requires a preceding sort")
            st.next(st.df.tail_(n, st.order, st.reversed))
          }
      case Ident("taste") =>
        val n = parseInt()
        st => if (st.grouped) rnAtMost(st, st.window, n) else st.next(st.df.limit(n))
      case Ident("enumerate") =>
        val field = peek match {
          case Some(Ident(f)) => next(); f
          case _ => "index"
        }
        st =>
          if (st.grouped)
            st.next(st.df.withColumn(field, row_number().over(st.window).cast("long") - 1))
          else {
            require(st.order.nonEmpty, "tql: enumerate requires a preceding sort")
            st.next(st.df.enumerate_(st.order, field))
          }
      case Ident("slice") =>
        val begin = parseSignedInt(); expect(":"); val end = parseSignedInt()
        val stride = if (accept(":")) parseInt() else 1
        // reject at parse: stride 0 would silently drop every row on the
        // grouped path (pmod by zero → null) while the ungrouped path
        // treats it as 1 — same input, contradictory results
        require(stride >= 1, s"tql: slice stride must be >= 1, got $stride")
        st =>
          if (st.grouped) groupSlice(st, begin, end, stride)
          else {
            require(st.order.nonEmpty, "tql: slice requires a preceding sort")
            st.next(st.df.slice_(begin, end, st.order, stride = stride))
          }
      case Ident("deduplicate") =>
        val keys = parseFieldList(stops = Set("limit", "distance"))
        var limit = 1
        var distance: Option[Long] = None
        while (accept(",")) next() match { // trailing limit=n / distance=n options
          case Ident("limit") => expect("="); limit = parseInt()
          case Ident("distance") => expect("="); distance = Some(parseInt().toLong)
          case t => sys.error(s"tql: deduplicate does not accept option $t")
        }
        st => distance match {
          case Some(d) =>
            require(st.order.nonEmpty,
              "tql: deduplicate distance=… requires a preceding sort (the event order)")
            if (st.grouped) {
              // per-group semantics: distance counts THIS group's events, so
              // the sequence is a per-group row_number, not a global index
              val seqC = "__tql_seq"; val prevC = "__tql_prev"
              val wk = org.apache.spark.sql.expressions.Window
                .partitionBy((st.groupKeys ++ keys).map(col): _*).orderBy(col(seqC))
              st.next(st.df
                .withColumn(seqC, row_number().over(st.window).cast("long"))
                .withColumn(prevC, lag(col(seqC), 1).over(wk))
                .filter(col(prevC).isNull || col(seqC) - col(prevC) > d)
                .drop(seqC, prevC))
            } else st.next(st.df.deduplicateDistance_(keys, st.order, d))
          case None => st.next(st.df.deduplicate_(
            st.groupKeys ++ keys,
            if (st.order.nonEmpty) st.order else keys.map(col), limit))
        }
      case Ident("top") =>
        val f = parsePath().mkString(".")
        val n = peek match { case Some(Num(_)) => parseInt(); case _ => 10 }
        st => { requireUngrouped(st, "top"); st.next(st.df.top_(f, n)) }
      case Ident("rare") =>
        val f = parsePath().mkString(".")
        val n = peek match { case Some(Num(_)) => parseInt(); case _ => 10 }
        st => { requireUngrouped(st, "rare"); st.next(st.df.rare_(f, n)) }
      case Ident("unroll") =>
        val f = parsePath().mkString("."); st => st.next(st.df.unroll_(f))
      case Ident("flatten") =>
        val sep = peek match { case Some(Str(_)) => parseStringLit("flatten"); case _ => "." }
        st => st.next(st.df.flatten_(sep))
      case Ident("unflatten") =>
        val sep = peek match { case Some(Str(_)) => parseStringLit("unflatten"); case _ => "." }
        st => st.next(st.df.unflatten_(sep))
      case Ident("sample") =>
        // sample <fraction> — deterministic hash sample (Pipe.sample_; the
        // reference's fixed-rate `sample.md` mode; adaptive mode stays on the
        // Scala surface, it needs a time column + period config)
        val fraction = next() match {
          case Num(n) => n.toDouble
          case t => sys.error(s"tql: sample expects a fraction, got $t")
        }
        require(fraction >= 0 && fraction <= 1, "tql: sample expects a fraction in [0,1]")
        // hash the event RECORD only: a per-run @import_time stamp in the
        // hash input would select a different subset on every re-run,
        // breaking the sample's determinism contract
        st => st.next(st.df.sample_(fraction,
          Tql.recordCols(st.df).map(n => col(s"`$n`"))))
      case Ident("timeshift") =>
        // timeshift <field>, by=<seconds> — pure column arithmetic
        val f = parsePath().mkString(".")
        expect(",")
        next() match {
          case Ident("by") => ()
          case t => sys.error(s"tql: timeshift expects by=<seconds>, got $t")
        }
        expect("=")
        val secs = parseSignedInt()
        st => st.next(st.df.timeshift_(f, expr(s"INTERVAL '$secs' SECOND")))
      case Ident("reverse") =>
        // flip the tracked order (reference reverse.cpp); downstream
        // positional ops consume the flipped keys
        st => {
          require(st.orderKeys.nonEmpty, "tql: reverse requires a preceding sort")
          val flipped = st.orderKeys.map { case (e, d) => (e, !d) }
          val next = new State(st.df, flipped, st.groupKeys)
          if (st.grouped) next else new State(next.df.sort_(next.order: _*), flipped)
        }
      case Ident("parse_json") =>
        // inferred-schema JSON parse of a string field (multi_series_builder's
        // merge policy; json.cpp) — adds a `parsed` struct column
        val f = parsePath().mkString(".")
        st => st.next(graft.formats.JsonInfer.parseInferred(st.df, f))
      case Ident("parse_grok") =>
        val f = parsePath().mkString("."); expect(",")
        val compiled = graft.formats.Grok.compile(parseStringLit("parse_grok"))
        st => st.next(st.df.select(
          (st.df.columns.map(col) ++ compiled.columns(col(f))).toIndexedSeq: _*))
      case Ident("parse_syslog") =>
        val f = parsePath().mkString(".")
        st => st.next(st.df.select(
          (st.df.columns.map(col) ++ graft.formats.Syslog5424.headerColumns(col(f))).toIndexedSeq: _*))
      case Ident("parse_cef") =>
        val f = parsePath().mkString(".")
        st => st.next(st.df.select(
          (st.df.columns.map(col) ++ graft.formats.Cef.headerColumns(col(f))).toIndexedSeq: _*))
      case Ident("parse_leef") =>
        val f = parsePath().mkString(".")
        st => st.next(st.df.select(
          (st.df.columns.map(col) ++ graft.formats.Leef.headerColumns(col(f))).toIndexedSeq: _*))
      case Ident("parse_kv") =>
        val f = parsePath().mkString(".")
        val (fs, kvs) =
          if (accept(",")) {
            val a = parseStringLit("parse_kv"); expect(",")
            (a, parseStringLit("parse_kv"))
          } else (" ", "=")
        st => st.next(st.df.withColumn("kv", str_to_map(col(f), lit(fs), lit(kvs))))
      case Ident("read_gelf") =>
        // GELF stream: NUL-delimited JSON frames in a bytes/string field —
        // explode frames, parse with one inferred schema (json.cpp gelf mode)
        val f = parsePath().mkString(".")
        st => st.next(graft.formats.JsonStreams.readGelf(st.df, f))
      // compress_gzip/_zlib/_lz4/_zstd/_bz2 <field> (compress_decompress.cpp).
      // The peek guards keep assignments like `compress_ratio = …` on the
      // assignment path; the field must be top-level (withColumn can't
      // rewrite a nested field, and the reference ops work on byte streams).
      case Ident(name) if name.startsWith("compress_") &&
          !peek.contains(Punct("=")) && !peek.contains(Punct(".")) =>
        val codec = name.stripPrefix("compress_")
        require(graft.formats.Codec.Codecs.contains(codec), s"tql: unknown codec in $name")
        val f = parseTopLevelField(name)
        st => st.next(st.df.withColumn(f,
          graft.formats.Codec.compress(col(f).cast("binary"), codec)))
      case Ident(name) if name.startsWith("decompress_") &&
          !peek.contains(Punct("=")) && !peek.contains(Punct(".")) =>
        val codec = name.stripPrefix("decompress_")
        require(graft.formats.Codec.Codecs.contains(codec), s"tql: unknown codec in $name")
        val f = parseTopLevelField(name)
        st => st.next(st.df.withColumn(f,
          graft.formats.Codec.decompress(col(f), codec)))
      case Ident("export") =>
        // export "<lake root>"[, version=n][, tag="<name>"] — the
        // reference's store read (`export` operator: catalog-pruned scan),
        // here the lake's LWW-resolved page table; version/tag = time travel
        val lakePath = parseStringLit("export")
        var version: Option[Long] = None
        var tagName: Option[String] = None
        while (accept(",")) next() match {
          case Ident("version") => expect("="); version = Some(parseInt().toLong)
          case Ident("tag") => expect("="); tagName = Some(parseStringLit("export"))
          case t => sys.error(s"tql: export does not accept option $t")
        }
        require(version.isEmpty || tagName.isEmpty,
          "tql: export takes version= OR tag=, not both (they could name different states)")
        st => {
          val table = new graft.lake.LakeTable(st.df.sparkSession, lakePath)
          val snap = (version, tagName) match {
            case (Some(v), _) =>
              require(table.versionExists(v),
                s"tql: no snapshot v$v at $lakePath (missing table, or expired by retention)")
              table.snapshotAt(v)
            case (_, Some(t)) => table.snapshotAtTag(t)
            case _ => table.currentSnapshot.getOrElse(
              sys.error(s"tql: no lake table at $lakePath"))
          }
          st.next(table.pages(snap))
        }
      case Ident("import") =>
        // import "<lake root>" — append the piped CHANGE EVENTS (url, lsn,
        // op, wal_part envelope) to the lake as one committed L0 batch (the
        // reference's `import` store write, importer.cpp:35-106); the batch
        // id continues the "tql-import" watermark so re-running a pipeline
        // appends a NEW batch rather than silently replacing
        val lakePath = parseStringLit("import")
        st => {
          // the lake import seam stamps `@import_time` as a payload column —
          // stored with the rows, so `export`/changelog surface the original
          // ingest time per row (the reference's stored-at-import semantics)
          val df = graft.core.IngestClock.stamp(st.df)
          require(Seq("url", "lsn", "op", "wal_part").forall(df.columns.contains),
            "tql: import requires the change-event envelope (url, lsn, op, wal_part columns)")
          val table = new graft.lake.LakeTable(df.sparkSession, lakePath)
          // OCC retry loop: a concurrent import may take this batch id (the
          // apply then reports skipped=true — losing our data if ignored) or
          // win the commit race; either way re-read the watermark and retry
          var attempts = 0
          var done = false
          while (!done) {
            attempts += 1
            require(attempts <= 20, "tql: import lost 20 consecutive commit races — aborting")
            val nextBatch = table.currentSnapshot
              .flatMap(_.watermarks.get("tql-import")).getOrElse(-1L) + 1
            try done = !graft.cdc.CdcApply.applyBatchAppendRaw(table, df, "tql-import",
              nextBatch, createBuckets = 16).skipped
            catch { case _: java.util.ConcurrentModificationException => () }
          }
          st
        }
      case Ident("from") =>
        // readers stamp `@import_time` at ingest (reference
        // table_slice.hpp:137-142 — import time attaches when data enters
        // the node); one stamp per read, explicit user stamps win
        val path = parseStringLit("from")
        st => st.next(graft.core.IngestClock.stamp(readPath(st.df.sparkSession, path)))
      case Ident("to") =>
        // writes the event RECORD — `@` metadata stays out of the bytes
        // (same rule as `this`/renderLines; the lake `import` statement is
        // the one sink that deliberately STORES @import_time, as payload)
        val path = parseStringLit("to")
        st => {
          writePath(st.df.select(Tql.recordCols(st.df).map(n => col(s"`$n`")): _*), path)
          st
        }
      case Ident("save_email") =>
        // save_email "<to>"[, endpoint="smtp://…", from="…", subject="…"]
        // (connectors/email.cpp option surface; events render as NDJSON)
        val to = parseStringLit("save_email")
        val opts = parseNamedStrings("save_email", Set("endpoint", "from", "subject"))
        st => {
          graft.sources.Email.saveEmail(renderLines(st.df),
            endpoint = opts.getOrElse("endpoint", "smtp://localhost:25"), to = to,
            from = opts.getOrElse("from", "graft@localhost"),
            subject = opts.getOrElse("subject", ""))
          st
        }
      case Ident("to_opensearch") =>
        // to_opensearch "<url>"[, index="…", action="create|index"]
        // (to_opensearch.cpp option surface; events render as NDJSON docs)
        val url = parseStringLit("to_opensearch")
        val opts = parseNamedStrings("to_opensearch", Set("index", "action"))
        st => {
          graft.sources.Opensearch.toOpensearch(renderLines(st.df), url,
            index = opts.getOrElse("index", "main"),
            action = opts.getOrElse("action", "create"))
          st
        }
      // context::* statements (reference `web/docs/tql2/operators/context/`;
      // state machinery in the Tql object ctx* helpers, which lower onto the
      // same broadcast-probe / TTL model as graft.ops.Contexts). Mutations
      // run at PIPELINE time in statement order — an update consumes the
      // frame flowing through it and passes it on unchanged.
      case Ident("context") if peek.contains(Punct("::")) =>
        next() // '::'
        val op = next() match {
          case Ident(n) => n
          case t => sys.error(s"tql: expected a context operator after 'context::', got $t")
        }
        op match {
          case "create_lookup_table" =>
            val name = parseStringLit("context::create_lookup_table")
            st => { Tql.ctxCreate(name, "lookup-table"); st }
          case "create_bloom_filter" =>
            // context::create_bloom_filter "name"[, capacity=N, fp_probability=x]
            val name = parseStringLit("context::create_bloom_filter")
            var capacity = 1000000L; var fp = 0.01
            while (accept(",")) next() match {
              case Ident("capacity") =>
                expect("=")
                // as Long: `parseInt`'s Int.toInt would silently saturate a
                // >2^31 capacity instead of honoring or rejecting it
                capacity = next() match {
                  case Num(n) => n.toLong
                  case t => sys.error(s"tql: capacity expects a number, got $t")
                }
              case Ident("fp_probability") =>
                expect("=")
                fp = next() match {
                  case Num(v) => v.toDouble
                  case t => sys.error(s"tql: fp_probability expects a number, got $t")
                }
                require(fp > 0 && fp < 1, s"tql: fp_probability must be in (0,1), got $fp")
              case t => sys.error(s"tql: create_bloom_filter does not accept $t")
            }
            st => { Tql.ctxCreate(name, "bloom-filter", capacity, fp); st }
          case "update" =>
            val name = parseStringLit("context::update")
            expect(",")
            var key: Option[Column] = None; var value: Option[Column] = None
            var ct: Option[Long] = None; var wt: Option[Long] = None
            parseCommaList { () =>
              next() match {
                case Ident("key") => expect("="); key = Some(parseExpr())
                case Ident("value") => expect("="); value = Some(parseExpr())
                case Ident("create_timeout") => expect("="); ct = Some(parseDurationMs())
                case Ident("write_timeout") => expect("="); wt = Some(parseDurationMs())
                case Ident("read_timeout") => sys.error(
                  "tql: read_timeout is not supported — expiring entries on READ would " +
                    "make enrich a mutating operator (a probe that rewrites broadcast " +
                    "state has no declarative Spark plan); use write_timeout")
                case t => sys.error(s"tql: context::update does not accept $t")
              }
              ()
            }
            val k = key.getOrElse(sys.error("tql: context::update requires key=<expr>"))
            st => { Tql.ctxUpdate(name, st.df, k, value, ct, wt); st }
          case "erase" =>
            val name = parseStringLit("context::erase")
            expect(",")
            val kTok = next()
            require(kTok == Ident("key"), s"tql: context::erase expects key=<expr>, got $kTok")
            expect("=")
            val k = parseExpr()
            st => { Tql.ctxErase(name, st.df, k); st }
          case "enrich" =>
            // context::enrich "name", key=<expr>[, into=<field>]
            val name = parseStringLit("context::enrich")
            expect(",")
            var key: Option[Column] = None; var into: Option[String] = None
            parseCommaList { () =>
              next() match {
                case Ident("key") => expect("="); key = Some(parseExpr())
                case Ident("into") => expect("="); into = Some(parseTopLevelField("into"))
                case Ident("mode") => sys.error(
                  "tql: context::enrich mode is not supported (set semantics only — " +
                    "append into lists would need per-row mutable state)")
                case Ident("format") => sys.error(
                  "tql: context::enrich format is not supported (plain values only)")
                case t => sys.error(s"tql: context::enrich does not accept $t")
              }
              ()
            }
            val k = key.getOrElse(sys.error("tql: context::enrich requires key=<expr>"))
            st => st.next(Tql.ctxEnrich(name, st.df, k, into.getOrElse(name)))
          case "inspect" =>
            val name = parseStringLit("context::inspect")
            st => st.next(Tql.ctxInspect(name, st.df.sparkSession))
          case "list" =>
            st => st.next(Tql.ctxList(st.df.sparkSession))
          case "reset" =>
            val name = parseStringLit("context::reset")
            st => { Tql.ctxReset(name); st }
          case "remove" =>
            val name = parseStringLit("context::remove")
            st => { Tql.ctxRemove(name); st }
          case "save" | "load" => sys.error(
            s"tql: context::$op is not supported — contexts here are in-session " +
              "state; persist them as data instead (context::inspect | to \"….parquet\", " +
              "and rebuild with from + context::update)")
          case other => sys.error(s"tql: unknown context operator 'context::$other'")
        }
      case Ident("enrich") =>
        // enrich "<context>", key=<field>[, key2=…] — broadcast build-probe
        val name = parseStringLit("enrich")
        expect(",")
        val keys = parseCommaList { () =>
          val k = parsePath().mkString("."); expect("="); val v = parsePath().mkString("."); (k, v)
        }
        st => {
          // probe columns may differ from context key names: alias, join,
          // restore. Renaming key k→probe must not collide with a column
          // the context ALREADY has under the probe name (or with another
          // rename's target) — that would produce a duplicate column and an
          // ambiguous join; fail with the cause instead.
          val base = context(name)
          keys.foreach { case (k, probe) =>
            require(k == probe || !base.columns.contains(probe),
              s"tql: enrich key rename '$k=$probe' collides with context " +
                s"column '$probe' in '$name'")
          }
          require(keys.map(_._2).distinct.size == keys.size,
            "tql: enrich probe fields must be distinct")
          val ctx = keys.foldLeft(base)((d, kv) => d.withColumnRenamed(kv._1, kv._2))
          st.next(st.df.enrich_(ctx, keys.map(_._2)))
        }
      case Ident(ct) if ct.startsWith("chart_") =>
        val ty = ct.stripPrefix("chart_")
        // chart_line x=<field>[, resolution="day"], <name>=<agg()>…
        var x = ""; var resolution: Option[String] = None
        val ys = Seq.newBuilder[(String, Column)]
        parseCommaList { () =>
          val path = parsePath()
          path.mkString(".") match {
            case "x" => expect("="); x = parsePath().mkString(".")
            case "resolution" => expect("="); resolution = Some(parseStringLit("resolution"))
            case alias => expect("="); ys += (alias -> parseExpr())
          }
          ()
        }
        require(x.nonEmpty, "tql: chart requires x=<field>")
        val ysr = ys.result()
        require(ysr.nonEmpty, "tql: chart requires at least one y aggregation")
        st => { requireUngrouped(st, "chart"); st.next(st.df.chart_(ty, x, ysr, resolution = resolution)) }
      case Ident("summarize") =>
        val (groups, aggs) = parseSummarizeItems()
        st => {
          val keys = st.groupKeys.map(k => col(k).as(k)) ++ groups
          // group keys with NO aggregations is the reference's
          // distinct-by-key form (summarize.md: "Aggregations are optional")
          val out =
            if (aggs.isEmpty) st.df.select(keys: _*).distinct()
            else st.df.summarize_(keys, aggs: _*)
          new State(out, Nil, st.groupKeys)
        }
      case Ident("group") =>
        val keys = parseFieldList()
        expect("{")
        val sub = parseSubpipeline()
        st => {
          require(!st.grouped, "tql: nested group is not supported")
          val inner = sub.foldLeft(new State(st.df, Nil, keys))((s, stmt) => stmt(s))
          new State(inner.df, Nil)
        }
      case Ident(_) if peek.contains(Punct("=")) || peek.contains(Punct(".")) =>
        // bare assignment statement: `x = expr` / `a.b = expr` (the `set` op)
        pos -= 1; parseAssignments()
      case t => sys.error(s"tql: unknown operator at $t")
    }

    /** Statements until the matching `}` (a `group { … }` subpipeline).
      * `let` bindings are lexically scoped: a binding declared inside the
      * block is restored away at `}`, so it cannot leak into later outer
      * statements (outer bindings remain visible inside, and an inner
      * re-binding shadows without clobbering).
      */
    private def parseSubpipeline(): Seq[Stmt] = {
      val saved = lets.toMap
      val stmts = Seq.newBuilder[Stmt]
      while (peek.contains(Sep)) next()
      while (!peek.contains(Punct("}"))) {
        require(peek.isDefined, "tql: unterminated group { … }")
        stmts += parseStatement()
        while (peek.contains(Sep)) next()
      }
      expect("}")
      lets.clear(); lets ++= saved
      stmts.result()
    }

    private def requireUngrouped(st: State, op: String): Unit =
      require(!st.grouped, s"tql: $op inside group is not supported (use summarize + sort)")

    /** `<n><unit>` duration literal (the lexer splits `10min` into Num+Ident):
      * ms, s/sec/seconds, min/minutes, h/hr/hours, d/days.
      */
    private def parseDurationMs(): Long = {
      val n = next() match {
        case Num(v) => v.toDouble
        case t => sys.error(s"tql: expected a duration, got $t")
      }
      val unit = next() match {
        case Ident(u) => u
        case t => sys.error(s"tql: expected a duration unit after $n, got $t")
      }
      val ms = unit match {
        case "ms" => 1L
        case "s" | "sec" | "second" | "seconds" => 1000L
        case "min" | "minute" | "minutes" => 60L * 1000
        case "h" | "hr" | "hour" | "hours" => 3600L * 1000
        case "d" | "day" | "days" => 86400L * 1000
        case other => sys.error(s"tql: unknown duration unit '$other'")
      }
      val v = (n * ms).toLong
      require(v > 0, s"tql: duration must be positive, got $n$unit")
      v
    }

    private def parseStringLit(op: String): String = next() match {
      case Str(s) => s
      case t => sys.error(s"tql: $op expects a string literal, got $t")
    }

    /** A single top-level field name (rejects dotted paths with a clear
      * error — for ops that rewrite a column in place via withColumn).
      */
    private def parseTopLevelField(op: String): String = {
      val path = parsePath()
      require(path.lengthIs == 1,
        s"tql: $op takes a top-level field, got nested path ${path.mkString(".")}")
      path.head
    }

    /** Trailing `, name="value"` options, names restricted to `allowed`. */
    private def parseNamedStrings(op: String, allowed: Set[String]): Map[String, String] = {
      val opts = Map.newBuilder[String, String]
      while (accept(",")) {
        val name = next() match {
          case Ident(n) => n
          case t => sys.error(s"tql: $op expects an option name, got $t")
        }
        require(allowed(name), s"tql: $op does not accept option '$name'")
        expect("=")
        opts += (name -> parseStringLit(op))
      }
      opts.result()
    }

    /** Keep the first `n` rows per group in window order. */
    private def rnAtMost(st: State, w: org.apache.spark.sql.expressions.WindowSpec,
        n: Int): State = {
      val rn = "__tql_rn"
      st.next(st.df.withColumn(rn, row_number().over(w))
        .filter(col(rn) <= n).drop(rn))
    }

    /** Python-slice per group: negative begin/end count from the group's end
      * (needs the per-group count window); stride filters on (idx - lo).
      */
    private def groupSlice(st: State, begin: Long, end: Long, stride: Int): State = {
      val idx = "__tql_idx"; val cnt = "__tql_cnt"
      val wp = org.apache.spark.sql.expressions.Window.partitionBy(st.groupKeys.map(col): _*)
      var df = st.df
        .withColumn(idx, row_number().over(st.window).cast("long") - 1)
        .withColumn(cnt, count(lit(1)).over(wp))
      val lo = if (begin < 0) greatest(col(cnt) + begin, lit(0L)) else lit(begin)
      val hi = if (end < 0) col(cnt) + end else lit(end)
      df = df.filter(col(idx) >= lo && col(idx) < hi &&
        pmod(col(idx) - lo, lit(stride.toLong)) === 0)
      st.next(df.drop(idx, cnt))
    }

    private def parseAssignments(): Stmt = {
      val pairs = parseCommaList { () =>
        val name = parsePath().mkString("."); expect("="); (name, parseExpr())
      }
      st => new State(pairs.foldLeft(st.df) { case (d, (n, e)) => d.set_(n, e) },
        st.orderKeys, st.groupKeys)
    }

    private def parseSelectItem(): Column = {
      val path = parsePath()
      if (accept("=")) parseExpr().as(path.mkString("."))
      else pathColumn(path).as(path.last)
    }

    /** summarize items: `field` / `name=field` (group) vs `f(…)` /
      * `name=f(…)` (aggregation) — distinguished by the call parens, as in
      * the reference grammar (summarize.md).
      */
    private def parseSummarizeItems(): (Seq[Column], Seq[Column]) = {
      val groups = Seq.newBuilder[Column]
      val aggs = Seq.newBuilder[Column]
      parseCommaList { () =>
        val path = parsePath()
        if (accept("=")) {
          val alias = path.mkString(".")
          isAggCall = false // classified by the OUTERMOST call parsed below
          val e = parseExpr()
          if (isAggCall) aggs += e.as(alias) else groups += e.as(alias)
        } else if (peek.contains(Punct("("))) {
          pos -= 1 // re-parse as a call expression
          val e = parseExpr()
          aggs += e.as(path.last)
        } else groups += pathColumn(path).as(path.last)
        ()
      }
      (groups.result(), aggs.result())
    }
    private var isAggCall = false // set by parseCall on aggregation functions

    /** Comma-separated field paths; `stops` names end the list when they
      * follow a comma (operator-specific trailing options, e.g. deduplicate's
      * `limit=`/`distance=`) — so a FIELD named "limit" stays selectable in
      * operators that take no options.
      */
    private def parseFieldList(stops: Set[String] = Set.empty): Seq[String] = {
      val out = Seq.newBuilder[String]
      out += parsePath().mkString(".")
      while (peek.contains(Punct(",")) &&
        !toks.lift(pos + 1).exists {
          case Ident(n) => stops(n); case _ => false }) {
        next(); out += parsePath().mkString(".")
      }
      out.result()
    }

    private def parseCommaList[A](item: () => A): Seq[A] = {
      val out = Seq.newBuilder[A]
      out += item()
      while (accept(",")) out += item()
      out.result()
    }

    private def parsePath(): List[String] = {
      val first = next() match {
        case Ident(n) => n
        case t => sys.error(s"tql: expected a field name, got $t")
      }
      val parts = List.newBuilder[String]
      parts += first
      while (peek.contains(Punct(".")) &&
        toks.lift(pos + 1).exists(_.isInstanceOf[Ident]) &&
        !toks.lift(pos + 2).contains(Punct("("))) { // method sugar handled in expr
        next(); val Ident(p) = next(): @unchecked; parts += p
      }
      parts.result()
    }

    // named errors, not MatchErrors: `head` with a missing/non-numeric count
    // must say so (found by TqlPropertySpec's corruption fuzzing)
    private def parseInt(): Int = next() match {
      case Num(n) => n.toInt
      case t => sys.error(s"tql: expected a number, got $t")
    }
    private def parseSignedInt(): Long = {
      val neg = accept("-")
      next() match {
        case Num(n) => if (neg) -n.toLong else n.toLong
        case t => sys.error(s"tql: expected a number, got $t")
      }
    }

    // -------------------------------------------------------- expressions

    private def parseExpr(unary: Boolean = false): Column =
      if (unary) parseUnary() else parseOr()

    private def parseOr(): Column = {
      var l = parseAnd()
      while (peek.contains(Ident("or")) || peek.contains(Punct("||"))) {
        next(); l = l || parseAnd()
      }
      l
    }
    private def parseAnd(): Column = {
      var l = parseNot()
      while (peek.contains(Ident("and")) || peek.contains(Punct("&&"))) {
        next(); l = l && parseNot()
      }
      l
    }
    private def parseNot(): Column =
      if (peek.contains(Ident("not"))) { next(); !parseNot() } else parseCmp()

    private def parseCmp(): Column = {
      val l = parseAdd()
      peek match {
        case Some(Punct("==")) => next(); l === parseAdd()
        case Some(Punct("!=")) => next(); l =!= parseAdd()
        case Some(Punct("<=")) => next(); l <= parseAdd()
        case Some(Punct(">=")) => next(); l >= parseAdd()
        case Some(Punct("<")) => next(); l < parseAdd()
        case Some(Punct(">")) => next(); l > parseAdd()
        case Some(Ident("in")) => next(); l.isin(parseListLiteral(): _*)
        case _ => l
      }
    }
    private def parseAdd(): Column = {
      var l = parseMul()
      var go = true
      while (go) peek match {
        case Some(Punct("+")) => next(); l = l + parseMul()
        case Some(Punct("-")) => next(); l = l - parseMul()
        case _ => go = false
      }
      l
    }
    private def parseMul(): Column = {
      var l = parseUnary()
      var go = true
      while (go) peek match {
        case Some(Punct("*")) => next(); l = l * parseUnary()
        case Some(Punct("/")) => next(); l = l / parseUnary()
        case Some(Punct("%")) => next(); l = pmod(l, parseUnary())
        case _ => go = false
      }
      l
    }
    private def parseUnary(): Column =
      if (accept("-")) -parseUnary() else parsePostfix()

    /** postfix: `.field` access and UFCS method sugar `expr.f(args)`. */
    private def parsePostfix(): Column = {
      var e = parsePrimary()
      while (peek.contains(Punct("."))) {
        next()
        val name = next() match {
          case Ident(n) => n
          case t => sys.error(s"tql: expected a field or method name after '.', got $t")
        }
        if (accept("(")) {
          val args = if (accept(")")) Nil else {
            val as = parseCommaList(() => parseCallArg()); expect(")"); as
          }
          e = applyCall(name, Right(e) +: args)
        } else e = e.getField(name)
      }
      e
    }

    private def parsePrimary(): Column = next() match {
      case Num(n) => if (n.contains('.')) lit(n.toDouble) else lit(n.toLong)
      case Str(s) => lit(s)
      case Ident("true") => lit(true)
      case Ident("false") => lit(false)
      case Ident("null") => lit(null)
      case Punct("(") => val e = parseOr(); expect(")"); e
      case Punct("[") => pos -= 1; array(parseListLiteral(): _*)
      case Punct("$") => next() match {
        case Ident(name) => lets.getOrElse(name,
          sys.error(s"tql: unknown constant '$$$name' (bind it with let $$$name = …)"))
        case t => sys.error(s"tql: expected constant name after '$$', got $t")
      }
      // `@name` / `@import_time` / `@internal` — event metadata addressing
      // (`expressions.md:107-112`): metadata lives in `@`-prefixed columns,
      // attached by selector-routing readers (zeek./suricata. schema names)
      // or by `@field = expr` assignments
      case Punct("@") => next() match {
        case Ident(name) => col(s"@$name")
        case t => sys.error(s"tql: expected metadata field after '@', got $t")
      }
      // `this` — the entire top-level event as a record (`expressions.md`
      // `this` section). Metadata is NOT part of the record `this` denotes
      // (the reference keeps @name/@import_time beside the event, not in it),
      // so the star expansion excludes `@`-prefixed columns: an
      // UnresolvedRegex star resolves against the actual frame at analysis
      // time, keeping the parse df-independent.
      case Ident("this") => struct(Tql.thisColumn)
      case Ident(ns) if peek.contains(Punct("::")) =>
        // namespaced function call: ocsf::class_name(...), etc.
        next()
        val fname = next() match {
          case Ident(f) => f
          case t => sys.error(s"tql: expected function name after '$ns::', got $t")
        }
        expect("(")
        val args = if (accept(")")) Nil else {
          val as = parseCommaList(() => parseCallArg()); expect(")"); as
        }
        applyCall(s"$ns::$fname", args)
      case Ident(name) if peek.contains(Punct("(")) =>
        next()
        val args = if (accept(")")) Nil else {
          val as = parseCommaList(() => parseCallArg()); expect(")"); as
        }
        applyCall(name, args)
      case Ident(name) => pos -= 1; pathColumn(parsePath())
      case t => sys.error(s"tql: unexpected token $t in expression")
    }

    private def parseListLiteral(): Seq[Column] = {
      expect("[")
      if (accept("]")) Nil
      else { val items = parseCommaList(() => parseExpr()); expect("]"); items }
    }

    private def pathColumn(path: List[String]): Column =
      path.tail.foldLeft(lambdaScope.getOrElse(path.head, col(path.head)))(_.getField(_))

    /** Lambda parameters currently in scope while parsing a lambda body —
      * the parameter shadows a same-named event field; everything else in
      * the body keeps resolving as an (outer) field reference.
      */
    private var lambdaScope: Map[String, Column] = Map.empty

    /** One call argument: a lambda `x => body` (the list HOFs — reference
      * `where_map.cpp:512-660`) or a plain expression. The body is parsed
      * with the parameter bound to a ColumnNode-level lambda variable — the
      * same node `functions.transform`/`filter` create for their parameter.
      */
    private def parseCallArg(): Either[Column, Column] = (peek, peek2) match {
      case (Some(Ident(p)), Some(Punct("=>"))) =>
        next(); next()
        val pvar = org.apache.spark.sql.internal.GraftNodes.lambdaVar(p)
        val saved = lambdaScope
        lambdaScope = lambdaScope + (p -> pvar)
        val body = try parseExpr() finally lambdaScope = saved
        Left(org.apache.spark.sql.internal.GraftNodes.lambdaFunction(body, Seq(pvar)))
      case _ => Right(parseExpr())
    }

    private def applyCall(name: String, args: Seq[Either[Column, Column]]): Column =
      if (args.exists(_.isLeft)) applyHof(name, args)
      else applyFn(name, args.collect { case Right(c) => c })

    /** List higher-order functions with a lambda argument: `map(xs, x => …)`
      * lowers through the `transform` registry entry (Catalyst
      * ArrayTransform) and `where(xs, x => …)` through `filter`
      * (ArrayFilter) — the same nodes the Scala HOFs build, so the plan is
      * identical to the `functions.transform`/`filter` twins (reference
      * `where_map.cpp:512-660`).
      */
    private def applyHof(name: String, args: Seq[Either[Column, Column]]): Column =
      args match {
        case Seq(Right(xs), Left(lam)) =>
          name match {
            case "map" => call_function("transform", xs, lam)
            case "where" => call_function("filter", xs, lam)
            case other => sys.error(s"tql: function '$other' does not take a lambda")
          }
        case _ => sys.error(s"tql: $name expects exactly (list, x => …)")
      }

    private def applyFn(name: String, args: Seq[Column]): Column = {
      // sticky within one summarize item (reset there): an aggregate ANYWHERE
      // in the expression makes it an aggregation — `round(mean(x))` must not
      // be classified a group key just because round() parsed last
      isAggCall = isAggCall || aggFns.contains(name)
      val fn = scalarFns.get(name).orElse(aggFns.get(name))
        .getOrElse(sys.error(s"tql: unknown function '$name'"))
      // the registry entries are arity-shaped partial functions: a wrong
      // argument count must be a NAMED error, not a MatchError (found by
      // TqlPropertySpec's corruption fuzzing)
      try fn(args)
      catch {
        case _: MatchError =>
          sys.error(s"tql: wrong number of arguments to '$name' (got ${args.size})")
      }
    }
  }

  // ------------------------------------------------- function whitelists

  private type Fn = Seq[Column] => Column
  private def fn1(f: Column => Column): Fn = { case Seq(a) => f(a) }
  private def fn2(f: (Column, Column) => Column): Fn = { case Seq(a, b) => f(a, b) }

  /** Scalar functions (the §2.4 modules' TQL names → Catalyst builtins). */
  private val scalarFns: Map[String, Fn] = Map(
    "concat" -> ((as: Seq[Column]) => concat(as: _*)),
    "to_lower" -> fn1(lower), "to_upper" -> fn1(upper),
    "length" -> fn1(length), "trim" -> fn1(trim),
    "starts_with" -> fn2((a, b) => a.startsWith(b)),
    "ends_with" -> fn2((a, b) => a.endsWith(b)),
    "contains" -> fn2((a, b) => a.contains(b)),
    "substring" -> { case Seq(a, b, c) => a.substr(b, c) },
    // the reference's replace/split take LITERAL patterns — the regex
    // variants are separate functions (string.md): `replace(s, ".", "_")`
    // must replace dots, not every character. Literal split goes through a
    // \Q…\E-quoted regex so any expression works as the separator.
    "replace" -> { case Seq(a, b, c) => replace(a, b, c) },
    "replace_regex" -> { case Seq(a, b, c) => regexp_replace(a, b, c) },
    "split" -> fn2((a, b) => split(a, concat(lit("\\Q"), b, lit("\\E")))),
    "split_regex" -> fn2((a, b) => split(a, b)),
    // array_join's Scala signature wants a literal String; go through the
    // Catalyst node so any string expression works as the separator
    "join" -> fn2((a, sep) => org.apache.spark.sql.GraftExpr.column(
      org.apache.spark.sql.catalyst.expressions.ArrayJoin(
        org.apache.spark.sql.GraftExpr.expression(a),
        org.apache.spark.sql.GraftExpr.expression(sep), None))),
    "abs" -> fn1(abs), "round" -> fn1(round(_, 0)), "floor" -> fn1(floor),
    "ceil" -> fn1(ceil), "sqrt" -> fn1(sqrt),
    "coalesce" -> (args => coalesce(args: _*)),
    "nullif" -> fn2((a, b) => when(a === b, lit(null)).otherwise(a)),
    "year" -> fn1(year), "month" -> fn1(month), "day" -> fn1(dayofmonth),
    "hour" -> fn1(hour), "minute" -> fn1(minute), "second" -> fn1(second),
    "md5" -> fn1(md5), "string" -> fn1(_.cast("string")),
    "int" -> fn1(_.cast("long")), "float" -> fn1(_.cast("double")),
    // §2.4 domain modules surfaced in the string language
    "community_id" -> { case Seq(sa, da, sp, dp, pr) =>
      graft.functions.Ip.communityId(sa, da, sp, dp, pr) },
    "is_v4" -> fn1(graft.functions.Ip.isV4),
    "network" -> fn2(graft.functions.Ip.network),
    "cidr_contains" -> fn2(graft.functions.Ip.cidrContains),
    "is_private" -> fn1(graft.functions.Ip.isPrivate),
    "ocsf::category_uid" -> fn1(graft.functions.Ocsf.categoryUid),
    "ocsf::category_name" -> fn1(graft.functions.Ocsf.categoryName),
    "ocsf::class_uid" -> fn1(graft.functions.Ocsf.classUid),
    "ocsf::class_name" -> fn1(graft.functions.Ocsf.className),
    "language_id" -> fn1(c => graft.functions.Text.langId(c)),
    "token_count" -> fn1(graft.functions.Text.tokenCount),
    "quality_score" -> fn1(graft.functions.Text.qualityScore),
    // web/url module (training-data extension; see graft.functions.Web)
    "url::scheme" -> fn1(graft.functions.Web.urlScheme),
    "url::host" -> fn1(graft.functions.Web.urlHost),
    "url::port" -> fn1(graft.functions.Web.urlPort),
    "url::path" -> fn1(graft.functions.Web.urlPath),
    "url::query" -> fn1(graft.functions.Web.urlQuery),
    "url::fragment" -> fn1(graft.functions.Web.urlFragment),
    "url::domain" -> fn1(c => graft.functions.Web.registeredDomain(
      graft.functions.Web.urlHost(c))),
    "url::normalize" -> fn1(graft.functions.Web.urlNormalize),
    // repetition / boilerplate signals (Gopher-style); n baked into the name
    // because the window count is a plan-shape constant, not a row value
    "top_2gram_fraction" -> fn1(graft.functions.Text.topNgramFraction(_, 2)),
    "top_3gram_fraction" -> fn1(graft.functions.Text.topNgramFraction(_, 3)),
    "top_4gram_fraction" -> fn1(graft.functions.Text.topNgramFraction(_, 4)),
    "dup_2gram_fraction" -> fn1(graft.functions.Text.dupNgramFraction(_, 2)),
    "dup_3gram_fraction" -> fn1(graft.functions.Text.dupNgramFraction(_, 3)),
    "dup_4gram_fraction" -> fn1(graft.functions.Text.dupNgramFraction(_, 4)),
    "dup_line_fraction" -> fn1(graft.functions.Text.dupLineFraction),
    "dup_line_char_fraction" -> fn1(graft.functions.Text.dupLineCharFraction),
    "file_name" -> fn1(graft.sources.Files.fileName),
    "parent_dir" -> fn1(graft.sources.Files.parentDir),
    "encode_base64" -> fn1(base64), "decode_base64" -> fn1(unbase64),
    "encode_hex" -> fn1(c => lower(hex(c))))

  /** Aggregation functions (§2.3 names; auto-alias = TQL behavior). */
  private val aggFns: Map[String, Fn] = Map(
    "count" -> (args => if (args.isEmpty) count(lit(1)) else count(args.head)),
    "count_distinct" -> fn1(a => count_distinct(a)),
    "sum" -> fn1(sum), "min" -> fn1(min), "max" -> fn1(max),
    "mean" -> fn1(avg), "avg" -> fn1(avg),
    "median" -> fn1(a => percentile_approx(a, lit(0.5), lit(10000))),
    "quantile" -> fn2((a, q) => percentile_approx(a, q, lit(10000))),
    "stddev" -> fn1(stddev_samp), "variance" -> fn1(var_samp),
    "collect" -> fn1(collect_list),
    "distinct" -> fn1(a => array_sort(collect_set(a))),
    "any" -> fn1(a => max(a.cast("boolean"))),
    "all" -> fn1(a => min(a.cast("boolean"))),
    "first" -> fn1(first), "last" -> fn1(last),
    "mode" -> fn1(a => mode(a)))
}
