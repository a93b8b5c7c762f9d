package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The Tenzir operator surface (SURVEY.md §2.1/§2.7) re-expressed as a thin,
  * idiomatic extension API over `DataFrame`. Every method is a *declarative*
  * Catalyst plan fragment — no RDDs, no driver loops — so predicate pushdown,
  * column pruning and whole-stage codegen apply across operator boundaries
  * exactly where the reference has to hand-roll fusion
  * (`/root/reference/libtenzir/src/pipeline.cpp:208-250`).
  *
  * Operators whose reference semantics are inherently *positional* (slice,
  * enumerate, head/tail on an unordered stream) take explicit sort keys: Spark
  * streams have no arrival order, so position must be defined by data — which
  * is also what makes the result deterministic and replayable at cluster scale.
  */
object Pipe {

  implicit class PipeOps(val df: DataFrame) extends AnyVal {

    // ----------------------------------------------------------- §2.1 core

    /** `where expr` — reference `where_map.cpp:50-122`. */
    def where_(pred: Column): DataFrame = df.filter(pred)

    /** `select f1, f2…` — reference `select.cpp:31-90`. */
    def select_(cols: String*): DataFrame = df.select(cols.map(col): _*)

    /** `drop f…` — reference `drop.cpp`. */
    def drop_(cols: String*): DataFrame = df.drop(cols: _*)

    /** `set x = expr` / `put/extend` — reference `set_select.cpp`,
      * `put_extend_replace_set.cpp`.
      */
    def set_(name: String, value: Column): DataFrame = df.withColumn(name, value)

    /** `rename new=old` — reference `rename.cpp`. */
    def rename_(pairs: (String, String)*): DataFrame =
      pairs.foldLeft(df) { case (d, (to, from)) => d.withColumnRenamed(from, to) }

    /** `move to=from` — reference `move.cpp` (rename, position change is moot
      * in a named-column model).
      */
    def move_(to: String, from: String): DataFrame = df.withColumnRenamed(from, to)

    /** `flatten` — nested records → dotted top-level fields, recursive
      * (reference `flatten.cpp`; separator '.' like the reference default,
      * configurable because '.' needs backtick-quoting in Spark SQL).
      */
    def flatten_(sep: String = "."): DataFrame = {
      val cols = df.schema.fields.toSeq.flatMap { f =>
        f.dataType match {
          case s: StructType => expandFrom(col(f.name), f.name, s, sep)
          case _ => Seq(col(f.name))
        }
      }
      df.select(cols: _*)
    }

    /** `unflatten` — inverse of flatten: dotted names → nested structs
      * (reference `unflatten.cpp`). A plain column colliding with a dotted
      * prefix (`a` beside `a.b`) would yield two output columns named `a` —
      * ambiguous downstream and unwritable to parquet — so it is rejected
      * with the cause.
      */
    def unflatten_(sep: String = "."): DataFrame = {
      // group columns by first path segment; recurse
      def build(cols: Seq[(List[String], Column)]): Seq[Column] = {
        val (leaves, nested) = cols.partition(_._1.lengthCompare(1) == 0)
        val leafNames = leaves.map(_._1.head).toSet
        nested.map(_._1.head).distinct.foreach { head =>
          require(!leafNames.contains(head),
            s"unflatten: column '$head' collides with nested group '$head$sep*'")
        }
        val leafCols = leaves.map { case (name :: Nil, c) => c.as(name); case _ => sys.error("unreachable") }
        val nestedCols = nested.groupBy(_._1.head).toSeq.sortBy(_._1).map { case (head, group) =>
          val children = build(group.map { case (path, c) => (path.tail, c) })
          struct(children: _*).as(head)
        }
        leafCols ++ nestedCols
      }
      val parts = df.columns.toSeq.map(n => (n.split(java.util.regex.Pattern.quote(sep)).toList, col(s"`$n`")))
      df.select(build(parts): _*)
    }

    /** Internal working columns must not clobber user data: the operators
      * below add `__`-prefixed temps; a same-named input column would be
      * silently destroyed or make the plan ambiguous — reject with the cause
      * (same pattern as frontierSchedule_).
      */
    private def requireFresh(names: String*): Unit = names.foreach { n =>
      require(!df.columns.contains(n),
        s"operator uses internal column '$n' but the frame already has one — rename it first")
    }

    /** `unroll field` — one event per list element (reference `unroll.cpp`).
      * Null/empty lists drop the event, matching the reference.
      */
    def unroll_(field: String): DataFrame = {
      val others = df.columns.filterNot(_ == field).map(col)
      df.select((others :+ explode(col(field)).as(field)).toIndexedSeq: _*)
    }

    /** `enumerate [field]` — 0-based index by an explicit total order
      * (reference `enumerate.cpp:35-60`; default field `#` → `index` since `#`
      * needs quoting everywhere in SQL).
      *
      * Scale design: a bare `Window.orderBy` funnels every row through ONE
      * task (Spark's own "moving all data to a single partition" warning —
      * the round-1 plan). Instead: range-partition on the order keys, count
      * rows per partition with one tiny job, and add each partition's
      * exclusive prefix offset to its local `row_number` — fully parallel,
      * one extra O(#partitions) driver collect. Deterministic given a total
      * order (range partitioner boundaries are seed-stable for identical
      * input).
      */
    def enumerate_(orderBy: Seq[Column], field: String = "index"): DataFrame = {
      requireFresh("__pid")
      val parts = df.sparkSession.sessionState.conf.numShufflePartitions
      // persist: the offsets job and the final job MUST see the identical
      // range partitioning — the range partitioner re-samples per execution
      // and boundary rows can land one partition over (observed off-by-one
      // indexes without this). The cache pins ONE sampling: an LRU-evicted
      // block recomputes from that execution's shuffle outputs (not a fresh
      // sample), so determinism survives eviction and the memory cost is
      // bounded by normal storage-pool eviction; blocks die with the session.
      val withPid = df.repartitionByRange(parts, orderBy: _*)
        .withColumn("__pid", spark_partition_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val counts = withPid.groupBy(col("__pid")).count().collect()
        .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val offsets: Map[Int, Long] = {
        var acc = 0L
        counts.map { case (p, n) => val o = acc; acc += n; (p, o) }.toMap
      }
      val offCol = Pipe.offsetColumn(offsets)
      val w = Window.partitionBy(col("__pid")).orderBy(orderBy: _*)
      withPid
        .withColumn(field, (row_number().over(w) - 1).cast("long") + offCol)
        .drop("__pid")
    }

    /** `deduplicate fields… limit=n` — first `limit` events per key by the
      * given order (reference `deduplicate.cpp:107-205`; `distance`/`timeout`
      * expiry is a streaming concern → `dropDuplicatesWithinWatermark` there).
      */
    def deduplicate_(keys: Seq[String], order: Seq[Column], limit: Int = 1): DataFrame = {
      requireFresh("__rn")
      val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= limit).drop("__rn")
    }

    /** `deduplicate fields… distance=n` — an event passes iff no event with
      * the same key occurred within the previous `n` events of the total
      * order (reference `deduplicate.cpp:107-124`: last-seen row index per
      * key, refreshed on EVERY occurrence, forgotten once `n` rows pass).
      * Plan: global sequence via the parallel [[enumerate_]], then a per-key
      * `lag` — one range shuffle + one key shuffle, no single-partition
      * funnel.
      */
    def deduplicateDistance_(keys: Seq[String], order: Seq[Column], distance: Long): DataFrame = {
      requireFresh("__seq", "__prev")
      val seq = "__seq"
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col(seq))
      enumerate_(order, seq)
        .withColumn("__prev", lag(col(seq), 1).over(w))
        .filter(col("__prev").isNull || col(seq) - col("__prev") > distance)
        .drop(seq, "__prev")
    }

    /** `sort [-]expr…` — total sort (reference `sort.cpp:86-131`; Spark's
      * range-partitioned sort-shuffle replaces the in-memory gather and spills).
      */
    def sort_(keys: Column*): DataFrame = df.orderBy(keys: _*)

    /** `head n` over an explicit order (reference `head.cpp:27-40`). */
    def head_(n: Int, order: Seq[Column]): DataFrame = df.orderBy(order: _*).limit(n)

    /** `tail n` — last n by the order, re-emitted in ascending order
      * (reference `tail.cpp`). TakeOrdered on the reversed order, then re-sort:
      * no full sort of the input.
      */
    def tail_(n: Int, order: Seq[Column], reversed: Seq[Column]): DataFrame =
      df.orderBy(reversed: _*).limit(n).orderBy(order: _*)

    /** `slice begin:end[:stride]` by an explicit total order (reference
      * `slice.cpp`, `web/docs/tql2/operators/slice.md:1-32`): negative
      * `begin`/`end` count from the end (one extra count job), `end` is
      * exclusive, `stride` keeps every stride-th row from `begin`. Emits the
      * 0-based `index` column to keep the result self-describing. Fully
      * parallel (rides the range-partitioned [[enumerate_]]).
      */
    def slice_(begin: Long, end: Long, order: Seq[Column], field: String = "index",
        stride: Long = 1): DataFrame = {
      val (b, e) =
        if (begin < 0 || end < 0) {
          val n = df.count()
          (if (begin < 0) math.max(0L, n + begin) else begin,
            if (end < 0) n + end else end)
        } else (begin, end)
      val base = enumerate_(order, field).filter(col(field) >= b && col(field) < e)
      if (stride <= 1) base else base.filter(pmod(col(field) - b, lit(stride)) === 0)
    }

    /** `taste n` — first n per group (reference `taste.cpp:26-62`; the
      * reference groups by schema, we group by any key — schema-per-group is a
      * special case with a schema-name column).
      */
    def taste_(n: Int, groupKeys: Seq[String], order: Seq[Column]): DataFrame =
      deduplicate_(groupKeys, order, n)

    /** Crawl-frontier politeness scheduling: within each host, queue URLs in
      * `order` and space fetches `delayMs` apart — `slotName` (0-based
      * per-host fetch position) and `notBeforeName` (earliest fetch offset).
      * Ties in `order` are broken by a hash of the full row, so slots are
      * deterministic (replayable) for any input; rows identical in every
      * column are interchangeable, so the output SET is stable even then.
      * Output columns that already exist are an error, not a silent clobber.
      * A per-host window is semantically matched here, NOT a skew accident:
      * a host's queue is crawled serially by definition, and real frontiers
      * bound the per-host queue first (compose with [[taste_]] for a
      * per-host budget), so no partition exceeds the crawl budget.
      */
    def frontierSchedule_(hostCol: Column, order: Seq[Column],
        delayMs: Long, slotName: String = "slot",
        notBeforeName: String = "not_before_ms"): DataFrame = {
      Seq(slotName, notBeforeName).foreach { n =>
        require(!df.columns.contains(n),
          s"frontierSchedule_: output column '$n' already exists — rename it" +
            " or pass a different slotName/notBeforeName")
      }
      val tiebreak = xxhash64(df.columns.map(col).toSeq: _*)
      val w = Window.partitionBy(hostCol).orderBy(order :+ tiebreak: _*)
      df.withColumn(slotName, row_number().over(w).cast("long") - 1L)
        .withColumn(notBeforeName, col(slotName) * lit(delayMs))
    }

    /** `top field` — most frequent values (reference `top_rare.cpp:78-113`;
      * value tiebreak makes it deterministic, which the reference leaves open).
      */
    def top_(field: String, n: Int, countName: String = "n"): DataFrame =
      df.groupBy(col(field)).agg(count(lit(1)).as(countName))
        .orderBy(col(countName).desc, col(field)).limit(n)

    /** `rare field` — least frequent values. */
    def rare_(field: String, n: Int, countName: String = "n"): DataFrame =
      df.groupBy(col(field)).agg(count(lit(1)).as(countName))
        .orderBy(col(countName).asc, col(field)).limit(n)

    /** `summarize group…, agg…` — hash aggregate with map-side partials
      * (reference `summarize.cpp:47-170`).
      */
    def summarize_(groupBy: Seq[Column], aggs: Column*): DataFrame = {
      require(aggs.nonEmpty,
        "summarize_ needs at least one aggregation (keys-only distinct is select+distinct)")
      if (groupBy.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(groupBy: _*).agg(aggs.head, aggs.tail: _*)
    }

    /** `sample fraction` — deterministic hash-based sampling (the reference's
      * adaptive `sample.cpp` is rate-driven; at cluster scale a seeded hash
      * filter is reproducible and shuffle-free).
      */
    def sample_(fraction: Double, keys: Seq[Column], seed: Long = 42L): DataFrame = {
      val bound = (fraction * (1L << 32).toDouble).toLong
      df.filter(pmod(xxhash64(keys :+ lit(seed): _*), lit(1L << 32)) < bound)
    }

    /** Stratified mixture sampling — per-stratum keep rates (the training-mix
      * step: upsample scarce languages/sources, downsample boilerplate-heavy
      * ones). Deterministic and shuffle-free: the keep decision is an
      * [[graft.functions.Text.md5h60]] threshold on the row's id columns, so
      * replays and a DuckDB oracle reproduce the exact row set; rates live in
      * a literal map (pure codegen'd lookup, no join).
      */
    def sampleStratified_(strat: Column, rates: Map[String, Double],
        defaultRate: Double, idCols: Seq[Column], seed: Long = 42L): DataFrame = {
      require(rates.nonEmpty, "rates must not be empty")
      val rate = Pipe.rateColumn(rates, defaultRate, strat)
      df.filter(Pipe.idUniform(idCols, seed) < rate)
    }

    /** Deterministic corpus shuffle — the training-order randomization pass
      * (every epoch of LLM pretraining consumes the corpus in a seeded
      * pseudo-random permutation): order by a seeded id-hash, tie-broken by
      * the ids themselves, with the global position materialized via the
      * parallel [[enumerate_]] (range shuffle + per-partition offsets — no
      * single-partition funnel). Replays, cluster sizes, and the DuckDB
      * oracle all produce the identical permutation.
      */
    def shuffle_(idCols: Seq[Column], seed: Long = 42L,
        field: String = "shuffle_pos"): DataFrame = {
      df.enumerate_(Pipe.idHash(idCols, seed) +: idCols.map(c => c.asc), field)
    }

    /** Deterministic train/valid/test split: assign each row a split label by
      * seeded id-hash thresholds (cumulative over `fractions`, which must sum
      * to 1). The same hash family as [[sampleStratified_]], so membership is
      * stable under replay, appends elsewhere in the corpus, and cluster
      * size — a row's split NEVER depends on what other rows exist, which is
      * the property that makes incremental ingest safe (a fraction-based
      * `randomSplit` re-deals the whole corpus every run).
      */
    def splitHash_(fractions: Seq[(String, Double)], idCols: Seq[Column],
        seed: Long = 42L, field: String = "split"): DataFrame = {
      require(fractions.nonEmpty, "fractions must be non-empty")
      require(fractions.forall(_._2 > 0), "fractions must be positive")
      require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
        "fractions must sum to 1")
      val u = Pipe.idUniform(idCols, seed)
      val cum = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
      val label = fractions.zip(cum).init
        .foldLeft(Option.empty[Column]) { case (acc, ((name, _), t)) =>
          Some(acc.fold(when(u < t, name))(_.when(u < t, name)))
        }
        .fold(lit(fractions.head._1))(_.otherwise(fractions.last._1))
      df.withColumn(field, label)
    }

    /** `sample <period>` — RATE-ADAPTIVE sampling (reference `sample.cpp`,
      * `sample.md:9-45`): the sample rate for each period is derived from the
      * PREVIOUS period's event count, targeting `targetPerPeriod` emitted
      * events; the first period passes everything (reference: first window
      * samples 1:1). Deterministic: the keep-decision hashes `keyCol` with
      * [[graft.functions.Text.md5h60]], so replays emit identical rows and a
      * DuckDB oracle can verify exactly.
      *
      * Plan shape: one tiny aggregate over period buckets (#buckets rows), a
      * lag window over those buckets (driver-scale, not data-scale), and a
      * broadcast join back — the event stream itself is never shuffled.
      */
    def sampleAdaptive_(timeCol: Column, periodSec: Long, targetPerPeriod: Long,
        keyCol: Column): DataFrame = {
      val (kept, _) = rateSampled(timeCol, periodSec, keyCol,
        prev => greatest(lit(1L), floor(prev / targetPerPeriod).cast("long")))
      kept.drop("__b", "__k")
    }

    /** Shared rate-sampler scaffold ([[sampleAdaptive_]]/[[sampleRate_]]):
      * one tiny aggregate over period buckets, a driver-scale lag window,
      * and a broadcast join back — the event stream itself is never
      * shuffled. `kOfPrev` derives the 1-in-k rate from the PREVIOUS PERIOD
      * IN TIME's count: an empty period between buckets counts as 0 (the
      * reference's per-period windows snap back after silence — they never
      * look past an empty period to an older count), and the first period's
      * "previous" is 0 too. Rows with NULL timestamps have no period to
      * govern them: they pass 1:1 (left join misses → k = 1) and are
      * excluded from the lag chain so they cannot feed any period's rate.
      * Returns (filtered frame still carrying `__b`/`__k`, the key hash).
      */
    private def rateSampled(timeCol: Column, periodSec: Long, keyCol: Column,
        kOfPrev: Column => Column): (DataFrame, Column) = {
      requireFresh("__b", "__k", "__n")
      val bucket = floor(unix_timestamp(timeCol) / periodSec).cast("long")
      val perBucket = df.select(bucket.as("__b")).filter(col("__b").isNotNull)
        .groupBy(col("__b")).agg(count(lit(1)).as("__n"))
      val w = Window.orderBy(col("__b")) // #periods rows — driver-scale
      val prevAdjacent = when(lag(col("__b"), 1).over(w) === col("__b") - 1,
        lag(col("__n"), 1).over(w)).otherwise(lit(0L))
      val rates = perBucket.withColumn("__k", kOfPrev(prevAdjacent))
        .select(col("__b"), col("__k"))
      val h = graft.functions.Text.md5h60(keyCol.cast("string"))
      val kept = df.withColumn("__b", bucket)
        .join(broadcast(rates), Seq("__b"), "left")
        .filter(pmod(h, coalesce(col("__k"), lit(1L))) === 0)
      (kept, h)
    }

    /** `sample period, mode=…, min_events=…, max_rate=…, max_samples=…` —
      * the reference's EXACT rate derivation (`sample.cpp`, `sample.md`):
      * the 1-in-k rate for each period is `fn(previous period's count)` with
      * `fn` ∈ ln/log2/log10/sqrt; below `minEvents` the rate snaps back to
      * 1:1 (first period included — no previous count), `maxRate` caps k,
      * and `maxSamples` bounds emitted events per period. Deterministic: the
      * keep-decision hashes `keyCol` (md5h60) and the per-period cap keeps
      * the hash-smallest survivors, so replays emit identical rows and a
      * DuckDB oracle verifies exactly (the reference keeps first-arrivals,
      * an order a distributed replay cannot reproduce).
      *
      * Same plan shape as [[sampleAdaptive_]] (tiny bucket aggregate +
      * driver-scale lag + broadcast join back); `maxSamples` adds one
      * window partitioned BY PERIOD (parallel across periods).
      */
    def sampleRate_(timeCol: Column, periodSec: Long, keyCol: Column,
        mode: String = "ln", minEvents: Long = 30L,
        maxRate: Option[Long] = None, maxSamples: Option[Long] = None): DataFrame = {
      val fn: Column => Column = mode match {
        case "ln" => log(_)
        case "log2" => log2(_)
        case "log10" => log10(_)
        case "sqrt" => sqrt(_)
        case other => throw new IllegalArgumentException(s"sample mode: $other")
      }
      requireFresh("__rn")
      val (kept, h) = rateSampled(timeCol, periodSec, keyCol, prev => {
        val raw = greatest(lit(1L), floor(fn(prev.cast("double"))).cast("long"))
        val capped = maxRate.fold(raw)(m => least(raw, lit(m)))
        // prev = 0 covers both "first period" and "previous period empty":
        // 0 < minEvents snaps the rate to 1:1, the reference rule
        when(prev < minEvents, lit(1L)).otherwise(capped)
      })
      maxSamples.fold(kept.drop("__b", "__k")) { m =>
        kept.withColumn("__rn",
            row_number().over(Window.partitionBy(col("__b")).orderBy(h, keyCol)))
          .filter(col("__rn") <= m)
          .drop("__b", "__k", "__rn")
      }
    }

    /** `if pred { then } else { else }` at operator level — route through two
      * subplans and merge (reference `if.cpp`). Subplans must produce
      * union-compatible schemas.
      *
      * The lowering scans the source once PER BRANCH, each scan carrying its
      * own pushed disjoint predicate — the right trade when the source is a
      * pruned columnar scan (predicate + column pushdown make each branch's
      * scan cheap, and nothing is materialized).
      *
      * The predicate must be DETERMINISTIC: it is evaluated independently
      * per branch (the same contract Spark itself applies to filters — a
      * `rand()`-style predicate re-draws per evaluation and would route
      * rows into both or neither branch).
      */
    def ifElse_(pred: Column, thenP: DataFrame => DataFrame,
        elseP: DataFrame => DataFrame): DataFrame =
      thenP(df.filter(pred)).unionByName(elseP(df.filter(!pred || pred.isNull)),
        allowMissingColumns = true)

    /** `assert expr` — filter that counts what it drops into an accumulator-
      * style metric column contract (reference `where_map.cpp:148-248`); we
      * surface dropped counts via `observe`. Observation names must be
      * unique within one query (Spark CollectMetrics), so the default name
      * carries a sequence number — two plain `assert` statements in one
      * pipeline must not collide.
      */
    def assert_(pred: Column, metricName: String = ""): DataFrame = {
      val name =
        if (metricName.nonEmpty) metricName
        else s"assert_dropped_${Pipe.assertSeq.incrementAndGet()}"
      df.observe(name, sum(when(pred, 0L).otherwise(1L)).as("dropped")).filter(pred)
    }

    /** `fork { … }` — run two sub-pipelines over the SAME input (reference
      * `fork.cpp`: copies the stream to a nested sink pipeline). The input is
      * cached so the two branches share one scan; both results are returned —
      * batch analogue of dual sinks (streaming uses two `foreachBatch`
      * writers over one source).
      */
    def fork_(a: DataFrame => DataFrame, b: DataFrame => DataFrame): (DataFrame, DataFrame) = {
      val shared = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (a(shared), b(shared))
    }

    /** `timeshift field by=<interval>` — shift event time (reference
      * `timeshift.cpp`); pure column arithmetic, no shuffle.
      */
    def timeshift_(timeCol: String, by: Column): DataFrame =
      df.withColumn(timeCol, col(timeCol) + by)

    /** `chart_line/_area/_bar/_pie x=…, y={…}` (reference `chart2.cpp`):
      * aggregate `ys` per `x` (optionally time-bucketed to `resolution` and
      * sub-grouped), sort by the x-axis, cap at `limit` points, and attach the
      * chart spec as schema metadata — the reference likewise renders nothing
      * itself, it ships aggregated rows plus `chart:*` attributes for the UI
      * (`chart2.cpp` chart_type/x/y handling). The aggregation is an ordinary
      * hash aggregate: map-side partials, one exchange, fully codegen'd.
      */
    def chart_(ty: String, x: String, ys: Seq[(String, Column)],
        group: Seq[String] = Nil, resolution: Option[String] = None,
        limit: Int = 100000): DataFrame = {
      require(Set("line", "area", "bar", "pie").contains(ty), s"unknown chart type $ty")
      require(ys.nonEmpty, s"chart_$ty needs at least one named aggregation")
      val xCol = resolution match {
        case Some(r) => date_trunc(r, col(x)).cast("timestamp_ntz").as(x)
        case None => col(x).as(x)
      }
      val keys = xCol +: group.map(col)
      val aggs = ys.map { case (name, c) => c.as(name) }
      val agg = df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
        .orderBy((col(x) +: group.map(col)): _*)
        .limit(limit)
      val withTy = agg.setAttribute_(x, "chart:type", ty).setAttribute_(x, "chart:axis", "x")
      ys.map(_._1).foldLeft(withTy)((d, y) => d.setAttribute_(y, "chart:axis", "y"))
    }

    /** `set_attributes` — attach schema-level metadata to a field (reference
      * `get_attributes.cpp`/`set_attributes.cpp`; Spark carries it in
      * `StructField.metadata`, surviving parquet round-trips).
      */
    def setAttribute_(field: String, key: String, value: String): DataFrame = {
      val existing = df.schema(field).metadata
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(existing).putString(key, value).build()
      df.withColumn(field, col(field).as(field, md))
    }

    /** `get_attributes` — read a field's metadata attribute (None if absent). */
    def getAttribute_(field: String, key: String): Option[String] = {
      val md = df.schema(field).metadata
      if (md.contains(key)) Some(md.getString(key)) else None
    }

    // ------------------------------------------------- §2.2 enrich (contexts)

    /** `context::enrich key=f` — broadcast build-probe lookup join (reference
      * `lookup_table.cpp:314-341`). `mode=set` overwrite semantics; the lookup
      * side is explicitly broadcast — the big stream is never shuffled.
      */
    def enrich_(lookup: DataFrame, key: Seq[String], how: String = "left"): DataFrame =
      df.join(broadcast(lookup), key, how)
  }

  /** Literal-map stratum-rate lookup (outside the value class — typedlit's
    * macro expands to a nested class, which AnyVal bodies forbid).
    */
  /** Per-query sequence for default `assert` observation names (Spark
    * requires CollectMetrics names to be unique within a query).
    */
  private[graft] val assertSeq = new java.util.concurrent.atomic.AtomicLong

  /** Seeded id-hash — THE shared determinism contract of the mixture/split/
    * shuffle family: a row's value depends only on its own id columns and
    * the seed, never on what other rows exist. ONE definition, because
    * [[PipeOps.splitHash_]]'s incremental-ingest safety guarantee
    * ("same hash family as sampleStratified_") must not drift.
    */
  private[graft] def idHash(idCols: Seq[Column], seed: Long): Column =
    graft.functions.Text.md5h60(
      concat_ws("\u0001", (idCols :+ lit(seed.toString)).map(_.cast("string")): _*))

  /** [[idHash]] folded to a uniform [0,1) threshold value. */
  private[graft] def idUniform(idCols: Seq[Column], seed: Long): Column =
    pmod(idHash(idCols, seed), lit(1000000L)).cast("double") / lit(1000000.0)

  private def rateColumn(rates: Map[String, Double], default: Double, strat: Column): Column =
    coalesce(element_at(typedlit(rates), strat.cast("string")), lit(default))

  /** Partition-offset literal map for [[PipeOps.enumerate_]] (outside the
    * value class: `typedlit`'s TypeTag materialization is a nested class).
    */
  private[graft] def offsetColumn(offsets: Map[Int, Long]): Column =
    if (offsets.isEmpty) lit(0L)
    else coalesce(element_at(typedlit(offsets), col("__pid")), lit(0L))

  /** Recursive flatten helper (outside the value class — nested defs with
    * closures are fine, but keep the value-class body allocation-free).
    */
  private def expandFrom(base: Column, prefix: String, schema: StructType, sep: String): Seq[Column] =
    schema.fields.toSeq.flatMap { f =>
      val name = s"$prefix$sep${f.name}"
      f.dataType match {
        case s: StructType => expandFrom(base.getField(f.name), name, s, sep)
        case _ => Seq(base.getField(f.name).as(name))
      }
    }
}
