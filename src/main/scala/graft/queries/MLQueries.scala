package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{CdcApply, CdcStream}
import graft.functions.Text
import graft.lake.LakeTable
import graft.ops.{Chunk, Cluster, Dedup, MatView, Multimodal, Pq, Similarity}

/** Driver-checked query catalog, part 2: web-scale training-data operators
  * (dedup family, similarity search, text analysis, multimodal plumbing) and
  * the CDC engine itself run end-to-end inside a query.
  *
  * Oracle notes: everything numeric is either integer-exact or a single
  * deterministic IEEE expression evaluated in the same order in both engines
  * (sequential left folds for vector math). All sketch families (minhash,
  * simhash, hyperplane LSH, the fake media codec) hash with
  * [[graft.functions.Text.md5h60]] + overflow-free integer permutations so
  * DuckDB computes identical values — every query here has a hard oracle.
  */
object MLQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Normalized whitespace-split words, shared by several oracles. */
  private[queries] val NormWords =
    "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"

  /** Empty-filtered tokens — the exact twin of Text.tokens(normalize(_)). */
  private[queries] val NormToks = s"list_filter($NormWords, t -> length(t) > 0)"

  /** DuckDB twin of [[graft.functions.Text.md5h60]]. */
  private[queries] def md5h60(x: String): String = s"('0x' || substr(md5($x), 1, 15))::BIGINT"

  /** The q_ngram_jaccard pair list — also the edge list for the
    * connected-components oracles (q_dup_clusters / q_dedup_survivors wrap
    * it in a recursive CTE).
    */
  private lazy val NgramPairsSql =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
       |      i -> array_to_string(w[i:i+2], ' '))) AS sh
       |  FROM (SELECT doc_id, $NormWords AS w FROM documents)
       |), inv0 AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM d),
       |hot AS (SELECT shingle FROM inv0 GROUP BY shingle HAVING count(*) > 1000),
       |inv AS (SELECT * FROM inv0 WHERE shingle NOT IN (SELECT shingle FROM hot))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(count(*) AS DOUBLE) / CAST(any_value(a.sz) + any_value(b.sz) - count(*) AS DOUBLE) AS jaccard
       |FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING jaccard >= 0.2""".stripMargin

  /** 3-gram shingles over `w` (NormWords) — same twin q_ngram_jaccard uses. */
  private[queries] val ShinglesSql =
    "list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 1)), " +
      "i -> array_to_string(w[i:i+2], ' ')))"

  /** The k minhash-component expressions over a 60-bit-hash list `hs`, with
    * the same literal coefficients the Spark plan embeds.
    */
  private[queries] def minhashComponentsSql(k: Int): String =
    Dedup.minhashCoefs(k).map { case (a, b, c) =>
      s"list_min(list_transform(hs, h -> ($a * (h >> 30) + $b * (h & 1073741823) + $c) % ${Dedup.MinhashP}))"
    }.mkString(", ")

  /** 60-bit simhash over a hash list `hs` as one SQL expression (sum of
    * disjoint bit terms ≡ bitwise OR).
    */
  private val SimhashSql: String =
    (0 until Dedup.SimhashBits).map { i =>
      s"(CASE WHEN coalesce(list_sum(list_transform(hs, h -> CASE WHEN ((h >> $i) & 1) = 1 " +
        s"THEN 1 ELSE -1 END)), 0) > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)"
    }.mkString(" + ")

  /** Hyperplane signature as SQL over a quantized-int vector `q`, embedding
    * the same literal plane matrix as the Spark plan (integer-exact dot).
    */
  private def hyperplaneSigSql(planes: Int, seed: Long): String = {
    val m = graft.ops.Similarity.planeMatrix(planes, graft.ops.Similarity.DefaultDim, seed)
    (0 until planes).map { p =>
      val dot = m(p).zipWithIndex.map { case (c, d) => s"q[${d + 1}]*($c)" }.mkString(" + ")
      s"(CASE WHEN ($dot) > 0 THEN (1::BIGINT << $p) ELSE 0::BIGINT END)"
    }.mkString(" + ")
  }

  /** Quantized-int + double views of the embedding column. */
  private val VecViews =
    """SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS q,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |FROM embeddings""".stripMargin

  /** Cosine twin (same left-fold shape as the passing q_ann_bruteforce). */
  private def cosineSql(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_reduce(list_prepend(0.0, list_transform($a, x -> x * x)), (s, t) -> s + t)) = 0
       |  OR sqrt(list_reduce(list_prepend(0.0, list_transform($b, x -> x * x)), (s, t) -> s + t)) = 0
       |THEN 0.0
       |ELSE list_reduce(list_prepend(0.0, list_transform(generate_series(1, len($a)),
       |    i -> $a[i] * $b[i])), (s, t) -> s + t)
       |  / (sqrt(list_reduce(list_prepend(0.0, list_transform($a, x -> x * x)), (s, t) -> s + t))
       |     * sqrt(list_reduce(list_prepend(0.0, list_transform($b, x -> x * x)), (s, t) -> s + t)))
       |END""".stripMargin

  /** events table → CDC change-event envelope: key = user, lsn = event_id,
    * `error` events are deletes, everything else upserts the user's page.
    */
  private[queries] def envelope(events: DataFrame): DataFrame =
    events.select(
      when(col("event_type") === "error", "D").otherwise("U").as("op"),
      col("event_id").as("lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("wal_part"),
      concat(lit("u"), col("user_id").cast("string")).as("url"),
      col("ts").as("warc_ts"),
      when(col("event_type") === "error", lit(null)).otherwise(col("props"))
        .cast("binary").as("html"),
      when(col("event_type") === "error", lit(null)).otherwise(col("props")).as("text"),
      when(col("event_type") === "error", lit(null)).otherwise(col("event_type")).as("lang"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------------------- dedup
    "q_dedup_exact" -> ((s, d) => Dedup.exact(t(s, d, "documents"), "text", "doc_id")),

    "q_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        Text.fingerprintMd5(col("text")).as("fp_md5"))),

    "q_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(t(s, d, "documents"), "text", "doc_id", shingleN = 3, threshold = 0.2,
        maxDocFreq = Some(1000))),

    "q_dup_clusters" -> ((s, d) =>
      Cluster.connectedComponents(
          Dedup.ngramJaccard(t(s, d, "documents"), "text", "doc_id", shingleN = 3,
            threshold = 0.2, maxDocFreq = Some(1000)))
        .select(col("id").as("doc_id"), col("cluster_id"))),

    "q_dedup_survivors" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Cluster.survivors(docs,
          Dedup.ngramJaccard(docs, "text", "doc_id", shingleN = 3, threshold = 0.2,
            maxDocFreq = Some(1000)), "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    "q_minhash_sig" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Text.shingles(col("text"), 3).as("sh"))
        .select(col("doc_id"), Dedup.shingleHashes(col("sh")).as("hs"))
        .select(col("doc_id"),
          posexplode(Dedup.minhashSigFromHashes(col("hs"), k = 32))
            .as(Seq("h_idx", "h_val")))),

    "q_minhash_pairs" -> ((s, d) =>
      Dedup.minhashLsh(t(s, d, "documents"), "text", "doc_id",
        bands = 16, rows = 2, shingleN = 3, threshold = 0.0)),

    "q_simhash" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Text.tokenHashes(col("text")).as("th"))
        .select(col("doc_id"), Dedup.simhashFromHashes(col("th")).as("simhash"))),

    "q_simhash_pairs" -> ((s, d) =>
      Dedup.simhashDup(t(s, d, "documents"), "text", "doc_id", maxHamming = 16, segments = 4)),

    // threshold tuned to the driver data: embeddings are near-random
    // (max pairwise cosine ≈ 0.51 at sf0.01), so 0.35 marks the "near" tail.
    // 24 planes / 4 bands = 6-bit buckets: candidate volume ~n²·bands/2^6
    // (2-bit buckets made the bucket join quadratic-ish — 12 s at sf0.1)
    "q_embed_dup" -> ((s, d) =>
      Dedup.embeddingDup(t(s, d, "embeddings"), "embedding", "vec_id",
        threshold = 0.35, planes = 24, bands = 4)),

    // ------------------------------------------------------- similarity
    "q_embed_norm" -> ((s, d) =>
      t(s, d, "embeddings").select(col("vec_id"), Text.norm(col("embedding")).as("l2"))),

    "q_ann_bruteforce" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5)
    }),

    "q_ann_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5,
        planes = 24, bands = 4)
    }),

    // IVF scale path: 16 deterministic coarse centroids (smallest ids — the
    // oracle re-derives them), probe the 4 nearest lists, exact rerank.
    "q_ann_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5,
        nlist = 16, nprobe = 4)
    }),

    // deterministic integer k-means: the training pass for ivfTopK's
    // centroid seam (assign → update ×3 → final assignment)
    "q_kmeans" -> ((s, d) =>
      Similarity.kmeans(t(s, d, "embeddings"), "embedding", "vec_id",
          k = 4, iterations = 3)._1
        .select(col("id").as("vec_id"), col("cluster"))),

    // product quantization: per-subspace integer-kmeans codebooks (m=4,
    // k=4, 2 rounds) + one-scan encode — codes and integer reconstruction
    // error, all replayed relationally by the oracle
    "q_pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val books = Pq.fit(emb, "embedding", "vec_id", m = 4, k = 4, iterations = 2)
      Pq.encode(emb, "embedding", "vec_id", books)
    }),

    // ----------------------------------------------------- text analysis
    "q_text_quality" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        Text.tokenCount(col("text")).as("n_words"),
        Text.typeTokenRatio(col("text")).as("ttr"),
        Text.meanTokenLen(col("text")).as("mean_wlen"),
        Text.punctRatio(col("text")).as("punct_ratio"))),

    "q_token_count" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        Text.tokenCount(col("text")).as("ws_tokens"),
        Text.subwordCount(col("text")).as("subword_tokens"))),

    // 16-token windows advancing by 12 (overlap 4) — RAG-style chunking
    "q_chunk" -> ((s, d) =>
      Chunk.chunkTokens(t(s, d, "documents"), "text", "doc_id",
        chunkSize = 16, overlap = 4)),

    // concat-then-split packing into 256-token context windows
    "q_pack" -> ((s, d) =>
      Chunk.packContext(t(s, d, "documents"), "text", "doc_id",
        contextSize = 256)),

    "q_langid" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))),

    // html→text extraction: both engines synthesize the same html page
    // (entities, script/style noise) from the row, then DuckDB re-derives
    // the extraction from first principles — exact oracle over the pipeline
    // behind the byte-identical-text replay invariant (see GenSpec).
    "q_extract_text" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        Text.extractText(encode(concat(
          lit("<html><head><title>T &amp; ß</title><style>p{color:red}</style></head><body onload=\"x()\"><h1>"),
          col("source"),
          lit("</h1>\n<p>first &lt;cut&gt;&nbsp;mark</p>\n<script type=\"text/js\">var x = \"<p>\";</script><p>"),
          col("text"),
          lit("</p></body></html>")), "UTF-8")).as("extracted"))),

    // ------------------------------------------------------- multimodal
    "q_multimodal_meta" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mime = when(pmod(col("doc_id"), lit(3)) === 0, "image/jpeg")
        .when(pmod(col("doc_id"), lit(3)) === 1, "audio/wav")
        .otherwise("video/mp4")
      Multimodal.withMediaMeta(docs.select(col("doc_id"), col("text")), "text", mime)
        .select(col("doc_id"),
          col("media_meta.mime").as("mime"),
          col("media_meta.byte_len").as("byte_len"))
    }),

    // Full fake-decode pipeline (batched codec + frame sampling + resize) —
    // xxhash64-based features, no oracle; MultimodalSpec covers semantics.
    "q_multimodal_decode" -> ((s, d) => {
      val sess = s
      import sess.implicits._
      val docs = t(s, d, "documents")
      val media = docs.select(
        col("doc_id").as("id"),
        when(pmod(col("doc_id"), lit(3)) === 0, "image/jpeg")
          .when(pmod(col("doc_id"), lit(3)) === 1, "audio/wav")
          .otherwise("video/mp4").as("mime"),
        col("text").cast("binary").as("bytes")).as[Multimodal.MediaRow]
      val decoded = Multimodal.decodeBatched(media, Multimodal.FakeCodec).toDF()
      Multimodal.resizeMeta(Multimodal.sampleFrames(decoded, stride = 30), maxDim = 512)
    }),

    // REAL image decode under the oracle: deterministic constant-color PNGs
    // (dims + fill color derived from doc_id) synthesized on the executors,
    // decoded back with the JDK ImageIO codec — the decoded dims/channels
    // must reproduce the synthesis arithmetic, so a wrong decode fails the
    // oracle. Narrow end-to-end: bytes never leave their partition.
    "q_image_decode" -> ((s, d) => {
      val sess = s
      import sess.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRow(id, "image/png", Multimodal.synthPng(id)))
      Multimodal.decodeBatched(media, Multimodal.realCodec).toDF()
        .select(col("id").as("doc_id"), col("width").cast("long").as("w"),
          col("height").cast("long").as("h"), col("channels").cast("long").as("ch"))
    }),

    // channel-mean feature extraction over the same real decode path: the
    // constant fill makes the per-channel means exact integers
    "q_image_stats" -> ((s, d) => {
      val sess = s
      import sess.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRow(id, "image/png", Multimodal.synthPng(id)))
      Multimodal.imageStats(media).toDF()
        .select(col("id").as("doc_id"), col("mean_r"), col("mean_g"), col("mean_b"))
    }),

    // -------------------------------------------------------------- CDC
    // LWW dedup as a pure declarative op (max_by over the LSN order).
    "q_cdc_lww_df" -> ((s, d) => {
      val env = envelope(t(s, d, "events"))
      val cols = env.columns
      env.groupBy(col("url"))
        .agg(max_by(struct(cols.map(col).toIndexedSeq: _*), col("lsn")).as("w"))
        .select(col("w.*"))
        .filter(col("op") =!= "D")
        .select(col("url"), col("lsn"), col("text"))
    }),

    // The real engine across the write → read handoff on one table: L0
    // appends (batches 0-1), a full compaction, then dv merges.
    "q_cdc_lww_table" -> ((s, d) =>
      replayLake(s, d, "graft-q-cdc-lww") { (table, batch, b) =>
        if (b <= 1L) {
          CdcApply.applyBatchAppendRaw(table, batch, "q_cdc", b, createBuckets = 16)
          if (b == 1L) table.compact() // L0 → buckets, single-version base for dv
        } else CdcApply.applyBatchDv(table, batch, "q_cdc", b, createBuckets = 16)
      }.pages().select(col("url"), col("text"), col("lang"))),

    // deletion-vector merge under the same hard oracle: positional-delete
    // sidecars + winner appends must converge to the identical final state
    "q_cdc_dv_table" -> ((s, d) =>
      replayLake(s, d, "graft-q-cdc-dv") { (table, batch, b) =>
        CdcApply.applyBatchDv(table, batch, "q_dv", b, createBuckets = 16)
      }.pages().select(col("url"), col("text"), col("lang"))),

    // dv with the lsn windows applied in REVERSE batch order: every batch
    // after the first is entirely stale vs committed state, so the loser
    // path (discard batch rows, write no mask) carries the convergence —
    // the final LWW state is order-independent
    "q_cdc_dv_stale" -> ((s, d) => {
      val env = envelope(t(s, d, "events")).cache()
      try {
        val maxLsn = env.agg(coalesce(max(col("lsn")), lit(0L))).head().getLong(0)
        val step = math.max(1L, maxLsn / 4 + 1)
        val work = s"${System.getProperty("java.io.tmpdir")}/graft-q-cdc-dv-stale"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
        val table = new LakeTable(s, s"$work/lake")
        (0L to maxLsn / step).reverse.zipWithIndex.foreach { case (w, i) =>
          val batch = env.filter(col("lsn") >= w * step && col("lsn") < (w + 1) * step)
          CdcApply.applyBatchDv(table, batch, "q_dv_stale", i.toLong, createBuckets = 16)
        }
        table.pages().select(col("url"), col("text"), col("lang"))
      } finally env.unpersist()
    }),

    // WAP under the same hard oracle, on L0 appends: batch 1 is STAGED (invisible) under
    // its own queryId — the multi-writer pattern; committing the main
    // query's later batches past a staged batch of the SAME query is
    // refused — while batch 2 commits past it, then the audit passes and
    // the staged batch is rebase-published — the final LWW state must be
    // order-independent
    "q_cdc_wap" -> ((s, d) =>
      replayLake(s, d, "graft-q-cdc-wap") { (table, batch, b) =>
        if (b == 1L) {
          CdcApply.applyBatchAppendRaw(table, batch, "q_wap_stage", b, createBuckets = 16,
            stageAs = Some("audit-1"))
        } else {
          CdcApply.applyBatchAppendRaw(table, batch, "q_wap", b, createBuckets = 16)
          if (b == 2L && table.stagedIds.contains("audit-1")) {
            // audit: the staged snapshot must be readable and non-degenerate
            table.pages(table.stagedSnapshot("audit-1")).count()
            table.publishStaged("audit-1") // head moved → rebase path
          }
        }
      }.pages().select(col("url"), col("text"), col("lang"))),

    // the L0 write path under the same hard oracle: spanning appends, a
    // mid-stream compaction flush (L0 → buckets), more appends, then the
    // resolve-on-read page table — final state must be mode-independent
    "q_cdc_l0_table" -> ((s, d) =>
      replayLake(s, d, "graft-q-cdc-l0") { (table, batch, b) =>
        CdcApply.applyBatchAppendRaw(table, batch, "q_cdc_l0", b, createBuckets = 16)
        if (b == 1L) table.compact(maxFilesPerBucket = 4) // mid-stream L0 flush
      }.pages().select(col("url"), col("text"), col("lang"))),

    // snapshot-diff changelog (CDC *output*: Iceberg incremental scan /
    // Delta CDF analogue) — replay the WAL as L0 appends, then diff the
    // version after batch 1 against the final version; the oracle recomputes
    // both LWW states relationally and classifies
    "q_cdc_changes" -> ((s, d) => {
      var vFrom = -1L
      val table = replayLake(s, d, "graft-q-cdc-changes") { (table, batch, b) =>
        CdcApply.applyBatchAppendRaw(table, batch, "q_chg", b, createBuckets = 16)
        if (b == 1L) vFrom = table.currentSnapshot.get.version
      }
      val vTo = table.currentSnapshot.get.version
      // degenerate input (single batch): diff head against itself → empty
      // changelog, instead of a dangling -1 version
      if (vFrom < 0) vFrom = vTo
      table.changes(vFrom, vTo)
        .select(col("change_type"), col("url"), col("text"), col("lang"),
          col("lsn"))
    }),

    // incremental materialized view (IVM over the CDC output): replay the
    // WAL as L0 appends and keep a per-lang (count, char-sum) view up
    // to date by folding each preimage changelog delta — NEVER re-reading
    // the table — then emit the final view; the oracle aggregates the final
    // LWW state directly (incremental ≡ direct is the IVM invariant)
    "q_matview" -> ((s, d) => {
      var cursor = 0L
      var view: Option[DataFrame] = None
      replayLake(s, d, "graft-q-matview") { (table, batch, b) =>
        CdcApply.applyBatchAppendRaw(table, batch, "q_mv", b, createBuckets = 16)
        cursor = CdcStream.followChanges(table, cursor, withPreimages = true) {
          (df, from, _) =>
            // from < 0 signals a re-bootstrap (full state as inserts): the
            // view must be REBUILT from None, never merged into — folding a
            // bootstrap into an existing aggregate double-counts everything
            val base = if (from < 0) None else view
            // localCheckpoint per poll: the production follower's persist
            // step — plans don't chain across deliveries
            view = Some(MatView.update(base, df, Seq("lang"),
              Map("chars" -> length(col("text")))).localCheckpoint())
        }
      }
      // no delivery at all (empty events table) → empty view, like the oracle
      view.getOrElse(s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("lang",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("chars",
              org.apache.spark.sql.types.LongType)))))
        .select(col("lang"), col("n"), col("chars"))
    })
  )

  /** Shared scaffold for the q_cdc_* / q_matview end-to-end queries: cache
    * the envelope, split it into ≤5 lsn-windowed micro-batches, replay them
    * into a fresh LakeTable under a fixed scratch dir (cleared per
    * invocation — the lake must outlive this call's lazy read, so
    * clean-before-build, not after), and return the table. `applyBatch`
    * owns the apply mode and any per-batch hook.
    */
  private def replayLake(s: SparkSession, d: String, scratchName: String)
      (applyBatch: (LakeTable, DataFrame, Long) => Unit): LakeTable = {
    val env = envelope(t(s, d, "events")).cache()
    try {
      val maxLsn = env.agg(coalesce(max(col("lsn")), lit(0L))).head().getLong(0)
      val step = math.max(1L, maxLsn / 4 + 1)
      val work = s"${System.getProperty("java.io.tmpdir")}/$scratchName"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
      val table = new LakeTable(s, s"$work/lake")
      (0L to maxLsn / step).foreach { b =>
        val batch = env.filter(col("lsn") >= b * step && col("lsn") < (b + 1) * step)
        applyBatch(table, batch, b)
      }
      table
    } finally env.unpersist()
  }

  val oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5
        |FROM documents""".stripMargin,
    "q_ngram_jaccard" -> NgramPairsSql,
    "q_dup_clusters" ->
      s"""WITH RECURSIVE pairs AS ($NgramPairsSql),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(id, comp) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
         |)
         |SELECT id AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY 1""".stripMargin,
    "q_dedup_survivors" ->
      s"""WITH RECURSIVE pairs AS ($NgramPairsSql),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(id, comp) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
         |),
         |losers AS (SELECT id, min(comp) AS comp FROM reach GROUP BY 1
         |           HAVING id <> min(comp))
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin,
    "q_embed_norm" ->
      """SELECT vec_id,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS l2
        |FROM embeddings""".stripMargin,
    // mirror of Similarity.kmeans: positive quantized longs (offset 4096 →
    // floor ≡ trunc division), integer squared-L2, min-struct tiebreak,
    // 3 update rounds then a final assignment with the fitted centroids
    "q_kmeans" -> {
      val dim = 64
      def assign(i: Int) =
        s"""a$i AS (
           |  SELECT vec_id, any_value(qv) AS qv, (min({'d': d, 'c': cid})).c AS cluster
           |  FROM (SELECT q.vec_id, q.qv, c.cid,
           |          list_sum(list_transform(generate_series(1, $dim),
           |            j -> (q.qv[j] - c.cv[j]) * (q.qv[j] - c.cv[j]))) AS d
           |        FROM q, c${i - 1} c)
           |  GROUP BY vec_id)""".stripMargin
      def update(i: Int) =
        s"""c$i AS (
           |  SELECT c${i - 1}.cid, COALESCE(n$i.cv, c${i - 1}.cv) AS cv
           |  FROM c${i - 1} LEFT JOIN (
           |    SELECT cluster AS cid, list(m ORDER BY j) AS cv
           |    FROM (SELECT cluster, j, CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS m
           |          FROM (SELECT cluster, unnest(qv) AS v,
           |                  unnest(generate_series(1, $dim)) AS j FROM a$i)
           |          GROUP BY 1, 2)
           |    GROUP BY 1) n$i ON c${i - 1}.cid = n$i.cid)""".stripMargin
      val rounds = (1 to 3).map(i => assign(i) + ",\n" + update(i)).mkString(",\n")
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(round(CAST(x AS DOUBLE) * 1024 + 4096) AS BIGINT)) AS qv
         |  FROM embeddings),
         |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
         |       FROM (SELECT * FROM q ORDER BY vec_id LIMIT 4)),
         |$rounds,
         |${assign(4)}
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM a4""".stripMargin
    },
    // mirror of Pq.fit(m=4, k=4, 2 rounds) + Pq.encode: the q_kmeans
    // unrolled-kmeans pattern replayed per SUBSPACE (embedding[lo:hi]),
    // final assignment also carries the min distance → codes + recon_err
    "q_pq" -> {
      val (m, k, sub, iters) = (4, 4, 16, 2)
      def subspace(s: Int): String = {
        val lo = s * sub + 1
        val hi = (s + 1) * sub
        def assign(i: Int) =
          s"""a${s}_$i AS (
             |  SELECT vec_id, any_value(qv) AS qv,
             |    (min({'d': d, 'c': cid})).c AS cluster,
             |    (min({'d': d, 'c': cid})).d AS dist
             |  FROM (SELECT q.vec_id, q.qv, c.cid,
             |          list_sum(list_transform(generate_series(1, $sub),
             |            j -> (q.qv[j] - c.cv[j]) * (q.qv[j] - c.cv[j]))) AS d
             |        FROM q$s q, c${s}_${i - 1} c)
             |  GROUP BY vec_id)""".stripMargin
        def update(i: Int) =
          s"""c${s}_$i AS (
             |  SELECT c${s}_${i - 1}.cid, COALESCE(n.cv, c${s}_${i - 1}.cv) AS cv
             |  FROM c${s}_${i - 1} LEFT JOIN (
             |    SELECT cluster AS cid, list(mm ORDER BY j) AS cv
             |    FROM (SELECT cluster, j, CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS mm
             |          FROM (SELECT cluster, unnest(qv) AS v,
             |                  unnest(generate_series(1, $sub)) AS j FROM a${s}_$i)
             |          GROUP BY 1, 2)
             |    GROUP BY 1) n ON c${s}_${i - 1}.cid = n.cid)""".stripMargin
        val rounds = (1 to iters).map(i => assign(i) + ",\n" + update(i)).mkString(",\n")
        s"""q$s AS (SELECT vec_id,
           |    list_transform(embedding[$lo:$hi],
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1024 + 4096) AS BIGINT)) AS qv
           |  FROM embeddings),
           |c${s}_0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
           |       FROM (SELECT * FROM q$s ORDER BY vec_id LIMIT $k)),
           |$rounds,
           |${assign(iters + 1)}""".stripMargin
      }
      val f = iters + 1
      s"""WITH ${(0 until m).map(subspace).mkString(",\n")}
         |SELECT s0.vec_id,
         |  CAST(s0.cluster AS BIGINT) AS code0, CAST(s1.cluster AS BIGINT) AS code1,
         |  CAST(s2.cluster AS BIGINT) AS code2, CAST(s3.cluster AS BIGINT) AS code3,
         |  CAST(s0.dist + s1.dist + s2.dist + s3.dist AS BIGINT) AS recon_err
         |FROM a0_$f s0 JOIN a1_$f s1 USING (vec_id)
         |  JOIN a2_$f s2 USING (vec_id) JOIN a3_$f s3 USING (vec_id)""".stripMargin
    },

    "q_ann_bruteforce" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(q.e)),
        |      i -> q.e[i] * c.e[i])), (a, b) -> a + b) AS d,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(q.e, x -> x * x)), (a, b) -> a + b)) AS nq,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(c.e, x -> x * x)), (a, b) -> a + b)) AS nc
        |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
        |)
        |SELECT query_id, corpus_id,
        |  CASE WHEN nq = 0 OR nc = 0 THEN 0.0 ELSE d / (nq * nc) END AS cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY
        |    CASE WHEN nq = 0 OR nc = 0 THEN 0.0 ELSE d / (nq * nc) END DESC, corpus_id) AS BIGINT) AS rank
        |FROM scored QUALIFY rank <= 5""".stripMargin,
    "q_text_quality" ->
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_calc,
         |  CAST(len($NormWords) AS BIGINT) AS n_words,
         |  CAST(len(list_distinct($NormWords)) AS DOUBLE) / CAST(len($NormWords) AS DOUBLE) AS ttr,
         |  CAST(list_reduce(list_prepend(0, list_transform($NormWords, w -> length(w))), (a, b) -> a + b) AS DOUBLE)
         |    / CAST(len($NormWords) AS DOUBLE) AS mean_wlen,
         |  CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
         |    / CAST(length(text) AS DOUBLE) AS punct_ratio
         |FROM documents""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> length(t) > 0)) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0)) AS BIGINT) AS subword_tokens
        |FROM documents""".stripMargin,
    // twin of Chunk.chunkTokens(chunkSize=16, overlap=4): stride 12
    "q_chunk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0) AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN coalesce(len(toks), 0) > 0
        |      THEN 1 + CAST(floor((greatest(len(toks) - 16, 0) + 11) / 12.0) AS BIGINT)
        |      ELSE 0 END AS nchunks
        |  FROM t
        |), e AS (SELECT doc_id, toks, unnest(range(nchunks)) AS i FROM c)
        |SELECT doc_id, i AS chunk_idx,
        |  array_to_string(toks[(i*12+1):(i*12+16)], ' ') AS chunk_text,
        |  CAST(len(toks[(i*12+1):(i*12+16)]) AS BIGINT) AS chunk_tokens
        |FROM e""".stripMargin,
    // twin of Chunk.packContext(contextSize=256): global offsets in doc_id order
    "q_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(coalesce(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> length(x) > 0)), 0) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, tok_offset,
        |  CAST(floor(tok_offset / 256.0) AS BIGINT) AS bin_first,
        |  CAST(floor((tok_offset + greatest(n_tokens - 1, 0)) / 256.0) AS BIGINT) AS bin_last
        |FROM c""".stripMargin,
    "q_extract_text" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>T &amp; ß</title><style>p{color:red}</style></head><body onload="x()"><h1>'
        |  || source || '</h1>' || chr(10) || '<p>first &lt;cut&gt;&nbsp;mark</p>' || chr(10)
        |  || '<script type="text/js">var x = "<p>";</script><p>'
        |  || text || '</p></body></html>' AS s
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(s, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS extracted
        |FROM h""".stripMargin,
    "q_langid" -> {
      def score(words: Seq[String]) =
        s"len(list_filter($NormWords, w -> list_contains([${words.map(w => s"'$w'").mkString(", ")}], w)))"
      val profiles = Text.LangProfiles.toMap
      val s_en = score(profiles("en")); val s_de = score(profiles("de"))
      val s_fr = score(profiles("fr")); val s_es = score(profiles("es"))
      val s_pt = score(profiles("pt"))
      s"""SELECT doc_id, CASE
         |  WHEN greatest(en, de, fr, es, pt) = 0 THEN 'und'
         |  WHEN pt >= en AND pt >= de AND pt >= fr AND pt >= es THEN 'pt'
         |  WHEN fr >= en AND fr >= de AND fr >= es THEN 'fr'
         |  WHEN es >= en AND es >= de THEN 'es'
         |  WHEN en >= de THEN 'en'
         |  ELSE 'de' END AS lang_pred
         |FROM (SELECT doc_id, $s_en AS en, $s_de AS de, $s_fr AS fr, $s_es AS es, $s_pt AS pt
         |      FROM documents)""".stripMargin
    },
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/jpeg' WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END AS mime,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        |FROM documents""".stripMargin,
    "q_image_decode" ->
      """SELECT doc_id, CAST(8 + doc_id % 16 AS BIGINT) AS w,
        |  CAST(8 + doc_id % 8 AS BIGINT) AS h, CAST(3 AS BIGINT) AS ch
        |FROM documents""".stripMargin,
    "q_image_stats" ->
      """SELECT doc_id, CAST((doc_id * 37) % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id * 57) % 256 AS DOUBLE) AS mean_g,
        |  CAST((doc_id * 77) % 256 AS DOUBLE) AS mean_b
        |FROM documents""".stripMargin,
    "q_minhash_sig" ->
      s"""WITH d AS (
         |  SELECT doc_id, $ShinglesSql AS sh
         |  FROM (SELECT doc_id, $NormWords AS w FROM documents)
         |), h AS (
         |  SELECT doc_id, list_transform(sh, s -> ${md5h60("s")}) AS hs FROM d
         |), sig AS (
         |  SELECT doc_id, [${minhashComponentsSql(32)}] AS sig FROM h
         |)
         |SELECT doc_id, CAST(i - 1 AS INTEGER) AS h_idx, sig[i] AS h_val
         |FROM sig CROSS JOIN generate_series(1, 32) AS t(i)""".stripMargin,
    "q_minhash_pairs" ->
      s"""WITH d AS (
         |  SELECT doc_id, $ShinglesSql AS sh
         |  FROM (SELECT doc_id, $NormWords AS w FROM documents)
         |), h AS (
         |  SELECT doc_id, list_transform(sh, s -> ${md5h60("s")}) AS hs FROM d
         |), sig AS (
         |  SELECT doc_id, [${minhashComponentsSql(32)}] AS sig FROM h
         |), banded AS (
         |  SELECT doc_id, sig, b, sig[2*b+1 : 2*b+2] AS key
         |  FROM sig CROSS JOIN generate_series(0, 15) AS t(b)
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
         |  FROM banded a JOIN banded b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b,
         |  CAST(len(list_filter(generate_series(1, 32), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 32.0
         |    AS est_jaccard
         |FROM pairs""".stripMargin,
    "q_simhash" ->
      s"""WITH h AS (SELECT doc_id, list_transform($NormToks, t -> ${md5h60("t")}) AS hs FROM documents)
         |SELECT doc_id, ($SimhashSql) AS simhash FROM h""".stripMargin,
    "q_simhash_pairs" ->
      s"""WITH h AS (SELECT doc_id, list_transform($NormToks, t -> ${md5h60("t")}) AS hs FROM documents),
         |s AS (SELECT doc_id, ($SimhashSql) AS sim FROM h),
         |seg AS (
         |  SELECT doc_id, sim, g, ((sim >> CAST(g * 15 AS INTEGER)) & 32767) AS key
         |  FROM s CROSS JOIN generate_series(0, 3) AS t(g)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sim AS sim_a, b.sim AS sim_b
         |  FROM seg a JOIN seg b ON a.g = b.g AND a.key = b.key AND a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 16""".stripMargin,
    "q_embed_dup" ->
      s"""WITH v AS ($VecViews),
         |sig AS (SELECT vec_id, e, (${hyperplaneSigSql(24, 42L)}) AS sig FROM v),
         |banded AS (
         |  SELECT vec_id, e, sig, bd, ((sig >> CAST(bd * 6 AS INTEGER)) & 63) AS bucket
         |  FROM sig CROSS JOIN generate_series(0, 3) AS t(bd)
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.e AS e_a, b.e AS e_b
         |  FROM banded a JOIN banded b ON a.bd = b.bd AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |)
         |SELECT id_a, id_b, ${cosineSql("e_a", "e_b")} AS cosine
         |FROM cand WHERE ${cosineSql("e_a", "e_b")} >= 0.35""".stripMargin,
    "q_ann_lsh" ->
      s"""WITH v AS ($VecViews),
         |sig AS (SELECT vec_id, e, (${hyperplaneSigSql(24, 42L)}) AS sig FROM v),
         |banded AS (
         |  SELECT vec_id, e, sig, bd, ((sig >> CAST(bd * 6 AS INTEGER)) & 63) AS bucket
         |  FROM sig CROSS JOIN generate_series(0, 3) AS t(bd)
         |), cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id, q.e AS qe, c.e AS ce
         |  FROM banded q JOIN banded c ON q.bd = c.bd AND q.bucket = c.bucket
         |    AND q.vec_id < 10 AND q.vec_id <> c.vec_id
         |), scored AS (
         |  SELECT query_id, corpus_id, ${cosineSql("qe", "ce")} AS cosine FROM cand
         |)
         |SELECT query_id, corpus_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS BIGINT) AS rank
         |FROM scored QUALIFY rank <= 5""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH v AS ($VecViews),
         |cent AS (SELECT vec_id AS cent_id, e AS ce FROM v ORDER BY vec_id LIMIT 16),
         |ascore AS (
         |  SELECT c.vec_id AS corpus_id, c.e AS cv, ct.cent_id,
         |    ${cosineSql("c.e", "ct.ce")} AS cs
         |  FROM v c CROSS JOIN cent ct
         |), assigned AS (
         |  SELECT corpus_id, cv, cent_id AS list_id
         |  FROM ascore
         |  QUALIFY row_number() OVER (PARTITION BY corpus_id ORDER BY cs DESC, cent_id) = 1
         |), qscore AS (
         |  SELECT q.vec_id AS query_id, q.e AS qv, ct.cent_id,
         |    ${cosineSql("q.e", "ct.ce")} AS cs
         |  FROM v q CROSS JOIN cent ct WHERE q.vec_id < 10
         |), probes AS (
         |  SELECT query_id, qv, cent_id AS list_id
         |  FROM qscore
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, cent_id) <= 4
         |), scored AS (
         |  SELECT p.query_id, a.corpus_id, ${cosineSql("p.qv", "a.cv")} AS cosine
         |  FROM probes p JOIN assigned a ON p.list_id = a.list_id AND p.query_id <> a.corpus_id
         |)
         |SELECT query_id, corpus_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS BIGINT) AS rank
         |FROM scored QUALIFY rank <= 5""".stripMargin,
    "q_multimodal_decode" ->
      s"""WITH m AS (
         |  SELECT doc_id AS id,
         |    CASE WHEN doc_id % 3 = 0 THEN 'image/jpeg' WHEN doc_id % 3 = 1 THEN 'audio/wav'
         |         ELSE 'video/mp4' END AS mime,
         |    text AS payload
         |  FROM documents
         |), dec AS (
         |  -- DuckDB md5 takes VARCHAR and hashes its UTF-8 bytes — identical
         |  -- to the JVM codec's md5 over the binary payload
         |  SELECT id, mime, CAST(octet_length(encode(payload)) AS BIGINT) AS byte_len,
         |    ${md5h60("payload")} AS h
         |  FROM m
         |), feat AS (
         |  SELECT id, mime, byte_len,
         |    CAST(64 + (h % 16) * 64 AS INTEGER) AS width,
         |    CAST(64 + ((h >> 8) % 16) * 64 AS INTEGER) AS height,
         |    CAST(CASE WHEN mime LIKE 'audio/%' THEN 1 ELSE 3 END AS INTEGER) AS channels,
         |    CAST(CASE WHEN mime LIKE 'video/%' THEN 1 + ((h >> 16) % 300) ELSE 1 END AS INTEGER) AS n_frames,
         |    h AS feat_hash
         |  FROM dec
         |), frames AS (
         |  SELECT f.*, CAST(fr AS INTEGER) AS frame,
         |    (48271 * (feat_hash >> 30) + 16807 * (feat_hash & 1073741823) + fr) % 2147483647 AS frame_hash
         |  FROM feat f, LATERAL unnest(generate_series(0, CAST(n_frames AS BIGINT) - 1, 30)) AS u(fr)
         |)
         |SELECT id, mime, byte_len, width, height, channels, n_frames, feat_hash, frame, frame_hash,
         |  CAST(floor(width * least(1.0, 512.0 / greatest(width, height))) AS INTEGER) AS out_width,
         |  CAST(floor(height * least(1.0, 512.0 / greatest(width, height))) AS INTEGER) AS out_height
         |FROM frames""".stripMargin,
    "q_cdc_lww_df" ->
      """SELECT concat('u', CAST(user_id AS VARCHAR)) AS url, max(event_id) AS lsn,
        |  max_by(props, event_id) AS text
        |FROM events GROUP BY 1
        |HAVING max_by(CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END, event_id) <> 'D'""".stripMargin,
    "q_cdc_lww_table" ->
      """SELECT concat('u', CAST(user_id AS VARCHAR)) AS url, max_by(props, event_id) AS text,
        |  max_by(event_type, event_id) AS lang
        |FROM events GROUP BY 1
        |HAVING max_by(CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END, event_id) <> 'D'""".stripMargin,
    "q_cdc_l0_table" ->
      """SELECT concat('u', CAST(user_id AS VARCHAR)) AS url, max_by(props, event_id) AS text,
        |  max_by(event_type, event_id) AS lang
        |FROM events GROUP BY 1
        |HAVING max_by(CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END, event_id) <> 'D'""".stripMargin,
    "q_cdc_dv_table" ->
      """SELECT concat('u', CAST(user_id AS VARCHAR)) AS url, max_by(props, event_id) AS text,
        |  max_by(event_type, event_id) AS lang
        |FROM events GROUP BY 1
        |HAVING max_by(CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END, event_id) <> 'D'""".stripMargin,
    "q_cdc_dv_stale" ->
      """SELECT concat('u', CAST(user_id AS VARCHAR)) AS url, max_by(props, event_id) AS text,
        |  max_by(event_type, event_id) AS lang
        |FROM events GROUP BY 1
        |HAVING max_by(CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END, event_id) <> 'D'""".stripMargin,
    // WAP replay ends in the identical final state — staging is invisible
    // to the converged result
    "q_cdc_wap" ->
      """SELECT concat('u', CAST(user_id AS VARCHAR)) AS url, max_by(props, event_id) AS text,
        |  max_by(event_type, event_id) AS lang
        |FROM events GROUP BY 1
        |HAVING max_by(CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END, event_id) <> 'D'""".stripMargin,

    // twin of q_cdc_changes: LWW state at lsn < 2*step (the version after
    // batch 1; step mirrors the Spark-side maxLsn/4+1 with truncating
    // division on non-negative lsns) vs the final LWW state, classified
    "q_cdc_changes" ->
      """WITH e AS (SELECT event_id AS lsn,
        |    concat('u', CAST(user_id AS VARCHAR)) AS url,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE props END AS text,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS lang
        |  FROM events),
        |bnd AS (SELECT max(event_id) // 4 + 1 AS step FROM events),
        |s1 AS (SELECT url, max_by(text, lsn) AS text, max_by(lang, lsn) AS lang,
        |    max_by(op, lsn) AS op, max(lsn) AS lsn
        |  FROM e, bnd WHERE lsn < 2 * step GROUP BY url),
        |s2 AS (SELECT url, max_by(text, lsn) AS text, max_by(lang, lsn) AS lang,
        |    max_by(op, lsn) AS op, max(lsn) AS lsn
        |  FROM e GROUP BY url),
        |j AS (SELECT coalesce(s1.url, s2.url) AS url,
        |    (s1.url IS NOT NULL AND s1.op <> 'D') AS live1,
        |    (s2.url IS NOT NULL AND s2.op <> 'D') AS live2,
        |    s1.lsn AS lsn1, s2.lsn AS lsn2,
        |    s1.text AS t1, s2.text AS t2, s1.lang AS g1, s2.lang AS g2
        |  FROM s1 FULL OUTER JOIN s2 ON s1.url = s2.url)
        |SELECT CASE WHEN NOT live1 AND live2 THEN 'insert'
        |            WHEN live1 AND NOT live2 THEN 'delete'
        |            ELSE 'update' END AS change_type,
        |  url,
        |  CASE WHEN live1 AND NOT live2 THEN t1 ELSE t2 END AS text,
        |  CASE WHEN live1 AND NOT live2 THEN g1 ELSE g2 END AS lang,
        |  CAST(lsn2 AS BIGINT) AS lsn
        |FROM j
        |WHERE (NOT live1 AND live2) OR (live1 AND NOT live2)
        |   OR (live1 AND live2 AND lsn1 <> lsn2)""".stripMargin,

    // twin of q_matview: the IVM invariant — the incrementally maintained
    // view must equal the direct aggregate over the final LWW-resolved state
    "q_matview" ->
      """WITH e AS (SELECT event_id AS lsn,
        |    concat('u', CAST(user_id AS VARCHAR)) AS url,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE props END AS text,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS lang
        |  FROM events),
        |s AS (SELECT url, max_by(text, lsn) AS text, max_by(lang, lsn) AS lang,
        |    max_by(op, lsn) AS op
        |  FROM e GROUP BY url)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(length(text)) AS BIGINT) AS chars
        |FROM s WHERE op <> 'D' GROUP BY lang""".stripMargin
  )
}
