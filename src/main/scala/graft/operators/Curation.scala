package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Present._
import graft.Tables

/** Corpus-curation operators for training-data pipelines: the selection /
  * layout steps that sit between cleaning (TextAnalysis, Dedup) and the
  * trainer — sequence packing, holdout-contamination checks, deterministic
  * stratified sampling, and repetition-based quality gating.
  *
  * Scale-first shapes:
  *
  *  - '''packing''' shuffles once by shard and runs the greedy fold
  *    per-shard; a shard is the unit a single trainer worker consumes, so
  *    its doc list fitting one task is the PIPELINE's contract, not a local
  *    shortcut (at 100 TB: thousands of shards, each bounded).
  *  - '''contamination''' broadcasts the distinct holdout n-grams (the
  *    benchmark/test corpus is small by definition) and streams the
  *    training corpus through one hash join — no shuffle of the corpus.
  *  - '''sampling''' is a pure per-row filter on a portable integer hash:
  *    zero shuffles, trivially reproducible across engines and re-runs —
  *    which is the point (a resampled corpus must be the SAME corpus).
  *  - '''repetition''' is per-document column math (one scan, no shuffle),
  *    the Gopher-style within-doc duplication signals.
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- packing

  /** Greedy sequential sequence packing: within each shard, docs are taken
    * in ascending `doc_id` order and appended to the current pack until the
    * next doc would exceed `budget` tokens, which starts a new pack
    * (oversized docs get a pack of their own). Returns
    * `(shard, doc_id, tokens, pack_id)` — deterministic for any input
    * partitioning because the per-shard order is total.
    */
  def packSequences(docs: DataFrame, keyCol: String, textCol: String,
                    budget: Long, nShards: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(
      (col(keyCol) % nShards).as("shard"),
      col(keyCol).cast(LongType).as("doc_id"),
      TextAnalysis.wsTokenCount(col(textCol)).as("tokens"))
      .as[(Long, Long, Long)]
    toks.groupByKey(_._1).flatMapGroups { (shard, it) =>
      val ds = it.toArray.sortBy(_._2)
      var pack = 0L
      var acc = 0L
      ds.iterator.map { case (_, id, t) =>
        if (acc > 0L && acc + t > budget) { pack += 1L; acc = t }
        else acc += t
        (shard, id, t, pack)
      }
    }.toDF("shard", "doc_id", "tokens", "pack_id")
  }

  // ---------------------------------------------------- contamination check

  /** Word n-grams of `textCol` as an array column. `greatest(..., 1)`
    * guards Spark's descending-sequence trap for docs shorter than `n`
    * tokens — such docs yield ONE shorter-than-`n` gram (the whole doc),
    * exactly like [[Dedup.shingles]]; oracles mirror the same formula, and
    * callers that want none filter on token count first.
    */
  def wordNgrams(textCol: String, n: Int): Column =
    expr(s"""transform(sequence(1, greatest(size(split(trim($textCol), ' +')) - ${n - 1}, 1)),
                       i -> concat_ws(' ', slice(split(trim($textCol), ' +'), i, $n)))""")

  /** Train/holdout contamination: training docs that share at least one
    * word-`n`-gram with the holdout set, with the count of distinct shared
    * grams. The holdout side is DISTINCT grams and broadcast — a benchmark
    * corpus is small by definition, so the training corpus is never
    * shuffled, just streamed through one broadcast hash join.
    */
  def contamination(train: DataFrame, holdout: DataFrame, keyCol: String,
                    textCol: String, n: Int): DataFrame = {
    val spark = train.sparkSession
    val minTok = TextAnalysis.wsTokenCount(col(textCol)) >= n
    // Dedup grams PER DOC before exploding: the downstream count is over
    // distinct shared grams anyway, so pre-distinct rows turn the expensive
    // two-phase distinct aggregate (Expand + double shuffle) into a plain
    // count, and shrink the explode/join input by each doc's repetition.
    // Gram generation is the native one-pass graft_word_ngrams expression
    // (round 14; the transform/slice/concat_ws composition's per-gram
    // higher-order-function eval was the measured bulk of q75's sf1 wall,
    // the same finding as q123's — and the per-doc distinct folds into the
    // same pass).
    val ngrams = graft.expressions.TextSignatures.wordNgramsCol(spark) _
    val trainGrams = train.filter(minTok)
      .select(col(keyCol), explode(ngrams(col(textCol), n, true)).as("gram"))
    val holdGrams = holdout.filter(minTok)
      .select(explode(ngrams(col(textCol), n, false)).as("gram")).distinct()
    trainGrams.join(broadcast(holdGrams), "gram")
      .groupBy(keyCol)
      .agg(count(lit(1)).as("shared_grams"))
  }

  // ------------------------------------------------- deterministic sampling

  /** Portable 32-bit multiplicative hash of a long key (Knuth's 2654435761),
    * identical integer arithmetic in any engine — the reproducible-sampling
    * primitive. Returns a value in [0, 2^32).
    *
    * The key is masked to 31 bits BEFORE the multiply so the product stays
    * under 2^63 (max 2^31·2654435761 ≈ 5.7e18): an unmasked key ≳ 3.5e9
    * would silently wrap in Spark's Long arithmetic while a BIGINT engine
    * (the DuckDB oracle) raises out-of-range — same-expression, different
    * answers. Masked, the arithmetic is exact in both. Keys already in
    * [0, 2^31) — every fixture id — hash identically to the unmasked form.
    */
  def portableHash(key: Column): Column =
    pmod(pmod(key.cast(LongType), lit(2147483648L)) * lit(2654435761L), lit(4294967296L))

  /** Deterministic stratified sampling: strata from text length (short /
    * medium / long), each with its own per-mille keep rate; a row is kept
    * iff `portableHash(key) % 1000 < rate`. Zero shuffles, stable across
    * runs, engines, and partitionings.
    */
  def stratifiedSample(docs: DataFrame, keyCol: String, textCol: String,
                       rates: (Int, Int, Int) = (100, 250, 500)): DataFrame = {
    val len = length(col(textCol))
    val stratum = when(len < 200, "short").when(len < 400, "medium").otherwise("long")
    val rate = when(len < 200, rates._1).when(len < 400, rates._2).otherwise(rates._3)
    docs.select(col(keyCol), stratum.as("stratum"),
        (portableHash(col(keyCol)) % 1000).as("h"), rate.as("rate"))
      .filter(col("h") < col("rate"))
      .select(col(keyCol), col("stratum"))
  }

  /** Fixed-budget per-stratum sample: exactly `min(k, |stratum|)` docs per
    * stratum, chosen by rank of the portable hash (ties broken by key) —
    * the deterministic replacement for per-group reservoir sampling. One
    * shuffle by stratum; the rank window never sees more than a stratum.
    */
  def sampleFixedK(docs: DataFrame, keyCol: String, textCol: String, k: Int): DataFrame = {
    val len = length(col(textCol))
    val stratum = when(len < 200, "short").when(len < 400, "medium").otherwise("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stratum").orderBy(col("h"), col(keyCol))
    docs.select(col(keyCol), stratum.as("stratum"),
        portableHash(col(keyCol)).as("h"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(keyCol), col("stratum"), col("rk").cast(LongType).as("rk"))
  }

  /** Rank-based quality gate: keep the top half of each stratum by the
    * composite quality score ([[TextAnalysis.qualityScoreFromStats]]).
    * Thresholding by ORDER STATISTIC (rank > floor(n/2) with a total
    * tie-break), not by an interpolated percentile VALUE — integer logic is
    * engine-portable where midpoint interpolation can differ in the last
    * ulp. One shuffle by stratum.
    */
  def qualityGateTopHalf(docs: DataFrame, keyCol: String, textCol: String): DataFrame = {
    val st = graft.expressions.TextStats.statsCol(docs.sparkSession)(col(textCol))
    val len = length(col(textCol))
    val stratum = when(len < 200, "short").when(len < 400, "medium").otherwise("long")
    val scored = docs
      .withColumn("_st", st)
      .select(col(keyCol), stratum.as("stratum"),
        TextAnalysis.qualityScoreFromStats(col("_st")).as("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stratum").orderBy(col("quality_score"), col(keyCol))
    val n = org.apache.spark.sql.expressions.Window.partitionBy("stratum")
    scored
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(n))
      .filter(col("rk") > expr("n div 2")) // integer division: floor(n/2)
      .select(col(keyCol), col("stratum"), col("quality_score"))
  }

  // ----------------------------------------------------- repetition ratios

  /** Within-document repetition signals (Gopher-style duplication gates):
    * fraction of duplicate word bigrams and duplicate character 4-grams,
    * both as exact scaled-integer ratios rounded to 4 decimals. One fused
    * scan per document via the native
    * [[graft.expressions.TextStats.repStats]] codegen expression — the
    * composed-builtin formulation it replaces (wordNgrams(2) +
    * array_distinct, Dedup.shingles(4), char-count floor of 1) remains the
    * oracle semantics and the parity-spec reference.
    */
  def repetitionRatios(docs: DataFrame, keyCol: String, textCol: String): DataFrame = {
    import graft.expressions.TextStats
    def ratio4(num: Column, den: Column): Column =
      graft.functions.VectorFunctions.roundNative(
        num.cast("double") * 10000d / greatest(den, lit(1L)).cast("double"), 0) / 10000d
    val st = TextStats.repStatsCol(docs.sparkSession)(col(textCol))
    docs
      .withColumn("_rs", st)
      .select(col(keyCol),
        col("_rs")(TextStats.NBigrams).as("n_bigrams"),
        ratio4(col("_rs")(TextStats.NBigrams) - col("_rs")(TextStats.DistinctBigrams),
          col("_rs")(TextStats.NBigrams)).as("rep_bigram"),
        ratio4(col("_rs")(TextStats.C4Total) - col("_rs")(TextStats.C4Distinct),
          col("_rs")(TextStats.C4Total)).as("rep_char4"))
  }

  /** The composed-builtin formulation of [[repetitionRatios]] — the oracle
    * semantics, kept for the native≡composed parity spec.
    */
  private[operators] def repetitionRatiosComposed(docs: DataFrame, keyCol: String,
                                                 textCol: String): DataFrame = {
    def ratio4(num: Column, den: Column): Column =
      round(num.cast("double") * 10000d / greatest(den, lit(1L)).cast("double")) / 10000d
    docs
      .withColumn("_bi", wordNgrams(textCol, 2))
      // total char 4-gram positions, with the same short-text floor of 1 the
      // shingle expression has (a <4-char text yields one short shingle)
      .withColumn("_c4total",
        greatest(length(col(textCol)).cast(LongType) - lit(3L), lit(1L)))
      .withColumn("_c4", Dedup.shingles(textCol, 4)) // already distinct
      .select(col(keyCol),
        size(col("_bi")).cast(LongType).as("n_bigrams"),
        ratio4(size(col("_bi")).cast(LongType) - size(array_distinct(col("_bi"))).cast(LongType),
          size(col("_bi")).cast(LongType)).as("rep_bigram"),
        ratio4(col("_c4total") - size(col("_c4")).cast(LongType), col("_c4total"))
          .as("rep_char4"))
  }

  /** Splits each document into fixed-size token windows with stride-based
    * overlap — the standard chunking step feeding a training tokenizer or an
    * embedding index (stride < chunk gives overlapping context windows).
    * Emits `(key, chunk_id, chunk_text, n_tokens)`; every token lands in at
    * least one chunk, the final chunk is the (possibly short) tail, and a
    * document shorter than one chunk yields exactly itself.
    *
    * Scale shape: tokenize once per document, then a per-row generator
    * (posexplode over the window starts) — no shuffle at all; chunk volume
    * is rows × overlap factor and flows straight to the consumer.
    */
  def chunkDocuments(docs: DataFrame, keyCol: String, textCol: String,
                     chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(strideTokens > 0 && strideTokens <= chunkTokens,
      s"stride must be in (0, chunk]: $strideTokens vs $chunkTokens")
    // r15: window generation rides the native graft_word_chunks expression
    // (strided variant of graft_word_lines; same window-count formula as
    // the transform/sequence/slice composition it replaces, parity-pinned)
    // — it also carries each window's token count, so the per-chunk
    // re-split that derived n_tokens is gone too.
    graft.expressions.TextSignatures.register(docs.sparkSession)
    docs.filter(TextAnalysis.wsTokenCount(col(textCol)) >= 1)
      .select(col(keyCol), posexplode(
        call_function("graft_word_chunks", col(textCol),
          lit(chunkTokens), lit(strideTokens)))
        .as(Seq("chunk_id", "_ch")))
      .select(col(keyCol), col("chunk_id"), col("_ch.t").as("chunk_text"),
        col("_ch.n").cast(org.apache.spark.sql.types.LongType).as("n_tokens"))
  }

  // ------------------------------------------------------- declared queries

  private val PackBudget = 500L
  private val PackShards = 8
  private val ContamN = 3
  /** Holdout slice: every 37th doc plays the benchmark set. */
  private def holdoutPred = col("doc_id") % 37 === 0

  val queries: Map[String, Q] = Map(
    "q74_pack_sequences" -> ((s, dir) =>
      packSequences(Tables(s, dir).documents, "doc_id", "text", PackBudget, PackShards)
        .presented("shard", "doc_id")),
    // 32-token chunks, 16-token stride: the fixture's ~50-token docs yield
    // 2-3 overlapping chunks each, exercising window starts, overlap, and
    // the short tail
    "q109_chunk_docs" -> ((s, dir) =>
      chunkDocuments(Tables(s, dir).documents, "doc_id", "text", 32, 16)
        .presented("doc_id", "chunk_id")),
    "q75_contamination" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      contamination(docs.filter(!holdoutPred), docs.filter(holdoutPred),
        "doc_id", "text", ContamN)
        .presented("doc_id")
    }),
    "q76_sample_stratified" -> ((s, dir) =>
      stratifiedSample(Tables(s, dir).documents, "doc_id", "text")
        .presented("doc_id")),
    "q77_text_repetition" -> ((s, dir) =>
      repetitionRatios(Tables(s, dir).documents, "doc_id", "text")
        .presented("doc_id")),
    "q78_sample_fixed_k" -> ((s, dir) =>
      sampleFixedK(Tables(s, dir).documents, "doc_id", "text", k = 20)
        .presented("doc_id")),
    "q79_quality_gate" -> ((s, dir) =>
      qualityGateTopHalf(Tables(s, dir).documents, "doc_id", "text")
        .presented("doc_id")),
  )

  val oracles: Map[String, String] = Map(
    // same ' +' tokenization contract as q53/q75/q108; DuckDB list slices
    // are 1-based inclusive and clamp at the end, mirroring Spark's
    // slice(); chunk_id cast to INTEGER to match posexplode's position
    "q109_chunk_docs" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
                       WHERE length(trim(text)) > 0),
              g AS (SELECT doc_id, t,
                           unnest(range(0, GREATEST(CAST(CEIL((len(t) - 32) / 16.0) AS BIGINT), 0) + 1)) AS i
                    FROM toks)
         SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
                array_to_string(t[i * 16 + 1 : i * 16 + 32], ' ') AS chunk_text,
                LEAST(32, len(t) - i * 16) AS n_tokens
         FROM g ORDER BY doc_id, chunk_id""",
    // greedy packing is inherently sequential per shard — the oracle walks
    // the same order with a recursive CTE
    "q74_pack_sequences" ->
      s"""WITH RECURSIVE base AS (
            SELECT doc_id % $PackShards AS shard, doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) END AS tokens
            FROM documents),
          ordered AS (
            SELECT shard, doc_id, tokens,
                   ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
            FROM base),
          packed AS (
            SELECT shard, doc_id, tokens, rn,
                   CAST(0 AS BIGINT) AS pack_id, tokens AS acc
            FROM ordered WHERE rn = 1
            UNION ALL
            SELECT o.shard, o.doc_id, o.tokens, o.rn,
                   CASE WHEN p.acc > 0 AND p.acc + o.tokens > $PackBudget
                        THEN p.pack_id + 1 ELSE p.pack_id END,
                   CASE WHEN p.acc > 0 AND p.acc + o.tokens > $PackBudget
                        THEN o.tokens ELSE p.acc + o.tokens END
            FROM ordered o JOIN packed p ON o.shard = p.shard AND o.rn = p.rn + 1)
          SELECT shard, doc_id, tokens, pack_id FROM packed ORDER BY shard, doc_id""",
    "q75_contamination" ->
      s"""WITH toks AS (
            SELECT doc_id, string_split_regex(trim(text), ' +') AS t
            FROM documents
            WHERE CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), ' +')) END >= $ContamN),
          grams AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - ${ContamN - 1} + 1),
                                         i -> array_to_string(list_slice(t, i, i + ${ContamN - 1}), ' '))) AS gram
            FROM toks),
          hold AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 37 = 0),
          train AS (SELECT doc_id, gram FROM grams WHERE doc_id % 37 <> 0)
          SELECT train.doc_id, COUNT(DISTINCT train.gram) AS shared_grams
          FROM train JOIN hold USING (gram)
          GROUP BY train.doc_id ORDER BY train.doc_id""",
    "q76_sample_stratified" ->
      """SELECT doc_id, stratum FROM (
           SELECT doc_id,
                  CASE WHEN length(text) < 200 THEN 'short'
                       WHEN length(text) < 400 THEN 'medium' ELSE 'long' END AS stratum,
                  ((doc_id % 2147483648) * 2654435761) % 4294967296 % 1000 AS h,
                  CASE WHEN length(text) < 200 THEN 100
                       WHEN length(text) < 400 THEN 250 ELSE 500 END AS rate
           FROM documents) x
         WHERE h < rate ORDER BY doc_id""",
    "q78_sample_fixed_k" ->
      """SELECT doc_id, stratum, rk FROM (
           SELECT doc_id, stratum,
                  CAST(ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY h, doc_id) AS BIGINT) AS rk
           FROM (SELECT doc_id,
                        CASE WHEN length(text) < 200 THEN 'short'
                             WHEN length(text) < 400 THEN 'medium' ELSE 'long' END AS stratum,
                        ((doc_id % 2147483648) * 2654435761) % 4294967296 AS h
                 FROM documents) s) r
         WHERE rk <= 20 ORDER BY doc_id""",
    "q79_quality_gate" ->
      """WITH scored AS (
           SELECT doc_id,
                  CASE WHEN length(text) < 200 THEN 'short'
                       WHEN length(text) < 400 THEN 'medium' ELSE 'long' END AS stratum,
                  ROUND(CAST(least(n_words, 50) * alpha AS DOUBLE) * 10000 / (50 * greatest(n_chars, 1))) / 10000 AS quality_score
           FROM (SELECT doc_id, text,
                        CAST(length(text) AS BIGINT) AS n_chars,
                        CASE WHEN length(trim(text)) = 0 THEN 0 ELSE CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) END AS n_words,
                        CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha
                 FROM documents) f),
         ranked AS (
           SELECT doc_id, stratum, quality_score,
                  ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY quality_score, doc_id) AS rk,
                  COUNT(*) OVER (PARTITION BY stratum) AS n
           FROM scored)
         SELECT doc_id, stratum, quality_score FROM ranked
         WHERE rk > n // 2 ORDER BY doc_id""",
    "q77_text_repetition" ->
      """WITH g AS (
           SELECT doc_id,
                  list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                                 i -> array_to_string(list_slice(t, i, i + 1), ' ')) AS bi,
                  greatest(length(text) - 3, 1) AS c4total,
                  len(list_distinct(list_transform(range(1, greatest(length(text) - 3, 1) + 1),
                                                   i -> substring(text, i, 4)))) AS c4distinct
           FROM (SELECT doc_id, text, string_split_regex(trim(text), ' +') AS t FROM documents) x)
         SELECT doc_id,
                CAST(len(bi) AS BIGINT) AS n_bigrams,
                ROUND(CAST(len(bi) - len(list_distinct(bi)) AS DOUBLE) * 10000 / greatest(len(bi), 1)) / 10000 AS rep_bigram,
                ROUND(CAST(c4total - c4distinct AS DOUBLE) * 10000 / greatest(c4total, 1)) / 10000 AS rep_char4
         FROM g ORDER BY doc_id""",
  )
}
