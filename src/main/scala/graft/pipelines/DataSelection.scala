package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-selection operators — the published corpus-curation algorithms that
  * decide WHICH documents (and how much of each domain) enter a training
  * mix, complementing the dedup family ([[graft.dedup.DedupQueries]]) and
  * the heuristic filters ([[TrainingPrep]]):
  *
  *   - [[bm25Search]] — BM25 ranked retrieval (Robertson-Spärck Jones),
  *     the workhorse for targeted data discovery and contamination audits;
  *   - [[ngramPerplexity]] — bigram-LM cross-entropy scoring against an
  *     in-domain slice, the CCNet/KenLM quality-filter shape (Wenzek et
  *     al. 2020) with the LM degraded to an exactly-reproducible add-one
  *     bigram model;
  *   - [[dsirWeights]] — hashed-n-gram importance sampling (DSIR, Xie et
  *     al. 2023): per-document log importance weights between a target
  *     and the raw distribution over hashed bigram buckets;
  *   - [[domainMixture]] — deterministic mixture resampling: per-source
  *     keep rates derived from target mixture weights and a global token
  *     budget (the data-mixing step of any multi-corpus training run);
  *   - [[ngramRepetition]] — the Gopher repetition signals (Rae et al.
  *     2022 Table A1): top-bigram share and duplicated-trigram fraction.
  *
  * Determinism policy (shared with [[TrainingPrep]]): every score that
  * passes through `ln` is snapped to integer micro-nats per ROW
  * (`cast(round(ln(int-rational) * 1e6) as bigint)`) BEFORE any sum, so
  * aggregation is integer arithmetic — associative, partition-order-free,
  * and bit-identical to the DuckDB oracle. A raw double `sum(ln(...))`
  * would be none of those. Feature hashing reuses the engine-portable
  * md5-prefix trick of [[TrainingPrep.qualityClassifier]].
  *
  * Scale shapes (each documented per operator): the model/statistics side
  * of every operator is tiny (term set, 1024 buckets, 20 sources) or
  * vocabulary-sized, and broadcasts; the corpus side is narrow
  * projections plus partial-aggregated keyed group-bys — no all-pairs
  * work, no driver-side data paths, raw text never shuffles.
  */
object DataSelection {

  /** Raw space-token array — the parity twin of DuckDB `string_split`.
    * The synthetic corpus is single-space-joined words (TESTDATA.md), so
    * positional n-grams over the raw array match the oracle exactly. */
  private def toks(text: Column): Column = split(text, " ")

  /** Positional n-gram strings (space-joined) over a `toks` array column
    * already named `toks`; empty array below `n` tokens (guarded — Spark's
    * `sequence(1, 0)` would DESCEND, not return empty). */
  private def grams(n: Int): Column = {
    val parts = (0 until n).map(o => s"element_at(toks, i + $o)").mkString(", ")
    when(size(col("toks")) >= n,
      expr(s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', $parts))"))
      .otherwise(expr("array()").cast("array<string>"))
  }

  // ---------------------------------------------------------------- BM25

  private val Bm25Terms = Seq("spark", "join", "stream", "window")
  private def bm25TermsSqlList = Bm25Terms.map(t => s"'$t'").mkString(", ")

  /** BM25 top-20 retrieval for a fixed query-term set. Scoring is the
    * textbook formula (k1 = 1.2, b = 0.75, the +1 idf so scores stay
    * positive at df > N/2); each per-(doc, term) score is snapped to
    * micro-nats so the per-doc sum is integer-exact.
    *
    * Scale shape: one corpus pass — the token explode is narrow and the
    * `isin` filter drops every non-query token BEFORE the (doc, term)
    * group-by, so the shuffle carries only matching-term counts (|terms| ≤
    * a handful of rows per doc). The df/N/L statistics are term-set-sized
    * and scalar aggregates, broadcast back; the final top-20 is
    * TakeOrderedAndProject, never a global sort. */
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("bigint").as("dl"))
    val corpus = docs.agg(
      count(lit(1)).cast("bigint").as("n_docs"),
      sum(col("dl")).cast("bigint").as("total_len"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("bigint").as("tf"))
    // Two parity rules learned the hard way: (1) idf is quantized to
    // micro-nats BEFORE the tf factor — `ln` is the one op whose last ulp
    // differs between engines, and multiplying it by the tf ratio first
    // would smear that ulp across every row's rounding boundary; (2) every
    // fractional literal is written in exponent notation (`2.2e0`) in BOTH
    // engines' SQL — plain `2.2` parses as DECIMAL in each, and Spark then
    // runs the whole factor in decimal arithmetic (different rounding)
    // while DuckDB's `/` degrades to double at a different point. With
    // double literals the factor is identical IEEE arithmetic on identical
    // bits in both engines, so the final rounding decision agrees.
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).cast("bigint").as("df"))
    tf.join(broadcast(df), "tok")
      .crossJoin(broadcast(corpus))
      .withColumn("idf_micro",
        expr("cast(round(ln(1 + (n_docs - df + 0.5e0) / (df + 0.5e0)) * 1000000) as bigint)"))
      .withColumn("term_micro",
        expr("""cast(round(idf_micro
               |  * ((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl * n_docs / total_len)))) as bigint)""".stripMargin))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_terms"),
        sum(col("term_micro")).as("score_micro"))
      .withColumn("score", round(col("score_micro") / 1000000.0, 6))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(20)
      .select(col("doc_id"), col("n_terms"), col("score"))
  }

  // ------------------------------------------------- hybrid retrieval (RRF)

  private val RrfK = 60L
  private val RrfDepth = 50
  private val RrfTop = 20
  /** The dense query: document 0's own embedding (deterministic, always
    * present). Fused ranks therefore exclude id 0 from both lists. */
  private val RrfQueryId = 0L

  /** Hybrid lexical+dense retrieval fused by Reciprocal Rank Fusion
    * (Cormack et al. 2009): the standard way modern retrieval stacks
    * combine a BM25 ranking with an embedding-similarity ranking without
    * score calibration. Each list contributes `1 / (60 + rank)` per
    * document — here as the EXACT integer `10⁹ div (60 + rank)` so the
    * fused sum is associative and engine-identical (the float reciprocal
    * would differ in the last ulp between engines at some rank).
    *
    * Lexical list: the [[bm25Search]] scoring (same micro-nat pipeline)
    * ranked to depth 50; dense list: cosine against document 0's
    * embedding (`doc_id` ≡ `vec_id` in the corpus), depth 50. Fusion is a
    * full outer join of two ≤50-row lists — trivially broadcast — and the
    * final top-20 orders by (fused score desc, doc_id). Ranks are emitted
    * 0-coalesced for absent-in-list.
    *
    * Scale shape: each side is its own scale-safe ranking (BM25: one
    * narrow corpus pass, `isin`-filtered before the group-by, top-depth
    * via TakeOrderedAndProject; dense: one broadcast-query corpus pass,
    * same top-depth) — fusion touches only 2·depth rows regardless of
    * corpus size. */
  def hybridSearchRrf(spark: SparkSession, dir: String): DataFrame = {
    val (lex, dense) = rrfRankings(spark, dir)
    // fuse by union + one hash agg, NOT a full-outer join (full outer can't
    // broadcast-hash, so Spark would sort-merge two 50-row sides): each list
    // contributes its integer reciprocal, absent-in-list ranks surface as
    // the max over the 0 sentinel
    lex.select(col("doc_id"), col("lex_rank"), lit(0L).as("dense_rank"),
        expr(s"1000000000L div (${RrfK} + lex_rank)").as("rrf_nano"))
      .unionByName(
        dense.select(col("doc_id"), lit(0L).as("lex_rank"), col("dense_rank"),
          expr(s"1000000000L div (${RrfK} + dense_rank)").as("rrf_nano")))
      .groupBy(col("doc_id"))
      .agg(max(col("lex_rank")).as("lex_rank"),
        max(col("dense_rank")).as("dense_rank"),
        sum(col("rrf_nano")).as("rrf_nano"))
      .orderBy(col("rrf_nano").desc, col("doc_id").asc)
      .limit(RrfTop)
  }

  /** The two top-[[RrfDepth]] rankings [[hybridSearchRrf]] fuses and
    * [[searchRbo]] compares — factored so the two operators cannot drift:
    * (doc_id, lex_rank) from BM25 and (doc_id, dense_rank) from cosine. */
  private[graft] def rrfRankings(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // lexical: BM25 score_micro per doc (the bm25Search pipeline minus its
    // final top-20), ranked to RrfDepth
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("bigint").as("dl"))
    val corpus = docs.agg(
      count(lit(1)).cast("bigint").as("n_docs"),
      sum(col("dl")).cast("bigint").as("total_len"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("bigint").as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).cast("bigint").as("df"))
    val lexScores = tf.join(broadcast(df), "tok")
      .crossJoin(broadcast(corpus))
      .withColumn("idf_micro",
        expr("cast(round(ln(1 + (n_docs - df + 0.5e0) / (df + 0.5e0)) * 1000000) as bigint)"))
      .withColumn("term_micro",
        expr("""cast(round(idf_micro
               |  * ((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl * n_docs / total_len)))) as bigint)""".stripMargin))
      .filter(col("doc_id") =!= RrfQueryId)
      .groupBy(col("doc_id"))
      .agg(sum(col("term_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(RrfDepth)
    val lex = lexScores
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id").asc)).cast("bigint"))
      .select(col("doc_id"), col("lex_rank"))
    // dense: cosine against doc 0's embedding, ranked to RrfDepth
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = emb.filter(col("vec_id") === RrfQueryId)
      .select(col("e").as("qe"))
    val dense = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= RrfQueryId)
      .withColumn("cosine", expr("cosine_sim(qe, e)"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(RrfDepth)
      .withColumn("dense_rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id").asc)).cast("bigint"))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))
    (lex, dense)
  }

  def hybridSearchRrfSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |dd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dd),
       |tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |       FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dd) e
       |       WHERE tok IN ($bm25TermsSqlList)
       |       GROUP BY 1, 2, 3),
       |idf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |t AS (SELECT doc_id,
       |        CAST(round(CAST(round(ln(1 + (n_docs - df + 0.5e0) / (df + 0.5e0)) * 1000000) AS BIGINT)
       |          * ((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl * n_docs / total_len)))) AS BIGINT) AS term_micro
       |      FROM tf JOIN idf USING (tok), c),
       |lex AS (SELECT doc_id, row_number() OVER (
       |          ORDER BY sum(term_micro) DESC, doc_id ASC) AS lex_rank
       |        FROM t WHERE doc_id <> $RrfQueryId GROUP BY doc_id
       |        ORDER BY sum(term_micro) DESC, doc_id ASC LIMIT $RrfDepth),
       |n AS (SELECT vec_id, embedding::DOUBLE[] AS e,
       |        list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, x) -> a + x) AS nrm
       |      FROM embeddings),
       |q AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = $RrfQueryId),
       |dense AS (SELECT vec_id AS doc_id, row_number() OVER (
       |            ORDER BY list_reduce(list_transform(range(1, len(qe) + 1), i -> qe[i] * b.e[i]), (a, x) -> a + x)
       |              / (sqrt(qn) * sqrt(b.nrm)) DESC, vec_id ASC) AS dense_rank
       |          FROM q, n b WHERE b.vec_id <> $RrfQueryId
       |          ORDER BY dense_rank LIMIT $RrfDepth)
       |SELECT doc_id,
       |  CAST(coalesce(lex_rank, 0) AS BIGINT) AS lex_rank,
       |  CAST(coalesce(dense_rank, 0) AS BIGINT) AS dense_rank,
       |  CAST(CASE WHEN lex_rank IS NULL THEN 0 ELSE 1000000000 // ($RrfK + lex_rank) END
       |     + CASE WHEN dense_rank IS NULL THEN 0 ELSE 1000000000 // ($RrfK + dense_rank) END AS BIGINT) AS rrf_nano
       |FROM lex FULL OUTER JOIN dense USING (doc_id)
       |ORDER BY rrf_nano DESC, doc_id ASC
       |LIMIT $RrfTop""".stripMargin

  def bm25SearchSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |dd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dd),
       |tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |       FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dd) e
       |       WHERE tok IN ($bm25TermsSqlList)
       |       GROUP BY 1, 2, 3),
       |idf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |t AS (SELECT doc_id,
       |        CAST(round(CAST(round(ln(1 + (n_docs - df + 0.5e0) / (df + 0.5e0)) * 1000000) AS BIGINT)
       |          * ((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl * n_docs / total_len)))) AS BIGINT) AS term_micro
       |      FROM tf JOIN idf USING (tok), c)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |  round(CAST(sum(term_micro) AS BIGINT) / 1000000.0e0, 6) AS score
       |FROM t GROUP BY doc_id
       |ORDER BY CAST(sum(term_micro) AS BIGINT) DESC, doc_id ASC
       |LIMIT 20""".stripMargin

  // ------------------------------- rank-biased overlap (list agreement)

  private val RboP = 0.9
  /** Per-depth RBO weights `(1−p)·p^(d−1)/d` in nano units, computed ONCE
    * here and inlined as integer literals into BOTH engines' plans — the
    * only powers in the operator, so no engine's `pow` ulp can diverge. */
  private val RboW: Seq[Long] = (1 to RrfDepth)
    .map(d => math.round((1 - RboP) * math.pow(RboP, d - 1) / d * 1e9))

  /** Rank-biased overlap (Webber, Moffat & Zobel 2010) between the lexical
    * (BM25) and dense (cosine) top-[[RrfDepth]] rankings that
    * [[hybridSearchRrf]] fuses — the eval-family number for whether the two
    * retrieval channels even agree (RBO ≈ 1: the dense index is re-finding
    * the lexical answer, fusion adds little; RBO ≈ 0: disjoint evidence,
    * fusion is load-bearing). Truncated RBO@depth:
    * `(1−p)·Σ_{d≤D} p^(d−1)·|A_{1..d} ∩ B_{1..d}|/d`, p = 0.9.
    *
    * Exactness: a doc in both lists enters the intersection at depth
    * `max(lex_rank, dense_rank)`, so X_d is a ≤D-row cumulative count; the
    * per-depth weights are precomputed integer nanos ([[RboW]]) and the
    * whole statistic is one Σ X_d·W_d of int64s.
    *
    * Scale shape: inherits the two rankings' plans (each a scale-safe
    * top-D); the RBO itself touches ≤D matched rows × D depths — constant
    * work regardless of corpus size. */
  def searchRbo(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (lex, dense) = rrfRankings(spark, dir)
    val matched = lex.join(dense.hint("shuffle_hash"), "doc_id")
      .select(greatest(col("lex_rank"), col("dense_rank")).as("m"))
    val weights = RboW.mkString("array(", "L, ", "L)")
    matched
      .select(explode(expr(s"sequence(m, ${RrfDepth}L)")).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("x_d"))
      .agg(
        sum(expr(s"x_d * element_at($weights, cast(d as int))")).as("rbo_nano"),
        max(when(col("d") === RrfDepth, col("x_d"))).as("n_matched"))
      .select(lit(RrfDepth.toLong).as("depth"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        coalesce(col("rbo_nano"), lit(0L)).as("rbo_nano"))
  }

  def searchRboSql: String = {
    val weightRows = RboW.zipWithIndex
      .map { case (w, i) => s"(${i + 1}, ${w})" }.mkString(", ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |dd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dd),
       |tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |       FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dd) e
       |       WHERE tok IN ($bm25TermsSqlList)
       |       GROUP BY 1, 2, 3),
       |idf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |t AS (SELECT doc_id,
       |        CAST(round(CAST(round(ln(1 + (n_docs - df + 0.5e0) / (df + 0.5e0)) * 1000000) AS BIGINT)
       |          * ((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl * n_docs / total_len)))) AS BIGINT) AS term_micro
       |      FROM tf JOIN idf USING (tok), c),
       |lex AS (SELECT doc_id, row_number() OVER (
       |          ORDER BY sum(term_micro) DESC, doc_id ASC) AS lex_rank
       |        FROM t WHERE doc_id <> $RrfQueryId GROUP BY doc_id
       |        ORDER BY sum(term_micro) DESC, doc_id ASC LIMIT $RrfDepth),
       |n AS (SELECT vec_id, embedding::DOUBLE[] AS e,
       |        list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, x) -> a + x) AS nrm
       |      FROM embeddings),
       |q AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = $RrfQueryId),
       |dense AS (SELECT vec_id AS doc_id, row_number() OVER (
       |            ORDER BY list_reduce(list_transform(range(1, len(qe) + 1), i -> qe[i] * b.e[i]), (a, x) -> a + x)
       |              / (sqrt(qn) * sqrt(b.nrm)) DESC, vec_id ASC) AS dense_rank
       |          FROM q, n b WHERE b.vec_id <> $RrfQueryId
       |          ORDER BY dense_rank LIMIT $RrfDepth),
       |w(d, w_nano) AS (VALUES $weightRows),
       |m AS (SELECT greatest(lex_rank, dense_rank) AS m
       |      FROM lex JOIN dense USING (doc_id)),
       |x AS (SELECT u.d AS d, CAST(count(*) AS BIGINT) AS x_d
       |      FROM m, UNNEST(range(m.m, ${RrfDepth + 1})) AS u(d)
       |      GROUP BY u.d)
       |SELECT CAST($RrfDepth AS BIGINT) AS depth,
       |  CAST(coalesce(max(CASE WHEN d = $RrfDepth THEN x_d END), 0) AS BIGINT) AS n_matched,
       |  CAST(coalesce(sum(x_d * w_nano), 0) AS BIGINT) AS rbo_nano
       |FROM x JOIN w USING (d)""".stripMargin
  }

  // ------------------------------- pseudo-relevance feedback (RM3-lite)

  private val PrfSeedDocs = 10
  private val PrfExpansionTerms = 5
  /** Query terms weigh 2, expansion terms 1 — the λ=⅔ RM3 interpolation
    * as exact integers. */
  private val PrfQueryWeight = 2L

  /** Pseudo-relevance-feedback retrieval (RM3 shape): run BM25 for the
    * query, mine the top-[[PrfSeedDocs]] results for the
    * [[PrfExpansionTerms]] most frequent non-query terms, and re-score
    * the corpus with the expanded weighted term set — the classic
    * recall-boosting second pass every serious lexical stack layers on
    * BM25 (complements [[hybridSearchRrf]]'s fusion and
    * [[graft.similarity.SimilarityQueries.mmrRerank]]'s diversification).
    *
    * Everything is one lazy plan — the seed list and the mined term set
    * are limit-k DataFrames broadcast back, never driver collections;
    * scoring reuses the [[bm25Search]] micro-nat discipline with the
    * interpolation weight applied AFTER the per-term rounding (integer ×
    * integer — exact).
    *
    * Scale shape: two corpus passes (seed scoring and re-scoring), each
    * filtered to the tiny term set BEFORE its group-by — the second
    * pass's filter is a broadcast semi-join because the expanded set is
    * data-derived; term mining touches only the ≤10 seed documents. */
  def prfSearch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("bigint").as("dl"))
    val corpus = docs.agg(
      count(lit(1)).cast("bigint").as("n_docs"),
      sum(col("dl")).cast("bigint").as("total_len"))
    // `withTerms` must yield a (doc_id, dl, tok, w) frame; w rides the
    // group-by (constant per token) and multiplies AFTER the per-term
    // rounding — integer × integer, exact
    def bm25Scores(withTerms: DataFrame => DataFrame): DataFrame = {
      val tf = withTerms(
        docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok")))
        .groupBy(col("doc_id"), col("dl"), col("tok"), col("w"))
        .agg(count(lit(1)).cast("bigint").as("tf"))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).cast("bigint").as("df"))
      tf.join(broadcast(df), "tok")
        .crossJoin(broadcast(corpus))
        .withColumn("idf_micro",
          expr("cast(round(ln(1 + (n_docs - df + 0.5e0) / (df + 0.5e0)) * 1000000) as bigint)"))
        .withColumn("term_micro",
          expr("""cast(round(idf_micro
                 |  * ((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl * n_docs / total_len)))) as bigint)""".stripMargin))
        .withColumn("wterm", expr("term_micro * w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("bigint").as("n_terms"),
          sum(col("wterm")).as("score_micro"))
    }
    // stage 1: seed top-10 on the original query terms
    val seed = bm25Scores(t =>
      t.filter(col("tok").isin(Bm25Terms: _*)).withColumn("w", lit(1L)))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(PrfSeedDocs)
      .select(col("doc_id"))
    // stage 2: expansion = top-5 non-query terms by frequency in the seeds
    val expansion = docs.join(broadcast(seed), "doc_id")
      .select(explode(col("toks")).as("tok"))
      .filter(!col("tok").isin(Bm25Terms: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc)
      .limit(PrfExpansionTerms)
      .select(col("tok"), lit(1L).as("w"))
    val terms = expansion.unionByName(
      spark.createDataFrame(Bm25Terms.map(t => (t, PrfQueryWeight)))
        .toDF("tok", "w"))
    // stage 3: re-score with the weighted expanded set
    bm25Scores(t => t.join(broadcast(terms), "tok"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(20)
      .withColumn("score", round(col("score_micro") / 1000000.0, 6))
      .select(col("doc_id"), col("n_terms"), col("score_micro"), col("score"))
  }

  def prfSearchSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |dd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dd),
       |ex AS (SELECT doc_id, dl, unnest(toks) AS tok FROM dd),
       |tf1 AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
       |        FROM ex WHERE tok IN ($bm25TermsSqlList) GROUP BY 1, 2, 3),
       |idf1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf1 GROUP BY 1),
       |s1 AS (SELECT doc_id,
       |         CAST(sum(CAST(round(CAST(round(ln(1 + (n_docs - df + 0.5e0) / (df + 0.5e0)) * 1000000) AS BIGINT)
       |           * ((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl * n_docs / total_len)))) AS BIGINT)) AS BIGINT) AS score_micro
       |       FROM tf1 JOIN idf1 USING (tok), c GROUP BY doc_id),
       |seed AS (SELECT doc_id FROM s1 ORDER BY score_micro DESC, doc_id ASC LIMIT $PrfSeedDocs),
       |exp AS (SELECT tok, CAST(1 AS BIGINT) AS w
       |        FROM (SELECT tok, count(*) AS cnt
       |              FROM ex JOIN seed USING (doc_id)
       |              WHERE tok NOT IN ($bm25TermsSqlList)
       |              GROUP BY tok ORDER BY cnt DESC, tok ASC LIMIT $PrfExpansionTerms)),
       |terms AS (SELECT tok, w FROM exp
       |          UNION ALL
       |          SELECT unnest([$bm25TermsSqlList]) AS tok, CAST($PrfQueryWeight AS BIGINT) AS w),
       |tf2 AS (SELECT doc_id, dl, ex.tok, w, CAST(count(*) AS BIGINT) AS tf
       |        FROM ex JOIN terms ON terms.tok = ex.tok GROUP BY 1, 2, 3, 4),
       |idf2 AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY 1)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |  CAST(sum(CAST(round(CAST(round(ln(1 + (n_docs - df + 0.5e0) / (df + 0.5e0)) * 1000000) AS BIGINT)
       |    * ((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl * n_docs / total_len)))) AS BIGINT) * w) AS BIGINT) AS score_micro,
       |  round(CAST(sum(CAST(round(CAST(round(ln(1 + (n_docs - df + 0.5e0) / (df + 0.5e0)) * 1000000) AS BIGINT)
       |    * ((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl * n_docs / total_len)))) AS BIGINT) * w) AS BIGINT) / 1000000.0e0, 6) AS score
       |FROM tf2 JOIN idf2 USING (tok), c
       |GROUP BY doc_id
       |ORDER BY score_micro DESC, doc_id ASC
       |LIMIT 20""".stripMargin

  // ------------------------------------------- distribution drift (PSI)

  private val PsiRefSource = "src1"
  private val PsiBins = 10

  /** Population Stability Index between the in-domain reference slice
    * (`source = src1`, the same slice [[ngramPerplexity]] trains on) and
    * the rest of the corpus, over the document-length distribution — the
    * standard drift monitor every production data pipeline runs before
    * a mix goes to training (PSI > 0.2 ⇒ the incoming distribution has
    * shifted and selection thresholds need re-derivation).
    *
    * Exactness: bin edges are the reference slice's decile VALUES at the
    * integer ranks `ceil(i·N/10)` (a value is determined by the sorted
    * multiset, so the doc_id tiebreak cannot change it); both slices bin
    * by `count(edges ≤ score)`; each bin's `(p̂−q̂)·ln(p̂/q̂)` uses +1/+10
    * Laplace smoothing so empty bins stay defined, with ln taken on an
    * int64-ratio double (identical bits both engines) and snapped to
    * micro-nats before the exact integer product — sign(p̂−q̂) =
    * sign(ln), so the contribution is non-negative and floor-vs-trunc
    * division never diverges.
    *
    * Scale shape: the EDGES come from the (small, in-domain) reference
    * slice — its rank window is the only sort, bounded by the reference
    * set, never the corpus; the corpus side is one narrow pass binned
    * against the broadcast 9-element edge array + a 10-bin partial agg.
    * Counts-to-PSI is 10-row arithmetic with broadcast 1-row totals. */
  def corpusDriftPsi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val ref = docs.filter(col("source") === PsiRefSource)
    val cur = docs.filter(col("source") =!= PsiRefSource)
    val nRef = ref.agg(count(lit(1)).as("n_ref"))
    val nCur = cur.agg(count(lit(1)).as("n_cur"))
    val ranked = ref.select(col("n_chars"),
      row_number().over(Window.orderBy(col("n_chars"), col("doc_id"))).as("rn"))
    // 9 decile ranks (duplicates preserved: a repeated edge value must
    // advance the bin index more than once)
    val edgeRanks = nRef
      .select(explode(sequence(lit(1), lit(PsiBins - 1))).as("i"), col("n_ref"))
      .select(expr("(i * n_ref + 9) div 10").as("rn"))
    val edges = ranked.join(broadcast(edgeRanks), "rn")
      .agg(sort_array(collect_list(col("n_chars"))).as("edges"))
    def binned(slice: DataFrame): DataFrame = slice
      .crossJoin(broadcast(edges))
      .select(expr("cast(size(filter(edges, e -> n_chars >= e)) as bigint)").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("c"))
    val refCounts = binned(ref).select(col("bin"), col("c").as("c_ref"))
    val curCounts = binned(cur).select(col("bin"), col("c").as("c_cur"))
    nRef.select(explode(sequence(lit(0), lit(PsiBins - 1))).as("b"))
      .select(col("b").cast("bigint").as("bin"))
      .join(broadcast(refCounts), Seq("bin"), "left")
      .join(broadcast(curCounts), Seq("bin"), "left")
      .crossJoin(broadcast(nRef))
      .crossJoin(broadcast(nCur))
      .select(col("bin"),
        coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"),
        col("n_ref"), col("n_cur"))
      .withColumn("ln_micro",
        expr(s"""cast(round(ln(((c_ref + 1) * (n_cur + $PsiBins)) /
               |  ((c_cur + 1) * (n_ref + $PsiBins))) * 1000000) as bigint)""".stripMargin))
      .withColumn("psi_contrib_micro",
        expr(s"""((c_ref + 1) * (n_cur + $PsiBins) - (c_cur + 1) * (n_ref + $PsiBins))
               |  * ln_micro div ((n_ref + $PsiBins) * (n_cur + $PsiBins))""".stripMargin))
      .select(col("bin"), col("c_ref"), col("c_cur"), col("ln_micro"),
        col("psi_contrib_micro"),
        round(col("psi_contrib_micro") / 1000000.0, 6).as("psi_contrib"))
  }

  def corpusDriftPsiSql: String =
    s"""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
       |ref AS (SELECT doc_id, n_chars FROM d WHERE source = '$PsiRefSource'),
       |cur AS (SELECT doc_id, n_chars FROM d WHERE source <> '$PsiRefSource'),
       |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_ref FROM ref),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cur FROM cur),
       |ranked AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS rn FROM ref),
       |er AS (SELECT (i * n_ref + 9) // 10 AS rn FROM range(1, $PsiBins) t(i), nr),
       |edges AS (SELECT list_sort(list(ranked.n_chars)) AS es FROM er JOIN ranked USING (rn)),
       |rc AS (SELECT len(list_filter(es, e -> r.n_chars >= e)) AS bin, count(*) AS c
       |       FROM ref r, edges GROUP BY 1),
       |cc AS (SELECT len(list_filter(es, e -> c.n_chars >= e)) AS bin, count(*) AS c
       |       FROM cur c, edges GROUP BY 1),
       |spine AS (SELECT CAST(i AS BIGINT) AS bin FROM range(0, $PsiBins) t(i)),
       |j AS (SELECT bin,
       |        CAST(coalesce(rc.c, 0) AS BIGINT) AS c_ref,
       |        CAST(coalesce(cc.c, 0) AS BIGINT) AS c_cur, n_ref, n_cur
       |      FROM spine LEFT JOIN rc USING (bin) LEFT JOIN cc USING (bin), nr, nc)
       |SELECT bin, c_ref, c_cur,
       |  CAST(round(ln((((c_ref + 1) * (n_cur + $PsiBins))::DOUBLE) /
       |    ((c_cur + 1) * (n_ref + $PsiBins))) * 1000000) AS BIGINT) AS ln_micro,
       |  CAST(((c_ref + 1) * (n_cur + $PsiBins) - (c_cur + 1) * (n_ref + $PsiBins))
       |    * CAST(round(ln((((c_ref + 1) * (n_cur + $PsiBins))::DOUBLE) /
       |        ((c_cur + 1) * (n_ref + $PsiBins))) * 1000000) AS BIGINT)
       |    // ((n_ref + $PsiBins) * (n_cur + $PsiBins)) AS BIGINT) AS psi_contrib_micro,
       |  round(CAST(((c_ref + 1) * (n_cur + $PsiBins) - (c_cur + 1) * (n_ref + $PsiBins))
       |    * CAST(round(ln((((c_ref + 1) * (n_cur + $PsiBins))::DOUBLE) /
       |        ((c_cur + 1) * (n_ref + $PsiBins))) * 1000000) AS BIGINT)
       |    // ((n_ref + $PsiBins) * (n_cur + $PsiBins)) AS BIGINT) / 1000000.0e0, 6) AS psi_contrib
       |FROM j""".stripMargin

  // ------------------------------------------------- n-gram LM perplexity

  private val LmSource = "src1"
  /** Keep bar on avg nats/bigram — the corpus median at sf0.01, so the
    * flag splits non-trivially (the CCNet "head/tail" cut). */
  private val PerplexityKeepBar = 3.53

  /** Bigram-LM cross-entropy filter (the CCNet/KenLM shape): train an
    * add-one bigram model on the in-domain slice (`source = src1`), score
    * every document by average negative log-likelihood per bigram, flag
    * the below-median half as keepers. `P(w2|w1) = (c12 + 1)/(c1 + V)`
    * with `c1 = Σ_w c(w1, w)` (bigram-prefix count) and V the slice's
    * unigram vocabulary — every input to `ln` is an integer ratio, so
    * per-bigram costs are engine-exact micro-nats.
    *
    * Scale shape: the model is vocabulary²-bounded and built by one
    * partial-aggregated group-by over the in-domain slice only; scoring
    * joins corpus bigrams to it by key (broadcast when it fits — any
    * real-token vocabulary's bigram table that survives `c12 ≥ 1`
    * pruning is ≪ corpus — else a linear keyed shuffle). The corpus side
    * is a narrow explode + one per-doc group-by. */
  def ngramPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), col("source"), toks(col("text")).as("toks"))
    val bi = base
      .select(col("doc_id"), col("source"), explode(grams(2)).as("g"))
      .select(col("doc_id"), col("source"),
        substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"))
    // LM model tables are bigram/unigram-vocabulary-sized — data-derived,
    // so the "broadcast when it fits" contract in the scaladoc gates on
    // the persisted bigram table's exact count (unigrams are ≤ bigrams,
    // and derive from the SAME persisted frame so the count is free).
    // Memoized per (session, dir): the gate count would otherwise
    // materialize the whole model build as an eager job PER INVOCATION —
    // the round-10 8× regression. The memo is the session analog of the
    // stored LM every CCNet-style pipeline keeps next to the corpus.
    val (modelBi, nModelBi) = graft.Memo.countedArtifact(spark, s"lm-bigram/$dir") {
      bi.filter(col("source") === LmSource)
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).cast("bigint").as("c12"))
    }
    val modelUni = modelBi.groupBy(col("w1"))
      .agg(sum(col("c12")).cast("bigint").as("c1"))
    val vocab = base.filter(col("source") === LmSource)
      .select(explode(col("toks")).as("w"))
      .agg(countDistinct(col("w")).cast("bigint").as("v"))
    val scored = bi
      .join(graft.Plans.broadcastIfSmall(modelBi, nModelBi), Seq("w1", "w2"), "left_outer")
      .join(graft.Plans.broadcastIfSmall(modelUni, nModelBi), Seq("w1"), "left_outer")
      .crossJoin(broadcast(vocab))
      .withColumn("nll_micro",
        expr("cast(round(ln((coalesce(c1, 0) + v) / (coalesce(c12, 0) + 1)) * 1000000) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_bigrams"),
        sum(col("nll_micro")).as("nll"))
    scored
      .withColumn("avg_nll", round(col("nll") / (col("n_bigrams") * 1000000.0), 6))
      .select(col("doc_id"), col("n_bigrams"), col("avg_nll"),
        (col("avg_nll") < PerplexityKeepBar).as("keep"))
  }

  def ngramPerplexitySql: String =
    s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       |tb AS (SELECT doc_id, source, toks[i] AS w1, toks[i+1] AS w2
       |       FROM tok, UNNEST(range(1, len(toks))) AS r(i)),
       |mb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM tb
       |       WHERE source = '$LmSource' GROUP BY 1, 2),
       |mu AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM mb GROUP BY 1),
       |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
       |      FROM (SELECT unnest(toks) AS w FROM tok WHERE source = '$LmSource') u),
       |sc AS (SELECT doc_id,
       |         CAST(round(ln((COALESCE(c1, 0) + v) / (COALESCE(c12, 0) + 1)) * 1000000) AS BIGINT) AS nll_micro
       |       FROM tb LEFT JOIN mb USING (w1, w2) LEFT JOIN mu USING (w1), v)
       |SELECT doc_id, n_bigrams,
       |  round(nll / (n_bigrams * 1000000.0e0), 6) AS avg_nll,
       |  round(nll / (n_bigrams * 1000000.0e0), 6) < ${PerplexityKeepBar}e0 AS keep
       |FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |        CAST(sum(nll_micro) AS BIGINT) AS nll
       |      FROM sc GROUP BY doc_id) g""".stripMargin

  // ------------------------------------------------------- DSIR weights

  private val DsirTarget = "src2"
  private val DsirBuckets = 1024

  /** DSIR importance weights (Xie et al. 2023): hash every bigram into
    * [[DsirBuckets]] buckets (engine-portable md5-prefix hash), estimate
    * add-one-smoothed bucket distributions for the target slice
    * (`source = src2`) and the raw corpus, and score each document by
    * `Σ_buckets cnt · ln(P_target(b) / P_raw(b))` in integer micro-nats.
    * Positive weight ⇒ the document looks more target-like than raw.
    *
    * Scale shape: both distributions are FIXED-SIZE (1024 rows) no matter
    * the corpus — that is DSIR's entire point — so the weight table
    * broadcasts; the corpus side is a narrow hash + one partial-aggregated
    * (doc, bucket) group-by (≤ 1024 rows per doc into the shuffle), then a
    * per-doc sum. All-integer output columns. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val tb = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), col("source"), toks(col("text")).as("toks"))
      .select(col("doc_id"), col("source"), explode(grams(2)).as("g"))
      .select(col("doc_id"), col("source"),
        expr(s"cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint) & ${DsirBuckets - 1}")
          .as("bucket"))
    val raw = tb.groupBy(col("bucket")).agg(count(lit(1)).cast("bigint").as("cr"))
    val tgt = tb.filter(col("source") === DsirTarget)
      .groupBy(col("bucket")).agg(count(lit(1)).cast("bigint").as("ct"))
    val tot = tb.agg(
      count(lit(1)).cast("bigint").as("nr"),
      count(when(col("source") === DsirTarget, 1)).cast("bigint").as("nt"))
    // ratio-of-ratios form: the naive (ct+1)(nr+B) bigint product would
    // overflow int64 at real corpus bigram counts; each `/` is double
    // division in both engines, written identically for bit parity
    val weights = raw.join(tgt, Seq("bucket"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        expr(s"""cast(round(ln(((coalesce(ct, 0) + 1) / (cr + 1))
                |  * ((nr + $DsirBuckets) / (nt + $DsirBuckets))) * 1000000) as bigint)""".stripMargin)
          .as("lw_micro"))
    tb.groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).cast("bigint").as("cnt"))
      .join(broadcast(weights), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("bigint").as("n_bigrams"),
        sum(col("cnt") * col("lw_micro")).cast("bigint").as("w_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("w_micro"),
        (col("w_micro") > 0L).as("keep"))
  }

  def dsirWeightsSql: String =
    s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       |tb AS (SELECT doc_id, source,
       |         ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 15))::BIGINT & ${DsirBuckets - 1} AS bucket
       |       FROM tok, UNNEST(range(1, len(toks))) AS r(i)),
       |raw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM tb GROUP BY 1),
       |tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ct FROM tb
       |        WHERE source = '$DsirTarget' GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS nr,
       |               CAST(count(*) FILTER (WHERE source = '$DsirTarget') AS BIGINT) AS nt FROM tb),
       |w AS (SELECT bucket,
       |        CAST(round(ln(((COALESCE(ct, 0) + 1) / (cr + 1))
       |          * ((nr + $DsirBuckets) / (nt + $DsirBuckets))) * 1000000) AS BIGINT) AS lw_micro
       |      FROM raw LEFT JOIN tgt USING (bucket), tot),
       |pd AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt FROM tb GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       |  CAST(sum(cnt * lw_micro) AS BIGINT) AS w_micro,
       |  CAST(sum(cnt * lw_micro) AS BIGINT) > 0 AS keep
       |FROM pd JOIN w USING (bucket)
       |GROUP BY doc_id""".stripMargin

  // ----------------------------------------------------- domain mixture

  /** Mixture weight points per source (src0 boosted 4×, src1/src2 3×, the
    * rest baseline) and the global character budget the mixture targets. */
  private val MixturePtsSql =
    "CASE source WHEN 'src0' THEN 8 WHEN 'src1' THEN 6 WHEN 'src2' THEN 6 ELSE 2 END"
  private val MixtureTotalPts = 8 + 6 + 6 + 17 * 2 // the 20 synthetic sources
  private val MixtureCharBudget = 40000L

  /** Mixing hash for keep-decisions: doc_id is first folded mod the prime
    * 999999937 (so the later product stays < 2^63 for any conceivable id),
    * then Knuth-multiplied and reduced mod the Mersenne prime 2^31-1
    * before the basis-point cut. [[TrainingPrep]]'s split hash multiplies
    * by 1000003, which is ≡ 3 (mod 10^4) — fine for its mod-100 buckets
    * at corpus ids, but over basis points small ids would land in bucket
    * 3·doc_id and the cut would be wildly non-uniform. */
  private val MixBucketSql =
    "(((doc_id % 999999937) * 2654435761) % 2147483647) % 10000"

  /** Deterministic mixture resampling — the data-mixing step: given target
    * weight points per source and a global character budget, derive each
    * source's keep rate in basis points (integer arithmetic end to end:
    * `div` / `//`, never a float rate) and keep exactly the documents
    * whose mixing-hash bucket falls below it. Reported per source:
    * incoming volume, the derived rate, and the kept volume.
    *
    * Scale shape: the per-source statistics are a 20-row partial-agg
    * (reads (source, n_chars) only — column-pruned, text never touched);
    * rates broadcast back; the keep pass is a narrow filter plus the same
    * tiny agg. No RNG, no persisted assignment — re-runnable and
    * repartition-stable like [[TrainingPrep.trainSplit]]. */
  def domainMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val rates = docs.groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("total_chars"))
      .withColumn("rate_bp",
        least(lit(10000L),
          expr(s"(10000 * (($MixtureCharBudget * ($MixturePtsSql)) div $MixtureTotalPts)) div total_chars")))
    val kept = docs
      .join(broadcast(rates.select(col("source"), col("rate_bp"))), "source")
      .filter(expr(MixBucketSql) < col("rate_bp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_kept"),
        sum(col("n_chars")).cast("bigint").as("kept_chars"))
    rates.join(kept, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"), col("total_chars"), col("rate_bp"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_chars"), lit(0L)).as("kept_chars"))
  }

  def domainMixtureSql: String =
    s"""WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |             CAST(sum(n_chars) AS BIGINT) AS total_chars
       |           FROM documents GROUP BY 1),
       |r AS (SELECT source, n_docs, total_chars,
       |        LEAST(10000, (10000 * (($MixtureCharBudget * ($MixturePtsSql)) // $MixtureTotalPts)) // total_chars) AS rate_bp
       |      FROM s),
       |k AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       |        CAST(sum(n_chars) AS BIGINT) AS kept_chars
       |      FROM documents JOIN r USING (source)
       |      WHERE $MixBucketSql < rate_bp GROUP BY 1)
       |SELECT source, n_docs, total_chars, CAST(rate_bp AS BIGINT) AS rate_bp,
       |  COALESCE(n_kept, 0) AS n_kept, COALESCE(kept_chars, 0) AS kept_chars
       |FROM r LEFT JOIN k USING (source)""".stripMargin

  // ------------------------------------------ quantile normalization

  /** Quantile-normalize each source's length distribution onto the
    * in-domain reference slice ([[PsiRefSource]]) — the batch-effect
    * correction for heterogeneous per-source score scales: a document at
    * the p-th percentile OF ITS SOURCE maps to the reference value at the
    * same percentile, so downstream thresholds derived on the reference
    * slice apply uniformly to every source.
    *
    * Exactness: the map is pure integer rank arithmetic —
    * `ref_rank = min(M, 1 + ⌊(r−1)·M / N_s⌋)` with r the document's
    * (value, doc_id)-ordered rank within its source — and a lookup into
    * the sorted M-element reference array; no interpolation, no floats.
    *
    * Scale shape: one per-source rank window (a single keyed exchange —
    * the count rides the same partition); the reference array is built
    * from the small in-domain slice and broadcasts; the lookup is an
    * in-projection `element_at`. */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val refArr = docs.filter(col("source") === PsiRefSource)
      .agg(sort_array(collect_list(col("n_chars"))).as("ref"))
    val bySrc = Window.partitionBy(col("source"))
    docs
      .withColumn("r", row_number().over(bySrc.orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n_s", count(lit(1)).over(bySrc))
      .crossJoin(broadcast(refArr))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("r").cast("bigint").as("src_rank"),
        expr("least(size(ref), 1 + ((r - 1) * size(ref)) div n_s)")
          .cast("bigint").as("ref_rank"),
        expr("element_at(ref, cast(least(size(ref), 1 + ((r - 1) * size(ref)) div n_s) as int))")
          .as("norm_chars"))
  }

  def quantileNormalizeSql: String =
    s"""WITH ref AS (
       |  SELECT list_sort(list(n_chars)) AS ref
       |  FROM documents WHERE source = '$PsiRefSource'),
       |ranked AS (
       |  SELECT doc_id, source, n_chars,
       |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
       |    count(*) OVER (PARTITION BY source) AS n_s
       |  FROM documents)
       |SELECT doc_id, source, n_chars,
       |  CAST(r AS BIGINT) AS src_rank,
       |  CAST(least(len(ref), 1 + ((r - 1) * len(ref)) // n_s) AS BIGINT) AS ref_rank,
       |  CAST(ref[CAST(least(len(ref), 1 + ((r - 1) * len(ref)) // n_s) AS INT)] AS BIGINT) AS norm_chars
       |FROM ranked, ref""".stripMargin

  // -------------------------------------- largest-remainder apportionment

  private val ApportionBudget = 100000L

  /** Hamilton (largest-remainder) apportionment of a fixed token budget
    * across sources, proportional to volume — the exact-integer allocation
    * step a mixture plan needs once rates become concrete sampling QUOTAS:
    * floats would leave Σ quotaᵢ ≠ B (the classic rounding leak); the
    * largest-remainder method conserves the budget exactly.
    *
    * `q0ᵢ = ⌊B·wᵢ/W⌋`, then the `B − Σ q0ᵢ` leftover seats go to the
    * largest remainders `(B·wᵢ) mod W`, ties to the lexicographically
    * smallest source — pure int64 arithmetic, engine-identical. (`B·wᵢ`
    * fits int64 while B·totalchars < 2⁶³; past that the same expressions
    * lower to DECIMAL(38,0), like `frequent_pairs`' lift.)
    *
    * Scale shape: one column-pruned corpus pass into a |sources|-row
    * partial agg; everything after runs on that 20-row table (the rank
    * window sorts |sources| rows, never data). */
  def tokenApportionment(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(col("n_chars")).cast("bigint").as("chars"))
    val tot = per.agg(sum(col("chars")).as("w"))
    val base = per.crossJoin(broadcast(tot))
      .select(col("source"), col("chars"),
        expr(s"($ApportionBudget * chars) div w").as("quota_base"),
        expr(s"($ApportionBudget * chars) % w").as("rem"))
    val deficit = base.agg((lit(ApportionBudget) - sum(col("quota_base"))).as("r"))
    base.crossJoin(broadcast(deficit))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source").asc)))
      .select(col("source"), col("chars"), col("quota_base"), col("rem"),
        when(col("rk") <= col("r"), lit(1L)).otherwise(lit(0L)).as("extra"))
      .withColumn("quota", col("quota_base") + col("extra"))
  }

  def tokenApportionmentSql: String =
    s"""WITH per AS (
       |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(chars) AS BIGINT) AS w FROM per),
       |base AS (
       |  SELECT source, chars,
       |    ($ApportionBudget * chars) // w AS quota_base,
       |    ($ApportionBudget * chars) % w AS rem
       |  FROM per, tot),
       |deficit AS (SELECT $ApportionBudget - CAST(sum(quota_base) AS BIGINT) AS r FROM base)
       |SELECT source, chars, quota_base, rem,
       |  CAST(CASE WHEN row_number() OVER (ORDER BY rem DESC, source ASC) <= r
       |       THEN 1 ELSE 0 END AS BIGINT) AS extra,
       |  quota_base + CAST(CASE WHEN row_number() OVER (ORDER BY rem DESC, source ASC) <= r
       |       THEN 1 ELSE 0 END AS BIGINT) AS quota
       |FROM base, deficit""".stripMargin

  // -------------------------------------------------- Gopher repetition

  /** Gopher-style repetition signals (Rae et al. 2022, Table A1, adapted
    * to this corpus's scale): per document, the share of bigram positions
    * occupied by the single most frequent bigram, and the fraction of
    * trigram positions whose trigram occurs more than once in the
    * document. Thresholds sit above the sf0.01 medians (0.033 / 0.0) so
    * the flag splits the corpus non-trivially. Complements
    * [[TrainingPrep.docRepetition]]'s unigram signals.
    *
    * Scale shape: purely per-document — a narrow n-gram explode and two
    * partial-aggregated (doc, gram) group-bys, rejoined on doc_id. No
    * cross-document state at all. */
  def ngramRepetition(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("toks"))
    def gramCounts(n: Int) = base
      .select(col("doc_id"), explode(grams(n)).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).cast("bigint").as("c"))
    val bi = gramCounts(2).groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("bigint").as("n_bigrams"),
        max(col("c")).cast("bigint").as("top_bigram_cnt"))
    val tri = gramCounts(3).groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("bigint").as("n_trigrams"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).cast("bigint").as("dup_tri_cnt"))
    bi.join(tri, "doc_id")
      .withColumn("top_share", col("top_bigram_cnt") / col("n_bigrams"))
      .withColumn("dup_share", col("dup_tri_cnt") / col("n_trigrams"))
      .withColumn("is_repetitive",
        col("top_share") > lit(0.06) || col("dup_share") > lit(0.04))
  }

  def ngramRepetitionSql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |b2 AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g, CAST(count(*) AS BIGINT) AS c
      |       FROM tok, UNNEST(range(1, len(toks))) AS r(i) GROUP BY 1, 2),
      |b3 AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g,
      |         CAST(count(*) AS BIGINT) AS c
      |       FROM tok, UNNEST(range(1, len(toks) - 1)) AS r(i) GROUP BY 1, 2),
      |s2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |         CAST(max(c) AS BIGINT) AS top_bigram_cnt FROM b2 GROUP BY 1),
      |s3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
      |         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_tri_cnt
      |       FROM b3 GROUP BY 1)
      |SELECT doc_id, n_bigrams, top_bigram_cnt, n_trigrams, dup_tri_cnt,
      |  top_bigram_cnt / n_bigrams AS top_share,
      |  dup_tri_cnt / n_trigrams AS dup_share,
      |  (top_bigram_cnt / n_bigrams > 0.06e0 OR dup_tri_cnt / n_trigrams > 0.04e0) AS is_repetitive
      |FROM s2 JOIN s3 USING (doc_id)""".stripMargin

  private val CovK = 5

  /** Greedy coverage-maximization selection (submodular data selection,
    * Kirchhoff & Bilmes 2014; the facility-location/set-cover member of
    * the curation family): pick [[CovK]] documents one at a time, each
    * round taking the document whose 5-gram set covers the most shingles
    * NOT yet covered by earlier picks. Marginal-gain greedy carries the
    * Nemhauser–Wolsey–Fisher (1 − 1/e) guarantee for monotone submodular
    * coverage — the principled "maximally diverse seed set" draw, vs the
    * frequency/rarity scores everywhere else in this family.
    *
    * Determinism: gains are exact set-difference COUNTS (int64) and the
    * per-round argmax tie-breaks on doc_id, so the greedy trajectory is a
    * pure function of the corpus — the oracle replays it unrolled.
    *
    * Scale shape: the corpus collapses ONCE to the persisted (doc, gram)
    * pair set; each of the [[CovK]] rounds is two anti-joins against
    * limit-1-frame accumulations (selected docs: ≤ k rows broadcast;
    * covered grams: ≤ k·|doc grams| rows, gram-keyed) + one partial-agg
    * count and a 1-row TakeOrdered — never a driver collection, plans
    * checkpoint-truncated per round ([[graft.Plans.truncate]]).
    * Rounds are inherently sequential (that IS the algorithm); production
    * variants batch picks per round (stochastic greedy) to shrink the
    * round count, not the per-round shape. */
  def coverageSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = graft.Caches.persisted(
      Tables.documentsSpread(spark, dir)
        .select(col("doc_id"),
          explode(TrainingPrep.ngrams(col("text"), TrainingPrep.NGram)).as("gram")))
    var selected = graft.Plans.truncate(
      Seq.empty[(Long, Long, Long)].toDF("round", "doc_id", "gain"))
    var prevCovered: DataFrame = null
    for (r <- 1 to CovK) {
      // both prune sides are broadcast so the persisted corpus-gram table
      // never re-shuffles inside a round: `selected` is ≤ CovK rows BY
      // CONSTRUCTION (unconditional broadcast, like the scalar aggs);
      // `covered` is ≤ r docs' worth of grams — persisted, its exact count
      // (one cheap memoized job) feeds the size gate, so a round whose
      // picks cover more grams than the broadcast limit degrades to a
      // shuffled-hash anti-join instead of an OOM. Ungated, both
      // stats-less checkpoint/aggregate sides forced sort-merges that
      // shuffled the corpus gram set twice per greedy round.
      val selIds = broadcast(selected.select(col("doc_id")))
      val covered = graft.Caches.persisted(
        base.join(selIds, Seq("doc_id"), "left_semi")
          .select(col("gram")).distinct())
      val nCovered = graft.Memo.countOf(spark, s"coverage-covered/$dir/$r", covered)
      val winner = base
        .join(selIds, Seq("doc_id"), "left_anti")
        .join(graft.Plans.broadcastIfSmall(covered, nCovered), Seq("gram"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("doc_id").asc).limit(1)
        .select(lit(r.toLong).as("round"), col("doc_id"), col("gain"))
      selected = graft.Plans.truncate(selected.unionByName(winner))
      // truncate() is an eager checkpoint, so this round's jobs have run:
      // the PREVIOUS round's covered-gram cache is dead — release it now
      // instead of letting CovK copies accumulate until Caches.drain()
      if (prevCovered != null) prevCovered.unpersist(blocking = false)
      prevCovered = covered
    }
    selected
  }

  /** Oracle: the identical greedy trajectory unrolled [[CovK]] times. */
  def coverageSelectSql: String = {
    def round(r: Int): String = {
      val notSel =
        if (r == 1) ""
        else "WHERE " + (1 until r).map(i => s"doc_id NOT IN (SELECT doc_id FROM w$i)").mkString(" AND ")
      val notCov = if (r == 1) "" else
        s"${if (notSel.isEmpty) "WHERE" else " AND"} gram NOT IN (SELECT gram FROM c${r - 1})"
      val cov =
        if (r == 1) s"c1 AS (SELECT DISTINCT gram FROM g JOIN w1 USING (doc_id))"
        else s"c$r AS (SELECT gram FROM c${r - 1} UNION SELECT gram FROM g JOIN w$r USING (doc_id))"
      s"""w$r AS (SELECT CAST($r AS BIGINT) AS round, doc_id, count(*) AS gain
         |        FROM g $notSel$notCov
         |        GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
         |$cov""".stripMargin
    }
    val n = TrainingPrep.NGram
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+${n - 1}], ' ') AS gram
       |      FROM tok, UNNEST(range(1, len(t) - ${n - 2})) AS u(i)),
       |${(1 to CovK).map(round).mkString(",\n")}
       |SELECT round, doc_id, CAST(gain AS BIGINT) AS gain
       |FROM (${(1 to CovK).map(r => s"SELECT * FROM w$r").mkString(" UNION ALL ")})""".stripMargin
  }

  // ------------------------------------------- temperature-scaled mixture

  /** Temperature-scaled sampling weights per source — the multilingual
    * α-sampling rule (Devlin et al. 2019 §A; Conneau et al. 2020 eq. 1):
    * `p_i ∝ w_i^α` with w the source's token share, α < 1 flattening the
    * mixture toward low-resource sources. Reported at α ∈ {1, ½, ¼}.
    *
    * Exactness: α is restricted to halving powers so `w^α` is a sqrt
    * CHAIN — IEEE-754 fully specifies sqrt, so per-source weights are
    * bit-identical across engines — and each weight is snapped to integer
    * micro-units BEFORE the normalizing sum (the module's micro-nat
    * policy), so the denominator is an associative integer sum, not an
    * order-sensitive float reduction. The α=1 weight `n_tokens·10⁶` and
    * the normalizing sum carry in DECIMAL(38,0) (the [[CorpusStats]]
    * source_entropy lowering): an int64 w_micro would wrap past
    * ≈ 9.2·10¹² tokens — i.e. at exactly the multi-trillion-token corpora
    * this operator exists for. The weights remain exact integers, so the
    * one cast-to-double at the final normalized division is unchanged.
    *
    * Scale shape: one column-pruned corpus pass into a |sources|-row
    * partial agg; the α-explode and the normalizing window run on that
    * 3·|sources|-row table only. */
  def mixtureTemperature(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"), size(toks(col("text"))).cast("bigint").as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).cast("bigint").as("n_tokens"))
    val byAlpha = per
      .select(col("source"), col("n_tokens"), explode(array(
        struct(lit(1.0).as("alpha"),
          (col("n_tokens").cast("decimal(38,0)") * 1000000L).cast("decimal(38,0)").as("w_micro")),
        struct(lit(0.5).as("alpha"),
          expr("cast(round(sqrt(n_tokens) * 1000000) as decimal(38,0))").as("w_micro")),
        struct(lit(0.25).as("alpha"),
          expr("cast(round(sqrt(sqrt(n_tokens)) * 1000000) as decimal(38,0))").as("w_micro"))
      )).as("x"))
      .select(col("source"), col("n_tokens"),
        col("x.alpha").as("alpha"), col("x.w_micro").as("w_micro"))
    byAlpha
      .withColumn("tot", sum(col("w_micro")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("alpha"))))
      .select(col("source"), col("alpha"), col("n_tokens"),
        round(col("w_micro").cast("double") / col("tot").cast("double"), 6).as("p"))
  }

  def mixtureTemperatureSql: String =
    """WITH per AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |e AS (
      |  SELECT source, n_tokens, 1.0e0 AS alpha,
      |    CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000 AS DECIMAL(38,0)) AS w_micro FROM per
      |  UNION ALL
      |  SELECT source, n_tokens, 0.5e0,
      |    CAST(round(sqrt(n_tokens) * 1000000) AS DECIMAL(38,0)) FROM per
      |  UNION ALL
      |  SELECT source, n_tokens, 0.25e0,
      |    CAST(round(sqrt(sqrt(n_tokens)) * 1000000) AS DECIMAL(38,0)) FROM per)
      |SELECT source, alpha, n_tokens,
      |  round(CAST(w_micro AS DOUBLE) /
      |    CAST(sum(w_micro) OVER (PARTITION BY alpha) AS DOUBLE), 6) AS p
      |FROM e""".stripMargin

  // --------------------------------------------- filter rank correlation

  /** Spearman rank correlation between the two independent quality
    * filters — [[ngramPerplexity]]'s LM score and
    * [[TrainingPrep.qualityClassifier]]'s hashed-linear score — the
    * filter-agreement diagnostic a curation pipeline runs before stacking
    * filters (near-1 ⇒ redundant, near-0 ⇒ complementary, negative ⇒
    * contradictory; cf. the filter-correlation analyses in Dolma, Soldaini
    * et al. 2024 §4).
    *
    * Exactness: Spearman-with-ties is Pearson over AVERAGE ranks; doubled
    * average ranks `r2 = 2·(#less) + (#equal) + 1` are integers, and
    * centering by their exact mean (`Σ r2 = n(n+1)` always, so mean
    * `n + 1`) makes every moment an exact int64 sum — ρ is then a single
    * sqrt/divide on exact integers, bit-identical across engines. Centered
    * SUMS of cross-moments are bounded by n³, so an int64 accumulator
    * would wrap past n ≈ 2·10⁶ docs; the three sums therefore accumulate
    * in DECIMAL(38,0). The remaining int64 term is the per-pair product
    * (≤ 4n², safe to n ≈ 1.5·10⁹ docs), and under the session's default
    * ANSI mode both that product and any decimal overflow ERROR loudly
    * instead of wrapping — the module's ceiling-enforcement convention.
    * Degenerate corpora where one filter's scores are all tied (sxx or
    * syy = 0) yield ρ = NULL explicitly — an unguarded 0/0 is
    * engine-dependent (Spark yields null, DuckDB double division NaNs).
    *
    * Scale shape: both score passes are the operators' own (histogram-
    * collapsed model sides); ranks come from per-score HISTOGRAMS joined
    * back by score, and the cumulative windows run over those histograms
    * only — which are RESOLUTION-bounded, not corpus-bounded: `avg_nll`
    * is snapped to 10⁻⁶ over a ≤ ~20-nat range (≤ 2·10⁷ distinct values
    * no matter the corpus) and `raw_score` is an integer bounded by the
    * weight-sum range, so the single-partition window never sees corpus-
    * proportional rows. The final reduction is one partial-agg over
    * (r2x, r2y) pairs. */
  def filterCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val scores = graft.Caches.persisted(
      ngramPerplexity(spark, dir).select(col("doc_id"), col("avg_nll"))
        .join(TrainingPrep.qualityClassifier(spark, dir)
          .select(col("doc_id"), col("raw_score")), "doc_id"))
    def r2(valueCol: String, rankCol: String): DataFrame = {
      val hist = scores.groupBy(col(valueCol)).agg(count(lit(1)).as("c"))
      val wCum = org.apache.spark.sql.expressions.Window
        .orderBy(col(valueCol))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      hist.withColumn("cum", sum(col("c")).over(wCum))
        .select(col(valueCol), (col("cum") * 2 - col("c") + 1).as(rankCol))
    }
    val n1 = scores.agg((count(lit(1)) + 1L).as("np1")) // exact mean of r2
    scores
      .join(r2("avg_nll", "r2x"), "avg_nll")
      .join(r2("raw_score", "r2y"), "raw_score")
      .crossJoin(broadcast(n1))
      .select((col("r2x") - col("np1")).as("cx"), (col("r2y") - col("np1")).as("cy"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum((col("cx") * col("cy")).cast("decimal(38,0)")).as("sxy"),
        sum((col("cx") * col("cx")).cast("decimal(38,0)")).as("sxx"),
        sum((col("cy") * col("cy")).cast("decimal(38,0)")).as("syy"))
      .select(col("n_docs"),
        when(col("sxx") > 0 && col("syy") > 0,
          round(col("sxy").cast("double") /
            (sqrt(col("sxx").cast("double")) * sqrt(col("syy").cast("double"))), 6))
          .otherwise(lit(null).cast("double"))
          .as("spearman_rho"))
  }

  def filterCorrelationSql: String =
    s"""WITH ppl AS (
       |  ${ngramPerplexitySql.replace("\n", "\n  ")}),
       |qc AS (
       |  ${graft.pipelines.TrainingPrep.qualityClassifierSql.replace("\n", "\n  ")}),
       |s AS (
       |  SELECT ppl.doc_id, avg_nll, raw_score
       |  FROM ppl JOIN qc ON ppl.doc_id = qc.doc_id),
       |r AS (
       |  SELECT doc_id,
       |    2 * rank() OVER (ORDER BY avg_nll) + count(*) OVER (PARTITION BY avg_nll) - 1 AS r2x,
       |    2 * rank() OVER (ORDER BY raw_score) + count(*) OVER (PARTITION BY raw_score) - 1 AS r2y,
       |    count(*) OVER () + 1 AS np1
       |  FROM s),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CAST((r2x - np1) * (r2y - np1) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
       |    CAST(sum(CAST((r2x - np1) * (r2x - np1) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
       |    CAST(sum(CAST((r2y - np1) * (r2y - np1) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
       |  FROM r)
       |SELECT n_docs,
       |  CASE WHEN sxx > 0 AND syy > 0
       |    THEN round(CAST(sxy AS DOUBLE) /
       |      (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE))), 6)
       |    ELSE NULL END AS spearman_rho
       |FROM m""".stripMargin

  // ------------------------------------------------ memorization n-grams

  private val HotN = 5
  private val HotTopK = 50

  /** Memorization-risk hot list: the [[HotN]]-gram word sequences repeated
    * across the most DISTINCT documents (document frequency, then total
    * occurrences). Sequences duplicated many times across a corpus are
    * exactly the ones a model memorizes and regurgitates (Lee et al. 2022;
    * Carlini et al. 2023) — this is the audit report behind "dedup before
    * you train", complementing [[graft.pipelines.TrainingPrep.chunkDupRate]]
    * (which rates chunk-level duplication) with the ranked offender list.
    *
    * Scale shape: a narrow n-gram explode into a partial-aggregated
    * (doc, gram) count — which ALSO makes the df a plain `count(*)` in the
    * second keyed agg instead of a count-distinct Expand over the corpus —
    * then top-k by TakeOrderedAndProject, never a global sort. Ordering is
    * total (df, tf, gram), so the cut is deterministic. */
  def hotNgrams(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .select(col("doc_id"), explode(grams(HotN)).as("ngram"))
      .groupBy(col("doc_id"), col("ngram"))
      .agg(count(lit(1)).cast("bigint").as("c"))
    perDoc.groupBy(col("ngram"))
      .agg(count(lit(1)).cast("bigint").as("df"),
        sum(col("c")).cast("bigint").as("tf"))
      .filter(col("df") >= 2)
      .orderBy(col("df").desc, col("tf").desc, col("ngram").asc)
      .limit(HotTopK)
  }

  def hotNgramsSql: String =
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |g AS (SELECT doc_id, array_to_string(t[i:i+${HotN - 1}], ' ') AS ngram,
       |        CAST(count(*) AS BIGINT) AS c
       |      FROM tok, UNNEST(range(1, len(t) - ${HotN - 2})) AS u(i)
       |      GROUP BY 1, 2)
       |SELECT ngram, CAST(count(*) AS BIGINT) AS df, CAST(sum(c) AS BIGINT) AS tf
       |FROM g GROUP BY ngram HAVING count(*) >= 2
       |ORDER BY df DESC, tf DESC, ngram LIMIT $HotTopK""".stripMargin
}
