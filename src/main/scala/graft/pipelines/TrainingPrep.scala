package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data preparation operators beyond cleaning/dedup: benchmark
  * decontamination, sequence packing, repetition-based quality signals, and
  * deterministic corpus splitting. These are the steps between "deduped
  * corpus" and "tokens on the training cluster" in an LLM data pipeline; the
  * reference engine's (map, reduce) model can express each of them
  * (`/root/reference/src/mr/worker.go:39`), but no shipped app does — they
  * are extension surface, like the dedup family in [[graft.dedup.DedupQueries]].
  *
  * Tokenization here is plain space-splitting: these operators model the
  * *pipeline shapes* (n-gram join, prefix-sum packing, per-doc frequency
  * profile, hash bucketing), for which the tokenizer is a pluggable detail —
  * the reference-faithful `\p{L}` tokenizer and the BPE-ish pass live in
  * [[graft.text.TextQueries]] / [[graft.text.LangQueries]].
  *
  * Every query is a declarative plan built from codegen'd built-ins: narrow
  * per-document work, partial aggregation before every shuffle, and joins
  * shaped so the small side broadcasts.
  */
object TrainingPrep {

  /** Source tag whose documents act as the held-out benchmark set for
    * [[decontaminate]]. In a real pipeline this is the eval-suite corpus
    * (tiny) joined against the training corpus (enormous). */
  private val BenchmarkSource = "src0"

  private[graft] val NGram = 5

  /** Word `n`-grams of a space-tokenized text column, as strings;
    * `distinct` = per-document set semantics (joins) vs multiset
    * (frequency counting, [[bigramTopk]]). */
  private[graft] def ngrams(text: Column, n: Int, distinct: Boolean = true): Column = {
    val toks = split(text, " ")
    val all = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    if (distinct) array_distinct(all) else all
  }

  /** The deterministic corpus-split assignment, defined once for
    * [[trainSplit]] and [[trainingPipeline]] (and mirrored by
    * [[splitSqlFragment]] for their oracles): Knuth-style multiplicative
    * hash of doc_id into 100 buckets, 80/10/10. Changing the constants in
    * one consumer but not the other would silently assign the same doc to
    * different splits in different queries. */
  private def splitCol(docId: Column): Column = {
    val bucket = ((docId * lit(1000003L)) % lit(999999937L)) % lit(100L)
    when(bucket < 80, "train").when(bucket < 90, "validation").otherwise("test")
  }

  /** DuckDB twin of [[splitCol]]: `(bucketExpr, splitCaseExpr)` over a
    * relation exposing `doc_id`. */
  private val SplitBucketSql = "((doc_id * 1000003) % 999999937) % 100"
  private val SplitCaseSql =
    "CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'validation' ELSE 'test' END"

  /** Benchmark decontamination (the GPT-3/Gopher n-gram overlap rule): a
    * training document is contaminated if it shares at least one word
    * 5-gram with any benchmark document. Returns the contaminated doc ids
    * with the number of distinct shared 5-grams.
    *
    * Scale shape: the benchmark side is eval suites — megabytes against a
    * 100 TB corpus — so its distinct-gram set `broadcast`s and the corpus
    * side never shuffles: per-doc gram explosion is narrow, the inner join
    * is map-side, and the only exchange is the final count-by-doc on ids.
    * Grams stay strings here for oracle exactness; at petabyte scale the
    * broadcast set and probe keys would be 64-bit fingerprints via
    * [[graft.functions.ShingleExpressions]], shrinking the broadcast ~5×. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // eval suites are megabytes against the corpus, but the gram set is
    // still data-derived: persist + exact count gate it, so a multi-suite
    // set past broadcast scale degrades to a shuffled-hash join on `gram`
    // (or the [[bloomDecontaminate]] prefilter path). Session-memoized —
    // the eval-suite gram set is static across the pipeline, and both
    // decontamination variants share one copy and one gate count.
    val (bench, nBench) = benchmarkGramsCounted(spark, dir)
    docs.filter(col("source") =!= BenchmarkSource)
      .transform(d => graft.Plans.fanOut(d, col("doc_id"), cacheKey = s"documents/$dir"))
      .select(col("doc_id"), explode(ngrams(col("text"), NGram)).as("gram"))
      .join(graft.Plans.broadcastIfSmall(bench, nBench), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** [[benchmarkGrams]] persisted with its exact count, once per
    * (session, dir) — shared by both decontamination variants' gates. */
  private def benchmarkGramsCounted(spark: SparkSession, dir: String): (DataFrame, Long) =
    graft.Memo.countedArtifact(spark, s"bench-grams/$dir")(benchmarkGrams(spark, dir))

  /** The static side of the decontamination join: the benchmark corpus's
    * distinct gram set. Also the static side of the streaming variant
    * ([[graft.streaming.StreamingCorpus.decontaminate]]). */
  private[graft] def benchmarkGrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .filter(col("source") === BenchmarkSource)
      .select(explode(ngrams(col("text"), NGram)).as("gram"))
      .distinct()

  /** [[decontaminate]] through an EXPLICIT Bloom-filter prefilter — the
    * scale path for when the benchmark gram set outgrows a broadcast hash
    * set (a multi-eval-suite set at full n-gram granularity runs to 10⁸+
    * grams; a hash set of strings is tens of GB, a Bloom filter at the same
    * item count is a fixed few hundred MB of bits — and here 1 MB).
    *
    * Three stages, all inside one plan:
    *   1. BUILD: `bloom_agg(xxhash64(gram))` over the benchmark grams — a
    *      constant-size aggregate ([[graft.functions.BloomFunctions]]),
    *      attached as a scalar subquery so the analyzer ships it to probe
    *      tasks like a broadcast variable.
    *   2. PROBE: the corpus side filters on `bloom_might_contain` — map-side,
    *      codegen'd, zero shuffle; only the surviving sliver (true overlaps
    *      + the filter's ~0.1% false positives) continues.
    *   3. VERIFY: an exact join against the true gram set prices each
    *      survivor, so the result is EXACT — identical to [[decontaminate]]
    *      and checked against the same oracle. At broadcast-breaking
    *      benchmark sizes this join becomes a shuffled hash join whose
    *      corpus side the Bloom stage has already cut by orders of
    *      magnitude — the InjectRuntimeFilter pattern Spark applies to
    *      shuffle joins automatically, materialized explicitly so it also
    *      covers plans (and filter reuse across jobs) the optimizer rule
    *      can't see. */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    // session-memoized: consumed by the Bloom build, the gate count, and
    // the verify join (and shared with [[decontaminate]]); the gate makes
    // the scaladoc's "becomes a shuffled hash join" stage-3 fallback
    // executable
    val (bench, nBench) = benchmarkGramsCounted(spark, dir)
    val bloom = bench
      .agg(expr("bloom_agg(xxhash64(gram), 1000000L, 8388608L)").as("bf"))
      .scalar()
    val docs = Tables.documentsSpread(spark, dir)
    docs.filter(col("source") =!= BenchmarkSource)
      .select(col("doc_id"), explode(ngrams(col("text"), NGram)).as("gram"))
      .filter(call_function("bloom_might_contain", bloom, xxhash64(col("gram"))))
      .join(graft.Plans.broadcastIfSmall(bench, nBench), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  def decontaminateSql: String =
    s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
       |g AS (SELECT DISTINCT doc_id, source, array_to_string(t[i:i+${NGram - 1}], ' ') AS gram
       |      FROM tok, UNNEST(range(1, len(t) - ${NGram - 2})) AS u(i)),
       |bench AS (SELECT DISTINCT gram FROM g WHERE source = '$BenchmarkSource')
       |SELECT doc_id, count(*) AS n_shared
       |FROM (SELECT DISTINCT doc_id, gram FROM g WHERE source <> '$BenchmarkSource') c
       |JOIN bench USING (gram)
       |GROUP BY doc_id""".stripMargin

  /** Tokens per training sequence for [[seqPack]]. */
  private val ChunkTokens = 512

  /** Sequence packing, concat-then-chunk style (how pretraining corpora are
    * actually packed): within each source shard, documents are concatenated
    * in doc_id order and cut into fixed `ChunkTokens` windows; a document's
    * chunk is the one containing its first token. Returns per-chunk
    * accounting (doc count, token sum, doc-id span).
    *
    * Scale shape: the prefix sum is windowed **per source shard**, so each
    * shard's running total is one partition's sequential scan after a hash
    * exchange on `source` — there is no global ordering anywhere. A corpus
    * is sharded far finer than 20 sources at 100 TB (date × domain ×
    * crawl), keeping every partition bounded; packing across *all* shards
    * would serialize the cluster on one global cumulative sum, which is why
    * no production pipeline asks for it. */
  def seqPack(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("chunk_id", expr(s"(cum - n_tokens) DIV $ChunkTokens"))
      .groupBy(col("source"), col("chunk_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("chunk_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Window / stride for [[chunkDocuments]] — sized to the synthetic
    * corpus's ~55-token documents so most docs emit several chunks. */
  private[graft] val RagWindow = 16
  private[graft] val RagStride = 12

  /** Cross-document duplicate-CHUNK rate, per source — the boilerplate
    * detector a retrieval/RAG indexer runs at CHUNK granularity before
    * building its index (headers, footers, license blocks repeat as
    * verbatim fixed windows across documents and poison retrieval; doc-
    * level dedup misses them, and [[graft.dedup.DedupQueries]]' substring
    * machinery answers a different question — arbitrary shared SPANS, not
    * index-unit collisions). Documents are cut into overlapping
    * [[RagWindow]]-token windows at stride [[RagStride]] (the
    * [[docChunks]] retrieval shape), each window keyed by the
    * engine-portable md5-prefix hash of its text; a window is boilerplate
    * when its hash occurs in ≥ 2 distinct documents. Emits per source:
    * total chunk instances, instances belonging to cross-document
    * duplicated hashes, and the rate in ppm.
    *
    * Exactness trick for the per-source rollup: distinct docs per hash =
    * Σ over sources of distinct docs per (hash, source) — every doc
    * belongs to exactly one source — so the cross-doc flag needs only a
    * hash-keyed window over the (hash, source)-aggregated table, never a
    * corpus-sized join-back.
    *
    * Scale shape: one narrow map-only chunk explode, one
    * (hash, source)-keyed partial agg (the only corpus-sized exchange),
    * then hash-vocabulary-sized window + rollup. */
  def chunkDupRate(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast("bigint"))
      .select(col("doc_id"), col("source"),
        explode(expr(s"transform(sequence(0L, (n - 1) div $RagStride)," +
          s" i -> cast(conv(substring(md5(array_join(slice(toks, cast(i * $RagStride as int) + 1, $RagWindow), ' ')), 1, 15), 16, 10) as bigint))"))
          .as("chunk_hash"))
    val hs = chunks
      .groupBy(col("chunk_hash"), col("source"))
      .agg(count(lit(1)).cast("bigint").as("cnt"),
        countDistinct(col("doc_id")).cast("bigint").as("nd"))
    hs
      .withColumn("total_nd",
        sum(col("nd")).over(Window.partitionBy(col("chunk_hash"))))
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).cast("bigint").as("total_chunks"),
        sum(when(col("total_nd") >= 2, col("cnt")).otherwise(lit(0L)))
          .cast("bigint").as("dup_chunks"))
      .withColumn("dup_ppm", expr("dup_chunks * 1000000L div total_chunks"))
  }

  def chunkDupRateSql: String =
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |           FROM documents),
       |c AS (SELECT doc_id, source,
       |        ('0x' || substr(md5(array_to_string(
       |           toks[i * $RagStride + 1 : i * $RagStride + $RagWindow], ' ')), 1, 15))::BIGINT
       |          AS chunk_hash
       |      FROM t, UNNEST(range(0, (n - 1) // $RagStride + 1)) AS r(i)),
       |hs AS (SELECT chunk_hash, source, CAST(count(*) AS BIGINT) AS cnt,
       |         CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
       |       FROM c GROUP BY 1, 2),
       |w AS (SELECT *, sum(nd) OVER (PARTITION BY chunk_hash) AS total_nd FROM hs)
       |SELECT source,
       |  CAST(sum(cnt) AS BIGINT) AS total_chunks,
       |  CAST(sum(CASE WHEN total_nd >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup_chunks,
       |  CAST(sum(CASE WHEN total_nd >= 2 THEN cnt ELSE 0 END) AS BIGINT) * 1000000
       |    // CAST(sum(cnt) AS BIGINT) AS dup_ppm
       |FROM w GROUP BY source""".stripMargin

  def seqPackSql: String =
    s"""SELECT source, CAST((cum - n_tokens) // $ChunkTokens AS BIGINT) AS chunk_id,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM (SELECT doc_id, source, n_tokens,
       |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |                            ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM (SELECT doc_id, source,
       |              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |            FROM documents) t) c
       |GROUP BY source, chunk_id""".stripMargin

  /** Packing-efficiency audit of [[seqPack]]'s chunks — per source: chunk
    * count, token mass, the exact fill ratio against the [[ChunkTokens]]
    * capacity, and the chunk overhead vs the information-theoretic floor
    * ⌈tokens/capacity⌉. The number a training-data engineer watches before
    * buying the next packing strategy: fill near 10⁶ ppm says the greedy
    * start-position packing wastes nothing worth optimizing; low fill says
    * documents straddle boundaries badly and a length-aware packer pays.
    *
    * Scale shape: one aggregate over [[seqPack]]'s output (chunk-count-
    * sized, already ≪ corpus); everything here inherits seq_pack's single
    * per-source window pass. Exact integers throughout (ppm = one floor
    * division of nonneg int64s, identical both engines). */
  def packEfficiency(spark: SparkSession, dir: String): DataFrame =
    seqPack(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_tokens")).as("tokens"),
        sum(col("n_docs")).as("n_docs"))
      .select(col("source"), col("n_chunks"), col("n_docs"), col("tokens"),
        expr(s"tokens * 1000000 div (n_chunks * $ChunkTokens)").as("fill_ppm"),
        expr(s"(tokens + $ChunkTokens - 1) div $ChunkTokens").as("ideal_chunks"),
        expr(s"(n_chunks - (tokens + $ChunkTokens - 1) div $ChunkTokens) * 1000000" +
          s" div ((tokens + $ChunkTokens - 1) div $ChunkTokens)").as("overhead_ppm"))

  def packEfficiencySql: String =
    s"""WITH sp AS (${seqPackSql.replace("\n", "\n  ")}),
       |ag AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
       |    CAST(sum(chunk_tokens) AS BIGINT) AS tokens,
       |    CAST(sum(n_docs) AS BIGINT) AS n_docs
       |  FROM sp GROUP BY source)
       |SELECT source, n_chunks, n_docs, tokens,
       |  tokens * 1000000 // (n_chunks * $ChunkTokens) AS fill_ppm,
       |  (tokens + $ChunkTokens - 1) // $ChunkTokens AS ideal_chunks,
       |  (n_chunks - (tokens + $ChunkTokens - 1) // $ChunkTokens) * 1000000
       |    // ((tokens + $ChunkTokens - 1) // $ChunkTokens) AS overhead_ppm
       |FROM ag""".stripMargin

  /** Repetition-based quality signals (the Gopher repetition rules, adapted
    * to single-line docs): per document, the most-frequent-token share and
    * the distinct-token ratio, plus the combined gate. High top-share or
    * low distinct-ratio marks boilerplate/spam.
    *
    * Scale shape: two hash aggregations — (doc_id, token) then doc_id —
    * both with map-side partial aggregation; keys are bounded by document
    * length so no key is ever hot, and text itself never shuffles (only
    * token strings, and only to the first agg). */
  def docRepetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
      .withColumn("top_share", col("top_cnt") / col("n_tokens"))
      .withColumn("distinct_ratio", col("n_distinct") / col("n_tokens"))
      .withColumn("is_repetitive",
        col("top_share") > lit(0.15) || col("distinct_ratio") < lit(0.35))

  def docRepetitionSql: String =
    """SELECT doc_id, n_tokens, n_distinct, top_cnt,
      |  top_cnt / n_tokens AS top_share,
      |  n_distinct / n_tokens AS distinct_ratio,
      |  (top_cnt / n_tokens > 0.15 OR n_distinct / n_tokens < 0.35) AS is_repetitive
      |FROM (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |    count(*) AS n_distinct, max(cnt) AS top_cnt
      |  FROM (SELECT doc_id, tok, count(*) AS cnt
      |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) e
      |        GROUP BY doc_id, tok) pc
      |  GROUP BY doc_id) s""".stripMargin

  /** Deterministic train/validation/test assignment by multiplicative hash
    * (Knuth-style), 80/10/10, reported per (split, lang). The bucket is a
    * pure arithmetic function of doc_id — reproducible across engines,
    * stable under repartitioning, and O(0) state: no sampling RNG, no
    * persisted assignment table. The multiplier/modulus stay comfortably
    * inside int64 for any doc_id below ~9.2e12 (a 100 TB corpus at 10 KB a
    * doc is ~1e10 ids).
    *
    * Scale shape: one narrow projection plus one partial-aggregated
    * group-by on a 15-value key space. */
  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split", splitCol(col("doc_id")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))

  def trainSplitSql: String =
    s"""SELECT $SplitCaseSql AS split,
       |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM (SELECT lang, n_chars, $SplitBucketSql AS bucket
       |      FROM documents) b
       |GROUP BY 1, 2""".stripMargin

  /** LEAKAGE-SAFE train/validation/test split — [[trainSplit]]'s hash
    * assignment keyed by the near-duplicate COMPONENT representative
    * instead of the document id. Plain per-doc hashing puts ~1−(0.8²+0.1²+0.1²)
    * ≈ 34% of any near-dup pair across split boundaries — the textbook
    * eval-contamination bug: the model trains on a near-copy of its test
    * document and the benchmark stops measuring generalization. Keying the
    * hash on [[graft.dedup.DedupQueries.dedupComponents]]' canonical id
    * makes split membership a CLUSTER property: every near-duplicate lands
    * in the same split, provably (members share the key the hash reads).
    * Documents in no near-dup pair keep their own id as representative, so
    * on a duplicate-free corpus this IS [[trainSplit]]'s assignment.
    *
    * Emitted per document (id, representative, bucket, split) — the
    * audit-grade form: the invariant "same rep ⇒ same split" is checkable
    * row-by-row, and the suite checks it on every component.
    *
    * Scale shape: the component labels are the near-dup EDGE closure —
    * |near-dup docs| rows, minuscule next to the corpus — attached by a
    * size-gated join (broadcast here; shuffled-hash on doc_id past the
    * gate); the split itself stays the one narrow hash projection. */
  def trainSplitGrouped(spark: SparkSession, dir: String): DataFrame = {
    val comp = graft.Caches.persisted(
      graft.dedup.DedupQueries.dedupComponents(spark, dir)
        .select(col("doc_id"), col("canonical")))
    val bucket = ((col("rep_id") * lit(1000003L)) % lit(999999937L)) % lit(100L)
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(graft.Plans.broadcastIfSmall(comp,
        graft.Memo.countOf(spark, s"split-comp/$dir", comp)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("canonical"), col("doc_id")).as("rep_id"))
      .withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "validation").otherwise("test"))
  }

  def trainSplitGroupedSql: String =
    s"""WITH comp AS (${graft.dedup.DedupQueries.dedupComponentsSql}),
       |a AS (
       |  SELECT d.doc_id, coalesce(c.canonical, d.doc_id) AS rep_id
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |b AS (
       |  SELECT doc_id, rep_id,
       |    ((rep_id * 1000003) % 999999937) % 100 AS bucket
       |  FROM a)
       |SELECT doc_id, rep_id, CAST(bucket AS BIGINT) AS bucket,
       |  $SplitCaseSql AS split
       |FROM b""".stripMargin

  /** Per-stratum sampling rates for [[stratifiedSample]] (percent kept):
    * the corpus-rebalancing knob — downsample overrepresented strata,
    * keep the rest whole. */
  private val StratumRates: Seq[(String, Long)] =
    Seq("en" -> 40L, "de" -> 70L, "fr" -> 70L)
  private val DefaultRate = 100L

  /** Deterministic stratified sampling by language: a document survives iff
    * its [[splitCol]]-style hash bucket falls below its stratum's rate —
    * the same no-RNG, no-state, repartition-stable scheme as
    * [[trainSplit]], so the sample is reproducible across engines and
    * re-runs (the property that makes dataset ablations comparable).
    * Reported per stratum: population, kept count, and the kept token mass.
    *
    * Scale shape: one narrow projection (hash + rate lookup inlined as a
    * when-chain over the tiny literal rate table) and one 5-key partial-agg
    * group-by; no shuffle touches text. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = ((col("doc_id") * lit(1000003L)) % lit(999999937L)) % lit(100L)
    val rate = StratumRates.foldRight(lit(DefaultRate): Column) {
      case ((lang, r), acc) => when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .withColumn("kept", bucket < rate)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), size(split(col("text"), " ")).cast("bigint"))
          .otherwise(0L)).as("kept_tokens"))
  }

  def stratifiedSampleSql: String = {
    val cases = StratumRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN kept THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT)
       |    AS kept_tokens
       |FROM (SELECT lang, text,
       |        $SplitBucketSql < (CASE $cases ELSE $DefaultRate END) AS kept
       |      FROM documents) s
       |GROUP BY lang""".stripMargin
  }

  private val SampleK = 100

  /** Fixed-size deterministic uniform sample — bottom-k by md5(doc_id):
    * the k documents whose id-hash sorts lowest. The third member of the
    * sampling family (rate-based [[stratifiedSample]], bucket-based
    * [[trainSplit]]) covers the case those can't: an EXACTLY-k sample
    * that is stable under reruns, engine-portable (both engines hash the
    * same decimal string) and composable — the bottom-k of a union is the
    * bottom-k of the per-shard bottom-k's, the mergeable-summary property
    * that makes it one `TakeOrderedAndProject` at any scale: each
    * partition keeps its local k, the driver merges k × partitions rows,
    * no global sort ever materializes. */
  def docSampleBottomK(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(SampleK)
      .select(col("doc_id"), col("source"), col("lang"))

  def docSampleBottomKSql: String =
    s"""SELECT doc_id, source, lang
       |FROM (SELECT doc_id, source, lang, md5(CAST(doc_id AS VARCHAR)) AS h
       |      FROM documents)
       |ORDER BY h, doc_id LIMIT $SampleK""".stripMargin

  /** Fixed-size WEIGHTED sample without replacement — sequential Poisson
    * sampling (Ohlsson 1998): each document draws a deterministic uniform
    * u from its id-hash and ranks by u / weight; the bottom-k ranks are
    * the sample, so heavy documents (weight = n_chars, the "sample
    * long documents proportionally more" curation knob) win
    * proportionally more of the k slots. The fourth member of the
    * sampling family: [[docSampleBottomK]] is its uniform special case
    * (weight ≡ 1).
    *
    * Engine-exactness is the design constraint solved here: the textbook
    * A-ES key (-ln u / w) is transcendental, and ln differs across engines
    * in the last ULP — enough to flip a boundary rank. Sequential Poisson
    * ranks by u / w instead: u = (h + 0.5) with h the 52-bit md5 prefix
    * (the constant 2⁻⁵² scale cancels in ranking), so the key is one
    * integer-valued double and one correctly-rounded IEEE division —
    * bit-identical in any engine, ties broken by doc_id.
    *
    * Same scale shape as bottom-k: mergeable (per-shard bottom-k then
    * merge), one TakeOrderedAndProject, no global sort. */
  def docSampleWeighted(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        ((conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("double") + 0.5) / col("n_chars")).as("rank_key"))
      .orderBy(col("rank_key"), col("doc_id"))
      .limit(SampleK)
      .select(col("doc_id"), col("source"), col("n_chars"))

  def docSampleWeightedSql: String =
    s"""SELECT doc_id, source, n_chars
       |FROM (SELECT doc_id, source, n_chars,
       |        (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
       |              AS DOUBLE) + 0.5) / n_chars AS rank_key
       |      FROM documents)
       |ORDER BY rank_key, doc_id LIMIT $SampleK""".stripMargin

  /** The training-prep composition — the downstream half of the corpus
    * story ([[CorpusPipeline]] is the cleaning half): exclude documents
    * contaminated by the benchmark ([[decontaminate]]), gate out repetitive
    * boilerplate ([[docRepetition]]), then account the survivors per
    * deterministic train/val/test split ([[trainSplit]]) — the numbers a
    * dataset card reports per split. One lazy plan; the oracle recomposes
    * the same stage SQL.
    *
    * Scale shape: both exclusion sets are flagged minorities anti-joined on
    * doc_id (partial-agg upstream, keyed shuffle, no text); the benchmark
    * gram join inside [[decontaminate]] stays broadcast; the final
    * aggregation is a 15-key group-by. */
  /** The composed Gopher-style document gate (Rae et al. 2022 Table A1
    * shape): one keep/drop verdict per document from the three independent
    * signal families — heuristic quality ([[graft.text.TextQueries
    * .textQuality]]: token count, stopword ratio, token length), unigram
    * repetition ([[docRepetition]]) and n-gram repetition
    * ([[graft.pipelines.DataSelection.ngramRepetition]]). This is the shape
    * a production filter runs: signals computed independently (each a
    * per-document narrow pass + partial aggs), verdict as one conjunctive
    * doc_id-keyed join. shuffle_hash hints: every side is
    * aggregate-derived (no stats — Catalyst would sort-merge), and a
    * doc_id-keyed join needs no sort. */
  def gopherFilter(spark: SparkSession, dir: String): DataFrame = {
    val qual = graft.text.TextQueries.textQuality(spark, dir)
      .select(col("doc_id"), col("is_quality"))
    val uni = docRepetition(spark, dir)
      .select(col("doc_id"), col("is_repetitive").as("uni_repetitive"))
    val ngram = graft.pipelines.DataSelection.ngramRepetition(spark, dir)
      .select(col("doc_id"), col("is_repetitive").as("ngram_repetitive"))
    qual.join(uni.hint("shuffle_hash"), Seq("doc_id"))
      .join(ngram.hint("shuffle_hash"), Seq("doc_id"))
      .withColumn("keep",
        col("is_quality") && !col("uni_repetitive") && !col("ngram_repetitive"))
  }

  def gopherFilterSql: String =
    s"""WITH q AS (SELECT doc_id, is_quality FROM (${graft.text.TextQueries.textQualitySql}) tq),
       |uni AS (SELECT doc_id, is_repetitive AS uni_repetitive FROM ($docRepetitionSql) dr),
       |ng AS (SELECT doc_id, is_repetitive AS ngram_repetitive
       |       FROM (${graft.pipelines.DataSelection.ngramRepetitionSql}) nr)
       |SELECT doc_id, is_quality, uni_repetitive, ngram_repetitive,
       |  (is_quality AND NOT uni_repetitive AND NOT ngram_repetitive) AS keep
       |FROM q JOIN uni USING (doc_id) JOIN ng USING (doc_id)""".stripMargin

  /** Filter FUNNEL report over [[gopherFilter]]'s rule pipeline — the
    * dataset-card table every production filter ships (Gopher Table A1
    * reports exactly this): per stage, how many documents entered, how
    * many survived, and how many THIS rule killed (among survivors of the
    * earlier stages — attribution is sequential, so the killed counts sum
    * to exactly n_docs − n_kept with no double-counting, unlike
    * independent per-rule kill rates which overlap). Rule order is the
    * pipeline's: heuristic quality, then unigram repetition, then n-gram
    * repetition.
    *
    * Scale shape: [[gopherFilter]]'s per-doc verdict plan (narrow passes +
    * doc_id-keyed joins) feeding ONE fully partial-aggregable 7-sum
    * reduction to a single row, exploded to the 3 report rows driver-free. */
  def filterFunnel(spark: SparkSession, dir: String): DataFrame =
    gopherFilter(spark, dir)
      .agg(
        count(lit(1)).as("n0"),
        sum(when(col("is_quality"), 1L).otherwise(0L)).as("p1"),
        sum(when(col("is_quality") && !col("uni_repetitive"), 1L).otherwise(0L)).as("p2"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("p3"))
      .select(explode(array(
        struct(lit(1L).as("stage"), lit("quality").as("rule"),
          col("n0").as("n_in"), col("p1").as("n_out")),
        struct(lit(2L).as("stage"), lit("unigram_repetition").as("rule"),
          col("p1").as("n_in"), col("p2").as("n_out")),
        struct(lit(3L).as("stage"), lit("ngram_repetition").as("rule"),
          col("p2").as("n_in"), col("p3").as("n_out")))).as("r"))
      .select(col("r.stage").as("stage"), col("r.rule").as("rule"),
        col("r.n_in").as("n_in"), col("r.n_out").as("n_out"),
        (col("r.n_in") - col("r.n_out")).as("n_killed"))

  def filterFunnelSql: String =
    s"""WITH g AS ($gopherFilterSql),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n0,
       |    CAST(sum(CASE WHEN is_quality THEN 1 ELSE 0 END) AS BIGINT) AS p1,
       |    CAST(sum(CASE WHEN is_quality AND NOT uni_repetitive THEN 1 ELSE 0 END) AS BIGINT) AS p2,
       |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS p3
       |  FROM g)
       |SELECT CAST(1 AS BIGINT) AS stage, 'quality' AS rule, n0 AS n_in, p1 AS n_out, n0 - p1 AS n_killed FROM s
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), 'unigram_repetition', p1, p2, p1 - p2 FROM s
       |UNION ALL
       |SELECT CAST(3 AS BIGINT), 'ngram_repetition', p2, p3, p2 - p3 FROM s""".stripMargin

  /** Cross-split n-gram LEAKAGE rate — the memorization-leak audit run
    * after any split assignment: of the distinct word 5-grams in each
    * held-out split, what fraction also occurs in the train split? Plain
    * per-doc hash splitting ([[trainSplit]]) leaves near-duplicate text
    * straddling the boundary, and this measures exactly how much: the
    * companion diagnostic to [[trainSplitGrouped]] (which fixes the doc-
    * level cause) and [[decontaminate]] (the benchmark-side analog; this
    * one audits the corpus's own eval splits).
    *
    * Scale shape: one narrow gram explode per side into distinct-gram
    * partial aggs; the train gram set attaches by a size-gated join
    * (vocabulary-scale — broadcast here, shuffled-hash on `gram` past the
    * gate); the report is a 2-row rollup. */
  def splitGramLeakage(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documentsSpread(spark, dir)
      .select(splitCol(col("doc_id")).as("split"),
        explode(ngrams(col("text"), NGram)).as("gram"))
    val train = graft.Caches.persisted(
      grams.filter(col("split") === "train").select(col("gram")).distinct()
        .withColumn("hit", lit(1L)))
    val eval = grams.filter(col("split") =!= "train")
      .select(col("split"), col("gram")).distinct()
    eval.join(graft.Plans.broadcastIfSmall(train,
        graft.Memo.countOf(spark, s"split-train-grams/$dir", train)), Seq("gram"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_leaked"))
      .withColumn("leak_ppm", expr("n_leaked * 1000000L div n_grams"))
  }

  def splitGramLeakageSql: String =
    s"""WITH tok AS (
       |  SELECT $SplitBucketSql AS bucket, string_split(text, ' ') AS t
       |  FROM documents),
       |g AS (
       |  SELECT DISTINCT $SplitCaseSql AS split,
       |    array_to_string(t[i:i+${NGram - 1}], ' ') AS gram
       |  FROM tok, UNNEST(range(1, len(t) - ${NGram - 2})) AS u(i)),
       |tr AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
       |ev AS (SELECT DISTINCT split, gram FROM g WHERE split <> 'train')
       |SELECT ev.split, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
       |  CAST(sum(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |    // count(*) AS BIGINT) AS leak_ppm
       |FROM ev LEFT JOIN tr ON ev.gram = tr.gram
       |GROUP BY ev.split""".stripMargin

  def trainingPipeline(spark: SparkSession, dir: String): DataFrame = {
    val contaminated = decontaminate(spark, dir).select(col("doc_id"))
    val repetitive = docRepetition(spark, dir)
      .filter(col("is_repetitive")).select(col("doc_id"))
    Tables.documents(spark, dir)
      .filter(col("source") =!= BenchmarkSource)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(repetitive, Seq("doc_id"), "left_anti")
      .withColumn("split", splitCol(col("doc_id")))
      .groupBy(col("split"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("bigint")).as("total_tokens"))
  }

  def trainingPipelineSql: String =
    s"""WITH deco AS ($decontaminateSql),
       |rep AS ($docRepetitionSql)
       |SELECT $SplitCaseSql AS split,
       |  lang, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM (SELECT lang,
       |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |        $SplitBucketSql AS bucket
       |      FROM documents d
       |      WHERE d.source <> '$BenchmarkSource'
       |        AND d.doc_id NOT IN (SELECT doc_id FROM deco)
       |        AND d.doc_id NOT IN (SELECT doc_id FROM rep WHERE is_repetitive)) b
       |GROUP BY 1, 2""".stripMargin

  private val ChunkLen = 64
  private val ChunkStride = 48

  /** Overlapping token-window chunking (RAG / embedding prep): each
    * document yields windows of [[ChunkLen]] tokens at stride
    * [[ChunkStride]] (16-token overlap), the unit a retrieval index or an
    * embedding model actually consumes. The last window is the possibly-
    * short tail; a document shorter than one window is one chunk. Emits
    * (doc_id, chunk_idx, chunk text, token count).
    *
    * Scale shape: purely narrow — one generate per document, no shuffle at
    * all (the driver-side dump is the only sink); at 100 TB this is the
    * map-only pass that feeds the embedding UDF batch. */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"),
        // last window index: ceil(max(n - len, 0) / stride) via integer div
        explode(sequence(lit(0), expr(
          s"(greatest(size(t) - $ChunkLen, 0) + $ChunkStride - 1) div $ChunkStride").cast("int")))
          .as("chunk_idx"))
      .select(
        col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
        array_join(slice(col("t"), col("chunk_idx") * ChunkStride + 1, lit(ChunkLen)), " ")
          .as("chunk"),
        least(size(col("t")) - col("chunk_idx") * ChunkStride, lit(ChunkLen))
          .cast("bigint").as("n_tokens"))

  def docChunksSql: String =
    s"""SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       |  array_to_string(t[i * $ChunkStride + 1 : i * $ChunkStride + $ChunkLen], ' ') AS chunk,
       |  CAST(least(len(t) - i * $ChunkStride, $ChunkLen) AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d,
       |     UNNEST(range(0, 1 + (greatest(len(t) - $ChunkLen, 0) + $ChunkStride - 1) // $ChunkStride))
       |       AS u(i)""".stripMargin

  /** Corpus-level top-50 word bigrams with a total tie-break (count desc,
    * then bigram asc), so the selected set is exact and order-free.
    *
    * Scale shape: partial-aggregated count per bigram, then
    * `TakeOrderedAndProject` — each partition keeps its local top-50 and
    * the driver merges 50 × partitions rows; no global sort ever
    * materializes (same pattern as `lineitem_topk`). */
  def bigramTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .select(explode(ngrams(col("text"), 2, distinct = false)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc)
      .limit(50)

  def bigramTopkSql: String =
    """SELECT array_to_string(t[i:i+1], ' ') AS bigram, count(*) AS cnt
      |FROM (SELECT string_split(text, ' ') AS t FROM documents) tok,
      |     UNNEST(range(1, len(t))) AS u(i)
      |GROUP BY 1
      |ORDER BY cnt DESC, bigram ASC
      |LIMIT 50""".stripMargin

  /** Weight-vector width of the hashed linear scorer: 2^12 buckets. Real
    * deployments use 2^18–2^21; the shape is identical, only the broadcast
    * table grows (still O(model), never O(corpus)). */
  private val QcBuckets = 4096

  /** Model-based quality filtering, the fastText/DCLM-classifier shape:
    * score = Σ_tokens w[hash(token) mod 2^12] with the weight vector as a
    * BROADCAST table — the deployment form of "run a linear text classifier
    * over a 100 TB corpus". The pipeline shape is the real thing end to
    * end: feature hashing (Weinberger et al. 2009) via the engine-portable
    * md5-prefix token hash (shared with [[graft.dedup.DedupQueries]]'s
    * SimHash), per-(doc, bucket) partial-agg counts so the join input is
    * ≤ |buckets| rows per doc, the model joined broadcast on bucket id,
    * and one integer-exact per-doc reduction. The WEIGHTS are a documented
    * deterministic placeholder (an LCG over the bucket id, ±128 range) —
    * trained parameters are a drop-in replacement table; nothing else
    * changes. Like the multimodal codec stub, the contract is that the
    * plumbing is real and exactly tested, not that the model is smart.
    *
    * Everything is int64 (counts × |w|≤128 × docs ≪ 2^63), so the verdict
    * and score are bit-exact across engines and partitionings; `keep` is
    * the raw_score ≥ 0 gate (hash weights are sign-symmetric, so the
    * corpus splits non-degenerately). */
  /** Session-memoized per-document score table — SEVEN registered queries
    * (the classifier itself, curriculum phases, calibration, AUC, isotonic,
    * PR curve, conformal, plus the filter-correlation diagnostic) derive
    * from this one deterministic per-doc pass; the memo is the session
    * analog of the scored-corpus table a production pipeline stores next to
    * the model (the [[graft.Memo]] quantizer/LM pattern — determinism makes
    * a memoized result bit-identical to a rebuild). Consumers project it,
    * never persist it directly, so the harness drain cannot evict it. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.countedArtifact(spark, s"qc-scores/$dir")(
      qualityClassifierFresh(spark, dir))._1

  private def qualityClassifierFresh(spark: SparkSession, dir: String): DataFrame = {
    // the "model": bucket → int weight in [-128, 127], LCG-scrambled
    val weights = spark.range(QcBuckets.toLong)
      .select(col("id").as("bucket"),
        (expr("((id * 1103515245 + 12345) >> 16) % 256") - 128L).as("w"))
    val perBucket = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"),
        expr(s"cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint) & ${QcBuckets - 1}").as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    perBucket.join(broadcast(weights), "bucket")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("w")).as("raw_score"))
      .select(col("doc_id"), col("n_tokens"), col("raw_score"),
        when(col("raw_score") >= 0L, 1L).otherwise(0L).as("keep"))
  }

  /** Curriculum bucketing: split the corpus into three quality phases at
    * EXACT score terciles — the data-ordering step of curriculum training
    * (easy/medium/hard by classifier score), where "exact" means the cuts
    * are the smallest scores whose cumulative count reaches ⌈n/3⌉ and
    * ⌈2n/3⌉ (ties share a phase, so the split is a pure function of the
    * score multiset — deterministic under any partitioning).
    *
    * Scale shape: the corpus collapses to a SCORE HISTOGRAM (one
    * partial-agg shuffle; rows = distinct scores, orders of magnitude
    * below the corpus); the cumulative window runs over that histogram,
    * never the corpus, and the two cut scores broadcast back onto the
    * per-doc score pass as a 1-row crossJoin. Integer comparisons
    * (`3·cum ≥ n`, `3·cum ≥ 2n`) keep both engines' cuts bit-identical —
    * no float quantile semantics to reconcile. */
  def curriculumPhases(spark: SparkSession, dir: String): DataFrame = {
    val scores = qualityClassifier(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("raw_score"))
    val hist = scores.groupBy(col("raw_score")).agg(count(lit(1)).as("c"))
    // single-partition window over DISTINCT SCORES only (documented above)
    val wCum = Window.orderBy(col("raw_score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .agg(
        min(when(col("cum") * 3 >= col("n"), col("raw_score"))).as("c1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("raw_score"))).as("c2"))
    scores
      .crossJoin(broadcast(cuts))
      .withColumn("phase",
        when(col("raw_score") <= col("c1"), 1L)
          .when(col("raw_score") <= col("c2"), 2L)
          .otherwise(3L))
      .groupBy(col("phase"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("phase_tokens"),
        min(col("raw_score")).as("min_score"),
        max(col("raw_score")).as("max_score"))
      .orderBy(col("phase"))
  }

  def curriculumPhasesSql: String =
    s"""WITH scored AS (
       |  ${qualityClassifierSql.replace("\n", "\n  ")}),
       |hist AS (
       |  SELECT raw_score, count(*) AS c FROM scored GROUP BY raw_score),
       |cum AS (
       |  SELECT raw_score,
       |    sum(c) OVER (ORDER BY raw_score ROWS UNBOUNDED PRECEDING) AS cum,
       |    sum(c) OVER () AS n
       |  FROM hist),
       |cuts AS (
       |  SELECT
       |    min(CASE WHEN cum * 3 >= n THEN raw_score END) AS c1,
       |    min(CASE WHEN cum * 3 >= n * 2 THEN raw_score END) AS c2
       |  FROM cum)
       |SELECT phase, count(*)::BIGINT AS n_docs,
       |  sum(n_tokens)::BIGINT AS phase_tokens,
       |  min(raw_score)::BIGINT AS min_score,
       |  max(raw_score)::BIGINT AS max_score
       |FROM (
       |  SELECT s.*, CASE WHEN raw_score <= c1 THEN 1
       |                   WHEN raw_score <= c2 THEN 2
       |                   ELSE 3 END::BIGINT AS phase
       |  FROM scored s CROSS JOIN cuts)
       |GROUP BY phase
       |ORDER BY phase""".stripMargin

  /** Calibration curve (reliability diagram) of the
    * [[qualityClassifier]] score against the independent heuristic
    * quality gate ([[graft.text.TextQueries.textQuality]]'s `is_quality`)
    * — per score decile: how often does the gate agree? The model-eval
    * step every production classifier ships with, as an oracle-checked
    * operator. Decile cuts are EXACT: the 9 cut scores are the smallest
    * scores whose cumulative count reaches k·n/10 (ties share a bin, so
    * the binning is a pure function of the score multiset — deterministic
    * under any partitioning, the [[curriculumPhases]] tercile pattern
    * widened to 10); agreement is an integer ppm.
    *
    * Scale shape: scores collapse to a score HISTOGRAM for the cuts (one
    * partial-agg shuffle, rows = distinct scores ≪ corpus; the cumulative
    * window runs over that histogram only); the 1-row cut table broadcasts
    * back; the label attaches by one doc_id-keyed join; output is 10
    * rows. */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    // no extra persist: both consumers probe the session-memoized score table
    val scores = qualityClassifier(spark, dir).select(col("doc_id"), col("raw_score"))
    val hist = scores.groupBy(col("raw_score")).agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("raw_score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .agg(
        min(when(col("cum") * 10 >= col("n") * 1, col("raw_score"))).as("c1"),
        (2 to 9).map(k =>
          min(when(col("cum") * 10 >= col("n") * k, col("raw_score"))).as(s"c$k")): _*)
    val labels = graft.text.TextQueries.textQuality(spark, dir)
      .select(col("doc_id"), when(col("is_quality"), 1L).otherwise(0L).as("lbl"))
    val binned = scores
      .crossJoin(broadcast(cuts))
      .withColumn("bin",
        when(col("raw_score") <= col("c1"), 1L)
          .when(col("raw_score") <= col("c2"), 2L)
          .when(col("raw_score") <= col("c3"), 3L)
          .when(col("raw_score") <= col("c4"), 4L)
          .when(col("raw_score") <= col("c5"), 5L)
          .when(col("raw_score") <= col("c6"), 6L)
          .when(col("raw_score") <= col("c7"), 7L)
          .when(col("raw_score") <= col("c8"), 8L)
          .when(col("raw_score") <= col("c9"), 9L)
          .otherwise(10L))
    binned.join(labels, "doc_id")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("lbl")).as("n_quality"),
        min(col("raw_score")).as("min_score"),
        max(col("raw_score")).as("max_score"))
      .withColumn("quality_ppm", expr("n_quality * 1000000L div n_docs"))
  }

  def qualityCalibrationSql: String = {
    val caseBin = (1 to 9).map(k =>
      s"WHEN raw_score <= c$k THEN $k").mkString("CASE ", " ", " ELSE 10 END")
    val cutCols = (1 to 9).map(k =>
      s"min(CASE WHEN cum * 10 >= n * $k THEN raw_score END) AS c$k").mkString(",\n    ")
    s"""WITH scored AS (
       |  ${qualityClassifierSql.replace("\n", "\n  ")}),
       |hist AS (SELECT raw_score, count(*) AS c FROM scored GROUP BY raw_score),
       |cum AS (
       |  SELECT raw_score,
       |    sum(c) OVER (ORDER BY raw_score ROWS UNBOUNDED PRECEDING) AS cum,
       |    sum(c) OVER () AS n
       |  FROM hist),
       |cuts AS (
       |  SELECT
       |    $cutCols
       |  FROM cum),
       |lbl AS (
       |  SELECT doc_id,
       |    CASE WHEN ${"(n_tokens >= 10 AND n_stop / n_tokens < 0.5 AND n_letters / n_tokens >= 3)"}
       |      THEN 1 ELSE 0 END AS lbl
       |  FROM (
       |    SELECT doc_id,
       |      len(toks) AS n_tokens,
       |      len(list_filter(toks, t -> list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'], t))) AS n_stop,
       |      length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS n_letters
       |    FROM (SELECT doc_id, text,
       |            list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), t -> t <> '') AS toks
       |          FROM documents) s) q),
       |binned AS (
       |  SELECT s.doc_id, s.raw_score, $caseBin AS bin
       |  FROM scored s CROSS JOIN cuts)
       |SELECT CAST(bin AS BIGINT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(lbl) AS BIGINT) AS n_quality,
       |  CAST(min(raw_score) AS BIGINT) AS min_score,
       |  CAST(max(raw_score) AS BIGINT) AS max_score,
       |  CAST(sum(lbl) * 1000000 // count(*) AS BIGINT) AS quality_ppm
       |FROM binned JOIN lbl USING (doc_id)
       |GROUP BY bin""".stripMargin
  }

  def qualityClassifierSql: String =
    s"""WITH w AS (
       |  SELECT CAST(b AS BIGINT) AS bucket,
       |    ((b * 1103515245 + 12345) >> 16) % 256 - 128 AS w
       |  FROM range(${QcBuckets}) t(b)),
       |pb AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(tok), 1, 15))::BIGINT & ${QcBuckets - 1} AS bucket,
       |    count(*) AS cnt
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) e
       |  WHERE tok <> ''
       |  GROUP BY doc_id, bucket)
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |  CAST(sum(cnt * w) AS BIGINT) AS raw_score,
       |  CAST(CASE WHEN sum(cnt * w) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM pb JOIN w USING (bucket)
       |GROUP BY doc_id""".stripMargin

  /** Exact ROC AUC of the [[qualityClassifier]] score against the
    * English-language label — the Mann-Whitney U statistic with midrank
    * tie handling, the threshold-free companion to [[qualityCalibration]]'s
    * reliability diagram. The label choice is the standard LANGUAGE-BIAS
    * probe: corpus quality classifiers are notorious for silently encoding
    * "English-like" (Dodge et al. 2021 on C4's filters); AUC against the
    * language tag quantifies exactly that leakage — 0.5 = score carries no
    * language signal, anything else = the keep gate shifts the mixture.
    * (The heuristic `is_quality` gate is NOT usable as the label here: it
    * passes every driver-generated document, and a one-class AUC is 0/0.)
    *
    * Exactness: AUC = (#concordant + ½·#tied) / (n_pos·n_neg) over all
    * pos×neg pairs. Doubling clears the half: `2U = Σ_scores
    * c_pos·(2·neg_below + c_neg_same)`, so
    * `auc_ppm = 10⁶·2U div (2·n_pos·n_neg)` is engine-exact with zero
    * float ranks. The pair products and their sum carry in DECIMAL(38,0)
    * ([[AucPpmExpr]] + the decimal-promoted u2 term): an int64 pipeline
    * wraps first at the 10⁶ scale-up (u2·10⁶ past n ≈ 4·10⁶ docs!) and
    * then at 2U itself past n ≈ 2·10⁹ — both sign-flipping silently
    * outside ANSI. The decimal form is exact to n ≈ 10¹⁶ docs and ERRORS
    * loudly past 38 digits; OverflowPolicySuite pins the above-int64
    * region against BigInt ground truth. The quotient (≤ 10⁶) is bigint
    * either way, so results are value-identical in range.
    *
    * Scale shape: the corpus collapses to a SCORE HISTOGRAM carrying
    * per-score (c_pos, c_neg) — one doc_id-keyed label join + one
    * partial-agg shuffle; rows = distinct scores ≪ corpus. The cumulative
    * window and the final 1-row reduction run over that histogram only,
    * so the single-partition window is |distinct scores|-sized by
    * construction (the [[curriculumPhases]] pattern). */
  /** `10⁶·2U div (2·n_pos·n_neg)` with every operand promoted to
    * DECIMAL(38,0) before its first multiply (see [[qualityAuc]]'s
    * exactness note); quotient ≤ 10⁶ returns as bigint. Factored out for
    * OverflowPolicySuite's above-int64 fixtures. */
  private[graft] val AucPpmExpr =
    "cast(u2 as decimal(38,0)) * 1000000 div (2 * cast(n_pos as decimal(38,0)) * n_neg)"

  def qualityAuc(spark: SparkSession, dir: String): DataFrame = {
    val scores = qualityClassifier(spark, dir).select(col("doc_id"), col("raw_score"))
    val labels = Tables.documents(spark, dir)
      .select(col("doc_id"), when(col("lang") === "en", 1L).otherwise(0L).as("lbl"))
    val hist = scores.join(labels, "doc_id")
      .groupBy(col("raw_score"))
      .agg(sum(col("lbl")).as("c_pos"),
        sum(lit(1L) - col("lbl")).as("c_neg"))
    val wBelow = Window.orderBy(col("raw_score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("neg_below", coalesce(sum(col("c_neg")).over(wBelow), lit(0L)))
      .agg(
        sum(col("c_pos")).as("n_pos"),
        sum(col("c_neg")).as("n_neg"),
        sum(col("c_pos").cast("decimal(38,0)")
          * (lit(2L) * col("neg_below") + col("c_neg"))).as("u2"))
      .select(col("n_pos"), col("n_neg"),
        expr(AucPpmExpr).as("auc_ppm"))
  }

  def qualityAucSql: String =
    s"""WITH scored AS (
       |  ${qualityClassifierSql.replace("\n", "\n  ")}),
       |lbl AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lbl
       |  FROM documents),
       |hist AS (
       |  SELECT raw_score, sum(lbl) AS c_pos, sum(1 - lbl) AS c_neg
       |  FROM scored JOIN lbl USING (doc_id) GROUP BY raw_score),
       |cum AS (
       |  SELECT c_pos, c_neg,
       |    COALESCE(sum(c_neg) OVER (ORDER BY raw_score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
       |  FROM hist)
       |SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
       |  CAST(sum(c_neg) AS BIGINT) AS n_neg,
       |  CAST(sum(c_pos * (2 * neg_below + c_neg)) * 1000000
       |    // (2 * sum(c_pos) * sum(c_neg)) AS BIGINT) AS auc_ppm
       |FROM cum""".stripMargin

  /** Precision/recall operating curve of the quality classifier — one row
    * per DISTINCT score threshold t (predict positive ⇔ raw_score ≥ t):
    * predicted-positive count, true positives, precision, recall, F1 —
    * the table a data curator reads to pick the keep threshold (AUC says
    * whether the score ranks; THIS says what a given cut costs). The
    * companion operating-point view to [[qualityAuc]] /
    * [[qualityCalibration]], like [[graft.similarity.SimilarityQueries
    * .annRecallCurve]] is to `ann_recall`.
    *
    * Exactness: every number is a cumulative integer count over the
    * distinct-score histogram; precision/recall/F1 floor to ppm
    * (F1 = 2·TP div (PP + P) — the harmonic mean's exact integer form).
    *
    * Scale shape: the corpus contributes one classifier scoring pass into
    * a distinct-score HISTOGRAM (saturating, the isotonic/AUC argument);
    * the cumulative window and per-threshold arithmetic run over that
    * bounded table. */
  def qualityPrCurve(spark: SparkSession, dir: String): DataFrame = {
    val scores = qualityClassifier(spark, dir).select(col("doc_id"), col("raw_score"))
    val labels = Tables.documents(spark, dir)
      .select(col("doc_id"), when(col("lang") === "en", 1L).otherwise(0L).as("lbl"))
    val hist = scores.join(labels, "doc_id")
      .groupBy(col("raw_score"))
      .agg(sum(col("lbl")).as("c_pos"), count(lit(1)).as("c_all"))
    // cumulative from the highest score down = counts with raw_score >= t
    val wGe = Window.orderBy(col("raw_score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("tp", sum(col("c_pos")).over(wGe))
      .withColumn("n_pred_pos", sum(col("c_all")).over(wGe))
      .crossJoin(broadcast(hist.agg(sum(col("c_pos")).as("n_pos"))))
      .select(col("raw_score").as("threshold"), col("n_pred_pos"), col("tp"),
        expr("tp * 1000000L div n_pred_pos").as("precision_ppm"),
        expr("tp * 1000000L div n_pos").as("recall_ppm"),
        expr("2L * tp * 1000000L div (n_pred_pos + n_pos)").as("f1_ppm"))
  }

  def qualityPrCurveSql: String =
    s"""WITH scored AS (
       |  ${qualityClassifierSql.replace("\n", "\n  ")}),
       |lbl AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lbl
       |  FROM documents),
       |hist AS (
       |  SELECT raw_score, CAST(sum(lbl) AS BIGINT) AS c_pos,
       |    CAST(count(*) AS BIGINT) AS c_all
       |  FROM scored JOIN lbl USING (doc_id) GROUP BY raw_score),
       |cum AS (
       |  SELECT raw_score,
       |    sum(c_pos) OVER (ORDER BY raw_score DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
       |    sum(c_all) OVER (ORDER BY raw_score DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_pred_pos
       |  FROM hist),
       |tot AS (SELECT sum(c_pos) AS n_pos FROM hist)
       |SELECT raw_score AS threshold,
       |  CAST(n_pred_pos AS BIGINT) AS n_pred_pos, CAST(tp AS BIGINT) AS tp,
       |  CAST(tp * 1000000 // n_pred_pos AS BIGINT) AS precision_ppm,
       |  CAST(tp * 1000000 // n_pos AS BIGINT) AS recall_ppm,
       |  CAST(2 * tp * 1000000 // (n_pred_pos + n_pos) AS BIGINT) AS f1_ppm
       |FROM cum, tot""".stripMargin

  /** Isotonic calibration (PAV) of the quality score against the English
    * label — the nonparametric upgrade to [[qualityCalibration]]'s fixed
    * decile reliability diagram: the pool-adjacent-violators fit is the
    * unique monotone least-squares map score → P(en), THE standard
    * calibrator when a model's scores rank well ([[qualityAuc]]) but their
    * magnitudes mean nothing.
    *
    * Algorithm (and why it parallelizes): per distinct score, the
    * (positives, total) histogram; then repeatedly pool every maximal run
    * of adjacent blocks whose means DECREASE. The PAV exchange lemma says
    * adjacent violators always share a final block, so pooling whole
    * violating runs in one round — a lag-window flag + a running-anchor
    * regroup, both distinct-score-sized — converges to the same unique fit
    * as the sequential textbook algorithm. Each round is one partial-agg
    * + one window over the block table, truncated and polled by
    * [[graft.Plans.untilStable]] like every until-stable loop here.
    *
    * Parity argument is UNIQUENESS, not replay: the oracle runs the
    * sequential small-step PAV (a single-path recursive CTE over a packed
    * stack) — a different algorithm whose fixpoint is the same projection;
    * block means are exact integer rationals in both (violation = one
    * cross-multiplied compare), and the one output division is the shared
    * `p·10⁶ div n` snap. Score cardinality bounds everything: the DP table,
    * the windows, the recursion — all saturate with the score RANGE, not
    * the corpus. */
  /** The final `p·10⁶ div n` snap over a pooled block's positive count:
    * fp is an int64 count whose 10⁶ scale-up costs the same 20 bits the
    * round-12 ceiling policy removed from [[AucPpmExpr]], so the multiply
    * is promoted to DECIMAL(38,0) (`div` lowers back to bigint; output
    * schema unchanged). Factored out for OverflowPolicySuite's
    * above-int64 fixture. */
  private[graft] val IsoPpmExpr = "cast(fp as decimal(38,0)) * 1000000 div fn"

  def qualityIsotonic(spark: SparkSession, dir: String): DataFrame = {
    val scores = qualityClassifier(spark, dir).select(col("doc_id"), col("raw_score"))
    val labels = Tables.documents(spark, dir)
      .select(col("doc_id"), when(col("lang") === "en", 1L).otherwise(0L).as("lbl"))
    // persisted: the distinct-score histogram seeds the block table AND
    // re-attaches the final fit — left lazy, the scores⋈labels join (a
    // documents scan) evaluates once per consumer
    val hist = graft.Caches.persisted(scores.join(labels, "doc_id")
      .groupBy(col("raw_score"))
      .agg(sum(col("lbl")).as("p"), count(lit(1)).as("n")))
    // The PAV iterate is the BLOCK table over the distinct-score
    // histogram (~2k rows at 8× corpus, saturating: 419 → 2088 measured
    // at 1×→8×, since scores quantize) — collapsed to ONE partition
    // before the rounds: the corpus contributes exactly one scoring pass
    // upstream, and iterating a table this small across 32-way stages
    // costs pure task-scheduling (the embed_top_direction lesson; the
    // Window.orderBy each round forced a single partition anyway).
    //
    // Loop economics (measured at sf0.1, 2080 distinct scores): the
    // score-level formulation converged in 14 rounds of geometric decay
    // (770 → 543 → … → 1 → 0 merges) at 3 driver jobs per round — wall
    // was all job latency, Σ executorRunTime ≈ 2 s of a ~5 s wall. So the
    // loop (a) iterates blocks directly instead of re-labeling the score
    // rows each round (drops the per-round join job; scores re-attach
    // ONCE at the end by an ordered last-non-null fill), and (b) pools
    // TWO levels per plan — each level merges every maximal violating run
    // into its anchor, and cascades only surface where a merge creates a
    // NEW violation, so two levels per checkpoint halve the rounds.
    // Fixpoint unchanged: pooling violating runs is the PAV exchange
    // step whichever table carries it; the fit is the unique monotone
    // least-squares projection either way (the oracle replays the
    // sequential textbook algorithm against it).
    val wOrd = Window.orderBy(col("lo"))
    val wRun = Window.orderBy(col("lo"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // mark each block that violates monotonicity vs its predecessor and
    // the anchor (nearest non-violating block at or before it)
    def flag(df: DataFrame): DataFrame = df
      .withColumn("v",
        coalesce(lag(col("bp"), 1).over(wOrd) * col("bn") >
          col("bp") * lag(col("bn"), 1).over(wOrd), lit(false)))
      .withColumn("anchor", max(when(!col("v"), col("blk"))).over(wRun))
    // pool every violating run into its anchor block (window sums keyed
    // by anchor; the anchor row survives as the merged block)
    def pool(df: DataFrame): DataFrame = {
      val wA = Window.partitionBy(col("anchor"))
      df.withColumn("bp2", sum(col("bp")).over(wA))
        .withColumn("bn2", sum(col("bn")).over(wA))
        .withColumn("lo2", min(col("lo")).over(wA))
        .filter(col("blk") === col("anchor"))
        .select(col("blk"), col("lo2").as("lo"),
          col("bp2").as("bp"), col("bn2").as("bn"))
    }
    val start = graft.Plans.truncate(hist
      .repartition(1)
      .select(
        row_number().over(Window.orderBy(col("raw_score"))).cast("bigint").as("blk"),
        col("raw_score").as("lo"), col("p").as("bp"), col("n").as("bn")))
    // stops at the first block table with no violation: pooling it again
    // would change nothing
    val blocks = graft.Plans.untilStable(start)(b => pool(flag(pool(flag(b)))))(
      flag(_).filter(col("v")))
    // re-attach scores to their final block: each block's lo IS a score,
    // so a left join seeds the block stats at run starts and an ordered
    // last-non-null fill propagates them across the run — one window,
    // no per-round score bookkeeping
    val wFill = Window.orderBy(col("raw_score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .join(blocks.select(col("lo").as("raw_score"),
        col("bp").as("sfp"), col("bn").as("sfn")), Seq("raw_score"), "left")
      .withColumn("fp", last(col("sfp"), ignoreNulls = true).over(wFill))
      .withColumn("fn", last(col("sfn"), ignoreNulls = true).over(wFill))
      .select(col("raw_score"), col("n"), col("p"),
        expr(IsoPpmExpr).as("iso_ppm"))
  }

  /** Oracle: sequential PAV as a single-path recursive CTE — the stack of
    * (scores-covered, positives, total) blocks packs into one VARCHAR
    * (top first); each step merges the top two blocks if they violate,
    * else pushes the next histogram cell; the terminal stack expands back
    * to per-score rows via cumulative block spans. */
  def qualityIsotonicSql: String =
    s"""WITH RECURSIVE scored AS (
       |  ${qualityClassifierSql.replace("\n", "\n  ")}),
       |lbl AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lbl
       |  FROM documents),
       |hist AS (
       |  SELECT raw_score, CAST(sum(lbl) AS BIGINT) AS p, CAST(count(*) AS BIGINT) AS n
       |  FROM scored JOIN lbl USING (doc_id) GROUP BY raw_score),
       |hl AS (
       |  SELECT list({'s': raw_score, 'p': p, 'n': n} ORDER BY raw_score) AS h,
       |    count(*) AS hn
       |  FROM hist),
       |pav(step, i, stack) AS (
       |  SELECT 0, 1, '' FROM hl
       |  UNION ALL
       |  SELECT step + 1,
       |    CASE WHEN viol THEN i ELSE i + 1 END,
       |    CASE WHEN viol THEN
       |      CAST(split_part(split_part(stack,'|',1),',',1)::BIGINT
       |           + split_part(split_part(stack,'|',2),',',1)::BIGINT AS VARCHAR)
       |      || ',' || CAST(split_part(split_part(stack,'|',1),',',2)::BIGINT
       |                     + split_part(split_part(stack,'|',2),',',2)::BIGINT AS VARCHAR)
       |      || ',' || CAST(split_part(split_part(stack,'|',1),',',3)::BIGINT
       |                     + split_part(split_part(stack,'|',2),',',3)::BIGINT AS VARCHAR)
       |      || regexp_replace(stack, '^[^|]*\\|[^|]*', '')
       |    ELSE
       |      '1,' || CAST(h[i].p AS VARCHAR) || ',' || CAST(h[i].n AS VARCHAR)
       |      || CASE WHEN stack = '' THEN '' ELSE '|' || stack END
       |    END
       |  FROM (
       |    SELECT step, i, stack,
       |      coalesce(try_cast(split_part(split_part(stack,'|',2),',',2) AS BIGINT)
       |               * try_cast(split_part(split_part(stack,'|',1),',',3) AS BIGINT)
       |        > try_cast(split_part(split_part(stack,'|',1),',',2) AS BIGINT)
       |          * try_cast(split_part(split_part(stack,'|',2),',',3) AS BIGINT), FALSE) AS viol
       |    FROM pav, hl) s, hl
       |  WHERE viol OR i <= hn),
       |terminal AS (SELECT stack FROM pav ORDER BY step DESC LIMIT 1),
       |blocks AS (
       |  -- bottom-first blocks with cumulative score spans
       |  SELECT
       |    sum(split_part(u.e.b, ',', 1)::BIGINT)
       |      OVER (ORDER BY u.e.j ROWS UNBOUNDED PRECEDING) AS hi_idx,
       |    split_part(u.e.b, ',', 1)::BIGINT AS span,
       |    split_part(u.e.b, ',', 2)::BIGINT AS fp,
       |    split_part(u.e.b, ',', 3)::BIGINT AS fn
       |  FROM (SELECT unnest(list_transform(range(1, len(l) + 1), j -> {'j': j, 'b': l[j]})) AS e
       |        FROM (SELECT list_reverse(string_split(stack, '|')) AS l FROM terminal) t) u),
       |idx AS (
       |  SELECT raw_score, p, n,
       |    row_number() OVER (ORDER BY raw_score) AS i
       |  FROM hist)
       |SELECT idx.raw_score, idx.n, idx.p,
       |  blocks.fp * 1000000 // blocks.fn AS iso_ppm
       |FROM idx JOIN blocks
       |  ON idx.i > blocks.hi_idx - blocks.span AND idx.i <= blocks.hi_idx""".stripMargin

  /** Split-conformal coverage check of the quality score as an English
    * detector — the distribution-free guarantee the eval family was
    * missing: calibrate a score threshold on one half (the α = 0.1 lower
    * quantile of the CALIBRATION English docs' scores, at the conformal
    * rank k = max(1, ⌊α·(n+1)⌋)), then measure on the OTHER half what
    * fraction of English docs clear it (conformal theory promises
    * ≥ 1−α − O(1/n) coverage for exchangeable data) and what fraction of
    * non-English docs are correctly below. Split = doc_id parity —
    * deterministic, engine-identical.
    *
    * Exactness: the threshold is an exact order statistic selected from
    * the calibration score histogram (cumulative window over DISTINCT
    * scores, the median_price two-phase device — never a global sort of
    * rows); coverage ratios are integer ppm.
    *
    * Scale shape: one classifier scoring pass, one histogram partial agg,
    * the 1-row threshold broadcast back, one counting pass. */
  def qualityConformal(spark: SparkSession, dir: String): DataFrame = {
    val scored = graft.Caches.persisted(
      qualityClassifier(spark, dir).select(col("doc_id"), col("raw_score"))
        .join(Tables.documents(spark, dir)
          .select(col("doc_id"), when(col("lang") === "en", 1L).otherwise(0L).as("en")), "doc_id")
        .withColumn("cal", (col("doc_id") % 2 === 0).cast("boolean")))
    val calHist = scored.filter(col("cal") && col("en") === 1L)
      .groupBy(col("raw_score")).agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("raw_score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = calHist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_cal", sum(col("c")).over(
        Window.orderBy(col("raw_score"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("k", expr("greatest(1L, (n_cal + 1) div 10)"))
      .filter(col("cum") >= col("k"))
      .orderBy(col("raw_score")).limit(1)
      .select(col("raw_score").as("threshold"), col("n_cal"), col("k"))
    scored.filter(!col("cal"))
      .crossJoin(broadcast(thr))
      .agg(
        max(col("n_cal")).as("n_cal"), max(col("k")).as("k"),
        max(col("threshold")).as("threshold"),
        sum(col("en")).as("n_test_pos"),
        sum(when(col("en") === 1L && col("raw_score") >= col("threshold"), 1L)
          .otherwise(0L)).as("pos_covered"),
        sum(lit(1L) - col("en")).as("n_test_neg"),
        sum(when(col("en") === 0L && col("raw_score") < col("threshold"), 1L)
          .otherwise(0L)).as("neg_below"))
      .select(col("n_cal"), col("k"), col("threshold"),
        col("n_test_pos"), expr("pos_covered * 1000000 div n_test_pos").as("coverage_ppm"),
        col("n_test_neg"), expr("neg_below * 1000000 div n_test_neg").as("neg_below_ppm"))
  }

  def qualityConformalSql: String =
    s"""WITH scored AS (
       |  ${qualityClassifierSql.replace("\n", "\n  ")}),
       |j AS (
       |  SELECT s.doc_id, s.raw_score,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS en,
       |    s.doc_id % 2 = 0 AS cal
       |  FROM scored s JOIN documents d USING (doc_id)),
       |ch AS (
       |  SELECT raw_score, CAST(count(*) AS BIGINT) AS c
       |  FROM j WHERE cal AND en = 1 GROUP BY raw_score),
       |cum AS (
       |  SELECT raw_score,
       |    CAST(sum(c) OVER (ORDER BY raw_score ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |    CAST(sum(c) OVER () AS BIGINT) AS n_cal
       |  FROM ch),
       |thr AS (
       |  SELECT raw_score AS threshold, n_cal,
       |    greatest(1, (n_cal + 1) // 10) AS k
       |  FROM cum WHERE cum >= greatest(1, (n_cal + 1) // 10)
       |  ORDER BY raw_score LIMIT 1)
       |SELECT max(n_cal) AS n_cal, max(k) AS k, max(threshold) AS threshold,
       |  CAST(sum(en) AS BIGINT) AS n_test_pos,
       |  CAST(sum(CASE WHEN en = 1 AND raw_score >= threshold THEN 1 ELSE 0 END) * 1000000 AS BIGINT)
       |    // CAST(sum(en) AS BIGINT) AS coverage_ppm,
       |  CAST(sum(1 - en) AS BIGINT) AS n_test_neg,
       |  CAST(sum(CASE WHEN en = 0 AND raw_score < threshold THEN 1 ELSE 0 END) * 1000000 AS BIGINT)
       |    // CAST(sum(1 - en) AS BIGINT) AS neg_below_ppm
       |FROM j, thr WHERE NOT cal""".stripMargin

  private val PerStratumK = 20

  /** Exactly-k-PER-STRATUM deterministic sample — the grouped member of
    * the sampling family: [[docSampleBottomK]] takes a global k,
    * [[stratifiedSample]] a per-language rate; this takes the k smallest
    * id-hashes WITHIN each language, so every stratum is represented with
    * a fixed budget (the "balanced eval slice" draw) no matter how skewed
    * the corpus mixture is.
    *
    * Plan shape worth naming: the rank filter is k-bounded, so Spark
    * plans a WindowGroupLimit BELOW the shuffle — each input partition
    * forwards at most k rows per language before any exchange, making the
    * shuffle O(k · |langs| · partitions) instead of O(corpus). The suite
    * pins the operator's presence in the plan. */
  def docSamplePerLang(spark: SparkSession, dir: String, k: Int = PerStratumK): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("lang"), col("source"))

  def docSamplePerLangSql: String =
    s"""SELECT doc_id, lang, source FROM (
       |  SELECT doc_id, lang, source,
       |    row_number() OVER (
       |      PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |    ) AS rn
       |  FROM documents) t
       |WHERE rn <= $PerStratumK""".stripMargin

  /** k-anonymity generalization of the corpus release manifest: publish
    * per-(lang, source) document counts only for cells with ≥ k members;
    * smaller cells generalize source → '*' per language, and languages
    * whose generalized total is still < k collapse into the terminal
    * ('*', '*') remainder row. The privacy-side sibling of
    * `stratified_sample`: what a data release can disclose about cell
    * membership, not what it samples.
    *
    * Determinism: the cascade is pure integer threshold logic on exact
    * counts — no noise — so the output is partitioning-independent and
    * oracle-exact.
    *
    * Scale: the corpus contributes one partial-agg shuffle (the cell
    * count); the generalization cascade then runs entirely on the cell
    * table — |langs| × |sources| rows no matter how many documents — so
    * the two follow-up aggregations are driver-trivial at any corpus
    * size. */
  def kAnonymous(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    // persisted: the big/generalized/remainder branches all read the cell
    // table — unpersisted, the three union branches each re-scan the full
    // corpus for a |langs|×|sources|-row aggregate
    val cells = graft.Caches.persisted(
      Tables.documents(spark, dir)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs")))
    val big = cells.filter(col("n_docs") >= k)
    val byLang = cells.filter(col("n_docs") < k)
      .groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"))
      .select(col("lang"), lit("*").as("source"), col("n_docs"))
    val rest = byLang.filter(col("n_docs") < k)
      .agg(sum(col("n_docs")).as("n_docs"))
      .select(lit("*").as("lang"), lit("*").as("source"), col("n_docs"))
      .filter(col("n_docs").isNotNull)
    big.unionByName(byLang.filter(col("n_docs") >= k)).unionByName(rest)
  }

  def kAnonymousSql: String =
    """WITH cells AS (
      |  SELECT lang, source, count(*)::BIGINT AS n_docs
      |  FROM documents GROUP BY 1, 2),
      |s1 AS (
      |  SELECT lang, '*' AS source, sum(n_docs)::BIGINT AS n_docs
      |  FROM cells WHERE n_docs < 10 GROUP BY 1)
      |SELECT lang, source, n_docs FROM cells WHERE n_docs >= 10
      |UNION ALL
      |SELECT lang, source, n_docs FROM s1 WHERE n_docs >= 10
      |UNION ALL
      |SELECT '*' AS lang, '*' AS source, sum(n_docs)::BIGINT AS n_docs
      |FROM s1 WHERE n_docs < 10
      |HAVING sum(n_docs) IS NOT NULL""".stripMargin

  private val NumShards = 16

  /** Rendezvous (highest-random-weight) sharding of the corpus onto
    * [[NumShards]] training workers: each document goes to the shard with
    * the maximal engine-portable hash `h(doc, shard)` — the placement
    * scheme whose defining property is MINIMAL DISRUPTION: removing a
    * shard reassigns ONLY that shard's documents (suite-pinned), where
    * `doc_id % n` would reshuffle nearly everything. The md5-prefix hash
    * is the same 60-bit trick as [[qualityClassifier]]'s feature hash, so
    * the winner is identical in every engine.
    *
    * Scale shape: zero shuffle — the 16 weights and their argmax compute
    * inside one codegen'd projection per row; the per-shard load counts
    * are a 16-row partial agg. Placement is stateless and re-derivable,
    * which is what lets a 100 TB corpus route without a stored
    * assignment table. */
  def shardRendezvous(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr(s"""transform(sequence(0, ${NumShards - 1}), s ->
               |  cast(conv(substring(md5(concat(cast(doc_id as string), ':', cast(s as string))), 1, 15), 16, 10) as bigint))"""
          .stripMargin).as("ws"))
      .select(col("doc_id"),
        (expr("array_position(ws, array_max(ws))") - 1).cast("bigint").as("shard"),
        expr("array_max(ws)").as("w"))

  def shardRendezvousSql: String =
    s"""SELECT doc_id,
       |  CAST(list_position(ws, list_max(ws)) - 1 AS BIGINT) AS shard,
       |  CAST(list_max(ws) AS BIGINT) AS w
       |FROM (
       |  SELECT doc_id, list_transform(range(0, $NumShards), s ->
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || s::VARCHAR), 1, 15))::BIGINT) AS ws
       |  FROM documents)""".stripMargin

  /** Per-shard BALANCE report over the rendezvous assignment — the
    * observability half of [[shardRendezvous]]: documents, characters, and
    * whitespace-token mass per shard, each with its exact ppm share of the
    * corpus total. Rendezvous hashing balances COUNTS in expectation; what
    * a training job actually streams is token mass, and a shard whose
    * share drifts far from 1/[[NumShards]] is the straggler — this is the
    * table that catches it before the job runs.
    *
    * Scale shape: the assignment is the same zero-shuffle narrow argmax;
    * one |shards|-keyed partial agg + a 1-row total folded back by a
    * broadcast scalar crossJoin. */
  def shardBalance(spark: SparkSession, dir: String): DataFrame = {
    val assigned = Tables.documents(spark, dir)
      .select(col("n_chars"),
        size(split(col("text"), " ")).cast("bigint").as("toks"),
        expr(s"""transform(sequence(0, ${NumShards - 1}), s ->
               |  cast(conv(substring(md5(concat(cast(doc_id as string), ':', cast(s as string))), 1, 15), 16, 10) as bigint))"""
          .stripMargin).as("ws"))
      .select((expr("array_position(ws, array_max(ws))") - 1).cast("bigint").as("shard"),
        col("n_chars"), col("toks"))
    val per = assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        sum(col("toks")).as("tokens"))
    per.crossJoin(broadcast(per.agg(
        sum(col("n_docs")).as("t_docs"), sum(col("tokens")).as("t_tokens"))))
      .select(col("shard"), col("n_docs"), col("chars"), col("tokens"),
        expr("n_docs * 1000000L div t_docs").as("doc_share_ppm"),
        expr("tokens * 1000000L div t_tokens").as("token_share_ppm"))
  }

  def shardBalanceSql: String =
    s"""WITH a AS (
       |  SELECT CAST(list_position(ws, list_max(ws)) - 1 AS BIGINT) AS shard,
       |    n_chars, toks
       |  FROM (
       |    SELECT doc_id, n_chars,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
       |      list_transform(range(0, $NumShards), s ->
       |        ('0x' || substr(md5(doc_id::VARCHAR || ':' || s::VARCHAR), 1, 15))::BIGINT) AS ws
       |    FROM documents) x),
       |per AS (
       |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS chars,
       |    CAST(sum(toks) AS BIGINT) AS tokens
       |  FROM a GROUP BY shard),
       |tot AS (SELECT sum(n_docs) AS t_docs, sum(tokens) AS t_tokens FROM per)
       |SELECT shard, n_docs, chars, tokens,
       |  CAST(n_docs * 1000000 // t_docs AS BIGINT) AS doc_share_ppm,
       |  CAST(tokens * 1000000 // t_tokens AS BIGINT) AS token_share_ppm
       |FROM per, tot""".stripMargin
}
