package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.graph.Relax

/** Corpus-level statistics for curation decisions — the "what is in this
  * corpus, and how do its sources relate" family that sits alongside the
  * per-document quality scores ([[TextQueries]]) and the pair-level dedup
  * machinery ([[graft.dedup.DedupQueries]]):
  *
  *  - [[vocabGrowth]]: the Heaps'-law type/token curve — how fast new
  *    vocabulary appears as the corpus grows, the first-order signal for
  *    "is more of this source still adding information".
  *  - [[docNovelty]]: per-document fraction of n-grams the corpus has not
  *    seen in any earlier document — the incremental-value score a
  *    dedup-aware sampler ranks by.
  *  - [[corpusOverlap]]: the exact source×source n-gram Jaccard matrix —
  *    which sources are near-copies of each other BEFORE paying for
  *    pair-level dedup between them.
  *  - [[sourceLogOdds]]: per-source distinctive vocabulary by
  *    Dirichlet-smoothed log-odds z² (Monroe, Colaresi & Quinn 2008,
  *    "Fightin' Words") — the standard "what makes this source different"
  *    diagnostic.
  *
  * Exactness policy (shared with the rest of the engine): counts and
  * fixed-point micro-nat logs in int64; `ln` is the only transcendental and
  * is snapped once via `round(ln(x)·10⁶)` ([[TextQueries.wordZipf]]
  * precedent); plain IEEE +,−,×,÷ on exactly-representable integers is
  * deterministic in both engines and needs no snapping.
  *
  * Scale shape: every operator here reduces the corpus to vocabulary- or
  * gram-keyed partial aggregates in one narrow pass — n-grams travel as
  * 64-bit md5-prefix keys, never as text ([[graft.dedup.DedupQueries]]'s
  * fingerprint rule) — and all post-aggregation joins are
  * vocabulary×sources-sized, broadcast or tiny.
  */
object CorpusStats {

  /** 64-bit n-gram key: md5 prefix of the space-joined token window. The
    * gram string itself never shuffles; md5 is identical in both engines so
    * the oracle groups on the same keys. */
  private val GramN = 5

  private def tokens(text: Column): Column = TextQueries.tokens(text)

  /** (doc_id, gram-key) pairs, DISTINCT per document: each document's set
    * of [[GramN]]-token shingle fingerprints (16 hex chars = 64 bits). */
  private def docGrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      // size guard, not greatest(): Spark's sequence(1, 0) DESCENDS
      .filter(size(col("toks")) >= GramN)
      .select(col("doc_id"), col("source"), explode(
        expr(s"transform(sequence(1, size(toks) - ${GramN - 1})," +
          s" i -> substring(md5(concat_ws(' ', slice(toks, i, $GramN))), 1, 16))")).as("gk"))

  private val docGramsSqlCte: String =
    s"""dg AS (
       |  SELECT doc_id, source, unnest(list_transform(
       |    range(1, len(toks) - ${GramN - 2}),
       |    i -> substr(md5(array_to_string(toks[i : i + ${GramN - 1}], ' ')), 1, 16))) AS gk
       |  FROM (SELECT doc_id, source,
       |          list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), t -> t <> '') AS toks
       |        FROM documents) t
       |  WHERE len(toks) >= $GramN)""".stripMargin

  /** Heaps'-law vocabulary growth curve: documents in doc_id order are cut
    * into 10 equal buckets; each bucket reports how many NEW word types and
    * NEW [[GramN]]-gram types it introduces (first occurrence by min
    * doc_id — order-deterministic, not arrival-order) next to its raw token
    * throughput, plus running totals. A corpus whose `new_*` columns
    * flatten early is repeating itself; one that keeps climbing still pays
    * to ingest. Both granularities matter: word types saturate at the
    * vocabulary, gram types track compositional novelty long after.
    *
    * Scale shape: one narrow tokenize pass; `min(doc_id)` per type is a
    * vocabulary- (resp. gram-vocabulary-) sized partial agg; the curve
    * itself is 10 rows, windowed on a single partition of 10. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_docs_total"))
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .crossJoin(broadcast(n))
      .select(col("term"), expr("doc_id * 10 div n_docs_total").as("bucket"))
    val tokensPerBucket = tok.groupBy(col("bucket")).agg(count(lit(1)).as("n_tokens"))
    val newTypes = tok.groupBy(col("term"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    val newGrams = docGrams(spark, dir).crossJoin(broadcast(n))
      .select(col("gk"), expr("doc_id * 10 div n_docs_total").as("bucket"))
      .groupBy(col("gk")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_gram_types"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokensPerBucket
      .join(broadcast(newTypes), Seq("bucket"), "left")
      .join(broadcast(newGrams), Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"),
        coalesce(col("new_gram_types"), lit(0L)).as("new_gram_types"))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .withColumn("cum_gram_types", sum(col("new_gram_types")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
  }

  def vocabGrowthSql: String =
    s"""WITH $docGramsSqlCte,
      |n AS (SELECT count(*) AS n_docs_total FROM documents),
      |tok AS (
      |  SELECT doc_id * 10 // n_docs_total AS bucket,
      |    unnest(list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), t -> t <> '')) AS term
      |  FROM documents, n),
      |tpb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
      |nt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS new_types
      |       FROM (SELECT term, min(bucket) AS bucket FROM tok GROUP BY term) f GROUP BY 1),
      |ng AS (SELECT bucket, CAST(count(*) AS BIGINT) AS new_gram_types
      |       FROM (SELECT gk, min(doc_id * 10 // n_docs_total) AS bucket
      |             FROM dg, n GROUP BY gk) f GROUP BY 1)
      |SELECT bucket, n_tokens,
      |  coalesce(new_types, 0) AS new_types,
      |  coalesce(new_gram_types, 0) AS new_gram_types,
      |  CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY bucket) AS BIGINT) AS cum_types,
      |  CAST(sum(coalesce(new_gram_types, 0)) OVER (ORDER BY bucket) AS BIGINT) AS cum_gram_types,
      |  CAST(sum(n_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens
      |FROM tpb LEFT JOIN nt USING (bucket) LEFT JOIN ng USING (bucket)""".stripMargin

  /** Per-document novelty: the share of the document's distinct
    * [[GramN]]-gram fingerprints whose corpus-wide FIRST occurrence (min
    * doc_id) is this document. The content-level "does this doc add
    * anything" score — a doc can be far from every single other doc (so no
    * dedup pair fires) yet still be 95% recombined n-grams; this catches
    * that. Documents shorter than [[GramN]] tokens have no grams and no row.
    *
    * `novelty_ppm` is the exact integer `10⁶·n_novel div n_grams`.
    *
    * Scale shape: gram keys (8-byte md5 prefixes) shuffle twice — once for
    * the per-gram min(doc_id) (vocabulary-of-grams-sized partial agg), once
    * joining first-occurrence back to the per-doc gram sets; both are
    * equi-joins on the 64-bit key. Nothing is pairwise. */
  def docNovelty(spark: SparkSession, dir: String): DataFrame = {
    // persisted: consumed twice (min-agg + join-back); gram sets, not text
    val dg = graft.Caches.persisted(
      docGrams(spark, dir).select(col("doc_id"), col("gk")).distinct())
    val first = dg.groupBy(col("gk")).agg(min(col("doc_id")).as("first_doc"))
    // shuffle-hash: both sides agg-derived (no stats → Catalyst would SMJ);
    // both already hash-partition on gk, nothing here is broadcast-promised
    dg.join(first.hint("shuffle_hash"), "gk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("n_novel * 1000000 div n_grams").as("novelty_ppm"))
  }

  def docNoveltySql: String =
    s"""WITH $docGramsSqlCte,
       |d AS (SELECT DISTINCT doc_id, gk FROM dg),
       |f AS (SELECT gk, min(doc_id) AS first_doc FROM d GROUP BY gk)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1000000 AS BIGINT)
       |    // count(*) AS novelty_ppm
       |FROM d JOIN f USING (gk)
       |GROUP BY doc_id""".stripMargin

  /** Exact source×source content-overlap matrix: Jaccard similarity of the
    * two sources' [[GramN]]-gram fingerprint SETS, for every unordered
    * source pair (zero-intersection pairs included — the full matrix is the
    * deliverable). The "which sources duplicate each other" triage that
    * decides where cross-source dedup budget goes.
    *
    * `jaccard_ppm = 10⁶·|A∩B| div |A∪B|`, exact integers.
    *
    * Scale shape: the corpus reduces to distinct (source, gram-key) — at
    * most |sources|·|gram vocabulary| narrow rows — and the intersection
    * join is gram-keyed, producing only pairs that actually co-occur in
    * some gram. Per-gram fan-out is (#sources carrying that gram)², fine
    * for source counts in the thousands; for millions of sources this
    * becomes the MinHash estimate ([[graft.dedup.DedupQueries.dedupNear]]'s
    * signatures aggregated per source) — same output contract, noted here
    * as the scale path. The final matrix assembly is a broadcast cross of
    * the |sources|-row size table. */
  def corpusOverlap(spark: SparkSession, dir: String): DataFrame = {
    // ONE gk-keyed shuffle (map-side set union): collect_set(source) per
    // gram IS the distinct (source, gk) relation — the former shape paid
    // a (source, gk)-keyed distinct exchange AND a gk-keyed self-join
    // (both sides re-shuffled) for the same intersections. Sizes and the
    // pairwise counts both derive from the persisted gram→sources table;
    // pairs expand inside each gram row (≤ C(|sources|, 2), the
    // dedupNear grouped-expansion shape), never a self-join product.
    val bySrc = graft.Caches.persisted(
      docGrams(spark, dir)
        .groupBy(col("gk"))
        .agg(sort_array(collect_set(col("source"))).as("srcs")))
    val sizes = bySrc.select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = bySrc.filter(size(col("srcs")) > 1)
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 2, size(srcs)),
          |            b -> struct(a AS sa, b AS sb))))""".stripMargin)).as("p"))
      .groupBy(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    val allPairs = broadcast(sizes.as("x")).crossJoin(broadcast(sizes.as("y")))
      .filter(col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        col("x.n").as("na"), col("y.n").as("nb"))
    allPairs.join(inter.hint("shuffle_hash"), Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L))).as("n_union"))
      .withColumn("jaccard_ppm", expr("n_inter * 1000000 div n_union"))
  }

  def corpusOverlapSql: String =
    s"""WITH $docGramsSqlCte,
       |sg AS (SELECT DISTINCT source, gk FROM dg),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sg GROUP BY source),
       |inter AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(count(*) AS BIGINT) AS n_inter
       |  FROM sg a JOIN sg b ON a.gk = b.gk AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT x.source AS source_a, y.source AS source_b,
       |  coalesce(n_inter, 0) AS n_inter,
       |  x.n + y.n - coalesce(n_inter, 0) AS n_union,
       |  coalesce(n_inter, 0) * 1000000 // (x.n + y.n - coalesce(n_inter, 0)) AS jaccard_ppm
       |FROM sz x JOIN sz y ON x.source < y.source
       |LEFT JOIN inter ON inter.source_a = x.source AND inter.source_b = y.source""".stripMargin

  /** Out-of-vocabulary rate of the newer half of the corpus against the
    * older half (split at the doc_id midpoint): what fraction of the new
    * delivery's token OCCURRENCES, and of its distinct TYPES, a vocabulary
    * frozen on the old half has never seen. The tokenizer-drift /
    * "retrain the BPE?" alarm ([[graft.pipelines.BpeTrainer]]'s merges and
    * every frozen embedding table age exactly this way), and the two
    * numerators deliberately differ: occurrence-OOV prices the runtime
    * cost (how many <unk>s the model will eat), type-OOV the vocabulary
    * gap.
    *
    * Scale shape: one narrow tokenize pass; the frozen vocabulary is a
    * type-level aggregate (vocabulary-sized); both OOV tests are term-keyed
    * anti joins of vocabulary-sized aggregates — the corpus itself never
    * joins. Output is ONE row. */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_docs_total"))
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .crossJoin(broadcast(n))
      .select(col("term"), expr("doc_id * 2 div n_docs_total").as("half"))
    // per-term counts in each half: ONE vocabulary-sized aggregate feeds
    // the vocabulary, the occurrence test, and the type test
    val byTerm = tok.groupBy(col("term"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("c_old"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("c_new"))
      .filter(col("c_new") > 0)
    byTerm.agg(
      sum(col("c_new")).as("new_tokens"),
      sum(when(col("c_old") === 0, col("c_new")).otherwise(0L)).as("oov_tokens"),
      count(lit(1)).as("new_types"),
      sum(when(col("c_old") === 0, 1L).otherwise(0L)).as("oov_types"))
      .select(col("new_tokens"), col("oov_tokens"),
        expr("oov_tokens * 1000000 div new_tokens").as("oov_token_ppm"),
        col("new_types"), col("oov_types"),
        expr("oov_types * 1000000 div new_types").as("oov_type_ppm"))
  }

  def oovRateSql: String =
    """WITH n AS (SELECT count(*) AS n_docs_total FROM documents),
      |tok AS (
      |  SELECT doc_id * 2 // n_docs_total AS half,
      |    unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), t -> t <> '')) AS term
      |  FROM documents, n),
      |bt AS (
      |  SELECT term,
      |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
      |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_new
      |  FROM tok GROUP BY term HAVING sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) > 0)
      |SELECT CAST(sum(c_new) AS BIGINT) AS new_tokens,
      |  CAST(sum(CASE WHEN c_old = 0 THEN c_new ELSE 0 END) AS BIGINT) AS oov_tokens,
      |  CAST(sum(CASE WHEN c_old = 0 THEN c_new ELSE 0 END) * 1000000 AS BIGINT)
      |    // CAST(sum(c_new) AS BIGINT) AS oov_token_ppm,
      |  CAST(count(*) AS BIGINT) AS new_types,
      |  CAST(sum(CASE WHEN c_old = 0 THEN 1 ELSE 0 END) AS BIGINT) AS oov_types,
      |  CAST(sum(CASE WHEN c_old = 0 THEN 1 ELSE 0 END) * 1000000 AS BIGINT)
      |    // count(*) AS oov_type_ppm
      |FROM bt""".stripMargin

  /** Jaccard threshold (ppm) above which two sources are "the same family"
    * for [[sourceClusters]]. */
  private val ClusterPpm = 25000L

  /** Source families: single-link clustering of the sources over the
    * [[corpusOverlap]] matrix at ≥ [[ClusterPpm]] — mirror-detection at the
    * SOURCE level (one crawl of the same site under two hostnames shows up
    * here long before pair-level dedup runs). Every source appears exactly
    * once; singletons cluster with themselves; the cluster label is the
    * lexicographically smallest member (the [[graft.dedup.DedupQueries
    * .dedupComponents]] canonical-min policy, on strings).
    *
    * Scale shape: the expensive part IS [[corpusOverlap]] (gram-keyed, one
    * corpus pass); everything after runs on the |sources|-row node table
    * and the thresholded edge list — the document-level components loop
    * ([[graft.graph.Relax.min]] until stable, seeded with every source so
    * singletons keep their own label), terminating in O(cluster
    * diameter) rounds. */
  def sourceClusters(spark: SparkSession, dir: String): DataFrame = {
    // persisted: its exact count sizes the adjacency, which then reads it
    val pairs = graft.Caches.persisted(corpusOverlap(spark, dir)
      .filter(col("jaccard_ppm") >= ClusterPpm)
      .select(col("source_a").as("u"), col("source_b").as("v")))
    val adj = Relax.adjacency(pairs, graft.Memo.countOf(spark, s"source-pairs/$dir", pairs))
    val nodes = Tables.documents(spark, dir).select(col("source")).distinct()
    Relax.min(adj, nodes.select(col("source").as("v"), col("source").as("h")),
      col("h"), Relax.UntilStable)
      .select(col("v").as("source"), col("h").as("cluster"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
  }

  /** Oracle: the overlap CTE thresholded, transitive closure as a recursive
    * CTE (the [[graft.dedup.DedupQueries.dedupComponentsSql]] shape),
    * singletons restored from the full source list. */
  def sourceClustersSql: String =
    s"""WITH RECURSIVE ov AS (${corpusOverlapSql.replace("\n", "\n  ")}),
       |edges AS (
       |  SELECT source_a AS src, source_b AS dst FROM ov WHERE jaccard_ppm >= $ClusterPpm
       |  UNION
       |  SELECT source_b, source_a FROM ov WHERE jaccard_ppm >= $ClusterPpm),
       |reach(node, r) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node),
       |lab AS (SELECT node, min(r) AS lab FROM reach GROUP BY node),
       |full_lab AS (
       |  SELECT s.source, coalesce(lab.lab, s.source) AS cluster
       |  FROM (SELECT DISTINCT source FROM documents) s
       |  LEFT JOIN lab ON lab.node = s.source)
       |SELECT source, cluster,
       |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
       |FROM full_lab""".stripMargin

  /** Per-source distinctive vocabulary: for each source, the top-5 terms by
    * the Dirichlet-smoothed log-odds z² of "this source vs the rest of the
    * corpus" (Monroe, Colaresi & Quinn 2008) — the informed prior keeps a
    * count-1 rare word from topping the list the way raw PMI would.
    *
    * With y = term count in the source, m = term count in the rest,
    * n / r the source / rest token totals, prior a_w = A·g_w/G (A = 1000
    * pseudo-tokens apportioned by global frequency):
    * δ = ln((y+a)/(n+A−y−a)) − ln((m+a)/(r+A−m−a)), σ² ≈ 1/(y+a)+1/(m+a),
    * z² = δ²/σ². Both `ln`s are snapped to micro-nats (the engine's
    * one-float-snap policy); everything around them is IEEE arithmetic on
    * exactly-representable integers, identical in both engines, and z² is
    * rounded once to 6 decimals for the output.
    *
    * Scale shape: one (source, term) partial-agg shuffle (vocabulary ×
    * sources), a broadcast join of the vocabulary-sized global counts and
    * the |sources|-row totals, then a WindowGroupLimit top-5 per source. */
  /** Distinct-n diversity (the self-BLEU-adjacent diagnostic run on
    * generated or scraped corpora before training on them): per
    * (source, n) for n = 1..3, the total n-gram count, the exact distinct
    * n-gram count, and their ratio in ppm. A source whose distinct-2/3
    * ratio collapses is template spam or model-generated loops — the
    * corpus-level twin of [[graft.events.EventQueries]]' per-doc
    * repetition scores.
    *
    * Scale shape: ONE narrow explode emits all three gram orders tagged
    * by n; the total is a map-side-combined count per (source, n); the
    * exact distinct is one dedup shuffle keyed (source, n, gram) — the
    * honest exact path, and the heaviest shuffle of the family at 100 TB.
    * [[ngramDiversityApprox]] IS the documented swap: the Datasketches
    * HLL twin whose shuffle carries |sources|·3 sketches instead of
    * every distinct gram. */
  /** The tagged 1/2/3-gram rows both diversity variants aggregate: ONE
    * narrow explode per document emitting (source, n, gram). */
  private def gramRows(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .select(col("source"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("source"), explode(expr(
        """flatten(transform(sequence(1, 3), n ->
          |  filter(transform(sequence(1, size(toks)), i ->
          |    IF(i <= size(toks) - n + 1,
          |       named_struct('n', n, 'g', concat_ws(' ', slice(toks, i, n))),
          |       NULL)),
          |  x -> x IS NOT NULL)))""".stripMargin)).as("p"))
      .select(col("source"), col("p.n").cast("bigint").as("n"), col("p.g").as("g"))

  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    gramRows(spark, dir)
      // two-level aggregate instead of count+countDistinct in one agg:
      // the mixed form plans an Expand (2× every gram row through the
      // shuffle); grouping by the gram first costs ONE keyed partial agg
      // and the distinct count falls out as a count of the groups
      .groupBy(col("source"), col("n"), col("g"))
      .agg(count(lit(1)).cast("bigint").as("cnt"))
      .groupBy(col("source"), col("n"))
      .agg(
        sum(col("cnt")).cast("bigint").as("total_grams"),
        count(lit(1)).cast("bigint").as("distinct_grams"))
      .withColumn("diversity_ppm",
        expr("distinct_grams * 1000000L div total_grams"))
  }

  def ngramDiversitySql: String =
    """WITH tok AS (
      |  SELECT source,
      |    list_filter(regexp_split_to_array(text, '[^\p{L}]+'), t -> t <> '') AS toks
      |  FROM documents),
      |t2 AS (SELECT source, toks FROM tok WHERE len(toks) >= 1),
      |g AS (
      |  SELECT source, CAST(n AS BIGINT) AS n,
      |    array_to_string(toks[i : i + n - 1], ' ') AS g
      |  FROM t2, UNNEST(range(1, 4)) AS nn(n), UNNEST(range(1, len(toks) + 1)) AS ii(i)
      |  WHERE i <= len(toks) - n + 1)
      |SELECT source, n,
      |  CAST(count(*) AS BIGINT) AS total_grams,
      |  CAST(count(DISTINCT g) AS BIGINT) AS distinct_grams,
      |  CAST(count(DISTINCT g) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT) AS diversity_ppm
      |FROM g GROUP BY source, n""".stripMargin

  /** HLL error budget for [[ngramDiversityApprox]]: lgConfigK = 12 gives
    * rsd ≈ 1.04/√2¹² ≈ 1.6%; the 5% acceptance bound is ≈ 3σ — the
    * [[graft.events.EventQueries.userHll]] decidable-flag convention. */
  private val DivHllLgK = 12

  /** The 100 TB path for [[ngramDiversity]]: distinct n-grams per
    * (source, n) by Datasketches HLL (`hll_sketch_agg`, the same sketch
    * family [[graft.events.EventQueries]]' events_hll_rollup re-aggregates)
    * instead of the exact gram-keyed dedup shuffle. The sketch merges
    * map-side, so the distinct estimate's shuffle payload is
    * |sources|·3·2^[[DivHllLgK]] registers — corpus-size-INDEPENDENT —
    * versus the exact path shuffling every distinct gram string. At a
    * 10¹³-gram corpus that is the difference between a kilobyte-scale
    * exchange and the heaviest shuffle in the family.
    *
    * Output contract (the [[graft.events.EventQueries.userHll]] pattern):
    * a sketch estimate is engine-specific, so the registered row carries
    * the EXACT totals plus the decidable `hll_within_10pct` flag — the
    * oracle reproduces the exact side and asserts TRUE. The flag's bound
    * is deliberately WIDER than the suite's: 10% ≈ 6σ of the configured
    * 1.6% rsd (userHll's exact convention), so a healthy sketch can never
    * flip the oracle hash on a testdata regeneration (at ≈ 3σ, one of the
    * ~180 (source, n) groups across verified scales would eventually land
    * outside by chance and misattribute data luck as a code bug), while a
    * BROKEN sketch — wrong register merge, wrong lgK — is off by far more
    * than 10% and still fails deterministically. The tighter ≈ 3σ (5%)
    * accuracy assertion lives in CorpusStatsSuite's contract test, where
    * a failure reads as what it is. The inline exact join is the
    * contract harness, not the production shape — a deployment reads the
    * estimate column alone (the scaladoc's one-pass plan), which
    * CorpusStatsSuite exercises against the exact twin. */
  /** The production one-pass shape: totals + HLL distinct estimate in a
    * single (source, n)-keyed aggregate — the frame a 100 TB deployment
    * reads directly. Package-visible so the suite can pin its plan
    * (exactly one exchange, no gram-keyed dedup) and its accuracy. */
  private[graft] def ngramDiversityEstimate(spark: SparkSession, dir: String): DataFrame =
    gramRows(spark, dir)
      .groupBy(col("source"), col("n"))
      .agg(
        count(lit(1)).cast("bigint").as("total_grams"),
        hll_sketch_estimate(hll_sketch_agg(col("g"), lit(DivHllLgK))).as("n_hll"))

  def ngramDiversityApprox(spark: SparkSession, dir: String): DataFrame = {
    val approx = ngramDiversityEstimate(spark, dir)
    val exact = ngramDiversity(spark, dir)
      .select(col("source"), col("n"), col("distinct_grams"))
    approx.join(exact, Seq("source", "n"))
      .select(col("source"), col("n"), col("total_grams"), col("distinct_grams"),
        (abs(col("n_hll") - col("distinct_grams")).cast("double")
          / col("distinct_grams").cast("double") < 0.10).as("hll_within_10pct"))
  }

  def ngramDiversityApproxSql: String =
    """WITH tok AS (
      |  SELECT source,
      |    list_filter(regexp_split_to_array(text, '[^\p{L}]+'), t -> t <> '') AS toks
      |  FROM documents),
      |t2 AS (SELECT source, toks FROM tok WHERE len(toks) >= 1),
      |g AS (
      |  SELECT source, CAST(n AS BIGINT) AS n,
      |    array_to_string(toks[i : i + n - 1], ' ') AS g
      |  FROM t2, UNNEST(range(1, 4)) AS nn(n), UNNEST(range(1, len(toks) + 1)) AS ii(i)
      |  WHERE i <= len(toks) - n + 1)
      |SELECT source, n,
      |  CAST(count(*) AS BIGINT) AS total_grams,
      |  CAST(count(DISTINCT g) AS BIGINT) AS distinct_grams,
      |  TRUE AS hll_within_10pct
      |FROM g GROUP BY source, n""".stripMargin

  /** Per-source unigram Shannon entropy in EXACT integer micro-nats — the
    * vocabulary-diversity health number next to [[ngramDiversity]]'s
    * distinct ratios (low entropy = a few tokens dominate = boilerplate).
    * `H = Σ (c/n)·ln(n/c)`; each `ln(n/c)` is an integer-ratio log
    * quantized to micro-nats ([[graft.pipelines.DataSelection]]'s
    * policy), so `h_sum = Σ c·ln_micro` is an order-free exact integer
    * and the emitted double is one final division. h_sum accumulates as
    * DECIMAL(38,0): at 10¹² tokens the int64 budget wraps (c·ln_micro
    * sums to ~n·ln(V)·10⁶), the embed_dim_stats width policy.
    *
    * Scale shape: one (source, term)-keyed partial agg (the wc shuffle),
    * a |sources|-row broadcast back, and a |sources|-row result. */
  def sourceEntropy(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).cast("bigint").as("c"))
    val tot = st.groupBy(col("source"))
      .agg(sum(col("c")).cast("bigint").as("n"),
        count(lit(1)).cast("bigint").as("vocab"))
    st.join(broadcast(tot), "source")
      .withColumn("ln_micro", expr("cast(round(ln(n / c) * 1000000) as bigint)"))
      .groupBy(col("source"))
      .agg(
        max(col("n")).as("n_tokens"),
        max(col("vocab")).as("vocab"),
        expr("cast(sum(cast(c * ln_micro as decimal(38,0))) as decimal(38,0))").as("hs"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(col("hs").cast("double") / (col("n_tokens").cast("double") * lit(1e6)), 6)
          .as("entropy_nats"))
  }

  def sourceEntropySql: String =
    """WITH tok AS (
      |  SELECT source,
      |    unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), t -> t <> '')) AS term
      |  FROM documents),
      |st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      |tt AS (SELECT source, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS vocab
      |       FROM st GROUP BY source),
      |sc AS (SELECT st.source, c, n, vocab,
      |         CAST(round(ln(n / c) * 1000000) AS BIGINT) AS ln_micro
      |       FROM st JOIN tt USING (source))
      |SELECT source, max(n) AS n_tokens, max(vocab) AS vocab,
      |  round(CAST(CAST(sum(CAST(c * ln_micro AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE)
      |        / (CAST(max(n) AS DOUBLE) * 1e6), 6) AS entropy_nats
      |FROM sc GROUP BY source""".stripMargin

  def sourceLogOdds(spark: SparkSession, dir: String): DataFrame = {
    val priorA = 1000.0
    val tok = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
    // persisted: vocabulary×sources-sized, consumed three times
    val st = graft.Caches.persisted(
      tok.groupBy(col("source"), col("term")).agg(count(lit(1)).as("y")))
    val g = st.groupBy(col("term")).agg(sum(col("y")).as("gw"))
    val totals = st.groupBy(col("source")).agg(sum(col("y")).as("n"))
    val grand = g.agg(sum(col("gw")).as("gt"))
    val scored = st
      // vocabulary-sized global counts: gate by the persisted (source,
      // term) table's exact count (an upper bound on |terms|) — a 100 TB
      // vocabulary degrades this attach to shuffled-hash on `term`
      .join(graft.Plans.broadcastIfSmall(g,
        graft.Memo.countOf(spark, s"log-odds-st/$dir", st)), "term")
      .join(broadcast(totals), "source")
      .crossJoin(broadcast(grand))
      .withColumn("a", lit(priorA) * col("gw") / col("gt"))
      .withColumn("m", col("gw") - col("y"))
      .withColumn("r", col("gt") - col("n"))
      .withColumn("d_micro",
        expr(s"round(ln((y + a) / (n + $priorA - y - a)) * 1000000)") -
          expr(s"round(ln((m + a) / (r + $priorA - m - a)) * 1000000)"))
      .withColumn("z2",
        expr("round((d_micro / 1000000.0) * (d_micro / 1000000.0) " +
          "/ (1.0 / (y + a) + 1.0 / (m + a)), 6)"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("z2").desc, col("term").asc)))
      .filter(col("rk") <= 5)
      .select(col("source"), col("term"), col("y"), col("gw"),
        col("d_micro").cast("bigint").as("d_micro"), col("z2"),
        col("rk").cast("bigint").as("rk"))
  }

  def sourceLogOddsSql: String =
    """WITH tok AS (
      |  SELECT source,
      |    unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), t -> t <> '')) AS term
      |  FROM documents),
      |st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS y FROM tok GROUP BY 1, 2),
      |g AS (SELECT term, CAST(sum(y) AS BIGINT) AS gw FROM st GROUP BY term),
      |tt AS (SELECT source, CAST(sum(y) AS BIGINT) AS n FROM st GROUP BY source),
      |gr AS (SELECT CAST(sum(gw) AS BIGINT) AS gt FROM g),
      |sc AS (
      |  SELECT source, term, y, gw,
      |    round(ln((y + a) / (n + 1000.0 - y - a)) * 1000000)
      |      - round(ln((gw - y + a) / (gt - n + 1000.0 - (gw - y) - a)) * 1000000) AS d_micro,
      |    a
      |  FROM (SELECT st.source, st.term, y, gw, n, gt,
      |          1000.0 * gw / gt AS a
      |        FROM st JOIN g USING (term) JOIN tt USING (source), gr) p),
      |z AS (
      |  SELECT source, term, y, gw, CAST(d_micro AS BIGINT) AS d_micro,
      |    round((d_micro / 1000000.0) * (d_micro / 1000000.0)
      |          / (1.0 / (y + a) + 1.0 / (gw - y + a)), 6) AS z2
      |  FROM sc)
      |SELECT source, term, y, gw, d_micro, z2, rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY z2 DESC, term) AS rk
      |  FROM z) r
      |WHERE rk <= 5""".stripMargin
}
