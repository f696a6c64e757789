package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Plans.{truncate, truncatedArtifact}
import graft.Tables
import graft.graph.Relax
import graft.text.TextQueries

/** Deduplication operators over the `documents` table — the first stage of
  * any large-scale training-data pipeline.
  *
  * Scale design (the part that matters at 100 TB):
  *  - Exact dedup groups on a 128-bit content fingerprint (md5), never on the
  *    raw text, so the shuffle carries 16-byte keys instead of documents.
  *  - Near-dup detection is MinHash + banded LSH: signatures are computed
  *    NARROW (per-row higher-order functions, no shuffle), candidate pairs
  *    come from a self-equi-join on (band, band-hash) — never an all-pairs
  *    cross join — and only candidates pay the exact-Jaccard verification.
  *    With b=32 bands of r=2 rows, a pair at the 0.8 similarity threshold is
  *    missed with probability (1-0.8²)³² ≈ 6e-15, so the verified output
  *    equals the brute-force oracle.
  *  - SimHash is the classic two-phase MapReduce shape: (doc, token) partial
  *    counts, then 16 bit-plane sums per document.
  */
object DedupQueries {

  /** Normalized content fingerprint: md5 of whitespace-collapsed text. */
  private def fp(text: Column): Column =
    md5(regexp_replace(trim(text), "\\s+", " "))

  /** Content fingerprint + leading-byte bucket per document. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        fp(col("text")).as("fp"),
        substring(fp(col("text")), 1, 2).as("bucket"))

  def docFingerprintSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp,
      |  substr(md5(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 2) AS bucket
      |FROM documents""".stripMargin

  /** Exact dedup: every document mapped to the keeper (minimum doc_id) of its
    * fingerprint group. The window shuffles by the 16-byte fingerprint only. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), fp(col("text")).as("fp"))
      .withColumn("keeper", min(col("doc_id")).over(w))
      .withColumn("is_dup", col("doc_id") =!= col("keeper"))
  }

  def dedupExactSql: String =
    """SELECT doc_id, fp,
      |  min(doc_id) OVER (PARTITION BY fp) AS keeper,
      |  doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
      |FROM (SELECT doc_id, md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
      |      FROM documents) t""".stripMargin

  private[graft] val NumBands = 32 // × 2 rows = the 64 hashes of MinHashSig

  /** Near-duplicate pairs at 3-gram Jaccard ≥ 0.8 via MinHash-LSH.
    *
    * Phases: (1) narrow — the native `minhash_sig` expression
    * ([[graft.functions.MinHashSig]]) computes the full tokenize → shingle →
    * dedup → 64-minhash signature in one JVM loop per document (the
    * composed-builtin version runs interpreted and was ~50× slower),
    * parallelized by the scan's own splits. (2) 32 two-row bands → self-equi-join on
    * (band, hash) generates candidate pairs — never an all-pairs product.
    * (3) exact-Jaccard verification (native `shingle_set`) on candidates
    * only. With b=32/r=2 a true 0.8-Jaccard pair escapes all bands with
    * probability (1-0.8²)³² ≈ 6e-15, so the output equals the brute-force
    * oracle. */
  def dedupNear(spark: SparkSession, dir: String): DataFrame =
    // no repartition: the scan's own splits parallelize the narrow
    // signature compute (a many-split 100 TB source more so), and raw text
    // never shuffles
    dedupNearOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** [[dedupNear]] over an arbitrary `(doc_id, text)` frame — lets a
    * pipeline run the expensive shingling stage on an already-thinned
    * corpus (e.g. exact-dedup keepers first). */
  private[graft] def dedupNearOn(docsIn: DataFrame): DataFrame = {
    // unsplittable-input fan-out (Plans.fanOut): the signature pass is
    // compute-bound per row, and a single-row-group source hands the scan
    // ONE split — gate-redistributed here so minhash/shingle work uses
    // every core; a many-split deployment source leaves the plan unchanged
    val docs = graft.Plans.fanOut(docsIn, col("doc_id"))
    val sig = docs
      .select(col("doc_id"), expr("minhash_sig(text)").as("sig"))
      .filter(size(col("sig")) > 0)
    val bands = withBandBuckets(sig).select(col("doc_id"), col("band"), col("bh"))

    // One shuffle by bucket, pairs expanded inside each (rare) multi-doc
    // bucket — the signature pipeline is evaluated once, unlike a self-join
    // which would compute the whole subtree per side.
    val cand = bands
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ds) - 2),
          |  i -> transform(slice(ds, i + 2, size(ds) - i - 1),
          |       b -> struct(ds[i] AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
      // the candidate set is tiny (LSH's whole point) and consumed three
      // times below — persist so the signature/band stage runs once; the
      // harness releases it via Caches.drain() after the action.
      .transform(graft.Caches.persisted)

    verifyPairs(docs, cand)
  }

  /** THE banding scheme, defined once: appends `band` (0 until
    * [[NumBands]]) and `bh` (bucket hash of the band's two signature rows)
    * to any frame with a `sig` column, preserving every other column. One
    * generate + one hash expression, not 32 inlined struct/hash columns —
    * the 32-struct array form compiled a multi-thousand-line codegen
    * method. Shared by the batch path, the streaming path
    * ([[graft.streaming.StreamingCorpus.nearDupCandidates]]) and the
    * stream/batch parity test, so the three cannot silently diverge. */
  private[graft] def withBandBuckets(df: DataFrame): DataFrame =
    df.withColumn("band", explode(sequence(lit(0), lit(NumBands - 1))))
      .withColumn("bh",
        xxhash64(element_at(col("sig"), col("band") * 2 + 1),
                 element_at(col("sig"), col("band") * 2 + 2)))

  /** Exact-Jaccard verification of a candidate pair set: compute shingle
    * sets ONLY for documents that appear in a candidate pair (semi-join),
    * then join the pairs against that small set. At 100 TB this is the
    * difference between shingling the whole corpus again and shingling the
    * ~0.x% of documents the candidate generator flagged. Join strategies
    * are left to Catalyst/AQE on purpose: the candidate side is usually
    * broadcast-small, but it is proportional to the duplicate rate, and a
    * forced broadcast would hit the 8 GB limit on a pathological corpus
    * where a shuffle join still scales. */
  private def verifyPairs(docs: DataFrame, cand: DataFrame): DataFrame =
    verifyPairsMin(docs, cand, 4, 5)

  /** [[verifyPairs]] at an arbitrary rational threshold `num/den`. The keep
    * test is the INTEGER form `|∩|·den ≥ |∪|·num` — exactly the rational
    * `J ≥ num/den`, which coincides with the oracle's double compare
    * `(|∩|/|∪|) ≥ t`: a divergence would need the true Jaccard within half
    * an ulp (~5e-17) of the threshold, impossible at granularity 1/|∪| for
    * any |∪| < 10¹⁵. The reported `jaccard` column stays the int/int double
    * quotient (IEEE-exact, engine-identical). */
  private def verifyPairsMin(
      docs: DataFrame, cand: DataFrame, num: Int, den: Int): DataFrame = {
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val sets = docs
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), expr("shingle_set(text)").as("s"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni", size(array_union(col("sa"), col("sb"))).cast("long"))
      .filter(col("inter") * den >= col("uni") * num)
      .select(col("doc_a"), col("doc_b"), (col("inter") / col("uni")).as("jaccard"))
  }

  /** Brute-force oracle: the exact pair set the LSH path must reproduce.
    * (All-pairs is fine for DuckDB at sf0.01; the Spark path never does this.) */
  def dedupNearSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(toks) - 1),
      |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
      |  FROM (SELECT doc_id,
      |          list_filter(regexp_split_to_array(text, '[^\p{L}]+'), t -> t <> '') AS toks
      |        FROM documents) t
      |  WHERE len(toks) >= 3)
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.s, b.s)) / len(list_distinct(a.s || b.s)) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
      |WHERE jaccard >= 0.8""".stripMargin

  /** Near-duplicate pairs at 3-gram Jaccard ≥ 0.8 via an EXACT prefix-filter
    * similarity join (the AllPairs/PPJoin family) — the deterministic
    * counterpart to [[dedupNear]]: complete recall by construction, no
    * probabilistic banding, same verified output.
    *
    * Candidate generation rests on the prefix-filter theorem: order every
    * document's shingle set by a single GLOBAL total order (here: ascending
    * document frequency, rarest first, ties by token) and keep only each
    * set's first `n - ⌈t·n⌉ + 1` tokens as its prefix. For any pair with
    * J(A,B) ≥ t, the rarest COMMON token must sit inside both prefixes —
    * if it didn't, all `|A∩B| ≥ ⌈t·n⌉` common tokens would have to fit in a
    * suffix of length `⌈t·n⌉ - 1`. So pairing documents that share a
    * prefix token (plus the length filter `t·max(|A|,|B|) ≤ min(|A|,|B|)`)
    * is a complete candidate set, and [[verifyPairs]] makes it exact.
    *
    * Scale shape, all linear in the corpus:
    *  1. narrow: distinct 3-gram shingles hashed to 64-bit ids per document
    *     — raw shingle strings never shuffle (collision math below);
    *  2. one map-combined shuffle for the document-frequency table and one
    *     co-partitioned shuffle join to attach `freq` to each posting (at
    *     deployment scale a broadcast dictionary of the frequent tail is
    *     the standard refinement; the full join is the no-driver-state
    *     baseline and stays a linear keyed shuffle);
    *  3. one shuffle by doc_id: a window computes set size and rarity rank
    *     in the same pass, then the prefix filter drops ~`t` of all
    *     postings — at t=0.8 the index is 5× smaller than a full inverted
    *     index, and frequency ordering puts only RARE tokens in prefixes,
    *     so buckets stay small;
    *  4. one shuffle by token groups the prefix postings; pairs expand
    *     inside each bucket with the integer length filter applied before
    *     anything materializes. Massive exact-duplicate clusters still
    *     expand quadratically — as they must: those pairs are true output.
    *
    * Arithmetic is integer-exact on purpose: `⌈0.8·n⌉ = (4n+4) div 5` and
    * the length filter `5·min ≥ 4·max` — a float `ceil(0.8·n)` can land on
    * 4.0000…01 and silently shorten a prefix, which costs recall, which is
    * the one thing this operator exists to guarantee. Hashing shingles to
    * 64 bits risks recall only if a collision WITHIN one pair's union
    * changes its id-Jaccard across the threshold: probability ≈ u²/2⁶⁴ for
    * union size u (~1e-11 at u = 10⁴), the same class of bound as
    * [[dedupNear]]'s 6e-15 band-miss probability, and precision is immune
    * because verification runs on the string shingle sets. */
  def dedupJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsAtLeast(spark, dir, 4, 5)

  /** The PPJoin pipeline of [[dedupJaccard]] at an arbitrary rational
    * threshold `t = num/den` — complete recall at ANY threshold by the same
    * prefix-filter theorem (the prefix length `n - ⌈t·n⌉ + 1` and the length
    * filter `t·max ≤ min` are both functions of t), all threshold arithmetic
    * integer-exact: `⌈t·n⌉ = (n·num + den − 1) div den`, length filter
    * `min·den ≥ max·num`. Lower thresholds keep MORE prefix postings (at
    * t = 1/2, half of each set), so candidate volume grows as t drops —
    * bounded because postings are 3-gram SHINGLES, whose document frequency
    * stays near 1 outside true duplicate clusters (unlike word tokens). */
  private[graft] def jaccardPairsAtLeast(
      spark: SparkSession, dir: String, num: Int, den: Int): DataFrame =
    jaccardPairsAtLeastOn(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), num, den)

  /** [[jaccardPairsAtLeast]] over an arbitrary `(doc_id, text)` frame —
    * the property-test surface for the threshold generalization. */
  private[graft] def jaccardPairsAtLeastOn(
      docsIn: DataFrame, num: Int, den: Int): DataFrame = {
    // same unsplittable-input fan-out as dedupNearOn: shingling is the
    // compute-bound stage and must not be serialized by a 1-split scan
    val docs = graft.Plans.fanOut(docsIn, col("doc_id"))
    val toks = docs.select(col("doc_id"),
      explode(expr("transform(shingle_set(text), s -> xxhash64(s))")).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val wDoc = Window.partitionBy(col("doc_id"))
    // deliberately UNHINTED frequency attach (r15 adjudication): AQE
    // rewrites the stats-less sort-merge to a runtime broadcast over the
    // already-shuffled frequency table; a shuffle_hash hint blocks that
    // conversion and measured ~1.2 s slower end-to-end
    val prefixes = toks.join(freq, "tok")
      .withColumn("sz", count(lit(1)).over(wDoc))
      .withColumn("rk", row_number().over(wDoc.orderBy(col("freq"), col("tok"))))
      .filter(col("rk") <= col("sz") - expr(s"(sz * $num + ${den - 1}) div $den") + 1)
    // One shuffle by token, pairs expanded inside each (rare) multi-doc
    // bucket with the length filter inline — same grouped expansion shape
    // as dedupNear, never an all-pairs product.
    val cand = prefixes
      .groupBy(col("tok"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sz")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(
        s"""flatten(transform(sequence(0, size(ds) - 2),
          |  i -> filter(
          |    transform(slice(ds, i + 2, size(ds) - i - 1),
          |      b -> struct(ds[i].doc_id AS doc_a, b.doc_id AS doc_b,
          |                  ds[i].sz AS sza, b.sz AS szb)),
          |    p -> least(p.sza, p.szb) * $den >= greatest(p.sza, p.szb) * $num)))""".stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
      // consumed three times by verification; released by the harness drain
      .transform(graft.Caches.persisted)
    verifyPairsMin(docs, cand, num, den)
  }

  /** Oracle: identical to [[dedupNearSql]] — both operators must reproduce
    * the brute-force pair set exactly; only the candidate strategy differs. */
  def dedupJaccardSql: String = dedupNearSql

  private val CurveThresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** Dedup threshold sweep — the tuning report behind every deployed
    * near-dedup threshold choice (MinHashLSH pipelines are routinely run at
    * 0.7/0.8/0.85; Lee et al. 2022 §4 sweeps exactly this knob): for each
    * Jaccard threshold t ∈ {0.5 … 0.9}, the number of duplicate pairs and
    * the number of documents touched by at least one pair. One run of the
    * EXACT prefix-filter join at the lowest threshold ([[jaccardPairsAtLeast]]
    * at 1/2 — complete recall for every t ≥ 0.5 a fortiori) yields the full
    * curve by re-thresholding the verified pair list; the sweep never re-runs
    * candidate generation per point.
    *
    * Scale shape: candidate generation is the linear PPJoin pipeline; the
    * verified ≥0.5 pair list is duplicate-volume-sized and persisted once;
    * each curve point is a filter + partial-agg count over that small list
    * (the distinct-docs count shuffles pair-volume rows, never the corpus).
    * Threshold compares are double-vs-literal on the IEEE-exact int/int
    * jaccard quotient — engine-identical (the [[verifyPairsMin]] note). */
  def dedupThresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = graft.Caches.persisted(
      jaccardPairsAtLeast(spark, dir, 1, 2).select(col("doc_a"), col("doc_b"), col("jaccard")))
    val tagged = graft.Caches.persisted(
      pairs
        .withColumn("threshold", explode(lit(CurveThresholds.toArray)))
        .filter(col("jaccard") >= col("threshold")))
    val np = tagged.groupBy(col("threshold"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"))
    val nd = tagged
      .select(col("threshold"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("d")).cast("bigint").as("n_dup_docs"))
    CurveThresholds.toDF("threshold") // every point present even when empty
      .join(np, Seq("threshold"), "left_outer")
      .join(nd, Seq("threshold"), "left_outer")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
  }

  /** Oracle: brute-force all-pairs Jaccard (fine in DuckDB at sf0.01),
    * re-thresholded against the same literal grid. */
  def dedupThresholdCurveSql: String = {
    val sh = dedupNearSql.linesIterator.takeWhile(!_.startsWith("SELECT")).mkString("\n")
    val values = CurveThresholds.map(t => s"(${t}e0)").mkString(", ")
    s"""$sh,
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_intersect(a.s, b.s)) / len(list_distinct(a.s || b.s)) AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
       |t(threshold) AS (VALUES $values),
       |hit AS (SELECT threshold, doc_a, doc_b FROM p, t WHERE jaccard >= threshold),
       |np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs FROM hit GROUP BY 1),
       |nd AS (SELECT threshold, CAST(count(DISTINCT d) AS BIGINT) AS n_dup_docs
       |       FROM (SELECT threshold, unnest([doc_a, doc_b]) AS d FROM hit) u GROUP BY 1)
       |SELECT threshold, COALESCE(n_pairs, 0) AS n_pairs,
       |  COALESCE(n_dup_docs, 0) AS n_dup_docs
       |FROM t LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)""".stripMargin
  }

  /** Incremental near-dedup: the newest fifth of the corpus (by doc_id) is
    * treated as an arriving delivery and deduplicated against the LSH index
    * of the existing four fifths — the production shape for a growing
    * corpus, where re-running whole-corpus dedup per delivery does
    * O(corpus) work to answer an O(delivery) question. Each batch document
    * gets its best index match (max exact Jaccard ≥ 0.8, ties to the
    * smallest index id) or `novel`. Batch-internal duplicates are
    * deliberately out of scope here — that is [[dedupNear]] over the batch;
    * the streaming twin with rolling state is
    * [[graft.streaming.StreamingCorpus]].
    *
    * Scale shape: the split threshold is a one-row scalar agg (broadcast —
    * in production it is the delivery manifest, a constant). Both sides
    * compute banded signatures narrowly, with the `is_new` filters pushed
    * below the signature projection so each document is shingled exactly
    * once on its own side; in production the index side IS the stored
    * signature table, so only the delivery pays compute. Candidates come
    * from the (band, bh) equi-join — delivery bands probe index bands,
    * never all-pairs — and only candidates pay exact verification
    * ([[verifyPairs]] semi-join sliver). The integer `5·id ≥ 4·(max+1)`
    * split avoids a float threshold for the same reason as
    * [[dedupJaccard]]'s prefix math. Recall: identical 6e-15 band-miss
    * bound as [[dedupNear]], so the output equals the brute-force oracle. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    // fan-out once at the top: both the banded-signature pass and the
    // verification shingling downstream inherit the spread partitioning
    val docs = graft.Plans.fanOut(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"), cacheKey = s"documents/$dir")
    val cut = docs.agg(((max(col("doc_id")) + 1) * 4).as("cut4"))
    val tagged = docs.crossJoin(broadcast(cut))
      .withColumn("is_new", col("doc_id") * 5 >= col("cut4"))
    val sigs = withBandBuckets(
        tagged.select(col("doc_id"), col("is_new"), expr("minhash_sig(text)").as("sig"))
          .filter(size(col("sig")) > 0))
      .select(col("doc_id"), col("is_new"), col("band"), col("bh"))
    val best = bestIndexMatches(
      sigs.filter(!col("is_new")).select(col("doc_id"), col("band"), col("bh")),
      sigs.filter(col("is_new")).select(col("doc_id"), col("band"), col("bh")),
      docs)
    // shuffle-hash, not sort-merge: the best-match side is ≤ one row per
    // delivery doc — delivery-bounded, so a broadcast could blow past the
    // 8 GB limit on an all-duplicate delivery, but hash-building it per
    // partition is always linear and skips both sorts.
    tagged.filter(col("is_new")).select(col("doc_id"))
      .join(best.hint("shuffle_hash"), Seq("doc_id"), "left_outer")
      .withColumn("status",
        when(col("matched_id").isNotNull, "dup_of_index").otherwise("novel"))
  }

  /** The matching core of [[dedupIncremental]], factored over PRE-BANDED
    * signature tables so the index side can be a stored artifact: delivery
    * bands probe index bands on (band, bh), exact verification runs on the
    * candidate sliver against `corpus` (the fetch-text-by-id side), and
    * each delivery doc keeps its best match. Both band frames are
    * `(doc_id, band, bh)` — exactly what [[withBandBuckets]] emits and what
    * a production deployment persists as its LSH index (parquet
    * round-tripped in IncrementalTfidfSuite to pin the schema contract). */
  private[graft] def bestIndexMatches(
      indexBands: DataFrame, deliveryBands: DataFrame, corpus: DataFrame): DataFrame = {
    val cand = indexBands.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
      .join(deliveryBands.select(col("doc_id").as("doc_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
      // consumed three times by verification; released by the harness drain
      .transform(graft.Caches.persisted)
    val w = Window.partitionBy(col("doc_b")).orderBy(col("jaccard").desc, col("doc_a").asc)
    verifyPairs(corpus, cand)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("matched_id"), col("jaccard"))
  }

  /** Brute-force oracle: exact Jaccard of every delivery×index pair. */
  def dedupIncrementalSql: String =
    """WITH mx AS (SELECT (max(doc_id) + 1) * 4 AS cut4 FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(toks) - 1),
      |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
      |  FROM (SELECT doc_id,
      |          list_filter(regexp_split_to_array(text, '[^\p{L}]+'), t -> t <> '') AS toks
      |        FROM documents) t
      |  WHERE len(toks) >= 3),
      |pair AS (
      |  SELECT b.doc_id AS doc_id, a.doc_id AS matched_id,
      |    len(list_intersect(a.s, b.s)) / len(list_distinct(a.s || b.s)) AS jaccard
      |  FROM sh b, sh a, mx
      |  WHERE b.doc_id * 5 >= mx.cut4 AND a.doc_id * 5 < mx.cut4),
      |best AS (
      |  SELECT doc_id, matched_id, jaccard,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, matched_id) AS rk
      |  FROM pair WHERE jaccard >= 0.8)
      |SELECT doc_id, b.matched_id, b.jaccard,
      |  CASE WHEN b.matched_id IS NOT NULL THEN 'dup_of_index' ELSE 'novel' END AS status
      |FROM (SELECT doc_id FROM documents, mx WHERE doc_id * 5 >= cut4) d
      |LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id)""".stripMargin

  /** Exact-substring span length: the Lee et al. 2022 setting (50 tokens). */
  private[graft] val SpanTokens = 50

  /** Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): per document, the positions whose
    * [[SpanTokens]]-token window repeats VERBATIM in another document —
    * the boilerplate/license/memorized-passage family that document-level
    * exact/MinHash/SimHash/Jaccard dedup cannot see. Output per affected
    * document: `dup_positions` (window starts that are duplicated
    * elsewhere), `dup_grams` (distinct such windows), and `dup_tokens`
    * (tokens covered by the union of the duplicated windows — the text a
    * Lee-et-al. pipeline would cut).
    *
    * Scale shape — the Spark-native substitute for the paper's monolithic
    * suffix array, every stage linear in corpus tokens:
    *  1. narrow: `gram_fps(text, 50)` ([[graft.functions.GramFps]]) rolls a
    *     Karp-Rabin fingerprint over every 50-token window in one O(n) pass
    *     per document, parallelized by the scan's own splits;
    *  2. one map-combined shuffle of (fp, doc_id, pos) — 8-byte keys, never
    *     gram strings (a ~50× text blowup) — finds fingerprints seen in >1
    *     document via partial-agg countDistinct;
    *  3. a semi-join thins the postings to the candidate sliver, and the
    *     gram STRINGS are re-derived for candidate positions only
    *     ([[graft.functions.GramsAt]], batched per document) — string
    *     equality on the sliver makes the result exact under any
    *     fingerprint collision;
    *  4. per-document aggregation; the interval-union token coverage rides
    *     the same pass as a lag-window gap sum (windows at gap ≥ 50 add 50
    *     tokens, overlapping windows add only the gap).
    * A corpus-wide boilerplate span (shared by M documents) expands to M
    * postings per window start — output-linear, as it must be: those
    * positions ARE the answer. */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** Stages 1–3 of the exact-substring pipeline, shared by the per-document
    * and per-pair views: every candidate position's VERIFIED gram string —
    * (doc_id, pos, gram), persisted (consumed twice building it; released
    * by the harness drain). */
  private def substringCandGrams(docs: DataFrame): DataFrame = {
    val grams = docs.select(col("doc_id"),
      posexplode(expr(s"gram_fps(text, $SpanTokens)")).as(Seq("pos", "fp")))
    val dupFps = grams
      .groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("fp"))
    val candidates = grams.join(dupFps, Seq("fp"), "left_semi")
      .select(col("doc_id"), col("pos"))
      .transform(graft.Caches.persisted)
    val perDoc = candidates.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
    docs
      .join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), explode(expr(
        s"""zip_with(positions, grams_at(text, positions, $SpanTokens),
           |  (p, g) -> struct(p AS pos, g AS gram))""".stripMargin)).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.gram").as("gram"))
      .transform(graft.Caches.persisted)
  }

  /** The pair view of [[dedupSubstring]]: which documents share verbatim
    * [[SpanTokens]]-token spans, with the count of distinct shared spans —
    * the "these documents carry the same boilerplate" edge list a cleanup
    * pipeline clusters on. Pairs expand inside per-gram buckets (grouped
    * expansion over the verified candidate sliver, same shape as
    * [[dedupNear]]) — a span shared by M documents yields M·(M−1)/2 pairs,
    * output-linear: those pairs ARE the answer. */
  def dedupSubstringPairs(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringPairsOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  private[graft] def dedupSubstringPairsOn(docs: DataFrame): DataFrame =
    substringCandGrams(docs)
      .groupBy(col("gram"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ds) - 2),
          |  i -> transform(slice(ds, i + 2, size(ds) - i - 1),
          |       b -> struct(ds[i] AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("shared_grams"))

  /** Winnowing window: selections keep ~2/(w+1) of the gram postings. */
  private[graft] val WinnowWindow = 8

  /** The WINNOWED substring-dedup pair view — the deployment-scale path
    * (Schleimer et al. 2003): instead of posting every k-gram fingerprint,
    * each document posts only its winnowing selection (the rightmost
    * minimal fingerprint of every [[WinnowWindow]]-gram window, computed
    * O(n) in the native `winnow_select` expression), cutting the postings
    * shuffle to ~2/(w+1) of [[dedupSubstringPairs]]' (measured 19.5% at
    * w=8). The price is a coarser guarantee: every pair sharing a span of
    * ≥ k + w − 1 tokens (57 at the defaults) is still found — the shared
    * span contains a full window with identical relative fingerprints, so
    * both documents select the same gram — while pairs whose longest shared
    * span is k..k+w−2 tokens are found only if the selections happen to
    * align. Selection uses the same mod-2³¹−1 Horner arithmetic as
    * `rolling_hash`, so the oracle replays the SELECTION itself (not just
    * the verification) and the output is engine-exact; gram strings are
    * re-derived and compared on the candidate sliver, as in the exact
    * variant, so fingerprint collisions cannot create false pairs. */
  def dedupSubstringWinnow(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringWinnowOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  private[graft] def dedupSubstringWinnowOn(docs: DataFrame): DataFrame = {
    val postings = docs.select(col("doc_id"),
      explode(expr(s"winnow_select(text, $SpanTokens, $WinnowWindow)")).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
    val dupFps = postings
      .groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("fp"))
    val candidates = postings.join(dupFps, Seq("fp"), "left_semi")
      .select(col("doc_id"), col("pos"))
      .transform(graft.Caches.persisted)
    val perDoc = candidates.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
    val candGrams = docs
      .join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), explode(expr(
        s"""zip_with(positions, grams_at(text, positions, $SpanTokens),
           |  (p, g) -> struct(p AS pos, g AS gram))""".stripMargin)).as("pg"))
      .select(col("doc_id"), col("pg.gram").as("gram"))
    candGrams
      .groupBy(col("gram"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ds) - 2),
          |  i -> transform(slice(ds, i + 2, size(ds) - i - 1),
          |       b -> struct(ds[i] AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** Oracle: the winnowing selection replayed literally — per-token mod-M
    * hashes, Horner gram fingerprints, rightmost window minima via
    * `row_number() ORDER BY fp ASC, pos DESC` — then the same shared-gram
    * pair count over selected grams. */
  def dedupSubstringWinnowSql: String =
    s"""WITH tl AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), t -> t <> '') AS toks
       |  FROM documents),
       |th AS (
       |  SELECT doc_id, toks,
       |    list_transform(toks, t ->
       |      list_reduce(list_transform(range(1, length(t)+1), i -> ord(substr(t, i, 1))::BIGINT),
       |                  (a, c) -> (a*31 + c) % 2147483647)) AS th,
       |    len(toks) AS n
       |  FROM tl WHERE len(toks) >= $SpanTokens),
       |fps AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    list_reduce(th[i : i + ${SpanTokens - 1}], (a, x) -> (a*31 + x) % 2147483647) AS fp,
       |    array_to_string(toks[i : i + ${SpanTokens - 1}], ' ') AS gram,
       |    n - ${SpanTokens - 1} AS ng
       |  FROM (SELECT doc_id, toks, th, n, unnest(range(1, n - ${SpanTokens - 2})) AS i FROM th) x),
       |win AS (
       |  SELECT DISTINCT doc_id, unnest(range(0, greatest(ng - ${WinnowWindow - 1}, 1))) AS j
       |  FROM fps),
       |sel AS (
       |  SELECT DISTINCT doc_id, gram FROM (
       |    SELECT f.doc_id, w.j, f.gram,
       |      row_number() OVER (PARTITION BY f.doc_id, w.j ORDER BY f.fp ASC, f.pos DESC) AS rk
       |    FROM fps f JOIN win w ON f.doc_id = w.doc_id
       |      AND f.pos BETWEEN w.j AND w.j + ${WinnowWindow - 1}) t
       |  WHERE rk = 1)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  count(DISTINCT a.gram) AS shared_grams
       |FROM sel a JOIN sel b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** Oracle: gram-string equi-join over all materialized 50-grams — each
    * shared distinct gram counts once per ordered pair. */
  def dedupSubstringPairsSql: String =
    s"""WITH tl AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), t -> t <> '') AS toks
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(toks) - ${SpanTokens - 2})) AS i,
       |    toks
       |  FROM tl WHERE len(toks) >= $SpanTokens),
       |g2 AS (
       |  SELECT doc_id, array_to_string(toks[i : i + ${SpanTokens - 1}], ' ') AS gram
       |  FROM grams)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  count(DISTINCT a.gram) AS shared_grams
       |FROM g2 a JOIN g2 b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** [[dedupSubstring]] over an arbitrary `(doc_id, text)` frame. */
  private[graft] def dedupSubstringOn(docs: DataFrame): DataFrame = {
    val candGrams = substringCandGrams(docs)
    val dupGrams = candGrams
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("gram"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    candGrams.join(dupGrams, Seq("gram"), "left_semi")
      .withColumn("gap", col("pos") - lag(col("pos"), 1).over(wDoc))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("dup_positions"),
        countDistinct(col("gram")).as("dup_grams"),
        sum(least(lit(SpanTokens), coalesce(col("gap"), lit(SpanTokens))))
          .cast("bigint").as("dup_tokens"))
  }

  /** Brute-force oracle: materialize every 50-token gram string and compare
    * directly — exactly what the fingerprint path must reproduce. */
  def dedupSubstringSql: String =
    s"""WITH tl AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), t -> t <> '') AS toks
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(toks) - ${SpanTokens - 2})) AS i,
       |    toks
       |  FROM tl WHERE len(toks) >= $SpanTokens),
       |g2 AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    array_to_string(toks[i : i + ${SpanTokens - 1}], ' ') AS gram
       |  FROM grams),
       |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
       |hits AS (
       |  SELECT g2.doc_id, g2.pos, g2.gram,
       |    g2.pos - lag(g2.pos) OVER (PARTITION BY g2.doc_id ORDER BY g2.pos) AS gap
       |  FROM g2 JOIN dup USING (gram))
       |SELECT doc_id,
       |  count(*) AS dup_positions,
       |  count(DISTINCT gram) AS dup_grams,
       |  CAST(sum(LEAST($SpanTokens, COALESCE(gap, $SpanTokens))) AS BIGINT) AS dup_tokens
       |FROM hits GROUP BY doc_id""".stripMargin

  /** Transitive near-duplicate components: the closure of [[dedupNear]]'s
    * pair relation, each document labeled with its component's canonical
    * (minimum) doc_id — the "keep one per duplicate CLUSTER" operator that
    * pairwise dedup alone can't express (a~b, b~c ⇒ a,b,c in one cluster
    * even when a≁c directly).
    *
    * Pregel-shaped min-label propagation ([[graft.graph.Relax.min]] with
    * `hop = h`, until stable): labels start as doc_id; each round every
    * node takes the min of its own and its neighbors' labels; fixpoint in
    * O(component diameter) rounds — near-dup clusters are tiny chains, so
    * 2-3 rounds in practice, each over the EDGE set (|pairs|·2 rows,
    * minuscule next to the corpus) and truncated. Truncation mode is a
    * deployment knob ([[graft.Plans.truncate]]): fast executor-local
    * `localCheckpoint` by default, reliable `checkpoint()` to the cluster FS
    * when the session opts in — same dataflow. The fixpoint is unique, so
    * the result is deterministic regardless of scheduling, and a DuckDB
    * recursive CTE reproduces it exactly. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    componentLabelsMemo(spark, dir)
      .select(col("node").as("doc_id"), col("lab").as("canonical"))
      .withColumn("component_size",
        count(lit(1)).over(Window.partitionBy(col("canonical"))))

  /** The two shared near-dup ARTIFACTS — the verified pair list and the
    * component label table — memoized per (session, dir) in
    * [[graft.Memo]]: seven registered queries derive from one or the other
    * (components/canonical/savings/pagerank/eval, the corpus pipeline's
    * near-dup stage, the leakage-safe split), and each previously re-ran
    * the full LSH candidate generation + verification. Both artifacts are
    * checkpoint-truncated (self-contained materialized plans, no live
    * dependence on dedupNear's internal caches, which are released by the
    * scoped block before the memo entry is published); determinism makes a
    * memoized result bit-identical to a rebuild. The cluster-deployment
    * analog is the persisted pair/label table every production dedup
    * pipeline maintains. Both are [[graft.Plans.truncatedArtifact]]s, so
    * their keys carry the truncation mode.
    *
    * This one is the verified near-dup pair list (doc_a, doc_b), truncated. */
  private[graft] def nearPairsMemo(spark: SparkSession, dir: String): DataFrame =
    truncatedArtifact(spark, s"dedup-pairs/$dir") {
      // scoped: truncate() materializes the tiny edge list eagerly, so the
      // LSH candidate cache dedupNear registers internally is dead once
      // this block returns — release it here instead of leaking it to the
      // harness drain (or forever, for a direct library caller).
      graft.Caches.scoped {
        truncate(dedupNear(spark, dir).select(col("doc_a"), col("doc_b")))
      }
    }

  /** The converged min-label table (node, lab): [[graft.graph.Relax.min]]
    * until stable. Scoped: every round is truncated, so the adjacency cache
    * is dead once the fixpoint is in hand and the artifact stays
    * self-contained. */
  private def componentLabelsMemo(spark: SparkSession, dir: String): DataFrame =
    truncatedArtifact(spark, s"dedup-labels/$dir") {
      graft.Caches.scoped {
        val pairs = nearPairsMemo(spark, dir)
        val adj = Relax.adjacency(pairs.toDF("u", "v"),
          graft.Memo.countOf(spark, s"neardup-pairs/$dir", pairs))
        Relax.min(adj, Relax.ownLabels(adj), col("h"), Relax.UntilStable)
          .select(col("v").as("node"), col("h").as("lab"))
      }
    }

  /** Oracle: transitive closure as a recursive CTE (UNION dedup terminates
    * the undirected cycles), min reachable id = the canonical label. */
  def dedupComponentsSql: String =
    s"""WITH RECURSIVE pairs AS (${dedupNearSql}),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node)
       |SELECT doc_id, canonical,
       |  count(*) OVER (PARTITION BY canonical) AS component_size
       |FROM (SELECT node AS doc_id, min(r) AS canonical FROM reach GROUP BY node) c""".stripMargin

  /** Fixed-point scale and iteration count for [[docPagerank]]. */
  private val PrScale = 1000000000000L // 1e12
  private val PrIters = 3

  /** Damped PageRank (d = 0.85) over the near-dup graph — link analysis on
    * the duplicate structure: rank mass concentrates in big duplicate
    * clusters, the standard propagation primitive for pushing a quality or
    * spam score through near-copies. Returns the top-20 documents by rank
    * (ties to the smaller doc_id).
    *
    * Exactness: all arithmetic is FIXED-POINT int64 ([[PrScale]] = 10¹²) —
    * per-node contributions `rank div deg`, dangling mass redistributed
    * `div n`, and the damping as the rational 17/20 — because a
    * floating-point PageRank sums neighbor contributions in partition
    * order, which is nondeterministic under Spark and would diverge from
    * any oracle bit-wise (the same reason `ivf_train` scales its centroid
    * sums). Integer floor-division is identical in Spark (`div`) and
    * DuckDB (`//`) for the non-negative values here, so the oracle replays
    * the exact trajectory, like [[dedupComponentsSql]]'s recursive CTE.
    *
    * Scale shape: the edge list (near-dup pairs ← [[dedupNear]]) is
    * output-sized, tiny next to the corpus; each of the [[PrIters]] rounds
    * is ONE job — keyed join + partial-agg sum over edges, with the one-row
    * dangling aggregate broadcast-crossJoined into the same plan — and
    * [[graft.Plans.truncate]] keeps plans O(1) exactly as
    * [[dedupComponents]] does. The final top-20 is TakeOrderedAndProject. */
  def docPagerank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val pairs = nearPairsMemo(spark, dir)
    // edges and rank table at the data-proportional width of the edge
    // count (Plans.sizeWidth), keyed on the join key: the round's
    // edge⋈rank join is co-partitioned, and at width 1 (every test scale)
    // SinglePartition makes every round's join and partial agg
    // exchange-free
    val nPairs = graft.Memo.countOf(spark, s"neardup-pairs/$dir", pairs)
    val width = graft.Plans.sizeWidth(spark, 2 * nPairs)
    // strict doc_a < doc_b in the pair set → the two directions are disjoint
    val edges = truncate(pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").repartition(width, col("src")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // |documents| via the memoized footer count (the n-parts/n-customers
    // pattern): the count is a model CONSTANT of the fixed-point formula,
    // and an un-memoized count() re-ran a scan job on every invocation
    val n = graft.Memo.countOf(spark, s"n-documents/$dir", docs)
    val rank0 = docs.join(deg, docs("doc_id") === deg("src"), "left")
      .select(col("doc_id"), coalesce(col("deg"), lit(0L)).as("deg"),
        lit(PrScale / n).as("rank"))
    var rank = truncate(rank0.repartition(width, col("doc_id")))
    for (_ <- 1 to PrIters) {
      // dangling mass as a broadcast one-row aggregate folded into the plan
      // (the q15_top_supplier scalar pattern) — NOT a driver-side .head:
      // each round stays a single job instead of a scalar action + the
      // round's own materialization, and the driver never re-enters the loop
      val danglingShare = broadcast(rank.filter(col("deg") === 0)
        .agg(expr(s"coalesce(sum(rank), 0L) div ${n}L").as("dshare")))
      val sums = edges
        .join(rank, edges("src") === rank("doc_id"))
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      rank = truncate(
        rank.as("r").join(sums, col("r.doc_id") === sums("dst"), "left")
          .crossJoin(danglingShare)
          .select(col("r.doc_id").as("doc_id"), col("r.deg").as("deg"),
            (lit(3L * PrScale / (20L * n)) +
              expr("(17 * (coalesce(s, 0) + dshare)) div 20")).as("rank")))
    }
    rank.orderBy(col("rank").desc, col("doc_id").asc).limit(20)
      .select(col("doc_id"), col("rank"))
  }

  /** Oracle: the identical fixed-point trajectory, unrolled [[PrIters]]
    * times (like `ivf_train`'s unrolled Lloyd rounds). */
  def docPagerankSql: String = {
    def round(prev: String, i: Int): String =
      s"""d$i AS (SELECT COALESCE(sum(rank), 0) AS dang FROM $prev WHERE deg = 0),
         |s$i AS (SELECT e.dst, sum(r.rank // r.deg) AS s
         |        FROM edges e JOIN $prev r ON e.src = r.doc_id GROUP BY 1),
         |r${i + 1} AS (SELECT p.doc_id, p.deg,
         |    (3 * $PrScale) // (20 * n) + (17 * (COALESCE(s, 0) + dang // n)) // 20 AS rank
         |  FROM $prev p LEFT JOIN s$i ON p.doc_id = s$i.dst, nn, d$i)""".stripMargin
    s"""WITH pairs AS ($dedupNearSql),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs),
       |nn AS (SELECT count(*) AS n FROM documents),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |r0 AS (SELECT doc_id, COALESCE(deg, 0) AS deg, $PrScale // n AS rank
       |       FROM documents LEFT JOIN deg ON doc_id = src, nn),
       |${(0 until PrIters).map(i => round(s"r$i", i)).mkString(",\n")}
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank FROM r$PrIters
       |ORDER BY rank DESC, doc_id ASC
       |LIMIT 20""".stripMargin
  }

  private val SimHashBits = 16
  private val WideHexDigits = 15 // 60-bit signature for the pairs operator

  /** 16-bit SimHash per document — [[simhashN]] over 4 md5 hex digits. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashN(spark, dir, SimHashBits / 4)

  /** `4·hexDigits`-bit SimHash per document, weighting each distinct token
    * by its occurrence count. The token hash is the first `hexDigits` hex
    * digits of md5 so the same value is computable in any engine (≤ 15
    * digits keeps it inside a signed 64-bit int). Two-phase aggregate:
    * per-(doc, token) counts (partial agg map-side), then one bit-plane sum
    * per signature bit per doc. */
  private[graft] def simhashN(spark: SparkSession, dir: String, hexDigits: Int): DataFrame = {
    val bits = hexDigits * 4
    val wc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextQueries.tokens(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", conv(substring(md5(col("word")), 1, hexDigits), 16, 10).cast("bigint"))
    val bitSums = (0 until bits).map(j =>
      sum(when(expr(s"(h >> $j) % 2 = 1"), col("cnt")).otherwise(-col("cnt"))).as(s"s$j"))
    val sig = (0 until bits)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    wc.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-duplicate pairs at Hamming distance ≤ 3, over a WIDE
    * (60-bit) signature — [[simhashN]] with 15 md5 hex digits — not the
    * 16-bit [[simhash]]: band buckets must be sparse for banding to scale,
    * and a 16-bit space buckets half the corpus together (quadratic pair
    * expansion), while 4 bands × 15 bits give 32,768 values per band so only
    * genuine near-dups and rare random collisions share a bucket. Banding is
    * exact, not approximate: 3 differing bits can dirty at most 3 of the 4
    * bands, so every qualifying pair shares ≥ 1 band (pigeonhole) —
    * candidate generation by (band, chunk) equi-join has 100% recall and the
    * output equals the brute-force oracle. One shuffle by the band key,
    * pairs expanded only inside shared buckets, never all-pairs. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val maxHamming = 3
    // native one-pass signature (no (doc,token) shuffle, no repartition —
    // the scan's own splits parallelize the narrow compute and raw text
    // never shuffles); numerically equal to simhashN — the null filter
    // mirrors its dropped tokenless docs. persist: consumed 3×, small
    // (doc_id, bigint) rows, drained by the harness after the action.
    val sh = graft.Caches.persisted(
      Tables.documents(spark, dir)
        .select(col("doc_id"), expr(s"simhash_sig(text, $WideHexDigits)").as("simhash"))
        .filter(col("simhash").isNotNull))
    val bands = sh.select(
        col("doc_id"),
        explode(array((0 until 4).map(lit): _*)).as("band"),
        col("simhash"))
      .select(col("doc_id"), col("band"),
        expr("(simhash >> (band * 15)) & 32767").as("chunk"))
    val cand = bands
      .groupBy(col("band"), col("chunk"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ds) - 2),
          |  i -> transform(slice(ds, i + 2, size(ds) - i - 1),
          |       b -> struct(ds[i] AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("simhash").as("ha")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("simhash").as("hb")), "doc_b")
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("bigint"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Brute-force oracle: banding is recall-lossless (see [[simhashPairs]]),
    * so the all-pairs scan over the same signatures is the exact answer. */
  def simhashPairsSql: String =
    s"""WITH sh AS (${simhashNSql(WideHexDigits)})
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  /** Dedup-method evaluation — the confusion matrix of [[simhashPairs]]
    * (SimHash, Hamming ≤ 3) against the exact 3-gram-Jaccard ≥ 0.8 ground
    * truth ([[dedupJaccard]]): TP / FP / FN plus precision and recall in
    * exact ppm. This is the harness a pipeline owner runs before swapping
    * dedup methods on a 100 TB corpus — "how much recall does the cheaper
    * signature give up?" — as a first-class, oracle-checked operator
    * rather than a notebook one-off. Both pair sets are emitted in the
    * same doc_a < doc_b orientation, so the full-outer join on the pair
    * key is the exact set comparison; all counts and both ppm ratios are
    * integer arithmetic.
    *
    * Scale shape: inherits both operands' linear candidate generation;
    * the comparison itself is one output-sized full-outer join + a 1-row
    * aggregate. */
  def dedupEval(spark: SparkSession, dir: String): DataFrame = {
    val truth = dedupJaccard(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
    val pred = simhashPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("p"))
    // full outer can't broadcast; shuffle-hash (not sort-merge) is right
    // for the output-sized pair sets — no reason to sort either side
    truth.join(pred.hint("shuffle_hash"), Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(coalesce(col("t"), lit(0L))).as("n_truth"),
        sum(coalesce(col("p"), lit(0L))).as("n_predicted"),
        sum(coalesce(col("t"), lit(0L)) * coalesce(col("p"), lit(0L))).as("tp"))
      .select(col("n_truth"), col("n_predicted"), col("tp"),
        (col("n_predicted") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        expr("tp * 1000000L div n_predicted").as("precision_ppm"),
        expr("tp * 1000000L div n_truth").as("recall_ppm"))
  }

  /** Oracle: the two operands' own oracles (brute-force Jaccard truth,
    * all-pairs SimHash), composed with the same full-outer set compare. */
  def dedupEvalSql: String =
    s"""WITH truth AS (
       |  SELECT doc_a, doc_b, 1 AS t FROM ($dedupNearSql) x),
       |pred AS (
       |  SELECT doc_a, doc_b, 1 AS p FROM ($simhashPairsSql) y),
       |j AS (
       |  SELECT coalesce(t, 0) AS t, coalesce(p, 0) AS p
       |  FROM truth FULL OUTER JOIN pred USING (doc_a, doc_b))
       |SELECT CAST(sum(t) AS BIGINT) AS n_truth,
       |  CAST(sum(p) AS BIGINT) AS n_predicted,
       |  CAST(sum(t * p) AS BIGINT) AS tp,
       |  CAST(sum(p) - sum(t * p) AS BIGINT) AS fp,
       |  CAST(sum(t) - sum(t * p) AS BIGINT) AS fn,
       |  CAST(sum(t * p) * 1000000 // sum(p) AS BIGINT) AS precision_ppm,
       |  CAST(sum(t * p) * 1000000 // sum(t) AS BIGINT) AS recall_ppm
       |FROM j""".stripMargin

  def simhashSql: String = simhashNSql(SimHashBits / 4)

  private def simhashNSql(hexDigits: Int): String = {
    val bits = hexDigits * 4
    val bitSums = (0 until bits).map(j =>
      s"sum(CASE WHEN (h >> $j) % 2 = 1 THEN cnt ELSE -cnt END) AS s$j").mkString(",\n    ")
    val sig = (0 until bits).map(j =>
      s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""WITH wc AS (
       |  SELECT doc_id, word, count(*) AS cnt,
       |    ('0x' || substr(md5(word), 1, $hexDigits))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS word
       |        FROM documents) t
       |  WHERE word <> ''
       |  GROUP BY doc_id, word),
       |bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM wc GROUP BY doc_id)
       |SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bits""".stripMargin
  }

  /** Canonical-document selection — the step after [[dedupComponents]] in a
    * real dedup pipeline: each duplicate CLUSTER keeps exactly one survivor
    * (here: the longest document, ties to the smaller doc_id), everything
    * else is dropped. Returns one row per component with the kept doc.
    *
    * The survivor choice is `max(struct(n_chars, -doc_id))` — lexicographic
    * struct-max IS the argmax with its tie-break, and unlike a rank-1
    * window it partially aggregates map-side: no per-component sort, one
    * |components|-row shuffle (the [[graft.relational.RelationalQueries.brandCheapest]]
    * pattern). Only (doc_id, n_chars) rides the join — document text never
    * shuffles, so the step costs edge-set + id-set traffic at any corpus
    * size. */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val comp = dedupComponents(spark, dir)
    val chars = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    comp.join(chars, "doc_id")
      .groupBy(col("canonical"))
      .agg(
        max(struct(col("n_chars"), (-col("doc_id")).as("neg"))).as("m"),
        count(lit(1)).as("component_size"))
      .select(col("canonical"), (-col("m.neg")).as("kept_doc"),
        col("m.n_chars").as("kept_chars"), col("component_size"))
  }

  /** Oracle: the components CTE + a rank-1 window with the same tie-break. */
  def dedupCanonicalSql: String =
    s"""WITH comp AS ($dedupComponentsSql),
       |j AS (SELECT c.doc_id, c.canonical, d.n_chars
       |      FROM comp c JOIN documents d USING (doc_id))
       |SELECT canonical, kept_doc, kept_chars, component_size FROM (
       |  SELECT canonical, doc_id AS kept_doc, n_chars AS kept_chars,
       |    count(*) OVER (PARTITION BY canonical) AS component_size,
       |    row_number() OVER (PARTITION BY canonical
       |                       ORDER BY n_chars DESC, doc_id ASC) AS rn
       |  FROM j) t
       |WHERE rn = 1""".stripMargin

  /** Dedup savings forecast — the cluster-size histogram of the near-dup
    * components with the bytes a keep-one-per-cluster pass would drop
    * (keeper = [[dedupCanonical]]'s largest-doc policy, so the two
    * operators quote the SAME plan): for each cluster size, how many
    * clusters, how many documents, their total bytes, and the dropped
    * bytes. This is the "what does dedup buy us" number that decides
    * whether the full dedup pass is worth scheduling on a new crawl —
    * estimated from components that are already output-sized.
    *
    * Scale shape: inherits [[dedupComponents]]' edge-set-sized plans; the
    * per-cluster aggregate and the size histogram run on the component
    * table (dup-graph-sized, tiny next to the corpus), with one keys-only
    * join to fetch n_chars. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val comp = dedupComponents(spark, dir)
    val chars = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    comp.hint("shuffle_hash").join(chars, "doc_id")
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(col("n_chars")).as("bytes_total"),
        max(col("n_chars")).as("bytes_kept"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("bytes_total")).as("bytes_total"),
        sum(col("bytes_total") - col("bytes_kept")).as("bytes_dropped"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        col("bytes_total"), col("bytes_dropped"))
  }

  /** Oracle: the components CTE + the same two-level aggregate. */
  def dedupSavingsSql: String =
    s"""WITH comp AS ($dedupComponentsSql),
       |cl AS (
       |  SELECT canonical, CAST(count(*) AS BIGINT) AS cluster_size,
       |    CAST(sum(d.n_chars) AS BIGINT) AS bytes_total,
       |    CAST(max(d.n_chars) AS BIGINT) AS bytes_kept
       |  FROM comp c JOIN documents d USING (doc_id)
       |  GROUP BY canonical)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  cluster_size * CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(bytes_total) AS BIGINT) AS bytes_total,
       |  CAST(sum(bytes_total - bytes_kept) AS BIGINT) AS bytes_dropped
       |FROM cl GROUP BY cluster_size""".stripMargin

  /** Blocking threshold for [[erCandidates]]. */
  private val ErMaxDist = 3

  /** Entity-resolution candidate pairs over the part catalog — the
    * record-linkage shape (Fellegi-Sunter blocking + edit-distance verify)
    * that string-keyed dedup can't express: "red widget" and "blue widget"
    * never hash-collide, but are the same entity under a ≤[[ErMaxDist]]
    * edit-distance rule within a (brand, type) block.
    *
    * MULTI-PASS BLOCKING, the standard recall device: pass A blocks on the
    * name's head token, pass B on its tail token (both with brand + type),
    * so a pair differing in either token still co-blocks in the other
    * pass. Each pass is the LSH bucket shape from [[dedupNearOn]] — ONE
    * shuffle by blocking key, pairs expanded inside each bucket from a
    * collect_list — not a self-join (which would rescan the table per
    * side). Blocks are bounded by the catalog's (brand × type × token)
    * granularity, so in-bucket expansion never goes quadratic in the
    * table; the union of the two passes dedups on the pair key before the
    * levenshtein verify (codegen'd built-in) prices each candidate once.
    * Only (key, name) rides the shuffle. */
  def erCandidates(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("p_name"), " ")
    val parts = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
        element_at(toks, 1).as("head"), element_at(toks, -1).as("tail"))
    def pass(tok: String): DataFrame =
      parts
        .groupBy(col("p_brand"), col("p_type"), col(tok))
        .agg(sort_array(collect_list(struct(col("p_partkey").as("id"), col("p_name").as("nm")))).as("ps"))
        .filter(size(col("ps")) > 1)
        .select(explode(expr(
          """flatten(transform(sequence(0, size(ps) - 2),
            |  i -> transform(slice(ps, i + 2, size(ps) - i - 1),
            |       b -> struct(ps[i].id AS part_a, ps[i].nm AS name_a,
            |                   b.id AS part_b, b.nm AS name_b))))""".stripMargin)).as("p"))
        .select(col("p.part_a"), col("p.name_a"), col("p.part_b"), col("p.name_b"))
    pass("head").union(pass("tail"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= ErMaxDist)
      .select(col("part_a"), col("part_b"), col("dist"))
  }

  /** Oracle: the two blocking passes as one OR-join predicate (identical
    * pair set), DuckDB's levenshtein (same unit-cost edit distance). */
  private val ErLabelRounds = 4

  /** ER golden records — the record-linkage pipeline COMPOSED end to end:
    * [[erCandidates]] match edges → [[ErLabelRounds]] synchronous
    * min-label rounds cluster the matched parts → one survivorship agg
    * per cluster merges fields (name follows the smallest member id,
    * size takes the max, price takes the max in exact cents). Singletons
    * never enter (no match edge), so the output is exactly the merged
    * entities a master-data system would publish.
    *
    * Determinism: fixed synchronous rounds (engine-identical labels even
    * before convergence — the oracle unrolls the same rounds), integer
    * survivorship tiebreaks, exact cents. Scale: the label rounds
    * ([[graft.graph.Relax.min]], each truncated) run on the MATCH edge set
    * (output-sized, ≪ catalog); the final field join is keyed on part id. */
  def erGoldenRecords(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.Caches.persisted(
      erCandidates(spark, dir).select(col("part_a").as("u"), col("part_b").as("v")))
    val adj = Relax.adjacency(pairs, graft.Memo.countOf(spark, s"er-pairs/$dir", pairs))
    val lbl = Relax.min(adj, Relax.ownLabels(adj), col("h"), Relax.Fixed(ErLabelRounds))
    val parts = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        round(col("p_retailprice") * 100).cast("bigint").as("price_cents"))
    lbl.join(parts, col("v") === col("p_partkey"))
      .groupBy(col("h").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(struct(col("p_partkey"), col("p_name"))).as("m"),
        max(col("p_size")).cast("bigint").as("max_size"),
        max(col("price_cents")).as("max_price_cents"))
      .select(col("cluster_id"), col("n_members"),
        col("m.p_partkey").as("canonical_part"),
        col("m.p_name").as("canonical_name"),
        col("max_size"), col("max_price_cents"))
  }

  /** Oracle: the candidate SQL's edges, the same unrolled min-label
    * rounds, survivorship via `row_number`. */
  def erGoldenRecordsSql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT v, min(label) AS label FROM (
         |    SELECT v, label FROM $prev
         |    UNION ALL
         |    SELECT a.v, p.label FROM adj a JOIN $prev p ON a.n = p.v)
         |  GROUP BY v)"""
    s"""WITH cand AS ($erCandidatesSql),
       |adj AS (SELECT part_a AS v, part_b AS n FROM cand
       |        UNION ALL SELECT part_b AS v, part_a AS n FROM cand),
       |l0 AS (SELECT DISTINCT v, v AS label FROM adj),
       |${round("l0", "l1")},
       |${round("l1", "l2")},
       |${round("l2", "l3")},
       |${round("l3", "l4")},
       |j AS (SELECT l4.label, p.p_partkey, p.p_name,
       |        CAST(p.p_size AS BIGINT) AS p_size,
       |        CAST(round(p.p_retailprice * 100) AS BIGINT) AS price_cents
       |      FROM l4 JOIN part p ON l4.v = p.p_partkey)
       |SELECT label AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |  min(p_partkey) AS canonical_part,
       |  arg_min(p_name, p_partkey) AS canonical_name,
       |  max(p_size) AS max_size,
       |  max(price_cents) AS max_price_cents
       |FROM j GROUP BY label""".stripMargin
  }

  def erCandidatesSql: String =
    s"""WITH p AS (
       |  SELECT p_partkey, p_name, p_brand, p_type,
       |    string_split(p_name, ' ')[1] AS head,
       |    string_split(p_name, ' ')[-1] AS tail
       |  FROM part)
       |SELECT part_a, part_b, dist FROM (
       |  SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
       |    CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
       |  FROM p a JOIN p b ON a.p_partkey < b.p_partkey
       |    AND a.p_brand = b.p_brand AND a.p_type = b.p_type
       |    AND (a.head = b.head OR a.tail = b.tail)) t
       |WHERE dist <= $ErMaxDist""".stripMargin
}
