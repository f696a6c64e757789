package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Plans.{truncate, truncatedArtifact}
import graft.Tables
import graft.functions.VectorExpressions

/** Similarity search over the `embeddings` table (`ArrayType(FloatType)`,
  * dim 64).
  *
  * Two paths, as a 100 TB design requires:
  *  - [[topkBruteForce]] — the exactness baseline: a small query set is
  *    broadcast against the full corpus (one narrow pass over the big side,
  *    no shuffle of the corpus), cosine in a native expression, per-query
  *    top-k via window rank. Cost is O(|corpus|·|queries|); correct whenever
  *    the query set is small.
  *  - [[topkLsh]] / [[topkIvf]] / [[nearPairs]] — the scale paths: bucketed
  *    candidate generation (random-hyperplane signatures / IVF cells), so the
  *    corpus is scanned once and joined on a small key — never an all-pairs
  *    product.
  *
  * Every query here is exactly reproducible by the DuckDB oracle: float
  * vectors are cast to double before arithmetic, folds run strictly
  * left-to-right (bit-identical across engines), the hyperplane signs are a
  * deterministic splitmix64 function of (plane, dim) whose 8×64 values are
  * inlined into the generated oracle SQL, and the IVF coarse quantizer is
  * built from exact integer-scaled component sums (see [[labelCentroids]])
  * so even the "approximate" paths are deterministic functions of the data.
  */
object SimilarityQueries {

  private val NumQueries = 5
  private val K = 10
  private val Dim = 64

  /** Shared oracle fragment: vectors with their ordered-fold squared norms. */
  private val normCte =
    """n AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e,
      |    list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, x) -> a + x) AS nrm
      |  FROM embeddings)""".stripMargin

  /** Exact cosine top-k for query vectors vec_id < 5 against the corpus.
    * `cosine_sim` ([[graft.functions.CosineSim]]) folds in index order, so
    * the value is bit-identical to the oracle's ordered fold. */
  def topkBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = base
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val scored = base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", expr("cosine_sim(qe, e)"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id"), col("rank").cast("bigint").as("rank"), col("cosine"))
  }

  def topkBruteForceSql: String =
    s"""WITH $normCte,
       |q AS (SELECT vec_id AS q_id, e AS qe, nrm AS qn FROM n WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q_id, b.vec_id AS vec_id,
       |    list_reduce(list_transform(range(1, len(qe) + 1), i -> qe[i] * b.e[i]), (a, x) -> a + x)
       |      / (sqrt(qn) * sqrt(b.nrm)) AS cosine
       |  FROM q, n b WHERE b.vec_id <> q_id)
       |SELECT q_id, vec_id, rank, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored) r
       |WHERE rank <= $K""".stripMargin

  /** The ±1 components of hyperplane `p` as a DuckDB double-list literal —
    * the same splitmix64-derived signs [[graft.functions.RandomHyperplaneSig]]
    * uses, inlined so the oracle computes the identical signature. */
  private def signListSql(p: Int): String =
    (0 until Dim).map(d => if (VectorExpressions.planeSign(p, d) > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]::DOUBLE[]")

  /** Oracle fragment: per-vector `nPlanes`-bit random-hyperplane signature,
    * matching `rh_sig` bit-for-bit (projections are the same ordered folds;
    * bit 63's `1L << 63` literal is the negative two's-complement value, so
    * the sum reproduces the packed long exactly). */
  private def sigCteN(nPlanes: Int): String = {
    val planes = (0 until nPlanes)
      .map(p => s"${signListSql(p)} AS s$p").mkString(",\n    ")
    val projs = (0 until nPlanes)
      .map(p => s"list_reduce(list_transform(range(1, len(e) + 1), i -> e[i] * s$p[i]), (a, x) -> a + x) AS proj$p")
      .mkString(",\n      ")
    val bits = (0 until nPlanes)
      .map(p => s"(CASE WHEN proj$p > 0 THEN ${1L << p} ELSE 0 END)").mkString(" + ")
    s"""planes AS (
       |  SELECT $planes),
       |sig AS (
       |  SELECT vec_id, e, nrm, CAST($bits AS BIGINT) AS sig FROM (
       |    SELECT vec_id, e, nrm,
       |      $projs
       |    FROM n, planes) pr)""".stripMargin
  }

  /** The 8-plane signature CTE the top-k LSH oracle uses. */
  private def sigCte: String = sigCteN(VectorExpressions.NumPlanes)

  /** Approximate top-k: score only corpus vectors whose 8-bit
    * random-hyperplane signature ([[graft.functions.RandomHyperplaneSig]])
    * matches the query's bucket or any 1-bit flip of it (multiprobe).
    * Candidate generation is an equi-join on the signature — the corpus is
    * scanned once, shuffled by an 8-bit key, never an all-pairs product.
    * The signature is a deterministic function of the vector, so the oracle
    * reproduces the exact candidate set (signs inlined in [[topkLshSql]]);
    * recall vs brute force is additionally validated in the test suite. */
  def topkLsh(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("sig", expr("rh_sig(e)"))
    // probe buckets: the query's own signature + each 1-bit flip (multiprobe)
    val probes = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("sig").as("qsig"))
      .withColumn("flip",
        explode(array((lit(0L) +: (0 until VectorExpressions.NumPlanes).map(p => lit(1L << p))): _*)))
      .withColumn("probe_sig", col("qsig").bitwiseXOR(col("flip")))
    val cand = base.join(broadcast(probes), col("sig") === col("probe_sig") &&
        col("vec_id") =!= col("q_id"))
      .dropDuplicates("q_id", "vec_id")
    cand
      .withColumn("cosine", expr("cosine_sim(qe, e)"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id"), col("rank").cast("bigint").as("rank"), col("cosine"))
  }

  /** Exact oracle for [[topkLsh]]: same buckets (inlined hyperplane signs),
    * same multiprobe flips, same ordered-fold cosine. Probe signatures are
    * pairwise distinct per query, so the join yields no duplicate pairs and
    * needs no DISTINCT. */
  def topkLshSql: String = {
    val flips = (0L +: (0 until VectorExpressions.NumPlanes).map(p => 1L << p)).mkString("[", ", ", "]")
    s"""WITH $normCte,
       |$sigCte,
       |probes AS (
       |  SELECT vec_id AS q_id, e AS qe, nrm AS qn, xor(sig, flip) AS probe_sig
       |  FROM sig, (SELECT unnest($flips::BIGINT[]) AS flip) f
       |  WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT p.q_id, s.vec_id,
       |    list_reduce(list_transform(range(1, len(p.qe) + 1), i -> p.qe[i] * s.e[i]), (a, x) -> a + x)
       |      / (sqrt(p.qn) * sqrt(s.nrm)) AS cosine
       |  FROM probes p JOIN sig s ON s.sig = p.probe_sig AND s.vec_id <> p.q_id)
       |SELECT q_id, vec_id, rank, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored) r
       |WHERE rank <= $K""".stripMargin
  }

  private val NearBands = 4
  private val NearBandBits = 16 // 64 planes / 4 bands; 65,536-value band space

  /** Embedding-cosine near-duplicate pairs: candidate pairs from banded
    * random-hyperplane LSH, exact cosine only on candidates.
    *
    * Scale shape (the 8-bit single-bucket join this replaces had a CONSTANT
    * 256-value key space — bucket occupancy N/256, within-bucket pair
    * expansion ~N²/256, quadratic at 10⁹ vectors): the signature is 64
    * planes ([[VectorExpressions.WidePlanes]]) banded 4 × 16 bits, so each
    * band key ranges over 65,536 values, and a pair is a candidate iff some
    * band differs in ≤ 1 bit (multiprobe: each vector also posts its chunk
    * with every 1-bit flip, recovering the recall the narrower per-band
    * match would lose). Candidates come from grouped bucket expansion —
    * one shuffle by (band, key), pairs expanded only inside shared buckets,
    * the signature pipeline evaluated once, never an all-pairs product.
    * Growing the corpus further means growing `NearBandBits` (key space
    * must track log₂ N) — the knob is a constant here, not a rewrite.
    * Both the banding and the multiprobe are deterministic functions of
    * the vector, so the oracle reproduces the exact output; score agreement
    * with brute force is asserted in SimilaritySuite. */
  def nearPairs(spark: SparkSession, dir: String): DataFrame = {
    val threshold = 0.3
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val sig = base
      .select(col("vec_id"), expr(s"rh_sig(e, ${VectorExpressions.WidePlanes})").as("sig"))
    val chunks = sig
      .select(col("vec_id"), col("sig"),
        explode(sequence(lit(0), lit(NearBands - 1))).as("band"))
      .select(col("vec_id"), col("band"),
        expr(s"(sig >> (band * $NearBandBits)) & ${(1 << NearBandBits) - 1}").as("chunk"))
    // every vector posts one base row + 17 probe rows (identity + each
    // 1-bit flip) per band; a candidate pair is a (base, probe) meeting —
    // covers band-hamming ≤ 1 exactly (d=0 via the identity probe, d=1 via
    // the differing-bit flip), found from both sides, deduped below
    val flips = lit(0L) +: (0 until NearBandBits).map(k => lit(1L << k))
    val baseRows = chunks.select(col("band"), col("chunk").as("key"),
      col("vec_id"), lit(true).as("is_base"))
    val probeRows = chunks
      .select(col("vec_id"), col("band"), col("chunk"), explode(array(flips: _*)).as("flip"))
      .select(col("band"), col("chunk").bitwiseXOR(col("flip")).as("key"),
        col("vec_id"), lit(false).as("is_base"))
    val cand = baseRows.union(probeRows)
      .groupBy(col("band"), col("key"))
      .agg(collect_list(struct(col("vec_id"), col("is_base"))).as("vs"))
      .filter(size(col("vs")) > 1)
      .select(explode(expr(
        """flatten(transform(filter(vs, v -> v.is_base),
          |  a -> transform(filter(vs, v -> NOT v.is_base AND v.vec_id <> a.vec_id),
          |       b -> struct(least(a.vec_id, b.vec_id) AS vec_a,
          |                   greatest(a.vec_id, b.vec_id) AS vec_b))))""".stripMargin)).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"))
      .distinct()
      // tiny (LSH's point) and consumed twice below; released by the
      // harness via Caches.drain() after the action
      .transform(graft.Caches.persisted)
    // exact cosine only for vectors that appear in a candidate pair
    val candIds = cand
      .select(explode(array(col("vec_a"), col("vec_b"))).as("vec_id"))
      .distinct()
    val vecs = base.join(candIds, Seq("vec_id"), "left_semi")
    cand
      .join(vecs.select(col("vec_id").as("vec_a"), col("e").as("ea")), "vec_a")
      .join(vecs.select(col("vec_id").as("vec_b"), col("e").as("eb")), "vec_b")
      .withColumn("cosine", expr("cosine_sim(ea, eb)"))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Exact oracle for [[nearPairs]]: all-pairs (fine for DuckDB at sf0.01)
    * with the identical candidate predicate — some 16-bit band of the
    * 64-plane signatures differs in ≤ 1 bit — and the same threshold. */
  def nearPairsSql: String = {
    val mask = (1 << NearBandBits) - 1
    val bandPred = (0 until NearBands)
      .map(b => s"bit_count(xor((a.sig >> ${b * NearBandBits}) & $mask, (b.sig >> ${b * NearBandBits}) & $mask)) <= 1")
      .mkString("(", " OR ", ")")
    s"""WITH $normCte,
       |${sigCteN(VectorExpressions.WidePlanes)}
       |SELECT vec_a, vec_b, cosine FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    list_reduce(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]), (a2, x) -> a2 + x)
       |      / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
       |  FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND $bandPred) p
       |WHERE cosine >= 0.3""".stripMargin
  }

  private val HardNegK = 5

  /** Hard-negative mining — for each query vector, the [[HardNegK]] most
    * cosine-similar vectors with a DIFFERENT label: the examples a
    * contrastive/retrieval trainer wants in the batch precisely because
    * they are near misses (easy negatives teach nothing; in-batch randoms
    * are easy at scale). The labeled sibling of [[topkBruteForce]]:
    * same broadcast-queries shape, with the label inequality applied
    * BEFORE scoring so excluded rows never pay the dot product.
    *
    * Scale shape: queries broadcast (one narrow corpus pass, no corpus
    * shuffle); per-query top-k is rank-bounded so the WindowGroupLimit
    * forwards ≤ k rows per query per partition. At mining-everything
    * scale (every vector a query) the candidate side swaps to the IVF
    * path ([[topkIvf]]) unchanged — the label filter composes with any
    * candidate generator. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("e"))
    val q = base
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"), col("e").as("qe"))
    base.crossJoin(broadcast(q))
      .filter(col("label") =!= col("q_label"))
      .withColumn("cosine", expr("cosine_sim(qe, e)"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= HardNegK)
      .select(col("q_id"), col("vec_id"), col("label"),
        col("rank").cast("bigint").as("rank"), col("cosine"))
  }

  def hardNegativesSql: String =
    s"""WITH $normCte,
       |l AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |q AS (SELECT n.vec_id AS q_id, l.label AS q_label, e AS qe, nrm AS qn
       |      FROM n JOIN l USING (vec_id) WHERE n.vec_id < $NumQueries),
       |scored AS (
       |  SELECT q_id, b.vec_id AS vec_id, lb.label AS label,
       |    list_reduce(list_transform(range(1, len(qe) + 1), i -> qe[i] * b.e[i]), (a, x) -> a + x)
       |      / (sqrt(qn) * sqrt(b.nrm)) AS cosine
       |  FROM q, n b JOIN l lb ON lb.vec_id = b.vec_id
       |  WHERE lb.label <> q_label)
       |SELECT q_id, vec_id, label, rank, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored) r
       |WHERE rank <= $HardNegK""".stripMargin

  /** Mutual nearest neighbors over the LSH candidate graph — pairs where
    * each vector is the OTHER's best candidate: the margin-free core of
    * bitext/parallel-pair mining (Artetxe & Schwenk 2019 mine with
    * mutual-NN + margin; the mutuality filter is what kills the hubness
    * false positives a one-directional top-1 keeps).
    *
    * Semantics: "nearest" is taken over [[nearPairs]]'s candidate set
    * (64-plane banded LSH, ≤1-bit band probe, cosine ≥ 0.3) — the honest
    * scale path, since exact global top-1 for EVERY vector is the n²
    * product the LSH exists to avoid. The candidate set is a
    * deterministic function of the data (inlined-sign signatures), so the
    * oracle replays it exactly; ties break on neighbor id.
    *
    * Scale shape: candidates are LSH-bucket-bounded; the per-vector top-1
    * is a WindowGroupLimit on the candidate-sized symmetrized edge list;
    * mutuality is one (v, n)-keyed equi self-join of the |vectors|-sized
    * best-edge table. Nothing touches the n² pair space. */
  def mutualNn(spark: SparkSession, dir: String): DataFrame = {
    val (np, nNp) = nearPairsMemo(spark, dir)
    val sym = np.select(col("vec_a").as("v"), col("vec_b").as("n"), col("cosine"))
      .unionByName(np.select(col("vec_b").as("v"), col("vec_a").as("n"), col("cosine")))
    val best = sym
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("v")).orderBy(col("cosine").desc, col("n").asc)))
      .filter(col("rk") === 1)
      .select(col("v"), col("n"), col("cosine"))
    // best ≤ one row per pair endpoint ≤ 2·|pairs| — gate on the memoized
    // exact pair count (the checkpointed artifact has no stats of its own)
    best.as("x")
      .join(graft.Plans.broadcastIfSmall(best.as("y"), 2 * nNp),
        col("x.v") === col("y.n") && col("x.n") === col("y.v") && col("x.v") < col("x.n"))
      .select(col("x.v").as("vec_a"), col("x.n").as("vec_b"), col("x.cosine").as("cosine"))
  }

  /** Session-memoized [[nearPairs]] artifact — the verified embedding-
    * cosine candidate pair list, truncated, its key carrying the truncation
    * mode ([[graft.Plans.truncatedArtifact]], like
    * [[graft.dedup.DedupQueries]]' pair memo): three registered
    * queries (mutual-NN, margin mining, kNN label eval) derive from the
    * identical LSH candidate generation + exact-cosine verification, and
    * each previously re-ran it. The scoped block releases nearPairs'
    * internal candidate persist once the truncation materializes; the
    * pairs artifact is deterministic, so a memoized copy is bit-identical
    * to a rebuild.
    *
    * The memo carries the EXACT pair count alongside the frame: a
    * checkpointed RDD exposes no size statistics, so without an explicit
    * gate every pair-list-derived self-join would plan sort-merge
    * (regression caught by PlanQualitySuite when the memo landed) —
    * consumers feed the count to [[graft.Plans.broadcastIfSmall]] exactly
    * like the graph family's edge memo. */
  private def nearPairsMemo(spark: SparkSession, dir: String): (DataFrame, Long) =
    truncatedArtifact(spark, s"embed-near-pairs/$dir") {
      graft.Caches.scoped {
        val df = truncate(nearPairs(spark, dir))
        (df, df.count())
      }
    }

  /** Neighborhood size for [[marginPairs]]' local-density normalizer. */
  private val MarginK = 4

  /** Margin-based pair mining (Artetxe & Schwenk 2019, the LASER bitext
    * margin, applied to intra-corpus alignment): score every candidate
    * pair by its cosine RELATIVE to both endpoints' local neighborhood
    * density — `margin(x,y) = 2·cos(x,y) / (avgK(x) + avgK(y))` with
    * avgK the mean cosine to the K nearest candidates. A raw-cosine
    * cutoff over-selects pairs in dense regions (hubs score high with
    * everyone) and under-selects in sparse ones; the margin is the
    * standard correction, the selector used for mined parallel corpora
    * and semantic-alignment training pairs. Returns the top-20 pairs by
    * margin (ties to the smaller pair).
    *
    * Exactness: sums of the K neighbor cosines fold in rank order
    * (array_sort on (rk, cosine) structs, then a strict left fold), so
    * the double is bit-identical in both engines; the margin is then one
    * fixed expression tree of IEEE ops over engine-exact inputs, rounded
    * once for display. Ordering ties break on (vec_a, vec_b).
    *
    * Scale shape: candidates and neighborhoods both come from the banded
    * LSH pair list ([[nearPairs]] — never all-pairs); the per-endpoint
    * top-K is a WindowGroupLimit over the symmetric pair list; the margin
    * join attaches the |V|-sized avgK table back to the |pairs|-sized
    * list on its keys. Everything is pair-list-sized. */
  def marginPairs(spark: SparkSession, dir: String): DataFrame = {
    val (np, nNp) = nearPairsMemo(spark, dir)
    val sym = np.select(col("vec_a").as("v"), col("vec_b").as("n"), col("cosine"))
      .unionByName(np.select(col("vec_b").as("v"), col("vec_a").as("n"), col("cosine")))
    val avgk = sym
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("v")).orderBy(col("cosine").desc, col("n").asc)))
      .filter(col("rk") <= MarginK)
      .groupBy(col("v"))
      .agg(
        expr("aggregate(array_sort(collect_list(struct(rk, cosine))), 0D, (a, x) -> a + x.cosine)").as("sk"),
        count(lit(1)).cast("bigint").as("k"))
    np
      .join(graft.Plans.broadcastIfSmall(
        avgk.select(col("v").as("vec_a"), col("sk").as("sa"), col("k").as("ka")), 2 * nNp), "vec_a")
      .join(graft.Plans.broadcastIfSmall(
        avgk.select(col("v").as("vec_b"), col("sk").as("sb"), col("k").as("kb")), 2 * nNp), "vec_b")
      .withColumn("margin", expr("2.0D * cosine / (sa / ka + sb / kb)"))
      .orderBy(col("margin").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(20)
      .select(col("vec_a"), col("vec_b"),
        round(col("cosine"), 6).as("cosine"), round(col("margin"), 6).as("margin"))
  }

  def marginPairsSql: String =
    s"""WITH np AS (
       |  ${nearPairsSql.replace("\n", "\n  ")}),
       |sym AS (SELECT vec_a AS v, vec_b AS n, cosine FROM np
       |        UNION ALL SELECT vec_b, vec_a, cosine FROM np),
       |rk AS (SELECT v, n, cosine,
       |         row_number() OVER (PARTITION BY v ORDER BY cosine DESC, n) AS rk
       |       FROM sym),
       |avgk AS (SELECT v,
       |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(
       |      list_sort(list(struct_pack(rk := rk, cosine := cosine))), s -> s.cosine)), (a, b) -> a + b) AS sk,
       |    CAST(count(*) AS BIGINT) AS k
       |  FROM rk WHERE rk <= $MarginK GROUP BY v)
       |SELECT vec_a, vec_b, round(cosine, 6) AS cosine,
       |  round(2.0::DOUBLE * cosine / (a.sk / a.k + b.sk / b.k), 6) AS margin
       |FROM np
       |JOIN avgk a ON np.vec_a = a.v
       |JOIN avgk b ON np.vec_b = b.v
       |ORDER BY 2.0::DOUBLE * cosine / (a.sk / a.k + b.sk / b.k) DESC, vec_a, vec_b
       |LIMIT 20""".stripMargin

  def mutualNnSql: String =
    s"""WITH np AS (
       |  ${nearPairsSql.replace("\n", "\n  ")}),
       |sym AS (SELECT vec_a AS v, vec_b AS n, cosine FROM np
       |        UNION ALL SELECT vec_b, vec_a, cosine FROM np),
       |best AS (SELECT v, n, cosine FROM (
       |    SELECT *, row_number() OVER (PARTITION BY v ORDER BY cosine DESC, n) AS rk
       |    FROM sym) r
       |  WHERE rk = 1)
       |SELECT x.v AS vec_a, x.n AS vec_b, x.cosine AS cosine
       |FROM best x JOIN best y ON x.v = y.n AND x.n = y.v AND x.v < x.n""".stripMargin

  private val KnnEvalK = 3

  /** kNN label-consistency evaluation — the embedding-space sanity check
    * before labels drive anything downstream (IVF seeding, [[topkIvf]];
    * stratified eval slices): each vector's label is predicted by majority
    * vote of its [[KnnEvalK]] nearest LSH candidates, and the output is
    * the label confusion matrix. High diagonal mass = the embedding
    * geometry respects the labels; a scrambled matrix = neighbors are
    * noise and every label-seeded structure downstream inherits it.
    *
    * "Nearest" is over [[nearPairs]]'s deterministic candidate graph (the
    * [[mutualNn]] policy — exact global kNN for every vector is the n²
    * the LSH exists to avoid); vectors with no candidate are excluded
    * (reported nowhere — their neighborhood is empty at this radius).
    * Vote ties break toward the smaller label; all counts int64.
    *
    * Scale shape: candidate edges are LSH-bounded; top-k and the vote are
    * WindowGroupLimit + partial aggs on the edge list; labels attach by
    * two vec_id-keyed joins; output is |labels|²-bounded. */
  def knnLabelEval(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val (np, _) = nearPairsMemo(spark, dir)
    val sym = np.select(col("vec_a").as("v"), col("vec_b").as("n"), col("cosine"))
      .unionByName(np.select(col("vec_b").as("v"), col("vec_a").as("n"), col("cosine")))
    val top = sym
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("v")).orderBy(col("cosine").desc, col("n").asc)))
      .filter(col("rk") <= KnnEvalK)
    val votes = top
      .join(labels.select(col("vec_id").as("n"), col("label").as("n_label")), "n")
      .groupBy(col("v"), col("n_label")).agg(count(lit(1)).as("votes"))
    val pred = votes
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("v")).orderBy(col("votes").desc, col("n_label").asc)))
      .filter(col("vr") === 1)
      .select(col("v").as("vec_id"), col("n_label").as("pred_label"))
    pred.join(labels, "vec_id")
      .groupBy(col("label").as("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n_vectors"))
  }

  def knnLabelEvalSql: String =
    s"""WITH np AS (
       |  ${nearPairsSql.replace("\n", "\n  ")}),
       |lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |sym AS (SELECT vec_a AS v, vec_b AS n, cosine FROM np
       |        UNION ALL SELECT vec_b, vec_a, cosine FROM np),
       |top AS (SELECT v, n FROM (
       |    SELECT *, row_number() OVER (PARTITION BY v ORDER BY cosine DESC, n) AS rk
       |    FROM sym) r
       |  WHERE rk <= $KnnEvalK),
       |votes AS (SELECT v, lb.label AS n_label, count(*) AS votes
       |          FROM top JOIN lb ON lb.vec_id = top.n GROUP BY 1, 2),
       |pred AS (SELECT v AS vec_id, n_label AS pred_label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY v ORDER BY votes DESC, n_label) AS vr
       |    FROM votes) r
       |  WHERE vr = 1)
       |SELECT lb.label AS true_label, pred_label,
       |  CAST(count(*) AS BIGINT) AS n_vectors
       |FROM pred JOIN lb USING (vec_id)
       |GROUP BY 1, 2""".stripMargin

  private val CentScale = "10000000.0" // 1e7: exact integer-scaled component sums

  /** Element-wise centroid of each label's embeddings — the IVF coarse
    * quantizer build step, exploded to one scalar row per (label, dimension)
    * so partial aggregation applies and no vector is materialized in one
    * reduce task. Components are summed as `floor(v·1e7 + 0.5)` bigints
    * (exact, order-independent — the float inputs span ~[-4,4], so overflow
    * needs ~9e10 vectors per label) with one final double division, making
    * the centroid bit-identical across partitionings and engines. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding").cast("array<double>")))
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(floor(col("col") * lit(1e7) + lit(0.5))).as("s"),
        count(lit(1)).as("n_vectors"))
      .select(
        col("label"), col("pos").cast("bigint").as("pos"),
        (col("s").cast("double") / (col("n_vectors").cast("double") * lit(1e7))).as("centroid_v"),
        col("n_vectors"))

  def labelCentroidsSql: String =
    s"""WITH x AS (
       |  SELECT label,
       |    unnest(list_transform(range(1, len(embedding) + 1),
       |      i -> {'pos': i - 1, 'sv': CAST(floor(embedding[i]::DOUBLE * $CentScale + 0.5) AS BIGINT)})) AS u
       |  FROM embeddings)
       |SELECT label, CAST(u.pos AS BIGINT) AS pos,
       |  CAST(sum(u.sv) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * $CentScale) AS centroid_v,
       |  count(*) AS n_vectors
       |FROM x GROUP BY label, u.pos""".stripMargin

  /** [[labelCentroids]] re-assembled into one centroid vector per label, for
    * the IVF quantizer (deterministic: components are exact, order fixed by
    * `array_sort` on position). */
  private[graft] def centroidVectors(spark: SparkSession, dir: String): DataFrame =
    labelCentroids(spark, dir)
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("centroid_v"))))
        .getField("centroid_v").as("centroid"))

  private[graft] val LloydRounds = 3

  /** The TRAINED IVF quantizer, memoized per (session, dir, truncation
    * mode) by [[graft.Plans.truncatedArtifact]] like the PQ codebook
    * ([[pqCodebookTable]]): eight registered queries consume a trained
    * quantizer, and before the memo each re-ran the full Lloyd loop
    * in-query; a cluster deployment persists the same table. The memo
    * holds self-contained truncated frames (in reliable mode they survive
    * executor loss), and every training walks the identical trajectory, so
    * a memoized result is bit-identical to a retrain. */
  private[graft] def trainedCentroidTable(spark: SparkSession, dir: String): DataFrame =
    truncatedArtifact(spark, s"trained-ivf/$dir")(trainCentroidTable(spark, dir))

  /** TRAINED IVF coarse quantizer: [[labelCentroids]] as the deterministic
    * seed, refined by [[LloydRounds]] rounds of [[lloyd]] — assign every
    * vector to its nearest centroid by cosine, recompute each cell's
    * centroid as the exact integer-scaled component mean of its members.
    * Real IVF trains its quantizer; the label seed alone only inherits the
    * labels' geometry.
    *
    * Determinism is what keeps the oracle exact through THREE rounds of
    * feedback: assignment ranks exact doubles with a total tie-break, and
    * recomputation uses the same `floor(v·1e7+0.5)` bigint sums as the seed
    * — order- and partitioning-independent, so both engines walk the
    * identical centroid trajectory. */
  private def trainCentroidTable(spark: SparkSession, dir: String): DataFrame = {
    val points = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
    val seeds = centroidVectors(spark, dir)
      .select(col("label").cast("bigint").as("id"), col("centroid").as("c"))
    lloyd(points, seeds, Nil, LloydRounds)(expr("cosine_sim(x, c)"))
      .select(col("id").as("cell"), col("pos"), col("v").as("centroid_v"), col("n_vectors"))
  }

  /** The Lloyd loop of the IVF quantizer and the PQ codebooks: `rounds`
    * rounds from `seeds` `(keys…, id, c)` over `points` `(…, keys…, x)`,
    * where every column of `points` but the vector `x` identifies a point.
    * A round assigns each point to the seed of its keys with the highest
    * `score` (a column over `x` and `c`), ties to the lower id —
    * `max(struct(score, -id, x))` is unique per point, so the carried
    * vector never takes part in the comparison — then recomputes each seed
    * as the exact mean of its members: `floor(x·1e7+0.5)` bigint sums by
    * (keys…, id, pos), re-assembled in position order. Seeds that win no
    * point drop out, identically in the oracle. Returns the last round's
    * `(keys…, id, pos, v, n_vectors)`.
    *
    * Scale shape per round: one narrow pass over the points against the
    * broadcast seed table (argmax via one partial-agg max-of-struct, no
    * window), then an exploded (keys…, id, pos) partial aggregation. Every
    * round is truncated ([[graft.Plans.truncate]]): the assignment reads
    * the previous seeds once per comparison, so a lazy plan would nest per
    * round. */
  private def lloyd(points: DataFrame, seeds: DataFrame, keys: Seq[String], rounds: Int)(
      score: Column): DataFrame = {
    val point = points.columns.toSeq.filter(_ != "x").map(col)
    val byKey = keys.map(col)
    var cents = truncate(seeds)
    var grouped: DataFrame = null
    for (_ <- 1 to rounds) {
      val assigned = points.join(broadcast(cents), keys)
        .groupBy(point: _*)
        .agg(max(struct(score.as("score"), (-col("id")).as("negid"), col("x").as("xv"))).as("m"))
        .select(byKey ++ Seq((-col("m.negid")).as("id"), col("m.xv").as("x")): _*)
      grouped = truncate(assigned
        .select(byKey ++ Seq(col("id"), posexplode(col("x"))): _*)
        .groupBy(byKey ++ Seq(col("id"), col("pos")): _*)
        .agg(
          sum(floor(col("col") * lit(1e7) + lit(0.5))).as("sv"),
          count(lit(1)).as("n_vectors"))
        .select(byKey ++ Seq(col("id"), col("pos").cast("bigint").as("pos"),
          (col("sv").cast("double") / (col("n_vectors").cast("double") * lit(1e7))).as("v"),
          col("n_vectors")): _*))
      cents = truncate(grouped
        .groupBy(byKey :+ col("id"): _*)
        .agg(array_sort(collect_list(struct(col("pos"), col("v")))).getField("v").as("c")))
    }
    grouped
  }

  /** Registered query: the trained quantizer, one scalar row per
    * (cell, dimension) — the IVF train step's inspectable output. */
  def ivfTrain(spark: SparkSession, dir: String): DataFrame =
    trainedCentroidTable(spark, dir)

  /** [[trainedCentroidTable]] re-assembled into one vector per cell. */
  private[graft] def trainedCentroidVectors(spark: SparkSession, dir: String): DataFrame =
    trainedCentroidTable(spark, dir)
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("centroid_v"))))
        .getField("centroid_v").as("centroid"))

  /** The Lloyd rounds as an unrolled CTE chain, shared by [[ivfTrainSql]]
    * and [[topkIvfSql]] so the two oracles cannot diverge. Produces
    * `g{r}` (cell, pos, s, n) per round and `cent{r}` centroid-list tables;
    * the caller reads `g${LloydRounds - 1}` or `cent$LloydRounds`.
    * Requires the shared `n` norm CTE to be in scope. */
  private def lloydCtes: String = {
    val seed =
      s"""cexp AS (
         |  SELECT label,
         |    unnest(list_transform(range(1, len(embedding) + 1),
         |      i -> {'pos': i - 1, 'sv': CAST(floor(embedding[i]::DOUBLE * $CentScale + 0.5) AS BIGINT)})) AS u
         |  FROM embeddings),
         |cent0 AS (
         |  SELECT CAST(label AS BIGINT) AS cell,
         |    list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * $CentScale) ORDER BY pos) AS c
         |  FROM (SELECT label, u.pos AS pos, sum(u.sv) AS s, count(*) AS n
         |        FROM cexp GROUP BY label, u.pos) g
         |  GROUP BY label)""".stripMargin
    val rounds = (0 until LloydRounds).map { r =>
      s"""cn$r AS (
         |  SELECT cell, c,
         |    list_reduce(list_transform(c, x -> x * x), (a, x) -> a + x) AS cnrm
         |  FROM cent$r),
         |a$r AS (
         |  SELECT vec_id, e, cell FROM (
         |    SELECT n.vec_id, n.e, cn$r.cell,
         |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |        list_reduce(list_transform(range(1, len(n.e) + 1), i -> n.e[i] * cn$r.c[i]), (a, x) -> a + x)
         |          / (sqrt(n.nrm) * sqrt(cn$r.cnrm)) DESC, cn$r.cell) AS rk
         |    FROM n, cn$r) t
         |  WHERE rk = 1),
         |g$r AS (
         |  SELECT cell, u.pos AS pos, sum(u.sv) AS s, count(*) AS n FROM (
         |    SELECT cell,
         |      unnest(list_transform(range(1, len(e) + 1),
         |        i -> {'pos': i - 1, 'sv': CAST(floor(e[i] * $CentScale + 0.5) AS BIGINT)})) AS u
         |    FROM a$r) x
         |  GROUP BY cell, u.pos),
         |cent${r + 1} AS (
         |  SELECT cell, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * $CentScale) ORDER BY pos) AS c
         |  FROM g$r GROUP BY cell)""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  def ivfTrainSql: String =
    s"""WITH $normCte,
       |$lloydCtes
       |SELECT cell, CAST(pos AS BIGINT) AS pos,
       |  CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * $CentScale) AS centroid_v,
       |  n AS n_vectors
       |FROM g${LloydRounds - 1}""".stripMargin

  /** IVF-style approximate top-k: the TRAINED centroids
    * ([[trainedCentroidVectors]]) act as the coarse quantizer; every corpus
    * vector is assigned to its nearest centroid (narrow pass against a
    * broadcast ≤10-row centroid table), and each query searches only its
    * `nprobe`=3 closest cells. The corpus shuffles once by cell id; cost
    * per query is |corpus|·nprobe/|cells|. The quantizer is deterministic
    * (exact integer sums through every Lloyd round), so the whole pipeline
    * has an exact SQL oracle ([[topkIvfSql]]). */
  def topkIvf(spark: SparkSession, dir: String): DataFrame = {
    val nprobe = 3
    val cents = trainedCentroidVectors(spark, dir)
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // nearest centroid per vector: rank cells by cosine, keep the top one
    val cellRank = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cell"))
    val assigned = base.crossJoin(broadcast(cents))
      .withColumn("csim", expr("cosine_sim(e, centroid)"))
      .withColumn("crank", row_number().over(cellRank))
    val corpusCells = assigned.filter(col("crank") === 1)
      .select(col("vec_id"), col("e"), col("cell"))
    val queryCells = assigned.filter(col("vec_id") < NumQueries && col("crank") <= nprobe)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("cell"))
    corpusCells.join(broadcast(queryCells), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", expr("cosine_sim(qe, e)"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id"), col("rank").cast("bigint").as("rank"), col("cosine"))
  }

  /** Exact oracle for [[topkIvf]]: rebuilds the same deterministic TRAINED
    * centroids (the unrolled Lloyd CTE chain, shared with [[ivfTrainSql]]),
    * the same nearest-cell assignment (ties broken by cell id), the same
    * nprobe=3 probe cells, and the same ordered-fold cosine ranking. */
  def topkIvfSql: String =
    s"""WITH $normCte,
       |$lloydCtes,
       |cn AS (
       |  SELECT cell, c,
       |    list_reduce(list_transform(c, x -> x * x), (a, x) -> a + x) AS cnrm
       |  FROM cent$LloydRounds),
       |assigned AS (
       |  SELECT n.vec_id, n.e, n.nrm, cn.cell,
       |    list_reduce(list_transform(range(1, len(n.e) + 1), i -> n.e[i] * cn.c[i]), (a, x) -> a + x)
       |      / (sqrt(n.nrm) * sqrt(cn.cnrm)) AS csim
       |  FROM n, cn),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS crank
       |  FROM assigned),
       |corpus AS (SELECT vec_id, e, nrm, cell FROM ranked WHERE crank = 1),
       |qcells AS (SELECT vec_id AS q_id, e AS qe, nrm AS qn, cell
       |           FROM ranked WHERE vec_id < $NumQueries AND crank <= 3),
       |scored AS (
       |  SELECT q.q_id, c.vec_id,
       |    list_reduce(list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * c.e[i]), (a, x) -> a + x)
       |      / (sqrt(q.qn) * sqrt(c.nrm)) AS cosine
       |  FROM qcells q JOIN corpus c USING (cell)
       |  WHERE c.vec_id <> q.q_id)
       |SELECT q_id, vec_id, rank, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored) r
       |WHERE rank <= $K""".stripMargin

  /** ANN index evaluation — recall@k of [[topkIvf]] (nprobe=3 against the
    * trained quantizer) measured per query against the exact brute-force
    * top-k ([[topkBruteForce]]): the acceptance gate every vector index
    * ships with before it replaces exact search on a 100 TB embedding
    * table, as a first-class oracle-checked operator (the ANN member of
    * the eval family with `dedup_eval` and `quality_calibration`). Both
    * result sets carry the same (q_id, vec_id) keys, so a full-outer join
    * on the key is the exact set comparison; recall is integer ppm.
    *
    * Scale shape: inherits the operands' plans (broadcast
    * centroids/queries, bucketed probes); the comparison is a
    * (queries·k)-row join + a |queries|-row aggregate. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = topkBruteForce(spark, dir)
      .select(col("q_id"), col("vec_id"), lit(1L).as("t"))
    val pred = topkIvf(spark, dir)
      .select(col("q_id"), col("vec_id"), lit(1L).as("p"))
    // full outer can't broadcast; shuffle-hash (not sort-merge) is right
    // for the (queries·k)-row result sets — no reason to sort either side
    truth.join(pred.hint("shuffle_hash"), Seq("q_id", "vec_id"), "full_outer")
      .groupBy(col("q_id"))
      .agg(
        sum(coalesce(col("t"), lit(0L))).as("n_truth"),
        sum(coalesce(col("t"), lit(0L)) * coalesce(col("p"), lit(0L))).as("hits"))
      .select(col("q_id"), col("n_truth"), col("hits"),
        expr("hits * 1000000L div n_truth").as("recall_ppm"))
  }

  /** Oracle: the two operands' own oracles composed with the same
    * full-outer set compare. */
  def annRecallSql: String =
    s"""WITH truth AS (
       |  SELECT q_id, vec_id, 1 AS t FROM ($topkBruteForceSql) x),
       |pred AS (
       |  SELECT q_id, vec_id, 1 AS p FROM ($topkIvfSql) y),
       |j AS (
       |  SELECT q_id, coalesce(t, 0) AS t, coalesce(p, 0) AS p
       |  FROM truth FULL OUTER JOIN pred USING (q_id, vec_id))
       |SELECT q_id, CAST(sum(t) AS BIGINT) AS n_truth,
       |  CAST(sum(t * p) AS BIGINT) AS hits,
       |  CAST(sum(t * p) * 1000000 // sum(t) AS BIGINT) AS recall_ppm
       |FROM j GROUP BY q_id""".stripMargin

  /** Recall@k of the PQ code ranking vs the exact-refined ranking, side by
    * side per query — the eval twin of [[topkIvfPqRerank]]: how much
    * recall the 4-byte codes lose to quantization INSIDE the probed cells,
    * and how much the refine stage buys back (its ceiling is the cell
    * coverage — [[annRecallCurve]] prices that other dial). Same
    * full-outer set-compare as [[annRecall]]. Measured at sf0.01: mean
    * recall@10 0.20 with raw 4-bit codes → 0.46 refined, against the
    * 0.56 nprobe=3 coverage ceiling — the codes-mis-ordered share is
    * nearly fully recovered for queries·30 extra vector reads. */
  def annRecallRerank(spark: SparkSession, dir: String): DataFrame = {
    val truth = topkBruteForce(spark, dir)
      .select(col("q_id"), col("vec_id"), lit(1L).as("t"))
    val pq = topkIvfPq(spark, dir)
      .select(col("q_id"), col("vec_id"), lit(1L).as("pq"))
    val ref = topkIvfPqRerank(spark, dir)
      .select(col("q_id"), col("vec_id"), lit(1L).as("rf"))
    truth
      .join(pq.hint("shuffle_hash"), Seq("q_id", "vec_id"), "full_outer")
      .join(ref.hint("shuffle_hash"), Seq("q_id", "vec_id"), "full_outer")
      .groupBy(col("q_id"))
      .agg(
        sum(coalesce(col("t"), lit(0L))).as("n_truth"),
        sum(coalesce(col("t"), lit(0L)) * coalesce(col("pq"), lit(0L))).as("hits_pq"),
        sum(coalesce(col("t"), lit(0L)) * coalesce(col("rf"), lit(0L))).as("hits_refined"))
      .select(col("q_id"), col("n_truth"),
        expr("hits_pq * 1000000L div n_truth").as("recall_pq_ppm"),
        expr("hits_refined * 1000000L div n_truth").as("recall_refined_ppm"))
  }

  def annRecallRerankSql: String =
    s"""WITH truth AS (
       |  SELECT q_id, vec_id, 1 AS t FROM ($topkBruteForceSql) x),
       |ppq AS (
       |  SELECT q_id, vec_id, 1 AS pq FROM ($topkIvfPqSql) y),
       |prf AS (
       |  SELECT q_id, vec_id, 1 AS rf FROM ($topkIvfPqRerankSql) z),
       |j AS (
       |  SELECT q_id, coalesce(t, 0) AS t, coalesce(pq, 0) AS pq, coalesce(rf, 0) AS rf
       |  FROM truth
       |  FULL OUTER JOIN ppq USING (q_id, vec_id)
       |  FULL OUTER JOIN prf USING (q_id, vec_id))
       |SELECT q_id, CAST(sum(t) AS BIGINT) AS n_truth,
       |  CAST(sum(t * pq) * 1000000 // sum(t) AS BIGINT) AS recall_pq_ppm,
       |  CAST(sum(t * rf) * 1000000 // sum(t) AS BIGINT) AS recall_refined_ppm
       |FROM j GROUP BY q_id""".stripMargin

  private val CurveNprobes = Seq(1, 2, 3, 5, 8)

  /** Recall@k vs nprobe curve — [[annRecall]] swept across
    * nprobe ∈ {1, 2, 3, 5, 8}: the acceptance CURVE (not just the point
    * estimate) that prices the IVF speed/recall dial before anyone turns
    * it on a 100 TB table. The quantizer trains ONCE and the nearest-cell
    * ranking is shared: each sweep point only re-filters the ≤|cells|-deep
    * probe ranking, so the curve costs one training + one corpus
    * assignment + 5 bucket-join probes — not 5 full [[topkIvf]] runs.
    *
    * Measured dial (sf0.01, 10-cell quantizer, k=10): recall@10 rises
    * 0.20 → 0.36 → 0.56 → 0.76 → 0.98 across the sweep; the ≥0.9
    * acceptance bar is met at nprobe=8 (min per-query 0.9, mean 0.98),
    * oracle-checked like every other row. The shape is the honest story:
    * with only 10 label-seeded cells, cosine neighborhoods straddle cell
    * boundaries, so high recall costs probing most cells. The production
    * dial is |cells| ≈ √N with nprobe a small constant multiple — the
    * fraction probed (nprobe/|cells|) falls with corpus size while this
    * curve's ACCEPTANCE METHOD (sweep, per-query min, oracle-exact) is
    * what carries over unchanged.
    *
    * Scale shape: the per-vector cell ranking is the [[topkIvf]]
    * assignment pass (broadcast centroids, narrow); `corpusCells` persists
    * ids+cells once and every sweep point joins it on cell id; the recall
    * compare runs on (queries·k·|sweep|)-row sets. */
  def annRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val cents = trainedCentroidVectors(spark, dir)
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cellRank = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cell"))
    val ranked = base.crossJoin(broadcast(cents))
      .withColumn("csim", expr("cosine_sim(e, centroid)"))
      .withColumn("crank", row_number().over(cellRank))
    val corpusCells = graft.Caches.persisted(
      ranked.filter(col("crank") === 1).select(col("vec_id"), col("e"), col("cell")))
    val queryCells = graft.Caches.persisted(
      ranked.filter(col("vec_id") < NumQueries && col("crank") <= CurveNprobes.max)
        .select(col("vec_id").as("q_id"), col("e").as("qe"), col("cell"), col("crank")))
    val preds = CurveNprobes.map { np =>
      corpusCells.join(broadcast(queryCells.filter(col("crank") <= np)), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cosine", expr("cosine_sim(qe, e)"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))))
        .filter(col("rank") <= K)
        .select(lit(np.toLong).as("nprobe"), col("q_id"), col("vec_id"), lit(1L).as("p"))
    }.reduce(_ unionByName _)
    val truth = topkBruteForce(spark, dir)
      .select(col("q_id"), col("vec_id"), lit(1L).as("t"))
      .crossJoin(broadcast(
        spark.range(1).select(explode(
          expr(CurveNprobes.map(_ + "L").mkString("array(", ", ", ")"))).as("nprobe"))))
    truth.join(preds.hint("shuffle_hash"), Seq("nprobe", "q_id", "vec_id"), "full_outer")
      .groupBy(col("nprobe"), col("q_id"))
      .agg(
        sum(coalesce(col("t"), lit(0L))).as("n_truth"),
        sum(coalesce(col("t"), lit(0L)) * coalesce(col("p"), lit(0L))).as("hits"))
      .select(col("nprobe"), col("q_id"), col("n_truth"), col("hits"),
        expr("hits * 1000000L div n_truth").as("recall_ppm"))
  }

  /** Oracle: the shared Lloyd/assignment CTEs, one scored CTE per sweep
    * point, unioned and set-compared against the brute-force truth. */
  def annRecallCurveSql: String = {
    val perNp = CurveNprobes.map { np =>
      s"""p$np AS (
         |  SELECT $np AS nprobe, q_id, vec_id FROM (
         |    SELECT q.q_id, c.vec_id,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        list_reduce(list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * c.e[i]), (a, x) -> a + x)
         |          / (sqrt(q.qn) * sqrt(c.nrm)) DESC, c.vec_id) AS rank
         |    FROM (SELECT q_id, qe, qn, cell FROM qcells WHERE crank <= $np) q
         |    JOIN corpus c USING (cell)
         |    WHERE c.vec_id <> q.q_id) s
         |  WHERE rank <= $K)""".stripMargin
    }.mkString(",\n")
    s"""WITH $normCte,
       |$lloydCtes,
       |cn AS (
       |  SELECT cell, c,
       |    list_reduce(list_transform(c, x -> x * x), (a, x) -> a + x) AS cnrm
       |  FROM cent$LloydRounds),
       |assigned AS (
       |  SELECT n.vec_id, n.e, n.nrm, cn.cell,
       |    list_reduce(list_transform(range(1, len(n.e) + 1), i -> n.e[i] * cn.c[i]), (a, x) -> a + x)
       |      / (sqrt(n.nrm) * sqrt(cn.cnrm)) AS csim
       |  FROM n, cn),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS crank
       |  FROM assigned),
       |corpus AS (SELECT vec_id, e, nrm, cell FROM ranked WHERE crank = 1),
       |qcells AS (SELECT vec_id AS q_id, e AS qe, nrm AS qn, cell, crank
       |           FROM ranked WHERE vec_id < $NumQueries AND crank <= ${CurveNprobes.max}),
       |$perNp,
       |preds AS (${CurveNprobes.map(np => s"SELECT nprobe, q_id, vec_id, 1 AS p FROM p$np").mkString(" UNION ALL ")}),
       |bf AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.vec_id AS q_id, b.vec_id AS vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_reduce(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * b.e[i]), (a, x) -> a + x)
       |          / (sqrt(q.nrm) * sqrt(b.nrm)) DESC, b.vec_id) AS rank
       |    FROM (SELECT * FROM n WHERE vec_id < $NumQueries) q, n b
       |    WHERE b.vec_id <> q.vec_id) s
       |  WHERE rank <= $K),
       |truth AS (
       |  SELECT u.np AS nprobe, q_id, vec_id, 1 AS t
       |  FROM bf, UNNEST([${CurveNprobes.mkString(", ")}]) AS u(np)),
       |j AS (
       |  SELECT nprobe, q_id, coalesce(t, 0) AS t, coalesce(p, 0) AS p
       |  FROM truth FULL OUTER JOIN preds USING (nprobe, q_id, vec_id))
       |SELECT CAST(nprobe AS BIGINT) AS nprobe, q_id,
       |  CAST(sum(t) AS BIGINT) AS n_truth,
       |  CAST(sum(t * p) AS BIGINT) AS hits,
       |  CAST(sum(t * p) * 1000000 // sum(t) AS BIGINT) AS recall_ppm
       |FROM j GROUP BY nprobe, q_id""".stripMargin
  }

  // Production SemDeDup dedups at τ≈0.95; the synthetic corpus's cosine
  // ceiling is ~0.49, so the demo threshold sits at 0.3 (nearPairs' floor)
  // to keep the is_dup verdict non-degenerate under the oracle compare.
  private val SemDedupTau = 0.3

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023): every vector
    * is assigned to its nearest TRAINED centroid cell, and within each cell
    * a vector is a duplicate iff some LOWER-id cell-mate has cosine ≥ τ —
    * the paper's criterion (max similarity to lower-index cluster members),
    * which keeps exactly one canonical representative per semantic group
    * without any iterative peeling.
    *
    * This is the scale story k-means buys: the quadratic pairwise step runs
    * only WITHIN cells, so its cost is Σ|cell|² ≈ N²/|cells| — at corpus
    * scale |cells| grows with N to hold cell size (and thus per-bucket
    * work) constant, the same occupancy rule as SCALING.md's banding note.
    * The cell self-join is an equi-join on cell id (shuffle carries id +
    * vector, never text); the assignment pass is narrow against a broadcast
    * ≤|cells|-row centroid table; the final restore of never-duplicated
    * vectors is a linear left join on vec_id. The quantizer is
    * deterministic (exact integer-scaled Lloyd rounds), so the whole
    * pipeline has an exact SQL oracle ([[semanticDedupSql]]); `-2.0` is the
    * sentinel for "no lower-id cell-mate" (cosine lives in [-1, 1]).
    *
    * Reference parity note: the reference engine has no embedding
    * operators; this extends the dedup family the LLM-pipeline mandate
    * asks for (exact → MinHash → SimHash → Jaccard → substring → semantic). */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val cents = trainedCentroidVectors(spark, dir)
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // nearest cell via partial-aggregable argmax, not a corpus-wide window:
    // max by (csim, -cell) = highest cosine, ties to the lower cell id
    val cells = base.crossJoin(broadcast(cents))
      .withColumn("csim", expr("cosine_sim(e, centroid)"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("csim"), (-col("cell")).as("negcell"), col("e").as("ev"))).as("m"))
      .select(col("vec_id"), (-col("m.negcell")).as("cell"), col("m.ev").as("e"))
    // shuffle-hash on both joins: the sides are aggregate-derived (no stats,
    // Catalyst would default to sort-merge), cell-keyed hash needs no sort,
    // and neither side is promised broadcast-small at corpus scale
    val maxLower = cells.as("a")
      .join(cells.as("b").hint("shuffle_hash"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", expr("cosine_sim(a.e, b.e)"))
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(max(col("cosine")).as("m"))
    cells.join(maxLower.hint("shuffle_hash"), Seq("vec_id"), "left")
      .select(
        col("vec_id"), col("cell"),
        coalesce(col("m"), lit(-2.0)).as("max_sim_lower"),
        when(coalesce(col("m"), lit(-2.0)) >= SemDedupTau, 1L).otherwise(0L).as("is_dup"))
  }

  /** Exact oracle: the shared Lloyd CTE chain, the same nearest-cell
    * assignment, the same within-cell lower-id max — ordered folds
    * throughout, so every double is bit-identical. */
  def semanticDedupSql: String =
    s"""WITH $normCte,
       |$lloydCtes,
       |cn AS (
       |  SELECT cell, c,
       |    list_reduce(list_transform(c, x -> x * x), (a, x) -> a + x) AS cnrm
       |  FROM cent$LloydRounds),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS crank
       |  FROM (
       |    SELECT n.vec_id, n.e, n.nrm, cn.cell,
       |      list_reduce(list_transform(range(1, len(n.e) + 1), i -> n.e[i] * cn.c[i]), (a, x) -> a + x)
       |        / (sqrt(n.nrm) * sqrt(cn.cnrm)) AS csim
       |    FROM n, cn) t),
       |corpus AS (SELECT vec_id, e, nrm, cell FROM ranked WHERE crank = 1),
       |ml AS (
       |  SELECT b.vec_id AS vec_id,
       |    max(list_reduce(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]), (a2, x) -> a2 + x)
       |      / (sqrt(a.nrm) * sqrt(b.nrm))) AS m
       |  FROM corpus a JOIN corpus b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  GROUP BY b.vec_id)
       |SELECT c.vec_id, c.cell,
       |  coalesce(ml.m, -2.0) AS max_sim_lower,
       |  CAST(CASE WHEN coalesce(ml.m, -2.0) >= $SemDedupTau THEN 1 ELSE 0 END AS BIGINT) AS is_dup
       |FROM corpus c LEFT JOIN ml USING (vec_id)""".stripMargin

  // ---------------------------------------------------------------------
  // Product quantization — the COMPRESSION half of ANN at scale (IVF above
  // is the routing half). A 64-dim float vector (256 B) becomes PqM=4
  // one-byte codes: 64× smaller, so the candidate scan that dominates ANN
  // cost reads codes + a tiny distance table instead of raw vectors. At
  // 100 TB of embeddings this is the difference between the index fitting
  // in cluster memory or not.
  private[graft] val PqM = 4        // subspaces
  private[graft] val PqSubDim = Dim / PqM
  private[graft] val PqK = 16       // codewords per subspace (4-bit codes)
  private[graft] val PqRounds = 2
  private val PqDistScale = "1000000000.0" // 1e9: integer-scaled ADC distances

  /** Every vector exploded into its [[PqM]] subvectors: (vec_id, s, sub). */
  private def subvectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .select(col("vec_id"), explode(expr(s"sequence(0, ${PqM - 1})")).as("s"), col("e"))
      .select(col("vec_id"), col("s"),
        expr(s"slice(e, s * $PqSubDim + 1, $PqSubDim)").as("sub"))

  /** Strictly-left-fold squared L2 between two equal-length arrays — the
    * same ordered-fold discipline as `cosine_sim`, so the double is
    * bit-identical to the oracle's `list_reduce`. */
  private def l2(a: String, b: String): org.apache.spark.sql.Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)")

  /** TRAINED per-subspace codebooks: codeword j of subspace s seeds from
    * vec_id j's subvector (deterministic, like the label-seeded IVF), then
    * [[PqRounds]] Lloyd rounds — assign each subvector to its nearest
    * codeword by squared L2 (ties to the lower code), recompute codewords
    * as exact integer-scaled component means ([[lloyd]], per subspace).
    * Same determinism contract, truncation and mode-keyed memo as
    * [[trainedCentroidTable]]: both engines walk the identical trajectory.
    * A round passes over (corpus × PqM) subvector rows against a broadcast
    * PqM·PqK-row codebook; its aggregate is codebook-wide, not corpus-wide. */
  private[graft] def pqCodebookTable(spark: SparkSession, dir: String): DataFrame =
    truncatedArtifact(spark, s"trained-pq/$dir")(trainPqCodebookTable(spark, dir))

  private def trainPqCodebookTable(spark: SparkSession, dir: String): DataFrame = {
    val subs = subvectors(spark, dir).withColumn("s", col("s").cast("bigint"))
    lloyd(subs.select(col("vec_id"), col("s"), col("sub").as("x")),
      subs.filter(col("vec_id") < PqK).select(col("s"), col("vec_id").as("id"), col("sub").as("c")),
      Seq("s"), PqRounds)(-l2("x", "c"))
      .select(col("s"), col("id").as("code"), col("pos"), col("v").as("codeword_v"), col("n_vectors"))
  }

  /** Registered query: the trained PQ codebooks, one scalar row per
    * (subspace, code, dimension). */
  def pqTrain(spark: SparkSession, dir: String): DataFrame =
    pqCodebookTable(spark, dir)

  /** [[pqCodebookTable]] re-assembled into one codeword vector per
    * (subspace, code). */
  private def pqCodebooks(spark: SparkSession, dir: String): DataFrame =
    pqCodebookTable(spark, dir)
      .groupBy(col("s"), col("code"))
      .agg(array_sort(collect_list(struct(col("pos"), col("codeword_v"))))
        .getField("codeword_v").as("c"))

  /** PQ asymmetric-distance top-k: every corpus vector is ENCODED as
    * [[PqM]] codes (nearest codeword per subspace — after this the raw
    * vectors are never read again); each query precomputes its exact
    * distance to every codeword (a PqM·PqK-row table) and a candidate's
    * approximate distance is the sum of PqM table lookups — the ADC scan
    * of Jégou et al. 2011, reading 4 bytes per vector instead of 256.
    *
    * Distances are scaled to integers (×1e9) BEFORE the per-vector sum, so
    * the sum is associative (partition-order-independent) and the oracle
    * compares bigints, never summed doubles; ranking ties break by vec_id.
    *
    * Scale shape: codes are corpus×PqM narrow rows co-keyed by (s, code)
    * against the broadcast query-distance table; the per-(query, vector)
    * sum is one partial agg; top-k per query is a window over candidates.
    * No shuffle ever carries a raw vector. */
  /** Corpus encoded as PQ codes: nearest codeword per (vec_id, s); the raw
    * subvector is dropped here and never read again. */
  private def pqCodes(subs: DataFrame, books: DataFrame): DataFrame =
    subs.join(broadcast(books), Seq("s"))
      .withColumn("d", l2("sub", "c"))
      .groupBy(col("vec_id"), col("s"))
      .agg(max(struct((-col("d")).as("nd"), (-col("code")).as("nc"))).as("m"))
      .select(col("vec_id"), col("s"), (-col("m.nc")).as("code"))

  /** Each query's exact distance to every codeword, integer-scaled — the
    * PqM·PqK-row ADC lookup table per query. */
  private def pqQueryDistances(subs: DataFrame, books: DataFrame): DataFrame =
    subs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("s"), col("sub"))
      .join(broadcast(books), Seq("s"))
      .select(col("q_id"), col("s"), col("code"),
        floor(l2("sub", "c") * expr(PqDistScale) + lit(0.5)).cast("bigint").as("d"))

  def topkPq(spark: SparkSession, dir: String): DataFrame = {
    val books = pqCodebooks(spark, dir)
    val subs = subvectors(spark, dir)
    val codes = pqCodes(subs, books)
    val qdist = pqQueryDistances(subs, books)
    codes.join(broadcast(qdist), Seq("s", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d")).as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id"), col("rank").cast("bigint").as("rank"), col("adist"))
  }

  /** IVF+PQ — the two halves composed, the canonical billion-scale index
    * shape (FAISS `IVFx,PQy`): the trained IVF quantizer ROUTES (each query
    * searches only its nprobe=3 nearest cells), the trained PQ codes RANK
    * (candidates are scored by summed ADC table lookups, never raw
    * vectors). At 100 TB the scan cost is |corpus|·nprobe/|cells| rows of
    * 4-byte codes — both reduction factors multiply.
    *
    * Determinism: both trained components are exact (integer-scaled Lloyd),
    * assignment and ranking tie-break totally, ADC sums are integer —
    * so the composition has an exact SQL oracle like each half. */
  /** The IVF-routed ADC scan shared by [[topkIvfPq]] (rank the codes
    * directly) and [[topkIvfPqRerank]] (shortlist for the refine stage):
    * (q_id, vec_id, adist) for every corpus vector in one of the query's
    * probed cells. */
  private def ivfPqAdc(spark: SparkSession, dir: String): DataFrame = {
    val nprobe = 3
    val cents = trainedCentroidVectors(spark, dir)
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cellRank = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cell"))
    val assigned = base.crossJoin(broadcast(cents))
      .withColumn("csim", expr("cosine_sim(e, centroid)"))
      .withColumn("crank", row_number().over(cellRank))
    val corpusCells = assigned.filter(col("crank") === 1).select(col("vec_id"), col("cell"))
    val queryCells = assigned.filter(col("vec_id") < NumQueries && col("crank") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cell"))
    val books = pqCodebooks(spark, dir)
    val subs = subvectors(spark, dir)
    val codes = pqCodes(subs, books)
    val qdist = pqQueryDistances(subs, books)
    // candidates: corpus vectors inside a probed cell (each vector lives in
    // exactly one cell, so no dedup needed), then the ADC scan over codes
    corpusCells.join(broadcast(queryCells), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      // shuffle-hash: codes is aggregate-derived (no stats → Catalyst would
      // sort-merge); the join is keyed, neither side benefits from a sort
      .join(codes.hint("shuffle_hash"), Seq("vec_id"))
      .join(broadcast(qdist), Seq("q_id", "s", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d")).as("adist"))
  }

  def topkIvfPq(spark: SparkSession, dir: String): DataFrame =
    ivfPqAdc(spark, dir)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id"), col("rank").cast("bigint").as("rank"), col("adist"))

  private[graft] val RerankDepth = 30

  /** IVF+PQ with an exact REFINE stage — the standard third dial of the
    * billion-scale index (FAISS's `RFlat` refinement, Jégou et al. 2011
    * §V): the ADC scan shortlists [[RerankDepth]] candidates per query by
    * approximate distance, and only the shortlist's RAW vectors are
    * re-read for an exact cosine re-rank to top-[[K]]. PQ quantization
    * distorts ranks near the decision boundary; the refine stage recovers
    * every candidate the codes mis-ordered INSIDE the probed cells at the
    * cost of queries·R raw-vector reads — independent of corpus size,
    * which is what makes it free at 100 TB (recall lost to UNPROBED cells
    * is nprobe's dial, priced by [[annRecallCurve]]).
    *
    * Scale shape: the shortlist (queries·R ids) broadcasts against the
    * vector table for the candidate re-read — one narrow keyed pass, the
    * [[randomNegatives]] pattern — and the re-rank window runs over
    * queries·R rows. */
  def topkIvfPqRerank(spark: SparkSession, dir: String): DataFrame = {
    val shortlist = ivfPqAdc(spark, dir)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("vec_id"))))
      .filter(col("rk") <= RerankDepth)
      .select(col("q_id"), col("vec_id"))
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val queries = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    broadcast(shortlist).join(base, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("cosine", expr("cosine_sim(qe, e)"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id"), col("rank").cast("bigint").as("rank"), col("cosine"))
  }

  /** Exact oracle for [[topkIvfPq]]: the IVF Lloyd chain routes, the PQ
    * chain ranks — both shared verbatim with the single-half oracles. */
  def topkIvfPqSql: String =
    s"""WITH $ivfPqAdCtes
       |SELECT q_id, vec_id, rank, adist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist ASC, vec_id) AS rank
       |  FROM ad) r
       |WHERE rank <= $K""".stripMargin

  /** Oracle for [[topkIvfPqRerank]]: the shared ADC chain shortlists at
    * [[RerankDepth]], then the exact ordered-fold cosine re-ranks. */
  def topkIvfPqRerankSql: String =
    s"""WITH $ivfPqAdCtes,
       |sl AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist ASC, vec_id) AS rk
       |    FROM ad) t
       |  WHERE rk <= $RerankDepth),
       |rer AS (
       |  SELECT sl.q_id, sl.vec_id,
       |    list_reduce(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * b.e[i]), (a, x) -> a + x)
       |      / (sqrt(q.nrm) * sqrt(b.nrm)) AS cosine
       |  FROM sl JOIN n q ON q.vec_id = sl.q_id JOIN n b ON b.vec_id = sl.vec_id)
       |SELECT q_id, vec_id, rank, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM rer) r
       |WHERE rank <= $K""".stripMargin

  /** The [[topkIvfPq]] oracle's CTE chain through the ADC aggregate `ad`
    * (q_id, vec_id, adist), shared with the refine oracle. */
  private def ivfPqAdCtes: String =
    s"""$normCte,
       |$lloydCtes,
       |cn AS (
       |  SELECT cell, c,
       |    list_reduce(list_transform(c, x -> x * x), (a, x) -> a + x) AS cnrm
       |  FROM cent$LloydRounds),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS crank
       |  FROM (
       |    SELECT n.vec_id, n.nrm, cn.cell,
       |      list_reduce(list_transform(range(1, len(n.e) + 1), i -> n.e[i] * cn.c[i]), (a, x) -> a + x)
       |        / (sqrt(n.nrm) * sqrt(cn.cnrm)) AS csim
       |    FROM n, cn) t),
       |corpus AS (SELECT vec_id, cell FROM ranked WHERE crank = 1),
       |qcells AS (SELECT vec_id AS q_id, cell FROM ranked
       |           WHERE vec_id < $NumQueries AND crank <= 3),
       |$pqCtes,
       |codes AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT subs.vec_id, subs.s, c.code,
       |      row_number() OVER (PARTITION BY subs.vec_id, subs.s ORDER BY
       |        list_reduce(list_transform(range(1, len(subs.sub) + 1),
       |          i -> (subs.sub[i] - c.c[i]) * (subs.sub[i] - c.c[i])), (a, x) -> a + x) ASC,
       |        c.code) AS rk
       |    FROM subs JOIN pcent$PqRounds c ON subs.s = c.s) t
       |  WHERE rk = 1),
       |qd AS (
       |  SELECT subs.vec_id AS q_id, c.s, c.code,
       |    CAST(floor(list_reduce(list_transform(range(1, len(subs.sub) + 1),
       |      i -> (subs.sub[i] - c.c[i]) * (subs.sub[i] - c.c[i])), (a, x) -> a + x)
       |        * $PqDistScale + 0.5) AS BIGINT) AS d
       |  FROM subs JOIN pcent$PqRounds c ON subs.s = c.s
       |  WHERE subs.vec_id < $NumQueries),
       |cand AS (
       |  SELECT q.q_id, c.vec_id FROM qcells q JOIN corpus c USING (cell)
       |  WHERE c.vec_id <> q.q_id),
       |ad AS (
       |  SELECT cand.q_id, cand.vec_id, CAST(sum(qd.d) AS BIGINT) AS adist
       |  FROM cand
       |  JOIN codes ON cand.vec_id = codes.vec_id
       |  JOIN qd ON qd.q_id = cand.q_id AND qd.s = codes.s AND qd.code = codes.code
       |  GROUP BY 1, 2)""".stripMargin

  /** The PQ training rounds as an unrolled CTE chain (the [[lloydCtes]]
    * pattern, keyed by subspace), shared by [[pqTrainSql]] and
    * [[topkPqSql]]. Requires the `n` norm CTE in scope; produces `pg{r}`
    * (s, code, pos, sv, n) per round and `pcent{r}` codeword tables. */
  private def pqCtes: String = {
    val seed =
      s"""subs AS (
         |  SELECT vec_id, ss.s AS s, n.e[ss.s * $PqSubDim + 1 : ss.s * $PqSubDim + $PqSubDim] AS sub
         |  FROM n, (SELECT unnest(range(0, $PqM)) AS s) ss),
         |pcent0 AS (SELECT s, vec_id AS code, sub AS c FROM subs WHERE vec_id < $PqK)""".stripMargin
    val rounds = (0 until PqRounds).map { r =>
      s"""pa$r AS (
         |  SELECT vec_id, s, sub, code FROM (
         |    SELECT subs.vec_id, subs.s, subs.sub, c.code,
         |      row_number() OVER (PARTITION BY subs.vec_id, subs.s ORDER BY
         |        list_reduce(list_transform(range(1, len(subs.sub) + 1),
         |          i -> (subs.sub[i] - c.c[i]) * (subs.sub[i] - c.c[i])), (a, x) -> a + x) ASC,
         |        c.code) AS rk
         |    FROM subs JOIN pcent$r c ON subs.s = c.s) t
         |  WHERE rk = 1),
         |pg$r AS (
         |  SELECT s, code, u.pos AS pos, sum(u.sv) AS sv, count(*) AS n FROM (
         |    SELECT s, code,
         |      unnest(list_transform(range(1, len(sub) + 1),
         |        i -> {'pos': i - 1, 'sv': CAST(floor(sub[i] * $CentScale + 0.5) AS BIGINT)})) AS u
         |    FROM pa$r) x
         |  GROUP BY s, code, u.pos),
         |pcent${r + 1} AS (
         |  SELECT s, code, list(CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE) * $CentScale) ORDER BY pos) AS c
         |  FROM pg$r GROUP BY s, code)""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  def pqTrainSql: String =
    s"""WITH $normCte,
       |$pqCtes
       |SELECT CAST(s AS BIGINT) AS s, CAST(code AS BIGINT) AS code, CAST(pos AS BIGINT) AS pos,
       |  CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE) * $CentScale) AS codeword_v,
       |  n AS n_vectors
       |FROM pg${PqRounds - 1}""".stripMargin

  /** Exact oracle for [[topkPq]]: the shared training CTEs, the same
    * nearest-codeword encoding, the same integer-scaled ADC sums. */
  def topkPqSql: String =
    s"""WITH $normCte,
       |$pqCtes,
       |codes AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT subs.vec_id, subs.s, c.code,
       |      row_number() OVER (PARTITION BY subs.vec_id, subs.s ORDER BY
       |        list_reduce(list_transform(range(1, len(subs.sub) + 1),
       |          i -> (subs.sub[i] - c.c[i]) * (subs.sub[i] - c.c[i])), (a, x) -> a + x) ASC,
       |        c.code) AS rk
       |    FROM subs JOIN pcent$PqRounds c ON subs.s = c.s) t
       |  WHERE rk = 1),
       |qd AS (
       |  SELECT subs.vec_id AS q_id, c.s, c.code,
       |    CAST(floor(list_reduce(list_transform(range(1, len(subs.sub) + 1),
       |      i -> (subs.sub[i] - c.c[i]) * (subs.sub[i] - c.c[i])), (a, x) -> a + x)
       |        * $PqDistScale + 0.5) AS BIGINT) AS d
       |  FROM subs JOIN pcent$PqRounds c ON subs.s = c.s
       |  WHERE subs.vec_id < $NumQueries),
       |ad AS (
       |  SELECT qd.q_id, codes.vec_id, CAST(sum(qd.d) AS BIGINT) AS adist
       |  FROM codes JOIN qd ON codes.s = qd.s AND codes.code = qd.code
       |  WHERE codes.vec_id <> qd.q_id
       |  GROUP BY 1, 2)
       |SELECT q_id, vec_id, rank, adist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist ASC, vec_id) AS rank
       |  FROM ad) r
       |WHERE rank <= $K""".stripMargin

  /** PQ reconstruction distortion — the quantization-error readout that
    * accompanies every PQ deployment (FAISS's `imbalance/quantization
    * error` report): per subspace, the mean squared L2 between each
    * subvector and its assigned codeword. Read next to [[annRecall]] it
    * answers the index-tuning question — "is recall loss coming from
    * routing or from code coarseness?" — as a first-class operator in the
    * eval family. Each per-vector error is integer-scaled (×10⁹, the ADC
    * policy) BEFORE the sum, so the per-subspace totals are associative
    * and the oracle compares bigints, never summed doubles.
    *
    * Scale shape: one narrow corpus pass against the broadcast PqM·PqK
    * codebook (the encode join [[topkPq]] already pays), a per-(vec, s)
    * partial-agg argmin, then a [[PqM]]-row rollup. */
  def pqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val books = pqCodebooks(spark, dir)
    val subs = subvectors(spark, dir)
    subs.join(broadcast(books), Seq("s"))
      .withColumn("d", l2("sub", "c"))
      .groupBy(col("vec_id"), col("s"))
      .agg(max(struct((-col("d")).as("nd"), (-col("code")).as("nc"))).as("m"))
      .select(col("s").cast("bigint").as("s"),
        floor((-col("m.nd")) * expr(PqDistScale) + lit(0.5)).cast("bigint").as("dq"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("dq")).as("total_sqerr_scaled"))
      .withColumn("mean_sqerr_scaled", expr("total_sqerr_scaled div n_vectors"))
  }

  /** Oracle: the shared training CTEs, the same nearest-codeword
    * assignment keeping the (integer-scaled) distance. */
  def pqDistortionSql: String =
    s"""WITH $normCte,
       |$pqCtes,
       |enc AS (
       |  SELECT vec_id, s, CAST(floor(d * $PqDistScale + 0.5) AS BIGINT) AS dq FROM (
       |    SELECT subs.vec_id, subs.s,
       |      list_reduce(list_transform(range(1, len(subs.sub) + 1),
       |        i -> (subs.sub[i] - c.c[i]) * (subs.sub[i] - c.c[i])), (a, x) -> a + x) AS d,
       |      row_number() OVER (PARTITION BY subs.vec_id, subs.s ORDER BY
       |        list_reduce(list_transform(range(1, len(subs.sub) + 1),
       |          i -> (subs.sub[i] - c.c[i]) * (subs.sub[i] - c.c[i])), (a, x) -> a + x) ASC,
       |        c.code) AS rk
       |    FROM subs JOIN pcent$PqRounds c ON subs.s = c.s) t
       |  WHERE rk = 1)
       |SELECT CAST(s AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n_vectors,
       |  CAST(sum(dq) AS BIGINT) AS total_sqerr_scaled,
       |  CAST(sum(dq) // count(*) AS BIGINT) AS mean_sqerr_scaled
       |FROM enc GROUP BY s""".stripMargin

  /** Eval-set size and cosine threshold for [[semanticDecontaminate]] —
    * calibrated to the driver embeddings (near-orthogonal vectors: the
    * global nearest-neighbor cosine tops out ≈0.51, so 0.4 marks the
    * suspicious tail the way `embedNearPairs`' threshold does). */
  private[graft] val EvalVectors = 50
  private[graft] val DecontamTau = 0.4

  /** SEMANTIC decontamination — the embedding-space sibling of the n-gram
    * [[graft.pipelines.TrainingPrep]] `decontaminate` operator: flag every
    * corpus vector whose max cosine to ANY held-out eval vector reaches
    * [[DecontamTau]] (benchmark leakage that paraphrasing hides from
    * n-gram overlap). Eval membership here is the deterministic id prefix
    * (`vec_id < EvalVectors`), standing in for a real eval-embedding table.
    *
    * Scale shape: the eval side is benchmark-sized — it BROADCASTS, like
    * the n-gram operator's eval-gram set — and the corpus side is one
    * narrow pass: |corpus|·|eval| cosine evaluations inside a codegen
    * projection, then a per-vector partial-agg argmax. No corpus shuffle,
    * no index to maintain; an IVF-routed variant drops in by reusing
    * [[trainedCentroidVectors]] when the eval set outgrows broadcast.
    *
    * Exactness: `cosine_sim` folds in index order (bit-identical to the
    * oracle's ordered fold) and the argmax carries a (cosine, -eval_id)
    * total order, so ties pick the same eval vector in both engines. */
  def semanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val evalSet = base
      .filter(col("vec_id") < EvalVectors)
      .select(col("vec_id").as("eval_id"), col("e").as("ee"))
    base
      .filter(col("vec_id") >= EvalVectors)
      .crossJoin(broadcast(evalSet))
      .withColumn("cosine", expr("cosine_sim(ee, e)"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cosine"), (-col("eval_id")).as("neg"))).as("m"))
      .select(
        col("vec_id"),
        (-col("m.neg")).as("eval_id"),
        col("m.cosine").as("max_cos"),
        (col("m.cosine") >= lit(DecontamTau)).as("contaminated"))
  }

  def semanticDecontaminateSql: String =
    s"""WITH $normCte,
       |ev AS (SELECT vec_id AS eval_id, e AS ee, nrm AS en FROM n
       |       WHERE vec_id < $EvalVectors),
       |scored AS (
       |  SELECT b.vec_id, eval_id,
       |    list_reduce(list_transform(range(1, len(ee) + 1), i -> ee[i] * b.e[i]), (a, x) -> a + x)
       |      / (sqrt(en) * sqrt(b.nrm)) AS cosine
       |  FROM ev, n b WHERE b.vec_id >= $EvalVectors)
       |SELECT vec_id, eval_id, cosine AS max_cos,
       |       cosine >= $DecontamTau AS contaminated
       |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY cosine DESC, eval_id) AS rk FROM scored) t
       |WHERE rk = 1""".stripMargin

  /** Fixed-point scale for [[gramMatrix]] entries: each coordinate rounds
    * to an integer at 10⁴, so every product is exact in int64 and every
    * sum is associative (5 × 10⁴-scaled coords ≤ ~3; products ≤ ~10⁹;
    * dim-pair sums across 10⁹ vectors stay < 2⁶³). */
  private val GramScale = 10000L

  /** Distributed Gram matrix Eᵀ·E over the embedding corpus — the matrix-
    * computation primitive behind PCA/covariance/whitening of a 100 TB
    * embedding store. The classic outer-product formulation: each vector
    * emits its upper-triangle coordinate products keyed by (i, j), and
    * partial aggregation collapses them to |dims|² cells per partition
    * BEFORE the shuffle — so the one exchange carries O(dims² ×
    * partitions) regardless of corpus size, and the result is d×d no
    * matter how many vectors stream through.
    *
    * Exactness: coordinates round to [[GramScale]] fixed-point once, then
    * all arithmetic is int64 (associative, partition-order-proof); the
    * one float division de-scales at the end. Output: upper-triangle
    * (i ≤ j) cells with the exact scaled sum and its double view. */
  def gramMatrix(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(expr(
        s"""transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $GramScale + 0.5) AS BIGINT))""")
        .as("sv"))
      .select(posexplode(col("sv")).as(Seq("i", "xi")), col("sv"))
      .select(col("i"), col("xi"), posexplode(col("sv")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("xi") * col("xj")).as("g_scaled"))
      .select(col("i").cast("bigint").as("i"), col("j").cast("bigint").as("j"),
        col("g_scaled"),
        (col("g_scaled").cast("double") / (GramScale.toDouble * GramScale)).as("g"))

  def gramMatrixSql: String =
    s"""WITH sv AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(x::DOUBLE * $GramScale + 0.5) AS BIGINT)) AS v
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
       |    k -> {'i': k - 1, 'x': v[k]}), recursive := true)
       |  FROM sv)
       |SELECT a.i::BIGINT AS i, b.i::BIGINT AS j,
       |  sum(a.x * b.x)::BIGINT AS g_scaled,
       |  CAST(sum(a.x * b.x) AS DOUBLE) / (${GramScale}.0 * $GramScale) AS g
       |FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
       |GROUP BY 1, 2""".stripMargin

  private val PowerRounds = 10
  private val PowerQ = 1000L // iterate quantization (3 digits of direction)

  /** Dominant direction of the embedding store — [[PowerRounds]] rounds of
    * power iteration on the [[gramMatrix]], reporting the top eigenvector
    * (quantized loadings), the top eigenvalue, and the anisotropy ratio
    * λ₁/trace. Anisotropy is the standard embedding-health diagnostic: a
    * large common direction degrades cosine retrieval, and removing it is
    * the "all-but-the-top" post-process (Mu & Viswanath 2018); λ₁/Σλ says
    * whether that pass is worth scheduling.
    *
    * Exactness: the Gram matrix is already integer-exact; each iterate is
    * renormalized to max-abs = [[PowerQ]] and SNAPPED to integers, so every
    * mat-vec is an associative int64 sum and the one division per round is
    * a single IEEE op on exact integers — the whole trajectory (and thus
    * the quantized fixpoint) replays bit-identically in the oracle's
    * unrolled CTE chain. λ₁ is reported as the RAYLEIGH quotient of the
    * final iterate (second-order-accurate in the residual angle, unlike
    * the max-abs growth ratio, which overshoots before convergence); its
    * cross term `v·(G·v)` would overflow int64, so each per-dimension
    * product is snapped at a /4096 scale-down BEFORE the sum — the
    * module's per-row snapping policy, absolute error ≤ d·2048 on a ~10¹⁹
    * numerator. Overflow policy: the mat-vec, trace, and Rayleigh SUMS
    * accumulate in DECIMAL(38,0) (so the d-fold accumulation can never
    * wrap; it errors loudly past 38 digits — OverflowPolicySuite pins the
    * above-int64 region against BigInt ground truth). The residual int64
    * ceiling is the per-TERM product `g·v_q ≤ ḡ·[[PowerQ]]` with
    * ḡ ≈ n·[[GramScale]]², safe to n ≈ 9·10⁹ vectors and ANSI-erroring,
    * never wrapping, past that. [[PowerQ]] bounds direction resolution at
    * ~10⁻³ — a diagnostic's precision, chosen for the term bound at d = 64.
    *
    * Scale shape: the corpus contributes exactly [[gramMatrix]]'s one
    * partial-aggregated pass (dims²-bounded shuffle); all [[PowerRounds]]
    * rounds run on the persisted d×d table. Each round's renormalizing max
    * rides a full-frame window over the d-row iterate INSIDE the chain
    * (single consumer per round), so the whole iteration is ONE lazy
    * linear plan evaluated in one job — the copurchase_communities lesson:
    * fixed-round chains with one consumer per round beat per-round
    * checkpoint barriers ~2× on job overhead alone. The single-partition
    * window sorts d rows, never data. Iteration cost is independent of
    * corpus size. */
  /** The mat-vec row sum `Σ g_scaled·vj` accumulated in DECIMAL(38,0) —
    * the int64-safe per-term product (bound in [[embedTopDirection]]'s
    * note) promoted before the d-fold accumulation can wrap. Factored out
    * for OverflowPolicySuite's above-int64 fixtures. */
  private[graft] def matvecSum: Column =
    sum((col("g_scaled") * col("vj")).cast("decimal(38,0)"))

  def embedTopDirection(spark: SparkSession, dir: String): DataFrame = {
    val upper = gramMatrix(spark, dir).select(col("i"), col("j"), col("g_scaled"))
    // the iterate table is dims²-bounded (4096 rows at d=64, 1M at
    // d=1024) — collapse it to ONE partition before the rounds: the
    // corpus-side gram build keeps its full parallelism, but 10 rounds of
    // 32-way shuffles over a table this small cost pure task-scheduling
    // overhead (measured: 1548 tasks, Σ executorRunTime ≈ 0.5 s of a
    // ~3 s wall). With a 1-partition parent every round's map side is one
    // task and AQE coalesces the reduce sides to match: 2.97 → ~1.2 s,
    // and the single-partition windows the rounds already used stop being
    // a repartitioning step
    val g = graft.Caches.persisted(upper.union(
      upper.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("g_scaled")))
      .repartition(1))
    val trace = g.filter(col("i") === col("j"))
      .agg(sum(col("g_scaled").cast("decimal(38,0)")).as("tr"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    var v = g.select(col("i")).distinct().select(col("i"), lit(PowerQ).as("v_q"))
    def matvec(vec: DataFrame): DataFrame =
      g.join(vec.select(col("i").as("j"), col("v_q").as("vj")), "j")
        .groupBy(col("i"))
        .agg(matvecSum.as("s"))
    for (_ <- 1 to PowerRounds)
      v = matvec(v)
        .withColumn("m", max(abs(col("s"))).over(wAll))
        .select(col("i"), expr(
          s"cast(round((cast(s as double) / cast(m as double)) * $PowerQ) as bigint)")
          .as("v_q"))
    v = graft.Caches.persisted(v) // consumed by the mat-vec AND the Rayleigh join
    val ray = matvec(v).join(v, "i")
      .select((col("v_q") * col("v_q")).as("vv"),
        expr("cast(round((cast(v_q as double) * cast(s as double)) / 4096) as bigint)")
          .as("t"))
      .agg(sum(col("t").cast("decimal(38,0)")).as("sum_t"), sum(col("vv")).as("den"))
    v.crossJoin(broadcast(ray)).crossJoin(broadcast(trace))
      .select(col("i"), col("v_q"),
        round(((col("sum_t") * lit(4096.0)) / col("den"))
          / lit(GramScale.toDouble * GramScale), 6).as("lambda1"),
        round(((col("sum_t") * lit(4096.0)) / col("den")) / col("tr"), 6)
          .as("anisotropy"))
  }

  /** Oracle: the identical quantized trajectory, unrolled. Every chained
    * CTE is MATERIALIZED — the Gram is referenced by all rounds and each
    * round by the next, so DuckDB's default single-reference inlining
    * would otherwise re-expand the d×d build once per unrolled level
    * (measured: >120 s for a query whose materialized form runs in
    * under a second). */
  def embedTopDirectionSql: String = {
    val rounds = (1 to PowerRounds).map { r =>
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""w$r AS MATERIALIZED (SELECT gu.i, CAST(sum(gu.g * v.v) AS BIGINT) AS s
         |        FROM gu JOIN $prev v ON gu.j = v.i GROUP BY 1),
         |m$r AS MATERIALIZED (SELECT max(abs(s)) AS m FROM w$r),
         |v$r AS MATERIALIZED (SELECT i, CAST(round((s::DOUBLE / m::DOUBLE) * $PowerQ) AS BIGINT) AS v
         |        FROM w$r, m$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH sv AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(x::DOUBLE * $GramScale + 0.5) AS BIGINT)) AS v
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
       |    k -> {'i': k - 1, 'x': v[k]}), recursive := true)
       |  FROM sv),
       |gu AS MATERIALIZED (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS g
       |       FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |tr AS (SELECT CAST(sum(g) AS BIGINT) AS tr FROM gu WHERE i = j),
       |v0 AS (SELECT DISTINCT i, CAST($PowerQ AS BIGINT) AS v FROM gu),
       |$rounds,
       |wf AS (SELECT gu.i, CAST(sum(gu.g * v.v) AS BIGINT) AS s
       |       FROM gu JOIN v$PowerRounds v ON gu.j = v.i GROUP BY 1),
       |ray AS (
       |  SELECT CAST(sum(CAST(round((v.v::DOUBLE * wf.s::DOUBLE) / 4096) AS BIGINT)) AS BIGINT) AS sum_t,
       |         CAST(sum(v.v * v.v) AS BIGINT) AS den
       |  FROM wf JOIN v$PowerRounds v USING (i))
       |SELECT CAST(i AS BIGINT) AS i, v AS v_q,
       |  round(((sum_t * 4096.0e0) / den) / ${GramScale * GramScale}.0e0, 6) AS lambda1,
       |  round(((sum_t * 4096.0e0) / den) / tr, 6) AS anisotropy
       |FROM v$PowerRounds, ray, tr""".stripMargin
  }

  private val MmrDepth = 20
  private val MmrK = 5

  /** MMR diversified re-ranking (Carbonell & Goldstein 1998) — the greedy
    * selection every retrieval stack applies after top-k: from the
    * [[MmrDepth]] highest-cosine candidates to the query (document 0's
    * embedding), pick [[MmrK]] results one at a time, each maximizing
    * `λ·rel − (1−λ)·max_{s∈selected} sim(d, s)`; at λ = ½ the argmax is
    * `rel − maxsim` exactly, so λ never enters the arithmetic.
    *
    * Exactness: every cosine is snapped to integer micro-units BEFORE any
    * comparison (the candidate cut orders by the snapped value too, so the
    * boundary decision is the same integer in both engines); the greedy
    * recursion is unrolled — [[MmrK]] rounds in both the plan and the
    * oracle's CTE chain, ties to the smallest vec_id.
    *
    * Scale shape: the corpus contributes ONE narrow broadcast-query pass
    * ending in a depth-20 TakeOrderedAndProject (exactly `embed_topk`'s
    * scale path); the greedy rounds run on the persisted ≤20-row candidate
    * table — re-ranking cost is independent of corpus size, which is the
    * point of candidate-set MMR. Each round's ≤r-row selected set persists
    * so the chained lineage evaluates once (the BFS lesson). */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = base.filter(col("vec_id") === 0L).select(col("e").as("qe"))
    val cand = graft.Caches.persisted(
      base.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0L)
        .withColumn("rel",
          expr("cast(round(cosine_sim(qe, e) * 1000000) as bigint)"))
        .orderBy(col("rel").desc, col("vec_id").asc)
        .limit(MmrDepth)
        .select(col("vec_id"), col("e"), col("rel")))
    // round 1: pure relevance
    var selected = graft.Caches.persisted(
      cand.orderBy(col("rel").desc, col("vec_id").asc).limit(1)
        .select(col("vec_id"), col("e"), col("rel"),
          lit(1L).as("rank"), col("rel").as("score")))
    for (r <- 2 to MmrK) {
      val pickId = cand
        .join(broadcast(selected.select(col("vec_id").as("s_id"), col("e").as("se"))),
          col("vec_id") =!= col("s_id"))
        .groupBy(col("vec_id"), col("rel"))
        .agg(count(lit(1)).as("n_other"),
          max(expr("cast(round(cosine_sim(e, se) * 1000000) as bigint)")).as("maxsim"))
        // candidates not yet selected pair with all r-1 selected rows;
        // already-selected ones self-filter via the <> join down to r-2
        .filter(col("n_other") === (r - 1))
        .withColumn("score", col("rel") - col("maxsim"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(1)
        .select(col("vec_id").as("p_id"), lit(r.toLong).as("rank"), col("score"))
      val pick = cand.join(broadcast(pickId), col("vec_id") === col("p_id"))
        .select(col("vec_id"), col("e"), col("rel"), col("rank"), col("score"))
      selected = graft.Caches.persisted(selected.unionByName(pick))
    }
    selected.select(col("rank"), col("vec_id").as("doc_id"),
      col("rel").as("rel_micro"), col("score").as("score_micro"))
  }

  /** Oracle: the same greedy rounds unrolled as CTEs. */
  def mmrRerankSql: String = {
    def round(prev: String, cur: String, r: Int): String =
      s"""$cur AS (
         |  SELECT * FROM $prev
         |  UNION ALL
         |  SELECT vec_id, e, nrm2, rel, $r AS rank, score FROM (
         |    SELECT c.vec_id, c.e, c.nrm2, c.rel,
         |      c.rel - max(CAST(round(
         |        list_reduce(list_transform(range(1, len(c.e) + 1), i -> c.e[i] * s.e[i]), (a, x) -> a + x)
         |          / (sqrt(c.nrm2) * sqrt(s.nrm2)) * 1000000) AS BIGINT)) AS score
         |    FROM candn c JOIN $prev s ON c.vec_id <> s.vec_id
         |    WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
         |    GROUP BY c.vec_id, c.e, c.nrm2, c.rel
         |    ORDER BY score DESC, c.vec_id ASC LIMIT 1))"""
    s"""WITH $normCte,
       |q AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = 0),
       |cand AS (
       |  SELECT vec_id, b.e AS e, CAST(round(
       |    list_reduce(list_transform(range(1, len(qe) + 1), i -> qe[i] * b.e[i]), (a, x) -> a + x)
       |      / (sqrt(qn) * sqrt(b.nrm)) * 1000000) AS BIGINT) AS rel
       |  FROM q, n b WHERE b.vec_id <> 0
       |  ORDER BY rel DESC, vec_id ASC LIMIT $MmrDepth),
       |candn AS (
       |  SELECT vec_id, e, rel,
       |    list_reduce(list_transform(e, x -> x * x), (a, x) -> a + x) AS nrm2
       |  FROM cand),
       |s1 AS (
       |  SELECT vec_id, e, nrm2, rel, 1 AS rank, rel AS score
       |  FROM candn ORDER BY rel DESC, vec_id ASC LIMIT 1),
       |${round("s1", "s2", 2)},
       |${round("s2", "s3", 3)},
       |${round("s3", "s4", 4)},
       |${round("s4", "s5", 5)}
       |SELECT CAST(rank AS BIGINT) AS rank, vec_id AS doc_id,
       |  rel AS rel_micro, score AS score_micro
       |FROM s5""".stripMargin
  }

  /** Deterministic random negative sampling — for each query vector, 5
    * pseudo-random corpus negatives via a fixed multiplicative hash
    * (`(q·2654435761 + i·40503) mod N`, Knuth's constant), the uniform
    * complement to [[hardNegatives]]' top-similarity mining: contrastive
    * batches need BOTH (all-hard collapses training; all-random learns
    * nothing), and "random" must be a pure function of the data for the
    * run to be reproducible — no RNG state, no seed file, identical in
    * both engines by construction.
    *
    * Candidates that hash onto the query itself are skipped, duplicates
    * keep their first draw, and existence is established by the join (the
    * contract does not assume contiguous ids); 8 draws guarantee ≥ 5
    * survivors on any corpus with ≥ 7 vectors.
    *
    * Scale shape: |queries|·8 candidate rows broadcast against the corpus
    * — one narrow pass, no shuffle of the big side; cosines only for the
    * sampled pairs. */
  def randomNegatives(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val n = base.agg(count(lit(1)).as("n"))
    val cand = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
      .crossJoin(broadcast(n))
      .select(col("q_id"), col("qe"), col("n"), explode(expr("sequence(1, 8)")).as("i"))
      .withColumn("cand", expr("(q_id * 2654435761L + i * 40503L) % n"))
      .drop("n")
      .filter(col("cand") =!= col("q_id"))
      .withColumn("dup", row_number().over(
        Window.partitionBy(col("q_id"), col("cand")).orderBy(col("i"))))
      .filter(col("dup") === 1)
    broadcast(cand).join(base, col("cand") === base("vec_id"))
      .withColumn("cosine", expr("cosine_sim(qe, e)"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("i"))))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank").cast("bigint").as("rank"),
        col("vec_id"), col("cosine"))
  }

  def randomNegativesSql: String =
    s"""WITH $normCte,
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       |cand AS (
       |  SELECT q.vec_id AS q_id, q.e AS qe, q.nrm AS qn, u.i AS i,
       |    (q.vec_id * 2654435761 + u.i * 40503) % cnt.n AS cand
       |  FROM n q, cnt, UNNEST(range(1, 9)) AS u(i)
       |  WHERE q.vec_id < $NumQueries
       |    AND (q.vec_id * 2654435761 + u.i * 40503) % cnt.n <> q.vec_id),
       |ded AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id, cand ORDER BY i) AS dup
       |    FROM cand) t
       |  WHERE dup = 1),
       |joined AS (
       |  SELECT d.q_id, d.i, b.vec_id,
       |    list_reduce(list_transform(range(1, len(d.qe) + 1), k -> d.qe[k] * b.e[k]), (a, x) -> a + x)
       |      / (sqrt(d.qn) * sqrt(b.nrm)) AS cosine
       |  FROM ded d JOIN n b ON d.cand = b.vec_id)
       |SELECT q_id, rank, vec_id, cosine FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY i) AS BIGINT) AS rank
       |  FROM joined) r
       |WHERE rank <= 5""".stripMargin

  /** Per-label embedding outliers: the 5 vectors FARTHEST from their own
    * label's centroid, per label — the embedding-space mislabel/contaminant
    * probe (a vector far from its class centroid is either noise or the
    * most informative example in the class; both deserve a look before the
    * set trains anything). Complements [[hardNegatives]] (cross-label
    * confusion) with within-label dispersion.
    *
    * Exactness: distance² is computed ENTIRELY in int64 — components are
    * quantized once (`floor(v·10⁷+0.5)`, the [[labelCentroids]] snap) and
    * the centroid component is quantized from the exact rational mean with
    * the SAME snap, so `d2 = Σ(vᵢ−cᵢ)²` has no float accumulation at all.
    * Bound: 64·(2·10⁷)² ≈ 2.6·10¹⁶ — inside int64 for any unit-scale
    * embedding up to ~22k dims.
    *
    * Scale shape: the |labels|-row centroid table broadcasts; d2 is one
    * narrow zip_with/aggregate fold per vector (no shuffle of the corpus);
    * the per-label top-5 is a WindowGroupLimit on |labels| groups. */
  /** Per-DIMENSION moment diagnostics of the embedding table — the
    * anisotropy / dead-dimension health check run before an embedding
    * column is trusted for retrieval or clustering (Ethayarajh 2019's
    * observation: contextual embeddings concentrate in a narrow cone, and
    * a dimension whose variance collapses to ~0 carries no signal; a
    * dimension whose |mean| dwarfs its spread biases every cosine).
    * Emits per dimension: exact integer-scaled sum and sum-of-squares,
    * the mean, and the population variance.
    *
    * Exactness: components quantize to 1e7 ints BEFORE summing (the
    * centroid-training policy), so both power sums are order-free exact
    * integers and the derived doubles are single final divisions —
    * engine-exact. Width budget: |sv| ≤ 2·10⁷ keeps the linear sum `s`
    * inside int64 to ~4.6·10¹¹ rows per dimension, but sv² reaches 4·10¹⁴
    * per ROW — an int64 sum would silently wrap between ~2·10⁴ and ~10⁷
    * vectors depending on the norm profile, far below any real corpus —
    * so `sq` accumulates as DECIMAL(38,0) (cast BEFORE the sum; headroom
    * 10³⁸⁄4·10¹⁴ ≈ 2.5·10²³ rows), exactly as the oracle does. The
    * EMITTED `sq` column is that exact decimal cast to double once at the
    * end (both engines round the identical integer to the identical IEEE
    * double, so the hash compare stays exact; past 2⁵³ the displayed
    * value rounds, the variance still derives from the exact sum).
    *
    * Scale shape: ONE narrow posexplode into a |dims|-keyed partial agg —
    * corpus×dims rows map-side-combined into 64 output rows. */
  def embedDimStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(expr(
        s"transform(CAST(embedding AS array<double>), v -> CAST(floor(v * $CentScale + 0.5) AS BIGINT))")))
      .groupBy(col("pos").cast("bigint").as("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("col")).as("s"),
        sum((col("col") * col("col")).cast("decimal(38,0)")).cast("decimal(38,0)").as("sq"))
      .select(col("pos"), col("n"), col("s"), col("sq").cast("double").as("sq"),
        (col("s").cast("double") / (col("n").cast("double") * lit(1e7))).as("mean"),
        ((col("sq").cast("double") -
          col("s").cast("double") * col("s").cast("double") / col("n").cast("double"))
          / (col("n").cast("double") * lit(1e14))).as("variance"))

  def embedDimStatsSql: String =
    s"""WITH cexp AS (
       |  SELECT unnest(list_transform(range(1, len(embedding) + 1),
       |    i -> {'pos': i - 1, 'sv': CAST(floor(embedding[i]::DOUBLE * $CentScale + 0.5) AS BIGINT)})) AS u
       |  FROM embeddings),
       |m AS (
       |  SELECT CAST(u.pos AS BIGINT) AS pos, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(u.sv) AS BIGINT) AS s,
       |    CAST(sum(CAST(u.sv * u.sv AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sq
       |  FROM cexp GROUP BY u.pos)
       |SELECT pos, n, s, CAST(sq AS DOUBLE) AS sq,
       |  CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * $CentScale) AS mean,
       |  (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       |    / (CAST(n AS DOUBLE) * 1e14) AS variance
       |FROM m""".stripMargin

  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val cq = centroidVectors(spark, dir)
      .select(col("label"),
        expr(s"transform(centroid, v -> CAST(floor(v * $CentScale + 0.5) AS BIGINT))").as("cq"))
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        expr(s"transform(CAST(embedding AS array<double>), v -> CAST(floor(v * $CentScale + 0.5) AS BIGINT))").as("eq"))
    base.join(broadcast(cq), "label")
      .withColumn("d2",
        expr("aggregate(zip_with(eq, cq, (x, y) -> (x - y) * (x - y)), 0L, (a, x) -> a + x)"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("d2").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("label").cast("bigint").as("label"), col("vec_id"),
        col("d2"), col("rk").cast("bigint").as("rk"))
  }

  def embedOutliersSql: String =
    s"""WITH cexp AS (
       |  SELECT label,
       |    unnest(list_transform(range(1, len(embedding) + 1),
       |      i -> {'pos': i - 1, 'sv': CAST(floor(embedding[i]::DOUBLE * $CentScale + 0.5) AS BIGINT)})) AS u
       |  FROM embeddings),
       |cent AS (
       |  SELECT label, u.pos AS pos,
       |    CAST(sum(u.sv) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * $CentScale) AS cv
       |  FROM cexp GROUP BY label, u.pos),
       |cq AS (
       |  SELECT label,
       |    list(CAST(floor(cv * $CentScale + 0.5) AS BIGINT) ORDER BY pos) AS cq
       |  FROM cent GROUP BY label),
       |eq AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding::DOUBLE[], v -> CAST(floor(v * $CentScale + 0.5) AS BIGINT)) AS eq
       |  FROM embeddings),
       |d AS (
       |  SELECT eq.vec_id, eq.label,
       |    list_reduce(list_transform(range(1, len(eq.eq) + 1),
       |      i -> (eq.eq[i] - cq.cq[i]) * (eq.eq[i] - cq.cq[i])), (a, x) -> a + x) AS d2
       |  FROM eq JOIN cq USING (label))
       |SELECT CAST(label AS BIGINT) AS label, vec_id, d2, rk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id) AS rk
       |  FROM d) r
       |WHERE rk <= 5""".stripMargin

  /** Simplified silhouette of the TRAINED IVF partition ([[ivfTrain]]'s
    * cells): per vector, a = cosine distance to its own (nearest) centroid,
    * b = distance to the second-nearest; s = (b−a)/b ∈ [0,1] (for
    * nearest-centroid assignment b ≥ a always, and max(a,b)=b). Reported
    * per cell as (n, Σs, mean s) in exact ppm integers — the clustering-
    * quality acceptance number for the quantizer that [[topkIvf]] and
    * [[semanticDedup]] both build on: cells with mean s near 0 are
    * boundary mush (raise nprobe); near 1 are tight (safe to probe once).
    *
    * Exactness: the two cosines are the engine-parity doubles every IVF
    * query already relies on; s is snapped ONCE per vector to ppm via
    * `floor(s·10⁶+0.5)` (s ≥ 0, so the half-up snap is floor-safe in both
    * engines), then only int64 sums and one floor division remain.
    *
    * Scale shape: identical to the IVF assignment pass — broadcast ≤|cells|
    * centroids, one narrow pass over the corpus, a 2-row-per-vector window
    * filter, then a |cells|-row aggregate. */
  def ivfSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val cents = trainedCentroidVectors(spark, dir)
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val ranked = base.crossJoin(broadcast(cents))
      .withColumn("csim", expr("cosine_sim(e, centroid)"))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cell"))))
      .filter(col("crank") <= 2)
    val perVec = ranked.groupBy(col("vec_id"))
      .agg(
        max(when(col("crank") === 1, struct(col("csim"), col("cell")))).as("own"),
        max(when(col("crank") === 2, col("csim"))).as("c2"))
      .select(col("vec_id"), col("own.cell").as("cell"),
        expr("CASE WHEN c2 >= 1.0 THEN 0L ELSE CAST(floor((own.csim - c2) / (1.0 - c2) * 1000000.0 + 0.5) AS BIGINT) END").as("s_ppm"))
    perVec.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("s_ppm")).as("sum_s_ppm"))
      .select(col("cell"), col("n_vectors"), col("sum_s_ppm"),
        expr("sum_s_ppm div n_vectors").as("mean_s_ppm"))
  }

  /** Oracle: the same Lloyd-trained centroids (shared CTE chain), the same
    * assignment ranking, the same one-snap ppm silhouette. */
  def ivfSilhouetteSql: String =
    s"""WITH $normCte,
       |$lloydCtes,
       |cn AS (
       |  SELECT cell, c,
       |    list_reduce(list_transform(c, x -> x * x), (a, x) -> a + x) AS cnrm
       |  FROM cent$LloydRounds),
       |assigned AS (
       |  SELECT n.vec_id, cn.cell,
       |    list_reduce(list_transform(range(1, len(n.e) + 1), i -> n.e[i] * cn.c[i]), (a, x) -> a + x)
       |      / (sqrt(n.nrm) * sqrt(cn.cnrm)) AS csim
       |  FROM n, cn),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS crank
       |  FROM assigned),
       |pv AS (
       |  SELECT vec_id,
       |    max(CASE WHEN crank = 1 THEN cell END) AS cell,
       |    max(CASE WHEN crank = 1 THEN csim END) AS c1,
       |    max(CASE WHEN crank = 2 THEN csim END) AS c2
       |  FROM ranked WHERE crank <= 2 GROUP BY vec_id),
       |sv AS (
       |  SELECT vec_id, cell,
       |    CASE WHEN c2 >= 1.0 THEN 0
       |         ELSE CAST(floor((c1 - c2) / (1.0 - c2) * 1000000.0 + 0.5) AS BIGINT) END AS s_ppm
       |  FROM pv)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors,
       |  CAST(sum(s_ppm) AS BIGINT) AS sum_s_ppm,
       |  CAST(sum(s_ppm) AS BIGINT) // count(*) AS mean_s_ppm
       |FROM sv GROUP BY cell""".stripMargin
}
