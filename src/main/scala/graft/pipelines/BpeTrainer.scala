package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Plans.{truncate, truncatedArtifact}
import graft.Tables

/** Distributed BPE (byte-pair-encoding) merge training over the documents
  * corpus — the tokenizer-construction step of an LLM data pipeline
  * (Sennrich et al. 2016, word-frequency formulation). The reference's text
  * surface stops at whitespace tokens (`/root/reference/src/mrapps/wc.go:23-30`
  * splits on non-letters); BPE training is the natural next operator a
  * training-data engine needs: learn the merge table once over the corpus,
  * then encode with it.
  *
  * Algorithm, kept exactly oracle-reproducible:
  *   1. Word-frequency table: one pass over the corpus, `(word, freq)`.
  *      Everything after this step is VOCABULARY-sized, never corpus-sized —
  *      the classic reason word-level BPE training scales: 100 TB of text
  *      collapses to a few-hundred-million-row word table, and each merge
  *      round touches only that.
  *   2. Seed symbols: per-character split of each word.
  *   3. [[Merges]] rounds: count adjacent symbol pairs weighted by word
  *      frequency (vocab-sized partial-agg shuffle), pick the argmax pair
  *      with a total deterministic tie-break (freq DESC, lhs ASC, rhs ASC —
  *      a 1-row TakeOrderedAndProject), and apply the merge to every word's
  *      symbol list via a codegen'd `aggregate` fold (left-to-right,
  *      non-overlapping — so `aaa` under merge (a,a) becomes `[aa, a]`).
  *      The chosen pair enters the plan as a broadcast 1-row crossJoin —
  *      no driver-side collect of the merge value. Each round is
  *      truncated ([[graft.Plans.truncate]]): the symbol table is
  *      referenced by both the next pair count and the next merge
  *      application, so without truncation the plan would double per
  *      round.
  *
  * Exactness: pair counts are integer sums of integer word frequencies —
  * associative under any partitioning — and the tie-break totally orders
  * candidates, so Spark and the unrolled-CTE DuckDB oracle walk the
  * identical merge trajectory.
  */
object BpeTrainer {

  /** Bounded merge rounds — mirrored exactly by the oracle's unrolled CTEs. */
  private[graft] val Merges = 8

  /** Corpus word-frequency table: the only corpus-sized pass. */
  private def wordFreqs(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  /** Left-to-right non-overlapping application of the (lhs, rhs) merge in
    * scope to the `syms` array — a fold, evaluated per vocabulary row. */
  private val applyMergeSql =
    """aggregate(syms, cast(array() as array<string>),
      |  (acc, x) -> CASE
      |    WHEN size(acc) > 0 AND element_at(acc, -1) = lhs AND x = rhs
      |    THEN concat(slice(acc, 1, size(acc) - 1), array(concat(lhs, rhs)))
      |    ELSE concat(acc, array(x)) END)""".stripMargin

  /** Runs the training loop; returns (merge table, final per-word symbol
    * table). Both are materialized ([[graft.Plans.truncate]]) — callers
    * get bounded plans.
    *
    * Memoized per (session, dir, truncation mode) via
    * [[graft.Plans.truncatedArtifact]]: three registered
    * queries (bpe_train, bpe_encode, token_fertility) consume the same
    * trained tables, and before the memo each re-ran the full
    * [[Merges]]-round loop — the trained-quantizer pattern from
    * [[graft.similarity.SimilarityQueries]], applied to the tokenizer. The
    * checkpointed results are self-contained and the trajectory is
    * deterministic (total tie-break), so a memoized result is
    * bit-identical to a retrain. */
  private[graft] def train(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    truncatedArtifact(spark, s"bpe-train/$dir")(trainLoop(spark, dir))

  private def trainLoop(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    var syms = truncate(wordFreqs(spark, dir)
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")))
    var merges = Vector.empty[DataFrame]
    for (k <- 1 to Merges) {
      // Adjacent symbol pairs weighted by word frequency. zip_with pads the
      // shorter (shifted) side with null; the filter drops the pad, so
      // single-symbol words simply contribute no pairs.
      val pairs = syms
        .select(col("freq"), explode(expr(
          """filter(zip_with(syms, slice(syms, 2, size(syms) - 1),
            |       (l, r) -> struct(l AS lhs, r AS rhs)),
            |   p -> p.rhs IS NOT NULL)""".stripMargin)).as("p"))
        .select(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"), col("freq"))
        .groupBy(col("lhs"), col("rhs"))
        .agg(sum(col("freq")).as("freq"))
      // Deterministic argmax: freq DESC, then lexicographic — a 1-row
      // TakeOrderedAndProject, never a global sort.
      val best = truncate(pairs
        .orderBy(desc("freq"), asc("lhs"), asc("rhs"))
        .limit(1))
      merges = merges :+ best.select(
        lit(k).as("rank"), col("lhs"), col("rhs"), col("freq"))
      syms = truncate(syms
        .crossJoin(broadcast(best.select(col("lhs"), col("rhs"))))
        .withColumn("syms", expr(applyMergeSql))
        .drop("lhs", "rhs"))
    }
    (merges.reduce(_ unionAll _).orderBy(col("rank")), syms)
  }

  /** Registered query: the learned merge table, one row per round. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    train(spark, dir)._1

  /** Registered query: per-document token counts under the learned merges —
    * the encode step. The trained per-word symbol table is vocabulary-sized
    * and broadcast; the corpus side is one narrow explode + keyed agg, so
    * encoding 100 TB is a single broadcast-join pass. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    // the symbol table is word-vocabulary-sized (data-derived, already
    // checkpointed by train; the gate count is memoized with the model);
    // past the gate the encode join shuffle-hashes on `word`
    val syms = train(spark, dir)._2
    val nSyms = graft.Memo.countOf(spark, s"bpe-syms/$dir", syms)
    val vocab = syms.select(col("word"), size(col("syms")).as("n_syms"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(graft.Plans.broadcastIfSmall(vocab, nSyms), "word")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n_syms")).as("bpe_tokens"),
        count(lit(1)).as("ws_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Unrolled-CTE DuckDB oracle for the merge trajectory — shared prefix of
    * both oracle statements. DuckDB list slices are END-INCLUSIVE
    * (`acc[:-2]` drops the last element), unlike Spark's `slice`. */
  private def lloydStyleCtes: String = {
    val base = Seq(
      """words AS (
        |  SELECT w AS word, count(*)::BIGINT AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w)""".stripMargin,
      """syms0 AS (
        |  SELECT word, freq,
        |         list_transform(range(1, len(word) + 1), i -> word[i:i]) AS syms
        |  FROM words)""".stripMargin)
    val rounds = (1 to Merges).flatMap { k =>
      val p = k - 1
      Seq(
        s"""pairs$k AS (
           |  SELECT pr.l AS lhs, pr.r AS rhs, sum(freq)::BIGINT AS freq
           |  FROM (SELECT freq,
           |          unnest(list_transform(list_zip(syms, syms[2:]),
           |                 z -> {'l': z[1], 'r': z[2]})) AS pr
           |        FROM syms$p)
           |  WHERE pr.r IS NOT NULL
           |  GROUP BY 1, 2)""".stripMargin,
        s"""best$k AS (
           |  SELECT $k AS rank, lhs, rhs, freq FROM pairs$k
           |  ORDER BY freq DESC, lhs, rhs LIMIT 1)""".stripMargin,
        s"""syms$k AS (
           |  SELECT word, s.freq,
           |    list_reduce(list_transform(syms, x -> [x]),
           |      (acc, x) -> CASE
           |        WHEN len(acc) > 0 AND acc[-1] = b.lhs AND x[1] = b.rhs
           |        THEN list_append(acc[:-2], b.lhs || b.rhs)
           |        ELSE list_concat(acc, x) END) AS syms
           |  FROM syms$p s CROSS JOIN best$k b)""".stripMargin)
    }
    (base ++ rounds).mkString("WITH ", ",\n", "")
  }

  def bpeTrainSql: String = {
    val union = (1 to Merges).map(k => s"SELECT * FROM best$k").mkString(" UNION ALL ")
    s"""$lloydStyleCtes
       |SELECT rank, lhs, rhs, freq FROM ($union) ORDER BY rank""".stripMargin
  }

  def bpeEncodeSql: String =
    s"""$lloydStyleCtes
       |SELECT d.doc_id,
       |       sum(len(v.syms))::BIGINT AS bpe_tokens,
       |       count(*)::BIGINT AS ws_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |      FROM documents) d
       |JOIN syms$Merges v ON d.word = v.word
       |WHERE d.word <> ''
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Tokenizer FERTILITY per language — tokens-per-word under the learned
    * merges, the standard multilingual-tokenizer health metric (a language
    * the vocabulary serves badly fragments into many subword tokens per
    * word, inflating its effective sequence length and training cost).
    * Exact ppm: `Σ subword-tokens · 10⁶ div Σ words` per language.
    *
    * Scale shape: the trained vocabulary (word → symbol count) broadcasts
    * exactly as [[bpeEncode]]'s does; the corpus pays one narrow tokenize
    * pass into a |langs|-row partial agg. */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame = {
    val syms = train(spark, dir)._2
    val nSyms = graft.Memo.countOf(spark, s"bpe-syms/$dir", syms)
    val vocab = syms.select(col("word"), size(col("syms")).as("n_syms"))
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(graft.Plans.broadcastIfSmall(vocab, nSyms), "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_bpe_tokens"))
      .withColumn("fertility_ppm", expr("n_bpe_tokens * 1000000L div n_words"))
  }

  def tokenFertilitySql: String =
    s"""$lloydStyleCtes
       |SELECT d.lang,
       |       count(*)::BIGINT AS n_words,
       |       sum(len(v.syms))::BIGINT AS n_bpe_tokens,
       |       (sum(len(v.syms)) * 1000000 // count(*))::BIGINT AS fertility_ppm
       |FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
       |      FROM documents) d
       |JOIN syms$Merges v ON d.word = v.word
       |WHERE d.word <> ''
       |GROUP BY d.lang""".stripMargin
}
