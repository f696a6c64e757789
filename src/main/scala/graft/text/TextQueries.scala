package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The reference's application workloads (wc, indexer, file-stats shapes —
  * `/root/reference/src/mrapps/{wc,indexer,nocrash,early_exit}.go`) re-expressed
  * as DataFrame queries over the `documents` table, plus the text-analysis
  * operators a training-data pipeline needs (token stats, quality scoring,
  * language stats).
  *
  * Tokenizer fidelity: the reference splits on non-letter runes
  * (`unicode.IsLetter` complement, `/root/reference/src/mrapps/wc.go:21-24`),
  * i.e. Unicode category L*. The Java regex `[^\p{L}]+` matches that spec
  * exactly (SURVEY.md §7.4.1); `[a-zA-Z]` would not. Case is preserved.
  *
  * All expressions here are built-in Catalyst functions (no Scala UDFs), so
  * they stay inside whole-stage codegen and the per-document work is purely
  * narrow — embarrassingly parallel at any scale. Only the final group-by
  * shuffles, with partial aggregation on the map side.
  */
object TextQueries {

  /** Letter-run tokenizer per the reference spec; yields no empty tokens. */
  def tokens(text: Column): Column =
    filter(split(text, "[^\\p{L}]+"), t => length(t) > 0)

  /** A1 word count (`/root/reference/src/mrapps/wc.go:19-40`): tokenize every
    * document, count occurrences per case-sensitive word. */
  def wordCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  /** Word count with explicit skew salting: natural-language word counts are
    * Zipfian ('the' alone is ~5% of the corpus), so a single reducer owns
    * the hot key. Stage 1 groups on (word, salt) — the hot key spreads over
    * 16 reducers — stage 2 sums the 16 partials. Same exact answer, same
    * oracle as [[wordCount]]; at 100 TB this (or AQE skew handling) is the
    * difference between a straggler and an even stage. */
  def wordCountSalted(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(16)))
      .groupBy(col("word"), col("salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col("word"))
      .agg(sum(col("partial")).as("cnt"))

  def wordCountSql: String =
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word FROM documents) t
      |WHERE word <> ''
      |GROUP BY word""".stripMargin

  /** A2 inverted index (`/root/reference/src/mrapps/indexer.go:20-39`):
    * word → number of distinct containing documents + the sorted,
    * comma-joined posting list. `array_distinct` dedups per document on the
    * map side (mirroring the reference's per-doc `map[string]bool`) so the
    * shuffle carries each (word, doc) pair once. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id").cast("string").as("doc"),
        explode(array_distinct(tokens(col("text")))).as("word"))
      .groupBy(col("word"))
      .agg(
        count(lit(1)).as("n_docs"),
        concat_ws(",", sort_array(collect_set(col("doc")))).as("docs"))

  def invertedIndexSql: String =
    """SELECT word, count(*) AS n_docs,
      |  array_to_string(list_sort(list(doc)), ',') AS docs
      |FROM (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc,
      |        unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word
      |      FROM documents) t
      |WHERE word <> ''
      |GROUP BY word""".stripMargin

  /** A3/A4 file-stats shape (`/root/reference/src/mrapps/nocrash.go:26-47`):
    * each document emits 4 KVs — (a, name), (b, len(name)), (c, content
    * length), (d, "xyzzy") — and each key's values are sorted and
    * space-joined, exactly the reference reduce. */
  def fileStats(spark: SparkSession, dir: String): DataFrame = {
    val name = concat(lit("doc"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(explode(array(
        struct(lit("a").as("key"), name.as("value")),
        struct(lit("b").as("key"), length(name).cast("string").as("value")),
        struct(lit("c").as("key"), col("n_chars").cast("string").as("value")),
        struct(lit("d").as("key"), lit("xyzzy").as("value")))).as("kv"))
      .select(col("kv.key").as("key"), col("kv.value").as("value"))
      .groupBy(col("key"))
      .agg(concat_ws(" ", sort_array(collect_list(col("value")))).as("value"))
  }

  def fileStatsSql: String =
    """SELECT key, array_to_string(list_sort(list(value)), ' ') AS value FROM (
      |  SELECT unnest(['a','b','c','d']) AS key,
      |         unnest(['doc'||doc_id,
      |                 CAST(length('doc'||doc_id) AS VARCHAR),
      |                 CAST(n_chars AS VARCHAR),
      |                 'xyzzy']) AS value
      |  FROM documents) t
      |GROUP BY key""".stripMargin

  /** A8 per-file count shape (`/root/reference/src/mrapps/early_exit.go:19-23`):
    * documents counted per source "file". */
  def docCountBySource(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))

  def docCountBySourceSql: String =
    "SELECT source, count(*) AS n_docs FROM documents GROUP BY source"

  /** Per-document token statistics. Letter count is computed by stripping
    * non-letters (one regexp pass) rather than materializing token arrays
    * twice; the average derives from exact ints with one IEEE division. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(toks).cast("bigint").as("n_tokens"),
        size(array_distinct(toks)).cast("bigint").as("n_distinct"),
        length(regexp_replace(col("text"), "[^\\p{L}]", "")).cast("bigint").as("n_letters"))
      .withColumn("avg_token_len", col("n_letters") / col("n_tokens"))
  }

  def tokenStatsSql: String =
    """SELECT doc_id,
      |  len(toks) AS n_tokens,
      |  len(list_distinct(toks)) AS n_distinct,
      |  length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS n_letters,
      |  length(regexp_replace(text, '[^\p{L}]', '', 'g')) / len(toks) AS avg_token_len
      |FROM (SELECT doc_id, text,
      |        list_filter(regexp_split_to_array(text, '[^\p{L}]+'), t -> t <> '') AS toks
      |      FROM documents) s""".stripMargin

  private val StopWords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Heuristic quality scoring: token count, stopword ratio, mean token
    * length, and a boolean quality gate — the standard cheap pre-filter in a
    * training-data pipeline. Ratios are int/int single divisions. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = array(StopWords.map(lit): _*)
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"), col("lang"),
        size(toks).cast("bigint").as("n_tokens"),
        size(filter(toks, t => array_contains(stopArr, t))).cast("bigint").as("n_stop"),
        length(regexp_replace(col("text"), "[^\\p{L}]", "")).cast("bigint").as("n_letters"))
      .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
      .withColumn("avg_token_len", col("n_letters") / col("n_tokens"))
      .withColumn("is_quality",
        col("n_tokens") >= 10 && col("stop_ratio") < lit(0.5) && col("avg_token_len") >= 3)
  }

  def textQualitySql: String = {
    val stopList = StopWords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id, lang, n_tokens, n_stop, n_letters,
       |  n_stop / n_tokens AS stop_ratio,
       |  n_letters / n_tokens AS avg_token_len,
       |  (n_tokens >= 10 AND n_stop / n_tokens < 0.5 AND n_letters / n_tokens >= 3) AS is_quality
       |FROM (
       |  SELECT doc_id, lang,
       |    len(toks) AS n_tokens,
       |    len(list_filter(toks, t -> list_contains([$stopList], t))) AS n_stop,
       |    length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS n_letters
       |  FROM (SELECT doc_id, lang, text,
       |          list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), t -> t <> '') AS toks
       |        FROM documents) s) q""".stripMargin
  }

  /** Corpus heavy hitters with a verified sketch contract: the words whose
    * frequency exceeds 2% of all tokens (exact, both engines), each flagged
    * with its guaranteed membership in a 49-counter Misra-Gries summary
    * ([[graft.functions.MisraGries]]). MG undercounts by at most n/50, so
    * a word with true count strictly above n/50 MUST be in the summary —
    * `mg_found` is deterministically TRUE under every partitioning and
    * merge order, making the sketch's defining guarantee itself an
    * oracle-checked output (same pattern as `events_quantile_sketch`).
    *
    * Scale shape: the exact count is wc's partial-agg shuffle; the sketch
    * pass ships ONE ≤ 49-entry map per partition; both scalar sides
    * (total, summary) broadcast back as single rows. */
  def wordHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
    val exact = toks.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val total = exact.agg(sum(col("cnt")).as("total"))
    val summary = toks.as[String]
      .select(new graft.functions.MisraGries(49).toColumn.name("mg"))
    exact.crossJoin(broadcast(total))
      .filter(col("cnt") * 50 > col("total"))
      .crossJoin(broadcast(summary))
      .select(col("word"), col("cnt"), array_contains(col("mg"), col("word")).as("mg_found"))
  }

  def wordHeavyHittersSql: String =
    """WITH w AS (SELECT word, count(*) AS cnt
      |           FROM (SELECT unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word
      |                 FROM documents) t
      |           WHERE word <> '' GROUP BY word),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM w)
      |SELECT word, cnt, TRUE AS mg_found FROM w, tot WHERE cnt * 50 > total""".stripMargin

  /** Per-document top-3 TF-IDF terms (tie-break: score desc, then term asc)
    * — the classic keyword-extraction / relevance-weighting primitive.
    * `score = round(tf · ln(N/df), 6)`: the rounding pins the one
    * float-transcendental in this module to 6 decimals so both engines agree
    * bit-for-bit (every other ratio in the file is a single exact IEEE
    * division).
    *
    * Scale shape: tf is the wc partial-agg shuffle keyed (doc, term); df is
    * a second partial agg over tf keyed by term (vocabulary-sized, NOT
    * corpus-sized); N broadcasts as a one-row scalar. The df attach is a
    * linear keyed join — at 100 TB the vocabulary is far smaller than the
    * corpus but can exceed broadcast limits, so it stays a shuffle join by
    * default (same reasoning as `dedup_jaccard`'s frequency attach). The
    * final top-3 ranks inside each doc_id partition — no global sort. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * log(col("n") / col("df")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("score"))
  }

  def tfidfTopTermsSql: String =
    """WITH tok AS (SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), t -> t <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT doc_id, term, tf, score FROM (
      |  SELECT doc_id, term, tf, round(tf * ln(n / df), 6) AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |                       ORDER BY round(tf * ln(n / df), 6) DESC, term) AS rk
      |  FROM tf JOIN df USING (term), n) s
      |WHERE rk <= 3""".stripMargin

  /** Top-100 adjacent-bigram collocations by pointwise mutual information —
    * PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) ), the standard
    * collocation/phrase-mining signal — over bigrams seen ≥ 5 times
    * (the usual noise gate: PMI of a count-1 bigram of two rare words is
    * maximal and meaningless). Tie-break: pmi desc, then (w1, w2).
    *
    * Exactness: the probability ratio is computed as ONE division of two
    * int64 products, `c2·n1² / (n2·c1a·c1b)` — both engines do the same
    * correctly-rounded IEEE division, and the `ln` (the only
    * transcendental) is pinned to 6 decimals like [[tfidfTopTerms]].
    * The products stay far inside int64 up to ~10⁹ corpus tokens; beyond
    * that, promote to double BEFORE multiplying (exact to 2⁵³) — noted
    * here because a silent int64 overflow would flip signs, not error.
    *
    * Scale shape: two partial-agg shuffles (unigrams: vocabulary-sized;
    * bigrams: vocabulary²-bounded), two keyed joins to attach unigram
    * counts (broadcast at this sf — vocabularies, not corpora), two
    * one-row scalar totals broadcast, and TakeOrderedAndProject for the
    * top-100 — no global sort. */
  /** Zipf-law fit of the corpus rank–frequency curve — the corpus-health
    * one-liner (natural language slopes ≈ −1; a corpus of boilerplate or
    * template spam doesn't): OLS slope of ln(freq) on ln(rank) over the
    * top-100 words. Both logs are snapped to exact micro-nats BEFORE the
    * moment sums (the [[graft.relational.RelationalQueries.ordersEntropy]]
    * policy), the slope is one floor division of two decimal(38,0)
    * products, and the floor is spelled out for the negative numerator so
    * Spark's truncating `div` and DuckDB's flooring `//` agree.
    *
    * Scale shape: word counts are wc's partial-agg shuffle; the top-100 is
    * a TakeOrdered; every moment runs on 100 rows. */
  def wordZipf(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(100)
    val dec = "decimal(38,0)"
    top
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("word").asc)).cast("bigint"))
      .select(
        expr("cast(round(ln(rk) * 1000000) as bigint)").as("x"),
        expr("cast(round(ln(cnt) * 1000000) as bigint)").as("y"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      .select(col("n_terms"),
        ((col("n_terms") * col("sxy") - col("sx") * col("sy")).cast(dec) * lit(1000000L).cast(dec)).as("num"),
        (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast(dec).as("den"))
      .select(col("n_terms"),
        expr("""cast(CASE WHEN num >= 0 THEN num div den
               |     ELSE -((-num + den - 1) div den) END as bigint)""".stripMargin)
          .as("slope_micro"))
      .withColumn("slope", round(col("slope_micro") / 1000000.0, 6))
  }

  def wordZipfSql: String =
    """WITH wc AS (
      |  SELECT word, count(*) AS cnt
      |  FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), t -> t <> '')) AS word
      |        FROM documents) t
      |  GROUP BY 1 ORDER BY cnt DESC, word ASC LIMIT 100),
      |xy AS (
      |  SELECT CAST(round(ln(row_number() OVER (ORDER BY cnt DESC, word ASC)) * 1000000) AS BIGINT) AS x,
      |    CAST(round(ln(cnt) * 1000000) AS BIGINT) AS y
      |  FROM wc),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_terms,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM xy),
      |s AS (
      |  SELECT n_terms,
      |    CAST(n_terms * sxy - sx * sy AS HUGEINT) * 1000000 AS num,
      |    CAST(n_terms * sxx - sx * sx AS HUGEINT) AS den
      |  FROM m)
      |SELECT n_terms,
      |  CAST(CASE WHEN num >= 0 THEN num // den
      |       ELSE -((-num + den - 1) // den) END AS BIGINT) AS slope_micro,
      |  round(CAST(CASE WHEN num >= 0 THEN num // den
      |       ELSE -((-num + den - 1) // den) END AS BIGINT) / 1000000.0e0, 6) AS slope
      |FROM s""".stripMargin

  def wordPmi(spark: SparkSession, dir: String): DataFrame = {
    val toksDf = Tables.documents(spark, dir).select(tokens(col("text")).as("toks"))
    val uni = toksDf.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val n1 = uni.agg(sum(col("c1")).cast("bigint").as("n1"))
    val bi = toksDf
      .select(explode(when(size(col("toks")) >= 2,
        expr("""transform(sequence(1, size(toks) - 1),
               |  i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))""".stripMargin))
        .otherwise(expr("array()").cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val n2 = bi.agg(sum(col("c2")).cast("bigint").as("n2"))
    bi.filter(col("c2") >= 5)
      .join(uni.select(col("w").as("w1"), col("c1").as("c1a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c1").as("c1b")), "w2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .withColumn("pmi",
        round(log((col("c2") * col("n1") * col("n1")) / (col("n2") * col("c1a") * col("c1b"))), 6))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(100)
      .select(col("w1"), col("w2"), col("c2"), col("pmi"))
  }

  def wordPmiSql: String =
    """WITH tok AS (SELECT list_filter(regexp_split_to_array(text, '[^\p{L}]+'), t -> t <> '') AS toks
      |  FROM documents),
      |u AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY 1),
      |t1 AS (SELECT CAST(sum(c1) AS BIGINT) AS n1 FROM u),
      |b AS (SELECT w1, w2, count(*) AS c2 FROM (
      |    SELECT toks[i] AS w1, toks[i + 1] AS w2
      |    FROM tok, UNNEST(range(1, len(toks))) AS r(i)) GROUP BY 1, 2),
      |t2 AS (SELECT CAST(sum(c2) AS BIGINT) AS n2 FROM b)
      |SELECT w1, w2, c2, round(ln((c2 * n1 * n1) / (n2 * ua.c1 * ub.c1)), 6) AS pmi
      |FROM b JOIN u ua ON b.w1 = ua.w JOIN u ub ON b.w2 = ub.w, t1, t2
      |WHERE c2 >= 5
      |ORDER BY pmi DESC, w1 ASC, w2 ASC
      |LIMIT 100""".stripMargin

  /** Corpus statistics by language tag. */
  def langStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  def langStatsSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents GROUP BY lang""".stripMargin

  /** The fixed query phrase for [[phraseSearch]] — adjacent tokens, distinct
    * words, so occurrences cannot overlap and every engine counts them
    * identically. */
  val Phrase: Seq[String] = Seq("stream", "table", "hash")

  /** Positional-index phrase search — the retrieval operator the boolean
    * inverted index ([[invertedIndex]]) and ranked BM25 cannot answer:
    * which documents contain the exact consecutive phrase, and how many
    * times.
    *
    * Build: one `posexplode` pass emits (doc, term, position); the
    * `isin(query terms)` filter drops every non-query token BEFORE the
    * shuffle (the same trick as bm25_search), so the group-by that
    * assembles per-(doc, term) sorted position lists moves query-term
    * postings only — shuffle ∝ |postings of 3 terms|, never corpus size.
    * Match: per document, positions of the first term are filtered by
    * `array_contains` lookups into the following terms' lists (k-way
    * position-list intersection) — all inside whole-stage codegen, no UDFs.
    *
    * At 100 TB the per-(doc, term) position lists ARE the positional
    * inverted index; persisted once (partitioned by term), every phrase
    * query reads only its own terms' postings. Result: doc_id +
    * occurrence count for matching docs. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val terms = Phrase
    val postings = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      .filter(col("word").isin(terms: _*))
      .groupBy(col("doc_id"), col("word"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
    val byDoc = postings.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("word"), col("ps")))).as("m"))
    // n_matches = |{p ∈ ps(term0) : ps(term_i) ∋ p+i ∀ i}|
    val adjacency = terms.zipWithIndex.tail
      .map { case (t, i) => s"array_contains(m['$t'], p + $i)" }
      .mkString(" AND ")
    byDoc
      .filter(terms.map(t => array_contains(map_keys(col("m")), t)).reduce(_ && _))
      .select(col("doc_id"),
        expr(s"CAST(size(filter(m['${terms.head}'], p -> $adjacency)) AS BIGINT)")
          .as("n_matches"))
      .filter(col("n_matches") > 0)
  }

  def phraseSearchSql: String =
    """SELECT doc_id, n_matches FROM (
      |  SELECT doc_id,
      |    len(list_filter(range(1, len(wl) - 1),
      |      i -> wl[i] = 'stream' AND wl[i+1] = 'table' AND wl[i+2] = 'hash'
      |    ))::BIGINT AS n_matches
      |  FROM (SELECT doc_id,
      |          list_filter(regexp_split_to_array(text, '[^\p{L}]+'),
      |                      x -> x <> '') AS wl
      |        FROM documents) t) m
      |WHERE n_matches > 0""".stripMargin

  private[graft] val TgPattern = "merge batch"

  /** Trigram-indexed substring search (the pg_trgm / `LIKE '%…%'`
    * acceleration): find every document containing the literal
    * [[TgPattern]], by intersecting character-trigram POSTING LISTS
    * instead of scanning every byte of every document. A doc can contain
    * the pattern only if it contains ALL of the pattern's trigrams, so
    * candidates = docs whose posting count over the pattern's gram set
    * equals |gram set|; a `contains` check on just the candidates removes
    * trigram false positives (grams present but never adjacent), making
    * the result EXACTLY the naive full-scan answer — same rows, provably,
    * which is what the oracle checks.
    *
    * Scale shape: this is the one text query whose production form is an
    * INDEX — build (doc, gram) postings once, bucket-partition by gram,
    * and a probe reads only the pattern's posting lists, never the corpus.
    * Fused in-query here, the build stays honest: the gram filter runs
    * INSIDE the per-document projection (codegen'd `filter(transform(…))`
    * over the char positions), so only pattern-gram hits are ever
    * exploded into the shuffle — corpus bytes never leave the scan stage,
    * and the exchange carries O(candidate docs × 9 grams) rows. The
    * verify re-fetch is a semi-join of the tiny candidate set back onto
    * the pruned scan. */
  def trigramSearch(spark: SparkSession, dir: String): DataFrame = {
    val grams = TgPattern.sliding(3).toSeq.distinct
    val postings = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(array_distinct(filter(
        expr("transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))"),
        g => g.isin(grams: _*)))).as("gram"))
    val candidates = postings.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
      .filter(col("n_grams") === grams.size)
      .select(col("doc_id"))
    Tables.documents(spark, dir)
      .join(candidates, Seq("doc_id"), "left_semi")
      .filter(col("text").contains(TgPattern))
      .select(col("doc_id"),
        expr(s"CAST((length(text) - length(replace(text, '$TgPattern', ''))) div ${TgPattern.length} AS BIGINT)")
          .as("n_occurrences"))
  }

  /** Oracle: the naive full-scan LIKE — the exact semantics the index
    * accelerates. */
  def trigramSearchSql: String =
    s"""SELECT doc_id,
       |  CAST((length(text) - length(replace(text, '$TgPattern', ''))) // ${TgPattern.length} AS BIGINT)
       |    AS n_occurrences
       |FROM documents WHERE contains(text, '$TgPattern')""".stripMargin

  private val TrScale  = 1000000000000L // 1e12 fixed point, the doc_pagerank policy
  private val TrRounds = 3
  private val TrTopK   = 20

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the word co-occurrence graph — vertices are corpus words, edges
    * connect ADJACENT words (window 2, undirected, deduplicated) — and the
    * top-[[TrTopK]] ranked words are the corpus keywords. Unlike
    * [[tfidfTopTerms]] (frequency × rarity per document), TextRank scores
    * a word by the importance of the company it keeps, the standard
    * unsupervised keyphrase baseline.
    *
    * Exactness: the [[graft.dedup.DedupQueries]] doc_pagerank arithmetic
    * policy — int64 fixed point at [[TrScale]], damping as the rational
    * 17/20, floor divisions identical in both engines — so the unrolled
    * oracle replays the exact trajectory. No dangling-mass term: every
    * vertex comes FROM the symmetrized edge set, so out-degree ≥ 1 by
    * construction.
    *
    * Scale shape: the corpus contributes ONE adjacent-pair pass (a
    * codegen'd in-projection transform over each token array — no
    * self-join, no posexplode shuffle of all positions); everything after
    * runs on the vocabulary-sized graph. Each of the [[TrRounds]] rounds
    * is one edge⋈rank join + partial-agg sum, checkpoint-truncated; the
    * final top-k is TakeOrderedAndProject. */
  def textrankKeywords(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documentsSpread(spark, dir)
      .select(tokens(col("text")).as("t"))
      .select(explode(expr(
        """filter(transform(slice(t, 1, size(t) - 1),
          |  (w, i) -> struct(w AS a, element_at(t, i + 2) AS b)), p -> p.a <> p.b)"""
          .stripMargin)).as("p"))
      .select(least(col("p.a"), col("p.b")).as("u"),
        greatest(col("p.a"), col("p.b")).as("v"))
      .distinct()
    val edges = graft.Caches.persisted(
      pairs.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(pairs.select(col("v").as("src"), col("u").as("dst"))))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val n = graft.Memo.countOf(spark, s"textrank-nodes/$dir", deg)
    var rank = graft.Plans.truncate(
      deg.select(col("src").as("word"), col("deg"), lit(TrScale / n).as("rank")))
    for (_ <- 1 to TrRounds) {
      val sums = edges.join(rank, edges("src") === rank("word"))
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      rank = graft.Plans.truncate(
        rank.as("r").join(sums, col("r.word") === sums("dst"), "left")
          .select(col("r.word").as("word"), col("r.deg").as("deg"),
            (lit(3L * TrScale / (20L * n)) +
              expr("(17 * coalesce(s, 0L)) div 20")).as("rank")))
    }
    rank.orderBy(col("rank").desc, col("word").asc).limit(TrTopK)
      .select(col("word"), col("rank"))
  }

  /** Oracle: the identical fixed-point trajectory, unrolled [[TrRounds]]
    * times (the docPagerankSql shape, minus the dangling term). */
  def textrankKeywordsSql: String = {
    def round(prev: String, i: Int): String =
      s"""s$i AS (SELECT e.dst, sum(r.rank // r.deg) AS s
         |        FROM edges e JOIN $prev r ON e.src = r.word GROUP BY 1),
         |r${i + 1} AS (SELECT p.word, p.deg,
         |    (3 * $TrScale) // (20 * n) + (17 * COALESCE(s, 0)) // 20 AS rank
         |  FROM $prev p LEFT JOIN s$i ON p.word = s$i.dst, nn)""".stripMargin
    s"""WITH pr AS (
       |  SELECT DISTINCT least(wl[i], wl[i + 1]) AS u, greatest(wl[i], wl[i + 1]) AS v
       |  FROM (SELECT list_filter(regexp_split_to_array(text, '[^\\p{L}]+'),
       |                           x -> x <> '') AS wl FROM documents) t,
       |       UNNEST(range(1, len(wl))) AS r(i)
       |  WHERE wl[i] <> wl[i + 1]),
       |edges AS (SELECT u AS src, v AS dst FROM pr UNION ALL SELECT v, u FROM pr),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT src AS word, deg, $TrScale // n AS rank FROM deg, nn),
       |${(0 until TrRounds).map(i => round(s"r$i", i)).mkString(",\n")}
       |SELECT word, CAST(rank AS BIGINT) AS rank FROM r$TrRounds
       |ORDER BY rank DESC, word ASC
       |LIMIT $TrTopK""".stripMargin
  }
}
