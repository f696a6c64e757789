package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, Conf, SparkEntry}
import graft.plans.GraftSession

/** Empirical scaling probe for the expensive operators: replicate the
  * documents table k× and measure wall time at each k, so the "linear at
  * scale" claims in SCALING.md are measured, not asserted.
  *
  * Replication detail that makes the measurement honest: each replica's
  * tokens are prefixed with a replica tag, so replicas of the same
  * document share NO shingles — the near-dup pair set grows k× (each
  * original pair appears once per replica), not k²× (which replicas that
  * stayed mutual near-dups would produce, polluting the trend with work
  * the real corpus doesn't have). doc_ids are offset per replica; the
  * source column gets a replica suffix so per-source operators keep
  * per-shard cardinality roughly constant.
  *
  * `runMain graft.tools.ScaleProbe [maxK] [sfDir] [outBase]` — times each
  * probe query at k = 1, 2, 4, … ≤ maxK and prints one line per (k, query).
  */
object ScaleProbe {

  private val Probes = Seq("dedup_exact", "dedup_near", "dedup_jaccard",
    "dedup_incremental", "doc_pagerank", "dedup_substring",
    "dedup_substring_pairs", "dedup_substring_winnow", "decontaminate",
    "doc_repetition", "seq_pack", "word_heavy_hitters", "tfidf_top_terms",
    "word_pmi", "quality_classifier", "dedup_semantic", "events_range_join",
    "bm25_search", "ngram_perplexity", "dsir_weights", "domain_mixture",
    "ngram_repetition", "events_retention", "embed_topk_pq", "embed_topk_ivfpq",
    "gopher_filter", "events_anomaly", "events_transitions", "events_ohlc",
    "events_cms", "bpe_train", "bpe_encode",
    "events_merge_upsert", "events_scd2_revenue", "events_autocorr",
    "events_twap", "phrase_search", "docs_k_anonymous", "doc_sample_weighted",
    "events_ab_test", "events_rolling_wau", "doc_sample_per_lang", "events_attribution",
    "embed_gram", "events_ewma", "hybrid_search_rrf", "corpus_drift_psi",
    "token_apportionment", "doc_shard_rendezvous", "events_rolling_median",
    "events_attribution_linear", "events_unconverted_views", "events_conversion_lag",
    "events_markov_stationary", "lang_id_confusion",
    "events_seasonality", "dedup_eval", "quality_calibration", "ann_recall",
    "textrank_keywords", "trigram_search", "coverage_select", "quality_auc",
    "events_pattern_match", "events_anomaly_mad", "events_erasure_audit",
    "events_trend_robust", "events_cohort_ltv", "token_fertility",
    "events_burst", "events_holt", "vocab_growth", "doc_novelty",
    "corpus_overlap", "source_log_odds", "embed_outliers", "ivf_silhouette",
    "oov_rate", "dedup_savings", "events_trimmed_stats", "pack_efficiency",
    "source_clusters", "search_rbo", "events_decayed_topk",
    "events_bot_score", "embed_random_negatives", "ann_recall_curve",
    "quality_isotonic", "quality_conformal", "filter_funnel",
    "split_gram_leakage", "train_split_grouped", "quality_pr_curve",
    "embed_topk_ivfpq_rerank", "ann_recall_rerank", "embed_dim_stats", "shard_balance",
    "chunk_dup_rate", "embed_margin_pairs", "ngram_diversity", "source_entropy",
    "dedup_threshold_curve", "mixture_temperature", "filter_correlation", "hot_ngrams",
    "embed_top_direction", "user_journey_topk", "user_journey_nll",
    "ngram_diversity_approx")

  private[tools] def replicate(spark: SparkSession, srcDir: String, k: Int, outDir: String): Unit = {
    // the replica tag is a single letter: beyond 26 replicas the tag would
    // leave [a-z] and the letter-run shingle tokenizer would split it off,
    // collapsing the disjoint-shingle-space property the probe depends on
    require(k <= 26, s"ScaleProbe supports at most 26 replicas, got $k")
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    // id offset derived from the corpus, not a literal: a fixed 1e6 stride
    // would silently collide replica ids on corpora with doc_id >= 1e6
    val idStride = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val copies = (0 until k).map { r =>
      val tag = s"q${('a' + r).toChar}"
      docs.select(
        (col("doc_id") + lit(r * idStride)).as("doc_id"),
        // per-replica token prefix: replica r's shingle space is disjoint,
        // within-replica Jaccards are untouched (bijective token rename)
        array_join(transform(split(col("text"), " "), t => concat(lit(tag), t)), " ")
          .as("text"),
        col("lang"),
        // replica 0 keeps its source names so the decontaminate benchmark
        // ('src0') persists — fixed eval set against a growing corpus
        (if (r == 0) col("source") else concat(col("source"), lit(s"x$tag"))).as("source"),
        col("n_chars"))
    }
    copies.reduce(_ unionAll _)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")
    replicateEvents(spark, srcDir, k, outDir)
    replicateEmbeddings(spark, srcDir, k, outDir)
  }

  /** Events replicate with per-replica user_id/event_id offsets: user
    * populations are disjoint across replicas, so per-user operators (the
    * range join, sessions) see k× the users at constant per-user history —
    * the honest growth mode for an event stream. */
  private def replicateEvents(spark: SparkSession, srcDir: String, k: Int, outDir: String): Unit = {
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
    val (idStride, userStride) = {
      val r = ev.agg(max(col("event_id")), max(col("user_id"))).head
      (r.getLong(0) + 1L, r.getLong(1) + 1L)
    }
    (0 until k).map { r =>
      ev.select(
        (col("event_id") + lit(r * idStride)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(r * userStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/events.parquet")
  }

  /** Embeddings replicate via a per-replica deterministic sign flip on the
    * dimensions (splitmix-parity of (replica, dim)): within a replica every
    * cosine is EXACTLY preserved (the signs cancel in Σ s²·x·y), while
    * cross-replica cosines become pseudo-random near-zero sums — so the
    * within-cell pair structure grows k×, never k² as verbatim copies
    * (mutual exact dups) would. Replica 0 keeps the original vectors. */
  private def replicateEmbeddings(spark: SparkSession, srcDir: String, k: Int, outDir: String): Unit = {
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val (idStride, labelStride) = {
      val r = emb.agg(max(col("vec_id")), max(col("label").cast("long"))).head
      (r.getLong(0) + 1L, r.getLong(1) + 1L)
    }
    val labelType = emb.schema("label").dataType
    (0 until k).map { r =>
      // sign(r, d) = ±1 from the low bit of a multiplicative mix; r=0 all +1
      val flipped =
        if (r == 0) col("embedding")
        else expr(
          // two LCG steps mod 2^31, sign from bit 16; intermediates stay
          // < 2^31 * 1103515245 ≈ 2.4e18 < Long.Max for every r ≤ 26
          s"""transform(embedding, (x, d) ->
             |  CASE WHEN pmod(pmod(pmod(bigint($r) * 1103515245 + bigint(d) * 12345, 2147483648)
             |                       * 1103515245 + 12345, 2147483648) div 65536, 2) = 0
             |       THEN x ELSE -x END)""".stripMargin)
      emb.select(
        (col("vec_id") + lit(r * idStride)).as("vec_id"),
        flipped.cast("array<float>").as("embedding"),
        // labels offset per replica: the label-seeded quantizer then has k×
        // the cells at constant cell size — the documented "cells grow with
        // N" scale mode, so within-cell pair work grows k×, not k²
        (col("label").cast("long") + lit(r * labelStride)).cast(labelType).as("label"))
    }.reduce(_ unionAll _)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val maxK = args.headOption.map(_.toInt).getOrElse(4)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val outBase = args.lift(2).getOrElse("/tmp/graft-scaleprobe")
    // optional comma-separated probe filter, e.g. "doc_pagerank,word_pmi"
    val probes = args.lift(3)
      .map(_.split(',').toSeq.map(_.trim).filter(Probes.contains))
      .filter(_.nonEmpty)
      .getOrElse(Probes)
    val spark = GraftSession.builder(Conf.cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ks = Iterator.iterate(1)(_ * 2).takeWhile(_ <= maxK).toSeq
    ks.foreach { k =>
      val dir = s"$outBase/k$k"
      replicate(spark, sfDir, k, dir)
      probes.foreach { name =>
        val fn = SparkEntry.query(name).run
        fn(spark, dir).count() // warm (codegen/JIT for this plan shape)
        Caches.drain()
        val t0 = System.nanoTime()
        val n = fn(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        Caches.drain()
        println(f"[scaleprobe] k=$k $name%-20s ${sec}%7.2f s  ($n rows)")
      }
      // each k probes a DIFFERENT data dir: release every session memo
      // (graph edges/baskets, trained quantizers, dedup artifacts, LM /
      // BPE / bench-gram tables) so the caches don't accumulate one
      // |E|-sized copy per replica scale
      graft.Memo.evictSession(spark)
    }
    spark.stop()
  }
}
