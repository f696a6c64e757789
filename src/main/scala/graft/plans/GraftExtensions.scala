package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions.{ArrayExpressions, BloomFunctions, RollingHash, ShingleExpressions, SubstringExpressions, VectorExpressions}

/** Session extension installing graft's native functions. Usable both
  * programmatically ([[GraftSession.builder]]) and via
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(ShingleExpressions.minHashSigDescriptor)
    ext.injectFunction(ShingleExpressions.simHashSigDescriptor)
    ext.injectFunction(ShingleExpressions.shingleSetDescriptor)
    ext.injectFunction(VectorExpressions.cosineSimDescriptor)
    ext.injectFunction(VectorExpressions.rhSigDescriptor)
    ext.injectFunction(RollingHash.descriptor)
    ext.injectFunction(SubstringExpressions.gramFpsDescriptor)
    ext.injectFunction(SubstringExpressions.gramsAtDescriptor)
    ext.injectFunction(SubstringExpressions.winnowSelectDescriptor)
    ext.injectFunction(BloomFunctions.bloomAggDescriptor)
    ext.injectFunction(BloomFunctions.bloomMightContainDescriptor)
    ext.injectFunction(ArrayExpressions.sortedIntersectDescriptor)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
  }
}

/** SparkSession factory with graft extensions + the scale-appropriate local
  * defaults (shuffle partitions = cores, not 200). */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); session-scoped here so
      // table loaders don't have to mutate config (Tables.events still sets
      // it defensively for externally built sessions)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Reliable-checkpoint mode (graft.Plans.truncate) writes one
      // checkpoint dir per truncated round of every iterative loop; without
      // this the ContextCleaner reclaims only the in-memory blocks and the
      // cluster-FS dirs accumulate forever on a long-lived session. Static
      // conf — must be set before the context exists, which is why it
      // lives here and not next to the loop.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      // Spark keeps compiled whole-stage and expression classes in an LRU
      // keyed by the generated source; at its default of 100 entries a
      // session that cycles through more plans than that recompiles them
      // with Janino (and the JIT compiles them again) on every pass.
      // Census (2026-10-18, 4 cores, cache unbounded): one session running
      // the registry once at sf0.001 and once at sf0.1, as graft.Bench
      // does, compiled 3,175 distinct classes (3,015 + 160). 8,000 is
      // about 2.5× that: room for the classes a warm pass compiles anew
      // (up to ~110 at sf0.01) across Bench's reps, and for registry
      // growth. After that census the full cache retains +24 MB metaspace
      // and +91 MB heap over the 100-entry bound (SCALING.md). Static
      // conf: only a builder can set it.
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      // Streaming state store backend. The default HDFS-backed provider
      // keeps ALL state on-heap — fine for the bounded per-key state the
      // streaming family maintains at test scale, but the 100× deployment
      // (every user/key resident for the watermark window) wants the
      // spillable RocksDB store, which Spark ships in-box. Plumbed as an
      // env knob so the SAME binary flips backends per deployment;
      // StreamingSuite re-runs the heaviest stateful twin under RocksDB to
      // pin that the operators are provider-agnostic.
      .config("spark.sql.streaming.stateStore.providerClass",
        sys.env.get("SPARK_GRAFT_STATE_STORE") match {
          case Some("rocksdb") =>
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
          case _ =>
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
        })
}
