package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.KvUpsert
import graft.streaming.KvUpsert.KvOp

/** stream_upsert: an open-loop generator appends one seeded batch of KV
  * ops every [[intervalMs]] through a MemoryStream into
  * `KvUpsert.upsertSink`; beside it one closed-loop reader looks a key up
  * through `KvUpsert.readState` after each commit. A batch's latency runs
  * from its due time to the commit that makes it durable, so a stall is
  * charged to every batch queued behind it. Its `wall_s` is the sum of the
  * timed micro-batches' trigger durations: the time the program spent on
  * them, where first due time to last commit would be mostly the fixed
  * schedule.
  *
  * The reader looks up right after a commit, not at a random instant:
  * `KvUpsert` deletes superseded bucket files as soon as the next batch
  * commits, so a lookup still scanning them would fail. */
final class StreamUpsert(a: Main.Args, work: String) extends Workload {
  private val smoke = a.scale.name == "smoke"
  /** About twice a micro-batch's service time (0.6–1.1 s on 4 cores, up
    * to 1.6 s on a contended host), so the loop stays below saturation. */
  private val intervalMs = 2000L
  /** Warm-up batches, each added once the previous one has committed. */
  private val warmBatches = if (smoke) 2 else 6

  // generator state, reset by every set-up trial
  private var rng: SplittableRandom = _
  private var seq = 0L
  /** YCSB's default request skew (zipfian constant 0.99). */
  private val zipf = new Zipf(a.scale.streamKeys, 0.99)
  private val batches = mutable.ArrayBuffer.empty[Seq[KvOp]]
  private val dueNs = mutable.ArrayBuffer.empty[Long]
  private val keyOps = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Int, KvOp)]]

  private var trial = 0
  private var stateDir: String = _
  private var input: MemoryStream[KvOp] = _
  private var query: StreamingQuery = _
  @volatile private var committed = -1
  @volatile private var added = 0

  // timed-window measurements
  private val lateMs = mutable.ArrayBuffer.empty[Double]
  private var backlogMax = 0
  private val lookups = mutable.ArrayBuffer.empty[OpSample]

  def makeInputs(): Unit = ()

  private def nextBatch(): Seq[KvOp] = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until a.scale.streamBatchOps).map { _ =>
      seq += 1
      val key = f"k${zipf.sample(rng)}%05d"
      val u = rng.nextDouble()
      val op = if (u < 0.5) "put" else if (u < 0.85) "append" else "del"
      val value = if (op == "del") "" else Seq.fill(6)(letters(rng.nextInt(26))).mkString
      KvOp(seq, op, key, value)
    }
  }

  /** Append the next batch, due at `due` (nanoTime). */
  private def add(due: Long): Unit = {
    val ops = nextBatch()
    val g = batches.size
    keyOps.synchronized {
      ops.foreach(o => keyOps.getOrElseUpdate(o.key, mutable.ArrayBuffer.empty) += ((g, o)))
    }
    batches += ops
    dueNs += due
    added = batches.size
    input.addData(ops)
  }

  /** Highest generator batch that `p`'s micro-batch, or one before it,
    * committed. */
  private def endOffset(p: StreamingQueryProgress): Int =
    Option(p).flatMap(_.sources.headOption).flatMap(s => Option(s.endOffset))
      .map(_.trim.toInt).getOrElse(-1)

  private def progressOffset(): Int = endOffset(query.lastProgress)

  /** Seconds the stream spent in the micro-batches that carried generator
    * batches `first` onwards. */
  private def busySeconds(first: Int): Double =
    query.recentProgress.filter(p => p.numInputRows > 0 && endOffset(p) >= first)
      .map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble).sum / 1000.0

  /** The value `key` must have once batches 0..g are applied. */
  private def fold(key: String, g: Int): Option[String] = {
    val ops = keyOps.synchronized(keyOps.get(key).map(_.toSeq).getOrElse(Nil))
    KvUpsert.applyOps(None, ops.collect { case (b, o) if b <= g => o })
  }

  def prepare(spark: SparkSession): Unit = {
    trial += 1
    rng = new SplittableRandom(a.seed)
    seq = 0
    batches.clear(); dueNs.clear(); keyOps.clear()
    committed = -1
    stateDir = s"$work/stream-$trial/state"
    implicit val ctx: SQLContext = spark.sqlContext
    import spark.implicits._
    input = MemoryStream[KvOp]
    query = KvUpsert.upsertSink(input.toDS(), stateDir, s"$work/stream-$trial/checkpoint")
  }

  private def failIfStopped(): Unit =
    if (!query.isActive) throw query.exception.getOrElse(new IllegalStateException("stream stopped"))

  override def release(): Unit = if (query != null) { query.stop(); query = null }

  /** Run the schedule for `seconds`; returns the first batch's index and
    * the commit latency of each batch. */
  private def schedule(spark: SparkSession, rec: Recorder, seconds: Double, timed: Boolean,
      tracer: Option[Tracer]): (Int, Seq[Double]) = {
    val n = math.max(1, (seconds * 1000 / intervalMs).toInt)
    val first = batches.size
    val start = System.nanoTime() + 20000000L
    val commitNs = mutable.HashMap.empty[Int, Long]
    val signals = new LinkedBlockingQueue[Integer]()
    @volatile var running = true
    val readerRng = new SplittableRandom(a.seed + 1)
    val reader = new Thread(() => {
      tracer.foreach(_ => spark.sparkContext.setJobGroup(s"${a.workload}/lookup/1", "lookup", false))
      while (running || !signals.isEmpty) {
        val s = signals.poll(20, TimeUnit.MILLISECONDS)
        if (s != null) {
          var before: Int = s
          while (!signals.isEmpty) before = signals.poll()
          lookup(spark, rec, readerRng, before, timed)
        }
      }
    }, "perfbench-reader")
    reader.setDaemon(true)
    reader.start()

    def poll(): Unit = {
      failIfStopped()
      val c = progressOffset()
      if (c > committed) {
        val now = System.nanoTime()
        (committed + 1 to c).foreach(g => commitNs(g) = now)
        committed = c
        signals.add(c)
      }
    }
    try {
      (0 until n).foreach { i =>
        val due = start + i * intervalMs * 1000000L
        while (System.nanoTime() < due) { poll(); Thread.sleep(1) }
        add(due)
        if (timed) {
          lateMs += (System.nanoTime() - due) / 1e6
          backlogMax = math.max(backlogMax, batches.size - 1 - committed)
        }
      }
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (committed < batches.size - 1 && System.nanoTime() < deadline) { poll(); Thread.sleep(1) }
    } finally {
      running = false
      reader.join()
    }
    val lat = (first until batches.size).map { g =>
      commitNs.get(g).map(c => (c - dueNs(g)) / 1e6).getOrElse {
        rec.check(s"batch $g", Some("not committed within 120 s"))
        Double.NaN
      }
    }.filterNot(_.isNaN)
    (first, lat)
  }

  private def lookup(spark: SparkSession, rec: Recorder, r: SplittableRandom, before: Int,
      timed: Boolean): Unit = {
    val key = f"k${zipf.sample(r)}%05d"
    try {
      val t0 = System.nanoTime()
      val ds = KvUpsert.readState(spark, stateDir)
      val t1 = System.nanoTime()
      val got = ds.filter(col("key") === key).collect().map(_.value).toSeq
      val t2 = System.nanoTime()
      val after = added - 1
      val allowed = (before to after).map(g => fold(key, g).toSeq).distinct
      rec.check(s"lookup $key",
        if (allowed.contains(got)) None
        else Some(s"got ${got.mkString(",")}, expected one of ${allowed.map(_.mkString(",")).mkString(" | ")}"))
      if (timed) lookups.synchronized(lookups += OpSample("lookup", (t1 - t0) / 1e9, (t2 - t1) / 1e9, 0.0))
    } catch {
      case e: Exception => rec.check(s"lookup $key", Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  private def checkFinalState(spark: SparkSession, rec: Recorder): Unit = {
    query.processAllAvailable()
    val got = KvUpsert.readState(spark, stateDir).collect().map(e => e.key -> e.value).toMap
    val keys = keyOps.synchronized(keyOps.keys.toSeq)
    val want0 = keys.flatMap(k => fold(k, batches.size - 1).map(k -> _)).toMap
    val want = if (a.corrupt && want0.nonEmpty) want0.updated(want0.keys.min, "corrupted") else want0
    rec.check("final state",
      if (got == want) None
      else Some(s"${got.size} keys, expected ${want.size}; first difference at " +
        (got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k)).getOrElse("?")))
  }

  /** Closed loop: each batch is added once the previous one committed,
    * and read back with one lookup. */
  def warm(spark: SparkSession, rec: Recorder): Unit = {
    val r = new SplittableRandom(a.seed + 2)
    (0 until warmBatches).foreach { _ =>
      add(System.nanoTime())
      while (progressOffset() < batches.size - 1) { failIfStopped(); Thread.sleep(1) }
      committed = batches.size - 1
      lookup(spark, rec, r, committed, timed = false)
    }
  }

  private var window: PassSample = _

  def timed(spark: SparkSession, rec: Recorder, tracer: Option[Tracer], seconds: Double): Unit = {
    tracer.foreach(_.begin(s"${a.workload}/stream/1"))
    val c0 = Passes.cpuS
    val startMs = System.currentTimeMillis()
    val (first, lat) =
      try schedule(spark, rec, seconds, timed = true, tracer)
      finally tracer.foreach(_.end())
    window = PassSample(1, busySeconds(first), Passes.cpuS - c0, 0.0, startMs,
      System.currentTimeMillis(), lookups.toSeq, 0.0)
    rec.passes += window
    lat.foreach(_ => rec.check("batch commit", None))
    rec.latenciesMs ++= lat
    checkFinalState(spark, rec)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def layerMetrics(spark: SparkSession, rec: Recorder, tracer: Tracer): Seq[(String, Double)] = {
    val agg = tracer.pass(1)
    val state = KvUpsert.readState(spark, stateDir).collect()
    val liveBytes = state.map(e => e.key.getBytes("UTF-8").length + e.value.getBytes("UTF-8").length).sum
    val stateBytes = Files.list(Paths.get(stateDir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("delta-")).map(dirBytes).sum
    val lookupMs = lookups.map(_.latencyMs).toSeq
    val committedBatches = rec.latenciesMs.size.max(1)
    Layers.report(Passes.layers(window, tracer) ++ Map(
      "trace.wall_gap" -> 0.0,
      "stream.trigger_ms" -> Stats.median(tracer.triggerMs.toSeq),
      "stream.add_batch_ms" -> Stats.median(tracer.addBatchMs.toSeq),
      "stream.backlog_max" -> backlogMax.toDouble,
      "stream.gen_late_ms" -> Stats.quantile(lateMs.toSeq, 0.9),
      "kv.lookup_p50_ms" -> Stats.quantile(lookupMs, 0.5),
      "kv.lookup_p90_ms" -> Stats.quantile(lookupMs, 0.9),
      "kv.files_written" -> agg.filesWritten.toDouble / committedBatches,
      "kv.state_bytes_per_live_byte" -> (if (liveBytes > 0) stateBytes.toDouble / liveBytes else 0.0)))
  }
}
