package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.apps.ReferenceApps
import graft.core.MapReduceJob

/** SURVEY.md §5.2.1 — differential testing against the sequential oracle,
  * the reference's own methodology (its `src/main/test-mr.sh`): the
  * distributed engine's merged sorted output must equal a single-threaded
  * reimplementation of mrsequential semantics over the same bytes, and the
  * facade and DataFrame formulations must agree with each other. Runs on
  * the corpus [[GoldenParitySuite.Corpus]] selects (FIXTURES.md A1). */
class GoldenParitySuite extends SparkSpec {
  import GoldenParitySuite._

  private lazy val inputFiles: Seq[Path] =
    Using.resource(Files.newDirectoryStream(Corpus.dir, Corpus.pattern))(_.asScala.toSeq.sortBy(_.toString))

  private lazy val corpus: Seq[(String, String)] =
    inputFiles.map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))

  /** mrsequential semantics in plain Scala (the oracle). */
  private def sequentialRun(
      mapf: (String, String) => IterableOnce[(String, String)],
      reducef: (String, Seq[String]) => String): Seq[String] =
    corpus.flatMap { case (f, c) => mapf(f, c) }
      .groupBy(_._1).toSeq
      .map { case (k, kvs) => s"$k ${reducef(k, kvs.map(_._2))}" }
      .sorted

  test("corpus is the reference's: 8 files, 3,301,104 bytes") {
    assume(Files.isDirectory(ReferenceDir), s"$ReferenceDir not present")
    assert(inputFiles.size == 8)
    assert(corpus.map(_._2.getBytes(StandardCharsets.UTF_8).length).sum == 3301104)
  }

  test("wc: facade output equals the sequential oracle (golden parity)") {
    val got = MapReduceJob.mergedLines(ReferenceApps.wcJob.run(spark, Corpus.glob))
    val want = sequentialRun(
      (_, c) => ReferenceApps.tokenize(c).map(w => (w, "1")),
      (_, vs) => vs.length.toString)
    assert(got.size == want.size)
    assert(got == want)
    val tokens = got.map(_.split(" ")(1).toLong).sum
    if (Corpus.isReference) {
      // the measured corpus stats from SURVEY.md §5.2.1
      assert(got.size == 22107)
      assert(tokens == 623948L)
    } else {
      // counted outside the JVM: maximal runs of Python's str.isalpha()
      // (Unicode category L*) over the committed files (FIXTURES.md A1)
      assert(got.size == 1088)
      assert(tokens == 3696L)
    }
  }

  test("wc: DataFrame-native formulation is line-identical to the facade") {
    import spark.implicits._
    val df = ReferenceApps.wcDataFrame(spark, Corpus.glob)
      .select($"word", $"value").as[(String, String)]
    assert(MapReduceJob.mergedLines(df) == MapReduceJob.mergedLines(ReferenceApps.wcJob.run(spark, Corpus.glob)))
  }

  test("wc: commutative lowering (runAggregated) matches the holistic facade") {
    import org.apache.spark.sql.functions.{count, lit}
    import spark.implicits._
    val lowered = MapReduceJob.runAggregated(
        spark, Corpus.glob, (_, c) => ReferenceApps.tokenize(c).map(w => (w, "1")), count(lit(1)))
      .as[(String, String)]
    assert(MapReduceJob.mergedLines(lowered) ==
      MapReduceJob.mergedLines(ReferenceApps.wcJob.run(spark, Corpus.glob)))
  }

  test("indexer: facade output equals the sequential oracle") {
    val got = MapReduceJob.mergedLines(ReferenceApps.indexerJob.run(spark, Corpus.glob))
    val want = sequentialRun(
      (f, c) => ReferenceApps.tokenize(c).distinct.map(w => (w, f)),
      (_, docs) => s"${docs.length} ${docs.sorted.mkString(",")}")
    assert(got == want)
  }

  test("indexer: DataFrame-native formulation is line-identical to the facade") {
    import spark.implicits._
    val df = ReferenceApps.indexerDataFrame(spark, Corpus.glob)
      .select($"word", $"value").as[(String, String)]
    assert(MapReduceJob.mergedLines(df) == MapReduceJob.mergedLines(ReferenceApps.indexerJob.run(spark, Corpus.glob)))
  }

  test("file_stats (A3/A4 shape): facade equals the sequential oracle") {
    val got = MapReduceJob.mergedLines(ReferenceApps.fileStatsJob.run(spark, Corpus.glob))
    val want = sequentialRun(
      (f, c) => Seq(("a", f), ("b", f.length.toString), ("c", c.length.toString), ("d", "xyzzy")),
      (_, vs) => vs.sorted.mkString(" "))
    assert(got == want)
  }

  test("per-file count (A8 shape): one '<file> 1' line per input file") {
    val got = MapReduceJob.mergedLines(ReferenceApps.perFileCountJob.run(spark, Corpus.glob))
    assert(got == inputFiles.map(p => s"${p.getFileName} 1").sorted)
  }

  test("text sink writes the reference's 'key value' line format (F8)") {
    val out = Files.createTempDirectory("graft-sink").toString
    ReferenceApps.perFileCountJob.runToText(spark, Corpus.glob, out)
    val lines = spark.read.text(out).collect().map(_.getString(0)).sorted.toSeq
    assert(lines == inputFiles.map(p => s"${p.getFileName} 1").sorted)
  }
}

object GoldenParitySuite {
  /** Where the reference's 8 Project Gutenberg texts live, when present. */
  val ReferenceDir: Path = Paths.get("/root/reference/src/main")

  /** The one corpus choice: the reference texts if their directory exists,
    * else the small committed corpus on the test classpath. The Spark glob
    * and the oracle's file list both derive from `dir` and `pattern`. */
  object Corpus {
    val isReference: Boolean = Files.isDirectory(ReferenceDir)
    val (dir, pattern): (Path, String) =
      if (isReference) (ReferenceDir, "pg-*.txt")
      else (Paths.get(getClass.getResource("/parity-corpus").toURI), "*.txt")
    val glob: String = s"$dir/$pattern"
  }
}
