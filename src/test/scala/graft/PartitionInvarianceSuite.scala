package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.HashPartitioner
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.apps.{MrRun, ReferenceApps}
import graft.core.MapReduceJob

/** SURVEY.md §5.2.2 — the reference's P1/P2 properties: the merged sorted
  * output is invariant under the reduce partition count (the exact invariant
  * `test-mr.sh:103` checks by sorting across mr-out*) and under input row
  * order. ScalaCheck generates mini-corpora with mixed case, punctuation,
  * digits and empty files; a fixed seed keeps runs reproducible. */
class PartitionInvarianceSuite extends SparkSpec {

  private val word = Gen.oneOf("the", "The", "spark", "MAP", "reduce", "Ärger", "naïve", "x1y")
  private val sep = Gen.oneOf(" ", "\n", ", ", "—", "42", "!?")
  private val fileText: Gen[String] = for {
    n <- Gen.choose(0, 80)
    ws <- Gen.listOfN(n, word)
    ss <- Gen.listOfN(n, sep)
  } yield ws.zip(ss).map { case (w, s) => w + s }.mkString

  private val corpusGen: Gen[List[String]] = Gen.choose(1, 8).flatMap(Gen.listOfN(_, fileText))

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private def writeCorpus(texts: List[String]): String = {
    val dir = Files.createTempDirectory("graft-prop")
    texts.zipWithIndex.foreach { case (t, i) =>
      Files.write(dir.resolve(f"f$i%02d.txt"), t.getBytes("UTF-8"))
    }
    s"$dir/*.txt"
  }

  test("wc merged output is invariant under nReduce ∈ {1..32} (P1)") {
    for (seed <- 1L to 6L) {
      val texts = sample(corpusGen, seed)
      val n = sample(Gen.oneOf(2, 3, 7, 32), seed * 31)
      val glob = writeCorpus(texts)
      val base = MapReduceJob.mergedLines(
        new MapReduceJob(ReferenceApps.wcMap, ReferenceApps.wcReduce, 1).run(spark, glob))
      val multi = MapReduceJob.mergedLines(
        new MapReduceJob(ReferenceApps.wcMap, ReferenceApps.wcReduce, n).run(spark, glob))
      assert(base == multi, s"seed=$seed nReduce=$n")
    }
  }

  test("indexer merged output is invariant under nReduce (P1, deterministic sort in reduce)") {
    val m = (f: String, c: String) => ReferenceApps.tokenize(c).distinct.map(w => (w, f))
    val r = (_: String, docs: Seq[String]) => s"${docs.length} ${docs.sorted.mkString(",")}"
    for (seed <- 10L to 13L) {
      val texts = sample(corpusGen, seed)
      val n = sample(Gen.oneOf(2, 5, 16), seed * 7)
      val glob = writeCorpus(texts)
      val base = MapReduceJob.mergedLines(new MapReduceJob(m, r, 1).run(spark, glob))
      val multi = MapReduceJob.mergedLines(new MapReduceJob(m, r, n).run(spark, glob))
      assert(base == multi, s"seed=$seed nReduce=$n")
    }
  }

  test("part file i holds exactly the keys HashPartitioner(nReduce) assigns to partition i") {
    val glob = s"${Paths.get(getClass.getResource("/parity-corpus").toURI)}/*.txt"
    val jobs = Seq(
      "wc" -> ReferenceApps.wcJob,
      "indexer" -> ReferenceApps.indexerJob,
      "fileStats" -> ReferenceApps.fileStatsJob)
    for ((name, job) <- jobs; n <- Seq(1, 3, 10)) {
      val out = Files.createTempDirectory("graft-parts")
      job.withNReduce(n).runToText(spark, glob, out.toString)
      val partitioner = new HashPartitioner(n)
      val parts = Files.list(out).iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("part-")).toSeq
      assert(parts.nonEmpty, s"$name nReduce=$n")
      val keys = parts.flatMap { f =>
        val i = f.stripPrefix("part-").take(5).toInt
        val fileKeys = Files.readAllLines(out.resolve(f)).asScala.toSeq.map(_.takeWhile(_ != ' '))
        fileKeys.foreach(k =>
          assert(partitioner.getPartition(k) == i, s"$name nReduce=$n: key '$k' in $f"))
        fileKeys
      }
      assert(keys.distinct.length == keys.length, s"$name nReduce=$n: a key appears in two lines")
    }
  }

  test("nReduce must be a positive integer: 0, -1 and 'abc' fail naming nReduce") {
    for (bad <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](ReferenceApps.wcJob.withNReduce(bad))
      assert(e.getMessage.contains(s"nReduce must be a positive integer, got $bad"), e.getMessage)
    }
    // MrRun rejects its argument before any Spark session starts
    for (bad <- Seq("0", "-1", "abc")) {
      val e = intercept[IllegalArgumentException](
        MrRun.main(Array("wc", "no-input/*.txt", "no-output", bad)))
      assert(e.getMessage.contains(s"nReduce must be a positive integer, got '$bad'"), e.getMessage)
    }
  }
}
