package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftSession

/** Shared local SparkSession for all suites (one JVM, sbt forks once). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Smallest driver-testdata scale: t1-smoke sized. */
  val Sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    // local[4,2]: 4 threads, 2 task-failure retries (the crash-recovery
    // suite injects a first-attempt failure; plain local[N] would abort).
    val s = GraftSession.builder("4").master("local[4,2]").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
