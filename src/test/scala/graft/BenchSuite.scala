package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSuite extends AnyFunSuite {
  test("sfNum reads the scale factor with or without trailing slashes") {
    assert(Bench.sfNum("/data/tpch/sf0.1") == "0.1")
    assert(Bench.sfNum("/data/tpch/sf0.1/") == "0.1")
    assert(Bench.sfNum("/data/tpch/sf0.1//") == "0.1")
    assert(Bench.sfNum("/data/custom_tables") == "-1")
  }
}
