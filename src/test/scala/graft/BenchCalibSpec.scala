package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SPARK_GRAFT_CALIB_REF override parse of `graft.Bench`. */
class BenchCalibSpec extends AnyFunSuite {
  test("calib ref override: positive finite seconds parse, surrounding blanks allowed") {
    assert(Bench.parseCalibRef("0.75") == 0.75)
    assert(Bench.parseCalibRef(" 1.5 ") == 1.5)
    assert(Bench.parseCalibRef("2") == 2.0)
  }

  test("calib ref override: anything else fails naming the variable and the value") {
    for (raw <- Seq("", "abc", "0.7s", "NaN", "Infinity", "-Infinity", "0", "-0.5")) {
      val e = intercept[IllegalArgumentException](Bench.parseCalibRef(raw))
      assert(e.getMessage.contains("SPARK_GRAFT_CALIB_REF"), e.getMessage)
      assert(e.getMessage.contains(s"'$raw'"), e.getMessage)
    }
  }
}
