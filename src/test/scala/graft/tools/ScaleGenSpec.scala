package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class ScaleGenSpec extends AnyFunSuite {
  test("SPARK_GRAFT_SCALEGEN_FILES: a non-numeric value fails loudly") {
    assert(ScaleGen.filesOf(Map.empty) == 32)
    assert(ScaleGen.filesOf(Map("SPARK_GRAFT_SCALEGEN_FILES" -> "8")) == 8)
    val e = intercept[IllegalArgumentException](
      ScaleGen.filesOf(Map("SPARK_GRAFT_SCALEGEN_FILES" -> "eight")))
    assert(e.getMessage.contains("SPARK_GRAFT_SCALEGEN_FILES"))
    assert(e.getMessage.contains("'eight'"))
  }
}
