package graft

import org.scalatest.funsuite.AnyFunSuite

class EnvNumSpec extends AnyFunSuite {

  test("an absent variable yields the default") {
    assert(EnvNum.int("SPARK_GRAFT_BENCH_REPS", 5, Map.empty) === 5)
    assert(EnvNum.double("SPARK_GRAFT_BENCH_IQR_BOUND", 0.25, Map.empty) === 0.25)
    assert(EnvNum.doubleOpt("SPARK_GRAFT_BENCH_MAX_LOAD", Map.empty) === None)
  }

  test("a set variable is parsed, surrounding blanks ignored") {
    assert(EnvNum.int("SPARK_GRAFT_BENCH_REPS", 5, Map("SPARK_GRAFT_BENCH_REPS" -> " 7")) === 7)
    assert(EnvNum.double("SPARK_GRAFT_BENCH_IQR_BOUND", 0.25,
      Map("SPARK_GRAFT_BENCH_IQR_BOUND" -> "0.5")) === 0.5)
    assert(EnvNum.doubleOpt("SPARK_GRAFT_BENCH_MAX_LOAD",
      Map("SPARK_GRAFT_BENCH_MAX_LOAD" -> "3")) === Some(3.0))
  }

  test("a bad value fails loudly, naming the variable and the value") {
    val bad = Seq(
      () => EnvNum.int("SPARK_GRAFT_BENCH_REPS", 5, Map("SPARK_GRAFT_BENCH_REPS" -> "five")),
      () => EnvNum.int("SPARK_GRAFT_BENCH_REPS", 5, Map("SPARK_GRAFT_BENCH_REPS" -> "2.5")),
      () => EnvNum.double("SPARK_GRAFT_BENCH_IQR_BOUND", 0.25,
        Map("SPARK_GRAFT_BENCH_IQR_BOUND" -> "")),
      () => EnvNum.doubleOpt("SPARK_GRAFT_BENCH_MAX_LOAD",
        Map("SPARK_GRAFT_BENCH_MAX_LOAD" -> "high")))
    val values = Seq("five", "2.5", "", "high")
    bad.zip(values).foreach { case (read, value) =>
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_"), e.getMessage)
      assert(e.getMessage.contains("\"" + value + "\""), e.getMessage)
      assert(!e.isInstanceOf[NumberFormatException],
        "the error must name the variable, not surface a bare parse failure")
    }
  }
}
