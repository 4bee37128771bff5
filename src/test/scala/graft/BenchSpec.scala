package graft

/** The headline bench never turns a failure into a number. */
class BenchSpec extends SparkSuite {
  test("Bench.time: a query that throws is a failure, not a time; " +
      "timeReps stops at the first failure") {
    val boom = new RuntimeException("boom")
    var calls = 0
    val throwing: QH.QFn = (_, _) => { calls += 1; throw boom }
    assert(Bench.time(spark, TestSpark.sfDir, throwing) == Left(boom))
    calls = 0
    assert(Bench.timeReps(spark, TestSpark.sfDir, throwing, 3) ==
      Left(boom))
    assert(calls == 1)
    // fails on the third run (the second timed rep)
    calls = 0
    val flaky: QH.QFn = (s, _) => {
      calls += 1
      if (calls == 3) throw boom
      s.range(10).toDF()
    }
    assert(Bench.timeReps(spark, TestSpark.sfDir, flaky, 3) == Left(boom))
    assert(calls == 3)
    val ok: QH.QFn = (s, _) => s.range(10).toDF()
    val reps = Bench.timeReps(spark, TestSpark.sfDir, ok, 3)
    assert(reps.exists(ts => ts.length == 3 && ts.forall(_ >= 0.0)),
      s"got $reps")
  }
}
