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

  test("run-condition warnings and failed names come out of the JSON " +
      "escaper as strings a JSON parser reads back unchanged") {
    val warning = "heap \"16g\" at C:\\tmp\tload 4.0"
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(mapper.readValue(QH.jsonString(warning), classOf[String]) ==
      warning)
    val arr = mapper.readTree(Bench.jsonArray(Seq(warning, "q1_x")))
    assert(arr.size == 2 && arr.get(0).asText == warning &&
      arr.get(1).asText == "q1_x")
  }
}
