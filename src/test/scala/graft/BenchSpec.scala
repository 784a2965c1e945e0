package graft

/** The bench's timing loop: a query that throws is reported failed and
  * never contributes a time. */
class BenchSpec extends SparkTestBase {

  private val metrics = new Bench.TaskMetricsListener

  test("timeQuery: a throwing run fails the query instead of timing it, " +
      "and failed queries stay out of the totals") {
    val failed = Bench.timeQuery(spark, metrics, runs = 3) {
      throw new IllegalStateException("boom")
    }
    assert(failed == Bench.Timing(Seq.empty, (0L, 0L, 0L),
      Some("java.lang.IllegalStateException")))
    // a throw in a LATER timed run fails the query too: the runs that
    // did complete are not reported as its time
    var calls = 0
    val late = Bench.timeQuery(spark, metrics, runs = 3) {
      calls += 1
      if (calls == 3) throw new ArithmeticException("late")
    }
    assert(calls == 3 && late.times.isEmpty &&
      late.error.contains("java.lang.ArithmeticException"))
    val ok = Bench.timeQuery(spark, metrics, runs = 3)(spark.range(10).count())
    assert(ok.error.isEmpty && ok.times.size == 3)
    // both tiers total through the same function (`total` and `sf1_total`)
    val ts = Seq("bad" -> failed, "good" -> ok, "late" -> late)
    assert(Bench.total(ts) == ok.times.min)
    assert(Bench.errorsJson(ts) ==
      """{"bad":"java.lang.IllegalStateException",""" +
        """"late":"java.lang.ArithmeticException"}""")
  }
}
