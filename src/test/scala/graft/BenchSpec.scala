package graft

/** `Bench.measure` reports a query that throws as failed and keeps it
  * out of the timings, whether it throws while planning or in a task.
  */
class BenchSpec extends SparkTestBase {

  test("a throwing query is listed as failed, never timed") {
    val queries: Map[String, Bench.Query] = Map(
      "ok" -> ((s, _) => s.range(3).toDF()),
      "boom" -> ((_, _) => throw new IllegalStateException("planted")),
      "late_boom" -> ((s, _) => s.range(3).filter("raise_error('planted') IS NULL").toDF()))
    val (timed, failed) = Bench.measure(spark, "", queries)
    assert(timed.map(_._1) == Seq("ok"))
    assert(timed.forall(_._2 >= 0.0))
    assert(failed.map(_._1) == Seq("boom", "late_boom"))
    assert(failed.head._2.getMessage == "planted")
  }
}
