package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `graft.Bench`'s timed pass must name a query that throws, not record
  * it as a (fast) timing only.
  */
class BenchSpec extends SparkSpec {

  test("timedPass names a throwing query as failed and times the others") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(10).toDF()
    val throwsAtBuild: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("construction failed")
    val throwsAtRun: (SparkSession, String) => DataFrame =
      (s, _) => s.range(1).toDF().where("assert_true(id < 0) IS NULL") // count() evaluates filters
    val (times, failed) = Bench.timedPass(spark, sf,
      Seq("q_ok" -> ok, "q_build" -> throwsAtBuild, "q_run" -> throwsAtRun))
    assert(failed == Set("q_build", "q_run"))
    assert(times.keySet == Set("q_ok", "q_build", "q_run"))
    assert(times.values.forall(_ >= 0.0))
  }
}
