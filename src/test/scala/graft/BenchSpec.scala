package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The Bench catalog loop: a query that throws is reported as failed and is
  * not timed (so it is not counted in `total_query_sec` either).
  */
class BenchSpec extends SparkSpec {

  test("a throwing catalog query is reported as failed, not timed") {
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_bad" -> ((_, _) => throw new IllegalStateException("boom")),
      "q_good" -> ((s, _) => s.range(3).toDF()))
    val (times, failed) = Bench.timeQueries(spark, "unused", queries)
    assert(failed == Seq("q_bad"))
    assert(times.map(_._1) == Seq("q_good"))
  }
}
