package graft

/** The per-call job floor under GraftExtensions: a warm call of a small
  * key whose whole result is consumed runs exactly one Spark job. Its
  * gathered plan has no exchange, so no shuffle stage, broadcast or
  * range-sampling job runs before the result stage.
  */
class JobFloorSpec extends SparkSpec {
  test("a warm small key runs exactly one job when its whole result is consumed") {
    withGraftSession { ext =>
      for (key <- Seq("sql_tpch_q6", "math_try_safe", "join_skew_salted", "stats_theilsen_slope")) {
        val fn = SparkEntry.queries(key)
        Bench.consume(fn(ext, sf))
        val jobs = jobsDuring(Bench.consume(fn(ext, sf)))
        assert(jobs == 1, s"a warm $key ran $jobs jobs")
      }
    }
  }
}
