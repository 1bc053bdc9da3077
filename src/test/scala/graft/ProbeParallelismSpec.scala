package graft

/** `spark.graft.probe.parallelism` sizes the index-probe scope's
  * shuffles; a value that is not a positive integer must fail at the
  * scope with a message naming the conf, not deep inside planning.
  */
class ProbeParallelismSpec extends SparkSpec {

  test("a non-positive or non-numeric probe parallelism fails naming the conf") {
    val conf = "spark.graft.probe.parallelism"
    try {
      for (bad <- Seq("0", "x")) {
        spark.conf.set(conf, bad)
        val e = intercept[IllegalArgumentException] {
          Tables.scopedPin(spark, s"probe_parallelism_spec@$bad")(spark.range(3).toDF())
        }
        assert(e.getMessage.contains(conf) && e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
      spark.conf.set(conf, "2")
      assert(Tables.scopedPin(spark, "probe_parallelism_spec@2")(spark.range(3).toDF()).count() == 3)
    } finally {
      spark.conf.unset(conf)
      ResultPins.release("probe_parallelism_spec@2")
    }
  }
}
