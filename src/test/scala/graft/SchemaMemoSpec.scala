package graft

import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** `Tables.parquet` remembers inferred parquet schemas: a repeat read runs
  * no inference job and sees the same schema as an uncached read, while a
  * rewritten path or a toggled inference conf infers again.
  */
class SchemaMemoSpec extends SparkSpec {

  private def scratch(tag: String): String = {
    val d = Tables.tmp(s"graft_schema_memo_spec/$tag")
    Tables.rmTree(new java.io.File(d))
    d
  }

  test("a repeat read of a fixture runs no Spark job and keeps the inferred schema") {
    val path = s"$sf/orders.parquet"
    Tables.parquet(spark, path)
    var schema: org.apache.spark.sql.types.StructType = null
    val jobs = jobsDuring { schema = Tables.parquet(spark, path).schema }
    assert(jobs == 0, s"the memoized read ran $jobs job(s)")
    assert(schema == spark.read.parquet(path).schema)
    assert(Tables.parquet(spark, path).count() == spark.read.parquet(path).count())
  }

  test("an uncached read does run the inference job the memo removes") {
    val jobs = jobsDuring(spark.read.parquet(s"$sf/orders.parquet"))
    assert(jobs >= 1, "spark.read.parquet ran no job: the zero-job check above proves nothing")
  }

  test("rewriting a parquet directory with an extra column infers again") {
    val dir = scratch("rewrite")
    spark.range(3).toDF("a").write.parquet(dir)
    assert(Tables.parquet(spark, dir).columns.toSeq == Seq("a"))
    assert(Tables.parquet(spark, dir).columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("id AS a", "id * 2 AS b").write.mode("overwrite").parquet(dir)
    val df = Tables.parquet(spark, dir)
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.orderBy("a").collect().map(_.getLong(1)).toSeq == Seq(0L, 2L, 4L))
  }

  test("toggling an inference conf reads the type that conf infers") {
    val events = s"$sf/events.parquet"
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    try for (v <- Seq("true", "false", "true")) {
      spark.conf.set(key, v)
      assert(Tables.parquet(spark, events).schema("ts").dataType ==
        spark.read.parquet(events).schema("ts").dataType, s"nanosAsLong=$v")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))

    // A conf whose two values infer different types: partition values
    // are ints only when partition column type inference is on.
    val dir = scratch("partitioned")
    spark.range(4).selectExpr("id", "CAST(id % 2 AS INT) AS p").write.partitionBy("p").parquet(dir)
    val infer = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val inferBefore = spark.conf.getOption(infer)
    try {
      val seen = for (v <- Seq("true", "false", "true")) yield {
        spark.conf.set(infer, v)
        val t = Tables.parquet(spark, dir).schema("p").dataType
        assert(t == spark.read.parquet(dir).schema("p").dataType, s"$infer=$v")
        t
      }
      assert(seen == Seq(IntegerType, StringType, IntegerType))
    } finally inferBefore.fold(spark.conf.unset(infer))(spark.conf.set(infer, _))
  }

  test("the memo stays bounded across many fresh paths") {
    val root = scratch("many")
    spark.range(1).toDF("x").write.parquet(s"$root/src")
    val src = new java.io.File(s"$root/src")
    for (i <- 0 until Tables.MemoEntries + 12) {
      val dir = new java.io.File(s"$root/p$i")
      org.apache.commons.io.FileUtils.copyDirectory(src, dir)
      assert(Tables.parquet(spark, dir.getPath).schema("x").dataType == LongType)
    }
    assert(Tables.schemaMemoSize <= Tables.MemoEntries, s"memo holds ${Tables.schemaMemoSize} schemas")
    Tables.rmTree(new java.io.File(root))
  }
}
