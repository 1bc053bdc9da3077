package graft

import org.apache.spark.sql.functions.col

/** The multi-file / partitioned-source witness (r3 verdict "what's
  * missing" #3): proves the engine's scans parallelize NATIVELY and
  * partition-prune on the production layout, with no
  * [[Tables.spread]] workaround anywhere on the path.
  */
class PartitionedScanSpec extends SparkSpec {

  test("date-partitioned events prune to the filtered directories only") {
    val dir = ops.Scans.partitionedEventsDir(spark, sf)
    val week = spark.read.parquet(dir)
      .filter(col("event_date").between("2024-01-08", "2024-01-14"))
    week.collect() // materialize so the scan's metrics are populated
    val executed = week.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = executed.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PartitionFilters").contains("event_date"),
      s"date predicate not in PartitionFilters: ${scan.metadata}")
    // numFiles is a POST-pruning metric (inputFiles is not — it lists
    // the whole unpruned index): exactly the 7 in-range day directories'
    // files were opened, out of 30 days on disk.
    assert(scan.metrics("numFiles").value == 7,
      s"expected 7 pruned files (one per in-range day), " +
        s"got ${scan.metrics("numFiles").value}")
  }

  test("multi-file scan parallelizes natively — no spread on this path") {
    val dir = ops.Scans.partitionedEventsDir(spark, sf)
    val full = spark.read.parquet(dir)
    assert(full.rdd.getNumPartitions > 1,
      s"30 per-day files should yield >1 native scan partitions, " +
        s"got ${full.rdd.getNumPartitions}")
  }

  test("compaction rewrites the 30-file layout into the size-targeted file count") {
    SparkEntry.queries("etl_compact_small_files")(spark, sf).collect(): Unit
    val dir = Tables.artifactDir("graft_compact", sf, "events") + "/events"
    val srcBytes = Tables.dirBytes(new java.io.File(ops.Scans.partitionedEventsDir(spark, sf)))
    val expected = math.max(1L, (srcBytes + (64L << 20) - 1) / (64L << 20)).toInt
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet"))
    assert(files == expected,
      s"expected $expected compacted files for $srcBytes bytes, got $files")
  }

  test("dynamic partition pruning fires on the fact side of the dim join") {
    val df = ops.Scans.dppJoinPlan(spark, sf)
    df.collect(): Unit
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
      s"expected a DynamicPruningExpression on the partitioned scan:\n${plan.take(4000)}")
  }

  test("dynamic backfill rewrites only the target partition") {
    val dir = ops.Scans.backfillDir(spark, sf)
    // Materialize the layout + run one backfill via the op.
    SparkEntry.queries("etl_backfill_partition")(spark, sf).collect(): Unit
    // Rewrite detection by FILE NAME set: every Spark write job stamps a
    // fresh job UUID into its part-file names, so a rewritten partition
    // always changes names while an untouched one keeps them — no
    // mtime-granularity sleep, immune to filesystem timestamp coarseness
    // (ADVICE r5).
    def files(day: String) =
      Option(new java.io.File(s"$dir/event_date=$day").listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
        .map(_.getName).toSeq.sorted
    val otherBefore = files("2024-01-14")
    val targetBefore = files("2024-01-15")
    SparkEntry.queries("etl_backfill_partition")(spark, sf).collect(): Unit
    assert(files("2024-01-14") == otherBefore,
      "untouched partition was rewritten by the dynamic backfill")
    assert(files("2024-01-15") != targetBefore,
      "target partition was not rewritten")
  }

  test("src_partitioned_multifile matches the single-file source aggregate") {
    val viaPartitioned = SparkEntry.queries("src_partitioned_multifile")(spark, sf)
    val viaSource = Tables.events(spark, sf)
      .withColumn("event_date", org.apache.spark.sql.functions.to_date(col("ts")))
      .filter(col("event_date").between("2024-01-08", "2024-01-14"))
      .groupBy(col("event_date"), col("event_type"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .orderBy("event_date", "event_type")
    val got = viaPartitioned.select("event_date", "event_type", "n").collect()
    assert(got.sameElements(viaSource.collect()),
      "partitioned round-trip changed the aggregate")
  }

  test("z-order layout bounds BOTH dimensions per file (multi-dim locality)") {
    import org.apache.spark.sql.functions._
    // Materialize the layout (op is idempotent via its fingerprint cache).
    SparkEntry.queries("etl_zorder_layout")(spark, sf).collect()
    val dir = Tables.artifactDir("graft_zorder", sf, "events") + "/events"
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getPath)
    assert(files.length > 1, s"expected multiple z-range files, got ${files.length}")
    val global = spark.read.parquet(dir)
      .agg(min("user_id"), max("user_id"),
        min(to_date(col("ts"))), max(to_date(col("ts")))).head()
    val uSpan = (global.getLong(1) - global.getLong(0)).toDouble
    val dSpan = java.time.temporal.ChronoUnit.DAYS
      .between(global.getDate(2).toLocalDate, global.getDate(3).toLocalDate).toDouble
    val fracs = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("user_id"), max("user_id"),
          min(to_date(col("ts"))), max(to_date(col("ts")))).head()
      val uf = (r.getLong(1) - r.getLong(0)) / uSpan
      val df = java.time.temporal.ChronoUnit.DAYS
        .between(r.getDate(2).toLocalDate, r.getDate(3).toLocalDate) / dSpan
      (uf, df)
    }
    val avgU = fracs.map(_._1).sum / fracs.length
    val avgD = fracs.map(_._2).sum / fracs.length
    // A single-column sort pins one dim near 0 and leaves the other at
    // ~1.0 in EVERY file; z-interleaving must constrain both on average.
    assert(avgU < 0.9, s"avg per-file user-span fraction $avgU not < 0.9")
    assert(avgD < 0.9, s"avg per-file day-span fraction $avgD not < 0.9")
  }
}
