package graft

/** The MemCatalog v2 row-level-operation contract (r12, the r11
  * verdict's item 8): MERGE INTO is oracled end-to-end by
  * `sql_merge_into`; this spec pins the catalog surfaces the oracle
  * can't see — append/overwrite writes, the UPDATE and DELETE SQL
  * doors (the other two RewriteRowLevelCommand paths through the same
  * ReplaceData machinery), and that the merge's DELETE branch really
  * fired on the fixture (a merge whose delete clause never matches
  * would pass the hash gate vacuously).
  */
class MergeIntoSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(q)

  test("MemCatalog: create, append, overwrite, drop") {
    spark.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    val t = "graft_mem.staging.spec_t"
    sql(s"DROP TABLE IF EXISTS $t")
    sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    sql(s"INSERT INTO $t VALUES (3, 'c')") // append, not replace
    assert(sql(s"SELECT * FROM $t ORDER BY k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    sql(s"INSERT OVERWRITE $t VALUES (9, 'z')") // TRUNCATE capability
    assert(sql(s"SELECT * FROM $t").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((9L, "z")))
    sql(s"DROP TABLE $t")
    assert(!spark.catalog.tableExists(t))
  }

  test("UPDATE and DELETE route through the same row-level rewrite") {
    spark.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    val t = "graft_mem.staging.spec_u"
    sql(s"DROP TABLE IF EXISTS $t")
    sql(s"CREATE TABLE $t (k BIGINT, n BIGINT)")
    sql(s"INSERT INTO $t VALUES (1, 10), (2, 20), (3, 30)")
    sql(s"UPDATE $t SET n = n + 5 WHERE k >= 2")
    assert(sql(s"SELECT * FROM $t ORDER BY k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 10L), (2L, 25L), (3L, 35L)))
    sql(s"DELETE FROM $t WHERE n > 30")
    assert(sql(s"SELECT * FROM $t ORDER BY k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 10L), (2L, 25L)))
    sql(s"DROP TABLE $t")
  }

  test("stream_merge_upsert really composes over 2 micro-batches (checkpoint commit log)") {
    SparkEntry.queries("stream_merge_upsert")(spark, sf).count(): Unit
    // The op rmTree's its sf-level base before staging, so the only run
    // on disk is the one just executed; maxFilesPerTrigger=1 over the 2
    // staged files must have committed exactly 2 micro-batches — if the
    // option were silently ignored, the MERGE's cross-batch += path
    // would be untested (one batch would equal the plain full-outer).
    val base = new java.io.File(
      Tables.tmp("graft_stream_merge/") +
        sf.replaceAll("[^a-zA-Z0-9.]", "_"))
    val commits = Option(base.listFiles()).getOrElse(Array.empty)
      .flatMap(run => Option(new java.io.File(run, "ckpt/commits").listFiles()).getOrElse(Array.empty))
      .filter(_.getName.forall(_.isDigit))
    assert(commits.length == 2,
      s"expected 2 committed micro-batches, found ${commits.map(_.getName).sorted.mkString(",")}")
  }

  test("partitioned merge rewrites ONLY the affected month partitions (runtime group filter)") {
    import org.apache.spark.sql.functions._
    SparkEntry.queries("sql_merge_into_partitioned")(spark, sf).count(): Unit
    val storeKey = "graft_mem staging merge_part"
    val replaced = graft.sources.MemCatalog.lastReplacedGroups.get(storeKey)
    // The incremental batch touches only 1998 months; the seed spans the
    // whole ~7-year order range. A whole-table COW would report the full
    // month-partition count — the runtime group filter must cap the
    // rewrite at the matched 1998 partitions.
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey").as("k"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("int").as("mo"))
    val totalMonths = orders.filter(pmod(col("k"), lit(3)) =!= 0)
      .select("mo").distinct().count()
    val matchedMonths = orders.filter(pmod(col("k"), lit(3)) =!= 0)
      .join(orders.filter(pmod(col("k"), lit(2)) === 0 && (col("mo") / 100).cast("int") === 1998),
        Seq("k", "mo"), "left_semi")
      .select("mo").distinct().count()
    assert(matchedMonths > 0 && matchedMonths < totalMonths,
      s"fixture degenerate: matched $matchedMonths of $totalMonths months")
    assert(replaced != null && replaced.toLong == matchedMonths,
      s"COW replaced $replaced groups; expected exactly the $matchedMonths matched months " +
        s"(whole-table would be $totalMonths) — runtime group filtering did not engage")
  }

  test("a failed write job never mutates the table (commit atomicity)") {
    spark.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    val t = "graft_mem.staging.spec_abort"
    sql(s"DROP TABLE IF EXISTS $t")
    sql(s"CREATE TABLE $t (k BIGINT, n BIGINT)")
    sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    // A mid-write task failure: raise_error fires on the second row, so
    // some writers may have buffered rows — but content only swaps in
    // BatchWrite.commit, which a failed job never reaches.
    intercept[Exception] {
      sql(s"""INSERT INTO $t
        SELECT id, CASE WHEN id = 99 THEN raise_error('boom') ELSE id END
        FROM range(97, 100)""").collect()
    }
    assert(sql(s"SELECT * FROM $t ORDER BY k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 10L), (2L, 20L)),
      "a failed INSERT leaked rows into the table — the commit path is not atomic")
    // Same for a failed row-level rewrite: the UPDATE's rewrite job dies
    // mid-query, the pre-image must survive untouched.
    intercept[Exception] {
      sql(s"UPDATE $t SET n = CASE WHEN k = 2 THEN raise_error('boom') ELSE n END").collect()
    }
    assert(sql(s"SELECT * FROM $t ORDER BY k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 10L), (2L, 20L)),
      "a failed UPDATE rewrite mutated the table — COW replace ran without a commit")
    sql(s"DROP TABLE $t")
  }

  test("driver-residency cap: an over-cap commit fails loudly and atomically (r13)") {
    spark.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    val t = "graft_mem.staging.spec_cap"
    sql(s"DROP TABLE IF EXISTS $t")
    sql(s"CREATE TABLE $t (k BIGINT)")
    sql(s"INSERT INTO $t VALUES (1), (2)")
    spark.conf.set("spark.graft.memcatalog.maxRows", "10")
    try {
      // 2 existing + 20 incoming > 10: the commit must refuse — with
      // the boundary named in the error — and leave the pre-image.
      val e = intercept[Exception] {
        sql(s"INSERT INTO $t SELECT id FROM range(0, 20)").collect()
      }
      def causes(x: Throwable): Seq[Throwable] =
        if (x == null) Nil else x +: causes(x.getCause)
      assert(causes(e).exists(c =>
        c.getMessage != null && c.getMessage.contains("driver-residency cap")),
        s"over-cap commit failed for the wrong reason: $e")
      assert(sql(s"SELECT k FROM $t ORDER BY k").collect().map(_.getLong(0)).toSeq
        == Seq(1L, 2L),
        "an over-cap commit mutated the table — the guard is not atomic")
      // Raising the cap back lets the same insert through (the guard is
      // the session conf, not a hardcoded refusal).
      spark.conf.set("spark.graft.memcatalog.maxRows", "1000")
      sql(s"INSERT INTO $t SELECT id FROM range(0, 20)")
      assert(sql(s"SELECT COUNT(*) FROM $t").collect()(0).getLong(0) == 22L)
    } finally {
      spark.conf.unset("spark.graft.memcatalog.maxRows")
      sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("sql_merge_into's DELETE branch fires on the fixture (not vacuous)") {
    import org.apache.spark.sql.functions._
    val merged = SparkEntry.queries("sql_merge_into")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    // Keys present in BOTH the staged target and the incremental batch
    // whose combined count exceeds the delete threshold must be ABSENT
    // from the post-merge state — and there must be at least one.
    val orders = Tables.orders(spark, sf)
    val tgt = orders.filter(to_date(col("o_orderdate")) < lit("1998-01-01")
        && pmod(col("o_custkey"), lit(3)) =!= 0)
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
    val src = orders.filter(to_date(col("o_orderdate")) >= lit("1998-01-01"))
      .groupBy("o_custkey").agg(count(lit(1)).as("n_new"))
    val deleted = tgt.join(src, "o_custkey")
      .filter(col("n") + col("n_new") > 14)
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    assert(deleted.nonEmpty, "fixture never exercises the WHEN MATCHED ... DELETE branch")
    assert(deleted.intersect(merged).isEmpty,
      s"${deleted.intersect(merged).size} rows survived the merge's delete clause")
  }
}
