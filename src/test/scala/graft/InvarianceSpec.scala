package graft

import org.apache.spark.sql.SparkSession

/** A key's result does not depend on how its plan is partitioned: the same
  * multiset of rows with `GatherSmallPlan` on (a GraftExtensions session)
  * and off (the plain session), each at 1 and at 4 shuffle partitions.
  * Besides the interactive panel, the keys cover a global aggregate with
  * distinct counts, a window with no partition key, an outer join, and
  * two keys that plan over result pins, whose exact statistics let the
  * gather reach them (a graph kernel and a connected-components delete),
  * and the PQ codes, whose training and encode rerun under each setting.
  */
class InvarianceSpec extends SparkSpec {
  private val keys = PlanShapeSpec.panel ++
    Seq("agg_group_summary", "agg_count_distinct", "win_cumulative_distinct", "join_full_outer_recon",
      "graph_2hop_reach", "dedup_cluster_cc_delete", "vec_pq_codes")

  private def rows(s: SparkSession, key: String, partitions: Int): Seq[String] = {
    val conf = "spark.sql.shuffle.partitions"
    val before = s.conf.get(conf)
    s.conf.set(conf, partitions.toString)
    // The trained PQ model is memoized per session: forget it so each
    // setting trains and encodes under its own partitioning.
    ResultPins.forget("pq")
    try SparkEntry.queries(key)(s, sf).collect().map(_.toString).toSeq.sorted
    finally s.conf.set(conf, before)
  }

  test("each key gives one result multiset with the gather on or off, at 1 or 4 shuffle partitions") {
    withGraftSession { ext =>
      for (key <- keys) {
        val runs = for ((rule, s) <- Seq("on" -> ext, "off" -> spark); n <- Seq(1, 4))
          yield s"rule $rule, $n partitions" -> rows(s, key, n)
        val (first, expected) = runs.head
        assert(expected.nonEmpty, s"$key returned no rows: the comparison proves nothing")
        for ((run, got) <- runs.tail)
          assert(got == expected, s"$key: $run differs from $first:\n${got.diff(expected)}\nvs\n${expected.diff(got)}")
      }
    }
  }
}
