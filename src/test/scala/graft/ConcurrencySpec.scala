package graft

import java.io.File
import java.util.concurrent.{Callable, Executors, TimeUnit}

/** Keys run concurrently against one shared session. First writes: keys
  * that build a write-once artifact on first call run twice each, on 4
  * threads, from empty cache roots, so both calls of a key race its
  * commit. Every result must equal a serial run's, every artifact must
  * be committed exactly once, and no staging dir may survive. Keys that
  * scope session confs (`Tables.withConfs`, `Tables.scopedPin`) are not
  * in the sample: concurrent calls interleave their save and restore of
  * the session-wide confs.
  */
class ConcurrencySpec extends SparkSpec {

  /** key -> (cache root kind, artifact name in its fingerprinted home;
    * None when the home itself is the artifact).
    */
  private val firstWrites = Seq(
    "src_csv_scan"             -> ("graft_csv", Some("region")),
    "src_text_lines"           -> ("graft_text", Some("documents")),
    "sink_partitioned_parquet" -> ("graft_part_sink", Some("orders")),
    "src_schema_evolution"     -> ("graft_evolve", Some("orders")),
    "etl_zorder_layout"        -> ("graft_zorder", Some("events")),
    "json_variant_roundtrip"   -> ("graft_variant_rt", None))

  private def clearRoots(): Unit =
    firstWrites.foreach { case (_, (kind, _)) => Tables.rmTree(new File(Tables.tmp(kind))) }

  private def rows(key: String): Seq[String] =
    SparkEntry.queries(key)(spark, sf).collect().map(_.toString).toSeq

  private def tree(f: File): Seq[File] =
    f +: Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(tree)

  test("racing first writes commit each artifact once and answer as a serial run does") {
    clearRoots()
    val serial = firstWrites.map { case (k, _) => k -> rows(k) }.toMap
    clearRoots()

    val pool = Executors.newFixedThreadPool(4)
    try {
      // Both calls of a key are queued next to each other, so they start together.
      val runs = firstWrites.flatMap { case (k, _) => Seq(k, k) }.map { k =>
        k -> pool.submit(new Callable[Seq[String]] { def call(): Seq[String] = rows(k) })
      }
      runs.foreach { case (k, run) =>
        assert(run.get(10, TimeUnit.MINUTES) == serial(k), s"$k under concurrency diverged from its serial run")
      }
    } finally pool.shutdownNow(): Unit

    firstWrites.foreach { case (k, (kind, name)) =>
      val root = new File(Tables.tmp(kind))
      val homes = Option(root.list()).getOrElse(Array.empty[String]).toSeq
      assert(homes.size == 1, s"$k: $root holds ${homes.mkString(", ")}, want one fingerprinted home")
      name.foreach { n =>
        val entries = Option(new File(root, homes.head).list()).getOrElse(Array.empty[String]).toSeq
        assert(entries == Seq(n), s"$k: ${homes.head} holds ${entries.mkString(", ")}, want only $n")
      }
      val left = tree(root).filter(_.getName.contains(".staging"))
      assert(left.isEmpty, s"$k: staging dirs left behind: ${left.mkString(", ")}")
    }
  }
}
