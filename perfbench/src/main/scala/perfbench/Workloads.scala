package perfbench

import graft.{Op, OpGroup}

/** The three workloads: fixed key sets by operator family and key name,
  * together covering every registered key exactly once. Only the order
  * within a set comes from the seed.
  */
object Workloads {
  /** Operator families, in the engine registry's order. */
  val groups: Seq[(String, OpGroup)] = {
    import graft.ops._
    Seq(
      "Scans" -> Scans, "Filters" -> Filters, "Aggs" -> Aggs, "Joins" -> Joins,
      "SetOps" -> SetOps, "Windows" -> Windows, "Sorts" -> Sorts,
      "Scalars" -> Scalars, "Dedup" -> Dedup, "Clusters" -> Clusters,
      "Vectors" -> Vectors, "TextOps" -> TextOps, "Multimodal" -> Multimodal,
      "Streaming" -> Streaming, "UdfOps" -> UdfOps, "SqlFrontend" -> SqlFrontend,
      "EtlLoad" -> EtlLoad, "Rules" -> Rules, "Polymorphic" -> Polymorphic,
      "Sampling" -> Sampling, "Analytics" -> Analytics, "Sketches" -> Sketches,
      "Drift" -> Drift, "Bpe" -> Bpe)
  }

  val names: Seq[String] = Seq("interactive", "similarity", "lifecycle")

  private val interactiveGroups = Set("Scans", "Filters", "Aggs", "Joins",
    "SetOps", "Windows", "Sorts", "Scalars", "SqlFrontend", "Analytics",
    "Drift", "Sampling", "Sketches", "Polymorphic", "UdfOps", "EtlLoad")
  private val indexGroups = Set("Dedup", "Vectors", "Clusters")
  private val stateMarks = Seq("_index_", "_append", "_delete", "_compact")
  private val vacuum = "etl_vacuum_retention"

  /** Key -> family name, for every registered key. */
  lazy val groupOf: Map[String, String] =
    groups.flatMap { case (g, og) => og.ops.map(_.key -> g) }.toMap

  lazy val opOf: Map[String, Op] = groups.flatMap(_._2.ops).map(o => o.key -> o).toMap

  private def writesState(g: String, k: String): Boolean =
    k == vacuum || g == "Streaming" ||
      (indexGroups(g) && stateMarks.exists(k.contains))

  def workloadOf(k: String): String = {
    val g = groupOf(k)
    if (writesState(g, k)) "lifecycle"
    else if (interactiveGroups(g)) "interactive"
    else "similarity"
  }

  /** The workload's keys in canonical (sorted) order. */
  def keys(workload: String): Seq[String] = {
    require(names.contains(workload), s"unknown workload '$workload'")
    groupOf.keys.filter(workloadOf(_) == workload).toSeq.sorted
  }

  /** Lifecycle stage: every persisted-index key runs after the plain
    * builds/reloads it extends, deletes after appends, compaction last;
    * then the streaming queries, then the retention vacuum.
    */
  private def stage(k: String): Int =
    if (k == vacuum) 5
    else if (groupOf(k) == "Streaming") 4
    else if (k.contains("_compact")) 3
    else if (k.contains("_delete")) 2
    else if (k.contains("_append")) 1
    else 0

  /** Keys timed per run of `interactive` and `similarity`. Sized so that
    * one run (JVM start, two warm passes and two timed passes) takes about
    * 40 s on 4 cores.
    */
  val panelSize: Map[String, Int] = Map("interactive" -> 7, "similarity" -> 4)

  /** The `lifecycle` panel, one key per state layer rather than cost
    * strata: the PQ vector index, whose delete key runs the whole lineage
    * from an empty root (base generation, two ingest generations, a
    * tombstone generation, then the probe), and a stateful stream
    * (checkpoint and state store).
    */
  val lifecyclePanel: Seq[String] = Seq("vec_pq_index_delete", "stream_tumbling_counts")

  /** The workload's panel: for `lifecycle` [[lifecyclePanel]]; otherwise
    * its keys ranked by reference cost, cut into [[panelSize]] strata of
    * near-equal size, and the key at each stratum's middle. Fixed, so
    * that runs with different seeds time the same work.
    */
  def strata(workload: String, refMs: String => Double): Seq[String] =
    if (workload == "lifecycle") lifecyclePanel
    else {
      val ranked = keys(workload).sortBy(k => (refMs(k), k))
      val n = panelSize(workload)
      (0 until n).map { i =>
        val stratum = ranked.slice(i * ranked.size / n, (i + 1) * ranked.size / n)
        stratum(stratum.size / 2)
      }
    }

  /** The panel in the seed's order. `lifecycle` keeps its stage order and
    * shuffles only within a stage.
    */
  def panel(workload: String, seed: Long, refMs: String => Double): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val picks = strata(workload, refMs)
    if (workload == "lifecycle")
      picks.groupBy(stage).toSeq.sortBy(_._1).flatMap { case (_, s) => rnd.shuffle(s.sorted) }
    else rnd.shuffle(picks)
  }

  /** Scale tier every workload reads. */
  val sf = "sf0.01"
}
