package perfbench

/** `keys.tsv`: per key, its workload, family, how its output is checked
  * (`golden` digest, `rows` count only, or `warm`: equal to this run's
  * warm-pass digest), the golden digest, and the reference cost in ms
  * used to stratify panels. Written by `run.py --capture`.
  */
final case class KeySpec(key: String, workload: String, group: String, check: String,
    golden: Digest.D, refMs: Double)

final case class KeyTable(specs: Map[String, KeySpec]) {
  def spec(k: String): KeySpec = specs(k)
  def refMs(k: String): Double = specs(k).refMs
}

object KeyTable {
  def load(path: String): KeyTable = {
    val src = scala.io.Source.fromFile(path)
    val rows = try src.getLines().drop(1).filter(_.nonEmpty).toList finally src.close()
    val specs = rows.map { l =>
      val Array(k, w, g, c, d, ms) = l.split("\t")
      k -> KeySpec(k, w, g, c, Digest.parse(d), ms.toDouble)
    }.toMap
    val registered = Workloads.groupOf.keySet
    require(specs.keySet == registered,
      s"keys.tsv is stale: missing ${(registered -- specs.keySet).toSeq.sorted.mkString(",")}; " +
        s"unknown ${(specs.keySet -- registered).toSeq.sorted.mkString(",")}")
    specs.values.foreach(s => require(s.workload == Workloads.workloadOf(s.key),
      s"keys.tsv puts ${s.key} in ${s.workload}"))
    KeyTable(specs)
  }

}
