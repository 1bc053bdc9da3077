package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check.py).
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [key1,key2,…]` — the
  * optional key list dumps just those keys and their oracle entries.
  * Scratch stays under the JVM's own `java.io.tmpdir`.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val keys = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session()
    dump(spark, args(0), args(1), keys)
    spark.stop()
  }

  /** Writes `<outDir>/<key>` for every key (or the given subset) and the
    * matching oracle map; returns the keys whose op crashed. The caller
    * owns the session.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      keys: Option[Set[String]]): Seq[String] = {
    keys.foreach { ks =>
      val unknown = ks.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown keys: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    def picked(name: String): Boolean = keys.forall(_.contains(name))
    val selected = SparkEntry.queries.filter { case (name, _) => picked(name) }
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // One unmissable line for crashed keys, which would otherwise only
    // show as absent rows in the compare; the dump still completes so
    // the compare gets every key that ran.
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size}/${selected.size} queries CRASHED: ${failed.sorted.mkString(", ")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20),
    // so a tab or CR in operator SQL cannot break the compare's json.load.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => picked(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed.sorted
  }
}
