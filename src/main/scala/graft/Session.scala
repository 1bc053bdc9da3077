package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the engine's mains, so Bench, Verify,
  * GenSf1 and the probe CLI plan under the same conf: `local[cpus]` with
  * as many shuffle partitions, UTC, [[GraftExtensions]] registered from
  * config, UI off, log level WARN.
  */
object Session {
  /** SPARK_GRAFT_CPUS, or every processor the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Timing entry points only, before [[apply]]: temp files (stream
    * checkpoints, snapshot caches) and shuffle/spill files go to tmpfs,
    * so state-store fsyncs and every Exchange stay off the real disk.
    * SparkConf picks up `spark.*` system properties when it is built.
    */
  def useTmpfsScratch(): Unit = {
    val tmp = new java.io.File("/dev/shm/graft_tmp")
    if (tmp.isDirectory || tmp.mkdirs()) System.setProperty("java.io.tmpdir", tmp.getPath)
    System.setProperty("spark.local.dir", "/dev/shm/graft_local")
  }
}
