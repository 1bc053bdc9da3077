package perfbench

import java.io.{File, PrintWriter}

/** Golden capture and cost calibration: every registered key, in its
  * workload's conditions (lifecycle keys from an empty scratch root each
  * call), `calls` times in one JVM. Writes `key, workload, family,
  * digests, median ms of the calls after the first`; run.py merges two
  * such captures from separate JVMs into keys.tsv.
  */
object Capture {
  def run(data: String, root: String, out: String, calls: Int): Unit = {
    val sf = Bench.fixtures(new File(root), data)
    val spark = Bench.session(root)
    val w = new PrintWriter(out)
    var n = 0
    try Workloads.names.foreach { wl =>
      Workloads.keys(wl).foreach { k =>
        val fn = Workloads.opOf(k).fn
        val res = (1 to calls).map { _ =>
          n += 1
          val dir = new File(root, s"tmp/c$n")
          if (wl == "lifecycle") graft.ResultPins.releaseAll()
          dir.mkdirs()
          System.setProperty("java.io.tmpdir", dir.getPath)
          val t0 = System.nanoTime()
          val d = try Digest.of(fn(spark, sf)).toString
                  catch { case t: Throwable => s"ERR:${t.getClass.getSimpleName}" }
          val ms = (System.nanoTime() - t0) / 1e6
          if (wl == "lifecycle") graft.Tables.rmTree(dir)
          (d, ms)
        }
        val ms = if (calls > 1) Stats.median(res.drop(1).map(_._2)) else res.head._2
        w.println(Seq(k, wl, Workloads.groupOf(k), res.map(_._1).mkString(","), f"$ms%.1f")
          .mkString("\t"))
        w.flush()
      }
    } finally { w.close(); spark.stop() }
  }
}
