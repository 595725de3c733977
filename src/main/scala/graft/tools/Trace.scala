package graft.tools

import graft.{GraftSession, QueryTrace, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Per-query profiler. Runs each named query `runs` times, timed the way
  * perfbench times it: construction plus a `noop` write of every row and
  * column Verify writes (not `count()`, which lets Catalyst prune work).
  * Each run starts with the memo and caches cleared and prints its wall
  * time, JIT/GC, jobs/stages/tasks, shuffle and spill bytes, then the top
  * job call sites and the top stages by wall time. `explain` prints each
  * query's formatted physical plan instead.
  *
  * Usage: runMain graft.tools.Trace <sfDir> <runs> <query...>
  *        runMain graft.tools.Trace explain <sfDir> <query...>
  */
object Trace {
  private val Top = 14

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    try args.toList match {
      case "explain" :: sfDir :: names =>
        names.foreach { name =>
          println(s"\n################ $name ################")
          SparkEntry.queries(name)(spark, sfDir).explain("formatted")
        }
      case sfDir :: runs :: names if runs.forall(_.isDigit) =>
        profile(spark, sfDir, runs.toInt, names)
      case _ => System.err.println(
        "usage: Trace <sfDir> <runs> <query...> | Trace explain <sfDir> <query...>")
    } finally spark.stop()
  }

  private def profile(spark: SparkSession, sfDir: String, runs: Int, names: Seq[String]): Unit = {
    val trace = QueryTrace(spark)
    for (name <- names; run <- 1 to runs) {
      graft.queries.Shared.clear()
      GraftSession.sweepCaches(spark)
      val before = trace.snapshot()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      val d = trace.snapshot() - before
      println(f"== $name run $run: $dt%.2f s  ${d.summary}  failed stages ${d.failedStages}%d")
      d.sites.toSeq.sortBy(-_._2._2).take(Top).foreach { case (site, (n, ms)) =>
        println(f"   job   ${ms / 1e3}%6.2f s  $n%3d jobs  $site")
      }
      d.stageLog.sortBy(-_.wallMs).take(Top).foreach { s =>
        println(f"   stage ${s.wallMs / 1e3}%6.2f s wall ${s.runMs / 1e3}%7.2f s task " +
          f"${s.cpuMs / 1e3}%7.2f s cpu  #${s.id}%-4d ${s.tasks}%4d tasks ${s.rows}%9d out  ${s.name}")
      }
    }
  }
}
