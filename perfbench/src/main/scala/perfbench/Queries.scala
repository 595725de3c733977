package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.queries.Shared

/** The query workload: every query of the set is run to its complete
  * result (a `noop` write of every row and column Verify writes), one at a
  * time, in a seed-chosen order.
  */
object Queries {

  /** The `queries` workload. Execution-bound heads, where task compute
    * dominates: q1_pricing_summary, tx7_winnowing, q_table_checksum,
    * q_profile_li, q_grid_closest_pair. Construction-bound queries, where
    * eager actions and loops inside operator code dominate: q_pagerank and
    * q_kcore (iterative loops), q_pareto (prefix sums), dd11/dd12 (the shared
    * MinHash-pairs memo: whichever runs first builds it, the other hits it).
    * A floor query dominated by job launch: c1_drop_columns. Seven of the
    * eleven cost about the same, so the median is the middle of that group
    * whatever the order.
    */
  val all: Seq[String] = Seq(
    "q1_pricing_summary", "tx7_winnowing", "q_table_checksum", "q_profile_li",
    "q_grid_closest_pair", "q_pagerank", "q_kcore", "q_pareto",
    "dd11_dup_clusters", "dd12_cluster_clean", "c1_drop_columns")

  /** Row count plus an order-insensitive 64-bit hash sum over all columns,
    * accumulated by an observation on the written frame and read after the
    * timer stops.
    */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
    df.observe(obs,
      count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
      coalesce(sum(shiftright(h, 32)), lit(0L)).as("hi"),
      coalesce(bit_xor(h), lit(0L)).as("x"))
  }

  def digestOf(obs: Observation): (Long, String) = {
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    (rows, s"$rows:${m("lo")}:${m("hi")}:${m("x")}")
  }

  /** Digest of an already-written result (a Verify output directory). */
  def digestOfParquet(spark: SparkSession, path: String): String = {
    val obs = Observation()
    noopWrite(observed(spark.read.parquet(path), obs))
    digestOf(obs)._2
  }

  def noopWrite(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Operator names of `plan` (Sort excluded), as a multiset. */
  def operators(plan: LogicalPlan): Map[String, Int] =
    plan.collect { case p if !p.isInstanceOf[Sort] => p.nodeName }
      .groupBy(identity).map { case (k, v) => k -> v.size }

  /** Captures the QueryExecutions of completed actions (the listener bus is
    * asynchronous: call `drain` on the tracer or bus before reading).
    */
  final class QeCapture extends QueryExecutionListener {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = { seen.add(qe); () }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    def take(): Seq[QueryExecution] = {
      import scala.jdk.CollectionConverters._
      val out = seen.asScala.toSeq
      seen.clear()
      out
    }
  }

  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.graft.ListenerBusDrain.waitUntilEmpty(spark.sparkContext)

  /** Drop caches a query persisted for its own reuse, keeping memo frames. */
  def sweepCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val keep = Shared.protectedRddIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(false)
    }
  }

  /** Forget every memo entry and its blocks, so the next lap rebuilds them. */
  def dropMemo(spark: SparkSession): Unit = {
    Shared.clear()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Plan guard on the warm pass: the full-output action must keep every
    * non-Sort operator of the query's own optimized plan. Returns the
    * operators the action lost (empty when the guard passes).
    */
  def guardAndWarm(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
                   dir: String, cap: QeCapture): Map[String, Int] = {
    val df = fn(spark, dir)
    val own = operators(df.queryExecution.optimizedPlan)
    drainBus(spark)
    cap.take()
    noopWrite(observed(df, Observation()))
    drainBus(spark)
    val action = cap.take().lastOption.map(qe => operators(qe.optimizedPlan)).getOrElse(Map.empty)
    own.flatMap { case (op, n) =>
      val kept = action.getOrElse(op, 0)
      if (kept < n) Some(op -> (n - kept)) else None
    }
  }

  def run(spark: SparkSession, tracer: Tracer, order: Seq[String],
          seconds: Double, warmDir: String, dataDir: String,
          expected: Map[String, String], out: Result): Unit = {
    val fns = graft.SparkEntry.queries
    val cap = new QeCapture
    spark.listenerManager.register(cap)
    order.foreach { q =>
      val w0 = System.nanoTime()
      val lost =
        try guardAndWarm(spark, fns(q), warmDir, cap)
        catch { case e: Throwable => Map(s"warm failed: ${e.getClass.getSimpleName}" -> 1) }
      out.guard += q -> lost
      System.err.println(f"[perfbench] warm $q ${(System.nanoTime() - w0) / 1e9}%.3f s")
      sweepCaches(spark)
    }
    if (!tracer.enabled) spark.listenerManager.unregister(cap)
    System.gc()
    out.warmEnd()

    val jit0 = Jvm.jitSeconds
    val gc0 = Jvm.gcSeconds
    val t0 = System.nanoTime()
    var lap = 0
    while (lap == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      order.foreach { q =>
        val obs = Observation()
        val s0 = System.nanoTime()
        val err =
          try {
            tracer.span("op", q) {
              val keys0 = if (tracer.enabled) Shared.memoKeys else Set.empty[String]
              if (tracer.enabled) Shared.drainConsumed()
              val df = tracer.span("queries", "construct") { fns(q)(spark, dataDir) }
              if (tracer.enabled) {
                out.count("queries.memo_built", (Shared.memoKeys -- keys0).size)
                out.count("queries.memo_hits", Shared.drainConsumed().size)
                drainBus(spark)
                cap.take()
              }
              tracer.span("exec", "noop_write") { noopWrite(observed(df, obs)) }
              if (tracer.enabled) {
                drainBus(spark)
                val planMs = cap.take().map { qe =>
                  Seq("analysis", "optimization", "planning")
                    .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
                }.sum
                out.count("catalyst.plan_s", planMs / 1000.0)
              }
            }
            None
          } catch { case e: Throwable => Some(e.toString) }
        val sec = (System.nanoTime() - s0) / 1e9
        out.op(q, sec, err.orElse {
          val (rows, d) = digestOf(obs)
          out.rows += rows
          if (expected.get(q).contains(d)) None
          else Some(s"digest $d, expected ${expected.getOrElse(q, "none")}")
        })
        sweepCaches(spark)
      }
      dropMemo(spark)
      lap += 1
    }
    out.timed((System.nanoTime() - t0) / 1e9, Jvm.jitSeconds - jit0, Jvm.gcSeconds - gc0)
    out.laps = lap
    if (tracer.enabled) {
      tracer.drain()
      val spans = tracer.all
      val construct = spans.filter(_.layer == "queries")
      val action = spans.filter(_.layer == "exec")
      out.count("queries.construct_s", construct.map(_.seconds).sum)
      out.count("queries.construct_jobs", tracer.tasksOf(construct.map(_.id)).jobs.toDouble)
      val ex = tracer.tasksOf(action.map(_.id))
      val execS = action.map(_.seconds).sum - out.counters.getOrElse("catalyst.plan_s", 0.0)
      out.exec(ex, execS, spark.sparkContext.defaultParallelism)
    }
  }
}
