package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Raw measurements of one run, written as JSON for `run.py` to turn into
  * the benchmark's metrics.
  */
final class Result {
  val ops = mutable.ArrayBuffer.empty[(String, Double, Option[String])]
  val guard = mutable.LinkedHashMap.empty[String, Map[String, Int]]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var rows = 0L
  /** Laps (queries) or episodes (pipeline) the timed loop ran; counters are
    * reported per lap.
    */
  var laps = 1
  private var warmEndMs = 0L
  private var timedS = 0.0
  private var jitS = 0.0
  private var gcS = 0.0
  private val ratios = Set("exec.core_busy_ratio", "state.bytes_per_input_byte")

  def warmEnd(): Unit = warmEndMs = System.currentTimeMillis()
  def op(name: String, sec: Double, failure: Option[String]): Unit = {
    failure.foreach(f => System.err.println(s"[perfbench] op $name FAILED: $f"))
    ops += ((name, sec, failure))
  }
  def count(key: String, v: Double): Unit = counters.update(key, counters.getOrElse(key, 0.0) + v)
  def resetCounters(): Unit = counters.clear()
  def check(name: String, ok: Boolean, detail: String): Unit = {
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
    checks += ((name, ok, detail))
  }
  def timed(wall: Double, jit: Double, gc: Double): Unit = { timedS = wall; jitS = jit; gcS = gc }

  /** The execution layer's counters from the task totals of the actions. */
  def exec(t: TaskTotals, execSeconds: Double, cores: Int): Unit = {
    count("exec.s", execSeconds)
    count("exec.jobs", t.jobs.toDouble)
    count("exec.stages", t.stages.toDouble)
    count("exec.tasks", t.tasks.toDouble)
    count("exec.task_run_s", t.runMs / 1000.0)
    count("exec.task_cpu_s", t.cpuNs / 1e9)
    count("exec.core_busy_ratio", if (execSeconds > 0) t.runMs / 1000.0 / (execSeconds * cores) else 0.0)
    count("exec.shuffle_read_bytes", t.shuffleRead.toDouble)
    count("exec.shuffle_write_bytes", t.shuffleWrite.toDouble)
    count("exec.spill_bytes", t.spill.toDouble)
  }

  def json(tracer: Tracer): String = {
    import Json._
    Json.obj(Seq(
      "warm_end_ms" -> warmEndMs.toString,
      "timed_s" -> num(timedS),
      "jvm_jit_s" -> num(jitS),
      "jvm_gc_s" -> num(gcS),
      "peak_rss_mb" -> num(Jvm.peakRssMb),
      "rows" -> rows.toString,
      "ops" -> ops.map { case (n, s, f) =>
        obj(Seq("name" -> str(n), "s" -> num(s), "error" -> f.map(str).getOrElse("null")))
      }.mkString("[", ",", "]"),
      "guard" -> obj(guard.toSeq.map { case (q, lost) =>
        q -> obj(lost.toSeq.map { case (op, n) => op -> n.toString })
      }),
      "checks" -> checks.map { case (n, ok, d) =>
        obj(Seq("name" -> str(n), "ok" -> ok.toString, "detail" -> str(d)))
      }.mkString("[", ",", "]"),
      "laps" -> laps.toString,
      "counters" -> obj(counters.toSeq.map { case (k, v) => k -> num(if (ratios(k)) v else v / laps) }),
      "self_s" -> obj(tracer.selfByLayer.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v / laps) })))
  }
}

/** One benchmark run in one fresh JVM.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *                [--warm-dir DIR --data-dir DIR --expected FILE]   (queries workload)
  *                [--inputs DIR --warm-inputs DIR]                  (pipeline workload)
  * perfbench.Main --digest OUT_FILE VERIFY_DIR WORK_DIR             (digests of Verify output)
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    if (args.headOption.contains("--digest")) return digest(args.drop(1), cpus)
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val work = opt("work")
    val spark = session(cpus, work)
    val tracer = new Tracer(spark.sparkContext, opt("trace") == "1")
    val out = new Result
    try {
      workload match {
        case "pipeline_deliveries" =>
          Pipeline.run(spark, tracer, seconds, opt("inputs"), opt("warm-inputs"), work, out)
        case "queries" =>
          val order = new scala.util.Random(seed).shuffle(Queries.all)
          Queries.run(spark, tracer, order, seconds, opt("warm-dir"), opt("data-dir"),
            readDigests(opt("expected")), out)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      if (tracer.enabled)
        java.nio.file.Files.writeString(java.nio.file.Paths.get(work, "spans.json"), tracer.spansJson)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), out.json(tracer))
    } finally spark.stop()
  }

  def session(cpus: String, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `{"query": "digest", ...}` as written by [[digest]]. */
  def readDigests(path: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(path), classOf[java.util.Map[String, String]]).asScala.toMap
  }

  /** Digests of the parquet results a `graft.Verify` run wrote. */
  private def digest(args: Array[String], cpus: String): Unit = {
    val Array(outFile, verifyDir, work) = args
    val spark = session(cpus, work)
    try {
      val ds = Queries.all.sorted.map(q => q -> Queries.digestOfParquet(spark, s"$verifyDir/$q"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
        ds.map { case (q, d) => s"  ${Json.str(q)}: ${Json.str(d)}" }.mkString("{\n", ",\n", "\n}\n"))
    } finally spark.stop()
  }
}
