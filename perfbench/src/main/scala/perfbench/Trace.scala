package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Task-level totals of the Spark jobs attributed to one span. */
final class TaskTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesOut = 0L

  def add(o: TaskTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; bytesOut += o.bytesOut
  }
}

/** One timed call into a layer: `layer` names what the call enters
  * (queries, exec, core, sources, transformers, sinks, state; `op` is the
  * benchmark's own span around one query); `parent` is the enclosing
  * span's id, 0 at the top.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the benchmark's calls into each layer, plus a
  * listener that attributes every Spark job to the span that was open on
  * the driver thread when the job started (through a local property).
  * With `enabled = false` every method is a pass-through and no listener
  * is registered: that is the untraced run the end-to-end metrics come from.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Key = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 1

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val totals = new java.util.concurrent.ConcurrentHashMap[Int, TaskTotals]()
  private def totalsOf(span: Int): TaskTotals = totals.computeIfAbsent(span, _ => new TaskTotals)

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt).getOrElse(0)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      totalsOf(span).synchronized { totalsOf(span).jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val t = totalsOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0))
      t.synchronized { t.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val t = totalsOf(stageSpan.getOrDefault(e.stageId, 0))
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.diskBytesSpilled
        t.bytesOut += m.outputMetrics.bytesWritten
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` inside a span of `layer`; jobs it starts are charged to it. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0), layer, name, System.nanoTime())
      nextId += 1
      spans += s
      stack.push(s)
      val saved = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Key, saved)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit =
    if (enabled) org.apache.spark.graft.ListenerBusDrain.waitUntilEmpty(sc)

  def all: Seq[Span] = spans.toSeq

  /** Forget every span and job recorded so far (the warm pass's). */
  def reset(): Unit = if (enabled) {
    drain()
    spans.clear()
    totals.clear()
  }

  /** Task totals of the jobs started directly inside the given spans. */
  def tasksOf(ids: Iterable[Int]): TaskTotals = {
    val out = new TaskTotals
    ids.foreach(id => Option(totals.get(id)).foreach(t => t.synchronized(out.add(t))))
    out
  }

  /** Span duration minus the time its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Per-layer self seconds over all spans. */
  def selfByLayer: Map[String, Double] =
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfSeconds).sum }

  def spansJson: String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
      f""""start_s":${s.startNs / 1e9}%.6f,"dur_s":${s.seconds}%.6f,"self_s":${selfSeconds(s)}%.6f,""" +
      s""""jobs":${Option(totals.get(s.id)).map(_.jobs).getOrElse(0L)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Process-level JVM counters. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def jitSeconds: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime / 1000.0).getOrElse(0.0)

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum / 1000.0

  /** Peak resident set size (VmHWM) in MiB. */
  def peakRssMb: Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
