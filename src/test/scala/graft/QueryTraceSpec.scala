package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** QueryTrace deltas: exact counts for a known plan, shuffle bytes only for
  * plans that shuffle, back-to-back deltas that sum to the whole, and job
  * call sites that name the submitting source line.
  */
class QueryTraceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def grouped() =
    spark.range(0, 1000, 1, 4).repartition(3).groupBy((col("id") % 7).as("k")).count()

  private def withTrace[A](f: QueryTrace => A): A = {
    val trace = QueryTrace(spark)
    try f(trace) finally trace.stop()
  }

  test("a known plan gives exact job, stage and task counts") {
    withTrace { trace =>
      val before = trace.snapshot()
      assert(grouped().collect().map(_.getLong(1)).sum == 1000L)
      val d = trace.snapshot() - before
      assert((d.jobs, d.stages, d.tasks) == ((3L, 3L, 8L)))
      assert(d.stageLog.map(_.tasks).sum == d.tasks)
      assert(d.failedStages == 0 && d.spill == 0)
      assert(d.shuffleRead > 0 && d.shuffleWrite > 0)
    }
  }

  test("shuffle bytes are counted only for plans that shuffle") {
    withTrace { trace =>
      val before = trace.snapshot()
      spark.range(0, 1000, 1, 4).select((col("id") * 2).as("x")).collect()
      val d = trace.snapshot() - before
      assert(d.jobs == 1 && d.stages == 1)
      assert(d.shuffleRead == 0 && d.shuffleWrite == 0)
    }
  }

  test("two back-to-back queries' deltas sum to the whole") {
    withTrace { trace =>
      val s0 = trace.snapshot()
      grouped().collect()
      val s1 = trace.snapshot()
      spark.range(0, 500, 1, 2).repartition(5).collect()
      val s2 = trace.snapshot()
      val (a, b, whole) = (s1 - s0, s2 - s1, s2 - s0)
      def counts(t: QueryTrace.Totals) = Seq(t.jobs, t.stages, t.tasks, t.shuffleRead,
        t.shuffleWrite, t.spill, t.failedStages, t.sites.values.map(_._1.toLong).sum)
      assert(counts(a).zip(counts(b)).map { case (x, y) => x + y } == counts(whole))
      assert(a.stageLog ++ b.stageLog == whole.stageLog)
      assert(b.jobs > 0 && b.shuffleWrite > 0)
    }
  }

  test("job call sites name the submitting File.scala:line") {
    withTrace { trace =>
      val before = trace.snapshot()
      val line = new Exception().getStackTrace.head.getLineNumber; grouped().collect()
      val sites = (trace.snapshot() - before).sites
      assert(sites.keySet.exists(_.endsWith(s"QueryTraceSpec.scala:$line")), sites.keySet)
      assert(sites.values.map(_._1).sum == 3)
    }
  }
}
