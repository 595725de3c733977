package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-14 bench protocol contracts: a throwing query is an ERROR flag,
  * never a fake timing; a slow memo-building first run re-runs with its
  * just-built entries evicted so the min still charges the build.
  */
class BenchProtocolSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a deliberately broken query records an error flag, not a timing") {
    val good = (s: org.apache.spark.sql.SparkSession, d: String) =>
      s.range(5).toDF("x")
    val boom = (s: org.apache.spark.sql.SparkSession, d: String) => {
      s.range(5).toDF("x").filter(expr("assert_true(x < 2, 'boom')").isNull)
    }
    val res = Bench.runQueries("/root/testdata/sf0.001", " spec",
      Seq("z_good" -> good, "z_boom" -> boom), 2, session = Some(spark))
    val byName = res.map(r => r._1 -> r._3).toMap
    assert(byName("z_good") == false)
    assert(byName("z_boom") == true, "throwing query must carry the error flag")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4", "the shared session is untouched")
  }

  test("memo eviction: evict removes the entry and unpersists its blocks; rebuild pays again") {
    val key = s"benchspec-evict-${System.nanoTime()}"
    var builds = 0
    def build() = graft.queries.Shared.memoized(spark, key) {
      builds += 1
      graft.operators.Dedup.cachedForReuse(spark.range(100).toDF("x"))
    }
    val before = graft.queries.Shared.memoKeys
    build(); build()
    assert(builds == 1, "second call must ride the memo")
    val built = graft.queries.Shared.memoKeys -- before
    assert(built == Set(key))
    assert(graft.queries.Shared.buildSeconds(key).exists(_ >= 0.0))
    graft.queries.Shared.evict(built)
    assert(!graft.queries.Shared.memoKeys.contains(key))
    build()
    assert(builds == 2, "post-eviction call must rebuild (pay the build again)")
    graft.queries.Shared.evict(Set(key))
  }

  test("stall flagging: injected fake stalls against steady references") {
    val steady = Map("q_big" -> 4.0, "q_mid" -> 1.0, "q_tiny" -> 0.05, "q_err" -> 1.0)
    val results = Seq(
      ("q_big", 19.4, false),  // 4.85x steady — the r14 q_pagerank shape: FLAG
      ("q_mid", 2.9, false),   // 2.9x — under the 3x factor: clean
      ("q_tiny", 0.35, false), // 7x but sub-second noise: never flagged
      ("q_err", 9.0, true),    // failed — error-flagged already, not stalled
      ("q_new", 50.0, false))  // no steady reference: cannot flag
    assert(Bench.flagStalled(results, steady) == Seq("q_big"))
    // a post-rerun min back inside 3x clears the flag
    assert(Bench.flagStalled(Seq(("q_big", 4.6, false)), steady).isEmpty)
    // empty steady map (no STEADY.json): flagging degrades to off
    assert(Bench.flagStalled(results, Map.empty).isEmpty)
  }

  test("steady references load from a committed {name:sec} JSON file") {
    val f = java.nio.file.Files.createTempFile("graft-steady", ".json")
    java.nio.file.Files.writeString(f,
      """{"q1":0.52,"q_pagerank":4.1,"mx26_incremental_near_dedup":3.2}""")
    val m = Bench.loadSteady(f.toString)
    assert(m == Map("q1" -> 0.52, "q_pagerank" -> 4.1,
      "mx26_incremental_near_dedup" -> 3.2))
    assert(Bench.loadSteady(f.toString + ".does-not-exist").isEmpty)
  }

  test("memo consumption accounting: a cache HIT is drained as consumed; a build is not") {
    val key = s"benchspec-consume-${System.nanoTime()}"
    graft.queries.Shared.drainConsumed() // reset
    graft.queries.Shared.memoized(spark, key) {
      graft.operators.Dedup.cachedForReuse(spark.range(10).toDF("x"))
    }
    assert(!graft.queries.Shared.drainConsumed().contains(key),
      "the building call must not read as consumption")
    graft.queries.Shared.memoized(spark, key) {
      fail("second call must be a memo hit"); null
    }
    assert(graft.queries.Shared.drainConsumed().contains(key),
      "a memo hit must drain as consumed")
    assert(graft.queries.Shared.drainConsumed().isEmpty, "drain clears")
    graft.queries.Shared.evict(Set(key))
  }

  test("telemetry: per-query cost fields keep their order and append shuffle and spill bytes") {
    def stage(tasks: Int, read: Long, write: Long, spill: Long) =
      QueryTrace.Stage(0, "s", tasks, 0, read, write, spill, 0, 0, 0, None)
    val d = QueryTrace.Totals(jobs = 3, jitMs = 1, gcMs = 2, stageLog = Vector(
      stage(2, 6, 3, 8), stage(1, 0, 4, 0), stage(2, 0, 0, 0), stage(0, 0, 0, 0)))
    assert(d.summary ==
      "jit +1ms gc +2ms  jobs 3 stages 4 tasks 5  shuffle r/w 6/7 B  spill 8 B")
  }

  test("total record: existing fields in order, then cpus and shuffle_partitions") {
    val results = Seq(("q_a", 1.0, false), ("q_b", 2.5, true))
    assert(Bench.totalRecord(results, "/sf", Seq("q_a"), cpus = 6) ==
      """{"metric":"total","value":1.0,"unit":"sec","n_queries":2,"errors":1,""" +
      """"failed":["q_b"],"total_with_errors":3.5,"stalled":["q_a"],"sf":"/sf",""" +
      """"cpus":6,"shuffle_partitions":6}""")
    assert(Bench.totalRecord(results.take(1), "/sf", Nil, cpus = 4, ""","queries":{"q_a":1.0}""") ==
      """{"metric":"total","value":1.0,"unit":"sec","n_queries":1,"errors":0,""" +
      """"queries":{"q_a":1.0},"sf":"/sf","cpus":4,"shuffle_partitions":4}""")
  }
}
