package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, PrefixSum}

/** The prefix-scan kernel ([[PrefixSum.scan]]) against a sequential driver
  * reference: each op (start offsets, CUSUM, LAG(1)) in each bucket map
  * (small window, equal-width with skew refinement, sampled range) over
  * integral, struct, DOUBLE, null-bearing and full-long-span keys. Outputs
  * are read through `coalesce(1)` — the Verify write path, which fuses every
  * upstream split into one task. The scaled maps are reached on small
  * inputs through the kernel's `smallRows` argument.
  */
class ScanKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Draw n samples from a generator (fixed seed; the scalatest/scalacheck
    * bridge is not on the offline classpath). */
  private def sample[A](g: Gen[A], n: Int)(body: A => Unit): Unit =
    Iterator.iterate(org.scalacheck.rng.Seed(7L))(_.next)
      .map(s => g.apply(Gen.Parameters.default, s)).flatten.take(n).foreach(body)

  private val Scaled = -1L // every input, even an empty one, takes a scaled map
  private val Small = 1L << 18

  /** Runs all three ops over `keys` (ascending, NULLS FIRST, unique) with
    * values `vs`, through a 4-split input, and checks each against the
    * sequential reference and the bucket map the kernel reported.
    */
  private def check(keyType: DataType, keys: Seq[Any], vs: Seq[Long], smallRows: Long,
      mode: String => Boolean): Unit = {
    val schema = new StructType().add("id", LongType, nullable = false)
      .add("k", keyType).add("v", LongType, nullable = false)
    val rows = keys.zip(vs).zipWithIndex.map { case ((k, v), i) => Row(i.toLong, k, v) }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(4)
    val lags: Seq[Any] = vs.indices.map(i => if (i == 0) null else vs(i - 1))
    val ops = Seq(
      PrefixSum.startOffsets(Seq("v" -> "o")) -> vs.scanLeft(0L)(_ + _).init,
      PrefixSum.cusum("v", "o") -> vs.scanLeft(0L)((s, d) => math.max(0L, s + d)).tail,
      PrefixSum.lastValue("k", "v", "o") -> lags)
    ops.foreach { case (c, want) =>
      PrefixSum.drainDebug()
      val (out, totals) = PrefixSum.scan(df, "k", c, smallRows)
      val got = out.coalesce(1).select("id", "o").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).sortBy(_._1)
      val what = s"${c.op} over $keyType (${keys.size} keys, smallRows=$smallRows)"
      assert(got.map(_._1).toSeq == vs.indices.map(_.toLong), what)
      assert(got.map(_._2).toSeq == want, what)
      if (c.op == "withStartOffsets") assert(totals == Seq(vs.sum), what)
      val modes = PrefixSum.drainDebug().map(_.mode)
      assert(modes.size == 1 && mode(modes.head), s"$what: modes $modes")
    }
  }

  private val values = (n: Int) => Gen.listOfN(n, Gen.choose(-50L, 50L))
  private val longKeys = Gen.choose(1, 150).flatMap(n =>
    Gen.listOfN(n, Gen.choose(-1000000L, 1000000L)).map(_.distinct.sorted))

  /** (key type, ascending keys, the scaled map's mode) per key kind. */
  private val kinds: Seq[(String, DataType, Gen[Seq[Any]], String)] = Seq(
    ("integral", LongType, longKeys.map(_.map(Long.box)), "equal-width-window"),
    ("struct", new StructType().add("a", IntegerType).add("b", StringType),
      Gen.choose(1, 150).map(n => (0 until n).map(i => Row(i / 3, s"${i % 3}"))),
      "equal-width-window"),
    ("double", DoubleType, Gen.choose(1, 150).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-1e6, 1e6)).map(_.distinct.sorted.map(Double.box))),
      "sampled-range"),
    ("null-bearing", LongType, longKeys.map(null +: _.map(Long.box)), "sampled-range"),
    ("full-long-span", LongType,
      longKeys.map(ks => (Long.MinValue +: ks :+ Long.MaxValue).map(Long.box)), "sampled-range"))

  kinds.foreach { case (name, keyType, keyGen, scaledMode) =>
    test(s"scan over $name keys: three ops equal the sequential scan in the small and scaled maps") {
      sample(keyGen.flatMap(ks => values(ks.size).map(ks -> _)), 2) { case (keys, vs) =>
        check(keyType, keys, vs, Small, _ == "small-window")
        // a uniform random integral key may still cluster enough to refine
        check(keyType, keys, vs, Scaled, _.startsWith(scaledMode))
      }
    }
  }

  test("scan over empty input: small and range maps return no rows and zero totals") {
    check(LongType, Nil, Nil, Small, _ == "small-window")
    check(LongType, Nil, Nil, Scaled, _ == "sampled-range")
  }

  test("scan over clustered keys: every op reports the refined equal-width map") {
    // 400 dense keys plus one far outlier: equal-width bounds over [0, 2^40]
    // land every dense key in bucket 0, which refinement must split
    val keys = ((0L until 400L) :+ (1L << 40)).map(Long.box)
    sample(values(keys.size), 1) { vs =>
      check(LongType, keys, vs, Scaled, _ == "equal-width-window-refined")
    }
  }

  test("materializedOnce: an unpersisted RDD-backed input is evaluated exactly once") {
    val evals = spark.sparkContext.longAccumulator("scan-upstream-evals")
    val n = 300
    val rdd = spark.sparkContext.parallelize(0 until n, 4).map { i =>
      evals.add(1L)
      Row(i.toLong, (i % 7 + 1).toLong)
    }
    val schema = new StructType().add("k", LongType, nullable = false)
      .add("v", LongType, nullable = false)
    val out = PrefixSum.withStartOffset(spark.createDataFrame(rdd, schema), "k", "v", "off")
      .coalesce(1).collect()
    assert(out.length == n)
    assert(evals.value == n, s"upstream rows evaluated ${evals.value} times for $n rows")
  }

  test("materializedOnce: checkpointed and driver-local frames are reused as-is") {
    val cp = Dedup.cachedForReuse(spark.range(10).toDF("x"))
    assert(Dedup.materializedOnce(cp) eq cp)
    val local = spark.createDataFrame(java.util.Arrays.asList(Row(1L)),
      new StructType().add("x", LongType))
    assert(Dedup.materializedOnce(local) eq local)
  }
}
