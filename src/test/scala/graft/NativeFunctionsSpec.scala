package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions

/** Session registration and null semantics of the native SQL functions. */
class NativeFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val names = Seq("ewm", "psar", "supertrend", "holt", "holt_winters", "var_ewm",
    "hash32", "hash61", "dotp", "sig_matches", "assign_cell", "mg_topk")

  test("register: a second call leaves every native function's builder reference-identical") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    def snapshot() = names.map { n =>
      val id = FunctionIdentifier(n)
      (registry.lookupFunctionBuilder(id).get, registry.lookupFunction(id).get)
    }
    GraftFunctions.register(s)
    val first = snapshot()
    GraftFunctions.register(s)
    val second = snapshot()
    names.indices.foreach { i =>
      assert((first(i)._1 eq second(i)._1) && (first(i)._2 eq second(i)._2),
        s"${names(i)} was registered again")
    }
  }

  /** Asserts `native` equals `reference` (nulls, NaN and ±0.0 compared
    * bit-exactly) on four generated batches of rows, once interpreted (a
    * local relation is folded by the optimizer) and once in generated code.
    */
  private def property[A](gen: Gen[A], schema: StructType, row: A => Row,
      native: String, reference: String): Unit = {
    GraftFunctions.register(spark)
    def same(x: Any, y: Any) = (x, y) match {
      case (a: java.lang.Double, b: java.lang.Double) => a.equals(b)
      case _ => x == y
    }
    def compare(df: DataFrame): Unit =
      df.selectExpr("*", native, reference).collect().foreach { r =>
        val n = r.length
        assert(same(r.get(n - 2), r.get(n - 1)),
          s"$native = ${r.get(n - 2)}, reference ${r.get(n - 1)} on ${r.toSeq.dropRight(2)}")
      }
    Iterator.iterate(org.scalacheck.rng.Seed(11L))(_.next)
      .map(s => Gen.listOfN(80, gen).apply(Gen.Parameters.default, s))
      .flatten.take(4).foreach { rows =>
        val df = spark.createDataFrame(java.util.Arrays.asList(rows.map(row): _*), schema)
        compare(df)
        compare(df.repartition(2))
      }
  }

  /** null arrays, empty arrays, and arrays of 1–8 elements from `elem`. */
  private def arrays[A](elem: Gen[A]): Gen[Seq[A]] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(Seq.empty),
    6 -> Gen.choose(1, 8).flatMap(Gen.listOfN(_, elem)))

  private def pairSchema(t: DataType) = new StructType()
    .add("a", ArrayType(t, containsNull = true))
    .add("b", ArrayType(t, containsNull = true))

  test("sig_matches equals the zip_with/aggregate reference on nulls, empty and ragged arrays") {
    val arr = arrays(Gen.frequency(1 -> Gen.const(null), 4 -> Gen.choose(0L, 3L).map(Long.box)))
    property[(Seq[java.lang.Long], Seq[java.lang.Long])](Gen.zip(arr, arr), pairSchema(LongType),
      { case (a, b) => Row(a, b) }, "sig_matches(a, b)",
      "aggregate(zip_with(a, b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, x) -> acc + x)")
  }

  test("dotp equals the zip_with/aggregate reference on nulls, NaN, ±0.0, empty and ragged arrays") {
    val elem = Gen.frequency(1 -> Gen.const(null),
      2 -> Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, -1.5).map(Double.box),
      6 -> Gen.choose(-4.0, 4.0).map(Double.box))
    val arr = arrays(elem)
    // half the pairs share a length, so the non-NULL path is exercised too
    val pair = Gen.oneOf(Gen.zip(arr, arr),
      Gen.choose(0, 6).flatMap(n => Gen.zip(Gen.listOfN(n, elem), Gen.listOfN(n, elem))))
    property[(Seq[java.lang.Double], Seq[java.lang.Double])](pair, pairSchema(DoubleType),
      { case (a, b) => Row(a, b) }, "dotp(a, b)",
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
  }

  test("hash32 and hash61 equal their md5/conv references, nulls and empty strings included") {
    val str = Gen.frequency(1 -> Gen.const(null), 1 -> Gen.const(""),
      8 -> Gen.listOf(Gen.oneOf("a", "Z", "7", " ", "é", "中", "😀", "\u0000")).map(_.mkString))
    val schema = new StructType().add("s", StringType)
    property[String](str, schema, Row(_), "hash32(s)",
      "CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)")
    property[String](str, schema, Row(_), "hash61(s)",
      "CAST(CAST(conv(substring(md5(s), 1, 16), 16, 10) AS DECIMAL(20, 0)) " +
        "% 2305843009213693951 AS BIGINT)")
  }
}
