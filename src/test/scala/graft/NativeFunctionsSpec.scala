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

  test("sig_matches equals the zip_with/aggregate reference on nulls, empty and ragged arrays") {
    GraftFunctions.register(spark)
    val elem = Gen.frequency(1 -> Gen.const(null), 4 -> Gen.choose(0L, 3L).map(Long.box))
    val arr: Gen[Seq[java.lang.Long]] = Gen.frequency(
      1 -> Gen.const(null), 1 -> Gen.const(Seq.empty),
      6 -> Gen.choose(1, 8).flatMap(Gen.listOfN(_, elem)))
    val schema = new StructType()
      .add("a", ArrayType(LongType, containsNull = true))
      .add("b", ArrayType(LongType, containsNull = true))
    def compare(df: DataFrame): Unit = {
      val rows = df.selectExpr("a", "b", "sig_matches(a, b)",
        "aggregate(zip_with(a, b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, x) -> acc + x)")
        .collect()
      rows.foreach(r => assert(r.get(2) == r.get(3), s"a=${r.get(0)} b=${r.get(1)}"))
    }
    Iterator.iterate(org.scalacheck.rng.Seed(11L))(_.next)
      .map(s => Gen.listOfN(80, Gen.zip(arr, arr)).apply(Gen.Parameters.default, s))
      .flatten.take(4).foreach { pairs =>
        val df = spark.createDataFrame(
          java.util.Arrays.asList(pairs.map { case (a, b) => Row(a, b) }: _*), schema)
        compare(df) // a local relation: folded by the optimizer, interpreted eval
        compare(df.repartition(2)) // generated code
      }
  }
}
