package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session configuration: cores, shuffle partitions, UTC, and a
  * preset master winning over the local default.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("cpus come from SPARK_GRAFT_CPUS; shuffle partitions equal cpus; UTC, no UI") {
    val c = GraftSession.conf(Map("SPARK_GRAFT_CPUS" -> "3"), cores = 6, preset = Map.empty)
    assert(c == Map("spark.master" -> "local[3]", "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false"))
  }

  test("the Cli default: SPARK_GRAFT_CPUS unset on a 6-core machine runs local[6], 6 partitions") {
    val c = GraftSession.conf(Map.empty, cores = 6, preset = Map.empty)
    assert(c("spark.master") == "local[6]")
    assert(c("spark.sql.shuffle.partitions") == "6")
  }

  test("a preset spark.master is kept; explicit cpus and partitions override the defaults") {
    val preset = GraftSession.conf(Map("SPARK_GRAFT_CPUS" -> "3"), cores = 6,
      preset = Map("spark.master" -> "spark://head:7077"))
    assert(preset("spark.master") == "spark://head:7077")
    assert(preset("spark.sql.shuffle.partitions") == "3")
    val explicit = GraftSession.conf(Map("SPARK_GRAFT_CPUS" -> "3"), cores = 6,
      preset = Map.empty, cpus = Some(4), partitions = Some(128))
    assert(explicit("spark.master") == "local[4]")
    assert(explicit("spark.sql.shuffle.partitions") == "128")
  }

  test("TestSpark is a GraftSession at four cores") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
