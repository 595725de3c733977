package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. Four cores whatever
  * `SPARK_GRAFT_CPUS` says: JobCountSpec budgets and the PlanShapeSpec
  * pins were measured at local[4].
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cpus = Some(4))
}
