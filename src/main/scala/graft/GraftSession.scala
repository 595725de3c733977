package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place a graft Spark session is configured: `local[cpus]` with
  * cpus from `SPARK_GRAFT_CPUS`, else every available processor; one shuffle
  * partition per core; UTC (Tables.events normalizes NTZ parquet through a
  * session-TZ-sensitive cast, and the DuckDB oracle is UTC); no UI; WARN
  * logs. A master that is already set (`spark-submit --master`,
  * `-Dspark.master`) wins over the local default.
  */
object GraftSession {

  /** Cores a session runs on: `SPARK_GRAFT_CPUS`, else `cores`. */
  def cpus(env: Map[String, String] = sys.env,
      cores: Int = Runtime.getRuntime.availableProcessors): Int =
    env.get("SPARK_GRAFT_CPUS").fold(cores)(_.trim.toInt)

  /** Session settings for `env` on a `cores`-processor machine over the
    * `preset` conf; `cpus`/`partitions` override the defaults. Pure, so
    * specs pin it.
    */
  private[graft] def conf(env: Map[String, String], cores: Int,
      preset: Map[String, String], cpus: Option[Int] = None,
      partitions: Option[Int] = None): Map[String, String] = {
    val n = cpus.getOrElse(this.cpus(env, cores))
    Map(
      "spark.master" -> preset.getOrElse("spark.master", s"local[$n]"),
      "spark.sql.shuffle.partitions" -> partitions.getOrElse(n).toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
  }

  /** Gets or creates the session. */
  def apply(cpus: Option[Int] = None, partitions: Option[Int] = None): SparkSession = {
    val spark = SparkSession.builder().config(conf(sys.env,
      Runtime.getRuntime.availableProcessors, new SparkConf().getAll.toMap, cpus, partitions))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops what a query persisted for its own reuse: CacheManager entries
    * (`Dataset.persist`) AND RDD-level blocks (the `localCheckpoint` reuse
    * caches, which `clearCache` cannot see and ContextCleaner frees only on
    * a driver GC) — except blocks backing a live [[graft.queries.Shared]]
    * memo entry or one of the `keep` frames.
    */
  def sweepCaches(spark: SparkSession, keep: DataFrame*): Unit = {
    spark.catalog.clearCache()
    val kept = keep.flatMap(graft.queries.Shared.backingRddIds).toSet ++
      graft.queries.Shared.protectedRddIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!kept.contains(id)) rdd.unpersist(false)
    }
  }
}
