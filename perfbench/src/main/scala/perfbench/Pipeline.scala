package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import scala.jdk.CollectionConverters._

/** The pipeline_deliveries workload: each delivery of generated files is two
  * `graft.core.Engine` runs built from the shipped config templates. Run 1
  * curates the delivery's docs (`configs/incremental_pipeline.yaml` plus an
  * `incremental_near_dedup` stage) and appends them; run 2 is the finance
  * pipeline (`configs/finance_pipeline.yaml`) upserting the delivery's bars
  * into in-memory Derby. An episode runs every delivery against fresh state;
  * episodes repeat until the run's seconds are spent.
  */
object Pipeline {
  final case class Delivery(docs: String, bars: String, rows: Long, bytes: Long)

  def deliveries(dir: String): Seq[Delivery] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$dir/manifest.json"))
    m.get("deliveries").elements().asScala.map { d =>
      Delivery(s"$dir/${d.get("docs").asText}", s"$dir/${d.get("bars").asText}",
        d.get("doc_rows").asLong + d.get("bar_rows").asLong, d.get("bytes").asLong)
    }.toSeq
  }

  /** Plugin keys the two pipelines use; a traced run swaps each for its
    * `perfbench_` twin (see [[TracedPlugins]]).
    */
  val pluginKeys: Seq[String] = Seq("jsonl_file", "json_file", "incremental_dedup",
    "incremental_near_dedup", "pydantic_validation", "technical_indicators",
    "jsonl_local", "sql_database")

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case other => other
  }

  private def render(root: Map[String, Any], traced: Boolean): String = {
    def step(s: Any): Any = s match {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        if (traced) mm + ("type" -> s"perfbench_${mm("type")}") else mm
      case other => other
    }
    val p = root("pipeline").asInstanceOf[Map[String, Any]]
    val steps = p + ("extract" -> step(p("extract"))) + ("load" -> step(p("load"))) +
      ("transform" -> p.get("transform").collect { case s: Seq[_] => s.map(step) }.getOrElse(Nil))
    new org.yaml.snakeyaml.Yaml().dump(toJava(Map("pipeline" -> steps)))
  }

  private def withInline(step: Any, kv: (String, Any)*): Map[String, Any] = {
    val m = step.asInstanceOf[Map[String, Any]]
    val ic = m.get("inline_config").collect { case c: Map[_, _] => c.asInstanceOf[Map[String, Any]] }
      .getOrElse(Map.empty)
    m + ("inline_config" -> (ic ++ kv))
  }

  /** Doc curation: incremental exact dedup, then incremental near dedup, appended. */
  def curationConfig(docs: String, state: String, out: String, traced: Boolean): String = {
    val root = Config.loadYamlMap("configs/incremental_pipeline.yaml")
    val p = root("pipeline").asInstanceOf[Map[String, Any]]
    val dedup = withInline(p("transform").asInstanceOf[Seq[Any]].head, "state_dir" -> s"$state/dedup")
    val near = withInline(Map("type" -> "incremental_near_dedup"),
      "id_column" -> "doc_id", "text_column" -> "text", "shard_column" -> "source",
      "state_dir" -> s"$state/near")
    render(Map("pipeline" -> (p +
      ("extract" -> withInline(p("extract"), "path" -> docs)) +
      ("transform" -> Seq(dedup, near)) +
      ("load" -> withInline(p("load"), "path" -> out)))), traced)
  }

  /** The finance pipeline: validated bars, indicators, upsert keyed on date. */
  def financeConfig(bars: String, db: String, traced: Boolean): String = {
    val root = Config.loadYamlMap("configs/finance_pipeline.yaml")
    val p = root("pipeline").asInstanceOf[Map[String, Any]]
    render(Map("pipeline" -> (p +
      ("extract" -> withInline(p("extract"), "path" -> bars)) +
      ("load" -> withInline(p("load"), "connection_string" -> s"jdbc:derby:memory:$db;create=true")))),
      traced)
  }

  val Table = "daily_price_features"

  final case class Episode(dir: String, db: String) {
    def state = s"$dir/state"
    def curated = s"$dir/curated"
  }

  /** Run every delivery through both pipelines; returns (op name, seconds, error). */
  def episode(spark: SparkSession, tracer: Tracer, ep: Episode, ds: Seq[Delivery])
      : Seq[(String, Double, Option[String])] =
    ds.zipWithIndex.flatMap { case (d, i) =>
      Seq(
        s"curation_d${i + 1}" -> curationConfig(d.docs, ep.state, ep.curated, tracer.enabled),
        s"finance_d${i + 1}" -> financeConfig(d.bars, ep.db, tracer.enabled)
      ).map { case (name, text) =>
        val t0 = System.nanoTime()
        val err =
          try {
            val cfg = tracer.span("core", "config")(Config.parse(text))
            tracer.span("core", "engine")(new Engine(spark).run(cfg))
            None
          } catch { case e: Throwable => Some(e.toString) }
        (name, (System.nanoTime() - t0) / 1e9, err)
      }
    }

  def dropDb(db: String): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case _: java.sql.SQLException => () }

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size).sum
  }

  def run(spark: SparkSession, tracer: Tracer, seconds: Double, inputs: String,
          warmInputs: String, work: String, out: Result): Unit = {
    if (tracer.enabled) TracedPlugins.register(tracer, out)
    val warm = Episode(s"$work/warm", "perfbench_warm")
    episode(spark, tracer, warm, deliveries(warmInputs)).foreach { case (n, s, e) =>
      System.err.println(f"[perfbench] warm $n $s%.3f s${e.fold("")(" FAILED: " + _)}")
    }
    dropDb(warm.db)
    System.gc()
    out.warmEnd()
    out.resetCounters()
    tracer.reset()

    val ds = deliveries(inputs)
    val jit0 = Jvm.jitSeconds
    val gc0 = Jvm.gcSeconds
    val t0 = System.nanoTime()
    val episodes = scala.collection.mutable.ArrayBuffer.empty[(Episode, Seq[(String, Double, Option[String])])]
    while (episodes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val ep = Episode(s"$work/ep${episodes.size + 1}", s"perfbench_ep${episodes.size + 1}")
      episodes += ep -> episode(spark, tracer, ep, ds)
      out.rows += ds.map(_.rows).sum
      out.count("state.bytes", dirBytes(ep.state).toDouble)
    }
    out.timed((System.nanoTime() - t0) / 1e9, Jvm.jitSeconds - jit0, Jvm.gcSeconds - gc0)
    out.laps = episodes.size

    val checks = new Checks(spark, ds, episodes.head._1)
    val curatedOk = checks.curated(out)
    val derbyOk = checks.derby(out)
    episodes.tail.foreach { case (ep, _) => checks.sameAs(ep, out) }
    for ((_, ops) <- episodes; (name, sec, err) <- ops) {
      val ok = if (name.startsWith("curation")) curatedOk else derbyOk
      out.op(name, sec, err.orElse(if (ok) None else Some("output check failed")))
    }
    episodes.foreach { case (ep, _) => dropDb(ep.db) }

    val inputBytes = ds.map(_.bytes).sum.toDouble
    out.count("state.bytes_per_input_byte", out.counters("state.bytes") / episodes.size / inputBytes)
    if (tracer.enabled) {
      tracer.drain()
      val spans = tracer.all
      def layer(l: String) = spans.filter(_.layer == l)
      def secs(ss: Seq[Span]) = ss.map(_.seconds).sum
      val engine = spans.filter(_.name == "engine")
      out.count("core.config_s", secs(spans.filter(_.name == "config")))
      out.count("core.engine_s", secs(engine))
      out.count("core.engine_self_s", engine.map(tracer.selfSeconds).sum)
      out.count("sources.extract_s", secs(layer("sources")))
      out.count("sources.rows", out.rows.toDouble)
      out.count("transformers.transform_s", secs(layer("transformers")))
      out.count("transformers.jobs", tracer.tasksOf(layer("transformers").map(_.id)).jobs.toDouble)
      val load = layer("sinks")
      val loadTasks = tracer.tasksOf(load.map(_.id))
      out.count("sinks.load_s", secs(load))
      out.count("sinks.bytes_written", loadTasks.bytesOut.toDouble)
      out.count("state.commit_s", secs(layer("state")))
      out.count("state.commit_jobs", tracer.tasksOf(layer("state").map(_.id)).jobs.toDouble)
      out.exec(loadTasks, secs(load), spark.sparkContext.defaultParallelism)
    }
  }

  /** Output checks, run after the timer stops. */
  final class Checks(spark: SparkSession, ds: Seq[Delivery], first: Episode) {
    /** Results are one episode's output, small enough to compare on the driver. */
    private def rows(df: DataFrame): Seq[String] =
      canon(df).collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq

    private def sameRows(a: DataFrame, b: DataFrame): Boolean = rows(a) == rows(b)

    private def curatedRows(ep: Episode): DataFrame =
      spark.read.json(ep.curated).select("doc_id", "source", "text")

    private def derbyRows(ep: Episode): DataFrame = {
      val t = spark.read.jdbc(s"jdbc:derby:memory:${ep.db}", Table, new java.util.Properties())
      t.select(t.columns.map(c => col(c).as(c.toLowerCase)).toIndexedSeq: _*)
    }

    private def canon(df: DataFrame): DataFrame =
      df.select(df.columns.sorted.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)

    /** The curated output equals the deliveries replayed through the operators. */
    def curated(out: Result): Boolean = {
      val empty = spark.read.json(ds.head.docs).select("source").limit(0)
      var dManifest = empty
      var nManifest = empty
      var fps: DataFrame = spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        new org.apache.spark.sql.types.StructType().add("fp", org.apache.spark.sql.types.StringType))
      var sigs: DataFrame = null
      val kept = ds.map { d =>
        val docs = spark.read.json(d.docs)
        if (sigs == null)
          sigs = graft.operators.Dedup.minhashSignaturesWithBands(docs.limit(0), "doc_id", "text", 3, 64, 16)
        val (s1, f1) = graft.operators.Incremental.dedupDelta(docs, dManifest, "source", fps, "doc_id", "text")
        val s1c = s1.localCheckpoint()
        val (s2, g2) = graft.operators.Incremental.nearDedupDelta(s1c, nManifest, "source", sigs, "doc_id", "text")
        val s2c = s2.select("doc_id", "source", "text").localCheckpoint()
        fps = f1.localCheckpoint()
        sigs = g2.localCheckpoint()
        dManifest = dManifest.union(docs.select("source")).distinct().localCheckpoint()
        nManifest = nManifest.union(s1c.select("source")).distinct().localCheckpoint()
        s2c
      }
      val ok = sameRows(curatedRows(first), kept.reduce(_ union _))
      out.check("curated == replay(dedupDelta, nearDedupDelta)", ok, first.curated)
      ok
    }

    /** One Derby row per date a delivery emitted indicators for (the
      * indicators drop each delivery's first bars, which lack history), equal
      * to the indicators of the delivery that last wrote that date.
      */
    def derby(out: Result): Boolean = {
      val ic = Config.loadYamlMap("configs/transforms/technical_indicators.yaml")
      def i(k: String, d: Int) = ic.get(k).map(_.toString.toDouble.toInt).getOrElse(d)
      val cfg = graft.operators.Indicators.Config(
        rsiPeriod = i("rsi_period", 14), smaPeriod = i("sma_period", 50), bbPeriod = i("bb_period", 20),
        bbStd = ic.get("bb_std").map(_.toString.toDouble).getOrElse(2.0),
        macdFast = i("macd_fast", 12), macdSlow = i("macd_slow", 26), macdSignal = i("macd_signal", 9))
      // date -> expected row, later deliveries overwriting earlier ones
      val expected = scala.collection.mutable.Map.empty[String, String]
      var rewritten = 0
      ds.foreach { d =>
        val bars = new graft.sources.JsonFileExtractor(spark, Map("path" -> d.bars)).extract()
        val ind = graft.operators.Indicators.technicalIndicators(
          graft.operators.Validation.validate(bars, "ohlcv"), cfg)
        val dateAt = ind.columns.sorted.indexOf("date")
        rows(ind).foreach { r =>
          if (expected.put(r.split("\u0001", -1)(dateAt), r).isDefined) rewritten += 1
        }
      }
      val got = rows(derbyRows(first))
      val ok = got == expected.values.toSeq.sorted
      out.check("derby == indicators of each date's last delivery", ok,
        s"${got.size} rows for ${expected.size} dates, $rewritten upserted over")
      ok
    }

    /** A later episode wrote exactly what the first one did. */
    def sameAs(ep: Episode, out: Result): Unit = {
      out.check(s"${ep.dir} curated == first episode",
        sameRows(curatedRows(ep), curatedRows(first)), ep.curated)
      out.check(s"${ep.dir} derby == first episode",
        sameRows(derbyRows(ep), derbyRows(first)), ep.db)
    }
  }
}

/** Benchmark-owned plugin keys (`perfbench_<key>`) that delegate to the real
  * factories and time every call into the plugin; stateful transformers
  * stay `StatefulTransformer`s, so the engine still commits them.
  */
object TracedPlugins {
  class TTransformer(in: Transformer, t: Tracer) extends Transformer {
    override def validate(df: DataFrame): Unit = t.span("transformers", "validate")(in.validate(df))
    def transform(df: DataFrame): DataFrame = t.span("transformers", "transform")(in.transform(df))
  }
  final class TStateful(in: StatefulTransformer, t: Tracer) extends TTransformer(in, t)
      with StatefulTransformer {
    def commit(): Unit = t.span("state", "commit")(in.commit())
  }

  def register(t: Tracer, out: Result): Unit = {
    Registries.bootstrap()
    for (k <- Pipeline.pluginKeys) {
      val key = s"perfbench_$k"
      if (Registries.extractors.keys.contains(k)) {
        val real = Registries.extractors.resolve(k)
        Registries.extractors.register(key) { (s, c) =>
          out.count("sources.attempts", 1)
          val in = real(s, c)
          new Extractor {
            override def connect(): Unit = t.span("sources", "connect")(in.connect())
            def extract(): DataFrame = t.span("sources", "extract")(in.extract())
            override def disconnect(): Unit = t.span("sources", "disconnect")(in.disconnect())
          }
        }
      } else if (Registries.transformers.keys.contains(k)) {
        val real = Registries.transformers.resolve(k)
        Registries.transformers.register(key) { (s, c) =>
          real(s, c) match {
            case st: StatefulTransformer => new TStateful(st, t)
            case in => new TTransformer(in, t)
          }
        }
      } else {
        val real = Registries.loaders.resolve(k)
        Registries.loaders.register(key) { (s, c) =>
          out.count("sinks.attempts", 1)
          val in = real(s, c)
          new Loader {
            override def connect(): Unit = t.span("sinks", "connect")(in.connect())
            def load(df: DataFrame): Unit = t.span("sinks", "load")(in.load(df))
            override def disconnect(): Unit = t.span("sinks", "disconnect")(in.disconnect())
          }
        }
      }
    }
  }
}
