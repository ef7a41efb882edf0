package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{GraftApi, MixStage}
import graft.ml.{Inference, ModelRegistry}
import graft.operators.{Analytics, TimeSeries}
import graft.sources.Tables
import graft.streaming.CorpusIngest

/** Build → plan → collect, with a span around each layer call when the
  * operation is traced. Returns the collected rows. */
object Request {
  def run(ctx: Ctx, build: => DataFrame): Array[Row] = {
    val df = ctx.tracer.span("operators", "construct")(build)
    ctx.tracer.span("catalyst", "plan")(df.queryExecution.executedPlan)
    ctx.tracer.span("engine", "collect")(df.collect())
  }

  def writeLines(path: String, lines: Iterable[String]): Unit =
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
}

/** The reference dashboard: its views over `events`, asked in a seeded
  * order with seeded parameters, back to back. After the timed window
  * the run serves predict_temperature the way the reference does: one
  * GraftApi.trainAndRegister over a seeded entity subset into a
  * run-local registry, then one GraftApi.predict. Those two are timed
  * on their own (train_s, predict_ms), outside the window, so their
  * seconds-long latencies do not swamp the views' median. */
final class Dashboard(ctx: Ctx) extends Workload {
  private val dir = s"${ctx.inputs}/events"
  private val entities = 16
  private val cvFolds = 1
  private val warmCycles = 3
  private lazy val raw = Tables.eventsRaw(ctx.spark, dir)
  private lazy val events = Tables.events(ctx.spark, dir)
  private val kinds = Vector("load", "metrics", "distribution", "corr", "group",
    "latest", "recent", "daily")
  private lazy val subset: Seq[Long] = {
    val ids = events.select("user_id").distinct().collect().map(_.getLong(0)).sorted.toSeq
    scala.util.Random.javaRandomToRandom(ctx.rng).shuffle(ids).take(entities).sorted
  }
  private lazy val sub = events.filter(col("user_id").isin(subset: _*))
  private val registry = new ModelRegistry(ctx.path("registry"))
  // first answer per (kind, params); repeats must equal it
  private val answers = mutable.LinkedHashMap.empty[(String, String), Array[Row]]
  private val asked = mutable.HashMap.empty[(String, String), Int]

  private def stamp(hour: Int): String =
    java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(hour.toLong)
      .toString.replace('T', ' ') + ":00"

  private def params(kind: String): Seq[(String, Any)] = kind match {
    case "load" =>
      val from = ctx.rng.nextInt(30 * 24 - 12)
      Seq("start" -> stamp(from), "end" -> stamp(from + 1 + ctx.rng.nextInt(12)))
    case "recent" => Seq("hours" -> (1 + ctx.rng.nextInt(12)))
    case _ => Nil
  }

  private def build(kind: String, p: Map[String, Any]): DataFrame = kind match {
    case "load" => GraftApi.loadData(ctx.spark, dir, p("start").toString, p("end").toString)
    case "metrics" => Analytics.metrics(events)
    case "distribution" => Analytics.distribution(events)
    case "corr" => Analytics.corrMatrix(TimeSeries.weatherView(events))
    case "group" => Analytics.groupCompare(events)
    case "latest" => Analytics.latestPerKey(events)
    case "recent" => Analytics.recentWindow(raw, p("hours").asInstanceOf[Int])
    case "daily" => TimeSeries.dailyRange(events)
  }

  /** GraftApi.predict, split at its layer calls when traced. */
  private def predictRows(): Array[Row] =
    if (!ctx.tracer.on) Request.run(ctx, GraftApi.predict(sub, registry))
    else {
      val t = ctx.tracer
      val engineered = t.span("operators", "construct")(
        TimeSeries.featurePipeline(sub, passthrough = Seq("ts")))
      val model = t.span("ml", "load")(registry.load("temperature", PipelineModel))
      t.span("ml", "predict")(Inference.predictLatest(engineered, model).collect())
    }

  /** GraftApi.trainAndRegister, split at its layer calls when traced. */
  private def train(): Map[String, Double] =
    if (!ctx.tracer.on) GraftApi.trainAndRegister(sub, registry, cvFolds = cvFolds)._2
    else {
      val t = ctx.tracer
      val engineered = t.span("operators", "construct")(
        TimeSeries.featurePipeline(sub, passthrough = Seq("ts")))
      val (model, holdout) = t.span("ml", "fit")(Inference.train(engineered))
      // Inference.labeled is package-private; this is its public restatement
      val labeled = Inference.fillZeros(engineered, Inference.defaultFeatures)
        .filter(col("value_future").isNotNull).withColumn("label", col("value_future"))
      val metrics = holdout ++ t.span("ml", "cv")(Inference.walkForwardCvMetrics(labeled, cvFolds))
      t.span("ml", "register")(registry.register("temperature", model, metrics))
      metrics
    }

  def setup(): Unit = {
    raw; events
    def warm(k: String) =
      build(k, Map("start" -> stamp(0), "end" -> stamp(6), "hours" -> 6)).collect().length
    // compile every kind's plans and generated code, kinds in parallel,
    // then a few cycles from the client thread, so the JIT has compiled
    // the hot paths before the window starts
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try kinds.map(k => pool.submit(() => warm(k))).foreach(_.get())
    finally pool.shutdown()
    (1 to warmCycles).foreach(_ => kinds.foreach(warm))
  }

  def measure(): Unit = {
    ctx.startMeasuring()
    // each cycle asks every kind once, in a seeded order, and a run
    // ends on a whole cycle, so its latency mix does not depend on the
    // seed
    var cycle = Vector.empty[String]
    while (ctx.more || cycle.nonEmpty) {
      if (cycle.isEmpty) cycle = scala.util.Random.javaRandomToRandom(ctx.rng).shuffle(kinds)
      val kind = cycle.head
      cycle = cycle.tail
      val p = params(kind)
      val pm = p.toMap
      var rows: Array[Row] = null
      val rec = ctx.op(kind) { rows = Request.run(ctx, build(kind, pm)); rows.length.toLong }
      if (rows != null) remember(rec, kind, Json(pm), rows)
    }
    var metrics = Map.empty[String, Double]
    val trained = ctx.op("train", window = false) {
      metrics = ctx.tracer.span("ml", "train")(train()); 1L
    }
    ctx.extra("holdout") = metrics
    ctx.extra("entities") = subset
    if (trained.error.isEmpty) {
      var rows: Array[Row] = null
      val rec = ctx.op("predict", window = false) { rows = predictRows(); rows.length.toLong }
      if (rows != null) remember(rec, "predict", "{}", rows)
    }
  }

  private def remember(rec: OpRecord, kind: String, params: String, rows: Array[Row]): Unit = {
    val key = (kind, params)
    asked(key) = asked.getOrElse(key, 0) + 1
    answers.get(key) match {
      case None => answers(key) = rows
      case Some(first) =>
        if (!first.sameElements(rows)) ctx.fail(rec, s"$kind answer differs from its first")
    }
  }

  def finish(): Unit =
    Request.writeLines(ctx.path("dashboard.jsonl"), answers.map { case ((k, p), rows) =>
      s"""{"kind": ${Json.str(k)}, "params": $p, "n": ${asked((k, p))}, "rows": ${Json(rows.toSeq)}}"""
    })

  def kernelText(): Seq[String] =
    events.select("props").collect().map(_.getString(0)).toSeq
}

/** The q_curate composition (strip, quality, exact dedup, decontam
  * against the held-out source, MinHash near-dup removal, span dedup,
  * PII redaction, per-source quota) over the seeded corpus, repeated. */
final class Curate(ctx: Ctx) extends Workload {
  private val heldOut = "src0"
  private val quota = 100
  /** One pipeline takes about as long as the window, so a run goes on
    * until it has timed this many: its median then has samples to take
    * the middle of, and the repeat check has repeats to compare. */
  private val minRuns = 3
  private lazy val docs = Tables.documents(ctx.spark, s"${ctx.inputs}/curate")
  private lazy val corpus = docs.filter(col("source") =!= heldOut)
  private lazy val bench = docs.filter(col("source") === heldOut)
  private var first: Array[Row] = null

  private def pipeline(c: DataFrame, b: DataFrame): DataFrame =
    GraftApi.curateCorpus(c, spanDedupK = Some(20), benchmark = Some(b),
      mix = Some(MixStage.PerSource(quota)))

  def setup(): Unit = {
    ctx.extra("quota") = quota
    // one full-size pipeline, so the window's operations run on code
    // the JIT has already compiled for this corpus
    pipeline(corpus, bench).collect()
    GraftApi.releaseCaches()
  }

  def measure(): Unit = {
    ctx.startMeasuring()
    while (ctx.more || ctx.ops.size < minRuns) {
      var rows: Array[Row] = null
      val rec = ctx.op("curate") {
        rows = Request.run(ctx, pipeline(corpus, bench))
        rows.length.toLong
      }
      GraftApi.releaseCaches()
      if (rows != null) {
        val sorted = rows.sortBy(_.getLong(0))
        if (first == null) first = sorted
        else if (!first.sameElements(sorted)) ctx.fail(rec, "curated output differs from the first run")
      }
    }
  }

  def finish(): Unit = if (first != null)
    Request.writeLines(ctx.path("curate.jsonl"),
      first.map(r => Json(Seq(r.getLong(0), r.getString(1), r.getString(2).length))))

  def kernelText(): Seq[String] = corpus.select("text").collect().map(_.getString(0)).toSeq

  override def layerExtras(): collection.Map[String, Double] =
    Map("operators.lsh_pair_yield" -> Layers.lshYield(corpus))
}

object Ingest {
  /** Compaction cadence: every 4th batch, so a short run sees the
    * compaction spikes that the default cadence of 16 would put past
    * its end. */
  val compactEvery = 4

}

/** A stream of small pre-staged batch files through
  * CorpusIngest.sinkBucketed: the harness moves one file into the
  * source directory and waits until the stream has processed it
  * (closed loop, one micro-batch per operation). */
final class Ingest(ctx: Ctx) extends Workload {
  private val warmupFiles = 4
  private val files = Files.list(Paths.get(ctx.inputs, "ingest")).toArray
    .map(_.toString).filter(_.endsWith(".parquet")).sorted
  private val inDir = Paths.get(ctx.path("stream_in"))
  private var fed = 0
  private var query: StreamingQuery = null
  private val batches = if (ctx.trace) Some(new StreamListener) else None

  private def feed(): Unit = {
    val src = Paths.get(files(fed))
    val staged = inDir.resolve("_" + src.getFileName)
    Files.copy(src, staged)
    Files.move(staged, inDir.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
    fed += 1
    query.processAllAvailable()
  }

  def setup(): Unit = {
    Files.createDirectories(inDir)
    batches.foreach(ctx.spark.streams.addListener)
    val stream = ctx.spark.readStream
      .schema("doc_id BIGINT, source STRING, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString)
    query = CorpusIngest.sinkBucketed(stream, ctx.path("corpus"), "bench_hashes",
        ctx.path("delta"), compactEvery = Ingest.compactEvery)
      .option("checkpointLocation", ctx.path("checkpoint"))
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    (0 until warmupFiles).foreach(_ => feed())
  }

  def measure(): Unit = {
    ctx.startMeasuring()
    // a run ends on a whole compaction cycle, so every run weighs
    // compacting and plain batches alike
    def midCycle = (fed - warmupFiles) % Ingest.compactEvery != 0
    while ((ctx.more || midCycle) && fed < files.length) {
      // batch ids follow the files fed; a compacting batch is its own kind
      val kind = if ((fed + 1) % Ingest.compactEvery == 0) "compact" else "batch"
      ctx.op(kind) { feed(); 1L }
    }
  }

  def finish(): Unit = {
    query.stop()
    ctx.extra("files_fed") = fed
    ctx.extra("warmup_files") = warmupFiles
  }

  override def close(): Unit = if (query != null && query.isActive) query.stop()

  def kernelText(): Seq[String] = ctx.spark.read.parquet(files.take(fed): _*)
    .select("text").collect().map(_.getString(0)).toSeq

  override def layerExtras(): collection.Map[String, Double] = {
    val ms = batches.get.batches.toSeq.collect {
      case (id, m) if id >= warmupFiles => (id, m.toDouble)
    }
    val (compacting, plain) = ms.partition { case (id, _) => (id + 1) % Ingest.compactEvery == 0 }
    Map(
      "streaming.batch_ms" -> Layers.median(plain.map(_._2)),
      "streaming.compact_batch_ms" -> Layers.median(compacting.map(_._2)),
      "operators.lsh_pair_yield" ->
        Layers.lshYield(ctx.spark.read.parquet(files.take(fed): _*)))
  }
}
