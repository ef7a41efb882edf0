package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.GraftApi
import graft.functions.TextHash
import graft.operators.{Dedup, TextAnalysis}

/** Per-layer metrics of a traced run, from the spans the harness
  * opened and the listener's job counters. Every value is the median
  * over the run's traced operations of that operation's figure. */
object Layers {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Milliseconds of [from, to] covered by the union of `ivs`. */
  def covered(ivs: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def summarize(ctx: Ctx, w: Workload): collection.Map[String, Any] = {
    val engine = ctx.engine.get
    val perOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def put(k: String, v: Double): Unit = perOp.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val traced = ctx.ops.filter(o => o.traced && o.error.isEmpty)
    val selfMs = mutable.LinkedHashMap.empty[String, Double]

    traced.foreach { o =>
      val spans = ctx.tracer.of(o.id)
      val from = Clock.epochMs(o.startNs)
      val to = Clock.epochMs(o.endNs)
      val wall = to - from
      val jobs = engine.startedIn(from, to)
      val ivs = jobs.map(j => (j.startMs.toDouble,
        if (j.endMs < 0) to else j.endMs.toDouble))
      val busy = covered(ivs, from, to)
      def spanMs(layer: String, name: String = null) =
        spans.filter(s => s.layer == layer && (name == null || s.name == name)).map(_.ms).sum
      def jobsIn(layer: String, name: String = null) = spans
        .filter(s => s.layer == layer && (name == null || s.name == name))
        .map(s => engine.startedIn(Clock.epochMs(s.startNs), Clock.epochMs(s.endNs)).size)
        .sum.toDouble
      Seq("fit", "cv", "register", "load", "predict", "train").foreach { n =>
        if (spans.exists(s => s.layer == "ml" && s.name == n)) put(s"ml.${n}_ms", spanMs("ml", n))
      }
      if (spans.exists(s => s.layer == "ml" && s.name == "fit"))
        put("ml.fit_jobs", jobsIn("ml", "fit"))
      // engine and driver figures describe the timed window's operations
      if (o.window) {
        put("operators.construct_ms", spanMs("operators"))
        put("operators.construct_jobs", jobsIn("operators"))
        put("catalyst.plan_ms", spanMs("catalyst"))
        put("engine.jobs", jobs.size)
        put("engine.stages", jobs.map(_.stages).sum)
        put("engine.tasks", jobs.map(_.tasks).sum.toDouble)
        put("engine.gap_ms", wall - busy)
        put("engine.job_ms", busy)
        val run = jobs.map(_.taskRunMs).sum.toDouble
        put("engine.task_run_ms", run)
        put("engine.task_cpu_ms", jobs.map(_.taskCpuNs).sum / 1e6)
        put("engine.gc_ms", jobs.map(_.gcMs).sum.toDouble)
        put("engine.core_busy_ratio", if (wall > 0) run / (wall * ctx.cores) else 0.0)
        put("engine.shuffle_write_bytes", jobs.map(_.shuffleWrite).sum.toDouble)
        put("engine.shuffle_read_bytes", jobs.map(_.shuffleRead).sum.toDouble)
        put("engine.spill_bytes", jobs.map(_.spill).sum.toDouble)
        val inRecords = jobs.map(_.inputRecords).sum.toDouble
        put("sources.input_bytes", jobs.map(_.inputBytes).sum.toDouble)
        put("sources.input_records", inRecords)
        put("sources.rows_read_per_result_row", inRecords / math.max(o.rows, 1L))
      }
      // self time per layer: span minus the part its children cover
      spans.foreach { s =>
        val kids = spans.filter(_.parent == s.id).map(k => (k.startNs / 1e6, k.endNs / 1e6))
        val self = s.ms - covered(kids, s.startNs / 1e6, s.endNs / 1e6)
        selfMs(s.layer) = selfMs.getOrElse(s.layer, 0.0) + self / traced.size
      }
    }

    val layers = mutable.LinkedHashMap.empty[String, Double]
    perOp.foreach { case (k, vs) => layers(k) = median(vs.toSeq) }
    layers("engine.cached_bytes_max") = engine.cachedMax.toDouble
    layers ++= kernels(ctx.spark, w.kernelText())
    layers ++= w.layerExtras()
    // each traced operation against the mean of the untraced ones of its
    // kind just before and after it, which cancels the warm-up trend
    val diffs = ctx.ops.filter(o => o.window && o.error.isEmpty).groupBy(_.kind).values
      .flatMap(_.sortBy(_.id).sliding(3)
        .filter(w => w.size == 3 && w(1).traced && !w(0).traced && !w(2).traced)
        .map(w => w(1).ms - (w(0).ms + w(2).ms) / 2))
    layers("trace.overhead_ms") = median(diffs.toSeq)
    mutable.LinkedHashMap("metrics" -> layers,
      "self_ms_per_op" -> selfMs,
      "traced_ops" -> traced.size)
  }

  /** Verified near-dup pairs per LSH candidate pair. */
  def lshYield(docs: DataFrame): Double = {
    val verified = Dedup.minhashPairs(docs).count().toDouble
    val candidates = Dedup.minhashBucketStats(docs).collect()(0).getAs[Long]("n_cand_pairs")
    GraftApi.releaseCaches()
    if (candidates > 0) verified / candidates else 0.0
  }

  /** Single-threaded throughput of the text kernels over `texts`:
    * each kernel makes passes over the whole sample until at least
    * `minNs` have elapsed. Token arrays are prepared beforehand so
    * shingleHash64 and minhash are timed alone. */
  def kernels(spark: SparkSession, texts: Seq[String],
              minNs: Long = 150000000L): Map[String, Double] = {
    if (texts.isEmpty) return Map.empty
    val utf = texts.map(UTF8String.fromString).toArray
    val bytes = utf.map(_.numBytes.toLong).sum.toDouble
    val toks: Array[ArrayData] = utf.map(TextHash.wsTokens)
    // contentHash is a Column: resolve it against a one-column plan and
    // evaluate its generated projection row by row
    val one = spark.createDataFrame(java.util.List.of(Row("")),
      StructType(Seq(StructField("text", StringType))))
    val Project(exprs, child) =
      one.select(TextAnalysis.contentHash(col("text"))).queryExecution.analyzed
    val proj = UnsafeProjection.create(
      Seq(BindReferences.bindReference(exprs.head, child.output)))
    val rows = utf.map(u => InternalRow(u))
    var sink = 0L
    def time(name: String)(one: Int => Long): Seq[(String, Double)] = {
      var passes = 0
      val t0 = System.nanoTime
      while (System.nanoTime - t0 < minNs || passes == 0) {
        var i = 0
        while (i < utf.length) { sink += one(i); i += 1 }
        passes += 1
      }
      val s = (System.nanoTime - t0) / 1e9
      Seq(s"functions.$name.rows_per_s" -> utf.length * passes / s,
        s"functions.$name.bytes_per_s" -> bytes * passes / s)
    }
    val out = time("normalizeWs")(i => TextHash.normalizeWs(utf(i)).numBytes) ++
      time("wsTokens")(i => TextHash.wsTokens(utf(i)).numElements) ++
      time("shingleHash64")(i => TextHash.shingleHash64(toks(i), 3).numElements) ++
      time("minhash")(i => TextHash.minhash(toks(i), 128).getLong(0)) ++
      time("contentHash")(i => proj(rows(i)).getUTF8String(0).numBytes)
    if (sink == 42L) println("")  // keeps the kernel results live
    out.toMap
  }
}
