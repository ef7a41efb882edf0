package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Harness entry point: one JVM runs one workload.
  *
  *   graftbench.Main --workload W --inputs DIR --work DIR --out FILE
  *                   --seconds S --trace 0|1 --seed N --cores N
  *                   --launch-ns EPOCH_NS
  *
  * Phases: set-up (session, table registration, warm-up) ends at the
  * first timed operation; operations then run back to back from this
  * one thread until `seconds` have passed; check data and the result
  * record are written after the timed region. `--launch-ns` is the
  * wall-clock instant the caller started this process, so the
  * recorded set-up time includes JVM start. */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val cores = opt("cores").toInt
    val spark = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (wallNs() - opt("launch-ns").toLong) / 1e9
    val ctx = new Ctx(spark, opt("workload"), opt("inputs"), opt("work"),
      opt("seconds").toDouble, opt("trace") == "1", opt("seed").toLong, cores)
    try {
      val workload: Workload = ctx.workload match {
        case "dashboard" => new Dashboard(ctx)
        case "curate"    => new Curate(ctx)
        case "ingest"    => new Ingest(ctx)
        case other       => sys.error(s"unknown workload $other")
      }
      try {
        workload.setup()
        val setupS = (wallNs() - opt("launch-ns").toLong) / 1e9
        workload.measure()
        workload.finish()
        val record = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS,
          "session_s" -> sessionS) ++ ctx.report(workload)
        Files.writeString(Paths.get(opt("out")), Json(record))
      } finally workload.close()
    } finally spark.stop()
  }

  /** Wall clock in epoch nanoseconds (microsecond resolution). */
  def wallNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}

/** One timed operation. `rows` is the size of its result. */
final case class OpRecord(id: Int, kind: String, startNs: Long, endNs: Long,
                          traced: Boolean, window: Boolean, rows: Long,
                          error: Option[String]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** State shared by the harness and the running workload. */
final class Ctx(val spark: SparkSession, val workload: String, val inputs: String,
                val work: String, val seconds: Double, val trace: Boolean,
                val seed: Long, val cores: Int) {
  val tracer = new Tracer(trace)
  val engine: Option[EngineListener] =
    if (trace) { val l = new EngineListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None
  val rng = new java.util.Random(seed * 1000003L + workload.hashCode)
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  /** Facts the checks need beyond the operations themselves. */
  val extra = mutable.LinkedHashMap.empty[String, Any]
  private var measureStartNs = 0L

  def startMeasuring(): Unit = measureStartNs = System.nanoTime
  def timeLeft: Boolean = System.nanoTime - measureStartNs < (seconds * 1e9).toLong
  /** Keep measuring: time is left, or a traced run still has an
    * operation kind without a traced sample between two untraced ones. */
  def more: Boolean = timeLeft || (trace && (ops.count(_.window) < 3 ||
    ops.filter(_.window).groupBy(_.kind).values.exists(_.size < 3)))

  /** Time `body` (which returns its result's row count) as one
    * operation. In a traced run the window's operations of each kind
    * alternate untraced, traced, ..., so the run also yields the
    * untraced latency the tracing overhead is measured against;
    * operations outside the timed `window` are always traced. An
    * exception fails the operation and the run continues. */
  def op(kind: String, window: Boolean = true)(body: => Long): OpRecord = {
    val id = ops.size
    val traced = trace && (!window || ops.count(_.kind == kind) % 2 == 1)
    val t0 = System.nanoTime
    val (rows, err) =
      try (tracer.op(id, kind, traced)(body), None)
      catch { case e: Exception => (0L, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
    val rec = OpRecord(id, kind, t0, System.nanoTime, traced, window, rows, err)
    ops += rec
    rec
  }

  /** Mark an already-recorded operation failed (a wrong answer found
    * after its timed region). */
  def fail(rec: OpRecord, why: String): Unit =
    ops(rec.id) = rec.copy(error = Some(rec.error.getOrElse(why)))

  def path(name: String): String = Paths.get(work, name).toString

  def report(w: Workload): collection.Map[String, Any] = {
    val out = mutable.LinkedHashMap[String, Any](
      "cores" -> cores,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "ops" -> ops.map(o => mutable.LinkedHashMap[String, Any](
        "kind" -> o.kind, "ms" -> o.ms, "traced" -> o.traced, "window" -> o.window,
        "rows" -> o.rows,
        "error" -> o.error)),
      "extra" -> extra)
    if (trace) {
      org.apache.spark.sql.perfbench.Access.drainListenerBus(spark)
      out("layers") = Layers.summarize(this, w)
      out("spans") = tracer.spans.map(s => Seq(s.id, s.parent, s.op, s.layer, s.name,
        s.startNs, s.endNs))
    }
    out
  }
}

/** A workload: set-up (registration + warm-up, not timed), the timed
  * loop, and the post-run step that writes what the checks need. */
trait Workload {
  def setup(): Unit
  def measure(): Unit
  def finish(): Unit
  def close(): Unit = ()
  /** Text the workload's kernels see, for the single-threaded kernel
    * timings of a traced run. */
  def kernelText(): Seq[String]
  /** Extra per-layer metrics only this workload can measure. */
  def layerExtras(): collection.Map[String, Double] = Map.empty
}
