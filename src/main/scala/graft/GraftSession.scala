package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine, and the ONLY place graft's
  * session configuration is decided. Every entry point (`Bench`,
  * `Verify`, `Profile`, `Explain`, `ScaleGen`, `PiiGen`, the tests and
  * the external benchmark harness) builds its session here; operators
  * and declared queries never set a conf, so a caller's session —
  * e.g. one with AQE switched off — is the session a query runs under.
  *
  * Local testing runs `local[N]`, but every config here is chosen for
  * cluster scale: AQE (runtime re-plan, skew-join splitting, partition
  * coalescing), shuffle partitions sized to the parallelism at hand
  * rather than the 200 default, UTC session time for deterministic
  * time semantics (reference stores UTC timestamps —
  * weather_collector.py stores ISO timestamps).
  */
object GraftSession {
  /** Parallelism: SPARK_GRAFT_CPUS if set, else all cores. Shuffle
    * partitions are sized to this (not the 200 default) so local runs
    * don't fragment into hundreds of tiny tasks. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private val excludedRules = "spark.sql.optimizer.excludedRules"

  /** The runtime-settable SQL confs graft runs under; [[builder]] and
    * [[tune]] both apply exactly this list. */
  private val sqlConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // testdata events.ts is parquet TIMESTAMP(NANOS); Spark reads it
    // as LongType (nanos) with this flag — Tables.events converts.
    // Without it a TIMESTAMP(NANOS)-encoded file fails the scan
    // outright ("Illegal Parquet type"), so it must be set before any
    // events.parquet read.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // InferFiltersFromGenerate re-evaluates the generator child as a
    // `size(e) > 0 AND isnotnull(e)` pre-filter — for this engine's
    // explode(<kernel>(text)) scan shape that is one to two EXTRA
    // tokenize/hash passes per row at the scan (17 bench queries
    // carried it; q_dedup_spans paid shinglehashpos(wstokens(text))
    // three times per row). An inner Generate already emits nothing
    // for null/empty arrays, so at every scale the inferred filter
    // only duplicates work; scale-independent, not a local tune.
    excludedRules ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  def builder(master: String = s"local[${GraftSession.cpus}]",
              shufflePartitions: Int = GraftSession.cpus)
      : SparkSession.Builder =
    sqlConfs.foldLeft(SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))) {
      case (b, (k, v)) => b.config(k, v)
    }

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply [[sqlConfs]] to a session built outside graft. The rule
    * exclusion is APPENDED to the session's own excluded-rule list
    * rather than clobbering it: the list is session-global, so an
    * external session's exclusions must survive. Sessions from
    * [[builder]] already carry every conf here. */
  def tune(spark: SparkSession): SparkSession = {
    sqlConfs.foreach {
      case (`excludedRules`, rule) =>
        val existing = spark.conf.get(excludedRules, "")
        spark.conf.set(excludedRules, (existing.split(",").map(_.trim)
          .filter(_.nonEmpty) :+ rule).distinct.mkString(","))
      case (k, v) => spark.conf.set(k, v)
    }
    spark
  }
}
