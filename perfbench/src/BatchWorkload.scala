package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec}

import graft.core.{GraftSession, Tables}

/** Shared set-up of the workloads: one session on the fixture directory,
  * resolved once and passed explicitly, plus the tables a workload reads.
  */
object Setup {
  def session(c: Conf, tables: Seq[String], layer: mutable.Map[String, Double]): SparkSession = {
    val (width, probeMs) = Trace.timed("core", "width_probe", "setup") {
      GraftSession.shufflePartitionsFor(c.dataDir, c.cores)
    }
    val (spark, sessionMs) = Trace.timed("core", "session", "setup") {
      GraftSession.local(c.cores, Some(c.dataDir))
    }
    val (_, loadMs) = Trace.timed("core", "table_load", "setup") {
      tables.foreach(t => Tables.load(spark, c.dataDir, t).schema)
    }
    layer("core.width_probe_ms") = probeMs
    layer("core.session_ms") = sessionMs
    layer("core.table_load_ms") = loadMs
    layer("core.table_loads") = tables.length.toDouble
    // the width the session really got: a silent fallback to the core
    // count shows here as a changed number
    layer("core.shuffle_partitions") = spark.conf.get("spark.sql.shuffle.partitions").toDouble
    if (spark.conf.get("spark.sql.shuffle.partitions").toInt != width)
      System.err.println(s"perfbench: width probe said $width, session has " +
        spark.conf.get("spark.sql.shuffle.partitions"))
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The blocking part of graft.Bench.releaseAll: drop every cached
    * block a query left behind, without its GC and JIT waits.
    */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    graft.ops.CacheScope.release(spark)
  }
}

/** `dw_batch`: one closed-loop client runs the warehouse queries in
  * whole passes, each pass in a seed-shuffled order. Every execution
  * consumes all its rows and is checked against the query's DuckDB
  * oracle digest.
  */
final class BatchWorkload(c: Conf) extends Workload {
  import BatchWorkload._
  private var spark: SparkSession = _
  private val layer0 = mutable.LinkedHashMap[String, Double]()
  private val expected: Map[String, String] = readDigests(c.digests)
  private var attempted = 0L
  private var failed = 0L
  private var pass = 0

  def setup(ix: Int): SparkSession = {
    spark = Setup.session(c, tables, layer0)
    spark
  }
  def setupLayer: Map[String, Double] = layer0.toMap
  def teardown(): Unit = Setup.stop(spark)

  /** One untimed pass. A second one would make the measured pass about a
    * fifth faster but costs 20 s a run, which the benchmark's time budget
    * does not allow.
    */
  def warmup(): Unit = queries.foreach { q => execute(q); Setup.release(spark) }

  /** Build, plan, run and check one query; returns per-phase ms and
    * AQE's final shuffle-read partition count.
    */
  private def execute(q: String): (Double, Double, Double, Int) = {
    val sc = Some(spark.sparkContext)
    val trace = s"dw_batch/p$pass/$q"
    val (df, buildMs) = Trace.timed("entry", "build", trace, sc)(graft.SparkEntry.queries(q)(spark, c.dataDir))
    val (_, planMs) = Trace.timed("entry", "plan", trace, sc)(df.queryExecution.executedPlan)
    val (digest, execMs) = Trace.timed("entry", "exec", trace, sc)(Digest.ofFrame(df))
    attempted += 1
    if (!expected.get(q).contains(digest)) {
      failed += 1
      System.err.println(s"perfbench: $q digest $digest != oracle ${expected.getOrElse(q, "(none)")}")
    }
    val aqe = if (Trace.on) finalPartitions(df.queryExecution.executedPlan) else 0
    (buildMs, planMs, execMs, aqe)
  }

  /** Whole passes, one per `PassSeconds` of `seconds` (at least one): a
    * pass cut short would change the query mix between runs.
    */
  def window(seconds: Double): Window = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val phases = mutable.ArrayBuffer.empty[(Double, Double, Double, Int)]
    var busy = 0.0
    for (_ <- 1 to math.max(1, (seconds / PassSeconds).toInt)) {
      pass += 1
      val order = new Rng(c.seed * 1000003L + pass).shuffle(queries)
      order.foreach { q =>
        val (r, ms) = Trace.timed("entry", s"op:$q", s"dw_batch/p$pass/$q", Some(spark.sparkContext)) {
          execute(q)
        }
        lat += ms
        busy += ms
        phases += r
        Setup.release(spark)
      }
    }
    val n = phases.length.toDouble
    Window(lat.toSeq, lat.length.toDouble, busy / 1000.0, lat.length, Map(
      "entry.build_ms" -> phases.map(_._1).sum / n,
      "entry.plan_ms" -> phases.map(_._2).sum / n,
      "entry.exec_ms" -> phases.map(_._3).sum / n,
      "engine.aqe_final_partitions" -> phases.map(_._4).sum / n))
  }

  def finish(): (Long, Long) = (attempted, failed)
}

object BatchWorkload {
  /** The paper's batch surface: DWD/DWM/DWS warehouse queries plus the
    * log split, CDC routing and the SQL twin of province stats.
    */
  val queries: Seq[String] = Seq(
    "q01_pricing_summary", "q02_visitor_stats", "q03_province_stats", "q04_keyword_stats",
    "q06_order_line_interval_join", "q07_purchase_attribution", "q08_dim_enrich",
    "q09_new_visitor_fix", "q10_daily_uv", "q11_bounce_detect", "q15_config_router",
    "q16_union_onehot", "q41_json_parse", "q45_log_pipeline", "q46_cdc_pipeline",
    "q104_province_stats_sql")

  /** Seconds of `--seconds` per pass (a warm pass takes 9–11 s on four
    * cores). Runs differ by JVM far more than by pass (a second measured
    * pass per run did not narrow the run-to-run spread), so one pass it is.
    */
  val PassSeconds = 20.0

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Entry = "\"([A-Za-z0-9_]+)\"\\s*:\\s*\"([0-9]+:[0-9a-f]{16})\"".r

  def readDigests(f: java.io.File): Map[String, String] =
    if (!f.isFile) Map.empty
    else Entry.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .map(m => m.group(1) -> m.group(2)).toMap

  /** Sum of the partitions AQE's shuffle reads ended with. */
  def finalPartitions(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    val fin = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    fin.collect { case r: AQEShuffleReadExec => r.partitionSpecs.length }.sum
  }
}
