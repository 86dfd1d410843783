package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.apps.Pipelines
import graft.streaming.{DimStore, PageEvent, StatefulOps, StreamingPipelines, VisitRecord}

/** `dw_stream`: an open loop. A generator thread offers behaviour-log
  * JSON and Maxwell CDC envelopes in pulses, two seconds of traffic every
  * two seconds, on a fixed schedule that does not slow when the program
  * does. (Offered every 100 ms instead, the three queries never idle:
  * with the JIT compiler they keep all four cores busy, and latency then
  * follows how the compiler's work happens to fall in a run.) Three
  * queries share the session, each triggered back to back:
  *  - `vs`: parseKafkaJson → 10 s tumbling visitor stats → jdbcSink into
  *    embedded Derby;
  *  - `uv`: StatefulOps.dailyUvFilter (keyed state) → collected rows;
  *  - `dim`: Pipelines.routeCdc → DimStore.dimUpsertSink.
  * An event's latency runs from the moment its pulse was due to the
  * commit of the micro-batch that consumes it. At the end each
  * output is compared with a batch recomputation of the same input.
  */
final class StreamWorkload(c: Conf) extends Workload {
  import StreamWorkload._
  private var spark: SparkSession = _
  private var gen: StreamGen = _
  // a MemoryStream serves one query, so each log query has its own
  private var logIn: MemoryStream[String] = _
  private var logInUv: MemoryStream[String] = _
  private var cdcIn: MemoryStream[(String, Long)] = _
  private var queries: Map[String, StreamingQuery] = Map.empty
  private var url: String = _
  private var db: String = _
  private var ticksSent = 0L
  private val layer0 = mutable.LinkedHashMap[String, Double]()
  private val allLogs = mutable.ArrayBuffer.empty[String]
  private val allCdc = mutable.ArrayBuffer.empty[(String, Long)]
  private val uvOut = new ConcurrentLinkedQueue[(String, java.sql.Timestamp)]()
  private val sinkMs = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val progress = mutable.Map.empty[(String, Long), StreamingQueryProgress]
  private val props = new java.util.Properties()

  def setupLayer: Map[String, Double] = layer0.toMap

  private def timedSink[T](name: String, layer: String)(f: (T, Long) => Unit): (T, Long) => Unit =
    (df: T, id: Long) => {
      val (_, ms) = Trace.timedBatch(layer, s"op:$name", s"dw_stream/$name/b$id", spark.sparkContext)(f(df, id))
      sinkMs.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(ms)
    }

  def setup(ix: Int): SparkSession = {
    spark = Setup.session(c, Nil, layer0)
    val s = spark
    import s.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    db = s"pb_stream_$ix"
    url = s"jdbc:derby:${c.workDir.getAbsolutePath}/derby/db$ix;create=true"
    gen = new StreamGen(c.seed, LogsPerTick, CdcPerTick)
    ticksSent = 0L
    allLogs.clear(); allCdc.clear(); uvOut.clear(); sinkMs.clear(); progress.clear()
    logIn = MemoryStream[String]
    logInUv = MemoryStream[String]
    cdcIn = MemoryStream[(String, Long)]
    val ck = new java.io.File(c.workDir, s"ck$ix").getAbsolutePath
    def pagesOf(in: MemoryStream[String]) = Pipelines.splitPage(
      StreamingPipelines.parseKafkaJson(in.toDF().toDF("value"), Pipelines.logSchema))
    val pages = pagesOf(logIn)
    val vs = StreamingPipelines.windowedStats(
      pages.select(timestamp_millis(col("ts")).as("event_ts"), col("vc"), col("ch"), col("ar"),
        col("is_new"), col("mid").as("user_id"), col("during_time").as("value")),
      Seq("vc", "ch", "ar", "is_new"), "10 seconds", "event_ts", "10 seconds")
    val jdbc = StreamingPipelines.jdbcSink(url, VsTable, Nil, props)
    val qVs = vs.writeStream.outputMode("append").queryName(s"vs$ix")
      .foreachBatch(timedSink[DataFrame]("vs", "sources")(jdbc))
      .option("checkpointLocation", s"$ck/vs").trigger(Trigger.ProcessingTime(0)).start()
    val events = pagesOf(logInUv).select(col("mid"), col("page_id").as("pageId"),
      col("last_page_id").as("lastPageId"), col("is_new").as("isNew"),
      timestamp_millis(col("ts")).as("ts")).as[PageEvent]
    // no TTL: a processing-time timeout keeps a ProcessingTime(0) query
    // running no-data batches back to back
    val uv = StatefulOps.dailyUvFilter(events, ttl = None)(spark)
    val qUv = uv.writeStream.outputMode("append").queryName(s"uv$ix")
      .foreachBatch(timedSink[Dataset[VisitRecord]]("uv", "streaming") { (d, _) =>
        d.collect().foreach(r => uvOut.add((r.mid, r.ts)))
      })
      .option("checkpointLocation", s"$ck/uv").trigger(Trigger.ProcessingTime(0)).start()
    val cdc = cdcIn.toDF().toDF("value", "seq")
      .select(from_json(col("value"), Pipelines.cdcSchema).as("r"), col("seq"))
      .select(col("r.*"), col("seq"))
    val config = Seq(
      ("user_info", "insert", "hbase", DimTable, "id,name,tier"),
      ("user_info", "update", "hbase", DimTable, "id,name,tier"),
      ("order_info", "insert", "kafka", "dwd_order_info", "id,amount"))
      .toDF("source_table", "operate_type", "sink_type", "sink_table", "sink_columns")
    val dimSink = DimStore.dimUpsertSink(spark, db, Map(DimTable -> Seq("id", "name", "tier")),
      "id", Some("seq"))
    val qDim = Pipelines.routeCdc(cdc, config, Some("seq")).writeStream.queryName(s"dim$ix")
      .foreachBatch(timedSink[DataFrame]("dim", "streaming")(dimSink))
      .option("checkpointLocation", s"$ck/dim").trigger(Trigger.ProcessingTime(0)).start()
    queries = Map("vs" -> qVs, "uv" -> qUv, "dim" -> qDim)
    spark
  }

  /** Offers ticks to the three queries as one addition per stream;
    * returns the log and CDC end offsets.
    */
  private def offer(ts: Seq[Tick]): (Long, Long) = {
    val logs = ts.flatMap(_.logs)
    val cdc = ts.flatMap(_.cdc)
    val lo = logIn.addData(logs).asInstanceOf[LongOffset].offset
    val co = cdcIn.addData(cdc).asInstanceOf[LongOffset].offset
    logInUv.addData(logs)
    allLogs ++= logs
    allCdc ++= cdc
    ticksSent += ts.length
    (lo, co)
  }

  def teardown(): Unit = {
    queries.values.foreach(_.stop())
    queries = Map.empty
    Setup.stop(spark)
  }

  /** The first tick (every query plans, creates its state and tables,
    * and commits once), then one burst, which gets the JIT compiler
    * through most of the hot code before anything is measured.
    */
  def warmup(): Unit = {
    offer(Seq(gen.next()))
    queries.values.foreach(_.processAllAvailable())
    offer(Seq.fill(BurstTicks)(gen.next()))
    queries.values.foreach(_.processAllAvailable())
  }

  private def poll(): Unit = queries.foreach { case (n, q) =>
    q.recentProgress.foreach(p => progress((n, p.batchId)) = p)
  }

  private def endOffset(p: StreamingQueryProgress): Long =
    scala.util.Try(p.sources.head.endOffset.trim.stripPrefix("\"").stripSuffix("\"").toLong).getOrElse(-1L)

  private def commitEndMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      p.durationMs.getOrDefault("triggerExecution", 0L).toDouble

  private def committed(n: String): Long =
    progress.collect { case ((q, _), p) if q == n && p.numInputRows > 0 => endOffset(p) }
      .foldLeft(-1L)(math.max)

  private def caughtUp(lo: Long, co: Long): Boolean =
    committed("vs") >= lo && committed("uv") >= lo && committed("dim") >= co

  private var windows = 0

  /** Waits (at most 10 s) until no query has run a trigger for 150 ms:
    * a batch that moves the watermark is followed by a no-data batch
    * that emits the closed windows, which a burst must not wait behind.
    */
  private def awaitIdle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      quiet = if (queries.values.exists(_.status.isTriggerActive)) 0 else quiet + 1
    }
  }

  /** The first window of a run measures capacity with `Bursts` bursts;
    * the later ones of a traced run with one, to stay inside the run's
    * time limit.
    */
  def window(seconds: Double): Window = {
    windows += 1
    measure(seconds, strict = true, leadS = LeadS, bursts = if (windows == 1) Bursts else 1)
  }

  /** Capacity: `bursts` times, offers `BurstTicks` ticks at once to the
    * idle queries and times the drain, from the offer to the commit of
    * the last of the three queries that consumes the burst. Returns the
    * events (log lines plus CDC envelopes) drained per second, one
    * figure per burst.
    */
  private def drain(bursts: Int, timeoutS: Double): Seq[Double] =
    (1 to bursts).map { b =>
      val ticks = Seq.fill(BurstTicks)(gen.next())
      val events = ticks.map(t => t.logs.length + t.cdc.length).sum.toDouble
      awaitIdle()
      poll()
      val t0 = Trace.nowMs()
      val (lo, co) = Trace.span("gen", "burst", s"dw_stream/burst$b")(offer(ticks))
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (!caughtUp(lo, co) && System.nanoTime() < deadline) { Thread.sleep(10); poll() }
      queries.values.foreach(q => q.exception.foreach(e => throw e))
      if (!caughtUp(lo, co)) sys.error(s"dw_stream: a burst did not drain within $timeoutS s")
      val end = Seq("vs" -> lo, "uv" -> lo, "dim" -> co).map { case (n, off) =>
        progress.collect { case ((q, _), p) if q == n && p.numInputRows > 0 && endOffset(p) >= off => p }
          .map(commitEndMs).min
      }.max
      System.err.println(f"perfbench: burst $b: ${events}%.0f events drained in ${end - t0}%.0f ms")
      events / ((end - t0) / 1000.0)
    }

  /** Offers `leadS + seconds` of traffic at the reference rate, as one
    * pulse of `PulseTicks` ticks every `PulseTicks * TickMs` ms on a
    * fixed schedule, measures the latency of the pulses of the last
    * `seconds` (the lead warms the path a pulse takes), waits for the
    * queries to catch up, then measures capacity with `bursts` bursts.
    * With `strict` off (the single-core baseline, which need not keep
    * up), latency covers only the pulses committed within 10 s of the
    * last.
    */
  def measure(seconds: Double, strict: Boolean, leadS: Double, bursts: Int): Window = {
    val t0 = Trace.nowMs()
    awaitIdle()
    val pulseMs = TickMs * PulseTicks
    val skip = (leadS * 1000 / pulseMs).toInt
    val nPulses = skip + math.max(1, (seconds * 1000 / pulseMs).toInt)
    val recs = new ConcurrentLinkedQueue[(Double, Double, Long, Long)]() // due, sent, logOff, cdcOff
    val start = Trace.nowMs() + 50
    val measured = start + skip * pulseMs
    @volatile var failure: Throwable = null
    val genThread = new Thread(() => try {
      for (k <- 0 until nPulses) {
        // generated before it is due, so the offer itself is on time
        val pulse = Seq.fill(PulseTicks)(gen.next())
        val due = start + k * pulseMs
        val wait = due - Trace.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val (lo, co) = Trace.span("gen", "pulse", s"dw_stream/pulse$k")(offer(pulse))
        if (k >= skip) recs.add((due, Trace.nowMs(), lo, co))
      }
    } catch { case e: Throwable => failure = e }, "perfbench-generator")
    genThread.setDaemon(true)
    genThread.start()
    val backlog = mutable.ArrayBuffer.empty[(Double, Double)]
    while (genThread.isAlive) {
      Thread.sleep(50)
      poll()
      val r = recs.asScala.toSeq
      if (r.nonEmpty) {
        val lastLog = r.map(_._3).max
        val lastCdc = r.map(_._4).max
        val b = (math.max(lastLog - committed("vs"), lastLog - committed("uv")) * LogsPerTick +
          (lastCdc - committed("dim")) * CdcPerTick) * PulseTicks
        backlog += (((Trace.nowMs() - measured) / 1000.0, b.toDouble))
      }
    }
    genThread.join()
    if (failure != null) throw failure
    val rs = recs.asScala.toSeq
    val (lastLog, lastCdc) = (rs.map(_._3).max, rs.map(_._4).max)
    val deadline = System.nanoTime() + (if (strict) 60e9 else 10e9).toLong
    while (!caughtUp(lastLog, lastCdc) && System.nanoTime() < deadline) { Thread.sleep(20); poll() }
    queries.values.foreach(q => q.exception.foreach(e => throw e))
    if (strict && !caughtUp(lastLog, lastCdc))
      sys.error("dw_stream: queries did not catch up within 60 s of the last pulse")
    val latencyEnd = Trace.nowMs()
    // per query: progress ordered by end offset, for "first batch that
    // covers offset o"
    val byQuery = Seq("vs", "uv", "dim").map { n =>
      n -> progress.collect { case ((q, _), p) if q == n && p.numInputRows > 0 => p }.toSeq.sortBy(endOffset)
    }.toMap
    def commitOf(n: String, off: Long): Option[Double] =
      byQuery(n).find(p => endOffset(p) >= off).map(commitEndMs)
    // one latency series per query, a sample per pulse (every event of a
    // pulse waits the same); the end-to-end figure is `vs`, the
    // visitor-stats path into the serving store
    def latOf(q: String, offset: ((Double, Double, Long, Long)) => Long): Seq[Double] =
      rs.flatMap(r => commitOf(q, offset(r)).map(_ - r._1))
    val lat = latOf("vs", _._3)
    val others = Map("uv" -> latOf("uv", _._3), "dim" -> latOf("dim", _._4))
    def startMs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val inWindow = progress.values.filter(p => startMs(p) >= measured && startMs(p) < latencyEnd).toSeq
    val offered = rs.length.toDouble * (LogsPerTick + CdcPerTick) * PulseTicks
    val layer = layerMetrics(inWindow, backlog.toSeq.filter(_._1 >= 0), rs, offered, rs.length * pulseMs / 1000.0) ++
      others.map { case (q, l) => s"streaming.${q}_latency_p50_ms" -> (if (l.isEmpty) 0.0 else Stats.median(l)) }
    // throughput is capacity, the rate at which the queries drain a
    // burst: at the reference rate they only keep pace with the offer
    val rates = drain(bursts, if (strict) 60.0 else 120.0)
    val ops = progress.values.count(p => startMs(p) >= t0 && p.numInputRows > 0)
    Window(lat, offered, (Trace.nowMs() - t0) / 1000.0, ops, layer, rates)
  }

  private def meanOf(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def layerMetrics(ps: Seq[StreamingQueryProgress], backlog: Seq[(Double, Double)],
                           recs: Seq[(Double, Double, Long, Long)], offered: Double,
                           windowS: Double): Map[String, Double] = {
    def d(p: StreamingQueryProgress, k: String): Double = p.durationMs.getOrDefault(k, 0L).toDouble
    val nonEmpty = ps.filter(_.numInputRows > 0)
    val stateful = ps.flatMap(_.stateOperators)
    val lastState = Seq("vs", "uv").flatMap { n =>
      ps.filter(_.name.startsWith(n)).sortBy(_.batchId).lastOption.toSeq.flatMap(_.stateOperators)
    }
    val (growing, slope) = Stats.backlogGrowing(backlog.map(_._1), backlog.map(_._2), offered / windowS)
    if (growing) System.err.println(s"perfbench: dw_stream backlog grows (${slope} rows/s)")
    val lags = recs.map(r => r._2 - r._1)
    Map(
      "streaming.batches" -> ps.length.toDouble,
      "streaming.empty_batch_ratio" -> (if (ps.isEmpty) 0.0 else (ps.length - nonEmpty.length).toDouble / ps.length),
      "streaming.trigger_ms" -> meanOf(nonEmpty.map(d(_, "triggerExecution"))),
      "streaming.add_batch_ms" -> meanOf(nonEmpty.map(d(_, "addBatch"))),
      "streaming.planning_ms" -> meanOf(nonEmpty.map(d(_, "queryPlanning"))),
      "streaming.wal_commit_ms" -> meanOf(nonEmpty.map(p => d(p, "walCommit") + d(p, "commitOffsets"))),
      "streaming.rows_per_batch" -> meanOf(nonEmpty.map(_.numInputRows.toDouble)),
      "streaming.backlog_rows_max" -> (if (backlog.isEmpty) 0.0 else backlog.map(_._2).max),
      "streaming.backlog_slope" -> slope,
      "streaming.state_rows" -> lastState.map(_.numRowsTotal.toDouble).sum,
      "streaming.state_mem_bytes" -> lastState.map(_.memoryUsedBytes.toDouble).sum,
      "streaming.state_commit_ms" -> meanOf(stateful.map(_.commitTimeMs.toDouble)),
      "streaming.rows_dropped_by_watermark" -> stateful.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "streaming.dim_upsert_ms" -> meanOf(Option(sinkMs.get("dim")).map(_.asScala).getOrElse(Nil)),
      "sources.jdbc_write_ms" -> meanOf(Option(sinkMs.get("vs")).map(_.asScala).getOrElse(Nil)),
      "sources.jdbc_rows" -> jdbcRows(),
      "gen.lag_ms_p99" -> (if (lags.isEmpty) 0.0 else Stats.percentile(lags, 99.0)),
      "gen.events_offered" -> offered)
  }

  private def jdbcRows(): Double = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $VsTable")
      rs.next(); rs.getLong(1).toDouble
    } catch { case _: java.sql.SQLException => 0.0 }
    finally conn.close()
  }

  def finish(): (Long, Long) = {
    val s = spark
    import s.implicits._
    // one page event an hour past the end closes every real window
    logIn.addData(gen.flushLine(ticksSent))
    logInUv.addData(gen.flushLine(ticksSent))
    queries.values.foreach(_.processAllAvailable())
    // the twins' input, parsed once and spread over the cores (a local
    // relation of every line would run as one task)
    val pages = Pipelines.splitPage(StreamingPipelines.parseKafkaJson(
      spark.sparkContext.parallelize(allLogs.toSeq, 4 * c.cores).toDF("value"), Pipelines.logSchema))
      .persist()
    val statCols = Seq("stt", "edt", "vc", "ch", "ar", "is_new", "pv_ct", "uv_ct", "dur_sum").map(col)
    val vsOk = Digest.ofFrame(Pipelines.visitorStats(pages, "10 seconds").select(statCols: _*)) ==
      Digest.ofFrame(graft.sources.Jdbc.readTable(spark, url, VsTable, props).select(statCols: _*))
    val uvTwin = Pipelines.dailyUv(pages).select(col("mid"), col("dt").cast("string").as("dt"))
    val uvGot = uvOut.asScala.toSeq.map { case (m, ts) =>
      (m, java.time.Instant.ofEpochMilli(ts.getTime).atZone(java.time.ZoneOffset.UTC).toLocalDate.toString)
    }.toDF("mid", "dt")
    val uvOk = Digest.ofFrame(uvTwin) == Digest.ofFrame(uvGot)
    val dimOk = Digest.ofFrame(expectedDim(allCdc.toSeq).toSeq.map { case (id, (n, t)) => (id, n, t) }
      .toDF("id", "name", "tier")) ==
      Digest.ofFrame(DimStore.dimTable(spark, db, DimTable).select("id", "name", "tier"))
    pages.unpersist()
    Seq("vs" -> vsOk, "uv" -> uvOk, "dim" -> dimOk).filterNot(_._2).foreach { case (n, _) =>
      System.err.println(s"perfbench: dw_stream $n output differs from its batch twin")
    }
    val nLogs = allLogs.length.toLong
    val nCdc = allCdc.length.toLong
    val failed = (if (vsOk && uvOk) 0L else nLogs) + (if (dimOk) 0L else nCdc)
    // drop the harness's own copies so the heap measured next is the
    // program's
    allLogs.clearAndShrink(0); allCdc.clearAndShrink(0); uvOut.clear(); sinkMs.clear(); progress.clear()
    (nLogs + nCdc, failed)
  }
}

object StreamWorkload {
  /** Event time a tick covers; ticks reach the queries in pulses of
    * `PulseTicks`, one pulse every `PulseTicks * TickMs` ms.
    */
  val TickMs = 100.0
  val PulseTicks = 20
  /** Seconds offered at the reference rate before a latency window. */
  val LeadS = 2.0
  /** Capacity bursts in a run's first window, and ticks per burst. */
  val Bursts = 3
  val BurstTicks = 300
  /** The reference rate: 2000 log events and 200 CDC envelopes per second. */
  val LogsPerTick = 200
  val CdcPerTick = 20
  val VsTable = "dws_visitor_stats"
  val DimTable = "dim_user_info"

  private val CdcUser =
    """"table":"user_info","type":"([a-z-]+)".*"data":\{"id":"([^"]+)","name":"([^"]+)","tier":"([^"]+)"""".r

  /** Last write wins per key, in stream order: the dim table's twin. */
  def expectedDim(cdc: Seq[(String, Long)]): Map[String, (String, String)] =
    cdc.sortBy(_._2).foldLeft(Map.empty[String, (String, String)]) { case (m, (line, _)) =>
      CdcUser.findFirstMatchIn(line) match {
        case Some(x) => m.updated(x.group(2), (x.group(3), x.group(4)))
        case None => m
      }
    }
}
