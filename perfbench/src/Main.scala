package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Settings of one benchmark run. */
final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      dataDir: String, workDir: java.io.File, digests: java.io.File,
                      cores: Int, layerNames: Seq[String], traceDir: java.io.File)

/** What a workload measured in one window. `latMs` holds one latency per
  * query, event or batch; `work` is the queries, documents or events handled
  * in `elapsedS` busy seconds; `ops` counts the program calls (query
  * executions or micro-batches) that per-layer figures are averaged
  * over. `rates`, when given, are separately measured throughputs whose
  * median replaces work / elapsedS.
  */
final case class Window(latMs: Seq[Double], work: Double, elapsedS: Double, ops: Int,
                        layer: Map[String, Double], rates: Seq[Double] = Nil) {
  def perS: Double = if (rates.nonEmpty) Stats.median(rates) else work / elapsedS
}

/** A workload's lifecycle: `setup` builds a session and everything the
  * workload needs before its first operation (run several times, the
  * median is `setup_s`); `teardown` undoes one setup; `warmup` is run
  * once, untimed; `window` measures; `finish` checks the outputs and
  * returns (attempted, failed).
  */
trait Workload {
  def setup(ix: Int): SparkSession
  def teardown(): Unit
  def warmup(): Unit
  def window(seconds: Double): Window
  def finish(): (Long, Long)
  /** Per-layer figures gathered by `setup` (the kept one). */
  def setupLayer: Map[String, Double]
}

object Main {

  /** Set-ups per run; their median is setup_s. */
  val Setups = 3

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("selftest")) { SelfTest.run(args.drop(1)); return }
    if (args.headOption.contains("oracle-sql")) { OracleSql.print(args.drop(1)); return }
    if (args.headOption.contains("spark-digests")) { OracleSql.sparkDigests(args.drop(1)); return }
    val conf = Conf(
      workload = arg(args, "--workload").getOrElse(sys.error("--workload required")),
      seed = arg(args, "--seed").map(_.toLong).getOrElse(1L),
      seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0),
      trace = arg(args, "--trace").contains("1"),
      dataDir = arg(args, "--data").getOrElse(sys.error("--data required")),
      workDir = new java.io.File(arg(args, "--work").getOrElse(sys.error("--work required"))),
      digests = new java.io.File(arg(args, "--digests").getOrElse("perfbench/digests.json")),
      cores = arg(args, "--cores").map(_.toInt).getOrElse(4),
      layerNames = arg(args, "--layer-metrics").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      traceDir = new java.io.File(arg(args, "--trace-dir").getOrElse("traces")))
    val code = try run(conf) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
        2
    }
    System.out.flush()
    // Spark leaves non-daemon threads behind; exit explicitly
    sys.exit(code)
  }

  /** The untimed warm-up, then a pause until the JIT backlog drains. */
  private def warm(w: Workload): Unit = {
    w.warmup()
    graft.Bench.jitQuiesce(2000L)
    System.gc()
  }

  /** One window with tracing on: spans plus a SparkListener. Returns the
    * window and its per-layer figures, engine counts per operation.
    */
  def tracedWindow(w: Workload, c: Conf): (Window, Map[String, Double]) = {
    import scala.jdk.CollectionConverters._
    val listener = new EngineListener
    val sc = SparkSession.active.sparkContext
    val first = Trace.all.length
    Trace.on = true
    sc.addSparkListener(listener)
    val (gc0, jit0) = (Jvm.gcMs(), Jvm.jitMs())
    val win = try w.window(c.seconds) finally {
      // drain the listener bus before reading its counters
      org.apache.spark.perfbench.BusDrain(sc)
      sc.removeSparkListener(listener)
      Trace.on = false
    }
    val (gc1, jit1) = (Jvm.gcMs(), Jvm.jitMs())
    val ops = math.max(1, win.ops).toDouble
    val spans = Trace.all.drop(first)
    val layer = mutable.LinkedHashMap[String, Double]()
    layer ++= win.layer
    layer("engine.jobs") = listener.jobs.get / ops
    layer("engine.stages") = listener.stages.get / ops
    layer("engine.tasks") = listener.tasks.get / ops
    layer("engine.stage_ms_sum") = listener.stageMsSum.get / ops
    layer("engine.task_cpu_ms") = listener.taskCpuNs.get / 1e6 / ops
    layer("engine.task_deser_ms") = listener.taskDeserMs.get / ops
    layer("engine.task_gc_ms") = listener.taskGcMs.get / ops
    layer("engine.shuffle_write_bytes") = listener.shuffleWrite.get / ops
    layer("engine.shuffle_read_bytes") = listener.shuffleRead.get / ops
    layer("engine.spill_bytes") = listener.spill.get / ops
    layer("engine.slot_busy_ratio") = listener.taskRunMs.get / (win.elapsedS * 1000.0 * c.cores)
    val skews = listener.skew.asScala.toSeq
    layer("engine.skew_max_over_median") = if (skews.isEmpty) 1.0 else Stats.median(skews)
    // driver gap: per operation span, its wall minus the union of the
    // stage intervals submitted under it
    val kids = spans.groupBy(_.parent)
    def stagesUnder(id: Long): Seq[Span] = kids.getOrElse(id, Nil).flatMap { k =>
      if (k.layer == "engine") Seq(k) else stagesUnder(k.id)
    }
    layer("engine.driver_gap_ms") = spans.filter(_.name.startsWith("op:")).map { s =>
      s.ms - Trace.unionMs(stagesUnder(s.id).map(k =>
        (math.max(k.start, s.start), math.min(k.end, s.end))).filter(iv => iv._2 > iv._1))
    }.sum / ops
    // the ops layer: direct calls into graft.ops (the corpus-ingest probe)
    for (f <- Seq("Dedup", "Decontaminate")) {
      val calls = spans.filter(s => s.layer == "ops" && s.name == s"probe:$f")
      val st = calls.flatMap(s => stagesUnder(s.id))
      layer(s"ops.$f.ms") = calls.map(_.ms).sum
      layer(s"ops.$f.stages") = st.length.toDouble
      layer(s"ops.$f.stage_ms") = st.map(_.ms).sum
    }
    val self = Trace.selfMsByLayer(spans)
    for (l <- Seq("entry", "engine", "ops", "streaming", "ingest", "sources", "gen"))
      layer(s"self_ms.$l") = self.getOrElse(l, 0.0) / ops
    layer("jvm.gc_ms") = (gc1 - gc0).toDouble
    layer("jvm.jit_ms") = (jit1 - jit0).toDouble
    layer("jvm.code_cache_mb") = Jvm.codeCacheMb()
    layer("jvm.loaded_classes") = Jvm.loadedClasses()
    (win, layer.toMap)
  }

  private val t00 = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"perfbench: +${(System.nanoTime() - t00) / 1e9}%.1f s $what")

  def run(c: Conf): Int = {
    val w: Workload = c.workload match {
      case "dw_batch" => new BatchWorkload(c)
      case "dw_stream" => new StreamWorkload(c)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up, several times: the median is setup_s; a traced run keeps
    // the set-up spans (layer core)
    Trace.on = c.trace
    Jvm.gcMs()
    val setupMs = (1 to Setups).map { i =>
      val (_, ms) = Trace.timed("core", "setup", s"${c.workload}/setup$i")(w.setup(i))
      if (i < Setups) w.teardown()
      ms
    }
    val layer = mutable.LinkedHashMap[String, Double]()
    layer ++= w.setupLayer
    Trace.on = false
    phase("set-up done")
    warm(w)
    phase("warm-up done")

    val out = mutable.LinkedHashMap[String, (Double, Long)]()
    out("setup_s") = (Stats.median(setupMs) / 1000.0, setupMs.length.toLong)
    def e2e(win: Window, prefix: String): Unit = {
      val n = win.latMs.length.toLong
      out(prefix + "latency_p50_ms") = (Stats.median(win.latMs), n)
      Stats.tailPercentile(win.latMs.length).filter(_ > 50.0).foreach { p =>
        out(prefix + s"latency_p${Json.num(p)}_ms") = (Stats.percentile(win.latMs, p), n)
      }
      out(prefix + "throughput_per_s") = (win.perS, if (win.rates.nonEmpty) win.rates.length.toLong else n)
    }
    // the untraced window gives the end-to-end metrics; a traced run
    // then measures a traced window and a second untraced one, and the
    // tracing overhead is the traced median latency against the mean of
    // the untraced medians before and after it (which cancels the
    // warm-up a later window enjoys)
    val (jit0, gc0) = (Jvm.jitMs(), Jvm.gcMs())
    val plain = w.window(c.seconds)
    phase("window done")
    e2e(plain, "")
    out("jvm.jit_ms") = ((Jvm.jitMs() - jit0).toDouble, 1L)
    out("jvm.gc_ms") = ((Jvm.gcMs() - gc0).toDouble, 1L)
    var opsN = plain.ops.toLong
    if (c.trace) {
      val (traced, l) = tracedWindow(w, c)
      phase("traced window done")
      val after = w.window(c.seconds)
      phase("second untraced window done")
      e2e(traced, "trace.")
      val untraced = (Stats.median(plain.latMs) + Stats.median(after.latMs)) / 2.0
      out("trace.overhead_pct") =
        ((Stats.median(traced.latMs) / untraced - 1.0) * 100.0, traced.latMs.length.toLong)
      layer ++= l
      opsN = traced.ops.toLong
    }
    // finish checks the outputs and drops the harness's own copies of the
    // inputs, so the heap figure after it is the program's
    var (attempted, failed) = w.finish()
    phase("checks done")
    out("live_heap_mb") = (Jvm.liveHeapMb(), 1L)
    w.teardown()
    if (c.trace && c.workload == "dw_batch") {
      // the corpus-ingest loop, traced: the ops and ingest layers
      val ing = new IngestWorkload(c)
      ing.setup(Setups + 1)
      warm(ing)
      val (iw, l) = tracedWindow(ing, c)
      val (a, f) = ing.finish()
      ing.teardown()
      attempted += a
      failed += f
      layer ++= l.filter { case (k, _) =>
        k.startsWith("ingest.") || k.startsWith("ops.") || k == "self_ms.ingest" || k == "self_ms.ops"
      }
      layer("ingest.docs_per_s") = iw.perS
      layer("ingest.batch_p50_ms") = Stats.median(iw.latMs)
      phase("corpus-ingest segment done")
    }
    if (c.trace && c.workload == "dw_stream") {
      // the single-thread baseline: the same job on local[1]
      val base = new StreamWorkload(c.copy(cores = 1))
      base.setup(Setups + 1)
      // a third of the window, so a traced run stays inside its time limit
      val bw = base.measure(c.seconds / 3, strict = false, leadS = 0.0, bursts = 1)
      base.teardown()
      // nothing committed within 10 s of the last tick: report that bound
      layer("baseline_1core.latency_p50_ms") =
        if (bw.latMs.isEmpty) (c.seconds + 10) * 1000.0 else Stats.median(bw.latMs)
      layer("baseline_1core.throughput_per_s") = bw.perS
      phase("single-core baseline done")
    }
    if (c.trace) {
      // a layer this workload does not exercise reads zero
      c.layerNames.filterNot(layer.contains).filterNot(out.contains).foreach(layer(_) = 0.0)
      layer.foreach { case (k, v) => out(k) = (v, opsN) }
      val traceFile = new java.io.File(c.traceDir, s"${c.workload}-seed${c.seed}.jsonl")
      Trace.writeJsonl(traceFile, Trace.all)
      System.err.println(s"perfbench: ${Trace.all.length} spans written to $traceFile")
    }
    val metrics = out.map { case (k, (v, n)) =>
      s""""$k":{"value":${Json.num(v)},"n":$n}"""
    }.mkString(",")
    println(s"""PERFBENCH {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$metrics}}""")
    if (failed == 0) 0 else 1
  }
}
