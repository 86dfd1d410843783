package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * with sub-millisecond precision so driver spans and Spark's stage
  * times share one clock.
  */
final case class Span(id: Long, parent: Long, trace: String, layer: String, name: String,
                      start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = end - start
}

/** In-memory span recorder. Spans are recorded around the benchmark's
  * calls into each layer (and, for the engine, from a SparkListener);
  * nothing is written until the run ends. With tracing off, `span` only
  * times its body.
  */
object Trace {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  /** The local property that carries the enclosing span into Spark jobs. */
  val SpanProp = "perfbench.span"

  private val epochOffsetMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs(): Double = epochOffsetMs + System.nanoTime() / 1e6

  def newId(): Long = ids.incrementAndGet()
  def current: Long = stack.get().headOption.getOrElse(0L)

  def record(s: Span): Unit = if (on) spans.add(s)

  /** Time `body` as a span of `layer`; returns (result, elapsed ms). */
  def timed[T](layer: String, name: String, trace: String,
               sc: Option[SparkContext] = None)(body: => T): (T, Double) = {
    val id = newId()
    val parent = current
    val prevProp = sc.map(_.getLocalProperty(SpanProp))
    if (on) {
      stack.set(id :: stack.get())
      sc.foreach(_.setLocalProperty(SpanProp, id.toString))
    }
    val t0 = nowMs()
    try {
      val out = body
      val t1 = nowMs()
      if (on) spans.add(Span(id, parent, trace, layer, name, t0, t1))
      (out, t1 - t0)
    } finally if (on) {
      stack.set(stack.get().drop(1))
      sc.foreach(c => c.setLocalProperty(SpanProp, prevProp.orNull))
    }
  }

  def span[T](layer: String, name: String, trace: String,
              sc: Option[SparkContext] = None)(body: => T): T = timed(layer, name, trace, sc)(body)._1

  /** `timed` for a foreachBatch body. A streaming query pins every job's
    * call site to its `start()`; while tracing, the pin is lifted inside
    * the body so stages carry the call site of the action that ran them.
    */
  def timedBatch[T](layer: String, name: String, trace: String, sc: SparkContext)(body: => T): (T, Double) =
    if (!on) timed(layer, name, trace, Some(sc))(body)
    else {
      val keys = Seq("callSite.short", "callSite.long")
      val pinned = keys.map(sc.getLocalProperty)
      sc.clearCallSite()
      try timed(layer, name, trace, Some(sc))(body)
      finally keys.zip(pinned).foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def clear(): Unit = spans.clear()

  /** Union length of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals, summed by layer.
    */
  def selfMsByLayer(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter(iv => iv._2 > iv._1)
        s.ms - unionMs(ch)
      }.sum
    }
  }

  /** Writes `ss` as JSONL; a stage span takes its parent's trace id. */
  def writeJsonl(path: java.io.File, ss: Seq[Span]): Unit = {
    path.getParentFile.mkdirs()
    val traceOf = ss.map(s => s.id -> s.trace).toMap
    val w = new java.io.PrintWriter(path, "UTF-8")
    try ss.map(s => if (s.trace.nonEmpty) s else s.copy(trace = traceOf.getOrElse(s.parent, "")))
      .sortBy(_.start).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      w.println(s"""{"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},"trace":${Json.str(s.trace)},""" +
        s""""id":${s.id},"parent":${s.parent},"start_ms":${Json.num(s.start)},""" +
        s""""end_ms":${Json.num(s.end)},"attrs":{$attrs}}""")
    } finally w.close()
  }
}

/** Engine-layer counters from Spark's listener bus. Stages and jobs are
  * tied to the span that submitted them through the `perfbench.span`
  * local property; each stage becomes a span of layer `engine`.
  */
final class EngineListener extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val taskDeserMs = new AtomicLong
  val taskGcMs = new AtomicLong
  val taskRunMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val stageMsSum = new AtomicLong
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()
  /** Per-stage max/median task time, for stages with at least four tasks. */
  val skew = new ConcurrentLinkedQueue[Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(s => stageSpan.put(s, sp))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      taskDeserMs.addAndGet(m.executorDeserializeTime)
      taskGcMs.addAndGet(m.jvmGCTime)
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    stageTaskMs.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue[Long]())
      .add(e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stages.incrementAndGet()
    val t = stageTaskMs.remove((si.stageId, si.attemptNumber()))
    if (t != null && t.size >= 4) {
      val d = t.asScala.toSeq.map(_.toDouble)
      val med = Stats.median(d)
      if (med > 0) skew.add(d.max / med)
    }
    for (s <- si.submissionTime; c <- si.completionTime) {
      stageMsSum.addAndGet(c - s)
      val parent = Option(stageSpan.remove(si.stageId)).map(_.longValue).getOrElse(0L)
      Trace.record(Span(Trace.newId(), parent, "", "engine", si.name, s.toDouble, c.toDouble,
        Map("tasks" -> si.numTasks.toDouble)))
    }
  }
}

/** JVM counters (cumulative; callers take deltas), and GC pauses as
  * spans of layer `jvm` while tracing.
  */
object Jvm {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo

  private val gcSpans = new NotificationListener {
    private val startMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (Trace.on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val g = info.getGcInfo
        Trace.record(Span(Trace.newId(), 0L, "jvm", "jvm", s"${info.getGcName}: ${info.getGcCause}",
          startMs + g.getStartTime, startMs + g.getEndTime))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcSpans, null, null)
    case _ =>
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
  def codeCacheMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
    .map(_.getUsage.getUsed).sum / 1048576.0
  def loadedClasses(): Double = ManagementFactory.getClassLoadingMXBean.getLoadedClassCount.toDouble
  /** Used heap after a full collection, in MiB. */
  def liveHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(100); System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Json {
  /** A JSON string literal; control characters escaped. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}
