package perfbench

/** Seeded input generators. Everything the program receives is derived
  * from the workload seed alone: event payloads carry simulated event
  * time, never the wall clock, so one seed always yields the same bytes.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    // SplitMix64
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  /** Fisher-Yates shuffle. */
  def shuffle[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.map(_.asInstanceOf[T])
  }
}

/** Zipf(s) over 0 until n, by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  def sample(r: Rng): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One generator tick of the `dw_stream` workload: behaviour-log JSON
  * lines and Maxwell CDC envelopes (JSON, with their stream ordinal).
  */
final case class Tick(logs: Array[String], cdc: Array[(String, Long)])

/** The `dw_stream` generator. Device ids (`mid`) and user ids are Zipf
  * skewed; event time advances 100 ms per tick from a fixed day start,
  * and `lateShare` of the log events are stamped up to three seconds in
  * the past (inside the ten-second watermark). CDC rows are inserts on
  * a key's first appearance (a tenth as Maxwell `bootstrap-insert`) and
  * updates afterwards; a third of the envelopes are `order_info`
  * inserts the router sends to Kafka, which the dim store ignores.
  */
final class StreamGen(seed: Long, val logsPerTick: Int, val cdcPerTick: Int,
                      lateShare: Double = 0.03) {
  private val r = new Rng(seed)
  private val mids = new Zipf(20000, 1.1)
  private val users = new Zipf(2000, 1.0)
  private val seen = new java.util.HashSet[Integer]()
  private var tick = 0L
  private var cdcSeq = 0L
  /** Event time of tick 0: 2026-01-01 08:00:00 UTC (the whole run stays
    * inside one calendar day, so daily-UV state never sees a day roll).
    */
  val t0Ms: Long = 1767254400000L
  private val pages = Array("home", "good_list", "good_detail", "cart", "trade", "search", "mine")
  private val chans = Array("web", "app", "wechat", "xiaomi")
  private val vers = Array("v2.0.1", "v2.1.0", "v2.1.3", "v3.0.0")
  private val tiers = Array("bronze", "silver", "gold", "platinum")

  def eventTimeOf(tickIx: Long): Long = t0Ms + tickIx * 100L

  private def logLine(ts: Long): String = {
    val m = mids.sample(r)
    val vc = vers(m % vers.length)
    val ch = chans((m / 7) % chans.length)
    val ar = 110000 + (m % 8) * 10000
    val isNew = if (m % 5 == 0) "1" else "0"
    val common = s"""{"mid":"m$m","vc":"$vc","ch":"$ch","ar":"$ar","is_new":"$isNew"}"""
    if (r.nextInt(10) == 0)
      s"""{"common":$common,"start":{"entry":"icon","loading_time":${500 + r.nextInt(3000)}},"ts":$ts}"""
    else {
      val last = if (r.nextInt(10) < 3) "" else pages(r.nextInt(pages.length))
      val page = pages(r.nextInt(pages.length))
      val disp =
        if (r.nextInt(4) == 0)
          s""","displays":[{"item_type":"sku_id","item":"${r.nextInt(500)}","order":1}]"""
        else ""
      s"""{"common":$common,"page":{"page_id":"$page","last_page_id":"$last","item":"${r.nextInt(500)}","during_time":${100 + r.nextInt(30000)}}$disp,"ts":$ts}"""
    }
  }

  private def cdcLine(ts: Long): String =
    if (r.nextInt(3) == 0)
      s"""{"database":"gmall","table":"order_info","type":"insert","ts":$ts,"data":{"id":"${cdcSeq}","amount":"${r.nextInt(9999)}"}}"""
    else {
      val u = users.sample(r)
      val tpe =
        if (seen.add(u)) (if (r.nextInt(10) == 0) "bootstrap-insert" else "insert")
        else "update"
      s"""{"database":"gmall","table":"user_info","type":"$tpe","ts":$ts,"data":{"id":"u$u","name":"n${r.nextInt(100000)}","tier":"${tiers(r.nextInt(tiers.length))}","phone":"1${r.nextInt(999999999)}"}}"""
    }

  def next(): Tick = {
    val base = eventTimeOf(tick)
    tick += 1
    val logs = Array.fill(logsPerTick) {
      val late = if (r.nextDouble() < lateShare) r.nextInt(3000) else 0
      logLine(base + r.nextInt(100) - late)
    }
    val cdc = Array.fill(cdcPerTick) {
      cdcSeq += 1
      (cdcLine(base + r.nextInt(100)), cdcSeq)
    }
    Tick(logs, cdc)
  }

  /** A page event one hour past `lastTick`, with a non-empty
    * `last_page_id` (so it is no daily-UV entry): it advances the
    * watermark past every real window, and its own window never closes.
    */
  def flushLine(lastTick: Long): String =
    s"""{"common":{"mid":"flush","vc":"v0","ch":"none","ar":"0","is_new":"0"},"page":{"page_id":"home","last_page_id":"home","item":"0","during_time":1},"ts":${eventTimeOf(lastTick) + 3600000L}}"""
}

/** The `corpus_ingest` generator: fresh documents stitched from word
  * runs of the sf0.1 corpus, each with a new id; `dupShare` of them are
  * near-duplicates (one word appended) of a document offered earlier,
  * and `contamShare` copy a document of the evaluation set verbatim.
  */
final class CorpusGen(seed: Long, pool: Array[Array[String]], evalSet: Array[String],
                      dupShare: Double = 0.08, contamShare: Double = 0.01) {
  private val r = new Rng(seed)
  private val offered = scala.collection.mutable.ArrayBuffer.empty[String]
  private var nextId = 1L

  private def fresh(): String = {
    val parts = (0 until 3).map { _ =>
      val w = pool(r.nextInt(pool.length))
      val len = math.min(w.length, 12 + r.nextInt(12))
      val start = if (w.length > len) r.nextInt(w.length - len + 1) else 0
      w.slice(start, start + len).mkString(" ")
    }
    parts.mkString(" ")
  }

  def batch(n: Int): Array[(Long, String)] = Array.fill(n) {
    val u = r.nextDouble()
    val text =
      if (u < contamShare) evalSet(r.nextInt(evalSet.length))
      else if (u < contamShare + dupShare && offered.nonEmpty) {
        val src = offered(r.nextInt(offered.length))
        src + " " + pool(r.nextInt(pool.length)).headOption.getOrElse("again")
      } else fresh()
    offered += text
    val id = nextId
    nextId += 1
    (id, text)
  }
}
