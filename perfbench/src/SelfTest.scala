package perfbench

/** The harness's own checks, run by perfbench/tests:
  *  - `selftest`                 generator determinism, the percentile
  *                               rule and the backlog detector;
  *  - `selftest digest <parquet>` prints the digest Spark computes for a
  *                               parquet file (compared with oracle.py's).
  * Exits non-zero on the first failed check.
  */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit = {
    if (!ok) { System.err.println(s"FAIL $what"); sys.exit(1) }
    println(s"ok $what")
  }

  private def streamBytes(seed: Long, ticks: Int): Array[Byte] = {
    val g = new StreamGen(seed, 50, 5)
    val sb = new StringBuilder
    (0 until ticks).foreach { _ =>
      val t = g.next()
      t.logs.foreach(l => sb.append(l).append('\n'))
      t.cdc.foreach { case (l, s) => sb.append(s).append(' ').append(l).append('\n') }
    }
    sb.append(g.flushLine(ticks.toLong))
    sb.toString.getBytes("UTF-8")
  }

  private def corpusBytes(seed: Long): Array[Byte] = {
    val pool = Array("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
      "one two three four five six seven eight nine ten eleven twelve thirteen",
      "red orange yellow green blue indigo violet black white grey").map(_.split(" "))
    val g = new CorpusGen(seed, pool, Array("an evaluation document"), dupShare = 0.2, contamShare = 0.1)
    (0 until 5).flatMap(_ => g.batch(40)).map { case (i, t) => s"$i\t$t" }.mkString("\n").getBytes("UTF-8")
  }

  def run(args: Array[String]): Unit = args.headOption match {
    case Some("digest") =>
      val spark = org.apache.spark.sql.SparkSession.builder().master("local[1]")
        .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false").getOrCreate()
      println(Digest.ofFrame(spark.read.parquet(args(1))))
      spark.stop()
    case _ =>
      val a = streamBytes(7L, 30)
      check(java.util.Arrays.equals(a, streamBytes(7L, 30)), "stream generator: same seed, same bytes")
      check(!java.util.Arrays.equals(a, streamBytes(8L, 30)), "stream generator: another seed, other bytes")
      val b = corpusBytes(7L)
      check(java.util.Arrays.equals(b, corpusBytes(7L)), "corpus generator: same seed, same bytes")
      check(!java.util.Arrays.equals(b, corpusBytes(8L)), "corpus generator: another seed, other bytes")

      // the highest percentile with at least ten samples beyond it
      val rule = Seq(5 -> None, 19 -> None, 20 -> Some(50.0), 99 -> Some(50.0), 100 -> Some(90.0),
        999 -> Some(90.0), 1000 -> Some(99.0), 9999 -> Some(99.0), 10000 -> Some(99.9))
      rule.foreach { case (n, p) => check(Stats.tailPercentile(n) == p, s"tail percentile of $n samples is $p") }
      check(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50.0) == 2.5, "median interpolates")

      // backlog detector: rate 1000 rows/s, one sample per 50 ms over 10 s
      val t = (0 until 200).map(_ * 0.05)
      val saw = t.map(x => 1000.0 * ((x % 0.7) + 0.1))
      val grow = t.map(x => 1000.0 * ((x % 0.7) + 0.1) + 600.0 * x)
      val drain = t.map(x => if (x < 5) 600.0 * x else math.max(0.0, 3000.0 - 900.0 * (x - 5)))
      val noisy = { val r = new Rng(3L); t.map(_ => 500.0 + r.nextInt(400)) }
      check(!Stats.backlogGrowing(t, saw, 1000.0)._1, "backlog: a steady micro-batch sawtooth is not growth")
      check(Stats.backlogGrowing(t, grow, 1000.0)._1, "backlog: input 60% above output is growth")
      check(!Stats.backlogGrowing(t, drain, 1000.0)._1, "backlog: a backlog that drains is not growth")
      check(!Stats.backlogGrowing(t, noisy, 1000.0)._1, "backlog: flat noise is not growth")

      // %.6g as Python prints it
      val g6 = Seq(0.0 -> "0", -0.0 -> "-0", 1.0 -> "1", 0.1 + 0.2 -> "0.3", 123456.7 -> "123457",
        1234567.0 -> "1.23457e+06", 1e-5 -> "1e-05", 0.00012345678 -> "0.000123457",
        -2.5e100 -> "-2.5e+100", 99999.95 -> "99999.9", 999999.5 -> "1e+06", Double.NaN -> "nan")
      g6.foreach { case (v, s) => check(Digest.fmt6g(v) == s, s"fmt6g($v) == $s") }
  }
}
