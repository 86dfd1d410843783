package perfbench

/** Helpers behind `run.py --regen-digests`: the oracle SQL of the batch
  * queries, and the digests Spark produces for them.
  */
object OracleSql {
  /** Prints {query: oracle SQL} for the dw_batch queries. */
  def print(args: Array[String]): Unit = {
    val m = BatchWorkload.queries.map(n => n -> graft.SparkEntry.oracleSql.getOrElse(n,
      sys.error(s"$n has no oracle SQL")))
    println(m.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}"))
  }

  /** Prints {query: digest} of Spark's results; args: dataDir cores. */
  def sparkDigests(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(args(1).toInt, Some(args(0)))
    val m = BatchWorkload.queries.map(n => n -> Digest.ofFrame(graft.SparkEntry.queries(n)(spark, args(0))))
    println(m.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}"))
    spark.stop()
  }
}
