package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.TextFunctions
import graft.ops.{Decontaminate, Dedup}
import graft.streaming.{IngestPipeline, StreamingDedup}

/** `corpus_ingest`: a closed loop that drains a backlog of documents
  * through IngestPipeline.trainingIngestSink (quality gate → PII
  * redaction → decontamination → incremental near-dup dedup against all
  * history → corpus and index appends). Each batch is offered once the
  * previous one has committed; the history is pre-seeded before the
  * timed window. At the end, the pairs found incrementally must equal a
  * one-shot dedup of the accepted corpus.
  */
final class IngestWorkload(c: Conf) extends Workload {
  import IngestWorkload._
  private var spark: SparkSession = _
  private var gen: CorpusGen = _
  private var input: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private var db: String = _
  private var offered = 0L
  private var evalSet: Array[String] = Array.empty
  private var lastBatch: Array[(Long, String)] = Array.empty
  private val dropped = new java.util.concurrent.atomic.AtomicLong
  private val pairs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val batchPairs = new ConcurrentLinkedQueue[Long]()
  private val sinkMs = new ConcurrentLinkedQueue[Double]()
  private val layer0 = mutable.LinkedHashMap[String, Double]()

  def setupLayer: Map[String, Double] = layer0.toMap

  def setup(ix: Int): SparkSession = {
    spark = Setup.session(c, Seq("documents"), layer0)
    val s = spark
    import s.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val texts = graft.core.Tables.load(spark, c.dataDir, "documents")
      .select(col("text")).as[String].collect().filter(_ != null)
    val r = new Rng(c.seed)
    evalSet = Array.fill(EvalDocs)(texts(r.nextInt(texts.length)))
    gen = new CorpusGen(c.seed, texts.map(_.split("\\s+").filter(_.nonEmpty)).filter(_.nonEmpty), evalSet)
    offered = 0L
    dropped.set(0L); pairs.clear(); batchPairs.clear(); sinkMs.clear()
    db = s"pb_ingest_$ix"
    val sink = IngestPipeline.trainingIngestSink(spark, db, "corpus", "idx", "doc_id", "text",
      contam = Some((evalSet.toSeq.toDF("text"), "text"))) { (p, nDropped, _) =>
      val got = p.select("id_a", "id_b").as[(Long, Long)].collect()
      got.foreach(x => pairs.add(x))
      batchPairs.add(got.length.toLong)
      dropped.addAndGet(nDropped)
    }
    input = MemoryStream[(Long, String)]
    query = input.toDF().toDF("doc_id", "text").writeStream.queryName(s"ingest$ix")
      .foreachBatch { (b: DataFrame, id: Long) =>
        val (_, ms) = Trace.timedBatch("ingest", "op:ingest", s"corpus_ingest/b$id", spark.sparkContext)(sink(b, id))
        sinkMs.add(ms)
        ()
      }
      .option("checkpointLocation", new java.io.File(c.workDir, s"ck$ix").getAbsolutePath)
      .trigger(Trigger.ProcessingTime(0)).start()
    spark
  }

  private def offerAndWait(n: Int): Double = {
    val b = gen.batch(n)
    lastBatch = b
    val t0 = Trace.nowMs()
    input.addData(b.toSeq)
    query.processAllAvailable()
    offered += n
    Trace.nowMs() - t0
  }

  def teardown(): Unit = {
    query.stop()
    Setup.stop(spark)
  }

  /** A small first batch, then the pre-seeded history. */
  def warmup(): Unit = {
    offerAndWait(FirstBatch)
    (0 until PreSeed / BatchDocs).foreach(_ => offerAndWait(BatchDocs))
  }

  def window(seconds: Double): Window = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val d0 = dropped.get
    val sink0 = sinkMs.size
    val p0 = batchPairs.asScala.toSeq.length
    val t0 = System.nanoTime()
    do lat += offerAndWait(BatchDocs) while ((System.nanoTime() - t0) / 1e9 < seconds)
    val docs = lat.length.toDouble * BatchDocs
    val corpusRows = spark.table(s"`$db`.`corpus`").count().toDouble
    val (files, bytes) = tableFiles()
    if (Trace.on) opsProbe()
    Window(lat.toSeq, docs, lat.sum / 1000.0, lat.length, Map(
      "ingest.sink_ms" -> sinkMs.asScala.toSeq.drop(sink0).sum / lat.length,
      "ingest.accepted_ratio" -> (docs - (dropped.get - d0)) / docs,
      "ingest.pairs" -> batchPairs.asScala.toSeq.drop(p0).sum.toDouble / lat.length,
      "ingest.index_rows" -> spark.table(s"`$db`.`idx`").count().toDouble,
      "ingest.table_files" -> files,
      "ingest.bytes_written_per_doc" -> bytes / corpusRows))
  }

  /** Traced runs only: the two graft.ops calls the sink makes, repeated
    * on the last batch as direct calls, so the ops layer has spans of its
    * own (inside the sink every action is issued from graft.streaming,
    * so no stage's call site names an ops file).
    */
  private def opsProbe(): Unit = {
    val s = spark
    import s.implicits._
    val sc = Some(spark.sparkContext)
    val docs = lastBatch.toSeq.toDF("doc_id", "text")
    Trace.span("ops", "probe:Decontaminate", "corpus_ingest/ops", sc) {
      Decontaminate.prepare(evalSet.toSeq.toDF("text"), TextFunctions.redactPii(col("text")))
        .antiJoin(docs, col("text")).count()
    }
    Trace.span("ops", "probe:Dedup", "corpus_ingest/ops", sc) {
      val (p, sigs) = Dedup.minhashLshIncrementalWithIndex(docs,
        spark.table(s"`$db`.`corpus`").select(col("id").as("doc_id"), col("text")),
        spark.table(s"`$db`.`idx`"), "doc_id", "text", smallBatch = true)
      p.count()
      sigs.count()
    }
    Setup.release(spark)
  }

  /** Data files and bytes under the corpus and index tables. */
  private def tableFiles(): (Double, Double) = {
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), s"$db.db")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val data = walk(wh).filter(f => f.getName.startsWith("part-"))
    (data.length.toDouble, data.map(_.length).sum.toDouble)
  }

  def finish(): (Long, Long) = {
    val s = spark
    import s.implicits._
    val corpus = spark.table(s"`$db`.`corpus`").select(col("id").as("doc_id"), col("text"))
    val accepted = corpus.count()
    val countOk = accepted == offered - dropped.get
    // rebuild: one dedup over the whole accepted corpus, fresh index
    val rebuilt = mutable.ArrayBuffer.empty[(Long, Long)]
    StreamingDedup.incrementalDedupSink(spark, s"${db}_rebuild", "corpus", "idx", "doc_id", "text") {
      (p, _) => rebuilt ++= p.select("id_a", "id_b").as[(Long, Long)].collect()
    }(corpus, 0L)
    def norm(xs: Iterable[(Long, Long)]) = xs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val inc = norm(pairs.asScala)
    val reb = norm(rebuilt)
    val pairsOk = inc == reb && inc.size == pairs.size
    if (!countOk) System.err.println(s"perfbench: corpus holds $accepted rows, expected ${offered - dropped.get}")
    if (!pairsOk) System.err.println(s"perfbench: incremental pairs ${inc.size} (${pairs.size} emitted) " +
      s"!= rebuild ${reb.size}; only incremental ${(inc -- reb).take(5)}, only rebuild ${(reb -- inc).take(5)}")
    (offered, if (countOk && pairsOk) 0L else offered)
  }
}

object IngestWorkload {
  val FirstBatch = 100
  val BatchDocs = 1000
  val PreSeed = 1000
  val EvalDocs = 50
}
