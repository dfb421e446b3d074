package graft

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.streaming.{PlanTemplate, StreamDedup, StreamNearDup, StreamPrep}

/** What one StreamPrep micro-batch costs, and the replay contract its
  * one frozen evaluation rests on.
  *
  * Every batch below has the same shape: kept docs, a low-quality doc,
  * an in-batch exact copy and near copy, copies of the previous batch's
  * kept docs (caught by the stores) and a contaminated doc.
  */
class StreamPrepSpec extends SparkSpec {

  private def good(p: String) = (1 to 10).map(i => s"the $p$i of").mkString(" ")
  private val benchTokens = good("bench").split(" ").toSeq

  /** Batch `k`'s docs, ids from 100·k. */
  private def docs(k: Int): Seq[(Long, String)] = {
    val id = 100L * k
    val kept = (0 until 5).map(i => good(s"k${k}x$i"))
    val prev = good(s"k${k - 1}x0")
    kept.zipWithIndex.map { case (t, i) => (id + i) -> t } ++ Seq(
      (id + 10) -> "zzz qqq 12345 !!!",
      (id + 11) -> kept(0), // exact copy of a batch-mate
      (id + 12) -> (kept(1) + " extra"), // near copy of a batch-mate
      (id + 13) -> prev, // exact copy of the previous batch's doc
      (id + 14) -> (prev + " more"), // near copy of it
      (id + 15) -> (benchTokens.take(20) ++ good(s"t$k").split(" ")).mkString(" "))
  }

  private def benchWindows: DataFrame = {
    import spark.implicits._
    TextOps.d7bBenchWindows(Seq((1L, benchTokens)).toDF("bench_id", "bws")).localCheckpoint()
  }

  /** Counts the jobs of each micro-batch of one query by the query and
    * batch ids Spark stamps on every job a streaming query runs, and the
    * query's jobs that carry no batch id (a job run off the batch's
    * thread without its local properties).
    */
  private final class JobsPerBatch(queryId: String) extends SparkListener {
    val jobs = mutable.Map.empty[Long, Int].withDefaultValue(0)
    var unattributed = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop("sql.streaming.queryId").contains(queryId)) synchronized {
        prop("streaming.sql.batchId") match {
          case Some(b) => jobs(b.toLong) += 1
          case None => unattributed += 1
        }
      }
    }
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a micro-batch runs a bounded number of jobs and a steady one compiles no class") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-prepcost") + "/store"
    val cp = tmpDir("graft-prepcost-cp")
    val in = MemoryStream[(Long, String)]
    val q = StreamPrep.start(in.toDF().toDF("doc_id", "text"), benchWindows, store, cp,
      foldEvery = 2)
    val listener = new JobsPerBatch(q.id.toString)
    spark.sparkContext.addSparkListener(listener)
    val retriesBefore = StreamDedup.storeReadRetries
    val compiled = try {
      (0 until 4).map { k =>
        val before = compiles
        val t0 = System.nanoTime()
        in.addData(docs(k): _*)
        q.processAllAvailable()
        info(f"batch $k: ${(System.nanoTime() - t0) / 1e6}%.0f ms")
        compiles - before
      }
    } finally {
      q.stop()
      org.apache.spark.graftshim.ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val jobs = (0 until 4).map(k => listener.jobs(k.toLong))
    info(s"jobs per batch $jobs, compiles per batch $compiled")
    // the writes and folds run on their own threads: each of their jobs
    // must still carry the batch id
    assert(listener.unattributed == 0,
      s"${listener.unattributed} jobs of the query carry no batch id")
    // foldEvery = 2: batches 1 and 3 fold, 0 and 2 only ingest. Each
    // plan runs as one static job (no adaptive stage jobs), so an ingest
    // batch runs 9 jobs whether its stores are empty or not; batch 1's
    // fold finds one part per family, none of them foldable (the newest
    // never is), and batch 3's folds add 5
    assert(jobs == Seq(9, 9, 9, 14), s"jobs per batch $jobs, expected 9, 9, 9, 14")
    assert(compiled(2) == 0, s"steady ingest batch 2 compiled ${compiled(2)} classes")
    // the fold of batches 1 and 3 runs beside their ingest; its deletes
    // wait for the ingest, so no screen re-lists a store
    assert(StreamDedup.storeReadRetries == retriesBefore,
      s"${StreamDedup.storeReadRetries - retriesBefore} store-read retries")
    assert(StreamPrep.manifest(spark, store).count() == 4 * docs(0).size)
  }

  test("two StreamPrep batches, one of them folding, start no OS process and leave the caller's session adaptive") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val adaptive = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(adaptive) == "true")
    val store = tmpDir("graft-prepforks") + "/store"
    val cp = tmpDir("graft-prepforks-cp")
    val bw = benchWindows
    // Spark's own once-per-JVM fork (`getconf PAGESIZE` for its executor
    // metrics) happens here, not at whatever batch the first heartbeat hits
    org.apache.spark.graftshim.ProcfsMetrics.init()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val in = MemoryStream[(Long, String)]
      val q = StreamPrep.start(in.toDF().toDF("doc_id", "text"), bw, store, cp, foldEvery = 2)
      try (0 until 2).foreach { k => in.addData(docs(k): _*); q.processAllAvailable() }
      finally q.stop()
    } finally rec.stop()
    val file = java.nio.file.Files.createTempFile("graft-prepforks", ".jfr")
    rec.dump(file)
    rec.close()
    val started = RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    assert(started.size == 0, s"${started.size} processes started, e.g. ${started.take(5)}")
    assert(StreamPrep.manifest(spark, store).count() == 2 * docs(0).size)
    // the batches planned statically in the query's own session
    assert(spark.conf.get(adaptive) == "true", "the run turned AQE off in the caller's session")
  }

  test("the run's one analyzed template binds to the same plan and rows as a fresh build") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
    // each batch: 10 corpus docs, copies of a doc of the previous batch
    // and of a batch-mate, and a doc carrying the bench item
    def batch(k: Int): Seq[(Long, String)] = {
      val own = corpus.slice(10 * k, 10 * k + 10)
      val prev = corpus(10 * math.max(k - 1, 0))._2
      own ++ Seq((5000L + 10 * k) -> prev, (5001L + 10 * k) -> s"$prev and more",
        (5002L + 10 * k) -> own(1)._2,
        (5003L + 10 * k) -> (benchTokens ++ corpus(300 + k)._2.split(" ")).mkString(" "))
    }
    val bench = TextOps.d7bBenchWithTotals(benchWindows).localCheckpoint()
    val template = StreamPrep.screenTemplate(spark, bench, 0.5)
    val store = tmpDir("graft-preptemplate") + "/store"
    val cp = tmpDir("graft-preptemplate-cp")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def check(k: Int): Unit = {
      val inputs = Seq(batch(k).toDF("doc_id", "text"),
        StreamDedup.storeBefore(spark, s"$store/exact", boundExclusive = k),
        StreamNearDup.sigStore(spark, s"$store/sigs", boundExclusive = k))
      val fresh = StreamPrep.screened(inputs(0), inputs(1), inputs(2), bench, 0.5)
      val bound = template.bind(inputs: _*)
      assert(bound.queryExecution.optimizedPlan.canonicalized ==
        fresh.queryExecution.optimizedPlan.canonicalized,
        s"batch $k: the bound plan\n${bound.queryExecution.optimizedPlan}\n" +
          s"differs from the fresh one\n${fresh.queryExecution.optimizedPlan}")
      assert(rows(bound) == rows(fresh), s"batch $k: rows differ")
    }
    check(0) // empty stores
    val in = MemoryStream[(Long, String)]
    val q = StreamPrep.start(in.toDF().toDF("doc_id", "text"), benchWindows, store, cp)
    try (0 until 2).foreach { k => in.addData(batch(k): _*); q.processAllAvailable() }
    finally q.stop()
    assert(StreamDedup.storeBefore(spark, s"$store/exact").count() > 0)
    check(2) // both stores hold two batches

    // the stand-ins are nullable, so frames bind whether or not their
    // columns are (the batches above bind a non-nullable doc_id)
    val standIn = PlanTemplate.standIn(spark, spark.range(1).schema)
    assert(spark.range(1).schema.forall(!_.nullable) && standIn.schema.forall(_.nullable))
    // a frame whose column names or types differ from the stand-in's fails
    val store0 = Seq(StreamDedup.storeBefore(spark, s"$store/exact"),
      StreamNearDup.sigStore(spark, s"$store/sigs"))
    for (wrong <- Seq(Seq((1, "a")).toDF("doc_id", "text"), Seq((1L, "a")).toDF("id", "text"))) {
      val e = intercept[IllegalArgumentException](template.bind(wrong +: store0: _*))
      assert(e.getMessage.contains("cannot stand in"), e.getMessage)
    }
  }

  test("a replayed batch rewrites every family row-identically") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val store = tmpDir("graft-prepreplay") + "/store"
    val cp = tmpDir("graft-prepreplay-cp")
    val bw = benchWindows
    val in = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = StreamPrep.start(in.toDF().toDF("doc_id", "text"), bw, store, cp)
      try q.processAllAvailable() finally q.stop()
    }
    (0 until 3).foreach { k => in.addData(docs(k): _*); run() }

    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    def families(): Seq[Seq[Seq[Any]]] = Seq(
      rows(StreamDedup.storeBefore(spark, s"$store/exact")),
      rows(StreamNearDup.sigStore(spark, s"$store/sigs")),
      rows(StreamNearDup.matches(spark, s"$store/sigs")),
      rows(StreamPrep.verdicts(spark, store)),
      rows(StreamPrep.manifest(spark, store)))
    val before = families()

    // forget that batch 2 committed: the restart replays it
    val commit = new Path(s"$cp/prep/commits/2")
    val fs = commit.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(commit, false), s"no commit file $commit")
    run()
    assert(fs.exists(commit), "the restart did not replay batch 2")

    val after = families()
    Seq("exact delta", "sig delta", "matches", "verdicts", "manifest").zipWithIndex
      .foreach { case (name, i) => assert(after(i) == before(i), s"$name changed on replay") }
    val perDoc = StreamPrep.manifest(spark, store).groupBy("doc_id").count()
    assert(perDoc.count() == 3 * docs(0).size)
    assert(perDoc.filter(col("count") =!= 1).isEmpty, "a doc has more than one manifest row")
    // the planted exits, one of each per batch after the first
    val stages = StreamPrep.manifest(spark, store).filter(col("doc_id") >= 200)
      .groupBy("stage").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages == Map("kept" -> 5L, "quality" -> 1L, "exact" -> 2L, "neardup" -> 2L,
      "contaminated" -> 1L), s"batch 2 stages: $stages")
  }
}
