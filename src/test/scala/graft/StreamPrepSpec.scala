package graft

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.streaming.{StreamDedup, StreamNearDup, StreamPrep}

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
    * batch ids Spark stamps on every job a streaming query runs.
    */
  private final class JobsPerBatch(queryId: String) extends SparkListener {
    val jobs = mutable.Map.empty[Long, Int].withDefaultValue(0)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop("sql.streaming.queryId").contains(queryId))
        prop("streaming.sql.batchId").foreach(b => synchronized(jobs(b.toLong) += 1))
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
    // foldEvery = 2: batches 1 and 3 fold, 0 and 2 only ingest
    Seq(0, 2).foreach(k => assert(jobs(k) <= 20, s"ingest batch $k ran ${jobs(k)} jobs"))
    Seq(1, 3).foreach(k => assert(jobs(k) <= 30, s"fold batch $k ran ${jobs(k)} jobs"))
    assert(compiled(2) == 0, s"steady ingest batch 2 compiled ${compiled(2)} classes")
    assert(StreamPrep.manifest(spark, store).count() == 4 * docs(0).size)
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
