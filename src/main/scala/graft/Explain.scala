package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.graftshim.StageShim

/** Plan and stage inspector for registered queries on
  * SPARK_GRAFT_SF_DIR. Per query: print the formatted physical plan,
  * run the query once to warm (JIT, codegen, artifact builds) and once
  * measured through [[Measure.once]], each a full-result write
  * ([[Measure.materialize]]) of the plan printed, then print the
  * measured run's stages — wall ms, tasks, input/shuffle/spill MB —
  * recorded by a SparkListener: the engine's sessions run with Spark's
  * UI off, so this is its Stages tab in text form. Each stage is named
  * by [[label]].
  * Usage: runMain graft.Explain <query> [query ...]
  */
object Explain {
  /** A stage's name in the table: its kind, `map` (it writes shuffle
    * output) or `result` (its tasks return to the driver), and the
    * operation scopes of its RDDs (`map: Scan parquet >
    * WholeStageCodegen (1) > Exchange`), or Spark's stage name when no
    * RDD carries a scope. Spark names a stage after the call site that
    * submitted its job, and AQE submits shuffle-map, broadcast and
    * subquery jobs from its own threads, so that name is mostly a
    * `CompletableFuture.java` frame that says nothing of the stage. A range
    * exchange's sampling job is the `result` stage whose scopes end in
    * `Exchange`.
    */
  def label(info: StageInfo): String = {
    val scopes = StageShim.scopeNames(info)
    val kind = if (StageShim.isShuffleMap(info)) "map" else "result"
    s"$kind: " + (if (scopes.isEmpty) info.name.takeWhile(_ != '\n') else scopes.mkString(" > "))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <query> [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(appName = "graft-explain")

    final case class St(jobId: Int, stageId: Int, name: String, ms: Long,
        tasks: Int, inputMB: Double, shufReadMB: Double, shufWriteMB: Double,
        spillMB: Double)
    val stages = mutable.ArrayBuffer[St]()
    val stageToJob = mutable.Map[Int, Int]()
    @volatile var enabled = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (enabled) j.stageIds.foreach(s => stageToJob(s) = j.jobId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (enabled) {
          val i = e.stageInfo
          val m = i.taskMetrics
          val ms = (for (c <- i.completionTime; s <- i.submissionTime) yield c - s).getOrElse(-1L)
          stages += St(stageToJob.getOrElse(i.stageId, -1), i.stageId,
            label(i), ms, i.numTasks,
            m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.memoryBytesSpilled / 1e6)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
      fn(spark, sfDir).explain("formatted")
      Measure.once(spark, fn, sfDir, Measure.materialize)
      stages.clear(); stageToJob.clear()
      enabled = true
      val run = Measure.once(spark, fn, sfDir, Measure.materialize)
      enabled = false
      // listener bus is async; give stage-completed events time to land
      Thread.sleep(500)
      run.err.foreach(e => println(s"[explain] $name failed: $e"))
      println(f"%n=== $name: ${run.sec}%.3f s, ${stages.map(_.ms).sum} ms across ${stages.size} stages ===")
      println(f"${"job"}%4s ${"stage"}%5s ${"ms"}%7s ${"tasks"}%5s ${"inMB"}%8s ${"sRdMB"}%8s ${"sWrMB"}%8s ${"spill"}%6s  name")
      stages.sortBy(-_.ms).take(30).foreach { s =>
        println(f"${s.jobId}%4d ${s.stageId}%5d ${s.ms}%7d ${s.tasks}%5d ${s.inputMB}%8.1f ${s.shufReadMB}%8.2f ${s.shufWriteMB}%8.2f ${s.spillMB}%6.1f  ${s.name}")
      }
      val nJobs = stages.map(_.jobId).distinct.size
      println(f"[explain] $name: $nJobs jobs, ${stages.size} stages, sum-stage ${stages.map(_.ms).sum} ms vs wall ${run.sec * 1000}%.0f ms")
    }
    spark.stop()
  }
}
