package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.VersionedStore

/** The one timing loop of the engine's measurement mains (Bench,
  * Canary, ScaleBench, Explain). A run times `fn(spark, sfDir).count()`
  * (Explain: a full-result write, [[materialize]]);
  * a sample warms every cell of a group once, then times k passes over
  * the group in order and reports each cell's median.
  *
  * INVARIANT: runs are strictly sequential. [[once]] unpersists every
  * persisted RDD of the session after its clock stops. Were two runs to
  * overlap, it would unpersist the other run's localCheckpoint, whose
  * truncated lineage cannot be recomputed; scope the unpersist to the
  * RDD ids created since the run's start before running anything in
  * parallel.
  */
object Measure {
  type Query = (SparkSession, String) => DataFrame

  /** One execution: wall seconds (time to failure on error), the
    * [[VersionedStore]] build seconds that fell inside it, and a
    * JSON-safe error text.
    */
  final case class Run(sec: Double, buildSec: Double, err: Option[String])

  /** One query on one sf dir. */
  final case class Cell(fn: Query, sfDir: String)

  /** A cell's warm-up and its timed runs; a cell whose warm-up failed
    * has no timed runs.
    */
  final case class Sample(warm: Run, runs: Seq[Run]) {
    /** The first error of the warm-up or of any timed run. */
    def err: Option[String] = (warm +: runs).flatMap(_.err).headOption
    /** Median wall seconds, `sorted(k/2)`; -1.0 on error. */
    def median: Double = med(runs.map(_.sec))
    /** Median over per-run `sec − buildSec`: the steady-state estimate
      * even on a cold store; -1.0 on error.
      */
    def medianExBuilds: Double = med(runs.map(r => math.max(0.0, r.sec - r.buildSec)))
    /** Build seconds inside all of the cell's runs, the warm-up's too. */
    def buildSec: Double = (warm +: runs).map(_.buildSec).sum
    private def med(xs: Seq[Double]): Double =
      if (err.isDefined) -1.0 else xs.sorted.apply(xs.size / 2)
  }

  /** One timed `act(fn(spark, sfDir))`, by default `count()`. Every
    * error is caught, an OOM included, so a failing query is reported
    * rather than ending the sweep.
    */
  def once(spark: SparkSession, fn: Query, sfDir: String,
      act: DataFrame => Unit = df => { df.count(); () }): Run = {
    val b0 = VersionedStore.buildCount()
    val t0 = System.nanoTime()
    val err =
      try { act(fn(spark, sfDir)); None }
      catch { case t: Throwable =>
        Some(jsonSafe((t.getClass.getSimpleName + ": " +
          Option(t.getMessage).getOrElse("")).take(200))) }
    val sec = (System.nanoTime() - t0) / 1e9
    val buildSec = VersionedStore.buildEvents().drop(b0).map(_._2).sum
    // Every execution builds fresh RDDs, so the finished run's
    // locally-checkpointed blocks are garbage, but they pin storage
    // memory until the async ContextCleaner catches up: across a long
    // sweep, late queries were timed under the storage pressure of
    // every earlier one (OPTIMIZATION_r17.md). Dropped outside the
    // clock; no module keeps a cached DataFrame across runs that this
    // could harm. See the sequential-only invariant above.
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
    Run(sec, buildSec, err)
  }

  /** A full-result write of `df` to Spark's `noop` sink: every column,
    * UDF and the final sort run, as in the plan `Verify` writes, where
    * `count()` lets Catalyst prune them.
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Per group: one warm-up run of each cell in order, then k passes
    * over the group's cells in order. Pairing a group's cells inside
    * each pass puts them in the same host-drift window.
    */
  def sample(spark: SparkSession, groups: Seq[Seq[Cell]], k: Int): Seq[Seq[Sample]] =
    groups.map { cells =>
      val warm = cells.map(c => once(spark, c.fn, c.sfDir))
      val passes = Seq.fill(k)(cells.zip(warm).map { case (c, w) =>
        if (w.err.isDefined) None else Some(once(spark, c.fn, c.sfDir)) })
      cells.indices.map(i => Sample(warm(i), passes.flatMap(_(i))))
    }

  /** Name → seconds from the first `"queries":{…}` block of a
    * CANARY.json-shaped file. The block is flat, so it ends at its
    * first `}`; the nested `per_query` objects of a gated file carry
    * numbers too and never reach the map. Empty without such a block.
    */
  def readQueries(path: String): Map[String, Double] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    val block = """"queries"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
    """"([A-Za-z0-9_]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(block)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Ends a main whose report must not be written: stops the session,
    * names each failed query and exits non-zero.
    */
  def exitOnErrors(spark: SparkSession, main: String,
      errors: Seq[(String, String)]): Unit =
    if (errors.nonEmpty) {
      spark.stop()
      errors.foreach { case (q, e) => System.err.println(s"[$main] $q failed: $e") }
      sys.exit(1)
    }

  /** Backslashes first (doubled before any escape is added), quotes
    * become apostrophes, and every control char < 0x20 becomes a space:
    * the text lands inside hand-built JSON, and an unescaped `\` or tab
    * in an exception message would corrupt the very report that
    * carries the failure.
    */
  private def jsonSafe(s: String): String = s.replace("\\", "\\\\")
    .replace('"', '\'').map(c => if (c < ' ') ' ' else c)
}
