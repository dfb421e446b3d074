package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.sinks.VersionedStore

/** The measurement mains' one runner ([[Measure]]) and the canary's
  * gate and baseline reader. A recording query function stands in for
  * a registered query: the cell's sf dir is its label, and each call is
  * logged before it returns a small `spark.range` frame.
  */
class MeasureSpec extends SparkSpec {

  private def recorder(log: mutable.Buffer[String])(
      act: (String, Int) => Unit): Measure.Query = {
    val calls = mutable.Map[String, Int]().withDefaultValue(0)
    (s: SparkSession, label: String) => {
      log += label
      act(label, calls(label))
      calls(label) += 1
      s.range(3).toDF()
    }
  }

  test("sample warms each cell of a group once, then runs k passes over the group in order") {
    val log = mutable.ArrayBuffer[String]()
    val fn = recorder(log)((_, _) => ())
    val Seq(Seq(a, b)) = Measure.sample(spark,
      Seq(Seq(Measure.Cell(fn, "A"), Measure.Cell(fn, "B"))), k = 3)
    assert(log.toSeq == Seq("A", "B", "A", "B", "A", "B", "A", "B"))
    assert(a.runs.size == 3 && b.runs.size == 3 && a.err.isEmpty && b.err.isEmpty)
  }

  test("a cell's median is its middle timed run") {
    // timed runs sleep 800, 0 and 400 ms: the median is the third run
    val sleeps = Seq(0L, 800L, 0L, 400L)
    val fn = recorder(mutable.ArrayBuffer[String]())((_, i) => Thread.sleep(sleeps(i)))
    val s = Measure.sample(spark, Seq(Seq(Measure.Cell(fn, "A"))), k = 3).head.head
    val secs = s.runs.map(_.sec)
    assert(secs(0) >= 0.8 && secs(1) < 0.4 && secs(2) >= 0.4 && secs(2) < 0.8, secs)
    assert(s.median == secs(2))
    assert(s.medianExBuilds == secs(2))
  }

  test("a cell whose warm-up throws gets no timed runs and reports its error") {
    val log = mutable.ArrayBuffer[String]()
    val fn = recorder(log) { (label, i) =>
      if (label == "bad" && i == 0) throw new IllegalStateException("warm-up broke")
    }
    val Seq(Seq(bad, good)) = Measure.sample(spark,
      Seq(Seq(Measure.Cell(fn, "bad"), Measure.Cell(fn, "good"))), k = 3)
    assert(log.toSeq == Seq("bad", "good", "good", "good", "good"))
    assert(bad.runs.isEmpty)
    assert(bad.err.contains("IllegalStateException: warm-up broke"))
    assert(bad.median == -1.0 && bad.medianExBuilds == -1.0)
    assert(good.err.isEmpty && good.runs.size == 3 && good.median >= 0)
  }

  test("an error text comes back JSON-safe") {
    val fn: Measure.Query = (_, _) => throw new RuntimeException("a\\b\"c\td\ne")
    val run = Measure.once(spark, fn, "A")
    val err = run.err.getOrElse(fail("the error was not captured"))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree("{\"err\":\"" + err + "\"}").get("err").asText()
    assert(parsed == "RuntimeException: a\\b'c d e")
  }

  test("a VersionedStore build inside a run is attributed to that run") {
    val base = s"${tmpDir("graft-measure")}/artifact"
    val fn = recorder(mutable.ArrayBuffer[String]()) { (_, i) =>
      // the second timed run builds the artifact; the third serves it
      if (i >= 2) VersionedStore.readOrBuild(spark, base, "fp") { dir =>
        Thread.sleep(200)
        spark.range(1).write.parquet(dir)
      }
    }
    val s = Measure.sample(spark, Seq(Seq(Measure.Cell(fn, "A"))), k = 3).head.head
    val builds = s.runs.map(_.buildSec)
    assert(s.warm.buildSec == 0.0 && builds(0) == 0.0 && builds(2) == 0.0, builds)
    assert(builds(1) >= 0.2 && builds(1) <= s.runs(1).sec, builds)
    assert(s.buildSec == builds(1))
  }

  private def canaryLine(medians: Seq[(String, Double)]): String = {
    val qs = medians.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"metric":"canary","value":1.0,"unit":"sec","queries":$qs,"gate":null,"sf":"x"}"""
  }

  /** Query → pass flag of a gate JSON. */
  private def passes(gate: String): Map[String, Boolean] =
    """"([a-z0-9_]+)":\{"ratio":[0-9.]+,"normalized":[0-9.]+,"pass":(true|false)\}""".r
      .findAllMatchIn(gate).map(m => m.group(1) -> m.group(2).toBoolean).toMap

  /** Ten 2 s filler queries hold the run shift at `shift`, whatever
    * the queries under test do.
    */
  private def gated(shift: Double, rows: (String, Double, Double)*): Map[String, Boolean] = {
    val filler = (0 until 10).map(i => (s"f$i", 2.0, 2.0 * shift))
    val all = filler ++ rows
    val g = Canary.gate(all.map(r => r._1 -> r._3), all.map(r => r._1 -> r._2).toMap)
    assert(g.contains(f""""run_shift":$shift%.3f"""), g)
    passes(g)
  }

  test("canary gate: a uniform run shift cancels out") {
    val base = Seq("a" -> 1.0, "b" -> 2.0, "c" -> 4.0)
    val g = Canary.gate(base.map { case (k, v) => k -> v * 1.3 }, base.toMap)
    assert(g.startsWith("""{"verdict":"pass","run_shift":1.300,"""), g)
    assert(passes(g) == Map("a" -> true, "b" -> true, "c" -> true))
    assert(Canary.gate(base, Map.empty) == "null")
  }

  test("canary gate: the default band is ±20%, around the shift") {
    // 2 s rows: 20% is 400 ms, far above the 100 ms absolute floor
    val p = gated(1.5, ("up_in", 2.0, 2.0 * 1.5 * 1.19), ("up_out", 2.0, 2.0 * 1.5 * 1.21),
      ("down_in", 2.0, 2.0 * 1.5 * 0.81), ("down_out", 2.0, 2.0 * 1.5 * 0.79))
    assert(p("up_in") && p("down_in") && !p("up_out") && !p("down_out"), p)
    val g = Canary.gate(Seq("a" -> 2.0, "b" -> 2.6, "c" -> 2.0), Map("a" -> 2.0, "b" -> 2.0, "c" -> 2.0))
    assert(g.startsWith("""{"verdict":"FAIL","""), g)
  }

  test("canary gate: sq1 gets ±45%, d20 and v21 get ±30%") {
    val p = gated(1.0,
      ("sq1_subqueries", 2.0, 2.0 * 1.44), ("d20_ppjoin", 2.0, 2.0 * 1.29),
      ("v21_hard_negatives", 2.0, 2.0 * 0.71), ("a3_grouped_stats", 2.0, 2.0 * 1.29))
    assert(p("sq1_subqueries") && p("d20_ppjoin") && p("v21_hard_negatives"), p)
    assert(!p("a3_grouped_stats"), p)
    val q = gated(1.0,
      ("sq1_subqueries", 2.0, 2.0 * 1.46), ("d20_ppjoin", 2.0, 2.0 * 1.31),
      ("v21_hard_negatives", 2.0, 2.0 * 0.69))
    assert(!q("sq1_subqueries") && !q("d20_ppjoin") && !q("v21_hard_negatives"), q)
  }

  test("canary gate: the 100 ms absolute floor, capped at half the shift-adjusted baseline") {
    // at shift 2 a 0.15 s row's shift-adjusted baseline is 0.3 s: a
    // 95 ms move (+32%) passes on the floor, a 105 ms move fails
    val p = gated(2.0, ("small_in", 0.15, 0.30 + 0.095), ("small_out", 0.15, 0.30 + 0.105),
      // a 0.05 s row's shift-adjusted baseline is 0.1 s: its floor is
      // 50 ms, so a 45 ms move (+45%) passes and a 55 ms move fails
      ("tiny_in", 0.05, 0.10 + 0.045), ("tiny_out", 0.05, 0.10 + 0.055))
    assert(p("small_in") && !p("small_out"), p)
    assert(p("tiny_in") && !p("tiny_out"), p)
  }

  test("canary baseline reader takes only the first flat queries block of a gated line") {
    val f = java.nio.file.Files.createTempFile("graft-canary", ".json")
    val line = canaryLine(Seq("a3_grouped_stats" -> 0.25, "w3_running_sum" -> 1.5e-1))
      .replace("\"gate\":null", "\"gate\":" + Canary.gate(
        Seq("a3_grouped_stats" -> 0.5, "d2_minhash_lsh" -> 3.0),
        Map("a3_grouped_stats" -> 0.25, "d2_minhash_lsh" -> 1.0)))
    java.nio.file.Files.write(f, line.getBytes("UTF-8"))
    assert(Measure.readQueries(f.toString) ==
      Map("a3_grouped_stats" -> 0.25, "w3_running_sum" -> 0.15))
    java.nio.file.Files.write(f, "{}".getBytes("UTF-8"))
    assert(Measure.readQueries(f.toString).isEmpty)
  }

  test("bench window grade: a baseline taken on another sf dir grades no_baseline") {
    val f = java.nio.file.Files.createTempFile("graft-canary", ".json")
    java.nio.file.Files.write(f, canaryLine(Seq("a3_grouped_stats" -> 1.0, "w3_running_sum" -> 3.0))
      .replace("\"sf\":\"x\"", "\"sf\":\"/data/sf0.1\"").getBytes("UTF-8"))
    val run = Map("a3_grouped_stats" -> 2.0, "w3_running_sum" -> 4.0, "d13_edit_distance" -> 9.0)
    assert(Bench.windowGrade(run, f.toString, "/data/sf0.1/") ==
      "\"canary_norm\":4.0,\"canary_now\":6.0,\"window_ratio\":1.5,\"window_grade\":\"settled\"")
    assert(Bench.windowGrade(run.map { case (k, v) => k -> 2 * v }, f.toString, "/data/sf0.1")
      .endsWith("\"window_grade\":\"contended\""))
    assert(Bench.windowGrade(run, f.toString, "/data/sf0.01") == "\"window_grade\":\"no_baseline\"")
    assert(Bench.windowGrade(Map("d13_edit_distance" -> 9.0), f.toString, "/data/sf0.1") ==
      "\"window_grade\":\"no_baseline\"")
    java.nio.file.Files.delete(f)
    assert(Bench.windowGrade(run, f.toString, "/data/sf0.1") == "\"window_grade\":\"no_baseline\"")
  }
}
