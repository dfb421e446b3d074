package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.enrich.WeatherEnrich
import graft.sinks.VersionedStore
import graft.streaming.WeatherPipeline

/** The `batch` workload: closed loop, one client, full results.
  *
  * A timed execution is one call of the query function (the "build"
  * span: DataFrame construction, including any artifact reads, artifact
  * builds and eager collects the function does) followed by a
  * full-result write of the returned DataFrame to Spark's `noop` sink
  * (the "execute" span). `count()` would let Catalyst prune projections,
  * UDF columns and sorts that the result needs, so it is never used.
  *
  * Set-up starts with the JVM and ends after one execution of every
  * query on the run's fresh warehouse: JVM and session start, class
  * loading, JIT and every artifact build. The timed window then runs
  * whole passes over the query list, each pass in a seed-permuted order:
  * at least two, and as many as end within half a pass of `--seconds`.
  * After the window every query runs once more on the warm state. The
  * set-up and the warm results are written as parquet, and `run.py`
  * compares both with the query's DuckDB oracle.
  */
object Batch {

  /** Dashboard part: one registered analytics query per plan shape of
    * the reference's dashboard: map-only enrichment over the events
    * table, a star join, correlated subqueries and a running window.
    */
  val Dashboard: Seq[String] = Seq(
    "parity_enrich", "j1_revenue_by_segment", "sq1_subqueries", "w3_running_sum")

  /** Corpus part: registered operator queries that are ROADMAP targets:
    * per-row edit-distance UDFs (d13), a composed chain over stored
    * window-hash artifacts (e2e2) and hybrid retrieval with sequential
    * driver collects (r2).
    */
  val Corpus: Seq[String] = Seq("d13_edit_distance", "e2e2_span_prep", "r2_hybrid_rrf")

  /** Weather part: the reference's core path, `WeatherPipeline.enriched`
    * and `WeatherEnrich.alerts`, in batch over the seeded raw Schema-A
    * feed (`weather.jsonl`, one Kafka value per line). Results carry no
    * order, so the oracle comparison is unordered.
    */
  private def rawWeather(spark: SparkSession, dataDir: String): DataFrame =
    spark.read.text(s"$dataDir/weather.jsonl")
  val Weather: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("weather_enriched", (s, d) => WeatherPipeline.enriched(rawWeather(s, d)),
      WeatherOracle.cte + "SELECT * FROM e"),
    ("weather_alerts", (s, d) => WeatherEnrich.alerts(WeatherPipeline.enriched(rawWeather(s, d))),
      WeatherOracle.cte + """SELECT timestamp_dt, city_name, alert_type, temperature,
        |       wind_speed_num, pressure FROM e WHERE alert_type <> 'NORMAL'""".stripMargin))

  def run(spark: SparkSession, a: Main.Args, tr: Tracer, out: Result): Unit = {
    val registered = Dashboard ++ Corpus
    val unknown = registered.filterNot(n =>
      graft.SparkEntry.queries.contains(n) && graft.SparkEntry.oracleSql.contains(n))
    require(unknown.isEmpty, s"not registered with an oracle: ${unknown.mkString(", ")}")
    val fns = registered.map(n => n -> graft.SparkEntry.queries(n)).toMap ++
      Weather.map(w => w._1 -> w._2)
    val oracle = registered.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap ++
      Weather.map(w => w._1 -> w._3)
    val ordered = registered.toSet
    val names = registered ++ Weather.map(_._1)
    val wh = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val rng = new scala.util.Random(a.seed)
    val latMs = mutable.ArrayBuffer.empty[Double]
    val timedExec = mutable.ArrayBuffer.empty[(String, Long, Long)] // query, build span, execute span
    val byQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

    /** One full-result execution, the result handed to `write`;
      * (ms, build span, execute span), or None if it threw.
      */
    def execute(name: String, parent: Long, write: DataFrame => Unit)
        : Option[(Double, Long, Long)] = {
      out.attempted += 1
      val t0 = System.nanoTime()
      var ids = (0L, 0L)
      val ok = try {
        tr.span(spark, "query", name, parent) { q =>
          val df = tr.span(spark, "build", name, q) { b =>
            ids = (b, 0L); fns(name)(spark, a.dataDir)
          }
          tr.span(spark, "execute", name, q) { e => ids = (ids._1, e); write(df) }
        }
        true
      } catch {
        case t: Throwable =>
          out.failed += 1
          out.errors += s"$name: ${t.getClass.getSimpleName}: ${t.getMessage}"
          false
      }
      val ms = (System.nanoTime() - t0) / 1e6
      // Executions are strictly sequential, so dropping every cached
      // block here (outside the timed interval) cannot touch a running
      // query; blocking, so no cleanup overlaps the next execution.
      spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
      if (ok) Some((ms, ids._1, ids._2)) else None
    }

    val root = tr.newId()
    val wStart = tr.now()
    /** Every query once, its full result written as parquet for the
      * oracle comparison.
      */
    def checkedPass(phase: String, parent: Long): Unit = names.foreach { n =>
      val dir = s"${a.runDir}/results/$phase/$n"
      execute(n, parent, _.write.mode("overwrite").parquet(dir))
        .foreach(_ => out.checks += Check(phase, n, dir, oracle(n), ordered(n)))
    }

    // set-up: artifacts built on the fresh warehouse
    val ledger0 = VersionedStore.buildCount()
    tr.span(spark, "setup", "set-up", root)(checkedPass("setup", _))
    val setupS = Main.sinceJvmStart()
    val setupBuilds = VersionedStore.buildEvents().drop(ledger0)

    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
    val ledger1 = VersionedStore.buildCount()
    val passMs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    // whole passes, at least two so every query has two samples; another
    // starts while it would end within half a pass of the deadline
    while (passMs.size < 2 || System.nanoTime() + passMs.last * 1e6 / 2 < deadline) {
      val p0 = System.nanoTime()
      tr.span(spark, "pass", s"pass ${passMs.size + 1}", root) { p =>
        rng.shuffle(names).foreach { n =>
          execute(n, p, noop).foreach { case (ms, b, e) =>
            latMs += ms
            byQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ms
            timedExec += ((n, b, e))
          }
        }
      }
      passMs += (System.nanoTime() - p0) / 1e6
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val timedBuilds = VersionedStore.buildCount() - ledger1
    val disk = Main.diskMb(wh.getPath)
    // the warm path the window timed: stored artifacts, driver-side memos
    val v0 = System.nanoTime()
    tr.span(spark, "verify", "warm results", root)(checkedPass("warm", _))
    out.notes("verify_s") = (System.nanoTime() - v0) / 1e9

    out.metrics("setup_s") = setupS
    out.metrics("latency_p50_ms") = Main.percentile(latMs.toSeq, 0.5)
    out.metrics("latency_p90_ms") = Main.percentile(latMs.toSeq, 0.9)
    // a pass at each query's median latency: robust to one slow execution
    val medMs = byQuery.map { case (n, xs) => n -> Main.median(xs.toSeq) }
    out.metrics("throughput_per_s") = medMs.size / (medMs.values.sum / 1e3)
    out.metrics("peak_rss_mb") = Main.peakRssMb()
    out.metrics("disk_mb") = disk
    out.notes("passes") = passMs.size
    out.notes("pass_s") = Main.median(passMs.toSeq) / 1e3
    out.notes("samples") = latMs.size
    out.notes("window_s") = windowS
    medMs.foreach { case (n, ms) => out.notes(s"median_ms.$n") = ms }
    tr.add(Span(root, 0, "workload", a.workload, wStart, tr.now()))

    if (tr.on) layers(spark, tr, out, passMs.size, timedExec.toSeq,
      setupBuilds, timedBuilds, disk)
  }

  /** Per-layer numbers of the timed window, per pass. */
  private def layers(spark: SparkSession, tr: Tracer, out: Result, passes: Int,
      timed: Seq[(String, Long, Long)], setupBuilds: Seq[(String, Double)],
      timedBuilds: Int, artifactMb: Double): Unit = {
    tr.drain(spark)
    val spans = tr.allSpans.map(s => s.id -> s).toMap
    val jobs = tr.jobs.asScala.toSeq
    val stages = tr.stages.asScala.map(s => s.stageId -> s).toMap
    val plans = tr.plans.asScala.toSeq
    val jobsBySpan = jobs.groupBy(_.span)
    val n = passes.toDouble

    final case class Q(buildMs: Double, buildJobs: Double, execMs: Double,
        planMs: Double, jobs: Double, stages: Double, tasks: Double,
        stageMs: Double, cpuMs: Double, gcMs: Double, inB: Double,
        shrB: Double, shwB: Double, spillB: Double)
    val rows = timed.map { case (name, b, e) =>
      val ej = jobsBySpan.getOrElse(e, Nil)
      val st = ej.flatMap(_.stages).distinct.flatMap(stages.get)
      name -> Q(
        buildMs = spans.get(b).map(_.ms).getOrElse(0.0),
        buildJobs = jobsBySpan.getOrElse(b, Nil).size,
        execMs = spans.get(e).map(_.ms).getOrElse(0.0),
        planMs = spans.get(e).map(s => plans.collect {
          case (t, ms) if t >= s.start - 1 && t <= s.end => ms }.sum).getOrElse(0.0),
        jobs = ej.size, stages = st.size, tasks = st.map(_.tasks).sum,
        stageMs = Tracer.unionMs(st.map(s => (s.start, s.end))),
        cpuMs = st.map(_.cpuMs).sum, gcMs = st.map(_.gcMs).sum,
        inB = st.map(_.inputB).sum, shrB = st.map(_.shuffleReadB).sum,
        shwB = st.map(_.shuffleWriteB).sum, spillB = st.map(_.spillB).sum)
    }
    def tot(f: Q => Double) = rows.map(r => f(r._2)).sum / n
    val mb = 1048576.0
    val L = out.layers
    L("query.build_ms") = tot(_.buildMs)
    L("query.build_jobs") = tot(_.buildJobs)
    L("versionedstore.builds") = setupBuilds.size
    L("versionedstore.build_s") = setupBuilds.map(_._2).sum
    L("versionedstore.timed_builds") = timedBuilds
    L("versionedstore.artifact_mb") = artifactMb
    L("catalyst.plan_ms") = tot(_.planMs)
    L("exec.ms") = tot(_.execMs)
    L("exec.jobs") = tot(_.jobs)
    L("exec.stages") = tot(_.stages)
    L("exec.tasks") = tot(_.tasks)
    L("exec.stage_ms") = tot(_.stageMs)
    L("exec.driver_gap_ms") = tot(q => q.execMs - q.stageMs)
    L("exec.task_cpu_ms") = tot(_.cpuMs)
    L("exec.gc_ms") = tot(_.gcMs)
    L("exec.input_mb") = tot(_.inB) / mb
    L("exec.shuffle_read_mb") = tot(_.shrB) / mb
    L("exec.shuffle_write_mb") = tot(_.shwB) / mb
    L("exec.spill_mb") = tot(_.spillB) / mb

    // job/stage spans under the benchmark span that launched them; self
    // time per kind over the timed passes only
    val js = tr.jobStageSpans(_.span)
    js.foreach(tr.add)
    val all = tr.allSpans
    val byId = all.map(s => s.id -> s).toMap
    def inPass(s: Span): Boolean = s.kind == "pass" ||
      (s.parent != 0 && byId.get(s.parent).exists(inPass))
    val self = Tracer.selfMsByKind(all.filter(inPass))
    Seq("pass", "query", "build", "execute", "job", "stage").foreach { k =>
      L(s"self.${k}_ms") = self.getOrElse(k, 0.0) / n
    }

    rows.groupBy(_._1).foreach { case (name, rs) =>
      val k = rs.size.toDouble
      def avg(f: Q => Double) = rs.map(r => f(r._2)).sum / k
      out.perQuery(name) = scala.collection.immutable.ListMap(
        "executions" -> k, "build_ms" -> avg(_.buildMs), "build_jobs" -> avg(_.buildJobs),
        "execute_ms" -> avg(_.execMs), "plan_ms" -> avg(_.planMs), "jobs" -> avg(_.jobs),
        "stages" -> avg(_.stages), "stage_ms" -> avg(_.stageMs),
        "driver_gap_ms" -> avg(q => q.execMs - q.stageMs), "task_cpu_ms" -> avg(_.cpuMs),
        "shuffle_read_mb" -> avg(_.shrB) / mb)
    }
  }
}

/** DuckDB oracle of the weather part over `weather_records` (the feed's
  * records as parsed string fields): the reference's cast layer and
  * E1-E7 written independently in SQL. Non-numeric strings cast to
  * null, humidity and pressure truncate, the temperature family rounds
  * half away from zero, epoch seconds format in UTC.
  */
object WeatherOracle {
  val cte: String =
    """WITH c AS (
      |  SELECT date, weather_description, city_name, local_time, "timestamp",
      |    CAST(round(TRY_CAST("température" AS DOUBLE)) AS INT) AS temperature,
      |    CAST(trunc(TRY_CAST("humidité" AS DOUBLE)) AS INT) AS humidity,
      |    CAST(trunc(TRY_CAST(pression AS DOUBLE)) AS INT) AS pressure,
      |    TRY_CAST(wind_speed AS DOUBLE) AS wind_speed_num,
      |    CAST(round(TRY_CAST(feels_like AS DOUBLE)) AS INT) AS feels_like_num,
      |    CAST(round(TRY_CAST(min_temp AS DOUBLE)) AS INT) AS min_temp_num,
      |    CAST(round(TRY_CAST(max_temp AS DOUBLE)) AS INT) AS max_temp_num,
      |    TRY_CAST(latitude AS DOUBLE) AS lat,
      |    TRY_CAST(longitude AS DOUBLE) AS lon,
      |    strftime(make_timestamp(TRY_CAST("timestamp" AS BIGINT) * 1000000),
      |             '%Y-%m-%d %H:%M:%S') AS event_time,
      |    make_timestamp(TRY_CAST("timestamp" AS BIGINT) * 1000000) AS timestamp_dt
      |  FROM weather_records
      |), e AS (
      |  SELECT *,
      |    CAST(round(temperature - (100 - humidity) / 5) AS INT) AS dew_point,
      |    CASE WHEN temperature >= 27
      |         THEN CAST(round(temperature + 0.33 * humidity - 0.70 * wind_speed_num - 4.00) AS INT)
      |         ELSE temperature END AS heat_index,
      |    CASE WHEN temperature <= 10 AND wind_speed_num > 4.8
      |         THEN CAST(round(13.12 + 0.6215 * temperature
      |                         - 11.37 * pow(wind_speed_num, 0.16)
      |                         + 0.3965 * temperature * pow(wind_speed_num, 0.16)) AS INT)
      |         ELSE temperature END AS wind_chill,
      |    CASE WHEN weather_description LIKE '%clear%' THEN 'Clear'
      |         WHEN weather_description LIKE '%cloud%' THEN 'Cloudy'
      |         WHEN weather_description LIKE '%rain%' THEN 'Rainy'
      |         WHEN weather_description LIKE '%storm%' THEN 'Stormy'
      |         WHEN weather_description LIKE '%snow%' THEN 'Snowy'
      |         WHEN weather_description LIKE '%fog%' THEN 'Foggy'
      |         ELSE 'Other' END AS weather_category,
      |    CASE WHEN temperature BETWEEN 18 AND 24 AND humidity BETWEEN 30 AND 60 THEN 'Comfortable'
      |         WHEN temperature > 30 THEN 'Very Hot'
      |         WHEN temperature < 10 THEN 'Cold'
      |         WHEN humidity > 80 THEN 'Humid'
      |         ELSE 'Moderate' END AS comfort_level,
      |    CASE WHEN temperature > 40 OR temperature < 0 THEN true ELSE false END AS is_extreme_temp,
      |    CASE WHEN wind_speed_num > 50 THEN true ELSE false END AS is_high_wind,
      |    CASE WHEN pressure < 980 OR pressure > 1040 THEN true ELSE false END AS is_pressure_anomaly,
      |    CASE WHEN temperature > 40 OR temperature < 0 THEN 'EXTREME_TEMPERATURE'
      |         WHEN wind_speed_num > 50 THEN 'HIGH_WIND'
      |         WHEN pressure < 980 OR pressure > 1040 THEN 'PRESSURE_ANOMALY'
      |         ELSE 'NORMAL' END AS alert_type
      |  FROM c
      |)
      |""".stripMargin
}
