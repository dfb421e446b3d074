package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** One measured run, as `run.py` launches it:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --data <sf dir> --run <fresh run dir> --cpus <n>
  * }}}
  *
  * The session comes from the engine's own `graft.Sessions.local`;
  * `run.py` points its warehouse and scratch dirs into the fresh run
  * dir through `spark.*` system properties. The run writes
  * `<run>/result.json` (metrics, per-layer numbers, the result dirs the
  * oracle check must compare) and, when traced, `<run>/spans.jsonl`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, dataDir: String, runDir: String, cpus: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("run"), kv("cpus"))
    val tracer = new Tracer(a.trace)
    val spark = graft.Sessions.local(cpus = a.cpus, appName = s"perfbench-${a.workload}")
    tracer.install(spark)
    val out = new Result
    try a.workload match {
      case "batch" => Batch.run(spark, a, tracer, out)
      case "stream_prep" => Streams.prep(spark, a, tracer, out)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    } catch {
      case t: Throwable =>
        out.errors += s"${t.getClass.getName}: ${t.getMessage}"
        t.printStackTrace()
    }
    if (a.trace) Tracer.writeSpans(s"${a.runDir}/spans.jsonl", tracer.allSpans)
    Files.writeString(Paths.get(s"${a.runDir}/result.json"), out.json)
    spark.stop()
  }

  /** Seconds since this JVM started: set-up time includes JVM and
    * session start, class loading and JIT, as a user's first query pays.
    */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** High-water resident set size of this process, in MB (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Total bytes of regular files under `dir`, in MB. */
  def diskMb(dir: String): Double = du(new File(dir)) / 1048576.0
  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L

  /** Every directory at or under `f`. */
  def dirsUnder(f: File): Seq[File] =
    if (!f.isDirectory) Nil
    else f +: Option(f.listFiles()).toSeq.flatten.flatMap(dirsUnder)

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      // linear interpolation between closest ranks (numpy's default)
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}

/** A full result `run.py` compares with its DuckDB oracle: written in
  * `phase` ("setup" or "warm") to the parquet dir `dir`; compared row by
  * row when `ordered`, else as a multiset of rows.
  */
final case class Check(phase: String, name: String, dir: String, sql: String,
    ordered: Boolean)

/** What a run hands back to `run.py`. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[Check]
  /** Per-query layer rows of a traced batch run: query -> (metric -> value). */
  val perQuery = mutable.LinkedHashMap.empty[String, Map[String, Double]]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def json: String = {
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val cs = checks.map(c =>
      s"""{"phase":${Json.str(c.phase)},"name":${Json.str(c.name)},"dir":${Json.str(c.dir)},""" +
        s""""sql":${Json.str(c.sql)},"ordered":${c.ordered}}""")
    val pq = perQuery.map { case (q, m) => s"${Json.str(q)}:${obj(m)}" }.mkString("{", ",", "}")
    s"""{"metrics":${obj(metrics)},"layers":${obj(layers)},"notes":${obj(notes)},""" +
      s""""checks":${cs.mkString("[", ",", "]")},"per_query":$pq,""" +
      s""""errors":${errors.map(Json.str).mkString("[", ",", "]")},""" +
      s""""attempted":$attempted,"failed":$failed}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
