package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy), reference-parity configs.
  * The generated-class cache is JVM-wide and sized by the first compile
  * in the JVM, so the suite sets the engine's bound and sizes the cache
  * as `Sessions.local` does — otherwise the forked test JVM would run
  * with Spark's default of 100. It resolves `file:` paths to the
  * engine's local file system (`Sessions.LocalFileSystemConf`) for the
  * same reason: Hadoop caches one per JVM. It builds the session with
  * the engine's extensions, as `Sessions.local` does, so the suite
  * plans with the engine's planner rule (`functions.SmallSort`); they
  * apply only to a session built with them.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.codegen.cache.maxEntries", Sessions.CodegenCacheMaxEntries.toLong)
      .config(Sessions.LocalFileSystemConf)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Sessions.sizeCodegenCache(s)
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

/** Shared test fixtures — single source of truth for the golden record
  * (the one real Schema-A input the reference's committed output pins).
  */
object Fixtures {
  val goldenJson: String =
    """{"date":"2025-10-28 14:31:46","weather_description":"overcast clouds",
      |"latitude":"33.5928","pression":"1014","humidité":"69","feels_like":"23.4",
      |"city_name":"Casablanca","local_time":"2025-10-28 15:31:46","min_temp":"22.8",
      |"wind_speed":"5.14","température":"22.97","max_temp":"23.1",
      |"timestamp":"1761661906","longitude":"-7.6192"}""".stripMargin.replace("\n", "")
}
