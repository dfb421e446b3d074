package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-aware defaults: AQE on (runtime
  * coalescing + skew-join splitting), shuffle partitions sized to the
  * local core count (on a real cluster this becomes cores×executors; AQE
  * coalesces down), UTC pinned for oracle parity.
  *
  * Generated-class cache: whole-stage codegen compiles a class with
  * Janino unless Spark's JVM-wide cache already holds the same source.
  * The cache bound, `spark.sql.codegen.cache.maxEntries` (Spark default
  * 100), is a static conf read once, when the JVM compiles its first
  * class; a later session cannot resize it. The engine's working set is
  * larger: one pass of the benchmark's batch queries compiles ~300
  * distinct classes, one StreamPrep micro-batch ~100–150. Under the
  * default each repeat of a query (a dashboard refresh, the next
  * trigger) found its classes evicted and recompiled them: ~240 per
  * batch pass, 93–138 per micro-batch. [[CodegenCacheMaxEntries]] =
  * 2000 leaves headroom over those sets, because Guava splits the bound
  * across its cache segments; at 2000 a repeated batch pass compiles 0
  * classes. It is a constant, not a per-run knob: it follows the
  * engine's working set, not the input. The 16–45 compiles per
  * micro-batch that remain are new sources, not evictions: `lit(batchId)`
  * is inlined into the generated code as a Java constant.
  */
object Sessions {

  /** Bound on Spark's generated-class cache; see the object doc. */
  val CodegenCacheMaxEntries: Int = 2000

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // engine-native SQL functions (cosine_sim/_q) injected at session
      // build — the path a production deployment configures
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toLong)
      // events.parquet carries TIMESTAMP(NANOS), which Spark's parquet
      // reader rejects; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Reference semantics are Spark 3.5 pre-ANSI: invalid cast => null.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // per-query progress + batch-action metrics (the reference's
    // Prometheus/JMX signal, engine-side) — idempotent per session
    graft.observe.Metrics.register(spark)
    spark
  }
}
