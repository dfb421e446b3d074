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
  * class; a later session cannot resize it. So [[local]] compiles one
  * class on its own thread as soon as the session exists
  * ([[sizeCodegenCache]]): a first compile on another thread could read
  * a conf without the bound and fix the cache at 100, which test JVMs
  * showed (identical classes recompiled every micro-batch). The
  * engine's working set is larger: one pass of the benchmark's batch queries compiles ~300
  * distinct classes, one StreamPrep micro-batch ~100–150. Under the
  * default each repeat of a query (a dashboard refresh, the next
  * trigger) found its classes evicted and recompiled them: ~240 per
  * batch pass, 93–138 per micro-batch. [[CodegenCacheMaxEntries]] =
  * 2000 leaves headroom over those sets, because Guava splits the bound
  * across its cache segments; at 2000 a repeated batch pass compiles 0
  * classes. It is a constant, not a per-run knob: it follows the
  * engine's working set, not the input. The streaming stores write
  * their batch id through a non-foldable column
  * (`StoreSink.batchIdCol`), not a literal that the generated code
  * would inline as a Java constant, so a steady micro-batch compiles 0
  * classes too; the compiles a micro-batch still shows come from new
  * plan shapes (the first batches, an adaptive re-plan, a fold).
  *
  * Local file system: `file:` paths resolve to
  * [[graft.sinks.NioLocalFileSystem]] and, for FileContext,
  * [[graft.sinks.NioLocalFs]] ([[LocalFileSystemConf]]). Spark ships
  * without `libhadoop`, and without it Hadoop 3.4's local file system
  * starts a `chmod` process for every dir, part file and `.crc` it
  * creates, and a `readlink` process for every link-status lookup of a
  * checkpoint's FileContext renames. A 10 s `stream_prep` benchmark run
  * (seed 1) started 1,127 processes that way (903 `chmod`, 224
  * `readlink`), and its micro-batches' `walCommit` plus `commitOffsets`
  * took about 63 ms each, nearly all of it forks. On a 4-core Linux
  * host (JDK 17), `mkdirs` plus `create` of a 1 KB file with its `.crc`
  * cost 8.2 ms through Hadoop and 0.17 ms in process, and a FileContext
  * rename with overwrite 20.7 ms against 0.26 ms. The replacement does
  * the same operations with the same mode bits and `.crc` sidecars, in
  * process: the run above then starts 6 processes, all once per JVM
  * (Hadoop's `setsid` probe, Spark's `getconf PAGESIZE` and its `rm -rf`
  * of temp dirs at shutdown), and `walCommit` plus `commitOffsets` take
  * about 4 ms a batch. Like the codegen bound it is fixed engine
  * behaviour, not a setting, and it must be in the session's conf from
  * the start: Hadoop caches one `file:` file system per JVM, whatever
  * the conf of later lookups.
  */
object Sessions {

  /** Bound on Spark's generated-class cache; see the object doc. */
  val CodegenCacheMaxEntries: Int = 2000

  /** The Spark conf entries that resolve `file:` paths to the engine's
    * local file system, for both the FileSystem and the FileContext
    * API; see the object doc.
    */
  val LocalFileSystemConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.sinks.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.sinks.NioLocalFs].getName)

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
      .config(LocalFileSystemConf)
      // events.parquet carries TIMESTAMP(NANOS), which Spark's parquet
      // reader rejects; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Reference semantics are Spark 3.5 pre-ANSI: invalid cast => null.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    sizeCodegenCache(spark)
    spark.sparkContext.setLogLevel("WARN")
    // per-query progress + batch-action metrics (the reference's
    // Prometheus/JMX signal, engine-side) — idempotent per session
    graft.observe.Metrics.register(spark)
    spark
  }

  /** Compile one class on this thread, under `spark`'s conf, so that the
    * JVM-wide codegen cache is sized by the session's bound (see the
    * object doc); a no-op for the cache once anything has compiled.
    */
  def sizeCodegenCache(spark: SparkSession): Unit = {
    spark.range(1).selectExpr("id + 1").collect()
    ()
  }
}
