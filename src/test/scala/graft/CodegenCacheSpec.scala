package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-class cache holds the engine's working set: a repeated
  * pass over the same queries (a dashboard refresh, the next streaming
  * trigger) reuses every class the first pass compiled instead of
  * recompiling it with Janino. Under Spark's default bound of 100 the
  * first pass below evicts its own classes before the second pass needs
  * them. The queries are analytics shapes no other suite runs, so the
  * first pass compiles most of its classes itself whatever ran earlier
  * in this JVM (about 260 in a fresh JVM; earlier suites can supply
  * the generic classes they share).
  *
  * The passes run with adaptive execution off. AQE re-plans as stages
  * finish, so the set-operation queries (`set1_nation_ops`,
  * `set2_bag_ops`) sometimes generate 4–6 new classes on their second
  * run: new sources, not evictions. With static plans every repeat
  * compiles 0, so the count measures the cache alone.
  *
  * Queries with several distinct aggregates (`fu1_funnel`,
  * `qa2_column_profile`, `qa3_profile_drift`, `scale_approx_distinct`)
  * are left out: even with static plans their distinct-aggregate rewrite
  * orders its grouping attributes differently from one planning to the
  * next, so a repeat compiles new classes (3–9 per query and pass).
  */
class CodegenCacheSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val queries = Seq(
    "a3_grouped_stats", "a4_value_counts", "a7_histogram", "a8_quantiles",
    "a12_conditional_agg", "o2_latest", "p6p9_filter_combo",
    "j1_revenue_by_segment", "j3_semi_customers_with_orders",
    "j4_anti_parts_never_shipped", "j5_outer_order_size_dist",
    "sq1_subqueries", "g1_rollup", "g3_cube", "g4_grouping_sets",
    "w2_lag_delta", "w3_running_sum", "w4_window_frames", "w5_range_frame",
    "set1_nation_ops", "set2_bag_ops", "pv1_daily_pivot", "t5_string_funcs",
    "f10_date_funcs")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes each query compiles while writing its full result. */
  private def pass(): Map[String, Long] = queries.map { q =>
    val before = compiles
    SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
    q -> (compiles - before)
  }.toMap

  test("a repeated pass compiles no class: the cache outgrows Spark's default of 100") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val first = pass().values.sum
      val second = pass().filter(_._2 > 0)
      info(s"compiled: first pass $first, second pass ${second.values.sum}")
      assert(first > 100,
        s"first pass compiled $first classes; it must exceed 100 to test past the default")
      assert(second.isEmpty,
        s"second pass recompiled ${second.values.sum} of the first pass's $first classes: $second")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
