package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, sum}

/** Plan-shape regression tests: the scale properties the engine
  * depends on (pushdown, pruning, broadcast choice, generated-column
  * pruning) asserted against the PHYSICAL plan, so a refactor that
  * silently turns a broadcast into a 100 TB shuffle fails CI, not the
  * cluster. (Zero-shuffle bucketing and partition-count pruning are
  * asserted separately in OpsSpec.)
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  private def planString(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes its plan choices
    // strip the AQE wrapper: AdaptiveSparkPlanExec.toString prints the
    // INITIAL plan alongside the final one once they diverge, so a raw
    // string match could fail on (or match) a plan AQE already replaced
    stripAQEPlan(df.queryExecution.executedPlan).toString
  }

  test("g2 pricing summary: date filter is pushed into the parquet scan") {
    val p = planString(SparkEntry.queries("g2_pricing_summary")(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected pushed l_shipdate filter in:\n$p")
  }

  test("g2 pricing summary: scan reads only the needed columns") {
    val df = SparkEntry.queries("g2_pricing_summary")(spark, sf)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    // lineitem has 11 columns; the query needs no more than 7
    assert(scans.forall(_.requiredSchema.fields.length <= 7),
      scans.map(_.requiredSchema.catalogString).mkString("; "))
  }

  test("j2 star join: every dimension join is a broadcast, none a sort-merge") {
    val p = planString(SparkEntry.queries("j2_asia_nation_revenue")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dimension join fell back to sort-merge:\n$p")
  }

  test("j6 range join: literal band dim broadcasts; fact side never shuffles for the join") {
    val p = planString(SparkEntry.queries("j6_range_join")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("LSH coding is map-only: zero exchanges, zero aggregates to code a corpus") {
    import graft.operators.VectorOps
    import graft.sources.Tables
    val df = VectorOps.lshCodeFrame(Tables.embeddings(spark, sf), VectorOps.Bits)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val exchanges = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val aggs = collectWithSubqueries(plan) {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    assert(exchanges.isEmpty,
      s"coding 100 TB of vectors must not shuffle, found ${exchanges.length} exchanges")
    assert(aggs.isEmpty,
      s"codes are a per-row function, found ${aggs.length} aggregates")
    assert(plan.toString.contains("lsh_codes"), plan.toString.take(500))
  }

  test("v2 ANN: tiny query-code side broadcasts into the bucket join") {
    val p = planString(SparkEntry.queries("v2_ann_lsh")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("d7 contamination screen: bench set broadcasts; corpus never shuffles for the join") {
    val p = planString(SparkEntry.queries("d7_contamination")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), s"bench join fell back to sort-merge:\n$p")
  }

  test("skew1: lineitem pre-aggregates below the salted join and stays narrow") {
    // The r4 perf fix (SkewJoin.scala): lineitem collapses to one row per
    // l_orderkey BEFORE being salted and joined — a refactor that joins
    // full-width lineitem first would 4× the shuffle volume silently.
    val df = SparkEntry.queries("skew1_salted_join")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val joins = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    // salted equi-joins are the ones keyed on the salt column; assert
    // over ALL of them (a second salted join must not escape the pin),
    // and key the narrowness check on output WIDTH, not internal column
    // names — a rename of __cnt/__price must not silently defuse it
    val salted = joins.filter(_.leftKeys.exists(_.toString.contains("__salt")))
    assert(salted.nonEmpty, s"no join keyed on __salt in:\n${plan.toString.take(1200)}")
    salted.foreach { j =>
      // the optimizer may swap sides; the pre-aggregated lineitem side
      // is the one with a partial aggregate below it
      val aggSide = Seq(j.left, j.right).find { side =>
        collectWithSubqueries(side) {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }.nonEmpty
      }.getOrElse(fail(
        s"no join side aggregates lineitem BELOW the join:\n${j.toString.take(1200)}"))
      // key + salt + a handful of partials; full-width lineitem is 16+ cols
      assert(aggSide.output.length <= 4,
        s"pre-aggregated side must stay narrow (key, salt, partials), got " +
          s"${aggSide.output.length} cols: ${aggSide.output.map(_.name).mkString(", ")}")
    }
  }

  test("p11 packing: the only unpartitioned window sits above an aggregate (bucket offsets)") {
    // The two-phase prefix sum exists to keep the doc-level running sum
    // OFF a single partition; a refactor back to one global window would
    // still be correct and silently serialize the corpus through one
    // task. Contract: any WindowExec with an empty partitionSpec must
    // consume an aggregate (the tiny per-bucket totals), never raw rows.
    val df = SparkEntry.queries("p11_sequence_packing")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val aggBelow = collectWithSubqueries(w.child) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(aggBelow.nonEmpty,
        s"unpartitioned window over raw rows (single-partition scale-killer):\n${w.toString.take(800)}")
    }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "the doc-level running sum must be a PARTITIONED window")
  }

  test("t9/c1/z1: cleaning, chunking, z-keying stay map-only (one exchange, the oracle ORDER BY)") {
    for (q <- Seq("t9_normalize", "c1_chunking", "z1_zorder_key")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val exchanges = collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.length <= 1,
        s"$q should shuffle only for the final sort, found ${exchanges.length} exchanges")
    }
  }

  test("d10 bucketed screen: the store side joins in place — zero store-side Exchange") {
    import graft.operators.IncrementalDedup
    val screened = IncrementalDedup.bucketedScreen(spark, sf)
    screened.collect()
    val plan = stripAQEPlan(screened.queryExecution.executedPlan)
    val joins = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty)
    val storeSide = joins.map(_.right) // anti-join: store is the build/right side
    storeSide.foreach { side =>
      val exchanges = collectWithSubqueries(side) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"bucketed store must be read in place, found Exchange:\n${side.toString.take(800)}")
    }
    // result parity with the plain (unbucketed) screen
    val plain = IncrementalDedup.incomingBatch(spark, sf)
      .join(IncrementalDedup.fingerprintStore(spark, sf), Seq("h"), "left_anti")
    assert(screened.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      plain.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("runtime bloom filter: a selective dim predicate reaches the fact side as a bloom probe") {
    // The 100 TB case: a shuffle join whose dim side is filtered hard.
    // Spark's runtime-filter rule builds a bloom filter from the dim
    // keys and injects might_contain() on the fact side, so fact rows
    // that can't join die AT THE SCAN, before the shuffle. Local sizes
    // are below the production thresholds, so the test lowers the
    // application-side floor (and disables broadcast, the one join kind
    // that needs no runtime filter) to prove the rule fires on our
    // join shape — production configs keep the defaults.
    import graft.sources.Tables
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> spark.conf.get(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val df = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy().agg(sum("l_quantity").as("q"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"no runtime bloom filter injected:\n${opt.take(1500)}")
      df.collect() // and the filtered plan still executes
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("v6 recall eval: the ANN side keeps v2's broadcast bucket join") {
    val p = planString(SparkEntry.queries("v6_ann_recall")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("parity_enrich: the whole enrichment collapses to a map-only scan (no mid-plan exchange)") {
    // Count exchanges: only the final oracle ORDER BY may shuffle.
    val df = SparkEntry.queries("parity_enrich")(spark, sf)
    df.collect()
    val exchanges = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length <= 1, s"enrichment should be map-only, found ${exchanges.length} exchanges")
  }

  /** `body` with `listener` on the bus, returning once every event
    * posted so far has reached it.
    */
  private def listening[T](listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.graftshim.ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
  }

  /** The jobs of one full-result write of `df` to the `noop` sink, as
    * the benchmark times it, counted by a listener on a local property
    * set around that write only (Spark copies local properties to the
    * jobs AQE runs on its own threads).
    */
  private def resultWriteJobs(df: DataFrame): Int = {
    val sc = spark.sparkContext
    val (key, id) = ("graft.plan.write", java.util.UUID.randomUUID.toString)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == id)) jobs.incrementAndGet()
    }) {
      sc.setLocalProperty(key, id)
      try Measure.materialize(df) finally sc.setLocalProperty(key, null)
    }
    jobs.get
  }

  private def exchanges(df: DataFrame): Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }

  test("small results sort in their input's stage: parity_enrich and w3 plan no range exchange") {
    // functions.SmallSort: an input that already runs as one partition
    // (parity's one-file scan, w3's window stage once AQE coalesced its
    // shuffle read) is sorted where it is, with no exchange
    val parity = SparkEntry.queries("parity_enrich")(spark, sf)
    parity.collect()
    assert(exchanges(parity).isEmpty, exchanges(parity).map(_.outputPartitioning))
    val w3 = SparkEntry.queries("w3_running_sum")(spark, sf)
    w3.collect()
    assert(exchanges(w3).map(_.outputPartitioning.getClass.getSimpleName) ==
      Seq("HashPartitioning"), s"only the window's hash exchange:\n${planString(w3)}")
  }

  test("the full-result write runs no sampling job: 1 job for parity_enrich, 2 for w3") {
    // with a range exchange, parity ran 3 (sampling, map, result) and
    // w3 4 (the window's map job first)
    assert(resultWriteJobs(SparkEntry.queries("parity_enrich")(spark, sf)) == 1)
    assert(resultWriteJobs(SparkEntry.queries("w3_running_sum")(spark, sf)) == 2)
  }

  test("Explain names every stage by its operators, none by AQE's thread frame") {
    val infos = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    listening(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = infos.add(e.stageInfo)
    }) {
      for (q <- Seq("a3_grouped_stats", "r2_hybrid_rrf"))
        Measure.materialize(SparkEntry.queries(q)(spark, sf))
    }
    val all = infos.toArray(Array.empty[StageInfo]).toSeq
    // Spark names a stage after the call site that submitted its job:
    // for jobs AQE submits from its own threads, a CompletableFuture frame
    assert(all.exists(_.name.contains("CompletableFuture")), all.map(_.name))
    val frames = all.map(Explain.label).filter(_.contains("CompletableFuture"))
    assert(frames.isEmpty, frames)
  }

  test("a sort whose input is above the broadcast threshold keeps its range exchange") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "1024") // w3's sf0.001 input is far above 1 KB
    try {
      val w3 = SparkEntry.queries("w3_running_sum")(spark, sf)
      w3.collect()
      assert(exchanges(w3).count(_.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]) == 1, planString(w3))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("v7 pq: code assignment is map-only — one exchange (final sort), no aggregate, native dot_q") {
    // pqEncode's TRAINING pass aggregates (bounded 512-row collect); the
    // RETURNED encoder frame must stay a per-row function of the
    // embedding: scan → project over centroid literals → sort. A
    // refactor that joins a codebook table instead of inlining literals
    // would shuffle the corpus to encode it.
    import graft.operators.VectorOps
    import graft.sources.Tables
    val df = VectorOps.pqEncode(spark, Tables.embeddings(spark, sf)
      .select("vec_id", "embedding"))
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val exchanges = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val aggs = collectWithSubqueries(plan) {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    assert(exchanges.length <= 1,
      s"encoding must only shuffle for the output sort, found ${exchanges.length}")
    assert(aggs.isEmpty, s"encoding is per-row, found ${aggs.length} aggregates")
    assert(plan.toString.contains("dot_q"), plan.toString.take(500))
  }

  test("v12 scalar quant: the encode is map-only — one exchange (final sort), no join") {
    // the stats pass aggregates (bounded 64-row collect at build time);
    // the RETURNED frame must encode per-row from inlined (mn, range)
    // literals — a refactor that joins a stats table instead would
    // shuffle the corpus to encode it.
    val df = graft.SparkEntry.queries("v12_scalar_quant")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val exchanges = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val joins = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(exchanges.length <= 1,
      s"encode must only shuffle for the output sort, found ${exchanges.length}")
    assert(joins.isEmpty, s"encode is per-row over literals, found ${joins.length} joins")
  }

  test("w1 top-k per group: the rank filter pushes down as WindowGroupLimit") {
    // row_number() + `rn <= k` must plan the WindowGroupLimit rank-limit
    // pushdown (partial per-partition top-k BEFORE the window shuffle,
    // final top-k after), so each shuffle partition carries at most k
    // rows per group instead of the whole group — the difference between
    // a bounded window and a full-group sort at 100 TB. Previously
    // inferred from timings; pinned here like skew1's pre-agg.
    val df = SparkEntry.queries("w1_topk_per_supplier")(spark, sf)
    val p = planString(df)
    assert(p.contains("WindowGroupLimit"),
      s"rank-limit pushdown missing from:\n${p.take(1200)}")
    // both phases: a Partial limit below the exchange, Final above
    assert(p.contains("Partial") && p.contains("Final"),
      s"expected two-phase WindowGroupLimit in:\n${p.take(1200)}")
  }

  test("r1 bm25: every join broadcasts; the corpus never joins shuffled") {
    // BM25's joins are all onto term-/1-row-bounded frames (query-term
    // set, df/idf table, corpus stats): each must arrive as a broadcast.
    // A SortMergeJoin here means the token stream is being shuffled to
    // meet a 12-row dimension — the classic 100 TB self-inflicted wound.
    val df = SparkEntry.queries("r1_bm25")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val joins = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty, "expected the query-term/idf/stats joins")
    val nonBroadcast = joins.filterNot(j =>
      j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec] ||
        j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])
    assert(nonBroadcast.isEmpty,
      s"non-broadcast joins in the BM25 plan: ${nonBroadcast.map(_.nodeName).mkString(", ")}")
    // and the shuffle census is exactly the bounded set: tf agg
    // (doc_id, term — the ONLY corpus-touching one, term-filtered and
    // map-side combined), df window (term), score agg (query_id,
    // doc_id), top-k window (query_id), output sort (range), the 1-row
    // stats agg (single partition), and the 12-row query-term distinct
    val exchanges = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length <= 7,
      s"unexpected extra shuffles (${exchanges.length}) in the BM25 plan")
    // ...and the exchanges are the EXPECTED ones, not merely the
    // expected count: the tf agg keyed (doc_id, term), the df window
    // keyed term alone, and the score agg / top-k window keyed
    // query_id — a regression swapping the map-side-combined tf agg
    // for a different same-count exchange mix fails here
    val parts = exchanges.map(_.outputPartitioning.toString)
    assert(parts.exists(p => p.contains("doc_id") && p.contains("term")),
      s"missing the (doc_id, term) tf-agg exchange in: ${parts.mkString("; ")}")
    assert(parts.exists(p => p.contains("term") && !p.contains("doc_id")),
      s"missing the term-keyed df-window exchange in: ${parts.mkString("; ")}")
    assert(parts.exists(_.contains("query_id")),
      s"missing the query_id-keyed score/top-k exchange in: ${parts.mkString("; ")}")
  }

  test("r3 indexed bm25: term filter pushes into the postings scan, serving does no corpus agg") {
    // the search-engine serving contract: the postings scan reads only
    // the query's terms (parquet pushdown on the IN-list), tf/dl/df
    // arrive precomputed, and every join broadcasts — serving cost is
    // |matched postings|, not the corpus
    val df = SparkEntry.queries("r3_bm25_indexed")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val p = plan.toString
    assert(p.contains("PushedFilters: [In(term"),
      s"expected the query-term IN pushdown in:\n${p.take(1500)}")
    val joins = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty && joins.forall(j =>
      j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec] ||
        j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      s"non-broadcast join in the serving plan: ${joins.map(_.nodeName).mkString(", ")}")
    // no explode/tf-aggregation in the serving plan: the only
    // aggregates are the (query_id, doc_id) score sum's two phases
    val aggs = collectWithSubqueries(plan) {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    assert(aggs.forall(_.groupingExpressions.nonEmpty),
      "serving plan must not recompute corpus stats (global agg found)")
    assert(!p.contains("Generate"),
      "serving plan must not re-explode the corpus token stream")
  }

  test("r3 postings artifact is term-bucketed: the scan prunes to the query terms' buckets") {
    // the Lucene-segment analogue: the artifact is hash-partitioned by
    // term bucket, so serving's literal term list becomes a PARTITION
    // filter — at 100 TB the postings scan opens only the queried
    // terms' buckets' files, not the whole postings table. Pin (a) a
    // bkt partition filter is present, (b) the files actually read
    // (numFiles metric) are at most the query terms' distinct buckets —
    // far under the PostingsBuckets files on disk.
    import graft.operators.Retrieval
    val df = SparkEntry.queries("r3_bm25_indexed")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val scans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("bm25_postings")) => f
    }
    assert(scans.nonEmpty, "expected the postings artifact scan")
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.toString.contains("bkt")),
      s"expected a bkt partition filter, got: ${scan.partitionFilters.mkString("; ")}")
    val expectedBuckets = Retrieval.fixtureQueries.map(_._2).distinct
      .map(Retrieval.termBucket).distinct.size
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles > 0 && numFiles <= expectedBuckets,
      s"bucket pruning ineffective: read $numFiles files for " +
        s"$expectedBuckets query-term buckets (of ${Retrieval.PostingsBuckets})")
  }

  test("r9 stemmed bm25: serving reads the stemmed index with bucket + term pruning") {
    // r9 now serves from the STORED stemmed-analyzer index (the same
    // read path as r3), so the physical claim is r3's: the artifact
    // scan must carry the bkt partition filter (file-level pruning to
    // the stemmed terms' buckets) and the term IN pushdown, no corpus
    // scan appears, the serve-side shuffle census is the bounded
    // score-agg + top-k pair, and every join broadcasts
    val df = SparkEntry.queries("r9_stemmed_bm25")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val scans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("bm25_stemmed_postings")) => f
    }
    assert(scans.nonEmpty, "expected stemmed-postings artifact scans")
    assert(scans.forall(_.partitionFilters.exists(_.toString.contains("bkt"))),
      "a stemmed-postings scan is missing its bkt partition filter")
    assert(scans.forall(_.metadata.get("PushedFilters").exists(_.contains("In(term"))),
      "a stemmed-postings scan is missing the term IN pushdown")
    val corpusScans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("documents.parquet")) => f
    }
    assert(corpusScans.isEmpty,
      "stemmed serving must not touch the raw corpus — that is the build's job")
    val exchanges = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length <= 3,
      s"indexed stemmed serving grew the shuffle census: ${exchanges.length}")
    val joins = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty && joins.forall(j =>
      j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec] ||
        j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      s"non-broadcast join in the stemmed plan: ${joins.map(_.nodeName).mkString(", ")}")
  }

  test("r8 positional phrase serving prunes to the phrase terms' buckets") {
    // the positional index inherits the bucketed-layout serving
    // contract: every scan of the .pos-analogue artifact carries the
    // bkt partition filter AND the term IN pushdown — at 100 TB a
    // phrase query opens its terms' buckets, never the postings table
    val df = SparkEntry.queries("r8_phrase_indexed")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val scans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("bm25_pospostings")) => f
    }
    assert(scans.nonEmpty, "expected positional-postings artifact scans")
    assert(scans.forall(_.partitionFilters.exists(_.toString.contains("bkt"))),
      "a positional scan is missing its bkt partition filter")
    assert(scans.forall(_.metadata.get("PushedFilters").exists(_.contains("In(term"))),
      "a positional scan is missing the term IN pushdown")
  }

  test("r7: pass 2 serves from the postings artifact, bucket-pruned, corpus untouched") {
    // both PRF scoring passes now read the STORED bucketed index; the
    // returned frame is pass 2, whose plan must prune to the expanded
    // term set's buckets and never rescan the corpus (the only corpus
    // reads are the collected pass-1/feedback stages, literal-pruned)
    val df = SparkEntry.queries("r7_prf_expansion")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val scans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("bm25_postings")) => f
    }
    assert(scans.nonEmpty, "expected postings artifact scans in pass 2")
    assert(scans.forall(_.partitionFilters.exists(_.toString.contains("bkt"))),
      "a pass-2 postings scan is missing its bkt partition filter")
    val corpusScans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("documents.parquet")) => f
    }
    assert(corpusScans.isEmpty,
      "pass 2 must score from postings, not rescan the corpus")
  }

  test("r10 snippets: positional scans bucket-pruned, corpus read doc_id-literal-pruned") {
    // highlighting reads two stores, each pruned by bounded literals:
    // the positional artifact by the query terms' buckets + term IN,
    // and the corpus by the collected hit doc_id list — at 100 TB this
    // plan opens the terms' buckets and ≤ queries×3 documents' row
    // groups, nothing else
    val df = SparkEntry.queries("r10_snippets")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val posScans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("bm25_pospostings")) => f
    }
    assert(posScans.nonEmpty, "expected positional-artifact scans")
    assert(posScans.forall(_.partitionFilters.exists(_.toString.contains("bkt"))),
      "a positional scan is missing its bkt partition filter")
    assert(posScans.forall(_.metadata.get("PushedFilters").exists(_.contains("In(term"))),
      "a positional scan is missing the term IN pushdown")
    val corpusScans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("documents.parquet")) => f
    }
    assert(corpusScans.nonEmpty, "the snippet slice must read the corpus")
    assert(corpusScans.forall(_.metadata.get("PushedFilters").exists(_.contains("In(doc_id"))),
      "the corpus read must push the literal hit doc_id list")
  }

  test("r11: serves from the materialized gram/dict artifacts — zero postings aggregation") {
    // the spellchecker reads the MATERIALIZED dictionary layouts, never
    // the postings store: candidate generation for long queries prunes
    // the gram index to the query bigrams' gb partitions with the gram
    // IN list pushed, short queries read the dictionary under a pushed
    // len range — no posting-sized DISTINCT shuffle anywhere at serve
    // time (at 100 TB that shuffle per spellcheck call is the bug)
    val df = SparkEntry.queries("r11_spell_correct")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val postingsScans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("bm25_postings")) => f
    }
    assert(postingsScans.isEmpty,
      "spellcheck serving must read the dictionary artifacts, not the postings store")
    val gramScans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("term_dict_grams")) => f
    }
    assert(gramScans.nonEmpty, "expected gram-index scans")
    assert(gramScans.forall(_.partitionFilters.exists(_.toString.contains("gb"))),
      "a gram scan is missing its gb partition filter")
    assert(gramScans.forall(_.metadata.get("PushedFilters").exists(_.contains("In(gram"))),
      "a gram scan is missing the gram IN pushdown")
    val dictScans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("term_dictionary")) => f
    }
    assert(dictScans.nonEmpty, "expected a dictionary scan for the short queries")
    assert(dictScans.forall(_.metadata.get("PushedFilters")
        .exists(_.contains("LessThanOrEqual(len"))),
      "the short-query dictionary scan is missing the len range pushdown")
  }

  test("r12: serves from the prefix-partitioned dictionary — pb-pruned, zero postings scans") {
    // autocomplete reads the first-letter partitioned dictionary: the
    // prefixes' first letters are a PARTITION filter (file-level
    // pruning), and the postings store is never opened at serve time
    val df = SparkEntry.queries("r12_prefix_suggest")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val postingsScans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("bm25_postings")) => f
    }
    assert(postingsScans.isEmpty,
      "autocomplete serving must read the dictionary artifact, not the postings store")
    val dictScans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("term_dictionary")) => f
    }
    assert(dictScans.nonEmpty, "expected a dictionary scan")
    assert(dictScans.forall(_.partitionFilters.exists(_.toString.contains("pb"))),
      "the dictionary scan is missing its pb partition filter")
  }

  test("r15 more-like-this: pass 2 is pure indexed serving — bucket-pruned, no corpus read") {
    // both MLT collects happen while the query builds; the RETURNED
    // plan is pass 2 and must be r3's serving shape: the postings scan
    // pruned to the selected terms' bkt partitions with the term IN
    // list pushed, and the corpus parquet never opened (the seed
    // profile read already happened, literal-pruned, during pass 1)
    val df = SparkEntry.queries("r15_more_like_this")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val corpusScans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("documents.parquet")) => f
    }
    assert(corpusScans.isEmpty,
      "pass 2 must serve from the index, never re-open the corpus")
    val postingsScans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("bm25_postings_b64")) => f
    }
    assert(postingsScans.nonEmpty, "expected bucketed postings scans")
    assert(postingsScans.forall(_.partitionFilters.exists(_.toString.contains("bkt"))),
      "a postings scan is missing its bkt partition filter")
    assert(postingsScans.forall(_.metadata.get("PushedFilters").exists(_.contains("In(term"))),
      "a postings scan is missing the term IN pushdown")
  }

  test("r13 metrics: ranking comes from the shared artifact; the corpus read carries no text") {
    // the eval's whole point is zero extra corpus work: the ranking is
    // the fingerprint-keyed graded_bm25_ranking artifact r4/r5 built,
    // and the only documents read is the 10-id truth derivation, which
    // must not drag the text column along
    val df = SparkEntry.queries("r13_graded_metrics")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val artScans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("graded_bm25_ranking")) => f
    }
    assert(artScans.nonEmpty, "expected the shared ranking artifact scan")
    val corpusScans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("documents.parquet")) => f
    }
    corpusScans.foreach { f =>
      val readSchema = f.metadata.getOrElse("ReadSchema", "")
      assert(!readSchema.contains("text"),
        s"the truth derivation reads document text: $readSchema")
    }
  }

  test("v16 drift audit: the encode is map-only — no shuffle join anywhere in the plan") {
    // the audit's scale claim: codebooks are inlined literals, the
    // per-vector argmin runs inside codegen, and only the 2-row stats
    // frames ever join (broadcast) — embeddings never shuffle
    val df = SparkEntry.queries("v16_codebook_drift")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val joins = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.forall(j =>
      j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec] ||
        j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      s"non-broadcast join in the drift audit: ${joins.map(_.nodeName).mkString(", ")}")
  }

  test("s8 split: the scan never reads text — assignment is id-arithmetic only") {
    // the split is a pure function of doc_id; dragging the text column
    // through the scan would turn a metadata-sized pass into a corpus
    // read (at 100 TB, the difference between seconds and hours)
    val df = SparkEntry.queries("s8_dataset_split")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val scans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("documents.parquet")) => f
    }
    assert(scans.nonEmpty, "expected a documents scan")
    scans.foreach { f =>
      val readSchema = f.metadata.getOrElse("ReadSchema", "")
      assert(!readSchema.contains("text"),
        s"the split pass reads the text column: $readSchema")
    }
  }

  test("tok8 coverage: one corpus scan; rank window and k-join run on the vocab agg") {
    val df = SparkEntry.queries("tok8_vocab_coverage")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val corpusScans = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("documents.parquet")) => f
    }
    assert(corpusScans.size == 1,
      s"coverage curve should scan the corpus ONCE, found ${corpusScans.size}")
    val joins = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.forall(j =>
      j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec] ||
        j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      s"non-broadcast join in the bounded tail: ${joins.map(_.nodeName).mkString(", ")}")
  }

  test("tok6: the word-to-ids encode join broadcasts; no corpus-to-vocab shuffle") {
    // the encode's only corpus-sized stages are the posexploded word
    // stream and the per-doc reassembly groupBy; the vocab map must
    // reach it as a broadcast, never by shuffling the corpus to a
    // dimension
    val df = SparkEntry.queries("tok6_bpe_ids")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val joins = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty, "expected the vocab join")
    assert(joins.forall(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"non-broadcast join in the encode: ${joins.map(_.nodeName).mkString(", ")}")
  }

  test("r6/r7: phrase shingles and both expansion passes keep every join broadcast") {
    // r6's phrase match is a map-only bigram generate + broadcast
    // phrase filter; r7's pass-2 weighted rescoring meets its bounded
    // dimensions (weighted term set, corpus stats) as broadcasts,
    // never by shuffling postings to a dimension
    for (qn <- Seq("r6_phrase_search", "r7_prf_expansion")) {
      val df = SparkEntry.queries(qn)(spark, sf)
      df.collect()
      val plan = stripAQEPlan(df.queryExecution.executedPlan)
      val joins = collectWithSubqueries(plan) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.nonEmpty, s"$qn: expected joins")
      val nonBroadcast = joins.filterNot(j =>
        j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec] ||
          j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])
      assert(nonBroadcast.isEmpty,
        s"$qn: non-broadcast joins: ${nonBroadcast.map(_.nodeName).mkString(", ")}")
    }
  }

  test("tok3 bpe training: plan depth is constant in the merge count") {
    // the iteration-hygiene pin: each round's state is checkpointed, so
    // the plan a later round analyzes/executes is the SAME SIZE as an
    // early round's — the round-8 formulation chained crossJoins and
    // grew linearly, which is fatal at production merge counts (O(10k))
    import graft.operators.CorpusPrep
    var cur = CorpusPrep.bpeInit(spark, sf)
    var len2 = 0
    for (i <- 1 to 12) {
      val (pick, next) = CorpusPrep.bpeStep(cur)
      assert(pick.nonEmpty, s"vocabulary exhausted at round $i")
      cur = next
      if (i == 2) len2 = planString(cur.limit(1)).length
    }
    val len12 = planString(cur.limit(1)).length
    assert(len12 <= (len2 * 1.2).toInt + 200,
      s"BPE state plan grew with the merge count: round 2 = $len2 chars, round 12 = $len12")
  }

  test("fu2/fu3: the event corpus shuffles once for the sequence window") {
    // the lead() window is the ONLY corpus-sized exchange; the pair /
    // path rollups land on |event_types|²- and ³-bounded frames. A
    // second corpus hash exchange here means the rollup re-shuffled
    // the event stream instead of the bounded aggregate.
    for (q <- Seq("fu2_transition_matrix", "fu3_top_paths")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val plan = stripAQEPlan(df.queryExecution.executedPlan)
      val exchanges = collectWithSubqueries(plan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      val userShuffles = exchanges.filter(
        _.outputPartitioning.toString.contains("user_id"))
      assert(userShuffles.length == 1,
        s"$q: expected exactly one user_id window shuffle, " +
          s"got ${exchanges.map(_.outputPartitioning).mkString("; ")}")
    }
  }

  test("s7 weighted sample: the global top-k is the bounded heap, not a full sort") {
    // orderBy+limit must plan TakeOrderedAndProject (per-partition heap
    // + driver merge of k×partitions rows); the numbering window runs
    // AFTER the limit, over 100 rows — a global row_number over the
    // corpus would single-partition the whole scan
    val p = planString(SparkEntry.queries("s7_weighted_sample")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected the bounded top-k heap in:\n${p.take(1200)}")
  }

  test("adc serving: big-batch LUTs broadcast, and plan size is constant in the batch size") {
    // The production reranker regime: above AdcLiteralMax the per-query
    // LUTs must arrive as ONE broadcast table, not per-query literals —
    // a literal plan grows O(batch) and collapses codegen around a few
    // hundred queries. Pin (a) the LUT side broadcasts (the code scan
    // never shuffles to be scored), (b) a 15× bigger batch leaves the
    // plan the SAME SIZE.
    import graft.operators.VectorOps
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val books = VectorOps.pqTrain(spark, emb)
    val df32 = VectorOps.adcSearch(spark, emb,
      emb.filter(col("vec_id") < 32), 10, Some(books))
    val p32 = planString(df32)
    assert(p32.contains("BroadcastNestedLoopJoin"),
      s"expected the LUT-table broadcast fan-out in:\n${p32.take(800)}")
    assert(!p32.contains("CASE WHEN (query_id"),
      "big batch must not fall back to the when-chain literal path")
    val df500 = VectorOps.adcSearch(spark, emb, emb, 10, Some(books))
    val p500 = planString(df500)
    assert(p500.contains("BroadcastNestedLoopJoin"), p500.take(800))
    assert(p500.length <= (p32.length * 1.2).toInt,
      s"plan grew with the batch: ${p32.length} chars at 32 queries vs ${p500.length} at 500")
  }

  test("v10 serves from the stored code table: no encoder work under the scoring join") {
    // The codes feeding the broadcast LUT fan-out MUST come from the
    // pq_codes artifact (or a materialization barrier): codegen defers
    // un-materialized stream-side expressions into the join's inner
    // loop, so the M·K dot_q argmax would re-run PER (vector, query)
    // pair — measured 12× slower at a 32-query batch, growing with it.
    val p = planString(SparkEntry.queries("v10_adc_batch")(spark, sf))
    assert(!p.contains("dot_q"),
      s"encoder expressions leaked into the serving plan:\n${p.take(800)}")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("adc keyed serving (v9 shape): the LUT table joins in as a BroadcastHashJoin on query_id") {
    import graft.operators.VectorOps
    import graft.sources.Tables
    import org.apache.spark.sql.functions.broadcast
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val books = VectorOps.pqTrain(spark, emb)
    val q32 = emb.filter(col("vec_id") < 32)
    val codes = VectorOps.pqEncode(spark, emb)
      .drop("sq_err").withColumnRenamed("vec_id", "cand_id")
    val cand = codes.crossJoin(broadcast(q32.select(col("vec_id").as("query_id"))))
    val scored = VectorOps.adcScoreKeyed(spark, cand,
      VectorOps.collectQueries(q32), books)
    scored.collect()
    val plan = stripAQEPlan(scored.queryExecution.executedPlan)
    val hashJoins = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(hashJoins.exists(_.leftKeys.toString.contains("query_id")) ||
      hashJoins.exists(_.rightKeys.toString.contains("query_id")),
      s"no broadcast hash join on query_id in:\n${plan.toString.take(800)}")
    val shuffles = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"keyed ADC scoring must not shuffle the candidates, found ${shuffles.length}")
  }

  test("ivfServe: plan size constant from 32 to 500 queries; probes and LUTs broadcast") {
    import graft.operators.VectorOps
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val books = VectorOps.pqTrain(spark, emb)
    val codes = VectorOps.codesArtifact(spark, sf)
    def plan(n: Int): String = planString(VectorOps.ivfServe(spark, emb,
      emb.filter(col("vec_id") < n), 10, Some(books), Some(codes)))
    val p32 = plan(32)
    assert(p32.contains("BroadcastHashJoin"), p32.take(800))
    assert(!p32.contains("CASE WHEN (query_id"),
      "big batch must not fall back to the when-chain literal path")
    val p500 = plan(500)
    assert(p500.length <= (p32.length * 1.2).toInt,
      s"plan grew with the batch: ${p32.length} chars at 32 vs ${p500.length} at 500")
  }

  test("cdc2 merge: the changeset screen broadcasts — the base snapshot never shuffles for it") {
    val df = SparkEntry.queries("cdc2_merge_apply")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val joins = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty)
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    val anti = joins.filter(_.joinType == LeftAnti)
    assert(anti.nonEmpty, s"no anti join in:\n${plan.toString.take(800)}")
    assert(anti.forall(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"changeset screen fell back to a shuffle join:\n${anti.head.toString.take(800)}")
  }

  test("s5 temperature mix: quota broadcasts onto the corpus; the () window sees only the agg") {
    val df = SparkEntry.queries("s5_temperature_mix")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    assert(plan.toString.contains("BroadcastHashJoin"),
      s"quota join fell back to a shuffle join:\n${plan.toString.take(800)}")
    // the unpartitioned window (total_sq) must consume the per-source
    // AGGREGATE, never corpus rows — same contract as p11's offsets
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val aggBelow = collectWithSubqueries(w.child) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(aggBelow.nonEmpty,
        s"unpartitioned window over raw corpus rows:\n${w.toString.take(800)}")
    }
  }

  test("qa3 drift: one scan per snapshot, never per column") {
    val df = SparkEntry.queries("qa3_profile_drift")(spark, sf)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length <= 2,
      s"drift must profile each snapshot in one pass: ${scans.length} parquet scans")
  }

  test("t11 vectorize: the vocab broadcasts into the token mapping join") {
    val df = SparkEntry.queries("t11_vectorize")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    assert(plan.toString.contains("BroadcastHashJoin"),
      s"vocab mapping fell back to a shuffle join:\n${plan.toString.take(800)}")
  }

  test("qa2 profile: all 20 statistics come from ONE scan of the corpus") {
    val df = SparkEntry.queries("qa2_column_profile")(spark, sf)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length == 1,
      s"profiling must not rescan per column: ${scans.length} parquet scans")
  }

  test("t14 unigram LM: vocab and totals broadcast — the token stream never shuffles to score") {
    val p = planString(SparkEntry.queries("t14_unigram_logprob")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"vocab join fell back to a shuffle join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token-side shuffle for the scoring join:\n$p")
  }

  test("t15 MAD filter: both stats joins broadcast back onto the corpus") {
    val p = planString(SparkEntry.queries("t15_mad_outlier")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"median/MAD join fell back to a shuffle join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for a bounded-dim join:\n$p")
  }

  test("v14 retrieval: the document store never sits under a shuffle — top-k broadcasts in") {
    val df = SparkEntry.queries("v14_retrieve_docs")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // trait-level collect: TreeNode.collect stops at AQE query-stage
    // leaves, AdaptiveSparkPlanHelper's descends into them
    def hasDocScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      collect(p) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("documents")) => s
      }.nonEmpty
    assert(hasDocScan(plan), "expected a documents scan in the serving plan")
    // the final ORDER BY moves the queries×k RESULT rows (bounded): a
    // range exchange, or one partition when the result is small
    // (functions.SmallSort); what must never appear is a hash shuffle
    // of the corpus-sized doc side for the join
    val shuffledDocs = collect(plan) {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] &&
            hasDocScan(e) => e
    }
    assert(shuffledDocs.isEmpty,
      s"documents scan found under a shuffle exchange:\n${plan.toString.take(1200)}")
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString.take(800))
  }

  test("r2 and v18: only the result's ORDER BY sorts globally — the ranked channels reach the union unsorted") {
    // a global sort under the union or the fusion aggregate moves rows
    // into an order the plan above throws away; the result's own sort
    // range-partitions or, for a small result, runs in one partition
    // (functions.SmallSort), so count the global sorts, not range exchanges
    import org.apache.spark.sql.execution.SortExec
    for (q <- Seq("r2_hybrid_rrf", "v18_filtered_ann")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val sorts = collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: SortExec if s.global => s
      }
      assert(sorts.size == 1, s"$q: ${sorts.size} global sorts")
    }
  }

  test("t16 source mix: one corpus scan — the totals window reads the agg, not the table") {
    val df = SparkEntry.queries("t16_source_mix_report")(spark, sf)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // the crossJoin and rollup formulations both planned 2 scans here
    assert(scans.length == 1,
      s"mixture report must not rescan the corpus for its totals: ${scans.length} scans")
  }

  test("v13 embedding audit: norms fold map-only — no join, no explode anywhere in the plan") {
    val p = planString(SparkEntry.queries("v13_embedding_audit")(spark, sf))
    assert(!p.contains("Join"), s"audit should not join:\n$p")
    assert(!p.contains("Generate"), s"norm should fold the array in place, not explode it:\n$p")
  }

  test("tok2 collocations: PMI joins run on bounded count tables via broadcast, never sort-merge") {
    val p = planString(SparkEntry.queries("tok2_collocations")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"unigram join fell back to a shuffle join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"a bounded count table shuffled for a join:\n$p")
  }

  test("d17 dup accounting: no join back to the corpus — rank window feeds the rollup directly") {
    val p = planString(SparkEntry.queries("d17_dup_inflation")(spark, sf))
    assert(!p.contains("Join"), s"the inflation report must not join:\n$p")
  }

  test("p14 training order: one hash exchange deals the shards; no global sort of the corpus") {
    val df = SparkEntry.queries("p14_training_order")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
    // the final ORDER BY moves the RESULT for presentation (exempt): a
    // range exchange, or one partition when the result is small
    // (functions.SmallSort); the work itself must be a single hash
    // deal by shard
    val hashExchanges = collect(plan) {
      case e: ShuffleExchangeExec
          if !e.outputPartitioning.isInstanceOf[RangePartitioning] &&
            e.outputPartitioning != SinglePartition => e
    }
    assert(hashExchanges.length == 1,
      s"expected exactly one shard-deal exchange, got ${hashExchanges.length}:\n${plan.toString.take(1000)}")
  }

  test("d19 span removal: no pair join — corpus scans bounded, nothing cartesian") {
    // the structural guarantee that lets d19 skip d8's df cap: duplicate
    // evidence and canonical ranking ride hash-keyed shuffles of the
    // (doc_id, i, h) window stream; no plan node ever pairs one corpus
    // window stream against another (boilerplate in a million docs
    // costs row count, not its square)
    val df = SparkEntry.queries("d19_span_removal")(spark, sf)
    val p = planString(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in d19:\n${p.take(800)}")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop pair join in d19:\n${p.take(800)}")
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // r18: the window stream comes from the stored span_window_hashes
    // artifact (dup-evidence agg + canonical ranking = 2 artifact
    // scans); the rewrite join still reads the corpus union (2
    // branches). A pair join would need MORE corpus scans than the
    // union's two.
    val (idx, corpus) = scans.partition(_.relation.location.rootPaths
      .forall(_.toString.contains("span_window_hashes")))
    assert(corpus.length <= 2,
      s"d19 rescans the corpus ${corpus.length} times — pair-join smell")
    assert(idx.length <= 2,
      s"d19 scans the window store ${idx.length} times")
  }

  test("d7b decontamination: bench windows broadcast; one corpus scan, no shuffle of text") {
    val df = SparkEntry.queries("d7b_overlap_decontam")(spark, sf)
    val p = planString(df)
    assert(p.contains("BroadcastHashJoin"), s"bench probe fell off broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"),
      s"a fixture-sized side shuffled the corpus:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length == 1,
      s"expected one corpus scan (bench side is checkpointed), got ${scans.length}")
  }

  test("v18 filtered ANN: the metadata filter scan is column-pruned — no 64-float vector rides it") {
    // both strategies rank the checkpointed scored frame, so the final
    // plan's only embeddings read is the allowed-set projection: it
    // must carry (vec_id, label) and NOT the embedding column — at
    // 100 TB that projection is the vector store's metadata sidecar,
    // and dragging the vectors through it would multiply its bytes ~64×
    val df = SparkEntry.queries("v18_filtered_ann")(spark, sf)
    df.collect()
    val embScans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.requiredSchema.fieldNames.contains("label") => s
    }
    assert(embScans.nonEmpty, "no metadata scan found in the serving plan")
    assert(embScans.forall(!_.requiredSchema.fieldNames.contains("embedding")),
      embScans.map(_.requiredSchema.catalogString).mkString("; "))
  }

  test("s6 curriculum: one corpus scan; the epoch window reads the bounded agg only") {
    val df = SparkEntry.queries("s6_curriculum_schedule")(spark, sf)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length == 1,
      s"schedule must not rescan the corpus per epoch: ${scans.length} scans")
  }

  test("s10 DSIR: served plan has NO join at all — the lift table is an inlined literal") {
    // the round-16 scale contract (tightened from "joins only
    // broadcasts"): pass 1 materializes the 4096-bucket lift table to
    // driver state in its own action, so the SERVED plan is one
    // map-only scoring pass plus the output sort — any join appearing
    // here means the broadcast-join formulation crept back
    val df = SparkEntry.queries("s10_dsir_weights")(spark, sf)
    val p = planString(df)
    assert(!p.contains("Join"), s"s10's served plan regained a join:\n${p.take(800)}")
  }

  test("r19 significant terms: serve-time plan never reads the text column") {
    // fg/bg stats ride the postings artifact; the only documents read
    // is the column-pruned corpus count. A text column in any file
    // scan means the corpus is being re-tokenized at serve time.
    val df = SparkEntry.queries("r19_significant_terms")(spark, sf)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    for (s <- scans)
      assert(!s.requiredSchema.fieldNames.contains("text"),
        s"serve-time scan reads text: ${s.requiredSchema.fieldNames.mkString(",")}")
  }

  test("cdc3 SCD2: one key shuffle builds the whole history — windows and agg reuse it") {
    // HashPartitioning(user_id) satisfies the (user_id, run[, segment])
    // clustering of every downstream window and the run aggregation,
    // so the entire history build is key-local after ONE hash
    // exchange; the only other exchange is the presentation ORDER BY's
    // range repartition. A third exchange means a window or agg broke
    // off the dimension-key partitioning.
    val df = SparkEntry.queries("cdc3_scd2")(spark, sf)
    val p = planString(df)
    val exchanges = "(?m)^.*Exchange (hash|range)partitioning".r
      .findAllIn(p).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) == 1,
      s"expected exactly one hash exchange:\n${p.take(1200)}")
    assert(exchanges.size <= 2, s"extra exchanges in the history build:\n${p.take(1200)}")
  }

  test("o6 keyset pagination: the cursor filter reaches the parquet scan") {
    // the scale difference from o5: the page's cost is the pushed
    // range + top-50, never offset's scan-and-discard — visible as a
    // GreaterThan(o_orderkey, <cursor>) in PushedFilters
    val df = SparkEntry.queries("o6_keyset_pagination")(spark, sf)
    val p = planString(df)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), GreaterThan(o_orderkey"),
      s"cursor filter not pushed to the scan:\n${p.take(800)}")
  }

  test("v20 binary quant: map-only hamming over the code word table; rerank joins broadcast") {
    // stage 1 is one pass over the 8-byte-per-vector code artifact
    // with the 10 query words inlined as literals (no join, no
    // explode-join); stage 2's raw-vector touches ride the broadcast
    // id slice — nothing shuffles the corpus for a bounded side
    val df = SparkEntry.queries("v20_binary_quant")(spark, sf)
    val p = planString(df)
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for a bounded join:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), s"refine slice fell off broadcast:\n${p.take(800)}")
  }

  test("e2e3 serving chain: no serve-time scan reads the text column") {
    // the chain composes three SERVED stages (dictionary correction,
    // pruned postings BM25, crowding over column-pruned metadata) —
    // the corpus text must appear in none of the returned plan's scans
    val df = SparkEntry.queries("e2e3_spell_serve")(spark, sf)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    for (s <- scans)
      assert(!s.requiredSchema.fieldNames.contains("text"),
        s"serve-time scan reads text: ${s.requiredSchema.fieldNames.mkString(",")}")
  }

  test("d20 ppjoin: every scan reads the stored prefix-ranked index; all joins keyed") {
    // exactness without n²: candidates come from the keyed prefix
    // self-join, verification from keyed joins bounded by the candidate
    // set. No cartesian, no nested-loop, and (r18) every file scan in
    // the plan reads the prefix-ranked shingle ARTIFACT — never the
    // raw documents table: hs/n/rk are build-time index state, so a
    // raw-corpus scan here would mean serving re-derived them.
    val df = SparkEntry.queries("d20_ppjoin")(spark, sf)
    val p = planString(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in d20:\n${p.take(800)}")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop pair join in d20:\n${p.take(800)}")
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "d20 should serve from the stored shingle index")
    val offIndex = scans.filterNot(_.relation.location.rootPaths
      .forall(_.toString.contains("shingle_idx_graded")))
    assert(offIndex.isEmpty,
      s"d20 scans something other than the shingle index: ${offIndex.map(_.relation.location.rootPaths.mkString(","))}")
    // no window machinery survives in the serve plan — the df/rank
    // window exchanges moved into the artifact build
    assert(!p.contains("windowspecdefinition"),
      s"d20 serve plan still computes a window:\n${p.take(800)}")
  }

  test("mv1 refresh: the new-day ts filter is pushed into the events scan") {
    import graft.operators.Rollup
    val df = Rollup.newDayStates(spark, sf)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length == 1, s"expected one events scan, got ${scans.length}")
    val meta = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(meta.contains("GreaterThanOrEqual(ts"),
      s"new-day refresh rescans history — no pushed ts bound in: $meta\n" +
        scans.head.toString)
  }

  test("mv2 restatement: delta/day joins broadcast; seed days come from the artifact, not events") {
    val df = SparkEntry.queries("mv2_late_restatement")(spark, sf)
    val p = planString(df)
    // the impacted-day semi/anti joins and the upsert screen all ride
    // broadcasts — nothing about a correction batch justifies shuffling
    // the events table or the state artifact
    assert(!p.contains("SortMergeJoin"),
      s"a restatement join fell back to sort-merge:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val eventScans = scans.filter(_.toString.contains("events.parquet"))
    val seedScans = scans.filter(_.toString.contains("rollup_states"))
    // exactly two event scans: the fixture's delta derivation (arrives
    // from ingest in production) + the impacted-day recompute; every
    // other day is served from the seed-state artifact
    assert(eventScans.length == 2,
      s"expected 2 events scans (delta + impacted days), got ${eventScans.length}")
    // BOTH carry statically-pushed day bounds — at any scale the
    // restatement can only read the impacted days, never history
    for (es <- eventScans)
      assert(es.metadata.getOrElse("PushedFilters", "")
        .contains("GreaterThanOrEqual(ts"),
        s"an mv2 events scan reads history: ${es.metadata.getOrElse("PushedFilters", "")}")
    assert(seedScans.nonEmpty, "untouched days are not served from the artifact")
  }

  test("qa6 k-anonymity: one aggregate pass; class joins broadcast; person table never shuffles") {
    val df = SparkEntry.queries("qa6_k_anonymity")(spark, sf)
    val p = planString(df)
    assert(!p.contains("SortMergeJoin"),
      s"a class-size join fell back to sort-merge:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // the served plan scans people exactly once (the row side); the
    // single level-0 aggregate pass ran at l0's eager checkpoint, and
    // every coarser level rolls up from that bounded table
    val custScans = scans.filter(_.toString.contains("customer.parquet"))
    assert(custScans.length == 1,
      s"expected 1 customer scan in the served plan, got ${custScans.length}")
  }

  test("r21 wildcard: dictionary-artifact-only serving; prefix path partition-pruned") {
    val df = SparkEntry.queries("r21_wildcard")(spark, sf)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    // wildcard lookup is a dictionary operation: neither the corpus nor
    // the postings store appears in the serving plan
    for (s0 <- scans)
      assert(s0.toString.contains("term_dict"),
        s"non-dictionary scan in wildcard serving: ${s0.toString.take(200)}")
    // the literal-prefix and gram paths prune at the partition level
    // (pb / gb) before any row is read
    assert(scans.exists(_.partitionFilters.nonEmpty),
      "no partition-pruned dictionary scan in the wildcard plan")
  }

  test("s12 leakage-safe split: no document body rides a shuffle") {
    val df = SparkEntry.queries("s12_leakage_safe_split")(spark, sf)
    df.collect()
    val exchanges = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    // text reduces to its md5 in the projection: the group shuffle and
    // the output sort carry (doc_id, h/rep), never document bodies
    for (e <- exchanges)
      assert(!e.output.exists(_.name == "text"),
        s"a shuffle carries text: ${e.output.map(_.name).mkString(",")}")
  }

  test("scale_approx_quantiles verdict: estimate table broadcasts; the corpus never shuffles for the check") {
    val df = SparkEntry.queries("scale_approx_quantiles")(spark, sf)
    val p = planString(df)
    // the 5-row per-group estimate joins BACK into the events scan
    // broadcast — a SortMergeJoin here would shuffle the corpus to
    // verify its own sketch
    assert(p.contains("BroadcastHashJoin"),
      s"estimate join not broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the bound check:\n${p.take(800)}")
  }

  test("t19 heavy hitters: candidate set broadcasts into the exact pass; no term-keyed sort-merge") {
    val df = SparkEntry.queries("t19_heavy_hitters")(spark, sf)
    val p = planString(df)
    // pass 2's exact counting must join the P·k-row candidate set
    // BROADCAST into the re-scanned token stream — a SortMergeJoin on
    // term would mean the full term stream shuffled, exactly what the
    // sketch exists to avoid
    assert(p.contains("BroadcastHashJoin"),
      s"candidate join not broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"),
      s"token stream shuffled for the candidate join:\n${p.take(800)}")
  }

  test("cmp1 compaction plan: pure manifest arithmetic — no joins, no corpus rescans") {
    val df = SparkEntry.queries("cmp1_compaction_plan")(spark, sf)
    val p = planString(df)
    // bin totals are windows over the manifest, never a join; the one
    // corpus scan happened at the manifest checkpoint
    assert(!p.contains("Join"), s"compaction planning should not join:\n${p.take(800)}")
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.isEmpty,
      s"plan rescans files past the manifest checkpoint: ${scans.length}")
  }

  test("e2e4 prep manifest: no cartesian product; raw text never rides a shuffle") {
    val df = SparkEntry.queries("e2e4_prep_manifest")(spark, sf)
    df.collect()
    val p = stripAQEPlan(df.queryExecution.executedPlan).toString
    // the chain's pair-generating stages are banded/keyed; decontam's
    // bench side is fixture-sized — nothing may go quadratic
    assert(!p.contains("CartesianProduct"),
      s"composed chain went quadratic:\n${p.take(800)}")
    // every shuffle carries fingerprints/signatures/hashes/ids only —
    // the chain's 100 TB claim is precisely that document bodies
    // reduce to hashes before any exchange
    val exchanges = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    for (e <- exchanges)
      assert(!e.output.exists(_.name == "text"),
        s"a shuffle carries text: ${e.output.map(_.name).mkString(",")}")
  }

  test("d21 novelty: windows hash in the scan; one full-stream exchange feeds both windows") {
    val df = SparkEntry.queries("d21_ngram_novelty")(spark, sf)
    df.collect()
    val exchanges = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // text/ws/w must reduce to the window hash IN the projection —
    // an exchange carrying 8-word strings is the 100 TB failure mode
    for (e <- exchanges)
      assert(!e.output.exists(a => Set("text", "ws", "w").contains(a.name)),
        s"a shuffle carries window text: ${e.output.map(_.name).mkString(",")}")
    // the (h, doc_id) dedup window rides the h window's exchange
    // (hash(h) satisfies the (h, doc_id) clustering): a fourth
    // exchange means the dedup regressed to its own full-stream
    // shuffle — h window + doc rollup + output sort is the contract
    assert(exchanges.length <= 3,
      s"${exchanges.length} exchanges — the dedup window stopped riding the h exchange")
    assert(!planString(df).contains("Join"),
      "novelty is window+rollup arithmetic; no join may form")
  }

  test("s13 diversity cap: artifact-served signatures; window-only — no join, no corpus rescan") {
    val df = SparkEntry.queries("s13_lsh_diversity_sample")(spark, sf)
    df.collect()
    val p = stripAQEPlan(df.queryExecution.executedPlan).toString
    assert(!p.contains("Join"),
      s"diversity cap must not join:\n${p.take(800)}")
    // the one file scan is the signature artifact — re-deriving
    // signatures from documents here would double the corpus cost
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length == 1 &&
      scans.head.metadata("Location").contains("minhash_sig_dupes"),
      s"expected exactly the signature-artifact scan: ${scans.map(_.metadata("Location"))}")
  }

  test("m5 phash dedup: decode+hash stay narrow — no exchange carries the media payload") {
    val df = SparkEntry.queries("m5_phash_dedup")(spark, sf)
    df.collect()
    val exchanges = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty) // the (h_hi, h_lo) group window must shuffle — ids+hash only
    // the 100 TB contract: every PNG decodes and reduces to 2 longs in
    // the narrow hop; an exchange carrying media bytes (or the source
    // text) re-shuffles the corpus payload
    for (e <- exchanges)
      assert(!e.output.exists(a => Set("media", "text").contains(a.name)),
        s"a shuffle carries the payload: ${e.output.map(_.name).mkString(",")}")
    assert(!planString(df).contains("Join"),
      "phash dedup is hash+window arithmetic; no join may form")
  }

  test("s10 DSIR pass 2 is map-only: zero exchanges, joins, or aggregates to score a corpus") {
    import graft.operators.CorpusPrep
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val arr = CorpusPrep.dsirLiftArray(spark, docs, CorpusPrep.DsirTargetSources)
    // the reusable core StreamImportance inlines per micro-batch: each
    // document folds its own bigram lifts against the inlined array
    // literal — at 100 TB the scoring pass must never shuffle, join,
    // or aggregate (round 16 replaced the bigram explode + broadcast
    // join + doc_id rollup with this shape; this pin keeps it)
    val df = CorpusPrep.dsirScore(docs, arr)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val exchanges = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val aggs = collectWithSubqueries(plan) {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    assert(exchanges.isEmpty,
      s"DSIR scoring must not shuffle, found ${exchanges.length} exchanges")
    assert(aggs.isEmpty,
      s"the per-doc mean folds inside the scan, found ${aggs.length} aggregates")
    assert(!plan.toString.contains("Join"),
      "the lift table is an inlined literal; no join may form")
  }

  test("s16 epoch sample: rank is hierarchical — no corpus window partitioned solely by source") {
    // source has ~20 values: a row_number window partitioned by source
    // alone funnels the whole corpus through |sources| tasks (~5 TB
    // each at 100 TB, worse under skew). Contract: the corpus-sized
    // rank window is partitioned by ≥2 columns (source, h-bucket);
    // any 0/1-column window must consume an AGGREGATE (the tiny
    // per-(source, bucket) counts frame), never raw corpus rows.
    val df = SparkEntry.queries("s16_epoch_sample")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.filter(_.partitionSpec.length <= 1).foreach { w =>
      val aggBelow = collectWithSubqueries(w.child) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(aggBelow.nonEmpty,
        s"narrow-partitioned window over raw corpus rows (|sources|-task scale-killer):\n" +
          w.toString.take(800))
    }
    assert(windows.exists(_.partitionSpec.length >= 2),
      "the in-bucket rank must be a window partitioned by (source, bucket)")
  }

  test("s15/tok10 prefix sums: two-level shape — unpartitioned windows sit above aggregates only") {
    // same contract as p11's pin, extended to the other two
    // exclusivePrefixSum callers: the doc-level running sum must be a
    // PARTITIONED window (√n-row buckets), and any unpartitioned
    // window may only consume the ~√n-row bucket-totals aggregate.
    for (q <- Seq("s15_dsir_resample", "tok10_sequence_packing")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val plan = stripAQEPlan(df.queryExecution.executedPlan)
      val windows = collectWithSubqueries(plan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, q)
      windows.filter(_.partitionSpec.isEmpty).foreach { w =>
        val aggBelow = collectWithSubqueries(w.child) {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }
        assert(aggBelow.nonEmpty,
          s"$q: unpartitioned window over raw rows (single-partition scale-killer):\n" +
            w.toString.take(800))
      }
      assert(windows.exists(_.partitionSpec.nonEmpty),
        s"$q: the in-bucket running sum must be a PARTITIONED window")
    }
  }

  test("tok12 unigram: piece table broadcasts (no sort-merge join); unpartitioned windows sit above aggregates only") {
    // the E-step joins the vocab-bounded word-substring frame to the
    // piece table — at any corpus size that side stays vocab-bounded
    // and MUST broadcast; an SMJ here means the seed vocabulary got
    // shuffled like a fact table. The em_share window over () is legal
    // only because it consumes the M-step AGGREGATE (vocab-bounded),
    // never raw exploded rows.
    val df = SparkEntry.queries("tok12_unigram_viterbi")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val smj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, s"piece/em tables must broadcast, found SMJ:\n${plan.toString.take(800)}")
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val aggBelow = collectWithSubqueries(w.child) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(aggBelow.nonEmpty,
        s"unpartitioned window over raw rows (single-partition scale-killer):\n" +
          w.toString.take(800))
    }
  }

  test("e2e6 unigram packing: the word→nseg re-encode map broadcasts — no sort-merge join anywhere") {
    // the re-encode is ONE corpus explode joined to the trained
    // tokenizer's word→piece-count map; that map is vocab-bounded at
    // any corpus size and MUST broadcast — an SMJ here means the
    // corpus-sized word stream got sorted against the vocabulary
    val df = SparkEntry.queries("e2e6_unigram_packing")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val smj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty,
      s"word→nseg map must broadcast, found SMJ:\n${plan.toString.take(800)}")
  }

  test("tok13 unigram prune: both E-steps broadcast their piece tables; the prune window sits above the M-step aggregate") {
    val df = SparkEntry.queries("tok13_unigram_prune")(spark, sf)
    df.collect()
    val plan = stripAQEPlan(df.queryExecution.executedPlan)
    val smj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty,
      s"vocab-bounded frames must broadcast, found SMJ:\n${plan.toString.take(800)}")
  }
}
