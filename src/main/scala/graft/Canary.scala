package graft

/** Fresh-JVM canary bench — the round-over-round regression gate the
  * full bench cannot be: BENCH_NOTES documents a JVM-state envelope
  * where the full 151-query run inflates untouched queries' medians by
  * 1.2-2.4× depending on what executed before them, wide enough to
  * hide a real single-query regression (the round-9 verdict measured a
  * near-uniform 1.27× swing on byte-identical plans). This main times
  * a PINNED query subset (46 queries since round 17; see [[queries]])
  * in its own JVM — same starting state every
  * round — with one untimed warm-up and the MEDIAN OF FIVE timed runs
  * per query (the full bench's median-of-3, widened because the canary
  * exists to flag ±20% moves, not ±2× ones).
  *
  * Protocol per round:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt -batch "runMain graft.Canary"    # or scripts/canary.sh
  * writes CANARY.json; with SPARK_GRAFT_CANARY_BASELINE=<prev
  * CANARY.json> it also emits a per-query ratio against the previous
  * round and a ±20% gate verdict — a canary outside the gate means
  * either a named plan change (PlanSpec pin moved with it) or a bug,
  * never "noise" (that is what the fixed protocol buys).
  *
  * The set spans every operator family plus the queries the round-9
  * bench flagged as >1.5× movers (r4, sq1, t10, t11,
  * scale_partition_pruning, s3 — included precisely so their next
  * move is measured under a fixed protocol instead of narrated).
  */
object Canary {

  /** PINNED — do not reorder or swap members casually: comparability
    * across rounds is the whole point. Additions go at the END so
    * prior baselines still cover their prefix.
    */
  val queries: Seq[String] = Seq(
    "a3_grouped_stats",       // grouped agg anchor
    "w3_running_sum",         // window anchor
    "sq1_subqueries",         // r9 mover
    "t10_boilerplate",        // r9 mover
    "t11_vectorize",          // r9 mover
    "s3_source_mix",          // r9 mover
    "scale_partition_pruning",// r9 mover
    "d2_minhash_lsh",         // dedup family
    "d5_neardup_clusters",    // iterative clustering (suite's heaviest algorithm)
    "v9_ivf_pq",              // ANN serving
    "r1_bm25",                // retrieval from-scratch anchor
    "r2_hybrid_rrf",          // hybrid fusion (index-served keyword channel)
    "r4_retrieval_recall",    // r9 mover + shared-artifact consumer
    "r7_prf_expansion",       // two-pass PRF (index-served as of r10)
    "r9_stemmed_bm25",        // stemmed serving (index-served as of r10)
    // round-11 additions (verdict-10 ask #3): the round-10 serving
    // family was outside the gate — tok7 was its heaviest query and
    // r10 exercises the positional-store read path end to end
    "tok7_unk_accounting",    // BPE UNK gate (heaviest round-10 query)
    "r10_snippets",           // positional-index highlighter
    // round-11 additions (same net-lag rule, applied the round the
    // operators land): r14 re-scores the corpus token stream per field
    // (the round's heaviest from-scratch query), r15 chains both
    // dictionary serving and weighted indexed serving in one call,
    // d18's stride-1 window stream is the dedup family's largest
    // deliberate linear blowup
    "r14_fielded_search",     // per-field BM25 (heaviest round-11 query)
    "r15_more_like_this",     // dictionary + weighted index serving chain
    "d18_substring_spans",    // substring-span dedup (window stream)
    // round-12 additions (net-lag rule + verdict-11 ask #5): r18 is the
    // heaviest of the round-11 serving trio (two stacked crowding
    // windows); d19 is the span-removal rewrite (row_number ranking +
    // island merge + corpus rewrite — the round's heaviest new query);
    // d7b is the broadcast decontamination screen
    "r18_source_crowding",    // crowding windows over the match set
    "d19_span_removal",       // substring-span removal (corpus rewrite)
    "d7b_overlap_decontam",   // threshold-overlap decontamination
    "qa4_split_leakage",      // split-leakage audit (two window streams)
    "v19_exact_rerank",       // ANN + exact-refine serving chain
    // round-12 third wave (net-lag rule): d20 is the wave's heaviest
    // (rank window + prefix self-join + candidate verification over
    // the graded corpus); r19 chains a full postings-artifact pass
    // against the broadcast match set
    "d20_ppjoin",             // exact prefix-filter similarity join
    "r19_significant_terms",  // JLH match-set-vs-background facet
    "e2e3_spell_serve",       // composed serving chain (3 served stages)
    "cdc3_scd2",              // SCD2 history build (single-exchange window chain)
    // round-12 fourth wave (net-lag rule, heaviest per family): mv2
    // exercises the restatement path end to end (delta derive, pushed
    // day recompute, artifact-served untouched days); v21 is a full
    // corpus-scoring pass + screened top-k; cmp1 is the manifest
    // prefix-sum/window chain over its checkpointed build
    "mv2_late_restatement",   // late-data partition restatement
    "v21_hard_negatives",     // screened hard-negative mining
    "cmp1_compaction_plan",   // small-file compaction planner
    // round-12 fifth wave (net-lag rule): r22 is the wave's richest
    // serving path — positional-index reads + doc_id postings merge +
    // nested higher-order proximity counting
    "r22_proximity",          // NEAR/5 span search (positional merge)
    // round 13 (verdict-12 ask #3): the two heaviest bench queries had
    // been riding only the noise-dominated full-bench total — a
    // regression in either was invisible between rounds; t19 joins per
    // the net-lag rule (new operator, and the suite's only
    // mapPartitions sketch pass)
    "e2e2_span_prep",         // heaviest query: 5-stage training-prep chain
    "s10_dsir_weights",       // two-pass broadcast-LM importance weights
    "t19_heavy_hitters",      // Misra-Gries sketch + exact candidate pass
    // round 14 (verdict-13 ask #5): the two heaviest steady-state
    // serving paths not yet gate-pinned — exactly the queries the
    // round-13 driver-bench anomaly made look regressed (20.4 s/16.8 s
    // in BENCH_r13.json vs 2.7 s/1.2 s judge-measured) with no gated
    // evidence either way; r20 re-scores the corpus token stream with
    // the BM25F field combine, r3 is the plain indexed-BM25 read path
    "r20_bm25f",              // BM25F field-weighted serving
    "r3_bm25_indexed",        // partitioned-postings BM25 serving
    // round 14 (net-lag rule): the composed prep chain's oracled batch
    // row — quality gate, md5 screen, signature pipeline, greedy
    // fixpoint, broadcast decontam in one plan
    "e2e4_prep_manifest",     // streaming prep chain's batch equivalent
    // round 15 (verdict-14 ask #5): the two heaviest steady-state rows
    // still outside the gate (2.06 s / 1.46 s in BENCH_r14) — the
    // round-14 v-family bench drift made exactly these rows
    // unadjudicable from gated evidence; both are scale-measured (v17
    // 1.77× at 10×, t18 exponent 0.41 at 30×) so the gate's job is
    // plan-regression detection, not scale proof
    "v17_nprobe_curve",       // probed-cell recall/latency curve (4 probes)
    "t18_source_overlap",     // cross-source fingerprint overlap matrix
    // round 15 (net-lag rule, applied the round the operators land):
    // v22 is the round's heaviest new steady-state query (a 4-width
    // literal-scoring corpus pass + 40 top-k windows); m5 pins the
    // batched ImageIO decode+dHash hop — the family where the round-14
    // super-linearity hid; t20 anchors the map-only regex battery
    "v22_matryoshka_eval",    // prefix-dim eval (4x literal scoring pass)
    "m5_phash_dedup",         // decode + dHash + hash-group window
    "t20_gopher_rules",       // map-only integer rule battery
    // round 16 (verdict-15 ask #7, the v17/t18 rule re-applied): at
    // 2.96 s d21 was the heaviest steady-state query outside the gate —
    // a first-occurrence window stream + arrival-order novelty rollup
    "d21_ngram_novelty",      // arrival-order n-gram novelty curve
    // round 17 (END, prefix-compatible): the round's structural
    // rewrite (hierarchical per-source rank) and, at 2.5 s in
    // BENCH_r17, the heaviest steady-state row outside the gate —
    // the d21/v17/t18 rule re-applied
    "s16_epoch_sample")

  /** Per-query normalized-gate half-width; default ±20%. sq1's
    * intrinsic same-code spread (0.19-0.50 s across fresh-JVM runs,
    * judge-measured over rounds 9-11 — subquery planning variance, not
    * a plan change: its PlanSpec pins and driver-bench medians are
    * stable) exceeds the default gate width, so every lone sq1 flag
    * was noise; a widened gate makes its row informative again.
    *
    * d20 (±30%): the suite's heaviest canary query (~3.5 s) is
    * dominated by fixed multi-stage costs that do NOT track host-drift
    * windows the way the sub-second queries do, so run_shift
    * normalization can push it over the default gate while its own
    * absolute time barely moves — measured in the round-12 rebaseline
    * triple: absolutes 3.50/3.67/3.45 s (±3%) yet normalized 1.232
    * under a 0.85 run_shift window, clean (32/32) the next pair. The
    * widened gate absorbs exactly that artifact; a real d20 plan
    * regression (its PlanSpec pins zero file scans / no pair join)
    * would blow past 30%.
    */
  /** v21 (±30%, measured round 14): four same-code fresh-JVM runs in
    * one round landed 0.485 / 0.579 / 0.766 / 0.683 s — a ±25%
    * PROPORTIONAL spread (sq1's class, not the absolute-jitter class
    * the floor below absorbs): the full-corpus literal-scoring pass is
    * sensitive to which drift window its five samples draw. Its run-A
    * flag (1.266 normalized) cleared on the protocol re-run with no
    * code change, the same signature sq1 showed before its width.
    */
  /** v17 returned to the DEFAULT width in round 16 (verdict-15 ask #1
    * done-criteria): round 15 measured a ±45% same-code spread (nine
    * fresh-JVM runs, 2.37-4.47 s) and gave it ±50% — the four probed
    * scoring passes straddled drift windows. Round 16 FOLDED the sweep
    * into one scored pass (each candidate scored once at its probe
    * rank, expanded to its np memberships — VectorOps.scala, v17), and
    * the settled rebaseline pair landed 2.040 / 2.066 s (ratio 1.012)
    * at a 27% lower absolute — the variance went away with the passes
    * that caused it, so the row gates at the width every other ~2 s
    * row gets.
    */
  private val gateHalfWidth: Map[String, Double] =
    Map("sq1_subqueries" -> 0.45, "d20_ppjoin" -> 0.30,
      "v21_hard_negatives" -> 0.30)
  private val DefaultHalfWidth = 0.2

  /** Absolute-floor term (verdict-13 ask #6): a row also passes when
    * its shift-adjusted absolute move |median − baseline·run_shift| is
    * under this floor, regardless of the ratio gate. The sub-0.5 s
    * rows kept producing boundary-grade flags that the protocol re-run
    * then cleared — t10 twice in round 12, scale_partition_pruning at
    * 1.201 in round 13, t11 at 1.312 in round 14 — because at
    * 0.15-0.35 s a double-digit-millisecond scheduling hiccup IS a
    * 20-30% ratio. Measured same-code evidence (four fresh-JVM runs in
    * round 14 — the r13 baseline, the round-start run, and the
    * rebaseline pair; identical bits on these rows): raw medians
    * w3_running_sum 0.139-0.175 s, scale_partition_pruning
    * 0.178-0.264 s, s3_source_mix 0.243-0.290 s, t10 0.390-0.485 s,
    * t11 0.268-0.409 s; the largest run_shift-NORMALIZED same-code
    * move was t11's 93 ms (which duly flagged at 1.312 and cleared on
    * re-run), then spp's 68 ms. 100 ms covers the worst observed
    * normalized jitter with margin, while a genuine small-query
    * regression (a lost pushdown turning a pruned scan into a full
    * sf0.1 scan, a new exchange) costs several hundred ms and still
    * flags. For the ≥ 1 s rows the floor is well inside the ±20% band
    * and changes nothing.
    *
    * The floor is CAPPED per query at half the shift-adjusted baseline
    * (advice r14): uncapped, a sub-0.2 s row could regress 50-70% — its
    * entire budget — and still pass on the absolute term. With the cap,
    * a 0.14 s row's floor is ~70 ms (still above its observed same-code
    * jitter), while no row can ever pass a move larger than 50% of its
    * own baseline on the floor alone.
    */
  private val AbsoluteFloorSec = 0.100

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(
      cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), appName = "graft-canary")
    val unknown = queries.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"canary names not registered: ${unknown.mkString(", ")}")
    // Protocol, shaped by measured failure modes of two earlier drafts:
    //  1. SUITE-WIDE warm pass before any clock starts. Draft one
    //     warmed each query immediately before timing it, which timed
    //     the suite's FIRST queries in a colder JVM than its last —
    //     a measured 2× early-query swing between back-to-back runs
    //     while late queries agreed to ±10%.
    //  2. The five timed runs are INTERLEAVED as five full passes over
    //     the suite (median per query across passes), not five
    //     consecutive runs per query. Machine-level drift on this host
    //     arrives in multi-minute windows (a back-to-back pair of
    //     draft-two runs measured a uniform 1.35× shift); consecutive
    //     runs of one query all land inside whatever window it drew,
    //     while interleaved passes give every query one sample from
    //     each window and the median discards the slow ones.
    // So the whole set is ONE group of the runner.
    val samples = queries.zip(Measure.sample(spark,
      Seq(queries.map(q => Measure.Cell(SparkEntry.queries(q), sfDir))), k = 5).head)
    // a failed query has no median: fail the run rather than write a
    // CANARY.json the next round would take as its baseline
    Measure.exitOnErrors(spark, "canary",
      samples.flatMap { case (q, s) => s.err.map(q -> _) })
    val results = samples.map { case (q, s) => q -> s.median }
    val baseline = sys.env.get("SPARK_GRAFT_CANARY_BASELINE")
      .map(Measure.readQueries).getOrElse(Map.empty)
    val qs = results.map { case (k, v) => s""""$k":${num(v, 4)}""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val line =
      s"""{"metric":"canary","value":$total,"unit":"sec","queries":$qs,"gate":${gate(results, baseline)},"sf":"$sfDir"}"""
    println(line)
    try java.nio.file.Files.write(java.nio.file.Paths.get("CANARY.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }

  /** The gate verdict of one run's per-query medians against a baseline
    * run's, as JSON: `run_shift`, and per query its `ratio`,
    * `normalized` ratio and `pass`; `null` when no query has a
    * baseline.
    *
    * The gate is on the ratio NORMALIZED by the run-level median ratio:
    * the residual cross-run drift of a shared host is uniform (a whole
    * run lands 1.1-1.35× off — hypervisor neighbors), and a uniform shift
    * is not a regression. Dividing each query's ratio by the run's
    * median ratio cancels the shift and leaves exactly the
    * idiosyncratic component the gate exists to catch; the shift
    * itself is reported as run_shift so a genuine whole-engine
    * slowdown is still visible rather than silently normalized away.
    */
  def gate(medians: Seq[(String, Double)], baseline: Map[String, Double]): String = {
    val ratios = medians.flatMap { case (k, v) =>
      baseline.get(k).map(b => (k, v / b)) }
    if (ratios.isEmpty) return "null"
    val shift = ratios.map(_._2).sorted.apply(ratios.length / 2)
    val current = medians.toMap
    val rows = ratios.map { case (k, r) =>
      val norm = r / shift
      val w = gateHalfWidth.getOrElse(k, DefaultHalfWidth)
      val inBand = norm >= 1.0 - w && norm <= 1.0 + w
      // shift-adjusted absolute move — see [[AbsoluteFloorSec]]
      val absMove = math.abs(current(k) - baseline(k) * shift)
      val floor = math.min(AbsoluteFloorSec, 0.5 * baseline(k) * shift)
      (k, r, norm, inBand || absMove <= floor)
    }
    val per = rows.map { case (k, r, n, ok) =>
      s""""$k":{"ratio":${num(r, 3)},"normalized":${num(n, 3)},"pass":$ok}""" }
      .mkString("{", ",", "}")
    val verdict = if (rows.forall(_._4)) "pass" else "FAIL"
    s"""{"verdict":"$verdict","run_shift":${num(shift, 3)},"per_query":$per}"""
  }

  // Locale.ROOT throughout: the f-interpolator formats with the default
  // locale, and a comma-decimal locale would emit invalid JSON that
  // poisons the NEXT round's baseline parse
  private def num(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))
}
