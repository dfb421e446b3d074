package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SCALING.md generator — measures the dedup/ANN family's scaling
  * exponent instead of arguing it: self-generates a FACTOR× blowup of
  * the sf `documents`/`embeddings` tables, wall-times each query at 1×
  * and FACTOR× (Bench's discipline: one untimed warm-up absorbing JIT,
  * codegen, and artifact builds, then the median of three timed runs),
  * and writes the observed time-ratio table to SCALING.md. A ratio ≤
  * ~1.2×FACTOR on a FACTOR× corpus is the sub-quadratic evidence every
  * 100 TB design claim rests on.
  *
  * Corpus construction (the d14 planting recipe applied corpus-wide):
  * copy c ∈ [1, F) re-ids every doc at +c·1e8 and replaces every
  * second word with a (copy, doc)-unique junk token, putting copies at
  * ~0.33 Jaccard from their originals and from each other — BELOW the
  * 0.5 near-dup threshold. That keeps the corpus' duplicate DENSITY
  * scale-invariant: the degenerate alternative (F verbatim clones of
  * every doc) would measure a real but irrelevant O(F²) pair blowup
  * inside every LSH bucket, not the engine's scaling. Embeddings
  * rotate each copy's vector by c positions — norm-preserving,
  * direction-distinct — while original vec_ids (PQ seeds < 8, queries
  * < 10, IVF cells < 16) survive unchanged.
  *
  * Usage: runMain graft.ScaleBench [sfDir] [workDir] [factor] [spotFactor]
  * (defaults: the sf0.1 testbed, /tmp/graft_scale, 10, 30): spotFactor
  * is the corpus blowup of the third-point spot-check (see
  * [[SpotQueries]]).
  */
object ScaleBench {

  /** The queries under measurement — the dedup/ANN family whose 100 TB
    * safety VERDICT r7 asked to convert from design argument to data.
    * d1 rides along as the trivially-linear anchor.
    */
  private val ScaleQueries = Seq(
    "d1_exact_dedup", "d2_minhash_lsh", "d5_neardup_clusters",
    "d8_passage_dedup", "d15_incremental_neardup", "d16_keep_best",
    "v2_ann_lsh", "v7_pq", "v8_pq_adc", "v9_ivf_pq", "v10_adc_batch",
    "v11_ivfpq_recall", "v12_scalar_quant",
    // corpus-wide text-quality passes: t14 is the vocab stress case —
    // the junked copies make ~half of all tokens copy-unique, so the
    // unigram groupBy's key cardinality grows ~25× while the top-V
    // broadcast stays bounded; t15's exact percentile buffers per
    // source; v13 is the map-only anchor on the vector side
    "t14_unigram_logprob", "t15_mad_outlier", "v13_embedding_audit",
    // the retrieval read path: r1's one-shuffle BM25 over the corpus
    // token stream (copies keep ~half their organic words, so the
    // matched-term stream grows with the corpus), r2 adds the v9
    // vector channel + fusion on top, r3 serves from the stored
    // postings artifact (build cost included on the warm-up run)
    "r1_bm25", "r2_hybrid_rrf", "r3_bm25_indexed",
    // retrieval round-9 additions (r7/r9 index-served since round 10):
    // r6's shingle phrase match is a map-only generate + one bounded
    // shuffle; r7's two PRF passes now read the stored postings with
    // only the feedback term-count touching the (literal-pruned)
    // corpus; r8 serves variable-length phrases from the stored
    // positional index (bucket-pruned scan + doc_id positional merge);
    // r9 serves from the stemmed-analyzer index (r3's read shape) —
    // for r7/r9 the one-time index builds land on the warm-up run,
    // like r3's
    "r6_phrase_search", "r7_prf_expansion", "r8_phrase_indexed",
    "r9_stemmed_bm25",
    // corpus-prep: tok3's vocab table blows up ~25× (junk words are
    // copy-unique) while each merge round stays vocab-bounded; tok5's
    // encode is a broadcast vocab join + per-doc rollup over the
    // corpus word stream; s7's weighted sample is map-only + a
    // bounded top-k heap
    "tok3_bpe_train", "tok5_bpe_encode", "s7_weighted_sample",
    // the round-10 serving family (verdict-10 ask #3 — previously
    // outside this net): r10's highlighter reads the positional
    // artifact bucket-pruned then slices ≤ queries×3 documents; v15's
    // greedy MMR runs on collected queries×20 candidates, so its
    // corpus-side term is the candidate generation; tok6's encode is
    // a broadcast word→ids join + per-doc reassembly over the corpus
    // word stream; tok7 is one corpus scan with a broadcast-vocab
    // LEFT join; t17 computes all five stage flags in ONE corpus pass
    "r10_snippets", "v15_mmr_rerank", "tok6_bpe_ids",
    "tok7_unk_accounting", "t17_pipeline_waterfall",
    // the round-11 family (same net-lag rule — new operators join the
    // scaling net the round they land): r13's metrics aggregate the
    // shared graded-ranking artifact + 40 broadcast truth rows, so its
    // corpus term is the ranking build on the warm-up; r14 re-scores
    // per-field over the one corpus token stream (two window passes on
    // the matched-token frame); v16 is a map-only frozen-codebook
    // encode + 2-row rollup; tok8 is tok3's one-scan word-freq table
    // with a vocab-bounded rank window; s8 is a map-only hash +
    // bounded rollup that never reads the text column
    "r13_graded_metrics", "r14_fielded_search", "v16_codebook_drift",
    "tok8_vocab_coverage", "s8_dataset_split",
    // r15's corpus-side terms are the 5-literal-doc profile read and
    // the bucket-pruned pass-2 serving (the dictionary/stats artifact
    // builds land on the warm-up); d18's stride-1 window stream is the
    // suite's largest deliberate linear blowup — the corpus token
    // stream hashed once, duplicate detection two linear aggs, NO pair
    // join (the d8 comparison this row exists to make)
    "r15_more_like_this", "d18_substring_spans",
    // t18 rolls d18's window stream up to the source registry (the
    // overlap join fans by sources-per-hash, bounded by the registry);
    // v17 sweeps four probe widths over ONE cell assignment + stored
    // code table — its corpus term is the encode/assignment warm-up
    "t18_source_overlap", "v17_nprobe_curve",
    // tok9's corpus-side terms are the vocab build (one scan) and the
    // bounded 200-doc encode/decode; s9 is one map-side-combined scan
    // to the |sources|-row inventory + bounded arithmetic
    "tok9_decode_roundtrip", "s9_mixture_budget",
    // the round-11 serving trio (verdict-11 ask #5): all three read the
    // bucket+IN-pruned postings artifact with broadcast fixtures —
    // r16's facet rollup and r17's role-gated boolean aggregate are
    // match-set-sized; r18 stacks two crowding windows on the match
    // frame with a column-pruned metadata join
    "r16_faceted_search", "r17_boolean_query", "r18_source_crowding",
    // round 12 (net-lag rule): d19 re-runs d18's window stream plus a
    // row_number ranking, island merge and a doc_id-keyed corpus
    // rewrite — the largest new linear blowup; d7b is one corpus
    // window projection against broadcast bench windows; m2 is the
    // real PNG encode+decode pair of narrow batched hops
    "d19_span_removal", "d7b_overlap_decontam", "m2_media_features",
    // round 12 second wave: qa4's two corpus window streams meet in a
    // hash membership join (train side corpus-sized, never broadcast);
    // v18 ranks one shared scored frame two ways with the metadata
    // semi-join; v19 chains v9's serving with the bounded exact-refine
    // stage (raw vectors touched only through the broadcast id slice)
    "qa4_split_leakage", "v18_filtered_ann", "v19_exact_rerank",
    // the composed chain: its scaling is its stages' (quality narrow,
    // dedup one fp shuffle, span removal the d19 machinery over the
    // gated survivor stream)
    "e2e2_span_prep",
    // round 12 third wave: d20's exactness claim is only credible if
    // the prefix join's fan-out stays rare-token-bounded as the corpus
    // grows (the blowup's junked copies make every copy shingle
    // df-1, so candidate pressure tracks the planting, not the copy
    // mass); s10's two passes are a 4096-row rollup + a broadcast
    // re-stream; r19's foreground pass rides the postings artifact
    // against the broadcast match set
    "d20_ppjoin", "s10_dsir_weights", "r19_significant_terms",
    // e2e3 composes three served stages (dictionary correction,
    // pruned postings BM25, crowding) — its corpus terms are the
    // artifact builds on the warm-up; v20's hamming pass is map-only
    // over the 8-byte code artifact with a bounded rerank
    "e2e3_spell_serve", "v20_binary_quant",
    // r20 re-scores the corpus token stream with the BM25F combine —
    // r14's scale shape with one extra (doc, term) rollup
    "r20_bm25f",
    // round 12 fourth wave (events/customer join the blowup): mv1's
    // refresh term is the pushed new-day scan (1/30 of events) + a
    // states-table merge; mv2 recomputes ONLY the two restated days
    // (statically pushed bounds) with a broadcast upsert screen — both
    // serve history from the seed artifact built on the warm-up; qa6
    // is one person-table aggregate + a map-side class join; v21 is
    // v1's map-only literal-scoring plan over the blown-up vectors
    "mv1_incremental_rollup", "mv2_late_restatement",
    "qa6_k_anonymity", "v21_hard_negatives",
    // round 12 fifth wave: r21 serves wildcard lookups from the
    // dictionary artifacts (vocab grows ~25× under the junked copies —
    // the dictionary-size stress case); r22 merges positional postings
    // under bucket+IN pruning (matched-posting-bounded joins); p15 is
    // two narrow corpus passes (quantile cuts then bucket assignment);
    // cmp1's corpus term is the one manifest-building scan
    "r21_wildcard", "r22_proximity", "p15_length_buckets",
    "cmp1_compaction_plan",
    // s12's corpus term is one md5 projection + one (doc_id, h) group
    // shuffle — the d1 shape with a window instead of an aggregate
    "s12_leakage_safe_split",
    // round 13 (net-lag rule): t19's sketch pass is one narrow
    // mapPartitions scan (O(k) per task) + a P·k-row merge, then a
    // broadcast-candidate exact pass — two linear corpus scans, no
    // term-keyed full shuffle; m3/m4 close the multimodal family's
    // measurement gap (verdict-12 ask #7): both ride m2's batched
    // decode hop, m3 adding the explode(sequence) frame fan-out
    // (bounded ×30/5) and m4 the second batched resize hop — the
    // mapPartitions hops are exactly where a super-linear surprise
    // would hide, so they get measured, not argued
    "t19_heavy_hitters", "m3_frame_sample", "m4_resize",
    // scale_approx_vocab pits the HLL distinct-terms sketch against
    // the exact COUNT(DISTINCT) under the blowup's ~25× vocabulary
    // growth — the dial's own stress case
    "scale_approx_vocab",
    // round 14 (net-lag rule): e2e4's stages are each linear (quality
    // narrow, md5 shuffle, d2's signature pipeline over survivors,
    // broadcast decontam); the one new term is the greedy-admission
    // fixpoint, whose joins run on the near-dup pair GRAPH only — the
    // blowup's junked copies pair with nothing, so graph size tracks
    // the organic near-dup density, not the corpus
    "e2e4_prep_manifest",
    // round 15 (net-lag rule): d21 is d18's window-hash stream + one
    // h-partition window + one doc rollup (two linear exchanges, no
    // pair join); s13 is one signature pass + one band-partition
    // window — the blowup's junked copies land in singleton buckets,
    // so its cost tracks signature row count; s14 is a counts-only
    // source aggregate + arithmetic on the |sources|-bounded frame
    "d21_ngram_novelty", "s13_lsh_diversity_sample",
    "s14_temperature_mix",
    // round 15 second wave: m5 chains m2's decode hop with the dHash
    // sampler (same batched ImageIO family the m4 super-linearity hid
    // in — measured for the same reason) plus one (h_hi, h_lo) group
    // window over a 3-long frame; v22 is v1's map-only literal-scoring
    // plan evaluated at four prefix widths in one scan — its corpus
    // term is 4× the cosine arithmetic, not 4 scans
    "m5_phash_dedup", "v22_matryoshka_eval",
    // t20 is one narrow regex projection + the output sort — the
    // battery's cost is per-row constant (7 bounded regex passes), so
    // it anchors the map-only end of the text family
    "t20_gopher_rules",
    // round 16 (net-lag rule): s15 runs s10's two passes plus the
    // hierarchical cumsum — two windows over the per-DOC weights frame
    // (in-bucket parallel, bucket-totals ~√n since round 17) and a
    // k-row broadcast interval join; nothing touches the corpus beyond
    // s10's own scans
    "s15_dsir_resample",
    // tok10 is one narrow token-count scan + the same hierarchical
    // cumsum over the per-doc frame — the packing arithmetic is
    // per-row; the blowup grows the doc frame 10× and nothing else
    "tok10_sequence_packing",
    // d22's membership test is map-only over the window-hash stream
    // (1 KB filter in the closure, no join); the truth channel joins
    // the broadcast bench set — d7b's shape with a constant filter
    // replacing the per-hash probe join
    "d22_bloom_decontam",
    // s16's corpus terms are the counts-only source rollup and one
    // narrow (doc_id, source, h) projection through the two-level
    // hierarchical rank (round 17: in-bucket windows + per-(source,
    // bucket) counts prefix — the per-source full-corpus window is
    // gone); the quota frame is |sources|-bounded and broadcasts
    "s16_epoch_sample",
    // tok11 (round 17, net-lag rule): one narrow token-count scan
    // folded map-side to a ≤32-row histogram + 4 scalars; the BFD is
    // driver arithmetic on bounded state — the corpus term is the
    // scan alone, so its ratio anchors the histogram-driven end
    "tok11_bestfit_packing",
    // m6 (round 17, net-lag rule): encode+decode are m2's batched
    // narrow hops with javax.sound instead of ImageIO — measured for
    // the same reason m3/m4 are (the round-14 ImageIO disk-cache
    // super-linearity hid in exactly this family; javax.sound streams
    // pure byte arrays, so this row certifies the absence)
    "m6_audio_features",
    // e2e5 (round 17, net-lag rule): s16's epoch chain + one doc_id
    // hash semi-join back to the corpus + tok11's histogram fold —
    // the composed manifest's corpus terms are those three; the BFD
    // itself is bounded driver arithmetic
    "e2e5_epoch_manifest",
    // tok12 (round 17, net-lag rule): the unigram-LM EM iteration is
    // the t14 stress shape — the blowup's copy-unique junk makes the
    // distinct-WORD frame grow ~25× (the corpus pass's groupBy key),
    // and the seed/E/M stages are linear in that frame while the
    // broadcast piece table stays support-pruned; the Viterbi HOF is
    // O(len·4) per distinct word, so this row prices vocab growth,
    // not corpus growth
    "tok12_unigram_viterbi",
    // t21/t22 (round 17, net-lag rule): both are one corpus pass onto
    // bounded frames — t21's fit runs on the (source × ≤1000-term)
    // table, t22's curve on a 10-row decile histogram + the per-term
    // first-occurrence rollup (vocab-bounded, but the junked blowup
    // grows that vocab ~25× — same stress as t14/tok12)
    "t21_zipf_fit", "t22_heaps_growth",
    // tok13 runs tok12's E-step twice (pre/post prune) off the SAME
    // checkpointed word pass — its ratio certifies the prune window
    // and the second DP stay vocab-bounded too
    "tok13_unigram_prune",
    // e2e6 re-encodes the corpus under the trained tokenizer: tok12's
    // vocab-bounded side + ONE corpus explode joined to the broadcast
    // word→nseg map folded per doc, into tok11's bounded histogram —
    // the corpus term is that single exchange
    "e2e6_unigram_packing",
    // tok14 joins BOTH trained tokenizers' vocab-bounded maps to one
    // (source × vocab)-bounded word rollup — its corpus term is that
    // single map-side-combined pass; the blowup's junk vocabulary
    // stresses the same key-cardinality growth as t14/tok12
    "tok14_tokenizer_compare",
    // qa7's corpus term is ONE map-only HOF pass (per-row exact norm,
    // no explode) + a map-side-combined groupBy onto |classes| rows —
    // the embeddings blowup grows rows 10× and nothing else
    "qa7_label_balance")

  /** The third-point spot-check set: the WORST observed 10× ratios
    * (d15, v11 historically; t18 since round 11 — its 5.45× at 10×
    * was the suite's worst and the only one without a third point,
    * tracking the blowup's distinct-window growth) — precisely where
    * fixed costs least conclusively dominate and two points cannot
    * tell constant-dominated from a mild n^1.3 term — plus r1 as the
    * retrieval anchor. Under linearity t(spot)/t(factor) ≈
    * spot/factor; a hidden super-linear term grows the ratio with the
    * corpus instead of converging.
    */
  private val SpotQueries = Seq(
    "d15_incremental_neardup", "v11_ivfpq_recall", "r1_bm25",
    "t18_source_overlap",
    // d20's 10× ratio rose to ~4× once the positional filter removed
    // the constant term that had been masking candidate growth — the
    // worst-ratio-without-a-third-point rule (t18's precedent) says
    // pin it: under linearity t30/t10 ≈ 3
    "d20_ppjoin",
    // m3/m4 carried the net's two highest 10× ratios in round 13
    // (4.22×/4.66×) with no third point — same rule. The round-14
    // third point caught a REAL super-linear term (m4 exponent 1.29):
    // ImageIO's disk-backed stream cache was creating/deleting a temp
    // file per row, and tmp-dir churn contention grows with file-op
    // concurrency — fixed by switching to the in-memory cache
    // (Multimodal.disableImageIoDiskCache), post-fix exponents
    // 0.66/0.79. Kept in the spot set as the regression tripwire.
    "m3_frame_sample", "m4_resize",
    // e2e4 lands (round 14) with the net's second-highest 10× ratio
    // (2.95× — the composed chain re-scans the corpus three times by
    // design); the worst-ratio-without-a-third-point rule applies on
    // arrival
    "e2e4_prep_manifest",
    // d18 (round 15, verdict-14 ask #6): the worst remaining 10× ratio
    // without a third point (2.43× — its stride-1 window stream is the
    // dedup family's largest deliberate linear blowup); the m4
    // precedent says a third point either certifies the linearity or
    // finds the fixable term hiding behind it
    "d18_substring_spans",
    // v22 lands (round 15) with the round's worst new 10× ratio
    // (2.96× — the 4-width literal-scoring pass is a deliberate 4×
    // arithmetic blowup per row); worst-ratio-without-a-third-point
    // rule applies on arrival. (Round 16's incremental-prefix rewrite
    // brought it to 1.64× at 10× / exponent 0.65 at 30× — kept as the
    // regression tripwire.)
    "v22_matryoshka_eval",
    // s15 lands (round 16) with the round's worst new 10× ratio
    // (2.98× — two windows over the per-doc weights frame on top of
    // s10's passes); same on-arrival rule
    "s15_dsir_resample",
    // s16 gets its third point on arrival (round 17): the round's
    // structural rewrite (per-source corpus window → hierarchical
    // two-level rank) is exactly the shape a 30× point certifies —
    // the r16 verdict's #1 finding, so the spot evidence ships with
    // the fix rather than waiting for a worst-ratio trigger
    "s16_epoch_sample",
    // m6 lands (round 17) with the round's worst new 10× ratio
    // (8.45× — real per-row encode+decode, so per-row cost dominates
    // fixed costs almost immediately; LINEAR is this query's design
    // point, not a defect) — the on-arrival rule pins the third point
    // to certify the exponent stays ~1 and no m4-style churn term
    // hides behind the honest codec work
    "m6_audio_features")

  /** Copy offset: far above sf doc ids (~1e5), d14's planted range
    * (7e6-1e7), and the dedup planting offset (+1e6), so every id space
    * stays disjoint across copies.
    */
  private final val CopyOffset = 100000000L

  def generate(spark: SparkSession, sfDir: String, outDir: String, factor: Int): Unit = {
    val marker = new java.io.File(s"$outDir/_GENERATED_v2_x$factor")
    if (marker.exists()) return
    new java.io.File(outDir).mkdirs()

    val docs = graft.sources.Tables.documents(spark, sfDir)
    val docCopies = (1 until factor).map { c =>
      val junked = array_join(
        transform(split(col("text"), " "), (w, i) =>
          when(i % 2 === 1,
            concat(lit(s"cp${c}x"), col("doc_id").cast("string"),
              lit("w"), i.cast("string")))
            .otherwise(w)), " ")
      docs.withColumn("doc_id", col("doc_id") + lit(c * CopyOffset))
        .withColumn("text", junked)
        .withColumn("n_chars", length(col("text")))
    }
    docCopies.foldLeft(docs)(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val embCopies = (1 until factor).map { c =>
      emb.withColumn("vec_id", col("vec_id") + lit(c * CopyOffset))
        .withColumn("embedding",
          concat(slice(col("embedding"), c + 1, 64 - c), slice(col("embedding"), 1, c)))
    }
    embCopies.foldLeft(emb)(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // events/customer (round-12 fourth wave): copies re-id rows far
    // above the organic key space and keep every other column — the
    // mv family's day calendar and qa6's QI values must stay intact so
    // the blowup scales ROW MASS (rows per day, rows per QI class),
    // which is the axis those operators' 100 TB claims are about.
    // CopyOffset % 20 == 0, so the mv2 fixture's event_id % 10 / % 20
    // correction pattern is copy-invariant.
    val ev = graft.sources.Tables.events(spark, sfDir)
    (1 until factor).map(c => ev.withColumn("event_id", col("event_id") + lit(c * CopyOffset)))
      .foldLeft(ev)(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    val cust = graft.sources.Tables.customer(spark, sfDir)
    (1 until factor).map(c => cust.withColumn("c_custkey", col("c_custkey") + lit(c * CopyOffset)))
      .foldLeft(cust)(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    marker.createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_scale")
    // the report's "under linearity ≈ N" must be the SAME value the
    // verdict/exponent compute with — integer division here once
    // rendered "≈ 2" while the math used 2.5 for a 25/10 spot pair
    def linTxt(spot: Int, base: Int): String = {
      val v = spot.toDouble / base
      if (v == v.floor) f"$v%.0f" else f"$v%.2f"
    }
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.local(
      cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), appName = "graft-scale")

    // the FACTOR× corpus dir mimics an sf dir (documents/embeddings/
    // events/customer — all the tables the scale net reads); basename
    // is part of the artifact-store key, so it must differ from the
    // source's
    val bigDir = s"$workDir/x$factor"
    generate(spark, sfDir, bigDir, factor)

    // Per query: warm BOTH corpora, then three interleaved (small, big)
    // timed pairs, median per side — one runner group per query. The
    // quantity this bench defends is the RATIO, and host drift arrives
    // in multi-minute uniform windows (BENCH_NOTES
    // round 10 — an un-interleaved run measured a 30× corpus "faster"
    // than its 10×, which is pure drift): pairing the two sides
    // back-to-back inside each pass puts them in the same window, so
    // the ratio stays valid even when absolute times wander. A failed
    // query has no ratio: the run fails before SCALING.md is written.
    def medianPairs(qs: Seq[String], dA: String, dB: String): Map[String, (Double, Double)] = {
      val samples = Measure.sample(spark,
        qs.map(q => Seq(dA, dB).map(Measure.Cell(SparkEntry.queries(q), _))), k = 3)
      Measure.exitOnErrors(spark, "scale", qs.zip(samples).flatMap { case (q, ss) =>
        Seq(dA, dB).zip(ss).flatMap { case (d, s) => s.err.map(e => s"$q on $d" -> e) } })
      qs.zip(samples.map(ss => (ss(0).median, ss(1).median))).toMap
    }

    val both = medianPairs(ScaleQueries, sfDir, bigDir)

    // third point at SPOT× for the least-conclusive ratios — the
    // FACTOR× side is re-timed here, interleaved with SPOT×, so the
    // t(spot)/t(factor) ratio is drift-paired too
    val spotFactor = args.lift(3).map(_.toInt).getOrElse(30)
    val spotDir = s"$workDir/x$spotFactor"
    generate(spark, sfDir, spotDir, spotFactor)
    val spot = medianPairs(SpotQueries, bigDir, spotDir)

    val rows = ScaleQueries.map { q =>
      val (a, b) = both(q)
      val ratio = b / a
      val verdict = if (ratio <= factor * 1.2) "sub-linear-or-linear" else "SUPER-LINEAR"
      (q, a, b, ratio, verdict)
    }
    val nDocs = graft.sources.Tables.documents(spark, sfDir).count()
    val nVecs = graft.sources.Tables.embeddings(spark, sfDir).count()
    val table = rows.map { case (q, a, b, r, v) =>
      f"| $q | $a%.3f | $b%.3f | $r%.2f× | $v |"
    }.mkString("\n")
    val spotRows = SpotQueries.map { q =>
      // the FACTOR× time here is the spot phase's own drift-paired
      // re-timing, so r = c / b compares two same-window medians
      val a = both(q)._1; val (b, c) = spot(q)
      val lin = spotFactor.toDouble / factor
      val r = c / b
      val p = math.log(r) / math.log(lin)
      val verdict = if (r <= lin * 1.2) "consistent-with-linear" else "SUPER-LINEAR"
      (q, a, b, c, r, p, verdict)
    }
    val spotTable = spotRows.map { case (q, a, b, c, r, p, v) =>
      f"| $q | $a%.3f | $b%.3f | $c%.3f | $r%.2f× | $p%.2f | $v |"
    }.mkString("\n")
    // table rows start with '|', which stripMargin would eat — keep the
    // generated rows OUTSIDE the margin template
    val md =
      s"""# SCALING — measured, not argued
         |
         |`graft.ScaleBench` self-generates a ${factor}× blowup of the
         |`$sfDir` corpus (documents: $nDocs → ${nDocs * factor}; embeddings:
         |$nVecs → ${nVecs * factor}) with scale-invariant duplicate density
         |(every copy ~0.33 Jaccard from every other — see ScaleBench.scala's
         |construction notes) and times the dedup/ANN family on both. Per
         |query: one untimed warm-up per corpus (JIT + artifact builds), then
         |three INTERLEAVED (1×, ${factor}×) timed pairs with the median per
         |side — pairing the sides inside each pass puts them in the same
         |host-drift window, so the RATIO stays valid even when absolute
         |times wander (BENCH_NOTES round 10 documents the drift). Single
         |JVM, local[32]. A time ratio ≤ ~1.2×$factor on the ${factor}×
         |corpus is the sub-quadratic evidence the 100 TB design claims rest
         |on: any all-pairs term would surface here as ~${factor * factor}×.
         |
         || query | 1× (s) | ${factor}× (s) | ratio | verdict |
         ||---|---|---|---|---|
         |""".stripMargin + table +
      s"""
         |
         |## ${spotFactor}× spot-check — a third point where two were least conclusive
         |
         |d15 and v11 had the suite's worst historical ${factor}× ratios, and
         |t18's round-11 ratio (5.45× at 10×, tracking distinct-window growth)
         |was the one worst-case without a third point; two points cannot
         |distinguish constant-dominated from a mild super-linear term, so they
         |(plus r1 as the retrieval anchor) get a ${spotFactor}× corpus. Under
         |linearity t${spotFactor}/t$factor ≈ ${linTxt(spotFactor, factor)}; the implied
         |exponent is ln(t${spotFactor}/t$factor)/ln(${linTxt(spotFactor, factor)})
         |(< 1 = still constant-dominated, ≈ 1 = linear). The ${factor}× column
         |below is this phase's own drift-paired re-timing (interleaved with
         |${spotFactor}×), so it may differ slightly from the main table's.
         |
         || query | 1× (s) | ${factor}× (s) | ${spotFactor}× (s) | t${spotFactor}/t$factor | implied exponent | verdict |
         ||---|---|---|---|---|---|---|
         |""".stripMargin + spotTable +
      s"""
         |
         |Notes:
         |- Ratios well below $factor× mean fixed costs (planning, artifact
         |  reads, the bounded query-set work) still dominate at this absolute
         |  scale — the signal that matters is the ABSENCE of any
         |  super-linear term, which would dwarf those constants.
         |- d2/d5/d8 run the full MinHash/clustering/passage pipelines over
         |  the blown-up corpus; their signature artifacts are rebuilt for
         |  the new corpus fingerprint during the warm-up run.
         |- v2/v7-v9 keep their fixed bounded query sets (vec_id < 10) and
         |  driver-state codebooks; their cost is the corpus-side scan +
         |  candidate work, which is the term that must stay linear.
         |- d5's ratio can exceed the others': connected components is
         |  O(rounds·n) and rounds grow with cluster diameter, bounded by
         |  the star-contraction escalation (DedupCluster.scala).
         |- r1/r2 measure the retrieval read path: the BM25 term filter
         |  keeps the tf shuffle bounded by matched tokens (copies retain
         |  ~half their organic words, so matches grow ~linearly), and
         |  r2 stacks the v9 serving channel plus the rank fusion on top.
         |- t14 is the deliberate worst case for the vocab shuffle: the
         |  blowup's junk words are copy-unique, so distinct-token
         |  cardinality grows ~${factor * 25 / 10}× (not $factor×) while the
         |  top-V broadcast stays 1000 rows — the ratio shows the agg
         |  absorbing that, not an idealized corpus.
         |
         |Regenerate: `sbt "runMain graft.ScaleBench [sfDir] [workDir] [factor] [spotFactor]"`
         |(defaults: the sf0.1 testbed, `/tmp/graft_scale`, 10 and 30; ~5 min).
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALING.md"),
      md.getBytes("UTF-8"))
    val json = rows.map { case (q, a, b, r, _) =>
      s""""$q":{"t1":$a,"tF":$b,"ratio":$r}""" }.mkString("{", ",", "}")
    val spotJson = spotRows.map { case (q, _, b, c, r, p, _) =>
      s""""$q":{"tF":$b,"tS":$c,"ratio":$r,"exponent":$p}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"scaling","factor":$factor,"spotFactor":$spotFactor,"queries":$json,"spot":$spotJson}""")
    spark.stop()
  }
}
