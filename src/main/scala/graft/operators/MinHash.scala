package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** MinHash + LSH near-duplicate detection over word-3-gram shingles —
  * the standard shingle→minhash→band→bucket-join pipeline.
  *
  * Scale shape: one narrow pass computes 32 min-perm values per doc
  * (a single hash-aggregate keyed on doc_id); banding explodes each doc
  * into 8 rows; candidates come from an equi-join on (band, band_value)
  * — cost ∝ bucket collisions, never n². Signature Jaccard estimate is
  * a 32-way column compare on the candidate pairs only.
  *
  * Permutations are fixed constants (seed 42) embedded identically in
  * the Spark plan and the generated DuckDB oracle, and the shingle hash
  * is the portable md5-derived 60-bit hash — the whole pipeline is
  * deterministic and cross-engine checkable.
  */
object MinHash {

  val K = 32 // minhash permutations
  val Bands = 8 // 8 bands x 4 rows
  val P = 2147483647L // 2^31 - 1 (Mersenne prime)

  /** (a_i, b_i) for h_i(x) = (a_i * x + b_i) mod P, seed-42 fixed. */
  val perms: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(K)((rnd.nextInt(Int.MaxValue - 1).toLong + 1, rnd.nextInt(Int.MaxValue).toLong))
  }

  // ---- Spark side -----------------------------------------------------

  private def shingleFrame(docs: DataFrame): DataFrame = TextOps.shingles(docs)

  /** doc_id → m0..m31 signature columns. */
  def signatures(docs: DataFrame): DataFrame =
    signaturesFrom(shingleFrame(docs))

  /** [[signatures]] over an already-materialized shingle frame
    * (e.g. TextOps.shingleIndex).
    */
  def signaturesFrom(sh: DataFrame): DataFrame = {
    val hashed = sh
      .select(col("doc_id"), (TextOps.phash(col("shingle")) % P).as("hp"))
    val minExprs = perms.zipWithIndex.map { case ((a, b), i) =>
      min(permuted(lit(a), lit(b), col("hp"))).as(s"m$i")
    }
    hashed.groupBy("doc_id").agg(minExprs.head, minExprs.tail: _*)
  }

  /** Materialized (doc_id, m0..m31) signature table over the
    * dupe-injected corpus — shared by d2 (pair estimation) and d5
    * (clustering), published through
    * [[graft.sinks.VersionedStore]] with the same source-fingerprint
    * keying as the shingle index it derives from. Signatures are
    * threshold-independent, so every downstream consumer reads one
    * artifact; oracles recompute from raw text.
    */
  def signaturesArtifact(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.sinks.VersionedStore.corpusArtifact(s, d, "minhash_sig_dupes") { out =>
      signaturesFrom(TextOps.shingleIndex(s, d, withPlantedDupes = true))
        .write.parquet(out)
    }

  /** Candidate pairs from banded bucket join + signature-estimated
    * Jaccard, thresholded.
    */
  def nearDupPairs(docs: DataFrame, threshold: Double): DataFrame =
    nearDupPairsFromSignatures(signatures(docs), threshold)

  /** One row per (doc, band): the 4-row band value the LSH bucket join
    * keys on. Shared by the self-join (near-dup pairs) and the
    * cross-frame screen ([[crossMatches]]).
    */
  private def bandFrame(sig: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      concat_ws(",", (0 until 4).map(r => col(s"m${4 * b + r}")): _*)
    }
    sig.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("b", "band_val")))
  }

  /** Permutation (a, b) of a shingle hash: (a·hp + b) mod P. */
  private def permuted(a: Column, b: Column, hp: Column): Column = (a * hp + b) % P

  /** Signature-estimated Jaccard of the (a0..a31) and (b0..b31)
    * signature columns: the share of the K values that agree.
    */
  private def estimate: Column =
    (0 until K).map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
      .cast("double") / K

  // ---- streaming screen: per-doc array signatures ---------------------
  //
  // The at-ingest near-dup screen signs each doc IN PLACE (array
  // functions over its own shingles) instead of grouping a shingle frame
  // by doc, so the screen stays one row per doc. Each function below
  // yields, per doc or pair, exactly the value of its column-wise twin
  // above (same shingles, hash, permutations, bands and estimate), so a
  // pair matches at ingest iff it would match in the batch detector;
  // StreamingSpec holds the two pair-for-pair. They are written as a few
  // higher-order functions rather than K unrolled columns so that a
  // micro-batch's plan stays small to analyze and optimize.

  /** The (a, b) permutations as an array literal. */
  private lazy val permsLit: Column = typedLit(perms)

  /** The hashes of a `shingles` array, as [[signaturesFrom]] hashes each
    * shingle row.
    */
  private[graft] def shingleHashes(shingles: Column): Column =
    transform(shingles, s => TextOps.phash(s) % P)

  /** A doc's signature from its [[shingleHashes]]: the K permutation
    * minima as an array, NULL when it has no shingle (such a doc gets no
    * row from [[signatures]]).
    */
  private[graft] def signatureOf(hps: Column): Column =
    when(size(hps) > 0, transform(permsLit, p =>
      array_min(transform(hps, h => permuted(p("_1"), p("_2"), h)))))

  /** The [[Bands]] band values of an array signature, as [[bandFrame]]
    * builds them.
    */
  private[graft] def bandValuesOf(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)), b =>
      array_join(slice(sig, b * 4 + 1, lit(4)).cast("array<string>"), ","))

  /** The estimated Jaccard of two array signatures, as [[estimate]]. */
  private[graft] def estimateOf(x: Column, y: Column): Column =
    size(filter(zip_with(x, y, (a, b) => a === b), same => same)).cast("double") / K

  /** Screen `newSig` docs against `storeSig` docs (both (doc_id,
    * m0..m31) signature frames): every (incoming, stored) pair sharing
    * an LSH band with estimated Jaccard ≥ threshold, as
    * (doc_id, matched_id, est_jaccard). The incremental-dedup primitive
    * (d15 and the streaming screen): candidates come from the band
    * equi-join — cost ∝ bucket collisions between the two sides, never
    * |store|·|batch| — and the signature compare touches candidates
    * only. Same banding and estimate as [[nearDupPairs]], so a pair
    * matches here iff it would match in the one-shot batch detector.
    */
  def crossMatches(storeSig: DataFrame, newSig: DataFrame, threshold: Double): DataFrame = {
    val sBands = bandFrame(storeSig)
      .select(col("doc_id").as("matched_id"), col("b"), col("band_val"))
    val nBands = bandFrame(newSig).select(col("doc_id"), col("b"), col("band_val"))
    val cand = nBands.join(sBands, Seq("b", "band_val"))
      .select("doc_id", "matched_id").distinct()
    val s1 = newSig.select(col("doc_id") +:
      (0 until K).map(i => col(s"m$i").as(s"a$i")): _*)
    val s2 = storeSig.select(col("doc_id").as("matched_id") +:
      (0 until K).map(i => col(s"m$i").as(s"b$i")): _*)
    cand.join(s1, "doc_id").join(s2, "matched_id")
      .withColumn("est_jaccard", estimate)
      .filter(col("est_jaccard") >= threshold)
      .select("doc_id", "matched_id", "est_jaccard")
  }

  /** [[nearDupPairs]] from a precomputed signature frame. */
  def nearDupPairsFromSignatures(signatures0: DataFrame, threshold: Double): DataFrame = {
    // sig fans out 4 ways (bands self-join + s1 + s2); materialize the
    // tiny (n_docs × 33) signature table once so the expensive
    // shingle+min-agg pipeline runs once, not 4-5×. localCheckpoint
    // (not persist) so the blocks are released when the plan is GC'd —
    // an explicit persist with no unpersist would pin cache memory for
    // the session lifetime across repeated invocations.
    val sig = signatures0.localCheckpoint()
    val bands = bandFrame(sig)
    val cand = bands.select(col("doc_id").as("doc1"), col("b"), col("band_val"))
      .join(bands.select(col("doc_id").as("doc2"), col("b"), col("band_val")),
        Seq("b", "band_val"))
      .filter(col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
    val s1 = sig.select(col("doc_id").as("doc1") +:
      (0 until K).map(i => col(s"m$i").as(s"a$i")): _*)
    val s2 = sig.select(col("doc_id").as("doc2") +:
      (0 until K).map(i => col(s"m$i").as(s"b$i")): _*)
    cand.join(s1, "doc1").join(s2, "doc2")
      .withColumn("est_jaccard", estimate)
      .filter(col("est_jaccard") >= threshold)
      .select("doc1", "doc2", "est_jaccard")
      .orderBy("doc1", "doc2")
  }

  // ---- DuckDB oracle (generated from the same constants) --------------

  private val withDupesSql = TextOps.withDupesSql

  private[operators] def sigSql(corpus: String): String = {
    val minExprs = perms.zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($a * hp + $b) % $P) AS m$i"
    }.mkString(",\n         ")
    s"""sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle
       |    FROM (SELECT doc_id,
       |                 unnest(string_split(text, ' ')) AS w,
       |                 generate_subscripts(string_split(text, ' '), 1) AS pos
       |          FROM ($corpus)))
       |  WHERE shingle IS NOT NULL),
       |hashed AS (SELECT doc_id, ${TextOps.phashSql("shingle")} % $P AS hp FROM sh),
       |sig AS (SELECT doc_id,
       |         $minExprs
       |        FROM hashed GROUP BY doc_id)""".stripMargin
  }

  /** CTE chain ending in a `pairs` CTE — shared by the d2 oracle and the
    * d5 clustering oracle (which builds a recursive closure on top).
    */
  def pairsCteSql(corpusSql: String, threshold: Double): String = {
    val bandVals = (0 until Bands).map { b =>
      val cols = (0 until 4).map(r => s"CAST(m${4 * b + r} AS VARCHAR)")
      s"(${cols.mkString(" || ',' || ")})"
    }
    val bandList = bandVals.zipWithIndex
      .map { case (v, i) => s"SELECT doc_id, $i AS b, $v AS band_val FROM sig" }
      .mkString("\n  UNION ALL\n  ")
    val matchSum = (0 until K)
      .map(i => s"CASE WHEN s1.m$i = s2.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""${sigSql(corpusSql)},
       |bands AS (
       |  $bandList),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.band_val = b.band_val
       |  WHERE a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT doc1, doc2,
       |         CAST($matchSum AS DOUBLE) / $K AS est_jaccard
       |  FROM cand JOIN sig s1 ON doc1 = s1.doc_id JOIN sig s2 ON doc2 = s2.doc_id
       |  WHERE CAST($matchSum AS DOUBLE) / $K >= $threshold)""".stripMargin
  }

  private def pairsSql(threshold: Double): String =
    s"""WITH ${pairsCteSql(withDupesSql, threshold)}
       |SELECT doc1, doc2, est_jaccard FROM pairs
       |ORDER BY doc1, doc2""".stripMargin

  /** d14's graded planting over any (doc_id, text) corpus: every 20th
    * doc is copied at four severities (k = 0/4/16/48 leading words
    * replaced with (doc, i)-unique junk; sequence(1, 0) is guarded so
    * the k = 0 class is truly VERBATIM — Spark's default step -1 would
    * otherwise append [1, 0] junk DuckDB's empty generate_series never
    * had), re-id'd at +7e6 + sev·1e6. Returns (planted(doc_id, text,
    * sev), truth(orig, planted, sev, k_replaced)). Shared by the batch
    * recall gate (d14) and its streaming-dedup twin in StreamingSpec —
    * the same instrument graded against each detector.
    */
  /** SQL twin of documents ∪ [[gradedPlanting]]'s planted copies —
    * the graded-severity near-dup corpus. Shared by d14's oracle and
    * d20's (the two evals graded against the same planting).
    */
  val gradedCorpusSql: String =
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 7000000 + sev * 1000000 AS doc_id,
      |         array_to_string(
      |           list_concat(ws[k + 1 : 100000],
      |             list_transform(generate_series(1, k),
      |               i -> 'zz' || CAST(doc_id AS VARCHAR) || 'x' || CAST(i AS VARCHAR))),
      |           ' ') AS text
      |  FROM (SELECT doc_id, ws, sev,
      |               CASE sev WHEN 0 THEN 0 WHEN 1 THEN 4 WHEN 2 THEN 16 ELSE 48 END AS k
      |        FROM (SELECT doc_id, string_split(text, ' ') AS ws,
      |                     unnest([0, 1, 2, 3]) AS sev
      |              FROM documents WHERE doc_id % 20 = 0))""".stripMargin

  def gradedPlanting(docs: DataFrame): (DataFrame, DataFrame) = {
    val seeds = docs.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("sev", explode(array((0 to 3).map(lit): _*)))
      .withColumn("k", when(col("sev") === 0, 0).when(col("sev") === 1, 4)
        .when(col("sev") === 2, 16).otherwise(48))
    val planted = seeds.select(
      (col("doc_id") + 7000000 + col("sev") * 1000000).as("doc_id"),
      array_join(concat(
        expr("slice(ws, k + 1, 100000)"),
        expr("transform(if(k = 0, array(), sequence(1, k))," +
          " i -> concat('zz', CAST(doc_id AS STRING), 'x', CAST(i AS STRING)))")),
        " ").as("text"),
      col("sev"))
    val truth = seeds.select(col("doc_id").as("orig"),
      (col("doc_id") + 7000000 + col("sev") * 1000000).as("planted"),
      col("sev"), col("k").as("k_replaced"))
    (planted, truth)
  }

  val defs: Seq[QueryDef] = Seq(
    // D2: the full MinHash+LSH near-dup pipeline, oracle-checked
    // end-to-end (signatures, banding, bucket join, estimate, threshold).
    QueryDef.sql("d2_minhash_lsh", pairsSql(0.5)) { (s, d) =>
      // signatures come off the materialized signature artifact (shared
      // with d5) — the oracle recomputes from raw text
      nearDupPairsFromSignatures(signaturesArtifact(s, d), 0.5)
    },

    /* D15: incremental near-dup screen — the batch twin of the
     * streaming MinHash screen (StreamNearDup), and the shape an
     * incremental crawl pipeline runs daily: signatures of the NEW
     * batch band-join against the signatures of the ADMITTED corpus;
     * a collision at est ≥ 0.5 is a near-dup with provenance (which
     * stored doc it matched, at what similarity). Fixture: the
     * dupe-injected corpus (d2's), with the planted +1e6 copies as the
     * "incoming batch" and the raw originals as the store — every
     * incoming doc should surface its source at est 1.0 plus any
     * intrinsic near-dups. Scale shape identical to d2: the cross join
     * is banded (cost ∝ bucket collisions between the sides, never
     * |store|·|batch|), signatures compare on candidates only, and the
     * store side reads the materialized signature artifact.
     */
    QueryDef.sql("d15_incremental_neardup", {
      val matchSum = (0 until K)
        .map(i => s"CASE WHEN s1.m$i = s2.m$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      // the full pairs chain rides along for its sig/bands CTEs; the
      // unused cand/pairs CTEs are never materialized by DuckDB
      s"""WITH ${pairsCteSql(withDupesSql, 0.5)},
         |cross_cand AS (
         |  SELECT DISTINCT b.doc_id AS doc_id, a.doc_id AS matched_id
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.band_val = b.band_val
         |  WHERE a.doc_id < 1000000 AND b.doc_id >= 1000000),
         |matches AS (
         |  SELECT c.doc_id, c.matched_id,
         |         CAST($matchSum AS DOUBLE) / $K AS est_jaccard
         |  FROM cross_cand c JOIN sig s1 ON c.doc_id = s1.doc_id
         |                    JOIN sig s2 ON c.matched_id = s2.doc_id
         |  WHERE CAST($matchSum AS DOUBLE) / $K >= 0.5)
         |SELECT doc_id, matched_id, est_jaccard FROM matches
         |ORDER BY doc_id, matched_id""".stripMargin
    }) { (s, d) =>
      val sig = signaturesArtifact(s, d).localCheckpoint()
      crossMatches(
        sig.filter(col("doc_id") < 1000000),
        sig.filter(col("doc_id") >= 1000000), 0.5)
        .orderBy("doc_id", "matched_id")
    },

    /* D14: dedup recall curve — the eval that makes d2's dial (K
     * permutations × band shape × threshold) OPERABLE, exactly as v6
     * does for the ANN index: plant duplicates at four GRADED
     * severities (k = 0/4/16/48 leading words replaced with doc-unique
     * junk), run the full MinHash+LSH pipeline over the mixed corpus,
     * and report per-severity recall against the planted truth. A
     * production pipeline runs this on a sampled corpus after every
     * parameter change — the curve's knee is where the detector stops
     * seeing real rewrites. Truth pairs join the detected pairs on ids
     * only; severity 0 (verbatim) must sit at recall 1, the hardest
     * class must show misses, or the fixture isn't discriminating.
     */
    QueryDef.sql("d14_dedup_recall", {
      val corpusSql = gradedCorpusSql
      s"""WITH corpus AS (
         |  $corpusSql),
         |${pairsCteSql("SELECT doc_id, text FROM corpus", 0.5)},
         |truth AS (
         |  SELECT doc_id AS orig, doc_id + 7000000 + sev * 1000000 AS planted, sev,
         |         CASE sev WHEN 0 THEN 0 WHEN 1 THEN 4 WHEN 2 THEN 16 ELSE 48 END AS k_replaced
         |  FROM (SELECT doc_id, unnest([0, 1, 2, 3]) AS sev
         |        FROM documents WHERE doc_id % 20 = 0))
         |SELECT t.sev, t.k_replaced, COUNT(*) AS n_planted,
         |       CAST(SUM(CASE WHEN p.doc1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
         |       CAST(SUM(CASE WHEN p.doc1 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |         / COUNT(*) AS recall
         |FROM truth t LEFT JOIN pairs p ON p.doc1 = t.orig AND p.doc2 = t.planted
         |GROUP BY t.sev, t.k_replaced ORDER BY t.sev""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val (planted, truth) = gradedPlanting(docs)
      val pairs = nearDupPairs(docs.union(planted.select("doc_id", "text")), 0.5)
      // truth is the bounded planted fixture — broadcast it INTO the
      // pair stream (inner BHJ, BuildLeft) instead of left-outer-joining
      // the pair table onto it, which forced a SortMergeJoin with the
      // pair table riding a full exchange (r17: the query's one SMJ
      // gone; at 100 TB the pair table is corpus-scale state and must
      // stream, the fixture must build). (orig, planted) is unique in
      // truth and pairs is distinct on (doc1, doc2), so the inner join
      // yields at most one row per truth row — n_caught is exact.
      val byCohort = truth.groupBy("sev", "k_replaced")
        .agg(count(lit(1)).as("n_planted"))
      val caught = pairs.join(broadcast(truth),
          truth("orig") === pairs("doc1") && truth("planted") === pairs("doc2"))
        .groupBy("sev", "k_replaced")
        .agg(count(lit(1)).as("n_caught0"))
      byCohort.join(broadcast(caught), Seq("sev", "k_replaced"), "left")
        .select(col("sev"), col("k_replaced"), col("n_planted"),
          coalesce(col("n_caught0"), lit(0L)).as("n_caught"),
          (coalesce(col("n_caught0"), lit(0L)).cast("double") / col("n_planted"))
            .as("recall"))
        .orderBy("sev")
    }
  )
}
