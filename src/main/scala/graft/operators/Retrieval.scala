package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.sources.Tables

/** Text retrieval over the document store: BM25 keyword search and the
  * hybrid keyword+vector fusion (reciprocal rank fusion) that modern RAG
  * serving stacks run — the read path that pairs with VectorOps' IVF-PQ
  * channel (v9/v14). Extensions beyond the reference's §2 inventory
  * (the reference has no search surface), in the same family as the
  * t-/v-series.
  *
  * Score determinism across engines: every per-term BM25 contribution is
  * computed in doubles with a TEXTUALLY IDENTICAL expression on both
  * sides (same IEEE op order ⇒ same bits), then quantized to integer
  * micro-units BEFORE the per-document sum — so the aggregate is exact
  * integer arithmetic and no float summation order can flip a rank.
  * RRF points are integer-divided from the start.
  *
  * 100 TB shape (r1): the corpus is scanned ONCE, narrowly (doc_id +
  * token array); the explode is filtered by the BROADCAST query-term
  * set before the only corpus shuffle (map-side-combined tf groupBy,
  * bounded by matched docs × |query terms|); document length needs no
  * second scan or join — it rides the explode and folds into the same
  * aggregate; df is a window over that bounded frame (not a second
  * aggregation chain, which would re-run the corpus explode). The
  * query-term set and corpus stats are the only joins — both broadcast.
  * r2 adds v9's vector channel (its own scale argument) and a fusion
  * over 2 × queries × k rows — driver-trivial.
  */
object Retrieval {

  /** BM25 (Robertson k1 = 1.2, b = 0.75; Lucene's +1 idf so common
    * terms can't go negative), per-(term, doc) contribution in integer
    * micro-units. Interpolated verbatim into BOTH the Spark plan and
    * the DuckDB oracle — single-sourced so the engines cannot drift.
    * Expects columns: tf, dl, df, n_docs, sum_dl.
    */
  private val contribSql: String =
    "CAST(ROUND(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * " +
      "((CAST(tf AS DOUBLE) * 2.2) / " +
      "(tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))) " +
      "* 1000000, 0) AS BIGINT)"

  /** r15's term-selection weight: the idf factor of [[contribSql]]
    * quantized to integer micro-units on its own, BEFORE the multiply
    * by the seed-document tf — Lucene MoreLikeThis ranks candidate
    * query terms by tf·idf exactly like this. Single-sourced into both
    * engines so the top-5 selection can never drift on a tie.
    * Expects columns: df, n_docs, tf.
    */
  private val mltIdfSql: String =
    "CAST(ROUND(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * 1000000, 0) AS BIGINT)"

  /** The r1 fixture query set: two-to-three-term queries over the
    * testbed vocabulary — a rare term ('dup', df ≈ 5%) to exercise idf
    * separation and an out-of-vocabulary term ('shuffle') to exercise
    * the zero-match path (it simply never joins; BM25's additive form
    * makes that the correct score).
    */
  val fixtureQueries: Seq[(Long, String)] = Seq(
    0L -> "dup", 0L -> "scan",
    1L -> "spark", 1L -> "join", 1L -> "shuffle",
    2L -> "window", 2L -> "order", 2L -> "sort",
    3L -> "customer", 3L -> "table",
    4L -> "fast", 4L -> "slow")

  private def fixtureValuesSql: String =
    fixtureQueries.map { case (q, t) => s"(CAST($q AS BIGINT), '$t')" }
      .mkString(", ")

  /** r17's boolean-clause fixtures over the same vocabulary: role 'm'
    * = MUST (required, scoring), 's' = SHOULD (optional, scoring),
    * 'n' = MUST_NOT (excluding, never scoring) — one query with two
    * MUSTs, one pure-OR query, two queries with exclusions.
    */
  val booleanQueries: Seq[(Long, String, String)] = Seq(
    (0L, "dup", "m"), (0L, "scan", "s"), (0L, "join", "n"),
    (1L, "spark", "m"), (1L, "join", "m"),
    (2L, "window", "s"), (2L, "order", "s"), (2L, "sort", "n"),
    (3L, "customer", "m"), (3L, "table", "s"),
    (4L, "fast", "s"), (4L, "slow", "s"))

  private def booleanValuesSql: String =
    booleanQueries.map { case (q, t, r) => s"(CAST($q AS BIGINT), '$t', '$r')" }
      .mkString(", ")

  /** The default analyzer: lowercase → [a-z]+ token projection — ONE
    * definition shared by the corpus scan, every maintenance op, and
    * (via StreamPostings.RawAnalyzer) the streaming ingest.
    */
  private[graft] val RawAnalyzerSql = "regexp_extract_all(lower(text), '[a-z]+', 0)"

  /** The stemmed analyzer — [[RawAnalyzerSql]] + the S-stem stage. */
  private[graft] def stemmedAnalyzerSql: String =
    s"transform($RawAnalyzerSql, t -> ${stemSql("t")})"

  /** Narrow per-document token projection: ONE corpus scan feeding
    * tokens, document length, and the corpus stats.
    */
  private[graft] def tokenized(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      expr(RawAnalyzerSql).as("toks"))

  /** BM25 scores (query_id, doc_id, score_micro) for an arbitrary
    * (query_id, term) frame. `qterms` must be small (it broadcasts);
    * term multiplicity is deduplicated by the caller if needed. If
    * `qterms` carries a `w` column (BIGINT), each term's contribution
    * is weighted by it — integer micro-units × integer weight stays
    * exact (the r7 query-expansion hook).
    */
  private def bm25Scores(docs: DataFrame, qterms: DataFrame,
                         excludeSelf: Boolean): DataFrame = {
    val contrib =
      if (qterms.columns.contains("w")) expr(s"($contribSql) * w")
      else expr(contribSql)
    val st = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).cast("long").as("sum_dl"))
    val ex = docs.select(col("doc_id"), size(col("toks")).as("dl"),
      explode(col("toks")).as("term"))
    // filter to the broadcast query-term set BEFORE the corpus shuffle;
    // dl rides the explode and folds into the aggregate (no length join)
    val tf = ex.join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    // df as a window over the already-bounded tf frame — NOT a second
    // aggregation chain, which would re-run the corpus explode subtree
    val tf2 = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("term")).cast("long"))
    val scored = tf2.join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(st))
    val filtered =
      if (excludeSelf) scored.filter(col("doc_id") =!= col("query_id"))
      else scored
    filtered
      .withColumn("cm", contrib)
      .groupBy("query_id", "doc_id")
      .agg(sum("cm").cast("long").as("score_micro"))
  }

  /** Raw postings (term, doc_id, tf, dl) for a (doc_id, toks) frame —
    * per-document state only, so it composes under union (the property
    * [[appendPostings]] relies on). One term-exploded map-side-combined
    * groupBy; dl rides the explode.
    */
  private[graft] def rawPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))

  /** Denormalize df onto each posting — a window over the POSTINGS
    * frame (posting-sized work), never a corpus pass.
    */
  private[graft] def withDf(p: DataFrame): DataFrame =
    p.withColumn("df",
      count(lit(1)).over(Window.partitionBy("term")).cast("long"))

  /** Number of term buckets in the stored postings layout. At 100 TB
    * the postings table is itself huge; hash-partitioning it by term
    * (the Lucene segment analogue) lets a query batch prune to its
    * terms' buckets at PLAN time — file-level pruning, before any row
    * is read — with the term IN-filter then pruning row groups inside
    * the surviving buckets.
    */
  final val PostingsBuckets = 64

  /** Bucket of a term: CRC32 over UTF-8 mod [[PostingsBuckets]] —
    * chosen (over Spark's murmur `hash()`) because it is cheaply
    * computable IDENTICALLY engine-side (`crc32`) and driver-side
    * (java.util.zip.CRC32), which is what lets serving turn a literal
    * term list into a literal partition-filter list.
    */
  def termBucket(term: String): Int = {
    val c = new java.util.zip.CRC32()
    val b = term.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    c.update(b, 0, b.length)
    (c.getValue % PostingsBuckets).toInt
  }

  private def bucketCol =
    pmod(crc32(col("term").cast("binary")), lit(PostingsBuckets.toLong)).cast("int")

  /** Write a postings frame in the bucketed-by-term layout: one
    * `bkt=<n>` partition dir per term bucket (repartitioned so each
    * bucket is one file), rows sorted by (term, doc_id) inside each
    * file for row-group locality on the serving IN-filter.
    */
  private def writeBucketed(p: DataFrame, out: String): Unit =
    p.withColumn("bkt", bucketCol)
      .repartition(col("bkt"))
      .sortWithinPartitions("term", "doc_id")
      .write.partitionBy("bkt").parquet(out)

  /** The inverted index as a build-once corpus artifact (the Lucene
    * shape, stored with the codesArtifact discipline): postings
    * (term, doc_id, tf, dl, df) — df denormalized onto each posting at
    * build time so serving needs NO aggregation over the corpus — plus
    * a 1-row stats artifact (n_docs, sum_dl), both keyed on the source
    * fingerprint so a corpus change rebuilds and a rerun reuses.
    * Build cost is r1's chain unfiltered (one tf shuffle + one df
    * window over the postings frame), paid ONCE; every query batch
    * after that reads only its terms' buckets ([[writeBucketed]]).
    */
  def indexArtifact(s: SparkSession, d: String): DataFrame =
    graft.sinks.VersionedStore.corpusArtifact(s, d, "bm25_postings_b64",
        logicKey = RawAnalyzerSql) { out =>
      writeBucketed(withDf(rawPostings(tokenized(s, d))), out)
    }

  /** Incremental index maintenance — the search-engine `add()` for the
    * postings store at `base`: tokenize ONLY the new documents
    * (doc_id, text), union their raw postings with the current store's
    * (tf/dl are per-doc state — untouched by other docs), and refresh
    * df with ONE window over the merged POSTINGS frame before
    * publishing the next version. df is a global statistic — the one
    * thing an append must recompute — and the window is exactly that
    * refresh at posting-sized cost: the existing corpus is never
    * re-tokenized. Append-then-serve therefore equals
    * one-shot-index-then-serve EXACTLY (OpsSpec pins it), unlike
    * engines that serve stale df between segment merges. An empty
    * store bootstraps from the first batch; keepVersions = 2 leaves
    * the pre-append index time-travelable.
    *
    * add() is idempotent per document: a doc_id already indexed is
    * skipped (anti-join against the store's doc_ids), so a replayed or
    * overlapping append cannot duplicate (term, doc_id) postings —
    * which would silently inflate df (the refresh window counts both
    * rows) and double-count tf at serve time. The guard costs one
    * column-pruned pass over the store's doc_id column per append; a
    * production store would keep a doc-catalog sidecar to make it a
    * broadcast. Re-adding a CHANGED document is not an update —
    * [[updatePostings]] is (delete-then-add in one publish).
    *
    * `analyzer` is the store's token projection (default raw; pass
    * [[stemmedAnalyzerSql]] for a stemmed store) — ONE analyzer per
    * store for its whole life: mixing analyzers across maintenance ops
    * silently fragments a term's postings across surface forms, the
    * drift bug the parity specs exist to catch. Callers own that
    * consistency (a production store would persist the analyzer id in
    * the store and refuse a mismatch).
    *
    * SINGLE-WRITER CONTRACT (append/update/delete): each maintenance
    * op reads the current version and publishes its successor; two
    * CONCURRENT maintenance ops would both read the same base and the
    * pointer's last-flip-wins would silently drop the loser's change
    * (VersionedStore's publish contract protects readers and data
    * dirs, not read-modify-write cycles). ENFORCED: every maintenance
    * op runs under `VersionedStore.withMaintenanceLease`, which
    * serializes the read-modify-write cycle (OpsSpec drives two
    * concurrent appends and proves neither is lost) — search engines
    * serialize segment merges for the same reason; the streaming
    * ingest's checkpoint-ownership epoch guard is the streaming twin's
    * serialization. Concurrent READERS stay lock-free and are safe
    * during any maintenance op (OpsSpec pins that too).
    */
  def appendPostings(s: SparkSession, base: String, newDocs: DataFrame,
      analyzer: String = RawAnalyzerSql,
      refreshDict: Boolean = false): DataFrame = {
    val store = graft.sinks.VersionedStore.maintain(s, base) { cur0 =>
      // bkt is layout, not content — dropped here, recomputed by the
      // bucketed write
      val cur = cur0.map(_.drop("df").drop("bkt"))
      val fresh = cur match {
        case Some(c) =>
          newDocs.join(c.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
        case None => newDocs
      }
      val add = rawPostings(fresh.select(col("doc_id"),
        expr(analyzer).as("toks")))
      withDf(cur.map(_.unionByName(add)).getOrElse(add))
    }(writeBucketed)
    // OPT-IN eager dictionary warm (spellcheck/autocomplete
    // deployments): builds the version-keyed dictionary now so the
    // writer pays, not the first query. Freshness never depends on
    // this — [[termDictStore]]'s read-through rebuilds on version
    // mismatch — so a store that never serves r11/r12 skips the cost
    // entirely, and a warm that loses a race with further maintenance
    // (its version retired mid-build) is absorbed: the append itself
    // committed, and the next read rebuilds against whatever version
    // is then current. ONLY that race signature is absorbed — a
    // deterministic dictionary-build bug must fail the call loudly,
    // not silently degrade every append's warm to read-through.
    if (refreshDict)
      try termDictStore(s, base)
      catch {
        case _: java.io.FileNotFoundException => () // version retired mid-build
        case e: org.apache.spark.SparkException
            // Spark wraps the task-side FileNotFound of a pruned
            // version dir; match the wrapped cause, not all failures
            if Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
              .take(8).exists(_.isInstanceOf[java.io.FileNotFoundException]) => ()
      }
    store
  }

  /** Incremental update — delete-then-add in ONE publish: the current
    * store's postings for the updated doc_ids are dropped (anti-join),
    * the new texts' raw postings unioned in, and df refreshed once
    * before the pointer flip — so readers can never observe a doc half
    * replaced or a df counting both texts. This closes
    * [[appendPostings]]' documented non-update gap (append skips
    * already-indexed doc_ids); it is the batch twin of the streaming
    * store's last-writer-wins read. Cost: one column-pruned pass over
    * the store + the posting-sized df window — same shape as an
    * append; the untouched corpus is never re-tokenized.
    */
  def updatePostings(s: SparkSession, base: String, docs: DataFrame,
      analyzer: String = RawAnalyzerSql): DataFrame =
    graft.sinks.VersionedStore.maintain(s, base) { cur =>
      val add = rawPostings(docs.select(col("doc_id"),
        expr(analyzer).as("toks")))
      val kept = cur.map(_.drop("df").drop("bkt")
        .join(docs.select("doc_id").distinct(), Seq("doc_id"), "left_anti"))
      withDf(kept.map(_.unionByName(add)).getOrElse(add))
    }(writeBucketed)

  /** Incremental delete: drop `ids`' postings and refresh df in one
    * publish (df is the one global statistic a delete must recompute —
    * remaining docs' idf RISES when matching docs leave). Same
    * pointer-flip atomicity as update.
    */
  def deletePostings(s: SparkSession, base: String, ids: DataFrame): DataFrame =
    graft.sinks.VersionedStore.maintain(s, base) { cur =>
      val c = cur.getOrElse(throw new java.io.FileNotFoundException(
        s"no published version at $base"))
      withDf(c.drop("df").drop("bkt")
        .join(ids.select("doc_id").distinct(), Seq("doc_id"), "left_anti"))
    }(writeBucketed)

  /** Corpus stats recovered from a postings table (for serving an
    * appended store, whose fingerprint-keyed stats artifact doesn't
    * apply): n_docs + sum of per-doc lengths via one posting-sized
    * groupBy. Note a document with zero tokens has no postings and is
    * invisible here — it can never match a query, but strict-BM25 avgdl
    * would count it; this corpus has none (and the one-shot path's
    * statsArtifact counts from the corpus, pinned equal in OpsSpec).
    */
  def statsFromPostings(p: DataFrame): DataFrame =
    p.groupBy("doc_id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").cast("long").as("sum_dl"))

  /** BM25 serving over a postings + stats pair — r3's body, shared with
    * the appended-store path. `terms` must be the literal query-term
    * list so the IN filter pushes into the postings scan; when the
    * postings carry the bucketed layout's `bkt` column, the same
    * literals also become a partition filter (file-level pruning to
    * the terms' buckets — [[writeBucketed]]). `excludeSelf` drops
    * doc_id == query_id hits for more-like-this queries (r2).
    */
  def serveBm25(postings: DataFrame, stats: DataFrame, qterms: DataFrame,
                terms: Seq[String], k: Int,
                excludeSelf: Boolean = false): DataFrame =
    topK(servedScores(postings, stats, qterms, terms, excludeSelf), k)
      .select("query_id", "rn", "doc_id", "score_micro")
      .orderBy("query_id", "rn")

  /** [[serveBm25]] minus the top-k — the raw (query_id, doc_id,
    * score_micro) frame, for callers that rank differently (r7's
    * feedback pass) or re-weight. Like [[bm25Scores]], a `w` column
    * (BIGINT) on `qterms` weights each term's contribution — integer
    * micro-units × integer weight stays exact, so the indexed weighted
    * pass reproduces the from-scratch one bit-for-bit.
    */
  private def servedScores(postings: DataFrame, stats: DataFrame,
                           qterms: DataFrame, terms: Seq[String],
                           excludeSelf: Boolean): DataFrame = {
    val contrib =
      if (qterms.columns.contains("w")) expr(s"($contribSql) * w")
      else expr(contribSql)
    val pruned =
      if (postings.columns.contains("bkt"))
        postings.filter(col("bkt")
          .isin(terms.map(termBucket).distinct.map(Int.box): _*))
      else postings
    val joined = pruned
      .filter(col("term").isin(terms: _*))
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
    val matched =
      if (excludeSelf) joined.filter(col("doc_id") =!= col("query_id"))
      else joined
    matched
      .withColumn("cm", contrib)
      .groupBy("query_id", "doc_id")
      .agg(sum("cm").cast("long").as("score_micro"))
  }

  /** Positional postings: (term, doc_id, ps) with ps the SORTED token
    * positions of `term` in the doc — the index row general
    * variable-length phrase queries need (r6's bigram shingles serve
    * only the bounded-length hot case). One posexplode + one
    * map-side-combined groupBy; positions are per-document state, so
    * the frame composes under union exactly like [[rawPostings]].
    */
  private[graft] def rawPosPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "term")))
      .groupBy("term", "doc_id")
      .agg(sort_array(collect_list(col("p"))).as("ps"))

  /** The positional index as a build-once bucketed corpus artifact —
    * same layout discipline as [[indexArtifact]] (64 CRC32 term
    * buckets, partition-filter pruning at serve time), Lucene's
    * `.pos` file analogue.
    */
  def posIndexArtifact(s: SparkSession, d: String): DataFrame =
    graft.sinks.VersionedStore.corpusArtifact(s, d, "bm25_pospostings_b64",
        logicKey = RawAnalyzerSql) { out =>
      writeBucketed(rawPosPostings(tokenized(s, d)), out)
    }

  /** Incremental maintenance for the positional store — the same
    * `VersionedStore.maintain` discipline as the BM25 postings and PQ
    * code stores, and SIMPLER than the BM25 append: positions are
    * pure per-document state with NO global statistic to refresh (df
    * lives only in the scoring index), so an append is anti-join
    * guard + union + bucketed rewrite. Append-then-serve equals
    * one-shot-build-then-serve exactly (OpsSpec pins it).
    */
  def appendPosPostings(s: SparkSession, base: String, newDocs: DataFrame,
      analyzer: String = RawAnalyzerSql): DataFrame =
    graft.sinks.VersionedStore.maintain(s, base) { cur0 =>
      val cur = cur0.map(_.drop("bkt"))
      val fresh = cur match {
        case Some(c) =>
          newDocs.join(c.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
        case None => newDocs
      }
      val add = rawPosPostings(fresh.select(col("doc_id"),
        expr(analyzer).as("toks")))
      cur.map(_.unionByName(add)).getOrElse(add)
    }(writeBucketed)

  /** Incremental delete for the positional store — like [[deleteCodes]]'
    * shape: positions are pure per-document state with no global
    * statistic, so a delete is one anti-join + bucketed rewrite in one
    * pointer-flip publish. Completes the positional store's CRUD and
    * gives [[graft.operators.Forget]] its positional leg.
    */
  def deletePosPostings(s: SparkSession, base: String, ids: DataFrame): DataFrame =
    graft.sinks.VersionedStore.maintain(s, base) { cur =>
      cur.getOrElse(throw new java.io.FileNotFoundException(
          s"no published version at $base"))
        .drop("bkt")
        .join(ids.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
    }(writeBucketed)

  def statsArtifact(s: SparkSession, d: String): DataFrame =
    graft.sinks.VersionedStore.corpusArtifact(s, d, "bm25_stats",
        logicKey = RawAnalyzerSql) { out =>
      tokenized(s, d)
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks"))).cast("long").as("sum_dl"))
        .write.parquet(out)
    }

  // ── Term dictionary: the spellcheck/autocomplete serving artifact ──
  //
  // Round-10 served r11/r12 from `indexArtifact.select("term","df")
  // .distinct()` — a posting-sized shuffle on EVERY call, and r11
  // levenshteined the whole vocabulary. The production layout (Lucene's
  // spellchecker index analogue) materializes the dictionary ONCE as
  // its own artifact in two layouts:
  //  - `term_dictionary` (term, df, len), partitioned by first letter
  //    `pb` — autocomplete prunes to its prefixes' partitions at PLAN
  //    time, the same file-level pruning the postings buckets give
  //    BM25 serving;
  //  - `term_dict_grams` (gram, term, df, len), the exploded distinct
  //    character-bigram index, partitioned by CRC32 gram bucket —
  //    spellcheck candidate generation reads only the query's bigrams'
  //    buckets instead of scanning the vocabulary.
  // Both are vocab-bounded DERIVED state of the postings artifact,
  // keyed on the corpus fingerprint ([[corpusArtifact]] discipline);
  // [[termDictStore]] is the maintained-store twin, keyed on the store
  // VERSION so a dictionary served for store version v is exactly
  // [[dictRows]](v) — maintenance can never leave it stale.

  /** Distinct (term, df, len) dictionary rows of a postings frame —
    * df is already denormalized on every posting, so this is a
    * column-pruned projection collapsing to the vocabulary, never a
    * corpus aggregation.
    */
  private[graft] def dictRows(postings: DataFrame): DataFrame =
    postings.select("term", "df").distinct()
      .select(col("term"), col("df"), length(col("term")).as("len"))

  /** First-letter partitioned dictionary layout: a prefix query prunes
    * to its first letters' partitions before any row is read.
    */
  private def writeDictPrefixed(dict: DataFrame, out: String): Unit =
    dict.withColumn("pb", substring(col("term"), 1, 1))
      .repartition(col("pb"))
      .sortWithinPartitions("term")
      .write.partitionBy("pb").parquet(out)

  /** SQL for the distinct character bigrams of a string column. */
  private def bigramsSql(c: String): String =
    s"array_distinct(transform(sequence(1, length($c) - 1), i -> substring($c, i, 2)))"

  /** Driver-side bigrams of a query string — the literal gram list the
    * serving plan turns into bucket + IN pruning, mirroring
    * [[termBucket]]'s engine/driver parity.
    */
  private[graft] def bigramsOf(q: String): Seq[String] =
    q.sliding(2).toSeq.distinct

  /** Gram-bucketed candidate index: one row per (distinct bigram, term),
    * bucketed by CRC32 of the gram mod [[PostingsBuckets]] (the
    * [[writeBucketed]] discipline applied to grams). Terms of length 1
    * have no bigrams and are absent — sound, because the gram path only
    * serves queries of length ≥ [[GramMinQueryLen]], whose distance-2
    * neighborhood starts at length ≥ 4.
    */
  private def writeGramBucketed(g: DataFrame, out: String): Unit =
    g.withColumn("gb",
        pmod(crc32(col("gram").cast("binary")), lit(PostingsBuckets.toLong)).cast("int"))
      .repartition(col("gb"))
      .sortWithinPartitions("gram", "term")
      .write.partitionBy("gb").parquet(out)

  private[graft] def gramRows(dict: DataFrame): DataFrame =
    dict.filter(col("len") >= 2)
      .select(explode(expr(bigramsSql("term"))).as("gram"),
        col("term"), col("df"), col("len"))

  /** Minimum query length at which the bigram index is a SOUND
    * edit-distance-2 prune: by the q-gram lemma (Jokinen–Ukkonen;
    * Gravano et al., VLDB 2001), strings within edit distance k share
    * at least max(|s|,|t|) − n + 1 − k·n n-grams — for n = 2, k = 2
    * that is max-len − 5, positive whenever the query has ≥ 6 chars.
    * Shorter queries take the length-pruned dictionary path instead
    * (|len − qlen| ≤ 2 is necessary for distance ≤ 2, so that prune
    * loses nothing either): both paths are exact, and OpsSpec pins the
    * split serving against the full-scan oracle.
    */
  private[graft] val GramMinQueryLen = 6

  /** The term dictionary as a build-once corpus artifact (first-letter
    * partitioned). Built FROM the postings artifact — serving reads
    * this, never re-aggregates postings (PlanSpec pins it). The
    * logicKey folds in the LAYOUT scheme alongside the analyzer:
    * serving soundness depends on the prefix/gram/bucket layout
    * matching the driver-side pruning, so a scheme change must rebuild,
    * not serve the stale layout.
    */
  def termDictArtifact(s: SparkSession, d: String): DataFrame =
    graft.sinks.VersionedStore.corpusArtifact(s, d, "term_dictionary",
        logicKey = s"$RawAnalyzerSql|prefix1") { out =>
      writeDictPrefixed(dictRows(indexArtifact(s, d)), out)
    }

  /** The bigram candidate index as a build-once corpus artifact
    * (gram-bucketed), derived from [[termDictArtifact]]. logicKey
    * carries the gram definition AND the bucket count — the two pieces
    * of build logic the driver-side pruning must agree with.
    */
  def termGramArtifact(s: SparkSession, d: String): DataFrame =
    graft.sinks.VersionedStore.corpusArtifact(s, d, "term_dict_grams",
        logicKey = s"$RawAnalyzerSql|${bigramsSql("term")}|b$PostingsBuckets") { out =>
      writeGramBucketed(gramRows(termDictArtifact(s, d)), out)
    }

  /** Spellcheck candidate generation over the materialized dictionary
    * artifacts — the SOUND edit-distance-2 prune both serving and the
    * property spec share. Long queries (≥ [[GramMinQueryLen]]) read the
    * gram-bucketed bigram index (bucket + gram IN pruning, exact by the
    * q-gram lemma); short queries read the dictionary under the
    * |len − qlen| ≤ 2 length prune. Returns (qid, mis, term, df)
    * candidate rows — callers apply the exact levenshtein filter.
    */
  private[graft] def spellCandidates(s: SparkSession, d: String,
      queries: Seq[(Int, String)]): DataFrame = {
    import s.implicits._
    val (longQ, shortQ) = queries.partition(_._2.length >= GramMinQueryLen)
    val empty = Seq.empty[(Int, String, String, Long)]
      .toDF("qid", "mis", "term", "df")
    val longCand = if (longQ.isEmpty) empty else {
      val qgrams = longQ.flatMap { case (qid, m) =>
        bigramsOf(m).map(g => (qid, m, g)) }
      termGramArtifact(s, d)
        .filter(col("gb").isin(
          qgrams.map(t => termBucket(t._3)).distinct.map(Int.box): _*))
        .filter(col("gram").isin(qgrams.map(_._3).distinct: _*))
        .join(broadcast(qgrams.toDF("qid", "mis", "gram")), Seq("gram"))
        .select("qid", "mis", "term", "df").distinct()
    }
    val shortCand = if (shortQ.isEmpty) empty else {
      val maxShortLen = shortQ.map(_._2.length).max + 2
      termDictArtifact(s, d)
        .filter(col("len") <= maxShortLen)
        .crossJoin(broadcast(shortQ.toDF("qid", "mis")))
        .filter(abs(col("len") - length(col("mis"))) <= 2)
        .select("qid", "mis", "term", "df")
    }
    longCand.unionByName(shortCand)
  }

  /** The dictionary of a MAINTAINED postings store at `base`: derived
    * state cached at `base + "_dict"`, keyed on the store's current
    * VERSION id — a maintenance op publishes a new version, so the next
    * dictionary read rebuilds from exactly that version ([[readOrBuild]]
    * read-through; [[appendPostings]]' opt-in `refreshDict` warms it
    * eagerly after the append so the cost lands on the writer, not the
    * first spellcheck). Consistency is by construction: a dictionary
    * served under version key v is [[dictRows]] of version v, and
    * OpsSpec pins dictionary-after-append == dictionary-from-scratch.
    */
  def termDictStore(s: SparkSession, base: String): DataFrame = {
    val ptr = graft.sinks.VersionedStore.readPointer(s, base)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no published postings version at $base"))
    graft.sinks.VersionedStore.readOrBuild(s, base + "_dict", ptr.version) { out =>
      writeDictPrefixed(
        dictRows(graft.sinks.VersionedStore.readVersion(s, base, ptr.version)), out)
    }
  }

  private def topK(scores: DataFrame, k: Int): DataFrame =
    scores
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score_micro").desc, col("doc_id").asc)))
      .filter(col("rn") <= k)

  /** Oracle-side BM25 CTE chain over a bound `q(query_id, term)` CTE and
    * the shared `dd(doc_id, toks)` projection; yields `agg(query_id,
    * doc_id, score_micro)`. Textually mirrors [[bm25Scores]].
    */
  private def bm25ChainSql(excludeSelf: Boolean): String = {
    val selfFilter = if (excludeSelf) " WHERE tf2.doc_id <> q.query_id" else ""
    s"""st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS sum_dl FROM dd),
       |ex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM dd),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM ex
       |       WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
       |tf2 AS (SELECT doc_id, term, tf, dl,
       |               CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df FROM tf),
       |bsc AS (SELECT q.query_id, tf2.doc_id, $contribSql AS cm
       |        FROM tf2 JOIN q USING (term) CROSS JOIN st$selfFilter),
       |agg AS (SELECT query_id, doc_id, CAST(SUM(cm) AS BIGINT) AS score_micro
       |        FROM bsc GROUP BY 1, 2)""".stripMargin
  }

  /** r1's oracle — shared VERBATIM with r3: the stored index is derived
    * state, so the indexed serving path answers to the same SQL truth.
    */
  private def r1OracleSql: String =
    s"""WITH q(query_id, term) AS (SELECT * FROM (VALUES $fixtureValuesSql)),
       |dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
       |${bm25ChainSql(excludeSelf = false)},
       |ranked AS (SELECT query_id, doc_id, score_micro,
       |                  row_number() OVER (PARTITION BY query_id
       |                                     ORDER BY score_micro DESC, doc_id) AS rn
       |           FROM agg)
       |SELECT query_id, rn, doc_id, score_micro FROM ranked WHERE rn <= 10
       |ORDER BY query_id, rn""".stripMargin

  /** Harman (1991) S-stemmer over a term expression — the minimal
    * plural conflation every analyzer chain carries (lowercase →
    * tokenize → stem), as ONE CASE expression in the Java∩RE2-safe
    * LIKE subset (no lookbehind), interpolated VERBATIM into both
    * engines so stemmed tokens can never drift. Rule order matters:
    * ies→y (unless eies/aies), then es→e (unless aes/ees/oes), then
    * s→∅ (unless us/ss).
    */
  // The length(c) > 1 guard on the bare-s rule keeps a lone 's' token
  // unchanged: without it, 's' stems to the EMPTY string — which is the
  // streaming postings store's tombstone sentinel (StreamPostings), so
  // a stemmed streaming store would silently drop that token's
  // postings as delete markers. Harman's S-stemmer applies no rule to
  // 1-char words either.
  private[graft] def stemSql(c: String): String =
    s"""CASE WHEN $c LIKE '%ies' AND $c NOT LIKE '%eies' AND $c NOT LIKE '%aies'
       |     THEN substr($c, 1, length($c) - 3) || 'y'
       |     WHEN $c LIKE '%es' AND $c NOT LIKE '%aes' AND $c NOT LIKE '%ees' AND $c NOT LIKE '%oes'
       |     THEN substr($c, 1, length($c) - 1)
       |     WHEN $c LIKE '%s' AND $c NOT LIKE '%us' AND $c NOT LIKE '%ss' AND length($c) > 1
       |     THEN substr($c, 1, length($c) - 1)
       |     ELSE $c END""".stripMargin

  /** Driver-side twin of [[stemSql]] — what turns a literal query-term
    * list into the literal STEMMED list the indexed read path prunes
    * by (bucket partition filter + term IN filter are computed from
    * literals at plan time, so the driver must stem identically to the
    * engines). RetrievalSpec pins rule-for-rule parity against
    * [[stemSql]] evaluated in Spark, including every NOT-LIKE guard.
    */
  private[graft] def stemScala(t: String): String =
    if (t.endsWith("ies") && !t.endsWith("eies") && !t.endsWith("aies"))
      t.dropRight(3) + "y"
    else if (t.endsWith("es") && !t.endsWith("aes") && !t.endsWith("ees") &&
      !t.endsWith("oes")) t.dropRight(1)
    else if (t.endsWith("s") && !t.endsWith("us") && !t.endsWith("ss") &&
      t.length > 1) t.dropRight(1)
    else t

  /** r9's eval corpus with the STEMMED analyzer chain applied:
    * documents plus the planted pluralized copies (every 25th doc,
    * each word + 's', at doc_id + 2e7 — deterministic derived state of
    * the corpus, so it keys off the same fingerprint), tokenized
    * lowercase → [a-z]+ → S-stem. Shared by the index/stats artifact
    * builds and the from-scratch parity path — ONE definition of the
    * analyzer, because build-time/query-time analyzer drift is the
    * classic search-engine bug (RetrievalSpec pins indexed ==
    * from-scratch row-for-row).
    */
  private[graft] def stemmedAug(s: SparkSession, d: String): DataFrame = {
    val docs0 = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val planted = docs0.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit("s"))), " ").as("text"))
    docs0.union(planted)
      .select(col("doc_id"), expr(stemmedAnalyzerSql).as("toks"))
  }

  /** The stemmed-analyzer inverted index as a bucketed corpus artifact
    * — [[indexArtifact]]'s discipline with the S-stem stage folded
    * into the build-time analyzer, so r9 serves from postings instead
    * of rescoring the corpus (the same upgrade r2/r3 gave r1's math).
    */
  def stemmedIndexArtifact(s: SparkSession, d: String): DataFrame =
    graft.sinks.VersionedStore.corpusArtifact(s, d, "bm25_stemmed_postings_b64",
        logicKey = stemmedAnalyzerSql) { out =>
      writeBucketed(withDf(rawPostings(stemmedAug(s, d))), out)
    }

  def stemmedStatsArtifact(s: SparkSession, d: String): DataFrame =
    graft.sinks.VersionedStore.corpusArtifact(s, d, "bm25_stemmed_stats",
        logicKey = stemmedAnalyzerSql) { out =>
      stemmedAug(s, d)
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks"))).cast("long").as("sum_dl"))
        .write.parquet(out)
    }

  /** r9's from-scratch twin — rescore the stemmed corpus directly,
    * bypassing the stored index. Not registered as a query; kept for
    * RetrievalSpec's analyzer-parity pin (indexed serving must equal
    * this row-for-row, else build-time and query-time analyzers have
    * drifted).
    */
  private[graft] def r9FromScratch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stemmedQ = fixtureQueries.map { case (q, t) => (q, stemScala(t)) }
    topK(bm25Scores(stemmedAug(s, d), stemmedQ.toDF("query_id", "term"),
        excludeSelf = false), 10)
      .select("query_id", "rn", "doc_id", "score_micro")
      .orderBy("query_id", "rn")
  }

  /** The graded text planting, oracle side (MinHash.gradedPlanting's
    * SQL twin, shared by r4/r5): copies of every 20th doc at four
    * severities (0/4/16/48 leading words junked), planted at
    * doc_id + 7e6 + sev·1e6.
    */
  private val gradedCorpusSql: String =
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

  /** One DCG term — gain discounted by log2(rank + 1) — computed in
    * doubles with this TEXTUALLY IDENTICAL expression in both engines
    * and quantized to integer micro-units BEFORE any sum (the
    * contribSql determinism discipline applied to eval metrics).
    */
  private def dcgTermSql(g: String, rank: String): String =
    s"CAST(ROUND(1000000 * (CAST($g AS DOUBLE) / " +
      s"(ln(CAST($rank + 1 AS DOUBLE)) / ln(2.0))), 0) AS BIGINT)"

  /** The graded-planting BM25 ranking as a corpus artifact, shared by
    * the two recall dials (r4 grades BM25 alone, r5 grades the hybrid
    * fusion against the SAME truth): the full ranking (query_id,
    * cand_id, rn) of every matched candidate, with the per-query
    * candidate count denormalized on each row (n_cands — what turns a
    * rank into rank_ppm). The planting is deterministic derived state
    * of `documents` (MinHash.gradedPlanting), so the artifact keys off
    * the corpus fingerprint and ONE build serves both evals —
    * previously each re-planted the corpus and re-ran the BM25 chain
    * independently (the round-9 verdict's duplicated-planting flag).
    */
  private[graft] def gradedRankingArtifact(s: SparkSession, d: String): DataFrame =
    graft.sinks.VersionedStore.corpusArtifact(s, d, "graded_bm25_ranking",
        logicKey = RawAnalyzerSql + contribSql) { out =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val (planted, _) = MinHash.gradedPlanting(docs)
      val aug = docs.union(planted.select("doc_id", "text"))
        .select(col("doc_id"),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("toks"))
      val qterms = aug
        .filter(col("doc_id") % 20 === 0 && col("doc_id") < 200)
        .select(col("doc_id").as("query_id"), col("toks"),
          explode(expr("sequence(1, least(size(toks), 57))")).as("i"))
        .filter((col("i") - 1) % 4 === 0)
        .select(col("query_id"), expr("element_at(toks, i)").as("term"))
        .distinct()
      bm25Scores(aug, qterms, excludeSelf = true)
        .withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("score_micro").desc, col("doc_id").asc)))
        .withColumn("n_cands",
          count(lit(1)).over(Window.partitionBy("query_id")).cast("long"))
        .select(col("query_id"), col("doc_id").as("cand_id"),
          col("rn"), col("n_cands"))
        .write.parquet(out)
    }

  val defs: Seq[QueryDef] = Seq(

    // R1: BM25 top-k keyword retrieval — the Lucene/Elasticsearch
    // scoring function as one declarative plan. See the object scaladoc
    // for the 100 TB shape (one narrow corpus scan, one bounded
    // map-side-combined shuffle, broadcast-only joins) and the
    // integer-microunit determinism discipline.
    QueryDef.sql("r1_bm25", r1OracleSql) { (s, d) =>
      import s.implicits._
      val qterms = fixtureQueries.toDF("query_id", "term")
      topK(bm25Scores(tokenized(s, d), qterms, excludeSelf = false), 10)
        .select("query_id", "rn", "doc_id", "score_micro")
        .orderBy("query_id", "rn")
    },

    // R2: hybrid retrieval — reciprocal rank fusion (Cormack et al.
    // 2009) of a BM25 more-like-this channel (query = the first three
    // tokens of each query document) with v9's IVF-PQ vector channel,
    // over the SAME query ids (vec_id ↔ doc_id). Each channel
    // contributes floor(1e9 / (60 + rank)) points from its top-20;
    // integer division from the start keeps the fusion exact in both
    // engines. n_channels says whether keyword and vector evidence
    // agreed — the signal hybrid search exists to surface.
    // 100 TB shape: each channel carries its own scale argument — the
    // keyword channel serves from the STORED index (r3's production
    // read path: bucket-pruned, IN-pushed postings scan, no corpus
    // aggregation; rebuilding BM25 from the raw corpus here cost ~5×
    // the whole query) and the vector channel is v9's broadcast-probed
    // map-only ADC; the fusion itself touches only 2 × queries × 20
    // rows. The more-like-this term set (10 docs × ≤3 tokens) is
    // collected to literals — bounded driver state, and what lets the
    // postings scan prune at plan time.
    QueryDef.sql("r2_hybrid_rrf",
      s"""WITH dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
         |q AS (SELECT DISTINCT doc_id AS query_id, unnest(toks[1:3]) AS term
         |      FROM dd WHERE doc_id < 10),
         |${bm25ChainSql(excludeSelf = true)},
         |kr AS (SELECT query_id, doc_id AS cand_id,
         |              row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY score_micro DESC, doc_id) AS rn
         |       FROM agg),
         |${VectorOps.v9ChainSql},
         |uni AS (SELECT query_id, cand_id, rn FROM kr WHERE rn <= 20
         |        UNION ALL
         |        SELECT query_id, cand_id, rn FROM ranked2 WHERE rn <= 20),
         |fused AS (SELECT query_id, cand_id,
         |                 CAST(SUM(1000000000 // (60 + rn)) AS BIGINT) AS rrf_scaled,
         |                 COUNT(*) AS n_channels
         |          FROM uni GROUP BY 1, 2),
         |fr AS (SELECT query_id, cand_id, rrf_scaled, n_channels,
         |              row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY rrf_scaled DESC, cand_id) AS rn
         |       FROM fused)
         |SELECT query_id, rn, cand_id, rrf_scaled, n_channels FROM fr WHERE rn <= 10
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val mqRows = tokenized(s, d).filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"),
          explode(slice(col("toks"), 1, 3)).as("term"))
        .distinct()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      // both channels unsorted: the fusion aggregate drops their order
      val kw = topK(servedScores(indexArtifact(s, d), statsArtifact(s, d),
          mqRows.toDF("query_id", "term"), mqRows.map(_._2).distinct, excludeSelf = true), 20)
        .select(col("query_id"), col("doc_id").as("cand_id"), col("rn"))
      val vec = VectorOps.v9Ranked(s, d, 20)
        .select("query_id", "cand_id", "rn")
      kw.union(vec)
        .groupBy("query_id", "cand_id")
        .agg(sum(expr("1000000000 div (60 + rn)")).cast("long").as("rrf_scaled"),
          count(lit(1)).as("n_channels"))
        .withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("rrf_scaled").desc, col("cand_id").asc)))
        .filter(col("rn") <= 10)
        .select("query_id", "rn", "cand_id", "rrf_scaled", "n_channels")
        .orderBy("query_id", "rn")
    },

    // R3: BM25 served from the STORED inverted index — r1's math over
    // [[indexArtifact]]/[[statsArtifact]] instead of the raw corpus,
    // the search-engine architecture (build the index once, serve every
    // query batch from postings). The oracle is r1's SQL VERBATIM: the
    // index is derived state, so indexed serving must reproduce the
    // from-scratch ranking bit-for-bit (and OpsSpec pins r3 == r1 row
    // by row). Serving does NO corpus aggregation — tf/dl/df are
    // precomputed on the postings, the literal query-term IN filter
    // pushes into the postings parquet scan (PlanSpec-pinned), and the
    // only shuffles are the bounded score agg + top-k window. At
    // 100 TB this reads |matched postings| rows, not the corpus.
    QueryDef.sql("r3_bm25_indexed", r1OracleSql) { (s, d) =>
      import s.implicits._
      serveBm25(indexArtifact(s, d), statsArtifact(s, d),
        fixtureQueries.toDF("query_id", "term"),
        fixtureQueries.map(_._2).distinct, 10)
    },

    // R4: retrieval recall dial — d14's graded-severity instrument
    // pointed at BM25 (the eval loop v6/v11 close for ANN and d14 for
    // dedup): copies of 10 query docs are planted at four severities
    // (0/4/16/48 leading words junked — MinHash.gradedPlanting, the
    // SAME planting d14 grades MinHash against), each query doc asks a
    // long more-like-this query (every 4th token up to position 57 —
    // with a 31-word common vocabulary, only a long term set can pin a
    // specific document). Two metrics per severity:
    //  - n_hit_top10 — the absolute serving metric. On this
    //    common-word corpus it decays with corpus size (the top-10
    //    fills with coincidentally-high-tf docs), which is itself the
    //    honest finding: lexical retrieval saturates on a tiny
    //    vocabulary, the gap the r2 hybrid's vector channel covers.
    //  - median_rank_ppm — the planted copy's rank as a fraction of
    //    all matched candidates (1e6 = matched nothing). Fraction-of-
    //    corpus is scale-comparable, so the severity dial stays
    //    readable at every SF even when the top-10 is swamped.
    // 100 TB shape: the ranking is built ONCE as a fingerprint-keyed
    // artifact ([[gradedRankingArtifact]] — r1's chain over the 1.08×
    // augmented corpus) and SHARED with r5's fusion dial; this query's
    // own work is a 40-truth-row join + rollup against it.
    QueryDef.sql("r4_retrieval_recall", {
      val corpusSql = gradedCorpusSql
      s"""WITH corpus AS (
         |  $corpusSql),
         |dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM corpus),
         |q AS (SELECT DISTINCT doc_id AS query_id, toks[i] AS term
         |      FROM (SELECT doc_id, toks,
         |                   unnest(generate_series(1, least(len(toks), 57))) AS i
         |            FROM dd WHERE doc_id % 20 = 0 AND doc_id < 200)
         |      WHERE (i - 1) % 4 = 0),
         |${bm25ChainSql(excludeSelf = true)},
         |ranked AS (SELECT query_id, doc_id,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY score_micro DESC, doc_id) AS rn
         |           FROM agg),
         |ncand AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_cands FROM agg GROUP BY 1),
         |truth AS (SELECT doc_id AS query_id,
         |                 doc_id + 7000000 + sev * 1000000 AS planted, sev
         |          FROM (SELECT doc_id, unnest([0, 1, 2, 3]) AS sev
         |                FROM documents WHERE doc_id % 20 = 0 AND doc_id < 200)),
         |rk AS (SELECT t.sev,
         |              CASE WHEN r.rn IS NOT NULL AND r.rn <= 10 THEN 1 ELSE 0 END AS hit,
         |              COALESCE(CAST((1000000 * CAST(r.rn AS BIGINT)) // n.n_cands AS BIGINT),
         |                       1000000) AS rank_ppm
         |       FROM truth t
         |       LEFT JOIN ranked r ON r.query_id = t.query_id AND r.doc_id = t.planted
         |       LEFT JOIN ncand n ON n.query_id = t.query_id)
         |SELECT sev, COUNT(*) AS n_queries, CAST(SUM(hit) AS BIGINT) AS n_hit_top10,
         |       round(median(rank_ppm), 1) AS median_rank_ppm
         |FROM rk GROUP BY sev ORDER BY sev""".stripMargin
    }) { (s, d) =>
      // ranking + candidate counts come from the SHARED artifact (one
      // planting + one BM25 chain, reused by r5); this body touches
      // only 40 truth rows against it. n_cands rides the ranking row,
      // so a missed join leaves it null alongside rn and the COALESCE
      // still lands on the matched-nothing sentinel.
      val ranked = gradedRankingArtifact(s, d)
        .select(col("query_id").as("hit_query"), col("cand_id").as("hit_id"),
          col("rn"), col("n_cands"))
      val truth = Tables.documents(s, d)
        .filter(col("doc_id") % 20 === 0 && col("doc_id") < 200)
        .select(col("doc_id"), explode(array((0 to 3).map(lit): _*)).as("sev"))
        .select(col("doc_id").as("query_id"),
          (col("doc_id") + 7000000 + col("sev") * 1000000).as("planted"), col("sev"))
      truth
        .join(ranked,
          col("query_id") === col("hit_query") && col("hit_id") === col("planted"), "left")
        .select(col("sev"),
          when(col("rn").isNotNull && col("rn") <= 10, 1).otherwise(0).as("hit"),
          coalesce(
            expr("CAST((1000000 * CAST(rn AS BIGINT)) div n_cands AS BIGINT)"),
            lit(1000000L)).as("rank_ppm"))
        .groupBy("sev")
        .agg(count(lit(1)).as("n_queries"),
          sum("hit").cast("long").as("n_hit_top10"),
          round(expr("percentile(rank_ppm, 0.5)"), 1).as("median_rank_ppm"))
        .orderBy("sev")
    },

    // R6: phrase search — the positional-match capability every search
    // engine pairs with BM25, in its bounded-phrase-length
    // specialization: adjacency is materialized as bigram shingles
    // (Lucene's shingle-field optimization for common phrases), so a
    // phrase query is an EXACT match on the shingle term and the whole
    // plan is r1's shape — one narrow corpus scan, a MAP-ONLY bigram
    // generate (no positions join, no self-join on pos+1), the
    // broadcast phrase filter BEFORE the only corpus shuffle
    // (map-side-combined per-(query, doc) match count), top-k window.
    // General variable-length phrases at scale take positional postings
    // (the same bucketed-artifact discipline, positions as an int
    // array column); the shingle path shown here is what serves the
    // hot bounded-length case without them. Queries: each query doc's
    // leading bigram (its own doc guarantees >= 1 match) plus a
    // fabricated never-matching phrase exercising the zero-match path
    // (additive semantics: it simply never joins, r1's discipline).
    QueryDef.sql("r6_phrase_search",
      s"""WITH dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
         |bg AS (SELECT doc_id, a[i] || ' ' || a[i + 1] AS bigram
         |       FROM (SELECT doc_id, toks AS a,
         |                    unnest(generate_series(1, len(toks) - 1)) AS i
         |             FROM dd WHERE len(toks) >= 2)),
         |q AS (SELECT doc_id AS query_id, toks[1] || ' ' || toks[2] AS phrase
         |      FROM dd WHERE doc_id < 10 AND len(toks) >= 2
         |      UNION ALL SELECT 10, 'zzqq zzrr'),
         |m AS (SELECT q.query_id, bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
         |      FROM bg JOIN q ON bg.bigram = q.phrase GROUP BY 1, 2),
         |ranked AS (SELECT query_id, doc_id, n_matches,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY n_matches DESC, doc_id) AS rn
         |           FROM m)
         |SELECT query_id, rn, doc_id, n_matches FROM ranked WHERE rn <= 10
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = tokenized(s, d)
      // phrase fixtures: bounded (10 rows) — collected so the shingle
      // filter broadcasts literals (r1's query-set discipline)
      val qRows = docs.filter(col("doc_id") < 10 && size(col("toks")) >= 2)
        .select(col("doc_id"),
          concat(expr("element_at(toks, 1)"), lit(" "),
            expr("element_at(toks, 2)")).as("phrase"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq :+ ((10L, "zzqq zzrr"))
      val q = qRows.toDF("query_id", "phrase")
      val bg = docs.filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          explode(expr(
            "transform(sequence(1, size(toks) - 1), i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
            .as("bigram"))
      val m = bg.join(broadcast(q), col("bigram") === col("phrase"))
        .groupBy("query_id", "doc_id")
        .agg(count(lit(1)).cast("long").as("n_matches"))
      m.withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("n_matches").desc, col("doc_id").asc)))
        .filter(col("rn") <= 10)
        .select("query_id", "rn", "doc_id", "n_matches")
        .orderBy("query_id", "rn")
    },

    // R8: variable-length phrase search served from the STORED
    // positional index — the general path r6's shingles specialize
    // (Lucene's .pos file + positional merge): each phrase term's
    // postings row carries its sorted position list; a doc matches
    // where positions intersect at consecutive offsets, computed with
    // a higher-order filter over the position arrays (codegen'd, no
    // position explode). Serving reads ONLY the phrase terms' buckets
    // (partition filter) and rows (IN filter); the per-term posting
    // frames then merge on doc_id — joins bounded by matched postings,
    // the positional-merge cost every search engine pays for phrases.
    // Fixtures: each query doc's leading trigram (own doc guarantees a
    // hit) + a fabricated zero-match phrase. The oracle recomputes
    // from the raw corpus — the index is derived state, so indexed
    // phrase serving must reproduce it exactly (r3's discipline).
    QueryDef.sql("r8_phrase_indexed",
      s"""WITH dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
         |pp AS (SELECT term, doc_id, list_sort(list(p)) AS ps
         |       FROM (SELECT doc_id, unnest(toks) AS term,
         |                    generate_subscripts(toks, 1) - 1 AS p FROM dd)
         |       GROUP BY 1, 2),
         |q AS (SELECT doc_id AS query_id, toks[1] AS t1, toks[2] AS t2, toks[3] AS t3
         |      FROM dd WHERE doc_id < 10 AND len(toks) >= 3
         |      UNION ALL SELECT 10, 'zzqq', 'zzrr', 'zzss'),
         |m AS (SELECT q.query_id, a.doc_id,
         |             CAST(len(list_filter(a.ps,
         |                    p -> list_contains(b.ps, p + 1) AND list_contains(c.ps, p + 2)))
         |                  AS BIGINT) AS n_matches
         |      FROM q
         |      JOIN pp a ON a.term = q.t1
         |      JOIN pp b ON b.doc_id = a.doc_id AND b.term = q.t2
         |      JOIN pp c ON c.doc_id = a.doc_id AND c.term = q.t3),
         |ranked AS (SELECT query_id, doc_id, n_matches,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY n_matches DESC, doc_id) AS rn
         |           FROM m WHERE n_matches > 0)
         |SELECT query_id, rn, doc_id, n_matches FROM ranked WHERE rn <= 10
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = tokenized(s, d)
      val qRows = docs.filter(col("doc_id") < 10 && size(col("toks")) >= 3)
        .select(col("doc_id"), expr("element_at(toks, 1)").as("t1"),
          expr("element_at(toks, 2)").as("t2"), expr("element_at(toks, 3)").as("t3"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
        .toSeq :+ ((10L, "zzqq", "zzrr", "zzss"))
      val q = qRows.toDF("query_id", "t1", "t2", "t3")
      val terms = qRows.flatMap(r => Seq(r._2, r._3, r._4)).distinct
      val idx = posIndexArtifact(s, d)
        .filter(col("bkt").isin(terms.map(termBucket).distinct.map(Int.box): _*))
        .filter(col("term").isin(terms: _*))
      val a = idx.select(col("term").as("t1"), col("doc_id"), col("ps").as("ps1"))
      val b = idx.select(col("term").as("bt"), col("doc_id").as("d2"), col("ps").as("ps2"))
      val c = idx.select(col("term").as("ct"), col("doc_id").as("d3"), col("ps").as("ps3"))
      broadcast(q).join(a, Seq("t1"))
        .join(b, col("doc_id") === col("d2") && col("t2") === col("bt"))
        .join(c, col("doc_id") === col("d3") && col("t3") === col("ct"))
        .withColumn("n_matches", expr(
          "CAST(size(filter(ps1, p -> array_contains(ps2, p + 1) AND array_contains(ps3, p + 2))) AS BIGINT)"))
        .filter(col("n_matches") > 0)
        .withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("n_matches").desc, col("doc_id").asc)))
        .filter(col("rn") <= 10)
        .select("query_id", "rn", "doc_id", "n_matches")
        .orderBy("query_id", "rn")
    },

    // R22: proximity search (NEAR/5) — the Lucene SpanNearQuery
    // (slop, unordered) surface between r1's bag-of-words and r8's
    // exact phrase: two terms match a document where they occur
    // within 5 positions of each other IN ANY ORDER. Served from the
    // SAME stored positional index as r8 (bucket partition filter +
    // term IN filter — Lucene's .pos file read), postings merged on
    // doc_id, and the proximity count is a nested higher-order
    // filter/exists over the two sorted position arrays (codegen'd,
    // no position explode). Score = anchor positions of t1 with a t2
    // neighbor in the window — counting anchors, not pairs, keeps a
    // dense local cluster from quadratic-inflating the score.
    // Fixtures: each query doc's 1st and 4th tokens (distance 3 in
    // its own doc — a guaranteed NEAR hit that exact phrase adjacency
    // provably MISSES, which OpsSpec pins) + a zero-match pair.
    QueryDef.sql("r22_proximity",
      s"""WITH dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
         |pp AS (SELECT term, doc_id, list_sort(list(p)) AS ps
         |       FROM (SELECT doc_id, unnest(toks) AS term,
         |                    generate_subscripts(toks, 1) - 1 AS p FROM dd)
         |       GROUP BY 1, 2),
         |q AS (SELECT doc_id AS query_id, toks[1] AS t1, toks[4] AS t2
         |      FROM dd WHERE doc_id < 10 AND len(toks) >= 4
         |      UNION ALL SELECT 10, 'zzqq', 'zzrr'),
         |m AS (SELECT q.query_id, a.doc_id,
         |             CAST(len(list_filter(a.ps,
         |                    p -> len(list_filter(b.ps,
         |                           q2 -> abs(q2 - p) <= 5 AND q2 <> p)) > 0))
         |                  AS BIGINT) AS n_matches
         |      FROM q
         |      JOIN pp a ON a.term = q.t1
         |      JOIN pp b ON b.doc_id = a.doc_id AND b.term = q.t2),
         |ranked AS (SELECT query_id, doc_id, n_matches,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY n_matches DESC, doc_id) AS rn
         |           FROM m WHERE n_matches > 0)
         |SELECT query_id, rn, doc_id, n_matches FROM ranked WHERE rn <= 10
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = tokenized(s, d)
      val qRows = docs.filter(col("doc_id") < 10 && size(col("toks")) >= 4)
        .select(col("doc_id"), expr("element_at(toks, 1)").as("t1"),
          expr("element_at(toks, 4)").as("t2"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSeq :+ ((10L, "zzqq", "zzrr"))
      val q = qRows.toDF("query_id", "t1", "t2")
      val terms = qRows.flatMap(r => Seq(r._2, r._3)).distinct
      val idx = posIndexArtifact(s, d)
        .filter(col("bkt").isin(terms.map(termBucket).distinct.map(Int.box): _*))
        .filter(col("term").isin(terms: _*))
      val a = idx.select(col("term").as("t1"), col("doc_id"), col("ps").as("ps1"))
      val b = idx.select(col("term").as("bt"), col("doc_id").as("d2"), col("ps").as("ps2"))
      broadcast(q).join(a, Seq("t1"))
        .join(b, col("doc_id") === col("d2") && col("t2") === col("bt"))
        .withColumn("n_matches", expr(
          "CAST(size(filter(ps1, p -> exists(ps2, q2 -> abs(q2 - p) <= 5 AND q2 != p))) AS BIGINT)"))
        .filter(col("n_matches") > 0)
        .withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("n_matches").desc, col("doc_id").asc)))
        .filter(col("rn") <= 10)
        .select("query_id", "rn", "doc_id", "n_matches")
        .orderBy("query_id", "rn")
    },

    // R7: pseudo-relevance-feedback query expansion (Rocchio 1971 /
    // the RM3 shape): pass 1 ranks each query and takes its top-5 as
    // feedback docs; the 3 most frequent terms across them (raw tf,
    // the query's own terms anti-joined out, tie term asc) expand the
    // query at weight 1 alongside the originals at weight 2; pass 2
    // rescores with the weighted union. Integer weights × integer
    // micro-unit contributions keep pass-2 ranks exact in both
    // engines. BOTH scoring passes serve from the STORED bucketed
    // index (r3's read path — bucket partition filter + term IN
    // filter, no corpus aggregation); the oracle recomputes from the
    // raw corpus, so indexed two-pass serving must reproduce the
    // from-scratch expansion exactly. The one raw-corpus read left is
    // the feedback term count — it needs whole documents' token
    // streams (raw tf over full text), which a by-TERM-bucketed
    // postings layout cannot serve without scanning every bucket — and
    // it is pruned by the LITERAL 5-doc × query id list (parquet
    // row-group pruning). At 100 TB: two posting-bounded index reads +
    // one literal-pruned corpus read of ≤ queries × 5 documents.
    QueryDef.sql("r7_prf_expansion",
      s"""WITH q(query_id, term) AS (SELECT * FROM (VALUES $fixtureValuesSql)),
         |dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
         |${bm25ChainSql(excludeSelf = false)},
         |fb AS (SELECT query_id, doc_id FROM (
         |         SELECT query_id, doc_id,
         |                row_number() OVER (PARTITION BY query_id
         |                                   ORDER BY score_micro DESC, doc_id) AS rn
         |         FROM agg) WHERE rn <= 5),
         |expc AS (SELECT f.query_id, e.term, CAST(COUNT(*) AS BIGINT) AS cnt
         |         FROM fb f JOIN (SELECT doc_id, unnest(toks) AS term FROM dd) e
         |           ON e.doc_id = f.doc_id
         |         WHERE NOT EXISTS (SELECT 1 FROM q
         |                           WHERE q.query_id = f.query_id AND q.term = e.term)
         |         GROUP BY 1, 2),
         |expn AS (SELECT query_id, term FROM (
         |           SELECT query_id, term,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY cnt DESC, term) AS rk
         |           FROM expc) WHERE rk <= 3),
         |q2 AS (SELECT query_id, term, CAST(2 AS BIGINT) AS w FROM q
         |       UNION ALL SELECT query_id, term, CAST(1 AS BIGINT) AS w FROM expn),
         |ex2 AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM dd),
         |tfb AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM ex2
         |        WHERE term IN (SELECT DISTINCT term FROM q2) GROUP BY 1, 2),
         |tfb2 AS (SELECT doc_id, term, tf, dl,
         |                CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df FROM tfb),
         |bscb AS (SELECT q2.query_id, tfb2.doc_id, ($contribSql) * q2.w AS cm
         |         FROM tfb2 JOIN q2 USING (term) CROSS JOIN st),
         |aggb AS (SELECT query_id, doc_id, CAST(SUM(cm) AS BIGINT) AS score_micro
         |         FROM bscb GROUP BY 1, 2),
         |rankedb AS (SELECT query_id, doc_id, score_micro,
         |                   row_number() OVER (PARTITION BY query_id
         |                                      ORDER BY score_micro DESC, doc_id) AS rn
         |            FROM aggb)
         |SELECT query_id, rn, doc_id, score_micro FROM rankedb WHERE rn <= 10
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val qt = fixtureQueries.toDF("query_id", "term")
      val baseTerms = fixtureQueries.map(_._2).distinct
      val idx = indexArtifact(s, d)
      val st = statsArtifact(s, d)
      // pass 1 from the STORED index; feedback = top-5 per query,
      // COLLECTED (bounded: queries × 5 rows) so the term-count pass
      // filters the corpus scan by LITERAL doc_ids
      val fbRows = topK(servedScores(idx, st, qt, baseTerms,
          excludeSelf = false), 5)
        .select("query_id", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val fb = fbRows.toDF("query_id", "doc_id")
      // expansion terms COLLECTED too (bounded: queries × 3) — pass 2's
      // index read prunes by the literal expanded term list
      val expnRows = tokenized(s, d)
        .filter(col("doc_id").isin(fbRows.map(_._2).distinct: _*))
        .join(broadcast(fb), Seq("doc_id"))
        .select(col("query_id"), explode(col("toks")).as("term"))
        .groupBy("query_id", "term").agg(count(lit(1)).cast("long").as("cnt"))
        .join(broadcast(qt), Seq("query_id", "term"), "left_anti")
        .withColumn("rk", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cnt").desc, col("term").asc)))
        .filter(col("rk") <= 3)
        .select("query_id", "term")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val q2 = qt.withColumn("w", lit(2L))
        .unionByName(expnRows.toDF("query_id", "term").withColumn("w", lit(1L)))
      // pass 2: weighted rescoring, ALSO from the stored index
      topK(servedScores(idx, st, q2,
          (baseTerms ++ expnRows.map(_._2)).distinct, excludeSelf = false), 10)
        .select("query_id", "rn", "doc_id", "score_micro")
        .orderBy("query_id", "rn")
    },

    // R9: stemmed BM25 — the analyzer chain (lowercase → tokenize →
    // STEM) r1 runs without its last stage. Morphological variants
    // split a term's evidence across surface forms (df/tf fragment,
    // recall drops); the Harman S-stemmer conflates plurals at
    // tokenization time on BOTH the corpus and the query — the query
    // terms pass through the SAME stem stage in both engines (every
    // current fixture term is a stem fixed point, so the oracle output
    // is unchanged, but the analyzer chain no longer relies on that).
    // Serving reads the STORED stemmed-analyzer index
    // ([[stemmedIndexArtifact]] — stem applied at BUILD time, query
    // literals stemmed driver-side by [[stemScala]], whose parity with
    // the engine stem is spec-pinned); the oracle recomputes from the
    // raw corpus, and RetrievalSpec additionally pins indexed ==
    // from-scratch row-for-row — the build/query analyzer-drift guard.
    // Proof the stage matters: pluralized copies of every 25th doc are
    // planted at +2e7 (the tok2 planting discipline — this corpus has
    // NO organic plurals, verified empty LIKE '%s' vocabulary); their
    // tokens match the query terms only through stemming, and OpsSpec
    // asserts planted docs reach top-10.
    QueryDef.sql("r9_stemmed_bm25",
      s"""WITH q(query_id, term) AS (SELECT query_id, ${stemSql("term")}
         |                           FROM (VALUES $fixtureValuesSql) v(query_id, term)),
         |base AS (SELECT doc_id, text FROM documents
         |         UNION ALL
         |         SELECT doc_id + 20000000 AS doc_id,
         |                array_to_string(list_transform(string_split(text, ' '),
         |                  w -> w || 's'), ' ') AS text
         |         FROM documents WHERE doc_id % 25 = 0),
         |dd AS (SELECT doc_id,
         |              list_transform(regexp_extract_all(lower(text), '[a-z]+'),
         |                t -> ${stemSql("t")}) AS toks
         |       FROM base),
         |${bm25ChainSql(excludeSelf = false)},
         |ranked AS (SELECT query_id, doc_id, score_micro,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY score_micro DESC, doc_id) AS rn
         |           FROM agg)
         |SELECT query_id, rn, doc_id, score_micro FROM ranked WHERE rn <= 10
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val stemmedQ = fixtureQueries.map { case (q, t) => (q, stemScala(t)) }
      serveBm25(stemmedIndexArtifact(s, d), stemmedStatsArtifact(s, d),
        stemmedQ.toDF("query_id", "term"), stemmedQ.map(_._2).distinct, 10)
    },

    // R10: snippet extraction — the highlighting stage every search
    // serving stack runs after ranking (Lucene's highlighter): for
    // each query's top-3 BM25 hits, find the 10-token window with the
    // MOST query-term occurrences (tie → earliest window) and emit it
    // as the snippet. Window scoring runs entirely on the merged
    // per-doc position lists from the STORED positional index — the
    // same artifact r8's phrase serving reads, pruned to the query
    // terms' buckets (partition filter) and rows (IN filter), then to
    // the collected hit doc_ids; the snippet token slice reads the
    // corpus pruned by the same LITERAL doc_id list (row-group
    // pruning, ≤ queries × 3 docs). The window argmax is a codegen'd
    // higher-order expression over the sorted positions array (for
    // each match position, count matches in [p, p+10)) — no window
    // explode, no self-join. Oracle recomputes from the raw corpus:
    // ranking, positions, and argmax must agree end to end.
    QueryDef.sql("r10_snippets",
      s"""WITH q(query_id, term) AS (SELECT * FROM (VALUES $fixtureValuesSql)),
         |dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
         |${bm25ChainSql(excludeSelf = false)},
         |hits AS (SELECT query_id, doc_id, rn FROM (
         |           SELECT query_id, doc_id,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY score_micro DESC, doc_id) AS rn
         |           FROM agg) WHERE rn <= 3),
         |pp AS (SELECT doc_id, unnest(toks) AS term,
         |              generate_subscripts(toks, 1) - 1 AS p FROM dd),
         |mp AS (SELECT h.query_id, h.doc_id, h.rn, list_sort(list(pp.p)) AS ps
         |       FROM hits h
         |       JOIN q ON q.query_id = h.query_id
         |       JOIN pp ON pp.doc_id = h.doc_id AND pp.term = q.term
         |       GROUP BY 1, 2, 3),
         |best AS (SELECT query_id, doc_id, rn,
         |                list_sort(list_transform(ps, p ->
         |                  {'negm': -len(list_filter(ps, q2 -> q2 >= p AND q2 < p + 10)),
         |                   'st': p}))[1] AS b
         |         FROM mp)
         |SELECT b2.query_id, b2.rn, b2.doc_id,
         |       CAST(b2.b.st AS BIGINT) AS win_start,
         |       CAST(-b2.b.negm AS BIGINT) AS n_in_window,
         |       array_to_string(dd.toks[b2.b.st + 1 : b2.b.st + 10], ' ') AS snippet
         |FROM best b2 JOIN dd ON dd.doc_id = b2.doc_id
         |ORDER BY b2.query_id, b2.rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val terms = fixtureQueries.map(_._2).distinct
      val qt = fixtureQueries.toDF("query_id", "term")
      // ranking from the stored index; top-3 per query, COLLECTED
      // (bounded: queries × 3) so every later read prunes by literals
      val hits = serveBm25(indexArtifact(s, d), statsArtifact(s, d), qt, terms, 3)
        .select("query_id", "rn", "doc_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      val hitDocs = hits.map(_._3).distinct
      // query-term positions in the hit docs, from the positional
      // index (bucket + term pruned, then literal doc filter)
      val pos = posIndexArtifact(s, d)
        .filter(col("bkt").isin(terms.map(termBucket).distinct.map(Int.box): _*))
        .filter(col("term").isin(terms: _*))
        .filter(col("doc_id").isin(hitDocs.map(Long.box): _*))
        .join(broadcast(qt), Seq("term"))
      val merged = pos.groupBy("query_id", "doc_id")
        .agg(sort_array(flatten(collect_list(col("ps")))).as("ps"))
      val best = merged.withColumn("b", expr(
        "element_at(array_sort(transform(ps, p -> named_struct(" +
          "'negm', -size(filter(ps, q2 -> q2 >= p AND q2 < p + 10)), 'st', p))), 1)"))
      val toks = tokenized(s, d)
        .filter(col("doc_id").isin(hitDocs.map(Long.box): _*))
      best
        .join(broadcast(hits.toDF("query_id", "rn", "doc_id")), Seq("query_id", "doc_id"))
        .join(broadcast(toks), Seq("doc_id"))
        .select(col("query_id"), col("rn"), col("doc_id"),
          col("b.st").cast("long").as("win_start"),
          (-col("b.negm")).cast("long").as("n_in_window"),
          array_join(slice(col("toks"), col("b.st") + 1, lit(10)), " ").as("snippet"))
        .orderBy("query_id", "rn")
    },

    // R11: spelling correction — the "did you mean" stage every search
    // engine pairs with its term dictionary (Lucene's spellchecker):
    // for each misspelled input, the vocabulary terms within edit
    // distance 2, ranked (distance asc, df desc, term asc) top-3 —
    // closer beats popular, popular breaks ties. Serving reads the
    // MATERIALIZED dictionary artifacts ([[termDictArtifact]] /
    // [[termGramArtifact]]), never the postings store (PlanSpec pins
    // zero postings scans): queries of length ≥ GramMinQueryLen
    // generate candidates from the gram-bucketed bigram index —
    // bucket-pruned + gram IN pushdown, SOUND for distance ≤ 2 by the
    // q-gram lemma (see [[GramMinQueryLen]]) — and shorter queries
    // read the dictionary under the |len − qlen| ≤ 2 length prune
    // (necessary for distance ≤ 2, so also exact). Both paths finish
    // with the codegen'd levenshtein, bounded at 2 (it returns -1 past
    // the bound instead of finishing the DP), as the EXACT filter; both
    // engines implement classic unit-cost edit distance, so the integer
    // distances agree exactly and the pruned serving hash-matches the
    // oracle's full vocabulary × query scan. A query beyond distance 2
    // from everything simply yields no rows.
    QueryDef.sql("r11_spell_correct",
      """WITH dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
        |vocab AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |          FROM (SELECT doc_id, unnest(toks) AS term FROM dd) GROUP BY 1),
        |q(qid, mis) AS (SELECT * FROM (VALUES
        |  (0, 'spak'), (1, 'joinn'), (2, 'windw'), (3, 'custmer'),
        |  (4, 'tble'), (5, 'zzzzzzzzzz'))),
        |cand AS (SELECT q.qid, q.mis, v.term,
        |                CAST(levenshtein(q.mis, v.term) AS BIGINT) AS dist, v.df
        |         FROM q CROSS JOIN vocab v
        |         WHERE levenshtein(q.mis, v.term) <= 2),
        |ranked AS (SELECT qid, mis, term, dist, df,
        |                  row_number() OVER (PARTITION BY qid
        |                                     ORDER BY dist, df DESC, term) AS rn
        |           FROM cand)
        |SELECT qid, rn, mis, term AS suggestion, dist, df
        |FROM ranked WHERE rn <= 3 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      val mis = Seq((0, "spak"), (1, "joinn"), (2, "windw"),
        (3, "custmer"), (4, "tble"), (5, "zzzzzzzzzz"))
      spellCandidates(s, d, mis)
        .withColumn("dist", levenshtein(col("mis"), col("term"), 2).cast("long"))
        .filter(col("dist") >= 0)
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("dist").asc, col("df").desc, col("term").asc)))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("mis"),
          col("term").as("suggestion"), col("dist"), col("df"))
        .orderBy("qid", "rn")
    },

    // R12: prefix suggest (autocomplete) — the search-box companion to
    // r11's did-you-mean, over the SAME materialized term dictionary:
    // for each typed prefix, the vocabulary terms starting with it,
    // top-3 by (df desc, term asc) — popularity first, alphabet breaks
    // ties. Serving reads [[termDictArtifact]]'s first-letter
    // partitioned layout: the prefixes' first letters become a `pb`
    // PARTITION filter (file-level pruning before any row is read, the
    // postings-bucket discipline applied to the dictionary), then the
    // BROADCAST prefix set joins under a codegen'd startswith; a
    // prefix matching nothing yields no rows. The postings store is
    // never touched at serve time (PlanSpec pins it) — the dictionary
    // is DERIVED state of the index, refreshed by maintenance, never a
    // second corpus pass.
    QueryDef.sql("r12_prefix_suggest",
      """WITH dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
        |vocab AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |          FROM (SELECT doc_id, unnest(toks) AS term FROM dd) GROUP BY 1),
        |q(qid, prefix) AS (SELECT * FROM (VALUES
        |  (0, 'sc'), (1, 'sp'), (2, 's'), (3, 'wi'), (4, 'zzz'))),
        |cand AS (SELECT q.qid, q.prefix, v.term, v.df
        |         FROM q CROSS JOIN vocab v
        |         WHERE starts_with(v.term, q.prefix)),
        |ranked AS (SELECT qid, prefix, term, df,
        |                  row_number() OVER (PARTITION BY qid
        |                                     ORDER BY df DESC, term) AS rn
        |           FROM cand)
        |SELECT qid, rn, prefix, term AS suggestion, df
        |FROM ranked WHERE rn <= 3 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val prefixes = Seq((0, "sc"), (1, "sp"), (2, "s"), (3, "wi"), (4, "zzz"))
      termDictArtifact(s, d)
        .filter(col("pb").isin(prefixes.map(_._2.take(1)).distinct: _*))
        .crossJoin(broadcast(prefixes.toDF("qid", "prefix")))
        .filter(expr("startswith(term, prefix)"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("df").desc, col("term").asc)))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("prefix"),
          col("term").as("suggestion"), col("df"))
        .orderBy("qid", "rn")
    },

    // R21: wildcard term search — the Lucene WildcardQuery surface the
    // dictionary family still lacked (r12 serves prefixes, r11 serves
    // edit distance; neither can answer 't%e' or '%ow'). Three serving
    // paths, split per pattern, all over the MATERIALIZED dictionary
    // artifacts — the postings store and the corpus are never touched:
    //  - literal-prefix patterns ('t%e'): the first letter becomes a
    //    `pb` PARTITION filter on term_dictionary (file-level pruning
    //    before any row is read), then LIKE verifies;
    //  - leading-wildcard patterns with a ≥ 2-char literal segment
    //    ('%ow', '%ar%'): any matching term must CONTAIN every literal
    //    segment, hence every segment's character bigrams — the
    //    gram-bucketed index prunes to those grams' buckets, a
    //    candidate must carry ALL the pattern's grams (necessary ⇒ the
    //    prune is sound), then LIKE verifies;
    //  - patterns whose every segment is a single char ('%a%') yield
    //    no grams, so the prune would wrongly exclude true matches —
    //    they take the documented fallback, a LIKE over the full
    //    dictionary (vocab-bounded, the price Lucene pays too).
    // Top-5 per pattern by (df desc, term asc); a pattern matching
    // nothing yields no rows. OpsSpec recounts every path in plain
    // Scala; PlanSpec pins dictionary-artifact-only scans with the pb
    // partition filter present.
    QueryDef.sql("r21_wildcard",
      """WITH dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
        |vocab AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |          FROM (SELECT doc_id, unnest(toks) AS term FROM dd) GROUP BY 1),
        |q(qid, pat) AS (SELECT * FROM (VALUES
        |  (0, 't%e'), (1, 's%w'), (2, '%ow'), (3, '%ar%'),
        |  (4, 'zz%zz'), (5, 'b%h'), (6, '%a%'))),
        |cand AS (SELECT q.qid, q.pat, v.term, v.df
        |         FROM q CROSS JOIN vocab v WHERE v.term LIKE q.pat),
        |ranked AS (SELECT qid, pat, term, df,
        |                  row_number() OVER (PARTITION BY qid
        |                                     ORDER BY df DESC, term) AS rn
        |           FROM cand)
        |SELECT qid, rn, pat AS pattern, term AS hit, df
        |FROM ranked WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val pats = Seq((0, "t%e"), (1, "s%w"), (2, "%ow"), (3, "%ar%"),
        (4, "zz%zz"), (5, "b%h"), (6, "%a%"))
      def segs(p: String): Seq[String] = p.split("%").filter(_.nonEmpty).toSeq
      val (pref, lead) = pats.partition(!_._2.startsWith("%"))
      val (gram, gless) = lead.partition(p => segs(p._2).exists(_.length >= 2))
      val dict = termDictArtifact(s, d)
      val empty = Seq.empty[(Int, String, String, Long)]
        .toDF("qid", "pat", "term", "df")
      val prefCand = if (pref.isEmpty) empty else
        dict.filter(col("pb").isin(pref.map(_._2.take(1)).distinct: _*))
          .crossJoin(broadcast(pref.toDF("qid", "pat")))
          .select("qid", "pat", "term", "df")
      val gramCand = if (gram.isEmpty) empty else {
        val qgrams = gram.flatMap { case (qid, p) =>
          segs(p).flatMap(bigramsOf).distinct.map(g => (qid, p, g)) }
        val need = gram.map { case (qid, p) =>
          (qid, segs(p).flatMap(bigramsOf).distinct.size.toLong) }
        termGramArtifact(s, d)
          .filter(col("gb").isin(
            qgrams.map(t => termBucket(t._3)).distinct.map(Int.box): _*))
          .filter(col("gram").isin(qgrams.map(_._3).distinct: _*))
          .join(broadcast(qgrams.toDF("qid", "pat", "gram")), Seq("gram"))
          .groupBy("qid", "pat", "term", "df")
          .agg(count_distinct(col("gram")).as("ng"))
          .join(broadcast(need.toDF("qid", "need")), Seq("qid"))
          .filter(col("ng") === col("need")) // must carry ALL the pattern's grams
          .select("qid", "pat", "term", "df")
      }
      val glessCand = if (gless.isEmpty) empty else
        dict.crossJoin(broadcast(gless.toDF("qid", "pat")))
          .select("qid", "pat", "term", "df")
      prefCand.unionByName(gramCand).unionByName(glessCand)
        .filter(expr("term like pat")) // exact verification on every path
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("df").desc, col("term").asc)))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("rn"), col("pat").as("pattern"),
          col("term").as("hit"), col("df"))
        .orderBy("qid", "rn")
    },

    // R14: multi-field boosted search — the Lucene fielded-query shape
    // (MultiFieldQueryParser / BM25F's per-field-statistics insight,
    // Robertson-Zaragoza 2009): documents carry a TITLE (first 3
    // tokens) and a BODY (the rest), each field scored with ITS OWN
    // BM25 statistics (df, dl, avgdl per field — a term rare in titles
    // is strong title evidence even when common in bodies), and the
    // per-field contributions combine under integer boosts (title 3×,
    // body 1×). Boosts multiply AFTER the micro-unit quantization, so
    // the combined score stays exact integer arithmetic in both
    // engines. 100 TB shape: r1's — the field split is a narrow
    // per-row array transform riding the one corpus scan; the exploded
    // field-token stream filters against the BROADCAST query set
    // before the only corpus shuffle; per-field df is a window over
    // that bounded frame; field stats (2 rows) broadcast.
    QueryDef.sql("r14_fielded_search",
      s"""WITH q(query_id, term) AS (SELECT * FROM (VALUES $fixtureValuesSql)),
         |dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
         |flds AS (SELECT doc_id, 't' AS fld, toks[1:3] AS ftoks FROM dd
         |         UNION ALL
         |         SELECT doc_id, 'b' AS fld, toks[4:] AS ftoks FROM dd),
         |st AS (SELECT fld, COUNT(*) AS n_docs,
         |              CAST(SUM(len(ftoks)) AS BIGINT) AS sum_dl
         |       FROM flds GROUP BY 1),
         |ex AS (SELECT doc_id, fld, len(ftoks) AS dl, unnest(ftoks) AS term FROM flds),
         |tf AS (SELECT doc_id, fld, term, COUNT(*) AS tf, MAX(dl) AS dl FROM ex
         |       WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2, 3),
         |tf2 AS (SELECT doc_id, fld, term, tf, dl,
         |               CAST(COUNT(*) OVER (PARTITION BY fld, term) AS BIGINT) AS df FROM tf),
         |bsc AS (SELECT q.query_id, tf2.doc_id,
         |               ($contribSql) * (CASE tf2.fld WHEN 't' THEN 3 ELSE 1 END) AS cm
         |        FROM tf2 JOIN q USING (term) JOIN st ON st.fld = tf2.fld),
         |agg AS (SELECT query_id, doc_id, CAST(SUM(cm) AS BIGINT) AS score_micro
         |        FROM bsc GROUP BY 1, 2),
         |ranked AS (SELECT query_id, doc_id, score_micro,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY score_micro DESC, doc_id) AS rn
         |           FROM agg)
         |SELECT query_id, rn, doc_id, score_micro FROM ranked WHERE rn <= 10
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val qterms = fixtureQueries.toDF("query_id", "term")
      val flds = tokenized(s, d).select(col("doc_id"),
          explode(array(
            struct(lit("t").as("fld"), expr("slice(toks, 1, 3)").as("ftoks")),
            struct(lit("b").as("fld"),
              expr("slice(toks, 4, greatest(size(toks) - 3, 0))").as("ftoks")))).as("f"))
        .select(col("doc_id"), col("f.fld").as("fld"), col("f.ftoks").as("ftoks"))
      val st = flds.groupBy("fld").agg(count(lit(1)).as("n_docs"),
        sum(size(col("ftoks"))).cast("long").as("sum_dl"))
      val ex = flds.select(col("doc_id"), col("fld"),
        size(col("ftoks")).as("dl"), explode(col("ftoks")).as("term"))
      val tf = ex.join(broadcast(qterms.select("term").distinct()), Seq("term"))
        .groupBy("doc_id", "fld", "term")
        .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      val tf2 = tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy("fld", "term")).cast("long"))
      val scored = tf2.join(broadcast(qterms), Seq("term"))
        .join(broadcast(st), Seq("fld"))
        .withColumn("cm",
          expr(s"($contribSql) * (CASE fld WHEN 't' THEN 3 ELSE 1 END)"))
        .groupBy("query_id", "doc_id")
        .agg(sum("cm").cast("long").as("score_micro"))
      topK(scored, 10)
        .select("query_id", "rn", "doc_id", "score_micro")
        .orderBy("query_id", "rn")
    },

    // R13: graded relevance metrics — nDCG@10 (Järvelin & Kekäläinen
    // 2002) and reciprocal rank, the two numbers every search-quality
    // dashboard tracks, computed over the SAME graded planting r4/r5
    // grade recall on (one truth, three dials). Gains are exponential
    // in severity (sev 0 → 7, 1 → 3, 2 → 1, 3 → 0: a 48-junked copy is
    // judged irrelevant); per query: nDCG@10 against the ideal ordering
    // of its four planted copies, reciprocal rank of the first
    // relevant hit over the FULL ranking, and the top-10 relevant
    // count. Determinism: each DCG term is computed in doubles with a
    // TEXTUALLY IDENTICAL expression in both engines and quantized to
    // integer micro-units BEFORE the sum ([[dcgTermSql]]); the final
    // nDCG and RR are integer divisions — no float accumulation can
    // flip a value.
    // 100 TB shape: the ranking comes from the SHARED fingerprint-keyed
    // [[gradedRankingArtifact]] (r4/r5's build, reused — zero extra
    // corpus work); this query's own plan joins 40 broadcast truth rows
    // against it and aggregates per query. An eval over a production
    // qrels set is the same plan with the truth table read instead of
    // planted.
    QueryDef.sql("r13_graded_metrics", {
      s"""WITH corpus AS (
         |  $gradedCorpusSql),
         |dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM corpus),
         |q AS (SELECT DISTINCT doc_id AS query_id, toks[i] AS term
         |      FROM (SELECT doc_id, toks,
         |                   unnest(generate_series(1, least(len(toks), 57))) AS i
         |            FROM dd WHERE doc_id % 20 = 0 AND doc_id < 200)
         |      WHERE (i - 1) % 4 = 0),
         |${bm25ChainSql(excludeSelf = true)},
         |ranked AS (SELECT query_id, doc_id,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY score_micro DESC, doc_id) AS rn
         |           FROM agg),
         |truth AS (SELECT doc_id AS query_id,
         |                 doc_id + 7000000 + sev * 1000000 AS planted,
         |                 CAST(CASE sev WHEN 0 THEN 7 WHEN 1 THEN 3 WHEN 2 THEN 1 ELSE 0 END AS BIGINT) AS g
         |          FROM (SELECT doc_id, unnest([0, 1, 2, 3]) AS sev
         |                FROM documents WHERE doc_id % 20 = 0 AND doc_id < 200)),
         |dcg AS (SELECT r.query_id,
         |               CAST(SUM(${dcgTermSql("t.g", "r.rn")}) AS BIGINT) AS dcg_micro,
         |               CAST(SUM(CASE WHEN t.g > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_top10
         |        FROM ranked r JOIN truth t ON t.query_id = r.query_id AND t.planted = r.doc_id
         |        WHERE r.rn <= 10 GROUP BY 1),
         |idcg AS (SELECT CAST(SUM(${dcgTermSql("g", "irn")}) AS BIGINT) AS idcg_micro
         |         FROM (VALUES (1, 7), (2, 3), (3, 1)) AS v(irn, g)),
         |firstrel AS (SELECT r.query_id, MIN(r.rn) AS frn
         |             FROM ranked r JOIN truth t ON t.query_id = r.query_id AND t.planted = r.doc_id
         |             WHERE t.g > 0 GROUP BY 1),
         |base AS (SELECT DISTINCT doc_id AS query_id FROM documents
         |         WHERE doc_id % 20 = 0 AND doc_id < 200)
         |SELECT b.query_id,
         |       COALESCE(CAST((1000000 * d.dcg_micro) // i.idcg_micro AS BIGINT), 0) AS ndcg_ppm,
         |       COALESCE(CAST(1000000 // f.frn AS BIGINT), 0) AS rr_ppm,
         |       COALESCE(d.n_rel_top10, 0) AS n_rel_top10
         |FROM base b CROSS JOIN idcg i
         |LEFT JOIN dcg d ON d.query_id = b.query_id
         |LEFT JOIN firstrel f ON f.query_id = b.query_id
         |ORDER BY b.query_id""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val art = gradedRankingArtifact(s, d)
        .select(col("query_id").as("hit_query"), col("cand_id").as("hit_id"),
          col("rn"))
      val truth = Tables.documents(s, d)
        .filter(col("doc_id") % 20 === 0 && col("doc_id") < 200)
        .select(col("doc_id"), explode(array((0 to 3).map(lit): _*)).as("sev"))
        .select(col("doc_id").as("query_id"),
          (col("doc_id") + 7000000 + col("sev") * 1000000).as("planted"),
          expr("CAST(CASE sev WHEN 0 THEN 7 WHEN 1 THEN 3 WHEN 2 THEN 1 ELSE 0 END AS BIGINT)").as("g"))
      val hits = art.join(broadcast(truth),
        col("hit_query") === col("query_id") && col("hit_id") === col("planted"))
      val dcg = hits.filter(col("rn") <= 10)
        .groupBy("query_id")
        .agg(sum(expr(dcgTermSql("g", "rn"))).cast("long").as("dcg_micro"),
          sum(when(col("g") > 0, 1).otherwise(0)).cast("long").as("n_rel_top10"))
      val idcg = Seq((1, 7), (2, 3), (3, 1)).toDF("irn", "g")
        .agg(sum(expr(dcgTermSql("g", "irn"))).cast("long").as("idcg_micro"))
      val firstrel = hits.filter(col("g") > 0)
        .groupBy("query_id").agg(min("rn").as("frn"))
      truth.select("query_id").distinct()
        .crossJoin(broadcast(idcg))
        .join(dcg, Seq("query_id"), "left")
        .join(firstrel, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(expr("CAST((1000000 * dcg_micro) div idcg_micro AS BIGINT)"),
            lit(0L)).as("ndcg_ppm"),
          coalesce(expr("CAST(1000000 div frn AS BIGINT)"), lit(0L)).as("rr_ppm"),
          coalesce(col("n_rel_top10"), lit(0L)).as("n_rel_top10"))
        .orderBy("query_id")
    },

    // R5: the recall dial pointed at the HYBRID fusion — r4's own
    // honest finding is that lexical top-10 saturates on this tiny
    // common-word vocabulary; the vector channel exists to cover
    // exactly that gap, and this query closes the eval loop by grading
    // both channels on the SAME graded planting. The text side is r4's
    // (k ∈ {0,4,16,48} leading words junked); the vector side mirrors
    // it — each planted copy's embedding has its first k dims replaced
    // by a deterministic junk grid (integer arithmetic on a 0.01 step,
    // so both engines quantize to the same 1e-6 integers), putting the
    // copy at a severity-graded cosine from its original. Channels:
    // r4's BM25 ranking, and v1's map-only literal-query cosine over
    // the augmented embeddings; fusion is r2's integer RRF. Output per
    // severity: planted-copy top-10 hits for BM25 alone vs the fusion
    // — OpsSpec gates n_hit_hybrid >= n_hit_bm25 at every severity.
    // 100 TB shape: the BM25 channel is read from the SHARED
    // fingerprint-keyed ranking artifact r4 also consumes (one
    // planting + one r1-shaped chain for both evals); the vector
    // channel is a map-only pass (10 codegen'd cosine calls/row) + one
    // top-k window; fusion and rollup touch 2 × queries × 20 rows.
    QueryDef.sql("r5_hybrid_recall",
      s"""WITH corpus AS (
         |  $gradedCorpusSql),
         |dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM corpus),
         |q AS (SELECT DISTINCT doc_id AS query_id, toks[i] AS term
         |      FROM (SELECT doc_id, toks,
         |                   unnest(generate_series(1, least(len(toks), 57))) AS i
         |            FROM dd WHERE doc_id % 20 = 0 AND doc_id < 200)
         |      WHERE (i - 1) % 4 = 0),
         |${bm25ChainSql(excludeSelf = true)},
         |kranked AS (SELECT query_id, doc_id AS cand_id,
         |                   row_number() OVER (PARTITION BY query_id
         |                                      ORDER BY score_micro DESC, doc_id) AS rn
         |            FROM agg),
         |el0 AS (SELECT vec_id, pos, CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS xi
         |        FROM (SELECT vec_id, unnest(embedding) AS x,
         |                     generate_subscripts(embedding, 1) - 1 AS pos
         |              FROM embeddings)),
         |plant AS (SELECT vec_id AS ov, vec_id + 7000000 + sev * 1000000 AS pv,
         |                 CASE sev WHEN 0 THEN 0 WHEN 1 THEN 4 WHEN 2 THEN 16 ELSE 48 END AS k
         |          FROM (SELECT vec_id, unnest([0, 1, 2, 3]) AS sev
         |                FROM embeddings WHERE vec_id % 20 = 0)),
         |elp AS (SELECT p.pv AS vec_id, e.pos,
         |               CASE WHEN e.pos < p.k
         |                    THEN (((p.pv % 1000) * 7 + e.pos * 13) % 200 - 100) * 10000
         |                    ELSE e.xi END AS xi
         |        FROM plant p JOIN el0 e ON e.vec_id = p.ov),
         |ael AS (SELECT * FROM el0 UNION ALL SELECT * FROM elp),
         |vnorms AS (SELECT vec_id, CAST(SUM(xi * xi) AS BIGINT) AS n2 FROM ael GROUP BY vec_id),
         |vdots AS (SELECT q2.vec_id AS query_id, c.vec_id AS cand_id,
         |                 CAST(SUM(q2.xi * c.xi) AS BIGINT) AS dot
         |          FROM ael q2 JOIN ael c ON q2.pos = c.pos
         |          WHERE q2.vec_id % 20 = 0 AND q2.vec_id < 200 AND c.vec_id <> q2.vec_id
         |          GROUP BY 1, 2),
         |vranked AS (SELECT query_id, cand_id,
         |                   row_number() OVER (PARTITION BY query_id
         |                     ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) DESC,
         |                              cand_id) AS rn
         |            FROM vdots JOIN vnorms nq ON query_id = nq.vec_id
         |                       JOIN vnorms nc ON cand_id = nc.vec_id),
         |uni AS (SELECT query_id, cand_id, rn FROM kranked WHERE rn <= 20
         |        UNION ALL
         |        SELECT query_id, cand_id, rn FROM vranked WHERE rn <= 20),
         |fused AS (SELECT query_id, cand_id,
         |                 CAST(SUM(1000000000 // (60 + rn)) AS BIGINT) AS rrf
         |          FROM uni GROUP BY 1, 2),
         |franked AS (SELECT query_id, cand_id,
         |                   row_number() OVER (PARTITION BY query_id
         |                                      ORDER BY rrf DESC, cand_id) AS rn
         |            FROM fused),
         |truth AS (SELECT doc_id AS query_id,
         |                 doc_id + 7000000 + sev * 1000000 AS planted, sev
         |          FROM (SELECT doc_id, unnest([0, 1, 2, 3]) AS sev
         |                FROM documents WHERE doc_id % 20 = 0 AND doc_id < 200)),
         |rk AS (SELECT t.sev,
         |              CASE WHEN kr.rn IS NOT NULL AND kr.rn <= 10 THEN 1 ELSE 0 END AS bhit,
         |              CASE WHEN fr.rn IS NOT NULL AND fr.rn <= 10 THEN 1 ELSE 0 END AS hhit
         |       FROM truth t
         |       LEFT JOIN kranked kr ON kr.query_id = t.query_id AND kr.cand_id = t.planted
         |       LEFT JOIN franked fr ON fr.query_id = t.query_id AND fr.cand_id = t.planted)
         |SELECT sev, COUNT(*) AS n_queries,
         |       CAST(SUM(bhit) AS BIGINT) AS n_hit_bm25,
         |       CAST(SUM(hhit) AS BIGINT) AS n_hit_hybrid
         |FROM rk GROUP BY sev ORDER BY sev""".stripMargin) { (s, d) =>
      graft.functions.NativeFunctions.register(s)
      // keyword channel = the SHARED graded ranking artifact (one
      // planting + one BM25 chain across r4/r5 — built by whichever
      // eval touches the corpus fingerprint first)
      val kranked = gradedRankingArtifact(s, d)
        .select(col("query_id"), col("cand_id"), col("rn"))

      // planted embeddings: first k(sev) dims replaced by the junk
      // grid — severity-graded cosine decay, exactly mirroring the
      // text junking; 0.01-step values quantize exactly at 1e-6
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val plantedEmb = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id"), col("embedding"),
          explode(array((0 to 3).map(lit): _*)).as("sev"))
        .withColumn("pv", col("vec_id") + lit(7000000L) + col("sev").cast("long") * 1000000L)
        .withColumn("k", expr("CASE sev WHEN 0 THEN 0 WHEN 1 THEN 4 WHEN 2 THEN 16 ELSE 48 END"))
        .select(col("pv").as("vec_id"),
          expr("transform(embedding, (x, i) -> IF(i < k, " +
            "CAST((((pv % 1000) * 7 + i * 13) % 200 - 100) / 100.0 AS FLOAT), x))")
            .as("embedding"))
      val augEmb = emb.unionByName(plantedEmb)
      // the query set is bounded (10 × 64 floats): literal scoring is
      // one map-only codegen pass (v1's discipline)
      val queries = emb.filter(col("vec_id") % 20 === 0 && col("vec_id") < 200)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val qCos = queries.map { case (qid, arr) =>
        struct(lit(qid).as("query_id"),
          call_function("cosine_sim_q", col("embedding"), typedLit(arr)).as("cos"))
      }
      val vranked = augEmb
        .select(col("vec_id").as("cand_id"), explode(array(qCos.toSeq: _*)).as("q"))
        .select(col("q.query_id"), col("cand_id"), col("q.cos"))
        .filter(col("cand_id") =!= col("query_id"))
        .withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(desc("cos"), asc("cand_id"))))
        .select("query_id", "cand_id", "rn")

      val fused = kranked.filter(col("rn") <= 20)
        .unionByName(vranked.filter(col("rn") <= 20))
        .groupBy("query_id", "cand_id")
        .agg(sum(expr("1000000000 div (60 + rn)")).cast("long").as("rrf"))
      val franked = fused
        .withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("rrf").desc, col("cand_id").asc)))
        .select(col("query_id").as("fq"), col("cand_id").as("fc"), col("rn").as("frn"))
      val kr = kranked
        .select(col("query_id").as("kq"), col("cand_id").as("kc"), col("rn").as("krn"))

      val truth = Tables.documents(s, d)
        .filter(col("doc_id") % 20 === 0 && col("doc_id") < 200)
        .select(col("doc_id"), explode(array((0 to 3).map(lit): _*)).as("sev"))
        .select(col("doc_id").as("query_id"),
          (col("doc_id") + 7000000 + col("sev") * 1000000).as("planted"), col("sev"))
      truth
        .join(kr, col("query_id") === col("kq") && col("kc") === col("planted"), "left")
        .join(franked, col("query_id") === col("fq") && col("fc") === col("planted"), "left")
        .select(col("sev"),
          when(col("krn").isNotNull && col("krn") <= 10, 1).otherwise(0).as("bhit"),
          when(col("frn").isNotNull && col("frn") <= 10, 1).otherwise(0).as("hhit"))
        .groupBy("sev")
        .agg(count(lit(1)).as("n_queries"),
          sum("bhit").cast("long").as("n_hit_bm25"),
          sum("hhit").cast("long").as("n_hit_hybrid"))
        .orderBy("sev")
    },

    // R15: more-like-this — Lucene's MoreLikeThis query shape: the
    // input is a SEED DOCUMENT, not a term list. Pass 1 selects the
    // seed's most distinctive terms by tf·idf (Lucene MLT's ranking):
    // idf quantized to integer micro-units on its own ([[mltIdfSql]])
    // BEFORE the multiply by the seed tf, ties by term — fully
    // deterministic cross-engine; hapaxes gated out (df ≥ 2 — a term
    // occurring in no other document cannot retrieve one) and
    // sub-3-char tokens dropped (the minWordLen gate). Pass 2 runs the
    // top-5 terms as a BM25 query re-weighted by seed tf (Rocchio's
    // positive centroid in integer form — the same exact `w` hook r7
    // uses), excluding the seed itself.
    // 100 TB shape: pass 1's corpus read is pruned by 5 LITERAL seed
    // doc_ids (row-group pruning; a seed's term profile is per-doc
    // bounded state, like r10's snippet slices); the df lookup reads
    // the MATERIALIZED term dictionary pruned to the profile terms'
    // literal first-letter partitions — never a postings aggregation;
    // pass 2 is r3's bucket-pruned indexed serving (partition filter +
    // term IN pushdown). Both collects are bounded: seeds × doc
    // vocabulary, then seeds × 5.
    QueryDef.sql("r15_more_like_this",
      s"""WITH dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
         |stv AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS sum_dl FROM dd),
         |sv AS (SELECT query_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id AS query_id, unnest(toks) AS term FROM dd
         |             WHERE doc_id IN (0, 1, 2, 3, 4))
         |       WHERE length(term) >= 3 GROUP BY 1, 2),
         |vocab AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |          FROM (SELECT doc_id, unnest(toks) AS term FROM dd) GROUP BY 1),
         |sel AS (SELECT query_id, term, tf, ($mltIdfSql) * tf AS w_sel
         |        FROM sv JOIN vocab USING (term) CROSS JOIN stv WHERE df >= 2),
         |q AS (SELECT query_id, term, tf AS w FROM (
         |        SELECT query_id, term, tf,
         |               row_number() OVER (PARTITION BY query_id
         |                                  ORDER BY w_sel DESC, term) AS rk
         |        FROM sel) WHERE rk <= 5),
         |ex2 AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM dd),
         |tfb AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM ex2
         |        WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
         |tfb2 AS (SELECT doc_id, term, tf, dl,
         |                CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df FROM tfb),
         |bscb AS (SELECT q.query_id, tfb2.doc_id, ($contribSql) * q.w AS cm
         |         FROM tfb2 JOIN q USING (term) CROSS JOIN stv
         |         WHERE tfb2.doc_id <> q.query_id),
         |aggb AS (SELECT query_id, doc_id, CAST(SUM(cm) AS BIGINT) AS score_micro
         |         FROM bscb GROUP BY 1, 2),
         |ranked AS (SELECT query_id, doc_id, score_micro,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY score_micro DESC, doc_id) AS rn
         |           FROM aggb)
         |SELECT query_id, rn, doc_id, score_micro FROM ranked WHERE rn <= 10
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val seeds = Seq(0L, 1L, 2L, 3L, 4L)
      // pass 1a: seed term profiles — the corpus read prunes to the 5
      // literal seed doc_ids; the collect is seeds × doc vocabulary
      val seedTfRows = tokenized(s, d).filter(col("doc_id").isin(seeds: _*))
        .select(col("doc_id").as("query_id"), explode(col("toks")).as("term"))
        .filter(length(col("term")) >= 3)
        .groupBy("query_id", "term").agg(count(lit(1)).cast("long").as("tf"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val profTerms = seedTfRows.map(_._2).distinct
      // pass 1b: df from the MATERIALIZED dictionary — first-letter
      // partition pruning + term IN, never a postings re-aggregation
      val dict = termDictArtifact(s, d)
        .filter(col("pb").isin(profTerms.map(_.take(1)).distinct: _*))
        .filter(col("term").isin(profTerms: _*))
        .filter(col("df") >= 2)
      val selRows = dict
        .join(broadcast(seedTfRows.toDF("query_id", "term", "tf")), Seq("term"))
        .crossJoin(broadcast(statsArtifact(s, d).select("n_docs")))
        .withColumn("w_sel", expr(s"($mltIdfSql) * tf"))
        .withColumn("rk", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("w_sel").desc, col("term").asc)))
        .filter(col("rk") <= 5)
        .select("query_id", "term", "tf")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      // pass 2: indexed weighted serving, seed excluded (w = seed tf)
      serveBm25(indexArtifact(s, d), statsArtifact(s, d),
        selRows.toDF("query_id", "term", "w"),
        selRows.map(_._2).distinct, 10, excludeSelf = true)
    },

    // R16: faceted search — the aggregation every search UI renders
    // beside the hit list (Lucene facets / Elasticsearch terms agg):
    // for each query, the per-source count of ALL matching documents
    // (any query term present — the facet population is the match set,
    // not the top-k) with integer-ppm shares. The engine side serves
    // the match set from the STORED index (bucket + IN pruned — facets
    // must not cost a corpus scan) and joins doc metadata through a
    // COLUMN-PRUNED (doc_id, source) projection — PlanSpec pins that
    // no text column rides along; at 100 TB that projection is the
    // doc-metadata store every serving stack keeps beside the index.
    QueryDef.sql("r16_faceted_search",
      s"""WITH q(query_id, term) AS (SELECT * FROM (VALUES $fixtureValuesSql)),
         |dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
         |m AS (SELECT DISTINCT q.query_id, e.doc_id
         |      FROM (SELECT doc_id, unnest(toks) AS term FROM dd) e
         |      JOIN q USING (term)),
         |f AS (SELECT m.query_id, s.source, CAST(COUNT(*) AS BIGINT) AS n_docs
         |      FROM m JOIN (SELECT doc_id, source FROM documents) s
         |        ON s.doc_id = m.doc_id
         |      GROUP BY 1, 2),
         |tq AS (SELECT query_id, CAST(SUM(n_docs) AS BIGINT) AS total FROM f GROUP BY 1)
         |SELECT f.query_id, f.source, f.n_docs,
         |       CAST((1000000 * f.n_docs) // tq.total AS BIGINT) AS share_ppm
         |FROM f JOIN tq USING (query_id)
         |ORDER BY query_id, source""".stripMargin) { (s, d) =>
      import s.implicits._
      val qt = fixtureQueries.toDF("query_id", "term")
      val terms = fixtureQueries.map(_._2).distinct
      val idx = indexArtifact(s, d)
      // match set from the pruned index read — facet population is
      // every matching doc, never a corpus scan
      val m = idx.filter(col("bkt").isin(terms.map(termBucket).distinct.map(Int.box): _*))
        .filter(col("term").isin(terms: _*))
        .join(broadcast(qt), Seq("term"))
        .select("query_id", "doc_id").distinct()
      val src = Tables.documents(s, d).select("doc_id", "source")
      val f = m.join(src, Seq("doc_id"))
        .groupBy("query_id", "source")
        .agg(count(lit(1)).cast("long").as("n_docs"))
      f.withColumn("total", sum("n_docs").over(Window.partitionBy("query_id")))
        .select(col("query_id"), col("source"), col("n_docs"),
          expr("CAST((1000000 * n_docs) div total AS BIGINT)").as("share_ppm"))
        .orderBy("query_id", "source")
    },

    // R17: boolean query semantics — Lucene's BooleanQuery clause roles
    // over the same BM25 scoring: MUST terms are required (a doc
    // missing any is out), MUST_NOT terms exclude, SHOULD terms only
    // score; MUST and SHOULD matches both contribute to the score
    // (Lucene's semantics — required clauses are scoring clauses).
    // The whole evaluation is ONE pass over the pruned postings: per
    // (query, doc) the role-gated aggregate computes score, distinct
    // matched-MUST count, and the NOT flag together; the filter
    // compares must_hit to the query's required-clause count (bounded
    // broadcast). No per-clause subqueries, no intersect chains — the
    // set algebra rides the aggregate, which is what survives 100 TB.
    QueryDef.sql("r17_boolean_query",
      s"""WITH qb(query_id, term, role) AS (SELECT * FROM (VALUES $booleanValuesSql)),
         |dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
         |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS sum_dl FROM dd),
         |ex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM dd),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM ex
         |       WHERE term IN (SELECT DISTINCT term FROM qb) GROUP BY 1, 2),
         |tf2 AS (SELECT doc_id, term, tf, dl,
         |               CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df FROM tf),
         |j AS (SELECT qb.query_id, tf2.doc_id, qb.role, qb.term, $contribSql AS cm
         |      FROM tf2 JOIN qb USING (term) CROSS JOIN st),
         |per AS (SELECT query_id, doc_id,
         |               CAST(SUM(CASE WHEN role <> 'n' THEN cm ELSE 0 END) AS BIGINT) AS score_micro,
         |               CAST(COUNT(DISTINCT CASE WHEN role = 'm' THEN term END) AS BIGINT) AS must_hit,
         |               MAX(CASE WHEN role = 'n' THEN 1 ELSE 0 END) AS has_not
         |        FROM j GROUP BY 1, 2),
         |req AS (SELECT query_id, CAST(COUNT(DISTINCT term) AS BIGINT) AS req
         |        FROM qb WHERE role = 'm' GROUP BY 1),
         |ok AS (SELECT p.query_id, p.doc_id, p.score_micro
         |       FROM per p LEFT JOIN req r USING (query_id)
         |       WHERE p.has_not = 0 AND p.must_hit = COALESCE(r.req, 0)),
         |ranked AS (SELECT query_id, doc_id, score_micro,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY score_micro DESC, doc_id) AS rn
         |           FROM ok)
         |SELECT query_id, rn, doc_id, score_micro FROM ranked WHERE rn <= 10
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val qb = booleanQueries.toDF("query_id", "term", "role")
      val allTerms = booleanQueries.map(_._2).distinct
      val pruned = indexArtifact(s, d)
        .filter(col("bkt").isin(allTerms.map(termBucket).distinct.map(Int.box): _*))
        .filter(col("term").isin(allTerms: _*))
      val j = pruned.join(broadcast(qb), Seq("term"))
        .crossJoin(broadcast(statsArtifact(s, d)))
        .withColumn("cm", expr(contribSql))
      val per = j.groupBy("query_id", "doc_id")
        .agg(sum(when(col("role") =!= "n", col("cm")).otherwise(0L))
            .cast("long").as("score_micro"),
          countDistinct(when(col("role") === "m", col("term")))
            .cast("long").as("must_hit"),
          max(when(col("role") === "n", 1).otherwise(0)).as("has_not"))
      val req = booleanQueries.filter(_._3 == "m")
        .groupBy(_._1).map { case (q, ts) => (q, ts.map(_._2).distinct.size.toLong) }
        .toSeq.toDF("query_id", "req")
      val ok = per.join(broadcast(req), Seq("query_id"), "left")
        .filter(col("has_not") === 0 &&
          col("must_hit") === coalesce(col("req"), lit(0L)))
        .select("query_id", "doc_id", "score_micro")
      topK(ok, 10)
        .select("query_id", "rn", "doc_id", "score_micro")
        .orderBy("query_id", "rn")
    },

    // R18: per-source result crowding cap — the serving-time diversity
    // rule every web engine applies ("host crowding": at most K results
    // per site): r1's ranking re-served with AT MOST 2 documents per
    // source in each query's top-10. Two stacked windows — rank within
    // (query, source), keep ≤ 2, re-rank within query — over the
    // match-set frame; source arrives through the same column-pruned
    // (doc_id, source) metadata projection r16 uses. Measured on this
    // corpus the cap BINDS (queries 0 and 2 carry a 3-doc source in
    // the flat top-10), so the output provably differs from r1's —
    // OpsSpec pins both the cap and the difference. v15 (MMR) solves
    // the same problem by similarity; this is the rule-based quota
    // variant that needs no vectors.
    QueryDef.sql("r18_source_crowding",
      s"""WITH q(query_id, term) AS (SELECT * FROM (VALUES $fixtureValuesSql)),
         |dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
         |${bm25ChainSql(excludeSelf = false)},
         |wsrc AS (SELECT a.query_id, a.doc_id, a.score_micro, s.source
         |         FROM agg a JOIN (SELECT doc_id, source FROM documents) s
         |           ON s.doc_id = a.doc_id),
         |capped AS (SELECT query_id, doc_id, score_micro, source,
         |                  row_number() OVER (PARTITION BY query_id, source
         |                                     ORDER BY score_micro DESC, doc_id) AS srn
         |           FROM wsrc),
         |ranked AS (SELECT query_id, doc_id, score_micro, source,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY score_micro DESC, doc_id) AS rn
         |           FROM capped WHERE srn <= 2)
         |SELECT query_id, rn, doc_id, source, score_micro FROM ranked WHERE rn <= 10
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val qt = fixtureQueries.toDF("query_id", "term")
      val scored = servedScores(indexArtifact(s, d), statsArtifact(s, d), qt,
        fixtureQueries.map(_._2).distinct, excludeSelf = false)
      val withSrc = scored
        .join(Tables.documents(s, d).select("doc_id", "source"), Seq("doc_id"))
      withSrc
        .withColumn("srn", row_number().over(Window.partitionBy("query_id", "source")
          .orderBy(col("score_micro").desc, col("doc_id").asc)))
        .filter(col("srn") <= 2)
        .withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("score_micro").desc, col("doc_id").asc)))
        .filter(col("rn") <= 10)
        .select("query_id", "rn", "doc_id", "source", "score_micro")
        .orderBy("query_id", "rn")
    },

    // R19: significant-terms aggregation — the "what is this result
    // set ABOUT" facet (Elasticsearch's significant_text): for each
    // query's match set, the terms most over-represented in matching
    // docs vs the corpus background, scored by JLH =
    // (fg% - bg%) * (fg% / bg%) — the product of absolute and relative
    // lift, which suppresses both stopwords (huge bg%) and one-off
    // noise (tiny fg absolute mass); fg >= 2 is the standard noise
    // floor, and a query's own terms are excluded (they trivially
    // top the list). The score is composed from BIGINT products with
    // ONE terminal IEEE division (t6's discipline: every intermediate
    // exact in both engines, so the double — and the rank order —
    // is bit-identical; fg*bt and ft*ft*bg stay far inside 2^53 when
    // the match set and corpus fit in a long's exact-double range).
    // 100 TB shape: the match set comes from the bucket+IN-pruned
    // postings read (never a corpus scan); foreground term stats are
    // ONE pass over the postings artifact joined to the BROADCAST
    // match set (a forward doc->terms index would make this pruned
    // too — the posting store is the artifact we have, and one
    // artifact pass is the honest cost); background df is already
    // denormalized on the artifact (zero extra work); everything
    // downstream is vocabulary-bounded.
    QueryDef.sql("r19_significant_terms",
      s"""WITH q(query_id, term) AS (SELECT * FROM (VALUES $fixtureValuesSql)),
         |e AS (SELECT DISTINCT doc_id, term FROM (
         |        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
         |        FROM documents)),
         |m AS (SELECT DISTINCT q.query_id, e.doc_id FROM e JOIN q USING (term)),
         |ftq AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS ft FROM m GROUP BY 1),
         |fgt AS (SELECT m.query_id, e.term, CAST(COUNT(*) AS BIGINT) AS fg
         |        FROM m JOIN e USING (doc_id) GROUP BY 1, 2),
         |bgt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS bg FROM e GROUP BY 1),
         |btq AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM documents),
         |sc AS (SELECT f.query_id, f.term, f.fg, b.bg,
         |              CAST((f.fg * bt - b.bg * ft) * f.fg AS DOUBLE) / (ft * ft * b.bg) AS jlh
         |       FROM fgt f JOIN ftq t USING (query_id) JOIN bgt b USING (term)
         |            CROSS JOIN btq
         |       WHERE f.fg >= 2
         |         AND NOT EXISTS (SELECT 1 FROM q
         |                         WHERE q.query_id = f.query_id AND q.term = f.term)),
         |ranked AS (SELECT query_id, term, fg, bg, jlh,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY jlh DESC, term) AS rn
         |           FROM sc)
         |SELECT query_id, rn, term, fg, bg, jlh FROM ranked WHERE rn <= 10
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val qt = fixtureQueries.toDF("query_id", "term")
      val terms = fixtureQueries.map(_._2).distinct
      val idx = indexArtifact(s, d)
      val m = idx.filter(col("bkt").isin(terms.map(termBucket).distinct.map(Int.box): _*))
        .filter(col("term").isin(terms: _*))
        .join(broadcast(qt), Seq("term"))
        .select("query_id", "doc_id").distinct()
      val ft = m.groupBy("query_id").agg(count(lit(1)).cast("long").as("ft"))
      // one posting per (term, doc), so count(*) == distinct matched
      // docs containing the term
      val fg = idx.join(broadcast(m), Seq("doc_id"))
        .groupBy("query_id", "term").agg(count(lit(1)).cast("long").as("fg"))
      val bg = idx.select(col("term"), col("df").as("bg")).distinct()
      val bt = Tables.documents(s, d).agg(count(lit(1)).cast("long").as("bt"))
      fg.join(qt, Seq("query_id", "term"), "left_anti")
        .filter(col("fg") >= 2)
        .join(broadcast(ft), Seq("query_id"))
        .join(bg, Seq("term"))
        .crossJoin(broadcast(bt))
        .withColumn("jlh",
          expr("CAST((fg * bt - bg * ft) * fg AS DOUBLE) / (ft * ft * bg)"))
        .withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("jlh").desc, col("term").asc)))
        .filter(col("rn") <= 10)
        .select("query_id", "rn", "term", "fg", "bg", "jlh")
        .orderBy("query_id", "rn")
    },

    // R20: BM25F — the PRINCIPLED multi-field ranking (Robertson &
    // Zaragoza 2009, "simple BM25F"), beside r14's naive per-field
    // combination: r14 saturates each field separately and then adds
    // boosted per-field BM25 scores, which lets a term hit in N fields
    // contribute ~N saturated units; BM25F combines the
    // field-weighted, field-length-normalized term frequencies FIRST
    // (tfb = Σ_f w_f · tf_f / B_f, B_f the per-field length norm) and
    // saturates ONCE against a DOC-LEVEL idf — so cross-field
    // repetition saturates like within-field repetition, the property
    // that makes title stuffing ineffective. Same μ-quantization
    // discipline as contribSql (one ROUND to integer micro-units per
    // (doc, term); the two-field double sum is order-safe — IEEE
    // addition is commutative and a doc has exactly two fields).
    // OpsSpec recounts every score in plain Scala and pins the
    // policy DIFFERENCE from r14 (the rankings must diverge — two
    // identical policies would make the side-by-side pointless).
    // 100 TB shape: r14's — the one corpus token stream feeds the
    // field stats, the field tf frame and the doc-level df; the
    // combine and score run on the matched-token frame.
    // r18 serving rewrite (guide §2.4 "share one scan", §1.2
    // "algorithm first"; VERDICT r17 #3): the r17 engine body ran FOUR
    // corpus tokenize scans (field stats, per-field tf, doc-level df,
    // n_docs). Everything BM25F needs is already materialized:
    //  - per-field tf: the POSITIONAL postings artifact (bucket + IN
    //    pruned) — tf_title = |positions < 3|, tf_body = |ps| − tf_title
    //    (title IS the first-3-token slice, so the split is a position
    //    predicate);
    //  - dl and doc-level df: the scoring postings artifact (same
    //    pruning); field lengths are dl_t = least(dl,3), dl_b =
    //    greatest(dl−3,0);
    //  - field stats: a one-row fingerprint-keyed artifact
    //    (bm25f_fstats) derived from per-doc dl on the postings
    //    artifact + the stats artifact's n_docs — built once, ledger-
    //    logged like every artifact build.
    // Serving therefore reads |matched postings| rows from two pruned
    // artifact scans and NEVER tokenizes the corpus — r3's economics
    // extended to the multi-field ranker. Bit-equality: the per-field
    // double contributions are the oracle's expression verbatim
    // (left-assoc 3.0·tf/(0.25+0.75·dl_f/avg_f)); a field term is
    // added only when tf_f > 0 (mirroring row presence in the
    // oracle's ftf), and IEEE addition of the two field terms is
    // commutative, so tfb — and every downstream cm — is bit-equal.
    QueryDef.sql("r20_bm25f",
      s"""WITH q(query_id, term) AS (SELECT * FROM (VALUES $fixtureValuesSql)),
         |dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
         |flds AS (SELECT doc_id, 't' AS fld, toks[1:3] AS ftoks FROM dd
         |         UNION ALL
         |         SELECT doc_id, 'b' AS fld, toks[4:] AS ftoks FROM dd),
         |fst AS (SELECT fld, COUNT(*) AS n_docs_f,
         |               CAST(SUM(len(ftoks)) AS BIGINT) AS sum_dl_f
         |        FROM flds GROUP BY 1),
         |ex AS (SELECT doc_id, fld, len(ftoks) AS dl, unnest(ftoks) AS term FROM flds),
         |ftf AS (SELECT doc_id, fld, term, COUNT(*) AS tf, MAX(dl) AS dl FROM ex
         |        WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2, 3),
         |ddf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM (
         |          SELECT DISTINCT doc_id, term
         |          FROM (SELECT doc_id, unnest(toks) AS term FROM dd)
         |          WHERE term IN (SELECT DISTINCT term FROM q)) GROUP BY 1),
         |ndq AS (SELECT COUNT(*) AS n_docs FROM dd),
         |tfb AS (SELECT f.doc_id, f.term,
         |               SUM((CASE WHEN f.fld = 't' THEN 3.0 ELSE 1.0 END) * f.tf /
         |                   (0.25 + 0.75 * f.dl / (CAST(s.sum_dl_f AS DOUBLE) / s.n_docs_f)))
         |                 AS tfb
         |        FROM ftf f JOIN fst s ON s.fld = f.fld GROUP BY 1, 2),
         |bsc AS (SELECT q.query_id, t.doc_id,
         |               CAST(ROUND(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
         |                    ((t.tfb * 2.2) / (t.tfb + 1.2)) * 1000000, 0) AS BIGINT) AS cm
         |        FROM tfb t JOIN q ON q.term = t.term
         |                   JOIN ddf ON ddf.term = t.term CROSS JOIN ndq),
         |agg AS (SELECT query_id, doc_id, CAST(SUM(cm) AS BIGINT) AS score_micro
         |        FROM bsc GROUP BY 1, 2),
         |ranked AS (SELECT query_id, doc_id, score_micro,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY score_micro DESC, doc_id) AS rn
         |           FROM agg)
         |SELECT query_id, rn, doc_id, score_micro FROM ranked WHERE rn <= 10
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val qterms = fixtureQueries.toDF("query_id", "term")
      val terms = fixtureQueries.map(_._2).distinct
      val bkts = terms.map(termBucket).distinct.map(Int.box)
      // one-row field-stats artifact: zero-token docs have no postings
      // but DO count toward n_docs_f — they come in through the stats
      // artifact's corpus-counted n_docs and add 0 to both length sums
      val fstats = graft.sinks.VersionedStore.corpusArtifact(s, d,
          "bm25f_fstats", logicKey = s"t=toks[1:3] b=toks[4:] $RawAnalyzerSql") {
        out =>
          indexArtifact(s, d).groupBy("doc_id").agg(max("dl").as("dl"))
            .agg(sum(expr("least(dl, 3)")).cast("long").as("sum_dl_t"),
              sum(expr("greatest(dl - 3, 0)")).cast("long").as("sum_dl_b"))
            .crossJoin(statsArtifact(s, d).select(col("n_docs")))
            .select("n_docs", "sum_dl_t", "sum_dl_b")
            .write.parquet(out)
      }
      val pos = posIndexArtifact(s, d)
        .filter(col("bkt").isin(bkts: _*))
        .filter(col("term").isin(terms: _*))
        .select(col("term"), col("doc_id"),
          size(expr("filter(ps, p -> p < 3)")).as("tf_t"),
          size(col("ps")).as("tf_all"))
      val idxp = indexArtifact(s, d)
        .filter(col("bkt").isin(bkts: _*))
        .filter(col("term").isin(terms: _*))
        .select("term", "doc_id", "dl", "df")
      val scored = idxp.join(pos, Seq("term", "doc_id"))
        .crossJoin(broadcast(fstats))
        .withColumn("tfb", expr(
          "CASE WHEN tf_t > 0 THEN 3.0 * tf_t / " +
            "(0.25 + 0.75 * least(dl, 3) / (CAST(sum_dl_t AS DOUBLE) / n_docs)) " +
            "ELSE 0.0 END + " +
          "CASE WHEN tf_all - tf_t > 0 THEN 1.0 * (tf_all - tf_t) / " +
            "(0.25 + 0.75 * greatest(dl - 3, 0) / (CAST(sum_dl_b AS DOUBLE) / n_docs)) " +
            "ELSE 0.0 END"))
        .join(broadcast(qterms), Seq("term"))
        .withColumn("cm", expr(
          "CAST(ROUND(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * " +
            "((tfb * 2.2) / (tfb + 1.2)) * 1000000, 0) AS BIGINT)"))
        .groupBy("query_id", "doc_id")
        .agg(sum("cm").cast("long").as("score_micro"))
      topK(scored, 10)
        .select("query_id", "rn", "doc_id", "score_micro")
        .orderBy("query_id", "rn")
    },

    // E2E3: the full SERVING chain as one operator — what actually
    // happens between a user's keystrokes and a result page:
    // misspelled query → did-you-mean correction served from the
    // materialized term dictionary (r11's path, zero postings reads)
    // → BM25 over the corrected terms served from the bucket+IN-pruned
    // postings artifact (r3's path) → per-source crowding cap on the
    // final ranking (r18's two stacked windows). The stage contracts
    // compose: an UNCORRECTABLE query (no dictionary term within
    // distance 2) yields NO results — it exits the chain at stage 1
    // rather than flowing garbage downstream (OpsSpec teeth). The
    // corrected terms are collected driver-side (fixture-bounded, ≤ 6
    // rows — the same bounded-literal discipline as every indexed
    // read path: plan-time bucket pruning NEEDS literal terms).
    // 100 TB shape: each stage's own (dictionary gram-bucket reads,
    // pruned postings scan, match-set windows + column-pruned
    // metadata join) — the chain adds composition, not new scans;
    // PlanSpec pins the text column absent from every serve-time scan.
    QueryDef.sql("e2e3_spell_serve",
      s"""WITH dd AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
         |vocab AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |          FROM (SELECT doc_id, unnest(toks) AS term FROM dd) GROUP BY 1),
         |mq(query_id, mis) AS (SELECT * FROM (VALUES
         |  (CAST(0 AS BIGINT), 'spak'), (CAST(1 AS BIGINT), 'joinn'),
         |  (CAST(2 AS BIGINT), 'windw'), (CAST(3 AS BIGINT), 'custmer'),
         |  (CAST(4 AS BIGINT), 'tble'), (CAST(5 AS BIGINT), 'zzzzzzzzzz'))),
         |cand AS (SELECT mq.query_id, v.term,
         |                CAST(levenshtein(mq.mis, v.term) AS BIGINT) AS dist, v.df
         |         FROM mq CROSS JOIN vocab v
         |         WHERE levenshtein(mq.mis, v.term) <= 2),
         |q(query_id, term) AS (
         |  SELECT query_id, term FROM (
         |    SELECT query_id, term,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY dist, df DESC, term) AS crn
         |    FROM cand) WHERE crn = 1),
         |${bm25ChainSql(excludeSelf = false)},
         |wsrc AS (SELECT a.query_id, a.doc_id, a.score_micro, s.source
         |         FROM agg a JOIN (SELECT doc_id, source FROM documents) s
         |           ON s.doc_id = a.doc_id),
         |capped AS (SELECT query_id, doc_id, score_micro, source,
         |                  row_number() OVER (PARTITION BY query_id, source
         |                                     ORDER BY score_micro DESC, doc_id) AS srn
         |           FROM wsrc),
         |ranked AS (SELECT query_id, doc_id, score_micro, source,
         |                  row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY score_micro DESC, doc_id) AS rn
         |           FROM capped WHERE srn <= 2)
         |SELECT query_id, rn, doc_id, source, score_micro FROM ranked WHERE rn <= 10
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val mis = Seq((0, "spak"), (1, "joinn"), (2, "windw"),
        (3, "custmer"), (4, "tble"), (5, "zzzzzzzzzz"))
      val corrected: Seq[(Long, String)] = spellCandidates(s, d, mis)
        .withColumn("dist", levenshtein(col("mis"), col("term"), 2).cast("long"))
        .filter(col("dist") >= 0)
        .withColumn("crn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("dist").asc, col("df").desc, col("term").asc)))
        .filter(col("crn") === 1)
        .select(col("qid").cast("long"), col("term"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
      val qt = corrected.toDF("query_id", "term")
      val terms = corrected.map(_._2).distinct
      val scored = servedScores(indexArtifact(s, d), statsArtifact(s, d),
        qt, terms, excludeSelf = false)
      scored
        .join(Tables.documents(s, d).select("doc_id", "source"), Seq("doc_id"))
        .withColumn("srn", row_number().over(Window.partitionBy("query_id", "source")
          .orderBy(col("score_micro").desc, col("doc_id").asc)))
        .filter(col("srn") <= 2)
        .withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("score_micro").desc, col("doc_id").asc)))
        .filter(col("rn") <= 10)
        .select("query_id", "rn", "doc_id", "source", "score_micro")
        .orderBy("query_id", "rn")
    }
  )
}
