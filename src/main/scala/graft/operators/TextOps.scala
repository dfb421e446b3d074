package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.sources.Tables

/** Text-analysis + deduplication operators for large-scale training-data
  * pipelines, over the `documents` table. All operators are formulated
  * shuffle-consciously: tokenization/shingling is narrow; candidate
  * generation uses inverted-index or band joins (never a cross join), so
  * cost scales with shared-feature co-occurrence, not n².
  *
  * Cross-engine hashing: a 60-bit hash derived from md5 hex
  * (`conv(substr(md5(x),1,15),16,10)` in Spark ≡
  * `CAST('0x'||substr(md5(x),1,15) AS BIGINT)` in DuckDB) makes
  * hash-based operators (fingerprints, SimHash) oracle-checkable.
  */
object TextOps {

  /** Per-partition Misra-Gries heavy-hitter candidates over a stream of
    * terms: each partition keeps at most `k` counters (decrement-all on
    * overflow — the space-saving step), then the ≤ partitions·k
    * surviving (term, lower-bound count) rows MERGE by summing. The
    * returned single `term` column is the candidate SET: guaranteed to
    * contain every term with global count > n/(k+1) — the MG bound,
    * pinned in OpsSpec on a planted skew corpus. Memory is O(k) per
    * task regardless of vocabulary size; the token stream never
    * shuffles. mapPartitions is deliberate: MG's stateful
    * decrement-all has no Column/agg form (a groupBy would BE the
    * exact shuffle the sketch exists to avoid).
    */
  def heavyHitterCandidates(s: SparkSession, terms: DataFrame,
      k: Int): DataFrame = {
    import s.implicits._
    terms.select(col("term").cast("string")).as[String]
      .mapPartitions { it =>
        val m = new java.util.HashMap[String, Long](k * 2)
        it.foreach { w =>
          // absent unboxes to 0L; stored counts are never 0 (removed at
          // 1 → 0), so 0 ⇔ absent
          val cur = m.get(w)
          if (cur != 0L) m.put(w, cur + 1L)
          else if (m.size < k) m.put(w, 1L)
          else {
            val e = m.entrySet().iterator()
            while (e.hasNext) {
              val en = e.next()
              if (en.getValue == 1L) e.remove() else en.setValue(en.getValue - 1L)
            }
          }
        }
        scala.jdk.CollectionConverters.IteratorHasAsScala(
          m.entrySet().iterator()).asScala.map(en => (en.getKey, en.getValue))
      }
      .toDF("term", "c_lower")
      .groupBy("term").agg(sum("c_lower").as("c_lower"))
      .select("term")
  }

  /** Portable 60-bit content hash (identical in Spark and DuckDB). */
  // Native form of conv(substring(md5(c), 1, 15), 16, 10).cast("long")
  // — bit-identical (see Md5Prefix60), built directly from the
  // expression so no session registry is needed at call time.
  def phash(c: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.functions.Md5Prefix60(
        org.apache.spark.sql.graftshim.ColumnShim.expression(c)))
  val phashSql: String => String =
    x => s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT)"

  // PII regexes shared by the t7 engine and oracle sides (single-quoted
  // into the SQL verbatim — no dialect-divergent metacharacters).
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+1-555-[0-9]{4}"
  private val SsnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  // Marker-word sets for the n-gram language-ID heuristic.
  private val enRe = "\\b(the|a|of|and|in|to|is)\\b"
  private val esRe = "\\b(el|la|de|los|las|una|es)\\b"
  private val frRe = "\\b(le|la|les|des|une|est|et)\\b"

  // Language-ID classifier, single-sourced for t2 (per-doc) and t2b
  // (its confusion-matrix eval) in BOTH dialects — the eval only means
  // something if it scores exactly the classifier t2 ships.
  private val langHitsSql: String =
    s"""len(regexp_extract_all(text, '$enRe')) AS en_hits,
       |                   len(regexp_extract_all(text, '$esRe')) AS es_hits,
       |                   len(regexp_extract_all(text, '$frRe')) AS fr_hits""".stripMargin
  private val langGuessSql: String =
    """CASE WHEN en_hits = 0 AND es_hits = 0 AND fr_hits = 0 THEN 'und'
      |                  WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
      |                  WHEN es_hits >= fr_hits THEN 'es'
      |                  ELSE 'fr' END""".stripMargin
  private def langHitCols: Seq[Column] = Seq(
    regexp_count(col("text"), lit(enRe)).as("en_hits"),
    regexp_count(col("text"), lit(esRe)).as("es_hits"),
    regexp_count(col("text"), lit(frRe)).as("fr_hits"))
  private def langGuessCol: Column =
    when(col("en_hits") === 0 && col("es_hits") === 0 && col("fr_hits") === 0, "und")
      .when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("fr_hits"), "en")
      .when(col("es_hits") >= col("fr_hits"), "es")
      .otherwise("fr")

  // Quality formula, single-sourced for t3 (per-doc scoring) and
  // e2e_corpus_prep (its gate) in BOTH dialects — the gate only means
  // something if it applies exactly the score t3 ships. The features
  // (n_tokens, alpha_ratio, stop_ratio) are computed once as aliases
  // and the formula references the aliases (never re-derives from
  // text). SQL fragments stay single-line (stripMargin eats a leading
  // '|' of any embedded multi-line fragment).
  private[operators] val qualityFeaturesSql: String =
    s"len(regexp_extract_all(text, '[a-z]+')) AS n_tokens, " +
      "CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / NULLIF(length(text), 0) AS alpha_ratio, " +
      s"CAST(len(regexp_extract_all(text, '$enRe')) AS DOUBLE) / NULLIF(len(regexp_extract_all(text, '[a-z]+')), 0) AS stop_ratio"
  private[operators] val qualityFormulaSql: String =
    "0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) + 0.3 * alpha_ratio + 0.3 * LEAST(stop_ratio * 5.0, 1.0)"
  private[operators] def qualityFeatureCols: Seq[Column] = Seq(
    regexp_count(col("text"), lit("[a-z]+")).as("n_tokens"),
    // NULLIF: Spark (ANSI off) gives NULL for x/0, DuckDB gives IEEE
    // NaN/inf — force NULL in both engines
    (length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
      nullif(length(col("text")), lit(0))).as("alpha_ratio"),
    (regexp_count(col("text"), lit(enRe)).cast("double") /
      nullif(regexp_count(col("text"), lit("[a-z]+")), lit(0))).as("stop_ratio"))
  private[operators] def qualityCol: Column =
    lit(0.4) * least(col("n_tokens").cast("double") / 50.0, lit(1.0)) +
      lit(0.3) * col("alpha_ratio") +
      lit(0.3) * least(col("stop_ratio") * 5.0, lit(1.0))

  /** t3's quality score as a reusable (doc_id, text, quality)
    * projection — the ONE formula instance the batch gate (e2e2) and
    * the streaming gate (StreamPrep) both apply, so "gated at ingest"
    * and "gated in the batch sweep" can never disagree.
    */
  def qualityScored(docs: DataFrame): DataFrame =
    docs.select(Seq(col("doc_id"), col("text")) ++ qualityFeatureCols: _*)
      .select(col("doc_id"), col("text"), qualityCol.as("quality"))

  /** The designated stop set for t20's stop-word rule: t3's English
    * marker words (the corpus's actual function-word register) —
    * distinct members present must be ≥ 2. Declared BEFORE `defs`
    * (which captures it while building t20's oracle SQL — a forward
    * reference would be null at object init).
    */
  val GopherStops = Seq("the", "a", "of", "and", "in", "to", "is")

  /** t20's rule battery as a reusable map-only projection over
    * (doc_id, source, text) — see the t20 QueryDef comment for
    * semantics. Exposed so OpsSpec can feed planted single-rule
    * violators (the clean fixture only trips two of the five rules).
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val nStop = GopherStops.map(w =>
      when(col("text").rlike(s"\\b$w\\b"), 1L).otherwise(0L)).reduce(_ + _)
    docs.select(
        col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("sum_len"),
        regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("long").as("n_sym"),
        // [a-zA-Z]: Gopher's rule is "contains at least one ALPHABETIC
        // character" — case-free, so acronyms ("NASA") and "I" count
        size(filter(split(col("text"), " "),
          w => w.rlike("[a-zA-Z]"))).cast("long").as("n_alpha"),
        nStop.as("n_stop"))
      .select(col("doc_id"), col("source"), col("n_words"), col("n_stop"),
        col("n_words").between(50L, 100000L).as("r_wordcount"),
        (lit(3L) * col("n_words") <= col("sum_len") &&
          col("sum_len") <= lit(10L) * col("n_words")).as("r_wordlen"),
        (lit(10L) * col("n_sym") <= col("n_words")).as("r_symbols"),
        (lit(5L) * col("n_alpha") >= lit(4L) * col("n_words")).as("r_alpha"),
        (col("n_stop") >= 2L).as("r_stops"))
      .withColumn("pass",
        col("r_wordcount") && col("r_wordlen") && col("r_symbols") &&
          col("r_alpha") && col("r_stops"))
  }

  /** (doc_id, h) distinct 8-word-block hashes per doc — the d8 passage
    * fingerprint stage, exposed for the partial-overlap unit test.
    * Blocks come from a pure array transform (narrow, deterministic
    * order — collect_list after an explode would not be).
    */
  def passageBlockHashes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(0, CAST(ceil(size(ws) / 8.0) AS INT) - 1)," +
            " i -> concat_ws(' ', slice(ws, i * 8 + 1, 8)))")).as("block"))
      .select(col("doc_id"), phash(col("block")).as("h"))
      .distinct()

  /** Single-sourced substring-span-removal core (d19's algorithm over
    * an arbitrary (doc_id, ws) corpus CTE): duplicate evidence = 8-word
    * windows in ≥ 2 distinct docs; the lexicographically-first
    * (doc_id, i) occurrence per window is canonical; all other
    * occurrences' windows merge into maximal islands and are cut;
    * surviving tokens reassemble in order. The SQL side emits the CTE
    * chain win/dup/cutw/covp/tokp/surv/agg over `$src`; consumers
    * SELECT from `$src LEFT JOIN agg` (docs with nothing cut have no
    * agg row). Shared by d19_span_removal and e2e2_span_prep so the
    * two can never drift.
    */
  private[operators] def spanCutSql(src: String): String =
    s"""win AS (SELECT doc_id, i, ${phashSql("array_to_string(ws[i + 1 : i + 8], ' ')")} AS h
       |        FROM (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 8)) AS i
       |              FROM $src WHERE len(ws) >= 8)),
       |dup AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM win)
       |        GROUP BY h HAVING COUNT(*) >= 2),
       |cutw AS (SELECT doc_id, i FROM (
       |         SELECT doc_id, i, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
       |         FROM win JOIN dup USING (h)) WHERE rn > 1),
       |covp AS (SELECT DISTINCT doc_id, p
       |         FROM (SELECT doc_id, unnest(generate_series(i, i + 7)) AS p FROM cutw)),
       |tokp AS (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 1)) AS p FROM $src),
       |surv AS (SELECT t.doc_id, t.p, t.ws[t.p + 1] AS tok
       |         FROM tokp t LEFT JOIN covp v ON t.doc_id = v.doc_id AND t.p = v.p
       |         WHERE v.doc_id IS NULL),
       |agg AS (SELECT doc_id, array_to_string(list(tok ORDER BY p), ' ') AS text_clean,
       |               CAST(COUNT(*) AS BIGINT) AS n_after
       |        FROM surv GROUP BY doc_id)""".stripMargin

  /** Engine twin of [[spanCutSql]]: input (doc_id, ws, ...), output the
    * input plus a `kept` array column (surviving tokens in order). The
    * window stream feeds the dup-evidence agg and the canonical
    * ranking: derived from `c` and checkpointed by default, or (r18)
    * supplied prebuilt via `win0` — d19 passes the stored
    * [[spanWindowHashes]] artifact, whose parquet scans need no
    * checkpoint; e2e2's corpus is a mid-pipeline survivor set, so it
    * keeps deriving from text. The rewrite is a narrow per-doc array
    * filter after one doc_id join against the sparse span lists.
    */
  private[operators] def spanCleaned(c: DataFrame,
      win0: Option[DataFrame] = None): DataFrame = {
    val win = win0.getOrElse(c.filter(size(col("ws")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 8), " +
          "i -> struct(i AS i, concat_ws(' ', slice(ws, i + 1, 8)) AS w))")).as("s"))
      .select(col("doc_id"), col("s.i").cast("long").as("i"),
        phash(col("s.w")).as("h"))
      .localCheckpoint()) // feeds the dup-evidence agg and the ranking
    // "window in >= 2 distinct docs" ⟺ min(doc_id) != max(doc_id):
    // one h-keyed exchange with map-side partial min/max, where the
    // distinct-then-count form paid a (h, doc_id) exchange AND an
    // h exchange (r17 optimization; same h set exactly)
    val dup = win.groupBy("h")
      .agg(min("doc_id").as("__lo"), max("doc_id").as("__hi"))
      .filter(col("__lo") =!= col("__hi")).select("h")
    val hspec = Window.partitionBy("h").orderBy("doc_id", "i")
    val cutw = win.join(dup, Seq("h"))
      .withColumn("rn", row_number().over(hspec))
      .filter(col("rn") > 1)
      .select("doc_id", "i")
    val wspec = Window.partitionBy("doc_id").orderBy("i")
    val spans = cutw
      .withColumn("brk",
        when(lag("i", 1).over(wspec).isNull ||
          col("i") - lag("i", 1).over(wspec) > 8, 1).otherwise(0))
      .withColumn("grp", sum("brk").over(wspec))
      .groupBy("doc_id", "grp")
      .agg(min("i").as("a"), (max("i") + 8).as("b"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("a"), col("b"))).as("spans"))
    c.join(spans, Seq("doc_id"), "left")
      .withColumn("kept",
        expr("CASE WHEN spans IS NULL THEN ws ELSE " +
          "filter(transform(ws, (t, p) -> " +
          "IF(exists(spans, sp -> p >= sp.a AND p < sp.b), CAST(NULL AS STRING), t)), " +
          "t -> t IS NOT NULL) END"))
      .drop("spans")
  }

  /** Duplicate-injected corpus: every doc with doc_id % 10 = 0 appears
    * again under doc_id+1000000 (the raw table has no exact dupes, so
    * dedup needs planted ones to have observable behavior). Shared by
    * every dedup operator (d1/d1b/d2/d4b) — keep the Scala and SQL
    * forms in lockstep.
    */
  def withDupes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .union(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))

  val withDupesSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0""".stripMargin

  // SimHash: 32 sign-accumulator bits from the portable token hash.
  // Both sides are generated from the same template so they cannot drift.
  // each term parenthesized: in DuckDB `+` binds tighter than `<<`
  private def simhashBitsSqlDuck: String =
    (0 until 32).map { i =>
      s"(CAST(CASE WHEN SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS BIGINT) << $i)"
    }.mkString(" + ")
  private def simhashBitsSqlSpark: String =
    (0 until 32).map { i =>
      s"shiftleft(CAST(CASE WHEN SUM(CASE WHEN (shiftright(h, $i) & 1) = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS BIGINT), $i)"
    }.mkString(" + ")

  /** doc → (doc_id, shingle) distinct word-3-gram shingles. Computed
    * NARROWLY with array `transform` over the token array (no shuffle,
    * no window sort — the per-doc token order is already the array
    * order); only the final distinct shuffles. Produces exactly the
    * same shingle set as a lead()-window formulation.
    */
  def shingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(shingleArray).as("shingle"))
      .distinct()

  /** A doc's word-3-gram shingles as an array over its `toks` token
    * column (empty below 3 tokens, may repeat) — [[shingles]]' per-doc
    * body, and the streaming screen's, which signs each doc in place.
    */
  private[graft] def shingleArray: Column =
    when(size(col("toks")) >= 3,
      expr("transform(sequence(0, size(toks) - 3), " +
        "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"))
      .otherwise(array().cast("array<string>"))

  // NOTE: single-line body — fragments embedded in other stripMargin
  // strings must not contain lines starting with '|' (concat operator).
  /** Word-3-gram shingle CTE body over an arbitrary corpus source
    * (table name or parenthesized subquery).
    */
  def shinglesSqlFrom(src: String): String =
    "SELECT DISTINCT doc_id, shingle FROM (" +
      " SELECT doc_id, w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle" +
      s" FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w, generate_subscripts(string_split(text, ' '), 1) AS pos FROM $src)" +
      ") WHERE shingle IS NOT NULL"

  private val shinglesSql = shinglesSqlFrom("documents")

  /** Materialized shingle index, the warehouse artifact the dedup
    * family shares: building the (doc_id, shingle) set once per corpus
    * and running MANY passes over it (Jaccard, containment, MinHash,
    * clustering) is how a 100 TB dedup pipeline actually amortizes its
    * dominant cost — at that scale the index is a first-class table,
    * not a per-query recomputation. Published through
    * [[graft.sinks.VersionedStore]] (immutable version dir + atomic
    * single-object pointer flip — object-store-safe, no directory
    * rename), keyed by an sf-specific base AND a fingerprint of the
    * source parquet files, so regenerating `documents` at the same path
    * invalidates the cache instead of serving a stale index. The DuckDB
    * oracles still recompute from raw text, so the index contents stay
    * end-to-end verified.
    */
  def shingleIndex(s: SparkSession, d: String, withPlantedDupes: Boolean): DataFrame = {
    val variant = if (withPlantedDupes) "dupes" else "plain"
    graft.sinks.VersionedStore.corpusArtifact(s, d, s"shingle_idx_$variant") { out =>
      val corpus = if (withPlantedDupes) withDupes(Tables.documents(s, d))
        else Tables.documents(s, d).select("doc_id", "text")
      shingles(corpus).write.parquet(out)
    }
  }

  /** The shingle index over d14's GRADED near-dup corpus — the same
    * build-once artifact discipline as [[shingleIndex]], for the
    * detectors graded against that planting (d20; d14 recomputes by
    * design — its recall gate times the full pipeline). Oracles still
    * recompute from raw text, keeping the artifact end-to-end
    * verified.
    *
    * r18: the rows additionally carry d20's PREFIX-RANK state — hs
    * (the 64-bit shingle hash the candidate join keys on), n (the
    * doc's shingle-set size) and rk (the doc's rarest-first rank:
    * row_number over (df-per-hash asc, shingle asc)) — all pure
    * derived state of the corpus, exactly like the df/tf/dl columns
    * the BM25 postings artifact stores. Serving previously re-derived
    * them with two corpus-scale window exchanges (hs-keyed df count +
    * doc_id-keyed count/rank) on EVERY run; now the windows run once
    * at build and every serve is filter + join over the stored rows.
    * The prefix lemma only needs ONE consistent global order, which
    * (sdf, shingle) — both functions of the shingle — remains.
    */
  def gradedShingleIndex(s: SparkSession, d: String): DataFrame =
    graft.sinks.VersionedStore.corpusArtifact(s, d, "shingle_idx_graded",
        logicKey = "prefix-ranked xxh64 v2") { out =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.union(MinHash.gradedPlanting(docs)._1.select("doc_id", "text"))
      shingles(corpus)
        .withColumn("hs", xxhash64(col("shingle")))
        .withColumn("sdf", count(lit(1)).over(Window.partitionBy("hs")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("sdf").asc, col("shingle").asc)))
        .select("doc_id", "shingle", "hs", "n", "rk")
        .write.parquet(out)
    }

  /** DISTINCT (doc_id, h) 8-word sliding-window hashes of the PLAIN
    * corpus, as a build-once fingerprint-keyed artifact (r18) — the
    * decontamination screens' shared signature store, the same stored
    * dedup-signature class as [[shingleIndex]] and the MinHash
    * signature store. d7b (threshold-overlap) and d22 (Bloom screen)
    * previously re-derived this stream (corpus-wide explode + hash +
    * distinct, the dominant profiled stage in both) behind per-query
    * localCheckpoints on every execution; both now serve from the
    * stored rows (d7b's per-(doc, bench) hit count is COUNT(DISTINCT
    * h), so the distinct store is semantics-preserving there too).
    * Oracles still recompute from raw text.
    */
  def docWindowHashes(s: SparkSession, d: String): DataFrame =
    graft.sinks.VersionedStore.corpusArtifact(s, d, "doc_window_hashes",
        logicKey = "w8 phash distinct v1") { out =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ws) - 8), " +
            "i -> concat_ws(' ', slice(ws, i + 1, 8)))")).as("w"))
        .select(col("doc_id"), phash(col("w")).as("h"))
        .distinct()
        .write.parquet(out)
    }

  /** The d18/d19 POSITIONAL window-hash store: (doc_id, i, h) sliding
    * 8-word windows over the span-dedup fixture corpus (documents +
    * d18's shifted partial copies at +3e7 for doc_id%5, len≥48) — the
    * positional fingerprint table the Lee et al. substring pipeline
    * keeps, [[graft.operators.Retrieval.posIndexArtifact]]'s analogue
    * for span dedup. Both span queries previously re-derived it from
    * text behind a localCheckpoint on every execution (their dominant
    * profiled stage); same build-once fingerprint discipline as
    * [[docWindowHashes]], plant recipe in the logic key.
    */
  def spanWindowHashes(s: SparkSession, d: String): DataFrame =
    graft.sinks.VersionedStore.corpusArtifact(s, d, "span_window_hashes",
        logicKey = "w8 phash positional shift%5+3e7 v1") { out =>
      val sp0 = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val planted = sp0.filter(col("doc_id") % 5 === 0 && size(col("ws")) >= 48)
        .select(col("doc_id"), col("ws"),
          expr("transform(sequence(0, 7), " +
            "i -> concat('x', CAST(doc_id AS STRING), 'f', CAST(i AS STRING)))").as("fill"))
        .select((col("doc_id") + 30000000L).as("doc_id"),
          expr("concat(slice(ws, 1, 12), fill, slice(ws, 31, 12))").as("ws"))
      sp0.unionByName(planted)
        .filter(size(col("ws")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ws) - 8), " +
            "i -> struct(i AS i, concat_ws(' ', slice(ws, i + 1, 8)) AS w))")).as("s"))
        .select(col("doc_id"), col("s.i").cast("long").as("i"),
          phash(col("s.w")).as("h"))
        .write.parquet(out)
    }

  /** d21's window-hash store: DISTINCT (doc_id, h) over the NOVELTY
    * fixture corpus (documents + exact copies at +1e6 for doc_id%10 +
    * d18's shifted partial copies at +3e7 for doc_id%5) — the arrival
    * index a growing corpus maintains incrementally in production.
    * Same discipline as [[docWindowHashes]]; the plant recipe is part
    * of the logic key.
    */
  def noveltyWindowHashes(s: SparkSession, d: String): DataFrame =
    graft.sinks.VersionedStore.corpusArtifact(s, d, "novelty_window_hashes",
        logicKey = "w8 phash exact%10+1e6 shift%5+3e7 distinct v1") { out =>
      val sp0 = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val exact = sp0.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("ws"))
      val shifted = sp0.filter(col("doc_id") % 5 === 0 && size(col("ws")) >= 48)
        .select(col("doc_id"), col("ws"),
          expr("transform(sequence(0, 7), " +
            "i -> concat('x', CAST(doc_id AS STRING), 'f', CAST(i AS STRING)))").as("fill"))
        .select((col("doc_id") + 30000000L).as("doc_id"),
          expr("concat(slice(ws, 1, 12), fill, slice(ws, 31, 12))").as("ws"))
      sp0.unionByName(exact).unionByName(shifted)
        .filter(size(col("ws")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ws) - 8), " +
            "i -> concat_ws(' ', slice(ws, i + 1, 8)))")).as("w"))
        .select(col("doc_id"), phash(col("w")).as("h"))
        .distinct()
        .write.parquet(out)
    }

  /** Shared candidate-pair mechanics of d3 (Jaccard) and d6
    * (containment): inverted-index self-join over df-capped shingles →
    * (doc1, doc2, inter, n1, n2). One definition per dialect so the two
    * measures can never disagree about which pairs exist.
    */
  def shinglePairs(docs: DataFrame, dfCap: Int = 50): DataFrame =
    // sh fans out 4 ways (sizes, df-cap, both self-join sides);
    // materialize once — localCheckpoint, not persist, so the blocks
    // are GC-released (see MinHash.nearDupPairs).
    shinglePairsFrom(shingles(docs).localCheckpoint(), dfCap)

  /** Materialized candidate-pair table `(doc1, doc2, inter, n1, n2)`,
    * the second-stage artifact over [[shingleIndex]]: Jaccard (d3) and
    * containment (d6) are different SCORES of the same pair stats, so a
    * corpus-prep pipeline computes the inverted-index self-join once
    * and derives every similarity measure from it. Published through
    * [[graft.sinks.VersionedStore]], keyed by the same source
    * fingerprint as the index (regenerated corpus ⇒ rebuild). Oracles
    * still recompute pairs from raw text, keeping the artifact
    * end-to-end verified.
    */
  def pairsArtifact(s: SparkSession, d: String, withPlantedDupes: Boolean): DataFrame = {
    val variant = if (withPlantedDupes) "dupes" else "plain"
    graft.sinks.VersionedStore.corpusArtifact(s, d, s"shingle_pairs_$variant") { out =>
      shinglePairsFrom(shingleIndex(s, d, withPlantedDupes)).write.parquet(out)
    }
  }

  /** [[shinglePairs]] over an already-materialized shingle frame
    * (e.g. [[shingleIndex]]).
    */
  def shinglePairsFrom(sh: DataFrame, dfCap: Int = 50): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val capped = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("shingle")
    val shc = sh.join(capped, "shingle")
    shc.select(col("doc_id").as("doc1"), col("shingle"))
      .join(shc.select(col("doc_id").as("doc2"), col("shingle")), Seq("shingle"))
      .filter(col("doc1") < col("doc2"))
      .groupBy("doc1", "doc2").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc1"), col("n").as("n1")), "doc1")
      .join(sizes.select(col("doc_id").as("doc2"), col("n").as("n2")), "doc2")
  }

  /** SQL twin of [[shinglePairs]]: CTE chain ending in `pairstats`
    * (doc1, doc2, inter, n1, n2) over `src`.
    */
  def shinglePairsCteSql(src: String, dfCap: Int = 50): String =
    s"""sh AS (${shinglesSqlFrom(src)}),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |capped AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= $dfCap),
       |shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN capped USING (shingle)),
       |spairs AS (
       |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
       |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY doc1, doc2),
       |pairstats AS (
       |  SELECT doc1, doc2, inter, s1.n AS n1, s2.n AS n2
       |  FROM spairs JOIN sizes s1 ON doc1 = s1.doc_id
       |              JOIN sizes s2 ON doc2 = s2.doc_id)""".stripMargin

  // ---- d7b core, single-sourced for the batch query and its
  // streaming twin (streaming/StreamDecontam) -------------------------

  /** The d7b bench-item fixture over a tokenized doc frame
    * (`doc_id`, `ws`): the 5 organic items (doc_id < 5) plus their
    * paraphrase plants (8 unique fillers + a 24-word verbatim slice,
    * bench_id + 100) — the items verbatim d7 misses and d7b catches.
    */
  private[graft] def d7bBenchFixture(sp: DataFrame): DataFrame = {
    val benchDocs = sp.filter(col("doc_id") < 5)
    benchDocs
      .select(col("doc_id").as("bench_id"), col("ws").as("bws"))
      .unionByName(benchDocs
        .select(col("doc_id"), col("ws"),
          expr("transform(sequence(0, 7), " +
            "i -> concat('z', CAST(doc_id AS STRING), 'p', CAST(i AS STRING)))").as("fill"))
        .select((col("doc_id") + 100L).as("bench_id"),
          expr("concat(fill, slice(ws, 1, 24))").as("bws")))
  }

  /** Distinct 8-gram window hashes of a bench-item frame
    * (`bench_id`, `bws` token array) — the broadcast side of the
    * decontamination screen. Fixture-sized; callers checkpoint/cache.
    */
  private[graft] def d7bBenchWindows(bench: DataFrame): DataFrame =
    bench.filter(size(col("bws")) >= 8)
      .select(col("bench_id"), explode(expr(
        "transform(sequence(0, size(bws) - 8), " +
          "i -> concat_ws(' ', slice(bws, i + 1, 8)))")).as("w"))
      .select(col("bench_id"), phash(col("w")).as("h"))
      .distinct()

  /** The threshold-overlap verdicts for a doc frame (`doc_id`, `ws`
    * token array) against a bench-window frame: per (doc, item), the
    * fraction of the item's distinct windows present in the doc,
    * flagged at ≥ 50% in integer ppm. One narrow window-hash
    * projection over the docs; the bench side broadcasts at both the
    * probe and totals joins. Per-doc output depends only on that doc
    * and the bench fixture — batch-cut independent, which is what
    * makes the streaming twin's replay convergence trivial.
    */
  private[graft] def d7bVerdicts(sp: DataFrame, bw: DataFrame): DataFrame =
    d7bVerdictsFromWindows(d7bDocWindows(sp), bw)

  /** Per bench item, its number of distinct windows (`bench_id`,
    * `n_item_windows`) — the denominator of every verdict. Fixture-sized.
    */
  private[graft] def d7bBenchTotals(bw: DataFrame): DataFrame =
    bw.groupBy("bench_id").agg(count(lit(1)).cast("long").as("n_item_windows"))

  /** [[d7bVerdicts]] in place, the streaming entry: `docs` (doc_id, ws,
    * ...) with `verdicts` added — for each row where `on` holds, its
    * flagged (bench_id, n_item_windows, n_present, overlap_ppm) rows as
    * an array, NULL when it has none. `bench` is the (bench_id, h,
    * n_item_windows) fixture — [[d7bBenchWindows]] with its
    * [[d7bBenchTotals]] — built once up front, so a micro-batch does not
    * recount it. A row's window hashes meet the broadcast fixture and
    * fold back into that row (no join back to `docs`); the hits,
    * threshold and ppm are [[d7bVerdicts]]'.
    */
  private[graft] def d7bVerdictsInPlace(docs: DataFrame, on: Column,
      bench: DataFrame): DataFrame = {
    val keys = docs.columns.map(col).toSeq
    docs.select(col("*"), explode_outer(when(on && size(col("ws")) >= 8,
        docWindows)).as("__w"))
      .select(col("*"), phash(col("__w")).as("__wh"))
      .join(broadcast(bench.withColumnRenamed("h", "__wh")), Seq("__wh"), "left")
      .groupBy(keys :+ col("bench_id") :+ col("n_item_windows"): _*)
      .agg(countDistinct("__wh").cast("long").as("n_present"))
      .groupBy(keys: _*)
      .agg(collect_list(when(d7bFlagged, struct(col("bench_id"), col("n_item_windows"),
        col("n_present"), d7bPpm.as("overlap_ppm")))).as("verdicts"))
      .withColumn("verdicts", when(size(col("verdicts")) > 0, col("verdicts")))
  }

  /** A doc's 8-gram windows over its `ws` token array (≥ 8 tokens). */
  private def docWindows: Column =
    expr("transform(sequence(0, size(ws) - 8), i -> concat_ws(' ', slice(ws, i + 1, 8)))")

  /** The verdict threshold: at least half of the item's windows present. */
  private def d7bFlagged: Column = col("n_present") * 2 >= col("n_item_windows")

  private def d7bPpm: Column =
    expr("CAST((1000000 * n_present) div n_item_windows AS BIGINT)")

  /** A doc frame's (`doc_id`, `h`) 8-gram window hashes. */
  private def d7bDocWindows(sp: DataFrame): DataFrame =
    sp.filter(size(col("ws")) >= 8)
      .select(col("doc_id"), explode(docWindows).as("w"))
      .select(col("doc_id"), phash(col("w")).as("h"))

  /** [[d7bVerdicts]] over a PREBUILT (doc_id, h) window-hash stream —
    * the d7b query serves the stored [[docWindowHashes]] artifact
    * through this entry (per-(doc, bench) hits are COUNT(DISTINCT h),
    * so a distinct store is equivalent to the raw stream); streaming
    * batches keep deriving their stream from text via the (sp, bw)
    * overload.
    */
  private[graft] def d7bVerdictsFromWindows(dw: DataFrame, bw: DataFrame): DataFrame = {
    val bt = d7bBenchTotals(bw)
    val hit = dw.join(broadcast(bw), Seq("h"))
      .groupBy("doc_id", "bench_id")
      .agg(countDistinct("h").cast("long").as("n_present"))
    hit.join(broadcast(bt), Seq("bench_id"))
      .filter(d7bFlagged)
      .select(col("doc_id"), col("bench_id"), col("n_item_windows"),
        col("n_present"), d7bPpm.as("overlap_ppm"))
  }

  val defs: Seq[QueryDef] = Seq(

    // T1: token counting — whitespace tokens, regex word tokens,
    // alpha-char mass, average word length.
    QueryDef.sql("t1_token_stats",
      """SELECT doc_id,
        |       length(text) AS n_chars,
        |       len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-z]+')) AS word_tokens,
        |       length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha_chars,
        |       CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
        |         / NULLIF(len(regexp_extract_all(text, '[a-z]+')), 0) AS avg_word_len
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // NULLIF guards every ratio: on a doc with zero word tokens Spark
      // (ANSI off) yields NULL for x/0 but DuckDB yields IEEE NaN/inf —
      // NULLIF makes both engines agree on NULL.
      Tables.documents(s, d).select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          regexp_count(col("text"), lit("[a-z]+")).as("word_tokens"),
          length(regexp_replace(col("text"), "[^a-z]", "")).cast("long").as("alpha_chars"))
        .withColumn("avg_word_len",
          col("alpha_chars").cast("double") / nullif(col("word_tokens"), lit(0)))
        .orderBy("doc_id")
    },

    // T2: language ID via marker-word n-gram hits (heuristic classifier).
    QueryDef.sql("t2_lang_id",
      s"""SELECT doc_id, lang AS lang_label, en_hits, es_hits, fr_hits,
         |       $langGuessSql AS lang_guess
         |FROM (SELECT doc_id, lang,
         |             $langHitsSql
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(Seq(col("doc_id"), col("lang").as("lang_label")) ++ langHitCols: _*)
        .withColumn("lang_guess", langGuessCol)
        .orderBy("doc_id")
    },

    // T2b: heuristic evaluation — confusion matrix of the language-ID
    // guess against the ground-truth lang column (the eval loop every
    // heuristic classifier in a data pipeline needs).
    QueryDef.sql("t2b_langid_eval",
      s"""SELECT lang_label, lang_guess, COUNT(*) AS n
         |FROM (SELECT lang AS lang_label,
         |             $langGuessSql AS lang_guess
         |      FROM (SELECT lang,
         |                   $langHitsSql
         |            FROM documents))
         |GROUP BY lang_label, lang_guess
         |ORDER BY lang_label, lang_guess""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang").as("lang_label") +: langHitCols: _*)
        .withColumn("lang_guess", langGuessCol)
        .groupBy("lang_label", "lang_guess").agg(count(lit(1)).as("n"))
        .orderBy("lang_label", "lang_guess")
    },

    // T3: quality scoring — length/stopword/alpha-ratio features + bucket
    // (formula single-sourced with the e2e_corpus_prep gate).
    QueryDef.sql("t3_quality_score",
      s"""SELECT doc_id, n_tokens, alpha_ratio, stop_ratio,
         |       round(q, 6) AS quality,
         |       CASE WHEN q >= 0.75 THEN 'high'
         |            WHEN q >= 0.5 THEN 'medium'
         |            ELSE 'low' END AS quality_bucket
         |FROM (SELECT doc_id, n_tokens, alpha_ratio, stop_ratio, $qualityFormulaSql AS q
         |      FROM (SELECT doc_id, $qualityFeaturesSql FROM documents))
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id") +: qualityFeatureCols: _*)
      val q = qualityCol
      base.select(col("doc_id"), col("n_tokens"), col("alpha_ratio"), col("stop_ratio"),
          round(q, 6).as("quality"),
          when(q >= 0.75, "high").when(q >= 0.5, "medium").otherwise("low")
            .as("quality_bucket"))
        .orderBy("doc_id")
    },

    // S4: quality-aware selection under a per-source token budget — the
    // data-selection stage between scoring (t3) and mixing (s3): rank
    // each source's docs by t3's quality score (its exact single-sourced
    // formula, rounded to the same 6 places t3 hash-proves identical —
    // raw-double ordering would be tie-fragile cross-engine) and keep
    // docs while cumulative tokens stay within 50% of the source's
    // total. Every window is PARTITIONED BY source — rank, running sum,
    // and total all shuffle once on source and never serialize through
    // a global ordering, so the operator holds at any corpus size.
    QueryDef.sql("s4_token_budget",
      s"""WITH f AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS nt,
         |         $qualityFeaturesSql
         |  FROM documents),
         |q AS (SELECT doc_id, source, nt, round($qualityFormulaSql, 6) AS q FROM f),
         |r AS (
         |  SELECT doc_id, source, nt, q,
         |         row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS q_rank
         |  FROM q),
         |c AS (
         |  SELECT doc_id, source, nt, q_rank,
         |         SUM(nt) OVER (PARTITION BY source ORDER BY q_rank) AS cum,
         |         SUM(nt) OVER (PARTITION BY source) AS tot
         |  FROM r)
         |SELECT doc_id, source, CAST(nt AS BIGINT) AS n_tokens, CAST(q_rank AS BIGINT) AS q_rank,
         |       CAST(cum AS BIGINT) AS cum_tokens, cum <= 0.5 * tot AS kept
         |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val f = Tables.documents(s, d).select(Seq(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt")) ++ qualityFeatureCols: _*)
      val r = f.withColumn("q", round(qualityCol, 6))
        .withColumn("q_rank", row_number().over(
          Window.partitionBy("source").orderBy(desc("q"), asc("doc_id"))))
      r.withColumn("cum", sum("nt").over(
          Window.partitionBy("source").orderBy("q_rank")))
        .withColumn("tot", sum("nt").over(Window.partitionBy("source")))
        .select(col("doc_id"), col("source"), col("nt").as("n_tokens"),
          col("q_rank").cast("long").as("q_rank"),
          col("cum").as("cum_tokens"),
          (col("cum") <= lit(0.5) * col("tot")).as("kept"))
        .orderBy("doc_id")
    },

    // T4: document fingerprinting — md5 of whitespace-normalized text +
    // portable 60-bit numeric fingerprint.
    QueryDef.sql("t4_fingerprint",
      s"""SELECT doc_id,
         |       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp_md5,
         |       ${phashSql("regexp_replace(lower(text), '\\s+', ' ', 'g')")} AS fp64
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val norm = regexp_replace(lower(col("text")), "\\s+", " ")
      Tables.documents(s, d).select(
          col("doc_id"), md5(norm).as("fp_md5"), phash(norm).as("fp64"))
        .orderBy("doc_id")
    },

    // D1: exact dedup — hash-groupBy; representative = min doc_id.
    // One shuffle on the 128-bit content hash; at 100 TB this is the
    // canonical map-side-combine dedup.
    QueryDef.sql("d1_exact_dedup",
      s"""WITH c AS ($withDupesSql)
         |SELECT md5(text) AS h, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
         |FROM c GROUP BY h HAVING COUNT(*) > 1 ORDER BY keep_id""".stripMargin) {
      (s, d) =>
        withDupes(Tables.documents(s, d))
          .groupBy(md5(col("text")).as("h"))
          .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
          .filter(col("n_copies") > 1)
          .orderBy("keep_id")
    },

    // D1b: the dedup summary a pipeline reports (rows in/out/removed).
    QueryDef.sql("d1b_dedup_summary",
      s"""WITH c AS ($withDupesSql)
         |SELECT COUNT(*) AS n_in,
         |       COUNT(DISTINCT md5(text)) AS n_unique,
         |       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_removed
         |FROM c""".stripMargin) { (s, d) =>
      withDupes(Tables.documents(s, d))
        .agg(count(lit(1)).as("n_in"),
          countDistinct(md5(col("text"))).as("n_unique"))
        .withColumn("n_removed", col("n_in") - col("n_unique"))
    },

    // D3: n-gram Jaccard near-dup — inverted-index join on word-3-gram
    // shingles (cost ∝ co-occurrence, never n²), df-capped at 50 docs per
    // shingle to bound hot-key fan-out at scale.
    QueryDef.sql("d3_ngram_jaccard",
      s"""WITH ${shinglePairsCteSql("documents")}
         |SELECT doc1, doc2, inter, n1, n2,
         |       CAST(inter AS DOUBLE) / (n1 + n2 - inter) AS jaccard
         |FROM pairstats
         |WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.05
         |ORDER BY doc1, doc2""".stripMargin) { (s, d) =>
      pairsArtifact(s, d, withPlantedDupes = false)
        .withColumn("jaccard",
          col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
        .filter(col("jaccard") >= 0.05)
        .select("doc1", "doc2", "inter", "n1", "n2", "jaccard")
        .orderBy("doc1", "doc2")
    },

    // D6: containment dedup — inter/min(|A|,|B|) instead of Jaccard, so
    // a short doc embedded in a longer one scores ~1 even though their
    // Jaccard is low (the subset-duplicate case training corpora hit
    // with quoted/recombined text). Same inverted-index shape as d3,
    // over the duplicate-injected corpus.
    QueryDef.sql("d6_containment",
      s"""WITH corpus AS ($withDupesSql),
         |${shinglePairsCteSql("corpus")}
         |SELECT doc1, doc2, inter, n1, n2,
         |       CAST(inter AS DOUBLE) / LEAST(n1, n2) AS containment
         |FROM pairstats
         |WHERE CAST(inter AS DOUBLE) / LEAST(n1, n2) >= 0.6
         |ORDER BY doc1, doc2""".stripMargin) { (s, d) =>
      pairsArtifact(s, d, withPlantedDupes = true)
        .withColumn("containment",
          col("inter").cast("double") / least(col("n1"), col("n2")))
        .filter(col("containment") >= 0.6)
        .select("doc1", "doc2", "inter", "n1", "n2", "containment")
        .orderBy("doc1", "doc2")
    },

    // D20: EXACT Jaccard-threshold similarity join via prefix
    // filtering (SSJoin/AllPairs/PPJoin — Chaudhuri et al. ICDE 2006,
    // Bayardo et al. WWW 2007, Xiao et al. WWW 2008) — the
    // exact-guarantee complement to d2's MinHash+LSH: LSH trades
    // recall for speed (d14 measures what it misses), the prefix
    // filter trades NOTHING — every pair with true Jaccard >= τ is
    // found, yet there is still no n² pair join. The lemma: order
    // every doc's shingles by ONE global order (df ascending, rarest
    // first, shingle as tiebreak); if J(A,B) >= τ then the first
    // |A| - ceil(τ·|A|) + 1 shingles of A and the first
    // |B| - ceil(τ·|B|) + 1 of B share >= 1 shingle (the globally
    // smallest common shingle has rank <= |X| - overlap + 1 in each
    // doc, and J >= τ with the length filter forces overlap >=
    // ceil(τ·|X|)). So candidates come from a self-join on PREFIX
    // shingles only — and rarest-first ordering makes prefixes the
    // LOW-df shingles, so the join's fan-out is bounded by rare-token
    // co-occurrence, with boilerplate shingles (the d3 df-cap's
    // worry) structurally excluded from every prefix long before
    // they could fan out. Run over the graded near-dup planting
    // (d14's), so the result exercises the threshold from both sides:
    // sev 0/1 plants land well above τ = 0.5, sev 2 straddles it,
    // sev 3 falls far below. Verification is exact: candidate pairs
    // (bounded) re-join their full shingle sets for the true
    // intersection; jaccard is d3's single-division double.
    // 100 TB shape: per-doc rank window over the shingle frame
    // (posting-sized), candidate join on rare-prefix shingles only,
    // verify join bounded by |candidates| × doc shingle count —
    // never corpus × corpus, never a df cap that silently drops
    // recall.
    QueryDef.sql("d20_ppjoin",
      s"""WITH corpus AS (
         |  ${MinHash.gradedCorpusSql}),
         |${shinglePairsCteSql("corpus", dfCap = 1000000000)}
         |SELECT doc1, doc2, inter, n1, n2,
         |       CAST(inter AS DOUBLE) / (n1 + n2 - inter) AS jaccard
         |FROM pairstats
         |WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.5
         |ORDER BY doc1, doc2""".stripMargin) { (s, d) =>
      // sh is the STORED prefix-ranked shingle index (r18 — hs/n/rk
      // are precomputed at artifact build exactly like the BM25
      // postings' df/tf/dl; see gradedShingleIndex). Serving runs NO
      // window over the corpus-scale shingle frame any more: the r17
      // form paid an hs-keyed df exchange + a doc_id-keyed rank
      // exchange + two localCheckpoints on every execution; now every
      // consumer below is a plain scan of the artifact (guide
      // §2.4/§6 — the checkpoints went with the recomputation they
      // existed to share).
      val sh = gradedShingleIndex(s, d)
      // τ = 0.5: prefix length p = n - ceil(n/2) + 1; length filter
      // 2·min >= max. Integer ceil: (n + 1) div 2. The self-join keys
      // on the stored 64-bit hash, so the candidate exchange carries
      // longs only (guide §2.3). Hash-collision safety: df-per-hash
      // can only MERGE two shingles' counts, which reorders the
      // rarest-first ranking — but the prefix lemma holds for ANY
      // consistent global total order ((sdf, shingle) remains one:
      // both are functions of the shingle), every true pair still
      // collides in the prefixes (candidates are a SUPERSET), and a
      // spurious hash agreement can only LOWER the min-rank pair
      // (i, j), which LOOSENS the positional bound — never prunes a
      // true pair. The exact verify join below re-joins the actual
      // shingle sets, so false candidates die on their true
      // intersection (the brute-force equality spec pins the result).
      val prefix = sh
        .filter(col("rk") <= col("n") - expr("(n + 1) div 2") + 1)
        .select(col("doc_id"), col("hs"), col("n"), col("rk"))
      // positional filter (the "PP" of PPJoin): ranks follow ONE
      // global order, so within a doc they are monotone in it — the
      // globally smallest SHARED prefix shingle therefore attains
      // min(rk) on BOTH sides simultaneously, and every shared
      // shingle ranks at or after it, so overlap <= min(n1 - i + 1,
      // n2 - j + 1). Whenever the pair is a TRUE result (o >= α =
      // ceil((n1+n2)/3) for τ = 0.5), that smallest shared shingle
      // provably sits inside both prefixes (the prefix lemma), so the
      // (i, j) this aggregation sees ARE its ranks and the prune is
      // exact — candidates whose first agreement comes too late to
      // ever reach α die here, before the verify join pays for them
      // (the brute-force equality spec guards the lemma).
      val cand = prefix
        .select(col("doc_id").as("doc1"), col("hs"),
          col("n").as("n1"), col("rk").as("rk1"))
        .join(prefix.select(col("doc_id").as("doc2"), col("hs"),
          col("n").as("n2"), col("rk").as("rk2")), Seq("hs"))
        .filter(col("doc1") < col("doc2"))
        .filter(lit(2) * least(col("n1"), col("n2")) >= greatest(col("n1"), col("n2")))
        .groupBy("doc1", "doc2", "n1", "n2")
        .agg(min("rk1").as("i"), min("rk2").as("j"))
        .filter(least(col("n1") - col("i") + 1, col("n2") - col("j") + 1) >=
          expr("(n1 + n2 + 2) div 3"))
        .select("doc1", "doc2", "n1", "n2")
      // r17 note: an array-intersect verification variant (collect the
      // candidate docs' shingle sets once, intersect per candidate row)
      // was measured and REVERTED — it added a checkpoint, a distinct
      // and two broadcasts per execution and degraded under repeated
      // runs (canary context: ×1.34), while this two-join form's
      // explosion is bounded by |candidates| × doc shingle count and
      // streams the stored index with broadcast candidates.
      val inter = cand
        .join(sh.select(col("doc_id").as("doc1"), col("shingle")), Seq("doc1"))
        .join(sh.select(col("doc_id").as("doc2"), col("shingle")), Seq("doc2", "shingle"))
        .groupBy("doc1", "doc2", "n1", "n2").agg(count(lit(1)).as("inter"))
      inter
        .withColumn("jaccard",
          col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
        .filter(col("jaccard") >= 0.5)
        .select("doc1", "doc2", "inter", "n1", "n2", "jaccard")
        .orderBy("doc1", "doc2")
    },

    // T19: corpus-wide heavy hitters — t6's SCALE twin and the third
    // exact→approx dial (a2 distinct, a8 quantiles, now frequency).
    // The exact corpus-wide top-N is a full (term → count) shuffle; at
    // 100 TB the term dictionary itself can be shuffle-dominant. The
    // sketch path is the classic two-pass heavy hitters:
    //   pass 1 — per-partition Misra-Gries with k counters (mergeable,
    //     O(k) memory, NO shuffle of the token stream; the one
    //     justified mapPartitions hop outside Multimodal — MG's
    //     decrement step has no Column form). Any term with global
    //     count > n/(k+1) must exceed n_p/(k+1) locally somewhere
    //     (pigeonhole), so the union of partition sketches (≤ P·k tiny
    //     rows) is a SUPERSET of every such term.
    //   pass 2 — exact counts for the candidates only: one narrow
    //     re-scan with the candidate set broadcast, then top-N.
    // Result is provably the EXACT top-N whenever the Nth count
    // > n/(k+1) (k=4096 ⇒ 0.025% of the stream — any term that could
    // be dropped is far below any real top-10), which is what makes
    // this oracle-able where a raw sketch estimate would not be.
    // OpsSpec pins the MG bound itself on a planted skewed corpus.
    QueryDef.sql("t19_heavy_hitters",
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |c AS (SELECT term, COUNT(*) AS cnt FROM w GROUP BY term),
        |r AS (SELECT term, cnt,
        |             row_number() OVER (ORDER BY cnt DESC, term) AS rn
        |      FROM c)
        |SELECT rn, term, cnt FROM r WHERE rn <= 10 ORDER BY rn""".stripMargin) {
      (s, d) =>
      val terms = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
      val cand = heavyHitterCandidates(s, terms, k = 4096)
      terms.join(broadcast(cand), "term")
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.orderBy(desc("cnt"), asc("term"))))
        .filter(col("rn") <= 10)
        .select("rn", "term", "cnt")
        .orderBy("rn")
    },

    // T6: per-doc top terms by tf·N/df — tf-idf-shaped keyword
    // extraction with a RATIONAL weight (integer tf·N over integer df,
    // one IEEE division) instead of ln(): natural-log is not guaranteed
    // bit-identical across libms, the rational weight ranks the same
    // way and hashes identically in both engines.
    QueryDef.sql("t6_top_terms",
      """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY doc_id, w),
        |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY w),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM words),
        |scored AS (
        |  SELECT doc_id, w, CAST(tf * n AS DOUBLE) / df AS weight
        |  FROM tf JOIN df USING (w) CROSS JOIN nd),
        |ranked AS (
        |  SELECT doc_id, w, weight,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, w) AS rn
        |  FROM scored)
        |SELECT doc_id, rn, w AS term, weight FROM ranked WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin) { (s, d) =>
      val words = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      // One scan+explode total: tf rows are unique per (doc_id, w), so
      // both df (= docs containing w) and nd (= distinct docs) derive
      // from tf — round 2 ran the explode three times (5.3 s → the
      // bench's #2 query). tf is orders of magnitude smaller than
      // words, so checkpointing it (3 consumers) is cheap at any scale.
      val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val nd = tf.agg(countDistinct(col("doc_id")).as("n"))
      tf.join(df, "w").crossJoin(broadcast(nd))
        .withColumn("weight", (col("tf") * col("n")).cast("double") / col("df"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(desc("weight"), asc("w"))))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("w").as("term"), col("weight"))
        .orderBy("doc_id", "rn")
    },

    // D4: SimHash signatures — 32-bit sign-accumulated token-hash sketch.
    QueryDef.sql("d4_simhash",
      s"""SELECT doc_id, $simhashBitsSqlDuck AS simhash
         |FROM (SELECT doc_id, ${phashSql("w")} AS h
         |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents))
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .select(col("doc_id"), phash(col("w")).as("h"))
        .groupBy("doc_id")
        .agg(expr(simhashBitsSqlSpark).as("simhash"))
        .orderBy("doc_id")
    },

    // D4b: SimHash near-dup pairs — banded candidate join (4 bytes;
    // hamming ≤ 3 guarantees ≥ 1 equal band by pigeonhole), then exact
    // hamming filter. Never a cross join.
    QueryDef.sql("d4b_simhash_pairs",
      s"""WITH sig AS (
         |  SELECT doc_id, $simhashBitsSqlDuck AS simhash
         |  FROM (SELECT doc_id, ${phashSql("w")} AS h
         |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |              FROM ($withDupesSql)))
         |  GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, simhash, b, (simhash >> (8 * b)) & 255 AS band_val
         |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
         |         a.simhash AS sh1, b.simhash AS sh2
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
         |SELECT doc1, doc2, bit_count(xor(sh1, sh2)) AS hamming
         |FROM cand WHERE bit_count(xor(sh1, sh2)) <= 3
         |ORDER BY doc1, doc2""".stripMargin) { (s, d) =>
      // sig is a fingerprint-keyed VersionedStore artifact (the
      // explode+md5+32-bit aggregate runs once per corpus, like the
      // MinHash signature table); both band-join sides read it.
      val sig = graft.sinks.VersionedStore.corpusArtifact(s, d, "simhash_sig_dupes") { out =>
        withDupes(Tables.documents(s, d))
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .select(col("doc_id"), phash(col("w")).as("h"))
          .groupBy("doc_id")
          .agg(expr(simhashBitsSqlSpark).as("simhash"))
          .write.parquet(out)
      }
      val bands = sig.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("b"))
        .withColumn("band_val", expr("shiftright(simhash, 8 * b) & 255"))
      val a = bands.select(col("doc_id").as("doc1"), col("simhash").as("sh1"),
        col("b"), col("band_val"))
      val bb = bands.select(col("doc_id").as("doc2"), col("simhash").as("sh2"),
        col("b"), col("band_val"))
      a.join(bb, Seq("b", "band_val"))
        .filter(col("doc1") < col("doc2"))
        .select("doc1", "doc2", "sh1", "sh2").distinct()
        .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
        .filter(col("hamming") <= 3)
        .select("doc1", "doc2", "hamming")
        .orderBy("doc1", "doc2")
    },

    // T7: PII scrubbing — the redaction pass every training-data
    // pipeline runs before anything else. The corpus is synthetic
    // word-soup with no real PII, so each doc gets one email, phone,
    // and SSN planted DETERMINISTICALLY (derived from doc_id,
    // identically in both dialects); the operator under test is the
    // regex scrub itself: replace-all + a residual count proving no
    // pattern survives. Narrow per-row work — map-only at any scale.
    QueryDef.sql("t7_pii_scrub", {
      s"""WITH planted AS (
         |  SELECT doc_id,
         |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |         '@mail.example or call +1-555-' ||
         |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         |         ' ssn 123-45-6789' AS t
         |  FROM documents),
         |scrubbed AS (
         |  SELECT doc_id,
         |         len(regexp_extract_all(t, '$EmailRe')) +
         |         len(regexp_extract_all(t, '$PhoneRe')) +
         |         len(regexp_extract_all(t, '$SsnRe')) AS n_pii,
         |         regexp_replace(regexp_replace(regexp_replace(t,
         |           '$EmailRe', '<EMAIL>', 'g'),
         |           '$PhoneRe', '<PHONE>', 'g'),
         |           '$SsnRe', '<SSN>', 'g') AS st
         |  FROM planted)
         |SELECT doc_id, n_pii,
         |       len(regexp_extract_all(st, '$EmailRe')) +
         |       len(regexp_extract_all(st, '$PhoneRe')) +
         |       len(regexp_extract_all(st, '$SsnRe')) AS residual,
         |       right(st, 46) AS scrub_tail
         |FROM scrubbed ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example or call +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ssn 123-45-6789")).as("t"))
      def piiCount(c: Column): Column =
        regexp_count(c, lit(EmailRe)) + regexp_count(c, lit(PhoneRe)) +
          regexp_count(c, lit(SsnRe))
      planted
        .select(col("doc_id"), piiCount(col("t")).as("n_pii"),
          regexp_replace(regexp_replace(regexp_replace(col("t"),
            lit(EmailRe), lit("<EMAIL>")),
            lit(PhoneRe), lit("<PHONE>")),
            lit(SsnRe), lit("<SSN>")).as("st"))
        .select(col("doc_id"), col("n_pii"),
          piiCount(col("st")).as("residual"),
          substring(col("st"), -46, 46).as("scrub_tail"))
        .orderBy("doc_id")
    },

    // T8: repetition statistics (the Gopher-style repetition filter's
    // inputs): per-doc duplicate-word and duplicate-bigram fractions.
    // One explode feeds both stat branches via a checkpoint — the
    // 100 TB cost is one tokenized pass + two doc-keyed aggregations
    // (the wp frame is token-scale; materializing it trades one narrow
    // recompute for shuffle input locality, same call as t6's tf).
    // Counts are integral; the two fractions are single IEEE divisions.
    QueryDef.sql("t8_repetition",
      """WITH wp AS (
        |  SELECT doc_id, pos, w,
        |         CASE WHEN lead(w) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
        |              THEN w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) END AS bigram
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |               generate_subscripts(string_split(text, ' '), 1) AS pos
        |        FROM documents)),
        |tf AS (SELECT doc_id, w, COUNT(*) AS c FROM wp GROUP BY doc_id, w),
        |ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        |              COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_cnt
        |       FROM tf GROUP BY doc_id),
        |bs AS (SELECT doc_id, COUNT(DISTINCT bigram) AS nb_distinct, COUNT(*) AS nb_total
        |       FROM wp WHERE bigram IS NOT NULL GROUP BY doc_id)
        |SELECT ws.doc_id, n_words, n_distinct,
        |       CAST(top_cnt AS DOUBLE) / n_words AS top_frac,
        |       1.0 - CAST(nb_distinct AS DOUBLE) / nb_total AS bigram_rep
        |FROM ws JOIN bs ON ws.doc_id = bs.doc_id
        |ORDER BY ws.doc_id""".stripMargin) { (s, d) =>
      val win = Window.partitionBy("doc_id").orderBy("pos")
      val lw = lead(col("w"), 1).over(win)
      val wp = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .withColumn("bigram", when(lw.isNotNull, concat(col("w"), lit(" "), lw)))
        .localCheckpoint() // two stat branches below share one tokenize+window
      val ws = wp.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum("c").as("n_words"),
          count(lit(1)).as("n_distinct"), max("c").as("top_cnt"))
      val bs = wp.filter(col("bigram").isNotNull).groupBy("doc_id")
        .agg(countDistinct(col("bigram")).as("nb_distinct"),
          count(lit(1)).as("nb_total"))
      ws.join(bs, "doc_id")
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          (col("top_cnt").cast("double") / col("n_words")).as("top_frac"),
          (lit(1.0) - col("nb_distinct").cast("double") / col("nb_total")).as("bigram_rep"))
        .orderBy("doc_id")
    },

    // T9: text normalization — the cleaning stage that runs BEFORE any
    // hashing/dedup/stats, so semantically-identical byte variants
    // collapse to one canonical form: Unicode NFC composition (the
    // native codegen'd `nfc_normalize` expression; DuckDB's built-in of
    // the same name is the oracle twin), control-character strip
    // (keeping tab/newline for the whitespace pass), whitespace-run
    // collapse, trim. Map-only — one projection, no shuffle beyond the
    // oracle ORDER BY. The corpus is mostly clean ASCII, so three probe
    // rows (decomposed e+U+0301, a BEL control + space runs, an
    // already-clean line) are union'd on BOTH sides to make every
    // cleaning rule observable — the m1-m4 probe-row idiom.
    QueryDef.sql("t9_normalize", {
      val cleanDuck =
        """trim(regexp_replace(regexp_replace(nfc_normalize(text),
          | '[\x00-\x08\x0b-\x1f\x7f]', '', 'g'), '\s+', ' ', 'g'))""".stripMargin.replace("\n", "")
      s"""WITH c AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT CAST(v.id AS BIGINT), v.t FROM (VALUES
         |    (-1, 'caf' || chr(101) || chr(769) || ' au lait'),
         |    (-2, 'a' || chr(7) || '  b' || chr(9) || 'c'),
         |    (-3, 'already clean')) AS v(id, t)),
         |n AS (SELECT doc_id, text, $cleanDuck AS cleaned FROM c)
         |SELECT doc_id, md5(cleaned) AS clean_md5,
         |       length(text) AS n_before, length(cleaned) AS n_after,
         |       text <> cleaned AS changed
         |FROM n ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      graft.functions.NativeFunctions.register(s)
      val probe = Seq(
        // decomposed e + COMBINING ACUTE (chr(101)||chr(769) on the
        // oracle side) so NFC has composition work; BEL strips; the
        // space runs and the tab collapse
        (-1L, "caf" + "e\u0301" + " au lait"),
        (-2L, "a\u0007  b\tc"),
        (-3L, "already clean")).toDF("doc_id", "text")
      // patterns via the functions API (plain Java regex strings) —
      // an expr() SQL literal adds its own escape layer on top
      val cleaned = trim(regexp_replace(regexp_replace(
        call_function("nfc_normalize", col("text")),
        "[\\x00-\\x08\\x0b-\\x1f\\x7f]", ""), "\\s+", " "))
      Tables.documents(s, d).select(col("doc_id"), col("text")).union(probe)
        .withColumn("cleaned", cleaned)
        .select(col("doc_id"), md5(col("cleaned")).as("clean_md5"),
          length(col("text")).cast("long").as("n_before"),
          length(col("cleaned")).cast("long").as("n_after"),
          (col("text") =!= col("cleaned")).as("changed"))
        .orderBy("doc_id")
    },

    // D7: benchmark-contamination screen — which corpus docs contain a
    // benchmark n-gram verbatim (the decontamination check run before
    // any training corpus ships). The "benchmark set" is the first
    // 3-gram of docs 0-4 (self-derived => deterministic + oracled; in
    // production it is an external tiny table). The bench side is
    // broadcast (5 rows), so the screen is one map-only substring pass
    // over the corpus — a BroadcastNestedLoopJoin, never a shuffle,
    // exactly the j6 literal-band-dim shape. Space-padding makes the
    // match whole-word-aligned.
    QueryDef.sql("d7_contamination",
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bench AS (
        |  SELECT doc_id AS bench_id,
        |         ' ' || ws[1] || ' ' || ws[2] || ' ' || ws[3] || ' ' AS needle
        |  FROM sp WHERE doc_id < 5)
        |SELECT d.doc_id, b.bench_id
        |FROM documents d CROSS JOIN bench b
        |WHERE instr(' ' || d.text || ' ', b.needle) > 0
        |ORDER BY doc_id, bench_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      // element_at (NULL past the end, ANSI off) + null-propagating
      // concat mirror DuckDB's ws[i]/|| NULL semantics exactly: a bench
      // doc shorter than 3 words yields a NULL needle and matches
      // nothing in BOTH dialects (concat_ws over slice would instead
      // build a shorter needle only on the Spark side).
      val w = split(col("text"), " ")
      val bench = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("bench_id"),
          concat(lit(" "), element_at(w, 1), lit(" "), element_at(w, 2),
            lit(" "), element_at(w, 3), lit(" ")).as("needle"))
      docs.select(col("doc_id"), concat(lit(" "), col("text"), lit(" ")).as("hay"))
        .crossJoin(broadcast(bench))
        .filter(expr("instr(hay, needle) > 0"))
        .select("doc_id", "bench_id")
        .orderBy("doc_id", "bench_id")
    },

    // D7B: threshold-overlap decontamination — the field-practice
    // screen (GPT-3 App. C / PaLM App. G decontamination) verbatim d7
    // cannot be: instead of one exact needle, score each (doc, bench
    // item) by the FRACTION of the item's distinct 8-gram windows
    // present in the doc, and flag at ≥ 50%. A lightly-paraphrased
    // eval item (planted here: 8 unique filler words prepended to a
    // 24-word verbatim slice of each bench doc, bench_id + 100) slips
    // d7's first-3-words needle — the fillers ARE its first words —
    // but keeps 17 of its 25 windows intact (68%) and is caught here;
    // OpsSpec pins that exact discrimination. Organic items (the d7
    // bench set, doc_id < 5) self-match at 100%, the planted item
    // flags its source doc, and sub-threshold incidental overlap
    // stays silent.
    // 100 TB shape: bench windows are fixture-sized → BROADCAST both
    // at the probe join and the totals join; the corpus side is ONE
    // narrow window-hash projection (d18's shape — shuffles carry
    // (doc_id, h), never text) into a (doc_id, bench_id) partial agg.
    // No corpus self-join, no cross join, nothing quadratic
    // (PlanSpec pins the broadcasts and the single corpus scan).
    QueryDef.sql("d7b_overlap_decontam",
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |bench AS (
         |  SELECT doc_id AS bench_id, ws AS bws FROM sp WHERE doc_id < 5
         |  UNION ALL
         |  SELECT doc_id + 100 AS bench_id, fill || ws[1:24] AS bws
         |  FROM (SELECT doc_id, ws,
         |               list_transform(generate_series(0, 7),
         |                 i -> 'z' || CAST(doc_id AS VARCHAR) || 'p' || CAST(i AS VARCHAR)) AS fill
         |        FROM sp WHERE doc_id < 5)),
         |bw AS (SELECT DISTINCT bench_id, ${phashSql("array_to_string(bws[i + 1 : i + 8], ' ')")} AS h
         |       FROM (SELECT bench_id, bws, unnest(generate_series(0, len(bws) - 8)) AS i
         |             FROM bench WHERE len(bws) >= 8)),
         |bt AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_item_windows FROM bw GROUP BY 1),
         |dw AS (SELECT doc_id, ${phashSql("array_to_string(ws[i + 1 : i + 8], ' ')")} AS h
         |       FROM (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 8)) AS i
         |             FROM sp WHERE len(ws) >= 8)),
         |hit AS (SELECT d.doc_id, b.bench_id, CAST(COUNT(DISTINCT d.h) AS BIGINT) AS n_present
         |        FROM dw d JOIN bw b ON d.h = b.h
         |        GROUP BY 1, 2)
         |SELECT h.doc_id, h.bench_id, t.n_item_windows, h.n_present,
         |       CAST((1000000 * h.n_present) // t.n_item_windows AS BIGINT) AS overlap_ppm
         |FROM hit h JOIN bt t USING (bench_id)
         |WHERE 2 * h.n_present >= t.n_item_windows
         |ORDER BY doc_id, bench_id""".stripMargin) { (s, d) =>
      val sp = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val bw = d7bBenchWindows(d7bBenchFixture(sp))
        .localCheckpoint() // fixture-sized; feeds probe join + totals
      // corpus side from the stored window-hash signature store (r18
      // — the window derivation was the query's dominant stage)
      d7bVerdictsFromWindows(docWindowHashes(s, d), bw)
        .orderBy("doc_id", "bench_id")
    },

    // D22: Bloom-filter decontamination screen — the membership
    // structure you DEPLOY when the benchmark window set outgrows a
    // broadcast set (d7b's exact screen broadcasts every bench hash;
    // a Bloom filter compresses membership to m bits of constant
    // driver state at a priced false-positive rate — the classic
    // bits-for-certainty trade, and the screen is SOUND: a Bloom can
    // only over-flag, never miss, so contamination never slips
    // through; false positives only cost re-checks). Implemented as
    // PORTABLE INTEGER ARITHMETIC, not an engine black box: m = 4096
    // bits as 128 32-bit words (masks stay far from the sign bit in
    // BOTH engines), k = 3 probes by double hashing on the window
    // hash (p_i = (h mod m + i·h2) mod m, h2 odd so probes cycle all
    // of m) — so DuckDB can build the identical filter in SQL and the
    // oracle hash-matches the verdicts bit-for-bit. The query runs
    // BOTH screens over one window projection and reports, per doc:
    // windows, exact hits, Bloom hits, false positives, fp ppm — the
    // measured FPR an operator sizes m against (here m is deliberately
    // small so the FPR is observable: ~600 inserted windows load the
    // filter to ~36%, theory ≈ 4.6% FPR; production sizes m to n by
    // the standard formula, the SHAPE is the point). OpsSpec pins
    // soundness (exact ⊆ bloom per doc) and the measured global FPR
    // inside a band around theory.
    // 100 TB shape: the filter is 1 KB of driver state riding the
    // task closure — the membership test is MAP-ONLY over the window
    // projection (element_at + two bit ops per probe, no join at
    // all); only the ground-truth channel joins the broadcast bench
    // set, and a production deployment drops that channel entirely.
    QueryDef.sql("d22_bloom_decontam", {
      def pSql(i: Int) =
        s"(((h % 4096) + $i * (2 * ((h // 4096) % 2048) + 1)) % 4096)"
      val bitTests = (0 until 3).map(i =>
        s"(W[${pSql(i)} // 32 + 1] & (CAST(1 AS BIGINT) << CAST(${pSql(i)} % 32 AS INT))) <> 0")
        .mkString(" AND ")
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |bench AS (
         |  SELECT doc_id AS bench_id, ws AS bws FROM sp WHERE doc_id < 5
         |  UNION ALL
         |  SELECT doc_id + 100 AS bench_id, fill || ws[1:24] AS bws
         |  FROM (SELECT doc_id, ws,
         |               list_transform(generate_series(0, 7),
         |                 i -> 'z' || CAST(doc_id AS VARCHAR) || 'p' || CAST(i AS VARCHAR)) AS fill
         |        FROM sp WHERE doc_id < 5)),
         |bw AS (SELECT DISTINCT ${phashSql("array_to_string(bws[i + 1 : i + 8], ' ')")} AS h
         |       FROM (SELECT bench_id, bws, unnest(generate_series(0, len(bws) - 8)) AS i
         |             FROM bench WHERE len(bws) >= 8)),
         |bits AS (SELECT DISTINCT p // 32 AS wd,
         |                CAST(1 AS BIGINT) << CAST(p % 32 AS INT) AS msk
         |         FROM (SELECT ((h % 4096) + i * (2 * ((h // 4096) % 2048) + 1)) % 4096 AS p
         |               FROM bw CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS i))),
         |wvals AS (SELECT wd, CAST(bit_or(msk) AS BIGINT) AS v FROM bits GROUP BY wd),
         |warr AS (SELECT list(COALESCE(w.v, 0) ORDER BY x.wd) AS W
         |         FROM (SELECT unnest(generate_series(0, 127)) AS wd) x
         |         LEFT JOIN wvals w USING (wd)),
         |dwd AS (SELECT DISTINCT doc_id, ${phashSql("array_to_string(ws[i + 1 : i + 8], ' ')")} AS h
         |        FROM (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 8)) AS i
         |              FROM sp WHERE len(ws) >= 8)),
         |tested AS (SELECT doc_id, CASE WHEN $bitTests THEN 1 ELSE 0 END AS bloom
         |           FROM dwd CROSS JOIN warr),
         |ex AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_exact
         |       FROM dwd JOIN bw USING (h) GROUP BY 1),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
         |               CAST(SUM(bloom) AS BIGINT) AS n_bloom
         |        FROM tested GROUP BY 1)
         |SELECT a.doc_id, a.n_windows,
         |       CAST(COALESCE(e.n_exact, 0) AS BIGINT) AS n_exact, a.n_bloom,
         |       a.n_bloom - CAST(COALESCE(e.n_exact, 0) AS BIGINT) AS n_fp,
         |       CAST((1000000 * (a.n_bloom - COALESCE(e.n_exact, 0))) // a.n_windows AS BIGINT)
         |         AS fp_ppm
         |FROM agg a LEFT JOIN ex e USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val sp = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val bw = d7bBenchWindows(d7bBenchFixture(sp)).select("h").distinct()
      // the filter build: fixture-sized driver state (the PQ-codebook
      // pattern) — 128 longs, 1 KB, rides the task closure
      val words = Array.fill(128)(0L)
      for (h <- bw.collect().map(_.getLong(0)); i <- 0 until 3) {
        val h2 = 2L * ((h / 4096L) % 2048L) + 1L
        val p = ((h % 4096L) + i * h2) % 4096L
        words((p / 32L).toInt) |= (1L << (p % 32L).toInt)
      }
      val bloomHit = (0 until 3).map { i =>
        val p = s"(((h % 4096) + $i * (2 * ((h div 4096) % 2048) + 1)) % 4096)"
        expr(s"(element_at(__bw, CAST($p div 32 AS INT) + 1) & " +
          s"shiftleft(CAST(1 AS BIGINT), CAST($p % 32 AS INT))) <> 0")
      }.reduce(_ && _)
      // the distinct (doc_id, h) window stream from the stored
      // signature store (r18 — it was re-derived per execution behind
      // a localCheckpoint; one aggregate consumes it, so the plain
      // artifact scan needs no checkpoint)
      val dwd = docWindowHashes(s, d)
      // ONE per-doc aggregate serves both channels: the ground-truth
      // exact count rides the same broadcast bench set as before but
      // as a left-join hit FLAG summed inside the bloom rollup — the
      // split form paid a second doc_id exchange plus a join of the
      // two per-doc frames (r17 optimization: 2 aggregates + 1 join →
      // 1 aggregate; bw is distinct on h, so the left join cannot
      // multiply window rows and n_windows is unchanged)
      dwd.withColumn("__bw", typedLit(words.toSeq))
        .withColumn("bloom", bloomHit)
        .join(broadcast(bw.withColumn("__hit", lit(1L))), Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_windows"),
          sum(when(col("bloom"), 1L).otherwise(0L)).cast("long").as("n_bloom"),
          sum(coalesce(col("__hit"), lit(0L))).cast("long").as("n_exact"))
        .select(col("doc_id"), col("n_windows"), col("n_exact"), col("n_bloom"))
        .withColumn("n_fp", col("n_bloom") - col("n_exact"))
        .withColumn("fp_ppm", expr("CAST((1000000 * n_fp) div n_windows AS BIGINT)"))
        .orderBy("doc_id")
    },

    // D8: passage-level exact dedup — the copy-paste-passage detector
    // (C4-style): docs are cut into non-overlapping 8-word blocks
    // NARROWLY (pure array transform over the token array — no window,
    // no sort, no shuffle to build blocks), blocks are hashed, and doc
    // pairs sharing a block hash surface with their shared-block count.
    // Catches verbatim passage reuse that whole-doc hashing (d1) misses
    // and similarity shingles (d3) only score fuzzily. df-capped like
    // d3 so a boilerplate block shared by thousands of docs can't
    // explode the self-join at scale.
    QueryDef.sql("d8_passage_dedup", {
      s"""WITH c AS ($withDupesSql),
         |sp AS (SELECT doc_id, string_split(text, ' ') AS ws FROM c),
         |b AS (
         |  SELECT doc_id,
         |         unnest(list_transform(generate_series(0, CAST(ceil(len(ws) / 8.0) AS INT) - 1),
         |                               i -> array_to_string(ws[i * 8 + 1 : i * 8 + 8], ' '))) AS block
         |  FROM sp),
         |bh AS (SELECT DISTINCT doc_id, ${phashSql("block")} AS h FROM b),
         |capped AS (SELECT h FROM bh GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 20)
         |SELECT lhs.doc_id AS doc1, rhs.doc_id AS doc2, COUNT(*) AS shared_blocks
         |FROM bh lhs JOIN capped USING (h) JOIN bh rhs ON lhs.h = rhs.h AND lhs.doc_id < rhs.doc_id
         |GROUP BY doc1, doc2
         |ORDER BY doc1, doc2""".stripMargin
    }) { (s, d) =>
      val bh = passageBlockHashes(withDupes(Tables.documents(s, d)))
        .localCheckpoint() // feeds the df-cap and both self-join sides
      val capped = bh.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 20).select("h")
      val a = bh.join(capped, "h").select(col("doc_id").as("doc1"), col("h"))
      val b = bh.select(col("doc_id").as("doc2"), col("h"))
      a.join(b, Seq("h"))
        .filter(col("doc1") < col("doc2"))
        .groupBy("doc1", "doc2").agg(count(lit(1)).as("shared_blocks"))
        .orderBy("doc1", "doc2")
    },

    // D18: duplicated-substring SPANS — the Lee et al. 2021
    // ("Deduplicating Training Data Makes Language Models Better")
    // substring-level report d8's block pairs can't give: WHERE in each
    // document the cross-document duplication lives, as maximal merged
    // token spans — the output a trimming pass actually cuts. Every
    // 8-word window (stride 1, so duplication is caught at ANY
    // alignment — d8's non-overlapping blocks miss shifted copies) is
    // hashed; windows appearing in ≥ 2 DISTINCT docs are duplicate
    // evidence; a doc's covered window starts merge into maximal spans
    // by gaps-and-islands (starts ≤ 8 apart overlap or touch). Planted
    // passage reuse (every 5th long doc re-appears at +3e7 as 12-word
    // prefix + 8 doc-unique fillers + words 31-42) exercises shifted
    // alignment AND multi-island merging in one planting; within-doc
    // repetition is deliberately out of scope (that's t8's axis).
    // 100 TB shape: the window stream is one narrow array transform
    // over the corpus (hashes computed IN the projection, so shuffles
    // carry (doc_id, i, h) — never 8-word strings); duplicate-hash
    // detection is two map-side-combinable linear aggregations; the
    // island merge is one doc_id-partitioned window over COVERED rows
    // only. No pair join ever forms — unlike d8, boilerplate shared by
    // a million docs costs its row count, not its row count squared,
    // so this needs no df cap to stay linear.
    QueryDef.sql("d18_substring_spans",
      s"""WITH sp0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |c AS (SELECT doc_id, ws FROM sp0
         |      UNION ALL
         |      SELECT doc_id + 30000000 AS doc_id, ws[1:12] || fill || ws[31:42] AS ws
         |      FROM (SELECT doc_id, ws,
         |                   list_transform(generate_series(0, 7),
         |                     i -> 'x' || CAST(doc_id AS VARCHAR) || 'f' || CAST(i AS VARCHAR)) AS fill
         |            FROM sp0 WHERE doc_id % 5 = 0 AND len(ws) >= 48)),
         |win AS (SELECT doc_id, i, ${phashSql("array_to_string(ws[i + 1 : i + 8], ' ')")} AS h
         |        FROM (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 8)) AS i
         |              FROM c WHERE len(ws) >= 8)),
         |dup AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM win)
         |        GROUP BY h HAVING COUNT(*) >= 2),
         |cov AS (SELECT doc_id, i FROM win JOIN dup USING (h)),
         |isl AS (SELECT doc_id, i,
         |               CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
         |                      OR i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 8
         |                    THEN 1 ELSE 0 END AS brk
         |        FROM cov),
         |isl2 AS (SELECT doc_id, i,
         |                SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp
         |         FROM isl)
         |SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,
         |       CAST(MAX(i) + 8 - MIN(i) AS BIGINT) AS span_len,
         |       CAST(COUNT(*) AS BIGINT) AS n_windows
         |FROM isl2 GROUP BY doc_id, grp
         |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      // the positional window stream comes from the stored
      // span_window_hashes artifact (r18 — the corpus-wide window
      // derivation was the query's dominant stage; its two consumers
      // below are plain artifact scans, so the checkpoint went with
      // the recomputation it shared)
      val win = spanWindowHashes(s, d)
      // min != max ⟺ >= 2 distinct docs — one exchange, not two
      // (see spanCleaned's dup note)
      val dup = win.groupBy("h")
        .agg(min("doc_id").as("__lo"), max("doc_id").as("__hi"))
        .filter(col("__lo") =!= col("__hi")).select("h")
      val wspec = Window.partitionBy("doc_id").orderBy("i")
      win.join(dup, Seq("h"))
        .select("doc_id", "i")
        .withColumn("brk",
          when(lag("i", 1).over(wspec).isNull ||
            col("i") - lag("i", 1).over(wspec) > 8, 1).otherwise(0))
        .withColumn("grp", sum("brk").over(wspec))
        .groupBy("doc_id", "grp")
        .agg(min("i").cast("long").as("span_start"),
          (max("i") + 8 - min("i")).cast("long").as("span_len"),
          count(lit(1)).cast("long").as("n_windows"))
        .select("doc_id", "span_start", "span_len", "n_windows")
        .orderBy("doc_id", "span_start")
    },

    // D19: duplicated-span REMOVAL — the action half of d18's report,
    // i.e. the deliverable of the Lee et al. 2021 substring pipeline:
    // the DEDUPLICATED corpus itself, spans cut and text reassembled.
    // Duplicate evidence is d18's (8-word windows in ≥ 2 distinct docs,
    // same planted shifted copies at doc_id + 3e7); of all occurrences
    // of a duplicated window, the lexicographically-first (doc_id, i)
    // is CANONICAL and survives — every other occurrence is cut. Cut
    // window starts merge into maximal islands (d18's gaps-and-islands
    // — an island's token coverage [min_i, max_i + 8) is exactly the
    // union of its windows' coverage, since starts ≤ 8 apart touch),
    // and surviving tokens reassemble in order. Because the planted
    // copies sit ABOVE their originals, the originals are canonical:
    // planted shifted-copy mass vanishes while the original text
    // reassembles byte-identically (OpsSpec pins both, plus byte
    // identity for every span-free doc).
    // 100 TB shape: the window stream is d18's narrow projection
    // (shuffles carry (doc_id, i, h), never 8-word strings); canonical
    // selection is ONE row_number window keyed on the same hash the
    // dup-evidence agg already shuffles on; the island merge is a
    // doc_id window over CUT rows only; the rewrite is a narrow
    // per-doc array filter after one doc_id-keyed join of the corpus
    // against its sparse span lists. No pair join ever forms — like
    // d18 and unlike d8, mass duplication costs its row count, never
    // its square (PlanSpec pins zero SortMergeJoin/cartesian).
    QueryDef.sql("d19_span_removal",
      s"""WITH sp0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |c AS (SELECT doc_id, ws FROM sp0
         |      UNION ALL
         |      SELECT doc_id + 30000000 AS doc_id, ws[1:12] || fill || ws[31:42] AS ws
         |      FROM (SELECT doc_id, ws,
         |                   list_transform(generate_series(0, 7),
         |                     i -> 'x' || CAST(doc_id AS VARCHAR) || 'f' || CAST(i AS VARCHAR)) AS fill
         |            FROM sp0 WHERE doc_id % 5 = 0 AND len(ws) >= 48)),
         |${spanCutSql("c")}
         |SELECT c.doc_id, CAST(len(c.ws) AS BIGINT) AS n_before,
         |       CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_after,
         |       coalesce(a.text_clean, '') AS text_clean
         |FROM c LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val sp0 = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val planted = sp0.filter(col("doc_id") % 5 === 0 && size(col("ws")) >= 48)
        .select(col("doc_id"), col("ws"),
          expr("transform(sequence(0, 7), " +
            "i -> concat('x', CAST(doc_id AS STRING), 'f', CAST(i AS STRING)))").as("fill"))
        .select((col("doc_id") + 30000000L).as("doc_id"),
          expr("concat(slice(ws, 1, 12), fill, slice(ws, 31, 12))").as("ws"))
      // window stream from the stored span_window_hashes artifact
      // (r18); the corpus frame is still scanned for the rewrite
      // (kept tokens reassemble from ws), which is the honest
      // text-touching half of the pipeline
      spanCleaned(sp0.unionByName(planted),
          win0 = Some(spanWindowHashes(s, d)))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_before"),
          size(col("kept")).cast("long").as("n_after"),
          concat_ws(" ", col("kept")).as("text_clean"))
        .orderBy("doc_id")
    },

    // D21: arrival-order n-gram NOVELTY — per document, the share of
    // its distinct 8-word windows whose FIRST corpus occurrence (min
    // doc_id, the arrival proxy) is the document itself. The dial a
    // growing training corpus watches per ingest cohort: novelty ~1e6
    // ppm = genuinely new text, ~0 = the corpus already has it (the
    // "how much does this crawl snapshot actually add" question, and
    // the doc-level complement of d17's corpus-level inflation). The
    // fixture plants BOTH extremes: exact copies at +1e6 (novelty 0 —
    // every window was first seen in the original) and d18's shifted
    // partial copies at +3e7 (middle ppm — copied spans old, the
    // doc-unique fill windows and fill-boundary windows new).
    // 100 TB shape: d18's narrow window-hash projection (text never
    // rides a shuffle — windows hash IN the scan's projection), then
    // exactly TWO exchanges: min(doc_id) OVER the h-partition (the same
    // hash shuffle d18's dup-evidence agg pays — first-occurrence is a
    // per-hash aggregate, never a pair join) and the per-doc rollup.
    // Duplication mass costs its row count, never its square.
    QueryDef.sql("d21_ngram_novelty",
      s"""WITH sp0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |c AS (SELECT doc_id, ws FROM sp0
         |      UNION ALL
         |      SELECT doc_id + 1000000 AS doc_id, ws FROM sp0 WHERE doc_id % 10 = 0
         |      UNION ALL
         |      SELECT doc_id + 30000000 AS doc_id, ws[1:12] || fill || ws[31:42] AS ws
         |      FROM (SELECT doc_id, ws,
         |                   list_transform(generate_series(0, 7),
         |                     i -> 'x' || CAST(doc_id AS VARCHAR) || 'f' || CAST(i AS VARCHAR)) AS fill
         |            FROM sp0 WHERE doc_id % 5 = 0 AND len(ws) >= 48)),
         |win AS (SELECT DISTINCT doc_id, ${phashSql("array_to_string(ws[i + 1 : i + 8], ' ')")} AS h
         |        FROM (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 8)) AS i
         |              FROM c WHERE len(ws) >= 8)),
         |fst AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS first_doc FROM win)
         |SELECT doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_windows,
         |       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |       CAST((1000000 * SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS novelty_ppm
         |FROM fst GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // the DISTINCT (doc_id, h) window stream comes from the stored
      // arrival-index artifact (r18, noveltyWindowHashes — the
      // corpus-wide window derivation was the query's dominant stage);
      // the store is already distinct, so the old __rn dedup window is
      // gone and serving is ONE h-keyed exchange (first-occurrence
      // min) + the per-doc rollup.
      noveltyWindowHashes(s, d)
        .withColumn("first_doc",
          min("doc_id").over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_windows"),
          sum(when(col("first_doc") === col("doc_id"), 1).otherwise(0))
            .cast("long").as("n_novel"))
        .select(col("doc_id"), col("n_windows"), col("n_novel"),
          expr("CAST((1000000 * n_novel) div n_windows AS BIGINT)").as("novelty_ppm"))
        .orderBy("doc_id")
    },

    // T18: cross-source overlap matrix — the mixture-decontamination
    // question ("how much of source A is verbatim inside source B?")
    // asked BEFORE freezing a training mix: for every ordered source
    // pair, the fraction of A's distinct 8-gram windows also present
    // in B, in integer ppm. d18 localizes duplication per document;
    // this rolls the same window evidence up to the source registry —
    // the level mixture weights are set at. Planted reuse (every 4th
    // doc's 12-word prefix + unique fillers re-appears under a
    // 'synthetic' source at +4e7) gives the matrix observable mass;
    // organic rows measure the corpus as-is.
    // 100 TB shape: the window stream is d18's narrow transform with
    // hashes computed in the projection; DISTINCT (source, h) and the
    // per-source totals are linear map-side-combinable aggregations;
    // the overlap join fans each window hash out by the number of
    // SOURCES containing it — bounded by the source registry (20ish,
    // never corpus-sized), so the pair rollup lands on a ≤|sources|²
    // frame. Nothing here is quadratic in documents.
    QueryDef.sql("t18_source_overlap",
      s"""WITH sp0 AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
         |c AS (SELECT doc_id, source, ws FROM sp0
         |      UNION ALL
         |      SELECT doc_id + 40000000 AS doc_id, 'synthetic' AS source,
         |             ws[1:12] || fill AS ws
         |      FROM (SELECT doc_id, ws,
         |                   list_transform(generate_series(0, 7),
         |                     i -> 'y' || CAST(doc_id AS VARCHAR) || 'g' || CAST(i AS VARCHAR)) AS fill
         |            FROM sp0 WHERE doc_id % 4 = 0 AND len(ws) >= 12)),
         |win AS (SELECT DISTINCT source, ${phashSql("array_to_string(ws[i + 1 : i + 8], ' ')")} AS h
         |        FROM (SELECT source, ws, unnest(generate_series(0, len(ws) - 8)) AS i
         |              FROM c WHERE len(ws) >= 8)),
         |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM win GROUP BY 1),
         |ov AS (SELECT a.source AS source_a, b.source AS source_b,
         |              CAST(COUNT(*) AS BIGINT) AS n_shared
         |       FROM win a JOIN win b ON a.h = b.h AND a.source <> b.source
         |       GROUP BY 1, 2)
         |SELECT source_a, source_b, n_shared, t.n_src AS n_a,
         |       CAST((1000000 * n_shared) // t.n_src AS BIGINT) AS overlap_ppm
         |FROM ov JOIN tot t ON t.source = source_a
         |ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
      // the DISTINCT (source, window-hash) signature table is pure
      // derived state of `documents` (planting included) — the same
      // class of stored dedup-signature state as the d3/d6 pair table
      // and d20's prefix-ranked shingle index — so it builds once per
      // corpus fingerprint through the ledger (r18; previously the
      // corpus-wide window hashing + distinct ran on EVERY execution
      // behind a localCheckpoint). Serving is the ≤|sources|-bounded
      // totals agg + the overlap self-join over the stored rows.
      val win = graft.sinks.VersionedStore.corpusArtifact(s, d,
          "src_window_hashes", logicKey = "w8 phash planted-y8 v1") { out =>
        val sp0 = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
        val planted = sp0.filter(col("doc_id") % 4 === 0 && size(col("ws")) >= 12)
          .select(col("doc_id"), col("ws"),
            expr("transform(sequence(0, 7), " +
              "i -> concat('y', CAST(doc_id AS STRING), 'g', CAST(i AS STRING)))").as("fill"))
          .select((col("doc_id") + 40000000L).as("doc_id"),
            lit("synthetic").as("source"),
            expr("concat(slice(ws, 1, 12), fill)").as("ws"))
        sp0.unionByName(planted)
          .filter(size(col("ws")) >= 8)
          .select(col("source"), explode(expr(
            "transform(sequence(0, size(ws) - 8), " +
              "i -> concat_ws(' ', slice(ws, i + 1, 8)))")).as("w"))
          .select(col("source"), phash(col("w")).as("h"))
          .distinct()
          .write.parquet(out)
      }
      // r17 note: a per-h collect_set + pair-explode variant (one
      // h exchange instead of the self-join) was measured and REVERTED
      // — the stored window frame broadcasts here, so the join
      // form pays no exchange at all locally (bench 1.34 s vs 1.57 s
      // for the aggregate form); at 100 TB both shapes shuffle only
      // (source, h) and fan out by the ≤|sources| registry.
      val tot = win.groupBy("source").agg(count(lit(1)).cast("long").as("n_src"))
      val ov = win.select(col("source").as("source_a"), col("h"))
        .join(win.select(col("source").as("source_b"), col("h")), Seq("h"))
        .filter(col("source_a") =!= col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).cast("long").as("n_shared"))
      ov.join(broadcast(tot.withColumnRenamed("source", "source_a")), Seq("source_a"))
        .select(col("source_a"), col("source_b"), col("n_shared"),
          col("n_src").as("n_a"),
          expr("CAST((1000000 * n_shared) div n_src AS BIGINT)").as("overlap_ppm"))
        .orderBy("source_a", "source_b")
    },

    // E2E: the corpus-prep stages CHAINED the way a real training-data
    // pipeline runs them — quality gate (t3's single-sourced formula) →
    // exact dedup keeping the min-id representative (d1's idiom) →
    // final per-doc stats. Runs on the dupe-injected corpus so the
    // dedup stage has observable work. The raw text is reduced to
    // (doc_id, n_tokens, quality, fp) IN the quality pass, so the one
    // materialization (the checkpoint feeding the dedup agg and the
    // join-back) holds a few dozen bytes per doc, never the corpus
    // body. At 100 TB each stage keeps the same plan shape as its
    // standalone query: narrow scoring pass, one hash shuffle for
    // dedup, a semi join back.
    QueryDef.sql("e2e_corpus_prep",
      s"""WITH c AS ($withDupesSql),
         |q AS (SELECT doc_id, text, n_tokens, $qualityFormulaSql AS quality
         |      FROM (SELECT doc_id, text, $qualityFeaturesSql FROM c)),
         |kept AS (SELECT doc_id, n_tokens, quality, md5(text) AS fp
         |         FROM q WHERE quality >= 0.5),
         |reps AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY fp)
         |SELECT k.doc_id, k.n_tokens, round(k.quality, 6) AS quality, k.fp
         |FROM kept k JOIN reps r ON k.doc_id = r.doc_id
         |ORDER BY k.doc_id""".stripMargin) { (s, d) =>
      // kept feeds the dedup agg and the join-back — checkpoint the
      // NARROW stats frame once (text already reduced to its md5)
      val kept = withDupes(Tables.documents(s, d))
        .select(Seq(col("doc_id"), col("text")) ++ qualityFeatureCols: _*)
        .select(col("doc_id"), col("n_tokens"), qualityCol.as("quality"),
          md5(col("text")).as("fp"))
        .filter(col("quality") >= 0.5)
        .localCheckpoint()
      val reps = kept.groupBy("fp").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      kept.join(reps, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("n_tokens"),
          round(col("quality"), 6).as("quality"), col("fp"))
        .orderBy("doc_id")
    },

    // E2E2: the FULL Lee-et-al-era training-prep chain as ONE
    // declarative plan — the pipeline a 2021+ corpus team actually
    // ships, each stage with planted observable work and each stage an
    // already-oracled operator's exact logic: (1) t3's quality gate on
    // the raw text; (2) d1's exact dedup keeping the min-id
    // representative — kills the planted byte-identical copies (+1e6)
    // that survive a quality gate unchanged; (3) d19's substring-span
    // removal over the SURVIVORS — catches the planted shifted partial
    // copies (+3e7, d18's planting) that exact dedup by definition
    // misses, stripping them to their unique fillers; (4) a post-clean
    // length gate (≥ 9 surviving words) that drops those stripped
    // shells — the stage order (cheap doc-level gates before the
    // window machinery) is the cost order a real pipeline uses; (5)
    // s8's deterministic split stamped on the survivors. Output: one
    // row per surviving doc with its split, post-clean token count,
    // and quality — the manifest the trainer consumes.
    // 100 TB shape: every stage keeps its standalone plan shape —
    // narrow scoring pass, one fp hash shuffle for dedup, d19's
    // hash-keyed window machinery over the (already gated) survivor
    // stream, id-arithmetic split — and the raw text never shuffles
    // (dedup shuffles md5 fingerprints, span removal shuffles
    // (doc_id, i, h) triples).
    QueryDef.sql("e2e2_span_prep",
      s"""WITH sp0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |corpus AS (SELECT doc_id, text FROM documents
         |           UNION ALL
         |           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
         |           UNION ALL
         |           SELECT doc_id + 30000000 AS doc_id,
         |                  array_to_string(ws[1:12] || fill || ws[31:42], ' ') AS text
         |           FROM (SELECT doc_id, ws,
         |                        list_transform(generate_series(0, 7),
         |                          i -> 'x' || CAST(doc_id AS VARCHAR) || 'f' || CAST(i AS VARCHAR)) AS fill
         |                 FROM sp0 WHERE doc_id % 5 = 0 AND len(ws) >= 48)),
         |q AS (SELECT doc_id, text, $qualityFormulaSql AS quality
         |      FROM (SELECT doc_id, text, $qualityFeaturesSql FROM corpus)),
         |gated AS (SELECT doc_id, text, quality, md5(text) AS fp FROM q WHERE quality >= 0.5),
         |reps AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY fp),
         |ded AS (SELECT g.doc_id, g.text, g.quality FROM gated g JOIN reps r ON g.doc_id = r.doc_id),
         |c AS (SELECT doc_id, string_split(text, ' ') AS ws FROM ded),
         |${spanCutSql("c")},
         |clean AS (SELECT c.doc_id, d2.quality,
         |                 CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_clean
         |          FROM c JOIN ded d2 USING (doc_id)
         |               LEFT JOIN agg a USING (doc_id)),
         |final AS (SELECT doc_id, quality, n_clean,
         |                 (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 AS bkt
         |          FROM clean WHERE n_clean >= 9)
         |SELECT doc_id,
         |       CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
         |       n_clean, round(quality, 6) AS quality
         |FROM final ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val sp0 = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      val shifted = sp0.filter(col("doc_id") % 5 === 0 && size(col("ws")) >= 48)
        .select(col("doc_id"), col("ws"),
          expr("transform(sequence(0, 7), " +
            "i -> concat('x', CAST(doc_id AS STRING), 'f', CAST(i AS STRING)))").as("fill"))
        .select((col("doc_id") + 30000000L).as("doc_id"),
          expr("concat_ws(' ', concat(slice(ws, 1, 12), fill, slice(ws, 31, 12)))").as("text"))
      val corpus = withDupes(docs).unionByName(shifted)
      val gated = corpus
        .select(Seq(col("doc_id"), col("text")) ++ qualityFeatureCols: _*)
        .select(col("doc_id"), col("text"), qualityCol.as("quality"),
          md5(col("text")).as("fp"))
        .filter(col("quality") >= 0.5)
        .localCheckpoint() // feeds the dedup agg and the survivor join
      val reps = gated.groupBy("fp").agg(min("doc_id").as("doc_id")).select("doc_id")
      val ded = gated.join(reps, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"), col("quality"))
      val cleaned = spanCleaned(
        ded.select(col("doc_id"), split(col("text"), " ").as("ws"), col("quality")))
        .select(col("doc_id"), col("quality"),
          size(col("kept")).cast("long").as("n_clean"))
      cleaned.filter(col("n_clean") >= 9)
        .select(col("doc_id"),
          expr("CASE WHEN (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 < 80 THEN 'train' " +
            "WHEN (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 < 90 THEN 'val' " +
            "ELSE 'test' END").as("split"),
          col("n_clean"), round(col("quality"), 6).as("quality"))
        .orderBy("doc_id")
    },

    /* E2E4: the STREAMING training-prep chain's batch equivalent — one
     * manifest row per incoming doc with the stage where it exited the
     * quality → exact-dedup → near-dup → decontamination pipeline
     * (StreamPrep's foreachBatch chain, which StreamingSpec pins
     * row-for-row against this exact semantics on a replayed fixture;
     * this registered row makes the composed chain driver-visible in
     * CORRECTNESS like e2e2/e2e_corpus_prep are).
     *
     * Fixture gives every stage observable work: the usual +1e6
     * byte-identical copies (exact stage), +2e6 copies with two
     * doc-unique junk words APPENDED (near-dup but not exact — the
     * shingle set keeps ~95% overlap), and the d7b bench fixture
     * (docs < 5 + their paraphrase plants) for the contamination
     * stage.
     *
     * The near-dup stage is GREEDY-BY-ID (lexicographically-first
     * maximal independent set — what an incremental screen admits when
     * ids arrive in order), NOT d5's component-min: in a chain a<b<c,
     * greedy admits {a, c}. Spark side: DedupCluster.greedyAdmit's
     * round-fixpoint over the pair graph; oracle side: a recursive CTE
     * computing the same fixpoint round-by-round (each round decides
     * every node whose smaller neighbors are all decided; the smallest
     * undecided node always qualifies, so the recursion terminates in
     * ≤ longest-increasing-path rounds).
     *
     * 100 TB shape: chain order is cost order (doc-level gate first,
     * md5 screen before signatures, window-hash decontam only over
     * final survivors); each stage keeps its standalone plan shape;
     * the greedy fixpoint runs on the pair GRAPH only (docs with ≥1
     * edge), never the corpus; raw text never shuffles (md5, minhash
     * signatures, and window hashes do).
     */
    QueryDef.sql("e2e4_prep_manifest", {
      s"""WITH RECURSIVE corpus4 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id,
         |         text || ' qq' || CAST(doc_id AS VARCHAR) || 'x0 qq' || CAST(doc_id AS VARCHAR) || 'x1' AS text
         |  FROM documents WHERE doc_id % 7 = 0),
         |q4 AS (SELECT doc_id, text, $qualityFormulaSql AS quality
         |       FROM (SELECT doc_id, text, $qualityFeaturesSql FROM corpus4)),
         |pass4 AS (SELECT doc_id, text, quality, md5(text) AS fp FROM q4 WHERE quality >= 0.5),
         |reps4 AS (SELECT MIN(doc_id) AS doc_id FROM pass4 GROUP BY fp),
         |exsurv AS (SELECT p.doc_id, p.text FROM pass4 p JOIN reps4 r ON p.doc_id = r.doc_id),
         |${MinHash.pairsCteSql("SELECT doc_id, text FROM exsurv", 0.5)},
         |nd4 AS (SELECT DISTINCT LEAST(doc1, doc2) AS lo, GREATEST(doc1, doc2) AS hi FROM pairs),
         |vx4 AS (SELECT DISTINCT v FROM (SELECT lo AS v FROM nd4 UNION ALL SELECT hi AS v FROM nd4)),
         |dec4(r, v, st) AS (
         |  SELECT 0, v,
         |         CASE WHEN NOT EXISTS (SELECT 1 FROM nd4 WHERE nd4.hi = vx4.v)
         |              THEN 'A' ELSE 'U' END
         |  FROM vx4
         |  UNION ALL
         |  SELECT d.r + 1, d.v,
         |         CASE WHEN d.st <> 'U' THEN d.st
         |              WHEN EXISTS (SELECT 1 FROM nd4 e JOIN dec4 a ON a.v = e.lo
         |                           WHERE e.hi = d.v AND a.st = 'A' AND a.r = d.r) THEN 'R'
         |              WHEN NOT EXISTS (SELECT 1 FROM nd4 e JOIN dec4 a ON a.v = e.lo
         |                               WHERE e.hi = d.v AND a.st <> 'R' AND a.r = d.r) THEN 'A'
         |              ELSE 'U' END
         |  FROM dec4 d
         |  WHERE EXISTS (SELECT 1 FROM dec4 u WHERE u.st = 'U' AND u.r = d.r)),
         |rej4 AS (SELECT v AS doc_id FROM dec4
         |         WHERE r = (SELECT MAX(r) FROM dec4) AND st = 'R'),
         |ndsurv AS (SELECT e.doc_id, e.text FROM exsurv e
         |           WHERE e.doc_id NOT IN (SELECT doc_id FROM rej4)),
         |sp4 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |bench4 AS (
         |  SELECT doc_id AS bench_id, ws AS bws FROM sp4 WHERE doc_id < 5
         |  UNION ALL
         |  SELECT doc_id + 100 AS bench_id, fill || ws[1:24] AS bws
         |  FROM (SELECT doc_id, ws,
         |               list_transform(generate_series(0, 7),
         |                 i -> 'z' || CAST(doc_id AS VARCHAR) || 'p' || CAST(i AS VARCHAR)) AS fill
         |        FROM sp4 WHERE doc_id < 5)),
         |bw4 AS (SELECT DISTINCT bench_id, ${phashSql("array_to_string(bws[i + 1 : i + 8], ' ')")} AS h
         |        FROM (SELECT bench_id, bws, unnest(generate_series(0, len(bws) - 8)) AS i
         |              FROM bench4 WHERE len(bws) >= 8)),
         |bt4 AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_item_windows FROM bw4 GROUP BY 1),
         |dw4 AS (SELECT doc_id, ${phashSql("array_to_string(ws[i + 1 : i + 8], ' ')")} AS h
         |        FROM (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 8)) AS i
         |              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM ndsurv)
         |              WHERE len(ws) >= 8)),
         |contam4 AS (SELECT DISTINCT hh.doc_id
         |            FROM (SELECT d.doc_id, b.bench_id,
         |                         CAST(COUNT(DISTINCT d.h) AS BIGINT) AS n_present
         |                  FROM dw4 d JOIN bw4 b ON d.h = b.h GROUP BY 1, 2) hh
         |            JOIN bt4 t USING (bench_id)
         |            WHERE 2 * hh.n_present >= t.n_item_windows)
         |SELECT q.doc_id,
         |       CASE WHEN q.quality IS NULL OR q.quality < 0.5 THEN 'quality'
         |            WHEN q.doc_id NOT IN (SELECT doc_id FROM exsurv) THEN 'exact'
         |            WHEN q.doc_id IN (SELECT doc_id FROM rej4) THEN 'neardup'
         |            WHEN q.doc_id IN (SELECT doc_id FROM contam4) THEN 'contaminated'
         |            ELSE 'kept' END AS stage,
         |       round(q.quality, 6) AS quality
         |FROM q4 q ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val plants = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" qq"), col("doc_id").cast("string"),
            lit("x0 qq"), col("doc_id").cast("string"), lit("x1")).as("text"))
      def corpus = withDupes(docs).unionByName(plants)
      // TEXT NEVER RIDES A SHUFFLE (PlanSpec-pinned): every stage that
      // needs document bodies consumes them in a NARROW projection off
      // its own corpus scan (quality formula, md5, shingle explode,
      // window explode — quality is a scalar of text, so the "passed"
      // restriction RECOMPUTES it in the scan instead of joining text
      // back through an exchange); every join/shuffle in the chain
      // carries ids, fingerprints, signatures, or window hashes. Three
      // corpus scans instead of one text-carrying shuffle is the right
      // trade at 100 TB — scans parallelize for free, a body-carrying
      // exchange is the cluster-wide bottleneck.
      val scored = corpus
        .select(Seq(col("doc_id"), col("text")) ++ qualityFeatureCols: _*)
        .select(col("doc_id"), qualityCol.as("quality"),
          md5(col("text")).as("fp"))
        // exact-survivor membership rides the checkpoint as a min
        // window (r18, guide §2.4): __ex = 1 iff the doc is the
        // min-id QUALITY SURVIVOR of its fingerprint group (min
        // ignores the nulls the `when` leaves on failed docs — the
        // same "reps grouped over pass4" set as the r17 groupBy(fp)
        // + doc_id SortMergeJoin back onto scored, in ONE fp-keyed
        // exchange computed once inside the checkpoint).
        .withColumn("__ex",
          when(col("quality") >= 0.5 &&
            col("doc_id") === min(when(col("quality") >= 0.5, col("doc_id")))
              .over(Window.partitionBy("fp")), lit(1)))
        .localCheckpoint() // one evaluation feeds every manifest leg
      // reps ⊆ passed, so this filter IS the exact-survivor id set —
      // a narrow re-read of the checkpointed frame, no aggregation
      val exSurvIds = scored.filter(col("__ex") === 1).select("doc_id")
      // signatures over the quality survivors (narrow re-filter in the
      // scan), pairs restricted to exact survivors AFTERWARD: band
      // collision and estimate depend only on the two endpoint docs'
      // content, so banding the not-yet-deduped set and then filtering
      // endpoints yields exactly the survivor-subset pairs
      def passedDocs = corpus
        .select(Seq(col("doc_id"), col("text")) ++ qualityFeatureCols: _*)
        .filter(qualityCol >= 0.5).select("doc_id", "text")
      // signatures are the chain's dominant cost and a pure function of
      // documents.parquet (corpus construction + quality gate are
      // deterministic) — build-once, fingerprint-keyed, exactly the
      // d2/d5 signaturesArtifact discipline. The logic key is DERIVED
      // from the values it must track — the quality formula's SQL, the
      // plant recipe literal, the gate threshold, the MinHash geometry —
      // so a change to ANY of them changes the key and forces a rebuild;
      // a hand-maintained constant would silently serve stale signatures
      // (the artifact fingerprint covers only documents.parquet)
      val sigLogicKey = "dupes+plants%7-qq2" +
        s" gate>=0.5 qfn=${graft.sinks.VersionedStore.logicTag(qualityCol.toString)}" +
        s" minhash-k${MinHash.K}b${MinHash.Bands}"
      val sigs = graft.sinks.VersionedStore.corpusArtifact(s, d, "e2e4_sigs",
        logicKey = sigLogicKey) { out =>
        MinHash.signatures(passedDocs).write.parquet(out)
      }
      val pairs = MinHash.nearDupPairsFromSignatures(sigs, 0.5)
        .join(exSurvIds.withColumnRenamed("doc_id", "doc1"), Seq("doc1"), "left_semi")
        .join(exSurvIds.withColumnRenamed("doc_id", "doc2"), Seq("doc2"), "left_semi")
      val rejected = DedupCluster.greedyAdmit(pairs.select("doc1", "doc2"))
        .filter(!col("admitted")).select("doc_id")
      val bw = d7bBenchWindows(d7bBenchFixture(
        docs.select(col("doc_id"), split(col("text"), " ").as("ws"))))
        .localCheckpoint() // fixture-sized; broadcast side of the screen
      // verdicts over the quality survivors (a doc's verdict depends
      // only on its content + the fixture). The r17 form restricted
      // the flags to the near-dup survivors through an ndSurvIds
      // semi-join; that restriction is REDUNDANT for the output — the
      // CASE below consults __con only after quality, __ex and __rej
      // have passed, i.e. exactly on nd-survivors — so the flags frame
      // is served unrestricted and the semi-join (plus the ndSurvIds
      // anti-join feeding it) is gone (r18, guide §2.4).
      val contam = d7bVerdicts(
        passedDocs.select(col("doc_id"), split(col("text"), " ").as("ws")), bw)
        .select("doc_id").distinct()
      // Stage assignment is ONE pass over `scored` (exact-survivor
      // membership already rides it as __ex) with two BROADCAST left
      // joins on the bounded id frames — greedy-rejected nodes and
      // contamination flags are id-only projections of the pair GRAPH
      // and the bench screen (never corpus-scale; the near-dup graph
      // is the same frame greedyAdmit itself iterates with broadcast
      // joins) — r18: SMJ 3 → 0 (guide §3.1). The id sets are each
      // distinct by construction (greedyAdmit = one row per graph
      // node; contam = .distinct()), so the left joins cannot
      // multiply rows.
      scored
        .join(broadcast(rejected.withColumn("__rej", lit(1))), Seq("doc_id"), "left")
        .join(broadcast(contam.withColumn("__con", lit(1))), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("quality").isNull || col("quality") < 0.5, lit("quality"))
            .when(col("__ex").isNull, lit("exact"))
            .when(col("__rej") === 1, lit("neardup"))
            .when(col("__con") === 1, lit("contaminated"))
            .otherwise(lit("kept")).as("stage"),
          round(col("quality"), 6).as("quality"))
        .orderBy("doc_id")
    },

    /* T11: vocabulary-id vectorization — the CountVectorizer step that
     * turns text into bounded integer sequences a trainer consumes: a
     * corpus vocabulary of the top-V terms (rank by frequency desc,
     * term asc — fully deterministic), then every document mapped
     * token-by-token to its vocab id, out-of-vocabulary → 0, ORDER
     * PRESERVED. Emitted as a comma-joined id string plus an OOV count
     * (the number a tokenizer-coverage gate watches).
     *
     * Shape at scale: the vocab is ONE tf aggregate + a top-V rank (V
     * rows, a bounded artifact exactly like v4's codebook); the mapping
     * pass explodes tokens, BROADCASTS the V-row vocab into the join,
     * and re-aggregates per doc on (pos)-ordered ids — the corpus
     * shuffles once in token rows, the vocab never shuffles at all.
     *
     * V = 24 here, deliberately BELOW the synthetic corpus's 31
     * distinct words, so the OOV branch fires on real rows (V = 1000
     * on this corpus would map every token and leave id 0 untested);
     * production picks V per tokenizer budget, the plan is identical.
     */
    QueryDef.sql("t11_vectorize",
      s"""WITH tok AS (
         |  SELECT doc_id, pos, w FROM (
         |    SELECT doc_id,
         |           unnest(string_split(text, ' ')) AS w,
         |           generate_subscripts(string_split(text, ' '), 1) AS pos
         |    FROM documents)),
         |vocab AS (
         |  SELECT w, row_number() OVER (ORDER BY COUNT(*) DESC, w) AS id
         |  FROM tok GROUP BY w
         |  ORDER BY COUNT(*) DESC, w LIMIT 24),
         |mapped AS (
         |  SELECT t.doc_id, t.pos, COALESCE(v.id, 0) AS id
         |  FROM tok t LEFT JOIN vocab v ON t.w = v.w)
         |SELECT doc_id,
         |       COUNT(*) AS n_tokens,
         |       CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids_csv
         |FROM mapped GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "w")))
        .select(col("doc_id"), (col("p0") + 1).as("pos"), col("w"))
      // top-V first (TakeOrderedAndProject — distributed), THEN rank:
      // the only unpartitioned window runs over the bounded V-row frame,
      // never the full term set
      val vocab = tok.groupBy("w").agg(count(lit(1)).as("tf"))
        .orderBy(desc("tf"), asc("w")).limit(24)
        .withColumn("id", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(desc("tf"), asc("w"))))
        .select("w", "id")
      tok.join(broadcast(vocab), Seq("w"), "left")
        .select(col("doc_id"), col("pos"),
          coalesce(col("id"), lit(0)).cast("long").as("id"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("id") === 0, 1).otherwise(0)).as("n_oov"),
          array_join(expr(
            "transform(array_sort(collect_list(struct(pos, id))), x -> CAST(x.id AS STRING))"),
            ",").as("ids_csv"))
        .orderBy("doc_id")
    },

    /* T10: boilerplate removal — the CCNet/RefinedWeb step that strips
     * content REPEATED ACROSS documents (cookie banners, nav text,
     * footers) while keeping each document's unique body. Unit of
     * removal = the d8 non-overlapping 8-word block (this corpus has no
     * newlines, so blocks stand in for CCNet's paragraphs); a block is
     * boilerplate when it occurs in >= 3 distinct documents. The doc is
     * then REASSEMBLED from its surviving blocks in order — this is the
     * one dedup-family operator that rewrites the text rather than
     * flagging the doc.
     *
     * Shape at scale: one narrow pass builds blocks per row (array
     * transform, no shuffle), one hash shuffle counts per-block document
     * frequency (map-side combine on the block hash), and the verdict
     * joins back on the hash. The reassembly groups by doc_id —
     * positions and blocks only, never the original body — and
     * boilerplate rows are few, so the second shuffle carries the corpus
     * once in blocks, the same budget as d8's index build.
     *
     * Fixture: the synthetic corpus repeats nothing, so docs with
     * doc_id % 4 == 0 get an 8-word banner PREPENDED (prepending keeps
     * it block-aligned at position 0 — the planted boilerplate shared by
     * a quarter of the corpus), making removal observable: those docs
     * must come back equal to their original re-blocked text.
     */
    QueryDef.sql("t10_boilerplate",
      s"""WITH c AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 4 = 0
         |              THEN 'please subscribe to our newsletter for more updates ' || text
         |              ELSE text END AS text
         |  FROM documents),
         |sp AS (SELECT doc_id, string_split(text, ' ') AS ws FROM c),
         |b AS (
         |  SELECT doc_id, i AS bi, len(ws) AS nw,
         |         array_to_string(ws[i * 8 + 1 : i * 8 + 8], ' ') AS block
         |  FROM sp, unnest(generate_series(0, CAST(ceil(len(ws) / 8.0) AS INT) - 1)) AS t(i)),
         |df AS (
         |  SELECT ${phashSql("block")} AS h, COUNT(DISTINCT doc_id) AS n_docs
         |  FROM b WHERE (bi + 1) * 8 <= nw GROUP BY 1),
         |flagged AS (
         |  SELECT b.doc_id, b.bi, b.block,
         |         COALESCE(df.n_docs, 0) >= 3 AND (b.bi + 1) * 8 <= b.nw AS boiler
         |  FROM b LEFT JOIN df ON ${phashSql("b.block")} = df.h)
         |SELECT doc_id,
         |       COUNT(*) AS n_blocks,
         |       CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |       md5(COALESCE(string_agg(CASE WHEN NOT boiler THEN block END, ' ' ORDER BY bi), '')) AS cleaned_fp
         |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val c = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("please subscribe to our newsletter for more updates "), col("text")))
          .otherwise(col("text")).as("text"))
      val blocks = c
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), size(col("ws")).as("nw"),
          posexplode(expr(
            "transform(sequence(0, CAST(ceil(size(ws) / 8.0) AS INT) - 1)," +
              " i -> concat_ws(' ', slice(ws, i * 8 + 1, 8)))")).as(Seq("bi", "block")))
        .withColumn("h", phash(col("block")))
      // partial tail blocks (< 8 words) never count toward document
      // frequency and are never removed — only full blocks can be
      // boilerplate (CCNet counts only sufficiently long lines)
      val full = col("bi") * 8 + 8 <= col("nw")
      val df_ = blocks.filter(full).groupBy("h")
        .agg(count_distinct(col("doc_id")).as("n_docs"))
      blocks.join(df_, Seq("h"), "left")
        .withColumn("boiler", coalesce(col("n_docs"), lit(0L)) >= 3 && full)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("boiler"), 1).otherwise(0)).as("n_removed"),
          md5(coalesce(array_join(expr(
            "transform(filter(array_sort(collect_list(struct(bi, boiler, block)))," +
              " x -> NOT x.boiler), x -> x.block)"), " "), lit(""))).as("cleaned_fp"))
        .orderBy("doc_id")
    },

    // T12: per-source quality calibration — the FineWeb/CCNet
    // discipline of thresholding quality WITHIN each source (dump,
    // domain) instead of globally: t3's absolute score distribution
    // differs per source, so a single global cutoff over- or
    // under-prunes whole sources. percent_rank over the µ-quantized
    // score (d16's tie discipline: a 1-ulp double skew can't reorder;
    // residual ties → doc_id; NULLS FIRST stated explicitly — Spark
    // and DuckDB DEFAULT to opposite null ends for ASC) normalizes
    // every source to [0,1]; keep = top half of its own source. One
    // window shuffle on source — the same plan at any corpus size.
    QueryDef.sql("t12_quality_calibrate",
      s"""WITH feat AS (SELECT doc_id, source, $qualityFeaturesSql FROM documents),
         |scored AS (SELECT doc_id, source, $qualityFormulaSql AS q FROM feat),
         |ranked AS (
         |  SELECT doc_id, source, q,
         |         percent_rank() OVER (
         |           PARTITION BY source
         |           ORDER BY CAST(ROUND(q * 1000000) AS BIGINT) NULLS FIRST,
         |                    doc_id) AS pr
         |  FROM scored)
         |SELECT doc_id, source, round(q, 6) AS quality,
         |       round(pr, 6) AS source_pct, pr >= 0.5 AS kept
         |FROM ranked ORDER BY doc_id""".stripMargin) { (s, d) =>
      val scored = Tables.documents(s, d)
        .select(Seq(col("doc_id"), col("source")) ++ qualityFeatureCols: _*)
        .select(col("doc_id"), col("source"), qualityCol.as("q"))
      scored
        .withColumn("pr", percent_rank().over(
          Window.partitionBy("source")
            .orderBy(round(col("q") * 1000000).cast("long").asc_nulls_first,
              col("doc_id").asc)))
        .select(col("doc_id"), col("source"), round(col("q"), 6).as("quality"),
          round(col("pr"), 6).as("source_pct"), (col("pr") >= 0.5).as("kept"))
        .orderBy("doc_id")
    },

    // T14: unigram language-model scoring — the CCNet discipline
    // (Wenzek et al. 2020) of scoring each document by its mean
    // per-token log-probability under a corpus-trained LM; gibberish
    // (OOV-heavy) docs score near the smoothing floor ln(1/(N+V)) and
    // are dropped. The corpus is too clean to exercise the gate, so
    // gibberish docs are PLANTED (md5-hex junk under doc_id+1000000,
    // the withDupes discipline): organic docs score ≥ -4.1 while
    // planted junk scores ≤ -5.8 at every tested SF, so the midpoint
    // gate kept = (score >= -5.0) flags exactly the plants.
    // 100 TB shape: the unigram table is ONE map-side-combined
    // groupBy; the top-V vocab is TakeOrdered into bounded driver
    // state (V=1000) and BROADCAST into the token stream — the
    // scoring join never shuffles the corpus; (N, V) is a 1-row
    // broadcast crossJoin. Laplace add-1 over the capped vocab, both
    // dialects textually parallel.
    QueryDef.sql("t14_unigram_logprob",
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |         concat(md5(text), ' ', md5(concat(text, 'q')), ' ', md5(concat(text, 'z'))) AS text
         |  FROM documents WHERE doc_id % 20 = 0),
         |tok AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok FROM aug),
         |cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
         |tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM cnt),
         |vocab AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 1000),
         |scored AS (
         |  SELECT t.doc_id,
         |         ln(CAST(COALESCE(vb.c, 0) + 1 AS DOUBLE) / (tot.n + tot.v)) AS lp
         |  FROM tok t LEFT JOIN vocab vb USING (tok) CROSS JOIN tot)
         |SELECT doc_id, COUNT(*) AS n_tokens, round(AVG(lp), 6) AS avg_logprob,
         |       round(AVG(lp), 6) >= -5.0 AS kept
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val aug = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .union(Tables.documents(s, d).filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(md5(col("text")), lit(" "), md5(concat(col("text"), lit("q"))),
              lit(" "), md5(concat(col("text"), lit("z")))).as("text")))
      val tok = aug.select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("tok"))
      val cnt = tok.groupBy("tok").agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum("c").as("n"), count(lit(1)).as("v"))
      // top-V vocab: TakeOrdered (deterministic — count desc, token asc
      // is a unique key), bounded driver state, broadcast into the scan
      val vocab = cnt.orderBy(col("c").desc, col("tok").asc).limit(1000)
      tok.join(broadcast(vocab), Seq("tok"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("lp",
          log((coalesce(col("c"), lit(0L)) + 1).cast("double") / (col("n") + col("v"))))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), round(avg("lp"), 6).as("avg_logprob"))
        .withColumn("kept", col("avg_logprob") >= -5.0)
        .orderBy("doc_id")
    },

    // T15: robust per-source length-outlier filter — median + MAD
    // (median absolute deviation), the estimator corpus pipelines use
    // because it tolerates the very contamination it hunts: the
    // PLANTED 4% megadocs (n_chars × 20 under doc_id+1000000) leave
    // the median/MAD threshold unmoved — a z-score filter's mean/std
    // would be dragged by its own outliers. is_outlier flags exactly
    // the plants, zero organic false positives (proven by the oracle).
    // 100 TB shape: two grouped aggs on `source` (bounded cardinality)
    // whose outputs BROADCAST back onto the corpus — the corpus itself
    // never shuffles. `percentile` is exact to match the DuckDB
    // oracle; at real scale flip to approx_percentile (same plan
    // shape, mergeable sketch) — the same exact→approx dial as
    // a2/a8 vs the HLL/t-digest twins.
    QueryDef.sql("t15_mad_outlier",
      s"""WITH aug AS (
         |  SELECT doc_id, source, n_chars FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, source, n_chars * 20 FROM documents WHERE doc_id % 25 = 0),
         |med AS (SELECT source, median(CAST(n_chars AS DOUBLE)) AS med FROM aug GROUP BY 1),
         |dev AS (SELECT a.doc_id, a.source, a.n_chars, m.med, ABS(a.n_chars - m.med) AS ad
         |        FROM aug a JOIN med m USING (source)),
         |mad AS (SELECT source, median(ad) AS mad FROM dev GROUP BY 1)
         |SELECT v.doc_id, v.source, v.n_chars, round(v.med, 2) AS med, round(m.mad, 2) AS mad,
         |       ABS(v.n_chars - v.med) > 3 * 1.4826 * m.mad AS is_outlier
         |FROM dev v JOIN mad m USING (source) ORDER BY v.doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).select("doc_id", "source", "n_chars")
      val aug = base
        .union(base.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("source"),
            (col("n_chars") * 20).as("n_chars")))
      val med = aug.groupBy("source")
        .agg(expr("percentile(CAST(n_chars AS DOUBLE), 0.5)").as("med"))
      val dev = aug.join(broadcast(med), Seq("source"))
        .withColumn("ad", abs(col("n_chars") - col("med")))
      val mad = dev.groupBy("source").agg(expr("percentile(ad, 0.5)").as("mad"))
      dev.join(broadcast(mad), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(col("med"), 2).as("med"), round(col("mad"), 2).as("mad"),
          (abs(col("n_chars") - col("med")) > lit(3) * lit(1.4826) * col("mad"))
            .as("is_outlier"))
        .orderBy("doc_id")
    },

    // T16: source-mix report — the observed-mixture table (The Pile /
    // Dolma style) that s3/s5's target weights are DECIDED from:
    // per-source doc and char shares (ppm integers — one IEEE division
    // each) plus the Shannon-entropy contribution −p·ln(p), whose sum
    // is the corpus' source diversity (ln(n_sources) iff perfectly
    // uniform — the concentration number a mixing pass monitors).
    // 100 TB shape: ONE map-side-combined groupBy reduces the corpus
    // to |sources| rows; the totals come from an unpartitioned window
    // OVER THAT BOUNDED AGGREGATE (s5's PlanSpec-pinned pattern) —
    // the () window sees ~20 rows, never the corpus. Both the naive
    // bySrc.agg(...) crossJoin and a rollup+grouping() split planned
    // a SECOND full corpus scan (verified via Explain: no exchange
    // reuse — the grouping filters specialize the Expand per branch);
    // this formulation is single-scan by construction (PlanSpec).
    QueryDef.sql("t16_source_mix_report",
      """WITH s AS (SELECT source, COUNT(*) AS n_docs,
        |                  CAST(SUM(n_chars) AS BIGINT) AS chars
        |           FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
        |               CAST(SUM(chars) AS BIGINT) AS tc FROM s)
        |SELECT s.source, s.n_docs, s.chars,
        |       CAST(round(1000000.0 * s.n_docs / tot.td, 0) AS BIGINT) AS doc_share_ppm,
        |       CAST(round(1000000.0 * s.chars / tot.tc, 0) AS BIGINT) AS char_share_ppm,
        |       round(-1.0 * (CAST(s.n_docs AS DOUBLE) / tot.td)
        |             * ln(CAST(s.n_docs AS DOUBLE) / tot.td), 6) AS ent_contrib
        |FROM s CROSS JOIN tot ORDER BY s.source""".stripMargin) { (s, d) =>
      val w = Window.partitionBy()
      val bySrc = Tables.documents(s, d).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
        .withColumn("td", sum("n_docs").over(w))
        .withColumn("tc", sum("chars").over(w))
      val p = col("n_docs").cast("double") / col("td")
      bySrc
        .select(col("source"), col("n_docs"), col("chars"),
          round(lit(1000000.0) * col("n_docs") / col("td"), 0).cast("long")
            .as("doc_share_ppm"),
          round(lit(1000000.0) * col("chars") / col("tc"), 0).cast("long")
            .as("char_share_ppm"),
          round(lit(-1.0) * p * log(p), 6).as("ent_contrib"))
        .orderBy("source")
    },

    // T17: pipeline ablation waterfall — the per-stage survival report
    // every training-data paper publishes (and every pipeline owner
    // watches): docs and chars surviving length → language →
    // repetition → exact-dedup, with retention vs raw and vs the
    // previous stage in exact ppm. Copies of every 4th doc are planted
    // (the d17 discipline — this corpus has no organic exact dupes, so
    // without plants the dedup stage would report a vacuous 100%).
    // Stage predicates are self-contained: n_chars >= 150, lang = 'en',
    // max single-token share <= 12% (the t8 repetition signal), first
    // copy per md5(text) — planted copies are byte-identical to their
    // originals, so every stage flag agrees within a dup group and the
    // global first-copy equals the survivor-restricted one.
    // 100 TB shape: ONE corpus scan computes all flags (the repetition
    // flag adds the per-doc token rollup — map-side-combined, the only
    // corpus shuffle beside the md5 window), the five stage aggregates
    // are map-side-combined counts, and the waterfall windows run over
    // FIVE rows. Reporting five stages costs one pipeline pass, not
    // five.
    QueryDef.sql("t17_pipeline_waterfall",
      """WITH aug AS MATERIALIZED (
        |  SELECT doc_id, text, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 5000000, text, lang, n_chars
        |  FROM documents WHERE doc_id % 4 = 1),
        |rep AS (SELECT doc_id, 1000000 * MAX(c) // SUM(c) AS max_share_ppm FROM (
        |          SELECT doc_id, COUNT(*) AS c FROM (
        |            SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t
        |            FROM aug) GROUP BY doc_id, t)
        |        GROUP BY doc_id),
        |flags AS MATERIALIZED (SELECT a.doc_id, a.n_chars,
        |                 CASE WHEN a.n_chars >= 150 THEN 1 ELSE 0 END AS f1,
        |                 CASE WHEN a.lang = 'en' THEN 1 ELSE 0 END AS f2,
        |                 CASE WHEN COALESCE(r.max_share_ppm, 0) <= 120000 THEN 1 ELSE 0 END AS f3,
        |                 CASE WHEN row_number() OVER (PARTITION BY md5(a.text)
        |                                              ORDER BY a.doc_id) = 1
        |                      THEN 1 ELSE 0 END AS f4
        |          FROM aug a LEFT JOIN rep r USING (doc_id)),
        |stages AS (
        |  SELECT 0 AS stage_id, 'raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS n_chars_total FROM flags
        |  UNION ALL SELECT 1, 'length', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT) FROM flags WHERE f1 = 1
        |  UNION ALL SELECT 2, 'language', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT) FROM flags
        |            WHERE f1 = 1 AND f2 = 1
        |  UNION ALL SELECT 3, 'repetition', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT) FROM flags
        |            WHERE f1 = 1 AND f2 = 1 AND f3 = 1
        |  UNION ALL SELECT 4, 'exact_dedup', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT) FROM flags
        |            WHERE f1 = 1 AND f2 = 1 AND f3 = 1 AND f4 = 1)
        |SELECT stage_id, stage, n_docs, n_chars_total,
        |       CAST(1000000 * n_docs // FIRST_VALUE(n_docs) OVER (ORDER BY stage_id) AS BIGINT) AS retained_ppm,
        |       CAST(1000000 * n_docs // LAG(n_docs, 1, n_docs) OVER (ORDER BY stage_id) AS BIGINT) AS step_ppm
        |FROM stages ORDER BY stage_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select("doc_id", "text", "lang", "n_chars")
      val aug = docs.union(docs.filter(col("doc_id") % 4 === 1)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          col("text"), col("lang"), col("n_chars")))
      val rep = aug
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(expr("1000000 * MAX(c) div SUM(c)").as("max_share_ppm"))
      // LEFT join: a doc whose text tokenizes to NOTHING has no rep
      // row — it must still count in 'raw' (and trivially passes the
      // repetition stage: no tokens, no repetition). An inner join
      // here silently shrank the baseline. flags is per-doc tiny and
      // feeds FIVE stage aggregates — localCheckpoint so the corpus
      // scan, token rollup, and md5 window run ONCE, which is the
      // one-pipeline-pass claim this query makes.
      val flags = aug.join(rep, Seq("doc_id"), "left")
        .withColumn("f1", when(col("n_chars") >= 150, 1).otherwise(0))
        .withColumn("f2", when(col("lang") === "en", 1).otherwise(0))
        .withColumn("f3",
          when(coalesce(col("max_share_ppm"), lit(0L)) <= 120000, 1).otherwise(0))
        .withColumn("f4", when(row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))) === 1, 1)
          .otherwise(0))
        .select("doc_id", "n_chars", "f1", "f2", "f3", "f4")
        .localCheckpoint()
      def stage(id: Int, name: String, pred: org.apache.spark.sql.Column) =
        flags.filter(pred).agg(
          lit(id).as("stage_id"), lit(name).as("stage"),
          count(lit(1)).cast("long").as("n_docs"),
          sum("n_chars").cast("long").as("n_chars_total"))
          .select("stage_id", "stage", "n_docs", "n_chars_total")
      val stages = stage(0, "raw", lit(true))
        .unionByName(stage(1, "length", col("f1") === 1))
        .unionByName(stage(2, "language", col("f1") === 1 && col("f2") === 1))
        .unionByName(stage(3, "repetition",
          col("f1") === 1 && col("f2") === 1 && col("f3") === 1))
        .unionByName(stage(4, "exact_dedup",
          col("f1") === 1 && col("f2") === 1 && col("f3") === 1 && col("f4") === 1))
      val w = Window.orderBy("stage_id")
      stages
        .withColumn("first_docs", first("n_docs").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("prev_docs", coalesce(lag("n_docs", 1).over(w), col("n_docs")))
        .select(col("stage_id"), col("stage"), col("n_docs"), col("n_chars_total"),
          expr("CAST((1000000 * n_docs) div first_docs AS BIGINT)").as("retained_ppm"),
          expr("CAST((1000000 * n_docs) div prev_docs AS BIGINT)").as("step_ppm"))
        .orderBy("stage_id")
    },

    // T20: the Gopher rule battery (Rae et al. 2021, Appendix A.1.1) —
    // the published hard-threshold filter set, distinct from t3's
    // weighted heuristic score: each rule is its own verdict column so
    // the report says WHICH rule kills a doc, not just that one did
    // (the accounting a filter owner tunes against). Every ratio rule
    // runs as integer cross-multiplication (3 ≤ mean_wlen ≤ 10 becomes
    // 3·n_words ≤ sum_len ≤ 10·n_words) — no float ever forms, so both
    // engines agree bit-for-bit. The line-level Gopher rules (bullet /
    // ellipsis line ratios) don't apply to the fixture's single-line
    // docs and are documented out; the designated stop set is t3's
    // English marker set (the corpus's actual function-word register —
    // Gopher's own set assumes natural prose). One narrow projection,
    // one output sort: the whole battery is map-only at any corpus
    // size. [[gopherRules]] is the reusable projection; OpsSpec feeds
    // it planted single-rule violators, since the clean fixture
    // (correctly) trips only the word-count and stop-word rules.
    QueryDef.sql("t20_gopher_rules", {
      val stopHitsSql = GopherStops.map(w =>
        s"CASE WHEN regexp_matches(text, '\\b$w\\b') THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH f AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS sum_len,
         |         CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS n_sym,
         |         CAST(len(list_filter(string_split(text, ' '),
         |                              w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
         |         CAST($stopHitsSql AS BIGINT) AS n_stop
         |  FROM documents)
         |SELECT doc_id, source, n_words, n_stop,
         |       r_wordcount, r_wordlen, r_symbols, r_alpha, r_stops,
         |       (r_wordcount AND r_wordlen AND r_symbols AND r_alpha AND r_stops) AS pass
         |FROM (
         |  SELECT doc_id, source, n_words, n_stop,
         |         n_words BETWEEN 50 AND 100000 AS r_wordcount,
         |         (3 * n_words <= sum_len AND sum_len <= 10 * n_words) AS r_wordlen,
         |         (10 * n_sym <= n_words) AS r_symbols,
         |         (5 * n_alpha >= 4 * n_words) AS r_alpha,
         |         (n_stop >= 2) AS r_stops
         |  FROM f)
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      gopherRules(Tables.documents(s, d)).orderBy("doc_id")
    },

    // T21: Zipf rank-frequency fit per source — the corpus scaling-law
    // diagnostic (Zipf 1949; used operationally to spot degenerate or
    // machine-generated sources, whose slopes collapse toward 0 or
    // diverge past -2). Per source: OLS of ln(freq) on ln(rank) over
    // the top-1000 terms, with slope, intercept and R² — the closed
    // forms of a14_group_regression applied to the term table.
    // Determinism discipline: ln values are quantized to integer
    // micro-units BEFORE summing (BIGINT sums are exact and
    // order-independent — a14's trick), then every cross-sum product
    // runs in DOUBLE (IEEE-deterministic on identical inputs and
    // overflow-free where BIGINT products would wrap at a 1e7-term
    // vocabulary — the DSIR-lift lesson). NULLIF guards the degenerate
    // one-term / constant-frequency sources on both engines.
    // 100 TB shape: the corpus is touched by ONE map-side-combined
    // groupBy (source, term); ranking and the fit run on the
    // vocab×|sources|-bounded term table (the rank window partitions
    // by source over that bounded frame, never the corpus), and the
    // top-1000 cut bounds the fit regardless of vocabulary growth.
    QueryDef.sql("t21_zipf_fit",
      """WITH base AS (
        |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents),
        |tf AS (SELECT source, word, COUNT(*) AS f FROM base GROUP BY 1, 2),
        |rk AS (SELECT source, f,
        |              row_number() OVER (PARTITION BY source ORDER BY f DESC, word) AS r
        |       FROM tf),
        |q AS (SELECT source,
        |             CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS xq,
        |             CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS yq
        |      FROM rk WHERE r <= 1000),
        |sums AS (SELECT source, COUNT(*) AS n_terms,
        |                CAST(SUM(xq) AS DOUBLE) AS sx, CAST(SUM(yq) AS DOUBLE) AS sy,
        |                CAST(SUM(xq * xq) AS DOUBLE) AS sxx,
        |                CAST(SUM(xq * yq) AS DOUBLE) AS sxy,
        |                CAST(SUM(yq * yq) AS DOUBLE) AS syy
        |         FROM q GROUP BY 1)
        |SELECT source, n_terms,
        |       round((n_terms * sxy - sx * sy)
        |               / NULLIF(n_terms * sxx - sx * sx, 0), 6) AS zipf_slope,
        |       round((sy - (n_terms * sxy - sx * sy)
        |                     / NULLIF(n_terms * sxx - sx * sx, 0) * sx)
        |               / n_terms / 1000000.0, 6) AS zipf_intercept,
        |       round((n_terms * sxy - sx * sy) * (n_terms * sxy - sx * sy)
        |               / NULLIF((n_terms * sxx - sx * sx) * (n_terms * syy - sy * sy), 0),
        |             6) AS r2
        |FROM sums ORDER BY source""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).select(col("source"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      val tf = base.groupBy("source", "word").agg(count(lit(1)).as("f"))
      val rk = tf.select(col("source"), col("f"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("f").desc, col("word"))).as("r"))
      val q = rk.filter(col("r") <= 1000).select(col("source"),
        round(log(col("r").cast("double")) * 1000000, 0).cast("long").as("xq"),
        round(log(col("f").cast("double")) * 1000000, 0).cast("long").as("yq"))
      val sums = q.groupBy("source").agg(
        count(lit(1)).as("n_terms"),
        sum("xq").cast("double").as("sx"), sum("yq").cast("double").as("sy"),
        sum(col("xq") * col("xq")).cast("double").as("sxx"),
        sum(col("xq") * col("yq")).cast("double").as("sxy"),
        sum(col("yq") * col("yq")).cast("double").as("syy"))
      val num = col("n_terms") * col("sxy") - col("sx") * col("sy")
      val denx = nullif(col("n_terms") * col("sxx") - col("sx") * col("sx"), lit(0d))
      val deny = col("n_terms") * col("syy") - col("sy") * col("sy")
      sums.select(col("source"), col("n_terms"),
        round(num / denx, 6).as("zipf_slope"),
        round((col("sy") - num / denx * col("sx")) / col("n_terms") / 1000000.0, 6)
          .as("zipf_intercept"),
        round(num * num / nullif((col("n_terms") * col("sxx") - col("sx") * col("sx")) * deny,
          lit(0d)), 6).as("r2"))
        .orderBy("source")
    },

    // T22: Heaps'-law vocabulary-growth curve — distinct-term count as
    // a function of tokens seen, in 10 arrival-order deciles, plus the
    // fitted Heaps exponent β (V ≈ K·Nᵝ; Heaps 1978). The operational
    // read: β collapsing toward 0 means the tail of the corpus adds no
    // new vocabulary (a saturation / duplication signal BEFORE any
    // dedup pass runs); β near 1 means unbounded novelty (OCR noise,
    // random identifiers). The cumulative curve needs NO re-scan per
    // prefix: each term contributes only its FIRST-occurrence decile
    // (one vocab-bounded groupBy), each doc its token count (one
    // narrow pass onto a 10-row histogram), and the 10-row curve is
    // cumulated by a window over those 10 rows. β uses the same
    // quantized-ln + exact-integer-sum OLS discipline as t21.
    // 100 TB shape: two corpus passes (token counts; per-term MIN
    // decile), both map-side-combined onto bounded frames — the decile
    // histogram (10 rows) and the vocabulary table. Nothing
    // corpus-sized shuffles; the window runs on 10 rows.
    QueryDef.sql("t22_heaps_growth",
      """WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
        |tokc AS (
        |  SELECT LEAST(CAST(floor(doc_id * 10.0 / nd) AS INT), 9) + 1 AS b,
        |         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS nt
        |  FROM documents, nd),
        |db AS (SELECT b, COUNT(*) AS docs, CAST(SUM(nt) AS BIGINT) AS toks
        |       FROM tokc GROUP BY 1),
        |fo AS (SELECT word,
        |              MIN(LEAST(CAST(floor(doc_id * 10.0 / nd) AS INT), 9) + 1) AS fb
        |       FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |             FROM documents), nd
        |       GROUP BY 1),
        |vb AS (SELECT fb AS b, COUNT(*) AS v FROM fo GROUP BY 1),
        |curve AS (
        |  SELECT p,
        |         CAST(SUM(COALESCE(db.docs, 0)) OVER (ORDER BY p) AS BIGINT) AS docs_cum,
        |         CAST(SUM(COALESCE(db.toks, 0)) OVER (ORDER BY p) AS BIGINT) AS tokens_cum,
        |         CAST(SUM(COALESCE(vb.v, 0)) OVER (ORDER BY p) AS BIGINT) AS vocab_cum
        |  FROM (SELECT unnest(generate_series(1, 10)) AS p)
        |  LEFT JOIN db ON db.b = p LEFT JOIN vb ON vb.b = p),
        |q AS (SELECT p, docs_cum, tokens_cum, vocab_cum,
        |             CAST(round(ln(CAST(tokens_cum AS DOUBLE)) * 1000000) AS BIGINT) AS xq,
        |             CAST(round(ln(CAST(vocab_cum AS DOUBLE)) * 1000000) AS BIGINT) AS yq
        |      FROM curve WHERE tokens_cum > 0 AND vocab_cum > 0),
        |fit AS (SELECT COUNT(*) AS n,
        |               CAST(SUM(xq) AS DOUBLE) AS sx, CAST(SUM(yq) AS DOUBLE) AS sy,
        |               CAST(SUM(xq * xq) AS DOUBLE) AS sxx,
        |               CAST(SUM(xq * yq) AS DOUBLE) AS sxy
        |        FROM q)
        |SELECT p, docs_cum, tokens_cum, vocab_cum,
        |       round((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6) AS heaps_beta
        |FROM q, fit ORDER BY p""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val nd = docs.agg(count(lit(1)).cast("long").as("nd"))
      val bCol = (least(floor(col("doc_id") * 10.0 / col("nd")).cast("int"), lit(9)) + 1).as("b")
      val db = docs.crossJoin(broadcast(nd))
        .select(bCol,
          size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).cast("long").as("nt"))
        .groupBy("b").agg(count(lit(1)).as("docs"), sum("nt").cast("long").as("toks"))
      val vb = docs.select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
        .crossJoin(broadcast(nd))
        .select(col("word"), bCol)
        .groupBy("word").agg(min("b").as("fb"))
        .groupBy(col("fb").as("b")).agg(count(lit(1)).as("v"))
      val ps = nd.select(explode(expr("sequence(1, 10)")).as("p"))
      val w = Window.orderBy("p")
      val curve = ps
        .join(broadcast(db), ps("p") === db("b"), "left")
        .join(broadcast(vb), ps("p") === vb("b"), "left")
        .select(col("p"),
          sum(coalesce(col("docs"), lit(0L))).over(w).cast("long").as("docs_cum"),
          sum(coalesce(col("toks"), lit(0L))).over(w).cast("long").as("tokens_cum"),
          sum(coalesce(col("v"), lit(0L))).over(w).cast("long").as("vocab_cum"))
      val q = curve.filter(col("tokens_cum") > 0 && col("vocab_cum") > 0)
        .select(col("p"), col("docs_cum"), col("tokens_cum"), col("vocab_cum"),
          round(log(col("tokens_cum").cast("double")) * 1000000, 0).cast("long").as("xq"),
          round(log(col("vocab_cum").cast("double")) * 1000000, 0).cast("long").as("yq"))
      val fit = q.agg(
        count(lit(1)).as("n"),
        sum("xq").cast("double").as("sx"), sum("yq").cast("double").as("sy"),
        sum(col("xq") * col("xq")).cast("double").as("sxx"),
        sum(col("xq") * col("yq")).cast("double").as("sxy"))
      q.crossJoin(broadcast(fit))
        .select(col("p"), col("docs_cum"), col("tokens_cum"), col("vocab_cum"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            nullif(col("n") * col("sxx") - col("sx") * col("sx"), lit(0d)), 6)
            .as("heaps_beta"))
        .orderBy("p")
    }
  )
}
