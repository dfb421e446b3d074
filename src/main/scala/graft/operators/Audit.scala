package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** Data-quality integrity audit — the health gate a pipeline runs
  * between ingestion and training: referential integrity between the
  * corpus and its embedding table (every doc embedded, no orphan
  * vectors), plus per-vector invariants (declared dimensionality,
  * non-zero norm, no NaN poisoning) and per-doc invariants (non-empty
  * text). One summary row; any non-zero defect count fails the release.
  *
  * Shape at scale: two narrow scans with map-side aggregates plus two
  * anti-joins on the id (the only shuffles). Element checks are
  * higher-order array functions (`filter`/`exists`) — no explode, no
  * UDF. The synthetic tables are fully healthy, so one probe row per
  * defect class is planted on BOTH engine and oracle sides (the
  * m1/t9 probe idiom) — every counter is observably non-zero.
  */
object Audit {

  val defs: Seq[QueryDef] = Seq(

    QueryDef.sql("qa1_integrity_audit",
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT CAST(9000001 AS BIGINT), 'orphan doc with no vector'
        |  UNION ALL SELECT CAST(9000006 AS BIGINT), ''),
        |v AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT CAST(9000003 AS BIGINT), [CAST(1 AS FLOAT), CAST(2 AS FLOAT)]
        |  UNION ALL SELECT CAST(9000004 AS BIGINT),
        |            list_transform(generate_series(1, 64), x -> CAST(0 AS FLOAT))
        |  UNION ALL SELECT CAST(9000005 AS BIGINT),
        |            list_transform(generate_series(1, 64), x -> CAST('nan' AS FLOAT)))
        |SELECT
        |  (SELECT COUNT(*) FROM d) AS n_docs,
        |  (SELECT COUNT(*) FROM v) AS n_vecs,
        |  (SELECT COUNT(*) FROM d LEFT JOIN v ON d.doc_id = v.vec_id
        |   WHERE v.vec_id IS NULL) AS docs_missing_vec,
        |  (SELECT COUNT(*) FROM v LEFT JOIN d ON v.vec_id = d.doc_id
        |   WHERE d.doc_id IS NULL) AS vecs_missing_doc,
        |  (SELECT COUNT(*) FROM v WHERE len(embedding) <> 64) AS wrong_dim,
        |  (SELECT COUNT(*) FROM v
        |   WHERE len(list_filter(embedding, x -> x <> 0)) = 0) AS zero_norm,
        |  (SELECT COUNT(*) FROM v
        |   WHERE len(list_filter(embedding, x -> isnan(x))) > 0) AS with_nan,
        |  (SELECT COUNT(*) FROM d
        |   WHERE text IS NULL OR length(text) = 0) AS empty_texts""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .union(Seq((9000001L, "orphan doc with no vector"), (9000006L, ""))
          .toDF("doc_id", "text"))
      val vecs = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        .union(Seq(
          (9000003L, Array(1.0f, 2.0f)),
          (9000004L, Array.fill(64)(0.0f)),
          (9000005L, Array.fill(64)(Float.NaN)))
          .toDF("vec_id", "embedding"))
      val docStats = docs.agg(count(lit(1)).as("n_docs"),
        sum(when(col("text").isNull || length(col("text")) === 0, 1).otherwise(0))
          .as("empty_texts"))
      val vecStats = vecs.agg(count(lit(1)).as("n_vecs"),
        sum(when(size(col("embedding")) =!= 64, 1).otherwise(0)).as("wrong_dim"),
        sum(when(expr("size(filter(embedding, x -> x <> 0))") === 0, 1).otherwise(0))
          .as("zero_norm"),
        sum(when(expr("exists(embedding, x -> isnan(x))"), 1).otherwise(0))
          .as("with_nan"))
      val docsMissing = docs.join(vecs, docs("doc_id") === vecs("vec_id"), "left_anti")
        .agg(count(lit(1)).as("docs_missing_vec"))
      val vecsMissing = vecs.join(docs, vecs("vec_id") === docs("doc_id"), "left_anti")
        .agg(count(lit(1)).as("vecs_missing_doc"))
      docStats.crossJoin(vecStats).crossJoin(docsMissing).crossJoin(vecsMissing)
        .select(col("n_docs"), col("n_vecs"), col("docs_missing_vec"),
          col("vecs_missing_doc"), col("wrong_dim"), col("zero_norm"),
          col("with_nan"), col("empty_texts"))
    },

    /* Column-level profile — the schema-health half of the audit (what
     * `ANALYZE TABLE` / Deequ's profiler emit): per column, null count,
     * exact distinct cardinality, and min/max bounds, one output row per
     * column. ONE pass over the corpus: a single wide aggregate computes
     * all 20 statistics, then a `stack` unpivots the one result row into
     * the per-column report — the corpus is never scanned per column.
     *
     * Scale dial: the 5 exact COUNT(DISTINCT)s in one aggregate plan
     * through Expand (a 5x row multiply before the partial agg). That is
     * the honest exact shape; at 100 TB you flip cardinality to
     * approx_count_distinct (the mergeable HLL sketch this repo already
     * fields as scale_approx_distinct) and the Expand disappears. Bounds
     * are reported as strings (substr'd for text) so one schema fits all
     * column types; profiled columns here are int64/string only, whose
     * casts format identically in both engines.
     *
     * A probe row with NULL text/lang/n_chars is planted on both sides
     * (the qa1 idiom) — the synthetic table is fully non-null, and the
     * null counters must be observably non-zero.
     */
    QueryDef.sql("qa2_column_profile",
      """WITH d AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT CAST(-1 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |         'probe', CAST(NULL AS BIGINT))
        |SELECT * FROM (
        |  SELECT 'doc_id' AS col,
        |         CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |         COUNT(DISTINCT doc_id) AS n_distinct,
        |         CAST(MIN(doc_id) AS VARCHAR) AS min_v,
        |         CAST(MAX(doc_id) AS VARCHAR) AS max_v
        |  FROM d
        |  UNION ALL
        |  SELECT 'text',
        |         CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         COUNT(DISTINCT text),
        |         substr(MIN(text), 1, 24), substr(MAX(text), 1, 24)
        |  FROM d
        |  UNION ALL
        |  SELECT 'lang',
        |         CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         COUNT(DISTINCT lang), MIN(lang), MAX(lang)
        |  FROM d
        |  UNION ALL
        |  SELECT 'source',
        |         CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         COUNT(DISTINCT source), MIN(source), MAX(source)
        |  FROM d
        |  UNION ALL
        |  SELECT 'n_chars',
        |         CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         COUNT(DISTINCT n_chars),
        |         CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
        |  FROM d)
        |ORDER BY col""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .union(Seq((-1L, null.asInstanceOf[String], null.asInstanceOf[String],
          "probe", null.asInstanceOf[java.lang.Long]))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
      def stats(c: String, minMax: Column => Column): Seq[Column] = Seq(
        sum(when(col(c).isNull, 1).otherwise(0)).as(s"${c}_nn"),
        count_distinct(col(c)).as(s"${c}_nd"),
        minMax(min(col(c))).as(s"${c}_min"),
        minMax(max(col(c))).as(s"${c}_max"))
      val asStr = (x: Column) => x.cast("string")
      val trunc = (x: Column) => substring(x, 1, 24)
      val allStats = stats("doc_id", asStr) ++ stats("text", trunc) ++
        stats("lang", identity) ++ stats("source", identity) ++
        stats("n_chars", asStr)
      val wide = docs.agg(allStats.head, allStats.tail: _*)
      wide.selectExpr(
        """stack(5,
          |  'doc_id',  doc_id_nn,  doc_id_nd,  doc_id_min,  doc_id_max,
          |  'text',    text_nn,    text_nd,    text_min,    text_max,
          |  'lang',    lang_nn,    lang_nd,    lang_min,    lang_max,
          |  'source',  source_nn,  source_nd,  source_min,  source_max,
          |  'n_chars', n_chars_nn, n_chars_nd, n_chars_min, n_chars_max
          |) AS (col, n_null, n_distinct, min_v, max_v)""".stripMargin)
        .orderBy("col")
    },

    /* Profile drift — qa2 applied as a MONITOR (the Deequ/great-
     * expectations anomaly pattern): profile two snapshots of the same
     * table and report, per column, how row count, null count, and
     * distinct cardinality moved; `drifted` flags any movement. Run
     * between yesterday's and today's partition (or two VersionedStore
     * versions), this is the release gate that catches a silently
     * narrowed join or a newly-nullable upstream field — the profile
     * numbers alone can't say WHICH rows broke (cdc1 answers that),
     * but they are one scan per snapshot instead of a key join.
     *
     * Fixture: OLD = %5≠4; NEW = %3≠2 with %7=0 langs nulled and
     * %11=0 texts collapsed to a constant — so each drift class is
     * observably non-zero through a DIFFERENT column: a row-count
     * drop, a null regression on lang, and a cardinality collapse on
     * text (the classic silently-redacted-upstream bug).
     */
    QueryDef.sql("qa3_profile_drift",
      """WITH old AS (
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 5 <> 4),
        |new AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 11 = 0 THEN 'REDACTED' ELSE text END AS text,
        |         CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang
        |  FROM documents WHERE doc_id % 3 <> 2),
        |po AS (
        |  SELECT 'doc_id' AS col, COUNT(*) AS n_rows,
        |         CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |         COUNT(DISTINCT doc_id) AS n_distinct FROM old
        |  UNION ALL
        |  SELECT 'text', COUNT(*),
        |         CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         COUNT(DISTINCT text) FROM old
        |  UNION ALL
        |  SELECT 'lang', COUNT(*),
        |         CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         COUNT(DISTINCT lang) FROM old),
        |pn AS (
        |  SELECT 'doc_id' AS col, COUNT(*) AS n_rows,
        |         CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |         COUNT(DISTINCT doc_id) AS n_distinct FROM new
        |  UNION ALL
        |  SELECT 'text', COUNT(*),
        |         CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         COUNT(DISTINCT text) FROM new
        |  UNION ALL
        |  SELECT 'lang', COUNT(*),
        |         CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         COUNT(DISTINCT lang) FROM new)
        |SELECT po.col,
        |       pn.n_rows - po.n_rows AS row_delta,
        |       pn.n_null - po.n_null AS null_delta,
        |       pn.n_distinct - po.n_distinct AS distinct_delta,
        |       (pn.n_rows <> po.n_rows OR pn.n_null <> po.n_null
        |          OR pn.n_distinct <> po.n_distinct) AS drifted
        |FROM po JOIN pn ON po.col = pn.col
        |ORDER BY po.col""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val old = docs.filter(col("doc_id") % 5 =!= 4)
        .select(col("doc_id"), col("text"), col("lang"))
      val neu = docs.filter(col("doc_id") % 3 =!= 2)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, lit("REDACTED"))
            .otherwise(col("text")).as("text"),
          when(col("doc_id") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("lang")).as("lang"))
      // one wide agg + stack per snapshot (qa2's single-scan shape)
      def profile(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val exprs = Seq("doc_id", "text", "lang").flatMap { c =>
          Seq(count(lit(1)).as(s"${c}_nr"),
            sum(when(col(c).isNull, 1).otherwise(0)).as(s"${c}_nn"),
            count_distinct(col(c)).as(s"${c}_nd"))
        }
        df.agg(exprs.head, exprs.tail: _*).selectExpr(
          """stack(3,
            |  'doc_id', doc_id_nr, doc_id_nn, doc_id_nd,
            |  'text',   text_nr,   text_nn,   text_nd,
            |  'lang',   lang_nr,   lang_nn,   lang_nd
            |) AS (col, n_rows, n_null, n_distinct)""".stripMargin)
      }
      val po = profile(old).as("po")
      val pn = profile(neu).as("pn")
      po.join(pn, col("po.col") === col("pn.col"))
        .select(col("po.col").as("col"),
          (col("pn.n_rows") - col("po.n_rows")).as("row_delta"),
          (col("pn.n_null") - col("po.n_null")).as("null_delta"),
          (col("pn.n_distinct") - col("po.n_distinct")).as("distinct_delta"),
          (col("pn.n_rows") =!= col("po.n_rows") ||
            col("pn.n_null") =!= col("po.n_null") ||
            col("pn.n_distinct") =!= col("po.n_distinct")).as("drifted"))
        .orderBy("col")
    },

    // QA4: train/test split-leakage audit — the contamination check a
    // team runs on its OWN splits (d7b screens external benchmarks;
    // this screens the split boundary): for every test-split document
    // under s8's deterministic Knuth-hash assignment (formula inlined
    // verbatim — the audit must see exactly the splits s8 ships), the
    // fraction of its distinct 8-gram windows that also appear in ANY
    // train-split document, flagged at ≥ 50%. Window evidence is
    // d18's; because s8's assignment is id-hash-random, near-duplicate
    // doc groups straddle splits and leak PARTIALLY — the report shows
    // that organic gradient, while planted cross-split exact
    // duplicates (every even-id test doc re-appearing as a train doc
    // at +5e7 — the "same page crawled twice" accident) pin the
    // flagged end at exactly 1e6 ppm (OpsSpec).
    // 100 TB shape: both window streams are narrow projections
    // (shuffles carry (doc_id, h) / h, never text); the train-hash set
    // is corpus-sized, so the membership probe is a hash LEFT join on
    // h — linear, never broadcast, never a pair join; the rollup is
    // one test-doc-keyed agg. Nothing is quadratic in documents.
    QueryDef.sql("qa4_split_leakage",
      s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS ws,
         |                  (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 AS bkt
         |           FROM documents),
         |lab AS (SELECT doc_id, ws,
         |               CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split
         |        FROM b),
         |aug AS (SELECT doc_id, split, ws FROM lab
         |        UNION ALL
         |        SELECT doc_id + 50000000 AS doc_id, 'train' AS split, ws
         |        FROM lab WHERE split = 'test' AND doc_id % 2 = 0),
         |trw AS (SELECT DISTINCT h
         |        FROM (${TextOps.windowHashSql("(SELECT ws FROM aug WHERE split = 'train')", Nil)})),
         |tew AS (SELECT DISTINCT *
         |        FROM (${TextOps.windowHashSql("(SELECT doc_id, ws FROM aug WHERE split = 'test')", Seq("doc_id"))}))
         |SELECT tew.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
         |       CAST(SUM(CASE WHEN t.h IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_in_train,
         |       CAST((1000000 * SUM(CASE WHEN t.h IS NULL THEN 0 ELSE 1 END)) // COUNT(*) AS BIGINT) AS leak_ppm,
         |       2 * SUM(CASE WHEN t.h IS NULL THEN 0 ELSE 1 END) >= COUNT(*) AS flagged
         |FROM tew LEFT JOIN trw t USING (h)
         |GROUP BY tew.doc_id ORDER BY tew.doc_id""".stripMargin) { (s, d) =>
      val lab = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"),
          expr("(((doc_id % 2147483648) * 2654435761) % 4294967296) % 100").as("bkt"))
        .select(col("doc_id"), col("ws"),
          expr("CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END")
            .as("split"))
      val aug = lab.unionByName(
        lab.filter(col("split") === "test" && col("doc_id") % 2 === 0)
          .select((col("doc_id") + 50000000L).as("doc_id"), col("ws"),
            lit("train").as("split")))
      val trw = TextOps.windowHashes(aug.filter(col("split") === "train"), Seq("doc_id"))
        .select("h").distinct().withColumn("hit", lit(1))
      val tew = TextOps.windowHashes(aug.filter(col("split") === "test"), Seq("doc_id")).distinct()
      tew.join(trw, Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_windows"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_in_train"))
        .select(col("doc_id"), col("n_windows"), col("n_in_train"),
          expr("CAST((1000000 * n_in_train) div n_windows AS BIGINT)").as("leak_ppm"),
          (col("n_in_train") * 2 >= col("n_windows")).as("flagged"))
        .orderBy("doc_id")
    },

    // QA5: ingest freshness + completeness audit — the per-source SLA
    // gate an ops pipeline runs before anything downstream trusts a
    // partition: per event_type over the full calendar spine, active
    // vs missing days, the LONGEST outage run (gaps-and-islands over
    // the zero days — one 4-day hole is a different incident than
    // four scattered blips), and the freshness lag (days since the
    // type last produced anything, against the corpus high-water
    // mark). An audit whose rows are all green proves nothing, so
    // outages are PLANTED: 'error' loses days 5-7 and 12 (missing 4,
    // max gap 3, lag 0 — it recovered), 'purchase' loses everything
    // from day 27 (missing 3, max gap 3, lag 3 — still dark); the
    // other three types must audit clean, and OpsSpec gates all
    // fifteen cells exactly. Spine bounds come from the RAW corpus,
    // so the plants cannot shift the calendar they're measured on.
    // 100 TB shape: one narrow (type, day) projection → map-side-
    // combined daily rollup; everything after runs on the
    // types × days grid (bounded), and the spine/bounds frames are
    // broadcasts.
    QueryDef.sql("qa5_freshness_audit",
      """WITH raw AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM raw),
        |nd AS (SELECT datediff('day', d0, d1) AS maxidx FROM bounds),
        |b AS (SELECT r.event_type, datediff('day', bounds.d0, r.day) AS idx
        |      FROM raw r CROSS JOIN bounds
        |      WHERE NOT (r.event_type = 'error'
        |                 AND datediff('day', bounds.d0, r.day) IN (5, 6, 7, 12))
        |        AND NOT (r.event_type = 'purchase'
        |                 AND datediff('day', bounds.d0, r.day) >= 27)),
        |types AS (SELECT DISTINCT event_type FROM raw),
        |daily AS (SELECT event_type, idx, COUNT(*) AS n FROM b GROUP BY 1, 2),
        |grid AS (SELECT t.event_type, s.idx, COALESCE(d.n, 0) AS n
        |         FROM types t
        |         CROSS JOIN (SELECT unnest(generate_series(0, (SELECT maxidx FROM nd))) AS idx) s
        |         LEFT JOIN daily d ON d.event_type = t.event_type AND d.idx = s.idx),
        |zeros AS (SELECT event_type, idx,
        |                 idx - row_number() OVER (PARTITION BY event_type ORDER BY idx) AS grp
        |          FROM grid WHERE n = 0),
        |gaps AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS gap
        |         FROM zeros GROUP BY event_type, grp),
        |mg AS (SELECT event_type, MAX(gap) AS max_gap FROM gaps GROUP BY 1),
        |agg AS (SELECT event_type,
        |               CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS active_days,
        |               CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS missing_days,
        |               MAX(CASE WHEN n > 0 THEN idx END) AS last_idx
        |        FROM grid GROUP BY 1)
        |SELECT a.event_type, a.active_days, a.missing_days,
        |       CAST(COALESCE(mg.max_gap, 0) AS BIGINT) AS max_gap_days,
        |       CAST(nd.maxidx - a.last_idx AS BIGINT) AS freshness_lag_days,
        |       CAST(CASE WHEN a.missing_days > 0 OR nd.maxidx - a.last_idx > 0
        |                 THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM agg a LEFT JOIN mg USING (event_type) CROSS JOIN nd
        |ORDER BY a.event_type""".stripMargin) { (s, d) =>
      val raw = Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"))
      val bounds = raw.agg(min("day").as("d0"), max("day").as("d1"))
      val nd = bounds.select(datediff(col("d1"), col("d0")).as("maxidx"))
      val b = raw.crossJoin(broadcast(bounds))
        .withColumn("idx", datediff(col("day"), col("d0")))
        .filter(!(col("event_type") === "error" && col("idx").isin(5, 6, 7, 12)))
        .filter(!(col("event_type") === "purchase" && col("idx") >= 27))
      val types = raw.select("event_type").distinct()
      val daily = b.groupBy("event_type", "idx").agg(count(lit(1)).as("n"))
      val spine = nd.select(explode(expr("sequence(0, maxidx)")).as("idx"))
      val grid = types.crossJoin(broadcast(spine))
        .join(daily, Seq("event_type", "idx"), "left")
        .select(col("event_type"), col("idx"), coalesce(col("n"), lit(0L)).as("n"))
      val zeros = grid.filter(col("n") === 0)
        .withColumn("grp", col("idx") - row_number().over(
          Window.partitionBy("event_type").orderBy("idx")))
      val mg = zeros.groupBy("event_type", "grp").agg(count(lit(1)).cast("long").as("gap"))
        .groupBy("event_type").agg(max("gap").as("max_gap"))
      val agg = grid.groupBy("event_type").agg(
        sum(when(col("n") > 0, 1).otherwise(0)).cast("long").as("active_days"),
        sum(when(col("n") === 0, 1).otherwise(0)).cast("long").as("missing_days"),
        max(when(col("n") > 0, col("idx"))).as("last_idx"))
      agg.join(mg, Seq("event_type"), "left").crossJoin(broadcast(nd))
        .select(col("event_type"), col("active_days"), col("missing_days"),
          coalesce(col("max_gap"), lit(0L)).cast("long").as("max_gap_days"),
          (col("maxidx") - col("last_idx")).cast("long").as("freshness_lag_days"),
          expr("CAST(CASE WHEN missing_days > 0 OR maxidx - last_idx > 0 THEN 1 ELSE 0 END AS BIGINT)")
            .as("flagged"))
        .orderBy("event_type")
    },

    // QA6: k-anonymity audit + local-recoding anonymization — the
    // governance leg beside t7's PII scrub and Forget's erasure: before
    // a person-keyed table leaves the pipeline, every row must sit in a
    // quasi-identifier equivalence class of size >= k (Sweeney 2002).
    // The QI here is (nation, account-balance band); the generalization
    // ladder is Samarati's lattice walked per row (local recoding):
    //   level 0: (nation, 1000-band)  level 1: (nation, 5000-band)
    //   level 2: (nation)             level 3: '*' (full suppression)
    // and each row is assigned the FIRST level whose class reaches
    // k = 5 — at_risk_raw is the audit half (the row's raw class leaks
    // at k < 5), (level, k_size) is the action half. OpsSpec recounts
    // the ladder in plain Scala and pins the guarantee (k_size >= 5 or
    // level 3) and minimality (level L > 0 ⇒ the L-1 class was < k).
    // 100 TB shape: the person table is aggregated ONCE (the level-0
    // class table, bounded by the QI attribute space nations × bands,
    // localCheckpointed); every coarser level rolls up from it by the
    // nested-floor identity floor(x/5000) = floor(floor(x/1000)/5) —
    // floor-division, not `div`, so negative balances band correctly.
    // All three class joins BROADCAST and the person table itself
    // never shuffles: two scans total (row side + the one aggregate),
    // PlanSpec-pinned, the same plan at any row count.
    QueryDef.sql("qa6_k_anonymity",
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey AS nk,
        |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS b0,
        |         CAST(floor(c_acctbal / 5000) AS BIGINT) AS b1
        |  FROM customer),
        |l0 AS (SELECT nk, b0, COUNT(*) AS n0 FROM c GROUP BY 1, 2),
        |l1 AS (SELECT nk, b1, COUNT(*) AS n1 FROM c GROUP BY 1, 2),
        |l2 AS (SELECT nk, COUNT(*) AS n2 FROM c GROUP BY 1),
        |l3 AS (SELECT COUNT(*) AS n3 FROM c)
        |SELECT c.c_custkey, c.nk, c.b0, n0 < 5 AS at_risk_raw,
        |       CAST(CASE WHEN n0 >= 5 THEN 0 WHEN n1 >= 5 THEN 1
        |            WHEN n2 >= 5 THEN 2 ELSE 3 END AS BIGINT) AS level,
        |       CASE WHEN n0 >= 5 THEN n0 WHEN n1 >= 5 THEN n1
        |            WHEN n2 >= 5 THEN n2 ELSE n3 END AS k_size
        |FROM c JOIN l0 USING (nk, b0) JOIN l1 USING (nk, b1)
        |       JOIN l2 USING (nk) CROSS JOIN l3
        |ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).select(col("c_custkey"),
        col("c_nationkey").as("nk"),
        expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("b0"),
        expr("CAST(floor(c_acctbal / 5000) AS BIGINT)").as("b1"))
      val l0 = c.groupBy("nk", "b0").agg(count(lit(1)).as("n0")).localCheckpoint()
      val l1 = l0.withColumn("b1", expr("CAST(floor(b0 / 5.0) AS BIGINT)"))
        .groupBy("nk", "b1").agg(sum("n0").as("n1"))
      val l2 = l0.groupBy("nk").agg(sum("n0").as("n2"))
      val l3 = l0.agg(sum("n0").as("n3"))
      c.join(broadcast(l0), Seq("nk", "b0"))
        .join(broadcast(l1), Seq("nk", "b1"))
        .join(broadcast(l2), Seq("nk"))
        .crossJoin(broadcast(l3))
        .select(col("c_custkey"), col("nk"), col("b0"),
          (col("n0") < 5).as("at_risk_raw"),
          expr("CAST(CASE WHEN n0 >= 5 THEN 0 WHEN n1 >= 5 THEN 1" +
            " WHEN n2 >= 5 THEN 2 ELSE 3 END AS BIGINT)").as("level"),
          expr("CASE WHEN n0 >= 5 THEN n0 WHEN n1 >= 5 THEN n1" +
            " WHEN n2 >= 5 THEN n2 ELSE n3 END").as("k_size"))
        .orderBy("c_custkey")
    },

    // QA7: class-balance audit over the labeled embedding table — the
    // pre-training sanity report for any classification / contrastive
    // dataset: per-class count and share, per-class mean squared
    // embedding norm (a collapsed or unnormalized class shows up here
    // before it poisons a training run), plus the distribution-level
    // dials — Shannon entropy in bits (uniform 10-class = log2(10) ≈
    // 3.32; a skew collapse drops it) and the max/min imbalance ratio.
    // Determinism: norms come from 1e-6-quantized elements (exact
    // BIGINT xi² sums — the v1/v5 element discipline); each class's
    // entropy contribution is quantized to integer micro-bits BEFORE
    // the cross-class sum (the t21 discipline — a float sum over class
    // rows would be engine-order-dependent); all counts exact.
    // 100 TB shape: ONE map-only pass computes each vector's exact
    // squared norm inside an aggregate() HOF (no explode, no shuffle —
    // the element stream never leaves the row), then one map-side-
    // combined groupBy onto the |classes|-bounded frame; everything
    // after is arithmetic on that bounded table.
    QueryDef.sql("qa7_label_balance",
      """WITH e AS (
        |  SELECT vec_id, label,
        |         CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS xi
        |  FROM (SELECT vec_id, label, unnest(embedding) AS x FROM embeddings)),
        |n2 AS (SELECT vec_id, label, CAST(SUM(xi * xi) AS BIGINT) AS n2
        |       FROM e GROUP BY 1, 2),
        |lb AS (SELECT label, COUNT(*) AS n, CAST(SUM(n2) AS BIGINT) AS sn2
        |       FROM n2 GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t, CAST(MAX(n) AS BIGINT) AS mx,
        |               CAST(MIN(n) AS BIGINT) AS mn FROM lb),
        |ent AS (SELECT CAST(SUM(CAST(round(
        |                 -(CAST(n AS DOUBLE) / t) * ln(CAST(n AS DOUBLE) / t)
        |                   / ln(2) * 1000000.0) AS BIGINT)) AS BIGINT) AS eq
        |        FROM lb, tot)
        |SELECT lb.label, lb.n,
        |       CAST((1000000 * lb.n) // tot.t AS BIGINT) AS share_ppm,
        |       round(CAST(lb.sn2 AS DOUBLE) / lb.n / 1000000000000.0, 6) AS mean_norm2,
        |       round(CAST(ent.eq AS DOUBLE) / 1000000.0, 6) AS entropy_bits,
        |       round(CAST(tot.mx AS DOUBLE) / tot.mn, 6) AS imbalance
        |FROM lb CROSS JOIN tot CROSS JOIN ent
        |ORDER BY lb.label""".stripMargin) { (s, d) =>
      val xi = "cast(round(cast(x as double) * 1000000.0, 0) as bigint)"
      val n2 = Tables.embeddings(s, d).select(col("label"),
        expr(s"aggregate(embedding, cast(0 as bigint), (acc, x) -> acc + $xi * $xi)")
          .as("n2"))
      val lb = n2.groupBy("label")
        .agg(count(lit(1)).as("n"), sum("n2").cast("long").as("sn2"))
        .localCheckpoint()
      val tot = lb.agg(sum("n").cast("long").as("t"),
        max("n").cast("long").as("mx"), min("n").cast("long").as("mn"))
      val ent = lb.crossJoin(broadcast(tot))
        .select(round(-(col("n").cast("double") / col("t")) *
          log(col("n").cast("double") / col("t")) / math.log(2) * 1000000.0, 0)
          .cast("long").as("eqi"))
        .agg(sum("eqi").cast("long").as("eq"))
      lb.crossJoin(broadcast(tot)).crossJoin(broadcast(ent))
        .select(col("label"), col("n"),
          expr("CAST((1000000 * n) div t AS BIGINT)").as("share_ppm"),
          round(col("sn2").cast("double") / col("n") / 1e12, 6).as("mean_norm2"),
          round(col("eq").cast("double") / 1e6, 6).as("entropy_bits"),
          round(col("mx").cast("double") / col("mn"), 6).as("imbalance"))
        .orderBy("label")
    }
  )
}
