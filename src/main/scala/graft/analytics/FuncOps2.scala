package graft.analytics

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.operators.TextOps
import graft.sources.Tables

/** Second breadth wave: statistical aggregates, regex, arrays,
  * subqueries, grouping sets, window frames, null handling, unpivot,
  * range join and deterministic sampling — every query oracled.
  *
  * Cross-engine determinism notes (see COVERAGE.md playbook):
  *  - statistical moments are EXACT integer sums (quantized inputs) and
  *    the final corr/covar is derived with the same single-IEEE-op
  *    expression text in both engines — never the engines' own
  *    accumulator-order-dependent corr()/covar_samp();
  *  - regex patterns stay in the Java∩RE2 common subset; DuckDB
  *    regexp_replace needs the 'g' flag to match Spark's replace-all;
  *  - array outputs are serialized to comma-joined strings (the
  *    driver's comparator can't hash raw arrays).
  */
object FuncOps2 {

  /** s5's quota rule over (sq, total_sq, n_total), factored so the
    * overflow spec exercises the production expression: exact integer
    * ppm = min(1e6, 300·sq·1e6 div (total_sq·n_total)), computed in
    * DECIMAL(38,0). In BIGINT, 300·sq·1e6 wraps once a single source
    * holds ~1 GB of chars (sq ≈ sqrt(mass)·1e6) and total_sq·n_total
    * earlier still — silently negative under non-ANSI Spark, an error
    * in DuckDB. `div` (not `/`) matches DuckDB's `//`.
    */
  def s5QuotaPpm: org.apache.spark.sql.Column =
    least(lit(1000000L),
      expr("(300 * CAST(sq AS DECIMAL(38,0)) * 1000000)" +
        " div (CAST(total_sq AS DECIMAL(38,0)) * n_total)"))

  val defs: Seq[QueryDef] = Seq(

    // A11: corr/covar from exact quantized power sums, per return flag.
    QueryDef.sql("a11_adv_stats",
      """WITH q AS (
        |  SELECT l_returnflag,
        |         CAST(round(CAST(l_quantity AS DOUBLE) * 100.0, 0) AS BIGINT) AS xi,
        |         CAST(round(CAST(l_discount AS DOUBLE) * 10000.0, 0) AS BIGINT) AS yi
        |  FROM lineitem),
        |sums AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         CAST(SUM(xi) AS BIGINT) AS sx, CAST(SUM(yi) AS BIGINT) AS sy,
        |         CAST(SUM(xi * xi) AS BIGINT) AS sxx, CAST(SUM(yi * yi) AS BIGINT) AS syy,
        |         CAST(SUM(xi * yi) AS BIGINT) AS sxy
        |  FROM q GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |         NULLIF(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |                sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0) AS corr_qd,
        |       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) /
        |         (CAST(n AS DOUBLE) - 1.0) AS covar_samp_qd,
        |       CAST(sx AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS mean_qty
        |FROM sums ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val q = Tables.lineitem(s, d).select(
        col("l_returnflag"),
        round(col("l_quantity").cast("double") * 100.0, 0).cast("long").as("xi"),
        round(col("l_discount").cast("double") * 10000.0, 0).cast("long").as("yi"))
      val sums = q.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(col("xi")).as("sx"), sum(col("yi")).as("sy"),
        sum(col("xi") * col("xi")).as("sxx"), sum(col("yi") * col("yi")).as("syy"),
        sum(col("xi") * col("yi")).as("sxy"))
      val n = col("n").cast("double")
      val (sx, sy, sxx, syy, sxy) = (col("sx").cast("double"), col("sy").cast("double"),
        col("sxx").cast("double"), col("syy").cast("double"), col("sxy").cast("double"))
      sums.select(col("l_returnflag"), col("n"),
          // nullif: a zero-variance group divides by 0 — Spark (ANSI
          // off) yields NULL, DuckDB IEEE NaN; force NULL in both
          ((n * sxy - sx * sy) /
            nullif(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), lit(0.0)))
            .as("corr_qd"),
          ((sxy - sx * sy / n) / (n - lit(1.0))).as("covar_samp_qd"),
          (sx / lit(100.0) / n).as("mean_qty"))
        .orderBy("l_returnflag")
    },

    // RE1: regex battery over documents (Java ∩ RE2 pattern subset).
    QueryDef.sql("re1_regex_battery",
      """SELECT doc_id,
        |       regexp_extract(text, '^(\S+)', 1) AS first_word,
        |       regexp_matches(text, '[0-9]') AS has_digit,
        |       regexp_replace(substr(text, 1, 30), '[aeiou]', '', 'g') AS devoweled_prefix,
        |       regexp_extract(text, '\b(the|a|of)\b', 1) AS first_stopword,
        |       regexp_replace(text, '\s+', ' ', 'g') = text AS single_spaced
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"),
          regexp_extract(col("text"), "^(\\S+)", 1).as("first_word"),
          col("text").rlike("[0-9]").as("has_digit"),
          regexp_replace(substring(col("text"), 1, 30), "[aeiou]", "").as("devoweled_prefix"),
          regexp_extract(col("text"), "\\b(the|a|of)\\b", 1).as("first_stopword"),
          (regexp_replace(col("text"), "\\s+", " ") === col("text")).as("single_spaced"))
        .orderBy("doc_id")
    },

    // ARR1: array/higher-order battery over tokenized documents
    // (array outputs serialized to strings for the comparator).
    QueryDef.sql("arr1_array_battery",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
        |SELECT doc_id,
        |       CAST(len(words) AS BIGINT) AS n_words,
        |       array_to_string(words[1:3], ',') AS first3,
        |       words[-1] AS last_word,
        |       list_contains(words, 'the') AS has_the,
        |       array_to_string((list_sort(list_distinct(words)))[1:5], ',') AS distinct5
        |FROM w ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .select(
          col("doc_id"),
          size(col("words")).cast("long").as("n_words"),
          concat_ws(",", slice(col("words"), 1, 3)).as("first3"),
          element_at(col("words"), -1).as("last_word"),
          array_contains(col("words"), "the").as("has_the"),
          concat_ws(",", slice(array_sort(array_distinct(col("words"))), 1, 5)).as("distinct5"))
        .orderBy("doc_id")
    },

    // SQ1: subquery battery via the engine's SQL surface (spark.sql):
    // correlated scalar agg, uncorrelated scalar, EXISTS, IN.
    QueryDef.sql("sq1_subqueries",
      """SELECT c.c_custkey, c.c_name,
        |       (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |       c.c_acctbal = (SELECT MAX(c2.c_acctbal) FROM customer c2) AS is_richest
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |  AND c.c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        |ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
      // per-source view names, registered ONCE per session (idempotent):
      // re-registering on every call put catalog/planning churn inside
      // the timed query — sq1's 0.37-0.58 s cross-run spread
      // (BENCH_NOTES) was re-registration variance, not the query. The
      // FULL dir rides the name under an INJECTIVE encoding —
      // alphanumerics pass through, everything else becomes _hex_
      // (terminated, so no two dirs can encode alike; a lossy
      // strip-to-underscore would collide sf0.1 with sf0_1) — so a
      // different sfDir can never serve a stale registration. Since
      // round 13 the SOURCE FINGERPRINT rides the name too (the
      // VersionedStore artifact discipline): a regenerated parquet at
      // the SAME path mid-session gets fresh view names instead of
      // silently serving the old registration's frozen file listing —
      // what was a documented out-of-contract divergence is now
      // structural. LIST-only cost, once per call, dwarfed by planning.
      val tag = d.flatMap { c =>
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9')) c.toString
        else f"_${c.toInt}%x_"
      }
      // underscore-joined so the (customer, orders) pair encoding is
      // itself injective — the hex fingerprints are variable-length,
      // so bare concatenation would let 'a'+'bc' alias 'ab'+'c'
      val fp = graft.sinks.VersionedStore.fingerprintOf(s, s"$d/customer.parquet") +
        "_" + graft.sinks.VersionedStore.fingerprintOf(s, s"$d/orders.parquet")
      val (cv, ov) = (s"sq1_customer_${tag}_$fp", s"sq1_orders_${tag}_$fp")
      def ensure(name: String, df: => org.apache.spark.sql.DataFrame): Unit =
        if (!s.catalog.tableExists(name))
          try df.createTempView(name)
          catch {
            // swallow ONLY the lost-registration race — if the view is
            // still absent, this was a real failure (missing path,
            // unreadable parquet) and eating it would resurface later
            // as a baffling TABLE_OR_VIEW_NOT_FOUND
            case e: org.apache.spark.sql.AnalysisException =>
              if (!s.catalog.tableExists(name)) throw e
          }
      ensure(cv, Tables.customer(s, d))
      ensure(ov, Tables.orders(s, d))
      s.sql(s"""SELECT c.c_custkey, c.c_name,
               |       (SELECT COUNT(*) FROM $ov o WHERE o.o_custkey = c.c_custkey) AS n_orders,
               |       c.c_acctbal = (SELECT MAX(c2.c_acctbal) FROM $cv c2) AS is_richest
               |FROM $cv c
               |WHERE EXISTS (SELECT 1 FROM $ov o WHERE o.o_custkey = c.c_custkey)
               |  AND c.c_custkey IN (SELECT o_custkey FROM $ov WHERE o_totalprice > 100000)
               |ORDER BY c.c_custkey""".stripMargin)
    },

    // G4: explicit GROUPING SETS (cube/rollup's general form), via SQL.
    QueryDef.sql("g4_grouping_sets",
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       ${graft.Exact.moneySumSql("l_quantity")} AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      // Column-API grouping sets with the same Exact.moneySum idiom
      // g1/g3 pass with — routing moneySumSql text through spark.sql
      // hit Spark's exact-DECIMAL division where DuckDB divides in
      // DOUBLE (round-2 g4 hash mismatch).
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty[org.apache.spark.sql.Column]),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), graft.Exact.moneySum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // W4: ranking/frame window battery over orders (tie-free order key).
    QueryDef.sql("w4_window_frames",
      """SELECT o_orderkey, o_orderpriority,
        |       dense_rank()   OVER w AS drk,
        |       ntile(4)       OVER w AS quartile,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist()    OVER w AS cdist,
        |       first_value(o_orderkey) OVER w AS first_key,
        |       nth_value(o_orderkey, 3) OVER w AS third_key,
        |       last_value(o_orderkey) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
        |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key,
        |       lead(o_orderkey, 1) OVER w AS next_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d).select(
          col("o_orderkey"), col("o_orderpriority"),
          dense_rank().over(w).as("drk"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"),
          first_value(col("o_orderkey")).over(w).as("first_key"),
          nth_value(col("o_orderkey"), 3).over(w).as("third_key"),
          last_value(col("o_orderkey")).over(wFull).as("last_key"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"))
        .orderBy("o_orderkey")
    },

    // F11: null-handling battery (nullif/coalesce/least/greatest/
    // null-safe equality) over customer.
    QueryDef.sql("f11_null_battery",
      """SELECT c_custkey,
        |       nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
        |       coalesce(nullif(c_mktsegment, 'BUILDING'), 'SUPPRESSED') AS seg_coalesced,
        |       least(c_acctbal, 0.0) AS neg_part,
        |       greatest(c_acctbal, 0.0) AS pos_part,
        |       (nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL) AS is_building,
        |       CASE WHEN c_acctbal IS NULL THEN -1 ELSE c_custkey END AS keyed
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(
          col("c_custkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("SUPPRESSED"))
            .as("seg_coalesced"),
          least(col("c_acctbal"), lit(0.0)).as("neg_part"),
          greatest(col("c_acctbal"), lit(0.0)).as("pos_part"),
          (nullif(col("c_mktsegment"), lit("BUILDING")) <=> lit(null)).as("is_building"),
          when(col("c_acctbal").isNull, lit(-1)).otherwise(col("c_custkey")).as("keyed"))
        .orderBy("c_custkey")
    },

    // PV2: unpivot/melt — wide measures to (metric, value) rows.
    QueryDef.sql("pv2_unpivot",
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem WHERE l_orderkey < 100
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem WHERE l_orderkey < 100
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem WHERE l_orderkey < 100)
        |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 100)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric", "value")
    },

    // J6: range (interval-containment) join against a tiny literal band
    // dim — broadcast nested-loop on Spark, never a shuffle of lineitem.
    QueryDef.sql("j6_range_join",
      s"""SELECT band, COUNT(*) AS n,
        |       ${graft.Exact.moneySumSql("l_extendedprice")} AS band_revenue
        |FROM lineitem
        |JOIN (VALUES ('q00_09', 0, 9), ('q10_19', 10, 19), ('q20_29', 20, 29),
        |             ('q30_39', 30, 39), ('q40_50', 40, 50)) AS r(band, lo, hi)
        |  ON l_quantity >= lo AND l_quantity <= hi
        |GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
      import s.implicits._
      val bands = Seq(("q00_09", 0, 9), ("q10_19", 10, 19), ("q20_29", 20, 29),
        ("q30_39", 30, 39), ("q40_50", 40, 50)).toDF("band", "lo", "hi")
      Tables.lineitem(s, d)
        .join(broadcast(bands),
          col("l_quantity") >= col("lo") && col("l_quantity") <= col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          graft.Exact.moneySum(col("l_extendedprice")).as("band_revenue"))
        .orderBy("band")
    },

    // A12: conditional aggregation — filtered counts/sums inside one
    // grouped pass (the CASE-inside-agg idiom; integer-exact shares).
    QueryDef.sql("a12_conditional_agg",
      s"""SELECT l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
        |       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pct_returned,
        |       CAST(SUM(CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_qty,
        |       ${graft.Exact.moneySumSql("CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END")} AS returned_revenue
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).groupBy("l_linestatus").agg(
          count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("n_returned"),
          (sum(when(col("l_returnflag") === "R", 1).otherwise(0)).cast("double") /
            count(lit(1)).cast("double")).as("pct_returned"),
          sum(when(col("l_quantity") > 30, 1).otherwise(0)).as("n_high_qty"),
          graft.Exact.moneySum(when(col("l_returnflag") === "R", col("l_extendedprice"))
            .otherwise(lit(0))).as("returned_revenue"))
        .orderBy("l_linestatus")
    },

    // W5: RANGE frame (value-based, vs w3's ROWS) — integer-exact sums.
    QueryDef.sql("w5_range_frame",
      """SELECT o_orderkey, o_orderpriority,
        |       CAST(SUM(o_orderkey % 10) OVER w AS BIGINT) AS range_sum,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS range_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
        |             RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val wr = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
        .rangeBetween(-100, Window.currentRow)
      Tables.orders(s, d).select(
          col("o_orderkey"), col("o_orderpriority"),
          sum(col("o_orderkey") % 10).over(wr).as("range_sum"),
          count(lit(1)).over(wr).as("range_n"))
        .orderBy("o_orderkey")
    },

    // HOF1: higher-order array functions (transform/filter/aggregate) —
    // the lambda surface DuckDB mirrors with list_* lambdas.
    QueryDef.sql("hof1_higher_order",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
        |SELECT doc_id,
        |       CAST(list_sum(list_transform(words, x -> length(x))) AS BIGINT) AS total_chars,
        |       CAST(len(list_filter(words, x -> length(x) > 5)) AS BIGINT) AS n_long,
        |       array_to_string((list_transform(words, x -> upper(x)))[1:3], ',') AS upper3
        |FROM w ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .select(
          col("doc_id"),
          aggregate(col("words"), lit(0L), (acc, x) => acc + length(x)).as("total_chars"),
          size(filter(col("words"), x => length(x) > 5)).cast("long").as("n_long"),
          concat_ws(",", slice(transform(col("words"), x => upper(x)), 1, 3)).as("upper3"))
        .orderBy("doc_id")
    },

    // F14: bitwise battery — AND/OR/XOR/shifts/popcount over integer
    // keys (every shift term parenthesized: DuckDB binds + tighter
    // than <<).
    QueryDef.sql("f14_bitwise",
      """SELECT o_orderkey,
        |       o_orderkey & 255 AS low_byte,
        |       o_orderkey | 15 AS or_mask,
        |       xor(o_orderkey, 21845) AS xored,
        |       (o_orderkey << 2) AS shl2,
        |       (o_orderkey >> 3) AS shr3,
        |       bit_count(o_orderkey) AS popcount
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select(
          col("o_orderkey"),
          col("o_orderkey").bitwiseAND(lit(255)).as("low_byte"),
          col("o_orderkey").bitwiseOR(lit(15)).as("or_mask"),
          col("o_orderkey").bitwiseXOR(lit(21845)).as("xored"),
          shiftleft(col("o_orderkey"), 2).as("shl2"),
          shiftright(col("o_orderkey"), 3).as("shr3"),
          bit_count(col("o_orderkey")).as("popcount"))
        .orderBy("o_orderkey")
    },

    // A13: weighted average — exact integer product sums (cents ×
    // basis points fit long), one IEEE division at the end.
    QueryDef.sql("a13_weighted_avg",
      """WITH q AS (
        |  SELECT l_returnflag,
        |         CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0, 0) AS BIGINT) AS wi,
        |         CAST(round(CAST(l_discount AS DOUBLE) * 10000.0, 0) AS BIGINT) AS xi
        |  FROM lineitem)
        |SELECT l_returnflag,
        |       CAST(SUM(wi * xi) AS DOUBLE) / CAST(SUM(wi) AS DOUBLE) / 10000.0 AS wavg_discount,
        |       COUNT(*) AS n
        |FROM q GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          round(col("l_extendedprice").cast("double") * 100.0, 0).cast("long").as("wi"),
          round(col("l_discount").cast("double") * 10000.0, 0).cast("long").as("xi"))
        .groupBy("l_returnflag")
        .agg((sum(col("wi") * col("xi")).cast("double") /
            sum(col("wi")).cast("double") / lit(10000.0)).as("wavg_discount"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // F13: error-safe casts — TRY_CAST yields NULL instead of failing on
    // malformed input in BOTH engines, independent of ANSI mode (the
    // ingest-hardening idiom; plain cast only matches with ANSI off).
    QueryDef.sql("f13_try_cast",
      """SELECT p_partkey,
        |       TRY_CAST(p_type AS INTEGER) AS type_as_int,
        |       TRY_CAST(CAST(p_size AS VARCHAR) AS INTEGER) AS size_roundtrip,
        |       TRY_CAST(p_brand AS DOUBLE) AS brand_as_double,
        |       TRY_CAST(substr(p_name, 1, 1) AS INTEGER) AS first_char_int
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d).select(
          col("p_partkey"),
          expr("try_cast(p_type AS INT)").as("type_as_int"),
          expr("try_cast(CAST(p_size AS STRING) AS INT)").as("size_roundtrip"),
          expr("try_cast(p_brand AS DOUBLE)").as("brand_as_double"),
          expr("try_cast(substr(p_name, 1, 1) AS INT)").as("first_char_int"))
        .orderBy("p_partkey")
    },

    // O5: keyset-stable pagination — ORDER BY unique key + LIMIT/OFFSET
    // (the dashboard-preview surface generalized to page N).
    QueryDef.sql("o5_pagination",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(100).limit(50)
    },

    // O6: KEYSET pagination (the seek method) — the page o5 serves by
    // OFFSET, served the way a 100 TB API actually must: the client
    // carries the previous page's last key as a CURSOR, and the next
    // page is a PUSHED-DOWN range filter + top-50 — cost proportional
    // to the page, where OFFSET n scans-and-discards n rows (page
    // 10 000 of an offset API costs 500 000 rows; keyset cost never
    // grows with page number, which is why every production API
    // paginates by cursor). The engine side takes the cursor as the
    // driver literal a real page handler receives from the client;
    // the oracle derives the same boundary with a scalar subquery —
    // OpsSpec pins byte-equality with the OFFSET formulation at the
    // same boundary, PlanSpec pins the GreaterThan filter reaching
    // the parquet scan.
    QueryDef.sql("o6_keyset_pagination",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey > (SELECT o_orderkey FROM orders
        |                    ORDER BY o_orderkey LIMIT 1 OFFSET 99)
        |ORDER BY o_orderkey LIMIT 50""".stripMargin) { (s, d) =>
      // the cursor fetch is the PREVIOUS page's last row — one
      // column-pruned top-100 read, driver-bounded (a live API gets
      // this literal from the client and pays nothing)
      val cursor = Tables.orders(s, d).select("o_orderkey")
        .orderBy("o_orderkey").offset(99).limit(1)
        .collect()(0).getLong(0)
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") > cursor)
        .orderBy("o_orderkey").limit(50)
    },

    // SET2: bag-semantics set ops (ALL variants — set1 covers the
    // distinct forms): duplicates preserved/subtracted by multiplicity.
    QueryDef.sql("set2_bag_ops",
      """WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 45),
        |     b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R')
        |SELECT
        |  (SELECT COUNT(*) FROM (SELECT k FROM a UNION ALL SELECT k FROM b)) AS n_union_all,
        |  (SELECT COUNT(*) FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)) AS n_intersect_all,
        |  (SELECT COUNT(*) FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)) AS n_except_all""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val a = li.filter(col("l_quantity") > 45).select(col("l_suppkey").as("k"))
      val b = li.filter(col("l_returnflag") === "R").select(col("l_suppkey").as("k"))
      // one declarative plan (three 1-row aggregates cross-joined), no
      // driver-side actions
      a.unionAll(b).agg(count(lit(1)).as("n_union_all"))
        .crossJoin(a.intersectAll(b).agg(count(lit(1)).as("n_intersect_all")))
        .crossJoin(a.exceptAll(b).agg(count(lit(1)).as("n_except_all")))
    },

    // GEN1: generator null semantics — posexplode_outer keeps a row
    // (NULL pos/word) for rows whose array is empty, where plain
    // explode would drop them. DuckDB mirror: zipped unnests over a
    // [NULL]-substituted list.
    QueryDef.sql("gen1_generators",
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 6) AS l
        |  FROM documents),
        |e AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(l) = 0 THEN [CAST(NULL AS INT)]
        |                     ELSE list_transform(range(len(l)), x -> CAST(x AS INT)) END) AS pos,
        |         unnest(CASE WHEN len(l) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE l END) AS word
        |  FROM w)
        |SELECT doc_id, pos, word FROM e
        |ORDER BY doc_id, pos NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          filter(split(col("text"), " "), x => length(x) > 6).as("l"))
        .select(col("doc_id"), posexplode_outer(col("l")).as(Seq("pos", "word")))
        .orderBy(col("doc_id"), col("pos").asc_nulls_first)
    },

    // S2: stratified train/val/test split — the deterministic 80/10/10
    // hash split a training pipeline must be able to re-derive; counted
    // per stratum so the oracle checks the whole assignment.
    QueryDef.sql("s2_stratified_split",
      s"""SELECT source, split, COUNT(*) AS n FROM (
         |  SELECT source,
         |         CASE WHEN h < 8 THEN 'train' WHEN h < 9 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT source, ${TextOps.phashSql("text")} % 10 AS h FROM documents))
         |GROUP BY source, split ORDER BY source, split""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("h", TextOps.phash(col("text")) % 10)
        .withColumn("split",
          when(col("h") < 8, "train").when(col("h") < 9, "val").otherwise("test"))
        .groupBy("source", "split").agg(count(lit(1)).as("n"))
        .orderBy("source", "split")
    },

    // S1: deterministic systematic sampling — hash-mod keeps an exact,
    // reproducible 5% slice (the sampling a 100 TB pipeline can re-run).
    QueryDef.sql("s1_hash_sample",
      s"""SELECT doc_id, source, ${TextOps.phashSql("text")} % 100 AS bucket
         |FROM documents
         |WHERE ${TextOps.phashSql("text")} % 100 < 5
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("bucket", TextOps.phash(col("text")) % 100)
        .filter(col("bucket") < 5)
        .select("doc_id", "source", "bucket")
        .orderBy("doc_id")
    },

    // S3: source-mixing — per-source target weights applied as a
    // deterministic hash-mod sample, the "data mixing" stage that sets
    // a training corpus' source proportions. Weights cycle 0.25/0.5/
    // 0.75/1.0 by source index (a stand-in for an external weights
    // table); keep iff slot < weight·1000. Per-row narrow filter —
    // map-only at any scale, re-runnable bit-for-bit.
    QueryDef.sql("s3_source_mix",
      s"""SELECT source, COUNT(*) AS n_total,
         |       CAST(SUM(CASE WHEN slot < wq * 250 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(SUM(CASE WHEN slot < wq * 250 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS kept_frac,
         |       wq * 250 AS target_permille
         |FROM (SELECT source,
         |             ${TextOps.phashSql("CAST(doc_id AS VARCHAR)")} % 1000 AS slot,
         |             1 + (CAST(substr(source, 4) AS INT) % 4) AS wq
         |      FROM documents)
         |GROUP BY source, wq ORDER BY source""".stripMargin) { (s, d) =>
      val w = Tables.documents(s, d).select(col("source"),
        (TextOps.phash(col("doc_id").cast("string")) % 1000).as("slot"),
        (lit(1) + substring(col("source"), 4, 10).cast("int") % 4).as("wq"))
      w.groupBy("source", "wq")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("slot") < col("wq") * 250, 1).otherwise(0)).as("n_kept"))
        .select(col("source"), col("n_total"), col("n_kept"),
          (col("n_kept").cast("double") / col("n_total")).as("kept_frac"),
          (col("wq") * 250).as("target_permille"))
        .orderBy("source")
    },

    // S5: temperature-scaled source mixing — the multilingual /
    // multi-source α-sampling rule (q_s ∝ p_s^α, here α = 0.5) that
    // up-weights small sources and flattens large ones when composing a
    // training mixture under a fixed document budget. Everything stays
    // integer-exact: the only IEEE ops are one sqrt and one multiply
    // (identical single expressions in both engines), immediately
    // quantized to a BIGINT; the quota and the keep test are then pure
    // integer arithmetic, so the sample is bit-reproducible anywhere.
    // Shape at scale: one per-source agg (tiny output, #sources rows), a
    // window over () on that BOUNDED frame only, then the quota table
    // BROADCASTS back onto the corpus — the second pass is map-only.
    QueryDef.sql("s5_temperature_mix",
      s"""WITH per_src AS (
         |  SELECT source, COUNT(*) AS n_total, SUM(n_chars) AS mass
         |  FROM documents GROUP BY source),
         |quota AS (
         |  SELECT source, n_total,
         |         CAST(round(sqrt(CAST(mass AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS sq
         |  FROM per_src),
         |quota2 AS (
         |  SELECT source, n_total, sq,
         |         CAST(SUM(sq) OVER () AS BIGINT) AS total_sq FROM quota),
         |quota3 AS (
         |  SELECT source, n_total,
         |         CAST(LEAST(1000000, 300 * CAST(sq AS HUGEINT) * 1000000
         |                              // (CAST(total_sq AS HUGEINT) * n_total)) AS BIGINT) AS quota_ppm
         |  FROM quota2)
         |SELECT d.source, q.n_total, q.quota_ppm,
         |       CAST(SUM(CASE WHEN ${TextOps.phashSql(
               "concat(CAST(d.doc_id AS VARCHAR), ':mix5')")} % 1000000 < q.quota_ppm
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents d JOIN quota3 q ON d.source = q.source
         |GROUP BY d.source, q.n_total, q.quota_ppm
         |ORDER BY d.source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val perSrc = docs.groupBy("source")
        .agg(count(lit(1)).as("n_total"), sum("n_chars").as("mass"))
        .withColumn("sq",
          round(sqrt(col("mass").cast("double")) * 1000000.0, 0).cast("long"))
      // window over () is safe here: the frame is the per-source agg,
      // bounded at #sources rows, never the corpus
      val quota = perSrc
        .withColumn("total_sq", sum("sq").over(Window.partitionBy()))
        .withColumn("quota_ppm", s5QuotaPpm)
        .select("source", "n_total", "quota_ppm")
      docs.join(broadcast(quota), Seq("source"))
        .groupBy("source", "n_total", "quota_ppm")
        .agg(sum(when(TextOps.phash(
          concat(col("doc_id").cast("string"), lit(":mix5"))) % 1000000
          < col("quota_ppm"), 1).otherwise(0)).as("n_kept"))
        .select("source", "n_total", "quota_ppm", "n_kept")
        .orderBy("source")
    }
  )
}
