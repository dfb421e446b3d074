package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** Sorted-neighborhood dedup (Hernández & Stolfo's merge/purge method,
  * SIGMOD '95) — the third classic candidate-generation family next to
  * MinHash-LSH (d2) and SimHash banding (d4): sort the corpus by a
  * discriminating key and compare each record only against its w
  * predecessors in the sort order. Near-copies sort adjacent (they share
  * the key prefix), so a tiny window finds them at O(n·w) comparisons
  * instead of O(n²).
  *
  * The distributed form BLOCKS first — records are partitioned by a key
  * prefix and the window runs WITHIN blocks — because a window over one
  * global sort order is the single-partition scale-killer (same argument
  * as p11's two-phase prefix sum). That is the standard production
  * variant (blocking + windowing); pairs spanning a block boundary are
  * the method's documented recall tradeoff, identical in both engines.
  *
  * Pipeline: key = lower(text); block = first 12 chars of the key;
  * within a block, order by (key, doc_id) and compare each doc's
  * DISTINCT word set against its up-to-3 predecessors by Jaccard;
  * a predecessor scoring >= 0.5 marks the LATER doc a duplicate of the
  * LOWEST-id qualifying neighbor. One shuffle on block, lag() instead of
  * a self-join, map-side Jaccard on codegen'd array intrinsics.
  *
  * Fixture plants (same discipline as v3/d9/d10): doc_id % 25 == 0 →
  * re-keyed +4000000 with two tokens appended (near-copy, Jaccard just
  * under 1); doc_id % 50 == 0 → re-keyed +5000000 verbatim (exact copy),
  * so both verdict classes have observable rows.
  */
object SortedNeighborhood {

  private val W = 3 // neighborhood width (predecessors compared)
  private val BlockChars = 12
  private val Threshold = 0.5

  /** d13's verdict on the string columns `a` and `b`: at most 20% of the
    * longer string edited, 5·levenshtein(a, b) ≤ max(len). For an
    * integer distance that is levenshtein(a, b) ≤ max(len) div 5, so the
    * bounded DP decides it: Spark's three-argument levenshtein gives up
    * once the distance passes the bound and returns −1. Dissimilar
    * neighbours, the common case, stop after a band of the full O(n·m)
    * table. The oracle SQL keeps the full DP as the independent check.
    */
  private[graft] def withinEditBound(a: String, b: String): Column =
    expr(s"levenshtein($a, $b, greatest(length($a), length($b)) div 5) >= 0")

  private def jacc(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  val defs: Seq[QueryDef] = Seq(

    QueryDef.sql("d11_sorted_neighborhood",
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 4000000 AS doc_id, text || ' zz11 zz22' AS text
         |  FROM documents WHERE doc_id % 25 = 0
         |  UNION ALL
         |  SELECT doc_id + 5000000 AS doc_id, text FROM documents
         |  WHERE doc_id % 50 = 0),
         |keyed AS (
         |  SELECT doc_id, lower(text) AS k,
         |         substr(lower(text), 1, $BlockChars) AS blk,
         |         list_distinct(string_split(lower(text), ' ')) AS ws
         |  FROM docs),
         |lagged AS (
         |  SELECT doc_id, ws,
         |         lag(doc_id, 1) OVER w AS id1, lag(ws, 1) OVER w AS ws1,
         |         lag(doc_id, 2) OVER w AS id2, lag(ws, 2) OVER w AS ws2,
         |         lag(doc_id, 3) OVER w AS id3, lag(ws, 3) OVER w AS ws3
         |  FROM keyed
         |  WINDOW w AS (PARTITION BY blk ORDER BY k, doc_id)),
         |scored AS (
         |  SELECT doc_id,
         |         LEAST(
         |           CASE WHEN ws1 IS NOT NULL AND len(list_intersect(ws, ws1)) * 1.0
         |                  / len(list_distinct(list_concat(ws, ws1))) >= $Threshold
         |                THEN id1 END,
         |           CASE WHEN ws2 IS NOT NULL AND len(list_intersect(ws, ws2)) * 1.0
         |                  / len(list_distinct(list_concat(ws, ws2))) >= $Threshold
         |                THEN id2 END,
         |           CASE WHEN ws3 IS NOT NULL AND len(list_intersect(ws, ws3)) * 1.0
         |                  / len(list_distinct(list_concat(ws, ws3))) >= $Threshold
         |                THEN id3 END) AS matched_with
         |  FROM lagged)
         |SELECT doc_id, matched_with, matched_with IS NOT NULL AS is_dup
         |FROM scored ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val docs = base
        .union(base.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 4000000).as("doc_id"),
            concat(col("text"), lit(" zz11 zz22")).as("text")))
        .union(base.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 5000000).as("doc_id"), col("text")))
      val keyed = docs
        .select(col("doc_id"), lower(col("text")).as("k"))
        .withColumn("blk", substring(col("k"), 1, BlockChars))
        .withColumn("ws", array_distinct(split(col("k"), " ")))
      val w = Window.partitionBy("blk").orderBy("k", "doc_id")
      val lagged = (1 to W).foldLeft(keyed) { (df, i) =>
        df.withColumn(s"id$i", lag("doc_id", i).over(w))
          .withColumn(s"ws$i", lag("ws", i).over(w))
      }
      val candidates = (1 to W).map { i =>
        when(col(s"ws$i").isNotNull &&
          jacc(col("ws"), col(s"ws$i")) >= Threshold, col(s"id$i"))
      }
      lagged
        .select(col("doc_id"), least(candidates: _*).as("matched_with"))
        .withColumn("is_dup", col("matched_with").isNotNull)
        .orderBy("doc_id")
    },

    /* D13: edit-distance dedup — the CHARACTER-level verdict on the
     * same sorted-neighborhood candidates (d11 scores word-SET Jaccard,
     * which is blind to word order and to in-word edits; Levenshtein
     * catches both). A predecessor within the w=3 window is a duplicate
     * when 5·dist ≤ max(len) — i.e. ≤ 20% of the longer text edited.
     * Levenshtein is the classic integer DP, identical in any engine —
     * no float anywhere in the verdict. Spark runs it bounded
     * ([[withinEditBound]]); the oracle runs the full DP.
     *
     * Same scale shape as d11: one shuffle on the block prefix, lag()
     * instead of a self-join, O(n·w) distance computations each bounded
     * by the block's neighbors. The planted fixtures reuse d11's:
     * verbatim copies (+5000000 → dist 0) and near copies (+4000000,
     * ' zz11 zz22' appended → dist 10 on ~500-char docs).
     */
    QueryDef.sql("d13_edit_distance",
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 4000000 AS doc_id, text || ' zz11 zz22' AS text
         |  FROM documents WHERE doc_id % 25 = 0
         |  UNION ALL
         |  SELECT doc_id + 5000000 AS doc_id, text FROM documents
         |  WHERE doc_id % 50 = 0),
         |keyed AS (
         |  SELECT doc_id, lower(text) AS k,
         |         substr(lower(text), 1, $BlockChars) AS blk
         |  FROM docs),
         |lagged AS (
         |  SELECT doc_id, k,
         |         lag(doc_id, 1) OVER w AS id1, lag(k, 1) OVER w AS k1,
         |         lag(doc_id, 2) OVER w AS id2, lag(k, 2) OVER w AS k2,
         |         lag(doc_id, 3) OVER w AS id3, lag(k, 3) OVER w AS k3
         |  FROM keyed
         |  WINDOW w AS (PARTITION BY blk ORDER BY k, doc_id)),
         |scored AS (
         |  SELECT doc_id,
         |         LEAST(
         |           CASE WHEN k1 IS NOT NULL AND 5 * levenshtein(k, k1)
         |                  <= GREATEST(length(k), length(k1)) THEN id1 END,
         |           CASE WHEN k2 IS NOT NULL AND 5 * levenshtein(k, k2)
         |                  <= GREATEST(length(k), length(k2)) THEN id2 END,
         |           CASE WHEN k3 IS NOT NULL AND 5 * levenshtein(k, k3)
         |                  <= GREATEST(length(k), length(k3)) THEN id3 END) AS matched_with
         |  FROM lagged)
         |SELECT doc_id, matched_with, matched_with IS NOT NULL AS is_dup
         |FROM scored ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val docs = base
        .union(base.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 4000000).as("doc_id"),
            concat(col("text"), lit(" zz11 zz22")).as("text")))
        .union(base.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 5000000).as("doc_id"), col("text")))
      val keyed = docs
        .select(col("doc_id"), lower(col("text")).as("k"))
        .withColumn("blk", substring(col("k"), 1, BlockChars))
      val w = Window.partitionBy("blk").orderBy("k", "doc_id")
      val lagged = (1 to W).foldLeft(keyed) { (df, i) =>
        df.withColumn(s"id$i", lag("doc_id", i).over(w))
          .withColumn(s"k$i", lag("k", i).over(w))
      }
      val candidates = (1 to W).map { i =>
        when(col(s"k$i").isNotNull && withinEditBound("k", s"k$i"), col(s"id$i"))
      }
      lagged
        .select(col("doc_id"), least(candidates: _*).as("matched_with"))
        .withColumn("is_dup", col("matched_with").isNotNull)
        .orderBy("doc_id")
    }
  )
}
