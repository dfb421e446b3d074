package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.graftshim.DatasetShim
import org.apache.spark.sql.types.StructType

/** A per-batch plan analyzed once per run. Building a frame with the
  * Dataset API analyzes the whole plan again at every operation, so a
  * plan of ~50 operations pays ~50 analyses before its first job. A
  * template is built once over empty stand-ins ([[standIn]]) for the
  * frames that change from batch to batch; [[bind]] puts each batch's
  * frames in their place and analyzes the result once.
  *
  * A stand-in's columns are nullable, so the analyzed plan holds for a
  * bound frame whose columns are nullable or not; the one analysis of
  * the bound plan narrows them again.
  */
private[graft] final class PlanTemplate(template: DataFrame, standIns: DataFrame*) {

  private val schemas = standIns.map(_.schema)
  private val plan = template.queryExecution.analyzed

  // The analyzer renews a relation that occurs twice in a plan, so a
  // stand-in is recognized by its columns, not by its expression ids.
  private def columns(s: StructType) = s.map(f => f.name -> f.dataType)
  private def standInOf(l: LocalRelation): Int =
    if (l.data.nonEmpty) -1 else schemas.indexWhere(s => columns(s) == columns(l.schema))

  require(schemas.map(columns).distinct.size == schemas.size,
    "stand-ins must differ in their columns")
  schemas.indices.foreach { i =>
    require(plan.exists { case l: LocalRelation => standInOf(l) == i; case _ => false },
      s"the template does not read stand-in $i (${schemas(i).simpleString})")
  }

  /** The template with each stand-in replaced by the frame in its
    * position: a Project that gives the frame's columns the stand-in's
    * expression ids, so the plan above it reads them unchanged. Column
    * names and types must equal the stand-in's.
    */
  def bind(frames: DataFrame*): DataFrame = {
    require(frames.size == schemas.size,
      s"${frames.size} frames for ${schemas.size} stand-ins")
    frames.zip(schemas).foreach { case (f, s) =>
      if (columns(f.schema) != columns(s)) throw new IllegalArgumentException(
        s"a frame of ${f.schema.simpleString} cannot stand in for ${s.simpleString}")
    }
    val leaves: Seq[LogicalPlan] = frames.map(_.queryExecution.analyzed)
    val bound = plan.transformUp {
      case l: LocalRelation if standInOf(l) >= 0 =>
        val leaf = leaves(standInOf(l))
        Project(l.output.zip(leaf.output).map { case (s, a) =>
          Alias(a, s.name)(exprId = s.exprId)
        }, leaf)
    }
    DatasetShim.ofRows(frames.head.sparkSession, bound)
  }
}

private[graft] object PlanTemplate {

  /** An empty frame of `schema` with every column nullable, to build a
    * template over.
    */
  def standIn(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(schema.map(_.copy(nullable = true))))
}
