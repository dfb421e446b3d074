package org.apache.spark.sql.graftshim

import org.apache.spark.scheduler.StageInfo

/** What a stage ran. Spark scopes `RDDOperationScope` and
  * `StageInfo.shuffleDepId` private[spark]; these are their accessors.
  */
object StageShim {
  /** The distinct scope names of `info`'s RDDs in RDD id order: the plan
    * operators that built them (`Scan parquet`, `WholeStageCodegen (2)`,
    * `Exchange`) or the RDD operations called outside any operator.
    */
  def scopeNames(info: StageInfo): Seq[String] =
    info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct

  /** Whether the stage writes shuffle output (a map stage) rather than
    * returning its tasks' results to the driver.
    */
  def isShuffleMap(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
