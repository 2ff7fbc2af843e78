package org.apache.spark.sql

import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.ui.SQLExecutionUIData
import org.apache.spark.status.api.v1.{JobData, StageData, TaskData}

/** Read access to the status stores Spark fills from its own listeners
  * (kept with the UI off): the app store's jobs, stages and tasks, and
  * the SQL store's executions with their final adaptive plans. The
  * stores are `private[spark]`, hence the package — as for
  * [[GraftLineage]]. [[graft.Profile]] is the reader. */
object GraftStatus {

  /** Blocks until every posted listener event is delivered, so the
    * stores hold each job that has finished. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Jobs submitted under job group `group`, oldest first. */
  def jobs(spark: SparkSession, group: String): Seq[JobData] =
    spark.sparkContext.statusStore.jobsList(java.util.Collections.emptyList())
      .filter(_.jobGroup.contains(group)).sortBy(_.jobId)

  /** Every attempt of stage `id`. */
  def stageAttempts(spark: SparkSession, id: Int): Seq[StageData] =
    spark.sparkContext.statusStore.stageData(id)

  def tasks(spark: SparkSession, stage: StageData): Seq[TaskData] =
    spark.sparkContext.statusStore.taskList(stage.stageId, stage.attemptId, Int.MaxValue)

  /** SQL executions, oldest first. */
  def executions(spark: SparkSession): Seq[SQLExecutionUIData] =
    spark.asInstanceOf[ClassicSession].sharedState.statusStore.executionsList()
      .sortBy(_.executionId)
}
