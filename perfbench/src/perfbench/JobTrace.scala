package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The benchmark's SparkListener: one record per SQL execution, job,
  * stage, task and cached-block change. Each job carries its call site
  * twice: the result stage's short name (`parquet at Tables.scala:15`)
  * and the innermost `graft.` frame of its long form, which names the
  * module. Adaptive query stages are submitted from a pool thread whose
  * stack holds no caller, so jobs also carry their SQL execution id; the
  * execution's own record keeps the call site of the action that
  * started it. */
final class JobTrace(rec: Records) extends SparkListener {

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val result = e.stageInfos.maxByOption(_.stageId)
    rec.add("job_start", "job" -> e.jobId, "t" -> e.time,
      "stages" -> e.stageIds,
      "site" -> result.map(_.name).getOrElse(""),
      "frame" -> result.flatMap(s => JobTrace.graftFrame(s.details)).getOrElse(""),
      "exec" -> Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse(""))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      rec.add("sql_start", "exec" -> s.executionId.toString, "site" -> s.description,
        "frame" -> JobTrace.graftFrame(s.details).getOrElse(""))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    rec.add("job_end", "job" -> e.jobId, "t" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    rec.add("stage_submit", "stage" -> e.stageInfo.stageId,
      "attempt" -> e.stageInfo.attemptNumber(),
      "t" -> e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    rec.add("stage_end", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "t" -> s.completionTime.getOrElse(System.currentTimeMillis),
      "tasks" -> s.numTasks, "failed" -> s.failureReason.isDefined)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    rec.add("task", "stage" -> e.stageId, "launch" -> i.launchTime,
      "finish" -> i.finishTime, "ok" -> (e.reason == Success),
      "shuffle_read" -> m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      "shuffle_write" -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      "spill" -> m.map(_.diskBytesSpilled).getOrElse(0L))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD)
      rec.add("block", "t" -> System.currentTimeMillis, "id" -> b.blockId.name,
        "bytes" -> (b.memSize + b.diskSize))
  }
}

object JobTrace {
  /** The innermost frame of a call-site long form whose class lives in
    * the `graft` package, e.g. `graft.ext.Graph$.$anonfun$g01$1(Graph.scala:90)`. */
  def graftFrame(longForm: String): Option[String] =
    longForm.linesIterator.map(_.trim).find(_.startsWith("graft."))
}
