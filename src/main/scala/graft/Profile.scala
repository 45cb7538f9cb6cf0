package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import graft.core.Sessions

import scala.collection.mutable

/** Per-query job/stage decomposition for the optimization rounds
  * (spark_optimization_guide §1: measure first, find WHERE the time
  * goes before touching anything).
  *
  * For each query named in args (or SPARK_GRAFT_BENCH_ONLY), runs one
  * untimed warmup then one timed run with a SparkListener attached,
  * and prints per-job wall-clock, stage count, task count, and shuffle
  * read/write bytes. Jobs are the unit of work the iterative queries
  * multiply (checkpoint rounds, per-rung peels), so this is the
  * decomposition that tells rounds-dominated from shuffle-dominated
  * queries apart.
  *
  * Usage: runMain graft.Profile <query1> [query2 ...]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default availableProcessors).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val names = if (args.nonEmpty) args.toSeq
      else sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = Sessions.local(s"local[$cpus]", cpus, "ERROR")

    case class JobRec(id: Int, desc: String, start: Long,
      var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
      var shufR: Long = 0L, var shufW: Long = 0L, var spill: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, d, e.time)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.stages += 1
          j.tasks += si.numTasks
          j.shufR += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          j.shufW += si.taskMetrics.shuffleWriteMetrics.bytesWritten
          j.spill += si.taskMetrics.diskBytesSpilled
        }
      }
    }

    names.foreach { name =>
      SparkEntry.registry.find(_.name == name) match {
        case None => println(s"== $name: NOT FOUND")
        case Some(q) =>
          // warmup (untimed: codegen + page cache)
          q.build(spark, sfDir).count()
          jobs.synchronized { jobs.clear(); stageToJob.clear() }
          spark.sparkContext.addSparkListener(listener)
          val t0 = System.nanoTime()
          q.build(spark, sfDir).count()
          val total = (System.nanoTime() - t0) / 1e9
          // drain the listener bus DETERMINISTICALLY (r15 ADVICE: a
          // fixed sleep can drop tail events under load): poll until
          // every observed job has its end event, bounded at 5 s
          val deadline = System.nanoTime() + 5000000000L
          while (jobs.synchronized { jobs.values.exists(_.end == 0L) } &&
              System.nanoTime() < deadline)
            Thread.sleep(50)
          spark.sparkContext.removeSparkListener(listener)
          println(f"== $name%s total=$total%.3f s, jobs=${jobs.size}%d")
          val sumJob = jobs.values.map(j => (j.end - j.start) / 1e3).sum
          println(f"   sum(job wall)=$sumJob%.3f s (gap to total = driver/planning time)")
          jobs.values.foreach { j =>
            val dur = (j.end - j.start) / 1e3
            val desc = if (j.desc.length > 60) j.desc.take(57) + "..." else j.desc
            println(f"   job ${j.id}%3d ${dur}%7.3f s stages=${j.stages}%2d tasks=${j.tasks}%4d " +
              f"shufR=${j.shufR / 1048576.0}%8.2f MB shufW=${j.shufW / 1048576.0}%8.2f MB " +
              f"spill=${j.spill / 1048576.0}%6.1f MB  $desc%s")
          }
      }
    }
    spark.stop()
  }
}
