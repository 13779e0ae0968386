package graft

import scala.collection.mutable

import java.util.concurrent.{Semaphore, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Stage-level profiler — the "where does the time go" companion to
  * [[Explain]] (which answers "what is the plan"). Runs one query
  * through the noop sink with a listener attached and prints every
  * stage's wall time, task-time sum, input/shuffle volumes and row
  * counts, grouped by job. Diagnostic only: not part of the driver
  * contract, never invoked by Bench/Verify.
  *
  *   sbt 'runMain graft.Profile <queryName> [sfDir] [reps]'
  *
  * reps > 1 re-runs the same query so JIT/code-cache warmup can be
  * separated from steady-state operator cost (read the LAST rep).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(sys.error("usage: Profile <q1[,q2,...]> [sfDir] [reps]"))
      .split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.configure(SparkSession.builder(), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach(runOne(spark, sfDir, reps, _))
    spark.stop()
  }

  private def runOne(spark: SparkSession, sfDir: String, reps: Int, name: String): Unit = {
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))

    case class St(jobId: Int, stageId: Int, nameLine: String, wallMs: Long,
                  taskMs: Long, tasks: Int, inBytes: Long, inRecs: Long,
                  shRead: Long, shWrite: Long, spill: Long)
    // r21 (advice): the buffers are written from the listener-bus
    // thread and cleared/read from the main thread — synchronize on
    // the buffer itself, and REMOVE the listener at the end of each
    // runOne so profiling a comma-separated list doesn't accumulate
    // one listener per query.
    // The listener bus delivers events in order, so once it has seen
    // the end of a one-job marker run after the query, it has seen every
    // stage of the query too; marker jobs are left out of the report.
    val stages = mutable.ArrayBuffer.empty[St]
    val stageToJob = mutable.Map.empty[Int, Int]
    val markerJobs = mutable.Set.empty[Int]
    val markersEnded = new Semaphore(0)
    val ctx = spark.sparkContext
    val markerProp = "graft.profile.marker"
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = stages.synchronized {
        js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
        if (js.properties != null && js.properties.getProperty(markerProp) != null)
          markerJobs += js.jobId
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (stages.synchronized(markerJobs(je.jobId))) markersEnded.release()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for {a <- si.completionTime; b <- si.submissionTime} yield a - b).getOrElse(-1L)
        stages.synchronized {
          stages += St(stageToJob.getOrElse(si.stageId, -1), si.stageId,
            si.name.takeWhile(_ != '\n').take(90), wall,
            m.executorRunTime, si.numTasks,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
    ctx.addSparkListener(listener)
    try {
      for (rep <- 1 to reps) {
        stages.synchronized { stages.clear(); stageToJob.clear() }
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        markersEnded.drainPermits()
        ctx.setLocalProperty(markerProp, "1")
        try ctx.parallelize(Seq(0), 1).count() finally ctx.setLocalProperty(markerProp, null)
        if (!markersEnded.tryAcquire(60, TimeUnit.SECONDS))
          println("[listener bus did not drain in 60 s; stages below may be incomplete]")
        val snap = stages.synchronized { stages.filterNot(s => markerJobs(s.jobId)).toSeq }
        println(f"%n===== $name rep $rep: wall $wall%.2f s, ${snap.size} stages =====")
        println(f"${"job"}%4s ${"stage"}%5s ${"wall_ms"}%8s ${"task_ms"}%9s ${"tasks"}%5s ${"in_MB"}%8s ${"in_rows"}%10s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"spill_MB"}%8s  name")
        snap.sortBy(s => (s.jobId, s.stageId)).foreach { s =>
          println(f"${s.jobId}%4d ${s.stageId}%5d ${s.wallMs}%8d ${s.taskMs}%9d ${s.tasks}%5d ${s.inBytes / 1e6}%8.1f ${s.inRecs}%10d ${s.shRead / 1e6}%7.1f ${s.shWrite / 1e6}%7.1f ${s.spill / 1e6}%8.1f  ${s.nameLine}")
        }
        val sumWall = snap.map(_.wallMs).sum
        println(f"[stage wall sum ${sumWall / 1000.0}%.2f s vs query wall $wall%.2f s — gap = driver/plan/collect time]")
        spark.catalog.clearCache()
      }
    } finally ctx.removeSparkListener(listener)
  }
}
