package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** JSON in and out of the harness: `run.py` writes a spec, the harness
  * writes raw observations; all statistics are computed by `run.py`.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(path: String): Map[String, Any] =
    mapper.readValue(Files.readString(Paths.get(path)), classOf[Map[String, Any]])

  def write(path: String, value: Any): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(value))
}

/** The benchmark JVM's own clock, memory and GC readings. */
object Jvm {
  def nowMs: Double = System.nanoTime() / 1e6

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** VmHWM: the process's peak resident set, in MiB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Listener-based recorder for the traced run: jobs, stages (with their
  * tasks' durations) and SQL query phases, all with driver timestamps so
  * the script can attribute them to the op that was running. Registered
  * only with `--trace 1`; the untimed run carries no listener.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobsEnded = new java.util.concurrent.atomic.AtomicInteger()
  private val stages = mutable.Map.empty[Int, Stage]
  private val phases = new ConcurrentLinkedQueue[Phases]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs.add(Job(e.jobId, e.time, e.stageIds, prop("sql.streaming.queryId"),
      prop("streaming.sql.batchId")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage(id))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.synchronized {
    val s = stage(e.stageId)
    s.taskDurations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.shRead += m.shuffleReadMetrics.totalBytesRead
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    s.endMs = e.stageInfo.completionTime.getOrElse(0L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def dur(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val starts = ph.values.map(_.startTimeMs)
    val start = if (starts.isEmpty) System.currentTimeMillis() else starts.min
    phases.add(Phases(start, start + durationNs / 1000000L, dur("analysis"),
      dur("optimization"), dur("planning"), filesRead(qe.executedPlan)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Files the scans of an executed plan opened, through adaptive plans
    * and their query stages: a V2 scan's input partitions (one per file
    * for an unbucketed graft table) or a file-source scan's `numFiles`.
    */
  private def filesRead(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case b: BatchScanExec => b.inputPartitions.size.toLong
    case p =>
      p.metrics.get("numFiles").map(_.value).getOrElse(0L) +
        (p.children ++ p.subqueries).map(filesRead).sum
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait (bounded) until every started job has ended and every stage
    * seen has completed, so the listener bus has delivered the body.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    def settled = jobsEnded.get >= jobs.size &&
      stages.synchronized(stages.values.forall(_.endMs > 0))
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  /** Everything recorded, as plain maps for the result file. */
  def dump(): Map[String, Any] = stages.synchronized {
    Map(
      "jobs" -> jobs.asScala.toSeq.map(j => Map("id" -> j.id, "submit_ms" -> j.submitMs,
        "stages" -> j.stageIds, "query_id" -> j.queryId, "batch_id" -> j.batchId)),
      "stages" -> stages.values.toSeq.sortBy(_.id).map(s => Map(
        "id" -> s.id, "submit_ms" -> s.submitMs, "end_ms" -> s.endMs,
        "task_ms" -> s.taskMs, "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs,
        "tasks" -> s.taskDurations.toSeq, "input_bytes" -> s.inBytes,
        "shuffle_read_bytes" -> s.shRead, "shuffle_write_bytes" -> s.shWrite,
        "spill_bytes" -> s.spill)),
      "queries" -> phases.asScala.toSeq.map(p => Map("start_ms" -> p.startMs,
        "end_ms" -> p.endMs, "analysis_ms" -> p.analysis,
        "optimization_ms" -> p.optimization, "planning_ms" -> p.planning,
        "files_read" -> p.filesRead)))
  }
}

object Recorder {
  final case class Job(id: Int, submitMs: Long, stageIds: Seq[Int],
                       queryId: String, batchId: String)
  final class Stage(val id: Int) {
    var submitMs = 0L; var endMs = 0L
    var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var shRead = 0L; var shWrite = 0L; var spill = 0L
    val taskDurations = mutable.ArrayBuffer.empty[Long]
  }
  final case class Phases(startMs: Long, endMs: Long, analysis: Long,
                          optimization: Long, planning: Long, filesRead: Long)
}

/** One harness run: the spec the script wrote, a session, and the
  * observations the workload appends to `out`.
  */
final class Run(val spec: Map[String, Any]) {
  def str(k: String): String = spec(k).toString
  def int(k: String): Int = spec(k).toString.toDouble.toInt
  def dbl(k: String): Double = spec(k).toString.toDouble
  val cores: Int = int("cores")
  val traced: Boolean = spec.get("trace").exists(_.toString == "1")
  val out = mutable.LinkedHashMap.empty[String, Any]
  val recorder: Option[Recorder] = if (traced) Some(new Recorder) else None

  /** Spans kept in memory for the trace file: one per layer call made
    * from the benchmark's code (name, layer, start, end, parent).
    */
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  def span[T](name: String, layer: String, parent: Int = -1)(body: => T): (T, Int) = {
    val id = spans.size
    spans += Map()
    val t0 = System.currentTimeMillis()
    val r = body
    spans(id) = Map("id" -> id, "name" -> name, "layer" -> layer, "start_ms" -> t0,
      "end_ms" -> System.currentTimeMillis(), "parent" -> parent)
    (r, id)
  }

  def session(): SparkSession = {
    val spark = graft.Sessions.configure(SparkSession.builder(), cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Sessions.quietKnownBenignWarnings()
    recorder.foreach(_.register(spark))
    spark
  }

  /** Brackets the measured body: set-up ends where it starts, and GC
    * time, heap peak and the trace cover it alone.
    */
  def body[T](f: => T): T = {
    out("body_start_epoch_ms") = System.currentTimeMillis()
    spans.clear()
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMs
    val r = f
    out("jvm_gc_ms") = Jvm.gcMs - gc0
    out("jvm_heap_peak_mb") = Jvm.heapPeakMb
    r
  }

  def finish(): Unit = {
    recorder.foreach { r => r.drain(); out("trace") = r.dump() }
    if (traced) out("spans") = spans.toSeq
    out("peak_rss_mb") = Jvm.peakRssMb
    Json.write(str("result"), out.toMap)
  }
}

object Harness {
  def main(args: Array[String]): Unit = {
    val run = new Run(Json.read(args(0)))
    val spark = run.session()
    try run.str("workload") match {
      case "stream_votes" => StreamVotes(run, spark)
      case "batch_queries" => BatchQueries(run, spark)
      case "lakehouse_rw" => LakehouseRw(run, spark)
      case w => sys.error(s"unknown workload $w")
    } finally {
      run.finish()
      spark.stop()
    }
  }
}
