package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.{VoteGenerator, VotePipeline}

/** `stream_votes`: the reference topology on the micro-batch engine.
  *
  * A feeder thread writes seeded vote events as JSON files into the
  * file-source directory on a fixed schedule (open loop); the three
  * aggregations of `VotePipeline` read it, each with its own state and
  * checkpoint, into `foreachBatch` sinks that keep the emitted rows.
  * Phases: warm-up (setup), paced (emit latency), drain of a backlog
  * written at once (throughput). The final state of every sink is
  * checked against a recompute over exactly the events fed.
  */
object StreamVotes {
  private val BaseEpochSec = 1700000000L

  /** One generated event and the fields the recompute needs. */
  final case class Event(json: String, candidate: String, state: String, tsSec: Long)

  /** Seeded events: event time advances one second per event; a share
    * are exact duplicates of a recent event and a share arrive out of
    * order, both within the pipeline's 1-minute lateness bound.
    */
  def events(n: Int, seed: Long, dupShare: Double, oooShare: Double): IndexedSeq[Event] = {
    val rng = new Random(seed)
    val cands = VoteGenerator.candidates(3)
    def field(json: String, name: String): String =
      json.split("\"" + name + "\": \"", 2)(1).takeWhile(_ != '"')
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val out = mutable.ArrayBuffer.empty[Event]
    for (i <- 0 until n) {
      val u = rng.nextDouble()
      // a duplicate re-sends one of the last 20 events; an out-of-order
      // event is up to 30 s behind: at most 50 s behind the newest event
      // time, inside the 60 s lateness bound, so no event is dropped
      if (i >= 20 && u < dupShare) out += out(i - 1 - rng.nextInt(20))
      else {
        val late = if (u < dupShare + oooShare) 1 + rng.nextInt(30) else 0
        val json = VoteGenerator.voteJson(i, rng, cands, BaseEpochSec,
          Some(math.max(0L, i.toLong - late)))
        out += Event(json, field(json, "candidate_id"), field(json, "address_state"),
          java.time.LocalDateTime.parse(field(json, "voting_time"), fmt)
            .toEpochSecond(java.time.ZoneOffset.UTC))
      }
    }
    out.toIndexedSeq
  }

  /** Collects what a sink query emits, batch by batch. */
  final class Sink(keyCols: Int) {
    val state = mutable.Map.empty[Seq[Any], Long]
    val emits = mutable.ArrayBuffer.empty[(Double, Long)] // (ms, running sum)
    val appended = mutable.ArrayBuffer.empty[(Seq[Any], Long)]
    def apply(df: DataFrame, id: Long): Unit = {
      val rows = df.collect()
      val t = Jvm.nowMs
      synchronized {
        rows.foreach { r =>
          val k = (0 until keyCols).map(r.get)
          val v = r.getLong(keyCols)
          state(k) = v
          appended += ((k, v))
        }
        emits += ((t, state.values.sum))
      }
    }
    def total: Long = synchronized(state.values.sum)
  }

  def apply(run: Run, spark: SparkSession): Unit = {
    val root = Files.createDirectories(java.nio.file.Paths.get(run.str("work"), "stream"))
    val src = Files.createDirectories(root.resolve("src"))
    val stage = Files.createDirectories(root.resolve("stage"))
    val perFile = run.int("events_per_file")
    val warmFiles = run.int("warmup_files")
    val pacedFiles = run.int("paced_files")
    val backlogFiles = run.int("backlog_files")
    val drainOnly = run.spec.get("drain_only").exists(_.toString == "1")
    val nFiles = warmFiles + (if (drainOnly) 0 else pacedFiles) + backlogFiles
    val evs = events(nFiles * perFile, run.str("seed").toLong,
      run.dbl("dup_share"), run.dbl("ooo_share"))
    val files = evs.grouped(perFile).map(_.map(_.json).mkString("\n")).toIndexedSeq
    // the file source orders files by modification time: stamp file i
    // with epoch0 + i ms so the read order is the write order even for
    // files written within the same millisecond (the backlog)
    val epoch0 = System.currentTimeMillis()
    def stageFile(i: Int): Path = {
      val tmp = stage.resolve(f"votes-$i%05d.json")
      Files.writeString(tmp, files(i))
      Files.setLastModifiedTime(tmp, FileTime.fromMillis(epoch0 + i))
    }
    def move(i: Int): Unit =
      Files.move(stage.resolve(f"votes-$i%05d.json"), src.resolve(f"votes-$i%05d.json"),
        StandardCopyOption.ATOMIC_MOVE)
    var written = 0
    def publish(i: Int): Unit = {
      stageFile(i)
      move(i)
      written = i + 1
    }

    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    if (run.traced) spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized(progress += e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    val parsed = VotePipeline.parse(spark.readStream
      .option("maxFilesPerTrigger", run.int("max_files_per_trigger")).text(src.toString))
    val perCandidate = new Sink(4)
    val perState = new Sink(1)
    val hourly = new Sink(2)
    def start(name: String, df: DataFrame, mode: String, sink: Sink): StreamingQuery = {
      val write: (DataFrame, Long) => Unit = sink(_, _)
      df.writeStream.outputMode(mode).foreachBatch(write)
        .option("checkpointLocation", root.resolve("chk").resolve(name).toString)
        .queryName(name).start()
    }

    // warm-up: the first micro-batches pay codegen; the paced phase
    // starts only once every query has folded the warm-up files
    val setup0 = Jvm.nowMs
    (0 until warmFiles).foreach(publish)
    val queries = Seq(
      start("votes_per_candidate", VotePipeline.votesPerCandidate(parsed), "update", perCandidate),
      start("turnout_by_location", VotePipeline.turnoutByLocation(parsed), "update", perState),
      start("hourly_votes", VotePipeline.hourlyVotesPerType(parsed), "append", hourly))
    queries.foreach(_.processAllAvailable())
    run.out("warmup_s") = (Jvm.nowMs - setup0) / 1000.0

    run.body {
      if (!drainOnly) {
        // paced phase: file i is due at t0 + i / fileRate, written by a
        // feeder thread that never waits for the stream
        val interval = perFile * 1000.0 / run.dbl("offered_rate")
        val due = Array.tabulate(pacedFiles)(i => i * interval)
        val wrote = Array.fill(pacedFiles)(0.0)
        val t0 = Jvm.nowMs + 50
        val feeder = new Thread(() => {
          for (i <- 0 until pacedFiles) {
            val wait = t0 + due(i) - Jvm.nowMs
            if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
            publish(warmFiles + i)
            wrote(i) = Jvm.nowMs - t0
          }
        })
        feeder.start()
        feeder.join()
        val consumed = perCandidate.total - warmFiles.toLong * perFile
        run.out("backlog_files") = pacedFiles - consumed / perFile
        queries.foreach(_.processAllAvailable())
        run.out("paced") = Map(
          "t0_ms" -> t0, "due_ms" -> due.toSeq, "wrote_ms" -> wrote.toSeq,
          "events_per_file" -> perFile, "first_event" -> warmFiles * perFile,
          "emits" -> perCandidate.synchronized(perCandidate.emits.toSeq.map(e => Seq(e._1, e._2))))
      }
      // drain phase: the backlog lands at once; time until all three
      // queries have committed it
      val first = written
      (first until nFiles).foreach(stageFile)
      val d0 = Jvm.nowMs
      (first until nFiles).foreach(move)
      written = nFiles
      queries.foreach(_.processAllAvailable())
      run.out("drain_s") = (Jvm.nowMs - d0) / 1000.0
      run.out("drain_events") = (nFiles - first) * perFile
    }

    val watermark = Option(queries(2).lastProgress).map(_.eventTime.get("watermark"))
      .flatMap(Option(_)).map(w => java.time.Instant.parse(w).getEpochSecond)
      .getOrElse(Long.MinValue)
    queries.foreach(_.stop())
    run.out("events") = evs.size

    // recompute over exactly the events fed, duplicates and late ones
    // included, and compare with the sinks' final state
    val wantCand = evs.groupBy(_.candidate).map { case (c, es) => c -> es.size.toLong }
    val wantState = evs.groupBy(_.state).map { case (s, es) => s -> es.size.toLong }
    val wantHour = evs.groupBy(e => (e.tsSec / 3600 * 3600, e.candidate))
      .map { case (k, es) => k -> es.size.toLong }
    val gotCand = perCandidate.state.map { case (k, v) => k.head.toString -> v }.toMap
    val gotState = perState.state.map { case (k, v) => k.head.toString -> v }.toMap
    val gotHour = hourly.appended.toSeq.map { case (k, v) =>
      (k.head.asInstanceOf[java.sql.Timestamp].getTime / 1000, k(1).toString) -> v }
    val hourBad = gotHour.filter { case (k, v) => !wantHour.get(k).contains(v) } ++
      gotHour.groupBy(_._1).filter(_._2.size > 1).keys.map(k => k -> -1L) ++
      wantHour.keys.filter { case (start, c) =>
        start + 3600 <= watermark && !gotHour.exists(_._1 == ((start, c))) }.map(k => k -> 0L)
    run.out("hourly_mismatch") = hourBad.take(5).map { case ((w, c), v) =>
      s"$w/$c: emitted $v, recomputed ${wantHour.getOrElse((w, c), 0L)}" }
    run.out("checks") = Map(
      "votes_per_candidate" -> (wantCand.keySet ++ gotCand.keySet).count(k => wantCand.get(k) != gotCand.get(k)),
      "turnout_by_location" -> (wantState.keySet ++ gotState.keySet).count(k => wantState.get(k) != gotState.get(k)),
      "hourly_votes" -> hourBad.size,
      "hourly_windows_emitted" -> gotHour.size)

    if (run.traced) run.out("progress") = progress.synchronized(progress.toSeq)
      .filter(_.numInputRows > 0).map { p =>
      Map("query" -> p.name, "batch_id" -> p.batchId, "id" -> p.id.toString,
        "timestamp" -> p.timestamp, "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "event_time" -> p.eventTime.asScala.toMap,
        "state" -> p.stateOperators.toSeq.map(s => Map("rows_total" -> s.numRowsTotal,
          "memory_bytes" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs,
          "update_ms" -> s.allUpdatesTimeMs)))
    }
  }
}
