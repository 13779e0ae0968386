package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.sources.{GraftCatalog, TxnLog}

/** `lakehouse_rw`: a closed loop of SQL commits (INSERT, MERGE INTO,
  * DELETE) and reads (point, range, VERSION AS OF) on one
  * `GraftCatalog` table, in the seeded order the script generated. The
  * script holds the in-memory model of the same sequence and checks
  * every read and the final head snapshot against it.
  *
  * A read's SQL may name `@V<j>@`: the table version the j-th commit
  * produced (`j = -1`: the version the table was created at).
  */
object LakehouseRw {
  val HeadCheck: String =
    """SELECT count(*), sum(k), sum(cust), sum(price),
              sum(CAST(k AS DECIMAL(38, 0)) * price), sum(k * ascii(status))
       FROM bench.db.t"""

  def apply(run: Run, spark: SparkSession): Unit = {
    val wh = Files.createDirectories(Paths.get(run.str("work"), "warehouse")).toString
    spark.conf.set("spark.sql.catalog.bench", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.bench.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.db")
    spark.read.parquet(run.str("src_parquet"))
      .repartitionByRange(run.int("files"), col("k"))
      .createOrReplaceTempView("lakehouse_src")
    spark.sql("CREATE TABLE bench.db.t AS SELECT * FROM lakehouse_src")
    val root = Paths.get(wh, "db", "t").toString
    val versions = mutable.ArrayBuffer(TxnLog.currentVersion(root))
    run.out("base_version") = versions.head

    def sql(text: String): String = "@V(-?\\d+)@".r.replaceAllIn(text,
      m => versions(m.group(1).toInt + 1).toString)
    def render(v: Any): String = if (v == null) "null" else v.toString
    def liveFiles(): Map[String, Long] = TxnLog.snapshotFiles(root).map { f =>
      val p = if (f.startsWith("/")) Paths.get(f) else Paths.get(root, f)
      f -> (if (Files.exists(p)) Files.size(p) else 0L)
    }.toMap

    val ops = run.spec("ops").asInstanceOf[Seq[Map[String, Any]]]
    def exec(op: Map[String, Any]): Map[String, Any] = {
      val kind = op("kind").toString
      val isRead = Set("point", "range", "version")(kind)
      val rec = mutable.LinkedHashMap[String, Any]("kind" -> kind)
      // traced only: a direct timed log resolution before each read, and
      // the live-file diff around each commit
      if (run.traced && isRead) {
        val r0 = Jvm.nowMs
        val (files, _) = run.span("TxnLog.snapshotFiles", "log")(TxnLog.snapshotFiles(root))
        rec("resolve_ms") = Jvm.nowMs - r0
        rec("live_files") = files.size
      }
      val before = if (run.traced && !isRead) liveFiles() else Map.empty[String, Long]
      val text = sql(op("sql").toString)
      val t0 = System.currentTimeMillis()
      val s0 = Jvm.nowMs
      val result =
        try {
          val (rows, _) = run.span(kind, if (isRead) "scan" else "commit") {
            val df = spark.sql(text) // reads: parse + analysis; commits: the whole DML
            rec("build_ms") = Jvm.nowMs - s0
            df.collect()
          }
          Some(rows.map(_.toSeq.map(render).mkString(",")).mkString(";"))
        } catch { case e: Exception => rec("error") = e.toString.take(300); None }
      rec ++= Seq("ms" -> (Jvm.nowMs - s0), "start_ms" -> t0, "end_ms" -> System.currentTimeMillis(),
        "ok" -> result.isDefined)
      if (isRead) rec("result") = result.getOrElse("")
      else {
        versions += TxnLog.currentVersion(root)
        rec("version") = versions.last
        if (run.traced) {
          val after = liveFiles()
          rec("files_added") = (after.keySet -- before.keySet).size
          rec("files_removed") = (before.keySet -- after.keySet).size
          rec("bytes_added") = (after.keySet -- before.keySet).toSeq.map(after).sum
          rec("user_bytes") = op("user_bytes")
        }
      }
      rec.toMap
    }

    val (warm, timed) = ops.partition(_.get("warm").contains(true))
    run.out("warm") = warm.map(exec)
    run.out("ops") = run.body(timed.map(exec))
    run.out("head") = spark.sql(HeadCheck).collect().head.toSeq.map(render).mkString(",")
    run.out("log") = Map("version" -> TxnLog.currentVersion(root),
      "live_files" -> TxnLog.snapshotFiles(root).size,
      "checkpoint_interval" -> TxnLog.CheckpointInterval)
  }
}
