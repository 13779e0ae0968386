package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** `batch_queries`: a closed loop over the 22 TPC-H queries and the
  * heaviest LLM-data operators, one query at a time, in the seeded order
  * the script chose.
  *
  * Setup runs every query once, which pays codegen and JIT. Every timed
  * execution collects its result; the row count and order-insensitive
  * hash of each are the outputs the script checks, computed after the
  * clock stops.
  */
object BatchQueries {

  /** Order-insensitive 64-bit hash of a result: the wrapping sum of a
    * 64-bit hash of each row's rendering.
    */
  def resultHash(rows: Array[Row]): String = {
    var h = 0L
    rows.foreach { r =>
      val s = r.toSeq.map(v => if (v == null) "\u2205" else v.toString).mkString("\u0001")
      h += (MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL)
    }
    java.lang.Long.toHexString(h)
  }

  def apply(run: Run, spark: SparkSession): Unit = {
    val dir = run.str("data_dir")
    val names = run.spec("queries").asInstanceOf[Seq[String]]
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap

    // warm-up is mostly single-threaded codegen and planning on the
    // driver, so it runs three queries at a time; the measured body below
    // has one client thread
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val warmed = Future.traverse(names) { n =>
      Future(try { fns(n)(spark, dir).collect(); None } catch { case _: Exception => Some(n) })
    }
    run.out("warmup_failed") = Await.result(warmed, Duration.Inf).flatten
    pool.shutdown()
    spark.catalog.clearCache()

    val order = run.spec("order").asInstanceOf[Seq[String]]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    run.body {
      order.zipWithIndex.foreach { case (n, i) =>
        val t0 = System.currentTimeMillis()
        val s0 = Jvm.nowMs
        val rec = mutable.LinkedHashMap[String, Any]("name" -> n, "start_ms" -> t0)
        try {
          val (df, spanId) = run.span(n, "driver")(fns(n)(spark, dir))
          rec("build_ms") = Jvm.nowMs - s0
          val (rows, _) = run.span(n + ".collect", "exec", spanId)(df.collect())
          rec ++= Seq("ms" -> (Jvm.nowMs - s0), "end_ms" -> System.currentTimeMillis(),
            "ok" -> true, "rows" -> rows.length, "hash" -> resultHash(rows))
        } catch {
          case e: Exception => rec ++= Seq("ok" -> false, "error" -> e.toString.take(300),
            "end_ms" -> System.currentTimeMillis())
        }
        ops += rec.toMap
        // hygiene outside the timed call, as the program's own bench does:
        // drop blocks a query pinned, and collect dead broadcasts
        spark.catalog.clearCache()
        if (i % 8 == 7) System.gc()
      }
    }
    run.out("ops") = ops.toSeq
  }
}
