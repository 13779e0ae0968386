package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, sum}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** `Tables.load` infers a table's schema once per file version: later
  * loads of unchanged files run no Spark job, while a replaced file, a
  * rewritten directory or a changed inference conf is inferred afresh.
  */
class TablesSpec extends SparkTestBase {

  private val tag = "graft.tablesSpec"

  /** Spark jobs started by `body` on this thread. A marker job runs
    * after it; the listener bus delivers events in order, so once the
    * marker's start has arrived every job of `body` has too.
    */
  private def jobsDuring(body: => Unit): Int = {
    val ctx = spark.sparkContext
    val counted = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(tag)).orNull match {
          case "body"   => counted.incrementAndGet()
          case "marker" => markerSeen.countDown()
          case _        =>
        }
    }
    ctx.addSparkListener(listener)
    try {
      ctx.setLocalProperty(tag, "body")
      body
      ctx.setLocalProperty(tag, "marker")
      spark.range(1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      counted.get
    } finally {
      ctx.setLocalProperty(tag, null)
      ctx.removeSparkListener(listener)
    }
  }

  private def fieldNames(dir: Path, name: String): Seq[String] =
    Tables.load(spark, dir.toString, name).schema.fieldNames.toSeq

  /** Write `df` as ONE parquet file at `dir/name.parquet`, replacing it. */
  private def writeSingleFile(df: DataFrame, dir: Path, name: String): Unit = {
    val stage = Files.createTempDirectory("graft-tables-stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.resolve("out").toString)
    val part = Files.list(stage.resolve("out")).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second load of an unchanged file starts no Spark job") {
    val dir = Files.createTempDirectory("graft-tables-jobs")
    writeSingleFile(spark.range(100).toDF("id"), dir, "t")
    // the first load infers, which is one job: the counter sees it
    assert(jobsDuring(Tables.load(spark, dir.toString, "t")) >= 1)
    assert(jobsDuring(Tables.load(spark, dir.toString, "t")) === 0)
    // and the testdata tables the queries read
    Tables.load(spark, sfDir, "lineitem")
    assert(jobsDuring(Tables.load(spark, sfDir, "lineitem")) === 0)
  }

  test("a single-file table replaced at the same path loads the new schema") {
    val dir = Files.createTempDirectory("graft-tables-file")
    writeSingleFile(spark.range(10).toDF("id"), dir, "t")
    assert(fieldNames(dir, "t") === Seq("id"))
    writeSingleFile(spark.range(10).toDF("id").withColumn("extra", lit("x")), dir, "t")
    assert(fieldNames(dir, "t") === Seq("id", "extra"))
    assert(Tables.load(spark, dir.toString, "t").filter(col("extra") === "x").count() === 10L)
  }

  test("a multi-file directory overwritten by Spark loads the new schema") {
    val dir = Files.createTempDirectory("graft-tables-dir")
    val loc = dir.resolve("t.parquet").toString
    spark.range(0, 300, 1, 3).toDF("id").write.parquet(loc)
    assert(fieldNames(dir, "t") === Seq("id"))
    spark.range(0, 300, 1, 3).toDF("id").withColumn("extra", col("id") * 2)
      .write.mode("overwrite").parquet(loc)
    assert(fieldNames(dir, "t") === Seq("id", "extra"))
    assert(Tables.load(spark, dir.toString, "t").agg(sum("extra")).head.getLong(0) ===
      2L * (0 until 300).sum)
  }

  test("events: the raw ts type follows the inference confs on every load") {
    val rawTs = (dir: String, conf: (String, String)) => withSQLConf(conf) {
      Tables.load(spark, dir, "events").schema("ts").dataType
    }
    // the testdata's TIMESTAMP(MICROS, not UTC-adjusted) column
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert(rawTs(sfDir, ntz -> "true") === TimestampNTZType)
    assert(rawTs(sfDir, ntz -> "false") === TimestampType)
    assert(rawTs(sfDir, ntz -> "true") === TimestampNTZType)

    // a TIMESTAMP(NANOS) events table, the encoding nanosAsLong exists for
    val dir = Files.createTempDirectory("graft-tables-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString))
      .withType(schema).withConf(new Configuration()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    assert(rawTs(dir.toString, nanos -> "true") === LongType)
    // without nanosAsLong Spark has no type for NANOS: the load fails
    // rather than serve the long schema inferred a moment ago
    val err = intercept[Exception](rawTs(dir.toString, nanos -> "false"))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("PARQUET_TYPE_ILLEGAL")), err)
    assert(rawTs(dir.toString, nanos -> "true") === LongType)
    assert(withSQLConf(nanos -> "true") {
      Tables.events(spark, dir.toString).head.getAs[java.sql.Timestamp]("ts").getTime
    } === 1700000000123L)
  }

  test("a self-join of two loads of one table sees two relations") {
    val a = Tables.lineitem(spark, sfDir)
    val b = Tables.lineitem(spark, sfDir)
    assert(a.queryExecution.analyzed.output.map(_.exprId).toSet
      .intersect(b.queryExecution.analyzed.output.map(_.exprId).toSet).isEmpty)
    // DuckDB over sf0.001: 21,602 pairs share an order with distinct suppliers
    val pairs = a.join(b, a("l_orderkey") === b("l_orderkey") && a("l_suppkey") =!= b("l_suppkey"))
    assert(pairs.count() === 21602L)
  }
}
