package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All parity queries run over these parquet tables; the mapping from the
  * reference's voting domain to the testdata star schema follows
  * FIXTURES.md §B: `events` plays the `votes_topic` stream
  * (reference `spark_stream.py:41–47`), `customer ⋈ nation` plays the
  * voter–location turnout rollup, and small dims (`region`, `nation`)
  * play the broadcast static side of the enrichment join
  * (reference `voting.py:41–45`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Inferred schemas keyed by (qualified path, (name, length, mtime) of
    * every file under it, inference confs): a replaced or rewritten
    * table, or a changed conf, is a new key. Only the StructType is kept,
    * so every load is a fresh relation and self-joins get distinct
    * attribute ids.
    */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[(String, Long, Long)], Seq[Option[String]]), StructType]()

  /** A fresh DataFrame over `dir/name.parquet`. The first load of a file
    * version infers its schema (one Spark job reading the footers); later
    * loads of the same version pass that schema in and run no job.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val loc = s"$dir/$name.parquet"
    val path = new Path(loc)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    // a missing table skips the cache and fails with Spark's own error
    if (!fs.exists(path)) return spark.read.parquet(loc)
    val it = fs.listFiles(path, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toList
    val key = (fs.makeQualified(path).toString, files, inferenceConfs.map(spark.conf.getOption))
    Option(schemas.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(loc)
      case None =>
        // inferred outside any lock: a racing load infers too, and its
        // putIfAbsent is a no-op
        val df = spark.read.parquet(loc)
        schemas.putIfAbsent(key, df.schema)
        df
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** `events.ts` has shipped in two encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects ([PARQUET_TYPE_ILLEGAL]), so it is read as raw
    * nano longs (`spark.sql.legacy.parquet.nanosAsLong=true`, set by
    * [[Sessions.configure]]) and floor-converted to micros, the same
    * truncation DuckDB applies — and plain TIMESTAMP(MICROS), which
    * Spark reads as TIMESTAMP_NTZ. Dispatch on the observed schema and
    * normalize both to session-TZ TimestampType (sessions pin UTC, so
    * the NTZ→TZ cast is value-preserving and oracle comparisons
    * agree); downstream watermark/window code sees one stable type
    * regardless of which generation of testdata is on disk.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
