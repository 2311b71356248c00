package graft.io

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sources & sinks (SURVEY.md §2.1): partitioned parquet (S4), CSV export
  * (S9), S3A wiring (S6). The medallion writes are hive-partitioned by
  * year/month/day — at 100 TB this is what makes downstream partition
  * pruning (filter on year=…) skip data at the file-listing level. */
object Sinks {

  /** The hive partition columns of every medallion layer. */
  val DayKeys: Seq[String] = Seq("year", "month", "day")

  /** S4: `mode(Overwrite).partitionBy(year,month,day).parquet(path)`
    * (batch_processor.py:125-129), returning the rows written. The count
    * is a `Dataset.observe` metric of the write itself, not the
    * reference's second execution of the plan (`count()` after the
    * write, batch_processor.py:131).
    *
    * The frame is written with the partitioning it has. A task writes one
    * file into every day it holds, so the caller clusters rows by day
    * first: with [[clusterByDay]], or with an aggregate that already
    * shuffles on the day keys (Gold). */
  def writePartitioned(df: DataFrame, path: String): Long = {
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(DayKeys: _*)
      .parquet(path)
    rows.get("rows").asInstanceOf[Long]
  }

  /** Clusters rows by day over `defaultParallelism` buckets, so each day
    * is written by one task and every core writes. Days are dealt out
    * round-robin by epoch day, so consecutive days never share a bucket
    * while another stays empty; a null day goes to bucket 0.
    *
    * An explicit bucket id, not `repartition(year, month, day)`: AQE
    * coalesces that small hash shuffle into one partition, which put a
    * whole layer's write in a single task. A shuffle with a fixed
    * partition count is never coalesced. */
  def clusterByDay(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    val epochDay = unix_date(make_date(col("year"), col("month"), col("day")))
    df.repartitionById(n, coalesce(pmod(epochDay, lit(n)), lit(0)))
  }

  /** S9: CSV export with header (clickhouse_queries.sql:167-183 analog). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** The exact Hadoop keys S6 sets (batch_processor.py:57-62) — a pure
    * map so SourcesConfigSpec pins the contract without an object
    * store to connect to. */
  def s3aOptions(endpoint: String, accessKey: String, secretKey: String,
      pathStyle: Boolean = true): Map[String, String] = Map(
    "fs.s3a.endpoint" -> endpoint,
    "fs.s3a.access.key" -> accessKey,
    "fs.s3a.secret.key" -> secretKey,
    "fs.s3a.path.style.access" -> pathStyle.toString,
    "fs.s3a.impl" -> "org.apache.hadoop.fs.s3a.S3AFileSystem",
    "fs.s3a.connection.ssl.enabled" -> "false")

  /** S6: object-store (S3A) wiring — same Hadoop keys as
    * batch_processor.py:57-62; inert unless an endpoint is configured. */
  def configureS3a(spark: SparkSession, endpoint: String, accessKey: String,
      secretKey: String, pathStyle: Boolean = true): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    s3aOptions(endpoint, accessKey, secretKey, pathStyle)
      .foreach { case (k, v) => conf.set(k, v) }
  }
}
