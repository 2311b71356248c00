package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.etl.{BatchPipeline, EventsAdapter}

class BatchPipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("end-to-end batch run materializes three partitioned layers with " +
    "consistent counts; fused plan matches the materialized gold") {
    val wire = EventsAdapter.wire(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val out = Files.createTempDirectory("graft_batch").toString
    val counts = BatchPipeline.run(spark, wire, out)
    assert(counts.bronze === 1000)
    assert(counts.silver === counts.bronze) // no invalid rows in testdata
    assert(counts.gold > 0 && counts.gold <= counts.silver)
    // hive partitioning materialized
    val bronzeDirs = new java.io.File(s"$out/bronze").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(bronzeDirs.exists(_.startsWith("year=")))
    // fused plan row-count parity
    val fused = BatchPipeline.fusedBronzeToGold(wire)
    assert(fused.count() === counts.gold)
  }

  private val Layers = Seq("bronze", "silver", "gold")
  private val Sf001Events = "/root/testdata/sf0.01/events.parquet"

  /** Parquet data files under `root`, counted per day-partition dir. */
  private def filesPerDay(root: String): Map[Path, Int] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toSeq.groupBy(_.getParent).map { case (d, fs) => d -> fs.size }
    finally s.close()
  }

  /** Every node of an executed plan, looking inside AQE's final plan and
    * its query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  /** Rows with the Gold arrays sorted, as comparable strings. */
  private def goldRows(df: DataFrame): Seq[String] =
    df.select(col("datetime"), col("location_id"), col("aqi"),
        col("aqi_category"), sort_array(col("parameters")),
        sort_array(col("values")), col("year"), col("month"), col("day"))
      .collect().map(_.toString).toSeq.sorted

  test("sf0.01 batch run: one file per day-partition in every layer, " +
    "observed counts equal the re-read counts, Gold equals the fused " +
    "plan, 6 jobs, no shuffle in the Silver write and one in Gold") {
    val sc = spark.sparkContext
    val out = Files.createTempDirectory("graft_batch_sf001").toString
    val group = s"batch-${java.util.UUID.randomUUID}"
    val jobGroups = new ConcurrentLinkedQueue[String]
    val writes = new ConcurrentLinkedQueue[(String, Int)]
    val jobs = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(jobGroups.add)
    }
    val plans = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val ps = nodes(qe.executedPlan)
        ps.collectFirst { case w: DataWritingCommandExec => w.cmd }.foreach {
          case i: InsertIntoHadoopFsRelationCommand
              if i.outputPath.toString.contains(out) =>
            writes.add(i.outputPath.getName ->
              ps.count(_.isInstanceOf[ShuffleExchangeLike]))
          case _ => ()
        }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception)
          : Unit = ()
    }
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    val (counts, wire) = try {
      sc.setJobGroup(group, "batch run")
      // the wire read's schema inference is one of the run's jobs, as in
      // a backfill that starts from a path
      val wire = EventsAdapter.wire(spark.read.parquet(Sf001Events))
      val counts = BatchPipeline.run(spark, wire, out)
      sc.setJobGroup("sentinel", "listener barrier")
      sc.parallelize(Seq(1)).count()
      // the listener bus delivers in order: once the sentinel job is
      // seen, every job of the run has been seen
      eventually(timeout(30.seconds)) {
        assert(jobGroups.contains("sentinel"))
        assert(writes.size === 3)
      }
      (counts, wire)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
    }

    // read the schema, write bronze (shuffle map + write), silver (write),
    // gold (shuffle map + write); no count() and no re-inferred schema
    assert(jobGroups.asScala.count(_ == group) === 6)
    assert(writes.asScala.toMap === Map("bronze" -> 1, "silver" -> 0,
      "gold" -> 1))

    val days = spark.read.parquet(s"$out/bronze")
      .select("year", "month", "day").distinct().count()
    assert(days === 30)
    Layers.foreach { l =>
      val files = filesPerDay(s"$out/$l")
      assert(files.size === days, l)
      assert(files.values.forall(_ == 1), s"$l: $files")
    }

    val reread = Layers.map(l => spark.read.parquet(s"$out/$l").count())
    assert(Seq(counts.bronze, counts.silver, counts.gold) === reread)
    assert(counts.wire === spark.read.parquet(Sf001Events).count())
    assert(counts.wire - counts.bronze === counts.bronzeRejects.values.sum)
    assert(counts.bronze - counts.silver === counts.silverRejects.values.sum)

    assert(goldRows(spark.read.parquet(s"$out/gold")) ===
      goldRows(BatchPipeline.fusedBronzeToGold(wire)))
  }

  test("rejects by reason: each row counts under its first failing " +
    "predicate, the reasons reconcile the layer counts, and an empty " +
    "input reports zeros") {
    import spark.implicits._
    def r(dt: String, loc: java.lang.Long, param: String,
        v: java.lang.Double) =
      (dt, loc, "st", "VN", 1.0, 2.0, param, v, v, "µg/m³",
        java.lang.Double.valueOf(21.0), "Good", "2024-02-01 00:00:00")
    val ok = "2024-01-01 10:00:00"
    val wire = Seq(
      r(ok, 1L, "pm25", 5.0),
      r("2024-01-02 11:00:00", 1L, "pm10", 7.0),
      r(null, 1L, "pm25", 5.0),
      r(null, null, null, 5.0), // counts as null datetime only
      r(ok, null, "pm25", -1.0), // null location, not negative
      r(ok, null, null, 5.0),
      r(ok, 2L, null, 5.0),
      r(ok, 2L, "pm25", null),
      r(ok, 2L, "o3", -3.0),
      r(ok, 2L, "no2", -0.5),
      r(ok, 3L, "so2", Double.NaN)
    ).toDF("datetime", "location_id", "location_name", "country",
      "latitude", "longitude", "parameter", "value", "value_standard",
      "unit", "aqi", "aqi_category", "ingestion_timestamp")
    val out = Files.createTempDirectory("graft_batch_rejects").toString
    val c = BatchPipeline.run(spark, wire, out)
    assert(c.wire === 11)
    assert(c.bronzeRejects === Map("null_datetime" -> 2,
      "null_location" -> 2, "null_parameter" -> 1))
    assert(c.bronze === 6)
    assert(c.silverRejects === Map("null_value" -> 1,
      "negative_value" -> 2, "nan_value" -> 1))
    assert(c.silver === 2)
    assert(c.gold === 2)
    assert(c.wire - c.bronze === c.bronzeRejects.values.sum)
    assert(c.bronze - c.silver === c.silverRejects.values.sum)
    assert(spark.read.parquet(s"$out/silver").collect().map(_.getAs[Double]
      ("value")).sorted.toSeq === Seq(5.0, 7.0))

    // an empty input still completes every observation (no layer files to
    // infer a schema from: the re-reads use the written schema)
    val empty = BatchPipeline.run(spark, wire.limit(0),
      Files.createTempDirectory("graft_batch_empty").toString)
    assert(Seq(empty.wire, empty.bronze, empty.silver, empty.gold) ===
      Seq(0L, 0L, 0L, 0L))
    assert((empty.bronzeRejects ++ empty.silverRejects).values.forall(_ == 0))
  }
}
