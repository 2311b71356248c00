package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.col

import graft.io.Sinks

/** The batch lifecycle entry (SURVEY.md §3.1): wire records →
  * Bronze → Silver → Gold, each layer materialized as hive-partitioned
  * parquet and re-read for the next stage (the medallion's
  * replay-by-design contract, README.md:214-219 of the reference).
  *
  * Each layer is written once, on every core, with at most one shuffle:
  *  - Bronze is clustered by day ([[Sinks.clusterByDay]]);
  *  - Silver is a row-local filter over Bronze files that already hold
  *    one day each, so it is written with no shuffle;
  *  - Gold rolls up Silver hash-partitioned on (year, month, day). Those
  *    are Gold group keys, so the roll-up and the day-partitioned write
  *    share that one exchange.
  *
  * Differences from the reference's `batch_processor.main`:
  *  - counts are `Dataset.observe` metrics of the writes themselves, not
  *    a second execution of each plan — the reference's `write` +
  *    `count()` runs every pipeline twice (batch_processor.py:125-131,
  *    SURVEY.md §3.1). The rejects by reason are observed in the same
  *    pass, just before each layer's gate;
  *  - the next layer re-reads the written files with the schema already
  *    in hand, so no job infers it again;
  *  - source-agnostic: takes a wire DataFrame, so Kafka, JSON-lines and
  *    test fixtures all flow through the identical code.
  */
object BatchPipeline {

  /** Row flow of one run. `wire` counts the rows reaching the Bronze gate;
    * `wire − bronze` is the sum of `bronzeRejects` and `bronze − silver`
    * the sum of `silverRejects` (reasons: [[Bronze.gate]],
    * [[Silver.gate]]). */
  final case class LayerCounts(wire: Long, bronze: Long, silver: Long,
      gold: Long, bronzeRejects: Map[String, Long],
      silverRejects: Map[String, Long])

  def run(spark: SparkSession, wire: DataFrame, outRoot: String)
      : LayerCounts = {
    val bronzeAudit = Observation()
    val bronzeDf = Bronze.fromWire(wire, Some(bronzeAudit))
    val bronze = Sinks.writePartitioned(Sinks.clusterByDay(bronzeDf),
      s"$outRoot/bronze")
    val silverAudit = Observation()
    val silverDf = Silver.fromBronze(
      reread(spark, bronzeDf, s"$outRoot/bronze"), Some(silverAudit))
    val silver = Sinks.writePartitioned(silverDf, s"$outRoot/silver")
    val n = spark.sparkContext.defaultParallelism
    val gold = Sinks.writePartitioned(
      Gold.fromSilver(reread(spark, silverDf, s"$outRoot/silver")
        .repartition(n, Sinks.DayKeys.map(col): _*)),
      s"$outRoot/gold")
    val (wireRows, bronzeRejects) = Bronze.gate.read(bronzeAudit)
    LayerCounts(wireRows, bronze, silver, gold, bronzeRejects,
      Silver.gate.read(silverAudit)._2)
  }

  /** The layer `written` wrote to `path`, read back without inferring
    * its schema. */
  private def reread(spark: SparkSession, written: DataFrame, path: String)
      : DataFrame =
    spark.read.schema(written.schema).parquet(path)

  /** Fused variant for benchmarks (SURVEY.md §4 pipelining row): one
    * plan bronze→gold with no intermediate materialization. */
  def fusedBronzeToGold(wire: DataFrame,
      strictCategory: Boolean = false,
      deterministicArrays: Boolean = false): DataFrame =
    Gold.fromSilver(Silver.fromBronze(Bronze.fromWire(wire)),
      strictCategory, deterministicArrays)
}
