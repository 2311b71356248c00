package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.expr.Aqi
import graft.model.Schemas

/** A layer's validity gate: named reject predicates, in check order. A
  * row passes when it fails none. A rejected row counts under the first
  * predicate it fails, so the counts by reason sum to the rows dropped.
  * A predicate may be null only on rows an earlier one rejects (a null
  * value is not `< 0`), so neither the filter nor the counts see null. */
final case class Gate(rejects: (String, Column)*) {

  def keep: Column = rejects.map { case (_, r) => !r }.reduce(_ && _)

  /** `df` filtered by the gate. With an `audit`, the rows reaching the
    * gate and the rejects by reason are observed in the same pass. */
  def apply(df: DataFrame, audit: Option[Observation]): DataFrame = {
    val firstFailing = rejects.indices.map { i =>
      val (reason, r) = rejects(i)
      count_if(rejects.take(i).foldRight(r) { case ((_, p), q) => !p && q })
        .as(reason)
    }
    audit.fold(df)(o => df.observe(o, count(lit(1)).as("rows"),
      firstFailing: _*)).filter(keep)
  }

  /** (rows reaching the gate, rejects by reason) from a completed audit. */
  def read(audit: Observation): (Long, Map[String, Long]) = {
    val m = audit.get
    (m("rows").asInstanceOf[Long],
      rejects.map { case (reason, _) =>
        reason -> m(reason).asInstanceOf[Long] }.toMap)
  }
}

/** Bronze → Silver → Gold medallion transforms (SURVEY.md §1.3, §2.2, §2.4).
  * All are source-agnostic (DataFrame in → DataFrame out) so the same code
  * serves Kafka batch, Kafka streaming, file streams, and the test harness
  * (SURVEY.md §7.4-4).
  *
  * Scale notes: Bronze/Silver are narrow (map+filter only — no shuffle, no
  * driver round-trip; they pipeline into the parquet write at any data
  * size). Gold is the single wide stage: one hash aggregation with map-side
  * partial aggregation; its shuffle keys (location, hour) are high-
  * cardinality and evenly distributed, so no salting is needed.
  */
object Bronze {

  /** P1: Kafka-style bytes/string payload → 13 wire columns via
    * `from_json` with the fixed schema (batch_processor.py:95-110). */
  def parseWire(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    raw.select(from_json(col(jsonCol).cast("string"), Schemas.wire).as("data"))
      .select("data.*")

  /** P3: the null gate. */
  val gate: Gate = Gate(
    "null_datetime" -> col("datetime").isNull,
    "null_location" -> col("location_id").isNull,
    "null_parameter" -> col("parameter").isNull)

  /** P2 (timestamp casts) + P3 (null gate) + P4 (partition columns).
    * Accepts either string or already-cast timestamps. `audit` observes
    * the gate (see [[Gate.apply]]). */
  def fromWire(wire: DataFrame, audit: Option[Observation] = None)
      : DataFrame = {
    def ts(name: String) =
      if (wire.schema(name).dataType == StringType) to_timestamp(col(name))
      else col(name)
    gate(wire
      .withColumn("datetime", ts("datetime"))
      .withColumn("ingestion_timestamp", ts("ingestion_timestamp")), audit)
      .withColumn("year", year(col("datetime")))
      .withColumn("month", month(col("datetime")))
      .withColumn("day", dayofmonth(col("datetime")))
  }

  /** P3+P4 twin for the DuckDB oracle, as a CTE body over `wire`. */
  def sqlFromWire: String =
    """SELECT *,
      |  CAST(year(datetime) AS INT) AS year,
      |  CAST(month(datetime) AS INT) AS month,
      |  CAST(day(datetime) AS INT) AS day
      |FROM wire
      |WHERE datetime IS NOT NULL AND location_id IS NOT NULL
      |  AND parameter IS NOT NULL""".stripMargin.replace('\n', ' ')
}

object Silver {

  /** P5 (projection/rename: value_standard→value; drops raw value, unit,
    * ingestion_timestamp) + P6 (validation: non-null, ≥0, non-NaN) —
    * batch_processor.py:145-166. Note batch Gold inherits rows whose aqi
    * is null (quirk SURVEY.md §2.10-3): there is deliberately NO aqi
    * filter here. `audit` observes the gate (see [[Gate.apply]]). */
  def fromBronze(bronze: DataFrame, audit: Option[Observation] = None)
      : DataFrame =
    gate(bronze
      .select(
        col("datetime"), col("location_id"), col("location_name"),
        col("country"), col("latitude"), col("longitude"), col("parameter"),
        col("value_standard").as("value"), col("aqi"), col("aqi_category"),
        col("year"), col("month"), col("day")), audit)

  /** P6: the value gate. NaN sorts above every number in Spark, so a NaN
    * passes `value < 0` and is caught by the last predicate. */
  val gate: Gate = Gate(
    "null_value" -> col("value").isNull,
    "negative_value" -> (col("value") < 0),
    "nan_value" -> isnan(col("value")))

  /** Typed view for compile-time field checks where ergonomics help
    * (SURVEY.md §1.6: Dataset[Measurement] for the core API; DataFrame
    * stays the default for dynamic-schema paths). */
  def typed(silver: DataFrame)
      : org.apache.spark.sql.Dataset[graft.model.Measurement] = {
    val spark = silver.sparkSession
    import spark.implicits._
    silver.as[graft.model.Measurement]
  }

  /** Twin CTE body over `bronze`. */
  def sqlFromBronze: String =
    """SELECT datetime, location_id, location_name, country, latitude,
      |  longitude, parameter, value_standard AS value, aqi, aqi_category,
      |  year, month, day
      |FROM bronze
      |WHERE value_standard IS NOT NULL AND value_standard >= 0
      |  AND NOT isnan(value_standard)""".stripMargin.replace('\n', ' ')
}

object Gold {

  /** P9 (hour truncation) + A1 (the flagship hourly roll-up,
    * batch_processor.py:191-218): one row per (location, hour) with
    * max(aqi), the two positionally-zipped parallel arrays, and the
    * lexicographic max(aqi_category) (quirk SURVEY.md §2.10-1).
    *
    * @param strictCategory derive the category from max(aqi) via R3 instead
    *        of the reference's lexicographic string max (fidelity default).
    * @param deterministicArrays sort the (parameter, value) pairs so array
    *        order is stable across retries/partitionings (the reference's
    *        collect_list order is nondeterministic, SURVEY.md §2.10-2; every
    *        consumer treats the arrays as an unordered map, so sorting is
    *        semantics-preserving and makes results reproducible).
    *
    * Scale: single shuffle on ~(stations × hours) keys; partial aggregation
    * runs map-side. collect_list state per group is bounded by the number of
    * parameters per station-hour (≤ a few dozen), so no skew/OOM risk.
    */
  def fromSilver(
      silver: DataFrame,
      strictCategory: Boolean = false,
      deterministicArrays: Boolean = false): DataFrame =
    rollup(silver, strictCategory, deterministicArrays)

  /** The roll-up itself. `truncated = true` means `datetime` is already
    * hour-truncated and is grouped as a BARE attribute — required in
    * streaming, where the watermark tag lives on the attribute and does
    * not survive a derived-expression group key. (The reference's own
    * stream gold groups on an aliased date_trunc column,
    * stream_processor.py:200-209, which Spark's unsupported-operation
    * checker rejects — a latent crash we fix by truncating BEFORE the
    * watermark; see StreamPipeline.goldStream.) */
  def rollup(
      silverLike: DataFrame,
      strictCategory: Boolean = false,
      deterministicArrays: Boolean = false,
      truncated: Boolean = false): DataFrame = {
    val hourKey =
      if (truncated) col("datetime")
      else date_trunc("hour", col("datetime")).as("datetime")
    val keys = hourKey +: Schemas.goldKeys.tail.map(col)
    val pairs = sort_array(collect_list(struct(col("parameter"), col("value"))))
    val (params, values) =
      if (deterministicArrays)
        (transform(pairs, _.getField("parameter")),
          transform(pairs, _.getField("value")))
      else (collect_list(col("parameter")), collect_list(col("value")))
    val maxAqi = max(col("aqi"))
    val category =
      if (strictCategory) Aqi.category(maxAqi) else max(col("aqi_category"))
    silverLike
      .groupBy(keys: _*)
      .agg(
        maxAqi.as("aqi"),
        params.as("parameters"),
        values.as("values"),
        category.as("aqi_category"))
  }

  /** Map view of the parallel arrays for safe consumption
    * (SURVEY.md §1.2 table: map_from_arrays extension). */
  def withValueMap(gold: DataFrame): DataFrame =
    gold.withColumn("value_map", map_from_arrays(col("parameters"), col("values")))
}
