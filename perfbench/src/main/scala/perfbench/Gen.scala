package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom
import scala.collection.mutable

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** One generated event, in the harness `events` shape. `hour` is the
  * station-hour index (-1 when the timestamp is planted null). */
final case class Ev(id: Long, station: Int, hour: Int, tsMicros: Long,
    nullUser: Boolean, nullTs: Boolean, etype: String, value: Double,
    late: Boolean) {
  def nullKey: Boolean = nullUser || nullTs
  def invalid: Boolean = value.isNaN || value < 0
}

/** What the generator planted, stated next to the properties it was
  * asked for, so every layer count can be reconciled exactly. */
final case class Planted(props: Map[String, Double], counts: Map[String, Long])

/** Seeded single-process input generator for the pipeline workloads.
  *
  * Events come from 542 stations (the reference's station count). Each
  * chosen station-hour gets 1-3 readings of distinct pollutants; a share
  * of readings is planted as an unknown pollutant (null AQI), an invalid
  * value (negative or NaN, rejected by Silver) or a null key (null
  * station or timestamp, rejected by Bronze). The streaming backlog adds
  * readings that arrive five or more hours after their event hour, well
  * beyond the 1 h watermark, so the Gold query must drop them.
  *
  * The same seed gives the same events. Each file is one snappy parquet
  * file with one row group, like the harness's. */
object Gen {
  val Stations = 542
  val stationIds: Vector[Long] = Vector.tabulate(Stations)(i => 100L + 3L * i)
  /** click→pm25, view→pm10, purchase→o3, signup→so2 (EventsAdapter). */
  val known: Vector[String] = Vector("click", "view", "purchase", "signup")
  val unknownType = "error"
  val pUnknown = 0.05
  val pInvalid = 0.02
  val pNullKey = 0.01
  val pLate = 0.01
  /** Minimum lateness of a planted late reading, in hours. */
  val lateHours = 5
  private val startMicros =
    LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
  private val hourMicros = 3600L * 1000000L

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Readings of one station-hour, with the planted faults applied. */
  private def readings(rng: SplittableRandom, nextId: () => Long, st: Int,
      hour: Int, faults: Boolean, late: Boolean): Seq[Ev] = {
    val m = 1 + rng.nextInt(3)
    val types = known.sortBy(_ => rng.nextInt()).take(m)
    types.map { t =>
      val ts = startMicros + hour * hourMicros +
        rng.nextLong(hourMicros)
      if (late) {
        // valid pm25/pm10 readings at whole values: never null AQI, so
        // every late reading reaches the Gold state operator
        Ev(nextId(), st, hour, ts, false, false, known(rng.nextInt(2)),
          (5 + rng.nextInt(140)).toDouble, late = true)
      } else {
        val etype = if (faults && rng.nextDouble() < pUnknown) unknownType
          else t
        val v = math.round((1.0 + rng.nextDouble() * 180.0) * 100) / 100.0
        val r = if (faults) rng.nextDouble() else 1.0
        if (r < pNullKey) {
          val nullUser = rng.nextBoolean()
          Ev(nextId(), st, if (nullUser) hour else -1, ts, nullUser,
            !nullUser, etype, v, late = false)
        } else if (r < pNullKey + pInvalid) {
          Ev(nextId(), st, hour, ts, false, false, etype,
            if (rng.nextBoolean()) -v else Double.NaN, late = false)
        } else Ev(nextId(), st, hour, ts, false, false, etype, v, false)
      }
    }
  }

  private def counter(): () => Long = {
    var n = -1L
    () => { n += 1; n }
  }

  /** `rows` events spread over `days` days of event time. */
  def history(seed: Long, rows: Int, days: Int): Seq[Ev] = {
    val rng = new SplittableRandom(seed)
    val id = counter()
    val hours = days * 24
    val used = mutable.HashSet[Long]()
    val out = mutable.ArrayBuffer[Ev]()
    while (out.size < rows) {
      val st = rng.nextInt(Stations)
      val h = rng.nextInt(hours)
      if (used.add(st.toLong * hours + h))
        out ++= readings(rng, id, st, h, faults = true, late = false)
    }
    out.take(rows).toSeq
  }

  /** A streaming backlog: `files` hour-files of about `rowsPerFile`
    * readings each; from file `lateHours` on, a `pLate` share of each
    * file is late readings for earlier hours (distinct station-hours
    * within a file). Returns the events of each file in order. */
  def backlog(seed: Long, files: Int, rowsPerFile: Int): Seq[Seq[Ev]] = {
    val rng = new SplittableRandom(seed)
    val id = counter()
    (0 until files).map { k =>
      val out = mutable.ArrayBuffer[Ev]()
      val nLate = if (k >= lateHours) math.round(rowsPerFile * pLate).toInt
        else 0
      val used = mutable.HashSet[Int]()
      while (out.size < rowsPerFile - nLate) {
        val st = rng.nextInt(Stations)
        if (used.add(st))
          out ++= readings(rng, id, st, k, faults = true, late = false)
      }
      val lateUsed = mutable.HashSet[Long]()
      var nl = 0
      while (nl < nLate) {
        val st = rng.nextInt(Stations)
        val h = k - lateHours - rng.nextInt(math.min(lateHours, k - lateHours + 1))
        if (lateUsed.add(st.toLong * files + h)) {
          out += readings(rng, id, st, h, faults = false, late = true).head
          nl += 1
        }
      }
      out.toSeq
    }
  }

  private val parquetSchema = MessageTypeParser.parseMessageType(
    """message events {
      |  required int64 event_id;
      |  optional int64 ts (TIMESTAMP(MICROS,false));
      |  optional int64 user_id;
      |  optional binary event_type (STRING);
      |  optional double value;
      |  optional binary props (STRING);
      |}""".stripMargin)

  /** Write `evs` as one snappy parquet file with one row group, in the
    * harness's shape: `ts` is a microsecond timestamp without time zone,
    * which Spark reads as TIMESTAMP_NTZ. */
  def writeParquet(evs: Seq[Ev], file: Path): Unit = {
    Files.deleteIfExists(file)
    Files.createDirectories(file.getParent)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withType(parquetSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val groups = new SimpleGroupFactory(parquetSchema)
    try evs.foreach { e =>
      val g = groups.newGroup()
      g.add("event_id", e.id)
      if (!e.nullTs) g.add("ts", e.tsMicros)
      if (!e.nullUser) g.add("user_id", stationIds(e.station))
      g.add("event_type", e.etype)
      g.add("value", e.value)
      g.add("props", s"""{"k": ${e.id % 97}}""")
      w.write(g)
    } finally w.close()
  }

  /** Write `groups` as one parquet file each, named `names(i)`, under
    * `dir`; file i gets modification time base + i s, so a file stream
    * source lists them in order. */
  def writeFiles(groups: Seq[Seq[Ev]], dir: Path, names: Int => String)
      : Unit = {
    val base = System.currentTimeMillis() - 3600L * 1000L
    groups.zipWithIndex.foreach { case (g, i) =>
      val target = dir.resolve(names(i))
      writeParquet(g, target)
      Files.setLastModifiedTime(target, FileTime.fromMillis(base + i * 1000L))
    }
  }

  /** Row groups of a parquet file, from its footer. */
  def rowGroups(spark: SparkSession, file: Path): Int = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri),
      spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try r.getRowGroups.size finally r.close()
  }

  /** Reconciled counts of a set of events: wire, null keys, Bronze,
    * invalid, Silver, unknown pollutant, late and Gold (distinct
    * station-hour among Silver rows). */
  def planted(evs: Seq[Ev], files: Int, rowGroups: Int,
      days: Double): Planted = {
    val bronze = evs.filterNot(_.nullKey)
    val silver = bronze.filterNot(_.invalid)
    val onTime = silver.filterNot(_.late)
    val stationHours = silver.map(e => (e.station, e.hour))
      .groupBy(identity).view.mapValues(_.size).toMap
    val n = evs.size.toDouble
    Planted(
      props = Map(
        "stations" -> Stations.toDouble,
        "event_days" -> days,
        "rows_per_station_hour" -> silver.size.toDouble / stationHours.size,
        "max_rows_per_station_hour" -> stationHours.values.max.toDouble,
        "unknown_share" -> evs.count(_.etype == unknownType) / n,
        "invalid_share" -> evs.count(e => !e.nullKey && e.invalid) / n,
        "null_key_share" -> evs.count(_.nullKey) / n,
        "late_share" -> evs.count(_.late) / n,
        "files" -> files.toDouble,
        "row_groups" -> rowGroups.toDouble),
      counts = Map(
        "wire" -> evs.size.toLong,
        "null_key" -> evs.count(_.nullKey).toLong,
        "bronze" -> bronze.size.toLong,
        "invalid" -> (bronze.size - silver.size).toLong,
        "silver" -> silver.size.toLong,
        "unknown" -> silver.count(_.etype == unknownType).toLong,
        "late" -> silver.count(_.late).toLong,
        "gold" -> stationHours.size.toLong,
        "gold_on_time" ->
          onTime.map(e => (e.station, e.hour)).distinct.size.toLong))
  }
}
