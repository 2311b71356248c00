package perfbench

import java.nio.file.Path
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** State of one benchmark run: the session, the tracer, the failure and
  * correctness ledger, and the metrics the workload reports. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Double, val tiny: Boolean, val cores: Int, val work: Path) {

  /** Seconds to start the Spark session (part of setup_s). */
  var sessionS = 0.0

  /** Set-up repetitions; setup_s reports their median. */
  val setupReps: Int = 3

  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap[String, Boolean]()
  val checkDetail = mutable.LinkedHashMap[String, String]()
  /** Metrics by name → (value, unit). */
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  /** Extra JSON fields for the result file. */
  val info = mutable.LinkedHashMap[String, String]()

  def correct: Boolean = checks.values.forall(identity)

  /** Record a correctness check; a failed one fails the run. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) {
      checkDetail(name) = detail
      System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    }
  }

  /** One attempted operation. A thrown call counts as failed and yields
    * no timing. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case t: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $t")
        t.printStackTrace()
        None
    }
  }

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Median of each C8 counter over the given per-instance maps. */
  def putC8(prefix: String, xs: Seq[Map[String, Double]]): Unit =
    if (xs.nonEmpty) Run.c8Units.foreach { case (k, u) =>
      put(s"$prefix.$k", Util.median(xs.map(_.getOrElse(k, 0.0))), u)
    }

  def putPlanted(p: Planted): Unit = {
    info("planted_props") = Json.nums(p.props)
    info("planted_counts") = Json.nums(p.counts.map { case (k, v) => k -> v.toDouble })
  }

  private val t0 = System.nanoTime()
  def elapsed: Double = (System.nanoTime() - t0) / 1e9

  private val phases = mutable.ArrayBuffer[(String, Double)]()
  /** Record that phase `name` ended now (seconds since the run began). */
  def mark(name: String): Unit = {
    phases += name -> elapsed
    info("phases_s") = Json.nums(phases)
  }

  /** Run `op` repeatedly for `seconds`, and at least `min` successful
    * times (giving up after `min` + 3 failures). Each sample carries the
    * host's CPU steal over its window; the metrics use only samples under
    * [[Run.stealLimit]] when there are `min` of them, and the loop runs
    * on, to at most twice `seconds`, to collect them. In a traced run the
    * samples alternate between untraced and traced, so warm-up drift
    * falls on both; the ratio of their medians is the tracing overhead.
    * Returns the samples the metrics use (the traced ones, traced). */
  def measure[T](label: String, min: Int = 1)(op: => Option[(T, Double)])
      : Seq[(T, Double)] = {
    val start = System.nanoTime()
    def since = (System.nanoTime() - start) / 1e9
    // (sample, traced, steal)
    val got = mutable.ArrayBuffer[((T, Double), Boolean, Double)]()
    def clean(traced: Boolean) =
      got.count(g => g._2 == traced && g._3 <= Run.stealLimit)
    def enough(traced: Boolean) = clean(traced) >= min
    def done = since >= seconds && (enough(true) || since >= 2 * seconds) &&
      (!tracer.enabled || enough(false) || since >= 2 * seconds) &&
      got.count(_._2) >= min && got.count(!_._2) >= (if (tracer.enabled) min else 0)
    var fails = 0
    var n = 0
    while (!done && fails <= min + 3) {
      val traced = !tracer.enabled || n % 2 == 1
      tracer.setActive(tracer.enabled && traced)
      val s0 = Util.procStat()
      op match {
        case Some(x) => got += ((x, traced, Util.stealSince(s0)))
        case None    => fails += 1
      }
      n += 1
    }
    tracer.setActive(tracer.enabled)
    def pick(traced: Boolean) = {
      val all = got.filter(_._2 == traced)
      (if (enough(traced)) all.filter(_._3 <= Run.stealLimit) else all)
        .map(_._1).toSeq
    }
    info(s"samples_$label") = Json.obj(Seq(
      "steal" -> got.map(g => Json.num(g._3)).mkString("[", ",", "]"),
      "traced" -> got.map(_._2.toString).mkString("[", ",", "]"),
      "used_clean_only" -> enough(true).toString))
    if (tracer.enabled) {
      val (on, off) = (pick(true), pick(false))
      if (on.nonEmpty && off.nonEmpty)
        put("trace.overhead_pct", 100.0 *
          (Util.median(on.map(_._2)) / Util.median(off.map(_._2)) - 1.0), "%")
    }
    pick(true)
  }
}

object Run {
  /** Samples whose window saw more host CPU steal than this are left out
    * of the metrics when enough clean ones exist. */
  val stealLimit = 0.02

  val c8Units: Seq[(String, String)] = Seq(
    "ms" -> "ms", "cpu_ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
    "shuffle_bytes" -> "bytes", "input_bytes" -> "bytes", "gc_ms" -> "ms",
    "driver_ms" -> "ms")

  /** Materialize `df` through the noop sink; returns its row count,
    * taken with `Dataset.observe` in the same pass. */
  def noopCount(df: DataFrame): Long = {
    val obs = new Observation("perfbench_rows")
    df.observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Max ÷ mean of task durations (1 when there are none). */
  def skew(ms: Iterable[Long]): Double =
    if (ms.isEmpty) 1.0
    else ms.max / math.max(1e-9, ms.sum.toDouble / ms.size)

  /** Row count and order-independent hash of a collected result. */
  def digest(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong,
      rows.map(r => scala.util.hashing.MurmurHash3.stringHash(
        r.toSeq.map {
          case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
          case v => String.valueOf(v)
        }.mkString("|")).toLong).sum)
}
