package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The pipeline benchmark's JVM entry point; `run.py` builds and calls it.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --cores C --root DIR --work DIR [--tiny] [--surface-dir DIR]
  *     [--source-id ID]
  *
  * The last stdout line is the result: `correct`, `attempted`, `failed`
  * and `metrics` (the end-to-end metrics, or with `--trace 1` the
  * per-layer ones). The full record — every metric, the checks, the
  * planted input properties and the run's provenance — goes to
  * `<root>/.bench_build/results/`, and a traced run's spans next to it. */
object Main {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput" -> "1/s", "op_ms_p50" -> "ms",
    "op_ms_tail" -> "ms", "peak_rss_mb" -> "MB")

  private val c8Layers = Seq("etl.wire", "etl.bronze", "etl.silver",
    "etl.gold", "features.matrix")
  private val dashboardOps = Seq("country_stats", "layer_stats",
    "alive_stations", "country_live", "station_max_aqi", "parameter_sets",
    "latest_top_n", "latest_per_location")

  /** Every per-layer metric, in the order BENCHMARK.json lists them. A
    * layer a workload does not call reports 0. */
  val perLayer: Seq[(String, String)] =
    c8Layers.flatMap(l => Run.c8Units.map { case (k, u) => s"$l.$k" -> u }) ++
      Seq("etl.wire.scan_amplification" -> "ratio",
        "etl.bronze.core_util" -> "ratio", "etl.gold.core_util" -> "ratio",
        "etl.bronze.rejects" -> "count", "etl.silver.rejects" -> "count",
        "etl.gold.rows" -> "count",
        "io.write.files" -> "count", "io.write.bytes" -> "bytes",
        "io.write.task_skew" -> "ratio") ++
      Seq("bronze", "silver", "gold").flatMap(l =>
        Seq("batch_ms_p50", "add_batch_ms", "planning_ms", "commit_ms")
          .map(k => s"streaming.$l.$k" -> "ms")) ++
      Seq("streaming.gold.state_rows" -> "count",
        "streaming.gold.state_bytes" -> "bytes",
        "streaming.gold.dropped_by_watermark" -> "count",
        "streaming.batches" -> "count", "streaming.cpu_ms" -> "ms",
        "streaming.gc_ms" -> "ms") ++
      dashboardOps.map(o => s"analytics.$o.ms" -> "ms") ++
      Seq("features.inference.ms" -> "ms", "ml.serve.ms" -> "ms",
        "ml.train_ms" -> "ms",
        "serve.jobs_per_op" -> "count", "serve.cpu_ms_per_op" -> "ms",
        "serve.codegen_ms_per_op" -> "ms", "serve.driver_ms_per_op" -> "ms",
        "serve.input_bytes_per_op" -> "bytes",
        "trace.overhead_pct" -> "%")

  /** The session `graft.Bench` builds, with `cores` for its CPU count.
    * Only `spark.local.dir` differs: it points inside the checkout. */
  def benchConf(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.expr.GraftExtensions",
    "spark.sql.codegen.cache.maxEntries" ->
      sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4000"),
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "15s")

  private def parse(args: Array[String]): Map[String, String] =
    args.toList.sliding(2, 1).collect {
      case List(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
    }.toMap ++ args.filter(_ == "--tiny").map(_ => "tiny" -> "1")

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val root = Paths.get(a("root")).toAbsolutePath
    val work = Paths.get(a("work")).toAbsolutePath
    val steal0 = Util.procStat()

    val (spark, sessionS) = Util.timed {
      val b = SparkSession.builder()
      benchConf(cores).foreach { case (k, v) => b.config(k, v) }
      b.config("spark.local.dir", work.resolve("spark-local").toString)
      b.getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark, trace)
    val r = new Run(spark, tracer, seed, seconds, a.contains("tiny"), cores,
      work)
    r.sessionS = sessionS
    r.mark("session")

    val ok = r.attempt(s"workload $workload") {
      workload match {
        case "batch_history"   => BatchHistory.run(r)
        case "stream_backlog"  => StreamBacklog.run(r)
        case "dashboard_serve" => DashboardServe.run(r)
        case "query_surface"   => QuerySurface.run(r, a("surface-dir"))
        case other => throw new IllegalArgumentException(s"no workload $other")
      }
    }.isDefined
    tracer.close()
    r.mark("done")
    r.put("peak_rss_mb", Util.peakRssMb(), "MB")
    val steal = Util.stealSince(steal0)

    // provenance
    val conf = spark.sparkContext.getConf.getAll.toSeq.sortBy(_._1)
    val confMap = conf.toMap
    val mismatched = benchConf(cores).filterNot { case (k, v) =>
      confMap.get(k).contains(v) }
    r.check("session conf = graft.Bench's builder", mismatched.isEmpty,
      mismatched.mkString(", "))
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    r.check("JVM runs with the 512m code cache",
      jvm.contains("-XX:ReservedCodeCacheSize=512m"), jvm.mkString(" "))
    val knobs = sys.env.toSeq.filter(_._1.startsWith("SPARK_GRAFT_")).sorted

    val catalog = if (workload == "query_surface") QuerySurface.catalog
      else if (trace) perLayer else endToEnd
    val wanted = if (trace) catalog
      else catalog.filter { case (k, _) => r.metrics.contains(k) }
    val missing = if (trace) Nil else catalog.map(_._1).filterNot(r.metrics.contains)
    val shown = wanted.map { case (k, u) =>
      k -> s"""{"value":${Json.num(r.metrics.get(k).map(_._1).getOrElse(0.0))},"unit":${Json.str(u)}}"""
    }
    val line = s"""{"correct":${r.correct && ok},"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":${Json.obj(shown)}}"""

    val results = root.resolve(".bench_build").resolve("results")
    Files.createDirectories(results)
    val stem = s"${workload}_seed${seed}_trace${if (trace) 1 else 0}"
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "seconds" -> Json.num(seconds),
      "trace" -> trace.toString,
      "tiny" -> r.tiny.toString,
      "correct" -> (r.correct && ok).toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "checks" -> Json.obj(r.checks.map { case (k, v) => k -> v.toString }),
      "check_failures" -> Json.strs(r.checkDetail),
      "metrics" -> Json.obj(r.metrics.map { case (k, (v, u)) =>
        k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }),
      "provenance" -> Json.obj(Seq(
        "source_id" -> Json.str(a.getOrElse("source-id", "unknown")),
        "git_commit" -> Json.str(a.getOrElse("git-commit", "unknown")),
        "nproc" -> cores.toString,
        "steal" -> Json.num(steal),
        "spark_version" -> Json.str(spark.version),
        "spark_conf" -> Json.strs(conf),
        "bench_conf_mismatch" -> Json.strs(mismatched),
        "spark_graft_env" -> Json.strs(knobs),
        "jvm_flags" -> jvm.map(Json.str).mkString("[", ",", "]"),
        "java_version" -> Json.str(sys.props("java.version")))),
      "spans_file" -> Json.str(if (trace) s"$stem.spans.json" else "")) ++
      r.info.toSeq)
    Files.writeString(results.resolve(s"$stem.json"), record)
    if (trace) Files.writeString(results.resolve(s"$stem.spans.json"),
      tracer.spansJson)

    try spark.stop() catch { case _: Throwable => () }
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] metrics not measured: ${missing.mkString(", ")}")
      System.exit(3)
    }
    println(line)
    System.exit(0)
  }
}
