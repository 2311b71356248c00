package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.analytics.Queries
import graft.etl.{BatchPipeline, EventsAdapter}
import graft.features.Features
import graft.ml.Forecast

/** `dashboard_serve`: the dashboard and inference traffic. Set-up writes
  * Bronze/Silver/Gold once with `BatchPipeline.run` and trains
  * `Forecast.train` on a fixed sample of the feature matrix. Then one
  * closed-loop client issues a seeded round-robin of dashboard ops, each
  * reading its materialized layer and `collect()`ing the result. */
object DashboardServe {
  val Layers: Seq[String] = Seq("bronze", "silver", "gold")

  def run(r: Run): Unit = {
    val spark = r.spark
    val tr = r.tracer
    val (rows, days) = if (r.tiny) (5000, 30) else (12000, 14)
    val in = r.work.resolve("ds_in")
    val file = in.resolve("events.parquet")
    val layers = r.work.resolve("ds_layers")
    Layers.foreach(l => tr.labelPath(s"/ds_layers/$l", s"etl.$l"))
    def layer(l: String): DataFrame = spark.read.parquet(s"$layers/$l")

    val setupS = (1 to r.setupReps).map { _ =>
      Util.timed(tr.span("setup.materialize") {
        Util.deleteTree(in)
        Util.deleteTree(layers)
        val evs = Gen.history(r.seed, rows, days)
        Gen.writeFiles(Seq(evs), in, _ => "events.parquet")
        val planted = Gen.planted(evs, 1, Gen.rowGroups(spark, file), days)
        r.putPlanted(planted)
        val counts = tr.span("etl.batch_run") {
          BatchPipeline.run(spark,
            EventsAdapter.wire(spark.read.parquet(file.toString)),
            layers.toString)
        }
        r.check("serving layers reconcile with planted counts",
          counts.bronze == planted.counts("bronze") &&
            counts.silver == planted.counts("silver") &&
            counts.gold == planted.counts("gold"), counts.toString)
      })._2
    }
    r.mark("materialize")
    // trained once, on a fixed sample: every 4th station's feature rows
    // (the time-ordered split is inside Forecast.train)
    val (model, trainS) = Util.timed(tr.span("ml.train") {
      Forecast.train(Features.featureMatrix(layer("gold"))
        .filter(col("location_id") % 4 === 0), maxIter = 3, maxDepth = 3)._1
    })

    val ops: Seq[(String, () => DataFrame)] = Seq(
      "country_stats" -> (() => Queries.countryStats(layer("gold"))),
      "layer_stats" -> (() => Queries.layerStats(layer("silver"))),
      "alive_stations" -> (() => Queries.aliveStations(layer("silver"))),
      "country_live" -> (() => Queries.countryLive(layer("silver"))),
      "station_max_aqi" -> (() => Queries.stationMaxAqi(layer("silver"))),
      "parameter_sets" -> (() => Queries.parameterSets(layer("gold"))),
      "latest_top_n" -> (() => Queries.latestTopN(layer("silver"))),
      "latest_per_location" ->
        (() => Queries.latestPerLocation(layer("silver"))),
      "inference" -> (() => Forecast.serve(model,
        Features.inferenceFeatures(layer("gold")))))

    // warm-up and reference results: the first, untimed call of each op,
    // then one more untimed round
    val (ref, warmS) = Util.timed(tr.span("setup.warmup") {
      val first = ops.map { case (name, op) =>
        name -> r.attempt(s"$name (first call)")(Run.digest(op().collect()))
      }.toMap
      ops.foreach { case (name, op) => r.attempt(name)(op().collect()) }
      first
    })
    r.mark("train+warmup")
    r.check("every op has a reference result", ref.values.forall(_.isDefined))

    // one sample is a full round of the 9 ops in a seeded order, so every
    // run weighs each op the same
    val rng = new SplittableRandom(r.seed)
    val rounds = r.measure("serve", min = 3) {
      val order = ops.sortBy(_ => rng.nextInt())
      val done = order.flatMap { case (name, op) =>
        r.attempt(name) {
          val (rows, s) = Util.timed(tr.span(s"serve.$name") {
            op().collect()
          })
          val d = Run.digest(rows)
          r.check(s"$name matches its first call", ref(name).contains(d),
            s"$d vs ${ref(name)}")
          (name, s)
        }
      }
      if (done.isEmpty) None else Some((done, done.map(_._2).sum))
    }
    val samples = rounds.flatMap(_._1)
    r.mark("measure")
    require(samples.nonEmpty, "no successful dashboard op")

    val opMs = samples.map(_._2 * 1000)
    r.put("setup_s", r.sessionS + Util.median(setupS) + trainS + warmS, "s")
    r.put("throughput", samples.size / samples.map(_._2).sum, "1/s")
    r.put("op_ms_p50", Util.median(opMs), "ms")
    val (q, tailMs) = Util.tail(opMs)
    r.put("op_ms_tail", tailMs, "ms")
    r.info("op_ms") = opMs.map(Json.num).mkString("[", ",", "]")
    r.info("op_tail_percentile") = Json.num(q)
    r.info("rounds") = rounds.size.toString

    if (tr.enabled) {
      tr.waitIdle()
      ops.map(_._1).filter(_ != "inference").foreach { name =>
        val xs = samples.collect { case (n, s) if n == name => s * 1000 }
        r.put(s"analytics.$name.ms", if (xs.isEmpty) 0.0 else Util.median(xs), "ms")
      }
      val opSpans = ops.flatMap(o => tr.measured(s"serve.${o._1}"))
      val c8s = opSpans.map(tr.c8)
      def perOp(k: String) = c8s.map(_(k)).sum / math.max(1, c8s.size)
      r.put("serve.jobs_per_op", perOp("jobs"), "count")
      r.put("serve.cpu_ms_per_op", perOp("cpu_ms"), "ms")
      r.put("serve.codegen_ms_per_op", perOp("codegen_ms"), "ms")
      r.put("serve.driver_ms_per_op", perOp("driver_ms"), "ms")
      r.put("serve.input_bytes_per_op", perOp("input_bytes"), "bytes")
      // the inference op split into its two calls
      val split = (1 to 3).flatMap { _ =>
        r.attempt("inference split") {
          val (feats, fs) = Util.timed(tr.span("features.inference") {
            Features.inferenceFeatures(layer("gold")).collect()
          })
          val schema = Features.inferenceFeatures(layer("gold")).schema
          val (_, ss) = Util.timed(tr.span("ml.serve") {
            Forecast.serve(model, spark.createDataFrame(
              java.util.Arrays.asList(feats: _*), schema)).collect()
          })
          (fs, ss)
        }
      }
      r.put("features.inference.ms", Util.median(split.map(_._1 * 1000)), "ms")
      r.put("ml.serve.ms", Util.median(split.map(_._2 * 1000)), "ms")
      r.put("ml.train_ms", trainS * 1000, "ms")
      val files = Util.parquetFiles(layers)
      r.put("io.write.files", files._1.toDouble, "count")
      r.put("io.write.bytes", files._2.toDouble, "bytes")
      val runs = tr.named("etl.batch_run").filter(_.attrs.contains("traced"))
      r.put("io.write.task_skew", Util.median(runs.map(s =>
        Run.skew(tr.writeTaskMs(Layers.map(l => s"etl.$l"), s)))), "ratio")
    }
  }
}
