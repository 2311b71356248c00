package perfbench

import graft.etl.{BatchPipeline, EventsAdapter}
import graft.features.Features

/** `batch_history`: a historical backfill. One parquet file of events
  * over a year goes through `BatchPipeline.run` (wire parse, three
  * partitioned layer writes, Gold roll-up), then `Features.featureMatrix`
  * over the written Gold through the noop sink. One iteration is both. */
object BatchHistory {
  val Layers: Seq[String] = Seq("bronze", "silver", "gold")

  def run(r: Run): Unit = {
    val spark = r.spark
    val tr = r.tracer
    val (rows, days) = if (r.tiny) (6000, 30) else (30000, 20)
    val in = r.work.resolve("bh_in")
    val file = in.resolve("events.parquet")
    val out = r.work.resolve("bh_out")
    Layers.foreach(l => tr.labelPath(s"/bh_out/$l", s"etl.$l"))

    var planted: Planted = null
    val setupS = (1 to r.setupReps).map { _ =>
      Util.timed(tr.span("setup.generate") {
        Util.deleteTree(in)
        val evs = Gen.history(r.seed, rows, days)
        Gen.writeFiles(Seq(evs), in, _ => "events.parquet")
        planted = Gen.planted(evs, 1, Gen.rowGroups(spark, file), days)
      })._2
    }
    r.putPlanted(planted)
    r.mark("generate")
    val pc = planted.counts
    var featureRows = -1L

    /** One backfill; (BatchPipeline.run s, featureMatrix s) on success. */
    def iteration(): Option[((Double, Double), Double)] = {
      Util.deleteTree(out)
      r.attempt("batch iteration") {
        val ((runS, featS), iterS) = Util.timed(tr.span("batch.iteration") {
          val (counts, runS) = Util.timed(tr.span("etl.batch_run") {
            BatchPipeline.run(spark,
              EventsAdapter.wire(spark.read.parquet(file.toString)),
              out.toString)
          })
          r.check("bronze = wire - null keys", counts.bronze == pc("bronze"),
            s"${counts.bronze} vs ${pc("bronze")}")
          r.check("silver = bronze - invalid", counts.silver == pc("silver"),
            s"${counts.silver} vs ${pc("silver")}")
          r.check("gold = distinct (station, hour)", counts.gold == pc("gold"),
            s"${counts.gold} vs ${pc("gold")}")
          val (n, featS) = Util.timed(tr.span("features.matrix") {
            Run.noopCount(Features.featureMatrix(
              spark.read.parquet(s"$out/gold")))
          })
          // lead(1) drops each station's last Gold row, and rows whose
          // next hour has a null AQI; the count must repeat exactly
          if (featureRows < 0) featureRows = n
          r.check("feature rows repeat and fit Gold",
            n == featureRows && n > 0 && n <= pc("gold") - 1,
            s"$n vs first $featureRows, gold ${pc("gold")}")
          (runS, featS)
        })
        ((runS, featS), iterS)
      }
    }

    // warm-up: three checked iterations on the real input (JIT, codegen
    // cache, parquet and shuffle machinery); with fewer, the timed
    // iterations are still on the JIT's warm-up curve
    val (_, warmS) = Util.timed(tr.span("setup.warmup") {
      (1 to 3).foreach(_ => iteration())
    })
    r.mark("warmup")
    val samples = r.measure("batch", min = 3) {
      val s = iteration()
      if (tr.enabled) {
        // the wire parse on its own, through the noop sink
        tr.span("etl.wire") {
          r.attempt("wire noop")(Run.noopCount(
            EventsAdapter.wire(spark.read.parquet(file.toString))))
        }
      }
      s
    }
    r.mark("measure")
    require(samples.nonEmpty, "no successful batch iteration")
    val files = Util.parquetFiles(out)

    r.put("setup_s", r.sessionS + warmS + Util.median(setupS), "s")
    r.put("throughput", pc("wire") / Util.median(samples.map(_._1._1)), "1/s")
    val iterMs = samples.map(_._2 * 1000)
    r.put("op_ms_p50", Util.median(iterMs), "ms")
    val (q, tailMs) = Util.tail(iterMs)
    r.put("op_ms_tail", tailMs, "ms")
    r.info("op_ms") = iterMs.map(Json.num).mkString("[", ",", "]")
    r.info("op_tail_percentile") = Json.num(q)
    r.info("batch_run_s") = samples.map(x => Json.num(x._1._1)).mkString("[", ",", "]")
    r.info("features_rows") = featureRows.toString
    r.info("features_rows_per_s") =
      Json.num(pc("gold") / Util.median(samples.map(_._1._2)))

    if (tr.enabled) {
      tr.waitIdle()
      val iters = tr.measured("batch.iteration")
      val runs = iters.flatMap(tr.childrenNamed(_, "etl.batch_run"))
      Layers.foreach { l =>
        r.putC8(s"etl.$l", runs.map(s =>
          tr.subC8(s"etl.$l", s, tr.execWallMs(s"etl.$l", s))))
      }
      r.putC8("etl.wire", tr.measured("etl.wire").map(tr.c8))
      r.putC8("features.matrix", iters.flatMap(
        tr.childrenNamed(_, "features.matrix")).map(tr.c8))
      def med(f: Span => Double): Double = Util.median(runs.map(f))
      r.put("etl.wire.scan_amplification",
        med(s => tr.subAcc("etl.bronze", s).inputRecords.toDouble / pc("wire")),
        "ratio")
      Seq("bronze", "gold").foreach { l =>
        r.put(s"etl.$l.core_util", med(s =>
          tr.subAcc(s"etl.$l", s).runMs /
            (math.max(1.0, tr.execWallMs(s"etl.$l", s)) * r.cores)), "ratio")
      }
      r.put("etl.bronze.rejects", (pc("wire") - pc("bronze")).toDouble, "count")
      r.put("etl.silver.rejects", (pc("bronze") - pc("silver")).toDouble, "count")
      r.put("etl.gold.rows", pc("gold").toDouble, "count")
      r.put("io.write.files", files._1.toDouble, "count")
      r.put("io.write.bytes", files._2.toDouble, "bytes")
      r.put("io.write.task_skew", med(s =>
        Run.skew(tr.writeTaskMs(Layers.map(l => s"etl.$l"), s))), "ratio")
    }
  }
}
