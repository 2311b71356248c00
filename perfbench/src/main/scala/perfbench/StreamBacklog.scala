package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.etl.{Bronze, EventsAdapter, Gold, Silver}
import graft.streaming.StreamPipeline

/** `stream_backlog`: a streaming catch-up. Hour-files of events (two
  * days of event time, about 1% of readings late beyond the 1 h
  * watermark) are drained by `StreamPipeline.startAll` with
  * `Trigger.AvailableNow`, one file per micro-batch, through the three
  * concurrent Bronze/Silver/Gold queries. One drain runs until all three
  * queries terminate. */
object StreamBacklog {
  val Layers: Seq[String] = Seq("bronze", "silver", "gold")

  def run(r: Run): Unit = {
    val spark = r.spark
    val tr = r.tracer
    val (files, rowsPerFile) = if (r.tiny) (8, 200) else (16, 1000)
    val in = r.work.resolve("sb_in")
    val warmIn = r.work.resolve("sb_warm")
    var planted: Planted = null
    var lateIds: Set[Long] = Set.empty
    val setupS = (1 to r.setupReps).map { _ =>
      Util.timed(tr.span("setup.generate") {
        Util.deleteTree(in)
        val byFile = Gen.backlog(r.seed, files, rowsPerFile)
        Gen.writeFiles(byFile, in, i => f"hour_$i%03d.parquet")
        val groups = Files.list(in).iterator().asScala
          .filter(_.toString.endsWith(".parquet"))
          .map(Gen.rowGroups(spark, _)).sum
        val all = byFile.flatten
        planted = Gen.planted(all, files, groups, files / 24.0)
        lateIds = all.filter(_.late).map(_.id).toSet
      })._2
    }
    r.putPlanted(planted)
    r.mark("generate")
    val pc = planted.counts

    def goldKeyed(df: org.apache.spark.sql.DataFrame)
        : Map[(Long, Long), String] =
      df.select(unix_micros(col("datetime")).as("h"), col("location_id"),
          col("aqi"), arrays_zip(col("parameters"), col("values")).as("pv"),
          col("aqi_category"))
        .collect().map { row =>
          val pv = row.getSeq[org.apache.spark.sql.Row](3)
            .map(x => s"${x.get(0)}=${x.get(1)}").sorted.mkString(",")
          (row.getLong(0), row.getLong(1)) ->
            s"${row.get(2)}|$pv|${row.get(4)}"
        }.toMap

    /** The Gold the stream must emit: `Gold.rollup` of the on-time
      * Silver rows with an AQI, keyed by (hour, station), with the
      * (parameter, value) pairs sorted; and the hours every key must
      * appear for (two hours and more before the last event hour). */
    lazy val expected: (Map[(Long, Long), String], Long) = {
      val late = spark.createDataFrame(lateIds.toSeq.map(Tuple1(_)))
        .toDF("event_id")
      val onTime = EventsAdapter.wire(spark.read.parquet(in.toString))
        .join(broadcast(late), Seq("event_id"), "left_anti")
      val silver = Silver.fromBronze(Bronze.fromWire(onTime))
        .filter(col("aqi").isNotNull)
        .withColumn("datetime", date_trunc("hour", col("datetime")))
      val gold = goldKeyed(Gold.rollup(silver, truncated = true))
      val maxHour = gold.keys.map(_._1).max
      (gold, maxHour - 2L * 3600L * 1000000L)
    }

    var drops: Option[Long] = None

    /** One drain over `src`: (wall s, this drain's progress per layer). */
    def drain(src: Path, out: Path, checked: Boolean)
        : Option[(Map[String, Seq[StreamingQueryProgress]], Double)] = {
      Util.deleteTree(out)
      r.attempt("stream drain") {
        val (ids, wallS) = Util.timed(tr.span("streaming.drain") {
          val events = spark.readStream.schema(Gen.schema)
            .option("maxFilesPerTrigger", "1").parquet(src.toString)
          val qs = StreamPipeline.startAll(spark, EventsAdapter.wire(events),
            out.resolve("layers").toString, out.resolve("ckpt").toString,
            Some(Trigger.AvailableNow()))
          val ids = Layers.zip(qs).map { case (l, q) =>
            tr.labelQuery(q.id.toString, s"etl.$l")
            l -> q.id
          }.toMap
          try qs.foreach(_.awaitTermination())
          finally qs.foreach(q => if (q.isActive) q.stop())
          qs.foreach(q => q.exception.foreach(e => throw e))
          ids
        })
        tr.waitIdle()
        val events = tr.progress.asScala.toSeq.map(_.progress)
        val byLayer = ids.map { case (l, id) =>
          l -> events.filter(_.id == id).sortBy(_.batchId) }
        if (checked) verify(out.resolve("layers"), byLayer)
        (byLayer, wallS)
      }
    }

    def verify(layers: Path, p: Map[String, Seq[StreamingQueryProgress]])
        : Unit = {
      val bronze = spark.read.parquet(layers.resolve("bronze").toString).count()
      val silver = spark.read.parquet(layers.resolve("silver").toString).count()
      r.check("stream bronze = wire - null keys", bronze == pc("bronze"),
        s"$bronze vs ${pc("bronze")}")
      r.check("stream silver = valid rows", silver == pc("silver"),
        s"$silver vs ${pc("silver")}")
      val (exp, closedBelow) = expected
      val got = goldKeyed(spark.read.parquet(layers.resolve("gold").toString))
      val wrong = got.count { case (k, v) => !exp.get(k).contains(v) }
      val missing = exp.keys.count(k => k._1 <= closedBelow && !got.contains(k))
      r.check("stream gold = rollup of on-time rows (closed hours)",
        wrong == 0 && missing == 0 && got.nonEmpty,
        s"$wrong wrong, $missing missing of ${exp.size}; got ${got.size}")
      val dropped = p("gold").flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      r.check("watermark drops = planted late rows, every drain",
        dropped == pc("late") && drops.forall(_ == dropped),
        s"$dropped vs planted ${pc("late")}, earlier $drops")
      drops = Some(dropped)
    }

    // warm-up: a drain over the first hour-files
    val (_, warmS) = Util.timed(tr.span("setup.warmup") {
      Util.deleteTree(warmIn)
      Files.createDirectories(warmIn)
      Files.list(in).iterator().asScala.toSeq.sortBy(_.toString).take(6)
        .foreach(f => Files.copy(f, warmIn.resolve(f.getFileName)))
      drain(warmIn, r.work.resolve("sb_warm_out"), checked = false)
    })
    r.mark("warmup")
    var n = 0
    val samples = r.measure("stream") {
      n += 1
      drain(in, r.work.resolve(s"sb_out_$n"), checked = true)
        .map(x => (x._1, x._2))
    }
    r.mark("measure")
    require(samples.nonEmpty, "no successful drain")

    def ms(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def dataBatches(ps: Seq[StreamingQueryProgress]) =
      ps.filter(_.numInputRows > 0)
    val goldMs = samples.flatMap(s => dataBatches(s._1("gold")))
      .map(ms(_, "triggerExecution"))
    r.put("setup_s", r.sessionS + warmS + Util.median(setupS), "s")
    r.put("throughput", pc("wire") / Util.median(samples.map(_._2)), "1/s")
    r.put("op_ms_p50", Util.median(goldMs), "ms")
    val (q, tailMs) = Util.tail(goldMs)
    r.put("op_ms_tail", tailMs, "ms")
    r.info("op_ms") = goldMs.map(Json.num).mkString("[", ",", "]")
    r.info("op_tail_percentile") = Json.num(q)
    r.info("drain_s") = samples.map(x => Json.num(x._2)).mkString("[", ",", "]")

    if (tr.enabled) {
      val drains = tr.measured("streaming.drain")
      val traced = samples.map(_._1)
      Layers.foreach { l =>
        val walls = traced.map(p =>
          p(l).map(ms(_, "triggerExecution")).sum)
        r.putC8(s"etl.$l", drains.zip(walls).map { case (s, w) =>
          tr.subC8(s"etl.$l", s, w) })
        val batches = traced.flatMap(p => dataBatches(p(l)))
        def medOf(f: StreamingQueryProgress => Double) =
          if (batches.isEmpty) 0.0 else Util.median(batches.map(f))
        r.put(s"streaming.$l.batch_ms_p50", medOf(ms(_, "triggerExecution")), "ms")
        r.put(s"streaming.$l.add_batch_ms", medOf(ms(_, "addBatch")), "ms")
        r.put(s"streaming.$l.planning_ms", medOf(ms(_, "queryPlanning")), "ms")
        r.put(s"streaming.$l.commit_ms",
          medOf(p => ms(p, "walCommit") + ms(p, "commitOffsets")), "ms")
      }
      val gold = traced.map(_("gold").flatMap(_.stateOperators))
      def medGold(f: Seq[org.apache.spark.sql.streaming.StateOperatorProgress]
          => Double) = Util.median(gold.map(f))
      r.put("streaming.gold.state_rows",
        medGold(s => if (s.isEmpty) 0.0 else s.map(_.numRowsTotal).max.toDouble), "count")
      r.put("streaming.gold.state_bytes",
        medGold(s => if (s.isEmpty) 0.0 else s.map(_.memoryUsedBytes).max.toDouble), "bytes")
      r.put("streaming.gold.dropped_by_watermark",
        medGold(_.map(_.numRowsDroppedByWatermark).sum.toDouble), "count")
      r.put("streaming.batches",
        Util.median(traced.map(_.values.map(_.size).sum.toDouble)), "count")
      r.put("streaming.cpu_ms", Util.median(drains.map(tr.c8(_)("cpu_ms"))), "ms")
      r.put("streaming.gc_ms", Util.median(drains.map(tr.c8(_)("gc_ms"))), "ms")
      val wireS = tr.span("etl.wire") {
        r.attempt("wire noop")(Run.noopCount(
          EventsAdapter.wire(spark.read.parquet(in.toString))))
      }
      require(wireS.isDefined)
      r.putC8("etl.wire", tr.named("etl.wire").map(tr.c8))
      r.put("etl.wire.scan_amplification", Util.median(drains.map(s =>
        tr.subAcc("etl.bronze", s).inputRecords.toDouble / pc("wire"))), "ratio")
      Seq("bronze", "gold").foreach { l =>
        r.put(s"etl.$l.core_util", Util.median(drains.zip(traced).map {
          case (s, p) => tr.subAcc(s"etl.$l", s).runMs /
            (math.max(1.0, p(l).map(ms(_, "triggerExecution")).sum) * r.cores)
        }), "ratio")
      }
      r.put("io.write.task_skew", Util.median(drains.map(s =>
        Run.skew(Layers.flatMap(l =>
          tr.subAcc(s"etl.$l", s).taskMs.values.flatten)))), "ratio")
      val last = r.work.resolve(s"sb_out_$n").resolve("layers")
      val files = Util.parquetFiles(last)
      r.put("io.write.files", files._1.toDouble, "count")
      r.put("io.write.bytes", files._2.toDouble, "bytes")
      r.put("etl.bronze.rejects", (pc("wire") - pc("bronze")).toDouble, "count")
      r.put("etl.silver.rejects", (pc("bronze") - pc("silver")).toDouble, "count")
      r.put("etl.gold.rows", expected._1.size.toDouble, "count")
    }
  }
}
