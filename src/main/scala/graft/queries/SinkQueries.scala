package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{Queries => A}
import graft.io.{Sinks, Sources}
import graft.multimodal.Multimodal
import graft.queries.PipelineQueries._

/** Registry + oracles for sinks (S4 partitioned parquet, S9 CSV), the
  * Spark-SQL OLAP surface (S8 collapse), and the multimodal plumbing. */
object SinkQueries {

  // package-private: IoSpec asserts on the file layouts these queries
  // write, so the path scheme must have exactly one definition.
  // Memory-backed scratch when available (the round-1 checkpoint
  // precedent): the sink/store queries measure layout and lifecycle
  // logic, so a contended shared /tmp disk should not add noise to
  // their timings (measured: small effect when /tmp is quiet — the
  // dominant store-family cost is per-stage job/codegen overhead).
  private[graft] def tmp(name: String, dir: String) = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val root = if (java.nio.file.Files.isWritable(shm)) "/dev/shm"
      else "/tmp"
    s"$root/graft_sink_${dir.hashCode.toHexString}/$name"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S4: partitionBy(year,month,day) parquet write → re-read (S3: partition
    // recovery) → per-partition counts
    "s4_partitioned_write" -> ((s, d) => {
      val path = tmp("bronze_part", d)
      Sinks.writePartitioned(
        Sinks.clusterByDay(bronze(s, d).drop("props")), path)
      s.read.parquet(path)
        .groupBy(col("year"), col("month"), col("day"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("location_id")).as("n_locations"))
        .orderBy("year", "month", "day")
    }),
    // S9: CSV export with header → schema-checked re-read (µs-precision
    // timestamp format preserved both ways)
    "s9_csv_roundtrip" -> ((s, d) => {
      val inv = A.stationInventory(silver(s, d))
      val path = tmp("inventory_csv", d)
      // timestampNTZFormat too: NTZ columns use the SEPARATE option and
      // its default silently truncates µs→ms (round-5 regression)
      inv.write.mode("overwrite").option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
      s.read.option("header", "true").schema(inv.schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
        .orderBy("location_id")
    }),
    // JSON-lines export → schema'd re-read: the interchange format for
    // downstream non-columnar consumers; µs timestamps preserved via an
    // explicit format (JSON has no timestamp type)
    "io1_json_roundtrip" -> ((s, d) => {
      val inv = A.stationInventory(silver(s, d))
      val path = tmp("inventory_json", d)
      inv.write.mode("overwrite")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .json(path)
      s.read.schema(inv.schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .json(path)
        .orderBy("location_id")
    }),
    // ORC export → re-read: the second columnar format big estates mix
    // with parquet; types round-trip losslessly, no format options
    "io2_orc_roundtrip" -> ((s, d) => {
      val inv = A.stationInventory(silver(s, d))
      val path = tmp("inventory_orc", d)
      inv.write.mode("overwrite").orc(path)
      s.read.orc(path).orderBy("location_id")
    }),
    // schema evolution: two parquet generations (a column added in v2)
    // under one root, read with mergeSchema — the estate reality of
    // long-lived datasets; the missing column nulls out for old files.
    // At 100 TB mergeSchema=true costs a footer read per file at
    // planning, which is why production tables pin the merged schema in
    // a catalog — the READ semantics are what this exercises
    "io3_schema_evolution" -> ((s, d) => {
      val ev = table(s, d, "events")
      val root = tmp("events_evolving", d)
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("value"))
        .write.mode("overwrite").parquet(s"$root/gen=1")
      ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type"))
        .write.mode("overwrite").parquet(s"$root/gen=2")
      s.read.option("mergeSchema", "true").parquet(root)
        .groupBy(col("gen"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("event_type").isNull, 1).otherwise(0))
            .as("n_null_type"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("gen")
    }),
    // small-file compaction: a 64-file layout (the nightly-ingest
    // reality) rewritten to a few right-sized files via repartition +
    // maxRecordsPerFile — the maintenance job every parquet lake runs.
    // The oracle checks content is preserved; IoSpec checks the file
    // counts. At 100 TB the repartition count comes from target file
    // size (≈128 MB-1 GB), not a constant
    // WRITE-AUDIT-PUBLISH (io9): the lakehouse commit protocol —
    // stage invisibly, audit the staged files AS WRITTEN, publish by
    // versioned rename + pointer swap. A good batch publishes v1; a
    // planted-bad batch (negated values) is REJECTED and quarantined,
    // and the read-back still serves v1 — content equality with the
    // source is the oracle, the rejection path is exercised inline
    "io9_write_audit_publish" -> ((s, d) => {
      import graft.io.Wap
      val root = tmp(s"events_wap_${java.util.UUID.randomUUID()
        .toString.take(8)}", d)
      val ev = table(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val rules = Seq(
        "value_non_negative" -> (col("value") >= 0),
        "event_id_present" -> col("event_id").isNotNull)
      val (ok1, _) = Wap.publish(ev, root, rules)
      require(ok1, "clean batch must publish")
      val (ok2, _) = Wap.publish(
        ev.withColumn("value", -col("value") - lit(1)), root, rules)
      require(!ok2, "the planted-bad batch must be rejected")
      Wap.readPublished(s, root).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
    }),
    // ZONE-MAP data skipping (io10): write a bucket-clustered layout,
    // build the file-level min/max index from parquet FOOTERS only
    // (graft.io.ZoneMap — no row scan; the index a table format keeps
    // in its manifest), prune the file list for value ∈ [120, 180],
    // scan only survivors with the residual predicate. The oracle is
    // the plain filtered aggregate over ALL rows, so a green row
    // certifies pruning completeness; IoSpec pins that files really
    // are skipped on this layout and that the footer stats match the
    // data.
    "io10_zone_map_scan" -> ((s, d) => {
      import graft.io.ZoneMap
      val path = tmp("events_zonemap", d)
      table(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("bucket", floor(col("value") / 25).cast("int"))
        .repartition(16, col("bucket"))
        .write.mode("overwrite").parquet(path)
      val zones = ZoneMap.build(s, path, "value")
      val kept = ZoneMap.prunedPaths(zones, 120.0, 180.0)
      s.read.parquet(kept: _*)
        .filter(col("value") >= 120 && col("value") <= 180)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"))
    }),
    // PARTITION RETENTION SWEEP (io13): the TTL / compliance job —
    // day-partitioned layout, partitions before the cutoff dropped by
    // DIRECTORY deletion (metadata-only; a row-level TTL would be a
    // full rewrite, which is why retention policies live on partition
    // columns). Readers see survivors via ordinary partition
    // discovery; oracle = the equivalent row filter over the source,
    // certifying the sweep deleted exactly the expired days
    // SMALL-FILE COMPACTION (io14): day partitions land fragmented;
    // the plan bins adjacent days by FOOTER row counts (metadata-only
    // — the ZoneMap discipline) at bin = rows-before div 3000, and
    // each bin rewrites as ONE file. Binning is start-offset
    // arithmetic on the ordered day list, so the oracle replays it
    // exactly from the row grain; one-file-per-bin and total-row
    // preservation are require()d inline
    "io14_compaction" -> ((s, d) => {
      import graft.io.Compaction
      val root = tmp(s"events_compact_${java.util.UUID.randomUUID()
        .toString.take(8)}", d)
      val ev = PipelineQueries.eventsTs(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          (year(col("ts")) * 10000 + month(col("ts")) * 100 +
            dayofmonth(col("ts"))).as("d"))
      ev.write.mode("overwrite").partitionBy("d").parquet(s"$root/src")
      val out = Compaction.compact(s, s"$root/src", s"$root/dst",
        "d", targetRows = 3000L)
      // compaction proof: every bin is exactly one data file
      val fs = new org.apache.hadoop.fs.Path(s"$root/dst")
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/dst"))
        .filter(_.isDirectory).foreach { b =>
          val n = fs.listStatus(b.getPath)
            .count(f => f.getPath.getName.endsWith(".parquet") &&
              !f.getPath.getName.startsWith("_"))
          require(n == 1, s"bin ${b.getPath.getName} has $n files")
        }
      require(out.count() == ev.count(),
        "compaction must preserve every row")
      out.groupBy(col("bin").cast("long").as("bin"))
        .agg(countDistinct(col("d")).as("n_days"),
          count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .orderBy("bin")
    }),
    "io13_retention_sweep" -> ((s, d) => {
      import graft.io.Retention
      val root = tmp(s"events_ttl_${java.util.UUID.randomUUID()
        .toString.take(8)}", d)
      val ev = PipelineQueries.eventsTs(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          (year(col("ts")) * 10000 + month(col("ts")) * 100 +
            dayofmonth(col("ts"))).as("d"))
      ev.write.mode("overwrite").partitionBy("d").parquet(root)
      val dropped = Retention.sweep(s, root, "d", 20240115L)
      require(dropped.nonEmpty && dropped.forall(_ < 20240115L),
        s"the sweep must drop only expired partitions: $dropped")
      s.read.parquet(root).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
    }),
    // INCREMENTAL FILE-LEDGER INGESTION (io12): process only the
    // files that landed since the last run — a persisted ledger of
    // processed paths anti-joins each listing (the manual half of
    // Auto-Loader / Iceberg incremental scan; file-level sibling of
    // d10's row-level index). Two feed batches land as files; run 2
    // must read ONLY batch-2 files and run 3 must be a no-op — both
    // require()d inline; the union of the two processed frames must
    // equal the full feed, which is the oracle
    "io12_incremental_ledger" -> ((s, d) => {
      import graft.io.IncrementalLedger
      val root = tmp(s"events_ledger_${java.util.UUID.randomUUID()
        .toString.take(8)}", d)
      val srcDir = s"$root/src"
      val ledger = s"$root/ledger"
      val ev = table(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      ev.filter(col("user_id") % 3 =!= 0)
        .repartition(4).write.mode("overwrite").parquet(srcDir)
      val p1 = IncrementalLedger.processNew(s, srcDir, ledger, 1L)
        .getOrElse(sys.error("batch 1 must process"))
      // consume durably FIRST (materialize), commit AFTER — the
      // at-least-once ordering (round-7 advisor fix: commit-first
      // was at-most-once)
      val b1 = p1.df.localCheckpoint(); p1.commit()
      val nFilesB1 = IncrementalLedger.listDataFiles(s, srcDir).size
      ev.filter(col("user_id") % 3 === 0)
        .repartition(2).write.mode("append").parquet(srcDir)
      val batch2 = IncrementalLedger.newFiles(s, srcDir, ledger)
      require(batch2.nonEmpty &&
        batch2.size == IncrementalLedger.listDataFiles(s, srcDir).size
          - nFilesB1,
        "run 2 must see exactly the appended files")
      val p2 = IncrementalLedger.processNew(s, srcDir, ledger, 2L)
        .getOrElse(sys.error("batch 2 must process"))
      // an uncommitted batch is re-presented on the next run (the
      // crash-before-commit window re-processes, never drops)
      require(IncrementalLedger.newFiles(s, srcDir, ledger)
        == p2.paths, "uncommitted batch must be re-presented")
      val b2 = p2.df.localCheckpoint(); p2.commit()
      require(IncrementalLedger.processNew(s, srcDir, ledger, 3L)
        .isEmpty, "a run with nothing new must be a no-op")
      b1.unionByName(b2).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
    }),
    // TIME TRAVEL (io11): the versioned WAP layout's free snapshot
    // history — publish v1 (a slice), publish v2 (the full set), then
    // read VERSION 1 AS OF: the superseded snapshot must still be
    // byte-intact (the pointer moved; data never mutates). Oracle =
    // the v1 slice aggregate recomputed from source, certifying the
    // old snapshot's content survived the v2 publish.
    "io11_time_travel" -> ((s, d) => {
      import graft.io.Wap
      val root = tmp(s"events_tt_${java.util.UUID.randomUUID()
        .toString.take(8)}", d)
      val ev = table(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val rules = Seq("event_id_present" -> col("event_id").isNotNull)
      val (ok1, _) = Wap.publish(ev.filter(col("user_id") % 4 =!= 0),
        root, rules)
      val (ok2, _) = Wap.publish(ev, root, rules)
      require(ok1 && ok2, "both batches must publish")
      require(Wap.versions(s, root) == Seq((1, false), (2, true)),
        "history must list v1 superseded, v2 current")
      Wap.readVersion(s, root, 1).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
    }),
    "io4_compaction" -> ((s, d) => {
      val src = tmp("events_small_files", d)
      val dst = tmp("events_compacted", d)
      val ev = table(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      ev.repartition(64).write.mode("overwrite").parquet(src)
      s.read.parquet(src).repartition(2).write.mode("overwrite")
        .option("maxRecordsPerFile", "40000").parquet(dst)
      s.read.parquet(dst).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
    }),
    // Z-order layout rewrite: events re-clustered on the Morton curve
    // of (user bucket, time bucket) so per-file min/max stats prune on
    // EITHER dimension — the OPTIMIZE-ZORDER maintenance op. Content
    // preservation is the oracle; IoSpec asserts the actual clustering
    // (per-file spans shrink on both dims vs a time-sorted layout)
    "io5_zorder_layout" -> ((s, d) => {
      import graft.io.ZOrder
      val dst = tmp("events_zorder", d)
      // ts as canonical µs-long: the equi-width bucket math below is
      // integral-domain arithmetic, so normalize the physical type first
      val ev0 = table(s, d, "events")
      val ev = ev0
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), graft.etl.EventsAdapter.tsMicros(ev0).as("ts"))
      val stats = ev.agg(
        min(col("user_id")).as("umin"), max(col("user_id")).as("umax"),
        min(col("ts")).as("tmin"), max(col("ts")).as("tmax"))
      val bucketedEv = ev.crossJoin(broadcast(stats))
        .withColumn("ub", ZOrder.bucketed(col("user_id"), col("umin"),
          col("umax"), 64))
        .withColumn("tb", ZOrder.bucketed(col("ts"), col("tmin"),
          col("tmax"), 64))
        .drop("umin", "umax", "tmin", "tmax")
      ZOrder.writeZOrdered(bucketedEv, col("ub"), col("tb"), dst,
        numFiles = 16, bits = 6)
      s.read.parquet(dst)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .orderBy("event_id")
    }),
    // dynamic partition overwrite: a correction batch rewrites ONLY the
    // partitions it touches (INSERT OVERWRITE ... PARTITION semantics)
    // — static overwrite mode would wipe the whole table. The daily
    // restatement op every partitioned lake needs; at 100 TB the saved
    // work is the entire untouched history
    "io6_dynamic_overwrite" -> ((s, d) => {
      val dst = tmp("events_dyn_overwrite", d)
      val ev = table(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), (col("user_id") % 8).as("bucket"))
      ev.write.mode("overwrite").partitionBy("bucket").parquet(dst)
      // restate buckets 0 and 1: doubled value, only those partitions
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try ev.filter(col("bucket") <= 1)
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite").partitionBy("bucket").parquet(dst)
      finally
        s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      s.read.parquet(dst)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .orderBy("bucket")
    }),
    // S8 collapse: the ClickHouse SQL surface becomes spark.sql over
    // registered layer views (A4 via raw SQL text)
    "ch1_sql_surface" -> ((s, d) => {
      Sources.registerLayers(s, Map("gold_view" -> gold(s, d)))
      s.sql(
        """SELECT country, count(*) AS n_records,
          |  round(avg(aqi), 4) AS avg_aqi, max(aqi) AS max_aqi,
          |  min(aqi) AS min_aqi, round(stddev_pop(aqi), 4) AS std_aqi
          |FROM gold_view GROUP BY country
          |ORDER BY avg_aqi DESC, country""".stripMargin)
    }),
    // S8 load side: the MergeTree DDL the reference hand-maintains
    // (clickhouse/init.sql) generated from the LIVE pipeline schemas —
    // type mapping + key-nullability rules are engine logic
    // (io.ClickHouseDdl, spec-pinned); only the network insert needs
    // the server the sandbox lacks. Deterministic strings → rows-only
    // harness check; exact DDL text pinned in ClickHouseDdlSpec.
    "ch2_clickhouse_ddl" -> ((s, d) => {
      import s.implicits._
      graft.io.ClickHouseDdl.medallionDdl(
          bronze(s, d).drop("props"), silver(s, d), gold(s, d))
        .toDF("layer", "table_name", "ddl")
        .orderBy("layer")
    }),
    // Hilbert-curve layout (io5's locality-preserving sibling):
    // consecutive curve positions are always grid-adjacent, so files
    // cover tighter rectangles than Morton order — content
    // preservation is the oracle; IoSpec asserts bijectivity, the
    // adjacency property Z-order lacks, and the both-dim span shrink
    "io8_hilbert_layout" -> ((s, d) => {
      import graft.io.{Hilbert, ZOrder}
      val dst = tmp("events_hilbert", d)
      val ev0 = table(s, d, "events")
      val ev = ev0
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), graft.etl.EventsAdapter.tsMicros(ev0).as("ts"))
      val stats = ev.agg(
        min(col("user_id")).as("umin"), max(col("user_id")).as("umax"),
        min(col("ts")).as("tmin"), max(col("ts")).as("tmax"))
      val bucketedEv = ev.crossJoin(broadcast(stats))
        .withColumn("ub", ZOrder.bucketed(col("user_id"), col("umin"),
          col("umax"), 64))
        .withColumn("tb", ZOrder.bucketed(col("ts"), col("tmin"),
          col("tmax"), 64))
        .drop("umin", "umax", "tmin", "tmax")
      Hilbert.writeHilbertOrdered(bucketedEv, col("ub"), col("tb"), dst,
        numFiles = 16, order = 6)
      s.read.parquet(dst)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .orderBy("event_id")
    }),
    // multimodal: binary column + metadata + hash/length features
    "mm1_media_features" -> ((s, d) =>
      Multimodal.withBinaryPayload(table(s, d, "documents"))
        .select(col("doc_id"), col("media_type"),
          length(col("media")).as("byte_len"),
          md5(col("media")).as("media_md5"),
          col("metadata.width").as("width"),
          col("metadata.sample_rate").as("sample_rate"),
          col("metadata.n_frames").as("n_frames"))
        .orderBy("doc_id")),
    // multimodal decode stub via mapPartitions (rows-only: RDD plumbing)
    "mm2_decode_stub" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.withBinaryPayload(table(s, d, "documents")))
        .select(col("doc_id"), col("media_type"), col("byte_len"),
          array_join(transform(col("feature"),
            v => format_string("%.4f", v)), ",").as("feature"))
        .orderBy("doc_id")),
    // multimodal plan ops: which frames to decode / what dims to resize to
    "mm3_frame_sample" -> ((s, d) =>
      Multimodal.frameSamplePlan(
        Multimodal.withBinaryPayload(table(s, d, "documents")))
        .select(col("doc_id"), col("n_frames"),
          array_join(col("frame_indices").cast("array<string>"), ",")
            .as("frame_indices"))
        .orderBy("doc_id")),
    "mm4_resize_plan" -> ((s, d) =>
      Multimodal.resizePlan(
        Multimodal.withBinaryPayload(table(s, d, "documents")))
        .orderBy("doc_id")),
    // audio chunk plan: sliding 64-sample windows at stride 48 over the
    // 16-bit payload — which PCM ranges to decode, as pure integer math
    "mm5_audio_chunks" -> ((s, d) =>
      Multimodal.audioChunkPlan(
        Multimodal.withBinaryPayload(table(s, d, "documents")))
        .orderBy("doc_id", "chunk_idx")),
    // perceptual media near-dup (mm6): aHash over the stubbed 64-cell
    // grid, Hamming ≤ 6 pairs via d4's pigeonhole blocking. Planted
    // locally-perturbed payload copies must pair with their sources at
    // small Hamming distance; rows-only (mapPartitions decode — no
    // DuckDB twin, like mm2), recall pinned in MultimodalSpec
    "mm6_perceptual_dedup" -> ((s, d) => {
      val base = Multimodal.withBinaryPayload(
        table(s, d, "documents").filter(col("doc_id") < 200))
      val perturbed = Multimodal.withBinaryPayload(
        table(s, d, "documents")
          .filter(col("doc_id") < 200 && col("doc_id") % 9 === 0)
          .withColumn("text", concat(expr("substring(text, 1, 20)"),
            lit("ZZZ"), expr("substring(text, 24)"))))
        .withColumn("doc_id", col("doc_id") + 900000)
      Multimodal.mediaNearDupPairs(base.unionAll(perturbed))
        .orderBy("id_a", "id_b")
    }),
    // ENGINE-PORTABLE perceptual dedup (mm6p): mm6's aHash + blocking
    // + popcount pipeline with the byte-grid decode stub swapped for
    // the md5-span grid both engines compute identically (the
    // d17/d4p recipe) — the whole near-dup algorithm oracle-replays,
    // same planted locally-perturbed copies, Hamming <= 6
    "mm6p_perceptual_portable" -> ((s, d) => {
      val base = table(s, d, "documents")
        .filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
      val perturbed = table(s, d, "documents")
        .filter(col("doc_id") < 200 && col("doc_id") % 9 === 0)
        .withColumn("text", concat(expr("substring(text, 1, 20)"),
          lit("ZZZ"), expr("substring(text, 24)")))
        .withColumn("doc_id", col("doc_id") + 900000)
        .select(col("doc_id"), col("text"))
      graft.dedup.Dedup.simhashNearPairs(
          Multimodal.portablePerceptualHashes(base.unionAll(perturbed)),
          maxDist = 6, sigBits = 48)
        .orderBy("id_a", "id_b")
    }),
    // EXACT media dedup by content digest (mm7): sha-256 of the raw
    // payload bytes — the first pass of every media-dedup stack, and
    // the one multimodal operator with a full DuckDB twin (no decode
    // ⇒ nothing stubbed). Planted re-uploads (+100000) carry the SAME
    // bytes under DIFFERENT metadata (width and even media_type
    // change with doc_id) — byte-identity must still collapse them
    "mm7_media_exact_dedup" -> ((s, d) => {
      val base = table(s, d, "documents")
        .filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
      val reup = base.withColumn("doc_id", col("doc_id") + 100000)
      Multimodal.exactMediaDedup(
        Multimodal.withBinaryPayload(base.unionAll(reup)))
        .orderBy("canonical_id")
    }),
    // TRAINING-SHARD PLANNER (mm8): pack the media corpus into
    // ~target-byte shards in deterministic doc_id order — the
    // WebDataset/tar-shard build every multimodal training run starts
    // from (shuffled reads happen at the SHARD level, so shards must
    // be size-balanced and reproducible). Assignment rule: a blob
    // belongs to the shard its START offset lands in
    // (exclusive-cumsum div target) — stateless and deterministic, no
    // sequential packing loop; shards overshoot by at most one blob.
    // The global byte cumsum is Ids.keyedCumsum's TWO-PHASE shape
    // (range-partitioned local sums + broadcast offsets), never a
    // single-task window; the manifest output is shard-grain metadata
    "mm8_shard_plan" -> ((s, d) => {
      val media = Multimodal.withBinaryPayload(
        table(s, d, "documents"))
        .select(col("doc_id"),
          length(col("media")).cast("long").as("bytes"))
      val target = 16384L
      graft.etl.Ids.keyedCumsum(
        media.withColumn("__k", lit(0)), "__k", Seq("doc_id"),
        "bytes", "cum_bytes")
        .withColumn("shard_id",
          expr(s"(cum_bytes - bytes) div $target"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("bytes")).as("shard_bytes"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("shard_id")
    }),
    // bucketed layout → co-located join: zero Exchange on either join
    // side (PlanShapeSpec pins the plan; the oracle checks the result
    // equals the plain join)
    "b1_bucketed_join" -> ((s, d) =>
      graft.io.Bucketed.coLocatedSegmentRevenue(s, d))
  )

  val oracle: Map[String, String] = Map(
    "s4_partitioned_write" -> withPipeline(
      """SELECT year, month, day, count(*) AS n_rows,
        |  count(DISTINCT location_id) AS n_locations
        |FROM bronze GROUP BY 1, 2, 3
        |ORDER BY year, month, day""".stripMargin.replace('\n', ' ')),
    "s9_csv_roundtrip" -> withPipeline(
      """SELECT location_id, location_name, country, count(*) AS n_records,
        |  min(datetime) AS first_dt, max(datetime) AS last_dt
        |FROM silver GROUP BY 1, 2, 3
        |ORDER BY location_id""".stripMargin.replace('\n', ' ')),
    "io1_json_roundtrip" -> withPipeline(
      """SELECT location_id, location_name, country, count(*) AS n_records,
        |  min(datetime) AS first_dt, max(datetime) AS last_dt
        |FROM silver GROUP BY 1, 2, 3
        |ORDER BY location_id""".stripMargin.replace('\n', ' ')),
    "io2_orc_roundtrip" -> withPipeline(
      """SELECT location_id, location_name, country, count(*) AS n_records,
        |  min(datetime) AS first_dt, max(datetime) AS last_dt
        |FROM silver GROUP BY 1, 2, 3
        |ORDER BY location_id""".stripMargin.replace('\n', ' ')),
    "io3_schema_evolution" ->
      """WITH merged AS (
        |  SELECT event_id, user_id, value, NULL AS event_type, 1 AS gen
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_id, user_id, value, event_type, 2 AS gen
        |  FROM events WHERE event_id % 2 = 1)
        |SELECT gen, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_null_type,
        |  count(DISTINCT user_id) AS n_users
        |FROM merged GROUP BY 1 ORDER BY gen""".stripMargin.replace('\n', ' '),
    "io5_zorder_layout" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin.replace('\n', ' '),
    "io8_hilbert_layout" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin.replace('\n', ' '),
    // buckets 0-1 doubled (the restatement), 2-7 original — dynamic
    // mode must leave untouched partitions intact
    "io6_dynamic_overwrite" ->
      """SELECT CAST(user_id % 8 AS INT) AS bucket, count(*) AS n_rows,
        |  CAST(sum(CAST(CASE WHEN user_id % 8 <= 1 THEN value * 2
        |    ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY bucket"""
        .stripMargin.replace('\n', ' '),
    "io9_write_audit_publish" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin.replace('\n', ' '),
    // survivors ≡ the equivalent row filter (UTC session; ts is NTZ)
    // day-grain replay of the start-offset binning, then the same
    // per-bin aggregate from the row grain
    "io14_compaction" ->
      """WITH ev AS (SELECT user_id, value,
        |    year(CAST(ts AS TIMESTAMP)) * 10000 +
        |    month(CAST(ts AS TIMESTAMP)) * 100 +
        |    day(CAST(ts AS TIMESTAMP)) AS d
        |  FROM events),
        |days AS (SELECT d, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1),
        |binned AS (SELECT d,
        |    coalesce(sum(c) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      // 3000 AS bin
        |  FROM days)
        |SELECT CAST(bin AS BIGINT) AS bin,
        |  count(DISTINCT e.d) AS n_days,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_value
        |FROM ev e JOIN binned b ON e.d = b.d
        |GROUP BY 1 ORDER BY bin""".stripMargin.replace('\n', ' '),
    "io13_retention_sweep" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE year(CAST(ts AS TIMESTAMP)) * 10000 +
        |  month(CAST(ts AS TIMESTAMP)) * 100 +
        |  day(CAST(ts AS TIMESTAMP)) >= 20240115"""
        .stripMargin.replace('\n', ' '),
    // the two incremental batches must reassemble the full feed
    "io12_incremental_ledger" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin.replace('\n', ' '),
    // the v1 slice recomputed from source — certifies the superseded
    // snapshot's content survived the v2 publish untouched
    "io11_time_travel" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE user_id % 4 <> 0"""
        .stripMargin.replace('\n', ' '),
    // completeness certificate: the pruned scan must equal the full
    // filtered aggregate
    "io10_zone_map_scan" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  min(value) AS min_v, max(value) AS max_v
        |FROM events WHERE value >= 120 AND value <= 180"""
        .stripMargin.replace('\n', ' '),
    "io4_compaction" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin.replace('\n', ' '),
    "ch1_sql_surface" -> withPipeline(
      """SELECT country, count(*) AS n_records,
        |  round(avg(aqi), 4) AS avg_aqi, max(aqi) AS max_aqi,
        |  min(aqi) AS min_aqi, round(stddev_pop(aqi), 4) AS std_aqi
        |FROM gold GROUP BY country
        |ORDER BY avg_aqi DESC, country""".stripMargin.replace('\n', ' ')),
    // plain window cumsum replays the two-phase distributed one
    // (prefix sums are order-deterministic integers)
    "mm8_shard_plan" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS bytes
        |  FROM documents),
        |c AS (SELECT doc_id, bytes,
        |    sum(bytes) OVER (ORDER BY doc_id) AS cum
        |  FROM m),
        |a AS (SELECT doc_id, bytes,
        |    CAST((cum - bytes) // 16384 AS BIGINT) AS shard_id
        |  FROM c)
        |SELECT shard_id, count(*) AS n_items,
        |  CAST(sum(bytes) AS BIGINT) AS shard_bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM a GROUP BY 1 ORDER BY shard_id"""
        .stripMargin.replace('\n', ' '),
    // DuckDB md5 only accepts VARCHAR; md5(text) hashes the same UTF-8
    // bytes as Spark's md5(encode(text,'UTF-8'))
    "mm1_media_features" ->
      """SELECT doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'image'
        |    WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END) AS media_type,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |  md5(text) AS media_md5,
        |  (CASE WHEN doc_id % 3 = 0
        |    THEN CAST(doc_id % 1024 + 64 AS INT) END) AS width,
        |  (CASE WHEN doc_id % 3 = 1 THEN 16000 END) AS sample_rate,
        |  (CASE WHEN doc_id % 3 = 2
        |    THEN CAST(doc_id % 300 + 1 AS INT) END) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin.replace('\n', ' '),
    // sha256(text) hashes the same UTF-8 bytes as Spark's
    // sha2(encode(text,'UTF-8'), 256); metadata is recomputed from the
    // SHIFTED ids, so re-uploads collapse despite differing metadata
    "mm7_media_exact_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id < 200),
        |allm AS (SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id + 100000, text FROM base),
        |h AS (SELECT doc_id, sha256(text) AS digest,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN CAST(doc_id % 1024 + 64 AS INT) END AS width
        |  FROM allm)
        |SELECT digest, count(*) AS n_copies,
        |  min(doc_id) AS canonical_id,
        |  count(DISTINCT width) AS n_meta_variants
        |FROM h GROUP BY 1 HAVING count(*) > 1
        |ORDER BY canonical_id""".stripMargin.replace('\n', ' '),
    // the portable perceptual twin: same slice + perturbation as mm6,
    // replayed through the md5-span grid (see Multimodal scaladoc)
    "mm6p_perceptual_portable" ->
      graft.multimodal.Multimodal.portablePerceptualPairsSql(
        """(SELECT doc_id, text FROM documents WHERE doc_id < 200
          |  UNION ALL SELECT doc_id + 900000,
          |      substr(text, 1, 20) || 'ZZZ' || substr(text, 24)
          |    FROM documents WHERE doc_id < 200 AND doc_id % 9 = 0)"""
          .stripMargin.replace('\n', ' '),
        maxDist = 6),
    "mm3_frame_sample" ->
      """SELECT doc_id, n_frames,
        |  array_to_string(list_transform(range(0, k),
        |    i -> CAST(floor(i * n_frames / k) AS INT)), ',')
        |    AS frame_indices
        |FROM (SELECT doc_id, CAST(doc_id % 300 + 1 AS INT) AS n_frames,
        |    least(CAST(doc_id % 300 + 1 AS INT), 8) AS k
        |  FROM documents WHERE doc_id % 3 = 2)
        |ORDER BY doc_id""".stripMargin.replace('\n', ' '),
    "mm5_audio_chunks" ->
      """WITH audio AS (SELECT doc_id,
        |    CAST(octet_length(encode(text)) // 2 AS BIGINT) AS n_samples
        |  FROM documents
        |  WHERE doc_id % 3 = 1 AND octet_length(encode(text)) >= 2)
        |SELECT doc_id, n_samples, CAST(t.i AS BIGINT) AS chunk_idx,
        |  CAST(t.i * 48 AS BIGINT) AS start_sample,
        |  CAST(least(t.i * 48 + 64, n_samples) AS BIGINT) AS end_sample
        |FROM audio,
        |  unnest(range(0, CAST((n_samples + 47) // 48 AS BIGINT)))
        |    AS t(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin.replace('\n', ' '),
    "mm4_resize_plan" ->
      """SELECT doc_id, width, height, round(scale, 6) AS scale,
        |  greatest(1, CAST(round(width * scale, 0) AS BIGINT)) AS out_w,
        |  greatest(1, CAST(round(height * scale, 0) AS BIGINT)) AS out_h
        |FROM (SELECT doc_id, width, height,
        |    least(CAST('224' AS DOUBLE) / width,
        |      CAST('224' AS DOUBLE) / height) AS scale
        |  FROM (SELECT doc_id,
        |      CAST(doc_id % 1024 + 64 AS INT) AS width,
        |      CAST(doc_id % 768 + 48 AS INT) AS height
        |    FROM documents WHERE doc_id % 3 = 0))
        |ORDER BY doc_id""".stripMargin.replace('\n', ' '),
    "b1_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin.replace('\n', ' ')
  )
}
