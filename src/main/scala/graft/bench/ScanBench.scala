package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.LocalSession
import graft.config.Schemas
import graft.ddl.Tables
import graft.load.Loader
import graft.model.{CodecSpec, LoadPlan}

/** Scan-throughput benchmark reproducing the reference's measured ad-hoc
  * workload on the wide `events` table (reference: temp.md:39-105 — varchar
  * equality, timestamp eq/gt/range/BETWEEN, LIKE at three selectivities,
  * conjunctive composite, predicated LIMIT) so rows/s compares directly
  * against BASELINE.md.
  *
  * Generates (or reuses) `events_zstd_l06` at SCAN_ROWS rows under WAREHOUSE,
  * then times each query with warmup + measured iterations and prints one
  * JSON line per query: {"query":…,"sec":…,"mrows_per_s":…}.
  */
object ScanBench {
  def env(k: String, d: String): String = sys.env.getOrElse(k, d)

  def main(args: Array[String]): Unit = {
    val cpus = LocalSession.cpus
    val spark = LocalSession("graft-scanbench", cpus,
      // a LIMIT with a selective predicate otherwise scans 1 → 4 → 16 …
      // partitions in sequential waves with idle cores
      "spark.sql.limit.initialNumPartitions" -> cpus.toString)
    graft.plans.CheapFirstFilterOrder.install(spark)

    val rows = env("SCAN_ROWS", "10000000").toLong
    val warehouse = env("WAREHOUSE", "/tmp/graft_scan")
    val warmup = env("BENCH_WARMUP", "1").toInt
    val iters = env("BENCH_ITERS", "3").toInt
    val cfg = Schemas.wideEvents
    val codec = CodecSpec("zstd", 6)
    val path = Tables.variantPath(warehouse, cfg, codec)
    val plan = LoadPlan(totalRows = rows, batchRows = env("BATCH_ROWS", "2500000").toLong,
      concurrency = 2, checkpointDir = s"$warehouse/.checkpoints")

    val t0 = System.nanoTime()
    val ran = Loader.loadTable(spark, cfg, plan, codec, path, quiet = true)
    if (ran > 0)
      System.err.println(f"[scanbench] loaded $ran batches in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // No engine-side cache: queries scan the (OS-page-cached) parquet like
    // the reference's warm Trino runs — that's the comparable condition, and
    // a 10M-row wide table materialized in executor memory would measure the
    // cache, not the scan.
    val df = Tables.read(spark, path)
    val total = df.count()
    System.err.println(s"[scanbench] table ready: $total rows")

    // sample live predicate values like the reference's interactive session did
    val sample = df.select("row_3", "row_1").head()
    val eqVal = sample.getString(0)
    val tsVal = sample.getTimestamp(1)

    // SCAN_QUERIES=0 skips the standard workload section — for re-recording
    // only the manifest-pruning rows below against an already-measured tree
    // without re-timing (and re-paying) the full 11-query sweep.
    val runQueries = env("SCAN_QUERIES", "1") == "1"

    val queries: Seq[(String, DataFrame)] = if (!runQueries) Seq.empty else Seq(
      "count_eq_varchar7" -> df.filter(col("row_3") === eqVal),
      "count_eq_varchar1" -> df.filter(col("row_5") === "e"),
      "count_eq_ts" -> df.filter(col("row_1") === tsVal),
      "count_gt_ts" -> df.filter(col("row_1") > lit("2024-11-01").cast("timestamp")),
      "count_range_ts" -> df.filter(col("row_1") > lit("2024-11-01").cast("timestamp") &&
        col("row_1") < lit("2024-11-20").cast("timestamp")),
      "count_between_ts" -> df.filter(col("row_1").between(
        lit("2024-11-01").cast("timestamp"), lit("2024-11-20").cast("timestamp"))),
      "count_like3" -> df.filter(col("row_32").contains("50c")),
      "count_like5" -> df.filter(col("row_32").contains("50ccb")),
      "count_like7" -> df.filter(col("row_32").contains("50ccb74")),
      "count_composite" -> df.filter(col("row_32").contains("50c") &&
        col("row_1").between(lit("2024-11-01").cast("timestamp"),
          lit("2024-11-20").cast("timestamp")) && col("row_16") < 80)
    )

    queries.foreach { case (name, q) =>
      (1 to warmup).foreach(_ => q.count())
      val times = (1 to iters).map { _ =>
        val s = System.nanoTime(); val n = q.count(); (System.nanoTime() - s) / 1e9 -> n
      }
      val mean = times.map(_._1).sum / iters
      val hits = times.head._2
      println(f"""{"query":"$name","sec":$mean%.4f,"mrows_per_s":${total / mean / 1e6}%.1f,"hits":$hits,"rows":$total}""")
    }
    // predicated SELECT * LIMIT 10 (temp.md:39-66) — two-phase late
    // materialization (see Workload.selectWhereLimitLateMat): a naive
    // wide-row limit pays a full 90-column decode of the whole table
    if (runQueries) {
      def limitQuery(): Unit =
        graft.queries.Workload
          .selectWhereLimitLateMat(df, col("row_3") === eqVal, "id", 10)
          .collect()
      (1 to warmup).foreach(_ => limitQuery())
      val ts2 = (1 to iters).map { _ =>
        val s = System.nanoTime(); limitQuery(); (System.nanoTime() - s) / 1e9
      }
      println(f"""{"query":"select_limit10","sec":${ts2.sum / iters}%.4f,"rows":$total}""")
    }

    // SCAN_MANIFEST=1: the timestamp range/BETWEEN queries through
    // manifest min/max file skipping (the Iceberg pruning analogue,
    // reference temp.md:76-82). One-time clustering rewrite — the B12
    // optimize shape — range-partitions the table on row_1 so per-file
    // [min,max] spans are narrow (generated timestamps are hash-random, so
    // pruning presumes a clustered layout, exactly as Iceberg's does);
    // the manifest records footer-lifted bounds at commit. Each query is
    // then timed twice against the SAME tree: planned from all manifested
    // files vs planned by ManifestSidecarFormat.readRange — identical
    // row-level predicate, identical results, the recorded delta is pure
    // file skipping.
    if (env("SCAN_MANIFEST", "0") == "1") {
      val fmt = new graft.ddl.ManifestSidecarFormat(Seq("row_1"))
      val mPath = s"$warehouse/events_manifest_ts"
      // "already committed" must mean EVERY source batch has its manifest —
      // the loop below writes batch 0 first, so testing only batch-0.json
      // would let an interrupted rewrite masquerade as complete and record
      // pruning rows against a partial tree. Source batches are listed up
      // front and each one's manifest checked; any gap re-runs the rewrite
      // (writeBatch replaces per-batch output, so resuming is safe).
      val fsSrc = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      val srcBatches = fsSrc.listStatus(new org.apache.hadoop.fs.Path(path))
        .map(_.getPath.getName).filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toInt).sorted
      val committed = srcBatches.nonEmpty && srcBatches.forall(b =>
        new java.io.File(s"$mPath/_manifests/batch-$b.json").exists())
      if (!committed) {
        // Cluster each INGEST BATCH independently — the LSM-style shape
        // every append-only table format actually has (a monolithic
        // repartitionByRange of the full table shuffles the entire
        // ~330 B × 100M row payload in one job: more scratch than this
        // host's disk, and at cluster scale a needless global barrier).
        // Generated timestamps are hash-random, so every batch spans the
        // full time range and per-batch range-clustering still yields
        // narrow per-FILE spans — pruning works per batch, exactly as it
        // does for Iceberg's per-snapshot data files. 8 files per 2.5M-row
        // batch ≈ 100 MB parquet files. The rewrite reads all 90 columns
        // (the scan queries prune to 1-2), so narrow the read splits for
        // this section and restore after.
        val t1 = System.nanoTime()
        val batches = srcBatches
        val filesPerBatch = 8
        val prevSplit = spark.conf.get("spark.sql.files.maxPartitionBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", String.valueOf(16L << 20))
        // INT96 (Spark's parquet-compatibility default) carries no ordered
        // footer statistics, so row_1 bounds would lift as None and nothing
        // would ever prune — see TableFormat.footerStats. The clustered
        // tree writes micros.
        val prevTs = spark.conf.get("spark.sql.parquet.outputTimestampType")
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try {
          for (b <- batches) {
            val src = spark.read.parquet(s"$path/batch=$b")
            fmt.writeBatch(src.repartitionByRange(filesPerBatch, col("row_1")),
              mPath, b, codec, "PARQUET", Nil, Seq("row_1"))
            // nudge the ContextCleaner so finished batches' shuffle files
            // reclaim before the next batch writes its own (40 batches of
            // retained shuffle would out-size this host's scratch)
            if (b % 5 == 4) System.gc()
          }
        } finally {
          spark.conf.set("spark.sql.files.maxPartitionBytes", prevSplit)
          spark.conf.set("spark.sql.parquet.outputTimestampType", prevTs)
        }
        System.err.println(
          f"[scanbench] clustered rewrite: ${batches.length} batches x $filesPerBatch files " +
            f"in ${(System.nanoTime() - t1) / 1e9}%.1f s")
      }
      val lo = "2024-11-01 00:00:00"
      val hi = "2024-11-20 00:00:00"
      val (kept, nFiles) = fmt.planRange(spark, mPath, "row_1", Some(lo), Some(hi))
      val full = fmt.read(spark, mPath, "PARQUET")
      val pruned = fmt.readRange(spark, mPath, "PARQUET", "row_1", Some(lo), Some(hi))
      val preds: Seq[(String, DataFrame => DataFrame)] = Seq(
        "count_range_ts" -> (d => d.filter(
          col("row_1") > lit("2024-11-01").cast("timestamp") &&
          col("row_1") < lit("2024-11-20").cast("timestamp"))),
        "count_between_ts" -> (d => d.filter(col("row_1").between(
          lit("2024-11-01").cast("timestamp"), lit("2024-11-20").cast("timestamp")))))
      for ((name, pred) <- preds; (plan, src, k) <-
          Seq((full, "manifest_full", nFiles), (pruned, "manifest_pruned", kept.size))) {
        val q = pred(plan)
        (1 to warmup).foreach(_ => q.count())
        val times = (1 to iters).map { _ =>
          val s = System.nanoTime(); val c = q.count(); ((System.nanoTime() - s) / 1e9, c)
        }
        val mean = times.map(_._1).sum / iters
        println(f"""{"query":"$name","plan":"$src","sec":$mean%.4f,"mrows_per_s":${total / mean / 1e6}%.1f,"hits":${times.head._2},"rows":$total,"files_kept":$k,"files_total":$nFiles}""")
      }
    }
    spark.stop()
  }
}
