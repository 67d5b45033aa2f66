package graft.bench

import graft.LocalSession
import graft.config.Schemas
import graft.ddl.Tables
import graft.load.Loader
import graft.measure.Sizes
import graft.model.{CodecSpec, LoadPlan}
import graft.report.Report

/** End-to-end compression-bench pipeline — the Spark-native `yarn bench`
  * (reference: src/commands/bench.ts:170-324): DDL → per-variant
  * checkpointed load → optional compaction → sample row → measure → report.
  *
  * Env overrides mirror the reference's (reference: src/config/load.ts:2-18,
  * src/config/codecs.ts:3-12): TABLE_BASE, SCHEMA_KIND (wide|narrow),
  * TOTAL_ROWS, BATCH_ROWS, START_ID, CONCURRENCY, COMPACT, CHECKPOINT_DIR,
  * RESULTS_CSV, WAREHOUSE, SEED, CODECS ("zstd:6,zstd:9,snappy:0,lz4:0"),
  * INCLUDE_MANIFEST_BYTES, PLOT_DIR.
  */
object BenchMain {
  def env(k: String, d: String): String = sys.env.getOrElse(k, d)

  def parseCodecs(s: String): Seq[CodecSpec] =
    s.split(",").toSeq.filter(_.nonEmpty).map { t =>
      t.split(":") match {
        case Array(c)    => CodecSpec(c.trim, 0)
        case Array(c, l) => CodecSpec(c.trim, l.trim.toInt)
        case _           => throw new IllegalArgumentException(s"bad codec spec: $t")
      }
    }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession("graft-bench", LocalSession.cpus)
    graft.plans.CheapFirstFilterOrder.install(spark)

    val cfg0 = env("SCHEMA_KIND", "wide") match {
      case "narrow" => Schemas.narrowOrders
      case _        => Schemas.wideEvents
    }
    val cfg = cfg0.copy(tableBase = env("TABLE_BASE", cfg0.tableBase))
    val plan = LoadPlan(
      startId = env("START_ID", "1").toLong,
      totalRows = env("TOTAL_ROWS", "1000000").toLong,
      batchRows = env("BATCH_ROWS", "100000").toLong,
      concurrency = env("CONCURRENCY", "4").toInt,
      compactAfterLoad = env("COMPACT", "false").toBoolean,
      checkpointDir = env("CHECKPOINT_DIR", ".checkpoints"),
      includeManifestBytes = env("INCLUDE_MANIFEST_BYTES", "false").toBoolean,
      resultsCsv = env("RESULTS_CSV", "results_sizes.csv")
    )
    val codecs = parseCodecs(env("CODECS", "zstd:6"))
    val warehouse = env("WAREHOUSE", "warehouse")
    val seed = env("SEED", "1").toLong

    val sizes = codecs.map { c =>
      val name = Tables.variantName(cfg.tableBase, c)
      val path = Tables.variantPath(warehouse, cfg, c)
      println(s"[bench] loading $name → $path (${plan.totalRows} rows)")
      val t0 = System.nanoTime()
      // Reference declares partitioning but ships with it disabled in DDL
      // emission (tableConfig.ts:10, sqlHelpers.ts:127) — opt in via env.
      val partitioning =
        if (env("PARTITIONED", "false").toBoolean) cfg.partitioning else Nil
      val sortedBy = sys.env.get("SORT_BY").toSeq.flatMap(_.split(",")).map(_.trim)
      val ran = Loader.loadTable(spark, cfg, plan, c, path, seed,
        partitioning = partitioning, sortedBy = sortedBy)
      if (plan.compactAfterLoad) Loader.optimize(spark, path, c, cfg.format)
      println(f"[bench] $name: $ran batches in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      // sample row (reference: bench.ts:241-246)
      Tables.read(spark, path, cfg.format).drop("batch").show(1, 40, vertical = true)
      Sizes.measure(spark, name, path, c, cfg.format, plan.includeManifestBytes)
    }

    println(Report.renderTable(sizes))
    Report.writeCsv(sizes, plan.resultsCsv)
    println(s"[bench] wrote ${plan.resultsCsv}")
    sys.env.get("PLOT_DIR").foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bytes_per_row.svg"),
        Report.renderBarsSvg(sizes, "bytes per row", logScale = false, _.bytes_per_row).getBytes)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/total_data_bytes.svg"),
        Report.renderBarsSvg(sizes, "total data bytes (log)", logScale = true, _.data_bytes.toDouble).getBytes)
      println(s"[bench] wrote $dir/bytes_per_row.svg, $dir/total_data_bytes.svg")
    }
    spark.stop()
  }
}
