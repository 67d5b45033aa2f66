package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.config.Schemas
import graft.ddl.Tables
import graft.gen.Generator
import graft.load.Loader
import graft.measure.Sizes
import graft.model.{CodecSpec, LoadPlan, SizeRow, TableConfig}
import graft.report.Report

object Workloads {
  def apply(ctx: Ctx): Workload = ctx.args.workload match {
    case "load_codecs"   => new LoadCodecs(ctx)
    case "pipeline_sf001" => new PipelineSf(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

final case class Variant(name: String, cfg: TableConfig, codec: CodecSpec, rows: Long)

/** The reference's `yarn bench` pipeline: load each codec variant through
  * `Loader.loadTable`, size it with `Sizes.measure`, then render the report.
  * One op is one variant (load + measure). Every pass starts from an empty
  * warehouse and checkpoint directory. */
final class LoadCodecs(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val wh = ctx.workDir("load")
  private val BatchRows = 4000L
  private val Concurrency = 4
  private val NarrowRows = 20000L
  private val WideRows = 8000L

  private val narrow = Schemas.narrowOrders
  private val wide = Schemas.wideEvents
  val variants: Seq[Variant] = Seq(
    Variant("narrow-zstd1", narrow, CodecSpec("zstd", 1), NarrowRows),
    Variant("narrow-zstd6", narrow, CodecSpec("zstd", 6), NarrowRows),
    Variant("narrow-snappy", narrow, CodecSpec("snappy", 0), NarrowRows),
    Variant("narrow-lz4", narrow, CodecSpec("lz4", 0), NarrowRows),
    Variant("narrow-gzip", narrow, CodecSpec("gzip", 0), NarrowRows),
    Variant("wide-zstd6", wide, CodecSpec("zstd", 6), WideRows))

  private def plan(v: Variant) = LoadPlan(startId = 1L, totalRows = v.rows, batchRows = BatchRows,
    concurrency = Concurrency, checkpointDir = s"$wh/.checkpoints")
  private def path(v: Variant) = Tables.variantPath(wh, v.cfg, v.codec)
  private def plannedBatches(v: Variant) = Loader.makeBatches(1L, v.rows, BatchRows).size

  /** Non-hidden data files under `dir` (what a scan splits over). */
  private def dataFiles(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.count { p =>
      Files.isRegularFile(p) &&
        root.relativize(p).iterator().asScala.forall(c => !c.toString.startsWith("_") && !c.toString.startsWith("."))
    }.toLong
  }

  private def firstError(checks: (Boolean, String)*): Option[String] =
    checks.collectFirst { case (true, m) => m }

  private val lastSizes = mutable.LinkedHashMap.empty[String, SizeRow]
  private val lastBatches = mutable.HashMap.empty[String, Int]

  private def loadPass(): Seq[(String, Double)] = {
    ctx.wipe(wh)
    val ops = variants.map { v =>
      v.name -> ctx.timedOp(v.name) {
        // Variants load one at a time: Tables.applyCodecConf writes the zstd
        // level into the session-wide Hadoop configuration.
        val batches = ctx.span(s"load.loadTable/${v.name}") {
          Loader.loadTable(spark, v.cfg, plan(v), v.codec, path(v), seed = ctx.seed, quiet = true)
        }
        val size = ctx.span(s"measure.measure/${v.name}") {
          Sizes.measure(spark, Tables.variantName(v.cfg.tableBase, v.codec), path(v), v.codec,
            v.cfg.format)
        }
        (batches, size)
      } { case (batches, size) =>
        lastSizes(v.name) = size
        lastBatches(v.name) = batches
        // a stale checkpoint turns loadTable into a no-op that returns 0
        firstError(
          (batches != plannedBatches(v)) -> s"$batches batches executed, plan has ${plannedBatches(v)}",
          (size.rows != v.rows) -> s"${size.rows} rows, plan has ${v.rows}",
          (v.name == "narrow-zstd6" && lastSizes.get("narrow-zstd1").exists(_.data_bytes == size.data_bytes)) ->
            "zstd:1 and zstd:6 wrote identical byte counts: the level did not reach the writer"
        ).orElse(ctx.expect(s"${v.name}.data_bytes", size.data_bytes))
      }
    }
    val rows = variants.flatMap(v => lastSizes.get(v.name)).toSeq
    val csv = ctx.workDir("report/results_sizes.csv")
    ctx.span("report") {
      Report.renderTable(rows)
      Report.writeCsv(rows, csv)
      Report.renderBarsSvg(rows, "bytes per row", logScale = false, _.bytes_per_row)
      Report.renderBarsSvg(rows, "total data bytes (log)", logScale = true, _.data_bytes.toDouble)
    }
    ctx.tally.op("report")(Report.readCsv(csv)) { back =>
      val want = Report.sorted(rows).map(r => (r.table_name, r.rows, r.data_bytes))
      if (back.map(r => (r.table_name, r.rows, r.data_bytes)) == want) None
      else Some("CSV read back differs from the measured sizes")
    }
    ops
  }

  def setup(): Unit = ()
  def pass(p: Int): Seq[(String, Double)] = loadPass()
  def storedBytesPerRow: Double =
    lastSizes.values.map(_.data_bytes).sum.toDouble / lastSizes.values.map(_.rows).sum

  override def probes(): Unit = {
    for ((kind, cfg, rows) <- Seq(("narrow", narrow, NarrowRows), ("wide", wide, WideRows)); _ <- 1 to 3) {
      val parts = Loader.makeBatches(1L, rows, BatchRows).size
      ctx.span(s"gen.generate/$kind") {
        Generator.generate(spark, cfg, 1L, rows, ctx.seed, numPartitions = Some(parts))
          .write.format("noop").mode("overwrite").save()
      }
    }
    for (v <- variants) {
      val batch = Generator.generate(spark, v.cfg, 1L, BatchRows, ctx.seed).persist()
      ctx.span("probe.cache")(batch.count())
      for (_ <- 1 to 3)
        ctx.span(s"ddl.writeBatch/${v.name}") {
          Tables.writeBatch(batch, s"$wh/probe/${v.name}", 0, v.codec, v.cfg.format)
        }
      batch.unpersist(blocking = true)
    }
  }

  def layerMetrics(view: TraceView): Map[String, Double] = {
    val perVariant = variants.flatMap { v =>
      val loads = view.inPasses(s"load.loadTable/${v.name}")
      Seq(
        s"load.table_s.${v.name}" -> view.medianSeconds(loads),
        s"load.batches.${v.name}" -> lastBatches.getOrElse(v.name, 0).toDouble,
        s"load.slot_util.${v.name}" -> (if (loads.isEmpty) 0.0 else Stats.median(loads.map(view.slotUtil))),
        s"measure.s.${v.name}" -> view.medianSeconds(view.inPasses(s"measure.measure/${v.name}")),
        s"ddl.write_s.${v.name}" -> view.medianSeconds(view.named(s"ddl.writeBatch/${v.name}")),
        s"ddl.data_bytes.${v.name}" -> lastSizes.get(v.name).fold(0.0)(_.data_bytes.toDouble),
        s"ddl.files.${v.name}" -> dataFiles(path(v)).toDouble)
    }
    (perVariant ++ Seq(
      "report.s" -> view.medianSeconds(view.inPasses("report")),
      "gen.noop_s.narrow" -> view.medianSeconds(view.named("gen.generate/narrow")),
      "gen.noop_s.wide" -> view.medianSeconds(view.named("gen.generate/wide")))).toMap
  }
}

/** The 18 headline `SparkEntry.queries`, plus `q53_select_latemat`, over
  * generated TPC-H-ish, event and corpus tables written through
  * `Tables.writeBatch` at zstd:6. One op runs a query, collects its output
  * and reduces it to a row count and an order-insensitive content hash,
  * which must equal the goldens; the inputs do not depend on the seed, so
  * neither do the goldens. The seed shuffles the query order of every pass. */
final class PipelineSf(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val dir = ctx.workDir("sf")
  private val Sf = 0.01
  private val rows = SfData.rows(Sf)
  private val queries = Catalog.PipelineQueries
  private var bytes = 0L

  def setup(): Unit = {
    ctx.wipe(dir)
    ctx.tally.op("write inputs") {
      SfData.write(spark, dir, Sf, SfData.DataSeed)(body => ctx.span("ddl.writeBatch/input")(body))
    } { written =>
      bytes = written
      if (written > 0) None else Some("no input bytes written")
    }
  }

  /** (rows, Σ of per-row hashes): runs the query's own plan to the end and
    * hashes its output on the driver, independent of row order. Outputs are
    * at most a few thousand rows. */
  private def contentHash(df: DataFrame): (Long, String) = {
    val rows = df.collect()
    (rows.length.toLong, rows.iterator.map(r => RowHash.of(r)).foldLeft(BigInt(0))(_ + _).toString)
  }

  def pass(p: Int): Seq[(String, Double)] = {
    val order = new scala.util.Random(ctx.seed * 1000003L + p).shuffle(queries)
    order.map { q =>
      q -> ctx.timedOp(q)(contentHash(SparkEntry.queries(q)(spark, dir))) { case (n, h) =>
        ctx.expect(s"$q.rows", n, anySeed = true).orElse(ctx.expect(s"$q.hash", h, anySeed = true))
      }
    }
  }

  def storedBytesPerRow: Double = bytes.toDouble / rows.values.sum

  def layerMetrics(view: TraceView): Map[String, Double] =
    queries.map(q => s"pipeline.${q}_s" -> view.medianSeconds(view.inPasses("op/" + q))).toMap
}
