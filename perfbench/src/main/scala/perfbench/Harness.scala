package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    out: String,
    goldens: String,
    record: Option[String],
    cores: Int)

/** Expected outputs keyed by (workload, seed, key); seed `*` marks an
  * output that does not depend on the seed. File format: one tab-separated
  * `workload seed key value` a line. */
final class Goldens(entries: Map[(String, String, String), String]) {
  def get(workload: String, seed: String, key: String): Option[String] =
    entries.get((workload, seed, key))
}

object Goldens {
  val AnySeed = "*"

  def load(path: String): Goldens = {
    val p = Paths.get(path)
    val lines = if (Files.exists(p)) Files.readAllLines(p).asScala.toSeq else Nil
    new Goldens(lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(w, s, k, v) = l.split("\t", 4)
      (w, s, k) -> v
    }.toMap)
  }
}

/** Per-run state shared by the harness and the workloads. */
final class Ctx(
    val spark: SparkSession,
    val args: Args,
    val tracer: Tracer,
    val tally: Tally,
    goldens: Goldens) {

  def seed: Long = args.seed
  def cores: Int = args.cores
  def tracing: Boolean = args.trace

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Runs one timed operation under an `op/<name>` span and returns its
    * seconds. Only the body is timed; the check runs after the clock stops. */
  def timedOp[T](name: String)(body: => T)(check: T => Option[String]): Double = {
    var dt = 0.0
    tally.op(name) {
      val t0 = System.nanoTime()
      try span("op/" + name)(body)
      finally dt = (System.nanoTime() - t0) / 1e9
    }(check)
    dt
  }

  private val firstSeen = mutable.HashMap.empty[String, String]
  /** key -> (seed column, value) of every checked output, for `--record`. */
  val recorded = mutable.LinkedHashMap.empty[String, (String, String)]

  /** Checks `actual` against the golden recorded for this seed (or for
    * every seed, when `anySeed`), else against the value first seen in this
    * run. */
  def expect(key: String, actual: Any, anySeed: Boolean = false): Option[String] = {
    val a = actual.toString
    val seedKey = if (anySeed) Goldens.AnySeed else seed.toString
    recorded(key) = (seedKey, a)
    goldens.get(args.workload, seedKey, key) match {
      case Some(g) if g != a => Some(s"$key = $a, golden $g")
      case Some(_)           => None
      case None =>
        firstSeen.get(key) match {
          case Some(f) if f != a => Some(s"$key = $a, earlier in this run $f")
          case Some(_)           => None
          case None              => firstSeen(key) = a; None
        }
    }
  }

  def workDir(name: String): String = Paths.get(args.work, name).toString

  def wipe(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
      all.foreach(Files.delete)
    }
  }
}

/** A workload: inputs built in `setup`, then closed-loop passes of ops. */
trait Workload {
  /** Wipes and builds the inputs the passes read. */
  def setup(): Unit

  /** One measured pass: (op name, seconds) for every op, in run order. */
  def pass(p: Int): Seq[(String, Double)]

  /** Stored bytes per row of the Parquet data the ops write or read. */
  def storedBytesPerRow: Double

  /** Extra layer timings run once after the measured passes of a traced run. */
  def probes(): Unit = ()

  /** Per-layer metrics from the traced passes (and probes). */
  def layerMetrics(v: TraceView): Map[String, Double]
}

/** Read-only view over a finished traced run. */
final class TraceView(val tracer: Tracer, val listener: StageListener, val tracedPasses: Set[Int],
    val cores: Int) {
  private lazy val all = tracer.spans.toSeq

  /** Spans named `name` inside traced passes. */
  def inPasses(name: String): Seq[Span] =
    all.filter(s => s.name == name && tracedPasses.contains(s.pass))

  /** Spans named `name` anywhere (set-up and probes included). */
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def medianSeconds(spans: Seq[Span]): Double =
    if (spans.isEmpty) 0.0 else Stats.median(spans.map(_.seconds))

  /** Task totals over the subtree of `s`. */
  def totals(s: Span): TaskTotals = listener.sum(tracer.subtree(s))

  /** Task run time over `cores` slots for the span's wall time. */
  def slotUtil(s: Span): Double =
    if (s.end <= s.start) 0.0 else totals(s).runMs / 1e3 / (s.seconds * cores)
}

object Harness {
  /** Unmeasured, checked passes after the input build. With only one,
    * measured pass times still fell by 10-25% over a run as the JIT warmed. */
  val WarmupPasses = 2

  /** Whether measured pass `p` of a traced run records spans. */
  def traced(p: Int): Boolean = p % 4 == 0 || p % 4 == 3

  final case class PassResult(p: Int, seconds: Double, ops: Seq[(String, Double)], gcMs: Long)

  final case class Result(
      correct: Boolean,
      attempted: Int,
      failed: Int,
      metrics: Seq[(String, Double, String)])

  /** Sets up `wl` once and warms it up, then measures it. `sessionStart` is
    * the `System.nanoTime` at which the Spark session started: set-up time
    * runs from there to the first timed op. */
  def run(ctx: Ctx, wl: Workload, listener: Option[StageListener], sessionStart: Long): Result = {
    val tracer = ctx.tracer
    tracer.pass = -1
    ctx.span("setup") {
      wl.setup()
      for (w <- 1 to WarmupPasses) wl.pass(-w)
    }
    val setupS = (System.nanoTime() - sessionStart) / 1e9
    println(f"[perfbench] set-up, from session start: $setupS%.3f s")

    // At least two passes, so that the pass time is a median. A traced run
    // traces passes in the order traced, untraced, untraced, traced, ..., so
    // that the tracing overhead is measured within one run and a steady
    // warm-up trend cancels out of it.
    val minPasses = if (ctx.tracing) 4 else 2
    Jvm.resetHeapPeak()
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val deadline = System.nanoTime() + (ctx.args.seconds * 1e9).toLong
    while (passes.size < minPasses || System.nanoTime() < deadline) {
      val p = passes.size
      tracer.pass = p
      tracer.recording = traced(p)
      val gc0 = Jvm.gcMillis
      val t0 = System.nanoTime()
      val ops = ctx.span(s"pass/$p")(wl.pass(p))
      passes += PassResult(p, (System.nanoTime() - t0) / 1e9, ops, Jvm.gcMillis - gc0)
    }
    val heapPeak = Jvm.heapPeakMb
    tracer.pass = -1
    tracer.recording = true

    val wall = passes.map(_.seconds).sum
    val medianPass = Stats.median(passes.map(_.seconds).toSeq)
    val opsPerPass = passes.head.ops.size
    val opTimes = passes.flatMap(_.ops.map(_._2)).toSeq
    val n = opTimes.size
    val p50 = Stats.median(opTimes)
    val p90 = Stats.quantile(opTimes, 0.9)
    println(f"[perfbench] ${passes.size} passes, $n ops in $wall%.3f s; passes: " +
      passes.map(r => f"${r.seconds}%.3f").mkString(", ") + " s")
    println(f"[perfbench] op_p50_s = $p50%.4f s (n=$n)")
    Stats.supportedPercentile(n) match {
      case Some(p) =>
        println(f"[perfbench] highest supported percentile: op_p${p}_s = ${Stats.quantile(opTimes, p / 100.0)}%.4f s (n=$n)")
      case None =>
        println(s"[perfbench] no percentile above the median has 10 samples beyond it (n=$n)")
    }

    val metrics: Seq[(String, Double, String)] =
      if (!ctx.tracing) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", opsPerPass / medianPass, "1/s"),
        ("op_p50_s", p50, "s"),
        ("op_p90_s", p90, "s"),
        ("stored_bytes_per_row", wl.storedBytesPerRow, "B/row"))
      else {
        ctx.span("probes")(wl.probes())
        traced(ctx, wl, listener.get, passes.toSeq, heapPeak)
      }

    val failedFrac = ctx.tally.failed.toDouble / math.max(1, ctx.tally.attempted)
    println(f"[perfbench] failed_frac = $failedFrac%.4f (${ctx.tally.failed} of ${ctx.tally.attempted} ops)")
    ctx.tally.failures.foreach(f => println(s"[perfbench] FAILED $f"))
    metrics.foreach { case (k, v, u) => println(s"[perfbench] $k = $v $u") }
    Result(ctx.tally.failed == 0, ctx.tally.attempted, ctx.tally.failed, metrics)
  }

  private def traced(ctx: Ctx, wl: Workload, listener: StageListener,
      passes: Seq[PassResult], heapPeak: Double): Seq[(String, Double, String)] = {
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    val tracer = ctx.tracer
    val tracedSet = passes.map(_.p).filter(traced).toSet
    val view = new TraceView(tracer, listener, tracedSet, ctx.cores)
    val passSpans = tracer.roots.filter(_.name.startsWith("pass/"))
    val tracedSpans = passSpans.filter(s => tracedSet.contains(s.pass))
    val windows = listener.stageWindows

    def med(f: Span => Double): Double = Stats.median(tracedSpans.map(f))
    val passByP = passes.map(r => r.p -> r).toMap
    val untracedS = passes.filterNot(r => tracedSet.contains(r.p)).map(_.seconds)
    val tracedS = passes.filter(r => tracedSet.contains(r.p)).map(_.seconds)
    val run = Seq(
      "run.task_cpu_s" -> med(s => view.totals(s).cpuNs / 1e9),
      "run.task_run_s" -> med(s => view.totals(s).runMs / 1e3),
      "run.tasks" -> med(s => view.totals(s).tasks.toDouble),
      "run.stages" -> med(s => view.totals(s).stages.toDouble),
      "run.shuffle_write_bytes" -> med(s => view.totals(s).shuffleWriteBytes.toDouble),
      "run.shuffle_read_bytes" -> med(s => view.totals(s).shuffleReadBytes.toDouble),
      "run.spill_bytes" -> med(s => view.totals(s).spillBytes.toDouble),
      "run.input_bytes" -> med(s => view.totals(s).inputBytes.toDouble),
      "run.driver_s" -> med(s => Stats.idleLength(windows, s.startMs, s.endMs) / 1e3),
      "run.gc_s" -> med(s => passByP(s.pass).gcMs / 1e3),
      "run.heap_peak_mb" -> heapPeak,
      "trace.overhead_frac" -> (Stats.median(tracedS) / Stats.median(untracedS) - 1.0))
    val layers = wl.layerMetrics(view) ++ run

    consistency(ctx, listener, passes, tracedSet)

    val unknown = layers.keySet -- Catalog.perLayer.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the catalog: ${unknown.mkString(", ")}")
    val metrics = Catalog.perLayer.map { case (k, unit, _) => (k, layers.getOrElse(k, 0.0), unit) }
    writeTrace(ctx, tracer, metrics)
    metrics
  }

  /** Every task is attributed to a span, per-span CPU sums to the
    * listener's whole-run total, and every timed op sits under exactly one
    * root span, its pass. */
  private def consistency(ctx: Ctx, listener: StageListener, passes: Seq[PassResult],
      tracedSet: Set[Int]): Unit = {
    val tracer = ctx.tracer
    ctx.tally.op("trace consistency") {
      val perRoot = tracer.roots.map(r => listener.sum(tracer.subtree(r)).cpuNs).sum
      val opSpans = tracer.spans.toSeq.filter(s => s.name.startsWith("op/") && s.pass >= 0)
      val rootsOfOps = opSpans.map(tracer.rootOf)
      val opsInTraced = passes.filter(r => tracedSet.contains(r.p)).map(_.ops.size).sum
      val opSpansInTraced = opSpans.count(s => tracedSet.contains(s.pass))
      val roots = tracer.roots.sortBy(_.start)
      val overlapping = roots.zip(roots.drop(1)).count { case (a, b) => b.start < a.end }
      println(f"[perfbench] trace: ${tracer.spans.size} spans, task CPU ${listener.total.cpuNs / 1e9}%.3f s " +
        f"whole run vs ${perRoot / 1e9}%.3f s summed over spans")
      Seq(
        (perRoot != listener.total.cpuNs) ->
          s"per-span task CPU ${perRoot} ns != whole-run ${listener.total.cpuNs} ns",
        (listener.unattributed.tasks != 0) ->
          s"${listener.unattributed.tasks} tasks ran outside every span",
        rootsOfOps.zip(opSpans).exists { case (r, o) => r.name != s"pass/${o.pass}" } ->
          "a measured op span is not under its pass",
        (opSpansInTraced != opsInTraced) ->
          s"$opSpansInTraced op spans in traced passes for $opsInTraced timed ops",
        (overlapping != 0) -> s"$overlapping root spans overlap"
      ).collect { case (true, m) => m }
    }(errs => if (errs.isEmpty) None else Some(errs.mkString("; ")))
  }

  private def writeTrace(ctx: Ctx, tracer: Tracer, metrics: Seq[(String, Double, String)]): Unit = {
    val spans = tracer.spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"pass":${s.pass},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }
    val ms = metrics.map { case (k, v, u) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    val body = s"""{"workload":${Json.str(ctx.args.workload)},"seed":${ctx.seed},""" +
      s""""per_layer":{${ms.mkString(",")}},"spans":[${spans.mkString(",\n")}]}"""
    val f = Paths.get(ctx.args.out, s"trace-${ctx.args.workload}-seed${ctx.seed}.json")
    Files.createDirectories(f.getParent)
    Files.write(f, (body + "\n").getBytes(StandardCharsets.UTF_8))
    println(s"[perfbench] spans and per-layer metrics written to ${ctx.args.out}/${f.getFileName}")
  }

  def writeRecorded(ctx: Ctx, file: String): Unit = {
    val lines = ctx.recorded.map { case (k, (s, v)) => s"${ctx.args.workload}\t$s\t$k\t$v\n" }.mkString
    Files.write(Paths.get(file), lines.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
