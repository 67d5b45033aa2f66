package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one Spark session on
  * `local[cores]`. Prints human-readable lines, then the result object on
  * the last line behind the `PERFBENCH_RESULT ` prefix. Exits 1 when any
  * output check failed.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <scratch dir> --out <result dir> --goldens <file> --cores <n>
  *   [--record <file>]
  * }}}
  */
object Main {

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = need("work"),
      out = need("out"),
      goldens = need("goldens"),
      record = kv.get("record"),
      cores = need("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val sessionStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(args.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(args.work, "spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.CheapFirstFilterOrder.install(spark)

    val code =
      try {
        val listener = if (args.trace) Some(new StageListener) else None
        listener.foreach(spark.sparkContext.addSparkListener)
        val ctx = new Ctx(spark, args, new Tracer(spark.sparkContext, args.trace), new Tally,
          Goldens.load(args.goldens))
        val result = Harness.run(ctx, Workloads(ctx), listener, sessionStart)
        args.record.foreach(f => Harness.writeRecorded(ctx, f))
        val metrics = result.metrics.map { case (k, v, u) =>
          s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
        }
        val line = s"""{"correct":${result.correct},"attempted":${result.attempted},""" +
          s""""failed":${result.failed},"metrics":{${metrics.mkString(",")}}}"""
        val out = Paths.get(args.out,
          s"${args.workload}-seed${args.seed}${if (args.trace) "-trace" else ""}.json")
        Files.createDirectories(out.getParent)
        Files.write(out, (line + "\n").getBytes(StandardCharsets.UTF_8))
        println("PERFBENCH_RESULT " + line)
        if (result.correct) 0 else 1
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally spark.stop()
    System.exit(code)
  }
}
