package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Self-tests of the harness arithmetic and bookkeeping. Needs no Spark
  * session. Run with `python3 perfbench/build.py --selftest`; the arguments
  * are the path of BENCHMARK.json and a scratch directory. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    if (ok) passed += 1 else { failures += 1; println(s"FAIL $name") }
  }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(argv: Array[String]): Unit = {
    percentiles()
    intervals()
    rowHashes()
    failureCounting(Paths.get(argv(1)))
    catalogMatches(argv(0))
    println(s"perfbench self-test: $passed passed, $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }

  private def percentiles(): Unit = {
    val xs = (1 to 11).map(_.toDouble)
    check("median of 1..11 is 6")(near(Stats.median(xs), 6.0))
    check("median of an even sample interpolates")(near(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5))
    check("p90 of 1..11 is 10")(near(Stats.quantile(xs, 0.9), 10.0))
    check("quantile ignores input order")(
      near(Stats.quantile(xs.reverse, 0.25), Stats.quantile(xs, 0.25)))
    check("single sample is every quantile")(near(Stats.quantile(Seq(7.0), 0.9), 7.0))
    check("100 samples support p90")(Stats.supportedPercentile(100).contains(90))
    check("33 samples support p69")(Stats.supportedPercentile(33).contains(69))
    check("20 samples support only the median")(Stats.supportedPercentile(20).contains(50))
    check("19 samples support nothing above the median")(Stats.supportedPercentile(19).isEmpty)
    check("percentile caps at p99")(Stats.supportedPercentile(100000).contains(99))
    check("no samples, no percentile")(Stats.supportedPercentile(0).isEmpty)
    check("traced passes run traced, untraced, untraced, traced")(
      (0 until 8).map(Harness.traced) == Seq(true, false, false, true, true, false, false, true))
  }

  private def intervals(): Unit = {
    check("disjoint intervals add up")(Stats.coveredLength(Seq((0L, 10L), (20L, 30L)), 0, 100) == 20)
    check("overlapping intervals count once")(Stats.coveredLength(Seq((0L, 10L), (5L, 15L)), 0, 100) == 15)
    check("nested intervals count once")(Stats.coveredLength(Seq((0L, 50L), (10L, 20L)), 0, 100) == 50)
    check("intervals clip to the window")(Stats.coveredLength(Seq((-10L, 10L), (90L, 200L)), 0, 100) == 20)
    check("intervals outside the window count zero")(Stats.coveredLength(Seq((200L, 300L)), 0, 100) == 0)
    check("unsorted input")(Stats.coveredLength(Seq((50L, 60L), (0L, 10L), (5L, 55L)), 0, 100) == 60)
    check("touching intervals")(Stats.coveredLength(Seq((0L, 10L), (10L, 20L)), 0, 100) == 20)
    check("driver time is the window minus stage time")(
      Stats.idleLength(Seq((10L, 40L), (30L, 60L), (80L, 90L)), 0, 100) == 40)
    check("no stages: the whole window is driver time")(Stats.idleLength(Nil, 100, 350) == 250)
    check("empty window")(Stats.idleLength(Seq((0L, 10L)), 5, 5) == 0)
  }

  private def rowHashes(): Unit = {
    import org.apache.spark.sql.Row
    val rows = Seq(Row(1L, "a", 0.1), Row(2L, "b", 0.2), Row(3L, null, 0.30000000000000004))
    def sum(rs: Seq[Row]) = rs.map(r => BigInt(RowHash.of(r))).sum
    check("the content hash ignores row order")(sum(rows) == sum(rows.reverse))
    check("a changed value changes the hash")(sum(rows) != sum(rows.updated(2, Row(3L, null, 0.3))))
    check("a repeated row counts twice")(sum(rows :+ rows.head) != sum(rows))
    check("field boundaries are part of the hash")(
      RowHash.of(Row("a,b", "c")) != RowHash.of(Row("a", "b,c")))
    check("arrays and structs are hashed by value")(
      RowHash.of(Row(Seq(1.0f, 2.0f), Row(1L))) == RowHash.of(Row(Vector(1.0f, 2.0f), Row(1L))))
    check("timestamps are hashed by instant")(
      RowHash.canonical(new java.sql.Timestamp(0L)) == "ts:1970-01-01T00:00:00Z")
  }

  private def failureCounting(scratch: java.nio.file.Path): Unit = {
    val t = new Tally
    val good = t.op("good")(41 + 1)(v => if (v == 42) None else Some("wrong"))
    check("a correct op returns its value")(good.contains(42))
    val thrown = t.op[Int]("throws")(throw new IllegalStateException("boom"))(_ => None)
    check("a throwing op returns nothing")(thrown.isEmpty)
    val badCheck = t.op("check throws")(1)(_ => throw new RuntimeException("x"))
    check("a throwing check keeps the value")(badCheck.contains(1))
    check("throwing body and throwing check both count")(t.attempted == 3 && t.failed == 2)

    // an injected wrong hash is a counted failure, not a crash
    val dir = Files.createDirectories(scratch)
    val goldens = dir.resolve("goldens.tsv")
    Files.write(goldens, Seq("pipeline_sf001\t*\tq01.hash\t12345", "pipeline_sf001\t7\tq01.rows\t6").asJava)
    val args = Args("pipeline_sf001", 7L, 1.0, trace = false, dir.toString, dir.toString,
      goldens.toString, None, 1)
    val tally = new Tally
    val ctx = new Ctx(null, args, null, tally, Goldens.load(goldens.toString))
    tally.op("q01")((6L, "99999"))(r =>
      ctx.expect("q01.rows", r._1).orElse(ctx.expect("q01.hash", r._2, anySeed = true)))
    check("a wrong hash counts as a failure")(tally.attempted == 1 && tally.failed == 1)
    check("the failure names the key")(tally.failures.exists(_.contains("q01.hash")))
    tally.op("q01 again")((6L, "12345"))(r =>
      ctx.expect("q01.rows", r._1).orElse(ctx.expect("q01.hash", r._2, anySeed = true)))
    check("a matching hash passes")(tally.failed == 1 && tally.attempted == 2)
    check("without a golden, the first value seen is expected")(
      ctx.expect("other", 5).isEmpty && ctx.expect("other", 5).isEmpty && ctx.expect("other", 6).nonEmpty)
    Files.delete(goldens)
    Files.delete(dir)
  }

  private def catalogMatches(benchmarkJson: String): Unit = {
    val root = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(benchmarkJson)))
    val declared = root.get("per_layer").elements().asScala
      .map(m => (m.get("name").asText, m.get("unit").asText, m.get("better").asText)).toSeq
    check("BENCHMARK.json per_layer matches the catalog")(declared == Catalog.perLayer)
    val workloads = root.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    check("BENCHMARK.json workloads match the catalog")(workloads == Catalog.Workloads)
  }
}
