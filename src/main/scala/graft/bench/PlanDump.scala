package graft.bench

import java.nio.file.{Files, Paths}

import graft.{LocalSession, SparkEntry}

/** Dumps `.explain("formatted")` for declared queries to one file per query —
  * the plan evidence the optimization rounds commit under `plans/rNN/`.
  * Not part of the benchmark protocol; a documentation tool.
  *
  * Usage: `runMain graft.bench.PlanDump <outDir> [suffix] [q...]`
  *   - `outDir`: directory for the `<query><suffix>.txt` files
  *   - `suffix`: e.g. `_before` / `_after` (default empty)
  *   - `q...`: query names; default = the Bench headline set
  *
  * Session config matches [[graft.Bench]] (same master/shuffle-partition/AQE
  * settings, see [[graft.LocalSession]]) so under the same
  * `SPARK_GRAFT_CPUS` the dumped plan is the benched plan. AQE plans print
  * `isFinalPlan=false` — this is the static plan before runtime
  * re-optimization; exchange counts and join strategies are decided here.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r15")
    val suffix = if (args.length > 1) args(1) else ""
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names: Seq[String] =
      if (args.length > 2) args.drop(2).toSeq
      else Seq(
        "q01_pricing_summary", "q02_count_eq", "q03_count_ts_range", "q04_count_like",
        "q05_count_composite", "q06_select_limit", "q07_join_agg", "q10_window_topn",
        "q13_topk", "q15_dedup_exact", "q16_token_stats", "q18_langid", "q20_sessionize",
        "q21_minhash_pairs", "q23_ngram_pairs", "q24_cosine_topk", "q36_tfidf", "q37_bm25")
    val spark = LocalSession("graft-plandump", LocalSession.cpus)
    Files.createDirectories(Paths.get(outDir))
    names.filter(SparkEntry.queries.contains).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/$name$suffix.txt")
    }
    spark.stop()
  }
}
