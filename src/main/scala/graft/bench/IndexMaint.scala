package graft.bench

import graft.LocalSession

/** Operational CLI for the persistent k-NN index
  * ([[graft.operators.KnnIndex]]) — the maintenance face a table's
  * `EXECUTE optimize` has ([[graft.load.Loader.optimize]]), for the index:
  *
  * {{{
  * sbt "runMain graft.bench.IndexMaint <indexPath> stats"
  * sbt "runMain graft.bench.IndexMaint <indexPath> compact [nLists]"
  * sbt "runMain graft.bench.IndexMaint <indexPath> build <embParquet> [nLists]"
  * }}}
  *
  * `stats` prints the one-row health summary (fragmentation, occupancy,
  * file count, tombstone backlog) a compaction policy reads; `compact`
  * runs the crash-safe fold (optionally resplitting to a new `nLists`)
  * and prints before/after stats; `build` trains a fresh generation from
  * an `(vec_id, embedding)` parquet.
  *
  * `compact` and `build` require the path quiesced — stop any
  * [[graft.operators.KnnIndex.ingestStream]] query first (the
  * single-maintainer contract on [[graft.operators.KnnIndex.compact]]). */
object IndexMaint {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: IndexMaint <indexPath> stats|compact [nLists] | build <embParquet> [nLists]")
    val (path, cmd) = (args(0), args(1))
    val spark = LocalSession("graft-indexmaint", LocalSession.cpus)
    cmd match {
      case "stats" =>
        graft.operators.KnnIndex.stats(spark, path).show(false)
      case "compact" =>
        val nLists = if (args.length > 2) args(2).toInt else 0
        println("[indexmaint] before:")
        graft.operators.KnnIndex.stats(spark, path).show(false)
        val t0 = System.nanoTime()
        graft.operators.KnnIndex.compact(spark, path, nLists)
        println(f"[indexmaint] compacted in ${(System.nanoTime() - t0) / 1e9}%.1f s; after:")
        graft.operators.KnnIndex.stats(spark, path).show(false)
      case "build" =>
        require(args.length >= 3, "build needs <embParquet>")
        val nLists = if (args.length > 3) args(3).toInt else 0
        val emb = spark.read.parquet(args(2))
        val t0 = System.nanoTime()
        graft.operators.KnnIndex.build(emb, "vec_id", "embedding", path, nLists)
        println(f"[indexmaint] built in ${(System.nanoTime() - t0) / 1e9}%.1f s:")
        graft.operators.KnnIndex.stats(spark, path).show(false)
      case other =>
        sys.error(s"unknown command: $other")
    }
    spark.stop()
  }
}
