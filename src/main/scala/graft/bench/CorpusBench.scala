package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.LocalSession
import graft.operators.{ConnectedComponents, Contamination, Dedup, Rank, Similarity, TextOps, ZOrder}

/** Corpus-scale benchmark for the LLM-pipeline operators (minhash, ngram
  * Jaccard, dedup clustering, decontamination) at 10×–100× the sf0.1
  * document count — the scales where formulation choices (posting-list
  * aggregate vs inverted-index join, hash vs sort aggregation) actually
  * separate. The driver's per-round bench only sees ~5k docs; this main
  * records the off-paper evidence that the chosen plans hold.
  *
  * The corpus is a pure function of (doc_id): documents are 50–200 words
  * drawn Zipf-style (u³-warped uniform) from a 30k-word vocabulary, and
  * every 20-id block plants a 3-member near-dup group (shared body from the
  * block base id, distinct first token per replica) so dedup operators have
  * real positives at every scale. Deterministic → any two runs, any
  * partitioning, produce the identical corpus; generation cost is excluded
  * by materializing to parquet first and timing reads of that.
  *
  * Protocol mirrors the reference's micro-bench scaffold (warmup then
  * measured iterations, reference: bench/config.json:10-11) with the
  * headline = min over iterations, same contention-robust estimator as
  * [[graft.Bench]]. Each op also records total shuffle write and spill
  * bytes from a task-metrics listener — the numbers that predict 100 TB
  * behavior better than local wall-clock.
  *
  * Env: CORPUS_DOCS="50000,500000" (doc counts), CORPUS_DIR (parquet
  * staging), CORPUS_OUT (JSONL artifact path), BENCH_WARMUP/BENCH_ITERS,
  * CORPUS_OPS (comma-separated op-name filter; default all — lets a changed
  * operator re-record its rows without re-running the whole grid).
  *
  * Run at the DEFAULT fork heap (8 GB): a 48 GB heap measured 3-6× slower
  * on every operator here (G1 with an oversized heap and 32 local tasks) —
  * memory pressure is answered by the operators' own spill discipline, not
  * by heap. All recorded artifacts use the default.
  *
  * Grid JSONL conventions: append-only, newest row per (op, n_docs, config)
  * wins. When a FIX re-lands a measured point (not a mere re-run), the
  * obsoleted rows are annotated in place with `"superseded":true` so a
  * one-row read can't mistake a pre-fix figure (e.g. a since-eliminated
  * spill) for current behavior; failure rows carry `error`/`cause`/
  * `cause_msg`, and rows measured under a non-protocol heap label
  * themselves with `"heap"`.
  */
object CorpusBench {

  /** Sums shuffle-write and spill bytes across all tasks since creation. */
  final class ShuffleTally extends SparkListener {
    val written = new AtomicLong
    val spilled = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Deterministic synthetic corpus: (doc_id, text). */
  def corpus(spark: SparkSession, nDocs: Long): DataFrame = {
    val parts = math.max(spark.sparkContext.defaultParallelism,
      (nDocs / 50000L).toInt)
    val groupPos = pmod(col("doc_id"), lit(20L))
    val base = when(groupPos < 3, col("doc_id") - groupPos).otherwise(col("doc_id"))
    val len = (pmod(xxhash64(base, lit("len")), lit(151L)) + lit(50L)).cast("int")
    // Zipf-ish draw: u ∈ [0,1) per (base, position), index = floor(u³ · V) —
    // cubing piles mass near word 0, giving the hot-shingle head that the
    // posting cap and frequency gates exist for.
    val words = transform(sequence(lit(1), len), i => {
      val u = pmod(xxhash64(base, i), lit(1000000L)).cast("double") / 1e6
      concat(lit("w"), floor(pow(u, 3.0) * 30000).cast("long"))
    })
    spark.range(0, nDocs, 1, parts).toDF("doc_id")
      .select(col("doc_id"),
        array_join(concat(array(concat(lit("r"), groupPos)), words), " ").as("text"))
  }

  /** Deterministic synthetic embeddings: (vec_id, embedding float[64]),
    * uniform in [-1, 1) per dimension; the same every-20-id 3-member
    * near-dup groups as [[corpus]] — replicas share the block-base vector
    * plus per-replica noise of ±0.01 per dimension (cosine ≥ 0.999), so
    * near-dup and k-NN operators have planted positives at every scale. */
  def embCorpus(spark: SparkSession, nVecs: Long, dims: Int = 64): DataFrame = {
    val parts = math.max(spark.sparkContext.defaultParallelism,
      (nVecs / 100000L).toInt)
    val groupPos = pmod(col("vec_id"), lit(20L))
    val base = when(groupPos < 3, col("vec_id") - groupPos).otherwise(col("vec_id"))
    val vec = transform(sequence(lit(0), lit(dims - 1)), i => {
      val u = pmod(xxhash64(base, i), lit(2000001L)).cast("double") / 1e6 - 1.0
      val noise = when(groupPos < 3,
        (pmod(xxhash64(col("vec_id"), i, lit("n")), lit(21L)).cast("double") - 10.0) / 1000.0)
        .otherwise(lit(0.0))
      (u + noise).cast("float")
    })
    spark.range(0, nVecs, 1, parts).toDF("vec_id")
      .select(col("vec_id"), vec.as("embedding"))
  }

  /** Short-string corpus for the edit-distance family: ~21–33-char
    * letter-alphabet pseudo-titles — the operator's actual domain (titles /
    * names / headers), where the trigram space is rich enough to block on.
    * (The 40-char prefixes of [[corpus]] are measured to be DEGENERATE for
    * char-trigram blocking at 500k: their alphabet is `w`+digits+space, ~2.2k
    * possible trigrams, so every trigram's df crosses the [2, cap] gate and
    * recall collapses to zero — that measurement stays in the grid as the
    * documented alphabet-floor failure mode.)
    *
    * Planted structure at every scale: positions 0,1 of each 20-id block
    * share a title with ONE substituted char (edit distance 1 — the
    * recall-measurable positives, N/20 pairs); ~30% of titles carry the
    * stock prefix "re: " (the hot-trigram mass the df gate must drop). */
  def titleCorpus(spark: SparkSession, nDocs: Long): DataFrame = {
    val parts = math.max(spark.sparkContext.defaultParallelism,
      (nDocs / 100000L).toInt)
    val groupPos = pmod(col("doc_id"), lit(20L))
    val base = when(groupPos < 2, col("doc_id") - groupPos).otherwise(col("doc_id"))
    val len = (pmod(xxhash64(base, lit("len")), lit(13L)) + lit(21L)).cast("int")
    val body = transform(sequence(lit(1), len), i => {
      val h = pmod(xxhash64(base, lit("c"), i), lit(31L))
      // position 3 of the second replica flips to a digit — never a letter
      // or space, so the planted pair's distance is exactly 1
      when(col("doc_id") =!= base && i === 3, lit("0"))
        .otherwise(when(h < 26, chr(lit(97) + h)).otherwise(lit(" ")))
    })
    val hot = pmod(xxhash64(base, lit("hot")), lit(10L)) < 3
    spark.range(0, nDocs, 1, parts).toDF("doc_id")
      .select(col("doc_id"),
        concat(when(hot, lit("re: ")).otherwise(lit("")),
          array_join(body, "")).as("text"))
  }

  /** Deterministic synthetic 64-bit perceptual-hash corpus for the banded
    * near-dup join at signature scale: positions 0,1,2 of each 20-id block
    * share the block's base hash with 0 / 1 / 2 disjoint bit flips
    * (pairwise Hamming ≤ 3 — inside the bands=4 pigeonhole guarantee), so
    * planted recall is measurable without decoding any media; everything
    * else is an independent xxhash64 draw. */
  def hashCorpus(spark: SparkSession, n: Long): DataFrame = {
    val parts = math.max(spark.sparkContext.defaultParallelism,
      (n / 500000L).toInt)
    val groupPos = pmod(col("id"), lit(20L))
    val base = when(groupPos < 3, col("id") - groupPos).otherwise(col("id"))
    val b1 = pmod(xxhash64(base, lit("b1")), lit(64L)).cast("int")
    val b2 = pmod(xxhash64(base, lit("b2")), lit(63L)).cast("int")
    val b3 = pmod(xxhash64(base, lit("b3")), lit(62L)).cast("int")
    // three DISTINCT flip positions via collision-free remapping
    val f1 = b1
    val f2 = when(b2 >= f1, b2 + 1).otherwise(b2)
    val f3p = when(b3 >= least(f1, f2), b3 + 1).otherwise(b3)
    val f3 = when(f3p >= greatest(f1, f2), f3p + 1).otherwise(f3p)
    spark.range(0, n, 1, parts).toDF("id")
      .select(col("id"), pmod(col("id"), lit(20L)).as("gp"),
        xxhash64(base, lit("h")).as("bh"),
        f1.as("f1"), f2.as("f2"), f3.as("f3"))
      .select(col("id"), expr(
        "CASE WHEN gp = 1 THEN bh ^ shiftleft(1L, f1) " +
          "WHEN gp = 2 THEN bh ^ shiftleft(1L, f2) ^ shiftleft(1L, f3) " +
          "ELSE bh END").as("hash"))
  }

  /** Deterministic synthetic REAL-PNG image corpus: 32×24 block-pattern
    * images whose content derives from the 20-id block base, with replicas
    * (positions 0,1,2) brightness-shifted copies — dHash is gradient-based,
    * so the planted copies collide exactly while distinct bases differ.
    * Encoding runs in executors (javax.imageio, ~1 KB PNGs). */
  def imageCorpus(spark: SparkSession, n: Long): org.apache.spark.sql.Dataset[
      graft.multimodal.Multimodal.MediaRow] = {
    import spark.implicits._
    val parts = math.max(spark.sparkContext.defaultParallelism,
      (n / 100000L).toInt)
    spark.range(0, n, 1, parts).map { id =>
      val idL: Long = id
      val groupPos = (idL % 20).toInt
      val base: Long = if (groupPos < 3) idL - groupPos else idL
      val shift = if (groupPos < 3) groupPos * 10 else 0
      val im = new java.awt.image.BufferedImage(32, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 24) {
        var x = 0
        while (x < 32) {
          // 8×8 cells of block-derived luminance + per-replica brightness
          val h = scala.util.hashing.MurmurHash3.productHash(
            (base, x / 8, y / 8))
          val l = math.min(235, math.abs(h % 200) + shift)
          im.setRGB(x, y, (l << 16) | (l << 8) | l)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      graft.multimodal.Multimodal.MediaRow(id, "image", bos.toByteArray,
        Some(32), Some(24), None)
    }
  }

  /** Deterministic synthetic REAL-WAV audio corpus: 0.1 s of 8 kHz mono
    * 16-bit PCM per row, a block-derived multi-tone envelope; replicas are
    * GAIN-scaled copies (×1.0 / ×0.7 / ×0.4) — the energy-envelope hash is
    * gain-invariant, so planted copies collide while distinct bases
    * differ. */
  def audioCorpus(spark: SparkSession, n: Long): org.apache.spark.sql.Dataset[
      graft.multimodal.Multimodal.MediaRow] = {
    import spark.implicits._
    val parts = math.max(spark.sparkContext.defaultParallelism,
      (n / 100000L).toInt)
    spark.range(0, n, 1, parts).map { id =>
      val idL: Long = id
      val groupPos = (idL % 20).toInt
      val base: Long = if (groupPos < 3) idL - groupPos else idL
      val gain = if (groupPos < 3) 1.0 - groupPos * 0.3 else 1.0
      val rate = 8000f
      val nFrames = 800
      val rng = new scala.util.Random(base)
      val f1 = 200 + rng.nextInt(1800)
      val f2 = 200 + rng.nextInt(1800)
      val data = new Array[Byte](nFrames * 2)
      var i = 0
      while (i < nFrames) {
        val t = i / rate
        // block-derived envelope: two tones with a mid-clip amplitude step
        val env = if ((i * 8 / nFrames) % 2 == rng.nextInt(2)) 0.9 else 0.3
        val x = gain * env * (math.sin(2 * math.Pi * f1 * t) * 0.6 +
          math.sin(2 * math.Pi * f2 * t) * 0.4)
        val s = math.max(-32767, math.min(32767, (x * 20000).toInt)).toShort
        data(2 * i) = (s & 0xff).toByte
        data(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, nFrames),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      graft.multimodal.Multimodal.MediaRow(id, "audio", bos.toByteArray,
        None, None, Some(100L))
    }
  }

  /** Deterministic synthetic event stream for the sessionization / rolling
    * window grid rows: (event_id, user_id, us, event_type). Users own 50
    * consecutive event ids each (n/50 users — high-cardinality partition
    * key at every scale); within a user, event k fires at
    * `k·20min + jitter(event_id) mod 20min`, so consecutive gaps are
    * uniform in (0, 40) minutes and ~12.5% of them cross the 30-minute
    * session boundary — multi-event sessions with real breaks at every
    * scale. Event types draw from a 6-value enum. */
  def eventCorpus(spark: SparkSession, nEvents: Long): DataFrame = {
    val parts = math.max(spark.sparkContext.defaultParallelism,
      (nEvents / 100000L).toInt)
    val pos = pmod(col("event_id"), lit(50L))
    val jitter = pmod(xxhash64(col("event_id"), lit("j")), lit(1200000000L))
    val types = Seq("view", "click", "search", "cart", "buy", "share")
    val typeIdx = pmod(xxhash64(col("event_id"), lit("t")), lit(types.size.toLong))
    spark.range(0, nEvents, 1, parts).toDF("event_id")
      .select(col("event_id"),
        (col("event_id") / 50L).cast("long").as("user_id"),
        (pos * 1200000000L + jitter).as("us"),
        element_at(
          array(types.map(lit): _*), (typeIdx + 1).cast("int")).as("event_type"))
  }

  def main(args: Array[String]): Unit = {
    val sizes = sys.env.getOrElse("CORPUS_DOCS", "50000").split(",").map(_.trim.toLong)
    val cpus = LocalSession.cpus
    val stageDir = sys.env.getOrElse("CORPUS_DIR", "/tmp/graft_corpus")
    val outPath = sys.env.getOrElse("CORPUS_OUT", "docs/corpusbench_local32.jsonl")
    val warmup = sys.env.getOrElse("BENCH_WARMUP", "1").toInt
    val iters = sys.env.getOrElse("BENCH_ITERS", "2").toInt
    // SHUFFLE_PARTS: override the shuffle partition count (default = cpus).
    // Measured caveat: the window-aggregate spill does NOT shrink with more
    // local partitions (dup_spans@500k: 16.7 GB at 32 parts, 19.0 GB at
    // 256) — the state sits in the map-side PARTIAL aggregate, whose
    // total per-JVM size is cardinality-bound; on a real cluster that
    // state divides across executors, not partitions
    val shuffleParts = sys.env.getOrElse("SHUFFLE_PARTS", cpus.toString)
    val spark = LocalSession("graft-corpusbench", cpus,
      "spark.sql.shuffle.partitions" -> shuffleParts,
      // the vector-attach broadcast (Similarity.scoredCandidates, raised
      // 2 GB gate) collects the vector table through the driver; the 1 GB
      // maxResultSize default aborts that collect at 5M × 64d (1.8 GB)
      // even though the 8 GB heap holds it comfortably
      "spark.driver.maxResultSize" -> "4g",
      // scan split size bounds the map side of the first exchange: a
      // 128 MB split explodes/ships ~2× its bytes through the shuffle
      // writer, over a task's execution-memory share at 32 concurrent
      // tasks on the 8 GB fork heap (measured: 5.6 GB of writer spill on
      // the 5M-doc widen exchange). 32 MB splits keep map output inside
      // the share at any corpus size; at cluster scale the same knob is
      // per-executor-memory, not per-corpus.
      "spark.sql.files.maxPartitionBytes" -> String.valueOf(32L << 20))
    // declared pair budget for the pair-MATERIALIZING editdist path: on
    // this host set it to ~free-disk/48 B so a saturated corpus records a
    // typed SaturationBudgetExceeded row with the arithmetic instead of an
    // executor memory/disk death mid-join (operators/Dedup.scala)
    sys.env.get("EDITDIST_PAIR_BUDGET").foreach(b =>
      spark.conf.set("spark.graft.editdist.maxCandidatePairs", b))
    // superseded-generation GC grace: the 15 min default is the reader-
    // safety window a production maintainer wants, but on this host's
    // ~64 GB budget a 50M campaign can hold 2-3 × 12 GB generations
    // inside it — campaigns pass a short grace (no concurrent readers
    // here by construction: benchAct is the only query issuer)
    sys.env.get("GRAFT_GC_GRACE_MS").foreach(g =>
      spark.conf.set("spark.graft.index.gcGraceMs", g))
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)

    val out = Paths.get(outPath)
    if (out.getParent != null) Files.createDirectories(out.getParent)

    def record(line: String): Unit = {
      println(line)
      Files.write(out, (line + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

    for (n <- sizes) {
      // staging is LAZY per table: an op-filtered run only generates the
      // corpora it actually reads (a 50M-doc text staging is ~22 GB of
      // parquet — generating it for an embeddings-only grid run would
      // spend most of the disk budget on an unread table)
      lazy val docs = {
        val path = s"$stageDir/docs_$n"
        if (!Files.exists(Paths.get(path)))
          corpus(spark, n).write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      }
      lazy val embs = {
        val embPath = s"$stageDir/emb_$n"
        if (!Files.exists(Paths.get(embPath)))
          embCorpus(spark, n).write.mode("overwrite").parquet(embPath)
        spark.read.parquet(embPath)
      }

      val opFilter = sys.env.get("CORPUS_OPS").map(_.split(",").map(_.trim).toSet)

      // `extra`: optional JSON fields (no braces) appended to the row —
      // the config labels (variant, caps) that make a grid row
      // self-describing instead of relying on op-name conventions.
      // `valueField` names what act()'s Long actually IS: a real output
      // row count ("rows", the benchOn default), a volume/recall figure,
      // or — for forcing-action sums that exist only to keep every stage
      // alive — "checksum", so an evidence row never presents a checksum
      // as a cardinality
      def benchAct(op: String, act: () => Long, extra: String = "",
          valueField: String = "rows"): Unit = {
        if (opFilter.exists(!_.contains(op))) return
        try {
          (1 to warmup).foreach(_ => act())
          val runs = (1 to iters).map { _ =>
            val w0 = tally.written.get; val s0 = tally.spilled.get
            val t0 = System.nanoTime()
            val rows = act()
            val sec = (System.nanoTime() - t0) / 1e9
            (sec, rows, tally.written.get - w0, tally.spilled.get - s0)
          }
          val best = runs.minBy(_._1)
          val itersStr = runs.map(r => f"${r._1}%.3f").mkString("[", ",", "]")
          // rows recorded under a non-default fork heap label themselves —
          // the protocol (object scaladoc) is the default 8 GB heap, and an
          // exception must be visible in the evidence row itself
          val heapLbl = sys.env.get("SPARK_DRIVER_MEM")
            .map(h => s""","heap":"$h"""").getOrElse("")
          val extraStr = (if (extra.isEmpty) "" else "," + extra) + heapLbl
          record(
            f"""{"op":"$op","n_docs":$n,"sec":${best._1}%.3f,"iters_sec":$itersStr,"$valueField":${best._2},"shuffle_mb":${best._3 / 1e6}%.1f,"spill_mb":${best._4 / 1e6}%.1f,"cpus":$cpus,"warmup":$warmup$extraStr}""")
        } catch {
          case e: Throwable =>
            // record the ROOT cause class + message head, not just the
            // wrapper: a bare {"error":"SparkException"} row says nothing
            // about WHY a scale point failed (heap? disk? maxResultSize?),
            // so the failure row itself must carry the evidence
            var root = e
            while (root.getCause != null && (root.getCause ne root)) root = root.getCause
            // strip backslash, quote, and the WHOLE control range — wrapped
            // exception messages carry \b, \f, and other U+0000-U+001F-class bytes that would
            // land raw inside the JSON string and invalidate the row
            val msg = Option(root.getMessage).getOrElse("")
              .replaceAll("[\\\\\"\\p{Cntrl}]", " ").take(160)
            record(s"""{"op":"$op","n_docs":$n,"error":"${e.getClass.getSimpleName}","cause":"${root.getClass.getSimpleName}","cause_msg":"$msg"}""")
            System.err.println(s"[corpusbench] $op@$n failed: ${e.getMessage}")
            // a failed op's still-running tasks would otherwise keep
            // writing into the NEXT op's tally window and steal its CPU
            // (measured: a knn_join disk failure inflated the following
            // editdist volume row 2x in wall and 17x in shuffle bytes) —
            // cancel and let stragglers drain before the next measurement
            spark.sparkContext.cancelAllJobs()
            Thread.sleep(5000)
        }
      }
      // `input` is BY-NAME and forced only after the op filter: staging is
      // lazy (see the `docs`/`embs` vals), so a filtered-out op must not
      // evaluate its corpus — and for a selected op the force happens HERE,
      // outside benchAct's timed window, so first-touch staging never lands
      // inside a measured iteration (the warmup=0 5M/50M convention).
      def benchOn(op: String, input: => DataFrame, f: DataFrame => DataFrame,
          extra: String = ""): Unit = {
        if (opFilter.exists(!_.contains(op))) return
        val in = input
        benchAct(op, () => f(in).count(), extra)
      }
      def bench(op: String, f: DataFrame => DataFrame, extra: String = ""): Unit =
        benchOn(op, docs, f, extra)
      // Directly-invoked benchAct ops (no by-name `input` to force) get
      // their lazy corpus staged HERE, outside any timed window: without
      // this, an op-filtered run on a fresh stage dir measures first-touch
      // parquet generation (~22 GB of docs at 50M) inside the op's first
      // iteration under the warmup=0 convention. `opPrefixes` are matched
      // against the filter's exact op names by prefix (the generated
      // knn_join_ivf_recall_p4c2-style names); no filter = run everything =
      // force eagerly at the group's position in program order.
      def stageFor(opPrefixes: String*)(force: => Any): Unit =
        if (opFilter.forall(sel =>
            sel.exists(name => opPrefixes.exists(name.startsWith)))) { force; () }

      val shSized = """"impl":"wide_born_explode+sized_sh_exchange""""
      val candSized = """"impl":"sized_candidates""""
      bench("minhash_pairs",
        d => Dedup.minhashLsh(d, "doc_id", "text", numHashes = 64, bands = 16, threshold = 0.5))
      // the docs-corpus benchAct group (see stageFor)
      stageFor("incremental_dedup", "decontaminate_spans", "clean_pipeline",
        "repeated_windows", "dup_spans", "pii_scan", "top_ngrams_agree",
        "zorder")(docs)
      // incremental ingest: a 10% delta classified against the other 90% —
      // candidate work is |new|-driven (old docs never pair together); sum
      // all outputs so no stage prunes away
      benchAct("incremental_dedup", () => {
        Dedup.incrementalMinhashDedup(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0),
            "doc_id", "text", numHashes = 32, bands = 16, threshold = 0.5)
          .agg(sum(col("kept") + col("dup_of_old") + col("dup_of_new")))
          .head().getLong(0)
      }, valueField = "checksum")
      // same delta pass on the native q21 signature family — the
      // production path; the gap to the row above is the md5 oracle tax
      benchAct("incremental_dedup_native", () => {
        Dedup.incrementalMinhashDedupNative(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0),
            "doc_id", "text", numHashes = 64, bands = 16, threshold = 0.5)
          .agg(sum(col("kept") + col("dup_of_old") + col("dup_of_new")))
          .head().getLong(0)
      }, valueField = "checksum")
      bench("ngram_posting", d => Dedup.ngramJaccard(d, "doc_id", "text", threshold = 0.3), shSized)
      bench("ngram_join", d => Dedup.ngramJaccardJoin(d, "doc_id", "text", threshold = 0.3))
      bench("dedup_clusters", d =>
        ConnectedComponents.components(
          Dedup.ngramJaccard(d, "doc_id", "text", threshold = 0.3), "id_a", "id_b"),
        """"impl":"wide_born_explode+sized_sh_exchange+sized_cc_loop"""")
      // the LOOP's own cost, decomposed: the dedup_clusters row INCLUDES
      // edge discovery (the embedded ngramJaccard — whose shuffle/spill is
      // the ngram_posting row's), so it can never spill less than the
      // discovery stage does. This row materializes the edges once and
      // measures components() alone — the number that shows the sized
      // iteration exchanges (edge set re-keyed once, skinny labels moving
      // per round) holding at 5M
      if (opFilter.forall(_.contains("dedup_clusters_only"))) {
        val edgePath = s"$stageDir/edges_$n"
        if (!Files.exists(Paths.get(edgePath)))
          Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.3)
            .write.mode("overwrite").parquet(edgePath)
        val edges = spark.read.parquet(edgePath)
        benchAct("dedup_clusters_only", () =>
          ConnectedComponents.components(edges, "id_a", "id_b").count(),
          """"impl":"sized_cc_loop","input":"materialized_edges"""")
      }
      // the adversarial-diameter variant on the same edges — recorded so the
      // min-label default is a measured choice, not an assumption (near-dup
      // graphs are shallow, so min-label's cheaper rounds should win here;
      // star contraction exists for long-chain graphs)
      bench("dedup_clusters_star", d =>
        ConnectedComponents.componentsStar(
          Dedup.ngramJaccard(d, "doc_id", "text", threshold = 0.3), "id_a", "id_b"),
        shSized)
      bench("decontaminate", d =>
        Contamination.overlap(
          d.filter(col("doc_id") >= 1000), "doc_id", "text",
          d.filter(col("doc_id") < 1000), "doc_id", "text",
          shingleLen = 3, minShared = 2))
      // same output through the Bloom prefilter: the train-side stream is
      // pruned scan-side, so the exchange should carry only near-hits
      bench("decontaminate_bloom", d =>
        Contamination.overlapBloom(
          d.filter(col("doc_id") >= 1000), "doc_id", "text",
          d.filter(col("doc_id") < 1000), "doc_id", "text",
          shingleLen = 3, minShared = 2))
      // span-level decontamination, 1% of the corpus as the eval slice —
      // mod-p (probabilistic) vs winnow (density-guaranteed) selection on
      // the same split; sum the accounting so the whole pipeline runs
      benchAct("decontaminate_spans", () => {
        TextOps.decontaminateSpans(
            docs.filter(col("doc_id") % 100 =!= 0), "doc_id", "text",
            docs.filter(col("doc_id") % 100 === 0), "doc_id", "text",
            winLen = 20, stride = 5, modP = 5)
          .agg(sum(col("removed_chars"))).head().getLong(0)
      }, valueField = "removed_chars")
      // the q78 cleaning pipeline end-to-end at corpus scale: PII-redact →
      // splice corpus-duplicated spans (windows over the REDACTED text) →
      // per-doc accounting; the composition's shuffle/spill is the number
      // a nightly cleaning job planner actually needs
      benchAct("clean_pipeline", () => {
        val redacted = docs.select(col("doc_id"),
          TextOps.piiRedact(col("text")).as("text"))
        TextOps.removeDupSpans(redacted, "doc_id", "text",
            winLen = 20, stride = 5, minFreq = 2)
          .agg(sum(length(col("clean_text")))).head().getLong(0)
      }, """"impl":"sized_window_count"""", valueField = "clean_chars")
      benchAct("decontaminate_spans_winnow", () => {
        TextOps.decontaminateSpans(
            docs.filter(col("doc_id") % 100 =!= 0), "doc_id", "text",
            docs.filter(col("doc_id") % 100 === 0), "doc_id", "text",
            winLen = 20, winnowK = 5)
          .agg(sum(col("removed_chars"))).head().getLong(0)
      }, valueField = "removed_chars")
      // span-level dup stats: one window-keyed exchange feeding freq agg +
      // join back (ReusedExchange) — the grid should show shuffle volume
      // ~linear in corpus bytes (windows/doc is corpus-constant). The action
      // SUMS a computed column: a bare count() lets Catalyst eliminate the
      // unique-key left join (and with it the whole dup pipeline) and
      // measures a parquet row-count instead.
      benchAct("repeated_windows", () => {
        TextOps.repeatedWindowStats(docs, "doc_id", "text", winLen = 20, stride = 5)
          .agg(sum(col("n_dup"))).head().getLong(0)
      }, """"impl":"sized_window_count"""", valueField = "n_dup_windows")
      benchAct("dup_spans", () => {
        TextOps.dupSpanStats(docs, "doc_id", "text", winLen = 20, stride = 5)
          .agg(sum(col("removed_chars"))).head().getLong(0)
      }, """"impl":"sized_window_count"""", valueField = "removed_chars")
      // the alignment-free variant: stride-1 windows + md5 mod-p selection
      // — ~5x the window generation and one md5 per window; this row is
      // the measured price of content-defined selection vs the grid
      benchAct("dup_spans_cdc", () => {
        TextOps.dupSpanStats(docs, "doc_id", "text", winLen = 20, stride = 5,
            modP = 5)
          .agg(sum(col("removed_chars"))).head().getLong(0)
      }, valueField = "removed_chars")
      // true winnowing (frame-min fingerprints, density-guaranteed):
      // selection is one native O(n) deque pass per doc (WinnowStarts),
      // only selected windows explode; 415 s -> 76 s at 500k vs the HOF
      // O(n*k) slice/array_min formulation it is bit-identical to
      benchAct("dup_spans_winnow", () => {
        TextOps.dupSpanStats(docs, "doc_id", "text", winLen = 20,
            winnowK = 5)
          .agg(sum(col("removed_chars"))).head().getLong(0)
      }, valueField = "removed_chars")
      // same selection math under xxhash64 — which runs the HOF
      // posexplode-then-filter formulation (no native starts expression
      // for that hash family): the row PRICES materializing all stride-1
      // windows before selection (measured ~2.3× the md5 ModPStarts
      // default at 500k), evidence the native in-row expression, not the
      // hash function, is what makes content-defined selection affordable
      benchAct("dup_spans_cdc_native", () => {
        TextOps.dupSpanStats(docs, "doc_id", "text", winLen = 20, stride = 5,
            modP = 5, portableSel = false)
          .agg(sum(col("removed_chars"))).head().getLong(0)
      }, valueField = "removed_chars")
      // PII scan is scan-local (zero shuffles) — its row is the evidence;
      // same sum-the-outputs action so the regex columns can't be pruned
      benchAct("pii_scan", () => {
        TextOps.piiScan(docs, "doc_id", "text")
          .agg(sum(col("n_email") + col("n_ipv4") + col("n_phone")
            + col("redacted_len"))).head().getLong(0)
      }, valueField = "checksum")
      // similarity family over the embedding corpus: planes grow with
      // log2(n) so bucket occupancy — which bounds the candidate count —
      // stays O(1) at any scale
      val planes = Similarity.planesFor(n)
      // the embedding-corpus benchAct group (see stageFor)
      stageFor("semantic_dedup", "knn_join_ivf_recall", "knn_join_recall",
        "hard_negatives_ann")(embs)
      benchOn("embedding_neardups", embs, e =>
        Dedup.embeddingNearDups(e, "vec_id", "embedding", threshold = 0.95,
          planes = planes, tables = 4))
      benchOn("knn_join", embs, e =>
        Similarity.knnJoin(e, "vec_id", "embedding", k = 5,
          planes = planes, tables = 4), candSized)
      // the bounded-heap comparison path (measured-and-rejected default;
      // fenced out of the operators API — see Similarity.topKStage): its
      // correctness needs the global pair distinct knnJoin eliminated, so
      // the composition exists only here, as a measurement
      benchOn("knn_join_topk", embs, e =>
        Similarity.topKStage(
          Similarity.scoredCandidates(e, "vec_id", "embedding",
            planes = planes, tables = 4), k = 5))
      // SemDeDup: nLists grows with n so expected cluster size stays ~256
      // and per-cell pair work is ~128 evals/member, linear in n total;
      // assignment is the in-row portable expression (no dim explode) —
      // hierarchical above 64 lists, O(√nLists·dims)/row, so this stage
      // stays O(n·√nLists·dims) as nLists ∝ n (the flat scan measured
      // 458 s@5M); and the leader pass is cell-local (LeaderDedupCell over
      // a member directory — the attach-to-pairs form it replaced was the
      // measured broadcast-build failure at 5M on the protocol heap).
      // Sum over BOTH output columns so no stage prunes away
      // impl tag derived from the assignment rule's own thresholds — the
      // hardcoded "two_level_assign" went stale the round the three-level
      // regime landed (50M's 195k lists route three-level)
      val sdLists = math.max(8, (n / 256).toInt)
      val sdImpl =
        if (sdLists <= graft.functions.VectorExpressions.twoLevelThreshold)
          "flat_assign"
        else if (sdLists <= graft.functions.VectorExpressions.threeLevelThreshold)
          "two_level_assign"
        else "three_level_assign"
      benchAct("semantic_dedup", () => {
        Similarity.semanticDedup(embs, "vec_id", "embedding",
            nLists = sdLists, tau = 0.95)
          .agg(sum(col("cluster") + col("kept"))).head().getLong(0)
      }, s""""impl":"$sdImpl+cell_local","n_lists":$sdLists""", valueField = "checksum")
      // IVF-candidate k-NN join: the measured handoff past knnJoin's
      // broadcast-attach ceiling — probed md5-sign cells for candidates,
      // PQ-coded in-cell shortlists, exact rescore, NO pair stream and NO
      // vector broadcast, so the 5M row runs at the protocol 8 GB heap
      benchOn("knn_join_ivf", embs, e =>
        Similarity.knnJoinIvf(e, "vec_id", "embedding", k = 5,
          nLists = math.max(8, (n / 64).toInt), nprobe = 4),
        """"impl":"cell_directory","nprobe":4,"occ":64""")
      // planted-neighbor recovery for BOTH batch k-NN paths at identical k:
      // each 20-id block's 3 replicas (pairwise cosine ≥ 0.999) must find
      // each other at rank ≤ k — 6·(n/20) ordered pairs. The exact-baseline
      // comparison lives in the spec at small n (knnJoinExact is O(N²));
      // these rows carry the at-scale recall evidence, LSH vs IVF
      def plantedPairs(nn: DataFrame): Long = nn
        .filter(pmod(col("id_a"), lit(20L)) < 3 && pmod(col("id_b"), lit(20L)) < 3
          && (col("id_a") - pmod(col("id_a"), lit(20L)))
            === (col("id_b") - pmod(col("id_b"), lit(20L))))
        .count()
      benchAct("knn_join_ivf_recall", () =>
        plantedPairs(Similarity.knnJoinIvf(embs, "vec_id", "embedding", k = 5,
          nLists = math.max(8, (n / 64).toInt), nprobe = 4)),
        s""""impl":"cell_directory","planted":${6 * (n / 20)}""",
        valueField = "recovered")
      // the near-tie knob's price and recall: cellsPerSuper=2 doubles the
      // probed cells (2 per super) to cover block-local argmax flips — the
      // one miss mechanism left after the mirrored probe rule (measured
      // 98.0-98.2% planted recall at c=1)
      for ((p, c) <- Seq((4, 2), (4, 3), (4, 4), (6, 2)))
        benchAct(s"knn_join_ivf_recall_p${p}c$c", () =>
          plantedPairs(Similarity.knnJoinIvf(embs, "vec_id", "embedding", k = 5,
            nLists = math.max(8, (n / 64).toInt), nprobe = p, cellsPerSuper = c)),
          s""""impl":"cell_directory","nprobe":$p,"cells":$c,"planted":${6 * (n / 20)}""",
          valueField = "recovered")
      if (n <= 500000)
        benchAct("knn_join_recall", () =>
          plantedPairs(Similarity.knnJoin(embs, "vec_id", "embedding", k = 5,
            planes = planes, tables = 4)),
          s""""impl":"lsh","planted":${6 * (n / 20)}""",
          valueField = "recovered")
      // single-query brute-force cosine top-k — the O(n·d) scan baseline the
      // similarity family is judged against; previously unrecorded above
      // 500k-equivalent
      if (opFilter.forall(_.contains("cosine_topk"))) {
        val qvec = embs.filter(col("vec_id") === 7).head().getSeq[Float](1)
        benchAct("cosine_topk", () =>
          Similarity.cosineTopK(embs, "vec_id", "embedding", qvec, 10)
            .collect().length.toLong)
      }
      // hard negatives on the ANN candidate engine (the exact all-pairs
      // baseline is O(N²) by contract and lives in the spec/oracle tier):
      // 16 synthetic labels, anchors keep top-k nearest with a DIFFERENT
      // label from a 4k-deep ANN pool
      benchAct("hard_negatives_ann", () => {
        Similarity.hardNegativesAnn(
            embs.withColumn("lbl", pmod(xxhash64(col("vec_id"), lit("hn")), lit(16L))),
            "vec_id", "embedding", "lbl", k = 5,
            nLists = math.max(8, (n / 64).toInt), nprobe = 4)
          .count()
      }, """"impl":"cell_directory","labels":16""")
      // the in-cell label gate: same k=5 mining task, but same-label
      // members are excluded INSIDE the ADC shortlist (no oversample, no
      // label attach joins, label_b rides the winner struct) — the winner
      // exchange is the plain k-NN join's n·nprobe·k, which is what makes
      // the 50M row measurable where the oversample composition's ~141 GB
      // arithmetic row was not
      benchAct("hard_negatives_cell", () => {
        Similarity.hardNegativesAnnCell(
            embs.withColumn("lbl", pmod(xxhash64(col("vec_id"), lit("hn")), lit(16L))),
            "vec_id", "embedding", "lbl", k = 5,
            nLists = math.max(8, (n / 64).toInt), nprobe = 4)
          .count()
      }, """"impl":"in_cell_label_gate","labels":16""")
      // the at-scale evidence row, the knn_join_ivf_recall convention: the
      // count() form above materializes the FULL n·k winner stream through
      // the rank exchange (~3.7× the pipeline's own volume — the measured
      // host-disk wall at 50M, exactly as for knn_join_ivf); here the
      // planted-pair filter (a function of the window partition key id_a)
      // pushes below the rank window and the probe scan, so the identical
      // join pipeline runs with the planted slice of anchors — recovery of
      // planted DIFFERENT-LABEL pairs is the recall figure. The planted
      // figure is computed EXACTLY (labels are a pure function of vec_id,
      // so the differing-label planted-pair count is one cheap self-join,
      // outside the timed window).
      // class-balanced mining: k=2 per (anchor, foreign label) — the
      // per-cell quota's winner stream is bounded by kCand, so the row
      // prices the balanced shape's real exchange
      benchAct("hard_negatives_balanced", () => {
        Similarity.hardNegativesAnnCellBalanced(
            embs.withColumn("lbl", pmod(xxhash64(col("vec_id"), lit("hn")), lit(16L))),
            "vec_id", "embedding", "lbl", k = 2,
            nLists = math.max(8, (n / 64).toInt), nprobe = 4)
          .count()
      }, """"impl":"in_cell_label_quota","labels":16,"k_per_label":2""")
      if (opFilter.exists(_.exists(_.startsWith("hard_negatives_cell_recall")))) {
        val lblOf = pmod(xxhash64(col("vec_id"), lit("hn")), lit(16L))
        val pos = embs.filter(pmod(col("vec_id"), lit(20L)) < 3)
          .select(col("vec_id"),
            (col("vec_id") - pmod(col("vec_id"), lit(20L))).as("blk"),
            lblOf.as("l"))
        val plantedNeg = pos.as("x").join(pos.as("y"),
            col("x.blk") === col("y.blk") &&
              col("x.vec_id") =!= col("y.vec_id") &&
              col("x.l") =!= col("y.l"))
          .count()
        benchAct("hard_negatives_cell_recall", () =>
          plantedPairs(Similarity.hardNegativesAnnCell(
            embs.withColumn("lbl", lblOf),
            "vec_id", "embedding", "lbl", k = 5,
            nLists = math.max(8, (n / 64).toInt), nprobe = 4)),
          s""""impl":"in_cell_label_gate","labels":16,"planted":$plantedNeg""",
          valueField = "recovered")
      }
      // knnJoinAuto boundary bracketing: the dispatcher's chosen route is
      // recorded IN the row, with planted recall proving the routed join
      // works at that regime — run at n either side of the ~1 GB source-
      // bytes default (3M×64d ≈ 0.8 GB → lsh; 5M×64d ≈ 1.3 GB → ivf)
      if (opFilter.exists(_.exists(_.startsWith("knn_join_auto_recall")))) {
        benchAct("knn_join_auto_recall", () =>
          plantedPairs(Similarity.knnJoinAuto(embs, "vec_id", "embedding", k = 5)),
          s""""route":"${Similarity.knnJoinAutoRoute(embs, "vec_id", "embedding")}","planted":${6 * (n / 20)}""",
          valueField = "recovered")
      }
      // the dims≠64 sanity point: 16-dim embeddings, dims DERIVED from the
      // data (the silent-truncation regression guard at grid scale)
      if (opFilter.exists(_.exists(_.startsWith("knn_join_auto_d16")))) {
        val emb16Path = s"$stageDir/emb16_$n"
        if (!Files.exists(Paths.get(emb16Path)))
          embCorpus(spark, n, dims = 16).write.mode("overwrite").parquet(emb16Path)
        val emb16 = spark.read.parquet(emb16Path)
        benchAct("knn_join_auto_d16", () =>
          plantedPairs(Similarity.knnJoinAuto(emb16, "vec_id", "embedding", k = 5)),
          s""""route":"${Similarity.knnJoinAutoRoute(emb16, "vec_id", "embedding")}","dims":16,"planted":${6 * (n / 20)}""",
          valueField = "recovered")
      }
      // Incremental IVF index lifecycle (KnnIndex): build once on 90%,
      // then the delta row = append 10% + probe the delta against the
      // stored directories — the work-∝-|delta| evidence next to the
      // full-rebuild knn_join_ivf_recall row. Each delta iteration first
      // restores the base generation (drops files a previous iteration
      // appended) so appends don't compound across warmup/iters.
      // Stored-index hard-negative mining (KnnIndex.hardNegativesDelta):
      // a label-payload index generation staged once (untimed, like the
      // corpus itself), then the timed row mines a 10% anchor batch
      // against it — the production shape where the corpus is the index
      // and each training batch pays only |delta| probe work. Labels live
      // IN the stored directories (build payloadCol), so no attach join
      // touches the corpus at any scale.
      if (opFilter.exists(_.exists(_.startsWith("knn_index_negatives")))) {
        val payPath = s"$stageDir/knnidx_pay_$n"
        val labeled = embs.filter(col("vec_id") % 10 =!= 0)
          .withColumn("lbl", pmod(xxhash64(col("vec_id"), lit("hn")), lit(16L)))
        if (!Files.exists(Paths.get(s"$payPath/meta")))
          graft.operators.KnnIndex.build(labeled, "vec_id", "embedding",
            payPath, payloadCol = "lbl")
        val anchors = embs.filter(col("vec_id") % 10 === 0)
          .withColumn("lbl", pmod(xxhash64(col("vec_id"), lit("hn")), lit(16L)))
        // the route tag comes from the OPERATOR's own gate decision
        // (deltaProbeRoute — same meta, same maxResultSize cap), so the
        // recorded impl can't drift from the executed plan
        val payProbePath = graft.operators.KnnIndex.deltaProbeRoute(
          spark, payPath, n / 10, nprobe = 4, payload = true)
        benchAct("knn_index_negatives", () =>
          graft.operators.KnnIndex.hardNegativesDelta(anchors, "vec_id",
            "embedding", "lbl", payPath, k = 5, nprobe = 4).count(),
          s""""impl":"stored_dirs+$payProbePath+in_cell_label_gate","labels":16,"anchor_fraction":0.1""")
      }
      // EXACT op set, not a startsWith: this block stages a full knnidx_$n
      // build as a side effect even when every benchAct inside is
      // filtered, and the old `startsWith("knn_index")` gate matched every
      // later lifecycle op (tombstone/payload/read-amp/ingest) — at 50M
      // that was a surprise 12 GB build per filtered run, the ENOSPC that
      // killed the first r15 tomb_50m attempt
      if (opFilter.exists(_.exists(p => Set("knn_index_build",
          "knn_index_delta", "knn_index_trickle", "semantic_dedup_delta")
          .contains(p)))) {
        val idxPath = s"$stageDir/knnidx_$n"
        val baseEmb = embs.filter(col("vec_id") % 10 =!= 0)
        val deltaEmb = embs.filter(col("vec_id") % 10 === 0)
        benchAct("knn_index_build", () => {
          graft.operators.KnnIndex.build(baseEmb, "vec_id", "embedding", idxPath)
          n - n / 10
        }, """"base_fraction":0.9""", valueField = "rows_indexed")
        if (!Files.exists(Paths.get(s"$idxPath/meta")))
          graft.operators.KnnIndex.build(baseEmb, "vec_id", "embedding", idxPath)
        def memberFiles(): Set[String] = {
          val out = scala.collection.mutable.Set[String]()
          java.nio.file.Files.walk(Paths.get(
              graft.operators.KnnIndex.membersDir(spark, idxPath))).forEach { p =>
            if (p.toString.endsWith(".parquet")) out += p.toString
          }
          out.toSet
        }
        val baseGeneration = memberFiles()
        // probe-attach tag from the operator's OWN gate decision
        // (deltaProbeRoute — stored meta, maxResultSize-capped gate), so
        // the recorded impl cannot drift from the executed plan
        val probePath = graft.operators.KnnIndex.deltaProbeRoute(
          spark, idxPath, n / 10, nprobe = 4)
        benchAct("knn_index_delta", () => {
          (memberFiles() -- baseGeneration)
            .foreach(f => Files.deleteIfExists(Paths.get(f)))
          graft.operators.KnnIndex.append(deltaEmb, "vec_id", "embedding", idxPath)
          plantedPairs(graft.operators.KnnIndex.knnJoinDelta(
            deltaEmb, "vec_id", "embedding", idxPath, k = 5, nprobe = 4))
        }, s""""delta_fraction":0.1,"impl":"stored_dirs+$probePath","planted":${2 * (n / 20)}""",
          valueField = "recovered")
        // TRICKLE delta — the other side of the probe-broadcast gate: a
        // 32-row batch (16 planted blocks) must take the broadcast-probes
        // path AND prune the member READ to its probed buckets (the
        // knnJoinDelta partition filter — decisive exactly here, where
        // |delta|·nprobe ≪ nLists). Wall ∝ |delta| at the small end is
        // the claim this row pins: vs the 10%-delta row above, the base
        // never re-reads beyond the touched buckets.
        benchAct("knn_index_trickle", () => {
          (memberFiles() -- baseGeneration)
            .foreach(f => Files.deleteIfExists(Paths.get(f)))
          val trickle = deltaEmb.filter(col("vec_id") < 320)
          graft.operators.KnnIndex.append(trickle, "vec_id", "embedding", idxPath)
          plantedPairs(graft.operators.KnnIndex.knnJoinDelta(
            trickle, "vec_id", "embedding", idxPath, k = 5, nprobe = 4))
        }, """"delta_rows":32,"impl":"stored_dirs+broadcast_probes+bucket_pruned","planted":32""",
          valueField = "recovered")
        // incremental SEMANTIC-DEDUP verdicts on the same stored index —
        // the ingest-batch keep/drop consumer (KnnIndex.dedupDelta, q117
        // twin): every 20-block's position-0 row arrives in the delta and
        // must name its position-1 base copy as dup_of_old
        benchAct("semantic_dedup_delta", () => {
          (memberFiles() -- baseGeneration)
            .foreach(f => Files.deleteIfExists(Paths.get(f)))
          graft.operators.KnnIndex.append(deltaEmb, "vec_id", "embedding", idxPath)
          graft.operators.KnnIndex.dedupDelta(deltaEmb, "vec_id", "embedding",
              idxPath, tau = 0.9, k = 8, nprobe = 4)
            .filter(col("kept") === 0 && col("dup_of_old") === col("id") + 1)
            .count()
        }, s""""tau":0.9,"impl":"stored_dirs+$probePath","planted":${n / 20}""",
          valueField = "recovered")
      }
      // LSM tail of the index lifecycle: fragment a generation (4 delta
      // appends + a 2% tombstone log), hard-link a snapshot aside, then
      // each measured iteration restores the fragmented tree by re-linking
      // (metadata-only, no byte copy) and compacts — one row per cell
      // again, tombstones applied physically, files coalesced per bucket,
      // PQ codebook REUSED (no retrain: the cost gap vs knn_index_build is
      // the point of the row)
      if (opFilter.exists(_.exists(_.startsWith("knn_index_compact")))) {
        val idxPath = s"$stageDir/knnidxc_$n"
        val fragSave = s"$stageDir/knnidxc_frag_$n"
        def deleteTree(dir: String): Unit = {
          val p = Paths.get(dir)
          if (Files.exists(p))
            Files.walk(p).sorted(java.util.Comparator.reverseOrder())
              .forEach(f => Files.deleteIfExists(f))
        }
        def linkTree(src: String, dst: String): Unit = {
          val s0 = Paths.get(src)
          Files.walk(s0).forEach { p =>
            val t = Paths.get(dst).resolve(s0.relativize(p))
            if (Files.isDirectory(p)) Files.createDirectories(t)
            else Files.createLink(t, p)
          }
        }
        def parquetCount(dir: String): Long =
          Files.walk(Paths.get(dir)).filter(_.toString.endsWith(".parquet")).count()
        if (!Files.exists(Paths.get(s"$fragSave/meta"))) {
          deleteTree(idxPath)
          graft.operators.KnnIndex.build(
            embs.filter(col("vec_id") % 10 <= 5), "vec_id", "embedding", idxPath)
          (6 to 9).foreach(i => graft.operators.KnnIndex.append(
            embs.filter(col("vec_id") % 10 === i), "vec_id", "embedding", idxPath))
          graft.operators.KnnIndex.delete(
            embs.filter(col("vec_id") % 50 === 7).select(col("vec_id")),
            "vec_id", idxPath)
          linkTree(idxPath, fragSave)
        }
        val filesBefore = parquetCount(
          graft.operators.KnnIndex.membersDir(spark, fragSave))
        benchAct("knn_index_compact", () => {
          deleteTree(idxPath)
          linkTree(fragSave, idxPath)
          graft.operators.KnnIndex.compact(spark, idxPath)
          parquetCount(graft.operators.KnnIndex.membersDir(spark, idxPath))
        }, s""""appends":4,"tombstones":${n / 50},"files_before":$filesBefore,"impl":"codebook_reuse+bucket_coalesce"""",
          valueField = "files_after")
      }
      // READ-AMPLIFICATION CURVE of the stored index (the compaction
      // policy's evidence): one fixed probe batch re-measured after each
      // of 10 × 1% appends and 2 tombstone batches, then after compact —
      // each row carries the delta-search wall, planted recall, and the
      // tree's mean directory rows per cell at that step. The curve prices
      // what NOT compacting costs (rank-stage re-merge of per-(cell,
      // batch) rows; tombstones deepening every rescore to the full
      // shortlist) and what compact restores — the thresholds
      // KnnIndex.shouldCompact defaults to cite these rows.
      if (opFilter.exists(_.exists(_.startsWith("knn_index_read_amp")))) {
        val idxPath = s"$stageDir/knnidxra_$n"
        def deleteTree(dir: String): Unit = {
          val p = Paths.get(dir)
          if (Files.exists(p))
            Files.walk(p).sorted(java.util.Comparator.reverseOrder())
              .forEach(f => Files.deleteIfExists(f))
        }
        deleteTree(idxPath)
        val baseEmb = embs.filter(col("vec_id") % 10 =!= 0)
        graft.operators.KnnIndex.build(baseEmb, "vec_id", "embedding", idxPath)
        // fixed probe batch: every vec_id ≡ 0 (mod 100) — all are 20-block
        // position-0 rows, so both planted partners (+1, +2) are stored in
        // the base and recall is comparable at every step
        val probe = embs.filter(col("vec_id") % 100 === 0)
        var appends = 0
        var tombstones = 0
        def measure(step: String): Unit = {
          val h = graft.operators.KnnIndex.health(spark, idxPath)
          benchAct("knn_index_read_amp", () =>
            plantedPairs(graft.operators.KnnIndex.knnJoinDelta(
              probe, "vec_id", "embedding", idxPath, k = 5, nprobe = 4)),
            s""""step":"$step","appends":$appends,"tombstone_rows":$tombstones,""" +
              s""""mean_dir_rows":${h.meanDirRows},"planted":${2 * (n / 100)}""",
            valueField = "recovered")
        }
        measure("fresh")
        (1 to 10).foreach { j =>
          // 1%-of-corpus slice j: ids ≡ 10·j (mod 100) — disjoint from the
          // base (all ≡ 0 mod 10) and from each other
          graft.operators.KnnIndex.append(
            embs.filter(col("vec_id") % 100 === (10 * j) % 100),
            "vec_id", "embedding", idxPath)
          appends = j
          if (j == 3 || j == 7 || j == 10) measure(s"append$j")
          if (j == 5 || j == 10) {
            // tombstone batch: 0.5% of the base each time
            graft.operators.KnnIndex.delete(
              baseEmb.filter(col("vec_id") % 200 === j).select(col("vec_id")),
              "vec_id", idxPath)
            tombstones += (n / 200).toInt
            measure(s"append${j}_tombstoned")
          }
        }
        val trigger = graft.operators.KnnIndex.shouldCompact(spark, idxPath)
        benchAct("knn_index_read_amp_compact", () => {
          graft.operators.KnnIndex.compact(spark, idxPath)
          graft.operators.KnnIndex.health(spark, idxPath).members
        }, s""""trigger_fired":$trigger""", valueField = "members")
        appends = 0; tombstones = 0
        measure("compacted")
      }
      // TOMBSTONE-HEAVY COMPACT at scale (the delete tail of the LSM
      // lifecycle, never before run at 50M): delete 2% of the stored
      // members, measure delta search under the deepened rescore the
      // pending log forces, compact (tombstones applied physically,
      // policy trigger recorded), measure restoration. The fixed probe
      // batch is the read-amp curve's (every id ≡ 0 mod 100); deleted ids
      // (≡ 5 mod 50) avoid the planted partners (≡ 1, 2 mod 100), so
      // recall is comparable at every step.
      if (opFilter.exists(_.exists(_.startsWith("knn_index_tombstone")))) {
        val idxPath = s"$stageDir/knnidxts_$n"
        def deleteTree(dir: String): Unit = {
          val p = Paths.get(dir)
          if (Files.exists(p))
            Files.walk(p).sorted(java.util.Comparator.reverseOrder())
              .forEach(f => Files.deleteIfExists(f))
        }
        deleteTree(idxPath)
        val baseEmb = embs.filter(col("vec_id") % 10 =!= 0)
        graft.operators.KnnIndex.build(baseEmb, "vec_id", "embedding", idxPath)
        val probe = embs.filter(col("vec_id") % 100 === 0)
        def measure(step: String): Unit = {
          val h = graft.operators.KnnIndex.health(spark, idxPath)
          benchAct("knn_index_tombstone", () =>
            plantedPairs(graft.operators.KnnIndex.knnJoinDelta(
              probe, "vec_id", "embedding", idxPath, k = 5, nprobe = 4)),
            s""""step":"$step","tombstone_rows":${h.tombstones},""" +
              f""""tombstone_frac":${h.tombstoneFrac}%.4f,""" +
              s""""planted":${2 * (n / 100)}""",
            valueField = "recovered")
        }
        measure("clean")
        graft.operators.KnnIndex.delete(
          baseEmb.filter(col("vec_id") % 50 === 5).select(col("vec_id")),
          "vec_id", idxPath)
        measure("tombstoned")
        val trigger = graft.operators.KnnIndex.shouldCompact(spark, idxPath)
        benchAct("knn_index_tombstone_compact", () => {
          graft.operators.KnnIndex.compact(spark, idxPath)
          graft.operators.KnnIndex.vacuum(spark, idxPath, graceMs = 0L)
          graft.operators.KnnIndex.health(spark, idxPath).members
        }, s""""trigger_fired":$trigger,"deleted_frac":0.02""",
          valueField = "members")
        measure("compacted")
      }
      // Tombstone-heavy SIG compact — deleteSig's lifecycle at grid
      // scale (the knn_index_tombstone shape one abstraction over):
      // planted verdicts measured clean, under a 2.5% tombstone log
      // (recall must hold — deleted ids ≡ 3 mod 40 never touch the
      // planted position-1/2 partners), then after the policy-triggered
      // compact applies the log physically.
      if (opFilter.exists(_.exists(_.startsWith("sig_index_tombstone")))) {
        val hashPath = s"$stageDir/hashes_$n"
        if (!Files.exists(Paths.get(hashPath)))
          hashCorpus(spark, n).write.mode("overwrite").parquet(hashPath)
        val hashes = spark.read.parquet(hashPath)
          .select(col("id"), col("hash"))
        val sigPath = s"$stageDir/sigidxt_$n"
        def deleteTree(dir: String): Unit = {
          val p = Paths.get(dir)
          if (Files.exists(p))
            Files.walk(p).sorted(java.util.Comparator.reverseOrder())
              .forEach(f => Files.deleteIfExists(f))
        }
        deleteTree(sigPath)
        val base = hashes.filter(col("id") % 10 =!= 0)
        graft.multimodal.Multimodal.buildSigIndex(base, sigPath, bands = 4)
        // position-0 rows only: every probe has a planted stored partner
        val probe = hashes.filter(col("id") % 20 === 0)
        def measure(step: String): Unit =
          benchAct("sig_index_tombstone", () =>
            graft.multimodal.Multimodal.nearDupDelta(probe, sigPath, 3)
              .filter(col("dup_of_old") === col("id") + 1).count(),
            s""""step":"$step","planted":${n / 20}""",
            valueField = "recovered")
        measure("clean")
        graft.multimodal.Multimodal.deleteSig(
          base.filter(col("id") % 40 === 3).select(col("id")), "id", sigPath)
        measure("tombstoned")
        val trigger =
          graft.multimodal.Multimodal.shouldCompactSig(spark, sigPath)
        benchAct("sig_index_tombstone_compact", () => {
          graft.multimodal.Multimodal.compactSigIndex(spark, sigPath)
          graft.operators.Generations.vacuum(spark, sigPath, graceMs = 0L)
          spark.read.parquet(graft.multimodal.Multimodal
            .sigMembersDir(spark, sigPath)).count()
        }, s""""trigger_fired":$trigger,"deleted_frac":0.025""",
          valueField = "member_rows")
        measure("compacted")
      }
      // payload-predicate-filtered delta search at grid scale: answers
      // restricted to members whose stored label is in half the label
      // space — the q124/knnJoinDelta(payloadIn) shape; rescore deepens to
      // the full shortlist (the restrict exactness contract), the
      // predicate itself is a scan-local filter on the winner stream
      if (opFilter.exists(_.exists(_.startsWith("knn_index_payload_filter")))) {
        val payPath = s"$stageDir/knnidx_pay_$n"
        val labeled = embs.filter(col("vec_id") % 10 =!= 0)
          .withColumn("lbl", pmod(xxhash64(col("vec_id"), lit("hn")), lit(16L)))
        if (!Files.exists(Paths.get(s"$payPath/meta")))
          graft.operators.KnnIndex.build(labeled, "vec_id", "embedding",
            payPath, payloadCol = "lbl")
        val deltaEmb = embs.filter(col("vec_id") % 10 === 0)
        val probeRoute = graft.operators.KnnIndex.deltaProbeRoute(
          spark, payPath, n / 10, nprobe = 4)
        benchAct("knn_index_payload_filter", () =>
          graft.operators.KnnIndex.knnJoinDelta(deltaEmb, "vec_id",
            "embedding", payPath, k = 5, nprobe = 4,
            payloadIn = Some(Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))).count(),
          s""""impl":"stored_dirs+$probeRoute+winner_payload_filter","allowed_labels":8,"labels":16""")
      }
      // STRUCT-payload predicate search at grid scale — the q125 /
      // knnJoinDelta(payloadWhere) shape: a (cls, q) struct stored per
      // member, answers gated by a set + range CONJUNCTION evaluated
      // scan-local on the winner stream (no attach join); ~37% of members
      // allowed (8/16 classes × q > 0.25)
      if (opFilter.exists(_.exists(_.startsWith("knn_index_payload_where")))) {
        val pwPath = s"$stageDir/knnidx_pw_$n"
        val structed = embs.filter(col("vec_id") % 10 =!= 0)
          .withColumn("pay", struct(
            pmod(xxhash64(col("vec_id"), lit("hn")), lit(16L)).as("cls"),
            round(pmod(col("vec_id"), lit(97L)) / lit(97.0), 6).as("q")))
        if (!Files.exists(Paths.get(s"$pwPath/meta")))
          graft.operators.KnnIndex.build(structed, "vec_id", "embedding",
            pwPath, payloadCol = "pay")
        val deltaEmb = embs.filter(col("vec_id") % 10 === 0)
        val probeRoute = graft.operators.KnnIndex.deltaProbeRoute(
          spark, pwPath, n / 10, nprobe = 4)
        benchAct("knn_index_payload_where", () =>
          graft.operators.KnnIndex.knnJoinDelta(deltaEmb, "vec_id",
            "embedding", pwPath, k = 5, nprobe = 4,
            payloadWhere = Some(col("payload_b.cls")
              .isin(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)
              && col("payload_b.q") > 0.25)).count(),
          s""""impl":"stored_dirs+$probeRoute+winner_struct_predicate","allowed_frac":0.37""")
      }
      // SUSTAINED ingest+mine throughput: 20 × 50k-row batches against the
      // 5M-class stored payload index, each batch paying exactly-once
      // appendBatch + hardNegativesDelta — the steady-state cost a
      // continuous training-data pipeline pays per arriving batch, vs the
      // one-time build it amortizes (knn_index_build). One row per batch:
      // wall, shuffle, spill; rows/s = batch_rows / sec.
      if (opFilter.exists(_.exists(_.startsWith("knn_index_ingest_mine")))) {
        val idxPath = s"$stageDir/knnidxim_$n"
        def deleteTree(dir: String): Unit = {
          val p = Paths.get(dir)
          if (Files.exists(p))
            Files.walk(p).sorted(java.util.Comparator.reverseOrder())
              .forEach(f => Files.deleteIfExists(f))
        }
        deleteTree(idxPath)
        val labeled = embs
          .withColumn("lbl", pmod(xxhash64(col("vec_id"), lit("hn")), lit(16L)))
        // 80/20 split: a 5M corpus yields a 4M stored base and 20 × 50k
        // arriving batches (vec_id div 5 mod batches slices the delta)
        graft.operators.KnnIndex.build(
          labeled.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
          idxPath, payloadCol = "lbl")
        val batchRows = 50000L
        val batches = math.min(20L, math.max(1L, (n / 5) / batchRows))
        val deltaIds = labeled.filter(col("vec_id") % 5 === 0)
        (0L until batches).foreach { b =>
          val batch = deltaIds.filter(expr(s"(vec_id div 5) % $batches") === b)
          benchAct("knn_index_ingest_mine", () => {
            graft.operators.KnnIndex.appendBatch(batch, "vec_id", "embedding",
              idxPath, batchId = b, payloadCol = "lbl")
            graft.operators.KnnIndex.hardNegativesDelta(batch, "vec_id",
              "embedding", "lbl", idxPath, k = 5, nprobe = 4).count()
          }, s""""batch":$b,"batch_rows":${n / 5 / batches},"impl":"append_batch+mine"""")
        }
      }
      // The SAME campaign with the compaction policy in the loop: maintain()
      // after each batch (quiesced — this loop is the only maintainer)
      // compacts when mean directory rows cross the measured threshold, so
      // per-batch wall stays FLAT where the unmaintained campaign's climbs
      // ~linearly with accumulated fragmentation (read-amplification paid
      // on every mine). Rows record whether the batch compacted and the
      // compact's own wall inside the batch time — the honest steady-state
      // cost of the policy.
      if (opFilter.exists(_.exists(_.startsWith("knn_index_ingest_maint")))) {
        val idxPath = s"$stageDir/knnidximm_$n"
        def deleteTree(dir: String): Unit = {
          val p = Paths.get(dir)
          if (Files.exists(p))
            Files.walk(p).sorted(java.util.Comparator.reverseOrder())
              .forEach(f => Files.deleteIfExists(f))
        }
        deleteTree(idxPath)
        val labeled = embs
          .withColumn("lbl", pmod(xxhash64(col("vec_id"), lit("hn")), lit(16L)))
        graft.operators.KnnIndex.build(
          labeled.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
          idxPath, payloadCol = "lbl")
        val batchRows = 50000L
        val batches = math.min(20L, math.max(1L, (n / 5) / batchRows))
        val deltaIds = labeled.filter(col("vec_id") % 5 === 0)
        (0L until batches).foreach { b =>
          val batch = deltaIds.filter(expr(s"(vec_id div 5) % $batches") === b)
          var compacted = false
          benchAct("knn_index_ingest_maint", () => {
            graft.operators.KnnIndex.appendBatch(batch, "vec_id", "embedding",
              idxPath, batchId = b, payloadCol = "lbl")
            val c = graft.operators.KnnIndex.hardNegativesDelta(batch, "vec_id",
              "embedding", "lbl", idxPath, k = 5, nprobe = 4).count()
            compacted = graft.operators.KnnIndex.maintain(spark, idxPath)
            c
          }, s""""batch":$b,"batch_rows":${n / 5 / batches},"impl":"append_batch+mine+maintain"""")
          if (compacted) record(
            s"""{"op":"knn_index_ingest_maint_compacted","n_docs":$n,"batch":$b}""")
        }
      }
      // The STREAMING twin of knn_index_ingest_maint's append+maintain
      // component: the same 20 exactly-once batches driven through the
      // real Structured Streaming runtime (FILE stream source +
      // checkpoint + foreachBatch) with the policy IN-stream —
      // ingestStream(maintainEvery = 1). Measures what the engine's
      // source-discovery + offset/commit bookkeeping adds per batch over
      // the hand loop, and proves the self-maintaining stream at grid
      // scale. Mining is deliberately absent (miningStream is a separate
      // read-only query; the mining cost per batch is the ingest_mine
      // rows' story).
      //
      // Fed through a file source, NOT MemoryStream: the first 50M
      // attempt OOM'd in the batch-7 in-stream compact because
      // MemoryStream (plus the driver-side collect feeding it) holds
      // each 500k × 64-float batch as ~0.5-1 GB of boxed JVM objects —
      // a HARNESS artifact invisible at 5M's 50k batches. Files arriving
      // in a watched directory are the production arrival shape anyway:
      // rows never materialize on the driver.
      if (opFilter.exists(_.exists(_.startsWith("knn_index_ingest_stream")))) {
        val idxPath = s"$stageDir/knnidxis_$n"
        val ckptDir = s"$stageDir/knnidxis_ckpt_$n"
        val watchDir = s"$stageDir/knnidxis_in_$n"
        val feedDir = s"$stageDir/knnidxis_feed_$n"
        def deleteTree(dir: String): Unit = {
          val p = Paths.get(dir)
          if (Files.exists(p))
            Files.walk(p).sorted(java.util.Comparator.reverseOrder())
              .forEach(f => Files.deleteIfExists(f))
        }
        Seq(idxPath, ckptDir, watchDir, feedDir).foreach(deleteTree)
        Files.createDirectories(Paths.get(watchDir))
        val labeled = embs
          .withColumn("lbl", pmod(xxhash64(col("vec_id"), lit("hn")), lit(16L)))
        graft.operators.KnnIndex.build(
          labeled.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
          idxPath, payloadCol = "lbl")
        val batchRows = 50000L
        val batches = math.min(20L, math.max(1L, (n / 5) / batchRows))
        val deltaIds = labeled.filter(col("vec_id") % 5 === 0)
        val feed = deltaIds
          .select(col("vec_id"), col("embedding"), col("lbl"))
        // pre-stage each batch's parquet OUTSIDE the clock (the arrival
        // files a production upstream would land)
        (0L until batches).foreach { b =>
          feed.filter(expr(s"(vec_id div 5) % $batches") === b)
            .write.mode("overwrite").parquet(s"$feedDir/b$b")
        }
        // glob source + whole-directory renames: the running engine polls
        // the watched path continuously, so moving part files one at a
        // time can be LISTED mid-move and split one arrival across two
        // micro-batches (observed in the sig twin: a compact-lengthened
        // batch let the poll land mid-move). A directory rename is one
        // atomic FS op — the glob lists all of the batch's files or none.
        val src = spark.readStream.schema(feed.schema)
          .parquet(s"$watchDir/*")
        val q = graft.operators.KnnIndex.ingestStream(
            src, "vec_id", "embedding", idxPath, payloadCol = "lbl",
            maintainEvery = 1)
          .option("checkpointLocation", ckptDir).start()
        (0L until batches).foreach { b =>
          val genBefore = graft.operators.KnnIndex.membersDir(spark, idxPath)
          benchAct("knn_index_ingest_stream", () => {
            Files.move(Paths.get(s"$feedDir/b$b"),
              Paths.get(s"$watchDir/b$b"))
            q.processAllAvailable()
            n / 5 / batches
          }, s""""batch":$b,"batch_rows":${n / 5 / batches},"impl":"file_stream+maintain_every_1"""")
          if (graft.operators.KnnIndex.membersDir(spark, idxPath) != genBefore)
            record(
              s"""{"op":"knn_index_ingest_stream_compacted","n_docs":$n,"batch":$b}""")
        }
        q.stop()
      }
      // CONCURRENT READER-DURING-COMPACT liveness evidence, two JVMs on
      // one tree (the generation-pointer claim, measured instead of only
      // spec'd): the READER JVM (op knn_index_concurrent_reader) builds +
      // fragments the shared tree, then loops delta searches, labeling
      // each row with the generation it resolved; the MAINTAINER JVM
      // (op knn_index_concurrent_compact), launched mid-loop by the
      // driver script, compacts the same tree under the lease. Expected
      // evidence: the reader's gen label flips members-gen-0 → gen-1
      // between iterations with planted recall IDENTICAL on both sides
      // of the swap and zero failures; search walls during the compact
      // window inflate only by CPU sharing (both JVMs at local[32]).
      if (opFilter.exists(_.exists(_.startsWith("knn_index_concurrent")))) {
        val idxPath = s"$stageDir/knnidxcr_$n"
        val deltaEmb = embs.filter(col("vec_id") % 10 === 0)
        if (opFilter.exists(_.contains("knn_index_concurrent_reader"))) {
          if (!Files.exists(Paths.get(s"$idxPath/meta"))) {
            graft.operators.KnnIndex.build(
              embs.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
              idxPath)
            graft.operators.KnnIndex.append(
              deltaEmb, "vec_id", "embedding", idxPath)
          }
          (0 until 12).foreach { i =>
            val gen = graft.operators.KnnIndex.membersDir(spark, idxPath)
              .split('/').last
            benchAct("knn_index_concurrent_reader", () =>
              plantedPairs(graft.operators.KnnIndex.knnJoinDelta(
                deltaEmb, "vec_id", "embedding", idxPath, k = 5, nprobe = 4)),
              s""""iter":$i,"gen":"$gen","planted":${2 * (n / 20)}""",
              valueField = "recovered")
          }
        } else {
          benchAct("knn_index_concurrent_compact", () =>
            graft.operators.KnnIndex.compact(spark, idxPath).nLists.toLong,
            """"role":"maintainer_jvm"""", valueField = "n_lists")
        }
      }
      // near-dup verdicts for an arriving SIGNATURE batch against the
      // stored banded index — the multimodal dedupDelta: stored corpus
      // never re-banded or re-scanned beyond probed buckets, batch
      // leaders decided by one |delta|-sized self-join. Planted: every
      // 20-block position-0 row arrives in the batch and must name its
      // stored position-1 copy (hash within 1 flip) as dup_of_old.
      if (opFilter.exists(_.exists(_.startsWith("hash_near_dups_delta")))) {
        val hashPath = s"$stageDir/hashes_$n"
        if (!Files.exists(Paths.get(hashPath)))
          hashCorpus(spark, n).write.mode("overwrite").parquet(hashPath)
        val hashes = spark.read.parquet(hashPath)
          .select(col("id"), col("hash"))
        val sigPath = s"$stageDir/sigidx_$n"
        if (!Files.exists(Paths.get(s"$sigPath/meta")))
          graft.multimodal.Multimodal.buildSigIndex(
            hashes.filter(col("id") % 10 =!= 0), sigPath, bands = 4)
        val batch = hashes.filter(col("id") % 10 === 0)
        benchAct("hash_near_dups_delta", () =>
          graft.multimodal.Multimodal.nearDupDelta(batch, sigPath,
              maxHamming = 3)
            .filter(col("dup_of_old") === col("id") + 1).count(),
          s""""bands":4,"impl":"stored_band_dirs+bucket_pruned","planted":${n / 20}""",
          valueField = "recovered")
      }
      // The multimodal production loop as a STREAM, measured end-to-end:
      // sigIngestStream = per-batch nearDupDelta verdicts (the dedup
      // ledger) → exactly-once appendSigBatch → maintainSig with the
      // file-count policy in-stream. Same file-source feeding as
      // knn_index_ingest_stream (rows never materialize on the driver);
      // the recorded value is the batch's PLANTED verdicts recovered
      // (position-0 rows naming their stored position-1 copy), read back
      // from the just-committed ledger.
      if (opFilter.exists(_.exists(_.startsWith("sig_ingest_stream")))) {
        val hashPath = s"$stageDir/hashes_$n"
        if (!Files.exists(Paths.get(hashPath)))
          hashCorpus(spark, n).write.mode("overwrite").parquet(hashPath)
        val hashes = spark.read.parquet(hashPath)
          .select(col("id"), col("hash"))
        val sigPath = s"$stageDir/sigidxs_$n"
        val ckptDir = s"$stageDir/sigidxs_ckpt_$n"
        val watchDir = s"$stageDir/sigidxs_in_$n"
        val feedDir = s"$stageDir/sigidxs_feed_$n"
        val outDir = s"$stageDir/sigidxs_verdicts_$n"
        def deleteTree(dir: String): Unit = {
          val p = Paths.get(dir)
          if (Files.exists(p))
            Files.walk(p).sorted(java.util.Comparator.reverseOrder())
              .forEach(f => Files.deleteIfExists(f))
        }
        Seq(sigPath, ckptDir, watchDir, feedDir, outDir).foreach(deleteTree)
        Files.createDirectories(Paths.get(watchDir))
        graft.multimodal.Multimodal.buildSigIndex(
          hashes.filter(col("id") % 10 =!= 0), sigPath, bands = 4)
        val delta = hashes.filter(col("id") % 10 === 0)
        val batches = 20L
        (0L until batches).foreach { b =>
          delta.filter(expr(s"(id div 10) % $batches") === b)
            .write.mode("overwrite").parquet(s"$feedDir/b$b")
        }
        // glob source + atomic whole-directory arrival (see the knn twin:
        // per-file moves race the engine's continuous listing poll)
        val src = spark.readStream.schema(delta.schema)
          .parquet(s"$watchDir/*")
        val q = graft.multimodal.Multimodal.sigIngestStream(src, sigPath,
            verdictsDir = outDir, maxHamming = 3, maintainEvery = 1)
          .option("checkpointLocation", ckptDir).start()
        (0L until batches).foreach { b =>
          val genBefore = graft.multimodal.Multimodal.sigMembersDir(
            spark, sigPath)
          benchAct("sig_ingest_stream", () => {
            Files.move(Paths.get(s"$feedDir/b$b"),
              Paths.get(s"$watchDir/b$b"))
            q.processAllAvailable()
            spark.read.parquet(s"$outDir/batch=$b")
              .filter(col("dup_of_old") === col("id") + 1).count()
            // the (id div 10) slicing interleaves: EVEN batches hold only
            // position-0 rows (all planted), odd batches only position-10
            // rows (none)
          }, s""""batch":$b,"batch_rows":${n / 10 / batches},"planted":${if (b % 2 == 0) n / 10 / batches else 0L},"impl":"file_stream+verdicts+maintain_sig_every_1"""",
            valueField = "recovered")
          if (graft.multimodal.Multimodal.sigMembersDir(spark, sigPath)
              != genBefore)
            record(
              s"""{"op":"sig_ingest_stream_compacted","n_docs":$n,"batch":$b}""")
        }
        q.stop()
      }
      // READ-AMPLIFICATION CURVE of the stored SIGNATURE index (the
      // maintainSig policy's evidence — the knn_index_read_amp shape one
      // abstraction over): one fixed delta batch re-measured after each
      // append generation, then after compactSigIndex. Signature rows are
      // flat, so the amplification is purely the per-file listing + footer
      // pass nearDupDelta's member scan pays — each row carries
      // mean_files_per_dir at that step.
      if (opFilter.exists(_.exists(_.startsWith("sig_index_read_amp")))) {
        val hashPath = s"$stageDir/hashes_$n"
        if (!Files.exists(Paths.get(hashPath)))
          hashCorpus(spark, n).write.mode("overwrite").parquet(hashPath)
        val hashes = spark.read.parquet(hashPath)
          .select(col("id"), col("hash"))
        val sigPath = s"$stageDir/sigidxra_$n"
        def deleteTree(dir: String): Unit = {
          val p = Paths.get(dir)
          if (Files.exists(p))
            Files.walk(p).sorted(java.util.Comparator.reverseOrder())
              .forEach(f => Files.deleteIfExists(f))
        }
        deleteTree(sigPath)
        graft.multimodal.Multimodal.buildSigIndex(
          hashes.filter(col("id") % 10 =!= 0), sigPath, bands = 4)
        // fixed probe batch: every id ≡ 0 (mod 100) — 20-block position-0
        // rows whose stored position-1 copy (1 flip) is in the base at
        // every step, so recall is comparable across the curve
        val batch = hashes.filter(col("id") % 100 === 0)
        var appends = 0
        def measure(step: String): Unit = {
          val h = graft.multimodal.Multimodal.sigHealth(spark, sigPath)
          benchAct("sig_index_read_amp", () =>
            graft.multimodal.Multimodal.nearDupDelta(batch, sigPath,
                maxHamming = 3)
              .filter(col("dup_of_old") === col("id") + 1).count(),
            s""""step":"$step","appends":$appends,""" +
              s""""mean_files_per_dir":${h.meanFilesPerDir},""" +
              s""""files":${h.files},"planted":${n / 100}""",
            valueField = "recovered")
        }
        measure("fresh")
        (1 to 8).foreach { j =>
          graft.multimodal.Multimodal.appendSigIndex(
            hashes.filter(col("id") % 100 === (10 * j) % 100), sigPath)
          appends = j
          if (j == 2 || j == 5 || j == 8) measure(s"append$j")
        }
        val trigger = graft.multimodal.Multimodal.shouldCompactSig(spark, sigPath)
        benchAct("sig_index_read_amp_compact", () => {
          graft.multimodal.Multimodal.compactSigIndex(spark, sigPath)
          graft.operators.Generations.vacuum(spark, sigPath, graceMs = 0L)
          graft.multimodal.Multimodal.sigHealth(spark, sigPath).files
        }, s""""trigger_fired":$trigger""", valueField = "files_after")
        appends = 0
        measure("compacted")
      }
      // banded perceptual-hash near-dup join at SIGNATURE scale (no
      // decode): planted ≤3-bit-flip replicas recovered through the
      // bands=4 pigeonhole; volume records the 2^16-bucket saturation law
      if (opFilter.exists(_.exists(_.startsWith("hash_near_dups")))) {
        val hashPath = s"$stageDir/hashes_$n"
        if (!Files.exists(Paths.get(hashPath)))
          hashCorpus(spark, n).write.mode("overwrite").parquet(hashPath)
        val hashes = spark.read.parquet(hashPath)
        benchAct("hash_near_dups", () =>
          graft.multimodal.Multimodal.hashNearDups(hashes, maxHamming = 3,
              bands = 4)
            .filter(pmod(col("id_a"), lit(20L)) < 3 && pmod(col("id_b"), lit(20L)) < 3
              && (col("id_a") - pmod(col("id_a"), lit(20L)))
                === (col("id_b") - pmod(col("id_b"), lit(20L))))
            .count(),
          s""""bands":4,"impl":"first_band_dedup+sized_exchange","planted":${3 * (n / 20)}""",
          valueField = "recovered")
      }
      // the decode-then-join faces over REAL media bytes (JDK codecs in
      // executors): brightness-shifted PNG copies / gain-scaled WAV copies
      // must pair; decode runs inside the scan projection, so these rows
      // price decode + join together
      if (opFilter.exists(_.exists(_.startsWith("image_near_dups")))) {
        val mPath = s"$stageDir/media_img_$n"
        if (!Files.exists(Paths.get(mPath)))
          imageCorpus(spark, n).write.mode("overwrite").parquet(mPath)
        import spark.implicits._
        val media = spark.read.parquet(mPath)
          .as[graft.multimodal.Multimodal.MediaRow]
        benchAct("image_near_dups", () =>
          graft.multimodal.Multimodal.imageNearDups(media, maxHamming = 3)
            .filter(pmod(col("id_a"), lit(20L)) < 3 && pmod(col("id_b"), lit(20L)) < 3
              && (col("id_a") - pmod(col("id_a"), lit(20L)))
                === (col("id_b") - pmod(col("id_b"), lit(20L))))
            .count(),
          s""""impl":"jdk_decode+banded_dhash","planted":${3 * (n / 20)}""",
          valueField = "recovered")
      }
      if (opFilter.exists(_.exists(_.startsWith("audio_near_dups")))) {
        val mPath = s"$stageDir/media_aud_$n"
        if (!Files.exists(Paths.get(mPath)))
          audioCorpus(spark, n).write.mode("overwrite").parquet(mPath)
        import spark.implicits._
        val media = spark.read.parquet(mPath)
          .as[graft.multimodal.Multimodal.MediaRow]
        benchAct("audio_near_dups", () =>
          graft.multimodal.Multimodal.audioNearDups(media, maxHamming = 3)
            .filter(pmod(col("id_a"), lit(20L)) < 3 && pmod(col("id_b"), lit(20L)) < 3
              && (col("id_a") - pmod(col("id_a"), lit(20L)))
                === (col("id_b") - pmod(col("id_b"), lit(20L))))
            .count(),
          s""""impl":"jdk_decode+banded_ahash","planted":${3 * (n / 20)}""",
          valueField = "recovered")
      }

      // Edit-distance dedup over the 40-char doc prefixes. This corpus is
      // the planted-hot-trigram hazard by construction: the u³-warped Zipf
      // draw makes head words ("w0", "w1") appear in nearly every prefix, so
      // their trigrams have df ≈ N — exactly the blow-up the [2,
      // maxTrigramFreq] df gate exists to bound. The candidates row records
      // the post-gate candidate volume (rows column) so the grid shows it
      // growing ~linearly with N, not quadratically; the pairs row is the
      // full operator (candidates + Levenshtein verify).
      val dfGate = """"variant":"df_gate","max_trigram_freq":1000,"impl":"sized_gram_exchange""""
      val rarest = """"variant":"rarest_k","max_trigram_freq":1000,"rarest_k":4,"impl":"sized_gram_exchange""""
      bench("editdist_candidates", d => {
        val t = d.select(col("doc_id").as("id"),
            substring(trim(lower(col("text"))), 1, 40).as("s"))
          .filter(length(col("s")) >= 3)
        Dedup.editDistanceCandidates(t, maxTrigramFreq = 1000)
      }, s"""$dfGate,"corpus":"zipf_prefix"""")
      bench("editdist_pairs", d =>
        Dedup.editDistancePairs(d, "doc_id", "text",
          maxDist = 3, maxLen = 40, maxTrigramFreq = 1000),
        s"""$dfGate,"corpus":"zipf_prefix"""")
      // per-string rarest-k guard on top of the df gate — the scale path:
      // each string joins ≤ 4 posting lists, so the mid-frequency trigram
      // mass that defeats the df gate alone (98.7M candidates at 50k above)
      // collapses while planted replicas stay 100%-recalled
      bench("editdist_rarest_candidates", d => {
        val t = d.select(col("doc_id").as("id"),
            substring(trim(lower(col("text"))), 1, 40).as("s"))
          .filter(length(col("s")) >= 3)
        Dedup.editDistanceCandidates(t, maxTrigramFreq = 1000, rarestK = 4)
      }, s"""$rarest,"corpus":"zipf_prefix"""")
      bench("editdist_rarest_pairs", d =>
        Dedup.editDistancePairs(d, "doc_id", "text",
          maxDist = 3, maxLen = 40, maxTrigramFreq = 1000, rarestK = 4),
        s"""$rarest,"corpus":"zipf_prefix"""")

      // the same family over the letter-alphabet title corpus — the
      // operator's real domain and the planted HOT-TRIGRAM hazard; df-gate
      // -only vs rarest-k side by side. Planted recall target: N/20 dist-1
      // pairs.
      lazy val titles = {
        val titlePath = s"$stageDir/titles_$n"
        if (!Files.exists(Paths.get(titlePath)))
          titleCorpus(spark, n).write.mode("overwrite").parquet(titlePath)
        spark.read.parquet(titlePath)
      }
      // the title-corpus benchAct group (volume/recall rows; see stageFor)
      stageFor("editdist_title")(titles)
      def titleT(d: DataFrame) =
        d.select(col("doc_id").as("id"),
            substring(trim(lower(col("text"))), 1, 40).as("s"))
          .filter(length(col("s")) >= 3)
      // Pre-distinct candidate VOLUME (Σ_g C(df_g, 2) over the blocking
      // stream — one aggregate, no pair join) for both variants: the row
      // that shows the df gate's mid-frequency mass growing superlinearly
      // (~N² / trigram-space once every df is inside the gate) while
      // rarest-k holds it bounded — recordable at corpus sizes where
      // MATERIALIZING the df-only pairs is precisely the demonstrated cost.
      def blockedVolume(d: DataFrame, k: Int, q: Int = 3): Long =
        Dedup.editDistanceBlocked(titleT(d), maxTrigramFreq = 1000, rarestK = k,
            gramLen = q)
          .groupBy(col("g")).agg(count(lit(1)).as("df"))
          .agg(coalesce(sum(expr("df * (df - 1) div 2")), lit(0L)))
          .head().getLong(0)
      benchAct("editdist_title_volume", () => blockedVolume(titles, 0),
        s"""$dfGate,"corpus":"titles_hot_trigram"""", valueField = "volume")
      benchAct("editdist_title_volume_rarest", () => blockedVolume(titles, 4),
        s"""$rarest,"corpus":"titles_hot_trigram"""", valueField = "volume")
      // df-gate-only pair MATERIALIZATION stays capped at 50k: at 500k the
      // volume row above prices it in the BILLIONS of candidate rows —
      // running that join locally is the blow-up, not a measurement
      if (n <= 50000) {
        benchOn("editdist_title_candidates", titles, d =>
          Dedup.editDistanceCandidates(titleT(d), maxTrigramFreq = 1000),
          s"""$dfGate,"corpus":"titles_hot_trigram"""")
        benchOn("editdist_title_pairs", titles, d =>
          Dedup.editDistancePairs(d, "doc_id", "text",
            maxDist = 3, maxLen = 40, maxTrigramFreq = 1000),
          s"""$dfGate,"corpus":"titles_hot_trigram"""")
      }
      benchOn("editdist_title_rarest_candidates", titles, d =>
        Dedup.editDistanceCandidates(titleT(d), maxTrigramFreq = 1000, rarestK = 4),
        s"""$rarest,"corpus":"titles_hot_trigram","impl":"window_lag_dedup"""")
      benchOn("editdist_title_rarest_pairs", titles, d =>
        Dedup.editDistancePairs(d, "doc_id", "text",
          maxDist = 3, maxLen = 40, maxTrigramFreq = 1000, rarestK = 4),
        s"""$rarest,"corpus":"titles_hot_trigram","impl":"window_lag_dedup"""")
      // recovered planted pairs (id_b = block base + 1, dist exactly 1):
      // `rows` vs the N/20 planted target is the recall evidence at
      // nonzero cost — the claim the r7 grid could not support
      benchAct("editdist_title_rarest_recall", () =>
        Dedup.editDistancePairs(titles, "doc_id", "text",
            maxDist = 3, maxLen = 40, maxTrigramFreq = 1000, rarestK = 4)
          .filter(col("id_a") % 20 === 0 && col("id_b") === col("id_a") + 1
            && col("dist") === 1)
          .count(),
        s"""$rarest,"corpus":"titles_hot_trigram","planted":${n / 20}""",
        valueField = "recovered")

      // gram-length widening (q=5) — the guard that SCALES on this corpus:
      // the 27-char alphabet has only ~19.7k trigrams, so at 500k every
      // trigram's df is in the hundreds and no per-key gate can bound
      // candidate volume (260M pairs / 8.5 GB spill under rarest-k above);
      // 27^5 ≈ 14.3M 5-grams keeps per-gram df near 1 and volume collapses.
      // Recall is structurally safe: a gram SHARED by a planted pair has
      // df ≥ 2 by definition, so widening q only drops each string's
      // UNIQUE grams — the recall row is the proof. q66/q70's oracle path
      // stays gramLen=3 (its sf-corpus alphabet is trigram-rich).
      val q5gate = """"variant":"df_gate","max_trigram_freq":1000,"gram_len":5,"impl":"sized_gram_exchange""""
      val q5rarest =
        """"variant":"rarest_k","max_trigram_freq":1000,"rarest_k":4,"gram_len":5,"impl":"sized_gram_exchange""""
      benchAct("editdist_title_q5_volume", () => blockedVolume(titles, 0, 5),
        s"""$q5gate,"corpus":"titles_hot_trigram"""", valueField = "volume")
      // df-gate-only materialization capped at 500k: at 5M the 5-gram
      // space's mean df reaches ~9 and the volume row above prices the
      // df-only join in the hundreds of millions — rarest-k (below) is
      // the configuration that continues past that point
      if (n <= 500000)
        benchOn("editdist_title_q5_pairs", titles, d =>
          Dedup.editDistancePairs(d, "doc_id", "text",
            maxDist = 3, maxLen = 40, maxTrigramFreq = 1000, gramLen = 5),
          s"""$q5gate,"corpus":"titles_hot_trigram"""")
      benchOn("editdist_title_q5_rarest_pairs", titles, d =>
        Dedup.editDistancePairs(d, "doc_id", "text",
          maxDist = 3, maxLen = 40, maxTrigramFreq = 1000, rarestK = 4,
          gramLen = 5),
        s"""$q5rarest,"corpus":"titles_hot_trigram"""")
      benchAct("editdist_title_q5_recall", () =>
        Dedup.editDistancePairs(titles, "doc_id", "text",
            maxDist = 3, maxLen = 40, maxTrigramFreq = 1000, rarestK = 4,
            gramLen = 5)
          .filter(col("id_a") % 20 === 0 && col("id_b") === col("id_a") + 1
            && col("dist") === 1)
          .count(),
        s"""$q5rarest,"corpus":"titles_hot_trigram","planted":${n / 20}""",
        valueField = "recovered")
      // q=6 — the operator's own sizing rule (|Σ|^q ≳ 10·N: 27⁶ ≈ 387M
      // covers ~40M docs) says q=5 saturates past ~1M docs, and the 5M
      // q5 recall row confirms it (99.30%); this row is the measurement
      // that widening q restores recall at 5M while volume stays collapsed
      val q6rarest =
        """"variant":"rarest_k","max_trigram_freq":1000,"rarest_k":4,"gram_len":6,"impl":"sized_gram_exchange""""
      benchOn("editdist_title_q6_rarest_pairs", titles, d =>
        Dedup.editDistancePairs(d, "doc_id", "text",
          maxDist = 3, maxLen = 40, maxTrigramFreq = 1000, rarestK = 4,
          gramLen = 6),
        s"""$q6rarest,"corpus":"titles_hot_trigram"""")
      benchAct("editdist_title_q6_recall", () =>
        Dedup.editDistancePairs(titles, "doc_id", "text",
            maxDist = 3, maxLen = 40, maxTrigramFreq = 1000, rarestK = 4,
            gramLen = 6)
          .filter(col("id_a") % 20 === 0 && col("id_b") === col("id_a") + 1
            && col("dist") === 1)
          .count(),
        s"""$q6rarest,"corpus":"titles_hot_trigram","planted":${n / 20}""",
        valueField = "recovered")
      // exact ACCOUNTING without the pair list (editDistanceStats): the
      // verify runs inside the blocked join and only per-doc aggregates
      // cross an exchange, so scale points where Σ_g C(df_g, 2) pair rows
      // exceed the host disk (50M: the DiskBudgetExceeded row) still get
      // exact duplicate counts. checksum = Σ dup_pairs (= 2·|pairs|)
      // + Σ min_dist keeps both aggregate columns alive
      benchAct("editdist_title_q6_counts", () =>
        Dedup.editDistanceStats(titles, "doc_id", "text",
            maxDist = 3, maxLen = 40, maxTrigramFreq = 1000, rarestK = 4,
            gramLen = 6)
          .agg(coalesce(sum(col("dup_pairs")), lit(0L))
            + coalesce(sum(col("min_dist")), lit(0L)))
          .head().getLong(0),
        """"variant":"rarest_k","max_trigram_freq":1000,"rarest_k":4,"gram_len":6,"impl":"inline_verify_no_pair_list","corpus":"titles_hot_trigram"""",
        valueField = "checksum")

      // persisted positional trigram index (q109's production shape):
      // build once — range-clustered on tri, per-file min/max bounds in
      // the manifest — then query; the query row's wall-time should track
      // the PATTERN's posting lists (files_kept of files_total), not the
      // corpus, so it stays roughly flat 500k → 5M while build cost (the
      // amortized one) grows linearly.
      if (opFilter.forall(f =>
          f.contains("substring_index_build") || f.contains("substring_index_query"))) {
        val idxPath = s"$stageDir/triidx_$n"
        val idxPattern = titles.filter(col("doc_id") === lit(n / 2))
          .head().getString(1).substring(4, 20)
        benchAct("substring_index_build", () => {
          graft.operators.SubstringIndex.buildIndex(titles, "doc_id", "text", idxPath)
          graft.operators.SubstringIndex.indexFormat.dataBytes(spark, idxPath)
        }, valueField = "index_bytes")
        if (!Files.exists(Paths.get(s"$idxPath/_manifests")))
          graft.operators.SubstringIndex.buildIndex(titles, "doc_id", "text", idxPath)
        val (kept, tot) = graft.operators.SubstringIndex
          .planFiles(spark, idxPath, idxPattern)
        benchAct("substring_index_query", () =>
          graft.operators.SubstringIndex.search(spark, idxPath, idxPattern).count(),
          s""""files_kept":${kept.size},"files_total":$tot,"pattern_len":${idxPattern.length}""",
          valueField = "hits")
      }

      // Exact global NTILE over (len(text), doc_id) — the window-free rank
      // path; the groupBy keeps the tile computation alive under the count.
      bench("rank_ntile", d =>
        Rank.exactNtile(d, Seq(length(col("text")), col("doc_id")), n = 100)
          .groupBy(col("tile")).count())
      // Grouped rank with 5 HOT groups (the lang shape): the window-free
      // path spreads each group over the range partitioning; a
      // Window.partitionBy would run the whole corpus on 5 tasks.
      bench("group_rank", d =>
        Rank.withGroupRank(
            d.withColumn("grp", pmod(xxhash64(col("doc_id"), lit("g")), lit(5L))),
            Seq(col("grp")), Seq(length(col("text")).desc, col("doc_id").asc))
          .groupBy(col("grp")).agg(max(col("rank"))))
      // Heavy hitters, exact vs SpaceSaving: the exact path shuffles one
      // row per trigram INSTANCE through a sized window count (zero
      // map-side state); the _agg row is the partial-aggregate shape it
      // replaced as default (one hash entry per DISTINCT trigram per JVM —
      // the heavy-tail hazard); the summary ships 256 slots/partition.
      bench("top_ngrams_exact", d =>
        graft.operators.TextOps.topNgrams(d, "doc_id", "text", n = 3, k = 20),
        """"impl":"sized_window_count"""")
      bench("top_ngrams_exact_agg", d =>
        graft.operators.TextOps.topNgrams(d, "doc_id", "text", n = 3, k = 20,
          lowCardinality = true),
        """"impl":"partial_agg"""")
      bench("top_ngrams_sketch", d =>
        graft.operators.TextOps.topNgramsApprox(d, "doc_id", "text",
          n = 3, k = 20, counters = 256))
      // cross-partition merge agreement, recorded where the SpaceSaving
      // guarantee actually applies: over UNIGRAMS the Zipf head's top-20
      // counts tower over N/counters at every scale (f20 ≈ 0.15% of
      // tokens vs N/4096 ≈ 0.02%), so every exact top-20 token must
      // appear in the merged summary with est − err ≤ true ≤ est. `rows`
      // is the number of exact top-20 tokens whose sketch row exists AND
      // sandwiches the true count (target 20) — pinning the
      // 32-partial-summaries merge path at corpus scale, not just in the
      // unit spec. (Trigrams on this corpus are the documented
      // counter-case: top trigram freq ≈ 16 at 5k docs < N/counters ≈
      // 156 — no summary of that size can rank them, which is why the
      // agreement row doesn't use them.)
      benchAct("top_ngrams_agree", () => {
        // unigrams over a bounded vocabulary: the low-cardinality agg shape
        val exact = TextOps.topNgrams(docs, "doc_id", "text", n = 1, k = 20,
          lowCardinality = true)
        val sk = TextOps.topNgramsApprox(docs, "doc_id", "text",
          n = 1, k = 20, counters = 4096)
        exact.join(sk, "ngram")
          .filter(col("est") - col("err") <= col("freq")
            && col("freq") <= col("est")).count()
      }, """"ngram_n":1,"counters":4096,"k":20,"target_rows":20""")
      // Vocabulary coverage: rank + prefix sum over the (token, tf)
      // aggregate in one range shuffle — realistic ~30k-type vocabulary.
      bench("vocab_coverage", d => {
        val tf = d.select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
        Rank.withRunningTotal(tf, Seq(col("tf").desc, col("tok").asc),
            col("tf"), totalCol = "cum_tf", rankCol = Some("k"))
          .filter(col("k").isin(100L, 1000L, 10000L))
      })
      // Budgeted selection: global prefix sum over a quality order, cut at
      // ~half the corpus mass — the withRunningTotal shape under load.
      bench("token_budget", d =>
        Rank.withRunningTotal(d, Seq(length(col("text")).desc, col("doc_id").asc),
            length(col("text")))
          .filter(col("running_total") <= lit(n * 75L))
          .groupBy().count())
      // Grouped budgeted selection (the q106 shape under load): per-source
      // prefix sums through the grouped boundary stitch — 17 synthetic
      // sources, each capped at the same character budget (~8% of its
      // mass), so every group does real cutoff work at every scale.
      bench("source_budget", d =>
        Rank.withGroupRunningTotal(
            d.withColumn("source", pmod(xxhash64(col("doc_id"), lit("s")), lit(17L))),
            Seq(col("source")),
            Seq(length(col("text")).desc, col("doc_id").asc),
            length(col("text")))
          .filter(col("running_total") <= lit(n * 4L))
          .groupBy(col("source")).count(), """"sources":17""")

      // Event-stream windows (the q94/q97 shapes) at corpus scale: both
      // partition on the HIGH-cardinality user key (n/50 users), so the
      // per-task window state is one user's ~50 events regardless of
      // corpus size — the property these rows exist to evidence. The
      // session row materializes the full ordered event-type path per
      // session (sort_array over per-session structs); the rolling row is
      // a RANGE frame over event-time micros.
      lazy val events = {
        val evPath = s"$stageDir/events_$n"
        if (!Files.exists(Paths.get(evPath)))
          eventCorpus(spark, n).write.mode("overwrite").parquet(evPath)
        spark.read.parquet(evPath)
      }
      // The window FUNCTION state is one user's ~50 events, but the window
      // SORT holds a whole partition's rows: at the session constant a 50M-
      // event stream sorts ~1.6M rows per task — measured 8.5 GB of sort
      // spill in the session row's first 50M run. Size the user exchange
      // from the scan estimate (~6× in-sorter expansion of the parquet
      // bytes, ≤ 24 MB of sort state per task); the windows' required
      // ClusteredDistribution(user_id) is satisfied by this hash
      // partitioning, so no second exchange is inserted. Small streams
      // keep the session constant.
      lazy val evKeyed = {
        val evEst = events.queryExecution.analyzed.stats.sizeInBytes
        if (evEst <= 64L * 1024 * 1024) events
        else {
          val parts = math.max(spark.sessionState.conf.numShufflePartitions,
            (BigDecimal(evEst) * 6 / BigDecimal(24L << 20))
              .toBigInt.min(BigInt(
                graft.operators.Stage.maxExchangeParts(events))).toInt)
          events.repartition(parts, col("user_id"))
        }
      }
      // the event-stream benchAct group (see stageFor): forcing evKeyed
      // stages the events parquet AND resolves its sized user exchange
      stageFor("session_sequences", "rolling_counts")(evKeyed)
      benchAct("session_sequences", () => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        evKeyed
          .withColumn("prev_us", lag(col("us"), 1).over(w))
          .withColumn("new_s",
            when(col("prev_us").isNull
              || col("us") - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("session_id",
            sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            (max(col("us")) - min(col("us"))).as("span_us"),
            array_join(transform(
              array_sort(collect_list(struct(col("us").as("t"),
                col("event_id").as("e"), col("event_type").as("et")))),
              x => x.getField("et")), ">").as("path"))
          .agg(sum(col("n_events") + length(col("path")))).head().getLong(0)
      }, valueField = "checksum")
      benchAct("rolling_counts", () => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-86400000000L, 0L)
        evKeyed.withColumn("n_24h", count(lit(1)).over(w))
          .agg(sum(col("n_24h"))).head().getLong(0)
      }, valueField = "checksum")

      // Z-order layout rewrites are write-path ops — EliminateSorts would
      // drop their sortWithinPartitions under a bare count(), so the action
      // is a real parquet write of the clustered layout.
      lazy val zdocs = docs.withColumn("len", length(col("text")))
      benchAct("zorder_cluster", () => {
        ZOrder.clusterBy(zdocs, Seq("doc_id", "len"))
          .write.mode("overwrite").parquet(s"$stageDir/zorder_$n")
        n
      }, valueField = "rows_written")
      benchAct("zorder_equidepth", () => {
        ZOrder.clusterByEquiDepth(zdocs, Seq("doc_id", "len"))
          .write.mode("overwrite").parquet(s"$stageDir/zorder_eq_$n")
        n
      }, valueField = "rows_written")
    }
    spark.stop()
  }
}
