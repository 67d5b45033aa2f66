package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashExpressions

/** Typed budget failure of the pair-MATERIALIZING edit-distance path: the
  * exact pre-join candidate volume (Σ_g C(df_g, 2), one cheap aggregate
  * over the blocked stream) exceeded the session's declared pair budget
  * (`spark.graft.editdist.maxCandidatePairs`, default unlimited). Thrown
  * BEFORE the self-join runs, carrying the arithmetic a planner needs —
  * the alternative is an executor dying mid-join with a raw memory/disk
  * error after minutes of work (the r12 50M-title failure mode). The
  * accounting sibling ([[Dedup.editDistanceStats]]) computes exact per-doc
  * duplicate counts WITHOUT materializing the pair list and is the
  * documented route past this wall. */
final case class SaturationBudgetExceeded(
    candidatePairs: Long,
    budgetPairs: Long,
    windows: Long,
    alphabet: Int,
    gramSpace: Double,
    meanDf: Double,
    exactVolume: Boolean
) extends RuntimeException(
    f"edit-distance ${if (exactVolume) "candidate volume" else "PREDICTED candidate volume (windows·meanDf/2, saturated regime)"} " +
      f"$candidatePairs%d pairs exceeds " +
      f"spark.graft.editdist.maxCandidatePairs=$budgetPairs%d " +
      f"(windows=$windows%d, alphabet=$alphabet%d, gramSpace=$gramSpace%.0f, " +
      f"meanDf=$meanDf%.2f${if (meanDf >= 1.5) " — SATURATED: widen gramLen or use editDistanceStats" else ""})")

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB case:
  *
  *  - exact: one hash-aggregate shuffle on the dedup key.
  *  - MinHash + LSH: per-row signatures (scan-local), then one shuffle on
  *    (band, bucket) — candidate generation is O(near-dups), never O(N²).
  *  - SimHash: 64-bit signature per row, banded for Hamming-radius search.
  *  - n-gram Jaccard: inverted-index join with a hot-shingle cutoff so the
  *    shuffle stays bounded under Zipfian shingle frequencies.
  *
  * Execution-shape rules applied everywhere:
  *
  *  1. **Signatures are native codegen'd expressions**
  *     ([[graft.functions.HashExpressions]]) — the higher-order-function
  *     formulations never enter whole-stage codegen and re-walk the token
  *     array once per hash slot. The native loops hash each element once.
  *  2. **Stage expensive array expressions as real projection steps**
  *     (tokens → shingles → signature), so each runs once per row.
  *  3. **Widen only when narrow** ([[Stage.ensureWide]]): a small corpus can
  *     arrive as one parquet split and must fan out to every core, but an
  *     input that is already wide is left alone — no unconditional shuffle
  *     of the corpus payload.
  *  4. **Self-joins are symmetric over one canonical plan**: both sides of
  *     each banded candidate join are the same aliased frame, so Spark
  *     shuffles the signature pipeline once and the second side reads the
  *     `ReusedExchange` — no `persist()`, nothing left in executor storage
  *     after the action completes.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per distinct key; report copy count.
    * One shuffle on the key (map-side partial aggregation applies). */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** [[exact]] without the key columns in the output — q15's projection
    * `(keep_id, n_copies)`. The key columns are exactly what makes the
    * classic shape byte-heavy at corpus scale: they are the GROUP KEY, so
    * even though the caller prunes them from the output, every per-split-
    * distinct text crosses the exchange. When the input is large enough
    * for that to matter (file-backed stats above
    * `spark.graft.exactSlim.minBytes`, default 64 MB), this switches to
    * the decide-with-small-rows shape (guide §8 / §2.3 "shuffle keys and
    * metadata instead of payloads"), EXACTNESS PRESERVED — hashes only
    * ROUTE rows, they never decide equality:
    *
    *  1. one skinny aggregate over `(id, hk = xxhash64(keys))` — the
    *     exchange carries ~23 B/row on the wire instead of the text;
    *  2. an hk group of size 1 proves its key occurs exactly once
    *     globally (equal keys always share hk), so it emits
    *     `(its id, 1)` with no text ever shuffled;
    *  3. only rows of hk groups of size ≥ 2 — real duplicates plus the
    *     ~2⁻⁶⁴·pairs hash-collision noise — are re-read and confirmed by
    *     an exact `groupBy(keys)`, broadcast-semi-joined on the colliding
    *     hk set so the big side is never exchanged to attach the verdict.
    *
    * The colliding-hk cardinality is measured with one eager skinny count
    * (the [[minhashLsh]] volume-job discipline) and the broadcast only
    * fires under `spark.graft.exactSlim.maxBroadcastKeys` (default 16M
    * keys ≈ 256 MB relation); above it — a corpus where most keys are
    * duplicated, so candidate refetch approaches a full re-shuffle — the
    * classic single-exchange shape is the better plan and is kept.
    * Measured at the 5M-doc grid corpus: the pre-verdict exchange drops
    * from the per-split-distinct TEXT stream to slim rows, 113.8 MB over
    * 5M rows ≈ 23 B/row on the wire (docs/bench_r16_notes.md). Small inputs
    * (including every driver SF) keep the classic plan bit-for-bit. */
  def exactCounts(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val minBytes = df.sparkSession.conf
      .get("spark.graft.exactSlim.minBytes", (64L * 1024 * 1024).toString).toLong
    val large = !df.isStreaming && Stage.statsKnown(df) &&
      df.queryExecution.analyzed.stats.sizeInBytes > minBytes
    lazy val classic = exact(df, idCol, keyCols).select(col("keep_id"), col("n_copies"))
    if (!large) classic
    else {
      val hk = xxhash64(keyCols.map(col): _*)
      val slim = df.select(col(idCol).as("__id"), hk.as("__hk"))
      val byHk = slim.groupBy(col("__hk"))
        .agg(min(col("__id")).as("keep_id"), count(lit(1)).as("n_copies"))
      val multi = byHk.filter(col("n_copies") >= 2).select(col("__hk"))
      val maxKeys = df.sparkSession.conf
        .get("spark.graft.exactSlim.maxBroadcastKeys", (16L * 1024 * 1024).toString).toLong
      if (multi.count() > maxKeys) classic
      else {
        val singles = byHk.filter(col("n_copies") === 1)
          .select(col("keep_id"), col("n_copies"))
        val confirmed = df
          .select(col(idCol).as("__id") +: hk.as("__hk") +: keyCols.map(col): _*)
          .join(broadcast(multi), "__hk")
          .groupBy(keyCols.map(col): _*)
          .agg(min(col("__id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .select(col("keep_id"), col("n_copies"))
        singles.unionByName(confirmed)
      }
    }
  }

  /** Whitespace tokens of lowercased text. */
  private def toks(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Word n-gram shingles from a token-array column, distinct. */
  def shinglesFromTokens(tk: Column, n: Int): Column =
    array_distinct(
      when(size(tk) < n, array(concat_ws(" ", tk)))
        .otherwise(transform(sequence(lit(1), size(tk) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(tk, i + k)): _*))))

  /** Word n-gram shingles of `text` (default 3-word shingles), distinct.
    * Prefer the staged [[shinglesFromTokens]] inside dataframe pipelines. */
  def shingles(text: Column, n: Int = 3): Column = shinglesFromTokens(toks(text), n)

  /** (id, tokens) projection staged for the CPU-bound signature stages that
    * follow; widened only if the input arrives narrow. Shingling itself is
    * fused into the native signature expressions — materializing shingle
    * strings through `transform`/`concat_ws` HOFs would pull the whole
    * projection out of whole-stage codegen. */
  /** (id, tokens) with the token expression ABOVE the width exchange: a
    * narrow input (one file split at headline scale) repartitions the RAW
    * (id, text) rows first, so tokenization runs at session parallelism
    * instead of single-threaded inside the lone split, and the exchange
    * carries the compact text rather than the fatter token arrays — the
    * r15 small-path application of the wide-born-explode rule (see
    * [[ngramJaccard]]'s shLarge). Catalyst keeps the expression above the
    * repartition (only column selections push through), and an
    * already-wide input returns from ensureWide unchanged, so the large
    * shape is untouched. Measured: q23_ngram_pairs 1.19 → 0.82 s and
    * q21_minhash_pairs 0.50 → 0.32 s at sf0.1 (min-of-5, local[32]). */
  private def tokenFrame(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Stage.ensureWide(df.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), toks(col("text")).as("tk"))

  /** MinHash signature: `numHashes` longs, slot `i` = min over the shingle
    * set of a per-slot avalanche mix of the shingle's xxhash64. Native
    * codegen'd expression — one byte pass per shingle, `numHashes` integer
    * mixes, no intermediate arrays. Scan-local, no shuffle. */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    HashExpressions.minhash_signature(sh, numHashes)

  /** Estimated Jaccard from two signatures: fraction of agreeing slots
    * (native codegen'd scalar — no intermediate arrays). */
  def signatureSimilarity(a: Column, b: Column): Column =
    HashExpressions.signature_agreement(a, b)

  /** MinHash + LSH near-duplicate pairs.
    *
    * signatures → `bands` bands of `numHashes/bands` rows each → bucket id =
    * xxhash64(band slice) → self-join per (band, bucket) → DISTINCT candidate
    * id pairs → re-attach the two signatures → keep pairs whose signature
    * similarity ≥ `threshold`.
    *
    * The band self-join deliberately carries only (id, band, bucket) — 24
    * bytes/row — NOT the `numHashes`-long signature. Shipping the signature
    * through the band exchange (the previous formulation) multiplies the
    * shuffle payload by bands × signature width on BOTH join sides, and
    * every bucket collision re-ships it. Candidates are deduplicated across
    * bands (`distinct`) while still skinny, then the signature attaches via
    * two id-keyed joins against the one canonical signature frame — whose
    * exchanges are canonically identical, so the signature computes once
    * there and the second join reads the reused exchange (or a single
    * broadcast when the signature table's size estimate fits an executor —
    * [[Stage.attachSide]]); no sort ever sees a signature-laden row.
    * Similarity is computed once per unique pair instead of once per
    * shared band.
    *
    * Measured at 500k docs (docs/corpusbench_local32.jsonl, local[32]):
    * shuffle 3.17 GB → 0.43 GB (7.3×), spill 15.9 GB → 0, and local wall
    * 6.7 s → 5.3 s — a win on every axis even where local-disk shuffle is
    * nearly free; on a network-shuffle cluster the 7× byte reduction is
    * the term that scales.
    *
    * LAZINESS CAVEAT (scale shape only): above the 256 MB signature-size
    * threshold, CONSTRUCTING this DataFrame runs one eager Spark job —
    * the exact pre-dedup pair volume Σ_bucket C(df, 2) that sizes the
    * pair exchange (Catalyst's size-only estimator prices a self-join
    * quadratically, so the plan cannot be sized lazily). To keep that
    * job from paying the scan→tokenize→signature pipeline twice, `sig`
    * is persisted (MEMORY_AND_DISK) before the volume job and the
    * returned plan reads the same cached frame; the cache entry lives in
    * the session CacheManager (keyed by plan — repeated calls over the
    * same input reuse it) until evicted or `spark.catalog.clearCache()`.
    * Below the threshold construction is fully lazy and nothing caches.
    *
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    */
  def minhashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      shingleLen: Int = 3
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    // Fused shingling+signature (one native codegen'd pass per row; MinHash
    // over the shingle multiset equals MinHash over the distinct set).
    val sig0 = tokenFrame(df, idCol, textCol)
      .select(col("id"),
        HashExpressions.minhash_shingles(col("tk"), shingleLen, numHashes).as("sig"))
    // Small/large shape switch on one estimate, decided ONCE for the whole
    // operator: under the broadcast threshold the r7 plan is optimal (AQE
    // broadcasts the band self-join, pairs dedup via distinct, signatures
    // broadcast-attach — adding sized exchanges here measured 2× on the
    // 5k-doc bench corpus because they defeat the broadcast plan); above
    // it every exchange is sized.
    val sigEst = sig0.queryExecution.optimizedPlan.stats.sizeInBytes
    val smallCorpus = sigEst <= 256L * 1024 * 1024
    // Small path: materialize the signature frame ONCE per invocation
    // (eager localCheckpoint). The broadcast plan references the signature
    // pipeline from FOUR independent subtrees — the band join's shuffled
    // left, its broadcast right, and the two id-keyed attach broadcasts —
    // and exchange reuse cannot span a shuffle and three broadcast builds,
    // so scan → tokenize → 64-slot signature re-ran up to four times per
    // action (static plan shows four `minhashshingles` scans). One ≤256 MB
    // checkpoint removes the recomputes: q21 0.357 → 0.242 s (min-of-5,
    // local[32], sf0.1), results hash-identical. Blocks are reference-
    // tracked and freed by the ContextCleaner when the frame is GC'd —
    // the ConnectedComponents iteration discipline, not a persist() leak;
    // nothing is keyed on the input across invocations (each call
    // checkpoints afresh), so repeated runs recompute from the scan.
    // The large path keeps its lazy pipeline (sized exchanges + the
    // documented volume-job persist); streaming frames cannot checkpoint.
    val sig = if (smallCorpus && !sig0.isStreaming) sig0.localCheckpoint() else sig0
    // Band buckets as a static array of codegen'd slice hashes — not a
    // higher-order `transform`, which would evaluate interpreted.
    val bandBuckets = array((0 until bands).map(b =>
      xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)
    val rawBanded = sig.select(col("id"), posexplode(bandBuckets))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // At scale the band self-join is one canonical SIZED exchange read
    // twice (ReusedExchange): pre-partitioning on the join key scales the
    // join's per-partition work with the banded volume instead of the
    // session constant (32 partitions sorted ~100 MB each at 5M docs —
    // 7.8 GB of graceful-but-needless spill).
    val banded =
      if (smallCorpus) rawBanded
      else Stage.sizedBuild(rawBanded, Seq("band", "bucket"))
    val l = banded.as("l")
    val r = banded.as("r")
    val rawPairs = l
      .join(r, col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    // Pair dedup, same shape switch: below the threshold `.distinct()`
    // wins — its partial-agg state is bounded by the (small) corpus, and
    // the scale path's volume job + extra exchange are pure constant
    // overhead. Above it, the distinct's map-side state (one hash entry
    // per distinct PAIR per JVM) is the hazard — 4.5 GB of spill at 5M
    // docs — so equal pairs die in an id_a-keyed lag window (the
    // editDistanceCandidates shape) sized from the EXACT pre-dedup volume
    // Σ_bucket C(df,2). That bucket-size aggregate runs ON the sized
    // banded exchange, whose partitioning already satisfies the groupBy —
    // a single complete aggregate with NO map-side partial, so its state
    // is distinct-buckets-per-PARTITION.
    // ONE harmonized partition count for the pair stream and both
    // signature attaches (Stage.sizedBuildParts): with differing counts
    // EnsureRequirements re-exchanges one side to the other's, and a
    // smaller probe count undoes the build sizing — measured heap OOM
    // building 94 MB sig relations at 5M docs.
    val pairParts =
      if (smallCorpus) 0
      else {
        // the eager volume job (see scaladoc) — persist sig FIRST so this
        // job and the caller's main query share one scan→signature pass;
        // the banded exchange itself recomputes (exchange reuse does not
        // span jobs) but from the cached frame, not the raw text
        sig.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val volume = banded.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("bdf"))
          .agg(coalesce(sum(expr("bdf * (bdf - 1) div 2")), lit(0L)))
          .head().getLong(0)
        Seq(df.sparkSession.sessionState.conf.numShufflePartitions,
          math.min(Stage.maxExchangeParts(df), volume / (1L << 20)).toInt,
          Stage.sizedBuildParts(sig)).max
      }
    val candidates =
      if (smallCorpus) rawPairs.distinct()
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("id_a")).orderBy(col("id_b"))
        rawPairs
          .repartition(pairParts, col("id_a"))
          .withColumn("prev", lag(col("id_b"), 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("id_b"))
          .drop("prev")
      }
    val sigAttach =
      if (smallCorpus) broadcast(sig)
      else sig.repartition(pairParts, col("id")).hint("SHUFFLE_HASH")
    candidates
      .join(sigAttach.as("sa"), col("id_a") === col("sa.id"))
      .join(sigAttach.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        round(signatureSimilarity(col("sa.sig"), col("sb.sig")), 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** 64-bit SimHash from a token-array column: bit j of the signature is set
    * iff the sum over tokens of ±1 (sign of bit j of xxhash64(token)) is
    * positive. Native codegen'd expression. */
  def simhashFromTokens(tk: Column): Column = HashExpressions.simhash64(tk)

  /** SimHash of lowercased whitespace tokens of `text`. */
  def simhash(text: Column): Column = simhashFromTokens(toks(text))

  /** Banded SimHash pair generation over a precomputed `(id, sig)` frame:
    * candidate pairs agree exactly on at least one of `chunks` contiguous
    * `chunkBits`-bit chunks of the signature (pigeonhole: a pair within
    * Hamming distance `chunks - 1` always does; farther pairs are best-
    * effort recall), kept when total Hamming distance ≤ `maxHamming`.
    * Symmetric self-join over one canonical plan → ReusedExchange, same
    * shape as the MinHash band join. */
  def simhashPairsFromSig(
      sig: DataFrame,
      maxHamming: Int,
      chunks: Int = 4,
      chunkBits: Int = 16
  ): DataFrame = {
    val mask = (1L << chunkBits) - 1
    val chunkArr = array((0 until chunks).map(b =>
      shiftrightunsigned(col("sig"), b * chunkBits).bitwiseAND(lit(mask))): _*)
    val banded = sig.select(col("id"), col("sig"), posexplode(chunkArr))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.chunk") === col("r.chunk"))
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.sig").bitwiseXOR(col("r.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
  }

  /** SimHash near-duplicate pairs within a Hamming radius, banded LSH over
    * 4×16-bit chunks of the native 64-bit signature. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3
  ): DataFrame =
    simhashPairsFromSig(
      // tokenize above the width exchange — see [[tokenFrame]]
      Stage.ensureWide(df.select(col(idCol).as("id"), col(textCol).as("text")))
        .select(col("id"), simhashFromTokens(toks(col("text"))).as("sig")),
      maxHamming)

  /** 60-bit SimHash whose per-token hash is the top 60 bits of `md5(token)`
    * — every step (md5, hex→int, bit tests, the ±1 bit votes) is plain ANSI
    * SQL, so an external engine can recompute the signature bit-for-bit from
    * the raw text and the WHOLE banded pair pipeline (hash → signature →
    * chunk banding → Hamming gate) becomes oracle-checkable, not just
    * spec-checkable. The native xxhash64 [[simhash]] stays the production
    * path: one codegen'd pass per row, no shuffle; this variant pays one
    * token explode + aggregation and is for cross-engine verification and
    * engine-portable pipelines. Ties (bit vote sum 0) resolve to 0. */
  def portableSimhashSigs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bits = 60 // 15 hex chars: the 60-bit prefix fits a signed 64-bit int in any engine
    // token explode + md5 ABOVE the width exchange (see [[tokenFrame]]): a
    // narrow arrival repartitions the RAW (id, text) rows, so the per-token
    // md5 pipeline runs at session parallelism instead of single-threaded
    // inside the lone split, and the exchange carries 1× text instead of
    // exploded token rows — the last narrow-arrival explode in the dedup
    // family (r15 carried item); ensureWide is the identity on wide inputs.
    val tok = Stage.ensureWide(
        df.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), explode(toks(col("text"))).as("t"))
      .select(col("id"),
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("h"))
    val votes = (0 until bits).map(j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$j"))
    val sigExpr = (0 until bits)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"), sigExpr.as("sig"))
  }

  /** Portable MinHash + LSH near-duplicate pairs — the cross-engine-
    * checkable sibling of [[minhashLsh]], same move as
    * [[portableSimhashSigs]]: every step is plain ANSI SQL (md5-prefix
    * shingle hash, `(a_i·h + b_i) mod p` universal-hash slots, band keys as
    * delimited strings), so an external engine can recompute the WHOLE
    * pipeline — shingling → signature → banding → candidate join →
    * agreement estimate — bit-for-bit from the raw text. The native
    * xxhash64 [[minhashLsh]] stays the production path (fused codegen'd
    * signature, hashed band buckets); this variant pays shingle-string
    * materialization + 32 arithmetic MIN aggregates and exists for
    * verification and engine-portable pipelines.
    *
    * Same exchange discipline as [[minhashLsh]]: the band self-join carries
    * (id, band, key) only, candidates dedupe while skinny, signatures
    * attach via two id-joins over one canonical frame ([[Stage.attachSide]]).
    *
    * Returns (id_a, id_b, est_jaccard = agreeing-slot fraction) with
    * id_a < id_b, est_jaccard ≥ threshold. */
  /** The q54 portable signature pipeline, shared by [[portableMinhashLsh]]
    * and [[incrementalMinhashDedup]]: md5-derived shingle hashes, affine
    * per-slot min-hashes mod P (all-long math, ANSI-replayable), and the
    * banded (id, band, key) stream. Returns (sigs, banded). */
  private def portableSigBands(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleLen: Int): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rpb = numHashes / bands
    val P = 2147483647L // 2^31 − 1, prime; a_i·h < 2^38 keeps all math in longs
    // shingles() is per-doc distinct, so (id, shingle) needs no re-distinct
    // shingle + explode ABOVE the width exchange (see [[tokenFrame]]): the
    // exchange moves 1× raw text instead of the exploded shingle strings,
    // and the explode+md5 pipeline runs at session parallelism
    val hashed = Stage.ensureWide(
        df.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), explode(shingles(col("text"), shingleLen)).as("s"))
      .select(col("id"),
        (conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long") % P).as("h"))
    val slotAggs = (0 until numHashes).map(i =>
      min((col("h") * lit(2L * i + 3) + lit(5L * i + 7)) % P).as(s"m$i"))
    val sigs = hashed.groupBy(col("id")).agg(slotAggs.head, slotAggs.tail: _*)
    val bandKeys = array((0 until bands).map(b =>
      concat_ws(",", (0 until rpb).map(j =>
        col(s"m${b * rpb + j}").cast("string")): _*)): _*)
    val banded = sigs.select(col("id"), posexplode(bandKeys))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    (sigs, banded)
  }

  def portableMinhashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 16,
      threshold: Double = 0.5,
      shingleLen: Int = 3
  ): DataFrame = {
    val (sigs, banded) =
      portableSigBands(df, idCol, textCol, numHashes, bands, shingleLen)
    val l = banded.as("l")
    val r = banded.as("r")
    val candidates = l
      .join(r, col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val sigAttach = Stage.attachSide(sigs)
    val agree = (0 until numHashes).map(i =>
      when(col(s"sa.m$i") === col(s"sb.m$i"), 1).otherwise(0)).reduce(_ + _)
    candidates
      .join(sigAttach.as("sa"), col("id_a") === col("sa.id"))
      .join(sigAttach.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        round(agree.cast("double") / numHashes, 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Incremental-ingest dedup — the production shape at 100 TB: the OLD
    * corpus is already admitted (its signatures/bands in practice
    * precomputed and stored; the formula is per-doc independent, so
    * recomputing here is value-identical), and only the NEW batch is
    * classified. Each new doc reports its smallest-id near-duplicate in
    * the old corpus and among EARLIER new docs (per-pair EXISTS, the q83
    * rule: a matched new doc still blocks later ones), and is kept iff
    * neither exists. The candidate joins ship only (id, band, key) and
    * never pair old docs with each other — the work is |new|-driven, not
    * |old|²: the point of incremental over re-running the full pairwise
    * pass. Every stage is the q54 portable pipeline, so the whole verdict
    * replays in ANSI SQL.
    *
    * Returns (doc_id, dup_of_old, dup_of_new, kept) for every new doc
    * with at least one shingle; −1 marks no match. */
  def incrementalMinhashDedup(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 16,
      threshold: Double = 0.5,
      shingleLen: Int = 3
  ): DataFrame = {
    val (sigsOld, bandedOld) =
      portableSigBands(oldDocs, idCol, textCol, numHashes, bands, shingleLen)
    val (sigsNew, bandedNew) =
      portableSigBands(newDocs, idCol, textCol, numHashes, bands, shingleLen)
    val agree = (0 until numHashes).map(i =>
      when(col(s"sa.m$i") === col(s"sb.m$i"), 1).otherwise(0)).reduce(_ + _)
    val est = round(agree.cast("double") / numHashes, 6)
    incrementalVerdicts(sigsOld, bandedOld, sigsNew, bandedNew, est, threshold)
  }

  /** [[incrementalMinhashDedup]] on the NATIVE signature family (the q21
    * fused codegen'd `MinHashShingles` pass + xxhash64 band buckets) —
    * the production delta pass: identical verdict logic, ~15× the
    * portable pipeline's throughput at 500k docs (the md5-and-32-affine-
    * mins tax is what buys q87 its ANSI replay; recall math is the same,
    * signatures are not). Spec-gated like the other native hash paths. */
  def incrementalMinhashDedupNative(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      shingleLen: Int = 3
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    def sigBands(df: DataFrame): (DataFrame, DataFrame) = {
      val sig = tokenFrame(df, idCol, textCol)
        .select(col("id"),
          HashExpressions.minhash_shingles(col("tk"), shingleLen, numHashes).as("sig"))
      val bandBuckets = array((0 until bands).map(b =>
        xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)
      val banded = sig.select(col("id"), posexplode(bandBuckets))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
      (sig, banded)
    }
    val (sigsOld, bandedOld) = sigBands(oldDocs)
    val (sigsNew, bandedNew) = sigBands(newDocs)
    val est = round(signatureSimilarity(col("sa.sig"), col("sb.sig")), 6)
    incrementalVerdicts(sigsOld, bandedOld, sigsNew, bandedNew, est, threshold)
  }

  /** Shared candidate + verdict logic of the incremental variants: bands
    * must be (id, band, key); `est` is the similarity estimate over the
    * `sa`(new)/`sb`(other) signature aliases. */
  private def incrementalVerdicts(
      sigsOld: DataFrame, bandedOld: DataFrame,
      sigsNew: DataFrame, bandedNew: DataFrame,
      est: Column, threshold: Double): DataFrame = {
    def verified(cands: DataFrame, otherSigs: DataFrame,
        otherCol: String): DataFrame =
      cands
        .join(Stage.attachSide(sigsNew).as("sa"), col("nid") === col("sa.id"))
        .join(Stage.attachSide(otherSigs).as("sb"), col(otherCol) === col("sb.id"))
        .filter(est >= threshold)
        .groupBy(col("nid")).agg(min(col(otherCol)).as(s"min_$otherCol"))
    // the banded build sides grow with the corpus while the session
    // partition count does not — size their exchanges so each hash
    // relation stays in a task's memory share (Stage.sizedBuild; measured
    // OOM at 4.5M banded docs under 32 session partitions)
    val vsOld = bandedNew.as("l")
      .join(Stage.sizedBuild(bandedOld, Seq("band", "key")).as("r")
          .hint("SHUFFLE_HASH"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .select(col("l.id").as("nid"), col("r.id").as("oid")).distinct()
    val vsNew = bandedNew.as("l")
      .join(Stage.sizedBuild(bandedNew, Seq("band", "key")).as("r")
          .hint("SHUFFLE_HASH"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key")
          && col("l.id") < col("r.id"))
      .select(col("r.id").as("nid"), col("l.id").as("eid")).distinct()
    val oldMatch = verified(vsOld, sigsOld, "oid")
    val newMatch = verified(vsNew, sigsNew, "eid")
    sigsNew.select(col("id"))
      .join(oldMatch.hint("SHUFFLE_HASH"), col("id") === oldMatch("nid"), "left")
      .drop("nid")
      .join(newMatch.hint("SHUFFLE_HASH"), col("id") === newMatch("nid"), "left")
      .drop("nid")
      .select(col("id").as("doc_id"),
        coalesce(col("min_oid"), lit(-1L)).as("dup_of_old"),
        coalesce(col("min_eid"), lit(-1L)).as("dup_of_new"),
        when(col("min_oid").isNull && col("min_eid").isNull, 1L).otherwise(0L)
          .as("kept"))
  }

  /** Exact n-gram Jaccard similarity — the DEFAULT, zero-join posting-list
    * formulation. One scan, one shuffle on the shingle hash, pairs emitted
    * from a local double-explode of each capped posting list.
    *
    * Settled by measurement against [[ngramJaccardJoin]] on the
    * deterministic corpus (docs/corpusbench_local32.jsonl, local[32],
    * min-of-2, default Spark confs): posting wins at EVERY scale —
    * 0.74 s vs 0.84 s at 5k docs, 1.16 s vs 2.15 s at 50k, 9.8 s vs
    * 24.8 s at 500k — with ~15% less shuffle (1.32 GB vs 1.55 GB at 500k)
    * and 4.7× less spill (7.5 GB vs 35 GB). The one configuration that
    * made it lose (62-73 s, GC-bound) was raising the object-hash-agg
    * sort-fallback threshold; see the in-body comment — the default
    * fallback is load-bearing and deliberately left alone.
    *
    * At 5M docs the sized exchanges (in-body comment) cut wall 495 s →
    * ~105 s and spill 161 GB → 28.6 GB; the r11 wide-born-explode shape
    * (exchange the compact raw stream BEFORE the 24× explode, so the
    * exploded stream is born in sized map tasks) takes the residual
    * map-writer spill to ~53 MB — 28.5 GB → 0.05 GB at 5M, 7.5 GB → 0
    * at 500k — for one extra ~4 GB exchange of the 1× text stream
    * (wall statistically unchanged on this page-cache-rich host;
    * on real executors the removed spill is write+re-read disk I/O
    * while the added exchange pipelines). Residual spill is the
    * posting aggregate's sort-based fallback — MANAGED, spill-capable
    * sorter memory by construction (degrades gracefully at any scale;
    * contrast the unmanaged-heap hash-map hazard documented at
    * [[graft.operators.TextOps]].windowFreqs), and on a cluster it
    * divides by executors, not by this host's one JVM. */
  def ngramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      shingleLen: Int = 3,
      maxShingleFreq: Int = 1000
  ): DataFrame = {
    // Shuffle on a 64-bit shingle hash, not the shingle string: the group
    // key, and the exchange payload all shrink, and xxhash64 collisions are
    // negligible for intersection counting. The distinct hashes come from
    // one native codegen'd pass (the strings are never materialized into the
    // plan). `explode_outer` + null filter instead of `explode`, because the
    // non-outer generator makes Catalyst infer a `size(shingle_hashes(…))>0`
    // scan filter that re-runs the shingle hashing below the exchange.
    //
    // ONE pass builds the whole inverted index: groupBy(sh_h) with the
    // capped posting-list aggregate collects each shingle's documents and
    // drops Zipf-hot shingles (freq > maxShingleFreq → NULL, buffer freed
    // at cap+1 — bounded memory, see [[graft.functions.CappedPostings]]).
    // Candidate pairs then come from a local double-explode of each posting
    // list — no frequency pre-count, no re-join against a filtered key set,
    // no self-join: the corpus is scanned once, shuffled once on sh_h, and
    // once more as the (much smaller) pair stream. Singleton shingles (the
    // Zipf tail) cannot form a pair and die on the size≥2 gate; hotter-
    // than-cap shingles are dropped — the standard recall/cost dial, pairs
    // sharing only dropped shingles can be missed.
    // The posting aggregate is a TypedImperativeAggregate, so the groupBy
    // runs on ObjectHashAggregateExec, which abandons hashing for sort-based
    // aggregation after `objectHashAggregate.sortBased.fallbackThreshold`
    // in-memory groups (default 128; a shingle index has millions). The
    // obvious "fix" — raising the threshold so the phases stay hash-based —
    // was MEASURED AND REJECTED: with a 2^21-group threshold the per-task
    // ObjectAggregationMap holds millions of live buffer objects and the
    // run goes GC-bound (50k docs: 73 s vs 1.2 s under the default
    // fallback; 500k: OOMs an 8 GB JVM outright). The early sort fallback
    // is load-bearing: sorted runs stream group-at-a-time with O(1) live
    // buffers. Left at the Spark default deliberately.
    val tf = tokenFrame(df, idCol, textCol)
    val sh = tf
      .select(col("id"), HashExpressions.shingle_hashes(col("tk"), shingleLen).as("shs"))
      .select(col("id"), size(col("shs")).as("n_sh"), explode_outer(col("shs")).as("sh_h"))
      .filter(col("sh_h").isNotNull)
    // Small/large shape switch, same single-estimate gate as minhashLsh:
    // under the threshold the zero-extra-exchange r6 plan stands (the two
    // groupBys ride the session partition count, which is right-sized for
    // small inputs); above it, both exchanges are SIZED. The session
    // constant was the 5M-doc disaster: ~600M exploded shingle rows into
    // 32 partitions runs the ObjectHashAggregate's sort fallback as a
    // ~19M-row external sort per task — measured 161 GB of sort spill /
    // 495 s at 5M docs (grid row impl-less ngram_posting@5M). Pre-keying
    // the RAW exploded stream on sh_h with a size-derived count bounds
    // each task's sorted run instead; the map-side partial aggregate was
    // contributing nothing there anyway (shingle instances are scattered
    // pre-shuffle, so partial groups are ~singletons — all that pass did
    // was sort-and-spill the stream once more before the wire).
    //
    // Partition count: Catalyst's no-action estimate of the pre-explode
    // token frame × a fixed explode-expansion factor (the estimator cannot
    // see through Generate — the same documented correction as
    // TextOps.sizedByKey). Expansion 24×: each ~6.5 raw text chars yield
    // one token ⇒ one exploded row at ~50 B of SORT state (32 B UnsafeRow
    // for (id, n_sh, sh_h) + sorter pointer/prefix) ≈ 8× the raw text
    // bytes, parquet-compressed stats under-report raw text ~2×, and the
    // sort-fallback aggregate needs ~1.5× headroom for its serialized
    // partial buffers — 8× was measured to leave ~80 MB of sort state per
    // task at 5M docs, just over the ~75 MB/task execution-memory share at
    // 32 concurrent tasks on the 8 GB fork heap (one spill generation
    // each, ~140 GB of managed-spill accounting). Over-estimating is
    // benign (smaller, more numerous tasks); the floor keeps small frames
    // at session parallelism.
    //
    // With this sizing the REDUCE side is clean (per-stage probe at 5M:
    // ~50 MB of reduce spill across 1084 tasks). The MAP-side writer term —
    // each file split pushing its whole exploded share (~850 MB at 5M /
    // 128 MB splits) through spill-capable sorter pages, the former ~28 GB
    // grid residue — is removed by the wide-born-explode pre-exchange
    // below (shLarge): the exploded stream is born in shParts tasks, so
    // each sh_h writer holds volume/shParts ≈ 14 MB serialized.
    // ANALYZED-plan stats: same size-only file figures as `optimizedPlan`
    // would yield, without re-running the optimizer batches per call on top
    // of the main query's own optimization (the r9 q23 driver-side
    // regression at sf0.1)
    val textEst = tf.queryExecution.analyzed.stats.sizeInBytes
    // 64 MB gate (not the 256 MB the attach-side joins use): the explode's
    // 24× expansion means even a 219 MB-compressed corpus (500k grid docs)
    // pushes ~60M exploded rows through the session-constant exchanges —
    // measured 7.5 GB of sort spill on the small path — while the headline
    // tables (≤ 1 MB) stay far below any plausible gate. The large shape's
    // only fixed cost is one exchange of the compact raw stream.
    val large = textEst > 64L * 1024 * 1024
    val shParts = {
      val floor = df.sparkSession.sessionState.conf.numShufflePartitions
      val want = (BigDecimal(textEst) * 24 / BigDecimal(48L << 20))
        .toBigInt.min(BigInt(Stage.maxExchangeParts(df))).toInt
      math.max(floor, want)
    }
    // Large shape: exchange the COMPACT 1× raw (id, text) stream to the
    // sized width BEFORE tokenize/shingle/explode, so the 24× exploded
    // stream is BORN in shParts map tasks. Without this the explode runs
    // inside the scan's file splits and the sh_h exchange's writer pages
    // each split's whole exploded share (~850 MB at 5M docs / 128 MB
    // splits) through its ~75 MB execution-memory slice — the grid row's
    // remaining ~28 GB of (managed) map-side spill. The pre-exchange
    // carries raw text (~1/24 of the exploded volume, and it's the
    // shuffle-codec-friendly payload), keyed on id — a hash exchange, so
    // no round-robin determinism sort — and the projection ordering keeps
    // the token/shingle expressions ABOVE it (Catalyst's pruning pushes
    // only column selections through a repartition, never expressions).
    // Post-fix each sh_h writer holds volume/shParts ≈ 14 MB serialized:
    // zero spill generations at any corpus size, because shParts and the
    // writer share scale together. The same one-exchange-earlier shape is
    // what a 1000-executor cluster wants: expansion stages should never
    // widen THROUGH a shuffle writer sized by the scan's split count.
    val shLarge =
      if (large)
        df.select(col(idCol).as("id"), col(textCol).as("text"))
          .repartition(shParts, col("id"))
          .select(col("id"),
            HashExpressions.shingle_hashes(toks(col("text")), shingleLen).as("shs"))
          .select(col("id"), size(col("shs")).as("n_sh"),
            explode_outer(col("shs")).as("sh_h"))
          .filter(col("sh_h").isNotNull)
      else sh
    val shKeyed = if (large) shLarge.repartition(shParts, col("sh_h")) else sh
    val postings = shKeyed.groupBy(col("sh_h"))
      .agg(graft.functions.CappedPostings
        .capped_postings(col("id"), col("n_sh"), maxShingleFreq).as("docs"))
      .filter(col("docs").isNotNull && size(col("docs")) >= 2)
    // The pair stream reuses the SAME sized count: its pre-aggregate volume
    // (Σ_sh C(|docs|, 2), caps bounded) tracks the posting volume. A
    // map-side partial count would buy little here — a pair's repeats come
    // from the shingles it SHARES, which live in different sh_h partitions,
    // so per-partition repeat factors are small; what matters is that the
    // post-exchange count state (distinct pairs per partition) is bounded
    // by the sized count instead of the session constant.
    val pairStream = postings
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
    // Small path: pin the pair exchange at the session partition count too
    // (explicit count ⇒ AQE cannot coalesce it). Without the pin, AQE
    // coalesces by the POSTING exchange's bytes (~4.6 MB at the 5k-doc
    // headline → 4 tasks) — blind to the double-explode's row expansion
    // behind it — so the posting-final + pair-emission stage runs ~1 s of
    // CPU on 4 tasks, and the map-side pair partial aggregate builds its
    // hash table there too for ~zero byte reduction (a pair's repeats live
    // in other sh_h partitions; measured 20.2 MB partial-aggregated vs
    // 19.7 MB raw). With the pin the partial collapses into the final
    // above the exchange at full session width. Measured (min-of-5,
    // local[32], sf0.1): 0.99 → 0.76 s; stage walls 369 → 224 ms
    // (pair emission) and the 16-task final becomes 32-task/84 ms.
    val pairKeyed =
      if (large) pairStream.repartition(shParts, col("id_a"), col("id_b"))
      else pairStream.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions,
        col("id_a"), col("id_b"))
    pairKeyed
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
      .select(col("id_a"), col("id_b"),
        round(col("inter") / (col("n_a") + col("n_b") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard similarity via inverted-index join — the
    * alternative formulation, kept as the measured comparison target for
    * [[ngramJaccard]] (which beats it at every corpus scale tried; see its
    * scaladoc for the numbers) and for engines/sessions where a custom
    * imperative aggregate is unavailable.
    *
    * Explode distinct shingles → drop shingles shared by more than
    * `maxShingleFreq` docs (Zipf guard: a stopword shingle would otherwise
    * produce a quadratic bucket) → count shared shingles per pair →
    * `|A∩B| / (|A|+|B|-|A∩B|)`. Pairs sharing only dropped shingles can be
    * missed — that is the standard recall/cost dial.
    *
    * One explicit hash shuffle of the exploded (id, n_sh, sh_h) stream feeds
    * BOTH the frequency aggregate and the join probe side — the exchange is
    * canonically identical in the two branches, so the explode+hash pipeline
    * computes once and everything downstream reads the ReusedExchange,
    * already clustered on sh_h. Fully codegen'd over primitive rows, but
    * pays a second pass over the exploded stream (the self-join) that the
    * posting formulation replaces with a local double-explode. */
  def ngramJaccardJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      shingleLen: Int = 3,
      maxShingleFreq: Int = 1000
  ): DataFrame = {
    val sh = tokenFrame(df, idCol, textCol)
      .select(col("id"), HashExpressions.shingle_hashes(col("tk"), shingleLen).as("shs"))
      .select(col("id"), size(col("shs")).as("n_sh"), explode(col("shs")).as("sh_h"))
      .repartition(col("sh_h"))
    // Shingle-frequency gate as an aggregate + join rather than a window (no
    // sort of the full stream). Kept shingles need 2..maxShingleFreq docs:
    // singletons (the Zipf tail) cannot form a pair, and hotter shingles are
    // the quadratic-cost guard.
    val freqs = sh.groupBy(col("sh_h")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= 2 && col("freq") <= maxShingleFreq)
      .select(col("sh_h"))
    val filtered = sh.join(freqs, "sh_h")
      .select(col("id"), col("n_sh"), col("sh_h"))
    val l = filtered.as("l")
    val r = filtered.as("r")
    l.join(r, col("l.sh_h") === col("r.sh_h"))
      .filter(col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.n_sh").as("n_a"), col("r.n_sh").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .select(col("id_a"), col("id_b"),
        round(col("inter") / (col("n_a") + col("n_b") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold, candidates from
    * random-hyperplane LSH buckets — the same banded-join shape as MinHash,
    * so no O(N²) scan. Bucket assignment is one native codegen'd array pass
    * per row ([[graft.functions.HashExpressions.HyperplaneBuckets]]). */
  /** Edit-distance (Levenshtein) near-duplicate pairs — the dedup modality
    * for SHORT strings (titles, names, headers), where token shingling is
    * too coarse. Candidates must (a) share at least one character trigram
    * and (b) differ in length by at most `maxDist` — both sound pre-filters
    * for edit distance ≤ maxDist on strings long enough to contain a
    * trigram — then every candidate is verified with the exact
    * `levenshtein` builtin. Blocking is the same inverted-index join shape
    * as [[graft.operators.Contamination]]: (id, trigram) streams skinny
    * through the equi-join, candidate id pairs dedupe before the full
    * strings attach ([[Stage.attachSide]]), so no exchange ever carries a
    * string payload. Levenshtein is O(len²) per pair — `maxLen` caps the
    * compared prefix so verification cost is bounded by construction.
    *
    * Trigram document frequency is Zipf-skewed (short strings share stock
    * prefixes — "the", "re:", log-line headers), and a trigram present in
    * f·N docs contributes ~(fN)²/2 candidate pairs before the distinct — the
    * quadratic hazard of every inverted-index blocker. `maxTrigramFreq`
    * gates the index with the same aggregate+join shape as
    * [[ngramJaccardJoin]]: only trigrams whose df lies in
    * [2, maxTrigramFreq] block (singletons cannot form a pair; hotter
    * trigrams are the quadratic guard), so per-trigram candidate volume is
    * bounded by maxTrigramFreq²/2 regardless of corpus size. Pairs whose
    * ONLY shared trigrams are hot are missed — the standard recall/cost
    * dial; true near-dups at maxDist ≤ 3 share nearly all of their ≤ maxLen
    * trigrams, so losing the stock-prefix head costs essentially no recall.
    * `rarestK > 0` adds the second, per-string guard — each string blocks
    * only on its k globally-rarest gated trigrams (see
    * [[editDistanceCandidates]] for the measured rationale and recall
    * argument) — the configuration that holds candidate volume ~linear on
    * corpora whose mid-frequency trigram mass defeats the df gate alone.
    *
    * `gramLen` is the third guard, and the one that SCALES: both gates
    * bound per-trigram and per-string emission, but when the gram SPACE
    * itself saturates (|Σ|^q ≪ N — a 27-letter alphabet has only ~19.7k
    * trigrams, so at 500k strings every trigram's df is in the hundreds
    * and even each string's 4 rarest pull ~520 candidates apiece:
    * 260M pairs / 8.5 GB of verify-side spill measured on the hot-trigram
    * title grid), no per-key gate can help — the fix is a sparser space.
    * Choose q with |Σ|^q ≳ 10·N (q=5 ⇒ 14.3M grams covers ~1M docs; q=6
    * ⇒ 387M covers ~40M; at web scale, block per shard). Widening q
    * CANNOT lose a true pair to the df≥2 gate — a gram SHARED by a pair
    * has df ≥ 2 by definition; what df≥2 drops is each string's UNIQUE
    * grams, which at sparse occupancy is precisely the noise that would
    * otherwise displace shared grams from the rarest-k sets — so planted
    * recall holds while candidate volume collapses (the
    * editdist_title_q5 grid rows are the measurement, and the rule's
    * 5M-doc prediction is confirmed both ways: q=5 saturates there —
    * planted recall decays to 99.30% no matter how the exchanges are
    * sized — while the editdist_title_q6 rows restore 99.95%, exactly
    * the q ≥ log_|Σ|(10·N) the rule prescribes). Lower bound:
    * near-dup recall needs strings of ≥ q chars and (for the worst case)
    * (len − q + 1) − maxDist·q ≥ 1 shared grams — at maxLen 40, q=5,
    * maxDist 3 that is 21; strings shorter than q never block.
    *
    * Saturation + budget: the sizing job diagnoses a saturated gram space
    * up front ([[gramSaturation]] — alphabet^q vs window count) and
    * re-prices the unspillable gate build from the FULL window volume when
    * the df ≥ 2 gate has stopped filtering; and because this path
    * MATERIALIZES the candidate pair stream, a session may declare
    * `spark.graft.editdist.maxCandidatePairs` (default unlimited) to turn
    * a predictable blow-up into a typed [[SaturationBudgetExceeded]] —
    * thrown before the self-join, carrying the full arithmetic — instead
    * of an executor memory/disk death mid-join. [[editDistanceStats]] is
    * the budget-free accounting route at pair-infeasible scale.
    *
    * Cache note: above the sizing gate the blocking stream is persisted
    * (MEMORY_AND_DISK) so the volume job, both self-join sides, and the
    * verify join share one computation; the entry lives in the session
    * CacheManager until evicted — sessions issuing many large invocations
    * should `spark.catalog.clearCache()` between them.
    *
    * Returns (id_a, id_b, dist) with id_a < id_b, dist ≤ maxDist. */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      maxLen: Int = 40,
      maxTrigramFreq: Int = 1000,
      rarestK: Int = 0,
      gramLen: Int = 3
  ): DataFrame = {
    val t = Stage.ensureWide(
        df.select(col(idCol).as("id"),
          substring(trim(lower(col(textCol))), 1, maxLen).as("s")))
      .filter(length(col("s")) >= gramLen)
    val candidates = editDistanceCandidates(t, maxTrigramFreq, rarestK, gramLen)
    val attach = Stage.attachSide(t)
    candidates
      .join(attach.as("ta"), col("id_a") === col("ta.id"))
      .join(attach.as("tb"), col("id_b") === col("tb.id"))
      .filter(abs(length(col("ta.s")) - length(col("tb.s"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("ta.s"), col("tb.s")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Exact per-doc edit-distance dedup ACCOUNTING at pair-infeasible scale:
    * the same blocking, gating, and Levenshtein verify as
    * [[editDistancePairs]], but the verify runs INSIDE the blocked
    * self-join and only aggregates survive — the global candidate-pair
    * list (Σ_g C(df_g, 2) rows — 261M at 500k titles under rarest-k, and
    * the measured multi-TB disk wall at 50M) is never materialized,
    * exchanged, or deduplicated as a stream.
    *
    * The pair dedup that [[editDistanceCandidates]] does with an id_a-keyed
    * window happens here ROW-LOCALLY instead: each join side carries its
    * full gated gram set (≤ rarestK entries in rarest-k mode, ≤ maxLen−q+1
    * otherwise — bytes, not a stream), and a candidate row is kept only at
    * the pair's MINIMUM shared gram (`g == array_min(array_intersect(
    * grams_a, grams_b))` — never null since the join key is in both sets).
    * Both sides agree on the total order (plain substring grams, byte
    * comparison), so each pair survives exactly once and Levenshtein runs
    * exactly once per candidate pair — identical work to the pairs path,
    * with the pair stream consumed inline by filters and a partial
    * aggregate whose exchange is ~verified-duplicate-sized (2.5M rows at
    * 50M titles, not 10¹¹ candidates).
    *
    * Plan shape: the [[editDistanceBlocked]] gram pipeline (sized
    * exchanges, wide-born explode), one id-keyed collect_set + string
    * attach (SHUFFLE_HASH, build = the compact (id, s) stream), one sized
    * g-exchange of the ≤ n·rarestK set-carrying stream reused by both join
    * sides, then filters → partial agg. On a cluster every stage is
    * hash-partitioned and linear in corpus bytes except the join's filter
    * scan, which is the same Σ_g C(df_g, 2) CPU term the pairs path pays.
    *
    * Returns per-doc rows (id, dup_pairs, min_dist) for docs with ≥ 1
    * verified pair (each pair counted at BOTH endpoints, so
    * Σ dup_pairs = 2 · |pairs|). */
  def editDistanceStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      maxLen: Int = 40,
      maxTrigramFreq: Int = 1000,
      rarestK: Int = 0,
      gramLen: Int = 3
  ): DataFrame = {
    val t = Stage.ensureWide(
        df.select(col(idCol).as("id"),
          substring(trim(lower(col(textCol))), 1, maxLen).as("s")))
      .filter(length(col("s")) >= gramLen)
    val p = gramExchangeParts(t, gramLen)
    val blocked = editDistanceBlocked(t, maxTrigramFreq, rarestK, gramLen, p)
    // per-id gated gram sets: the rarest-k path leaves `blocked` id-
    // clustered (its window exchange), so this aggregate adds no exchange
    // there; the df-gate path pays one sized id exchange
    val sets = blocked.groupBy(col("id"))
      .agg(sort_array(collect_set(col("g"))).as("grams"))
    val tKeyed = if (p > 0) t.repartition(p, col("id")) else t
    val side0 = sets.join(tKeyed.hint("SHUFFLE_HASH"), "id")
    // wide-born explode: side0 is already at the sized id width, so the
    // ≤ |grams|× expansion is born in p map tasks and the g exchange's
    // writer holds its share, not a file split's
    val side = side0.select(col("id"), col("s"), col("grams"),
      explode(col("grams")).as("g"))
    val sideG =
      if (p > 0) side.repartition(p, col("g")) else side.repartition(col("g"))
    val verified = sideG.as("a")
      .join(sideG.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          abs(length(col("a.s")) - length(col("b.s"))) <= maxDist &&
          col("a.g") === array_min(array_intersect(col("a.grams"), col("b.grams"))))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        levenshtein(col("a.s"), col("b.s")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
    verified
      .select(explode(array(col("id_a"), col("id_b"))).as("id"), col("dist"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("dup_pairs"), min(col("dist")).as("min_dist"))
  }

  /** Blocking stage of [[editDistancePairs]], exposed so benchmarks can
    * measure candidate volume directly. Input must be (id, s); returns
    * distinct (id_a, id_b) with id_a < id_b sharing at least one BLOCKING
    * trigram. Blocking trigrams are those with document frequency in
    * [2, maxTrigramFreq]; with `rarestK > 0`, each string additionally
    * emits only its `rarestK` RAREST gated trigrams (ties broken by the
    * trigram itself), so a pair forms only through a trigram in BOTH
    * strings' rarest-k sets.
    *
    * The two guards bound different axes. The df gate caps PER-TRIGRAM
    * volume (≤ maxTrigramFreq²/2 pairs each) but total volume still grows
    * with the number of mid-frequency trigrams — measured on the Zipf-
    * prefix corpus: 8.3M candidates for 5k strings, 98.7M for 50k, gate
    * never exceeded. Rarest-k caps PER-STRING emission (≤ k posting-list
    * memberships per string), collapsing exactly that mid-frequency mass;
    * true near-dups share nearly all of their ≤ maxLen−2 trigrams, so their
    * global df ranking — computed from full-corpus counts both strings see
    * identically — picks near-identical rarest-k sets for both and recall
    * survives (spec-asserted: 100% on planted replica groups).
    *
    * Trigrams block as plain 3-char SUBSTRINGS, not hashes: the key is
    * already ≤ 3 bytes (smaller than a 64-bit hash), byte-order comparison
    * is engine-portable (UTF-8 bytes both here and in DuckDB), and the
    * rarest-k tie-break `(freq, g)` therefore replays exactly in the ANSI
    * oracle — no float/hash-family caveat anywhere in the pipeline.
    *
    * Plan shape: one explicit hash shuffle of the exploded (id, g) stream
    * feeds the df aggregate and both join sides (ReusedExchange, the
    * [[ngramJaccardJoin]] gate shape); the rarest-k path adds one skinny
    * (id, g, freq) exchange for its per-id window. */
  private[graft] def editDistanceCandidates(
      t: DataFrame,
      maxTrigramFreq: Int,
      rarestK: Int = 0,
      gramLen: Int = 3
  ): DataFrame = {
    // One sizing job shared by the blocking stage and the join below; on
    // the large path the blocked stream is re-keyed on g (what the
    // self-join needs) and PERSISTED — the volume job, which otherwise
    // re-executes the whole gram→gate→rarest pipeline, then forces the
    // cache and both join sides read it with their distribution already
    // satisfied, so the join's sorts run per sized partition instead of
    // in session-constant waves.
    val (gramParts, satDiag) = gramPlan(t, gramLen)
    val budget = t.sparkSession.conf
      .get("spark.graft.editdist.maxCandidatePairs", Long.MaxValue.toString).toLong
    // PREDICTIVE budget gate, before any heavy stage: in the saturated
    // regime Σ_g C(df_g, 2) ≈ windows·meanDf/2 (Σ df² over a ~uniformly
    // loaded space), so a breach is known from the sizing job's own
    // arithmetic — the typed error costs two cheap jobs instead of the
    // full gram pipeline the exact-volume check below must run. The
    // exact check still guards the non-saturated blow-ups (mid-frequency
    // mass the prediction can't see).
    satDiag.filter(_.saturated).foreach { sat =>
      val predicted = (sat.windows * sat.meanDf / 2).toLong
      if (predicted > budget)
        throw SaturationBudgetExceeded(predicted, budget, sat.windows,
          sat.alphabet, sat.gramSpace, sat.meanDf, exactVolume = false)
    }
    val blockedRaw = editDistanceBlocked(t, maxTrigramFreq, rarestK, gramLen, gramParts)
    val blocked =
      if (gramParts == 0) blockedRaw
      else blockedRaw.repartition(gramParts, col("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Pair dedup WITHOUT a `.distinct()`: the distinct's map-side partial
    // aggregate holds one hash entry per distinct pair per JVM — measured
    // 45.8 GB of spill at 500k hot-trigram titles (260M pairs). Instead,
    // duplicates die inside an id_a-keyed window sort (zero map-side
    // state, the [[graft.operators.TextOps]] frequency-gate shape): equal
    // (id_a, id_b) rows are adjacent under orderBy(id_b) and a lag
    // comparison keeps the first. The exchange is sized from the EXACT
    // pre-distinct pair volume — Σ_g C(df_g, 2), one scalar aggregate
    // over the skinny blocking stream (bounded driver action: 1 row) —
    // because Catalyst's size-only visitor estimates a self-join
    // quadratically and the session constant under-partitions it. Per-key
    // volume is bounded (≤ rarestK·maxTrigramFreq pairs per id_a), so the
    // id_a hash exchange cannot skew.
    val volume = blocked.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(expr("df * (df - 1) div 2")), lit(0L)))
      .head().getLong(0)
    // EXACT pair-budget gate, before the self-join: `volume` is the exact
    // pre-distinct pair count, so a session that declares a budget
    // (`spark.graft.editdist.maxCandidatePairs` — e.g. free-disk/48 B on a
    // measurement host; unlimited by default, clusters size their disks)
    // gets a typed error carrying the full arithmetic instead of an
    // executor dying mid-join. Saturated corpora usually fail the cheap
    // predictive gate above first; this catches the rest.
    if (volume > budget) {
      val windows = t.agg(coalesce(sum(greatest(length(col("s")) - (gramLen - 1),
        lit(0)).cast("long")), lit(0L))).head().getLong(0)
      val sat = gramSaturation(t, gramLen, windows)
      if (gramParts != 0) blocked.unpersist(false)
      throw SaturationBudgetExceeded(volume, budget, sat.windows,
        sat.alphabet, sat.gramSpace, sat.meanDf, exactVolume = true)
    }
    val floor = t.sparkSession.sessionState.conf.numShufflePartitions
    // ~48 bytes of sort state per pair row (UnsafeRow + sorter pointer),
    // ~48 MB in-memory per task
    val parts = math.max(floor,
      math.min(Stage.maxExchangeParts(blocked), volume / (1L << 20)).toInt)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a")).orderBy(col("id_b"))
    blocked.as("a")
      .join(blocked.as("b"), col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .repartition(parts, col("id_a"))
      .withColumn("prev", lag(col("id_b"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("id_b"))
      .drop("prev")
  }

  /** Sized width for the (id, g) gram exchanges, or 0 for the legacy
    * session-constant shape on small inputs. The gram stream's exact upper
    * bound is Σ max(len(s) − q + 1, 0) — one skinny aggregate over the
    * string column (an EAGER job, the minhashLsh volume-job discipline;
    * Catalyst's estimator cannot see through the explode) — at ~40 B of
    * sort/shuffle state per gram row, ~48 MB per task. Below the 64 MB
    * estimate gate nothing is priced and nothing changes: the 5M-doc grid
    * point is what motivated this — the gram exchange, the rarest-k id
    * window, and the self-join sorts all ran at the session constant,
    * sorting ~150M gated gram rows in 32-partition waves (41 GB of
    * measured spill at 5M titles, q=5, zero at 500k where the constant
    * happens to fit). */
  /** Saturation diagnosis for the q-gram blocking stage: when the gram
    * SPACE (≤ alphabet^q distinct grams) is small next to the corpus's
    * window count, expected document frequency exceeds 1 and the df ≥ 2
    * gate stops filtering — the gated stream jumps from "shared grams
    * only" to ~the full gram volume, and every downstream consumer priced
    * from a gated estimate undershoots (the measured r12 50M failure:
    * 27⁶ ≈ 387M six-grams vs 1.05B windows ⇒ mean df 2.7 ⇒ the gate
    * passes ~everything, and a per-task hash build sized for half the
    * volume died mid-join with a raw executor memory error).
    *
    * The alphabet comes from a bounded 65,536-row sample (a LIMIT collect
    * of ≤ maxLen-char strings — single-digit MB): characters too rare for
    * a 64k-row sample carry negligible gram mass, and alphabet^q only
    * needs order-of-magnitude accuracy against the window count. On text
    * whose realized gram space is much sparser than alphabet^q (natural
    * language vs these near-uniform synthetic titles) meanDf is
    * UNDER-estimated and the diagnosis degrades to the historical
    * behavior — never worse. */
  private[graft] final case class GramSaturation(
      windows: Long, alphabet: Int, gramSpace: Double, meanDf: Double) {
    def saturated: Boolean = meanDf >= 1.5
  }

  private[graft] def gramSaturation(t: DataFrame, gramLen: Int,
      windows: Long): GramSaturation = {
    val sample = t.select(col("s")).limit(65536).collect()
    val alphabet = math.max(1,
      sample.iterator.flatMap(_.getString(0).iterator).toSet.size)
    val space = math.min(math.pow(alphabet.toDouble, gramLen.toDouble),
      math.max(1L, windows).toDouble)
    GramSaturation(windows, alphabet, space,
      if (space > 0) windows / space else windows.toDouble)
  }

  /** The pure pricing rule of [[gramExchangeParts]], exposed for specs:
    * sorts at ~40 B/gram ≤ 48 MB spill-capable state per task; the gate's
    * UNSPILLABLE SHUFFLE_HASH build at ~48 B/gated-row ≤ 12 MB per task —
    * where the gated estimate is the FULL window volume once the space is
    * saturated (df ≥ 2 passes ~everything) and vol/2 in the sparse regime
    * (the historical figure, measured safe through 5M titles). */
  private[graft] def priceGramParts(vol: Long, saturated: Boolean, floor: Int,
      maxParts: Long = 65536L): Int = {
    val gatedEst = if (saturated) vol else vol / 2
    val sortParts = vol * 40L / (48L << 20)
    val buildParts = gatedEst * 48L / (12L << 20)
    math.max(floor,
      math.min(maxParts, math.max(sortParts, buildParts)).toInt)
  }

  private[graft] def gramExchangeParts(t: DataFrame, gramLen: Int): Int =
    gramPlan(t, gramLen)._1

  /** [[gramExchangeParts]] plus the saturation diagnosis it priced from —
    * callers that gate on the arithmetic ([[editDistanceCandidates]]'s
    * predictive pair budget) read it without a second sampling/volume
    * pass. `(0, None)` on the small path: nothing priced, nothing
    * diagnosed. */
  private[graft] def gramPlan(t: DataFrame,
      gramLen: Int): (Int, Option[GramSaturation]) = {
    val est = t.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= 64L * 1024 * 1024) (0, None)
    else {
      val vol = t.agg(coalesce(sum(greatest(length(col("s")) - (gramLen - 1),
        lit(0)).cast("long")), lit(0L))).head().getLong(0)
      val floor = t.sparkSession.sessionState.conf.numShufflePartitions
      // Price BOTH of the count's memory consumers (the knnJoinIvf dirParts
      // discipline): the gram sorts (spill-capable) AND the frequency
      // gate's SHUFFLE_HASH build (UNSPILLABLE — the measured failure
      // mode; see [[priceGramParts]]). The gated-volume estimate feeding the
      // build term is SATURATION-AWARE: pricing it at vol/2
      // unconditionally is what handed each 50M-title task a ~29-32 MB
      // hash build ("can't acquire memory to build hash relation") once
      // the df ≥ 2 gate stopped filtering.
      val sat = gramSaturation(t, gramLen, vol)
      (priceGramParts(vol, sat.saturated, floor,
        Stage.maxExchangeParts(t)), Some(sat))
    }
  }

  /** The (id, g) blocking stream of [[editDistanceCandidates]] BEFORE the
    * pair join, exposed so benchmarks can price a configuration without
    * paying for it: the pre-distinct candidate volume is exactly
    * Σ_g C(count_g, 2) over this stream — one aggregate, no join — which
    * is how the grid records the df-gate blow-up at corpus sizes where
    * materializing the pairs is the very cost being demonstrated. */
  private[graft] def editDistanceBlocked(
      t: DataFrame,
      maxTrigramFreq: Int,
      rarestK: Int = 0,
      gramLen: Int = 3,
      sizedParts: Int = -1
  ): DataFrame = {
    // sizedParts: -1 = price it here; 0 = small-corpus legacy shape;
    // > 0 = caller already priced it (editDistanceCandidates shares one
    // eager job across the blocking and join stages)
    val p = if (sizedParts >= 0) sizedParts else gramExchangeParts(t, gramLen)
    // Wide-born explode (the ngramJaccard shape): exchange the compact
    // (id, s) stream to the sized width FIRST, so the ~(len−q+1)× gram
    // expansion is born in p map tasks and the g exchange's writer holds
    // volume/p instead of a whole file split's gram share (~130 MB/task at
    // 5M titles — the grid row's ~6 GB of map-writer spill). The raw
    // short-string stream is ~1/20 the gram volume, so the extra exchange
    // is cheap at any scale.
    val tIn = if (p > 0) t.repartition(p, col("id")) else t
    // per-doc DISTINCT q-gram windows, identical to SELECT DISTINCT
    // substring(s, i, q) in the oracle (len < q guarded here too — a
    // descending `sequence(1, len-q+1)` would otherwise fabricate windows)
    val rawGrams = tIn.filter(length(col("s")) >= gramLen).select(col("id"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col("s")) - (gramLen - 1)),
          i => col("s").substr(i, lit(gramLen))))).as("g"))
    val grams =
      if (p > 0) rawGrams.repartition(p, col("g"))
      else rawGrams.repartition(col("g"))
    val freqs = grams.groupBy(col("g")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= 2 && col("freq") <= maxTrigramFreq)
    // SHUFFLE_HASH on the freq side: the default sort-merge join SORTS the
    // full gram stream per partition (the per-stage probe's one spilling
    // stage at q6@5M — ~105M gram rows plus ~50M freq rows through 90-part
    // sorts, 6.0 GB of spill), while the freq table's per-partition build
    // is bounded by distinct-gram count (~11 MB wire/partition at q6@5M —
    // a comfortable hash relation at any corpus size, since distinct grams
    // grow sublinearly and p scales with the same volume job). Both sides
    // already arrive hash-partitioned on g (ReusedExchange of the gram
    // exchange), so the hint changes the join ALGORITHM, not the exchange
    // count, and the gram side now streams unsorted.
    val gated = grams.join(freqs.hint("SHUFFLE_HASH"), "g")
    if (rarestK <= 0) gated.select(col("id"), col("g"))
    else {
      import org.apache.spark.sql.expressions.Window
      // the per-id rarest-k window needs an id-clustered exchange of the
      // gated stream — sized with the same count (gated ⊆ grams; the
      // window sort at p was probed clean at 5M, it was the gate JOIN's
      // sort-merge sorts that spilled — see the SHUFFLE_HASH note above)
      val keyed = if (p > 0) gated.repartition(p, col("id")) else gated
      val w = Window.partitionBy(col("id")).orderBy(col("freq").asc, col("g").asc)
      keyed.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= rarestK)
        .select(col("id"), col("g"))
    }
  }

  /** Exact all-pairs cosine near-pair mining — the oracle-able baseline
    * [[embeddingNearDups]]'s LSH candidates are measured against. O(N²) by
    * construction (right side via [[Stage.attachSide]]); small-corpus /
    * recall-measurement tool, not the 100 TB path. Returns
    * (id_a, id_b, cosine) with id_a < id_b, cosine ≥ threshold. */
  def embeddingPairsExact(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    val base = Stage.ensureWide(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("norm", Similarity.l2norm(col("v")))
      .filter(col("norm") > 0)
    base.as("a")
      .join(Stage.attachSide(base).as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(Similarity.dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  def embeddingNearDups(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      planes: Int = 16,
      tables: Int = 4
  ): DataFrame = {
    val base = Stage.ensureWide(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("norm", Similarity.l2norm(col("v")))
      .filter(col("norm") > 0)
    // Same exchange-slimming as [[minhashLsh]]: the bucket self-join ships
    // only (id, table, bucket); vectors attach to the DISTINCT candidate
    // pairs afterwards via two id-keyed joins over one canonical plan
    // (ReusedExchange), so each embedding crosses the wire once, not
    // tables × collisions times, and each pair's cosine computes once.
    val banded = base.select(col("id"),
      posexplode(HashExpressions.hyperplane_buckets(col("v"), planes, tables)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
    val l = banded.as("l")
    val r = banded.as("r")
    val candidates = l
      .join(r, col("l.table") === col("r.table") && col("l.bucket") === col("r.bucket"))
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val baseAttach = Stage.attachSide(base)
    candidates
      .join(baseAttach.as("ba"), col("id_a") === col("ba.id"))
      .join(baseAttach.as("bb"), col("id_b") === col("bb.id"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.dot(col("ba.v"), col("bb.v")) / (col("ba.norm") * col("bb.norm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Portable random-hyperplane LSH near-duplicate pairs — the oracle
    * vehicle for the hyperplane bucket family ([[embeddingNearDups]] and
    * the ANN index behind it), in the same spirit as [[portableMinhashLsh]]:
    * every stage is expressible in ANSI SQL, so an external engine can
    * replay bucket assignment, candidate generation, and cosine verification
    * value-for-value.
    *
    * Two portability choices replace the native path's xxhash64-derived
    * Gaussian planes:
    *   - plane components are ±1 signs derived from
    *     `md5("hp-<table>-<plane>-<dim>")` (first 8 hex chars, parity) —
    *     sign-random projections are a standard SimHash-style hyperplane
    *     family, and md5 is available everywhere;
    *   - the projection is an exact INTEGER dot product over quantized
    *     components `round(v[i]·1e6)::bigint`, so the `dot ≥ 0` bit decision
    *     involves no floating-point accumulation order at all — the one
    *     place a float sum could differ between engines at the bit boundary.
    * The only remaining cross-engine hazards are the shared ~1e-13 classes
    * (md5 prefix parity is exact; a value landing exactly on a .5 quantizer
    * tie). The final cosine is float, rounded to 6 dp like [[embeddingPairsExact]].
    *
    * Plan shape matches [[embeddingNearDups]]: the (tiny, tables·planes·dims
    * row) sign table broadcasts onto the exploded vector stream, buckets
    * reduce by (id, table), the self-join ships only (id, table, key), and
    * vectors attach to DISTINCT candidate pairs afterwards. */
  def portableEmbeddingNearDups(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.45,
      planes: Int = 4,
      tables: Int = 4,
      dims: Int = 0
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // family-wide dims rule: 0 derives from one sampled row, an explicit
    // width that disagrees raises (Stage.deriveDims)
    val dimsActual = Stage.deriveDims(df.select(col(vecCol).as("v")), "v", dims)
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.map(b => f"$b%02x").mkString
    }
    val signRows = for {
      t <- 0 until tables; p <- 0 until planes; i <- 1 to dimsActual
    } yield (t, p, i,
      if (java.lang.Long.parseLong(md5hex(s"hp-$t-$p-$i").substring(0, 8), 16) % 2 == 0) 1
      else -1)
    val signDf = signRows.toDF("tbl", "plane", "dim", "sgn")
    val base = Stage.ensureWide(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("norm", Similarity.l2norm(col("v")))
      .filter(col("norm") > 0)
    val ve = base
      .select(col("id"), posexplode(col("v")))
      .select(col("id"), (col("pos") + 1).as("dim"),
        round(col("col").cast("double") * 1e6).cast("long").as("xq"))
    val bits = ve.join(broadcast(signDf), "dim")
      .groupBy(col("id"), col("tbl"), col("plane"))
      .agg(sum(col("sgn") * col("xq")).as("dot"))
      .select(col("id"), col("tbl"), col("plane"),
        when(col("dot") >= 0, lit("1")).otherwise(lit("0")).as("bit"))
    val banded = bits.groupBy(col("id"), col("tbl"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("plane"), col("bit")))),
          s => s.getField("bit")), "").as("key"))
    val l = banded.as("l")
    val r = banded.as("r")
    val candidates = l
      .join(r, col("l.tbl") === col("r.tbl") && col("l.key") === col("r.key"))
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val attach = Stage.attachSide(base)
    candidates
      .join(attach.as("ba"), col("id_a") === col("ba.id"))
      .join(attach.as("bb"), col("id_b") === col("bb.id"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.dot(col("ba.v"), col("bb.v")) / (col("ba.norm") * col("bb.norm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
