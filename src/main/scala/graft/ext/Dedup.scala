package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Tables

/** [extension] Deduplication operators for large-scale training-data
  * pipelines: exact (hash-groupBy), MinHash+LSH (shingle → minhash →
  * band → bucket-join → verify), SimHash (bit-block LSH + Hamming
  * verify), and exact n-gram Jaccard on a blocked subset.
  *
  * Scale design (100 TB): every per-document stage (shingling, hashing,
  * signatures) is embarrassingly parallel map-side compute inside
  * whole-stage codegen (higher-order array functions, no UDFs, no
  * explode until the band join). The only shuffles are the LSH bucket
  * joins, which hash-partition on (block, band-key) — the standard
  * near-dup shape. Candidate pairs are `distinct`-ed before verification
  * so each pair is verified once even when multiple bands collide.
  * Hot buckets (a band key shared by thousands of docs) are the skew
  * risk; AQE skew-join splitting handles the task-size half of it
  * (TESTED: SkewSpec plants a 1200-doc bucket and asserts the band
  * self-join's final adaptive plan splits the skewed partition on both
  * sides — note detection runs on compressed shuffle bytes, which
  * understate row skew when the hot keys are near-identical strings,
  * so the skew factor must be set below byte-intuition). The n²
  * candidate volume half is bounded by the band width r (collision
  * probability falls exponentially in r for non-identical docs) and by
  * running [[exactDedupOn]] first — identical docs are the only bucket
  * population banding cannot shrink.
  *
  * Hash portability: all hashes derive from md5 hex (identical on every
  * engine), via `conv(hex, 16, 10)` into ≤60-bit signed-long space, then
  * pure integer arithmetic — so the DuckDB oracles compute bit-identical
  * signatures, candidates, and Jaccard values (int/int division in
  * double is exact on both engines).
  */
object Dedup {

  /** 32-bit integer hash of a string via md5 (portable across engines). */
  private def h32(s: String): String =
    s"cast(conv(substr(md5($s),1,8),16,10) as bigint)"

  // ---- exact dedup --------------------------------------------------------

  /** Exact dedup by content hash: one group per distinct normalized text,
    * keeper = min doc_id. Pure hash-groupBy: one shuffle on the
    * fingerprint, partial aggregation map-side. */
  def exactDedupOn(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(lower(trim(col("text")))).as("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))

  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    exactDedupOn(Tables.documents(spark, sfDir))

  /** Duplicate-rate report per source: docs, distinct contents, and the
    * dup fraction as an exact integer ratio — the contamination metric
    * a curation pipeline publishes per ingest feed. One pass: count +
    * count-distinct-fingerprint per source. */
  def dupRateBySource(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(lower(trim(col("text"))))).as("n_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        ((col("n_docs") - col("n_unique")).cast("double") / col("n_docs"))
          .as("dup_rate"))

  // ---- MinHash + LSH ------------------------------------------------------

  /** Per-doc MinHash signatures over distinct word shingles.
    * numHashes=16; h_i(x) = (a_i·x + b_i) mod 2147483647 with
    * a_i = (1000003·i) mod 1000000007, b_i = (7919·i² + 12345) mod
    * 1000000007 — constants small enough that a_i·x stays < 2^62. */
  private def minhashWords(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr("array_distinct(split(text, ' '))").as("w"))

  /** Per-doc MinHash signature columns m_1..m_16, computed explode-style:
    * one codegen'd md5 hash per distinct word, then 16 partial-aggregated
    * `min` columns — the same whole-stage-codegen shape as [[simhashes]]
    * (array-lambda formulations evaluate interpreted and were the
    * dominant cost at bench scale). */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val wordHashes = docs
      .select(col("doc_id"), col("lang"),
        explode(expr("array_distinct(split(text, ' '))")).as("word"))
      .withColumn("x", expr(h32("word")))
    val mins = (1 to 16).map { i =>
      val a = (1000003L * i) % 1000000007L
      val b = (7919L * i * i + 12345L) % 1000000007L
      min((lit(a) * col("x") + lit(b)) % 2147483647L).as(s"m_$i")
    }
    wordHashes.groupBy(col("doc_id"), col("lang")).agg(mins.head, mins.tail: _*)
  }

  /** MinHash-LSH near-dup pairs: 2 bands × 8 rows, verified Jaccard ≥ τ,
    * blocked by `lang` (standard blocking — cuts the candidate space and
    * the oracle agrees exactly). Recall vs the exact all-pairs baseline
    * ([[minhashPairsExact]]): MEASURED 0.824 on sf0.01 (RecallSpec) vs
    * the 2×8 banding floor of 0.675 at the τ = 0.9 boundary. */
  def minhashPairs(spark: SparkSession, sfDir: String,
                   threshold: Double = 0.9): DataFrame =
    // The verified pair relation is the canonical WRITTEN table of a
    // dedup pipeline — [[dedupClusters]], [[cleanedNearCorpus]],
    // [[qualityDedupCorpus]] and the raw pair report all consume it,
    // and each was re-running the full LSH+verify pipeline per sweep.
    // Memoized per (session, corpus fingerprint) as a WRITTEN parquet
    // table ([[graft.Memo]] owns staleness + eviction; BENCH_NOTES.md
    // discloses the bench semantics, Bench records the cold derivation
    // separately). Disk, not a RAM localCheckpoint (r15 verdict #1):
    // every consumer re-reads a pair-sized parquet scan — the exact
    // cost of querying the table a production job writes — and the
    // sweep's peak memory residency stays flat.
    // Dir name embeds the FULL threshold (bit pattern, not a rounded
    // percent): two thresholds rounding to the same integer percent
    // (0.895 vs 0.9) must not silently share one served directory
    // while both Memo entries stay live.
    graft.Memo.cachedServedDir(spark, sfDir, s"minhash_pairs:$threshold",
        f"graft_pairs_t${java.lang.Double.doubleToLongBits(threshold)}%x_",
        buildTag = "r19-pairs-from-bands") { dir =>
      // r19 (r18 verdict #4): the band relation comes from the SERVED
      // bucketed band table rather than a second bandKeys() derivation —
      // the minhash signature pass (explode every word, md5 each, 16
      // min-aggregates) was duplicated between this build and
      // [[bucketedBands]], and was ~all of both builds' cold cost. The
      // table holds exactly bandKeys(documents)'s rows (DeltaServeSpec
      // pins it), so the pair output is row-identical, and the
      // candidate self-join runs on the zero-Exchange bucket layout.
      // This is also the production shape: the pair relation is derived
      // FROM the written band table, not from raw text a second time.
      pairsFromBands(bucketedBands(spark, sfDir),
          minhashWords(Tables.documents(spark, sfDir)), threshold)
        .write.mode("overwrite").parquet(dir)
    }

  /** [[minhashPairs]] served from a WRITE-TIME bucketed band table:
    * the (doc, lang, band_idx, band_key) relation — what an ingest
    * pipeline persists next to the corpus — is written ONCE
    * bucketed+sorted by the FULL join key (lang, band_idx, band_key),
    * so the candidate self-join runs with ZERO Exchange and zero Sort
    * (both sides are the same bucket layout; a band_key-only bucket
    * spec was measured "disabled by query planner" — Spark only
    * exploits the layout when it matches the join's clustering).
    * Only the tiny candidate-id stream and the verify-stage
    * word fetches shuffle. Same results as [[minhashPairs]] by
    * construction (same bands, same verify); the oracle is reused
    * verbatim. Bucket count mirrors [[GraphAnalytics]]'s served-edge
    * layout — sized to the execution parallelism (32, the bench
    * cluster's local[32]): an 8-bucket layout made the self-join an
    * 8-fat-task stage whose wall time was hostage to any single-core
    * stall on the host (measured 2 s -> 22 s bimodal); a real
    * deployment sizes it to the cluster at ingest the same way. */
  def minhashPairsBucketed(spark: SparkSession, sfDir: String,
                           threshold: Double = 0.9): DataFrame =
    pairsFromBands(bucketedBands(spark, sfDir),
      minhashWords(Tables.documents(spark, sfDir)), threshold)

  /** The served write-time-bucketed band table (Memo-backed) — shared
    * by [[minhashPairsBucketed]] and, as the DELTA path's base source,
    * by [[minhashPairsDelta]]: the minhash signature pass (explode all
    * words, one md5 per word, 16 min-aggregates) is the dominant cold
    * cost, and deriving it once serves both layouts. */
  private def bucketedBands(spark: SparkSession, sfDir: String): DataFrame = {
    val table = "graft_bands_" + graft.Memo.pathDigest(sfDir)
    // r19: marker-backed (the cross-session serving seam cdc_latest_served
    // proved at r18) — a fresh session over an unchanged corpus
    // re-registers the written bucketed files instead of re-running the
    // signature pass
    graft.Memo.cachedServedTable(spark, sfDir, "minhash_bands_bucketed",
        table, bucketCols = Seq("lang", "band_idx", "band_key"),
        buildTag = "r19-bands") {
      bandKeys(Tables.documents(spark, sfDir)).write
        .bucketBy(graft.Memo.ServingBuckets, "lang", "band_idx", "band_key")
        .sortBy("lang", "band_idx", "band_key")
        .mode("overwrite").saveAsTable(table)
    }
  }

  /** [[minhashPairsBucketed]]'s INCREMENTAL maintenance path (r12
    * verdict: the served band table was a full rewrite per corpus
    * change; a 100 TB ingest APPENDS). Exactness argument, same shape
    * as `search_index_delta`'s: the band relation is per-doc (shingle →
    * minhash → band keys, no cross-doc state), so bands(base ∪ batch)
    * = bands(base) ∪ bands(batch) — appending the new batch's bands
    * under the SAME bucketBy spec (saveAsTable append re-buckets the
    * new files into the same layout) yields a table row-identical to
    * the full rebuild, and the candidate self-join + Jaccard verify
    * over it reproduces [[minhashPairs]] bit-for-bit (oracle reused
    * verbatim). The appended buckets hold >1 file, so Spark drops the
    * per-bucket SORT guarantee but keeps the hash-clustering — the
    * self-join still plans with zero Exchange (DeltaServeSpec pins
    * plan + equivalence). Registered split: every 5th doc arrives as
    * the append batch; the batch pass scans only those docs. */
  def minhashPairsDelta(spark: SparkSession, sfDir: String,
                        threshold: Double = 0.9): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val table = "graft_bands_delta_" + graft.Memo.pathDigest(sfDir)
    val bands = graft.Memo.cachedServedTable(spark, sfDir, "minhash_bands_delta",
        table, bucketCols = Seq("lang", "band_idx", "band_key"),
        buildTag = "r19-bands-delta") {
      def write(batch: DataFrame, mode: String): Unit =
        batch.select(col("doc_id"), col("lang"), col("band_idx"), col("band_key"))
          .write
          .bucketBy(graft.Memo.ServingBuckets, "lang", "band_idx", "band_key")
          .sortBy("lang", "band_idx", "band_key")
          .mode(mode).saveAsTable(table)
      // The BASE slice is a filtered re-write of the already-served
      // bucketed band table — bands are per-doc, so filtering the full
      // relation on doc_id is row-identical to recomputing bands over
      // the base docs, and the read is already in the target bucket
      // layout (no second full minhash pass, no re-shuffle; r16 verdict
      // #3: this build cold-ran 94 s in the driver environment, ~all of
      // it the duplicated signature pass). This is also the production
      // shape: a migration seeds a delta-maintained table FROM the
      // existing written one, not from raw text.
      write(bucketedBands(spark, sfDir).filter(col("doc_id") % 5 =!= 0), "overwrite")
      // The APPEND batch is the genuine ingest path: fresh documents →
      // signatures → band keys, appended under the same bucket spec.
      write(bandKeys(docs.filter(col("doc_id") % 5 === 0)), "append")
    }
    pairsFromBands(bands, minhashWords(docs), threshold)
  }

  /** [[minhashPairs]] over an explicit documents frame (doc_id, text,
    * lang) — the operator body, exposed so tests can run the identical
    * banded pipeline over adversarial corpora (SkewSpec plants a hot
    * band bucket; RecallSpec feeds the driver corpus). */
  /** (doc_id, lang, band_idx, band_key) — the 2×8 LSH band relation,
    * shared by the pair generator and the incremental-ingest path. */
  private[ext] def bandKeys(docs: DataFrame): DataFrame = {
    val band0 = concat_ws("-", (1 to 8).map(i => col(s"m_$i")): _*)
    val band1 = concat_ws("-", (9 to 16).map(i => col(s"m_$i")): _*)
    minhashSignatures(docs)
      .select(col("doc_id"), col("lang"),
        posexplode(array(band0, band1)).as(Seq("band_idx", "band_key")))
  }

  def minhashPairsOn(docs: DataFrame, threshold: Double = 0.9): DataFrame =
    pairsFromBands(bandKeys(docs), minhashWords(docs), threshold)

  /** The band self-join + Jaccard-verify stages over EXPLICIT band and
    * word-set relations — the seam the write-time bucketed band layout
    * ([[minhashPairsBucketed]]) plugs into: when `sigs` is a scan of a
    * table bucketed by band_key, the self-join below plans with ZERO
    * Exchange (both sides carry the identical bucket partitioning;
    * BucketedServeSpec pins it). */
  private[ext] def pairsFromBands(sigs: DataFrame, docsW: DataFrame,
                                  threshold: Double): DataFrame = {
    val a = sigs.select(col("lang").as("lang_a"), col("band_idx").as("bi_a"),
      col("band_key").as("bk_a"), col("doc_id").as("doc_a"))
    val b = sigs.select(col("lang").as("lang_b"), col("band_idx").as("bi_b"),
      col("band_key").as("bk_b"), col("doc_id").as("doc_b"))
    // Dedup candidate pairs on bare ids (cheap shuffle), THEN fetch the
    // word sets — shuffling the arrays through the distinct was the cost.
    val pairs = a.join(b,
        col("lang_a") === col("lang_b") && col("bi_a") === col("bi_b") &&
        col("bk_a") === col("bk_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // Verify-stage fetch: the corpus word-sets must NEVER be broadcast
    // (at 100 TB that is a driver OOM by construction). Shape (r14,
    // after the sf1 stress pass): TWO SIDE-BY-SIDE shuffle hash
    // fetches, each building the BARE pair stream — bounded per task
    // by pairs/shuffle.partitions, the sizing contract a deployment
    // controls — then one pair-keyed merge join of the two fetch
    // results (sort-merge: sorts only pair-sized relations, spills
    // gracefully). The previous shape chained the fetches with the
    // hint on both, which made the SECOND build side pairs WITH the
    // fetched wa arrays attached — unbounded in task memory, and
    // ShuffledHashJoin's build cannot spill ("Can't acquire … to
    // build hash relation", then an executor OOM that killed the JVM
    // at 10x bench scale). The unhinted-second-join alternative was
    // measured 2.0x slower at sf0.1 (it sorts the whole corpus); this
    // shape measures at the old plan's time (1.30 vs 1.32 s) with
    // every build side bounded. Size-based AQE may still downgrade a
    // join to broadcast at toy scale, which is fine — only the
    // unconditional broadcast was the original scale bug. PlanSpec
    // pins this.
    val fa = pairs.hint("shuffle_hash")
      .join(docsW.select(col("doc_id").as("doc_a"), col("w").as("wa")), "doc_a")
      .select(col("doc_a"), col("doc_b"), col("wa"))
    val fb = pairs.hint("shuffle_hash")
      .join(docsW.select(col("doc_id").as("doc_b"), col("w").as("wb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("wb"))
    fa.join(fb, Seq("doc_a", "doc_b"))
      .withColumn("common", expr("size(array_intersect(wa, wb))"))
      .withColumn("jac", col("common").cast("double") /
        (expr("size(wa) + size(wb)") - col("common")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** Exact all-pairs word-set Jaccard baseline for [[minhashPairs]] —
    * O(n²) within each lang block, kept unregistered as the recall
    * yardstick for tests only ([[minhashPairs]]'s verify stage computes
    * true Jaccard, so its output is exactly the subset of this baseline
    * that banding caught). Never run this shape at scale. */
  def minhashPairsExact(spark: SparkSession, sfDir: String,
                        threshold: Double = 0.9): DataFrame = {
    val docsW = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        expr("array_distinct(split(text, ' '))").as("w"))
    val a = docsW.select(col("lang").as("lang_a"), col("doc_id").as("doc_a"),
      col("w").as("wa"))
    val b = docsW.select(col("lang").as("lang_b"), col("doc_id").as("doc_b"),
      col("w").as("wb"))
    a.join(b, col("lang_a") === col("lang_b") && col("doc_a") < col("doc_b"))
      .withColumn("common", expr("size(array_intersect(wa, wb))"))
      .withColumn("jac", col("common").cast("double") /
        (expr("size(wa) + size(wb)") - col("common")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  // ---- SimHash ------------------------------------------------------------

  /** Per-doc 60-bit SimHash over the word multiset: bit b is set when
    * more than half the word hashes have bit b set (unit weights) —
    * computed as sign(Σ±1), which is the same predicate. Kept at 60 bits
    * so values fit signed 64-bit on both engines.
    *
    * Shape: explode words → one codegen'd hash per word → pack the 60
    * per-bit indicators into 16-bit lanes (4 per long, 15 packed sums
    * instead of 60 separate aggregates) → groupBy doc → unpack lanes
    * and assemble the long. The lane packing keeps the generated
    * HashAggregate small enough for the JIT (a 60-buffer aggregate
    * compiled to a single huge method and fell out of compiled code),
    * and every step stays inside whole-stage codegen with map-side
    * partial aggregation. Lanes count set-bits, and "majority set" is
    * tested as 2·count > n_words — identical to the sign(Σ±1) phrasing.
    * 16-bit lanes bound documents at 32 767 tokens (the shift-48 lane
    * must stay clear of the sign bit of the packed signed-64 sum);
    * longer inputs would need 32-bit lanes (30 sums) or pre-chunking.
    * The bound is ENFORCED: an assert_true guard folded into the output
    * column raises on any ≥32 768-token document instead of silently
    * producing a corrupted simhash. */
  def simhashes(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(expr("split(text, ' ')")).as("word"))
      .withColumn("h", expr("cast(conv(substr(md5(word),1,15),16,10) as bigint)"))
    val packs = (0 until 15).map { l =>
      val lanes = (0 until 4).map { j =>
        val b = l * 4 + j
        s"shiftleft(shiftright(h, $b) & 1, ${16 * j})"
      }.mkString(" + ")
      sum(expr(lanes)).as(s"p_$l")
    }
    val aggCols = count(lit(1)).as("nw") +: packs
    val agg = words.groupBy(col("doc_id")).agg(aggCols.head, aggCols.tail: _*)
    val simhash = (0 until 60).map { b =>
      val (l, j) = (b / 4, b % 4)
      when(shiftright(col(s"p_$l"), 16 * j).bitwiseAND(lit(65535L)) * 2 > col("nw"),
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    // overflow guard folded into the result (adds 0) so column pruning
    // can't drop it: lane packing is only sound below 32 768 tokens
    val guard = coalesce(
      assert_true(col("nw") < 32768,
        concat(lit("simhash lane overflow: document "), col("doc_id").cast("string"),
          lit(" has "), col("nw").cast("string"),
          lit(" tokens (max 32767); use 32-bit lanes or pre-chunk"))).cast("long"),
      lit(0L))
    agg.select(col("doc_id"), (simhash + guard).as("simhash"))
  }

  /** SimHash near-dup pairs: 4 LSH blocks of 15 bits (a pair within
    * Hamming ≤ 8 of 60 bits must agree exactly on ≥1 block only if the
    * differing bits concentrate elsewhere — blocks are the recall
    * heuristic, Hamming ≤ maxHamming is the verified predicate).
    * Recall MEASURED (RecallSpec): planted pairs per Hamming stratum
    * match the 4×15 banding analysis P(h) = [4·C(45,h) − 6·C(30,h) +
    * 4·C(15,h)]/C(60,h) within noise (h=4: 0.901 vs 0.896, h=8: 0.323
    * vs 0.323 — the sacrificed worst stratum); corpus recall vs the
    * exact all-pairs Hamming≤8 baseline is 354/814 = 0.435 on sf0.01,
    * clearing the h=8 floor. */
  def simhashPairs(spark: SparkSession, sfDir: String,
                   maxHamming: Int = 8): DataFrame =
    simhashPairsFromHashes(simhashes(Tables.documents(spark, sfDir)), maxHamming)

  /** The block-banding + Hamming-verify stage of [[simhashPairs]] over
    * an explicit (doc_id, simhash) frame — exposed so RecallSpec can
    * plant pairs at EXACT Hamming distances (impossible to control
    * through text) and measure block recall against the 4×15 banding
    * analysis. */
  def simhashPairsFromHashes(hashes: DataFrame,
                             maxHamming: Int = 8): DataFrame = {
    val sh = hashes
      .select(col("doc_id"), col("simhash"),
        posexplode(expr(
          """array(shiftright(simhash, 0) & 32767, shiftright(simhash, 15) & 32767,
            |      shiftright(simhash, 30) & 32767, shiftright(simhash, 45) & 32767)""".stripMargin))
          .as(Seq("block_idx", "block_key")))
    val a = sh.select(col("block_idx").as("bi_a"), col("block_key").as("bk_a"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = sh.select(col("block_idx").as("bi_b"), col("block_key").as("bk_b"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, col("bi_a") === col("bi_b") && col("bk_a") === col("bk_b") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hd", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
      .filter(col("hd") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hd"))
  }

  /** Connected components over the MinHash near-dup graph (verified
    * jaccard ≥ 0.9 pairs): each doc in any pair gets its component's
    * minimum doc_id as cluster label — the "merge near-dup groups" step
    * every dedup pipeline ends with. The 0.9-threshold graph's
    * components are dense quasi-cliques, so diameters stay small (the
    * hamming≤8 SimHash graph, by contrast, chains through gradual
    * drift into diameter-hundreds components — measured 40+ rounds;
    * the edge-set choice is part of the design).
    *
    * Min-label propagation with pointer jumping: per iteration every
    * node takes the min of its own, its neighbors', and its LABEL's
    * label (label(label(doc)) — path halving), so convergence is
    * O(log n) even for long-chain components, where plain neighbor
    * propagation needs O(diameter) rounds. Each iteration is ONE join
    * and one aggregate (graph edges and pointer edges unioned into a
    * single message relation), all executor-side; the driver loop only
    * checks the Σlabel fixpoint (the GraphX-style iterative shape, kept in plain
    * DataFrames). The DuckDB oracle computes the same fixpoint as a
    * recursive CTE.
    *
    * The converged assignment is memoized per (session, corpus
    * fingerprint) via [[graft.Memo]]: a real pipeline WRITES the
    * assignment table once and every downstream report
    * ([[clusterSizes]], keep-set joins) reads it — re-deriving the
    * full iterative CC per consumer was the repo's slowest query
    * twice over. The memoized frame is a WRITTEN parquet table (r15
    * verdict #1 — disk, not a RAM localCheckpoint), so reuse is a
    * small parquet scan and nothing stays block-manager-resident
    * between consumers (disclosed in BENCH_NOTES.md; Bench records
    * the cold derivation separately; PlanSpec pins the file scan).
    * Staleness/eviction live in Memo: the key fingerprints the corpus
    * files and entries are LRU-bounded. */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    // Served from a WRITTEN parquet table, not the loop's final RAM
    // checkpoint (r15 verdict #1): the write drains the converged
    // assignment once, the final checkpoint is released immediately,
    // and every downstream report pays a small parquet scan. r18
    // (r17 verdict #5): the written assignment is also reused ACROSS
    // SESSIONS via the fingerprint marker — a cold session with an
    // unchanged corpus skips the iterative CC entirely.
    graft.Memo.cachedServedDir(spark, sfDir, "dedup_clusters",
        "graft_clusters_", "r18") { dir =>
      val asg = computeDedupClusters(spark, sfDir)
      asg.write.mode("overwrite").parquet(dir)
      asg.unpersist(): Unit
    }

  private def computeDedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairs(spark, sfDir).select(col("doc_a"), col("doc_b"))
    val edgesRaw = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .cache()
    // Size the iteration's edge partitions to the edge count (~1M edges
    // per partition, capped at the cluster parallelism): the near-dup
    // graph is orders of magnitude smaller than the corpus, and leaving
    // it at the corpus partition count makes every round schedule dozens
    // of near-empty map tasks. The count also materializes the cache so
    // the repartition below reads memory, not the minhash pipeline.
    val nEdges = edgesRaw.count()
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nEdges / 1000000L + 1)).toInt
    val edges = edgesRaw.repartition(parts, col("doc_b")).localCheckpoint(true)
    edgesRaw.unpersist()
    // localCheckpoint per round truncates the iteration's lineage — the
    // canonical iterative-DataFrame pattern: without it each round's
    // plan nests the previous rounds' (and a cache()/unpersist() chain
    // cascades invalidation), so per-round cost grows geometrically.
    // Each round's checkpoint is unpersisted as soon as the next one is
    // materialized — leaking them filled the block manager and made
    // successive runs strictly slower (measured 12 s → 23 s run-to-run).
    // Init fuses the would-be first round: label₀ = min(doc, neighbors)
    // comes out of the same aggregate that enumerates the nodes, saving
    // one full join round (the one with the largest label movement).
    var labels = edges.groupBy(col("doc_a"))
      .agg(min(col("doc_b")).as("nmin"))
      .select(col("doc_a").as("doc"), least(col("doc_a"), col("nmin")).as("label"))
      .localCheckpoint(true)
    // Convergence check: labels only ever decrease, so Σlabel strictly
    // decreases while any node changes — one cheap aggregate over the
    // fresh checkpoint replaces the old join-and-count-diffs action
    // (decimal sum: exact, overflow-free for any id range).
    var prevSum: java.math.BigDecimal = null
    var iters = 0
    var done = false
    // Convergence cap: label propagation halves the frontier per double
    // step, so 32 rounds covers any graph with diameter < 2^32 — a cap
    // hit means something is broken, and aborting beats looping forever.
    // Env-tunable so a bench context can trade a lower cap (fail fast
    // under a host-paging episode, where each round costs minutes)
    // without touching the production default.
    val maxIters = sys.env.getOrElse("SPARK_GRAFT_CC_MAX_ITERS", "32").toInt
    val tLoop0 = System.nanoTime()
    // (Measured: disabling AQE for the loop is a net LOSS — 0.9 s/round
    // with AQE-coalesced single-partition shuffles vs ~2 s/round running
    // every tiny per-round shuffle at the full static partition count.
    // AQE's runtime coalescing is exactly right for iteration state that
    // shrinks as labels converge.)
    //
    // Each round is ONE join + ONE aggregate, fusing the old
    // neighbor-min / self-least / pointer-jump three-join round into a
    // single message pass: dst receives label(src) along every graph
    // edge (dst=doc_a, src=doc_b) and along its own pointer edge
    // (dst=doc, src=label(doc)). min over messages =
    // min(min_n label(n), label(label(d))); the pointer message alone is
    // ≤ label(d) (labels are monotone: label(x) ≤ x for all x), so the
    // old explicit least(label(d), …) join is provably redundant and
    // every doc still appears as a dst through its pointer message.
    // One propagation step: dst := min over incoming message labels.
    def step(lbls: DataFrame): DataFrame = {
      val lbl = lbls.select(col("doc").as("ldoc"), col("label"))
      edges.select(col("doc_a").as("dst"), col("doc_b").as("src"))
        .unionAll(lbls.select(col("doc").as("dst"), col("label").as("src")))
        .join(lbl, col("src") === col("ldoc"))
        .groupBy(col("dst"))
        .agg(min(col("label")).as("label"))
        .select(col("dst").as("doc"), col("label"))
    }
    while (!done) {
      iters += 1
      require(iters <= maxIters, s"dedup_clusters failed to converge in $maxIters rounds")
      // TWO steps per checkpoint round: the per-step data is edge-sized,
      // so at bench scale each driver-synchronized job (checkpoint,
      // Σ aggregate) costs as much as the step itself — double-stepping
      // halves the driver round count for the same total shuffle work
      // (worst case one overshot step past the fixpoint, which is free:
      // a converged step moves nothing).
      val next = step(step(labels)).localCheckpoint(true)
      val s0 = next.agg(sum(col("label").cast("decimal(38,0)"))).head()
        .getDecimal(0)
      val s = if (s0 == null) java.math.BigDecimal.ZERO else s0 // empty graph
      done = prevSum != null && s.compareTo(prevSum) == 0
      prevSum = s
      if (sys.env.contains("SPARK_GRAFT_DEBUG"))
        System.err.println(f"[dedup_clusters] round $iters sum=$s done=$done t=${(System.nanoTime() - tLoop0) / 1e9}%.2f s")
      val old = labels
      labels = next
      old.unpersist()
    }
    edges.unpersist()
    labels.select(col("doc").as("doc_id"), col("label").as("cluster"))
  }

  // ---- exact n-gram Jaccard ----------------------------------------------

  /** Exact bigram-shingle Jaccard over a blocked subset (left side
    * doc_id % 10 == 0) — the brute-force baseline the LSH variants
    * approximate. Pairs with Jaccard ≥ 0.1 (bigram similarity in this
    * corpus tops out ≈0.15). */
  def ngramJaccardPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // Bigrams via posexplode + lead() window: every step is codegen'd.
    // (The transform(sequence(...)) higher-order formulation evaluates
    // its lambda interpreted and alone cost more than the whole join at
    // bench scale.) distinct() gives per-doc shingle *sets*.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val shingles = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .select(col("doc_id"),
        concat(col("word"), lit(" "), lead(col("word"), 1).over(w)).as("shingle"))
      .filter(col("shingle").isNotNull)
      // 64-bit shingle keys: the join shuffles 8-byte longs instead of
      // strings (collision odds over ~10^6 distinct shingles ≈ 10^-7 —
      // below any other nondeterminism in the pipeline).
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      .distinct()
    // Inverted-index join (the 100 TB shape): hash-join on the shingle,
    // count common per pair — replaces the quadratic nested-loop
    // array_intersect with shuffle-parallel codegen'd work. Pairs sharing
    // zero shingles vanish, which jac >= 0.1 implies anyway.
    val sizes = shingles.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val a = shingles.filter(col("doc_id") % 10 === 0).select(col("doc_id").as("doc_a"), col("sh"))
    val b = shingles.select(col("doc_id").as("doc_b"), col("sh"))
    a.join(b, "sh")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("jac", col("common").cast("double") /
        (col("sza") + col("szb") - col("common")))
      .filter(col("jac") >= 0.1)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  // ---- embedding near-dup -------------------------------------------------

  /** Random-hyperplane LSH band key over planes [lo, lo+r): plane p's
    * coefficient for component i is ((p+1)·131 + i·137) mod 997 − 498 —
    * the same deterministic integer hyperplane family as
    * [[Similarity]]'s bucket (band 0 with r=8 IS that bucket), so both
    * engines build identical planes. */
  private def planeBand(lo: Int, r: Int): String =
    s"""aggregate(sequence($lo, ${lo + r - 1}), 0, (acc, p) ->
       |  acc + IF(
       |    aggregate(zip_with(v, sequence(0, size(v) - 1), (x, i) ->
       |      x * (((p + 1) * 131 + i * 137) % 997 - 498)), 0d, (a, x) -> a + x) >= 0d,
       |    cast(pow(2, p - $lo) as int), 0))""".stripMargin

  private def oracleBand(lo: Int, r: Int): String =
    s"""list_sum(list_transform(range($lo, ${lo + r}), p ->
       |  CASE WHEN list_sum(list_transform(range(1, len(v) + 1), i ->
       |    v[i] * (((p + 1) * 131 + (i - 1) * 137) % 997 - 498))) >= 0
       |  THEN CAST(2 ** (p - $lo) AS INTEGER) ELSE 0 END))""".stripMargin

  /** Embedding-cosine near-duplicate pairs (cos ≥ 0.4 — random 64-d
    * vectors concentrate near 0, so 0.4 is a strong-similarity tail),
    * banded hyperplane-LSH: 4 bands × 8 planes of [[Similarity]]'s
    * deterministic hyperplane family generate candidates via an
    * equi-join on (band, key) — the same blocked shape as
    * [[minhashPairs]] — then the exact cosine verifies candidates only.
    * 100 TB shape: the corpus never self-joins all-pairs; candidate
    * pairs dedup to bare ids before the vector fetch (two shuffle hash
    * joins, nothing broadcast); band count trades recall vs candidate
    * volume (4×8 ⇒ a cos 0.95 pair is caught with p ≈ 0.89 — MEASURED
    * 0.855 on 200 planted exact-cos-0.95 twins, and 0.102 on the
    * corpus's cos 0.4–0.55 tail vs its 0.097 prediction, RecallSpec —
    * while random near-orthogonal pairs collide at ≈ 4/256 per band; at
    * real scale widen r so per-band buckets stay bounded). The DuckDB
    * oracle applies identical banding, so results hash-match exactly. */
  def embeddingNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    embeddingNearDupsOn(
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
  }

  /** [[embeddingNearDups]] over an explicit (vec_id, v: array&lt;double&gt;)
    * frame — the operator body, exposed so tests can run the identical
    * banded pipeline over planted near-dup vectors (recall
    * quantification needs pairs at controlled cosine; the driver corpus
    * has none above ≈0.55). */
  /** (vec_id, band_idx, band_key) for 4 bands × 8 hyperplanes, computed
    * as explode + 32 partial-aggregated sums (the same whole-stage-
    * codegen shape as [[minhashSignatures]]): the higher-order
    * aggregate/zip_with formulation of [[planeBand]] evaluates its
    * lambdas INTERPRETED and was ~half of dedup_embedding's bench cost.
    * Each vector's exploded components stay in one partition in
    * emission order, so every per-plane sum folds in the identical
    * i=0..63 order as the lambda (and the DuckDB oracle) — bit-equal
    * doubles. [[planeBand]] remains the executable semantic spec;
    * ExtSpec asserts this derivation equals it key-for-key. */
  private[ext] def hyperplaneBands(e: DataFrame): DataFrame = {
    val comps = e.select(col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
    val planeSums = (0 until 32).map { p =>
      sum(col("x") * ((lit((p + 1) * 131) + col("i") * 137) % 997 - 498)).as(s"s_$p")
    }
    val sums = comps.groupBy(col("vec_id")).agg(planeSums.head, planeSums.tail: _*)
    def bandKey(b: Int) = (0 until 8).map { j =>
      when(col(s"s_${b * 8 + j}") >= 0d, 1 << j).otherwise(0)
    }.reduce(_ + _)
    sums.select(col("vec_id"),
      posexplode(array((0 until 4).map(bandKey): _*))
        .as(Seq("band_idx", "band_key")))
  }

  /** The lambda formulation of one band key over planes [lo, lo+r) —
    * kept as the executable spec [[hyperplaneBands]] is tested against
    * (ExtSpec) and the template [[oracleBand]] mirrors in DuckDB. */
  private[ext] def planeBandSpec(lo: Int, r: Int): String = planeBand(lo, r)

  def embeddingNearDupsOn(e0: DataFrame, minCos: Double = 0.4): DataFrame = {
    graft.functions.VectorFunctions.register(e0.sparkSession)
    val e = e0.withColumn("norm", expr("sqrt(graft_dot(v, v))"))
    val banded = hyperplaneBands(e)
    val a = banded.select(col("band_idx").as("bi_a"), col("band_key").as("bk_a"),
      col("vec_id").as("vec_a"))
    val b = banded.select(col("band_idx").as("bi_b"), col("band_key").as("bk_b"),
      col("vec_id").as("vec_b"))
    val cand = a.join(b, col("bi_a") === col("bi_b") && col("bk_a") === col("bk_b") &&
        col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
    cand.hint("shuffle_hash")
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na")), "vec_a")
      .hint("shuffle_hash")
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb")), "vec_b")
      // cos_u = floor(10⁶·cos): single-rounded IEEE chain, no
      // round(_, 6) half-tie (see qualityScoresOn's scaladoc)
      .withColumn("cos_u",
        expr("CAST(floor(graft_dot(va, vb) / (na * nb) * 1000000.0) AS BIGINT)"))
      .filter(col("cos_u") >= math.round(minCos * 1e6))
      .select(col("vec_a"), col("vec_b"), col("cos_u"))
  }

  /** Exact all-pairs baseline for [[embeddingNearDups]] — O(n²), kept
    * unregistered as the recall yardstick for tests only (ExtSpec
    * asserts bucketed ⊆ exact, RecallSpec measures recall). Never run
    * this shape at scale. */
  def embeddingNearDupsExact(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    embeddingNearDupsExactOn(
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
  }

  /** [[embeddingNearDupsExact]] over an explicit (vec_id, v) frame. */
  def embeddingNearDupsExactOn(e0: DataFrame, minCos: Double = 0.4): DataFrame = {
    graft.functions.VectorFunctions.register(e0.sparkSession)
    val e = e0.withColumn("norm", expr("sqrt(graft_dot(v, v))"))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos_u",
        expr("CAST(floor(graft_dot(va, vb) / (na * nb) * 1000000.0) AS BIGINT)"))
      .filter(col("cos_u") >= math.round(minCos * 1e6))
      .select(col("vec_a"), col("vec_b"), col("cos_u"))
  }

  /** Dedup applied: the cleaned corpus — keep only each duplicate
    * group's keeper row (min doc_id), via a semi join against the
    * keeper set. The second half of every dedup pipeline: the keeper
    * list is small relative to the corpus, so at scale this is a
    * broadcast semi join against a full corpus scan — no corpus
    * shuffle. */
  def cleanedCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val keepers = exactDedupOn(docs).select(col("keeper").as("doc_id"))
    docs.join(keepers, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Applied near-dedup (greedy dominated-drop): remove every doc that
    * has a verified near-duplicate with a smaller id — the single-pass
    * rule curation pipelines apply when full cluster resolution isn't
    * required. Every cluster minimum survives (nothing dominates it);
    * chain interiors drop even when their endpoints aren't directly
    * similar, which is the standard greedy behavior — [[dedupClusters]]
    * is the exact-components alternative when keeper-per-component
    * semantics matter. Cost: the [[minhashPairs]] pipeline plus ONE
    * anti join on doc_id — no iteration, the cheap path at 100 TB. */
  def cleanedNearCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val dominated = minhashPairs(spark, sfDir)
      .select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(spark, sfDir)
      .join(dominated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Quality-aware near-dedup — C4/RefinedWeb keep-BEST semantics:
    * among verified near-dup neighbors, a document survives iff no
    * neighbor beats it on the quality score (ties break to the lower
    * doc_id), upgrading [[cleanedNearCorpusOn]]'s keep-lowest-id greedy
    * rule to keep-highest-quality — what a production pipeline actually
    * wants when duplicates differ in cleanliness. Neighbor-LOCAL, like
    * the id-greedy form: in a chain a–b–c where only adjacent pairs
    * verify, each doc is judged against its own neighbors (no
    * connected-components iteration); quality is the exact integer
    * micro-score of [[graft.ext.TextAnalysis.qualityScoresOn]], so the
    * comparison is integer-exact cross-engine. Shape: the pair relation
    * doubles into a directed neighbor list, two id-keyed joins fetch
    * the scores, one anti join applies the drop — no new corpus-sized
    * shuffle beyond [[minhashPairsOn]]'s own. */
  def qualityDedupCorpusOn(docs: DataFrame): DataFrame =
    qualityDedupCorpusOn(docs, minhashPairsOn(docs))

  /** [[qualityDedupCorpusOn]] over an explicit pair relation — the
    * seam the memoized written-pairs table plugs into. */
  def qualityDedupCorpusOn(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityScoresOn(docs).select(col("doc_id"), col("quality_u"))
    val nbrs = pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("nbr"))
      .union(pairs.select(col("doc_b").as("doc_id"), col("doc_a").as("nbr")))
    val beaten = nbrs
      .join(q.toDF("doc_id", "q_self"), "doc_id")
      .join(q.toDF("nbr", "q_nbr"), "nbr")
      .filter(col("q_nbr") > col("q_self") ||
        (col("q_nbr") === col("q_self") && col("nbr") < col("doc_id")))
      .select(col("doc_id")).distinct()
    docs.join(beaten, Seq("doc_id"), "left_anti")
      .join(q, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("quality_u"))
  }

  def qualityDedupCorpus(spark: SparkSession, sfDir: String): DataFrame =
    qualityDedupCorpusOn(Tables.documents(spark, sfDir), minhashPairs(spark, sfDir))

  /** Benchmark decontamination — drop from the TRAINING corpus every
    * document sharing any word n-gram (n=4 here for a measurable hit
    * rate on the synthetic corpus; production pipelines use 8–13) with
    * the EVALUATION set (docs with doc_id % 50 == 0 — the held-out
    * benchmark stand-in). The n-gram pass is the codegen posexplode+lead
    * shape; shingles join on xxhash64 keys (8-byte longs, not strings)
    * as in [[ngramJaccardPairs]]. The eval shingle set is a sliver of
    * the corpus — at 100 TB a benchmark suite is MBs — so the
    * contamination probe BROADCASTS it against the train shingle
    * stream; the corpus itself never shuffles for the probe. */
  def decontaminatedCorpus(spark: SparkSession, sfDir: String): DataFrame =
    decontaminatedCorpusOn(Tables.documents(spark, sfDir))

  /** [[decontaminatedCorpus]] over an explicit documents frame — the
    * operator body, exposed so ExtSpec can plant a known contaminated
    * doc and assert exactly it is dropped. */
  def decontaminatedCorpusOn(docs: DataFrame): DataFrame = {
    val isEval = col("doc_id") % 50 === 0
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .select(col("doc_id"), concat(
          col("word"), lit(" "), lead(col("word"), 1).over(w), lit(" "),
          lead(col("word"), 2).over(w), lit(" "), lead(col("word"), 3).over(w))
        .as("ng"))
      .filter(col("ng").isNotNull) // concat is null-out past the doc tail
      .select(col("doc_id"), xxhash64(col("ng")).as("g"))
    val evalGrams = grams.filter(isEval).select(col("g")).distinct()
    val contaminated = grams.filter(!isEval)
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct()
    docs.filter(!isEval)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** The REPORT form of [[decontaminatedCorpusOn]] — instead of
    * silently dropping contaminated train documents, emit WHICH train
    * doc shares HOW MANY distinct 4-grams with WHICH eval doc. This is
    * the artifact a contamination investigation actually reads (the
    * drop list follows from it, but the pair evidence is what gets
    * audited). Same scale shape as the drop path: the eval side is
    * MBs even at 100 TB (it's the benchmark), so the gram probe is a
    * broadcast join against the train shingle stream; one aggregate on
    * the (train, eval) pair. */
  def contaminationReportOn(docs: DataFrame): DataFrame = {
    val isEval = col("doc_id") % 50 === 0
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .select(col("doc_id"), concat(
          col("word"), lit(" "), lead(col("word"), 1).over(w), lit(" "),
          lead(col("word"), 2).over(w), lit(" "), lead(col("word"), 3).over(w))
        .as("ng"))
      .filter(col("ng").isNotNull)
      .select(col("doc_id"), xxhash64(col("ng")).as("g")).distinct()
    val evalGrams = grams.filter(isEval)
      .select(col("doc_id").as("eval_doc"), col("g"))
    grams.filter(!isEval)
      .join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id").as("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("shared_grams"))
  }

  def contaminationReport(spark: SparkSession, sfDir: String): DataFrame =
    contaminationReportOn(Tables.documents(spark, sfDir))

  /** Corpus-wide duplicated-span audit — the C4/RefinedWeb "repeated
    * span" rule (Raffel et al. 2020 drop any three-sentence span seen
    * before; RefinedWeb's exact-substring pass) adapted to the
    * word-stream corpus: every k-word shingle is hashed, a shingle seen
    * in ≥2 DISTINCT documents is a cross-doc duplicated span (a doc
    * repeating itself is [[graft.ext.TextAnalysis.repetitionSignals]]'
    * job, not this one), and each document reports how much of it is
    * boilerplate. The downstream cleaner cuts those spans or drops
    * high-fraction docs; the audit is the decision input.
    *
    * 100 TB shape: shingling is map-side (explode + slice over the
    * split array — no window, no self-join); the only corpus-sized
    * shuffles are the hash groupBy (shrinks to distinct shingles) and
    * the hash-co-partitioned join back (both sides keyed by `h`, so AQE
    * plans a co-located join, never a broadcast of the corpus). Spans
    * travel as 64-bit xxhash64 keys, never as text. */
  def dupSpanAuditOn(docs: DataFrame, k: Int = 8): DataFrame = {
    val shingles = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(ws) - $k), i -> array_join(slice(ws, i + 1, $k), ' '))"))
        .as("sh"))
      // xxhash64: one codegen-native pass per shingle where the r19
      // md5→hex-substr→conv chain paid a crypto digest + two string
      // passes + a radix parse (guide §4; r19 verdict #7). The key is
      // INTERNAL — only per-doc span counts leave this function — so
      // the oracle's own md5-derived keys partition shingles
      // identically (both hashes are collision-free at any plausible
      // shingle count; 64 vs 60 bits only lowers the odds further).
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
    // "≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id): plain min/max
    // partial-aggregates through ONE h-keyed exchange, where the r18
    // countDistinct form planned the two-exchange distinct-aggregate
    // rewrite (r19, guide §2.3 — same rows out, bit-identical audit)
    val crossDoc = shingles
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("h"))
    shingles
      .join(crossDoc.withColumn("dup", lit(1)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("dup"), lit(0))).as("n_dup_spans"))
  }

  def dupSpanAudit(spark: SparkSession, sfDir: String): DataFrame =
    dupSpanAuditOn(Tables.documents(spark, sfDir))

  /** The APPLIED form of [[dupSpanAuditOn]] — drop documents that are
    * mostly boilerplate (strictly more than half their spans appear in
    * other documents; the threshold compares integers, `2·dup > total`,
    * so no float crosses the oracle boundary). Documents shorter than
    * the shingle width have no spans, hence no audit row, hence always
    * survive. One anti join against the audit's drop set — the same
    * composition shape as [[cleanedCorpus]]/[[cleanedNearCorpus]]. */
  def spanCleanedCorpusOn(docs: DataFrame, k: Int = 8): DataFrame = {
    val drops = dupSpanAuditOn(docs, k)
      .filter(col("n_dup_spans") * 2 > col("n_spans"))
      .select(col("doc_id"))
    docs.join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  def spanCleanedCorpus(spark: SparkSession, sfDir: String): DataFrame =
    spanCleanedCorpusOn(Tables.documents(spark, sfDir))

  /** The EXCISED form of the span cleaner — C4/RefinedWeb's actual
    * applied semantics (Raffel et al. 2020 §2.2 cut the repeated
    * three-sentence span; RefinedWeb's exact-substring pass removes the
    * matched substring): cut every cross-doc duplicated k-word span out
    * of the document and KEEP the remainder, instead of
    * [[spanCleanedCorpusOn]]'s coarser drop-the-whole-doc rule. A word
    * survives iff no duplicated span covers its position; the output
    * carries the reconstructed remainder plus its word/char accounting,
    * one row per input document (a fully-boilerplate doc keeps an empty
    * remainder — the cut is a transform, not a filter).
    *
    * 100 TB shape: same two corpus-shuffles as the audit (hash groupBy
    * to find cross-doc hashes; hash-keyed join back), then ONE extra
    * doc_id-keyed aggregate collecting each doc's duplicated span
    * STARTS (bounded by the doc's own span count — never corpus-sized
    * state) and a map-side HOF rebuild: `filter(ws, (w, p) ->
    * !exists(starts, ...))` runs per document with its own starts
    * array, no window, no explode of covered positions (which would
    * k-multiply the shuffle). */
  def spanExcisedCorpusOn(docs: DataFrame, k: Int = 8): DataFrame = {
    val words = docs.select(col("doc_id"), col("lang"), col("source"),
      split(col("text"), " ").as("ws"))
    val shingles = words
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ws) - $k), i -> array_join(slice(ws, i + 1, $k), ' '))"))
        .as(Seq("i", "sh")))
      // internal-only key: xxhash64 for the same reason as
      // dupSpanAuditOn (one codegen hash pass, not md5+substr+conv)
      .select(col("doc_id"), col("i"), xxhash64(col("sh")).as("h"))
    // min ≠ max ⟺ ≥2 distinct docs — one exchange instead of the
    // distinct-aggregate rewrite's two (see dupSpanAuditOn)
    val crossDoc = shingles
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("h"))
    val starts = shingles.join(crossDoc, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("i"))).as("starts"))
    words.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        size(col("ws")).cast("long").as("n_words"),
        expr(s"CASE WHEN starts IS NULL THEN ws ELSE " +
          s"filter(ws, (w, p) -> NOT exists(starts, s -> p >= s AND p < s + $k)) END")
          .as("kept"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_words"),
        size(col("kept")).cast("long").as("kept_words"),
        length(array_join(col("kept"), " ")).cast("long").as("kept_chars"),
        array_join(col("kept"), " ").as("kept_text"))
  }

  def spanExcisedCorpus(spark: SparkSession, sfDir: String): DataFrame =
    spanExcisedCorpusOn(Tables.documents(spark, sfDir))

  /** Incremental near-dedup — the nightly-ingest shape: a NEW batch
    * (sources src10..src19) deduped against the already-curated BASE
    * corpus (src0..src9) without ever re-pairing the base against
    * itself. A Bloom filter over the base's LSH band keys (built once
    * per batch; ~1.2 MB per million keys at 1% fpp, broadcast to the
    * new-batch scan) acts as a row-level prefilter: most new docs miss
    * every base bucket and skip the band join entirely. Survivors
    * equi-join the base bands and are EXACTLY verified by word-set
    * Jaccard, so Bloom false positives cost work, never correctness —
    * the output is bit-identical to the filterless plan (pinned by
    * ExtSpec against the oracle's filterless formulation). At 100 TB
    * the probe side of the band join only ever carries batch-sized
    * input, and the base is touched by one scan to build the filter
    * plus the candidate fetch. */
  def incrementalCleaned(spark: SparkSession, sfDir: String,
                         threshold: Double = 0.9): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val srcNum = expr("cast(substring(source, 4) as int)")
    val fresh = docs.filter(srcNum >= 10)
    // The base index is session-memoized in graft.Memo: repeated
    // invocations (a bench loop, a nightly job re-run in one session)
    // reuse ONE persisted bands frame + ONE Bloom filter instead of
    // stacking a new pair per call — which is also the production
    // shape: the base corpus index outlives any single probe batch.
    // Memo unpersists it when the entry is released.
    val index = graft.Memo.cached(spark, sfDir, "dedup_base_index",
        (_: BaseIndex).unpersist())(
      buildBaseIndex(docs.filter(srcNum < 10)))
    fresh.join(dedupAgainstIndex(fresh, index, threshold),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** [[incrementalCleaned]] over an explicit documents frame — exposed
    * so ExtSpec can plant cross-batch near-dups and pin the
    * Bloom-prefilter result-neutrality contract. Builds an unpersisted
    * throwaway index (the bands pipeline runs once more than the
    * memoized session path — fine at test scale, and nothing pins the
    * block manager after the call). */
  def incrementalCleanedOn(docs: DataFrame,
                           threshold: Double = 0.9): DataFrame = {
    val srcNum = expr("cast(substring(source, 4) as int)")
    val fresh = docs.filter(srcNum >= 10)
    val index = buildBaseIndex(docs.filter(srcNum < 10), persist = false)
    fresh.join(dedupAgainstIndex(fresh, index, threshold),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** The base corpus' dedup index: its LSH band relation (with word
    * sets for the verify stage) plus a Bloom filter over the band keys
    * (~1.2 MB per million keys at 1% fpp, broadcast). Built ONCE and
    * probed by every incoming batch — [[graft.streaming.StreamingDedup]]
    * holds one per stream (exposed on its handle for cleanup at stream
    * stop); [[incrementalCleaned]] memoizes one per (session, corpus)
    * in [[graft.Memo]].
    * Call [[BaseIndex.unpersist]] when done with an owned index. */
  final case class BaseIndex(
      bands: DataFrame,
      bloomBytes: Array[Byte]) {
    /** Release everything the index pins: the cached bands blocks (the
      * Bloom filter is plan-embedded sketch bytes — r19: a binary
      * literal probed by Spark's native `might_contain`, which stays
      * inside whole-stage codegen; the r18 form was a broadcast
      * `util.sketch.BloomFilter` probed by a row-at-a-time Scala UDF —
      * nothing to destroy). */
    def unpersist(): Unit = {
      try bands.unpersist() catch { case _: Throwable => () }
    }
  }

  private def bandKeyCol = concat_ws(":", col("lang"), col("band_idx"), col("band_key"))

  def buildBaseIndex(base: DataFrame, persist: Boolean = true): BaseIndex = {
    val bands0 = bandKeys(base).withColumn("bk", bandKeyCol)
      .join(minhashWords(base), "doc_id")
      .select(col("doc_id"), col("bk"), col("w"))
    val bands = if (persist) bands0.persist() else bands0
    // keyed on xxhash64(bk) LONGS so the probe side can use Spark's
    // native codegen `might_contain` (its long-input form) — fp
    // behavior shifts with the key hashing, never correctness (the
    // exact verify catches every fp; ExtSpec pins result-neutrality).
    // Sized to the index's ACTUAL key count (floored for tiny bases),
    // not the r18 fixed 2^20: the sketch now rides the plan as a
    // binary literal (one stage-broadcast task binary per stage, the
    // same ~10 bits/key a broadcast would carry), and a fixed 1.2 MB
    // literal measured a 2x planning/shipping overhead on the probe.
    // A 100 TB base (billions of keys) shards the index by (lang,
    // band_idx) or raises fpp before any single-filter shape works —
    // true of the r18 broadcast form too.
    val nKeys = math.max(bands.count(), 1024L)
    val bloom = bands.select(xxhash64(col("bk")).as("h"))
      .stat.bloomFilter("h", nKeys, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    BaseIndex(bands, bos.toByteArray)
  }

  /** doc_ids of `fresh` docs with a verified (word-set Jaccard ≥
    * threshold) near-duplicate in the indexed base. The Bloom filter
    * prefilters the fresh band stream ROW-level: misses skip the band
    * join entirely, and false positives are caught by the exact
    * verify, so the result is bit-identical to the filterless
    * formulation. r19 (r18 verdict low-fix): the probe is Spark's
    * native `might_contain` over a binary sketch literal — it stays
    * inside whole-stage codegen, where the previous broadcast-UDF
    * probe broke the fresh-band stage's codegen at every row. One
    * body serves batch ([[incrementalCleanedOn]]) and streaming
    * ([[graft.streaming.StreamingDedup]] re-plans it per micro-batch
    * via foreachBatch). */
  def dedupAgainstIndex(fresh: DataFrame, index: BaseIndex,
                        threshold: Double = 0.9): DataFrame = {
    graft.functions.GraftFunctions.register(fresh.sparkSession)
    val cand = bandKeys(fresh).withColumn("bk", bandKeyCol)
      .filter(call_function("graft_might_contain",
        lit(index.bloomBytes), xxhash64(col("bk"))))
      .select(col("doc_id").as("doc_n"), col("bk"))
      .join(index.bands.select(col("bk"), col("doc_id").as("doc_b"),
        col("w").as("wb")), "bk")
      .select(col("doc_n"), col("doc_b"), col("wb")).distinct()
    // Exact verify: fetch the fresh side's word sets for the (tiny)
    // candidate set via a shuffle-hash join — same no-corpus-broadcast
    // contract as [[minhashPairsOn]]; the base side's word sets ride
    // the index.
    cand.hint("shuffle_hash")
      .join(minhashWords(fresh).select(col("doc_id").as("doc_n"),
        col("w").as("wn")), "doc_n")
      .withColumn("common", expr("size(array_intersect(wn, wb))"))
      .filter(col("common").cast("double") /
        (expr("size(wn) + size(wb)") - col("common")) >= threshold)
      .select(col("doc_n").as("doc_id")).distinct()
  }

  /** Suffix-adjacency longest-duplicated-span detection — the
    * suffix-ARRAY flavor of cross-doc dedup (the ExactSubstr shape of
    * Lee et al. 2021, arXiv:2107.06499 "Deduplicating Training Data
    * Makes Language Models Better"): where the span audit asks "which
    * FIXED-k shingles repeat", this asks "how LONG is the longest
    * repeated span between two documents". Every word position emits
    * its suffix (capped at `cap` words — the operational truncation a
    * real ExactSubstr run applies, since spans past the threshold need
    * no exact length); suffixes sort; adjacent CROSS-document suffixes
    * with a common prefix of ≥ `minLcp` words are duplicate-span
    * evidence, aggregated per doc pair (max LCP + number of sites).
    *
    * Scale shape — the reason this is NOT a global sort: two suffixes
    * can share a prefix of ≥ 2 words only if they share their leading
    * BIGRAM, so the sort runs per bigram partition (hash shuffle +
    * within-group sort, the fully distributed suffix-grouping trick);
    * the global suffix array is never materialized. Adjacency within
    * the group finds every duplicated span ≥ minLcp (some multi-doc
    * spans attribute to whichever pair sorts adjacent — inherent to
    * adjacency-based detection and true of ExactSubstr itself). LCP is
    * computed by an O(cap²) fully-equal-prefix count (both engines run
    * the identical HOF — no early-exit semantics to mismatch). */
  def suffixLcpPairsOn(docs: DataFrame, cap: Int = 8, minLcp: Int = 4): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1"), col("w2"))
      .orderBy(col("sfx").asc, col("doc_id").asc, col("pos").asc)
    // r20 (guide §2.3, shuffle fewer bytes): the suffix travels through
    // the (w1, w2) group exchange ONLY as its joined string `sfx` (the
    // sort key) — the r19 shape additionally shipped the same ≤cap
    // words as a boxed array per row, roughly doubling the shuffle.
    // The word arrays re-derive AFTER the window by re-splitting the
    // two strings (split∘join is lossless on space-split words).
    val sfx = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(expr("size(ws) >= 2"))
      .select(col("doc_id"), col("ws"),
        explode(expr("sequence(0, size(ws) - 2)")).as("pos"))
      .select(col("doc_id"), col("pos"),
        expr("element_at(ws, pos + 1)").as("w1"),
        expr("element_at(ws, pos + 2)").as("w2"),
        expr(s"array_join(slice(ws, pos + 1, $cap), ' ')").as("sfx"))
    sfx
      .withColumn("nd", lead(col("doc_id"), 1).over(w))
      .withColumn("nx", lead(col("sfx"), 1).over(w))
      .filter(col("nd").isNotNull && col("nd") =!= col("doc_id"))
      .withColumn("sfa", expr("split(sfx, ' ')"))
      .withColumn("nb", expr("split(nx, ' ')"))
      // LCP in one O(cap) pass with single-state fold (r19 ran an
      // O(cap²) nested filter-per-prefix): state = leading-equal count
      // so far, frozen at the first mismatch via the sign bit
      .withColumn("lcp", expr(
        """aggregate(sequence(1, least(size(sfa), size(nb))), 0, (acc, i) ->
          |  IF(acc < 0, acc,
          |     IF(element_at(sfa, i) = element_at(nb, i), acc + 1, -acc - 1)))""".stripMargin))
      .withColumn("lcp", expr("IF(lcp < 0, -lcp - 1, lcp)"))
      .filter(col("lcp") >= minLcp)
      .select(least(col("doc_id"), col("nd")).as("doc_a"),
        greatest(col("doc_id"), col("nd")).as("doc_b"), col("lcp"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("lcp")).cast("int").as("max_lcp"),
        count(lit(1)).as("n_sites"))
  }

  def suffixLcpPairs(spark: SparkSession, sfDir: String): DataFrame =
    suffixLcpPairsOn(Tables.documents(spark, sfDir))

  /** Cluster-size distribution — the dedup report a pipeline publishes
    * (how much of the corpus sits in 2-doc twins vs giant components):
    * one aggregate over [[dedupClusters]]'s (doc, cluster) assignment,
    * then the histogram of component sizes. Singleton docs are outside
    * the near-dup graph by construction (clusters only covers docs with
    * at least one near-dup edge), matching the oracle's reach relation. */
  def clusterSizes(spark: SparkSession, sfDir: String): DataFrame =
    dedupClusters(spark, sfDir)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cluster_sizes" -> clusterSizes _,
    "dedup_suffix_lcp" -> suffixLcpPairs _,
    "dedup_decontaminate" -> decontaminatedCorpus _,
    "dedup_incremental" -> ((s: SparkSession, d: String) => incrementalCleaned(s, d)),
    "dedup_exact" -> exactDedup _,
    "dedup_cleaned" -> cleanedCorpus _,
    "dedup_cleaned_near" -> cleanedNearCorpus _,
    "dedup_quality_near" -> qualityDedupCorpus _,
    "dedup_rate_by_source" -> dupRateBySource _,
    "dedup_minhash_lsh" -> ((s: SparkSession, d: String) => minhashPairs(s, d)),
    "dedup_minhash_lsh_bucketed" -> ((s: SparkSession, d: String) => minhashPairsBucketed(s, d)),
    "dedup_bands_delta" -> ((s: SparkSession, d: String) => minhashPairsDelta(s, d)),
    "dedup_simhash" -> ((s: SparkSession, d: String) => simhashPairs(s, d)),
    "dedup_clusters" -> dedupClusters _,
    "dedup_ngram_jaccard" -> ngramJaccardPairs _,
    "dedup_embedding" -> embeddingNearDups _,
    "dedup_span_audit" -> dupSpanAudit _,
    "dedup_span_cleaned" -> spanCleanedCorpus _,
    "dedup_span_excised" -> spanExcisedCorpus _,
    "dedup_contamination_report" -> contaminationReport _,
  )

  /** DuckDB CTE for the per-doc band keys (carries `source` for the
    * incremental-ingest oracle); terminates in
    * `bands(doc_id, lang, source, w, b0, b1)`. */
  private[ext] val minhashBandsCte: String =
    """ws AS (
      |  SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS w FROM documents),
      |xs AS (
      |  SELECT doc_id, lang, source, w,
      |    list_transform(w, s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS x FROM ws),
      |sig AS (
      |  SELECT doc_id, lang, source, w,
      |    list_transform(range(1, 17), i ->
      |      list_min(list_transform(x, v ->
      |        ((1000003 * i) % 1000000007 * v + (7919 * i * i + 12345) % 1000000007) % 2147483647))) AS s
      |  FROM xs),
      |bands AS (
      |  SELECT doc_id, lang, source, w,
      |    array_to_string(s[1:8], '-') AS b0, array_to_string(s[9:16], '-') AS b1 FROM sig)""".stripMargin

  /** Shared DuckDB CTE mirroring the [[minhashPairs]] pipeline exactly;
    * terminates in `jacp(doc_a, doc_b, jac)` — the verified near-dup
    * pairs — reused by the minhash-derived oracles. */
  private[ext] val minhashOracleCte: String =
    s"""$minhashBandsCte,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.w AS wa, b.w AS wb
      |  FROM bands a JOIN bands b
      |    ON a.lang = b.lang AND a.doc_id < b.doc_id AND (a.b0 = b.b0 OR a.b1 = b.b1)),
      |jacp AS (
      |  SELECT doc_a, doc_b, jac FROM (
      |    SELECT doc_a, doc_b,
      |      CAST(len(list_intersect(wa, wb)) AS DOUBLE)
      |        / (len(wa) + len(wb) - len(list_intersect(wa, wb))) AS jac
      |    FROM cand)
      |  WHERE jac >= 0.9)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "dedup_suffix_lcp" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |s AS (
        |  SELECT doc_id, p.p AS pos, ws[p.p + 1] AS w1, ws[p.p + 2] AS w2,
        |    list_slice(ws, p.p + 1, p.p + 8) AS sfa,
        |    array_to_string(list_slice(ws, p.p + 1, p.p + 8), ' ') AS sfx
        |  FROM d, LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS p) p),
        |n AS (
        |  SELECT doc_id, sfa,
        |    LEAD(doc_id) OVER win AS nd, LEAD(sfa) OVER win AS nb
        |  FROM s WINDOW win AS (PARTITION BY w1, w2 ORDER BY sfx ASC, doc_id ASC, pos ASC)),
        |l AS (
        |  SELECT doc_id, nd,
        |    list_sum(list_transform(range(1, least(len(sfa), len(nb)) + 1), i ->
        |      CASE WHEN len(list_filter(range(1, i + 1), j -> sfa[j] = nb[j])) = i
        |           THEN 1 ELSE 0 END)) AS lcp
        |  FROM n WHERE nd IS NOT NULL AND nd <> doc_id)
        |SELECT LEAST(doc_id, nd) AS doc_a, GREATEST(doc_id, nd) AS doc_b,
        |  CAST(MAX(lcp) AS INTEGER) AS max_lcp, CAST(COUNT(*) AS BIGINT) AS n_sites
        |FROM l WHERE lcp >= 4 GROUP BY 1, 2""".stripMargin,
    "dedup_contamination_report" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |shingles AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 3), ' ') AS ng
        |  FROM words, UNNEST(range(1, len(w) - 2)) AS t(i))
        |SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc,
        |  CAST(COUNT(*) AS BIGINT) AS shared_grams
        |FROM shingles t JOIN shingles e USING (ng)
        |WHERE t.doc_id % 50 <> 0 AND e.doc_id % 50 = 0
        |GROUP BY t.doc_id, e.doc_id""".stripMargin,
    "dedup_span_audit" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(array_to_string(list_slice(ws, i, i + 7), ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM words, UNNEST(range(1, len(ws) - 6)) AS t(i)
        |  WHERE len(ws) >= 8),
        |cross_doc AS (
        |  SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY h)
        |  WHERE nd >= 2)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_spans,
        |  CAST(SUM(CASE WHEN h IN (SELECT h FROM cross_doc) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
        |FROM sh GROUP BY doc_id""".stripMargin,
    "dedup_span_cleaned" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(array_to_string(list_slice(ws, i, i + 7), ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM words, UNNEST(range(1, len(ws) - 6)) AS t(i)
        |  WHERE len(ws) >= 8),
        |cross_doc AS (
        |  SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY h)
        |  WHERE nd >= 2),
        |audit AS (
        |  SELECT doc_id, COUNT(*) AS n_spans,
        |    SUM(CASE WHEN h IN (SELECT h FROM cross_doc) THEN 1 ELSE 0 END) AS n_dup
        |  FROM sh GROUP BY doc_id),
        |drops AS (SELECT doc_id FROM audit WHERE n_dup * 2 > n_spans)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM drops)""".stripMargin,
    "dedup_span_excised" ->
      """WITH words AS (
        |  SELECT doc_id, lang, source, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id, i - 1 AS p0,
        |    CAST(concat('0x', substr(md5(array_to_string(list_slice(ws, i, i + 7), ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM words, UNNEST(range(1, len(ws) - 6)) AS t(i)
        |  WHERE len(ws) >= 8),
        |cross_doc AS (
        |  SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY h)
        |  WHERE nd >= 2),
        |starts AS (
        |  SELECT DISTINCT doc_id, p0 FROM sh WHERE h IN (SELECT h FROM cross_doc)),
        |wpos AS (
        |  SELECT doc_id, lang, source, len(ws) AS n_words, ws[i] AS word, i - 1 AS p
        |  FROM words, UNNEST(range(1, len(ws) + 1)) AS t(i)),
        |covered AS (
        |  SELECT w.doc_id, w.lang, w.source, w.n_words, w.p, w.word,
        |    MAX(CASE WHEN s.p0 IS NOT NULL THEN 1 ELSE 0 END) AS cov
        |  FROM wpos w LEFT JOIN starts s
        |    ON s.doc_id = w.doc_id AND w.p >= s.p0 AND w.p <= s.p0 + 7
        |  GROUP BY w.doc_id, w.lang, w.source, w.n_words, w.p, w.word)
        |SELECT doc_id, lang, source,
        |  CAST(MAX(n_words) AS BIGINT) AS n_words,
        |  CAST(COUNT(CASE WHEN cov = 0 THEN 1 END) AS BIGINT) AS kept_words,
        |  CAST(length(COALESCE(string_agg(CASE WHEN cov = 0 THEN word END, ' ' ORDER BY p), '')) AS BIGINT) AS kept_chars,
        |  COALESCE(string_agg(CASE WHEN cov = 0 THEN word END, ' ' ORDER BY p), '') AS kept_text
        |FROM covered GROUP BY doc_id, lang, source""".stripMargin,
    "dedup_decontaminate" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |shingles AS (
        |  SELECT doc_id, array_to_string(list_slice(w, i, i + 3), ' ') AS ng
        |  FROM words, UNNEST(range(1, len(w) - 2)) AS t(i)),
        |ev AS (SELECT DISTINCT ng FROM shingles WHERE doc_id % 50 = 0),
        |cont AS (
        |  SELECT DISTINCT s.doc_id FROM shingles s JOIN ev USING (ng)
        |  WHERE s.doc_id % 50 <> 0)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM cont)""".stripMargin,
    "dedup_incremental" ->
      s"""WITH $minhashBandsCte,
         |newb AS (SELECT * FROM bands WHERE CAST(substr(source, 4) AS INT) >= 10),
         |base AS (SELECT * FROM bands WHERE CAST(substr(source, 4) AS INT) < 10),
         |cand AS (
         |  SELECT DISTINCT n.doc_id, n.w AS wn, b.w AS wb
         |  FROM newb n JOIN base b ON n.lang = b.lang AND (n.b0 = b.b0 OR n.b1 = b.b1)),
         |dropped AS (
         |  SELECT DISTINCT doc_id FROM cand
         |  WHERE CAST(len(list_intersect(wn, wb)) AS DOUBLE)
         |    / (len(wn) + len(wb) - len(list_intersect(wn, wb))) >= 0.9)
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE CAST(substr(source, 4) AS INT) >= 10
         |  AND doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS fp, CAST(MIN(doc_id) AS BIGINT) AS keeper,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_cleaned" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (
        |  SELECT MIN(doc_id) FROM documents GROUP BY md5(lower(trim(text))))""".stripMargin,
    "dedup_rate_by_source" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT md5(lower(trim(text)))) AS BIGINT) AS n_unique,
        |  CAST(COUNT(*) - COUNT(DISTINCT md5(lower(trim(text)))) AS DOUBLE) / COUNT(*) AS dup_rate
        |FROM documents GROUP BY source""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $minhashOracleCte
         |SELECT doc_a, doc_b, jac FROM jacp""".stripMargin,
    // same oracle verbatim: the bucketed band layout must change the
    // PLAN (zero-exchange self-join), never the answer.
    "dedup_minhash_lsh_bucketed" ->
      s"""WITH $minhashOracleCte
         |SELECT doc_a, doc_b, jac FROM jacp""".stripMargin,
    // and verbatim again for the delta-append path: base-write +
    // batch-append must be row-identical to the full rebuild.
    "dedup_bands_delta" ->
      s"""WITH $minhashOracleCte
         |SELECT doc_a, doc_b, jac FROM jacp""".stripMargin,
    // quality_u mirrors qualityScoresOn's exact integer micro-score —
    // keep-best comparisons are integer-exact, no round half-tie.
    "dedup_quality_near" ->
      s"""WITH $minhashOracleCte,
         |qual AS (
         |  SELECT doc_id,
         |    CAST((500000 * len(list_distinct(string_split(text, ' '))))
         |      // ${TextAnalysis.nTokensSql}
         |      + 5000 * least(${TextAnalysis.nTokensSql}, 100) AS BIGINT) AS quality_u
         |  FROM documents),
         |nbrs AS (
         |  SELECT doc_a AS doc_id, doc_b AS nbr FROM jacp
         |  UNION ALL SELECT doc_b AS doc_id, doc_a AS nbr FROM jacp),
         |beaten AS (
         |  SELECT DISTINCT n.doc_id
         |  FROM nbrs n
         |  JOIN qual qs ON qs.doc_id = n.doc_id
         |  JOIN qual qn ON qn.doc_id = n.nbr
         |  WHERE qn.quality_u > qs.quality_u
         |     OR (qn.quality_u = qs.quality_u AND n.nbr < n.doc_id))
         |SELECT d.doc_id, d.lang, d.source, d.n_chars, q.quality_u
         |FROM documents d JOIN qual q ON q.doc_id = d.doc_id
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM beaten)""".stripMargin,
    "dedup_cleaned_near" ->
      s"""WITH $minhashOracleCte
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT doc_b FROM jacp)""".stripMargin,
    "dedup_simhash" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |hs AS (SELECT doc_id,
        |  list_transform(w, s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)) AS hv FROM ws),
        |sh AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(range(0, 60), b ->
        |      CASE WHEN len(list_filter(hv, h -> (h >> b) & 1 = 1)) * 2 > len(hv)
        |           THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS simhash
        |  FROM hs),
        |blocks AS (
        |  SELECT doc_id, simhash, unnest([(simhash >> 0) & 32767, (simhash >> 15) & 32767,
        |    (simhash >> 30) & 32767, (simhash >> 45) & 32767]) AS block_key,
        |    unnest([0, 1, 2, 3]) AS block_idx
        |  FROM sh)
        |SELECT doc_a, doc_b, CAST(hd AS INTEGER) AS hd FROM (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    bit_count(xor(a.simhash, b.simhash)) AS hd
        |  FROM blocks a JOIN blocks b
        |    ON a.block_idx = b.block_idx AND a.block_key = b.block_key AND a.doc_id < b.doc_id)
        |WHERE hd <= 8""".stripMargin,
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $minhashOracleCte,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM jacp
         |          UNION ALL SELECT doc_b, doc_a FROM jacp),
         |reach AS (
         |  SELECT u AS doc, u AS label FROM edges
         |  UNION
         |  SELECT e.v AS doc, r.label FROM edges e JOIN reach r ON r.doc = e.u),
         |cl AS (SELECT doc, MIN(label) AS cluster FROM reach GROUP BY doc),
         |szs AS (SELECT cluster, COUNT(*) AS sz FROM cl GROUP BY cluster)
         |SELECT CAST(sz AS BIGINT) AS cluster_size,
         |  CAST(COUNT(*) AS BIGINT) AS n_clusters
         |FROM szs GROUP BY sz""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashOracleCte,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM jacp
         |          UNION ALL SELECT doc_b, doc_a FROM jacp),
         |reach AS (
         |  SELECT u AS doc, u AS label FROM edges
         |  UNION
         |  SELECT e.v AS doc, r.label FROM edges e JOIN reach r ON r.doc = e.u)
         |SELECT doc AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster
         |FROM reach GROUP BY doc""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 1, 0)),
        |    i -> string_split(text, ' ')[i + 1] || ' ' || string_split(text, ' ')[i + 2])) AS s
        |  FROM documents)
        |SELECT doc_a, doc_b, jac FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
        |  FROM sh a JOIN sh b ON a.doc_id % 10 = 0 AND a.doc_id < b.doc_id)
        |WHERE jac >= 0.1""".stripMargin,
    "dedup_embedding" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS norm
         |  FROM embeddings),
         |bk AS (
         |  SELECT vec_id, v, norm,
         |    ${oracleBand(0, 8)} AS b0,
         |    ${oracleBand(8, 8)} AS b1,
         |    ${oracleBand(16, 8)} AS b2,
         |    ${oracleBand(24, 8)} AS b3
         |  FROM e),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bk a JOIN bk b ON a.vec_id < b.vec_id
         |    AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3))
         |SELECT vec_a, vec_b, cos_u FROM (
         |  SELECT c.vec_a, c.vec_b,
         |    CAST(floor(list_sum(list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i]))
         |      / (x.norm * y.norm) * 1000000.0) AS BIGINT) AS cos_u
         |  FROM cand c JOIN e x ON x.vec_id = c.vec_a JOIN e y ON y.vec_id = c.vec_b)
         |WHERE cos_u >= 400000""".stripMargin,
  )
}
