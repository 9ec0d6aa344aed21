package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{StampedCache, Tables}
import graft.functions.{TextFunctions, VectorFunctions}

/** Deduplication suite for training-data pipelines (SURVEY.md §2.C):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale design: nothing here is O(n²) on the full corpus. Candidate
  * generation always goes through a bucketing shuffle (LSH bands,
  * SimHash chunks, source/length blocks, labels) and pairwise
  * verification happens only within buckets. The generic APIs take any
  * DataFrame so specs can plant near-duplicates.
  */
object Dedup {

  // ---------------------------------------------------------------- C1
  /** Exact dedup via sha256(text) hash-groupBy, reported per source:
    * at 100 TB this is the standard first pass (hash once, group on the
    * 32-byte digest, never shuffle the payload). */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(sha2($"text", 256)).as("n_distinct"))
      .withColumn("n_dups", $"n_docs" - $"n_distinct")
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- C38
  /** KEEP-BEST normalized-exact dedup — canonical-document selection:
    * C1 counts duplicates, THIS picks which copy survives. The
    * cluster key is sha256 of the NORMALIZED text (the shared
    * tokenizer's tokens re-joined — case / punctuation / whitespace
    * invariant, the canonicalization C4-era pipelines apply before
    * exact hashing), which is exactly what makes "best copy" a real
    * choice: raw-identical copies would tie on every quality term,
    * but normalization-equal copies differ in the punctuation and
    * casing the quality score sees. Winner per cluster by E2's ONE
    * composite ([[TextAnalysis.textQualityOf]]) with (quality desc,
    * id) tie-break; NULL-quality copies (token-free — note they all
    * share the empty normal form and collapse into one cluster) rank
    * last rather than crash the sweep.
    *
    * Scale: the winner per cluster runs through the TopKPerKey custom
    * operator — per-partition bounded heaps prune to ONE row per
    * cluster per partition BEFORE the shuffle, so a pathological
    * 10M-copy boilerplate cluster costs each task one comparison
    * stream, where a row_number window would sort the whole hot
    * cluster in a single task. Cluster sizes come from a map-side-
    * combined count. Payloads never shuffle (the 32-byte digest
    * groups). */
  def dedupKeepBest(spark: SparkSession, sfDir: String): DataFrame =
    dedupKeepBestOf(Tables.documents(spark, sfDir))

  /** C38 over an arbitrary docs frame (spec entry — plant
    * normalization-equal copies of differing quality). */
  def dedupKeepBestOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs
      .select($"doc_id", $"source",
        sha2(concat_ws(" ", TextAnalysis.tokens("text")), 256).as("ck"))
      .join(TextAnalysis.textQualityOf(docs)
        .select($"doc_id", $"quality_score"), "doc_id")
      .withColumn("q",
        coalesce($"quality_score", lit(Double.NegativeInfinity)))
      // pinned: the winner pass and the cluster-size count would each
      // re-run the quality scan otherwise
      .localCheckpoint(true)
    val winners = graft.plans.TopK.perKey(keyed, Seq("ck"),
      Seq(col("q").desc, col("doc_id").asc), 1)
    val sizes = keyed.groupBy($"ck").agg(count(lit(1)).as("n_copies"))
    winners.join(sizes, "ck")
      .select($"doc_id", $"source", $"n_copies", $"quality_score")
      .orderBy($"doc_id")
  }

  /** E2's quality formula restated (the oracle's one definition),
    * keep-best winner per sha256 cluster with the identical
    * tie-break. */
  val dedupKeepBestSql: String = {
    val stopList = TextAnalysis.stopwordsSqlList
    s"""WITH x AS (
       |  SELECT doc_id, text,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
       |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
       |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct_cnt
       |  FROM documents),
       |q AS (
       |  SELECT doc_id,
       |    0.25 * (CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE) / nullif(n_tokens, 0))
       |    + 0.25 * (CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(n_tokens, 0))
       |    + 0.25 * (1.0 - CAST(punct_cnt AS DOUBLE) / nullif(length(text), 0))
       |    + 0.25 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) AS quality_score
       |  FROM x),
       |k AS (
       |  SELECT d.doc_id, d.source,
       |    sha256(array_to_string(
       |      regexp_extract_all(lower(d.text), '[a-z0-9]+'), ' ')) AS ck,
       |    q.quality_score
       |  FROM documents d JOIN q USING (doc_id)),
       |r AS (
       |  SELECT doc_id, source, quality_score,
       |    ROW_NUMBER() OVER (PARTITION BY ck ORDER BY
       |      COALESCE(quality_score, '-infinity'::DOUBLE) DESC, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY ck) AS n_copies
       |  FROM k)
       |SELECT doc_id, source, n_copies, quality_score
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  val dedupExactSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT sha256(text)) AS n_distinct,
      |  COUNT(*) - COUNT(DISTINCT sha256(text)) AS n_dups
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- C2
  /** MinHash + LSH near-dup pairs over any (id, text) frame:
    * tokens → `shingleSize`-token shingles → `numHashes`-perm MinHash →
    * `bands` bands → bucket join → exact shingle-Jaccard verification.
    * One explode + one shuffle on (band, bucket); verification join
    * only touches colliding candidates. Default 16 bands × 4 rows puts
    * the S-curve threshold at (1/16)^(1/4) ≈ 0.5, matching the default
    * Jaccard cut. */
  /** Buckets larger than this emit CHAIN pairs (each member ↔ its
    * id-successor within the bucket) instead of all pairs. A bucket of
    * m docs sharing a band signature is, in practice, a mass-duplicate
    * cluster (boilerplate pages, SEO spam) — its m²/2 candidate pairs
    * add no information over the m-1 chain pairs that already connect
    * the cluster for dedup, but they DO melt one reducer at crawl
    * scale. A chain is preferred over a star (everyone ↔ bucket-min):
    * candidates still pass downstream Jaccard/Hamming verification, and
    * under a star one hub doc failing verification severs EVERY other
    * member's only edge, fragmenting the cluster — under a chain a
    * failed edge splits the bucket only at that point, so each
    * contiguous run of genuinely-similar members stays one component.
    * (Recall in mixed hot buckets is still heuristic: members similar
    * to each other but not to their chain neighbors can land in
    * separate components; the cap trades that tail for the hard O(m)
    * bound.) Below the cap, exact all-pairs. */
  val MaxBucketAllPairs = 256

  /** SimHash pigeonhole chunk count, shared by the batch sweep
    * ([[simhashPairs]]) and its streaming twin
    * (`Curation.nearDedupStream`): a 64-bit signature splits into 4
    * disjoint 16-bit chunks, so Hamming ≤ 3 guarantees at least one
    * identical chunk. Changing the split (e.g. 8×8-bit for a Hamming-7
    * budget) MUST go through here so batch and stream candidate
    * generation cannot drift apart. */
  val SimhashChunks = 4

  /** The chunk-explode column over an in-scope 64-bit `sig` column:
    * `posexplode` of the [[SimhashChunks]] chunk values — alias with
    * `.as(Seq("chunk", "cval"))` at the call site. */
  def simhashChunkCols: org.apache.spark.sql.Column = {
    val bits = 64 / SimhashChunks
    posexplode(expr(s"transform(sequence(0, ${SimhashChunks - 1}), " +
      s"c -> (sig >> (c * $bits)) & ${(1L << bits) - 1})"))
  }

  /** Keyspace span of one chunk's values — `chunk * span + value`
    * packs (chunk, value) into one disjoint long key. */
  val SimhashChunkSpan: Long = 1L << (64 / SimhashChunks)

  /** Stage 1 of the MinHash pipeline — (id, sh): tokens hashed into
    * `shingleSize`-token shingle longs. Shingles are hashed to longs
    * immediately: every downstream stage (minhash perms, band hashes,
    * verification intersects) works on 8-byte values instead of
    * re-hashing/shipping UTF-8 strings. Shared by the in-memory sweep
    * and the persisted index build so the two cannot drift. */
  // NOTE (r15): an evalOnce barrier was tried here and REVERTED — the
  // LSH/banded consumers sit behind a repartition whose ReusedExchange
  // already computes this subtree once, so the barrier only added
  // per-row array serialization (dedup_minhash_lsh 0.63→0.72 s). The
  // barrier pays off where pushdown MULTIPLIES evaluation (gate
  // chains), not where an exchange already deduplicates it.
  private[operators] def shingleFrame(docs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int): DataFrame =
    docs
      .select(col(idCol).as("id"),
        expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)").as("toks"))
      .select(col("id"),
        TextFunctions.shingleHashes(col("toks"), shingleSize).as("sh"))

  /** DISTINCT hashed `n`-token grams per doc — (id, g) rows, one per
    * distinct shingle. Docs shorter than `n` tokens emit NOTHING (they
    * have no n-gram; [[graft.functions.TextFunctions.shingleHashes]]
    * would otherwise hash the whole short doc as one window, which is
    * a different semantic). Shared by `Curation.decontaminate` and
    * `TextAnalysis.boilerplateFrac` so corpus-gram semantics cannot
    * drift between them. */
  // NOTE (r15): evalOnce tried and REVERTED here too (decontaminate
  // 0.49→0.54 s) — the two tokenizer copies (size filter + shingle
  // projection) cost less than serializing every doc's token array
  // across the barrier. The rule of thumb the two reverts pin: the
  // barrier needs ~4+ genuine re-evaluations of a heavy expression to
  // beat its own row-materialization cost.
  private[operators] def gramSet(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = Scale.fanOutScanLight(docs)
    .select(col(idCol).as("id"), TextAnalysis.tokens(textCol).as("toks"))
    .filter(size(col("toks")) >= n)
    // project the gram array, explode the ATTRIBUTE: an
    // expression-rooted Generate that also carries required output
    // drops out of whole-stage codegen (the round-7 tfidf finding) —
    // this keeps the kernel in a codegen'd Project, one eval per doc
    .select(col("id"), TextFunctions.shingleHashes(col("toks"), n).as("gs"))
    .select(col("id"), explode(col("gs")).as("g"))

  /** Stage 2 — (id, band, bucket): `numHashes`-perm MinHash signature
    * folded into one xxhash bucket value per band. */
  private[operators] def bandFrame(shingled: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes); bands > numHashes " +
        "would make every band hash a constant and cross-join the corpus")
    val rows = numHashes / bands
    shingled
      .withColumn("sig", TextFunctions.minhash(col("sh"), numHashes))
      // the band transform stays INSIDE the generator deliberately:
      // projecting it into its own column lets CollapseProject inline
      // `sig` into the per-band lambda — minhash recomputed once PER
      // BAND (measured 4× on dedup_minhash_lsh in round 7). As the
      // generator expression it evaluates once per row with sig as a
      // materialized attribute below.
      .select(col("id"),
        posexplode(expr(
          s"""transform(sequence(0, ${bands - 1}),
             |  b -> aggregate(slice(sig, b * $rows + 1, $rows),
             |                 cast(17 as bigint), (acc, x) -> xxhash64(acc, x)))""".stripMargin))
          .as(Seq("band", "bucket")))
  }

  /** Stage 3 — bucket join + exact-Jaccard verification over a banded
    * frame carrying an `is_new` flag. Pairs where NEITHER side is new
    * are skipped: the in-memory sweep marks everything new (all pairs
    * emitted); the indexed sweep marks only the fresh batch, so
    * already-resolved corpus×corpus pairs are never recomputed. */
  private def verifiedPairs(banded: DataFrame, shingled: DataFrame,
      threshold: Double, maxBucket: Int): DataFrame = {
    // Bucket size + chain predecessor ride along via windows over the
    // exchange's own partitioning keys (a sort, no extra shuffle) so the
    // hot-bucket split is visible to both join sides from the same pass;
    // the repartition is the ONE exchange both self-join sides reuse
    // (ReusedExchange: the signature subtree is evaluated once).
    val wb = Window.partitionBy(col("band"), col("bucket"))
    val wo = wb.orderBy(col("id"))
    val b = banded
      .repartition(col("band"), col("bucket"))
      .withColumn("bsz", count(lit(1)).over(wb))
      .withColumn("p", lag(struct(col("id"), col("is_new")), 1).over(wo))
    // Candidate pairs carry ids only — the big shingle arrays rejoin
    // once per surviving pair, not once per band collision.
    val small = b.filter(col("bsz") <= maxBucket)
    val allPairs = small
      .select(col("band"), col("bucket"), col("id").as("id1"), col("is_new").as("n1"))
      .join(small.select(col("band"), col("bucket"), col("id").as("id2"),
        col("is_new").as("n2")), Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .filter(col("n1") || col("n2"))
      .select("id1", "id2")
    // Hot buckets: chain pairs only (id-consecutive members) — O(m)
    // rows, connectivity robust to individual pairs failing the Jaccard
    // verify (see MaxBucketAllPairs). Ordered by id, so id1 < id2.
    val chainPairs = b.filter(col("bsz") > maxBucket && col("p").isNotNull)
      .filter(col("is_new") || col("p.is_new"))
      .select(col("p.id").as("id1"), col("id").as("id2"))
    val candidates = allPairs.unionByName(chainPairs).distinct()
    candidates
      .join(shingled.select(col("id").as("id1"), col("sh").as("s1")), Seq("id1"))
      .join(shingled.select(col("id").as("id2"), col("sh").as("s2")), Seq("id2"))
      .withColumn("jaccard", round(
        size(array_intersect(col("s1"), col("s2"))).cast("double") /
          size(array_union(col("s1"), col("s2"))), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
      .orderBy(col("id1"), col("id2"))
  }

  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucket: Int = MaxBucketAllPairs): DataFrame = {
    // Repartition the shingled frame by id so it becomes ONE exchange
    // that the banding subtree and BOTH verification joins reuse
    // (ReusedExchange). Without it each consumer re-runs tokenize +
    // shingle from the scan — four regex passes over the corpus per
    // sweep at 100 TB; with it the corpus is tokenized once and the
    // shingle arrays ride one extra shuffle instead (8-byte hashes,
    // cheaper than three regex tokenizations of the raw text).
    val shingled = shingleFrame(docs, idCol, textCol, shingleSize)
      .repartition(col("id"))
    verifiedPairs(bandFrame(shingled, numHashes, bands).withColumn("is_new", lit(true)),
      shingled, threshold, maxBucket)
  }

  def dedupMinhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairs(Tables.documents(spark, sfDir), "doc_id", "text")

  // ------------------------------------------------------------- C10
  /** Persist a MinHash-LSH index of a corpus: shingle hashes and band
    * buckets staged as parquet (`bands/` written `partitionBy(band)`,
    * `shingles/` by id, plus a 1-row `meta/` pinning the build
    * parameters). The analog of [[Similarity.writeIvfIndex]] for text
    * dedup: a real curation team sweeps a slowly-growing corpus weekly,
    * and re-tokenizing + re-hashing an unchanged 100 TB corpus is the
    * dominant wasted cost of that sweep. Build once per corpus version;
    * each sweep then runs [[minhashPairsIndexed]] over the fresh batch
    * only. */
  def writeLshIndex(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, shingleSize: Int = 5, numHashes: Int = 64,
      bands: Int = 16): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    // persisted across the two writes: tokenize+shingle the corpus ONCE
    // (the whole premise of the index is that this pass dominates), not
    // once per output. MEMORY_AND_DISK by default, so a corpus larger
    // than cluster memory spills instead of recomputing.
    val shingled = shingleFrame(docs, idCol, textCol, shingleSize).persist()
    try {
      bandFrame(shingled, numHashes, bands)
        .withColumn("batch", lit("base"))
        .repartition(col("band"))
        .write.mode("overwrite").partitionBy("batch", "band")
        .parquet(s"$indexDir/bands")
      shingled.withColumn("batch", lit("base"))
        .write.mode("overwrite").partitionBy("batch")
        .parquet(s"$indexDir/shingles")
    } finally shingled.unpersist(false)
    Seq((shingleSize, numHashes, bands))
      .toDF("shingle_size", "num_hashes", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")
    // a rebuild may change the params — seed the per-JVM meta cache
    // under the just-written meta's stamp (saves the first probe's read)
    metaCache(indexDir, Tables.pathStamp(spark, s"$indexDir/meta"), ())(
      (shingleSize, numHashes, bands))
    // a rebuild replaces the staged set wholesale — stale tombstones
    // surviving it would silently filter re-ingested ids forever.
    // Cleared only AFTER the new staged set is fully written: clearing
    // up front would let a failed rebuild leave the OLD index live
    // with its deletions gone (tombstoned ids resurfacing at the next
    // probe — the exact right-to-be-forgotten breach tombstones exist
    // to prevent).
    Tombstones.clear(spark, indexDir)
  }

  /** Build parameters of a staged index, read once per (JVM, dir,
    * meta-mtime) — the meta parquet is written once by [[writeLshIndex]]
    * and never rewritten ([[appendToLshIndex]] only adds batch
    * partitions), so caching it turns a per-sweep eager driver job into
    * a lookup. Keyed by the meta file's mtime (the cachedCount /
    * centroidCache pattern): an index REBUILT at the same path — by
    * this JVM or any other — gets a fresh stamp and a re-read instead
    * of stale params silently mis-shaping every later probe. */
  private val metaCache = new StampedCache[Unit, (Int, Int, Int)]
  private def indexMeta(spark: SparkSession, indexDir: String): (Int, Int, Int) =
    metaCache(indexDir, Tables.pathStamp(spark, s"$indexDir/meta"), ()) {
      val meta = spark.read.parquet(s"$indexDir/meta").head()
      (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    }

  /** Fresh-batch frames pinned (eager localCheckpoint) by the indexed
    * sweeps, tracked so a long-lived driver can free their blocks
    * between sweeps: ContextCleaner only releases checkpoint storage
    * when the RDD is GC-collected, so many sweeps in one JVM otherwise
    * accumulate pinned batch copies between GCs. Tracked through WEAK
    * references TO THE CHECKPOINTED RDDs — the tracker must not itself
    * keep a sweep's batch reachable, or callers that never heard of
    * [[releaseSweepPins]] (and the pre-existing GC path) would leak
    * what used to be collectable. The RDD, not the Dataset wrapper, is
    * the right referent: the returned pairs plan holds the RDD (via
    * LogicalRDD) but NOT the wrapper, so a weakly-held wrapper dies at
    * the first GC after the sweep returns and release would silently
    * no-op while the blocks stay pinned by the live plan. A weak RDD
    * ref stays exactly as reachable as the blocks it guards. */
  private val sweepPins = java.util.Collections.synchronizedList(
    new java.util.ArrayList[java.lang.ref.WeakReference[
      org.apache.spark.rdd.RDD[_]]]())
  private def trackSweepPin(df: DataFrame): DataFrame = {
    graft.Tables.checkpointRdds(df).foreach(r => sweepPins.add(
      new java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]](r)))
    df
  }

  /** Release the checkpoint blocks of every tracked sweep pin that is
    * still reachable (already-collected pins were freed by
    * ContextCleaner). Call AFTER materializing a sweep's pairs — the
    * pins back the returned plan, so releasing earlier would truncate
    * the lineage a pending sweep still needs (its next action would
    * fail loudly — the [[graft.Tables.unpinCheckpoint]] trade). */
  def releaseSweepPins(): Unit = {
    sweepPins.forEach { ref =>
      val rdd = ref.get()
      if (rdd != null) rdd.unpersist(blocking = false)
    }
    sweepPins.clear()
  }

  /** Incremental near-dup sweep against a staged [[writeLshIndex]]
    * index: only the FRESH batch is tokenized/hashed; the corpus side
    * joins straight from its staged band buckets and shingle arrays.
    * Emits verified pairs involving at least one fresh doc — fresh×
    * corpus and fresh×fresh; corpus×corpus pairs were already resolved
    * when the index was built (or by the previous sweep), so they are
    * deliberately not re-derived. Build parameters come from the
    * index's own meta, so probe and build cannot disagree on
    * shingle/hash/band shape. Ids must be unique across corpus and
    * batch (a doc re-ingested with its old id should be dropped by
    * exact dedup upstream). */
  def minhashPairsIndexed(spark: SparkSession, indexDir: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxBucket: Int = MaxBucketAllPairs,
      excludeBatches: Seq[String] = Nil): DataFrame = {
    val (shingleSize, numHashes, bands) = indexMeta(spark, indexDir)
    // The fresh batch is tokenized + shingled ONCE and PINNED (eager
    // localCheckpoint): the prefilter build below, the banding, and
    // both verify joins all read the pinned blocks. The pin is also a
    // CORRECTNESS anchor, not just dedup of work — the prefilter runs
    // as its own jobs before the sweep executes, so a nondeterministic
    // `newDocs` source (unseeded sample, directory gaining files)
    // would otherwise probe with one batch and sweep with another,
    // silently losing pairs whose buckets the earlier evaluation never
    // saw. Blocks are batch-sized (the small side by construction);
    // they are freed when the RDD is GC-collected (ContextCleaner),
    // NOT when the returned plan is collected — a long-lived sweep
    // driver should call [[releaseSweepPins]] after materializing each
    // sweep's pairs so batch copies don't accumulate between GCs.
    val newShingled = trackSweepPin(
      shingleFrame(newDocs, idCol, textCol, shingleSize)
        .repartition(col("id"))
        .localCheckpoint(true))
    val newBanded = bandFrame(newShingled, numHashes, bands)
      .withColumn("is_new", lit(true))
    // Prune the staged band scan to buckets the FRESH batch probes,
    // map-side, before the candidate exchange: a staged bucket with no
    // fresh member cannot emit a pair (every pair needs is_new on one
    // side) and its bsz only governs pairs it would emit — so dropping
    // those rows is EXACT, and Bloom false positives just ride through
    // as pair-less bucket members. Without this the bsz/chain windows
    // force the ENTIRE staged corpus band table through the exchange
    // every sweep; with it the shuffle carries ~|batch|·bands buckets'
    // worth of corpus rows plus fpp noise — the difference between
    // re-shuffling 100 TB of index weekly and touching only probed
    // buckets. The filter itself is a fixed-size sketch riding along
    // as task state.
    val newKeys = newBanded.select(xxhash64(col("band"), col("bucket")).as("k"))
    // |newBanded| == |newShingled| × bands EXACTLY (posexplode of a
    // bands-length array, never null/empty), so size the filter from a
    // count over the PINNED shingle blocks instead of a second job
    // that re-runs the 64-perm minhash + band fold just to count its
    // rows; expectedNumItems only needs ≥ the true distinct-key count
    val nKeys = math.max(1L, newShingled.count() * bands)
    val bf = newKeys.stat.bloomFilter("k", nKeys, 0.01)
    // Tombstoned ids are subtracted from the staged band scan (anti-
    // join AFTER the Bloom prune — cheaper input). That one filter is
    // sufficient: candidate pairs need both members in a band bucket,
    // and the shingle side below is semi-joined on ids drawn from this
    // already-filtered scan, so a deleted doc can neither pair nor be
    // verified against.
    // `excludeBatches` is the ingest REPLAY FENCE (lshIngestStream): a
    // replayed trigger must not probe partitions its own crashed
    // attempt appended — a doc probing an index that contains ITSELF
    // reads as a near-dup and flips the admit decision on replay.
    // Filtering bands alone suffices: the shingle side below is
    // semi-joined on ids drawn from this scan.
    val idxScan0 = Tables.readParquet(spark, s"$indexDir/bands")
    val idxScan = if (excludeBatches.isEmpty) idxScan0
      else idxScan0.filter(!col("batch").isin(excludeBatches: _*))
    val idxBanded = Tombstones.applyTo(
      idxScan
        .filter(graft.functions.BloomFunctions.mightContain(
          xxhash64(col("band"), col("bucket")), bf)),
      spark, indexDir)
      .select(col("id"), col("band"), col("bucket"), lit(false).as("is_new"))
    // Prune the FAT side too: the shingle table only serves candidate
    // verification, and every corpus id a candidate can reference
    // appears in the PRUNED band scan — a LAZY left-semi on those ids
    // cuts the full-corpus shingle scan to probed-bucket members with
    // zero extra driver jobs (an eager Bloom here would re-scan the
    // staged bands twice per sweep just to build it). AQE broadcasts
    // the probed-id side when it is small — the weekly-batch regime —
    // making the pruning a map-side hash probe; past broadcast size it
    // degrades to a shuffle semi, never worse than the unpruned join.
    val probedIds = idxBanded.select(col("id")).distinct()
    val idxShingled = Tables.readParquet(spark, s"$indexDir/shingles")
      .select(col("id"), col("sh")) // drop the batch partition column
      .join(probedIds, Seq("id"), "left_semi")
    verifiedPairs(idxBanded.unionByName(newBanded),
      idxShingled.unionByName(newShingled), threshold, maxBucket)
  }

  /** Fold a swept batch INTO the staged index: after
    * [[minhashPairsIndexed]] clears a weekly batch, appending it makes
    * NEXT week's batch probe corpus + this batch without any rebuild —
    * the full index lifecycle is build once, then probe + append per
    * sweep. Build parameters come from the index meta, so an appended
    * batch can never be signed with a different shingle/hash/band
    * shape.
    *
    * IDEMPOTENT per `batchId`: every batch lands in its own `batch=`
    * partition and the write is a dynamic partition overwrite, so a
    * retried append (driver died mid-write, sweep re-run) REPLACES its
    * own partitions instead of duplicating rows — duplicate postings
    * would silently double bucket sizes and fan verified pairs out
    * into duplicate output rows. */
  def appendToLshIndex(newDocs: DataFrame, idCol: String, textCol: String,
      indexDir: String, batchId: String): Unit = {
    require(batchId.nonEmpty && batchId != "base",
      "batchId must be a unique non-'base' label (e.g. the sweep date)")
    val spark = newDocs.sparkSession
    val (shingleSize, numHashes, bands) = indexMeta(spark, indexDir)
    // one tokenization pass for both outputs, as in writeLshIndex
    val shingled = shingleFrame(newDocs, idCol, textCol, shingleSize).persist()
    try {
      bandFrame(shingled, numHashes, bands)
        .withColumn("batch", lit(batchId))
        .repartition(col("band"))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch", "band").parquet(s"$indexDir/bands")
      shingled.withColumn("batch", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(s"$indexDir/shingles")
    } finally shingled.unpersist(false)
  }

  // ---------------------------------------------------------------- C65
  /** STREAMING INGEST INTO THE PERSISTED INDEX — the r12 verdict's #3:
    * C11's near-dup admission kept its signatures in stream state
    * only, so ingest-time decisions and the weekly sweep's staged
    * index could drift apart (a doc C11 admitted was invisible to the
    * next [[minhashPairsIndexed]] sweep until someone rebuilt). This
    * twin closes the loop: each micro-batch PROBES the staged index
    * (corpus + every previously-ingested batch), admits what nothing
    * already covers, and FOLDS the admitted docs back in through
    * [[appendToLshIndex]] — so the index is at all times exactly
    * "base corpus + everything ingest admitted", and the weekly sweep
    * and the live gate read one truth.
    *
    * EXACTLY-ONCE under replay, by two fences: (1) appends are
    * idempotent per batch id (each batch owns its `batch=ingest-N`
    * partitions; a replayed write REPLACES them), and (2) the probe
    * EXCLUDES the current batch's own partitions (`excludeBatches`),
    * so a doc appended by a crashed attempt cannot pair with itself
    * and flip its own admit decision on the re-run. Decisions are
    * therefore a pure function of (index-before-this-batch, batch
    * content) — replaying any suffix of history converges to the
    * same staged state as a single clean run (the spec pins this).
    *
    * Admission is deterministic keep-first: a fresh doc drops iff it
    * verified-pairs with a CORPUS doc or with a SMALLER fresh id —
    * on a fresh chain A≈B≈C the representative A survives (same
    * collapse direction as C38's keep-best with id as the quality
    * key). Scale: the probe is the C10 sweep (Bloom-pruned bands,
    * batch-sized fresh side); the append writes batch-sized
    * partitions; nothing scans the full corpus per trigger. */
  def lshIngestStream(docs: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.5)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      lshIngestBatch(batch, batchId, indexDir, idCol, textCol,
        threshold, sink)
    }

  /** The per-trigger body — public so a replay test (or a manual
    * backfill) can re-run one batch and observe convergence. `sink`
    * receives the ADMITTED slice and must materialize synchronously
    * (the repo's foreachBatch contract). */
  def lshIngestBatch(batch: DataFrame, batchId: Long, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.5,
      sink: (DataFrame, Long) => Unit = (_, _) => ()): Unit = {
    val spark = batch.sparkSession
    val bid = s"ingest-$batchId"
    // pin the batch: the probe, the flag joins, and the admit anti-join
    // all read it, and a nondeterministic source must not probe with
    // one batch and append another (the minhashPairsIndexed anchor
    // rule, applied at this layer's boundary)
    val b = batch.localCheckpoint(true)
    try {
      // empty trigger: nothing to probe or append (and the probe's
      // Bloom build NPEs on an empty frame — the B23 guard rule)
      if (b.isEmpty) { sink(b, batchId); return }
      val pairs = minhashPairsIndexed(spark, indexDir, b, idCol, textCol,
        threshold, excludeBatches = Seq(bid))
      val ids = b.select(col(idCol).as("__fid")).distinct()
      // pairs carry id1 < id2 with ≥1 fresh member by construction;
      // drop the fresh-vs-corpus doc, or the larger of a fresh pair
      val flagged = pairs
        .join(ids.select(col("__fid").as("id1"), lit(true).as("f1")),
          Seq("id1"), "left")
        .join(ids.select(col("__fid").as("id2"), lit(true).as("f2")),
          Seq("id2"), "left")
      val drops = flagged.select(
        when(coalesce(col("f1"), lit(false)) &&
            !coalesce(col("f2"), lit(false)), col("id1"))
          .otherwise(col("id2")).as("__drop")).distinct()
      val admitted = b.join(drops, b(idCol) === drops("__drop"),
          "left_anti")
        .localCheckpoint(true) // decisions FROZEN before the index moves
      try {
        appendToLshIndex(admitted, idCol, textCol, indexDir, bid)
        sink(admitted, batchId)
      } finally graft.Tables.unpinCheckpoint(admitted)
      // the probe's tracked batch pins are dead once pairs was consumed
      releaseSweepPins()
    } finally graft.Tables.unpinCheckpoint(b)
  }

  /** Record DELETIONS against a staged LSH index (takedowns,
    * licensing retractions, right-to-be-forgotten): the ids' staged
    * postings stop emitting pairs at the very next probe — no rebuild,
    * no mutation of the staged tables (the tombstone set is its own
    * `batch=`-partitioned write, idempotent per `batchId`).
    * [[compactLshIndex]] later folds tombstones in physically; appends
    * never disturb them, so the deletion survives the whole lifecycle
    * (including appended rows that re-use a tombstoned id — the
    * anti-join is by id across every batch). A full REBUILD
    * ([[writeLshIndex]]) clears them — the new staged set replaces the
    * old wholesale. Probe batches are never filtered: a fresh doc
    * still sweeps cleanly even if its id was deleted; to truly
    * re-ingest a deleted id, compact first (folding the tombstone in),
    * then append. */
  def deleteFromLshIndex(ids: DataFrame, idCol: String, indexDir: String,
      batchId: String): Unit =
    Tombstones.write(ids, idCol, indexDir, batchId)

  /** COMPACT a staged LSH index into a fresh directory: many appended
    * `batch=` partitions fold back into one `base` set. Weekly appends
    * each add a partition of small files — after a year the probe pays
    * ~50 partition listings and the file count of 52 small writes;
    * compaction restores the single-partition layout (and large files)
    * without re-tokenizing anything. FUNCTIONAL: writes to `dstDir`,
    * never mutates `srcDir` — a crash mid-compact leaves the live index
    * untouched (swap = point the next sweep at dst, then delete src);
    * an in-place rewrite would corrupt the index it failed over.
    * Params ride over via the meta copy, so probes of dst cannot
    * drift from what built src. */
  def compactLshIndex(spark: SparkSession, srcDir: String, dstDir: String): Unit = {
    import spark.implicits._
    // canonical compare: a raw string check would let two spellings of
    // one directory (relative vs absolute, symlink) overwrite the live
    // index mid-read — the exact corruption this guard exists to stop
    require(Tables.canonicalPath(spark, srcDir) != Tables.canonicalPath(spark, dstDir),
      "compaction is functional: dst must differ from src")
    val (shingleSize, numHashes, bands) = indexMeta(spark, srcDir)
    // tombstoned rows are dropped by the rewrite and NO tombstone
    // table is written to dst: compaction is where deletions become
    // physical (see [[Tombstones]])
    Tombstones.applyTo(spark.read.parquet(s"$srcDir/bands"), spark, srcDir)
      .select(col("id"), col("band"), col("bucket"))
      .withColumn("batch", lit("base"))
      .repartition(col("band"))
      .write.mode("overwrite").partitionBy("batch", "band")
      .parquet(s"$dstDir/bands")
    Tombstones.applyTo(spark.read.parquet(s"$srcDir/shingles"), spark, srcDir)
      .select(col("id"), col("sh"))
      .withColumn("batch", lit("base"))
      .write.mode("overwrite").partitionBy("batch")
      .parquet(s"$dstDir/shingles")
    Seq((shingleSize, numHashes, bands))
      .toDF("shingle_size", "num_hashes", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$dstDir/meta")
    metaCache(dstDir, Tables.pathStamp(spark, s"$dstDir/meta"), ())(
      (shingleSize, numHashes, bands))
  }

  /** Temp dirs of superseded index versions, reaped at JVM exit (live
    * lazy plans may still reference them until then). */
  private val staleIndexDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  private lazy val staleReaper: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      staleIndexDirs.forEach { old =>
        import java.nio.file.{Files, Paths}
        val root = Paths.get(old)
        if (Files.exists(root)) {
          val walk = Files.walk(root)
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala.toSeq.reverseIterator
              .foreach(p => Files.deleteIfExists(p))
          } finally walk.close()
        }
      }))
  }
  private[operators] def deleteAtExit(dir: String): Unit = {
    staleReaper // register the hook once, on first use
    staleIndexDirs.add(dir)
  }

  /** LSH index dirs keyed by (corpus dir, mtime) — like the IVF
    * quantizer cache: the index build is INDEX BUILD work (once per
    * corpus version), not per-sweep work. Superseded versions' dirs
    * are deleted at JVM EXIT, not on eviction: a DataFrame returned
    * before the corpus regeneration may still lazily scan the old
    * index — immediate deletion would fail that plan mid-scan with
    * FileNotFoundException. Disk growth is bounded by regenerations
    * within one JVM (a test/bench handful). */
  private val lshIndexCache = new StampedCache[Unit, String](deleteAtExit)

  /** Driver query (rows-only): the weekly-sweep shape. 90% of the
    * corpus (doc_id % 10 != 0) is staged as the index; the other 10%
    * plays the fresh batch and probes it. Pairs therefore all involve a
    * fresh doc — the incremental contract. */
  def dedupMinhashIndexed(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    val indexDir = lshIndexCache(sfDir, stamp, ()) {
      val dir = java.nio.file.Files.createTempDirectory("graft-lsh-index").toString
      writeLshIndex(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text", dir)
      dir
    }
    minhashPairsIndexed(spark, indexDir,
      docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", "text")
  }

  // ---------------------------------------------------------------- C3
  /** (id, sig) signatures of a documents frame — the ONE definition of
    * how text becomes a 64-bit SimHash, shared by the in-memory sweep,
    * the persisted index build, and the index probe so they cannot
    * drift. */
  private def simhashSigs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      TextFunctions.simhash64(
        expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")).as("sig"))

  /** The shared candidate-generation + verification stage over an
    * (id, sig, is_new) frame — the SimHash analog of [[verifiedPairs]]:
    * chunk-pigeonhole bucket join, hot-bucket chain capping, Hamming
    * verify; pairs where NEITHER side is new are skipped (the in-memory
    * sweep marks everything new; the indexed sweep marks only the fresh
    * batch, so corpus×corpus pairs are never re-derived). */
  private def verifiedSimhashPairs(sigs: DataFrame, maxHamming: Int,
      maxBucket: Int): DataFrame = {
    require(maxHamming < SimhashChunks, s"the $SimhashChunks-chunk " +
      s"pigeonhole only generates candidates for Hamming <= ${SimhashChunks - 1}; " +
      s"maxHamming=$maxHamming would silently lose recall")
    // One exchange on the bucket key shared by both join sides
    // (ReusedExchange — the signature subtree runs once); bucket size
    // and the chain predecessor's (id, sig) ride along as windows over
    // the same keys.
    val wb = Window.partitionBy(col("chunk"), col("cval"))
    val wo = wb.orderBy(col("id"))
    val chunked = sigs.select(col("id"), col("sig"), col("is_new"),
      simhashChunkCols.as(Seq("chunk", "cval")))
      .repartition(col("chunk"), col("cval"))
      .withColumn("bsz", count(lit(1)).over(wb))
      .withColumn("p", lag(struct(col("id"), col("sig"), col("is_new")), 1).over(wo))
    val small = chunked.filter(col("bsz") <= maxBucket)
    val l = small.select(col("chunk"), col("cval"), col("id").as("id1"),
      col("sig").as("sig1"), col("is_new").as("n1"))
    val r = small.select(col("chunk"), col("cval"), col("id").as("id2"),
      col("sig").as("sig2"), col("is_new").as("n2"))
    val allPairs = l.join(r, Seq("chunk", "cval"))
      .filter(col("id1") < col("id2"))
      .filter(col("n1") || col("n2"))
      .select(col("id1"), col("id2"), col("sig1"), col("sig2"))
    // Hot buckets (mass-dup chunk collision): chain pairs between
    // id-consecutive members — O(m), still Hamming-verified below, so
    // no false positives; see MaxBucketAllPairs for the trade.
    val chainPairs = chunked.filter(col("bsz") > maxBucket && col("p").isNotNull)
      .filter(col("is_new") || col("p.is_new"))
      .select(col("p.id").as("id1"), col("id").as("id2"),
        col("p.sig").as("sig1"), col("sig").as("sig2"))
    allPairs.unionByName(chainPairs).distinct()
      .withColumn("hamming", expr("bit_count(sig1 ^ sig2)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
      .orderBy(col("id1"), col("id2"))
  }

  /** SimHash near-dup pairs: 64-bit signature, banded into 4 16-bit
    * chunks (pigeonhole: Hamming ≤ 3 ⇒ at least one identical chunk),
    * bucket join on (chunk, value), verify with bit_count(xor) ≤ maxHamming. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = MaxBucketAllPairs): DataFrame =
    verifiedSimhashPairs(
      simhashSigs(docs, idCol, textCol).withColumn("is_new", lit(true)),
      maxHamming, maxBucket)

  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairs(Tables.documents(spark, sfDir), "doc_id", "text")

  // ------------------------------------------------------------- C20
  /** Persist a SimHash index of a corpus — the C10 lifecycle for the
    * SimHash sweep (the round-4 verdict's last missing index): the
    * expensive step is tokenizing + signing the corpus, the signatures
    * themselves are 8 bytes/doc, so the index is just the (id, sig)
    * table staged in `batch=` partitions plus a 1-row meta pinning the
    * chunk layout. Chunk buckets are NOT staged: they derive from the
    * sig by two shifts ([[simhashChunkCols]]) — map-side arithmetic at
    * probe time, not worth the 4× storage. Build once per corpus
    * version; each weekly sweep then signs ONLY the fresh batch. */
  def writeSimhashIndex(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    simhashSigs(docs, idCol, textCol)
      .withColumn("batch", lit("base"))
      .write.mode("overwrite").partitionBy("batch")
      .parquet(s"$indexDir/sigs")
    // meta pins the chunk layout the sigs were built under: probing a
    // staged index with a DIFFERENT pigeonhole split would silently
    // change the Hamming budget the buckets guarantee
    Seq(SimhashChunks).toDF("chunks")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")
    // rebuild forgets prior deletions — cleared AFTER the new staged
    // set is written, so a failed rebuild cannot strip the live old
    // index of its tombstones (see writeLshIndex)
    Tombstones.clear(spark, indexDir)
  }

  /** Incremental SimHash sweep against a staged [[writeSimhashIndex]]
    * index: only the fresh batch is tokenized and signed; the corpus
    * side joins straight from its staged 8-byte signatures. Emits
    * Hamming-verified pairs involving at least one fresh doc. Fails
    * loudly if the index was built under a different chunk layout. */
  /** Chunk layout of a staged SimHash index, (dir, meta-mtime)-keyed
    * like [[metaCache]] — the same per-sweep-eager-job-to-lookup trade,
    * and the same stale-rebuild protection. */
  private val simhashMetaCache = new StampedCache[Unit, Int]
  private def simhashIndexChunks(spark: SparkSession, indexDir: String): Int =
    simhashMetaCache(indexDir, Tables.pathStamp(spark, s"$indexDir/meta"), ())(
      spark.read.parquet(s"$indexDir/meta").head().getInt(0))

  def simhashPairsIndexed(spark: SparkSession, indexDir: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = MaxBucketAllPairs): DataFrame = {
    val chunks = simhashIndexChunks(spark, indexDir)
    require(chunks == SimhashChunks,
      s"index at $indexDir was built with $chunks chunks; this build uses " +
        s"$SimhashChunks — rebuild the index (bucket guarantees differ)")
    // pinned for the same two reasons as minhashPairsIndexed's batch:
    // one signing pass instead of three, and prefilter/sweep consistency
    // under a nondeterministic newDocs source (and the same release
    // contract — see releaseSweepPins)
    val fresh = trackSweepPin(
      simhashSigs(newDocs, idCol, textCol)
        .withColumn("is_new", lit(true))
        .localCheckpoint(true))
    // Bloom-prune the staged sig scan to rows sharing at least one
    // chunk bucket with the fresh batch — the minhashPairsIndexed
    // prefilter adapted to the 4-key pigeonhole: a corpus row in a
    // probed bucket ALWAYS passes (its key is the probed key — no
    // false negatives, so probed buckets keep every member and bucket
    // sizes stay true), a row whose four buckets are all fresh-free
    // could only emit corpus×corpus pairs (filtered anyway), and fp
    // survivors are inert. The per-sweep exchange then carries probed
    // buckets, not the whole staged corpus.
    val bits = 64 / SimhashChunks
    val freshKeys = fresh.select(simhashChunkCols.as(Seq("chunk", "cval")))
      .select(xxhash64(col("chunk"), col("cval")).as("k"))
    // |freshKeys| == |fresh| × SimhashChunks exactly (posexplode of the
    // chunk array) — count the PINNED sig blocks, not a job that
    // re-runs the chunk explode (the minhashPairsIndexed sizing rule)
    val bf = freshKeys.stat.bloomFilter("k",
      math.max(1L, fresh.count() * SimhashChunks), 0.01)
    val keep = (0 until SimhashChunks).map { c =>
      graft.functions.BloomFunctions.mightContain(
        xxhash64(lit(c), expr(s"(sig >> ${c * bits}) & ${(1L << bits) - 1}")), bf)
    }.reduce(_ || _)
    // tombstone anti-join after the Bloom prune, as in
    // minhashPairsIndexed — a deleted signature must not pair
    val idx = Tombstones.applyTo(
      Tables.readParquet(spark, s"$indexDir/sigs").filter(keep), spark, indexDir)
      .select(col("id"), col("sig"), lit(false).as("is_new"))
    verifiedSimhashPairs(idx.unionByName(fresh), maxHamming, maxBucket)
  }

  /** [[deleteFromLshIndex]] for the SimHash index — same tombstone
    * semantics (probe-time anti-join, folded in physically by
    * [[compactSimhashIndex]], idempotent per batchId). */
  def deleteFromSimhashIndex(ids: DataFrame, idCol: String,
      indexDir: String, batchId: String): Unit =
    Tombstones.write(ids, idCol, indexDir, batchId)

  /** Fold a swept batch INTO the staged SimHash index — idempotent per
    * `batchId` via dynamic partition overwrite, exactly like
    * [[appendToLshIndex]] (a retried append replaces its own `batch=`
    * partition instead of duplicating signatures). */
  def appendToSimhashIndex(newDocs: DataFrame, idCol: String,
      textCol: String, indexDir: String, batchId: String): Unit = {
    require(batchId.nonEmpty && batchId != "base",
      "batchId must be a unique non-'base' label (e.g. the sweep date)")
    simhashSigs(newDocs, idCol, textCol)
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(s"$indexDir/sigs")
  }

  /** Compact a staged SimHash index — [[compactLshIndex]]'s twin for
    * the signature table (same functional crash-safety, same meta
    * carry-over). */
  def compactSimhashIndex(spark: SparkSession, srcDir: String,
      dstDir: String): Unit = {
    import spark.implicits._
    require(Tables.canonicalPath(spark, srcDir) != Tables.canonicalPath(spark, dstDir),
      "compaction is functional: dst must differ from src")
    val chunks = simhashIndexChunks(spark, srcDir)
    // deletions become physical here; dst gets no tombstone table
    Tombstones.applyTo(spark.read.parquet(s"$srcDir/sigs"), spark, srcDir)
      .select(col("id"), col("sig"))
      .withColumn("batch", lit("base"))
      .write.mode("overwrite").partitionBy("batch")
      .parquet(s"$dstDir/sigs")
    Seq(chunks).toDF("chunks")
      .coalesce(1).write.mode("overwrite").parquet(s"$dstDir/meta")
    simhashMetaCache(dstDir, Tables.pathStamp(spark, s"$dstDir/meta"), ())(chunks)
  }

  /** SimHash index dirs keyed by (corpus dir, mtime), mirroring
    * [[lshIndexCache]] (eviction and exit-time reaping included). */
  private val simhashIndexCache = new StampedCache[Unit, String](deleteAtExit)

  /** Driver query (rows-only): the weekly-sweep shape over the staged
    * SimHash index — 90% of the corpus staged, the 10% batch signed and
    * probed; every pair involves a fresh doc. */
  def dedupSimhashIndexed(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    val indexDir = simhashIndexCache(sfDir, stamp, ()) {
      val dir = java.nio.file.Files.createTempDirectory("graft-simhash-index").toString
      writeSimhashIndex(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", dir)
      dir
    }
    simhashPairsIndexed(spark, indexDir,
      docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", "text")
  }

  // ---------------------------------------------------------------- C4
  /** Word-3-gram Jaccard via an inverted-index join, blocked by
    * (source, length bucket). Grams hash to longs; the co-occurrence
    * count |A∩B| comes from exploding the (gram → doc) index and
    * aggregating matches per pair — pairs never carry gram arrays, so
    * the shuffle volume is O(postings²·within-bucket), not
    * O(pairs·doc-size). |A∪B| = |A|+|B|−|A∩B| from a tiny size table.
    * Emits the top-20 most similar pairs (deterministic tie-break)
    * rather than a threshold cut so behavior is observable on dup-free
    * corpora too. */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardFrame(Tables.documents(spark, sfDir))

  /** Default document-frequency cap for [[ngramJaccardFrame]]: a gram
    * shared by more than this many documents within a block is a
    * stop-gram — it carries ~zero similarity signal (it fails to
    * discriminate) but contributes df² join rows on one bucket. At
    * 100 TB one corpus-common trigram ("the quick brown"-class) would
    * otherwise make a single posting quadratic. */
  val NgramMaxDf = 1000

  def ngramJaccardFrame(docs: DataFrame, maxDf: Int = NgramMaxDf,
      topN: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // (no evalOnce here — the gramSet revert note applies: two
    // tokenizer copies below a reused exchange are cheaper than
    // serializing every token array across a barrier)
    val g = docs
      .withColumn("toks", TextAnalysis.tokens())
      // docs with fewer than 3 tokens generate NO grams (the
      // decontaminate rule): ShingleHashes would otherwise hash the
      // whole short doc as one window — and hash EMPTY docs to a shared
      // sentinel, pairing all empty docs at jaccard 1.0 — neither of
      // which a word-3-gram measure means, and neither of which the
      // string-gram oracle (len >= 3) reproduces
      .filter(size($"toks") >= 3)
      .withColumn("grams", TextFunctions.shingleHashes($"toks", 3))
      .select($"doc_id", $"source", expr("n_chars div 100").as("lenb"), $"grams")
    // Repartition on the join keys: both sides of the self-join then
    // share ONE exchange (ReusedExchange), so the tokenize+shingle+
    // explode subtree is computed once, and the join itself needs no
    // further shuffle. Set sizes |A| come from the same exchange
    // (grams are already distinct per doc) instead of re-tokenizing.
    // The df window runs on exactly the exchange's partitioning keys,
    // so stop-gram pruning costs a sort but no extra shuffle; Jaccard
    // is then defined over the RETAINED grams on both the intersection
    // and the size side, keeping the measure internally consistent.
    val wdf = Window.partitionBy($"source", $"lenb", $"gram")
    val index = g.select($"source", $"lenb", $"doc_id", explode($"grams").as("gram"))
      .repartition($"source", $"lenb", $"gram")
      .withColumn("df", count(lit(1)).over(wdf))
      .filter($"df" <= maxDf)
      .drop("df")
    val sizes = index.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    index.select($"source", $"lenb", $"gram", $"doc_id".as("id1"))
      .join(index.select($"source", $"lenb", $"gram", $"doc_id".as("id2")),
        Seq("source", "lenb", "gram"))
      .filter($"id1" < $"id2")
      .groupBy($"id1", $"id2")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select($"doc_id".as("id1"), $"sz".as("sz1")), Seq("id1"))
      .join(sizes.select($"doc_id".as("id2"), $"sz".as("sz2")), Seq("id2"))
      .withColumn("jaccard", round(
        $"inter".cast("double") / ($"sz1" + $"sz2" - $"inter"), 6))
      .select($"id1", $"id2", $"jaccard")
      .orderBy($"jaccard".desc, $"id1", $"id2")
      .limit(topN)
  }

  /** DuckDB twin of [[ngramJaccard]] over STRING grams. The Spark side
    * runs on xxhash64 shingle hashes (DuckDB cannot compute them), so
    * this oracle is bit-exact iff the hash is INJECTIVE on the actual
    * gram population — verified directly each round: distinct hash
    * count == distinct string-gram count at sf0.01 (16,245) and sf0.1
    * (27,213). Everything downstream of gram identity (df cap, block
    * keys, set sizes, intersection counts, the integer-ratio jaccard,
    * tie-broken top-20) is identical arithmetic in both engines. */
  val ngramJaccardSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, n_chars // 100 AS lenb,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, source, lenb,
      |    array_to_string(t[i:i+2], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
      |  WHERE len(t) >= 3),
      |idx AS (
      |  SELECT doc_id, source, lenb, gram FROM (
      |    SELECT doc_id, source, lenb, gram,
      |      COUNT(*) OVER (PARTITION BY source, lenb, gram) AS df
      |    FROM g) WHERE df <= 1000),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
      |  FROM idx a JOIN idx b
      |    ON a.source = b.source AND a.lenb = b.lenb AND a.gram = b.gram
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT p.id1, p.id2,
      |  ROUND(CAST(p.inter AS DOUBLE) / (s1.sz + s2.sz - p.inter), 6)
      |    AS jaccard
      |FROM pairs p JOIN sizes s1 ON p.id1 = s1.doc_id
      |             JOIN sizes s2 ON p.id2 = s2.doc_id
      |ORDER BY jaccard DESC, id1, id2
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- C5
  /** Embedding-cosine near-dup pairs, blocked by label (IVF-style
    * coarse partition): top-20 most similar within-label pairs by the
    * codegen'd cosine kernel. The within-label all-pairs goes through
    * [[Scale.boundedSelfPairs]], so a hot label is split into hashed
    * sub-buckets and no single task ever scores more than
    * ~targetSubRows² pairs — same exact result, bounded skew. */
  def dedupEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
      .select($"label", $"vec_id", $"embedding")
    Scale.boundedSelfPairs(e, Seq("label"), "vec_id", Seq("embedding"))
      .withColumn("cos",
        round(VectorFunctions.cosineSim($"embedding_1", $"embedding_2"), 6))
      .select($"id1", $"id2", $"cos")
      .orderBy($"cos".desc, $"id1", $"id2")
      .limit(20)
  }

  val dedupEmbeddingSql: String =
    """SELECT a.vec_id AS id1, b.vec_id AS id2,
      |  ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos
      |FROM embeddings a, embeddings b
      |WHERE a.label = b.label AND a.vec_id < b.vec_id
      |ORDER BY cos DESC, id1, id2 LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- C17
  /** SEMANTIC dedup (SemDeDup-style, Abbas et al. 2023): cluster the
    * embedding corpus with the SAME coarse k-means quantizer IVF search
    * uses ([[Similarity.corpusCentroids]] — train on a bounded sample,
    * assign via one codegen'd map pass), generate candidate pairs ONLY
    * within a cluster, keep pairs with cosine ≥ `threshold`, and
    * resolve transitive duplicate groups to one representative via
    * [[Scale.connectedComponents]] (min vec_id — pairwise keep-min
    * under-deletes on chains, see C6b).
    *
    * Scale shape: the quadratic step is bounded twice — pairs never
    * cross cells (the published algorithm's recall trade: √n cells keep
    * cell population ~√n as the corpus grows), and within a cell
    * [[Scale.boundedSelfPairs]] caps every task at ~targetSubRows²
    * scores. The component graph holds only above-threshold pairs
    * (rare by construction), so resolution is the small-graph
    * union-find or 2-4 flat-lineage rounds. Pass `checkpointDir` on
    * preemptible clusters (see connectedComponents' durability note).
    *
    * Output: every corpus vector with its cell, its semantic-cluster
    * representative (`rep_id` = min vec_id of its component, itself
    * when unique), and the drop verdict a curation sweep would act on.
    * Rows-only: cell geometry is implementation-defined (k-means), so
    * there is no SQL oracle; the spec pins transitive-cluster
    * resolution on a planted corpus and determinism on the real one.
    * The default threshold is tuned DOWN to the synthetic corpus (max
    * pairwise cosine ≈ 0.5 — see the cross-SF sweep note in SURVEY §8);
    * production SemDeDup on real embeddings runs at ~0.95+. */
  def dedupSemantic(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4, nCells: Int = 0,
      checkpointDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    val centroids = Similarity.corpusCentroids(spark, sfDir, nCells)
    val cells = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding",
      VectorFunctions.nearestCentroid($"embedding", centroids).as("cell"))
    semanticFromCells(cells, threshold, checkpointDir)
  }

  /** The shared tail of both semantic-dedup variants: within-cell
    * bounded pair generation → cosine threshold → connected components
    * → one representative (min vec_id) per transitive cluster. */
  private def semanticFromCells(cells: DataFrame, threshold: Double,
      checkpointDir: Option[String]): DataFrame = {
    val edges = Scale.boundedSelfPairs(cells, Seq("cell"), "vec_id", Seq("embedding"))
      .filter(round(VectorFunctions.cosineSim(col("embedding_1"), col("embedding_2")), 6)
        >= threshold)
      .select(col("id1"), col("id2"))
    val comps = Scale.connectedComponents(edges, checkpointDir = checkpointDir)
    cells.select(col("vec_id"), col("cell"))
      .join(comps.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("comp"), col("vec_id")).as("rep_id"))
      .withColumn("is_dup", col("rep_id") =!= col("vec_id"))
      .orderBy(col("vec_id"))
  }

  // ------------------------------------------------------------ C17b
  /** Semantic dedup over a PINNED centroid table — the ORACLE-CHECKABLE
    * twin of [[dedupSemantic]]: instead of a k-means-trained quantizer
    * (whose cell geometry is implementation-defined, forcing C17 to a
    * rows-only check), the centroids are the first `nCentroids` corpus
    * vectors by `vec_id`. Cell assignment is then deterministic
    * arithmetic (argmin squared-L2, first-wins tie-break — exactly
    * [[VectorFunctions.NearestCentroid]]'s loop, mirrored in SQL by
    * `ORDER BY list_distance, cell`), so the ENTIRE pipeline — cells,
    * within-cell cosine edges, transitive closure, representatives —
    * hash-checks against DuckDB. This is also a real deployment mode:
    * SemDeDup-style sweeps on a stable corpus often pin the quantizer
    * from a previous build (Similarity.appendToIvfIndex's "never
    * retrain" invariant) rather than refit per sweep.
    *
    * Same scale shape as C17: pairs never cross cells and
    * [[Scale.boundedSelfPairs]] caps per-task work; the pinned-centroid
    * collect is `nCentroids` rows — driver-bounded by construction. */
  def dedupSemanticFixed(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4, nCentroids: Int = 64,
      checkpointDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    require(nCentroids >= 1)
    val e = Tables.embeddings(spark, sfDir)
    val centroids = e.filter($"vec_id" < nCentroids).orderBy($"vec_id")
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(centroids.nonEmpty, s"no vectors with vec_id < $nCentroids")
    val cells = e.select($"vec_id", $"embedding",
      VectorFunctions.nearestCentroid($"embedding", centroids).as("cell"))
    semanticFromCells(cells, threshold, checkpointDir)
  }

  /** DuckDB twin of [[dedupSemanticFixed]]: pinned centroids → argmin
    * cell (list_distance is sqrt of the same sequential squared-sum —
    * monotonic, so the argmin matches the kernel), within-cell cosine
    * edges at the same rounded threshold, and transitive closure via a
    * recursive CTE (min reachable id = the component representative,
    * exactly connectedComponents' min-label fixpoint). */
  val dedupSemanticFixedSql: String = {
    val cos =
      """ROUND(list_dot_product(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(e1.embedding::DOUBLE[], e1.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(e2.embedding::DOUBLE[], e2.embedding::DOUBLE[]))), 6)""".stripMargin
    s"""WITH RECURSIVE cen AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
       |    embedding::DOUBLE[] AS ce
       |  FROM embeddings WHERE vec_id < 64),
       |a AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, cen.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_distance(e.embedding::DOUBLE[], cen.ce), cen.cell) AS rn
       |    FROM embeddings e, cen) t WHERE rn = 1),
       |edges AS (
       |  SELECT a1.vec_id AS id1, a2.vec_id AS id2
       |  FROM a a1 JOIN a a2 ON a1.cell = a2.cell AND a1.vec_id < a2.vec_id
       |  JOIN embeddings e1 ON e1.vec_id = a1.vec_id
       |  JOIN embeddings e2 ON e2.vec_id = a2.vec_id
       |  WHERE $cos >= 0.4),
       |sym AS (SELECT id1 AS s, id2 AS d FROM edges
       |        UNION SELECT id2, id1 FROM edges),
       |reach AS (
       |  SELECT s AS id, d AS r FROM sym
       |  UNION
       |  SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s),
       |rep AS (SELECT id, MIN(r) AS m FROM reach GROUP BY id)
       |SELECT e.vec_id, a.cell,
       |  COALESCE(LEAST(rep.m, e.vec_id), e.vec_id) AS rep_id,
       |  (COALESCE(LEAST(rep.m, e.vec_id), e.vec_id) <> e.vec_id) AS is_dup
       |FROM embeddings e
       |JOIN a ON a.vec_id = e.vec_id
       |LEFT JOIN rep ON rep.id = e.vec_id
       |ORDER BY e.vec_id""".stripMargin
  }

  // ------------------------------------------------------------- C19
  /** EXACT-SUBSTRING dedup (the ExactSubstr pass of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * find every run of ≥ `l` tokens that occurs MORE THAN ONCE in the
    * corpus — across documents or repeated within one — and report the
    * covered token ranges per document. C1 catches identical documents
    * and C2/C3 near-identical ones; this is the pass that removes a
    * 50-token boilerplate footer repeated across thousands of
    * otherwise-distinct docs, which no whole-document family sees.
    *
    * Re-expression: the paper builds a corpus-wide suffix array — a
    * global sorted structure Spark has no business materializing.
    * Observation: a duplicated run of length m ≥ l is exactly a run of
    * m − l + 1 consecutive positions whose l-token shingles each occur
    * > 1 time corpus-wide. So: hash every l-token window IN TEXT ORDER
    * (the family's [[graft.functions.TextFunctions.shingleHashes]] is
    * deliberately a distinct SET — the wrong primitive here, since runs
    * need positions and within-doc multiplicity; the positional twin
    * [[graft.functions.TextFunctions.PositionalShingleHashes]] keeps
    * both — one primitive loop per doc), count occurrences per gram,
    * keep positions whose gram repeats, and merge consecutive
    * positions per doc (gaps-and-islands) into maximal ranges
    * [start_tok, end_tok).
    *
    * Scale shape: ONE exchange on the gram hash (the occurrence count
    * is a window over the exchange's own key — no second shuffle, the
    * ngramJaccard df pattern), then one per-doc window for the island
    * merge (per-doc data, bounded by doc length). No driver state, no
    * self-join: shuffle volume is O(corpus grams), each row 8+16
    * bytes. The hash-for-string trade is decontaminate's: a collision
    * can only over-flag one range (2⁻⁶⁴ per gram pair). */
  def substrDupRanges(docs: DataFrame, idCol: String, textCol: String,
      l: Int = 50): DataFrame = {
    require(l >= 1)
    val grams = docs
      .select(col(idCol).as("id"), TextAnalysis.tokens(textCol).as("toks"))
      .select(col("id"),
        TextFunctions.positionalShingleHashes(col("toks"), l).as("gs"))
      .select(col("id"), posexplode(col("gs")).as(Seq("pos", "g")))
    val wg = Window.partitionBy(col("g"))
    val flagged = grams
      .repartition(col("g"))
      .withColumn("cnt", count(lit(1)).over(wg))
      .filter(col("cnt") > 1)
      .select(col("id"), col("pos"))
    coveredTokenRanges(flagged, l)
      .select(col("id").as(idCol), col("start_tok"), col("end_tok"),
        col("n_tokens"))
      .orderBy(col(idCol), col("start_tok"))
  }

  /** Merge FLAGGED WINDOW POSITIONS into maximal DISJOINT covered
    * token ranges — the shared interval kernel of the window-flagging
    * family: position p flags tokens [p, p+l), so consecutive flagged
    * positions form one island ([[substrDupRanges]]'s gaps-and-
    * islands), and a second merge pass coalesces islands whose token
    * intervals overlap or abut (two position islands separated by a
    * gap of fewer than l positions cover overlapping token ranges —
    * each position's window spans l tokens). Output ranges are maximal
    * and disjoint, so their lengths SUM without double-counting —
    * coverage accounting (C19c's drop policy, C22's contamination
    * fraction) depends on exactly that. Flag semantics stay with the
    * caller: "gram repeats corpus-wide" (ExactSubstr) and "gram hits
    * the benchmark set" (fuzzy decontamination) share this kernel. */
  private[operators] def coveredTokenRanges(flagged: DataFrame,
      l: Int): DataFrame = {
    val wd = Window.partitionBy(col("id")).orderBy(col("pos"))
    val islands = flagged
      .withColumn("grp", col("pos") - row_number().over(wd))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("s"),
        (max(col("pos")) + l).cast("long").as("e"))
    val ws = Window.partitionBy(col("id")).orderBy(col("s"))
    val wprev = ws.rowsBetween(Window.unboundedPreceding, -1)
    islands
      .withColumn("brk",
        when(col("s") > max(col("e")).over(wprev), 1).otherwise(0))
      .withColumn("mgrp", sum(col("brk")).over(ws))
      .groupBy(col("id"), col("mgrp"))
      .agg(min(col("s")).as("start_tok"), max(col("e")).as("end_tok"))
      .select(col("id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok")).as("n_tokens"))
  }

  /** Driver query: duplicated runs of ≥ 13 tokens over the documents
    * corpus (13 matches the decontamination gram size — the synthetic
    * docs are short, and a production L=50 pass is the same plan with
    * a wider window). */
  def dedupSubstring(spark: SparkSession, sfDir: String): DataFrame =
    substrDupRanges(Tables.documents(spark, sfDir), "doc_id", "text", l = 13)

  /** The ACTIONABLE form of [[substrDupRanges]]: cut every flagged
    * range out of every document (the Lee et al. ExactSubstr removal
    * rule — all occurrences of a duplicated run are dropped) and return
    * the surviving tokens as the cleaned text. The ranges frame joins
    * back by id (an equi-join on the doc key — ranges are sparse
    * relative to the corpus) and the cut itself is a map-side array
    * filter; docs with no flagged range pass through with all tokens.
    * Output is tokenized text (lowercased, space-joined) — the scrub
    * operates on the same token stream the detector flagged, so range
    * indices can never drift against a raw-text splice. */
  def substrScrub(docs: DataFrame, idCol: String, textCol: String,
      l: Int = 50): DataFrame = {
    val ranges = substrDupRanges(docs, idCol, textCol, l)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("start_tok"), col("end_tok"))).as("rs"))
    docs.select(col(idCol), TextAnalysis.tokens(textCol).as("toks"))
      .join(ranges, Seq(idCol), "left")
      // null rs (doc has no flagged range) → exists is null → keep
      .select(col(idCol),
        expr("""filter(toks, (t, i) ->
               |  coalesce(NOT exists(rs,
               |    r -> i >= r.start_tok AND i < r.end_tok), true))""".stripMargin)
          .as("kept"))
      .select(col(idCol), size(col("kept")).cast("long").as("n_tokens_kept"),
        array_join(col("kept"), " ").as("clean_text"))
      .orderBy(col(idCol))
  }

  /** Driver query: scrub at the same l = 13 the range query flags. */
  def dedupSubstringScrub(spark: SparkSession, sfDir: String): DataFrame =
    substrScrub(Tables.documents(spark, sfDir), "doc_id", "text", l = 13)

  /** Lee et al. 2022's DROP-DOC policy variant over [[substrDupRanges]]
    * (the paper's alternative to cutting: when most of a document is
    * duplicated boilerplate, splicing the survivors yields disfluent
    * text — drop the whole doc instead). Emits per-doc accounting:
    * total tokens, tokens covered by flagged ranges (the ranges are
    * maximal and DISJOINT by [[substrDupRanges]]'s second merge pass,
    * so their lengths sum without double-counting), the covered
    * fraction, and the keep verdict (`covered_frac <= maxCoveredFrac`).
    * Same plan as the range pass plus one per-doc agg and a join back
    * to the corpus token counts — nothing new shuffles at scale.
    * Fractions are single double divisions (bit-exact cross-engine,
    * SURVEY §4). */
  def substrDropDocs(docs: DataFrame, idCol: String, textCol: String,
      l: Int = 50, maxCoveredFrac: Double = 0.5): DataFrame = {
    val covered = substrDupRanges(docs, idCol, textCol, l)
      .groupBy(col(idCol))
      .agg(sum(col("n_tokens")).as("covered_tokens"))
    docs.select(col(idCol),
        size(TextAnalysis.tokens(textCol)).cast("long").as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .withColumn("covered_frac",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("covered_tokens").cast("double") / col("n_tokens")))
      .withColumn("keep", col("covered_frac") <= maxCoveredFrac)
      .orderBy(col(idCol))
  }

  /** Driver query: the drop policy at the corpus's l = 13 with the
    * paper-ish 50% coverage cut. */
  def dedupSubstringDrop(spark: SparkSession, sfDir: String): DataFrame =
    substrDropDocs(Tables.documents(spark, sfDir), "doc_id", "text",
      l = 13, maxCoveredFrac = 0.5)

  val dedupSubstringDropSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+12], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(t) - 12)) AS u(i)
      |  WHERE len(t) >= 13),
      |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1),
      |f AS (SELECT doc_id, pos FROM g
      |      WHERE gram IN (SELECT gram FROM dup)),
      |r AS (
      |  SELECT doc_id, pos,
      |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM f),
      |rng AS (
      |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 13 AS e
      |  FROM r GROUP BY doc_id, grp),
      |m AS (
      |  SELECT doc_id, s, e,
      |    CASE WHEN s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    THEN 1 ELSE 0 END AS brk
      |  FROM rng),
      |g2 AS (
      |  SELECT doc_id, s, e,
      |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mgrp
      |  FROM m),
      |rng2 AS (
      |  SELECT doc_id, MIN(s) AS s2, MAX(e) AS e2
      |  FROM g2 GROUP BY doc_id, mgrp),
      |cov AS (
      |  SELECT doc_id, SUM(e2 - s2) AS covered FROM rng2 GROUP BY doc_id),
      |tot AS (SELECT doc_id, len(t) AS n FROM toks)
      |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
      |  CASE WHEN t.n = 0 THEN 0.0
      |       ELSE CAST(COALESCE(c.covered, 0) AS DOUBLE) / t.n
      |  END AS covered_frac,
      |  (CASE WHEN t.n = 0 THEN 0.0
      |        ELSE CAST(COALESCE(c.covered, 0) AS DOUBLE) / t.n
      |   END) <= 0.5 AS keep
      |FROM tot t LEFT JOIN cov c USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  val dedupSubstringScrubSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+12], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(t) - 12)) AS u(i)
      |  WHERE len(t) >= 13),
      |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1),
      |f AS (SELECT doc_id, pos FROM g
      |      WHERE gram IN (SELECT gram FROM dup)),
      |r AS (
      |  SELECT doc_id, pos,
      |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM f),
      |rng AS (
      |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 13 AS e
      |  FROM r GROUP BY doc_id, grp),
      |pos AS (
      |  SELECT doc_id, i - 1 AS p, t[i] AS tok
      |  FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)),
      |keep AS (
      |  SELECT p.doc_id, p.p, p.tok FROM pos p
      |  WHERE NOT EXISTS (SELECT 1 FROM rng
      |    WHERE rng.doc_id = p.doc_id AND p.p >= rng.s AND p.p < rng.e)),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n,
      |    string_agg(tok, ' ' ORDER BY p) AS ct
      |  FROM keep GROUP BY doc_id)
      |SELECT d.doc_id, CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_tokens_kept,
      |  COALESCE(agg.ct, '') AS clean_text
      |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val dedupSubstringSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+12], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(t) - 12)) AS u(i)
      |  WHERE len(t) >= 13),
      |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1),
      |f AS (SELECT doc_id, pos FROM g
      |      WHERE gram IN (SELECT gram FROM dup)),
      |r AS (
      |  SELECT doc_id, pos,
      |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM f),
      |rng AS (
      |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 13 AS e
      |  FROM r GROUP BY doc_id, grp),
      |m AS (
      |  SELECT doc_id, s, e,
      |    CASE WHEN s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    THEN 1 ELSE 0 END AS brk
      |  FROM rng),
      |g2 AS (
      |  SELECT doc_id, s, e,
      |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mgrp
      |  FROM m)
      |SELECT doc_id, CAST(MIN(s) AS BIGINT) AS start_tok,
      |  CAST(MAX(e) AS BIGINT) AS end_tok,
      |  CAST(MAX(e) - MIN(s) AS BIGINT) AS n_tokens
      |FROM g2 GROUP BY doc_id, mgrp ORDER BY doc_id, start_tok""".stripMargin

  // ------------------------------------------------------------- C54
  /** DEDUP RECALL REPORT — the D8 discipline applied to the text-dedup
    * family: retrieval quality as a driver-visible per-round NUMBER,
    * not only a planted-pair spec threshold. Ground truth is the EXACT
    * set of pairs with 5-gram shingle-set Jaccard ≥ `threshold`
    * (unblocked, un-df-capped posting self-join — guarded AUDIT work
    * like D8's brute baseline: the pair-ceiling require refuses past
    * audit scale, and at corpus scale the planted-recall specs remain
    * the check); each method's found-pair set then scores
    * matched/baseline recall. What the rows mean: the MinHash row IS
    * the measured LSH S-curve at this threshold (its verify stage
    * already filters on exact Jaccard, so every miss is a banding
    * miss); the SimHash row says how much of the Jaccard near-dup mass
    * a Hamming-space sweep catches — a DIFFERENT similarity, reported
    * against the same truth because a curation team runs one ground
    * truth, not one per method. `found` beyond the baseline is not
    * error for SimHash (it legitimately pairs docs the gram measure
    * scores below threshold) — the report carries found and matched
    * separately so both readings stay honest. */
  /** A deterministic audit is AUDIT-BUILD work (the D8 recall-report
    * rule): the rows cache per (corpus dir, version stamp, threshold)
    * for the JVM's life, stale corpus versions evicted on access. */
  private val recallReportCache =
    new StampedCache[Double, Seq[(String, Long, Long, Long, java.lang.Double)]]

  def dedupRecallReport(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val n = Tables.cachedCount(spark, s"$sfDir/documents.parquet")
    // division form — n² overflows Long around 3e9 (the knnGraph rule)
    require(n == 0 || n <= Similarity.BruteForceMaxPairs / n,
      s"exact dedup baseline would score n²=$n² pairs — audit-scale " +
        "only; at corpus scale the planted-recall specs are the check")
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    recallReportCache(sfDir, stamp, threshold)(
        dedupRecallReportOf(Tables.documents(spark, sfDir), threshold)
          .collect().toSeq.map(r => (r.getString(0), r.getLong(1),
            r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) null
            else java.lang.Double.valueOf(r.getDouble(4)))))
      .toDF("method", "found_pairs", "baseline_pairs", "matched", "recall")
  }

  // --------------------------------------------------------------- C54b
  /** SAMPLED DEDUP-RECALL AUDIT — the scale path C54's guard message
    * promised ("at corpus scale the planted-recall specs are the
    * check" — and its gate consumer C58 added "gate on a deterministic
    * audit SAMPLE") now served, not noted: the full C54 report over a
    * seeded-LCG document sample, so the exact-Jaccard baseline scores
    * (frac·n)² pairs instead of n² and the audit runs at any corpus
    * size by shrinking frac. Honesty note carried in the shape: a
    * doc-sampled audit only sees near-dup pairs with BOTH ends in the
    * sample (pair sampling rate ≈ frac²), so baseline_pairs shrinks
    * ~frac² while recall — a RATIO over in-sample pairs — stays an
    * unbiased estimate of the banding's catch rate, which is what the
    * C58 gate consumes. Same shape as C54, so [[Curation.curateGatedOf]]
    * takes this report unchanged — the sampling policy is the caller's
    * knob, exactly as documented. Cached per (corpus stamp, params);
    * frac = 1 is spec-pinned identical to the full report. */
  def dedupRecallReportSampled(spark: SparkSession, sfDir: String,
      frac: Double = 0.5, seed: Long = 47L,
      threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    require(frac > 0 && frac <= 1, s"frac $frac out of (0, 1]")
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    val cut = math.floor(frac * 4294967296.0).toLong
    sampledRecallCache(sfDir, stamp, s"$frac:$seed:$threshold") {
        val sampled = Tables.documents(spark, sfDir)
          .filter(shiftrightunsigned(
            Curation.shuffleKey($"doc_id", seed), 32) < cut)
        // guard on the ACTUAL sample (the D25f qIds.count() rule): the
        // LCG keyspace cut draws a binomial sample that can exceed the
        // expected ceil(n·frac), so pricing the expectation could
        // under-estimate the n² baseline cost the guard exists to
        // refuse. Counted only on cache miss — a hit already built.
        val s = sampled.count()
        require(s == 0 || s <= Similarity.BruteForceMaxPairs / s,
          s"sampled exact baseline would score s²=$s² pairs — shrink frac")
        dedupRecallReportOf(sampled, threshold)
          .collect().toSeq.map(r => (r.getString(0), r.getLong(1),
            r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) null
            else java.lang.Double.valueOf(r.getDouble(4))))
      }
      .toDF("method", "found_pairs", "baseline_pairs", "matched", "recall")
  }

  private val sampledRecallCache =
    new StampedCache[String, Seq[(String, Long, Long, Long, java.lang.Double)]]

  /** C54 over an arbitrary (doc_id, text) frame — the spec entry;
    * UNGUARDED (the driver wrapper owns the pair-ceiling check). */
  def dedupRecallReportOf(docs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // distinct-shingle frame feeds postings AND sizes — pin it (the
    // 2+-consumers rule); rows are (id, 8-byte hash array)
    val sh = shingleFrame(docs, "doc_id", "text", 5)
      .select($"id", array_distinct($"sh").as("sh"))
      .filter(size($"sh") > 0)
      .localCheckpoint(true)
    val idx = sh.select($"id", explode($"sh").as("g"))
    val sizes = sh.select($"id", size($"sh").cast("long").as("sz"))
    val exact = idx.select($"g", $"id".as("id1"))
      .join(idx.select($"g", $"id".as("id2")), Seq("g"))
      .filter($"id1" < $"id2")
      .groupBy($"id1", $"id2").agg(count(lit(1)).as("inter"))
      .join(sizes.select($"id".as("id1"), $"sz".as("sz1")), Seq("id1"))
      .join(sizes.select($"id".as("id2"), $"sz".as("sz2")), Seq("id2"))
      .filter(round($"inter".cast("double") /
        ($"sz1" + $"sz2" - $"inter"), 6) >= threshold)
      .select($"id1", $"id2")
      .localCheckpoint(true) // both method rows probe it
    val base = exact.count()
    val methods = Seq(
      "minhash_lsh" ->
        minhashPairs(docs, "doc_id", "text", threshold = threshold),
      "simhash" -> simhashPairs(docs, "doc_id", "text"))
    val rows = methods.map { case (name, pairs) =>
      val f = pairs.select($"id1", $"id2").distinct().localCheckpoint(true)
      val matched = f.join(exact, Seq("id1", "id2"), "left_semi").count()
      (name, f.count(), base, matched,
        if (base == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(
          math.rint(matched.toDouble / base * 1e6) / 1e6))
    }
    rows.toDF("method", "found_pairs", "baseline_pairs", "matched",
      "recall").orderBy($"method")
  }
}
