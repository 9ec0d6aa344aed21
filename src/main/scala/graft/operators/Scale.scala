package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-out utilities (SURVEY.md §5): skew-salted joins and bucketed
  * layouts — the knobs a 100 TB deployment turns when AQE alone isn't
  * enough.
  */
object Scale {

  /** Inner equi-join resilient to heavy key skew: the (big, skewed)
    * left side gets a random salt in [0, salts); the (smaller) right
    * side is replicated once per salt value. A key holding 30% of all
    * rows then spreads over `salts` reducers instead of melting one.
    *
    * Semantically identical to `left.join(right, keys)` — every left
    * row meets every matching right row exactly once (it carries one
    * salt; the right copy with that salt exists exactly once).
    *
    * Use when runtime skew stats aren't available (AQE skew-join
    * handles the adaptive case; salting handles the planned case,
    * e.g. streaming joins where AQE doesn't apply).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      salts: Int = 8): DataFrame = {
    require(salts >= 1)
    val saltedLeft = left.withColumn("__salt", (rand(seed = 42) * salts).cast("int"))
    val saltRange = right.sparkSession.range(salts.toLong)
      .select(col("id").cast("int").as("__salt"))
    val saltedRight = right.crossJoin(broadcast(saltRange))
    saltedLeft.join(saltedRight, keys :+ "__salt").drop("__salt")
  }

  /** Write a DataFrame bucketed+sorted by join keys. Two tables
    * bucketed the same way join WITHOUT a shuffle — at 100 TB,
    * pre-bucketing the fact tables turns every repeated key-join into
    * a map-side zip. (Bucketing requires saveAsTable; path-only
    * parquet cannot carry bucket metadata.) */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      keys: Seq[String]): Unit = {
    df.write
      .mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Write a DataFrame Z-ORDER clustered on two numeric columns: each
    * column is min/max-scaled to a 16-bit grid, the grid coordinates
    * are Morton-interleaved ([[graft.functions.LayoutFunctions
    * .InterleaveBits]]), and the data is range-partitioned + sorted by
    * the interleaved value. Every output file then covers a narrow
    * range of BOTH columns, so parquet min/max stats let a filter on
    * EITHER column skip most files — the layout decision that makes
    * two-dimensional point/range lookups cheap at 100 TB, where a
    * single-column sort only helps one predicate.
    *
    * Min/max scaling is one cheap agg job; it assumes roughly
    * uniform-ish key spreads (heavily skewed keys want rank-based
    * normalization, at the cost of a full sort). */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      files: Int = 16): Unit = {
    val r = df.agg(min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    // empty input / all-NULL column → NULL aggregates; degrade to the
    // constant grid (hi <= lo branch below) instead of an NPE mid-write
    def get(i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    val (loA, hiA, loB, hiB) = (get(0), get(1), get(2), get(3))
    def grid(c: String, lo: Double, hi: Double): Column =
      if (hi > lo)
        least(lit(65535L),
          ((col(c).cast("double") - lo) / (hi - lo) * 65535.0).cast("long"))
      else lit(0L)
    df.withColumn("__z", graft.functions.LayoutFunctions.interleaveBits(
        grid(colA, loA, hiA), grid(colB, loB, hiB)))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Write a time-series DataFrame partitioned by day (`dt=yyyy-MM-dd`
    * directories). At 100 TB this is the layout decision that matters
    * most: a date-filtered query then prunes whole partitions at
    * planning time (`PartitionFilters` in the scan, zero I/O for
    * excluded days) instead of scanning everything. */
  def writePartitionedByDay(df: DataFrame, path: String, tsCol: String): Unit =
    df.withColumn("dt", date_format(col(tsCol), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("dt").parquet(path)

  /** Sub-bucket count for a block of `blockRows` rows when each
    * sub-bucket should hold ~`targetSubRows` rows. Exposed so specs can
    * assert the decomposition a given block size produces. */
  def subBuckets(blockRows: Long, targetSubRows: Int): Int =
    math.max(1L, (blockRows + targetSubRows - 1) / targetSubRows)
      .min(Int.MaxValue).toInt

  /** Above this many distinct blocks, [[boundedSelfPairs]] stops
    * broadcasting the per-block size frame (one int per block — but at
    * 100 TB a block key like a fine-grained IVF cell id can reach many
    * millions of distinct values, and an unconditional broadcast would
    * then blow the driver) and joins it by shuffle instead; the size
    * frame shuffles on the same keys as the main exchange, so the
    * fallback adds no extra exchange on the data side. */
  val MaxBroadcastBlocks: Long = 1000000L

  /** Exact all-pairs self-join within blocks with BOUNDED per-task
    * work — the scale-safe replacement for `df.join(df, blockCols)`
    * when one block may be hot (a skewed label, a dominant IVF cell).
    *
    * A plain self-join on the block key puts a block of m rows into one
    * reducer that scores m² pairs; AQE cannot split it because all rows
    * of one key must colocate. This operator splits each block into
    * g = ceil(m / targetSubRows) sub-buckets by id hash and gives every
    * unordered sub-bucket pair {u, v} its OWN shuffle key (the triangle
    * decomposition of a self-join): the left row of a pair shuffles to
    * keys (sub, v≥sub), the right row to keys (u≤sub, sub), so each
    * unordered row pair meets on exactly one key and the hottest task
    * scores ~targetSubRows² pairs however large the block is. g is
    * computed per block inside the plan (tiny count-by-key aggregate,
    * broadcast back — or shuffle-joined past [[MaxBroadcastBlocks]]
    * distinct blocks), so cold blocks keep g = 1 and pay zero
    * replication; a block of m rows replicates rows (g+1)/2 times on
    * average — O(m·√(m/target)) shuffled rows in exchange for a hard
    * per-task bound. When NO block is hot (max g = 1, detected by one
    * O(1)-result job on the size frame), the whole decomposition is
    * skipped and the plain single-exchange block self-join runs
    * instead — the bound costs nothing until skew actually appears.
    *
    * Returns one row per unordered within-block pair (`id1` < `id2`),
    * with each payload column `p` carried as `p_1` / `p_2`.
    * `keepKeys = true` retains the `__u`/`__v` sub-bucket key columns
    * so tests can observe the decomposition. */
  def boundedSelfPairs(df: DataFrame, blockCols: Seq[String], idCol: String,
      payload: Seq[String], targetSubRows: Int = 4096,
      keepKeys: Boolean = false): DataFrame = {
    require(targetSubRows >= 1)
    val kb = blockCols.map(col)
    // same integer arithmetic as subBuckets() so specs predict the
    // plan's exact decomposition (a double-based ceil could drift)
    val sizes = df.groupBy(kb: _*).agg(count(lit(1)).as("__bn"))
      .withColumn("__g",
        expr(s"cast((__bn + ${targetSubRows - 1}) div $targetSubRows as int)"))
      .drop("__bn")
    // One O(1)-result job over the size frame picks the path (this
    // makes the operator EAGER at plan-construction time, like
    // bloomPrefilterJoin's filter build — the probe job is a count-by-
    // key over df, map-side partial). Deliberately NOT persisted: a
    // cache entry would have no safe release point (the hot path's
    // returned plan reads it lazily, so unpersisting here would defeat
    // it and never unpersisting leaks an entry per distinct input in a
    // long-lived session). The price is one lazy recompute of the
    // count-by-key on the HOT path only — negligible next to the
    // decomposition join it gates; callers with an expensive df
    // lineage should persist df themselves. Cold case (no block
    // exceeds targetSubRows — the common case outside skew): the
    // decomposition machinery (size join + explode + u/v keys) is pure
    // overhead, so emit the plain block self-join — one shared
    // exchange, every block fits one task by construction. The stats
    // also gate the size-frame broadcast (see MaxBroadcastBlocks).
    val stats = sizes.agg(max(col("__g")), count(lit(1))).head()
    val maxG = if (stats.isNullAt(0)) 1 else stats.getInt(0)
    val nBlocks = stats.getLong(1)
    if (maxG <= 1) {
      val l = df.select(kb ++ (col(idCol).as("id1") +:
        payload.map(p => col(p).as(s"${p}_1"))): _*)
      val r = df.select(kb ++ (col(idCol).as("id2") +:
        payload.map(p => col(p).as(s"${p}_2"))): _*)
      val outCols = Seq(col("id1"), col("id2")) ++
        payload.flatMap(p => Seq(col(s"${p}_1"), col(s"${p}_2"))) ++
        (if (keepKeys) Seq(lit(0).as("__u"), lit(0).as("__v")) else Nil)
      return l.join(r, blockCols).filter(col("id1") < col("id2"))
        .select(outCols: _*)
    }
    val sizesSide = if (nBlocks <= MaxBroadcastBlocks) broadcast(sizes) else sizes
    val withG = df.join(sizesSide, blockCols)
      .withColumn("__sub", pmod(xxhash64(col(idCol)), col("__g")).cast("int"))
    val left = withG.select(
      kb ++ Seq(col("__sub").as("__u"),
        explode(expr("sequence(__sub, __g - 1)")).as("__v"),
        col(idCol).as("id1")) ++
        payload.map(p => col(p).as(s"${p}_1")): _*)
    val right = withG.select(
      kb ++ Seq(explode(expr("sequence(0, __sub)")).as("__u"),
        col("__sub").as("__v"),
        col(idCol).as("id2")) ++
        payload.map(p => col(p).as(s"${p}_2")): _*)
    // Keys always satisfy u <= v. On the diagonal (u = v) both sides
    // hold the same sub-bucket, so id1 < id2 picks each pair once; off
    // the diagonal the sides hold disjoint sub-buckets, so every cross
    // pair is new — normalize so id1 < id2 in the output.
    val joined = left.join(right, blockCols ++ Seq("__u", "__v"))
      .filter(col("__u") =!= col("__v") || col("id1") < col("id2"))
    val swap = col("id1") > col("id2")
    val outCols = Seq(
      when(swap, col("id2")).otherwise(col("id1")).as("id1"),
      when(swap, col("id1")).otherwise(col("id2")).as("id2")) ++
      payload.flatMap(p => Seq(
        when(swap, col(s"${p}_2")).otherwise(col(s"${p}_1")).as(s"${p}_1"),
        when(swap, col(s"${p}_1")).otherwise(col(s"${p}_2")).as(s"${p}_2"))) ++
      (if (keepKeys) Seq(col("__u"), col("__v")) else Nil)
    joined.select(outCols: _*)
  }

  /** Per-stratum GLOBAL running sum without per-stratum single tasks —
    * the scale-safe form of
    * `sum(value) over (partition by stratum order by key)`: that naive
    * window gives every stratum ONE task, so a dominant stratum (40%
    * of a 100 TB corpus in one domain) serializes onto one core. Here
    * the order key is range-bucketed (one O(1) min/max job), per
    * (stratum, bucket) subtotals aggregate in one tiny shuffle, the
    * driver prefix-sums them (O(strata × buckets) rows — the same
    * legitimate driver-size class as [[writeZOrdered]]'s min/max), and
    * broadcast bucket bases make the remaining window per (stratum,
    * bucket) — parallel within every stratum.
    *
    * Adds `cumCol` = the RUNNING TOTAL INCLUDING the current row
    * (subtract `valueCol` for the exclusive prefix). `orderCol` must be
    * a NON-NULL numeric (long-castable) key, unique per row within its
    * stratum for a deterministic result (null order keys cannot be
    * placed in the stream — the probe job rejects them); `stratumCol`
    * must be non-null; null `valueCol` counts as 0. Result is identical
    * to the naive window at any bucket count and any input
    * partitioning.
    *
    * Cost trade vs the naive window: TWO full passes over `df` (the
    * subtotal aggregate is eager, the output plan re-reads) instead of
    * one serial pass — the classic parallel-prefix 2×-work-for-
    * parallel-span trade. Callers with an expensive `df` lineage
    * should persist the projected (stratum, order, value) frame
    * first. Driver footprint is O(distinct strata × buckets), hard-
    * capped by [[MaxPrefixGroups]] — lower `buckets` for very high
    * stratum cardinality. */
  def stratifiedPrefixSum(df: DataFrame, stratumCol: String,
      orderCol: String, valueCol: String, cumCol: String,
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val r = df.agg(min(col(orderCol)).cast("long"),
      max(col(orderCol)).cast("long"),
      count(when(col(orderCol).isNull, lit(1))),
      count(when(col(stratumCol).isNull, lit(1)))).head()
    require(r.getLong(2) == 0L,
      s"stratifiedPrefixSum: $orderCol has ${r.getLong(2)} null keys — " +
        "null rows cannot be placed in the running order")
    // same treatment for the stratum: the base join matches on the cast
    // stratum value, and null never equals — a null-stratum row would
    // VANISH from the output without this, silently shrinking
    // mixSample/qualityRankCut/pipelineTrainMix results
    require(r.getLong(3) == 0L,
      s"stratifiedPrefixSum: $stratumCol has ${r.getLong(3)} null strata — " +
        "null strata cannot join their bucket base; fill or filter them first")
    if (r.isNullAt(0)) // empty input: empty output, schema + cumCol
      return df.withColumn(cumCol, lit(0L)).limit(0)
    stratifiedPrefixSumBounded(df, stratumCol, orderCol, valueCol,
      cumCol, buckets, r.getLong(0), r.getLong(1))
  }

  /** The [[stratifiedPrefixSum]] kernel with the probe job SKIPPED —
    * for callers that already ran an aggregate over `df` (e.g. a guard
    * range check) and can certify from it: `orderCol` and `stratumCol`
    * are non-null on every row, and [lo, hi] COVERS the orderCol range
    * (bounds need not be tight — the span only sizes the buckets, and
    * the result is bucket-count invariant by the public contract).
    * Saves one full-frame aggregate job per call; everything after the
    * probe is the public entry's code verbatim. */
  private[operators] def stratifiedPrefixSumBounded(df: DataFrame,
      stratumCol: String, orderCol: String, valueCol: String,
      cumCol: String, buckets: Int, lo: Long, hi: Long): DataFrame =
    stratifiedPrefixSumBoundedMulti(df, stratumCol, orderCol,
      Seq(valueCol -> cumCol), buckets, lo, hi)

  /** [[stratifiedPrefixSumBounded]] over SEVERAL (valueCol → cumCol)
    * pairs in ONE pass: one bucket-subtotal aggregate carries every
    * value's partial, the driver prefixes each independently, and one
    * base join + window stage emits all the running totals — a caller
    * needing both a running sum and a running rank (errorPareto) pays
    * one subtotal job and one output pass instead of two full kernels
    * chained (where the second pass's probe and subtotal re-execute the
    * first pass's join + window from lineage). Identical per-column
    * results by construction — each column's math is the single-value
    * kernel's verbatim. */
  private[operators] def stratifiedPrefixSumBoundedMulti(df: DataFrame,
      stratumCol: String, orderCol: String,
      valueCols: Seq[(String, String)], buckets: Int,
      lo: Long, hi: Long): DataFrame = {
    require(buckets >= 1 && valueCols.nonEmpty)
    val spark = df.sparkSession
    import spark.implicits._
    // span sized in BigInt: hi - lo overflows Long when the key is a
    // full-range hash (the documented unbiased-order case). The bucket
    // id is then just `orderCol div span` — NO lo subtraction, which
    // would overflow per-row; truncating division is monotonic in the
    // key, which is all the driver prefix needs (ids may be negative
    // and the count may exceed `buckets` by a couple — harmless).
    val span = ((BigInt(hi) - BigInt(lo)) / buckets + 1)
      .min(BigInt(Long.MaxValue)).toLong
    val b = df.withColumn("__psb", expr(s"cast($orderCol as bigint) div $span"))
    val vals = valueCols.map { case (v, _) =>
      coalesce(col(v).cast("long"), lit(0L)) }
    val sumCols = vals.zipWithIndex.map { case (v, i) => sum(v).as(s"__pst$i") }
    val subtotalRows = b
      .groupBy(col(stratumCol).cast("string").as("__pss"), col("__psb"))
      .agg(sumCols.head, sumCols.tail: _*)
      .limit(MaxPrefixGroups + 1).collect()
    require(subtotalRows.length <= MaxPrefixGroups,
      s"stratifiedPrefixSum: more than $MaxPrefixGroups (stratum, bucket) " +
        "groups — driver prefix would not fit; lower `buckets` or reduce " +
        "stratum cardinality")
    val k = valueCols.size
    val subtotals = subtotalRows
      .map(x => (x.getString(0), x.getLong(1),
        Array.tabulate(k)(i => x.getLong(2 + i))))
      .sortBy(t => (t._1, t._2))
    // driver prefix per stratum over bucket order, one accumulator per
    // value column
    val bases = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    var cur: String = null
    val acc = new Array[Long](k)
    subtotals.foreach { case (s, bk, ts) =>
      if (s != cur) { cur = s; java.util.Arrays.fill(acc, 0L) }
      bases += org.apache.spark.sql.Row.fromSeq(s +: bk +: acc.toSeq)
      var i = 0
      while (i < k) { acc(i) += ts(i); i += 1 }
    }
    val baseSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__pss",
        org.apache.spark.sql.types.StringType) +:
      org.apache.spark.sql.types.StructField("__psb2",
        org.apache.spark.sql.types.LongType) +:
      valueCols.indices.map(i => org.apache.spark.sql.types.StructField(
        s"__psbase$i", org.apache.spark.sql.types.LongType)))
    val baseDf = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(bases.toSeq, 1), baseSchema))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol), col("__psb")).orderBy(col(orderCol))
    val joined = b.join(baseDf, col(stratumCol).cast("string") === col("__pss")
      && col("__psb") === col("__psb2"))
    valueCols.zipWithIndex.foldLeft(joined) {
      case (acc0, ((_, cumCol), i)) =>
        acc0.withColumn(cumCol, col(s"__psbase$i") + sum(vals(i)).over(w))
    }.drop(Seq("__psb", "__pss", "__psb2") ++
      valueCols.indices.map(i => s"__psbase$i"): _*)
  }

  /** Hard cap on stratifiedPrefixSum's driver-side subtotal count —
    * the same driver-footprint discipline as [[MaxBroadcastBlocks]]. */
  val MaxPrefixGroups: Int = 1000000

  /** Connected components over an undirected edge list (`id1`, `id2`
    * bigint) by iterative min-label propagation: every node starts
    * labeled with itself; each round, every node takes the minimum
    * label in its neighborhood (including its own); fixpoint after
    * O(component diameter) rounds. Returns (id, component) with
    * component = the minimum node id of the component.
    *
    * This is what near-duplicate DEDUP actually needs: pairwise
    * keep-min deletes `id2` of every pair, which under-deletes on
    * transitive clusters (edges (B,C),(A,C) leave both A and B alive in
    * the {A,B,C} cluster). Components pick exactly one survivor — the
    * standard practice for LSH dedup at scale.
    *
    * Scale shape: each round is one shuffle join (labels × edges) plus
    * a min-aggregate; lineage is truncated every round with an eager
    * checkpoint so plans stay flat however many rounds run.
    * Near-dup graphs are sparse with tiny components, so rounds ≈ 2-4
    * in practice; `maxIter` hard-bounds adversarial chains.
    *
    * Durability: with `checkpointDir = None`, lineage pins use
    * `localCheckpoint` — blocks live in EXECUTOR storage, so losing one
    * executor mid-iteration kills the job (truncated lineage cannot be
    * recomputed). Fine on a single machine; on a shared cluster with
    * spot/preemptible executors, pass a reliable `checkpointDir`
    * (HDFS/S3): every pin is then a plain parquet round-trip under a
    * fresh per-run subdirectory, which survives executor loss at the
    * cost of a distributed-FS write. Parquet pins are used instead of
    * `df.checkpoint` deliberately: `checkpoint` mutates the
    * SparkContext-GLOBAL checkpoint dir (racing concurrent pipelines)
    * and its files are only auto-deleted when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is on (default
    * OFF), so repeated sweeps would grow the dir without bound. Here
    * each superseded pin is deleted as soon as the next pin lands; on
    * success only the FINAL pin (the returned frame's backing files)
    * remains, and the caller owns deleting `checkpointDir` after
    * consuming the result; on failure the whole run directory is
    * removed.
    *
    * Small-graph fast path: when the edge list fits `maxDriverEdges`
    * (known from one count over the pinned edges), the components are
    * resolved with a driver-side union-find instead of iterative jobs —
    * near-dup graphs are usually tiny relative to their corpus (dup
    * PAIRS are rare even when docs are many), and each distributed
    * round costs 2-3 jobs of fixed overhead. Only ONE direction of the
    * symmetric frame is collected, and the result rides as a ≤2·edges-
    * row local relation in downstream plans — the default threshold is
    * sized so both stay comfortably inside a default 1g driver (row
    * objects are boxed: budget ~100 B per collected edge, not 16).
    * Results are identical (min-id labels); set `maxDriverEdges = 0`
    * to force the iterative path. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      checkpointDir: Option[String] = None,
      maxDriverEdges: Long = 250000L): DataFrame = {
    val spark = edges.sparkSession
    val runDir = checkpointDir.map(d =>
      s"${d.stripSuffix("/")}/cc-${java.util.UUID.randomUUID()}")
    def rm(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    var pinSeq = 0
    // returns the pinned frame plus its backing dir (None on the
    // localCheckpoint path, whose blocks ARE released on unpersist/GC)
    def pin(df: DataFrame): (DataFrame, Option[String]) = runDir match {
      case Some(root) =>
        val dir = s"$root/pin-$pinSeq"
        pinSeq += 1
        df.write.parquet(dir) // one eager pass; read-back is the new root
        (spark.read.parquet(dir), Some(dir))
      case None => (df.localCheckpoint(true), None)
    }
    try {
    val (sym, symDir) = pin( // edge derivation (e.g. an LSH join) runs ONCE
      edges.select(col("id1").as("src"), col("id2").as("dst"))
        .unionByName(edges.select(col("id2").as("src"), col("id1").as("dst"))))
    // small-graph fast path: union-find on the driver (sym is pinned, so
    // the count and collect read blocks/files, not the edge lineage)
    if (maxDriverEdges > 0 && sym.count() / 2 <= maxDriverEdges) {
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // one direction suffices for union-find — halve the collect
      // (<=, not <: a self-loop-only node must still get a label)
      sym.filter(col("src") <= col("dst")).collect().foreach { e =>
        val (a, b) = (e.getLong(0), e.getLong(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by MIN id: the surviving root is the component minimum,
        // matching the iterative path's min-label fixpoint exactly
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val out = parent.keys.toSeq.sorted.map(id => (id, find(id)))
        .toDF("id", "comp")
      runDir.foreach(rm) // driver result needs no pins
      return out
    }
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .persist()
    var cached = labels // the handle actually holding storage
    var roundPin: Option[String] = None // newest durable round pin
    var round = 0
    var changed = true
    while (changed && round < maxIter) {
      // propagation AND convergence in one aggregation: each node's own
      // row is tagged, so the group carries both the neighborhood min
      // (new label) and the node's previous label — no second join
      val step = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"), lit(0).as("own"))
        .unionByName(labels.select(col("id"), col("comp"), lit(1).as("own")))
        .groupBy(col("id"))
        .agg(min(col("comp")).as("comp"),
          max(when(col("own") === 1, col("comp"))).as("prev"))
      // lazy persist per round; durable pin only every 3rd round —
      // enough to keep lineage ≤ 3 plans deep without paying a pin
      // barrier per round
      val (next, nextDir) = if (round % 3 == 2) pin(step) else (step.persist(), None)
      // convergence probe as a full aggregate, NOT limit(1): a limit
      // stops after the first matching partition, leaving the round's
      // persist partially populated — later rounds would then recompute
      // the missing partitions from lineage. The count scans (and so
      // caches) every partition before the previous round is released.
      changed = next.filter(col("comp") < col("prev")).count() > 0
      cached.unpersist(false) // no-op on pinned rounds (by design)
      cached = next
      nextDir.foreach { d => // new pin landed → the old one is dead weight
        roundPin.foreach(rm); roundPin = Some(d)
      }
      labels = next.select(col("id"), col("comp"))
      round += 1
    }
    if (changed) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "component diameter exceeds maxIter; raise it (labels would be " +
        "silently partial, re-introducing under-deletion in dedup)")
    // pin the result, then drop iteration storage; the final pin
    // supersedes the edge pin and the last round pin
    val (out, _) = pin(labels)
    cached.unpersist(false)
    roundPin.foreach(rm)
    symDir.foreach(rm)
    out
    } catch { case t: Throwable =>
      runDir.foreach(rm) // failed run leaves nothing behind
      throw t
    }
  }

  /** Bloom-prefiltered inner equi-join on a bigint key: build a Bloom
    * filter over the small side's keys (a fixed-size sketch, built
    * distributed and merged on the driver), then drop big-side rows
    * whose key is definitely absent BEFORE the join's shuffle. No false
    * negatives ⇒ bit-identical to `big.join(small, key)`; false
    * positives just ride through and are removed by the join itself.
    *
    * This is the planned-case analog of what AQE/DPP do adaptively —
    * the tool to reach for when runtime filtering doesn't apply
    * (streaming joins, non-partition keys) and the big side is
    * mostly non-matching: at 1% selectivity the shuffle moves ~1% of
    * the rows plus fpp noise. */
  def bloomPrefilterJoin(big: DataFrame, small: DataFrame, key: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val bf = small.stat.bloomFilter(key, expectedItems, fpp)
    big.filter(graft.functions.BloomFunctions.mightContain(col(key), bf))
      .join(small, Seq(key))
  }

  /** OPTIMIZER BARRIER — this frame's projections evaluate exactly
    * ONCE per row, no matter how many downstream expressions and
    * pushed predicates consume them. Catalyst's predicate pushdown and
    * project collapse INLINE a column's defining expression into every
    * consumer — correct for cheap expressions, catastrophic for heavy
    * ones (the r15 finding: the crawl chain's E42 extraction was
    * cloned 44× into the scan-side gate Filter, turning a 0.07 s
    * map stage into 6.5 s of repeated regex work). The barrier is a
    * LAZY RDD round-trip: same schema, same rows, no shuffle, no
    * materialization — the optimizer simply cannot see through the
    * RDD lineage, so everything below it is planned once and
    * everything above consumes plain attributes. Trade (stated): the
    * boundary splits whole-stage codegen and pins the pre-barrier
    * projection (predicates that COULD have pruned the scan no longer
    * reach it) — use only when the protected expression costs more
    * than the rows it would have pruned.
    *
    * MECHANISM CHOICE, measured (r16): the zero-conversion alternative
    * — the Fence, a custom pass-through plan node that blocks the
    * same rules without the RDD round-trip's two per-row
    * conversions — LOST the A/B on the curate family at sf0.1: warm
    * medians (fence vs this) crawl 2.95/2.34, crawl_robust 3.72/2.88,
    * full 2.23/1.85, gated 2.07/1.87, predicted 1.60/1.44, v2
    * 0.50/0.45, prod a wash 2.20/2.26; cold far worse (2–3× — the
    * unified plan pays one giant codegen compile where the RDD
    * barrier's halves compile separately). The conversions this
    * mechanism pays are evidently cheaper than what the unified plan
    * costs in stats-driven re-planning and compile mass, so the RDD
    * round-trip STAYS. The fence had no production caller and was
    * deleted; its last version (with its PlanSpec proof) is
    * plans/Fence.scala at commit 095388e. */
  def evalOnce(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** SCAN FAN-OUT for heavy per-row kernels (optimization guide §2.5:
    * "one huge unsplittable file … repartition immediately after the
    * read"): parquet scan parallelism is bounded by row groups — a
    * single-row-group file is ONE task no matter how many cores the
    * cluster has, and every expensive projection above it (tokenizers,
    * extraction regexes, classifiers, PII scrub) inherits that one
    * task while the rest of the machine idles. This helper restores
    * parallelism with a round-robin repartition to
    * `defaultParallelism`, but ONLY when the frame's file layout
    * cannot provide it: it estimates the scan's split count from the
    * input files' sizes (driver-side listing the FileIndex already
    * did; early-out when the file count alone suffices) and is a
    * structural NO-OP whenever the estimate reaches the default
    * parallelism — i.e. on any realistically-sized corpus the plan is
    * unchanged and no shuffle is added; the repartition only fires
    * where the alternative is a serial scan. The scan's decode itself
    * stays serial either way (row-group physics) — the win is the
    * per-row kernel ABOVE the exchange, so apply this only under
    * kernels whose per-row cost dominates the decode, never under
    * cheap aggregates (the exchange would cost more than it frees).
    * Determinism: round-robin repartition sorts each input partition
    * first (`spark.sql.execution.sortBeforeRepartition`, on by
    * default), so row placement is deterministic under retries, and
    * AQE does not coalesce user-specified repartitions. Filter/column
    * pushdown still reach the scan (PushDownPredicates and column
    * pruning both cross RepartitionOperation nodes). */
  def fanOutScan(df: DataFrame, parallelism: Int = 0): DataFrame = {
    if (df.isStreaming) return df
    val sc = df.sparkSession.sparkContext
    val par = if (parallelism > 0) parallelism else sc.defaultParallelism
    // composed kernels both call this (e.g. the crawl chains fan out
    // below the extraction, then the prod chain's own site sees the
    // same lineage): if SOME repartition is already in the tree, the
    // scan-boundedness this helper exists to fix is already fixed —
    // never stack a second exchange. KNOWN LIMITATION (r16 advice,
    // accepted): the check matches a repartition ANYWHERE in the
    // logical plan, including an unrelated joined-in branch, which can
    // suppress a fan-out that would still help the serial side —
    // performance-only false negative; callers composing a join below
    // this helper should fan out the serial input BEFORE joining
    val already = df.queryExecution.logical.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Repartition => true
      case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => true
      case _ => false
    }
    if (already) return df
    val files = df.inputFiles
    if (files.isEmpty || files.length >= par) return df
    val maxSplit = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val splits =
      try {
        val fs = new org.apache.hadoop.fs.Path(files.head)
          .getFileSystem(sc.hadoopConfiguration)
        files.iterator.map { f =>
          (fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen +
            maxSplit - 1) / maxSplit
        }.sum
      } catch { case _: java.io.IOException => par.toLong }
    if (splits >= par) df else df.repartition(par)
  }

  /** [[fanOutScan]] sized for kernels whose chain runs MANY small jobs
    * after the heavy projection (eager pins, guard aggs, driver
    * collects): every downstream job schedules one task per partition,
    * so full fan-out taxes each of them — a quarter of the cores
    * captures most of the kernel speedup at a quarter of that tax
    * (measured on the curate family: full fan-out LOST on the
    * multi-job slots while winning on the single-chain crawl slots). */
  def fanOutScanLight(df: DataFrame): DataFrame =
    fanOutScan(df, math.max(2, df.sparkSession.sparkContext.defaultParallelism / 4))

  /** [[evalOnce]] for a STREAMING frame: an RDD lineage cannot ride a
    * micro-batch plan, but an OBJECT boundary can. The no-op typed
    * mapPartitions plants a SerializeFromObject/DeserializeToObject
    * pair that predicate pushdown and project collapse do not cross,
    * so — exactly like the batch barrier — everything below it is
    * planned once and the gates above consume plain attributes.
    * Measured need (r16): the curateStream/curateRoutedStream
    * micro-batch EXECUTED plans carried 20/22 copies of the corpus
    * tokenizer, the same pathology r15 cured on the batch path; the
    * "per-trigger volumes make it harmless" assumption was wrong in
    * SHAPE (the multiplier is per row, independent of volume — a
    * firehose micro-batch pays it in full). Trade vs the batch
    * barrier: a per-row encode/decode round-trip and a codegen split
    * instead of an RDD boundary; same rule — keep scan-pruning
    * predicates BELOW it, heavy projections just beneath it. Works on
    * batch frames too, but prefer [[evalOnce]] there (no object
    * round-trip). */
  def evalOnceStream(df: DataFrame): DataFrame =
    df.mapPartitions(it => it)(org.apache.spark.sql.Encoders.row(df.schema))

  /** Deterministic fingerprint of a DataFrame's content (order-free,
    * multiplicity-sensitive): decimal sum of per-row xxhash64 over all
    * columns. The cheap way to assert two hundred-terabyte pipelines
    * produced identical results without collecting either. (Not xor —
    * xor cancels rows with even multiplicity.) */
  def contentFingerprint(df: DataFrame): String = {
    val cols = df.columns.map(col)
    df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(sum(col("h")))
      .collect()(0) match {
        case r if r.isNullAt(0) => "0"
        case r => r.getDecimal(0).toBigInteger.toString
      }
  }
}
