package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.operators._

/** Physical-plan audits: assert the optimizations that matter at 100 TB
  * actually materialize — filters and projections reach the parquet
  * scan, small dims broadcast, self-joins reuse exchanges, and shuffle
  * counts stay at the theoretical minimum. A regression here is a
  * silent 10–100× cost at scale even though results stay correct.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def executedPlan(df: DataFrame): String = {
    df.collect() // let AQE finalize
    df.queryExecution.executedPlan.toString
  }

  /** The AQE FINAL plan only — executedPlan.toString prints "Final
    * Plan" AND "Initial Plan" sections, double-counting every node
    * for scan/exchange audits. */
  private def finalPlan(df: DataFrame): String =
    executedPlan(df).split("== Initial Plan ==").head

  test("q1: filter + projection push into the parquet scan") {
    val p = plan(Relational.q1PricingSummary(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n$p")
    // 7 needed columns, not all 11
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_partkey") && !read.contains("l_suppkey"),
      s"scan reads pruned columns: $read")
  }

  test("q1: single shuffle (partial agg before exchange)") {
    val p = plan(Relational.q1PricingSummary(spark, sf))
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    // one for groupBy + one for the final orderBy (range partitioning)
    assert(exchanges <= 2, s"too many exchanges ($exchanges):\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("broadcast dim join: both dims broadcast, fact side never shuffles pre-agg") {
    val p = executedPlan(Relational.qBroadcastDim(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$p")
  }

  test("q3: joins broadcast and top-k is TakeOrdered, not a global sort") {
    // the r10 bench drift watch item: a flip of either join to SMJ or
    // of the limit to a full sort is the only plan change that could
    // explain a real q3 regression — pin both
    val p = executedPlan(Relational.q3ShippingPriority(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"q3 dims not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q3 join flipped to SMJ:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q3 top-k lost TakeOrderedAndProject:\n$p")
  }

  test("decontaminate_bloom: the sketch probe filters grams BEFORE the confirm join") {
    val p = plan(Curation.decontamBloomQuery(spark, sf))
    // the load-bearing property: might_contain sits in a Filter under
    // the gram Generate, so the corpus side is prescreened map-only
    // and only survivors reach the (semi) confirm join
    assert(p.contains("might_contain"), s"no bloom prescreen in plan:\n$p")
    val probeLine = p.linesIterator.indexWhere(_.contains("might_contain"))
    val semiLine = p.linesIterator.indexWhere(_.contains("LeftSemi"))
    assert(probeLine >= 0 && semiLine >= 0,
      s"prescreen or confirm join missing:\n$p")
  }

  test("quality_classifier: bucket weights broadcast into the scoring join") {
    // the ≤nBuckets weight frame must broadcast — a shuffled weight
    // join would exchange the corpus-sized feature frame a second time.
    // The public entry materializes and detaches (the r12 ADVICE pin
    // fix), so the join shape lives on the LAZY internal seam.
    val docs = Tables.documents(spark, sf)
    val labels = Curation.gopherRules(docs)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("passed").as("is_pos"))
    val (lazyOut, pin) = Curation.qualityClassifierLazy(docs, labels,
      4096, 0.0)
    try {
      val p = finalPlan(lazyOut)
      assert(p.contains("BroadcastHashJoin"),
        s"weight join not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"classifier scoring fell into SMJ:\n$p")
    } finally pin.foreach(Tables.unpinCheckpoint)
    // and the public entry IS detached: one RDD scan, no live join —
    // the leak-fix contract (nf released after materialization)
    val pub = finalPlan(Curation.qualityClassifier(spark, sf))
    assert(pub.contains("Scan ExistingRDD") && !pub.contains("Join"),
      s"public entry must serve the materialized checkpoint:\n$pub")
  }

  test("mix_reweight_apply: the learned budget frame broadcasts into the admission") {
    // the ≤#sources budget frame must broadcast onto the prefix-sum
    // output — a shuffled budget join would re-exchange the corpus
    val p = finalPlan(Curation.mixReweightApply(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"budget join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"admission fell into SMJ:\n$p")
  }

  test("classifier_report: the threshold grid fans out as a broadcast, scoring never falls into SMJ") {
    // the grid is 7 literal rows — it must reach the heldout slice as
    // a broadcast nested loop (no corpus-scaling exchange). The public
    // entry collects the ≤|grid| report into a local relation (zero
    // pins left behind), so the shape lives on the LAZY seam.
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val truth = Curation.gopherRules(docs)
      .select(col("doc_id"), col("passed").as("is_pos"))
    val split = Curation.splitAssign(docs, 0.05, 0.05, 11L)
      .select(col("doc_id"), col("split"))
    val (rep, scored) = Curation.classifierReportLazy(docs, truth, split,
      4096, Curation.ReportThresholds)
    try {
      val p = finalPlan(rep)
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"grid fan-out not a broadcast product:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"report chain fell into SMJ:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"grid fan-out planned as a partitioned cartesian:\n$p")
    } finally Tables.unpinCheckpoint(scored)
    // the public entry is a local relation — collected, nothing pinned
    val pub = finalPlan(Curation.classifierReport(spark, sf))
    assert(pub.contains("LocalTableScan") && !pub.contains("Join"),
      s"public report must be a collected local relation:\n$pub")
  }

  test("q5: dim chain broadcasts even in the 6-way star join") {
    val p = executedPlan(Relational.q5LocalSupplier(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast joins in star:\n$p")
  }

  test("semi join planned as broadcast or shuffled hash semi, not cartesian") {
    val p = executedPlan(Relational.qSemiJoin(spark, sf))
    assert(p.contains("LeftSemi"), s"semi join not preserved:\n$p")
    assert(!p.contains("Cartesian"), s"cartesian product:\n$p")
  }

  test("ngram jaccard: self-join reuses one exchange (subtree computed once)") {
    val p = executedPlan(Dedup.ngramJaccard(spark, sf))
    assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage"),
      s"self-join recomputes the index subtree:\n$p")
  }

  test("curate v2: all gates run under the scan, dedup agg is the only wide op") {
    val p = executedPlan(Curation.pipelineCurateV2(spark, sf))
    // exchanges: one for the dedup aggregation, one range exchange for
    // the final orderBy — any more means a gate leaked above a shuffle
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"expected <= 2 exchanges, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"curate v2 should not join:\n$p")
  }

  test("routed curation: code composite rides the scan — no join, dedup agg still the only wide op") {
    val p = executedPlan(Curation.pipelineCurateRouted(spark, sf))
    // the E41 columns must be scan-side projections (the
    // textCodeScoreCols seam), not a doc_id join back — same exchange
    // budget as v2: dedup agg + the presentation orderBy
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"expected <= 2 exchanges, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"routed curation should not join:\n$p")
  }

  test("production curate chain: five stages, still one scan — classifier gather and gates ride it, no join") {
    val p = executedPlan(Curation.pipelineCurateProd(spark, sf))
    // code score, normalize, classifier serve, and every gate are row
    // expressions: the only wide ops are the dedup agg + the
    // presentation orderBy, exactly like v2 — composition must not
    // have bought a shuffle
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"expected <= 2 exchanges, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"prod chain should not join:\n$p")
  }

  test("crawl curate chain: extraction evaluates ONCE behind the barrier — same exchange budget as prod, no join") {
    val p = executedPlan(Curation.pipelineCurateCrawl(spark, sf))
    // stage -1 (E42 extraction) is a stateless column expression, but
    // WITHOUT the evalOnce barrier predicate pushdown cloned its four
    // regexes into every gate conjunct (44 copies, 9.1 s for a 3 s
    // slot) — the pin: zero extraction regexes above the barrier, and
    // the same wide-op budget as prod (dedup agg + presentation sort)
    assert(!p.contains("<(script|style)"),
      s"extraction leaked above the evalOnce barrier:\n$p")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"expected <= 2 exchanges, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"crawl chain should not join:\n$p")
  }

  test("html extract: map-only — no exchange beyond the presentation sort, no join") {
    val p = executedPlan(TextAnalysis.htmlExtract(spark, sf))
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"expected <= 1 exchange, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"extraction should not join:\n$p")
  }

  test("fragment gaps: one exchange for the per-stream lag window plus the presentation sort") {
    val p = executedPlan(Multimodal.mmFragmentGaps(spark, sf))
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"expected <= 2 exchanges, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"fragment audit should not join:\n$p")
  }

  test("incident context: bucketed range join is an equi-join, never cartesian") {
    val p = executedPlan(Monitoring.incidentContext(spark, sf))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"range join degenerated to a cross product:\n$p")
  }

  test("minhash LSH: banded self-join reuses one exchange") {
    val p = executedPlan(Dedup.dedupMinhashLsh(spark, sf))
    assert(p.contains("ReusedExchange"),
      s"banded self-join recomputes the signature subtree:\n$p")
  }

  test("indexed LSH sweep: postings exchange reused, corpus read from the staged index") {
    val p = executedPlan(Dedup.dedupMinhashIndexed(spark, sf))
    // the banded (index ∪ fresh) self-join must share one exchange like
    // the in-memory sweep does
    assert(p.contains("ReusedExchange"),
      s"indexed banded self-join recomputes its subtree:\n$p")
    // the corpus side must come from the staged parquet index — the
    // whole point is never re-tokenizing the unchanged corpus
    assert(p.contains("graft-lsh-index"),
      s"indexed sweep does not scan the staged index:\n$p")
  }

  test("decontaminate: benchmark gram set broadcasts, training side never shuffles grams") {
    val p = executedPlan(Curation.decontamQuery(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"contamination check is not a broadcast semi-join:\n$p")
  }

  test("pack sequences: two-pass prefix sum avoids the single-partition global window") {
    val p = executedPlan(Curation.packSequencesQuery(spark, sf))
    // the naive global cumsum plans Exchange SinglePartition under the
    // Window — the one-task bottleneck the bucketed design exists to kill
    assert(!p.contains("SinglePartition"),
      s"global window collapsed the corpus into one task:\n$p")
    assert(p.contains("Window"), s"expected per-bucket window cumsum:\n$p")
  }

  test("substring dedup: occurrence count rides the one gram exchange") {
    val p = executedPlan(Dedup.dedupSubstring(spark, sf))
    // the count-per-gram window must run on the repartition(g)
    // exchange's own partitioning (a sort, not a second shuffle of the
    // gram rows) — so the whole plan holds exactly two exchanges over
    // gram rows: by g (count+flag) and by doc (island merge), plus the
    // final orderBy's range exchange
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 3, s"expected <=3 exchanges (g, doc, sort), got $exchanges:\n$p")
    assert(p.contains("Window"), s"expected windowed occurrence count:\n$p")
    assert(!p.contains("SinglePartition"),
      s"substring dedup collapsed onto one task:\n$p")
  }

  test("tombstoned IVF probe: deletion anti-join broadcasts, cell pruning survives it") {
    // The deletion path's two load-bearing plan properties: the
    // tombstone subtraction must be a broadcast hash anti-join (a
    // map-side filter — the staged corpus must NOT shuffle to honor a
    // takedown), and the probed-cell isin filter must still push past
    // the anti-join to the scan as a partition filter (left-side
    // predicate) — otherwise every probe of a deletion-bearing index
    // reads all cells.
    val idxDir = java.nio.file.Files.createTempDirectory("graft-ivf-plan").toString
    Similarity.writeIvfIndex(spark, sf, idxDir)
    import spark.implicits._
    Similarity.deleteFromIvfIndex(Seq(987654321L).toDF("vec_id"), "vec_id",
      idxDir, "t1")
    val probe = Similarity.annIvfIndexed(spark, idxDir)
    val p = executedPlan(probe)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"tombstone subtraction is not a broadcast anti-join:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("cell")),
      s"cell partition pruning lost behind the tombstone anti-join:\n$p")
  }

  test("ann brute force: query side broadcast, corpus side map-only until top-k") {
    val p = executedPlan(Similarity.annBruteTopK(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set not broadcast:\n$p")
  }

  test("monitoring windows: tumbling agg is partial + single exchange") {
    val p = plan(Monitoring.windowSum(spark, sf))
    assert(p.contains("partial_"), s"no partial agg:\n$p")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"too many exchanges ($exchanges):\n$p") // agg + sort
  }

  test("events scan prunes to needed columns for window sum") {
    val p = plan(Monitoring.windowSum(spark, sf))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("props") && !read.contains("event_id"),
      s"events scan reads pruned columns: $read")
  }

  test("asof join: one shuffle per side + window, no range explosion") {
    val p = plan(Monitoring.asofLastSuccess(spark, sf))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"asof join fell back to product:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"missing window carry-forward:\n$p")
  }

  test("generic asof join: tag-union plan, no range explosion") {
    val p = plan(Joins.asofJoinQuery(spark, sf))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"generic asof fell back to product:\n$p")
    assert(p.contains("Union"), s"missing tag-union:\n$p")
  }

  test("range join plans as an equi-join on (key, bucket), never a product") {
    val p = plan(Joins.rangeJoinQuery(spark, sf))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"range join fell back to product:\n$p")
    // the containment predicate must ride the hash join as its
    // non-equi condition, not a post-join Filter of a wider product
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no hash/merge equi-join in range join plan:\n$p")
  }

  test("domain cap runs through the TopKPerKey physical operator") {
    val p = executedPlan(graft.operators.Curation.domainCapQuery(spark, sf))
    assert(p.contains("TopKPerKey"), s"domain cap lost the custom operator:\n$p")
  }

  test("whole-stage codegen covers the q1 agg pipeline") {
    val p = executedPlan(Relational.q1PricingSummary(spark, sf))
    // executed-plan toString marks WholeStageCodegen stages as "*(n)"
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"),
      s"no codegen spans:\n$p")
  }

  test("row-local term frequencies: the TokenCounts stage has ZERO exchanges") {
    // the round-7 tfidf/lm reshape: per-doc term counts are computed by
    // the kernel on the row itself — the frame that replaced the
    // groupBy(doc_id, term) exchange must plan as scan → project →
    // generate with no Exchange anywhere
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val tf = Tables.documents(spark, sf)
      .withColumn("toks", TextAnalysis.tokens())
      .select($"doc_id",
        explode(graft.functions.TextFunctions.tokenCounts($"toks"))
          .as(Seq("term", "tf")))
    val p = plan(tf)
    assert(!p.contains("Exchange"), s"tf stage shuffles:\n$p")
    assert(p.contains("token_counts"), s"kernel missing from plan:\n$p")
  }

  test("correlated non-equi EXISTS plans as a left-semi hash join, never a product") {
    val p = plan(Relational.qExistsCorr(spark, sf))
    assert(p.contains("LeftSemi"), s"no semi join:\n$p")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"exists fell back to product:\n$p")
  }

  test("range-frame window and scene cuts: partitioned windows, no SinglePartition") {
    val p1 = plan(Relational.qWindowRange(spark, sf))
    assert(!p1.contains("SinglePartition"), s"global window in range frame:\n$p1")
    val p2 = plan(Multimodal.mmSceneCuts(spark, sf))
    assert(!p2.contains("SinglePartition"), s"global window in scene cuts:\n$p2")
  }

  test("gap fill: one corpus pass — the pinned hourly frame feeds all four consumers") {
    val p = plan(Monitoring.gapFill(spark, sf))
    // the hourly agg is pinned (localCheckpoint): the now-agg, lag
    // window, and both union branches must read the pinned blocks, not
    // re-scan the corpus (8 parquet scans before the pin)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 0, s"gap fill re-scans events ($scans scans):\n$p")
    assert(p.contains("BroadcastExchange"), s"now-frame not broadcast:\n$p")
    // at most ONE SinglePartition: the 1-row now-agg over the PINNED
    // hourly frame (a scalar aggregate — unavoidable, input-bounded);
    // a second would mean the lag window went global
    // formatted explain prints each node twice (tree + details), so
    // the one scalar exchange accounts for 2 occurrences
    val singles = "SinglePartition".r.findAllIn(p).length
    assert(singles <= 2, s"window went global ($singles SinglePartition):\n$p")
    assert(p.contains("Window"), s"lag window missing:\n$p")
  }

  test("split leak audit: eval grams broadcast, train grams never shuffle pre-agg") {
    val p = plan(Curation.splitLeakAudit(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"gram probe not broadcast:\n$p")
    // the only wide op over the train side is the per-doc count agg
    assert(!p.contains("SortMergeJoin"), s"train grams shuffled for the probe:\n$p")
  }

  test("shots and audio silence: one partitioned window each, no SinglePartition") {
    val p1 = plan(Multimodal.mmShots(spark, sf))
    assert(!p1.contains("SinglePartition"), s"global window in shots:\n$p1")
    val p2 = plan(Multimodal.mmAudioSilence(spark, sf))
    assert(!p2.contains("SinglePartition"), s"global window in audio silence:\n$p2")
  }

  test("split assign: zero exchanges — the split lands in the scan projection") {
    val p = plan(Curation.splitAssign(Tables.documents(spark, sf)))
    // the only exchange allowed is the final presentation sort (range
    // partitioning); a hash exchange would mean the assignment itself
    // moved data
    assert(!p.toLowerCase.contains("hashpartitioning"),
      s"split assignment shuffles data:\n$p")
    assert(p.toLowerCase.contains("rangepartitioning"),
      "expected only the presentation sort")
  }

  test("oversample: corpus streams map-only — one tiny counts exchange, no corpus shuffle") {
    val p = plan(Curation.oversampleRare(Tables.documents(spark, sf)))
    // the corpus parquet is scanned ONCE (counts are pinned — unpinned,
    // the n_max branch and the factor join would each rescan it); the
    // factor join back broadcasts; the explode stays map-side with no
    // hash or range exchange over the replicated corpus
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"corpus scanned $scans times:\n$p")
    assert("hashpartitioning\\(".r.findAllIn(p).isEmpty,
      s"corpus-side hash exchange crept in:\n$p")
    assert(p.contains("BroadcastExchange"), s"factors not broadcast:\n$p")
    assert(!p.toLowerCase.contains("rangepartitioning"),
      s"kernel must not sort the replicated corpus:\n$p")
  }

  test("capacity forecast: one partial-aggregate exchange, no window, no sort") {
    val p = plan(Monitoring.capacityForecast(spark, sf))
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashEx == 1, s"moment collection must be one exchange:\n$p")
    assert(p.contains("partial_"), s"no map-side partial moments:\n$p")
    assert(!p.contains("Window"), s"a window crept into the moments:\n$p")
  }

  test("late orders: year filter pushed into the orders scan before the semi join") {
    val p = plan(Relational.qLateOrders(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"order-date window not pushed:\n$p")
    assert(p.contains("LeftSemi"), s"EXISTS not planned as semi join:\n$p")
    val read = p.linesIterator.filter(_.contains("ReadSchema"))
      .find(_.contains("l_orderkey")).get
    assert(!read.contains("l_quantity") && !read.contains("l_extendedprice"),
      s"lineitem scan wider than (orderkey, shipdate): $read")
  }

  test("min cost supplier: one fact scan, min-struct aggregate — no window, dims broadcast") {
    val p = finalPlan(Relational.qMinCostSupplier(spark, sf))
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scans == 1, s"lineitem scanned $scans times:\n$p")
    assert(!p.contains("Window"), s"per-part argmin leaked into a window:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier/nation not broadcast:\n$p")
  }

  test("product profit: every dimension broadcasts — the fact shuffles once, to the rollup") {
    val p = finalPlan(Relational.qProductProfit(spark, sf))
    assert(!p.contains("SortMergeJoin"),
      s"a dimension join shuffled the fact:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scans == 1, s"lineitem scanned $scans times:\n$p")
  }

  test("supplier counts: the bad-supplier exclusion never shuffles the fact") {
    // at sf0.001 the negative-balance set is EMPTY and AQE's
    // empty-relation propagation erases the anti join outright — also
    // a correct scale plan; what must never appear is a sort-merge
    // anti join (the fact shuffled just to subtract a tiny set)
    val p = finalPlan(Relational.qSupplierCounts(spark, sf))
    val antiLines = p.linesIterator.filter(_.contains("LeftAnti")).toSeq
    assert(antiLines.forall(_.contains("Broadcast")),
      s"anti join shuffled the fact:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part join not broadcast:\n$p")
  }

  test("small qty revenue: one fact scan — the per-part average is a window, not a join-back") {
    val p = finalPlan(Relational.qSmallQtyRevenue(spark, sf))
    // the aggregate-join-back formulation scans the full fact TWICE
    // (the brand predicate reaches lineitem only through the join and
    // can never push into the fact scan) — the window formulation is
    // the single-scan plan
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scans == 1,
      s"lineitem scanned $scans times — join-back crept in:\n$p")
    // exactly ONE SinglePartition: the unavoidable 1-row scalar agg —
    // a second would mean the per-part window went global
    val singles = p.linesIterator.count(_.contains("SinglePartition"))
    assert(singles <= 1, s"window went global ($singles):\n$p")
    assert(p.contains("Window"), s"per-part window missing:\n$p")
  }

  test("disjunctive revenue: the OR's quantity hull pushes into the fact scan") {
    val p = plan(Relational.qDisjunctiveRevenue(spark, sf))
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      p.contains("LessThanOrEqual(l_quantity,30.0)"),
      s"quantity hull not in PushedFilters:\n$p")
  }

  test("blocking supplier: fact shuffles once, windows partitioned, no self-join") {
    val p = finalPlan(Relational.qBlockingSupplier(spark, sf))
    assert(!p.contains("SinglePartition"), s"global window crept in:\n$p")
    assert(!p.contains("Cartesian"), s"cartesian product:\n$p")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scans <= 1, s"lineitem scanned $scans times (self-join?):\n$p")
  }

  test("hybrid search: query terms broadcast into the postings probe") {
    val p = plan(Similarity.annHybrid(spark, sf))
    // the probe side (queries × termCap) must broadcast; the postings
    // side streams. (The full-outer FUSION join of the two pool-sized
    // rank lists legitimately sort-merges — full outer cannot build a
    // broadcast side — so the no-SMJ claim applies to the probe, which
    // this asserts positively via the broadcast count.)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"expected query-term + vector-query broadcast joins:\n$p")
  }

  test("forecast revenue: all three filters pushed, four-column scan, no wide op but one 1-row agg") {
    val p = plan(Relational.qForecastRevenue(spark, sf))
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      p.contains("LessThanOrEqual(l_discount,0.07)") &&
      p.contains("LessThan(l_quantity,24.0)") &&
      p.contains("GreaterThanOrEqual(l_shipdate,"),
      s"filters not in PushedFilters:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_orderkey") && !read.contains("l_returnflag"),
      s"scan reads pruned columns: $read")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
      s"unexpected wide operator:\n$p")
  }

  test("ngram diversity: row-local ratios — zero exchanges before the presentation sort") {
    val p = plan(TextAnalysis.textNgramDiversity(spark, sf))
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, // the orderBy range exchange only
      s"ngram diversity must be map-only ($exchanges exchanges):\n$p")
  }

  test("repetition rules: one gram-count exchange + one doc rollup, no corpus self-join") {
    val p = plan(Curation.repetitionRulesQuery(spark, sf))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"pair blowup in repetition rules:\n$p")
    assert(p.contains("partial_"), s"no map-side partials:\n$p")
  }

  test("loudness norm: the media window's exchange is reused by the rollup") {
    val p = finalPlan(Multimodal.mmLoudnessNorm(spark, sf))
    assert(!p.contains("SinglePartition"), s"global window crept in:\n$p")
    // window partitioning feeds the aggregate: exactly one hash
    // exchange on media_id + the presentation range exchange
    val hashEx = p.linesIterator.count(l =>
      l.trim.startsWith("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"rollup re-shuffled after the window ($hashEx):\n$p")
  }

  test("curriculum order: global rank without a single-partition window") {
    val p = finalPlan(Curation.curriculumOrderQuery(spark, sf))
    assert(!p.contains("Window") || !p.contains("SinglePartition"),
      s"curriculum rank fell back to a global window:\n$p")
  }

  test("mix temperature apply: learned budgets broadcast into the prefix-sum admission") {
    // the C62b property on the C66 rule: the ≤#sources budget frame
    // must broadcast — a shuffled budget join would price admission
    // at corpus scale
    val p = executedPlan(Curation.mixTemperatureApply(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"budget frame not broadcast into admission:\n$p")
  }

  test("cluster sample: quota runs through TopKPerKey, centroids broadcast, no window") {
    val p = executedPlan(Curation.clusterSample(spark, sf, quota = 4))
    // bounded heaps, not a per-cluster window — a dense cluster must
    // never funnel through one window partition
    assert(p.contains("TopKPerKey"),
      s"cluster quota lost the bounded-heap operator:\n$p")
    assert(!p.contains("Window"), s"a window crept into the quota:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"centroid frame not broadcast:\n$p")
  }

  test("projected IVF serve: cell partition pruning reaches the projected index scan") {
    val p = executedPlan(Similarity.annProjectedIvf(spark, sf))
    // the entire point of staging the projection: probes read ONLY
    // their cells' directories of m-dim rows
    assert(p.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("cell")),
      s"projected index scan reads all cells:\n$p")
    assert(p.contains("graft-proj-ivf"),
      s"candidates not served from the staged projected index:\n$p")
  }

  test("data card: the C50 frame joins doc-keyed, aggregates land on source keys") {
    val p = executedPlan(Curation.dataCard(spark, sf))
    // no all-pairs anything: the only join is doc-keyed (plus the
    // bounded top-lang join) — a cartesian would mean the card
    // re-derived a member signal against itself
    assert(!p.contains("CartesianProduct"),
      s"cartesian in the data card:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("series search: the query series broadcasts, top-k is TakeOrdered") {
    val p = executedPlan(Monitoring.seriesSearch(spark, sf))
    // the retrieval shape's two load-bearing properties: the tiny
    // query series must broadcast into every candidate's partition,
    // and the k-cut must be bounded heaps, not a global sort
    assert(p.contains("BroadcastHashJoin"),
      s"query series not broadcast: \n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k lost TakeOrdered: \n$p")
  }

  test("mix anneal: both temperature frames stay on bounded windows, the grid broadcasts") {
    val p = executedPlan(Curation.mixAnneal(spark, sf))
    // the schedule is arithmetic over two ≤#sources frames — nothing
    // corpus-sized may survive past the token-count aggregations
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"epoch grid not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in schedule:\n$p")
  }

  test("embed outliers: one cell-partitioned window, vectors never ride the exchange") {
    val p = finalPlan(Similarity.embedOutliers(spark, sf))
    assert(!p.contains("SinglePartition"), s"global window crept in:\n$p")
    // the window exchange must carry (id, cell, dist) — the embedding
    // column is projected away before the shuffle
    val exLines = executedPlan(Similarity.embedOutliers(spark, sf))
      .linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exLines.nonEmpty, "expected the cell-mean window exchange")
  }
}
