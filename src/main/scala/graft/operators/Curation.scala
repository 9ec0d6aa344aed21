package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{StampedCache, Tables}

/** Training-data curation pipeline: the composition the C/E suites
  * exist for. Stages (each independently testable, chained lazily so
  * Catalyst optimizes across stage boundaries):
  *
  *   1. quality gate   — length + stopword/uniq/punct ratio thresholds
  *   2. language gate  — keep an allow-listed language set
  *   3. exact dedup    — one survivor per sha256(text), lowest doc_id
  *   4. near dedup     — drop the higher-id member of every MinHash-LSH
  *                       near-duplicate pair (optional, rows-only)
  *
  * The whole pipeline is one declarative plan: the scan reads only the
  * needed columns, the quality/language predicates run before any
  * shuffle, and the only exchanges are the dedup groupBy and the LSH
  * band join — exactly what you want for a 100 TB corpus sweep.
  */
object Curation {

  /** Stages 1–3 (SQL-expressible; `curate` adds stage 4). */
  def curateExact(docs: DataFrame, minTokens: Int = 10,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame = {
    val toks = TextAnalysis.tokens("text")
    // lang prunes the scan BELOW the barrier; the tokenizer prices
    // once behind it (the qualityGateSignals rule — pushdown cloned
    // this projection into every gate conjunct, 6 copies in the plan)
    // fan out the (possibly single-row-group) scan below the tokenizer
    // so the per-row kernel uses every core — no-op when the file
    // layout already splits (Scale.fanOutScan's contract)
    val sig = Scale.fanOutScanLight(docs.filter(col("lang").isin(langs: _*)))
      .withColumn("n_tokens", size(toks).cast("long"))
      // nullif: a token-free doc must fail the ratio gate as NULL, not
      // crash the scan with an ANSI divide-by-zero — today the
      // n_tokens gate short-circuits first, but that is evaluation
      // ORDER, not a guarantee (minTokens = 0, or a predicate reorder,
      // exposes the division)
      .withColumn("uniq_ratio",
        size(array_distinct(toks)).cast("double") / nullif(size(toks), lit(0)))
    val gated = (if (docs.isStreaming) Scale.evalOnceStream(sig)
                 else Scale.evalOnce(sig))
      .filter(col("n_tokens") >= minTokens)
      .filter(col("uniq_ratio") >= 0.3)
    // exact dedup: arg-min doc per hash — map-side partial agg
    gated
      .withColumn("h", sha2(col("text"), 256))
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("source"), col("n_tokens"))).as("keep"))
      .select(col("keep.doc_id").as("doc_id"), col("keep.source").as("source"),
        col("keep.n_tokens").as("n_tokens"))
  }

  /** Full pipeline (stages 1–4) over any documents frame — testable on
    * planted corpora at the production threshold. Stage 4 resolves the
    * near-dup pair graph into CONNECTED COMPONENTS
    * ([[Scale.connectedComponents]]) and keeps one survivor (the min
    * doc_id) per cluster: pairwise id2-deletion under-deletes on
    * transitive clusters (pairs (B,C),(A,C) would leave both A and B
    * of the {A,B,C} cluster alive).
    *
    * `checkpointDir`: pass a reliable (HDFS/S3) dir on shared clusters
    * so the iterative resolution survives executor loss — see
    * [[Scale.connectedComponents]]'s durability note. */
  def curateFull(docs: DataFrame, nearDupThreshold: Double = 0.8,
      checkpointDir: Option[String] = None): DataFrame = {
    // `kept` is PINNED (eager localCheckpoint), not just repartitioned:
    // its three consumers (the semi-join feeding the LSH sweep, the
    // anti-join, the output projection) execute in SEPARATE jobs — the
    // connected-components resolution materializes the pair graph
    // eagerly, then the final action runs the anti-join — and
    // ReusedExchange only dedupes within ONE execution, so the r15
    // repartition boundary still re-ran the quality gates + tokenizer +
    // sha256 dedup once per job (measured r17: the gate+dedup subtree
    // executed twice per invocation, ~0.3 s of the slot). The pin runs
    // it exactly once; pinned rows are three narrow scalars per kept
    // doc (no text). At 100 TB that is survivor-id-sized executor
    // storage — the same class as the CC edge pin riding beside it;
    // pass `checkpointDir` for a reliable variant of THAT pin, and
    // release via Tables.unpinCheckpoint when the caller is done.
    val kept = curateExact(docs).localCheckpoint(true)
    val keptDocs = docs.join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val pairs = Dedup
      .minhashPairs(keptDocs, "doc_id", "text", threshold = nearDupThreshold)
    val nearDupVictims = Scale
      .connectedComponents(pairs.select(col("id1"), col("id2")),
        checkpointDir = checkpointDir)
      .filter(col("id") =!= col("comp")) // everyone but the cluster min
      .select(col("id").as("doc_id"))
    kept.join(nearDupVictims, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Full pipeline including MinHash-LSH near-dedup. */
  def curate(spark: SparkSession, sfDir: String): DataFrame =
    curateFull(Tables.documents(spark, sfDir))

  // ------------------------------------------------------------- C58
  /** RECALL-GATED curation — C6b's full chain behind C54's measured
    * number, the F16 discipline applied to dedup: a curated corpus
    * whose near-dedup stage silently under-deletes is WORSE than a
    * failed run (the dupes ship into training), so the chain REFUSES
    * to emit when the measured MinHash-LSH recall against the exact
    * Jaccard ground truth falls below `minRecall` — mis-tuned banding
    * becomes a loud gate failure naming the number, not a quiet
    * quality regression discovered at eval time. The report is C54's
    * cached audit artifact (per corpus version — the gate adds no
    * per-run cost beyond the first); zero baseline pairs reads as
    * vacuously healthy (nothing to recall). At corpus scale, where
    * C54's exact baseline refuses by its pair ceiling, gate on a
    * deterministic audit SAMPLE of the corpus — the report seam
    * ([[curateGatedOf]]) takes any report frame, so the sampling
    * policy is the caller's knob, not a second code path. */
  def curateGated(spark: SparkSession, sfDir: String,
      minRecall: Double = 0.8, recallThreshold: Double = 0.5): DataFrame =
    curateGatedOf(Tables.documents(spark, sfDir),
      gateAuditReport(spark, sfDir, recallThreshold), minRecall)

  /** The gate's audit report at ANY corpus size (the r14 finding: the
    * composed chain still fed C54's full exact baseline, whose pair
    * ceiling REFUSES past audit scale — so the refusal the sampled
    * audit was built to remove was still reachable from the driver
    * entry). Below the ceiling the gate consumes the FULL report (the
    * cache is shared with the standalone audit slot — no extra cost);
    * past it, the audit frac is derived so the expected sample lands at
    * ~90% of the affordable pair budget (the 10% margin absorbs the
    * binomial overshoot the sampled guard prices on the ACTUAL count)
    * and the gate consumes the C54b sampled report — recall stays an
    * unbiased in-sample catch-rate estimate, and the chain never
    * refuses on corpus size. */
  private[graft] def gateAuditReport(spark: SparkSession, sfDir: String,
      recallThreshold: Double): DataFrame = {
    val n = Tables.cachedCount(spark, s"$sfDir/documents.parquet")
    if (n == 0 || n <= Similarity.BruteForceMaxPairs / n)
      Dedup.dedupRecallReport(spark, sfDir, recallThreshold)
    else {
      val frac =
        0.9 * math.sqrt(Similarity.BruteForceMaxPairs.toDouble) / n
      Dedup.dedupRecallReportSampled(spark, sfDir, frac = frac,
        threshold = recallThreshold)
    }
  }

  /** C58 over arbitrary docs + any C54-shaped report frame — the spec
    * entry (a synthetic bad report pins the fail-path without having
    * to defeat the banding deterministically). `simhashMinRecall`
    * extends the gate to C54's SimHash row for pipelines whose
    * configured near-dup stage is SimHash — the report always
    * MEASURED both methods, but until r12 only MinHash could refuse,
    * so a mistuned Hamming sweep shipped dupes the gate existed to
    * stop. None (the default) leaves SimHash report-only, matching
    * the chain's MinHash-LSH near-dup stage. */
  def curateGatedOf(docs: DataFrame, recallReport: DataFrame,
      minRecall: Double = 0.8,
      simhashMinRecall: Option[Double] = None): DataFrame = {
    require(minRecall >= 0 && minRecall <= 1,
      s"minRecall $minRecall out of [0, 1]")
    simhashMinRecall.foreach(r => require(r >= 0 && r <= 1,
      s"simhashMinRecall $r out of [0, 1]"))
    // a report without the expected method row must fail AS the gate,
    // naming the missing row — not as an opaque head() NoSuchElement.
    // A NULL recall passes VACUOUSLY (deliberate): C54 emits NULL only
    // when the corpus has zero exact-Jaccard ground-truth pairs, i.e.
    // there is nothing the near-dedup stage could under-delete — a
    // fail-closed gate there would block every duplicate-free corpus
    // on principle. A measured-but-low recall still refuses below.
    def gateOn(method: String, floor: Double): Unit = {
      val row = recallReport.filter(col("method") === method)
        .select(col("recall")).take(1)
      require(row.nonEmpty,
        s"dedup recall gate: report has no '$method' row — wrong " +
          "method name or empty report; the gate cannot certify what " +
          "was never measured")
      require(row.head.isNullAt(0) || row.head.getDouble(0) >= floor,
        f"dedup recall gate: $method recall ${if (row.head.isNullAt(0)) 0.0
          else row.head.getDouble(0)}%.6f < $floor vs exact Jaccard " +
          "ground truth — the near-dedup stage would silently " +
          "under-delete; retune before curating")
    }
    gateOn("minhash_lsh", minRecall)
    simhashMinRecall.foreach(gateOn("simhash", _))
    curateFull(docs)
  }

  /** The shared stateless gate chain of [[curateV2]] and
    * [[curateStream]] — ONE definition so the batch pipeline and its
    * streaming twin cannot drift. Bigrams via zip_with over two slices,
    * NOT element_at(toks, i) inside the lambda: predicate pushdown
    * inlines these projections into the gate filters, and an inlined
    * `toks` inside a lambda body re-runs the regex tokenizer PER
    * ELEMENT (O(tokens²) regex work per document — observed 15 s vs
    * 0.4 s at sf0.1). With zip_with, the tokenizer runs once per row
    * per site even after inlining. */
  private def qualityGates(docs: DataFrame, minTokens: Int,
      maxDupBigram: Double, langs: Seq[String]): DataFrame =
    // lang is a RAW column here — filtering BEFORE the signal stage
    // keeps the predicate below the evalOnce barrier, where it can
    // still prune the parquet scan (filters commute; the signal gates
    // see exactly the same rows)
    qualityGatesNoLang(docs.filter(col("lang").isin(langs: _*)),
      minTokens, maxDupBigram)

  /** The language-free half of the gate chain — the seam the C8d
    * divergence report reads (it must see BOTH language verdicts on
    * quality-passing docs, so the lang filter cannot have fired yet).
    * [[qualityGates]] is this plus the lang filter — one definition. */
  private def qualityGatesNoLang(docs: DataFrame, minTokens: Int,
      maxDupBigram: Double): DataFrame =
    qualityGateSignals(docs)
      .filter(col("n_tokens") >= minTokens)
      .filter(col("uniq_ratio") >= 0.3)
      .filter(col("dup_bigram_ratio") <= maxDupBigram)

  /** The gate SIGNAL columns without any filter — the seam the C8e
    * routed chain reads (its repetition gates are conditional on the
    * route, so the predicates cannot have fired yet). One definition
    * of every signal; the filters above and C8e's routed predicate
    * both read these columns.
    *
    * The batch path sits behind [[Scale.evalOnce]] (the r15 crawl
    * lesson generalized): predicate pushdown inlined the tokenization
    * into every gate conjunct and the carry projections — the v2
    * executed plan held 24 copies of `regexp_extract_all`, the prod
    * plan 38 plus 33 of the normalizer and 12 of the classifier's
    * bigram gather, each re-run per row per copy. Behind the barrier
    * every upstream expression — tokenize, normalize, code composite,
    * classifier gather — prices ONCE per row, and the gates consume
    * plain scalars. The intermediate toks/bg arrays are dropped
    * before the boundary so the row that crosses it carries only
    * scalars + the original columns. Raw-column predicates that CAN
    * prune the scan (the v2 lang gate) are applied by callers BELOW
    * this seam. Streaming callers get the OBJECT barrier
    * ([[Scale.evalOnceStream]]) — r16 measured the plain projection's
    * micro-batch executed plans at 20 (curateStream) and 22
    * (curateRoutedStream) copies of the tokenizer, the r15 batch
    * pathology verbatim; the duplication gate (DupGateSpec) pins both
    * paths at ≤ 2 copies now. */
  private def qualityGateSignals(docs: DataFrame): DataFrame = {
    // scan fan-out below the tokenizer (no-op for streaming frames,
    // already-split layouts, and chains that repartitioned below)
    val sig = Scale.fanOutScanLight(docs)
      .withColumn("toks", TextAnalysis.tokens("text"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      // nullif: see curateExact — NULL fails the gate, a raw division
      // would ANSI-crash the scan on a token-free doc
      .withColumn("uniq_ratio",
        size(array_distinct(col("toks"))).cast("double") / nullif(size(col("toks")), lit(0)))
      .withColumn("bg", expr(
        """IF(size(toks) < 2, array(),
          |   zip_with(slice(toks, 1, size(toks) - 1),
          |            slice(toks, 2, size(toks) - 1),
          |            (a, b) -> concat(a, ' ', b)))""".stripMargin))
      .withColumn("dup_bigram_ratio",
        when(size(col("bg")) === 0, lit(0.0)).otherwise(
          lit(1.0) - size(array_distinct(col("bg"))).cast("double") / size(col("bg"))))
      .drop("toks", "bg")
    if (docs.isStreaming) Scale.evalOnceStream(sig) else Scale.evalOnce(sig)
  }

  /** V2 pipeline (stages 1–3 plus the round-3 gates): quality +
    * language + REPETITION gate (duplicate-bigram fraction, the Gopher
    * rule — loops and boilerplate spam fail it) before the exact dedup,
    * then PII SCRUB on the surviving text (redaction is the last
    * stage, so dedup hashes see the original bytes and scrub cost is
    * paid only for kept docs). Still one declarative plan: the lang
    * gate prunes the scan, the signal gates are per-row predicates
    * over the once-priced signal columns (see [[qualityGateSignals]]'s
    * barrier note — r15 measured the pushed-down formulation
    * re-tokenizing per conjunct, 24 plan copies), and the dedup
    * groupBy is the only exchange. */
  def curateV2(docs: DataFrame, minTokens: Int = 10,
      maxDupBigram: Double = 0.1,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame =
    dedupScrubTail(qualityGates(docs, minTokens, maxDupBigram, langs),
      Nil)

  /** The shared stage-3/4 tail of [[curateV2]] and [[curateRoutedOf]]:
    * keep-first exact dedup (arg-min struct — doc_id leads, so extra
    * columns ride WITHOUT changing the survivor choice) then inline
    * PII scrub on survivors — a map pass, not a re-join. ONE
    * definition so the routed chain cannot drift from v2 on dedup or
    * redaction semantics. */
  private def dedupScrubTail(gated: DataFrame,
      extra: Seq[String]): DataFrame = {
    val carried = Seq("doc_id", "source", "n_tokens", "text") ++ extra
    val kept = gated
      .withColumn("h", sha2(col("text"), 256))
      .groupBy(col("h"))
      .agg(min(struct(carried.map(col): _*)).as("keep"))
      .select(carried.map(c => col(s"keep.$c").as(c)): _*)
    kept.select((Seq(col("doc_id"), col("source"), col("n_tokens")) ++
        extra.map(col) ++ Seq(
          TextAnalysis.piiCount(col("text")).as("n_pii"),
          TextAnalysis.scrubPii(col("text")).as("clean_text"))): _*)
      .orderBy(col("doc_id"))
  }

  def pipelineCurateV2(spark: SparkSession, sfDir: String): DataFrame =
    curateV2(Tables.documents(spark, sfDir))

  // ------------------------------------------------------------- C8b
  /** C8 with E38 as stage ZERO — normalization wired into product,
    * not just audited beside it (E38b measures what raw hashing
    * misses; THIS makes the curate chain collapse those twins): the
    * same gates and keep-first exact dedup run over the NORMALIZED
    * text, so case/whitespace/composition variants of one document
    * survive as ONE doc instead of two. One extra codegen'd map
    * stage, zero new exchanges. Oracle: the normalize chain shadows
    * the `documents` CTE (SELECT * REPLACE) and the v2 SQL splices
    * UNCHANGED below it — one definition of the chain, one of the
    * normalizer, composed. */
  def pipelineCurateNorm(spark: SparkSession, sfDir: String): DataFrame =
    curateV2(Tables.documents(spark, sfDir)
      .withColumn("text",
        graft.functions.TextFunctions.normalizeText(col("text"))))

  def pipelineCurateNormSql: String =
    // retarget the chain at the normalized shadow (a CTE cannot
    // shadow its own base table in DuckDB — circular reference);
    // both splices fail loudly on v2 drift (see spliceSql)
    spliceSql(
      spliceSql(pipelineCurateV2Sql, "FROM documents", "FROM docs_n",
        "v2 base-table scan"),
      "WITH x AS",
      """WITH docs_n AS (
        |  SELECT * REPLACE (trim(regexp_replace(lower(nfc_normalize(text)),
        |    '[ \t\n\r\f]+', ' ', 'g')) AS text)
        |  FROM documents),
        |x AS""".stripMargin,
      "v2 WITH header")

  val pipelineCurateV2Sql: String = {
    import TextAnalysis.{EmailRe, IpRe, PhoneRe}
    s"""WITH x AS (
       |  SELECT doc_id, source, text,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents
       |  WHERE list_contains(['en', 'de', 'es', 'fr', 'zh'], lang)),
       |g AS (
       |  SELECT doc_id, source, text, len(toks) AS n_tokens,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
       |    CASE WHEN len(toks) < 2 THEN []
       |         ELSE list_transform(generate_series(1, len(toks) - 1),
       |                i -> toks[i] || ' ' || toks[i + 1]) END AS bg
       |  FROM x),
       |f AS (
       |  SELECT doc_id, source, text, n_tokens
       |  FROM g
       |  WHERE n_tokens >= 10 AND uniq_ratio >= 0.3
       |    AND (CASE WHEN len(bg) = 0 THEN 0.0
       |              ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
       |         END) <= 0.1),
       |ranked AS (
       |  SELECT doc_id, source, text, n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
       |  FROM f)
       |SELECT doc_id, source, n_tokens,
       |  len(regexp_extract_all(text, '$EmailRe'))
       |    + len(regexp_extract_all(text, '$PhoneRe'))
       |    + len(regexp_extract_all(text, '$IpRe')) AS n_pii,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$EmailRe', '[EMAIL]', 'g'),
       |    '$PhoneRe', '[PHONE]', 'g'),
       |    '$IpRe', '[IP]', 'g') AS clean_text
       |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- C8c
  /** C8 GATED ON PREDICTED LANGUAGE — the C8b wiring move applied to
    * E35 (the r13 verdict's #1 missing item): a real crawl carries no
    * `lang` label, so a chain that gates on the ground-truth column is
    * a demo, not a pipeline. This variant serves the STAGED E35 model
    * (E35c's artifact — one staging policy for serve entry and chain)
    * inline on the scan and runs the SAME curateV2 gates over the
    * prediction, heuristic fallback for evidence-free docs (E35's
    * rule). Divergence is SURFACED, not hidden: each survivor carries
    * `lang_pred`, `used_fallback`, and `gate_divergent` — whether the
    * predicted gate decision differs from what the labeled gate would
    * have done — so an auditor can count exactly where the classifier
    * changed admission. Scale: the serve is a stateless codegen'd
    * gather (|langs| dense dot products riding the scan — no join, no
    * shuffle); the annotation join is survivor-keyed (post-gate,
    * post-dedup — the small side). Two scans of `documents`, both
    * map-only into their exchanges, stated plainly. Rows-only: hashed
    * features + learned weights are engine-specific (E35's reason);
    * the spec pins gate PARITY with the labeled chain wherever the
    * classifier predicts the label correctly. */
  def pipelineCuratePredicted(spark: SparkSession, sfDir: String,
      minTokens: Int = 10, maxDupBigram: Double = 0.1,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame =
    curatePredictedOf(Tables.documents(spark, sfDir),
      TextAnalysis.stagedLangModel(spark, sfDir),
      minTokens, maxDupBigram, langs)

  /** C8c over arbitrary docs + any trained model — the spec entry. */
  def curatePredictedOf(docs: DataFrame,
      model: TextAnalysis.LangModel, minTokens: Int = 10,
      maxDupBigram: Double = 0.1,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame = {
    val served = TextAnalysis.langClassifierServeWith(docs, model)
    val gated = served.withColumn("lang", col("lang_pred"))
      .select(docs.columns.map(col).toIndexedSeq: _*)
    curateV2(gated, minTokens, maxDupBigram, langs)
      .join(served.select(col("doc_id"), col("lang_pred"),
          col("used_fallback"),
          (col("lang_pred").isin(langs: _*) =!=
            col("lang").isin(langs: _*)).as("gate_divergent")),
        Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- C8d
  /** C8c's DIVERGENCE as a driver-visible one-row NUMBER (the C54/D8
    * discipline: where the classifier changed admission should be a
    * per-round count, not something an auditor greps survivors for):
    * over quality-passing docs, how many both gates admit, how many
    * ONLY the predicted gate admits (the recovered mislabeled crawl
    * docs), how many ONLY the labeled gate admits (classifier
    * misses — each one a doc the predicted chain silently drops), and
    * the heuristic-fallback count. The language gates are the only
    * stage that can diverge (quality gates see identical text), so
    * the report reads the language-free gate seam
    * ([[qualityGatesNoLang]]) once — ONE map-only scan through the
    * serve + gate expressions into a 1-row order-free aggregate; no
    * chain re-run, no join. Rows-only: E35's reason. */
  def curatePredictedReport(spark: SparkSession, sfDir: String,
      minTokens: Int = 10, maxDupBigram: Double = 0.1,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame =
    curatePredictedReportOf(Tables.documents(spark, sfDir),
      TextAnalysis.stagedLangModel(spark, sfDir),
      minTokens, maxDupBigram, langs)

  /** C8d over arbitrary docs + model — the spec entry. */
  def curatePredictedReportOf(docs: DataFrame,
      model: TextAnalysis.LangModel, minTokens: Int = 10,
      maxDupBigram: Double = 0.1,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame = {
    val served = TextAnalysis.langClassifierServeWith(docs, model)
    val predIn = col("lang_pred").isin(langs: _*)
    val labelIn = col("lang").isin(langs: _*)
    qualityGatesNoLang(served, minTokens, maxDupBigram)
      .agg(count(lit(1)).as("n_quality_pass"),
        sum(when(predIn && labelIn, 1L).otherwise(0L))
          .as("n_both_admit"),
        sum(when(predIn && !labelIn, 1L).otherwise(0L))
          .as("n_pred_only"),
        sum(when(!predIn && labelIn, 1L).otherwise(0L))
          .as("n_label_only"),
        sum(when(!predIn && !labelIn, 1L).otherwise(0L))
          .as("n_neither"),
        sum(when(col("used_fallback"), 1L).otherwise(0L))
          .as("n_fallback"))
  }

  // ------------------------------------------------------------- C8e
  /** CODE-ROUTED CURATION — E41 wired into the chain (the C8b wiring
    * move, applied to routing): the uniq-ratio and duplicate-bigram
    * gates are PROSE rules — repeated tokens mean boilerplate in
    * prose but legitimate structure in code (`return this.x;` lines
    * repeat by design) — so a chain that applies them corpus-wide
    * silently strips exactly the code a code-aware mix wants. This
    * variant computes the E41 composite ON the scan (stateless, no
    * join — the textCodeScoreCols seam), stamps `route`
    * ('code'|'prose'), EXEMPTS code docs from the two repetition
    * gates, and keeps everything else identical: minTokens and the
    * language gate still apply to both routes, and the shared
    * dedup+scrub tail guarantees survivor choice and redaction cannot
    * drift from v2. Survivors carry `route` so the mix layer can
    * stratify on it (E41b prices the volumes). Prose admission is
    * BIT-IDENTICAL to v2 — the exemption only ever widens. */
  def pipelineCurateRouted(spark: SparkSession, sfDir: String,
      minTokens: Int = 10, maxDupBigram: Double = 0.1,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame =
    curateRoutedOf(Tables.documents(spark, sfDir), minTokens,
      maxDupBigram, langs)

  /** The ONE routed-gate chain shared by batch C8e and its C8f
    * streaming twin (stateless per-row expressions — they apply to a
    * stream unchanged): E41 composite on the scan, code exempt from
    * the two prose repetition gates, minTokens + lang for both
    * routes. */
  private def routedGates(docs: DataFrame, minTokens: Int,
      maxDupBigram: Double, langs: Seq[String]): DataFrame =
    routedGatesOn(
      TextAnalysis.textCodeScoreCols(docs)
        .withColumn("is_code", coalesce(col("is_code"), lit(false))),
      minTokens, maxDupBigram, langs)

  /** The routed predicate over a frame that ALREADY carries `is_code`
    * — the seam the C6c production chain uses (it scores the code
    * composite on the RAW text before normalization, so the
    * indentation signal survives stage zero). */
  private def routedGatesOn(withCode: DataFrame, minTokens: Int,
      maxDupBigram: Double, langs: Seq[String]): DataFrame =
    // lang filter BEFORE the signal barrier (the qualityGates rule):
    // on the C8e chain `lang` is the raw label and prunes the scan;
    // on C6c it is the classifier's prediction, which the barrier
    // prices once either way — filters commute, same rows gated
    qualityGateSignals(withCode.filter(col("lang").isin(langs: _*)))
      .filter(col("n_tokens") >= minTokens)
      .filter(col("is_code") || (col("uniq_ratio") >= 0.3 &&
        col("dup_bigram_ratio") <= maxDupBigram))

  /** C8e over arbitrary docs — the spec entry. */
  def curateRoutedOf(docs: DataFrame, minTokens: Int = 10,
      maxDupBigram: Double = 0.1,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame = {
    val gated = routedGates(docs, minTokens, maxDupBigram, langs)
    dedupScrubTail(gated, Seq("is_code"))
      .withColumn("route",
        when(col("is_code"), "code").otherwise("prose"))
      .drop("is_code")
      .orderBy(col("doc_id"))
  }

  /** String.replace that FAILS LOUDLY when its target is absent: the
    * shadow-CTE oracles below are surgical replaces over the ONE v2
    * SQL definition, and if that text drifts a plain replace silently
    * no-ops — the oracle quietly reverts to the unrouted semantics and
    * surfaces only as an opaque harness hash mismatch rounds later.
    * Drift must fail at construction, with a named cause. */
  private def spliceSql(sql: String, target: String,
      replacement: String, what: String): String = {
    require(sql.contains(target),
      s"oracle splice target '$what' not found — the base SQL drifted; " +
        "update the splice alongside it")
    sql.replace(target, replacement)
  }

  /** C8e's oracle: the v2 SQL with the E41 chain joined in and the
    * repetition predicates wrapped in the code exemption — surgical
    * replaces on the ONE v2 definition (the C8b shadow-CTE rule), so
    * gate formulas are never restated. */
  def pipelineCurateRoutedSql: String = {
    val withCode = spliceSql(pipelineCurateV2Sql, "WITH x AS",
      """WITH cd AS (
        |  SELECT doc_id, coalesce(is_code, false) AS is_code
        |  FROM (%E41%) e),
        |x AS""".stripMargin
        .replace("%E41%", TextAnalysis.textCodeScoreSql),
      "v2 WITH header")
    val withGates = spliceSql(withCode,
      """  SELECT doc_id, source, text, n_tokens
        |  FROM g
        |  WHERE n_tokens >= 10 AND uniq_ratio >= 0.3
        |    AND (CASE WHEN len(bg) = 0 THEN 0.0
        |              ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
        |         END) <= 0.1),""".stripMargin,
      """  SELECT doc_id, source, text, n_tokens, cd.is_code
        |  FROM g JOIN cd USING (doc_id)
        |  WHERE n_tokens >= 10 AND (cd.is_code OR (uniq_ratio >= 0.3
        |    AND (CASE WHEN len(bg) = 0 THEN 0.0
        |              ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
        |         END) <= 0.1))),""".stripMargin,
      "v2 repetition-gate block")
    val withCarry = spliceSql(withGates,
      """  SELECT doc_id, source, text, n_tokens,
        |    ROW_NUMBER()""".stripMargin,
      """  SELECT doc_id, source, text, n_tokens, is_code,
        |    ROW_NUMBER()""".stripMargin,
      "v2 dedup projection")
    spliceSql(withCarry,
      "SELECT doc_id, source, n_tokens,",
      """SELECT doc_id, source, n_tokens,
        |  CASE WHEN is_code THEN 'code' ELSE 'prose' END AS route,"""
        .stripMargin,
      "v2 final projection")
  }

  /** STREAMING curation — the ingest-time twin of [[curateV2]]: the
    * quality / repetition / language gates are stateless per-row
    * predicates (they apply to a stream unchanged), exact dedup becomes
    * `dropDuplicatesWithinWatermark` on the content hash (state bounded
    * by the watermark horizon instead of corpus size — the right
    * trade at ingest: a duplicate arriving a day later is caught by the
    * nightly batch sweep, not the hot path), and survivors leave
    * PII-scrubbed. Input must carry an event-time column `ts`. */
  def curateStream(docs: DataFrame, minTokens: Int = 10,
      maxDupBigram: Double = 0.1, watermark: String = "10 minutes",
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame = {
    qualityGates(docs, minTokens, maxDupBigram, langs)
      .withColumn("h", sha2(col("text"), 256))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("h")
      .select(col("doc_id"), col("ts"), col("source"), col("n_tokens"),
        TextAnalysis.scrubPii(col("text")).as("clean_text"))
  }

  // ------------------------------------------------------------- C6c
  /** THE PRODUCTION CURATE CHAIN — the three wiring moves composed
    * (each shipped separately as C8b/C8c/C8e; a real crawl pipeline
    * runs them TOGETHER, and composition order is load-bearing):
    * (0) E41 code composite on the RAW text first — normalization
    * collapses whitespace, which would erase the indentation signal;
    * (1) E38 normalization as stage zero of everything else, so
    * case/whitespace variants dedup as one doc (C8b's contract);
    * (2) the STAGED E35 classifier predicts language on the
    * normalized scan — a real crawl carries no label (C8c's
    * contract), heuristic fallback for evidence-free docs;
    * (3) the routed gates over the PREDICTION — code exempt from the
    * prose repetition rules (C8e's contract, the shared
    * routedGatesOn definition);
    * (4) the shared dedup+scrub tail. Survivors carry route,
    * lang_pred, used_fallback, and gate_divergent (vs the label where
    * one exists) — every decision the chain made is a COLUMN, not a
    * log line. All pre-dedup stages are stateless row expressions
    * riding one scan; the dedup groupBy stays the only exchange.
    * Rows-only: hashed classifier features (E35's reason). */
  def pipelineCurateProd(spark: SparkSession, sfDir: String,
      minTokens: Int = 10, maxDupBigram: Double = 0.1,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame =
    curateProdOf(Tables.documents(spark, sfDir),
      TextAnalysis.stagedLangModel(spark, sfDir),
      minTokens, maxDupBigram, langs)

  /** C6c over arbitrary docs + model — the spec entry. */
  def curateProdOf(docs: DataFrame, model: TextAnalysis.LangModel,
      minTokens: Int = 10, maxDupBigram: Double = 0.1,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame = {
    val withCode = TextAnalysis.textCodeScoreCols(Scale.fanOutScanLight(docs))
      .withColumn("is_code", coalesce(col("is_code"), lit(false)))
      .withColumn("text",
        graft.functions.TextFunctions.normalizeText(col("text")))
    val served = TextAnalysis.langClassifierServeWith(withCode, model)
      .withColumn("lang_label", col("lang"))
      .withColumn("lang", col("lang_pred"))
    val gated = routedGatesOn(served, minTokens, maxDupBigram, langs)
    dedupScrubTail(gated,
        Seq("is_code", "lang_pred", "used_fallback", "lang_label"))
      .withColumn("route",
        when(col("is_code"), "code").otherwise("prose"))
      .withColumn("gate_divergent",
        col("lang_pred").isin(langs: _*) =!=
          col("lang_label").isin(langs: _*))
      .drop("is_code", "lang_label")
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- C6e
  /** THE CRAWL FRONT DOOR wired in — C6c behind E42: a real corpus
    * arrives as HTML, and until now the production chain's stage zero
    * assumed someone else already stripped it. Stage -1 is the E42
    * extraction (script/style blocks out, line structure preserved,
    * entities decoded, chrome lines dropped) as a stateless column
    * expression behind the [[Scale.evalOnce]] barrier — one extraction
    * pass per row, then C6c's exact plan (no new exchange); see
    * [[curateCrawlOf]] for why the barrier is load-bearing. Documented
    * trade: extraction collapses intra-line whitespace, so E41's
    * indentation term reads 0 on crawled corpora and code routing
    * leans on the symbol/keyword terms — preserving <pre> blocks
    * whole is the seam a code-heavy crawl would add here. Rows-only:
    * the tail is C6c's (hashed classifier features). */
  def pipelineCurateCrawl(spark: SparkSession, sfDir: String,
      minTokens: Int = 10, maxDupBigram: Double = 0.1,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame =
    curateCrawlOf(
      Tables.documents(spark, sfDir).withColumn("text",
        concat(lit(TextAnalysis.HtmlWrapPrefix), col("text"),
          lit(TextAnalysis.HtmlWrapSuffix))),
      TextAnalysis.stagedLangModel(spark, sfDir),
      minTokens, maxDupBigram, langs)

  /** C6e over arbitrary HTML docs + model — the spec entry. The
    * extraction sits behind [[Scale.evalOnce]]: without the barrier,
    * predicate pushdown cloned the four-regex extraction into every
    * gate conjunct on the scan (44 copies in the executed plan — a
    * 0.07 s map stage re-run per consumer, 9.1 s for the slot); with
    * it, extraction evaluates once per row and the chain's gates
    * consume a plain column. The pre-barrier projection reads the
    * whole corpus (no gate can prune below it) — the right trade
    * here, since every gate needs the extracted text anyway. */
  def curateCrawlOf(docs: DataFrame, model: TextAnalysis.LangModel,
      minTokens: Int = 10, maxDupBigram: Double = 0.1,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame =
    curateProdOf(
      Scale.evalOnce(Scale.fanOutScan(docs).withColumn("text",
        array_join(TextAnalysis.htmlExtractCol(col("text")), "\n"))),
      model, minTokens, maxDupBigram, langs)

  // ------------------------------------------------------------- C6f
  /** THE CRAWL CHAIN THROUGH THE ROBUST FRONT DOOR — C6e with E42c's
    * quarantine contract ENFORCED at the chain boundary: a page whose
    * markup the extractor cannot certify (leaked script code,
    * undecoded entities, a truncated tail) would poison every
    * downstream stage — quality gates score the leaked code, dedup
    * hashes split on entity noise — so quarantined pages are EXCLUDED
    * from curation here and accounted for in
    * [[TextAnalysis.crawlQuarantineReport]] (E42d): nothing silently
    * disappears, the report and the chain read the SAME flags. Clean
    * pages flow through C6c's exact plan; on a well-formed crawl the
    * output is row-identical to C6e (spec-pinned — E42c's clean-page
    * byte-parity composed through the chain). Same barrier reasoning
    * as C6e: extraction + flags price once behind [[Scale.evalOnce]],
    * the quarantine predicate is a plain boolean above it. Rows-only:
    * C6c's tail (hashed classifier features). */
  def pipelineCurateCrawlRobust(spark: SparkSession, sfDir: String,
      minTokens: Int = 10, maxDupBigram: Double = 0.1,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame =
    curateCrawlRobustOf(
      Tables.documents(spark, sfDir).withColumn("text",
        concat(lit(TextAnalysis.HtmlWrapPrefix), col("text"),
          lit(TextAnalysis.HtmlWrapSuffix))),
      TextAnalysis.stagedLangModel(spark, sfDir),
      minTokens, maxDupBigram, langs)

  /** C6f over arbitrary HTML docs + model — the spec entry. */
  def curateCrawlRobustOf(docs: DataFrame, model: TextAnalysis.LangModel,
      minTokens: Int = 10, maxDupBigram: Double = 0.1,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame = {
    val keepCols = docs.columns.filterNot(_ == "text").map(col).toSeq
    val extracted = Scale.evalOnce(
      TextAnalysis.htmlExtractRobustCols(Scale.fanOutScan(docs), "text")
        .select(keepCols ++ Seq(col("extracted").as("text"),
          col("quarantine")): _*))
    curateProdOf(extracted.filter(!col("quarantine")).drop("quarantine"),
      model, minTokens, maxDupBigram, langs)
  }

  // ------------------------------------------------------------- C6g
  /** THE CRAWL FRONT DOOR, LIVE — C6f's contract on a raw-HTML ingest
    * stream, in ONE linear micro-batch plan: robust extraction + the
    * E42c quarantine flags price once per row behind
    * [[Scale.evalOnceStream]] (the r16 lesson: a micro-batch pays
    * expression duplication per ROW, independent of trigger volume),
    * the gate signals price once behind their own barrier, and
    * ROUTING is a column, not a branch — a union of
    * clean/quarantine branches would re-run the extraction per branch
    * on EVERY row (row-disjoint filters sit above the kernel, so both
    * branches extract everything); the single-plan form instead
    * computes gate signals on quarantined rows too and discards them
    * in the output projection, the cheaper trade at any realistic
    * quarantine share. Nothing silently disappears: quarantined pages
    * EMIT (route=quarantine, reason — the C6f/E42d accounting,
    * row-level and live), clean pages run the C9 gate+dedup tail and
    * survivors emit route=ok with scrubbed text. The dedup key is
    * sha2 of extracted text for clean rows and a doc-id key for
    * quarantined rows — replayed quarantine rows fold away within the
    * watermark (an exactly-once-shaped ledger feed), and a quarantined
    * page can never shadow a clean page's hash. Spec pins routing,
    * reasons, gate parity with the batch flags, replay dedup, and the
    * DupGate copy counts (block-regex ≤5 — one Project's CSE prints,
    * the E42c batch allowance's structure; tokenizer ≤3 — one chrome
    * filter + the gate chain's ≤2). */
  def crawlCurateStream(docs: DataFrame, minTokens: Int = 10,
      maxDupBigram: Double = 0.1, watermark: String = "10 minutes",
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame = {
    require(docs.isStreaming, "crawlCurateStream needs a streaming frame")
    val keep = docs.columns.filterNot(_ == "text").map(col).toSeq
    val ext = Scale.evalOnceStream(
      TextAnalysis.htmlExtractRobustCols(docs, "text")
        .select(keep ++ Seq(col("extracted").as("text"),
          col("quarantine"), col("quarantine_reason")): _*))
    val sig = qualityGateSignals(ext)
    sig
      .withColumn("__pass",
        !col("quarantine") &&
          col("lang").isin(langs: _*) &&
          col("n_tokens") >= minTokens &&
          col("uniq_ratio") >= 0.3 &&
          col("dup_bigram_ratio") <= maxDupBigram)
      .filter(col("quarantine") || col("__pass"))
      .withColumn("h", when(col("quarantine"),
          concat(lit("q:"), col("doc_id").cast("string")))
        .otherwise(sha2(col("text"), 256)))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("h")
      .select(col("doc_id"), col("ts"), col("source"),
        when(col("quarantine"), "quarantine").otherwise("ok").as("route"),
        col("quarantine_reason"),
        when(!col("quarantine"), col("n_tokens")).as("n_tokens"),
        when(!col("quarantine"), TextAnalysis.scrubPii(col("text")))
          .as("clean_text"))
  }

  // ------------------------------------------------------------- C6d
  /** CERTIFIED PRODUCTION OUTPUT — the r14 close shipped the pieces
    * (C6c chain, C13 packing, C21 shards, C21b manifest+verify) and
    * this composes them into the one slot a training team actually
    * consumes: the PRODUCTION chain's survivors packed into training
    * shards, manifested, and VERIFIED — so the certified-manifest
    * discipline covers the chain's own output, not a separate corpus.
    * The shard build is a per-corpus-version staged artifact (the C10
    * temp-dir discipline); the verify pass runs on EVERY call, so the
    * dumped manifest row set is certified at dump time. Rows-only:
    * file layout is the range exchange's sampling choice (C21b's
    * reason) on top of C6c's hashed features. */
  def pipelineCurateCertified(spark: SparkSession, sfDir: String,
      seqLen: Int = 2048, shards: Int = 8): DataFrame = {
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    val dir = certDirCache(sfDir, stamp, ()) {
      val d = java.nio.file.Files
        .createTempDirectory("graft-cert").toString
      writePackedShards(
        pipelineCurateProd(spark, sfDir)
          .select(col("doc_id"), col("clean_text").as("text")),
        d, seqLen, shards)
      d
    }
    val m = shardManifest(spark, dir)
    verifyShards(spark, dir, m)
    m
  }
  private val certDirCache = new StampedCache[Unit, String](Dedup.deleteAtExit)

  // ------------------------------------------------------------- C8f
  /** STREAMING code-routed curation — C8e's ingest twin: the E41
    * composite and the routed gate predicate are stateless per-row
    * expressions (they apply to a stream unchanged — the C9 property),
    * so code docs survive the prose repetition gates AT INGEST and
    * arrive route-stamped; exact dedup is the same
    * dropDuplicatesWithinWatermark stage as [[curateStream]]. One gate
    * definition with batch C8e (qualityGateSignals + the identical
    * exemption predicate), so the parity spec can pin stream verdicts
    * row-for-row against the batch chain on replayed history (modulo
    * the watermark-horizon dedup trade C9 states). */
  def curateRoutedStream(docs: DataFrame, minTokens: Int = 10,
      maxDupBigram: Double = 0.1, watermark: String = "10 minutes",
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame = {
    routedGates(docs, minTokens, maxDupBigram, langs)
      .withColumn("h", sha2(col("text"), 256))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("h")
      .select(col("doc_id"), col("ts"), col("source"), col("n_tokens"),
        when(col("is_code"), "code").otherwise("prose").as("route"),
        TextAnalysis.scrubPii(col("text")).as("clean_text"))
  }

  /** Ingest-time NEAR-dedup — [[curateStream]] plus the SimHash stage:
    * the same stateless gates, then every doc's 64-bit SimHash is split
    * into four 16-bit chunk buckets and checked against per-bucket
    * signature state within the watermark horizon
    * ([[graft.streaming.NearDupProcessor]] via transformWithState —
    * pigeonhole guarantees a Hamming-≤ `maxHamming` near-dup shares at
    * least one bucket). Exact duplicates are Hamming-0 near-dups, so no
    * separate dropDuplicates stage is needed. The four per-chunk
    * verdicts consolidate to one row per doc through a small windowed
    * aggregation (any-bucket-dup wins); rows emit once the watermark
    * passes their minute window. This catches boilerplate near-dups AT
    * INGEST instead of waiting for the nightly batch sweep; the batch
    * sweep (`curateFull`) remains the completeness pass — streaming
    * recall is bounded by the horizon and the per-bucket `maxSigs` cap.
    *
    * Requires the RocksDB state store provider (transformWithState).
    * Input must carry an event-time column `ts`. */
  def nearDedupStream(docs: DataFrame, minTokens: Int = 10,
      maxDupBigram: Double = 0.1,
      horizon: java.time.Duration = java.time.Duration.ofMinutes(10),
      maxHamming: Int = 3, maxSigs: Int = 256,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame = {
    require(maxHamming < Dedup.SimhashChunks,
      s"the ${Dedup.SimhashChunks}-chunk pigeonhole only generates " +
        s"candidates for Hamming <= ${Dedup.SimhashChunks - 1}; " +
        s"maxHamming=$maxHamming would silently lose recall")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val gated = qualityGates(docs, minTokens, maxDupBigram, langs)
      // re-tokenize for the signature: the gate seam no longer exposes
      // its intermediate toks array (dropped before the evalOnce
      // boundary); one extra per-trigger tokenization is harmless at
      // stream volumes
      .withColumn("sig", graft.functions.TextFunctions.simhash64(
        TextAnalysis.tokens("text")))
      .withWatermark("ts", s"${horizon.toSeconds} seconds")
    // chunk explode SHARED with the batch sweep (Dedup.simhashChunkCols
    // — batch/stream candidate generation cannot drift); bucket =
    // chunk*2^16 + value keeps the chunk keyspaces disjoint in one long
    // key. The payload text rides ONLY on the chunk-0 row (and the PII
    // scrub regexes run only there): shipping it on all four rows would
    // 4× the shuffle and window-state bytes of the fattest column for
    // no information.
    val chunks = gated.select(
        Dedup.simhashChunkCols.as(Seq("chunk", "cval")),
        col("doc_id"), col("ts"), col("sig"), col("text"),
        col("source"), col("n_tokens"))
      .select(
        (col("chunk").cast("bigint") * Dedup.SimhashChunkSpan + col("cval"))
          .as("bucket"),
        col("doc_id"), col("ts"), col("sig"),
        when(col("chunk") === 0, TextAnalysis.scrubPii(col("text")))
          .as("clean_text"),
        when(col("chunk") === 0, col("source")).as("source"),
        col("n_tokens"))
      .as[graft.streaming.ChunkDoc]
    val verdicts = chunks
      .groupByKey(_.bucket)
      .transformWithState(
        new graft.streaming.NearDupProcessor(maxHamming, horizon.toMillis, maxSigs),
        "ts", OutputMode.Append())
    // consolidate the four chunk verdicts: a doc is a near-dup iff ANY
    // bucket said so; max() skips the three null payload copies and
    // picks the single chunk-0 one
    verdicts.toDF()
      .groupBy(window(col("ts"), "60 seconds"), col("doc_id"))
      .agg(max(col("dup")).as("dup"), min(col("ts")).as("ts"),
        max(col("source")).as("source"), min(col("n_tokens")).as("n_tokens"),
        max(col("clean_text")).as("clean_text"))
      .filter(!col("dup"))
      .select(col("doc_id"), col("ts"), col("source"), col("n_tokens"),
        col("clean_text"))
  }

  /** Deterministic stratified sample: keep `fraction` of each stratum
    * (e.g. per language) using a hash-based Bernoulli draw on a key
    * column — reproducible across runs AND across cluster sizes
    * (unlike `sample()`, whose draw depends on partitioning). The
    * standard way to downsample dominant languages/sources when
    * balancing a training mix. */
  def sampleStratified(docs: DataFrame, stratumCol: String,
      fractions: Map[String, Double], keyCol: String = "doc_id",
      seed: Long = 42L): DataFrame = {
    val whenExpr = fractions.foldLeft(lit(0.0)) { case (acc, (stratum, f)) =>
      when(col(stratumCol) === stratum, lit(f)).otherwise(acc)
    }
    docs
      .withColumn("__draw",
        (pmod(xxhash64(col(keyCol), lit(seed)), lit(1000000L))).cast("double") / 1000000.0)
      .filter(col("__draw") < whenExpr)
      .drop("__draw")
  }

  /** Driver query (stages 1–3, oracle-checked; stage 4 is rows-only via
    * [[curate]] — exposed separately as pipeline_curate_full). */
  def pipelineCurate(spark: SparkSession, sfDir: String): DataFrame =
    curateExact(Tables.documents(spark, sfDir)).orderBy(col("doc_id"))

  // ------------------------------------------------------------- C12
  /** Benchmark DECONTAMINATION — drop every training doc that shares an
    * `n`-token gram with the benchmark/eval set (the published-pipeline
    * rule for keeping test data out of the training mix: GPT-3 and
    * PaLM both scrub on 13-gram overlap). Grams are the same
    * xxhash64-chained shingles as the dedup family
    * ([[graft.functions.TextFunctions.shingleHashes]]) — an 8-byte
    * value per gram instead of the joined string; a hash collision can
    * only over-drop one extra doc (2⁻⁶⁴ per cross pair), the standard
    * trade every at-scale decontamination makes.
    *
    * Docs shorter than `n` tokens generate NO grams on either side (a
    * doc with no 13-gram cannot leak a 13-gram) — both sides filter
    * before shingling, since ShingleHashes would otherwise hash the
    * whole short doc as one window.
    *
    * Scale shape: the benchmark side is a test set (thousands of docs,
    * not terabytes) — its distinct gram set BROADCASTS, so the training
    * side streams map-only through a broadcast semi-join: no shuffle of
    * the 100 TB side at all. The anti-join back to `docs` shuffles only
    * ids. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 13): DataFrame = {
    require(n >= 1)
    def grams(d: DataFrame): DataFrame = Dedup.gramSet(d, idCol, textCol, n)
    val benchGrams = grams(benchmark).select(col("g")).distinct()
    val contaminated = grams(docs)
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select(col("id").as(idCol)).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Driver query: docs with doc_id ≡ 0 (mod 10) play the benchmark
    * set; the rest are the training corpus to scrub. */
  def decontamQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    decontaminate(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  val decontamSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, array_to_string(t[i:i+12], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(t) - 12)) AS u(i)
      |  WHERE len(t) >= 13),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
      |cont AS (
      |  SELECT DISTINCT doc_id FROM g
      |  WHERE doc_id % 10 <> 0 AND gram IN (SELECT gram FROM bench))
      |SELECT d.doc_id, d.lang, d.source FROM documents d
      |WHERE d.doc_id % 10 <> 0
      |  AND d.doc_id NOT IN (SELECT doc_id FROM cont)
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------- C59
  /** BLOOM-PRESCREENED decontamination — C12's exact semantics with
    * the broadcast budget under control: when the eval SUITE grows
    * (the union of every benchmark a lab must scrub — dozens of sets,
    * tens of millions of grams), broadcasting the distinct gram set
    * as a join hash relation costs ~80+ bits/key per task; the
    * prescreen ships a ~14-bit/key Bloom SKETCH instead — B23's
    * exact machinery reused verbatim: the filter is built DISTRIBUTED
    * (`stat.bloomFilter`, partial sketches merged driver-side — no
    * gram ever collected) and probed through
    * [[graft.functions.BloomFunctions.mightContain]], the native
    * codegen'd predicate inside the scan's WholeStageCodegen span (no
    * hash table, no UDF). Only prescreen SURVIVORS (true matches +
    * the tuned fpp of clean grams) reach the exact confirm join.
    * Bloom filters have zero false negatives, so prescreen→confirm
    * returns EXACTLY C12's answer — SAME oracle, hash-checked per
    * round. Scale shape: the 100 TB side's grams stream map-only
    * through the sketch; the confirm join processes an fpp-bounded
    * trickle (left unpinned — AQE broadcasts it at test scale,
    * shuffles survivors at suite scale where the oversized broadcast
    * is exactly what this operator avoids); the anti-join back
    * shuffles ids only. */
  def decontaminateBloom(docs: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 13, fpp: Double = 0.001,
      expectedGrams: Long = 4000000L): DataFrame = {
    require(n >= 1)
    require(fpp > 0 && fpp < 1, s"fpp $fpp out of (0, 1)")
    val benchGrams = Dedup.gramSet(benchmark, idCol, textCol, n)
      .select(col("g")).distinct()
      // two consumers (bloom build + confirm join) — pin once
      .localCheckpoint(true)
    // a gram-free benchmark cannot leak anything — and stat.bloomFilter
    // NPEs on an empty frame (null partial sketch), so the vacuous
    // case exits before the build; the pinned frame makes this cheap
    if (benchGrams.isEmpty) return docs
    val bf = benchGrams.stat.bloomFilter("g", expectedGrams, fpp)
    val contaminated = Dedup.gramSet(docs, idCol, textCol, n)
      .filter(graft.functions.BloomFunctions.mightContain(col("g"), bf))
      .join(benchGrams, Seq("g"), "left_semi")
      .select(col("id").as(idCol)).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Driver query: C12's exact split and shape — the result (and the
    * oracle) must be bit-identical; only the execution path differs. */
  def decontamBloomQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    decontaminateBloom(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- C22
  /** FUZZY decontamination (the Llama-2 refinement of C12's drop-on-
    * any-overlap rule): instead of discarding a training doc over one
    * shared 13-gram, measure HOW MUCH of it is contaminated — a token
    * is contaminated when it sits inside any `n`-token gram that also
    * appears in the benchmark set, and only documents whose
    * contaminated fraction exceeds `dirtyFrac` (the paper's high-water
    * mark) are flagged dirty. Incidental phrase overlap survives;
    * wholesale eval-set leakage is caught with a number attached.
    *
    * Plumbing: positional gram hashes over the training side
    * (duplicates kept, text order — the C19 kernel), benchmark gram
    * set broadcast (a test set, not terabytes) probed with a map-side
    * semi-join, flagged positions merged into maximal disjoint token
    * ranges by [[Dedup.coveredTokenRanges]] so the coverage sum cannot
    * double-count overlapping windows. One shuffle of flagged
    * positions (tiny — contamination is sparse by construction);
    * the 100 TB side never shuffles its grams. Fractions are single
    * double divisions (bit-exact cross-engine, SURVEY §4). */
  def decontaminateFuzzy(docs: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 13, dirtyFrac: Double = 0.8): DataFrame = {
    require(n >= 1)
    val benchGrams = Dedup.gramSet(benchmark, idCol, textCol, n)
      .select(col("g")).distinct()
    val pos = docs
      .select(col(idCol).as("id"), TextAnalysis.tokens(textCol).as("toks"))
      .select(col("id"), graft.functions.TextFunctions
        .positionalShingleHashes(col("toks"), n).as("gs"))
      .select(col("id"), posexplode(col("gs")).as(Seq("pos", "g")))
    val flagged = pos.join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select(col("id"), col("pos"))
    val covered = Dedup.coveredTokenRanges(flagged, n)
      .groupBy(col("id"))
      .agg(sum(col("n_tokens")).as("contaminated_tokens"))
    docs.select(col(idCol).as("id"),
        size(TextAnalysis.tokens(textCol)).cast("long").as("n_tokens"))
      .join(covered, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("contaminated_tokens"), lit(0L))
          .as("contaminated_tokens"))
      .withColumn("contaminated_frac",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("contaminated_tokens").cast("double") / col("n_tokens")))
      .withColumn("dirty", col("contaminated_frac") > dirtyFrac)
      .orderBy(col(idCol))
  }

  /** Driver query: same benchmark split as C12 (doc_id ≡ 0 mod 10
    * plays the eval set), n = 13, dirty above 80% coverage. */
  def decontamFuzzyQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    decontaminateFuzzy(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0))
  }

  val decontamFuzzySql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+12], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(t) - 12)) AS u(i)
      |  WHERE len(t) >= 13),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
      |f AS (SELECT doc_id, pos FROM g
      |      WHERE doc_id % 10 <> 0 AND gram IN (SELECT gram FROM bench)),
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
      |tot AS (SELECT doc_id, len(t) AS n FROM toks WHERE doc_id % 10 <> 0)
      |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(c.covered, 0) AS BIGINT) AS contaminated_tokens,
      |  CASE WHEN t.n = 0 THEN 0.0
      |       ELSE CAST(COALESCE(c.covered, 0) AS DOUBLE) / t.n
      |  END AS contaminated_frac,
      |  (CASE WHEN t.n = 0 THEN 0.0
      |        ELSE CAST(COALESCE(c.covered, 0) AS DOUBLE) / t.n
      |   END) > 0.8 AS dirty
      |FROM tot t LEFT JOIN cov c USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  // ------------------------------------------------------------- C16
  /** Ingest-time DECONTAMINATION — the streaming twin of
    * [[decontaminate]], built on a stream-STATIC join: the benchmark
    * gram set is a static frame (eval sets change rarely; restart the
    * query with a new static side to rotate benchmarks), so each
    * micro-batch's grams probe it as a broadcast map-side lookup with
    * ZERO join state — the only streaming state is the windowed
    * per-doc consolidation, bounded by the watermark. Grams are the
    * shared [[Dedup.gramSet]] hash shingles (batch and stream cannot
    * disagree about what "contaminated" means); the payload rides only
    * gram row 0 (the [[nearDedupStream]] thinning trick) so the
    * explode never multiplies the text bytes through the shuffle. Docs
    * shorter than `n` tokens emit one null-gram row — null never
    * equals, so they survive, carrying their payload. */
  def decontaminateStream(docs: DataFrame, benchmark: DataFrame,
      n: Int = 13,
      horizon: java.time.Duration = java.time.Duration.ofMinutes(10)): DataFrame = {
    require(n >= 1)
    val benchGrams = Dedup.gramSet(benchmark, "doc_id", "text", n)
      .select(col("g")).distinct().withColumn("hit", lit(1))
    val exploded = docs
      .withWatermark("ts", s"${horizon.toSeconds} seconds")
      .withColumn("toks", TextAnalysis.tokens("text"))
      .select(col("doc_id"), col("ts"), col("text"), col("source"),
        posexplode(when(size(col("toks")) >= n,
            graft.functions.TextFunctions.shingleHashes(col("toks"), n))
          .otherwise(array(lit(null).cast("long")))).as(Seq("i", "g")))
      .select(col("doc_id"), col("ts"), col("g"),
        when(col("i") === 0, col("text")).as("text"),
        when(col("i") === 0, col("source")).as("source"))
    exploded.join(broadcast(benchGrams), Seq("g"), "left_outer")
      .groupBy(window(col("ts"), "60 seconds"), col("doc_id"))
      .agg(max(col("hit")).as("hit"), min(col("ts")).as("ts"),
        max(col("text")).as("text"), max(col("source")).as("source"))
      .filter(col("hit").isNull)
      .select(col("doc_id"), col("ts"), col("source"), col("text"))
  }

  // ------------------------------------------------------------- C13
  /** SEQUENCE PACKING — assign every doc its (sequence, offset) slot in
    * the concatenate-and-cut-every-`seqLen`-tokens layout LM training
    * uses: docs ordered by id form one virtual token stream; doc d
    * starts at global token position cum_before(d) = Σ n_tokens of all
    * earlier docs, so it lands in sequence cum_before div seqLen at
    * offset cum_before mod seqLen (straddling a boundary = split
    * across two training sequences, exactly like the real packer).
    *
    * The interesting part at 100 TB is the GLOBAL running sum: the
    * naive window (`sum over (order by doc_id)`) has no PARTITION BY,
    * so Spark plans a single-partition sort — one task swallows the
    * corpus. [[Scale.stratifiedPrefixSum]] (with one constant stratum)
    * is the standard two-pass prefix sum instead; result is identical
    * to the naive window at any bucket count and any partitioning. */
  def packSequences(docs: DataFrame, seqLen: Int = 2048,
      buckets: Int = 1024): DataFrame =
    // pinned narrow counts (the mixSamplePieceCounts rule): the prefix
    // kernel's subtotal and output passes otherwise re-tokenize
    packFromCounts(docs.select(col("doc_id"),
      size(TextAnalysis.tokens()).cast("long").as("n_tokens"))
      .localCheckpoint(true),
      seqLen, keep = Nil, buckets = buckets)

  /** The packing kernel over a precomputed (doc_id, n_tokens[, keep…])
    * frame — ONE definition shared by [[packSequences]] and
    * [[pipelineTrainMix]] so the two packers cannot drift. */
  private def packFromCounts(counts: DataFrame, seqLen: Int,
      keep: Seq[String], buckets: Int = 1024): DataFrame = {
    require(seqLen >= 1)
    Scale.stratifiedPrefixSum(counts.withColumn("__s", lit("all")), "__s",
        "doc_id", "n_tokens", "__ca", buckets)
      .withColumn("__cb", col("__ca") - col("n_tokens"))
      .select(Seq(col("doc_id")) ++ keep.map(col) ++ Seq(col("n_tokens"),
        expr(s"__cb div $seqLen").as("seq_id"),
        expr(s"__cb % $seqLen").as("seq_offset")): _*)
      .orderBy(col("doc_id"))
  }

  def packSequencesQuery(spark: SparkSession, sfDir: String): DataFrame =
    packSequences(Tables.documents(spark, sfDir))

  /** The packing kernel over ANY precomputed (doc_id, n_tokens) frame —
    * the public seam the C49 BPE packer and custom cost models (chars,
    * bytes, billed tokens) plug into. Same kernel as [[packSequences]],
    * so every count source packs with identical semantics. */
  def packSequencesFromCounts(counts: DataFrame, seqLen: Int = 2048,
      buckets: Int = 1024): DataFrame =
    packFromCounts(counts.select(col("doc_id"), col("n_tokens")),
      seqLen, keep = Nil, buckets = buckets)

  // ------------------------------------------------------------- C49
  /** BPE-PIECE sequence packing — C13's packer budgeting in the unit a
    * training run actually consumes: per-doc piece counts under the
    * LEARNED tokenizer (E27's pieces = Σ tf·|syms| join), not
    * whitespace words. The divergence is systematic, not noise:
    * whitespace counting under-budgets exactly the docs a subword
    * tokenizer fragments most (rare/long/OOV-heavy words → several
    * pieces each), so a whitespace-budgeted corpus overflows its
    * context windows in production by each doc's (pieces_per_token −
    * 1) factor. Composition: E27's one-scan-one-join piece counts →
    * the C13 two-pass prefix-sum kernel — the iterative part (BPE
    * train) is per-VOCAB work cached per corpus version, so at 100 TB
    * this packs with one corpus scan + one vocab join + the same
    * exchange budget as C13. Rows-only: the learned merge list is the
    * train loop's output — not SQL-expressible (E26's reason, verbatim);
    * the spec pins hand-computed piece packing and the
    * whitespace-vs-piece divergence on a planted OOV doc. */
  def packSequencesBpe(spark: SparkSession, sfDir: String,
      seqLen: Int = 2048, nMerges: Int = 30,
      buckets: Int = 1024): DataFrame =
    // NOT pinned (measured r17, the shingleFrame revert class): the
    // E27 frame ends in a global orderBy that EliminateSorts removes
    // under the kernel's aggregates when LAZY, but a pin would
    // materialize it — pack_bpe 0.65 -> 1.03 s with the pin; the three
    // kernel passes over the piece subtree are cheaper than one range
    // exchange + sort. (The mix/cap pins keep winning because they sit
    // above a JOIN, where the sort is eliminated before the pin.)
    packSequencesFromCounts(
      TextAnalysis.bpeApply(spark, sfDir, nMerges)
        .select(col("doc_id"), col("bpe_pieces").as("n_tokens")),
      seqLen, buckets)

  /** C49 over arbitrary docs + a symbolized vocab (term, syms) — the
    * spec entry: a hand-built vocab makes piece counts hand-checkable. */
  def packSequencesBpeOf(docs: DataFrame, vocab: DataFrame,
      seqLen: Int = 2048, buckets: Int = 1024): DataFrame =
    packSequencesFromCounts(
      TextAnalysis.bpeApplyOf(docs, vocab)
        .select(col("doc_id"), col("bpe_pieces").as("n_tokens")),
      seqLen, buckets)

  // ------------------------------------------------------------- C49b
  /** UNIGRAM-PIECE sequence packing — C49 with the tokenizer swapped:
    * E32b's fitted unigram-LM piece counts through the SAME
    * [[packSequencesFromCounts]] kernel. Exists as the executable
    * proof of the seam claim (E32b emits E27's schema precisely so
    * every piece consumer swaps tokenizers unchanged) — and because a
    * lab that picks unigram in the E33 bake-off needs its packer the
    * same day. Rows-only (the fitted table is EM output — E26's
    * reason); the spec pins packing under a hand-fitted table against
    * C13's whitespace layout. */
  def packSequencesUnigram(spark: SparkSession, sfDir: String,
      seqLen: Int = 2048, vocabSize: Int = 512,
      buckets: Int = 1024): DataFrame =
    packSequencesFromCounts(
      TextAnalysis.unigramApply(spark, sfDir, vocabSize)
        .select(col("doc_id"), col("unigram_pieces").as("n_tokens")),
      seqLen, buckets) // not pinned — the C49 revert note above

  /** C49b over arbitrary docs + a fitted table (the spec entry). */
  def packSequencesUnigramOf(docs: DataFrame, logp: Map[String, Double],
      maxPieceLen: Int, seqLen: Int = 2048, buckets: Int = 1024): DataFrame =
    packSequencesFromCounts(
      TextAnalysis.unigramApplyOf(docs, logp, maxPieceLen)
        .select(col("doc_id"), col("unigram_pieces").as("n_tokens")),
      seqLen, buckets)

  // ------------------------------------------------------------- C43
  /** PACK-LAYOUT audit — the observability row for C13's
    * concatenate-then-cut packing: that layout wastes zero padding by
    * construction, and its cost lives elsewhere — documents SPLIT
    * across sequence boundaries (a broken context window; the count
    * that motivates doc-aware packing variants). Per sequence: docs
    * starting in it, its id range, and the boundary-crosser count.
    * One rollup over the C13 frame; the oracle wraps C13's SQL as a
    * subquery so audit and packer cannot drift. */
  def packReport(spark: SparkSession, sfDir: String,
      seqLen: Int = 2048): DataFrame = {
    import spark.implicits._
    packSequences(Tables.documents(spark, sfDir), seqLen)
      .groupBy($"seq_id")
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("first_doc_id"),
        max($"doc_id").as("last_doc_id"),
        sum(when($"seq_offset" + $"n_tokens" > seqLen, 1L).otherwise(0L))
          .as("n_crossers"))
      .orderBy($"seq_id")
  }

  def packReportSql(seqLen: Int = 2048): String =
    s"""WITH p AS (SELECT * FROM ($packSequencesSql))
       |SELECT seq_id, COUNT(*) AS n_docs,
       |  MIN(doc_id) AS first_doc_id, MAX(doc_id) AS last_doc_id,
       |  CAST(SUM(CASE WHEN seq_offset + n_tokens > $seqLen
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_crossers
       |FROM p GROUP BY seq_id ORDER BY seq_id""".stripMargin

  val packSequencesSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cb
      |  FROM t)
      |SELECT doc_id, n_tokens, CAST(cb // 2048 AS BIGINT) AS seq_id,
      |  CAST(cb % 2048 AS BIGINT) AS seq_offset
      |FROM c ORDER BY doc_id""".stripMargin

  /** Write the packed corpus as TRAINING SHARDS — the last mile of the
    * C13→C15 flow: the (doc, seq_id, seq_offset) assignment becomes
    * `shards` parquet files where every training sequence lives WHOLE
    * in exactly one file (a data loader then streams one shard per
    * worker with no cross-file assembly). Range-partitioning on
    * `seq_id` ALONE is the load-bearing choice: equal keys land in one
    * range bucket, so a sequence straddling a doc boundary cannot be
    * split across shards — partitioning on (seq_id, doc_id) would let
    * a range boundary fall inside a sequence. Rows are sorted within
    * each shard in training order. The range exchange samples key
    * distribution, so shards are ~equal-sized even when doc lengths
    * skew. */
  def writePackedShards(docs: DataFrame, outDir: String,
      seqLen: Int = 2048, shards: Int = 16): Unit = {
    require(shards >= 1)
    packSequences(docs, seqLen)
      .repartitionByRange(shards, col("seq_id"))
      .sortWithinPartitions(col("seq_id"), col("seq_offset"))
      .write.mode("overwrite").parquet(outDir)
  }

  // ------------------------------------------------------------- C21b
  /** SHARD MANIFEST + INTEGRITY VERIFY — the torn-read discipline
    * (E34/C60d bundles fail by name) applied to the OUTPUT side: a
    * training run streams the C21 shards for weeks, and a silently
    * missing, truncated, or rewritten shard poisons it long before
    * anyone looks. The manifest is one row per shard file — row
    * count, token sum, and an ORDER-FREE content checksum (the sum of
    * per-row 64-bit hashes over the full tuple: commutative, so the
    * value is partition- and read-order-invariant — the DECIMAL
    * order-free-sum rule applied to integrity) — keyed by the stable
    * part index (task-attempt UUIDs in the file name are NOT stable
    * across rewrites; the range partitioner's part number is).
    * [[verifyShards]] recomputes the same manifest over the directory
    * and fails BY NAME on any divergence: missing shards, extra
    * shards, row-count drift, content drift — each named with its
    * shard index. Cost: one map-only scan per side into a
    * shards-bounded aggregate. Rows-only: file layout (which rows
    * land in which part file) is the range exchange's sampling
    * choice — the spec pins round-trip verify, tamper detection, and
    * manifest/data consistency instead. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.readParquet(spark, dir)
    val cols = df.columns.toSeq
    df.withColumn("shard",
        regexp_extract(input_file_name(), "part-([0-9]+)", 1)
          .cast("int"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))
          .as("content_sum"))
      .orderBy(col("shard"))
  }

  /** Fail-by-name integrity check of a shard dir against its
    * manifest. Driver cost: shards-bounded collects (≤ the C64 argmax
    * class). */
  def verifyShards(spark: SparkSession, dir: String,
      manifest: DataFrame): Unit = {
    def toMap(df: DataFrame) = df
      .select(col("shard"), col("n_rows"), col("sum_tokens"),
        col("content_sum"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getDecimal(3))).toMap
    val want = toMap(manifest)
    val got = toMap(shardManifest(spark, dir))
    val missing = (want.keySet -- got.keySet).toSeq.sorted
    val extra = (got.keySet -- want.keySet).toSeq.sorted
    require(missing.isEmpty && extra.isEmpty,
      s"shard set drift at $dir: missing shards $missing, " +
        s"unexpected shards $extra — the packed output does not " +
        "match its manifest; rebuild with writePackedShards")
    val drifted = want.keys.filter(k => want(k) != got(k)).toSeq.sorted
    require(drifted.isEmpty,
      s"shard content drift at $dir: shards $drifted diverge from " +
        "the manifest (row count, token sum, or content checksum) — " +
        "a torn or rewritten shard would poison the training run")
  }

  /** Driver entry: shards staged once per corpus version (the C10
    * temp-dir discipline), manifest over them — and the verify pass
    * RUNS on every call, so the dumped manifest is certified, not
    * just computed. */
  def shardManifestQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    val dir = shardDirCache(sfDir, stamp, ()) {
      val d = java.nio.file.Files
        .createTempDirectory("graft-shards").toString
      writePackedShards(Tables.documents(spark, sfDir), d)
      d
    }
    val m = shardManifest(spark, dir)
    verifyShards(spark, dir, m)
    m
  }
  private val shardDirCache = new StampedCache[Unit, String](Dedup.deleteAtExit)

  // ------------------------------------------------------------- C63
  /** DOC-AWARE packing — the variant C43's boundary-crosser count
    * exists to motivate: C13's concatenate-then-cut layout wastes
    * zero padding but SPLITS documents across sequence boundaries
    * (broken context windows); when context integrity matters more
    * than padding, the published alternative packs docs WHOLE. Greedy
    * first-fit is inherently sequential (each pad decision depends on
    * every prior one — not a prefix sum), so this implements the
    * scalable shape: LENGTH-BUCKETED slotting. Each doc rounds up to
    * a bucket (granularity `g`, capped at `seqLen`); same-bucket docs
    * pack `seqLen div bucket` per sequence by within-bucket rank —
    * pure per-row arithmetic over one stratified prefix-sum rank, so
    * the layout is deterministic, zero docs cross a boundary, and
    * the padding waste is bounded by the bucket width per doc (the
    * stated trade vs C13's zero-pad/crossing layout). Docs longer
    * than `seqLen` take a whole sequence and flag `truncated` (the
    * packer's honest signal to route them through C30 chunking
    * first). Sequence identity is (bucket, seq_in_bucket) — globally
    * unique without coordination across buckets. ORACLE-CHECKED:
    * bucketing, ranking, slotting are integer-exact in both
    * engines. */
  def packDocAware(docs: DataFrame, seqLen: Int = 2048, g: Int = 64,
      buckets: Int = 1024): DataFrame =
    // pinned narrow counts (the packSequences rule)
    packDocAwareFromCounts(Scale.fanOutScanLight(docs).select(col("doc_id"),
      size(TextAnalysis.tokens()).cast("long").as("n_tokens"))
      .localCheckpoint(true),
      seqLen, g, buckets)

  /** C63's kernel over ANY precomputed (doc_id, n_tokens[, keep…])
    * frame — the same public seam [[packSequencesFromCounts]] gives
    * C13, opened for C63 because the multimodal packer (F27) budgets
    * in mixed text+image tokens: one kernel, every cost model, zero
    * drift between packers. `keep` columns ride through untouched. */
  def packDocAwareFromCounts(counts: DataFrame, seqLen: Int = 2048,
      g: Int = 64, buckets: Int = 1024,
      keep: Seq[String] = Nil): DataFrame = {
    require(seqLen >= 1 && g >= 1 && g <= seqLen,
      s"need 1 <= g <= seqLen (got g=$g, seqLen=$seqLen)")
    val b = counts
      // bucket = capped length rounded UP to the granularity, then
      // capped AGAIN at seqLen: when seqLen is not a multiple of g,
      // the round-up can overshoot seqLen and a capacity of
      // seqLen div bucket = 0 would null the slot math (and error the
      // oracle's division). Empty docs still occupy one slot
      // (bucket g) so every doc lands. Pad stays < g on the capped
      // path too: eff > seqLen − g there, so seqLen − eff < g.
      .withColumn("eff", least(col("n_tokens"), lit(seqLen.toLong)))
      .withColumn("bucket",
        least(
          greatest(expr(s"((eff + ${g - 1}) div $g) * $g"), lit(g.toLong)),
          lit(seqLen.toLong)))
      .withColumn("capacity", expr(s"$seqLen div bucket"))
      .withColumn("__one", lit(1L))
    Scale.stratifiedPrefixSum(b, "bucket", "doc_id", "__one", "__rnk",
        buckets)
      .select(Seq(col("doc_id")) ++ keep.map(col) ++ Seq(
        col("n_tokens"), col("bucket"),
        expr("(__rnk - 1) div capacity").as("seq_in_bucket"),
        expr("(__rnk - 1) % capacity").as("slot_in_seq"),
        (col("bucket") - col("eff")).as("pad_tokens"),
        (col("n_tokens") > seqLen).as("truncated")): _*)
      .orderBy(col("doc_id"))
  }

  def packDocAwareQuery(spark: SparkSession, sfDir: String,
      seqLen: Int = 2048, g: Int = 64): DataFrame =
    packDocAware(Tables.documents(spark, sfDir), seqLen, g)

  def packDocAwareSql(seqLen: Int = 2048, g: Int = 64): String =
    packDocAwareSqlFrom(
      """SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents""".stripMargin, seqLen, g)

  /** C63's oracle SQL over an arbitrary counts subquery (must yield
    * doc_id, n_tokens[, keep…]) — the SQL twin of
    * [[packDocAwareFromCounts]], so every packer built on the kernel
    * gets its oracle by splicing in its own cost CTE. */
  def packDocAwareSqlFrom(countsSql: String, seqLen: Int = 2048,
      g: Int = 64, keep: Seq[String] = Nil): String = {
    val keepSel = keep.map(k => s"$k, ").mkString
    s"""WITH t AS (
       |  $countsSql),
       |b AS (
       |  SELECT *, LEAST(n_tokens, $seqLen) AS eff,
       |    LEAST(GREATEST(((LEAST(n_tokens, $seqLen) + ${g - 1}) // $g) * $g,
       |      $g), $seqLen) AS bucket
       |  FROM t),
       |r AS (
       |  SELECT *, $seqLen // bucket AS capacity,
       |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rnk
       |  FROM b)
       |SELECT doc_id, ${keepSel}n_tokens, CAST(bucket AS BIGINT) AS bucket,
       |  CAST((rnk - 1) // capacity AS BIGINT) AS seq_in_bucket,
       |  CAST((rnk - 1) % capacity AS BIGINT) AS slot_in_seq,
       |  CAST(bucket - eff AS BIGINT) AS pad_tokens,
       |  n_tokens > $seqLen AS truncated
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- C14
  /** Token-budget TRAINING MIX: per stratum (source/domain/language),
    * keep docs in deterministic `orderCol` order until the stratum's
    * token budget is exhausted — the "N billion tokens of web, M of
    * code" knob every training-mix spec turns. A doc is kept iff it
    * fits ENTIRELY within the remaining budget (running total
    * including the doc ≤ budget), so a mix never overshoots. Strata
    * absent from `budgets` fall back to `defaultBudget`.
    *
    * Runs on [[Scale.stratifiedPrefixSum]], so a dominant stratum
    * (40% of the corpus in one domain) does NOT serialize onto one
    * task the way the naive per-stratum window would. Default order is
    * ingestion order (`doc_id`); for an unbiased draw, pre-compute a
    * hash column (`xxhash64(doc_id)`) and pass it as `orderCol` —
    * [[sampleStratified]] is the rate-based cousin when the target is
    * a fraction, not a token count. */
  def mixSample(docs: DataFrame, stratumCol: String,
      budgets: Map[String, Long], defaultBudget: Long,
      orderCol: String = "doc_id"): DataFrame =
    mixSampleFromCounts(
      docs.withColumn("n_tokens", size(TextAnalysis.tokens()).cast("long")),
      stratumCol, budgets, defaultBudget, orderCol)

  /** [[mixSample]] over a frame that already carries `n_tokens` — the
    * composition entry point (the shared clean stage tokenizes once;
    * re-deriving counts here would run the tokenizer a second time
    * over the pinned corpus). */
  def mixSampleFromCounts(counts: DataFrame, stratumCol: String,
      budgets: Map[String, Long], defaultBudget: Long,
      orderCol: String = "doc_id"): DataFrame = {
    require(defaultBudget >= 0 && budgets.values.forall(_ >= 0))
    val budgetExpr = budgets.foldLeft(lit(defaultBudget)) {
      case (acc, (s, b)) => when(col(stratumCol) === s, lit(b)).otherwise(acc)
    }
    Scale.stratifiedPrefixSum(counts, stratumCol, orderCol, "n_tokens", "__ca")
      .filter(col("__ca") <= budgetExpr)
      .drop("__ca")
  }

  /** Driver query: 500-token budget for src1, uncapped src0, 800 for
    * everyone else — exercises override, default, and pass-through. */
  def mixSampleQuery(spark: SparkSession, sfDir: String): DataFrame =
    mixSample(Tables.documents(spark, sfDir), "source",
      Map("src0" -> 1000000L, "src1" -> 500L), defaultBudget = 800L)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------- C55
  /** BPE-PIECE training mix — C14's budget knob denominated in the
    * unit a training-mix spec actually states ("N billion TOKENS of
    * web" means tokenizer pieces, not whitespace words): the same
    * [[mixSampleFromCounts]] kernel fed E27's learned-tokenizer piece
    * counts instead of `size(tokens())`. The divergence is C49's,
    * applied to ADMISSION instead of layout: whitespace budgeting
    * over-admits exactly the OOV/rare-word-heavy docs a subword
    * tokenizer fragments most, so a whitespace-budgeted mix overshoots
    * its real piece budget by each stratum's pieces-per-token factor.
    * Scale shape unchanged from C14 — the piece counts are one corpus
    * scan + one vocab join (E27, cached per corpus version), then the
    * C18 prefix-sum kernel; the stratum metadata join is doc-keyed.
    * Rows-only: the learned merge list is the BPE train loop's output
    * (E26's reason); the spec pins the whitespace-vs-piece admission
    * divergence on a planted OOV doc. */
  def mixSampleBpe(spark: SparkSession, sfDir: String,
      stratumCol: String, budgets: Map[String, Long],
      defaultBudget: Long, nMerges: Int = 30,
      orderCol: String = "doc_id"): DataFrame =
    mixSampleBpeOf(Tables.documents(spark, sfDir),
      TextAnalysis.bpeApply(spark, sfDir, nMerges),
      stratumCol, budgets, defaultBudget, orderCol)

  /** C55 over arbitrary docs + a precomputed piece frame (doc_id,
    * bpe_pieces) — the spec entry (hand vocab → hand-checkable
    * admission). */
  def mixSampleBpeOf(docs: DataFrame, pieces: DataFrame,
      stratumCol: String, budgets: Map[String, Long],
      defaultBudget: Long, orderCol: String = "doc_id"): DataFrame =
    mixSamplePieceCounts(docs,
      pieces.select(col("doc_id"), col("bpe_pieces").as("n_tokens")),
      stratumCol, budgets, defaultBudget, orderCol)

  /** Driver query: C14's exact budget panel, denominated in pieces —
    * the side-by-side a mix owner reads to see the admission shift. */
  def mixSampleBpeQuery(spark: SparkSession, sfDir: String): DataFrame =
    mixSampleBpe(spark, sfDir, "source",
      Map("src0" -> 1000000L, "src1" -> 500L), defaultBudget = 800L)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------- C55b
  /** UNIGRAM-PIECE training mix — C55 with the tokenizer swapped:
    * E32b's fitted unigram piece counts through the SAME
    * [[mixSampleFromCounts]] kernel. C49b proved the tokenizer seam
    * for PACKING; this (with C56b/C57b) completes the swap-proof for
    * ADMISSION — the r11 verdict's gap: a lab that picks unigram in
    * the E33 bake-off states its mix budgets in unigram pieces the
    * same day, with zero new kernels. Rows-only (the fitted table is
    * EM output — E26's reason); the spec pins the BPE-vs-unigram
    * admission shift on a doc whose piece economics differ between
    * the two tokenizers. */
  def mixSampleUnigram(spark: SparkSession, sfDir: String,
      stratumCol: String, budgets: Map[String, Long],
      defaultBudget: Long, vocabSize: Int = 512,
      orderCol: String = "doc_id"): DataFrame =
    mixSamplePieceCounts(Tables.documents(spark, sfDir),
      TextAnalysis.unigramApply(spark, sfDir, vocabSize)
        .select(col("doc_id"), col("unigram_pieces").as("n_tokens")),
      stratumCol, budgets, defaultBudget, orderCol)

  /** C55b over arbitrary docs + a hand-fitted table (the spec entry —
    * the C49b pattern: a hand table makes admission hand-checkable). */
  def mixSampleUnigramOf(docs: DataFrame, logp: Map[String, Double],
      maxPieceLen: Int, stratumCol: String, budgets: Map[String, Long],
      defaultBudget: Long, orderCol: String = "doc_id"): DataFrame =
    mixSamplePieceCounts(docs,
      TextAnalysis.unigramApplyOf(docs, logp, maxPieceLen)
        .select(col("doc_id"), col("unigram_pieces").as("n_tokens")),
      stratumCol, budgets, defaultBudget, orderCol)

  def mixSampleUnigramQuery(spark: SparkSession, sfDir: String): DataFrame =
    mixSampleUnigram(spark, sfDir, "source",
      Map("src0" -> 1000000L, "src1" -> 500L), defaultBudget = 800L)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
      .orderBy(col("doc_id"))

  /** The shared admission seam all piece denominations feed: stratum
    * metadata doc-keyed onto a precomputed (doc_id, n_tokens) count
    * frame, then the C14 prefix-sum kernel. ONE definition so the BPE
    * and unigram mixes cannot drift. */
  private def mixSamplePieceCounts(docs: DataFrame, counts: DataFrame,
      stratumCol: String, budgets: Map[String, Long],
      defaultBudget: Long, orderCol: String): DataFrame =
    // PINNED: the prefix-sum kernel's subtotal job and its output pass
    // each execute their input's lineage, and here that lineage is the
    // whole E27/E32b piece computation (tokenize + explode + vocab
    // join + agg — a multi-exchange subtree), measured running TWICE
    // per invocation (r17). Pinned rows are four narrow scalars per
    // doc — no text crosses the pin (the curateFull kept-pin class).
    mixSampleFromCounts(
      docs.select(col("doc_id"), col("lang"), col(stratumCol))
        .join(counts, Seq("doc_id"))
        .localCheckpoint(true),
      stratumCol, budgets, defaultBudget, orderCol)

  val mixSampleSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca
      |  FROM t)
      |SELECT doc_id, lang, source, n_tokens FROM c
      |WHERE ca <= CASE source WHEN 'src0' THEN 1000000
      |                        WHEN 'src1' THEN 500 ELSE 800 END
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- C23
  /** Cross-engine DETERMINISTIC shuffle key: one 64-bit LCG step
    * (Knuth's MMIX constants) over the id + seed, via the native
    * [[graft.functions.HashFunctions.Lcg64]] expression (ANSI mode
    * makes the DataFrame `*` throw on the overflow the key NEEDS; the
    * native kernel wraps like Java — which is exactly `(x*A + C) %
    * 2^64` computed in DuckDB HUGEINT, probed bit-identical across
    * engines in round 6). So shuffle order is oracle-checkable,
    * reproducible across runs AND engines, and needs no global pass:
    * the key is pure per-row arithmetic. (xxhash/murmur mixes need
    * C-style wrapping shifts DuckDB rejects, and Spark's rand() is
    * partition-dependent — both non-starters for a REPRODUCIBLE
    * training order.) LCG low bits are weak but ordering uses the
    * full key and sharding uses the top bits. */
  def shuffleKey(id: Column, seed: Long): Column =
    graft.functions.HashFunctions.lcg64(id, seed)

  /** Shard label for a shuffle key: `shards` equal key ranges,
    * assigned map-side with zero coordination (a range-sampling
    * exchange would add a pass for the same result) and MONOTONE in
    * the signed key order the shuffle emits — the sign bit is flipped
    * before taking range bits, so concatenating shards in label order
    * 0..shards-1 reproduces the global shuffled order exactly (an
    * unsigned-top-bits label would put negative-key shards last while
    * their rows sort first). Works for any shard count ≤ 2³⁰ (the
    * require's cap): the flipped key's top 32 bits scale by `shards`
    * — proportional, monotone, no overflow. */
  def shuffleShard(key: Column, shards: Int = 16): Column = {
    require(shards >= 1 && shards <= (1 << 30), "unreasonable shard count")
    shiftrightunsigned(
      shiftrightunsigned(key.bitwiseXOR(lit(Long.MinValue)), 32)
        * lit(shards.toLong), 32).cast("int")
  }

  /** TRAINING-ORDER SHUFFLE of the packed corpus (C13's sequences):
    * LM training wants documents decorrelated from ingestion order —
    * neighboring web-crawl docs share domains, topics, and timestamps,
    * and a deterministic, SEEDED order is what makes a training run
    * reproducible and resumable. Emits one row per sequence with its
    * shuffle key and 16-way shard label (monotone in the emitted
    * order — see [[shuffleShard]]), in shuffled order. Scale shape:
    * the key derives map-side from seq_id (no join, no global window,
    * no rand()); the only wide ops are C13's own prefix sum and the
    * final order. */
  def shuffleSequences(docs: DataFrame, seqLen: Int = 2048,
      seed: Long = 42L): DataFrame =
    packSequences(docs, seqLen)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("shuffle_key", shuffleKey(col("seq_id"), seed))
      .withColumn("shard", shuffleShard(col("shuffle_key")))
      .orderBy(col("shuffle_key"), col("seq_id"))

  def shuffleSequencesQuery(spark: SparkSession, sfDir: String): DataFrame =
    shuffleSequences(Tables.documents(spark, sfDir))

  val shuffleSequencesSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cb
      |  FROM t),
      |s AS (
      |  SELECT CAST(cb // 2048 AS BIGINT) AS seq_id, COUNT(*) AS n_docs
      |  FROM c GROUP BY 1),
      |k AS (
      |  SELECT seq_id, n_docs,
      |    ((seq_id + 42)::HUGEINT * 6364136223846793005
      |      + 1442695040888963407) % 18446744073709551616 AS u
      |  FROM s)
      |SELECT seq_id, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(CASE WHEN u >= 9223372036854775808
      |       THEN u - 18446744073709551616 ELSE u END AS BIGINT)
      |    AS shuffle_key,
      |  -- sign-flip before the range bits: label order = signed order
      |  CAST((u // 1152921504606846976 + 8) % 16 AS INT) AS shard
      |FROM k ORDER BY shuffle_key, seq_id""".stripMargin

  /** The shuffled-shard WRITER — [[writePackedShards]] with training
    * order replaced by seeded-shuffle order: packed rows carry their
    * sequence's shuffle key (map-side arithmetic, no join) and its
    * FIXED key-range shard label ([[shuffleShard]] — deterministic
    * boundaries, no range-sampling job, label order = shuffled
    * order), written as `shard=` directories with one file each.
    * Equal keys = one sequence (the LCG is bijective so distinct
    * sequences never collide), and a sequence's rows share one key →
    * one shard: a sequence cannot split across shards, the C21
    * argument with the key standing in for seq_id. Rows sort by
    * (key, seq_offset) inside each file, so a loader streaming
    * `shard=0..N-1` in label order reads the exact global training
    * order [[shuffleSequences]] reports. */
  def writeShuffledShards(docs: DataFrame, outDir: String,
      seqLen: Int = 2048, shards: Int = 16, seed: Long = 42L): Unit = {
    packSequences(docs, seqLen)
      .withColumn("shuffle_key", shuffleKey(col("seq_id"), seed))
      .withColumn("shard", shuffleShard(col("shuffle_key"), shards))
      .repartition(shards, col("shard"))
      // `shard` MUST lead the sort even though it is redundant with the
      // key order (the label is monotone in the key): a partitionBy
      // write requires per-partition ordering on the partition columns,
      // and when the declared sort does not start with them the planner
      // inserts its OWN sort on `shard` alone — which ELIMINATES this
      // one (EliminateSorts strips sorts under sorts) and leaves rows
      // inside each file in arbitrary order. With the prefix in place
      // the required ordering is already satisfied, no sort is added,
      // and the (key, seq_offset) file order the loader contract
      // depends on survives.
      .sortWithinPartitions(col("shard"), col("shuffle_key"), col("seq_offset"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
  }

  // ------------------------------------------------------------- C24
  /** EPOCH-WEIGHTED repetition — the training-mix knob C14's hard
    * token budget cannot express: production mixes repeat high-quality
    * sources fractionally (wikipedia 2.4 epochs, web 0.6) rather than
    * truncating them. Each doc is emitted floor(w) times plus one more
    * for a deterministic hash-fraction of docs (the top 32 bits of the
    * doc's [[shuffleKey]] against floor(frac·2³²) — integer-exact in
    * both engines, so the FRACTIONAL epoch is an unbiased per-doc
    * lottery that is reproducible run-over-run and engine-over-engine,
    * not a rand() draw). Emits (doc, epoch_idx 0..r-1) — downstream
    * packing treats each repetition as a fresh training example.
    * Pure per-row arithmetic + explode: zero shuffle at any scale. */
  def mixEpochs(docs: DataFrame, stratumCol: String,
      weights: Map[String, Double], defaultWeight: Double = 1.0,
      seed: Long = 7L, keep: Seq[String] = Nil): DataFrame = {
    require(defaultWeight >= 0 && weights.values.forall(_ >= 0),
      "epoch weights must be non-negative")
    val wExpr = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (s, w)) => when(col(stratumCol) === s, lit(w)).otherwise(acc)
    }
    val frac32 = shiftrightunsigned(shuffleKey(col("doc_id"), seed), 32)
    docs
      .withColumn("__w", wExpr)
      .withColumn("__r", floor(col("__w")).cast("long") +
        when(frac32 < floor((col("__w") - floor(col("__w"))) * pow(lit(2.0), 32))
          .cast("long"), 1L).otherwise(0L))
      .filter(col("__r") > 0)
      .select(Seq(col("doc_id"), col(stratumCol)) ++ keep.map(col) :+
        explode(sequence(lit(0L), col("__r") - 1)).as("epoch_idx"): _*)
      .orderBy(col("doc_id"), col("epoch_idx"))
  }

  /** Driver query: src1 repeated 2.5 epochs, src2 down-sampled to a
    * half epoch, everyone else single-epoch — exercises whole repeats,
    * the fractional lottery, and pass-through. */
  def mixEpochsQuery(spark: SparkSession, sfDir: String): DataFrame =
    mixEpochs(Tables.documents(spark, sfDir), "source",
      Map("src1" -> 2.5, "src2" -> 0.5))

  val mixEpochsSql: String =
    """WITH w AS (
      |  SELECT doc_id, source,
      |    -- ::DOUBLE: DuckDB would otherwise keep the literals DECIMAL
      |    -- and compute the fractional threshold exactly, while Spark
      |    -- computes it in binary double — same type, same answer
      |    CAST(CASE source WHEN 'src1' THEN 2.5 WHEN 'src2' THEN 0.5
      |         ELSE 1.0 END AS DOUBLE) AS wt,
      |    ((doc_id + 7)::HUGEINT * 6364136223846793005
      |      + 1442695040888963407) % 18446744073709551616 AS u
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source,
      |    CAST(FLOOR(wt) AS BIGINT) +
      |      CASE WHEN u // 4294967296
      |        < CAST(FLOOR((wt - FLOOR(wt)) * 4294967296) AS BIGINT)
      |      THEN 1 ELSE 0 END AS reps
      |  FROM w)
      |SELECT doc_id, source, CAST(e AS BIGINT) AS epoch_idx
      |FROM r, UNNEST(generate_series(0, CAST(reps AS BIGINT) - 1)) AS g(e)
      |WHERE reps > 0
      |ORDER BY doc_id, epoch_idx""".stripMargin

  // ------------------------------------------------------------- C33
  /** SPLIT-LEAK AUDIT — C31 composed with C12's gram kernel: after a
    * random split, near-duplicate documents land on BOTH sides of the
    * train/eval boundary (the corpus has a measured dup rate — E10),
    * and every such pair silently inflates eval scores. This is the
    * audit a pipeline runs right after splitting: train docs sharing
    * any `n`-token gram with the val/test side, with how many grams
    * and how many eval docs they touch — the evidence table feeding
    * either C12 (drop from train) or a re-split.
    *
    * Scale shape is C12's: the eval side is a FRACTION of the corpus
    * by construction (the split fractions); while it fits
    * [[MaxBroadcastEvalDocs]] its gram set broadcasts and the train
    * side streams map-only through the broadcast join — the 100 TB
    * side never shuffles for the probe; the only exchange is the
    * per-train-doc count aggregation. Past the cap (a fraction of
    * 100 TB is itself terabytes) the probe becomes a shuffle join on
    * the gram hash instead of failing on the broadcast limit. Gram identity is the
    * shared shingle hash (C4's injectivity note applies: probed
    * distinct-hashes == distinct-grams on this population each
    * round). */
  /** Past this many eval-side documents the audit's probe join stops
    * FORCING a broadcast and falls back to a shuffle join (Scale.
    * MaxBroadcastBlocks discipline): the eval side is a split FRACTION
    * of the corpus, not a fixed benchmark set like C12's, so at the
    * 100 TB regime a forced broadcast of its gram table would blow the
    * 8 GB broadcast-table limit / driver heap outright. 100k docs at
    * ~200 grams × ~24 B a row keeps the forced broadcast well under
    * 1 GB; past it, AQE still picks a broadcast if the built gram side
    * turns out small at runtime. */
  val MaxBroadcastEvalDocs: Long = 100000L

  def splitLeakAudit(spark: SparkSession, sfDir: String, n: Int = 13,
      valFrac: Double = 0.05, testFrac: Double = 0.05,
      seed: Long = 11L): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val split = splitAssign(docs, valFrac, testFrac, seed)
      .select(col("doc_id"), col("split"))
    val trainDocs = docs.join(
      split.filter(col("split") === "train"), Seq("doc_id"), "left_semi")
    val evalDocs = docs.join(
      split.filter(col("split") =!= "train"), Seq("doc_id"), "left_semi")
    val evalGrams = Dedup.gramSet(evalDocs, "doc_id", "text", n)
      .select(col("g"), col("id").as("eval_id"))
    // size the eval side from the cached parquet row count (free) —
    // the split is a pure id fraction, so the estimate is exact in
    // expectation and needs no job
    val evalDocsEst = (Tables.cachedCount(spark,
      s"$sfDir/documents.parquet") * (valFrac + testFrac)).toLong
    val evalSide =
      if (evalDocsEst <= MaxBroadcastEvalDocs) broadcast(evalGrams)
      else evalGrams
    Dedup.gramSet(trainDocs, "doc_id", "text", n)
      .join(evalSide, Seq("g"))
      .groupBy(col("id"))
      .agg(countDistinct(col("g")).as("n_shared_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .select(col("id").as("doc_id"), col("n_shared_grams"),
        col("n_eval_docs"))
      .orderBy(col("doc_id"))
  }

  def splitLeakAuditSql(valFrac: Double = 0.05, testFrac: Double = 0.05,
      seed: Long = 11L): String = {
    val vCut = math.floor(valFrac * 4294967296.0).toLong
    val tCut = math.floor((valFrac + testFrac) * 4294967296.0).toLong
    s"""WITH k AS (
       |  SELECT doc_id,
       |    CASE WHEN u // 4294967296 < $vCut THEN 'val'
       |         WHEN u // 4294967296 < $tCut THEN 'test'
       |         ELSE 'train' END AS split
       |  FROM (SELECT doc_id,
       |    ((doc_id + $seed)::HUGEINT * 6364136223846793005
       |      + 1442695040888963407) % 18446744073709551616 AS u
       |    FROM documents) t),
       |toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, array_to_string(t[i:i+12], ' ') AS gram
       |  FROM toks, UNNEST(generate_series(1, len(t) - 12)) AS u(i)
       |  WHERE len(t) >= 13),
       |tr AS (SELECT g.doc_id, gram FROM g JOIN k USING (doc_id)
       |       WHERE split = 'train'),
       |ev AS (SELECT g.doc_id AS eval_id, gram FROM g JOIN k USING (doc_id)
       |       WHERE split <> 'train'),
       |p AS (SELECT tr.doc_id, tr.gram, ev.eval_id FROM tr JOIN ev USING (gram))
       |SELECT doc_id, COUNT(DISTINCT gram) AS n_shared_grams,
       |  COUNT(DISTINCT eval_id) AS n_eval_docs
       |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- C32
  /** CCNet-style LM-PERPLEXITY BUCKETS — the head/middle/tail cut the
    * CCNet pipeline makes before choosing what to train on (head =
    * most in-distribution third by language-model score, tail = the
    * noisy third you drop or down-weight): per-language rank thirds
    * over the E11 unigram LM score (one shared definition — scoring a
    * corpus twice with two formulas is how pipelines silently drift).
    * The RELATIVE cut is the point: an absolute perplexity threshold
    * means different things in different languages; rank thirds
    * within each language compare like with like.
    *
    * Rank machinery is C18's: the rounded score is quantized to an
    * integer (floor(score·1e5) — identical IEEE product + floor in
    * both engines, and BOTH engines rank on the quantized key, so a
    * sub-quantum score difference cannot flip cross-engine order),
    * packed with doc_id, ranked via stratifiedPrefixSum — no
    * per-language single-task window; a dominant language ranks in
    * parallel buckets. Bucket edges are integer-exact
    * (rank·3 ≤ n, rank·3 ≤ 2n). */
  def lmBuckets(spark: SparkSession, sfDir: String,
      buckets: Int = 1024): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // PINNED: three consumers (the packing-span require, the prefix
    // sum, the per-lang totals) would each re-run the whole LM-score
    // tail — 3× the E11 cost, measured as a 2.1 s slot vs E11's 0.3 s
    // before the pin. Pinned size is (doc_id, lang, q5) — corpus rows,
    // three narrow columns.
    val scored = TextAnalysis.textLmScore(spark, sfDir)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        floor(col("lm_score") * 1e5).cast("long").as("q5"))
      .localCheckpoint(true)
    // ONE probe aggregate serves the packing guard AND the prefix
    // sum's span + null checks (the budgetSelectFromScored fusion —
    // previously the prefix sum re-probed the pinned frame with a
    // second full agg job): __ord = (maxQ − q5)·2^40 + doc_id is null
    // iff q5 or doc_id is, and [minId, span·2^40 + maxId] covers it.
    val r = scored.agg(max(col("q5")), min(col("q5")),
      min(col("doc_id")), max(col("doc_id")),
      count(when(col("q5").isNull || col("doc_id").isNull, lit(1))),
      count(when(col("lang").isNull, lit(1)))).head()
    if (r.isNullAt(0) && r.getLong(4) == 0L)
      return scored.withColumn("bucket", lit("")).limit(0)
    require(r.getLong(4) == 0L,
      s"lmBuckets: ${r.getLong(4)} rows have null q5 or doc_id — null " +
        "keys cannot be placed in the rank order")
    require(r.getLong(5) == 0L,
      s"lmBuckets: ${r.getLong(5)} rows have null lang — null strata " +
        "cannot join their bucket base; fill or filter them first")
    val (maxQ, minQ) = (r.getLong(0), r.getLong(1))
    require(maxQ - minQ < (1L << 22) &&
      r.getLong(2) >= 0 && r.getLong(3) < (1L << 40),
      s"lmBuckets key packing needs q5 span < 2^22 and doc_id in " +
        s"[0, 2^40); got span ${maxQ - minQ}, ids " +
        s"[${r.getLong(2)}, ${r.getLong(3)}]")
    val keyed = scored.withColumn("__ord",
      (lit(maxQ) - col("q5")) * lit(1L << 40) + col("doc_id"))
      .withColumn("__one", lit(1L))
    val totals = scored.groupBy("lang").agg(count(lit(1)).as("__n"))
    Scale.stratifiedPrefixSumBounded(keyed, "lang", "__ord", "__one",
        "__rnk", buckets, r.getLong(2),
        (maxQ - minQ) * (1L << 40) + r.getLong(3))
      .join(broadcast(totals), "lang")
      .select(col("doc_id"), col("lang"), col("q5"),
        when(col("__rnk") * 3 <= col("__n"), "head")
          .when(col("__rnk") * 3 <= col("__n") * 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  val lmBucketsSql: String = {
    val lm = TextAnalysis.textLmScoreSql
    s"""WITH lmq AS ($lm),
       |l AS (
       |  SELECT b.doc_id, d.lang,
       |    CAST(FLOOR(b.lm_score * 100000.0) AS BIGINT) AS q5
       |  FROM lmq b JOIN documents d USING (doc_id)),
       |r AS (
       |  SELECT doc_id, lang, q5,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY q5 DESC, doc_id) AS rnk,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM l)
       |SELECT doc_id, lang, q5,
       |  CASE WHEN rnk * 3 <= n THEN 'head'
       |       WHEN rnk * 3 <= 2 * n THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- C31
  /** Deterministic TRAIN/VAL/TEST split — the assignment every
    * training pipeline makes before anything else, with the one
    * property that actually matters at corpus scale: a document's
    * split is a pure function of its id and the seed, so it NEVER
    * changes when the corpus grows, is re-partitioned, or is re-run
    * (`rand()` is partition-dependent; a global rank would reassign
    * the whole corpus on every ingest batch — both non-starters when
    * yesterday's val doc leaking into today's train set silently
    * contaminates every benchmark downstream, the C12 failure mode).
    * The seeded LCG key's top 32 bits are the uniform lottery
    * (C24's fractional-epoch discipline); cuts are integer-exact in
    * both engines, so the assignment hash-checks. Zero shuffle —
    * one map pass, split lands in the scan's projection. Fractions
    * hold per source in expectation (hash-Bernoulli); the exact
    * per-source cut, when wanted, is C18's rank shape. */
  def splitAssign(docs: DataFrame, valFrac: Double = 0.05,
      testFrac: Double = 0.05, seed: Long = 11L): DataFrame = {
    require(valFrac >= 0 && testFrac >= 0 && valFrac + testFrac < 1,
      s"bad split fractions ($valFrac, $testFrac)")
    val u32 = shiftrightunsigned(shuffleKey(col("doc_id"), seed), 32)
    val vCut = math.floor(valFrac * 4294967296.0).toLong
    val tCut = math.floor((valFrac + testFrac) * 4294967296.0).toLong
    docs.select(col("doc_id"), col("source"), col("n_chars"),
      when(u32 < vCut, "val").when(u32 < tCut, "test")
        .otherwise("train").as("split"))
      .orderBy(col("doc_id"))
  }

  def splitAssignQuery(spark: SparkSession, sfDir: String): DataFrame =
    splitAssign(Tables.documents(spark, sfDir))

  def splitAssignSql(valFrac: Double = 0.05, testFrac: Double = 0.05,
      seed: Long = 11L): String = {
    val vCut = math.floor(valFrac * 4294967296.0).toLong
    val tCut = math.floor((valFrac + testFrac) * 4294967296.0).toLong
    s"""WITH k AS (
       |  SELECT doc_id, source, n_chars,
       |    ((doc_id + $seed)::HUGEINT * 6364136223846793005
       |      + 1442695040888963407) % 18446744073709551616 AS u
       |  FROM documents)
       |SELECT doc_id, source, n_chars,
       |  CASE WHEN u // 4294967296 < $vCut THEN 'val'
       |       WHEN u // 4294967296 < $tCut THEN 'test'
       |       ELSE 'train' END AS split
       |FROM k ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- C25
  /** PER-DOMAIN CAP — the web-crawl curation knob epoch weights and
    * token budgets don't cover: a handful of giant domains (or
    * sources) would otherwise dominate the corpus, so keep at most
    * `k` docs per domain, chosen by the seeded LCG key order — a
    * deterministic unbiased without-replacement subsample, not
    * "first k in file order" (file order correlates with crawl time
    * and quality). Composed from the [[graft.plans.TopK.perKey]]
    * physical operator: map-side bounded heaps prune each partition
    * to ≤k rows per domain BEFORE the shuffle, so a 100 TB domain
    * ships k rows per input partition, not its whole postings — the
    * window-function formulation would sort every giant domain on
    * one task. */
  def domainCap(docs: DataFrame, domainCol: String, k: Int,
      seed: Long = 11L): DataFrame = {
    require(k > 0, "domain cap must be positive")
    graft.plans.TopK.perKey(
      docs.withColumn("__dk", shuffleKey(col("doc_id"), seed)),
      Seq(domainCol), Seq(col("__dk"), col("doc_id")), k)
      .drop("__dk")
  }

  def domainCapQuery(spark: SparkSession, sfDir: String): DataFrame =
    domainCap(Tables.documents(spark, sfDir), "source", 10)
      .select(col("doc_id"), col("source"))
      .orderBy(col("source"), col("doc_id"))

  val domainCapSql: String =
    """WITH k AS (
      |  SELECT doc_id, source,
      |    ((doc_id + 11)::HUGEINT * 6364136223846793005
      |      + 1442695040888963407) % 18446744073709551616 AS u
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, source,
      |    -- compare on the SIGNED key: Spark orders the Java long
      |    CAST(CASE WHEN u >= 9223372036854775808
      |         THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS sk
      |  FROM k),
      |r AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY sk, doc_id) AS rn
      |  FROM s)
      |SELECT doc_id, source FROM r WHERE rn <= 10
      |ORDER BY source, doc_id""".stripMargin

  // ------------------------------------------------------------- C57
  /** BPE-PIECE domain cap — C25's re-balance knob denominated in
    * pieces: instead of "at most k DOCS per domain", keep each
    * domain's unbiased (seeded-LCG-ordered) subsample until a PIECE
    * budget is spent — the form the knob takes when what you are
    * protecting is the training-token mix, not the doc count (domains
    * differ wildly in doc length, so a doc-count cap still lets a
    * long-doc domain dominate the token stream). Composition, no new
    * kernel: C25's unbiased order (the LCG key) as the admission
    * ORDER, C14's [[mixSampleFromCounts]] prefix-sum budget as the
    * cut, C49's piece counts as the DENOMINATION. Scale shape is
    * C14's (bucketed prefix sum, no per-domain single-task sort);
    * the LCG key is map-side arithmetic. Rows-only (E26's reason);
    * the spec pins hand-computed admission under a hand vocab and the
    * doc-count-vs-piece divergence. */
  def domainCapBpe(spark: SparkSession, sfDir: String,
      domainCol: String = "source", budgetPieces: Long = 600L,
      nMerges: Int = 30, seed: Long = 11L): DataFrame =
    domainCapBpeOf(Tables.documents(spark, sfDir),
      TextAnalysis.bpeApply(spark, sfDir, nMerges),
      domainCol, budgetPieces, seed)

  /** C57 over arbitrary docs + a precomputed piece frame — the spec
    * entry. */
  def domainCapBpeOf(docs: DataFrame, pieces: DataFrame,
      domainCol: String, budgetPieces: Long, seed: Long = 11L): DataFrame =
    domainCapPieceCounts(docs,
      pieces.select(col("doc_id"), col("bpe_pieces").as("n_tokens")),
      domainCol, budgetPieces, seed)

  // ------------------------------------------------------------- C57b
  /** UNIGRAM-PIECE domain cap — C57 with the tokenizer swapped (E32b
    * counts through the same LCG-ordered per-domain prefix sum); the
    * last admission kernel of the C55b/C56b/C57b swap-proof trio.
    * Rows-only (E26's reason); spec pins hand-computed admission
    * under a hand-fitted table. */
  def domainCapUnigram(spark: SparkSession, sfDir: String,
      domainCol: String = "source", budgetPieces: Long = 600L,
      vocabSize: Int = 512, seed: Long = 11L): DataFrame =
    domainCapPieceCounts(Tables.documents(spark, sfDir),
      TextAnalysis.unigramApply(spark, sfDir, vocabSize)
        .select(col("doc_id"), col("unigram_pieces").as("n_tokens")),
      domainCol, budgetPieces, seed)

  /** C57b over arbitrary docs + a hand-fitted table (the spec entry). */
  def domainCapUnigramOf(docs: DataFrame, logp: Map[String, Double],
      maxPieceLen: Int, domainCol: String, budgetPieces: Long,
      seed: Long = 11L): DataFrame =
    domainCapPieceCounts(docs,
      TextAnalysis.unigramApplyOf(docs, logp, maxPieceLen)
        .select(col("doc_id"), col("unigram_pieces").as("n_tokens")),
      domainCol, budgetPieces, seed)

  /** The shared per-domain piece-budget seam — ONE definition so the
    * BPE and unigram caps cannot drift. */
  private def domainCapPieceCounts(docs: DataFrame, counts: DataFrame,
      domainCol: String, budgetPieces: Long, seed: Long): DataFrame =
    // pinned for the mixSamplePieceCounts reason — the piece subtree
    // otherwise runs once per kernel pass; rows are narrow scalars
    mixSampleFromCounts(
      docs.select(col("doc_id"), col(domainCol))
        .join(counts, Seq("doc_id"))
        .withColumn("__dk", shuffleKey(col("doc_id"), seed))
        .localCheckpoint(true),
      domainCol, Map.empty, budgetPieces, orderCol = "__dk")
      .drop("__dk")
      .orderBy(col(domainCol), col("doc_id"))

  // ------------------------------------------------------------- C27
  /** STREAMING per-domain cap — C25's ingest-time twin, with the
    * honest semantic difference stated: an online cap is ADMISSION
    * (first `k` docs per domain in arrival order are kept, later ones
    * dropped — at ingest you cannot see the future), while the batch
    * [[domainCap]] is an unbiased hash-ordered subsample over the
    * whole corpus. Use this to stop a crawler loop from flooding one
    * domain into the lake; run the batch cap offline to re-balance.
    * State is ONE long per domain (the admitted count), carried
    * across micro-batches; within a batch, a domain's slice is
    * ordered by doc_id so replayed batches admit identically. */
  def domainCapStream(docs: DataFrame, domainCol: String,
      k: Long): DataFrame = {
    require(k > 0, "domain cap must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    docs.select(col("doc_id").cast("long"),
        col(domainCol).cast("string").as("domain"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (dom: String, it: Iterator[(Long, String)],
            state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val admitted = it.toSeq.sortBy(_._1).iterator
            .takeWhile { _ => n < k }
            .map { case (id, d) => n += 1; (id, d) }
            .toVector
          state.update(n)
          admitted.iterator
      }
      .toDF("doc_id", "domain")
  }

  // ------------------------------------------------------------- C29
  /** STREAMING token-budget admission — C28's ingest-time twin, with
    * the semantic difference stated the C27 way: the batch selector
    * ranks the WHOLE corpus by quality and fills the budget from the
    * top; at ingest you cannot see the future, so the stream ADMITS
    * documents (above a quality floor) in arrival order until the
    * budget is spent, then closes. One long of state (admitted
    * tokens) across micro-batches; in-batch slices admit in doc_id
    * order so a replay admits identically; the straddling document is
    * admitted (budget not exhausted BEFORE it — the batch operator's
    * boundary rule). Quality is the same shared E2 composite: one
    * definition, both halves. */
  def budgetSelectStream(docs: DataFrame, budgetTokens: Long,
      minQuality: Double = 0.0): DataFrame = {
    require(budgetTokens >= 0, s"budget $budgetTokens must be >= 0")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    graft.operators.TextAnalysis.textQualityOf(docs)
      .filter(col("quality_score") >= minQuality)
      .select(col("doc_id").cast("long"), col("n_tokens").cast("long"),
        col("quality_score"))
      .as[(Long, Long, Double)]
      // single logical budget → single group; the stream is the
      // admission CONTROLLER, not a scan — its input is the already-
      // curated trickle, so one group is the semantics, not a skew bug
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[Long, (Long, Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, it: Iterator[(Long, Long, Double)],
            state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          var spent = state.getOption.getOrElse(0L)
          val admitted = it.toSeq.sortBy(_._1).iterator
            .takeWhile { _ => spent < budgetTokens }
            .map { case (id, n, q) => spent += n; (id, n, q, spent) }
            .toVector
          state.update(spent)
          admitted.iterator
      }
      .toDF("doc_id", "n_tokens", "quality_score", "cum_tokens")
  }

  // ------------------------------------------------------------- C36
  /** DUP-DEPTH histogram — how DEEP duplication runs, which E10's
    * single dup_rate number cannot say (a 4% dup rate from thousands
    * of pairs is crawl noise; the same 4% from one document repeated
    * two thousand times is a template/SEO artifact needing a source
    * fix — and C19's boilerplate pass, not C1's doc dedup, if the
    * copies differ by a byte): exact-duplicate cluster sizes (sha-256
    * groups) rolled into one row per size with cluster and doc counts
    * and the docs-removed-if-deduped tally. Two cheap aggregations:
    * the sha groupBy C1 already pays, then a rollup on the tiny
    * (size) key space. */
  def dedupClusterStats(spark: SparkSession, sfDir: String): DataFrame = {
    val sizes = Tables.documents(spark, sfDir)
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(count(lit(1)).as("sz"))
    sizes.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1).as("n_removable"))
      .orderBy(col("cluster_size"))
  }

  val dedupClusterStatsSql: String =
    """WITH s AS (
      |  SELECT sha256(text) AS h, COUNT(*) AS sz
      |  FROM documents GROUP BY 1)
      |SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
      |  CAST(SUM(sz) AS BIGINT) AS n_docs,
      |  CAST(SUM(sz - 1) AS BIGINT) AS n_removable
      |FROM s GROUP BY sz ORDER BY cluster_size""".stripMargin

  // ------------------------------------------------------------- C35
  /** CURATION FUNNEL — the observability row for C8's gate chain
    * ("where did my corpus go?"): cumulative survivor counts through
    * lang → min-tokens → uniq-ratio → repetition → exact-dedup, the
    * table a pipeline operator reads when a sweep deletes more (or
    * less) than expected — a gate suddenly eating 40% of a crawl
    * slice is a data bug caught HERE, before training. All six stage
    * counts come from ONE aggregate over one scan: per-doc gate
    * booleans are cumulative AND chains evaluated under the scan,
    * stage counts are conditional sums, and the dedup stage is a
    * conditional COUNT(DISTINCT sha) in the same Aggregate — one
    * exchange total, then a 1-row stack to long format (no extra
    * shuffle). Stage ORDER is part of the contract (each count is
    * "survivors of every gate so far"); it mirrors C8's oracle
    * formulation (lang first). */
  def curateFunnel(spark: SparkSession, sfDir: String, minTokens: Int = 10,
      maxDupBigram: Double = 0.1,
      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .withColumn("toks", TextAnalysis.tokens("text"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("uniq_ratio",
        size(array_distinct(col("toks"))).cast("double") /
          nullif(size(col("toks")), lit(0)))
      .withColumn("bg", expr(
        """IF(size(toks) < 2, array(),
          |   zip_with(slice(toks, 1, size(toks) - 1),
          |            slice(toks, 2, size(toks) - 1),
          |            (a, b) -> concat(a, ' ', b)))""".stripMargin))
      .withColumn("dup_bigram_ratio",
        when(size(col("bg")) === 0, lit(0.0)).otherwise(
          lit(1.0) - size(array_distinct(col("bg"))).cast("double") / size(col("bg"))))
      .withColumn("c1", col("lang").isin(langs: _*))
      .withColumn("c2", col("c1") && col("n_tokens") >= minTokens)
      .withColumn("c3", col("c2") && col("uniq_ratio") >= 0.3)
      .withColumn("c4", col("c3") && col("dup_bigram_ratio") <= maxDupBigram)
    scored.agg(
      count(lit(1)).as("s0"),
      sum(when(col("c1"), 1L).otherwise(0L)).as("s1"),
      sum(when(col("c2"), 1L).otherwise(0L)).as("s2"),
      sum(when(col("c3"), 1L).otherwise(0L)).as("s3"),
      sum(when(col("c4"), 1L).otherwise(0L)).as("s4"),
      countDistinct(when(col("c4"), sha2(col("text"), 256))).as("s5"))
      .selectExpr(
        """stack(6,
          |  0, 'ingest',      s0,
          |  1, 'lang',        s1,
          |  2, 'min_tokens',  s2,
          |  3, 'uniq_ratio',  s3,
          |  4, 'repetition',  s4,
          |  5, 'exact_dedup', s5) AS (stage_idx, stage, docs)""".stripMargin)
  }

  def curateFunnelSql(minTokens: Int = 10, maxDupBigram: Double = 0.1): String =
    s"""WITH x AS (
       |  SELECT doc_id, lang, text,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT lang, text, len(toks) AS n_tokens,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks), 0)
       |      AS uniq_ratio,
       |    CASE WHEN len(toks) < 2 THEN []
       |         ELSE list_transform(generate_series(1, len(toks) - 1),
       |                i -> toks[i] || ' ' || toks[i + 1]) END AS bg
       |  FROM x),
       |c AS (
       |  SELECT text,
       |    list_contains(['en', 'de', 'es', 'fr', 'zh'], lang) AS c1,
       |    list_contains(['en', 'de', 'es', 'fr', 'zh'], lang)
       |      AND n_tokens >= $minTokens AS c2,
       |    list_contains(['en', 'de', 'es', 'fr', 'zh'], lang)
       |      AND n_tokens >= $minTokens AND uniq_ratio >= 0.3 AS c3,
       |    list_contains(['en', 'de', 'es', 'fr', 'zh'], lang)
       |      AND n_tokens >= $minTokens AND uniq_ratio >= 0.3
       |      AND (CASE WHEN len(bg) = 0 THEN 0.0
       |           ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
       |           END) <= $maxDupBigram AS c4
       |  FROM g),
       |a AS (
       |  SELECT COUNT(*) AS s0,
       |    CAST(SUM(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
       |    CAST(SUM(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
       |    CAST(SUM(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
       |    CAST(SUM(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS s4,
       |    COUNT(DISTINCT CASE WHEN c4 THEN sha256(text) END) AS s5
       |  FROM c)
       |SELECT 0 AS stage_idx, 'ingest' AS stage, s0 AS docs FROM a
       |UNION ALL SELECT 1, 'lang', s1 FROM a
       |UNION ALL SELECT 2, 'min_tokens', s2 FROM a
       |UNION ALL SELECT 3, 'uniq_ratio', s3 FROM a
       |UNION ALL SELECT 4, 'repetition', s4 FROM a
       |UNION ALL SELECT 5, 'exact_dedup', s5 FROM a
       |ORDER BY stage_idx""".stripMargin

  // ------------------------------------------------------------- C34
  /** INGEST-TIME sequence packing — C13's streaming twin with the
    * C27/C29 semantic difference stated: batch packing fixes the
    * corpus-wide doc_id order; online packing assigns (seq_id,
    * seq_offset) in ADMISSION order (doc_id within a trigger, arrival
    * order across triggers — at ingest you cannot see the future), so
    * the two agree exactly when ingest happens in doc_id order and
    * differ by design otherwise. State is the concatenation's own O(1)
    * footprint — tokens spent + a high-water doc_id replay fence (an
    * at-least-once redelivery must NOT re-pack a doc at a new offset:
    * a training sequence that exists twice at two positions poisons
    * the shard writer downstream). Single logical token stream →
    * single group, the budgetSelectStream reasoning: this is the
    * admission CONTROLLER on the curated trickle, not a corpus scan. */
  def packStream(docs: DataFrame, seqLen: Int = 2048): DataFrame = {
    require(seqLen >= 1, s"seqLen $seqLen must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    docs
      .select(col("doc_id").cast("long"),
        size(TextAnalysis.tokens()).cast("long").as("n_tokens"))
      .as[(Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, it: Iterator[(Long, Long)],
            state: org.apache.spark.sql.streaming.GroupState[(Long, Long)]) =>
          var (spent, lastId) = state.getOption.getOrElse((0L, -1L))
          val out = it.toSeq.sortBy(_._1).iterator
            .filter(_._1 > lastId) // replay fence
            .map { case (id, n) =>
              val off = spent
              spent += n
              lastId = id
              (id, n, off / seqLen, off % seqLen)
            }
            .toVector
          state.update((spent, lastId))
          out.iterator
      }
      .toDF("doc_id", "n_tokens", "seq_id", "seq_offset")
  }

  // ------------------------------------------------------------- C15
  /** The END-TO-END training-data flow, composed from the verified
    * stages: quality + language gates and exact dedup (C6a) →
    * benchmark decontamination (C12) → per-source token budgets (C14)
    * → sequence packing (C13). Executes as THREE pinned stage plans,
    * not one: within each stage Catalyst fuses the gates under the
    * scan, keeps the dedup groupBy / prefix sums as the only wide
    * operations, and plans the decontamination as a broadcast
    * semi-join — but the stage boundaries are eager localCheckpoints,
    * because the mix and pack stages each probe eagerly AND re-read
    * lazily (without pins the curation lineage would execute ~4×;
    * construction therefore runs the first stages eagerly). Docs with
    * doc_id ≡ 0 (mod 10) play the held-out benchmark; packing reuses
    * the token counts the mix stage already carries instead of
    * re-tokenizing. */
  /** Mixed-stage pins keyed by (corpus dir, mtime) — the quantizedCache
    * pattern: the curate → decontaminate → mix chain is deterministic
    * per corpus version, so its pinned result is INDEX-BUILD-class work
    * (pay once per corpus version, serve every later invocation), not
    * per-call work. Superseded versions are evicted with their blocks
    * released. */
  private val trainMixStageCache =
    new StampedCache[Unit, DataFrame](Tables.unpinCheckpoint)

  /** Clean-stage pins (gates + exact dedup + decontamination), keyed
    * like [[trainMixStageCache]] and SHARED by both training
    * pipelines (C15 budget mix, C26 epoch mix) — the expensive
    * curation lineage runs once per corpus version no matter which
    * pipelines consume it. Kept pinned while current (evicted with
    * blocks released on a stamp change): a second pipeline arriving
    * later must not re-run curation because the first one finished. */
  private val cleanStageCache =
    new StampedCache[Unit, DataFrame](Tables.unpinCheckpoint)

  /** The shared curation front half: language/quality gates + exact
    * dedup over the train split, benchmark decontamination against
    * the held-out split — pinned per (corpus, mtime). Emits the
    * NARROW counted frame (doc_id, source, n_tokens): the tokenizer
    * runs exactly once here, and the pin holds three thin columns
    * instead of a full text-corpus copy. Pin rationale: the mix and
    * pack
    * prefix sums each probe eagerly AND re-read lazily, so without a
    * pin this lineage would execute ~4× per pipeline. Eager
    * localCheckpoint runs it once and serves the rest from blocks; at
    * cluster scale with preemptible executors, write the stage to
    * parquet instead — the connectedComponents durability note
    * applies verbatim. */
  private def cleanStage(spark: SparkSession, sfDir: String): DataFrame = {
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    cleanStageCache(sfDir, stamp, ()) {
      val docs = Tables.documents(spark, sfDir)
      val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val curatedDocs = train.join(
        curateExact(train).select(col("doc_id")), Seq("doc_id"), "left_semi")
      // tokenize ONCE here and pin only the narrow counted frame: the
      // text column is dead weight past this point (both pipelines
      // consume counts), so pinning it would hold a full corpus copy
      // in block storage and each consumer would re-run the tokenizer
      decontaminate(curatedDocs, bench)
        .withColumn("n_tokens", size(TextAnalysis.tokens()).cast("long"))
        .select(col("doc_id"), col("source"), col("n_tokens"))
        .localCheckpoint(true)
    }
  }

  def pipelineTrainMix(spark: SparkSession, sfDir: String,
      seqLen: Int = 2048): DataFrame = {
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    val mixed = trainMixStageCache(sfDir, stamp, ())(
      mixSampleFromCounts(cleanStage(spark, sfDir), "source",
        Map("src1" -> 500L), defaultBudget = 800L).localCheckpoint(true))
    packFromCounts(mixed, seqLen, keep = Seq("source"))
  }

  val pipelineTrainMixSql: String =
    """WITH train AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
      |gated AS (
      |  SELECT doc_id, source, text,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS n_tokens,
      |    CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS DOUBLE)
      |      / len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS uniq_ratio
      |  FROM train
      |  WHERE list_contains(['en', 'de', 'es', 'fr', 'zh'], lang)),
      |ranked AS (
      |  SELECT doc_id, source, n_tokens,
      |    ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      |  FROM gated WHERE n_tokens >= 10 AND uniq_ratio >= 0.3),
      |curated AS (
      |  SELECT doc_id, source, n_tokens FROM ranked WHERE rn = 1),
      |toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, array_to_string(t[i:i+12], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(t) - 12)) AS u(i)
      |  WHERE len(t) >= 13),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
      |cont AS (
      |  SELECT DISTINCT doc_id FROM g
      |  WHERE doc_id % 10 <> 0 AND gram IN (SELECT gram FROM bench)),
      |clean AS (
      |  SELECT * FROM curated
      |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
      |mixed AS (
      |  SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca
      |  FROM clean),
      |kept AS (
      |  SELECT doc_id, source, n_tokens FROM mixed
      |  WHERE ca <= CASE source WHEN 'src1' THEN 500 ELSE 800 END),
      |packed AS (
      |  SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cb
      |  FROM kept)
      |SELECT doc_id, source, n_tokens,
      |  CAST(cb // 2048 AS BIGINT) AS seq_id,
      |  CAST(cb % 2048 AS BIGINT) AS seq_offset
      |FROM packed ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- C26
  /** The EPOCH-WEIGHTED end-to-end training flow — C15 with the
    * production back half: shared clean stage (gates + exact dedup +
    * decontamination, pinned once per corpus version) → epoch-weighted
    * repetition (C24: whole repeats + deterministic fractional
    * lottery) → GLOBAL SEEDED SHUFFLE of the (doc, epoch) replicas →
    * sequence packing in shuffled order (C13's two-pass prefix sum
    * keyed by the shuffle key instead of doc_id). Shuffle-before-pack
    * is the production order: packing in doc order would put a doc's
    * epochs in adjacent sequences and neighboring crawl docs in the
    * same batch. Every stage is integer/decimal-deterministic, so the
    * WHOLE composition hash-checks against DuckDB.
    *
    * rep_id packs (doc, epoch) into one long (epochs < 8, ids < 2⁶⁰ —
    * ANSI throws loudly on overflow rather than wrapping); the LCG
    * over rep_id is bijective, so shuffle keys are unique and the
    * prefix-sum order is total. */
  def pipelineTrainEpochs(spark: SparkSession, sfDir: String,
      seqLen: Int = 2048, packSeed: Long = 5L): DataFrame = {
    val reps = mixEpochs(cleanStage(spark, sfDir), "source",
      Map("src1" -> 2.5, "src2" -> 0.5), keep = Seq("n_tokens"))
    val keyed = reps
      .withColumn("rep_id", col("doc_id") * 8 + col("epoch_idx"))
      .withColumn("shuffle_key", shuffleKey(col("rep_id"), packSeed))
    Scale.stratifiedPrefixSum(keyed.withColumn("__s", lit("all")), "__s",
        "shuffle_key", "n_tokens", "__ca", 1024)
      .withColumn("__cb", col("__ca") - col("n_tokens"))
      .select(col("doc_id"), col("epoch_idx"), col("source"),
        col("n_tokens"), col("shuffle_key"),
        expr(s"__cb div $seqLen").as("seq_id"),
        expr(s"__cb % $seqLen").as("seq_offset"))
      .orderBy(col("shuffle_key"))
  }

  val pipelineTrainEpochsSql: String =
    """WITH train AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
      |gated AS (
      |  SELECT doc_id, source, text,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS n_tokens,
      |    CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS DOUBLE)
      |      / len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS uniq_ratio
      |  FROM train
      |  WHERE list_contains(['en', 'de', 'es', 'fr', 'zh'], lang)),
      |ranked AS (
      |  SELECT doc_id, source, n_tokens,
      |    ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      |  FROM gated WHERE n_tokens >= 10 AND uniq_ratio >= 0.3),
      |curated AS (
      |  SELECT doc_id, source, n_tokens FROM ranked WHERE rn = 1),
      |toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, array_to_string(t[i:i+12], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(t) - 12)) AS u(i)
      |  WHERE len(t) >= 13),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
      |cont AS (
      |  SELECT DISTINCT doc_id FROM g
      |  WHERE doc_id % 10 <> 0 AND gram IN (SELECT gram FROM bench)),
      |clean AS (
      |  SELECT * FROM curated
      |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
      |w AS (
      |  SELECT doc_id, source, n_tokens,
      |    CAST(CASE source WHEN 'src1' THEN 2.5 WHEN 'src2' THEN 0.5
      |         ELSE 1.0 END AS DOUBLE) AS wt,
      |    ((doc_id + 7)::HUGEINT * 6364136223846793005
      |      + 1442695040888963407) % 18446744073709551616 AS u
      |  FROM clean),
      |r AS (
      |  SELECT doc_id, source, n_tokens,
      |    CAST(FLOOR(wt) AS BIGINT) +
      |      CASE WHEN u // 4294967296
      |        < CAST(FLOOR((wt - FLOOR(wt)) * 4294967296) AS BIGINT)
      |      THEN 1 ELSE 0 END AS nreps
      |  FROM w),
      |x AS (
      |  SELECT doc_id, source, n_tokens, CAST(e AS BIGINT) AS epoch_idx
      |  FROM r, UNNEST(generate_series(0, CAST(nreps AS BIGINT) - 1)) AS g(e)
      |  WHERE nreps > 0),
      |k AS (
      |  SELECT doc_id, epoch_idx, source, n_tokens,
      |    ((doc_id * 8 + epoch_idx + 5)::HUGEINT * 6364136223846793005
      |      + 1442695040888963407) % 18446744073709551616 AS u2
      |  FROM x),
      |s AS (
      |  SELECT doc_id, epoch_idx, source, n_tokens,
      |    CAST(CASE WHEN u2 >= 9223372036854775808
      |         THEN u2 - 18446744073709551616 ELSE u2 END AS BIGINT)
      |      AS shuffle_key
      |  FROM k),
      |c AS (
      |  SELECT *,
      |    SUM(n_tokens) OVER (ORDER BY shuffle_key
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cb
      |  FROM s)
      |SELECT doc_id, epoch_idx, source, n_tokens, shuffle_key,
      |  CAST(cb // 2048 AS BIGINT) AS seq_id,
      |  CAST(cb % 2048 AS BIGINT) AS seq_offset
      |FROM c ORDER BY shuffle_key""".stripMargin

  // ------------------------------------------------------------- C18
  /** PER-SOURCE QUALITY RANK CUT — keep each source's top `num/den`
    * fraction of docs by score (floor(num·n/den) ranks, ordered score
    * DESC then doc_id for determinism). This is the relative-threshold
    * curation gate: absolute score gates (C6a's `n_tokens >= 10`)
    * over-prune low-resource sources and under-prune spammy ones; the
    * rank cut keeps the best X% of EVERY source. Score here is the
    * shared word tokenizer's count — a pure integer, so the keep
    * predicate (`rank·den <= n·num`) is integer-exact on both engines;
    * `CEIL(0.8·n)` would hash-diverge (0.8 has no exact binary form —
    * DuckDB and the JVM can round the product differently at tie
    * points).
    *
    * Scale shape: ranks come from [[Scale.stratifiedPrefixSum]] over a
    * composite order key, NOT `row_number() over (partition by source
    * order by …)` — the naive window gives every source ONE task, so a
    * dominant source serializes exactly like C13/C14's motivating
    * case. The key packs (score DESC, doc_id ASC) into one long:
    * (maxScore − score)·2⁴⁰ + doc_id, with the packing's headroom
    * (score span < 2²², doc_id < 2⁴⁰ ≈ 10¹² docs, non-negative)
    * checked eagerly against the corpus' own min/max — refuse loudly,
    * never wrap silently (ANSI mode would throw mid-job anyway). The
    * per-source totals are a tiny count-by-source broadcast. */
  def qualityRankCut(docs: DataFrame, num: Int = 4, den: Int = 5,
      buckets: Int = 1024): DataFrame = {
    require(num >= 0 && den >= 1 && num <= den,
      s"keep fraction $num/$den must be within [0, 1]")
    // PINNED narrow projection (doc_id, source, score — no text): the
    // tokenizer otherwise re-runs in every consumer of this lineage —
    // the guard agg, the per-source totals, the prefix subtotal job,
    // and the output pass each executed it (measured r17; the r16
    // fan-out experiment attacked the same slot from the wrong side
    // and was reverted — the waste was re-EVALUATION, not scan
    // serialism). One probe agg then serves guard + span + null
    // checks (the budgetSelect fusion).
    val scored = docs.select(col("doc_id"), col("source"),
      size(TextAnalysis.tokens()).cast("long").as("score"))
      .localCheckpoint(true)
    val r = scored.agg(max(col("score")), min(col("score")),
      min(col("doc_id")), max(col("doc_id")),
      count(when(col("score").isNull || col("doc_id").isNull, lit(1))),
      count(when(col("source").isNull, lit(1)))).head()
    if (r.isNullAt(0) && r.getLong(4) == 0L) return scored.limit(0)
    require(r.getLong(4) == 0L,
      s"qualityRankCut: ${r.getLong(4)} rows have null score or doc_id " +
        "— null keys cannot be placed in the rank order")
    require(r.getLong(5) == 0L,
      s"qualityRankCut: ${r.getLong(5)} rows have null source — null " +
        "strata cannot join their bucket base; fill or filter them first")
    val (maxScore, minScore) = (r.getLong(0), r.getLong(1))
    val (minId, maxId) = (r.getLong(2), r.getLong(3))
    // the doc_id bound is a COLLISION guard, not just overflow: an id
    // ≥ 2^40 would alias into the next score's key range and rank
    // silently wrong, so refuse it even though ANSI wouldn't throw
    require(maxScore - minScore < (1L << 22) && minId >= 0 && maxId < (1L << 40),
      s"qualityRankCut key packing needs score span < 2^22 and doc_id in " +
        s"[0, 2^40); got span ${maxScore - minScore}, ids [$minId, $maxId]")
    val keyed = scored.withColumn("__ord",
      (lit(maxScore) - col("score")) * lit(1L << 40) + col("doc_id"))
    val totals = scored.groupBy("source").agg(count(lit(1)).as("__n"))
    Scale.stratifiedPrefixSumBounded(keyed.withColumn("__one", lit(1L)),
        "source", "__ord", "__one", "__rnk", buckets, minId,
        (maxScore - minScore) * (1L << 40) + maxId)
      .join(broadcast(totals), "source")
      .filter(col("__rnk") * den <= col("__n") * num)
      .select(col("doc_id"), col("source"), col("score"))
      .orderBy(col("source"), col("score").desc, col("doc_id"))
  }

  def qualityRankCutQuery(spark: SparkSession, sfDir: String): DataFrame =
    qualityRankCut(Tables.documents(spark, sfDir))

  val qualityRankCutSql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS score
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, score,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY score DESC, doc_id) AS rnk,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM t)
      |SELECT doc_id, source, score FROM r
      |WHERE rnk * 5 <= n * 4
      |ORDER BY source, score DESC, doc_id""".stripMargin

  // ---------------------------------------------------------------- C30
  /** Token-window CHUNKING — the retrieval/embedding prep staple (every
    * RAG index and long-context embedding pipeline cuts documents into
    * overlapping windows before embedding): fixed `size`-token chunks
    * starting every `size − overlap` tokens, the last window keeping
    * the tail. Pure per-row arithmetic — tokenize once, derive the
    * chunk count, explode a projected index sequence (attribute, not
    * expression — the Generate codegen rule), slice per chunk. ZERO
    * shuffle; output rows are (doc, chunk) with token offsets, so the
    * chunk table feeds the D-family embed+index flow unchanged.
    * Token-free docs produce no chunks (nothing to embed). */
  def chunkDocuments(docs: DataFrame, size: Int = 32,
      overlap: Int = 8): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap($overlap) < size($size)")
    val stride = size - overlap
    docs
      .withColumn("toks", TextAnalysis.tokens())
      .withColumn("n_tokens", org.apache.spark.sql.functions.size(col("toks")).cast("long"))
      .filter(col("n_tokens") > 0)
      // ceil((n - overlap) / stride) starts, floored at 1: every token
      // is covered, consecutive chunks share `overlap` tokens, a short
      // doc is one whole chunk
      .withColumn("n_chunks", greatest(lit(1L),
        expr(s"(n_tokens - $overlap + ${stride - 1}) div $stride")))
      .withColumn("seq", expr("sequence(0, n_chunks - 1)"))
      .select(col("doc_id"), col("toks"), col("n_tokens"),
        explode(col("seq")).as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        col("start_tok"),
        least(lit(size.toLong), col("n_tokens") - col("start_tok"))
          .cast("int").as("chunk_tokens"),
        array_join(slice(col("toks"), (col("start_tok") + 1).cast("int"),
          lit(size)), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  def chunkDocumentsQuery(spark: SparkSession, sfDir: String): DataFrame =
    chunkDocuments(Tables.documents(spark, sfDir))

  val chunkDocumentsSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, toks, n,
      |    greatest(1, (n - 8 + 23) // 24) AS n_chunks
      |  FROM t WHERE n > 0),
      |x AS (
      |  SELECT doc_id, toks, n,
      |    unnest(range(0, n_chunks)) AS chunk_idx
      |  FROM c)
      |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
      |  chunk_idx * 24 AS start_tok,
      |  CAST(least(32, n - chunk_idx * 24) AS INT) AS chunk_tokens,
      |  array_to_string(list_slice(toks, CAST(chunk_idx * 24 + 1 AS INT),
      |    CAST(least(chunk_idx * 24 + 32, n) AS INT)), ' ') AS chunk_text
      |FROM x ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- C28
  /** Token-BUDGET selection: greedily fill a fixed token budget with
    * the highest-quality documents — the "we can afford N tokens of
    * pretraining data" cut, where C18 cuts a per-source FRACTION.
    * Quality is the E2 composite ([[TextAnalysis.textQualityOf]] — one
    * definition, shared), quantized to an integer micro-score
    * (floor(score·1e6)) so the selection ORDER is pure integer
    * comparison in both engines — no double-ordering parity risk —
    * and so the (score, doc_id) order packs into the C18 key layout.
    * The running token total uses the same scale shape as C18:
    * [[Scale.stratifiedPrefixSum]] over one stratum — bucketed
    * map-side partials + a broadcast prefix base, NO global-sort
    * single-partition window. A doc is kept iff the budget was not
    * exhausted BEFORE it (cum − own < budget): deterministic greedy
    * prefix, including the one straddling document. */
  def budgetSelect(docs: DataFrame, budgetTokens: Long = 15000,
      buckets: Int = 1024): DataFrame = {
    require(budgetTokens >= 0, s"budget $budgetTokens must be >= 0")
    // Token-free docs (CJK/emoji/punctuation-only or empty) score NULL
    // quality (divide-by-zero → NULL): drop them HERE, explicitly — a
    // NULL __ord key would fail stratifiedPrefixSum's null-key check,
    // while the oracle and the budgetSelectStream twin (quality floor
    // filter) both drop such docs. One explicit filter on both sides
    // keeps the three formulations aligned.
    // PINNED (the lm_buckets finding): the id-span require plus the
    // prefix sum's internal consumers (span agg, bucket subtotals,
    // base join) would each re-run the regex-heavy quality-score tail
    // — 3-4× the E2 cost. Pinned size is three narrow columns per doc.
    budgetSelectFromScored(
      TextAnalysis.textQualityOf(docs)
        .select(col("doc_id"), col("n_tokens"),
          floor(col("quality_score") * 1e6).cast("long").as("q6"))
        .filter(col("q6").isNotNull),
      budgetTokens, buckets)
  }

  /** The C28 selection kernel over ANY scored (doc_id, n_tokens, q6)
    * frame — the pluggable-counts seam (C49's, applied to selection):
    * the quality ORDER and the budget DENOMINATION are independent
    * knobs, so a caller can rank by the E2 composite while budgeting
    * in BPE pieces, billed tokens, or bytes. Pins the scored frame
    * before the span probe + both prefix passes re-read it. */
  def budgetSelectFromScored(scoredIn: DataFrame, budgetTokens: Long,
      buckets: Int = 1024): DataFrame = {
    require(budgetTokens >= 0, s"budget $budgetTokens must be >= 0")
    val scored = scoredIn.localCheckpoint(true)
    // ONE probe aggregate serves both the key-packing guard AND the
    // prefix sum's span (previously two full-frame agg jobs per call —
    // this one also carries the null counts the prefix-sum contract
    // checks, so nothing is certified that wasn't measured): q6 bounds
    // give covering __ord bounds ((1e6−q6)·2^40+doc_id is monotone in
    // −q6 and doc_id), and covering is all the bounded kernel needs —
    // the span only sizes buckets, and the result is bucket-count
    // invariant by contract.
    val r = scored.agg(min(col("doc_id")), max(col("doc_id")),
      count(when(col("doc_id").isNull || col("q6").isNull, lit(1))),
      min(col("q6")), max(col("q6"))).head()
    if (r.isNullAt(0) && r.getLong(2) == 0L)
      return scored.withColumn("cum_tokens", lit(0L)).limit(0)
    require(r.getLong(2) == 0L,
      s"budgetSelect: ${r.getLong(2)} rows have null doc_id or q6 — " +
        "null keys cannot be placed in the selection order")
    require(r.getLong(0) >= 0 && r.getLong(1) < (1L << 40),
      s"budgetSelect key packing needs doc_id in [0, 2^40); got " +
        s"[${r.getLong(0)}, ${r.getLong(1)}]")
    // q6 ∈ [0, 1e6] (the E2 score is a convex combination in [0, 1]),
    // so (1e6 - q6) spans < 2^22 and the C18 packing holds
    val keyed = scored.withColumn("__ord",
      (lit(1000000L) - col("q6")) * lit(1L << 40) + col("doc_id"))
      .withColumn("__all", lit("all"))
    val lo = (1000000L - r.getLong(4)) * (1L << 40) + r.getLong(0)
    val hi = (1000000L - r.getLong(3)) * (1L << 40) + r.getLong(1)
    Scale.stratifiedPrefixSumBounded(keyed, "__all", "__ord", "n_tokens",
        "cum_tokens", buckets, lo, hi)
      .filter(col("cum_tokens") - col("n_tokens") < budgetTokens)
      .select(col("doc_id"), col("n_tokens"), col("q6"), col("cum_tokens"))
      .orderBy(col("q6").desc, col("doc_id"))
  }

  def budgetSelectQuery(spark: SparkSession, sfDir: String): DataFrame =
    budgetSelect(Tables.documents(spark, sfDir))

  // ------------------------------------------------------------- C56
  /** BPE-PIECE budget selection — C28 with the budget denominated in
    * learned-tokenizer pieces: rank by the same E2 quality composite,
    * fill the budget by E27's per-doc piece counts. "We can afford N
    * tokens of pretraining data" means pieces the model will consume;
    * whitespace denomination admits MORE docs than the budget can
    * carry (pieces/token ≥ 1 everywhere), and the shortfall
    * concentrates on the OOV-heavy tail. One extra doc-keyed join vs
    * C28 (the cached E27 piece frame); the kernel, pinning, and scale
    * shape are [[budgetSelectFromScored]]'s verbatim. Rows-only: the
    * learned vocab is train-loop output (E26's reason); the spec pins
    * the admission divergence on a planted OOV doc. */
  def budgetSelectBpe(spark: SparkSession, sfDir: String,
      budgetPieces: Long = 15000, nMerges: Int = 30,
      buckets: Int = 1024): DataFrame =
    budgetSelectBpeOf(Tables.documents(spark, sfDir),
      TextAnalysis.bpeApply(spark, sfDir, nMerges),
      budgetPieces, buckets)

  /** C56 over arbitrary docs + a precomputed piece frame — the spec
    * entry (hand vocab → hand-checkable selection). */
  def budgetSelectBpeOf(docs: DataFrame, pieces: DataFrame,
      budgetPieces: Long, buckets: Int = 1024): DataFrame =
    budgetSelectPieceCounts(docs,
      pieces.select(col("doc_id"), col("bpe_pieces").as("n_tokens")),
      budgetPieces, buckets)

  // ------------------------------------------------------------- C56b
  /** UNIGRAM-PIECE budget selection — C56 with the tokenizer swapped
    * (E32b counts through the same scored prefix-sum), completing the
    * admission swap-proof alongside C55b/C57b: quality ORDER, budget
    * DENOMINATION, and now TOKENIZER are three independent knobs.
    * Rows-only (E26's reason); the spec pins the BPE-vs-unigram
    * selection shift on a doc the two tokenizers price differently. */
  def budgetSelectUnigram(spark: SparkSession, sfDir: String,
      budgetPieces: Long = 15000, vocabSize: Int = 512,
      buckets: Int = 1024): DataFrame =
    budgetSelectPieceCounts(Tables.documents(spark, sfDir),
      TextAnalysis.unigramApply(spark, sfDir, vocabSize)
        .select(col("doc_id"), col("unigram_pieces").as("n_tokens")),
      budgetPieces, buckets)

  /** C56b over arbitrary docs + a hand-fitted table (the spec entry). */
  def budgetSelectUnigramOf(docs: DataFrame, logp: Map[String, Double],
      maxPieceLen: Int, budgetPieces: Long,
      buckets: Int = 1024): DataFrame =
    budgetSelectPieceCounts(docs,
      TextAnalysis.unigramApplyOf(docs, logp, maxPieceLen)
        .select(col("doc_id"), col("unigram_pieces").as("n_tokens")),
      budgetPieces, buckets)

  /** The shared scored-selection seam all piece denominations feed —
    * ONE definition so the BPE and unigram budgets cannot drift. */
  private def budgetSelectPieceCounts(docs: DataFrame, counts: DataFrame,
      budgetPieces: Long, buckets: Int): DataFrame =
    budgetSelectFromScored(
      TextAnalysis.textQualityOf(docs)
        .select(col("doc_id"),
          floor(col("quality_score") * 1e6).cast("long").as("q6"))
        .filter(col("q6").isNotNull)
        .join(counts, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("q6")),
      budgetPieces, buckets)

  val budgetSelectSql: String =
    """WITH x AS (
      |  SELECT doc_id, text,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS punct_cnt
      |  FROM documents),
      |y AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(len(list_filter(toks, t -> list_contains(['the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'on'], t))) AS DOUBLE) / nullif(n_tokens, 0) AS stop_ratio,
      |    CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(n_tokens, 0) AS uniq_ratio,
      |    CAST(punct_cnt AS DOUBLE) / nullif(length(text), 0) AS punct_ratio
      |  FROM x),
      |q AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(floor((0.25 * stop_ratio + 0.25 * uniq_ratio
      |      + 0.25 * (1.0 - punct_ratio)
      |      + 0.25 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)) * 1e6) AS BIGINT) AS q6
      |  FROM y),
      |c AS (
      |  SELECT doc_id, n_tokens, q6,
      |    SUM(n_tokens) OVER (ORDER BY q6 DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      |  FROM q WHERE q6 IS NOT NULL)
      |SELECT doc_id, n_tokens, q6, CAST(cum_tokens AS BIGINT) AS cum_tokens
      |FROM c WHERE cum_tokens - n_tokens < 15000
      |ORDER BY q6 DESC, doc_id""".stripMargin

  val pipelineCurateSql: String =
    """WITH gated AS (
      |  SELECT doc_id, source, text,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
      |    CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS DOUBLE)
      |      / len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS uniq_ratio
      |  FROM documents
      |  WHERE list_contains(['en', 'de', 'es', 'fr', 'zh'], lang)),
      |ranked AS (
      |  SELECT doc_id, source, n_tokens,
      |    ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      |  FROM gated WHERE n_tokens >= 10 AND uniq_ratio >= 0.3)
      |SELECT doc_id, source, n_tokens FROM ranked
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- C37
  /** DSIR-style IMPORTANCE SCORING — data selection with importance
    * resampling (Xie et al. 2023, the public method behind
    * domain-targeted pretraining mixes): every raw document gets a log
    * importance weight log(p_target(x)/p_raw(x)) under hashed-bigram
    * bag-of-features models of a small TARGET domain vs the raw
    * corpus; high-weight documents "look like" the target and get
    * selected. Features are [[graft.functions.TextFunctions
    * .bigramBuckets]] — the PORTABLE hash pipeline into `nBuckets`
    * buckets (power of two: the mod-2⁶⁴ chain then reduces exactly in
    * both engines) — so the entire computation is oracle-checked:
    * bucket log-ratios are ln of exact-integer ratios (Laplace add-1
    * smoothing), identical IEEE in both engines (the E6 ln precedent),
    * and the per-doc sum Σ n_f·lr_f runs through DECIMAL(28,12)
    * quantized terms (the §4/jsd discipline) so it is order-free.
    *
    * Scale shape: ONE feature-extraction pass builds the per-(doc,
    * bucket) count frame (one corpus exchange, pinned — the bucket
    * count table, the totals probe and the weight join all read it);
    * bucket stats are a ≤ nBuckets frame that broadcasts; nothing
    * ever pairs documents. At 100 TB pin the count frame to parquet
    * instead of a local checkpoint; everything else is unchanged. */
  def dsirScore(spark: SparkSession, sfDir: String,
      targetSources: Seq[String] = Seq("src0", "src1"),
      nBuckets: Int = 4096): DataFrame =
    cachedDsirScored(spark, sfDir, targetSources, nBuckets)
      .select(col("doc_id"), col("source"),
        round(col("logw"), 6).as("dsir_logw"))
      .orderBy(col("doc_id"))

  /** Scored frames keyed by (corpus version, model params): scoring is
    * INDEX-BUILD work — a production pipeline scores a corpus version
    * once and then both reads (the score dump, the selection — and any
    * number of re-selections at different fractions) reuse it. Pinned
    * eagerly (3-column corpus-rows frame), evicted when a regenerated
    * corpus supersedes the stamp — the D6 quantizedCache discipline. */
  private val dsirCache =
    new StampedCache[(Seq[String], Int), DataFrame](Tables.unpinCheckpoint)

  private def cachedDsirScored(spark: SparkSession, sfDir: String,
      targetSources: Seq[String], nBuckets: Int): DataFrame = {
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    dsirCache(sfDir, stamp, (targetSources, nBuckets))(
      dsirScored(Tables.documents(spark, sfDir),
        col("source").isin(targetSources.map(x => x: Any): _*), nBuckets)
        .localCheckpoint(true))
  }

  /** The scoring kernel over an arbitrary docs frame (spec entry —
    * plant target-like and off-target docs): emits EVERY doc with its
    * unrounded log weight (feature-free docs at 0.0). */
  private[graft] def dsirScored(docs: DataFrame, isTarget: Column,
      nBuckets: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nBuckets >= 2 && (nBuckets & (nBuckets - 1)) == 0,
      s"nBuckets $nBuckets must be a power of two (the oracle's " +
        "mod-2^64 chain reduces exactly only then)")
    // one corpus pass: tokenize, hash, explode the ATTRIBUTE (the
    // round-7 Generate codegen rule), count per (doc, bucket)
    val nf = docs
      .select(col("doc_id"), isTarget.as("is_t"),
        graft.functions.TextFunctions.bigramBuckets(
          TextAnalysis.tokens("text"), nBuckets).as("bs"))
      .select(col("doc_id"), col("is_t"), explode(col("bs")).as("b"))
      .groupBy(col("doc_id"), col("is_t"), col("b"))
      .agg(count(lit(1)).as("nf"))
      // pinned: three consumers (bucket counts, the totals probe via
      // them, the weight join) — without the pin each re-runs the
      // tokenize+hash corpus pass
      .localCheckpoint(true)
    val counts = nf.groupBy($"b")
      .agg(sum($"nf").as("rc"),
        sum(when($"is_t", $"nf").otherwise(0L)).as("tc"))
      .localCheckpoint(true) // ≤ nBuckets rows; read twice
    val t = counts.agg(sum($"rc"), sum($"tc")).head()
    if (t.isNullAt(0))
      return docs.select(col("doc_id"), col("source"),
        lit(0.0).as("logw"))
    val (tr, tt) = (t.getLong(0), t.getLong(1))
    val lr = counts.select($"b",
      (log(($"tc" + 1L).cast("double") / lit((tt + nBuckets).toDouble)) -
        log(($"rc" + 1L).cast("double") / lit((tr + nBuckets).toDouble)))
        .as("lr"))
    val perDoc = nf
      .join(broadcast(lr), "b")
      .groupBy($"doc_id")
      .agg(sum(($"nf" * $"lr").cast("decimal(28,12)")).cast("double")
        .as("logw"))
    docs.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("logw"), lit(0.0)).as("logw"))
  }

  /** C37's SELECTION half: keep the top `num/den` fraction of the
    * corpus by DSIR weight — rank machinery is C18/C32's (weight
    * quantized to an integer micro-key, packed with doc_id, ranked
    * via stratifiedPrefixSum over a single stratum — no
    * single-partition window), so the cut runs at fleet width. */
  def dsirSelect(spark: SparkSession, sfDir: String,
      targetSources: Seq[String] = Seq("src0", "src1"),
      nBuckets: Int = 4096, num: Int = 1, den: Int = 5,
      buckets: Int = 1024): DataFrame = {
    import spark.implicits._
    require(num >= 0 && den >= 1 && num <= den,
      s"keep fraction $num/$den must be within [0, 1]")
    // the q4 projection's three consumers (span probe, prefix sum,
    // total) re-read the CACHED scored checkpoint — a map over pinned
    // rows, no second scoring pass and no second pin
    val scored = cachedDsirScored(spark, sfDir, targetSources, nBuckets)
      .select($"doc_id", $"source", $"logw",
        floor($"logw" * 1e4).cast("long").as("q4"))
    val r = scored.agg(max($"q4"), min($"q4"),
      min($"doc_id"), max($"doc_id")).head()
    if (r.isNullAt(0)) return scored.select($"doc_id", $"source",
      round($"logw", 6).as("dsir_logw")).limit(0)
    require(r.getLong(0) - r.getLong(1) < (1L << 22) &&
      r.getLong(2) >= 0 && r.getLong(3) < (1L << 40),
      s"dsirSelect key packing needs q4 span < 2^22 and doc_id in " +
        s"[0, 2^40); got span ${r.getLong(0) - r.getLong(1)}")
    val maxQ = r.getLong(0)
    val keyed = scored
      .withColumn("__ord", (lit(maxQ) - $"q4") * lit(1L << 40) + $"doc_id")
      .withColumn("__one", lit(1L))
      .withColumn("__s", lit("all"))
    val total = scored.agg(count(lit(1)).as("__n"))
    Scale.stratifiedPrefixSum(keyed, "__s", "__ord", "__one", "__rnk",
        buckets)
      .crossJoin(broadcast(total))
      .filter($"__rnk" * den <= $"__n" * num)
      .select($"doc_id", $"source", round($"logw", 6).as("dsir_logw"))
      .orderBy($"doc_id")
  }

  def dsirScoreSql(targetSources: Seq[String] = Seq("src0", "src1"),
      nBuckets: Int = 4096): String =
    s"""WITH $dsirScoredCtes
       |SELECT d.doc_id, d.source,
       |  ROUND(COALESCE(s.logw, 0.0), 6) AS dsir_logw
       |FROM documents d LEFT JOIN s USING (doc_id)
       |ORDER BY doc_id""".stripMargin
      .replace("__TGT__", targetSources.map(s => s"'$s'").mkString(", "))
      .replace("__B__", nBuckets.toString)

  def dsirSelectSql(targetSources: Seq[String] = Seq("src0", "src1"),
      nBuckets: Int = 4096, num: Int = 1, den: Int = 5): String =
    s"""WITH $dsirScoredCtes,
       |al AS (
       |  SELECT d.doc_id, d.source, COALESCE(s.logw, 0.0) AS logw
       |  FROM documents d LEFT JOIN s USING (doc_id)),
       |rk AS (
       |  SELECT doc_id, source, logw,
       |    ROW_NUMBER() OVER (ORDER BY
       |      CAST(FLOOR(logw * 1e4) AS BIGINT) DESC, doc_id) AS rnk,
       |    COUNT(*) OVER () AS n
       |  FROM al)
       |SELECT doc_id, source, ROUND(logw, 6) AS dsir_logw
       |FROM rk WHERE rnk * $den <= n * $num
       |ORDER BY doc_id""".stripMargin
      .replace("__TGT__", targetSources.map(s => s"'$s'").mkString(", "))
      .replace("__B__", nBuckets.toString)

  // ------------------------------------------------------------- C41
  /** MIX COMPOSITION audit — "did the mix I built match the weights I
    * asked for?": per source, the raw corpus mass (docs, tokens)
    * beside the achieved epoch-mix mass (distinct docs, epoch
    * instances, mix tokens) and the achieved token ratio vs the
    * REQUESTED weight. The achieved ratio converges to the requested
    * weight in expectation (each doc repeats ~w times under C24's
    * deterministic lottery); a gap is the observability signal this
    * report exists for (skewed doc lengths interacting with the
    * fractional lottery, a weight map missing a source). Sources
    * weighted to zero still appear — with zero achieved mass — rather
    * than silently vanishing from the audit. One tokenize scan
    * (pinned — both the raw and the mix rollup read it); everything
    * else is fleet-of-sources-sized. */
  def mixReport(spark: SparkSession, sfDir: String,
      weights: Map[String, Double] = Map("src1" -> 2.5, "src2" -> 0.5),
      defaultWeight: Double = 1.0, seed: Long = 7L): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val toks = Scale.fanOutScanLight(docs)
      .select($"doc_id", $"source",
        size(TextAnalysis.tokens()).cast("long").as("n_toks"))
      .localCheckpoint(true)
    val mix = mixEpochs(docs, "source", weights, defaultWeight, seed)
    val per = mix.join(toks.select($"doc_id", $"n_toks"), "doc_id")
      .groupBy($"source")
      .agg(countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_instances"),
        sum($"n_toks").as("mix_tokens"))
    val raw = toks.groupBy($"source")
      .agg(count(lit(1)).as("raw_docs"), sum($"n_toks").as("raw_tokens"))
    val wExpr = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (s, w)) => when($"source" === s, lit(w)).otherwise(acc)
    }
    raw.join(per, Seq("source"), "left")
      .na.fill(0L, Seq("n_docs", "n_instances", "mix_tokens"))
      .select($"source", $"raw_docs", $"raw_tokens",
        $"n_docs", $"n_instances", $"mix_tokens",
        round($"mix_tokens".cast("double") / $"raw_tokens".cast("double"), 6)
          .as("achieved_ratio"),
        wExpr.as("requested_weight"))
      .orderBy($"source")
  }

  def mixReportSql(weights: Map[String, Double] = Map("src1" -> 2.5,
      "src2" -> 0.5), defaultWeight: Double = 1.0): String = {
    val caseExpr = weights.toSeq.sortBy(_._1)
      .map { case (s, w) => s"WHEN '$s' THEN $w" }
      .mkString("CASE r.source ", " ", s" ELSE $defaultWeight END")
    s"""WITH m AS (SELECT * FROM ($mixEpochsSql)),
       |tk AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
       |      AS n_toks
       |  FROM documents),
       |per AS (
       |  SELECT tk.source, COUNT(DISTINCT m.doc_id) AS n_docs,
       |    COUNT(*) AS n_instances,
       |    CAST(SUM(tk.n_toks) AS BIGINT) AS mix_tokens
       |  FROM m JOIN tk USING (doc_id) GROUP BY tk.source),
       |raw AS (
       |  SELECT source, COUNT(*) AS raw_docs,
       |    CAST(SUM(n_toks) AS BIGINT) AS raw_tokens
       |  FROM tk GROUP BY source)
       |SELECT r.source, raw_docs, raw_tokens,
       |  COALESCE(n_docs, 0) AS n_docs,
       |  COALESCE(n_instances, 0) AS n_instances,
       |  COALESCE(mix_tokens, 0) AS mix_tokens,
       |  ROUND(CAST(COALESCE(mix_tokens, 0) AS DOUBLE)
       |    / CAST(raw_tokens AS DOUBLE), 6) AS achieved_ratio,
       |  CAST($caseExpr AS DOUBLE) AS requested_weight
       |FROM raw r LEFT JOIN per ON r.source = per.source
       |ORDER BY r.source""".stripMargin
  }

  // ------------------------------------------------------------- C62
  /** DOMAIN REWEIGHTING BY EXCESS LOSS — the DoReMi-shaped step the
    * mix family was missing: C14/C24 APPLY a given mixture, C41
    * audits one, but nothing DERIVED weights from the data. The
    * published recipe reweights domains by the proxy model's excess
    * loss over a reference; this is its n-gram instantiation built
    * from engine primitives (the C60 move — published pipeline shape,
    * engine-native estimator, simplification stated): per source,
    * excess = cross-entropy of the source's token stream under the
    * CORPUS add-1 unigram LM minus under the SOURCE-LOCAL one —
    * KL(p_s ‖ P_corpus) − KL(p_s ‖ P_s), which is the source's KL to
    * the mixture for any source big enough that its own smoothed LM
    * fits it (NO sign guarantee for tiny sources, where add-1
    * flattens the self-LM below the corpus fit — honest, and
    * harmless: such a source reads as mixture-typical and is
    * down-weighted). A source the global mixture models much worse
    * than its own LM is distinctive / under-represented and gets
    * upweighted by one exponentiated-gradient step: w' ∝ w ·
    * exp(η·excess), normalized. η = 0 is the identity; iterate by
    * feeding achieved mixes back through.
    *
    * ORACLE-CHECKED end-to-end — the parity ledger: ln and exp are
    * bit-identical across engines on this machine (exp's input is the
    * 6-decimal-rounded excess, so both engines exponentiate the same
    * double); per-term CE contributions quantize to DECIMAL(28,12)
    * before the order-free sum (the C60 rule); the normalizer is a
    * DECIMAL sum of per-source unnormalized weights. Scale shape: ONE
    * tokenize pass to the pinned (source, term, count) frame — per-
    * term work is two log-ratio products, the only exchanges are the
    * (source, term) count and the source rollup; the normalizing
    * window runs over ≤ #sources rows (single partition is the
    * point, not a bottleneck); the result detaches as a ≤#sources
    * local relation and the corpus-scale pins release before return,
    * so repeated invocations (MixBoard's regroup cadence) leak
    * nothing. */
  def mixReweight(spark: SparkSession, sfDir: String,
      eta: Double = 1.0): DataFrame =
    mixReweightOf(Tables.documents(spark, sfDir), "source", eta)

  /** C62 over arbitrary docs — the spec entry (a planted distinctive
    * source makes the direction hand-checkable). */
  def mixReweightOf(docs: DataFrame, sourceCol: String,
      eta: Double = 1.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tc = docs.select(col(sourceCol).cast("string").as("src"),
        explode(TextAnalysis.tokens("text")).as("term"))
      .groupBy($"src", $"term").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // corpus totals + source totals + CE terms
    // every pin releases in the finally below — early returns and
    // mid-flight failures included (the r12 leak-sweep rule)
    val pins = scala.collection.mutable.ArrayBuffer(tc)
    try {
    val totals = tc.groupBy($"term").agg(sum($"c").as("ct"))
      .localCheckpoint(true)
    pins += totals
    val vnRow = totals.agg(count(lit(1)), sum($"ct")).head()
    // detached from the pinned intermediates: the empty path must not
    // reference blocks the finally releases
    val empty = spark.range(0).select(lit("").as("source"),
      lit(0L).as("n_docs"), lit(0L).as("n_tokens"),
      lit(0.0).as("ce_corpus"), lit(0.0).as("ce_self"),
      lit(0.0).as("excess"), lit(0.0).as("weight_old"),
      lit(0.0).as("weight_new"))
    if (vnRow.isNullAt(1)) return empty
    val (v, n) = (vnRow.getLong(0), vnRow.getLong(1))
    // ≤ #sources rows — COLLECT instead of pin+count (two jobs → one;
    // the local relation broadcasts into the CE join below, and the
    // source count is its length, job-free)
    val stRows = tc.groupBy($"src").agg(sum($"c").as("ns")).collect()
      .map(x => (x.getString(0), x.getLong(1))).toSeq
    val st = stRows.toDF("src", "ns")
    val wOld = 1.0 / stRows.length
    val agg = tc
      .join(totals, Seq("term"))
      .join(st, Seq("src"))
      .select($"src", $"ns",
        (-$"c" * log(($"ct" + 1L).cast("double") / lit((n + v).toDouble)))
          .cast("decimal(28,12)").as("xc"),
        (-$"c" * log(($"c" + 1L).cast("double") / ($"ns" + v).cast("double")))
          .cast("decimal(28,12)").as("xs"))
      .groupBy($"src", $"ns")
      .agg(sum($"xc").as("sc"), sum($"xs").as("ss"))
    val e = agg.select($"src", $"ns",
      round($"sc".cast("double") / $"ns", 6).as("ce_corpus"),
      round($"ss".cast("double") / $"ns", 6).as("ce_self"),
      // excess rounds the RAW difference (not the difference of the
      // display roundings) — this rounded value is exp's input, the
      // engine-portable handoff point
      round($"sc".cast("double") / $"ns" - $"ss".cast("double") / $"ns", 6)
        .as("excess"))
    val u = e.withColumn("unnorm",
      (lit(wOld) * exp(lit(eta) * $"excess")).cast("decimal(28,12)"))
    // ≤ #sources rows ride this window — single partition by design
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val nd = docs.groupBy(col(sourceCol).cast("string").as("src"))
      .agg(count(lit(1)).as("n_docs"))
    val out = u.withColumn("total", sum($"unnorm").over(w))
      .join(nd, Seq("src"))
      .select($"src".as("source"), $"n_docs", $"ns".as("n_tokens"),
        $"ce_corpus", $"ce_self", $"excess",
        round(lit(wOld), 6).as("weight_old"),
        round($"unnorm".cast("double") / $"total".cast("double"), 6)
          .as("weight_new"))
      .orderBy($"source")
    // detach the result (≤ #sources rows — bounded by construction,
    // the centroid/vocab-collect class) as a local relation so the
    // finally can release the corpus-scale intermediates: without
    // this every invocation (MixBoard re-runs it per regroup trigger)
    // pins three vocabulary-scale block sets for the JVM's life — the
    // pagerankOf leak class this changeset closes
    val rows = out.collect().toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), out.schema)
    } finally pins.foreach(graft.Tables.unpinCheckpoint)
  }

  def mixReweightSql(eta: Double = 1.0): String =
    s"""WITH tok AS (
       |  SELECT source AS src,
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM documents),
       |tc AS (SELECT src, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
       |tot AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ct FROM tc GROUP BY term),
       |vn AS (SELECT COUNT(*) AS v, CAST(SUM(ct) AS BIGINT) AS n FROM tot),
       |st AS (SELECT src, CAST(SUM(c) AS BIGINT) AS ns FROM tc GROUP BY src),
       |nd AS (SELECT source AS src, COUNT(*) AS n_docs
       |  FROM documents GROUP BY source),
       |x AS (
       |  SELECT tc.src, st.ns,
       |    CAST(-tc.c * ln(CAST(tot.ct + 1 AS DOUBLE)
       |      / CAST(vn.n + vn.v AS DOUBLE)) AS DECIMAL(28,12)) AS xc,
       |    CAST(-tc.c * ln(CAST(tc.c + 1 AS DOUBLE)
       |      / CAST(st.ns + vn.v AS DOUBLE)) AS DECIMAL(28,12)) AS xs
       |  FROM tc JOIN tot USING (term) JOIN st ON st.src = tc.src, vn),
       |agg AS (SELECT src, ns, SUM(xc) AS sc, SUM(xs) AS ss
       |  FROM x GROUP BY src, ns),
       |cnt AS (SELECT COUNT(*) AS s FROM st),
       |e AS (
       |  SELECT src, ns,
       |    ROUND(CAST(sc AS DOUBLE) / ns, 6) AS ce_corpus,
       |    ROUND(CAST(ss AS DOUBLE) / ns, 6) AS ce_self,
       |    ROUND(CAST(sc AS DOUBLE) / ns
       |      - CAST(ss AS DOUBLE) / ns, 6) AS excess
       |  FROM agg),
       |u AS (
       |  SELECT src, ns, ce_corpus, ce_self, excess,
       |    CAST((1.0 / cnt.s) * exp($eta * excess) AS DECIMAL(28,12)) AS unnorm,
       |    ROUND(1.0 / cnt.s, 6) AS weight_old
       |  FROM e, cnt)
       |SELECT u.src AS source, nd.n_docs, u.ns AS n_tokens,
       |  ce_corpus, ce_self, excess, weight_old,
       |  ROUND(CAST(unnorm AS DOUBLE)
       |    / CAST(SUM(unnorm) OVER () AS DOUBLE), 6) AS weight_new
       |FROM u JOIN nd ON nd.src = u.src
       |ORDER BY source""".stripMargin

  // ------------------------------------------------------------- C62b
  /** DERIVE → APPLY, closed: C62's learned weights converted to
    * per-source token budgets (floor(weight·totalTokens)) and fed
    * straight into the C14 admission kernel — the loop a mix owner
    * actually runs ("reweight by what the data says, then cut the
    * corpus to it") as ONE entry, so the derive step can never drift
    * from the apply step's expectations. Differs from C14 only in
    * where budgets come from: a ≤#sources learned frame (broadcast
    * into the prefix-sum output) instead of a hand Map. Oracle-checked
    * end-to-end: C62's SQL is spliced as a CTE, the budget conversion
    * is floor of a double product of engine-identical inputs, and the
    * admission is C14's integer-exact cumulative rule. */
  def mixReweightApply(spark: SparkSession, sfDir: String,
      totalTokens: Long = 20000, eta: Double = 1.0): DataFrame = {
    require(totalTokens >= 0, s"totalTokens $totalTokens must be >= 0")
    val docs = Tables.documents(spark, sfDir)
    val budgets = mixReweight(spark, sfDir, eta)
      .select(col("source"),
        floor(col("weight_new") * totalTokens).cast("long").as("budget"))
    // narrow projection + pin: only the four output scalars cross the
    // pin (text stays below it, read once by the tokenizer), and the
    // prefix-sum kernel's two passes read pinned blocks instead of
    // re-tokenizing the corpus per pass (the mixSamplePieceCounts
    // finding)
    mixSampleBudgetFrame(
      docs.select(col("doc_id"), col("lang"), col("source"),
          size(TextAnalysis.tokens()).cast("long").as("n_tokens"))
        .localCheckpoint(true),
      "source", budgets)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** The C14 kernel with budgets as a FRAME (stratum, budget) instead
    * of a Map — the seam every learned budget source feeds. The
    * budget frame is stratum-sized, so it broadcasts into the
    * prefix-sum output; admission stays the integer-exact cumulative
    * rule. Strata ABSENT from the frame take `defaultBudget` (the
    * mixSampleFromCounts contract — an inner join would silently drop
    * them: a learned frame can genuinely miss a stratum, e.g. C62
    * never emits a source whose docs all tokenize empty). */
  def mixSampleBudgetFrame(counts: DataFrame, stratumCol: String,
      budgets: DataFrame, defaultBudget: Long = 0L,
      orderCol: String = "doc_id"): DataFrame =
    Scale.stratifiedPrefixSum(counts, stratumCol, orderCol, "n_tokens",
        "__ca")
      .join(broadcast(budgets.select(col(stratumCol), col("budget"))),
        Seq(stratumCol), "left")
      .filter(col("__ca") <= coalesce(col("budget"), lit(defaultBudget)))
      .drop("__ca", "budget")

  def mixReweightApplySql(totalTokens: Long = 20000,
      eta: Double = 1.0): String =
    s"""WITH rw AS (%RW%),
       |b AS (SELECT source,
       |  CAST(floor(weight_new * $totalTokens) AS BIGINT) AS budget
       |  FROM rw),
       |t AS (
       |  SELECT doc_id, lang, source,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents),
       |ca AS (
       |  SELECT *, SUM(n_tokens) OVER (
       |    PARTITION BY source ORDER BY doc_id) AS cum
       |  FROM t)
       |SELECT doc_id, lang, source, n_tokens
       |FROM ca LEFT JOIN b USING (source)
       |WHERE cum <= COALESCE(budget, 0)
       |ORDER BY doc_id""".stripMargin
      .replace("%RW%", mixReweightSql(eta))

  // ------------------------------------------------------------- C62d
  /** ITERATED DOMAIN REWEIGHTING — C62 run to a FIXPOINT (the r12
    * verdict's #4): DoReMi iterates reweight→resample until the
    * mixture settles; C62 took exactly ONE exponentiated-gradient
    * step. This is the bounded-rounds driver (the D32 pattern:
    * hard cap + tolerance stop), with the resample step expressed
    * DISTRIBUTIONALLY — instead of physically cutting the corpus per
    * round, the reference LM each round is the weight-MIXTURE of the
    * per-source add-1 unigram LMs, P_mix(term) = Σ_s w_s·p_s(term),
    * so "resample to the new weights" = "re-mix the reference" (the
    * same estimator move C62 states for the one-step version; the
    * round-1 reference therefore differs from C62's POOLED-count LM —
    * a uniform mixture of per-source LMs, not a pooled estimate —
    * which is why the final round is NOT C62's SQL and the entry is
    * rows-only: the iteration is also inherently recursive, outside
    * one SQL query).
    *
    * Update rule per round: excess_s = CE(p̂_s ‖ P_mix) − CE(p̂_s ‖
    * p_s) rounded to 6 decimals (the C62 handoff discipline), w' ∝
    * w·exp(η·excess), normalized; stop when the L1 weight delta ≤
    * `tol` or after `maxRounds`. The fixpoint is self-balancing: a
    * distinctive source gains weight, the mixture drifts toward it,
    * its excess falls — the iteration CONCENTRATES excess losses
    * toward equality (the spec pins the spread shrinking on a planted
    * skewed corpus).
    *
    * Scale shape: ONE tokenize pass to the pinned (src, term, count)
    * frame (C62's); ce_self is round-invariant and computed once;
    * each round is one broadcast join of the ≤#sources weight frame +
    * one term-keyed exchange over the pinned counts + a ≤#sources
    * collect. Emitted rows are rounds × sources — driver-bounded by
    * construction; all pins release in the finally. */
  def mixReweightIterate(spark: SparkSession, sfDir: String,
      eta: Double = 1.0, maxRounds: Int = 5,
      tol: Double = 1e-4): DataFrame =
    mixReweightIterateOf(Tables.documents(spark, sfDir), "source",
      eta, maxRounds, tol)

  /** C62d over arbitrary docs — the spec entry. Output: one row per
    * (round, source) for every round RUN, with the round's L1 delta
    * stamped on each row (the stop evidence, driver-visible). */
  def mixReweightIterateOf(docs: DataFrame, sourceCol: String,
      eta: Double = 1.0, maxRounds: Int = 5,
      tol: Double = 1e-4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(eta >= 0, s"eta $eta must be >= 0")
    require(maxRounds >= 1 && tol >= 0,
      s"bad iteration params rounds=$maxRounds tol=$tol")
    val tc = docs.select(col(sourceCol).cast("string").as("src"),
        explode(TextAnalysis.tokens("text")).as("term"))
      .groupBy($"src", $"term").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // every round's mixture + CE read it
    val pins = scala.collection.mutable.ArrayBuffer(tc)
    try {
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, Double, Double, Double, Double)]
      val schema = Seq.empty[(Int, String, Double, Double, Double, Double)]
        .toDF("round", "source", "excess", "weight_old", "weight_new",
          "l1_delta")
      // vocab size + per-source token mass: ≤#sources + 1 driver rows
      val v = tc.select($"term").distinct().count()
      if (v == 0) return schema
      val ns = tc.groupBy($"src").agg(sum($"c").as("ns"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val srcs = ns.keys.toSeq.sorted
      // ce_self is round-invariant (source-local LM never moves):
      // C62's xs sum, once — quantized per term before the order-free
      // sum (the determinism discipline, no oracle here but one rule)
      val nsDf = broadcast(ns.toSeq.toDF("src", "ns"))
      val ceSelf = tc.join(nsDf, Seq("src"))
        .select($"src",
          (-$"c" * log(($"c" + 1L).cast("double") /
            ($"ns" + v).cast("double"))).cast("decimal(28,12)").as("xs"))
        .groupBy($"src").agg(sum($"xs").as("ss"))
        .collect().map(r => r.getString(0) ->
          r.getDecimal(1).doubleValue()).toMap
      // THE ROUND LOOP AS BROADCAST + treeAggregate — the D13b lesson
      // applied to the second-largest iterative slot: each round's
      // mixture + cross-entropy used to be two freshly planned grouped
      // queries plus a collect, and the r16 Lloyd profiling priced a
      // fresh plan at ~0.43 s/round (analysis + AQE + codegen compile
      // — corpus-size-independent) against 0.045 s for re-running
      // prepared work. The term-keyed exchange moves ONCE, up front:
      // tc groups into (term → per-source counts, src-sorted arrays),
      // cached; every round is then one ≤#sources broadcast + one
      // treeAggregate whose partials are k exact decimal sums — the
      // per-term mixture and its log fold in one local pass, zero
      // per-round query prep, zero per-round shuffle (vs TWO grouped
      // exchanges per round before). Measured at sf0.1:
      // mix_reweight_iterate 1.09 s → 0.65 s warm in-suite (0.84 s
      // isolated — the residue is the one-time tokenize+checkpoint
      // corpus build, not the rounds). DETERMINISM is the
      // same discipline verbatim: each contribution quantizes through
      // the exact arithmetic of Spark's cast(double AS decimal(38,30))
      // — BigDecimal(Double.toString(v)).setScale(30, HALF_UP) — and
      // each xm term through cast(decimal(28,12))'s setScale(12);
      // BigDecimal addition is exact, hence order- and
      // partition-layout-free.
      val srcIdx = srcs.zipWithIndex.toMap
      val k = srcs.length
      val nsArr = srcs.map(ns).toArray
      val vLocal = v
      val grouped = tc.select($"term", $"src", $"c").rdd
        .map(r => (r.getString(0), (srcIdx(r.getString(1)), r.getLong(2))))
        .groupByKey()
        .map { case (_, it) =>
          val a = it.toArray.sortBy(_._1)
          (a.map(_._1), a.map(_._2))
        }
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def quant(d: Double, scale: Int): java.math.BigDecimal =
        new java.math.BigDecimal(java.lang.Double.toString(d))
          .setScale(scale, java.math.RoundingMode.HALF_UP)
      var w = srcs.map(s => s -> 1.0 / srcs.length).toMap
      var round = 0
      var delta = Double.MaxValue
      try while (round < maxRounds && delta > tol) {
        // P_mix(term) = Σ_s w_s·(c_s+1)/(ns_s+v) decomposed into the
        // sparse part (rows that exist) + the constant smoothing base
        val base = srcs.map(s => w(s) / (ns(s) + v)).sum
        val wArr = srcs.map(w).toArray
        val bw = spark.sparkContext.broadcast(wArr)
        val zero = Array.fill(k)(java.math.BigDecimal.ZERO)
        val xm = grouped.treeAggregate(zero)(
          { case (acc, (idxs, cs)) =>
            var mp = java.math.BigDecimal.ZERO
            var j = 0
            while (j < idxs.length) {
              val i = idxs(j)
              mp = mp.add(
                quant(bw.value(i) * cs(j) / (nsArr(i) + vLocal), 30))
              j += 1
            }
            val lg = math.log(mp.doubleValue() + base)
            j = 0
            while (j < idxs.length) {
              acc(idxs(j)) = acc(idxs(j)).add(quant(-cs(j) * lg, 12))
              j += 1
            }
            acc
          },
          { (a, b) =>
            var i = 0
            while (i < k) { a(i) = a(i).add(b(i)); i += 1 }
            a
          })
        bw.unpersist(blocking = false)
        val ceMix = srcs.map(s => s -> xm(srcIdx(s)).doubleValue()).toMap
        val excess = srcs.map { s =>
          s -> math.rint((ceMix(s) / ns(s) - ceSelf(s) / ns(s)) * 1e6) / 1e6
        }.toMap
        val unnorm = srcs.map(s => s -> w(s) * math.exp(eta * excess(s)))
        val total = unnorm.map(_._2).sum
        val next = unnorm.map { case (s, u) => s -> u / total }.toMap
        delta = srcs.map(s => math.abs(next(s) - w(s))).sum
        round += 1
        srcs.foreach { s =>
          out += ((round, s, excess(s),
            math.rint(w(s) * 1e6) / 1e6, math.rint(next(s) * 1e6) / 1e6,
            math.rint(delta * 1e6) / 1e6))
        }
        w = next
      } finally grouped.unpersist(blocking = false)
      out.toSeq.toDF("round", "source", "excess", "weight_old",
        "weight_new", "l1_delta")
        .orderBy($"round", $"source")
    } finally pins.foreach(graft.Tables.unpinCheckpoint)
  }

  // ------------------------------------------------------------- C66
  /** TEMPERATURE-SCALED MIXING WEIGHTS — the mT5/XLM-R multilingual
    * sampling rule (q_s ∝ p_s^α, α ∈ (0,1]): raw token shares starve
    * low-resource sources, uniform over-trains them; exponentiating
    * the share flattens the distribution exactly as much as α says.
    * C62 LEARNS weights from excess loss; C66 is the closed-form
    * knob a mixture spec states directly — the two feed the SAME
    * budget-frame seam ([[mixSampleBudgetFrame]]), so a pipeline can
    * switch rules without touching admission.
    *
    * Scale shape: one corpus scan for per-source token mass (map-side
    * combine into ≤ #sources rows), then all arithmetic rides a
    * #sources-sized frame — the single-partition window is bounded by
    * construction (the C62 class). Oracle-checked: the one libm op
    * (pow via exp·ln) takes the ROUNDED share as input and re-rounds
    * its output before the normalizing DECIMAL sum — the C62
    * engine-portable handoff, so both engines sum identical decimals
    * and divide identical doubles. A zero-mass source (every doc
    * tokenizes empty) takes weight 0 explicitly — ln(0) is an error
    * in DuckDB and NULL in Spark, so the guard is semantics, not
    * cosmetics. */
  def mixTemperature(spark: SparkSession, sfDir: String,
      alpha: Double = 0.5): DataFrame =
    mixTemperatureOf(Tables.documents(spark, sfDir), "source", alpha)

  /** C66 over arbitrary docs — the spec entry (planted 80/16/4 token
    * masses make the flattening hand-checkable). */
  def mixTemperatureOf(docs: DataFrame, sourceCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha $alpha must be in (0,1]")
    val spark = docs.sparkSession
    import spark.implicits._
    val st = docs
      .select(col(sourceCol).cast("string").as("source"),
        size(TextAnalysis.tokens()).cast("long").as("n_tokens"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("ns"))
    // ≤ #sources rows ride this window — single partition by design
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val u = st
      .withColumn("share",
        round($"ns".cast("double") / sum($"ns").over(w).cast("double"), 6))
      .withColumn("unnorm",
        when($"share" > 0,
          round(exp(lit(alpha) * log($"share")), 6))
          .otherwise(lit(0.0)).cast("decimal(28,12)"))
    u.withColumn("usum", sum($"unnorm").over(w))
      .select($"source", $"n_docs", $"ns".as("n_tokens"), $"share",
        round($"unnorm".cast("double") / $"usum".cast("double"), 6)
          .as("weight"))
      .orderBy($"source")
  }

  def mixTemperatureSql(alpha: Double = 0.5): String =
    s"""WITH t AS (
       |  SELECT CAST(source AS VARCHAR) AS source,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
       |      AS BIGINT) AS n_tokens
       |  FROM documents),
       |st AS (SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS ns
       |  FROM t GROUP BY source),
       |sh AS (SELECT source, n_docs, ns,
       |    ROUND(CAST(ns AS DOUBLE) /
       |      (SELECT CAST(SUM(ns) AS DOUBLE) FROM st), 6) AS share
       |  FROM st),
       |u AS (SELECT *, CAST(CASE WHEN share > 0
       |      THEN ROUND(exp($alpha * ln(share)), 6) ELSE 0 END
       |    AS DECIMAL(28,12)) AS unnorm
       |  FROM sh)
       |SELECT source, n_docs, ns AS n_tokens, share,
       |  ROUND(CAST(unnorm AS DOUBLE) /
       |    (SELECT CAST(SUM(unnorm) AS DOUBLE) FROM u), 6) AS weight
       |FROM u ORDER BY source""".stripMargin

  // ------------------------------------------------------------ C66c
  /** MIXTURE ANNEALING SCHEDULE — the curriculum knob OVER mixtures
    * (the documented practice of annealing from the natural data
    * distribution toward a flattened one as training progresses):
    * per epoch, weights linearly interpolated between two C66
    * operating points (alphaStart — 1.0 is the raw shares — and
    * alphaEnd, the flattened target), each epoch's weights converted
    * to integer token budgets for the admission seam. The whole
    * schedule is ≤ epochs × sources rows of pure arithmetic on two
    * C66 frames — one corpus scan total, everything downstream
    * bounded. Oracle: the C66 SQL splices TWICE and the
    * interpolation is IEEE-only on the 6-decimal weights both
    * engines already agree on. */
  def mixAnneal(spark: SparkSession, sfDir: String, epochs: Int = 5,
      tokensPerEpoch: Long = 20000, alphaStart: Double = 1.0,
      alphaEnd: Double = 0.5): DataFrame =
    mixAnnealOf(Tables.documents(spark, sfDir), "source", epochs,
      tokensPerEpoch, alphaStart, alphaEnd)

  def mixAnnealOf(docs: DataFrame, sourceCol: String, epochs: Int,
      tokensPerEpoch: Long, alphaStart: Double,
      alphaEnd: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(epochs >= 2, s"epochs $epochs must be >= 2")
    require(tokensPerEpoch >= 0,
      s"tokensPerEpoch $tokensPerEpoch must be >= 0")
    val ws = mixTemperatureOf(docs, sourceCol, alphaStart)
      .select($"source", $"weight".as("w_start"))
    val we = mixTemperatureOf(docs, sourceCol, alphaEnd)
      .select($"source", $"weight".as("w_end"))
    // ≤ epochs × sources rows — the whole schedule is driver-small
    val grid = (0 until epochs).toDF("epoch")
    ws.join(we, Seq("source")).crossJoin(broadcast(grid))
      .withColumn("t",
        round($"epoch".cast("double") / (epochs - 1), 6))
      .withColumn("weight",
        round((lit(1.0) - $"t") * $"w_start" + $"t" * $"w_end", 6))
      .select($"epoch", $"source", $"weight",
        floor($"weight" * tokensPerEpoch).cast("long")
          .as("budget_tokens"))
      .orderBy($"epoch", $"source")
  }

  def mixAnnealSql(epochs: Int = 5, tokensPerEpoch: Long = 20000,
      alphaStart: Double = 1.0, alphaEnd: Double = 0.5): String =
    s"""WITH ts AS (%TS%),
       |te AS (%TE%),
       |ws AS (SELECT source, weight AS w_start FROM ts),
       |we AS (SELECT source, weight AS w_end FROM te),
       |grid AS (SELECT CAST(unnest(generate_series(0, ${epochs - 1}))
       |  AS INTEGER) AS epoch),
       |j AS (
       |  SELECT epoch, source, w_start, w_end,
       |    ROUND(CAST(epoch AS DOUBLE) / ${epochs - 1}, 6) AS t
       |  FROM ws JOIN we USING (source) CROSS JOIN grid),
       |w AS (
       |  SELECT epoch, source,
       |    ROUND((1.0 - t) * w_start + t * w_end, 6) AS weight
       |  FROM j)
       |SELECT epoch, source, weight,
       |  CAST(floor(weight * $tokensPerEpoch) AS BIGINT)
       |    AS budget_tokens
       |FROM w ORDER BY epoch, source""".stripMargin
      .replace("%TS%", mixTemperatureSql(alphaStart))
      .replace("%TE%", mixTemperatureSql(alphaEnd))

  // ------------------------------------------------------------ C66b
  /** C66 APPLIED — temperature weights to per-source token budgets to
    * integer-exact prefix-sum admission, through the same budget-FRAME
    * seam C62b uses (left join, absent stratum takes the 0 default —
    * a learned frame can genuinely miss a stratum). The budget is
    * floor(weight · totalTokens): both engines floor the product of
    * an identical 6-decimal weight and an integer literal, so the
    * IEEE multiply is bit-identical and the floor cannot straddle. */
  def mixTemperatureApply(spark: SparkSession, sfDir: String,
      totalTokens: Long = 20000, alpha: Double = 0.5): DataFrame = {
    require(totalTokens >= 0, s"totalTokens $totalTokens must be >= 0")
    val budgets = mixTemperature(spark, sfDir, alpha)
      .select(col("source"),
        floor(col("weight") * totalTokens).cast("long").as("budget"))
    mixSampleBudgetFrame(
      Tables.documents(spark, sfDir).withColumn("n_tokens",
        size(TextAnalysis.tokens()).cast("long")),
      "source", budgets)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  def mixTemperatureApplySql(totalTokens: Long = 20000,
      alpha: Double = 0.5): String =
    s"""WITH tw AS (%TW%),
       |b AS (SELECT source,
       |  CAST(floor(weight * $totalTokens) AS BIGINT) AS budget
       |  FROM tw),
       |t AS (
       |  SELECT doc_id, lang, source,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
       |      AS BIGINT) AS n_tokens
       |  FROM documents),
       |ca AS (
       |  SELECT *, SUM(n_tokens) OVER (
       |    PARTITION BY source ORDER BY doc_id) AS cum
       |  FROM t)
       |SELECT doc_id, lang, source, n_tokens
       |FROM ca LEFT JOIN b USING (source)
       |WHERE cum <= COALESCE(budget, 0)
       |ORDER BY doc_id""".stripMargin
      .replace("%TW%", mixTemperatureSql(alpha))

  // ------------------------------------------------------------- C68
  /** DATA CARD — the per-source datasheet (Gebru et al.'s "Datasheets
    * for Datasets", operationalized): one row per source carrying the
    * numbers a release review, a mix owner, or a downstream consumer
    * asks first — volume (docs, tokens, mean length), exact-duplicate
    * rate, PII exposure, language composition (majority language +
    * its share), and the Gopher quality pass rate. Every signal is a
    * member kernel this repo already oracle-checks (E10's dup rule,
    * E37's PII regexes, C50's battery) COMPOSED, not re-derived — the
    * F16 rule: card and member reports cannot drift.
    *
    * Scale shape: one corpus scan computes tokens/hash/PII map-side;
    * the C50 frame joins doc-keyed; both aggregates land on ≤ #sources
    * (× #langs for the majority-language window, itself bounded by the
    * label space, the A10 class). Nothing corpus-sized survives the
    * exchange. */
  def dataCard(spark: SparkSession, sfDir: String): DataFrame =
    dataCardOf(Tables.documents(spark, sfDir))

  def dataCardOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val g = gopherRules(docs).select($"doc_id", $"passed")
    val base = Scale.fanOutScanLight(docs).select($"doc_id",
        col("source").cast("string").as("source"), $"lang",
        size(TextAnalysis.tokens()).cast("long").as("n_tokens"),
        sha2($"text", 256).as("h"),
        (TextAnalysis.piiCount($"text") > 0L).as("pii_hit"))
    val perSrc = base.join(g, Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        round(avg($"n_tokens"), 6).as("avg_tokens"),
        round(lit(1.0) -
          countDistinct($"h").cast("double") / count(lit(1)), 6)
          .as("dup_rate"),
        round(avg(when($"pii_hit", 1.0).otherwise(0.0)), 6)
          .as("pii_frac"),
        round(avg(when($"passed", 1.0).otherwise(0.0)), 6)
          .as("gopher_pass_frac"))
    // majority language: ≤ #sources × #langs rows ride this window
    val wL = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"nl".desc, $"lang")
    val topLang = docs
      .groupBy(col("source").cast("string").as("source"), $"lang")
      .agg(count(lit(1)).as("nl"))
      .withColumn("rk", row_number().over(wL)).filter($"rk" === 1)
      .select($"source", $"lang".as("top_lang"), $"nl")
    perSrc.join(topLang, Seq("source"))
      .select($"source", $"n_docs", $"total_tokens", $"avg_tokens",
        $"dup_rate", $"pii_frac", $"gopher_pass_frac", $"top_lang",
        round($"nl".cast("double") / $"n_docs", 6).as("top_lang_share"))
      .orderBy($"source")
  }

  def dataCardSql(): String =
    s"""WITH g AS (%GOPHER%),
       |b AS (
       |  SELECT doc_id, CAST(source AS VARCHAR) AS source, lang,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
       |      AS BIGINT) AS n_tokens,
       |    sha256(text) AS h,
       |    (len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) +
       |     len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}')) +
       |     len(regexp_extract_all(text, '${TextAnalysis.IpRe}')) > 0)
       |      AS pii_hit
       |  FROM documents),
       |s AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |    ROUND(AVG(n_tokens), 6) AS avg_tokens,
       |    ROUND(1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 6)
       |      AS dup_rate,
       |    ROUND(AVG(CASE WHEN pii_hit THEN 1.0 ELSE 0.0 END), 6)
       |      AS pii_frac,
       |    ROUND(AVG(CASE WHEN passed THEN 1.0 ELSE 0.0 END), 6)
       |      AS gopher_pass_frac
       |  FROM b JOIN g USING (doc_id) GROUP BY source),
       |lc AS (SELECT source, lang, COUNT(*) AS nl
       |  FROM b GROUP BY source, lang),
       |tl AS (SELECT source, lang AS top_lang, nl,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY nl DESC, lang) AS rk
       |  FROM lc)
       |SELECT s.source, n_docs, total_tokens, avg_tokens, dup_rate,
       |  pii_frac, gopher_pass_frac, top_lang,
       |  ROUND(CAST(nl AS DOUBLE) / n_docs, 6) AS top_lang_share
       |FROM s JOIN tl USING (source) WHERE rk = 1
       |ORDER BY source""".stripMargin
      .replace("%GOPHER%", gopherRulesSql().replace(
        "FROM r ORDER BY doc_id", "FROM r"))

  // ------------------------------------------------------------- C67
  /** CLUSTER-BALANCED SELECTION — the diversity-preserving subsample
    * (coreset selection, the DeepCore/SemDeDup-adjacent move): a flat
    * random or score-ranked cut concentrates wherever the corpus is
    * dense, so the subset inherits the corpus's mode imbalance;
    * quota-per-cluster over the SAME coarse k-means quantizer the IVF
    * and SemDeDup paths use guarantees every region of embedding
    * space lands its share. Two modes, one sort flip: `prototype`
    * keeps each cluster's most central members (clean exemplars —
    * seed sets, eval anchors); `frontier` keeps its most peripheral
    * (hard/unusual examples — the active-learning pick).
    *
    * Scale shape: centroid assignment is ONE codegen'd map pass
    * (centroids ride the closure, ≤ nClusters·dim doubles); the
    * per-cluster quota runs on the TopK.perKey operator — map-side
    * bounded heaps, merge on ≤ nClusters keys — so no giant cluster
    * ever funnels through a single window partition; the metadata
    * join is doc-keyed. Per-row distance quantizes to DECIMAL(18,9)
    * (the D13 discipline) so ties break identically everywhere.
    * Rows-only: k-means centroids are loop output (D13's reason). */
  def clusterSample(spark: SparkSession, sfDir: String, quota: Int = 8,
      nClusters: Int = 16, mode: String = "prototype"): DataFrame = {
    val centroids = Similarity.corpusCentroids(spark, sfDir, nClusters)
    clusterSampleOf(
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("doc_id"), col("embedding")),
      Tables.documents(spark, sfDir).select(col("doc_id"), col("source")),
      centroids, quota, mode)
  }

  /** C67 over arbitrary (doc_id, embedding) + (doc_id, source) frames
    * with given centroids — the spec entry (planted tight clusters
    * with known outliers make both modes hand-checkable). */
  def clusterSampleOf(embeds: DataFrame, meta: DataFrame,
      centroids: Array[Array[Double]], quota: Int,
      mode: String = "prototype"): DataFrame = {
    require(quota >= 1, s"quota $quota must be >= 1")
    require(mode == "prototype" || mode == "frontier",
      s"mode '$mode' must be prototype | frontier")
    val spark = embeds.sparkSession
    import spark.implicits._
    require(centroids.nonEmpty, "need at least one centroid")
    val centroidDf = centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cluster_id", "cvec")
    val assigned = embeds
      .select($"doc_id", $"embedding",
        graft.functions.VectorFunctions
          .nearestCentroid($"embedding", centroids).as("cluster_id"))
      .join(broadcast(centroidDf), Seq("cluster_id"))
      .withColumn("dist", expr(
        """cast(sqrt(aggregate(zip_with(embedding, cvec,
          |  (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),
          |  0D, (s, v) -> s + v)) as decimal(18,9))""".stripMargin))
      .select($"doc_id", $"cluster_id", $"dist")
    val ord =
      if (mode == "prototype") Seq(col("dist").asc, col("doc_id").asc)
      else Seq(col("dist").desc, col("doc_id").asc)
    graft.plans.TopK.perKey(assigned, Seq("cluster_id"), ord, quota)
      .join(meta, Seq("doc_id"), "left")
      .select($"doc_id", $"source", $"cluster_id",
        $"dist".cast("double").as("dist"))
      .orderBy($"cluster_id", $"doc_id")
  }

  // ------------------------------------------------------------ C67b
  /** CLUSTER TOKEN BUDGETS — C67's quota counted in the unit a
    * training mix actually states: the SAME equal-per-region
    * diversity contract, admission denominated in TOKENS through the
    * C14 prefix-sum kernel with the CLUSTER as the stratum (one
    * kernel, third stratum type: source → lang → embedding region).
    * Admission order is stable doc_id (the C14 contract — the budget
    * caps each region's token mass; C67's prototype/frontier modes
    * are the centrality-ORDERED siblings). Scale: assignment is one
    * map pass, the kernel is the audited two-pass bucketed prefix
    * sum; rows-only (k-means centroids — D13's reason). */
  def clusterBudget(spark: SparkSession, sfDir: String,
      budgetTokens: Long = 2000, nClusters: Int = 16): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens $budgetTokens must be >= 0")
    val centroids = Similarity.corpusCentroids(spark, sfDir, nClusters)
    clusterBudgetOf(
      Tables.documents(spark, sfDir),
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("doc_id"), col("embedding")),
      centroids, budgetTokens)
  }

  def clusterBudgetOf(docs: DataFrame, embeds: DataFrame,
      centroids: Array[Array[Double]], budgetTokens: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(centroids.nonEmpty, "need at least one centroid")
    // pinned narrow frame (the mixSamplePieceCounts rule): the join +
    // centroid assignment + tokenizer otherwise run once per prefix-
    // kernel pass (probe, subtotal, output — measured 3×)
    val assigned = docs.join(embeds, Seq("doc_id"))
      .withColumn("cluster_id", graft.functions.VectorFunctions
        .nearestCentroid($"embedding", centroids))
      .withColumn("n_tokens", size(TextAnalysis.tokens()).cast("long"))
      .select($"doc_id", $"source", $"cluster_id", $"n_tokens")
      .localCheckpoint(true)
    Scale.stratifiedPrefixSum(assigned, "cluster_id", "doc_id",
        "n_tokens", "__ca")
      .filter(col("__ca") <= budgetTokens)
      .drop("__ca")
      .orderBy($"cluster_id", $"doc_id")
  }

  // ------------------------------------------------------------- C39
  /** STREAMING DSIR admission — C37's live twin, the ingest-time
    * "does this look like the target domain?" gate (the shape C29's
    * budget admission has, with DSIR's statistic): target/raw
    * bucket models are computed ONCE at query start from a BASELINE
    * corpus and pinned as a ≤ nBuckets driver map (the E18/D20
    * pinned-baseline discipline — re-deriving models per trigger
    * would move the statistic under the stream), then every arriving
    * document scores ROW-LOCALLY — its feature array folds through a
    * literal bucket→log-ratio map in one codegen'd expression, no
    * per-trigger aggregation, no state. Features UNSEEN in the
    * baseline score exactly 0: the smoothed models' own floor ratio
    * ln((Tr+B)/(Tt+B)) is strictly positive whenever the raw corpus
    * outweighs the target (always), so scoring novel mass by it would
    * admit pure gibberish as "target-like" — an unseen feature is no
    * evidence either way, and 0 is the only admission-safe value.
    * Stateless ⇒ works identically on batch frames; the spec pins the
    * stream score against a driver-side replay, the admission cut,
    * and the novel-mass neutrality.
    *
    * NOTE the statistic is a SUM of per-feature log ratios — longer
    * docs score farther from 0 in whichever direction they lean;
    * `n_feats` rides along so a caller can threshold on the mean
    * instead when length-invariance matters. */
  def dsirAdmitStream(docs: DataFrame, baseline: DataFrame,
      targetSources: Seq[String] = Seq("src0", "src1"),
      nBuckets: Int = 4096, minLogw: Double = 0.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nBuckets >= 2 && (nBuckets & (nBuckets - 1)) == 0,
      "nBuckets must be a power of two")
    // baseline models, once, lazily-at-planning (tiny: ≤ nBuckets)
    val isTarget = col("source").isin(targetSources.map(x => x: Any): _*)
    val counts = baseline
      .select(isTarget.as("is_t"),
        graft.functions.TextFunctions.bigramBuckets(
          TextAnalysis.tokens("text"), nBuckets).as("bs"))
      .select(col("is_t"), explode(col("bs")).as("b"))
      .groupBy($"b")
      .agg(count(lit(1)).as("rc"),
        sum(when($"is_t", 1L).otherwise(0L)).as("tc"))
      .collect()
    val tr = counts.map(_.getLong(1)).sum
    val tt = counts.map(_.getLong(2)).sum
    def ratio(tc: Long, rc: Long): Double =
      math.log((tc + 1).toDouble / (tt + nBuckets)) -
        math.log((rc + 1).toDouble / (tr + nBuckets))
    val lrMap = counts.map(r => r.getLong(0) -> ratio(r.getLong(2),
      r.getLong(1))).toMap
    val novelLr = 0.0 // unseen features are no evidence (see above)
    docs
      .withColumn("bs", graft.functions.TextFunctions.bigramBuckets(
        TextAnalysis.tokens("text"), nBuckets))
      .withColumn("__lr_map", typedLit(lrMap))
      .withColumn("n_feats", size($"bs").cast("long"))
      .withColumn("dsir_logw", expr(
        // row-local fold: fixed array order ⇒ deterministic double sum
        s"aggregate(bs, 0D, (s, b) -> s + " +
          s"coalesce(element_at(__lr_map, b), ${novelLr}D))"))
      .withColumn("admitted", $"dsir_logw" >= minLogw)
      .drop("bs", "__lr_map")
  }
  private val dsirScoredCtes: String =
    """t AS (
      |  SELECT doc_id, source IN (__TGT__) AS is_t,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |h0 AS (SELECT doc_id, is_t,
      |  list_transform(list_transform(toks, tok ->
      |    list_reduce(list_prepend(0::BIGINT,
      |      list_transform(string_split(tok, ''), c -> ord(c))),
      |      (h, c) -> (h * 31 + c) % 4294967296)),
      |    u -> CAST(CASE WHEN u >= 2147483648 THEN u - 4294967296 ELSE u END AS BIGINT)) AS th
      |  FROM t),
      |hA AS (SELECT doc_id, is_t, list_transform(th, x -> xor(x, x >> 33)) AS th FROM h0),
      |hB AS (SELECT doc_id, is_t, list_transform(list_transform(th, x ->
      |    ((CASE WHEN x < 0 THEN x::HUGEINT + 18446744073709551616 ELSE x::HUGEINT END)
      |      * 18397679294719823053) % 18446744073709551616),
      |  u -> CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT)) AS th FROM hA),
      |hC AS (SELECT doc_id, is_t, list_transform(th, x -> xor(x, x >> 29)) AS th FROM hB),
      |hD AS (SELECT doc_id, is_t, list_transform(list_transform(th, x ->
      |    ((CASE WHEN x < 0 THEN x::HUGEINT + 18446744073709551616 ELSE x::HUGEINT END)
      |      * 14181476777654086739) % 18446744073709551616),
      |  u -> CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT)) AS th FROM hC),
      |hE AS (SELECT doc_id, is_t, list_transform(th, x -> xor(x, x >> 32)) AS th FROM hD),
      |bg AS (
      |  SELECT doc_id, is_t,
      |    unnest(list_transform(range(1, len(th)), i ->
      |      CAST(((CASE WHEN th[i] < 0 THEN th[i]::HUGEINT + 18446744073709551616
      |              ELSE th[i]::HUGEINT END) * 6364136223846793005
      |            + (CASE WHEN th[i+1] < 0 THEN th[i+1]::HUGEINT + 18446744073709551616
      |              ELSE th[i+1]::HUGEINT END)) % __B__ AS BIGINT))) AS b
      |  FROM hE WHERE len(th) >= 2),
      |nf AS (SELECT doc_id, is_t, b, COUNT(*) AS nf FROM bg GROUP BY 1, 2, 3),
      |c AS (
      |  SELECT b, CAST(SUM(nf) AS BIGINT) AS rc,
      |    CAST(SUM(CASE WHEN is_t THEN nf ELSE 0 END) AS BIGINT) AS tc
      |  FROM nf GROUP BY b),
      |tt AS (SELECT CAST(SUM(rc) AS BIGINT) AS tr,
      |  CAST(SUM(tc) AS BIGINT) AS tts FROM c),
      |lr AS (
      |  SELECT b,
      |    ln(CAST(tc + 1 AS DOUBLE) / CAST(tts + __B__ AS DOUBLE)) -
      |    ln(CAST(rc + 1 AS DOUBLE) / CAST(tr + __B__ AS DOUBLE)) AS lr
      |  FROM c, tt),
      |s AS (
      |  SELECT doc_id,
      |    CAST(SUM(CAST(nf * lr AS DECIMAL(28,12))) AS DOUBLE) AS logw
      |  FROM nf JOIN lr USING (b) GROUP BY doc_id)""".stripMargin

  // ------------------------------------------------------------- C44
  /** OVERSAMPLE RARE — temperature-based source rebalancing, the
    * inverse knob of C25's cap: rare sources get their docs REPLICATED
    * toward the target mix instead of large ones being cut (the
    * multilingual-training standard: sampling factor ∝ (n_max/n_s)^T,
    * T = 0.5, capped at `maxFactor` so a 10-doc source cannot explode).
    * Every doc keeps at least one copy (factors clamp at 1 — this
    * operator never drops; dropping is C14/C25's job); the fractional
    * part of the factor becomes one extra copy per doc decided by the
    * C25 seeded-LCG lottery on doc_id — deterministic, unbiased within
    * each source, and ORACLE-CHECKABLE (the signed LCG key compares
    * against the same double threshold in both engines).
    *
    * Plan shape: one tiny per-source aggregate (sources, not docs),
    * factors broadcast back, then a MAP-ONLY explode of
    * sequence(1, n_copies) — the 100 TB corpus streams through without
    * an exchange; output size is Σ factors · n_s, bounded by
    * maxFactor × corpus. */
  def oversampleRare(docs: DataFrame, sourceCol: String = "source",
      temperature: Double = 0.5, maxFactor: Double = 4.0,
      seed: Long = 97L): DataFrame = {
    require(temperature > 0 && temperature <= 1,
      s"temperature $temperature outside (0, 1]")
    require(maxFactor >= 1.0, s"maxFactor $maxFactor would drop docs")
    // pin the SOURCE-sized counts frame: it feeds both the n_max
    // scalar and the factor join — unpinned, each branch would rescan
    // and re-aggregate the full corpus (the fleetHealth lesson)
    val counts = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val nMax = counts.agg(max(col("n")).as("n_max"))
    val factors = counts.crossJoin(broadcast(nMax))
      .withColumn("factor",
        least(lit(maxFactor),
          pow(col("n_max").cast("double") / col("n").cast("double"),
            temperature)))
      .select(col(sourceCol), col("factor"))
    val sk = graft.functions.HashFunctions.lcg64(col("doc_id"), seed)
      .cast("double")
    val thr = lit(-9.223372036854776e18) +
      (col("factor") - floor(col("factor"))) * lit(1.8446744073709552e19)
    docs.join(broadcast(factors), Seq(sourceCol))
      .withColumn("n_copies",
        floor(col("factor")).cast("long") +
          when(sk < thr, 1L).otherwise(0L))
      .select(col("doc_id"), col(sourceCol), col("n_copies"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
    // no sort here: the output is corpus × factor sized and downstream
    // consumers (packing, shuffle_sequences) impose their own order —
    // a presentation orderBy would range-partition the whole corpus
  }

  // ------------------------------------------------------------- C45
  /** CONTAMINATION REPORT — C12's question from the EVAL side: not
    * "which train docs are dirty" but "which benchmark items are
    * BURNED, and how badly" (the number an eval owner needs before
    * trusting a score; a benchmark with 40% of items leaked measures
    * memorization, not capability). Per benchmark item: distinct
    * contaminated train docs and distinct leaked n-grams, with clean
    * items present as zero rows (the good news is a row too, not an
    * absence).
    *
    * Scale shape: C12's exact contract — benchmark grams broadcast
    * ("a test set, not terabytes"), the 100 TB train side streams
    * MAP-ONLY into the probe join; the aggregate is keyed by benchmark
    * item so its cardinality is the benchmark's, and COUNT(DISTINCT)
    * tolerates the gram multiset (no pre-join distinct pass over the
    * corpus). Gram identity is the C12 hash (oracle replays the gram
    * STRINGS — a hash collision would surface as a count mismatch). */
  def contaminationReport(docs: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 13): DataFrame = {
    require(n >= 1)
    val bg = Dedup.gramSet(benchmark, idCol, textCol, n)
      .select(col("id").as("bench_id"), col("g")).distinct()
    val tg = Dedup.gramSet(docs, idCol, textCol, n)
      .select(col("id").as("train_id"), col("g"))
    val rep = tg.join(broadcast(bg), Seq("g"))
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("train_id")).as("n_train_docs"),
        countDistinct(col("g")).as("n_shared_grams"))
    benchmark.select(col(idCol).as("bench_id"))
      .join(rep, Seq("bench_id"), "left_outer")
      .select(col("bench_id"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
      .orderBy(col("bench_id"))
  }

  def contaminationReportQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    contaminationReport(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0))
  }

  val contaminationReportSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, array_to_string(t[i:i+12], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(t) - 12)) AS u(i)
      |  WHERE len(t) >= 13),
      |bg AS (SELECT DISTINCT doc_id AS bench_id, gram FROM g WHERE doc_id % 10 = 0),
      |tg AS (SELECT doc_id AS train_id, gram FROM g WHERE doc_id % 10 <> 0),
      |agg AS (
      |  SELECT bench_id, COUNT(DISTINCT train_id) AS n_train_docs,
      |    COUNT(DISTINCT gram) AS n_shared_grams
      |  FROM tg JOIN bg USING (gram) GROUP BY bench_id)
      |SELECT b.bench_id, COALESCE(n_train_docs, 0) AS n_train_docs,
      |  COALESCE(n_shared_grams, 0) AS n_shared_grams
      |FROM (SELECT doc_id AS bench_id FROM documents WHERE doc_id % 10 = 0) b
      |LEFT JOIN agg USING (bench_id)
      |ORDER BY bench_id""".stripMargin

  /** Driver query rebalances by LANGUAGE — the synthetic corpus is
    * uniform by source but English-heavy by lang (the realistic
    * multilingual-rebalancing shape: en stays ×1, the tail replicates
    * toward parity). */
  def oversampleRareQuery(spark: SparkSession, sfDir: String): DataFrame =
    oversampleRare(Tables.documents(spark, sfDir), sourceCol = "lang")
      .orderBy(col("doc_id"), col("copy"))

  def oversampleRareSql(temperature: Double = 0.5, maxFactor: Double = 4.0,
      seed: Long = 97L): String =
    s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
       |mx AS (SELECT MAX(n) AS n_max FROM c),
       |f AS (
       |  SELECT lang,
       |    LEAST($maxFactor, pow(CAST((SELECT n_max FROM mx) AS DOUBLE) / CAST(n AS DOUBLE), $temperature)) AS factor
       |  FROM c),
       |k AS (
       |  SELECT doc_id, d.lang, factor,
       |    ((doc_id + $seed)::HUGEINT * 6364136223846793005
       |      + 1442695040888963407) % 18446744073709551616 AS u
       |  FROM documents d JOIN f USING (lang)),
       |d2 AS (
       |  SELECT doc_id, lang,
       |    CAST(floor(factor) AS BIGINT) +
       |      CASE WHEN CAST(CAST(CASE WHEN u >= 9223372036854775808
       |            THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS DOUBLE)
       |          < -9.223372036854776e18 + (factor - floor(factor)) * 1.8446744073709552e19
       |        THEN 1 ELSE 0 END AS n_copies
       |  FROM k)
       |SELECT doc_id, lang, n_copies,
       |  unnest(generate_series(1, n_copies)) AS copy
       |FROM d2
       |ORDER BY doc_id, copy""".stripMargin

  // ---------------------------------------------------------------- C46
  /** SHUFFLE AUDIT — is the training order actually decorrelated from
    * ingestion order? Exact Spearman rank correlation between each
    * sequence's ingestion rank and its rank under the SHUFFLE KEY.
    * What this catches: key-degeneracy failure modes — a key derived
    * from a non-unique or truncated id, a seed collision, a key
    * formula that preserves id order in runs (rho snaps toward 1).
    * What it deliberately does NOT audit: the order actually
    * MATERIALIZED on disk — this frame-level audit recomputes rank
    * from the key, so a writer that ignores the key (concatenates
    * partitions in input order, or a non-monotone shard label) needs
    * the write-side check instead: read the shards back in label
    * order and feed (read position, seq_id) through
    * [[shuffleAuditOf]] — the same kernel audits any claimed order.
    * A healthy key reads |rho| ≈ O(1/√n); ingestion order reads 1.
    *
    * Scale shape: runs on the SEQUENCE frame (corpus tokens / seqLen
    * rows, not documents), PINNED once — its lineage is the whole
    * C13 pack pipeline, and the two global ranks each consume the
    * frame twice (zipWithIndex's count pass + emit), which unpinned
    * would re-run the pack pipeline ~4× (the gapFill multi-consumer
    * discipline). Each exact global rank is one range exchange +
    * per-partition sort + the two-pass zipWithIndex offset — no
    * single-partition window anywhere. Σd² rides DECIMAL(18,0)²
    * products (exact to |d| < 10¹⁸); the closed-form
    * 1 − 6Σd²/(n(n²−1)) is one identical IEEE tree rounded at 6. */
  def shuffleAudit(spark: SparkSession, sfDir: String): DataFrame =
    shuffleAuditOf(shuffleSequences(Tables.documents(spark, sfDir)))

  /** C46 over an arbitrary shuffled frame with (seq_id, shuffle_key)
    * — seq_id monotone in ingestion order, output order = (key, id). */
  def shuffleAuditOf(shuffled: DataFrame): DataFrame = {
    val spark = shuffled.sparkSession
    import spark.implicits._
    val base = shuffled.select(col("seq_id"), col("shuffle_key"))
      .localCheckpoint(true) // 4 downstream passes — see docstring
    val ing = globalRank(base, Seq(col("seq_id")))
    val sh = globalRank(base, Seq(col("shuffle_key"), col("seq_id")))
    val d = ing.toDF("seq_id", "r1").join(sh.toDF("sid2", "r2"),
        $"seq_id" === $"sid2")
      .select(($"r1" - $"r2").cast("decimal(18,0)").as("d"))
    d.agg(count(lit(1)).as("n"), sum($"d" * $"d").cast("double").as("sd2"))
      .select($"n".as("n_sequences"),
        when($"n" >= 2, round(lit(1.0) - lit(6.0) * $"sd2" /
          ($"n".cast("double") *
            ($"n".cast("double") * $"n".cast("double") - lit(1.0))), 6))
          .as("spearman_rho"))
  }

  /** EXACT global rank 0..n−1 of `df` under `sortCols`: range
    * repartition (cross-partition order), per-partition sort, then
    * the classic two-pass zipWithIndex offset — never a
    * single-partition window. Returns (first sort column of each row
    * is NOT returned — the caller's key column, rank). */
  private def globalRank(df: DataFrame,
      sortCols: Seq[Column]): org.apache.spark.rdd.RDD[(Long, Long)] = {
    val parts = math.max(df.rdd.getNumPartitions, 1)
    df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .rdd.zipWithIndex()
      .map { case (r, i) => (r.getLong(0), i) }
  }

  def shuffleAuditSql: String =
    s"""WITH s AS (SELECT seq_id, shuffle_key FROM ($shuffleSequencesSql)),
       |r AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY seq_id) AS r1,
       |    ROW_NUMBER() OVER (ORDER BY shuffle_key, seq_id) AS r2
       |  FROM s),
       |m AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(CAST(r1 - r2 AS DECIMAL(18,0))
       |      * CAST(r1 - r2 AS DECIMAL(18,0))) AS DOUBLE) AS sd2
       |  FROM r)
       |SELECT CAST(n AS BIGINT) AS n_sequences,
       |  CASE WHEN n >= 2 THEN
       |    ROUND(1.0 - 6.0 * sd2 / (CAST(n AS DOUBLE)
       |      * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)), 6)
       |  END AS spearman_rho
       |FROM m""".stripMargin

  // ---------------------------------------------------------------- C48
  /** GRAM MEMORIZATION report — the evidence table behind the
    * dedup-reduces-memorization decision (Lee/Carlini line): the
    * top-k most-repeated long n-grams with occurrence and
    * document-spread counts. High occurrences in ONE doc is internal
    * repetition (E7's business); high spread across many docs is the
    * template/boilerplate a model will memorize verbatim — and
    * exactly what C19's substring scrub or C1's exact dedup should
    * have eaten first. Distinct from dedup: this REPORTS (readable
    * gram text as evidence), it does not remove.
    *
    * Scale shape: the C12 gram explode (corpus-token-row cost — the
    * price every gram operator pays), ONE gram-keyed aggregate with
    * map-side partials, the minCount filter BEFORE the bounded-heap
    * top-k so singleton grams (the overwhelming majority) never reach
    * the ordering. */
  def gramMemorization(spark: SparkSession, sfDir: String, n: Int = 13,
      minCount: Long = 2L, k: Int = 20): DataFrame =
    gramMemorizationOf(Tables.documents(spark, sfDir), n, minCount, k)

  def gramMemorizationOf(docs: DataFrame, n: Int = 13,
      minCount: Long = 2L, k: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(n >= 2 && minCount >= 1 && k >= 1,
      s"need n >= 2, minCount >= 1, k >= 1 (got $n, $minCount, $k)")
    Scale.fanOutScanLight(docs)
      .select($"doc_id",
        graft.operators.TextAnalysis.tokens().as("toks"))
      .filter(size($"toks") >= n)
      .select($"doc_id", explode(expr(
        s"""transform(sequence(1, size(toks) - ${n - 1}),
           |  i -> array_join(slice(toks, i, $n), ' '))""".stripMargin))
        .as("gram"))
      .groupBy($"gram")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct($"doc_id").as("n_docs"))
      .filter($"n_occurrences" >= minCount)
      .orderBy($"n_occurrences".desc, $"gram")
      .limit(k)
  }

  def gramMemorizationSql(n: Int = 13, minCount: Long = 2L,
      k: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, array_to_string(t[i:i+${n - 1}], ' ') AS gram
       |  FROM toks, UNNEST(generate_series(1, len(t) - ${n - 1})) AS u(i)
       |  WHERE len(t) >= $n)
       |SELECT gram, COUNT(*) AS n_occurrences,
       |  COUNT(DISTINCT doc_id) AS n_docs
       |FROM g GROUP BY gram
       |HAVING COUNT(*) >= $minCount
       |ORDER BY n_occurrences DESC, gram LIMIT $k""".stripMargin

  // ---------------------------------------------------------------- C47
  /** LENGTH BUCKETS — the padding-waste report behind bucketed
    * batching: documents binned by token count, with the token mass
    * each bin would PAD to its ceiling (every sample in a bin padded
    * to the bin's upper edge — the standard dynamic-batching
    * approximation of per-batch max). The number that decides bin
    * granularity, and the pack-vs-pad tradeoff against C13 (packing
    * wastes nothing but splices documents; padding preserves
    * boundaries at this measured cost).
    *
    * Scale shape: map-only binning (integer division on the row-local
    * token count), ONE bin-keyed aggregate — output is bins, constant
    * size; pad arithmetic is exact BIGINTs, the waste fraction one
    * rounded IEEE division. */
  def lengthBuckets(spark: SparkSession, sfDir: String,
      binTokens: Int = 16): DataFrame =
    lengthBucketsOf(Tables.documents(spark, sfDir), binTokens)

  def lengthBucketsOf(docs: DataFrame, binTokens: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(binTokens >= 1, s"binTokens must be positive: $binTokens")
    docs
      .select((size(graft.operators.TextAnalysis.tokens())
        .cast("long")).as("n_tokens"))
      // integer div, not `/` (double division loses exactness past 2⁵³)
      .select($"n_tokens", expr(s"n_tokens div $binTokens").as("bin"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("token_mass"))
      .select(($"bin" * binTokens).as("bucket_lo"),
        (($"bin" + 1) * binTokens).as("bucket_hi"),
        $"n_docs", $"token_mass",
        (($"bin" + 1) * binTokens * $"n_docs" - $"token_mass")
          .as("pad_tokens"),
        round((($"bin" + 1) * binTokens * $"n_docs" - $"token_mass")
          .cast("double") /
          (($"bin" + 1) * binTokens * $"n_docs").cast("double"), 6)
          .as("pad_frac"))
      .orderBy($"bucket_lo")
  }

  def lengthBucketsSql(binTokens: Int = 16): String =
    s"""WITH t AS (
       |  SELECT CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
       |    AS n_tokens
       |  FROM documents),
       |b AS (
       |  SELECT n_tokens // $binTokens AS bin, n_tokens FROM t),
       |g AS (
       |  SELECT bin, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS token_mass
       |  FROM b GROUP BY bin)
       |SELECT CAST(bin * $binTokens AS BIGINT) AS bucket_lo,
       |  CAST((bin + 1) * $binTokens AS BIGINT) AS bucket_hi,
       |  n_docs, token_mass,
       |  CAST((bin + 1) * $binTokens * n_docs - token_mass AS BIGINT)
       |    AS pad_tokens,
       |  ROUND(CAST((bin + 1) * $binTokens * n_docs - token_mass AS DOUBLE)
       |    / CAST((bin + 1) * $binTokens * n_docs AS DOUBLE), 6) AS pad_frac
       |FROM g ORDER BY bucket_lo""".stripMargin

  // ---------------------------------------------------------------- C50
  /** GOPHER QUALITY RULES — the published heuristic battery (Rae et
    * al. 2021, Appendix A: the filter set MassiveText shipped and
    * every later web-scale corpus re-derived): per document, the four
    * token-level signals and their rule verdicts — word count in
    * bounds (fragments and runaway concatenations both fail), mean
    * word length in bounds (character noise fails low, unbroken
    * markup fails high), alphabetic-word fraction (numeric/id dumps
    * fail), and a minimum stop-word count (the cheap "is this prose"
    * test — word salads of content words fail it). The symbol-ratio /
    * bullet-line half of Gopher's battery reads RAW text, which is
    * E2/E8's business (punct_ratio there); composing those columns in
    * is one join — the rule split is stated, not hidden.
    *
    * Scale shape: map-only — one corpus scan, every signal a codegen'd
    * lambda over the token array, no corpus state, no shuffle beyond
    * the presentation sort. Ratio rules compare on values ROUNDED at
    * 6 (both engines round identically — the F16 discipline), so no
    * verdict sits on an ulp. Token-free docs keep their row with NULL
    * ratios and a failed verdict — a gate must list what it rejected. */
  def gopherRules(docs: DataFrame, minWords: Long = 50L,
      maxWords: Long = 100000L, minWordLen: Double = 3.0,
      maxWordLen: Double = 10.0, minAlphaFrac: Double = 0.8,
      minStopWords: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(minWords >= 0 && maxWords >= minWords,
      s"bad word bounds [$minWords, $maxWords]")
    require(minWordLen >= 0 && maxWordLen >= minWordLen,
      s"bad word-length bounds [$minWordLen, $maxWordLen]")
    Scale.fanOutScanLight(docs).withColumn("toks", TextAnalysis.tokens())
      .select($"doc_id",
        size($"toks").cast("long").as("n_words"),
        round(expr(
          """aggregate(toks, 0L, (a, x) -> a + length(x))""")
          .cast("double") / nullif(size($"toks"), lit(0)), 6)
          .as("mean_word_len"),
        round(size(expr("filter(toks, x -> x rlike '[a-z]')"))
          .cast("double") / nullif(size($"toks"), lit(0)), 6)
          .as("alpha_frac"),
        size(expr(
          """filter(toks, x -> array_contains(
            |array('the','be','to','of','and','that','have','with'), x))"""
            .stripMargin)).cast("long").as("stop_words"))
      .withColumn("words_ok",
        $"n_words" >= minWords && $"n_words" <= maxWords)
      .withColumn("word_len_ok",
        $"mean_word_len".isNotNull &&
          $"mean_word_len" >= minWordLen && $"mean_word_len" <= maxWordLen)
      .withColumn("alpha_ok",
        $"alpha_frac".isNotNull && $"alpha_frac" >= minAlphaFrac)
      .withColumn("stop_ok", $"stop_words" >= minStopWords)
      .withColumn("passed",
        $"words_ok" && $"word_len_ok" && $"alpha_ok" && $"stop_ok")
      .orderBy($"doc_id")
  }

  def gopherRulesQuery(spark: SparkSession, sfDir: String): DataFrame =
    gopherRules(Tables.documents(spark, sfDir))

  // ---------------------------------------------------------------- C53
  /** MASSIVETEXT FILTER CHAIN — the two published Gopher batteries
    * composed end to end (C50's token-signal gates ∧ C51's repetition
    * rules) into the keep/drop verdict the paper's pipeline actually
    * applies, with BOTH failure surfaces carried per doc so the drop
    * log says WHY (the C35 funnel discipline: a gate that only says
    * "dropped" is unreviewable). C6/C8 are this repo's hand-tuned
    * curation chains; THIS is the published battery verbatim — a user
    * reproducing MassiveText/Gopher preprocessing runs this one.
    * Composes the member operators' frames unchanged (gate and member
    * reports cannot drift — the F16 rule); one doc-keyed join of two
    * doc-sized verdict frames over the members' own scans. */
  def pipelineMassivetext(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    gopherRules(docs)
      .select($"doc_id", $"n_words", $"passed".as("gopher_ok"))
      .join(repetitionRules(docs)
        .select($"doc_id", $"passed".as("repetition_ok")), Seq("doc_id"))
      .withColumn("kept", $"gopher_ok" && $"repetition_ok")
      .orderBy($"doc_id")
  }

  def pipelineMassivetextQuery(spark: SparkSession, sfDir: String): DataFrame =
    pipelineMassivetext(Tables.documents(spark, sfDir))

  // ---------------------------------------------------------------- C53b
  /** STREAMING MassiveText gate — C53's ingest twin, with the easy
    * honesty that makes it exact: every verdict in the battery is a
    * PER-DOCUMENT product (C50's token signals, C51's within-doc
    * repetition masses), and a document never spans micro-batches —
    * so the published chain applies to each batch UNCHANGED, with
    * zero cross-batch state and no watermark. Per trigger, the batch
    * operator's verdict frame (keep/drop + both failure surfaces —
    * the drop log that says WHY) lands under `epoch=<id>/`; the
    * epoch-overwrite makes a replayed trigger rewrite its own
    * directory (the AlertSink fence), so the audit log is
    * exactly-once. The batch C53 remains the oracle-checked truth;
    * the spec pins per-epoch union == batch-on-union and the replay
    * fence. */
  def massivetextStream(docs: DataFrame, auditDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        massivetextBatch(batch, epochId, auditDir)
      }
      .start()

  /** One trigger (public for the replay-fence spec). */
  def massivetextBatch(batch: DataFrame, epochId: Long,
      auditDir: String): Unit =
    pipelineMassivetext(batch)
      .write.mode("overwrite").parquet(s"$auditDir/epoch=$epochId")

  /** The accumulated verdict log (partition column `epoch` = the
    * delivering micro-batch). */
  def massivetextLog(spark: SparkSession, auditDir: String): DataFrame =
    spark.read.parquet(auditDir)

  def pipelineMassivetextSql(): String =
    // substitute AFTER stripMargin: the members' own SQL contains `||`
    // concatenations at line starts, which a second stripMargin pass
    // would corrupt to `|`
    """WITH g AS (%GOPHER%),
      |r AS (%REP%)
      |SELECT g.doc_id, g.n_words, g.passed AS gopher_ok,
      |  r.passed AS repetition_ok,
      |  g.passed AND r.passed AS kept
      |FROM g JOIN r ON g.doc_id = r.doc_id
      |ORDER BY g.doc_id""".stripMargin
      .replace("%GOPHER%", gopherRulesSql())
      .replace("%REP%", repetitionRulesSql())

  // ------------------------------------------------------------- C60
  /** MODEL-BASED quality filter — the published pipelines' "train a
    * classifier on a quality seed, score the corpus, keep what the
    * model likes" step (CCNet's Wikipedia-reference LM filter,
    * LLaMA's classifier pass), as a first-class operator: a TWO-CLASS
    * naive Bayes over hashed-bigram features
    * ([[graft.functions.TextFunctions.bigramBuckets]] — the portable
    * C37 hash pipeline), trained on any LABELED doc frame and scoring
    * every doc with z = Σ n_f·w_f, w_f = ln((pos_f+1)/(pos+B)) −
    * ln((neg_f+1)/(neg+B)) (add-1 smoothing; the class-prior term is
    * deliberately absorbed into `threshold` so the knob is one
    * number). C37 scores "looks like the TARGET DOMAIN vs the raw
    * corpus"; THIS scores "looks like the GOOD class vs the BAD
    * class" — the estimator differs exactly where the use case does
    * (denominator = the negative class, not everything). Features
    * unseen in the labeled set take the smoothed floor weight
    * ln((neg+B)/(pos+B)) instead of silently dropping out — a fully
    * novel doc reads as the class-mass prior, not as spuriously
    * confident.
    *
    * The driver row closes the loop with published parts only: labels
    * = C50's Gopher verdict (battery pass = positive), so the
    * classifier GENERALIZES the hand rules into a statistical gate —
    * and the whole train+score computation is ORACLE-CHECKED (ln of
    * exact integer ratios + the DECIMAL(28,12) order-free sum, the
    * C37 parity argument verbatim).
    *
    * Scale shape: one feature pass (pinned — class counts and the
    * scoring join both read it), bucket stats ≤ nBuckets broadcast,
    * nothing pairs documents; training cost is the feature pass, so
    * "retrain on a new seed" is one corpus scan. */
  def qualityClassifier(spark: SparkSession, sfDir: String,
      nBuckets: Int = 4096, threshold: Double = 0.0): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    qualityClassifierOf(docs,
      gopherRules(docs).select(col("doc_id"), col("passed").as("is_pos")),
      nBuckets, threshold)
  }

  /** C60 over arbitrary docs + labels (doc_id, is_pos) — the spec
    * entry; docs absent from `labels` are scored but not trained on.
    *
    * Pin discipline (the r12 ADVICE class): the doc×bucket feature
    * frame is pinned (class counts + the scoring join both read it)
    * but released in a `finally` once the served projection is
    * MATERIALIZED — its own eager checkpoint, lineage-independent of
    * the feature pass. Bucket class counts are collected instead of
    * checkpointed (≤ nBuckets rows — driver-bounded by construction),
    * so the only storage that outlives the call is the one doc-sized
    * result frame the caller holds; callers that aggregate it further
    * (C61's report) release even that via Tables.unpinCheckpoint. */
  def qualityClassifierOf(docs: DataFrame, labels: DataFrame,
      nBuckets: Int = 4096, threshold: Double = 0.0): DataFrame = {
    val (out, nf) = qualityClassifierLazy(docs, labels, nBuckets, threshold)
    // materialized HERE so the nf pin can release — the returned frame
    // reads only its own checkpoint blocks
    try out.localCheckpoint(true)
    finally nf.foreach(Tables.unpinCheckpoint)
  }

  /** The LAZY scoring plan + the feature pin backing it — the internal
    * seam the plan gate inspects (the public entry materializes and
    * detaches, hiding the join shape behind an RDD scan). Callers must
    * materialize the frame, then release the pin. */
  private[graft] def qualityClassifierLazy(docs: DataFrame,
      labels: DataFrame, nBuckets: Int,
      threshold: Double): (DataFrame, Option[DataFrame]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nBuckets >= 2 && (nBuckets & (nBuckets - 1)) == 0,
      s"nBuckets $nBuckets must be a power of two (the oracle's " +
        "mod-2^64 chain reduces exactly only then)")
    val nf = Scale.fanOutScanLight(docs)
      .select(col("doc_id"),
        graft.functions.TextFunctions.bigramBuckets(
          TextAnalysis.tokens("text"), nBuckets).as("bs"))
      .select(col("doc_id"), explode(col("bs")).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("nf"))
      .localCheckpoint(true) // class counts + scoring join both read it
    val counts =
      try nf
        .join(labels.select(col("doc_id"), col("is_pos")), Seq("doc_id"))
        .groupBy($"b")
        .agg(sum(when($"is_pos", $"nf").otherwise(0L)).as("pc"),
          sum(when(!$"is_pos", $"nf").otherwise(0L)).as("nc"))
        .collect() // ≤ nBuckets rows — driver-bounded by construction
      catch { case t: Throwable => Tables.unpinCheckpoint(nf); throw t }
    if (counts.isEmpty) {
      // the zero frame reads only `docs` — no pin to hand back
      Tables.unpinCheckpoint(nf)
      return (docs.select(col("doc_id"), col("source"),
        lit(0.0).as("nb_z"), lit(false).as("keep")), None)
    }
    val pt = counts.map(_.getLong(1)).sum
    val nt = counts.map(_.getLong(2)).sum
    // smoothed floor for features absent from the labeled set;
    // driver-side math.log == executor-side log() (both Math.log),
    // so weights are bit-identical to the former distributed form
    val w0 = math.log((nt + nBuckets).toDouble / (pt + nBuckets).toDouble)
    val w = counts.toSeq.map { r =>
      (r.getLong(0),
        math.log((r.getLong(1) + 1).toDouble / (pt + nBuckets)) -
          math.log((r.getLong(2) + 1).toDouble / (nt + nBuckets)))
    }.toDF("b", "w")
    val z = nf.join(broadcast(w), Seq("b"), "left")
      .groupBy($"doc_id")
      .agg(sum(($"nf" * coalesce($"w", lit(w0))).cast("decimal(28,12)"))
        .cast("double").as("z"))
    (docs.select(col("doc_id"), col("source"))
      .join(z, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        round(coalesce(col("z"), lit(0.0)), 6).as("nb_z"),
        (coalesce(col("z"), lit(0.0)) > threshold).as("keep"))
      .orderBy(col("doc_id")), Some(nf))
  }

  // ------------------------------------------------------------- C60b
  /** C60's TRAINED MODEL as a dense bucket-indexed weight vector —
    * the SERVING artifact: training collapses to one corpus feature
    * pass + a ≤nBuckets collect (training IS index-build work), and
    * the vector ships to executors as a codegen reference object.
    * Slots for features absent from the labeled set carry the
    * smoothed floor w0, so the dense gather and the batch
    * join-with-coalesce score identically by construction. */
  def qualityClassifierModel(docs: DataFrame, labels: DataFrame,
      nBuckets: Int = 4096): Array[Double] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nBuckets >= 2 && (nBuckets & (nBuckets - 1)) == 0,
      s"nBuckets $nBuckets must be a power of two")
    val rows = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.bigramBuckets(
          TextAnalysis.tokens("text"), nBuckets).as("bs"))
      .select(col("doc_id"), explode(col("bs")).as("b"))
      .join(labels.select(col("doc_id"), col("is_pos")), Seq("doc_id"))
      .groupBy($"b")
      .agg(sum(when($"is_pos", 1L).otherwise(0L)).as("pc"),
        sum(when(!$"is_pos", 1L).otherwise(0L)).as("nc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pt = rows.map(_._2).sum
    val nt = rows.map(_._3).sum
    val w0 = math.log((nt + nBuckets).toDouble / (pt + nBuckets).toDouble)
    val w = Array.fill(nBuckets)(w0)
    rows.foreach { case (b, pc, nc) =>
      w(b.toInt) = math.log((pc + 1).toDouble / (pt + nBuckets)) -
        math.log((nc + 1).toDouble / (nt + nBuckets))
    }
    w
  }

  /** SERVE the classifier — one dense-gather projection
    * ([[graft.functions.ClassifierFunctions.bucketScoreSum]]), no
    * join, no shuffle, no state: the SAME call scores a batch corpus
    * and a LIVE ingest stream (pass a streaming frame — the plan is a
    * stateless map, so it attaches to any sink mode), which makes
    * this C60's streaming admission twin the same way curateStream
    * twins the batch gates. Scores match [[qualityClassifierOf]] to
    * float addition order (the serving-tier tolerance, spec-pinned at
    * 1e-6); the batch operator remains the oracle-checked truth. */
  def classifierServe(docs: DataFrame, model: Array[Double],
      threshold: Double = 0.0): DataFrame =
    classifierServeWith(docs, model, threshold)
      .select(col("doc_id"), col("nb_z"), col("keep"))

  /** The serve with EVERY input column carried through (the E35
    * langClassifierServeWith move) — the seam stateless stream twins
    * attach to: a streaming consumer cannot join verdicts back by
    * doc_id without turning a map stage into a stream-stream join, so
    * the kernel must ride the row. Same expression, same decision
    * rule; [[classifierServe]] is this plus a projection, so the two
    * cannot drift. */
  def classifierServeWith(docs: DataFrame, model: Array[Double],
      threshold: Double = 0.0): DataFrame = {
    require(model.nonEmpty && (model.length & (model.length - 1)) == 0,
      s"model length ${model.length} must be a power of two (the hash " +
        "pipeline's bucket count)")
    docs.withColumn("__z",
        graft.functions.ClassifierFunctions.bucketScoreSum(
          graft.functions.TextFunctions.bigramBuckets(
            TextAnalysis.tokens("text"), model.length), model))
      .withColumn("nb_z", round(col("__z"), 6))
      .withColumn("keep", col("__z") > threshold)
      .drop("__z")
  }

  // ------------------------------------------------------------ C69b
  /** RECALIBRATED SERVING — C69 closed into the serving tier: the
    * calibration report says whether the z-score can be trusted as a
    * rate; THIS makes it one. Pool-adjacent-violators isotonic
    * regression over the C69 bins (n-weighted, the classic monotone
    * fit — driver-side over ≤ nBins rows, the C64 argmax class) turns
    * (mean_score, pos_rate) into a monotone step map, and serving
    * stamps each scored doc with the step's level as `p_keep` — a
    * probability a DSIR-style weighted sampler can multiply, where
    * the raw z-score was rank-information only. The step map rides
    * the plan as ≤ nBins literals (codegen'd when-chain, no join). */
  private[graft] def pavaFit(
      bins: Seq[(Double, Double, Long)]): Seq[(Double, Double)] = {
    require(bins.nonEmpty, "calibration frame is empty — build it " +
      "with classifierCalibrationOf over a labeled corpus")
    val st = scala.collection.mutable.ArrayBuffer
      .empty[(Double, Double, Long)] // (left edge score, level, weight)
    bins.sortBy(_._1).foreach { case (s, r, n) =>
      st += ((s, r, n))
      while (st.length >= 2 && st(st.length - 2)._2 > st.last._2) {
        val (_, r2, n2) = st.remove(st.length - 1)
        val (s1, r1, n1) = st.remove(st.length - 1)
        st += ((s1, (r1 * n1 + r2 * n2) / (n1 + n2), n1 + n2))
      }
    }
    st.map(x => (x._1, x._2)).toSeq
  }

  def classifierServeCalibrated(docs: DataFrame, model: Array[Double],
      calibration: DataFrame, threshold: Double = 0.0): DataFrame = {
    // ≤ nBins rows — driver-bounded by construction
    val bins = calibration
      .select(col("mean_score"), col("pos_rate"), col("n")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSeq
    val steps = pavaFit(bins)
    val prob = steps.tail.foldLeft(lit(steps.head._2)) {
      case (acc, (edge, lvl)) =>
        when(col("nb_z") >= edge, lvl).otherwise(acc)
    }
    classifierServe(docs, model, threshold)
      .withColumn("p_keep", round(prob, 6))
  }

  // ------------------------------------------------------------- C69c
  /** CALIBRATED SAMPLING — C69b's promise cashed: the docstring said
    * p_keep is "a probability a DSIR-style weighted sampler can
    * multiply", and until now nothing multiplied it. Bernoulli
    * admission per doc — admitted iff u(doc_id) < p_keep^(1/T), with
    * u the SAME seeded-LCG uniform C31 splits on (deterministic,
    * session-free, replayable forever) and T the usual temperature
    * knob (T=1 honest probabilities; T→∞ flattens toward
    * keep-everything, T<1 sharpens toward the argmax gate). Unlike
    * the C18 rank cut (a hard quantile on the raw score), this keeps
    * a CALIBRATED fraction of every quality stratum — the sampler's
    * expected yield per bin IS the bin's p_keep, which the spec pins.
    * One map-only pass over the served frame: the LCG, the power, and
    * the compare all ride the scan — no shuffle, no state. Rows-only:
    * PAVA levels + hashed features are engine-specific (C69b's
    * reason). */
  def calibratedSample(spark: SparkSession, sfDir: String,
      nBuckets: Int = 4096, nBins: Int = 10, temperature: Double = 1.0,
      seed: Long = 29L): DataFrame =
    calibratedSampleOf(
      classifierServeCalibratedQuery(spark, sfDir, nBuckets, nBins),
      temperature, seed)
      .orderBy(col("doc_id"))

  /** C69c over any (doc_id, p_keep)-bearing frame — the spec entry. */
  def calibratedSampleOf(scored: DataFrame, temperature: Double = 1.0,
      seed: Long = 29L): DataFrame = {
    require(temperature > 0, s"temperature $temperature must be > 0")
    val u = shiftrightunsigned(shuffleKey(col("doc_id"), seed), 32)
      .cast("double") / 4294967296.0
    // strict <: p_eff = 0 never admits, p_eff = 1 always does; both
    // compared at round-6 (the C62 handoff rule) — but raw u in
    // [0.9999995, 1) rounds UP to 1.000000, which would fail the
    // strict cut against p_eff = 1 and bias every bin's yield by the
    // same ~5e-7 mass, so the rounded u clamps to 0.999999: the
    // comparison domain stays [0, 1) exactly as the raw uniform's.
    scored.withColumn("u", least(round(u, 6), lit(0.999999)))
      .withColumn("p_eff",
        round(pow(col("p_keep"), lit(1.0 / temperature)), 6))
      .withColumn("admitted", col("u") < col("p_eff"))
  }

  // ------------------------------------------------------------- C69e
  /** CALIBRATED BUDGET FILL — the C28 selection kernel ranked by the
    * ISOTONIC probability instead of the E2 heuristic composite:
    * spend the token budget on the best-calibrated docs first, so the
    * expected keep-quality of the admitted set is maximized under the
    * budget and the cut point is a PROBABILITY a reader can interpret
    * ("we funded everything the model rates above ~0.6"), not an
    * opaque composite value. Quality order and budget denomination
    * stay independent knobs (budgetSelectFromScored's contract);
    * p_keep ∈ [0, 1] so q6 = floor(p_keep·1e6) satisfies the C18 key
    * packing unchanged. Rows-only: PAVA levels + hashed features —
    * C69b's reason; the spec pins quality-first admission and the
    * budget boundary on a planted frame. */
  def budgetSelectCalibrated(spark: SparkSession, sfDir: String,
      budgetTokens: Long = 15000, nBuckets: Int = 4096,
      nBins: Int = 10): DataFrame =
    budgetSelectCalibratedOf(Tables.documents(spark, sfDir),
      classifierServeCalibratedQuery(spark, sfDir, nBuckets, nBins)
        .select(col("doc_id"), col("p_keep")),
      budgetTokens)

  /** C69e over arbitrary docs + any (doc_id, p_keep) frame — the spec
    * entry. */
  def budgetSelectCalibratedOf(docs: DataFrame, pkeep: DataFrame,
      budgetTokens: Long, buckets: Int = 1024): DataFrame =
    budgetSelectFromScored(
      Scale.fanOutScanLight(docs).withColumn("n_tokens",
          size(TextAnalysis.tokens()).cast("long"))
        .select(col("doc_id"), col("n_tokens"))
        .join(pkeep.select(col("doc_id"),
          floor(col("p_keep") * 1e6).cast("long").as("q6")),
          Seq("doc_id"))
        .filter(col("q6").isNotNull),
      budgetTokens, buckets)

  // ------------------------------------------------------------- C60c
  /** TRAINING-TIME SCORE PROFILE — the reference artifact the serving
    * drift gate compares against: the score distribution (mean, spread,
    * keep rate) of the frozen model over the corpus it was trained on,
    * one row, computed once at train time and stored next to the
    * weight vector. All three stats are order-free aggregates over one
    * serve pass. */
  def classifierProfile(docs: DataFrame, model: Array[Double],
      threshold: Double = 0.0): DataFrame =
    classifierServe(docs, model, threshold)
      .agg(avg(col("nb_z")).as("ref_mean"),
        coalesce(stddev_pop(col("nb_z")), lit(0.0)).as("ref_std"),
        avg(col("keep").cast("double")).as("ref_keep_rate"),
        count(lit(1)).as("ref_n"))

  /** DRIFT-GATED serving — B40's reference-profile discipline applied
    * to the classifier tier (the r11 verdict's item 6): a frozen model
    * scores whatever arrives FOREVER, so when the incoming vocabulary
    * drifts (new domain, new language, upstream tokenization change)
    * the scores silently degrade — every unseen bigram lands on the
    * smoothed floor weight, dragging the whole distribution toward the
    * prior. The gate scores the batch with the SAME dense gather, then
    * flags it when the batch's score distribution leaves the
    * training-time envelope: mean beyond `stdTol` reference spreads,
    * or keep rate beyond `keepTol` absolute. Flags are COLUMNS on
    * every served row (batch-level facts broadcast back onto the
    * rows), so a downstream sink can quarantine a drifted batch
    * without a second pass; the verdicts themselves are unchanged —
    * the gate OBSERVES, the threshold knob still decides. The flags
    * are BATCH-LEVEL CONSTANTS stamped as literals, so the batch
    * entry is two stateless serve passes (one 1-row stats action, one
    * output projection) with no pin, no join — fine for one-shot
    * batch audits; the STREAM twin scores once per trigger through a
    * checkpoint released in a finally after the sink returns. Missing
    * evidence never flags: an empty batch, a batch whose every score
    * is NULL (all-NULL text), or a profile row with NULL stats (built
    * over an empty corpus) reads as "nothing to compare" — flags stay
    * false rather than killing a long-running query on an NPE. */
  def classifierServeGated(docs: DataFrame, model: Array[Double],
      profile: DataFrame, threshold: Double = 0.0,
      stdTol: Double = 3.0, keepTol: Double = 0.15): DataFrame =
    gateScored(classifierServe(docs, model, threshold),
      profileRow(profile), stdTol, keepTol)

  /** The profile's 1-row collapse — shared by the batch and stream
    * entries; fails by name on an empty frame instead of head()'s
    * opaque NoSuchElement (the C58 advice rule). */
  private def profileRow(profile: DataFrame): org.apache.spark.sql.Row = {
    val rows = profile
      .select(col("ref_mean"), col("ref_std"), col("ref_keep_rate"))
      .take(1)
    require(rows.nonEmpty,
      "classifier profile frame is empty — build it with " +
        "classifierProfile over the training corpus")
    rows.head
  }

  /** The gate core over an ALREADY-SCORED frame: one 1-row stats
    * action + the literal-stamped output projection. Null-safe on
    * both sides (see [[classifierServeGated]]'s evidence rule). */
  private def gateScored(scored: DataFrame, p: org.apache.spark.sql.Row,
      stdTol: Double, keepTol: Double): DataFrame = {
    require(stdTol >= 0 && keepTol >= 0,
      s"tolerances must be >= 0 (got stdTol=$stdTol, keepTol=$keepTol)")
    def d(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val s = scored.agg(count(lit(1)), avg(col("nb_z")),
      avg(col("keep").cast("double"))).head()
    val batchMean = if (s.getLong(0) > 0) d(s, 1) else None
    val batchKeep = if (s.getLong(0) > 0) d(s, 2) else None
    val meanDrift = (for (bm <- batchMean; rm <- d(p, 0); rs <- d(p, 1))
      yield math.abs(bm - rm) > stdTol * math.max(rs, 1e-9))
      .getOrElse(false)
    val keepDrift = (for (bk <- batchKeep; rk <- d(p, 2))
      yield math.abs(bk - rk) > keepTol).getOrElse(false)
    scored.select(col("doc_id"), col("nb_z"), col("keep"),
      round(lit(batchMean.getOrElse(0.0)), 6).as("batch_mean"),
      round(lit(batchKeep.getOrElse(0.0)), 6).as("batch_keep_rate"),
      lit(meanDrift).as("mean_drift"),
      lit(keepDrift).as("keep_drift"),
      lit(meanDrift || keepDrift).as("drift"))
  }

  /** C60c's live twin: the gated serve applied per micro-batch (the
    * B40 foreachBatch shape), each batch's flagged rows handed to
    * `sink` with its batch id. The profile collapses to 3 collected
    * doubles at attach time; each trigger scores ONCE into a
    * checkpoint read by both the stats action and the sink, released
    * in a finally once the sink returns — `sink` must therefore
    * materialize synchronously (write/collect inside the call), which
    * every foreachBatch sink in this repo does. */
  def classifierServeGatedStream(stream: DataFrame, model: Array[Double],
      profile: DataFrame, threshold: Double = 0.0, stdTol: Double = 3.0,
      keepTol: Double = 0.15)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val pRow = profileRow(profile)
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val scored = classifierServe(batch, model, threshold)
        .localCheckpoint(true)
      try sink(gateScored(scored, pRow, stdTol, keepTol), batchId)
      finally graft.Tables.unpinCheckpoint(scored)
    }
  }

  /** The C37 hash pipeline's DuckDB twin from a `t(doc_id, is_t,
    * toks)` CTE to per-doc bucket counts `nf(doc_id, is_t, b, nf)` —
    * ONE definition spliced into both C60's and C61's oracles so the
    * feature chain cannot drift between them (`__B__` substituted by
    * the caller; already margin-stripped — splice AFTER stripMargin,
    * the member-SQL rule). */
  private val classifierNfSql: String =
    """h0 AS (SELECT doc_id, is_t,
      |  list_transform(list_transform(toks, tok ->
      |    list_reduce(list_prepend(0::BIGINT,
      |      list_transform(string_split(tok, ''), c -> ord(c))),
      |      (h, c) -> (h * 31 + c) % 4294967296)),
      |    u -> CAST(CASE WHEN u >= 2147483648 THEN u - 4294967296 ELSE u END AS BIGINT)) AS th
      |  FROM t),
      |hA AS (SELECT doc_id, is_t, list_transform(th, x -> xor(x, x >> 33)) AS th FROM h0),
      |hB AS (SELECT doc_id, is_t, list_transform(list_transform(th, x ->
      |    ((CASE WHEN x < 0 THEN x::HUGEINT + 18446744073709551616 ELSE x::HUGEINT END)
      |      * 18397679294719823053) % 18446744073709551616),
      |  u -> CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT)) AS th FROM hA),
      |hC AS (SELECT doc_id, is_t, list_transform(th, x -> xor(x, x >> 29)) AS th FROM hB),
      |hD AS (SELECT doc_id, is_t, list_transform(list_transform(th, x ->
      |    ((CASE WHEN x < 0 THEN x::HUGEINT + 18446744073709551616 ELSE x::HUGEINT END)
      |      * 14181476777654086739) % 18446744073709551616),
      |  u -> CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT)) AS th FROM hC),
      |hE AS (SELECT doc_id, is_t, list_transform(th, x -> xor(x, x >> 32)) AS th FROM hD),
      |bg AS (
      |  SELECT doc_id, is_t,
      |    unnest(list_transform(range(1, len(th)), i ->
      |      CAST(((CASE WHEN th[i] < 0 THEN th[i]::HUGEINT + 18446744073709551616
      |              ELSE th[i]::HUGEINT END) * 6364136223846793005
      |            + (CASE WHEN th[i+1] < 0 THEN th[i+1]::HUGEINT + 18446744073709551616
      |              ELSE th[i+1]::HUGEINT END)) % __B__ AS BIGINT))) AS b
      |  FROM hE WHERE len(th) >= 2),
      |nf AS (SELECT doc_id, is_t, b, COUNT(*) AS nf FROM bg GROUP BY 1, 2, 3)""".stripMargin

  /** C60's composition oracle: C50's verdict labels the t CTE, then
    * the C37 hash/count/ln/decimal-sum chain with two-class counts. */
  def qualityClassifierSql(nBuckets: Int = 4096,
      threshold: Double = 0.0): String =
    // substitute %GOPHER%/%NF% AFTER stripMargin (the member SQL rule)
    """WITH g AS (%GOPHER%),
      |t AS (
      |  SELECT d.doc_id, g.passed AS is_t,
      |    regexp_extract_all(lower(d.text), '[a-z0-9]+') AS toks
      |  FROM documents d JOIN g ON d.doc_id = g.doc_id),
      |%NF%,
      |c AS (
      |  SELECT b,
      |    CAST(SUM(CASE WHEN is_t THEN nf ELSE 0 END) AS BIGINT) AS pc,
      |    CAST(SUM(CASE WHEN NOT is_t THEN nf ELSE 0 END) AS BIGINT) AS nc
      |  FROM nf GROUP BY b),
      |tt AS (SELECT CAST(SUM(pc) AS BIGINT) AS pt,
      |  CAST(SUM(nc) AS BIGINT) AS nt FROM c),
      |w AS (
      |  SELECT b,
      |    ln(CAST(pc + 1 AS DOUBLE) / CAST(pt + __B__ AS DOUBLE)) -
      |    ln(CAST(nc + 1 AS DOUBLE) / CAST(nt + __B__ AS DOUBLE)) AS w
      |  FROM c, tt),
      |s AS (
      |  SELECT doc_id,
      |    CAST(SUM(CAST(nf * w AS DECIMAL(28,12))) AS DOUBLE) AS z
      |  FROM nf JOIN w USING (b) GROUP BY doc_id)
      |-- inner join is LOSSLESS here (unlike C61): every doc carries a
      |-- label, so every nf bucket appears in c and hence in w
      |SELECT d.doc_id, d.source, ROUND(COALESCE(s.z, 0.0), 6) AS nb_z,
      |  COALESCE(s.z, 0.0) > __THR__ AS keep
      |FROM documents d LEFT JOIN s USING (doc_id)
      |ORDER BY doc_id""".stripMargin
      .replace("%NF%", classifierNfSql)
      .replace("%GOPHER%", gopherRulesSql())
      .replace("__B__", nBuckets.toString)
      .replace("__THR__", threshold.toString)

  // ------------------------------------------------------------- C61
  /** The operating-curve threshold grid — symmetric around the
    * prior-absorbing zero point C60 documents. */
  val ReportThresholds: Seq[Double] =
    Seq(-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0)

  /** CLASSIFIER OPERATING-CURVE REPORT — the C54/D8 discipline
    * ("retrieval quality as a driver-visible NUMBER") applied to the
    * C60 quality classifier: until now the classifier was
    * arithmetic-verified but QUALITY-unmeasured, so a user picking a
    * keep threshold had no artifact to read. This is that artifact:
    * split the corpus with C31's stable hash split, train C60 on the
    * TRAIN split's labels only, score everything with the same
    * oracle-checked chain, and report held-out (val+test) precision /
    * recall / F1 at a threshold grid — one row per threshold, the
    * operating curve a gate owner sweeps. Verdicts compare the
    * 6-decimal-rounded score (the engine-portable quantity C60's
    * oracle already certifies) against each grid point, so the whole
    * report — counts, divisions, rounding — is ORACLE-CHECKED
    * end-to-end: the one new exchange class beyond C60 is a
    * |heldout|×|grid| broadcast fan-out feeding a map-side-combinable
    * count aggregate (the grid is 7 literals — no shuffle grows with
    * the corpus). F1 computed as 2tp/(2tp+fp+fn), the division-safe
    * form (NULL only when the heldout slice has no positives at all
    * and nothing is kept). */
  def classifierReport(spark: SparkSession, sfDir: String,
      nBuckets: Int = 4096,
      thresholds: Seq[Double] = ReportThresholds,
      valFrac: Double = 0.05, testFrac: Double = 0.05,
      seed: Long = 11L): DataFrame = {
    // the report is audit/build output over a corpus version (the C54
    // cache rule): ≤|grid| collected rows cache per (corpus stamp,
    // params) — C64 re-reads it for threshold selection and would
    // otherwise re-run the whole train+score chain per call. Driver
    // memory only (7 rows), zero pinned blocks.
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    val key = s"$nBuckets:${thresholds.mkString(",")}:$valFrac:$testFrac:$seed"
    val (rows, schema) = reportCache(sfDir, stamp, key) {
      val docs = Tables.documents(spark, sfDir)
      val rep = classifierReportOf(docs,
        gopherRules(docs).select(col("doc_id"), col("passed").as("is_pos")),
        splitAssign(docs, valFrac, testFrac, seed)
          .select(col("doc_id"), col("split")),
        nBuckets, thresholds)
      (rep.collectAsList(), rep.schema)
    }
    spark.createDataFrame(rows, schema)
  }

  private val reportCache = new StampedCache[String,
    (java.util.List[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)]

  /** C61 over arbitrary docs + truth labels (doc_id, is_pos) + a split
    * assignment (doc_id, split) — the spec entry (a hand-built
    * separable corpus makes the curve hand-checkable). */
  def classifierReportOf(docs: DataFrame, truth: DataFrame,
      split: DataFrame, nBuckets: Int = 4096,
      thresholds: Seq[Double] = ReportThresholds): DataFrame = {
    val spark = docs.sparkSession
    // the report collapses the pinned score frame to ≤|grid| rows, so
    // collect it and release the corpus-sized score pin before
    // returning — a classifierReport call leaves ZERO pins behind
    val (rep, scored) = classifierReportLazy(docs, truth, split,
      nBuckets, thresholds)
    try spark.createDataFrame(rep.collectAsList(), rep.schema)
    finally Tables.unpinCheckpoint(scored)
  }

  /** The LAZY report plan + the pinned score frame backing it — the
    * internal seam the plan gate inspects (the public entry collects
    * the tiny report into a local relation). */
  private[graft] def classifierReportLazy(docs: DataFrame,
      truth: DataFrame, split: DataFrame, nBuckets: Int,
      thresholds: Seq[Double]): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(thresholds.nonEmpty, "need at least one threshold")
    // train on the train split ONLY — scoring the heldout docs with
    // weights their own labels shaped would inflate every metric
    val labels = truth.join(
      split.filter(col("split") === "train").select("doc_id"),
      Seq("doc_id"))
    val scored = qualityClassifierOf(docs, labels, nBuckets)
      .select(col("doc_id"), col("nb_z"))
    val held = scored
      .join(split.filter(col("split") =!= "train").select("doc_id"),
        Seq("doc_id"))
      .join(truth.select(col("doc_id"), col("is_pos")), Seq("doc_id"))
    val grid = thresholds.toDF("threshold")
    val kept = col("nb_z") > col("threshold")
    val rep = held.crossJoin(broadcast(grid))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_heldout"),
        sum(when(kept && col("is_pos"), 1L).otherwise(0L)).as("tp"),
        sum(when(kept && !col("is_pos"), 1L).otherwise(0L)).as("fp"),
        sum(when(!kept && col("is_pos"), 1L).otherwise(0L)).as("fn"),
        sum(when(!kept && !col("is_pos"), 1L).otherwise(0L)).as("tn"))
      .select(col("threshold"), col("n_heldout"), col("tp"), col("fp"),
        col("fn"), col("tn"),
        round(col("tp").cast("double") /
          nullif(col("tp") + col("fp"), lit(0L)), 6).as("precision"),
        round(col("tp").cast("double") /
          nullif(col("tp") + col("fn"), lit(0L)), 6).as("recall"),
        round(lit(2.0) * col("tp") /
          nullif(lit(2L) * col("tp") + col("fp") + col("fn"), lit(0L)), 6)
          .as("f1"))
      .orderBy(col("threshold"))
    (rep, scored)
  }

  /** C61's composition oracle: C31's split CTE + C50's labels + the
    * shared C60 chain with class counts restricted to the train
    * split, then the grid rollup. Because `c` sees ONLY train-split
    * counts, a heldout doc can carry buckets absent from `w` — the
    * scorer must LEFT JOIN and floor unseen buckets at
    * w0 = ln((nt+B)/(pt+B)), mirroring the Scala path exactly (an
    * inner join would silently drop train-unseen vocabulary and skew
    * every tp/fp/fn cell whenever pt != nt). */
  /** The shared score→heldout WITH-chain (gopher truth → split →
    * features → train counts → weights → scores → held) that BOTH the
    * C61 operating curve and the C69 calibration report splice — one
    * definition of "train on the train split, score everyone else",
    * so curve and calibration cannot drift. */
  private def classifierHeldSql(nBuckets: Int, valFrac: Double,
      testFrac: Double, seed: Long): String = {
    val vCut = math.floor(valFrac * 4294967296.0).toLong
    val tCut = math.floor((valFrac + testFrac) * 4294967296.0).toLong
    s"""WITH g AS (%GOPHER%),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN u // 4294967296 < $vCut THEN 'val'
       |         WHEN u // 4294967296 < $tCut THEN 'test'
       |         ELSE 'train' END AS split
       |  FROM (SELECT doc_id,
       |      ((doc_id + $seed)::HUGEINT * 6364136223846793005
       |        + 1442695040888963407) % 18446744073709551616 AS u
       |    FROM documents)),
       |t AS (
       |  SELECT d.doc_id, g.passed AS is_t,
       |    regexp_extract_all(lower(d.text), '[a-z0-9]+') AS toks
       |  FROM documents d JOIN g ON d.doc_id = g.doc_id),
       |%NF%,
       |c AS (
       |  SELECT b,
       |    CAST(SUM(CASE WHEN is_t THEN nf ELSE 0 END) AS BIGINT) AS pc,
       |    CAST(SUM(CASE WHEN NOT is_t THEN nf ELSE 0 END) AS BIGINT) AS nc
       |  FROM nf JOIN sp USING (doc_id)
       |  WHERE sp.split = 'train' GROUP BY b),
       |tt AS (SELECT CAST(SUM(pc) AS BIGINT) AS pt,
       |  CAST(SUM(nc) AS BIGINT) AS nt FROM c),
       |w AS (
       |  SELECT b,
       |    ln(CAST(pc + 1 AS DOUBLE) / CAST(pt + __B__ AS DOUBLE)) -
       |    ln(CAST(nc + 1 AS DOUBLE) / CAST(nt + __B__ AS DOUBLE)) AS w
       |  FROM c, tt),
       |w0 AS (SELECT ln(CAST(nt + __B__ AS DOUBLE)
       |    / CAST(pt + __B__ AS DOUBLE)) AS w0 FROM tt),
       |s AS (
       |  SELECT doc_id,
       |    CAST(SUM(CAST(nf * COALESCE(w.w, w0.w0)
       |      AS DECIMAL(28,12))) AS DOUBLE) AS z
       |  FROM nf LEFT JOIN w USING (b) CROSS JOIN w0 GROUP BY doc_id),
       |held AS (
       |  SELECT d.doc_id, g.passed AS is_pos,
       |    ROUND(COALESCE(s.z, 0.0), 6) AS nb_z
       |  FROM documents d
       |  JOIN sp ON sp.doc_id = d.doc_id
       |  JOIN g ON g.doc_id = d.doc_id
       |  LEFT JOIN s ON s.doc_id = d.doc_id
       |  WHERE sp.split <> 'train')""".stripMargin
      .replace("%NF%", classifierNfSql)
      .replace("%GOPHER%", gopherRulesSql())
      .replace("__B__", nBuckets.toString)
  }

  def classifierReportSql(nBuckets: Int = 4096,
      thresholds: Seq[Double] = ReportThresholds,
      valFrac: Double = 0.05, testFrac: Double = 0.05,
      seed: Long = 11L): String = {
    val grid = thresholds.map(t => s"($t)").mkString(", ")
    classifierHeldSql(nBuckets, valFrac, testFrac, seed) + "," +
    s"""
       |grid AS (SELECT CAST(v AS DOUBLE) AS threshold
       |  FROM (VALUES $grid) AS gv(v)),
       |m AS (
       |  SELECT threshold,
       |    COUNT(*) AS n_heldout,
       |    CAST(SUM(CASE WHEN nb_z > threshold AND is_pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN nb_z > threshold AND NOT is_pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN NOT (nb_z > threshold) AND is_pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(SUM(CASE WHEN NOT (nb_z > threshold) AND NOT is_pos THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM held CROSS JOIN grid GROUP BY threshold)
       |SELECT threshold, n_heldout, tp, fp, fn, tn,
       |  ROUND(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6) AS "precision",
       |  ROUND(CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 6) AS recall,
       |  ROUND(2.0 * tp / nullif(2 * tp + fp + fn, 0), 6) AS f1
       |FROM m ORDER BY threshold""".stripMargin
  }

  def classifierCalibrationSql(nBuckets: Int = 4096, nBins: Int = 10,
      valFrac: Double = 0.05, testFrac: Double = 0.05,
      seed: Long = 11L): String =
    classifierHeldSql(nBuckets, valFrac, testFrac, seed) + "," +
    s"""
       |mm AS (SELECT MIN(nb_z) AS mn, MAX(nb_z) AS mx FROM held),
       |dec AS (
       |  SELECT is_pos, nb_z,
       |    CASE WHEN mx = mn THEN 0
       |         ELSE LEAST(${nBins - 1}, CAST(FLOOR(
       |           (nb_z - mn) / (mx - mn) * $nBins) AS BIGINT)) END
       |      AS bin
       |  FROM held CROSS JOIN mm)
       |SELECT CAST(bin AS INTEGER) AS bin, COUNT(*) AS n,
       |  ROUND(CAST(SUM(CAST(nb_z AS DECIMAL(28,12))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_score,
       |  ROUND(AVG(CASE WHEN is_pos THEN 1.0 ELSE 0.0 END), 6)
       |    AS pos_rate
       |FROM dec GROUP BY bin ORDER BY bin""".stripMargin

  // ------------------------------------------------------------- C69
  /** CALIBRATION REPORT — the reliability diagram for C60's scores
    * (C61 answers "where do I cut?"; this answers "can I TRUST the
    * score as a rate?" — the question anyone weighting docs by
    * classifier score, DSIR-style, is implicitly betting on): held-out
    * docs binned into equal-width score bins between the observed
    * min/max, each bin reporting its member count, mean score, and
    * empirical positive rate. A calibrated score has pos_rate rising
    * monotonically with mean_score; a cliff or inversion says the
    * z-score is rank-information only and must not be used as a
    * weight without recalibration.
    *
    * Equal-WIDTH bins, not quantiles, deliberately: quantile binning
    * needs a global sort (a corpus-scale single-partition window —
    * the exact shape this repo bans), while width binning is one
    * 1-row min/max aggregate broadcast into a map-side bin stamp.
    * Oracle-checked: bins come off the SAME 6-decimal-rounded score
    * C60 certifies, via IEEE-only arithmetic (subtract/divide/
    * multiply/floor — no libm), and the per-bin mean quantizes to
    * DECIMAL(28,12) before the order-free sum. Empty bins are absent
    * rows by construction (both engines group the same stamps). */
  def classifierCalibration(spark: SparkSession, sfDir: String,
      nBuckets: Int = 4096, nBins: Int = 10, valFrac: Double = 0.05,
      testFrac: Double = 0.05, seed: Long = 11L): DataFrame = {
    // audit output over a corpus version (the C61 cache rule):
    // ≤ nBins collected rows, zero pinned blocks left behind
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    val key = s"$nBuckets:$nBins:$valFrac:$testFrac:$seed"
    val (rows, schema) = calibrationCache(sfDir, stamp, key) {
      val docs = Tables.documents(spark, sfDir)
      val rep = classifierCalibrationOf(docs,
        gopherRules(docs).select(col("doc_id"), col("passed").as("is_pos")),
        splitAssign(docs, valFrac, testFrac, seed)
          .select(col("doc_id"), col("split")),
        nBuckets, nBins)
      (rep.collectAsList(), rep.schema)
    }
    spark.createDataFrame(rows, schema)
  }

  private val calibrationCache = new StampedCache[String,
    (java.util.List[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)]

  /** C69 over arbitrary docs + truth (doc_id, is_pos) + a split
    * assignment — the spec entry (a planted separable corpus puts all
    * positives in the top bins and all negatives in the bottom). */
  def classifierCalibrationOf(docs: DataFrame, truth: DataFrame,
      split: DataFrame, nBuckets: Int = 4096,
      nBins: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nBins >= 2, s"nBins $nBins must be >= 2")
    // train on the train split ONLY (C61's held construction, exactly)
    val labels = truth.join(
      split.filter(col("split") === "train").select("doc_id"),
      Seq("doc_id"))
    val scored = qualityClassifierOf(docs, labels, nBuckets)
      .select(col("doc_id"), col("nb_z"))
    try {
      val held = scored
        .join(split.filter(col("split") =!= "train").select("doc_id"),
          Seq("doc_id"))
        .join(truth.select(col("doc_id"), col("is_pos")), Seq("doc_id"))
      // one 1-row min/max exchange broadcast into the bin stamp — the
      // C61 grid shape; no global sort anywhere
      val mm = held.agg(min($"nb_z").as("mn"), max($"nb_z").as("mx"))
      val rep = held.crossJoin(broadcast(mm))
        .withColumn("bin",
          when($"mx" === $"mn", lit(0L))
            .otherwise(least(lit((nBins - 1).toLong),
              floor(($"nb_z" - $"mn") / ($"mx" - $"mn") * nBins)))
            .cast("int"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n"),
          round(sum($"nb_z".cast("decimal(28,12)")).cast("double")
            / count(lit(1)), 6).as("mean_score"),
          round(avg(when($"is_pos", 1.0).otherwise(0.0)), 6)
            .as("pos_rate"))
        .orderBy($"bin")
      // ≤ nBins rows — detach so the finally can release the score pin
      spark.createDataFrame(rep.collectAsList(), rep.schema)
    } finally Tables.unpinCheckpoint(scored)
  }

  // ------------------------------------------------------------- C64
  /** OPERATING-POINT SELECTION over the C61 curve — the round-13 ask:
    * C61 emits the seven-point operating grid, but the serving tier
    * (C60b dense gather, C60c drift gate) still took a HAND-PICKED
    * threshold constant; this closes the loop by DERIVING the
    * operating point from the measured curve, so "retrain → remeasure
    * → rethreshold" is one artifact chain with no human constant in
    * the middle. Two modes:
    *  - max-F1 (default, the driver row): the grid row with the
    *    highest held-out F1, ties to the SMALLER threshold (keep more
    *    at equal F1) and NULL F1s last — an argmax over an
    *    already-tiny frame, fully SQL-expressible, oracle-checked.
    *  - precision-target: the SMALLEST threshold whose held-out
    *    precision clears `target` — recall is monotone non-increasing
    *    in the threshold, so the smallest qualifying threshold is the
    *    max-recall point at that precision bar; EMPTY when no grid
    *    point qualifies (the caller decides whether to widen the grid
    *    or refuse to serve — a silent fallback would ship a gate that
    *    misses its contract).
    * Scale: input is the |grid|-row report; selection is driver-cheap
    * by construction. */
  def classifierThreshold(spark: SparkSession, sfDir: String,
      nBuckets: Int = 4096,
      thresholds: Seq[Double] = ReportThresholds,
      valFrac: Double = 0.05, testFrac: Double = 0.05,
      seed: Long = 11L): DataFrame =
    classifierThresholdOf(classifierReport(spark, sfDir, nBuckets,
      thresholds, valFrac, testFrac, seed))

  /** C64 over any C61-shaped report frame — the spec entry. */
  def classifierThresholdOf(report: DataFrame,
      precisionTarget: Option[Double] = None): DataFrame =
    precisionTarget match {
      case None =>
        report.orderBy(desc_nulls_last("f1"), col("threshold")).limit(1)
      case Some(p) =>
        require(p >= 0 && p <= 1, s"precision target $p out of [0, 1]")
        report.filter(col("precision").isNotNull && col("precision") >= p)
          .orderBy(col("threshold")).limit(1)
    }

  /** The chosen point as the SCALAR the serving tier consumes
    * ([[classifierServe]] / [[classifierServeGated]] `threshold`
    * argument) — fails by name when no point qualifies rather than
    * serving a default the curve never certified. */
  def chosenThreshold(report: DataFrame,
      precisionTarget: Option[Double] = None): Double = {
    val rows = classifierThresholdOf(report, precisionTarget)
      .select(col("threshold")).take(1)
    require(rows.nonEmpty,
      "classifier threshold selection: no operating point qualifies " +
        "(empty report, or no grid row meets the precision target) — " +
        "widen the threshold grid or lower the target")
    rows.head.getDouble(0)
  }

  /** C64's oracle: the C61 curve wrapped in the argmax (DESC NULLS
    * LAST + threshold tiebreak — both engines sort the same rounded
    * doubles). */
  def classifierThresholdSql(nBuckets: Int = 4096,
      thresholds: Seq[Double] = ReportThresholds,
      valFrac: Double = 0.05, testFrac: Double = 0.05,
      seed: Long = 11L): String =
    // splice AFTER stripMargin (the member-SQL rule)
    """SELECT * FROM (%REPORT%)
      |ORDER BY f1 DESC NULLS LAST, threshold LIMIT 1"""
      .stripMargin
      .replace("%REPORT%",
        classifierReportSql(nBuckets, thresholds, valFrac, testFrac, seed))

  // ------------------------------------------------------------- C60d
  /** PERSISTED CLASSIFIER SERVING BUNDLE — the tokenizer-artifact
    * argument (E34) applied to the quality classifier: a gate serves a
    * frozen model for months, so the model must outlive the session
    * that trained it. One staged bundle carries everything the
    * drift-gated serving tier consumes — `weights/` (the dense bucket
    * vector at FULL double precision), `profile/` (the training-time
    * score envelope C60c compares against, computed at the DERIVED
    * operating point), and `meta/` (nBuckets, the C64-derived
    * threshold, corpus stamp as provenance) written LAST as the commit
    * point — so "train → measure → rethreshold → profile" ships as a
    * single versioned artifact and a serving tier can never pair a
    * model with another model's threshold or profile. */
  def writeQualityClassifier(spark: SparkSession, sfDir: String,
      dir: String, nBuckets: Int = 4096,
      thresholds: Seq[Double] = ReportThresholds,
      valFrac: Double = 0.05, testFrac: Double = 0.05,
      seed: Long = 11L): Unit = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val labels = gopherRules(docs)
      .select(col("doc_id"), col("passed").as("is_pos"))
    val model = qualityClassifierModel(docs, labels, nBuckets)
    val thr = chosenThreshold(classifierReport(spark, sfDir, nBuckets,
      thresholds, valFrac, testFrac, seed))
    model.zipWithIndex.map { case (w, b) => (b, w) }.toSeq.toDF("b", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/weights")
    classifierProfile(docs, model, thr)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/profile")
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    Seq((nBuckets, thr, stamp))
      .toDF("n_buckets", "threshold", "corpus_stamp")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** The re-opened bundle. A torn weights table (fewer rows than the
    * meta's nBuckets) fails by name — serving a partial vector would
    * silently floor every missing bucket at 0. */
  case class ClassifierBundle(model: Array[Double], threshold: Double,
      profile: DataFrame)
  private val bundleCache = new StampedCache[Unit, ClassifierBundle]
  /** Parsed bundles cached per (dir, meta stamp) — the Dedup.indexMeta
    * rule: re-opening a frozen artifact is three driver jobs (meta
    * head + nBuckets-row weights collect + profile read) that a
    * serving session otherwise pays once per scored batch; a restaged
    * bundle gets a fresh stamp and a fresh parse. */
  def readQualityClassifier(spark: SparkSession,
      dir: String): ClassifierBundle =
    // root stamp, not meta — a weights/profile rewrite alone must
    // invalidate the parsed bundle (the readLangModel rule)
    bundleCache(dir, Tables.pathStamp(spark, dir), ())(
      readQualityClassifierUncached(spark, dir))
  private def readQualityClassifierUncached(spark: SparkSession,
      dir: String): ClassifierBundle = {
    val m = spark.read.parquet(s"$dir/meta").head()
    val (nB, thr) = (m.getInt(0), m.getDouble(1))
    val rows = spark.read.parquet(s"$dir/weights").collect()
    require(rows.length == nB,
      s"classifier bundle at $dir is torn: ${rows.length} weight rows " +
        s"for nBuckets=$nB — rebuild with writeQualityClassifier")
    val w = new Array[Double](nB)
    rows.foreach(r => w(r.getInt(0)) = r.getDouble(1))
    ClassifierBundle(w, thr, spark.read.parquet(s"$dir/profile"))
  }

  /** Drift-gated serve straight from a staged bundle — the
    * cross-session consumer (any corpus, any session; bit-exact with
    * serving the in-session model, spec-pinned). */
  def classifierServeFrom(spark: SparkSession, dir: String,
      docs: DataFrame, stdTol: Double = 3.0,
      keepTol: Double = 0.15): DataFrame = {
    val b = readQualityClassifier(spark, dir)
    classifierServeGated(docs, b.model, b.profile, b.threshold,
      stdTol, keepTol)
  }

  /** Served entry: the gated serve ROUTED THROUGH THE DISK BUNDLE,
    * written once per corpus version (the C10 temp-dir discipline). */
  // stale corpus versions' staged dirs are reaped at JVM exit (the
  // snapshotCache rule)
  private val bundleDirCache = new StampedCache[Int, String](Dedup.deleteAtExit)
  private def servedBundleDir(spark: SparkSession, sfDir: String,
      nBuckets: Int): String =
    bundleDirCache(sfDir, Tables.pathStamp(spark, s"$sfDir/documents.parquet"),
        nBuckets) {
      val d = java.nio.file.Files
        .createTempDirectory("graft-classifier").toString
      writeQualityClassifier(spark, sfDir, d, nBuckets)
      d
    }

  def classifierServeIndexed(spark: SparkSession, sfDir: String,
      nBuckets: Int = 4096): DataFrame =
    classifierServeFrom(spark, servedBundleDir(spark, sfDir, nBuckets),
      Tables.documents(spark, sfDir))
      .orderBy(col("doc_id"))

  /** C69b's driver entry: the staged bundle's model served through
    * the isotonic step map fitted on the cached C69 report. */
  def classifierServeCalibratedQuery(spark: SparkSession, sfDir: String,
      nBuckets: Int = 4096, nBins: Int = 10): DataFrame = {
    val b = readQualityClassifier(spark,
      servedBundleDir(spark, sfDir, nBuckets))
    classifierServeCalibrated(Tables.documents(spark, sfDir), b.model,
      classifierCalibration(spark, sfDir, nBuckets, nBins), b.threshold)
      .orderBy(col("doc_id"))
  }

  def gopherRulesSql(minWords: Long = 50L, maxWords: Long = 100000L,
      minWordLen: Double = 3.0, maxWordLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStopWords: Long = 2L): String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    ROUND(CAST(list_sum(list_transform(toks, x -> length(x)))
       |        AS DOUBLE) / nullif(len(toks), 0), 6) AS mean_word_len,
       |    ROUND(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
       |        AS DOUBLE) / nullif(len(toks), 0), 6) AS alpha_frac,
       |    CAST(len(list_filter(toks, x -> list_contains(
       |      ['the','be','to','of','and','that','have','with'], x)))
       |      AS BIGINT) AS stop_words
       |  FROM t),
       |r AS (
       |  SELECT *,
       |    n_words >= $minWords AND n_words <= $maxWords AS words_ok,
       |    mean_word_len IS NOT NULL AND mean_word_len >= $minWordLen
       |      AND mean_word_len <= $maxWordLen AS word_len_ok,
       |    alpha_frac IS NOT NULL AND alpha_frac >= $minAlphaFrac
       |      AS alpha_ok,
       |    stop_words >= $minStopWords AS stop_ok
       |  FROM m)
       |SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_words,
       |  words_ok, word_len_ok, alpha_ok, stop_ok,
       |  words_ok AND word_len_ok AND alpha_ok AND stop_ok AS passed
       |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C51
  /** GOPHER REPETITION RULES — the other half of the published battery
    * (Rae et al. 2021, Appendix A): C50 gates on what a document's
    * tokens look like; THIS gates on how much of it is the same thing
    * over and over — the boilerplate/listicle/keyword-stuffing class
    * C50's signals cannot see. Per document, the character mass of the
    * heaviest repeated n-gram for n = 2, 3, 4 (top-fraction rules, the
    * published ≤ 0.20/0.18/0.16 defaults) and the character mass inside
    * DUPLICATED 5-grams (the ≤ 0.15 rule — a long doc whose top 2-gram
    * is diluted can still be 40% copy-pasted paragraphs, which is what
    * the dup rule catches). "Top mass" is max over REPEATED grams
    * (count ≥ 2) of count × gram-chars — deterministic with no
    * tie-break; a gram occurring once is not repetition, and admitting
    * it would flunk every short doc on whichever long 4-gram it
    * happens to contain. Fractions denominate in token chars and
    * compare ROUNDED at 6 (the F16 discipline) so no verdict sits on
    * an ulp. Overlapping occurrences can push a fraction past 1.0
    * (count × chars double-counts shared tokens — stated, monotone in
    * repetition, which is all a threshold rule needs).
    *
    * Scale shape: ONE gram explode carrying all four n values as a
    * tagged union (4× the token stream, the word_cooccurrence cost
    * class), one (doc, n, gram) count exchange, one doc-keyed
    * conditional aggregate, then a doc-sized join back to the base scan
    * so token-free docs keep their row. A doc with no REPEATED n-grams
    * at a given n has nothing to flag — NULL fraction, vacuous PASS
    * (length policing is C50's word-count rule, not this one's). On
    * this synthetic corpus dup-5 mass is honestly zero everywhere; the
    * spec plants a copy-pasted doc that fails it. */
  def repetitionRules(docs: DataFrame, top2Max: Double = 0.20,
      top3Max: Double = 0.18, top4Max: Double = 0.16,
      dup5Max: Double = 0.15): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(top2Max >= 0 && top3Max >= 0 && top4Max >= 0 && dup5Max >= 0,
      "rule thresholds must be non-negative")
    val toksed = docs.withColumn("toks", TextAnalysis.tokens())
    val base = toksed.select($"doc_id",
      coalesce(expr("aggregate(toks, 0L, (a, x) -> a + length(x))"), lit(0L))
        .as("tok_chars"))
    // Spark's sequence(1, 0) DESCENDS — each n guards on size(toks) >= n
    def grams(n: Int): String =
      s"""IF(size(toks) >= $n,
         |  transform(sequence(1, size(toks) - ${n - 1}),
         |    i -> struct($n AS n, concat_ws(' ', slice(toks, i, $n)) AS gram)),
         |  array())""".stripMargin
    val mass = toksed
      .select($"doc_id", explode(expr(
        s"concat(${grams(2)}, ${grams(3)}, ${grams(4)}, ${grams(5)})"))
        .as("g"))
      .select($"doc_id", $"g.n".as("n"), $"g.gram".as("gram"))
      .groupBy($"doc_id", $"n", $"gram")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("gmass", $"cnt" * (length($"gram") - ($"n" - 1)))
      .groupBy($"doc_id")
      .agg(
        max(when($"n" === 2 && $"cnt" > 1, $"gmass")).as("top2_mass"),
        max(when($"n" === 3 && $"cnt" > 1, $"gmass")).as("top3_mass"),
        max(when($"n" === 4 && $"cnt" > 1, $"gmass")).as("top4_mass"),
        sum(when($"n" === 5 && $"cnt" > 1, $"gmass")).as("dup5_mass0"),
        max(when($"n" === 5, lit(1))).as("has5"))
    base.join(mass, Seq("doc_id"), "left")
      .select($"doc_id",
        round($"top2_mass".cast("double") / nullif($"tok_chars", lit(0L)), 6)
          .as("top2_frac"),
        round($"top3_mass".cast("double") / nullif($"tok_chars", lit(0L)), 6)
          .as("top3_frac"),
        round($"top4_mass".cast("double") / nullif($"tok_chars", lit(0L)), 6)
          .as("top4_frac"),
        round(when($"has5" === 1, coalesce($"dup5_mass0", lit(0L)))
          .cast("double") / nullif($"tok_chars", lit(0L)), 6)
          .as("dup5_frac"))
      .withColumn("top2_ok", $"top2_frac".isNull || $"top2_frac" <= top2Max)
      .withColumn("top3_ok", $"top3_frac".isNull || $"top3_frac" <= top3Max)
      .withColumn("top4_ok", $"top4_frac".isNull || $"top4_frac" <= top4Max)
      .withColumn("dup5_ok", $"dup5_frac".isNull || $"dup5_frac" <= dup5Max)
      .withColumn("passed",
        $"top2_ok" && $"top3_ok" && $"top4_ok" && $"dup5_ok")
      .orderBy($"doc_id")
  }

  def repetitionRulesQuery(spark: SparkSession, sfDir: String): DataFrame =
    repetitionRules(Tables.documents(spark, sfDir))

  def repetitionRulesSql(top2Max: Double = 0.20, top3Max: Double = 0.18,
      top4Max: Double = 0.16, dup5Max: Double = 0.15): String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, CAST(coalesce(
       |      list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT)
       |    AS tok_chars
       |  FROM t),
       |g AS (
       |  SELECT doc_id, 2 AS n, toks[i] || ' ' || toks[i+1] AS gram
       |    FROM t, unnest(range(1, len(toks))) AS r(i)
       |  UNION ALL
       |  SELECT doc_id, 3, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |    FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
       |  UNION ALL
       |  SELECT doc_id, 4, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |      || ' ' || toks[i+3]
       |    FROM t, unnest(range(1, len(toks) - 2)) AS r(i)
       |  UNION ALL
       |  SELECT doc_id, 5, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |      || ' ' || toks[i+3] || ' ' || toks[i+4]
       |    FROM t, unnest(range(1, len(toks) - 3)) AS r(i)),
       |c AS (
       |  SELECT doc_id, n, gram, COUNT(*) AS cnt,
       |    COUNT(*) * (length(gram) - (n - 1)) AS gmass
       |  FROM g GROUP BY doc_id, n, gram),
       |m AS (
       |  SELECT doc_id,
       |    max(CASE WHEN n = 2 AND cnt > 1 THEN gmass END) AS top2_mass,
       |    max(CASE WHEN n = 3 AND cnt > 1 THEN gmass END) AS top3_mass,
       |    max(CASE WHEN n = 4 AND cnt > 1 THEN gmass END) AS top4_mass,
       |    sum(CASE WHEN n = 5 AND cnt > 1 THEN gmass END) AS dup5_mass0,
       |    max(CASE WHEN n = 5 THEN 1 END) AS has5
       |  FROM c GROUP BY doc_id),
       |f AS (
       |  SELECT b.doc_id,
       |    ROUND(CAST(top2_mass AS DOUBLE) / nullif(tok_chars, 0), 6)
       |      AS top2_frac,
       |    ROUND(CAST(top3_mass AS DOUBLE) / nullif(tok_chars, 0), 6)
       |      AS top3_frac,
       |    ROUND(CAST(top4_mass AS DOUBLE) / nullif(tok_chars, 0), 6)
       |      AS top4_frac,
       |    ROUND(CAST(CASE WHEN has5 = 1 THEN coalesce(dup5_mass0, 0) END
       |      AS DOUBLE) / nullif(tok_chars, 0), 6) AS dup5_frac
       |  FROM b LEFT JOIN m ON b.doc_id = m.doc_id)
       |SELECT doc_id, top2_frac, top3_frac, top4_frac, dup5_frac,
       |  top2_frac IS NULL OR top2_frac <= $top2Max AS top2_ok,
       |  top3_frac IS NULL OR top3_frac <= $top3Max AS top3_ok,
       |  top4_frac IS NULL OR top4_frac <= $top4Max AS top4_ok,
       |  dup5_frac IS NULL OR dup5_frac <= $dup5Max AS dup5_ok,
       |  (top2_frac IS NULL OR top2_frac <= $top2Max)
       |    AND (top3_frac IS NULL OR top3_frac <= $top3Max)
       |    AND (top4_frac IS NULL OR top4_frac <= $top4Max)
       |    AND (dup5_frac IS NULL OR dup5_frac <= $dup5Max) AS passed
       |FROM f ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C52
  /** CURRICULUM ORDER — the easy-first training schedule (Bengio et
    * al.'s curriculum learning, the length-proxy variant every LM
    * pretraining ablation starts from): rank the corpus by difficulty
    * (token count ASC — short docs first; any integer score plugs into
    * the same packing), cut the ranking into `stages` equal-size
    * stages, and DECORRELATE within each stage with the C23 seeded LCG
    * key — curriculum across stages, shuffled inside them, the order a
    * training run actually consumes (monotone difficulty with no
    * intra-stage ingestion-order bias). Deterministic end to end:
    * reruns, engines, and partition layouts all emit the same order.
    *
    * Scale shape: the global rank is [[Scale.stratifiedPrefixSum]]
    * under a CONSTANT stratum — the prefix kernel parallelizes by
    * order-key range buckets, so "global sort rank" costs two passes
    * and no single-partition window (C18's reasoning with the
    * per-source strata removed); the stage is integer arithmetic on
    * (rank, n) — `(rank−1)·stages div n`, exact on both engines; the
    * shuffle key is map-side LCG arithmetic. C18's key packing and its
    * collision guards apply verbatim. */
  def curriculumOrder(docs: DataFrame, stages: Int = 4, seed: Long = 41L,
      buckets: Int = 1024): DataFrame = {
    require(stages >= 1, s"stages $stages must be positive")
    // Pin the tokenized projection: the guard aggregate, both prefix-sum
    // passes, and (via packCurriculum) the stage totals + second prefix
    // all re-read THIS 16-byte-per-doc frame instead of re-tokenizing
    // the corpus each pass — the persist-before-prefix advice on
    // stratifiedPrefixSum applied (measured 1.45 → sub-second on the
    // packer). Blocks free on GC like every per-call pin in the repo.
    val scored = docs.select(col("doc_id"),
      size(TextAnalysis.tokens()).cast("long").as("n_tokens"))
      .localCheckpoint(true)
    val r = scored.agg(max(col("n_tokens")), min(col("n_tokens")),
      min(col("doc_id")), max(col("doc_id")), count(lit(1))).head()
    if (r.isNullAt(0))
      return scored.withColumn("rnk", lit(0L))
        .withColumn("stage", lit(0)).withColumn("shuffle_key", lit(0L))
        .limit(0)
    val n = r.getLong(4)
    require(r.getLong(0) - r.getLong(1) < (1L << 22) &&
      r.getLong(2) >= 0 && r.getLong(3) < (1L << 40),
      s"curriculumOrder key packing needs score span < 2^22 and doc_id " +
        s"in [0, 2^40); got span ${r.getLong(0) - r.getLong(1)}, " +
        s"ids [${r.getLong(2)}, ${r.getLong(3)}]")
    // rebase by the min BEFORE shifting (the lmBuckets/dsir pattern):
    // the span require bounds the actual multiplicand, so a corpus of
    // uniformly huge docs can't overflow the packed Long into negative
    // keys; subtracting a constant preserves the ascending order
    val keyed = scored
      .withColumn("__ord",
        (col("n_tokens") - lit(r.getLong(1))) * lit(1L << 40) + col("doc_id"))
      .withColumn("__one", lit(1L))
    Scale.stratifiedPrefixSum(keyed.withColumn("__all", lit("all")),
        "__all", "__ord", "__one", "rnk", buckets)
      .withColumn("stage",
        expr(s"(rnk - 1) * $stages div ${math.max(n, 1L)}").cast("int"))
      .withColumn("shuffle_key", shuffleKey(col("doc_id"), seed))
      .select(col("doc_id"), col("n_tokens"), col("rnk"), col("stage"),
        col("shuffle_key"))
      .orderBy(col("stage"), col("shuffle_key"), col("doc_id"))
  }

  def curriculumOrderQuery(spark: SparkSession, sfDir: String): DataFrame =
    curriculumOrder(Tables.documents(spark, sfDir))

  // ---------------------------------------------------------------- C52b
  /** CURRICULUM-ORDER PACKING — C13's concatenate-and-cut packer run
    * over C52's emitted order instead of ingestion order: the packed
    * artifact a curriculum training run actually reads (packing and
    * ordering as separate passes would re-shuffle the packed corpus
    * and destroy the stage structure — the order must BE the concat
    * order). Token offsets come from a second stratifiedPrefixSum with
    * the STAGE as the stratum and the LCG key as the order — within-
    * stage running mass in emitted order — plus a driver-side prefix
    * over the ≤`stages` per-stage totals for the cross-stage bases
    * (the C13 two-pass discipline applied per stage; nothing
    * single-partition anywhere). Deterministic end to end like C52. */
  def packCurriculum(docs: DataFrame, seqLen: Int = 2048, stages: Int = 4,
      seed: Long = 41L, buckets: Int = 1024): DataFrame = {
    require(seqLen >= 1, s"seqLen $seqLen must be positive")
    // pinned: four consumers execute this plan otherwise (the stage
    // totals collect, then the second prefix pass's probe, subtotal,
    // and output jobs) — five narrow scalars per doc cross the pin
    val cur = curriculumOrder(docs, stages, seed, buckets)
      .localCheckpoint(true)
    val stageTotals = cur.groupBy(col("stage"))
      .agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (stageTotals.isEmpty)
      return cur.withColumn("seq_id", lit(0L))
        .withColumn("seq_offset", lit(0L))
        .select(col("doc_id"), col("stage"), col("n_tokens"),
          col("seq_id"), col("seq_offset")).limit(0)
    // driver prefix over ≤ stages totals: base(s) = mass before stage s
    val maxStage = stageTotals.keys.max
    val bases = (0 to maxStage).scanLeft(0L) {
      (acc, s) => acc + stageTotals.getOrElse(s, 0L)
    }.init
    val baseLit = typedLit(bases)
    Scale.stratifiedPrefixSum(
        cur.withColumn("__st", col("stage").cast("string")),
        "__st", "shuffle_key", "n_tokens", "__cw", buckets)
      .withColumn("__cb",
        element_at(baseLit, col("stage") + 1) + col("__cw") - col("n_tokens"))
      .select(col("doc_id"), col("stage"), col("n_tokens"),
        expr(s"__cb div $seqLen").as("seq_id"),
        expr(s"__cb % $seqLen").as("seq_offset"))
      .orderBy(col("seq_id"), col("seq_offset"), col("doc_id"))
  }

  def packCurriculumQuery(spark: SparkSession, sfDir: String): DataFrame =
    packCurriculum(Tables.documents(spark, sfDir))

  /** CURRICULUM SHARDS — C52b's packed order written as STAGE-MAJOR
    * training shards (`stage=0/ … stage=k−1/`): a curriculum run
    * consumes the directories in label order, and inside each stage
    * the file order is the packed (seq_id, seq_offset) order — the
    * C21 loader contract per stage. The `stage` prefix leads the
    * within-partition sort for the writeShuffledShards reason
    * verbatim (a partitionBy write whose declared sort does not start
    * with the partition column gets a planner-inserted sort on the
    * column alone, which EliminateSorts then uses to strip THIS one,
    * scrambling rows inside files). */
  def writeCurriculumShards(docs: DataFrame, outDir: String,
      seqLen: Int = 2048, stages: Int = 4, seed: Long = 41L): Unit = {
    packCurriculum(docs, seqLen, stages, seed)
      .repartition(stages, col("stage"))
      .sortWithinPartitions(col("stage"), col("seq_id"), col("seq_offset"))
      .write.mode("overwrite").partitionBy("stage").parquet(outDir)
  }

  def packCurriculumSql(seqLen: Int = 2048, stages: Int = 4,
      seed: Long = 41L): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, n_tokens,
       |    ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) AS rnk,
       |    COUNT(*) OVER () AS n
       |  FROM t),
       |k AS (
       |  SELECT doc_id, n_tokens,
       |    CAST((rnk - 1) * $stages // n AS INT) AS stage,
       |    ((doc_id + $seed)::HUGEINT * 6364136223846793005
       |      + 1442695040888963407) % 18446744073709551616 AS u
       |  FROM r),
       |s AS (
       |  SELECT doc_id, n_tokens, stage,
       |    CAST(CASE WHEN u >= 9223372036854775808
       |         THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS skey
       |  FROM k),
       |c AS (
       |  SELECT doc_id, stage, n_tokens,
       |    SUM(n_tokens) OVER (ORDER BY stage, skey, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
       |      AS cb
       |  FROM s)
       |SELECT doc_id, stage, n_tokens,
       |  CAST(cb // $seqLen AS BIGINT) AS seq_id,
       |  CAST(cb % $seqLen AS BIGINT) AS seq_offset
       |FROM c ORDER BY seq_id, seq_offset, doc_id""".stripMargin

  def curriculumOrderSql(stages: Int = 4, seed: Long = 41L): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, n_tokens,
       |    ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) AS rnk,
       |    COUNT(*) OVER () AS n
       |  FROM t),
       |k AS (
       |  SELECT doc_id, n_tokens, rnk,
       |    CAST((rnk - 1) * $stages // n AS INT) AS stage,
       |    ((doc_id + $seed)::HUGEINT * 6364136223846793005
       |      + 1442695040888963407) % 18446744073709551616 AS u
       |  FROM r)
       |SELECT doc_id, n_tokens, CAST(rnk AS BIGINT) AS rnk, stage,
       |  CAST(CASE WHEN u >= 9223372036854775808
       |       THEN u - 18446744073709551616 ELSE u END AS BIGINT)
       |    AS shuffle_key
       |FROM k ORDER BY stage, shuffle_key, doc_id""".stripMargin
}
