package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{StampedCache, Tables}
import graft.functions.TextFunctions

/** Text analysis for training-data pipelines (SURVEY.md §2.E): token
  * counting, quality scoring, language ID, fingerprinting, word
  * frequencies. All per-row ops are codegen'd `functions._`/SQL
  * expressions (zero shuffle); only the corpus-level aggregations
  * shuffle. At 100 TB these scan-transform-write with full pushdown.
  */
object TextAnalysis {

  /** Word tokens, lowercased alphanumeric runs — the shared tokenizer
    * (identical regex on the DuckDB side). */
  def tokens(c: String = "text"): org.apache.spark.sql.Column =
    expr(s"regexp_extract_all(lower($c), '[a-z0-9]+', 0)")

  // ---------------------------------------------------------------- E1
  /** Token counting: whitespace tokens + BPE-ish regex tokens (word
    * pieces and single punctuation marks, GPT-2-flavored). */
  def textTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select(
      $"doc_id",
      size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\\\s]', 0)"))
        .cast("long").as("re_tokens"),
      size(tokens()).cast("long").as("word_tokens"))
      .orderBy($"doc_id")
  }

  val textTokensSql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '\S+')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS re_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- E2
  /** Quality scoring: length, punctuation ratio, stopword ratio, unique
    * token ratio, composite score. The stopword list is tiny and inline
    * (broadcast-free). */
  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")

  /** The stopword list as a DuckDB list literal — shared with every
    * oracle that restates the E2 composite (one list, no drift). */
  private[operators] val stopwordsSqlList: String =
    stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    textQualityOf(Tables.documents(spark, sfDir)).orderBy(col("doc_id"))

  /** The E2 quality pipeline over an arbitrary docs frame — the ONE
    * definition of the composite score, reused by the C28 budget
    * selector and its C29 streaming twin (a formula change here
    * changes all three, and the oracles restate it identically).
    * UNSORTED so it composes onto streams; the driver query adds the
    * presentation sort. */
  def textQualityOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stopArr = stopwords.map(w => s"'$w'").mkString("array(", ", ", ")")
    Scale.fanOutScanLight(docs)
      .withColumn("toks", tokens())
      .withColumn("n_tokens", size($"toks").cast("long"))
      .withColumn("punct_cnt",
        size(expr("regexp_extract_all(text, '[^A-Za-z0-9\\\\s]', 0)")).cast("long"))
      .withColumn("stop_cnt",
        size(expr(s"filter(toks, t -> array_contains($stopArr, t))")).cast("long"))
      // nullif on the denominators: a token-free or empty doc yields
      // NULL ratios (and a NULL composite) on BOTH engines, instead of
      // an ANSI divide-by-zero crash killing the whole corpus scan —
      // at 100 TB empty/punctuation-only docs are a certainty, and one
      // of them must not fail the sweep. Downstream consumers (C28
      // budget, C29 admission) drop NULL-quality docs explicitly.
      .withColumn("punct_ratio",
        $"punct_cnt".cast("double") / nullif(length($"text"), lit(0)))
      .withColumn("stop_ratio",
        $"stop_cnt".cast("double") / nullif($"n_tokens", lit(0L)))
      .withColumn("uniq_ratio",
        size(array_distinct($"toks")).cast("double") / nullif($"n_tokens", lit(0L)))
      // NO rounding anywhere: every term is identical plain double
      // arithmetic in both engines (0.25 is a power of two, divisions
      // are single ops), so raw doubles are bit-exact — while round()
      // itself diverges between engines on half-boundary values
      // (Spark BigDecimal HALF_UP vs DuckDB float rounding).
      .withColumn("quality_score",
        lit(0.25) * $"stop_ratio" + lit(0.25) * $"uniq_ratio" +
          lit(0.25) * (lit(1.0) - $"punct_ratio") +
          lit(0.25) * least(lit(1.0), $"n_tokens".cast("double") / 100.0))
      .select($"doc_id", $"n_tokens", $"punct_cnt", $"stop_cnt",
        $"punct_ratio", $"stop_ratio", $"uniq_ratio", $"quality_score")
  }

  val textQualitySql: String = {
    val stopList = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH x AS (
       |  SELECT doc_id, text,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
       |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
       |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct_cnt
       |  FROM documents),
       |y AS (
       |  SELECT doc_id, n_tokens, punct_cnt,
       |    len(list_filter(toks, t -> list_contains($stopList, t))) AS stop_cnt,
       |    CAST(punct_cnt AS DOUBLE) / nullif(length(text), 0) AS punct_ratio,
       |    CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE) / nullif(n_tokens, 0) AS stop_ratio,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(n_tokens, 0) AS uniq_ratio
       |  FROM x)
       |SELECT doc_id, n_tokens, punct_cnt, stop_cnt,
       |  punct_ratio, stop_ratio, uniq_ratio,
       |  0.25 * stop_ratio + 0.25 * uniq_ratio + 0.25 * (1.0 - punct_ratio)
       |    + 0.25 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) AS quality_score
       |FROM y ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- E41
  /** CODE DETECTION — the pretraining-corpus router E2's prose-quality
    * battery cannot express (code is "low quality" under stopword and
    * punctuation ratios, yet a code-aware mix WANTS it — routed, not
    * dropped): per doc, three code signals — symbol density
    * ({}()[];=<> chars per char), indented-line fraction (2+ spaces or
    * tab — the block-structure tell), and a prefix-free keyword hit
    * count (no regex backslashes, the EmailRe portability rule; a
    * prefix-free alternation makes Java's leftmost-first and RE2's
    * leftmost-longest agree) — composed into `code_score` with
    * power-of-two weights and NO rounding (the E2 bit-exactness
    * discipline: every term is one plain IEEE op in both engines).
    * One map-only pass; the score is a routing column, `is_code` the
    * 0.5 cut. NULL score on empty text (nullif denominators — E2's
    * reason). */
  val CodeKeywordRe: String =
    "(^|[^a-z0-9_])(def|return|import|class|function|const|void|" +
      "elif|lambda|struct|public|static|include|printf)([^a-z0-9_]|$)"

  def textCodeScore(spark: SparkSession, sfDir: String): DataFrame =
    textCodeScoreOf(Tables.documents(spark, sfDir)).orderBy(col("doc_id"))

  /** The ONE definition of the code composite — unsorted so it
    * composes onto streams (stateless) and under the E41b rollup. */
  def textCodeScoreOf(docs: DataFrame): DataFrame =
    textCodeScoreCols(docs)
      .select(col("doc_id"), col("n_lines"), col("symbol_cnt"),
        col("indent_cnt"), col("kw_cnt"), col("symbol_ratio"),
        col("indent_ratio"), col("code_score"), col("is_code"))

  /** The composite with EVERY input column carried through (the
    * langClassifierServeWith move) — the seam the C8e routed curate
    * chain consumes: routing needs `is_code` ON the row, not a doc_id
    * join back. [[textCodeScoreOf]] is this plus a projection. */
  def textCodeScoreCols(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withColumn("lines", split($"text", "\n", -1))
      .withColumn("n_lines", size($"lines").cast("long"))
      .withColumn("indent_cnt", size(expr(
        "filter(lines, l -> l rlike '^(  |\t)')")).cast("long"))
      .withColumn("symbol_cnt",
        (length($"text") -
          length(regexp_replace($"text", "[{}()\\[\\];=<>]", "")))
          .cast("long"))
      .withColumn("kw_cnt", size(expr(
        s"regexp_extract_all(lower(text), '$CodeKeywordRe', 0)"))
        .cast("long"))
      .withColumn("symbol_ratio",
        $"symbol_cnt".cast("double") / nullif(length($"text"), lit(0)))
      .withColumn("indent_ratio",
        $"indent_cnt".cast("double") / nullif($"n_lines", lit(0L)))
      // explicit empty-text guard: Spark's least() SKIPS nulls (a
      // NULL ratio would silently read as the 1.0 cap), so the NULL
      // composite is stated as a CASE, not left to null propagation
      .withColumn("code_score", when($"symbol_ratio".isNotNull,
        lit(0.5) * least(lit(1.0), $"symbol_ratio" * 16.0) +
          lit(0.25) * $"indent_ratio" +
          lit(0.25) * least(lit(1.0), $"kw_cnt".cast("double") / 8.0)))
      .withColumn("is_code", $"code_score" > 0.5)
      .drop("lines")
  }

  val textCodeScoreSql: String =
    s"""WITH x AS (
       |  SELECT doc_id, text,
       |    string_split(text, chr(10)) AS lines,
       |    length(text) - length(regexp_replace(text, '[{}()\\[\\];=<>]', '', 'g')) AS symbol_cnt,
       |    len(regexp_extract_all(lower(text), '$CodeKeywordRe')) AS kw_cnt
       |  FROM documents),
       |y AS (
       |  SELECT doc_id, text, symbol_cnt, kw_cnt,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(lines, l -> regexp_matches(l, '^(  |\t)'))) AS BIGINT) AS indent_cnt
       |  FROM x),
       |z AS (
       |  SELECT doc_id, n_lines, symbol_cnt, indent_cnt, kw_cnt,
       |    CAST(symbol_cnt AS DOUBLE) / nullif(length(text), 0) AS symbol_ratio,
       |    CAST(indent_cnt AS DOUBLE) / nullif(n_lines, 0) AS indent_ratio,
       |    CASE WHEN length(text) > 0 THEN
       |      0.5 * least(1.0, (CAST(symbol_cnt AS DOUBLE) / nullif(length(text), 0)) * 16.0)
       |        + 0.25 * (CAST(indent_cnt AS DOUBLE) / nullif(n_lines, 0))
       |        + 0.25 * least(1.0, CAST(kw_cnt AS DOUBLE) / 8.0)
       |    END AS code_score
       |  FROM y)
       |SELECT doc_id, n_lines, symbol_cnt, indent_cnt, kw_cnt,
       |  symbol_ratio, indent_ratio, code_score, code_score > 0.5 AS is_code
       |FROM z ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- E41b
  /** E41's corpus ledger (the C54/D8 discipline): code volume per
    * source — doc count, flagged-code count and share, mean score —
    * the number a mix designer reads before setting a code-stratum
    * weight. One rollup over the E41 map; NULL scores (empty docs)
    * excluded from the mean by avg's own semantics, counted in n. */
  def codeBySource(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // textCodeScoreCols carries every input column (the C8e seam), so
    // `source` rides the one scoring scan — no second documents scan
    // and no doc_id shuffle-join just to recover a column the frame
    // already has
    textCodeScoreCols(Tables.documents(spark, sfDir))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"is_code", 1L).otherwise(0L)).as("n_code"),
        (sum(when($"is_code", 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("code_share"),
        avg($"code_score").as("mean_score"))
      .orderBy($"source")
  }

  val codeBySourceSql: String =
    s"""WITH s AS ($textCodeScoreSql)
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN s.is_code THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
       |  CAST(SUM(CASE WHEN s.is_code THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*) AS code_share,
       |  AVG(s.code_score) AS mean_score
       |FROM s JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ---------------------------------------------------------------- E3
  /** Language ID via the n-gram-profile heuristic expression (rows-only:
    * the scoring profile is engine-specific). Emits the guess alongside
    * the table's own label for eyeballing/accuracy specs. */
  def textLangId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id", TextFunctions.langId($"text").as("lang_guess"), $"lang")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- E19
  /** LANGUAGE-ID CONFUSION matrix — E3's driver-visible quality report
    * (the D8 discipline: a heuristic component's accuracy should be a
    * per-round NUMBER in the dump, not only a spec threshold): counts
    * per (labeled lang, predicted lang) with row-share, plus overall
    * accuracy derivable from the diagonal. One map pass through the
    * codegen'd langId kernel, one exchange on the tiny (lang, guess)
    * key space. Rows-only: the n-gram profile is engine-specific — the
    * accuracy spec on the labeled column is the check. */
  def langIdConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"lang", TextFunctions.langId($"text").as("predicted"))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
      .withColumn("lang_total",
        sum($"n").over(Window.partitionBy($"lang")))
      .select($"lang", $"predicted", $"n",
        round($"n".cast("double") / $"lang_total", 4).as("share"),
        ($"lang" === $"predicted").as("correct"))
      .orderBy($"lang", $"predicted")
  }

  // ---------------------------------------------------------------- E35
  /** TRAINED LANGUAGE ID — the C60 hashed-NB kernel retargeted at
    * `lang` labels (the r12 verdict's #5: E3's char-heuristic was the
    * weakest filter in the curation chain, and E19 was already
    * MEASURING it — this upgrades the estimator with near-zero new
    * machinery). Multi-class naive Bayes over the SAME hashed-bigram
    * features C60 uses: per-language dense weight vectors w_l[b] =
    * ln((c_{l,b}+1)/(tot_l+B)) plus a ln-prior from train doc counts,
    * served as |langs| dense gathers (the C60b codegen shape — no
    * join, no shuffle, stateless) with argmax decided by first-max
    * array position (ties to the alphabetically smaller language —
    * deterministic). Training is one corpus feature pass + a
    * ≤ |langs|·nBuckets collect (driver-bounded by construction).
    *
    * FALLBACK, not replacement: a doc with NO bigram evidence
    * (< 2 tokens) would read as pure prior under NB — those route
    * through E3's character heuristic instead, so the trained tier
    * never forces a prior-only guess. For an UNLABELED corpus (where
    * language ID actually matters), train on any labeled slice and
    * serve everything — the model ships as plain arrays, session-free.
    * Rows-only (hashed features + learned weights are
    * engine-specific); the E35 spec pins held-out accuracy ABOVE the
    * heuristic's measured number, and the report entry records the
    * held-out confusion per round (the E19 discipline). */
  case class LangModel(langs: Array[String], nBuckets: Int,
      weights: Array[Array[Double]], logPrior: Array[Double])

  /** Train on (doc_id, lang) labels; docs absent from `labels` are
    * not trained on. */
  def langClassifierModel(docs: DataFrame, labels: DataFrame,
      nBuckets: Int = 4096): LangModel = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nBuckets >= 2 && (nBuckets & (nBuckets - 1)) == 0,
      s"nBuckets $nBuckets must be a power of two")
    val nf = Scale.fanOutScanLight(docs).select(col("doc_id"),
        explode(graft.functions.TextFunctions.bigramBuckets(
          tokens("text"), nBuckets)).as("b"))
      .join(labels.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy($"lang", $"b").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val docCounts = labels.groupBy($"lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val langs = docCounts.keys.toArray.sorted
    require(langs.nonEmpty, "no labeled languages to train on")
    val totalDocs = docCounts.values.sum.toDouble
    val byLang = nf.groupBy(_._1)
    val weights = langs.map { l =>
      val rows = byLang.getOrElse(l, Array.empty)
      val tot = rows.map(_._3).sum
      val w = Array.fill(nBuckets)(
        math.log(1.0 / (tot + nBuckets))) // unseen-bucket floor
      rows.foreach { case (_, b, c) =>
        w(b.toInt) = math.log((c + 1).toDouble / (tot + nBuckets)) }
      w
    }
    val prior = langs.map(l => math.log(docCounts(l) / totalDocs))
    LangModel(langs, nBuckets, weights, prior)
  }

  /** Serve: docs → (doc_id, lang_pred, used_fallback). Stateless —
    * attaches to a stream unchanged (the C60b property). */
  def langClassifierServe(docs: DataFrame, model: LangModel): DataFrame =
    langClassifierServeWith(docs, model)
      .select(col("doc_id"), col("lang_pred"), col("used_fallback"))

  /** The serve with EVERY input column carried through — the seam the
    * C8c predicted-language curate chain consumes (gating needs the
    * prediction ON the row, not a doc_id join back). Same kernel, same
    * decision rule; [[langClassifierServe]] is this plus a projection,
    * so the two cannot drift. */
  def langClassifierServeWith(docs: DataFrame,
      model: LangModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bs = graft.functions.TextFunctions.bigramBuckets(
      tokens("text"), model.nBuckets)
    val zCols = model.langs.indices.map(i =>
      (graft.functions.ClassifierFunctions.bucketScoreSum(
        $"__bs", model.weights(i)) + model.logPrior(i)).as(s"__z$i"))
    val langsArr = array(model.langs.map(lit(_)).toIndexedSeq: _*)
    Scale.fanOutScanLight(docs).withColumn("__bs", bs)
      .select(col("*") +: zCols: _*)
      .withColumn("__zs", array(model.langs.indices
        .map(i => col(s"__z$i")).toIndexedSeq: _*))
      .withColumn("lang_pred",
        // first-max position = alphabetically smaller lang on ties;
        // evidence-free docs fall back to the E3 heuristic
        when(size($"__bs") < 1,
          graft.functions.TextFunctions.langId(col("text")))
          .otherwise(element_at(langsArr,
            array_position($"__zs", array_max($"__zs")).cast("int"))))
      .withColumn("used_fallback", size($"__bs") < 1)
      .drop((Seq("__bs", "__zs") ++
        model.langs.indices.map(i => s"__z$i")): _*)
  }

  /** Driver entry: train on C31's train split, serve EVERYTHING,
    * emit the truth label + split alongside for the report/specs. */
  def langClassifier(spark: SparkSession, sfDir: String,
      nBuckets: Int = 4096, valFrac: Double = 0.05,
      testFrac: Double = 0.05, seed: Long = 11L): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val split = Curation.splitAssign(docs, valFrac, testFrac, seed)
      .select($"doc_id", $"split")
    val model = langClassifierModel(docs,
      docs.select($"doc_id", $"lang")
        .join(split.filter($"split" === "train").select("doc_id"),
          Seq("doc_id")), nBuckets)
    langClassifierServe(docs, model)
      .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      .join(split, Seq("doc_id"))
      .select($"doc_id", $"lang", $"lang_pred", $"used_fallback", $"split")
      .orderBy($"doc_id")
  }

  /** E35's held-out confusion in E19's frame shape — the trained
    * tier's per-round quality number next to the heuristic's. */
  def langClassifierReport(spark: SparkSession, sfDir: String,
      nBuckets: Int = 4096, valFrac: Double = 0.05,
      testFrac: Double = 0.05, seed: Long = 11L): DataFrame = {
    import spark.implicits._
    langClassifier(spark, sfDir, nBuckets, valFrac, testFrac, seed)
      .filter($"split" =!= "train")
      .groupBy($"lang", $"lang_pred".as("predicted"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lang_total",
        sum($"n").over(Window.partitionBy($"lang")))
      .select($"lang", $"predicted", $"n",
        round($"n".cast("double") / $"lang_total", 4).as("share"),
        ($"lang" === $"predicted").as("correct"))
      .orderBy($"lang", $"predicted")
  }

  // ---------------------------------------------------------------- E35c
  /** PERSISTED LANGUAGE-ID MODEL — the E34/C60d artifact discipline
    * for the E35 family: `weights/` (lang, b, w) at full precision,
    * `priors/` (lang, log_prior — the langs table doubles as the
    * class inventory, sorted order restored on read), `meta/`
    * (nBuckets + corpus stamp provenance) written LAST. A torn
    * weights table fails by name on read. */
  def writeLangModel(spark: SparkSession, model: LangModel, dir: String,
      corpusStamp: Long = 0L): Unit = {
    import spark.implicits._
    model.langs.zipWithIndex.flatMap { case (l, i) =>
      model.weights(i).zipWithIndex.map { case (w, b) => (l, b, w) }
    }.toSeq.toDF("lang", "b", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/weights")
    model.langs.zip(model.logPrior).toSeq.toDF("lang", "log_prior")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/priors")
    Seq((model.nBuckets, corpusStamp)).toDF("n_buckets", "corpus_stamp")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Parsed models per (dir, meta stamp) — [[readLangModel]] runs
    * three driver jobs (meta head, priors collect, weights collect ≈
    * langs×nBuckets rows) plus three schema inferences, and the
    * staged-model consumers (E35c/E35d, the C8c/C6c/C6e chains) call
    * it once per INVOCATION: in a session that serves the same frozen
    * artifact repeatedly that is pure re-parse of unchanged bytes.
    * Cached like [[graft.operators.Dedup]]'s indexMeta — keyed on the
    * meta file's stamp, so a rebuilt artifact at the same path gets a
    * fresh parse, and the artifact on disk stays the source of truth
    * (nothing is served that wasn't read from it). */
  private val langModelCache = new StampedCache[Unit, LangModel]
  def readLangModel(spark: SparkSession, dir: String): LangModel =
    // stamp the artifact ROOT (folds every member table's subdir
    // mtime), not just meta: a rewrite of weights/priors alone — e.g.
    // a torn-artifact scenario — must invalidate the parsed model too
    langModelCache(dir, graft.Tables.pathStamp(spark, dir), ())(
      readLangModelUncached(spark, dir))
  private def readLangModelUncached(spark: SparkSession,
      dir: String): LangModel = {
    val nB = spark.read.parquet(s"$dir/meta").head().getInt(0)
    val priors = spark.read.parquet(s"$dir/priors").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val langs = priors.keys.toArray.sorted
    val byLang = spark.read.parquet(s"$dir/weights").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1)
    val weights = langs.map { l =>
      val rows = byLang.getOrElse(l, Array.empty)
      require(rows.length == nB,
        s"lang model at $dir is torn: ${rows.length} weight rows for " +
          s"'$l' with nBuckets=$nB — rebuild with writeLangModel")
      val w = new Array[Double](nB)
      rows.foreach { case (_, b, v) => w(b) = v }
      w
    }
    LangModel(langs, nB, weights, langs.map(priors))
  }

  /** Served entry: E35's serve routed through the disk model, staged
    * once per corpus version (the C10 temp-dir discipline) — proves
    * the artifact carries everything serving needs. Bit-exact with
    * the in-session model (spec-pinned). */
  def langClassifierIndexed(spark: SparkSession, sfDir: String,
      nBuckets: Int = 4096, valFrac: Double = 0.05,
      testFrac: Double = 0.05, seed: Long = 11L): DataFrame = {
    import spark.implicits._
    langClassifierServe(Tables.documents(spark, sfDir),
        stagedLangModel(spark, sfDir, nBuckets, valFrac, testFrac, seed))
      .orderBy($"doc_id")
  }

  /** The staged per-corpus-version model re-read from disk — the seam
    * E35c and the C8c predicted-language curate chain share (ONE
    * staging policy, one artifact; a chain consuming a differently
    * trained model than the served entry would make their parity
    * claims vacuous). */
  def stagedLangModel(spark: SparkSession, sfDir: String,
      nBuckets: Int = 4096, valFrac: Double = 0.05,
      testFrac: Double = 0.05, seed: Long = 11L): LangModel = {
    import spark.implicits._
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    val dir = langModelDirCache(sfDir, stamp, nBuckets) {
      val docs = Tables.documents(spark, sfDir)
      val split = Curation.splitAssign(docs, valFrac, testFrac, seed)
        .select($"doc_id", $"split")
      val model = langClassifierModel(docs,
        docs.select($"doc_id", $"lang")
          .join(split.filter($"split" === "train").select("doc_id"),
            Seq("doc_id")), nBuckets)
      val d = java.nio.file.Files
        .createTempDirectory("graft-langmodel").toString
      writeLangModel(spark, model, d, stamp)
      d
    }
    readLangModel(spark, dir)
  }
  // stale corpus versions' staged dirs are reaped at JVM exit (a
  // returned lazy plan may still scan them — the snapshotCache rule)
  private val langModelDirCache =
    new StampedCache[Int, String](Dedup.deleteAtExit)

  // ---------------------------------------------------------------- E35d
  /** TRAINED-vs-HEURISTIC LEDGER, per corpus language — the upgrade
    * receipt the E35 docstring promised ("accuracy ABOVE the
    * heuristic") as a per-LANGUAGE driver number, not one spec-level
    * aggregate: for every language the corpus actually contains (the
    * inventory is data-derived — [[langClassifierModel]] trains
    * whatever labels exist, nothing pins the class set to the testdata
    * five, and the spec plants a sixth language to prove it), the
    * held-out accuracy of the trained tier next to the E3 character
    * heuristic's on the SAME rows. One serve pass (the staged
    * per-corpus model — no second train) with the heuristic column
    * riding the same scan; one exchange on the language key.
    * Rows-only: hashed features + learned weights (E35's reason). */
  def langClassifierVsHeuristic(spark: SparkSession, sfDir: String,
      nBuckets: Int = 4096, valFrac: Double = 0.05,
      testFrac: Double = 0.05, seed: Long = 11L): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val split = Curation.splitAssign(docs, valFrac, testFrac, seed)
      .select($"doc_id", $"split")
    val model = stagedLangModel(spark, sfDir, nBuckets, valFrac,
      testFrac, seed)
    langClassifierServeWith(docs, model)
      .withColumn("heur_pred",
        graft.functions.TextFunctions.langId($"text"))
      .join(split, Seq("doc_id"))
      .filter($"split" =!= "train")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_heldout"),
        round(avg(($"lang_pred" === $"lang").cast("double")), 6)
          .as("acc_trained"),
        round(avg(($"heur_pred" === $"lang").cast("double")), 6)
          .as("acc_heuristic"))
      .withColumn("lift",
        round($"acc_trained" - $"acc_heuristic", 6))
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------- E4
  /** Document fingerprints: winnowing rolling-hash (8-token windows) +
    * 64-bit SimHash. Oracle-checked since round 7: both kernels run on
    * [[TextFunctions.portableTokenHash]] (Java String.hashCode fold +
    * an arithmetic-shift murmur finalizer) with a mod-2⁶⁴ polynomial
    * window chain, every op of which DuckDB replays exactly — the
    * 32-bit fold stays inside BIGINT, the two finalizer multiplies and
    * the chain wrap via HUGEINT `% 2^64`, `>>`/XOR/`&` agree between
    * engines, and min/bit-sign comparisons happen on SIGNED 64-bit
    * values in both (§4's lcg64 discipline, extended from one LCG step
    * to the full hash pipeline). */
  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .withColumn("toks", tokens())
      .select($"doc_id",
        TextFunctions.rollingHashMin($"toks", 8).as("fingerprint"),
        TextFunctions.simhash64($"toks").as("simhash"))
      .orderBy($"doc_id")
  }

  /** DuckDB replay of the whole fingerprint pipeline. Staged as list
    * pipelines (lambdas cannot hold subqueries): per-token hashCode
    * fold → five finalizer stages (xorshift 33 / ×A / xorshift 29 /
    * ×B / xorshift 32, multiplies in HUGEINT with the unsigned↔signed
    * CASE dance) → per-window polynomial chain + signed min → per-bit
    * ±1 sums + MSB-first bit fold for the SimHash. */
  val textFingerprintSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |h0 AS (SELECT doc_id, toks,
      |  list_transform(list_transform(toks, tok ->
      |    list_reduce(list_prepend(0::BIGINT,
      |      list_transform(string_split(tok, ''), c -> ord(c))),
      |      (h, c) -> (h * 31 + c) % 4294967296)),
      |    u -> CAST(CASE WHEN u >= 2147483648 THEN u - 4294967296 ELSE u END AS BIGINT)) AS th
      |  FROM t),
      |hA AS (SELECT doc_id, toks, list_transform(th, x -> xor(x, x >> 33)) AS th FROM h0),
      |hB AS (SELECT doc_id, toks, list_transform(list_transform(th, x ->
      |    ((CASE WHEN x < 0 THEN x::HUGEINT + 18446744073709551616 ELSE x::HUGEINT END)
      |      * 18397679294719823053) % 18446744073709551616),
      |  u -> CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT)) AS th FROM hA),
      |hC AS (SELECT doc_id, toks, list_transform(th, x -> xor(x, x >> 29)) AS th FROM hB),
      |hD AS (SELECT doc_id, toks, list_transform(list_transform(th, x ->
      |    ((CASE WHEN x < 0 THEN x::HUGEINT + 18446744073709551616 ELSE x::HUGEINT END)
      |      * 14181476777654086739) % 18446744073709551616),
      |  u -> CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT)) AS th FROM hC),
      |hE AS (SELECT doc_id, toks, list_transform(th, x -> xor(x, x >> 32)) AS th FROM hD),
      |fp AS (
      |  SELECT doc_id, th,
      |    CASE WHEN len(toks) = 0 THEN 0 ELSE list_min(list_transform(
      |      list_transform(range(1, len(toks) - least(8, len(toks)) + 2), s ->
      |        list_reduce(list_prepend(0::HUGEINT, list_slice(
      |            list_transform(th, x -> CASE WHEN x < 0
      |              THEN x::HUGEINT + 18446744073709551616 ELSE x::HUGEINT END),
      |            s, s + least(8, len(toks)) - 1)),
      |          (a, v) -> (a * 6364136223846793005 + v) % 18446744073709551616)),
      |      u -> CAST(CASE WHEN u >= 9223372036854775808
      |        THEN u - 18446744073709551616 ELSE u END AS BIGINT))) END AS fingerprint
      |  FROM hE),
      |sh AS (
      |  SELECT doc_id, fingerprint,
      |    list_reduce(list_prepend(0::HUGEINT, list_reverse(
      |      list_transform(range(0, 64), b -> CASE WHEN
      |        list_sum(list_transform(th, h -> ((h >> b) & 1) * 2 - 1)) > 0
      |        THEN 1::HUGEINT ELSE 0::HUGEINT END))),
      |      (a, b) -> a * 2 + b) AS su
      |  FROM fp)
      |SELECT doc_id, fingerprint,
      |  CAST(CASE WHEN su >= 9223372036854775808
      |    THEN su - 18446744073709551616 ELSE su END AS BIGINT) AS simhash
      |FROM sh ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- E6
  /** TF-IDF: smoothed idf = ln((N+1)/(df+1)) + 1, tf = term count in
    * doc. Emits each document's top-3 terms by tf-idf (deterministic
    * tie-break). Two aggregations over the exploded postings list —
    * the same inverted-index shape as the dedup suite, so the shuffle
    * is bounded by corpus postings, not pairs. Oracle-checked: every
    * tfidf value is per-row arithmetic over integer (tf, df, N) — no
    * double SUM anywhere — and Java's Math.log is bit-identical to
    * DuckDB's ln (both correctly-rounded; probed over the full
    * (N+1)/(df+1) input range in round 6), so the scores, the top-k
    * selection, and the rounded output are all deterministic and
    * engine-identical. */
  def tfIdfTop(spark: SparkSession, sfDir: String, topK: Int = 3): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // Corpus size as a literal via the metadata-answered cached count
    // (parquet footers; one tiny job per corpus per JVM) — a count
    // SUBQUERY would add a SinglePartition aggregate + a broadcast
    // nested-loop join to every invocation.
    val nDocs = Tables.cachedCount(spark, s"$sfDir/documents.parquet")
    // Per-doc term frequencies are computed ROW-LOCALLY by the
    // TokenCounts kernel (the grouping key is the document — the row
    // itself), so tf needs NO exchange at all; the groupBy(doc, term)
    // form ships every distinct (doc, term) through a hash partition.
    // At 100 TB that exchange dominates every inverted-index query —
    // this shape deletes it. tf is then PINNED with an eager
    // localCheckpoint because both the df aggregate and the scoring
    // join read it, and the two column-pruned subtrees differ, so
    // ReuseExchange cannot unify them — without the pin the corpus is
    // scanned + tokenized twice (the boilerplate_frac gram-stage
    // pattern; the pinned frame is the per-doc distinct-term table,
    // far smaller than the corpus it replaces re-reading).
    val tf = Scale.fanOutScanLight(docs).withColumn("toks", tokens())
      .select($"doc_id",
        explode(TextFunctions.tokenCounts($"toks")).as(Seq("term", "tf")))
      .localCheckpoint(true)
    // document frequency DERIVES from tf (one row per (doc, term), so
    // rows-per-term == distinct docs per term): one map-side-partial
    // aggregate over the pinned frame, vocab-bounded output
    val df_ = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df_, Seq("term"))
      .withColumn("tfidf",
        $"tf" * (log((lit(nDocs) + 1.0) / ($"df" + 1.0)) + 1.0))
    graft.plans.TopK.perKey(scored, Seq("doc_id"),
      Seq($"tfidf".desc, $"term".asc), topK)
      .select($"doc_id", $"term", $"tf", $"df", round($"tfidf", 6).as("tfidf"))
      .orderBy($"doc_id", $"tfidf".desc, $"term")
  }

  /** The (doc_id, term) postings list — the shared first stage of every
    * inverted-index query (TF-IDF, LM score). Tokenizes into a COLUMN
    * and explodes the resulting attribute rather than putting the
    * regex expression inside the generator: an expression-rooted
    * Generate that also carries required child output drops out of
    * whole-stage codegen (interpreted GenerateExec, JoinedRow per
    * emitted posting), measured 3x slower on the sf0.1 corpus than the
    * project-then-explode shape, which keeps the regex evaluated once
    * per document inside one codegen stage. */
  def postingsOf(docs: DataFrame): DataFrame =
    Scale.fanOutScanLight(docs).withColumn("toks", tokens())
      .select(col("doc_id"), explode(col("toks")).as("term"))

  val tfIdfTopSql: String =
    """WITH postings AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM postings GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
      |  FROM scored)
      |SELECT doc_id, term, tf, df, ROUND(tfidf, 6) AS tfidf
      |FROM ranked WHERE rk <= 3
      |ORDER BY doc_id, tfidf DESC, term""".stripMargin

  // ---------------------------------------------------------------- E16
  /** BM25 top terms per document — the full-text relevance staple
    * (tf-idf's saturating, length-normalized successor; what a search
    * tier over the corpus actually indexes). Same row-local inverted-
    * index shape as E6: TokenCounts gives (doc, term, tf) with NO
    * exchange and the per-doc length dl rides along each posting; df
    * derives from the pinned postings; corpus totals (avgdl) from the
    * tiny df-side aggregate. Score = idf · tf·(k1+1) / (tf + k1·(1 −
    * b + b·dl/avgdl)) with idf = ln(1 + (N − df + 0.5)/(df + 0.5)) —
    * Lucene's non-negative variant; every factor is per-row arithmetic
    * over integers plus ONE corpus-constant double (avgdl), ln is
    * bit-identical Java vs DuckDB (probed, see E6), and both engines
    * evaluate the textually-identical expression tree, so the query
    * hash-checks. k1 = 1.2, b = 0.75 (the standard constants). */
  def textBm25(spark: SparkSession, sfDir: String, topK: Int = 3): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val nDocs = Tables.cachedCount(spark, s"$sfDir/documents.parquet")
    // (doc, term, tf, dl) row-locally — dl (doc length in tokens) is a
    // per-row scalar carried through the explode, so BM25's length
    // normalization costs no extra aggregate
    val tf = Scale.fanOutScanLight(docs).withColumn("toks", tokens())
      .select($"doc_id", size($"toks").cast("long").as("dl"),
        explode(TextFunctions.tokenCounts($"toks")).as(Seq("term", "tf")))
      .localCheckpoint(true)
    val df_ = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    // avgdl from the pinned postings (sum of tf == corpus tokens) — no
    // second corpus scan
    val totals = tf.agg((sum($"tf").cast("double") / nDocs).as("avgdl"))
    val scored = tf.join(df_, Seq("term")).crossJoin(broadcast(totals))
      .withColumn("idf",
        log(lit(1.0) + (lit(nDocs.toDouble) - $"df" + 0.5) / ($"df" + 0.5)))
      .withColumn("bm25",
        $"idf" * ($"tf" * 2.2) /
          ($"tf" + lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * ($"dl" / $"avgdl"))))
    graft.plans.TopK.perKey(scored, Seq("doc_id"),
      Seq($"bm25".desc, $"term".asc), topK)
      .select($"doc_id", $"term", $"tf", $"df", $"dl",
        round($"bm25", 6).as("bm25"))
      .orderBy($"doc_id", $"bm25".desc, $"term")
  }

  val textBm25Sql: String =
    """WITH postings AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM postings GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |t AS (SELECT CAST(sum(tf) AS DOUBLE) / (SELECT n_docs FROM n) AS avgdl FROM tf),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df, dl.dl,
      |    (ln(1.0 + (CAST((SELECT n_docs FROM n) AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)))
      |      * (tf.tf * 2.2::DOUBLE)
      |      / (tf.tf + 1.2::DOUBLE * (1.0 - 0.75 + 0.75::DOUBLE * (dl.dl / t.avgdl))) AS bm25
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN t),
      |ranked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY bm25 DESC, term ASC) AS rk
      |  FROM scored)
      |SELECT doc_id, term, tf, df, dl, ROUND(bm25, 6) AS bm25
      |FROM ranked WHERE rk <= 3
      |ORDER BY doc_id, bm25 DESC, term""".stripMargin

  // ---------------------------------------------------------------- E7
  /** Repetition metrics (Gopher-style quality rules): duplicate token
    * fraction and duplicate bigram fraction per document. Pure per-row
    * array expressions — zero shuffle, linear in document length. All
    * ratios are single double divisions (bit-exact cross-engine,
    * SURVEY.md §4: no rounding, no transcendentals). */
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .withColumn("toks", tokens())
      .withColumn("n_tokens", size($"toks").cast("long"))
      // zip_with over two slices rather than element_at(toks, i) in the
      // lambda: if the projection is ever inlined (pushdown/collapse),
      // a lambda-body `toks` re-tokenizes per element — O(tokens²)
      // regex work. The < 2 guard keeps slice lengths non-negative.
      .withColumn("bigrams", expr(
        """IF(size(toks) < 2, array(),
          |   zip_with(slice(toks, 1, size(toks) - 1),
          |            slice(toks, 2, size(toks) - 1),
          |            (a, b) -> concat(a, ' ', b)))""".stripMargin))
      .withColumn("n_bigrams", size($"bigrams").cast("long"))
      .withColumn("dup_token_ratio",
        when($"n_tokens" === 0, lit(0.0)).otherwise(
          lit(1.0) - size(array_distinct($"toks")).cast("double") / $"n_tokens"))
      .withColumn("dup_bigram_ratio",
        when($"n_bigrams" === 0, lit(0.0)).otherwise(
          lit(1.0) - size(array_distinct($"bigrams")).cast("double") / $"n_bigrams"))
      .select($"doc_id", $"n_tokens", $"dup_token_ratio",
        $"n_bigrams", $"dup_bigram_ratio")
      .orderBy($"doc_id")
  }

  val textRepetitionSql: String =
    """WITH x AS (
      |  SELECT doc_id,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |y AS (
      |  SELECT doc_id, toks,
      |    CASE WHEN len(toks) < 2 THEN []
      |         ELSE list_transform(generate_series(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i + 1]) END AS bigrams
      |  FROM x)
      |SELECT doc_id,
      |  len(toks) AS n_tokens,
      |  CASE WHEN len(toks) = 0 THEN 0.0
      |       ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
      |  END AS dup_token_ratio,
      |  len(bigrams) AS n_bigrams,
      |  CASE WHEN len(bigrams) = 0 THEN 0.0
      |       ELSE 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
      |  END AS dup_bigram_ratio
      |FROM y ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- E8
  /** PII scrubbing — the redaction stage every training-data pipeline
    * runs before anything else sees the text. Regexes avoid backslash
    * classes entirely ([.] instead of \.) so the same pattern string is
    * valid and identical in Java regex (Spark) and RE2 (DuckDB).
    * Per-row, zero shuffle; emits match counts + the scrubbed text.
    * Email is replaced first so its dotted domain can't be half-eaten
    * by the IP rule. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val PhoneRe = "[+]?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
  val IpRe = "([0-9]{1,3}[.]){3}[0-9]{1,3}"

  /** Shared PII kernels — the ONE definition of what counts as PII and
    * how it is redacted, used by E8, the v2 curation pipeline, and the
    * streaming curation twin (a regex fix here fixes all three). */
  def piiCount(c: Column): Column =
    (size(regexp_extract_all(c, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(c, lit(PhoneRe), lit(0))) +
      size(regexp_extract_all(c, lit(IpRe), lit(0)))).cast("long")

  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"),
      IpRe, "[IP]")

  /** Generic frame version so specs can plant PII. */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(t, lit(IpRe), lit(0))).cast("long").as("n_ips"),
      scrubPii(t).as("scrubbed"))
      .orderBy(col(idCol))
  }

  def textPiiScrub(spark: SparkSession, sfDir: String): DataFrame =
    piiScrub(Tables.documents(spark, sfDir), "doc_id", "text")

  val textPiiScrubSql: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(text, '$PhoneRe')) AS n_phones,
       |  len(regexp_extract_all(text, '$IpRe')) AS n_ips,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$EmailRe', '[EMAIL]', 'g'),
       |    '$PhoneRe', '[PHONE]', 'g'),
       |    '$IpRe', '[IP]', 'g') AS scrubbed
       |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- E37
  /** PII EXPOSURE REPORT — the per-source governance rollup a release
    * review actually reads (E8 redacts doc by doc; the decision
    * "which source needs a scrub pass before export" needs the rates):
    * per source, doc volume, how many docs carry at least one hit,
    * per-class hit totals, and the affected fraction. Built on the
    * ONE shared regex set (a definition fix here moves the report,
    * the scrub, the v2 pipeline, and the stream twin together).
    *
    * Scale shape: one corpus scan, regex extraction map-side, then a
    * #sources-sized aggregate — the cheapest report class there is.
    * The fraction is an avg of exact 0/1 doubles (integer-valued sums
    * are order-free), so the oracle comparison is safe. */
  def piiReportOf(docs: DataFrame, stratumCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t = col("text")
    val hit = ($"e" + $"p" + $"i" > 0L)
    docs.select(col(stratumCol).cast("string").as("source"),
        size(regexp_extract_all(t, lit(EmailRe), lit(0)))
          .cast("long").as("e"),
        size(regexp_extract_all(t, lit(PhoneRe), lit(0)))
          .cast("long").as("p"),
        size(regexp_extract_all(t, lit(IpRe), lit(0)))
          .cast("long").as("i"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(hit, 1L).otherwise(0L)).as("docs_with_pii"),
        sum($"e").as("n_emails"), sum($"p").as("n_phones"),
        sum($"i").as("n_ips"),
        round(avg(when(hit, 1.0).otherwise(0.0)), 6).as("pii_frac"))
      .orderBy($"source")
  }

  def piiReport(spark: SparkSession, sfDir: String): DataFrame =
    piiReportOf(Tables.documents(spark, sfDir), "source")

  val piiReportSql: String =
    s"""WITH x AS (
       |  SELECT CAST(source AS VARCHAR) AS source,
       |    len(regexp_extract_all(text, '$EmailRe')) AS e,
       |    len(regexp_extract_all(text, '$PhoneRe')) AS p,
       |    len(regexp_extract_all(text, '$IpRe')) AS i
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_with_pii,
       |  CAST(SUM(e) AS BIGINT) AS n_emails,
       |  CAST(SUM(p) AS BIGINT) AS n_phones,
       |  CAST(SUM(i) AS BIGINT) AS n_ips,
       |  ROUND(AVG(CASE WHEN e + p + i > 0 THEN 1.0 ELSE 0.0 END), 6)
       |    AS pii_frac
       |FROM x GROUP BY source ORDER BY source""".stripMargin

  /** E8's LIVE twin (E37b) — redaction belongs at INGEST, before a raw
    * payload is ever persisted where an export can pick it up. Every
    * op is a stateless projection (counts + triple replace, no sort,
    * no state), so the twin IS the batch kernel minus E8's display
    * sort: readStream → this → writeStream runs with zero shuffle and
    * zero state store, the cheapest streaming class Spark has. */
  def piiScrubStream(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      size(regexp_extract_all(t, lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0)))
        .cast("long").as("n_phones"),
      size(regexp_extract_all(t, lit(IpRe), lit(0)))
        .cast("long").as("n_ips"),
      scrubPii(t).as("scrubbed"))
  }

  // --------------------------------------------------------------- E38
  /** TEXT NORMALIZATION pass — stage ZERO of every pipeline in this
    * repo, made explicit: the same document crawled twice can arrive
    * NFD vs NFC composed, differently cased, or whitespace-mangled,
    * and every byte-level stage downstream (E4 fingerprints, C1 exact
    * dedup, C12 13-gram decontamination, the tokenizers) would treat
    * the variants as different documents. One codegen'd map pass
    * through the [[graft.functions.TextFunctions.NormalizeText]]
    * native expression (NFC-compose, Locale.ROOT lowercase, collapse
    * whitespace runs, trim) with before/after char counts so the
    * shrinkage is auditable. Map-only: no exchange, no state — the
    * cheapest full-corpus pass there is. Oracle-checked: DuckDB's
    * nfc_normalize/lower/regexp_replace chain reproduces the
    * expression byte-for-byte on the corpus. */
  def textNormalizeOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
        graft.functions.TextFunctions.normalizeText(col(textCol))
          .as("norm_text"),
        length(col(textCol)).as("chars_in"))
      .withColumn("chars_out", length(col("norm_text")))
      .orderBy(col(idCol))

  def textNormalize(spark: SparkSession, sfDir: String): DataFrame =
    textNormalizeOf(Tables.documents(spark, sfDir), "doc_id", "text")

  val textNormalizeSql: String =
    """WITH n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(nfc_normalize(text)),
      |      '[ \t\n\r\f]+', ' ', 'g')) AS norm_text,
      |    CAST(length(text) AS INTEGER) AS chars_in
      |  FROM documents)
      |SELECT doc_id, norm_text, chars_in,
      |  CAST(length(norm_text) AS INTEGER) AS chars_out
      |FROM n ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- E38b
  /** NORMALIZATION IMPACT — the before/after audit that justifies
    * running E38 at all: per source, exact-distinct counts of the RAW
    * text vs the NORMALIZED text. Every `dups_surfaced` unit is a
    * duplicate C1 was blind to — the same document differing only in
    * composition form, case, or whitespace — i.e. dedup recall E38
    * buys for free. One scan, two hashes per doc, a ≤#sources
    * aggregate. */
  def normalizeImpactOf(docs: DataFrame, stratumCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(stratumCol).cast("string").as("source"),
        sha2(col("text"), 256).as("hr"),
        sha2(graft.functions.TextFunctions.normalizeText(col("text")),
          256).as("hn"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"hr").as("distinct_raw"),
        countDistinct($"hn").as("distinct_norm"))
      .withColumn("dups_surfaced", $"distinct_raw" - $"distinct_norm")
      .orderBy($"source")
  }

  def normalizeImpact(spark: SparkSession, sfDir: String): DataFrame =
    normalizeImpactOf(Tables.documents(spark, sfDir), "source")

  val normalizeImpactSql: String =
    """WITH x AS (
      |  SELECT CAST(source AS VARCHAR) AS source,
      |    sha256(text) AS hr,
      |    sha256(trim(regexp_replace(lower(nfc_normalize(text)),
      |      '[ \t\n\r\f]+', ' ', 'g'))) AS hn
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT hr) AS distinct_raw,
      |  COUNT(DISTINCT hn) AS distinct_norm,
      |  COUNT(DISTINCT hr) - COUNT(DISTINCT hn) AS dups_surfaced
      |FROM x GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- E42
  /** HTML/MARKUP EXTRACTION — the crawl FRONT DOOR the curate chains
    * assumed away (every C6/C8 stage starts from clean text, but a
    * real crawl arrives as HTML; E12 SCORES boilerplate and nothing
    * stripped it). Four stages, all portable regex/string expressions
    * riding one scan — zero shuffle, the 100-TB map-only shape:
    *  1. script/style blocks removed WHOLE (their text content is
    *     code, not prose — tag-stripping alone would leak it);
    *  2. block-level tags — OPENING and closing — become newlines
    *     BEFORE stripping, so the document's line structure survives
    *     for the chrome filter (opening tags too: `<nav>…</nav><p>`
    *     would otherwise merge the nav crumbs into the paragraph);
    *  3. every remaining tag strips to a space; the six core HTML
    *     entities decode (&amp; LAST — decoding it first would
    *     double-decode &amp;lt;);
    *  4. per line (trimmed, inner whitespace collapsed): CHROME — nav
    *     crumbs, footers, button labels — is short and unpunctuated,
    *     so a line survives iff it has > `chromeMaxTokens` tokens OR
    *     carries at least one token and ends in sentence punctuation
    *     (the jusText/trafilatura insight reduced to two portable
    *     predicates; E12's n-gram battery stays the deep audit).
    * Every regex is RE2∩Java-safe (prefix-free alternations, no
    * backslash classes outside [ \t\r\f], non-greedy supported by
    * both — the EmailRe portability rule), so the whole chain
    * oracle-checks bit-exactly. */
  /** Block-level tags whose boundaries delimit lines — shared verbatim
    * by the Column kernel and the SQL oracle (one definition; the
    * alternation is prefix-free up to shared literal prefixes, which
    * Java and RE2 resolve identically because the longer branch is
    * listed and `[^>]*>` absorbs the remainder either way). */
  private[graft] val HtmlBlockTags: String =
    "br|p|div|li|ul|ol|h[1-6]|tr|table|nav|footer|header|section|" +
      "article|aside|blockquote|pre|title"

  def htmlExtractCol(html: Column, chromeMaxTokens: Int = 4): Column = {
    val noBlocks = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val withBreaks = regexp_replace(noBlocks,
      s"(?i)</?($HtmlBlockTags)[^>]*>", "\n")
    val noTags = regexp_replace(withBreaks, "<[^>]*>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&quot;" -> "\"",
        "&#39;" -> "'", "&lt;" -> "<", "&gt;" -> ">", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        replace(c, lit(from), lit(to)) }
    val lines = transform(split(decoded, "\n", -1),
      l => trim(regexp_replace(l, "[ \t\r\f]+", " ")))
    filter(lines, l => {
      val nTok = size(regexp_extract_all(lower(l), lit("[a-z0-9]+"),
        lit(0)))
      nTok > chromeMaxTokens ||
        (nTok >= 1 && l.rlike("[.!?]$"))
    })
  }

  /** E42 over any (id, html) frame: the kept-lines array joined back
    * to text, plus the line audit (raw vs kept) a crawl operator
    * watches — a extraction pass that suddenly keeps 0.1× the lines
    * is a template change, not a corpus change. */
  def htmlExtractOf(docs: DataFrame, idCol: String, htmlCol: String,
      chromeMaxTokens: Int = 4): DataFrame = {
    val kept = htmlExtractCol(col(htmlCol), chromeMaxTokens)
    docs.select(col(idCol),
        size(split(col(htmlCol), "\n", -1)).cast("long")
          .as("n_lines_raw"),
        kept.as("__kept"))
      .withColumn("n_lines_kept", size(col("__kept")).cast("long"))
      .withColumn("extracted", array_join(col("__kept"), "\n"))
      .drop("__kept")
  }

  /** The deterministic crawl template the driver entry (and the C6e
    * crawl chain) wraps the corpus in: head chrome, a nav bar, the
    * document body, an ad block, a footer — so the oracle proves the
    * extractor recovers the BODY and drops every chrome line on real
    * corpus rows, not just on a planted spec doc. */
  private[graft] val HtmlWrapPrefix: String =
    "<html><head><title>doc page</title><script>var x = 1;" +
      "</script><style>.ad { color: red }</style></head><body>" +
      "<nav>Home | About | Login</nav><h1>Doc</h1><p>"
  private[graft] val HtmlWrapSuffix: String =
    "</p><div class=\"ad\">Buy now</div>" +
      "<footer>Copyright 2026 Example Corp</footer></body></html>"

  def htmlExtract(spark: SparkSession, sfDir: String): DataFrame =
    htmlExtractOf(
      Tables.documents(spark, sfDir).withColumn("html",
        concat(lit(HtmlWrapPrefix), col("text"), lit(HtmlWrapSuffix))),
      "doc_id", "html")
      .orderBy(col("doc_id"))

  val htmlExtractSql: String = {
    // both template halves are single-quote-free, so they embed in a
    // SQL string literal verbatim (the embedded `"` needs no escaping)
    val wrap = s"'$HtmlWrapPrefix' || text || '$HtmlWrapSuffix'"
    s"""WITH h AS (
       |  SELECT doc_id, $wrap AS html FROM documents),
       |s AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(html,
       |      '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
       |      '(?i)</?($HtmlBlockTags)[^>]*>', chr(10), 'g'),
       |      '<[^>]*>', ' ', 'g') AS t1
       |  FROM h),
       |d AS (
       |  SELECT doc_id,
       |    replace(replace(replace(replace(replace(replace(t1,
       |      '&nbsp;', ' '), '&quot;', '"'), '&#39;', chr(39)),
       |      '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS t2
       |  FROM s),
       |l AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(html, chr(10))) AS BIGINT) AS n_lines_raw,
       |    list_filter(
       |      list_transform(string_split(t2, chr(10)),
       |        x -> trim(regexp_replace(x, '[ \t\r\f]+', ' ', 'g'))),
       |      x -> len(regexp_extract_all(lower(x), '[a-z0-9]+')) > 4
       |        OR (len(regexp_extract_all(lower(x), '[a-z0-9]+')) >= 1
       |          AND regexp_matches(x, '[.!?]$$'))) AS kept
       |  FROM d JOIN h USING (doc_id))
       |SELECT doc_id, n_lines_raw,
       |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
       |  array_to_string(kept, chr(10)) AS extracted
       |FROM l ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------- E42b
  /** EXTRACTION-YIELD LEDGER per source — the number a crawl operator
    * watches (the E42 docstring's own alarm: an extraction pass that
    * suddenly keeps 0.1× the lines is a TEMPLATE change at the source,
    * not a corpus change — chrome filters are tuned against site
    * structure, and site structure drifts): per source, doc count,
    * raw/kept line mass, the keep share, and the extracted character
    * yield. `source` rides the one extraction scan (the E41b rule —
    * no join back); one exchange on the tiny source key. */
  def htmlExtractReport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .withColumn("html",
        concat(lit(HtmlWrapPrefix), $"text", lit(HtmlWrapSuffix)))
      .select($"source",
        size(split($"html", "\n", -1)).cast("long").as("raw"),
        htmlExtractCol($"html").as("k"))
      .select($"source", $"raw", size($"k").cast("long").as("kept"),
        length(array_join($"k", "\n")).cast("long").as("chars"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"raw").as("lines_raw"),
        sum($"kept").as("lines_kept"),
        round(sum($"kept").cast("double") / sum($"raw"), 6)
          .as("keep_share"),
        sum($"chars").as("chars_out"))
      .orderBy($"source")
  }

  val htmlExtractReportSql: String = {
    val base = htmlExtractSql
    val tail = "\nFROM l ORDER BY doc_id"
    require(base.endsWith(tail),
      "E42 oracle tail drifted — update the E42b splice with it")
    s"""WITH e AS (${base.dropRight(tail.length)}
       |FROM l)
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(e.n_lines_raw) AS BIGINT) AS lines_raw,
       |  CAST(SUM(e.n_lines_kept) AS BIGINT) AS lines_kept,
       |  ROUND(CAST(SUM(e.n_lines_kept) AS DOUBLE) / SUM(e.n_lines_raw),
       |    6) AS keep_share,
       |  CAST(SUM(length(e.extracted)) AS BIGINT) AS chars_out
       |FROM e JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  // -------------------------------------------------------------- E42c
  /** REAL-CRAWL EXTRACTION — E42 hardened for markup the clean
    * template never shows (the r15 verdict's E42-robustness item).
    * Three additions, E42's plan shape unchanged (stateless column
    * expressions, one scan, zero shuffle):
    *
    *  - STRUCTURE FLATTENING: `<li>` opens render as "- " bullets on
    *    their own line; `</td>`/`</th>` cell boundaries render as
    *    " | " separators, so a table row survives as one pipe-joined
    *    line instead of cells smashed together (tr/table/ul/ol were
    *    already line breaks via the block pass).
    *  - BOUNDED ENTITY TABLE ([[HtmlEntityTable]]): the six core
    *    entities plus the high-frequency punctuation/legal set, ASCII
    *    renderings, `&amp;`/`&#38;` decoded LAST (the double-decode
    *    rule). The table is a FIXED literal shared verbatim with the
    *    SQL oracle — not a general `&#x…;` evaluator, which RE2-safe
    *    SQL cannot replay; what the table misses QUARANTINES instead.
    *  - QUARANTINE CONTRACT (JsonlDocuments' corrupt-line rule,
    *    applied to markup): pages the extractor cannot certify carry
    *    `quarantine` = true plus a reason list, and their extraction
    *    ships anyway (best effort, caller decides). Three detectors:
    *    `unclosed_block` — an unmatched `<script>`/`<style>` open
    *    survives stage 1, so code would leak into text; checked on
    *    the post-stage-1 string. `stray_markup` — a `<` immediately
    *    followed by tag-ish characters survives the tag strip
    *    (truncated page tail); checked BEFORE entity decode, so a
    *    legitimate decoded `&lt;div&gt;` cannot false-flag.
    *    `unknown_entity` — an `&name;`/`&#N;` pattern survives the
    *    bounded decode.
    *
    * On pages with none of the above (no lists/tables, core entities
    * only, well-formed markup) the extraction is BYTE-IDENTICAL to
    * E42's — the spec pins that, so the robust front door cannot
    * silently drift from the oracle-green base extractor. */
  private[graft] val HtmlEntityTable: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&#160;" -> " ",
    "&quot;" -> "\"", "&#34;" -> "\"",
    "&#39;" -> "'", "&apos;" -> "'",
    "&lt;" -> "<", "&#60;" -> "<",
    "&gt;" -> ">", "&#62;" -> ">",
    "&ndash;" -> "-", "&mdash;" -> "--",
    "&hellip;" -> "...", "&middot;" -> "*",
    "&copy;" -> "(c)", "&reg;" -> "(r)", "&trade;" -> "(tm)",
    // & decodes LAST: decoding it earlier would double-decode &amp;lt;
    "&#38;" -> "&", "&amp;" -> "&")

  def htmlExtractRobustOf(docs: DataFrame, idCol: String,
      htmlCol: String, chromeMaxTokens: Int = 4): DataFrame =
    htmlExtractRobustCols(docs, htmlCol, chromeMaxTokens)
      .select(col(idCol), col("n_lines_raw"), col("n_lines_kept"),
        col("extracted"), col("quarantine"), col("quarantine_reason"))

  /** E42c as a COLUMN-PRESERVING stage — every original column rides
    * through beside the extraction/quarantine columns, so a chain
    * (C6f) can consume it without a join back. */
  def htmlExtractRobustCols(docs: DataFrame, htmlCol: String,
      chromeMaxTokens: Int = 4): DataFrame = {
    val html = col(htmlCol)
    val noBlocks = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val flattened = regexp_replace(
      regexp_replace(noBlocks, "(?i)<li[^>]*>", "\n- "),
      "(?i)</(td|th)>", " | ")
    val withBreaks = regexp_replace(flattened,
      s"(?i)</?($HtmlBlockTags)[^>]*>", "\n")
    val noTags = regexp_replace(withBreaks, "<[^>]*>", " ")
    val decoded = HtmlEntityTable.foldLeft(noTags) {
      case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    val lines = transform(split(decoded, "\n", -1),
      l => trim(regexp_replace(l, "[ \t\r\f]+", " ")))
    val kept = filter(lines, l => {
      val nTok = size(regexp_extract_all(lower(l), lit("[a-z0-9]+"),
        lit(0)))
      nTok > chromeMaxTokens ||
        (nTok >= 1 && l.rlike("[.!?]$"))
    })
    val fUnclosed = noBlocks.rlike("(?is)<(script|style)[^>]*>")
    val fStray = noTags.rlike("<[a-zA-Z/!]")
    val fEntity = decoded.rlike("&[a-zA-Z]{1,10};|&#[0-9]{1,7};")
    docs.select(col("*"),
        size(split(html, "\n", -1)).cast("long").as("n_lines_raw"),
        kept.as("__kept"),
        fUnclosed.as("__f1"), fStray.as("__f2"), fEntity.as("__f3"))
      .withColumn("n_lines_kept", size(col("__kept")).cast("long"))
      .withColumn("extracted", array_join(col("__kept"), "\n"))
      .withColumn("quarantine", col("__f1") || col("__f2") || col("__f3"))
      .withColumn("quarantine_reason", when(col("quarantine"),
        concat_ws(",",
          when(col("__f1"), "unclosed_block"),
          when(col("__f2"), "stray_markup"),
          when(col("__f3"), "unknown_entity"))))
      .drop("__kept", "__f1", "__f2", "__f3")
  }

  def htmlExtractRobust(spark: SparkSession, sfDir: String): DataFrame =
    htmlExtractRobustOf(
      Tables.documents(spark, sfDir).withColumn("html",
        concat(lit(HtmlWrapPrefix), col("text"), lit(HtmlWrapSuffix))),
      "doc_id", "html")
      .orderBy(col("doc_id"))

  val htmlExtractRobustSql: String = {
    val wrap = s"'$HtmlWrapPrefix' || text || '$HtmlWrapSuffix'"
    val decode = HtmlEntityTable.foldLeft("t1") { case (c, (f, t)) =>
      val to = if (t == "'") "chr(39)"
        else "'" + t.replace("'", "''") + "'"
      s"replace($c, '$f', $to)"
    }
    s"""WITH h AS (
       |  SELECT doc_id, $wrap AS html FROM documents),
       |s AS (
       |  SELECT doc_id,
       |    regexp_replace(html,
       |      '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g')
       |      AS nb
       |  FROM h),
       |s2 AS (
       |  SELECT doc_id, nb,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(nb,
       |      '(?i)<li[^>]*>', chr(10) || '- ', 'g'),
       |      '(?i)</(td|th)>', ' | ', 'g'),
       |      '(?i)</?($HtmlBlockTags)[^>]*>', chr(10), 'g'),
       |      '<[^>]*>', ' ', 'g') AS t1
       |  FROM s),
       |d AS (
       |  SELECT doc_id, nb, t1, $decode AS t2
       |  FROM s2),
       |l AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(html, chr(10))) AS BIGINT) AS n_lines_raw,
       |    list_filter(
       |      list_transform(string_split(t2, chr(10)),
       |        x -> trim(regexp_replace(x, '[ \t\r\f]+', ' ', 'g'))),
       |      x -> len(regexp_extract_all(lower(x), '[a-z0-9]+')) > 4
       |        OR (len(regexp_extract_all(lower(x), '[a-z0-9]+')) >= 1
       |          AND regexp_matches(x, '[.!?]$$'))) AS kept,
       |    regexp_matches(nb, '(?is)<(script|style)[^>]*>') AS f1,
       |    regexp_matches(t1, '<[a-zA-Z/!]') AS f2,
       |    regexp_matches(t2, '&[a-zA-Z]{1,10};|&#[0-9]{1,7};') AS f3
       |  FROM d JOIN h USING (doc_id))
       |SELECT doc_id, n_lines_raw,
       |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
       |  array_to_string(kept, chr(10)) AS extracted,
       |  (f1 OR f2 OR f3) AS quarantine,
       |  CASE WHEN (f1 OR f2 OR f3) THEN
       |    concat_ws(',',
       |      CASE WHEN f1 THEN 'unclosed_block' END,
       |      CASE WHEN f2 THEN 'stray_markup' END,
       |      CASE WHEN f3 THEN 'unknown_entity' END)
       |  END AS quarantine_reason
       |FROM l ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------- E42d
  /** QUARANTINE LEDGER per source — E42b's yield discipline applied to
    * E42c's quarantine contract: the number a crawl operator watches
    * when the C6f chain starts excluding pages. Per source: doc count,
    * quarantined count and share, and the per-detector breakdown
    * (detectors can co-occur — the breakdown counts flag hits, not a
    * partition). `source` rides the one extraction scan (the E41b
    * rule — no join back); one exchange on the tiny source key. A
    * source whose quarantine share jumps is a TEMPLATE change or a
    * truncating fetcher at that site, not a corpus change. */
  def crawlQuarantineReport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    htmlExtractRobustCols(
        Tables.documents(spark, sfDir).withColumn("html",
          concat(lit(HtmlWrapPrefix), $"text", lit(HtmlWrapSuffix))),
        "html")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"quarantine", 1L).otherwise(0L)).as("n_quarantined"),
        sum(when(coalesce($"quarantine_reason", lit(""))
          .contains("unclosed_block"), 1L).otherwise(0L))
          .as("n_unclosed_block"),
        sum(when(coalesce($"quarantine_reason", lit(""))
          .contains("stray_markup"), 1L).otherwise(0L))
          .as("n_stray_markup"),
        sum(when(coalesce($"quarantine_reason", lit(""))
          .contains("unknown_entity"), 1L).otherwise(0L))
          .as("n_unknown_entity"))
      .select($"source", $"n_docs", $"n_quarantined",
        round($"n_quarantined".cast("double") / $"n_docs", 6)
          .as("quarantine_share"),
        $"n_unclosed_block", $"n_stray_markup", $"n_unknown_entity")
      .orderBy($"source")
  }

  val crawlQuarantineReportSql: String = {
    val base = htmlExtractRobustSql
    val tail = "\nFROM l ORDER BY doc_id"
    require(base.endsWith(tail),
      "E42c oracle tail drifted — update the E42d splice with it")
    s"""WITH e AS (${base.dropRight(tail.length)}
       |FROM l)
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN e.quarantine THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_quarantined,
       |  ROUND(CAST(SUM(CASE WHEN e.quarantine THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*), 6) AS quarantine_share,
       |  CAST(SUM(CASE WHEN contains(coalesce(e.quarantine_reason, ''),
       |    'unclosed_block') THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_unclosed_block,
       |  CAST(SUM(CASE WHEN contains(coalesce(e.quarantine_reason, ''),
       |    'stray_markup') THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_stray_markup,
       |  CAST(SUM(CASE WHEN contains(coalesce(e.quarantine_reason, ''),
       |    'unknown_entity') THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_unknown_entity
       |FROM e JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  // --------------------------------------------------------------- E40
  /** LEXICON SENTIMENT — the EDBT'16 Twitter-at-scale shape (an
    * AFINN-style valence lexicon, no model): per document, the mean
    * valence of its lexicon hits plus the hit count; per source, the
    * rollup a brand/ops dashboard reads. A curation pipeline uses the
    * same signal as a cheap polarity/toxicity prior next to C60's
    * learned score. The lexicon is ONE inline literal table shared
    * verbatim by both engines (the E2 stopword-list rule), joined
    * against exploded tokens — at a real lexicon size (~2.5k terms)
    * it broadcasts; mean quantizes per-term to DECIMAL before the
    * order-free sum (the E11 discipline). Docs with zero hits carry
    * NULL sentiment (no evidence ≠ neutral) and still appear. */
  val SentimentLexicon: Seq[(String, Int)] = Seq(
    "good" -> 3, "great" -> 3, "excellent" -> 4, "love" -> 3,
    "happy" -> 3, "best" -> 3, "nice" -> 2, "win" -> 2, "works" -> 2,
    "fast" -> 1, "fine" -> 1, "ok" -> 1,
    "bad" -> -3, "terrible" -> -4, "awful" -> -4, "hate" -> -3,
    "sad" -> -2, "worst" -> -3, "broken" -> -2, "fail" -> -2,
    "slow" -> -1, "bug" -> -1, "error" -> -1, "crash" -> -2)

  def textSentimentOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lex = SentimentLexicon.toDF("term", "valence")
    val hits = docs
      .select($"doc_id", explode(tokens()).as("term"))
      .join(broadcast(lex), Seq("term"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hits"),
        sum($"valence".cast("decimal(18,4)")).as("vsum"))
    docs.select($"doc_id", col("source").cast("string").as("source"))
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"source",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        round($"vsum".cast("double") / $"n_hits", 6).as("sentiment"))
      .orderBy($"doc_id")
  }

  def textSentiment(spark: SparkSession, sfDir: String): DataFrame =
    textSentimentOf(Tables.documents(spark, sfDir))

  /** The per-source dashboard rollup: mean doc sentiment over docs
    * WITH evidence, coverage = fraction of docs that had any. */
  def sentimentBySourceOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    textSentimentOf(docs)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        count($"sentiment").as("n_scored"),
        // exact decimal sum / long count: one double division on both
        // engines (decimal AVG rounds engine-specifically — avoided)
        round(sum($"sentiment".cast("decimal(18,10)")).cast("double")
          / count($"sentiment"), 6).as("mean_sentiment"),
        round(count($"sentiment").cast("double") / count(lit(1)), 6)
          .as("coverage"))
      .orderBy($"source")
  }

  def sentimentBySource(spark: SparkSession, sfDir: String): DataFrame =
    sentimentBySourceOf(Tables.documents(spark, sfDir))

  /** E40's LIVE twin (E40b) — the polarity prior at INGEST (the E37b
    * reasoning: a signal every later consumer joins on is cheapest
    * stamped when the doc first arrives). NOT the batch kernel minus
    * a sort: the batch shape explodes + joins + re-aggregates, which
    * on a stream is a STATEFUL aggregation; the twin folds the
    * lexicon row-LOCALLY instead — the valence CASE and membership
    * filter ride the token array in one codegen'd expression, so the
    * stream stays stateless (no watermark, no store) and the scores
    * are bit-equal to E40's (identical integer arithmetic, identical
    * division). */
  def sentimentStream(docs: DataFrame): DataFrame = {
    val caseArms = SentimentLexicon
      .map { case (t, v) => s"WHEN '$t' THEN ${v}L" }.mkString(" ")
    val keys = SentimentLexicon.map(t => s"'${t._1}'").mkString(", ")
    docs.withColumn("__toks", tokens())
      .select(col("doc_id"),
        expr(s"cast(size(filter(__toks, t -> t IN ($keys))) as long)")
          .as("n_hits"),
        expr(s"aggregate(__toks, 0L, (a, t) -> a + " +
          s"(CASE t $caseArms ELSE 0L END))").as("__vsum"))
      .select(col("doc_id"), col("n_hits"),
        round(col("__vsum").cast("double") /
          nullif(col("n_hits"), lit(0L)), 6).as("sentiment"))
  }

  private def sentimentLexSql: String = SentimentLexicon
    .map { case (t, v) => s"('$t', $v)" }.mkString(", ")

  val textSentimentSql: String =
    s"""WITH lex(term, valence) AS (VALUES $sentimentLexSql),
       |t AS (
       |  SELECT doc_id,
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, COUNT(*) AS n_hits,
       |    SUM(CAST(valence AS DECIMAL(18,4))) AS vsum
       |  FROM t JOIN lex USING (term) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(d.source AS VARCHAR) AS source,
       |  COALESCE(h.n_hits, 0) AS n_hits,
       |  ROUND(CAST(h.vsum AS DOUBLE) / h.n_hits, 6) AS sentiment
       |FROM documents d LEFT JOIN h USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  val sentimentBySourceSql: String =
    s"""WITH lex(term, valence) AS (VALUES $sentimentLexSql),
       |t AS (
       |  SELECT doc_id,
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, COUNT(*) AS n_hits,
       |    SUM(CAST(valence AS DECIMAL(18,4))) AS vsum
       |  FROM t JOIN lex USING (term) GROUP BY doc_id),
       |s AS (
       |  SELECT d.doc_id, CAST(d.source AS VARCHAR) AS source,
       |    ROUND(CAST(h.vsum AS DOUBLE) / h.n_hits, 6) AS sentiment
       |  FROM documents d LEFT JOIN h USING (doc_id))
       |SELECT source, COUNT(*) AS n_docs,
       |  COUNT(sentiment) AS n_scored,
       |  ROUND(CAST(SUM(CAST(sentiment AS DECIMAL(18,10))) AS DOUBLE)
       |    / COUNT(sentiment), 6) AS mean_sentiment,
       |  ROUND(CAST(COUNT(sentiment) AS DOUBLE) / COUNT(*), 6)
       |    AS coverage
       |FROM s GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- E10
  /** One-row corpus dashboard: the summary a pipeline operator checks
    * before/after every curation sweep — doc and token volume, length
    * distribution (exact percentiles), exact-duplicate rate. One scan,
    * one aggregation. */
  def corpusStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .withColumn("n_tokens", size(tokens()).cast("long"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(sha2($"text", 256)).as("n_distinct"),
        sum($"n_tokens").as("total_tokens"),
        (sum($"n_tokens").cast("double") / count(lit(1))).as("avg_tokens"),
        round(expr("percentile(n_tokens, 0.5)"), 4).as("p50_tokens"),
        round(expr("percentile(n_tokens, 0.95)"), 4).as("p95_tokens"))
      .withColumn("dup_rate",
        lit(1.0) - $"n_distinct".cast("double") / $"n_docs")
  }

  val corpusStatsSql: String =
    """WITH x AS (
      |  SELECT text, len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
      |  FROM documents)
      |SELECT COUNT(*) AS n_docs,
      |  COUNT(DISTINCT sha256(text)) AS n_distinct,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
      |  ROUND(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
      |  ROUND(quantile_cont(n_tokens, 0.95), 4) AS p95_tokens,
      |  1.0 - CAST(COUNT(DISTINCT sha256(text)) AS DOUBLE) / COUNT(*) AS dup_rate
      |FROM x""".stripMargin

  // --------------------------------------------------------------- E11
  /** Unigram language-model score per document (the CCNet-style quality
    * signal): train token log-probabilities from the corpus itself
    * (one agg over the postings), then score each doc by its mean token
    * log-prob with add-one smoothing. Gibberish / rare-token documents
    * score low; fluent in-distribution text scores high. Two
    * aggregations over the exploded postings (corpus LM + per-doc
    * mean) and one join on token — the same inverted-index shape as
    * TF-IDF, shuffle bounded by postings.
    *
    * Oracle-checked: the one order-sensitive double op — summing a
    * doc's token log-probs after the term-partitioned join scrambles
    * row order — is made order-INDEPENDENT by quantizing each term's
    * logp to DECIMAL(28,12) before the sum (decimal addition is exact,
    * so any arrival order yields the same sum; 1e-12 quantization is
    * noise against the 1e-6 output rounding). ln() itself is
    * bit-identical Java vs DuckDB (both correctly-rounded — probed
    * over the (tf+1)/(corpus+vocab) input range in round 6). */
  def textLmScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // Row-local per-doc term counts (TokenCounts kernel — see
    // tfIdfTop), PINNED because three subtrees read them: the corpus
    // LM aggregate, its totals, and the scoring probe. Without the
    // pin each consumer re-scans and re-tokenizes the corpus — the
    // dominant cost at 100 TB. Exactness: summing tf·logp over a
    // doc's distinct terms equals summing logp over its tokens
    // BIT-exactly, because logp is quantized to DECIMAL(28,12) before
    // either sum and integer-times-decimal / decimal addition are
    // exact — so the unchanged DuckDB oracle (per-token sum) still
    // hash-matches.
    val tfd = Scale.fanOutScanLight(docs).withColumn("toks", tokens())
      .select($"doc_id",
        explode(TextFunctions.tokenCounts($"toks")).as(Seq("term", "tfd")))
      .localCheckpoint(true)
    val tf = tfd.groupBy($"term").agg(sum($"tfd").as("tf"))
    // corpus totals derive from the tiny term-count frame — no second
    // pass over the postings (the tokenizer runs once per corpus scan)
    val totals = tf.agg(sum($"tf").as("corpus_tokens"), count(lit(1)).as("vocab"))
    val lm = tf.crossJoin(broadcast(totals))
      .select($"term",
        log(($"tf" + 1.0) / ($"corpus_tokens" + $"vocab"))
          .cast("decimal(28,12)").as("logp"))
    val scored = tfd.join(lm, Seq("term"))
      .groupBy($"doc_id")
      // tfd enters the product as DECIMAL(8,0): long × DECIMAL(28,12)
      // would exceed the 38-digit cap and Spark silently RESCALES the
      // product to 6 fractional digits — breaking the oracle's
      // 12-digit exactness. 8 integer digits bounds per-doc term
      // frequency at 10^8 — a 100 MB document of one repeated token
      // overflows that cast to NULL, and since sum() skips NULLs the
      // term is silently OMITTED from slp (a quietly-too-high score
      // for that pathological doc, not an error; acceptable because
      // such a doc fails every length/repetition gate long before
      // scoring). (8,0)×(28,12) → DECIMAL(37,12); every step exact.
      .agg(sum($"tfd").as("n_tokens"),
        sum($"tfd".cast("decimal(8,0)") * $"logp").as("slp"))
    // LEFT join from the corpus: a token-free document (punctuation/
    // emoji/CJK-only) must surface with the smoothed floor score, not
    // silently vanish from the quality sweep
    docs.select($"doc_id").join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(totals))
      .select($"doc_id",
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        round(coalesce($"slp".cast("double") / $"n_tokens",
          log(lit(1.0) / ($"corpus_tokens" + $"vocab"))
            .cast("decimal(28,12)").cast("double")), 6)
          .as("lm_score"))
      .orderBy($"doc_id")
  }

  // --------------------------------------------------------------- E20
  /** BIGRAM language-model score per document — E11's unigram signal
    * upgraded to the Jelinek-Mercer interpolated bigram model quality
    * pipelines actually run (word-salad documents pass a unigram LM —
    * every word is common — but fail the bigram one; that separation
    * is the point of the upgrade): per bigram position,
    * p = λ·(c₂(w₁w₂)/c₁(w₁)) + (1−λ)·(c₁(w₂)+1)/(T+V), doc score =
    * mean ln p over its bigram positions. Same inverted-index shape as
    * E11 with ONE extra postings family: token and bigram counts both
    * come out of one corpus scan ROW-LOCALLY (TokenCounts on the token
    * array and on the zipped bigram-string array), the scan is pinned,
    * and the only exchanges are the two count aggregations plus the
    * prefix/unigram joins (bounded by bigram vocab, never by pairs).
    * Docs with < 2 tokens carry NULL — no bigram evidence is not the
    * smoothed floor (E11's convention covers them on the unigram
    * axis).
    *
    * Oracle discipline: counts are exact integers, the interpolation
    * is one identical IEEE tree (exact-int-to-double divisions, the
    * 0.7/0.3 literals, one ln — correctly rounded in both engines),
    * per-bigram logp quantizes to DECIMAL(28,12) before the order-free
    * per-doc sum (the E11 proof applies verbatim). */
  def textLmScoreBigram(spark: SparkSession, sfDir: String,
      lambda: Double = 0.7): DataFrame =
    textLmScoreBigramOf(Tables.documents(spark, sfDir), lambda)

  /** E20 over an arbitrary docs frame (spec entry — plant a scrambled
    * twin of a fluent doc: same unigram bag, collapsed bigram score). */
  def textLmScoreBigramOf(docs: DataFrame, lambda: Double = 0.7): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(lambda > 0 && lambda < 1, s"lambda $lambda out of (0, 1)")
    val base = Scale.fanOutScanLight(docs).withColumn("toks", tokens())
      .select($"doc_id",
        TextFunctions.tokenCounts($"toks").as("tc"),
        TextFunctions.tokenCounts(expr(
          // size(toks) < 2 would make the slice length negative (slice
          // throws) — token-free/single-token docs carry zero bigrams
          """IF(size(toks) < 2, array(),
            |  zip_with(slice(toks, 1, size(toks) - 1),
            |    slice(toks, 2, size(toks) - 1),
            |    (a, b) -> concat(a, ' ', b)))""".stripMargin)).as("bc"))
      .localCheckpoint(true)
    val tfd = base.select($"doc_id", explode($"tc").as(Seq("term", "tfd")))
    val bfd = base.select($"doc_id", explode($"bc").as(Seq("bterm", "bfd")))
    val tf = tfd.groupBy($"term").agg(sum($"tfd").as("tf"))
      // read three times (totals, prefix join, unigram join)
      .localCheckpoint(true)
    val bf = bfd.groupBy($"bterm").agg(sum($"bfd").as("c2"))
    val totals = tf.agg(sum($"tf").as("corpus_tokens"),
      count(lit(1)).as("vocab"))
    val lm = bf
      .withColumn("w1", split($"bterm", " ").getItem(0))
      .withColumn("w2", split($"bterm", " ").getItem(1))
      .join(tf.select($"term".as("w1"), $"tf".as("c1w1")), "w1")
      .join(tf.select($"term".as("w2"), $"tf".as("c1w2")), "w2")
      .crossJoin(broadcast(totals))
      .select($"bterm",
        // (1 − λ) computed IN double on both engines — a driver-side
        // 1.0-0.7 prints as 0.30000000000000004, whose 17-digit
        // decimal literal need not round-trip through DuckDB DECIMAL
        log(lit(lambda) * ($"c2".cast("double") / $"c1w1".cast("double")) +
          (lit(1.0) - lit(lambda)) *
            (($"c1w2" + 1.0) / ($"corpus_tokens" + $"vocab")))
          .cast("decimal(28,12)").as("logp"))
    val scored = bfd.join(lm, Seq("bterm"))
      .groupBy($"doc_id")
      .agg(sum($"bfd").as("n_bigrams"),
        sum($"bfd".cast("decimal(8,0)") * $"logp").as("slp"))
    docs.select($"doc_id").join(scored, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        round($"slp".cast("double") / $"n_bigrams", 6).as("lm2_score"))
      .orderBy($"doc_id")
  }

  def textLmScoreBigramSql(lambda: Double = 0.7): String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents),
       |postings AS (SELECT doc_id, unnest(toks) AS term FROM t),
       |bpost AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> concat(toks[i], ' ', toks[i + 1]))) AS bterm
       |  FROM t WHERE len(toks) >= 2),
       |tf AS (SELECT term, count(*) AS tf FROM postings GROUP BY term),
       |bf AS (SELECT bterm, count(*) AS c2 FROM bpost GROUP BY bterm),
       |totals AS (
       |  SELECT CAST(sum(tf) AS BIGINT) AS corpus_tokens, count(*) AS vocab
       |  FROM tf),
       |lm AS (
       |  SELECT bterm,
       |    CAST(ln(CAST($lambda AS DOUBLE)
       |        * (CAST(c2 AS DOUBLE) / CAST(t1.tf AS DOUBLE)) +
       |      (CAST(1.0 AS DOUBLE) - CAST($lambda AS DOUBLE))
       |        * ((t2.tf + 1.0) / (corpus_tokens + vocab)))
       |      AS DECIMAL(28,12)) AS logp
       |  FROM bf
       |  JOIN tf t1 ON t1.term = string_split(bterm, ' ')[1]
       |  JOIN tf t2 ON t2.term = string_split(bterm, ' ')[2]
       |  CROSS JOIN totals),
       |scored AS (
       |  SELECT doc_id, count(*) AS n_bigrams, sum(logp) AS slp
       |  FROM bpost JOIN lm USING (bterm) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(s.n_bigrams, 0) AS n_bigrams,
       |  ROUND(CAST(s.slp AS DOUBLE) / s.n_bigrams, 6) AS lm2_score
       |FROM documents d LEFT JOIN scored s USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------- E21
  /** TOP-PMI COLLOCATIONS — which word pairs stick together far beyond
    * chance (corpus phraseology: named entities, idioms, template
    * boilerplate — the pairs a tokenizer-merge or a boilerplate rule
    * would want to know about): pointwise mutual information
    * ln(c₂·T / (c₁(w₁)·c₁(w₂))) over adjacent-pair counts, floored at
    * `minCount` occurrences (PMI's low-count pathology — a hapax pair
    * scores arbitrarily high — is cut, not smoothed, which is the
    * standard collocation-extraction move). Same one-scan row-local
    * count shape as E20; the PMI products stay inside 2⁵³ at any
    * corpus size that fits a double's exact-integer range (c₂·T <
    * 2⁵³ ⇔ corpus ≲ 10⁸ bigrams per count — past that, rescale both
    * ratios first), and the ln tree is identical in both engines.
    * Deterministic top-k on (raw pmi desc, pair). */
  def wordCooccurrence(spark: SparkSession, sfDir: String,
      topK: Int = 20, minCount: Long = 5L): DataFrame = {
    import spark.implicits._
    require(topK >= 1 && minCount >= 1)
    val docs = Tables.documents(spark, sfDir)
    val base = Scale.fanOutScanLight(docs).withColumn("toks", tokens())
      .select($"doc_id",
        TextFunctions.tokenCounts($"toks").as("tc"),
        TextFunctions.tokenCounts(expr(
          // same guard as E20: slice length must stay non-negative
          """IF(size(toks) < 2, array(),
            |  zip_with(slice(toks, 1, size(toks) - 1),
            |    slice(toks, 2, size(toks) - 1),
            |    (a, b) -> concat(a, ' ', b)))""".stripMargin)).as("bc"))
      .localCheckpoint(true)
    val tf = base.select(explode($"tc").as(Seq("term", "n")))
      .groupBy($"term").agg(sum($"n").as("tf"))
      .localCheckpoint(true) // totals + two prefix joins
    val bf = base.select(explode($"bc").as(Seq("bterm", "n")))
      .groupBy($"bterm").agg(sum($"n").as("c2"))
      .filter($"c2" >= minCount)
    val totals = tf.agg(sum($"tf").as("t"))
    bf
      .withColumn("w1", split($"bterm", " ").getItem(0))
      .withColumn("w2", split($"bterm", " ").getItem(1))
      .join(tf.select($"term".as("w1"), $"tf".as("c1")), "w1")
      .join(tf.select($"term".as("w2"), $"tf".as("c2u")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi",
        log(($"c2".cast("double") * $"t".cast("double")) /
          ($"c1".cast("double") * $"c2u".cast("double"))))
      .orderBy($"pmi".desc, $"w1", $"w2")
      .limit(topK)
      .select($"w1", $"w2", $"c2".as("pair_count"),
        round($"pmi", 6).as("pmi"))
  }

  def wordCooccurrenceSql(topK: Int = 20, minCount: Long = 5L): String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents),
       |postings AS (SELECT doc_id, unnest(toks) AS term FROM t),
       |bpost AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> concat(toks[i], ' ', toks[i + 1]))) AS bterm
       |  FROM t WHERE len(toks) >= 2),
       |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf
       |  FROM postings GROUP BY term),
       |bf AS (SELECT bterm, CAST(count(*) AS BIGINT) AS c2
       |  FROM bpost GROUP BY bterm HAVING count(*) >= $minCount),
       |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t FROM tf),
       |p AS (
       |  SELECT string_split(bterm, ' ')[1] AS w1,
       |    string_split(bterm, ' ')[2] AS w2, c2,
       |    ln((CAST(c2 AS DOUBLE) * CAST(t AS DOUBLE)) /
       |      (CAST(t1.tf AS DOUBLE) * CAST(t2.tf AS DOUBLE))) AS pmi
       |  FROM bf
       |  JOIN tf t1 ON t1.term = string_split(bterm, ' ')[1]
       |  JOIN tf t2 ON t2.term = string_split(bterm, ' ')[2]
       |  CROSS JOIN tot)
       |SELECT w1, w2, c2 AS pair_count, ROUND(pmi, 6) AS pmi
       |FROM p ORDER BY pmi DESC, w1, w2 LIMIT $topK""".stripMargin

  val textLmScoreSql: String =
    """WITH postings AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |tf AS (SELECT term, count(*) AS tf FROM postings GROUP BY term),
      |totals AS (
      |  SELECT CAST(sum(tf) AS BIGINT) AS corpus_tokens, count(*) AS vocab
      |  FROM tf),
      |lm AS (
      |  SELECT term,
      |    CAST(ln((tf + 1.0) / (corpus_tokens + vocab)) AS DECIMAL(28,12)) AS logp
      |  FROM tf CROSS JOIN totals),
      |scored AS (
      |  SELECT doc_id, count(*) AS n_tokens, sum(logp) AS slp
      |  FROM postings JOIN lm USING (term) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(s.n_tokens, 0) AS n_tokens,
      |  ROUND(COALESCE(CAST(s.slp AS DOUBLE) / s.n_tokens,
      |    (SELECT CAST(CAST(ln(1.0 / (corpus_tokens + vocab)) AS DECIMAL(28,12))
      |       AS DOUBLE) FROM totals)), 6) AS lm_score
      |FROM documents d LEFT JOIN scored s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- E5
  /** Corpus top-k word frequencies: explode + two-phase agg (partial
    * map-side count, one shuffle on word). */
  def wordFreqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(explode(tokens()).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"word")
      .limit(20)
  }

  val wordFreqTopKSql: String =
    """SELECT word, COUNT(*) AS n FROM (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      |  FROM documents) t
      |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- E9
  /** E5's scale path: the same corpus top-20 through the Misra-Gries
    * heavy-hitters sketch ([[graft.functions.AggFunctions
    * .HeavyHittersAgg]]) — per-partition state is a HARD 8k-counter
    * bound instead of one counter per distinct word, so the exchange
    * moves O(k·partitions) rows however large the vocabulary. Rows-only
    * (estimates are sketch-internal); the spec pins the MG error bound
    * and exactness when the vocabulary fits the sketch. */
  def wordFreqTopKApprox(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(explode(tokens()).as("word"))
      .agg(graft.functions.AggFunctions.approxTopK($"word", k).as("top"))
      .select(posexplode($"top").as(Seq("rank", "t")))
      .select(($"rank" + 1).as("rank"), $"t.word", $"t.est")
  }

  // NOTE (r16): E9 deliberately has NO oracle-checked sibling — the
  // approx-upgrade pass that converted B13/B20/B36/A53b evaluated this
  // slot and REFUSED it. Truncating-MG estimates are merge-order
  // dependent once distinct keys exceed the 8k capacity (shuffle-fetch
  // order changes est values), so even a bound-check boolean can flip
  // run-to-run near the bound; ContractSpec pins the exclusion.

  // --------------------------------------------------------------- E12
  /** BOILERPLATE fraction per doc: the share of a doc's distinct
    * `n`-token grams that are corpus-common (gram appears in > `maxDf`
    * docs) — the RefinedWeb/C4-style signal for template/navigation
    * text that per-doc repetition gates (E7) cannot see, because the
    * repetition lives ACROSS documents, not within one. Grams are the
    * dedup family's hashed shingles ([[Dedup.gramSet]] — shared with
    * decontamination, so "gram" means the same thing corpus-wide).
    *
    * Scale shape: the inverted-index pattern — the gram stage is
    * pinned with an eager localCheckpoint because BOTH the df
    * aggregate (build side) and the probe side of the join read it,
    * and the subtrees differ so Catalyst cannot share an exchange:
    * without the pin the corpus would be scanned, tokenized, and
    * shingled twice (the dominant cost at 100 TB). From the pin: one
    * exchange on the gram hash for document frequencies (map-side
    * partial count), one join back (AQE broadcasts the common-gram
    * set — by construction only grams with df > maxDf), one id
    * aggregate. Docs shorter than `n` tokens have no grams and are
    * absent from the output. */
  def boilerplateFracOf(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, maxDf: Int = 2): DataFrame = {
    val grams = Dedup.gramSet(docs, idCol, textCol, n).localCheckpoint(true)
    val common = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("g"), lit(1).as("hit"))
    grams.join(common, Seq("g"), "left_outer")
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        round(avg(when(col("hit").isNotNull, 1.0).otherwise(0.0)), 6)
          .as("boilerplate_frac"))
      .select(col("id").as(idCol), col("n_grams"), col("boilerplate_frac"))
      .orderBy(col(idCol))
  }

  def boilerplateFrac(spark: SparkSession, sfDir: String, n: Int = 5,
      maxDf: Int = 2): DataFrame =
    boilerplateFracOf(Tables.documents(spark, sfDir), "doc_id", "text", n, maxDf)

  val boilerplateFracSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
      |  WHERE len(t) >= 5),
      |df AS (SELECT gram, count(*) AS c FROM g GROUP BY gram)
      |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |  ROUND(AVG(CASE WHEN df.c > 2 THEN 1.0 ELSE 0.0 END), 6)
      |    AS boilerplate_frac
      |FROM g JOIN df USING (gram)
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  // --------------------------------------------------------------- E13
  /** Compression-ratio quality signal (the Gopher-family filter):
    * DEFLATE ratio per doc via the native
    * [[graft.functions.TextFunctions.DeflateRatio]] kernel — map-only,
    * one sequential pass per row, no corpus state, no shuffle beyond
    * the final presentation sort. Low ratio = repetitive boilerplate,
    * near-1 = noise; the spec pins that ordering on constructed docs.
    * Rows-only (zlib output is JDK-implementation-specific — see the
    * kernel note), ratio rounded to 6dp for a stable dump. */
  def compressRatioOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
      length(col(textCol)).as("n_chars_text"),
      round(graft.functions.TextFunctions.deflateRatio(col(textCol)), 6)
        .as("deflate_ratio"))

  def compressRatioQuery(spark: SparkSession, sfDir: String): DataFrame =
    compressRatioOf(Tables.documents(spark, sfDir), "doc_id", "text")
      .orderBy(col("doc_id"))

  // --------------------------------------------------------------- E14
  /** Character-level Shannon entropy per document (nats) — the cheap
    * noise/boilerplate separator that needs no corpus state: random
    * bytes score near ln(alphabet), single-character spam near 0,
    * prose in between (complements E13's DEFLATE ratio with a pure
    * closed form). ROW-LOCAL end to end: the TokenCounts kernel
    * builds the per-doc character histogram in one pass, a
    * higher-order aggregate folds −p·ln p — zero shuffle beyond the
    * presentation sort, the 100 TB shape.
    *
    * Oracle-checked: each −p·ln p term is the identical IEEE tree in
    * both engines (one division, one correctly-rounded ln, one
    * multiply, one negate), quantized to DECIMAL(28,12) BEFORE the
    * sum so term order — histogram order here, unnest+groupBy order
    * in DuckDB — cannot move the result (the lm_score discipline).
    * ASCII corpus: chars == bytes, so `length(text)` is the character
    * count in both engines; empty text → 0.0 by definition on both
    * sides (avoids a split-of-empty-string edge the engines disagree
    * on, and dodges the −0.0 an empty fold would emit). */
  def textEntropyOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_chars", length(t).cast("long"))
      .withColumn("ent", when(col("n_chars") === 0L, lit(0.0)).otherwise(
        aggregate(
          map_values(TextFunctions.tokenCounts(split(t, ""))),
          // (37,12) accumulator: (38,12)+term would promote to (38,11)
          // and silently drop a fractional digit; the post-add cast
          // back to (37,12) is value-exact (entropy sums are tiny)
          lit(0).cast("decimal(37,12)"),
          (acc, c0) => (acc + (-((c0.cast("double") / col("n_chars")) *
            log(c0.cast("double") / col("n_chars")))).cast("decimal(28,12)"))
            .cast("decimal(37,12)"))
          .cast("double")))
      .select(col(idCol), col("n_chars"), col("ent").as("entropy_nats"))
  }

  def textEntropy(spark: SparkSession, sfDir: String): DataFrame =
    textEntropyOf(Tables.documents(spark, sfDir), "doc_id", "text")
      .orderBy(col("doc_id"))

  // --------------------------------------------------------------- E15
  /** Flesch-style readability per document: words (the shared
    * tokenizer), sentences (terminal-punctuation runs, floored at 1 so
    * headline fragments don't divide by zero), syllables approximated
    * as vowel-group runs — the standard regex proxy. Pure per-row
    * regex counting + one fixed arithmetic tree (two divisions, two
    * multiplies, two subtractions — identical IEEE evaluation order in
    * both engines), zero shuffle. Token-free docs emit NULL flesch
    * (nothing to read) rather than a fake score. */
  def textReadabilityOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      size(expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)"))
        .cast("long").as("n_words"),
      greatest(size(regexp_extract_all(t, lit("[.!?]+"), lit(0))), lit(1))
        .cast("long").as("n_sentences"),
      size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0)))
        .cast("long").as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") === 0L, lit(null).cast("double")).otherwise(
          lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
            lit(84.6) * (col("n_syllables").cast("double") / col("n_words"))))
  }

  def textReadability(spark: SparkSession, sfDir: String): DataFrame =
    textReadabilityOf(Tables.documents(spark, sfDir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val textReadabilitySql: String =
    """WITH x AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words,
      |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
      |  FROM documents)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  CASE WHEN n_words = 0 THEN NULL ELSE
      |    206.835
      |      - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
      |      - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
      |  END AS flesch
      |FROM x ORDER BY doc_id""".stripMargin

  val textEntropySql: String =
    """WITH c AS (
      |  SELECT doc_id, ch, COUNT(*) AS k FROM (
      |    SELECT doc_id, unnest(string_split(text, '')) AS ch
      |    FROM documents) u
      |  GROUP BY doc_id, ch),
      |n AS (SELECT doc_id, length(text) AS n FROM documents),
      |e AS (
      |  SELECT c.doc_id,
      |    SUM(CAST(-((CAST(k AS DOUBLE) / n.n) * ln(CAST(k AS DOUBLE) / n.n))
      |      AS DECIMAL(28,12))) AS s
      |  FROM c JOIN n ON c.doc_id = n.doc_id
      |  GROUP BY c.doc_id)
      |SELECT d.doc_id, length(d.text) AS n_chars,
      |  COALESCE(CAST(e.s AS DOUBLE), 0.0) AS entropy_nats
      |FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------- E17
  /** CORPUS-DRIFT report: Jensen-Shannon divergence of each source's
    * token distribution against the whole corpus — the distribution
    * monitor a training pipeline runs on every ingest batch ("did this
    * crawl slice drift from the mix we validated?"), and the
    * before/after number for every curation sweep that E10's volume
    * dashboard cannot see (token COUNTS can hold steady while the
    * distribution walks away). JSD over KL because it is symmetric,
    * bounded by ln 2, and defined when a source lacks vocab the corpus
    * has.
    *
    * Scale shape: per-(source, token) counts are ONE exchange with
    * map-side partials; the global distribution and per-source totals
    * derive from that vocab-sized frame, never a second corpus scan.
    * The absent-vocab half of the Q-side sum has a CLOSED FORM — for
    * tokens missing from the source, m = q/2, so the term sum is
    * ln 2 · (1 − Σ_present q) — which kills the sources × vocab
    * cross-join a literal JSD would need; Σ_present q comes exact from
    * the INTEGER global counts. Per-token terms are DECIMAL(28,12)-
    * quantized before the order-sensitive sum (§4 discipline: the
    * probabilities are integer ratios, ln is correctly-rounded libm on
    * both engines, so the whole report hash-checks). */
  def corpusDriftOf(docs: DataFrame, stratumCol: String): DataFrame = {
    // PINNED: the term join, the global rollup, the per-source totals,
    // and the grand total all read this frame — without the pin each
    // consumer re-scans and re-tokenizes the corpus (the E11/A49
    // finding). Pinned size is sources × vocab, not corpus.
    val counts = docs
      .select(col(stratumCol).as("s"), explode(tokens()).as("w"))
      .groupBy(col("s"), col("w"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    jsdReport(counts)
      .select(col("s").as("source"), col("n_items").as("n_tokens"),
        col("n_distinct").as("vocab"), col("jsd"))
      .orderBy(col("source"))
  }

  /** Per-stratum Jensen-Shannon divergence vs the pooled distribution,
    * from a (s, w, tf) count frame — the numeric core shared by E17
    * (token distributions) and D17 (embedding cell masses), so the two
    * drift monitors cannot diverge on formula or parity discipline.
    * The absent-item half of the Q-sum uses its closed form
    * ln 2 · (1 − Σ_present q); per-item terms are DECIMAL(28,12)-
    * quantized before the order-sensitive sum (§4). Emits one row per
    * stratum: (s, n_items, n_distinct, jsd). Input frame should be
    * PINNED by the caller — four subtrees read it. */
  private[operators] def jsdReport(counts: DataFrame): DataFrame =
    jsdAgainst(counts,
      counts.groupBy(col("w")).agg(sum(col("tf")).as("gf")))

  /** JSD of each stratum in `counts` (s, w, tf) against an EXPLICIT
    * reference distribution `ref` (w, gf) — the general form behind
    * [[jsdReport]] (ref = the pooled counts) and the streaming drift
    * monitor (ref = a static corpus baseline). Items present in a
    * stratum but ABSENT from the reference contribute their exact
    * closed-form P-side term p·ln 2 (m = p/2, and p/(p/2) is exactly
    * 2.0 in IEEE — no rounding), with the Q-side term zero; reference
    * mass unmatched by the stratum uses the ln 2 · (1 − Σ_matched q)
    * closed form as before. With ref = pooled global the q-null
    * branches never fire, so jsdReport's results are bit-unchanged. */
  private[operators] def jsdAgainst(counts: DataFrame,
      ref: DataFrame): DataFrame = {
    val totals = counts.groupBy(col("s")).agg(sum(col("tf")).as("ns"))
    val grand = ref.agg(sum(col("gf")).as("ng"))
    val p = col("tf").cast("double") / col("ns").cast("double")
    val q = col("gf").cast("double") / col("ng").cast("double")
    val m = (p + q) / lit(2.0)
    counts
      .join(ref, Seq("w"), "left")
      .join(broadcast(totals), "s")
      .crossJoin(broadcast(grand))
      .select(col("s"), col("ns"), col("ng"),
        coalesce(col("gf"), lit(0L)).as("gf"),
        when(col("gf").isNull, (p * log(lit(2.0))).cast("decimal(28,12)"))
          .otherwise((p * log(p / m)).cast("decimal(28,12)")).as("tp"),
        when(col("gf").isNull, lit(0).cast("decimal(28,12)"))
          .otherwise((q * log(q / m)).cast("decimal(28,12)")).as("tq"))
      .groupBy(col("s"))
      .agg(max(col("ns")).as("n_items"),
        count(lit(1)).as("n_distinct"),
        sum(col("tp")).cast("double").as("sp"),
        sum(col("tq")).cast("double").as("sq"),
        sum(col("gf")).cast("double").as("gfp"),
        max(col("ng")).cast("double").as("ngd"))
      .select(col("s"), col("n_items"), col("n_distinct"),
        (lit(0.5) * col("sp") + lit(0.5) *
          (col("sq") + log(lit(2.0)) * (lit(1.0) - col("gfp") / col("ngd"))))
          .as("jsd"))
  }

  def corpusDrift(spark: SparkSession, sfDir: String): DataFrame =
    corpusDriftOf(Tables.documents(spark, sfDir), "source")

  /** INGEST-TIME drift monitor — E17's streaming half and the E
    * family's first streaming member: each micro-batch of documents is
    * scored per source against a STATIC baseline distribution (the
    * last validated corpus version — the A35 stream-static shape), so
    * a drifting crawl slice raises its JSD the trigger it arrives, not
    * at the next batch sweep. Per-batch analytics over the whole
    * trigger is exactly what foreachBatch is for (the D9 reasoning:
    * stateless per batch, no watermark semantics to fake); the
    * baseline token distribution is computed ONCE at query start and
    * pinned — triggers pay only their own batch's counts. Novel
    * tokens absent from the baseline get their exact closed-form
    * P-side term (p·ln 2) instead of the NaN a naive q=0 join would
    * produce — the case that fires precisely when drift is worst. */
  def driftStream(docs: DataFrame, baseline: DataFrame)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    lazy val ref = baseline
      .select(explode(tokens()).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("gf"))
      .localCheckpoint(true)
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val counts = batch
        .select(col("source").as("s"), explode(tokens()).as("w"))
        .groupBy(col("s"), col("w")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      sink(jsdAgainst(counts, ref)
        .select(col("s").as("source"), col("n_items").as("n_tokens"),
          col("n_distinct").as("vocab"), col("jsd")), batchId)
    }
  }

  val corpusDriftSql: String =
    """WITH tok AS (
      |  SELECT source AS s,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |c AS (SELECT s, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |-- SUM(BIGINT) is HUGEINT in DuckDB: pin back to BIGINT so the
      |-- emitted n_tokens column types match Spark's long
      |g AS (SELECT w, CAST(SUM(tf) AS BIGINT) AS gf FROM c GROUP BY 1),
      |t AS (SELECT s, CAST(SUM(tf) AS BIGINT) AS ns FROM c GROUP BY 1),
      |ngt AS (SELECT CAST(SUM(gf) AS BIGINT) AS ng FROM g),
      |j AS (
      |  SELECT c.s, t.ns, g.gf, ngt.ng,
      |    CAST(c.tf AS DOUBLE) / CAST(t.ns AS DOUBLE) AS p,
      |    CAST(g.gf AS DOUBLE) / CAST(ngt.ng AS DOUBLE) AS q
      |  FROM c JOIN g USING (w) JOIN t USING (s), ngt),
      |terms AS (
      |  SELECT s, ns, gf, ng,
      |    CAST(p * ln(p / ((p + q) / 2.0)) AS DECIMAL(28,12)) AS tp,
      |    CAST(q * ln(q / ((p + q) / 2.0)) AS DECIMAL(28,12)) AS tq
      |  FROM j),
      |agg AS (
      |  SELECT s, MAX(ns) AS n_tokens, COUNT(*) AS vocab,
      |    CAST(SUM(tp) AS DOUBLE) AS sp, CAST(SUM(tq) AS DOUBLE) AS sq,
      |    CAST(SUM(gf) AS DOUBLE) AS gfp, CAST(MAX(ng) AS DOUBLE) AS ngd
      |  FROM terms GROUP BY s)
      |SELECT s AS source, n_tokens, vocab,
      |  0.5 * sp + 0.5 * (sq + ln(2.0) * (1.0 - gfp / ngd)) AS jsd
      |FROM agg ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- E22
  /** SCRIPT / CHARSET PROFILE — per-source character-class composition
    * (ASCII letters, digits, whitespace, the rest): the corpus-QA
    * gauge that catches mojibake, binary spill, wrong-script ingest,
    * and markup-heavy sources before they poison tokenizer training.
    * Counts come from length deltas after class-stripping
    * regexp_replace — per-row integer arithmetic (map-only), summed
    * exactly as BIGINTs in ONE per-source aggregate; fractions are
    * single IEEE divisions off the exact sums. `other` is derived by
    * subtraction, so the four fractions partition 1 exactly and the
    * operator needs no cross-engine agreement on punctuation classes. */
  def textScriptProfile(spark: SparkSession, sfDir: String): DataFrame =
    textScriptProfileOf(Tables.documents(spark, sfDir))

  def textScriptProfileOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def stripped(re: String): Column =
      length($"text") - length(regexp_replace($"text", re, ""))
    val m = docs.select($"source",
      length($"text").cast("long").as("nc"),
      stripped("[A-Za-z]").cast("long").as("na"),
      stripped("[0-9]").cast("long").as("nd"),
      stripped("[ \\t\\n\\r]").cast("long").as("ns"))
    m.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nc").as("n_chars"),
        sum($"na").as("n_alpha"), sum($"nd").as("n_digit"),
        sum($"ns").as("n_space"))
      .select($"source", $"n_docs", $"n_chars",
        round($"n_alpha".cast("double") / $"n_chars", 6).as("alpha_frac"),
        round($"n_digit".cast("double") / $"n_chars", 6).as("digit_frac"),
        round($"n_space".cast("double") / $"n_chars", 6).as("space_frac"),
        round(($"n_chars" - $"n_alpha" - $"n_digit" - $"n_space")
          .cast("double") / $"n_chars", 6).as("other_frac"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- E23
  /** VOCABULARY COVERAGE CURVE — what fraction of corpus tokens the
    * top-N terms cover, at standard budget cuts: THE tokenizer-sizing
    * question (a 10k vocab covering 96% of tokens means 4% of the
    * corpus fragments into fallback bytes; the C32 perplexity buckets
    * and E5's raw top-k both assume someone already chose N — this is
    * how N gets chosen).
    *
    * Scale shape: one term-count aggregate (the E5 exchange) pinned;
    * the ranking then runs over a frame bounded by the LARGEST CUT,
    * not the vocabulary — the custom TopK operator's map-side heaps
    * prune every partition to maxCut rows before the single ranking
    * task, so a billion-term web vocabulary ships maxCut rows per
    * partition and the window sorts a constant-size frame. Counts are
    * exact BIGINTs; coverage is one IEEE division, rounded at 6. */
  def textVocabCoverage(spark: SparkSession, sfDir: String,
      cuts: Seq[Int] = Seq(100, 1000, 10000)): DataFrame =
    textVocabCoverageOf(Tables.documents(spark, sfDir), cuts)

  def textVocabCoverageOf(docs: DataFrame,
      cuts: Seq[Int] = Seq(100, 1000, 10000)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(cuts.nonEmpty && cuts.forall(_ > 0) && cuts == cuts.sorted,
      s"cuts must be positive and ascending: $cuts")
    val counts = Scale.fanOutScanLight(docs).withColumn("toks", tokens())
      .select(explode(TextFunctions.tokenCounts($"toks")).as(Seq("term", "tf")))
      .groupBy($"term").agg(sum($"tf").as("cnt"))
      .localCheckpoint(true) // vocab-sized; feeds totals AND the top frame
    val totals = counts.agg(count(lit(1)).as("n_terms"),
      sum($"cnt").as("total_tokens"))
    val top = graft.plans.TopK.perKey(
      counts.withColumn("__k", lit(1)), Seq("__k"),
      Seq($"cnt".desc, $"term".asc), cuts.max)
    val w = Window.partitionBy($"__k").orderBy($"cnt".desc, $"term")
    val ranked = top.withColumn("rank", row_number().over(w))
    val coveredCols = cuts.map(c =>
      coalesce(sum(when($"rank" <= c, $"cnt")), lit(0L))
        .as(s"__c$c"))
    val one = ranked.agg(coveredCols.head, coveredCols.tail: _*)
    val stackExpr = cuts.map(c => s"$c, __c$c").mkString(", ")
    one.selectExpr(
        s"stack(${cuts.length}, $stackExpr) as (vocab_cut, covered_tokens)")
      .crossJoin(broadcast(totals))
      .select($"vocab_cut".cast("long").as("vocab_cut"), $"n_terms",
        $"total_tokens", $"covered_tokens",
        round($"covered_tokens".cast("double") /
          $"total_tokens".cast("double"), 6).as("coverage"))
      .orderBy($"vocab_cut")
  }

  def textVocabCoverageSql(cuts: Seq[Int] = Seq(100, 1000, 10000)): String = {
    val vals = cuts.map(c => s"($c)").mkString(",")
    s"""WITH tf AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM documents),
       |c AS (SELECT term, COUNT(*) AS cnt FROM tf GROUP BY term),
       |t AS (SELECT COUNT(*) AS n_terms, CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM c),
       |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank FROM c),
       |k AS (SELECT * FROM (VALUES $vals) v(cut))
       |SELECT CAST(cut AS BIGINT) AS vocab_cut, n_terms, total_tokens,
       |  CAST(COALESCE(SUM(CASE WHEN rank <= cut THEN cnt END), 0) AS BIGINT) AS covered_tokens,
       |  ROUND(CAST(COALESCE(SUM(CASE WHEN rank <= cut THEN cnt END), 0) AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6) AS coverage
       |FROM k, r, t
       |GROUP BY cut, n_terms, total_tokens
       |ORDER BY vocab_cut""".stripMargin
  }

  // ---------------------------------------------------------------- E24
  /** BPE PAIR COUNTS — the first merge step of byte-pair-encoding
    * tokenizer training: corpus-wide counts of adjacent character
    * pairs inside word tokens, top-k by count. The number every BPE
    * trainer computes first (the highest-count pair becomes merge #1).
    *
    * Scale shape: pairs are generated from the VOCABULARY, not the
    * token stream — Σ_terms tf(term)·pairs(term) equals the per-token
    * scan exactly, but the explode runs over distinct terms (millions)
    * instead of corpus tokens (trillions at 100 TB), each weighted by
    * its exact BIGINT frequency. One term-count exchange (the E5
    * kernel), one bounded pair aggregate (the pair domain is ≤ |Σ|²),
    * top-k via a bounded heap. */
  def textBpePairs(spark: SparkSession, sfDir: String,
      k: Int = 50): DataFrame =
    textBpePairsOf(Tables.documents(spark, sfDir), k)

  def textBpePairsOf(docs: DataFrame, k: Int = 50): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(k > 0, s"k must be positive: $k")
    docs.withColumn("toks", tokens())
      .select(explode(TextFunctions.tokenCounts($"toks")).as(Seq("term", "tf")))
      .groupBy($"term").agg(sum($"tf").as("cnt"))
      .filter(length($"term") >= 2)
      .select(explode(expr(
        """transform(sequence(1, length(term) - 1),
          |  i -> substring(term, i, 2))""".stripMargin)).as("pair"),
        $"cnt")
      .groupBy($"pair").agg(sum($"cnt").as("cnt"))
      .orderBy($"cnt".desc, $"pair")
      .limit(k)
  }

  def textBpePairsSql(k: Int = 50): String =
    s"""WITH tf AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM documents),
       |c AS (SELECT term, COUNT(*) AS cnt FROM tf GROUP BY term),
       |p AS (
       |  SELECT unnest(list_transform(range(1, length(term)),
       |    i -> substring(term, i, 2))) AS pair, cnt
       |  FROM c WHERE length(term) >= 2)
       |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS cnt
       |FROM p GROUP BY pair
       |ORDER BY cnt DESC, pair LIMIT $k""".stripMargin

  // ---------------------------------------------------------------- E25
  /** ZIPF FIT — how closely the corpus obeys Zipf's law: OLS slope and
    * intercept of ln(count) against ln(rank) over the top-N terms. A
    * natural corpus sits near slope −1; template/boilerplate-heavy or
    * synthetic text flattens (this driver corpus: ~−0.18 over its
    * 31-word template vocabulary — the operator's verdict is honest),
    * and the slope is the standard one-number input to corpus-mixing
    * heuristics and vocabulary sizing.
    *
    * Scale shape: one term-count exchange (the E5 kernel); the
    * bounded-heap TopK prunes every partition to topN rows, so the
    * ranking window runs over a CONSTANT-size frame (≤ topN rows —
    * the single-partition window is over the pruned constant frame,
    * never the vocabulary). Parity: ln is correctly rounded in both
    * engines (the E11 discipline); x/y quantize to DECIMAL(18,9)
    * before the moment sums so products stay inside DECIMAL(38) exact
    * arithmetic and sums are order-free; the slope/intercept division
    * is one identical IEEE tree rounded at 6. */
  def textZipf(spark: SparkSession, sfDir: String,
      topN: Int = 200): DataFrame =
    textZipfOf(Tables.documents(spark, sfDir), topN)

  def textZipfOf(docs: DataFrame, topN: Int = 200): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(topN >= 2, s"topN must be >= 2: $topN")
    val counts = docs.withColumn("toks", tokens())
      .select(explode(TextFunctions.tokenCounts($"toks")).as(Seq("term", "tf")))
      .groupBy($"term").agg(sum($"tf").as("cnt"))
    val top = graft.plans.TopK.perKey(
      counts.withColumn("__k", lit(1)), Seq("__k"),
      Seq($"cnt".desc, $"term".asc), topN)
    val w = Window.partitionBy($"__k").orderBy($"cnt".desc, $"term")
    val xy = top.withColumn("rank", row_number().over(w))
      .select(
        log($"rank".cast("double")).cast("decimal(18,9)").as("x"),
        log($"cnt".cast("double")).cast("decimal(18,9)").as("y"))
    xy.agg(
        count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
      .select(
        $"n".as("n_terms"),
        round(
          ($"n" * $"sxy".cast("double") -
            $"sx".cast("double") * $"sy".cast("double")) /
            ($"n" * $"sxx".cast("double") -
              $"sx".cast("double") * $"sx".cast("double")), 6).as("slope"),
        round(
          ($"sy".cast("double") -
            (($"n" * $"sxy".cast("double") -
              $"sx".cast("double") * $"sy".cast("double")) /
              ($"n" * $"sxx".cast("double") -
                $"sx".cast("double") * $"sx".cast("double"))) *
              $"sx".cast("double")) / $"n", 6).as("intercept"))
  }

  def textZipfSql(topN: Int = 200): String =
    s"""WITH tf AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM documents),
       |c AS (SELECT term, COUNT(*) AS cnt FROM tf GROUP BY term),
       |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank FROM c),
       |xy AS (
       |  SELECT CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(18,9)) AS x,
       |    CAST(ln(CAST(cnt AS DOUBLE)) AS DECIMAL(18,9)) AS y
       |  FROM r WHERE rank <= $topN),
       |m AS (
       |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(x*x) AS sxx, SUM(x*y) AS sxy
       |  FROM xy)
       |SELECT n AS n_terms,
       |  ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
       |  ROUND((CAST(sy AS DOUBLE)
       |    - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
       |      * CAST(sx AS DOUBLE)) / n, 6) AS intercept
       |FROM m""".stripMargin

  // ---------------------------------------------------------------- E26
  /** BPE TRAIN — byte-pair-encoding tokenizer training at corpus
    * scale: the iterative merge loop every subword tokenizer
    * (SentencePiece-BPE, GPT-2) runs, expressed so NO iteration ever
    * touches the corpus. The corpus is scanned ONCE into the
    * (term, count) vocabulary frame (the E5 exchange); each of the
    * nMerges iterations then (1) counts adjacent SYMBOL pairs over
    * the vocabulary weighted by exact BIGINT term frequency — the
    * same Σ tf·pairs identity E24 proves against the token stream —
    * (2) collects the single top pair (count desc, then pair — fully
    * deterministic), and (3) rewrites each term's symbol array with a
    * leftmost non-overlapping fold (a codegen'd `aggregate` lambda;
    * a merged symbol can never equal its own left half, so the
    * single-pass fold is exact BPE merge semantics). Every iteration
    * is vocabulary-bounded — at 100 TB the loop costs nMerges passes
    * over millions of distinct terms, not trillions of tokens — and
    * the frame is re-pinned per iteration so lineage stays flat.
    *
    * Iterative ⇒ not SQL-expressible (rows-only + spec: the classic
    * low/lower/newest/widest corpus pins the es→est→lo→low merge
    * sequence; train/apply results are cached per corpus VERSION like
    * the D5 quantizer — a deterministic tokenizer is build output). */
  def bpeTrain(spark: SparkSession, sfDir: String,
      nMerges: Int = 30): DataFrame = {
    val (merges, _) = cachedBpe(spark, sfDir, nMerges)
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b, c), i) =>
      (i + 1, a, b, a + b, c)
    }.toDF("merge_rank", "left", "right", "merged", "pair_count")
      .orderBy($"merge_rank")
  }

  /** E26 core over an arbitrary docs frame: returns the ordered merge
    * list and the final symbolized vocabulary (term, cnt, syms). */
  def bpeLearnOf(docs: DataFrame,
      nMerges: Int): (Seq[(String, String, Long)], DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nMerges >= 1, s"nMerges must be >= 1: $nMerges")
    var vocab = docs.withColumn("toks", tokens())
      .select(explode(TextFunctions.tokenCounts($"toks")).as(Seq("term", "tf")))
      .groupBy($"term").agg(sum($"tf").as("cnt"))
      .withColumn("syms", split($"term", ""))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var done = false
    while (merges.length < nMerges && !done) {
      val top = vocab.filter(size($"syms") >= 2)
        .select($"cnt", explode(expr(
          """zip_with(slice(syms, 1, size(syms) - 1),
            |  slice(syms, 2, size(syms) - 1),
            |  (a, b) -> named_struct('a', a, 'b', b))""".stripMargin)).as("p"))
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"cnt").as("c"))
        .orderBy($"c".desc, $"a", $"b").limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((a, b, c))
        // superseded iterations' pinned blocks: released by the
        // ContextCleaner once the old frame's RDD is GC-collected
        // (the Bench slot-hygiene note) — no explicit unpersist needed
        vocab = vocab.withColumn("syms",
            aggregate($"syms", array().cast("array<string>"), (acc, x) =>
              when(size(acc) > 0 &&
                  element_at(acc, -1) === lit(a) && x === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
                .otherwise(concat(acc, array(x)))))
          .localCheckpoint(true)
      }
    }
    (merges.toSeq, vocab)
  }

  private val bpeCache =
    new StampedCache[Int, (Seq[(String, String, Long)], DataFrame)]

  private def cachedBpe(spark: SparkSession, sfDir: String,
      nMerges: Int): (Seq[(String, String, Long)], DataFrame) =
    bpeCache(sfDir,
      graft.Tables.pathStamp(spark, s"$sfDir/documents.parquet"), nMerges)(
      bpeLearnOf(Tables.documents(spark, sfDir), nMerges))

  // ---------------------------------------------------------------- E27
  /** BPE APPLY — segment the corpus with the learned tokenizer and
    * report per-document piece counts (the number a token-budgeted
    * packer or a cost model actually consumes — C13 packs by token
    * count; this is where that count comes from once the tokenizer is
    * subword). The segmentation rides the VOCABULARY: the final train
    * state already maps every term to its merged symbols, so applying
    * the tokenizer is one join of per-doc term counts against the
    * symbolized vocab — pieces(doc) = Σ tf(term, doc)·|syms(term)| —
    * never a per-token re-walk of the merge rules. At 100 TB: one
    * corpus scan for per-doc term counts, one vocab-keyed join (AQE
    * broadcasts when the vocab fits), zero iteration. */
  def bpeApply(spark: SparkSession, sfDir: String,
      nMerges: Int = 30): DataFrame = {
    val (_, vocab) = cachedBpe(spark, sfDir, nMerges)
    bpeApplyOf(Tables.documents(spark, sfDir), vocab)
  }

  /** E27 over arbitrary docs + a symbolized vocab (term, syms). A
    * term ABSENT from the vocab (docs ≠ the training corpus — the
    * generic entry's normal case) still counts: it falls back to
    * fully-unmerged character pieces (length(term) — what a BPE
    * encoder without an applicable merge emits), so word_tokens is
    * always the doc's true token count and an OOV-heavy doc reads a
    * HIGH pieces_per_token instead of silently vanishing from the
    * budget. */
  def bpeApplyOf(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pieces = vocab.select($"term", size($"syms").as("pieces"))
    val perDoc = Scale.fanOutScanLight(docs).withColumn("toks", tokens())
      .select($"doc_id", explode(TextFunctions.tokenCounts($"toks"))
        .as(Seq("term", "tf")))
      .join(pieces, Seq("term"), "left")
      .groupBy($"doc_id")
      .agg(sum($"tf").as("word_tokens"),
        sum($"tf" * coalesce($"pieces", length($"term")))
          .as("bpe_pieces"))
    docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"word_tokens", lit(0L)).as("word_tokens"),
        coalesce($"bpe_pieces", lit(0L)).as("bpe_pieces"),
        round($"bpe_pieces".cast("double") / $"word_tokens", 6)
          .as("pieces_per_token"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- E28
  /** RAKE KEYWORD extraction — the representative phrase per document
    * (Rose et al.'s Rapid Automatic Keyword Extraction, the classic
    * unsupervised baseline): candidate phrases are maximal runs of
    * non-stopword tokens; each word scores degree/frequency over the
    * doc's phrases (degree = Σ length of phrases it appears in —
    * words that live in long phrases outrank loners); a phrase scores
    * the sum of its members' scores; the doc's keyword is its top
    * phrase, ties to the lexicographically first.
    *
    * Scale shape: all exchanges are DOC-keyed on token-level frames
    * (the E6 cost class) — islands from one partitioned window
    * (pos − row_number, the gaps-and-islands move), phrase text via
    * array_sort over collected (pos, token) structs (collect_list
    * order is NOT deterministic; the sort is what makes the phrase
    * reproducible), and the per-doc argmax is a min-STRUCT — no
    * second pass. Parity: per-word scores quantize to DECIMAL(18,9)
    * before the phrase sum (order-free — the E11 discipline); the
    * stopword list is the ONE inline E2 list on both engines. */
  def textKeywords(spark: SparkSession, sfDir: String): DataFrame =
    textKeywordsOf(Tables.documents(spark, sfDir))

  def textKeywordsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = Scale.fanOutScanLight(docs).withColumn("toks", tokens())
      .select($"doc_id", posexplode($"toks").as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val isl = toks.filter(!$"tok".isInCollection(stopwords))
      .withColumn("grp", $"pos" - row_number().over(w))
    val ph = isl.groupBy($"doc_id", $"grp").agg(
      array_join(expr(
        "transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)"),
        " ").as("phrase"),
      count(lit(1)).as("plen"))
    val mem = isl.join(ph, Seq("doc_id", "grp"))
      .select($"doc_id", $"grp", $"tok", $"plen")
    val ws = mem.groupBy($"doc_id", $"tok")
      .agg(count(lit(1)).as("freq"), sum($"plen").as("deg"))
    val ps = mem.join(ws, Seq("doc_id", "tok"))
      .select($"doc_id", $"grp",
        ($"deg".cast("double") / $"freq").cast("decimal(18,9)").as("wscore"))
      .groupBy($"doc_id", $"grp")
      .agg(sum($"wscore").cast("double").as("score"))
    val best = ph.join(ps, Seq("doc_id", "grp"))
      .groupBy($"doc_id")
      .agg(min(struct((-$"score").as("ns"), $"phrase", $"plen",
        $"score".as("sc"))).as("b"))
    docs.select($"doc_id").join(best, Seq("doc_id"), "left")
      .select($"doc_id", $"b.phrase".as("keyword"),
        $"b.plen".as("phrase_len"), round($"b.sc", 6).as("score"))
      .orderBy($"doc_id")
  }

  val textKeywordsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, s['pos'] AS pos, s['tok'] AS tok
       |  FROM (SELECT doc_id,
       |    unnest(list_transform(range(1, len(toks) + 1),
       |      i -> {'pos': i, 'tok': toks[i]})) AS s
       |  FROM t)),
       |isl AS (
       |  SELECT doc_id, pos, tok,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM tok WHERE NOT list_contains($stopwordsSqlList, tok)),
       |ph AS (
       |  SELECT doc_id, grp,
       |    string_agg(tok, ' ' ORDER BY pos) AS phrase,
       |    COUNT(*) AS plen
       |  FROM isl GROUP BY doc_id, grp),
       |mem AS (
       |  SELECT isl.doc_id, isl.grp, isl.tok, ph.plen
       |  FROM isl JOIN ph USING (doc_id, grp)),
       |ws AS (
       |  SELECT doc_id, tok, COUNT(*) AS freq,
       |    CAST(SUM(plen) AS BIGINT) AS deg
       |  FROM mem GROUP BY doc_id, tok),
       |ps AS (
       |  SELECT doc_id, grp, CAST(SUM(wscore) AS DOUBLE) AS score
       |  FROM (SELECT mem.doc_id, mem.grp,
       |    CAST(CAST(ws.deg AS DOUBLE) / ws.freq AS DECIMAL(18,9)) AS wscore
       |    FROM mem JOIN ws USING (doc_id, tok))
       |  GROUP BY doc_id, grp),
       |best AS (
       |  SELECT ph.doc_id, ph.phrase, ph.plen, ps.score,
       |    ROW_NUMBER() OVER (PARTITION BY ph.doc_id
       |      ORDER BY ps.score DESC, ph.phrase) AS rn
       |  FROM ph JOIN ps USING (doc_id, grp))
       |SELECT d.doc_id, b.phrase AS keyword,
       |  b.plen AS phrase_len, ROUND(b.score, 6) AS score
       |FROM documents d
       |LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- E29
  /** HAPAX / TYPE-TOKEN profile per source — lexical-noise screening:
    * the share of a source's vocabulary occurring exactly ONCE and
    * its type-token ratio. OCR damage, mojibake, and id/hash spill
    * mint endless one-off "words" (hapax share and TTR both spike);
    * heavily templated text collapses both. The one-row-per-source
    * screen read next to E17's drift and E22's charset profile before
    * trusting a new source.
    *
    * Scale shape: one (source, term) aggregate off the row-local
    * TokenCounts kernel, then a source-keyed rollup — both map-side
    * partial; output is sources. Exact BIGINTs; two rounded IEEE
    * divisions. */
  def textHapax(spark: SparkSession, sfDir: String): DataFrame =
    textHapaxOf(Tables.documents(spark, sfDir))

  def textHapaxOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.withColumn("toks", tokens())
      .select($"source", explode(TextFunctions.tokenCounts($"toks"))
        .as(Seq("term", "tf")))
      .groupBy($"source", $"term").agg(sum($"tf").as("cnt"))
      .groupBy($"source")
      .agg(sum($"cnt").as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(when($"cnt" === 1, 1L).otherwise(0L)).as("hapax_terms"))
      .select($"source", $"n_tokens", $"n_terms", $"hapax_terms",
        round($"hapax_terms".cast("double") / $"n_terms", 6)
          .as("hapax_frac"),
        round($"n_terms".cast("double") / $"n_tokens", 6).as("ttr"))
      .orderBy($"source")
  }

  val textHapaxSql: String =
    """WITH tf AS (
      |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |c AS (SELECT source, term, COUNT(*) AS cnt FROM tf GROUP BY source, term)
      |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_terms,
      |  CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_terms,
      |  ROUND(CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS hapax_frac,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT), 6) AS ttr
      |FROM c GROUP BY source
      |ORDER BY source""".stripMargin

  val textScriptProfileSql: String =
    """WITH m AS (
      |  SELECT source, CAST(length(text) AS BIGINT) AS nc,
      |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS na,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS nd,
      |    CAST(length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS BIGINT) AS ns
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs, CAST(SUM(nc) AS BIGINT) AS n_chars,
      |  ROUND(CAST(SUM(na) AS DOUBLE) / CAST(SUM(nc) AS BIGINT), 6) AS alpha_frac,
      |  ROUND(CAST(SUM(nd) AS DOUBLE) / CAST(SUM(nc) AS BIGINT), 6) AS digit_frac,
      |  ROUND(CAST(SUM(ns) AS DOUBLE) / CAST(SUM(nc) AS BIGINT), 6) AS space_frac,
      |  ROUND(CAST(SUM(nc) - SUM(na) - SUM(nd) - SUM(ns) AS DOUBLE) / CAST(SUM(nc) AS BIGINT), 6) AS other_frac
      |FROM m GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- E30
  /** N-GRAM DIVERSITY per document — the distinct-n family (the
    * text-generation "distinct-1/2/3" metric run as a corpus filter):
    * unique n-grams over total n-grams for n = 1, 2, 3. LOW diversity
    * is the degenerate-repetition signal (a model decoding loop, a
    * keyword-stuffed page — complements C51, which weighs the heaviest
    * single offender; this measures how little variety there is
    * overall), and a near-1.0 distinct-2 on a long doc is the opposite
    * smell: machine-generated word salad with no reused phrasing.
    * E29's `ttr` is the corpus-level distinct-1 per source; this is the
    * per-document gate row.
    *
    * Shape: map-only — every ratio computes ROW-LOCALLY from the token
    * array (array_distinct over grams built by one slice/concat
    * transform; no explode, no exchange beyond the presentation sort).
    * At 100 TB this is a pure scan-transform pass with the E1/E2 cost
    * model. Ratios round at 6; docs with fewer than n tokens have no
    * n-grams — NULL ratio (stated, the C51 vacuous-pass convention). */
  def textNgramDiversity(spark: SparkSession, sfDir: String): DataFrame =
    textNgramDiversityOf(Tables.documents(spark, sfDir))

  def textNgramDiversityOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def gramArr(n: Int): String =
      if (n == 1) "toks"
      else s"""IF(size(toks) >= $n,
              |  transform(sequence(1, size(toks) - ${n - 1}),
              |    i -> concat_ws(' ', slice(toks, i, $n))),
              |  array())""".stripMargin
    def distinctFrac(n: Int): Column = {
      val g = gramArr(n)
      round(expr(s"size(array_distinct($g))").cast("double") /
        nullif(expr(s"size($g)").cast("double"), lit(0.0)), 6)
    }
    docs.withColumn("toks", tokens())
      .select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        distinctFrac(1).as("distinct1"),
        distinctFrac(2).as("distinct2"),
        distinctFrac(3).as("distinct3"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- E31
  /** TOKENIZER FERTILITY per source — the tokenizer-efficiency report
    * every multilingual/multi-domain training effort reads before
    * fixing a vocabulary (fertility = subword pieces per word; it IS
    * the compute-and-context-budget exchange rate, and a source whose
    * fertility runs 2× the corpus mean pays 2× context per word —
    * the standard evidence for vocab rebalancing): per source, doc
    * count, word tokens, BPE pieces under the LEARNED vocab (E27's
    * join — pieces = Σ tf·|syms|, OOV terms fall back to character
    * pieces so high-OOV sources read HIGH, not missing), fertility,
    * and chars-per-piece (the compression view of the same number).
    *
    * Shape: E27's one corpus scan + one vocab join, then ONE tiny
    * (source) rollup — nothing beyond E27's cost. Rows-only: the merge
    * list is the train loop's output (E26's reason); the spec pins
    * hand-computed fertilities on a hand vocab. */
  def tokenizerFertility(spark: SparkSession, sfDir: String,
      nMerges: Int = 30): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    tokenizerFertilityOf(docs,
      bpeApply(spark, sfDir, nMerges), docs.sparkSession)
  }

  /** E31 over an arbitrary per-doc piece frame (doc_id, word_tokens,
    * bpe_pieces — E27's schema): the spec entry. */
  def tokenizerFertilityOf(docs: DataFrame, perDoc: DataFrame,
      spark: SparkSession): DataFrame = {
    import spark.implicits._
    docs.select($"doc_id", $"source",
        expr("aggregate(regexp_extract_all(lower(text), '[a-z0-9]+', 0), " +
          "0L, (a, x) -> a + length(x))").as("tok_chars"))
      .join(perDoc.select($"doc_id", $"word_tokens", $"bpe_pieces"),
        Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"word_tokens").as("word_tokens"),
        sum($"bpe_pieces").as("bpe_pieces"),
        sum($"tok_chars").as("tok_chars"))
      .select($"source", $"n_docs", $"word_tokens", $"bpe_pieces",
        round($"bpe_pieces".cast("double") /
          nullif($"word_tokens", lit(0L)), 6).as("fertility"),
        round($"tok_chars".cast("double") /
          nullif($"bpe_pieces", lit(0L)), 6).as("chars_per_piece"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- E32
  /** UNIGRAM-LM TOKENIZER TRAIN — the OTHER published subword family
    * (Kudo 2018, the SentencePiece `--model_type=unigram` default;
    * E26 is the BPE half): a probabilistic piece inventory fitted by
    * EM and pruned to a vocabulary budget, instead of a greedy merge
    * list. This implementation states its two standard
    * simplifications plainly: the E-step is VITERBI (hard-EM — each
    * word contributes counts along its single best segmentation, the
    * common production shortcut, deterministic by the longest-piece
    * tie-break), and pruning drops the lowest-probability multi-char
    * pieces per round (count-based, not the paper's exact
    * loss-delta), floored at the single-character alphabet so every
    * string stays segmentable.
    *
    * Scale shape — the part that matters at 100 TB: the corpus is
    * scanned ONCE into the distinct (term, tf) vocabulary frame
    * (E26's discipline, pinned); every EM round runs the per-term DP
    * over that frame with the piece table BROADCAST (≤ seedSize
    * entries — driver-bounded by construction), and collects ≤
    * seedSize piece counts. No round touches the corpus; cost is
    * rounds × distinct-terms × O(|term|·maxPieceLen).
    *
    * Iterative + closure-driven ⇒ rows-only (E26's reason); the spec
    * pins EM's defining behavior on a planted corpus — a productive
    * multi-char piece wins probability mass and the Viterbi apply
    * uses it — plus alphabet retention under pruning. Results cache
    * per corpus version (tokenizers are build artifacts). */
  def unigramTrain(spark: SparkSession, sfDir: String,
      vocabSize: Int = 512, maxPieceLen: Int = 6, seedSize: Int = 4096,
      emRounds: Int = 4): DataFrame = {
    import spark.implicits._
    cachedUnigram(spark, sfDir, vocabSize, maxPieceLen, seedSize, emRounds)
      .toSeq.sortBy { case (p, lp) => (-lp, p) }.zipWithIndex
      .map { case ((p, lp), i) =>
        (i + 1, p, math.rint(lp * 1e6) / 1e6) }
      .toDF("rank", "piece", "logp")
      .orderBy($"rank")
  }

  private val unigramCache =
    new StampedCache[(Int, Int, Int, Int), Map[String, Double]]

  private def cachedUnigram(spark: SparkSession, sfDir: String,
      vocabSize: Int, maxPieceLen: Int, seedSize: Int,
      emRounds: Int): Map[String, Double] =
    unigramCache(sfDir, Tables.pathStamp(spark, s"$sfDir/documents.parquet"),
        (vocabSize, maxPieceLen, seedSize, emRounds))(
      unigramLearnOf(Tables.documents(spark, sfDir), vocabSize,
        maxPieceLen, seedSize, emRounds))

  /** Viterbi segmentation under a piece log-prob table: best(i) =
    * max over pieces ending at i. Ties break to the LONGEST last
    * piece (start scanned ascending, strict improvement required) —
    * deterministic for a fixed table. Single-char coverage makes a
    * full parse always exist when the alphabet is in the table. */
  private[graft] def unigramSegment(term: String,
      logp: Map[String, Double], maxPieceLen: Int): Seq[String] = {
    val n = term.length
    if (n == 0) return Nil
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var end = 1
    while (end <= n) {
      var start = math.max(0, end - maxPieceLen)
      while (start < end) {
        if (best(start) != Double.NegativeInfinity) {
          logp.get(term.substring(start, end)).foreach { lp =>
            val cand = best(start) + lp
            if (cand > best(end)) { best(end) = cand; back(end) = start }
          }
        }
        start += 1
      }
      end += 1
    }
    if (best(n) == Double.NegativeInfinity)
      // alphabet hole (chars outside the trained table): char fallback,
      // the E27 OOV convention — the term still counts, fragmented
      return term.map(_.toString)
    var at = n
    val out = List.newBuilder[String]
    val rev = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    while (at > 0) { rev += ((back(at), at)); at = back(at) }
    rev.reverseIterator.foreach { case (s, e) => out += term.substring(s, e) }
    out.result()
  }

  /** E32 core over an arbitrary docs frame: the fitted piece → logp
    * table. */
  def unigramLearnOf(docs: DataFrame, vocabSize: Int = 512,
      maxPieceLen: Int = 6, seedSize: Int = 4096,
      emRounds: Int = 4): Map[String, Double] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(vocabSize >= 2 && maxPieceLen >= 1 && emRounds >= 1 &&
      seedSize >= vocabSize,
      s"bad unigram params vocab=$vocabSize len=$maxPieceLen " +
        s"seed=$seedSize rounds=$emRounds")
    // ONE corpus scan → distinct (term, tf); every round reads this
    val terms = docs.withColumn("toks", tokens())
      .select(explode(TextFunctions.tokenCounts($"toks")).as(Seq("term", "tf")))
      .groupBy($"term").agg(sum($"tf").as("tf"))
      .as[(String, Long)]
      .localCheckpoint(true)
    // seed: every substring ≤ maxPieceLen weighted by tf; all chars
    // kept unconditionally, top seedSize multi-char by mass
    val subs = terms.toDF("term", "tf")
      .select($"tf", explode(expr(
        s"""flatten(transform(sequence(1, length(term)), i ->
           |  transform(sequence(i, least(i + $maxPieceLen - 1, length(term))),
           |    j -> substring(term, i, j - i + 1))))""".stripMargin))
        .as("piece"))
      .groupBy($"piece").agg(sum($"tf").as("c"))
      .localCheckpoint(true) // chars + multi both read it
    val chars = subs.filter(length($"piece") === 1)
      .as[(String, Long)].collect()
    val multi = graft.plans.TopK.perKey(
        subs.filter(length($"piece") > 1).withColumn("__k", lit(1)),
        Seq("__k"), Seq($"c".desc, $"piece".asc), seedSize)
      .select($"piece", $"c").as[(String, Long)].collect()
    def normalize(counts: Seq[(String, Long)]): Map[String, Double] = {
      // add-1 over the piece table so a zero-count survivor keeps a
      // finite logp; total in BigInt (corpus-scale masses)
      val total = counts.map(c => BigInt(c._2)).sum + counts.length
      counts.map { case (p, c) =>
        p -> math.log((c + 1).toDouble / total.toDouble) }.toMap
    }
    var logp = normalize((chars ++ multi).toSeq)
    var round = 0
    while (round < emRounds) {
      val bc = spark.sparkContext.broadcast(logp)
      val mpl = maxPieceLen
      // hard-EM E-step: piece counts along each term's best parse,
      // weighted by exact term frequency; ≤ |table| rows collect
      val counted = terms
        .flatMap { case (t, tf) =>
          unigramSegment(t, bc.value, mpl).map(p => (p, tf)) }
        .toDF("piece", "c")
        .groupBy($"piece").agg(sum($"c").as("c"))
        .as[(String, Long)].collect().toMap
      bc.destroy()
      val charSet = chars.map(_._1).toSet
      // M-step + prune: chars are unconditional; multi-char pieces
      // keep their Viterbi mass, drop to the vocab budget by
      // (mass desc, piece) — count-based pruning, stated above
      val survivors = logp.keysIterator.map { p =>
        p -> counted.getOrElse(p, 0L) }.toSeq
      val keptMulti = survivors.filterNot(s => charSet(s._1))
        .sortBy { case (p, c) => (-c, p) }
        .take(math.max(0, vocabSize - charSet.size))
        // a multi-char piece the Viterbi never uses is dead weight
        // even inside the budget
        .filter(_._2 > 0L)
      logp = normalize(survivors.filter(s => charSet(s._1)) ++ keptMulti)
      round += 1
    }
    logp
  }

  // ---------------------------------------------------------------- E32b
  /** UNIGRAM APPLY — E27's per-doc piece counting under the unigram
    * model: pieces(doc) = Σ tf(term)·|viterbi(term)|, one corpus scan
    * with the fitted table broadcast in the segmenting closure, and
    * the same output schema as E27 so every piece-denominated
    * consumer (C49 packer, C55/C56/C57 budgets, E31 fertility) plugs
    * in unchanged — swap the tokenizer, keep the pipeline. */
  def unigramApply(spark: SparkSession, sfDir: String,
      vocabSize: Int = 512, maxPieceLen: Int = 6, seedSize: Int = 4096,
      emRounds: Int = 4): DataFrame =
    unigramApplyOf(Tables.documents(spark, sfDir),
      cachedUnigram(spark, sfDir, vocabSize, maxPieceLen, seedSize,
        emRounds), maxPieceLen)

  /** E32b over arbitrary docs + a fitted table (the spec entry). */
  def unigramApplyOf(docs: DataFrame, logp: Map[String, Double],
      maxPieceLen: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(logp)
    val mpl = maxPieceLen
    // fan out below the tokenize+segment kernel (Viterbi per distinct
    // term in a typed closure — the heaviest per-row map in the E32
    // family); no-op when the scan already splits
    val perDoc = Scale.fanOutScanLight(docs).withColumn("toks", tokens())
      .select($"doc_id", explode(TextFunctions.tokenCounts($"toks"))
        .as(Seq("term", "tf")))
      .as[(Long, String, Long)]
      .map { case (id, t, tf) =>
        (id, tf, tf * unigramSegment(t, bc.value, mpl).length) }
      .toDF("doc_id", "wt", "up")
      .groupBy($"doc_id")
      .agg(sum($"wt").as("word_tokens"), sum($"up").as("unigram_pieces"))
    docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"word_tokens", lit(0L)).as("word_tokens"),
        coalesce($"unigram_pieces", lit(0L)).as("unigram_pieces"),
        round($"unigram_pieces".cast("double") / $"word_tokens", 6)
          .as("pieces_per_token"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- E33
  /** TOKENIZER BAKE-OFF — the decision artifact behind "which
    * tokenizer do we fix for this corpus": per source, fertility under
    * the learned BPE (E27) and the fitted unigram LM (E32b) side by
    * side, from the two apply frames the families already produce
    * (E31 reports ONE tokenizer's economics; choosing between
    * tokenizers needs both on one row). A lower-fertility family
    * buys proportionally more words per context window on that
    * source — the number the vocab decision actually turns on. One
    * doc-keyed join of the two cached apply frames + the doc-source
    * map, then a source-sized rollup; both apply passes are cached
    * per corpus version, so the report is join-cost only. */
  def tokenizerCompare(spark: SparkSession, sfDir: String,
      nMerges: Int = 30, vocabSize: Int = 512): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select($"doc_id", $"source")
      .join(bpeApply(spark, sfDir, nMerges)
        .select($"doc_id", $"word_tokens", $"bpe_pieces"), Seq("doc_id"))
      .join(unigramApply(spark, sfDir, vocabSize)
        .select($"doc_id", $"unigram_pieces"), Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"word_tokens").as("word_tokens"),
        sum($"bpe_pieces").as("bpe_pieces"),
        sum($"unigram_pieces").as("unigram_pieces"))
      .select($"source", $"n_docs", $"word_tokens",
        $"bpe_pieces", $"unigram_pieces",
        round($"bpe_pieces".cast("double") /
          nullif($"word_tokens", lit(0L)), 6).as("fertility_bpe"),
        round($"unigram_pieces".cast("double") /
          nullif($"word_tokens", lit(0L)), 6).as("fertility_unigram"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- E34
  /** PERSISTED TOKENIZER ARTIFACT — the r12 verdict's #2: a training
    * run tokenizes for weeks, so the vocabulary must outlive the
    * session that trained it, exactly like every other build output in
    * this repo (writeLshIndex, compactIvfIndex, writeKnnGraphIndex).
    * One staged layout serves BOTH families:
    *   - `pieces/`  — BPE: the symbolized vocabulary (term, cnt, syms)
    *                  the E27 apply join consumes; unigram: the fitted
    *                  (piece, logp) table at FULL double precision
    *                  (the display frame's 6-decimal rounding is for
    *                  humans; the artifact must reproduce the apply
    *                  bit-exactly).
    *   - `merges/`  — BPE only: the ordered merge list (provenance +
    *                  what a streaming encoder would replay).
    *   - `meta/`    — 1 row: family, corpus stamp (provenance — apply
    *                  to OTHER corpora is the artifact's whole point,
    *                  so the stamp is recorded, not enforced), params
    *                  string, and max_piece_len (the unigram apply
    *                  needs it; storing it here means apply and train
    *                  cannot disagree on the DP window).
    * Meta is written LAST (the writeKnnGraphIndex commit-point rule). */
  def writeTokenizer(spark: SparkSession, sfDir: String, tokDir: String,
      family: String = "bpe", nMerges: Int = 30, vocabSize: Int = 512,
      maxPieceLen: Int = 6, seedSize: Int = 4096,
      emRounds: Int = 4): Unit = {
    import spark.implicits._
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    val params = family match {
      case "bpe" =>
        val (merges, vocab) = cachedBpe(spark, sfDir, nMerges)
        vocab.select($"term", $"cnt", $"syms")
          .write.mode("overwrite").parquet(s"$tokDir/pieces")
        merges.zipWithIndex.map { case ((a, b, c), i) =>
          (i + 1, a, b, a + b, c) }
          .toDF("merge_rank", "left", "right", "merged", "pair_count")
          .coalesce(1).write.mode("overwrite").parquet(s"$tokDir/merges")
        s"bpe:$nMerges"
      case "unigram" =>
        cachedUnigram(spark, sfDir, vocabSize, maxPieceLen, seedSize,
            emRounds)
          .toSeq.toDF("piece", "logp")
          .coalesce(1).write.mode("overwrite").parquet(s"$tokDir/pieces")
        s"unigram:$vocabSize:$maxPieceLen:$seedSize:$emRounds"
      case other => throw new IllegalArgumentException(
        s"unknown tokenizer family '$other' (bpe | unigram)")
    }
    Seq((family, stamp, params, maxPieceLen))
      .toDF("family", "corpus_stamp", "params", "max_piece_len")
      .coalesce(1).write.mode("overwrite").parquet(s"$tokDir/meta")
  }

  /** Validated meta of a staged tokenizer — fails BY NAME on a family
    * mismatch (feeding a unigram table through the BPE join would
    * silently mis-count every doc). Returns (params, maxPieceLen). */
  private def tokenizerMeta(spark: SparkSession, tokDir: String,
      expectFamily: String): (String, Int) = {
    val (fam, params, maxPieceLen) = tokenizerMetaRow(spark, tokDir)
    require(fam == expectFamily,
      s"tokenizer artifact at $tokDir is family '$fam', " +
        s"expected '$expectFamily' — wrong artifact for this apply path")
    (params, maxPieceLen)
  }

  /** Raw staged-tokenizer meta (family, params, maxPieceLen — the
    * corpus_stamp column is provenance only and stays unread), one
    * driver job per (dir, meta stamp) per JVM instead of one per apply
    * — the Dedup.indexMeta rule (a restaged artifact gets a fresh
    * stamp and a re-read). */
  private val tokMetaCache = new StampedCache[Unit, (String, String, Int)]
  private def tokenizerMetaRow(spark: SparkSession,
      tokDir: String): (String, String, Int) =
    tokMetaCache(tokDir, graft.Tables.pathStamp(spark, s"$tokDir/meta"), ()) {
      val m = spark.read.parquet(s"$tokDir/meta").head()
      (m.getString(0), m.getString(2), m.getInt(3))
    }

  /** E27's apply fed from a staged artifact instead of the session
    * cache — the cross-session consumer: any corpus, any session,
    * the vocab trained wherever the artifact says. Bit-exact with
    * [[bpeApplyOf]] over the in-session vocab (round-trip spec). */
  def bpeApplyFrom(spark: SparkSession, tokDir: String,
      docs: DataFrame): DataFrame = {
    tokenizerMeta(spark, tokDir, "bpe")
    bpeApplyOf(docs, graft.Tables.readParquet(spark, s"$tokDir/pieces"))
  }

  /** E32b's apply fed from a staged artifact; maxPieceLen comes from
    * the artifact's own meta so apply cannot disagree with train. */
  def unigramApplyFrom(spark: SparkSession, tokDir: String,
      docs: DataFrame): DataFrame = {
    val (_, maxPieceLen) = tokenizerMeta(spark, tokDir, "unigram")
    // vocab collect cached per (dir, pieces stamp) — the tokMetaCache
    // rule; the table is ≤ vocabSize rows but the collect is a per-
    // apply driver job otherwise
    val stamp = graft.Tables.pathStamp(spark, s"$tokDir/pieces")
    val logp = unigramVocabCache(tokDir, stamp, ())(
      spark.read.parquet(s"$tokDir/pieces")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
    unigramApplyOf(docs, logp, maxPieceLen)
  }
  private val unigramVocabCache = new StampedCache[Unit, Map[String, Double]]

  /** Served entries: the apply ROUTED THROUGH THE DISK ARTIFACT —
    * write once per corpus version (the C10 temp-dir discipline),
    * then every apply re-opens the staged tokenizer; proves in
    * product that the artifact carries everything apply needs. */
  // stale corpus versions' staged dirs are reaped at JVM exit (the
  // snapshotCache rule)
  private val tokDirCache = new StampedCache[String, String](Dedup.deleteAtExit)
  private def servedTokDir(spark: SparkSession, sfDir: String,
      key: String)(write: String => Unit): String =
    tokDirCache(sfDir, Tables.pathStamp(spark, s"$sfDir/documents.parquet"),
        key) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-tokenizer").toString
      write(dir)
      dir
    }

  def bpeApplyIndexed(spark: SparkSession, sfDir: String,
      nMerges: Int = 30): DataFrame = {
    val dir = servedTokDir(spark, sfDir, s"bpe:$nMerges")(
      writeTokenizer(spark, sfDir, _, "bpe", nMerges))
    bpeApplyFrom(spark, dir, Tables.documents(spark, sfDir))
  }

  def unigramApplyIndexed(spark: SparkSession, sfDir: String,
      vocabSize: Int = 512, maxPieceLen: Int = 6, seedSize: Int = 4096,
      emRounds: Int = 4): DataFrame = {
    val dir = servedTokDir(spark, sfDir,
      s"unigram:$vocabSize:$maxPieceLen:$seedSize:$emRounds")(
      writeTokenizer(spark, sfDir, _, "unigram", 30, vocabSize,
        maxPieceLen, seedSize, emRounds))
    unigramApplyFrom(spark, dir, Tables.documents(spark, sfDir))
  }

  // ---------------------------------------------------------------- E36
  /** TOKENIZER DRIFT MONITOR — the C60c drift-gate discipline applied
    * to the tokenizer artifact: a frozen vocabulary tokenizes whatever
    * arrives FOREVER, and when the incoming distribution drifts (new
    * domain, new language, upstream cleaning change) fertility creeps
    * — every OOV term falls back to character pieces, silently
    * inflating token budgets, packing waste, and training cost. The
    * profile records the training-time fertility envelope (per-doc
    * pieces-per-token mean/spread over the corpus the vocab was fit
    * on); the gate scores a batch with the SAME artifact apply and
    * stamps batch-level drift flags as literal columns (the C60c
    * shape: one 1-row stats action + one output projection, no state,
    * no join). Missing evidence never flags — an empty batch or
    * all-empty docs read as "nothing to compare". Family-generic: the
    * artifact's own meta routes to the BPE or unigram apply, so one
    * monitor serves both families. */
  def tokenizerApplyFrom(spark: SparkSession, tokDir: String,
      docs: DataFrame): DataFrame = {
    val fam = tokenizerMetaRow(spark, tokDir)._1
    val out = fam match {
      case "bpe" => bpeApplyFrom(spark, tokDir, docs)
      case "unigram" => unigramApplyFrom(spark, tokDir, docs)
      case other => throw new IllegalArgumentException(
        s"unknown tokenizer family '$other' in $tokDir/meta")
    }
    out.select(col("doc_id"), col("word_tokens"),
      col(out.columns(2)).as("pieces"), col("pieces_per_token"))
  }

  /** The training-time reference envelope: one row of order-free
    * aggregates over the artifact apply. */
  def tokenizerProfileOf(spark: SparkSession, tokDir: String,
      docs: DataFrame): DataFrame =
    tokenizerApplyFrom(spark, tokDir, docs)
      .agg(round(avg(col("pieces_per_token")), 6).as("ref_fertility"),
        round(coalesce(stddev_pop(col("pieces_per_token")), lit(0.0)), 6)
          .as("ref_fertility_std"),
        count(lit(1)).as("ref_n"))

  /** Driver entry: the profile of the corpus-version BPE artifact
    * over its own training corpus (rows-only — learned vocab). */
  def tokenizerProfile(spark: SparkSession, sfDir: String,
      nMerges: Int = 30): DataFrame = {
    val dir = servedTokDir(spark, sfDir, s"bpe:$nMerges")(
      writeTokenizer(spark, sfDir, _, "bpe", nMerges))
    tokenizerProfileOf(spark, dir, Tables.documents(spark, sfDir))
  }

  /** Gate a batch against the envelope: per-doc apply columns plus
    * batch-level literals (batch_fertility, fertility_drift). */
  def fertilityGate(spark: SparkSession, tokDir: String, docs: DataFrame,
      profile: DataFrame, stdTol: Double = 3.0): DataFrame = {
    val pRows = profile
      .select(col("ref_fertility"), col("ref_fertility_std")).take(1)
    require(pRows.nonEmpty,
      "tokenizer profile frame is empty — build it with " +
        "tokenizerProfileOf over the training corpus")
    gateFertility(tokenizerApplyFrom(spark, tokDir, docs), pRows.head,
      stdTol)
  }

  private def gateFertility(applied: DataFrame,
      p: org.apache.spark.sql.Row, stdTol: Double): DataFrame = {
    require(stdTol >= 0, s"stdTol $stdTol must be >= 0")
    def d(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val s = applied.agg(count(col("pieces_per_token")),
      avg(col("pieces_per_token"))).head()
    val batchMean = if (s.getLong(0) > 0) d(s, 1) else None
    val drift = (for (bm <- batchMean; rm <- d(p, 0); rs <- d(p, 1))
      yield math.abs(bm - rm) > stdTol * math.max(rs, 1e-9))
      .getOrElse(false)
    applied.select(col("doc_id"), col("word_tokens"), col("pieces"),
      col("pieces_per_token"),
      round(lit(batchMean.getOrElse(0.0)), 6).as("batch_fertility"),
      lit(drift).as("fertility_drift"))
  }

  /** E36's live twin: the gate per micro-batch (the C60c stream
    * shape) — each trigger applies ONCE into a checkpoint read by
    * both the stats action and the sink, released in a finally once
    * the sink returns (`sink` must materialize synchronously — the
    * repo's foreachBatch contract). */
  def fertilityGateStream(stream: DataFrame, tokDir: String,
      profile: DataFrame, stdTol: Double = 3.0)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = stream.sparkSession
    val pRows = profile
      .select(col("ref_fertility"), col("ref_fertility_std")).take(1)
    require(pRows.nonEmpty,
      "tokenizer profile frame is empty — build it with " +
        "tokenizerProfileOf over the training corpus")
    val pRow = pRows.head
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val applied = tokenizerApplyFrom(spark, tokDir, batch)
        .localCheckpoint(true)
      try sink(gateFertility(applied, pRow, stdTol), batchId)
      finally graft.Tables.unpinCheckpoint(applied)
    }
  }

  val textNgramDiversitySql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, toks,
      |    list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i+1]) AS g2,
      |    list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
      |  FROM t)
      |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |  ROUND(CAST(len(list_distinct(toks)) AS DOUBLE)
      |    / nullif(len(toks), 0), 6) AS distinct1,
      |  ROUND(CAST(len(list_distinct(g2)) AS DOUBLE)
      |    / nullif(len(g2), 0), 6) AS distinct2,
      |  ROUND(CAST(len(list_distinct(g3)) AS DOUBLE)
      |    / nullif(len(g3), 0), 6) AS distinct3
      |FROM g ORDER BY doc_id""".stripMargin
}
