package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated star schema +
  * telemetry/document/embedding tables (see TESTDATA.md).
  *
  * All loads are plain `spark.read.parquet` so Catalyst keeps full
  * freedom for column pruning and predicate pushdown — callers
  * select/filter and the scan narrows (verify via
  * `.explain("formatted")`: `ReadSchema` / `PushedFilters`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Row count of a parquet path, computed once per (path, mtime) per
    * JVM and cached. A filterless parquet `count()` is answered from
    * row-group metadata (no column data is decoded), so the first call
    * is a tiny job and subsequent guard checks — e.g. the brute-force
    * ANN pair ceiling, IVF cell scaling — are free driver-side lookups
    * instead of repeated jobs on every query invocation. Keyed on the
    * path's mtime (like the IVF quantizer cache) so a corpus
    * regenerated inside one JVM re-counts instead of serving a stale
    * size to the guards; superseded entries are evicted. */
  private val countCache = new StampedCache[Unit, Long]
  def cachedCount(s: SparkSession, path: String): Long =
    countCache(path, pathStamp(s, path), ())(s.read.parquet(path).count())

  /** Modification stamp of a data path through the Hadoop FileSystem
    * API — java.io.File.lastModified() is silently 0 for every
    * non-local scheme (hdfs://, s3a://), which would collapse all
    * versions of a remote path onto one cache key. For a directory the
    * stamp folds in the direct children's mtimes: object stores report
    * synthetic (often zero) directory mtimes, and HDFS directory mtime
    * doesn't change on file REwrite — the children are where truth
    * lives. Child COUNT and total LENGTH are folded in too: mtime
    * granularity is one second on many filesystems, so a rebuild
    * landing in the same tick at the same path would otherwise yield
    * an identical stamp and serve stale cached params/pins (a
    * same-tick rewrite with identical file count AND bytes remains an
    * accepted residual risk). The mix is order-independent — the three
    * summaries don't depend on listStatus order. One `listStatus` per
    * driver-side guard call is noise. */
  def pathStamp(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    try {
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      if (st.isDirectory) {
        val cs = fs.listStatus(p)
        val maxM = cs.foldLeft(st.getModificationTime)(
          (acc, c) => math.max(acc, c.getModificationTime))
        val bytes = cs.foldLeft(0L)((acc, c) => acc + c.getLen)
        mixStamp(mixStamp(maxM, cs.length.toLong), bytes)
      } else mixStamp(st.getModificationTime, st.getLen)
    } catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Nonlinear combine (the boost::hash_combine shape): a LINEAR mix
    * like `m*P + n*31 + bytes` aliases structured rewrites (one file
    * more, 31 bytes fewer → same stamp) — exactly the same-tick class
    * the fold exists to separate. */
  private def mixStamp(a: Long, b: Long): Long =
    a ^ (b + 0x9e3779b97f4a7c15L + (a << 6) + (a >>> 2))

  /** Release the storage blocks behind an eagerly `localCheckpoint`'ed
    * DataFrame. Checkpoint blocks otherwise live until the RDD is
    * garbage-collected — a cache that replaces a pinned frame (corpus
    * regenerated in-JVM, superseded pipeline stage) must free the old
    * blocks explicitly or executor storage grows by one corpus copy per
    * version. The checkpointed RDD sits in the plan's LogicalRDD leaf.
    *
    * Deliberate trade: a DataFrame handed out BEFORE the eviction that
    * still references the unpinned blocks will fail on its next action
    * (truncated lineage cannot recompute). Eviction only fires when the
    * underlying corpus was REPLACED on disk, so such a stale handle was
    * already doomed to read inconsistent data — failing loudly beats
    * both silent staleness and unbounded storage growth. */
  def unpinCheckpoint(df: DataFrame): Unit =
    checkpointRdds(df).foreach(_.unpersist(blocking = false))

  /** The checkpointed RDDs behind a plan — its LogicalRDD leaves.
    * Shared by [[unpinCheckpoint]] and trackers that must hold the RDD
    * itself (weakly) rather than the Dataset wrapper. */
  def checkpointRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Canonical identity of a data path: qualified through the Hadoop
    * FileSystem (scheme + authority + working-dir resolution), and for
    * the local scheme additionally java.io-canonicalized (symlinks,
    * `..` segments). Guards that compare paths for identity — e.g.
    * "compaction must not write over its own source" — need this;
    * a raw string compare waves through two spellings of one
    * directory. */
  def canonicalPath(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val q = fs.makeQualified(p)
    if (q.toUri.getScheme == "file")
      new java.io.File(q.toUri.getPath).getCanonicalPath
    else q.toString
  }

  /** Parquet schema per (path, stamp), inferred once per JVM per path
    * version. Every `spark.read.parquet(path)` call pays a driver-side
    * schema inference — a file listing plus a footer read — BEFORE any
    * job runs; a suite that constructs hundreds of frames per session
    * (and a bench that re-constructs each one per timed run) pays it
    * over and over for byte-identical files. The cache stores exactly
    * what inference returned for this path version and replays it via
    * `.schema(...)`, which skips the inference path entirely; keyed on
    * [[pathStamp]] so a rewritten corpus or index re-infers (the
    * countCache/metaCache rule). Same frame, same schema, same plan —
    * only the redundant footer/listing work is gone. */
  private val schemaCache =
    new StampedCache[Unit, org.apache.spark.sql.types.StructType]
  def readParquet(s: SparkSession, path: String): DataFrame = {
    val schema = schemaCache(path, pathStamp(s, path), ())(
      s.read.parquet(path).schema)
    s.read.schema(schema).parquet(path)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readParquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` normalization: the generated file has carried either
    * parquet TIMESTAMP(NANOS) — which Spark's vectorized reader
    * rejects ([PARQUET_TYPE_ILLEGAL]) — or TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which Spark reads natively as
    * TIMESTAMP_NTZ. Both land on session-zone TimestampType
    * (micros): nanos are read as raw longs and truncated to µs
    * (exactly what DuckDB does loading the same file), NTZ is cast
    * (identity on the instant under the UTC session zone SURVEY.md §4
    * mandates) — so every downstream comparison stays bit-identical
    * whichever vintage of the file is on disk.
    */
  def events(s: SparkSession, d: String): DataFrame =
    eventsAt(s, s"$d/events.parquet")

  /** Same normalization for an arbitrary events-parquet path (used by
    * the streaming replay source as well as [[events]]). */
  def eventsAt(s: SparkSession, path: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readParquet(s, path)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Every table this library knows, by its SQL name. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register the full schema as temp views so `spark.sql` works
    * directly against the corpus — combined with the GraftExtensions
    * function registrations this is the library's SQL-first surface
    * (a user who writes SQL, not Scala, gets every table AND every
    * native kernel — cosine_sim, simhash64, bloom probes — in one
    * call). Views are lazy: registration costs no jobs, and each
    * view's scan carries the loader's schema checks + timestamp
    * normalization exactly like the DataFrame entry points. */
  def registerAll(s: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(s, sfDir) else load(s, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
