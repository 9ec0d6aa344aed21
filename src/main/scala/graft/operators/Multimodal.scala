package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{StampedCache, Tables}

/** One sampled frame emitted by the frame-sampling pipeline. */
case class SampledFrame(
    media_id: Long,
    frame_idx: Int,
    byte_offset: Long,
    frame_bytes: Int,
    frame_hash: Long)

/** One per-frame feature vector from the feature-extraction pipeline. */
case class FrameFeature(
    media_id: Long,
    frame_idx: Int,
    feature: Array[Float])

/** One detected shot boundary (streaming twin's output row — the batch
  * operator emits the same four columns). */
case class SceneCut(media_id: Long, frame_idx: Int, prev_idx: Int,
    hamming: Int)

/** Per-media streaming state: the last seen frame — the batch lag
  * window's two longs, carried across micro-batches. */
case class FrameState(lastIdx: Int, lastHash: Long)

/** One fragment arrival on a media stream (F26b's input row). */
case class FragmentEvent(media_id: Long, frag: Long)

/** F26d's input row: a fragment arrival with its event time — the
  * watermark-buffered variant needs a clock to bound the disorder. */
case class TimedFragmentEvent(media_id: Long, ts: java.sql.Timestamp,
    frag: Long)

/** F26d per-stream state: the highest FOLDED fragment plus the
  * not-yet-folded buffer (fragment, event-time ms) — bounded by the
  * watermark horizon, not the stream length. */
case class FragmentBufferState(lastFolded: Long,
    buffered: List[(Long, Long)])

/** One detected fragment-sequence gap — the F26 batch operator emits
  * the same four columns. */
case class FragmentGap(media_id: Long, gap_start_frag: Long,
    gap_end_frag: Long, n_missing: Long)

/** Multimodal column handling (SURVEY.md §2.F): media payloads travel
  * as opaque `binary` columns beside typed metadata; decode/
  * feature-extraction runs per-partition against a pluggable decoder.
  *
  * The decode step is STUBBED (this container ships no media codecs):
  * [[Multimodal.StubDecoder]] treats the payload as fixed-size chunks.
  * Everything around it — schema, partitioning, per-partition batch
  * shape, sampling, output schema — is the real production plumbing; a
  * real H.264/VP9 decoder drops in by implementing [[FrameDecoder]].
  *
  * Scale: payloads never shuffle (decode is a map-only pass over the
  * scan); metadata-only queries never touch the binary column thanks to
  * parquet column pruning.
  */
object Multimodal {

  // ---------------------------------------------------------------- F1
  /** Typed-metadata manifest over binary media payloads. The payload is
    * materialized (text → utf-8 bytes stands in for a video blob) and
    * immediately pruned away for metadata-only consumers — the query
    * output is pure arithmetic, so it oracle-checks in DuckDB. */
  def mmManifest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id".as("media_id"), $"text".cast("binary").as("payload"),
        $"n_chars", $"source")
      .select(
        $"media_id",
        length($"payload").cast("long").as("size_bytes"),
        element_at(array(lit("h264"), lit("vp9"), lit("av1")),
          ($"media_id" % 3).cast("int") + 1).as("codec"),
        (lit(320) + ($"media_id" % 4) * 160).cast("int").as("width"),
        (lit(240) + ($"media_id" % 4) * 120).cast("int").as("height"),
        round($"n_chars".cast("double") / 32.0, 2).as("duration_s"),
        $"source")
      .orderBy($"media_id")
  }

  val mmManifestSql: String =
    """SELECT doc_id AS media_id,
      |  octet_length(encode(text)) AS size_bytes,
      |  CASE doc_id % 3 WHEN 0 THEN 'h264' WHEN 1 THEN 'vp9' ELSE 'av1' END AS codec,
      |  CAST(320 + (doc_id % 4) * 160 AS INT) AS width,
      |  CAST(240 + (doc_id % 4) * 120 AS INT) AS height,
      |  ROUND(CAST(n_chars AS DOUBLE) / 32.0, 2) AS duration_s,
      |  source
      |FROM documents ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- F3
  /** Fleet-level media stats per (codec, source): the metadata-only
    * rollup a curation pipeline runs before deciding what to decode.
    * Composes on the F1 manifest; one map-side-partial agg shuffle on
    * the tiny (codec, source) key space. */
  def mmCodecStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mmManifest(spark, sfDir)
      .groupBy($"codec", $"source")
      .agg(
        count(lit(1)).as("n_media"),
        sum($"size_bytes").as("total_bytes"),
        (sum($"duration_s".cast("decimal(18,4)")).cast("double") / count(lit(1)))
          .as("avg_duration_s"))
      .orderBy($"codec", $"source")
  }

  val mmCodecStatsSql: String =
    s"""WITH manifest AS (${mmManifestSql.replace("ORDER BY media_id", "")})
       |SELECT codec, source, COUNT(*) AS n_media,
       |  CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
       |  CAST(SUM(CAST(duration_s AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_duration_s
       |FROM manifest GROUP BY codec, source
       |ORDER BY codec, source""".stripMargin

  // ---------------------------------------------------------------- F2
  /** Decoder contract: payload bytes → iterator of frames. Real codec
    * integrations implement this; it runs inside mapPartitions so one
    * instance serves a whole partition (amortized init — the batch
    * shape a JNI/FFI decoder needs). */
  trait FrameDecoder extends Serializable {
    def decode(payload: Array[Byte]): Iterator[Array[Byte]]
  }

  /** STUB decoder — deterministic fake standing in for a real codec:
    * "frames" are fixed `frameSize`-byte chunks of the payload. */
  final class StubDecoder(frameSize: Int) extends FrameDecoder {
    override def decode(payload: Array[Byte]): Iterator[Array[Byte]] =
      payload.grouped(frameSize)
  }

  /** FNV-1a over raw bytes — the ONE frame-content hash shared by the
    * sampling and feature pipelines, so "identical frames collide"
    * holds across both (a drifted copy of the constants would silently
    * break that property). */
  private[operators] def fnv1a(bytes: Array[Byte]): Long = {
    // 0xcbf29ce484222325 — the FNV-1a offset basis. Round 6 shipped the
    // decimal constant with its last digit dropped (1469598103934665603,
    // ≈ basis/10): still deterministic, but not FNV-1a as documented.
    // Caught by the round-7 oracle replay, which is the point of
    // oracling hashes: a silently-wrong constant cannot hide behind
    // "rows-only". Hex literal so the typo class cannot recur.
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xff)) * 1099511628211L; i += 1
    }
    h
  }

  /** Frame sampling: decode each payload, keep every `stride`-th frame,
    * emit (media_id, frame_idx, byte_offset, frame_bytes, frame_hash).
    * Map-only (no shuffle); decoder instantiated once per partition. */
  def frameSample(media: Dataset[(Long, Array[Byte])],
      frameSize: Int = 64, stride: Int = 4): Dataset[SampledFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val decoder = new StubDecoder(frameSize)
      rows.flatMap { case (id, payload) =>
        decoder.decode(payload).zipWithIndex.collect {
          case (frame, idx) if idx % stride == 0 =>
            SampledFrame(id, idx, idx.toLong * frameSize, frame.length,
              fnv1a(frame))
        }
      }
    }
  }

  /** Driver-facing query: sample frames from the documents-as-media
    * payloads. Oracle-checked since round 7: the stub decode's frame
    * boundaries are pure arithmetic over (doc length, frameSize,
    * stride), the payload is the text's UTF-8 bytes (pure ASCII in
    * this corpus, so DuckDB's per-character `ord` IS the byte), and
    * the FNV-1a frame hash is an xor + mod-2⁶⁴ multiply fold — every
    * op portable under §4's HUGEINT discipline. */
  def mmFrameSample(spark: SparkSession, sfDir: String): DataFrame =
    mmFrames(spark, sfDir).orderBy(col("media_id"), col("frame_idx"))

  /** The frame pipeline WITHOUT the presentation sort — what every
    * downstream consumer (F6/F8/F10) must build on: the dump-facing
    * orderBy above plans as a rangepartitioning exchange + global
    * sort, which a consumer's own per-media hash exchange then throws
    * away — a full wasted corpus shuffle at scale (found as a stray
    * range exchange in the F10 plan). */
  def mmFrames(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text".cast("binary"))
      .as[(Long, Array[Byte])]
    frameSample(media).toDF()
  }

  /** DuckDB replay of the stub decode + sampling + FNV-1a hash: frames
    * are 64-char chunks (chars == bytes: ASCII corpus), every 4th kept,
    * the hash folds xor-then-×1099511628211 per byte with the HUGEINT
    * unsigned↔signed dance around the wrapping multiply. */
  val mmFrameSampleSql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents),
      |f AS (
      |  SELECT doc_id, text, n,
      |    unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS idx
      |  FROM d WHERE n > 0),
      |s AS (
      |  SELECT doc_id AS media_id, CAST(idx AS INT) AS frame_idx,
      |    idx * 64 AS byte_offset,
      |    CAST(least(64, n - idx * 64) AS INT) AS frame_bytes,
      |    list_reduce(list_prepend(-3750763034362895579::BIGINT,
      |      list_transform(string_split(substring(text, CAST(idx * 64 + 1 AS INT), 64), ''), c -> ord(c))),
      |      (h, c) -> CAST(CASE WHEN
      |          ((CASE WHEN xor(h, c) < 0 THEN xor(h, c)::HUGEINT + 18446744073709551616
      |            ELSE xor(h, c)::HUGEINT END) * 1099511628211) % 18446744073709551616
      |          >= 9223372036854775808
      |        THEN ((CASE WHEN xor(h, c) < 0 THEN xor(h, c)::HUGEINT + 18446744073709551616
      |            ELSE xor(h, c)::HUGEINT END) * 1099511628211) % 18446744073709551616
      |          - 18446744073709551616
      |        ELSE ((CASE WHEN xor(h, c) < 0 THEN xor(h, c)::HUGEINT + 18446744073709551616
      |            ELSE xor(h, c)::HUGEINT END) * 1099511628211) % 18446744073709551616
      |        END AS BIGINT)) AS frame_hash
      |  FROM f WHERE idx % 4 = 0)
      |SELECT * FROM s ORDER BY media_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- F6
  /** Scene-cut detection over the sampled frame stream: per media, a
    * cut is a consecutive-frame pair whose content hashes differ in
    * ≥ `threshold` of 64 bits — with a real perceptual hash plugged
    * into the F2 decoder seam this is the standard shot-boundary
    * query; with the stub it is the same pipeline over the
    * deterministic chunk hashes, which is exactly what makes it
    * ORACLE-checkable (DuckDB replays the FNV frames, then the
    * identical lag/xor/bit_count tree). Shape: frames are map-only
    * (F2), then ONE exchange on media_id for the lag window — the
    * window state is two longs per row, and the per-media partition
    * is bounded by frames-per-video, not corpus size. */
  def sceneCuts(frames: DataFrame, threshold: Int = 20): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    require(threshold >= 1 && threshold <= 64,
      s"threshold $threshold out of [1, 64]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"media_id").orderBy($"frame_idx")
    frames
      .withColumn("prev_idx", lag($"frame_idx", 1).over(w))
      .withColumn("prev_hash", lag($"frame_hash", 1).over(w))
      .filter($"prev_hash".isNotNull)
      .withColumn("hamming",
        expr("CAST(bit_count(frame_hash ^ prev_hash) AS INT)"))
      .filter($"hamming" >= threshold)
      .select($"media_id", $"frame_idx", $"prev_idx".cast("int").as("prev_idx"),
        $"hamming")
      .orderBy($"media_id", $"frame_idx")
  }

  def mmSceneCuts(spark: SparkSession, sfDir: String): DataFrame =
    sceneCuts(mmFrames(spark, sfDir))

  /** The frame replay (mmFrameSampleSql) wrapped as a subquery, then
    * the identical lag / xor / bit_count tree. */
  val mmSceneCutsSql: String =
    s"""WITH hh AS (
       |  SELECT media_id, frame_idx, frame_hash,
       |    lag(frame_idx) OVER w AS prev_idx,
       |    lag(frame_hash) OVER w AS prev_hash
       |  FROM ($mmFrameSampleSql) base
       |  WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx))
       |SELECT media_id, frame_idx, CAST(prev_idx AS INT) AS prev_idx,
       |  CAST(bit_count(xor(frame_hash, prev_hash)) AS INT) AS hamming
       |FROM hh
       |WHERE prev_hash IS NOT NULL
       |  AND bit_count(xor(frame_hash, prev_hash)) >= 20
       |ORDER BY media_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- F13
  /** MOTION PROFILE per media — the "how dynamic is this video" row a
    * video-curation pass mixes on (static slideshows and talking heads
    * train differently from action footage; mean inter-frame distance
    * is the standard cheap proxy): per media, the consecutive-frame
    * Hamming-distance series of F6's lag stage rolled into
    * n_frames / n_transitions / mean / max Hamming and the cut count
    * at the F6 threshold. Same ONE media_id exchange as F6 (the lag
    * window), then a fleet-of-media-sized aggregate. Mean is an exact
    * integer ratio rounded at 6 — hash-stable. */
  def mmMotionProfile(spark: SparkSession, sfDir: String,
      cutThreshold: Int = 20): DataFrame = {
    import spark.implicits._
    require(cutThreshold >= 1 && cutThreshold <= 64)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"media_id").orderBy($"frame_idx")
    mmFrames(spark, sfDir)
      .withColumn("prev_hash", lag($"frame_hash", 1).over(w))
      .withColumn("hamming", when($"prev_hash".isNotNull,
        expr("CAST(bit_count(frame_hash ^ prev_hash) AS INT)")))
      .groupBy($"media_id")
      .agg(count(lit(1)).as("n_frames"),
        count($"hamming").as("n_transitions"),
        round(sum($"hamming").cast("double") /
          nullif(count($"hamming"), lit(0L)), 6).as("mean_hamming"),
        max($"hamming").as("max_hamming"),
        sum(when($"hamming" >= cutThreshold, 1L).otherwise(0L))
          .as("n_cuts"))
      .orderBy($"media_id")
  }

  /** The frame replay wrapped, then the identical lag/xor/bit_count
    * tree rolled per media. */
  val mmMotionProfileSql: String =
    s"""WITH hh AS (
       |  SELECT media_id, frame_idx, frame_hash,
       |    lag(frame_hash) OVER w AS prev_hash
       |  FROM ($mmFrameSampleSql) base
       |  WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)),
       |h2 AS (
       |  SELECT media_id,
       |    CASE WHEN prev_hash IS NOT NULL
       |      THEN CAST(bit_count(xor(frame_hash, prev_hash)) AS INT)
       |    END AS hamming
       |  FROM hh)
       |SELECT media_id, COUNT(*) AS n_frames,
       |  COUNT(hamming) AS n_transitions,
       |  ROUND(CAST(SUM(hamming) AS DOUBLE)
       |    / nullif(COUNT(hamming), 0), 6) AS mean_hamming,
       |  MAX(hamming) AS max_hamming,
       |  CAST(SUM(CASE WHEN hamming >= 20 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_cuts
       |FROM h2 GROUP BY media_id ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- F25
  /** A/V SYNC ESTIMATION — the cross-MODALITY composition the family
    * had not made (F13 profiles motion, F9 profiles loudness; nothing
    * asked whether they line up): per media, the lag that maximizes
    * Pearson correlation between the motion series (hamming between
    * consecutive kept frames, F13's kernel) and the audio-energy
    * series (F9's integer window energy), over lags in [-maxLag,
    * maxLag] — the classic sync-drift estimate a video-ingest gate
    * runs before trusting clip boundaries (a best lag ≠ 0 means the
    * container's audio track is offset from its frames). Alignment is
    * exact by construction: kept frame 4t starts at byte 32·t (8-byte
    * frames, stride 4 — the F2 seam at the granularity this corpus's
    * short payloads support), the 32-byte audio window t starts there
    * too, so motion step t pairs with energy window t at lag 0.
    *
    * Scale: both series are media-bounded (one partitioned lag window
    * + one map-only decode each — the F13/F9 plans verbatim); the lag
    * grid is ≤ 2·maxLag+1 broadcast literals; correlation sums ride
    * DECIMAL per (media, lag) — ONE exchange on a key that is
    * media-bounded × grid-bounded; argmax per media is a partitioned
    * row_number, never a global sort. Oracle end-to-end: integer
    * series, DECIMAL order-free sums, IEEE-only closing arithmetic,
    * argmax over the ROUNDED corr (abs-lag then lag tiebreaks — both
    * engines sort the same values; the A45/A68 discipline). */
  def mmAvSync(spark: SparkSession, sfDir: String, maxLag: Int = 3,
      minPoints: Long = 8): DataFrame = {
    import spark.implicits._
    require(maxLag >= 0, s"maxLag $maxLag must be >= 0")
    require(minPoints >= 2, s"minPoints $minPoints must be >= 2")
    val media = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text".cast("binary"))
      .as[(Long, Array[Byte])]
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"media_id").orderBy($"frame_idx")
    val motion = frameSample(media, frameSize = 8, stride = 4).toDF()
      .withColumn("prev_hash", lag($"frame_hash", 1).over(w))
      .filter($"prev_hash".isNotNull)
      .select($"media_id", ($"frame_idx" / 4).cast("long").as("t"),
        expr("CAST(bit_count(frame_hash ^ prev_hash) AS INT)").as("m"))
    val audio = audioWindowsOf(media, windowSamples = 32)
      .select($"media_id", $"window_idx".cast("long").as("ta"),
        $"energy".as("a"))
    val lags = (-maxLag to maxLag).toDF("lag")
    val paired = motion.crossJoin(broadcast(lags))
      .withColumn("ta", $"t" + $"lag")
      .join(audio, Seq("media_id", "ta"))
    val corr = paired
      .groupBy($"media_id", $"lag")
      .agg(count(lit(1)).as("n_points"),
        sum($"m".cast("decimal(18,0)")).cast("decimal(38,4)")
          .cast("double").as("sx"),
        sum($"a".cast("decimal(18,0)")).cast("decimal(38,4)")
          .cast("double").as("sy"),
        sum(($"m" * $"a").cast("decimal(28,0)")).cast("decimal(38,4)")
          .cast("double").as("sxy"),
        sum(($"m" * $"m").cast("decimal(28,0)")).cast("decimal(38,4)")
          .cast("double").as("sxx"),
        sum(($"a" * $"a").cast("decimal(28,0)")).cast("decimal(38,4)")
          .cast("double").as("syy"))
      .filter($"n_points" >= minPoints)
      .withColumn("varm",
        greatest($"n_points" * $"sxx" - $"sx" * $"sx", lit(0.0)))
      .withColumn("vara",
        greatest($"n_points" * $"syy" - $"sy" * $"sy", lit(0.0)))
      .filter($"varm" > 0.0 && $"vara" > 0.0)
      .withColumn("corr_ma",
        round(($"n_points" * $"sxy" - $"sx" * $"sy") /
          (sqrt($"varm") * sqrt($"vara")), 6))
    val pick = org.apache.spark.sql.expressions.Window
      .partitionBy($"media_id")
      .orderBy($"corr_ma".desc, abs($"lag").asc, $"lag".asc)
    corr.withColumn("rn", row_number().over(pick))
      .filter($"rn" === 1)
      .select($"media_id", $"lag".as("best_lag"), $"corr_ma",
        $"n_points")
      .orderBy($"media_id")
  }

  /** F25's oracle: the F2 FNV chunk fold at the sync grid (8-byte
    * frames, stride 4) + the F9 energy fold at 32-byte windows,
    * spliced under the lag grid + the A45 Pearson rollup + a QUALIFY
    * argmax. The fold expressions are the F2/F9 kernels verbatim with
    * the grid constants swapped — stated here because the 64-byte
    * originals stay their own single definitions. */
  def mmAvSyncSql(maxLag: Int = 3, minPoints: Long = 8): String =
    s"""WITH fd AS (
       |  SELECT doc_id, text, length(text) AS n FROM documents),
       |ff AS (
       |  SELECT doc_id, text, n,
       |    unnest(range(0, CAST(ceil(n / 8.0) AS BIGINT))) AS idx
       |  FROM fd WHERE n > 0),
       |fs AS (
       |  SELECT doc_id AS media_id, CAST(idx AS INT) AS frame_idx,
       |    list_reduce(list_prepend(-3750763034362895579::BIGINT,
       |      list_transform(string_split(substring(text, CAST(idx * 8 + 1 AS INT), 8), ''), c -> ord(c))),
       |      (h, c) -> CAST(CASE WHEN
       |          ((CASE WHEN xor(h, c) < 0 THEN xor(h, c)::HUGEINT + 18446744073709551616
       |            ELSE xor(h, c)::HUGEINT END) * 1099511628211) % 18446744073709551616
       |          >= 9223372036854775808
       |        THEN ((CASE WHEN xor(h, c) < 0 THEN xor(h, c)::HUGEINT + 18446744073709551616
       |            ELSE xor(h, c)::HUGEINT END) * 1099511628211) % 18446744073709551616
       |          - 18446744073709551616
       |        ELSE ((CASE WHEN xor(h, c) < 0 THEN xor(h, c)::HUGEINT + 18446744073709551616
       |            ELSE xor(h, c)::HUGEINT END) * 1099511628211) % 18446744073709551616
       |        END AS BIGINT)) AS frame_hash
       |  FROM ff WHERE idx % 4 = 0),
       |hh AS (
       |  SELECT media_id, frame_idx, frame_hash,
       |    lag(frame_hash) OVER w AS prev_hash
       |  FROM fs
       |  WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)),
       |mo AS (
       |  SELECT media_id, frame_idx // 4 AS t,
       |    CAST(bit_count(xor(frame_hash, prev_hash)) AS INT) AS m
       |  FROM hh WHERE prev_hash IS NOT NULL),
       |aw AS (
       |  SELECT doc_id, text, n,
       |    unnest(range(0, CAST(ceil(n / 32.0) AS BIGINT))) AS idx
       |  FROM fd WHERE n > 0),
       |au AS (
       |  SELECT doc_id AS media_id, idx AS ta,
       |    CAST(list_sum(list_transform(
       |      list_transform(
       |        string_split(substring(text, CAST(idx * 32 + 1 AS INT), 32), ''),
       |        c -> ord(c) - 128), s -> s * s)) AS BIGINT) AS a
       |  FROM aw),
       |lg AS (SELECT unnest(range(-$maxLag, ${maxLag + 1})) AS lag),
       |pr AS (
       |  SELECT mo.media_id, lg.lag, mo.m, au.a
       |  FROM mo CROSS JOIN lg
       |  JOIN au ON au.media_id = mo.media_id
       |    AND au.ta = mo.t + lg.lag),
       |c AS (
       |  SELECT media_id, lag, COUNT(*) AS n_points,
       |    CAST(CAST(SUM(CAST(m AS DECIMAL(18,0))) AS DECIMAL(38,4)) AS DOUBLE) AS sx,
       |    CAST(CAST(SUM(CAST(a AS DECIMAL(18,0))) AS DECIMAL(38,4)) AS DOUBLE) AS sy,
       |    CAST(CAST(SUM(CAST(m * a AS DECIMAL(28,0))) AS DECIMAL(38,4)) AS DOUBLE) AS sxy,
       |    CAST(CAST(SUM(CAST(m * m AS DECIMAL(28,0))) AS DECIMAL(38,4)) AS DOUBLE) AS sxx,
       |    CAST(CAST(SUM(CAST(a * a AS DECIMAL(28,0))) AS DECIMAL(38,4)) AS DOUBLE) AS syy
       |  FROM pr GROUP BY media_id, lag
       |  HAVING COUNT(*) >= $minPoints),
       |v AS (
       |  SELECT *, greatest(n_points * sxx - sx * sx, 0.0) AS varm,
       |    greatest(n_points * syy - sy * sy, 0.0) AS vara
       |  FROM c),
       |r AS (
       |  SELECT media_id, lag, n_points,
       |    ROUND((n_points * sxy - sx * sy) /
       |      (sqrt(varm) * sqrt(vara)), 6) AS corr_ma
       |  FROM v WHERE varm > 0.0 AND vara > 0.0)
       |SELECT media_id, lag AS best_lag, corr_ma, n_points
       |FROM r
       |QUALIFY row_number() OVER (PARTITION BY media_id
       |  ORDER BY corr_ma DESC, abs(lag), lag) = 1
       |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- F26
  /** FRAGMENT-CONTINUITY AUDIT — the last reference behavior
    * (reference restart.sh:85 polls get_fragment_list.py and
    * restart.sh:17 counts consecutive runs before escalating;
    * a media stream whose fragment NUMBERS skip has lost data even
    * when its heartbeats look healthy, so continuity is a
    * fragment-sequence property, not a timestamp property — the batch
    * twin of A40's heartbeat gaps, keyed by sequence instead of
    * clock). Input model: each media stream's fragment inventory
    * (media_id, frag) — here derived deterministically from the
    * manifest (one 32-byte fragment per payload chunk, with a planted
    * arithmetic drop so the audit has real gaps to find; a production
    * deployment feeds its archive's actual fragment list through
    * [[mmFragmentGapsOf]] unchanged). Per stream: a lag window over
    * fragment order, a row per gap — (prev present, next present,
    * count missing) — with the stream's HEAD gap reported against the
    * virtual fragment -1, since a stream that never delivered
    * fragment 0 is missing data no adjacent-pair lag would see.
    *
    * Scale: the fragment list shuffles ONCE on media_id for the lag
    * window (fragment counts are per-media-bounded); output is
    * gaps-only. Oracle end-to-end: integer arithmetic only. */
  def mmFragmentGapsOf(frags: DataFrame): DataFrame = {
    val spark = frags.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"media_id").orderBy($"frag")
    frags
      .withColumn("prev", coalesce(lag($"frag", 1).over(w), lit(-1L)))
      .filter($"frag" - $"prev" > 1L)
      .select($"media_id", $"prev".as("gap_start_frag"),
        $"frag".as("gap_end_frag"),
        ($"frag" - $"prev" - 1L).as("n_missing"))
      .orderBy($"media_id", $"gap_start_frag")
  }

  /** The synthetic per-stream fragment inventory the driver entry
    * audits: floor(size_bytes / 32) fragments per media, fragment i
    * of media m absent iff (m·31 + i) ≡ 0 (mod 17) — a deterministic
    * ~6% loss pattern that plants both interior and head gaps. */
  def mmFragmentGaps(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val frags = Tables.documents(spark, sfDir)
      .select($"doc_id".as("media_id"),
        (length($"text".cast("binary")).cast("long") / 32L)
          .cast("long").as("n_frags"))
      .filter($"n_frags" > 0L)
      .select($"media_id",
        explode(sequence(lit(0L), $"n_frags" - 1L)).as("frag"))
      .filter(($"media_id" * 31L + $"frag") % 17L =!= 0L)
    mmFragmentGapsOf(frags)
  }

  val mmFragmentGapsSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    CAST(octet_length(encode(text)) // 32 AS BIGINT) AS n_frags
      |  FROM documents
      |  WHERE octet_length(encode(text)) // 32 > 0),
      |f AS (
      |  SELECT media_id, CAST(i AS BIGINT) AS frag
      |  FROM m, UNNEST(generate_series(0, n_frags - 1)) AS u(i)
      |  WHERE (media_id * 31 + i) % 17 <> 0),
      |g AS (
      |  SELECT media_id, frag,
      |    coalesce(lag(frag) OVER (PARTITION BY media_id ORDER BY frag),
      |      -1) AS prev
      |  FROM f)
      |SELECT media_id, prev AS gap_start_frag, frag AS gap_end_frag,
      |  frag - prev - 1 AS n_missing
      |FROM g WHERE frag - prev > 1
      |ORDER BY media_id, gap_start_frag""".stripMargin

  // -------------------------------------------------------------- F26c
  /** FRAGMENT-LOSS SLA ROLLUP — F26's per-stream summary (gap rows
    * page an operator; capacity review wants the RATE): per media,
    * the expected fragment count (from the manifest), the delivered
    * count, the missing count, and the loss share — the number a
    * retention SLA is written against. General seam: any
    * (media_id, frag) delivered inventory against any
    * (media_id, n_frags) expectation; a stream that delivered NOTHING
    * still reports (loss 1.0) via the left join — silence is the
    * worst loss, not a missing row. One small aggregate + one
    * media-keyed join of two media-bounded frames. */
  def mmFragmentLossOf(frags: DataFrame, expected: DataFrame): DataFrame = {
    val spark = frags.sparkSession
    import spark.implicits._
    val delivered = frags.groupBy($"media_id")
      .agg(count(lit(1)).as("n_delivered"))
    expected
      .join(delivered, Seq("media_id"), "left")
      .na.fill(0L, Seq("n_delivered"))
      .select($"media_id", $"n_frags", $"n_delivered",
        ($"n_frags" - $"n_delivered").as("n_missing"),
        round(($"n_frags" - $"n_delivered").cast("double") /
          $"n_frags", 6).as("loss_share"))
      .orderBy($"media_id")
  }

  /** Driver entry over the same planted inventory as [[mmFragmentGaps]]. */
  def mmFragmentLoss(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val expected = Tables.documents(spark, sfDir)
      .select($"doc_id".as("media_id"),
        (length($"text".cast("binary")).cast("long") / 32L)
          .cast("long").as("n_frags"))
      .filter($"n_frags" > 0L)
    val frags = expected
      .select($"media_id",
        explode(sequence(lit(0L), $"n_frags" - 1L)).as("frag"))
      .filter(($"media_id" * 31L + $"frag") % 17L =!= 0L)
    mmFragmentLossOf(frags, expected)
  }

  val mmFragmentLossSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    CAST(octet_length(encode(text)) // 32 AS BIGINT) AS n_frags
      |  FROM documents
      |  WHERE octet_length(encode(text)) // 32 > 0),
      |f AS (
      |  SELECT media_id, CAST(i AS BIGINT) AS frag
      |  FROM m, UNNEST(generate_series(0, n_frags - 1)) AS u(i)
      |  WHERE (media_id * 31 + i) % 17 <> 0),
      |d AS (
      |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_delivered
      |  FROM f GROUP BY media_id)
      |SELECT m.media_id, m.n_frags,
      |  coalesce(d.n_delivered, 0) AS n_delivered,
      |  m.n_frags - coalesce(d.n_delivered, 0) AS n_missing,
      |  ROUND(CAST(m.n_frags - coalesce(d.n_delivered, 0) AS DOUBLE)
      |    / m.n_frags, 6) AS loss_share
      |FROM m LEFT JOIN d USING (media_id)
      |ORDER BY media_id""".stripMargin

  // -------------------------------------------------------------- F26b
  /** STREAMING fragment-continuity audit — F26's live twin (the
    * reference's restart.sh escalates on fragment loss AFTER polling;
    * a live gateway wants the gap row the moment the out-of-sequence
    * fragment arrives): per-stream state is ONE long — the highest
    * fragment number seen — carried across micro-batches; each trigger
    * folds its slice in fragment order and emits the same gap rows the
    * batch lag window would (head gap against virtual -1 included, so
    * a stream that starts at fragment 7 pages immediately). A fragment
    * at or below the state (transport replay) is dropped — the batch
    * operator's lag is over the de-duplicated total order, so replayed
    * history lands on the identical gap rows (parity spec). State
    * bounded by the LIVE stream count.
    *
    * DELIVERY ASSUMPTION (stated, not hidden): fragments must arrive
    * in nondecreasing order ACROSS triggers per stream — the KVS
    * PutMedia contract for a single producer connection. A genuinely
    * late fragment that lands in a later trigger (frag 5 in trigger 1,
    * frag 3 in trigger 2) is indistinguishable from transport replay
    * at the one-long state size and is dropped; its already-emitted
    * gap row is never retracted (Append mode cannot retract). A
    * multi-producer or resequencing transport needs the watermark
    * variant: buffer within an event-time watermark, fold once the
    * watermark passes — more state (the buffered slice), exact gaps
    * under bounded disorder. The batch F26 sweep remains the
    * completeness pass either way, exactly like C9's dedup trade. */
  def fragmentGapsStream(
      frags: Dataset[FragmentEvent]): Dataset[FragmentGap] = {
    import frags.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    frags
      .groupByKey(_.media_id)
      .flatMapGroupsWithState[Long, FragmentGap](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id, it, state) =>
          val sorted = it.toArray.sortBy(_.frag)
          // virtual fragment -1 when no state: the head-gap rule
          var last = state.getOption.getOrElse(-1L)
          val gaps = Seq.newBuilder[FragmentGap]
          sorted.foreach { f =>
            if (f.frag > last) {
              if (f.frag - last > 1L)
                gaps += FragmentGap(id, last, f.frag, f.frag - last - 1L)
              last = f.frag
            } // else: replay — drop, exactly like the batch total order
          }
          state.update(last)
          gaps.result().iterator
      }
  }

  // -------------------------------------------------------------- F26d
  /** WATERMARK-BUFFERED fragment-continuity audit — the variant
    * F26b's delivery note names for multi-producer / resequencing
    * transports: instead of treating every ≤-max-seen fragment as
    * replay, arrivals BUFFER per stream and fold into the total order
    * only once the event-time watermark passes them — so a genuinely
    * late cross-trigger fragment (frag 5 in trigger 1, frag 3 in
    * trigger 2) lands in its ordered position and the emitted gaps
    * are EXACT under any disorder bounded by the watermark delay.
    * The trade F26b's one-long state avoids, stated: state is the
    * not-yet-folded buffer (bounded by the horizon × arrival rate,
    * not stream length), and gap rows wait one watermark delay
    * instead of paging at arrival. Replays (a folded fragment
    * arriving again) still drop; fragments later than the watermark
    * horizon are dropped by the watermark itself upstream — the
    * batch F26 sweep remains the completeness pass. An event-time
    * timeout flushes streams that go quiet, so the last buffered
    * fragments fold without waiting for more data on that stream. */
  def fragmentGapsStreamBuffered(frags: Dataset[TimedFragmentEvent],
      watermark: String = "10 minutes"): Dataset[FragmentGap] = {
    import frags.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    frags
      .withWatermark("ts", watermark)
      .groupByKey(_.media_id)
      .flatMapGroupsWithState[FragmentBufferState, FragmentGap](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (id, it, state) =>
          var st = state.getOption.getOrElse(
            FragmentBufferState(-1L, Nil))
          val wm = state.getCurrentWatermarkMs()
          // buffer the slice (replays of folded fragments drop here)
          val incoming = it.map(f => (f.frag, f.ts.getTime)).toList
            .filter(_._1 > st.lastFolded)
          val buf = st.buffered ++ incoming
          // fold everything the watermark has passed, in frag order
          val (ready, waiting) = buf.partition(_._2 <= wm)
          val gaps = Seq.newBuilder[FragmentGap]
          var last = st.lastFolded
          ready.map(_._1).distinct.sorted.foreach { f =>
            if (f > last) {
              if (f - last > 1L)
                gaps += FragmentGap(id, last, f, f - last - 1L)
              last = f
            }
          }
          st = FragmentBufferState(last, waiting)
          state.update(st)
          // flush the remainder once the watermark passes it, even if
          // this stream never sends another fragment
          if (waiting.nonEmpty)
            state.setTimeoutTimestamp(waiting.map(_._2).max + 1L)
          gaps.result().iterator
      }
  }

  // ---------------------------------------------------------------- F7
  /** STREAMING scene cuts — F6's live twin and the F-family's first
    * streaming member (the reference IS a live video gateway; shot
    * detection at ingest is the first thing a video-analysis consumer
    * asks of the frame stream): per-media state is the last seen
    * (frame_idx, frame_hash) — two longs, exactly the batch lag
    * window's state — carried across micro-batches in
    * flatMapGroupsWithState; each trigger folds its slice in frame_idx
    * order and emits a cut when consecutive hashes differ in ≥
    * `threshold` bits, via the same xor + bitCount the batch operator
    * runs. A frame at or before the state's index (transport replay /
    * out-of-order past a trigger boundary) is DROPPED: the batch
    * operator's lag is over the total frame order, and a late frame
    * would need its neighbor pair re-evaluated — replayed history
    * therefore lands on the identical cut rows as batch F6 (parity
    * spec), and in-order live streams lose nothing. No watermark: the
    * frame stream carries no event time; state is bounded by the LIVE
    * media count (one row each). */
  def sceneCutsStream(frames: Dataset[SampledFrame],
      threshold: Int = 20): Dataset[SceneCut] = {
    import frames.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(threshold >= 1 && threshold <= 64,
      s"threshold $threshold out of [1, 64]")
    frames
      .groupByKey(_.media_id)
      .flatMapGroupsWithState[FrameState, SceneCut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id, it, state) =>
          val sorted = it.toArray.sortBy(_.frame_idx)
          var last = state.getOption
          val cuts = Seq.newBuilder[SceneCut]
          sorted.foreach { f =>
            last match {
              case Some(s) if f.frame_idx <= s.lastIdx => // replay: drop
              case Some(s) =>
                val h = java.lang.Long.bitCount(f.frame_hash ^ s.lastHash)
                if (h >= threshold) cuts += SceneCut(id, f.frame_idx, s.lastIdx, h)
                last = Some(FrameState(f.frame_idx, f.frame_hash))
              case None =>
                last = Some(FrameState(f.frame_idx, f.frame_hash))
            }
          }
          last.foreach(state.update)
          cuts.result().iterator
      }
  }

  // ---------------------------------------------------------------- F4
  /** Feature-extractor contract: frame bytes → embedding. Runs inside
    * mapPartitions so one instance serves a whole partition — the batch
    * shape a real vision model (ONNX runtime, JNI torch) needs for
    * amortized weight loading and batched inference. */
  trait FeatureExtractor extends Serializable {
    def extract(frame: Array[Byte]): Array[Float]
  }

  /** STUB extractor — deterministic fake standing in for a real vision
    * encoder: `dim` floats from a splitmix64 chain seeded by the FNV
    * hash of the frame bytes, L2-normalized so the output plugs
    * straight into the cosine ANN family (Similarity.*) like a real
    * CLIP-style embedding would. */
  final class StubExtractor(dim: Int) extends FeatureExtractor {
    override def extract(frame: Array[Byte]): Array[Float] = {
      val h = fnv1a(frame)
      val out = new Array[Float](dim)
      var s = h
      var norm = 0.0
      var i = 0
      while (i < dim) {
        s += -7046029254386353131L // splitmix64 increment
        var z = s
        z = (z ^ (z >>> 30)) * -4658895280553007687L
        z = (z ^ (z >>> 27)) * -7723592293110705685L
        z = z ^ (z >>> 31)
        // map the 53-bit value to [-1, 1); keep the arithmetic
        // integer-exact up to here — components must center on 0 or
        // every normalized vector lands in the positive orthant and
        // unrelated frames stop being discriminable by cosine
        out(i) = (z >>> 11).toFloat / (1L << 53).toFloat * 2f - 1f
        norm += out(i).toDouble * out(i)
        i += 1
      }
      val inv = (1.0 / math.sqrt(norm)).toFloat
      i = 0
      while (i < dim) { out(i) *= inv; i += 1 }
      out
    }
  }

  /** Frame FEATURE EXTRACTION: decode → sample → embed, one fused
    * map-only pass (payloads never shuffle; decoder and extractor are
    * instantiated once per partition). The output (media_id, frame_idx,
    * feature) is the bridge from the multimodal family to the
    * similarity family: write it as an `embeddings`-shaped table and
    * every D-operator (brute/LSH/IVF ANN, semantic dedup) runs on it
    * unchanged. */
  def frameFeatures(media: Dataset[(Long, Array[Byte])],
      frameSize: Int = 64, stride: Int = 4, dim: Int = 8): Dataset[FrameFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val decoder = new StubDecoder(frameSize)
      val extractor = new StubExtractor(dim)
      rows.flatMap { case (id, payload) =>
        decoder.decode(payload).zipWithIndex.collect {
          case (frame, idx) if idx % stride == 0 =>
            FrameFeature(id, idx, extractor.extract(frame))
        }
      }
    }
  }

  /** Driver-facing query — ORACLE-checked since round 8 (the F2
    * upgrade technique applied to the extractor): the stub embedding is
    * deterministic integer arithmetic (FNV-1a seed → splitmix64 chain)
    * followed by a fixed float32 expression tree (component mapping +
    * L2 normalization), and DuckDB's FLOAT arithmetic is bit-identical
    * IEEE single precision (probed: conversions, /, *, − all match the
    * JVM exactly), so the oracle replays decode → sample → hash → mix
    * → normalize end to end. The vector lands as one DOUBLE column per
    * component (rounded to 6) because the driver's harness sorts/hashes
    * scalar cells — [[frameFeatures]] itself keeps returning real
    * vectors for ANN consumers. */
  def mmFrameFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text".cast("binary"))
      .as[(Long, Array[Byte])]
    val comps = (0 until 8).map(i =>
      round(element_at($"feature", i + 1).cast("double"), 6).as(s"f$i"))
    frameFeatures(media)
      .select(($"media_id" +: $"frame_idx" +: comps): _*)
      .orderBy($"media_id", $"frame_idx")
  }

  /** DuckDB replay of the full extractor pipeline. Integer part in the
    * HUGEINT unsigned domain: a 64×64-bit wrapping multiply would
    * overflow INT128, so each splitmix64 constant is split hi/lo 32
    * bits — a·b mod 2⁶⁴ = (a·lo + ((a·hi) mod 2³²)·2³²) mod 2⁶⁴, every
    * intermediate ≤ 2⁹⁷. Shifts are unsigned divides; xors hop through
    * the signed BIGINT bit pattern (the F2 dance). Float part: CASTs to
    * FLOAT pin each step to single precision exactly as the JVM
    * computes it; the norm accumulates float·float products in DOUBLE
    * (exact — 24-bit × 24-bit ≤ 53) in component order. */
  val mmFrameFeaturesSql: String = {
    // xor of two unsigned-domain HUGEINT values via signed BIGINT
    def x64(a: String, b: String): String = {
      val sa = s"CAST(CASE WHEN $a >= 9223372036854775808 THEN $a - 18446744073709551616 ELSE $a END AS BIGINT)"
      val sb = s"CAST(CASE WHEN $b >= 9223372036854775808 THEN $b - 18446744073709551616 ELSE $b END AS BIGINT)"
      val x = s"xor($sa, $sb)"
      s"(CASE WHEN $x < 0 THEN $x::HUGEINT + 18446744073709551616 ELSE $x::HUGEINT END)"
    }
    // a · (hi·2³² + lo) mod 2⁶⁴ without INT128 overflow
    def mulMod(a: String, hi: Long, lo: Long): String =
      s"(($a * $lo + (($a * $hi) % 4294967296) * 4294967296) % 18446744073709551616)"
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS n FROM documents),
       |f AS (
       |  SELECT doc_id, text, n,
       |    unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS idx
       |  FROM d WHERE n > 0),
       |s AS (
       |  SELECT doc_id AS media_id, CAST(idx AS INT) AS frame_idx,
       |    list_reduce(list_prepend(-3750763034362895579::BIGINT,
       |      list_transform(string_split(substring(text, CAST(idx * 64 + 1 AS INT), 64), ''), c -> ord(c))),
       |      (h, c) -> CAST(CASE WHEN
       |          ((CASE WHEN xor(h, c) < 0 THEN xor(h, c)::HUGEINT + 18446744073709551616
       |            ELSE xor(h, c)::HUGEINT END) * 1099511628211) % 18446744073709551616
       |          >= 9223372036854775808
       |        THEN ((CASE WHEN xor(h, c) < 0 THEN xor(h, c)::HUGEINT + 18446744073709551616
       |            ELSE xor(h, c)::HUGEINT END) * 1099511628211) % 18446744073709551616
       |          - 18446744073709551616
       |        ELSE ((CASE WHEN xor(h, c) < 0 THEN xor(h, c)::HUGEINT + 18446744073709551616
       |            ELSE xor(h, c)::HUGEINT END) * 1099511628211) % 18446744073709551616
       |        END AS BIGINT)) AS frame_hash
       |  FROM f WHERE idx % 4 = 0),
       |hu AS (
       |  SELECT media_id, frame_idx,
       |    CASE WHEN frame_hash < 0 THEN frame_hash::HUGEINT + 18446744073709551616
       |      ELSE frame_hash::HUGEINT END AS h
       |  FROM s),
       |c AS (SELECT media_id, frame_idx, h, unnest(range(0, 8)) AS ci FROM hu),
       |m0 AS (
       |  SELECT media_id, frame_idx, ci,
       |    (h + (ci + 1) * 11400714819323198485::HUGEINT)
       |      % 18446744073709551616 AS s0
       |  FROM c),
       |m1 AS (
       |  SELECT media_id, frame_idx, ci,
       |    ${mulMod(x64("s0", "(s0 // 1073741824)"), 3210233709L, 484763065L)} AS z1
       |  FROM m0),
       |m2 AS (
       |  SELECT media_id, frame_idx, ci,
       |    ${mulMod(x64("z1", "(z1 // 134217728)"), 2496678331L, 321982955L)} AS z2
       |  FROM m1),
       |m3 AS (
       |  SELECT media_id, frame_idx, ci,
       |    ${x64("z2", "(z2 // 2147483648)")} AS z3
       |  FROM m2),
       |v AS (
       |  SELECT media_id, frame_idx, ci,
       |    (CAST(z3 // 2048 AS FLOAT) / CAST(9007199254740992 AS FLOAT))
       |      * 2::FLOAT - 1::FLOAT AS comp
       |  FROM m3),
       |agg AS (
       |  SELECT media_id, frame_idx,
       |    list(comp ORDER BY ci) AS comps,
       |    sum(CAST(comp AS DOUBLE) * CAST(comp AS DOUBLE)) AS norm
       |  FROM v GROUP BY media_id, frame_idx)
       |SELECT media_id, frame_idx,
       |  round(CAST(comps[1] * CAST(1.0 / sqrt(norm) AS FLOAT) AS DOUBLE), 6) AS f0,
       |  round(CAST(comps[2] * CAST(1.0 / sqrt(norm) AS FLOAT) AS DOUBLE), 6) AS f1,
       |  round(CAST(comps[3] * CAST(1.0 / sqrt(norm) AS FLOAT) AS DOUBLE), 6) AS f2,
       |  round(CAST(comps[4] * CAST(1.0 / sqrt(norm) AS FLOAT) AS DOUBLE), 6) AS f3,
       |  round(CAST(comps[5] * CAST(1.0 / sqrt(norm) AS FLOAT) AS DOUBLE), 6) AS f4,
       |  round(CAST(comps[6] * CAST(1.0 / sqrt(norm) AS FLOAT) AS DOUBLE), 6) AS f5,
       |  round(CAST(comps[7] * CAST(1.0 / sqrt(norm) AS FLOAT) AS DOUBLE), 6) AS f6,
       |  round(CAST(comps[8] * CAST(1.0 / sqrt(norm) AS FLOAT) AS DOUBLE), 6) AS f7
       |FROM agg ORDER BY media_id, frame_idx""".stripMargin
  }

  // ---------------------------------------------------------------- F22
  /** CROSS-MEDIA FRAME SEARCH — near-dup frame retrieval over the F4
    * embedding bridge: for each query frame (media sampled at
    * 1/`queryEvery`), the top-k most-similar frames from OTHER media
    * by cosine. This is the retrieval a video-dedup or
    * highlight-reuse pass runs ("which other assets contain this
    * shot"), composed from parts the family already certifies:
    * similarity runs over the 6-decimal-QUANTIZED components F4's
    * oracle replays bit-exactly (the C61 rounded-handoff move — both
    * engines dot/normalize the same doubles in the same left-assoc
    * order), so the whole retrieval is ORACLE-CHECKED end-to-end.
    * Deterministic ties: (cos desc, media, frame).
    *
    * Scale shape: the D1 brute kernel — corpus frames spread, the
    * small query slice broadcast, TopK.perKey bounded heaps; the pair
    * ceiling refuses past [[Similarity.BruteForceMaxPairs]] and the
    * scale path is the F4 doc's bridge (feed [[frameFeatures]] through
    * [[Similarity.writeIvfIndexOf]] and serve cell-pruned). */
  def mmFrameSearch(spark: SparkSession, sfDir: String, k: Int = 3,
      queryEvery: Int = 50): DataFrame = {
    import spark.implicits._
    require(k >= 1 && queryEvery >= 1,
      s"bad params k=$k queryEvery=$queryEvery")
    // the pair guard counts ACTUAL frames from the manifest column
    // (frames(n) = ceil(ceil(n/64)/4) — the decode's own sampling
    // arithmetic), one narrow column scan, never the payloads; the
    // ceiling check stays in division form (the overflow rule)
    val fc = when(col("n_chars") > 0,
      ceil(ceil(col("n_chars") / 64.0) / 4.0).cast("long")).otherwise(0L)
    val fr = Tables.documents(spark, sfDir)
      .agg(sum(fc), sum(when(col("doc_id") % queryEvery === 0, fc)
        .otherwise(0L))).head()
    val cframes = if (fr.isNullAt(0)) 0L else fr.getLong(0)
    val qframes = if (fr.isNullAt(1)) 0L else fr.getLong(1)
    require(cframes == 0 ||
      cframes <= Similarity.BruteForceMaxPairs / math.max(1L, qframes),
      s"brute frame search would score $cframes × $qframes pairs (> " +
        s"${Similarity.BruteForceMaxPairs}); stage frameFeatures " +
        "through Similarity.writeIvfIndexOf and serve cell-pruned " +
        "instead")
    val feats = mmFrameFeatures(spark, sfDir)
    val q = feats.select(
      ($"media_id".as("query_media") +: $"frame_idx".as("query_frame") +:
        (0 until 8).map(i => col(s"f$i").as(s"qf$i"))): _*)
      .filter($"query_media" % queryEvery === 0)
    val dot = (0 until 8).map(i => col(s"qf$i") * col(s"f$i"))
      .reduce(_ + _)
    val qn = sqrt((0 until 8).map(i => col(s"qf$i") * col(s"qf$i"))
      .reduce(_ + _))
    val cn = sqrt((0 until 8).map(i => col(s"f$i") * col(s"f$i"))
      .reduce(_ + _))
    val pairs = feats
      .repartition(spark.sparkContext.defaultParallelism)
      .crossJoin(broadcast(q))
      .filter($"media_id" =!= $"query_media")
      .select($"query_media", $"query_frame", $"media_id", $"frame_idx",
        round(dot / (qn * cn), 6).as("cos"))
    val top = graft.plans.TopK.perKey(pairs,
      Seq("query_media", "query_frame"),
      Seq($"cos".desc, $"media_id".asc, $"frame_idx".asc), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_media", $"query_frame")
      .orderBy($"cos".desc, $"media_id", $"frame_idx")
    top.withColumn("rank", row_number().over(w))
      .select($"query_media", $"query_frame", $"rank", $"media_id",
        $"frame_idx", $"cos")
      .orderBy($"query_media", $"query_frame", $"rank")
  }

  /** F22's oracle: F4's full extractor replay as a CTE, then the
    * explicit 8-component dot/norm chain (left-assoc adds — the same
    * double op order Spark's reduce emits) and the ROW_NUMBER top-k. */
  def mmFrameSearchSql(k: Int = 3, queryEvery: Int = 50): String = {
    def dotOf(a: String, b: String): String =
      (0 until 8).map(i => s"$a.f$i * $b.f$i").mkString(" + ")
    def normOf(a: String): String =
      "sqrt(" + (0 until 8).map(i => s"$a.f$i * $a.f$i").mkString(" + ") + ")"
    // splice AFTER stripMargin (the member-SQL rule)
    s"""WITH ff AS (%FF%),
       |q AS (SELECT * FROM ff WHERE media_id % $queryEvery = 0),
       |p AS (
       |  SELECT q.media_id AS query_media, q.frame_idx AS query_frame,
       |    c.media_id, c.frame_idx,
       |    round((${dotOf("q", "c")}) / (${normOf("q")} * ${normOf("c")}), 6) AS cos
       |  FROM q JOIN ff c ON c.media_id <> q.media_id),
       |r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_media, query_frame
       |    ORDER BY cos DESC, media_id, frame_idx) AS rank
       |  FROM p)
       |SELECT query_media, query_frame, rank, media_id, frame_idx, cos
       |FROM r WHERE rank <= $k
       |ORDER BY query_media, query_frame, rank""".stripMargin
      .replace("%FF%", mmFrameFeaturesSql)
  }

  // ---------------------------------------------------------------- F22b
  /** F22's WIRED SCALE PATH — the r12 served-sibling rule (a scale
    * path that exists only as a doc note is a weak row): frame
    * features staged per corpus version through
    * [[Similarity.writeIvfIndexOf]] (frames keyed media·2²⁰+idx — the
    * decode's stride-4 indices stay far below the span), queries
    * probe their nProbe nearest cells and score ONLY probed-cell
    * members — pair cost falls from frames × queries to the
    * cell-pruned slice, and the staged layout is the same
    * append/compact/tombstone store every other vector family uses.
    * Scores run over the RAW float features (the serving tier's
    * precision; the brute entry's 6-decimal quantization is its
    * oracle handoff, not a semantic), so the spec pins top-k RECALL
    * against the brute entry rather than equality — the D25b
    * discipline. Rows-only (probe geometry — D25b's reason). */
  private val FrameIdxSpan = 1L << 20
  // stale corpus versions' staged dirs are reaped at JVM exit (a
  // returned lazy plan may still scan them — the snapshotCache rule)
  private val frameIndexCache =
    new StampedCache[Unit, String](Dedup.deleteAtExit)
  private def frameIndexDir(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    val stamp = Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    frameIndexCache(sfDir, stamp, ()) {
      val media = Tables.documents(spark, sfDir)
        .select($"doc_id", $"text".cast("binary"))
        .as[(Long, Array[Byte])]
      val vecs = frameFeatures(media).toDF()
        .select(($"media_id" * FrameIdxSpan + $"frame_idx").as("vec_id"),
          $"feature".as("embedding"))
      val n = vecs.count()
      // the corpusCentroids auto-scale shape: enough cells that a
      // probed slice stays small, floored for tiny corpora
      val nCells = math.max(2, math.min(4096,
        math.ceil(math.sqrt(n.toDouble)).toInt))
      val dir = java.nio.file.Files
        .createTempDirectory("graft-frame-index").toString
      Similarity.writeIvfIndexOf(vecs, dir, nCells)
      dir
    }
  }

  def mmFrameSearchIvf(spark: SparkSession, sfDir: String, k: Int = 3,
      queryEvery: Int = 50, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    require(k >= 1 && queryEvery >= 1 && nProbe >= 1,
      s"bad params k=$k queryEvery=$queryEvery nProbe=$nProbe")
    val dir = frameIndexDir(spark, sfDir)
    val vectors = graft.Tables.readParquet(spark, s"$dir/vectors")
      .select($"vec_id", $"embedding", $"cell")
    val centroidDf = graft.Tables.readParquet(spark, s"$dir/centroids")
      .select($"cell".as("pcell"), $"cvec")
    val l2 = graft.functions.VectorFunctions.l2Norm(_: org.apache.spark.sql.Column)
    val q = vectors
      .filter(expr(s"(vec_id div $FrameIdxSpan) % $queryEvery") === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"),
        l2($"embedding").as("qnrm"))
    val scored = q.crossJoin(broadcast(centroidDf))
      .withColumn("dist", expr(
        """aggregate(zip_with(qe, cvec,
          |  (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),
          |  0D, (s, v) -> s + v)""".stripMargin))
    val probes = graft.plans.TopK.perKey(scored, Seq("query_id"),
        Seq($"dist".asc, $"pcell".asc), nProbe)
      .select($"query_id", $"qe", $"qnrm", $"pcell".as("cell"))
    val dot = graft.functions.VectorFunctions.dotProduct($"qe", $"embedding")
    val pairs = vectors
      .select($"vec_id", $"embedding", l2($"embedding").as("nrm"), $"cell")
      .join(probes, Seq("cell"))
      .filter(expr(s"vec_id div $FrameIdxSpan") =!=
        expr(s"query_id div $FrameIdxSpan"))
      .select($"query_id", $"vec_id",
        round(when($"qnrm" === 0.0 || $"nrm" === 0.0, 0.0)
          .otherwise(dot / ($"qnrm" * $"nrm")), 6).as("cos"))
    val top = graft.plans.TopK.perKey(pairs, Seq("query_id"),
      Seq($"cos".desc, $"vec_id".asc), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    top.withColumn("rank", row_number().over(w))
      .select(expr(s"query_id div $FrameIdxSpan").as("query_media"),
        expr(s"cast(query_id % $FrameIdxSpan as int)").as("query_frame"),
        $"rank",
        expr(s"vec_id div $FrameIdxSpan").as("media_id"),
        expr(s"cast(vec_id % $FrameIdxSpan as int)").as("frame_idx"),
        $"cos")
      .orderBy($"query_media", $"query_frame", $"rank")
  }

  // ---------------------------------------------------------------- F5
  /** Media transform contract: payload bytes → payload bytes (resize,
    * transcode, crop). Same per-partition amortization seam as
    * [[FrameDecoder]]. */
  trait MediaTransform extends Serializable {
    def apply(payload: Array[Byte]): Array[Byte]
  }

  /** STUB resize — keep every `factor`-th byte: the deterministic fake
    * for a real scaler (libvips/ffmpeg drops in via [[MediaTransform]]).
    * Output length is ceil(len / factor) by construction — the metadata
    * contract the oracle cross-checks against the REAL byte loop. */
  final class StubResize(factor: Int) extends MediaTransform {
    override def apply(p: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte]((p.length + factor - 1) / factor)
      var i = 0
      while (i < out.length) { out(i) = p(i * factor); i += 1 }
      out
    }
  }

  /** RESIZE pass: map-only transform of every payload (never shuffles),
    * emitting the old/new geometry a curation manifest tracks. The
    * `dst_bytes` column is the REAL resized array's length — the oracle
    * recomputes it as ceil(src/4) arithmetic, so a stub (or future real
    * scaler) whose byte work drifts from its claimed geometry fails the
    * hash compare. Area scales by factor (4) → each dimension halves. */
  def mmResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val factor = 4
    val media = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text".cast("binary"))
      .as[(Long, Array[Byte])]
    val resized = media.mapPartitions { rows =>
      val t = new StubResize(factor)
      rows.map { case (id, payload) => (id, payload.length, t(payload).length) }
    }.toDF("media_id", "src_bytes", "dst_bytes")
    mmManifest(spark, sfDir).select($"media_id", $"width", $"height")
      .join(resized, Seq("media_id"))
      .select($"media_id", $"width", $"height",
        ($"width" / 2).cast("int").as("dst_width"),
        ($"height" / 2).cast("int").as("dst_height"),
        $"src_bytes".cast("long").as("src_bytes"),
        $"dst_bytes".cast("long").as("dst_bytes"))
      .orderBy($"media_id")
  }

  val mmResizeSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(320 + (doc_id % 4) * 160 AS INT) AS width,
      |  CAST(240 + (doc_id % 4) * 120 AS INT) AS height,
      |  CAST((320 + (doc_id % 4) * 160) // 2 AS INT) AS dst_width,
      |  CAST((240 + (doc_id % 4) * 120) // 2 AS INT) AS dst_height,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS src_bytes,
      |  CAST((octet_length(encode(text)) + 3) // 4 AS BIGINT) AS dst_bytes
      |FROM documents ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- F9
  /** Audio-analyzer contract: payload bytes → per-window level rows.
    * A real integration decodes PCM/Opus here; it runs inside
    * mapPartitions so one decoder instance serves a whole partition
    * (the F2/F4 batch shape). */
  trait AudioAnalyzer extends Serializable {
    def analyze(payload: Array[Byte]): Iterator[(Int, Int, Int, Long)]
  }

  /** STUB analyzer — deterministic fake standing in for a PCM decoder:
    * "samples" are the payload's unsigned bytes centered on 128,
    * windowed in fixed `windowSamples` chunks (last window partial).
    * Per window: sample count, peak |amplitude|, and integer energy
    * Σ s² — exact arithmetic end to end, which is what lets the
    * oracle replay it. */
  final class StubAudioAnalyzer(windowSamples: Int) extends AudioAnalyzer {
    override def analyze(payload: Array[Byte]): Iterator[(Int, Int, Int, Long)] =
      payload.grouped(windowSamples).zipWithIndex.map { case (w, idx) =>
        var peak = 0
        var energy = 0L
        var i = 0
        while (i < w.length) {
          val s = (w(i) & 0xff) - 128
          if (math.abs(s) > peak) peak = math.abs(s)
          energy += s.toLong * s
          i += 1
        }
        (idx, w.length, peak, energy)
      }
  }

  /** AUDIO LEVEL windows — the third modality through the decoder
    * seam (images: F4 features, video: F2/F6 frames+cuts, audio:
    * this): per-window peak + RMS loudness, the first pass of VAD /
    * silence trimming / loudness normalization in a speech pipeline.
    * Map-only like every decode pass (payloads never shuffle); peak
    * and energy are integer-exact, RMS is one sqrt of an exact
    * integer ratio — the identical IEEE tree in DuckDB, so the whole
    * query hash-checks under the stub. */
  def mmAudioLevels(spark: SparkSession, sfDir: String,
      windowSamples: Int = 256): DataFrame =
    mmAudioWindows(spark, sfDir, windowSamples)
      .orderBy(col("media_id"), col("window_idx"))

  /** The level pipeline WITHOUT the presentation sort — F11 builds on
    * this (the mmFrames lesson: an orderBy consumed by a window stage
    * is a wasted rangepartitioning exchange the optimizer does NOT
    * eliminate, unlike sorts under joins/aggregates). */
  def mmAudioWindows(spark: SparkSession, sfDir: String,
      windowSamples: Int): DataFrame = {
    import spark.implicits._
    audioWindowsOf(Tables.documents(spark, sfDir)
      .select($"doc_id", $"text".cast("binary"))
      .as[(Long, Array[Byte])], windowSamples)
  }

  /** The window pipeline over an arbitrary media Dataset — the seam
    * F25 shares with F9/F11 (one analyzer, one window shape). */
  def audioWindowsOf(media: Dataset[(Long, Array[Byte])],
      windowSamples: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    require(windowSamples >= 1, "windowSamples must be positive")
    media.mapPartitions { rows =>
      val analyzer = new StubAudioAnalyzer(windowSamples)
      rows.flatMap { case (id, payload) =>
        analyzer.analyze(payload).map { case (idx, n, peak, energy) =>
          (id, idx, n, peak, energy)
        }
      }
    }.toDF("media_id", "window_idx", "n_samples", "peak", "energy")
      .select($"media_id", $"window_idx", $"n_samples", $"peak", $"energy",
        sqrt($"energy".cast("double") / $"n_samples").as("rms"))
  }

  /** DuckDB replay of the stub analyzer: 256-char windows (chars ==
    * bytes: ASCII corpus), samples = ord(c) − 128, integer peak/energy,
    * one sqrt for RMS. */
  val mmAudioLevelsSql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents),
      |w AS (
      |  SELECT doc_id, text, n,
      |    unnest(range(0, CAST(ceil(n / 256.0) AS BIGINT))) AS idx
      |  FROM d WHERE n > 0),
      |s AS (
      |  SELECT doc_id AS media_id, CAST(idx AS INT) AS window_idx,
      |    list_transform(
      |      string_split(substring(text, CAST(idx * 256 + 1 AS INT), 256), ''),
      |      c -> ord(c) - 128) AS samples
      |  FROM w)
      |SELECT media_id, window_idx,
      |  CAST(len(samples) AS INT) AS n_samples,
      |  CAST(list_max(list_transform(samples, s -> abs(s))) AS INT) AS peak,
      |  CAST(list_sum(list_transform(samples, s -> s * s)) AS BIGINT) AS energy,
      |  sqrt(CAST(list_sum(list_transform(samples, s -> s * s)) AS DOUBLE)
      |    / len(samples)) AS rms
      |FROM s ORDER BY media_id, window_idx""".stripMargin

  // ---------------------------------------------------------------- F8
  /** NEAR-DUPLICATE MEDIA detection by sampled-frame signature overlap
    * — the video-dedup staple (re-uploads, re-encodes, clipped copies
    * share most keyframes): media pairs sharing ≥ `minShared` frame
    * content hashes, scored by shared / min(|A|, |B|) containment.
    * With a real perceptual hash in the F2 seam this catches
    * re-encodes; with the stub it is the same inverted-index pipeline
    * over the deterministic chunk hashes — which is what makes it
    * oracle-checkable end to end.
    *
    * Shape is the C-family dedup discipline, NOT an all-pairs scan:
    * distinct per-media signatures → an inverted index on frame_hash →
    * df-capped postings (a hash appearing in > `dfCap` media is
    * boilerplate — a title card, a black frame — and generates
    * quadratic pairs while carrying no discriminative signal; the
    * MinHash family's stop-gram rule) → per-posting pair counts. Every
    * stage keys on frame_hash or the pair, nothing driver-side; the
    * frame decode itself is F2's map-only pass. */
  def dedupFrames(frames: DataFrame, minShared: Long = 2,
      dfCap: Long = 8): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    require(minShared >= 1, s"minShared $minShared must be >= 1")
    require(dfCap >= 2, s"dfCap $dfCap must be >= 2")
    // a frame repeated WITHIN one media counts once toward its signature
    val sig = frames.select($"media_id", $"frame_hash").distinct()
    val sizes = sig.groupBy($"media_id").agg(count(lit(1)).as("n_frames"))
    val postings = sig
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"frame_hash")))
      .filter($"df" <= dfCap)
    val pairs = postings.as("a").join(postings.as("b"),
        $"a.frame_hash" === $"b.frame_hash" && $"a.media_id" < $"b.media_id")
      .groupBy($"a.media_id".as("media_a"), $"b.media_id".as("media_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .filter($"shared_frames" >= minShared)
    pairs
      .join(sizes.withColumnRenamed("media_id", "media_a")
        .withColumnRenamed("n_frames", "n_a"), "media_a")
      .join(sizes.withColumnRenamed("media_id", "media_b")
        .withColumnRenamed("n_frames", "n_b"), "media_b")
      .select($"media_a", $"media_b", $"shared_frames", $"n_a", $"n_b",
        ($"shared_frames".cast("double") / least($"n_a", $"n_b"))
          .as("containment"))
      .orderBy($"media_a", $"media_b")
  }

  def mmDedupFrames(spark: SparkSession, sfDir: String): DataFrame =
    dedupFrames(mmFrames(spark, sfDir))

  // ---------------------------------------------------------------- F21
  /** MEDIA DUPLICATE GROUPS — F8's pair evidence resolved into the
    * per-media keep/drop ledger a video-curation sweep acts on (the
    * C17b move on the media axis): re-upload/re-encode families are
    * TRANSITIVE (a→b and b→c share frames pairwise even when a and c
    * overlap below the pair threshold — pairwise keep-min under-deletes
    * on chains, the C6b lesson), so the F8 pairs feed
    * [[graft.operators.Scale.connectedComponents]] and every media gets
    * its component representative (min media_id, itself when unique)
    * plus the drop verdict. Oracle-checkable end to end because the F8
    * pipeline is deterministic under the stub decoder and the closure
    * is a recursive CTE in DuckDB — the dedupSemanticFixed pattern
    * verbatim. Scale shape: F8's bounded inverted-index pair stage is
    * the only corpus-sized work; the component graph holds only
    * evidence pairs (rare by construction), so resolution takes the
    * union-find fast path or a few flat-lineage rounds. */
  def mmDedupMediaGroups(spark: SparkSession, sfDir: String,
      minShared: Long = 2, dfCap: Long = 8,
      checkpointDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    mmDedupMediaGroupsOf(mmFrames(spark, sfDir),
      Tables.documents(spark, sfDir).select($"doc_id".as("media_id")),
      minShared, dfCap, checkpointDir)
  }

  /** F21 over arbitrary frame and media-id frames — the spec entry. */
  def mmDedupMediaGroupsOf(frames: DataFrame, mediaIds: DataFrame,
      minShared: Long = 2, dfCap: Long = 8,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    val pairs = dedupFrames(frames, minShared, dfCap)
      .select($"media_a".as("id1"), $"media_b".as("id2"))
    val comps = Scale.connectedComponents(pairs,
      checkpointDir = checkpointDir)
    mediaIds
      .join(comps.withColumnRenamed("id", "media_id"), Seq("media_id"),
        "left")
      .select($"media_id",
        coalesce($"comp", $"media_id").as("rep_id"))
      .withColumn("is_dup", $"rep_id" =!= $"media_id")
      .orderBy($"media_id")
  }

  /** DuckDB twin: the F8 pair tree wrapped as a subquery, transitive
    * closure via the recursive CTE (min reachable id = the component
    * representative — exactly connectedComponents' min-label
    * fixpoint). */
  // lazy: references mmDedupFramesSql, declared later in the object
  lazy val mmDedupMediaGroupsSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT media_a AS id1, media_b AS id2
       |  FROM ($mmDedupFramesSql) f),
       |sym AS (SELECT id1 AS s, id2 AS d FROM pairs
       |        UNION SELECT id2, id1 FROM pairs),
       |reach AS (
       |  SELECT s AS id, d AS r FROM sym
       |  UNION
       |  SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s),
       |rep AS (SELECT id, MIN(r) AS m FROM reach GROUP BY id)
       |SELECT d.doc_id AS media_id,
       |  COALESCE(LEAST(rep.m, d.doc_id), d.doc_id) AS rep_id,
       |  (COALESCE(LEAST(rep.m, d.doc_id), d.doc_id) <> d.doc_id) AS is_dup
       |FROM documents d
       |LEFT JOIN rep ON rep.id = d.doc_id
       |ORDER BY media_id""".stripMargin

  /** The frame replay (mmFrameSampleSql) wrapped as a subquery, then
    * the identical signature / df-cap / pair-count tree. */
  val mmDedupFramesSql: String =
    s"""WITH sig AS (
       |  SELECT DISTINCT media_id, frame_hash
       |  FROM ($mmFrameSampleSql) base),
       |sizes AS (
       |  SELECT media_id, COUNT(*) AS n_frames FROM sig GROUP BY media_id),
       |p AS (
       |  SELECT media_id, frame_hash,
       |    COUNT(*) OVER (PARTITION BY frame_hash) AS df
       |  FROM sig),
       |post AS (SELECT media_id, frame_hash FROM p WHERE df <= 8),
       |pairs AS (
       |  SELECT a.media_id AS media_a, b.media_id AS media_b,
       |    COUNT(*) AS shared_frames
       |  FROM post a JOIN post b
       |    ON a.frame_hash = b.frame_hash AND a.media_id < b.media_id
       |  GROUP BY a.media_id, b.media_id
       |  HAVING COUNT(*) >= 2)
       |SELECT media_a, media_b, shared_frames,
       |  sa.n_frames AS n_a, sb.n_frames AS n_b,
       |  CAST(shared_frames AS DOUBLE) / least(sa.n_frames, sb.n_frames)
       |    AS containment
       |FROM pairs
       |JOIN sizes sa ON sa.media_id = media_a
       |JOIN sizes sb ON sb.media_id = media_b
       |ORDER BY media_a, media_b""".stripMargin

  // ---------------------------------------------------------------- F10
  /** SHOT segmentation — F6's cuts turned into the table a video
    * consumer actually wants (per-shot clip spans + a representative
    * keyframe to thumbnail/embed): shot_id is the running count of cut
    * boundaries at-or-before each frame, so every frame lands in
    * exactly one shot and shots tile the media with no gaps. The lag
    * comparison AND the running sum ride the SAME per-media window
    * partitioning — one exchange on media_id carries the whole
    * operator; the keyframe is the shot's FIRST frame via a min-struct
    * (no second window, no join back). The keyframe hash column is
    * what feeds the F4 → D-family embed/index path one hop later. */
  def shots(frames: DataFrame, threshold: Int = 20): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    require(threshold >= 1 && threshold <= 64,
      s"threshold $threshold out of [1, 64]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"media_id").orderBy($"frame_idx")
    frames
      .withColumn("prev_hash", lag($"frame_hash", 1).over(w))
      .withColumn("is_cut",
        when($"prev_hash".isNotNull &&
          expr("bit_count(frame_hash ^ prev_hash)") >= threshold, 1L)
          .otherwise(0L))
      .withColumn("shot_id", sum($"is_cut").over(
        w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy($"media_id", $"shot_id")
      .agg(min($"frame_idx").cast("int").as("start_frame"),
        max($"frame_idx").cast("int").as("end_frame"),
        count(lit(1)).as("n_frames"),
        min(struct($"frame_idx", $"frame_hash"))
          .getField("frame_hash").as("keyframe_hash"))
      .orderBy($"media_id", $"shot_id")
  }

  def mmShots(spark: SparkSession, sfDir: String): DataFrame =
    shots(mmFrames(spark, sfDir))

  val mmShotsSql: String =
    s"""WITH hh AS (
       |  SELECT media_id, frame_idx, frame_hash,
       |    lag(frame_hash) OVER w AS prev_hash
       |  FROM ($mmFrameSampleSql) base
       |  WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)),
       |cuts AS (
       |  SELECT media_id, frame_idx, frame_hash,
       |    CASE WHEN prev_hash IS NOT NULL
       |      AND bit_count(xor(frame_hash, prev_hash)) >= 20
       |      THEN 1 ELSE 0 END AS is_cut
       |  FROM hh),
       |sh AS (
       |  SELECT media_id, frame_idx, frame_hash,
       |    SUM(is_cut) OVER (PARTITION BY media_id ORDER BY frame_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot_id
       |  FROM cuts)
       |SELECT media_id, CAST(shot_id AS BIGINT) AS shot_id,
       |  CAST(MIN(frame_idx) AS INT) AS start_frame,
       |  CAST(MAX(frame_idx) AS INT) AS end_frame,
       |  COUNT(*) AS n_frames,
       |  min_by(frame_hash, frame_idx) AS keyframe_hash
       |FROM sh GROUP BY media_id, shot_id
       |ORDER BY media_id, shot_id""".stripMargin

  // ---------------------------------------------------------------- F14
  /** THUMBNAIL pick — the poster frame every media library needs: per
    * media, the representative keyframe of the LONGEST shot (longest =
    * the content the media mostly is; the keyframe is F10's first
    * frame of that shot — stable under re-encode, unlike "frame 0",
    * which is black/logo lead-in for most real video). Ties break to
    * the earliest shot. Pure composition over F10's one-exchange shot
    * segmentation: the argmax runs through the bounded-heap TopK (k=1)
    * on the shot-count-sized frame — no second pass over frames, no
    * window over the full shot list. The oracle WRAPS the F10 SQL so
    * pick and segmentation cannot drift. */
  def mmThumbnails(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.TopK.perKey(shots(mmFrames(spark, sfDir)),
      Seq("media_id"), Seq($"n_frames".desc, $"shot_id".asc), 1)
      .select($"media_id", $"shot_id", $"start_frame", $"n_frames",
        $"keyframe_hash")
      .orderBy($"media_id")
  }

  val mmThumbnailsSql: String =
    s"""SELECT media_id, shot_id, start_frame, n_frames, keyframe_hash
       |FROM (
       |  SELECT media_id, shot_id, start_frame, n_frames, keyframe_hash,
       |    row_number() OVER (PARTITION BY media_id
       |      ORDER BY n_frames DESC, shot_id) AS rk
       |  FROM ($mmShotsSql) s) t
       |WHERE rk = 1
       |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- F11
  /** AUDIO SILENCE spans — the VAD/trim first pass over F9's level
    * windows: maximal runs of consecutive windows whose RMS sits under
    * `rmsThreshold`, reported as per-media [start_window, end_window]
    * spans with duration and mean level. Gaps-and-islands on
    * (window_idx − row_number) per media — the C19 interval kernel on
    * the audio axis; the level computation itself is F9's map-only
    * decoder pass (payloads never shuffle), so the one exchange here
    * is the per-media window for the island ids. The span mean RMS
    * re-derives from the EXACT integer (energy, samples) sums — not a
    * mean of per-window doubles — so the report hash-checks. */
  def audioSilence(levels: DataFrame, rmsThreshold: Double): DataFrame = {
    val spark = levels.sparkSession
    import spark.implicits._
    require(rmsThreshold > 0, s"rmsThreshold $rmsThreshold must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"media_id").orderBy($"window_idx")
    levels
      .filter($"rms" < rmsThreshold)
      .withColumn("grp",
        $"window_idx" - (row_number().over(w) - lit(1)))
      .groupBy($"media_id", $"grp")
      .agg(min($"window_idx").as("start_window"),
        max($"window_idx").as("end_window"),
        count(lit(1)).as("n_windows"),
        sum($"energy").as("e"), sum($"n_samples").cast("long").as("ns"))
      .select($"media_id", $"start_window", $"end_window", $"n_windows",
        sqrt($"e".cast("double") / $"ns".cast("double")).as("span_rms"))
      .orderBy($"media_id", $"start_window")
  }

  def mmAudioSilence(spark: SparkSession, sfDir: String,
      windowSamples: Int = 64, rmsThreshold: Double = 44.0): DataFrame =
    audioSilence(mmAudioWindows(spark, sfDir, windowSamples), rmsThreshold)

  /** F9's replay at 64-sample windows, then the identical island
    * grouping; span RMS from exact integer sums. */
  val mmAudioSilenceSql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents),
      |w AS (
      |  SELECT doc_id, text, n,
      |    unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS idx
      |  FROM d WHERE n > 0),
      |s AS (
      |  SELECT doc_id AS media_id, CAST(idx AS INT) AS window_idx,
      |    list_transform(
      |      string_split(substring(text, CAST(idx * 64 + 1 AS INT), 64), ''),
      |      c -> ord(c) - 128) AS samples
      |  FROM w),
      |r AS (
      |  SELECT media_id, window_idx,
      |    CAST(len(samples) AS BIGINT) AS ns,
      |    CAST(list_sum(list_transform(samples, x -> x * x)) AS BIGINT)
      |      AS energy,
      |    sqrt(CAST(list_sum(list_transform(samples, x -> x * x)) AS DOUBLE)
      |      / len(samples)) AS rms
      |  FROM s),
      |sil AS (
      |  SELECT media_id, window_idx, ns, energy,
      |    window_idx - (ROW_NUMBER() OVER (
      |      PARTITION BY media_id ORDER BY window_idx) - 1) AS grp
      |  FROM r WHERE rms < 44.0)
      |SELECT media_id, MIN(window_idx) AS start_window,
      |  MAX(window_idx) AS end_window, COUNT(*) AS n_windows,
      |  sqrt(CAST(SUM(energy) AS DOUBLE) / CAST(SUM(ns) AS DOUBLE))
      |    AS span_rms
      |FROM sil GROUP BY media_id, grp
      |ORDER BY media_id, start_window""".stripMargin

  // ---------------------------------------------------------------- F15
  /** TRAINING-CLIP selection — which fixed-length clips a video
    * training run samples from each media: one clip per sufficiently
    * long shot (a clip inside one shot is temporally coherent; a clip
    * spanning a cut teaches the model that cuts are motion), capped
    * per media by LONGEST-shot-first so a thousand-cut music video
    * cannot flood the batch (ties to the earliest shot — F14's rule).
    * Pure composition over F10's one-exchange segmentation: the
    * min-length filter runs on the shot-count-sized frame, the
    * per-media cap through the bounded-heap TopK. The oracle WRAPS
    * the F10 SQL so clip selection and segmentation cannot drift. */
  def mmTrainingClips(spark: SparkSession, sfDir: String,
      clipLen: Int = 8, minFrames: Int = 1,
      maxClipsPerMedia: Int = 4): DataFrame =
    trainingClipsOf(shots(mmFrames(spark, sfDir)),
      clipLen, minFrames, maxClipsPerMedia)

  /** F15 over an arbitrary shot frame (spec entry — plant long and
    * short shots to exercise the filter, the cap, and the ordering).
    * The driver default minFrames = 1 is the honest setting for this
    * corpus: its synthetic frame hashes are pairwise ~32 bits apart,
    * so every transition is a cut and every shot is one frame — a
    * real decode seam yields multi-frame shots and a real minFrames. */
  def trainingClipsOf(sh: DataFrame, clipLen: Int = 8,
      minFrames: Int = 1, maxClipsPerMedia: Int = 4): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    require(clipLen >= 1 && minFrames >= 1 && maxClipsPerMedia >= 1,
      s"clipLen/minFrames/maxClipsPerMedia must be positive")
    graft.plans.TopK.perKey(sh.filter($"n_frames" >= minFrames),
        Seq("media_id"), Seq($"n_frames".desc, $"shot_id".asc),
        maxClipsPerMedia)
      .select($"media_id", $"shot_id",
        $"start_frame".as("clip_start"),
        least($"n_frames", lit(clipLen.toLong)).cast("int").as("clip_len"))
      .orderBy($"media_id", $"shot_id")
  }

  def mmTrainingClipsSql(clipLen: Int = 8, minFrames: Int = 1,
      maxClipsPerMedia: Int = 4): String =
    s"""WITH sh AS ($mmShotsSql),
       |pick AS (
       |  SELECT media_id, shot_id, start_frame, n_frames,
       |    ROW_NUMBER() OVER (PARTITION BY media_id
       |      ORDER BY n_frames DESC, shot_id) AS rn
       |  FROM sh WHERE n_frames >= $minFrames)
       |SELECT media_id, shot_id, start_frame AS clip_start,
       |  CAST(least(n_frames, $clipLen) AS INT) AS clip_len
       |FROM pick WHERE rn <= $maxClipsPerMedia
       |ORDER BY media_id, shot_id""".stripMargin

  // ---------------------------------------------------------------- F16
  /** MEDIA QUALITY GATE — the F-family's C8: one pass/fail verdict
    * per media from the three signals a video-curation pipeline
    * screens on BEFORE paying for decode-heavy downstream work:
    * duration in usable bounds (truncated uploads and unbounded
    * streams both fail), enough motion (mean inter-frame hamming —
    * static slates/test cards fail; media too short to have a
    * transition read as motionless), and not mostly silence (silent
    * window mass over total windows). Composes F1/F13/F11 verbatim —
    * gate and member reports cannot drift; everything post-member is
    * media-sized LEFT joins off each member's one exchange. Fractions
    * compare on ROUNDED values (both engines round identically, so
    * the boolean cut cannot sit on an ulp). */
  def mmQualityGate(spark: SparkSession, sfDir: String,
      minDuration: Double = 2.0, maxDuration: Double = 600.0,
      motionFloor: Double = 5.0, maxSilentFrac: Double = 0.5): DataFrame = {
    import spark.implicits._
    val manifest = mmManifest(spark, sfDir)
      .select($"media_id", $"duration_s")
    val motion = mmMotionProfile(spark, sfDir)
      .select($"media_id", $"mean_hamming")
    // ONE analyzer pass feeds both audio consumers: calling
    // mmAudioSilence + mmAudioWindows separately would decode every
    // payload twice AND re-pin the window size at two sites; the
    // pinned frame is numeric window rows — far smaller than the
    // payloads a second decode pass would re-read (gapFill's
    // multi-consumer discipline)
    val win = mmAudioWindows(spark, sfDir, 64).localCheckpoint(true)
    val silent = audioSilence(win, 44.0)
      .groupBy($"media_id").agg(sum($"n_windows").as("silent_windows"))
    val windows = win
      .groupBy($"media_id").agg(count(lit(1)).as("total_windows"))
    manifest
      .join(motion, Seq("media_id"), "left")
      .join(windows, Seq("media_id"), "left")
      .join(silent, Seq("media_id"), "left")
      .select($"media_id", $"duration_s",
        coalesce($"mean_hamming", lit(0.0)).as("mean_hamming"),
        round(coalesce($"silent_windows", lit(0L)).cast("double") /
          $"total_windows", 6).as("silent_frac"))
      .withColumn("duration_ok",
        $"duration_s" >= minDuration && $"duration_s" <= maxDuration)
      .withColumn("motion_ok", $"mean_hamming" >= motionFloor)
      .withColumn("audio_ok",
        $"silent_frac".isNotNull && $"silent_frac" <= maxSilentFrac)
      .withColumn("passed", $"duration_ok" && $"motion_ok" && $"audio_ok")
      .orderBy($"media_id")
  }

  def mmQualityGateSql(minDuration: Double = 2.0,
      maxDuration: Double = 600.0, motionFloor: Double = 5.0,
      maxSilentFrac: Double = 0.5): String =
    s"""WITH man AS (
       |  SELECT media_id, duration_s FROM ($mmManifestSql)),
       |mot AS (
       |  SELECT media_id, mean_hamming FROM ($mmMotionProfileSql)),
       |sil AS (
       |  SELECT media_id, CAST(SUM(n_windows) AS BIGINT) AS silent_windows
       |  FROM ($mmAudioSilenceSql) GROUP BY media_id),
       |tot AS (
       |  SELECT doc_id AS media_id,
       |    CAST(ceil(length(text) / 64.0) AS BIGINT) AS total_windows
       |  FROM documents WHERE length(text) > 0),
       |j AS (
       |  SELECT man.media_id, man.duration_s,
       |    COALESCE(mot.mean_hamming, 0.0) AS mean_hamming,
       |    ROUND(CAST(COALESCE(sil.silent_windows, 0) AS DOUBLE)
       |      / tot.total_windows, 6) AS silent_frac
       |  FROM man
       |  LEFT JOIN mot ON man.media_id = mot.media_id
       |  LEFT JOIN tot ON man.media_id = tot.media_id
       |  LEFT JOIN sil ON man.media_id = sil.media_id)
       |SELECT media_id, duration_s, mean_hamming, silent_frac,
       |  duration_s >= $minDuration AND duration_s <= $maxDuration
       |    AS duration_ok,
       |  mean_hamming >= $motionFloor AS motion_ok,
       |  silent_frac IS NOT NULL AND silent_frac <= $maxSilentFrac
       |    AS audio_ok,
       |  (duration_s >= $minDuration AND duration_s <= $maxDuration)
       |    AND mean_hamming >= $motionFloor
       |    AND (silent_frac IS NOT NULL AND silent_frac <= $maxSilentFrac)
       |    AS passed
       |FROM j ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- F17
  /** STREAMING training clips — F15's live half: a clip emits the
    * MOMENT its shot closes (the next cut arrives), so a video-
    * training ingest pipeline can hand clips to the encoder while the
    * media is still uploading instead of waiting for batch
    * segmentation. Carries F7's scene-cut state machine extended with
    * the open shot (start index, running shot id, sampled-frame
    * count); a frame whose Hamming distance to the previous crosses
    * the threshold closes the open shot — emitted as a clip when it
    * has ≥ minFrames sampled frames, truncated to clipLen exactly
    * like batch F15.
    *
    * CONTRACT — the stream emits EVERY qualifying clip, uncapped:
    * F15's longest-shot-first per-media cap is a completed-media
    * selection (longest is unknowable mid-stream) and belongs to the
    * batch/downstream side. The final still-open shot flushes on an
    * END-OF-MEDIA marker: any frame row with frame_bytes < 0 (what a
    * gateway's stream-closed event maps to — the F12 convention).
    * Replays drop at the frame-index fence; the flapStream
    * in-order-per-media delivery contract applies. Parity spec:
    * emitted == batch `trainingClipsOf(shots(frames))` uncapped,
    * exactly, once markers arrive; minus open tails before them. */
  def clipStream(frames: Dataset[SampledFrame], threshold: Int = 20,
      clipLen: Int = 8, minFrames: Int = 1): Dataset[TrainingClip] = {
    import frames.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(threshold >= 1 && threshold <= 64,
      s"threshold $threshold out of [1, 64]")
    require(clipLen >= 1 && minFrames >= 1,
      s"clipLen/minFrames must be positive")
    frames
      .groupByKey(_.media_id)
      .flatMapGroupsWithState[ClipState, TrainingClip](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id, it, state) =>
          val sorted = it.toArray.sortBy(_.frame_idx)
          var st = state.getOption.orNull
          val out = Seq.newBuilder[TrainingClip]
          def closeShot(s: ClipState): Unit =
            if (s.shotFrames >= minFrames)
              out += TrainingClip(id, s.shotId, s.shotStart,
                math.min(clipLen, s.shotFrames))
          sorted.foreach { f =>
            if (st == null || f.frame_idx > st.lastIdx) { // fence
              if (f.frame_bytes < 0) { // end-of-media marker: flush
                if (st != null) {
                  closeShot(st)
                  st = st.copy(lastIdx = f.frame_idx, shotFrames = 0)
                }
              } else if (st == null || st.shotFrames == 0) {
                // first frame of the media (or after a flush): open
                st = ClipState(f.frame_idx, f.frame_hash,
                  shotStart = f.frame_idx,
                  shotId = if (st == null) 0L else st.shotId + 1,
                  shotFrames = 1)
              } else {
                val h = java.lang.Long.bitCount(f.frame_hash ^ st.lastHash)
                if (h >= threshold) {
                  closeShot(st)
                  st = ClipState(f.frame_idx, f.frame_hash,
                    shotStart = f.frame_idx, shotId = st.shotId + 1,
                    shotFrames = 1)
                } else {
                  st = st.copy(lastIdx = f.frame_idx,
                    lastHash = f.frame_hash, shotFrames = st.shotFrames + 1)
                }
              }
            }
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  // ---------------------------------------------------------------- F12
  /** STREAMING audio silence — F11's live twin (VAD at ingest: the
    * reference is a live media gateway, and trimming/flagging silence
    * as the audio lands is the first thing an audio-training consumer
    * asks of it). Per-media state is the OPEN silence run — run start
    * plus the exact integer (energy, sample) sums — and the last seen
    * window index as the replay fence: the two-longs-plus-two-sums
    * shape F7 proved for frames, applied to level windows. Each
    * trigger folds its slice in window_idx order; a silent window
    * (rms < threshold) contiguous with the open run extends it, any
    * break (a loud window, or a gap in the index sequence — the batch
    * kernel's islands break on BOTH) closes the run and emits the
    * span, with span RMS re-derived from the carried integer sums so
    * the row is bit-identical to batch F11's. A window at or before
    * the fence drops (at-least-once transport; the flapStream
    * in-order-per-media delivery contract applies). The final still-
    * open run per media is withheld until something closes it — feed
    * an end-of-media marker (any loud window past the last index) to
    * flush, which is what a gateway's stream-closed event is; the
    * parity spec pins emitted == batch minus open tails before the
    * markers and == batch exactly after. State is O(live media). */
  // ---------------------------------------------------------------- F19
  /** SILENCE TRIM — the speech-pipeline first cut (what an ASR /
    * audio-training ingest actually does with F11's VAD signal): per
    * media, drop the LEADING and TRAILING silent window runs and
    * report what remains — kept span, trimmed masses, kept fraction.
    * Interior silence stays (pauses are speech; only dead air at the
    * edges is trim territory — the span-level interior report is
    * F11's). Silence is decided in EXACT integer form
    * (energy < threshold² · samples ⟺ rms < threshold, sqrt is
    * monotone) so no window's verdict sits on an ulp.
    *
    * Shape: F9's map-only window pass, then ONE media-keyed aggregate —
    * the leading run is min(idx) over non-silent windows, the trailing
    * run is total − 1 − max(idx), both conditional aggregates in the
    * same GROUP BY; no window function, no join-back. An all-silent
    * media keeps its row with kept = 0 (a gate must list what it
    * dropped — the C50 convention). */
  def mmSilenceTrim(spark: SparkSession, sfDir: String,
      rmsThreshold: Int = 44, windowSamples: Int = 256): DataFrame =
    mmSilenceTrimOf(mmAudioWindows(spark, sfDir, windowSamples), rmsThreshold)

  def mmSilenceTrimOf(windows: DataFrame, rmsThreshold: Int = 44): DataFrame = {
    val spark = windows.sparkSession
    import spark.implicits._
    require(rmsThreshold >= 0, s"rmsThreshold $rmsThreshold negative")
    val thr2 = rmsThreshold.toLong * rmsThreshold
    windows
      .select($"media_id", $"window_idx", $"n_samples", $"energy",
        ($"energy" >= lit(thr2) * $"n_samples").as("loud"))
      .groupBy($"media_id")
      .agg(
        count(lit(1)).as("n_windows"),
        min(when($"loud", $"window_idx")).as("first_loud"),
        max(when($"loud", $"window_idx")).as("last_loud"))
      .select($"media_id", $"n_windows",
        coalesce($"first_loud", $"n_windows".cast("int")).as("lead_trim"),
        when($"last_loud".isNotNull, $"n_windows".cast("int") - 1 - $"last_loud")
          .otherwise(lit(0)).as("tail_trim"),
        when($"first_loud".isNotNull, $"last_loud" - $"first_loud" + 1)
          .otherwise(lit(0)).as("kept_windows"))
      .withColumn("kept_frac",
        round($"kept_windows".cast("double") / $"n_windows", 6))
      .orderBy($"media_id")
  }

  /** DuckDB replay: the F9 window CTE + the same conditional min/max
    * aggregate tree over the integer silence verdicts. */
  def mmSilenceTrimSql(rmsThreshold: Int = 44): String = {
    val thr2 = rmsThreshold.toLong * rmsThreshold
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS n FROM documents),
       |w AS (
       |  SELECT doc_id, text, n,
       |    unnest(range(0, CAST(ceil(n / 256.0) AS BIGINT))) AS idx
       |  FROM d WHERE n > 0),
       |s AS (
       |  SELECT doc_id AS media_id, CAST(idx AS INT) AS window_idx,
       |    list_transform(
       |      string_split(substring(text, CAST(idx * 256 + 1 AS INT), 256), ''),
       |      c -> ord(c) - 128) AS samples
       |  FROM w),
       |lv AS (
       |  SELECT media_id, window_idx,
       |    CAST(len(samples) AS BIGINT) AS n_samples,
       |    CAST(list_sum(list_transform(samples, x -> x * x)) AS BIGINT)
       |      AS energy
       |  FROM s),
       |a AS (
       |  SELECT media_id, COUNT(*) AS n_windows,
       |    min(CASE WHEN energy >= $thr2 * n_samples THEN window_idx END)
       |      AS first_loud,
       |    max(CASE WHEN energy >= $thr2 * n_samples THEN window_idx END)
       |      AS last_loud
       |  FROM lv GROUP BY media_id)
       |SELECT media_id, n_windows,
       |  coalesce(first_loud, CAST(n_windows AS INT)) AS lead_trim,
       |  CASE WHEN last_loud IS NOT NULL
       |    THEN CAST(n_windows AS INT) - 1 - last_loud ELSE 0 END AS tail_trim,
       |  CASE WHEN first_loud IS NOT NULL
       |    THEN last_loud - first_loud + 1 ELSE 0 END AS kept_windows,
       |  ROUND(CAST(CASE WHEN first_loud IS NOT NULL
       |      THEN last_loud - first_loud + 1 ELSE 0 END AS DOUBLE)
       |    / n_windows, 6) AS kept_frac
       |FROM a ORDER BY media_id""".stripMargin
  }

  // ---------------------------------------------------------------- F20
  /** LOUDNESS NORMALIZATION pass — the gain computation + clipping
    * audit a speech/audio-training pipeline runs before resampling:
    * per media, the RMS over the WHOLE track (one sqrt of the exact
    * integer energy/sample sums — not a mean of window RMSes, the F11
    * discipline), the gain that would bring it to `targetRms`, and how
    * many windows would CLIP at that gain (peak × gain > 127). The
    * clip verdict is decided in exact integer arithmetic —
    * peak² · target² · Σsamples > 127² · Σenergy, squaring is monotone
    * on non-negatives — so the count cannot drift on an ulp while the
    * reported gain stays one IEEE sqrt + divide, identical in both
    * engines.
    *
    * Shape: F9's map-only windows, ONE exchange — a media-partitioned
    * window stage carries the track sums onto each row for the clip
    * test, and the following media-keyed aggregate reuses that
    * partitioning (no second exchange; the B30 window-then-agg rule). */
  def mmLoudnessNorm(spark: SparkSession, sfDir: String,
      targetRms: Int = 60, windowSamples: Int = 256): DataFrame =
    mmLoudnessNormOf(mmAudioWindows(spark, sfDir, windowSamples), targetRms)

  def mmLoudnessNormOf(windows: DataFrame, targetRms: Int = 60): DataFrame = {
    val spark = windows.sparkSession
    import spark.implicits._
    require(targetRms > 0, s"targetRms $targetRms must be positive")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"media_id")
    val t2 = targetRms.toLong * targetRms
    windows
      .select($"media_id", $"peak", $"n_samples", $"energy")
      .withColumn("sum_e", sum($"energy").over(w))
      .withColumn("sum_n", sum($"n_samples".cast("long")).over(w))
      .groupBy($"media_id")
      .agg(
        count(lit(1)).as("n_windows"),
        max($"sum_e").as("te"), max($"sum_n").as("tn"),
        sum(when($"peak".cast("long") * $"peak" * t2 * $"sum_n" >
          lit(16129L) * $"sum_e", 1L).otherwise(0L)).as("clipped_windows"))
      .select($"media_id", $"n_windows",
        round(sqrt($"te".cast("double") / $"tn"), 6).as("media_rms"),
        when($"te" > 0,
          round(lit(targetRms.toDouble) / sqrt($"te".cast("double") / $"tn"), 6))
          .as("gain"),
        $"clipped_windows")
      .withColumn("clipped_frac",
        round($"clipped_windows".cast("double") / $"n_windows", 6))
      .orderBy($"media_id")
  }

  /** DuckDB replay: the F9 window CTE + per-media integer sums via a
    * window stage + the identical integer clip inequality. */
  def mmLoudnessNormSql(targetRms: Int = 60): String = {
    val t2 = targetRms.toLong * targetRms
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS n FROM documents),
       |w AS (
       |  SELECT doc_id, text, n,
       |    unnest(range(0, CAST(ceil(n / 256.0) AS BIGINT))) AS idx
       |  FROM d WHERE n > 0),
       |s AS (
       |  SELECT doc_id AS media_id,
       |    list_transform(
       |      string_split(substring(text, CAST(idx * 256 + 1 AS INT), 256), ''),
       |      c -> ord(c) - 128) AS samples
       |  FROM w),
       |lv AS (
       |  SELECT media_id,
       |    CAST(len(samples) AS BIGINT) AS n_samples,
       |    CAST(list_max(list_transform(samples, x -> abs(x))) AS BIGINT)
       |      AS peak,
       |    CAST(list_sum(list_transform(samples, x -> x * x)) AS BIGINT)
       |      AS energy
       |  FROM s),
       |t AS (
       |  SELECT media_id, peak, energy, n_samples,
       |    SUM(energy) OVER (PARTITION BY media_id) AS sum_e,
       |    SUM(n_samples) OVER (PARTITION BY media_id) AS sum_n
       |  FROM lv),
       |a AS (
       |  SELECT media_id, COUNT(*) AS n_windows,
       |    max(sum_e) AS te, max(sum_n) AS tn,
       |    CAST(SUM(CASE WHEN peak * peak * $t2 * sum_n > 16129 * sum_e
       |      THEN 1 ELSE 0 END) AS BIGINT) AS clipped_windows
       |  FROM t GROUP BY media_id)
       |SELECT media_id, n_windows,
       |  ROUND(sqrt(CAST(te AS DOUBLE) / tn), 6) AS media_rms,
       |  CASE WHEN te > 0
       |    THEN ROUND($targetRms / sqrt(CAST(te AS DOUBLE) / tn), 6)
       |  END AS gain,
       |  clipped_windows,
       |  ROUND(CAST(clipped_windows AS DOUBLE) / n_windows, 6) AS clipped_frac
       |FROM a ORDER BY media_id""".stripMargin
  }

  // ---------------------------------------------------------------- F18
  /** STREAMING QUALITY GATE — F16 moved to where its value actually
    * lives: gate-before-storage at ingest, one verdict the moment each
    * media closes, so a failing upload is rejected BEFORE the pipeline
    * pays for storage and decode-heavy downstream work. Consumes the
    * gateway's interleaved per-media event stream (frame samples,
    * audio windows, and the stream-closed marker — the F12/F17
    * convention); per-media state is F7's frame fence + running
    * Hamming sums and F12's window fence + silent/total counts — a
    * fixed handful of longs however long the media runs. The verdict
    * row computes with the IDENTICAL expression trees as batch F16
    * (same rounds, same coalesces, same boolean cuts), duration joined
    * from the static manifest at emit (stream-static join — the
    * registry-lookup shape), so settled verdicts are bit-equal to the
    * batch gate's (parity spec). A closed media's state keeps its
    * fence: replayed events and duplicate markers drop instead of
    * re-emitting. */
  def qualityGateStream(ingest: Dataset[MediaIngestEvent],
      manifest: DataFrame, minDuration: Double = 2.0,
      maxDuration: Double = 600.0, motionFloor: Double = 5.0,
      maxSilentFrac: Double = 0.5, rmsThreshold: Double = 44.0): DataFrame = {
    val spark = ingest.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(rmsThreshold > 0, s"rmsThreshold $rmsThreshold must be positive")
    val summaries = ingest
      .groupByKey(_.media_id)
      .flatMapGroupsWithState[GateState, GateSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id, it, state) =>
          var st = state.getOption.getOrElse(GateState(
            closed = false, lastFrameIdx = -1, lastHash = 0L,
            hammingSum = 0L, nTransitions = 0L, lastWinIdx = -1,
            totalWindows = 0L, silentWindows = 0L))
          val out = Seq.newBuilder[GateSummary]
          if (!st.closed) {
            // one trigger may interleave all three kinds: fold each
            // signal in its own index order, marker strictly last
            val evs = it.toArray
            evs.filter(_.kind == "frame").sortBy(_.idx).foreach { f =>
              if (!st.closed && f.idx > st.lastFrameIdx) {
                if (st.lastFrameIdx >= 0) {
                  st = st.copy(
                    hammingSum = st.hammingSum +
                      java.lang.Long.bitCount(f.frame_hash ^ st.lastHash),
                    nTransitions = st.nTransitions + 1)
                }
                st = st.copy(lastFrameIdx = f.idx, lastHash = f.frame_hash)
              }
            }
            evs.filter(_.kind == "audio").sortBy(_.idx).foreach { w =>
              if (!st.closed && w.idx > st.lastWinIdx) {
                st = st.copy(lastWinIdx = w.idx,
                  totalWindows = st.totalWindows + 1,
                  silentWindows = st.silentWindows +
                    (if (w.rms < rmsThreshold) 1L else 0L))
              }
            }
            if (evs.exists(_.kind == "end")) {
              out += GateSummary(id, st.hammingSum, st.nTransitions,
                st.silentWindows, st.totalWindows)
              st = st.copy(closed = true)
            }
          }
          state.update(st)
          out.result().iterator
      }
    // verdict columns: the batch gate's expression trees verbatim
    summaries.toDF()
      .join(manifest.select(col("media_id"), col("duration_s")),
        Seq("media_id"))
      .select(col("media_id"), col("duration_s"),
        coalesce(round(col("hamming_sum").cast("double") /
          nullif(col("n_transitions"), lit(0L)), 6), lit(0.0))
          .as("mean_hamming"),
        when(col("total_windows") > 0L,
          round(col("silent_windows").cast("double") /
            col("total_windows"), 6)).as("silent_frac"))
      .withColumn("duration_ok",
        col("duration_s") >= minDuration && col("duration_s") <= maxDuration)
      .withColumn("motion_ok", col("mean_hamming") >= motionFloor)
      .withColumn("audio_ok",
        col("silent_frac").isNotNull && col("silent_frac") <= maxSilentFrac)
      .withColumn("passed",
        col("duration_ok") && col("motion_ok") && col("audio_ok"))
  }

  def audioSilenceStream(windows: Dataset[AudioWindow],
      rmsThreshold: Double = 44.0): Dataset[SilenceSpan] = {
    import windows.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(rmsThreshold > 0, s"rmsThreshold $rmsThreshold must be positive")
    windows
      .groupByKey(_.media_id)
      .flatMapGroupsWithState[SilenceState, SilenceSpan](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id, it, state) =>
          val sorted = it.toArray.sortBy(_.window_idx)
          var st = state.getOption.getOrElse(
            SilenceState(lastSeenIdx = -1, runOpen = false,
              runStart = 0, energy = 0L, samples = 0L))
          val out = Seq.newBuilder[SilenceSpan]
          def close(endIdx: Int): Unit = if (st.runOpen) {
            out += SilenceSpan(id, st.runStart, endIdx,
              (endIdx - st.runStart + 1).toLong,
              math.sqrt(st.energy.toDouble / st.samples.toDouble))
            st = st.copy(runOpen = false, energy = 0L, samples = 0L)
          }
          sorted.foreach { w =>
            if (w.window_idx > st.lastSeenIdx) { // fence: replays drop
              val silent = w.rms < rmsThreshold
              val contiguous = st.runOpen && w.window_idx == st.lastSeenIdx + 1
              if (!silent) close(st.lastSeenIdx)
              else if (contiguous)
                st = st.copy(energy = st.energy + w.energy,
                  samples = st.samples + w.n_samples)
              else {
                close(st.lastSeenIdx) // index gap: islands break
                st = st.copy(runOpen = true, runStart = w.window_idx,
                  energy = w.energy, samples = w.n_samples.toLong)
              }
              st = st.copy(lastSeenIdx = w.window_idx)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  // ---------------------------------------------------------------- F23
  /** PROXY-ESCALATED TOP-K — the SIGMOD'21 probabilistic-top-k shape
    * for video analytics, deterministic form: answering "the k media
    * with the most shot changes" with the full decode pass prices the
    * query at the whole corpus; instead a METADATA-ONLY proxy
    * (duration off the manifest — runtime predicts cut volume, zero
    * decode) ranks candidates, only the top k·oversample get the
    * expensive frame-decode cut count (F6's boundary rule, totaled),
    * and the answer is the exact top-k among them. `oversample` is
    * the recall knob (their probabilistic guarantee, as an explicit
    * budget): candidates the proxy misses are the recall loss, and
    * [[mmTopkEscalateRecall]] makes that loss a driver-visible number
    * against the full-decode ground truth (guarded AUDIT work — the
    * C54/D8 discipline).
    *
    * Scale: stage one is manifest-only (TakeOrdered, no decode); the
    * candidate id slice is driver-bounded (k·oversample) and prunes
    * the frame generator's scan, so decode cost is candidates — not
    * corpus; the final top-k window rides ≤ k·oversample rows. */
  def mmTopkEscalate(spark: SparkSession, sfDir: String, k: Int = 5,
      oversample: Int = 4): DataFrame = {
    import spark.implicits._
    require(k >= 1 && oversample >= 1,
      s"bad params k=$k oversample=$oversample")
    // stage 1: zero-decode proxy ranking; ≤ k·oversample collected
    // ids. The proxy is duration (longest first): more runtime means
    // more frame transitions and so more cuts — a real metadata-only
    // signal about where the top of the cut-count ranking lives
    // (bitrate, the obvious proxy, is constant by construction on
    // this corpus and carries nothing)
    val cand = mmManifest(spark, sfDir)
      .select($"media_id", $"duration_s".as("proxy_score"))
      .orderBy($"proxy_score".desc, $"media_id")
      .limit(k * oversample)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val candIds = cand.map(_._1)
    // stage 2: the expensive motion score over ONLY the candidates —
    // the media_id filter sits below the frame generator, so only
    // candidate payloads decode
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"media_id").orderBy($"frame_idx")
    val deep = mmFrames(spark, sfDir)
      .filter($"media_id".isin(candIds: _*))
      .withColumn("prev_hash", lag($"frame_hash", 1).over(w))
      .withColumn("hamming", when($"prev_hash".isNotNull,
        expr("CAST(bit_count(frame_hash ^ prev_hash) AS INT)")))
      .groupBy($"media_id")
      .agg(sum(when($"hamming" >= 20, 1L).otherwise(0L)).as("n_cuts"))
    // ≤ k·oversample rows ride this window — bounded by construction
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy($"n_cuts".desc, $"media_id")
    deep.join(broadcast(cand.toSeq.toDF("media_id", "proxy_score")),
        Seq("media_id"))
      .withColumn("rank", row_number().over(wAll))
      .filter($"rank" <= k)
      .select($"rank", $"media_id", $"proxy_score", $"n_cuts")
      .orderBy($"rank")
  }

  /** The escalation tier's recall vs the FULL-decode top-k — ground
    * truth is one whole-corpus motion pass (audit work; at corpus
    * scale run it on a sampled slice). One row. */
  def mmTopkEscalateRecall(spark: SparkSession, sfDir: String,
      k: Int = 5, oversample: Int = 4): DataFrame = {
    import spark.implicits._
    val got = mmTopkEscalate(spark, sfDir, k, oversample)
      .select($"media_id").collect().map(_.getLong(0)).toSet
    val truth = mmMotionProfile(spark, sfDir)
      .orderBy($"n_cuts".desc, $"media_id").limit(k)
      .select($"media_id").collect().map(_.getLong(0)).toSet
    val hits = got.intersect(truth).size
    Seq((k, oversample, hits,
      math.rint(hits.toDouble / k * 1e6) / 1e6))
      .toDF("k", "oversample", "hits", "recall")
  }

  // ---------------------------------------------------------------- F27
  /** INTERLEAVED MULTIMODAL SEQUENCE PACKING — the packer a
    * vision-language training run needs and no text packer provides:
    * an interleaved document's context-window cost is its text tokens
    * PLUS a patch-token block per attached image (a ViT tower turns a
    * W×H image into ceilDiv(W,p)·ceilDiv(H,p) patch embeddings, plus
    * begin/end marker tokens), and an image block sliced by a
    * sequence cut is UNTRAINABLE — half a patch grid reconstructs no
    * image — so the only correct layout is doc-aware (document whole
    * in one sequence, images intact by containment). Cost model here:
    * text = the corpus tokenizer's count (C13's unit); images per doc
    * and their raster sizes derive deterministically from the F1
    * manifest's metadata formulas (id-keyed, so the oracle can price
    * the same images); per-image cost = integer-exact
    * ((W+p−1) div p)·((H+p−1) div p) + 2 markers — integer ceil, no
    * float in either engine. Packing is [[Curation.packDocAwareFromCounts]]
    * verbatim (one kernel, every cost model): length-bucketed
    * slotting over one stratified prefix-sum rank, zero cross-boundary
    * docs, pad bounded by g per doc. Docs over seqLen flag
    * `truncated` — the packer's honest signal that a 3-image doc
    * needs a bigger window or image downsampling, not a silent cut.
    * Scale: one scan, per-row arithmetic, the kernel's two-pass rank —
    * no join, no window over the corpus; the binary payload column is
    * never read (parquet prunes to metadata + text). ORACLE-CHECKED:
    * the cost CTE splices into C63's SQL twin. */
  def mmPackInterleavedOf(docs: DataFrame, seqLen: Int = 8192,
      g: Int = 256, patch: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(patch >= 1, s"patch size must be >= 1 (got $patch)")
    val counts = docs
      .select($"doc_id",
        size(TextAnalysis.tokens()).cast("long").as("n_text_tokens"),
        ($"doc_id" % 3).cast("long").as("n_images"),
        (lit(320) + ($"doc_id" % 4) * 160).cast("long").as("w"),
        (lit(240) + ($"doc_id" % 4) * 120).cast("long").as("h"))
      .withColumn("image_tokens", $"n_images" *
        (expr(s"((w + ${patch - 1}) div $patch) * " +
          s"((h + ${patch - 1}) div $patch)") + lit(2L)))
      .select($"doc_id", $"n_text_tokens", $"n_images", $"image_tokens",
        ($"n_text_tokens" + $"image_tokens").as("n_tokens"))
    Curation.packDocAwareFromCounts(counts, seqLen, g,
      keep = Seq("n_text_tokens", "n_images", "image_tokens"))
  }

  def mmPackInterleaved(spark: SparkSession, sfDir: String,
      seqLen: Int = 8192, g: Int = 256, patch: Int = 16): DataFrame =
    mmPackInterleavedOf(Tables.documents(spark, sfDir), seqLen, g, patch)

  /** The F27 cost CTE (doc_id, n_text_tokens, n_images, image_tokens,
    * n_tokens) in DuckDB SQL — spliced into C63's SQL twin so packer
    * and oracle share one cost definition per engine. */
  private def mmPackCountsSql(patch: Int): String =
    s"""SELECT doc_id, n_text_tokens, n_images, image_tokens,
       |    n_text_tokens + image_tokens AS n_tokens
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
       |        AS BIGINT) AS n_text_tokens,
       |      CAST(doc_id % 3 AS BIGINT) AS n_images,
       |      CAST((doc_id % 3) * (
       |        ((320 + (doc_id % 4) * 160 + ${patch - 1}) // $patch)
       |        * ((240 + (doc_id % 4) * 120 + ${patch - 1}) // $patch)
       |        + 2) AS BIGINT) AS image_tokens
       |    FROM documents)""".stripMargin

  def mmPackInterleavedSql(seqLen: Int = 8192, g: Int = 256,
      patch: Int = 16): String =
    Curation.packDocAwareSqlFrom(mmPackCountsSql(patch), seqLen, g,
      keep = Seq("n_text_tokens", "n_images", "image_tokens"))

  // --------------------------------------------------------------- F27b
  /** PER-SEQUENCE MODALITY-MIX AUDIT over the F27 layout — C43's
    * observability discipline for the multimodal packer: what a VLM
    * team actually polls is "are my context windows carrying images
    * or padding". One row per packed sequence (bucket, seq_in_bucket)
    * with its doc/image counts, token accounting, and image share.
    * The accounting is EXACT by construction and the spec pins the
    * invariant: used + pad + tail_gap + align_gap = seqLen for every
    * sequence (used = Σ min(n_tokens, seqLen), pad = per-doc bucket
    * round-up, tail_gap = slots the bucket's capacity never filled,
    * align_gap = the fixed seqLen mod bucket remainder no slot can
    * occupy when seqLen is not a bucket multiple). Truncated
    * docs report their full declared image cost — the report prices
    * DEMAND, the `n_truncated` column says what the cut actually
    * dropped. One rollup on the packed frame — group key is the
    * sequence identity, so the exchange carries the packed rows
    * once. */
  def mmPackReportOf(docs: DataFrame, seqLen: Int = 8192, g: Int = 256,
      patch: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    mmPackInterleavedOf(docs, seqLen, g, patch)
      .groupBy($"bucket", $"seq_in_bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_images").as("n_images"),
        sum($"image_tokens").as("image_tokens"),
        sum(least($"n_tokens", lit(seqLen.toLong))).as("used_tokens"),
        sum($"pad_tokens").as("pad_tokens"),
        sum(when($"truncated", 1L).otherwise(0L)).as("n_truncated"))
      .withColumn("tail_gap_tokens",
        (expr(s"$seqLen div bucket") - $"n_docs") * $"bucket")
      // seqLen not divisible by the bucket width leaves a fixed
      // remainder no slot can occupy — the bucketed layout's third
      // waste term, priced explicitly so the accounting closes
      .withColumn("align_gap_tokens", expr(s"$seqLen % bucket"))
      .withColumn("image_token_share",
        $"image_tokens".cast("double") / seqLen)
      .orderBy($"bucket", $"seq_in_bucket")
  }

  def mmPackReport(spark: SparkSession, sfDir: String,
      seqLen: Int = 8192, g: Int = 256, patch: Int = 16): DataFrame =
    mmPackReportOf(Tables.documents(spark, sfDir), seqLen, g, patch)

  def mmPackReportSql(seqLen: Int = 8192, g: Int = 256,
      patch: Int = 16): String =
    s"""WITH p AS (SELECT * FROM (${mmPackInterleavedSql(seqLen, g, patch)}))
       |SELECT bucket, seq_in_bucket, COUNT(*) AS n_docs,
       |  CAST(SUM(n_images) AS BIGINT) AS n_images,
       |  CAST(SUM(image_tokens) AS BIGINT) AS image_tokens,
       |  CAST(SUM(LEAST(n_tokens, $seqLen)) AS BIGINT) AS used_tokens,
       |  CAST(SUM(pad_tokens) AS BIGINT) AS pad_tokens,
       |  CAST(SUM(CASE WHEN truncated THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_truncated,
       |  CAST(($seqLen // MAX(bucket) - COUNT(*)) * MAX(bucket) AS BIGINT)
       |    AS tail_gap_tokens,
       |  CAST($seqLen % MAX(bucket) AS BIGINT) AS align_gap_tokens,
       |  CAST(SUM(image_tokens) AS DOUBLE) / $seqLen AS image_token_share
       |FROM p GROUP BY bucket, seq_in_bucket
       |ORDER BY bucket, seq_in_bucket""".stripMargin

  // --------------------------------------------------------------- F27c
  /** ADAPTIVE-RESOLUTION PACKING — the operator F27's `truncated` flag
    * points at (AnyRes-style): a doc whose image blocks overflow the
    * window is not cut, its images are DOWNSAMPLED — halving raster
    * resolution doubles the effective patch size and quarters the
    * patch grid — through a fixed ladder (p, 2p, 4p), taking the FIRST
    * rung that fits; only a doc that overflows even the coarsest rung
    * still flags `truncated`. The choice is per-row integer CASE
    * arithmetic over the three candidate costs (no iteration — the
    * ladder is a closed form), so the slot stays one scan + the C63
    * kernel, and the oracle prices the identical ladder. Every doc
    * carries `patch_used` and `downsampled` — the resolution spend is
    * a COLUMN a training team can audit, not a silent quality loss. */
  def mmPackAdaptiveOf(docs: DataFrame, seqLen: Int = 8192,
      g: Int = 256, patch: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(patch >= 1, s"patch size must be >= 1 (got $patch)")
    def imgTokens(p: Int) =
      $"n_images" * (expr(s"((w + ${p - 1}) div $p) * " +
        s"((h + ${p - 1}) div $p)") + lit(2L))
    val counts = docs
      .select($"doc_id",
        size(TextAnalysis.tokens()).cast("long").as("n_text_tokens"),
        ($"doc_id" % 3).cast("long").as("n_images"),
        (lit(320) + ($"doc_id" % 4) * 160).cast("long").as("w"),
        (lit(240) + ($"doc_id" % 4) * 120).cast("long").as("h"))
      .withColumn("c1", $"n_text_tokens" + imgTokens(patch))
      .withColumn("c2", $"n_text_tokens" + imgTokens(2 * patch))
      .withColumn("c4", $"n_text_tokens" + imgTokens(4 * patch))
      .withColumn("n_tokens",
        when($"c1" <= seqLen, $"c1")
          .when($"c2" <= seqLen, $"c2").otherwise($"c4"))
      .withColumn("patch_used",
        when($"c1" <= seqLen, patch)
          .when($"c2" <= seqLen, 2 * patch).otherwise(4 * patch)
          .cast("int"))
      .withColumn("downsampled", $"patch_used" > patch && $"n_images" > 0)
      .select($"doc_id", $"n_text_tokens", $"n_images",
        ($"n_tokens" - $"n_text_tokens").as("image_tokens"),
        $"patch_used", $"downsampled", $"n_tokens")
    Curation.packDocAwareFromCounts(counts, seqLen, g,
      keep = Seq("n_text_tokens", "n_images", "image_tokens",
        "patch_used", "downsampled"))
  }

  def mmPackAdaptive(spark: SparkSession, sfDir: String,
      seqLen: Int = 8192, g: Int = 256, patch: Int = 16): DataFrame =
    mmPackAdaptiveOf(Tables.documents(spark, sfDir), seqLen, g, patch)

  def mmPackAdaptiveSql(seqLen: Int = 8192, g: Int = 256,
      patch: Int = 16): String = {
    def grid(p: Int) =
      s"(((320 + (doc_id % 4) * 160 + ${p - 1}) // $p)" +
        s" * ((240 + (doc_id % 4) * 120 + ${p - 1}) // $p) + 2)"
    val counts =
      s"""SELECT doc_id, n_text_tokens, n_images,
         |      n_tokens - n_text_tokens AS image_tokens,
         |      patch_used, downsampled, n_tokens
         |    FROM (
         |      SELECT *,
         |        CASE WHEN c1 <= $seqLen THEN c1
         |             WHEN c2 <= $seqLen THEN c2 ELSE c4 END AS n_tokens,
         |        CAST(CASE WHEN c1 <= $seqLen THEN $patch
         |             WHEN c2 <= $seqLen THEN ${2 * patch}
         |             ELSE ${4 * patch} END AS INT) AS patch_used,
         |        (CASE WHEN c1 <= $seqLen THEN $patch
         |             WHEN c2 <= $seqLen THEN ${2 * patch}
         |             ELSE ${4 * patch} END > $patch AND n_images > 0)
         |          AS downsampled
         |      FROM (
         |        SELECT doc_id, n_text_tokens, n_images,
         |          n_text_tokens + n_images * ${grid(patch)} AS c1,
         |          n_text_tokens + n_images * ${grid(2 * patch)} AS c2,
         |          n_text_tokens + n_images * ${grid(4 * patch)} AS c4
         |        FROM (
         |          SELECT doc_id,
         |            CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
         |              AS BIGINT) AS n_text_tokens,
         |            CAST(doc_id % 3 AS BIGINT) AS n_images
         |          FROM documents)))""".stripMargin
    Curation.packDocAwareSqlFrom(counts, seqLen, g,
      keep = Seq("n_text_tokens", "n_images", "image_tokens",
        "patch_used", "downsampled"))
  }

  // --------------------------------------------------------------- F29
  /** The F27 layout written as TRAINING SHARDS — C21's
    * whole-sequence-per-file discipline for the multimodal packer: a
    * VLM data loader streams one shard per worker, and an image block
    * split across files is exactly the cross-file assembly the layout
    * exists to avoid. Range partitioning on the FULL 2-part sequence
    * identity (bucket, seq_in_bucket) is the load-bearing choice:
    * equal key tuples land in one range bucket, so a sequence — and
    * therefore every image block in it, by F27's containment — lives
    * WHOLE in exactly one file; rows sort in training order within
    * each shard. The range exchange samples the key distribution, so
    * shards stay ~equal even when one bucket dominates. */
  def writeMmPackedShards(docs: DataFrame, outDir: String,
      seqLen: Int = 8192, g: Int = 256, patch: Int = 16,
      shards: Int = 8): Unit = {
    require(shards >= 1)
    mmPackInterleavedOf(docs, seqLen, g, patch)
      .repartitionByRange(shards, col("bucket"), col("seq_in_bucket"))
      .sortWithinPartitions(col("bucket"), col("seq_in_bucket"),
        col("slot_in_seq"))
      .write.mode("overwrite").parquet(outDir)
  }

  /** CERTIFIED MULTIMODAL TRAINING OUTPUT — the C6d composition for
    * the F27 layout: shards staged once per corpus version (the C10
    * temp-dir discipline), manifested with the C21b kernel (row count,
    * token mass, content checksum per shard — n_tokens here is the
    * MIXED text+image cost, so the certified mass is the budget a
    * trainer actually consumes), and the verify pass runs on EVERY
    * call, so the dumped manifest row set is certified at dump time —
    * a torn or rewritten shard fails by name before a training run
    * streams it. Rows-only: file layout is the range exchange's
    * sampling choice (C21b's reason). */
  def mmPackCertified(spark: SparkSession, sfDir: String,
      seqLen: Int = 8192, shards: Int = 8): DataFrame = {
    val stamp = graft.Tables.pathStamp(spark, s"$sfDir/documents.parquet")
    val dir = mmShardDirCache(sfDir, stamp, ()) {
      val d = java.nio.file.Files
        .createTempDirectory("graft-mmshards").toString
      writeMmPackedShards(Tables.documents(spark, sfDir), d, seqLen,
        shards = shards)
      d
    }
    val m = Curation.shardManifest(spark, dir)
    Curation.verifyShards(spark, dir, m)
    m
  }
  private[graft] val mmShardDirCache =
    new StampedCache[Unit, String](Dedup.deleteAtExit)

  // ---------------------------------------------------------------- F28
  /** MEDIA DATA CARD — C68's datasheet discipline for the F family:
    * the one per-source table a media-corpus owner polls before
    * trusting an ingest batch, composed ENTIRELY from already-priced
    * oracle-green kernels so card and per-media slots cannot disagree:
    * inventory (count, bytes, exact-decimal duration mass) and codec
    * mix from the F1 manifest, delivery health (measured-stream count,
    * decimal-exact mean loss share, silent-stream count) from F26c,
    * sync health (estimated count, in-sync count at best_lag = 0) from
    * F25. Measured-vs-total gauges stay SEPARATE columns (n_loss/
    * n_sync_measured vs n_media) — a card that averaged over silently
    * unmeasured media would hide exactly the streams most likely to be
    * broken; sources with nothing measured report NULL means, not
    * fabricated zeros. Scale: every input is media-bounded (one row
    * per media), the rollup is one groupBy(source) + the ≤#sources ×
    * #codecs mix window — the F25 lag kernel is the priced cost, reused
    * verbatim. ORACLE end-to-end: the SQL twin splices the three
    * kernels' own oracle SQL as CTEs; the loss mean rides the C62/C66
    * decimal handoff (round-6 doubles cast to DECIMAL(18,6), exact
    * order-free sum, one IEEE division both engines perform
    * identically). */
  def mmDataCard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val m = mmManifest(spark, sfDir)
    val loss = mmFragmentLoss(spark, sfDir)
      .select($"media_id", $"loss_share")
    val sync = mmAvSync(spark, sfDir).select($"media_id", $"best_lag")
    val base = m.join(loss, Seq("media_id"), "left")
      .join(sync, Seq("media_id"), "left")
    val per = base.groupBy($"source")
      .agg(count(lit(1)).as("n_media"),
        sum($"size_bytes").as("total_bytes"),
        sum($"duration_s".cast("decimal(18,4)")).cast("double")
          .as("total_duration_s"),
        count($"loss_share").as("n_loss_measured"),
        round(sum($"loss_share".cast("decimal(18,6)")).cast("double") /
          count($"loss_share"), 6).as("avg_loss_share"),
        sum(when($"loss_share" === 1.0, 1L).otherwise(0L)).as("n_silent"),
        count($"best_lag").as("n_sync_measured"),
        sum(when($"best_lag" === 0, 1L).otherwise(0L)).as("n_in_sync"))
    val wC = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"nc".desc, $"codec")
    val topCodec = m.groupBy($"source", $"codec")
      .agg(count(lit(1)).as("nc"))
      .withColumn("rk", row_number().over(wC)).filter($"rk" === 1)
      .select($"source", $"codec".as("top_codec"), $"nc")
    per.join(topCodec, Seq("source"))
      .select($"source", $"n_media", $"total_bytes", $"total_duration_s",
        $"top_codec",
        round($"nc".cast("double") / $"n_media", 6).as("top_codec_share"),
        $"n_loss_measured", $"avg_loss_share", $"n_silent",
        $"n_sync_measured", $"n_in_sync")
      .orderBy($"source")
  }

  def mmDataCardSql(): String =
    s"""WITH man AS (SELECT * FROM ($mmManifestSql)),
       |loss AS (SELECT * FROM ($mmFragmentLossSql)),
       |sync AS (SELECT * FROM (${mmAvSyncSql()})),
       |b AS (
       |  SELECT man.*, loss.loss_share, sync.best_lag
       |  FROM man LEFT JOIN loss USING (media_id)
       |  LEFT JOIN sync USING (media_id)),
       |s AS (
       |  SELECT source, COUNT(*) AS n_media,
       |    CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
       |    CAST(SUM(CAST(duration_s AS DECIMAL(18,4))) AS DOUBLE)
       |      AS total_duration_s,
       |    COUNT(loss_share) AS n_loss_measured,
       |    ROUND(CAST(SUM(CAST(loss_share AS DECIMAL(18,6))) AS DOUBLE)
       |      / COUNT(loss_share), 6) AS avg_loss_share,
       |    CAST(SUM(CASE WHEN loss_share = 1.0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_silent,
       |    COUNT(best_lag) AS n_sync_measured,
       |    CAST(SUM(CASE WHEN best_lag = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_in_sync
       |  FROM b GROUP BY source),
       |c AS (
       |  SELECT source, codec, COUNT(*) AS nc,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY COUNT(*) DESC, codec) AS rk
       |  FROM man GROUP BY source, codec)
       |SELECT s.source, n_media, total_bytes, total_duration_s,
       |  c.codec AS top_codec,
       |  ROUND(CAST(nc AS DOUBLE) / n_media, 6) AS top_codec_share,
       |  n_loss_measured, avg_loss_share, n_silent,
       |  n_sync_measured, n_in_sync
       |FROM s JOIN c ON s.source = c.source AND c.rk = 1
       |ORDER BY s.source""".stripMargin
}

/** One emitted training clip (batch F15's row shape). */
case class TrainingClip(media_id: Long, shot_id: Long, clip_start: Int,
    clip_len: Int)

/** F17 state: the F7 frame fence plus the open shot (start index,
  * running shot id, sampled-frame count; shotFrames == 0 marks a
  * flushed media awaiting its next first frame). */
case class ClipState(lastIdx: Int, lastHash: Long, shotStart: Int,
    shotId: Long, shotFrames: Int)

/** One audio level window (F9's row shape) as a typed stream element. */
case class AudioWindow(media_id: Long, window_idx: Int, n_samples: Int,
    energy: Long, rms: Double)

/** One interleaved per-media ingest event — the gateway's stream as the
  * F18 gate consumes it: kind ∈ frame | audio | end, with the fields
  * the kind uses populated (`idx` = frame_idx / window_idx). */
case class MediaIngestEvent(media_id: Long, kind: String, idx: Int,
    frame_hash: Long, rms: Double)

/** F18 per-media state: F7's frame fence + running Hamming sums, F12's
  * window fence + silent/total counts, and the closed flag that makes
  * duplicate markers and post-close replays no-ops. */
case class GateState(closed: Boolean, lastFrameIdx: Int, lastHash: Long,
    hammingSum: Long, nTransitions: Long, lastWinIdx: Int,
    totalWindows: Long, silentWindows: Long)

/** F18's emitted per-media summary (verdict columns derive from it via
  * the batch gate's expression trees). */
case class GateSummary(media_id: Long, hamming_sum: Long,
    n_transitions: Long, silent_windows: Long, total_windows: Long)

/** One closed silence span — batch F11's row schema. */
case class SilenceSpan(media_id: Long, start_window: Int, end_window: Int,
    n_windows: Long, span_rms: Double)

/** F12 state: the replay fence plus the open run's start and exact
  * integer sums (no run open ⇔ runOpen=false, sums zeroed). */
case class SilenceState(lastSeenIdx: Int, runOpen: Boolean, runStart: Int,
    energy: Long, samples: Long)
