package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.sources.Tables

/** One opaque media payload with typed metadata. `payload` stays an
  * undecoded byte buffer end-to-end — Spark shuffles/spills it without
  * interpreting it, which is exactly how 100 TB of images/audio should
  * move through a pipeline (decode as late as possible, project metadata
  * early). */
case class MediaAsset(
    asset_id: Long,
    kind: String, // "image" | "audio" | "video"
    payload: Array[Byte],
    width: Int,
    height: Int,
    sample_rate: Int)

/** Extracted per-asset features (decode output). */
case class MediaFeatures(
    asset_id: Long,
    kind: String,
    n_bytes: Long,
    histogram: Array[Float])

/** Multimodal-column plumbing (north star).
  *
  * The container ships no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic stub (`fakeDecode`) — but everything
  * Spark-side is real and tested: binary columns with typed metadata,
  * partition-batched decode via `mapPartitions` over a typed Dataset
  * (the Scala analog of Arrow-batched pandas UDFs: amortize per-batch
  * setup — codec init, model load — across a whole partition), frame
  * sampling as payload slicing, and metadata projection that never
  * touches payload bytes.
  */
object Multimodal {

  /** STUB — stands in for a real codec (libjpeg/ffmpeg/...). Deterministic:
    * a 16-bin byte histogram normalized by payload length. A real decode
    * drops in here without touching any Spark plumbing. */
  def fakeDecode(payload: Array[Byte]): Array[Float] = {
    val bins = new Array[Float](16)
    var i = 0
    while (i < payload.length) {
      bins((payload(i) & 0xff) >> 4) += 1f
      i += 1
    }
    if (payload.length > 0) {
      var b = 0
      while (b < 16) { bins(b) /= payload.length; b += 1 }
    }
    bins
  }

  /** Build a deterministic media corpus from `documents` (text bytes as
    * fake payloads; kind cycles by doc_id). */
  def assets(s: SparkSession, dir: String): Dataset[MediaAsset] = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id").as("asset_id"),
        element_at(
          array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        (col("doc_id") % 640 + 1).cast("int").as("width"),
        (col("doc_id") % 480 + 1).cast("int").as("height"),
        lit(16000).as("sample_rate"))
      .as[MediaAsset]
  }

  /** Partition-batched feature extraction: one decoder instance per
    * partition, reused across its rows — the mapPartitions shape that a
    * real (expensive-init) codec needs. */
  def extractFeatures(ds: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // per-partition init would go here (codec/model handle)
      it.map { a =>
        MediaFeatures(a.asset_id, a.kind, a.payload.length.toLong,
          fakeDecode(a.payload))
      }
    }
  }

  /** Frame sampling: n evenly-spaced fixed-width slices of the payload
    * (the video-frame analog; pure byte arithmetic, no decode). */
  def sampleFrames(ds: Dataset[MediaAsset], n: Int, frameBytes: Int)
      : DataFrame =
    ds.toDF()
      .withColumn("step_bytes", greatest(
        (octet_length(col("payload")) / n).cast("int"), lit(1)))
      .select(
        col("asset_id"),
        expr(s"transform(sequence(0, ${n - 1}), " +
          s"fi -> substring(payload, fi * step_bytes + 1, $frameBytes))")
          .as("frames"))

  /** Resize: deterministic stride-subsampling of the payload to at most
    * `targetBytes` (stands in for image downscaling — a real resampler
    * drops into the same byte-in/byte-out shape). Metadata dims scale
    * with the same ratio, and payloads already small pass through. */
  def resize(ds: Dataset[MediaAsset], targetBytes: Int): Dataset[MediaAsset] = {
    import ds.sparkSession.implicits._
    ds.map { a =>
      val n = a.payload.length
      if (n <= targetBytes) a
      else {
        val step = math.max(1, n / targetBytes)
        val resized = Array.range(0, n, step).take(targetBytes)
          .map(a.payload(_))
        val ratio = resized.length.toDouble / n
        a.copy(
          payload = resized,
          width = math.max(1, (a.width * ratio).toInt),
          height = math.max(1, (a.height * ratio).toInt))
      }
    }
  }

  /** q38 — metadata projection over binary payloads: byte length and
    * content hash, computed WITHOUT decoding. md5 is md5 in every engine,
    * so the differential stays exact. */
  def q38MultimodalMeta(s: SparkSession, dir: String): DataFrame =
    assets(s, dir).toDF().select(
      col("asset_id"),
      col("kind"),
      octet_length(col("payload")).cast("bigint").as("n_bytes"),
      md5(col("payload")).as("content_md5"),
      col("width").cast("bigint").as("width"),
      col("height").cast("bigint").as("height"))

  private def q38OracleSql: String =
    """SELECT doc_id AS asset_id,
       ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5,
       CAST(doc_id % 640 + 1 AS BIGINT) AS width,
       CAST(doc_id % 480 + 1 AS BIGINT) AS height
       FROM documents"""

  /** Integer 16-bin high-nibble byte histogram — the exact-arithmetic
    * sibling of [[fakeDecode]] used to put the TYPED mapPartitions path
    * under the differential (float normalization isn't cross-engine
    * comparable; integer counts are). */
  def countHistogram(payload: Array[Byte]): Array[Long] = {
    val bins = new Array[Long](16)
    var i = 0
    while (i < payload.length) {
      bins((payload(i) & 0xff) >> 4) += 1L
      i += 1
    }
    bins
  }

  /** q81 — the partition-batched typed decode path, differentially
    * verified: payload byte histograms computed through
    * `Dataset[MediaAsset].mapPartitions` (the same shape a real codec
    * uses), surfaced as integer columns the DuckDB oracle reproduces
    * from the text bytes. Proves the typed row-codec pipeline — encoder
    * round-trip, partition batching, case-class schema — produces
    * exactly what the declarative engine would. */
  def q81MediaHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feats = assets(s, dir).mapPartitions { it =>
      // per-partition codec init would go here
      it.map(a => (a.asset_id, a.payload.length.toLong,
        countHistogram(a.payload)))
    }.toDF("asset_id", "n_bytes", "bins")
    feats.select(
      col("asset_id") +: col("n_bytes") +:
        (0 until 16).map(b =>
          element_at(col("bins"), b + 1).as(s"bin$b")): _*)
  }

  private def q81OracleSql: String = {
    val binCols = (0 until 16).map(b =>
      s"CAST(len(list_filter(string_split(text, ''), " +
        s"mm_c -> ascii(mm_c) // 16 = $b)) AS BIGINT) AS bin$b")
      .mkString(",\n ")
    s"""SELECT doc_id AS asset_id,
        CAST(strlen(text) AS BIGINT) AS n_bytes,
        $binCols
        FROM documents"""
  }

  /** Frame-sampling geometry for q115. */
  val NumFrames = 4
  val FrameBytes = 32

  /** q115 — the frame-sampling path under the differential: every asset
    * sliced into `NumFrames` evenly-spaced `FrameBytes`-byte frames (the
    * video keyframe/audio-clip analog — pure byte arithmetic, decode
    * never runs), each frame pinned by md5 + length. Slices past the
    * payload end are empty frames — md5 of zero bytes on both engines —
    * so the geometry is total, no row-count jitter. Scale shape: one
    * narrow in-row pass + a 4× generator, zero shuffles; the payload is
    * sliced, never copied whole into the output. */
  def q115FrameSample(s: SparkSession, dir: String): DataFrame =
    sampleFrames(assets(s, dir), NumFrames, FrameBytes)
      .select(col("asset_id"),
        posexplode(col("frames")).as(Seq("frame_idx", "frame")))
      .select(col("asset_id"),
        col("frame_idx").cast("bigint").as("frame_idx"),
        md5(col("frame")).as("frame_md5"),
        octet_length(col("frame")).cast("bigint").as("frame_bytes"))

  private def q115OracleSql: String =
    s"""WITH a AS (SELECT doc_id AS asset_id, text,
          greatest(strlen(text) // $NumFrames, 1) AS step
        FROM documents),
        f AS (SELECT asset_id, text, step,
          unnest(range(0, $NumFrames)) AS fi FROM a)
        SELECT asset_id, CAST(fi AS BIGINT) AS frame_idx,
               md5(substr(text, CAST(fi * step + 1 AS INT), $FrameBytes))
                 AS frame_md5,
               CAST(strlen(substr(text, CAST(fi * step + 1 AS INT),
                 $FrameBytes)) AS BIGINT) AS frame_bytes
        FROM f"""

  /** Shot-boundary threshold for q148: an L1 histogram distance above
    * this between CONSECUTIVE frames marks a cut. Calibrated on the
    * measured distance distribution (median 6, max 22 at sf0.01) so
    * the output has real variety — most assets 0 cuts, a tail with
    * 1-2. */
  val ShotThreshold = 12L

  /** q148 — SHOT-BOUNDARY DETECTION over the sampled frame track (the
    * temporal-analysis member of the multimodal family: q38 metadata,
    * q81 global histograms, q115 frame sampling, q118 resize — this one
    * compares frames ALONG TIME): each asset's $NumFrames q115-geometry
    * frames are histogrammed (the q81 typed-decode shape, per frame)
    * and consecutive frames compared by integer L1 distance; a distance
    * above $ShotThreshold is a cut. Declared output = per-asset cut
    * count + total frame-to-frame L1 — the shot structure a video
    * pipeline stores next to its keyframes (and the sampling-rate
    * signal an audio one uses).
    *
    * Scale shape: one narrow typed pass, zero shuffles, zero joins —
    * frame slicing, histograms, and distances all happen inside one
    * row's map call with payload slices never copied whole; a real
    * decoder drops into the same per-partition codec slot
    * ([[extractFeatures]]'s contract). All-integer distances keep the
    * DuckDB differential exact. */
  def q148ShotBoundaries(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir).mapPartitions { it =>
      // per-partition codec init would go here
      it.map { a =>
        val n = a.payload.length
        val step = math.max(n / NumFrames, 1)
        val hists = Array.tabulate(NumFrames) { fi =>
          val off = fi * step
          countHistogram(
            a.payload.slice(off, math.min(off + FrameBytes, n)))
        }
        val l1s = (0 until NumFrames - 1).map { i =>
          (0 until 16).map(b => math.abs(hists(i)(b) - hists(i + 1)(b))).sum
        }
        (a.asset_id, l1s.count(_ > ShotThreshold).toLong, l1s.sum)
      }
    }.toDF("asset_id", "n_boundaries", "total_l1")
  }

  private def q148OracleSql: String =
    s"""WITH a AS (SELECT doc_id AS asset_id, text,
          greatest(strlen(text) // $NumFrames, 1) AS step
        FROM documents),
        f AS (SELECT asset_id, fi,
          substr(text, CAST(fi * step + 1 AS INT), $FrameBytes) AS fr
          FROM a, unnest(range(0, $NumFrames)) AS sb_t(fi)),
        h AS (SELECT asset_id, fi,
          [CAST(len(list_filter(string_split(fr, ''),
             sb_c -> ascii(sb_c) // 16 = sb_b)) AS BIGINT)
           for sb_b in range(16)] AS hist
          FROM f),
        d AS (SELECT h1.asset_id,
          list_sum(list_transform(range(16),
            sb_b -> abs(h1.hist[sb_b + 1] - h2.hist[sb_b + 1]))) AS l1
          FROM h h1 JOIN h h2 ON h1.asset_id = h2.asset_id
            AND h2.fi = h1.fi + 1)
        SELECT asset_id,
          CAST(count(*) FILTER (WHERE l1 > $ShotThreshold) AS BIGINT)
            AS n_boundaries,
          CAST(sum(l1) AS BIGINT) AS total_l1
        FROM d GROUP BY asset_id"""

  /** Resize budget for q118. */
  val ResizeTargetBytes = 256

  /** q118 — the typed RESIZE path under the differential: every asset
    * stride-subsampled to ≤ `ResizeTargetBytes` bytes through the
    * `Dataset[MediaAsset].map` codec shape (a real resampler drops into
    * the same byte-in/byte-out slot), declared as (payload md5, byte
    * count, rescaled dims). Small payloads pass through unchanged —
    * the oracle reproduces the exact stride geometry, ratio arithmetic
    * (explicit floor: Scala `.toInt` truncates where a bare DuckDB
    * DOUBLE→INT cast would round), and hash from the text bytes.
    * Scale shape: a narrow typed map, zero shuffles; with a real codec
    * the same partition-batched discipline as q81 applies. */
  def q118ResizeMeta(s: SparkSession, dir: String): DataFrame =
    resize(assets(s, dir), ResizeTargetBytes).toDF()
      .select(col("asset_id"),
        octet_length(col("payload")).cast("bigint").as("n_bytes"),
        md5(col("payload")).as("payload_md5"),
        col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"))

  private def q118OracleSql: String = {
    val t = ResizeTargetBytes
    s"""WITH a AS (SELECT doc_id AS asset_id, text,
          strlen(text) AS n,
          CAST(doc_id % 640 + 1 AS INT) AS width,
          CAST(doc_id % 480 + 1 AS INT) AS height
        FROM documents),
        r AS (SELECT asset_id, text, n, width, height,
          greatest(n // $t, 1) AS step FROM a),
        z AS (SELECT asset_id, n, width, height,
          CASE WHEN n <= $t THEN text
               ELSE array_to_string(list_transform(
                 (range(1, n + 1, CAST(step AS INT)))[:$t],
                 rz_i -> text[rz_i]), '')
          END AS rtext
        FROM r)
        SELECT asset_id,
               CAST(strlen(rtext) AS BIGINT) AS n_bytes,
               md5(rtext) AS payload_md5,
               CAST(CASE WHEN n <= $t THEN width
                 ELSE greatest(1, CAST(floor(width *
                   (CAST(strlen(rtext) AS DOUBLE) / n)) AS INT)) END
                 AS BIGINT) AS width,
               CAST(CASE WHEN n <= $t THEN height
                 ELSE greatest(1, CAST(floor(height *
                   (CAST(strlen(rtext) AS DOUBLE) / n)) AS INT)) END
                 AS BIGINT) AS height
        FROM z"""
  }

  /** CDC window (bytes), boundary divisor, and the rolling-hash base
    * powers for q216. A boundary falls AFTER byte i (1-based, i ≥ 4)
    * when the degree-3 polynomial hash of the trailing 4-byte window,
    * (b[i−3]·257³ + b[i−2]·257² + b[i−1]·257 + b[i]) mod 1e9+7, is
    * divisible by 32 → expected chunk ≈ 32 bytes (measured 35.3 at
    * sf0.01). Content-defined: an insertion re-synchronizes within one
    * window, unlike fixed-offset blocking where one shifted byte
    * changes every downstream block hash. */
  val CdcDivisor = 32L
  private val CdcMod = 1000000007L
  private val CdcB1 = 257L
  private val CdcB2 = 66049L
  private val CdcB3 = 16974593L

  /** One content-defined chunk of an asset payload. */
  case class CdcChunk(
      asset_id: Long, chunk_idx: Long, clen: Long, chash: String)

  /** Content-defined chunker: partition-batched like [[extractFeatures]]
    * (one MessageDigest per partition, reused across rows); per asset a
    * single linear byte scan finds boundaries, then each chunk is
    * md5-keyed. Chunks tile the payload exactly (last chunk runs to the
    * end; payloads under the window width are one whole chunk). */
  def cdcChunks(ds: Dataset[MediaAsset]): Dataset[CdcChunk] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { a =>
        val b = a.payload
        val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
        var i = 3
        while (i < b.length) {
          val h = ((b(i - 3) & 0xff) * CdcB3 + (b(i - 2) & 0xff) * CdcB2 +
            (b(i - 1) & 0xff) * CdcB1 + (b(i) & 0xff)) % CdcMod
          if (h % CdcDivisor == 0L) cuts += (i + 1)
          i += 1
        }
        if (cuts.isEmpty || cuts.last != b.length) cuts += b.length
        var prev = 0
        cuts.toList.zipWithIndex.map { case (end, k) =>
          md.reset()
          val hex = md.digest(java.util.Arrays.copyOfRange(b, prev, end))
            .map("%02x".format(_)).mkString
          val c = CdcChunk(a.asset_id, k.toLong, (end - prev).toLong, hex)
          prev = end
          c
        }
      }
    }
  }

  /** q216 — CONTENT-DEFINED-CHUNK DEDUP across binary payloads (the
    * rsync/LBFS/backup-dedup shape applied to a multimodal corpus): the
    * byte-level complement of the text family's winnowing (q102/q113) —
    * whole-payload hashing (q38) only catches EXACT duplicates, while
    * CDC chunking finds SHARED SUBSTREAMS between distinct assets
    * (re-encoded containers, embedded logos, shared intros) because
    * boundaries are chosen by content, not offset. Declared per asset:
    * chunk count, total bytes (must tile the payload exactly), and how
    * many chunks / bytes are shared with at least one OTHER asset —
    * the per-asset redundancy profile a storage or curation pass acts
    * on. Non-vacuous on this corpus: 1208 shared chunk instances over
    * 249 distinct shared chunks at sf0.01.
    *
    * Scale shape: chunking is one narrow typed pass (zero shuffles,
    * payload sliced never copied whole beyond its own chunks); the
    * chunk-hash df census is ONE partial-aggregated shuffle keyed by
    * hash (cardinality = distinct chunks ≈ bytes/32); one join back on
    * the hash + one asset-keyed rollup. Linear in corpus bytes — the
    * identical discipline as the q59 df census, at byte granularity.
    * The chunk frame is checkpointed once for its two consumers. */
  def q216CdcChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val ch = cdcChunks(assets(s, dir)).toDF()
      .localCheckpoint(true)
    val df = ch.groupBy("chash")
      .agg(countDistinct("asset_id").as("adf"))
    ch.join(df, "chash")
      .groupBy("asset_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum("clen").as("n_bytes"),
        sum(when(col("adf") > 1, 1L).otherwise(0L))
          .as("n_shared_chunks"),
        sum(when(col("adf") > 1, col("clen")).otherwise(0L))
          .as("shared_bytes"))
  }

  private def q216OracleSql: String =
    s"""WITH a AS (SELECT doc_id AS asset_id, text, strlen(text) AS n,
             list_transform(string_split(text, ''), c -> ascii(c)) AS b
           FROM documents),
        cutsl AS (SELECT asset_id, text, n,
            list_filter(range(4, n + 1), i ->
              ((b[i-3]*$CdcB3 + b[i-2]*$CdcB2 + b[i-1]*$CdcB1 + b[i])
                % $CdcMod) % $CdcDivisor = 0) AS cuts
          FROM a),
        endsl AS (SELECT asset_id, text,
            CASE WHEN len(cuts) = 0 OR cuts[-1] <> n
                 THEN list_append(cuts, n) ELSE cuts END AS ends
          FROM cutsl),
        ch AS (SELECT asset_id, text,
            CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END AS st,
            ends[k] AS en
          FROM endsl, unnest(range(1, len(ends) + 1)) AS r(k)),
        cc AS (SELECT asset_id, en - st + 1 AS clen,
            md5(substr(text, CAST(st AS INT), CAST(en - st + 1 AS INT)))
              AS chash
          FROM ch),
        adf AS (SELECT chash, count(DISTINCT asset_id) AS adf
                FROM cc GROUP BY 1)
        SELECT asset_id, CAST(count(*) AS BIGINT) AS n_chunks,
          CAST(sum(clen) AS BIGINT) AS n_bytes,
          CAST(sum(CASE WHEN adf > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_shared_chunks,
          CAST(sum(CASE WHEN adf > 1 THEN clen ELSE 0 END) AS BIGINT)
            AS shared_bytes
        FROM cc JOIN adf USING (chash) GROUP BY asset_id"""

  /** q220 — HISTOGRAM EQUALIZATION over binary payloads (the classic
    * contrast-normalization preprocessing pass, expressed in the
    * byte-stub world the way a real pixel codec would drop in): each
    * payload's byte CDF remaps every byte to
    * 1 + ⌊(cdf(b) − cdf_min)·126 / (n − cdf_min)⌋ — the textbook
    * equalization formula with two deliberate determinism choices:
    * floor (no banker's rounding divergence) and a 1..127 output range
    * (7-bit ASCII, so the DuckDB oracle's chr()-rebuilt string has the
    * identical UTF-8 byte sequence and md5). Completes the multimodal
    * verb set: project (q38), analyze (q81/q148), sample (q115),
    * resize (q118), chunk-dedup (q216), TRANSFORM (here). Declared per
    * asset: byte count, distinct byte values before/after (equalization
    * can only merge bins, never split — spec-pinned), and the md5 of
    * the equalized payload.
    *
    * Scale shape: one narrow typed map, zero shuffles; per-row state is
    * the 256-bin histogram — O(1) per asset beyond its own bytes. */
  def q220HistEqualize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir).map { a =>
      val b = a.payload
      val n = b.length.toLong
      val hist = new Array[Long](256)
      b.foreach(x => hist(x & 0xff) += 1)
      val cdfArr = new Array[Long](256)
      var cdf = 0L
      var cdfMin = -1L
      var distinctIn = 0L
      var v = 0
      while (v < 256) {
        cdf += hist(v)
        cdfArr(v) = cdf
        if (hist(v) > 0) {
          distinctIn += 1
          if (cdfMin < 0) cdfMin = cdfArr(v)
        }
        v += 1
      }
      val denom = n - cdfMin
      val out = new Array[Byte](b.length)
      var i = 0
      while (i < b.length) {
        val bv = b(i) & 0xff
        val nb =
          if (denom <= 0) 1L
          else 1L + (cdfArr(bv) - cdfMin) * 126L / denom
        out(i) = nb.toByte
        i += 1
      }
      (a.asset_id, out, distinctIn, out.distinct.length.toLong)
    }.toDF("asset_id", "eq", "distinct_in", "distinct_out")
      .select(col("asset_id"),
        octet_length(col("eq")).cast("bigint").as("n_bytes"),
        col("distinct_in"), col("distinct_out"),
        md5(col("eq")).as("eq_md5"))
  }

  private def q220OracleSql: String =
    """WITH a AS (SELECT doc_id AS asset_id, text, strlen(text) AS n
           FROM documents),
        ab AS (SELECT asset_id, n,
            list_transform(string_split(text, ''), c -> ascii(c)) AS b
          FROM a),
        by AS (SELECT asset_id, n, b[pos] AS bv, pos
          FROM ab, unnest(range(1, n + 1)) AS r(pos)),
        cnt AS (SELECT asset_id, n, bv, count(*) AS c
                FROM by GROUP BY 1, 2, 3),
        cdf AS (SELECT *, sum(c) OVER (PARTITION BY asset_id
                  ORDER BY bv) AS cdf FROM cnt),
        cm AS (SELECT *, min(cdf) OVER (PARTITION BY asset_id) AS cdfmin
               FROM cdf),
        map AS (SELECT asset_id, bv,
            CASE WHEN n - cdfmin <= 0 THEN 1
                 ELSE 1 + ((cdf - cdfmin) * 126) // (n - cdfmin)
            END AS nb
          FROM cm),
        din AS (SELECT asset_id, CAST(count(*) AS BIGINT) AS distinct_in
                FROM map GROUP BY 1),
        re AS (SELECT b.asset_id, b.pos, m.nb
          FROM by b JOIN map m
            ON b.asset_id = m.asset_id AND b.bv = m.bv)
        SELECT r.asset_id, CAST(count(*) AS BIGINT) AS n_bytes,
          d.distinct_in,
          CAST(count(DISTINCT r.nb) AS BIGINT) AS distinct_out,
          md5(string_agg(chr(CAST(r.nb AS INT)), '' ORDER BY r.pos))
            AS eq_md5
        FROM re r JOIN din d ON r.asset_id = d.asset_id
        GROUP BY r.asset_id, d.distinct_in"""

  /** q231 constants: 97 payload samples → 96 dHash bits (two 48-bit
    * words), banded 3×32 for guaranteed candidate generation at
    * Hamming ≤ 2 (pigeonhole: 2 flipped bits ruin at most 2 of 3
    * bands); released radius 6. 32-bit band keys are the SCALE choice:
    * the first cut of this operator banded a 48-bit hash 3×16, and the
    * scaling harness measured candidate volume ×29 for a ×10 corpus
    * step — 65k key values saturate under a clustered hash family
    * (dHash bits are far from uniform), the same failure mode q71
    * df-caps. Widening the hash (more samples — each byte still
    * touches ≤ 2 comparisons, so the flip bound is unchanged) widens
    * the keys instead of capping: measured back to output-bounded
    * (SCALING.md). */
  val PhashSamples = 97
  val PhashBits = 96
  val PhashBands = 3
  val PhashRadius = 6
  /** doc_id offset of the planted perturbed copies (distinct from
    * Dedup.PlantedOffset so the corpora can't be confused in a join). */
  val PhashOffset = 200000L

  /** 96-bit difference hash of a payload as two 48-bit words (lo =
    * bits 0..47, hi = bits 48..95): 97 evenly spaced byte samples
    * (positions (i·(L−1)) div 96 — resolution-independent, the dHash
    * trick that makes the signature survive scaling/padding), bit i =
    * sample_i < sample_{i+1}. Any single changed byte occupies one
    * contiguous sample run, so it alters at most the run's two
    * boundary comparisons — the ≤ 2-flip bound the banding guarantee
    * rests on, at ANY hash width. Pure integer; bit-identical to the
    * oracle's ascii/substr arithmetic on ASCII payloads. */
  private[graft] def dhash96(b: Array[Byte]): (Long, Long) = {
    val L = b.length.toLong
    if (L < 2) return (0L, 0L)
    var lo = 0L
    var hi = 0L
    var prev = b(0) & 0xff
    var i = 1
    while (i <= PhashBits) {
      val cur = b(((i.toLong * (L - 1)) / PhashBits).toInt) & 0xff
      if (prev < cur) {
        if (i <= 48) lo |= (1L << (i - 1))
        else hi |= (1L << (i - 49))
      }
      prev = cur
      i += 1
    }
    (lo, hi)
  }

  /** q231 — PERCEPTUAL-HASH NEAR-DUP over binary payloads (the
    * image-dedup verb: pHash/dHash bucket join — the multimodal
    * counterpart of text LSH q30 and bit-signature search q71): each
    * payload reduces to a 96-bit difference hash in one typed map (the
    * codec slot — a real image dHash decodes + downsamples first, same
    * plumbing), candidates come from a 16-bit band equi-join, pairs
    * verified at Hamming ≤ 6. Corpus = assets ∪ a planted
    * one-byte-midpoint perturbation of each (a re-encoded/one-pixel
    * variant stand-in): a single byte change flips ≤ 2 of the 48 bits
    * (its two adjacent comparisons), so every planted pair is
    * GUARANTEED a candidate (3 bands, ≤ 2 ruined) and guaranteed within
    * radius — recall 100% by construction, and the spec pins it.
    *
    * Scale shape: hashing is one narrow typed pass (payload bytes never
    * shuffle — 8 bytes per asset do); the band join is the q30/q71
    * banded shape (one (band, key) exchange); at corpus scale the
    * geometry widens (more/wider bands, q71's df hot-key cap) — the
    * signature is prefix-stable in the same way. */
  def q231PayloadPhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = assets(s, dir)
    val planted = base.map { a =>
      val p = a.payload.clone()
      if (p.length > 0) p(p.length / 2) = 'x'.toByte
      a.copy(asset_id = a.asset_id + PhashOffset, payload = p)
    }
    val hashes = base.union(planted)
      .map { a => val (lo, hi) = dhash96(a.payload); (a.asset_id, lo, hi) }
      .toDF("asset_id", "h0", "h1")
    // 32-bit band keys sliced across the two words: bits 0..31 from h0,
    // 32..63 straddling (h0 high 16 | h1 low 16), 64..95 from h1
    val bands = hashes.select(col("asset_id"), col("h0"), col("h1"),
      explode(expr(
        """array(
            struct(0 AS band, h0 & 4294967295 AS bkey),
            struct(1 AS band, shiftright(h0, 32)
              | shiftleft(h1 & 65535, 16) AS bkey),
            struct(2 AS band, shiftright(h1, 16) AS bkey))""")).as("bk"))
      .select(col("asset_id"), col("h0"), col("h1"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bkey") === col("y.bkey") &&
          col("x.asset_id") < col("y.asset_id"))
      .select(col("x.asset_id").as("asset_id_1"),
        col("y.asset_id").as("asset_id_2"),
        expr("""CAST(bit_count(x.h0 ^ y.h0) + bit_count(x.h1 ^ y.h1)
                AS BIGINT)""").as("hamming"))
      .distinct()
      .filter(col("hamming") <= PhashRadius)
  }

  /** q231's oracle CTE chain up through the verified candidate set —
    * shared with q366's recursive clustering so the two differentials
    * pin the SAME hash/band/verify semantics. */
  private def phashCtes: String =
    s"""base AS (SELECT doc_id AS asset_id, text FROM documents),
        pert AS (SELECT asset_id + $PhashOffset AS asset_id,
            substr(text, 1, strlen(text) // 2) || 'x'
              || substr(text, strlen(text) // 2 + 2) AS text
          FROM base),
        u AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
        sm AS (SELECT asset_id,
            list_transform(range(0, $PhashSamples), smp_i ->
              ascii(substr(text, CAST(1 + (smp_i * (strlen(text) - 1))
                // $PhashBits AS BIGINT), 1))) AS sv
          FROM u),
        ph AS (SELECT asset_id,
            CAST(list_sum(list_transform(range(0, 48), ph_i ->
              CASE WHEN sv[ph_i + 1] < sv[ph_i + 2]
                   THEN (CAST(1 AS BIGINT) << ph_i) ELSE 0 END))
              AS BIGINT) AS h0,
            CAST(list_sum(list_transform(range(48, $PhashBits), ph_i ->
              CASE WHEN sv[ph_i + 1] < sv[ph_i + 2]
                   THEN (CAST(1 AS BIGINT) << (ph_i - 48)) ELSE 0 END))
              AS BIGINT) AS h1
          FROM sm),
        bands AS (
          SELECT asset_id, h0, h1, 0 AS band,
            h0 & 4294967295 AS bkey FROM ph
          UNION ALL
          SELECT asset_id, h0, h1, 1 AS band,
            (h0 >> 32) | ((h1 & 65535) << 16) AS bkey FROM ph
          UNION ALL
          SELECT asset_id, h0, h1, 2 AS band,
            h1 >> 16 AS bkey FROM ph),
        cand AS (SELECT DISTINCT x.asset_id AS asset_id_1,
            y.asset_id AS asset_id_2,
            CAST(bit_count(xor(x.h0, y.h0))
              + bit_count(xor(x.h1, y.h1)) AS BIGINT) AS hamming
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.bkey = y.bkey
              AND x.asset_id < y.asset_id)"""

  private def q231OracleSql: String =
    s"""WITH $phashCtes
        SELECT asset_id_1, asset_id_2, hamming FROM cand
        WHERE hamming <= $PhashRadius"""

  /** q366 — MEDIA DUPLICATE CLUSTERS: connected components over q231's
    * verified pHash pairs (the asset-level resolution step image/video
    * dedup needs after pairwise candidates — "these 5 uploads are the
    * same picture" is a CLUSTER fact, not a pair fact: pair lists
    * double-count transitively (A~B, B~C but A–C beyond radius), and
    * survivor election / canonical-asset pointers need one label per
    * asset. The multimodal twin of q63's text clusters, over the
    * band-join candidates instead of MinHash's). Every asset (base AND
    * perturbed twin) gets a label; singletons self-label. By the q231
    * construction each planted twin lands in its base's cluster, so
    * cluster count = base assets and the spec pins it.
    *
    * Scale shape: pairs from the banded equi-join (measured linear,
    * SCALING.md q231 row); clustering is [[Dedup.connectedComponentsStar]]
    * — O(log n) star-contraction rounds, one node-keyed shuffle each;
    * payload bytes never shuffle (the 16-byte signature pass is q231's).
    * Oracle: the SAME CTE chain + a recursive min-label fixpoint. */
  def q366PhashClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = assets(s, dir).map(_.asset_id).toDF("doc_id")
    val nodes = ids.unionByName(
      ids.select((col("doc_id") + PhashOffset).as("doc_id")))
    val pairs = q231PayloadPhash(s, dir)
      .select(col("asset_id_1").as("doc_id_1"),
        col("asset_id_2").as("doc_id_2"))
    Dedup.connectedComponentsStar(nodes, pairs)
      .select(col("doc_id").as("asset_id"), col("cluster"))
  }

  private def q366OracleSql: String =
    s"""WITH RECURSIVE $phashCtes,
        prs AS (SELECT asset_id_1, asset_id_2 FROM cand
          WHERE hamming <= $PhashRadius),
        eds AS (SELECT asset_id_1 AS s, asset_id_2 AS d FROM prs
          UNION ALL SELECT asset_id_2, asset_id_1 FROM prs),
        reach(a, lab) AS (
          SELECT asset_id, asset_id FROM u
          UNION
          SELECT e.s, r.lab FROM eds e JOIN reach r ON r.a = e.d)
        SELECT a AS asset_id, min(lab) AS cluster FROM reach GROUP BY a"""

  /** q254 geometry and threshold: 12 frames of 64 bytes per audio
    * asset; a frame is SILENT when its mean byte ×100 sits under 9300
    * (calibrated on the measured per-frame distribution — p5 9167,
    * median 9446, p95 9718 at sf0.01 — so roughly the quietest fifth
    * of frames trip, giving real run structure). */
  val SilFrames = 12
  val SilFrameBytes = 64
  val SilThresholdPct = 9300L

  /** q254 — SILENCE-RUN SEGMENTATION over audio payloads (the VAD /
    * audio-trimming primitive: a speech pipeline drops or splits on
    * silent stretches, and what it needs from the engine is run
    * geometry over a per-frame energy track — gaps-and-islands on a
    * derived signal, where q148 detects frame-to-frame CHANGE, this
    * detects absolute-level RUNS). Per audio asset: 12 q115-geometry
    * frames, energy = mean byte ×100 (exact integer division by frame
    * length), silent = energy < threshold; released per asset: frame
    * count, silent count, number of maximal silent runs, and the
    * longest run — the payload stays undecoded bytes, a real
    * energy/VAD model drops into the same per-partition slot.
    *
    * Scale shape: one narrow typed pass over the audio slice of the
    * corpus — frames, energies, and run geometry all inside one row's
    * map call; zero shuffles, zero joins. Oracle: identical frame
    * geometry, runs via lag + gaps-and-islands windows per asset. */
  def q254SilenceSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir).filter(col("kind") === "audio").as[MediaAsset]
      .mapPartitions { it =>
        // per-partition VAD-model init would go here
        it.map { a =>
          val n = a.payload.length
          val step = math.max(n / SilFrames, 1)
          val silent = (0 until SilFrames).flatMap { fi =>
            val off = fi * step
            val fr = a.payload.slice(off,
              math.min(off + SilFrameBytes, n))
            if (fr.isEmpty) None
            else {
              var sum = 0L
              fr.foreach(b => sum += (b & 0xff))
              Some(sum * 100 / fr.length < SilThresholdPct)
            }
          }
          var runs = 0L
          var longest = 0L
          var cur = 0L
          silent.foreach { sl =>
            if (sl) {
              if (cur == 0) runs += 1
              cur += 1
              if (cur > longest) longest = cur
            } else cur = 0
          }
          (a.asset_id, silent.length.toLong,
            silent.count(identity).toLong, runs, longest)
        }
      }.toDF("asset_id", "n_frames", "n_silent", "n_runs", "longest_run")
  }

  private def q254OracleSql: String =
    s"""WITH a AS (SELECT doc_id AS asset_id, text,
          greatest(strlen(text) // $SilFrames, 1) AS step
        FROM documents WHERE doc_id % 3 = 1),
        f AS (SELECT asset_id, fi,
            substr(text, CAST(fi * step + 1 AS INT), $SilFrameBytes)
              AS fr
          FROM a, unnest(range(0, $SilFrames)) AS sb_t(fi)),
        e AS (SELECT asset_id, fi,
            CAST(list_sum(list_transform(string_split(fr, ''),
              sb_c -> ascii(sb_c))) AS BIGINT) * 100
              // strlen(fr) < $SilThresholdPct AS sil
          FROM f WHERE strlen(fr) > 0),
        m AS (SELECT asset_id, fi, sil,
            CASE WHEN sil AND NOT coalesce(lag(sil) OVER (
                PARTITION BY asset_id ORDER BY fi), FALSE)
              THEN 1 ELSE 0 END AS run_start,
            CASE WHEN sil THEN fi - row_number() OVER (
                PARTITION BY asset_id, sil ORDER BY fi) END AS isl
          FROM e),
        runs AS (SELECT asset_id, isl, CAST(count(*) AS BIGINT) AS rl
          FROM m WHERE sil GROUP BY asset_id, isl)
        SELECT m.asset_id, CAST(count(*) AS BIGINT) AS n_frames,
          CAST(sum(CASE WHEN m.sil THEN 1 ELSE 0 END) AS BIGINT)
            AS n_silent,
          CAST(sum(m.run_start) AS BIGINT) AS n_runs,
          CAST(coalesce((SELECT max(rl) FROM runs r
            WHERE r.asset_id = m.asset_id), 0) AS BIGINT)
            AS longest_run
        FROM m GROUP BY m.asset_id"""

  /** q270 — PAYLOAD COLLISION ENTROPY (the log-free compressibility /
    * junk screen over opaque binaries: Shannon entropy needs per-ratio
    * logs no two engines round identically — the Rényi-2 COLLISION
    * probability Σp² carries the same signal as exact integers: ~1/256
    * for incompressible bytes, → 1 for constant padding; its
    * reciprocal is the "effective alphabet", and a payload whose
    * collision probability spikes is a zero-filled or boilerplate
    * blob that will waste storage and training tokens): per asset the
    * byte census in-row — n, distinct byte values, and
    * Σ count²·10⁶ div n² — without decoding, in one typed pass.
    *
    * Scale shape: zero shuffles, zero joins — the byte census lives
    * and dies inside one row's map call (256 longs of scratch); the
    * q148/q254 mapPartitions codec-slot shape. */
  def q270PayloadCollision(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir).mapPartitions { it =>
      it.map { a =>
        val counts = new Array[Long](256)
        a.payload.foreach(b => counts(b & 0xff) += 1)
        val n = a.payload.length.toLong
        val sc2 = counts.map(c => c * c).sum
        val coll = if (n == 0) 1000000L else sc2 * 1000000L / (n * n)
        (a.asset_id, n, counts.count(_ > 0).toLong, coll)
      }
    }.toDF("asset_id", "n_bytes", "n_distinct", "collision_ppm")
  }

  private def q270OracleSql: String =
    """WITH c AS (SELECT doc_id AS asset_id, ascii(ch) AS b,
          CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
              FROM documents) z
        GROUP BY 1, 2),
        st AS (SELECT asset_id, CAST(sum(cnt) AS BIGINT) AS n,
            CAST(count(*) AS BIGINT) AS n_distinct,
            CAST(sum(cnt * cnt) AS BIGINT) AS sc2
          FROM c GROUP BY asset_id)
        SELECT asset_id, n AS n_bytes, n_distinct,
          sc2 * 1000000 // (n * n) AS collision_ppm
        FROM st"""

  /** q285 frame geometry (denser than q115's 4×32 so run structure
    * and duplicate mass exist to measure). */
  val FdFrames = 12
  val FdBytes = 64

  /** q285 — FRAME-LEVEL DEDUP WITHIN VIDEOS (the static-scene
    * collapse every video pipeline runs before feature extraction: a
    * slideshow or talking-head video is mostly the SAME frame, and
    * decoding/embedding each copy wastes the GPU budget — dedup by a
    * cheap perceptual signature first, decode survivors only):
    * per video asset, 12 q115-geometry frames signed by their 16-bin
    * high-nibble byte histogram (q148's frame feature — byte-exact
    * slices almost never repeat, histogram-identical ones are the
    * "same scene" signal, measured ~10% of frames here); released per
    * asset: frame count, distinct signatures, duplicate-frame share
    * in exact ppm.
    *
    * Scale shape: one narrow typed pass over the video third of the
    * corpus; frames, histograms, and the distinct-count all inside
    * one row's map call — zero shuffles (q148/q254 codec-slot
    * shape). */
  def q285FrameDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir).filter(col("kind") === "video").as[MediaAsset]
      .mapPartitions { it =>
        it.map { a =>
          val n = a.payload.length
          val step = math.max(n / FdFrames, 1)
          val sigs = (0 until FdFrames).flatMap { fi =>
            val fr = a.payload.slice(fi * step,
              math.min(fi * step + FdBytes, n))
            if (fr.isEmpty) None
            else Some(countHistogram(fr).toSeq)
          }
          val nf = sigs.length.toLong
          val nd = sigs.distinct.length.toLong
          (a.asset_id, nf, nd,
            if (nf == 0) 0L else (nf - nd) * 1000000L / nf)
        }
      }.toDF("asset_id", "n_frames", "n_distinct", "dup_ppm")
  }

  private def q285OracleSql: String =
    s"""WITH a AS (SELECT doc_id AS asset_id, text,
          greatest(strlen(text) // $FdFrames, 1) AS step
        FROM documents WHERE doc_id % 3 = 2),
        f AS (SELECT asset_id, fi,
            substr(text, CAST(fi * step + 1 AS INT), $FdBytes) AS fr
          FROM a, unnest(range(0, $FdFrames)) AS fd_t(fi)),
        h AS (SELECT asset_id, fi,
          [CAST(len(list_filter(string_split(fr, ''),
             fd_c -> ascii(fd_c) // 16 = fd_b)) AS BIGINT)
           for fd_b in range(16)] AS hist
          FROM f WHERE strlen(fr) > 0)
        SELECT asset_id, CAST(count(*) AS BIGINT) AS n_frames,
          CAST(count(DISTINCT hist) AS BIGINT) AS n_distinct,
          CAST((count(*) - count(DISTINCT hist)) * 1000000
            // count(*) AS BIGINT) AS dup_ppm
        FROM h GROUP BY asset_id"""

  // ------------------------------------------------------------- q310

  /** q310's aspect ladder: interior edges on width·1000 div height (the
    * milli-aspect grid). Six buckets: very tall → very wide. */
  val AspectEdgesMil: Seq[Int] = Seq(500, 667, 1000, 1500, 2000)

  /** q310 — ASPECT-RATIO BUCKETING for image training batches (the
    * SDXL-style bucketing every large-scale vision trainer runs: batch
    * images of SIMILAR aspect together and pad to the bucket's
    * canonical size, instead of center-cropping everything to a square
    * — preserves composition at a bounded padding cost, and this
    * operator measures exactly that cost): image assets bucketed on the
    * integer milli-aspect ladder [[AspectEdgesMil]], each bucket
    * releasing its population, canonical (max-w × max-h) target, and
    * the exact padding waste ppm = (n·W·H − Σwh)·10⁶ div (n·W·H) — the
    * fraction of batch pixels that would be padding. Pure METADATA
    * pass: payload bytes are never touched, projected, or shuffled
    * (the q38 discipline).
    *
    * Scale shape: one metadata projection → one 6-row map-side census;
    * canonical dims and waste come from the same aggregate (Σwh,
    * max-w, max-h), so there is no second pass. Sums widen to
    * decimal(38,0) (int128 in DuckDB) before the ppm division. */
  def q310AspectBuckets(s: SparkSession, dir: String): DataFrame = {
    val ladder = AspectEdgesMil.zipWithIndex
      .foldRight(lit(AspectEdgesMil.length + 1L)) {
        case ((edge, i), rest) =>
          when(col("aspect_mil") < edge, (i + 1).toLong).otherwise(rest)
      }
    assets(s, dir).toDF()
      .filter(col("kind") === "image")
      .select(col("width").cast("long").as("w"),
        col("height").cast("long").as("h"))
      .withColumn("aspect_mil", expr("w * 1000 div h"))
      .withColumn("bucket", ladder)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_assets"),
        max("w").as("canon_w"), max("h").as("canon_h"),
        sum(expr("CAST(w * h AS DECIMAL(38,0))")).as("swh"))
      .select(col("bucket"), col("n_assets"), col("canon_w"),
        col("canon_h"),
        expr("""CAST((CAST(n_assets AS DECIMAL(38,0)) * canon_w * canon_h
             - swh) * 1000000
           div (CAST(n_assets AS DECIMAL(38,0)) * canon_w * canon_h)
           AS BIGINT)""").as("waste_ppm"))
  }

  private def q310OracleSql: String = {
    val caseArms = AspectEdgesMil.zipWithIndex
      .map { case (e, i) => s"WHEN aspect_mil < $e THEN ${i + 1}" }
      .mkString(" ")
    s"""WITH img AS (SELECT CAST(doc_id % 640 + 1 AS BIGINT) AS w,
          CAST(doc_id % 480 + 1 AS BIGINT) AS h
        FROM documents WHERE doc_id % 3 = 0),
        ba AS (SELECT w, h, w * 1000 // h AS aspect_mil FROM img),
        bb AS (SELECT w, h, CASE $caseArms
          ELSE ${AspectEdgesMil.length + 1} END AS bucket FROM ba),
        g AS (SELECT CAST(bucket AS BIGINT) AS bucket,
          CAST(count(*) AS BIGINT) AS n_assets,
          CAST(max(w) AS BIGINT) AS canon_w,
          CAST(max(h) AS BIGINT) AS canon_h,
          CAST(sum(w * h) AS HUGEINT) AS swh
          FROM bb GROUP BY bucket)
        SELECT bucket, n_assets, canon_w, canon_h,
          CAST((CAST(n_assets AS HUGEINT) * canon_w * canon_h - swh)
            * 1000000
            // (CAST(n_assets AS HUGEINT) * canon_w * canon_h)
            AS BIGINT) AS waste_ppm
        FROM g"""
  }

  // ------------------------------------------------------------ q454

  /** q454 — PAYLOAD RUN-LENGTH COMPRESSIBILITY AUDIT per media kind
    * (the BINARY-column sibling of the q410/q417 encoding advisors:
    * those size table columns, this prices the raw payload bytes — the
    * "is this media already compressed" screen that decides whether a
    * storage tier should recompress, exactly what a 100 TB media lake
    * asks before paying CPU for zstd on JPEG bytes). Per asset: number
    * of equal-byte runs counted in the typed codec slot (the
    * [[extractFeatures]] mapPartitions shape — per-partition scanner
    * state, not an Expression fit); per kind: exact integer
    * {n_assets, bytes, runs, rle_ratio_ppm = runs·10⁶ div bytes} — a
    * ratio near 10⁶ means incompressible-by-RLE (already-dense
    * payloads), a low ratio flags redundancy worth a real codec.
    *
    * Scale shape: one corpus pass through the typed slot (payload
    * bytes never shuffle — the per-asset projection drops them before
    * the 3-row kind census). */
  def q454PayloadRle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val runs = assets(s, dir).mapPartitions { it =>
      it.map { a =>
        var r = 0L
        var i = 0
        val p = a.payload
        while (i < p.length) {
          if (i == 0 || p(i) != p(i - 1)) r += 1
          i += 1
        }
        (a.asset_id, a.kind, p.length.toLong, r)
      }
    }.toDF("asset_id", "kind", "n_bytes", "runs")
    runs.groupBy("kind")
      .agg(count(lit(1)).as("n_assets"), sum("n_bytes").as("bytes"),
        sum("runs").as("runs"))
      .withColumn("rle_ratio_ppm", expr("runs * 1000000 div bytes"))
  }

  private def q454OracleSql: String =
    """WITH payload AS (SELECT doc_id,
          CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
          text FROM documents),
        chars AS (SELECT doc_id, kind,
          CAST(strlen(text) AS BIGINT) AS n_bytes,
          unnest(string_split(text, '')) AS c,
          CAST(generate_subscripts(string_split(text, ''), 1)
            AS BIGINT) AS p
          FROM payload),
        flags AS (SELECT doc_id, kind, n_bytes,
          CASE WHEN p = 1 OR c <> lag(c)
            OVER (PARTITION BY doc_id ORDER BY p) THEN 1 ELSE 0 END
            AS is_start
          FROM chars),
        runs AS (SELECT doc_id, kind, CAST(max(n_bytes) AS BIGINT)
            AS n_bytes,
          CAST(sum(is_start) AS BIGINT) AS runs
          FROM flags GROUP BY doc_id, kind)
        SELECT kind, CAST(count(*) AS BIGINT) AS n_assets,
          CAST(sum(n_bytes) AS BIGINT) AS bytes,
          CAST(sum(runs) AS BIGINT) AS runs,
          CAST(sum(runs) AS BIGINT) * 1000000
            // CAST(sum(n_bytes) AS BIGINT) AS rle_ratio_ppm
        FROM runs GROUP BY kind"""

  // ------------------------------------------------------------ q476

  /** q476 — CROSS-KIND PAYLOAD COLLISION SCREEN (the media-lake
    * mislabeling detector, q455's cross-label shape on the BINARY
    * axis: a byte-identical payload filed under two different media
    * kinds is a codec/label bug — an image can't also be an audio
    * clip — and exact payload hashing finds every instance without
    * decoding anything; q270 counts same-kind collisions, this is
    * the CROSS-kind matrix a triage queue works). Per unordered kind
    * pair: distinct payload md5s present under BOTH labels, per-kind
    * distinct totals, containment ppm — exact integers.
    *
    * Scale shape: one typed pass hashes payloads (bytes dropped
    * before the shuffle — only the 32-char digest moves); the pair
    * fan-out is per digest over its ≤3 kind labels, never assets. */
  def q476MediaKindMislabel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // planted mislabels (the suite's planted-duplicate convention —
    // the corpus texts are all distinct, so an unplanted run would be
    // vacuously empty): the first 50 payloads re-filed under the NEXT
    // kind, the exact bug class the screen exists to catch
    val planted = Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 50)
      .select((col("doc_id") + 100000L).as("asset_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          ((col("doc_id") + 1) % 3 + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        lit(1).as("width"), lit(1).as("height"),
        lit(16000).as("sample_rate")).as[MediaAsset]
    val hk = assets(s, dir).unionByName(planted)
      .mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { a =>
        md.reset()
        val d = md.digest(a.payload)
        (d.map("%02x".format(_)).mkString, a.kind)
      }
    }.toDF("ph", "kind").distinct().localCheckpoint(true)
    val perKind = hk.groupBy("kind").agg(count(lit(1)).as("n_payloads"))
    val shared = hk.select(col("ph"), col("kind").as("kind_a"))
      .join(hk.select(col("ph"), col("kind").as("kind_b")), "ph")
      .filter(col("kind_a") < col("kind_b"))
      .groupBy("kind_a", "kind_b")
      .agg(count(lit(1)).as("shared_payloads"))
    shared
      .join(broadcast(perKind.select(col("kind").as("kind_a"),
        col("n_payloads").as("n_a"))), "kind_a")
      .join(broadcast(perKind.select(col("kind").as("kind_b"),
        col("n_payloads").as("n_b"))), "kind_b")
      .select(col("kind_a"), col("kind_b"), col("shared_payloads"),
        col("n_a"), col("n_b"),
        expr("shared_payloads * 1000000 div least(n_a, n_b)")
          .as("collision_ppm"))
  }

  private def q476OracleSql: String =
    """WITH base AS (SELECT md5(text) AS ph,
          CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
            WHEN 1 THEN 'audio' ELSE 'video' END AS kind
        FROM documents),
        planted AS (SELECT md5(text) AS ph,
          CASE CAST((doc_id + 1) % 3 AS INTEGER) WHEN 0 THEN 'image'
            WHEN 1 THEN 'audio' ELSE 'video' END AS kind
        FROM documents WHERE doc_id < 50),
        hk AS (SELECT DISTINCT ph, kind FROM
          (SELECT * FROM base UNION ALL SELECT * FROM planted) u),
        perkind AS (SELECT kind, CAST(count(*) AS BIGINT)
            AS n_payloads FROM hk GROUP BY kind),
        shared AS (SELECT a.kind AS kind_a, b.kind AS kind_b,
            CAST(count(*) AS BIGINT) AS shared_payloads
          FROM hk a JOIN hk b ON a.ph = b.ph AND a.kind < b.kind
          GROUP BY 1, 2)
        SELECT s.kind_a, s.kind_b, s.shared_payloads,
          pa.n_payloads AS n_a, pb.n_payloads AS n_b,
          s.shared_payloads * 1000000 // least(pa.n_payloads,
            pb.n_payloads) AS collision_ppm
        FROM shared s
        JOIN perkind pa ON s.kind_a = pa.kind
        JOIN perkind pb ON s.kind_b = pb.kind"""

  // ------------------------------------------------------------ q489

  /** q489 — MEDIA METADATA CONSISTENCY AUDIT (the rule-based screen a
    * media lake runs on ingest, the typed-metadata counterpart of
    * q130's Deequ-style constraint suite: each kind carries
    * conventions — audio has no spatial dims, video and image need a
    * positive aspect, a sample rate belongs to audio/video — and
    * every violation is a row some upstream writer produced wrong).
    * Declared rules per kind over the [[assets]] metadata (payload
    * never read): audio with width·height > 1; image/video with
    * width < 16 or height < 16 (sub-icon dims); any kind with a
    * nonpositive dim. Released per kind: {n_assets, n_dim_suspect,
    * n_rate_suspect, suspect_ppm}.
    *
    * Scale shape: one metadata projection (payload dropped at the
    * scan), map-side combined to a 3-row census. */
  def q489MetadataConsistency(s: SparkSession, dir: String): DataFrame =
    assets(s, dir).toDF()
      .select(col("kind"), col("width"), col("height"),
        col("sample_rate"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_assets"),
        sum(when(
          (col("kind") === "audio" && col("width") * col("height") > 1)
            || (col("kind") =!= "audio" &&
              (col("width") < 16 || col("height") < 16)), 1L)
          .otherwise(0L)).as("n_dim_suspect"),
        sum(when(col("sample_rate") <= 0, 1L).otherwise(0L))
          .as("n_rate_suspect"))
      .select(col("kind"), col("n_assets"), col("n_dim_suspect"),
        col("n_rate_suspect"),
        expr("""(n_dim_suspect + n_rate_suspect) * 1000000
             div n_assets""").as("suspect_ppm"))

  private def q489OracleSql: String =
    """WITH meta AS (SELECT
          ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)]
            AS kind,
          CAST(doc_id % 640 + 1 AS BIGINT) AS width,
          CAST(doc_id % 480 + 1 AS BIGINT) AS height,
          16000 AS sample_rate
        FROM documents)
        SELECT kind, CAST(count(*) AS BIGINT) AS n_assets,
          CAST(sum(CASE WHEN (kind = 'audio' AND width * height > 1)
            OR (kind <> 'audio' AND (width < 16 OR height < 16))
            THEN 1 ELSE 0 END) AS BIGINT) AS n_dim_suspect,
          CAST(sum(CASE WHEN sample_rate <= 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_rate_suspect,
          (CAST(sum(CASE WHEN (kind = 'audio' AND width * height > 1)
            OR (kind <> 'audio' AND (width < 16 OR height < 16))
            THEN 1 ELSE 0 END) AS BIGINT)
           + CAST(sum(CASE WHEN sample_rate <= 0 THEN 1 ELSE 0 END)
            AS BIGINT)) * 1000000 // CAST(count(*) AS BIGINT)
            AS suspect_ppm
        FROM meta GROUP BY kind"""

  // ------------------------------------------------------------ q507

  /** q507 raster geometry: per-asset dims w ∈ 2..8, h ∈ 2..6 (≤ 144
    * raster bytes), pixels cycled from the document's text bytes so the
    * oracle can rebuild the raster with pure string arithmetic. */
  def q507Dims(docId: Long): (Int, Int) =
    ((2 + docId % 7).toInt, (2 + docId % 5).toInt)

  /** Serialize an RGB row-major raster as binary PPM (P6). The header
    * carries a comment line on purpose — a decoder that doesn't handle
    * `#` comments (netpbm spec) fails on every even asset, loudly. */
  def encodePpm(w: Int, h: Int, raster: Array[Byte]): Array[Byte] = {
    val header = s"P6\n# graft test raster\n$w $h\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + raster.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(raster, 0, out, header.length, raster.length)
    out
  }

  /** Serialize an RGB row-major raster as an uncompressed 24-bit BMP
    * (BITMAPFILEHEADER + BITMAPINFOHEADER): little-endian fields,
    * BOTTOM-UP row order, BGR channel order, rows padded to 4 bytes —
    * the three classic traps that make a BMP parse real. */
  def encodeBmp(w: Int, h: Int, raster: Array[Byte]): Array[Byte] = {
    val stride = (w * 3 + 3) & ~3
    val dataSize = stride * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + dataSize) // bfSize
    buf.putInt(0)             // bfReserved
    buf.putInt(54)            // bfOffBits
    buf.putInt(40)            // biSize
    buf.putInt(w).putInt(h)   // biWidth, biHeight (positive = bottom-up)
    buf.putShort(1)           // biPlanes
    buf.putShort(24)          // biBitCount
    buf.putInt(0)             // biCompression = BI_RGB
    buf.putInt(dataSize)      // biSizeImage
    buf.putInt(2835).putInt(2835) // 72 dpi
    buf.putInt(0).putInt(0)   // palette
    var y = h - 1             // write rows bottom-up
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val p = (y * w + x) * 3
        buf.put(raster(p + 2)).put(raster(p + 1)).put(raster(p)) // BGR
        x += 1
      }
      var pad = stride - w * 3
      while (pad > 0) { buf.put(0.toByte); pad -= 1 }
      y -= 1
    }
    buf.array()
  }

  /** REAL container decode: sniffs PPM (P6) vs BMP magic and parses the
    * header for truth — dims come from the FILE, not from metadata the
    * caller trusts. Returns (container, width, height, RGB row-major
    * raster). Throws on malformed input (wrong magic, short raster,
    * unsupported bit depth) — a media lake wants decode failures loud,
    * not coerced. */
  def decodePixels(payload: Array[Byte])
      : (String, Int, Int, Array[Byte]) = {
    require(payload.length >= 2, "payload too short for any container")
    if (payload(0) == 'P' && payload(1) == '6') {
      // netpbm P6: three ASCII ints (w, h, maxval) separated by
      // whitespace, '#'-to-EOL comments legal between tokens, exactly
      // one whitespace byte after maxval, then the binary raster
      var i = 2
      def nextInt(): Int = {
        while (i < payload.length &&
            (payload(i).toChar.isWhitespace || payload(i) == '#')) {
          if (payload(i) == '#')
            while (i < payload.length && payload(i) != '\n') i += 1
          else i += 1
        }
        var v = 0
        require(i < payload.length && payload(i) >= '0' &&
          payload(i) <= '9', s"PPM: expected digit at $i")
        while (i < payload.length && payload(i) >= '0' &&
            payload(i) <= '9') {
          v = v * 10 + (payload(i) - '0'); i += 1
        }
        v
      }
      val w = nextInt(); val h = nextInt(); val maxval = nextInt()
      require(maxval == 255, s"PPM: unsupported maxval $maxval")
      i += 1 // the single whitespace byte after maxval
      require(payload.length - i >= w * h * 3, "PPM: truncated raster")
      ("ppm", w, h,
        java.util.Arrays.copyOfRange(payload, i, i + w * h * 3))
    } else if (payload(0) == 'B' && payload(1) == 'M') {
      val buf = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val offBits = buf.getInt(10)
      val w = buf.getInt(18)
      val h = buf.getInt(22)
      require(buf.getShort(28) == 24, "BMP: only 24bpp supported")
      require(buf.getInt(30) == 0, "BMP: only BI_RGB supported")
      require(h > 0, "BMP: top-down images not supported")
      val stride = (w * 3 + 3) & ~3
      require(payload.length >= offBits + stride * h,
        "BMP: truncated raster")
      val rgb = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        val src = offBits + (h - 1 - y) * stride // undo bottom-up
        var x = 0
        while (x < w) {
          val p = (y * w + x) * 3
          rgb(p) = payload(src + x * 3 + 2)     // R from BGR
          rgb(p + 1) = payload(src + x * 3 + 1) // G
          rgb(p + 2) = payload(src + x * 3)     // B
          x += 1
        }
        y += 1
      }
      ("bmp", w, h, rgb)
    } else sys.error(
      f"unknown container magic 0x${payload(0)}%02x${payload(1)}%02x")
  }

  /** q507 — DECODED-PIXEL statistics through REAL container parses (the
    * graduation of this family from bytes-about-bytes to pixels: q81
    * histograms payload bytes as-is; here every asset is serialized
    * into a genuine public image container — even doc_ids as binary
    * PPM/P6 with a header comment, odd ones as uncompressed 24-bit BMP
    * with little-endian headers, bottom-up rows, BGR channels, and
    * 4-byte row padding — and then DECODED back in the typed
    * mapPartitions codec slot by a parser that trusts only the file:
    * dims are read from the header, BMP rows are re-flipped, channels
    * re-swapped, padding dropped). Released per asset: the container,
    * header-derived dims, per-channel integer sums over the decoded
    * raster, and the md5 of the reconstructed RGB row-major raster —
    * which the oracle reproduces from TEXT arithmetic alone, so the
    * differential proves the encode→parse round-trip is byte-exact
    * through both container formats. A real JPEG codec drops into the
    * same slot with the same schema; only `decodePixels` changes.
    *
    * Scale shape: one narrow typed pass, zero shuffles, zero joins;
    * per-row scratch is the ≤ 144-byte raster (at real image sizes,
    * one frame) — the q81/q148 partition-batched codec discipline. */
  def q507PixelDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (docId, tb) =>
          val (w, h) = q507Dims(docId)
          val raster =
            Array.tabulate(w * h * 3)(i => tb(i % tb.length))
          val payload =
            if (docId % 2 == 0) encodePpm(w, h, raster)
            else encodeBmp(w, h, raster)
          val (container, dw, dh, rgb) = decodePixels(payload)
          var sr = 0L; var sg = 0L; var sb = 0L
          var p = 0
          while (p < rgb.length) {
            sr += rgb(p) & 0xff
            sg += rgb(p + 1) & 0xff
            sb += rgb(p + 2) & 0xff
            p += 3
          }
          md.reset()
          val hex = md.digest(rgb).map("%02x".format(_)).mkString
          (docId, container, dw.toLong, dh.toLong, dw.toLong * dh,
            sr, sg, sb, hex)
        }
      }.toDF("asset_id", "container", "width", "height", "n_pixels",
        "sum_r", "sum_g", "sum_b", "raster_md5")
  }

  private def q507OracleSql: String =
    """WITH d AS (SELECT doc_id, text, strlen(text) AS n,
          2 + doc_id % 7 AS w, 2 + doc_id % 5 AS h
        FROM documents),
        r AS (SELECT doc_id, w, h,
            substr(repeat(text, CAST(w * h * 3 // n + 1 AS INT)),
              1, CAST(w * h * 3 AS INT)) AS raster
          FROM d),
        s AS (SELECT doc_id, w, h, raster,
            list_transform(string_split(raster, ''),
              px_c -> ascii(px_c)) AS bs
          FROM r)
        SELECT doc_id AS asset_id,
          CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS container,
          CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
          CAST(w * h AS BIGINT) AS n_pixels,
          CAST(list_sum(list_transform(range(0, w * h),
            px_p -> bs[CAST(3 * px_p + 1 AS INT)])) AS BIGINT) AS sum_r,
          CAST(list_sum(list_transform(range(0, w * h),
            px_p -> bs[CAST(3 * px_p + 2 AS INT)])) AS BIGINT) AS sum_g,
          CAST(list_sum(list_transform(range(0, w * h),
            px_p -> bs[CAST(3 * px_p + 3 AS INT)])) AS BIGINT) AS sum_b,
          md5(raster) AS raster_md5
        FROM s"""

  // ------------------------------------------------------------ q509

  /** q509 audio geometry: frames ∈ 8..32, channels ∈ {1, 2}, sample
    * rate cycled over three canonical PCM rates — all derived from
    * doc_id so the oracle rebuilds them arithmetically; sample j is
    * `(text_byte(j mod len) − 64)·201`, spanning negative and positive
    * int16 values so both bytes of the little-endian pair carry
    * signal. */
  def q509Geom(docId: Long): (Int, Int, Int) =
    ((8 + docId % 25).toInt, (1 + docId % 2).toInt,
      Array(8000, 16000, 44100)((docId % 3).toInt))

  /** Serialize interleaved signed 16-bit PCM as a REAL RIFF/WAVE
    * container: RIFF size header, "WAVE" form, canonical 16-byte fmt
    * chunk (PCM tag, channels, rate, byte-rate, block-align, bits),
    * then the data chunk. When `withList` is set (even asset ids) an
    * ODD-SIZED "LIST" metadata chunk sits between fmt and data — the
    * RIFF spec pads chunks to even offsets, so a walker that forgets
    * the pad byte misreads every subsequent chunk id; like q507's PPM
    * comment, the trap makes the parse real. */
  def encodeWav(rate: Int, channels: Int, samples: Array[Short],
      withList: Boolean): Array[Byte] = {
    val listBody =
      "INFOgraft".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val listSize =
      if (withList) 8 + listBody.length + (listBody.length & 1) else 0
    val dataSize = samples.length * 2
    val riffSize = 4 + 24 + listSize + 8 + dataSize
    val buf = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def ascii(t: String): Unit = t.foreach(c => buf.put(c.toByte))
    ascii("RIFF"); buf.putInt(riffSize); ascii("WAVE")
    ascii("fmt "); buf.putInt(16)
    buf.putShort(1)                                  // PCM
    buf.putShort(channels.toShort)
    buf.putInt(rate)
    buf.putInt(rate * channels * 2)                  // byte rate
    buf.putShort((channels * 2).toShort)             // block align
    buf.putShort(16)                                 // bits/sample
    if (withList) {
      ascii("LIST"); buf.putInt(listBody.length)     // odd size (9)
      buf.put(listBody); buf.put(0.toByte)           // the pad byte
    }
    ascii("data"); buf.putInt(dataSize)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** REAL RIFF chunk walk: verifies RIFF/WAVE magic, iterates
    * (id, size) chunks honoring the even-offset pad byte, parses fmt
    * for truth (PCM tag, channels, rate, 16-bit — all REQUIRED from
    * the file, not caller metadata), skips unknown chunks, and slices
    * the data chunk into signed little-endian samples. Throws loudly
    * on bad magic, truncation, data-before-fmt, or non-PCM — the
    * q507 decode-failures-are-loud discipline. */
  def decodeWav(payload: Array[Byte]): (Int, Int, Array[Short]) = {
    require(payload.length >= 12, "WAV: too short for a RIFF header")
    def tag(i: Int) = new String(payload, i, 4,
      java.nio.charset.StandardCharsets.US_ASCII)
    require(tag(0) == "RIFF" && tag(8) == "WAVE",
      s"WAV: bad magic ${tag(0)}/${tag(8)}")
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 12
    var rate = -1
    var ch = -1
    var fmtSeen = false
    var samples: Array[Short] = null
    while (samples == null && i + 8 <= payload.length) {
      val id = tag(i)
      val sz = buf.getInt(i + 4)
      require(sz >= 0 && i + 8 + sz <= payload.length,
        s"WAV: truncated chunk $id")
      id match {
        case "fmt " =>
          require(sz >= 16, "WAV: fmt chunk too short")
          require(buf.getShort(i + 8) == 1, "WAV: only PCM supported")
          ch = buf.getShort(i + 10).toInt
          rate = buf.getInt(i + 12)
          require(buf.getShort(i + 22) == 16,
            "WAV: only 16-bit samples supported")
          fmtSeen = true
        case "data" =>
          require(fmtSeen, "WAV: data chunk before fmt")
          require(sz % 2 == 0, "WAV: odd data size for 16-bit PCM")
          samples = Array.tabulate(sz / 2)(j => buf.getShort(i + 8 + 2 * j))
        case _ => () // unknown chunk: skip (LIST lands here)
      }
      i += 8 + sz + (sz & 1) // even-offset pad byte
    }
    require(samples != null, "WAV: no data chunk")
    (rate, ch, samples)
  }

  /** q509 — DECODED-AUDIO statistics through a REAL RIFF/WAVE parse
    * (audio joins q507's pixels: every asset is serialized into a
    * genuine PCM WAV — canonical fmt chunk, interleaved signed 16-bit
    * little-endian samples, and on even ids an odd-sized LIST metadata
    * chunk exercising the RIFF pad-byte rule — then decoded back in
    * the typed mapPartitions codec slot by a chunk walker that trusts
    * only the bytes: rate/channels/bit-depth come from fmt, the sample
    * count from the data chunk). Released per asset: header-derived
    * rate and channels, frame count, exact integer sample stats (sum,
    * min, max, and the position-weighted Σ(j+1)·s_j that pins sample
    * ORDER), and the md5 of the canonical comma-joined sample render —
    * which the oracle reproduces from text arithmetic alone, proving
    * the encode→parse round-trip sample-exact including negative
    * two's-complement values. A real MP3/FLAC codec drops into the
    * same slot with the same schema; only `decodeWav` changes.
    *
    * Scale shape: one narrow typed pass, zero shuffles, zero joins;
    * per-row scratch is ≤ 64 samples (at real audio sizes, one frame
    * buffer) — the q81/q148/q507 partition-batched codec
    * discipline. */
  def q509WavDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (docId, tb) =>
          val (frames, ch, rate) = q509Geom(docId)
          val samples = Array.tabulate(frames * ch)(j =>
            (((tb(j % tb.length) & 0xff) - 64) * 201).toShort)
          val payload = encodeWav(rate, ch, samples, docId % 2 == 0)
          val (drate, dch, ds) = decodeWav(payload)
          var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
          var wsum = 0L
          var j = 0
          while (j < ds.length) {
            val v = ds(j).toLong
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            wsum += (j + 1) * v
            j += 1
          }
          md.reset()
          val hex = md.digest(ds.mkString(",")
              .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
            .map("%02x".format(_)).mkString
          (docId, drate.toLong, dch.toLong, (ds.length / dch).toLong,
            sum, mn, mx, wsum, hex)
        }
      }.toDF("asset_id", "sample_rate", "channels", "n_frames",
        "sum_s", "min_s", "max_s", "wsum_s", "samples_md5")
  }

  private def q509OracleSql: String =
    """WITH d AS (SELECT doc_id, text, strlen(text) AS n,
          8 + doc_id % 25 AS frames, 1 + doc_id % 2 AS ch,
          [8000, 16000, 44100][CAST(doc_id % 3 + 1 AS INT)] AS rate
        FROM documents),
        s AS (SELECT doc_id, frames, ch, rate,
            list_transform(range(0, CAST(frames * ch AS INT)),
              wv_j -> (ascii(substr(text,
                CAST(wv_j % n + 1 AS INT), 1)) - 64) * 201) AS ss
          FROM d)
        SELECT doc_id AS asset_id,
          CAST(rate AS BIGINT) AS sample_rate,
          CAST(ch AS BIGINT) AS channels,
          CAST(frames AS BIGINT) AS n_frames,
          CAST(list_sum(ss) AS BIGINT) AS sum_s,
          CAST(list_aggregate(ss, 'min') AS BIGINT) AS min_s,
          CAST(list_aggregate(ss, 'max') AS BIGINT) AS max_s,
          CAST(list_sum(list_transform(
            range(1, CAST(frames * ch AS INT) + 1),
            wv_j -> wv_j * ss[wv_j])) AS BIGINT) AS wsum_s,
          md5(array_to_string(ss, ',')) AS samples_md5
        FROM s"""

  // ------------------------------------------------------------ q511

  /** q511 raster geometry: w ∈ 4..16, h ∈ 5..13 — h ≥ 5 so EVERY asset
    * exercises all five PNG filter types (row y carries filter y mod 5);
    * pixels cycled from the document's text bytes exactly like q507 so
    * the oracle rebuilds the pre-compression raster with pure string
    * arithmetic. */
  def q511Dims(docId: Long): (Int, Int) =
    ((4 + docId % 13).toInt, (5 + docId % 9).toInt)

  /** PNG Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left to
    * the linear estimate a + b − c, ties broken left, then up. */
  def paethPredict(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def pngChunk(out: java.io.ByteArrayOutputStream, id: String,
      data: Array[Byte]): Unit = {
    val hdr = java.nio.ByteBuffer.allocate(8)
    hdr.putInt(data.length)
    id.foreach(c => hdr.put(c.toByte))
    out.write(hdr.array())
    out.write(data)
    val crc = new java.util.zip.CRC32()
    crc.update(id.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    crc.update(data)
    val tail = java.nio.ByteBuffer.allocate(4)
    tail.putInt(crc.getValue.toInt)
    out.write(tail.array())
  }

  /** Serialize an RGB row-major raster as a REAL PNG: 8-byte signature,
    * big-endian chunk framing with a CRC32 over (type ‖ data) on every
    * chunk, IHDR (8-bit, color type 2 truecolor), an ancillary tEXt
    * chunk a strict decoder must skip-but-CRC-check, the scanline
    * stream filtered row-by-row with filter type y mod 5 (None/Sub/Up/
    * Average/Paeth — the full RFC 2083 §6 repertoire), DEFLATE-
    * compressed through `java.util.zip.Deflater` (a genuine zlib
    * stream, not stored blocks), split across TWO IDAT chunks (the
    * spec allows any split; a decoder that inflates per-chunk instead
    * of concatenating dies mid-stream), and IEND. */
  def encodePng(w: Int, h: Int, raster: Array[Byte]): Array[Byte] = {
    val stride = w * 3
    val filtered = new Array[Byte]((1 + stride) * h)
    var y = 0
    while (y < h) {
      val ft = y % 5
      filtered(y * (1 + stride)) = ft.toByte
      var x = 0
      while (x < stride) {
        val raw = raster(y * stride + x) & 0xff
        val left = if (x >= 3) raster(y * stride + x - 3) & 0xff else 0
        val up = if (y > 0) raster((y - 1) * stride + x) & 0xff else 0
        val ul = if (x >= 3 && y > 0)
          raster((y - 1) * stride + x - 3) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) >> 1
          case 4 => paethPredict(left, up, ul)
        }
        filtered(y * (1 + stride) + 1 + x) = ((raw - pred) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(filtered); defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](512)
    while (!defl.finished()) {
      val n = defl.deflate(tmp)
      zbuf.write(tmp, 0, n)
    }
    defl.end()
    val z = zbuf.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h)
    ihdr.put(8.toByte)  // bit depth
    ihdr.put(2.toByte)  // color type: truecolor RGB
    ihdr.put(0.toByte).put(0.toByte).put(0.toByte) // deflate/adaptive/none
    pngChunk(out, "IHDR", ihdr.array())
    pngChunk(out, "tEXt", "Comment graft test raster"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val split = z.length / 2
    pngChunk(out, "IDAT", java.util.Arrays.copyOfRange(z, 0, split))
    pngChunk(out, "IDAT", java.util.Arrays.copyOfRange(z, split, z.length))
    pngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** REAL PNG decode that trusts only the bytes: signature check, chunk
    * walk verifying EVERY chunk's CRC32 (including ancillary tEXt —
    * corruption anywhere is loud), IHDR-first ordering enforced, 8-bit
    * truecolor only, IDAT payloads CONCATENATED (consecutive per spec —
    * an interleaved chunk throws) then inflated through
    * `java.util.zip.Inflater` to exactly h·(1+3w) bytes, and the five
    * filter reconstructions applied row-by-row (Sub/Up/Average/Paeth
    * inverses over the already-reconstructed neighbors, RFC 2083 §6.5-
    * 6.6). Returns (width, height, RGB row-major raster, Σ filter-type
    * bytes) — the filter sum releases proof the per-row filter bytes
    * themselves round-tripped. */
  def decodePng(payload: Array[Byte]): (Int, Int, Array[Byte], Long) = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    require(payload.length >= 8 &&
      java.util.Arrays.equals(java.util.Arrays.copyOf(payload, 8), sig),
      "PNG: bad signature")
    val buf = java.nio.ByteBuffer.wrap(payload) // big-endian by default
    var i = 8
    var w = -1; var h = -1
    var ihdrSeen = false
    var idatSeen = false
    var idatDone = false
    var ended = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!ended) {
      require(i + 8 <= payload.length, "PNG: truncated chunk header")
      val len = buf.getInt(i)
      require(len >= 0 && i + 12 + len <= payload.length,
        "PNG: truncated chunk")
      val id = new String(payload, i + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new java.util.zip.CRC32()
      crc.update(payload, i + 4, 4 + len)
      require(crc.getValue.toInt == buf.getInt(i + 8 + len),
        s"PNG: CRC mismatch in $id")
      id match {
        case "IHDR" =>
          require(!ihdrSeen && i == 8, "PNG: IHDR must be first")
          require(len == 13, "PNG: bad IHDR length")
          w = buf.getInt(i + 8); h = buf.getInt(i + 12)
          require(w > 0 && h > 0, "PNG: bad dimensions")
          require(payload(i + 16) == 8, "PNG: only 8-bit supported")
          require(payload(i + 17) == 2, "PNG: only truecolor supported")
          require(payload(i + 18) == 0 && payload(i + 19) == 0 &&
            payload(i + 20) == 0, "PNG: bad compression/filter/interlace")
          ihdrSeen = true
        case "IDAT" =>
          require(ihdrSeen, "PNG: IDAT before IHDR")
          require(!idatDone, "PNG: non-consecutive IDAT chunks")
          idatSeen = true
          idat.write(payload, i + 8, len)
        case "IEND" =>
          require(len == 0, "PNG: non-empty IEND")
          ended = true
        case _ =>
          require(ihdrSeen, s"PNG: $id before IHDR")
          if (idatSeen) idatDone = true
      }
      i += 12 + len
    }
    require(idatSeen, "PNG: no IDAT chunk")
    val stride = w * 3
    val expected = (1 + stride) * h
    val filtered = new Array[Byte](expected)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var off = 0
    while (!inf.finished() && off < expected) {
      val n = inf.inflate(filtered, off, expected - off)
      require(n > 0 || inf.finished(), "PNG: inflate stalled")
      off += n
    }
    require(inf.finished() && off == expected,
      s"PNG: inflated $off bytes, expected $expected")
    inf.end()
    val raster = new Array[Byte](stride * h)
    var fsum = 0L
    var y = 0
    while (y < h) {
      val ft = filtered(y * (1 + stride)) & 0xff
      require(ft <= 4, s"PNG: bad filter type $ft")
      fsum += ft
      var x = 0
      while (x < stride) {
        val v = filtered(y * (1 + stride) + 1 + x) & 0xff
        val left = if (x >= 3) raster(y * stride + x - 3) & 0xff else 0
        val up = if (y > 0) raster((y - 1) * stride + x) & 0xff else 0
        val ul = if (x >= 3 && y > 0)
          raster((y - 1) * stride + x - 3) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) >> 1
          case 4 => paethPredict(left, up, ul)
        }
        raster(y * stride + x) = ((v + pred) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    (w, h, raster, fsum)
  }

  /** q511 — DECODED-PIXEL statistics through a REAL COMPRESSED
    * container (the step past q507's uncompressed PPM/BMP: every asset
    * is serialized into a genuine PNG — CRC32-framed chunks, the full
    * five-filter scanline repertoire at filter y mod 5, a REAL zlib
    * DEFLATE stream via `java.util.zip.Deflater`, the IDAT split in
    * two, an ancillary tEXt trap — and decoded back in the typed
    * mapPartitions codec slot by a parser that trusts only the bytes:
    * every CRC verified, IDATs concatenated before ONE Inflater pass,
    * all five filter inverses reconstructed neighbor-by-neighbor).
    * Released per asset: header-derived dims, per-channel integer sums
    * over the decoded raster, the Σ of the per-row filter-type bytes
    * (pinning that the filter bytes themselves survived compression),
    * and the md5 of the reconstructed RGB raster — all rebuilt by the
    * oracle from TEXT arithmetic alone, so the differential proves the
    * filter→deflate→chunk→parse→inflate→reconstruct cycle byte-exact.
    * A libpng-backed codec drops into the same slot with the same
    * schema; only `decodePng` changes.
    *
    * Scale shape: one narrow typed pass, zero shuffles, zero joins;
    * per-row scratch is the ≤ 624-byte raster plus its filtered/
    * deflated twins (at real image sizes, one frame buffer) — the
    * q81/q148/q507/q509 partition-batched codec discipline. */
  def q511PngDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (docId, tb) =>
          val (w, h) = q511Dims(docId)
          val raster =
            Array.tabulate(w * h * 3)(i => tb(i % tb.length))
          val payload = encodePng(w, h, raster)
          val (dw, dh, rgb, fsum) = decodePng(payload)
          var sr = 0L; var sg = 0L; var sb = 0L
          var p = 0
          while (p < rgb.length) {
            sr += rgb(p) & 0xff
            sg += rgb(p + 1) & 0xff
            sb += rgb(p + 2) & 0xff
            p += 3
          }
          md.reset()
          val hex = md.digest(rgb).map("%02x".format(_)).mkString
          (docId, dw.toLong, dh.toLong, dw.toLong * dh,
            sr, sg, sb, fsum, hex)
        }
      }.toDF("asset_id", "width", "height", "n_pixels",
        "sum_r", "sum_g", "sum_b", "filter_sum", "raster_md5")
  }

  private def q511OracleSql: String =
    """WITH d AS (SELECT doc_id, text, strlen(text) AS n,
          4 + doc_id % 13 AS w, 5 + doc_id % 9 AS h
        FROM documents),
        r AS (SELECT doc_id, w, h,
            substr(repeat(text, CAST(w * h * 3 // n + 1 AS INT)),
              1, CAST(w * h * 3 AS INT)) AS raster
          FROM d),
        s AS (SELECT doc_id, w, h, raster,
            list_transform(string_split(raster, ''),
              px_c -> ascii(px_c)) AS bs
          FROM r)
        SELECT doc_id AS asset_id,
          CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
          CAST(w * h AS BIGINT) AS n_pixels,
          CAST(list_sum(list_transform(range(0, w * h),
            px_p -> bs[CAST(3 * px_p + 1 AS INT)])) AS BIGINT) AS sum_r,
          CAST(list_sum(list_transform(range(0, w * h),
            px_p -> bs[CAST(3 * px_p + 2 AS INT)])) AS BIGINT) AS sum_g,
          CAST(list_sum(list_transform(range(0, w * h),
            px_p -> bs[CAST(3 * px_p + 3 AS INT)])) AS BIGINT) AS sum_b,
          CAST(list_sum(list_transform(range(0, h),
            px_y -> px_y % 5)) AS BIGINT) AS filter_sum,
          md5(raster) AS raster_md5
        FROM s"""

  // ------------------------------------------------------------ q516

  /** q516 video geometry: 3..8 frames of 9..16 bytes (odd sizes ON
    * PURPOSE — every asset exercises the RIFF pad byte inside the movi
    * list), nominal dims and the frame clock derived from doc_id so
    * the oracle rebuilds everything arithmetically; frame i's bytes
    * cycle the document text from offset (i·17) mod len. */
  def q516Geom(docId: Long): (Int, Int, Int, Int) =
    ((3 + docId % 6).toInt, (4 + docId % 5).toInt, (3 + docId % 4).toInt,
      Array(33333, 40000)((docId % 2).toInt))

  def q516FrameSize(docId: Long, i: Int): Int =
    (9 + (docId + 3 * i) % 8).toInt

  /** Serialize frames as a REAL AVI: nested RIFF lists (hdrl holding
    * avih + a strl list with strh/strf, then the movi list of '00dc'
    * frame chunks with pad bytes), closed by an idx1 index whose
    * entries carry each frame's offset WITHIN the movi list (the
    * convention players actually seek by) — so a decoder must walk
    * LISTs recursively (q509's WAV walk is flat; this is the
    * hierarchy) and can cross-check the index against the walk. */
  def encodeAvi(docId: Long, frames: Array[Array[Byte]],
      w: Int, h: Int, usPerFrame: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def le32(v: Int): Array[Byte] = {
      buf.clear(); buf.putInt(v)
      java.util.Arrays.copyOf(buf.array(), 4)
    }
    def fourcc(t: String): Array[Byte] =
      t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    // avih: 56 bytes
    val avih = new java.io.ByteArrayOutputStream()
    avih.write(le32(usPerFrame)); avih.write(le32(0)); avih.write(le32(0))
    avih.write(le32(0x10)) // AVIF_HASINDEX
    avih.write(le32(frames.length)); avih.write(le32(0))
    avih.write(le32(1)); avih.write(le32(0))
    avih.write(le32(w)); avih.write(le32(h))
    (0 until 4).foreach(_ => avih.write(le32(0)))
    // strh: 56 bytes (vids stream header)
    val strh = new java.io.ByteArrayOutputStream()
    strh.write(fourcc("vids")); strh.write(fourcc("GRFT"))
    strh.write(le32(0)); strh.write(le32(0)); strh.write(le32(0))
    strh.write(le32(1)) // scale
    strh.write(le32(1000000 / usPerFrame)) // rate ~ fps
    strh.write(le32(0)); strh.write(le32(frames.length))
    strh.write(le32(frames.map(_.length).max)); strh.write(le32(0))
    strh.write(le32(0))
    strh.write(le32(0)); strh.write(le32(0)) // rcFrame
    // strf: 40-byte BITMAPINFOHEADER
    val strf = new java.io.ByteArrayOutputStream()
    strf.write(le32(40)); strf.write(le32(w)); strf.write(le32(h))
    strf.write(Array[Byte](1, 0, 24, 0)) // planes, bitcount
    strf.write(le32(0)); strf.write(le32(w * h * 3))
    strf.write(le32(0)); strf.write(le32(0))
    strf.write(le32(0)); strf.write(le32(0))
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(fourcc(id)); o.write(le32(body.length)); o.write(body)
      if ((body.length & 1) == 1) o.write(0) // RIFF pad byte
      o.toByteArray
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(fourcc("LIST")); o.write(le32(4 + body.length))
      o.write(fourcc(kind)); o.write(body)
      o.toByteArray
    }
    val strl = list("strl",
      chunk("strh", strh.toByteArray) ++ chunk("strf", strf.toByteArray))
    val hdrl = list("hdrl", chunk("avih", avih.toByteArray) ++ strl)
    // movi list + per-frame offsets (from the movi list's fourcc: the
    // first chunk sits at offset 4)
    val moviBody = new java.io.ByteArrayOutputStream()
    val offsets = new Array[Int](frames.length)
    frames.zipWithIndex.foreach { case (f, i) =>
      offsets(i) = 4 + moviBody.size()
      moviBody.write(chunk("00dc", f))
    }
    val movi = list("movi", moviBody.toByteArray)
    val idx = new java.io.ByteArrayOutputStream()
    frames.zipWithIndex.foreach { case (f, i) =>
      idx.write(fourcc("00dc")); idx.write(le32(0x10)) // AVIIF_KEYFRAME
      idx.write(le32(offsets(i))); idx.write(le32(f.length))
    }
    val riffBody = fourcc("AVI ") ++ hdrl ++ movi ++
      chunk("idx1", idx.toByteArray)
    out.write(fourcc("RIFF")); out.write(le32(riffBody.length))
    out.write(riffBody)
    out.toByteArray
  }

  /** REAL hierarchical RIFF walk: verifies RIFF/'AVI ' magic, recurses
    * into LIST chunks (hdrl → strl nesting — the flat q509 walker
    * cannot read this), parses avih for the frame clock/dims/count,
    * requires a 'vids' strh, collects movi '00dc' frames WITH their
    * measured in-list offsets honoring pad bytes, then parses idx1 and
    * CROSS-CHECKS every index entry (id, offset, size) against the
    * walk — a seek index that lies is a corrupted file and throws.
    * Returns (usPerFrame, width, height, frames). */
  def decodeAvi(payload: Array[Byte])
      : (Int, Int, Int, Array[Array[Byte]]) = {
    require(payload.length >= 12, "AVI: too short")
    def tag(i: Int) = new String(payload, i, 4,
      java.nio.charset.StandardCharsets.US_ASCII)
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(tag(0) == "RIFF" && tag(8) == "AVI ",
      s"AVI: bad magic ${tag(0)}/${tag(8)}")
    require(8 + buf.getInt(4) <= payload.length, "AVI: truncated RIFF")
    var usPerFrame = -1; var w = -1; var h = -1; var totalFrames = -1
    var vids = false
    val frames = scala.collection.mutable.ArrayBuffer[(Int, Array[Byte])]()
    val idx = scala.collection.mutable.ArrayBuffer[(String, Int, Int)]()
    def walk(from: Int, to: Int, inMovi: Boolean, moviBase: Int): Unit = {
      var i = from
      while (i + 8 <= to) {
        val id = tag(i)
        val sz = buf.getInt(i + 4)
        require(sz >= 0 && i + 8 + sz <= to, s"AVI: truncated chunk $id")
        id match {
          case "LIST" =>
            require(sz >= 4, "AVI: LIST too short")
            val kind = tag(i + 8)
            walk(i + 12, i + 8 + sz, kind == "movi", i + 8)
          case "avih" =>
            require(sz >= 56, "AVI: avih too short")
            usPerFrame = buf.getInt(i + 8)
            totalFrames = buf.getInt(i + 8 + 16)
            w = buf.getInt(i + 8 + 32)
            h = buf.getInt(i + 8 + 36)
          case "strh" =>
            if (tag(i + 8) == "vids") vids = true
          case "00dc" =>
            require(inMovi, "AVI: frame chunk outside movi")
            require(usPerFrame >= 0, "AVI: frames before avih")
            frames += ((i - moviBase,
              java.util.Arrays.copyOfRange(payload, i + 8, i + 8 + sz)))
          case "idx1" =>
            require(sz % 16 == 0, "AVI: bad idx1 size")
            (0 until sz / 16).foreach { e =>
              idx += ((tag(i + 8 + e * 16),
                buf.getInt(i + 8 + e * 16 + 8),
                buf.getInt(i + 8 + e * 16 + 12)))
            }
          case _ => ()
        }
        i += 8 + sz + (sz & 1) // pad byte
      }
    }
    walk(12, 8 + buf.getInt(4), inMovi = false, 0)
    require(vids, "AVI: no vids stream header")
    require(totalFrames == frames.length,
      s"AVI: header claims $totalFrames frames, movi has ${frames.length}")
    require(idx.length == frames.length,
      s"AVI: idx1 has ${idx.length} entries for ${frames.length} frames")
    frames.zip(idx).zipWithIndex.foreach {
      case (((off, f), (iid, ioff, isz)), k) =>
        require(iid == "00dc", s"AVI: idx1 entry $k id $iid")
        require(ioff == off,
          s"AVI: idx1 entry $k offset $ioff, walked $off")
        require(isz == f.length,
          s"AVI: idx1 entry $k size $isz, walked ${f.length}")
    }
    (usPerFrame, w, h, frames.map(_._2).toArray)
  }

  /** q516 — VIDEO-CONTAINER FRAME INDEX through a REAL nested-RIFF
    * parse (video completes the codec-slot trilogy — q507/q511 pixels,
    * q509 audio: every asset serialized as a genuine AVI, hdrl/strl
    * hierarchy, movi '00dc' frame chunks with pad bytes, and an idx1
    * seek index — then decoded by a RECURSIVE list walker that trusts
    * only the bytes and cross-checks every idx1 entry against its own
    * measured offsets: the lying-seek-index corruption class is loud,
    * not silently mis-seeked). Released per asset: header clock +
    * dims, frame count, total/order-pinned frame-byte sums, and the
    * md5 of the concatenated frame bytes — the oracle rebuilds all of
    * it from text arithmetic, proving the nested encode→walk→index-
    * check round-trip byte-exact. A real MP4/MKV demuxer drops into
    * the same slot; only `decodeAvi` changes.
    *
    * Scale shape: one narrow typed pass, zero shuffles/joins; per-row
    * scratch ≤ ~350 container bytes (at real video sizes, one GOP
    * buffer) — the q81/q148/q507/q509 partition-batched codec
    * discipline. */
  def q516AviFrameIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (docId, tb) =>
          val (nf, w, h, usf) = q516Geom(docId)
          val frames = Array.tabulate(nf) { i =>
            val sz = q516FrameSize(docId, i)
            Array.tabulate(sz)(j => tb((i * 17 + j) % tb.length))
          }
          val payload = encodeAvi(docId, frames, w, h, usf)
          val (dusf, dw, dh, df) = decodeAvi(payload)
          var total = 0L; var wsum = 0L
          df.zipWithIndex.foreach { case (f, i) =>
            total += f.length
            wsum += (i + 1L) * f.length
          }
          md.reset()
          df.foreach(md.update)
          val hex = md.digest().map("%02x".format(_)).mkString
          (docId, dw.toLong, dh.toLong, dusf.toLong, df.length.toLong,
            total, wsum, hex)
        }
      }.toDF("asset_id", "width", "height", "us_per_frame", "n_frames",
        "total_bytes", "wsum_bytes", "frames_md5")
  }

  private def q516OracleSql: String =
    """WITH d AS (SELECT doc_id, text, strlen(text) AS n,
          3 + doc_id % 6 AS nf, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
          [33333, 40000][CAST(doc_id % 2 + 1 AS INT)] AS usf
        FROM documents),
        f AS (SELECT doc_id, nf, w, h, usf,
            list_transform(range(0, CAST(nf AS INT)), av_i ->
              substr(repeat(text, CAST((av_i * 17 + 16) // n + 2 AS INT)),
                CAST(av_i * 17 % n + 1 AS INT),
                CAST(9 + (doc_id + 3 * av_i) % 8 AS INT))) AS fr
          FROM d)
        SELECT doc_id AS asset_id,
          CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
          CAST(usf AS BIGINT) AS us_per_frame,
          CAST(nf AS BIGINT) AS n_frames,
          CAST(list_sum(list_transform(fr, av_x ->
            strlen(av_x))) AS BIGINT) AS total_bytes,
          CAST(list_sum(list_transform(range(1, CAST(nf AS INT) + 1),
            av_i -> av_i * strlen(fr[av_i]))) AS BIGINT) AS wsum_bytes,
          md5(array_to_string(fr, '')) AS frames_md5
        FROM f"""

  val registry: Seq[Q] = Seq(
    Q("q516_avi_frame_index", q516AviFrameIndex, q516OracleSql),
    Q("q511_png_decode", q511PngDecode, q511OracleSql),
    Q("q509_wav_decode", q509WavDecode, q509OracleSql),
    Q("q507_pixel_decode", q507PixelDecode, q507OracleSql),
    Q("q476_media_kind_mislabel", q476MediaKindMislabel, q476OracleSql),
    Q("q489_metadata_consistency", q489MetadataConsistency, q489OracleSql),
    Q("q310_aspect_buckets", q310AspectBuckets, q310OracleSql),
    Q("q285_frame_dedup", q285FrameDedup, q285OracleSql),
    Q("q270_payload_collision", q270PayloadCollision, q270OracleSql),
    Q("q254_silence_segments", q254SilenceSegments, q254OracleSql),
    Q("q231_payload_phash", q231PayloadPhash, q231OracleSql),
    Q("q366_phash_clusters", q366PhashClusters, q366OracleSql),
    Q("q220_hist_equalize", q220HistEqualize, q220OracleSql),
    Q("q216_cdc_chunk_dedup", q216CdcChunkDedup, q216OracleSql),
    Q("q118_resize_meta", q118ResizeMeta, q118OracleSql),
    Q("q148_shot_boundaries", q148ShotBoundaries, q148OracleSql),
    Q("q115_frame_sample", q115FrameSample, q115OracleSql),
    Q("q38_multimodal_meta", q38MultimodalMeta, q38OracleSql),
    Q("q454_payload_rle", q454PayloadRle, q454OracleSql),
    Q("q81_media_histogram", q81MediaHistogram, q81OracleSql))
}
