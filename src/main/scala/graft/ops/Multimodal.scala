package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media ride along as opaque `BINARY` columns
  * with typed metadata, and per-row decode / feature-extract kernels run
  * inside `mapPartitions` (the JVM twin of `mapInPandas` batch UDFs): the
  * expensive decode is partition-local, nothing shuffles pixel data, and the
  * 100 TB path is "binary column in parquet → partition-parallel kernel →
  * small feature columns out".
  *
  * PNG (and any other `javax.imageio`-readable format) decodes FOR REAL via
  * [[decodePng]], including the stage-1 sink's PNGs ([[graft.Pipeline.pngBytes]]).
  * Codecs genuinely absent from this JVM (DICOM handled separately by
  * [[graft.sources.DicomDecode]], audio, video) fall back to the
  * clearly-marked [[decodeStub]]; the surrounding plumbing — schema,
  * encoders, batch shape, partitioning — is identical either way.
  */
object Multimodal {

  /** One media row: payload + metadata. Mirrors the reference's image rows
    * (generate_images_from_dicom.py:48-51 — fixed-size pixel array + id). */
  final case class MediaRow(
      media_id: Long,
      payload: Array[Byte],
      mime: String,
      width: Int,
      height: Int)

  /** Extracted features: what a decode+featurize kernel emits per media row. */
  final case class MediaFeatures(
      media_id: Long,
      n_bytes: Long,
      sha256: String,
      width: Int,
      height: Int,
      mean_byte: Double,
      histogram: Array[Long])

  // ImageIO defaults to a DISK-backed stream cache: every decode would
  // write a temp file. In-memory streams are strictly better for byte-array
  // reads; JVM-wide, set once per executor when this object loads.
  javax.imageio.ImageIO.setUseCache(false)

  /** Real image decode via javax.imageio for image-mime payloads: pixels out
    * of the compressed bytes, true width/height from the decoded raster, a
    * 16-bin luminance histogram and mean over the actual pixel samples.
    * Falls back to [[decodeStub]] if ImageIO cannot parse the payload (a
    * corrupt file must not kill a 100 TB job — it degrades to byte stats). */
  def decodePng(r: MediaRow): MediaFeatures = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
      catch { case _: java.io.IOException => null }
    if (img == null) decodeStub(r)
    else {
      val w = img.getWidth; val h = img.getHeight
      val raster = img.getRaster
      val hist = new Array[Long](16)
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = raster.getSample(x, y, 0) & 0xff
          hist(v >> 4) += 1
          sum += v
          x += 1
        }
        y += 1
      }
      val sha = java.util.HexFormat.of().formatHex(
        java.security.MessageDigest.getInstance("SHA-256").digest(r.payload))
      val n = w.toLong * h
      MediaFeatures(r.media_id, r.payload.length.toLong, sha, w, h,
        if (n == 0) 0.0 else sum.toDouble / n, hist)
    }
  }

  /** Dispatch by mime: real codec where the JVM has one, stub otherwise. */
  def decode(r: MediaRow): MediaFeatures =
    if (r.mime != null && r.mime.startsWith("image/")) decodePng(r)
    else decodeStub(r)

  /** STUB decoder — stands in for codecs genuinely absent in this container
    * (audio/video; DICOM has its own parser in sources.DicomDecode).
    * Deterministic: "decodes" a payload to its byte stats. Swap the body for
    * a real decode when codecs are available; the surrounding plumbing does
    * not change. */
  def decodeStub(r: MediaRow): MediaFeatures = {
    val bytes = r.payload
    val hist = new Array[Long](16)
    var sum = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      hist(b >> 4) += 1
      sum += b
      i += 1
    }
    val sha = java.util.HexFormat.of().formatHex(
      java.security.MessageDigest.getInstance("SHA-256").digest(bytes))
    MediaFeatures(
      r.media_id, bytes.length.toLong, sha, r.width, r.height,
      if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length, hist)
  }

  /** Build a media table from the documents table: utf-8 payload bytes as a
    * stand-in for encoded media, with deterministic fake dimensions. Proves
    * the binary-column schema path end-to-end on harness data. */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      lit("application/octet-stream").as("mime"),
      (pmod(col("doc_id"), lit(64)) + 1).cast("int").as("width"),
      (pmod(col("doc_id"), lit(48)) + 1).cast("int").as("height"))
      .as[MediaRow]
  }

  /** Partition-parallel decode + featurize: the mapInPandas-shaped stage.
    * One task per input partition; no shuffle; output is small feature rows
    * so downstream aggregation never moves payload bytes. Mime-dispatched:
    * image payloads decode for real, the rest hit the stub. */
  def featurize(spark: SparkSession, media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions(_.map(decode))
  }

  /** PNG media table built from real pixel data: deterministic grayscale
    * gradients rendered through the SAME PNG encoder stage 1 uses
    * ([[graft.Pipeline.pngBytes]]), so the decode path is exercised on real
    * compressed images whose pixel statistics are known in closed form. */
  def pngMediaFromIds(spark: SparkSession, ids: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    ids.select(col("media_id").cast("long")).as[Long].map { id =>
      val w = (id % 16 + 1).toInt; val h = (id % 12 + 1).toInt
      val px = new Array[Short](w * h)
      var i = 0
      while (i < px.length) { px(i) = ((id + i) % 256).toShort; i += 1 }
      MediaRow(id, graft.Pipeline.pngBytes(px, w, h), "image/png", w, h)
    }
  }

  /** A 64-bit perceptual hash packed as four 16-bit bands (LSH-ready and
    * overflow-free in any SQL engine — no 1<<63 sign games). */
  final case class ImageHash(media_id: Long, b0: Long, b1: Long, b2: Long, b3: Long)

  /** Average-hash (aHash — the block-mean member of the pHash family,
    * Zauner 2010, public): decode the payload, sample an 8×8
    * nearest-neighbor grid (sx = ⌊gx·w/8⌋, sy = ⌊gy·h/8⌋ — defined for any
    * w,h ≥ 1, no resampling kernel needed), threshold each sample at the
    * strict grid mean, pack bit gy·8+gx into band (bit div 16) at offset
    * (bit mod 16). Integer-exact end to end, so the whole hash replays in
    * SQL from closed-form pixel values — the oracle checks the REAL
    * PNG-encode→ImageIO-decode→sample path against the math.
    * Non-decodable payloads hash their raw bytes through the same grid
    * (the decodeStub honesty rule: degrade, don't kill the job). */
  def aHash(r: MediaRow): ImageHash = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
      catch { case _: java.io.IOException => null }
    val v = new Array[Int](64)
    var sum = 0
    if (img != null) {
      val w = img.getWidth; val h = img.getHeight
      val raster = img.getRaster
      var gy = 0
      while (gy < 8) {
        var gx = 0
        while (gx < 8) {
          val s = raster.getSample(gx * w / 8, gy * h / 8, 0) & 0xff
          v(gy * 8 + gx) = s; sum += s; gx += 1
        }
        gy += 1
      }
    } else {
      val n = math.max(1, r.payload.length)
      var i = 0
      while (i < 64) {
        val s = r.payload((i * n / 64) % n) & 0xff
        v(i) = s; sum += s; i += 1
      }
    }
    val mean = sum / 64.0
    val bands = new Array[Long](4)
    var i = 0
    while (i < 64) {
      if (v(i) > mean) bands(i >> 4) |= 1L << (i & 15)
      i += 1
    }
    ImageHash(r.media_id, bands(0), bands(1), bands(2), bands(3))
  }

  /** Partition-parallel aHash over a media table: decode + hash stay
    * row-local; only 4 small band columns come out — nothing shuffles
    * pixel bytes (the same contract as [[featurize]]). */
  def imageHashes(spark: SparkSession, media: Dataset[MediaRow]): Dataset[ImageHash] = {
    import spark.implicits._
    media.mapPartitions(_.map(aHash))
  }

  /** Per-image near-duplicate summary over a band-hash table — the
    * GROUP-COLLAPSED formulation of banded-LSH pairing: exact duplicates
    * (identical 64-bit hash) are collapsed to one group BEFORE any
    * pairwise work, the banded equi-join runs over DISTINCT hashes only,
    * and per-image counts reconstruct from group sizes. Byte-identical
    * output to enumerating all image pairs (MultimodalSpec proves it
    * against the brute-force form), but the pairwise stage is
    * O(|distinct hashes|²) worst-case instead of O(|image pairs|) — the
    * exact-dedup-first discipline every production image pipeline applies,
    * and the difference between 8.8M and a few thousand join rows on a
    * re-encode-heavy corpus.
    *
    * Input: (media_id, b0..b3) as produced by [[imageHashes]]. Output:
    * (media_id, n_cand, n_dup, nn) for images with ≥ 1 banded candidate —
    * candidates are images agreeing exactly on ≥ 1 of the four 16-bit
    * bands; n_dup counts Hamming ≤ `maxHamming`; nn is the nearest
    * candidate's distance. */
  def nearDupSummary(hashes: DataFrame, maxHamming: Int = 6): DataFrame = {
    val hk = Seq("b0", "b1", "b2", "b3").map(col)
    // one row per distinct hash; gid = canonical member, m = group size
    val grp = hashes.groupBy(hk: _*)
      .agg(min(col("media_id")).as("gid"), count(lit(1)).as("m"))
    val gb = grp.select(col("gid"),
      posexplode(array(hk: _*))).toDF("gid", "band", "v")
    // two distinct groups can never agree on ALL bands (that would make
    // them one group), so cross-group Hamming is always >= 1
    val gpairs = gb.as("a").join(gb.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.gid") < col("b.gid"))
      .select(col("a.gid").as("ga"), col("b.gid").as("gb")).distinct()
    def side(tag: String) = grp.select(
      col("gid").as(s"g$tag"), col("m").as(s"m$tag"),
      col("b0").as(s"${tag}0"), col("b1").as(s"${tag}1"),
      col("b2").as(s"${tag}2"), col("b3").as(s"${tag}3"))
    val withHam = gpairs
      .join(side("a"), "ga").join(side("b"), "gb")
      .select(col("ga"), col("gb"), col("ma"), col("mb"),
        (bit_count(col("a0").bitwiseXOR(col("b0"))) +
          bit_count(col("a1").bitwiseXOR(col("b1"))) +
          bit_count(col("a2").bitwiseXOR(col("b2"))) +
          bit_count(col("a3").bitwiseXOR(col("b3")))).as("d"))
    // per-GROUP cross contributions (both directions); every member of
    // the other group is a candidate at the same distance
    val cross = withHam
      .select(col("ga").as("gid"), col("mb").as("mo"), col("d"))
      .unionAll(withHam
        .select(col("gb").as("gid"), col("ma").as("mo"), col("d")))
      .groupBy("gid")
      .agg(sum(col("mo")).as("c_cand"),
        sum(when(col("d") <= maxHamming, col("mo")).otherwise(0L))
          .as("c_dup"),
        min(col("d")).as("c_nn"))
    // back to images: within-group partners are (m-1) at distance 0
    hashes.join(grp.select((hk :+ col("gid") :+ col("m")): _*),
        Seq("b0", "b1", "b2", "b3"))
      .join(cross, Seq("gid"), "left_outer")
      .select(col("media_id"),
        (col("m") - 1 + coalesce(col("c_cand"), lit(0L))).as("n_cand"),
        (col("m") - 1 + coalesce(col("c_dup"), lit(0L))).as("n_dup"),
        when(col("m") > 1, lit(0L))
          .otherwise(col("c_nn").cast("long")).as("nn"))
      .filter(col("n_cand") > 0)
  }

  /** Decoded-audio features: what [[decodeWav]] emits per payload. */
  final case class AudioFeatures(
      media_id: Long,
      sample_rate: Int,
      n_channels: Int,
      bits_per_sample: Int,
      n_samples: Long,
      n_bytes: Long,
      peak: Long,
      mean_square: Double,
      n_zero_cross: Long)

  /** Real WAV encoder: canonical 44-byte RIFF/WAVE header + 16-bit PCM
    * mono little-endian data chunk — the exact layout in the public
    * RIFF/WAVE spec (and what `wave.py` / libsndfile emit for mono
    * PCM16). Dependency-free like [[graft.sources.DicomDecode]]. */
  def encodeWavPcm16(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1).putShort(1) // PCM, mono
    bb.putInt(sampleRate).putInt(sampleRate * 2) // byte rate = rate·block
    bb.putShort(2).putShort(16) // block align, bits per sample
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
    bb.array()
  }

  /** Real WAV decoder: walks the RIFF chunk list (word-aligned, unknown
    * chunks skipped — LIST/INFO chunks from real encoders must not break
    * the parse), reads the fmt chunk, and streams the 16-bit PCM data
    * chunk into features: peak |sample|, mean square (RMS²), and
    * sign-change zero-crossing count ((prev < 0) ≠ (cur < 0), zero
    * counted as non-negative). Returns None for anything that is not
    * decodable 16-bit PCM — the degrade-don't-kill rule; the caller
    * routes those to [[decodeStub]]-style byte stats. Multi-channel data
    * is featurized over the interleaved sample sequence. */
  def decodeWav(mediaId: Long, bytes: Array[Byte]): Option[AudioFeatures] = {
    def ascii(off: Int) = new String(bytes, off, 4, "US-ASCII")
    def leInt(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    def leShort(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    if (bytes.length < 12 || ascii(0) != "RIFF" || ascii(8) != "WAVE")
      return None
    var pos = 12
    var fmtCode = -1; var channels = 0; var rate = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    while (pos + 8 <= bytes.length) {
      val id = ascii(pos)
      val size = leInt(pos + 4)
      if (size < 0 || pos + 8 + size > bytes.length) return None
      if (id == "fmt " && size >= 16) {
        fmtCode = leShort(pos + 8)
        channels = leShort(pos + 10)
        rate = leInt(pos + 12)
        bits = leShort(pos + 22)
      } else if (id == "data" && dataOff < 0) {
        dataOff = pos + 8; dataLen = size
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    if (fmtCode != 1 || bits != 16 || channels < 1 || dataOff < 0) return None
    val n = dataLen / 2
    var peak = 0L; var sumSq = 0L; var zc = 0L
    var prevNeg = false
    var i = 0
    while (i < n) {
      val s = leShort(dataOff + 2 * i).toShort.toInt
      val a = math.abs(s.toLong)
      if (a > peak) peak = a
      sumSq += s.toLong * s
      val neg = s < 0
      if (i > 0 && neg != prevNeg) zc += 1
      prevNeg = neg
      i += 1
    }
    Some(AudioFeatures(mediaId, rate, channels, bits, n.toLong,
      bytes.length.toLong, peak,
      if (n == 0) 0.0 else sumSq.toDouble / n, zc))
  }

  /** Partition-parallel audio featurize — the audio twin of [[featurize]]:
    * decode stays row-local, only slim feature rows come out. Rows whose
    * payload is not decodable WAV are dropped (callers wanting byte stats
    * route them through [[decodeStub]] instead). */
  def audioFeatures(spark: SparkSession, media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.mapPartitions(_.flatMap(r => decodeWav(r.media_id, r.payload)))
  }

  /** STUB resize: real impl would decode → scale → re-encode. The stub keeps
    * the byte-level contract (output length scales with the area ratio) so
    * downstream schema/partitioning logic is exercised for real. */
  def resizeStub(r: MediaRow, newW: Int, newH: Int): MediaRow = {
    val ratio = (newW.toLong * newH).toDouble / (r.width.toLong * r.height)
    val n = math.max(1, math.ceil(r.payload.length * ratio).toInt)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = r.payload(i % r.payload.length); i += 1 }
    r.copy(payload = out, width = newW, height = newH)
  }

  /** STUB frame sampling for video-shaped media: returns every k-th chunk of
    * the payload as its own "frame" row — the fan-out shape (one row → n
    * frame rows, flatMap, no shuffle) is the real contract. */
  def sampleFramesStub(spark: SparkSession, media: Dataset[MediaRow],
      frameBytes: Int, everyK: Int): Dataset[MediaRow] = {
    import spark.implicits._
    media.flatMap { r =>
      r.payload.grouped(frameBytes).zipWithIndex
        .filter(_._2 % everyK == 0)
        .map { case (chunk, idx) =>
          r.copy(media_id = r.media_id * 10000 + idx, payload = chunk)
        }
    }
  }
}
