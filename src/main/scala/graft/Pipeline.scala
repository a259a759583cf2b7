package graft

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.HexFormat
import java.util.zip.{CRC32, Deflater}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import graft.ops.Augment.ImageEx
import graft.ops.Kernels.Box
import graft.sources.{TFRecordIO, TFRecordSink}

/** End-to-end drivers for the reference's two stages (SURVEY §3.1-§3.2),
  * re-expressed as one lazy Spark plan each.
  *
  * Stage 1 (generate_images_from_dicom.py:255-581): labels CSV → box/caption
  * maps → deterministic 80/20 split → 7 augmentation passes → annotation
  * sinks. The label groupBy is the only shuffle before the sinks; the label
  * side broadcasts into the image join; augmentation is row-local flatMap.
  *
  * Stage 2 (images_to_tfrecord.py:214-261): annotated images → per-box
  * validity filter + normalization → 16-feature tf.Example → sharded
  * TFRecord sink ([[TFRecordSink.write]]: record g to shard g mod N, one
  * writer task per core). The reference's schema-mismatch bugs (SURVEY
  * §3.2) are resolved by construction: one explicit ImageEx schema
  * end-to-end.
  *
  * [[runEndToEnd]] encodes each augmented frame exactly once: it caches the
  * encoded examples (id, boxes, caption, record — a fraction of the raw
  * frames' size), not the frames, and feeds every train sink from that
  * cache. It runs two concurrent chains that share no data ([[Par]]): the
  * train chain runs its object JSON, caption JSON and shard sinks side by
  * side, and the validation chain writes its JSON sinks, reads them back,
  * encodes and writes its shards. The example counts come from the shard
  * writers; there is no separate count job.
  */
object Pipeline {

  /** stage_1_train_labels.csv schema (FIXTURES §1.1). */
  val labelsSchema: StructType = StructType(Seq(
    StructField("patientId", StringType),
    StructField("x", DoubleType),
    StructField("y", DoubleType),
    StructField("width", DoubleType),
    StructField("height", DoubleType),
    StructField("Target", IntegerType)))

  /** The labels CSV; a row that does not parse against [[labelsSchema]]
    * fails the read (the reference's `int(...)` casts raise). */
  def readLabels(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("mode", "FAILFAST")
      .schema(labelsSchema).csv(path)

  /** create_maps (:15-41) as one aggregation: boxes only from Target=1 rows
    * (P1), int(float(x)) coercion (P2), last-wins caption (A2 — constant per
    * patient so order-insensitive). A row whose Target is not 0 or 1, or a
    * Target=1 row missing a coordinate, fails the aggregation with a
    * message naming the labels file and the patientId. */
  def createMaps(labels: DataFrame): DataFrame = {
    val coords = Seq("x", "y", "width", "height").map(col)
    def reject(why: String) = raise_error(concat(lit("bad label row in "),
      coalesce(nullif(input_file_name(), lit("")), lit("the labels table")),
      lit(": patientId "), coalesce(col("patientId"), lit("null")), lit(s": $why")))
    labels
      .withColumn("box",
        when(col("Target").isNull || !col("Target").isin(0, 1), reject("Target is not 0 or 1"))
          .when(col("Target") === 1 && coords.map(_.isNull).reduce(_ || _),
            reject("a Target=1 row needs x, y, width and height"))
          .when(col("Target") === 1,
            struct(
              col("x").cast("int").as("x"), col("y").cast("int").as("y"),
              col("width").cast("int").as("w"), col("height").cast("int").as("h"))))
      .groupBy(col("patientId"))
      .agg(
        sort_array(collect_list(col("box"))).as("boxes"),
        last(col("Target")).cast("string").as("target"))
  }

  /** Attach boxes + target to images: J1 (left, missing ⇒ empty list) and
    * J2 (caption) in one broadcast join. */
  def annotate(spark: SparkSession, images: Dataset[(String, Array[Short], Int, Int)],
      maps: DataFrame): Dataset[ImageEx] = {
    import spark.implicits._
    images.toDF("id", "pixels", "width", "height")
      .join(broadcast(maps), col("id") === col("patientId"), "left")
      .select(
        col("id"), col("pixels"), col("width"), col("height"),
        coalesce(col("boxes"), array()).as("boxes"),
        coalesce(col("target"), lit("0")).as("target"))
      .as[ImageEx]
  }

  /** Reference-faithful 80/20 split by id order (SURVEY §2.5 O1
    * standardization of the reference's listing-order split). Exact-count
    * but NOT scale-safe: row_number over a partition-less window funnels
    * every row through one task, plus a driver-side count. Kept for
    * fidelity tests; [[hashSplit8020]] is the split [[runEndToEnd]] uses. */
  def split8020(ds: Dataset[ImageEx]): (Dataset[ImageEx], Dataset[ImageEx]) = {
    import ds.sparkSession.implicits._
    val n = ds.count()
    val cut = math.ceil(0.8 * n).toLong
    val ranked = ds.toDF()
      .withColumn("rn", row_number().over(Window.orderBy(col("id"))))
    (ranked.filter(col("rn") <= cut).drop("rn").as[ImageEx],
      ranked.filter(col("rn") > cut).drop("rn").as[ImageEx])
  }

  /** Scale-path 80/20 split: id-hash mod 100 < 80 (the string twin of
    * [[ops.Relational.hashModSplit]]). Deterministic per id, embarrassingly
    * parallel — no global window, no count, no coordination; the fraction is
    * 80% in expectation rather than exactly, the standard trade at scale. */
  def hashSplit8020(ds: Dataset[ImageEx]): (Dataset[ImageEx], Dataset[ImageEx]) = {
    val bucket = pmod(xxhash64(col("id")), lit(100))
    (ds.filter(bucket < 80), ds.filter(bucket >= 80))
  }

  /** Object/caption annotation maps as one-row-per-key DataFrames, written as
    * JSON (S5; reference emits a single JSON object — the exploded form is
    * the scalable equivalent and round-trips via S6). */
  def annotationFrames(spark: SparkSession, ds: Dataset[_]): (DataFrame, DataFrame) = {
    // column selects only: any Dataset with id/boxes/target columns (an
    // ImageEx set or an encoded one) projects without touching its pixels
    val objects = ds.select(col("id"),
      transform(col("boxes"), b => array(b("x"), b("y"), b("w"), b("h"))).as("boxes"))
    val captions = ds.select(col("id"), col("target").as("caption"))
    (objects, captions)
  }

  private val PngSignature =
    Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)

  /** Grayscale PNG encoding (S4): 16-bit pixel values clip to [0,255] as the
    * RSNA data is uint8 (SURVEY §1.1). Written directly rather than through
    * javax.imageio: an 8-bit grayscale IHDR, every scanline Sub-filtered
    * (filter type 1), one IDAT deflated at BEST_SPEED, then IEND. Any PNG
    * reader decodes it; ImageIO still does the decoding ([[ops.Multimodal]]). */
  def pngBytes(pixels: Array[Short], w: Int, h: Int): Array[Byte] = {
    require(w > 0 && h > 0 && pixels.length == w.toLong * h,
      s"${pixels.length} pixels do not fill a ${w}x$h image")
    val stride = w + 1
    val raw = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val row = y * w
      val out = y * stride
      raw(out) = 1 // Sub: each byte minus its left neighbour, mod 256
      var prev = 0
      var x = 0
      while (x < w) {
        val v = math.min(255, math.max(0, pixels(row + x).toInt))
        raw(out + 1 + x) = (v - prev).toByte
        prev = v
        x += 1
      }
      y += 1
    }
    val deflater = new Deflater(Deflater.BEST_SPEED)
    val idat =
      try {
        deflater.setInput(raw)
        deflater.finish()
        val bos = new ByteArrayOutputStream(raw.length / 2 + 64)
        val buf = new Array[Byte](1 << 16)
        while (!deflater.finished()) bos.write(buf, 0, deflater.deflate(buf))
        bos.toByteArray
      } finally deflater.end()
    val ihdr = ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte) // bit depth
      .put(0.toByte) // colour type: grayscale
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive filtering, no interlace
      .array()
    val png = ByteBuffer.allocate(PngSignature.length + 3 * 12 + ihdr.length + idat.length)
    png.put(PngSignature)
    def chunk(kind: String, data: Array[Byte]): Unit = {
      val tag = kind.getBytes(US_ASCII)
      val crc = new CRC32
      crc.update(tag)
      crc.update(data)
      png.putInt(data.length).put(tag).put(data).putInt(crc.getValue.toInt)
    }
    chunk("IHDR", ihdr)
    chunk("IDAT", idat)
    chunk("IEND", Array.emptyByteArray)
    png.array()
  }

  /** Debug visualization (K6, generate_images_from_dicom.py:107-112 —
    * `plot_image_and_bounding_boxes`): the image with its bounding boxes
    * burned in as white 1-px rectangles, PNG-encoded. The reference's
    * matplotlib viz becomes a pure pixel kernel + the S4 PNG sink, so it
    * runs task-parallel like every other kernel instead of on a driver
    * display. Pixels are copied — the input row is never mutated. */
  def pngWithBoxes(ex: ImageEx): Array[Byte] = {
    val px = ex.pixels.clone()
    val w = ex.width; val h = ex.height
    def set(x: Int, y: Int): Unit =
      if (x >= 0 && x < w && y >= 0 && y < h) px(y * w + x) = 255
    ex.boxes.foreach { b =>
      var x = b.x
      while (x <= b.x + b.w) { set(x, b.y); set(x, b.y + b.h); x += 1 }
      var y = b.y
      while (y <= b.y + b.h) { set(b.x, y); set(b.x + b.w, y); y += 1 }
    }
    pngBytes(px, w, h)
  }

  /** Stage-2 suffix dispatch (P8, images_to_tfrecord.py:187-200): augmented
    * id → source subdirectory, matching the generator's directory layout
    * (pass 5 writes to `scale_shift_bbox`, pass 7 — the dispatch's else
    * branch — to `scale_image_scale_shift_bbox`). The reference's CASE falls
    * through for plain (un-augmented validation) ids into the LAST branch
    * (:199-200 — wrong directory); here they route to the root images
    * directory instead. */
  def subdirFor(imageId: String): String = imageId.takeRight(1) match {
    case "1" if imageId.contains("-") => "shift_image"
    case "2" if imageId.contains("-") => "shift_bbox"
    case "3" if imageId.contains("-") => "scale_bbox"
    case "4" if imageId.contains("-") => "scale_image"
    case "5" if imageId.contains("-") => "scale_shift_bbox"
    case "6" if imageId.contains("-") => "shift_image_shift_bbox"
    case "7" if imageId.contains("-") => "scale_image_scale_shift_bbox"
    case _ => "." // plain id — reference bug (falls into branch 7) fixed
  }

  /** One encoded example: the annotation fields the JSON sinks need plus
    * the serialized tf.Example — what [[runEndToEnd]] caches instead of
    * the raw frame. */
  final case class EncodedExample(id: String, boxes: Seq[Box], target: String,
      record: Array[Byte])

  /** create_tf_example (§2.8): PNG-encode, sha256, per-box validity filter
    * (P5, counted in `skipped` — once per row computed, so cache a set that
    * is read more than once), normalize (P6), 16 features — with the true
    * format 'png' (the reference hard-codes 'jpeg' for PNG bytes,
    * images_to_tfrecord.py:151 — a bug we do not replicate). Boxes and
    * target ride along unfiltered for the annotation sinks. */
  def encodeExamples(ds: Dataset[ImageEx], categoryIndex: Map[Int, String],
      skipped: LongAccumulator): Dataset[EncodedExample] = {
    import ds.sparkSession.implicits._
    val catName = categoryIndex.getOrElse(1, "pneumonia")
    ds.map { ex =>
      val w = ex.width; val h = ex.height
      val png = pngBytes(ex.pixels, w, h)
      val sha = HexFormat.of().formatHex(
        java.security.MessageDigest.getInstance("SHA-256").digest(png))
      // P5 plus an x,y >= 0 guard: the reference's filter (:115-120) misses
      // negative origins (shift boxes are unclamped) and would emit
      // out-of-range normalized coords — invalid per its own schema (§1.5).
      val (valid, bad) = ex.boxes.partition(b =>
        b.w > 0 && b.h > 0 && b.x >= 0 && b.y >= 0 &&
          b.x + b.w <= w && b.y + b.h <= h)
      if (bad.nonEmpty) skipped.add(bad.length)
      import TFRecordIO.Feature._
      val record = TFRecordIO.encodeExample(Map(
        "image/height" -> int64(h),
        "image/width" -> int64(w),
        "image/filename" -> str(s"${ex.id}.png"),
        "image/source_id" -> str(ex.id),
        "image/key/sha256" -> str(sha),
        "image/encoded" -> bytes(png),
        "image/format" -> str("png"),
        "image/caption" -> strs(Seq(ex.target)),
        "image/object/bbox/xmin" -> floats(valid.map(b => b.x.toFloat / w)),
        "image/object/bbox/xmax" -> floats(valid.map(b => (b.x + b.w).toFloat / w)),
        "image/object/bbox/ymin" -> floats(valid.map(b => b.y.toFloat / h)),
        "image/object/bbox/ymax" -> floats(valid.map(b => (b.y + b.h).toFloat / h)),
        "image/object/class/text" -> strs(valid.map(_ => catName)),
        "image/object/class/label" -> int64s(valid.map(_ => 1L)),
        "image/object/is_crowd" -> int64s(valid.map(_ => 0L)),
        "image/object/area" -> floats(valid.map(b => (b.w * b.h).toFloat))))
      EncodedExample(ex.id, ex.boxes, ex.target, record)
    }
  }

  private def records(encoded: Dataset[EncodedExample]): Dataset[Array[Byte]] = {
    import encoded.sparkSession.implicits._
    encoded.select(col("record")).as[Array[Byte]]
  }

  /** The serialized tf.Examples of [[encodeExamples]]. */
  def assembleExamples(ds: Dataset[ImageEx], categoryIndex: Map[Int, String],
      skipped: LongAccumulator): Dataset[Array[Byte]] =
    records(encodeExamples(ds, categoryIndex, skipped))

  /** Annotation-file scan (S6): the JSON maps written by stage 1, read back
    * and re-attached to images by id — stage 2 consumes the FILES, exactly
    * as the reference does (images_to_tfrecord.py:180-181,208-209,280-285),
    * rather than short-circuiting through the in-memory Dataset. */
  def readAnnotations(spark: SparkSession, objDir: String, capDir: String,
      images: Dataset[ImageEx]): Dataset[ImageEx] = {
    import spark.implicits._
    val objSchema = StructType(Seq(
      StructField("id", StringType),
      StructField("boxes", ArrayType(ArrayType(IntegerType)))))
    val capSchema = StructType(Seq(
      StructField("id", StringType),
      StructField("caption", StringType)))
    val obj = spark.read.schema(objSchema).json(objDir)
    val cap = spark.read.schema(capSchema).json(capDir)
    val boxType = "array<struct<x:int,y:int,w:int,h:int>>"
    images.toDF().drop("boxes", "target")
      .join(obj, Seq("id"), "left")
      .join(cap, Seq("id"), "left")
      .select(col("id"), col("pixels"), col("width"), col("height"),
        coalesce(
          transform(col("boxes"), b => struct(
            b.getItem(0).as("x"), b.getItem(1).as("y"),
            b.getItem(2).as("w"), b.getItem(3).as("h"))),
          array().cast(boxType)).as("boxes"),
        coalesce(col("caption"), lit("0")).as("target"))
      .as[ImageEx]
  }

  /** Full stage-1 + stage-2 run over an in-memory image set; returns
    * (train example count, val example count, skipped annotations).
    *
    * The split is the scale-safe [[hashSplit8020]]. Both stages'
    * annotation JSONs are written for train AND validation (reference
    * generate_images_from_dicom.py:92-99,569-576), and the validation
    * TFRecords are built from the annotation FILES read back
    * (images_to_tfrecord.py:280-285) — the sinks round-trip for real.
    *
    * The train chain and the validation chain start together. On the
    * train side the augmented set is encoded once into a cached
    * [[EncodedExample]] set, which the object JSON, caption JSON and shard
    * sinks read side by side. The validation chain writes its JSON sinks,
    * reads them back and encodes into a second cached set, since the shard
    * writer reads its input twice and `skipped` must count each dropped
    * box once. The annotated frames are cached as an RDD too, so no job
    * runs only to fill a cache. All three cached sets are released on
    * return.
    *
    * Every sink publishes a complete set or leaves the old one: the JSON
    * sinks replace their directories through
    * [[sources.Publish.replaceDir]], and the shard sets publish through
    * [[TFRecordSink.write]]. Both chains have finished, failed or not,
    * before this returns or throws ([[Par]]). */
  def runEndToEnd(spark: SparkSession, images: Dataset[(String, Array[Short], Int, Int)],
      labels: DataFrame, outDir: String,
      trainShards: Int = 256, valShards: Int = 32): (Long, Long, Long) = {
    import spark.implicits._
    val maps = createMaps(labels)
    // Every cache here is an RDD: the first job that reads a partition
    // fills it, so the sinks start at once and no block is computed twice.
    // Under adaptive execution a cached Dataset gets a fill job for every
    // plan that scans it (one per augmentation pass and per sink), whose
    // tasks only wait on the first one's blocks.
    val annotated = annotate(spark, images, maps).rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val skipped = spark.sparkContext.longAccumulator("annotations_skipped")
    def encodeCached(ds: Dataset[ImageEx]): RDD[EncodedExample] =
      encodeExamples(ds, sources.LabelMap.rsnaIndex, skipped).rdd
        .persist(StorageLevel.MEMORY_AND_DISK)
    def json(frame: DataFrame, dir: String): Unit =
      sources.Publish.replaceDir(spark, s"$outDir/$dir")(frame.coalesce(1).write.json(_))
    try {
      val (train, valid) = hashSplit8020(spark.createDataset(annotated))
      val (nTrain, nVal) = Par.par2 {
        val encoded = encodeCached(ops.Augment.allPasses(train))
        try {
          val encodedTrain = spark.createDataset(encoded)
          val (objects, captions) = annotationFrames(spark, encodedTrain)
          Par.par3(json(objects, "object_annotation"))(json(captions, "caption_annotation"))(
            TFRecordSink.write(records(encodedTrain), s"$outDir/tfrecords", "train", trainShards))._3
        } finally encoded.unpersist()
      } {
        // validation annotation sinks (generate_images_from_dicom.py:92-99)
        val (objects, captions) = annotationFrames(spark, valid)
        Par.par2(json(objects, "validation_object_annotation"))(
          json(captions, "validation_caption_annotation"))
        // stage 2 consumes the validation annotation FILES (S6), not the
        // in-memory rows — proving the JSON sinks round-trip
        val valFromFiles = readAnnotations(spark,
          s"$outDir/validation_object_annotation",
          s"$outDir/validation_caption_annotation", valid)
        val encoded = encodeCached(valFromFiles)
        try TFRecordSink.write(records(spark.createDataset(encoded)),
          s"$outDir/tfrecords", "val", valShards)
        finally encoded.unpersist()
      }
      (nTrain, nVal, skipped.value)
    } finally annotated.unpersist()
  }
}
