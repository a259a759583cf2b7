package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.ops.{Augment, Kernels}
import graft.sources.{DicomDecode, LabelMap, TFRecordIO, TFRecordSink}

/** Record-level read-back checks, run inside the scan's tasks. */
object EtlRecordCheck {
  private val boxKeys = Seq("image/object/bbox/xmin", "image/object/bbox/xmax",
    "image/object/bbox/ymin", "image/object/bbox/ymax")

  /** 0 when the record's sha256 matches its encoded PNG and every
    * normalised box coordinate lies in [0,1]; 1 otherwise. */
  def bad(record: Array[Byte]): Int = {
    val m = TFRecordIO.decodeExample(record)
    val shaOk = (m.get("image/encoded"), TFRecordIO.strOpt(m, "image/key/sha256")) match {
      case (Some(TFRecordIO.BytesFeature(Seq(png))), Some(sha)) => Io.sha256Hex(png) == sha
      case _ => false
    }
    val boxesOk = boxKeys.forall { k =>
      m.get(k) match {
        case Some(TFRecordIO.FloatFeature(vs)) => vs.forall(v => v >= 0f && v <= 1f)
        case None => true
        case _ => false
      }
    }
    if (shaOk && boxesOk) 0 else 1
  }
}

/** One generated patient; positives have boxes. */
private final case class Patient(id: String, boxes: Seq[(Int, Int, Int, Int)], train: Boolean)

/** `rsna_etl`: the paper's two-stage job on 512x512 frames — DICOM scan,
  * label maps, 7 augmentation passes, annotation JSON sinks, 256/32 sharded
  * TFRecords — then a CRC-checked read-back of every record. */
final class EtlPhase(spark: SparkSession, dir: String, seed: Long, checks: Checks)
    extends GatedPhase {
  import spark.implicits._
  val name = "etl"
  private val W = 512
  private val H = 512
  private val WarmSize = 128
  private val dicomDir = s"$dir/etl/dicom"
  private val labelsPath = s"$dir/etl/labels.csv"
  private val outDir = s"$dir/etl/out"
  private val tfDir = s"$outDir/tfrecords"

  // Patients by role. Positives have boxes; each positive carries one box
  // that fails the validity filter (past the right edge, or a negative
  // origin), so the skip counter always fires.
  private val TrainPositives = 1
  private val TrainNegatives = 1
  private val ValPositives = 1
  private val ValNegatives = 1

  private val patients: Seq[Patient] = {
    val prefix = s"s${seed}p"
    val train = spark.range(0, 200)
      .select(concat(lit(prefix), col("id").cast("string")).as("pid"))
      .select(col("pid"), (pmod(xxhash64(col("pid")), lit(100)) < 80).as("train"))
      .as[(String, Boolean)].collect().toSeq
    val rng = new java.util.SplittableRandom(seed * 7919L + 17L)
    def box(): (Int, Int, Int, Int) =
      (rng.nextInt(W / 5, W * 3 / 5), rng.nextInt(H / 5, H * 3 / 5),
        rng.nextInt(W / 10, W / 4), rng.nextInt(H / 10, H / 4))
    def pick(isTrain: Boolean, n: Int, used: Set[String]) =
      train.filter(p => p._2 == isTrain && !used(p._1)).take(n).map(_._1)
    val tp = pick(true, TrainPositives, Set.empty)
    val tn = pick(true, TrainNegatives, tp.toSet)
    val vp = pick(false, ValPositives, Set.empty)
    val vn = pick(false, ValNegatives, vp.toSet)
    val edge = (W - W / 25, rng.nextInt(H / 10, H * 4 / 5), W / 8, H / 7)
    val outside = (-W / 30, rng.nextInt(H / 10, H * 4 / 5), W / 7, H / 7)
    tp.map(id => Patient(id, Seq(box(), edge), train = true)) ++
      tn.map(id => Patient(id, Nil, train = true)) ++
      vp.map(id => Patient(id, Seq(box(), outside), train = false)) ++
      vn.map(id => Patient(id, Nil, train = false))
  }

  private val expectedTrain: Long = patients.filter(_.train).map { p =>
    (1 to 7).map(Augment.expectedFanout(_, p.boxes.nonEmpty)).sum.toLong
  }.sum
  private val expectedVal: Long = patients.count(!_.train).toLong

  /** Seeded noise over a diagonal gradient: compresses like a radiograph
    * (a pure gradient deflates to almost nothing). */
  private def frame(rng: java.util.SplittableRandom, w: Int, h: Int): Array[Short] = {
    val px = new Array[Short](w * h)
    var i = 0
    while (i < px.length) {
      val g = ((i % w) + (i / w)) * 255 / (w + h - 2)
      px(i) = math.max(0, math.min(255, g + rng.nextInt(-6, 7))).toShort
      i += 1
    }
    px
  }

  /** Writes a DICOM directory of `size`-square frames (boxes scaled from
    * the W grid) and its labels CSV. */
  private def write(base: String, size: Int): Unit = {
    new File(s"$base/dicom").mkdirs()
    patients.zipWithIndex.foreach { case (p, i) =>
      val px = frame(new java.util.SplittableRandom(seed * 1000003L + i), size, size)
      Files.write(Paths.get(s"$base/dicom", s"${p.id}.dcm"), DicomDecode.writeMinimal(size, size, px))
    }
    def sc(v: Int) = v * size / W
    val rows = patients.flatMap { p =>
      if (p.boxes.isEmpty) Seq(s"${p.id},,,,,0")
      else p.boxes.map { case (x, y, w, h) => s"${p.id},${sc(x)}.0,${sc(y)}.0,${sc(w)}.0,${sc(h)}.0,1" }
    }
    Files.write(Paths.get(s"$base/labels.csv"),
      ("patientId,x,y,width,height,Target" +: rows).mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Writes the measured inputs (W x H) and the warm-up inputs: the same
    * patients at 128x128, which compiles every plan and kernel path at a
    * fraction of the pixel work. */
  def generate(): Unit = {
    Io.reset(s"$dir/etl")
    write(s"$dir/etl", W)
    write(s"$dir/etl/warm", WarmSize)
  }

  Sizes.values ++= Seq("etl_patients" -> patients.size.toLong, "etl_frame_side" -> W.toLong,
    "etl_examples_per_iteration" -> (expectedTrain + expectedVal))

  private val examplesPerS, readbackPerS, bytesPerExample, jobMs =
    mutable.ArrayBuffer.empty[Double]
  private var lastCacheMemBytes = 0L
  private var lastCacheDiskBytes = 0L

  /** Reads every record of both shard sets back through the CRC-checking
    * scan; returns (records per prefix, records failing a check). */
  private def readBack(): (Map[String, Long], Long) = {
    val per = Seq("train", "val").map { prefix =>
      val flags = TFRecordSink.scan(spark, tfDir, prefix).map(EtlRecordCheck.bad).collect()
      prefix -> flags
    }
    (per.map { case (p, f) => p -> f.length.toLong }.toMap, per.map(_._2.sum.toLong).sum)
  }

  private def check(what: String, train: Long, valid: Long,
      read: Map[String, Long], bad: Long): Unit = {
    val problems = Seq(
      (train != expectedTrain) -> s"train examples $train != expected $expectedTrain",
      (valid != expectedVal) -> s"val examples $valid != expected $expectedVal",
      (read("train") != expectedTrain) -> s"train records read back ${read("train")} != $expectedTrain",
      (read("val") != expectedVal) -> s"val records read back ${read("val")} != $expectedVal",
      (bad != 0) -> s"$bad records fail the sha256 / box-range checks"
    ).collect { case (true, msg) => msg }
    checks.op(what, problems)
  }

  private def runOnce(in: String, record: Boolean): Unit = {
    Io.reset(outDir)
    val ((train, valid, _), t) = Io.seconds {
      Pipeline.runEndToEnd(spark, DicomDecode.scanDicomDir(spark, s"$in/dicom"),
        Pipeline.readLabels(spark, s"$in/labels.csv"), outDir)
    }
    val infos = spark.sparkContext.getRDDStorageInfo
    lastCacheMemBytes = infos.map(_.memSize).sum
    lastCacheDiskBytes = infos.map(_.diskSize).sum
    Sizes.values ++= Seq("etl_cached_set_mb" -> ((lastCacheMemBytes + lastCacheDiskBytes) >> 20),
      "etl_cached_on_disk_mb" -> (lastCacheDiskBytes >> 20))
    Io.releaseCaches(spark)
    val ((read, bad), tr) = Io.seconds(readBack())
    check("etl.iteration", train, valid, read, bad)
    if (record) {
      jobMs += t * 1e3
      examplesPerS += (train + valid) / t
      readbackPerS += read.values.sum / tr
      bytesPerExample += Io.treeBytes(new File(tfDir)).toDouble / (train + valid)
    }
  }

  def warmUp(): Unit = runOnce(s"$dir/etl/warm", record = false)
  val settleIterations = 1
  def iterate(record: Boolean): Unit = runOnce(s"$dir/etl", record)

  def endToEnd(r: Report): Unit = {
    r("throughput_per_s") = (Stats.median(examplesPerS.toSeq), "1/s")
    r("op_p50_ms") = (Stats.quantile(jobMs.toSeq, 0.5), "ms")
    // compression: raw 8-bit pixel bytes per TFRecord byte
    r("quality") = (W.toDouble * H / Stats.median(bytesPerExample.toSeq), "ratio")
  }

  def named(r: Report): Unit = {
    r("etl.iterations") = (jobMs.size.toDouble, "count")
    r("etl.examples_per_s") = (Stats.median(examplesPerS.toSeq), "1/s")
    r("etl.tfrecord_bytes_per_example") = (Stats.median(bytesPerExample.toSeq), "B")
    r("etl.readback_examples_per_s") = (Stats.median(readbackPerS.toSeq), "1/s")
  }

  private var lastSkipped = 0L
  private var lastFrames = 0L

  /** runEndToEnd re-composed from its public steps, each materialised in
    * its own span. */
  def traced(t: Tracer): Unit = {
    Io.reset(outDir)
    def cached[T](ds: Dataset[T]): Dataset[T] = { val c = ds.cache(); c.count(); c }
    val (train, valid) = t("Pipeline.runEndToEnd") {
      val images = t("sources.DicomDecode.scan")(cached(DicomDecode.scanDicomDir(spark, dicomDir)))
      val labels = t("Pipeline.readLabels")(cached(Pipeline.readLabels(spark, labelsPath)))
      val maps = t("Pipeline.createMaps")(cached(Pipeline.createMaps(labels)))
      val annotated = t("Pipeline.annotate")(cached(Pipeline.annotate(spark, images, maps)))
      val (tr, va) = t("Pipeline.hashSplit8020") {
        val (a, b) = Pipeline.hashSplit8020(annotated)
        (cached(a), cached(b))
      }
      val aug = t("ops.Augment.allPasses")(cached(Augment.allPasses(tr)))
      lastFrames = aug.count()
      t("Pipeline.annotationFrames") {
        val (objects, captions) = Pipeline.annotationFrames(spark, aug)
        objects.coalesce(1).write.mode("overwrite").json(s"$outDir/object_annotation")
        captions.coalesce(1).write.mode("overwrite").json(s"$outDir/caption_annotation")
        val (vo, vc) = Pipeline.annotationFrames(spark, va)
        vo.coalesce(1).write.mode("overwrite").json(s"$outDir/validation_object_annotation")
        vc.coalesce(1).write.mode("overwrite").json(s"$outDir/validation_caption_annotation")
      }
      val skipped = spark.sparkContext.longAccumulator("annotations_skipped")
      val trainEx = t("Pipeline.assembleExamples")(
        cached(Pipeline.assembleExamples(aug, LabelMap.rsnaIndex, skipped)))
      t("sources.TFRecordSink.write")(TFRecordSink.write(trainEx, tfDir, "train", 256))
      val vfiles = t("Pipeline.readAnnotations")(cached(Pipeline.readAnnotations(spark,
        s"$outDir/validation_object_annotation", s"$outDir/validation_caption_annotation", va)))
      val valEx = t("Pipeline.assembleExamples")(
        cached(Pipeline.assembleExamples(vfiles, LabelMap.rsnaIndex, skipped)))
      t("sources.TFRecordSink.write")(TFRecordSink.write(valEx, tfDir, "val", 32))
      lastSkipped = skipped.value
      (trainEx.count(), valEx.count())
    }
    Io.releaseCaches(spark)
    val (read, bad) = t("sources.TFRecordSink.scan")(readBack())
    check("etl.traced", train, valid, read, bad)
  }

  /** Single-thread per-frame costs of the pixel kernels and encoders. */
  override def layers(r: Report): Unit = {
    r("etl.spark.cache_bytes") = (lastCacheMemBytes.toDouble, "B")
    r("etl.spark.cache_disk_bytes") = (lastCacheDiskBytes.toDouble, "B")
    r("ops.Augment.frames") = (lastFrames.toDouble, "count")
    r("Pipeline.skipped_boxes") = (lastSkipped.toDouble, "count")
    val px = frame(new java.util.SplittableRandom(seed), W, H)
    val boxes = Seq(Kernels.Box(300, 300, 200, 200))
    def ms(reps: Int)(f: => Any): Double = {
      f; f
      Stats.median((1 to reps).map(_ => Io.seconds(f)._2 * 1e3))
    }
    def rng = new Kernels.Rng(seed)
    r("ops.Kernels.shiftImage_ms") = (ms(7)(Kernels.shiftImage(10, 10, px, W, H, boxes, rng)), "ms")
    r("ops.Kernels.flipImage_ms") = (ms(7)(Kernels.flipImage(px, W, H, boxes)), "ms")
    r("ops.Kernels.shiftBbox_ms") = (ms(7)(Kernels.shiftBbox(50, 50, px, W, H, boxes, rng)), "ms")
    r("ops.Kernels.scaleBbox_ms") = (ms(7)(Kernels.scaleBbox(0.25, px, W, H, boxes, rng)), "ms")
    r("ops.Kernels.scaleImage_ms") = (ms(7)(Kernels.scaleImage(0.0625, px, W, H, boxes, rng)), "ms")
    val png = Pipeline.pngBytes(px, W, H)
    r("Pipeline.pngBytes_ms") = (ms(5)(Pipeline.pngBytes(px, W, H)), "ms")
    r("Pipeline.png_bytes_per_frame") = (png.length.toDouble, "B")
    import TFRecordIO.Feature._
    val features = Map(
      "image/height" -> int64(H), "image/width" -> int64(W),
      "image/filename" -> str("frame.png"), "image/source_id" -> str("frame"),
      "image/key/sha256" -> str(Io.sha256Hex(png)), "image/encoded" -> bytes(png),
      "image/format" -> str("png"), "image/caption" -> strs(Seq("1")),
      "image/object/bbox/xmin" -> floats(Seq(0.3f)), "image/object/bbox/xmax" -> floats(Seq(0.5f)),
      "image/object/bbox/ymin" -> floats(Seq(0.3f)), "image/object/bbox/ymax" -> floats(Seq(0.5f)),
      "image/object/class/text" -> strs(Seq("pneumonia")),
      "image/object/class/label" -> int64s(Seq(1L)), "image/object/is_crowd" -> int64s(Seq(0L)),
      "image/object/area" -> floats(Seq(40000f)))
    val rec = TFRecordIO.encodeExample(features)
    r("sources.TFRecordIO.encodeExample_us") = (ms(21)(TFRecordIO.encodeExample(features)) * 1e3, "us")
    r("sources.TFRecordIO.decodeExample_us") = (ms(21)(TFRecordIO.decodeExample(rec)) * 1e3, "us")
  }
}
