package graft

import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import graft.sources.{TFRecordIO, TFRecordSink}

/** End-to-end stage-1 + stage-2 test (SURVEY §5.4): synthetic DICOM-like
  * fixtures → maps → split → 7 passes → annotation JSON → TFRecord shards,
  * asserting the multiplier table, schema shape and normalized boxes. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val size = 32

  private def fixtureImages = {
    val rows = (1 to 10).map { i =>
      val px = Array.tabulate(size * size)(j => ((i * 13 + j) % 251).toShort)
      (f"p$i%03d", px, size, size)
    }
    spark.createDataset(rows)
  }

  // FIXTURES §1.1 rows: multi-box patient, negative patient, float coords
  private def fixtureLabels = Seq(
    ("p001", Some(2.0), Some(3.0), Some(8.0), Some(9.0), 1),
    ("p001", Some(12.0), Some(3.0), Some(6.0), Some(5.0), 1),
    ("p002", None, None, None, None, 0),
    ("p003", Some(4.5), Some(6.5), Some(5.0), Some(6.0), 1))
    .toDF("patientId", "x", "y", "width", "height", "Target")

  test("createMaps: P1 filter, P2 coercion, A1 collect, A2 last") {
    val maps = Pipeline.createMaps(fixtureLabels).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(maps("p001").getSeq[Any](1).length === 2)
    assert(maps("p002").getSeq[Any](1).isEmpty) // Target=0 ⇒ no boxes
    assert(maps("p002").getString(2) === "0")
    // int(float("4.5")) == 4
    val p3box = maps("p003").getSeq[org.apache.spark.sql.Row](1).head
    assert(p3box.getInt(0) === 4 && p3box.getInt(1) === 6)
  }

  test("default split plan is window-free; split8020 keeps exact counts") {
    val annotated = Pipeline.annotate(
      spark, fixtureImages, Pipeline.createMaps(fixtureLabels))
    val (tr, va) = Pipeline.hashSplit8020(annotated)
    // the scale path must not funnel rows through a partition-less window
    assert(!tr.queryExecution.executedPlan.toString.contains("Window"))
    assert(!va.queryExecution.executedPlan.toString.contains("Window"))
    assert(tr.count() + va.count() === 10)
    // the reference-faithful variant still splits exactly ceil(0.8n) / rest
    val (t2, v2) = Pipeline.split8020(annotated)
    assert(t2.count() === 8 && v2.count() === 2)
  }

  test("K6 debug viz: box borders burned in, interior and background intact") {
    import graft.ops.Augment.ImageEx
    import graft.ops.Kernels.Box
    val px = Array.fill[Short](100)(7) // 10x10 constant image
    val ex = ImageEx("v1", px, 10, 10, Seq(Box(2, 3, 4, 5)), "1")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Pipeline.pngWithBoxes(ex)))
    def s(x: Int, y: Int) = img.getRaster.getSample(x, y, 0)
    assert(s(2, 3) === 255 && s(6, 3) === 255) // top corners
    assert(s(2, 8) === 255 && s(6, 8) === 255) // bottom corners
    assert(s(4, 3) === 255 && s(2, 5) === 255) // edges
    assert(s(4, 5) === 7)                      // interior untouched
    assert(s(0, 0) === 7)                      // background untouched
    assert(ex.pixels(3 * 10 + 2) === 7)        // input row not mutated
  }

  test("pngBytes: ImageIO reads back exactly the clipped pixels; IHDR and chunk CRCs valid") {
    val specials = Seq[Short](-5, 0, 255, 300, 32767)
    def check(px: Array[Short], w: Int, h: Int): Unit = {
      val png = Pipeline.pngBytes(px, w, h)
      val bb = java.nio.ByteBuffer.wrap(png)
      val sig = new Array[Byte](8)
      bb.get(sig)
      assert(sig.toSeq === Seq(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte))
      val chunks = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
      while (bb.hasRemaining) {
        val data = new Array[Byte](bb.getInt())
        val tag = new Array[Byte](4)
        bb.get(tag).get(data)
        val crc = new java.util.zip.CRC32
        crc.update(tag)
        crc.update(data)
        assert(bb.getInt() === crc.getValue.toInt, s"${w}x$h ${new String(tag, "US-ASCII")} CRC")
        chunks += new String(tag, "US-ASCII") -> data
      }
      assert(chunks.map(_._1).toSeq === Seq("IHDR", "IDAT", "IEND"))
      val ihdr = java.nio.ByteBuffer.wrap(chunks.head._2)
      assert(chunks.head._2.length === 13)
      assert(ihdr.getInt() === w && ihdr.getInt() === h)
      // bit depth 8, grayscale, deflate, adaptive filtering, no interlace
      assert((0 until 5).map(_ => ihdr.get().toInt) === Seq(8, 0, 0, 0, 0))
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img.getWidth === w && img.getHeight === h)
      val got = img.getRaster.getPixels(0, 0, w, h, null: Array[Int])
      assert(got.toSeq === px.toSeq.map(v => math.min(255, math.max(0, v.toInt))), s"${w}x$h pixels")
    }
    specials.foreach(v => check(Array(v), 1, 1))
    val rng = new scala.util.Random(7)
    Seq((7, 3), (64, 1), (512, 512)).foreach { case (w, h) =>
      val px = Array.tabulate[Short](w * h)(i =>
        if (i < specials.length) specials(i) else (rng.nextInt(600) - 100).toShort)
      check(px, w, h)
    }
  }

  test("end-to-end: repeat runs write identical files; skipped counts each dropped box once") {
    def run(): (String, (Long, Long, Long)) = {
      val out = java.nio.file.Files.createTempDirectory("graft_e2e_det").toString
      (out, Pipeline.runEndToEnd(spark, fixtureImages, fixtureLabels, out,
        trainShards = 4, valShards = 2))
    }
    val (a, resA) = run()
    val (b, resB) = run()
    assert(resA === resB)

    def shards(dir: String) = new java.io.File(s"$dir/tfrecords").listFiles()
      .filter(_.getName.endsWith(".tfrecord")).sortBy(_.getName).toSeq
    assert(shards(a).map(_.getName) === shards(b).map(_.getName))
    shards(a).zip(shards(b)).foreach { case (fa, fb) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(fa.toPath), java.nio.file.Files.readAllBytes(fb.toPath)),
        s"${fa.getName} differs between runs")
    }
    val sinks = Seq("object_annotation", "caption_annotation",
      "validation_object_annotation", "validation_caption_annotation")
    sinks.foreach { d =>
      def rows(dir: String) = spark.read.text(s"$dir/$d").as[String].collect().sorted.toSeq
      assert(rows(a) === rows(b), d)
    }

    // every box in an object JSON either reaches its record's bbox lists or
    // is counted as skipped — exactly once
    def jsonBoxes(d: String): Long =
      spark.read.schema("id string, boxes array<array<int>>").json(s"$a/$d")
        .select(sum(functions.size(col("boxes")))).as[Long].head()
    def recordBoxes(prefix: String): Long =
      TFRecordSink.readAll(s"$a/tfrecords", prefix).map { r =>
        TFRecordIO.decodeExample(r).get("image/object/bbox/xmin") match {
          case Some(TFRecordIO.FloatFeature(vs)) => vs.length.toLong
          case _ => 0L
        }
      }.sum
    val dropped = (jsonBoxes("object_annotation") - recordBoxes("train")) +
      (jsonBoxes("validation_object_annotation") - recordBoxes("val"))
    assert(dropped > 0) // the fixture's shifted boxes do leave the frame
    assert(resA._3 === dropped)
  }

  test("end-to-end: counts, annotations, shards, example schema") {
    val out = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val (nTrainAug, nVal, skipped) = Pipeline.runEndToEnd(
      spark, fixtureImages, fixtureLabels, out, trainShards = 4, valShards = 2)

    // membership of the default id-hash split is deterministic per id
    val ids = (1 to 10).map(i => f"p$i%03d")
    val buckets = ids.toDF("id")
      .select(col("id"), pmod(xxhash64(col("id")), lit(100)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val trainIds = ids.filter(buckets(_) < 80).toSet
    val valIds = ids.toSet -- trainIds
    assert(nVal === valIds.size)
    // positives (p001, p003) fan out 190 each, negatives 20 each — the J1
    // left-join default makes unlabeled ids negative
    val positives = Set("p001", "p003")
    val expTrain = trainIds.count(positives) * 190 +
      trainIds.count(!positives.contains(_)) * 20
    assert(nTrainAug === expTrain)
    assert(skipped >= 0)

    // validation annotation sinks round-trip (S5→S6, reference :92-99)
    val valObjs = spark.read.json(s"$out/validation_object_annotation")
    assert(valObjs.count() === nVal)
    val valCaps = spark.read.json(s"$out/validation_caption_annotation")
      .collect().map(r => r.getAs[String]("id") -> r.getAs[String]("caption")).toMap
    assert(valCaps.keySet === valIds)
    valIds.foreach { id =>
      assert(valCaps(id) === (if (positives(id)) "1" else "0"))
    }

    // val TFRecords are built FROM the annotation files and carry captions
    val valRecords = TFRecordSink.readAll(s"$out/tfrecords", "val").toSeq
    assert(valRecords.length === nVal)
    valRecords.foreach { r =>
      val ex = TFRecordIO.decodeExample(r)
      val TFRecordIO.BytesFeature(srcId) = ex("image/source_id"): @unchecked
      val TFRecordIO.BytesFeature(cap) = ex("image/caption"): @unchecked
      val id = new String(srcId.head, "UTF-8")
      assert(valIds.contains(id))
      assert(new String(cap.head, "UTF-8") === valCaps(id))
    }

    // annotation JSONs round-trip (S5→S6)
    val objs = spark.read.json(s"$out/object_annotation")
    assert(objs.count() === nTrainAug)
    assert(objs.columns.toSet === Set("id", "boxes"))
    val caps = spark.read.json(s"$out/caption_annotation")
    assert(caps.filter(col("caption") === "1").count() > 0)

    // shard files exist with reference naming
    val shardDir = new java.io.File(s"$out/tfrecords")
    val names = shardDir.listFiles().map(_.getName).sorted
    assert(names.count(_.startsWith("train-")) === 4)
    assert(names.count(_.startsWith("val-")) === 2)
    assert(names.contains("train-00000-of-00004.tfrecord"))

    // every record decodes to the 16-feature schema with normalized boxes
    val records = TFRecordSink.readAll(s"$out/tfrecords", "train").toSeq
    assert(records.length === nTrainAug)
    val expectedKeys = Set(
      "image/height", "image/width", "image/filename", "image/source_id",
      "image/key/sha256", "image/encoded", "image/format", "image/caption",
      "image/object/bbox/xmin", "image/object/bbox/xmax",
      "image/object/bbox/ymin", "image/object/bbox/ymax",
      "image/object/class/text", "image/object/class/label",
      "image/object/is_crowd", "image/object/area")
    val sample = TFRecordIO.decodeExample(records.head)
    assert(sample.keySet === expectedKeys)
    records.take(50).foreach { r =>
      val ex = TFRecordIO.decodeExample(r)
      val TFRecordIO.FloatFeature(xmins) = ex("image/object/bbox/xmin"): @unchecked
      val TFRecordIO.FloatFeature(xmaxs) = ex("image/object/bbox/xmax"): @unchecked
      xmins.foreach(v => assert(v >= 0f && v <= 1f))
      xmaxs.foreach(v => assert(v >= 0f && v <= 1f))
      // format is the TRUE format (png), not the reference's 'jpeg' bug
      val TFRecordIO.BytesFeature(fmt) = ex("image/format"): @unchecked
      assert(new String(fmt.head, "UTF-8") === "png")
      val TFRecordIO.BytesFeature(enc) = ex("image/encoded"): @unchecked
      // PNG magic
      assert((enc.head(0) & 0xFF) === 0x89 && enc.head(1) === 'P'.toByte)
    }

    // the encoded PNG decodes back to real pixel data (S4 is a true sink)
    val first = TFRecordIO.decodeExample(records.head)
    val TFRecordIO.BytesFeature(png) = first("image/encoded"): @unchecked
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png.head))
    assert(img.getWidth === size && img.getHeight === size)
  }
}
