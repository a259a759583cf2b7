package graft.sources

import graft.SparkSpec

class DicomDecodeSpec extends SparkSpec {

  private def gradient(rows: Int, cols: Int) =
    Array.tabulate[Short](rows * cols)(i => (i % 251).toShort)

  test("decode inverts writeMinimal for 8-bit and 16-bit pixel data") {
    val px = gradient(16, 12)
    val img8 = DicomDecode.decode(DicomDecode.writeMinimal(16, 12, px, 8))
    assert(img8.rows === 16 && img8.cols === 12 && img8.bitsAllocated === 8)
    assert(img8.pixels.toSeq === px.toSeq)

    val px16 = Array.tabulate[Short](6 * 4)(i => (i * 300).toShort)
    val img16 = DicomDecode.decode(DicomDecode.writeMinimal(6, 4, px16, 16))
    assert(img16.bitsAllocated === 16)
    assert(img16.pixels.toSeq === px16.toSeq)
  }

  test("non-DICOM bytes are rejected") {
    assertThrows[IllegalArgumentException](DicomDecode.decode(Array.fill(200)(1.toByte)))
  }

  test("a PixelData element shorter than rows x cols samples is rejected") {
    val full = DicomDecode.writeMinimal(8, 8, gradient(8, 8))
    // PixelData comes last: its 4-byte length sits right before the 64 pixel bytes
    val short = java.nio.ByteBuffer.wrap(full.take(full.length - 10))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    short.putInt(full.length - 64 - 4, 54)
    // a 10-byte element after the short PixelData: (fffc,fffc) US, value 0
    val trailing = java.nio.ByteBuffer.allocate(10).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(0xFFFC.toShort).putShort(0xFFFC.toShort)
      .put('U'.toByte).put('S'.toByte).putShort(2).putShort(0)
    val e = intercept[IllegalArgumentException](
      DicomDecode.decode(short.array() ++ trailing.array()))
    assert(e.getMessage.contains("(7fe0,0010) holds 54 bytes"), e.getMessage)
    assert(e.getMessage.contains("need 64"), e.getMessage)
  }

  test("a cut file is rejected with the element's lengths; the scan names the file") {
    val full = DicomDecode.writeMinimal(8, 8, gradient(8, 8))
    val cut = full.take(full.length - 20)
    val e = intercept[IllegalArgumentException](DicomDecode.decode(cut))
    assert(e.getMessage.contains("(7fe0,0010) declares 64 bytes but only 44 remain"), e.getMessage)

    val dir = java.nio.file.Files.createTempDirectory("graft_dcm_cut")
    java.nio.file.Files.write(dir.resolve("p001.dcm"), full)
    java.nio.file.Files.write(dir.resolve("p002.dcm"), cut)
    val err = intercept[Exception](DicomDecode.scanDicomDir(spark, dir.toString).collect())
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(m => m.contains("p002.dcm") && m.contains("declares 64 bytes")),
      messages.mkString("\n"))
  }

  test("binaryFile scan with suffix filter decodes a directory (S2+S3+P3)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dcm")
    (1 to 5).foreach { i =>
      java.nio.file.Files.write(dir.resolve(f"p$i%03d.dcm"),
        DicomDecode.writeMinimal(8, 8, gradient(8, 8)))
    }
    // a non-dcm file that the glob must skip (reference bug O1 lets these
    // consume split slots; our scan excludes them outright)
    java.nio.file.Files.write(dir.resolve("notes.txt"), "hi".getBytes)

    val ds = DicomDecode.scanDicomDir(spark, dir.toString).collect()
    assert(ds.length === 5)
    assert(ds.map(_._1).sorted.toSeq === (1 to 5).map(i => f"p$i%03d"))
    assert(ds.forall(r => r._2.length === 64 && r._3 === 8 && r._4 === 8))
  }

  test("DICOM directory → full stage-1+2 pipeline → TFRecord shards") {
    import spark.implicits._
    val dcmDir = java.nio.file.Files.createTempDirectory("graft_dcm_e2e")
    (1 to 5).foreach { i =>
      java.nio.file.Files.write(dcmDir.resolve(f"p$i%03d.dcm"),
        DicomDecode.writeMinimal(16, 16, gradient(16, 16)))
    }
    val labels = Seq(
      ("p001", Some(2.0), Some(2.0), Some(4.0), Some(4.0), 1),
      ("p002", None, None, None, None, 0))
      .toDF("patientId", "x", "y", "width", "height", "Target")
    val out = java.nio.file.Files.createTempDirectory("graft_dcm_out").toString
    val images = DicomDecode.scanDicomDir(spark, dcmDir.toString)
    val (nTrainAug, nVal, _) = graft.Pipeline.runEndToEnd(
      spark, images, labels, out, trainShards = 2, valShards = 1)
    // 5 images, 4 train (p001 positive=190, p002..p004 negative=20 each), 1 val
    assert(nVal === 1)
    assert(nTrainAug === 190 + 3 * 20)
    assert(TFRecordSink.readAll(s"$out/tfrecords", "train").size === nTrainAug)
  }

  test("decoded images flow into the augmentation pipeline") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dcm2")
    java.nio.file.Files.write(dir.resolve("p001.dcm"),
      DicomDecode.writeMinimal(8, 8, gradient(8, 8)))
    import spark.implicits._
    val images = DicomDecode.scanDicomDir(spark, dir.toString)
      .map { case (id, px, w, h) =>
        graft.ops.Augment.ImageEx(id, px, w, h,
          Seq(graft.ops.Kernels.Box(1, 1, 3, 3)), "1")
      }
    val out = graft.ops.Augment.runPass(images, 1).collect()
    assert(out.length === 10) // 5 replicas x flip twin
  }
}
