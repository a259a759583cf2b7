package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import TFRecordIO._

class TFRecordIOSpec extends AnyFunSuite {

  test("masked crc32c matches the TFRecord reference vector") {
    // crc32c("123456789") = 0xE3069283; mask = rotr15 + 0xa282ead8
    val crc = {
      val c = new java.util.zip.CRC32C
      c.update("123456789".getBytes("UTF-8"))
      c.getValue
    }
    assert(crc === 0xE3069283L)
    val expectedMask = ((((crc >>> 15) | (crc << 17)) & 0xFFFFFFFFL) + 0xa282ead8L) & 0xFFFFFFFFL
    assert(maskedCrc32c("123456789".getBytes("UTF-8")) === expectedMask.toInt)
  }

  test("example encode/decode round-trips every feature kind") {
    val ex = Map(
      "image/height" -> Feature.int64(1024L),
      "image/filename" -> Feature.str("p001.png"),
      "image/encoded" -> Feature.bytes(Array[Byte](1, 2, 3, -1)),
      "image/object/bbox/xmin" -> Feature.floats(Seq(0.25f, 0.5f)),
      "image/object/class/label" -> Feature.int64s(Seq(1L, 1L, 300L)),
      "image/caption" -> Feature.strs(Seq("0", "1")),
      "empty/list" -> Feature.floats(Seq.empty))
    val decoded = decodeExample(encodeExample(ex))
    assert(decoded.keySet === ex.keySet)
    assert(decoded("image/height") === Int64Feature(Seq(1024L)))
    assert(decoded("image/object/bbox/xmin") === FloatFeature(Seq(0.25f, 0.5f)))
    assert(decoded("image/object/class/label") === Int64Feature(Seq(1L, 1L, 300L)))
    val BytesFeature(encBytes) = decoded("image/encoded"): @unchecked
    assert(encBytes.head.toSeq === Seq[Byte](1, 2, 3, -1))
    val BytesFeature(caps) = decoded("image/caption"): @unchecked
    assert(caps.map(new String(_, "UTF-8")) === Seq("0", "1"))
    assert(decoded("empty/list") === FloatFeature(Seq.empty))
  }

  test("file framing round-trips with CRC verification") {
    val tmp = java.nio.file.Files.createTempFile("graft", ".tfrecord").toString
    val records = (0 until 100).map(i =>
      encodeExample(Map("id" -> Feature.int64(i.toLong), "p" -> Feature.str("x" * i))))
    val w = new Writer(new java.io.FileOutputStream(tmp))
    records.foreach(w.write)
    w.close()
    val back = readFile(tmp).toSeq
    assert(back.length === 100)
    back.zip(records).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    // corrupt one byte mid-file: reader must fail the CRC, not return garbage
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tmp))
    raw(raw.length / 2) = (raw(raw.length / 2) ^ 0x7F).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(tmp), raw)
    assertThrows[Exception](readFile(tmp).toSeq)
  }

  test("a file cut inside its last record fails the read instead of ending early") {
    val tmp = java.nio.file.Files.createTempFile("graft", ".tfrecord")
    val w = new Writer(new java.io.FileOutputStream(tmp.toFile))
    (0 until 3).foreach(i => w.write(encodeExample(Map("id" -> Feature.int64(i.toLong)))))
    w.close()
    val raw = java.nio.file.Files.readAllBytes(tmp)
    java.nio.file.Files.write(tmp, raw.take(raw.length - 2))
    val ex = intercept[java.io.IOException](readFile(tmp.toString).toSeq)
    assert(ex.getMessage === s"truncated record at the end of $tmp")
  }

  test("encoding is deterministic (sorted feature order)") {
    val a = encodeExample(Map("b" -> Feature.int64(1), "a" -> Feature.str("x")))
    val b = encodeExample(Map("a" -> Feature.str("x"), "b" -> Feature.int64(1)))
    assert(a.toSeq === b.toSeq)
  }

  test("encodeExample bytes match the golden sha256 of the benchmark's 16-feature example and of edge cases") {
    def sha(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    // the benchmark's frame: seeded noise over a diagonal gradient, 512x512
    val (w, h) = (512, 512)
    val rng = new java.util.SplittableRandom(1L)
    val px = Array.tabulate[Short](w * h) { i =>
      val g = ((i % w) + (i / w)) * 255 / (w + h - 2)
      math.max(0, math.min(255, g + rng.nextInt(-6, 7))).toShort
    }
    val png = graft.Pipeline.pngBytes(px, w, h)
    assert(png.length === 161254)
    import Feature._
    val bench = Map(
      "image/height" -> int64(h), "image/width" -> int64(w),
      "image/filename" -> str("frame.png"), "image/source_id" -> str("frame"),
      "image/key/sha256" -> str(sha(png)), "image/encoded" -> bytes(png),
      "image/format" -> str("png"), "image/caption" -> strs(Seq("1")),
      "image/object/bbox/xmin" -> floats(Seq(0.3f)), "image/object/bbox/xmax" -> floats(Seq(0.5f)),
      "image/object/bbox/ymin" -> floats(Seq(0.3f)), "image/object/bbox/ymax" -> floats(Seq(0.5f)),
      "image/object/class/text" -> strs(Seq("pneumonia")),
      "image/object/class/label" -> int64s(Seq(1L)), "image/object/is_crowd" -> int64s(Seq(0L)),
      "image/object/area" -> floats(Seq(40000f)))
    // empty lists of each kind, multi-byte varints, negative int64s,
    // non-ASCII names, NaN and subnormal floats, an empty bytes value
    val edge = Map(
      "a/empty-bytes" -> strs(Seq.empty), "b/empty-floats" -> floats(Seq.empty),
      "c/empty-int64" -> int64s(Seq.empty),
      "d/int64" -> int64s(Seq(0L, 127L, 128L, -1L, Long.MinValue, Long.MaxValue, 300L)),
      "e/\u00fcn\u00efcode-key" -> strs(Seq("", "x" * 200, "\u00f1" * 70)),
      "f/floats" -> floats(Seq(Float.NaN, -0f, Float.MaxValue, 1e-40f)),
      "g/bytes" -> BytesFeature(Seq(Array.emptyByteArray, Array.fill[Byte](20000)(7))))
    assert(sha(encodeExample(bench)) === "ad3ef6dbbf26af3d3831dfe93ac00350505a32d2e08ca275c30232c781ff38cd")
    assert(sha(encodeExample(edge)) === "be743ce9603a0889bd4a8dd09a2b8066adb495f54d13c45b8caff2c24b8ac5fe")
    assert(encodeExample(Map.empty).toSeq === Seq[Byte](0x0A, 0x00))
    assert(decodeExample(encodeExample(edge))("d/int64") === edge("d/int64"))
  }
}
