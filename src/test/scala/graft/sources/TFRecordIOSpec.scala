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
    val w = new Writer(tmp)
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
    val w = new Writer(tmp.toString)
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
}
