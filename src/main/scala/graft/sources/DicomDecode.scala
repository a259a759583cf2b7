package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** DICOM source (SURVEY §2.1 S2/S3 — generate_images_from_dicom.py:44-51):
  * directory scan with suffix filter + per-file decode to a pixel array.
  *
  * The decoder is a minimal, dependency-free parser for uncompressed
  * little-endian DICOM (explicit or implicit VR): it walks data elements to
  * Rows (0028,0010), Columns (0028,0011), BitsAllocated (0028,0100) and
  * PixelData (7FE0,0010) — exactly the fields the reference consumes via
  * `pydicom...pixel_array`. Compressed transfer syntaxes are out of scope
  * (the RSNA set is uncompressed MONOCHROME).
  *
  * Scale shape: `binaryFile` scan (S2, pathGlobFilter=*.dcm) → partition-
  * local decode inside mapPartitions — no shuffle touches pixel bytes.
  */
object DicomDecode {

  final case class DicomImage(rows: Int, cols: Int, bitsAllocated: Int,
      pixels: Array[Short])

  private val MAGIC_OFFSET = 128

  /** Decode one DICOM file's bytes. Throws on compressed/undefined-length
    * payloads it cannot handle, and on an element — PixelData included —
    * that is cut short. */
  def decode(bytes: Array[Byte]): DicomImage = {
    require(bytes.length > MAGIC_OFFSET + 4 &&
      new String(bytes, MAGIC_OFFSET, 4, "US-ASCII") == "DICM",
      "not a DICOM part-10 file")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    buf.position(MAGIC_OFFSET + 4)

    var rows = -1; var cols = -1; var bits = 8
    var pixels: Array[Short] = null

    while (buf.remaining() >= 8 && pixels == null) {
      val group = buf.getShort() & 0xFFFF
      val elem = buf.getShort() & 0xFFFF
      // explicit VR: two uppercase ASCII letters follow the tag
      val b1 = buf.get(buf.position()) & 0xFF
      val b2 = buf.get(buf.position() + 1) & 0xFF
      val explicit = b1 >= 'A' && b1 <= 'Z' && b2 >= 'A' && b2 <= 'Z'
      var vr = ""
      val len: Long =
        if (explicit) {
          vr = "" + b1.toChar + b2.toChar
          buf.position(buf.position() + 2)
          if (Seq("OB", "OW", "OF", "SQ", "UT", "UN").contains(vr)) {
            require(buf.remaining() >= 6, f"element ($group%04x,$elem%04x) header is cut short")
            buf.getShort() // reserved
            buf.getInt() & 0xFFFFFFFFL
          } else (buf.getShort() & 0xFFFF).toLong
        } else buf.getInt() & 0xFFFFFFFFL

      if (len == 0xFFFFFFFFL)
        throw new UnsupportedOperationException(
          f"undefined-length element ($group%04x,$elem%04x) — compressed DICOM unsupported")
      require(len <= buf.remaining(),
        f"element ($group%04x,$elem%04x) declares $len bytes but only ${buf.remaining()} remain")

      (group, elem) match {
        case (0x0028, 0x0010) => rows = buf.getShort() & 0xFFFF
        case (0x0028, 0x0011) => cols = buf.getShort() & 0xFFFF
        case (0x0028, 0x0100) => bits = buf.getShort() & 0xFFFF
        case (0x7FE0, 0x0010) =>
          require(rows > 0 && cols > 0, "PixelData before Rows/Columns")
          val n = rows * cols
          val need = n.toLong * (if (bits <= 8) 1 else 2)
          require(len >= need,
            f"PixelData (7fe0,0010) holds $len bytes but $rows x $cols samples of $bits bits need $need")
          pixels = new Array[Short](n)
          if (bits <= 8) {
            var i = 0
            while (i < n) { pixels(i) = (buf.get() & 0xFF).toShort; i += 1 }
          } else {
            var i = 0
            while (i < n) { pixels(i) = buf.getShort(); i += 1 }
          }
        case _ =>
          buf.position(buf.position() + len.toInt)
      }
    }
    require(pixels != null, "no PixelData element found")
    DicomImage(rows, cols, bits, pixels)
  }

  /** Minimal explicit-VR-LE DICOM writer — fixture generator for tests and
    * the offline stand-in for real scanner output. */
  def writeMinimal(rows: Int, cols: Int, pixels: Array[Short],
      bitsAllocated: Int = 8): Array[Byte] = {
    require(pixels.length == rows * cols)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(new Array[Byte](MAGIC_OFFSET))
    bos.write("DICM".getBytes("US-ASCII"))
    def shortElement(group: Int, elem: Int, value: Int): Unit = {
      val b = ByteBuffer.allocate(10).order(ByteOrder.LITTLE_ENDIAN)
      b.putShort(group.toShort).putShort(elem.toShort)
      b.put('U'.toByte).put('S'.toByte).putShort(2).putShort(value.toShort)
      bos.write(b.array())
    }
    shortElement(0x0028, 0x0010, rows)
    shortElement(0x0028, 0x0011, cols)
    shortElement(0x0028, 0x0100, bitsAllocated)
    val payloadLen = if (bitsAllocated <= 8) pixels.length else pixels.length * 2
    val hdr = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
    hdr.putShort(0x7FE0.toShort).putShort(0x0010)
    hdr.put('O'.toByte).put('W'.toByte).putShort(0) // reserved
    hdr.putInt(payloadLen)
    bos.write(hdr.array())
    val body = ByteBuffer.allocate(payloadLen).order(ByteOrder.LITTLE_ENDIAN)
    if (bitsAllocated <= 8) pixels.foreach(p => body.put((p & 0xFF).toByte))
    else pixels.foreach(body.putShort)
    bos.write(body.array())
    bos.toByteArray
  }

  /** S2+S3+P3: directory scan (suffix-filtered), partition-local decode,
    * filename→patientId projection. Output shape feeds Pipeline.annotate. */
  def scanDicomDir(spark: SparkSession, dir: String): Dataset[(String, Array[Short], Int, Int)] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.dcm")
      .load(dir)
      .select(
        col("path"),
        regexp_replace(element_at(split(col("path"), "/"), -1), "\\.dcm$", "").as("id"),
        col("content"))
      .as[(String, String, Array[Byte])]
      .mapPartitions(_.map { case (path, id, bytes) =>
        val img =
          try decode(bytes)
          catch {
            case e: RuntimeException => throw new IllegalArgumentException(s"$path: ${e.getMessage}", e)
          }
        (id, img.pixels, img.cols, img.rows)
      })
  }
}
