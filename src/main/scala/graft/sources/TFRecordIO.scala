package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException,
  FileInputStream, FileOutputStream, IOException, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32C

/** TFRecord container + minimal tf.train.Example protobuf codec, hand-rolled
  * (SURVEY §7.3 — no TFRecord connector jar is available offline).
  *
  * Record framing (the TFRecord format):
  *   uint64 length (LE) | masked crc32c(length) | data | masked crc32c(data)
  * with mask(crc) = ((crc >>> 15) | (crc << 17)) + 0xa282ead8 (uint32).
  *
  * tf.train.Example wire format (images_to_tfrecord.py emits exactly this via
  * dataset_util.py:21-38 constructors):
  *   Example { Features features = 1 }
  *   Features { map<string, Feature> feature = 1 }
  *   Feature  { oneof { BytesList bytes_list = 1; FloatList float_list = 2;
  *                      Int64List int64_list = 3 } }
  * BytesList: repeated bytes value = 1; Float/Int64List: packed value = 1.
  */
object TFRecordIO {

  sealed trait Feature
  final case class BytesFeature(values: Seq[Array[Byte]]) extends Feature
  final case class FloatFeature(values: Seq[Float]) extends Feature
  final case class Int64Feature(values: Seq[Long]) extends Feature

  object Feature {
    def str(s: String): Feature = BytesFeature(Seq(s.getBytes("UTF-8")))
    def strs(ss: Seq[String]): Feature = BytesFeature(ss.map(_.getBytes("UTF-8")))
    def bytes(b: Array[Byte]): Feature = BytesFeature(Seq(b))
    def floats(fs: Seq[Float]): Feature = FloatFeature(fs)
    def int64(l: Long): Feature = Int64Feature(Seq(l))
    def int64s(ls: Seq[Long]): Feature = Int64Feature(ls)
  }

  // ------------------------------------------------------------ CRC masking

  def maskedCrc32c(data: Array[Byte], off: Int = 0, len: Int = -1): Int = {
    val crc = new CRC32C
    crc.update(data, off, if (len < 0) data.length - off else len)
    val c = crc.getValue // unsigned 32-bit in a long
    val rotated = ((c >>> 15) | (c << 17)) & 0xFFFFFFFFL
    ((rotated + 0xa282ead8L) & 0xFFFFFFFFL).toInt
  }

  // ------------------------------------------------------- protobuf writing

  private final class ProtoOut {
    private val buf = new java.io.ByteArrayOutputStream()
    def writeVarint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0) { buf.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      buf.write(v.toInt)
    }
    def writeTag(field: Int, wireType: Int): Unit = writeVarint((field << 3) | wireType)
    def writeLenDelim(field: Int, data: Array[Byte]): Unit = {
      writeTag(field, 2); writeVarint(data.length); buf.write(data, 0, data.length)
    }
    def toBytes: Array[Byte] = buf.toByteArray
  }

  private def encodeFeature(f: Feature): Array[Byte] = {
    val inner = new ProtoOut
    f match {
      case BytesFeature(vs) => vs.foreach(v => inner.writeLenDelim(1, v))
      case FloatFeature(vs) =>
        val bb = ByteBuffer.allocate(4 * vs.length).order(ByteOrder.LITTLE_ENDIAN)
        vs.foreach(bb.putFloat)
        inner.writeLenDelim(1, bb.array()) // packed
      case Int64Feature(vs) =>
        val tmp = new ProtoOut
        vs.foreach(tmp.writeVarint)
        inner.writeLenDelim(1, tmp.toBytes) // packed
    }
    val listBytes = inner.toBytes
    val feat = new ProtoOut
    val fieldNo = f match {
      case _: BytesFeature => 1
      case _: FloatFeature => 2
      case _: Int64Feature => 3
    }
    feat.writeLenDelim(fieldNo, listBytes)
    feat.toBytes
  }

  /** Serialize a feature map as a tf.train.Example. Features are written in
    * key order so output bytes are deterministic. */
  def encodeExample(features: Map[String, Feature]): Array[Byte] = {
    val featuresMsg = new ProtoOut
    features.toSeq.sortBy(_._1).foreach { case (name, f) =>
      val entry = new ProtoOut
      entry.writeLenDelim(1, name.getBytes("UTF-8"))
      entry.writeLenDelim(2, encodeFeature(f))
      featuresMsg.writeLenDelim(1, entry.toBytes)
    }
    val example = new ProtoOut
    example.writeLenDelim(1, featuresMsg.toBytes)
    example.toBytes
  }

  // ------------------------------------------------------- protobuf reading

  private final class ProtoIn(data: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def readVarint(): Long = {
      var shift = 0; var out = 0L
      var b = 0
      do {
        b = data(pos) & 0xFF; pos += 1
        out |= (b & 0x7FL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      out
    }
    def readLenDelim(): (Int, Int) = { // (offset, length)
      val len = readVarint().toInt
      val off = pos
      pos += len
      (off, len)
    }
    def slice(off: Int, len: Int) = new ProtoIn(data, off, off + len)
    def bytes(off: Int, len: Int): Array[Byte] = java.util.Arrays.copyOfRange(data, off, off + len)
  }

  /** Decode a tf.train.Example into a feature map (inverse of encode). */
  def decodeExample(data: Array[Byte]): Map[String, Feature] = {
    val top = new ProtoIn(data, 0, data.length)
    var features = Map.empty[String, Feature]
    while (top.hasMore) {
      val tag = top.readVarint()
      if ((tag >> 3) == 1 && (tag & 7) == 2) { // Example.features
        val (fOff, fLen) = top.readLenDelim()
        val featMsg = top.slice(fOff, fLen)
        while (featMsg.hasMore) {
          val t2 = featMsg.readVarint()
          if ((t2 >> 3) == 1 && (t2 & 7) == 2) { // map entry
            val (eOff, eLen) = featMsg.readLenDelim()
            val entry = featMsg.slice(eOff, eLen)
            var key = ""
            var value: Feature = Int64Feature(Seq.empty)
            while (entry.hasMore) {
              val t3 = entry.readVarint()
              (t3 >> 3) match {
                case 1 =>
                  val (o, l) = entry.readLenDelim()
                  key = new String(entry.bytes(o, l), "UTF-8")
                case 2 =>
                  val (o, l) = entry.readLenDelim()
                  value = decodeFeature(entry.slice(o, l))
                case _ => throw new IllegalStateException("bad map entry")
              }
            }
            features += key -> value
          } else throw new IllegalStateException("bad Features field")
        }
      } else throw new IllegalStateException("bad Example field")
    }
    features
  }

  private def decodeFeature(in: ProtoIn): Feature = {
    val tag = in.readVarint()
    val (off, len) = in.readLenDelim()
    val list = in.slice(off, len)
    (tag >> 3) match {
      case 1 => // BytesList
        var vs = Seq.newBuilder[Array[Byte]]
        while (list.hasMore) {
          val t = list.readVarint(); require((t >> 3) == 1)
          val (o, l) = list.readLenDelim()
          vs += list.bytes(o, l)
        }
        BytesFeature(vs.result())
      case 2 => // FloatList (packed)
        val t = list.readVarint(); require((t >> 3) == 1)
        val (o, l) = list.readLenDelim()
        val bb = ByteBuffer.wrap(list.bytes(o, l)).order(ByteOrder.LITTLE_ENDIAN)
        FloatFeature(Seq.fill(l / 4)(bb.getFloat))
      case 3 => // Int64List (packed)
        val t = list.readVarint(); require((t >> 3) == 1)
        val (o, l) = list.readLenDelim()
        val packed = list.slice(o, o + l - o)
        val vs = Seq.newBuilder[Long]
        while (packed.hasMore) vs += packed.readVarint()
        Int64Feature(vs.result())
    }
  }

  // ----------------------------------------------------------- file framing

  final class Writer(path: String) extends AutoCloseable {
    private val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
    def write(record: Array[Byte]): Unit = {
      val lenBuf = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        .putLong(record.length.toLong).array()
      out.write(lenBuf)
      writeIntLE(maskedCrc32c(lenBuf))
      out.write(record)
      writeIntLE(maskedCrc32c(record))
    }
    private def writeIntLE(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    def close(): Unit = out.close()
  }

  /** Read all records of one local TFRecord file, verifying both CRCs. */
  def readFile(path: String): Iterator[Array[Byte]] =
    readStream(new FileInputStream(path), path)

  /** Stream the records of one shard off an open input stream (closed at
    * EOF), verifying both CRCs — the one framing core behind [[readFile]]
    * and [[TFRecordSink.scan]]. The framing is sequential
    * (length-prefixed), so a shard of any size reads in O(record) memory.
    * `what` names the shard in errors; a record cut short by the end of
    * the stream is an error, not the end of the shard. */
  def readStream(stream: InputStream, what: String): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private val in = new DataInputStream(new BufferedInputStream(stream, 1 << 16))
      private var nextRec: Array[Byte] = advance()
      private def advance(): Array[Byte] = try {
        val lenBuf = new Array[Byte](8)
        val first = in.read()
        if (first < 0) { in.close(); return null }
        lenBuf(0) = first.toByte
        in.readFully(lenBuf, 1, 7)
        val lenCrc = readIntLE()
        require(lenCrc == maskedCrc32c(lenBuf), s"length crc mismatch in $what")
        val len = ByteBuffer.wrap(lenBuf).order(ByteOrder.LITTLE_ENDIAN).getLong.toInt
        val data = new Array[Byte](len)
        in.readFully(data)
        val dataCrc = readIntLE()
        require(dataCrc == maskedCrc32c(data), s"data crc mismatch in $what")
        data
      } catch {
        case e: EOFException =>
          in.close()
          throw new IOException(s"truncated record at the end of $what", e)
      }
      private def readIntLE(): Int = {
        val b = new Array[Byte](4)
        in.readFully(b)
        (b(0) & 0xFF) | ((b(1) & 0xFF) << 8) | ((b(2) & 0xFF) << 16) | ((b(3) & 0xFF) << 24)
      }
      def hasNext: Boolean = nextRec != null
      def next(): Array[Byte] = {
        val r = nextRec
        nextRec = advance()
        r
      }
    }

  // ------------------------------------------------- feature map accessors

  /** First int64 of feature `k`, or None when absent/empty — absence is
    * the format's null spelling (tf.Example has no null concept; q29's
    * unrepresentable-null contract class). */
  def int64Opt(m: Map[String, Feature], k: String): Option[Long] =
    m.get(k).collect { case Int64Feature(vs) if vs.nonEmpty => vs.head }

  /** First bytes value of feature `k` decoded as UTF-8, or None. */
  def strOpt(m: Map[String, Feature], k: String): Option[String] =
    m.get(k).collect {
      case BytesFeature(vs) if vs.nonEmpty => new String(vs.head, "UTF-8")
    }
}
