package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException,
  FileInputStream, IOException, InputStream, OutputStream}
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

  private def varintSize(v0: Long): Int = {
    var v = v0
    var n = 1
    while ((v & ~0x7FL) != 0) { v >>>= 7; n += 1 }
    n
  }

  /** Bytes of a length-delimited field with a `len`-byte payload; every tag
    * written here fits one byte (field numbers 1-3). */
  private def lenDelimSize(len: Int): Int = 1 + varintSize(len) + len

  /** A protobuf writer over one array sized up front. */
  private final class ProtoOut(size: Int) {
    val buf = new Array[Byte](size)
    var pos = 0
    def writeVarint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0) { buf(pos) = ((v & 0x7F) | 0x80).toByte; pos += 1; v >>>= 7 }
      buf(pos) = v.toByte
      pos += 1
    }
    /** Tag and length of a length-delimited field; the payload follows. */
    def writeHeader(field: Int, len: Int): Unit = { writeVarint((field << 3) | 2); writeVarint(len) }
    def writeBytes(b: Array[Byte]): Unit = {
      System.arraycopy(b, 0, buf, pos, b.length)
      pos += b.length
    }
    def writeFloatLE(f: Float): Unit = {
      val v = java.lang.Float.floatToRawIntBits(f)
      buf(pos) = v.toByte; buf(pos + 1) = (v >> 8).toByte
      buf(pos + 2) = (v >> 16).toByte; buf(pos + 3) = (v >> 24).toByte
      pos += 4
    }
  }

  private def packedInt64Size(vs: Seq[Long]): Int = vs.iterator.map(varintSize).sum

  /** Payload bytes of a feature's list message (BytesList/FloatList/Int64List);
    * float and int64 lists are packed, and written even when empty. */
  private def listSize(f: Feature): Int = f match {
    case BytesFeature(vs) => vs.iterator.map(v => lenDelimSize(v.length)).sum
    case FloatFeature(vs) => lenDelimSize(4 * vs.length)
    case Int64Feature(vs) => lenDelimSize(packedInt64Size(vs))
  }

  /** A Feature message: its oneof field (1 bytes, 2 float, 3 int64) holding
    * the list of `listLen` payload bytes. */
  private def writeFeature(out: ProtoOut, f: Feature, listLen: Int): Unit = f match {
    case BytesFeature(vs) =>
      out.writeHeader(1, listLen)
      vs.foreach { v => out.writeHeader(1, v.length); out.writeBytes(v) }
    case FloatFeature(vs) =>
      out.writeHeader(2, listLen)
      out.writeHeader(1, 4 * vs.length)
      vs.foreach(out.writeFloatLE)
    case Int64Feature(vs) =>
      out.writeHeader(3, listLen)
      out.writeHeader(1, packedInt64Size(vs))
      vs.foreach(out.writeVarint)
  }

  /** Serialize a feature map as a tf.train.Example. Features are written in
    * key order so output bytes are deterministic. Every message length is
    * computed first, so the record is filled into one array of its exact
    * size with no intermediate copies. */
  def encodeExample(features: Map[String, Feature]): Array[Byte] = {
    val sorted = features.toArray.sortBy(_._1)
    val names = sorted.map(_._1.getBytes("UTF-8"))
    val lists = sorted.map(f => listSize(f._2))
    // map entry: key = 1 (the name), value = 2 (the Feature message)
    val entries = sorted.indices.map(i => lenDelimSize(names(i).length) + lenDelimSize(lenDelimSize(lists(i))))
    val featuresLen = entries.iterator.map(lenDelimSize).sum
    val out = new ProtoOut(lenDelimSize(featuresLen))
    out.writeHeader(1, featuresLen) // Example.features
    sorted.indices.foreach { i =>
      out.writeHeader(1, entries(i)) // Features.feature map entry
      out.writeHeader(1, names(i).length)
      out.writeBytes(names(i))
      out.writeHeader(2, lenDelimSize(lists(i)))
      writeFeature(out, sorted(i)._2, lists(i))
    }
    out.buf
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

  /** Frames records onto a stream (buffered here; closed by [[close]]). */
  final class Writer(stream: OutputStream) extends AutoCloseable {
    private val out = new BufferedOutputStream(stream, 1 << 16)
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
