package graft.sources

import java.security.MessageDigest

import graft.SparkSpec
import TFRecordIO._

/** The distributed TFRecord scan: the set's shard files spread over tasks
  * → per-task streaming framing/CRC reader. Gates: the scan returns exactly
  * the multiset readAll returns (sha256 multiset equality — byte identity
  * per record, order-free), also when most shards are empty; absent
  * features decode to None; a corrupted shard fails the scan LOUDLY from an
  * executor instead of returning garbage; and a shard set is exactly its
  * own `{prefix}-NNNNN-of-NNNNN.tfrecord` files, so re-writes and sets
  * whose prefix extends another's leave each other alone. */
class TFRecordScanSpec extends SparkSpec {
  import spark.implicits._

  // driver-side only (readAll path); the executor-side copy in the scan
  // test is a test-local val so the closure stays free of the suite
  private def sha(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  private def writeFixture(n: Int, shards: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("tfscan").toString
    val recs = spark.range(0, n.toLong).map { i =>
      val m: Map[String, Feature] =
        if (i % 7 == 0) Map("id" -> Feature.int64(i)) // "name" absent = null
        else Map("id" -> Feature.int64(i), "name" -> Feature.str(s"doc-$i"))
      encodeExample(m)
    }
    TFRecordSink.write(recs, dir, "part", shards)
    dir
  }

  test("scan == readAll as a sha256 multiset, and counts match") {
    val shaLocal: Array[Byte] => String = b =>
      MessageDigest.getInstance("SHA-256").digest(b)
        .map("%02x".format(_)).mkString
    // 5 records in 8 shards: the benchmark's shape, with empty shards
    for ((n, shards) <- Seq((500, 8), (5, 8))) {
      val dir = writeFixture(n, shards)
      val viaScan = TFRecordSink.scan(spark, dir, "part")
        .map(shaLocal).collect().toSeq
      val viaDriver = TFRecordSink.readAll(dir, "part").map(sha).toSeq
      assert(viaScan.size === n)
      assert(viaScan.sorted === viaDriver.sorted)
    }
  }

  test("scan decodes absent features as None (the format's null spelling)") {
    val dir = writeFixture(50, 4)
    val decoded = TFRecordSink.scan(spark, dir, "part")
      .map { b =>
        val m = decodeExample(b)
        (int64Opt(m, "id"), strOpt(m, "name"))
      }
      .collect().toMap
    assert(decoded.size === 50)
    assert(decoded(Some(0L)) === None)
    assert(decoded(Some(7L)) === None)
    assert(decoded(Some(1L)) === Some("doc-1"))
  }

  test("a corrupted shard fails the distributed scan loudly") {
    val dir = writeFixture(200, 4)
    val shard = TFRecordSink.shardPath(dir, "part", 2, 4)
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(shard))
    raw(raw.length / 2) = (raw(raw.length / 2) ^ 0x7F).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(shard), raw)
    val ex = intercept[Exception] {
      TFRecordSink.scan(spark, dir, "part").count()
    }
    // the error must name the shard (per-query attribution discipline)
    assert(ex.getMessage.contains("crc mismatch") ||
      Option(ex.getCause).exists(_.getMessage.contains("crc mismatch")))
  }

  test("re-write with a different shard count leaves no stale shards behind") {
    // a set's shards match ANY -of-N suffix, so a second write with fewer
    // shards must delete the first set or the scan unions old and new.
    val dir = writeFixture(500, 8)
    val recs = spark.range(0, 60L).map(i =>
      encodeExample(Map("id" -> Feature.int64(i)): Map[String, Feature]))
    TFRecordSink.write(recs, dir, "part", 4)
    assert(TFRecordSink.scan(spark, dir, "part").count() === 60L,
      "stale -of-00008 shards must not survive a -of-00004 re-write")
    assert(TFRecordSink.readAll(dir, "part").size === 60)
  }

  test("sets whose prefix extends another's stay apart in one directory") {
    val dir = java.nio.file.Files.createTempDirectory("tfscan").toString
    // every record carries the name of the set it was written to
    def writeSet(prefix: String, n: Int, shards: Int): Unit =
      TFRecordSink.write(spark.range(0, n.toLong).map(i => encodeExample(
        Map("set" -> Feature.str(prefix), "id" -> Feature.int64(i)): Map[String, Feature])),
        dir, prefix, shards)
    def assertOnly(prefix: String, n: Int): Unit = {
      val set: Array[Byte] => String = b => strOpt(decodeExample(b), "set").get
      assert(TFRecordSink.scan(spark, dir, prefix).map(set).collect().toSeq ===
        Seq.fill(n)(prefix))
      assert(TFRecordSink.readAll(dir, prefix).map(set).toSeq === Seq.fill(n)(prefix))
    }
    writeSet("val-hard", 6, 2)
    writeSet("val", 9, 3)
    assertOnly("val-hard", 6) // the `val` write left these shards alone
    assertOnly("val", 9)
    writeSet("val-hard", 4, 2)
    assertOnly("val", 9) // and the `val-hard` re-write left these alone
    assertOnly("val-hard", 4)
    // `va` names no set here: the scan fails instead of reading nothing
    val ex = intercept[IllegalArgumentException](TFRecordSink.scan(spark, dir, "va"))
    assert(ex.getMessage.contains("no TFRecord shards of set 'va'"))
  }
}
