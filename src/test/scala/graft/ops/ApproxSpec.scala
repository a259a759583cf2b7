package graft.ops

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.{Pipeline, SparkSpec, Tables}
import graft.ops.Augment.ImageEx

/** The approximate/sketch surface for the 100 TB path: exact distinct counts
  * and exact percentiles don't scale to petabytes; these assert the approx
  * twins stay within tolerance of exact on harness data. No DuckDB oracle —
  * sketches are engine-specific by nature. */
class ApproxSpec extends SparkSpec {
  import spark.implicits._

  test("approx_count_distinct within 5% of exact") {
    val l = Tables.lineitem(spark, sfDir)
    val (exact, approx) = l.agg(
      countDistinct(col("l_partkey")).as("e"),
      approx_count_distinct(col("l_partkey"), 0.02).as("a"))
      .as[(Long, Long)].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("percentile_approx within 2% of exact percentile") {
    val l = Tables.lineitem(spark, sfDir)
    val row = l.agg(
      expr("percentile(l_extendedprice, 0.5)").as("exact_med"),
      expr("percentile_approx(l_extendedprice, 0.5, 1000)").as("approx_med"))
      .as[(Double, Double)].head()
    assert(math.abs(row._2 - row._1) / row._1 < 0.02,
      s"approx ${row._2} vs exact ${row._1}")
  }

  test("PNG directory sink writes one file per augmented image") {
    val dir = java.nio.file.Files.createTempDirectory("graft_png").toString
    val imgs = Augment.syntheticImages(spark, Tables.part(spark, sfDir),
      size = 16, maxImages = 3)
    writePngs(imgs, dir)
    val files = new java.io.File(dir).listFiles()
    assert(files.length === imgs.count())
    assert(files.forall(_.getName.endsWith(".png")))
    // each decodes as a real 16x16 PNG
    val img = javax.imageio.ImageIO.read(files.head)
    assert(img.getWidth === 16 && img.getHeight === 16)
  }

  /** PNG directory sink: one {id}.png per image, written task-parallel
    * via foreachPartition. */
  private def writePngs(ds: Dataset[ImageEx], dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    ds.foreachPartition { (it: Iterator[ImageEx]) =>
      it.foreach { ex =>
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, s"${ex.id}.png"),
          Pipeline.pngBytes(ex.pixels, ex.width, ex.height))
      }
    }
  }
}
