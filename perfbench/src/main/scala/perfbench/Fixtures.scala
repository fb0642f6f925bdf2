package perfbench

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame

import graft.images.ImageGen

/** Seeded inputs, generated once and cached in the benchmark's cache
  * directory, keyed by build fingerprint, seed and size: image generation
  * is the slowest part of staging and must not be paid again on a repeat
  * run. */
object Fixtures {
  val Columns: Seq[String] = Seq("image_id", "bytes", "w", "h", "fmt", "caption", "phash")

  def imageId(i: Long): String = f"img-$i%012d"

  /** ImageGen rows with indices [lo, lo + n) for `seed` and edge lengths
    * `sizes`, as one Parquet file sorted by image_id. */
  def images(c: Ctx, seed: Long, lo: Long, n: Int,
      sizes: Array[Int] = ImageGen.Sizes): DataFrame = {
    val dir = c.cache.resolve(
      s"images-${c.fingerprint}-s$seed-$lo-$n-${sizes.mkString("x")}")
    if (!Files.exists(dir.resolve("_SUCCESS"))) {
      val tmp = c.cache.resolve(s".tmp-${ProcessHandle.current().pid()}-${dir.getFileName}")
      TableFs.deleteTree(tmp)
      val spark = c.spark
      import spark.implicits._
      spark.range(lo, lo + n, 1, 4).map(i => ImageGen.row(i, seed, sizes))
        .toDF(Columns: _*)
        .repartition(1).sortWithinPartitions("image_id")
        .write.parquet(tmp.toString)
      TableFs.deleteTree(dir)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    c.spark.read.parquet(dir.toString)
  }
}
