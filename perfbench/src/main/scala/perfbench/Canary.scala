package perfbench

import org.apache.spark.sql.SparkSession

/** Host-speed references sampled before and after every run, so a
  * drifted measurement window is visible next to the numbers. Both do
  * a fixed amount of work: a hash + shuffle + sort of 1M generated
  * rows into a no-op sink, and a single-threaded PNG encode/decode of
  * 12 seeded 256x256 images. Neither is gated. */
object Canary {
  def shuffle(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 1000L * 1000, 1, cores * 2)
      .selectExpr("xxhash64(id) AS h")
      .repartition(cores * 2, org.apache.spark.sql.functions.col("h"))
      .sortWithinPartitions("h")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def cpu(): Double = {
    javax.imageio.ImageIO.setUseCache(false)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 12) {
      val img = new java.awt.image.BufferedImage(256, 256, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var s = 0x9E3779B97F4A7C15L + i
      var y = 0
      while (y < 256) {
        var x = 0
        while (x < 256) {
          s = s * 6364136223846793005L + 1442695040888963407L
          img.setRGB(x, y, (s >>> 40).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bos.toByteArray))
      require(back.getWidth == 256, "cpu canary decode corrupted")
      i += 1
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** one sample of each; taken after the warmup pass, so JIT-warm. */
  def sample(spark: SparkSession, cores: Int): Map[String, Double] =
    Map("shuffle_s" -> shuffle(spark, cores), "cpu_s" -> cpu())
}
