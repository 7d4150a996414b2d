package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic decontamination (t26) pins beyond the registry smoke +
  * driver oracle: a full plain-Scala replay of the split→sig→candidate
  * →verify→accounting chain at sf0.001 (doc-exact on the FLAGGED id
  * set, not just the per-label counts the query ships), and a planted
  * paraphrase pair the bucketing provably cannot miss (identical
  * vectors collide in every table). */
class SemanticDeconSpec extends SparkSpec {

  /** md5(vec_id) mod 100 — the t08 split arithmetic, replayed. */
  private def bucket(id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(md.substring(0, 15), 16) % 100
  }

  private def dot(a: Array[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  test("t26 accounting matches a plain-Scala replay; flagged ids are doc-exact") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect().map { r =>
        (r.getLong(0),
          r.getSeq[Float](1).map(_.toDouble).toArray,
          r.getInt(2))
      }
    def sig(v: Array[Double], t: Int): Int =
      (0 until Similarity.T26_B).map(j =>
        if (dot(v, Similarity.t26Planes(t)(j)) > 0) 1 << j else 0).sum
    val train = vecs.filter(t => bucket(t._1) < 90)
    val heldout = vecs.filter(t => bucket(t._1) >= 90)
    val flagged = (for {
      (ta, va, la) <- train
      (tb, vb, lb) <- heldout
      if la == lb
      if (0 until Similarity.T26_L).exists(t => sig(va, t) == sig(vb, t))
      cos = BigDecimal(dot(va, vb) /
        (math.sqrt(dot(va, va.toSeq)) * math.sqrt(dot(vb, vb.toSeq))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cos >= Similarity.T26_TAU
    } yield (la, ta)).toSet
    val expected = train.groupBy(_._3).map { case (l, tr) =>
      l -> ((tr.length.toLong,
        heldout.count(_._3 == l).toLong,
        flagged.count(_._1 == l).toLong))
    }
    val got = Registry.queries("t26_semantic_decon")(spark, sfDir)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    // n_kept is derived; spot-check the invariant on every row
    Registry.queries("t26_semantic_decon")(spark, sfDir).collect().foreach(r =>
      assert(r.getLong(4) === r.getLong(1) - r.getLong(3)))
  }

  test("a planted paraphrase (identical embedding) in the test split is ALWAYS flagged") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ids = (1L to 2000L)
    val trainId = ids.find(bucket(_) < 90).get
    val testId = ids.find(bucket(_) >= 95).get
    val fillerTrain = ids.filter(i => bucket(i) < 90 && i != trainId).take(3)
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val leak = vec()
    // identical vector on both sides of the split: every hyperplane
    // sign agrees, so the pair collides in ALL L tables — recall 1.0
    // by construction, cosine exactly 1.0 ≥ τ
    val rows = ((trainId -> leak) +: (testId -> leak) +:
      fillerTrain.map(_ -> vec())).map { case (id, v) => Row(id, v.toSeq, 3) }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val dir = graft.TempDirs.create("t26plant").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Registry.queries("t26_semantic_decon")(spark, dir)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out === Map(3 -> ((4L, 1L, 1L, 3L))))
  }
}
