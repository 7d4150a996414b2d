package graft.queries

import graft.SparkSpec
import org.apache.commons.codec.digest.DigestUtils

/** Semantic pin for t22's hashed-linear-classifier inference: a full
  * independent recompute of every document's feature set, hashed
  * weights, and integer-micro-unit logit over sf0.001 — including the
  * non-negative-shift division (Spark `div` truncates, DuckDB `//`
  * floors; the shift makes them agree, and this recompute is a third
  * independent spelling of the same arithmetic). */
class ClassifierScoreSpec extends SparkSpec {

  private def h60(s: String): Long =
    java.lang.Long.parseLong(DigestUtils.md5Hex(s).take(15), 16)

  private def weight(f: String): Long = h60(f) % 2001L - 1000L

  test("logit_micro matches an independent per-doc recompute on sf0.001") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = docs.map { case (id, text) =>
      val w = text.trim.toLowerCase.split("\\s+")
      val feats = w.map("uqw:" + _) ++
        w.sliding(2).filter(_.length == 2).map(p => s"bgw:${p(0)} ${p(1)}")
      val n = feats.length.toLong
      val wsum = feats.map(weight).sum
      val logit = (wsum + 1000L * n) * 1000L / n - 1000000L
      id -> (n, logit, logit >= 0L)
    }
    val got = Registry.queries("t22_classifier_score")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got.keySet === expected.keySet)
    for ((id, e) <- expected) assert(got(id) === e, s"doc $id")
    // the corpus must exercise both branches of the keep gate
    assert(got.values.exists(_._3) && got.values.exists(!_._3))
  }

  test("negative weight sums stay exact through the shifted division") {
    // weights are in [-1000, 1000]; find tokens with negative weights
    // and craft a doc from them — the unshifted spelling would hit the
    // truncate-vs-floor divergence here.
    val neg = Iterator.from(0).map(i => s"n$i")
      .filter(t => weight("uqw:" + t) < 0).take(5).toSeq
    val dir = graft.TempDirs.create("t22neg").toString
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Seq((1L, neg.mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = Registry.queries("t22_classifier_score")(spark, dir).collect().head
    val feats = neg.map("uqw:" + _) ++
      neg.sliding(2).map(p => s"bgw:${p(0)} ${p(1)}")
    val n = feats.length.toLong
    val wsum = feats.map(weight).sum
    assert(wsum < 0, "crafted doc must have a negative weight sum")
    val logit = (wsum + 1000L * n) * 1000L / n - 1000000L
    assert(row.getLong(1) === n)
    assert(row.getLong(2) === logit)
    assert(row.getBoolean(3) === (logit >= 0L))
  }
}
