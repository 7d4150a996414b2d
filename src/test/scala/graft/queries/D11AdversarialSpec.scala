package graft.queries

import graft.{Memo, SparkSpec}
import org.apache.spark.sql.functions._

/** Adversarial threshold pin for d11's LOSSLESS prefix-filter join —
  * the round-7 advisory corpus: a containment pair with J = n/(2n+1)
  * sits in [0.49995, 0.5) for n ≥ 5000, so a `round(j, 4) >= 0.5`
  * spelling ADMITS it while the size-ratio prefilter (`2·n_b ≥ n_a`)
  * correctly prunes it — the two filters disagree and the lossless
  * hash gate breaks. d11 now thresholds on the exact integer form
  * `2·|A∩B| ≥ |A∪B|` in BOTH engines; this spec runs the real query
  * over a crafted corpus that sits exactly on both sides of the
  * boundary:
  *
  *   - docs 1⊂2 with |B| = 5000, |A| = 10001 ⇒ J = 5000/10001 =
  *     0.4999500… (rounds to 0.5000): must be EXCLUDED;
  *   - docs 3⊂4 with |B| = 10, |A| = 20 ⇒ J = exactly 0.5: must be
  *     INCLUDED (the prefix filter's recall guarantee covers J ≥ 1/2
  *     inclusively);
  *   - docs 5≡6 ⇒ J = 1: sanity.
  */
class D11AdversarialSpec extends SparkSpec {

  private def words(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => f"$prefix$i%05d")

  test("exact integer Jaccard threshold: J=0.49995 excluded, J=0.5 included") {
    val dir = java.nio.file.Files.createTempDirectory("d11adv").toString
    // B1 = 5002 words (5000 shingles); A1 = B1 ++ 5001 fresh words
    // (10001 shingles, superset of B1's)
    val b1 = words("w", 5002)
    val a1 = b1 ++ words("x", 5001)
    // B2 = 12 words (10 shingles); A2 = B2 ++ 10 fresh (20 shingles)
    val b2 = words("y", 12)
    val a2 = b2 ++ words("z", 10)
    val twin = words("t", 30)
    val rows = Seq(
      (1L, b1.mkString(" ")), (2L, a1.mkString(" ")),
      (3L, b2.mkString(" ")), (4L, a2.mkString(" ")),
      (5L, twin.mkString(" ")), (6L, twin.mkString(" ")))
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val pairs = Registry.queries("d11_prefix_filter_join")(spark, dir)
        .select("doc_a", "doc_b", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      assert(pairs.contains((3L, 4L)), s"exact-0.5 pair missing: $pairs")
      assert(pairs((3L, 4L)) == 0.5)
      assert(pairs.contains((5L, 6L)) && pairs((5L, 6L)) == 1.0)
      assert(!pairs.contains((1L, 2L)),
        s"J=5000/10001 < 1/2 must not pass the exact integer test: $pairs")
    } finally Memo.release()
  }
}
