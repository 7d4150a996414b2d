package graft.queries

import graft.{Memo, SparkSpec}
import org.apache.spark.sql.functions._

/** Randomized LOSSLESSNESS property for d11's prefix + positional
  * filter join: on seeded random corpora — mixed doc lengths, planted
  * near-duplicates, exact twins, tiny vocabularies that force dense
  * posting lists (the saturation regime the sf1 audit identified) —
  * the filtered join must return EXACTLY the pair set a brute-force
  * all-pairs Jaccard computation does. This is the in-process twin of
  * the driver gate's external DuckDB brute-force oracle, across many
  * corpus shapes instead of one.
  */
class D11PropertySpec extends SparkSpec {

  /** brute-force J ≥ 1/2 pairs over word-3-gram shingle sets. */
  private def bruteForce(docs: Seq[(Long, String)]): Set[(Long, Long)] = {
    def shingles(t: String): Set[String] = {
      val w = t.trim.toLowerCase.split("\\s+").toVector
      if (w.size < 3) Set.empty
      else (0 to w.size - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val sh = docs.map { case (id, t) => id -> shingles(t) }
      .filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      inter = (sa & sb).size
      if inter * 2 >= sa.size + sb.size - inter
    } yield (a, b)).toSet
  }

  for (seed <- Seq(7, 42, 1337)) {
    test(s"random corpus (seed $seed): filtered join == brute force") {
      val rng = new scala.util.Random(seed)
      val vocab = (0 until (8 + rng.nextInt(24))).map(i => s"w$i")
      val base = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      var id = 0L
      for (_ <- 0 until 60) {
        val t =
          if (base.nonEmpty && rng.nextDouble() < 0.25) {
            // perturbed near-duplicate of an earlier doc
            val src = base(rng.nextInt(base.size))._2.split(" ").toBuffer
            val nMut = rng.nextInt(1 + src.size / 8)
            for (_ <- 0 until nMut)
              src(rng.nextInt(src.size)) = vocab(rng.nextInt(vocab.size))
            src.mkString(" ")
          } else if (base.nonEmpty && rng.nextDouble() < 0.1) {
            base(rng.nextInt(base.size))._2 // exact twin
          } else {
            val n = 3 + rng.nextInt(40)
            Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
          }
        base += ((id, t)); id += 1
      }
      val docs = base.toSeq
      val dir = graft.TempDirs.create(s"d11p$seed").toString
      import spark.implicits._
      docs.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        val got = Registry.queries("d11_prefix_filter_join")(spark, dir)
          .select("doc_a", "doc_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val want = bruteForce(docs)
        assert(got === want,
          s"missing=${want -- got} extra=${got -- want}")
      } finally Memo.release()
    }
  }
}
