package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic pins for d12's maximal-duplicated-span detection beyond the
  * registry smoke + driver oracle: planted passages with known exact
  * boundaries, the any-alignment property t11's chunk grid cannot
  * provide, within-document repeats, the short-doc guard, and a full
  * brute-force recompute on a seeded corpus. */
class SubstringDedupSpec extends SparkSpec {

  private val L = TextOps.GRAM_L

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def run(dir: String): Map[Long, Seq[(Long, Long, Long)]] =
    Registry.queries("d12_substring_dedup")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq.sorted }

  test("a shared passage is found at DIFFERENT alignments with exact boundaries") {
    val dir = graft.TempDirs.create("d12align").toString
    val passage = (0 until 12).map(i => s"p$i")
    // doc 1 carries the passage at token offset 3; doc 2 at offset 7 —
    // deliberately NOT a multiple of t11's 10-token chunk grid.
    val d1 = (0 until 3).map(i => s"a$i") ++ passage ++ (0 until 9).map(i => s"b$i")
    val d2 = (0 until 7).map(i => s"c$i") ++ passage ++ (0 until 5).map(i => s"e$i")
    writeDocs(dir, Seq(1L -> d1.mkString(" "), 2L -> d2.mkString(" ")))
    val spans = run(dir)
    // passage spans 12 tokens; L=8 grams at passage offsets 0..4 cover
    // exactly the passage, nothing more.
    assert(spans(1L) === Seq((3L, 14L, 12L)), s"doc1: ${spans.get(1L)}")
    assert(spans(2L) === Seq((7L, 18L, 12L)), s"doc2: ${spans.get(2L)}")
  }

  test("a repeat WITHIN one document yields two maximal spans") {
    val dir = graft.TempDirs.create("d12self").toString
    val p = (0 until L).map(i => s"p$i")
    val toks = (0 until 10).map(i => s"u$i") ++ p ++
      (0 until 10).map(i => s"v$i") ++ p ++ (0 until 10).map(i => s"w$i")
    writeDocs(dir, Seq(1L -> toks.mkString(" ")))
    val spans = run(dir)
    assert(spans(1L) === Seq((10L, 17L, 8L), (28L, 35L, 8L)), s"${spans.get(1L)}")
  }

  test("documents shorter than the gram length produce no spans") {
    val dir = graft.TempDirs.create("d12short").toString
    val dup = (0 until L).map(i => s"p$i").mkString(" ")
    writeDocs(dir, Seq(
      1L -> (0 until (L - 1)).map(i => s"s$i").mkString(" "), // too short
      2L -> dup, 3L -> dup)) // keeps the result non-empty
    val spans = run(dir)
    assert(!spans.contains(1L))
    assert(spans(2L) === Seq((0L, (L - 1).toLong, L.toLong)))
    assert(spans(3L) === Seq((0L, (L - 1).toLong, L.toLong)))
  }

  test("brute-force recompute on a seeded small-vocab corpus") {
    val dir = graft.TempDirs.create("d12brute").toString
    val rnd = new scala.util.Random(421)
    val vocab = (0 until 12).map(i => s"v$i")
    val base = (0L until 40L).map { id =>
      val n = 10 + rnd.nextInt(30)
      id -> (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).toVector
    }.toMap
    // plant shared passages: splice a random window of doc (2k) into
    // doc (2k+1) at a random offset — overlapping/adjacent plants and
    // within-doc coincidences are all adjudicated by the recompute.
    val docs = (0L until 40L).map { id =>
      val w =
        if (id % 2 == 1 && base(id - 1).length >= L + 4) {
          val src = base(id - 1)
          val plen = L + rnd.nextInt(5)
          val from = rnd.nextInt(src.length - plen + 1)
          val at = rnd.nextInt(base(id).length + 1)
          val (pre, post) = base(id).splitAt(at)
          pre ++ src.slice(from, from + plen) ++ post
        } else base(id)
      id -> w.mkString(" ")
    }
    writeDocs(dir, docs)
    // reference implementation: occurrence-count grams, cover, islands
    val grams = docs.flatMap { case (id, text) =>
      val w = text.split("\\s+")
      (0 to w.length - L).map(i => (id, i, w.slice(i, i + L).mkString(" ")))
    }
    val occ = grams.groupBy(_._3).view.mapValues(_.size).toMap
    val expected = grams.filter(g => occ(g._3) > 1)
      .groupBy(_._1).view.mapValues { hs =>
        val starts = hs.map(_._2).sorted
        val spans = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        var (s0, e0) = (starts.head, starts.head + L - 1)
        for (i <- starts.tail) {
          if (i > e0 + 1) { spans += ((s0.toLong, e0.toLong, (e0 - s0 + 1).toLong)); s0 = i; e0 = i + L - 1 }
          else e0 = math.max(e0, i + L - 1)
        }
        spans += ((s0.toLong, e0.toLong, (e0 - s0 + 1).toLong))
        spans.toSeq.sorted
      }.toMap
    assert(expected.nonEmpty, "seeded corpus must contain duplicated grams")
    val got = run(dir)
    assert(got === expected)
  }
}
