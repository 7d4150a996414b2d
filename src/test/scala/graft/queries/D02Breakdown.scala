package graft.queries

import graft.{Memo, SparkSpec}
import org.apache.spark.sql.functions._

/** Dev-only stage timing for d02 (enable with -DgraftD02=1). */
class D02Breakdown extends SparkSpec {
  if (sys.props.contains("graftD02")) {
    test("d02 stage timings at sf0.1") {
      val d = "/root/testdata/sf0.1"
      def t[A](tag: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        info(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
      }
      Memo.release()
      val sh = Shingles.hashed(spark, d)
      t("hashed table build+count")(sh.count())
      t("hashed table cached count")(sh.count())
      val posting = sh.select(col("doc_id"), col("h60").as("sh"))
        .groupBy("sh")
        .agg(graft.functions.CappedDocsAgg.cappedDocs(col("doc_id"), 20).as("pd"))
        .filter(col("pd.n").between(2, 20))
        .select(array_sort(col("pd.docs")).as("docs"))
      t("posting lists")(posting.count())
      val pairs = posting.select(explode(expr(
          """flatten(transform(docs, (a, i) ->
             transform(slice(docs, i + 2, size(docs)),
                       b -> named_struct('doc_a', a, 'doc_b', b))))""")).as("p"))
        .select(col("p.doc_a"), col("p.doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_common"))
      t("pair expansion+count")(pairs.count())
      val full = Registry.queries("d02_ngram_jaccard")
      t("full d02 (cold posting)")(full(spark, d).count())
      t("full d02 again")(full(spark, d).count())
    }
  }
}
