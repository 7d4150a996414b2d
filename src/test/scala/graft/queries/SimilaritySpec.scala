package graft.queries

import graft.SparkSpec

/** s02 (IVF-bucketed ANN) is approximate by design — no SQL oracle.
  * Its contract is recall against the exact brute-force baseline s01. */
class SimilaritySpec extends SparkSpec {

  test("LSH ANN recall@5 beats its ~25% scan fraction (isotropic data)") {
    // Testdata embeddings are isotropic random (within-label cosine ≈ 0),
    // so ANN recall is information-bounded: the contract is recall
    // meaningfully above the scanned fraction (B=4,P=4 ⇒ ~25% scanned),
    // not a clustered-data 0.9. Measured 0.34–0.56 across seeds/scales.
    def pairs(name: String): Set[(Long, Long)] =
      Registry.queries(name)(spark, sfDir)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact  = pairs("s01_cosine_topk")
    val approx = pairs("s02_cosine_topk_lsh")
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"recall@5 = $recall%.3f (exact=${exact.size}, approx=${approx.size})")
    assert(recall >= 0.3, f"LSH recall $recall%.3f below 0.3")
  }

  test("LSH ANN returns at most top-5 per query") {
    val byQuery = Registry.queries("s02_cosine_topk_lsh")(spark, sfDir)
      .groupBy("query_id").count().collect()
    assert(byQuery.forall(_.getLong(1) <= 5))
  }

  test("d05 hot label: sub-bucketing splits the block; planted near-dups survive") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // one label holding ALL vectors — the quadratic-straggler shape the
    // (label, tbl, sig) bucketing exists to break up
    val rnd = new scala.util.Random(42)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 100).map(i => (i.toLong, vec()))
    // 10 planted near-dup twins: tiny perturbation → cosine ≈ 0.999
    val twins = (0 until 10).map { i =>
      val (_, v) = base(i)
      (100L + i, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val rows = (base ++ twins).map { case (id, v) => Row(id, v.toSeq, 7) }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val dir = java.nio.file.Files.createTempDirectory("graft-hot").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val out = Registry.queries("d05_embedding_neardup")(spark, dir)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 10).map(i => (i.toLong, 100L + i)).toSet
    assert((planted -- out).isEmpty,
      s"planted near-dups missed: ${(planted -- out).take(3)}")

    // the bound itself: replay the signature and check no (tbl, sig)
    // bucket holds the whole label
    val e = graft.Tables.embeddings(spark, dir)
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val dv = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val sizes = (0 until Similarity.D05_L).flatMap { t =>
      val sig = (0 until Similarity.D05_B).map(j =>
        when(graft.functions.GraftFunctions.dot(col("v"),
          typedlit(Similarity.d05Planes(t)(j))) > 0, lit(1 << j)).otherwise(lit(0)))
        .reduce(_ + _)
      dv.groupBy(sig.as("sig")).count().collect().map(_.getLong(1))
    }
    assert(sizes.max < 110, s"a bucket holds ${sizes.max} of 110 vectors")
  }

  test("d05 N-adaptive dial: nbits tracks corpus size; planted twins survive the dialed sig") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the integer dial itself
    assert(Similarity.d05NBits(500) === 0,   "sf0.01 regime must stay at the r14 bucketing")
    assert(Similarity.d05NBits(2000) === 0,  "sf0.1 regime must stay at the r14 bucketing")
    assert(Similarity.d05NBits(20000) === 3, "sf1 regime should add 3 bits")
    assert(Similarity.d05NBits(Similarity.D05_CELL_CAP) === 0)
    assert(Similarity.d05NBits(Similarity.D05_CELL_CAP + 1) === 1)
    // a corpus past the CAP: one hot label, N=5000 > 4096 ⇒ nbits=1 —
    // the effective (tbl, sig) space doubles and planted near-identical
    // twins still share every dialed bucket (perturbation ≈ 0.999 cos)
    val rnd = new scala.util.Random(43)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 2490).map(i => (i.toLong, vec()))
    val twins = (0 until 10).map { i =>
      val (_, v) = base(i)
      (5000L + i, v.map(x => x + 0.005f * rnd.nextGaussian().toFloat))
    }
    val rows = (base ++ base.map { case (id, v) => (id + 2500L, v.map(x => -x)) }
      ++ twins).map { case (id, v) => Row(id, v.toSeq, 7) }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val dir = java.nio.file.Files.createTempDirectory("graft-dial").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Registry.queries("d05_embedding_neardup")(spark, dir)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 10).map(i => (i.toLong, 5000L + i)).toSet
    assert((planted -- out).isEmpty,
      s"planted near-dups missed under the dialed sig: ${(planted -- out).take(3)}")
  }

  test("IVF ANN (s03) recall@5 vs exact baseline") {
    // s03 scans ~3/10 cells per query; on isotropic testdata recall is
    // bounded near the scanned fraction — assert it is at least that.
    def pairs(name: String): Set[(Long, Long)] =
      Registry.queries(name)(spark, sfDir)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("s01_cosine_topk")
    val ivf = pairs("s03_cosine_topk_ivf")
    val recall = (exact intersect ivf).size.toDouble / exact.size
    info(f"IVF recall@5 = $recall%.3f")
    assert(recall >= 0.25, f"IVF recall $recall%.3f below 0.25")
  }

  test("IVF-PQ ADC (s07) recall@5 vs exact baseline; 5 ranked rows per query") {
    // ADC is doubly approximate (cell probing + quantized distances),
    // and the testdata is ISOTROPIC random — the worst case for PQ
    // (10 centroids per 16-lane subspace barely beat noise; real
    // embedding corpora cluster and quantize far better). Chance
    // recall within the probed cells is ≈ 0.46 · 5/150 ≈ 0.015
    // (s03's exact rerank = 0.46 is the probing ceiling); measured
    // ADC recall is ≈ 0.10 ≈ 7× chance — the quantized signal is
    // real. Floor pinned at 4× chance.
    def pairs(name: String): Set[(Long, Long)] =
      Registry.queries(name)(spark, sfDir)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("s01_cosine_topk")
    val adc = pairs("s07_pq_adc_topk")
    val recall = (exact intersect adc).size.toDouble / exact.size
    info(f"ADC recall@5 = $recall%.3f")
    assert(recall >= 0.06, f"ADC recall $recall%.3f below 0.06 (≈4× chance)")
    val out = Registry.queries("s07_pq_adc_topk")(spark, sfDir).collect()
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to 5), s"query $q ranks")
      val sims = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.sameElements(sims.sorted.reverse),
        s"query $q ADC cosines not descending")
    }
  }

  test("s05 PQ: codes in range, one code per subspace, trained codebook beats K=1") {
    import org.apache.spark.sql.functions._
    val out = Registry.queries("s05_pq_encode")(spark, sfDir)
    val rows = out.collect()
    val emb = graft.Tables.embeddings(spark, sfDir)
    assert(rows.length === emb.count())
    for (r <- rows; i <- 0 to 3) {
      val c = r.getAs[Int](s"c$i")
      assert(c >= 0 && c <= 9, s"code c$i=$c out of label range")
    }
    // mean distortion with the trained K=10 codebook must beat the
    // single-global-centroid (K=1) quantizer — i.e. training did work
    val dv = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val sub = dv.select(col("vec_id"),
        explode(sequence(lit(0), lit(3))).as("m"), col("v"))
      .withColumn("vs", slice(col("v"), col("m") * 16 + 1, lit(16)))
    val gm = sub.groupBy("m")
      .agg(graft.functions.VecSumAgg.vecSum(
        transform(col("vs"), x =>
          x.cast(org.apache.spark.sql.types.DecimalType(28, 6))), 16).as("vsum"),
        count(lit(1)).as("nv"))
      .select(col("m"),
        transform(col("vsum"), x => x.cast("double") / col("nv")).as("cv"))
    val k1 = sub.join(gm, Seq("m"))
      .withColumn("d2", aggregate(
        zip_with(col("vs"), col("cv"), (x, y) => (x - y) * (x - y)),
        lit(0.0d), (acc, x) => acc + x))
      .groupBy("vec_id").agg(sum(col("d2")).as("err"))
      .agg(avg(col("err"))).collect()(0).getDouble(0)
    val pq = rows.map(_.getAs[Double]("recon_err")).sum / rows.length
    info(f"PQ distortion $pq%.4f vs K=1 baseline $k1%.4f")
    assert(pq < k1, f"trained PQ distortion $pq%.4f not below K=1 baseline $k1%.4f")
  }

  test("PQ nearest-code argmin is total: an empty candidate list yields the (MaxValue, MaxValue) sentinel") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val scoredType = ArrayType(StructType(Seq(
      StructField("d2", DoubleType), StructField("c", IntegerType))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(Seq(
          org.apache.spark.sql.Row(2.0, 1), org.apache.spark.sql.Row(0.5, 7),
          org.apache.spark.sql.Row(0.5, 3))),
        org.apache.spark.sql.Row(Seq.empty)),
      StructType(Seq(StructField("scored", scoredType))))
    val best = df.select(Similarity.nearest(col("scored")).as("b"))
      .select(col("b.d2"), col("b.c")).collect()
      .map(r => (r.getDouble(0), r.getInt(1)))
    // ties on d2 break on the smaller code
    assert(best.toSeq === Seq((0.5, 3), (Double.MaxValue, Int.MaxValue)))
  }

  /** Left-to-right JVM dot — the same fold order as the native
    * DotProduct expression, so sign/threshold decisions agree. */
  private def jdot(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0d; var i = 0
    while (i < a.length) { d += a(i) * b(i); i += 1 }
    d
  }

  /** The spec-side twin of d09's sub-bucket signature. */
  private def d09Sig(v: Array[Double], nbits: Int): Long =
    (0 until nbits).map { b =>
      if (jdot(v, Similarity.d09Planes(b).toArray) > 0) 1L << b else 0L
    }.sum

  test("d09 semdedup: keep flags match the brute-force within-cluster recompute") {
    import org.apache.spark.sql.functions._
    val out = Registry.queries("d09_semdedup")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    // recompute naively: within each assigned EFFECTIVE cell —
    // (argmax cell, nbits-bit plane signature) — a doc is removed iff
    // SOME earlier doc in the same effective cell has cosine >= tau
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val nbits = Similarity.d09NBits(e.size.toLong)
    def cos(a: Array[Double], b: Array[Double]): Double =
      jdot(a, b) / (math.sqrt(jdot(a, a)) * math.sqrt(jdot(b, b)))
    val byCell = out.toSeq.groupBy { case (id, (cell, _)) =>
      (cell, d09Sig(e(id), nbits))
    }
    for ((_, members) <- byCell) {
      val ids = members.map(_._1).sorted
      // keep-first discipline: the lowest id in every cell is always kept
      assert(out(ids.head)._2 === 1, s"min id ${ids.head} of cell not kept")
      for (id <- ids) {
        val hasEarlierDup = ids.takeWhile(_ < id)
          .exists(j => math.rint(cos(e(id), e(j)) * 1e6) / 1e6 >= 0.35)
        val expected = if (hasEarlierDup) 0 else 1
        assert(out(id)._2 === expected, s"vec $id keep=${out(id)._2}, expected $expected")
      }
    }
    val removed = out.values.count(_._2 == 0)
    info(s"removed $removed of ${out.size} (nbits=$nbits)")
    assert(removed > 0, "threshold never fired — dedup untested")
  }

  test("d09 cell count scales with N: signatures split a hot cell, pair work stays linear") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // one label holding ALL 600 vectors — without sub-bucketing this is
    // ONE cell and the pair join is 600²/2. At N=600, nbits must rise
    // to 2 (CELL_CAP·2^1 = 512 < 600 ≤ 1024), splitting the cell ~4 ways.
    assert(Similarity.d09NBits(600L) === 2)
    assert(Similarity.d09NBits(50L) === 0)     // tiny corpus: no split
    assert(Similarity.d09NBits(1000000L) === 12) // C doubles as N doubles
    val rnd = new scala.util.Random(23)
    val rows = (0 until 600).map { i =>
      Row(i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat).toSeq, 7)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val dir = java.nio.file.Files.createTempDirectory("graft-d09hot").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // d09 runs end-to-end on the hot corpus
    assert(Registry.queries("d09_semdedup")(spark, dir).count() === 600)
    // the bound: replay the effective-cell key and check the pair work
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val sizes = e.values.toSeq.groupBy(v => d09Sig(v, 2)).map(_._2.size)
    val maxCell = sizes.max
    val pairWork = sizes.map(s => s.toLong * s).sum
    info(s"effective cells=${sizes.size}, max=|${maxCell}|, pair work=$pairWork vs unsplit ${600L * 600}")
    assert(sizes.size === 4, "2 sign bits must yield 4 effective cells")
    assert(maxCell <= 300, s"hot cell not split: $maxCell of 600 in one cell")
    assert(pairWork <= 600L * 600 / 2, "pair work not reduced by the split")
  }

  test("s09 filtered ANN: every neighbor satisfies the metadata predicate") {
    import org.apache.spark.sql.functions.col
    val res = Registry.queries("s09_filtered_ann")(spark, sfDir)
    assert(res.count() > 0)
    // per-query at most 5, never the query itself
    val byQuery = res.groupBy("query_id").count().collect()
    assert(byQuery.forall(_.getLong(1) <= 5))
    assert(res.filter(col("neighbor_id") === col("query_id")).count() === 0)
    // the predicate actually constrains the answer set: every
    // neighbor_id maps to an English document
    val nonEn = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("lang") =!= "en").select(col("doc_id").as("neighbor_id"))
    assert(res.join(nonEn, Seq("neighbor_id")).count() === 0,
      "filtered ANN returned a non-English neighbor")
  }

  test("s10 hybrid RRF: fusion arithmetic is consistent and both legs contribute") {
    val res = Registry.queries("s10_hybrid_rrf")(spark, sfDir).collect()
    assert(res.nonEmpty)
    // rrf recomputes from the emitted leg ranks (null leg = 0)
    res.foreach { r =>
      val vrn = if (r.isNullAt(4)) None else Some(r.getInt(4))
      val lrn = if (r.isNullAt(5)) None else Some(r.getInt(5))
      val expect = BigDecimal(
        vrn.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
          lrn.map(x => 1.0 / (60 + x)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - expect) < 1e-9,
        s"rrf ${r.getDouble(3)} != $expect for row $r")
      assert(vrn.nonEmpty || lrn.nonEmpty, s"candidate with no leg rank: $r")
    }
    // ranked per query: rn is 1..k dense and ordered by rrf desc
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq === (1 to rows.length))
      val scores = sorted.map(_.getDouble(3)).toSeq
      assert(scores === scores.sorted.reverse, "rn order violates rrf desc")
    }
    // the hybrid is genuinely hybrid on the smoke corpus: at least one
    // emitted candidate carries a dense rank and at least one a
    // lexical rank
    assert(res.exists(r => !r.isNullAt(4)), "no dense-leg candidate surfaced")
    assert(res.exists(r => !r.isNullAt(5)), "no lexical-leg candidate surfaced")
  }
}
