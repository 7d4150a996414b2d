package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class BloomSemiSpec extends SparkSpec {
  import spark.implicits._

  // big probe (orders) vs selective build (one nation's customers,
  // ~4% of probe rows match) — the shape the composite exists for
  private def probe = Tables.orders(spark, sfDir)
  private def build = Tables.customer(spark, sfDir)
    .filter(col("c_nationkey") === 3).select(col("c_custkey"))

  private def plainSemi = probe
    .join(build, col("o_custkey") === col("c_custkey"), "left_semi")

  test("composite equals the plain left_semi join exactly") {
    val composite = BloomSemi.semiJoin(probe, col("o_custkey"), build,
        col("c_custkey"), numBits = 1 << 12, k = 3)
      .select("o_orderkey").as[Long].collect().sorted
    val plain = plainSemi.select("o_orderkey").as[Long].collect().sorted
    assert(composite.sameElements(plain))
    assert(plain.nonEmpty)
  }

  test("prefilter passes every true match (no false negatives) and prunes") {
    val bloom = BloomSemi.buildBits(build, col("c_custkey"), 1 << 12, 3)
    val pre = BloomSemi.prefilter(probe, col("o_custkey"), bloom)
      .select("o_orderkey").as[Long].collect().toSet
    val truth = plainSemi.select("o_orderkey").as[Long].collect().toSet
    assert(truth.subsetOf(pre), "bloom prefilter lost a true match")
    val total = probe.count()
    assert(pre.size * 2 < total,
      s"prefilter barely pruned (${pre.size} of $total survived)")
  }

  test("anti composite equals the plain left_anti join exactly (null keys kept)") {
    val probeN = probe.select(
      when(col("o_orderkey") % 97 === 0, lit(null).cast("long"))
        .otherwise(col("o_custkey")).as("k"), col("o_orderkey"))
    val anti = BloomSemi.antiJoin(probeN, col("k"), build, col("c_custkey"),
        numBits = 1 << 12, k = 3)
      .select("o_orderkey").as[Long].collect().sorted
    val plain = probeN.join(build, col("k") === col("c_custkey"), "left_anti")
      .select("o_orderkey").as[Long].collect().sorted
    assert(anti.sameElements(plain))
    // the anti side is the BULK on this shape (~96% genuinely new) —
    // and a null key must behave like the plain anti join: kept
    assert(plain.length * 2 > probe.count())
  }

  test("anti composite: bloom-fail rows bypass the join (pruning actually happens)") {
    // the scale claim: only maybe-duplicates reach the exact anti join.
    // Count rows the prefilter passes — that, not the batch size, is
    // the join's input volume.
    val bloom = BloomSemi.buildBits(build, col("c_custkey"), 1 << 12, 3)
    val joined = BloomSemi.prefilter(probe, col("o_custkey"), bloom).count()
    assert(joined * 2 < probe.count(),
      s"anti composite would shuffle $joined of ${probe.count()} rows")
  }

  test("tiny filter saturates gracefully: all rows pass, result still exact") {
    // 64 bits with hundreds of keys -> bitset ~all ones; the composite
    // must degrade to the plain semi join, never drop rows.
    val composite = BloomSemi.semiJoin(probe, col("o_custkey"), build,
        col("c_custkey"), numBits = 64, k = 2)
      .select("o_orderkey").as[Long].collect().sorted
    val plain = plainSemi.select("o_orderkey").as[Long].collect().sorted
    assert(composite.sameElements(plain))
  }

  test("property: composite == plain semi join for random key sets (incl. saturation)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val keysGen = Gen.choose(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-5L, 40L)))
    val p = Prop.forAll(keysGen, keysGen,
      Gen.oneOf(64, 256, 4096), Gen.choose(1, 4)) { (pk, bk, bits, k) =>
      val probeDf = pk.toDF("pk")
      val buildDf = bk.toDF("bk")
      val composite = BloomSemi.semiJoin(probeDf, col("pk"), buildDf,
          col("bk"), numBits = bits, k = k)
        .as[Long].collect().sorted.toSeq
      val plain = probeDf.join(buildDf, col("pk") === col("bk"), "left_semi")
        .as[Long].collect().sorted.toSeq
      val antiComposite = BloomSemi.antiJoin(probeDf, col("pk"), buildDf,
          col("bk"), numBits = bits, k = k)
        .as[Long].collect().sorted.toSeq
      val antiPlain = probeDf.join(buildDf, col("pk") === col("bk"), "left_anti")
        .as[Long].collect().sorted.toSeq
      composite == plain && antiComposite == antiPlain
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }
}
