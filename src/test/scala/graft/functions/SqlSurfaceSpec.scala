package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** The public SQL surface, pinned: the exact `graft_*` names a
  * GraftSession registers, and every Spark built-in the engine calls
  * for sketches in place of its own (a Spark without them must fail
  * here, not at query time). */
class SqlSurfaceSpec extends SparkSpec {

  test("a GraftSession registers exactly the 14 graft_* SQL functions") {
    val names = graftSpark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(names === Set(
      "graft_dot", "graft_sqdist", "graft_text_quality", "graft_cms_estimate",
      "graft_zorder", "graft_rolling_minhash", "graft_topk_min",
      "graft_capped_docs", "graft_minhash_sig", "graft_vec_sum",
      "graft_bloom_bits", "graft_freq_sketch", "graft_freq_merge",
      "graft_freq_bounds"))
  }

  test("every Spark built-in sketch function the engine calls resolves in FunctionRegistry") {
    val used = Seq(
      "kll_sketch_agg_double", "kll_merge_agg_double",
      "kll_sketch_get_quantile_double", "kll_sketch_get_n_double",
      "theta_sketch_agg", "theta_intersection",
      "theta_difference", "theta_sketch_estimate")
    val missing = used.filterNot(n =>
      FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"Spark lacks: ${missing.mkString(", ")}")
  }
}
