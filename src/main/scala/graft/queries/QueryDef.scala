package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One named engine capability: a Spark DataFrame pipeline over the
  * testdata tables plus (when SQL-expressible) a DuckDB oracle twin the
  * driver hash-compares against (Verify.scala → CORRECTNESS_r{N}.json).
  *
  * Determinism rules every QueryDef obeys:
  *  - output column names identical between Spark plan and oracle SQL
  *    (the driver sorts columns by name, then hashes values);
  *  - a total ORDER BY over a unique column set in both engines;
  *  - no raw floating aggregates: double SUMs go through DECIMAL so the
  *    result is independent of accumulation order (Spark partial aggs
  *    vs DuckDB's single-node order), then surface as DOUBLE.
  */
/** @param oracleOnly CORRECTNESS-GATE MACHINERY, not a shipping shape:
  *   a Complete-mode finite-replay twin whose only purpose is to give
  *   the DuckDB oracle a batch-equal streaming result to hash against.
  *   Every oracleOnly entry names a graduated Append production form
  *   (st01→st17, st10→st21, st11→st25, st13→st22, st14→st23,
  *   st19→st20) that IS benched. Verify still runs oracleOnly entries
  *   — they are the gate — but Bench excludes them from the headline
  *   artifact by default (SPARK_GRAFT_BENCH_TWINS=only to measure
  *   them separately), so the headline measures shipping shapes. */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    oracleOnly: Boolean = false)

object QueryDef {
  /** Order-independent sum of a 2-dec money double: route through an
    * exact decimal so Spark's partial/final aggregation tree and
    * DuckDB's sequential sum produce the identical value, then cast
    * back to double VIA A STRING. The string hop is load-bearing
    * (caught at sf1): a direct DECIMAL→DOUBLE cast is
    * correctly-rounded in Spark but computed as
    * `(double)unscaled / (double)10^scale` in DuckDB — two IEEE
    * roundings that land one ulp off the nearest double once the sum
    * needs >15 significant digits (first bitten by q02's sum_charge
    * at sf1: …648838 exact → Spark …648834, DuckDB …64884).
    * Decimal→string is exact in both engines and string→double is
    * correctly rounded in both, so the hop pins the conversion to
    * nearest(value) everywhere at any magnitude. */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(18, scale))).cast("string").cast("double")

  /** SQL twin of [[dsum]]. */
  def dsumSql(expr: String, scale: Int = 4): String =
    s"CAST(CAST(sum(CAST($expr AS DECIMAL(18,$scale))) AS STRING) AS DOUBLE)"
}
