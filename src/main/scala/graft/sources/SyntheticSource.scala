package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A full DataSource V2 connector (the extension class the engine's
  * other sources don't exercise — they are built-in readers): a
  * deterministic synthetic table `(id, bucket, value)` generated from
  * pure arithmetic over a row range, split into `slices` parallel
  * input partitions.
  *
  * The point is the CONNECTOR surface, end to end:
  *  - [[SupportsPushDownFilters]]: `id` range predicates are consumed
  *    by the source — generation itself narrows to [lo, hi), rows
  *    outside are never materialized (the DSv2 analog of parquet
  *    row-group pruning; at 100 TB this is the difference between a
  *    source that scans-then-drops and one that never reads). Accepted
  *    filters are NOT returned to Spark, so no redundant post-scan
  *    Filter re-evaluates them; anything else is returned for Spark to
  *    apply.
  *  - [[SupportsPushDownRequiredColumns]]: the reader materializes
  *    exactly the pruned schema — a projection of 1 column generates
  *    1 value per row.
  *  - Parallelism is declared via input partitions (contiguous id
  *    slices), so the scan scales out like any file source.
  *  - [[SupportsRuntimeFiltering]]: the DSv2 dynamic-partition-pruning
  *    hook — when this table joins a filtered dimension on `id`,
  *    Spark collects the build side's keys at RUNTIME (from the
  *    reused broadcast) and hands them to [[SyntheticScan.filter]];
  *    the scan re-plans to generate ONLY the surviving ids. At 100 TB
  *    this is the star-join saver: the fact scan is pruned by the
  *    dimension predicate no static optimizer could see.
  *
  * Because generation is pure arithmetic, a query over this source is
  * ORACLE-CHECKABLE: DuckDB replays the identical rows from
  * `range(lo, hi)` (see q58) — giving the connector a full external
  * hash gate, not just specs.
  *
  * Usage: `spark.read.format("graft.sources.SyntheticSource")
  *   .option("rows", n).option("slices", p).load()`.
  */
class SyntheticSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SyntheticSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SyntheticTable(
      Option(properties.get("rows")).map(_.toLong).getOrElse(1000L),
      Option(properties.get("slices")).map(_.toInt).getOrElse(8))
}

object SyntheticSource {
  /** bucket = (id·2654435761) mod 97 (Knuth multiplicative hash —
    * products stay < 2^63 for id < ~3.5e9, identical in any BIGINT
    * engine); value = (id mod 1000)/10.0 (one IEEE divide, identical
    * everywhere). */
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  private[sources] def bucketOf(id: Long): Int = ((id * 2654435761L) % 97L).toInt
  private[sources] def valueOf(id: Long): Double = (id % 1000L) / 10.0
}

private[sources] class SyntheticTable(rows: Long, slices: Int)
    extends Table with SupportsRead {
  override def name(): String = s"graft_synthetic($rows)"
  override def schema(): StructType = SyntheticSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SyntheticScanBuilder(rows, slices)
}

private[sources] class SyntheticScanBuilder(rows: Long, slices: Int)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit {
  private var required: StructType = SyntheticSource.schema
  private var lo = 0L
  private var hi = rows
  private var accepted = Array.empty[Filter]

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (acc, rejected) = filters.partition {
      case GreaterThanOrEqual("id", _: java.lang.Long) => true
      case GreaterThan("id", _: java.lang.Long) => true
      case LessThan("id", _: java.lang.Long) => true
      case LessThanOrEqual("id", _: java.lang.Long) => true
      case _ => false
    }
    acc.foreach {
      case GreaterThanOrEqual("id", v: java.lang.Long) => lo = math.max(lo, v)
      case GreaterThan("id", v: java.lang.Long) =>
        lo = if (v == Long.MaxValue) Long.MaxValue else math.max(lo, v + 1L)
      case LessThan("id", v: java.lang.Long) => hi = math.min(hi, v)
      case LessThanOrEqual("id", v: java.lang.Long) =>
        if (v != Long.MaxValue) hi = math.min(hi, v + 1L) // else: no-op bound
      case _ => ()
    }
    accepted = acc
    rejected // Spark re-applies ONLY these
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** LIMIT pushdown (runs AFTER filter pushdown in V2ScanRelationPushDown,
    * so clamping the top of the already-narrowed range is exact):
    * `.limit(k)` generates exactly k rows instead of generating
    * everything and discarding — returning true tells Spark the source
    * honored it fully. */
  override def pushLimit(limit: Int): Boolean = {
    // lo + limit may exceed Long.MaxValue when the pushed-down lower
    // bound sits near the top of the id space — clamp, same as the
    // GreaterThan/LessThanOrEqual bounds above, instead of wrapping
    // negative and silently emptying the scan.
    hi = math.min(hi, if (lo > Long.MaxValue - limit) Long.MaxValue else lo + limit)
    true
  }
  override def build(): Scan = new SyntheticScan(lo, hi, slices, required)
}

private[sources] class SyntheticScan(lo: Long, hi: Long, slices: Int,
    required: StructType) extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering {
  /** Runtime-pruned id set (DPP): None = full range. Set by
    * [[filter]] before Spark re-plans input partitions. */
  private var runtimeIds: Option[Array[Long]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("id"))

  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case org.apache.spark.sql.sources.In("id", vs) =>
      val ids = vs.iterator.collect {
        case l: java.lang.Long => l.longValue
        case i: java.lang.Integer => i.longValue
      }.filter(id => id >= lo && id < hi).toArray.distinct.sorted
      // intersect with any earlier runtime filter (conjunction)
      runtimeIds = Some(runtimeIds.fold(ids)(prev => prev.intersect(ids)))
    case _ => () // unsupported runtime filter shapes: keep full range
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  /** Post-pushdown statistics: row count is EXACT (the range is the
    * generator), size ≈ 24 bytes/row. This is what lets Catalyst make
    * size-based decisions — a filtered slice of this source can
    * auto-broadcast into a join, where a stats-less source (like any
    * RDD-backed relation) would pessimistically plan a shuffle. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val n = math.max(0L, hi - lo)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(n * 24L)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(n)
  }
  override def description(): String =
    s"graft-synthetic range=[$lo,$hi) cols=${required.fieldNames.mkString(",")}" +
      runtimeIds.fold("")(ids => s" runtimeIds=${ids.length}")
  override def planInputPartitions(): Array[InputPartition] = runtimeIds match {
    case Some(ids) =>
      // runtime-pruned plan: slice the surviving id LIST, not the
      // range — k matched keys cost k generated rows total
      if (ids.isEmpty) Array.empty
      else {
        val n = math.max(1, slices)
        ids.grouped(math.max(1, (ids.length + n - 1) / n))
          .map(SyntheticIdList(_): InputPartition).toArray
      }
    case None =>
      // slice boundaries in BigInt: `(span + n - 1)` and
      // `lo + (i + 1) * step` both wrap for ranges near Long.MaxValue,
      // collapsing step to 1 (8 one-row slices for a 9.2e18-row table)
      // or silently discarding the last slice. Plan-time only — n is
      // the slice count, so the cost is a handful of BigInt ops.
      val n = math.max(1, slices)
      val bLo = BigInt(lo)
      val span = (BigInt(hi) - bLo).max(0)
      val step = ((span + n - 1) / n).max(1)
      (0 until n).iterator
        .map { i => (bLo + step * i, (bLo + step * (i + 1)).min(BigInt(hi))) }
        .filter { case (s, e) => s < e }
        .map { case (s, e) => SyntheticSlice(s.toLong, e.toLong): InputPartition }
        .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new SyntheticReaderFactory(required.fieldNames)
}

private[sources] case class SyntheticSlice(start: Long, end: Long)
    extends InputPartition

/** Runtime-filter partition: an explicit list of surviving ids. */
private[sources] case class SyntheticIdList(ids: Array[Long])
    extends InputPartition

private[sources] class SyntheticReaderFactory(fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    // field-name dispatch resolved ONCE per partition, not per row —
    // the per-row loop is generator calls into a reused value array
    val gens: Array[Long => Any] = fields.map {
      case "id" => (id: Long) => id
      case "bucket" => (id: Long) => SyntheticSource.bucketOf(id)
      case "value" => (id: Long) => SyntheticSource.valueOf(id)
    }
    val idAt: (Long => Long, Long) = p match {
      case SyntheticSlice(start, end) => ((i: Long) => start + i, end - start)
      case SyntheticIdList(ids) => ((i: Long) => ids(i.toInt), ids.length.toLong)
    }
    new PartitionReader[InternalRow] {
      private var cur = -1L
      private val values = new Array[Any](gens.length)
      // single reused row (the scan exec unsafe-projects each row
      // before anything downstream can buffer it — the same contract
      // every built-in row-based reader relies on)
      private val row =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
      override def next(): Boolean = { cur += 1; cur < idAt._2 }
      override def get(): InternalRow = {
        val id = idAt._1(cur)
        var i = 0
        while (i < gens.length) { values(i) = gens(i)(id); i += 1 }
        row
      }
      override def close(): Unit = ()
    }
  }
}
