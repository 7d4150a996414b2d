package graft.plans

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{approx_count_distinct, avg, count, length, lit, max, struct}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType

/** PERSISTED TABLE STATISTICS — the catalog-side half of the
  * cost-based optimizer surface ([[graft.queries.Scalars.q69]] is the
  * query-side ANALYZE pass; this is where its numbers live so the
  * OPTIMIZER can read them without running a job).
  *
  * The contract is Postgres's (SURVEY §4.1): statistics are WRITTEN by
  * ANALYZE alone — [[analyze]], which `graft.Analyze` calls — and only
  * READ while planning. The optimizer never writes here; a live
  * measurement it has to take (the eager-aggregation gate's fallback
  * probe) stays in that rule's in-process cache.
  *
  * Two consumers read the store: the eager-aggregation rule's cost
  * gate ([[PushPartialAggThroughUniqueJoin]]) needs rows/NDV over the
  * fact side's partial keys — measuring that live is a full
  * key-column scan INSIDE logical optimization, which at 100 TB blocks
  * the first query on each data version; and [[AttachSidecarStats]]
  * (a preCBO rule) folds the sidecar's (rows, NDV, nulls,
  * avgLen/maxLen, numeric min/max) into `CatalogStatistics` on every
  * pure file scan, so join reordering, broadcast-vs-SMJ selection and
  * filter-cardinality estimation read the same ANALYZE. To make the
  * size estimates honest on text-heavy tables (Spark's default string
  * width is 20 bytes — the `documents.text` column averages ~1 KB),
  * single-column entries also carry nullCount and, for strings,
  * measured avg/max byte lengths.
  *
  * Store layout: one plain-text file per table data version under
  * `spark.graft.stats.dir` (default `<user.dir>/graft-stats`), named
  * by the table's data fingerprint ([[relationFingerprint]]:
  * part-file names + total size), so overwriting a table produces a
  * NEW file and stale statistics are unreachable by construction (the
  * lock-free invalidation [[graft.sources.Versioned]] uses for
  * snapshots). Format per line: `colA,colB<TAB>rows<TAB>ndv` for
  * composite sets; single columns may carry three more fields
  * `<TAB>nulls<TAB>avgLen<TAB>maxLen` and, for numeric columns, two
  * further bound fields `<TAB>min<TAB>max` (each `-` when
  * unmeasured). Sorted column names; (rows, ndv) come from ONE
  * canonical measurement form (`count(1)` +
  * `approx_count_distinct(struct(sortedCols))`, default rsd) shared
  * with the rule's live probe, so the stored number and a fresh
  * measurement are the SAME number and the fire decision cannot
  * depend on which path served it. Raw statistics only — no
  * thresholds.
  *
  * Concurrency: a JVM-level lock serializes read-modify-write per
  * process; cross-process races are benign (atomic temp-file rename,
  * last writer wins, and both writers hold identical deterministic
  * values for the same fingerprint). Corrupt/absent files read as
  * empty — statistics are an optimization, never a correctness input:
  * a miss just means the caller falls back to measuring.
  */
object StatsStore {

  val DIR = "spark.graft.stats.dir"

  /** One column set's persisted statistics. `n`/`ndv` are the
    * canonical pair every consumer agrees on; the optional fields are
    * per-single-column extras ANALYZE measures for the CBO surface
    * (never consulted by the eager-agg gate). `min`/`max` are the
    * external string forms of numeric column bounds — what
    * FilterEstimation needs to price RANGE predicates (without them a
    * `BETWEEN` falls to default selectivity however selective it
    * really is). */
  final case class ColStat(n: Long, ndv: Long,
      nulls: Option[Long] = None, avgLen: Option[Long] = None,
      maxLen: Option[Long] = None,
      min: Option[String] = None, max: Option[String] = None)

  /** resolved store directory. */
  private def dir(): Path = {
    val raw = scala.util.Try(SQLConf.get.getConfString(DIR, "")).getOrElse("")
    Paths.get(if (raw.nonEmpty) raw
      else System.getProperty("user.dir", ".") + "/graft-stats")
  }

  /** fingerprint of one file-scan leaf: part-file names are
    * write-unique (UUID-suffixed) so any overwrite of the path changes
    * the fingerprint. Also the file-leaf term of the eager-agg rule's
    * probe-cache key. */
  def relationFingerprint(rel: HadoopFsRelation): Long =
    scala.util.hashing.MurmurHash3
      .orderedHash(rel.location.inputFiles.toSeq)
      .toLong ^ (rel.sizeInBytes * 1000003L)

  /** Trace `keys` through row-preserving, key-preserving nodes down to
    * a single file-scan leaf: Project entries that are bare attributes
    * or aliases of bare attributes, and SubqueryAlias. Anything that
    * can change the row count (Filter, Join, Aggregate, Sample, …) or
    * compute the key (Alias over an expression) makes table-level
    * statistics inapplicable — return None and let the caller measure
    * the sub-plan live. IsNotNull-only filters pass through (see
    * [[baseNames]]) but are REPORTED via the third tuple element: a
    * filtered trace may READ stored statistics as an estimate, but
    * [[analyze]] refuses it — the filtered row count is deflated by
    * the dropped null-key group and is not a table statistic.
    * Returns the leaf, (base-column name → original key attribute)
    * pairs SORTED by base name (NDV of a column SET is order-free, the
    * sorted order is the store's canonical key, and callers measuring
    * live must project the paired attributes in exactly this order so
    * the HLL struct hashes identically on both paths), and the
    * saw-a-filter flag. */
  def traceToScan(plan: LogicalPlan, keys: Seq[Attribute])
      : Option[(HadoopFsRelation, Seq[(String, Attribute)], Boolean)] =
    baseNames(plan, keys).map { case (fs, names, filtered) =>
      (fs, names.zip(keys).sortBy(_._1), filtered)
    }

  /** keys' base-column names in KEY order, or None if any node between
    * `plan` and its single file leaf is not stats-transparent. */
  private def baseNames(plan: LogicalPlan, keys: Seq[Attribute])
      : Option[(HadoopFsRelation, Seq[String], Boolean)] = plan match {
    // IsNotNull-only filters are the shape the optimizer itself puts
    // above every inner-join input (null keys can't match): they drop
    // only the null-key group, which the reduction estimate can absorb
    // — table stats remain a valid ESTIMATE for the profitability
    // threshold (and exact on null-free keys). Any other predicate
    // changes the row population and bails to the live probe.
    case Filter(cond, child) if isNotNullOnly(cond) =>
      baseNames(child, keys).map { case (fs, ns, _) => (fs, ns, true) }
    case Project(list, child) =>
      val mapped = keys.map { k =>
        list.find(_.exprId == k.exprId).flatMap {
          case a: Attribute => Some(a)
          case Alias(a: Attribute, _) => Some(a)
          case _ => None
        }
      }
      if (mapped.exists(_.isEmpty)) None
      else baseNames(child, mapped.flatten)
    case s: SubqueryAlias => baseNames(s.child, keys)
    case l: LogicalRelation =>
      l.relation match {
        case fs: HadoopFsRelation =>
          val names = keys.map(k => l.output.find(_.exprId == k.exprId))
          if (names.exists(_.isEmpty)) None
          else Some((fs, names.flatten.map(_.name), false))
        case _ => None
      }
    case _ => None
  }

  private def isNotNullOnly(
      cond: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    cond match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        isNotNullOnly(l) && isNotNullOnly(r)
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(_: Attribute) =>
        true
      case _ => false
    }

  // per-process cache of loaded store files, stamped with the sidecar
  // file's (size, mtime) at load so a MISS is re-validated against the
  // disk state on every lookup: an ANALYZE run by a separate process
  // (the graft.Analyze CLI) becomes visible the moment its atomic
  // rename lands, instead of being pinned invisible behind a
  // process-lifetime empty entry. Fingerprints
  // change with the data, so HIT entries never go stale; the cache
  // only grows (bounded by the distinct data versions one JVM touches).
  private val loaded = new java.util.concurrent.ConcurrentHashMap[
    Long, (Long, Map[String, ColStat])]()
  private val ioLock = new Object

  private def file(d: Path, fp: Long): Path =
    d.resolve(java.lang.Long.toHexString(fp) + ".stats")

  /** cheap freshness stamp: (size, mtime-millis) folded to one long;
    * 0 for an absent file. Reading metadata is a ns–µs stat call —
    * paid only on cache misses, never a Spark job. */
  private def stamp(p: Path): Long =
    scala.util.Try {
      if (!Files.isRegularFile(p)) 0L
      else Files.size(p) * 1000003L ^ Files.getLastModifiedTime(p).toMillis
    }.getOrElse(0L)

  private def parseLong(s: String): Option[Long] =
    if (s == "-") None else scala.util.Try(s.toLong).toOption

  private def readFile(p: Path): Map[String, ColStat] =
    if (!Files.isRegularFile(p)) Map.empty
    else scala.util.Try {
      Files.readAllLines(p, StandardCharsets.UTF_8).asScala
        .filterNot(l => l.startsWith("#") || l.isEmpty)
        .flatMap { l =>
          def str(s: String): Option[String] = if (s == "-") None else Some(s)
          l.split('\t') match {
            case Array(cols, n, ndv) =>
              scala.util.Try(cols -> ColStat(n.toLong, ndv.toLong)).toOption
            case Array(cols, n, ndv, nulls, avgLen, maxLen) =>
              scala.util.Try(cols -> ColStat(n.toLong, ndv.toLong,
                parseLong(nulls), parseLong(avgLen), parseLong(maxLen)))
                .toOption
            case Array(cols, n, ndv, nulls, avgLen, maxLen, mn, mx) =>
              scala.util.Try(cols -> ColStat(n.toLong, ndv.toLong,
                parseLong(nulls), parseLong(avgLen), parseLong(maxLen),
                str(mn), str(mx))).toOption
            case _ => None
          }
        }.toMap
    }.getOrElse(Map.empty)

  /** the fingerprint's full entry map, served from the stamped cache;
    * a cached MISS for `key` re-checks the sidecar file's stamp and
    * reloads if another process wrote it since. */
  private def entries(fp: Long, missKey: Option[String]): Map[String, ColStat] = {
    val p = file(dir(), fp)
    val cached = loaded.get(fp)
    val cachedHit = cached != null && (missKey match {
      case Some(k) => cached._2.contains(k)
      case None => cached._2.nonEmpty
    })
    if (cachedHit) return cached._2
    val s = stamp(p)
    if (cached != null && cached._1 == s) return cached._2
    val fromDisk = readFile(p)
    loaded.put(fp, (s, fromDisk))
    fromDisk
  }

  /** stored (rows, ndv) for a column set of the fingerprinted table,
    * or None if never analyzed. `cols` must be the sorted base-column
    * names from [[traceToScan]]. */
  def lookup(fp: Long, cols: Seq[String]): Option[(Long, Long)] = {
    val key = cols.mkString(",")
    entries(fp, Some(key)).get(key).map(c => (c.n, c.ndv))
  }

  /** The CBO surface ([[AttachSidecarStats]]): the table's row count
    * plus every SINGLE-column entry, or None when the fingerprint has
    * never been analyzed. Row count = max `n` across entries (every
    * entry of one data version measured the same table, so they agree;
    * max is the safe fold if a partial file ever mixes sources). */
  def tableStats(fp: Long): Option[(Long, Map[String, ColStat])] = {
    val m = entries(fp, None)
    if (m.isEmpty) None
    else Some((m.valuesIterator.map(_.n).max,
      m.collect { case (k, v) if !k.contains(',') => k -> v }))
  }

  /** persist one ANALYZE pass's entries for a fingerprint
    * (read-modify-write + atomic rename): entries for column sets not
    * in `stats` survive. `note` lands as a comment line for humans
    * diffing the sidecar. */
  private def write(fp: Long, stats: Map[String, ColStat],
      note: String): Unit = ioLock.synchronized {
    val d = dir()
    val p = file(d, fp)
    val merged = readFile(p) ++ stats
    scala.util.Try {
      Files.createDirectories(d)
      val header =
        s"# graft table statistics v1 fingerprint=${java.lang.Long.toHexString(fp)}" +
          (if (note.nonEmpty) s"\n# $note" else "")
      def f(o: Option[Long]): String = o.fold("-")(_.toString)
      def g(o: Option[String]): String = o.getOrElse("-")
      val body = merged.toSeq.sortBy(_._1)
        .map { case (k, c) =>
          if (c.nulls.isEmpty && c.avgLen.isEmpty && c.maxLen.isEmpty &&
              c.min.isEmpty && c.max.isEmpty)
            s"$k\t${c.n}\t${c.ndv}"
          else if (c.min.isEmpty && c.max.isEmpty)
            s"$k\t${c.n}\t${c.ndv}\t${f(c.nulls)}\t${f(c.avgLen)}\t${f(c.maxLen)}"
          else s"$k\t${c.n}\t${c.ndv}\t${f(c.nulls)}\t${f(c.avgLen)}\t${f(c.maxLen)}\t${g(c.min)}\t${g(c.max)}"
        }
        .mkString("\n")
      val tmp = Files.createTempFile(d, ".stats", ".tmp")
      Files.write(tmp, (header + "\n" + body + "\n").getBytes("UTF-8"))
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      loaded.put(fp, (stamp(p), merged))
    }
    ()
  }

  /** test hook: drop the in-process view of the store (disk is left
    * alone — delete files there to simulate an un-analyzed table). */
  private[graft] def clearLoaded(): Unit = loaded.clear()

  /** The fingerprint a DataFrame's single file-scan leaf would be
    * stored under — None when the plan has no (or several) file
    * scans. The vacuum's bridge from "table I still read" to "sidecar
    * file to keep". */
  def fingerprintOf(df: DataFrame): Option[Long] = {
    val fps = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some(relationFingerprint(fs))
        case _ => None
      }
    }.flatten
    if (fps.size == 1) Some(fps.head) else None
  }

  /** SIDECAR RETENTION: the store writes one file per table DATA
    * VERSION, and overwriting a table makes its old fingerprint
    * unreachable by construction — correct, but the dead file stays
    * on disk forever. vacuum() deletes every `.stats`
    * file whose fingerprint is NOT in `live` (the fingerprints of the
    * data versions the caller still reads — see
    * [[graft.Analyze]] `--vacuum`) and evicts those entries from the
    * in-process cache. Returns (deleted, failed) file names.
    *
    * Safe by the store's own contract: statistics are an
    * optimization, never a correctness input — a wrongly-deleted
    * entry costs a future measurement, not a wrong answer. Runs under
    * the same ioLock as writes, so a concurrent in-process ANALYZE
    * can't interleave; a cross-process ANALYZE racing the vacuum
    * re-creates its file (atomic rename, last writer wins — the
    * store's cross-process posture).
    *
    * A delete that throws (permissions, file held open) lands in
    * `failed` and keeps its cache entry — reporting it as deleted
    * would tell the operator retention succeeded while the stale file
    * survives every subsequent run identically. */
  def vacuum(live: Set[Long]): (Seq[String], Seq[String]) = {
    val d = dir()
    val results = ioLock.synchronized {
      if (!Files.isDirectory(d)) Seq.empty
      else {
        val keep = live.map(fp => java.lang.Long.toHexString(fp) + ".stats")
        val listing = Files.list(d)
        val stale =
          try {
            listing.iterator().asScala
              .filter { p =>
                val n = p.getFileName.toString
                n.endsWith(".stats") && !keep.contains(n)
              }
              .toVector // materialize before mutating the directory
          } finally listing.close()
        stale.map { p =>
          val name = p.getFileName.toString
          val ok = scala.util.Try { Files.delete(p); true }.getOrElse(false)
          if (ok)
            scala.util.Try(java.lang.Long.parseUnsignedLong(
              name.stripSuffix(".stats"), 16)).toOption.foreach(loaded.remove)
          (name, ok)
        }
      }
    }
    (results.collect { case (n, true) => n },
      results.collect { case (n, false) => n })
  }

  /** THE CANONICAL MEASUREMENT FORM — exact row count plus HLL NDV of
    * the sorted-column struct in one map-only pass. Both aggregates
    * are order-insensitive, so the result is reproducible and
    * layout-independent (any bounded prefix is
    * either racy or biased by up to the group factor on unclustered
    * layouts). The rule's live probe and [[analyze]] both call this,
    * so a stored number and a fresh measurement can never disagree. */
  def measure(df: DataFrame, sortedCols: Seq[String]): (Long, Long) = {
    val row = df
      .select(sortedCols.map(df(_)): _*)
      .agg(count(lit(1)).as("n"),
        approx_count_distinct(struct(sortedCols.map(df(_)): _*)).as("ndv"))
      .head()
    (row.getLong(0), row.getLong(1))
  }

  /** ANALYZE surface: measure + persist the given column sets of a
    * table in ONE map-only pass (exact row count + one HLL per set in
    * a single aggregate — HLL register-max is order-insensitive, so
    * the batched values are bit-identical to per-set [[measure]]
    * runs). Single-column sets additionally record nullCount and, for
    * string columns, avg/max byte lengths — the fields
    * [[AttachSidecarStats]] needs for honest size estimates on
    * text-heavy tables. `df` must be a pure unfiltered scan
    * (optionally projected/aliased — the measurement is built from the
    * traced base attributes, so renames are transparent); anything
    * else has no table identity to key statistics by and throws. */
  def analyze(df: DataFrame,
      colSets: Seq[Seq[String]], note: String = ""): Unit = {
    if (colSets.isEmpty) return
    val plan = df.queryExecution.analyzed
    val resolved = colSets.map { cols =>
      val attrs = cols.map(c => plan.output.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"analyze column $c not found in ${plan.output.map(_.name)}")))
      traceToScan(plan, attrs) match {
        case Some((_, _, true)) => throw new IllegalArgumentException(
          "analyze requires an UNFILTERED scan (a filtered row count is " +
            "not a table statistic); got:\n" + plan)
        case Some((fs, paired, false)) => (fs, paired)
        case None => throw new IllegalArgumentException(
          "analyze requires a pure file-scan plan; got:\n" + plan)
      }
    }
    require(resolved.map(_._1).distinct.size == 1,
      "analyze column sets must all resolve to one table")
    // measure over the traced BASE columns (alias-proof):
    // project each original plan attribute back out under its base
    // name, so `select($"a".as("x"))` analyzes column `a`
    val baseAttrs = resolved.flatMap(_._2).distinctBy(_._1)
    val spark = df.sparkSession
    val mdf = org.apache.spark.sql.classic.GraftPlanBridge.ofRows(spark,
      Project(baseAttrs.map { case (base, attr) => Alias(attr, base)() },
        plan))
    val strings = baseAttrs.collect {
      case (base, attr) if attr.dataType == StringType => base }.toSet
    // numeric singles also record min/max — FilterEstimation's range-
    // selectivity inputs (a BETWEEN/inequality without bounds falls to
    // default selectivity however selective it really is)
    val numerics = baseAttrs.collect {
      case (base, attr)
        if attr.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        base }.toSet
    val singles = baseAttrs.map(_._1).filter(b =>
      resolved.exists { case (_, paired) =>
        paired.size == 1 && paired.head._1 == b })
    val aggs = (count(lit(1)).as("__n") +:
      resolved.zipWithIndex.map { case ((_, paired), i) =>
        approx_count_distinct(
          struct(paired.map { case (name, _) => mdf(name) }: _*))
          .as(s"__ndv_$i")
      }) ++
      singles.flatMap { b =>
        count(mdf(b)).as(s"__nn_$b") +:
          ((if (strings(b))
            Seq(avg(length(mdf(b))).as(s"__avg_$b"),
              max(length(mdf(b))).as(s"__max_$b"))
          else Nil) ++
          (if (numerics(b))
            Seq(org.apache.spark.sql.functions.min(mdf(b)).as(s"__lo_$b"),
              max(mdf(b)).as(s"__hi_$b"))
          else Nil))
      }
    val row = mdf.agg(aggs.head, aggs.tail: _*).head()
    def l(name: String): Option[Long] =
      if (row.isNullAt(row.fieldIndex(name))) None
      else row.schema(name).dataType match {
        case org.apache.spark.sql.types.DoubleType =>
          Some(math.ceil(row.getDouble(row.fieldIndex(name))).toLong)
        case org.apache.spark.sql.types.IntegerType =>
          Some(row.getInt(row.fieldIndex(name)).toLong)
        case _ => Some(row.getLong(row.fieldIndex(name)))
      }
    val n = row.getLong(0)
    val stats = resolved.zipWithIndex.map { case ((_, paired), i) =>
      val key = paired.map(_._1).mkString(",")
      val ndv = row.getLong(i + 1)
      if (paired.size == 1) {
        val b = paired.head._1
        def ext(name: String): Option[String] = {
          val i = row.fieldIndex(name)
          if (row.isNullAt(i)) None else Some(row.get(i).toString)
        }
        key -> ColStat(n, ndv,
          nulls = l(s"__nn_$b").map(nn => n - nn),
          avgLen = if (strings(b)) l(s"__avg_$b") else None,
          maxLen = if (strings(b)) l(s"__max_$b") else None,
          min = if (numerics(b)) ext(s"__lo_$b") else None,
          max = if (numerics(b)) ext(s"__hi_$b") else None)
      } else key -> ColStat(n, ndv)
    }
    write(relationFingerprint(resolved.head._1), stats.toMap, note)
  }
}
