package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {

  test("compact merges a fragmented table to measured-size file count, content intact") {
    val base = graft.TempDirs.create("graft_layout").toString
    val fragDir = s"$base/frag"; val outDir = s"$base/compact"
    // fragment: 32 files for a tiny table
    val src = Tables.events(spark, sfDir).drop("ts") // nanos col irrelevant here
    src.repartition(32).write.parquet(fragDir)
    val fragFiles = new java.io.File(fragDir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(fragFiles == 32)

    val total = Layout.dirBytes(spark, fragDir)
    assert(total > 0)
    // target = half the table -> expect exactly 2 files
    val written = Layout.compact(spark, fragDir, outDir, (total + 1) / 2)
    assert(written == 2, s"expected 2 compacted files, wrote $written")

    val before = src.orderBy("event_id").collect()
    val after = spark.read.parquet(outDir).orderBy("event_id").collect()
    assert(before.sameElements(after), "compaction changed table content")
  }

  test("compact refuses in-place overwrite (reads would race deletes)") {
    val dir = graft.TempDirs.create("graft_layout3").toString
    intercept[IllegalArgumentException] {
      Layout.compact(spark, s"$dir/t", s"$dir/t", 1024L)
    }
    // different spellings of the same directory must not slip past
    intercept[IllegalArgumentException] {
      Layout.compact(spark, s"file:$dir/t", s"$dir/t", 1024L)
    }
  }

  test("targetFiles sizing arithmetic") {
    assert(Layout.targetFiles(0L, 128L) == 1)
    assert(Layout.targetFiles(129L, 128L) == 2)
    assert(Layout.targetFiles(128L, 128L) == 1)
  }

  test("zorder layout: both dims prunable per file; linear layout prunes neither") {
    val base = graft.TempDirs.create("graft_layout_z").toString
    val inDir = s"$base/in"; val zDir = s"$base/z"; val linDir = s"$base/lin"
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey").write.parquet(inDir)
    val total = Layout.dirBytes(spark, inDir)
    val target = (total + 7) / 8   // ~8 output files
    val zFiles = Layout.zorder(spark, inDir, zDir, target, "l_partkey", "l_suppkey")
    val linFiles = Layout.compact(spark, inDir, linDir, target)  // round-robin
    assert(zFiles >= 4 && linFiles >= 4, s"need >=4 files, got z=$zFiles lin=$linFiles")

    // per-file (min, max) of both dims — what a stats-pruning reader sees
    def fileStats(dir: String): Seq[(Long, Long, Long, Long)] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .toSeq.map { f =>
          val r = spark.read.parquet(f.getAbsolutePath).agg(
            min(col("l_partkey")).as("a"), max(col("l_partkey")).as("b"),
            min(col("l_suppkey")).as("c"), max(col("l_suppkey")).as("d")).head()
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }
    val zs = fileStats(zDir); val lin = fileStats(linDir)
    val loX = zs.map(_._1).min; val hiX = zs.map(_._2).max
    // probe: a band 1/10th of the partkey domain at 0.6 of the span —
    // INSIDE the upper x-half, clear of the top-bit boundary at 0.5
    // (range-partition cuts cluster there, and a band touching the
    // boundary overlaps files from both halves)
    val bandLo = loX + 6 * (hiX - loX) / 10
    val bandHi = bandLo + (hiX - loX) / 10
    def pruned(st: Seq[(Long, Long, Long, Long)]) =
      st.count { case (mn, mx, _, _) => mx < bandLo || mn > bandHi }
    // round-robin: every file is a uniform sample -> full span -> 0 pruned
    assert(pruned(lin) === 0, s"linear layout unexpectedly pruned ${pruned(lin)}")
    // z-order: contiguous z-ranges are bounded rectangles; files in the
    // lower x-half (plus those in far y-quadrants of the upper half)
    // miss the band entirely. >= 1/4 of files is the structural floor;
    // observed 4/8 at sf0.001
    assert(pruned(zs) * 4 >= zs.size && pruned(zs) > 0,
      s"zorder pruned only ${pruned(zs)}/${zs.size} files for a 1/10-width band")
    // and the SECONDARY dim is also bounded: mean suppkey span well under
    // the global span (a linear suppkey sort gives this; z gives BOTH)
    val spanY = zs.map { case (_, _, c, d) => (d - c).toDouble }
    val globalY = zs.map(_._4).max - zs.map(_._3).min
    assert(spanY.sum / spanY.size <= globalY * 0.75,
      s"zorder files span ${spanY.sum / spanY.size} of $globalY on suppkey")
    // content preserved
    assert(spark.read.parquet(zDir).count() ===
      spark.read.parquet(inDir).count())
  }

  test("bloomIndex: per-row-group blooms exist, answer membership, content intact") {
    import scala.jdk.CollectionConverters._
    val base = graft.TempDirs.create("graft_layout_b").toString
    val inDir = s"$base/in"; val outDir = s"$base/bloom"
    // EVEN orderkeys only: odd keys are in-range (min/max can't prune
    // them) but absent — exactly the case only a bloom can reject
    val src = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_extendedprice")
      .filter(col("l_orderkey") % 2 === 0)
    src.write.parquet(inDir)
    Layout.bloomIndex(spark, inDir, outDir, Long.MaxValue,
      Seq("l_orderkey"), expectedNdv = 4096L)

    // content preserved
    assert(spark.read.parquet(outDir).count() === src.count())

    val files = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val conf = spark.sparkContext.hadoopConfiguration
    val present = src.select("l_orderkey").distinct()
      .orderBy("l_orderkey").limit(20).collect().map(_.getLong(0))
    var bloomSeen = 0; var presentHits = 0; var absentHits = 0; var probes = 0
    for (f <- files) {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        conf, new org.apache.hadoop.fs.Path(f.getAbsolutePath))
      try for (rg <- r.getRowGroups.asScala) {
        val cm = rg.getColumns.asScala
          .find(_.getPath.toDotString == "l_orderkey").get
        val bloom = r.readBloomFilter(cm)
        assert(bloom != null,
          s"row group in ${f.getName} has no bloom filter on l_orderkey")
        bloomSeen += 1
        // no false negatives: every present key hits in SOME row group
        presentHits += present.count(k => bloom.findHash(bloom.hash(k)))
        // absent in-range keys (odd): expect ~1% fpp, assert well under half
        val absent = present.map(_ + 1)
        absentHits += absent.count(k => bloom.findHash(bloom.hash(k)))
        probes += absent.length
      } finally r.close()
    }
    assert(bloomSeen > 0)
    assert(presentHits > 0, "no present key found in any row-group bloom")
    assert(absentHits * 2 < probes,
      s"bloom accepted $absentHits/$probes absent keys — not filtering")
    // end-to-end: the indexed copy answers a point lookup identically
    val k = present.head
    val a = spark.read.parquet(outDir).filter(col("l_orderkey") === k)
      .agg(count(lit(1)), sum("l_partkey")).head()
    val b = src.filter(col("l_orderkey") === k)
      .agg(count(lit(1)), sum("l_partkey")).head()
    assert(a === b)
  }

  test("clusterBy sorts within partitions without an extra shuffle") {
    val base = graft.TempDirs.create("graft_layout2").toString
    val fragDir = s"$base/frag"; val outDir = s"$base/clustered"
    Tables.customer(spark, sfDir).write.parquet(fragDir)
    Layout.compact(spark, fragDir, outDir, Long.MaxValue,
      clusterBy = Seq("c_nationkey"))
    // single output file, sorted by nation key -> values are non-decreasing
    val vals = spark.read.parquet(outDir).select("c_nationkey")
      .collect().map(_.getInt(0))
    assert(vals.nonEmpty && vals.sameElements(vals.sorted),
      "clusterBy did not produce partition-local sorted output")
  }
}
