package graft.plans

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** The [[StatsStore]] sidecar: ANALYZE round-trips through
  * [[StatsStore.tableStats]], keyed by data fingerprint, and retention
  * ([[StatsStore.vacuum]]) cleans up after overwrites — the store
  * writes one file per table DATA VERSION, so overwriting a table
  * orphans the old fingerprint's file (unreachable by construction,
  * but accumulating forever). Pins:
  *  0. analyzed numbers come back, an overwrite (new part files) makes
  *     the old entry unreachable, and a corrupt or absent file reads
  *     as no statistics rather than an error;
  *  1. vacuum deletes exactly the stale files: the overwritten
  *     version's entry disappears, the live version's survives and
  *     still serves reads;
  *  2. the in-process cache is evicted along with the file (a stale
  *     cached HIT after vacuum would resurrect deleted numbers);
  *  3. non-`.stats` files in the directory are never touched;
  *  4. the Analyze `--vacuum` composition — analyze-then-vacuum over
  *     one corpus — leaves exactly that corpus's fingerprints.
  */
class StatsVacuumSpec extends SparkSpec {

  private def withStoreDir[T](body: String => T): T = {
    val d = graft.TempDirs.create("graft-vacuum-spec").toString
    val prev = spark.conf.getOption(StatsStore.DIR)
    spark.conf.set(StatsStore.DIR, d)
    try body(d)
    finally {
      prev.fold(spark.conf.unset(StatsStore.DIR))(
        spark.conf.set(StatsStore.DIR, _))
      StatsStore.clearLoaded()
    }
  }

  private def writeTable(path: String, n: Int): Unit = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"v$i")).toDF("k", "s")
      .write.mode("overwrite").parquet(path)
  }

  /** the analyzed row count of `fp`'s column `c`, if any. */
  private def rows(fp: Long, c: String): Option[Long] =
    StatsStore.tableStats(fp).flatMap(_._2.get(c)).map(_.n)

  test("analyze round-trips and an overwrite invalidates by fingerprint") {
    withStoreDir { _ =>
      val tbl = graft.TempDirs.create("graft-stats-tbl").toString + "/t"
      writeTable(tbl, 1000)
      val v1 = spark.read.parquet(tbl)
      StatsStore.analyze(v1, Seq("k", "s"), note = "spec seed")
      val fp1 = StatsStore.fingerprintOf(v1).get
      StatsStore.clearLoaded() // read the file, not the write's cache
      val (n, cols) = StatsStore.tableStats(fp1).get
      assert(n === 1000L && cols.keySet === Set("k", "s"))
      assert(cols("k").ndv > 0 && cols("k").nulls.contains(0L) &&
        cols("k").min.contains("0") && cols("k").max.contains("999"),
        s"numeric entry must carry ndv, nulls and bounds: ${cols("k")}")
      assert(cols("s").avgLen.isDefined && cols("s").maxLen.contains(4L),
        s"string entry must carry byte lengths: ${cols("s")}")
      // only a bare file scan has a table identity to key stats by
      intercept[IllegalArgumentException] {
        StatsStore.analyze(v1.filter("k > 10"), Seq("k"))
      }
      // overwrite → new part-file names → new fingerprint → miss: the
      // new data version has no entry until re-analyzed
      writeTable(tbl, 1000)
      val fp2 = StatsStore.fingerprintOf(spark.read.parquet(tbl)).get
      assert(fp2 !== fp1,
        "overwrite must change the data fingerprint (UUID part names)")
      assert(StatsStore.tableStats(fp2).isEmpty,
        "a new data version must not inherit the old version's stats")
    }
  }

  test("corrupt or absent sidecar files read as empty, never as an error") {
    withStoreDir { d =>
      assert(StatsStore.tableStats(12345L).isEmpty)
      Files.write(Paths.get(d, "3039.stats"),
        "not\tvalid stats \u0000 content".getBytes("UTF-8"))
      StatsStore.clearLoaded()
      assert(StatsStore.tableStats(0x3039L).isEmpty,
        "corrupt file must read as empty")
    }
  }

  test("vacuum drops stale data-version files, live entries survive and serve") {
    withStoreDir { d =>
      val tbl = graft.TempDirs.create("graft-vacuum-tbl").toString + "/t"
      writeTable(tbl, 100)
      val v1 = spark.read.parquet(tbl)
      StatsStore.analyze(v1, Seq("k"), note = "v1")
      val fp1 = StatsStore.fingerprintOf(v1).get

      // overwrite ⇒ new part files ⇒ new fingerprint ⇒ second file
      writeTable(tbl, 150)
      val v2 = spark.read.parquet(tbl)
      StatsStore.analyze(v2, Seq("k"), note = "v2")
      val fp2 = StatsStore.fingerprintOf(v2).get
      assert(fp1 !== fp2, "overwrite must produce a new fingerprint")
      val statsFiles = Files.list(Paths.get(d)).toArray.map(_.toString)
        .filter(_.endsWith(".stats"))
      assert(statsFiles.length === 2, statsFiles.mkString(", "))

      val (deleted, failed) = StatsStore.vacuum(Set(fp2))
      assert(deleted === Seq(java.lang.Long.toHexString(fp1) + ".stats"))
      assert(failed.isEmpty)
      // live entry still serves; stale one is gone from disk AND cache
      assert(rows(fp2, "k") === Some(150L))
      assert(rows(fp1, "k").isEmpty)
      val remaining = Files.list(Paths.get(d)).toArray.map(_.toString)
        .filter(_.endsWith(".stats"))
      assert(remaining.length === 1)
    }
  }

  test("vacuum leaves non-.stats files alone and is idempotent") {
    withStoreDir { d =>
      val tbl = graft.TempDirs.create("graft-vacuum-tbl2").toString + "/t"
      writeTable(tbl, 10)
      val v = spark.read.parquet(tbl)
      StatsStore.analyze(v, Seq("k"))
      val fp = StatsStore.fingerprintOf(v).get
      val bystander = Paths.get(d, "README.txt")
      Files.write(bystander, "not a stats file".getBytes("UTF-8"))

      assert(StatsStore.vacuum(Set(fp)) === ((Seq.empty, Seq.empty))) // nothing stale
      assert(StatsStore.vacuum(Set(fp)) === ((Seq.empty, Seq.empty))) // idempotent
      assert(Files.exists(bystander), "vacuum must not touch foreign files")
      assert(rows(fp, "k") === Some(10L))

      // emptied retention set ⇒ everything .stats goes, bystander stays
      val (all, failedAll) = StatsStore.vacuum(Set.empty)
      assert(all.size === 1 && failedAll.isEmpty)
      assert(Files.exists(bystander))
      assert(rows(fp, "k").isEmpty)
    }
  }

  test("fingerprintOf: single-scan plans only") {
    withStoreDir { _ =>
      val tbl = graft.TempDirs.create("graft-vacuum-tbl3").toString + "/t"
      writeTable(tbl, 5)
      val v = spark.read.parquet(tbl)
      assert(StatsStore.fingerprintOf(v).isDefined)
      // a two-scan plan has no single table identity
      assert(StatsStore.fingerprintOf(v.union(v)).isEmpty)
      // a non-file plan has none either
      import spark.implicits._
      assert(StatsStore.fingerprintOf(Seq(1, 2).toDF("x")).isEmpty)
    }
  }
}
