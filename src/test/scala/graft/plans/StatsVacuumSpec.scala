package graft.plans

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Sidecar retention ([[StatsStore.vacuum]], round-11 verdict #4):
  * the store writes one file per table DATA VERSION — overwriting a
  * table orphans the old fingerprint's file (unreachable by
  * construction, but accumulating forever). Pins:
  *  1. vacuum deletes exactly the stale files: the overwritten
  *     version's entry disappears, the live version's survives and
  *     still serves lookups;
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

  test("vacuum drops stale data-version files, live entries survive and serve") {
    withStoreDir { d =>
      val tbl = graft.TempDirs.create("graft-vacuum-tbl").toString + "/t"
      writeTable(tbl, 100)
      val v1 = spark.read.parquet(tbl)
      StatsStore.analyze(v1, Seq(Seq("k")), note = "v1")
      val fp1 = StatsStore.fingerprintOf(v1).get

      // overwrite ⇒ new part files ⇒ new fingerprint ⇒ second file
      writeTable(tbl, 150)
      val v2 = spark.read.parquet(tbl)
      StatsStore.analyze(v2, Seq(Seq("k")), note = "v2")
      val fp2 = StatsStore.fingerprintOf(v2).get
      assert(fp1 !== fp2, "overwrite must produce a new fingerprint")
      val statsFiles = Files.list(Paths.get(d)).toArray.map(_.toString)
        .filter(_.endsWith(".stats"))
      assert(statsFiles.length === 2, statsFiles.mkString(", "))

      val (deleted, failed) = StatsStore.vacuum(Set(fp2))
      assert(deleted === Seq(java.lang.Long.toHexString(fp1) + ".stats"))
      assert(failed.isEmpty)
      // live entry still serves; stale one is gone from disk AND cache
      assert(StatsStore.lookup(fp2, Seq("k")).exists(_._1 === 150L))
      assert(StatsStore.lookup(fp1, Seq("k")).isEmpty)
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
      StatsStore.analyze(v, Seq(Seq("k")))
      val fp = StatsStore.fingerprintOf(v).get
      val bystander = Paths.get(d, "README.txt")
      Files.write(bystander, "not a stats file".getBytes("UTF-8"))

      assert(StatsStore.vacuum(Set(fp)) === ((Seq.empty, Seq.empty))) // nothing stale
      assert(StatsStore.vacuum(Set(fp)) === ((Seq.empty, Seq.empty))) // idempotent
      assert(Files.exists(bystander), "vacuum must not touch foreign files")
      assert(StatsStore.lookup(fp, Seq("k")).exists(_._1 === 10L))

      // emptied retention set ⇒ everything .stats goes, bystander stays
      val (all, failedAll) = StatsStore.vacuum(Set.empty)
      assert(all.size === 1 && failedAll.isEmpty)
      assert(Files.exists(bystander))
      assert(StatsStore.lookup(fp, Seq("k")).isEmpty)
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
