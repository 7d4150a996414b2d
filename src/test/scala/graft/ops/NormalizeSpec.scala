package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Date

/** F1–F10 scalar cleaning expressions vs reference behavior
  * (file:line cites in Normalize.scala scaladoc). */
class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private def eval1(in: Seq[String], f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[Any] =
    in.toDF("x").select(f(col("x")).as("y")).collect().toSeq.map(r => if (r.isNullAt(0)) null else r.get(0))

  test("normKey lowercases and trims (F1)") {
    assert(eval1(Seq("  Manchester Utd  "), Normalize.normKey) === Seq("manchester utd"))
  }

  test("cleanClubName scrubs suffixes in order, longest first (F3)") {
    assert(eval1(
      Seq("Arsenal F.C.", "Bournemouth AFC", "Brentford FC", "Wolves F.C"),
      Normalize.cleanClubName) === Seq("arsenal", "bournemouth", "brentford", "wolves"))
  }

  test("cleanClubName drops dangling ' a.' token") {
    assert(eval1(Seq("Villa a."), Normalize.cleanClubName) === Seq("villa"))
  }

  test("mapValues remaps listed literals, passes others through (F2)") {
    val m = Map("manchester united" -> "manchester utd", "west ham united" -> "west ham")
    assert(eval1(Seq("manchester united", "liverpool", null, "", "west ham united"),
      c => Normalize.mapValues(c, m)) === Seq("manchester utd", "liverpool", null, "", "west ham"))
    assert(eval1(Seq(null, "leeds"), c => Normalize.mapValues(c, Map.empty)) === Seq(null, "leeds"))
  }

  test("stripQ removes ALL Q chars then int-casts; garbage → null (F4)") {
    assert(eval1(Seq("Q42", "Q4Q2", "abc"), Normalize.stripQ) === Seq(42, 42, null))
  }

  test("splitPair splits GF:GA into two ints (F5)") {
    val (gf, ga) = Normalize.splitPair(col("x"))
    val out = Seq("3:1", "0:0", "bad").toDF("x").select(gf.as("gf"), ga.as("ga"))
      .collect().map(r => (if (r.isNullAt(0)) null else r.get(0), if (r.isNullAt(1)) null else r.get(1)))
    assert(out.toSeq === Seq((3, 1), (0, 0), (null, null)))
  }

  test("datePart parses first token as date; garbage → null (F6)") {
    assert(eval1(Seq("2024-05-11 15:00", "not-a-date"), Normalize.datePart)
      === Seq(Date.valueOf("2024-05-11"), null))
  }

  test("roundLabel takes last token zero-filled to 2 (F7)") {
    assert(eval1(Seq("Matchweek 23", "Matchweek 1"), Normalize.roundLabel) === Seq("23", "01"))
  }

  test("rankClean parses '1.' → 1; garbage → null (F8)") {
    assert(eval1(Seq("1.", "17", "x."), Normalize.rankClean) === Seq(1, 17, null))
  }

  test("convertSeason: '2020-2021' → 2021-style code, '/' tolerated (F9)") {
    assert(eval1(Seq("2020-2021", "2019/2020", "garbage"), Normalize.convertSeason)
      === Seq(2021, 1920, null))
  }

  test("tryInt/tryDouble coerce garbage to null under ANSI mode (F10)") {
    assert(eval1(Seq("7", "7.9", "x"), Normalize.tryInt) === Seq(7, null, null))
    assert(eval1(Seq("7.5", "x"), Normalize.tryDouble) === Seq(7.5, null))
  }

  test("property: cleanClubName is idempotent (scrubbing never creates new suffixes)") {
    val rnd = new scala.util.Random(11)
    val frags = Seq("united", "f.c.", "city", "afc", "a.", "rovers", "fc", "albion", "&")
    val names = Seq.fill(60)(Seq.fill(1 + rnd.nextInt(4))(
      frags(rnd.nextInt(frags.length))).mkString(" "))
    val once  = eval1(names, Normalize.cleanClubName)
    val twice = once.map(v => if (v == null) Seq(null) else Seq(v.toString))
      .flatten.map(_.asInstanceOf[String])
    assert(eval1(twice, Normalize.cleanClubName) === once)
  }

  test("property: convertSeason equals last-2-digit concatenation on well-formed inputs") {
    val pairs = for (y <- 1995 to 2030) yield (s"$y-${y + 1}", ((y % 100) * 100 + (y + 1) % 100))
    assert(eval1(pairs.map(_._1), Normalize.convertSeason) === pairs.map(_._2))
  }
}
