package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression library reproducing the reference's scalar cleaning
  * functions (SURVEY.md §2.8) as pure Catalyst built-ins — codegen'd, no
  * UDFs, so they inline into whole-stage codegen at any scale.
  *
  * Reference behaviors reproduced (file:line in /root/reference/):
  *  - key normalization  `scr/Transform.py:395-404`   → [[normKey]]
  *  - club-suffix scrub  `scr/Transform.py:235-242`   → [[cleanClubName]]
  *  - literal-map rename `scr/Transform.py:407-423`   → [[mapValues]]
  *  - Q-prefix strip     `scr/Transform.py:260-264`   → [[stripQ]]
  *  - "GF:GA" split      `scr/Transform.py:788-792`   → [[splitPair]]
  *  - date-part extract  `scr/Transform.py:358-359`   → [[datePart]]
  *  - round-label zfill  `scr/Transform.py:482`       → [[roundLabel]]
  *  - rank "1." → 1      `scr/Transform.py:779-785`   → [[rankClean]]
  *  - season conversion  `scr/Transform.py:711-725`   → [[convertSeason]]
  *  - numeric coercion   `scr/Transform.py:122,261`   → [[tryInt]]/[[tryDouble]]
  */
object Normalize {

  /** lower+trim join-key normalization (Transform.py:395-404). */
  def normKey(c: Column): Column = lower(trim(c))

  /** Ordered suffix scrub: longer patterns first ("f.c." before "fc"),
    * then strip trailing spaces/dots, then drop a dangling " a."/" a"
    * token — mirrors clean_team_name (Transform.py:237-242). The six
    * literal fragments go through StringReplace (plain substring scan,
    * replaces every occurrence — identical semantics to the quoted
    * regex it replaces but ~an order of magnitude cheaper per row,
    * and the exact twin of the oracle's `replace()`); only the two
    * genuinely-regex tail patterns stay regexp_replace. This sits on
    * the hot path of every fact build — the optimizer inlines the
    * whole normed() tree into join conditions, so per-row cost here
    * multiplies across the pipeline.
    */
  def cleanClubName(c: Column): Column = {
    val suffixes = Seq("a.f.c.", "a.f.c", "f.c.", "f.c", "afc", "fc")
    val scrubbed = suffixes.foldLeft(lower(c)) { (col, s) =>
      call_function("replace", col, lit(s), lit(""))
    }
    val tailTrim = regexp_replace(scrubbed, "[ .]+$", "")
    trim(regexp_replace(tailTrim, " a\\.?$", ""))
  }

  /** Literal value remap: one lookup in a map literal, the value
    * itself when it is not a key (null stays null); for large maps
    * prefer a broadcast-joined mapping dim (Transform.py:407-423 keeps
    * 3 inline dict copies; we centralize). A lookup, not a CASE: the
    * optimizer pushes every function applied to a CASE into each of
    * its branches, and callers wrap this in [[cleanClubName]].
    */
  def mapValues(c: Column, mapping: Map[String, String]): Column =
    coalesce(try_element_at(typedLit(mapping), c), c)

  /** Remove ALL 'Q' chars (reference uses str.replace('Q',''), not a
    * prefix strip — Transform.py:260-264) then null-tolerant int cast.
    */
  def stripQ(c: Column): Column =
    tryInt(regexp_replace(c, "Q", ""))

  /** Split "GF:GA"-style composite into typed parts (Transform.py:788-792).
    * `get` (not `getItem`) so a malformed composite with a missing part
    * yields null instead of throwing under ANSI mode — matches pandas
    * `split(expand=True)` NaN-padding.
    */
  def splitPair(c: Column, delim: String = ":"): (Column, Column) = {
    val parts = split(c, delim)
    (tryInt(get(parts, lit(0))), tryInt(get(parts, lit(1))))
  }

  /** First whitespace-delimited token parsed as a date; unparseable → null
    * (pandas to_datetime(errors='coerce'), Transform.py:358-359).
    */
  def datePart(c: Column): Column =
    try_to_timestamp(substring_index(c, " ", 1), lit("yyyy-MM-dd")).cast("date")

  /** "Matchweek 23" → "23"; 1-digit rounds zero-filled to "01"
    * (split()[-1].zfill(2), Transform.py:482).
    */
  def roundLabel(c: Column): Column =
    lpad(element_at(split(c, " "), -1), 2, "0")

  /** "1." → 1; unparseable → null (Transform.py:779-785). */
  def rankClean(c: Column): Column =
    tryInt(substring_index(c, ".", 1))

  /** "2020-2021" (or "2020/2021") → 2021-style int built from the last two
    * digits of each half: "20"+"21" → 2021 (convert_season,
    * Transform.py:711-725). Malformed input → null.
    */
  def convertSeason(c: Column): Column = {
    val norm  = regexp_replace(c, "/", "-")
    val left  = substring_index(norm, "-", 1)
    val right = substring_index(norm, "-", -1)
    tryInt(concat(substring(left, -2, 2), substring(right, -2, 2)))
  }

  /** ANSI-safe numeric coercion: garbage → null, like
    * pd.to_numeric(errors='coerce') (Transform.py:122,261,329).
    * Works under ANSI mode (Spark 4 default) — never throws.
    */
  def tryInt(c: Column): Column    = c.try_cast("int")
  def tryLong(c: Column): Column   = c.try_cast("bigint")
  def tryDouble(c: Column): Column = c.try_cast("double")
}
