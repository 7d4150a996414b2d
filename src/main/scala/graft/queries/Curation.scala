package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-curation operators for the training-data pipeline surface:
  * eval-set decontamination, dataset-mixture construction with
  * oversampling, unigram-LM quality scoring, aggressive
  * canonicalization dedup — and their composition into the full
  * pretraining-data recipe (t20). These extend the reference's
  * data-hygiene semantics (scr/processing.py's dedup/normalize passes)
  * to the ops a 100 TB pretraining corpus needs before tokenization.
  *
  * Each operator's core is factored out ([[contamFlags]], [[logprob]],
  * [[mixture]]) so the standalone gate queries and the composed recipe
  * run the IDENTICAL logic — and the oracle SQL mirrors that with
  * shared CTE constants, so a semantic drift between the solo and
  * composed forms is structurally impossible.
  *
  * Scale design notes are per-operator; the common theme is that every
  * join is an equi-join on a hash or a dimension-sized key, every
  * aggregation is algebraic (map-side combinable), and no state grows
  * with corpus size.
  */
object Curation {

  def defs: Seq[QueryDef] = Seq(t17, t18, t19, t20, d08, d10)

  /** INCREMENTAL corpus dedup — the daily-crawl shape: an incoming
    * batch is deduplicated against the HISTORICAL corpus without
    * re-shuffling the history per increment. The whitespace-normalized
    * exact fingerprint (d01's) of every history doc folds into a
    * constant-size bloom bitset ([[graft.ops.BloomSemi.antiJoin]]);
    * incoming docs that FAIL the bloom are definitely new and never
    * enter a join shuffle — only maybe-duplicates (true dups + the fp
    * rate) reach the exact anti join that makes the result identical
    * to the plain anti join. At 100 TB the history-side bitset is
    * built once per snapshot and reused by every increment, and the
    * incoming volume that shuffles is proportional to the duplicate
    * rate, not the batch size.
    *
    * Derivation: history = doc_id % 3 ≠ 0; incoming = doc_id % 3 = 0
    * plus planted twins (history docs with doc_id % 7 = 0 re-keyed
    * +2·10⁹, st09's twin discipline) that the dedup must drop. The
    * oracle replays the split, the twin planting, and a plain
    * NOT EXISTS — proving the bloom composite exactly equals it. */
  val d10 = QueryDef(
    "d10_incremental_dedup",
    (s, d) => {
      val fp = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
      val history = docs.filter(col("doc_id") % 3 =!= 0)
        .select(fp.as("hist_fp")).distinct()
      // pinned: antiJoin's two complementary branches each scan the
      // probe — the checkpoint computes the md5 normalization once
      // (and satisfies antiJoin's determinism precondition by
      // construction)
      val incoming = docs.filter(col("doc_id") % 3 === 0)
        .unionByName(docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000000L).as("doc_id"), col("lang"), col("text")))
        .withColumn("fp", fp)
        .select(col("doc_id"), col("lang"), col("fp"))
        .localCheckpoint(eager = false)
      graft.ops.BloomSemi.antiJoin(incoming, col("fp"), history, col("hist_fp"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH fps AS (
        SELECT doc_id, lang,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents),
      history AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 3 <> 0),
      incoming AS (
        SELECT doc_id, lang, fp FROM fps WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id + 2000000000 AS doc_id, lang, fp
        FROM fps WHERE doc_id % 3 <> 0 AND doc_id % 7 = 0)
      SELECT i.doc_id, i.lang
      FROM incoming i
      WHERE NOT EXISTS (SELECT 1 FROM history h WHERE h.fp = i.fp)
      ORDER BY i.doc_id"""))

  /** t08's split assignment, recomputed from doc_id alone: split is a
    * pure function of the id, so membership never needs a join back to
    * a split table. */
  private def bucketOf(id: Column) =
    pmod(conv(substring(md5(id.cast("string")), 1, 15), 16, 10)
      .cast("long"), lit(100))

  private val bucketSql =
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"

  // =================================================================
  // t17 — decontamination
  // =================================================================

  /** Per-train-doc contamination table: (doc_id, n_hit, n_sh,
    * hit_ratio, contaminated) for every train doc sharing ≥1 shingle
    * with the test split. */
  private def contamFlags(s: SparkSession, d: String): DataFrame = {
    val sh = Shingles.hashed(s, d)
      .select(col("doc_id"), col("h60"), bucketOf(col("doc_id")).as("bucket"))
    val testSh = sh.filter(col("bucket") >= 95).select("h60").distinct()
    val trainSh = sh.filter(col("bucket") < 95).select("doc_id", "h60")
    val tot = trainSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val hit = trainSh.join(testSh, "h60")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    hit.join(tot, "doc_id")
      .withColumn("hit_ratio",
        round(col("n_hit").cast("double") / col("n_sh"), 4))
      .withColumn("contaminated",
        col("n_hit") >= 8 || col("n_hit").cast("double") / col("n_sh") >= 0.5)
  }

  /** Oracle twin of [[contamFlags]] as a WITH-chunk (expects
    * [[Shingles.oracleCte]] bound before it); exposes `contam`. */
  private val contamCte: String = s"""
      c_b AS (SELECT doc_id, h60, $bucketSql AS bucket FROM sh),
      c_testsh AS (SELECT DISTINCT h60 FROM c_b WHERE bucket >= 95),
      c_train AS (SELECT doc_id, h60 FROM c_b WHERE bucket < 95),
      c_tot AS (SELECT doc_id, count(*) AS n_sh FROM c_train GROUP BY doc_id),
      c_hit AS (SELECT t.doc_id, count(*) AS n_hit
                FROM c_train t JOIN c_testsh USING (h60) GROUP BY t.doc_id),
      contam AS (
        SELECT h.doc_id, h.n_hit, c_tot.n_sh,
               round(CAST(h.n_hit AS DOUBLE) / c_tot.n_sh, 4) AS hit_ratio,
               (h.n_hit >= 8 OR CAST(h.n_hit AS DOUBLE) / c_tot.n_sh >= 0.5) AS contaminated
        FROM c_hit h JOIN c_tot USING (doc_id))"""

  /** Train/test DECONTAMINATION — the leakage audit every pretraining
    * run performs: find training documents that share word-3-gram
    * shingles with the held-out test split, report per-doc overlap
    * counts, and flag docs over the standard thresholds (≥8 matching
    * n-grams or ≥50% of the doc's shingles — the GPT-3/PaLM-style
    * 13-gram rule scaled to this corpus's 3-gram shingle space).
    *
    * Plan at scale: reuses the ONE persisted hashed-shingle table
    * (Shingles.hashed — built once per corpus snapshot, shared with
    * d02/d03/d06); split membership derives arithmetically from doc_id
    * (no join against a split table); the test-shingle set is a
    * DISTINCT over 5% of corpus shingles feeding one h60 equi-join —
    * it scales with the corpus, so it is deliberately NOT broadcast
    * (the s02 lesson). Counts are algebraic. Nothing holds
    * per-doc state beyond two longs. */
  val t17 = QueryDef(
    "t17_decontaminate",
    (s, d) => contamFlags(s, d)
      .select(col("doc_id"), col("n_hit"), col("n_sh"),
        col("hit_ratio"), col("contaminated"))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH ${Shingles.oracleCte},
      $contamCte
      SELECT doc_id, n_hit, n_sh, hit_ratio, contaminated
      FROM contam
      ORDER BY doc_id"""))

  // =================================================================
  // t18 — dataset mixture
  // =================================================================

  /** Weighted per-domain resample of `docs0` (needs doc_id + lang):
    * integer quotas from the literal lang weights, hash-ranked
    * selection, whole-epoch oversampling. Returns
    * (doc_id, lang, epoch). */
  private def mixture(docs0: DataFrame): DataFrame = {
    val wPct = when(col("lang") === "en", 40)
      .when(col("lang") === "zh", 25)
      .when(col("lang") === "de", 15)
      .when(col("lang") === "es", 10)
      .when(col("lang") === "fr", 10).otherwise(0)
    val rkh = conv(substring(
      md5(concat(lit("mix1:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val docs = docs0.select(col("doc_id"), col("lang"),
      rkh.as("rkh"), wPct.as("w_pct"))
    val ranked = graft.ops.Ids.densePerKey(
      docs, Seq("lang"), Seq(col("rkh"), col("doc_id")), "rk")
    val cnt = docs.groupBy("lang").agg(count(lit(1)).as("n_d"))
    val tot = docs.agg(count(lit(1)).as("t"))
    ranked.join(broadcast(cnt), "lang")
      .crossJoin(broadcast(tot))
      .withColumn("quota", expr("(w_pct * t) div 100"))
      .withColumn("copies",
        expr("quota div n_d") +
          when(col("rk") <= expr("quota % n_d"), 1).otherwise(0))
      .filter(col("copies") >= 1)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("copies"))).as("epoch"))
  }

  /** Oracle twin of [[mixture]] over source relation `src`; exposes
    * `mix` = (doc_id, lang, epoch). */
  private def mixtureCte(src: String): String = s"""
      m_d AS (
        SELECT doc_id, lang,
               CAST(concat('0x', substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS rkh,
               CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 25 WHEN 'de' THEN 15
                         WHEN 'es' THEN 10 WHEN 'fr' THEN 10 ELSE 0 END AS w_pct
        FROM $src),
      m_r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY rkh, doc_id) AS rk FROM m_d),
      m_cnt AS (SELECT lang, count(*) AS n_d FROM m_d GROUP BY lang),
      m_tot AS (SELECT count(*) AS t FROM m_d),
      m_c AS (
        SELECT m_r.doc_id, m_r.lang,
               (m_r.w_pct * m_tot.t) // 100 // m_cnt.n_d
                 + CASE WHEN m_r.rk <= ((m_r.w_pct * m_tot.t) // 100) % m_cnt.n_d
                        THEN 1 ELSE 0 END AS copies
        FROM m_r JOIN m_cnt USING (lang) CROSS JOIN m_tot),
      mix AS (
        SELECT doc_id, lang,
               unnest(generate_series(1, CAST(copies AS BIGINT))) AS epoch
        FROM m_c WHERE copies >= 1)"""

  /** Dataset-MIXTURE construction — resample the corpus to target
    * per-domain weights (domain = lang here; en 40%, zh 25%, de 15%,
    * es/fr 10% each), the static-mixture primitive behind Pile-style
    * corpus recipes. Underweight domains OVERSAMPLE by whole epochs
    * plus a hash-ranked remainder slice; overweight domains
    * downsample by hash rank. All arithmetic is integer (quota =
    * w_pct·T div 100), all selection is seeded-hash rank — the output
    * is a pure function of (corpus, weights), re-derivable for any
    * reproducibility audit, one `epoch` column per copy.
    *
    * Plan at scale: the per-domain rank is the dangerous part — a
    * `row_number() OVER (PARTITION BY lang)` window funnels EVERY row
    * of a domain through one reducer's sort (5 languages at 100 TB =
    * 5 serialized 20 TB sorts), so the rank runs on
    * [[graft.ops.Ids.densePerKey]] instead: range-partition by
    * (lang, hash), per-key-run partial counts (driver sees P+K longs,
    * never rows), broadcast offsets, partition-local numbering — the
    * keyed two-phase scan shared with sequence packing. Per-domain
    * counts and the corpus total join back as broadcast one-row/
    * dim-sized relations; the epoch explode is in-row. No shuffle
    * carries more than (id, lang, hash). */
  val t18 = QueryDef(
    "t18_mixture_sample",
    (s, d) => mixture(Tables.documents(s, d).select(col("doc_id"), col("lang")))
      .orderBy(col("doc_id"), col("epoch")),
    Some(s"""
      WITH ${mixtureCte("documents")}
      SELECT doc_id, lang, epoch
      FROM mix
      ORDER BY doc_id, epoch"""))

  // =================================================================
  // t19 — unigram-LM quality
  // =================================================================

  /** Per-doc unigram-LM score table: (doc_id, n_tok, avg_logp). */
  private def logprob(s: SparkSession, d: String): DataFrame = {
    val w = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
    val vocab = graft.ops.Salt.saltedCount(
      w, Seq(col("word")), col("doc_id"), 16, "n_w")
    val tot = vocab.agg(sum(col("n_w")).as("n_tok_total"))
    w.join(vocab, "word")
      .crossJoin(broadcast(tot))
      .withColumn("logp",
        round(log(col("n_w").cast("double") / col("n_tok_total")), 6))
      // INTEGER micro-units from here down (sf1 planted-dup catch):
      // the rounded 6-dec logp recovers its integer numerator exactly
      // (the double sits within 1e-10 of k·1e-6 in both engines), the
      // per-doc mean is integer division with half-away-from-zero
      // rounding, and only the final /10⁴ returns to double — because
      // `round(sum/count, 4)` hit a TRUE TIE (a 10-token doc whose
      // mean is exactly -3.43345) where Spark's exact-expansion
      // HALF_UP and DuckDB's scaled-multiply rounding legitimately
      // disagree. Ties are now decided in integer arithmetic,
      // identically everywhere.
      .withColumn("logp_u", expr("CAST(round(logp * 1000000) AS BIGINT)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(col("logp_u")).as("s_u"))
      .withColumn("avg_u4", expr(
        """CASE WHEN s_u >= 0 THEN (s_u + 50 * n_tok) div (100 * n_tok)
           ELSE -((-s_u + 50 * n_tok) div (100 * n_tok)) END"""))
      .withColumn("avg_logp", col("avg_u4").cast("double") / 10000.0)
      .select(col("doc_id"), col("n_tok"), col("avg_logp"))
  }

  /** Oracle twin of [[logprob]]; exposes `qscore`. */
  private val logprobCte: String = """
      q_toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        FROM documents),
      q_w AS (SELECT doc_id, word FROM q_toks WHERE word <> ''),
      q_vocab AS (SELECT word, count(*) AS n_w FROM q_w GROUP BY word),
      q_tot AS (SELECT count(*) AS n_tok_total FROM q_w),
      q_lp AS (
        SELECT q_w.doc_id,
               CAST(round(round(ln(CAST(q_vocab.n_w AS DOUBLE) / q_tot.n_tok_total), 6) * 1000000) AS BIGINT) AS logp_u
        FROM q_w JOIN q_vocab USING (word) CROSS JOIN q_tot),
      q_s AS (
        SELECT doc_id, count(*) AS n_tok, sum(logp_u) AS s_u
        FROM q_lp GROUP BY doc_id),
      qscore AS (
        SELECT doc_id, n_tok,
               CAST(CASE WHEN s_u >= 0 THEN (s_u + 50 * n_tok) // (100 * n_tok)
                         ELSE -((-s_u + 50 * n_tok) // (100 * n_tok)) END AS DOUBLE) / 10000.0 AS avg_logp
        FROM q_s)"""

  /** The quality gate both t19 and t20 apply, spelled once. */
  private val KEEP_THRESHOLD = -3.55

  /** Unigram-LM QUALITY SCORE — the perplexity-filter primitive
    * (KenLM-style scoring reduced to its unigram core, which is the
    * part that is pure relational algebra): per-token
    * logp = ln(count(w)/total_tokens) from the corpus's own vocabulary,
    * per-doc mean log-probability, and a keep/drop gate at a literal
    * threshold. Cross-engine float discipline: ln is the single
    * libm-backed step, rounded to 6 digits per token BEFORE the
    * per-doc sum (t16's rule), the sum runs in DECIMAL so Spark's
    * partial-aggregation tree and DuckDB's sequential fold agree
    * bit-for-bit, and the mean rounds to 4.
    *
    * Plan at scale: vocabulary counts go through the salted two-phase
    * aggregate (ops/Salt — heavy-hitter words like "the" would
    * otherwise serialize one reducer); the corpus total joins as a
    * broadcast scalar; the token→vocab annotate is a word-keyed
    * equi-join (the same shape t16's df join takes); per-doc state is
    * one decimal + one long. */
  val t19 = QueryDef(
    "t19_unigram_logprob",
    (s, d) => logprob(s, d)
      .withColumn("keep", col("avg_logp") >= KEEP_THRESHOLD)
      .select(col("doc_id"), col("n_tok"), col("avg_logp"), col("keep"))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH $logprobCte
      SELECT doc_id, n_tok, avg_logp,
             (avg_logp >= $KEEP_THRESHOLD) AS keep
      FROM qscore
      ORDER BY doc_id"""))

  // =================================================================
  // t20 — the composed pretraining-data recipe
  // =================================================================

  /** PRETRAINING-DATA RECIPE — the composition the solo operators
    * exist for, as one plan: take the train split (t08 buckets),
    * drop documents that fail the unigram-LM quality gate (t19) or
    * are contaminated against the test split (t17), then
    * mixture-resample the survivors to the target language weights
    * with epoch oversampling (t18). Output is the per-language
    * accounting report every corpus build publishes: candidates,
    * drops by reason (non-disjoint counts), survivors, selected docs,
    * emitted rows, deepest epoch.
    *
    * The recipe calls the SAME factored cores the solo gate queries
    * run ([[contamFlags]]/[[logprob]]/[[mixture]]), and its oracle
    * composes the same shared CTE constants — solo and composed forms
    * cannot drift apart. Scale shape: union of the solo shapes (the
    * shingle table is the persisted shared build; the mixture rank
    * runs the keyed prefix scan); the extra joins here are
    * doc_id-keyed annotates and the final report is a 5-row
    * aggregate. */
  val t20 = QueryDef(
    "t20_pretrain_recipe",
    (s, d) => {
      val train = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"))
        .filter(bucketOf(col("doc_id")) < 95)
      val qual = logprob(s, d)
        .select(col("doc_id"), (col("avg_logp") >= KEEP_THRESHOLD).as("keep"))
      val contam = contamFlags(s, d)
        .select(col("doc_id"), col("contaminated"))
      // ann feeds BOTH report branches (base counts + mixture input);
      // without a materialization barrier the quality-score and
      // contamination subplans — the expensive word explode + shingle
      // joins — execute twice. Non-eager localCheckpoint: computed at
      // first use inside the one final job, block-reused by the second
      // branch, no SQL-cache entry to leak across builder calls.
      val ann = train
        .join(qual, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("keep"), lit(false)).as("keep"),
          coalesce(col("contaminated"), lit(false)).as("contam"))
        .localCheckpoint(eager = false)
      val base = ann.groupBy("lang").agg(
        count(lit(1)).as("n_train"),
        count(when(!col("keep"), 1)).as("n_quality_fail"),
        count(when(col("contam"), 1)).as("n_contaminated"),
        count(when(col("keep") && !col("contam"), 1)).as("n_survivors"))
      val mix = mixture(
        ann.filter(col("keep") && !col("contam")).select("doc_id", "lang"))
      val mixAgg = mix.groupBy("lang").agg(
        countDistinct(col("doc_id")).as("n_selected"),
        count(lit(1)).as("n_rows"),
        max(col("epoch")).as("max_epoch"))
      base.join(mixAgg, Seq("lang"), "left")
        .select(col("lang"), col("n_train"), col("n_quality_fail"),
          col("n_contaminated"), col("n_survivors"),
          coalesce(col("n_selected"), lit(0L)).as("n_selected"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"),
          coalesce(col("max_epoch"), lit(0L)).as("max_epoch"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH ${Shingles.oracleCte},
      $contamCte,
      $logprobCte,
      tr AS (SELECT doc_id, lang FROM documents WHERE $bucketSql < 95),
      ann AS (
        SELECT tr.doc_id, tr.lang,
               coalesce(q.avg_logp >= $KEEP_THRESHOLD, FALSE) AS keep,
               coalesce(ct.contaminated, FALSE) AS contam
        FROM tr
        LEFT JOIN qscore q USING (doc_id)
        LEFT JOIN contam ct USING (doc_id)),
      surv AS (SELECT doc_id, lang FROM ann WHERE keep AND NOT contam),
      ${mixtureCte("surv")},
      rep1 AS (
        SELECT lang, count(*) AS n_train,
               count(CASE WHEN NOT keep THEN 1 END) AS n_quality_fail,
               count(CASE WHEN contam THEN 1 END) AS n_contaminated,
               count(CASE WHEN keep AND NOT contam THEN 1 END) AS n_survivors
        FROM ann GROUP BY lang),
      rep2 AS (
        SELECT lang, count(DISTINCT doc_id) AS n_selected,
               count(*) AS n_rows, max(epoch) AS max_epoch
        FROM mix GROUP BY lang)
      SELECT r1.lang, r1.n_train, r1.n_quality_fail, r1.n_contaminated,
             r1.n_survivors,
             coalesce(r2.n_selected, 0) AS n_selected,
             coalesce(r2.n_rows, 0) AS n_rows,
             coalesce(r2.max_epoch, 0) AS max_epoch
      FROM rep1 r1 LEFT JOIN rep2 r2 USING (lang)
      ORDER BY lang"""))

  // =================================================================
  // d08 — canonical dedup
  // =================================================================

  // ASCII-punctuation class shared by both engines (Java regex ∩ RE2,
  // the t12 discipline): the four printable-ASCII punct ranges. Unicode
  // letters pass through untouched so non-Latin text is not destroyed.
  private val punctRe = "[!-/:-@\\[-`{-~]"

  /** CANONICAL-text dedup — the aggressive near-exact pass (C4/Gopher
    * style) one notch past d01's whitespace normalization: lowercase,
    * strip ASCII punctuation, collapse whitespace, then group on the
    * md5 of the canonical form. The testdata corpus has no
    * punctuation-variant duplicates, so (t12's precedent) each doc
    * gains a deterministically perturbed twin — padded, punctuated,
    * id-offset by 10^9 — and the operator provably collapses every
    * pair: the oracle equality *is* the proof the canonicalization
    * fires.
    *
    * Plan at scale: union + narrow codegen'd projections + one
    * hash-groupBy on the 128-bit fingerprint — identical linear shape
    * to d01, bucketable on fp. */
  val d08 = QueryDef(
    "d08_canonical_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val twins = docs.select(
        (col("doc_id") + 1000000000L).as("doc_id"),
        concat(lit("  "), col("text"), lit(" !!! -- ??? ")).as("text"))
      val canon = trim(regexp_replace(
        regexp_replace(lower(col("text")), punctRe, " "), "\\s+", " "))
      docs.unionAll(twins)
        .select(col("doc_id"), md5(canon).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("canonical_id"))
    },
    Some("""
      WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000 AS doc_id,
               '  ' || text || ' !!! -- ??? ' AS text
        FROM documents),
      canon AS (
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[!-/:-@\[-`{-~]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
        FROM all_docs)
      SELECT fp, min(doc_id) AS canonical_id, count(*) AS n_copies
      FROM canon GROUP BY fp
      ORDER BY canonical_id"""))
}
