package graft.queries

import graft.{Memo, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + document-dedup operators for the LLM-training-data
  * pipeline surface (builder brief): token counting, quality scoring,
  * language-ID heuristic, fingerprinting, exact dedup, and n-gram
  * Jaccard near-dedup via an inverted shingle index.
  *
  * Scale design: everything here is groupBy/join on high-cardinality
  * keys (doc_id, shingle). The near-dup candidate join caps shingle
  * document-frequency (df ≤ 20) before self-joining — the standard
  * trick that keeps the candidate-pair explosion bounded at 100 TB
  * (a stop-shingle appearing in 10^6 docs would otherwise create
  * 10^12 pairs). Jaccard is computed over the df-filtered shingle
  * space, consistently on both sides of the oracle.
  */
object TextOps {

  def defs: Seq[QueryDef] =
    Seq(t01, t02, t03, t04, t05, t06, t07, t08, t09, t10, t11, t12, t13,
      t14, t15, t16, t21, t22, t23, t24, t25, d01, d02, d11, d12)

  private val tokens = split(lower(trim(col("text"))), "\\s+")

  /** [[t08]]'s deterministic split bucket — md5(doc_id) mod 100 — as a
    * shared column so split-aware queries (t25's held-out apply) use
    * the IDENTICAL assignment and cannot drift from the split query. */
  private[queries] val docBucket = pmod(conv(substring(
    md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long"), lit(100))

  /** DuckDB spelling of [[docBucket]] for split-aware oracles. */
  private val duckBucket =
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"

  /** Hard per-doc chunk cap for t11: bounds the reassembly agg buffer
    * (and every downstream per-doc state) for adversarial single-row
    * documents; 32768 chunks ≈ 320k tokens, far above any real doc. */
  private[queries] val CHUNK_CAP = 32768

  /** Deterministic train/val/test assignment — the split primitive of
    * every training-data pipeline: bucket = md5(doc_id) mod 100, so a
    * document's split is a pure function of its id (stable across
    * runs, clusters, and engine versions; no sampling state, no RNG,
    * trivially re-derivable for leakage audits). 90/5/5 thresholds.
    * Pure narrow projection: no shuffle at any scale. */
  val t08 = QueryDef(
    "t08_hash_split",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), docBucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val").otherwise("test"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
                  WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
      ORDER BY doc_id"""))

  /** Stratified deterministic sampling: k docs per (lang, source)
    * stratum, ranked by a seeded hash of the id — the balanced-subset
    * primitive (eval-set construction, per-language quality probes).
    * Hash-rank ⇒ reproducible sample, no RNG state; one shuffle on
    * the stratum key. At 100 TB strata are few and rows many — the
    * rank window partitions by stratum, and a heavily skewed stratum
    * can swap in TopKPerKey (q33's physical operator) to avoid the
    * full per-stratum sort. */
  val t09 = QueryDef(
    "t09_stratified_sample",
    (s, d) => {
      val rk = conv(substring(
        md5(concat(lit("strat7:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long")
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("rk"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), rk.as("rk"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("source"), col("rn"), col("doc_id"))
        .orderBy(col("lang"), col("source"), col("rn"))
    },
    Some("""
      WITH ranked AS (
        SELECT lang, source, doc_id,
               row_number() OVER (PARTITION BY lang, source
                 ORDER BY CAST(concat('0x', substr(md5('strat7:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                          doc_id) AS rn
        FROM documents)
      SELECT lang, source, rn, doc_id
      FROM ranked WHERE rn <= 5
      ORDER BY lang, source, rn"""))

  /** EPOCH SHUFFLE + SHARDING — the deterministic training-order
    * generator: for a given epoch seed, every document gets a shard
    * (of S=8 parallel-loader shards) and a position within its shard,
    * with the global order a seeded pseudo-random permutation
    * (order by seeded hash). This is the reproducibility primitive
    * data loaders need: the training order for epoch 7 is a pure
    * function of (corpus, seed) — re-derivable for any audit, no RNG
    * state, no materialized permutation table.
    *
    * Scale shape: shard assignment is a projection; the per-shard
    * position uses [[graft.ops.Ids.densePerKey]] (range-partition by
    * (shard, hash), per-run partials, broadcast offsets) because S is
    * SMALL and shards are HUGE — a row_number window partitioned by 8
    * shards would funnel 1/8th of the corpus through each of 8
    * reducer sorts (t18's documented trap). The oracle's plain
    * window is the semantic twin at oracle scale. */
  val t21 = QueryDef(
    "t21_epoch_shuffle",
    (s, d) => {
      val rkh = conv(substring(
        md5(concat(lit("ep7:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), rkh.as("rkh"))
        .withColumn("shard", pmod(col("rkh"), lit(8L)))
      graft.ops.Ids.densePerKey(
          docs, Seq("shard"), Seq(col("rkh"), col("doc_id")), "pos")
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    },
    Some("""
      WITH h AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5('ep7:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS rkh
        FROM documents),
      sh AS (SELECT doc_id, rkh, rkh % 8 AS shard FROM h)
      SELECT doc_id, shard,
             row_number() OVER (PARTITION BY shard ORDER BY rkh, doc_id) AS pos
      FROM sh ORDER BY shard, pos"""))

  /** Token counting: whitespace tokenizer + char counts. */
  val t01 = QueryDef(
    "t01_token_stats",
    (s, d) => {
      Tables.documents(s, d).select(
          col("doc_id"),
          size(tokens).as("n_tokens"),
          length(col("text")).as("len_chars"),
          length(regexp_replace(col("text"), "\\s+", "")).as("len_no_space"),
          round(length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
            size(tokens).cast("double"), 4).as("avg_token_len"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id,
             len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
             length(text) AS len_chars,
             length(regexp_replace(text, '\s+', '', 'g')) AS len_no_space,
             round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
                   CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE), 4) AS avg_token_len
      FROM documents
      ORDER BY doc_id"""))

  /** Quality scoring: stopword ratio, punctuation ratio, length prior —
    * the usual cheap pre-training filters. */
  val t02 = QueryDef(
    "t02_quality_score",
    (s, d) => {
      val stop = Seq("the", "a", "of", "and", "in", "to")
      val nTok = size(tokens).cast("double")
      val nStop = size(filter(tokens, t => t.isin(stop.map(x => x: Any): _*))).cast("double")
      val nPunct = (length(col("text")) -
        length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double")
      val stopRatio = round(nStop / nTok, 4)
      val punctRatio = round(nPunct / length(col("text")).cast("double"), 4)
      val lenPrior = least(lit(1.0), nTok / lit(100.0))
      Tables.documents(s, d).select(
          col("doc_id"),
          stopRatio.as("stop_ratio"),
          punctRatio.as("punct_ratio"),
          round(lit(0.4) * stopRatio + lit(0.3) * lenPrior +
            lit(0.3) * (lit(1.0) - punctRatio), 4).as("quality"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, text,
               string_split_regex(lower(trim(text)), '\s+') AS w,
               CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct
        FROM documents)
      SELECT doc_id,
             round(CAST(len(list_filter(w, x -> x IN ('the','a','of','and','in','to'))) AS DOUBLE) / CAST(len(w) AS DOUBLE), 4) AS stop_ratio,
             round(n_punct / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
             round(0.4 * round(CAST(len(list_filter(w, x -> x IN ('the','a','of','and','in','to'))) AS DOUBLE) / CAST(len(w) AS DOUBLE), 4)
                 + 0.3 * least(1.0, CAST(len(w) AS DOUBLE) / 100.0)
                 + 0.3 * (1.0 - round(n_punct / CAST(length(text) AS DOUBLE), 4)), 4) AS quality
      FROM t
      ORDER BY doc_id"""))

  /** Language-ID heuristic: marker-token vote with deterministic
    * priority order (en > de > fr > es > unknown). */
  val t03 = QueryDef(
    "t03_lang_guess",
    (s, d) => {
      def cnt(words: Seq[String]) =
        size(filter(tokens, t => t.isin(words.map(x => x: Any): _*)))
      val nEn = cnt(Seq("the", "and", "of"))
      val nDe = cnt(Seq("der", "die", "und"))
      val nFr = cnt(Seq("le", "la", "et"))
      val nEs = cnt(Seq("el", "los", "y"))
      val guess = when(nEn >= nDe && nEn >= nFr && nEn >= nEs && nEn > 0, "en")
        .when(nDe >= nFr && nDe >= nEs && nDe > 0, "de")
        .when(nFr >= nEs && nFr > 0, "fr")
        .when(nEs > 0, "es")
        .otherwise("unknown")
      Tables.documents(s, d).select(
          col("doc_id"), col("lang"),
          nEn.as("n_en"), nDe.as("n_de"), nFr.as("n_fr"), nEs.as("n_es"),
          guess.as("lang_guess"),
          (guess === col("lang")).as("is_match"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, lang,
               string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents),
      c AS (
        SELECT doc_id, lang,
               len(list_filter(w, x -> x IN ('the','and','of'))) AS n_en,
               len(list_filter(w, x -> x IN ('der','die','und'))) AS n_de,
               len(list_filter(w, x -> x IN ('le','la','et'))) AS n_fr,
               len(list_filter(w, x -> x IN ('el','los','y'))) AS n_es
        FROM t)
      SELECT doc_id, lang, n_en, n_de, n_fr, n_es,
             CASE WHEN n_en >= n_de AND n_en >= n_fr AND n_en >= n_es AND n_en > 0 THEN 'en'
                  WHEN n_de >= n_fr AND n_de >= n_es AND n_de > 0 THEN 'de'
                  WHEN n_fr >= n_es AND n_fr > 0 THEN 'fr'
                  WHEN n_es > 0 THEN 'es'
                  ELSE 'unknown' END AS lang_guess,
             (CASE WHEN n_en >= n_de AND n_en >= n_fr AND n_en >= n_es AND n_en > 0 THEN 'en'
                  WHEN n_de >= n_fr AND n_de >= n_es AND n_de > 0 THEN 'de'
                  WHEN n_fr >= n_es AND n_fr > 0 THEN 'fr'
                  WHEN n_es > 0 THEN 'es'
                  ELSE 'unknown' END) = lang AS is_match
      FROM c
      ORDER BY doc_id"""))

  /** Document fingerprinting: md5 over whitespace-normalized text. */
  val t04 = QueryDef(
    "t04_fingerprint",
    (s, d) => {
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      Tables.documents(s, d).select(
          col("doc_id"),
          md5(norm).as("fingerprint"),
          length(norm).as("norm_len"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
             length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_len
      FROM documents
      ORDER BY doc_id"""))

  /** BPE-ish tokenization: a GPT-2-style pre-tokenizer regex (English
    * contractions | space-prefixed letter runs | digit runs |
    * punctuation runs) — the standard cheap proxy for LLM token counts
    * when no tokenizer vocab is available. Uses only RE2-compatible
    * constructs so Spark (Java regex) and DuckDB (RE2) agree. */
  val t05 = QueryDef(
    "t05_bpe_tokens",
    (s, d) => {
      val bpe = "'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
      Tables.documents(s, d).select(
          col("doc_id"),
          size(regexp_extract_all(col("text"), lit(bpe), lit(0))).as("n_bpe_tokens"),
          size(tokens).as("n_ws_tokens"),
          round(size(regexp_extract_all(col("text"), lit(bpe), lit(0))).cast("double") /
            size(tokens).cast("double"), 4).as("bpe_per_word"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '''(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS n_bpe_tokens,
               len(string_split_regex(lower(trim(text)), '\s+')) AS n_ws_tokens
        FROM documents)
      SELECT doc_id, n_bpe_tokens, n_ws_tokens,
             round(CAST(n_bpe_tokens AS DOUBLE) / CAST(n_ws_tokens AS DOUBLE), 4) AS bpe_per_word
      FROM t
      ORDER BY doc_id"""))

  /** Character-n-gram language ID — the n-gram-profile heuristic
    * (vs t03's marker words): counts of language-characteristic
    * bigrams, winner by deterministic priority. Codegen'd
    * regexp_count; no tokenization pass at all. */
  val t06 = QueryDef(
    "t06_lang_ngram",
    (s, d) => {
      def grams(gs: Seq[String]) = gs.map(g =>
        regexp_count(lower(col("text")), lit(g))).reduce(_ + _)
      val gEn = grams(Seq("th", "he", "ing"))
      val gDe = grams(Seq("ch", "ei", "und"))
      val gFr = grams(Seq("ou", "es", "ent"))
      val gEs = grams(Seq("os", "la", "ción"))
      val guess = when(gEn >= gDe && gEn >= gFr && gEn >= gEs && gEn > 0, "en")
        .when(gDe >= gFr && gDe >= gEs && gDe > 0, "de")
        .when(gFr >= gEs && gFr > 0, "fr")
        .when(gEs > 0, "es")
        .otherwise("unknown")
      Tables.documents(s, d).select(
          col("doc_id"), col("lang"),
          gEn.as("g_en"), gDe.as("g_de"), gFr.as("g_fr"), gEs.as("g_es"),
          guess.as("lang_guess"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH c AS (
        SELECT doc_id, lang,
               len(regexp_extract_all(lower(text), 'th')) + len(regexp_extract_all(lower(text), 'he')) + len(regexp_extract_all(lower(text), 'ing')) AS g_en,
               len(regexp_extract_all(lower(text), 'ch')) + len(regexp_extract_all(lower(text), 'ei')) + len(regexp_extract_all(lower(text), 'und')) AS g_de,
               len(regexp_extract_all(lower(text), 'ou')) + len(regexp_extract_all(lower(text), 'es')) + len(regexp_extract_all(lower(text), 'ent')) AS g_fr,
               len(regexp_extract_all(lower(text), 'os')) + len(regexp_extract_all(lower(text), 'la')) + len(regexp_extract_all(lower(text), 'ción')) AS g_es
        FROM documents)
      SELECT doc_id, lang, g_en, g_de, g_fr, g_es,
             CASE WHEN g_en >= g_de AND g_en >= g_fr AND g_en >= g_es AND g_en > 0 THEN 'en'
                  WHEN g_de >= g_fr AND g_de >= g_es AND g_de > 0 THEN 'de'
                  WHEN g_fr >= g_es AND g_fr > 0 THEN 'fr'
                  WHEN g_es > 0 THEN 'es'
                  ELSE 'unknown' END AS lang_guess
      FROM c
      ORDER BY doc_id"""))

  /** Winnowing-style rolling-hash fingerprint: every 8-char window of
    * the normalized text hashes portably (md5-derived), and the 4
    * smallest window hashes form the document's fingerprint — robust
    * to local edits (only windows covering the edit change, and mins
    * rarely do), unlike t04's whole-text digest. One explode + one
    * min-sort aggregation; linear at any scale. */
  val t07 = QueryDef(
    "t07_rolling_fingerprint",
    (s, d) => {
      // the entire explode→md5→k-min-aggregate pipeline runs as ONE
      // codegen'd scalar expression per document row
      // ([[graft.functions.RollingMinHash]]): no window explosion, no
      // aggregation, no shuffle — only the final presentation sort
      // remains. Same values as the aggregate form (and the oracle);
      // the bounded-buffer aggregate twin ([[TopKMinAgg]]) remains the
      // tool for k-min over rows that are ALREADY exploded.
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      Tables.documents(s, d)
        .select(col("doc_id"), norm.as("t"))
        .filter(length(col("t")) >= 8)
        .select(col("doc_id"), concat_ws(",",
          graft.functions.RollingMinHash.rollingMinHash(col("t"), 8, 4)).as("fingerprint"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH n AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM documents),
      wins AS (
        SELECT doc_id, unnest(list_transform(range(1, length(t) - 6),
               i -> substr(t, CAST(i AS INT), 8))) AS w
        FROM n WHERE length(t) >= 8),
      hs AS (
        SELECT DISTINCT doc_id,
               CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h
        FROM wins),
      mins AS (
        SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
        FROM hs)
      SELECT doc_id, string_agg(h, ',' ORDER BY h) AS fingerprint
      FROM mins WHERE rn <= 4
      GROUP BY doc_id
      ORDER BY doc_id"""))

  /** The composed corpus-cleaning pipeline — what a user actually
    * runs before training: language filter → quality gates (token
    * count, char count) → exact dedup (min-doc_id survivor per
    * normalized-text fingerprint) → deterministic split assignment →
    * per-split accounting. Every stage is one of this engine's
    * primitives (t03/t02/d01/t08 shapes) fused into a single lazy
    * plan Catalyst optimizes whole: the filters run at the scan, the
    * dedup is one hash shuffle, the split is a projection, the
    * accounting one final aggregation. */
  val t10 = QueryDef(
    "t10_corpus_clean",
    (s, d) => {
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      val cleaned = Tables.documents(s, d)
        .filter(col("lang") === "en" && col("n_chars") >= 50)
        .select(col("doc_id"), size(tokens).as("n_tokens"), norm.as("t"))
        .filter(col("n_tokens") >= 10)
      val deduped = cleaned
        .withColumn("fp", md5(col("t")))
        .groupBy(col("fp"))
        .agg(min_by(struct(col("doc_id"), col("n_tokens")), col("doc_id")).as("keep"))
        .select(col("keep.doc_id").as("doc_id"), col("keep.n_tokens").as("n_tokens"))
      val bucket = pmod(conv(substring(
        md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long"), lit(100))
      deduped
        .withColumn("split",
          when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).cast("bigint").as("n_tokens"))
        .orderBy(col("split"))
    },
    Some("""
      WITH cleaned AS (
        SELECT doc_id,
               len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM documents
        WHERE lang = 'en' AND n_chars >= 50),
      q AS (SELECT * FROM cleaned WHERE n_tokens >= 10),
      deduped AS (
        SELECT min(doc_id) AS doc_id,
               min_by(n_tokens, doc_id) AS n_tokens
        FROM (SELECT doc_id, n_tokens, md5(t) AS fp FROM q)
        GROUP BY fp),
      split AS (
        SELECT n_tokens,
               CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
                    WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM deduped)
      SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM split
      GROUP BY split
      ORDER BY split"""))

  /** Boilerplate-span removal — the line/paragraph-dedup stage of an
    * LLM corpus pipeline (headers, nav bars, license blocks repeated
    * across a crawl), expressed over 10-token chunks since the
    * synthetic docs have no newlines: any chunk appearing in MORE
    * than 2 distinct documents is dropped from every document, and
    * the survivors are reassembled in order.
    *
    * Scale design: chunk document-frequency is counted and joined on
    * a 60-bit md5 fingerprint (8-byte shuffle keys, never the chunk
    * string); reassembly sorts each doc's kept chunks INSIDE an
    * aggregation buffer (array_sort over ≤ n_chunks structs). That
    * buffer is bounded by a HARD per-doc cap — chunks beyond
    * CHUNK_CAP (32768 chunks = ~320k tokens) are truncated at the
    * chunking step in both engines — so the adversarial 10 MB single
    * document costs a bounded buffer, not an unbounded collect_list
    * (same policy as d03's bottom-k verify sets). Per-doc output is
    * one row regardless of how much was dropped, so the stage
    * composes with t10's corpus-level dedup/split downstream. */
  val t11 = QueryDef(
    "t11_chunk_dedup",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), tokens.as("w"))
      val pos = toks.select(col("doc_id"), posexplode(col("w")).as(Seq("i", "tok")))
        .withColumn("chunk_id", expr("i div 10"))
        .filter(col("chunk_id") < CHUNK_CAP)
      val chunks = pos.groupBy(col("doc_id"), col("chunk_id"))
        .agg(concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(i, tok))), x -> x.tok)")).as("chunk"))
        .withColumn("h",
          conv(substring(md5(col("chunk")), 1, 15), 16, 10).cast("long"))
      val dfc = chunks.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") <= 2)
        .select(col("h"))
      val kept = chunks.join(dfc, "h")
      val out = kept.groupBy(col("doc_id")).agg(
        concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(chunk_id, chunk))), x -> x.chunk)")).as("clean_text"),
        count(lit(1)).as("n_kept"))
      val totals = chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      totals.join(out, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
      pos AS (
        SELECT * FROM (
          SELECT doc_id, e.i AS i, e.tok AS tok, (e.i - 1) // 10 AS chunk_id
          FROM (SELECT doc_id,
                  unnest(list_transform(range(1, len(w) + 1),
                    i -> {'i': i, 'tok': w[i]})) AS e
                FROM toks))
        WHERE chunk_id < """ + CHUNK_CAP + """),
      chunks AS (
        SELECT doc_id, chunk_id, string_agg(tok, ' ' ORDER BY i) AS chunk
        FROM pos GROUP BY doc_id, chunk_id),
      hashed AS (
        SELECT doc_id, chunk_id, chunk,
               CAST(concat('0x', substr(md5(chunk), 1, 15)) AS BIGINT) AS h
        FROM chunks),
      dfc AS (
        SELECT h FROM hashed GROUP BY h HAVING count(DISTINCT doc_id) <= 2),
      kept AS (SELECT k.* FROM hashed k JOIN dfc USING (h)),
      outp AS (
        SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_id) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id),
      totals AS (SELECT doc_id, count(*) AS n_chunks FROM hashed GROUP BY doc_id)
      SELECT t.doc_id,
             coalesce(o.clean_text, '') AS clean_text,
             coalesce(o.n_kept, 0) AS n_kept,
             t.n_chunks - coalesce(o.n_kept, 0) AS n_dropped
      FROM totals t LEFT JOIN outp o ON o.doc_id = t.doc_id
      ORDER BY t.doc_id"""))

  /** Exact dedup: hash-groupBy on the normalized fingerprint; canonical
    * row = min doc_id (deterministic survivor, cf. ops.Dedup). */
  val d01 = QueryDef(
    "d01_exact_dedup",
    (s, d) => {
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      Tables.documents(s, d)
        .select(col("doc_id"), md5(norm).as("fingerprint"))
        .groupBy(col("fingerprint"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("canonical_id"))
    },
    Some("""
      SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
             min(doc_id) AS canonical_id, count(*) AS n_copies
      FROM documents
      GROUP BY 1
      ORDER BY canonical_id"""))

  /** Near-dup detection: word-3-gram shingles → inverted index →
    * df-capped candidate self-join → Jaccard. The df cap (2 ≤ df ≤ 20)
    * bounds the pair blowup; Jaccard is over the df-filtered shingle
    * space on both engines.
    *
    * DOCUMENTED REGIME (kept by design): the
    * fixed cap assumes a natural corpus where shingle document
    * frequency follows Zipf — on such corpora (the `--vocab-growth`
    * generator, any real crawl) candidate pairs are plentiful and d02
    * is non-vacuous at every SF (proven green on sf0.1ng/sf1ng). On a
    * SATURATING corpus — a tiny fixed vocabulary recycled as N grows,
    * like the default 31-word testdata above sf0.01 — every shingle's
    * df eventually exceeds the cap and d02 returns 0 candidate pairs
    * BY DESIGN: a shingle shared by >20 documents identifies nothing
    * (the stop-word argument), and both engines agree on the empty
    * answer. The production knob is the cap itself (df ≤ 20 is the
    * PPJoin-family convention); a quantile-adaptive cap would trade
    * determinism for coverage and is intentionally NOT taken — d11's
    * lossless prefix-filter join is the right tool where recall on
    * saturating data matters.
    *
    * The saturating regime is NOT SILENT:
    * when the cap filters every shingle (zero surviving posting
    * lists), the query emits ONE diagnostic row — doc_a/doc_b = −1,
    * zero counts, null jaccard, vacuous = 1 — instead of an empty
    * result a consumer could misread as "no near-dups". Normal rows
    * carry vacuous = 0. The flag keys off the capped POSTING table
    * (empty posting ⟺ every shingle's df fell outside [2, 20]), not
    * the final pair set, so a corpus whose pairs all fail the jaccard
    * threshold still reads as a real (non-vacuous) empty answer. The
    * oracle replays the same rule as a NOT EXISTS over its `kept`
    * CTE, so the flag is hash-gated on both corpus regimes. */
  val d02 = QueryDef(
    "d02_ngram_jaccard",
    (s, d) => {
      // the inverted index is built as BOUNDED posting lists: one
      // groupBy on the shared table's 60-bit fingerprint with
      // CappedDocsAgg (≤ df-cap+1 ids per buffer — a stop-word
      // shingle never materializes its full posting list), then the
      // ≤ C(20,2) candidate pairs expand IN-ROW from each surviving
      // list. vs the window-count + equality-self-join formulation
      // this drops a per-shingle sort and a join, and nothing in the
      // plan holds unbounded per-group state. The oracle replays the
      // identical df-capped pair space from the shared hashed-shingle
      // CTE (join formulation — result-equal by construction), so a
      // 60-bit collision perturbs both engines identically: parity is
      // exact, not probabilistic.
      val sh = Shingles.hashed(s, d).select(col("doc_id"), col("h60").as("sh"))
      val posting = sh.groupBy("sh")
        .agg(graft.functions.CappedDocsAgg.cappedDocs(col("doc_id"), 20).as("pd"))
        .filter(col("pd.n").between(2, 20))
        .select(array_sort(col("pd.docs")).as("docs"))
        .transform(Memo.persist) // two consumers (cnt, pairs)
      val cnt = posting.select(explode(col("docs")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      // pair expansion as TWO CHAINED GENERATES: the one-shot
      // flatten(transform(..transform(slice..))) form materialized up
      // to C(20,2) structs per posting row through INTERPRETED lambda
      // evaluation — the same non-codegen HOF wall the shingle builder
      // avoids. posexplode + slice-explode emit the same
      // (doc_a, doc_b) pairs (docs is sorted, so a < every element
      // after it) through whole-stage codegen, no struct allocation.
      val pairs = posting
        .select(posexplode(col("docs")).as(Seq("i", "doc_a")), col("docs"))
        .select(col("doc_a"),
          explode(expr("slice(docs, i + 2, size(docs))")).as("doc_b"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_common"))
      val ca = cnt.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"))
      val cb = cnt.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"))
      val scored = pairs.join(ca, Seq("doc_a")).join(cb, Seq("doc_b"))
        .withColumn("jaccard", round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 4))
        .filter(col("jaccard") >= 0.05)
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"),
          col("n_b"), col("jaccard"), lit(0).as("vacuous"))
      // one diagnostic row iff the df cap filtered EVERY shingle —
      // third consumer of the persisted posting table, a count-only
      // scan that emits either zero rows or one literal row
      val diag = posting.groupBy().agg(count(lit(1)).as("__c"))
        .filter(col("__c") === 0)
        .select(lit(-1L).as("doc_a"), lit(-1L).as("doc_b"),
          lit(0L).as("n_common"), lit(0L).as("n_a"), lit(0L).as("n_b"),
          lit(null).cast("double").as("jaccard"), lit(1).as("vacuous"))
      scored.unionByName(diag).orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""
      WITH ${Shingles.oracleCte},
      kept AS (SELECT h60 FROM sh GROUP BY h60 HAVING count(*) BETWEEN 2 AND 20),
      sh2 AS (SELECT s.doc_id, s.h60 FROM sh s JOIN kept USING (h60)),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh2 a JOIN sh2 b ON a.h60 = b.h60 AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_common, n_a, n_b, jaccard, vacuous FROM (
        SELECT p.doc_a, p.doc_b, p.n_common, ca.n_sh AS n_a, cb.n_sh AS n_b,
               round(CAST(p.n_common AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - p.n_common AS DOUBLE), 4) AS jaccard,
               CAST(0 AS INT) AS vacuous
        FROM pairs p
        JOIN cnt ca ON p.doc_a = ca.doc_id
        JOIN cnt cb ON p.doc_b = cb.doc_id
        WHERE round(CAST(p.n_common AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - p.n_common AS DOUBLE), 4) >= 0.05
        UNION ALL
        SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(NULL AS DOUBLE),
               CAST(1 AS INT)
        WHERE NOT EXISTS (SELECT 1 FROM kept))
      ORDER BY doc_a, doc_b"""))

  // regex patterns shared by the Spark plan and the DuckDB oracle —
  // deliberately restricted to the Java-regex ∩ RE2 common subset
  // (classes, bounded repeats, no backrefs/lookaround) so both engines
  // match identically
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  private val ipRe    = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** PII redaction — the compliance pass every training-data pipeline
    * runs before tokenization: emails, phone numbers, and IPv4
    * addresses replaced by typed placeholders, with a per-doc PII
    * count for filtering/reporting. The testdata corpus contains no
    * PII, so each doc gets a deterministic synthetic contact line
    * derived from its id (both engines replay it) — the redaction
    * then provably fires on every row. regexp_replace is a codegen'd
    * narrow projection: no shuffle, scales linearly with corpus
    * bytes. */
  val t12 = QueryDef(
    "t12_pii_redact",
    (s, d) => {
      val txt = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.org or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"), lit(".0.1"))
      Tables.documents(s, d)
        .select(col("doc_id"), txt.as("txt"))
        .select(col("doc_id"),
          (regexp_count(col("txt"), lit(emailRe)) +
            regexp_count(col("txt"), lit(phoneRe)) +
            regexp_count(col("txt"), lit(ipRe))).cast("long").as("n_pii"),
          regexp_replace(regexp_replace(regexp_replace(col("txt"),
            lit(emailRe), lit("<EMAIL>")),
            lit(phoneRe), lit("<PHONE>")),
            lit(ipRe), lit("<IP>")).as("redacted"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id,
               text || ' contact user' || doc_id || '@mail.example.org or +1-555-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
               ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS txt
        FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(txt, '$emailRe')) +
                  len(regexp_extract_all(txt, '$phoneRe')) +
                  len(regexp_extract_all(txt, '$ipRe')) AS BIGINT) AS n_pii,
             regexp_replace(regexp_replace(regexp_replace(txt,
               '$emailRe', '<EMAIL>', 'g'),
               '$phoneRe', '<PHONE>', 'g'),
               '$ipRe', '<IP>', 'g') AS redacted
      FROM t ORDER BY doc_id"""))

  /** Repetition-ratio quality signals (the Gopher/C4-style filters):
    * fraction of duplicated word-trigrams and distinct-word ratio per
    * document — linear per doc, no shuffle, no per-doc state beyond
    * the row itself, so a 10 MB document costs O(its length), not
    * O(length²). Computed by the native one-pass
    * [[graft.functions.TextQuality]] expression: the equivalent
    * array-HOF chain (`transform` trigrams → `array_distinct`) runs
    * as interpreted lambdas at ~1.3 ms/doc (noop-mode bench: 6.48 s
    * at sf0.1, hidden behind `count()`-pruning);
    * the expression does the same arithmetic in one codegen-resident
    * JVM pass. TextQualitySpec pins HOF-equality on random corpora;
    * the DuckDB oracle pins it externally. */
  val t13 = QueryDef(
    "t13_repetition_quality",
    (s, d) => {
      val q = graft.functions.GraftFunctions.textQuality(split(col("text"), " "))
      Tables.documents(s, d)
        .select(col("doc_id"), q.as("q"))
        .select(col("doc_id"),
          col("q.rep3_ratio").as("rep3_ratio"),
          col("q.distinct_word_ratio").as("distinct_word_ratio"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, str_split(text, ' ') AS w FROM documents),
      g AS (
        SELECT doc_id, w,
               CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
               ELSE [] END AS tg
        FROM t)
      SELECT doc_id,
             CASE WHEN len(tg) > 0
               THEN 1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) /
                          CAST(len(tg) AS DOUBLE)
               ELSE 0.0 END AS rep3_ratio,
             CAST(len(list_distinct(w)) AS DOUBLE) /
               CAST(len(w) AS DOUBLE) AS distinct_word_ratio
      FROM g ORDER BY doc_id"""))

  /** Sequence packing — concatenate-then-chunk, the pretraining
    * layout step: documents laid end-to-end in doc_id order and cut
    * into fixed 512-token windows; each output row is one document's
    * span inside one chunk (`off`/`len` in chunk-local tokens), docs
    * straddling a boundary emitting one row per chunk touched.
    * The global token offset comes from [[graft.ops.Pack]]'s two-phase
    * prefix scan (no single-partition window); the chunk fan-out is a
    * narrow explode. The oracle replays the same layout with a
    * cumulative window. */
  val t14 = QueryDef(
    "t14_sequence_pack",
    (s, d) => {
      val B = 512
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(tokens).cast("long").as("n_tok"))
        .filter(col("n_tok") > 0)
      graft.ops.Pack.exclusivePrefixSum(docs, Seq(col("doc_id")),
          "n_tok", "tok_start")
        .withColumn("chunk_id", explode(sequence(
          expr(s"tok_start div $B"),
          expr(s"(tok_start + n_tok - 1) div $B"))))
        .select(col("chunk_id"), col("doc_id"),
          (greatest(col("tok_start"), col("chunk_id") * B) -
            col("chunk_id") * B).as("off"),
          (least(col("tok_start") + col("n_tok"), (col("chunk_id") + 1) * B) -
            greatest(col("tok_start"), col("chunk_id") * B)).as("len"))
        .orderBy(col("chunk_id"), col("doc_id"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok
        FROM documents),
      p AS (
        SELECT doc_id, n_tok,
               CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS tok_start
        FROM d WHERE n_tok > 0),
      e AS (
        SELECT doc_id, n_tok, tok_start,
               unnest(range(tok_start // 512,
                            (tok_start + n_tok - 1) // 512 + 1)) AS chunk_id
        FROM p)
      SELECT chunk_id, doc_id,
             greatest(tok_start, chunk_id * 512) - chunk_id * 512 AS off,
             least(tok_start + n_tok, (chunk_id + 1) * 512) -
               greatest(tok_start, chunk_id * 512) AS len
      FROM e ORDER BY chunk_id, doc_id"""))

  /** Corpus vocabulary top-k — word frequency is THE skewed
    * aggregation (stopwords dominate any natural corpus), so the
    * count runs through [[graft.ops.Salt.saltedCount]]: each word
    * splits into 16 sub-groups on doc_id, partial counts combine in
    * a second (tiny) aggregation, and no single reducer ever owns a
    * stopword's full row stream. Top-100 plans as
    * TakeOrderedAndProject (heap, no global sort); (n DESC, word)
    * makes the cutoff deterministic. */
  val t15 = QueryDef(
    "t15_vocab_topk",
    (s, d) => {
      val words = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens).as("word"))
        .filter(col("word") =!= "")
      graft.ops.Salt.saltedCount(words, Seq(col("word")),
          col("doc_id"), 16, "n")
        .orderBy(col("n").desc, col("word"))
        .limit(100)
    },
    Some("""
      WITH w AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        FROM documents),
      c AS (
        SELECT word, count(*) AS n FROM w WHERE word <> '' GROUP BY word)
      SELECT word, n FROM c ORDER BY n DESC, word LIMIT 100"""))

  /** TF-IDF top terms per document — the classic keyword/feature
    * extraction over a corpus: tf = in-doc term count, df = number of
    * docs containing the term, score = tf·ln(N/df), top-3 terms per
    * doc. Both engines round the score to 4 digits BEFORE the ranking
    * window so ordering is decided on identical values (ln is the one
    * libm-backed function here; at 4 digits a cross-engine ulp
    * difference cannot reorder, and ties fall to the word
    * tiebreaker).
    *
    * Plan at scale: explode → one shuffle to (doc_id, word) tf pairs,
    * PERSISTED (MEMORY_AND_DISK via [[Memo.persist]]) —
    * without the persist, Spark's self-join semantics duplicate the
    * subtree and the corpus is scanned + tokenized TWICE (the two
    * Aggregate branches differ, so ReuseExchange cannot dedupe them;
    * verified in the optimized plan). df is then a genuinely
    * tf-derived word-keyed aggregate (far smaller input than
    * re-exploding the corpus); N joins in as a broadcast scalar; the
    * rank window shuffles tf-table-sized rows on doc_id. The tf⋈df
    * join strategy is deliberately unhinted: the vocabulary grows
    * with the corpus (Heaps' law — NOT broadcast-bounded at 100 TB),
    * and the persisted tf exposes real stats, so Spark broadcasts df
    * while it fits and falls back to a word-keyed shuffle join
    * beyond. PlanQualitySpec pins the single tokenization. */
  val t16 = QueryDef(
    "t16_tfidf_topterms",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val tf = Memo.persist(
        docs.select(col("doc_id"), explode(tokens).as("word"))
          .filter(col("word") =!= "")
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("tf")))
      val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("word"))
      tf.join(dfreq, Seq("word"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("word"), col("tf"),
          col("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        FROM documents),
      tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM toks WHERE word <> '' GROUP BY doc_id, word),
      dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.word, tf.tf, dfreq.df,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 4) AS tfidf
        FROM tf JOIN dfreq USING (word) CROSS JOIN n),
      r AS (SELECT doc_id, word, tf, df, tfidf,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY tfidf DESC, word) AS rk
            FROM scored)
      SELECT doc_id, rk, word, tf, df, tfidf
      FROM r WHERE rk <= 3
      ORDER BY doc_id, rk"""))

  /** LOSSLESS similarity join via PREFIX FILTERING (PPJoin family —
    * Chaudhuri SSJoin 2006 / Xiao et al. 2008) — the exact complement
    * of [[d02]]'s df-capped index: the cap BOUNDS the pair blowup but
    * silently drops any pair whose only shared shingles are common
    * (df > 20); this query finds EVERY pair with Jaccard ≥ 1/2,
    * guaranteed, while still never materializing the full self-join.
    *
    * The filter: order each doc's shingles by a global rank
    * (ascending document frequency, ties by h60 — rarest first), and
    * index only the first |d| − ⌈t·|d|⌉ + 1 of them. Two docs with
    * J ≥ t must overlap in ≥ ⌈t·max(|x|,|y|)⌉ shingles, so skipping
    * fewer than that many from each side cannot skip the entire
    * intersection — some shared shingle lands in BOTH prefixes, and
    * the equi-join on prefix shingles recovers the pair (no false
    * negatives, for ANY global order). Ordering rarest-first merely
    * makes the surviving candidate set small: prefixes preferentially
    * hold rare shingles, whose postings are short. The PPJoin length
    * filter (t·|x| ≤ |y|, both directions) prunes size-mismatched
    * candidates before the distinct.
    *
    * THE GATE PROVES LOSSLESSNESS EXTERNALLY: the oracle does not
    * replay the prefix filter — it brute-forces the full h60
    * self-join and keeps J ≥ 1/2. Hash equality = the filtered plan
    * found exactly the pairs the exhaustive one did.
    *
    * At 100 TB: df table and prefix join are equi-shuffles on h60;
    * the per-doc rank windows are keyed by doc_id (the shared table
    * is already doc_id-clustered); candidate verification joins are
    * |cand|-bounded. Nothing holds unbounded per-group state and no
    * stage is quadratic in the corpus — pair work is Σ over prefix
    * shingles of posting², the quantity the rarest-first order
    * minimizes. */
  val d11 = QueryDef(
    "d11_prefix_filter_join",
    (s, d) => {
      val sh = Shingles.hashed(s, d).select(col("doc_id"), col("h60"))
      val dfc = sh.groupBy("h60").agg(count(lit(1)).as("df"))
      val byDoc = Window.partitionBy(col("doc_id"))
      // SUFFIX-FILTER-CLASS per-doc token bitmap (the
      // PPJoin+ refinement slot, Xiao et al. WWW 2008 §4): a 256-bit
      // bloom of each doc's FULL h60 set, carried as four longs on
      // every prefix entry. For a candidate pair, every common token
      // hashes to a bit set in BOTH signatures, and distinct tokens
      // behind distinct bits of sigA & ~sigB are provably non-common,
      // so overlap ≤ n_a − popcount(sigA & ~sigB) (and symmetrically
      // for b) — a LOSSLESS upper bound costing 8 bitwise ops + 8
      // bit_counts per candidate, evaluated in the join RESIDUAL so a
      // pruned pair never reaches the pair-dedup shuffle, the
      // positional filter, or the array verify. Xiao's original
      // suffix filter probes O(log n) suffix positions per pair; the
      // bitmap is the same constant-work-per-candidate idea with
      // Spark-codegen-native operations and no per-pair array access.
      // Measured at sf1: candidates surviving the positional filter
      // alone were 17.3M (for 1 490 true pairs); the bitmap kills
      // them before the 39M-row pair shuffle instead of after it.
      val sigCols = (0 until 4).map { k =>
        expr(s"bit_or(CASE WHEN pmod(h60, 256) div 64 = $k" +
            s" THEN shiftleft(1L, int(pmod(h60, 64))) ELSE 0L END)")
          .over(byDoc).as(s"sig$k")
      }
      val ranked = sh.join(dfc, "h60")
        .withColumn("n_tok", count(lit(1)).over(byDoc))
        .select(col("*") +: sigCols: _*)
        .withColumn("rn",
          row_number().over(byDoc.orderBy(col("df"), col("h60"))))
      // prefix length |d| − ⌈|d|/2⌉ + 1, all-integer (t = 1/2).
      // Persisted: the df join + two rank windows above it would
      // otherwise run once per self-join side (DumpPlan: the whole
      // subtree duplicated under both BroadcastHashJoin branches)
      val prefix = Memo.persist(ranked
        .filter(col("rn") <= expr("n_tok - ((n_tok + 1) div 2) + 1"))
        .select(Seq(col("h60"), col("doc_id"), col("n_tok"), col("rn")) ++
          (0 until 4).map(k => col(s"sig$k")): _*))
      val a = prefix.select(Seq(col("h60"), col("doc_id").as("doc_a"),
        col("n_tok").as("na"), col("rn").as("pa")) ++
        (0 until 4).map(k => col(s"sig$k").as(s"sa$k")): _*)
      val b = prefix.select(Seq(col("h60"), col("doc_id").as("doc_b"),
        col("n_tok").as("nb"), col("rn").as("pb")) ++
        (0 until 4).map(k => col(s"sig$k").as(s"sb$k")): _*)
      // overlap threshold ⌈t/(1+t)·(na+nb)⌉ = ⌈(na+nb)/3⌉ at t = 1/2;
      // the bitmap bound must reach it in both directions
      val aNotB = (0 until 4).map(k =>
        expr(s"bit_count(sa$k & ~sb$k)")).reduce(_ + _)
      val bNotA = (0 until 4).map(k =>
        expr(s"bit_count(sb$k & ~sa$k)")).reduce(_ + _)
      val bitmapBound =
        col("na") - aNotB >= expr("(na + nb + 2) div 3") &&
        col("nb") - bNotA >= expr("(na + nb + 2) div 3")
      // POSITIONAL filter (the PPJoin refinement, Xiao et al. 2008):
      // group the prefix matches per pair and keep the RAREST shared
      // prefix token (min global rank — min(pa) and min(pb) name the
      // same token, since per-doc rank follows the one global order).
      // Every common token of a J ≥ 1/2 pair sorts at-or-after it, so
      // overlap ≤ 1 + min(n_a − pa, n_b − pb); pairs whose bound
      // can't reach the overlap threshold ⌈(n_a+n_b)/3⌉ die BEFORE
      // the array verify. Lossless (the bound only ever exceeds the
      // true overlap); on saturated corpora — where prefix tokens are
      // common and matches sit late in the prefix — this prunes the
      // bulk of the candidate set the plain prefix filter lets
      // through (the sf1 generated corpus measures avg posting 88.7
      // vs the bench corpus's 9.6). The groupBy replaces the old
      // `.distinct()` — same shuffle, one extra tiny filter.
      val cand = a.join(b,
          a("h60") === b("h60") && col("doc_a") < col("doc_b") &&
            col("nb") * 2 >= col("na") && col("na") * 2 >= col("nb") &&
            bitmapBound)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(min(col("pa")).as("pa"), min(col("pb")).as("pb"),
          min(col("na")).as("na"), min(col("nb")).as("nb"))
        .filter(lit(1) + least(col("na") - col("pa"), col("nb") - col("pb"))
          >= expr("(na + nb + 2) div 3"))
        .select(col("doc_a"), col("doc_b"))
      // verification by per-doc set arrays, not a token-level join: a
      // candidate ⋈ tokens(a) ⋈ tokens(b) explosion costs
      // |cand|·avg_tokens rows (measured 15M at sf0.1, the query's
      // whole budget); two array lookups + an in-row array_intersect
      // cost |cand| rows of O(n_a+n_b) work each, no shuffle, no
      // re-aggregation. Per-doc array state is bounded by doc length
      // (the same bound the shingle table itself carries).
      val sets = sh.groupBy("doc_id")
        .agg(collect_set(col("h60")).as("hs"))
      val common = cand
        .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha")),
          Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("ha"), col("hb"))).cast("long")
            .as("n_common"),
          size(col("ha")).cast("long").as("n_a"),
          size(col("hb")).cast("long").as("n_b"))
      // Threshold on the EXACT integer form 2·|A∩B| ≥ |A∪B| (never the
      // rounded double): round(j,4) ≥ 0.5 admits J ∈ [0.49995, 0.5),
      // pairs the nb·2 ≥ na size-ratio filter legitimately prunes —
      // rounding before the test would break losslessness on
      // adversarial corpora. round() survives only as display.
      common
        .filter(col("n_common") * 2 >=
          col("n_a") + col("n_b") - col("n_common"))
        .withColumn("jaccard", round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 4))
        .select(col("doc_a"), col("doc_b"), col("n_common"),
          col("n_a"), col("n_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""
      WITH ${Shingles.oracleCte},
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.h60 = b.h60 AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      -- NOTE: deliberately the UNFILTERED exhaustive self-join — the
      -- oracle must not replay the prefix/positional/bitmap filters,
      -- or the gate would prove self-consistency instead of
      -- losslessness.
      SELECT doc_a, doc_b, n_common, n_a, n_b, jaccard FROM (
        SELECT p.doc_a, p.doc_b, p.n_common, ca.n_sh AS n_a, cb.n_sh AS n_b,
               round(CAST(p.n_common AS DOUBLE) /
                     CAST(ca.n_sh + cb.n_sh - p.n_common AS DOUBLE), 4) AS jaccard
        FROM pairs p
        JOIN cnt ca ON p.doc_a = ca.doc_id
        JOIN cnt cb ON p.doc_b = cb.doc_id)
      WHERE n_common * 2 >= n_a + n_b - n_common
      ORDER BY doc_a, doc_b"""))

  /** Substring-level gram length for [[d12]]: 8 tokens. Lee et al.
    * (ACL 2022, "Deduplicating Training Data Makes Language Models
    * Better") use 50 BPE tokens on web corpora; the synthetic docs
    * average ~50 words, so 8 keeps planted duplicate overlaps
    * detectable while random 8-grams stay unique. */
  private[queries] val GRAM_L = 8

  /** EXACT SUBSTRING DEDUP — maximal duplicated-span detection, the
    * within-document complement of [[d01]]'s whole-doc dedup and
    * [[t11]]'s disjoint-chunk boilerplate removal: find every maximal
    * token span that occurs more than once ANYWHERE in the corpus (at
    * any alignment, any document — including twice inside one
    * document), the substring-dedup stage of Lee et al. ACL 2022.
    * t11 cannot see a duplicated passage that straddles its fixed
    * 10-token chunk grid; this query slides an overlapping
    * [[GRAM_L]]-token window over every position, so a shared span is
    * caught wherever it starts.
    *
    * Shape: (1) one gram per token position (n − L + 1 per doc),
    * hashed to 60-bit md5 keys immediately — gram STRINGS never
    * shuffle; (2) corpus-wide occurrence count per gram hash — an
    * algebraic hash-agg; grams occurring ≥ 2× are "duplicated"
    * (NOTE: no df cap is needed, unlike d02/d11 — there is no pair
    * self-join anywhere, a gram shared by 10⁶ docs just means 10⁶
    * covered positions, work linear in the data); (3) left-semi-style
    * join of gram starts against the duplicated set; (4) per-doc
    * merge of covered intervals [i, i+L−1] into maximal spans —
    * classic gaps-and-islands over one doc_id-partitioned window
    * (running max of span end; a new island opens when a start clears
    * the previous coverage edge + 1).
    *
    * At 100 TB: stage 2 and 4 are the only shuffles (8-byte hash
    * keys; doc_id keys), both with map-side partials; per-doc window
    * state is one long. Gram construction is O(n·L) characters — the
    * distributed trade for the suffix array's O(n) (which needs
    * global order, hostile to partitioning); L is a small constant —
    * and it runs ONCE: the hashed gram table is persisted (the
    * Shingles discipline), because the occurrence-count branch and
    * the position branch otherwise each re-run the posexplode + md5
    * over the whole corpus (measured at sf1: the duplicated gram
    * build was ~2/3 of the query's wall — 7.6 s of a 22 s total,
    * paid twice). Stage 3 is a BLOOM-prefiltered exact semi join
    * ([[graft.ops.BloomSemi]]): only grams whose
    * hash passes the duplicated-set bloom enter the join at all, so
    * when the duplicated-gram set outgrows a broadcast hash table
    * (the 100 TB regime — at sf1 it is 32k keys and AQE broadcasts),
    * the join's wide shuffle carries ~duplicated-mass instead of
    * every gram position; the exact semi join removes the bloom's
    * false positives, keeping the result identical.
    * 60-bit hashing can alias two distinct grams (P ≈ n²/2⁶¹ — at
    * 10¹² grams, ~one in 2300 corpora), the same accepted collision
    * budget as t11/d02's h60 keys; the oracle replays the identical
    * hash so the gate is exact. */
  val d12 = QueryDef(
    "d12_substring_dedup",
    (s, d) => {
      val L = GRAM_L
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), tokens.as("w"))
        .filter(size(col("w")) >= L)
      // gram construction explodes the POSITION INDEX and builds each
      // gram string as a regular codegen'd projection (concat_ws +
      // slice) rather than inside a transform(...) lambda: the
      // interpreted HOF was the build's wall (A/B at sf1:
      // 6.9 → 3.6 s warm for identical hash sums). The exploded rows
      // carry `w` once each — row-width cost the codegen win dwarfs.
      val grams = Memo.persist(toks
        .select(col("doc_id"), col("w"),
          explode(expr(s"sequence(0, size(w) - $L)")).as("i"))
        .select(col("doc_id"), col("i"),
          conv(substring(md5(expr(s"concat_ws(' ', slice(w, i + 1, $L))")),
            1, 15), 16, 10).cast("long").as("h")))
      val dup = grams.groupBy(col("h"))
        .agg(count(lit(1)).as("occ"))
        .filter(col("occ") > 1)
        .select(col("h").as("dup_h"))
      // 2²⁰ bloom bits: at sf1's 32k duplicated hashes the fp rate is
      // ~7·10⁻⁴; if the duplicated set grows 100× the bloom degrades
      // gracefully (more survivors shuffle, result unchanged)
      val hits = graft.ops.BloomSemi.semiJoin(
          grams, col("h"), dup, col("dup_h"), numBits = 1 << 20)
        .select(col("doc_id"), col("i"))
      val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      hits
        .withColumn("prev_end",
          max(col("i") + lit(L - 1))
            .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_span",
          when(col("prev_end").isNull || col("i") > col("prev_end") + 1, 1)
            .otherwise(0))
        .withColumn("span_id",
          sum(col("new_span")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("doc_id"), col("span_id"))
        .agg(min(col("i")).cast("long").as("span_start"),
          (max(col("i")) + lit(L - 1)).cast("long").as("span_end"),
          (max(col("i")) - min(col("i")) + lit(L)).cast("long").as("span_len"))
        .select(col("doc_id"), col("span_start"), col("span_end"), col("span_len"))
        .orderBy(col("doc_id"), col("span_start"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
      g AS (
        SELECT doc_id, i - 1 AS i,
               CAST(concat('0x', substr(md5(array_to_string(w[i:i+${GRAM_L - 1}], ' ')), 1, 15)) AS BIGINT) AS h
        FROM (SELECT doc_id, w, unnest(range(1, len(w) - $GRAM_L + 2)) AS i
              FROM toks WHERE len(w) >= $GRAM_L)),
      dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
      hits AS (SELECT g.doc_id, g.i FROM g JOIN dup USING (h)),
      sp AS (
        SELECT doc_id, i,
               max(i + ${GRAM_L - 1}) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM hits),
      isl AS (
        SELECT doc_id, i,
               sum(CASE WHEN prev_end IS NULL OR i > prev_end + 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        FROM sp)
      SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
             CAST(max(i) + ${GRAM_L - 1} AS BIGINT) AS span_end,
             CAST(max(i) - min(i) + $GRAM_L AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, span_id
      ORDER BY doc_id, span_start"""))

  /** HASHED LINEAR CLASSIFIER INFERENCE — the fastText-style quality
    * classifier of the CCNet / LLaMA pretraining pipelines (Joulin et
    * al. 2016's hashing trick), as pure map-side Spark: features are
    * unigrams plus word bigrams, each hashed straight to its weight —
    * weight(f) = (h60(f) mod 2001) − 1000, a deterministic stand-in
    * in [−1000, 1000] milli-units for a trained table (a real model
    * ships as a broadcast hash-bucket→weight array; the pipeline
    * shape — hash, look up, average, threshold — is identical, and
    * NO vocabulary join is ever needed: that is the point of the
    * hashing trick at 10¹¹ docs). The doc score is the mean feature
    * weight; keep = score ≥ 0.
    *
    * Decided entirely in integer micro-units (the t19 lesson): the
    * weight sum is an exact long, and the mean is computed as
    * ((sum + 1000·n) · 1000) div n − 10⁶ — the +1000·n shift keeps
    * the dividend non-negative so Spark's truncating `div` and
    * DuckDB's flooring `//` agree. No float enters the comparison.
    *
    * At 100 TB: one explode + one hash-agg on doc_id with map-side
    * partials; no join, no broadcast, no window — the cheapest
    * possible distributed shape, entirely inside whole-stage
    * codegen. */
  val t22 = QueryDef(
    "t22_classifier_score",
    (s, d) => {
      val feats = Tables.documents(s, d)
        .select(col("doc_id"), tokens.as("w"))
        .select(col("doc_id"), explode(expr(
          """concat(
               transform(w, t -> concat('uqw:', t)),
               CASE WHEN size(w) >= 2
                 THEN transform(sequence(0, size(w) - 2),
                                i -> concat('bgw:', w[i], ' ', w[i + 1]))
                 ELSE array() END)""")).as("f"))
      val wm = (conv(substring(md5(col("f")), 1, 15), 16, 10).cast("long")
        % 2001) - 1000
      feats.select(col("doc_id"), wm.as("wm"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_feats"), sum(col("wm")).as("wsum"))
        .withColumn("logit_micro",
          expr("((wsum + 1000 * n_feats) * 1000) div n_feats - 1000000"))
        .withColumn("keep", col("logit_micro") >= 0)
        .select(col("doc_id"), col("n_feats"), col("logit_micro"), col("keep"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
      f AS (
        SELECT doc_id, unnest(list_concat(
          list_transform(w, t -> 'uqw:' || t),
          list_transform(range(1, len(w)), i -> 'bgw:' || w[i] || ' ' || w[i+1]))) AS f
        FROM toks),
      wm AS (
        SELECT doc_id,
               (CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT) % 2001) - 1000 AS wm
        FROM f)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
             ((CAST(sum(wm) AS BIGINT) + 1000 * count(*)) * 1000) // count(*) - 1000000 AS logit_micro,
             (((CAST(sum(wm) AS BIGINT) + 1000 * count(*)) * 1000) // count(*) - 1000000) >= 0 AS keep
      FROM wm GROUP BY doc_id
      ORDER BY doc_id"""))

  /** Merge rounds learned by [[t23]]. Real tokenizers run 30k–100k
    * rounds with incremental pair-delta updates; K=8 full-recount
    * rounds exercise the same distributed shape per round (and reach
    * the first multi-char merges on the spec corpora). */
  private[queries] val BPE_ROUNDS = 8

  /** DISTRIBUTED BPE TOKENIZER TRAINING (Sennrich et al. ACL 2016) —
    * the step BEFORE every token-counting query ([[t05]]) exists: learn
    * the merge table itself. The classic algorithm is inherently
    * sequential (each merge depends on the last), but its per-round
    * body is pure data-parallel aggregation, and — the scale key — it
    * runs over the WORD-FREQUENCY TABLE, not the corpus: the corpus is
    * touched exactly once (one explode + word hash-agg, the only
    * corpus-scale stage, persisted); every round then (1) sums
    * adjacent-symbol-pair counts weighted by word frequency over the
    * |V|-row vocab, (2) takes the argmax pair (count desc, then
    * lexicographic — total order, so both engines pick the identical
    * pair), (3) rewrites each word's symbol array by a greedy
    * left-to-right fold (`aggregate` HOF: merge when the accumulator's
    * last symbol is L and the next is R — merged symbols are strictly
    * longer than their parts, so a replacement can never create a new
    * (L,R) adjacency, which makes the fold equal to repeated
    * first-occurrence replacement; the oracle exploits exactly that
    * equivalence with a recursive CTE per round).
    *
    * The per-round argmax is a one-row driver collect (the q67
    * bounded-gather class: K rows total, never scaling with data) —
    * unavoidable, because round k's fold literals ARE round k−1's
    * result; the vocab table itself stays distributed (at 100 TB web
    * scale |V| is 10⁷–10⁸ noisy types and must never sit on the
    * driver). Output = the learned merge table, the artifact a
    * tokenizer trainer ships. */
  val t23 = QueryDef(
    "t23_bpe_train",
    (s, d) => {
      // the merge table already lives on the driver (K bounded rows —
      // the per-round argmax collects ARE the result); returning it as
      // a local relation instead of a union of K limit(1) plans means
      // downstream materialization doesn't re-run the training chain
      import s.implicits._
      bpeTrain(s, d)._1
        .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
        .orderBy(col("merge_rank"))
    },
    Some(bpeOracle(BPE_ROUNDS)))

  /** FROZEN-TOKENIZER ARTIFACT — the trained
    * merge table + segmented vocab persisted ONCE per corpus data
    * version as a [[graft.sources.Versioned]] table pair (time-travel
    * readable — the q72 machinery — so a tokenizer rollout can be
    * audited and rolled back like any other versioned dim). A
    * consumer that re-derives the training through the session cache
    * un-shares it across bench artifacts (st20 paid ~1.6 s of vocab
    * training the headline had amortized through st19). The artifact
    * dir is keyed by the DOCUMENTS DATA VERSION
    * ([[graft.plans.StatsStore.fingerprintOf]]: input file list +
    * bytes — the sidecar-stats invalidation contract), the train
    * split, and the round budget, so a regenerated corpus can never
    * serve a stale vocab: its fingerprint names a different artifact,
    * and the gate's DuckDB oracle — which always retrains in SQL —
    * would catch a collision. vocab commits before merges; a crash
    * between the two leaves the loader returning None (both tables
    * required), and re-commits of the same fingerprint are
    * deterministic re-trainings of the same data, so mixed version
    * numbers still carry identical content. */
  private def bpeArtifactDir(s: org.apache.spark.sql.SparkSession, d: String,
      trainSplitOnly: Boolean): Option[String] =
    graft.plans.StatsStore.fingerprintOf(Tables.documents(s, d)).map { fp =>
      val root = sys.env.getOrElse("SPARK_GRAFT_BPE_DIR",
        java.nio.file.Paths.get(System.getProperty("user.dir", "."))
          .resolve("spark-warehouse/graft-bpe").toString)
      val split = if (trainSplitOnly) "train" else "full"
      s"$root/k${BPE_ROUNDS}_${split}_${java.lang.Long.toHexString(fp)}"
    }

  private def loadBpeArtifact(s: org.apache.spark.sql.SparkSession, dir: String)
      : Option[(Seq[(Int, String, String, String, Long)], org.apache.spark.sql.DataFrame)] = {
    import graft.sources.Versioned
    if (Versioned.versions(s, s"$dir/merges").isEmpty ||
        Versioned.versions(s, s"$dir/vocab").isEmpty) None
    else {
      val m = Versioned.read(s, s"$dir/merges")
        .select(col("merge_rank"), col("lhs"), col("rhs"), col("merged"),
          col("pair_count"))
        .orderBy(col("merge_rank")).collect().toSeq
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4)))
      val v = Memo.persist(Versioned.read(s, s"$dir/vocab")
        .select(col("word"), col("wc"), col("syms")))
      Some((m, v))
    }
  }

  /** Per-artifact-dir JVM locks for [[saveBpeArtifact]]:
    * Versioned.commit sweeps ALL _tmp_v* staging dirs before writing,
    * and the trainer ([[bpeTrain]]) and consumer ([[bpeFrozen]])
    * serialize under DIFFERENT memo keys — so two threads
    * bootstrapping the same fingerprint dir concurrently could sweep
    * each other's in-flight staging and die on the rename. Benign
    * under today's sequential Bench/Verify; the lock closes the
    * latent spurious-failure if query execution is ever
    * parallelized. (Cross-JVM writers still rely on the write-once
    * fingerprint key: both would commit identical content.) */
  private val bpeSaveLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def saveBpeArtifact(s: org.apache.spark.sql.SparkSession, dir: String,
      trained: (Seq[(Int, String, String, String, Long)], org.apache.spark.sql.DataFrame)): Unit = {
    import graft.sources.Versioned
    import s.implicits._
    val lock = bpeSaveLocks.computeIfAbsent(dir, _ => new Object)
    lock.synchronized {
      // idempotent write-once: the fingerprint key means an existing
      // artifact already holds this training's content
      if (Versioned.versions(s, s"$dir/merges").isEmpty) {
        Versioned.commit(s, s"$dir/vocab",
          trained._2.select(col("word"), col("wc"), col("syms")).coalesce(1))
        Versioned.commit(s, s"$dir/merges", trained._1
          .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count").coalesce(1))
      }
    }
  }

  /** One greedy left-to-right merge pass of (l, r) over a symbol array
    * — the single fold both training re-segmentation and held-out
    * apply ([[t25]]) run, factored so the two cannot drift.
    *
    * No interpreted expressions on the hot path: an `aggregate` HOF
    * evaluates an interpreted lambda per SYMBOL per word per round —
    * t23 re-folds the whole vocab every one of its K rounds, and
    * t25/st19/st20 replay all K merges per OOV word. The
    * fold is replaced by STRING replacement over the space-joined
    * array: symbols can never contain whitespace (words are split on
    * `\s+`, merged symbols are concatenations), so the join is
    * lossless, and Java's regex engine scans left-to-right replacing
    * non-overlapping matches — exactly the greedy fold's order (a
    * merged symbol is strictly longer than its parts, so a replacement
    * can never create a new (l, r) adjacency; the lookahead keeps the
    * trailing separator for back-to-back pairs, and consuming the
    * LEADING separator makes an overlapping l==r chain skip the middle
    * occurrence just like the fold). l/r are regex-quoted, the
    * replacement backslash/dollar-escaped. `when(size < 2)` keeps the
    * degenerate arrays (empty, singleton) verbatim — `concat_ws`
    * cannot round-trip them. BpeTrainSpec proves fold≡replace on
    * adversarial inputs against the `aggregate` fold, which it keeps
    * as its reference; every consumer is hash-gated. */
  private[graft] def mergeFold(syms: org.apache.spark.sql.Column, l: String, r: String)
      : org.apache.spark.sql.Column = {
    val pat = "(^| )" + java.util.regex.Pattern.quote(l) + " " +
      java.util.regex.Pattern.quote(r) + "(?= |$)"
    val rep = "$1" + java.util.regex.Matcher.quoteReplacement(l + r)
    when(size(syms) < 2, syms)
      .otherwise(split(regexp_replace(concat_ws(" ", syms), pat, rep), " "))
  }

  /** ALL K merge passes in one expression — the chained-replay shape
    * t25/st19/st20 run per OOV word. Chaining [[mergeFold]] K deep
    * nests its degenerate-array guard K times, each referencing its
    * child THREE times (size probe + two branches): the expression
    * tree grows 3^K and measured 6–39 s at sf0.1 for K=8. Here the
    * array crosses to the string form ONCE, the K replacement passes
    * run back-to-back on the string (a singleton or empty string
    * contains no separator, so the patterns — which all require one —
    * cannot fire: no per-level guard needed), and ONE final guard
    * keeps the empty array verbatim (`split("")` would yield [""]).
    * Equivalent to foldLeft(mergeFold) by construction; BpeTrainSpec
    * proves it against the same `aggregate` fold reference. */
  private[graft] def mergeFoldAll(syms: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val replaced = merges.foldLeft(concat_ws(" ", syms)) { case (c, (l, r)) =>
      val pat = "(^| )" + java.util.regex.Pattern.quote(l) + " " +
        java.util.regex.Pattern.quote(r) + "(?= |$)"
      regexp_replace(c, pat, "$1" + java.util.regex.Matcher.quoteReplacement(l + r))
    }
    when(size(syms) === 0, syms).otherwise(split(replaced, " "))
  }

  /** The TRAINER entry — t23 only: always trains (that cost is what
    * t23's bench line measures), then write-through-publishes the
    * frozen artifact for the consumers. [[t23]] ships the merge table,
    * the consumers apply the segmented vocab. One training per
    * (session, corpus, mode) and pass through [[Memo]], under a key
    * DISTINCT from [[bpeFrozen]]'s so a consumer warming the frozen
    * artifact can never serve t23 a training it didn't run. An
    * external `catalog.clearCache()` (Bench between passes) drops the
    * persisted vocab and the next caller recomputes — the trainer
    * RE-TRAINS, the consumers RE-READ the frozen artifact (a
    * production token monitor's cold start IS an artifact load, never
    * a training run). */
  private[queries] def bpeTrain(s: org.apache.spark.sql.SparkSession, d: String,
      trainSplitOnly: Boolean = false)
      : (Seq[(Int, String, String, String, Long)], org.apache.spark.sql.DataFrame) =
    Memo(s, "bpe:" + d + (if (trainSplitOnly) "#train" else "")) {
      val trained = trainBpe(s, d, trainSplitOnly)
      bpeArtifactDir(s, d, trainSplitOnly)
        .foreach(dir => saveBpeArtifact(s, dir, trained))
      trained
    }

  /** The CONSUMER entry — t24/t25/st19/st20: LOADS the frozen
    * tokenizer artifact (the production monitor's cold start — a
    * parquet read, not a training run); bootstraps by training +
    * committing only when no artifact exists for this corpus data
    * version. Distinct cache key from [[bpeTrain]] so consumer warmth
    * never masks the trainer's cost. */
  private[queries] def bpeFrozen(s: org.apache.spark.sql.SparkSession, d: String,
      trainSplitOnly: Boolean = false)
      : (Seq[(Int, String, String, String, Long)], org.apache.spark.sql.DataFrame) =
    Memo(s, "bpe:" + d + (if (trainSplitOnly) "#train" else "") + "#frozen") {
      bpeArtifactDir(s, d, trainSplitOnly) match {
        case Some(dir) =>
          loadBpeArtifact(s, dir).getOrElse {
            val trained = trainBpe(s, d, trainSplitOnly)
            saveBpeArtifact(s, dir, trained)
            trained
          }
        // no single-leaf fingerprint (exotic corpus plumbing): fall
        // back to the session-scoped training, never a keyless file
        case None => trainBpe(s, d, trainSplitOnly)
      }
    }

  private def trainBpe(s: org.apache.spark.sql.SparkSession, d: String,
      trainSplitOnly: Boolean)
      : (Seq[(Int, String, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    val corpus = Tables.documents(s, d)
    val words = Memo.persist(
      (if (trainSplitOnly) corpus.filter(docBucket < 90) else corpus)
        .select(explode(tokens).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wc")))
    var vocab = words.withColumn("syms",
      filter(split(col("word"), ""), x => x =!= ""))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    // iteration discipline (the q66/q75 class): each round's vocab is
    // persisted so round k's pair-count job reads round k-1's cached
    // rows instead of re-evaluating the whole fold chain from the
    // word table (O(K) fold evaluations, not O(K^2)); the copy two
    // rounds back is released as soon as its successor materializes,
    // so peak cache = 2 x |V| rows at any K
    var prevCached: Option[org.apache.spark.sql.DataFrame] = None
    var curCached: Option[org.apache.spark.sql.DataFrame] = None
    var k = 1
    var exhausted = false
    // a tiny corpus can run out of adjacent pairs before K rounds —
    // the merge table then legitimately stops short (the oracle's
    // empty b_k stages produce the same truncation)
    while (k <= BPE_ROUNDS && !exhausted) {
      // adjacent pairs via a codegen Generate (as in d02 — the
      // transform(sequence…struct) lambda evaluated interpreted,
      // once per symbol per word per round): explode the tail slice,
      // read the left symbol by position (0-based bracket access) —
      // identical (lhs, rhs) multiset, no struct allocation
      val pairs = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("wc"), col("syms"),
          posexplode(expr("slice(syms, 2, size(syms) - 1)")).as(Seq("i", "rhs")))
        .groupBy(expr("syms[i]").as("lhs"), col("rhs"))
        .agg(sum(col("wc")).as("pair_count"))
      val best = pairs
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs")).limit(1)
        .collect().headOption
      best match {
        case None =>
          // early exhaustion: curCached IS the final vocab — leave the
          // two-copy bookkeeping untouched so the post-loop unpersist
          // drops only the k-2 copy, never the final segmentation
          // (assigning prevCached = curCached here would make the
          // cleanup below drop the final vocab's cache and force the
          // whole fold chain to recompute on the next action)
          exhausted = true
        case Some(b) =>
          // the collect above materialized curCached (= this round's
          // input), so the copy feeding IT is no longer reachable by
          // future rounds
          prevCached.foreach(_.unpersist(false))
          prevCached = curCached
          val (bl, br) = (b.getString(0), b.getString(1))
          merges += ((k, bl, br, bl + br, b.getLong(2)))
          vocab = vocab.withColumn("syms", mergeFold(col("syms"), bl, br))
            .persist()
          curCached = Some(vocab)
          k += 1
      }
    }
    prevCached.foreach(_.unpersist(false))
    // the FINAL segmented vocab survives for t24 (and release()'s
    // end-of-run cleanup — Memo.persist registers it; persist() above
    // already used the same MEMORY_AND_DISK level so re-registering is
    // a no-op on storage)
    (merges.toSeq, Memo.persist(vocab))
  }

  /** BPE TOKENIZER APPLY — the companion corpus-scale stage to
    * [[t23]]: segment every document with the learned merge table and
    * account tokens per doc (the "tokenize the corpus, report the
    * token budget" step every pretraining data plan ends with). The
    * trained vocab already holds each word's final segmentation, so
    * apply = ONE equi-join of the exploded corpus against the |V|-row
    * vocab on `word` (broadcast when |V| fits, shuffle-hash at web
    * scale — AQE's call) + a doc_id hash-agg; no per-document merge
    * loop ever runs. Reads the frozen artifact via [[bpeFrozen]]. */
  val t24 = QueryDef(
    "t24_bpe_apply",
    (s, d) => {
      val vocab = bpeFrozen(s, d)._2
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens).as("word"))
        .join(vocab.select(col("word"), size(col("syms")).as("n_syms")),
          Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_syms")).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    },
    Some(bpeApplyOracle(BPE_ROUNDS)))

  /** HELD-OUT (OOV-SAFE) BPE APPLY — the production tokenizer shape
    * [[t24]] cannot cover: t24's join works because apply corpus =
    * train corpus, so every word sits in the trained vocab. Real
    * pipelines tokenize data the trainer NEVER saw (new crawl snapshot,
    * the val/test splits). t25 trains on the t08 train split only
    * (bucket < 90, its own [[bpeTrain]] cache entry) and segments the
    * VAL split by replaying the K merges in rank order over the
    * DISTINCT-val-word table — correct for any word, in-vocab or OOV,
    * because a rank-k merge can only create pairs of rank > k (merged
    * symbols postdate their parts), so sequential rank-order passes
    * equal the reference tokenizer's lowest-rank-first loop. Scale
    * shape: the K folds compose into ONE narrow projection over |W|
    * distinct words (no shuffle, no per-round job — the corpus-scale
    * side only ever sees the one word equi-join + doc_id agg of t24).
    * On the driver corpora the 31-word vocab means zero genuinely
    * unseen val words; the OOV path itself is pinned by BpeTrainSpec
    * on a constructed split corpus where it must fire. */
  val t25 = QueryDef(
    "t25_bpe_apply_oov",
    (s, d) => {
      val merges = bpeFrozen(s, d, trainSplitOnly = true)._1
      val valDocs = Tables.documents(s, d)
        .filter(docBucket >= 90 && docBucket < 95)
      val seg = mergeFoldAll(
        filter(split(col("word"), ""), x => x =!= ""),
        merges.map { case (_, l, r, _, _) => (l, r) })
      val segmented = valDocs.select(explode(tokens).as("word")).distinct()
        .select(col("word"), size(seg).as("n_syms"))
      valDocs.select(col("doc_id"), explode(tokens).as("word"))
        .join(segmented, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_syms")).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    },
    Some(bpeOovOracle(BPE_ROUNDS)))

  /** Oracle twin of [[t23]]: K unrolled rounds, each = pair-count agg
    * + argmax + a recursive-CTE first-occurrence merge (equivalent to
    * the greedy fold — see t23's scaladoc). The w0/v_k stages are
    * MATERIALIZED: DuckDB inlines CTEs by default, and each stage
    * references its predecessor ~3× — un-materialized, the K-stage
    * chain re-expands the corpus scan ~3^K times (measured: minutes
    * at sf1 vs 0.8 s materialized). */
  private def bpeOracle(rounds: Int): String = {
    val sel = (1 to rounds).map { k =>
      s"SELECT $k AS merge_rank, lhs, rhs, lhs || rhs AS merged, pair_count FROM b$k"
    }.mkString(" UNION ALL ")
    bpeStages(rounds) + s" SELECT * FROM ($sel) ORDER BY merge_rank"
  }

  /** Oracle twin of [[t24]]: the SAME training stages as [[bpeOracle]]
    * (shared generator — the solo and apply forms cannot drift), then
    * the corpus re-exploded and joined to the final vocab v_K. */
  private def bpeApplyOracle(rounds: Int): String =
    bpeStages(rounds) +
      s""" SELECT doc_id, count(*) AS n_words,
             CAST(sum(len(v.syms)) AS BIGINT) AS n_bpe_tokens
      FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
            FROM documents) t
      JOIN v$rounds v USING (word)
      GROUP BY doc_id ORDER BY doc_id"""

  /** Oracle twin of st19's streaming token-budget monitor: the SAME
    * training stages as [[bpeOracle]], the t24 vocab-join segmentation
    * (provably equal to the stream's per-word merge replay on the
    * training corpus — the t24/t25 equivalence), then hourly buckets
    * over the fabricated epoch (integer arithmetic, timezone-free). */
  private[queries] def bpeBudgetOracle(rounds: Int): String =
    bpeStages(rounds) +
      s""",
      seg AS (
        SELECT doc_id, count(*) AS nw, CAST(sum(len(v.syms)) AS BIGINT) AS nb
        FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
              FROM documents) t
        JOIN v$rounds v USING (word) GROUP BY doc_id)
      SELECT (1600000000 + (doc_id * 977) % 86400) // 3600 * 3600 AS window_start_epoch,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nw) AS BIGINT) AS n_words,
             CAST(sum(nb) AS BIGINT) AS n_bpe_tokens
      FROM seg GROUP BY 1 ORDER BY 1"""

  /** Oracle twin of st20 ([[graft.streaming.Streams.tokenBudgetClosed]]):
    * [[bpeBudgetOracle]]'s accounting restricted to the watermark-CLOSED
    * window set. Event times carry the +500 ms fabrication, so the
    * watermark (max − 1 h) can never tie an hour-aligned window end —
    * the `<=` below is tie-free by construction. */
  private[queries] def bpeBudgetClosedOracle(rounds: Int): String =
    bpeStages(rounds) +
      s""",
      seg AS (
        SELECT doc_id, count(*) AS nw, CAST(sum(len(v.syms)) AS BIGINT) AS nb
        FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
              FROM documents) t
        JOIN v$rounds v USING (word) GROUP BY doc_id),
      wm AS (
        SELECT max(1600000000000 + ((doc_id * 977) % 86400) * 1000 + 500)
                 - 3600000 AS wm_ms
        FROM documents)
      SELECT (1600000000 + (doc_id * 977) % 86400) // 3600 * 3600 AS window_start_epoch,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nw) AS BIGINT) AS n_words,
             CAST(sum(nb) AS BIGINT) AS n_bpe_tokens
      FROM seg CROSS JOIN wm
      WHERE ((1600000000 + (doc_id * 977) % 86400) // 3600 * 3600 + 3600) * 1000 <= wm_ms
      GROUP BY 1 ORDER BY 1"""

  /** Oracle twin of [[t25]]: the SAME stage generator trains on the
    * train split only (w0 gains the bucket predicate), then K
    * application stages replay each merge b_k over the distinct-VAL-
    * word table u_{k-1} with the identical recursive-CTE first-
    * occurrence merge the training stages use (one shared shape — the
    * engine pair cannot drift on OOV words either). */
  private def bpeOovOracle(rounds: Int): String = {
    val u0 =
      s"""u0 AS MATERIALIZED (
         |  SELECT word, list_filter(string_split(word, ''), x -> x <> '') AS syms
         |  FROM (SELECT DISTINCT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
         |        FROM documents WHERE $duckBucket >= 90 AND $duckBucket < 95))""".stripMargin
    val apply = (1 to rounds).map { k =>
      val p = k - 1
      s"""g$k AS (
         |  SELECT word, syms, 0 AS it FROM u$p
         |  UNION ALL
         |  SELECT word, syms[:pp-1] || [lhs || rhs] || syms[pp+2:], it+1
         |  FROM (SELECT g.word, g.syms, g.it, b.lhs, b.rhs,
         |          list_filter(range(1, len(g.syms)),
         |            i -> g.syms[i] = b.lhs AND g.syms[i+1] = b.rhs)[1] AS pp
         |        FROM g$k g, b$k b)
         |  WHERE pp IS NOT NULL),
         |u$k AS MATERIALIZED (
         |  SELECT word, syms FROM g$k
         |  QUALIFY row_number() OVER (PARTITION BY word ORDER BY it DESC) = 1)""".stripMargin
    }
    bpeStages(rounds, s"WHERE $duckBucket < 90") + ",\n" +
      (u0 +: apply).mkString(",\n") +
      s""" SELECT doc_id, count(*) AS n_words,
             CAST(sum(len(u.syms)) AS BIGINT) AS n_bpe_tokens
      FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
            FROM documents WHERE $duckBucket >= 90 AND $duckBucket < 95) t
      JOIN u$rounds u USING (word)
      GROUP BY doc_id ORDER BY doc_id"""
  }

  private def bpeStages(rounds: Int, where: String = ""): String = {
    val head =
      s"""w0 AS MATERIALIZED (
        |  SELECT word, count(*) AS wc FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        |    FROM documents $where) GROUP BY word),
        |v0 AS MATERIALIZED (SELECT word, wc, list_filter(string_split(word, ''), x -> x <> '') AS syms FROM w0)""".stripMargin
    val stages = (1 to rounds).map { k =>
      val p = k - 1
      s"""p$k AS (
         |  SELECT pr.l AS lhs, pr.r AS rhs, CAST(sum(wc) AS BIGINT) AS pair_count
         |  FROM (SELECT wc, unnest(list_transform(range(1, len(syms)),
         |          i -> {'l': syms[i], 'r': syms[i+1]})) AS pr
         |        FROM v$p)
         |  GROUP BY pr.l, pr.r),
         |b$k AS (SELECT lhs, rhs, pair_count FROM p$k
         |        ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
         |f$k AS (
         |  SELECT word, wc, syms, 0 AS it FROM v$p
         |  UNION ALL
         |  SELECT word, wc, syms[:pp-1] || [lhs || rhs] || syms[pp+2:], it+1
         |  FROM (SELECT f.word, f.wc, f.syms, f.it, b.lhs, b.rhs,
         |          list_filter(range(1, len(f.syms)),
         |            i -> f.syms[i] = b.lhs AND f.syms[i+1] = b.rhs)[1] AS pp
         |        FROM f$k f, b$k b)
         |  WHERE pp IS NOT NULL),
         |v$k AS MATERIALIZED (
         |  SELECT word, wc, syms FROM f$k
         |  QUALIFY row_number() OVER (PARTITION BY word ORDER BY it DESC) = 1)""".stripMargin
    }
    "WITH RECURSIVE " + (head +: stages).mkString(",\n")
  }
}
