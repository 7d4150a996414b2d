package graft.queries

import graft.{Memo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared materialized intermediate for the dedup family: the distinct
  * word-3-gram table that d02 (n-gram Jaccard), d03 (minhash-LSH) and
  * d06 (minhash signatures) all start from — IN HASH SPACE.
  *
  * Shingle strings never survive past the md5 that fingerprints them:
  * the table carries two independent 32-bit md5 slices `(h1, h2)` per
  * (doc, shingle), the distinct runs on the 16-byte hash tuple instead
  * of ~25-char strings, and every downstream shuffle/join/aggregate in
  * the family consumes the longs. md5 is computed ONCE per exploded
  * shingle here, not once per query. The 60-bit join fingerprint d02
  * buckets on is pure arithmetic over the slices
  * (h60 = h1·2²⁸ + h2 div 16 — the first 15 hex chars by
  * construction), so both engines derive it without re-hashing.
  * Collision behavior is shared with the oracle verbatim (the oracle
  * CTE performs the same hash-then-distinct), keeping parity exact.
  *
  * Persisted once per corpus dir and pass ([[graft.Memo]]) and reused
  * across operators — the single-node analog of what a 100 TB
  * deployment does explicitly: write the hashed shingle table to
  * parquet once per corpus snapshot and feed every dedup job from it.
  */
object Shingles {

  /** Whitespace tokens of the lower-cased trimmed text. */
  private[queries] val tokens = split(lower(trim(col("text"))), "\\s+")

  /** Distinct (doc_id, h1, h2) md5-slice pairs of the word-3-grams of
    * docs with ≥3 tokens, with the derived 60-bit `h60` fingerprint. */
  def hashed(s: SparkSession, d: String): DataFrame =
    Memo(s, s"shingles:$d") {
      // ONE shuffle total, of the smallest representation: raw docs
      // re-cluster by doc_id BEFORE exploding (text is smaller than
      // its exploded shingle hashes), then explode/hash/distinct all
      // stay partition-local — HashPartitioning(doc_id) satisfies the
      // distinct's clustering requirement since duplicates share the
      // doc (PlanQualitySpec pins the single-exchange shape). The
      // persisted table stays doc_id-clustered, so every per-doc
      // aggregation downstream (d03 signatures, d03 verification
      // sets, d06) runs with no further shuffle — the in-memory
      // analog of bucketing the table on disk.
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .repartition(col("doc_id"))
        .select(col("doc_id"), tokens.as("w")).filter(size(col("w")) >= 3)
        // NOTE (r4→r14 evolution): a native (h1,h2) Generator was tried
        // and measured SLOWER (CodegenFallback Generate emits
        // interpreted rows); then r14 A/B'd the transform(...)-lambda
        // shingle builder against exploding the POSITION INDEX and
        // building each shingle string as a regular codegen'd
        // projection — the interpreted HOF was the wall (sf1 warm:
        // 9.4 → 7.0 s, identical hash sums). The exploded rows carry
        // `w` once each; md5 is computed ONCE per shingle and sliced
        // twice (the lambda form relied on codegen CSE for the same).
        .select(col("doc_id"), col("w"),
          explode(expr("sequence(0, size(w) - 3)")).as("i"))
        .select(col("doc_id"),
          md5(expr("concat(w[i], ' ', w[i+1], ' ', w[i+2])")).as("m"))
        .select(col("doc_id"),
          conv(substring(col("m"), 1, 8), 16, 10).cast("long").as("h1"),
          conv(substring(col("m"), 9, 8), 16, 10).cast("long").as("h2"))
        .distinct()
        .withColumn("h60", shiftleft(col("h1"), 28) + shiftright(col("h2"), 4))
        .transform(Memo.persist)
    }

  /** The oracle twin of [[hashed]], as a DuckDB WITH-clause prefix:
    * explode → md5 slices → DISTINCT on the hash tuple → derived h60.
    * Spelled once so d02/d03/d06 oracles replay the identical table
    * (same operation order ⇒ same collision behavior ⇒ exact parity). */
  val oracleCte: String = """
      toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
      big AS (SELECT doc_id, w FROM toks WHERE len(w) >= 3),
      hsh AS (
        SELECT DISTINCT doc_id,
               CAST(concat('0x', substr(md, 1, 8)) AS BIGINT) AS h1,
               CAST(concat('0x', substr(md, 9, 8)) AS BIGINT) AS h2
        FROM (
          SELECT doc_id, md5(unnest(list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS md
          FROM big)),
      sh AS (SELECT doc_id, h1, h2, h1 * 268435456 + h2 // 16 AS h60 FROM hsh)"""
}
