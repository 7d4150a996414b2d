package graft.queries

import graft.{Memo, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search + hash-based near-dedup over embeddings/documents —
  * the LLM-training-pipeline operator family (builder brief).
  *
  * Engine-portable hashing: every hash here is derived from md5 hex
  * (identical in Spark and DuckDB) rather than engine-native hash
  * functions (xxhash64 vs duckdb hash are incompatible), so the oracle
  * can replay the exact pipeline.
  *
  * Scale design notes:
  *  - brute-force cosine is the *baseline*: it exists to calibrate
  *    the bucketed variants, and the query side is a FIXED 64-id
  *    panel ([[Similarity.PANEL]]) so the pair count |Q|·N is linear
  *    in corpus size, never N².
  *  - minhash-LSH: shingle→minhash→band→bucket-join. Candidate pairs
  *    come from equality joins on band signatures (shuffle on the
  *    signature, even distribution), never from a cross join. This is
  *    the 100 TB path: cost is O(docs · shingles · K) + bucket joins.
  *  - simhash: one 16-bit signature per doc from token-hash bit votes;
  *    equal-signature grouping gives O(n) candidate generation.
  */
object Similarity {

  def defs: Seq[QueryDef] =
    Seq(s01, s02, s03, s04, s05, s06, s07, s08, s09, s10,
      d03, d04, d05, d06, d07, d09, q34, t26)

  /** Testdata embedding width (TESTDATA.md: embeddings.embedding is a
    * fixed 64-lane float vector). */
  private[queries] val EMB_DIM = 64

  /** FIXED ANN QUERY PANEL — the PANEL lowest vec_ids. Every
    * retrieval query in this family evaluates the same sampled query
    * set; a `vec_id % 50 == 0` panel would GROW with the corpus
    * (|Q| = N/50), making the exact calibration baseline [[s01]]
    * N²/50 — measured as the two biggest discretionary lines of the
    * sf1 bench (s01 15.3 s + s06 15.4 s). Calibration needs a FIXED
    * panel, not a growing one: with |Q| constant, s01's pair count
    * |Q|·N is linear in N, every probe set is constant-sized, and
    * recall estimates stay comparable across scale factors because
    * they measure the same 64-query workload. `vec_id < 64` is
    * portable verbatim to the DuckDB oracle (vec_ids are dense from
    * 0 at every SF ≥ 0.001; the smallest corpus has 500 vectors, so
    * the panel is always fully populated). Shared by s01/s02/s03/s07/s08/s09/s10 and the
    * SimilaritySpec recall checks — ONE definition so the engines and
    * the spec can never sample different panels. */
  private[queries] val PANEL = 64

  /** The panel predicate, Spark side ([[PANEL]]). */
  private def isPanel(c: Column): Column = c < PANEL

  /** Portable 60-bit hash: first 15 hex chars of md5. */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private val tokens = split(lower(trim(col("text"))), "\\s+")

  /** Vectors with their norm computed ONCE per vector: pairwise ops
    * must never recompute norms per pair (that triples the
    * higher-order-function work on the hot path). The cosine formula
    * stays dot/(n_a·n_b) — the identical arithmetic DAG the oracle
    * evaluates, so results are IEEE-exact matches. */
  private def docVectors(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("n", norm(col("v")))
  }

  /** Codegen'd native dot product (graft.functions.DotProduct) — same
    * left-to-right IEEE summation as the interpreted
    * aggregate(zip_with(...)) formulation it replaces, so oracle values
    * are bit-identical; see DotProductSpec. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force cosine top-k: exact baseline for ANN over the FIXED
    * query panel ([[PANEL]] lowest vec_ids) against all candidates;
    * per-query top-5. LINEAR by construction: |Q| is a
    * constant 64, so the broadcast side is bounded (64 rows at any SF)
    * and the pair count |Q|·N scales with the corpus, not its square —
    * the exact-baseline shape production recall audits actually run
    * (a fixed query workload re-evaluated as the corpus grows). */
  val s01 = QueryDef(
    "s01_cosine_topk",
    (s, d) => {
      val e = docVectors(s, d)
      val q = e.filter(isPanel(col("vec_id")))
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n").as("qn"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("n").as("cn"))
      val cosine = dot(col("qv"), col("cv")) / (col("qn") * col("cn"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      broadcast(q).crossJoin(c)
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cosine", cosine)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("query_id"), col("rn"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rn"))
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id < $PANEL),
      c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      p AS (SELECT query_id, neighbor_id,
              list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
            FROM q, c WHERE neighbor_id <> query_id),
      r AS (SELECT query_id, neighbor_id, cosine,
              row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
            FROM p)
      SELECT query_id, rn, neighbor_id, round(cosine, 6) AS cosine
      FROM r WHERE rn <= 5
      ORDER BY query_id, rn"""))

  /** Bucketed ANN — the scale path for [[s01]]: multi-probe
    * random-hyperplane LSH. Every vector gets a B-bit signature (sign of
    * B fixed Gaussian projections); a query probes its own bucket plus
    * the P-1 buckets reached by flipping its least-confident bits
    * (smallest |projection|), then exact-reranks only those candidates.
    *
    * Cost vs brute force: candidates ≈ (P/2^B)·N per query (~25% at
    * B=4,P=4) with recall ≈ 1.5–2× the scanned fraction — the honest
    * ANN trade on isotropic data; clustered real-world embeddings do
    * far better. Candidate generation is an equi-join on the signature
    * (shuffle on sig, never a cross join) → linear at 100 TB.
    * (Label-based IVF was rejected: testdata labels are uncorrelated
    * with embedding geometry — within-label mean cosine ≈ 0.)
    *
    * Approximate → no SQL oracle; recall vs exact baseline is asserted
    * in SimilaritySpec. */
  /** s02's hyperplanes: B=4 seeded Gaussians, hoisted so the oracle
    * interpolates the identical literals (the d05 pattern —
    * Double.toString round-trips exactly through DuckDB's parser). */
  private[queries] val s02Planes: Seq[Seq[Double]] = {
    val rnd = new java.util.Random(7)
    Seq.fill(4)(Seq.fill(EMB_DIM)(rnd.nextGaussian()))
  }

  /** ONE definition of the s02 LSH index build, shared by every query
    * that rides the same signature space (s02, s09, s10): three
    * near-copies of the projection + 4-bit signature construction
    * could drift apart silently if the planes, bit count, or sign
    * convention ever change. The Spark side and the
    * DuckDB-oracle SQL fragments are hoisted TOGETHER so both engines
    * always interpolate the identical geometry. */
  private val SIG_BITS = 4

  /** vec_id/v/n plus one projection column p0..p{B-1} per plane —
    * the same left-to-right IEEE dot fold in both engines
    * (DotProductSpec). Input needs (vec_id, v, n). */
  private def planeProjected(df: DataFrame): DataFrame = df.select(
    (col("vec_id") +: col("v") +: col("n") +:
      s02Planes.zipWithIndex.map { case (p, j) =>
        dot(col("v"), typedlit(p)).as(s"p$j") }): _*)

  /** Adds the 4-bit sign signature over p0..p3 (strictly-positive ⇒
    * bit set, so a 0.0 projection lands on the same side in both
    * engines). */
  private def withSig(df: DataFrame): DataFrame =
    df.withColumn("sig", (0 until SIG_BITS).map(j =>
      when(col(s"p$j") > 0, lit(1 << j)).otherwise(lit(0))).reduce(_ + _))

  /** Project + sign in one step — the full index build. */
  private def sigOf(df: DataFrame): DataFrame = withSig(planeProjected(df))

  /** Multi-probe expansion (Lv et al., VLDB 2007 shape): each query
    * row explodes into its own bucket plus the nProbes−1 buckets
    * reached by flipping the smallest-|margin| bits — the planes the
    * vector sits closest to, where the true neighbor most likely
    * landed on the other side. Requires the p0..p3 columns (call on
    * a [[sigOf]] result BEFORE projecting them away). */
  private def multiProbed(sigd: DataFrame, nProbes: Int): DataFrame = sigd
    .withColumn("margins", array((0 until SIG_BITS).map(j =>
      struct(abs(col(s"p$j")).as("m"), lit(1 << j).as("bit"))): _*))
    .withColumn("flips", slice(array_sort(col("margins")), 1, nProbes - 1))
    .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n").as("qn"),
      explode(concat(array(col("sig")),
        transform(col("flips"), f =>
          col("sig").bitwiseXOR(f.getField("bit"))))).as("sig"))

  /** Signature equi-join + exact-cosine rerank + per-query top-5 —
    * the shared tail of s02/s09. No broadcast hint even though the
    * probe side is now panel-bounded ([[PANEL]] × P probe rows): AQE
    * already picks the size-based broadcast from measured stats, and
    * leaving the decision to it means a future panel widening (or a
    * caller passing an unbounded probe set) degrades gracefully to a
    * shuffle instead of OOMing a hard hint. */
  private def lshRerankTop5(probes: DataFrame, cand: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    probes.join(cand, Seq("sig"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("qv"), col("nv")) / (col("qn") * col("cn")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("query_id"), col("rn"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** DuckDB twins of the fragments above, interpolated into every
    * oracle that replays this signature space. */
  private lazy val lshSqlProj: String =
    s02Planes.zipWithIndex.map { case (p, j) =>
      s"list_dot_product(v, ${p.mkString("[", ",", "]")}) AS p$j"
    }.mkString(",\n               ")
  private lazy val lshSqlSigBits: String = (0 until SIG_BITS).map(j =>
    s"(CASE WHEN p$j > 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
  private lazy val lshSqlFlipStructs: String = (0 until SIG_BITS).map(j =>
    s"{'m': abs(p$j), 'bit': ${1 << j}}").mkString(", ")

  val s02 = QueryDef(
    "s02_cosine_topk_lsh",
    (s, d) => {
      val sigd = sigOf(docVectors(s, d))
      val cand = sigd.select(col("sig"), col("vec_id").as("neighbor_id"),
        col("v").as("nv"), col("n").as("cn"))
      val probes = multiProbed(sigd.filter(isPanel(col("vec_id"))), 4)
      lshRerankTop5(probes, cand)
    },
    // Full hash-compared oracle:
    // every step is deterministic given the interpolated plane
    // literals — projections are the same left-to-right IEEE dot fold
    // in both engines (DotProductSpec), sign bits and |margin| sorts
    // therefore agree bit-for-bit, multi-probe flips are pure integer
    // XOR, and the rerank reuses s01/s03's proven cosine DAG.
    Some {
      s"""
      WITH en AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS n
        FROM embeddings),
      pj AS (
        SELECT vec_id, v, n,
               $lshSqlProj
        FROM en),
      sigd AS (SELECT *, ($lshSqlSigBits) AS sig FROM pj),
      cand AS (SELECT sig, vec_id AS neighbor_id, v AS nv, n AS cn FROM sigd),
      pr AS (
        SELECT vec_id AS query_id, v AS qv, n AS qn, sig,
               list_sort([$lshSqlFlipStructs]) AS fl
        FROM sigd WHERE vec_id < $PANEL),
      probes AS (
        SELECT query_id, qv, qn,
               unnest([sig, xor(sig, fl[1].bit), xor(sig, fl[2].bit),
                       xor(sig, fl[3].bit)]) AS sig
        FROM pr),
      scored AS (
        SELECT p.query_id, c.neighbor_id,
               list_dot_product(p.qv, c.nv) / (p.qn * c.cn) AS cosine
        FROM probes p JOIN cand c USING (sig)
        WHERE c.neighbor_id <> p.query_id),
      r AS (SELECT query_id, neighbor_id, cosine,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rn
            FROM scored)
      SELECT query_id, rn, neighbor_id, round(cosine, 6) AS cosine
      FROM r WHERE rn <= 5
      ORDER BY query_id, rn"""
    })

  /** IVF ANN — the second bucketed scale path next to [[s02]]'s LSH:
    * a coarse quantizer of C per-label centroids (decimal-exact lane
    * sums via [[graft.functions.VecSumAgg]] → double), every vector
    * assigned to its nearest cell, queries probing the NPROBE=3
    * nearest cells, exact cosine rerank inside probed cells only.
    *
    * Unlike s02 (seeded-random hyperplanes, spec-checked recall), the
    * whole pipeline is deterministic arithmetic the oracle replays
    * verbatim: centroid lanes are exact decimals cast to double, and
    * cosine keeps the shared dot/(n·n) DAG — so this ANN variant gets
    * a full hash-compared SQL oracle.
    *
    * 100 TB shape: centroid build is one groupBy over C cells
    * (constant-width decimal buffers, map-side combined); assignment
    * is N·C codegen'd dot products against a broadcast centroid table
    * plus one window shuffle on vec_id (at extreme scale the argmin
    * collapses to a max_by aggregate — same shuffle key); the probe
    * join is an equi-join on cell. No stage is quadratic in N. A hot
    * cell is the residual risk — the mitigation is sub-bucketing hot
    * cells with s02's hyperplane signatures, the same pattern d05
    * uses for hot labels. */
  /** Probe depth of the IVF family (s03 rerank, s07 ADC). */
  private[queries] val IVF_NPROBE = 3

  /** The IVF coarse layer shared by [[s03]] and [[s07]]: every vector
    * ranked against the C per-label centroids (crn = 1 is the cell
    * assignment, crn ≤ NPROBE the query probe set). Shared-persisted
    * ([[graft.Memo.persist]]): CacheManager dedups by canonical
    * plan, so both consumers ride ONE centroid build + ranking pass
    * per run, and release() frees it. */
  private[queries] def ivfRanked(s: SparkSession, d: String): DataFrame = {
    val e = docVectors(s, d)
    val cent = Tables.embeddings(s, d)
      .select(col("label").as("cell"),
        col("embedding").cast("array<decimal(28,6)>").as("ed"))
      .groupBy("cell")
      .agg(graft.functions.VecSumAgg.vecSum(col("ed"), EMB_DIM).as("vsum"),
        count(lit(1)).as("nv"))
      .select(col("cell"),
        transform(col("vsum"), x => x.cast("double") / col("nv")).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cell"))
    Memo.persist(
      e.crossJoin(broadcast(cent))
        .withColumn("csim", dot(col("v"), col("cv")) / (col("n") * col("cn")))
        .withColumn("crn", row_number().over(wAssign))
        .select(col("vec_id"), col("v"), col("n"), col("cell"), col("crn")))
  }

  val s03 = QueryDef(
    "s03_cosine_topk_ivf",
    (s, d) => {
      val NPROBE = IVF_NPROBE
      val ranked = ivfRanked(s, d)
      val assign = ranked.filter(col("crn") === 1)
        .select(col("cell"), col("vec_id").as("neighbor_id"),
          col("v").as("nv2"), col("n").as("nn"))
      val probes = ranked
        .filter((col("crn") <= NPROBE) && isPanel(col("vec_id")))
        .select(col("cell"), col("vec_id").as("query_id"),
          col("v").as("qv"), col("n").as("qn"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      probes.join(assign, Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cosine", dot(col("qv"), col("nv2")) / (col("qn") * col("nn")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("query_id"), col("rn"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rn"))
    },
    Some(s"""
      WITH u AS (
        SELECT label AS cell, generate_subscripts(embedding, 1) AS lane,
               CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(28,6)) AS ed
        FROM embeddings),
      lanes AS (
        SELECT cell, lane, CAST(sum(ed) AS DOUBLE) / count(*) AS cval
        FROM u GROUP BY cell, lane),
      cent AS (SELECT cell, list(cval ORDER BY lane) AS cv FROM lanes GROUP BY cell),
      centn AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cent),
      en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))) AS n
             FROM embeddings),
      ranked AS (
        SELECT vec_id, v, n, cell,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY list_dot_product(v, cv) / (n * cn) DESC, cell) AS crn
        FROM en CROSS JOIN centn),
      assign AS (SELECT cell, vec_id AS neighbor_id, v AS nv2, n AS nn
                 FROM ranked WHERE crn = 1),
      probes AS (SELECT cell, vec_id AS query_id, v AS qv, n AS qn
                 FROM ranked WHERE crn <= 3 AND vec_id < $PANEL),
      scored AS (
        SELECT query_id, neighbor_id,
               list_dot_product(qv, nv2) / (qn * nn) AS cosine
        FROM probes JOIN assign USING (cell)
        WHERE neighbor_id <> query_id),
      r AS (SELECT query_id, neighbor_id, cosine,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rn
            FROM scored)
      SELECT query_id, rn, neighbor_id, round(cosine, 6) AS cosine
      FROM r WHERE rn <= 5
      ORDER BY query_id, rn"""))

  /** Symmetric int8 embedding quantization — the storage-side
    * primitive of a 100 TB vector corpus (4× smaller than float32,
    * int8 SIMD dot products downstream): per-vector scale =
    * max|v|/127, lanes truncated toward zero (trunc, NOT round —
    * Spark's int cast truncates while DuckDB's rounds, so trunc is
    * the portable choice).
    * Pure narrow projection, no shuffle; exploded output keeps the
    * hash compare schema-stable. */
  val s04 = QueryDef(
    "s04_quantize_int8",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        // max |x| == max(max(x), -min(x)) — the abs-transform lambda
        // interpreted per lane; array_max/array_min are codegen
        .withColumn("m", greatest(array_max(col("v")), -array_min(col("v"))))
        .filter(col("m") > 0)
      e.select(col("vec_id"), col("m"), posexplode(col("v")))
        .select(col("vec_id"), (col("pos") + 1).as("lane"),
          (col("m") / 127.0d).as("scale"),
          // Spark's int cast truncates toward zero; DuckDB's ROUNDS,
          // so the oracle spells trunc() explicitly
          expr("CAST(col * 127.0 / m AS INT)").as("q"))
        .orderBy(col("vec_id"), col("lane"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      m AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS m
        FROM e),
      u AS (
        SELECT vec_id, m, generate_subscripts(v, 1) AS lane, unnest(v) AS x
        FROM m WHERE m > 0)
      SELECT vec_id, lane, m / 127.0 AS scale,
             CAST(trunc(x * 127.0 / m) AS INT) AS q
      FROM u
      ORDER BY vec_id, lane"""))

  /** PRODUCT QUANTIZATION encode — the storage/compression path of a
    * 100 TB embedding corpus (IVF-PQ's second half): each 64-lane
    * vector compresses to M=4 sub-codes (one byte each — 64× smaller
    * than float32) plus a reconstruction-error diagnostic. The
    * codebook "trains" in-engine, deterministically: label-seeded
    * sub-centroids, one Lloyd refinement (assign → re-estimate), final
    * assignment against the refined codebook. On this corpus the
    * trained codebook cuts mean distortion ~18% below the K=1
    * baseline (SimilaritySpec pins the inequality); ADC *search* over
    * these codes is deliberately NOT offered as a query — with K=10
    * codes per subspace its recall@5 measured 0.16 on this corpus,
    * and shipping it would be the dishonest version of s02/s03.
    *
    * Engine parity: sub-centroid means run in DECIMAL (VecSumAgg /
    * sum-over-decimal — order-independent), per-subvector L2² is the
    * same left-to-right IEEE fold in both engines (Spark
    * aggregate(zip_with(...)) ≡ DuckDB list_reduce(list_transform)),
    * argmin tie-breaks on code id, and the final error sums the M=4
    * doubles through DECIMAL before rounding.
    *
    * Plan at scale: the codebook is CONSTANT-SIZED (K·M = 40 rows) —
    * the broadcast hints are bounded by construction; both assignment
    * passes are narrow per-row HOF work after the broadcast join
    * (K in-row distance folds per (vector, subspace)); centroid
    * re-estimation is one algebraic groupBy on (c, m). Everything is
    * linear in corpus size; a production deployment would train the
    * codebook on a fixed sample, which only shrinks the training agg. */
  /** PQ geometry shared by [[s05]] (encode) and [[s07]] (ADC search):
    * M = 4 subspaces of L = 16 lanes over the 64-lane embeddings.
    * PQ_K caps the CODEBOOK size — the fixed hyperparameter every
    * production PQ sets (FAISS: 256 codewords per sub-quantizer,
    * independent of N). Seeds come from `label % PQ_K`: on the
    * 10-label default corpus the fold is the identity (numbers
    * unchanged since the operator landed), while on corpora whose
    * cluster count GROWS with N (the natural-growth generator plants
    * 1 label per 200 vectors) it keeps encode cost O(N·K) linear in N
    * — the natural-growth bench measured the unbounded form at ×23
    * wall for 10× data, the K∝N quadratic creeping in through the
    * corpus. */
  private[queries] val PQ_M = 4
  private[queries] val PQ_L = EMB_DIM / PQ_M
  private[queries] val PQ_K = 64

  /** (vec_id, label, m, vs): the M subvectors of every embedding. */
  private def pqSub(s: SparkSession, d: String): DataFrame =
    docVectors(s, d).select(col("vec_id"), col("label"),
        explode(sequence(lit(0), lit(PQ_M - 1))).as("m"), col("v"))
      .withColumn("vs", slice(col("v"), col("m") * PQ_L + 1, lit(PQ_L)))
      .select(col("vec_id"), col("label"), col("m"), col("vs"))

  /** Per-(code, subspace) centroid means — decimal-exact lane sums
    * (the s03 centroid discipline) so both engines agree bit-for-bit. */
  private def pqCentroids(assigned: DataFrame): DataFrame =
    assigned.select(col("c"), col("m"),
        col("vs").cast("array<decimal(28,6)>").as("vd"))
      .groupBy("c", "m")
      .agg(graft.functions.VecSumAgg.vecSum(col("vd"), PQ_L).as("vsum"),
        count(lit(1)).as("nv"))
      .select(col("c"), col("m"),
        transform(col("vsum"), x => x.cast("double") / col("nv")).as("cv"))

  /** Nearest-codebook-entry assignment per (vector, subspace) — a
    * PER-ROW fold over the broadcast codebook, not a row explosion:
    * the codebook collapses to ONE row per subspace carrying all K
    * (c, cv) entries, each (vector, subspace) row scores the K
    * candidates with a `transform` and picks the (d2, c)-minimum with
    * an `aggregate` fold. The previous spelling exploded N·K rows
    * through a (vec_id, m) window shuffle to express the same argmin —
    * at K = 64 that is 64× the shuffle volume of the input for a
    * per-row reduction no exchange was needed for. Min over a total
    * order (d2, then c) is fold-order-independent, so the result is
    * identical to the window form row for row. */
  private def pqAssignTo(sub: DataFrame, cb: DataFrame): DataFrame = {
    val cbArr = cb.groupBy("m")
      .agg(collect_list(struct(col("c"), col("cv"))).as("cands"))
    sub.join(broadcast(cbArr), Seq("m"))
      // squared L2 as graft_sqdist: a left-to-right IEEE fold, the
      // arithmetic DAG the oracle's list_reduce replays exactly
      .withColumn("scored", transform(col("cands"),
        cand => struct(graft.functions.GraftFunctions.sqdist(col("vs"), cand("cv"))
          .as("d2"), cand("c").as("c"))))
      .withColumn("best", nearest(col("scored")))
      .select(col("vec_id"), col("m"), col("vs"),
        col("best.c").as("c"), col("best.d2").as("d2"))
  }

  /** The (d2, c)-minimum of an array of scored candidates, via
    * array_min's struct ordering — lexicographic on (d2, c), exactly
    * the fold's total order (d2 is a sum of squares, never -0.0/NaN,
    * and c breaks ties) — instead of an interpreted aggregate fold
    * comparing structs per candidate. Total like the fold it
    * replaces: an empty candidate list yields the fold's seed
    * (Double.MaxValue, Int.MaxValue), not NULL. */
  private[queries] def nearest(scored: Column): Column =
    coalesce(array_min(scored),
      struct(lit(Double.MaxValue).as("d2"), lit(Int.MaxValue).as("c")))

  /** One-Lloyd-iteration PQ train + encode, shared by s05/s07:
    * (trained codebook (c, m, cv), codes (vec_id, m, c, d2)). Both
    * shared-persisted — canonical-plan dedup gives the two consumers
    * one build per run. */
  private[queries] def pqTrained(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val sub = pqSub(s, d)
    val cb0 = pqCentroids(sub.withColumn("c",
      pmod(col("label"), lit(PQ_K)).cast("int")))
    val cb1 = Memo.persist(pqCentroids(pqAssignTo(sub, cb0)))
    val codes = Memo.persist(
      pqAssignTo(sub, cb1)
        .select(col("vec_id"), col("m"), col("c"), col("d2")))
    (cb1, codes)
  }

  val s05 = QueryDef(
    "s05_pq_encode",
    (s, d) => {
      val (_, codes) = pqTrained(s, d)
      codes
        .groupBy("vec_id")
        .agg(
          max(when(col("m") === 0, col("c"))).as("c0"),
          max(when(col("m") === 1, col("c"))).as("c1"),
          max(when(col("m") === 2, col("c"))).as("c2"),
          max(when(col("m") === 3, col("c"))).as("c3"),
          round(sum(col("d2").cast(
            org.apache.spark.sql.types.DecimalType(28, 12))).cast("double"), 6)
            .as("recon_err"))
        .orderBy(col("vec_id"))
    },
    Some(s"""
      WITH en AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      sub AS (SELECT vec_id, label, m, v[m*16+1 : m*16+16] AS vs
              FROM en CROSS JOIN (SELECT unnest(range(4)) AS m)),
      cb0 AS (
        SELECT c, m, sl, CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE)/count(*) AS cval
        FROM (SELECT label % $PQ_K AS c, m, generate_subscripts(vs,1) AS sl, unnest(vs) AS x FROM sub)
        GROUP BY c, m, sl),
      cbl0 AS (SELECT c, m, list(cval ORDER BY sl) AS cv FROM cb0 GROUP BY c, m),
      a1 AS (
        SELECT vec_id, m, vs, c FROM (
          SELECT s.vec_id, s.m, s.vs, cb.c,
            row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
              list_reduce(list_transform(range(1,17), i -> (s.vs[i]-cb.cv[i])*(s.vs[i]-cb.cv[i])), (acc,x)->acc+x), cb.c) AS rn
          FROM sub s JOIN cbl0 cb USING (m)) WHERE rn = 1),
      cb1 AS (
        SELECT c, m, sl, CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE)/count(*) AS cval
        FROM (SELECT c, m, generate_subscripts(vs,1) AS sl, unnest(vs) AS x FROM a1)
        GROUP BY c, m, sl),
      cbl1 AS (SELECT c, m, list(cval ORDER BY sl) AS cv FROM cb1 GROUP BY c, m),
      a2 AS (
        SELECT vec_id, m, c, d2 FROM (
          SELECT s.vec_id, s.m, cb.c,
            list_reduce(list_transform(range(1,17), i -> (s.vs[i]-cb.cv[i])*(s.vs[i]-cb.cv[i])), (acc,x)->acc+x) AS d2,
            row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
              list_reduce(list_transform(range(1,17), i -> (s.vs[i]-cb.cv[i])*(s.vs[i]-cb.cv[i])), (acc,x)->acc+x), cb.c) AS rn
          FROM sub s JOIN cbl1 cb USING (m)) WHERE rn = 1)
      SELECT vec_id,
             max(CASE WHEN m = 0 THEN c END) AS c0,
             max(CASE WHEN m = 1 THEN c END) AS c1,
             max(CASE WHEN m = 2 THEN c END) AS c2,
             max(CASE WHEN m = 3 THEN c END) AS c3,
             round(CAST(sum(CAST(d2 AS DECIMAL(28,12))) AS DOUBLE), 6) AS recon_err
      FROM a2 GROUP BY vec_id ORDER BY vec_id"""))

  /** IVF-PQ ADC SEARCH — the composition the two index halves exist
    * for, and THE production 100 TB ANN architecture (FAISS IVFPQ):
    * [[ivfRanked]]'s coarse cells bound WHICH vectors a query scans
    * (NPROBE cells, not the corpus), and [[pqTrained]]'s codes bound
    * WHAT is scanned — M byte-sized code ids per vector instead of
    * 64 floats (16× less memory traffic, the difference between an
    * in-RAM index and a disk-bound one at 10⁹+ vectors).
    *
    * Asymmetric distance computation, inner-product metric: each
    * query builds a LOOKUP TABLE — exact dot products from its M
    * subvectors to every codebook entry (|Q|·M·C rows, built once per
    * query against the broadcast 40-row codebook) — and a candidate's
    * approximate cosine is then M table lookups summed (= ⟨q,
    * recon(x)⟩) over the stored EXACT norms (production IP-ADC stores
    * the norm byte next to the codes; quantization error stays in the
    * numerator only, which is why this beats L2-ADC on unnormalized
    * vectors). In plan terms: probes ⋈ cell-codes (equi-join on cell)
    * ⋈ dtab (equi-join on (query, m, code)) → sum — every join an
    * equality join, no stage quadratic in N, the dtab join free to
    * degrade from broadcast to shuffle as |Q| scales (no hint, AQE
    * decides).
    *
    * Parity: lookup entries are the shared codegen'd dot fold; the
    * per-pair sum of M doubles routes through DECIMAL(28,12) (the s05
    * recon_err discipline) so accumulation order cannot split the
    * engines; the norm division replays s03's exact qn·nn shape; ties
    * broken on neighbor_id. The oracle replays coarse layer, codebook
    * training, encoding, lookup tables, and lookup-sum verbatim.
    *
    * Recall caveat (SimilaritySpec): the synthetic embeddings are
    * isotropic random — PQ's worst case — so ADC recall@5 measures
    * ≈0.10 (≈7× chance-within-probed-cells) vs s03's 0.46 exact-
    * rerank ceiling; on clustered real corpora the gap closes. The
    * hash gate is unaffected: it proves the ADC pipeline EXACTLY,
    * recall is a data property.
    *
    * This helper is the scored candidate frame (query_id, neighbor_id,
    * qn, nn, adc_cos) shared by [[s07]] (top-k straight off the table
    * lookups) and [[s08]] (shortlist → exact re-rank). */
  private def adcScored(s: SparkSession, d: String): DataFrame = {
    val (cb, codes) = pqTrained(s, d)
    val ranked = ivfRanked(s, d)
    val cellOf = ranked.filter(col("crn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("n").as("nn"))
    val probes = ranked
      .filter((col("crn") <= IVF_NPROBE) && isPanel(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("cell"),
        col("v").as("qv"), col("n").as("qn"))
    val dtab = probes.select(col("query_id"), col("qv")).distinct()
      .select(col("query_id"),
        explode(sequence(lit(0), lit(PQ_M - 1))).as("m"), col("qv"))
      .withColumn("qs", slice(col("qv"), col("m") * PQ_L + 1, lit(PQ_L)))
      .join(broadcast(cb), Seq("m"))
      .withColumn("pd", dot(col("qs"), col("cv")))
      .select(col("query_id"), col("m"), col("c"), col("pd"))
    val cand = codes.select(col("vec_id").as("neighbor_id"), col("m"), col("c"))
      .join(cellOf, Seq("neighbor_id"))
    probes.select(col("query_id"), col("cell"), col("qn"))
      .join(cand, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(dtab, Seq("query_id", "m", "c"))
      .groupBy(col("query_id"), col("neighbor_id"), col("qn"), col("nn"))
      .agg(sum(col("pd").cast(
        org.apache.spark.sql.types.DecimalType(28, 12))).as("ip_dec"))
      .withColumn("adc_cos",
        col("ip_dec").cast("double") / (col("qn") * col("nn")))
  }

  /** Shared oracle CTE of the ADC family ([[s07]]/[[s08]]): coarse
    * layer + PQ train + encode + per-query lookup tables + candidate
    * lookup-sum. Exposes `en` (vec_id, v, n) and `scored`
    * (query_id, neighbor_id, adc_cos). */
  // s"" so PQ_K interpolates — a bare `label % 64` literal would
  // silently desynchronize engine and oracle if the constant moved
  // (the $T26_TAU pattern)
  private val adcOracleCte: String = s"""en AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))) AS n
             FROM embeddings),
      u AS (
        SELECT label AS cell, generate_subscripts(embedding, 1) AS lane,
               CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(28,6)) AS ed
        FROM embeddings),
      lanes AS (
        SELECT cell, lane, CAST(sum(ed) AS DOUBLE) / count(*) AS cval
        FROM u GROUP BY cell, lane),
      cent AS (SELECT cell, list(cval ORDER BY lane) AS cv FROM lanes GROUP BY cell),
      centn AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cent),
      ranked AS (
        SELECT vec_id, v, n, cell,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY list_dot_product(v, cv) / (n * cn) DESC, cell) AS crn
        FROM en CROSS JOIN centn),
      cellof AS (SELECT cell, vec_id AS neighbor_id, n AS nn
                 FROM ranked WHERE crn = 1),
      probes AS (SELECT cell, vec_id AS query_id, v AS qv, n AS qn
                 FROM ranked WHERE crn <= 3 AND vec_id < $PANEL),
      sub AS (SELECT vec_id, label, m, v[m*16+1 : m*16+16] AS vs
              FROM en CROSS JOIN (SELECT unnest(range(4)) AS m)),
      cb0 AS (
        SELECT c, m, sl, CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE)/count(*) AS cval
        FROM (SELECT label % $PQ_K AS c, m, generate_subscripts(vs,1) AS sl, unnest(vs) AS x FROM sub)
        GROUP BY c, m, sl),
      cbl0 AS (SELECT c, m, list(cval ORDER BY sl) AS cv FROM cb0 GROUP BY c, m),
      a1 AS (
        SELECT vec_id, m, vs, c FROM (
          SELECT s.vec_id, s.m, s.vs, cb.c,
            row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
              list_reduce(list_transform(range(1,17), i -> (s.vs[i]-cb.cv[i])*(s.vs[i]-cb.cv[i])), (acc,x)->acc+x), cb.c) AS rn
          FROM sub s JOIN cbl0 cb USING (m)) WHERE rn = 1),
      cb1 AS (
        SELECT c, m, sl, CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE)/count(*) AS cval
        FROM (SELECT c, m, generate_subscripts(vs,1) AS sl, unnest(vs) AS x FROM a1)
        GROUP BY c, m, sl),
      cbl1 AS (SELECT c, m, list(cval ORDER BY sl) AS cv FROM cb1 GROUP BY c, m),
      codes AS (
        SELECT vec_id, m, c FROM (
          SELECT s.vec_id, s.m, cb.c,
            row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
              list_reduce(list_transform(range(1,17), i -> (s.vs[i]-cb.cv[i])*(s.vs[i]-cb.cv[i])), (acc,x)->acc+x), cb.c) AS rn
          FROM sub s JOIN cbl1 cb USING (m)) WHERE rn = 1),
      qsub AS (
        SELECT query_id, m, qv[m*16+1 : m*16+16] AS qs
        FROM (SELECT DISTINCT query_id, qv FROM probes)
             CROSS JOIN (SELECT unnest(range(4)) AS m)),
      dt AS (
        SELECT q.query_id, q.m, cb.c,
               list_dot_product(q.qs, cb.cv) AS pd
        FROM qsub q JOIN cbl1 cb USING (m)),
      cand AS (
        SELECT cf.cell, co.neighbor_id, cf.nn, co.m, co.c
        FROM (SELECT vec_id AS neighbor_id, m, c FROM codes) co
        JOIN cellof cf USING (neighbor_id)),
      scored AS (
        SELECT p.query_id, c.neighbor_id,
               CAST(sum(CAST(d.pd AS DECIMAL(28,12))) AS DOUBLE)
                 / (p.qn * c.nn) AS adc_cos
        FROM probes p
        JOIN cand c USING (cell)
        JOIN dt d ON d.query_id = p.query_id AND d.m = c.m AND d.c = c.c
        WHERE c.neighbor_id <> p.query_id
        GROUP BY p.query_id, c.neighbor_id, p.qn, c.nn)"""

  val s07 = QueryDef(
    "s07_pq_adc_topk",
    (s, d) => {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc_cos").desc, col("neighbor_id"))
      adcScored(s, d)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("query_id"), col("rn"), col("neighbor_id"),
          round(col("adc_cos"), 6).as("adc_cosine"))
        .orderBy(col("query_id"), col("rn"))
    },
    Some(s"""
      WITH $adcOracleCte,
      r AS (SELECT query_id, neighbor_id, adc_cos,
              row_number() OVER (PARTITION BY query_id
                ORDER BY adc_cos DESC, neighbor_id) AS rn
            FROM scored)
      SELECT query_id, rn, neighbor_id,
             round(adc_cos, 6) AS adc_cosine
      FROM r WHERE rn <= 5
      ORDER BY query_id, rn"""))

  /** ADC shortlist width for [[s08]] — candidates kept per query for
    * the exact re-rank (FAISS's k' refinement factor; 4× the final
    * k=5). */
  private[queries] val ADC_SHORTLIST = 20

  /** TWO-STAGE RETRIEVAL: ADC SHORTLIST → EXACT RE-RANK — the missing
    * production half of [[s07]] and how IVF-PQ is actually served
    * (FAISS `IndexRefine` / ScaNN's reordering stage): quantized
    * lookup-sum scores are accurate enough to FIND the right
    * neighborhood but too lossy to ORDER it, so the index returns a
    * k′=20 shortlist per query and the true top-5 is decided by exact
    * cosine against the full-precision vectors of just those 20.
    *
    * Plan shape at 10⁹ vectors: stage 1 is [[adcScored]] verbatim
    * (every join an equi-join, codes not vectors in the scan); stage 2
    * touches full-precision vectors for |Q|·k′ rows ONLY — two
    * equi-joins against the vector table (query side, neighbor side)
    * and an in-row dot product, no window wider than k′ rows per
    * query. This is the architecture that lets the full-precision
    * vectors live on slow storage while the PQ codes stay in RAM.
    *
    * Parity: the exact cosine replays [[s01]]'s IEEE-identical
    * dot/(n·n) DAG; the shortlist rank and the final rank both break
    * ties on neighbor_id; output carries adc_rn so the gate also pins
    * HOW MUCH the re-rank reordered the quantized order. */
  val s08 = QueryDef(
    "s08_adc_rerank",
    (s, d) => {
      val wAdc = Window.partitionBy(col("query_id"))
        .orderBy(col("adc_cos").desc, col("neighbor_id"))
      val short = adcScored(s, d)
        .withColumn("adc_rn", row_number().over(wAdc))
        .filter(col("adc_rn") <= ADC_SHORTLIST)
        .select(col("query_id"), col("neighbor_id"), col("adc_rn"))
      val e = docVectors(s, d)
      val q = e.select(col("vec_id").as("query_id"),
        col("v").as("qv"), col("n").as("qn"))
      val c = e.select(col("vec_id").as("neighbor_id"),
        col("v").as("nv"), col("n").as("nn"))
      val wEx = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      short.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
        .withColumn("cosine", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
        .withColumn("rn", row_number().over(wEx))
        .filter(col("rn") <= 5)
        .select(col("query_id"), col("rn"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("adc_rn"))
        .orderBy(col("query_id"), col("rn"))
    },
    Some(s"""
      WITH $adcOracleCte,
      short AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_cos DESC, neighbor_id) AS adc_rn
        FROM scored),
      ex AS (
        SELECT sl.query_id, sl.neighbor_id, sl.adc_rn,
               list_dot_product(q.v, c.v) / (q.n * c.n) AS cosine
        FROM (SELECT * FROM short WHERE adc_rn <= $ADC_SHORTLIST) sl
        JOIN en q ON q.vec_id = sl.query_id
        JOIN en c ON c.vec_id = sl.neighbor_id),
      rr AS (
        SELECT query_id, neighbor_id, adc_rn, cosine,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rn
        FROM ex)
      SELECT query_id, rn, neighbor_id, round(cosine, 6) AS cosine, adc_rn
      FROM rr WHERE rn <= 5
      ORDER BY query_id, rn"""))

  /** ANN RECALL EVALUATION — the measurement half every approximate
    * index needs before anyone trusts it: recall@5 of BOTH bucketed
    * scale paths ([[s02]] multi-probe LSH, [[s03]] 3-probe IVF)
    * against the exact brute-force baseline [[s01]], per method, as
    * integer hit counts + a derived ratio.
    *
    * Shape at 100 TB: this is exactly how production ANN is audited —
    * the exact baseline runs only over the FIXED query panel (s01's
    * |Q| = [[PANEL]] design: |Q|·N pairs, linear in corpus size), the
    * approx paths run at full scale, and recall is a tiny join of two
    * (query, neighbor) top-k lists. The exact top-5 list is persisted
    * once and read by both method branches ([[Memo.persist]],
    * the q61 pattern), so the baseline is computed once.
    *
    * Determinism: hits are integer counts over exact-hash-gated
    * inputs (s01/s02/s03 are themselves fully oracle-checked), and
    * recall_at_5 is one double division of those integers — no
    * accumulation-order hazard. The oracle nests the three proven
    * query bodies verbatim as CTE subqueries. */
  val s06 = QueryDef(
    "s06_ann_recall",
    (s, d) => {
      val exact = Memo.persist(
        s01.build(s, d).select(col("query_id"), col("neighbor_id")))
      def branch(name: String, q: QueryDef): DataFrame = {
        val approx = q.build(s, d)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
        exact.join(approx, Seq("query_id", "neighbor_id"), "left")
          .agg(countDistinct(col("query_id")).as("n_queries"),
            count(col("hit")).as("total_hits"))
          .select(lit(name).as("method"), col("n_queries"), col("total_hits"),
            round(col("total_hits") / (lit(5.0) * col("n_queries")), 6)
              .as("recall_at_5"))
      }
      branch("ivf", s03).unionAll(branch("lsh", s02))
        .orderBy(col("method"))
    },
    Some(s"""
      WITH exact AS (${s01.oracle.get}),
      lsh AS (${s02.oracle.get}),
      ivf AS (${s03.oracle.get}),
      sel AS (
        SELECT 'ivf' AS method, count(DISTINCT e.query_id) AS n_queries,
               count(i.neighbor_id) AS total_hits
        FROM exact e LEFT JOIN ivf i
          ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
        UNION ALL
        SELECT 'lsh', count(DISTINCT e.query_id), count(l.neighbor_id)
        FROM exact e LEFT JOIN lsh l
          ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id)
      SELECT method, n_queries, total_hits,
             round(total_hits / (5.0 * n_queries), 6) AS recall_at_5
      FROM sel ORDER BY method"""))

  /** FILTERED VECTOR SEARCH — ANN under a metadata predicate, the
    * production vector-store primitive ([[s02]] answers "nearest
    * neighbors anywhere"; real retrieval asks "nearest ENGLISH
    * documents"): top-5 cosine neighbors among `lang = 'en'`
    * documents for every sampled query vector, via the s02 multi-probe
    * hyperplane index built over the FILTERED subset only.
    *
    * The scale decision is PRE-filtering vs POST-filtering. Post-
    * filtering (probe the full index, discard non-matching hits)
    * under-fills k whenever the predicate is selective — a 1% filter
    * leaves ~0.05 of 5 requested neighbors — and wastes index probes
    * on rows the query can never return. Here the predicate is pushed
    * BELOW candidate generation: the documents scan carries
    * `PushedFilters: [EqualTo(lang,'en')]` (checked in
    * PlanQualitySpec), the signature index is computed only for
    * filtered rows, and the equi-join on `sig` sees the filtered
    * corpus — at 100 TB a 10% predicate makes the index build and
    * every probe 10× cheaper, and top-5 is always 5 deep. The filter
    * side joins on vec_id BEFORE projections, so excluded rows never
    * pay the B dot products. Queries stay unfiltered (any document
    * may ask; only answers are constrained).
    *
    * Oracle: s02's deterministic-LSH replay (interpolated plane
    * literals, integer XOR flips, shared cosine DAG) with the
    * candidate CTE joined to `documents` on the predicate. */
  val s09 = QueryDef(
    "s09_filtered_ann",
    (s, d) => {
      val e = docVectors(s, d)
      val enIds = graft.Tables.documents(s, d)
        .filter(col("lang") === "en").select(col("doc_id").as("vec_id"))
      // PRE-filtering: the predicate joins BELOW candidate generation,
      // so the index is built over the filtered subset only
      val cand = sigOf(e.join(enIds, Seq("vec_id")))
        .select(col("sig"), col("vec_id").as("neighbor_id"),
          col("v").as("nv"), col("n").as("cn"))
      val probes = multiProbed(sigOf(e.filter(isPanel(col("vec_id")))), 4)
      lshRerankTop5(probes, cand)
    },
    Some {
      s"""
      WITH en AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS n
        FROM embeddings),
      pj AS (
        SELECT vec_id, v, n,
               $lshSqlProj
        FROM en),
      sigd AS (SELECT *, ($lshSqlSigBits) AS sig FROM pj),
      cand AS (
        SELECT sig, s.vec_id AS neighbor_id, s.v AS nv, s.n AS cn
        FROM sigd s JOIN documents dd
          ON dd.doc_id = s.vec_id AND dd.lang = 'en'),
      pr AS (
        SELECT vec_id AS query_id, v AS qv, n AS qn, sig,
               list_sort([$lshSqlFlipStructs]) AS fl
        FROM sigd WHERE vec_id < $PANEL),
      probes AS (
        SELECT query_id, qv, qn,
               unnest([sig, xor(sig, fl[1].bit), xor(sig, fl[2].bit),
                       xor(sig, fl[3].bit)]) AS sig
        FROM pr),
      scored AS (
        SELECT p.query_id, c.neighbor_id,
               list_dot_product(p.qv, c.nv) / (p.qn * c.cn) AS cosine
        FROM probes p JOIN cand c USING (sig)
        WHERE c.neighbor_id <> p.query_id),
      r AS (SELECT query_id, neighbor_id, cosine,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rn
            FROM scored)
      SELECT query_id, rn, neighbor_id, round(cosine, 6) AS cosine
      FROM r WHERE rn <= 5
      ORDER BY query_id, rn"""
    })

  /** HYBRID RETRIEVAL with RECIPROCAL RANK FUSION (Cormack et al.,
    * SIGIR 2009) — the lexical+vector composition every production
    * RAG/search stack runs: a sparse leg (shared-top-TF-IDF-term
    * candidates over an inverted index) and a dense leg (cosine rank
    * within the query's hyperplane bucket) are each ranked per query,
    * then fused as Σ 1/(60 + rank) — rank fusion needs no score
    * calibration between legs, which is exactly why RRF won.
    *
    * Both legs are BOUNDED candidate generators — the hybrid adds no
    * new quadratic:
    *  - lexical: docs are represented by their top-3 TF-IDF terms
    *    (t16's scoring verbatim); the inverted index posts each doc
    *    under exactly 3 terms and each posting list is capped to the
    *    64 smallest doc_ids by [[graft.functions.TopKMinAgg]] (a
    *    64-slot aggregation buffer, never a collected list), so a
    *    query meets ≤ 3·64 lexical candidates. The cap is the d02
    *    honesty trade: docs beyond a term's first 64 are reachable
    *    only through the dense leg — documented bounded recall, not a
    *    silent drop, and the fusion is WHY hybrid tolerates it.
    *  - dense: single-probe signature equi-join (s02's planes), rank
    *    within the query's own bucket.
    * Every rank is decided on ROUNDED scores (round-then-rank, the
    * t16 cross-engine discipline: a libm ulp cannot reorder at 4/6
    * digits), ties fall to doc_id, and the RRF sum is two correctly-
    * rounded divisions added in fixed order — bit-identical in both
    * engines, so the fusion is hash-gated end to end.
    *
    * Shape at 100 TB: tf explode → one (doc,word) shuffle (persisted,
    * two consumers); df and the ≤3N-row top-term table are word-keyed
    * aggregates; postings are 64-slot buffers; both legs shuffle on
    * their equi-keys (word / sig); the fusion is a full outer join on
    * (query_id, doc_id) — candidate-list-sized, not corpus-sized. */
  val s10 = QueryDef(
    "s10_hybrid_rrf",
    (s, d) => {
      // dense leg: single-probe LSH bucket (the shared s02 index
      // build), rank by rounded cosine
      val sigd = sigOf(docVectors(s, d))
        .select(col("vec_id"), col("v"), col("n"), col("sig"))
      val qv = sigd.filter(isPanel(col("vec_id")))
        .select(col("sig"), col("vec_id").as("query_id"),
          col("v").as("qv"), col("n").as("qn"))
      val wv = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("doc_id"))
      val vleg = qv.join(sigd.select(col("sig"), col("vec_id").as("doc_id"),
            col("v").as("nv"), col("n").as("cn")), Seq("sig"))
        .filter(col("doc_id") =!= col("query_id"))
        .withColumn("cosine",
          round(dot(col("qv"), col("nv")) / (col("qn") * col("cn")), 6))
        .withColumn("vrn", row_number().over(wv)).filter(col("vrn") <= 20)
        .select(col("query_id"), col("doc_id"), col("vrn"))
      // lexical leg: t16 TF-IDF top-3 terms, capped inverted index
      val docs = graft.Tables.documents(s, d)
      val tf = Memo.persist(
        docs.select(col("doc_id"), explode(tokens).as("word"))
          .filter(col("word") =!= "")
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("tf")))
      val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val wt = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("word"))
      val top3 = Memo.persist(
        tf.join(dfreq, Seq("word"))
          .crossJoin(broadcast(n))
          .withColumn("tfidf",
            round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
          .withColumn("rk", row_number().over(wt)).filter(col("rk") <= 3)
          .select(col("doc_id"), col("word")))
      val posting = top3.groupBy(col("word"))
        .agg(graft.functions.TopKMinAgg.topKMin(col("doc_id"), 64).as("docs"))
        .select(col("word"), explode(col("docs")).as("doc_id"))
      val qterms = top3.filter(isPanel(col("doc_id")))
        .select(col("doc_id").as("query_id"), col("word"))
      val wl = Window.partitionBy(col("query_id"))
        .orderBy(col("n_shared").desc, col("doc_id"))
      val lleg = qterms.join(posting, Seq("word"))
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .withColumn("lrn", row_number().over(wl)).filter(col("lrn") <= 20)
        .select(col("query_id"), col("doc_id"), col("lrn"))
      // fuse: RRF over the union of both candidate lists
      val wr = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf").desc, col("doc_id"))
      vleg.join(lleg, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("vrn")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("lrn")), lit(0.0)), 6))
        .withColumn("rn", row_number().over(wr)).filter(col("rn") <= 10)
        .select(col("query_id"), col("rn"), col("doc_id"), col("rrf"),
          col("vrn"), col("lrn"))
        .orderBy(col("query_id"), col("rn"))
    },
    Some {
      s"""
      WITH en AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS n
        FROM embeddings),
      pj AS (
        SELECT vec_id, v, n,
               $lshSqlProj
        FROM en),
      sigd AS (SELECT vec_id, v, n, ($lshSqlSigBits) AS sig FROM pj),
      vpairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
               round(list_dot_product(q.v, c.v) / (q.n * c.n), 6) AS cosine
        FROM sigd q JOIN sigd c ON q.sig = c.sig AND c.vec_id <> q.vec_id
        WHERE q.vec_id < $PANEL),
      vleg AS (
        SELECT query_id, doc_id, vrn FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, doc_id) AS vrn
          FROM vpairs)
        WHERE vrn <= 20),
      toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents),
      tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM toks WHERE word <> '' GROUP BY doc_id, word),
      dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.word,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 4) AS tfidf
        FROM tf JOIN dfreq USING (word) CROSS JOIN n),
      top3 AS (
        SELECT doc_id, word FROM (
          SELECT doc_id, word,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, word) AS rk
          FROM scored)
        WHERE rk <= 3),
      posting AS (
        SELECT word, doc_id FROM (
          SELECT word, doc_id,
                 row_number() OVER (PARTITION BY word ORDER BY doc_id) AS pr
          FROM top3)
        WHERE pr <= 64),
      qterms AS (
        SELECT doc_id AS query_id, word FROM top3 WHERE doc_id < $PANEL),
      lleg AS (
        SELECT query_id, doc_id, lrn FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY n_shared DESC, doc_id) AS lrn
          FROM (SELECT q.query_id, p.doc_id, count(*) AS n_shared
                FROM qterms q JOIN posting p USING (word)
                WHERE p.doc_id <> q.query_id
                GROUP BY 1, 2))
        WHERE lrn <= 20),
      fused AS (
        SELECT query_id, doc_id, vrn, lrn,
               round(coalesce(1.0 / (60 + vrn), 0) +
                     coalesce(1.0 / (60 + lrn), 0), 6) AS rrf
        FROM vleg v FULL OUTER JOIN lleg l USING (query_id, doc_id)),
      r AS (
        SELECT query_id, doc_id, vrn, lrn, rrf,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf DESC, doc_id) AS rn
        FROM fused)
      SELECT query_id, rn, doc_id, rrf, vrn, lrn
      FROM r WHERE rn <= 10
      ORDER BY query_id, rn"""
    })

  /** Per-label vector centroid over the embeddings table, powered by
    * the [[graft.functions.VecSumAgg]] DeclarativeAggregate: one
    * constant-width decimal buffer per group, map-side combined — the
    * canonical centroid/sketch aggregation shape for 100 TB embedding
    * tables (shuffle payload is labels × dim decimals, independent of
    * row count). Decimal lanes make the sum order-independent, so the
    * oracle replays it exactly; output is exploded to one row per
    * (label, lane) for a schema-stable hash compare. */
  val q34 = QueryDef(
    "q34_vector_centroid",
    (s, d) => {
      Tables.embeddings(s, d)
        .select(col("label"),
          col("embedding").cast("array<decimal(28,6)>").as("ed"))
        .groupBy("label")
        .agg(graft.functions.VecSumAgg.vecSum(col("ed"), EMB_DIM).as("vsum"),
          count(lit(1)).as("n_vecs"))
        .select(col("label"), col("n_vecs"), posexplode(col("vsum")))
        .select(col("label"), (col("pos") + 1).as("lane"), col("n_vecs"),
          col("col").cast("double").as("lane_sum"),
          (col("col").cast("double") / col("n_vecs")).as("centroid"))
        .orderBy("label", "lane")
    },
    Some("""
      WITH u AS (
        SELECT label, generate_subscripts(embedding, 1) AS lane,
               CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(28,6)) AS ed
        FROM embeddings)
      SELECT label, lane, count(*) AS n_vecs,
             CAST(sum(ed) AS DOUBLE) AS lane_sum,
             CAST(sum(ed) AS DOUBLE) / count(*) AS centroid
      FROM u GROUP BY label, lane
      ORDER BY label, lane"""))

  /** K and banding for [[d03]]: 16 minhashes → 4 bands of 4 rows
    * (r=4, b=4 ⇒ P[candidate] = 1−(1−J⁴)⁴: 0.03 at J=0.3, 0.67 at
    * J=0.7 — selective for near-dups; r=2 banding passed half of all
    * moderately-overlapping pairs and drowned verification). The K
    * universal hashes combine TWO independent md5 slices per shingle
    * (h_i = (a_i·h1 + b_i·h2) mod p, p = 2^61−1): one digest instead
    * of K salted digests, and genuinely independent lanes — a single
    * multiplier over one base hash would be monotone in it (products
    * stay below p, never wrapping), collapsing all K minhashes onto
    * the same argmin shingle. Constants are interpolated into both
    * plans from the same seed, so the oracle replays it verbatim. */
  private[queries] val MINHASH_K = 16
  private[queries] val MINHASH_P = 2305843009213693951L // 2^61 - 1
  /** Bottom-k cap on the per-doc h60 set in the LSH verify stage:
    * exact Jaccard below the cap, bottom-k minwise estimate above it,
    * fixed 8·k-byte agg buffer either way. */
  private[queries] val JACCARD_SET_K = 4096
  private[queries] val (minhashA, minhashB) = {
    val rnd = new java.util.Random(2024)
    (Seq.fill(MINHASH_K)((rnd.nextInt(1 << 20) | 1).toLong),
      Seq.fill(MINHASH_K)((rnd.nextInt(1 << 20) | 1).toLong))
  }

  /** MinHash + LSH banding near-dedup: word-3-gram shingles → K=16
    * portable minhashes → 4 bands of 4 → candidates share a band
    * signature → exact Jaccard verification on candidates only.
    *
    * Shuffle budget (the 100 TB view): one shuffle to min-aggregate
    * signatures per doc (one Array[Long] imperative buffer — no 16×
    * row explosion),
    * one for the band-bucket equality join, and a verification join
    * restricted by semi-join to candidate docs only (without that
    * restriction the verify step IS the quadratic join LSH exists to
    * avoid). */
  /** The verified near-dup pair set behind [[d03]] (and the edge set
    * of [[d07]]): doc_a < doc_b, exact shingle-Jaccard on LSH
    * candidates only. Unordered — callers add presentation sort. */
  private[queries] def minhashVerifiedPairs(s: SparkSession, d: String): DataFrame = {
      // the shared materialized HASHED shingle table
      // ([[Shingles.hashed]]) feeds both the signature path and the
      // verification path here, and is reused by d02/d06 in the same
      // session; md5 ran once at table build, queries touch only longs
      val sh = Shingles.hashed(s, d)
      // K lanes are expanded INSIDE the imperative aggregate
      // ([[graft.functions.MinHashPairAgg]]): the per-shingle K-element
      // array, its zip_with HOF (interpreted, off the codegen path) and
      // K pmod expressions never materialize — each input row is two
      // md5 slices off the cached table, the lane math is tight JVM
      // long arithmetic in update(). Identical modular formula → same
      // signatures the oracle computes lane-by-lane.
      val minh = sh.select(col("doc_id"), col("h1"), col("h2"))
        .groupBy("doc_id")
        .agg(graft.functions.MinHashPairAgg
          .minhashPairSig(col("h1"), col("h2"), minhashA, minhashB, MINHASH_P).as("sig"))
      // band signature = the 4 raw lane longs, joined as 4 key columns
      // (cheaper to hash/compare/shuffle than a concat'd string sig)
      val laneCols = Seq("l0", "l1", "l2", "l3")
      val bands = minh.select(col("doc_id"), explode(array((0 until MINHASH_K / 4).map(b =>
          struct(lit(b).as("band") +: (0 until 4).map(r =>
            element_at(col("sig"), 4 * b + r + 1).as(laneCols(r))): _*)): _*)).as("bs"))
        .select(col("doc_id") +: (("band" +: laneCols).map(f => col(s"bs.$f").as(f))): _*)
      val ba = bands.select(col("doc_id").as("doc_a") +: ("band" +: laneCols).map(col): _*)
      val bb = bands.select(col("doc_id").as("doc_b") +: ("band" +: laneCols).map(col): _*)
      val cand = ba.join(bb, "band" +: laneCols)
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
      // exact-Jaccard verification WITHOUT a shingle self-join: each
      // doc's shingle set becomes one array row of 60-bit fingerprints
      // (8-byte longs, not strings); candidate pairs join the two
      // arrays and intersect them — O(|cand| · |set|) instead of an
      // inverted-index equality join whose output is quadratic in
      // near-dup cluster size. The per-doc set is BOUNDED: the k
      // smallest distinct h60 per doc (TopKMinAgg's fixed k-slot
      // buffer) instead of collect_set's O(doc-shingles) state — for
      // docs under the cap (every realistic doc; JACCARD_SET_K =
      // 4096 shingles ≈ 4 KB of text) the intersection is EXACT,
      // beyond it this degrades gracefully into the classic bottom-k
      // minwise estimate over the same n_a+n_b-n_common denominator,
      // and the agg buffer is 32 KB forever, immune to the
      // adversarial 10 MB document.
      val sets = sh.groupBy("doc_id")
        .agg(graft.functions.TopKMinAgg.topKMin(col("h60"), JACCARD_SET_K).as("ss"),
          count(lit(1)).as("n_sh"))
      val sa = sets.select(col("doc_id").as("doc_a"), col("ss").as("ssa"), col("n_sh").as("n_a"))
      val sb = sets.select(col("doc_id").as("doc_b"), col("ss").as("ssb"), col("n_sh").as("n_b"))
      val pairs = cand.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
        .withColumn("n_common", size(array_intersect(col("ssa"), col("ssb"))).cast("long"))
        .withColumn("jaccard", round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 4))
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      // tiny (bounded by LSH candidate count) and read by both d03 and
      // d07 in one session — CacheManager dedups by canonical plan, so
      // the pair pipeline runs once; Memo.release() frees it
      Memo.persist(pairs)
  }

  /** Oracle CTE chain computing [[minhashVerifiedPairs]] as a final
    * CTE named `pairs` — shared verbatim by the d03 and d07 oracles
    * so both engines replay the identical pair pipeline. */
  private[queries] val minhashPairsOracleCtes: String = {
      val aList = minhashA.mkString("[", ",", "]")
      val bList = minhashB.mkString("[", ",", "]")
      val minCols = (0 until MINHASH_K).map(i => s"min(hs[${i + 1}]) AS mh$i").mkString(", ")
      val bandSelects = (0 until MINHASH_K / 4).map { b =>
        val sig = (0 until 4).map(r => s"mh${4 * b + r}").mkString(" || ',' || ")
        s"SELECT doc_id, $b AS band, $sig AS sig FROM minh"
      }.mkString(" UNION ALL ")
      s"""${Shingles.oracleCte},
      hashed AS (
        SELECT doc_id, list_transform(range(1, ${MINHASH_K + 1}),
                 i -> ($aList[i] * h1 + $bList[i] * h2) % $MINHASH_P) AS hs
        FROM sh),
      minh AS (SELECT doc_id, $minCols FROM hashed GROUP BY doc_id),
      bands AS ($bandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      capped AS (
        -- twin of the Spark side's bottom-k h60 set (TopKMinAgg):
        -- the k smallest DISTINCT h60 per doc
        SELECT doc_id, h60 FROM (
          SELECT doc_id, h60,
                 row_number() OVER (PARTITION BY doc_id ORDER BY h60) AS rk
          FROM (SELECT DISTINCT doc_id, h60 FROM sh))
        WHERE rk <= $JACCARD_SET_K),
      inter AS (
        -- DISTINCT h60: matches array_intersect set semantics should
        -- two hash tuples ever share an h60 within a doc
        SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
               count(DISTINCT sa.h60) AS n_common
        FROM capped sa JOIN capped sb ON sa.h60 = sb.h60 AND sa.doc_id < sb.doc_id
        JOIN cand ON cand.doc_a = sa.doc_id AND cand.doc_b = sb.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT c.doc_a, c.doc_b, coalesce(i.n_common, 0) AS n_common,
               round(CAST(coalesce(i.n_common, 0) AS DOUBLE) /
                     CAST(ca.n_sh + cb.n_sh - coalesce(i.n_common, 0) AS DOUBLE), 4) AS jaccard
        FROM cand c
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN cnt ca ON ca.doc_id = c.doc_a
        JOIN cnt cb ON cb.doc_id = c.doc_b)"""
  }

  /** MinHash + LSH banding near-dedup — see [[minhashVerifiedPairs]]
    * for the pipeline and the scale notes above. */
  val d03 = QueryDef(
    "d03_minhash_lsh",
    (s, d) => minhashVerifiedPairs(s, d).orderBy(col("doc_a"), col("doc_b")),
    Some(s"""
      WITH $minhashPairsOracleCtes
      SELECT doc_a, doc_b, n_common, jaccard FROM pairs
      ORDER BY doc_a, doc_b"""))

  /** Duplicate CLUSTERS from the verified near-dup pairs: connected
    * components ([[graft.ops.ConnectedComponents]], alternating
    * large-star/small-star) over pairs with Jaccard ≥ 0.5, so
    * transitive matches (A~B, B~C) land in one cluster {A,B,C} with a
    * canonical keeper — the step between pairwise LSH and an actual
    * "drop the duplicates" pass at 100 TB. Oracle replays the closure
    * with a recursive CTE (min reachable id = cluster id). */
  val d07 = QueryDef(
    "d07_dup_clusters",
    (s, d) => {
      val edges = minhashVerifiedPairs(s, d)
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val labels = graft.ops.ConnectedComponents.labels(edges)
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
      val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
        .orderBy(col("cluster_id"), col("doc_id"))
    },
    Some(s"""
      WITH RECURSIVE $minhashPairsOracleCtes,
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs WHERE jaccard >= 0.5),
      sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
      reach AS (
        SELECT u, v FROM sym
        UNION
        SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u),
      comp AS (
        SELECT u AS doc_id, least(u, min(v)) AS cluster_id
        FROM reach GROUP BY u)
      SELECT doc_id, cluster_id,
             count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM comp
      ORDER BY cluster_id, doc_id"""))

  /** SimHash document signatures: 16-bit portable simhash from token
    * md5 bit-votes (with multiplicity). Equal signatures → dup groups. */
  val d04 = QueryDef(
    "d04_simhash",
    (s, d) => {
      val toksd = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens).as("tok"))
        .withColumn("h", conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long"))
      val votes = toksd
        .withColumn("j", explode(sequence(lit(0), lit(15))))
        .withColumn("vote", when(expr("(h >> j) & 1") === 1, 1).otherwise(-1))
      val bits = votes.groupBy(col("doc_id"), col("j"))
        .agg(sum(col("vote")).as("balance"))
        .withColumn("bit", when(col("balance") > 0, expr("CAST(1 AS BIGINT) << j")).otherwise(lit(0L)))
      bits.groupBy(col("doc_id"))
        .agg(sum(col("bit")).as("simhash16"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH toksd AS (
        SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 4)) AS BIGINT) AS h
        FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
              FROM documents)),
      votes AS (
        SELECT doc_id, j,
               CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END AS vote
        FROM toksd, (SELECT unnest(range(0, 16)) AS j)),
      bits AS (
        SELECT doc_id, j,
               CASE WHEN sum(vote) > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS bit
        FROM votes GROUP BY doc_id, j)
      SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash16
      FROM bits GROUP BY doc_id
      ORDER BY doc_id"""))

  /** Embedding-cosine near-dup, label-blocked (IVF-style): pairs are
    * generated only within a coarse partition (label), never globally —
    * the blocking pattern that survives 100 TB. */
  /** Sub-bucketing planes for [[d05]]: L=3 hash tables × B=2 signed
    * hyperplane projections, seeded — interpolated into BOTH plans so
    * the oracle replays the bucketing verbatim (Double.toString
    * round-trips exactly through DuckDB's literal parser). */
  private[queries] val D05_B = 2
  private[queries] val D05_L = 3
  private[queries] val d05Planes: Seq[Seq[Seq[Double]]] = {
    val rnd = new java.util.Random(11)
    Seq.fill(D05_L, D05_B)(Seq.fill(EMB_DIM)(rnd.nextGaussian()))
  }

  /** d05's N-adaptive sub-bucket dial (the d09 pattern): beyond the
    * fixed B=2 base bits,
    * each table gains `nbits` EXTRA signed-hyperplane bits where
    * nbits = #{b < MAX : CAP·2^b < N} — pure integer comparisons on a
    * one-row corpus count, so both engines derive the identical dial
    * (a float log2 could fork in the last ulp at a power-of-two
    * boundary). Effective cells per (label, tbl) = 2^(B+nbits) grow
    * linearly with N, so the per-cell population — and with it the
    * candidate pair volume Σ|cell|² — stays bounded no matter how the
    * corpus saturates the old 4-cell space (sf1 uniform: 500/cell →
    * ~60/cell, 15.2M → ~1.9M raw pairs). Extra planes are seeded PER
    * TABLE (shared planes would correlate the tables and compound the
    * recall loss multiplicatively instead of independently). CAP=4096
    * keeps nbits=0 through sf0.1 (N≤2000: bucketing byte-identical to
    * r14) and gives nbits=3 at sf1 (N=20000). Recall trade at the
    * dialed depth (5 bits/table, L=3): ≈0.96 for true near-identical
    * pairs (cos ≥ 0.97), ≈0.84 at the cos≈0.9 fringe — lossy by
    * contract like d02/d09; the oracle replays the identical bucketing
    * so the hash gate certifies the traded output exactly. */
  private[queries] val D05_CELL_CAP = 4096L
  private[queries] val D05_EXTRA_MAX = 12
  private[queries] val d05ExtraPlanes: Seq[Seq[Seq[Double]]] = {
    val rnd = new java.util.Random(15)
    Seq.fill(D05_L, D05_EXTRA_MAX)(Seq.fill(EMB_DIM)(rnd.nextGaussian()))
  }
  /** Scala twin of the in-plan nbits derivation (for specs). */
  private[queries] def d05NBits(n: Long): Int =
    (0 until D05_EXTRA_MAX).count(b => (D05_CELL_CAP << b) < n)

  /** Embedding near-dup with BOUNDED blocks: candidates must share
    * (label, table, hyperplane-sig) for one of L=3 tables of B=2 sign
    * bits, then exact cosine verification at ≥ 0.35. A plain
    * within-label self-join has no cap — one hot
    * label at 100 TB is a quadratic straggler. Sub-bucketing splits
    * every label ~2^B ways per table (the s02 pattern), so the join
    * key is (label, tbl, sig), pair work drops ~4× per table, and no
    * single bucket carries a whole hot label. The [[d05NBits]]
    * N-adaptive dial sits on top: when the corpus outgrows the fixed
    * 2^B cell space (the saturated regime measured ×17 sf0.1→sf1 on
    * the uniform corpus), extra seeded
    * bits keep cell population bounded and pair volume linear in N.
    * The price is recall (base ≈ 1−(1−p^B)^L, p = 1−θ/π; ≈ 0.99+ for
    * true near-dups at cos ≥ 0.9; at the sf1 dial of B+3 bits ≈ 0.96
    * at cos ≥ 0.97) — the standard LSH trade, made deterministic here
    * so the DuckDB oracle hash-verifies the exact same output.
    * SimilaritySpec pins the hot-label bound + planted-pair recall +
    * the adaptive split. */
  val d05 = QueryDef(
    "d05_embedding_neardup",
    (s, d) => {
      val e = docVectors(s, d)
      // The dial's N comes from a driver-side scalar count (the q67
      // bounded-collect class: one long, never row data) so `nbits`
      // is a plan-time LITERAL and the unused extra-plane dot
      // products are simply absent from the sig projection. Deriving
      // nbits IN-PLAN (broadcast one-row count + per-row
      // `when(b < nbits, dot…)` gates) gives identical results, but
      // every row carried 3×12 gated 64-dim dot expressions plus the
      // count crossJoin even when the dial was closed — measured ×2.2
      // at sf0.1 (0.73 → 1.60 s bench min) where nbits=0 and the plan
      // should be byte-identical to the fixed-B shape. The oracle
      // keeps its scalar-subquery derivation: same N, same integer
      // dial, same buckets, hash-identical output.
      // N reads from the parquet FOOTERS (exact per-block row counts —
      // embeddings is unfiltered, so footer sum == count()) instead of
      // a full-table COUNT job: a
      // driver metadata read replaces one complete scan per
      // invocation — at 100 TB that scan was the dial's whole cost.
      // Scan fallback covers exotic layouts; both paths are the same
      // integer, so the dial — and the hash-gated output — is
      // unchanged.
      val nbits = d05NBits(graft.Tables.parquetRowCount(s, d, "embeddings")
        .getOrElse(e.count()))
      val sigged = e
        .select(col("label"), col("vec_id"),
          explode(array((0 until D05_L).map { t =>
            struct(lit(t).as("tbl"),
              ((0 until D05_B).map(j =>
                when(dot(col("v"), typedlit(d05Planes(t)(j))) > 0, lit(1L << j))
                  .otherwise(lit(0L))) ++
                (0 until nbits).map(b =>
                  when(dot(col("v"), typedlit(d05ExtraPlanes(t)(b))) > 0,
                    lit(1L << (D05_B + b))).otherwise(lit(0L))))
                .reduce(_ + _).as("sig"))
          }: _*)).as("ts"))
        .select(col("label"), col("vec_id"),
          col("ts.tbl").as("tbl"), col("ts.sig").as("sig"))
      val a = sigged.select(col("label"), col("tbl"), col("sig"), col("vec_id").as("vec_a"))
      val b = sigged.select(col("label"), col("tbl"), col("sig"), col("vec_id").as("vec_b"))
      // DEDUPE-BEFORE-VERIFY, kept deliberately (measured A/B): the
      // alternative — skip this `.distinct()` and dedupe the verified
      // survivors — looked like a win on a cold single-pass probe
      // (the distinct's shuffle re-ran the whole sigged build), but a
      // warm min-of-two bench on the same host says otherwise:
      // distinct-first 12.5 s vs verify-first 13.5 s canary-adjusted
      // at sf1. The distinct shuffles compact 24-byte pair rows
      // (fast, local), and in exchange every downstream join + dot
      // carries the deduplicated 11.6M rows instead of the raw 15.2M
      // (×L collisions on saturated corpora make that gap wider) —
      // at 100 TB, where the vector joins degrade to shuffle joins,
      // dedup-first is strictly the right order. Methodology lesson
      // recorded in PLANS_HISTORY r14: never conclude from a cold
      // single-pass stage probe what only a warm steady-state A/B
      // can decide.
      val cand = a.join(b, Seq("label", "tbl", "sig"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("label"), col("vec_a"), col("vec_b")).distinct()
      val ea = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("n").as("na"))
      val eb = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("n").as("nb"))
      cand.join(ea, Seq("vec_a")).join(eb, Seq("vec_b"))
        .withColumn("cosine", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
        .filter(col("cosine") >= 0.35)
        .select(col("label"), col("vec_a"), col("vec_b"), col("cosine"))
        .orderBy(col("label"), col("vec_a"), col("vec_b"))
    },
    Some {
      def lst(p: Seq[Double]) = p.mkString("[", ",", "]")
      val sigSelects = (0 until D05_L).map { t =>
        val base = (0 until D05_B).map(j =>
          s"(CASE WHEN list_dot_product(v, ${lst(d05Planes(t)(j))}) > 0 THEN ${1L << j} ELSE 0 END)")
        val extra = (0 until D05_EXTRA_MAX).map(b =>
          s"(CASE WHEN $b < nb.nbits AND list_dot_product(v, ${lst(d05ExtraPlanes(t)(b))}) > 0 THEN ${1L << (D05_B + b)} ELSE 0 END)")
        val bits = (base ++ extra).mkString(" + ")
        s"SELECT label, vec_id, $t AS tbl, ($bits) AS sig FROM e, nb"
      }.mkString(" UNION ALL ")
      s"""
      WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      nrow AS (SELECT count(*) AS nn FROM embeddings),
      nb AS (SELECT (${(0 until D05_EXTRA_MAX).map(b =>
        s"(CASE WHEN ${D05_CELL_CAP << b} < nn THEN 1 ELSE 0 END)")
        .mkString(" + ")}) AS nbits FROM nrow),
      sigged AS ($sigSelects),
      cand AS (
        SELECT DISTINCT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM sigged a JOIN sigged b
          ON a.label = b.label AND a.tbl = b.tbl AND a.sig = b.sig
         AND a.vec_id < b.vec_id),
      p AS (
        SELECT c.label, c.vec_a, c.vec_b,
               round(list_dot_product(ea.v, eb.v) /
                     (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cosine
        FROM cand c
        JOIN e ea ON ea.vec_id = c.vec_a
        JOIN e eb ON eb.vec_id = c.vec_b)
      SELECT label, vec_a, vec_b, cosine
      FROM p WHERE cosine >= 0.35
      ORDER BY label, vec_a, vec_b"""
    })

  /** [[t26]]'s hash tables: L=6 × B=2 seeded signed hyperplanes —
    * twice d05's table count, because decontamination is a RECALL
    * problem (a missed leak poisons an eval; a missed near-dup just
    * wastes tokens): at the cos ≥ 0.9 true-leak regime the 6-table
    * miss rate is ~4·10⁻⁴ vs d05's ~2·10⁻². Interpolated into both
    * engines (the d05 plane discipline). */
  private[queries] val T26_B = 2
  private[queries] val T26_L = 6
  private[queries] val t26Planes: Seq[Seq[Seq[Double]]] = {
    val rnd = new java.util.Random(26)
    Seq.fill(T26_L, T26_B)(Seq.fill(EMB_DIM)(rnd.nextGaussian()))
  }
  private[queries] val T26_TAU = 0.35

  /** SEMANTIC TRAIN/TEST DECONTAMINATION — the embedding-space analog
    * of [[TextOps.t17]]'s shingle-overlap audit: an eval answer that
    * was PARAPHRASED into the training set shares no 5-gram, but its
    * embedding sits next to the test doc's. Split is the t08
    * arithmetic on vec_id (train < 90, held-out ≥ 90 = val 90–94 +
    * test 95–99 — pure projection, re-derivable for audits; val is
    * audited too, because a paraphrase leak into val poisons model
    * selection the same way a test leak poisons evaluation);
    * candidates = train×held-out pairs sharing
    * a (label, table, hyperplane-sig) bucket for one of L=6 tables
    * (never a global cross join — the d05 blocking pattern with the
    * recall dial turned up); flags = candidates whose exact cosine
    * clears d05's verified ≥ 0.35 threshold on this corpus. Output is
    * the per-label decontamination ACCOUNTING (n_train / n_heldout /
    * n_flagged / n_kept) — the bounded report a corpus release ships;
    * the flagged-id set itself is pinned doc-exact by
    * SemanticDeconSpec (plain-Scala replay + a planted paraphrase
    * pair that the bucketing provably cannot miss). Scale: sig
    * explode is a narrow projection; the candidate join keys on
    * (label, tbl, sig) with the 5%-sized test side broadcastable at
    * any realistic split ratio; exact verification touches only
    * candidate pairs. */
  val t26 = QueryDef(
    "t26_semantic_decon",
    (s, d) => {
      val e = docVectors(s, d)
        .withColumn("b", pmod(conv(substring(
          md5(col("vec_id").cast("string")), 1, 15), 16, 10).cast("long"), lit(100)))
      def sigged(df: DataFrame, idAs: String) = df.select(col("label"),
        col("vec_id").as(idAs),
        explode(array((0 until T26_L).map { t =>
          struct(lit(t).as("tbl"),
            (0 until T26_B).map(j =>
              when(dot(col("v"), typedlit(t26Planes(t)(j))) > 0, lit(1 << j))
                .otherwise(lit(0))).reduce(_ + _).as("sig"))
        }: _*)).as("ts"))
        .select(col("label"), col(idAs),
          col("ts.tbl").as("tbl"), col("ts.sig").as("sig"))
      val train = e.filter(col("b") < 90)
      // held-out = val (90-94) + test (95-99): paraphrase leakage into
      // the val split poisons model selection exactly as test leakage
      // poisons evaluation — audit against ALL of it
      val heldout = e.filter(col("b") >= 90)
      val cand = sigged(train, "train_id")
        .join(sigged(heldout, "test_id"), Seq("label", "tbl", "sig"))
        .select(col("label"), col("train_id"), col("test_id")).distinct()
      val ea = e.select(col("vec_id").as("train_id"), col("v").as("va"), col("n").as("na"))
      val eb = e.select(col("vec_id").as("test_id"), col("v").as("vb"), col("n").as("nb"))
      val flagged = cand.join(ea, Seq("train_id")).join(eb, Seq("test_id"))
        .withColumn("cosine", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
        .filter(col("cosine") >= T26_TAU)
        .select(col("label"), col("train_id")).distinct()
      train.groupBy(col("label")).agg(count(lit(1)).as("n_train"))
        .join(heldout.groupBy(col("label")).agg(count(lit(1)).as("n_heldout")),
          Seq("label"), "left")
        .join(flagged.groupBy(col("label")).agg(count(lit(1)).as("n_flagged")),
          Seq("label"), "left")
        .select(col("label"), col("n_train"),
          coalesce(col("n_heldout"), lit(0L)).as("n_heldout"),
          coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
          (col("n_train") - coalesce(col("n_flagged"), lit(0L))).as("n_kept"))
        .orderBy(col("label"))
    },
    Some {
      def lst(p: Seq[Double]) = p.mkString("[", ",", "]")
      val bkt = "CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
      val sigSelects = (0 until T26_L).map { t =>
        val bits = (0 until T26_B).map(j =>
          s"(CASE WHEN list_dot_product(v, ${lst(t26Planes(t)(j))}) > 0 THEN ${1 << j} ELSE 0 END)")
          .mkString(" + ")
        s"SELECT label, vec_id, b, $t AS tbl, ($bits) AS sig FROM e"
      }.mkString(" UNION ALL ")
      s"""
      WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v, $bkt AS b FROM embeddings),
      sigged AS ($sigSelects),
      cand AS (
        SELECT DISTINCT a.label, a.vec_id AS train_id, t.vec_id AS test_id
        FROM sigged a JOIN sigged t
          ON a.label = t.label AND a.tbl = t.tbl AND a.sig = t.sig
        WHERE a.b < 90 AND t.b >= 90),
      flagged AS (
        SELECT DISTINCT c.label, c.train_id
        FROM cand c
        JOIN e ea ON ea.vec_id = c.train_id
        JOIN e eb ON eb.vec_id = c.test_id
        WHERE round(list_dot_product(ea.v, eb.v) /
                    (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) >= $T26_TAU),
      tr AS (SELECT label, count(*) AS n_train FROM e WHERE b < 90 GROUP BY label),
      te AS (SELECT label, count(*) AS n_heldout FROM e WHERE b >= 90 GROUP BY label),
      fl AS (SELECT label, count(*) AS n_flagged FROM flagged GROUP BY label)
      SELECT tr.label, CAST(tr.n_train AS BIGINT) AS n_train,
             CAST(coalesce(te.n_heldout, 0) AS BIGINT) AS n_heldout,
             CAST(coalesce(fl.n_flagged, 0) AS BIGINT) AS n_flagged,
             CAST(tr.n_train - coalesce(fl.n_flagged, 0) AS BIGINT) AS n_kept
      FROM tr LEFT JOIN te USING (label) LEFT JOIN fl USING (label)
      ORDER BY label"""
    })

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with a coarse quantizer,
    * then remove near-duplicates ONLY within each cluster — pairwise
    * cosine never runs globally, which is the entire reason the
    * method survives web scale. Reference semantics: the
    * dedup-the-corpus capability family (scr/Transform.py dedup
    * steps), lifted from exact-key to embedding space.
    *
    * Stages (all deterministic, so the oracle replays them verbatim):
    *  1. coarse quantizer = [[s03]]'s per-label decimal-exact
    *     centroids (C_label cells, constant-width VecSumAgg buffers,
    *     map-side combined);
    *  2. assignment = N·C codegen'd dot products against the
    *     broadcast centroid table, argmax via one window shuffle
    *     keyed on vec_id;
    *  2b. N-adaptive sub-bucketing: each assigned vector gains an
    *     `nbits`-bit hyperplane signature ([[d09Planes]]; nbits =
    *     smallest b with CELL_CAP·2^b ≥ N, derived in-plan from a
    *     one-row corpus count via integer comparisons) — the
    *     effective cell is (cell, sig);
    *  3. within-(cell, sig) pair scan: equi-join restricted to
    *     `earlier_id < id`, cosine ≥ τ marks the later doc removed —
    *     keep-lowest-id, the same greedy keep-first discipline as
    *     U3/U4's keyed dedup, so survivors are order-independent.
    *
    * 100 TB shape: pair work is Σ|cell|². The effective cell count
    * C_label·2^nbits grows LINEARLY with N by construction, so the
    * average cell holds ~CELL_CAP vectors and Σ|cell|² ≈ N·CELL_CAP —
    * linear, at any scale (SimilaritySpec pins the split on a
    * hot-cell corpus). The residual worst case — a cell of true
    * near-identical duplicates landing on one signature — is inherent
    * to the method (they ARE the dups being removed). The price of
    * sub-bucketing is the standard LSH recall trade (a near-dup pair
    * split across signatures is missed; ≈ 0.99+ retained for true
    * near-dups at cos ≥ 0.9, like d05). The dup-id set is a
    * semi-join-shaped DISTINCT on vec_id — linear state. Output is
    * one scalar-columns row per vector (keep ∈ {0,1}), the shape a
    * downstream `filter(keep = 1)` consumes. */
  /** d09's cosine threshold — d05's verified near-dup threshold on
    * this corpus, interpolated into BOTH engines (the s02Planes /
    * KEEP_THRESHOLD discipline: one constant, zero drift). */
  private val SEMDEDUP_TAU = 0.35d

  /** d09's N-adaptive sub-quantizer. The effective cell key is
    * (argmax-centroid cell, nbits hyperplane sign bits) where `nbits`
    * is the smallest b with CELL_CAP·2^b ≥ N — so the TOTAL cell count
    * grows linearly with the corpus and the average cell stays at
    * ~CELL_CAP vectors no matter the scale. nbits derives from the
    * corpus count through pure INTEGER comparisons (a float log2
    * could disagree between engines in the last ulp at a power-of-two
    * boundary and silently fork the bucketing); the seeded plane
    * table is interpolated into the oracle verbatim (the s02Planes /
    * d05Planes discipline). PLANES_MAX bounds the interpolable table:
    * 2^16 sub-cells per label ≈ 16M vectors per label at CAP=256 —
    * beyond that, extending the seeded table is a constant-table
    * change, not a shape change. */
  private[queries] val D09_CELL_CAP = 256L
  private[queries] val D09_PLANES_MAX = 16
  private[queries] val d09Planes: Seq[Seq[Double]] = {
    val rnd = new java.util.Random(13)
    Seq.fill(D09_PLANES_MAX)(Seq.fill(EMB_DIM)(rnd.nextGaussian()))
  }
  /** Scala twin of the in-plan nbits derivation (for specs). */
  private[queries] def d09NBits(n: Long): Int =
    (0 until D09_PLANES_MAX).count(b => (D09_CELL_CAP << b) < n)

  val d09 = QueryDef(
    "d09_semdedup",
    (s, d) => {
      val TAU = SEMDEDUP_TAU
      val e = docVectors(s, d)
      val cent = Tables.embeddings(s, d)
        .select(col("label").as("cell"),
          col("embedding").cast("array<decimal(28,6)>").as("ed"))
        .groupBy("cell")
        .agg(graft.functions.VecSumAgg.vecSum(col("ed"), EMB_DIM).as("vsum"),
          count(lit(1)).as("nv"))
        .select(col("cell"),
          transform(col("vsum"), x => x.cast("double") / col("nv")).as("cv"))
        .withColumn("cn", norm(col("cv")))
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy(col("csim").desc, col("cell"))
      // persisted: three consumers (sig branch, its self-join twin,
      // the final keep-flag join) reference the assignment, and AQE's
      // stage reuse only deduped two of them — the keep-flag branch
      // re-ran the whole N·C cross product AND the centroid aggregate
      // (seen in the post-execution plan, r6). One O(N)-row cache
      // beats recomputing the O(N·C) stage; no filter pushdown is
      // lost (every consumer needs every row — unlike s03, where the
      // probe branch's pushed sampling filter makes duplication the
      // cheaper shape).
      val assign = Memo.persist(
        e.crossJoin(broadcast(cent))
          .withColumn("csim", dot(col("v"), col("cv")) / (col("n") * col("cn")))
          .withColumn("crn", row_number().over(wAssign))
          .filter(col("crn") === 1)
          .select(col("cell"), col("vec_id"), col("v"), col("n")))
      val nrow = e.agg(count(lit(1)).as("nn"))
      val nbits = (0 until D09_PLANES_MAX)
        .map(b => when(lit(D09_CELL_CAP << b) < col("nn"), 1).otherwise(0))
        .reduce(_ + _)
      val sigged = assign.crossJoin(broadcast(nrow))
        .withColumn("nbits", nbits)
        .withColumn("sig", (0 until D09_PLANES_MAX).map { b =>
          when(lit(b) < col("nbits") &&
            dot(col("v"), typedlit(d09Planes(b))) > 0, lit(1L << b))
            .otherwise(lit(0L))
        }.reduce(_ + _))
      val earlier = sigged.select(col("cell"), col("sig"),
        col("vec_id").as("vec_b"), col("v").as("vb"), col("n").as("nb"))
      val dups = sigged.join(earlier, Seq("cell", "sig"))
        .filter(col("vec_b") < col("vec_id"))
        .filter(round(dot(col("v"), col("vb")) / (col("n") * col("nb")), 6) >= TAU)
        .select(col("vec_id")).distinct()
      assign.join(dups.withColumn("dup", lit(1)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          when(col("dup").isNull, lit(1)).otherwise(lit(0)).as("keep"))
        .orderBy(col("vec_id"))
    },
    Some(s"""
      WITH u AS (
        SELECT label AS cell, generate_subscripts(embedding, 1) AS lane,
               CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(28,6)) AS ed
        FROM embeddings),
      lanes AS (
        SELECT cell, lane, CAST(sum(ed) AS DOUBLE) / count(*) AS cval
        FROM u GROUP BY cell, lane),
      cent AS (SELECT cell, list(cval ORDER BY lane) AS cv FROM lanes GROUP BY cell),
      centn AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cent),
      en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))) AS n
             FROM embeddings),
      ranked AS (
        SELECT vec_id, v, n, cell,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY list_dot_product(v, cv) / (n * cn) DESC, cell) AS crn
        FROM en CROSS JOIN centn),
      assign AS (SELECT cell, vec_id, v, n FROM ranked WHERE crn = 1),
      nrow AS (SELECT count(*) AS nn FROM embeddings),
      nb AS (SELECT (${(0 until D09_PLANES_MAX).map(b =>
        s"(CASE WHEN ${D09_CELL_CAP << b} < nn THEN 1 ELSE 0 END)")
        .mkString(" + ")}) AS nbits FROM nrow),
      sigged AS (
        SELECT a.cell, a.vec_id, a.v, a.n,
               (${(0 until D09_PLANES_MAX).map(b =>
        s"(CASE WHEN $b < nb.nbits AND list_dot_product(a.v, ${d09Planes(b).mkString("[", ",", "]")}) > 0 THEN ${1L << b} ELSE 0 END)")
        .mkString("\n                + ")}) AS sig
        FROM assign a, nb),
      dups AS (
        SELECT DISTINCT a.vec_id
        FROM sigged a JOIN sigged b
          ON a.cell = b.cell AND a.sig = b.sig AND b.vec_id < a.vec_id
        WHERE round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) >= $SEMDEDUP_TAU)
      SELECT a.vec_id, a.cell, CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
      FROM assign a LEFT JOIN dups d USING (vec_id)
      ORDER BY a.vec_id"""))

  /** Minhash signatures via the custom TypedImperativeAggregate
    * ([[graft.functions.MinHashSigAgg]]): one primitive Array[Long]
    * buffer per doc instead of K aggregate lanes. Driver-verified —
    * the oracle computes the identical signature with per-lane mins,
    * so the imperative buffer path is hash-checked end to end. */
  val d06 = QueryDef(
    "d06_minhash_agg",
    (s, d) => {
      val sh = Shingles.hashed(s, d)
      val hashed = sh.withColumn("hs",
        zip_with(typedlit(minhashA), typedlit(minhashB),
          (a, b) => pmod(a * col("h1") + b * col("h2"), lit(MINHASH_P))))
      hashed.groupBy("doc_id")
        .agg(graft.functions.MinHashSigAgg.minhashSig(col("hs"), MINHASH_K).as("sig"))
        .select(col("doc_id"), concat_ws(",", col("sig")).as("signature"))
        .orderBy(col("doc_id"))
    },
    Some {
      val aList = minhashA.mkString("[", ",", "]")
      val bList = minhashB.mkString("[", ",", "]")
      val lanes = (1 to MINHASH_K).map(i => s"min(hs[$i])").mkString(" || ',' || ")
      s"""
      WITH ${Shingles.oracleCte},
      hashed AS (
        SELECT doc_id, list_transform(range(1, ${MINHASH_K + 1}),
                 i -> ($aList[i] * h1 + $bList[i] * h2) % $MINHASH_P) AS hs
        FROM sh)
      SELECT doc_id, $lanes AS signature
      FROM hashed
      GROUP BY doc_id
      ORDER BY doc_id"""
    })
}
