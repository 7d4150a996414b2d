package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Multimodal column handling: media payloads as opaque `binary`
  * columns + typed metadata, processed in batches via typed
  * `Dataset.mapPartitions` (the JVM analog of `mapInPandas` — one
  * iterator per partition, constant memory, no per-row UDF overhead).
  *
  * DECODE TIERS: every query that claims to decode, DECODES — m01
  * (metadata), m02 (resize plan), m03 (multi-frame container frame
  * sampling, real animated GIF), m04 (query-by-example feature
  * search), m05 (signature dedup), m06 (full pixel-resize loop) and
  * m07 (pixel features) all run REAL media bytes through the
  * JVM-native `javax.imageio` codec
  * ([[graft.ops.MediaDecode.decodeImage]]): genuine encoder → genuine
  * decoder, dimensions/channels/pixels read from the decoded raster,
  * with the oracle recomputing the expected values arithmetically so
  * the gate proves each codec roundtrip faithful. No stub: m04 runs
  * the real decoded-pixel featurizer on both sides of its cosine — a
  * model-serving embed would slot into the same mapPartitions
  * signature with nothing downstream changing.
  *
  * Scale: mapPartitions over binary columns streams batches; payloads
  * never hit the driver. Partition sizing for 100 TB media comes from
  * `spark.sql.files.maxPartitionBytes`, not row counts.
  */
object Multimodal {

  def defs: Seq[QueryDef] = Seq(m01, m02, m03, m04, m05, m06, m07, m08, m09)

  /** REAL codec roundtrip over a binary media column: synthesize one
    * genuine PNG per document (deterministic geometry/color from
    * doc_id, encoded by the JVM's real PNG writer), then DECODE it
    * with `javax.imageio` and report what the decoder itself read —
    * width/height from the raster, channels = band count, format from
    * the codec registry's magic-byte match, r/g/b from pixel (0,0).
    * Both steps run iterator-batched in one mapPartitions pass (no
    * shuffle between encode and decode; payload bytes never leave the
    * executor). The oracle recomputes the EXPECTED metadata from the
    * same doc_id arithmetic, so a hash match proves the real
    * encode→decode roundtrip preserved geometry and pixel values —
    * the PNG byte stream itself is the only thing the oracle cannot
    * see (encoder-dependent), which is exactly why n_bytes/sha left
    * the output schema when the stub retired. MediaDecodeSpec
    * additionally proves the read path on a committed fixture PNG
    * that ImageIO did NOT write. */
  val m01 = QueryDef(
    "m01_media_decode_meta",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id")).as[Long]
      docs.mapPartitions { batch =>
        batch.map { id =>
          val (w, h, rgb) = graft.ops.MediaDecode.synthMedia(id)
          val png = graft.ops.MediaDecode.synthesized((w, h, rgb))(
            graft.ops.MediaDecode.encodePng(w, h, rgb))
          graft.ops.MediaDecode.decodeImage(id, png)
        }
      }.toDF()
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id,
             CAST(16 + doc_id % 48 AS INT) AS width,
             CAST(16 + (doc_id // 48) % 48 AS INT) AS height,
             CAST(3 AS INT) AS channels,
             'png' AS format,
             CAST(doc_id * 37 % 256 AS INT) AS r,
             CAST(doc_id * 59 % 256 AS INT) AS g,
             CAST(doc_id * 83 % 256 AS INT) AS b,
             (16 + doc_id % 48) * (16 + (doc_id // 48) % 48) AS n_pixels
      FROM documents
      ORDER BY doc_id"""))

  /** Resize PLANNING chained after a REAL decode — the
    * decode→plan-transform composition of an image pipeline (the
    * geometry pass that sizes output buffers before any pixel work;
    * m06 is the full pixel loop). Each document's genuine PNG is
    * decoded by `javax.imageio` and the plan is computed from the
    * dimensions THE DECODER read — the oracle predicts them from the
    * doc_id arithmetic, so a hash match proves the real codec
    * roundtrip AND the integer plan. maxDim 48 against 16–63-px
    * inputs exercises both branches (in-box no-op and shrink). */
  val m02 = QueryDef(
    "m02_media_resize",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id")).as[Long]
      docs.mapPartitions { batch =>
        batch.map { id =>
          val (w, h, rgb) = graft.ops.MediaDecode.synthMedia(id)
          val m = graft.ops.MediaDecode.decodeImage(
            id, graft.ops.MediaDecode.synthesized((w, h, rgb))(
              graft.ops.MediaDecode.encodePng(w, h, rgb)))
          graft.ops.MediaDecode.resizePlan(id, m.width, m.height, maxDim = 48)
        }
      }.toDF()
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH m AS (
        SELECT doc_id,
               CAST(16 + doc_id % 48 AS INT) AS width,
               CAST(16 + (doc_id // 48) % 48 AS INT) AS height
        FROM documents),
      g AS (SELECT doc_id, width, height, greatest(width, height) AS longest FROM m)
      SELECT doc_id, width, height,
             CAST(CASE WHEN longest <= 48 THEN width  ELSE width  * 48 // longest END AS INT) AS out_w,
             CAST(CASE WHEN longest <= 48 THEN height ELSE height * 48 // longest END AS INT) AS out_h,
             CAST(CASE WHEN longest <= 48 THEN 100 ELSE 48 * 100 // longest END AS INT) AS scale_pct
      FROM g
      ORDER BY doc_id"""))

  /** REAL frame sampling over a REAL multi-frame container — the
    * video-ish member of the codec family: each document gets a
    * genuine animated GIF (1–6 solid-color frames, JVM-native
    * multi-frame encoder), and the sampler opens it with whatever
    * codec the `ImageIO` registry matches, counts the container's
    * ACTUAL frames with a full stream scan, picks ≤ 4 evenly spaced
    * indices (`i·n/4` integer arithmetic — the oracle's formula), and
    * decodes exactly the sampled frames, emitting each frame's
    * decoded geometry and pixel values (generator shape: per-doc
    * fan-out happens executor-side inside one mapPartitions pass;
    * payload bytes never shuffle — only the sampled-frame rows do).
    * Solid-color frames survive the GIF palette quantizer
    * bit-exactly, so a hash match proves the real encode→count→
    * sample→decode loop frame-faithful. */
  val m03 = QueryDef(
    "m03_media_framesample",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id")).as[Long]
      docs.mapPartitions { batch =>
        batch.flatMap { id =>
          val (w, h, n) = graft.ops.MediaDecode.synthVideo(id)
          val colors = Array.tabulate(n) { f =>
            val (r, g, b) = graft.ops.MediaDecode.frameColor(id, f)
            (r << 16) | (g << 8) | b
          }
          val gif = graft.ops.MediaDecode.synthesized(
            (w, h, colors.toSeq))(graft.ops.MediaDecode.encodeGif(w, h, colors))
          graft.ops.MediaDecode.sampleFrames(id, gif, maxSamples = 4)
        }
      }.toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    },
    Some("""
      WITH m AS (
        SELECT doc_id,
               CAST(1 + doc_id % 6 AS INT) AS n_frames,
               CAST(8 + doc_id % 16 AS INT) AS width,
               CAST(8 + (doc_id // 16) % 16 AS INT) AS height
        FROM documents),
      s AS (SELECT doc_id, n_frames, width, height,
              unnest(range(0, least(n_frames, 4))) AS i FROM m)
      SELECT doc_id, n_frames,
             CAST(CASE WHEN n_frames <= 4 THEN i ELSE i * n_frames // 4 END AS INT) AS frame_idx,
             width, height,
             CAST((doc_id * 37 + (CASE WHEN n_frames <= 4 THEN i ELSE i * n_frames // 4 END) * 17) % 256 AS INT) AS r,
             CAST((doc_id * 59 + (CASE WHEN n_frames <= 4 THEN i ELSE i * n_frames // 4 END) * 29) % 256 AS INT) AS g,
             CAST((doc_id * 83 + (CASE WHEN n_frames <= 4 THEN i ELSE i * n_frames // 4 END) * 41) % 256 AS INT) AS b
      FROM s
      ORDER BY doc_id, frame_idx"""))

  /** Media dedup by DECODED signature — the multimodal member of the
    * dedup family: payloads whose decoded properties collide form
    * candidate duplicate groups, the cheap first pass of image dedup
    * (exact-byte dedup is d01's shape; a perceptual hash slots into
    * the same groupBy). Every field of the signature comes out of the
    * REAL `javax.imageio` decode of genuine PNG bytes: size class
    * (16-px bins of the raster dimensions), red-channel class of
    * pixel (0,0), and the container format the codec registry matched
    * from the magic bytes. One hash shuffle on the signature; only
    * groups with ≥2 members surface. */
  val m05 = QueryDef(
    "m05_media_sigdup",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id")).as[Long]
      docs.mapPartitions { batch =>
        batch.map { id =>
          val (w, h, rgb) = graft.ops.MediaDecode.synthMedia(id)
          graft.ops.MediaDecode.decodeImage(
            id, graft.ops.MediaDecode.synthesized((w, h, rgb))(
              graft.ops.MediaDecode.encodePng(w, h, rgb)))
        }
      }.toDF()
        .groupBy(expr("width div 16").as("w_bin"),
          expr("height div 16").as("h_bin"),
          expr("r div 64").as("r_bin"), col("format"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_media"))
        .filter(col("n_media") >= 2)
        .select(col("w_bin"), col("h_bin"), col("r_bin"), col("format"),
          col("canonical_id"), col("n_media"))
        .orderBy(col("canonical_id"))
    },
    Some("""
      WITH m AS (
        SELECT doc_id,
               CAST(16 + doc_id % 48 AS INT) AS width,
               CAST(16 + (doc_id // 48) % 48 AS INT) AS height,
               CAST(doc_id * 37 % 256 AS INT) AS r
        FROM documents)
      SELECT width // 16 AS w_bin, height // 16 AS h_bin, r // 64 AS r_bin,
             'png' AS format,
             min(doc_id) AS canonical_id, count(*) AS n_media
      FROM m
      GROUP BY 1, 2, 3, 4
      HAVING count(*) >= 2
      ORDER BY canonical_id"""))

  /** The REAL transform loop (m01's codec tier, m02's geometry): per
    * document, encode a genuine PNG, decode it, aspect-resize onto a
    * 32-px box through Graphics2D, RE-encode, decode AGAIN, and
    * report the second decoder's geometry and center pixel — the
    * full decode→transform→encode→decode cycle an image-curation
    * pipeline runs per payload, iterator-batched with payload bytes
    * never leaving the executor. The oracle predicts the output
    * arithmetically (integer geometry; a constant color field
    * survives any interpolation), so the hash gate proves BOTH codec
    * passes and the scaler faithful — versus m02, which pins the
    * geometry planning alone (real decode, no pixel loop). */
  val m06 = QueryDef(
    "m06_media_real_resize",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id")).as[Long]
      docs.mapPartitions { batch =>
        batch.map { id =>
          val (w, h, rgb) = graft.ops.MediaDecode.synthMedia(id)
          graft.ops.MediaDecode.resizeImage(
            id, graft.ops.MediaDecode.synthesized((w, h, rgb))(
              graft.ops.MediaDecode.encodePng(w, h, rgb)), maxDim = 32)
        }
      }.toDF()
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH g AS (
        SELECT doc_id,
               CAST(16 + doc_id % 48 AS INT) AS width,
               CAST(16 + (doc_id // 48) % 48 AS INT) AS height
        FROM documents),
      l AS (SELECT doc_id, width, height,
                   greatest(width, height) AS longest FROM g)
      SELECT doc_id, width, height,
             CAST(CASE WHEN longest <= 32 THEN width
                       ELSE greatest(1, width * 32 // longest) END AS INT) AS out_w,
             CAST(CASE WHEN longest <= 32 THEN height
                       ELSE greatest(1, height * 32 // longest) END AS INT) AS out_h,
             CAST(doc_id * 37 % 256 AS INT) AS r,
             CAST(doc_id * 59 % 256 AS INT) AS g,
             CAST(doc_id * 83 % 256 AS INT) AS b
      FROM l
      ORDER BY doc_id"""))

  /** REAL feature extraction from decoded pixels — the classical-CV
    * featurization primitive: every document gets a genuine
    * GRADIENT PNG (per-pixel luminance `(doc_id + 3x + 5y) mod 256`,
    * real encoder), `javax.imageio` decodes it, and the feature
    * vector is an 8-bin luminance histogram of the decoded top-left
    * 16×16 patch — actual raster reads, not payload hashes — then
    * cosine top-20 against a probe through the native
    * [[graft.functions.DotProduct]] expression. The oracle predicts
    * the histogram ARITHMETICALLY from the same gradient formula, so
    * a hash match proves encoder → decoder → pixel-walk fidelity
    * end-to-end (features are exact multiples of 1/256 — dyadic, so
    * the normalization introduces no cross-engine float drift; the
    * 8-element dots evaluate left-to-right in both engines). m04
    * composes this same real featurizer into query-by-example
    * retrieval; this query pins the extraction primitive itself
    * against a literal probe. */
  val m07 = QueryDef(
    "m07_media_real_features",
    (s, d) => {
      import s.implicits._
      val probe = Seq(0.25, 0.05, 0.1, 0.2, 0.05, 0.1, 0.05, 0.2)
      val docs = Tables.documents(s, d).select(col("doc_id")).as[Long]
      val feats = docs.mapPartitions { batch =>
        batch.map { id =>
          val w = 16 + (id % 48).toInt
          val h = 16 + ((id / 48) % 48).toInt
          graft.ops.MediaDecode.extractFeatures(id,
            graft.ops.MediaDecode.synthesized(("grad", w, h, (id % 256).toInt))(
              graft.ops.MediaDecode.encodeGradientPng(w, h, (id % 256).toInt)),
            patch = 16)
        }
      }.toDF()
      val dot = graft.functions.GraftFunctions.dot(col("features"), typedlit(probe))
      val pn = math.sqrt(probe.map(x => x * x).sum)
      val fn = sqrt(graft.functions.GraftFunctions.dot(col("features"), col("features")))
      feats
        .withColumn("cosine", round(dot / (fn * lit(pn)), 6))
        .orderBy(col("cosine").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("cosine"))
    },
    Some("""
      WITH px AS (
        SELECT d.doc_id, ((d.doc_id % 256) + 3*xs.x + 5*ys.y) % 256 AS g
        FROM documents d, range(16) xs(x), range(16) ys(y)),
      hb AS (SELECT doc_id, g // 32 AS bin, count(*) AS c
             FROM px GROUP BY 1, 2),
      bins AS (
        SELECT d.doc_id, bs.bin, coalesce(hb.c, 0) AS c
        FROM documents d CROSS JOIN range(8) bs(bin)
        LEFT JOIN hb ON hb.doc_id = d.doc_id AND hb.bin = bs.bin),
      f AS (SELECT doc_id, list(c / 256.0 ORDER BY bin) AS features
            FROM bins GROUP BY doc_id),
      p AS (SELECT [0.25, 0.05, 0.1, 0.2, 0.05, 0.1, 0.05, 0.2] AS probe),
      scored AS (
        SELECT doc_id,
               round(list_dot_product(features, probe) /
                     (sqrt(list_dot_product(features, features)) *
                      sqrt(list_dot_product(probe, probe))), 6) AS cosine
        FROM f, p)
      SELECT doc_id, cosine
      FROM scored
      ORDER BY cosine DESC, doc_id
      LIMIT 20"""))

  /** QUERY-BY-EXAMPLE media retrieval — the full multimodal search
    * composition with NO stub anywhere (the featurizer is m07's real
    * decoded-pixel path on BOTH sides of the cosine):
    *
    *  - the QUERY is itself a media payload: a genuine gradient PNG
    *    for a fixed query id, encoded + decoded + histogrammed ONCE
    *    driver-side by the same [[graft.ops.MediaDecode
    *    .extractFeatures]] the corpus runs — constant work, then
    *    shipped into the plan as a broadcast literal (the production
    *    "embed the query once, search everywhere" shape);
    *  - the CORPUS side decodes each document's genuine PNG and
    *    histograms the real raster in one iterator-batched
    *    mapPartitions pass (payload bytes never shuffle);
    *  - scoring = cosine through the native codegen
    *    [[graft.functions.DotProduct]] expression, top-20 via
    *    TakeOrderedAndProject (never a global sort).
    *
    * The oracle replays both histograms ARITHMETICALLY from the
    * gradient formula (features are dyadic multiples of 1/256 — no
    * cross-engine float drift), so the hash gate proves the real
    * encode → decode → featurize → search loop end-to-end. Swapping
    * the classical featurizer for a model-serving embed changes
    * nothing downstream — exactly what the stub used to demonstrate,
    * now with zero fake tiers. */
  val m04 = QueryDef(
    "m04_media_feature_search",
    (s, d) => {
      import s.implicits._
      // the query payload: one real encode→decode→featurize, driver-side
      val qid = 4242L
      val (qw, qh) = (16 + (qid % 48).toInt, 16 + ((qid / 48) % 48).toInt)
      val probe = graft.ops.MediaDecode.extractFeatures(qid,
        graft.ops.MediaDecode.encodeGradientPng(qw, qh, (qid % 256).toInt),
        patch = 16).features.toSeq
      val docs = Tables.documents(s, d).select(col("doc_id")).as[Long]
      val feats = docs.mapPartitions { batch =>
        batch.map { id =>
          val w = 16 + (id % 48).toInt
          val h = 16 + ((id / 48) % 48).toInt
          graft.ops.MediaDecode.extractFeatures(id,
            graft.ops.MediaDecode.synthesized(("grad", w, h, (id % 256).toInt))(
              graft.ops.MediaDecode.encodeGradientPng(w, h, (id % 256).toInt)),
            patch = 16)
        }
      }.toDF()
      val dot = graft.functions.GraftFunctions.dot(col("features"), typedlit(probe))
      val pn = math.sqrt(probe.map(x => x * x).sum)
      val fn = sqrt(graft.functions.GraftFunctions.dot(col("features"), col("features")))
      feats
        .withColumn("cosine", round(dot / (fn * lit(pn)), 6))
        .orderBy(col("cosine").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("cosine"))
    },
    Some("""
      WITH px AS (
        SELECT d.doc_id, ((d.doc_id % 256) + 3*xs.x + 5*ys.y) % 256 AS g
        FROM documents d, range(16) xs(x), range(16) ys(y)),
      hb AS (SELECT doc_id, g // 32 AS bin, count(*) AS c
             FROM px GROUP BY 1, 2),
      bins AS (
        SELECT d.doc_id, bs.bin, coalesce(hb.c, 0) AS c
        FROM documents d CROSS JOIN range(8) bs(bin)
        LEFT JOIN hb ON hb.doc_id = d.doc_id AND hb.bin = bs.bin),
      f AS (SELECT doc_id, list(c / 256.0 ORDER BY bin) AS features
            FROM bins GROUP BY doc_id),
      qpx AS (SELECT ((4242 % 256) + 3*xs.x + 5*ys.y) % 256 AS g
              FROM range(16) xs(x), range(16) ys(y)),
      qh AS (SELECT g // 32 AS bin, count(*) AS c FROM qpx GROUP BY 1),
      qb AS (SELECT bs.bin, coalesce(qh.c, 0) AS c
             FROM range(8) bs(bin) LEFT JOIN qh USING (bin)),
      qf AS (SELECT list(c / 256.0 ORDER BY bin) AS probe FROM qb),
      scored AS (
        SELECT doc_id,
               round(list_dot_product(features, probe) /
                     (sqrt(list_dot_product(features, features)) *
                      sqrt(list_dot_product(probe, probe))), 6) AS cosine
        FROM f, qf)
      SELECT doc_id, cosine
      FROM scored
      ORDER BY cosine DESC, doc_id
      LIMIT 20"""))

  /** REAL AUDIO decode — the third modality, closing the image (PNG) /
    * video-ish (animated GIF) / audio triple with the JDK's genuine
    * audio stack: each document gets a real 16-bit mono PCM WAV
    * (hand-rolled RIFF writer — the 44-byte layout IS the spec; the
    * waveform is an integer sawtooth so both engines replay it
    * exactly), and `javax.sound.sampled` parses the container, reads
    * the format from the fmt chunk, and streams the PCM frames; the
    * reported sample statistics (peak, sum of |sample|) come from the
    * DECODED frames, all-integer. One iterator-batched mapPartitions
    * pass; payload bytes never leave the executor; the oracle
    * recomputes every field from the synthesis arithmetic, so a hash
    * match proves the RIFF encode → JDK parse → PCM walk faithful
    * end-to-end. duration_us = n·10⁶/rate in integer division on both
    * sides. */
  val m08 = QueryDef(
    "m08_audio_decode_meta",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id")).as[Long]
      docs.mapPartitions { batch =>
        batch.map { id =>
          val (sr, n, step, phase) = graft.ops.MediaDecode.synthAudio(id)
          val wav = graft.ops.MediaDecode.synthesized(("wav", sr, n, step, phase)) {
            val samples = Array.tabulate(n)(i =>
              (((step * i + phase) % 16384) - 8192).toShort)
            graft.ops.MediaDecode.encodeWav(sr, samples)
          }
          graft.ops.MediaDecode.decodeAudio(id, wav)
        }
      }.toDF()
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH m AS (
        SELECT doc_id,
               CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
               CAST(256 + doc_id % 512 AS INT) AS n,
               CAST(doc_id % 97 + 1 AS INT) AS stp,
               CAST(doc_id % 251 AS INT) AS ph
        FROM documents),
      sam AS (
        SELECT doc_id, ((stp * t.i + ph) % 16384) - 8192 AS v
        FROM m CROSS JOIN range(768) t(i)
        WHERE t.i < n),
      agg AS (
        SELECT doc_id, CAST(max(abs(v)) AS INT) AS peak_abs,
               CAST(sum(abs(v)) AS BIGINT) AS sum_abs
        FROM sam GROUP BY doc_id)
      SELECT m.doc_id, m.sample_rate,
             CAST(1 AS INT) AS channels, CAST(16 AS INT) AS bits,
             CAST(m.n AS BIGINT) AS n_samples,
             CAST(m.n * 1000000 // m.sample_rate AS BIGINT) AS duration_us,
             a.peak_abs, a.sum_abs
      FROM m JOIN agg a USING (doc_id)
      ORDER BY m.doc_id"""))

  /** WINDOWED AUDIO FEATURES + top-k — completes the audio family's
    * symmetry with the image family (decode → transform → featurize →
    * search): each document's WAV is decoded
    * through the real JDK audio stack ([[graft.ops.MediaDecode
    * .decodeAudioWindows]]), the PCM frames bucketed into 64-sample
    * windows, per-window |sample| energy summed, and the corpus
    * ranked by loudest window — the windowed-RMS/peak primitive an
    * audio-curation pipeline runs before clipping/segmenting, feeding
    * the registry's standard top-k shape (total order: energy desc,
    * doc_id). One iterator-batched mapPartitions pass; payload bytes
    * never leave the executor; all-integer energies so the oracle
    * replays the sawtooth synthesis arithmetic exactly. */
  val m09 = QueryDef(
    "m09_audio_windowed_energy",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id")).as[Long]
      docs.mapPartitions { batch =>
        batch.map { id =>
          val (sr, n, step, phase) = graft.ops.MediaDecode.synthAudio(id)
          val wav = graft.ops.MediaDecode.synthesized(("wav", sr, n, step, phase)) {
            val samples = Array.tabulate(n)(i =>
              (((step * i + phase) % 16384) - 8192).toShort)
            graft.ops.MediaDecode.encodeWav(sr, samples)
          }
          graft.ops.MediaDecode.decodeAudioWindows(id, wav, 64)
        }
      }.toDF()
        .orderBy(col("peak_energy").desc, col("doc_id"))
        .limit(20)
    },
    Some("""
      WITH m AS (
        SELECT doc_id,
               CAST(256 + doc_id % 512 AS INT) AS n,
               CAST(doc_id % 97 + 1 AS INT) AS stp,
               CAST(doc_id % 251 AS INT) AS ph
        FROM documents),
      sam AS (
        SELECT doc_id, t.i // 64 AS w,
               abs(((stp * t.i + ph) % 16384) - 8192) AS a
        FROM m CROSS JOIN range(768) t(i)
        WHERE t.i < n),
      wins AS (SELECT doc_id, w, sum(a) AS e FROM sam GROUP BY 1, 2),
      pk AS (
        SELECT doc_id, w, e,
               row_number() OVER (PARTITION BY doc_id ORDER BY e DESC, w) AS rn
        FROM wins)
      SELECT m.doc_id, CAST(m.n AS BIGINT) AS n_samples,
             CAST((m.n + 63) // 64 AS INT) AS n_windows,
             CAST(pk.w AS INT) AS peak_window,
             CAST(pk.e AS BIGINT) AS peak_energy
      FROM m JOIN pk USING (doc_id)
      WHERE pk.rn = 1
      ORDER BY peak_energy DESC, doc_id
      LIMIT 20"""))
}
