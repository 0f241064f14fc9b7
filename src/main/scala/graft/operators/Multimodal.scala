package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Multimodal-column plumbing: images/audio/video travel as opaque
  * `binary` payload columns with a typed metadata struct; decode /
  * feature-extraction runs batched per partition (the Scala analog of
  * `mapInPandas` — one decoder instance per partition, vectorized
  * batches, no per-row setup cost).
  *
  * Every image and video decoder yields one packed top-down RGB
  * raster, and one dHash rule ([[dHashGrid]]) hashes every image,
  * frame and tile from it. The codec paths:
  *   - IMAGES decode for real: writer-shape PNG/BMP through the
  *     from-scratch readers ([[pngDecodeFast]], [[bmpDecodeFast]]),
  *     anything else through the JDK's ImageIO ([[decodeRasterAny]]);
  *     `syntheticImageBytes` generates deterministic lossless payloads
  *     so the decode is golden-testable end to end (OperatorsSpec).
  *   - VIDEO decodes for real for AVI containers: `parseAvi` walks the
  *     RIFF chunk tree (pure byte arithmetic, no libs), raw-DIB frames
  *     (`00db`, BI_RGB bottom-up BGR24 — what `ffmpeg -c:v rawvideo`
  *     emits) decode exactly through the same DIB reader as BMP, and
  *     MJPEG frames (`00dc`, one complete JPEG per chunk) decode
  *     through the JDK's own JPEG ImageIO codec. The DIB path is
  *     lossless, so q71 oracle-checks the entire encode → demux →
  *     raster-decode round trip against pixel-formula means
  *     recomputed in SQL.
  *   - AUDIO decodes for real for WAV containers: `parseWav` walks
  *     the same RIFF structure (fmt + data chunks) and reads PCM16
  *     little-endian samples exactly; q72 oracle-checks the encode →
  *     demux → sample-decode → feature round trip against integer
  *     waveform formulas recomputed in SQL, and the spec
  *     cross-validates the writer against the JDK's own
  *     javax.sound.sampled reader.
  *
  * On top of the codec paths sits the media DEDUP SUITE (q133–q145),
  * every stage running over payloads decoded through those real
  * codecs:
  *   - perceptual fingerprints: image dHash (q133), gain-invariant
  *     Haitsma–Kalker audio sub-fingerprints (q135), per-frame video
  *     signatures with a fused codegen verify (q137);
  *   - near-dup pairs per modality (q133/q136/q137), connected-
  *     component groups through the shared q47 machinery
  *     (q134/q138/q139), and the apply step (q142);
  *   - CONTAINMENT — "is A inside B" at any length ratio — across
  *     all three modalities: video subclips (q140), hop-aligned
  *     audio snippets (q141), tile-aligned image crops (q145), all
  *     on one shared `elementSetPairs` pipeline;
  *   - serving: a frozen-index streaming admission gate
  *     (`imageAdmitStream`), in-stream fingerprint-exact dedup
  *     (`imageDedupStream`), the cross-modality curation funnel
  *     (q143), and corrupt-payload tolerance (q144 audit + robust
  *     decode) for the 100 TB operational reality.
  */
object Multimodal extends graft.QueryModule {

  /** Opaque media record: payload + typed metadata, as it would land
    * from an object-store manifest at 100 TB. */
  case class MediaRecord(media_id: Long, kind: String, width: Int,
                         height: Int, payload: Array[Byte])

  /** Unified decoded-media statistic: one row per media object, all
    * modalities, features from the ACTUAL decoded payload. `n_units`
    * is the decoded sample count (pixels / PCM samples / pixels ×
    * frames) and `mean_signal` the mean decoded magnitude (luma /
    * |sample| / channel mean) — exact integer sums with one double
    * division at the end, bit-portable across engines. */
  case class MediaSignal(media_id: Long, kind: String, width: Int,
                         height: Int, n_units: Long, mean_signal: Double)

  /** Media table whose payloads are REAL encoded containers across
    * all three modalities, keyed by doc_id mod 3: PNG/BMP images
    * ([[syntheticImageBytes]]), WAV PCM16 audio, AVI raw-DIB video —
    * the audio/video geometry/length formulas shared with their
    * dedicated tables ([[audioTable]]/[[videoTable]]) so the q40
    * oracle reuses the q71/q72 formula discipline. This is the
    * mixed-manifest shape a 100 TB lakehouse scan actually sees. */
  def mixedMediaTable(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        (id % 3) match {
          case 0 =>
            val w = (id % 13 + 4).toInt
            val h = (id % 9 + 4).toInt
            val fmt = if (id % 2 == 0) "png" else "bmp"
            MediaRecord(id, "image", w, h, syntheticImageBytes(w, h, id, fmt))
          case 1 =>
            val n = (id % 600 + 100).toInt
            val rate = (8000 + (id % 3) * 4000).toInt
            MediaRecord(id, "audio", 0, 0,
              wavBytes(Array.tabulate(n)(t => audioSample(id, t)), rate))
          case _ =>
            val w = (id % 11 + 4).toInt
            val h = (id % 7 + 4).toInt
            val nf = (id % 4 + 2).toInt
            MediaRecord(id, "video", w, h,
              aviBytes((0 until nf).map(f => syntheticDibFrame(id, f, w, h)),
                w, h, fps = 25, mjpeg = false))
        }
      }
    }
  }

  /** REAL mixed-modality decode: dispatch on kind to the codec
    * paths (image raster / RIFF-WAVE PCM16 / RIFF-AVI frame rasters),
    * reduce each decoded payload to the unified [[MediaSignal]]. */
  def decodeSignal(r: MediaRecord): MediaSignal = r.kind match {
    case "audio" =>
      val w = parseWav(r.payload)
      val s = w.samples
      var sumAbs = 0L
      var i = 0
      while (i < s.length) { sumAbs += math.abs(s(i).toLong); i += 1 }
      val n = s.length.toLong
      MediaSignal(r.media_id, r.kind, 0, 0, n,
        if (n == 0) 0.0 else sumAbs.toDouble / n)
    case "video" =>
      val s = parseAvi(r.payload)
      var total = 0L
      s.frames.foreach { f =>
        val (sr, sg, sb) = rgbSums(frameRaster(s, f, r.media_id)._3)
        total += sr + sg + sb
      }
      val units = s.width.toLong * s.height * s.frames.length
      MediaSignal(r.media_id, r.kind, s.width, s.height, units,
        if (units == 0) 0.0 else total.toDouble / (3 * units))
    case _ => // image: the container is sniffed from the bytes
      val (w, h, px) = decodeRasterAny(r.payload, s"media ${r.media_id}")
      val (sr, sg, sb) = rgbSums(px)
      val n = w.toLong * h
      MediaSignal(r.media_id, r.kind, w, h, n, (sr + sg + sb).toDouble / (3 * n))
  }

  /** Batched per-partition mixed decode — the mapInPandas shape with
    * the REAL codecs behind it. */
  def extractSignals(media: Dataset[MediaRecord]): Dataset[MediaSignal] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition codec contexts would be created here
      it.map(decodeSignal)
    }
  }

  // ---- image rasters: PNG/BMP readers, ImageIO fallback ----------------

  /** Deterministic synthetic RGB image encoded as PNG or BMP — pixel
    * (x, y) of image `seed` is a fixed affine function of its
    * coordinates, so a test can recompute the exact channel means the
    * decoder must read back (PNG and BMP are both lossless). */
  def syntheticImageBytes(width: Int, height: Int, seed: Long,
                          format: String): Array[Byte] = {
    // round 13: fill the packed RGB raster directly and encode with
    // the from-scratch writers — same pixel function, same decoded
    // raster, no per-pixel ColorModel dispatch, no ImageIO.write
    // per-call setup (round-13 measurement, commit 8dcc3a6: ~0.7 s/pass
    // of the image-family queries was ImageIO encode overhead)
    val px = new Array[Byte](width * 3 * height)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val o = y * width * 3 + x * 3
        px(o) = math.floorMod(x * 7 + y * 3 + seed, 256).toByte
        px(o + 1) = math.floorMod(x * 5 + y * 11 + seed * 2, 256).toByte
        px(o + 2) = math.floorMod(x * 13 + y * 17 + seed * 3, 256).toByte
        x += 1
      }
      y += 1
    }
    encodeImage(width, height, px, format)
  }

  // ---- image near-dup dedup: dHash + Hamming band bucketing -----------

  /** Deterministic near-dup image corpus: ids in the same group of 4
    * (`grp = id / 4`) share geometry and a quadratic pixel gradient
    * derived from `grp`; the member index (`id % 4`) adds a small
    * uniform brightness offset to every channel, so members of a group
    * decode to ALMOST the same raster (identical except where a
    * channel wraps mod 256) — the planted near-duplicates a dedup op
    * must find. Encoded for real (PNG even ids / BMP odd ids, both
    * lossless), so the hash below comes from an actual codec decode.
    * Reference behavior anchor: the binary media columns of
    * `flink-stream-processing/.../GlobalWindowExample.java`-style
    * pipelines carry opaque payloads; the dedup semantics here are the
    * LAION-style pHash dedup pass, expressed Spark-first. */
  def nearDupImageBytes(w: Int, h: Int, grp: Long, member: Int,
                        format: String): Array[Byte] = {
    // round 13: direct raster fill + from-scratch encode (see
    // [[syntheticImageBytes]]); pixel formulas unchanged
    val px = new Array[Byte](w * 3 * h)
    val (qa, qb) = ((grp % 5 + 1).toInt, (grp % 3 + 1).toInt)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = y * w * 3 + x * 3
        px(o) = math.floorMod(x * x * qa + y * 3 + grp * 11 + member, 256).toByte
        px(o + 1) = math.floorMod(x * 5 + y * y * qb + grp * 23 + member, 256).toByte
        px(o + 2) = math.floorMod(x * 13 + y * 17 + grp * 29 + member, 256).toByte
        x += 1
      }
      y += 1
    }
    encodeImage(w, h, px, format)
  }

  def nearDupImageTable(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val grp = id / 4
        val w = (grp % 7 + 16).toInt
        val h = (grp % 5 + 12).toInt
        val fmt = if (id % 2 == 0) "png" else "bmp"
        MediaRecord(id, fmt, w, h,
          nearDupImageBytes(w, h, grp, (id % 4).toInt, fmt))
      }
    }
  }

  /** The one 64-bit difference-hash rule: over a 9×8 grid of
    * luminances `lum(gx, gy)`, set bit `gy·8+gx` iff the right
    * neighbor is strictly brighter. Returned as two non-negative
    * 32-bit halves (lo = bits 0–31, hi = 32–63) so the DuckDB oracle
    * can pack each half in BIGINT arithmetic without sign traps. */
  private def dHashGrid(lum: (Int, Int) => Int): (Long, Long) = {
    var lo = 0L; var hi = 0L
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        if (lum(gx + 1, gy) > lum(gx, gy)) {
          val j = gy * 8 + gx
          if (j < 32) lo |= 1L << j else hi |= 1L << (j - 32)
        }
        gx += 1
      }
      gy += 1
    }
    (lo, hi)
  }

  /** [[dHashGrid]] of a packed top-down RGB raster `w` pixels wide,
    * grid cell (gx, gy) sampling pixel (sx(gx), sy(gy)). Luminance is
    * the exact integer channel sum r+g+b — no float rounding
    * anywhere. */
  private def rasterDHash(w: Int, px: Array[Byte], sx: Int => Int,
                          sy: Int => Int): (Long, Long) =
    dHashGrid { (gx, gy) =>
      val o = (sy(gy) * w + sx(gx)) * 3
      (px(o) & 0xff) + (px(o + 1) & 0xff) + (px(o + 2) & 0xff)
    }

  /** Whole-image dHash of a raster: nearest-neighbor sample the 9×8
    * grid at `sx = gx·w/9`, `sy = gy·h/8` (integer division, so the
    * hash is resolution-normalizing and exactly reproducible in
    * SQL). */
  private def rasterDHash(raster: (Int, Int, Array[Byte])): (Long, Long) = {
    val (w, h, px) = raster
    rasterDHash(w, px, gx => gx * w / 9, gy => gy * h / 8)
  }

  /** The whole-image dHash read straight off a decoded
    * `BufferedImage` — the ImageIO reference the raster paths are
    * spec-pinned against. */
  def dHash64(img: java.awt.image.BufferedImage): (Long, Long) = {
    val (w, h) = (img.getWidth, img.getHeight)
    dHashGrid { (gx, gy) =>
      val p = img.getRGB(gx * w / 9, gy * h / 8)
      ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
    }
  }

  /** Per-channel sums (r, g, b) of a packed RGB raster. */
  private[graft] def rgbSums(px: Array[Byte]): (Long, Long, Long) = {
    var (sr, sg, sb) = (0L, 0L, 0L)
    var o = 0
    while (o + 2 < px.length) {
      sr += px(o) & 0xff; sg += px(o + 1) & 0xff; sb += px(o + 2) & 0xff
      o += 3
    }
    (sr, sg, sb)
  }

  /** From-scratch PNG decode of the shape ImageIO's writer emits —
    * 8-bit truecolor (color type 2), non-interlaced, any chunking of
    * IDAT — straight to a packed RGB byte raster: zlib inflate via
    * `java.util.zip.Inflater`, then per-scanline un-filtering of all
    * five PNG filter types (None/Sub/Up/Average/Paeth, RFC 2083).
    * CRCs are not checked (the q144 audit philosophy: a corrupt
    * stream fails the inflate or the length checks loudly). Returns
    * None for any other shape (palettes, alpha, 16-bit, interlace)
    * — the caller falls back to ImageIO. Pixel-exact equality with
    * ImageIO's decode is property-pinned on random rasters. */
  private[graft] def pngDecodeFast(p: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (p.length < 8 ||
      (p(0) & 0xff) != 0x89 || p(1) != 'P' || p(2) != 'N' || p(3) != 'G' ||
      p(4) != 0x0d || p(5) != 0x0a || p(6) != 0x1a || p(7) != 0x0a)
      return None
    def be32(o: Int): Int =
      ((p(o) & 0xff) << 24) | ((p(o + 1) & 0xff) << 16) |
        ((p(o + 2) & 0xff) << 8) | (p(o + 3) & 0xff)
    var (w, h) = (0, 0)
    val idat = new java.io.ByteArrayOutputStream()
    var o = 8
    var sawIhdr = false
    while (o + 8 <= p.length) {
      val len = be32(o)
      if (len < 0 || o + 12L + len > p.length) return None
      val typ = new String(p, o + 4, 4, "US-ASCII")
      val body = o + 8
      typ match {
        case "IHDR" =>
          if (len < 13) return None
          w = be32(body); h = be32(body + 4)
          val (depth, color, comp, filt, ilace) =
            (p(body + 8), p(body + 9), p(body + 10), p(body + 11), p(body + 12))
          if (w <= 0 || h <= 0 || depth != 8 || color != 2 ||
            comp != 0 || filt != 0 || ilace != 0) return None
          sawIhdr = true
        case "IDAT" => idat.write(p, body, len)
        case _ => ()
      }
      o = body + len + 4 // skip CRC
    }
    if (!sawIhdr || idat.size() == 0) return None
    val rowBytes = w * 3
    val raw = new Array[Byte]((rowBytes + 1) * h)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var got = 0
    try {
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        if (n == 0 && inf.needsInput()) return None // truncated stream
        got += n
      }
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    if (got < raw.length) return None
    // un-filter in place into the output raster (RFC 2083 §6)
    val out = new Array[Byte](rowBytes * h)
    var y = 0
    while (y < h) {
      val ft = raw(y * (rowBytes + 1)) & 0xff
      val src = y * (rowBytes + 1) + 1
      val dst = y * rowBytes
      var i = 0
      while (i < rowBytes) {
        val x = raw(src + i) & 0xff
        val a = if (i >= 3) out(dst + i - 3) & 0xff else 0 // left
        val b = if (y > 0) out(dst - rowBytes + i) & 0xff else 0 // up
        val c = if (i >= 3 && y > 0) out(dst - rowBytes + i - 3) & 0xff
                else 0 // up-left
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 =>
            val pp = a + b - c
            val (pa, pb, pc) =
              (math.abs(pp - a), math.abs(pp - b), math.abs(pp - c))
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => return None
        }
        out(dst + i) = v.toByte
        i += 1
      }
      y += 1
    }
    Some((w, h, out))
  }

  /** Writer-shape BMP (BM magic, BITMAPINFOHEADER, 24-bit BI_RGB,
    * bottom-up — what ImageIO's own writer and [[encodeBmp24]] emit)
    * → packed top-down RGB raster, with no BufferedImage, no
    * ColorModel, no per-call ImageIO plugin setup (measured ~2.3
    * ms/image of pure overhead on tiny rasters, ProfileStream
    * imggate). Returns None for any other shape (top-down,
    * palettes, other depths) or a pixel array that does not fit the
    * payload — the caller falls back to ImageIO. */
  private[graft] def bmpDecodeFast(p: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    import java.nio.{ByteBuffer, ByteOrder}
    if (p.length < 54 || p(0) != 'B' || p(1) != 'M') return None
    val buf = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
    val dataOff = buf.getInt(10)
    val hdrSize = buf.getInt(14)
    val w = buf.getInt(18)
    val h = buf.getInt(22) // positive = bottom-up
    val bits = buf.getShort(28) & 0xffff
    val comp = buf.getInt(30)
    if (hdrSize < 40 || w <= 0 || h <= 0 || bits != 24 || comp != 0)
      return None
    dibRaster(p, dataOff, w, h).map(px => (w, h, px))
  }

  /** The one bottom-up BGR24 DIB reader (rows padded to 4 bytes),
    * shared by BMP (pixel array at the header's data offset) and AVI
    * raw-DIB frames (offset 0): → packed top-down RGB raster. The
    * stride is computed in Long, so a huge declared width cannot wrap
    * negative past the bounds check; None when the declared `w`×`h`
    * does not fit in `p` from `off`. */
  private def dibRaster(p: Array[Byte], off: Int, w: Int,
                        h: Int): Option[Array[Byte]] = {
    val stride = (w * 3L + 3) & ~3L
    if (w <= 0 || h <= 0 || off < 0 || off + stride * h > p.length) return None
    val out = new Array[Byte](w * 3 * h)
    var y = 0
    while (y < h) {
      val src = off + (h - 1 - y) * stride.toInt
      var x = 0
      while (x < w) {
        val o = y * w * 3 + x * 3
        out(o) = p(src + x * 3 + 2)     // BGR -> RGB
        out(o + 1) = p(src + x * 3 + 1)
        out(o + 2) = p(src + x * 3)
        x += 1
      }
      y += 1
    }
    Some(out)
  }

  /** The one `BufferedImage` → packed top-down RGB raster conversion
    * (sRGB via `getRGB`), shared by the image fallback and MJPEG
    * frames. */
  private def imageRaster(img: java.awt.image.BufferedImage)
      : (Int, Int, Array[Byte]) = {
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new Array[Byte](w * 3 * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        val o = y * w * 3 + x * 3
        out(o) = ((p >> 16) & 0xff).toByte
        out(o + 1) = ((p >> 8) & 0xff).toByte
        out(o + 2) = (p & 0xff).toByte
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  /** Any image payload → packed top-down RGB raster: direct PNG/BMP
    * paths, ImageIO fallback. */
  private[graft] def decodeRasterAny(payload: Array[Byte], who: => String)
      : (Int, Int, Array[Byte]) =
    pngDecodeFast(payload).orElse(bmpDecodeFast(payload)).getOrElse {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      require(img != null, s"$who: payload is not a decodable image")
      imageRaster(img)
    }

  /** Any image payload → whole-image dHash via its raster. */
  private[graft] def dHashAny(payload: Array[Byte], who: => String): (Long, Long) =
    rasterDHash(decodeRasterAny(payload, who))

  // ---- from-scratch image ENCODERS (round 13 optimization) --------------

  /** Minimal deterministic 24-bit BMP writer — the exact canonical
    * shape the fast decode path ([[bmpDecodeFast]])
    * accept and ImageIO's own writer emits: BM magic, 40-byte
    * BITMAPINFOHEADER, 24-bit BI_RGB, bottom-up rows padded to 4
    * bytes. Input raster: packed top-down RGB rows (the
    * [[decodeRasterAny]] convention). Round-13 finding (commit
    * 8dcc3a6, sf0.1): ImageIO.write's per-call plugin setup was ~0.7 s
    * of the 0.9 s image fixture-synthesis pass — the ENCODE twin of the
    * round-7 decode finding (ImageIO per-call setup ≈ 85% of the
    * gate's decode cost). Decoded-raster equality with the ImageIO
    * writer path is spec-asserted, so every downstream hash/feature
    * is bit-identical. */
  private[graft] def encodeBmp24(w: Int, h: Int, px: Array[Byte]): Array[Byte] = {
    require(w > 0 && h > 0 && px.length == w * 3 * h,
      s"encodeBmp24: raster shape mismatch w=$w h=$h px=${px.length}")
    val stride = (w * 3 + 3) & ~3
    val size = 54 + stride * h
    val out = new Array[Byte](size)
    def i32(o: Int, v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
      out(o + 2) = (v >> 16).toByte; out(o + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    i32(2, size); i32(10, 54); i32(14, 40); i32(18, w); i32(22, h)
    out(26) = 1 // planes
    out(28) = 24 // bpp; compression stays 0 = BI_RGB
    i32(34, stride * h)
    var y = 0
    while (y < h) {
      val dst = 54 + (h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val o = y * w * 3 + x * 3
        out(dst + x * 3) = px(o + 2) // RGB -> BGR
        out(dst + x * 3 + 1) = px(o + 1)
        out(dst + x * 3 + 2) = px(o)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Minimal deterministic PNG writer: 8-bit truecolor (color type
    * 2), non-interlaced, filter-0 rows, one zlib (BEST_SPEED) IDAT,
    * correct chunk CRCs — inside what both [[pngDecodeFast]] and
    * ImageIO accept. The BYTES differ from ImageIO's writer (filter
    * choice and deflate level are an encoder's freedom; nothing in
    * the repo or the oracles depends on payload bytes beyond
    * decodability — q144's 20-byte truncation still fails the IHDR
    * length check); the DECODED raster is identical, which is the
    * contract every consumer (dHash, features, oracle formulas)
    * depends on. Same round-13 ImageIO.write finding as
    * [[encodeBmp24]]. */
  private[graft] def encodePngRgb24(w: Int, h: Int, px: Array[Byte]): Array[Byte] = {
    require(w > 0 && h > 0 && px.length == w * 3 * h,
      s"encodePngRgb24: raster shape mismatch w=$w h=$h px=${px.length}")
    val rowBytes = w * 3
    val raw = new Array[Byte]((rowBytes + 1) * h)
    var y = 0
    while (y < h) { // filter byte 0 per row is the array's default 0
      System.arraycopy(px, y * rowBytes, raw, y * (rowBytes + 1) + 1, rowBytes)
      y += 1
    }
    val defl = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
    defl.setInput(raw); defl.finish()
    // raw + raw/256 + 64 exceeds deflate's worst-case stored-block
    // expansion (raw + 5 bytes per 32 KiB block + header), so the
    // fixed buffer suffices; the growth branch makes the bound
    // explicit rather than relying on it (a full buffer would
    // otherwise spin deflate() at 0 bytes forever)
    var comp = new Array[Byte](raw.length + (raw.length >> 8) + 64)
    var clen = 0
    while (!defl.finished()) {
      if (clen == comp.length)
        comp = java.util.Arrays.copyOf(comp, comp.length + (comp.length >> 1) + 64)
      clen += defl.deflate(comp, clen, comp.length - clen)
    }
    defl.end()
    val out = new Array[Byte](8 + 25 + 12 + clen + 12)
    out(0) = 0x89.toByte; out(1) = 'P'; out(2) = 'N'; out(3) = 'G'
    out(4) = 0x0d; out(5) = 0x0a; out(6) = 0x1a; out(7) = 0x0a
    def be32(o: Int, v: Int): Unit = {
      out(o) = (v >>> 24).toByte; out(o + 1) = (v >>> 16).toByte
      out(o + 2) = (v >>> 8).toByte; out(o + 3) = v.toByte
    }
    // writes length+type around data already placed at o+8, CRCs
    // type+data, returns the next chunk's offset
    def chunk(o: Int, typ: String, len: Int): Int = {
      be32(o, len)
      var k = 0
      while (k < 4) { out(o + 4 + k) = typ.charAt(k).toByte; k += 1 }
      val crc = new java.util.zip.CRC32()
      crc.update(out, o + 4, 4 + len)
      be32(o + 8 + len, crc.getValue.toInt)
      o + 12 + len
    }
    be32(16, w); be32(20, h)
    out(24) = 8; out(25) = 2 // bit depth 8, truecolor; comp/filt/ilace 0
    var o = chunk(8, "IHDR", 13)
    System.arraycopy(comp, 0, out, o + 8, clen)
    o = chunk(o, "IDAT", clen)
    chunk(o, "IEND", 0)
    out
  }

  private[graft] def encodeImage(w: Int, h: Int, px: Array[Byte],
                                 format: String): Array[Byte] = format match {
    case "png" => encodePngRgb24(w, h, px)
    case "bmp" => encodeBmp24(w, h, px)
    case other => throw new IllegalArgumentException(
      s"encodeImage: unknown format '$other' (png|bmp)")
  }

  /** Per-partition REAL decode → dHash. Map-only: at 100 TB this is
    * the only pass that touches payload bytes; everything downstream
    * moves (id, 8 bytes of hash). Writer-shape BMPs and truecolor
    * PNGs take the direct-raster fast paths ([[bmpDecodeFast]] /
    * [[pngDecodeFast]], both pinned pixel-exact against ImageIO);
    * everything else decodes through ImageIO. */
  def imageDHash(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val (lo, hi) = dHashAny(r.payload, s"media ${r.media_id}")
        (r.media_id, lo, hi)
      }
    }.toDF("media_id", "hash_lo", "hash_hi")
  }

  /** Image near-dup pairs: dHash → 8 byte-bands (4 per half) →
    * in-bucket pairs (bucket size capped — a hot band byte is a
    * stop-band, same recall-loss mode as the text SimHash op, mirrored
    * in the oracle) → exact Hamming ≤ `maxDist` via popcount of the
    * two xor halves. Each qualifying pair is emitted exactly once by
    * the first-matching-band filter, so no distinct shuffle over the
    * candidate multiset exists. 8 bands of 8 bits guarantee full
    * recall for Hamming ≤ 7 ≥ `maxDist` (pigeonhole), modulo the cap.
    * Scale shape: one map-only decode pass, then exchanges carry only
    * (band, id, hash) and rank-bounded buckets — payload bytes never
    * shuffle. */
  def imageDHashPairs(media: Dataset[MediaRecord], maxDist: Int = 6,
                      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val banded = imageDHash(media)
      .select(col("media_id"), col("hash_lo"), col("hash_hi"),
        posexplode(expr("""concat(
          transform(sequence(0, 3), b -> shiftright(hash_lo, b * 8) & 255),
          transform(sequence(0, 3), b -> shiftright(hash_hi, b * 8) & 255))""")))
      .toDF("media_id", "hash_lo", "hash_hi", "band_idx", "band_val")
    def xorByteZero(j: Int): Column =
      if (j < 4) shiftright(col("xlo"), j * 8).bitwiseAND(lit(255L)) === 0
      else shiftright(col("xhi"), (j - 4) * 8).bitwiseAND(lit(255L)) === 0
    banded
      .groupBy(col("band_idx"), col("band_val"))
      .agg(array_sort(collect_list(
        struct(col("media_id"), col("hash_lo"), col("hash_hi")))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(col("band_idx"),
        explode_outer(Dedup.sortedPairs(col("ids"))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("band_idx"),
        col("p.a.media_id").as("a"), col("p.b.media_id").as("b"),
        col("p.a.hash_lo").bitwiseXOR(col("p.b.hash_lo")).as("xlo"),
        col("p.a.hash_hi").bitwiseXOR(col("p.b.hash_hi")).as("xhi"))
      // first-matching-band: keep the pair only in its LOWEST matching
      // band (band j matches iff xor byte j is zero)
      .filter((0 until 8).map { k =>
        (0 until k).map(j => !xorByteZero(j))
          .foldLeft(col("band_idx") === k)(_ && _)
      }.reduce(_ || _))
      .select(col("a"), col("b"),
        (bit_count(col("xlo")) + bit_count(col("xhi"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Image dedup groups: connected components over the q133 near-dup
    * pair graph — the grouping step that turns pairwise pHash matches
    * into keepable/droppable duplicate sets, reusing the size-gated
    * driver union-find / pointer-jumping machinery of the text dedup
    * family (q47). Returns (media_id, group_id = min media_id of the
    * component); singletons don't appear (they are their own keeper),
    * exactly as q47 treats pairless docs. */
  def imageDedupGroups(media: Dataset[MediaRecord]): DataFrame =
    Dedup.connectedComponents(imageDHashPairs(media))
      .withColumnsRenamed(Map("doc_id" -> "media_id"))

  // ---- real video codec path: AVI (RIFF) demux + DIB/MJPEG decode ------

  /** One decoded video frame's channel statistics. */
  case class VideoFrame(media_id: Long, frame_idx: Int, width: Int,
                        height: Int, mean_r: Double, mean_g: Double,
                        mean_b: Double)

  private def fourccLE(s: String): Int =
    (s(0) & 0xff) | ((s(1) & 0xff) << 8) | ((s(2) & 0xff) << 16) |
      ((s(3) & 0xff) << 24)

  /** Minimal but standard-layout AVI writer: RIFF('AVI ') with the
    * LIST(hdrl) header tree (avih + one 'vids' stream) and a
    * LIST(movi) holding one chunk per frame — `00db` raw DIB frames
    * (BI_RGB bottom-up BGR24, rows padded to 4 bytes) when
    * `mjpeg = false`, `00dc` complete-JPEG frames when true. No idx1
    * (optional per the spec; the demuxer below streams the movi list).
    */
  def aviBytes(frames: Seq[Array[Byte]], width: Int, height: Int,
               fps: Int, mjpeg: Boolean): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int): Array[Byte] =
      ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(n).array()
    val bos = new java.io.ByteArrayOutputStream()
    def put(b: Array[Byte]): Unit = bos.write(b)
    def fcc(s: String): Unit = put(s.getBytes("US-ASCII"))
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(id.getBytes("US-ASCII")); out.write(le(body.length))
      out.write(body)
      if ((body.length & 1) == 1) out.write(0) // RIFF chunks are even-aligned
      out.toByteArray
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("LIST".getBytes("US-ASCII")); out.write(le(body.length + 4))
      out.write(listType.getBytes("US-ASCII")); out.write(body)
      out.toByteArray
    }
    val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max
    val avih = {
      val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(1000000 / math.max(1, fps)) // dwMicroSecPerFrame
      b.putInt(0).putInt(0).putInt(0)      // maxBytesPerSec, padding, flags
      b.putInt(frames.length).putInt(0)    // totalFrames, initialFrames
      b.putInt(1).putInt(maxFrame)         // streams, suggestedBufferSize
      b.putInt(width).putInt(height)
      b.putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]
      b.array()
    }
    val strh = {
      val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(fourccLE("vids"))
      b.putInt(fourccLE(if (mjpeg) "MJPG" else "DIB "))
      b.putInt(0).putShort(0).putShort(0).putInt(0) // flags, prio, lang, initFrames
      b.putInt(1).putInt(math.max(1, fps))          // dwScale, dwRate
      b.putInt(0).putInt(frames.length)             // dwStart, dwLength
      b.putInt(maxFrame).putInt(-1).putInt(0)       // bufSize, quality, sampleSize
      b.putShort(0).putShort(0)                     // rcFrame
      b.putShort(width.toShort).putShort(height.toShort)
      b.array()
    }
    val strf = { // BITMAPINFOHEADER
      val b = ByteBuffer.allocate(40).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(40).putInt(width).putInt(height)
      b.putShort(1).putShort(24) // biPlanes, biBitCount
      b.putInt(if (mjpeg) fourccLE("MJPG") else 0) // biCompression
      b.putInt(((width * 3 + 3) & ~3) * height)    // biSizeImage
      b.putInt(0).putInt(0).putInt(0).putInt(0)
      b.array()
    }
    val hdrl = list("hdrl",
      chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val frameId = if (mjpeg) "00dc" else "00db"
    val moviBody = new java.io.ByteArrayOutputStream() // linear, not
    frames.foreach(f => moviBody.write(chunk(frameId, f))) // foldLeft ++
    val movi = list("movi", moviBody.toByteArray)
    val payload = hdrl ++ movi
    fcc("RIFF"); put(le(payload.length + 4)); fcc("AVI "); put(payload)
    bos.toByteArray
  }

  /** Demuxed AVI: stream geometry + compression fourcc from the strf
    * BITMAPINFOHEADER, and the raw bytes of every video frame chunk in
    * movi order. */
  private[operators] case class AviStream(width: Int, height: Int,
                                          compression: Int,
                                          frames: Vector[Array[Byte]])

  /** RIFF/AVI demuxer: one linear walk of the chunk tree. Recurses
    * into LIST containers (hdrl for the stream format, movi — possibly
    * nested `rec ` lists — for the frames), collects `##db`/`##dc`
    * chunks, and honors the spec's even-byte chunk alignment. */
  def parseAvi(payload: Array[Byte]): AviStream = {
    import java.nio.{ByteBuffer, ByteOrder}
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    def u32(p: Int): Int = buf.getInt(p)
    def tag(p: Int): String = new String(payload, p, 4, "US-ASCII")
    require(payload.length >= 12 && tag(0) == "RIFF" && tag(8) == "AVI ",
      "payload is not a RIFF AVI")
    var (w, h, comp) = (0, 0, 0)
    val frames = Vector.newBuilder[Array[Byte]]
    def walk(start: Int, end: Int, depth: Int): Unit = {
      // depth cap: legit AVIs nest hdrl/strl/movi/rec ≤ 4 deep; a
      // crafted LIST-of-LIST chain would otherwise StackOverflowError
      // (a VirtualMachineError, which the robust decode path's
      // NonFatal catch deliberately does NOT swallow)
      require(depth <= 32, "AVI LIST nesting exceeds any legitimate file")
      var p = start
      while (p + 8 <= end) {
        val id = tag(p); val sz = u32(p + 4); val body = p + 8
        // negative or overrunning sizes would walk backward (infinite
        // loop) or allocate past the payload — malformed, reject
        require(sz >= 0 && body + sz <= payload.length,
          s"AVI chunk $id at $p overruns the payload")
        if (id == "LIST") walk(body + 4, body + sz, depth + 1)
        else if (id == "strf" && sz >= 40) {
          w = u32(body + 4); h = u32(body + 8); comp = u32(body + 16)
        } else if (id.length == 4 && (id.endsWith("db") || id.endsWith("dc")))
          frames += java.util.Arrays.copyOfRange(payload, body, body + sz)
        p = body + sz + (sz & 1)
      }
    }
    walk(12, payload.length, 0)
    AviStream(w, h, comp, frames.result())
  }

  /** One frame's packed top-down RGB raster, by codec: BI_RGB
    * (comp 0) reads the raw bottom-up BGR24 DIB at the stream's
    * declared geometry; MJPG decodes the JPEG chunk through ImageIO.
    * Every failure names the media id. */
  private def frameRaster(s: AviStream, frame: Array[Byte],
                          mediaId: Long): (Int, Int, Array[Byte]) =
    if (s.compression == 0)
      (s.width, s.height, dibRaster(frame, 0, s.width, s.height).getOrElse(
        throw new IllegalArgumentException(s"media $mediaId: DIB frame of " +
          s"${frame.length} bytes does not hold the declared " +
          s"${s.width}x${s.height} raster")))
    else if (s.compression == fourccLE("MJPG")) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(frame))
      require(img != null, s"media $mediaId: MJPG frame did not decode")
      imageRaster(img)
    } else sys.error(f"media $mediaId: unsupported AVI codec fourcc " +
      f"0x${s.compression}%08x")

  /** REAL frame sampling: demux the AVI container, decode every
    * `everyN`-th frame, emit per-frame channel means. The demux +
    * decode runs inside the partition pass and frames stream out — a
    * video's frames are never all materialized at once beyond the
    * (already in-memory) payload. */
  def sampleVideoFrames(media: Dataset[MediaRecord],
                        everyN: Int): Dataset[VideoFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition demuxer/decoder context would be created here
      it.flatMap { r =>
        val s = parseAvi(r.payload)
        val n = s.width.toLong * s.height
        s.frames.iterator.zipWithIndex.collect {
          case (f, idx) if idx % everyN == 0 =>
            val (sr, sg, sb) = rgbSums(frameRaster(s, f, r.media_id)._3)
            VideoFrame(r.media_id, idx, s.width, s.height,
              sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
        }
      }
    }
  }

  /** Deterministic pixel formula shared by the DIB encoder and the
    * q71 oracle: channel values of pixel (x, y) of frame `f` of video
    * `id` are affine functions of the coordinates mod 256. */
  private def vidPx(id: Long, f: Int, x: Int, y: Int): (Int, Int, Int) = (
    math.floorMod(x * 7L + y * 3L + id + f * 31L, 256).toInt,
    math.floorMod(x * 5L + y * 11L + 2 * id + f * 17L, 256).toInt,
    math.floorMod(x * 13L + y * 17L + 3 * id + f * 7L, 256).toInt)

  /** One raw BI_RGB DIB frame of the deterministic raster: bottom-up
    * BGR24 rows padded to 4 bytes — exactly what `parseAvi` +
    * `frameRaster` must read back. */
  def syntheticDibFrame(id: Long, f: Int, w: Int, h: Int): Array[Byte] = {
    val stride = (w * 3 + 3) & ~3
    val out = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val row = (h - 1 - y) * stride // bottom-up storage
      var x = 0
      while (x < w) {
        val (r, g, b) = vidPx(id, f, x, y)
        out(row + x * 3) = b.toByte
        out(row + x * 3 + 1) = g.toByte
        out(row + x * 3 + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Media table whose payloads are REAL AVI containers with raw-DIB
    * frames of the deterministic raster (geometry + frame count derived
    * from the id, as a manifest's would be). */
  def videoTable(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val w = (id % 11 + 4).toInt
        val h = (id % 7 + 4).toInt
        val nf = (id % 4 + 2).toInt
        val frames = (0 until nf).map(f => syntheticDibFrame(id, f, w, h))
        MediaRecord(id, "video", w, h, aviBytes(frames, w, h, fps = 25,
          mjpeg = false))
      }
    }
  }

  // ---- audio containment pairs (q141): snippet / sample detection -------

  /** Snippet fixture: each group g has ONE base waveform (the q135
    * formula WITHOUT gain or noise) and the 4 members are hop-aligned
    * SAMPLE RANGES of it — m0 the full n samples, m1 drops the first
    * hop, m2 a middle slice, m3 the last four hops. Hop alignment
    * makes a snippet's frame energies coincide with the base's
    * (window starts land on the same absolute samples), so interior
    * sub-fingerprints are exactly shared — the "did this track sample
    * that one" fixture. */
  def snippetAudioTable(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val g = id / 4; val m = (id % 4).toInt
        val n = (g % 300 + 396).toInt
        val rate = (8000 + (g % 3) * 4000).toInt
        // hop-aligned (start, length) per member; all within [0, n)
        val nh = n / FpHop
        val (s0, len) = m match {
          case 0 => (0, n)
          case 1 => (FpHop, n - FpHop)
          case 2 => (2 * FpHop, (nh - 3) * FpHop)
          case _ => ((nh - 4) * FpHop, 4 * FpHop)
        }
        val samples = Array.tabulate(len) { i =>
          val t = s0 + i
          (math.floorMod(
            t.toLong * t * (g % 5 + 2) + t * (g % 7 + 3) + g * 13,
            1024) - 512).toShort
        }
        MediaRecord(id, "audio", 0, 0, wavBytes(samples, rate))
      }
    }
  }

  /** Audio containment pairs — snippet detection across track
    * lengths: the q140 semantics with sub-fingerprints as the set
    * elements. A short clip whose sub-fingerprints are all inside a
    * longer track's scores containment 1.0 regardless of the length
    * ratio, where q136's Jaccard would dilute it by the union. Same
    * single-exchange shape as q136 (the sets are built in the
    * map-only decode pass); verify is shared·10 ≥ τ·min(|A|,|B|). */
  def audioContainmentPairs(media: Dataset[MediaRecord],
                            threshold10: Int = 8,
                            maxBucket: Int = Dedup.DefaultMaxBucket)
      : DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val sets = media.mapPartitions { it =>
      it.flatMap { r =>
        val fps = audioFpSet(r.payload)
        if (fps.isEmpty) None else Some((r.media_id, fps))
      }
    }.toDF("media_id", "es")
    elementSetPairs(sets, maxBucket)(containmentKeep(threshold10))
  }

  // ---- video near-dup pairs (q137) --------------------------------------

  /** Near-dup video fixture (the q133 group discipline, video form):
    * 4 variants per base clip — member m shifts every channel of
    * every frame by +m pre-mod, so most luminance comparisons (and
    * hence most per-frame dHash bits) survive while mod-256 wraps
    * flip an occasional bit. Geometry and frame count are shared
    * within a group; all payloads are REAL RIFF/AVI raw-DIB
    * containers. */
  def nearDupVideoTable(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val g = id / 4; val m = (id % 4).toInt
        val w = (g % 7 + 9).toInt
        val h = (g % 5 + 8).toInt
        val nf = (g % 3 + 3).toInt
        val frames = (0 until nf).map { f =>
          val stride = (w * 3 + 3) & ~3
          val out = new Array[Byte](stride * h)
          var y = 0
          while (y < h) {
            val row = (h - 1 - y) * stride // bottom-up storage
            var x = 0
            while (x < w) {
              val r = math.floorMod(
                x * x * (g % 5 + 1) + y * 3 + f * 19 + g * 11 + m, 256)
              val gc = math.floorMod(
                x * 5 + y.toLong * y * (g % 3 + 1) + f * 23 + g * 23 + m, 256)
              val b = math.floorMod(
                x * 13 + y * 17 + f * 29 + g * 29 + m, 256)
              out(row + x * 3) = b.toByte
              out(row + x * 3 + 1) = gc.toByte
              out(row + x * 3 + 2) = r.toByte
              x += 1
            }
            y += 1
          }
          out
        }
        MediaRecord(id, "video", w, h,
          aviBytes(frames, w, h, fps = 25, mjpeg = false))
      }
    }
  }

  /** Per-partition REAL demux + decode → per-clip dHash signature:
    * (media_id, nf, sig) with sig = [lo₀, hi₀, lo₁, hi₁, …] over the
    * frames in container order. Every frame hashes off its
    * [[frameRaster]] — raw-DIB frames exactly, MJPEG frames after the
    * JDK's own JPEG decode — on the same 9×8 grid, so a clip's
    * signature is codec-consistent, but JPEG loss means an MJPEG
    * re-encode is a NEAR-dup of its raw twin, not an exact one
    * (spec-asserted both ways). Map-only; at
    * 100 TB everything downstream moves 16 bytes per frame. */
  def videoDHashSignature(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val (nf, sig) = clipSignature(r)
        (r.media_id, nf, sig)
      }
    }.toDF("media_id", "nf", "sig")
  }

  /** One clip's (frame count, interleaved [lo₀, hi₀, lo₁, hi₁, …]
    * dHash signature) — the single demux+decode+hash definition the
    * batch pair op (via [[videoDHashSignature]]), the frozen gate
    * fit, and the streaming probe share; fit/serve/batch parity
    * rests on bit-identical signatures, so the recipe must not
    * fork. */
  private def clipSignature(payload: Array[Byte],
                            mediaId: Long): (Int, Array[Long]) = {
    val s = parseAvi(payload)
    val sig = new Array[Long](s.frames.length * 2)
    var i = 0
    while (i < s.frames.length) {
      val (lo, hi) = frameDHash(s, s.frames(i), mediaId)
      sig(2 * i) = lo
      sig(2 * i + 1) = hi
      i += 1
    }
    (s.frames.length, sig)
  }
  private def clipSignature(r: MediaRecord): (Int, Array[Long]) =
    clipSignature(r.payload, r.media_id)

  /** One frame's dHash (shared by the signature and containment
    * paths). */
  private def frameDHash(s: AviStream, frame: Array[Byte],
                         mediaId: Long): (Long, Long) =
    rasterDHash(frameRaster(s, frame, mediaId))

  /** byte j of the flattened per-frame-banded signature `arr`
    * (band j = band j%8 of frame j/8, q133's byte banding per frame),
    * as a SQL fragment reused by the banding explode and the
    * first-matching-band filter. */
  private def sigByte(arr: String, j: String): String = s"""
    CASE WHEN $j % 8 < 4
         THEN shiftright($arr[cast(2 * ($j div 8) as int)],
                         ($j % 8) * 8) & 255
         ELSE shiftright($arr[cast(2 * ($j div 8) + 1 as int)],
                         (($j % 8) - 4) * 8) & 255 END"""

  /** Video near-dup pairs: per-frame dHash signatures → nf·8 byte
    * bands (frame-aligned, q133's banding per frame with the frame
    * count riding in the bucket key so only equal-length clips ever
    * meet) → capped buckets → in-bucket pairs, emitted exactly once
    * at their lowest matching band → exact TOTAL Hamming over the
    * aligned frame hashes ≤ `maxDist`. Pigeonhole recall: nf ≥ 3
    * gives ≥ 24 bands, so any pair within `maxDist` ≤ 23 shares a
    * zero band — full recall modulo the bucket cap. Scale shape: one
    * map-only decode pass, ONE exchange carrying (band, id,
    * 16·nf-byte signature); payload bytes never shuffle; no joins. */
  def videoDHashPairs(media: Dataset[MediaRecord], maxDist: Int = 12,
                      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    require(maxDist <= 23, "pigeonhole recall bound needs maxDist <= 23")
    val banded = videoDHashSignature(media)
      .select(col("media_id"), col("nf"), col("sig"),
        posexplode(expr(s"""transform(sequence(0, nf * 8 - 1),
          j -> ${sigByte("sig", "j")})""")))
      .toDF("media_id", "nf", "sig", "band_idx", "band_val")
    banded
      .groupBy(col("nf"), col("band_idx"), col("band_val"))
      .agg(array_sort(collect_list(
        struct(col("media_id"), col("sig")))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(col("nf"), col("band_idx"),
        explode_outer(Dedup.sortedPairs(col("ids"))).as("p"))
      .filter(col("p").isNotNull)
      // first-matching band + total Hamming in ONE fused codegen pass
      // per candidate (SigBandScore) — the HOF spelling
      // (filter(sequence(0, nf·8−1), j -> …) + aggregate(zip_with))
      // re-read the signature arrays per band iteration and allocated
      // per candidate, costing ~8 s of the sf0.1 pass at 2.2 M
      // capped-bucket candidates (SCALE.md, "q137 verify-stage
      // measurement"); the fused node is an allocation-free loop and
      // the many-literal-loops cliff does not apply (one loop,
      // data-dependent bounds).
      .select(col("band_idx"),
        col("p.a.media_id").as("a"), col("p.b.media_id").as("b"),
        graft.functions.VectorExpressions
          .sigBandScore(col("p.a.sig"), col("p.b.sig")).as("score"))
      // keep the pair only at its LOWEST matching band
      .filter(col("band_idx").cast("long") === shiftright(col("score"), 32))
      .select(col("a"), col("b"),
        col("score").bitwiseAND(lit(0xffffffffL)).cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  // ---- video containment pairs (q140): subclip detection -----------------

  /** Subclip fixture: each group g has ONE base 6-frame sequence
    * (pixel formula keyed on (g, f) only — no member term) and the 4
    * members are frame RANGES of it: m0 = f0..5, m1 = f1..4,
    * m2 = f3..5, m3 = f2..3. Within a group every member's frame set
    * is a subset of m0's and overlaps the others partially, so the
    * containment threshold separates true subclips from mere
    * overlaps; groups are independent. REAL AVI raw-DIB payloads. */
  def subClipVideoTable(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    val ranges = Array((0, 6), (1, 4), (3, 3), (2, 2))
    documents.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val g = id / 4; val m = (id % 4).toInt
        val w = (g % 7 + 9).toInt
        val h = (g % 5 + 8).toInt
        val (start, len) = ranges(m)
        val frames = (start until start + len).map { f =>
          val stride = (w * 3 + 3) & ~3
          val out = new Array[Byte](stride * h)
          var y = 0
          while (y < h) {
            val row = (h - 1 - y) * stride
            var x = 0
            while (x < w) {
              val r = math.floorMod(
                x * x * (g % 5 + 1) + y * 3 + f * 19 + g * 11, 256)
              val gc = math.floorMod(
                x * 5 + y.toLong * y * (g % 3 + 1) + f * 23 + g * 23, 256)
              val b = math.floorMod(
                x * 13 + y * 17 + f * 29 + g * 29, 256)
              out(row + x * 3) = b.toByte
              out(row + x * 3 + 1) = gc.toByte
              out(row + x * 3 + 2) = r.toByte
              x += 1
            }
            y += 1
          }
          out
        }
        MediaRecord(id, "video", w, h,
          aviBytes(frames, w, h, fps = 25, mjpeg = false))
      }
    }
  }

  /** Video containment pairs — subclip detection across DIFFERENT
    * clip lengths, which the frame-aligned q137 deliberately cannot
    * express (its equal-nf bucket key is what makes exact aligned
    * Hamming well-defined). Here a clip is its SET of distinct
    * per-frame dHashes (built in the same map-only decode pass, lo
    * and hi packed into one 64-bit value); the inverted index keys on
    * the exact frame hash (capped stop-band buckets), each pair is
    * emitted once at its smallest shared hash, and the verify is
    * integer cross-multiplied CONTAINMENT — shared·10 ≥ τ·min(|A|,|B|)
    * — so a short clip fully inside a long one scores 1.0 regardless
    * of the length ratio (the q66 text-containment semantics, lifted
    * to frames). One exchange carrying (hash, id, frames-sized
    * array); payload bytes never shuffle; no joins. */
  def videoContainmentPairs(media: Dataset[MediaRecord],
                            threshold10: Int = 8,
                            maxBucket: Int = Dedup.DefaultMaxBucket)
      : DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val sets = media.mapPartitions { it =>
      it.map { r =>
        val s = parseAvi(r.payload)
        val hs = s.frames.map { f =>
          val (lo, hi) = frameDHash(s, f, r.media_id)
          lo | (hi << 32)
        }.distinct.sorted
        (r.media_id, hs)
      }
    }.toDF("media_id", "es")
    elementSetPairs(sets, maxBucket)(containmentKeep(threshold10))
  }

  /** Shared bucket-capped inverted-index pair machinery over per-media
    * SORTED DISTINCT 64-bit element sets ((media_id, es array<long>)):
    * exact-element buckets (a hot element is a stop-band — the
    * q26/q28/q133 cap discipline), each pair emitted once at its
    * SMALLEST shared element and only if that bucket survived the
    * cap, then the caller's verify predicate over
    * (n_shared, n_a, n_b). One exchange carrying (element, id, the
    * set); no joins; payload bytes never reach it. Backs the audio
    * Jaccard pairs (q136) and every containment op (q140/q141/q145).
    */
  private def elementSetPairs(sets: DataFrame, maxBucket: Int)
      (keep: (Column, Column, Column) => Column): DataFrame =
    sets.select(col("media_id"), col("es"), explode(col("es")).as("e"))
      .groupBy(col("e"))
      .agg(array_sort(collect_list(
        struct(col("media_id"), col("es")))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(col("e"),
        explode_outer(Dedup.sortedPairs(col("ids"))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("e"),
        col("p.a.media_id").as("a"), col("p.b.media_id").as("b"),
        array_intersect(col("p.a.es"), col("p.b.es")).as("shared"),
        size(col("p.a.es")).cast("long").as("n_a"),
        size(col("p.b.es")).cast("long").as("n_b"))
      .filter(col("e") === array_min(col("shared")))
      .select(col("a"), col("b"),
        size(col("shared")).cast("long").as("n_shared"),
        col("n_a"), col("n_b"))
      .filter(keep(col("n_shared"), col("n_a"), col("n_b")))

  /** shared·10 ≥ τ·min(|A|,|B|) — the containment verify. */
  private def containmentKeep(threshold10: Int)
      : (Column, Column, Column) => Column =
    (nShared, nA, nB) => nShared * 10 >= lit(threshold10) * least(nA, nB)

  /** shared·10 ≥ τ·|A ∪ B| — the Jaccard verify. */
  private def jaccardKeep(threshold10: Int)
      : (Column, Column, Column) => Column =
    (nShared, nA, nB) => nShared * 10 >= lit(threshold10) * (nA + nB - nShared)

  // ---- image crop containment (q145) -------------------------------------

  /** Tile geometry for the crop-containment op: an 18×16 tile makes
    * the 9×8 dHash grid sample EVERY SECOND pixel exactly
    * (sx = gx·18/9 = 2gx, sy = gy·16/8 = 2gy), so a tile's hash is
    * reproducible in integer SQL with no division residue. */
  val TileW = 18
  val TileH = 16

  /** Crop fixture: each group g has one base 4×3-tile image (72×48)
    * whose pixel content is keyed by (g, tile, local-x, local-y) —
    * tile-local content is what makes a TILE-ALIGNED crop share its
    * tiles' hashes exactly (the image analog of q140's frame ranges
    * and q141's hop alignment). Members are tile-rect crops: m0 the
    * full 4×3, m1 = 3×3 at (0,0), m2 = 2×2 at (2,1), m3 = 2×1 at
    * (1,2). REAL PNG/BMP payloads. */
  def cropImageTable(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    val rects = Array((0, 0, 4, 3), (0, 0, 3, 3), (2, 1, 2, 2), (1, 2, 2, 1))
    documents.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val g = id / 4; val m = (id % 4).toInt
        val (tx0, ty0, ntx, nty) = rects(m)
        val (w, h) = (ntx * TileW, nty * TileH)
        // round 13: direct raster fill + from-scratch encode (see
        // [[syntheticImageBytes]]); pixel formulas unchanged
        val px = new Array[Byte](w * 3 * h)
        var y = 0
        while (y < h) {
          val ty = ty0 + y / TileH; val ly = y % TileH
          var x = 0
          while (x < w) {
            val tx = tx0 + x / TileW; val lx = x % TileW
            val o = y * w * 3 + x * 3
            px(o) = math.floorMod(
              lx * lx * (g % 5 + 1) + ly * 3 + tx * 31 + ty * 37 + g * 11, 256).toByte
            px(o + 1) = math.floorMod(
              lx * 5 + ly.toLong * ly * (g % 3 + 1) + tx * 41 + ty * 43 + g * 23, 256).toByte
            px(o + 2) = math.floorMod(
              lx * 13 + ly * 17 + tx * 47 + ty * 53 + g * 29, 256).toByte
            x += 1
          }
          y += 1
        }
        val fmt = if (id % 2 == 0) "png" else "bmp"
        MediaRecord(id, fmt, w, h, encodeImage(w, h, px, fmt))
      }
    }
  }

  /** Image crop containment — "is this image a crop of that one":
    * the containment discipline's image member (frames → q140, hops
    * → q141, TILES here). Each decoded image reduces to the set of
    * its tiles' 64-bit dHashes (content-keyed, position-free — a
    * tile hashes the same wherever the crop put it); the verify is
    * integer min-set containment, so a tile-aligned crop scores 1.0
    * against its source at any crop ratio. Non-aligned crops are the
    * documented recall loss (shingle the tiles at several offsets to
    * buy it back — the q26 banding trade). Map-only decode, then the
    * shared one-exchange pair machinery. */
  def imageCropContainmentPairs(media: Dataset[MediaRecord],
                                threshold10: Int = 8,
                                maxBucket: Int = Dedup.DefaultMaxBucket)
      : DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val sets = media.mapPartitions { it =>
      it.map { r =>
        val (w, h, px) = decodeRasterAny(r.payload, s"media ${r.media_id}")
        val hs = (for {
          ty <- 0 until h / TileH
          tx <- 0 until w / TileW
        } yield {
          // the tile's dHash: TileW=18/TileH=16 make the 9×8 grid
          // sample every second local pixel (lx = 2·gx, ly = 2·gy)
          val (lo, hi) = rasterDHash(w, px,
            gx => tx * TileW + 2 * gx, gy => ty * TileH + 2 * gy)
          lo | (hi << 32)
        }).distinct.sorted
        (r.media_id, hs)
      }
    }.toDF("media_id", "es")
    elementSetPairs(sets, maxBucket)(containmentKeep(threshold10))
  }

  // ---- real audio codec path: WAV (RIFF) PCM16 -------------------------

  /** Decoded-audio statistics: exact integer aggregates over the PCM
    * samples, double division only at the end (bit-portable). */
  case class AudioFeatures(media_id: Long, n_samples: Long,
                           sample_rate: Long, duration_s: Double,
                           mean_abs: Double, peak: Long, zero_cross: Long)

  /** Canonical 44-byte-header WAV writer: RIFF('WAVE') + 'fmt '
    * (PCM, mono, 16-bit) + 'data' of little-endian int16 samples. */
  def wavBytes(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val data = samples.length * 2
    val b = ByteBuffer.allocate(44 + data).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + data)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1).putShort(1) // PCM, mono
    b.putInt(sampleRate).putInt(sampleRate * 2) // byte rate
    b.putShort(2).putShort(16) // block align, bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(data)
    samples.foreach(b.putShort)
    b.array()
  }

  private[operators] case class WavStream(sampleRate: Int, channels: Int,
                                          samples: Array[Short])

  /** RIFF/WAVE demuxer: same chunk walk as [[parseAvi]] — reads the
    * 'fmt ' header (PCM16 only: that's what pure-JDK decode means)
    * and the 'data' samples. Tolerates extra chunks (LIST/INFO, fact)
    * in either order, as real encoders emit them. */
  def parseWav(payload: Array[Byte]): WavStream = {
    import java.nio.{ByteBuffer, ByteOrder}
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    def tag(p: Int): String = new String(payload, p, 4, "US-ASCII")
    require(payload.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
      "payload is not a RIFF WAVE")
    var (rate, channels, bits, fmtCode) = (0, 0, 0, 0)
    var samples: Array[Short] = null
    var p = 12
    while (p + 8 <= payload.length) {
      val id = tag(p); val sz = buf.getInt(p + 4); val body = p + 8
      // negative sizes would walk BACKWARD (infinite loop), oversizes
      // would allocate a sample array far past the payload — reject
      require(sz >= 0 && body + sz <= payload.length,
        s"WAV chunk $id at $p overruns the payload")
      if (id == "fmt " && sz >= 16) {
        fmtCode = buf.getShort(body) & 0xffff
        channels = buf.getShort(body + 2) & 0xffff
        rate = buf.getInt(body + 4)
        bits = buf.getShort(body + 14) & 0xffff
      } else if (id == "data") {
        require(fmtCode == 1 && bits == 16,
          s"only PCM16 WAV decodes here (fmt=$fmtCode bits=$bits)")
        samples = new Array[Short](sz / 2)
        var i = 0
        while (i < samples.length) {
          samples(i) = buf.getShort(body + i * 2); i += 1
        }
      }
      p = body + sz + (sz & 1)
    }
    require(samples != null, "WAV has no data chunk")
    WavStream(rate, channels, samples)
  }

  /** Feature extraction over the DECODED samples: exact integer sums
    * (mean |s|, peak |s|, sign-transition count with 0 counted
    * non-negative), one double division at the end. */
  def decodeAudio(r: MediaRecord): AudioFeatures = {
    val w = parseWav(r.payload)
    val s = w.samples
    var (sumAbs, peak, crossings) = (0L, 0L, 0L)
    var i = 0
    while (i < s.length) {
      val a = math.abs(s(i).toLong)
      sumAbs += a
      if (a > peak) peak = a
      if (i > 0 && (s(i) >= 0) != (s(i - 1) >= 0)) crossings += 1
      i += 1
    }
    val n = s.length.toLong
    AudioFeatures(r.media_id, n, w.sampleRate,
      n.toDouble / w.sampleRate,
      if (n == 0) 0.0 else sumAbs.toDouble / n, peak, crossings)
  }

  /** Batched per-partition audio decode — same mapInPandas shape. */
  def extractAudioFeatures(media: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition decoder context would be created here
      it.map(decodeAudio)
    }
  }

  /** Deterministic integer waveform shared by the encoder and the q72
    * oracle: sample t of audio `id` is an affine sawtooth in int16
    * range. */
  private def audioSample(id: Long, t: Int): Short =
    (math.floorMod(t * (id % 7 + 2) + id, 2048) - 1024).toShort

  /** Media table whose payloads are REAL WAV files of the
    * deterministic waveform (length + rate derived from the id). */
  def audioTable(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val n = (id % 600 + 100).toInt
        val rate = (8000 + (id % 3) * 4000).toInt
        val samples = Array.tabulate(n)(t => audioSample(id, t))
        MediaRecord(id, "audio", 0, 0, wavBytes(samples, rate))
      }
    }
  }

  // ---- audio fingerprint near-dup family (q135/q136) -------------------

  /** Fingerprint frame geometry: 33 contiguous 4-sample bands per
    * 132-sample window, hop = half a window. 32 band-pair time deltas
    * → one 32-bit sub-fingerprint per frame transition. */
  val FpWindow = 132
  val FpHop = 66
  private val FpBands = 33

  /** Sub-fingerprints of a decoded PCM16 signal, Haitsma–Kalker
    * style ("A Highly Robust Audio Fingerprint System", ISMIR 2002):
    * band energy E(f,b) = Σ s² over band b of frame f (exact integer),
    * bit b of frame f (f ≥ 1) = [(E(f,b)−E(f,b+1)) −
    * (E(f−1,b)−E(f−1,b+1)) > 0]. Sign bits of energy-delta
    * differences are invariant under uniform gain (energies scale by
    * c², differences keep their sign — exactly, in integer math),
    * which is what makes this a near-dup signature rather than a
    * checksum. Returns one (frame_idx, subfp) per transition; signals
    * shorter than window+hop have no transition and fingerprint to
    * empty (mirroring the < 3-word documents of the MinHash family). */
  def subFingerprints(samples: Array[Short]): Array[(Int, Long)] = {
    val nf = if (samples.length < FpWindow) 0
             else (samples.length - FpWindow) / FpHop + 1
    if (nf < 2) return Array.empty
    val e = Array.ofDim[Long](nf, FpBands)
    var f = 0
    while (f < nf) {
      var b = 0
      while (b < FpBands) {
        var acc = 0L
        var u = 0
        while (u < 4) {
          val s = samples(f * FpHop + b * 4 + u).toLong
          acc += s * s; u += 1
        }
        e(f)(b) = acc; b += 1
      }
      f += 1
    }
    Array.tabulate(nf - 1) { i =>
      val f = i + 1
      var fp = 0L
      var b = 0
      while (b < FpBands - 1) {
        val d = (e(f)(b) - e(f)(b + 1)) - (e(f - 1)(b) - e(f - 1)(b + 1))
        if (d > 0) fp |= 1L << b
        b += 1
      }
      (f, fp)
    }
  }

  /** Near-dup audio fixture (the q133 group discipline, audio form):
    * 4 variants per base waveform — member m is the base scaled by
    * gain (m+2) plus sparse ±4 sample noise on every 37th-ish sample.
    * The gain leaves every fingerprint bit untouched by construction;
    * the noise flips an occasional bit so the pair threshold is
    * actually exercised. All payloads are REAL RIFF/WAVE files. */
  def nearDupAudioTable(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val g = id / 4; val m = (id % 4).toInt
        val n = (g % 300 + 264).toInt
        val rate = (8000 + (g % 3) * 4000).toInt
        val samples = Array.tabulate(n) { t =>
          val base = math.floorMod(
            t.toLong * t * (g % 5 + 2) + t * (g % 7 + 3) + g * 13, 1024) - 512
          val noise = if ((t + g + m) % 37 == 0)
            math.floorMod(g + t.toLong * m, 9) - 4 else 0L
          (base * (m + 2) + noise).toShort
        }
        MediaRecord(id, "audio", 0, 0, wavBytes(samples, rate))
      }
    }
  }

  /** The SORTED DISTINCT sub-fingerprint set of one payload — the
    * single definition the batch pair ops (q136/q141), the frozen
    * gate fit, and the streaming probe all share: fit/serve/batch
    * parity rests on these computing bit-identical sets, so the
    * recipe must not fork. */
  private[operators] def audioFpSet(payload: Array[Byte]): Array[Long] =
    subFingerprints(parseWav(payload).samples).map(_._2).distinct.sorted

  /** Per-partition REAL WAV decode → sub-fingerprint rows
    * (media_id, frame_idx, subfp). Map-only — the only pass that
    * touches payload bytes; at 100 TB everything downstream of this
    * moves 12-byte rows. */
  def audioFingerprint(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        subFingerprints(parseWav(r.payload).samples).map {
          case (f, fp) => (r.media_id, f, fp)
        }
      }
    }.toDF("media_id", "frame_idx", "subfp")
  }

  /** Audio near-dup pairs: distinct sub-fingerprint sets (built in
    * the SAME map-only decode pass — no per-media aggregation
    * exchange exists) → inverted index on the exact 32-bit subfp
    * (bucket-capped; a hot sub-fingerprint is a stop-band, the
    * q26/q28/q133 recall-loss mode, mirrored in the oracle) →
    * in-bucket pairs, each emitted exactly once at its SMALLEST
    * shared subfp (the first-matching-band discipline) and only if
    * that bucket survived the cap → exact set-Jaccard ≥
    * `threshold10`/10 via integer cross-multiplication over the
    * ride-along fps arrays. Scale shape: one exchange, carrying
    * (subfp, id, a ≤ handful-of-frames array); payload bytes never
    * shuffle; no joins. */
  def audioFpPairs(media: Dataset[MediaRecord], threshold10: Int = 5,
                   maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val sets = media.mapPartitions { it =>
      it.flatMap { r =>
        val fps = audioFpSet(r.payload)
        if (fps.isEmpty) None else Some((r.media_id, fps))
      }
    }.toDF("media_id", "es")
    elementSetPairs(sets, maxBucket)(jaccardKeep(threshold10))
  }

  /** Audio / video dedup groups: the q134 closure applied to the
    * other two modalities — connected components over the q136 / q137
    * pair graphs via the shared size-gated machinery
    * ([[graft.operators.Dedup.connectedComponents]]). */
  def audioDedupGroups(media: Dataset[MediaRecord]): DataFrame =
    Dedup.connectedComponents(audioFpPairs(media).select("a", "b"))
      .withColumnsRenamed(Map("doc_id" -> "media_id"))

  def videoDedupGroups(media: Dataset[MediaRecord]): DataFrame =
    Dedup.connectedComponents(videoDHashPairs(media).select("a", "b"))
      .withColumnsRenamed(Map("doc_id" -> "media_id"))

  /** Media dedup APPLY — the media half of the report→apply closure
    * (text analog: `Dedup.dedupApply`, q43): drop every member of a
    * duplicate component except its keeper. The media keeper policy
    * is deterministic earliest-ingest (min media_id) — exactly the
    * component label the closure already computes, so unlike the
    * text op NO keeper aggregation pass exists: the label IS the
    * keeper and the drop set falls out of one filter. Works for any
    * modality's groups table (q134/q138/q139). Scale shape: the drop
    * side is the paired-docs set (bounded by the bucket-capped pair
    * mass upstream) anti-joined against the corpus; no broadcast
    * hint — on a dup-heavy corpus the drop side is NOT small and the
    * per-run optimizer/AQE must pick, the q43 gate argument. */
  def mediaDedupApply(media: Dataset[MediaRecord],
                      groups: DataFrame): DataFrame = {
    val drops = groups.filter(col("media_id") =!= col("group_id"))
      .select(col("media_id"))
    media.toDF().join(drops, Seq("media_id"), "left_anti")
      .select(col("media_id"), col("kind"), col("width"), col("height"))
  }

  // ---- streaming media admission: image near-dup gate -------------------

  /** Frozen image near-dup index — the fit half of the media family's
    * fit/serve split, completing the streaming-twin parity set for
    * multimodal dedup (text admission `StreamAggs.bloomAdmitStream`,
    * decontamination `StreamAggs.decontamGate`, scrub
    * `StreamAggs.scrubGate`). Reference dHashes are keyed by BAND
    * PAIRS: the C(8,2) = 28 ordered pairs of the hash's 8 byte bands,
    * 16 bits of value each (key space 28·65536 ≈ 1.8 M), so reference
    * mass spreads across vastly more buckets than a single-byte-band
    * key before any cap bites (SCALE.md gatefit: a 2048-key
    * single-band space capped out 75% of its entries at 20 000
    * references). Buckets over the cap are dropped entirely
    * (stop-bands — the q26/q28/q133 recall-loss mode). Recall is
    * pigeonhole-complete for `maxDist` ≤ 6: ≤ 6 bit errors over 8
    * bands leave ≥ 2 bands error-free, and some PAIR of clean bands is
    * then a shared key. The cost is 28 entries per reference and 28
    * lookups per probe — both orders of magnitude below the gate's
    * decode cost. */
  case class ImageDupIndex(maxDist: Int, maxBucket: Int,
      buckets: java.util.HashMap[Integer, Array[Long]]) {
    // the pigeonhole-recall premise is a property of EVERY instance,
    // not just the fit path: constructing (or .copy()-ing) one with
    // maxDist 7 would silently lose recall
    require(maxDist <= 6,
      s"band-pair pigeonhole needs maxDist <= 6, got $maxDist")
    /** true iff `hash` near-dups some reference image: a surviving
      * pair-key bucket holds a hash within total Hamming ≤ maxDist. */
    def hits(lo: Long, hi: Long): Boolean = {
      var a = 0
      while (a < 8) {
        var b = a + 1
        while (b < 8) {
          val k = ImageDupIndex.key(a, b, lo, hi)
          val bk = buckets.get(k)
          if (bk != null) {
            var i = 0
            while (i < bk.length) {
              if (java.lang.Long.bitCount(bk(i) ^ lo) +
                  java.lang.Long.bitCount(bk(i + 1) ^ hi) <= maxDist)
                return true
              i += 2
            }
          }
          b += 1
        }
        a += 1
      }
      false
    }
  }

  object ImageDupIndex {
    private def byteBand(k: Int, lo: Long, hi: Long): Int =
      (((if (k < 4) lo >> (k * 8) else hi >> ((k - 4) * 8))) & 255L).toInt
    /** pairIdx(a,b) << 16 | byte_a << 8 | byte_b, a < b. */
    def key(a: Int, b: Int, lo: Long, hi: Long): Int = {
      val pairIdx = a * 8 - a * (a + 1) / 2 + (b - a - 1)
      (pairIdx << 16) | (byteBand(a, lo, hi) << 8) | byteBand(b, lo, hi)
    }
    /** SQL twin of [[key]] over columns `hash_lo`/`hash_hi`: the 28
      * band-pair keys of one hash as an array — lets the fit run the
      * bucket cap DISTRIBUTED (one exchange on the pair keys) before
      * anything comes to the driver. Bit-equality with [[key]] is
      * property-pinned in StreamAggsSpec. */
    val keysSql: String = """
      flatten(transform(sequence(0, 6), a ->
        transform(sequence(a + 1, 7), b ->
          (a * 8 - (a * (a + 1)) div 2 + (b - a - 1)) * 65536
          + ((case when a < 4 then shiftright(hash_lo, a * 8)
                   else shiftright(hash_hi, (a - 4) * 8) end) & 255) * 256
          + ((case when b < 4 then shiftright(hash_lo, b * 8)
                   else shiftright(hash_hi, (b - 4) * 8) end) & 255))))"""
  }

  /** Fit the frozen image index: one map-only decode+hash pass over the
    * reference, the 28 pair keys per hash exploded in SQL
    * ([[ImageDupIndex.keysSql]]), ONE exchange on (pair key, shard),
    * and over-cap slices filtered BEFORE the driver collect — the
    * driver transfer is bounded by the surviving slices (≤ cap entries
    * each), not by the reference corpus. Singleton buckets stay:
    * admission matches a stream image against ONE reference image.
    *
    * The cap budget is REFERENCE-SHARDED ([[fitVideoDupIndex]]'s
    * recipe — see there for the rationale and the measured ceiling it
    * lifts): references are hash-partitioned on xxhash64(media_id)
    * into `shards` groups and the cap applies PER (key, shard), so the
    * budget scales with the reference count; the survivors merge into
    * one bucket map, one key walk per probe. `shards` = 0 is auto,
    * ceil(n / [[ImageShardTargetRefs]]) via one extra count() action
    * (pass an explicit count-derived value to skip it on an expensive
    * uncached reference pipeline); at or below the target that is 1,
    * the flat drop-if-over-cap rule. Near-identical images with
    * DIFFERENT ids spread across shards, which is what lets an
    * exact-dup-heavy key keep up to cap·shards representatives instead
    * of dropping. */
  def fitImageDupIndex(reference: Dataset[MediaRecord], maxDist: Int = 6,
                       maxBucket: Int = Dedup.DefaultMaxBucket,
                       shards: Int = 0): ImageDupIndex = {
    require(shards >= 0, s"shards must be >= 1 (or 0 = auto), got $shards")
    val nShards = resolveShards(shards,
      if (shards > 0) 1L else reference.count(), ImageShardTargetRefs)
    val rows = imageDHash(reference)
      .select(col("hash_lo"), col("hash_hi"),
        pmod(xxhash64(col("media_id")), lit(nShards)).as("shard"),
        explode(expr(ImageDupIndex.keysSql)).as("k"))
      .groupBy(col("k"), col("shard"))
      .agg(collect_list(array(col("hash_lo"), col("hash_hi"))).as("hs"))
      .filter(size(col("hs")) <= maxBucket)
      .collect()
    val merged = new java.util.HashMap[Integer, java.util.ArrayList[java.lang.Long]]
    // deterministic merge order: shard-major within each key
    rows.sortBy(r => (r.getLong(0), r.getLong(1))).foreach { r =>
      val lst = merged.computeIfAbsent(r.getLong(0).toInt,
        _ => new java.util.ArrayList[java.lang.Long])
      r.getSeq[scala.collection.Seq[Long]](2).foreach { p =>
        lst.add(p(0)); lst.add(p(1))
      }
    }
    val buckets = new java.util.HashMap[Integer, Array[Long]]
    merged.forEach { (k, lst) =>
      buckets.put(k, Array.tabulate(lst.size)(lst.get(_).longValue()))
    }
    ImageDupIndex(maxDist, maxBucket, buckets)
  }

  /** Streaming image admission against the frozen index: decode each
    * arriving payload (REAL ImageIO path), dHash it, admit unless the
    * index reports a near-dup. STATELESS per row — the index ships
    * once per executor via the broadcast, the stream never joins,
    * shuffles, or keeps state, and no watermark is needed; works
    * identically on a batch Dataset (parity spec-asserted against a
    * brute-force mirror of the band-pair/cap/Hamming semantics).
    * Arriving near-dups of EACH OTHER both admit (the index is
    * frozen); compose with `StreamAggs.dedupWithinWatermark` on a
    * content key for in-stream dedup, the bloomAdmitStream layering.
    * The caller broadcasts the fitted index and owns the broadcast's
    * lifecycle, as for every frozen-index gate. */
  def imageAdmitStream(media: Dataset[MediaRecord],
                       index: org.apache.spark.broadcast.Broadcast[ImageDupIndex])
      : Dataset[MediaRecord] =
    media.filter { (r: MediaRecord) =>
      val (lo, hi) = dHashAny(r.payload, s"media ${r.media_id}")
      !index.value.hits(lo, hi)
    }

  // ---- streaming media admission: audio near-dup gate --------------------

  /** Frozen audio near-dup index — the audio member of the admission
    * set ([[ImageDupIndex]], [[VideoDupIndex]]): the reference
    * tracks' SORTED DISTINCT sub-fingerprint sets plus the exact
    * inverted index q136 builds, with buckets over the cap dropped
    * entirely (stop-bands, mirrored from the batch op). A probe
    * reproduces the batch pair semantics verbatim: candidates are
    * discovered through surviving buckets, the verify is the full-set
    * integer Jaccard (shared·10 ≥ τ·(|S|+|R|−shared) over the exact
    * intersection), and — the batch op's one-emission discipline —
    * the pair only counts if the bucket of its SMALLEST shared
    * element survived the cap (a hot smallest element kills the pair
    * in batch too; parity spec-asserted against a brute-force
    * mirror).
    *
    * Scale bound: unlike the image index (which holds nothing but
    * capped 16-byte hashes), this index carries the full reference
    * sets — ~one 8-byte sub-fingerprint per reference audio FRAME —
    * because the batch verify needs exact intersections. That is the
    * [[graft.streaming.StreamAggs.scrubGate]] class of bound: an
    * ADMISSION reference is a curated, bounded set (a block-list, an
    * eval suite), not the corpus. A corpus-sized reference doesn't
    * broadcast — shard the stream by sub-fingerprint band and give
    * each shard its slice of the index, or run the batch pair op. */
  case class AudioDupIndex(threshold10: Int, maxBucket: Int,
                           refSets: Array[Array[Long]],
                           buckets: scala.collection.mutable.LongMap[Array[Int]]) {
    /** true iff the arriving track's distinct sorted sub-fingerprint
      * set `fps` near-dups some reference track under the exact q136
      * bucket/cap/Jaccard semantics. Empty sets never hit (signals
      * too short to fingerprint pair with nothing in batch). */
    def hits(fps: Array[Long]): Boolean = {
      // candidate dedup is a lazily-allocated BitSet over reference
      // ids: the HashSet[Int] it replaces boxed an Integer per
      // candidate on the probe hot path, and probes that touch no
      // bucket (the common miss) allocate nothing at all
      var seen: java.util.BitSet = null
      var i = 0
      while (i < fps.length) {
        val b = buckets.getOrNull(fps(i))
        if (b != null) {
          if (seen == null) seen = new java.util.BitSet(refSets.length)
          var k = 0
          while (k < b.length) {
            val id = b(k)
            if (!seen.get(id)) {
              seen.set(id)
              if (verify(fps, refSets(id))) return true
            }
            k += 1
          }
        }
        i += 1
      }
      false
    }
    /** One candidate's verify: sorted-merge intersection (exact, like
      * the batch op's array_intersect), smallest-shared-element bucket
      * survival, integer cross-multiplied Jaccard. */
    private def verify(s: Array[Long], r: Array[Long]): Boolean = {
      var i = 0; var j = 0; var shared = 0L; var minShared = 0L
      while (i < s.length && j < r.length) {
        if (s(i) == r(j)) {
          if (shared == 0L) minShared = s(i)
          shared += 1; i += 1; j += 1
        } else if (s(i) < r(j)) i += 1
        else j += 1
      }
      // min(shared) ∈ R, so its bucket exists unless the cap dropped
      // it — in which case batch never emits this pair (it is only
      // ever emitted at its smallest shared element)
      shared > 0 && buckets.contains(minShared) &&
        shared * 10 >= threshold10 * (s.length + r.length - shared)
    }
  }

  /** Fit the frozen audio index: ONE map-only decode+fingerprint pass
    * over the reference (the full sets must come to the driver anyway
    * for the exact verify, so the bucket build and cap run driver-side
    * on the collected sets — no second decode pass).
    *
    * The cap budget is REFERENCE-SHARDED ([[fitVideoDupIndex]]'s
    * recipe): reference tracks are hash-partitioned by collected index
    * and the sub-fingerprint bucket cap applies per shard. `shards` =
    * 0 is auto, ceil(n / [[AudioShardTargetRefs]]) — audio's measured
    * knee is 10× below video/image's; at or below it that is 1, the
    * flat drop-if-over-cap rule. One semantic delta from per-shard
    * batch semantics, documented rather than hidden: the verify's
    * one-emission check (`buckets.contains(minShared)`) consults the
    * MERGED survivor map, so a candidate discovered through shard s
    * can pass on shard t's survival of its smallest shared element —
    * gate rejections are a SUPERSET of the per-shard union. For an
    * admission gate that is the safe direction: the Jaccard verify
    * itself stays exact, so every extra rejection is a genuine
    * near-dup.
    *
    * The refSets mass (the exact-verify payload, ~8 B per reference
    * FRAME) is untouched by sharding — the curated-bounded-set
    * caveat on [[AudioDupIndex]] stands; sharding lifts the bucket
    * RECALL ceiling, not the broadcast mass. */
  def fitAudioDupIndex(reference: Dataset[MediaRecord], threshold10: Int = 5,
                       maxBucket: Int = Dedup.DefaultMaxBucket,
                       shards: Int = 0): AudioDupIndex = {
    require(shards >= 0, s"shards must be >= 1 (or 0 = auto), got $shards")
    val spark = reference.sparkSession
    import spark.implicits._
    val sets: Array[Array[Long]] = reference.mapPartitions { it =>
      it.flatMap { r =>
        val fps = audioFpSet(r.payload)
        if (fps.isEmpty) None else Some(fps)
      }
    }.collect()
    val nShards = resolveShards(shards, sets.length, AudioShardTargetRefs)
    val byFp = new java.util.HashMap[Long, java.util.ArrayList[Integer]]
    sets.zipWithIndex.foreach { case (fps, idx) =>
      fps.foreach { fp =>
        byFp.computeIfAbsent(fp, _ => new java.util.ArrayList[Integer])
          .add(idx)
      }
    }
    // probe-side layout: primitive open-addressed long keys
    // (scala.collection.mutable.LongMap) — a java.util.HashMap[Long,_]
    // boxes every get() on the hot probe path (round-10 fix, shared
    // with the video index where the cost was first measured)
    val buckets = new scala.collection.mutable.LongMap[Array[Int]](
      byFp.size * 2)
    byFp.forEach { (fp, ids) =>
      // singletons stay — admission matches a stream track against
      // ONE reference track (the fitImageDupIndex argument)
      val kept = perShardCapFilter(ids, nShards, maxBucket)
      if (kept != null) buckets.update(fp, kept)
    }
    buckets.repack()
    AudioDupIndex(threshold10, maxBucket, sets, buckets)
  }

  /** Streaming audio admission against the frozen index: decode each
    * arriving payload (REAL RIFF/WAVE path), sub-fingerprint it,
    * admit unless the index reports a near-dup. STATELESS per row —
    * the [[imageAdmitStream]] shape verbatim: index ships once per
    * executor, no joins/shuffles/state/watermark; works identically
    * on a batch Dataset. Arriving near-dups of EACH OTHER both admit
    * (frozen index); compose with `StreamAggs.dedupWithinWatermark`
    * on a fingerprint key for in-stream collapse. */
  def audioAdmitStream(media: Dataset[MediaRecord],
                       index: org.apache.spark.broadcast.Broadcast[AudioDupIndex])
      : Dataset[MediaRecord] =
    media.filter((r: MediaRecord) => !index.value.hits(audioFpSet(r.payload)))

  // ---- streaming media admission: video near-dup gate --------------------

  /** Frozen video near-dup index: reference per-frame dHash
    * signatures (16 bytes per reference frame — compact by
    * construction, no full-set caveat) plus a bucket map keyed by
    * WITHIN-FRAME BAND PAIRS — the [[ImageDupIndex]] key applied per
    * frame: the C(8,2) = 28 ordered byte-band pairs of EACH FRAME
    * (16-bit values), with the frame count riding in the key so only
    * equal-length clips meet (q137's frame alignment). Over-cap
    * buckets are dropped. A probe walks the 28·nf keys of the
    * arriving clip and verifies each candidate's exact total Hamming
    * ≤ maxDist via the SAME fused walk the batch verify runs
    * ([[graft.functions.SigBandScore]].score, plain-array overload,
    * property-pinned bit-equal).
    *
    * Pigeonhole recall: ≤ maxDist bit errors across nf frames leave
    * some frame with ≤ ⌊maxDist/nf⌋ errors; that frame has ≥ 2 clean
    * bands — hence a clean shared pair key — whenever its error count
    * ≤ 6, which is guaranteed iff maxDist ≤ 7·nf − 1. With the default
    * maxDist = 12 the guarantee covers every clip of ≥ 2 frames;
    * SINGLE-frame clips are complete only to maxDist 6 (the image
    * bound — they ARE images), which this scaladoc documents rather
    * than hides: fit with maxDist ≤ 6 if single-frame clips matter.
    * Pairs, not single byte bands, because a single-band key's buckets
    * over-cap early: gatefit measured it missing 2/3 of true dups at
    * 20k references (SCALE.md). */
  case class VideoDupIndex(maxDist: Int, maxBucket: Int,
      refSigs: Array[Array[Long]],
      buckets: scala.collection.mutable.LongMap[Array[Int]]) {
    // beyond 13, even two-frame clips lose the pigeonhole guarantee
    require(maxDist <= 13,
      s"within-frame band-pair pigeonhole needs maxDist <= 7*nf-1; " +
        s"$maxDist exceeds the two-frame bound 13")
    /** true iff a clip with `nf` frames and interleaved signature
      * `sig` near-dups some reference clip. */
    def hits(nf: Int, sig: Array[Long]): Boolean = {
      if (nf < 1) return false
      // lazily-allocated BitSet dedup — same rationale as
      // AudioDupIndex.hits: a probe can walk many candidates, and a
      // HashSet[Int] would box an Integer per candidate
      var seen: java.util.BitSet = null
      var f = 0
      while (f < nf) {
        var a = 0
        while (a < 8) {
          val va = sigByteOf(sig, f * 8 + a)
          var b = a + 1
          while (b < 8) {
            val bk = buckets.getOrNull(VideoDupIndex.key(
              nf, f, a, b, va, sigByteOf(sig, f * 8 + b)))
            if (bk != null) {
              if (seen == null) seen = new java.util.BitSet(refSigs.length)
              var k = 0
              while (k < bk.length) {
                val id = bk(k)
                if (!seen.get(id)) {
                  seen.set(id)
                  // exact total Hamming via the batch verify's fused
                  // walk; a shared pair key implies a matching band
                  // exists, so no first-band check is needed
                  if ((graft.functions.SigBandScore.score(sig,
                    refSigs(id)) & 0xffffffffL) <= maxDist) return true
                }
                k += 1
              }
            }
            b += 1
          }
          a += 1
        }
        f += 1
      }
      false
    }
  }

  object VideoDupIndex {
    /** nf << 40 | (frame·28 + pairIdx(a,b)) << 16 | byte_a << 8 |
      * byte_b, a < b — frame count rides in the key (q137's
      * equal-length alignment), then the frame-local pair. */
    def key(nf: Int, f: Int, a: Int, b: Int, va: Int, vb: Int): Long = {
      val pairIdx = a * 8 - a * (a + 1) / 2 + (b - a - 1)
      (nf.toLong << 40) | ((f * 28 + pairIdx).toLong << 16) |
        (va.toLong << 8) | vb.toLong
    }

    /** The 28·nf within-frame pair keys of one clip, frame-major — the
      * fit's key enumeration (`hits` keeps its own early-exit walk). */
    def keys(nf: Int, sig: Array[Long]): Array[Long] = {
      val out = new Array[Long](28 * nf)
      var o = 0
      var f = 0
      while (f < nf) {
        var a = 0
        while (a < 8) {
          val va = sigByteOf(sig, f * 8 + a)
          var b = a + 1
          while (b < 8) {
            out(o) = key(nf, f, a, b, va, sigByteOf(sig, f * 8 + b))
            o += 1
            b += 1
          }
          a += 1
        }
        f += 1
      }
      out
    }
  }

  /** byte `j` of an interleaved per-frame signature — the plain-Scala
    * twin of the [[sigByte]] SQL fragment (band j = byte j%8 of frame
    * j/8; lo element carries bytes 0-3, hi carries 4-7). */
  private def sigByteOf(sig: Array[Long], j: Int): Int = {
    val el = sig(2 * (j / 8) + (if (j % 8 < 4) 0 else 1))
    ((el >>> ((j % 4) * 8)) & 255L).toInt
  }

  /** Fit the frozen video index: ONE map-only demux+decode+hash pass
    * (signatures must come to the driver anyway for the exact Hamming
    * verify), then a driver-side bucket build on the 28·nf pair keys
    * with a REFERENCE-SHARDED cap budget — the serving layout for
    * reference sets past the single-cap envelope. Round 11 measured
    * the index's ceiling (SCALE.md): at 2M adversarially dense refs a
    * flat 100-entry bucket cap drops ~17% of genuine near-dups
    * (bucket SURVIVAL, not index mass, is what saturates), while per
    * ≤200k refs the same cap holds ≥99.9% recall. So: hash-partition
    * the REFERENCE SET into `shards` groups (0 = auto, ceil(n /
    * [[VideoShardTargetRefs]]) — each shard back on the measured
    * ≤200k curve, and exactly 1 at or below it: the flat
    * drop-if-over-cap rule) and apply the bucket cap PER SHARD: key k
    * keeps shard s's entries iff shard s contributed ≤ maxBucket of
    * them. The cap budget then scales with the reference count while
    * staying balanced across it (a flat cap raise keeps NOTHING of a
    * key the moment one more ref crosses the line; the sharded budget
    * keeps every surviving shard slice).
    *
    * The PROBE layout is one merged bucket map, a single key walk per
    * probe — the "union of shard probes" gate collapsed into one
    * lookup (probing S separate maps would pay S misses for every key
    * that hits nowhere, the common case).
    *
    * Cost: index mass grows toward the uncapped 28·nf entries per
    * ref — at 2M refs ~90M entries, low-GBs broadcast. That is the
    * documented trade for ≥99% recall past 1M refs; size executors
    * for it, or fit shard-at-a-time (explicit `shards` + a filtered
    * reference) and gate in sequential batch stages. */
  def fitVideoDupIndex(reference: Dataset[MediaRecord], maxDist: Int = 12,
                       maxBucket: Int = Dedup.DefaultMaxBucket,
                       shards: Int = 0): VideoDupIndex = {
    require(shards >= 0, s"shards must be >= 1 (or 0 = auto), got $shards")
    val spark = reference.sparkSession
    import spark.implicits._
    val sigs: Array[(Int, Array[Long])] = reference.mapPartitions { it =>
      it.flatMap { r =>
        val (nf, sig) = clipSignature(r)
        if (nf == 0) None else Some((nf, sig))
      }
    }.collect()
    val nShards = resolveShards(shards, sigs.length, VideoShardTargetRefs)
    val byKey = new java.util.HashMap[Long, java.util.ArrayList[Integer]]
    sigs.zipWithIndex.foreach { case ((nf, sig), idx) =>
      VideoDupIndex.keys(nf, sig).foreach { k =>
        byKey.computeIfAbsent(k, _ => new java.util.ArrayList[Integer])
          .add(idx)
      }
    }
    // primitive open-addressed probe layout (round-10 fix): a boxed
    // java.util.HashMap probe allocates a fresh java.lang.Long per
    // get(); the LongMap layout removes the allocation from the hot loop
    val buckets = new scala.collection.mutable.LongMap[Array[Int]](
      byKey.size * 2)
    byKey.forEach { (k, ids) =>
      val kept = perShardCapFilter(ids, nShards, maxBucket)
      if (kept != null) buckets.update(k, kept)
    }
    buckets.repack()
    VideoDupIndex(maxDist, maxBucket, sigs.map(_._2), buckets)
  }

  /** Streaming video admission against the frozen index: demux +
    * decode each arriving payload (REAL RIFF/AVI path, raw-DIB or
    * MJPEG), signature it, admit unless the index reports a near-dup.
    * Same stateless shape as [[imageAdmitStream]]/[[audioAdmitStream]]. */
  def videoAdmitStream(media: Dataset[MediaRecord],
                       index: org.apache.spark.broadcast.Broadcast[VideoDupIndex])
      : Dataset[MediaRecord] =
    media.filter { (r: MediaRecord) =>
      val (nf, sig) = clipSignature(r)
      !index.value.hits(nf, sig)
    }

  /** Reference count each shard of a sharded VIDEO index targets —
    * the measured single-cap serving envelope (SCALE.md round 12
    * exact-oracle tables: wide video 98.8% recall at 200k refs per
    * flat 100-entry cap; sharded at this target, 99.09% at 2M).
    * AUTO shard counts are ceil(nRefs / this). */
  val VideoShardTargetRefs: Int = 200000

  /** The IMAGE shard target — half the video one, from the round-13
    * calibration: image's 21-bit pair-key space is structurally
    * bounded (mass piles into ≤1.8M keys however many refs), so the
    * video target left 2M-ref recall at 98.93%, under the ≥99% bar.
    * At 100k/shard (20 shards at 2M) the measured exact recall is
    * 99.94% for 1.32× the entry mass (40.7M vs 30.9M). */
  val ImageShardTargetRefs: Int = 100000

  /** The AUDIO shard target — an order of magnitude below the
    * video/image one, from the round-12 calibration (flat-cap exact
    * recall: 97.8% at 20k, 85.4% at 50k, 76.8% at 100k, 59.5% at
    * 200k — sub-fingerprint buckets over-cap far earlier than the
    * band-pair key spaces because hot sub-fingerprints recur across
    * a large fraction of tracks). */
  val AudioShardTargetRefs: Int = 20000

  private def resolveShards(shards: Int, nRefs: Long,
                            target: Int): Int =
    if (shards > 0) shards
    else math.max(1L, (nRefs + target - 1) / target).toInt

  /** splitmix64 of the stable ref id → shard. Deterministic per fit
    * (same refs, same shards → same index); spreads consecutive ids
    * so a near-dup family doesn't pile into one shard's cap. */
  private[operators] def shardOfId(id: Long, shards: Int): Int = {
    if (shards == 1) return 0
    var x = id + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x = x ^ (x >>> 31)
    java.lang.Long.remainderUnsigned(x, shards).toInt
  }

  /** One bucket's per-shard cap: keep id iff its shard contributed
    * ≤ maxBucket entries to this key (at shards = 1 this is exactly
    * the flat drop-if-over-cap rule). Returns null when nothing
    * survives — the bucket stays absent, same as the flat rule. */
  private def perShardCapFilter(ids: java.util.ArrayList[Integer],
                                shards: Int, maxBucket: Int): Array[Int] = {
    if (shards == 1) {
      if (ids.size > maxBucket) return null
      return Array.tabulate(ids.size)(ids.get(_).intValue())
    }
    val cnt = new Array[Int](shards)
    var i = 0
    while (i < ids.size) {
      cnt(shardOfId(ids.get(i).longValue(), shards)) += 1
      i += 1
    }
    var kept = 0
    i = 0
    while (i < ids.size) {
      if (cnt(shardOfId(ids.get(i).longValue(), shards)) <= maxBucket)
        kept += 1
      i += 1
    }
    if (kept == 0) return null
    val out = new Array[Int](kept)
    var o = 0
    i = 0
    while (i < ids.size) {
      val id = ids.get(i).intValue()
      if (cnt(shardOfId(id.toLong, shards)) <= maxBucket) {
        out(o) = id; o += 1
      }
      i += 1
    }
    out
  }

  // ---- corrupt-payload tolerance (q144) ----------------------------------

  /** The mixed-modality table with DETERMINISTIC corruption planted:
    * every 13th payload is truncated to its first 20 bytes — enough
    * to keep the container magic, not enough to decode — which fails
    * every codec path (RIFF chunk walks run off the end, ImageIO
    * returns null). The fixture for the decode-robustness ops: at
    * 100 TB corrupt payloads are a certainty, not an edge case. */
  def corruptedMediaTable(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    mixedMediaTable(documents).map { r =>
      if (r.media_id % 13 == 0) r.copy(payload = r.payload.take(20)) else r
    }
  }

  /** Decode health audit — run it BEFORE the heavy media ops: one
    * map-only pass that attempts the full per-kind decode
    * ([[decodeSignal]] — the same dispatch the real ops use) and
    * reports (media_id, kind, ok). The error policy question at
    * 100 TB ("does one corrupt file kill a 6-hour scan?") becomes a
    * COUNT on this table; quarantine = anti-join on ok = false. */
  def decodeAudit(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val ok =
          try { decodeSignal(r); true }
          catch { case scala.util.control.NonFatal(_) => false }
        (r.media_id, r.kind, ok)
      }
    }.toDF("media_id", "kind", "ok")
  }

  /** [[extractSignals]] with skip-corrupt semantics: undecodable
    * payloads drop instead of failing the job (count them via
    * [[decodeAudit]] — silent-drop-without-audit is the anti-pattern
    * this pairing exists to avoid). Parity on the decodable subset is
    * spec-asserted against the failing variant. */
  def extractSignalsRobust(media: Dataset[MediaRecord]): Dataset[MediaSignal] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        try Some(decodeSignal(r))
        catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }

  /** Cross-modality curation funnel — the media composed-pipeline
    * report (text analog: q100's curation funnel): per modality, how
    * much does near-dup dedup shrink the corpus? One row per kind
    * with total / dup-member / kept counts and an integer per-mille
    * kept ratio (no doubles — the q92 funnel discipline). Composition
    * adds no exchange beyond the three constituent closures: each
    * modality's groups table reduces to TWO counts driver-side and
    * the 3-row union is literal. */
  def mediaCurationFunnel(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val total = documents.count()
    def row(kind: String, groups: DataFrame): (String, Long, Long, Long) = {
      spark.sparkContext.setJobDescription(s"q143 funnel: $kind groups")
      val dropped = groups
        .filter(col("media_id") =!= col("group_id")).count()
      spark.sparkContext.setJobDescription(null)
      (kind, total, dropped, total - dropped)
    }
    // The three modality pipelines are INDEPENDENT jobs reduced to one
    // count each; run them from a small thread pool so each pipeline's
    // stage tail is back-filled by the next one's tasks instead of
    // idling the executors (optimization-guide §2.6 — actions were
    // only sequential because this driver code called them
    // sequentially). Job descriptions are thread-local, so each job
    // stays labeled; the assembled rows keep the fixed seq order, so
    // the output is byte-identical to the sequential spelling.
    // Measured (sf0.1, min-of-2 noop): 2.8 s sequential -> ~1.6 s.
    // Each arm runs under its own job group: if one arm fails, the
    // other two are CANCELLED (not left running detached) before the
    // failure propagates — Await on a failed Future.sequence would
    // otherwise return immediately while orphan jobs keep the
    // executors busy. The cancel also covers jobs an arm submits
    // after it, so the group ids are unique per call: a cancelled id
    // stays cancelled for the life of the SparkContext.
    val group = s"q143-${funnelCalls.incrementAndGet()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val arms = Seq[(String, () => DataFrame)](
      ("image", () => imageDedupGroups(nearDupImageTable(documents))),
      ("audio", () => audioDedupGroups(nearDupAudioTable(documents))),
      ("video", () => videoDedupGroups(nearDupVideoTable(documents))))
    val rows =
      try {
        val futures = arms.map { case (kind, mk) =>
          scala.concurrent.Future {
            spark.sparkContext.setJobGroup(s"$group-$kind",
              s"q143 funnel: $kind groups", interruptOnCancel = true)
            try row(kind, mk())
            finally spark.sparkContext.clearJobGroup()
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futures)
            .recoverWith { case e =>
              arms.foreach { case (kind, _) =>
                spark.sparkContext.cancelJobGroupAndFutureJobs(
                  s"$group-$kind") }
              scala.concurrent.Future.failed(e)
            }(scala.concurrent.ExecutionContext.global),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    rows.toDF("kind", "n_total", "n_dropped", "n_kept")
      .withColumn("permille_kept", expr("n_kept * 1000 div n_total"))
  }

  private val funnelCalls = new java.util.concurrent.atomic.AtomicLong

  /** In-stream image dedup — the composition [[imageAdmitStream]]'s
    * scaladoc points at for arriving dups of EACH OTHER (the frozen
    * index can't see them): key the watermark-bounded dedup on the
    * image's 64-bit dHash, so re-encodes and pixel-identical copies
    * collapse to the first arrival while the payload bytes never
    * become the key. This is FINGERPRINT-EXACT collapse — the media
    * analog of the text layer's `StreamAggs.nearDupDropWithinWatermark`
    * (SimHash-keyed): a near-dup whose hash differs by even one bit
    * survives, by design — catching those in-stream needs the frozen
    * gate (reference set) or the batch pair op (full tie-break).
    * State is delay × rate keys of 8 bytes each; decode runs once per
    * row, map-side. */
  def imageDedupStream(media: DataFrame, payload: Column, ts: Column,
                       watermarkDelay: String,
                       id: Column = lit(-1L)): DataFrame = {
    // `id` (default -1 = unattributed) rides into the decode error
    // message, so ONE corrupt payload in a stream names its row
    // instead of killing the query anonymously (round-10 advice fix,
    // all three modality twins)
    val hash = udf { (mediaId: Long, bytes: Array[Byte]) =>
      val (lo, hi) = dHashAny(bytes,
        if (mediaId == -1L) "stream payload" else s"media $mediaId")
      lo | (hi << 32)
    }
    graft.streaming.StreamAggs.dedupWithinWatermark(
        media.withColumn("__dh", hash(id, payload)), ts, watermarkDelay, "__dh")
      .drop("__dh")
  }

  /** In-stream audio dedup — [[imageDedupStream]]'s pattern for the
    * audio modality: key the watermark-bounded dedup on a 64-bit fold
    * of the track's sub-fingerprint sequence (plus its sample count),
    * so container re-encodes AND uniform-gain copies collapse to the
    * first arrival (gain leaves every fingerprint bit untouched —
    * exactly, in integer math — so this is strictly stronger than
    * byte-exact collapse). A near-dup whose fingerprints differ by
    * one bit survives, by design — that is [[audioAdmitStream]]'s or
    * the batch pair op's job. Decode runs once per row, map-side;
    * state is delay × rate keys of 8 bytes each. */
  def audioDedupStream(media: DataFrame, payload: Column, ts: Column,
                       watermarkDelay: String,
                       id: Column = lit(-1L)): DataFrame = {
    val hash = udf { (mediaId: Long, bytes: Array[Byte]) =>
      // attribute decode failures to the row (imageDedupStream's
      // `id` contract)
      val samples =
        try parseWav(bytes).samples
        catch {
          case e: Exception if mediaId != -1L => throw
            new IllegalArgumentException(s"media $mediaId: ${e.getMessage}", e)
        }
      var h = 1125899906842597L + samples.length
      subFingerprints(samples).foreach { case (f, fp) =>
        h = h * 31 + f
        h = h * 1099511628211L + fp
      }
      h
    }
    graft.streaming.StreamAggs.dedupWithinWatermark(
        media.withColumn("__afp", hash(id, payload)), ts, watermarkDelay, "__afp")
      .drop("__afp")
  }

  /** In-stream video dedup — the same composition for video: the key
    * is a 64-bit fold of the clip's per-frame dHash signature (plus
    * frame count and geometry), so raw-DIB re-encodes and re-muxes
    * collapse while an MJPEG re-encode of the same frames — a
    * NEAR-dup after JPEG loss, exactly like the image twin's
    * documented semantics — survives for the frozen gate or the
    * batch pair op to catch. */
  def videoDedupStream(media: DataFrame, payload: Column, ts: Column,
                       watermarkDelay: String,
                       id: Column = lit(-1L)): DataFrame = {
    val hash = udf { (mediaId: Long, bytes: Array[Byte]) =>
      // one parse: this is a dedup KEY (any stable fold works), not
      // the parity-critical signature the fit/probe/batch trio share
      // through clipSignature. mediaId rides into every decode error
      // (demux AND per-frame) so a failure names its row.
      try {
        val s = parseAvi(bytes)
        var h = 1125899906842597L + s.frames.length * 31L +
          s.width * 7L + s.height
        s.frames.foreach { f =>
          val (lo, hi) = frameDHash(s, f, mediaId)
          h = h * 1099511628211L + lo
          h = h * 1099511628211L + hi
        }
        h
      } catch {
        case e: Exception if mediaId != -1L &&
            !String.valueOf(e.getMessage).startsWith(s"media $mediaId") =>
          throw new IllegalArgumentException(
            s"media $mediaId: ${e.getMessage}", e)
      }
    }
    graft.streaming.StreamAggs.dedupWithinWatermark(
        media.withColumn("__vfp", hash(id, payload)), ts, watermarkDelay, "__vfp")
      .drop("__vfp")
  }

  // ---- driver bindings -------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q40_media_features" -> ((s, d) =>
      extractSignals(mixedMediaTable(Tables.documents(s, d))).toDF()),
    "q71_video_frames" -> ((s, d) =>
      sampleVideoFrames(videoTable(Tables.documents(s, d)), everyN = 2).toDF()),
    "q72_audio_features" -> ((s, d) =>
      extractAudioFeatures(audioTable(Tables.documents(s, d))).toDF()),
    "q133_image_dhash_pairs" -> ((s, d) =>
      imageDHashPairs(nearDupImageTable(Tables.documents(s, d)))),
    "q134_image_dedup_groups" -> ((s, d) =>
      imageDedupGroups(nearDupImageTable(Tables.documents(s, d)))),
    "q135_audio_fingerprint" -> ((s, d) =>
      audioFingerprint(nearDupAudioTable(Tables.documents(s, d)))),
    "q136_audio_dup_pairs" -> ((s, d) =>
      audioFpPairs(nearDupAudioTable(Tables.documents(s, d)))),
    "q137_video_dup_pairs" -> ((s, d) =>
      videoDHashPairs(nearDupVideoTable(Tables.documents(s, d)))),
    "q138_audio_dedup_groups" -> ((s, d) =>
      audioDedupGroups(nearDupAudioTable(Tables.documents(s, d)))),
    "q139_video_dedup_groups" -> ((s, d) =>
      videoDedupGroups(nearDupVideoTable(Tables.documents(s, d)))),
    "q140_video_containment" -> ((s, d) =>
      videoContainmentPairs(subClipVideoTable(Tables.documents(s, d)))),
    "q141_audio_containment" -> ((s, d) =>
      audioContainmentPairs(snippetAudioTable(Tables.documents(s, d)))),
    "q142_image_dedup_apply" -> ((s, d) => {
      val media = nearDupImageTable(Tables.documents(s, d))
      mediaDedupApply(media, imageDedupGroups(media))
    }),
    "q143_media_funnel" -> ((s, d) =>
      mediaCurationFunnel(Tables.documents(s, d))),
    "q144_decode_audit" -> ((s, d) =>
      decodeAudit(corruptedMediaTable(Tables.documents(s, d)))),
    "q145_image_crop_containment" -> ((s, d) =>
      imageCropContainmentPairs(cropImageTable(Tables.documents(s, d))))
  )

  /** Every payload q40 reports on is a REAL encoded container and
    * every feature comes from the decoded raster/samples, so the
    * oracle recomputes each modality's features straight from the
    * generator formulas (the q71/q72 discipline): exact integer sums,
    * one double division at the end — a codec bug anywhere in the
    * encode → demux → decode round trip breaks the hash. */
  def oracle: Map[String, String] = Map(
    "q40_media_features" -> """
      WITH m AS (SELECT doc_id AS media_id, doc_id % 3 AS k FROM documents),
      img AS (
        SELECT media_id, (media_id % 13 + 4)::INT AS w,
               (media_id % 9 + 4)::INT AS h
        FROM m WHERE k = 0),
      ipx AS (
        SELECT media_id, w, h, CAST(unnest(range(0, w)) AS INT) AS x
        FROM img),
      ipxy AS (
        SELECT media_id, w, h, x, CAST(unnest(range(0, h)) AS INT) AS y
        FROM ipx),
      irow AS (
        SELECT media_id, 'image' AS kind, w AS width, h AS height,
               CAST(w AS BIGINT) * h AS n_units,
               CAST(sum((x*7 + y*3 + media_id) % 256
                        + (x*5 + y*11 + 2*media_id) % 256
                        + (x*13 + y*17 + 3*media_id) % 256) AS DOUBLE)
                 / (3 * w * h) AS mean_signal
        FROM ipxy GROUP BY media_id, w, h),
      aud AS (
        SELECT media_id, media_id % 600 + 100 AS n FROM m WHERE k = 1),
      arow AS (
        SELECT media_id, 'audio' AS kind, 0::INT AS width, 0::INT AS height,
               n AS n_units,
               CAST(list_sum(list_transform(range(0, n),
                 t -> abs((t * (media_id % 7 + 2) + media_id) % 2048 - 1024)))
                 AS DOUBLE) / n AS mean_signal
        FROM aud),
      vid AS (
        SELECT media_id, (media_id % 11 + 4)::INT AS w,
               (media_id % 7 + 4)::INT AS h, media_id % 4 + 2 AS nf
        FROM m WHERE k = 2),
      vf AS (
        SELECT media_id, w, h, nf, CAST(unnest(range(0, nf)) AS INT) AS f
        FROM vid),
      vpx AS (
        SELECT media_id, w, h, nf, f, CAST(unnest(range(0, w)) AS INT) AS x
        FROM vf),
      vpxy AS (
        SELECT media_id, w, h, nf, f, x,
               CAST(unnest(range(0, h)) AS INT) AS y
        FROM vpx),
      vrow AS (
        SELECT media_id, 'video' AS kind, w AS width, h AS height,
               CAST(w AS BIGINT) * h * nf AS n_units,
               CAST(sum((x*7 + y*3 + media_id + f*31) % 256
                        + (x*5 + y*11 + 2*media_id + f*17) % 256
                        + (x*13 + y*17 + 3*media_id + f*7) % 256) AS DOUBLE)
                 / (3 * w * h * nf) AS mean_signal
        FROM vpxy GROUP BY media_id, w, h, nf)
      SELECT * FROM irow
      UNION ALL SELECT * FROM arow
      UNION ALL SELECT * FROM vrow""",

    /* q71: the Spark side builds a REAL AVI container per doc (raw-DIB
     * frames of the vidPx raster), demuxes it back, and decodes the
     * raster; DIB is lossless, so the oracle recomputes the sampled
     * frames' channel means straight from the pixel formula — exact
     * integer sums, one double division, bit-identical on both
     * engines. A container/raster bug anywhere in the round trip
     * breaks the hash. */
    "q71_video_frames" -> """
      WITH v AS (
        SELECT doc_id AS media_id,
               (doc_id % 11 + 4)::INT AS width,
               (doc_id % 7 + 4)::INT AS height,
               doc_id % 4 + 2 AS nf
        FROM documents),
      f AS (
        SELECT media_id, width, height,
               CAST(unnest(range(0, nf)) AS INT) AS frame_idx
        FROM v),
      px AS (
        SELECT media_id, frame_idx, width, height,
               CAST(unnest(range(0, width)) AS INT) AS x
        FROM f WHERE frame_idx % 2 = 0),
      pxy AS (
        SELECT media_id, frame_idx, width, height, x,
               CAST(unnest(range(0, height)) AS INT) AS y
        FROM px)
      SELECT media_id, frame_idx, width, height,
             CAST(sum((x*7 + y*3 + media_id + frame_idx*31) % 256) AS DOUBLE)
               / (width*height) AS mean_r,
             CAST(sum((x*5 + y*11 + 2*media_id + frame_idx*17) % 256) AS DOUBLE)
               / (width*height) AS mean_g,
             CAST(sum((x*13 + y*17 + 3*media_id + frame_idx*7) % 256) AS DOUBLE)
               / (width*height) AS mean_b
      FROM pxy
      GROUP BY media_id, frame_idx, width, height""",

    /* q72: Spark builds a REAL WAV per doc from the integer sawtooth,
     * demuxes + decodes the PCM16 samples, and aggregates; the oracle
     * recomputes the same features straight from the waveform formula
     * — exact integer sums, double division only at the end. */
    "q72_audio_features" -> """
      WITH v AS (
        SELECT doc_id AS media_id, doc_id % 600 + 100 AS n,
               8000 + (doc_id % 3) * 4000 AS sample_rate
        FROM documents),
      s AS (
        SELECT media_id, n, sample_rate,
               list_transform(range(0, n),
                 t -> (t * (media_id % 7 + 2) + media_id) % 2048 - 1024)
                 AS smp
        FROM v)
      SELECT media_id, n AS n_samples, sample_rate,
             CAST(n AS DOUBLE) / sample_rate AS duration_s,
             CAST(list_sum(list_transform(smp, x -> abs(x))) AS DOUBLE) / n
               AS mean_abs,
             list_max(list_transform(smp, x -> abs(x))) AS peak,
             len(list_filter(range(1, n),
               i -> (smp[i] >= 0) != (smp[i+1] >= 0))) AS zero_cross
      FROM s""",

    "q133_image_dhash_pairs" -> q133Sql,

    /* q135: the Spark side encodes REAL WAV containers, demuxes +
     * decodes the PCM16 back, and fingerprints the decoded samples;
     * PCM16 is lossless, so the oracle recomputes the band energies
     * and delta-sign bits straight from the waveform formulas —
     * exact integer arithmetic end to end. */
    "q135_audio_fingerprint" -> q135Sql,

    /* q136: inverted index on the exact sub-fingerprint, bucket cap,
     * first-matching (= smallest shared) subfp emission, integer
     * cross-multiplied Jaccard — the q133 pair discipline with subfp
     * values in place of hash bands. */
    "q136_audio_dup_pairs" -> q136Sql,

    /* q137: the Spark side encodes REAL raw-DIB AVI clips, demuxes +
     * decodes them back, and dHashes every decoded frame; DIB is
     * lossless, so the oracle recomputes each frame's 9×8 sampled
     * luminance grid from the pixel formulas, packs the same per-frame
     * halves, and mirrors the frame-aligned banding / bucket-cap /
     * first-matching-band / total-Hamming semantics of the Spark op
     * (the q133 discipline lifted over the frame dimension; equal
     * frame counts ride in the bucket key). */
    "q137_video_dup_pairs" -> q137Sql,

    /* q134: transitive closure of the q133 pair graph (the q47
     * recursive-CTE discipline); min reachable id = the label both
     * the driver union-find and the pointer-jumping loop converge
     * to. */
    "q134_image_dedup_groups" -> closureSql(q133Sql),

    /* q138/q139: same transitive closure over the audio / video pair
     * graphs — the modality-symmetric completion of q134. */
    "q138_audio_dedup_groups" -> closureSql(q136Sql),
    "q139_video_dedup_groups" -> closureSql(q137Sql),

    /* q140: the subclip fixture's frame hashes recomputed from the
     * (g, f)-keyed pixel formulas (DIB is lossless), each frame's two
     * halves packed into the SAME signed 64-bit value as the Spark
     * side (two's-complement reconstruction — hi << 32 would
     * overflow BIGINT), then the q136 pair discipline with
     * CONTAINMENT (min-set) in place of Jaccard. */
    "q140_video_containment" -> s"""
      WITH vid AS (
        SELECT doc_id AS media_id, doc_id // 4 AS g,
               (doc_id // 4) % 7 + 9 AS w, (doc_id // 4) % 5 + 8 AS h,
               CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 1
                               WHEN 2 THEN 3 ELSE 2 END AS fstart,
               CASE doc_id % 4 WHEN 0 THEN 6 WHEN 1 THEN 4
                               WHEN 2 THEN 3 ELSE 2 END AS flen
        FROM documents),
      gf AS (
        SELECT *, fstart + CAST(unnest(range(0, flen)) AS BIGINT) AS f
        FROM vid),
      g1 AS (
        SELECT *, CAST(unnest(range(0, 9)) AS BIGINT) AS gx FROM gf),
      g2 AS (
        SELECT *, CAST(unnest(range(0, 8)) AS BIGINT) AS gy FROM g1),
      lum AS (
        SELECT media_id, f, gx, gy,
               (sx*sx*(g % 5 + 1) + sy*3 + f*19 + g*11) % 256
             + (sx*5 + sy*sy*(g % 3 + 1) + f*23 + g*23) % 256
             + (sx*13 + sy*17 + f*29 + g*29) % 256 AS lv
        FROM (SELECT media_id, g, f, gx, gy,
                     gx*w//9 AS sx, gy*h//8 AS sy FROM g2) t),
      bits AS (
        SELECT media_id, f, gx, gy,
               CASE WHEN lead(lv) OVER (PARTITION BY media_id, f, gy
                                        ORDER BY gx) > lv
                    THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        FROM lum),
      hashes AS (
        SELECT media_id, f,
               SUM(CASE WHEN gy < 4
                        THEN bit * (1::BIGINT << (gy*8 + gx))
                        ELSE 0 END)::BIGINT AS lo,
               SUM(CASE WHEN gy >= 4
                        THEN bit * (1::BIGINT << ((gy-4)*8 + gx))
                        ELSE 0 END)::BIGINT AS hi
        FROM bits WHERE gx < 8 GROUP BY media_id, f),
      hset AS (
        SELECT media_id, list_sort(list_distinct(list(
                 lo + (CASE WHEN hi >= 2147483648 THEN hi - 4294967296
                            ELSE hi END) * 4294967296))) AS hs
        FROM hashes GROUP BY media_id),
      inv AS (SELECT media_id, hs, unnest(hs) AS h FROM hset),
      sz AS (SELECT h, count(*) AS cnt FROM inv GROUP BY h),
      cand AS (
        SELECT x.h, x.media_id AS a, y.media_id AS b,
               x.hs AS ha, y.hs AS hb
        FROM inv x JOIN inv y ON x.h = y.h AND x.media_id < y.media_id
        JOIN sz ON sz.h = x.h
         AND sz.cnt BETWEEN 2 AND ${Dedup.DefaultMaxBucket}),
      scored AS (
        SELECT h, a, b,
               len(list_intersect(ha, hb))::BIGINT AS n_shared,
               len(ha)::BIGINT AS n_a, len(hb)::BIGINT AS n_b,
               list_min(list_intersect(ha, hb)) AS mn
        FROM cand)
      SELECT a, b, n_shared, n_a, n_b FROM scored
      WHERE h = mn AND n_shared * 10 >= 8 * least(n_a, n_b)""",

    /* q141: the snippet fixture's sub-fingerprints recomputed from
     * the base waveform formula over ABSOLUTE sample indices (hop
     * alignment is what makes snippet frames coincide with base
     * frames), then the q140 containment discipline over subfp
     * sets. */
    "q141_audio_containment" -> s"""
      WITH aud AS (
        SELECT doc_id AS media_id, doc_id // 4 AS g, doc_id % 4 AS m
        FROM documents),
      dims0 AS (
        SELECT media_id, g, m, g % 300 + 396 AS n,
               (g % 300 + 396) // 66 AS nh
        FROM aud),
      dims AS (
        SELECT media_id, g,
               CASE m WHEN 0 THEN 0 WHEN 1 THEN 66
                      WHEN 2 THEN 132 ELSE (nh - 4) * 66 END AS s0,
               CASE m WHEN 0 THEN n WHEN 1 THEN n - 66
                      WHEN 2 THEN (nh - 3) * 66 ELSE 264 END AS len
        FROM dims0),
      smp AS (
        SELECT media_id,
               (len - 132) // 66 + 1 AS nf,
               list_transform(range(s0, s0 + len), t ->
                 (t*t*(g%5+2) + t*(g%7+3) + g*13) % 1024 - 512) AS s
        FROM dims),
      frames AS (
        SELECT media_id, s, CAST(unnest(range(0, nf)) AS BIGINT) AS f
        FROM smp),
      fbands AS (
        SELECT media_id, f, CAST(unnest(range(0, 33)) AS BIGINT) AS b, s
        FROM frames),
      e AS (
        SELECT media_id, f, b,
               s[f*66 + b*4 + 1]::BIGINT * s[f*66 + b*4 + 1]
             + s[f*66 + b*4 + 2]::BIGINT * s[f*66 + b*4 + 2]
             + s[f*66 + b*4 + 3]::BIGINT * s[f*66 + b*4 + 3]
             + s[f*66 + b*4 + 4]::BIGINT * s[f*66 + b*4 + 4] AS e
        FROM fbands),
      d AS (
        SELECT media_id, f, b,
               e - lead(e) OVER (PARTITION BY media_id, f ORDER BY b) AS d
        FROM e),
      fp AS (
        SELECT media_id, frame_idx,
               SUM(bit * (1::BIGINT << b))::BIGINT AS subfp
        FROM (
          SELECT cur.media_id, cur.f AS frame_idx, cur.b AS b,
                 CASE WHEN cur.d - prev.d > 0
                      THEN 1::BIGINT ELSE 0::BIGINT END AS bit
          FROM d cur JOIN d prev
            ON prev.media_id = cur.media_id AND prev.f = cur.f - 1
           AND prev.b = cur.b
          WHERE cur.b < 32 AND cur.f >= 1) bits
        GROUP BY media_id, frame_idx),
      sets AS (
        SELECT media_id, list_sort(list_distinct(list(subfp))) AS fps
        FROM fp GROUP BY media_id),
      inv AS (
        SELECT media_id, fps, unnest(fps) AS subfp FROM sets),
      sz AS (SELECT subfp, count(*) AS cnt FROM inv GROUP BY subfp),
      cand AS (
        SELECT x.subfp, x.media_id AS a, y.media_id AS b,
               x.fps AS fa, y.fps AS fb
        FROM inv x JOIN inv y
          ON x.subfp = y.subfp AND x.media_id < y.media_id
        JOIN sz ON sz.subfp = x.subfp
         AND sz.cnt BETWEEN 2 AND ${Dedup.DefaultMaxBucket}),
      scored AS (
        SELECT subfp, a, b,
               len(list_intersect(fa, fb))::BIGINT AS n_shared,
               len(fa)::BIGINT AS n_a, len(fb)::BIGINT AS n_b,
               list_min(list_intersect(fa, fb)) AS mn
        FROM cand)
      SELECT a, b, n_shared, n_a, n_b
      FROM scored
      WHERE subfp = mn
        AND n_shared * 10 >= 8 * least(n_a, n_b)""",

    /* q142: q134's closure, applied — survivors are every image that
     * is not a non-label member of a duplicate component (the min-id
     * label IS the keeper); metadata recomputed from the fixture
     * formulas. */
    "q142_image_dedup_apply" -> s"""
      WITH RECURSIVE pairs AS (SELECT a, b FROM ($q133Sql) t),
      und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
      reach(node, r) AS (
        SELECT DISTINCT a AS node, a AS r FROM und
        UNION
        SELECT u.a AS node, reach.r FROM und u JOIN reach ON u.b = reach.node
      ),
      labels AS (
        SELECT node AS media_id, min(r) AS group_id FROM reach GROUP BY node)
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS kind,
             CAST((doc_id // 4) % 7 + 16 AS INT) AS width,
             CAST((doc_id // 4) % 5 + 12 AS INT) AS height
      FROM documents
      WHERE doc_id NOT IN (
        SELECT media_id FROM labels WHERE media_id != group_id)""",

    /* q143: the three modality closures' drop counts assembled into
     * one per-kind funnel row — integer per-mille, no doubles. */
    "q143_media_funnel" -> s"""
      WITH tot AS (SELECT count(*) AS n FROM documents),
      ${Seq("image" -> q133Sql, "audio" -> q136Sql, "video" -> q137Sql)
        .map { case (kind, sql) => s"""
      ${kind}_drop AS (
        WITH RECURSIVE pairs AS (SELECT a, b FROM ($sql) t),
        und AS (SELECT a, b FROM pairs
                UNION SELECT b AS a, a AS b FROM pairs),
        reach(node, r) AS (
          SELECT DISTINCT a AS node, a AS r FROM und
          UNION
          SELECT u.a AS node, reach.r FROM und u
          JOIN reach ON u.b = reach.node)
        SELECT count(*) AS d FROM (
          SELECT node FROM reach GROUP BY node
          HAVING node != min(r)) x)"""
        }.mkString(",")}
      SELECT kind, n AS n_total, d AS n_dropped, n - d AS n_kept,
             (n - d) * 1000 // n AS permille_kept
      FROM tot, (
        SELECT 'image' AS kind, d FROM image_drop
        UNION ALL SELECT 'audio', d FROM audio_drop
        UNION ALL SELECT 'video', d FROM video_drop) f""",

    /* q144: the corruption plant is deterministic (every 13th payload
     * truncated), so the decode verdict is a pure id predicate; kind
     * follows mixedMediaTable's doc_id%3 dispatch. A decoder that
     * silently accepted a truncated container (or failed on a valid
     * one) breaks the hash. */
    "q144_decode_audit" -> """
      SELECT doc_id AS media_id,
             CASE doc_id % 3 WHEN 0 THEN 'image'
                             WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             doc_id % 13 != 0 AS ok
      FROM documents""",

    /* q145: the crop fixture's tile hashes recomputed from the
     * (g, tile, local)-keyed pixel formulas — the 18x16 tile makes
     * the 9x8 grid sample exactly every second local pixel, so the
     * luminance recomputation is residue-free integer math — then
     * the q140 containment discipline over tile-hash sets. */
    "q145_image_crop_containment" -> s"""
      WITH img AS (
        SELECT doc_id AS media_id, doc_id // 4 AS g, doc_id % 4 AS m
        FROM documents),
      crop AS (
        SELECT media_id, g,
               CASE m WHEN 0 THEN 0 WHEN 1 THEN 0 WHEN 2 THEN 2 ELSE 1
               END AS tx0,
               CASE m WHEN 0 THEN 0 WHEN 1 THEN 0 WHEN 2 THEN 1 ELSE 2
               END AS ty0,
               CASE m WHEN 0 THEN 4 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 2
               END AS ntx,
               CASE m WHEN 0 THEN 3 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 1
               END AS nty
        FROM img),
      t1 AS (
        SELECT media_id, g, ty0, nty,
               tx0 + CAST(unnest(range(0, ntx)) AS BIGINT) AS tx
        FROM crop),
      t2 AS (
        SELECT media_id, g, tx,
               ty0 + CAST(unnest(range(0, nty)) AS BIGINT) AS ty
        FROM t1),
      g1 AS (
        SELECT *, CAST(unnest(range(0, 9)) AS BIGINT) AS gx FROM t2),
      g2 AS (
        SELECT *, CAST(unnest(range(0, 8)) AS BIGINT) AS gy FROM g1),
      lum AS (
        SELECT media_id, tx, ty, gx, gy,
               (lx*lx*(g % 5 + 1) + ly*3 + tx*31 + ty*37 + g*11) % 256
             + (lx*5 + ly*ly*(g % 3 + 1) + tx*41 + ty*43 + g*23) % 256
             + (lx*13 + ly*17 + tx*47 + ty*53 + g*29) % 256 AS lv
        FROM (SELECT media_id, g, tx, ty, gx, gy,
                     gx*2 AS lx, gy*2 AS ly FROM g2) t),
      bits AS (
        SELECT media_id, tx, ty, gx, gy,
               CASE WHEN lead(lv) OVER (PARTITION BY media_id, tx, ty, gy
                                        ORDER BY gx) > lv
                    THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        FROM lum),
      hashes AS (
        SELECT media_id, tx, ty,
               SUM(CASE WHEN gy < 4
                        THEN bit * (1::BIGINT << (gy*8 + gx))
                        ELSE 0 END)::BIGINT AS lo,
               SUM(CASE WHEN gy >= 4
                        THEN bit * (1::BIGINT << ((gy-4)*8 + gx))
                        ELSE 0 END)::BIGINT AS hi
        FROM bits WHERE gx < 8 GROUP BY media_id, tx, ty),
      hset AS (
        SELECT media_id, list_sort(list_distinct(list(
                 lo + (CASE WHEN hi >= 2147483648 THEN hi - 4294967296
                            ELSE hi END) * 4294967296))) AS hs
        FROM hashes GROUP BY media_id),
      inv AS (SELECT media_id, hs, unnest(hs) AS h FROM hset),
      sz AS (SELECT h, count(*) AS cnt FROM inv GROUP BY h),
      cand AS (
        SELECT x.h, x.media_id AS a, y.media_id AS b,
               x.hs AS ha, y.hs AS hb
        FROM inv x JOIN inv y ON x.h = y.h AND x.media_id < y.media_id
        JOIN sz ON sz.h = x.h
         AND sz.cnt BETWEEN 2 AND ${Dedup.DefaultMaxBucket}),
      scored AS (
        SELECT h, a, b,
               len(list_intersect(ha, hb))::BIGINT AS n_shared,
               len(ha)::BIGINT AS n_a, len(hb)::BIGINT AS n_b,
               list_min(list_intersect(ha, hb)) AS mn
        FROM cand)
      SELECT a, b, n_shared, n_a, n_b FROM scored
      WHERE h = mn AND n_shared * 10 >= 8 * least(n_a, n_b)"""
  )

  /** Transitive closure of an (a, b) pair-query result into
    * (media_id, group_id = min reachable id) — the q47 recursive-CTE
    * discipline; the label both the driver union-find and the
    * pointer-jumping loop converge to. */
  private def closureSql(pairSql: String): String = s"""
      WITH RECURSIVE pairs AS (SELECT a, b FROM ($pairSql) t),
      und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
      reach(node, r) AS (
        SELECT DISTINCT a AS node, a AS r FROM und
        UNION
        SELECT u.a AS node, reach.r FROM und u JOIN reach ON u.b = reach.node
      )
      SELECT node AS media_id, min(r) AS group_id FROM reach GROUP BY node"""

  /* The Spark side of q133 encodes REAL PNG/BMP rasters, decodes them
   * back through ImageIO, and dHashes the decoded pixels; both codecs
   * are lossless, so the oracle recomputes the 9×8 sampled luminance
   * grid straight from the pixel formulas (exact integer arithmetic
   * end to end), packs the same two 32-bit halves, and mirrors the
   * banding/bucket-cap/first-matching-band semantics of the Spark op
   * (the q28 SimHash discipline). */
  private lazy val q136Sql: String = s"""
      WITH fp AS ($q135Sql),
      sets AS (
        SELECT media_id, list_sort(list_distinct(list(subfp))) AS fps
        FROM fp GROUP BY media_id),
      inv AS (
        SELECT media_id, fps, unnest(fps) AS subfp FROM sets),
      sz AS (SELECT subfp, count(*) AS cnt FROM inv GROUP BY subfp),
      cand AS (
        SELECT x.subfp, x.media_id AS a, y.media_id AS b,
               x.fps AS fa, y.fps AS fb
        FROM inv x JOIN inv y
          ON x.subfp = y.subfp AND x.media_id < y.media_id
        JOIN sz ON sz.subfp = x.subfp
         AND sz.cnt BETWEEN 2 AND ${Dedup.DefaultMaxBucket}),
      scored AS (
        SELECT subfp, a, b,
               len(list_intersect(fa, fb))::BIGINT AS n_shared,
               len(fa)::BIGINT AS n_a, len(fb)::BIGINT AS n_b,
               list_min(list_intersect(fa, fb)) AS mn
        FROM cand)
      SELECT a, b, n_shared, n_a, n_b
      FROM scored
      WHERE subfp = mn
        AND n_shared * 10 >= 5 * (n_a + n_b - n_shared)"""

  private lazy val q137Sql: String = s"""
      WITH vid AS (
        SELECT doc_id AS media_id, doc_id // 4 AS g, doc_id % 4 AS m,
               (doc_id // 4) % 7 + 9 AS w, (doc_id // 4) % 5 + 8 AS h,
               (doc_id // 4) % 3 + 3 AS nf
        FROM documents),
      gf AS (
        SELECT *, CAST(unnest(range(0, nf)) AS BIGINT) AS f FROM vid),
      g1 AS (
        SELECT *, CAST(unnest(range(0, 9)) AS BIGINT) AS gx FROM gf),
      g2 AS (
        SELECT *, CAST(unnest(range(0, 8)) AS BIGINT) AS gy FROM g1),
      lum AS (
        SELECT media_id, nf, f, gx, gy,
               (sx*sx*(g % 5 + 1) + sy*3 + f*19 + g*11 + m) % 256
             + (sx*5 + sy*sy*(g % 3 + 1) + f*23 + g*23 + m) % 256
             + (sx*13 + sy*17 + f*29 + g*29 + m) % 256 AS lv
        FROM (SELECT media_id, g, m, nf, f, gx, gy,
                     gx*w//9 AS sx, gy*h//8 AS sy FROM g2) t),
      bits AS (
        SELECT media_id, nf, f, gx, gy,
               CASE WHEN lead(lv) OVER (PARTITION BY media_id, f, gy
                                        ORDER BY gx) > lv
                    THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        FROM lum),
      hashes AS (
        SELECT media_id, nf, f,
               SUM(CASE WHEN gy < 4
                        THEN bit * (1::BIGINT << (gy*8 + gx))
                        ELSE 0 END)::BIGINT AS lo,
               SUM(CASE WHEN gy >= 4
                        THEN bit * (1::BIGINT << ((gy-4)*8 + gx))
                        ELSE 0 END)::BIGINT AS hi
        FROM bits WHERE gx < 8 GROUP BY media_id, nf, f),
      sig AS (
        SELECT media_id, nf, list(lo ORDER BY f) AS los,
               list(hi ORDER BY f) AS his
        FROM hashes GROUP BY media_id, nf),
      banded0 AS (
        SELECT media_id, nf, los, his,
               CAST(unnest(range(0, nf*8)) AS BIGINT) AS j
        FROM sig),
      banded AS (
        SELECT media_id, nf, los, his, j,
               CASE WHEN j % 8 < 4
                    THEN (los[(j // 8) + 1] >> ((j % 8) * 8)) & 255
                    ELSE (his[(j // 8) + 1] >> ((j % 8 - 4) * 8)) & 255
               END AS bv
        FROM banded0),
      sizes AS (
        SELECT nf, j, bv, count(*) AS n FROM banded GROUP BY 1, 2, 3),
      pairs AS (
        SELECT x.media_id AS a, y.media_id AS b, x.nf AS nf,
               x.los AS alos, x.his AS ahis,
               y.los AS blos, y.his AS bhis, x.j AS j, z.n AS n
        FROM banded x JOIN banded y
          ON x.nf = y.nf AND x.j = y.j AND x.bv = y.bv
         AND x.media_id < y.media_id
        JOIN sizes z ON z.nf = x.nf AND z.j = x.j AND z.bv = x.bv),
      first AS (
        SELECT a, b, nf, alos, ahis, blos, bhis, n,
               row_number() OVER (PARTITION BY a, b ORDER BY j) AS rn
        FROM pairs),
      scored AS (
        SELECT a, b, n, rn,
               list_sum(list_transform(range(0, nf), i ->
                 bit_count(xor(alos[i+1], blos[i+1]))
               + bit_count(xor(ahis[i+1], bhis[i+1]))))::BIGINT AS hamming
        FROM first)
      SELECT a, b, hamming FROM scored
      WHERE rn = 1 AND n <= ${Dedup.DefaultMaxBucket} AND hamming <= 12"""

  /* The q135 fingerprint recomputation: the near-dup waveform
   * formulas (base sawtooth × gain (m+2) + sparse ±4 noise), 4-sample
   * band energies as exact BIGINT sums of squares, Haitsma–Kalker
   * delta-sign bits, packed into one BIGINT per frame transition.
   * All operands stay non-negative before each %, so DuckDB's % and
   * Scala's floorMod agree. */
  private lazy val q135Sql: String = s"""
      WITH aud AS (
        SELECT doc_id AS media_id, doc_id // 4 AS g, doc_id % 4 AS m
        FROM documents),
      dims AS (
        SELECT media_id, g, m, g % 300 + 264 AS n,
               (g % 300 + 264 - 132) // 66 + 1 AS nf
        FROM aud),
      smp AS (
        SELECT media_id, nf,
               list_transform(range(0, n), t ->
                 ((t*t*(g%5+2) + t*(g%7+3) + g*13) % 1024 - 512) * (m+2)
                 + CASE WHEN (t + g + m) % 37 = 0
                        THEN (g + t*m) % 9 - 4 ELSE 0 END) AS s
        FROM dims),
      frames AS (
        SELECT media_id, s, CAST(unnest(range(0, nf)) AS BIGINT) AS f
        FROM smp),
      fbands AS (
        SELECT media_id, f, CAST(unnest(range(0, 33)) AS BIGINT) AS b, s
        FROM frames),
      e AS (
        SELECT media_id, f, b,
               s[f*66 + b*4 + 1]::BIGINT * s[f*66 + b*4 + 1]
             + s[f*66 + b*4 + 2]::BIGINT * s[f*66 + b*4 + 2]
             + s[f*66 + b*4 + 3]::BIGINT * s[f*66 + b*4 + 3]
             + s[f*66 + b*4 + 4]::BIGINT * s[f*66 + b*4 + 4] AS e
        FROM fbands),
      d AS (
        SELECT media_id, f, b,
               e - lead(e) OVER (PARTITION BY media_id, f ORDER BY b) AS d
        FROM e),
      bits AS (
        SELECT cur.media_id, cur.f AS frame_idx, cur.b AS b,
               CASE WHEN cur.d - prev.d > 0
                    THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        FROM d cur JOIN d prev
          ON prev.media_id = cur.media_id AND prev.f = cur.f - 1
         AND prev.b = cur.b
        WHERE cur.b < 32 AND cur.f >= 1)
      SELECT media_id, frame_idx,
             SUM(bit * (1::BIGINT << b))::BIGINT AS subfp
      FROM bits GROUP BY media_id, frame_idx"""

  private lazy val q133Sql: String = s"""
      WITH img AS (
        SELECT doc_id AS media_id, doc_id // 4 AS grp, doc_id % 4 AS m,
               (doc_id // 4) % 7 + 16 AS w, (doc_id // 4) % 5 + 12 AS h
        FROM documents),
      g1 AS (
        SELECT media_id, grp, m, w, h,
               CAST(unnest(range(0, 9)) AS BIGINT) AS gx
        FROM img),
      g2 AS (
        SELECT media_id, grp, m, w, h, gx,
               CAST(unnest(range(0, 8)) AS BIGINT) AS gy
        FROM g1),
      lum AS (
        SELECT media_id, gx, gy,
               (sx*sx*(grp % 5 + 1) + sy*3 + grp*11 + m) % 256
             + (sx*5 + sy*sy*(grp % 3 + 1) + grp*23 + m) % 256
             + (sx*13 + sy*17 + grp*29 + m) % 256 AS lv
        FROM (SELECT media_id, grp, m, gx, gy,
                     gx*w//9 AS sx, gy*h//8 AS sy FROM g2) t),
      bits AS (
        SELECT media_id, gx, gy,
               CASE WHEN lead(lv) OVER (PARTITION BY media_id, gy
                                        ORDER BY gx) > lv
                    THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        FROM lum),
      hashes AS (
        SELECT media_id,
               SUM(CASE WHEN gy < 4
                        THEN bit * (1::BIGINT << (gy*8 + gx))
                        ELSE 0 END)::BIGINT AS hash_lo,
               SUM(CASE WHEN gy >= 4
                        THEN bit * (1::BIGINT << ((gy-4)*8 + gx))
                        ELSE 0 END)::BIGINT AS hash_hi
        FROM bits WHERE gx < 8 GROUP BY media_id),
      banded AS (
        SELECT media_id, hash_lo, hash_hi, k AS band_idx,
               CASE WHEN k < 4 THEN (hash_lo >> (k*8)) & 255
                    ELSE (hash_hi >> ((k-4)*8)) & 255 END AS band_val
        FROM hashes CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS k)),
      sizes AS (
        SELECT band_idx, band_val, count(*) AS n
        FROM banded GROUP BY 1, 2),
      pairs AS (
        SELECT x.media_id AS a, y.media_id AS b,
               xor(x.hash_lo, y.hash_lo) AS xlo,
               xor(x.hash_hi, y.hash_hi) AS xhi,
               x.band_idx AS j, z.n AS n
        FROM banded x JOIN banded y
          ON x.band_idx = y.band_idx AND x.band_val = y.band_val
         AND x.media_id < y.media_id
        JOIN sizes z
          ON z.band_idx = x.band_idx AND z.band_val = x.band_val),
      -- a pair is emitted iff its LOWEST matching band's bucket
      -- survived the cap (first-matching-band ∘ bucket-size filter)
      first AS (
        SELECT a, b, xlo, xhi, n,
               row_number() OVER (PARTITION BY a, b ORDER BY j) AS rn
        FROM pairs)
      SELECT a, b, bit_count(xlo) + bit_count(xhi) AS hamming
      FROM first
      WHERE rn = 1 AND n <= ${Dedup.DefaultMaxBucket}
        AND bit_count(xlo) + bit_count(xhi) <= 6"""
}
