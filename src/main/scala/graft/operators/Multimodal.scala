package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Portable.P
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Multimodal columns: image/audio/video as opaque `binary` columns with
  * typed metadata, plus decode / feature-extract / frame-sample plumbing.
  *
  * ALL THREE modalities decode for REAL through in-JDK decoders — no
  * stub, no external jars:
  *  - IMAGE: `imageTable` builds genuine 24-bit BMP files (hand-rolled
  *    header + bottom-up BGR pixel rows) and `BmpCodec` decodes them with
  *    `javax.imageio.ImageIO`.
  *  - AUDIO: `audioTable` builds canonical RIFF/WAVE files (PCM16LE mono
  *    8 kHz) and `WavCodec` decodes them with
  *    `javax.sound.sampled.AudioSystem`, assembling samples per the
  *    decoder-reported format.
  *  - VIDEO: `videoTable` builds RIFF/AVI containers (`hdrl`/`strl`/
  *    `movi`, uncompressed DIB frames in `00db` chunks) and `AviCodec`
  *    parses the chunk tree and decodes each frame through the ImageIO
  *    BMP reader.
  * Pixel/sample payloads derive deterministically from the document
  * text, and every oracle recomputes the expected values from the same
  * derivation — so a bug anywhere in an encode→decode round trip
  * (header layout, chunk sizes, row order, padding, channel order,
  * endianness) breaks the hash compare.
  *
  * The plumbing around the codecs — the binary schema, the batched
  * `mapPartitions` shape (the Scala analog of a vectorized/Pandas UDF:
  * one iterator per partition, amortized setup, no per-row driver
  * involvement), the explode of sampled frames, and the partitioning — is
  * what matters at 100 TB: media bytes stay in executors, metadata flows
  * as narrow typed columns, and the expensive decode is a map-side
  * single pass. A production deployment swaps these containers for
  * JPEG/MP3/MP4 codec libraries; signatures and batch shape stay
  * identical.
  *
  * The media table is derived deterministically from `documents` (the
  * fixtures ship no binary table): content = UTF-8 bytes of `text` (raw
  * byte-walk ops: resize/frames/phash) or a real BMP built from them
  * (decode ops), media_type = doc_id % 3 -> image|audio|video.
  */
object Multimodal {

  /** Raster-dimension cap for header sanity gates: a container header
    * claiming dimensions beyond this is treated as corrupt BEFORE any
    * decoder allocation happens (the decompression-bomb guard). Far
    * above any fixture media; a production deployment sizes it to its
    * media policy. */
  private[operators] val MaxDim = 8192

  /** Pixel budget per INPUT byte for compressed containers (BMP RLE /
    * AVI compressed streams), where the raster-fits-buffer bound cannot
    * apply: RLE8's densest encoding is a 2-byte run of 255 pixels
    * (~127.5 px/byte), so 128 admits every real container while a
    * header claiming MaxDim x MaxDim (67 M pixels) from a KB-sized body
    * fails the gate BEFORE the decoder sizes a raster from the lie — an
    * OutOfMemoryError from a ~268 MB allocation is FATAL and would
    * escape the NonFatal total-decode wrappers. */
  private[operators] val MaxCompressedPixelsPerByte = 128L

  /** Absolute decoded-pixel ceiling for COMPRESSED containers, ANDed
    * with the per-byte ratio gate above: the ratio gate alone still
    * lets a body ≥ ~525 KB claim MaxDim × MaxDim (67 M px), and
    * ImageIO's decode raster for that claim is a ~268 MB transient
    * allocation per image/frame — up to ~512× input amplification,
    * whose OutOfMemoryError is FATAL and escapes the NonFatal
    * total-decode wrappers. 16 M pixels bounds the compressed branch's
    * raster at ~64 MB per task. Uncompressed branches are untouched —
    * raster-fits-buffer already bounds them at ~4× input. A production
    * deployment sizes this to its media policy alongside [[MaxDim]]. */
  private[operators] val MaxCompressedPixels = 16L << 20

  /** ONE compressed-container bomb gate for both container families
    * (standalone BMP and per-AVI-frame): declared pixels bounded by
    * what the body bytes could really expand to AND by the absolute
    * decode-raster budget. */
  private[operators] def checkCompressedPixels(w: Int, h: Int,
      bodyLen: Int, what: String, docId: Long): Unit = {
    require(w.toLong * h <= bodyLen.toLong * MaxCompressedPixelsPerByte,
      s"$what declared pixels exceed any real compression of $bodyLen bytes ($w x $h) for doc $docId")
    require(w.toLong * h <= MaxCompressedPixels,
      s"$what declared pixels exceed the compressed decode budget ($w x $h) for doc $docId")
  }

  /** Typed row for the media table. */
  case class MediaRow(doc_id: Long, media_type: String, content: Array[Byte])

  /** Decoded metadata produced by a codec kernel (the kernels VALIDATE
    * loudly — header gates, chunk bounds, dimension caps — and throw on
    * corrupt input; totality lives in the operator wrappers below). */
  case class MediaMeta(
      doc_id: Long, media_type: String, byte_len: Int,
      width: Int, height: Int, duration_ms: Long, checksum: Long)

  /** [[decodeAll]]'s row: metadata plus the decode verdict. On a real
    * crawl corpus some fraction of fetched media is ALWAYS truncated or
    * lying about itself — a corrupt container flags (decode_ok = 0,
    * zeroed fields, checksum -1) instead of killing the query. */
  case class MediaMetaV(
      doc_id: Long, media_type: String, byte_len: Int,
      width: Int, height: Int, duration_ms: Long, checksum: Long,
      decode_ok: Int)

  /** Per-media fixed-width feature vector (16-bin byte histogram) plus
    * the decode verdict (corrupt container -> zero vector, flag 0; the
    * kernels only ever construct succeeded rows, so the default is 1). */
  case class MediaFeatures(doc_id: Long, features: Array[Double],
      decode_ok: Int = 1)

  /** Sampled frame: offset + a slice of bytes. */
  case class Frame(doc_id: Long, frame_no: Int, offset: Int, frame_bytes: Array[Byte])

  /** One decoded pixel's R, G, B channel values folded into `acc`
    * (polynomial base 31 mod P) — the pixel checksum step every codec
    * and the oracles' byte replays share. */
  private def mixRgb(acc: Long, rgb: Int): Long = {
    val r = (acc * 31 + ((rgb >> 16) & 0xff)) % P
    val g = (r * 31 + ((rgb >> 8) & 0xff)) % P
    (g * 31 + (rgb & 0xff)) % P
  }

  /** [[mixRgb]] over every pixel of `img`, row-major from `acc`. */
  private def foldRgb(acc: Long, img: java.awt.image.BufferedImage): Long = {
    var a = acc
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) { a = mixRgb(a, img.getRGB(x, y)); x += 1 }
      y += 1
    }
    a
  }

  /** Adds `img`'s R, G, B channel values to the 16-bin (v / 16) `hist`. */
  private def histRgb(hist: Array[Double], img: java.awt.image.BufferedImage): Unit = {
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        hist(((rgb >> 16) & 0xff) / 16) += 1.0
        hist(((rgb >> 8) & 0xff) / 16) += 1.0
        hist((rgb & 0xff) / 16) += 1.0
        x += 1
      }
      y += 1
    }
  }

  /** REAL image codec: hand-rolled 24-bit BMP encoder + `javax.imageio`
    * decoder (both in-JDK). Pixel channel values are a deterministic
    * function of the source text bytes — value at flat index
    * k = (y*w + x)*3 + c (row-major top-down, channels R,G,B) is
    * byte[k mod len] — which the DuckDB oracle replays independently, so
    * the decoded width/height/pixel checksum verify the full container
    * round trip, not just the arithmetic. */
  object BmpCodec {
    // ImageIO.read(InputStream) defaults to a DISK-cached
    // ImageInputStream (useCache = true): every decode writes a temp
    // file, so decode wall time couples to the box's disk/page-cache
    // ambient — the round-12/13 "bimodal under full-registry JVM
    // ambient" signature (same query, same plan, same JIT code-cache
    // occupancy, 1.1 s or 3.2 s depending on what the preceding 650
    // query executions left on disk). The containers here are KBs and
    // already in memory; cache them in memory. JVM-global, idempotent,
    // runs once per executor JVM at codec class-load.
    javax.imageio.ImageIO.setUseCache(false)

    /** Deterministic image dimensions from doc_id (4..16 x 4..14). */
    def dims(docId: Long): (Int, Int) =
      ((4 + docId % 13).toInt, (4 + (docId / 13) % 11).toInt)

    /** Channel value source: source byte at k mod len (0 when empty). */
    def pixelFn(text: Array[Byte]): Int => Int =
      k => if (text.isEmpty) 0 else text(k % text.length) & 0xff

    /** 24bpp BMP: 54-byte header, bottom-up rows, BGR, 4-byte row pad. */
    def encodeBmp(w: Int, h: Int, v: Int => Int): Array[Byte] = {
      val rowBytes = w * 3
      val pad = (4 - rowBytes % 4) % 4
      val imageSize = (rowBytes + pad) * h
      val b = java.nio.ByteBuffer.allocate(54 + imageSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(54 + imageSize)
        .putInt(0).putInt(54)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .putInt(0).putInt(imageSize).putInt(2835).putInt(2835)
        .putInt(0).putInt(0)
      var y = h - 1 // bottom row first
      while (y >= 0) {
        var x = 0
        while (x < w) {
          val k = (y * w + x) * 3
          b.put(v(k + 2).toByte).put(v(k + 1).toByte).put(v(k).toByte)
          x += 1
        }
        var p = 0
        while (p < pad) { b.put(0.toByte); p += 1 }
        y -= 1
      }
      b.array()
    }

    /** Header sanity gate BEFORE ImageIO sees the bytes: a lying header
      * must fail here, loudly and cheaply, so the total-decode wrappers
      * ([[Multimodal.decodeAll]] etc.) can flag the row — and so a
      * header claiming absurd dimensions can never reach the decoder's
      * raster allocation (the classic decompression-bomb shape). For
      * the uncompressed case the declared raster must actually be
      * present in the buffer, which bounds allocation by input size. */
    private[operators] def checkBmpHeader(content: Array[Byte], docId: Long): Unit = {
      require(content.length >= 54, s"truncated BMP header for doc $docId")
      require(content(0) == 'B'.toByte && content(1) == 'M'.toByte,
        s"bad BMP magic for doc $docId")
      val b = java.nio.ByteBuffer.wrap(content)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val dataOff = b.getInt(10)
      val w = b.getInt(18)
      val h = b.getInt(22)
      val bpp = b.getShort(28).toInt & 0xffff
      val compression = b.getInt(30)
      require(w > 0 && w <= MaxDim && h > 0 && h <= MaxDim,
        s"BMP dims out of range ($w x $h) for doc $docId")
      require(bpp > 0 && bpp <= 32, s"BMP bpp $bpp out of range for doc $docId")
      if (compression == 0 || compression == 3) {
        // BI_RGB and BI_BITFIELDS are both STORED UNCOMPRESSED (3 only
        // adds channel masks), so the strict bound applies: the declared
        // raster must actually be present in the buffer
        val rowBytes = ((w.toLong * bpp + 31) / 32) * 4
        require(dataOff >= 54 && dataOff.toLong + rowBytes * h <= content.length,
          s"BMP raster exceeds the buffer for doc $docId (truncated or lying header)")
      } else {
        // genuinely compressed container (RLE etc): raster-fits-buffer
        // can't apply, so bound the DECLARED pixel count by input size
        // times the densest real compression ratio AND by the absolute
        // decode budget ([[checkCompressedPixels]]) — a body claiming
        // huge dims must flag here, never allocate
        checkCompressedPixels(w, h, content.length, "BMP", docId)
      }
    }

    private def decode(r: MediaRow): java.awt.image.BufferedImage = {
      checkBmpHeader(r.content, r.doc_id)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.content))
      require(img != null, s"ImageIO could not decode media for doc ${r.doc_id}")
      img
    }

    /** Real decode: width/height from the decoder, checksum = polynomial
      * fold over decoded R,G,B channel values in row-major scan order. */
    def decodeMeta(r: MediaRow): MediaMeta = {
      val img = decode(r)
      MediaMeta(r.doc_id, r.media_type, r.content.length,
        img.getWidth, img.getHeight, duration_ms = 0L, checksum = foldRgb(0L, img))
    }

    /** REAL nearest-neighbor resize to t x t over the decoded raster:
      * out (x, y) samples src (x*sw/t, y*sh/t) — integer floors, so the
      * oracle replays the index map exactly. Returns (src_w, src_h,
      * checksum over resized pixels row-major R,G,B). */
    def resizeNN(r: MediaRow, t: Int = 8): (Int, Int, Long) = {
      val img = decode(r)
      val (sw, sh) = (img.getWidth, img.getHeight)
      var acc = 0L
      var y = 0
      while (y < t) {
        val sy = y * sh / t
        var x = 0
        while (x < t) {
          val sx = x * sw / t
          acc = mixRgb(acc, img.getRGB(sx, sy))
          x += 1
        }
        y += 1
      }
      (sw, sh, acc)
    }

    /** 16-bin histogram over decoded channel values (v / 16), normalized
      * by the channel count w*h*3. */
    def decodeFeatures(r: MediaRow): MediaFeatures = {
      val img = decode(r)
      val hist = new Array[Double](16)
      histRgb(hist, img)
      val n = img.getWidth * img.getHeight * 3
      MediaFeatures(r.doc_id, hist.map(_ / n))
    }
  }

  /** REAL audio codec: hand-rolled canonical RIFF/WAVE container (44-byte
    * header, PCM 16-bit signed little-endian, mono, 8 kHz) decoded with
    * the in-JDK `javax.sound.sampled.AudioSystem` — no stub, no external
    * jars. Sample k is an injective map of source byte k onto the full
    * signed 16-bit range (b*257 - 32768: 0 -> -32768, 255 -> 32767), so
    * the DuckDB oracle replays decoded-sample arithmetic from the text
    * and a bug anywhere in the header/endianness/sample-assembly path
    * breaks the hash compare. */
  object WavCodec {
    val SampleRate = 8000

    def sampleFn(text: Array[Byte]): Int => Int =
      k => ((text(k) & 0xff) * 257) - 32768

    /** Canonical 44-byte RIFF/WAVE header + PCM16LE mono frames. */
    def encodeWav(samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val b = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(SampleRate).putInt(SampleRate * 2) // byte rate
        .putShort(2).putShort(16) // block align, bits
      b.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(b.putShort)
      b.array()
    }

    /** Real decode through AudioSystem; samples assembled per the
      * REPORTED format (endianness included), not assumed. */
    private def readSamples(r: MediaRow): (Array[Int], Long) = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.content))
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
          s"unexpected WAV format for doc ${r.doc_id}: $fmt")
        // a lying fmt chunk can declare rate 0 — the duration division
        // must fail as a flagged decode, not an ArithmeticException
        require(fmt.getSampleRate > 0, s"WAV sample rate 0 for doc ${r.doc_id}")
        val bytes = in.readAllBytes()
        val n = bytes.length / 2
        val out = new Array[Int](n)
        var i = 0
        while (i < n) {
          out(i) =
            if (fmt.isBigEndian) (bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xff)
            else (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)
          i += 1
        }
        (out, fmt.getSampleRate.toLong)
      } finally in.close()
    }

    /** width/height 0 (no raster), duration from frame count / rate,
      * checksum = polynomial fold over unsigned sample values. */
    def decodeMeta(r: MediaRow): MediaMeta = {
      val (s, rate) = readSamples(r)
      var acc = 0L
      var i = 0
      while (i < s.length) { acc = (acc * 31 + (s(i) + 32768)) % P; i += 1 }
      MediaMeta(r.doc_id, r.media_type, r.content.length, width = 0, height = 0,
        duration_ms = s.length.toLong * 1000L / rate, checksum = acc)
    }

    /** 16-bin histogram over unsigned sample values (v / 4096), normalized
      * by the frame count. */
    def decodeFeatures(r: MediaRow): MediaFeatures = {
      val (s, _) = readSamples(r)
      val hist = new Array[Double](16)
      var i = 0
      while (i < s.length) { hist((s(i) + 32768) / 4096) += 1.0; i += 1 }
      val n = math.max(s.length, 1)
      MediaFeatures(r.doc_id, hist.map(_ / n))
    }
  }

  /** REAL video codec: hand-rolled RIFF/AVI container (the public
    * `hdrl`/`strl`/`movi` layout: `avih` + `strh`/`strf` stream headers,
    * uncompressed 24-bit DIB frames in `00db` chunks), parsed back by a
    * RIFF chunk walk and each frame decoded through the in-JDK ImageIO
    * BMP reader (14-byte BITMAPFILEHEADER + the stream's
    * BITMAPINFOHEADER + chunk payload = a complete BMP). Frame pixels
    * derive from the source text (frame f, flat channel k -> byte at
    * (f*7919 + k) mod len), which the oracle replays, so header layout,
    * chunk sizes, frame order, row order and channel order are all under
    * the hash compare. */
  object AviCodec {
    // same in-memory ImageInputStream posture as BmpCodec (per-frame
    // ImageIO decodes would otherwise write a temp file EACH)
    javax.imageio.ImageIO.setUseCache(false)
    val Fps = 5

    def frameCount(docId: Long): Int = (2 + docId % 4).toInt

    /** Deterministic frame dimensions from doc_id (4..12 x 4..10). */
    def dims(docId: Long): (Int, Int) =
      ((4 + docId % 9).toInt, (4 + (docId / 9) % 7).toInt)

    /** Channel value at (frame f, flat index k), row-major top-down
      * R,G,B — byte at (f*7919 + k) mod len (0 when empty). */
    def pixelFn(text: Array[Byte]): (Int, Int) => Int =
      (f, k) => if (text.isEmpty) 0 else text((f * 7919 + k) % text.length) & 0xff

    private def dibBytes(w: Int, h: Int, f: Int, v: (Int, Int) => Int): Array[Byte] = {
      val rowBytes = w * 3
      val pad = (4 - rowBytes % 4) % 4
      val b = java.nio.ByteBuffer.allocate((rowBytes + pad) * h)
      var y = h - 1 // bottom-up, BGR — the DIB raster layout BmpCodec uses
      while (y >= 0) {
        var x = 0
        while (x < w) {
          val k = (y * w + x) * 3
          b.put(v(f, k + 2).toByte).put(v(f, k + 1).toByte).put(v(f, k).toByte)
          x += 1
        }
        var p = 0
        while (p < pad) { b.put(0.toByte); p += 1 }
        y -= 1
      }
      b.array()
    }

    private def bmpInfoHeader(w: Int, h: Int, dibSize: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(40)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .putInt(0).putInt(dibSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
      b.array()
    }

    /** Container size: 224 header bytes + F x (8 + dib) — asserted by the
      * oracle's byte_len replay. */
    def encodeAvi(docId: Long, text: Array[Byte]): Array[Byte] = {
      val (w, h) = dims(docId)
      val frames = frameCount(docId)
      val v = pixelFn(text)
      val rowBytes = w * 3
      val dibSize = (rowBytes + (4 - rowBytes % 4) % 4) * h
      val moviSize = 4 + frames * (8 + dibSize)
      val hdrlSize = 4 + (8 + 56) + (8 + (4 + (8 + 56) + (8 + 40)))
      val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
      val b = java.nio.ByteBuffer.allocate(8 + riffSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def cc(s: String): Unit = b.put(s.getBytes("US-ASCII"))
      cc("RIFF"); b.putInt(riffSize); cc("AVI ")
      cc("LIST"); b.putInt(hdrlSize); cc("hdrl")
      cc("avih"); b.putInt(56)
      b.putInt(1000000 / Fps).putInt(0).putInt(0).putInt(0) // usec/frame
        .putInt(frames).putInt(0).putInt(1).putInt(dibSize + 8)
        .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
      cc("LIST"); b.putInt(4 + (8 + 56) + (8 + 40)); cc("strl")
      cc("strh"); b.putInt(56)
      cc("vids"); cc("DIB ")
      b.putInt(0).putInt(0).putInt(0)  // flags, prio/lang, initial
        .putInt(1).putInt(Fps)         // scale, rate
        .putInt(0).putInt(frames).putInt(dibSize).putInt(0).putInt(0)
        .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
      cc("strf"); b.putInt(40); b.put(bmpInfoHeader(w, h, dibSize))
      cc("LIST"); b.putInt(moviSize); cc("movi")
      var f = 0
      while (f < frames) {
        cc("00db"); b.putInt(dibSize); b.put(dibBytes(w, h, f, v))
        f += 1
      }
      b.array()
    }

    /** Parsed stream: the strf BITMAPINFOHEADER, strh timing, and each
      * frame decoded to a BufferedImage via ImageIO. */
    case class AviStream(width: Int, height: Int, scale: Int, rate: Int,
        frames: Vector[java.awt.image.BufferedImage])

    def parseAvi(r: MediaRow): AviStream = {
      val b = java.nio.ByteBuffer.wrap(r.content)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def cc(): String = {
        val a = new Array[Byte](4); b.get(a); new String(a, "US-ASCII")
      }
      require(r.content.length >= 12, s"truncated RIFF preamble for doc ${r.doc_id}")
      require(cc() == "RIFF" && { b.getInt; cc() == "AVI " },
        s"not a RIFF/AVI container for doc ${r.doc_id}")
      var strf: Array[Byte] = null
      var scale = 1
      var rate = Fps
      val frames = Vector.newBuilder[Array[Byte]]
      // depth cap: a real AVI nests LISTs <= 4 deep; a crafted chain of
      // nested LISTs must fail as a flagged decode, not a StackOverflow
      // (fatal errors escape the total-decode wrappers by design)
      def walk(end: Int, depth: Int): Unit =
        while (b.position() < end) {
          // every chunk needs an 8-byte header and a payload INSIDE the
          // buffer: a truncated chunk list or a lying/negative size field
          // fails here instead of underflowing or allocating on a lie
          require(end - b.position() >= 8,
            s"truncated chunk header for doc ${r.doc_id}")
          val id = cc()
          val size = b.getInt
          val next = b.position() + size + (size & 1) // RIFF pads to even
          require(size >= 0 && b.position() + size <= r.content.length,
            s"chunk '$id' size $size exceeds the buffer for doc ${r.doc_id}")
          id match {
            case "LIST" => // recurse into hdrl/strl/movi
              require(depth < 16, s"LIST nesting too deep for doc ${r.doc_id}")
              require(size >= 4, s"LIST chunk too small for doc ${r.doc_id}")
              cc(); walk(next, depth + 1)
            case "strh" =>
              require(size >= 28, s"strh chunk too small for doc ${r.doc_id}")
              b.position(b.position() + 20) // fccType..initialFrames
              scale = b.getInt; rate = b.getInt
            case "strf" =>
              strf = new Array[Byte](size); b.get(strf)
            case "00db" | "00dc" =>
              val data = new Array[Byte](size); b.get(data); frames += data
            case _ => // avih etc: not needed
          }
          b.position(next)
        }
      walk(r.content.length, 0)
      require(strf != null && strf.length >= 40, s"no strf header for doc ${r.doc_id}")
      val sb = java.nio.ByteBuffer.wrap(strf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val w = sb.getInt(4)
      val h = sb.getInt(8)
      val bpp = sb.getShort(14).toInt & 0xffff
      val compression = sb.getInt(16)
      // the strf header drives the per-frame BMP assembly below — gate it
      // the same way checkBmpHeader gates a standalone image: bounded
      // dims, and (uncompressed) every frame chunk must actually hold the
      // raster the header declares
      require(w > 0 && w <= MaxDim && h > 0 && h <= MaxDim,
        s"AVI stream dims out of range ($w x $h) for doc ${r.doc_id}")
      require(bpp > 0 && bpp <= 32, s"AVI bpp $bpp out of range for doc ${r.doc_id}")
      val rowBytes = ((w.toLong * bpp + 31) / 32) * 4
      val imgs = frames.result().map { dib =>
        if (compression == 0 || compression == 3)
          // BI_RGB / BI_BITFIELDS frames are stored uncompressed — the
          // declared raster must be present in the chunk
          require(dib.length >= rowBytes * h,
            s"AVI frame smaller than the declared raster for doc ${r.doc_id}")
        else
          // genuinely compressed frames: THE same bomb gate as
          // checkBmpHeader's compressed branch (one definition) —
          // declared pixels bounded by what this frame's bytes could
          // really expand to and by the absolute decode budget
          checkCompressedPixels(w, h, dib.length, "AVI frame", r.doc_id)
        // a complete BMP = 14-byte file header + the stream's info header
        // + the chunk payload; decoded by the real in-JDK BMP reader
        val bmp = java.nio.ByteBuffer.allocate(14 + strf.length + dib.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bmp.put('B'.toByte).put('M'.toByte)
          .putInt(14 + strf.length + dib.length).putInt(0).putInt(14 + strf.length)
        bmp.put(strf).put(dib)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bmp.array()))
        require(img != null, s"ImageIO could not decode an AVI frame for doc ${r.doc_id}")
        img
      }
      AviStream(w, h, scale, rate, imgs)
    }

    /** Per-frame checksum: polynomial fold over one decoded frame's R,G,B
      * channels in row-major scan order (acc reset per frame). */
    def frameChecksum(img: java.awt.image.BufferedImage): Long = foldRgb(0L, img)

    /** width/height from the stream header, duration from frame count and
      * strh timing, checksum = polynomial fold over every frame's decoded
      * R,G,B channels in frame order, row-major scan order. */
    def decodeMeta(r: MediaRow): MediaMeta = {
      val s = parseAvi(r)
      val acc = s.frames.foldLeft(0L)(foldRgb)
      MediaMeta(r.doc_id, r.media_type, r.content.length, s.width, s.height,
        duration_ms = s.frames.length.toLong * 1000L * s.scale / s.rate, checksum = acc)
    }

    /** 16-bin histogram over all frames' decoded channel values (v / 16),
      * normalized by frames * w * h * 3. */
    def decodeFeatures(r: MediaRow): MediaFeatures = {
      val s = parseAvi(r)
      val hist = new Array[Double](16)
      s.frames.foreach(histRgb(hist, _))
      val n = math.max(s.frames.length * s.width * s.height * 3, 1)
      MediaFeatures(r.doc_id, hist.map(_ / n))
    }
  }

  /** Build the media table from `documents` (deterministic derivation). */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      // coalesce: a NULL-text document must become EMPTY media bytes, not a
      // null array that NPEs inside the codec kernels executor-side (the
      // oracles wrap documents with the same coalesce)
      .selectExpr("doc_id",
        "element_at(array('image','audio','video'), CAST(doc_id % 3 AS INT) + 1) AS media_type",
        "encode(coalesce(text, ''), 'UTF-8') AS content")
      .as[MediaRow]
  }

  /** Image rows as REAL BMP files (executor-side encode — the bytes never
    * visit the driver), decodable by [[BmpCodec]]/ImageIO. */
  def imageTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .filter("doc_id % 3 = 0")
      .selectExpr("doc_id", "encode(coalesce(text, ''), 'UTF-8') AS raw")
      .as[(Long, Array[Byte])]
      .map { case (id, raw) =>
        val (w, h) = BmpCodec.dims(id)
        MediaRow(id, "image", BmpCodec.encodeBmp(w, h, BmpCodec.pixelFn(raw)))
      }
  }

  /** Audio rows as REAL WAV files (executor-side encode), decodable by
    * [[WavCodec]]/AudioSystem. */
  def audioTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .filter("doc_id % 3 = 1")
      .selectExpr("doc_id", "encode(coalesce(text, ''), 'UTF-8') AS raw")
      .as[(Long, Array[Byte])]
      .map { case (id, raw) =>
        val samples = Array.tabulate(raw.length)(k => WavCodec.sampleFn(raw)(k).toShort)
        MediaRow(id, "audio", WavCodec.encodeWav(samples))
      }
  }

  /** Video rows as REAL AVI containers (executor-side encode), decodable
    * by [[AviCodec]] + ImageIO per frame. */
  def videoTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .filter("doc_id % 3 = 2")
      .selectExpr("doc_id", "encode(coalesce(text, ''), 'UTF-8') AS raw")
      .as[(Long, Array[Byte])]
      .map { case (id, raw) => MediaRow(id, "video", AviCodec.encodeAvi(id, raw)) }
  }

  /** The decode-facing media table: every modality is a REAL container —
    * BMP images, WAV audio, AVI video. The byte-walk operators
    * (resize/frames/phash) keep reading [[mediaTable]]'s raw bytes. */
  def decodableMediaTable(s: SparkSession, dir: String): Dataset[MediaRow] =
    imageTable(s, dir)
      .unionByName(audioTable(s, dir))
      .unionByName(videoTable(s, dir))

  /** Batched decode: one codec instance per partition (the expensive-setup
    * pattern of a vectorized UDF), metadata out as typed columns. Every
    * modality goes through a REAL in-JDK decoder (ImageIO / AudioSystem /
    * RIFF walk + per-frame ImageIO).
    *
    * TOTAL over arbitrary bytes: the kernels throw on corrupt input
    * (header gates, chunk-bounds checks, dimension caps — so nothing
    * fatal like an allocation bomb or stack overflow can happen), and
    * this wrapper turns any kernel failure into a FLAGGED row
    * (decode_ok = 0) — one bad fetch in a crawl batch must never kill
    * the whole query. */
  def decodeAll(media: Dataset[MediaRow]): Dataset[MediaMetaV] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition setup for the real codecs happens here (ImageIO
      // plugin lookup is JVM-global and thread-safe; nothing to init)
      rows.map { r =>
        try {
          val m = r.media_type match {
            case "image" => BmpCodec.decodeMeta(r)
            case "audio" => WavCodec.decodeMeta(r)
            case _ => AviCodec.decodeMeta(r)
          }
          MediaMetaV(m.doc_id, m.media_type, m.byte_len, m.width, m.height,
            m.duration_ms, m.checksum, decode_ok = 1)
        } catch { case scala.util.control.NonFatal(_) =>
          MediaMetaV(r.doc_id, r.media_type, r.content.length,
            width = 0, height = 0, duration_ms = 0L, checksum = -1L,
            decode_ok = 0)
        }
      }
    }
  }

  /** Batched feature extraction (fixed-width vectors for the ANN surface):
    * decoded-pixel histograms for images/video frames, decoded-sample
    * histograms for audio. Same total-decode contract as [[decodeAll]]:
    * corrupt containers yield the zero vector with decode_ok = 0. */
  def featuresAll(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      try {
        r.media_type match {
          case "image" => BmpCodec.decodeFeatures(r)
          case "audio" => WavCodec.decodeFeatures(r)
          case _ => AviCodec.decodeFeatures(r)
        }
      } catch { case scala.util.control.NonFatal(_) =>
        MediaFeatures(r.doc_id, new Array[Double](16), decode_ok = 0)
      }
    })
  }

  /** One row per decoded video frame. A corrupt container emits ONE
    * sentinel row (frame_no = -1, checksum = -1) so the bad doc stays
    * visible in the output instead of silently vanishing — the explode
    * twin of [[decodeAll]]'s flag. */
  case class FrameRow(doc_id: Long, frame_no: Int, width: Int, height: Int,
      frame_checksum: Long)

  def videoFramesAll(media: Dataset[MediaRow]): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      try {
        val st = AviCodec.parseAvi(r)
        st.frames.iterator.zipWithIndex.map { case (img, no) =>
          FrameRow(r.doc_id, no, img.getWidth, img.getHeight,
            AviCodec.frameChecksum(img))
        }
      } catch { case scala.util.control.NonFatal(_) =>
        Iterator.single(FrameRow(r.doc_id, -1, 0, 0, -1L))
      }
    }
  }

  /** Resized media: deterministic stub "thumbnail" (every stride-th byte,
    * ≤ `target` bytes) standing in for a real image resize. */
  case class Resized(doc_id: Long, in_len: Int, out_len: Int, resized_checksum: Long)

  /** Stub resize: keep every ceil(len/target)-th byte (a deterministic
    * downsample standing in for real pixel resampling; swap the kernel for
    * an image library in deployment — the executor-side single-pass shape
    * is the real design). Returns length + rolling checksum of the
    * downsampled bytes so the oracle can replay it. */
  def resizeAll(media: Dataset[MediaRow], target: Int = 64): Dataset[Resized] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val n = r.content.length
      val stride = math.max(1, (n + target - 1) / target)
      var h = 0L
      var outLen = 0
      var i = 0
      while (i < n) {
        h = (h * 31 + (r.content(i) & 0xff)) % P
        outLen += 1
        i += stride
      }
      Resized(r.doc_id, n, outLen, h)
    })
  }

  /** Frame sampling: every `stride` bytes take a `frameLen`-byte slice —
    * the explode shape of video frame extraction (rows stay executor-side). */
  def sampleFrames(media: Dataset[MediaRow], stride: Int = 64, frameLen: Int = 16): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      Iterator.range(0, math.max(r.content.length - frameLen + 1, 0), stride).zipWithIndex.map {
        case (off, no) => Frame(r.doc_id, no, off, r.content.slice(off, off + frameLen))
      }
    }
  }

  val defs: ListMap[String, QueryDef] = ListMap(

    // ---- metadata decode over binary columns — every modality decodes a
    // REAL container (BMP via javax.imageio, WAV via javax.sound, AVI via
    // RIFF walk + per-frame ImageIO). The oracle recomputes byte_len from
    // the container layout (headers, chunk framing, row padding), the
    // dims/duration from the derivations, and the checksum over the
    // EXPECTED pixels/samples, so each encode→decode round trip is
    // verified end to end. ------------------------------------------------
    "multimodal_meta" -> QueryDef(
      (s, dir) => {
        decodeAll(decodableMediaTable(s, dir)).toDF()
          .select(col("doc_id"), col("media_type"), col("byte_len"),
            col("width"), col("height"), col("duration_ms"), col("checksum"),
            col("decode_ok"))
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      """WITH imgsrc AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |    4 + (doc_id % 13) AS w, 4 + ((doc_id // 13) % 11) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |imeta AS (
        |  SELECT doc_id, 'image' AS media_type,
        |    (54 + (3 * w + ((4 - (3 * w) % 4) % 4)) * h)::INT AS byte_len,
        |    w::INT AS width, h::INT AS height, 0::BIGINT AS duration_ms,
        |    -- expected pixels: channel value at flat index k is the source
        |    -- byte at k mod len (ASCII corpus: bytes == code points)
        |    list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w * h * 3),
        |      k -> (CASE WHEN length(text) = 0 THEN 0
        |                 ELSE ascii(substr(text, ((k % length(text)) + 1)::INT, 1)) END)::BIGINT)),
        |      (acc, b) -> (acc * 31 + b) % 1000000007) AS checksum
        |  FROM imgsrc),
        |ameta AS (
        |  -- WAV: 44-byte canonical header + 2 bytes/sample; one sample per
        |  -- source byte at 8 kHz; expected sample = byte*257 (unsigned)
        |  SELECT doc_id, 'audio' AS media_type,
        |    (44 + 2 * length(text))::INT AS byte_len,
        |    0::INT AS width, 0::INT AS height,
        |    (length(text)::BIGINT * 1000) // 8000 AS duration_ms,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, length(text) + 1),
        |        i -> ascii(substr(text, i, 1))::BIGINT * 257)),
        |      (acc, v) -> (acc * 31 + v) % 1000000007) AS checksum
        |  FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents
        |        WHERE doc_id % 3 = 1)),
        |vsrc AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |    4 + (doc_id % 9) AS w, 4 + ((doc_id // 9) % 7) AS h,
        |    2 + (doc_id % 4) AS fr
        |  FROM documents WHERE doc_id % 3 = 2),
        |vmeta AS (
        |  -- AVI: 224 container-header bytes + fr x (8-byte chunk header +
        |  -- padded DIB); frame f's channel k = byte at (f*7919 + k) mod len
        |  SELECT doc_id, 'video' AS media_type,
        |    (224 + fr * (8 + (3 * w + ((4 - (3 * w) % 4) % 4)) * h))::INT AS byte_len,
        |    w::INT AS width, h::INT AS height,
        |    (fr * 200)::BIGINT AS duration_ms,
        |    list_reduce(list_prepend(0::BIGINT, flatten(list_transform(range(0, fr),
        |      f -> list_transform(range(0, w * h * 3),
        |        k -> (CASE WHEN length(text) = 0 THEN 0
        |                   ELSE ascii(substr(text, (((f * 7919 + k) % length(text)) + 1)::INT, 1)) END)::BIGINT)))),
        |      (acc, b) -> (acc * 31 + b) % 1000000007) AS checksum
        |  FROM vsrc)
        |-- every fixture container is well-formed by construction, so the
        |-- total-decode verdict is constant 1 here (corrupt-input behavior
        |-- is pinned by MultimodalFuzzSpec, which the oracle cannot reach)
        |SELECT doc_id, media_type, byte_len, width, height, duration_ms, checksum,
        |  1 AS decode_ok
        |FROM (SELECT * FROM imeta UNION ALL SELECT * FROM ameta UNION ALL SELECT * FROM vmeta)
        |ORDER BY doc_id""".stripMargin),

    // ---- feature extraction: 16-bin histogram over REAL decoded values.
    // IMAGE: pixel channels, bin = v // 16, normalized by w*h*3. AUDIO:
    // decoded 16-bit samples, bin = (s+32768) // 4096; since sample =
    // byte*257, bin = byte*257 // 4096 == byte // 16 EXACTLY for all
    // 0..255 (257b = 4096(b//16) + (257(b%16) + 16(b//16)) and the tail
    // maxes at 4095), so the oracle replays the byte histogram. VIDEO:
    // all frames' pixel channels via the (f*7919 + k) mod len derivation,
    // normalized by fr*w*h*3. f_sum is the same left-fold over bins 0..15
    // in every branch (IEEE-identical). ----------------------------------
    "multimodal_features" -> QueryDef(
      (s, dir) => {
        featuresAll(decodableMediaTable(s, dir)).toDF()
          .selectExpr("doc_id", "round(features[0], 6) AS f0",
            "round(features[15], 6) AS f15",
            "round(aggregate(features, double(0), (a, x) -> a + x), 6) AS f_sum",
            "decode_ok")
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      """WITH imgsrc AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |    4 + (doc_id % 13) AS w, 4 + ((doc_id // 13) % 11) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |ibins AS (
        |  SELECT doc_id, w * h * 3 AS m,
        |    list_transform(range(0, w * h * 3),
        |      k -> (CASE WHEN length(text) = 0 THEN 0
        |                 ELSE ascii(substr(text, ((k % length(text)) + 1)::INT, 1)) END) // 16) AS bins
        |  FROM imgsrc),
        |ifeat AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |      b -> len(list_filter(bins, x -> x = b))::DOUBLE / m) AS f
        |  FROM ibins),
        |ch AS (
        |  SELECT doc_id, length(text) AS n,
        |    list_transform(range(1, length(text) + 1),
        |      i -> ascii(substr(text, i, 1)) // 16) AS bins
        |  FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents
        |        WHERE doc_id % 3 = 1)),
        |afeat AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 16),
        |      b -> len(list_filter(bins, x -> x = b))::DOUBLE / greatest(n, 1)) AS f
        |  FROM ch),
        |vsrc AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |    4 + (doc_id % 9) AS w, 4 + ((doc_id // 9) % 7) AS h,
        |    2 + (doc_id % 4) AS fr
        |  FROM documents WHERE doc_id % 3 = 2),
        |vbins AS (
        |  SELECT doc_id, fr * w * h * 3 AS m,
        |    flatten(list_transform(range(0, fr),
        |      f -> list_transform(range(0, w * h * 3),
        |        k -> (CASE WHEN length(text) = 0 THEN 0
        |                   ELSE ascii(substr(text, (((f * 7919 + k) % length(text)) + 1)::INT, 1)) END) // 16))) AS bins
        |  FROM vsrc),
        |vfeat AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |      b -> len(list_filter(bins, x -> x = b))::DOUBLE / m) AS f
        |  FROM vbins),
        |allf AS (SELECT doc_id, f FROM ifeat UNION ALL
        |         SELECT doc_id, f FROM afeat UNION ALL
        |         SELECT doc_id, f FROM vfeat)
        |SELECT doc_id, round(f[1], 6) AS f0, round(f[16], 6) AS f15,
        |  round(list_reduce(list_prepend(0.0::DOUBLE, f), (a, b) -> a + b), 6) AS f_sum,
        |  1 AS decode_ok
        |FROM allf ORDER BY doc_id""".stripMargin),

    // ---- resize: deterministic byte downsample (stub kernel; real
    // executor-side single-pass shape). Oracle replays the stride walk
    // char-wise over the same ASCII bytes. ----------------------------------
    "multimodal_resize" -> QueryDef(
      (s, dir) => {
        resizeAll(mediaTable(s, dir)).toDF()
          .select(col("doc_id"), col("in_len"), col("out_len"), col("resized_checksum"))
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      """WITH m AS (
        |  SELECT doc_id, length(text) AS n,
        |    greatest(1, (length(text) + 63) // 64) AS stride
        |  FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)),
        |walk AS (
        |  SELECT doc_id, n, stride,
        |    range(1, n + 1, stride) AS idx
        |  FROM m)
        |SELECT w.doc_id, w.n AS in_len,
        |  len(w.idx)::INT AS out_len,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(w.idx, i -> ascii(substr(d.text, i, 1))::BIGINT)),
        |    (h, b) -> (h * 31 + b) % 1000000007) AS resized_checksum
        |FROM walk w JOIN documents d USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // ---- REAL image resize: decode the BMP, nearest-neighbor resample to
    // a fixed 8x8 raster (out (x,y) samples src (x*sw/8, y*sh/8) — integer
    // floors both engines), checksum the resized pixels. The executor-side
    // single-pass decode+resample shape of a thumbnail pipeline; the
    // byte-walk multimodal_resize above remains the modality-generic
    // kernel. -------------------------------------------------------------
    "multimodal_resize_image" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        imageTable(s, dir).map { r =>
          // same total-decode contract as decodeAll: a corrupt BMP flags
          // (zero dims, checksum -1) instead of killing the thumbnail run
          try {
            val (w, h, acc) = BmpCodec.resizeNN(r)
            (r.doc_id, w, h, 8, 8, acc, 1)
          } catch { case scala.util.control.NonFatal(_) =>
            (r.doc_id, 0, 0, 8, 8, -1L, 0)
          }
        }.toDF("doc_id", "src_w", "src_h", "out_w", "out_h",
            "resized_checksum", "decode_ok")
          .transform(graft.Sorted.byNames(_, "doc_id"))
      },
      """WITH imgsrc AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |    4 + (doc_id % 13) AS w, 4 + ((doc_id // 13) % 11) AS h
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, w::INT AS src_w, h::INT AS src_h,
        |  8 AS out_w, 8 AS out_h,
        |  -- i enumerates (y, x, c) row-major: y = i//24, x = (i%24)//3,
        |  -- c = i%3; NN source index k = ((y*h//8)*w + (x*w//8))*3 + c
        |  list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 192),
        |    i -> (CASE WHEN length(text) = 0 THEN 0
        |               ELSE ascii(substr(text,
        |                 ((((((i // 24) * h) // 8) * w + (((i % 24) // 3) * w) // 8) * 3 + i % 3)
        |                   % length(text) + 1)::INT, 1)) END)::BIGINT)),
        |    (acc, b) -> (acc * 31 + b) % 1000000007) AS resized_checksum,
        |  1 AS decode_ok
        |FROM imgsrc
        |ORDER BY doc_id""".stripMargin),

    // ---- frame sampling: explode binary into per-frame rows ---------------
    "multimodal_frames" -> QueryDef(
      (s, dir) => {
        sampleFrames(mediaTable(s, dir)).toDF()
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_frames"),
            max(col("offset").cast("long")).as("last_offset"),
            sum(length(col("frame_bytes")).cast("long")).as("total_frame_bytes"))
          .orderBy("doc_id")
      },
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS len FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)),
        |f AS (SELECT doc_id, unnest(range(0, greatest(len - 16 + 1, 0), 64)) AS off, len
        |  FROM m WHERE len >= 16)
        |SELECT doc_id, COUNT(*) AS n_frames, MAX(off) AS last_offset,
        |  CAST(SUM(16) AS BIGINT) AS total_frame_bytes
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- REAL video frame extraction: parse each AVI's RIFF chunk tree,
    // decode every 00db DIB frame through ImageIO, emit one row per frame
    // with its decoded dims and pixel checksum — the true explode shape of
    // video frame sampling (decode stays executor-side; only narrow typed
    // columns flow out). The oracle replays the per-frame pixel derivation
    // (f*7919 + k) mod len, so chunk framing and frame ORDER are verified,
    // not just aggregate counts. ------------------------------------------
    "multimodal_video_frames" -> QueryDef(
      (s, dir) => {
        // total decode: a corrupt container yields its frame_no = -1
        // sentinel row (none on the well-formed fixture, so the oracle
        // is unchanged; MultimodalFuzzSpec pins the sentinel)
        videoFramesAll(videoTable(s, dir)).toDF()
          .transform(graft.Sorted.byNames(_, "doc_id", "frame_no"))
      },
      """WITH vsrc AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |    4 + (doc_id % 9) AS w, 4 + ((doc_id // 9) % 7) AS h,
        |    2 + (doc_id % 4) AS fr
        |  FROM documents WHERE doc_id % 3 = 2),
        |vf AS (SELECT doc_id, text, w, h, unnest(range(0, fr)) AS f FROM vsrc)
        |SELECT doc_id, f::INT AS frame_no, w::INT AS width, h::INT AS height,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w * h * 3),
        |    k -> (CASE WHEN length(text) = 0 THEN 0
        |               ELSE ascii(substr(text, (((f * 7919 + k) % length(text)) + 1)::INT, 1)) END)::BIGINT)),
        |    (acc, b) -> (acc * 31 + b) % 1000000007) AS frame_checksum
        |FROM vf
        |ORDER BY doc_id, frame_no""".stripMargin),

    // ---- perceptual-hash duplicate grouping over media ------------------
    // The production image-dedup shape: per-media 60-bit pHash, then
    // GROUP BY (media_type, phash) — a map pass plus ONE combiner-friendly
    // aggregation, no self-join, output linear in media count (the same
    // scalable output form as dedup_exact). The stub pHash is b-bit
    // MinHash: 4 low bits from each of 15 signature lanes (60 bits -- the simhash60 headroom rule: lane 15 at shift 60 would overflow int64) over the
    // codec-derived payload, so near-identical payloads collide
    // (per-lane match ≈ jaccard) while unrelated media agree with
    // probability ≈ (j + (1-j)/16)^16 ≈ 4e-5 even on this deliberately
    // self-similar fixture corpus. A real DCT pHash drops in without
    // touching the grouping; two stub designs were REJECTED first —
    // byte-histogram thresholds and 16-bit parities both collapsed on the
    // shared-vocabulary fixture (every same-type pair collided /
    // 25% of pairs within radius 2). Hamming-radius banding at a wider
    // hash is the recall knob; its plumbing is dedup_simhash_pairs'. ------
    "multimodal_phash_dedup" -> QueryDef(
      (s, dir) => {
        mediaTable(s, dir).toDF()
          .selectExpr("doc_id", "media_type", "decode(content, 'UTF-8') AS payload")
          // same >= 3-token guard as the MinHash family (empty shingle
          // sets have no signature on either engine)
          .filter("size(graft_token_hashes(payload)) >= 3")
          .selectExpr("doc_id", "media_type", "graft_minhash_sig(payload) AS sig")
          .selectExpr("doc_id", "media_type",
            """aggregate(sequence(0, 14), 0L,
              |  (a, j) -> a + shiftleft(element_at(sig, CAST(j AS INT) + 1) % 16,
              |                          CAST(j AS INT) * 4)) AS phash""".stripMargin)
          .groupBy(col("media_type"), col("phash"))
          .agg(count(lit(1)).as("group_size"), min(col("doc_id")).as("canonical_id"))
          .filter(col("group_size") >= 2)
          .transform(graft.Sorted.byNames(_, "media_type", "phash"))
      },
      s"""WITH ${Dedup.duckSigCtes},
         |ph AS (SELECT doc_id,
         |    ['image','audio','video'][(doc_id % 3)::INT + 1] AS media_type,
         |    list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 15),
         |      j -> (sig[j::INT + 1] % 16) << (j::INT * 4))), (a, v) -> a + v) AS phash
         |  FROM sig)
         |SELECT media_type, phash, COUNT(*) AS group_size,
         |  MIN(doc_id) AS canonical_id
         |FROM ph GROUP BY media_type, phash HAVING COUNT(*) >= 2
         |ORDER BY media_type, phash""".stripMargin)
  )
}
