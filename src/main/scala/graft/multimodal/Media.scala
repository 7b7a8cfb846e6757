package graft.multimodal

import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.ByteArrayInputStream
import javax.imageio.{ImageIO, ImageTypeSpecifier}
import javax.imageio.stream.MemoryCacheImageInputStream

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (driver mandate, SURVEY.md §2.6): treat
  * image/audio/video as opaque `binary` columns with typed metadata, and
  * run decode / feature-extract / resize / frame-sample as distributed
  * per-partition transforms.
  *
  * PNG, GIF and JPEG pixels are decoded by the JDK's own ImageIO readers,
  * all through one guarded helper ([[readFrames]]); WAV PCM and the image
  * header parse (`ImageCodec`) are hand-written below. Each image codec
  * keeps a fixture encoder (stored-deflate PNG, LZW GIF, baseline JPEG)
  * that writes the byte-predictable payloads the oracle queries decode.
  * Decode, feature-extract, and resize try the real codecs first;
  * `StubCodec` remains ONLY as the deterministic fallback for payloads
  * that are not decodable media at all (e.g. text bytes posing as blobs
  * in the q42 oracle fixture).
  *
  * Scale posture: media blobs never pass through a shuffle — decode and
  * feature extraction are mapPartitions stages fused after the scan, and
  * only small fixed-width feature rows (not blobs) flow into downstream
  * joins/aggregations. Partition sizing is byte-based
  * (`spark.sql.files.maxPartitionBytes`), which is what bounds executor
  * memory when rows are multi-MB blobs.
  */
object Media {

  /** A media object: opaque payload + typed metadata. */
  case class MediaRow(
      media_id: Long,
      kind: String,             // image | audio | video
      content: Array[Byte],     // opaque encoded payload
      mime: String,
      width: Int,               // images/video; 0 when n/a
      height: Int,
      duration_ms: Long)        // audio/video; 0 for images

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),
    StructField("content", BinaryType),
    StructField("mime", StringType),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  /** Fixed-width per-media features — the only thing that flows into
    * downstream relational ops. */
  case class MediaFeatures(
      media_id: Long,
      kind: String,
      size_bytes: Long,
      sha: String,              // content fingerprint
      mean_intensity: Double,   // stub-decoded pixel mean
      n_frames: Int)

  /** Hard ceiling on DECODED bytes (w·h·channels) any codec will
    * allocate from header-declared dimensions: 16 MiB ≈ 4096² gray /
    * 2365² RGB. These decoders run over UNTRUSTED web media, and a
    * ~100-byte crafted file declaring 40000×40000 would otherwise force
    * a multi-GB allocation per row — an executor OOM the per-codec
    * `catch Exception` cannot intercept. Above the cap (or on any
    * dimension arithmetic that would overflow Int) decode returns None
    * and the row falls back to metadata-only, like every other
    * out-of-scope shape. */
  private[multimodal] val MaxDecodedBytes: Long = 1L << 24

  /** Frame-walk cap for animated GIFs in feature extraction: bounds the
    * per-row decode work on a hostile payload declaring huge frame
    * counts (same spirit as [[MaxDecodedBytes]]). */
  private[multimodal] val MaxAnimFrames: Int = 4096

  /** The one image-decode path: up to `maxFrames` frames of `format`
    * ("png", "gif" or "jpeg"), each handed to `convert` as soon as it is
    * read. Safety properties, all load-bearing on untrusted bytes:
    *  - a payload whose header [[ImageCodec]] does not parse as `format`
    *    is turned away before any reader exists (q42's text rows would
    *    otherwise pay a reader and an exception per codec);
    *  - the reader is picked by format name; `ImageIO.read` would sniff
    *    every registered format (BMP, WBMP, TIFF, …) and could match a
    *    text blob;
    *  - the input is an in-memory stream, never ImageIO's disk cache;
    *  - before `read(i)`, the header's width × height × raw bands must
    *    fit [[MaxDecodedBytes]] and the raw type must pass `accept`;
    *  - the walk stops at `maxFrames` or at the reader's end of sequence
    *    (IndexOutOfBoundsException past frame 0), never calling
    *    `getNumImages(true)`, which walks a hostile file to its end.
    * None when frame 0 is missing, any frame fails a check, or anything
    * throws: corrupt media is data, not an error. Callers take samples
    * from the raster ([[plane]]), never `getRGB`, which gamma-converts
    * TYPE_BYTE_GRAY. */
  private def readFrames[T](format: String, b: Array[Byte], maxFrames: Int,
      accept: ImageTypeSpecifier => Boolean = _ => true)(
      convert: BufferedImage => T): Option[Vector[T]] = {
    if (!ImageCodec.dimensions(b).exists(_._1 == format)) return None
    val reader = ImageIO.getImageReadersByFormatName(format).next()
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(b))
    try {
      reader.setInput(in)
      val frames = Vector.newBuilder[T]
      var i = 0
      var end = false
      while (!end && i < maxFrames) {
        val raw = try reader.getRawImageType(i) catch {
          case _: IndexOutOfBoundsException if i > 0 => end = true; null
        }
        if (!end) {
          if (raw == null || !accept(raw) ||
              reader.getWidth(i).toLong * reader.getHeight(i) *
                raw.getSampleModel.getNumBands > MaxDecodedBytes) return None
          frames += convert(reader.read(i))
          i += 1
        }
      }
      Some(frames.result())
    } catch { case _: Exception => None }
    finally { reader.dispose(); in.close() }
  }

  /** One band of a decoded image as row-major bytes, each sample passed
    * through `f` (a GIF palette lookup; identity otherwise). */
  private def plane(img: BufferedImage, band: Int,
                    f: Int => Int = identity): Array[Byte] = {
    val w = img.getWidth; val h = img.getHeight
    val s = img.getRaster.getSamples(0, 0, w, h, band, new Array[Int](w * h))
    val out = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) { out(i) = f(s(i)).toByte; i += 1 }
    out
  }

  /** Spread a tiny driver frame across the session's shuffle width
    * before a synth/decode mapPartitions: the fixture tables arrive as
    * ONE parquet row group, so without this every codec leg — encode
    * AND the decode under test — runs on a single scan task no matter
    * how many cores the session has. The shuffled frame is a few
    * thousand (id, text) rows; the work it unlocks is the per-row
    * pixel/sample/container arithmetic, which is the dominant cost of
    * every multimodal query. (At 100 TB real media tables arrive in
    * many splits and this is a no-op-sized exchange either way.) */
  private[multimodal] def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Deterministic stand-in for the real codec layer. Every function is
    * pure on the payload bytes, so outputs are reproducible in tests. */
  object StubCodec {
    /** stub: "decode" = interpret payload bytes as pixel intensities. */
    def decodeIntensities(content: Array[Byte]): Array[Double] =
      content.map(b => (b & 0xff) / 255.0)

    /** stub: sample every `stride`-th byte as a "frame". */
    def sampleFrames(content: Array[Byte], stride: Int): Array[Array[Byte]] =
      content.grouped(math.max(stride, 1)).map(g => Array(g.head)).toArray

    /** stub: "resize" = truncate/pad the payload to w*h bytes. */
    def resize(content: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val out = new Array[Byte](w * h)
      System.arraycopy(content, 0, out, 0, math.min(content.length, out.length))
      out
    }

    def sha256(content: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(content).map("%02x".format(_)).mkString
  }

  /** Decode + feature-extract: partition-local, no shuffle, blobs dropped
    * from the output row. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        // REAL codecs first (PNG, GIF, baseline JPEG pixel decode);
        // opaque payloads keep the deterministic stub so non-image
        // media stay oracle-checkable. Each codec is tried at most once
        // per row and its result reused for intensity AND frame count.
        val png = PngCodec.decode(m.content)
        val gif = if (png.isEmpty) GifCodec.decodeFrames(m.content, MaxAnimFrames)
                  else None
        val jpg = if (png.isEmpty && gif.isEmpty) JpegCodec.decode(m.content)
                  else None
        val avi = if (png.isEmpty && gif.isEmpty && jpg.isEmpty)
                    Video.AviCodec.parse(m.content)
                  else None
        val mean = png.map(PngCodec.meanIntensity)
          .orElse(gif.map(fs => GifCodec.meanIntensity(fs.head)))
          .orElse(jpg.map(JpegCodec.meanIntensity))
          .orElse(avi.map { c =>
            // pooled intensity over every decoded MJPEG frame
            val fs = Video.AviCodec.sampleDecodedFrames(c, stride = 1)
            var sum = 0L; var n = 0L
            fs.foreach { p =>
              val px = p.pixels; var i = 0
              while (i < px.length) { sum += px(i) & 0xff; i += 1 }
              n += px.length
            }
            if (n == 0) 0.0 else sum.toDouble / (n * 255.0)
          })
          .getOrElse {
            val px = StubCodec.decodeIntensities(m.content)
            if (px.isEmpty) 0.0 else px.sum / px.length
          }
        // frame count: the REAL frame walk for animated GIFs and AVI
        // containers, 1 for any other decodable still image, stub only
        // for genuinely opaque bytes
        val frames =
          if (gif.isDefined) gif.get.length
          else if (avi.isDefined) avi.get.framePayloads.length
          else if (png.isDefined || jpg.isDefined) 1
          else StubCodec.sampleFrames(m.content, 1024).length
        MediaFeatures(
          media_id = m.media_id,
          kind = m.kind,
          size_bytes = m.content.length.toLong,
          sha = StubCodec.sha256(m.content),
          mean_intensity = mean,
          n_frames = frames)
      }
    }
  }

  /** Decode any supported still image to a gray plane accessor:
    * (width, height, (x, y) → 0..255). PNG color collapses channels
    * (alpha excluded) to their mean; GIF/JPEG decode gray directly. */
  private[multimodal] def decodeGrayPlane(b: Array[Byte])
      : Option[(Int, Int, (Int, Int) => Int)] =
    PngCodec.decode(b).map { p =>
      val nc = math.min(p.channels, 3)
      (p.width, p.height, (x: Int, y: Int) => {
        val off = (y * p.width + x) * p.channels
        var s = 0; var i = 0
        while (i < nc) { s += p.pixels(off + i) & 0xff; i += 1 }
        s / nc
      })
    }.orElse(GifCodec.decode(b).map(p =>
      (p.width, p.height,
        (x: Int, y: Int) => p.pixels(y * p.width + x) & 0xff)))
      .orElse(JpegCodec.decode(b).map(p =>
        (p.width, p.height,
          (x: Int, y: Int) => p.pixels(y * p.width + x) & 0xff)))

  /** AREA-AVERAGE resample of a gray plane to (tw, th): each target
    * pixel averages its source rectangle [x·sw/tw, (x+1)·sw/tw) ×
    * [y·sh/th, (y+1)·sh/th) (≥1 source pixel — upscales degrade to
    * nearest-neighbor). The real counterpart of the old stub resize. */
  private[multimodal] def resamplePlane(sw: Int, sh: Int,
      src: (Int, Int) => Int, tw: Int, th: Int): (Int, Int) => Int =
    (x: Int, y: Int) => {
      val x0 = x * sw / tw; val x1 = math.max(x0 + 1, (x + 1) * sw / tw)
      val y0 = y * sh / th; val y1 = math.max(y0 + 1, (y + 1) * sh / th)
      var s = 0; var n = 0; var yy = y0
      while (yy < y1) {
        var xx = x0
        while (xx < x1) { s += src(xx, yy); n += 1; xx += 1 }
        yy += 1
      }
      s / n
    }

  /** Resize stage: payload-to-payload, partition-local. Decodable images
    * (PNG/GIF/JPEG) take the REAL path — pixel decode, area-average
    * resample to (w, h), re-encode as a valid grayscale GIF89a (real
    * LZW; index == intensity, so a downstream decode reads the resized
    * pixels back exactly). Opaque payloads keep the deterministic stub
    * so the stage never drops rows. */
  def resizeAll(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      val real = decodeGrayPlane(m.content).map { case (sw, sh, src) =>
        GifCodec.encodeGray(w, h, resamplePlane(sw, sh, src, w, h))
      }
      m.copy(content = real.getOrElse(StubCodec.resize(m.content, w, h)),
        width = w, height = h)
    })
  }

  /** Image header parser: (format, width, height) from the leading
    * bytes of PNG (IHDR chunk, big-endian), GIF87a/89a (logical screen
    * descriptor, little-endian), and JPEG (marker-segment scan to the
    * first start-of-frame). Hand-written rather than ImageIO because it
    * must read header-only payloads (the q77 fixtures end after the
    * header), on which ImageIO's GIF and JPEG readers throw. */
  object ImageCodec {
    /** (format, width, height) if the payload starts with a recognized
      * image header; None for unknown/truncated/corrupt bytes. */
    def dimensions(b: Array[Byte]): Option[(String, Int, Int)] = {
      def u8(i: Int) = b(i) & 0xff
      def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
      def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
      def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
      if (b.length >= 24 && u8(0) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
          b(3) == 'G' && u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a &&
          u8(7) == 0x0a && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        Some(("png", be32(16), be32(20)))
      else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
          b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
        Some(("gif", le16(6), le16(8)))
      else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
        // walk the marker segments to the first SOFn (C0-CF minus the
        // non-frame C4/C8/CC); dimensions sit at +4 (height), +6 (width)
        // past the marker code. Two legal-JPEG subtleties (ITU T.81
        // §B.1.1.2): (a) any number of extra 0xFF FILL bytes may pad
        // before a marker code — skip them all, don't reject; (b) EOI
        // (0xD9) and SOS (0xDA) carry no frame header after them that
        // this scan may read — EOI has NO length field at all (reading
        // one grabs garbage) and past SOS lies entropy-coded data, so
        // both terminate the walk with "no SOF found".
        var i = 2
        var out: Option[(String, Int, Int)] = None
        var ok = true
        while (ok && out.isEmpty && i + 1 < b.length) {
          if (u8(i) != 0xff) ok = false
          else {
            var j = i + 1
            while (j < b.length && u8(j) == 0xff) j += 1 // consecutive 0xFF = fill
            if (j >= b.length) ok = false
            else {
              val marker = u8(j)
              if (marker == 0x00) ok = false // stuffed byte: not legal before SOS
              else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd8)) i = j + 1
              else if (marker == 0xd9 || marker == 0xda) ok = false // EOI / SOS
              else if (j + 2 >= b.length) ok = false
              else {
                val len = be16(j + 1)
                if (len < 2) ok = false
                else if (marker >= 0xc0 && marker <= 0xcf &&
                    marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
                  if (j + 8 < b.length) out = Some(("jpeg", be16(j + 6), be16(j + 4)))
                  else ok = false // truncated SOF
                } else i = j + 1 + len
              }
            }
          }
        }
        out
      } else None
    }
  }

  /** Decoded raster: `pixels` is row-major, `channels` interleaved
    * bytes per pixel. */
  case class PngPixels(width: Int, height: Int, channels: Int, pixels: Array[Byte])

  /** PNG codec. Decode goes through the JDK's ImageIO PNG reader
    * ([[readFrames]]). Scope: 8-bit greyscale (color type 0) and 8-bit
    * RGB (color type 2), plain or Adam7-interlaced, no alpha and no
    * palette — the formats a training-data pipeline normalizes to;
    * anything else returns None and falls back to the metadata-only
    * path. */
  object PngCodec {
    /** Adam7 pass grid: (xStart, yStart, xStep, yStep). Each pass is an
      * independent sub-image — filtered against its own rows — whose
      * pixels scatter back onto the full grid; passes with zero pixels
      * contribute NO bytes at all (not even filter bytes, per spec). */
    private val Adam7: Seq[(Int, Int, Int, Int)] = Seq(
      (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

    def decode(b: Array[Byte]): Option[PngPixels] =
      readFrames("png", b, maxFrames = 1, accept = t => {
        val cm = t.getColorModel
        !cm.hasAlpha && !cm.isInstanceOf[IndexColorModel] &&
          t.getSampleModel.getSampleSize.forall(_ == 8)
      }) { img =>
        val channels = img.getColorModel.getNumColorComponents
        val planes = Array.tabulate(channels)(plane(img, _))
        val px = new Array[Byte](planes(0).length * channels)
        var i = 0
        while (i < px.length) { px(i) = planes(i % channels)(i / channels); i += 1 }
        PngPixels(img.getWidth, img.getHeight, channels, px)
      }.map(_.head)

    /** Mean pixel intensity in [0, 1]: the same integer sum / (n·255)
      * arithmetic the q85 oracle predicts in closed form. */
    def meanIntensity(p: PngPixels): Double = {
      var s = 0L; var i = 0
      while (i < p.pixels.length) { s += p.pixels(i) & 0xff; i += 1 }
      s.toDouble / (p.pixels.length.toLong * 255.0)
    }

    /** ENCODE a greyscale image as a real PNG using STORED (uncompressed)
      * deflate blocks — structurally a fully-valid PNG (zlib header,
      * adler32, chunk CRCs) whose pixel payload is byte-predictable, so
      * an oracle can compute the decoded statistics arithmetically.
      * Each scanline is forward-filtered, cycling through all four
      * non-trivial filters, so the fixtures make the decoder undo every
      * filter type. */
    def encodeStoredGray(w: Int, h: Int, pixel: (Int, Int) => Int,
                         interlaced: Boolean = false): Array[Byte] = {
      // forward-filter one (sub-)image's scanlines (type byte +
      // filtered bytes per row), cycling all four non-trivial filters
      def filterPass(pw: Int, ph: Int, at: (Int, Int) => Int): Array[Byte] = {
        val stride = pw
        val out = new Array[Byte]((stride + 1) * ph)
        val cur = new Array[Int](stride)
        val prev = new Array[Int](stride)
        var y = 0
        while (y < ph) {
          var x = 0
          while (x < stride) { cur(x) = at(x, y) & 0xff; x += 1 }
          val f = if (y == 0) 1 else (y % 4) + 1 // Sub, then Up/Avg/Paeth/Sub…
          out(y * (stride + 1)) = f.toByte
          x = 0
          while (x < stride) {
            val left = if (x > 0) cur(x - 1) else 0
            val up = if (y > 0) prev(x) else 0
            val ul = if (y > 0 && x > 0) prev(x - 1) else 0
            val pred = f match {
              case 1 => left
              case 2 => up
              case 3 => (left + up) / 2
              case 4 =>
                val p = left + up - ul
                val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
                if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
            }
            out(y * (stride + 1) + 1 + x) = ((cur(x) - pred) & 0xff).toByte
            x += 1
          }
          System.arraycopy(cur, 0, prev, 0, stride)
          y += 1
        }
        out
      }
      val raw =
        if (!interlaced) filterPass(w, h, pixel)
        else {
          // Adam7: each non-empty pass filtered as its own sub-image
          val bos = new java.io.ByteArrayOutputStream()
          for ((x0, y0, dx, dy) <- Adam7) {
            val pw = (w - x0 + dx - 1) / dx; val ph = (h - y0 + dy - 1) / dy
            if (pw > 0 && ph > 0)
              bos.write(filterPass(pw, ph, (x, y) => pixel(x0 + x * dx, y0 + y * dy)))
          }
          bos.toByteArray
        }
      // zlib wrapper with stored deflate blocks + adler32
      val z = new java.io.ByteArrayOutputStream()
      z.write(0x78); z.write(0x01)
      var o = 0
      while (o < raw.length) {
        val n = math.min(65535, raw.length - o)
        val last = o + n >= raw.length
        z.write(if (last) 1 else 0)
        z.write(n & 0xff); z.write((n >> 8) & 0xff)
        z.write(~n & 0xff); z.write((~n >> 8) & 0xff)
        z.write(raw, o, n)
        o += n
      }
      val ad = new java.util.zip.Adler32(); ad.update(raw)
      val a = ad.getValue
      z.write(((a >> 24) & 0xff).toInt); z.write(((a >> 16) & 0xff).toInt)
      z.write(((a >> 8) & 0xff).toInt); z.write((a & 0xff).toInt)
      // assemble chunks
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      def chunk(typ: String, body: Array[Byte]): Unit = {
        val len = body.length
        out.write((len >> 24) & 0xff); out.write((len >> 16) & 0xff)
        out.write((len >> 8) & 0xff); out.write(len & 0xff)
        val tb = typ.getBytes("US-ASCII")
        out.write(tb)
        out.write(body)
        val crc = new java.util.zip.CRC32()
        crc.update(tb); crc.update(body)
        val c = crc.getValue
        out.write(((c >> 24) & 0xff).toInt); out.write(((c >> 16) & 0xff).toInt)
        out.write(((c >> 8) & 0xff).toInt); out.write((c & 0xff).toInt)
      }
      val ihdr = java.nio.ByteBuffer.allocate(13)
      ihdr.putInt(w).putInt(h).put(8.toByte).put(0.toByte) // 8-bit grey
        .put(0.toByte).put(0.toByte)
        .put((if (interlaced) 1 else 0).toByte)
      chunk("IHDR", ihdr.array())
      chunk("IDAT", z.toByteArray)
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }
  }

  /** Decoded GIF frame: grayscale intensities (the palette's R channel
    * per pixel index). */
  case class GifPixels(width: Int, height: Int, pixels: Array[Byte])

  /** GIF codec. Decode goes through the JDK's ImageIO GIF reader
    * ([[readFrames]]) and maps each pixel index to its palette entry's
    * R channel, taken from the image's local color table when it has
    * one, else the global one. The paired encoders generate the oracle
    * fixtures: a 256-entry gray-ramp palette (index == intensity) and
    * real variable-width LZW (dictionary growth, width bumps one entry
    * after the decoder's boundary — giflib's RunningCode > MaxCode1
    * rule — CLEAR at table-full), which that independent decoder must
    * invert exactly. */
  object GifCodec {
    private val MaxCodes = 4096

    /** LSB-first bit writer that packages into ≤255-byte sub-blocks. */
    private final class BitWriter {
      private val bits = new java.io.ByteArrayOutputStream()
      private var cur = 0; private var nBits = 0
      def write(code: Int, width: Int): Unit = {
        var i = 0
        while (i < width) {
          cur |= ((code >> i) & 1) << nBits
          nBits += 1
          if (nBits == 8) { bits.write(cur); cur = 0; nBits = 0 }
          i += 1
        }
      }
      def toSubBlocks: Array[Byte] = {
        if (nBits > 0) { bits.write(cur); cur = 0; nBits = 0 }
        val raw = bits.toByteArray
        val out = new java.io.ByteArrayOutputStream()
        var o = 0
        while (o < raw.length) {
          val n = math.min(255, raw.length - o)
          out.write(n)
          out.write(raw, o, n)
          o += n
        }
        out.write(0) // block terminator
        out.toByteArray
      }
    }

    /** Compress pixel indices as a real GIF-LZW stream (with CLEAR at
      * table-full). Width bumps when `next` EXCEEDS 2^width — one entry
      * after the decoder's `avail == 2^width` bump, which is what keeps
      * the two in lock-step (the decoder learns each table entry one
      * code later than the encoder defines it). */
    private def lzwEncode(minCode: Int, pixels: Array[Byte]): Array[Byte] = {
      val clear = 1 << minCode
      val end = clear + 1
      val w = new BitWriter()
      var width = minCode + 1
      var next = end + 1
      var dict = new java.util.HashMap[Integer, Integer]()
      w.write(clear, width)
      var cur = pixels(0) & 0xff
      var i = 1
      while (i < pixels.length) {
        val c = pixels(i) & 0xff
        val key = (cur << 8) | c
        val hit = dict.get(key)
        if (hit != null) cur = hit
        else {
          w.write(cur, width)
          if (next < MaxCodes) {
            dict.put(key, next)
            next += 1
            if (next > (1 << width) && width < 12) width += 1
          } else { // table full: clear and restart
            w.write(clear, width)
            width = minCode + 1; next = end + 1
            dict = new java.util.HashMap[Integer, Integer]()
          }
          cur = c
        }
        i += 1
      }
      w.write(cur, width)
      w.write(end, width)
      w.toSubBlocks
    }

    def decode(b: Array[Byte]): Option[GifPixels] =
      decodeFrames(b, maxFrames = 1).map(_.head)

    /** Decode up to `maxFrames` image frames of a (possibly animated)
      * GIF, each at its own image-descriptor size; None if any frame
      * before the cap fails to decode. */
    def decodeFrames(b: Array[Byte], maxFrames: Int): Option[Vector[GifPixels]] =
      readFrames("gif", b, maxFrames) { img =>
        val palette = img.getColorModel.asInstanceOf[IndexColorModel]
        GifPixels(img.getWidth, img.getHeight, plane(img, 0, palette.getRed))
      }

    /** Mean pixel intensity in [0, 1] — q85's integer-sum arithmetic. */
    def meanIntensity(p: GifPixels): Double = {
      var s = 0L; var i = 0
      while (i < p.pixels.length) { s += p.pixels(i) & 0xff; i += 1 }
      s.toDouble / (p.pixels.length.toLong * 255.0)
    }

    /** ENCODE a grayscale image as a real GIF89a: 256-entry gray ramp
      * palette (entry i → (i,i,i), so index == intensity), one
      * non-interlaced image, REAL LZW compression. Structurally valid
      * end-to-end, pixel payload byte-predictable for the q88 oracle.
      * `localPalette` moves the ramp from the global color table to a
      * per-image LOCAL color table (no GCT at all) — the layout real
      * multi-image GIFs use, exercising the decoder's LCT-precedence
      * path. */
    def encodeGray(w: Int, h: Int, pixel: (Int, Int) => Int,
                   localPalette: Boolean = false): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("GIF89a".getBytes("US-ASCII"))
      out.write(w & 0xff); out.write((w >> 8) & 0xff)
      out.write(h & 0xff); out.write((h >> 8) & 0xff)
      out.write(if (localPalette) 0x70 else 0xf7) // GCT present unless local
      out.write(0); out.write(0) // background, aspect
      var c = 0
      if (!localPalette)
        while (c < 256) { out.write(c); out.write(c); out.write(c); c += 1 }
      out.write(0x2c) // image descriptor
      out.write(0); out.write(0); out.write(0); out.write(0) // left, top
      out.write(w & 0xff); out.write((w >> 8) & 0xff)
      out.write(h & 0xff); out.write((h >> 8) & 0xff)
      out.write(if (localPalette) 0x87 else 0) // LCT 256 | plain
      c = 0
      if (localPalette)
        while (c < 256) { out.write(c); out.write(c); out.write(c); c += 1 }
      val px = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { px(y * w + x) = (pixel(x, y) & 0xff).toByte; x += 1 }
        y += 1
      }
      out.write(8) // LZW minimum code size
      out.write(lzwEncode(8, px))
      out.write(0x3b) // trailer
      out.toByteArray
    }

    /** ENCODE a real ANIMATED GIF89a: global gray-ramp palette, then per
      * frame a graphic control extension (delay, no transparency) + a
      * full-canvas image descriptor with REAL LZW data — the multi-image
      * layout animated web GIFs use. The GCE blocks exercise the
      * decoder's extension-skip path between frames. */
    def encodeGrayAnimated(w: Int, h: Int, nFrames: Int,
                           pixel: (Int, Int, Int) => Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("GIF89a".getBytes("US-ASCII"))
      out.write(w & 0xff); out.write((w >> 8) & 0xff)
      out.write(h & 0xff); out.write((h >> 8) & 0xff)
      out.write(0xf7) // GCT, 256 entries
      out.write(0); out.write(0) // background, aspect
      var c = 0
      while (c < 256) { out.write(c); out.write(c); out.write(c); c += 1 }
      var f = 0
      while (f < nFrames) {
        out.write(0x21); out.write(0xf9); out.write(4) // GCE
        out.write(0) // no disposal, no transparency
        out.write(5); out.write(0) // 50 ms delay
        out.write(0) // transparent index (unused)
        out.write(0) // block terminator
        out.write(0x2c) // image descriptor, full canvas
        out.write(0); out.write(0); out.write(0); out.write(0)
        out.write(w & 0xff); out.write((w >> 8) & 0xff)
        out.write(h & 0xff); out.write((h >> 8) & 0xff)
        out.write(0) // no LCT, not interlaced
        val px = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { px(y * w + x) = (pixel(f, x, y) & 0xff).toByte; x += 1 }
          y += 1
        }
        out.write(8)
        out.write(lzwEncode(8, px))
        f += 1
      }
      out.write(0x3b)
      out.toByteArray
    }
  }

  /** Decoded WAV audio: sample rate + 16-bit PCM samples (mono). */
  case class WavPcm(sampleRate: Int, samples: Array[Short])

  /** REAL pure-JVM WAV (RIFF) codec — the audio leg of the multimodal
    * mandate, replacing the stubbed byte-sampling: chunk walk (fmt /
    * data, unknown chunks skipped by size incl. the RIFF pad byte),
    * PCM 16-bit mono little-endian. Out of scope → None: compressed
    * formats (audioFormat != 1), multi-channel, other bit depths. */
  object WavCodec {
    def decode(b: Array[Byte]): Option[WavPcm] = try {
      def u8(i: Int) = b(i) & 0xff
      def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
      def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
      if (b.length < 12) return None
      if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F') return None
      if (b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
      var i = 12
      var rate = -1
      var ok = false
      var samples: Array[Short] = null
      while (i + 8 <= b.length && (samples == null || !ok)) {
        val id = new String(b, i, 4, "US-ASCII")
        val size = le32(i + 4)
        if (size < 0 || i + 8 + size > b.length) return None
        id match {
          case "fmt " =>
            if (size < 16) return None
            val fmt = le16(i + 8)
            val channels = le16(i + 10)
            val bits = le16(i + 22)
            if (fmt != 1 || channels != 1 || bits != 16) return None
            rate = le32(i + 12)
            ok = true
          case "data" =>
            if (size % 2 != 0) return None
            val n = size / 2
            val out = new Array[Short](n)
            var j = 0
            while (j < n) {
              out(j) = (u8(i + 8 + 2 * j) | (b(i + 9 + 2 * j) << 8)).toShort
              j += 1
            }
            samples = out
          case _ => // skip unknown chunk
        }
        i += 8 + size + (size & 1) // chunks are word-aligned (pad byte)
      }
      if (ok && rate > 0 && samples != null) Some(WavPcm(rate, samples)) else None
    } catch { case _: Exception => None }

    /** ENCODE mono PCM16 as a complete valid RIFF/WAVE file. */
    def encodePcm16(rate: Int, samples: Array[Short]): Array[Byte] = {
      val dataSize = samples.length * 2
      val out = new java.io.ByteArrayOutputStream()
      def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
      out.write("RIFF".getBytes("US-ASCII")); le32(36 + dataSize)
      out.write("WAVE".getBytes("US-ASCII"))
      out.write("fmt ".getBytes("US-ASCII")); le32(16)
      le16(1); le16(1) // PCM, mono
      le32(rate); le32(rate * 2) // byte rate
      le16(2); le16(16) // block align, bits
      out.write("data".getBytes("US-ASCII")); le32(dataSize)
      samples.foreach(s => le16(s & 0xffff))
      out.toByteArray
    }
  }

  /** Decoded JPEG frame: grayscale samples. */
  case class JpegPixels(width: Int, height: Int, pixels: Array[Byte])

  /** Baseline JPEG codec. Decode goes through the JDK's ImageIO JPEG
    * reader ([[readFrames]]). The paired encoders generate the oracle
    * fixtures with the real forward pipeline (replicate-pad, FDCT,
    * quantize, zigzag, canonical Huffman, stuffing) and simple flat
    * canonical tables — legal JPEG: any complete DHT spec is valid, and
    * a decoder reads whatever the file declares. DC-only
    * (block-constant) images survive FDCT→IDCT bit-exactly, which is
    * what makes the q89 oracle closed-form; noisy round-trips through
    * that independent decoder are bounded by quantization rounding only
    * (all-ones quant table), property-tested at ±2. */
  object JpegCodec {
    /** zigzag[k] = natural (row-major) index of the k-th coefficient in
      * zigzag scan order — generated by the diagonal walk. */
    private val Zigzag: Array[Int] = {
      val z = new Array[Int](64)
      var k = 0
      for (s <- 0 until 15) { // anti-diagonals, alternating direction
        val range = math.max(0, s - 7) to math.min(7, s)
        val diag = if (s % 2 == 0) range.reverse else range
        for (y <- diag) { z(k) = y * 8 + (s - y); k += 1 }
      }
      z
    }

    /** Flat canonical Huffman specs (bits-per-length counts + symbol
      * order). DC: 12 symbols, all 4-bit codes; AC: 162 symbols (EOB,
      * ZRL, run 0-15 × size 1-10), all 8-bit codes. Deliberately NOT
      * the Annex K tables: compression is irrelevant here and the
      * decoder must work from the DHT bytes alone. */
    private val DcBits: Array[Int] = Array.tabulate(17)(l => if (l == 4) 12 else 0)
    private val DcVals: Array[Int] = (0 to 11).toArray
    private val AcBits: Array[Int] = Array.tabulate(17)(l => if (l == 8) 162 else 0)
    private val AcVals: Array[Int] = {
      val syms = Array.newBuilder[Int]
      syms += 0x00 // EOB
      syms += 0xf0 // ZRL
      for (run <- 0 to 15; size <- 1 to 10) syms += (run << 4) | size
      syms.result()
    }

    /** Canonical code assignment (spec C.2): symbol → (code, length). */
    private def buildEncodeTable(bits: Array[Int], vals: Array[Int]): Array[(Int, Int)] = {
      val out = new Array[(Int, Int)](256)
      var code = 0; var k = 0
      for (len <- 1 to 16) {
        var i = 0
        while (i < bits(len)) { out(vals(k)) = (code, len); code += 1; k += 1; i += 1 }
        code <<= 1
      }
      out
    }

    /** MSB-first writer with byte stuffing; 1-fill on flush (spec). */
    private final class JBitWriter(out: java.io.ByteArrayOutputStream) {
      private var cur = 0; private var nBits = 0
      def write(code: Int, len: Int): Unit = {
        var i = len - 1
        while (i >= 0) {
          cur = (cur << 1) | ((code >> i) & 1); nBits += 1
          if (nBits == 8) {
            out.write(cur)
            if (cur == 0xff) out.write(0x00)
            cur = 0; nBits = 0
          }
          i -= 1
        }
      }
      def flush(): Unit = if (nBits > 0) write((1 << (8 - nBits)) - 1, 8 - nBits)
    }

    /** cos((2x+1)·u·π/16) and the DC 1/√2 normalizer, tabulated once —
      * the separable row/column passes of `fdct` never call math.cos:
      * the 2D transform factors into two 8-point passes, O(2·8³)
      * multiplies per block instead of the direct form's O(8⁴). */
    private val CosT: Array[Array[Double]] =
      Array.tabulate(8, 8)((u, x) => math.cos((2 * x + 1) * u * math.Pi / 16))
    private val Cn: Array[Double] =
      Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2) else 1.0)

    private def fdct(px: Array[Double]): Array[Double] = {
      val tmp = new Array[Double](64) // tmp(y*8+u) = Σ_x px(y,x)·cos(u,x)
      var y = 0
      while (y < 8) {
        var u = 0
        while (u < 8) {
          var s = 0.0
          var x = 0
          while (x < 8) { s += px(y * 8 + x) * CosT(u)(x); x += 1 }
          tmp(y * 8 + u) = s
          u += 1
        }
        y += 1
      }
      val out = new Array[Double](64)
      var v = 0
      while (v < 8) {
        var u = 0
        while (u < 8) {
          var s = 0.0
          var w = 0
          while (w < 8) { s += tmp(w * 8 + u) * CosT(v)(w); w += 1 }
          out(v * 8 + u) = s * Cn(u) * Cn(v) / 4.0
          u += 1
        }
        v += 1
      }
      out
    }

    /** Grayscale decode — 1-component files only (the q89 contract);
      * color files go through `decodeColor`. */
    def decode(b: Array[Byte]): Option[JpegPixels] =
      readFrames("jpeg", b, maxFrames = 1,
          accept = _.getSampleModel.getNumBands == 1) { img =>
        JpegPixels(img.getWidth, img.getHeight, plane(img, 0))
      }.map(_.head)

    /** Decoded color frame: full-resolution R/G/B sample planes. */
    case class JpegColor(width: Int, height: Int,
                         r: Array[Byte], g: Array[Byte], b: Array[Byte])

    /** Color decode: 3-component YCbCr (any sampling, incl. 4:2:0) → RGB
      * by the reader's JFIF conversion; grayscale files map to
      * R=G=B=Y. */
    def decodeColor(bytes: Array[Byte]): Option[JpegColor] =
      readFrames("jpeg", bytes, maxFrames = 1) { img =>
        val w = img.getWidth; val h = img.getHeight
        if (img.getRaster.getNumBands == 1) {
          val y = plane(img, 0)
          JpegColor(w, h, y, y, y)
        } else JpegColor(w, h, plane(img, 0), plane(img, 1), plane(img, 2))
      }.map(_.head)

    /** Mean pixel intensity in [0, 1] — the shared integer-sum form. */
    def meanIntensity(p: JpegPixels): Double = {
      var s = 0L; var i = 0
      while (i < p.pixels.length) { s += p.pixels(i) & 0xff; i += 1 }
      s.toDouble / (p.pixels.length.toLong * 255.0)
    }

    /** ENCODE grayscale baseline JPEG: real FDCT + quantize (all-ones
      * table: near-lossless, rounding only) + zigzag + canonical
      * Huffman + byte stuffing. Edge blocks replicate-pad. */
    def encodeGrayBaseline(w: Int, h: Int, pixel: (Int, Int) => Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
      def seg(m: Int, body: Array[Int]): Unit = {
        marker(m)
        val len = body.length + 2
        out.write((len >> 8) & 0xff); out.write(len & 0xff)
        body.foreach(v => out.write(v & 0xff))
      }
      marker(0xd8) // SOI
      seg(0xdb, 0 +: Array.fill(64)(1)) // DQT id 0, all ones
      seg(0xc0, Array(8, (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff,
        1, 1, 0x11, 0)) // SOF0: 1 component, 1x1, qt 0
      seg(0xc4, 0x00 +: (DcBits.drop(1) ++ DcVals)) // DHT DC 0
      seg(0xc4, 0x10 +: (AcBits.drop(1) ++ AcVals)) // DHT AC 0
      seg(0xda, Array(1, 1, 0x00, 0, 63, 0)) // SOS
      val dcEnc = buildEncodeTable(DcBits, DcVals)
      val acEnc = buildEncodeTable(AcBits, AcVals)
      val bwl = new JBitWriter(out)
      val bw = (w + 7) / 8; val bh = (h + 7) / 8
      var dcPred = 0
      val blockPx = new Array[Double](64)
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw) {
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val sx = math.min(bx * 8 + x, w - 1) // replicate-pad edges
              val sy = math.min(by * 8 + y, h - 1)
              blockPx(y * 8 + x) = (pixel(sx, sy) & 0xff) - 128.0
              x += 1
            }
            y += 1
          }
          dcPred = writeBlock(bwl, blockPx, dcPred, dcEnc, acEnc)
          bx += 1
        }
        by += 1
      }
      bwl.flush()
      marker(0xd9) // EOI
      out.toByteArray
    }

    /** FDCT → quantize (all-ones table: rounding only) → zigzag →
      * canonical Huffman for one level-shifted 8×8 block; returns the
      * block's quantized DC (the next block's predictor). AC magnitudes
      * clamp to ±1023: baseline SSSS tops out at 10 bits, and the
      * all-ones quant table doesn't shrink extreme coefficients the way
      * a real table would — unreachable for the synthetic fixtures. */
    private def writeBlock(bwl: JBitWriter, blockPx: Array[Double], dcPred: Int,
                           dcEnc: Array[(Int, Int)], acEnc: Array[(Int, Int)]): Int = {
      def sizeOf(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
      def writeMag(v: Int, size: Int): Unit =
        if (size > 0) bwl.write(if (v < 0) v + (1 << size) - 1 else v, size)
      val coef = fdct(blockPx)
      val q = Array.tabulate(64) { k =>
        val v = math.round(coef(Zigzag(k))).toInt
        if (k == 0) v else math.max(-1023, math.min(1023, v))
      }
      val diff = q(0) - dcPred
      val ds = sizeOf(diff)
      val (dc, dl) = dcEnc(ds)
      bwl.write(dc, dl); writeMag(diff, ds)
      var k = 1
      var zeros = 0
      while (k < 64) {
        if (q(k) == 0) zeros += 1
        else {
          while (zeros > 15) { val (c, l) = acEnc(0xf0); bwl.write(c, l); zeros -= 16 }
          val s = sizeOf(q(k))
          val (c, l) = acEnc((zeros << 4) | s)
          bwl.write(c, l); writeMag(q(k), s)
          zeros = 0
        }
        k += 1
      }
      if (zeros > 0) { val (c, l) = acEnc(0x00); bwl.write(c, l) } // EOB
      q(0)
    }

    /** ENCODE a 3-component 4:2:0 YCbCr baseline JPEG — the web-dominant
      * layout: Y sampled 2×2 per MCU, chroma 1×1 (quarter resolution),
      * separate luma/chroma quant (0/1, both all-ones) and Huffman
      * (DC0/AC0, DC1/AC1) tables, one interleaved scan of
      * [Y₀Y₁Y₂Y₃ Cb Cr] MCUs with per-component DC prediction. Luma is
      * per-pixel; chroma is CONSTANT per image (`cb`/`cr`) — the
      * fixture-generator simplification that keeps the decoded output
      * closed-form: a constant plane is invariant under box
      * downsampling, survives FDCT→IDCT bit-exactly, and makes the
      * reconstruction independent of the upsampling kernel. Dimensions
      * must be multiples of 16 so every block is fully visible. */
    def encodeColor420Baseline(w: Int, h: Int, yPix: (Int, Int) => Int,
                               cb: Int, cr: Int): Array[Byte] = {
      require(w % 16 == 0 && h % 16 == 0,
        s"fixture encoder: dimensions must be multiples of 16, got ${w}x$h")
      val out = new java.io.ByteArrayOutputStream()
      def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
      def seg(m: Int, body: Array[Int]): Unit = {
        marker(m)
        val len = body.length + 2
        out.write((len >> 8) & 0xff); out.write(len & 0xff)
        body.foreach(v => out.write(v & 0xff))
      }
      marker(0xd8) // SOI
      seg(0xdb, 0 +: Array.fill(64)(1)) // DQT 0 (luma), all ones
      seg(0xdb, 1 +: Array.fill(64)(1)) // DQT 1 (chroma), all ones
      seg(0xc0, Array(8, (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff,
        3, // SOF0: 3 components
        1, 0x22, 0, // Y: 2x2 sampling, qt 0
        2, 0x11, 1, // Cb: 1x1, qt 1
        3, 0x11, 1)) // Cr: 1x1, qt 1
      seg(0xc4, 0x00 +: (DcBits.drop(1) ++ DcVals)) // DHT DC 0 (luma)
      seg(0xc4, 0x10 +: (AcBits.drop(1) ++ AcVals)) // DHT AC 0
      seg(0xc4, 0x01 +: (DcBits.drop(1) ++ DcVals)) // DHT DC 1 (chroma)
      seg(0xc4, 0x11 +: (AcBits.drop(1) ++ AcVals)) // DHT AC 1
      seg(0xda, Array(3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0)) // SOS
      val dcEnc = buildEncodeTable(DcBits, DcVals)
      val acEnc = buildEncodeTable(AcBits, AcVals)
      val bwl = new JBitWriter(out)
      val blockPx = new Array[Double](64)
      val cbBlock = Array.fill(64)((cb & 0xff) - 128.0)
      val crBlock = Array.fill(64)((cr & 0xff) - 128.0)
      var predY = 0; var predCb = 0; var predCr = 0
      val mcusX = w / 16; val mcusY = h / 16
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          var bv = 0
          while (bv < 2) { // 4 luma blocks, raster order within the MCU
            var bhz = 0
            while (bhz < 2) {
              val ox = mx * 16 + bhz * 8; val oy = my * 16 + bv * 8
              var y = 0
              while (y < 8) {
                var x = 0
                while (x < 8) {
                  blockPx(y * 8 + x) = (yPix(ox + x, oy + y) & 0xff) - 128.0
                  x += 1
                }
                y += 1
              }
              predY = writeBlock(bwl, blockPx, predY, dcEnc, acEnc)
              bhz += 1
            }
            bv += 1
          }
          predCb = writeBlock(bwl, cbBlock, predCb, dcEnc, acEnc)
          predCr = writeBlock(bwl, crBlock, predCr, dcEnc, acEnc)
          mx += 1
        }
        my += 1
      }
      bwl.flush()
      marker(0xd9) // EOI
      out.toByteArray
    }
  }

  /** Parsed header row — fixed-width, shuffle-friendly. */
  case class MediaHeader(media_id: Long, format: String, width: Int, height: Int)

  /** Header parse over a (media_id, content: binary) frame: the same
    * partition-local mapPartitions shape as `extractFeatures` (one codec
    * init per partition), with the REAL `ImageCodec` doing the byte
    * work. Unrecognized payloads map to ("unknown", -1, -1) instead of
    * failing the job — corrupt media is data, not an error. */
  def parseHeaders(media: DataFrame): Dataset[MediaHeader] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition codec init would go here (expensive handle reuse)
        rows.map { case (id, bytes) =>
          val (f, w, h) = ImageCodec.dimensions(bytes).getOrElse(("unknown", -1, -1))
          MediaHeader(id, f, w, h)
        }
      }
  }

  /** Deterministic VALID image payloads from `documents` (the sandbox
    * ships no binary fixtures): every row gets a structurally-correct
    * PNG, GIF89a, or JPEG(JFIF+SOF0) header blob whose dimensions are
    * arithmetic in (doc_id, n_chars) — so the DuckDB oracle can predict
    * exactly what the REAL parser must extract from the bytes. Payload
    * construction is pure codegen'd expressions (hex/unhex/concat). */
  def synthHeaders(docs: DataFrame): DataFrame = {
    val w = (col("doc_id") % 1024 + 16).cast("int")
    val h = (col("n_chars") % 768 + 16).cast("int")
    val w32 = lpad(hex(w), 8, "0"); val h32 = lpad(hex(h), 8, "0")
    val w16 = lpad(hex(w), 4, "0"); val h16 = lpad(hex(h), 4, "0")
    def le(hx: Column): Column = concat(substring(hx, 3, 2), substring(hx, 1, 2))
    val png = unhex(concat(lit("89504E470D0A1A0A0000000D49484452"),
      w32, h32, lit("0806000000")))
    val gif = unhex(concat(lit("474946383961"), le(w16), le(h16), lit("F70000")))
    val jpg = unhex(concat(
      lit("FFD8FFE000104A46494600010100000100010000FFC0001108"),
      h16, w16, lit("03012200021101031101")))
    docs.select(col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, png)
        .when(col("doc_id") % 3 === 1, gif)
        .otherwise(jpg).as("content"))
  }

  /** Deterministic VALID full PNGs from `documents`: every row gets a
    * real greyscale PNG (stored-deflate IDAT, correct adler32 + chunk
    * CRCs, scanlines forward-filtered through Sub/Up/Average/Paeth)
    * whose pixel values are arithmetic in doc_id — pixel(x, y) =
    * doc_id%200 + y, constant per row, no mod-256 wrap by construction
    * (≤ 199+18). The q85 oracle predicts the decoded mean intensity in
    * closed form, so the full decode (inflate, every scanline filter,
    * Adam7) is what's under test. Width/height are intentionally small
    * (≤35×19): the point is filter/codec coverage per row, not pixel
    * volume. */
  def synthPngs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    spread(docs).select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { d =>
        val w = (d % 32 + 4).toInt; val h = (d % 16 + 4).toInt
        val a = (d % 200).toInt
        // every third PNG is Adam7-interlaced: same pixels (the oracle
        // is layout-independent), so the deinterlace path runs inside
        // the oracle-gated q85 pipeline, exact-pixel-gated in the spec
        (d, PngCodec.encodeStoredGray(w, h, (_, y) => a + y,
          interlaced = d % 3 == 0))
      }
    }.toDF("media_id", "content")
  }

  /** Deterministic VALID full GIFs from `documents`: every row gets a
    * real GIF89a (256-entry gray-ramp palette, REAL LZW-compressed
    * image data) whose pixel indices are arithmetic in doc_id —
    * pixel(x, y) = doc_id%64 + x + y ≤ 63+34+18 < 256, no wrap. The
    * q88 oracle predicts the decoded mean intensity in closed form, so
    * the LZW decode + palette mapping is what's under test. The
    * incrementing-pixel pattern builds real dictionary chains; the
    * random round-trip property test covers the rest (KwKwK, width
    * bumps, table-full CLEAR). */
  def synthGifs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    spread(docs).select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { d =>
        val w = (d % 32 + 4).toInt; val h = (d % 16 + 4).toInt
        val a = (d % 64).toInt
        // every third GIF carries its palette as a LOCAL color table
        // (no GCT), so the LCT-precedence path runs inside the
        // oracle-gated q88 pipeline
        (d, GifCodec.encodeGray(w, h, (x, y) => a + x + y,
          localPalette = d % 3 == 0))
      }
    }.toDF("media_id", "content")
  }

  /** Deterministic ANIMATED GIFs from `documents`: doc_id%4+2 frames on
    * the q88 canvas, frame f pixel = doc_id%64 + 7f + x + y (max
    * 63 + 21 + 46 < 256 — no clamp, so the closed-form oracle holds per
    * frame). */
  def synthAnimatedGifs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    spread(docs).select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { d =>
        val w = (d % 32 + 4).toInt; val h = (d % 16 + 4).toInt
        val a = (d % 64).toInt; val nf = (d % 4 + 2).toInt
        (d, GifCodec.encodeGrayAnimated(w, h, nf,
          (f, x, y) => a + 7 * f + x + y))
      }
    }.toDF("media_id", "content")
  }

  /** Deterministic real WAVs from `documents`: mono PCM16 at 8 kHz,
    * N = doc_id%1000+500 samples of an integer sawtooth with period
    * P = doc_id%50+10 and amplitude A = (doc_id%8+1)·1000:
    * s_i = ((i mod P)·2A) DIV P − A — pure integer arithmetic, so the
    * oracle can regenerate the identical samples. */
  def synthWavs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    spread(docs).select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { d =>
        val n = (d % 1000 + 500).toInt
        val p = (d % 50 + 10).toInt
        val a = ((d % 8 + 1) * 1000).toInt
        val s = Array.tabulate(n)(i => (((i % p) * 2 * a) / p - a).toShort)
        (d, WavCodec.encodePcm16(8000, s))
      }
    }.toDF("media_id", "content")
  }

  /** WAV feature row: duration, peak, RMS, zero-crossing count. */
  case class WavStats(media_id: Long, n_samples: Int, duration_ms: Long,
                      peak: Int, rms: Double, zero_crossings: Long)

  /** Audio FEATURE EXTRACTION over WAV blobs (the multimodal mandate's
    * audio leg, real codec not stub): per file — sample count, integer
    * duration, peak |amplitude|, RMS (the one double, sqrt of an exact
    * integer mean), and strict sign-change zero crossings. Partition-
    * local, no shuffle — the decodeGifs codec shape. */
  def wavFeatures(media: DataFrame): Dataset[WavStats] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        WavCodec.decode(bytes) match {
          case Some(w) =>
            val n = w.samples.length
            var peak = 0; var sumSq = 0L; var zc = 0L
            var i = 0
            while (i < n) {
              val v = w.samples(i).toInt
              if (math.abs(v) > peak) peak = math.abs(v)
              sumSq += v.toLong * v
              if (i > 0 && w.samples(i - 1).toInt * v < 0) zc += 1
              i += 1
            }
            WavStats(id, n, n * 1000L / w.sampleRate, peak,
              math.sqrt(sumSq.toDouble / n), zc)
          case None => WavStats(id, -1, -1L, -1, -1.0, -1L)
        }
      })
  }

  /** Burst-pattern WAVs for the silence-segmentation gate: the q117
    * sawtooth, but every other S-sample stretch is pure silence, with
    * S = (doc_id%4+1)·200 — up to 800-sample silences, so silent-frame
    * RUNS reach 4-5 consecutive frames and the run-length logic does
    * real work. Integer-exact, so the oracle regenerates the identical
    * samples. */
  def synthBurstWavs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    spread(docs).select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { d =>
        val n = (d % 1000 + 500).toInt
        val p = (d % 50 + 10).toInt
        val a = ((d % 8 + 1) * 1000).toInt
        val stretch = ((d % 4 + 1) * 200).toInt
        val s = Array.tabulate(n) { i =>
          if ((i / stretch) % 2 == 1) 0.toShort
          else (((i % p) * 2 * a) / p - a).toShort
        }
        (d, WavCodec.encodePcm16(8000, s))
      }
    }.toDF("media_id", "content")
  }

  /** Silence-segmentation row: 160-sample frame energies classified. */
  case class VadStats(media_id: Long, n_frames: Int, n_silent: Int,
                      longest_silent_run: Int, total_energy: Long)

  /** Frame-energy silence segmentation (VAD-lite) over WAV blobs: decode
    * PCM, cut FULL 160-sample frames, exact integer energy per frame,
    * silent = zero energy; report frame counts, the longest consecutive
    * silent run, and total energy. Partition-local, no shuffle. */
  def vadFeatures(media: DataFrame): Dataset[VadStats] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        WavCodec.decode(bytes) match {
          case Some(w) =>
            val nf = w.samples.length / 160
            var silent = 0; var run = 0; var best = 0; var total = 0L
            var j = 0
            while (j < nf) {
              var e = 0L; var i = j * 160
              val end = i + 160
              while (i < end) {
                val v = w.samples(i).toInt; e += v.toLong * v; i += 1
              }
              total += e
              if (e == 0L) { silent += 1; run += 1; if (run > best) best = run }
              else run = 0
              j += 1
            }
            VadStats(id, nf, silent, best, total)
          case None => VadStats(id, -1, -1, -1, -1L)
        }
      })
  }

  /** Frame-sample statistics row: every `stride`-th frame decoded. */
  case class GifFrameStats(media_id: Long, width: Int, height: Int,
                           n_frames: Int, n_sampled: Int, mean_intensity: Double)

  /** FRAME-SAMPLE over animated GIFs (the multimodal mandate's
    * frame-sample op): decode ALL frames partition-locally (real LZW per
    * frame), keep every `stride`-th, and report the pooled mean
    * intensity of the sampled frames — exact integer sums, one final
    * division. Same no-shuffle codec shape as `decodeGifs`. */
  def sampleGifFrames(media: DataFrame, stride: Int): Dataset[GifFrameStats] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        GifCodec.decodeFrames(bytes, maxFrames = 1024) match {
          case Some(frames) =>
            val sampled = frames.zipWithIndex.collect {
              case (p, f) if f % stride == 0 => p
            }
            var s = 0L
            sampled.foreach { p =>
              var i = 0
              while (i < p.pixels.length) { s += p.pixels(i) & 0xff; i += 1 }
            }
            val w = frames.head.width; val h = frames.head.height
            GifFrameStats(id, w, h, frames.length, sampled.length,
              s.toDouble / (sampled.length.toLong * w * h * 255.0))
          case None => GifFrameStats(id, -1, -1, -1, -1, -1.0)
        }
      })
  }

  /** Box-average downsample by factor `k` (grayscale): each output
    * pixel is the integer mean (floor) of its k×k input block; trailing
    * rows/columns that don't fill a block are dropped. Pure integer
    * arithmetic — the resize leg of the multimodal mandate. */
  def boxDownsample(p: GifPixels, k: Int): GifPixels = {
    val ow = p.width / k; val oh = p.height / k
    val out = new Array[Byte](ow * oh)
    var by = 0
    while (by < oh) {
      var bx = 0
      while (bx < ow) {
        var s = 0; var dy = 0
        while (dy < k) {
          var dx = 0
          while (dx < k) {
            s += p.pixels((by * k + dy) * p.width + (bx * k + dx)) & 0xff
            dx += 1
          }
          dy += 1
        }
        out(by * ow + bx) = (s / (k * k)).toByte
        bx += 1
      }
      by += 1
    }
    GifPixels(ow, oh, out)
  }

  /** Even-dimension single-frame GIFs for the resize gate: w in 4..34,
    * h in 4..18 (both always even so 2× blocks tile exactly), pixel
    * a + x + y. */
  def synthEvenGifs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    spread(docs).select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { d =>
        val w = ((d % 16 + 2) * 2).toInt; val h = ((d % 8 + 2) * 2).toInt
        val a = (d % 64).toInt
        (d, GifCodec.encodeGray(w, h, (x, y) => a + x + y))
      }
    }.toDF("media_id", "content")
  }

  /** Resize statistics row. */
  case class ResizeStats(media_id: Long, width: Int, height: Int,
                         out_width: Int, out_height: Int, mean_intensity: Double)

  /** Decode + 2× box downsample + stats, partition-local. */
  def resizeGifs(media: DataFrame, k: Int): Dataset[ResizeStats] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        GifCodec.decode(bytes) match {
          case Some(p) =>
            val r = boxDownsample(p, k)
            ResizeStats(id, p.width, p.height, r.width, r.height,
              GifCodec.meanIntensity(r))
          case None => ResizeStats(id, -1, -1, -1, -1, -1.0)
        }
      })
  }

  /** Decoded-GIF statistics row. */
  case class GifStats(media_id: Long, width: Int, height: Int, mean_intensity: Double)

  /** Full GIF pixel decode: partition-local mapPartitions, REAL LZW via
    * `GifCodec`. Undecodable payloads map to (-1, -1, -1.0). */
  def decodeGifs(media: DataFrame): Dataset[GifStats] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        GifCodec.decode(bytes) match {
          case Some(p) => GifStats(id, p.width, p.height, GifCodec.meanIntensity(p))
          case None => GifStats(id, -1, -1, -1.0)
        }
      })
  }

  /** 8×8 average-hash fingerprint of one decoded image (q122). */
  case class PerceptualHash(media_id: Long, phash: String, n_above: Int)

  /** Perceptual average-hash (aHash) over REAL decoded GIF pixels: each
    * pixel lands in fixed-grid bucket `(y*8/h, x*8/w)`; bit b is 1 iff
    * bucket b's mean exceeds the image mean, decided by the
    * integer-exact cross-multiply `sum_b * (w*h) > total_sum * count_b`
    * so the oracle's relational recomputation matches bit-for-bit (no
    * float thresholds). Buckets with no pixels (w<8 or h<8) are 0 on
    * both sides. Per-image local kernel → map-only plan, no exchange;
    * the downstream near-dup grouping is a plain hash groupBy on the
    * 64-char hash — the image analog of q28's exact text dedup, and the
    * standard first pass of an image-corpus dedup pipeline. */
  def perceptualHashes(media: DataFrame): Dataset[PerceptualHash] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        GifCodec.decode(bytes) match {
          case Some(p) =>
            val (ph, nAbove) = aHash64(p.width, p.height, p.pixels)
            PerceptualHash(id, ph, nAbove)
          case None => PerceptualHash(id, "", -1)
        }
      })
  }

  /** The integer-exact 8×8 aHash kernel shared by every modality's
    * fingerprint leg (GIF images in q122/q139, decoded video keyframes
    * in q188): fixed-grid bucket means vs the image mean, decided by
    * cross-multiplication so no float threshold can diverge from the
    * oracle's relational recomputation. */
  private[multimodal] def aHash64(w: Int, h: Int,
                                  pixels: Array[Byte]): (String, Int) = {
    val sums = new Array[Long](64); val cnts = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < w * h) {
      val x = i % w; val y = i / w
      val v = (pixels(i) & 0xff).toLong
      val b = (y * 8 / h) * 8 + (x * 8 / w)
      sums(b) += v; cnts(b) += 1; total += v
      i += 1
    }
    val tc = w.toLong * h
    val sb = new java.lang.StringBuilder(64)
    var nAbove = 0
    var j = 0
    while (j < 64) {
      val bit = cnts(j) > 0 && sums(j) * tc > total * cnts(j)
      sb.append(if (bit) '1' else '0')
      if (bit) nAbove += 1
      j += 1
    }
    (sb.toString, nAbove)
  }

  /** Per-audio acoustic fingerprint row (q189): the energy-delta-sign
    * bit string over fixed 160-sample frames. */
  case class AudioFingerprint(media_id: Long, afp: String, n_frames: Int)

  /** ACOUSTIC FINGERPRINT over REAL decoded PCM — the audio analog of
    * the image aHash: frame the signal into fixed 160-sample windows,
    * take each frame's integer energy (sum of squares, exact in Long),
    * and emit bit f = 1 iff energy(f+1) > energy(f) — the classic
    * energy-delta-sign fingerprint (the shape under Shazam-style
    * landmark hashing, reduced to its sign skeleton so the gate is
    * integer-exact). Per-row local kernel, map-only; near-dup grouping
    * downstream is banded Hamming on the bit string, identical in shape
    * to q139's image leg. Undecodable payloads → ("", -1). */
  def audioFingerprints(media: DataFrame): Dataset[AudioFingerprint] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        WavCodec.decode(bytes) match {
          case Some(p) =>
            val frame = 160
            val nf = p.samples.length / frame
            val energy = new Array[Long](nf)
            var f = 0
            while (f < nf) {
              var s = 0L; var i = f * frame
              val end = i + frame
              while (i < end) {
                val v = p.samples(i).toLong; s += v * v; i += 1
              }
              energy(f) = s
              f += 1
            }
            val sb = new java.lang.StringBuilder(math.max(nf - 1, 0))
            var k = 1
            while (k < nf) {
              sb.append(if (energy(k) > energy(k - 1)) '1' else '0')
              k += 1
            }
            AudioFingerprint(id, sb.toString, nf)
          case None => AudioFingerprint(id, "", -1)
        }
      })
  }

  /** Deterministic stepped-amplitude WAV fixtures for the acoustic
    * near-dup gate (q189): docs cluster in groups of 4 (g = doc_id −
    * doc_id%4, member m = doc_id%4). 33 frames of 160 constant-valued
    * samples walk amplitude A(0)=500, A(f+1)=A(f)±15, the sign chosen
    * by bit(f) = ((3f + g%89) % 7 < 3) XOR (f < m) — so the decoded
    * energy-delta fingerprint is exactly that closed-form 32-bit
    * string, members of one group sit Hamming |m1−m2| ∈ {1,2,3} apart,
    * and the oracle never has to model PCM at all. */
  def synthSteppedWavs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    spread(docs).select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { d =>
        val g = d - d % 4; val m = (d % 4).toInt
        val bits = Array.tabulate(32) { f =>
          (((3 * f + (g % 89)) % 7 < 3) != (f < m))
        }
        val samples = new Array[Short](33 * 160)
        var a = 500
        var f = 0
        while (f < 33) {
          java.util.Arrays.fill(samples, f * 160, (f + 1) * 160, a.toShort)
          if (f < 32) a += (if (bits(f)) 15 else -15)
          f += 1
        }
        (d, WavCodec.encodePcm16(16000, samples))
      }
    }.toDF("media_id", "content")
  }

  /** Deterministic VALID baseline JPEGs from `documents`: every row gets
    * a real grayscale JPEG whose pixels are CONSTANT PER 8×8 BLOCK —
    * pixel in block (bx, by) = doc_id%128 + 3·bx + 5·by ≤ 127+9+5.
    * Block-constant images are the one JPEG input that survives
    * FDCT→quantize→IDCT bit-exactly (all AC coefficients are exactly
    * zero; DC is an exact multiple of 8), so the q89 oracle can predict
    * the decoded mean intensity in closed form even though the encoder
    * runs the full lossy pipeline. Dimensions are multiples of 8
    * (8..32 × 8..16) so every block is fully visible; the cropping path
    * is covered by the round-trip property test instead. */
  def synthJpegs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    spread(docs).select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { d =>
        val w = ((d % 4 + 1) * 8).toInt; val h = ((d % 2 + 1) * 8).toInt
        val a = (d % 128).toInt
        (d, JpegCodec.encodeGrayBaseline(w, h,
          (x, y) => a + 3 * (x / 8) + 5 * (y / 8)))
      }
    }.toDF("media_id", "content")
  }

  /** Deterministic VALID 4:2:0 color baseline JPEGs from `documents`:
    * luma is CONSTANT PER 8×8 BLOCK (Y in block (bx,by) =
    * doc_id%128 + 3·bx + 5·by, same pattern as the grayscale fixtures),
    * chroma is constant per image (Cb = doc_id%96+80,
    * Cr = (7·doc_id)%96+80). Block-constant planes survive the lossy
    * pipeline bit-exactly AND make the reconstruction independent of
    * the chroma upsampling kernel, so the q96 oracle predicts the
    * decoded per-channel means in closed form even though decode runs
    * the full interleaved-MCU + YCbCr→RGB pipeline. Dimensions are
    * multiples of 16 (16/32 × 16) so every luma and chroma block is
    * fully visible. */
  def synthColorJpegs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    spread(docs).select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { d =>
        val w = ((d % 2 + 1) * 16).toInt; val h = 16
        val a = (d % 128).toInt
        val cb = (d % 96 + 80).toInt
        val cr = ((d * 7) % 96 + 80).toInt
        (d, JpegCodec.encodeColor420Baseline(w, h,
          (x, y) => a + 3 * (x / 8) + 5 * (y / 8), cb, cr))
      }
    }.toDF("media_id", "content")
  }

  /** Decoded-JPEG statistics row. */
  case class JpegStats(media_id: Long, width: Int, height: Int, mean_intensity: Double)

  /** Decoded-color-JPEG statistics row: per-channel mean in [0,1]. */
  case class JpegColorStats(media_id: Long, width: Int, height: Int,
                            mean_r: Double, mean_g: Double, mean_b: Double)

  /** Full baseline JPEG decode: partition-local mapPartitions, REAL
    * Huffman+IDCT via `JpegCodec`. Undecodable payloads → (-1,-1,-1). */
  def decodeJpegs(media: DataFrame): Dataset[JpegStats] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        JpegCodec.decode(bytes) match {
          case Some(p) => JpegStats(id, p.width, p.height, JpegCodec.meanIntensity(p))
          case None => JpegStats(id, -1, -1, -1.0)
        }
      })
  }

  /** Full color JPEG decode (4:2:0 path): partition-local
    * mapPartitions, REAL interleaved-MCU Huffman+IDCT + chroma
    * upsample + YCbCr→RGB via `JpegCodec.decodeColor`. Undecodable
    * payloads → (-1, -1, -1, -1, -1). */
  def decodeColorJpegs(media: DataFrame): Dataset[JpegColorStats] = {
    import media.sparkSession.implicits._
    def mean(p: Array[Byte]): Double = {
      var s = 0L; var i = 0
      while (i < p.length) { s += p(i) & 0xff; i += 1 }
      s.toDouble / (p.length.toLong * 255.0)
    }
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        JpegCodec.decodeColor(bytes) match {
          case Some(p) =>
            JpegColorStats(id, p.width, p.height, mean(p.r), mean(p.g), mean(p.b))
          case None => JpegColorStats(id, -1, -1, -1.0, -1.0, -1.0)
        }
      })
  }

  /** Decoded-PNG statistics row. */
  case class PngStats(media_id: Long, width: Int, height: Int, mean_intensity: Double)

  /** Full pixel decode over a (media_id, content) frame: partition-local
    * mapPartitions (same shape as `extractFeatures`), REAL
    * decode via `PngCodec`. Undecodable payloads map to
    * (-1, -1, -1.0) — corrupt media is data, not an error. */
  def decodePngs(media: DataFrame): Dataset[PngStats] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("content")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        PngCodec.decode(bytes) match {
          case Some(p) => PngStats(id, p.width, p.height, PngCodec.meanIntensity(p))
          case None => PngStats(id, -1, -1, -1.0)
        }
      })
  }

  /** Build a synthetic media table from `documents` (the sandbox has no
    * binary fixtures): payload = UTF-8 bytes of the text. Deterministic,
    * so feature extraction is oracle-checkable end-to-end. */
  def fromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("kind"),
      encode(col("text"), "UTF-8").as("content"),
      lit("application/octet-stream").as("mime"),
      lit(64).as("width"), lit(64).as("height"),
      (col("n_chars") * 10).as("duration_ms"))
      .as[MediaRow]
  }
}
