package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkSpec
import Media.{MediaRow, StubCodec}

/** Multimodal plumbing: typed schema, partition-local decode/resize/
  * frame-sample stages, and the no-shuffle property of the feature
  * pipeline. */
class MediaSpec extends SparkSpec {
  import spark.implicits._

  private def row(id: Long, bytes: Array[Byte], kind: String = "image"): MediaRow =
    MediaRow(id, kind, bytes, "application/octet-stream", 64, 64,
      duration_ms = bytes.length * 10L)

  test("feature extraction: deterministic features from payload bytes") {
    val payload = Array[Byte](0, 51, 102, (255 & 0xff).toByte) // 0, .2, .4, 1.0
    val feats = Media.extractFeatures(Seq(row(7L, payload)).toDS()).collect()
    assert(feats.length === 1)
    val f = feats.head
    assert(f.media_id === 7L)
    assert(f.size_bytes === 4L)
    assert(f.sha === StubCodec.sha256(payload))
    assert(math.abs(f.mean_intensity - (0.0 + 0.2 + 0.4 + 1.0) / 4) < 1e-9)
    assert(f.n_frames === 1)
  }

  test("frame sampling: one frame per stride block") {
    val content = Array.fill[Byte](3000)(1)
    assert(StubCodec.sampleFrames(content, 1024).length === 3)
    assert(StubCodec.sampleFrames(Array.emptyByteArray, 1024).length === 0)
  }

  test("resize: payload truncated/padded to target dims, metadata updated") {
    val resized = Media.resizeAll(Seq(row(1L, Array.fill[Byte](100)(9))).toDS(), 8, 4)
      .collect().head
    assert(resized.content.length === 32)
    assert(resized.content.forall(_ == 9))
    assert((resized.width, resized.height) === (8, 4))
    val padded = Media.resizeAll(Seq(row(2L, Array[Byte](5))).toDS(), 4, 4)
      .collect().head
    assert(padded.content.length === 16)
    assert(padded.content(0) === 5 && padded.content(15) === 0)
  }

  test("resize: decodable image takes the REAL path — decode, area-average, re-encode") {
    // 8×4 gray GIF with pixel value x*10 + y — area averages are exact
    val src = Media.GifCodec.encodeGray(8, 4, (x, y) => x * 10 + y)
    val out = Media.resizeAll(Seq(row(3L, src)).toDS(), 4, 2).collect().head
    assert((out.width, out.height) === (4, 2))
    val p = Media.GifCodec.decode(out.content)
      .getOrElse(fail("resized payload is not a decodable GIF"))
    assert((p.width, p.height) === (4, 2))
    // target (x,y) averages the 2×2 source block at (2x, 2y):
    // mean of {20x+y', ...} = (4·(20x) + 2·10 + 4·y + 2)/4 with int div
    for (x <- 0 until 4; y <- 0 until 2) {
      val vals = for (dx <- 0 to 1; dy <- 0 to 1) yield (2 * x + dx) * 10 + (2 * y + dy)
      assert((p.pixels(y * 4 + x) & 0xff) === vals.sum / 4,
        s"pixel ($x,$y)")
    }
    // animated GIF: n_frames comes from the real frame walk now
    val anim = Media.GifCodec.encodeGrayAnimated(6, 6, 3, (f, x, y) => f + x + y)
    val feats = Media.extractFeatures(Seq(row(4L, anim)).toDS()).collect().head
    assert(feats.n_frames === 3)
  }

  test("feature pipeline introduces no shuffle (mapPartitions plan)") {
    val media = Media.fromDocuments(graft.core.Tables.load(spark, sf0001, "documents"))
    val plan = Media.extractFeatures(media).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  // ---- ImageCodec: the REAL header parser on real fixture bytes -------

  private def b64(s: String): Array[Byte] = java.util.Base64.getDecoder.decode(s)

  test("ImageCodec parses a real 1x1 PNG") {
    // canonical 1x1 transparent PNG (67 bytes)
    val png = b64("iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42m" +
      "NkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg==")
    assert(Media.ImageCodec.dimensions(png) === Some(("png", 1, 1)))
  }

  test("ImageCodec parses a real 1x1 GIF89a") {
    val gif = b64("R0lGODlhAQABAIAAAP///wAAACH5BAEAAAAALAAAAAABAAEAAAICRAEAOw==")
    assert(Media.ImageCodec.dimensions(gif) === Some(("gif", 1, 1)))
  }

  test("ImageCodec walks JPEG segments to SOF0 (skipping APP0 + DQT)") {
    val bos = new java.io.ByteArrayOutputStream()
    def put(xs: Int*): Unit = xs.foreach(x => bos.write(x & 0xff))
    put(0xff, 0xd8)                                  // SOI
    put(0xff, 0xe0, 0x00, 0x10); put(Seq.fill(14)(0): _*) // APP0, len 16
    put(0xff, 0xdb, 0x00, 0x43); put(Seq.fill(0x41)(0): _*) // DQT, len 67
    put(0xff, 0xc0, 0x00, 0x11, 0x08, 0x00, 0x02, 0x00, 0x03) // SOF0 h=2 w=3
    put(0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
    assert(Media.ImageCodec.dimensions(bos.toByteArray) === Some(("jpeg", 3, 2)))
  }

  test("ImageCodec skips legal 0xFF fill bytes before markers (T.81 B.1.1.2)") {
    val bos = new java.io.ByteArrayOutputStream()
    def put(xs: Int*): Unit = xs.foreach(x => bos.write(x & 0xff))
    put(0xff, 0xd8)                                   // SOI
    put(0xff, 0xff, 0xff, 0xe0, 0x00, 0x04, 0, 0)     // APP0 padded by 2 fill bytes
    put(0xff, 0xff, 0xc0, 0x00, 0x11, 0x08, 0x00, 0x05, 0x00, 0x07) // SOF0 h=5 w=7, 1 fill
    put(0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
    assert(Media.ImageCodec.dimensions(bos.toByteArray) === Some(("jpeg", 7, 5)))
  }

  test("ImageCodec terminates on EOI/SOS instead of reading a garbage length") {
    // EOI ends the stream: no SOF exists. 0xD9 carries NO length field —
    // the old walk read one anyway and, with trailer bytes crafted to
    // look like a length-then-SOF, marched past EOI and reported
    // dimensions from data OUTSIDE the image
    val eoi = new java.io.ByteArrayOutputStream()
    def w(xs: Int*): Unit = xs.foreach(x => eoi.write(x & 0xff))
    w(0xff, 0xd8)                                   // SOI
    w(0xff, 0xd9)                                   // EOI — stream over
    w(0x00, 0x02)                                   // trailer the buggy len-read consumes
    w(0xff, 0xc0, 0x00, 0x11, 0x08, 0x00, 0x02, 0x00, 0x03) // fake SOF in trailer
    w(0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
    assert(Media.ImageCodec.dimensions(eoi.toByteArray) === None)
    // SOS before any SOF: everything after is entropy-coded data the
    // marker walk must not scan
    val bos = new java.io.ByteArrayOutputStream()
    def put(xs: Int*): Unit = xs.foreach(x => bos.write(x & 0xff))
    put(0xff, 0xd8)                               // SOI
    put(0xff, 0xda, 0x00, 0x04, 0, 0)             // SOS, len 4
    put(0xff, 0xc0, 0x00, 0x11, 0x08, 0x00, 0x02, 0x00, 0x03) // fake SOF in entropy data
    assert(Media.ImageCodec.dimensions(bos.toByteArray) === None)
  }

  test("ImageCodec rejects truncated and unknown payloads") {
    val png = b64("iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42m" +
      "NkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg==")
    assert(Media.ImageCodec.dimensions(png.take(10)) === None)
    assert(Media.ImageCodec.dimensions("not an image".getBytes("UTF-8")) === None)
    assert(Media.ImageCodec.dimensions(Array[Byte](0xff.toByte, 0xd8.toByte, 0, 0)) === None)
  }

  // ---- PngCodec: REAL pixel decode (inflate + unfilter) ----------------

  test("PngCodec decodes a JDK-ImageIO-encoded PNG pixel-exactly (independent encoder)") {
    // ImageIO is a fully independent PNG encoder (real deflate, its own
    // filter choices) shipped in the JDK — decoding its output exactly
    // rules out a symmetric encode/decode bug canceling itself
    val w = 23; val h = 11
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 7 + y * 13) % 256; val g = (x * 3 + 200 - y + 256) % 256
      val b = (x + y * 29) % 256
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val p = Media.PngCodec.decode(bos.toByteArray)
      .getOrElse(fail("ImageIO PNG must decode"))
    assert((p.width, p.height, p.channels) === (w, h, 3))
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y); val o = 3 * (y * w + x)
      assert((p.pixels(o) & 0xff) === ((rgb >> 16) & 0xff), s"R at ($x,$y)")
      assert((p.pixels(o + 1) & 0xff) === ((rgb >> 8) & 0xff), s"G at ($x,$y)")
      assert((p.pixels(o + 2) & 0xff) === (rgb & 0xff), s"B at ($x,$y)")
    }
  }

  test("PngCodec round-trips the stored-block encoder through every filter type") {
    val png = Media.PngCodec.encodeStoredGray(33, 9, (x, y) => (x * 5 + y * 11) % 256)
    val p = Media.PngCodec.decode(png).getOrElse(fail("synth PNG must decode"))
    assert((p.width, p.height, p.channels) === (33, 9, 1))
    for (y <- 0 until 9; x <- 0 until 33)
      assert((p.pixels(y * 33 + x) & 0xff) === (x * 5 + y * 11) % 256, s"($x,$y)")
  }

  test("PngCodec rejects truncated, corrupt, and out-of-scope payloads") {
    val png = Media.PngCodec.encodeStoredGray(8, 8, (x, y) => x + y)
    assert(Media.PngCodec.decode(png.take(30)) === None, "truncated")
    // flip a pixel byte inside the stored deflate data: the inflate
    // succeeds but the adler32 trailer must catch it
    val bad = png.clone(); bad(50) = (bad(50) ^ 0x5a).toByte
    assert(Media.PngCodec.decode(bad) === None, "corrupt data must fail adler32")
    // real RGBA (color type 6) PNG: out of decode scope → None (falls
    // back to the metadata path), never a crash
    val rgba = b64("iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42m" +
      "NkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg==")
    assert(Media.PngCodec.decode(rgba) === None)
  }

  test("q85 fixture: synthesized PNG mean intensity matches the closed form") {
    import spark.implicits._
    val docs = Seq(5L, 17L, 199L, 200L, 1023L).toDF("doc_id")
    val stats = Media.decodePngs(Media.synthPngs(docs)).collect()
    for (s <- stats) {
      val d = s.media_id
      val w = (d % 32 + 4).toInt; val h = (d % 16 + 4).toInt; val a = (d % 200).toInt
      assert((s.width, s.height) === (w, h), s"doc $d dims")
      val expect = (w.toLong * (h.toLong * a + h.toLong * (h - 1) / 2)).toDouble /
        (w.toLong * h * 255.0)
      assert(math.abs(s.mean_intensity - expect) < 1e-12, s"doc $d mean")
    }
  }

  test("synthHeaders emits VALID headers the real parser recovers exactly") {
    val docs = graft.core.Tables.load(spark, sf0001, "documents")
    val parsed = Media.parseHeaders(Media.synthHeaders(docs)).toDF()
    val expected = docs.select(col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "png")
        .when(col("doc_id") % 3 === 1, "gif").otherwise("jpeg").as("format"),
      (col("doc_id") % 1024 + 16).cast("int").as("width"),
      (col("n_chars") % 768 + 16).cast("int").as("height"))
    assert(parsed.filter(col("format") === "unknown").isEmpty)
    assert(parsed.except(expected).isEmpty && expected.except(parsed).isEmpty)
  }

  test("WAV codec: encode/decode round-trips random PCM exactly") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val n = 1 + rnd.nextInt(4000)
      val rate = Seq(8000, 16000, 44100)(rnd.nextInt(3))
      val s = Array.fill(n)(rnd.nextInt(65536).toShort) // full 16-bit range
      val back = Media.WavCodec.decode(Media.WavCodec.encodePcm16(rate, s))
      assert(back.isDefined)
      assert(back.get.sampleRate === rate)
      assert(back.get.samples.toSeq === s.toSeq, "PCM payload must round-trip")
    }
    // rejects: truncated file, non-PCM format byte
    val good = Media.WavCodec.encodePcm16(8000, Array[Short](1, 2, 3))
    assert(Media.WavCodec.decode(good.take(20)).isEmpty)
    val bad = good.clone(); bad(20) = 3 // audioFormat = 3 (float)
    assert(Media.WavCodec.decode(bad).isEmpty)
  }

  test("q189 fixture: decoded energy-delta fingerprint is the closed-form bits") {
    import spark.implicits._
    val ids = Seq(8L, 9L, 10L, 11L) // one group: g=8, m=0..3
    val fps = Media.audioFingerprints(Media.synthSteppedWavs(ids.toDF("doc_id")))
      .collect().map(p => p.media_id -> p).toMap
    def expectBits(d: Long): String = {
      val g = d - d % 4; val m = (d % 4).toInt
      (0 until 32).map { f =>
        if (((3 * f + (g % 89)) % 7 < 3) != (f < m)) '1' else '0'
      }.mkString
    }
    ids.foreach { d =>
      assert(fps(d).n_frames === 33)
      assert(fps(d).afp === expectBits(d), s"doc $d fingerprint diverged")
    }
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(fps(8L).afp, fps(11L).afp) === 3)
    assert(ham(fps(9L).afp, fps(10L).afp) === 1)
  }

  test("audioFingerprints: undecodable audio and trailing partial frames") {
    import spark.implicits._
    val wav = Media.WavCodec.encodePcm16(8000,
      Array.tabulate[Short](3 * 160 + 50)(i => (i / 160 * 100).toShort))
    val media = Seq((1L, "junk".getBytes("US-ASCII")), (2L, wav))
      .toDF("media_id", "content")
    val out = Media.audioFingerprints(media).collect()
      .map(p => p.media_id -> p).toMap
    assert(out(1L).afp === "" && out(1L).n_frames === -1)
    assert(out(2L).n_frames === 3, "50 trailing samples must not form a frame")
    assert(out(2L).afp === "11", "rising constant-amplitude steps")
  }

  test("box downsample matches a brute-force reference on random pixels") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 20) {
      val w = 2 + rnd.nextInt(30); val h = 2 + rnd.nextInt(20)
      val k = 1 + rnd.nextInt(3)
      val px = Array.fill(w * h)(rnd.nextInt(256).toByte)
      val r = Media.boxDownsample(Media.GifPixels(w, h, px), k)
      assert(r.width === w / k && r.height === h / k)
      for (by <- 0 until r.height; bx <- 0 until r.width) {
        val vals = for (dy <- 0 until k; dx <- 0 until k)
          yield px((by * k + dy) * w + (bx * k + dx)) & 0xff
        assert((r.pixels(by * r.width + bx) & 0xff) === vals.sum / (k * k),
          s"block ($bx,$by) at k=$k")
      }
    }
  }

  test("animated decode: frame count, per-frame pixels, single-frame parity") {
    val b = Media.GifCodec.encodeGrayAnimated(6, 4, 3, (f, x, y) => 10 * f + x + y)
    val frames = Media.GifCodec.decodeFrames(b, maxFrames = 10).get
    assert(frames.length === 3)
    for (f <- 0 until 3; y <- 0 until 4; x <- 0 until 6)
      assert((frames(f).pixels(y * 6 + x) & 0xff) === 10 * f + x + y)
    // decode (single-frame) returns exactly the first frame
    val first = Media.GifCodec.decode(b).get
    assert(first.pixels.toSeq === frames(0).pixels.toSeq)
  }

  test("decode caps: header size over MaxDecodedBytes, frame walk stops at maxFrames") {
    // a VALID 4097×4096 gray PNG, 4 KiB over the cap: only the header
    // check before the pixel read turns it away
    assert(4097L * 4096 > Media.MaxDecodedBytes)
    val big = Media.PngCodec.encodeStoredGray(4097, 4096, (_, _) => 0)
    assert(Media.PngCodec.decode(big).isEmpty, "over-cap PNG must not decode")
    val anim = Media.GifCodec.encodeGrayAnimated(6, 4, 3, (f, x, y) => 10 * f + x + y)
    assert(Media.GifCodec.decodeFrames(anim, maxFrames = 2).map(_.length) === Some(2))
  }

  test("media from documents round-trips through parquet (binary column)") {
    val dir = tempDir("media-parquet")
    val media = Media.fromDocuments(graft.core.Tables.load(spark, sf0001, "documents"))
    media.write.mode("overwrite").parquet(s"$dir/media")
    val back = spark.read.parquet(s"$dir/media")
    assert(back.schema("content").dataType ===
      org.apache.spark.sql.types.BinaryType)
    val orig = Media.extractFeatures(media).select("media_id", "sha")
    val rt = Media.extractFeatures(back.as[MediaRow]).select("media_id", "sha")
    assert(orig.except(rt).isEmpty && rt.except(orig).isEmpty)
  }
}
