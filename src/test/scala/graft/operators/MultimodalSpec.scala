package graft.operators

import graft.SparkSpecBase
import graft.sources.Tables
import graft.operators.Dedup
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val assets = Multimodal.assetsFromText(
    Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")

  test("asset contract: binary payload + typed metadata struct") {
    val row = assets.filter($"asset_id" === 0L).head()
    assert(row.getAs[Array[Byte]]("payload").nonEmpty)
    assert(row.getAs[String]("modality") === "text")
    val meta = row.getStruct(row.fieldIndex("meta"))
    assert(meta.getAs[Long]("duration_ms") > 0)
  }

  test("extractFeatures: per-partition decode, hash matches SQL md5, deterministic") {
    val feats = Multimodal.extractFeatures(spark, assets)
    assert(feats.count() === assets.count())
    // content hash from the partition-side codec equals codegen md5()
    val joined = feats.toDF().join(
      Multimodal.payloadStats(assets)
        .select($"asset_id", $"content_hash".as("sql_hash"), $"byte_len".as("sql_len")),
      "asset_id")
    assert(joined.filter($"content_hash" =!= $"sql_hash").count() === 0)
    assert(joined.filter($"byte_len" =!= $"sql_len").count() === 0)
    // deterministic across runs
    val a = feats.orderBy("asset_id").collect().map(_.feature.toSeq)
    val b = Multimodal.extractFeatures(spark, assets)
      .orderBy("asset_id").collect().map(_.feature.toSeq)
    assert(a.toSeq === b.toSeq)
    assert(a.head.length === 8)
  }

  // ---- independent test-side AVI muxer (ByteBuffer; a separate code
  // path from both the codec under test and the Catalog's SQL-side
  // payload planting) ----------------------------------------------
  private def leInt(v: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(v); bb.array()
  }

  /** Frames are RGB top-down (image order); the muxer stores them as
    * the container demands: BGR, bottom-up unless `topDown` (then the
    * avih height goes negative), rows padded to 4 bytes. */
  private def buildAvi(w: Int, h: Int, rgbFrames: Seq[Array[Byte]],
                       topDown: Boolean = false,
                       recWrap: Boolean = false): Array[Byte] = {
    val stride = (w * 3 + 3) & ~3
    def dib(rgb: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](stride * h)
      for (r <- 0 until h; x <- 0 until w) {
        val y = if (topDown) r else h - 1 - r
        val in = (y * w + x) * 3
        out(r * stride + x * 3) = rgb(in + 2)     // B
        out(r * stride + x * 3 + 1) = rgb(in + 1) // G
        out(r * stride + x * 3 + 2) = rgb(in)     // R
      }
      out
    }
    val avih = leInt(33333) ++ leInt(0) ++ leInt(0) ++ leInt(0) ++
      leInt(rgbFrames.size) ++ leInt(0) ++ leInt(1) ++ leInt(0) ++
      leInt(w) ++ leInt(if (topDown) -h else h) ++ Array.fill(16)(0.toByte)
    val hdrl = "hdrl".getBytes("ASCII") ++
      "avih".getBytes("ASCII") ++ leInt(avih.length) ++ avih
    val chunks = rgbFrames.map { f =>
      val d = dib(f)
      "00db".getBytes("ASCII") ++ leInt(d.length) ++ d
    }
    val inner = chunks.flatten.toArray
    val moviBody =
      if (recWrap) "rec ".getBytes("ASCII").++(inner) match {
        case rec => "LIST".getBytes("ASCII") ++ leInt(rec.length) ++ rec
      }
      else inner
    val movi = "movi".getBytes("ASCII") ++ moviBody
    val body = "AVI ".getBytes("ASCII") ++
      "LIST".getBytes("ASCII") ++ leInt(hdrl.length) ++ hdrl ++
      "LIST".getBytes("ASCII") ++ leInt(movi.length) ++ movi
    "RIFF".getBytes("ASCII") ++ leInt(body.length) ++ body
  }

  private def rndFrames(w: Int, h: Int, n: Int, seed: Long): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Array.fill(w * h * 3)(rnd.nextInt(256).toByte))
  }

  test("AviCodec decodes muxed raw-DIB frames sample-exactly (incl. stride padding)") {
    // w=5 forces row padding (15 → 16); w=4 has none
    for ((w, h) <- Seq((5, 3), (4, 2), (7, 4))) {
      val frames = rndFrames(w, h, 3, seed = w * 100 + h)
      val v = Multimodal.AviCodec.decode(buildAvi(w, h, frames)).get
      assert(v.width === w && v.height === h)
      assert(v.frames.size === 3)
      v.frames.zip(frames).foreach { case (got, want) =>
        assert(got.toSeq === want.toSeq)
      }
    }
  }

  test("AviCodec counts frames past the decode cap and says so (truncated flag)") {
    // 4100 tiny frames: decoding caps at MaxFrames=4096 retained, but
    // totalFrames still counts every chunk and the cap is flagged
    val n = 4100
    val frames = (0 until n).map(i =>
      Array.tabulate(2 * 2 * 3)(j => ((i + j) % 256).toByte))
    val avi = buildAvi(2, 2, frames)
    val v = Multimodal.AviCodec.decode(avi).get
    assert(v.totalFrames === n, "totalFrames must never truncate")
    assert(v.frames.size === 4096)
    assert(v.truncated, "a capped decode must say it was capped")
    // an uncapped decode is not flagged
    val small = Multimodal.AviCodec.decode(buildAvi(2, 2, frames.take(3))).get
    assert(small.totalFrames === 3 && !small.truncated)

    // streaming means cover ALL frames (no retention, no cap) and
    // equal the retained-path means where no cap hits
    val sm = Multimodal.AviCodec.streamChannelMeans(
      buildAvi(2, 2, frames.take(7))).get
    val dm = Multimodal.AviCodec.channelMeans(
      Multimodal.AviCodec.decode(buildAvi(2, 2, frames.take(7))).get.frames)
    assert(sm.toSeq === dm.toSeq)
    // sampling stride matches the decode path's kept set
    val sm2 = Multimodal.AviCodec.streamChannelMeans(
      buildAvi(2, 2, frames.take(7)), keepEvery = 2).get
    val dm2 = Multimodal.AviCodec.channelMeans(
      Multimodal.AviCodec.decode(buildAvi(2, 2, frames.take(7)), keepEvery = 2).get.frames)
    assert(sm2.toSeq === dm2.toSeq)
  }

  test("AviCodec honors negative-height top-down DIBs and rec-LIST nesting") {
    val frames = rndFrames(6, 4, 2, seed = 42)
    val td = Multimodal.AviCodec.decode(
      buildAvi(6, 4, frames, topDown = true)).get
    td.frames.zip(frames).foreach { case (g, wnt) => assert(g.toSeq === wnt.toSeq) }
    val rec = Multimodal.AviCodec.decode(
      buildAvi(6, 4, frames, recWrap = true)).get
    assert(rec.frames.size === 2)
    rec.frames.zip(frames).foreach { case (g, wnt) => assert(g.toSeq === wnt.toSeq) }
  }

  test("AviCodec decodes MJPEG frames via ImageIO (exact dims, close means)") {
    val w = 16; val h = 12
    val rnd = new scala.util.Random(7)
    // smooth-ish frame so JPEG loss stays small
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = 64 + 8 * (x % 4) + 4 * (y % 4)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val jpg = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jpg)
    val chunk = "00dc".getBytes("ASCII") ++ leInt(jpg.size) ++ jpg.toByteArray ++
      (if (jpg.size % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    val avih = leInt(33333) ++ leInt(0) ++ leInt(0) ++ leInt(0) ++
      leInt(1) ++ leInt(0) ++ leInt(1) ++ leInt(0) ++
      leInt(w) ++ leInt(h) ++ Array.fill(16)(0.toByte)
    val hdrl = "hdrl".getBytes("ASCII") ++
      "avih".getBytes("ASCII") ++ leInt(avih.length) ++ avih
    val movi = "movi".getBytes("ASCII") ++ chunk
    val body = "AVI ".getBytes("ASCII") ++
      "LIST".getBytes("ASCII") ++ leInt(hdrl.length) ++ hdrl ++
      "LIST".getBytes("ASCII") ++ leInt(movi.length) ++ movi
    val avi = "RIFF".getBytes("ASCII") ++ leInt(body.length) ++ body
    val v = Multimodal.AviCodec.decode(avi).get
    assert(v.width === w && v.height === h && v.frames.size === 1)
    val wantMean = (for (y <- 0 until h; x <- 0 until w)
      yield 64 + 8 * (x % 4) + 4 * (y % 4)).sum.toDouble / (w * h)
    val gotMeans = Multimodal.AviCodec.channelMeans(v.frames)
    gotMeans.foreach(m => assert(math.abs(m - wantMean) < 3.0,
      s"JPEG mean drifted: $m vs $wantMean"))
  }

  test("AviCodec.resizeNearest matches the naive reference") {
    val w = 7; val h = 5; val tw = 3; val th = 2
    val frame = rndFrames(w, h, 1, seed = 9).head
    val got = Multimodal.AviCodec.resizeNearest(frame, w, h, tw, th)
    for (y <- 0 until th; x <- 0 until tw; c <- 0 until 3) {
      val sx = x * w / tw; val sy = y * h / th
      assert(got((y * tw + x) * 3 + c) === frame((sy * w + sx) * 3 + c))
    }
  }

  test("AviCodec returns None for non-AVI, truncated, and undersized-frame payloads") {
    assert(Multimodal.AviCodec.decode(null).isEmpty)
    assert(Multimodal.AviCodec.decode("not a riff at all".getBytes).isEmpty)
    val good = buildAvi(4, 2, rndFrames(4, 2, 2, seed = 1))
    assert(Multimodal.AviCodec.decode(good.take(40)).isEmpty)
    // corrupt a frame chunk's size field to overrun the buffer
    val bad = good.clone()
    bad(bad.length - 1) = 0x7F
    // truncating mid-frame must not throw
    Multimodal.AviCodec.decode(good.dropRight(3))
  }

  private def hexBytes(h: String): Array[Byte] =
    h.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("ImageCodec parses PNG/GIF dimensions from container headers") {
    // PNG 640x480: signature + IHDR with BE dims
    val png = hexBytes(
      "89504E470D0A1A0A 0000000D 49484452 00000280 000001E0 0806000000")
    assert(Multimodal.ImageCodec.imageDims(png) === Some(("png", 640, 480)))
    // GIF89a 320x200: LE dims in the logical screen descriptor
    val gif = "GIF89a".getBytes("ASCII") ++ hexBytes("4001 C800 F70000")
    assert(Multimodal.ImageCodec.imageDims(gif) === Some(("gif", 320, 200)))
  }

  test("ImageCodec walks JPEG markers past APP/quant segments to SOF") {
    // SOI + APP0(len 16) + DQT(len 4) + SOF0 with 100x50 dims
    val jpeg = hexBytes(
      "FFD8" + "FFE0 0010 4A46494600 0101 00 0001 0001 00 00" +
        "FFDB 0004 0000" + "FFC0 000B 08 0032 0064 01 011100")
    assert(Multimodal.ImageCodec.imageDims(jpeg) === Some(("jpeg", 100, 50)))
  }

  test("ImageCodec returns None for non-image, truncated, and scan-only payloads") {
    assert(Multimodal.ImageCodec.imageDims(null).isEmpty)
    assert(Multimodal.ImageCodec.imageDims("plain text".getBytes).isEmpty)
    // PNG signature but truncated before IHDR dims
    assert(Multimodal.ImageCodec.imageDims(
      hexBytes("89504E470D0A1A0A 0000000D 4948")).isEmpty)
    // JPEG that hits start-of-scan without any SOF
    assert(Multimodal.ImageCodec.imageDims(
      hexBytes("FFD8 FFDA 0002 0000")).isEmpty)
  }

  test("extractFeatures surfaces parsed dims; text payloads stay None") {
    val feats = Multimodal.extractFeatures(spark, assets).collect()
    assert(feats.nonEmpty)
    assert(feats.forall(f => f.image_format.isEmpty &&
      f.width.isEmpty && f.height.isEmpty))
  }

  test("ImageIoCodec decodes JDK-native containers: BMP/GIF exact, JPEG close") {
    val w = 12; val h = 9
    def gradient(ch: Int, y: Int, x: Int): Int = (40 + 6 * (x % 5) + 4 * (y % 3) + 10 * ch) % 256
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (gradient(0, y, x) << 16) | (gradient(1, y, x) << 8) | gradient(2, y, x))
    def encode(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    // BMP: raw RGB — sample-exact
    val bmp = Multimodal.ImageIoCodec.decode(encode("bmp")).get
    assert(bmp.width === w && bmp.height === h && bmp.channels === 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      assert((bmp.data((y * w + x) * 3 + c) & 0xFF) === gradient(c, y, x))
    // GIF: lossless for ≤256 distinct colors — sample-exact
    val gif = Multimodal.ImageIoCodec.decode(encode("gif")).get
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      assert((gif.data((y * w + x) * 3 + c) & 0xFF) === gradient(c, y, x))
    // JPEG: lossy DCT — means stay close
    val jpg = Multimodal.ImageIoCodec.decode(encode("jpg")).get
    val wantMeans = (0 until 3).map(c =>
      (for (y <- 0 until h; x <- 0 until w) yield gradient(c, y, x)).sum.toDouble / (w * h))
    val gotMeans = Multimodal.PngCodec.channelMeans(jpg)
    (0 until 3).foreach(c => assert(math.abs(gotMeans(c) - wantMeans(c)) < 4.0,
      s"channel $c drifted: ${gotMeans(c)} vs ${wantMeans(c)}"))
    // non-images decline quietly
    assert(Multimodal.ImageIoCodec.decode("plain text".getBytes).isEmpty)
    assert(Multimodal.ImageIoCodec.decode(null).isEmpty)
  }

  test("extractFrameStats: decode → sample → resize → channel means, oracle-style") {
    val w = 4; val h = 3
    // planted gradient: v(ch,f,y,x) = (f*31 + y*13 + x*5 + ch*17) % 256
    def px(f: Int, y: Int, x: Int, ch: Int): Int = (f * 31 + y * 13 + x * 5 + ch * 17) % 256
    val frames = (0 until 4).map { f =>
      val a = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        a((y * w + x) * 3 + c) = px(f, y, x, c).toByte
      a
    }
    val df = Seq((1L, "video", buildAvi(w, h, frames)),
                 (2L, "text", "hello".getBytes)).toDF("asset_id", "modality", "payload")
    val rows = Multimodal.extractFrameStats(spark, df, every = 2,
      targetW = 2, targetH = 2).collect().sortBy(_.asset_id)
    val r = rows(0)
    assert(r.is_video && r.width === Some(w) && r.height === Some(h))
    assert(r.n_frames === Some(4) && r.n_kept === Some(2))
    // closed-form: kept f∈{0,2}, resized samples sy∈{0,1}, sx∈{0,2}
    def mean(ch: Int): Double = (for (f <- Seq(0, 2); y <- 0 to 1; x <- 0 to 1)
      yield px(f, y * h / 2, x * w / 2, ch)).sum / 8.0
    assert(r.mean_r === Some(mean(0)) && r.mean_g === Some(mean(1)) &&
      r.mean_b === Some(mean(2)))
    assert(!rows(1).is_video && rows(1).mean_r.isEmpty)
  }

  // 8 kHz mono 16-bit PCM declaring 16000 sample bytes → 1000 ms
  private val wavMono8k = hexBytes(
    "52494646 A43E0000 57415645" +        // RIFF(36+16000) WAVE
      "666D7420 10000000 0100 0100 401F0000 803E0000 0200 1000" +
      "64617461 803E0000")                // data(16000), no sample bytes

  test("AudioCodec parses the WAV fmt/data chunks (LE fields, floor-div duration)") {
    assert(Multimodal.AudioCodec.wavMeta(wavMono8k) === Some((8000, 1, 16, 1000L)))
    // 44100 Hz stereo: byteRate 176400, 44100 data bytes → 250 ms
    val stereo = hexBytes(
      "52494646 00000000 57415645" +
        "666D7420 10000000 0100 0200 44AC0000 10B10200 0400 1000" +
        "64617461 44AC0000")
    assert(Multimodal.AudioCodec.wavMeta(stereo) === Some((44100, 2, 16, 250L)))
  }

  test("AudioCodec walks past odd-sized non-fmt chunks (word-aligned pad byte)") {
    // LIST chunk of declared size 5 → occupies 6 bytes before fmt
    val withList = hexBytes(
      "52494646 00000000 57415645" +
        "4C495354 05000000 494E464F 41 00" + // "LIST"(5): INFO A + pad
        "666D7420 10000000 0100 0100 401F0000 803E0000 0200 1000" +
        "64617461 803E0000")
    assert(Multimodal.AudioCodec.wavMeta(withList) === Some((8000, 1, 16, 1000L)))
  }

  test("AudioCodec returns None for non-WAV, truncated, and fmt-less payloads") {
    assert(Multimodal.AudioCodec.wavMeta(null).isEmpty)
    assert(Multimodal.AudioCodec.wavMeta("plain text bytes".getBytes).isEmpty)
    // RIFF/WAVE magic but truncated before any chunk completes
    assert(Multimodal.AudioCodec.wavMeta(
      hexBytes("52494646 00000000 57415645 666D7420")).isEmpty)
    // data chunk but no fmt → no byteRate to derive duration from
    assert(Multimodal.AudioCodec.wavMeta(
      hexBytes("52494646 00000000 57415645 64617461 04000000 00000000")).isEmpty)
  }

  test("extractAudioMeta: WAV payloads decode, non-audio rows surface nulls") {
    val rows = Seq(
      (1L, "audio", wavMono8k),
      (2L, "text", "not a riff container".getBytes)
    ).toDF("asset_id", "modality", "payload")
    val out = Multimodal.extractAudioMeta(spark, rows).collect()
      .map(m => m.asset_id -> m).toMap
    assert(out(1L).audio_format === Some("wav"))
    assert(out(1L).sample_rate === Some(8000))
    assert(out(1L).channels === Some(1))
    assert(out(1L).bits_per_sample === Some(16))
    assert(out(1L).duration_ms === Some(1000L))
    assert(out(1L).byte_len === wavMono8k.length.toLong)
    assert(out(2L).audio_format.isEmpty && out(2L).sample_rate.isEmpty &&
      out(2L).duration_ms.isEmpty)
  }

  // --- VideoCodec (MP4 / ISO-BMFF) ---

  /** Minimal valid MP4: ftyp + moov[mvhd(v0) + trak[tkhd(v0)]].
    * timescale 1000, duration 2500 → 2500 ms; 320×240. */
  private val mp4v0 = hexBytes(
    "00000010 66747970 69736F6D 00000000" + // ftyp "isom"
      "000000D8 6D6F6F76" +                 // moov (216)
      "0000006C 6D766864 00000000 00000000 00000000" + // mvhd v0
      "000003E8 000009C4" +                 // timescale 1000, duration 2500
      "00010000 0100" + "00" * 10 +         // rate, volume, reserved
      "00010000 00000000 00000000 00000000 00010000 00000000" +
      "00000000 00000000 40000000" +        // unity matrix
      "00" * 24 + "00000002" +              // predefined + next_track_ID
      "00000064 7472616B" +                 // trak (100)
      "0000005C 746B6864 00000007 00000000 00000000" + // tkhd v0
      "00000001 00000000 000009C4" +        // track 1, reserved, duration
      "00" * 16 +                           // reserved+layer+alt+vol+reserved
      "00010000 00000000 00000000 00000000 00010000 00000000" +
      "00000000 00000000 40000000" +        // unity matrix
      "01400000 00F00000")                  // 320.0 x 240.0 as 16.16

  test("VideoCodec walks ftyp/moov/mvhd/tkhd and derives duration + 16.16 dims") {
    assert(Multimodal.VideoCodec.mp4Meta(mp4v0) === Some((2500L, 320, 240)))
  }

  test("VideoCodec handles v1 mvhd (64-bit duration) and skips audio tkhd (0x0)") {
    // moov[mvhd(v1: ts 600, dur 1234567) + trak[tkhd audio 0x0] + trak[tkhd 64x32]]
    val mvhdV1 =
      "00000078 6D766864 01000000" +                 // mvhd v1 (120 bytes)
        "0000000000000000 0000000000000000" +        // creation/mod (64-bit)
        "00000258 000000000012D687" +                // ts 600, dur 1234567 (64-bit)
        "00010000 0100" + "00" * 10 + "00" * 36 + "00" * 24 + "00000002"
    def tkhdV0(wh: String) =
      "0000005C 746B6864 00000007 00000000 00000000" +
        "00000001 00000000 00000000" + "00" * 16 + "00" * 36 + wh
    val moovBody = mvhdV1 +
      "00000064 7472616B" + tkhdV0("00000000 00000000") + // audio track: 0x0
      "00000064 7472616B" + tkhdV0("00400000 00200000")   // video: 64x32
    val bytes = hexBytes(
      "00000010 66747970 69736F6D 00000000" +
        "00000148 6D6F6F76" + moovBody)                   // moov = 8+120+100+100 = 328
    // 1234567 * 1000 / 600 = 2057611 (floor)
    assert(Multimodal.VideoCodec.mp4Meta(bytes) === Some((2057611L, 64, 32)))
  }

  test("VideoCodec returns None for non-MP4, truncated, and corrupt-size payloads") {
    assert(Multimodal.VideoCodec.mp4Meta(null).isEmpty)
    assert(Multimodal.VideoCodec.mp4Meta("just some text bytes".getBytes).isEmpty)
    assert(Multimodal.VideoCodec.mp4Meta(wavMono8k).isEmpty) // wrong container
    // valid ftyp but moov truncated mid-mvhd
    assert(Multimodal.VideoCodec.mp4Meta(mp4v0.take(40)).isEmpty)
    // a child box whose declared size escapes its parent: walk stops clean
    val corrupt = mp4v0.clone()
    corrupt(16 + 8) = 0x7F.toByte // mvhd size hi-byte → escapes moov
    assert(Multimodal.VideoCodec.mp4Meta(corrupt).isEmpty)
  }

  // PngCodec ground truth: round-trip through the JDK's OWN PNG
  // encoder (javax.imageio) — an independent implementation with real
  // deflate compression and the encoder's adaptive per-row filter
  // choice (exercising Sub/Up/Average/Paeth unfiltering, which the
  // q91 planted payloads only partially cover). Every sample of every
  // image must reconstruct exactly.
  test("PngCodec decodes ImageIO-encoded images sample-exactly (gray, RGB, RGBA)") {
    import java.awt.image.BufferedImage
    val rnd = new scala.util.Random(42)
    val cases = Seq(
      (BufferedImage.TYPE_BYTE_GRAY, 1, 37, 23),
      (BufferedImage.TYPE_3BYTE_BGR, 3, 64, 48),
      (BufferedImage.TYPE_4BYTE_ABGR, 4, 31, 17))
    for ((imgType, channels, w, h) <- cases) {
      val img = new BufferedImage(w, h, imgType)
      for (y <- 0 until h; x <- 0 until w) {
        val a = if (channels == 4) rnd.nextInt(256) else 255
        val rgb = (a << 24) | (rnd.nextInt(256) << 16) | (rnd.nextInt(256) << 8) | rnd.nextInt(256)
        img.setRGB(x, y, rgb)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      val px = Multimodal.PngCodec.decode(bos.toByteArray)
        .getOrElse(fail(s"decode failed for type $imgType"))
      assert((px.width, px.height, px.channels) === ((w, h, channels)))
      // compare against the RASTER samples (band order = PNG sample
      // order: gray / RGB / RGBA), not getRGB — getRGB round-trips
      // TYPE_BYTE_GRAY through a colorspace conversion
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w) {
        val expected = (0 until channels).map(b => raster.getSample(x, y, b))
        val off = (y * w + x) * channels
        val got = (0 until channels).map(i => px.data(off + i) & 0xFF)
        assert(got === expected, s"pixel ($x,$y) type $imgType")
      }
    }
  }

  test("PngCodec returns None for non-PNG, truncated, and unsupported payloads") {
    assert(Multimodal.PngCodec.decode(null).isEmpty)
    assert(Multimodal.PngCodec.decode("plain text, no signature".getBytes).isEmpty)
    val img = new java.awt.image.BufferedImage(16, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val full = bos.toByteArray
    assert(Multimodal.PngCodec.decode(full).isDefined)
    // truncated mid-IDAT: the inflate can't fill the raster → None, no throw
    assert(Multimodal.PngCodec.decode(full.take(full.length - 20)).isEmpty)
    // hostile header: 2^24 × 2^24 dims must not allocate
    val hostile = full.clone()
    hostile(16) = 0x7F.toByte // width hi byte
    assert(Multimodal.PngCodec.decode(hostile).isEmpty)
  }

  test("PcmCodec: RMS/peak/zero-crossings over a hand-built PCM stream") {
    // mono 16-bit WAV, 4 samples: +100, -200, +300, 0
    def le16(v: Int) = Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Int) = Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    val samples = Seq(100, -200, 300, 0)
    val data = samples.flatMap(le16)
    val wav = ("RIFF".getBytes.toSeq ++ le32(36 + data.size) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
      le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(data.size) ++ data).toArray
    val Some((n, rms, peak, zc)) = Multimodal.PcmCodec.pcmStats(wav)
    assert(n === 4L)
    assert(peak === 300)
    assert(zc === 2L) // +100→-200 and -200→+300; →0 is not a strict crossing
    val expectedRms = math.sqrt((100.0 * 100 + 200 * 200 + 300 * 300 + 0) / 4)
    assert(math.abs(rms - expectedRms) < 1e-12)
    // truncated data: stats over what's present (byte-range probe shape)
    val Some((n2, _, _, _)) = Multimodal.PcmCodec.pcmStats(wav.take(wav.length - 4))
    assert(n2 === 2L)
    assert(Multimodal.PcmCodec.pcmStats("not riff at all".getBytes).isEmpty)
  }

  private def toneWav(freq: Double, sr: Int, n: Int, amp: Double = 10000): Array[Byte] = {
    def le16(v: Int) = Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Int) = Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    val data = (0 until n).flatMap(i =>
      le16(math.round(amp * math.sin(2 * math.Pi * freq * i / sr)).toInt))
    ("RIFF".getBytes.toSeq ++ le32(36 + data.size) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(sr) ++
      le32(2 * sr) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(data.size) ++ data).toArray
  }

  test("PlantedGrayPng: byte-identical to the frozen column mux it replaced") {
    import graft.functions.PlantedPng
    // the ORIGINAL q122 column-expression mux, frozen here as the
    // byte-level reference (the oracles pin the hashes end-to-end;
    // this pins the exact PNG bytes across the codegen rewrite)
    def frozenMux(did: Column): Column = {
      val w = lit(18L); val h = lit(16L); val stride = lit(19L)
      val rawLen = lit(304L)
      val seed = did - pmod(did, lit(4L))
      val variant = pmod(did, lit(4L))
      def px(x: Column, y: Column): Column = {
        val key = concat(seed.cast("string"), lit("_"),
          x.cast("string"), lit("_"), y.cast("string"))
        val base = conv(substring(md5(key.cast("binary")), 1, 2), 16, 10).cast("long")
        val delta = when(x === 0L && pmod(y, lit(2L)) === 0L &&
          floor(y / 2).cast("long") < variant, lit(64L)).otherwise(lit(0L))
        pmod(base + delta, lit(256L))
      }
      val bytesArr = transform(sequence(lit(0L), rawLen - 1L), i => {
        val o = pmod(i, stride)
        val r = floor((i - o) / stride).cast("long")
        when(o === 0L, lit(0L)).otherwise(px(o - 1L, r))
      })
      val rawHex = concat_ws("", transform(bytesArr, v => lpad(hex(v), 2, "0")))
      val sumB = aggregate(bytesArr, lit(0L), (acc, x) => acc + x)
      val sumW = aggregate(
        zip_with(bytesArr, sequence(lit(1L), rawLen), (b, j) => (rawLen - j + 1L) * b),
        lit(0L), (acc, x) => acc + x)
      val s1 = pmod(lit(1L) + sumB, lit(65521L))
      val s2 = pmod(rawLen + sumW, lit(65521L))
      def le16hex(v: Column): Column = concat(
        lpad(hex(pmod(v, lit(256L))), 2, "0"),
        lpad(hex(floor(v / 256).cast("long")), 2, "0"))
      val zlibHex = concat(lit("780101"), le16hex(rawLen),
        le16hex(lit(65535L) - rawLen), rawHex,
        lpad(hex(s2 * 65536L + s1), 8, "0"))
      val ihdrDataHex = concat(lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
        lit("0800000000"))
      unhex(concat(
        lit("89504E470D0A1A0A0000000D49484452"), ihdrDataHex,
        lpad(hex(crc32(unhex(concat(lit("49484452"), ihdrDataHex)))), 8, "0"),
        lpad(hex(rawLen + 11L), 8, "0"), lit("49444154"), zlibHex,
        lpad(hex(crc32(unhex(concat(lit("49444154"), zlibHex)))), 8, "0"),
        lit("0000000049454E44AE426082")))
    }
    val ids = (1L to 25L) ++ Seq(1000L, 99999L, 123456789L)
    val rows = ids.toDF("doc_id").select(
      frozenMux(col("doc_id")).as("old"),
      PlantedPng.planted_gray_png(
        col("doc_id") - pmod(col("doc_id"), lit(4L)),
        pmod(col("doc_id"), lit(4L))).as("nw"))
      .as[(Array[Byte], Array[Byte])].collect()
    rows.zip(ids).foreach { case ((o, n), id) =>
      assert(java.util.Arrays.equals(o, n), s"byte divergence for doc_id $id")
    }
    // and both JVM decoders agree the compiled bytes are a valid PNG
    val sample = rows.head._2
    val viaPng = Multimodal.PngCodec.decode(sample)
    val viaIio = Multimodal.ImageIoCodec.decode(sample)
    assert(viaPng.isDefined && viaIio.isDefined)
    assert(viaPng.get.width === 18 && viaPng.get.height === 16)
  }

  test("PlantedToneWav: byte-identical to the frozen column mux it replaced") {
    import graft.functions.PlantedPng
    // the ORIGINAL q121/q136 column-expression mux, frozen as the
    // byte-level reference (parameterized over the per-sample freq)
    def frozenWav(n: Long, amp: Column, freqOf: Column => Column): Column = {
      def le(v: Column, nBytes: Int): Column = concat((0 until nBytes).map(i =>
        unhex(lpad(hex(shiftright(v, 8 * i).bitwiseAND(lit(255L))), 2, "0"))): _*)
      val dataSize = lit(n) * 2L
      val sampleHex = concat_ws("", transform(sequence(lit(0L), lit(n) - 1L), i => {
        val v = round(amp *
          sin(lit(2.0 * math.Pi) * freqOf(i) * i.cast("double") / lit(8000.0)), 0)
          .cast("long")
        val hx = lpad(hex(pmod(v + 32768L, lit(65536L))), 4, "0")
        concat(substring(hx, 3, 2), substring(hx, 1, 2))
      }))
      concat(
        unhex(lit("52494646")), le(lit(36L) + dataSize, 4),
        unhex(lit("57415645666D7420")), le(lit(16L), 4),
        le(lit(1L), 2), le(lit(1L), 2),
        le(lit(8000L), 4), le(lit(16000L), 4),
        le(lit(2L), 2), le(lit(16L), 2),
        unhex(lit("64617461")), le(dataSize, 4),
        unhex(sampleHex))
    }
    val did = col("doc_id")
    val k = pmod(did, lit(8))
    val singleFreq = (lit(400L) + lit(200L) * k).cast("double")
    val amp136 = (lit(6000L) + lit(400L) * pmod(did, lit(5))).cast("double")
    def seqFreq(i: Column): Column =
      (lit(400L) + lit(200L) * pmod(k + (i / lit(80L)).cast("long"), lit(8)))
        .cast("double")
    val rows = (1L to 20L).toDF("doc_id").select(
      frozenWav(160L, lit(10000.0), _ => singleFreq).as("o1"),
      PlantedPng.planted_tone_wav(array(singleFreq), lit(10000.0), 160).as("n1"),
      frozenWav(320L, amp136, seqFreq).as("o2"),
      PlantedPng.planted_tone_wav(
        array((0 until 4).map(j => (lit(400L) + lit(200L) *
          pmod(k + lit(j.toLong), lit(8))).cast("double")): _*),
        amp136, 80).as("n2"))
      .as[(Array[Byte], Array[Byte], Array[Byte], Array[Byte])].collect()
    rows.zipWithIndex.foreach { case ((o1, n1, o2, n2), i) =>
      assert(java.util.Arrays.equals(o1, n1), s"single-tone divergence at row $i")
      assert(java.util.Arrays.equals(o2, n2), s"tone-sequence divergence at row $i")
    }
  }

  test("PlantedToneWav: codegen compiles over NON-nullable children") {
    // Regression: with non-null children, BinaryExpression.nullSafeCodeGen
    // takes its non-nullable branch and declares no `isNull` variable —
    // doGenCode's `ev.isNull` assignment then referenced an undeclared
    // name, janino rejected the class, and every q121/q136 stage fell
    // back to interpreted eval (ERROR CodeGenerator in the Verify log,
    // results still correct). The nullable=true override keeps the
    // declaring branch; this pins compilation directly — no fallback.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.functions.PlantedToneWav
    val freqs = Literal.create(Seq(600.0), ArrayType(DoubleType, false))
    val expr = PlantedToneWav(freqs, Literal(10000.0), 160)
    assert(!freqs.nullable && expr.nullable,
      "tone mux must stay nullable: a null freqs element yields NULL bytes")
    // throws CompileException (no interpreted fallback at this layer)
    // if the generated code references an undeclared variable
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val row = proj.apply(org.apache.spark.sql.catalyst.InternalRow.empty)
    val interpreted = expr.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Array[Byte]]
    assert(java.util.Arrays.equals(row.getBinary(0), interpreted),
      "compiled projection must match interpreted eval byte-for-byte")
  }

  private def seqToneWav(freqs: Seq[Double], sr: Int, perSeg: Int,
                         amp: Double = 10000): Array[Byte] = {
    def le16(v: Int) = Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Int) = Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    val data = (0 until freqs.size * perSeg).flatMap { i =>
      val f = freqs(i / perSeg)
      le16(math.round(amp * math.sin(2 * math.Pi * f * i / sr)).toInt)
    }
    ("RIFF".getBytes.toSeq ++ le32(36 + data.size) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(sr) ++
      le32(2 * sr) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(data.size) ++ data).toArray
  }

  test("windowedBins: recovers the planted tone sequence per window") {
    val bank = (0 to 7).map(j => 400.0 + 200.0 * j).toArray
    val freqs = Seq(3, 1, 4, 1).map(bank(_))
    val Some((n, sr, bins)) =
      Multimodal.windowedBins(seqToneWav(freqs, 8000, 80), bank, 80)
    assert(n === 320L && sr === 8000)
    assert(bins.toSeq === Seq(3, 1, 4, 1))
  }

  test("windowedBins: fingerprint is gain-invariant and drops the trailing partial window") {
    val bank = (0 to 7).map(j => 400.0 + 200.0 * j).toArray
    val freqs = Seq(2, 7, 5).map(bank(_))
    val loud = Multimodal.windowedBins(seqToneWav(freqs, 8000, 80, amp = 12000), bank, 80)
    val quiet = Multimodal.windowedBins(seqToneWav(freqs, 8000, 80, amp = 900), bank, 80)
    assert(loud.get._3.toSeq === quiet.get._3.toSeq,
      "volume change altered the fingerprint")
    // 200 samples at window 80 → 2 full windows, 40-sample tail dropped
    val Some((_, _, bins)) =
      Multimodal.windowedBins(seqToneWav(Seq(bank(6)), 8000, 200), bank, 80)
    assert(bins.length === 2)
    assert(bins.toSeq === Seq(6, 6))
  }

  test("windowedBins: non-PCM payloads and empty audio are None/empty, not errors") {
    val bank = Array(400.0, 800.0)
    assert(Multimodal.windowedBins("not riff".getBytes, bank, 80).isEmpty)
    val Some((n0, _, bins0)) =
      Multimodal.windowedBins(seqToneWav(Seq(400.0), 8000, 10), bank, 80)
    assert(n0 === 10L && bins0.isEmpty) // under one window: empty fingerprint
  }

  test("PcmCodec.dominantTone: Goertzel bank recovers planted pure tones") {
    val bank = Array(400.0, 600.0, 800.0, 1000.0)
    for (f <- bank) {
      val Some((n, sr, dom, ratio)) =
        Multimodal.PcmCodec.dominantTone(toneWav(f, 8000, 160), bank)
      assert(n === 160L && sr === 8000)
      assert(dom === f, s"planted $f")
      // exact-bin tone vs orthogonal bins: everything lands in one bin
      assert(ratio > 0.999, s"ratio $ratio at $f")
    }
    // off-bin tone (770 Hz, bins every 50 Hz): leaks, but the nearest
    // probe still wins and the ratio drops below the pure-tone regime
    val Some((_, _, dom770, r770)) =
      Multimodal.PcmCodec.dominantTone(toneWav(770, 8000, 160), bank)
    assert(dom770 === 800.0)
    assert(r770 < 0.999 && r770 > 0.5)
    // two-tone mix: the larger component wins
    val mix = {
      val a = toneWav(600, 8000, 160, amp = 9000)
      val b = toneWav(1000, 8000, 160, amp = 4000)
      // mix by adding int16 streams of the two data sections
      val out = a.clone()
      var i = 44
      while (i < out.length) {
        val sa = ((a(i) & 0xFF) | (a(i + 1) << 8)).toShort.toInt
        val sb = ((b(i) & 0xFF) | (b(i + 1) << 8)).toShort.toInt
        val s = sa + sb
        out(i) = (s & 0xFF).toByte; out(i + 1) = ((s >> 8) & 0xFF).toByte
        i += 2
      }
      out
    }
    val Some((_, _, domMix, _)) = Multimodal.PcmCodec.dominantTone(mix, bank)
    assert(domMix === 600.0)
    // non-WAV and empty banks are None; an aliased probe is loud
    assert(Multimodal.PcmCodec.dominantTone("nope".getBytes, bank).isEmpty)
    assert(Multimodal.PcmCodec.dominantTone(toneWav(600, 8000, 160), Array.empty[Double]).isEmpty)
    intercept[IllegalArgumentException] {
      Multimodal.PcmCodec.dominantTone(toneWav(600, 8000, 160), Array(4000.0))
    }
  }

  test("extractDominantTone: audio rows detect, text rows surface nulls") {
    val rows = Seq(
      (1L, "audio", toneWav(800, 8000, 160)),
      (2L, "text", "not a wav".getBytes)
    ).toDF("asset_id", "modality", "payload")
    val out = Multimodal.extractDominantTone(spark, rows,
      Seq(400.0, 800.0, 1200.0)).collect().map(t => t.asset_id -> t).toMap
    assert(out(1L).is_wav && out(1L).dominant_freq === Some(800.0))
    assert(out(1L).sample_rate === Some(8000) && out(1L).n_samples === Some(160L))
    assert(out(1L).power_ratio.exists(_ > 0.999))
    assert(!out(2L).is_wav && out(2L).dominant_freq.isEmpty)
  }

  private def grayPixels(w: Int, h: Int)(f: (Int, Int) => Int) =
    Multimodal.PngCodec.Pixels(w, h, 1,
      Array.tabulate(w * h)(i => f(i % w, i / w).toByte))

  test("ImageHash.dHash: bits follow horizontal gradients, exact integer math") {
    // 9×8 image = one pixel per cell: bit (cy*8+cx) = px(cx,cy) < px(cx+1,cy)
    val ramp = grayPixels(9, 8)((x, _) => x * 10) // strictly increasing rows
    assert(Multimodal.ImageHash.dHash(ramp) === Some(-1L)) // all 64 comparisons true
    val flat = grayPixels(9, 8)((_, _) => 7)
    assert(Multimodal.ImageHash.dHash(flat) === Some(0L))
    // bit 63 (cy=7, cx=7) alone: the sign-bit corner must not wrap
    val corner = grayPixels(9, 8)((x, y) => if (x == 8 && y == 7) 200 else 0)
    assert(Multimodal.ImageHash.dHash(corner) === Some(Long.MinValue))
    // under-grid images refuse rather than hash upscale artifacts
    assert(Multimodal.ImageHash.dHash(grayPixels(8, 8)((_, _) => 0)).isEmpty)
    assert(Multimodal.ImageHash.dHash(grayPixels(9, 7)((_, _) => 0)).isEmpty)
  }

  test("ImageHash.dHash: invariant under exact pixel-doubling, ~stable under edits") {
    val rnd = new scala.util.Random(42)
    val base = Array.fill(9 * 8)(rnd.nextInt(256))
    val small = grayPixels(9, 8)((x, y) => base(y * 9 + x))
    val doubled = grayPixels(18, 16)((x, y) => base((y / 2) * 9 + x / 2))
    val Some(h1) = Multimodal.ImageHash.dHash(small)
    assert(Multimodal.ImageHash.dHash(doubled) === Some(h1)) // box means identical
    // one edited cell flips at most 2 bits (it joins 2 comparisons)
    val edited = grayPixels(18, 16)((x, y) =>
      if (x / 2 == 4 && y / 2 == 3) 255 else base((y / 2) * 9 + x / 2))
    val Some(h2) = Multimodal.ImageHash.dHash(edited)
    assert(java.lang.Long.bitCount(h1 ^ h2) <= 2)
  }

  test("ImageHash: RGB luma path and end-to-end PNG decode round-trip") {
    // encode an RGB image via ImageIO, hash through extractImageHash
    val img = new java.awt.image.BufferedImage(18, 16,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val rnd = new scala.util.Random(7)
    val g = Array.fill(9 * 8)(rnd.nextInt(256))
    for (y <- 0 until 16; x <- 0 until 18) {
      val v = g((y / 2) * 9 + x / 2)
      img.setRGB(x, y, (v << 16) | (v << 8) | v) // gray via equal RGB
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val hashed = Multimodal.extractImageHash(spark,
      Seq((1L, "image", baos.toByteArray), (2L, "text", "not an image".getBytes))
        .toDF("asset_id", "modality", "payload"))
      .collect().map(h => h.asset_id -> h.dhash).toMap
    // equal-RGB luma = 1000·v, gray path = 1000·v — identical bits
    val direct = Multimodal.ImageHash.dHash(grayPixels(9, 8)((x, y) => g(y * 9 + x)))
    assert(hashed(1L) === direct && hashed(1L).isDefined)
    assert(hashed(2L).isEmpty)
  }

  test("extractImageHash + hammingPairs64: planted image near-dups cluster") {
    // four variants of one base image, variant v perturbing cells
    // (cx=0, cy<v) — cell (0,cy) joins exactly one comparison, so any
    // two variants differ by ≤ 3 bits and banding finds every pair
    val rnd = new scala.util.Random(11)
    val base = Array.fill(9 * 8)(rnd.nextInt(200))
    def variantPng(v: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 8; x <- 0 until 9) {
        val p = base(y * 9 + x) + (if (x == 0 && y < v) 55 else 0)
        img.getRaster.setSample(x, y, 0, p)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val far = grayPixels(9, 8)((x, y) => (x * 37 + y * 91) % 256)
    val assets = (0 to 3).map(v => (v.toLong, "image", variantPng(v))) :+
      ((9L, "image", {
        val img = new java.awt.image.BufferedImage(9, 8,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        for (y <- 0 until 8; x <- 0 until 9)
          img.getRaster.setSample(x, y, 0, far.data(y * 9 + x) & 0xFF)
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", baos)
        baos.toByteArray
      }))
    val hashes = Multimodal.extractImageHash(spark,
      assets.toDF("asset_id", "modality", "payload")).collect()
      .map(h => h.asset_id -> h.dhash.get).toMap
    // ground truth by brute force over the extracted hashes
    val ids = hashes.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 3
    } yield (a, b)).toSet
    val sigs = hashes.toSeq.toDF("id", "sig")
    val got = Dedup.lshPairs(sigs, "id", "sig", Dedup.Hamming64(maxHamming = 3))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === expected)
    assert(expected.nonEmpty) // the planted variants really are near
  }

  test("extractVideoMeta: MP4 payloads decode, non-video rows surface nulls") {
    val rows = Seq(
      (1L, "video", mp4v0),
      (2L, "text", "not an iso-bmff container".getBytes)
    ).toDF("asset_id", "modality", "payload")
    val out = Multimodal.extractVideoMeta(spark, rows).collect()
      .map(m => m.asset_id -> m).toMap
    assert(out(1L).video_format === Some("mp4"))
    assert(out(1L).duration_ms === Some(2500L))
    assert(out(1L).width === Some(320))
    assert(out(1L).height === Some(240))
    assert(out(1L).byte_len === mp4v0.length.toLong)
    assert(out(2L).video_format.isEmpty && out(2L).duration_ms.isEmpty)
  }
}
