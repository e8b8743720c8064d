package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  test("exifOrientation: JPEG APP1 walk, TIFF-direct, endianness, truncation") {
    import graft.images.HeaderDims
    for (o <- Seq(1, 3, 6, 8))
      assert(HeaderDims.exifOrientation(Fixtures.jpegWithExif(8, 6, 0x123456, o))
        .contains(o), s"orientation $o round-trip")
    // untagged JPEG and junk -> None
    assert(HeaderDims.exifOrientation(Fixtures.jpegBytes(8, 6, 0x123456)).isEmpty)
    assert(HeaderDims.exifOrientation("junk".getBytes).isEmpty)
    assert(HeaderDims.exifOrientation(Array.empty[Byte]).isEmpty)
    // TIFF-direct (both endiannesses): build big-endian by hand
    val be = java.nio.ByteBuffer.allocate(26).order(java.nio.ByteOrder.BIG_ENDIAN)
    be.put("MM".getBytes); be.putShort(42); be.putInt(8)
    be.putShort(1); be.putShort(0x0112.toShort); be.putShort(3); be.putInt(1)
    be.putShort(6.toShort); be.putShort(0); be.putInt(0)
    assert(HeaderDims.exifOrientation(be.array()).contains(6))
    // truncated APP1 must not throw, just miss
    val good = Fixtures.jpegWithExif(8, 6, 0x123456, 6)
    for (cut <- Seq(3, 9, 15, 21))
      assert(HeaderDims.exifOrientation(good.take(cut)).isEmpty)
    // out-of-range orientation value -> None
    assert(HeaderDims.exifOrientation(Fixtures.jpegWithExif(8, 6, 1, 9)).isEmpty)
  }

  test("audio decode stub is deterministic and centered") {
    import spark.implicits._
    val df = Seq((1L, Array[Byte](0, 64, -128, 127))).toDF("id", "payload")
      .select(Multimodal.decodeAudioStub(col("payload")).as("pcm"))
    val pcm = df.collect().head.getSeq[Float](0)
    assert(pcm == Seq(0.0f, 0.5f, -1.0f, 127f / 128f))
  }

  test("rmsFrames: frame count drops tail, RMS matches hand computation") {
    import spark.implicits._
    // 5 samples, frameLen 2 → 2 frames, tail dropped
    val df = Seq(Seq(0.0f, 1.0f, 1.0f, 1.0f, 9.0f)).toDF("s")
      .select(Multimodal.rmsFrames(col("s"), 2).as("r"))
    val r = df.collect().head.getSeq[Double](0)
    assert(r.length == 2)
    assert(math.abs(r(0) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(r(1) - 1.0) < 1e-12)
  }

  test("rmsFrames: input shorter than one frame yields empty array, not error") {
    import spark.implicits._
    val r = Seq(Seq(0.5f), Seq.empty[Float]).toDF("s")
      .select(Multimodal.rmsFrames(col("s"), 4).as("r"))
      .collect().map(_.getSeq[Double](0))
    assert(r(0).isEmpty && r(1).isEmpty)
  }

  /** Minimal RIFF/WAVE container: 16-bit signed little-endian mono PCM. */
  private def wavBytes(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + dataLen); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(1); bb.putShort(1) // PCM, mono
    bb.putInt(sampleRate); bb.putInt(sampleRate * 2) // byte rate
    bb.putShort(2); bb.putShort(16) // block align, bits
    bb.put("data".getBytes); bb.putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  test("decodeAudioPcm: real WAV decode matches pure-Scala RMS and peak") {
    import spark.implicits._
    // 800 Hz sine at 8 kHz, 400 samples, amplitude 0.25
    val n = 400
    val shorts = Array.tabulate(n) { i =>
      (0.25 * math.sin(2 * math.Pi * 800 * i / 8000.0) * 32767).toShort
    }
    val expected = shorts.map(_ / 32768.0f)
    val row = Seq((1L, wavBytes(shorts, 8000))).toDF("id", "payload")
      .select(Multimodal.decodeAudioPcm(col("payload")).as("pcm"))
      .select(col("pcm"), Multimodal.peak(col("pcm")).as("pk"),
        Multimodal.rmsFrames(col("pcm"), 100).as("rms"))
      .collect().head
    val pcm = row.getSeq[Float](0)
    assert(pcm.length == n)
    assert(pcm.zip(expected).forall { case (a, b) => math.abs(a - b) < 1e-6 })
    val expPeak = expected.map(x => math.abs(x.toDouble)).max
    assert(math.abs(row.getDouble(1) - expPeak) < 1e-9)
    val expRms = expected.grouped(100).map(f =>
      math.sqrt(f.map(x => x.toDouble * x).sum / 100)).toSeq
    val gotRms = row.getSeq[Double](2)
    assert(gotRms.zip(expRms).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("decodeAudioPcm: unparseable payload quarantines to null") {
    import spark.implicits._
    val out = Seq((1L, Array[Byte](1, 2, 3, 4))).toDF("id", "payload")
      .select(Multimodal.decodeAudioPcm(col("payload")).as("pcm"))
      .collect().head
    assert(out.isNullAt(0))
  }

  // -------------------------------------------------- MP3 frame-header walk

  /** MPEG1 Layer III 44100 Hz 128 kbps stereo frames, no padding:
    * header FF FB 90 00, frame length 144·128000/44100 = 417 bytes. */
  private def mp3Bytes(nFrames: Int, id3Junk: Int = 0): Array[Byte] = {
    val frame = Array[Byte](0xff.toByte, 0xfb.toByte, 0x90.toByte, 0x00) ++
      Array.fill[Byte](417 - 4)(0)
    val id3 =
      if (id3Junk == 0) Array.empty[Byte]
      else Array[Byte]('I', 'D', '3', 4, 0, 0,
        ((id3Junk >> 21) & 0x7f).toByte, ((id3Junk >> 14) & 0x7f).toByte,
        ((id3Junk >> 7) & 0x7f).toByte, (id3Junk & 0x7f).toByte) ++
        Array.fill[Byte](id3Junk)(0x55)
    id3 ++ Array.fill(nFrames)(frame).flatten
  }

  test("Mp3.parse: rate/channels from the header, duration from the frame walk") {
    val meta = Mp3.parse(mp3Bytes(38)).get
    // 38 frames x 1152 samples / 44100 Hz = 992.6 ms
    assert(meta == Mp3.AudioMeta(44100, 2, 38L * 1152 * 1000 / 44100))
    // an ID3v2 tag (and its junk payload) is skipped via syncsafe length
    assert(Mp3.parse(mp3Bytes(38, id3Junk = 100)) == Some(meta))
    assert(Mp3.parse("definitely not audio".getBytes).isEmpty)
    assert(Mp3.parse(Array.empty[Byte]).isEmpty)
  }

  test("audioMetaFromBytes: WAV via JDK header, MP3 via frame walk, junk to null") {
    import spark.implicits._
    val wav = wavBytes(Array.fill[Short](8000)(1000), sampleRate = 16000)
    val df = Seq((1L, wav), (2L, mp3Bytes(38)), (3L, "junk".getBytes))
      .toDF("id", "payload")
      .select(col("id"), Multimodal.audioMetaFromBytes(col("payload")).as("meta"))
    assert(df.schema("meta").dataType ==
      Seq((1, 1, 1L)).toDF("a", "b", "c")
        .select(Multimodal.audioMeta(col("a"), col("b"), col("c")).as("m"))
        .schema("m").dataType)
    val rows = df.collect().sortBy(_.getLong(0))
    val w = rows(0).getStruct(1)
    assert((w.getInt(0), w.getInt(1), w.getLong(2)) == ((16000, 1, 500L)))
    val m = rows(1).getStruct(1)
    assert((m.getInt(0), m.getInt(1), m.getLong(2)) == ((44100, 2, 38L * 1152 * 1000 / 44100)))
    assert(rows(2).isNullAt(1))
  }

  // ------------------------------------------------------- MP4 moov parsing

  /** ISO-BMFF box writer: [u32 size][4cc][payload]. */
  private def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    val bb = java.nio.ByteBuffer.allocate(8 + body.length) // big-endian default
    bb.putInt(8 + body.length); bb.put(typ.getBytes("ISO-8859-1")); bb.put(body)
    bb.array()
  }
  private def be32(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(v.toInt).array()
  private def be16(v: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(2).putShort(v.toShort).array()

  /** Minimal playable-shaped MP4 metadata tree: 640×360, movie timescale
    * 600 with duration 6000 ticks (10 s), one video track whose stts
    * declares 240 samples of 25 ticks (240 frames / 10 s = 24 fps). */
  private def mp4Bytes(handler: String = "vide"): Array[Byte] = {
    val verflags = be32(0)
    val mvhd = box("mvhd", verflags, be32(0), be32(0), be32(600), be32(6000),
      Array.fill[Byte](80)(0))
    val tkhd = box("tkhd", verflags, be32(0), be32(0), be32(1), be32(0), be32(6000),
      Array.fill[Byte](16)(0), // reserved/layer/alt-group/volume/reserved
      Array.fill[Byte](36)(0), // matrix
      be16(640), be16(0), be16(360), be16(0)) // 16.16 fixed width/height
    val mdhd = box("mdhd", verflags, be32(0), be32(0), be32(600), be32(6000), be16(0), be16(0))
    val hdlr = box("hdlr", verflags, be32(0), handler.getBytes("ISO-8859-1"),
      Array.fill[Byte](13)(0))
    val stts = box("stts", verflags, be32(1), be32(240), be32(25))
    val stbl = box("stbl", stts)
    val minf = box("minf", stbl)
    val mdia = box("mdia", mdhd, hdlr, minf)
    val trak = box("trak", tkhd, mdia)
    val ftyp = box("ftyp", "isom".getBytes, be32(512), "isomiso2".getBytes)
    val mdat = box("mdat", Array[Byte](1, 2, 3))
    ftyp ++ box("moov", mvhd, trak) ++ mdat
  }

  test("Mp4.parse reads width/height/fps/duration from real moov bytes") {
    val meta = Mp4.parse(mp4Bytes()).get
    assert(meta == Mp4.VideoMeta(640, 360, 24.0, 10000L))
  }

  test("Mp4.parse quarantines garbage, truncation, and audio-only files") {
    assert(Mp4.parse("not an mp4 at all".getBytes).isEmpty)
    assert(Mp4.parse(mp4Bytes().take(40)).isEmpty) // truncated mid-moov
    assert(Mp4.parse(mp4Bytes(handler = "soun")).isEmpty) // no video track
    assert(Mp4.parse(Array.empty[Byte]).isEmpty)
  }

  test("videoMetaFromBytes feeds frameSampleGrid with hand-computed indices") {
    import spark.implicits._
    val df = Seq((1L, mp4Bytes()), (2L, "junk".getBytes)).toDF("id", "payload")
      .select(col("id"), Multimodal.videoMetaFromBytes(col("payload")).as("meta"))
    // schema matches videoMeta exactly (so downstream operators are
    // agnostic to whether metadata came from bytes or from columns)
    assert(df.schema("meta").dataType ==
      Seq((1, 1, 1.0, 1L)).toDF("a", "b", "c", "d")
        .select(Multimodal.videoMeta(col("a"), col("b"), col("c"), col("d")).as("m"))
        .schema("m").dataType)
    val rows = df.collect().sortBy(_.getLong(0))
    assert(rows(1).isNullAt(1), "junk payload must quarantine to null")
    val m = rows(0).getStruct(1)
    assert((m.getInt(0), m.getInt(1), m.getDouble(2), m.getLong(3)) == ((640, 360, 24.0, 10000L)))
    // 240 frames at 24 fps, every 48th → indices 0,48,96,144,192 with
    // ts_ms = floor(idx * 1000 / 24)
    val frames = Multimodal.sampleFrames(df.filter(col("id") === 1L), everyNth = 48)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(frames == Seq(0, 48, 96, 144, 192).map(i => (i, i * 1000L / 24)))
  }

  test("container parsers are total: random and mutated bytes never throw") {
    val rnd = new scala.util.Random(42) // fixed seed — deterministic
    for (_ <- 1 to 300) {
      val junk = Array.fill[Byte](rnd.nextInt(256))(rnd.nextInt().toByte)
      Mp4.parse(junk); Mp3.parse(junk) // must return, never throw
    }
    // bit-flip mutations of VALID files: the dangerous inputs are the
    // almost-well-formed ones (sizes/offsets corrupted mid-tree)
    val mp4 = mp4Bytes(); val mp3 = mp3Bytes(4)
    for (_ <- 1 to 300) {
      val m4 = mp4.clone(); val i4 = rnd.nextInt(m4.length)
      m4(i4) = (m4(i4) ^ (1 << rnd.nextInt(8))).toByte
      Mp4.parse(m4)
      val m3 = mp3.clone(); val i3 = rnd.nextInt(m3.length)
      m3(i3) = (m3(i3) ^ (1 << rnd.nextInt(8))).toByte
      Mp3.parse(m3)
    }
  }

  /** Write a real animated GIF (ImageIO sequence writer): one solid-color
    * frame per (rgb, delay_cs) pair. */
  private def makeGif(w: Int, h: Int, frames: Seq[(Int, Int)]): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    val baos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(baos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for ((rgb, delayCs) <- frames) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb))
      g.fillRect(0, 0, w, h)
      g.dispose()
      val param = writer.getDefaultWriteParam
      val meta = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), param)
      val fmt = "javax_imageio_gif_image_1.0"
      val tree = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      val gce = {
        var c = tree.getFirstChild
        var found: IIOMetadataNode = null
        while (c != null) {
          if (c.getNodeName == "GraphicControlExtension")
            found = c.asInstanceOf[IIOMetadataNode]
          c = c.getNextSibling
        }
        if (found == null) {
          val n = new IIOMetadataNode("GraphicControlExtension")
          tree.appendChild(n); n
        } else found
      }
      gce.setAttribute("disposalMethod", "none")
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("transparentColorIndex", "0")
      gce.setAttribute("delayTime", delayCs.toString)
      meta.setFromTree(fmt, tree)
      writer.writeToSequence(new IIOImage(img, null, meta), param)
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    baos.toByteArray
  }

  test("Gif.frames: real multi-frame decode with exact pixel digests and delays") {
    val w = 11; val h = 7
    val spec = Seq((0xff0000, 12), (0x00ff00, 25), (0x0000ff, 50))
    val gif = makeGif(w, h, spec)
    val fs = Gif.frames(gif).get
    assert(fs.size == 3)
    fs.zip(spec).zipWithIndex.foreach { case ((f, (rgb, delay)), i) =>
      assert(f.frame_idx == i && f.width == w && f.height == h)
      assert(f.x == 0 && f.y == 0)
      assert(f.delay_cs == delay, s"frame $i delay")
      // solid primary color survives GIF palettization exactly
      val chanSum = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
      assert(f.rgb_sum == chanSum.toLong * w * h, s"frame $i rgb_sum")
    }
    // the raster itself: every pixel of frame 2 is opaque blue
    val argb = Gif.frameArgb(gif, 2).get
    assert(argb.length == w * h && argb.forall(_ == 0xff0000ff))
    // digests distinguish frames
    assert(fs.map(_.argb_md5).distinct.size == 3)
  }

  test("Gif.parse + videoMetaFromBytes route GIF clips through the video schema") {
    import spark.implicits._
    val gif = makeGif(5, 4, Seq((0xffffff, 10), (0x000000, 10), (0x808080, 10), (0x404040, 10)))
    val meta = Gif.parse(gif).get
    assert(meta.width == 5 && meta.height == 4)
    assert(meta.duration_ms == 400) // 4 × 10 cs
    assert(math.abs(meta.fps - 10.0) < 1e-9) // 4 frames / 0.4 s
    // the UDF path: GIF payloads land in videoMeta's struct schema and
    // feed the SAME sampling grid as MP4 clips
    val df = Seq((1L, gif)).toDF("id", "payload")
      .select(col("id"), Multimodal.videoMetaFromBytes(col("payload")).as("meta"))
    val sampled = Multimodal.sampleFrames(df, everyNth = 2).collect()
    assert(sampled.map(r => (r.getInt(1), r.getLong(2))).toSeq == Seq((0, 0L), (2, 200L)))
    // decode UDF: one struct per frame, exploded
    val n = Seq((1L, gif)).toDF("id", "payload")
      .select(explode(Multimodal.decodeGifFrames(col("payload"))).as("f"))
      .count()
    assert(n == 4)
    // quarantine: non-GIF bytes are null through both UDFs
    val junk = Seq((2L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))).toDF("id", "payload")
      .select(Multimodal.videoMetaFromBytes(col("payload")).as("m"),
        Multimodal.decodeGifFrames(col("payload")).as("f"))
      .collect().head
    assert(junk.isNullAt(0) && junk.isNullAt(1))
  }

  // ------------------------------------------------------ AVI / MJPEG

  private def jpegBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h); g.dispose()
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", baos)
    baos.toByteArray
  }

  /** Minimal MJPEG AVI: RIFF('AVI ' LIST hdrl(avih, LIST strl(strh,
    * strf)) LIST movi(00dc...)). All little-endian, chunks padded to
    * even length — the layout Avi.scala documents. */
  private def aviBytes(w: Int, h: Int, scale: Int, rate: Int,
                       frames: Seq[Array[Byte]],
                       audioFirst: Boolean = false): Array[Byte] = {
    def le32(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v.toInt).array()
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes("ISO-8859-1") ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    def list(typ: String, bodies: Array[Byte]*): Array[Byte] =
      chunk("LIST", typ.getBytes("ISO-8859-1") ++ bodies.flatten)
    val fps = rate.toDouble / scale
    val avih = le32(math.round(1e6 / fps)) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames.size) ++ le32(0) ++ le32(if (audioFirst) 2 else 1) ++ le32(0) ++
      le32(w) ++ le32(h) ++ Array.fill[Byte](16)(0)
    def strh(fccType: String, handler: String) =
      fccType.getBytes("ISO-8859-1") ++ handler.getBytes("ISO-8859-1") ++
        le32(0) ++ le32(0) ++ // flags, priority+language
        le32(0) ++ le32(scale) ++ le32(rate) ++ le32(0) ++
        le32(frames.size) ++ le32(0) ++ le32(0) ++ le32(0) ++
        Array.fill[Byte](8)(0) // rcFrame
    val vidStrl = list("strl", chunk("strh", strh("vids", "MJPG")),
      chunk("strf", Array.fill[Byte](40)(0)))
    // an optional leading audio stream shifts the video stream to index
    // 01 — exercises the NN-prefix selection in the movi walk
    val audStrl = list("strl", chunk("strh", strh("auds", "\u0000\u0000\u0000\u0000")),
      chunk("strf", Array.fill[Byte](16)(0)))
    val hdrl =
      if (audioFirst) list("hdrl", chunk("avih", avih), audStrl, vidStrl)
      else list("hdrl", chunk("avih", avih), vidStrl)
    val prefix = if (audioFirst) "01" else "00"
    val movi = list("movi", frames.map(f => chunk(prefix + "dc", f)): _*)
    val body = "AVI ".getBytes("ISO-8859-1") ++ hdrl ++ movi
    "RIFF".getBytes("ISO-8859-1") ++ le32(body.length) ++ body
  }

  test("Avi.parse: dims from avih, fps from strh rate/scale, duration exact") {
    val frames = Seq(jpegBytes(16, 12, 0xcc3344), jpegBytes(16, 12, 0x3344cc),
      jpegBytes(16, 12, 0x44cc33))
    val avi = aviBytes(16, 12, scale = 1001, rate = 30000, frames = frames)
    val meta = Avi.parse(avi).get
    assert(meta.width == 16 && meta.height == 12)
    assert(math.abs(meta.fps - 30000.0 / 1001) < 1e-9)
    assert(meta.duration_ms == math.round(3 * 1001000.0 / 30000)) // 100 ms
    assert(Avi.parse("RIFFjunk".getBytes).isEmpty)
    assert(Avi.parse(jpegBytes(4, 4, 0)).isEmpty)
  }

  test("Avi.frames: real MJPEG decode matches direct ImageIO decode of the same JPEGs") {
    val jpegs = Seq(jpegBytes(16, 12, 0xaa1122), jpegBytes(16, 12, 0x22aa11))
    val avi = aviBytes(16, 12, scale = 1, rate = 10, frames = jpegs)
    val fs = Avi.frames(avi).get
    assert(fs.size == 2)
    fs.zip(jpegs).zipWithIndex.foreach { case ((f, jpeg), i) =>
      assert(f.frame_idx == i && f.width == 16 && f.height == 12)
      assert(f.ts_ms == i * 100L) // 10 fps exactly
      // digest equals what decoding the embedded JPEG directly yields —
      // the container walk must hand the codec the exact chunk bytes
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
      val argb = img.getRGB(0, 0, 16, 12, null, 0, 16)
      val expSum = argb.map(p =>
        ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)).map(_.toLong).sum
      assert(f.rgb_sum == expSum, s"frame $i rgb_sum")
      assert(Avi.frameArgb(avi, i).get.sameElements(argb), s"frame $i raster")
    }
    assert(fs.map(_.argb_md5).distinct.size == 2)
  }

  test("Avi: video stream at index 01 behind an audio stream still decodes") {
    val jpegs = Seq(jpegBytes(8, 8, 0x102030))
    val avi = aviBytes(8, 8, scale = 1, rate = 5, frames = jpegs, audioFirst = true)
    assert(Avi.parse(avi).get.fps == 5.0)
    assert(Avi.frames(avi).get.size == 1)
  }

  test("decodeVideoFrames: GIF and AVI land in one schema with correct timestamps") {
    import spark.implicits._
    val gif = makeGif(6, 5, Seq((0xff0000, 10), (0x00ff00, 30), (0x0000ff, 10)))
    val avi = aviBytes(16, 12, scale = 1, rate = 4,
      frames = Seq(jpegBytes(16, 12, 0x555555), jpegBytes(16, 12, 0x999999)))
    val df = Seq((1L, gif), (2L, avi), (3L, "junk1234".getBytes))
      .toDF("id", "payload")
      .select(col("id"), Multimodal.decodeVideoFrames(col("payload")).as("fs"))
    val rows = df.collect().sortBy(_.getLong(0))
    // GIF: ts is the cumulative delay BEFORE each frame (0, 100, 400 ms)
    val gifTs = rows(0).getSeq[org.apache.spark.sql.Row](1).map(r => (r.getInt(0), r.getLong(3)))
    assert(gifTs == Seq((0, 0L), (1, 100L), (2, 400L)))
    // AVI: frame index at 4 fps → 0, 250 ms
    val aviTs = rows(1).getSeq[org.apache.spark.sql.Row](1).map(r => (r.getInt(0), r.getLong(3)))
    assert(aviTs == Seq((0, 0L), (1, 250L)))
    assert(rows(2).isNullAt(1), "junk payload must quarantine to null")
    // exploded per-frame rows carry non-degenerate digests
    val md5s = df.filter(col("id") =!= 3L)
      .select(explode(col("fs")).as("f")).select(col("f.argb_md5"))
      .collect().map(_.getString(0))
    assert(md5s.length == 5 && md5s.distinct.length == 5)
  }

  test("Avi parsers are total: random and mutated bytes never throw") {
    val rnd = new scala.util.Random(4242)
    for (_ <- 1 to 300) {
      val junk = Array.fill[Byte](rnd.nextInt(256))(rnd.nextInt().toByte)
      Avi.parse(junk); Avi.frames(junk)
    }
    val avi = aviBytes(8, 8, 1, 10, Seq(jpegBytes(8, 8, 0x776655)))
    for (_ <- 1 to 300) {
      val m = avi.clone(); val i = rnd.nextInt(m.length)
      m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      Avi.parse(m); Avi.frames(m) // must return (Some or None), never throw
    }
  }

  test("peak is the max absolute amplitude") {
    import spark.implicits._
    val p = Seq(Seq(0.25f, -0.75f, 0.5f)).toDF("s")
      .select(Multimodal.peak(col("s"))).collect().head.getDouble(0)
    assert(p == 0.75)
  }

  test("frameSampleGrid: every Nth frame with millisecond timestamps") {
    import spark.implicits._
    // 10 fps, 1000 ms → 10 frames; every 4th → 0, 4, 8
    val g = Seq((10.0, 1000L)).toDF("fps", "dur")
      .select(Multimodal.frameSampleGrid(col("fps"), col("dur"), 4).as("g"))
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(g.map(_.getInt(0)) == Seq(0, 4, 8))
    assert(g.map(_.getLong(1)) == Seq(0L, 400L, 800L))
  }

  test("frameSampleGrid: zero-duration clip yields no frames") {
    import spark.implicits._
    val g = Seq((30.0, 0L)).toDF("fps", "dur")
      .select(Multimodal.frameSampleGrid(col("fps"), col("dur"), 2).as("g"))
      .collect().head.getSeq[Any](0)
    assert(g.isEmpty)
  }

  test("sampleFrames explodes one row per sampled frame") {
    import spark.implicits._
    val df = Seq((7L, 5.0, 2000L)).toDF("id", "fps", "dur")
      .select(col("id"), Multimodal.videoMeta(lit(640), lit(480), col("fps"), col("dur")).as("meta"))
    val rows = Multimodal.sampleFrames(df, 3).orderBy("frame_idx").collect()
    // 10 frames at 5 fps over 2 s; every 3rd → 0, 3, 6, 9
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 3, 6, 9))
    assert(rows.forall(_.getLong(0) == 7L))
  }

  test("q159 frame-sample plan: budgeted even spacing over the fixture videos") {
    // closed-form model from the fixture ground truth (milli-fps, ms)
    val truth = Seq(("anim_d.gif", 10000L, 200L),
      ("movie_f.mp4", 24000L, 10000L), ("vid_e.avi", 4000L, 1500L))
    val model = truth.flatMap { case (f, fpsM, ms) =>
      val n = fpsM * ms / 1000000L
      val k = math.min(Fixtures.FrameBudget, n)
      (0L until k).map { i =>
        val idx = i * n / k
        (f, i, idx, idx * 1000000L / fpsM)
      }
    }.sortBy(t => (t._1, t._2))
    val got = Fixtures.frameSamplePlan(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == model && got.nonEmpty)
    // the 240-frame mp4 hits the budget cap; the 2-frame gif takes all
    assert(got.count(_._1 == "movie_f.mp4") == Fixtures.FrameBudget)
    assert(got.count(_._1 == "anim_d.gif") == 2)
    // indices strictly increase within a file (no duplicate picks)
    got.groupBy(_._1).values.foreach { rs =>
      val idxs = rs.sortBy(_._2).map(_._3)
      assert(idxs == idxs.distinct.sorted)
    }
  }

  test("extractFeaturesBatched matches the column-expression path") {
    import spark.implicits._
    val payload = Array[Byte](10, 20, 30, 40, 50, 60, 70)
    val df = Seq((1L, payload)).toDF("id", "payload")
    val row = Multimodal.extractFeaturesBatched(df, 3).collect().head
    assert(row.getInt(1) == 2) // 7 samples / 3 → 2 full frames
    // cross-check against the expression-based rmsFrames/peak
    val exprRow = df
      .select(Multimodal.decodeAudioStub(col("payload")).as("pcm"))
      .select(Multimodal.rmsFrames(col("pcm"), 3).as("r"), Multimodal.peak(col("pcm")).as("p"))
      .collect().head
    val rmsMax = exprRow.getSeq[Double](0).max
    assert(math.abs(row.getDouble(2) - rmsMax) < 1e-12)
    assert(math.abs(row.getDouble(3) - exprRow.getDouble(1)) < 1e-12)
  }

  test("Flac.parse: STREAMINFO rate/channels/total-samples, exact duration") {
    val m = Flac.parse(Fixtures.flacBytes(44100, 2, 44100L * 3)).get
    assert(m == Mp3.AudioMeta(44100, 2, 3000))
    val hi = Flac.parse(Fixtures.flacBytes(96000, 8, 48000)).get
    assert(hi == Mp3.AudioMeta(96000, 8, 500))
    // unknown total samples (0) is quarantined, not a zero-duration row
    assert(Flac.parse(Fixtures.flacBytes(44100, 2, 0)).isEmpty)
    assert(Flac.parse("fLaX not flac".getBytes).isEmpty)
    assert(Flac.parse(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("Ogg.parse: id-header rate/channels, duration from final granule") {
    val m = Ogg.parse(Fixtures.oggBytes(48000, 1, 24000)).get
    assert(m == Mp3.AudioMeta(48000, 1, 500))
    val st = Ogg.parse(Fixtures.oggBytes(44100, 2, 44100L * 7)).get
    assert(st == Mp3.AudioMeta(44100, 2, 7000))
    assert(Ogg.parse("OggX".getBytes ++ Array.fill[Byte](60)(0)).isEmpty)
    assert(Ogg.parse(Array[Byte]()).isEmpty)
  }

  test("Flac/Ogg parsers are total: random and mutated bytes never throw") {
    val rnd = new scala.util.Random(1234)
    for (_ <- 0 until 300) {
      val len = rnd.nextInt(200)
      val junk = Array.fill[Byte](len)(rnd.nextInt().toByte)
      Flac.parse(junk); Ogg.parse(junk)
    }
    for (fix <- Seq(Fixtures.flacBytes(22050, 2, 11025),
                    Fixtures.oggBytes(48000, 1, 24000));
         cut <- Seq(1, 5, 17, fix.length - 1)) {
      Flac.parse(fix.take(cut)); Ogg.parse(fix.take(cut))
      val mut = fix.clone(); mut(cut % mut.length) = (mut(cut % mut.length) ^ 0x5a).toByte
      Flac.parse(mut); Ogg.parse(mut)
    }
  }

  test("q205 round-trip reproduces q204's ground truth row-for-row") {
    // the driver's gate in miniature: q205 shares q204's oracle literals,
    // so encode→decode must reproduce the ORIGINAL fingerprints exactly
    val truth = Fixtures.audioPcm(spark, sfDir).collect().toSeq
    val rt = Fixtures.audioRoundtrip(spark, sfDir).collect().toSeq
    assert(rt == truth && truth.nonEmpty)
    // the WAV rows prove the cross-format WAV→FLAC conversion leg
    assert(rt.count(_.getString(0).endsWith(".wav")) == 2)
  }
}
