package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Schemas
import graft.operators.{GraphAnalytics, GraphBuild, Multimodal, Pymk}
import graft.operators.Multimodal._

/** Multimodal plumbing (schema/batching/determinism with the stubbed
  * codec) and GraphX analytics parity with the DataFrame operators.
  */
class MultimodalGraphXSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  lazy val media = Seq(
    MediaRecord(1L, "image", "fake-jpeg-bytes-aa".getBytes, MediaMeta("jpeg", 8, 8, 3, 0)),
    MediaRecord(2L, "image", "fake-jpeg-bytes-bb".getBytes, MediaMeta("jpeg", 4, 4, 3, 0)),
    MediaRecord(3L, "video", "fake-mp4-bytes-cccc".getBytes, MediaMeta("mp4", 16, 16, 3, 5000))
  ).toDS()

  test("decode: fixed schema, deterministic pixels, meta preserved") {
    val d1 = Multimodal.decode(media).collect().sortBy(_.id)
    val d2 = Multimodal.decode(media.repartition(3)).collect().sortBy(_.id)
    assert(d1.map(_.pixels.toSeq).toSeq == d2.map(_.pixels.toSeq).toSeq,
      "decode must be deterministic regardless of partitioning")
    assert(d1.head.pixels.length == 64) // 8x8 capped shape
    assert(d1(1).pixels.length == 16)   // 4x4
    assert(d1.head.meta.format == "jpeg")
  }

  test("resize updates meta and pixel shape in lockstep") {
    val r = Multimodal.resize(Multimodal.decode(media), 2, 2).collect()
    assert(r.forall(_.pixels.length == 4))
    assert(r.forall(d => d.meta.width == 2 && d.meta.height == 2))
  }

  // ---- real png codec (javax.imageio — JDK built-in, no external dep)

  /** Render a real grayscale PNG from row-major [0,255] levels. */
  private def png(w: Int, h: Int, level: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = level(x, y) & 0xFF
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("ImageIoCodec decodes real PNG bytes: dims from the header, known luma") {
    // 2x2: black, white, mid-gray row 2 — luma of gray (r=g=b) is the
    // level itself under the BT.601 weights
    val bytes = png(2, 2, (x, y) => if (y == 0) (if (x == 0) 0 else 255) else 128)
    val px = ImageIoCodec.decode(bytes, MediaMeta("png", 2, 2, 1, 0))
    assert(px.length == 4)
    assert(px(0) == 0f && math.abs(px(1) - 1f) < 1e-3)
    assert(math.abs(px(2) - 128f / 255f) < 1e-3 && px(2) == px(3))
    // corrupt payload throws instead of producing garbage features
    intercept[IllegalArgumentException] {
      ImageIoCodec.decode("not an image".getBytes, MediaMeta("png", 1, 1, 1, 0))
    }
  }

  test("ImageIoCodec resize is area averaging; embed pools to a centered grid") {
    // 4x2 image, left half black, right half white -> 2x1 resize
    // averages each half exactly
    val bytes = png(4, 2, (x, _) => if (x < 2) 0 else 255)
    val px = ImageIoCodec.decode(bytes, MediaMeta("png", 4, 2, 1, 0))
    val (small, meta) = ImageIoCodec.resize(px, MediaMeta("png", 4, 2, 1, 0), 2, 1)
    assert(meta.width == 2 && meta.height == 1)
    assert(small(0) == 0f && math.abs(small(1) - 1f) < 1e-3)
    // embed(4): near-square grid 2x2, centered to [-0.5, 0.5]
    val e = ImageIoCodec.embed(bytes, 4)
    assert(e.length == 4)
    assert(e(0) == -0.5f && e(2) == -0.5f) // black cells
    assert(math.abs(e(1) - 0.5f) < 1e-3 && math.abs(e(3) - 0.5f) < 1e-3)
  }

  test("real-codec pipeline: identical payloads embed identically, ANN twin recovery") {
    import graft.operators.Similarity
    val recs = (0L until 40L).flatMap { i =>
      val bytes = png(8, 8, (x, y) => ((x * 37 + y * 101 + i * 13) % 256).toInt)
      Seq(MediaRecord(i, "image", bytes, MediaMeta("png", 8, 8, 1, 0)),
        MediaRecord(i + 1000, "image", bytes, MediaMeta("png", 8, 8, 1, 0)))
    }.toDS()
    val features = Multimodal.extractFeatures(recs, dim = 16,
      codec = ImageIoCodec).toDF()
    val q = features.filter(col("id") >= 1000)
    val res = Similarity.bruteForceTopK(q, features.filter(col("id") < 1000),
      "id", "embedding", "id", "embedding", 1)
    val hits = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.length == 40)
    hits.foreach { case (qid, id, sim) =>
      assert(id == qid - 1000 && sim == 1.0, s"twin miss for $qid") }
  }

  /** Render a real 16-bit mono little-endian WAV from [-1,1] samples. */
  private def wav(samples: Array[Float], rate: Float = 8000f): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      val v = math.max(-32768, math.min(32767, math.round(s * 32767f)))
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("WavCodec decodes real WAV bytes: sample round-trip, RMS embed, bad input throws") {
    // square wave alternating +0.5 / -0.5 for 16 samples, then silence
    val sig = Array.tabulate(32)(i =>
      if (i < 16) { if (i % 2 == 0) 0.5f else -0.5f } else 0.0f)
    val bytes = wav(sig)
    val decoded = WavCodec.decode(bytes, MediaMeta("wav", 0, 0, 1, 0))
    assert(decoded.length == 32)
    // 16-bit quantization: within 1/32767 of the source samples
    sig.zip(decoded).foreach { case (want, got) =>
      assert(math.abs(want - got) < 1e-4, s"$want vs $got") }
    // embed(2): window RMS — first half ~0.5, second half 0
    val e = WavCodec.embed(bytes, 2)
    assert(math.abs(e(0) - 0.5f) < 1e-3 && e(1) == 0f)
    intercept[IllegalArgumentException] {
      WavCodec.decode("not audio".getBytes, MediaMeta("wav", 0, 0, 1, 0))
    }
  }

  test("WavCodec: 8-bit signed AIFF decodes by its encoding; mu-law is rejected") {
    import javax.sound.sampled._
    // 8-bit SIGNED PCM (the AIFF convention): byte 64 must decode to
    // +0.5, not the unsigned reading (64/128 - 1 = -0.5)
    val sFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      8000f, 8, 1, 1, 8000f, true)
    val pcm = Array[Byte](64, -64, 0, 127)
    val sAis = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), sFmt, pcm.length)
    val sBos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(sAis, AudioFileFormat.Type.AIFF, sBos)
    val dec = WavCodec.decode(sBos.toByteArray, MediaMeta("aiff", 0, 0, 1, 0))
    assert(dec.length == 4)
    assert(dec(0) == 0.5f && dec(1) == -0.5f && dec(2) == 0f)
    // mu-law AU passes the sample-size check but not the encoding
    // gate: must throw, never silently decode garbage
    val uFmt = new AudioFormat(AudioFormat.Encoding.ULAW,
      8000f, 8, 1, 1, 8000f, false)
    val uAis = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), uFmt, pcm.length)
    val uBos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(uAis, AudioFileFormat.Type.AU, uBos)
    intercept[IllegalArgumentException] {
      WavCodec.decode(uBos.toByteArray, MediaMeta("au", 0, 0, 1, 0))
    }
  }

  test("ImageIoCodec in the pipeline: decoded meta follows the header, not advisory dims") {
    // a 4x4 PNG carried with WRONG advisory 2x2 meta: decode must emit
    // a record whose meta matches the 16 decoded pixels, so resize works
    val bytes = png(4, 4, (x, y) => (x + y) * 30)
    val media = Seq(MediaRecord(1L, "image", bytes,
      MediaMeta("png", 2, 2, 1, 0))).toDS()
    val decoded = Multimodal.decode(media, codec = ImageIoCodec).collect().head
    assert(decoded.meta.width == 4 && decoded.meta.height == 4)
    assert(decoded.pixels.length == 16)
    val resized = Multimodal.resize(
      Multimodal.decode(media, codec = ImageIoCodec), 2, 2,
      codec = ImageIoCodec).collect().head
    assert(resized.pixels.length == 4 && resized.meta.width == 2)
  }

  test("WavCodec feeds the multimodal pipeline: identical payloads, twin recovery") {
    import graft.operators.Similarity
    val recs = (0L until 20L).flatMap { i =>
      // per-window amplitude ENVELOPE distinguishes signals: window RMS
      // of a sine is amplitude/sqrt(2) regardless of frequency, so
      // equal-amplitude signals would all embed identically
      val sig = Array.tabulate(64) { j =>
        val w = j / 8
        val amp = (((i + 1) * 2654435761L + w * w * 40503L + w * i * 69069L)
          % 89 + 10) / 100.0
        (math.sin((j + 1) * 0.37) * amp).toFloat
      }
      val bytes = wav(sig)
      Seq(MediaRecord(i, "audio", bytes, MediaMeta("wav", 0, 0, 1, 8)),
        MediaRecord(i + 1000, "audio", bytes, MediaMeta("wav", 0, 0, 1, 8)))
    }.toDS()
    val features = Multimodal.extractFeatures(recs, dim = 8,
      codec = WavCodec).toDF()
    val q = features.filter(col("id") >= 1000)
    val res = Similarity.bruteForceTopK(q, features.filter(col("id") < 1000),
      "id", "embedding", "id", "embedding", 1)
    val hits = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.length == 20)
    hits.foreach { case (qid, id, sim) =>
      assert(id == qid - 1000 && sim == 1.0, s"twin miss for $qid") }
  }

  test("frame sampling: every 2nd of 6 frames, one row per frame") {
    val f = Multimodal.sampleFrames(media.filter(_.mediaType == "video"), 2, 6)
      .collect().sortBy(_.frameNo)
    assert(f.map(_.frameNo).toSeq == Seq(0, 2, 4))
    assert(f.forall(_.content.nonEmpty))
  }

  /** Render a real animated GIF: frame 0 full-screen, later frames
    * optionally sub-rectangles at (left, top) — the changed-region
    * encoding GifCodec must composite. 256-gray indexed palette so the
    * write→decode round-trip is bit-exact. */
  private def gif(w: Int, h: Int,
                  frames: Seq[(Int, Int, Int, Int, (Int, Int) => Int)]): Array[Byte] = {
    val cmap = (0 until 256).map(i => (0xFF << 24) | (i << 16) | (i << 8) | i).toArray
    val icm = new java.awt.image.IndexColorModel(8, 256, cmap, 0, false, -1,
      java.awt.image.DataBuffer.TYPE_BYTE)
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for ((lx, ly, fw, fh, level) <- frames) {
      val img = new java.awt.image.BufferedImage(fw, fh,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      for (y <- 0 until fh; x <- 0 until fw)
        img.getRaster.setSample(x, y, 0, level(x, y) & 0xFF)
      val param = writer.getDefaultWriteParam
      // the JDK writer interlaces by default, and the JDK READER
      // mis-decodes interlaced frames shorter than the 4 interlace
      // passes — write progressive-off like every sane encoder
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
      val md = writer.getDefaultImageMetadata(
        new javax.imageio.ImageTypeSpecifier(img), param)
      val fmt = "javax_imageio_gif_image_1.0"
      val root = md.getAsTree(fmt)
        .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      val desc = root.getElementsByTagName("ImageDescriptor").item(0)
        .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      desc.setAttribute("imageLeftPosition", lx.toString)
      desc.setAttribute("imageTopPosition", ly.toString)
      md.setFromTree(fmt, root)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, md), param)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    bos.toByteArray
  }

  test("GifCodec decodes real animated GIF frames; sub-frames composite at offsets") {
    // frame 0: 4x2 gradient; frame 1: 2x1 patch at (2, 1) overwriting
    // the bottom-right corner — the composited canvas keeps everything
    // else from frame 0
    val f0 = (x: Int, y: Int) => 10 + 20 * (y * 4 + x)
    val bytes = gif(4, 2, Seq((0, 0, 4, 2, f0), (2, 1, 2, 1, (_, _) => 250)))
    val frames = GifCodec.frames(bytes)
    assert(frames.length == 2)
    val lumaOf = (v: Int) =>
      (0.299f * v + 0.587f * v + 0.114f * v) / 255f // r=g=b round-trip
    frames.foreach { case (w, h, _) => assert(w == 4 && h == 2) }
    val px0 = frames(0)._3
    for (i <- 0 until 8)
      assert(math.abs(px0(i) - lumaOf(10 + 20 * i)) < 1e-4, s"frame0 px $i")
    val px1 = frames(1)._3
    for (i <- 0 until 6) // row 0 and (1,0)(1,1) unchanged from frame 0
      assert(px1(i) == px0(i), s"unpatched px $i must carry over")
    assert(math.abs(px1(6) - lumaOf(250)) < 1e-4 &&
      math.abs(px1(7) - lumaOf(250)) < 1e-4, "patch applied at (2..3, 1)")
    // corrupt payload throws (the undecodable-payload contract)
    intercept[IllegalArgumentException] {
      GifCodec.frames("definitely not a gif".getBytes)
    }
  }

  test("extractFrames: real decode in the pipeline, everyN sampling, determinism") {
    val payload = gif(3, 1, Seq(
      (0, 0, 3, 1, (x, _) => 40 * x),
      (0, 0, 3, 1, (x, _) => 40 * x + 1),
      (0, 0, 3, 1, (x, _) => 40 * x + 2)))
    val vids = Seq(
      MediaRecord(7L, "video", payload, MediaMeta("gif", 0, 0, 0, 0L))).toDS()
    val all = Multimodal.extractFrames(vids).collect().sortBy(_.frameNo)
    assert(all.length == 3 && all.map(_.frameNo).toSeq == Seq(0, 1, 2))
    // meta carries DECODED canvas dims, not the advisory zeros
    assert(all.forall(f => f.meta.width == 3 && f.meta.height == 1))
    // frames are distinct and deterministic across partitionings
    assert(all.map(_.pixels.toSeq).distinct.length == 3)
    val again = Multimodal.extractFrames(vids.repartition(2))
      .collect().sortBy(_.frameNo)
    assert(all.map(_.pixels.toSeq).toSeq == again.map(_.pixels.toSeq).toSeq)
    // everyN=2 keeps frames 0 and 2
    val sampled = Multimodal.extractFrames(vids, everyN = 2)
      .collect().map(_.frameNo).sorted
    assert(sampled.toSeq == Seq(0, 2))
  }

  test("feature extraction feeds the ANN path (array<float>, fixed dim)") {
    val feats = Multimodal.extractFeatures(media, dim = 16).toDF()
    assert(feats.schema("embedding").dataType.simpleString == "array<float>")
    val collected = feats.collect()
    assert(collected.forall(_.getSeq[Float](1).length == 16))
    // deterministic across runs
    val again = Multimodal.extractFeatures(media, dim = 16).collect()
    assert(collected.map(_.getSeq[Float](1)).toSeq ==
      again.sortBy(_.id).map(_.embedding.toSeq).toSeq)
  }

  lazy val cards = spark.read.schema(Schemas.cardEvent)
    .json(fixturePath("card_events.jsonl"))
    .select(col("s3_bucket"), col("s3_key"), col("owner"), col("data.*"))
  lazy val (vertices, edges) = GraphBuild.buildGraph(cards)

  test("GraphX pymkK(k=2) matches the DataFrame PYMK exactly") {
    val pobyId = "6f371694"
    val df = Pymk.recommend(edges, lit(pobyId), 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gx = GraphAnalytics.pymkK(spark, vertices, edges, pobyId, k = 2, limit = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gx == df)
  }

  test("GraphX degrees match the undirected bag degree") {
    val gx = GraphAnalytics.degrees(vertices, edges).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val df = Pymk.undirected(edges).groupBy(col("from").as("id"))
      .agg(count(lit(1)).as("degree")).collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    assert(gx == df)
  }

  test("PageRank and connected components run and cover all vertices") {
    val pr = GraphAnalytics.pageRank(vertices, edges)
    assert(pr.count() == 6)
    val cc = GraphAnalytics.connectedComponents(vertices, edges)
    assert(cc.select("component").distinct().count() == 1) // one community
  }

  test("connectedComponentsDF: long path needs many rounds; multi-component; == GraphX") {
    // path 0-1-2-...-19 (diameter 19 spans several two-round
    // convergence blocks) + a separate triangle {100,101,102} + an
    // isolated edge 200-201
    val path = (0L until 19L).map(i => (i, i + 1))
    val extra = Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L))
    val edges = (path ++ extra).toDF("src", "dst")
    val got = GraphAnalytics.connectedComponentsDF(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ((0L to 19L).map(_ -> 0L) ++
      Seq(100L, 101L, 102L).map(_ -> 100L) ++
      Seq(200L, 201L).map(_ -> 200L)).toMap
    assert(got == want)

    val df = GraphAnalytics.connectedComponentsDF(
        this.edges.select(col("src"), col("dst")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // GraphX components canonicalized to min original id (string min —
    // ids here are md5-8 hex, so string order is the component id order)
    val cc = GraphAnalytics.connectedComponents(vertices, this.edges)
    val canon = cc.groupBy("component").agg(min("id").as("comp"))
    val gx = cc.join(canon, "component").select(col("id"), col("comp"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(df == gx)
  }

  test("kCore: K4+tail known answer; gate config converged on the derived graph") {
    // K4 on 1-4 is a 3-core; the tail 4-5 and pendant 5-6 peel away
    val raw = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
        (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val got = GraphAnalytics.kCore(raw, k = 3).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> true, 4L -> true,
      5L -> false, 6L -> false))
    // the gate's fixed 8 rounds have converged: one more round is a no-op
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val edges = graft.queries.GraphQueries.derivedEdges(events)
    def coreSet(rounds: Int) = GraphAnalytics.kCore(edges, 3, rounds)
      .filter(col("in_core")).collect().map(_.getLong(0)).toSet
    assert(coreSet(8) == coreSet(9))
  }

  test("kCoreConverged: reaches the fixpoint where fixed rounds stop mid-cascade") {
    // path 1-2-…-12: 2-core peeling strips one vertex per end per round
    // (~6 rounds to empty) — a budget of 2 rounds is mid-cascade
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val midCascade = GraphAnalytics.kCore(path, k = 2, rounds = 2)
      .filter(col("in_core")).count()
    assert(midCascade > 0) // the fixed-round foot-gun, by construction
    val (conv, flag, pathRounds) = GraphAnalytics.kCoreConverged(path, k = 2)
    assert(flag && conv.filter(col("in_core")).isEmpty) // true 2-core: none
    // 12-path 2-core peels both ends each round: 6 peels to empty + the
    // confirming round
    assert(pathRounds == 7)
    // and on a graph with a real core it agrees with the converged
    // fixed-round gate shape (K4 survives, tail peels)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val (m, f2, _) = GraphAnalytics.kCoreConverged(k4, k = 3)
    assert(f2)
    assert(m.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap ==
      Map(1L -> true, 2L -> true, 3L -> true, 4L -> true,
        5L -> false, 6L -> false))
    // maxRounds exhausted before the cascade ends → flag says so
    assert(!GraphAnalytics.kCoreConverged(path, k = 2, maxRounds = 2)._2)
  }

  test("skipGramPairs: exact window pairs and counts on a known 2-walk corpus") {
    // walk 0 = [1,2,3,4], walk 1 = [1,2,1]; window 2, ordered pairs,
    // repeated vertices pair with themselves across positions
    val walks = Seq(
      (0L, 0, 1L), (0L, 1, 2L), (0L, 2, 3L), (0L, 3, 4L),
      (1L, 0, 1L), (1L, 1, 2L), (1L, 2, 1L)
    ).toDF("walk_id", "step", "vertex")
    val got = GraphAnalytics.skipGramPairs(walks, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (1L, 2L) -> 3L, (2L, 1L) -> 3L, (1L, 1L) -> 2L,
      (1L, 3L) -> 1L, (2L, 3L) -> 1L, (2L, 4L) -> 1L,
      (3L, 1L) -> 1L, (3L, 2L) -> 1L, (3L, 4L) -> 1L,
      (4L, 2L) -> 1L, (4L, 3L) -> 1L))
    // window 1 drops exactly the distance-2 pairs: walk 0's (1,3),
    // (2,4) mirrors and walk 1's (1,1) — adjacent pairs keep their
    // counts ((1,2)/(2,1) still 3: walk 0 once + walk 1's two
    // adjacencies)
    val w1 = GraphAnalytics.skipGramPairs(walks, window = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(w1 == Map(
      (1L, 2L) -> 3L, (2L, 1L) -> 3L, (2L, 3L) -> 1L,
      (3L, 2L) -> 1L, (3L, 4L) -> 1L, (4L, 3L) -> 1L))
  }

  test("subsampleWalks: hub occurrences thinned, rare vertices untouched, replayable") {
    // vertex 1 dominates the corpus (100 of 104 occurrences); t makes
    // its keep-prob < 1 while the rare vertices keep every occurrence
    val rows = (0 until 100).map(i => (i.toLong, 0, 1L)) ++
      Seq((200L, 0, 2L), (201L, 0, 3L), (202L, 0, 4L), (203L, 0, 5L))
    val walks = rows.toDF("walk_id", "step", "vertex")
    val kept = GraphAnalytics.subsampleWalks(walks, t = 0.01).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // f(hub) = 100/104 -> p = (sqrt(f/t)+1)*t/f ~ 0.11: thinned hard
    val hubKept = kept.count(_._3 == 1L)
    assert(hubKept > 0 && hubKept < 100, s"hub thinned, got $hubKept")
    // rare vertices: f = 1/104 < t -> keep-prob 1, every row survives
    for (v <- 2L to 5L) assert(kept.count(_._3 == v) == 1, s"rare $v kept")
    // subset of the input, and deterministic
    val input = rows.toSet
    assert(kept.forall(input.contains))
    val again = GraphAnalytics.subsampleWalks(walks, t = 0.01).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(kept.sorted.toSeq == again.sorted.toSeq)
  }

  test("walk preprocessing survives an empty corpus") {
    val empty = Seq.empty[(Long, Int, Long)].toDF("walk_id", "step", "vertex")
    assert(GraphAnalytics.subsampleWalks(empty).count() == 0)
    assert(GraphAnalytics.negativeSamplingTable(empty).count() == 0)
    assert(GraphAnalytics.skipGramPairs(empty).count() == 0)
  }

  test("negativeSamplingTable: unigram^0.75 exact integer-micro p/cum") {
    // counts 16 and 1: weights 16^0.75 = 8 vs 1 -> p = 8/9, 1/9
    val walks = ((0 until 16).map(i => (i.toLong, 0, 1L)) :+ (100L, 0, 2L))
      .toDF("walk_id", "step", "vertex")
    val t = GraphAnalytics.negativeSamplingTable(walks).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(t.toSeq == Seq(
      (1L, 16L, 0.88888889, 0.88888889),
      (2L, 1L, 0.11111111, 1.0)))
  }

  test("negativeSamplingTableScalable: bit-identical to the window form") {
    // enough distinct vertices to spread over several range partitions
    val rnd = new scala.util.Random(5)
    val walks = (0 until 4000).map { i =>
      (i.toLong, i % 7, (rnd.nextInt(300) + 1).toLong)
    }.toDF("walk_id", "step", "vertex")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    val window = rows(GraphAnalytics.negativeSamplingTable(walks))
    val scalable = rows(
      GraphAnalytics.negativeSamplingTableScalable(walks, partitions = 8))
    // integer micro weights make the distributed prefix sum EXACT:
    // every p and cum matches to the last rounded digit
    assert(scalable === window)
    assert(GraphAnalytics.negativeSamplingTableScalable(
      Seq.empty[(Long, Int, Long)].toDF("walk_id", "step", "vertex"))
      .count() == 0)
  }

  test("harmonicCentrality: known 1/d sums on a path, truncation zeroes the far tail") {
    // path 1-2-3-4-5. SAMPLE-SELECTION CONTRACT: sources are the
    // numSources lowest vertices by (md5Bucket(id), id) — hash-spread,
    // not lowest-id (lowest-id is biased when ids correlate with age/
    // shard). md5 first-8-hex of "1".."5" sort as 4 < 1 < 2 < 5 < 3,
    // so numSources = 2 picks S = {4, 1}.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = GraphAnalytics.harmonicCentrality(path, numSources = 2, maxDepth = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> (333333L, 1L),             // only s=4 at d=3
      2L -> (1500000L, 2L),            // s=1 d=1, s=4 d=2
      3L -> (1500000L, 2L),            // s=1 d=2, s=4 d=1
      4L -> (333333L, 1L),             // only s=1 at d=3
      5L -> (1250000L, 2L)))           // s=1 d=4, s=4 d=1
    // truncation at depth 2: vertices 1 and 4 are d=3 apart — each
    // falls outside the other source's ball and keeps only in-ball mass
    val trunc = GraphAnalytics.harmonicCentrality(path, numSources = 2, maxDepth = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(trunc(1L) == (0L, 0L))      // s=4 is d=3 away — out of ball
    assert(trunc(4L) == (0L, 0L))      // s=1 is d=3 away — out of ball
    assert(trunc(5L) == (1000000L, 1L)) // only s=4 at d=1
  }

  test("hits: star hub and chain fixpoint, hand-computed micros") {
    // out-star 1→{2,3,4}: 1 is the only hub (1e6), leaves split
    // authority 1e6/3 = 333333 each, stable from round 1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val sg = GraphAnalytics.hits(star, iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sg == Map(1L -> (1000000L, 0L), 2L -> (0L, 333333L),
      3L -> (0L, 333333L), 4L -> (0L, 333333L)))
    // chain 1→2→3: auth splits over {2,3}, hub over {1,2}; vertex 2 is
    // both — fixpoint after round 1, so iters=1 and iters=3 agree
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val c3 = GraphAnalytics.hits(chain, iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c3 == Map(1L -> (500000L, 0L), 2L -> (500000L, 500000L),
      3L -> (0L, 500000L)))
    val c1 = GraphAnalytics.hits(chain, iters = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c1 == c3)
  }

  test("salsa: degree-normalized mass split, hand-computed micros") {
    // 1→{2,3}, 4→3: outdeg(1)=2 splits 1's mass, indeg(3)=2 splits
    // authority credit on the hub pass. Hand-rolled 3 rounds (floored
    // per-edge messages, L1 renorm per half):
    //   r1: a=(250000, 750000) on (2,3); h=(625000, 375000) on (1,4)
    //   r2: a=(312500, 687500); h=(656250, 343750)
    //   r3: a=(328125, 671875); h raw=(664062, 335937) tot 999999
    //       → renorm (664063, 335937); converging to a ∝ indeg (⅓:⅔)
    val g = Seq((1L, 2L), (1L, 3L), (4L, 3L)).toDF("src", "dst")
    val got = GraphAnalytics.salsa(g, iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (664063L, 0L), 2L -> (0L, 328125L),
      3L -> (0L, 671875L), 4L -> (335937L, 0L)))
    // HITS on the same graph weights in-edges by hub strength, so the
    // weak hub 4 discounts a(3) (→ 1/φ ≈ 0.618); SALSA's walk mass
    // lands ∝ indeg (→ 2/3) — the degree normalization is visible
    val hits = GraphAnalytics.hits(g, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(hits(3L) < got(3L)._2)
  }

  test("reciprocity: mutual pair over three edges, floored micros") {
    val g = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val r = GraphAnalytics.reciprocity(g).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((3L, 2L, 666666L)))
    // fully mutual graph → 1e6; no mutual edge → 0
    val full = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    assert(GraphAnalytics.reciprocity(full).head().getLong(2) == 1000000L)
    val none = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(GraphAnalytics.reciprocity(none).head().getLong(2) == 0L)
  }

  test("salsaPersonalized: circle-of-trust restriction, hand-computed ranks") {
    // und view of 1-2, 1-3, 2-4, 3-4, 3-5, 5-6; user 1's circle of
    // trust H = {1,2,3}; bipartite view 1→{2,3}, 2→{1,4}, 3→{1,4,5}
    // (vertex 6 is outside the 2-hop frontier and never touched).
    // Hand-rolled 3 rounds of floored micro messages + per-side L1
    // renorm end at a = (auth4 266975, auth5 132715) after the
    // friends-and-self exclusion — auth4 outranks via its two trusted
    // endorsers even though auth5 is also 2 hops out.
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (3L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val got = GraphAnalytics.salsaPersonalized(g, lit(1L), iters = 3, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((4L, 266975L), (5L, 132715L)))
    // hubs/self never appear; topK truncates deterministically
    val top1 = GraphAnalytics.salsaPersonalized(g, lit(1L), iters = 3, topK = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(top1 == Seq(4L))
  }

  test("richClub: induced hub density, degenerate singleton club") {
    // triangle 1-2-3 + pendant 3-4: k=1 → club {1,2,3} is the full
    // triangle (φ=1); k=0 → all 4 verts, 4 of 6 possible edges; k=2 →
    // singleton club, φ=0 by contract
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    def phi(k: Int) = {
      val r = GraphAnalytics.richClub(g, k).head()
      (r.getLong(1), r.getLong(2), r.getLong(3))
    }
    assert(phi(1) == ((3L, 3L, 1000000L)))
    assert(phi(0) == ((4L, 4L, 666666L)))
    assert(phi(2) == ((1L, 0L, 0L)))
  }

  test("degreeHistogram: exact log2 bins via binary length on a star") {
    // star 0-{1,2,3,4}: leaves d=1 → bin 0; center d=4 → bin 2
    val g = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val got = GraphAnalytics.degreeHistogram(g)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq((0L, 4L, 1L, 1L), (2L, 1L, 4L, 4L)))
  }

  test("friendshipParadox: star graph — neighbors average 2.5 vs 1.6") {
    val g = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val r = GraphAnalytics.friendshipParadox(g).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((5L, 1600L, 2500L, 1562500L)))
  }

  test("graphSummary: star graph counts, density, degree stats") {
    val g = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val r = GraphAnalytics.graphSummary(g).head()
    // n=5, edges=4, density 8/(5*4)=0.4, avg deg 1.6, max 4
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((5L, 4L, 400000L, 1600L, 4L)))
  }

  test("degreeGini: star graph inequality is exactly 0.3") {
    val g = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val r = GraphAnalytics.degreeGini(g).head()
    // degrees 1,1,1,1,4: G = 2*30/(5*8) - 6/5 = 0.3
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((5L, 8L, 300000L)))
  }

  test("landmarkEccentricity: path-3 landmarks reach everyone within 2") {
    val g = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = GraphAnalytics.landmarkEccentricity(g, numSources = 2,
      maxDepth = 4).collect()
    assert(got.nonEmpty && got.length <= 2)
    got.foreach { r =>
      assert(r.getLong(2) == 3L, "reaches all 3 vertices")
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 2L)
    }
  }

  test("componentSizes: path-3 plus two 2-islands bucket together") {
    // components {1,2,3} sz 3, {4,5} sz 2, {6,7} sz 2 -> all bin 1
    val g = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L)).toDF("src", "dst")
    val got = GraphAnalytics.componentSizes(g)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((1L, 3L, 2L, 3L, 7L)))
  }

  test("c4Count: one square, three cycles in K4, zero in a triangle") {
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val s = GraphAnalytics.c4Count(square).head()
    assert((s.getLong(0), s.getLong(1)) == ((2L, 1L)))
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("src", "dst")
    assert(GraphAnalytics.c4Count(k4).head().getLong(1) == 3L)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(GraphAnalytics.c4Count(tri).head().getLong(1) == 0L)
  }

  test("c4CountSampled: cap >= max degree degenerates to the exact count") {
    // hub-heavy bipartite-ish graph: users 1..8 each linked to hubs
    // 101..104 in an id-dependent pattern — plenty of 4-cycles
    val g = (1L to 8L).flatMap(u => (101L to 104L)
        .filter(h => (u + h) % 3 != 0).map(h => (u, h)))
      .toDF("src", "dst")
    val exact = GraphAnalytics.c4Count(g).head().getLong(1)
    assert(exact > 0L)
    val est = GraphAnalytics.c4CountSampled(g, maxDegree = 64).head()
    assert(est.getLong(2) == exact,
      "all weights 1 when nothing is sampled => estimator is the identity")
  }

  test("c4CountSampled: K4 under cap 2 stays nonneg; square exact at cap 2") {
    // square: every vertex has degree 2 = cap, so nothing is sampled
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val sEst = GraphAnalytics.c4CountSampled(square, maxDegree = 2).head()
    assert((sEst.getLong(1), sEst.getLong(2)) == ((2L, 1L)))
    // K4 at cap 2: each middle keeps C(2,2)=1 of C(3,2)=3 wedges with
    // HT weight 3 => per-diagonal S/Q depend on the md5 draw, but the
    // estimate must be a nonnegative integer (S² >= Q termwise)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("src", "dst")
    val kEst = GraphAnalytics.c4CountSampled(k4, maxDegree = 2).head()
    assert(kEst.getLong(2) >= 0L)
    assert(kEst.getLong(0) == 4L, "4 middles x 1 sampled wedge each")
  }

  test("c4CountSampled: the unit knob only rescales the HT quantum") {
    // one hub of degree 21 over cap 16: w = 21·20·unit div 240 is
    // EXACTLY divisible at both units (420000/240, 420·10⁶/240), so
    // the milli and micro estimates must agree to the integer — the
    // knob exists for celebrity-degree graphs where d(d−1)·10⁶
    // overflows a long, not to change the estimator
    val star = (1L to 21L).map(u => (u, 100L)).toDF("src", "dst")
    // a square among four leaves gives the estimate real 4-cycles to
    // see through the hub sample as well
    val g = star.unionAll(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst"))
    val micro = GraphAnalytics.c4CountSampled(g, maxDegree = 16).head()
    val milli = GraphAnalytics.c4CountSampled(g, maxDegree = 16,
      unit = 1000L).head()
    assert(micro.getLong(2) == milli.getLong(2),
      "exactly-divisible weights => unit-invariant estimate")
    assert(micro.getLong(0) == milli.getLong(0) &&
      micro.getLong(1) == milli.getLong(1))
  }

  test("conductance: bridge between two triangles, single-community guard") {
    // two triangles joined by edge 3-4: vol = 7 each side, cut = 1
    // each → φ = ⌊1e6/7⌋; one community owning all ends → φ = 0
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val twoComm = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L),
      (6L, 1L)).toDF("id", "lbl")
    val got = GraphAnalytics.conductance(g, twoComm)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == Map(0L -> (3L, 7L, 1L, 142857L),
      1L -> (3L, 7L, 1L, 142857L)))
    val oneComm = (1L to 6L).map(i => (i, 9L)).toDF("id", "lbl")
    val one = GraphAnalytics.conductance(g, oneComm).collect().head
    assert((one.getLong(3), one.getLong(4)) == ((0L, 0L)))
  }

  test("conductanceMulti equals per-assignment conductance calls") {
    // the r16 tagged-union pass must be row-identical to unioning two
    // single-assignment calls (the qX_conductance gate's old shape)
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L), (2L, 6L)).toDF("src", "dst")
    val a1 = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L),
      (6L, 1L)).toDF("id", "lbl")
    val a2 = (1L to 6L).map(i => (i, i % 3)).toDF("id", "lbl")
    val single = GraphAnalytics.conductance(g, a1)
      .withColumn("assignment", lit("a1"))
      .unionByName(GraphAnalytics.conductance(g, a2)
        .withColumn("assignment", lit("a2")))
      .orderBy(col("assignment"), col("lbl"))
      .collect().map(_.toString)
    val multi = GraphAnalytics.conductanceMulti(g,
        a1.withColumn("assignment", lit("a1"))
          .unionByName(a2.withColumn("assignment", lit("a2"))))
      .orderBy(col("assignment"), col("lbl"))
      .collect().map(_.toString)
    assert(multi.sameElements(single),
      s"multi=${multi.mkString(";")} single=${single.mkString(";")}")
  }

  test("powerLawAlpha: tail terms quantize before the fold, path-graph estimator") {
    // path 1-2-3-4: undirected degrees (1,2,2,1); tail d>=2 = {2,3},
    // each term round(1e6·ln(2/1.5)); estimator replays the operator's
    // fixed IEEE expression on those exact integers
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = GraphAnalytics.powerLawAlpha(g, dmin = 2).head()
    val lt = math.round(math.log(2.0 / 1.5) * 1e6)
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L &&
      r.getLong(2) == 2L * lt)
    assert(r.getLong(3) == math.round(1e6 + 1e12 * 2L / (2L * lt)))
    // a star's center-only tail yields a steeper (larger-α-denominator
    // smaller) slope than a clique's uniform heavy tail
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val s = GraphAnalytics.powerLawAlpha(star, dmin = 2).head()
    assert(s.getLong(1) == 1L &&
      s.getLong(2) == math.round(math.log(4.0 / 1.5) * 1e6))
  }

  test("betweennessSampled: Brandes dependencies on a path, brokerage peak at a star center") {
    // path 1-2-3-4-5, S = {4, 1} (the harmonic md5 sample order),
    // depth 4. From s=4: δ(2)=1, δ(3)=2; from s=1: δ(2)=3, δ(3)=2,
    // δ(4)=1 (endpoints excluded, un-normalized).
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = GraphAnalytics.betweennessSampled(path, numSources = 2, maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 4000000L, 3L -> 4000000L,
      4L -> 1000000L, 5L -> 0L))
    // depth-3 horizon: from s=1 the chain 1→…→5 is cut after 4, so 4
    // stops inheriting 5's subtree but keeps nothing (δ(4)=0 — leaf of
    // the truncated tree); 2 and 3 lose one unit each vs depth 4
    val trunc = GraphAnalytics.betweennessSampled(path, numSources = 2, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(trunc(4L) == 0L && trunc(2L) == 3000000L && trunc(3L) == 3000000L)
    // star: center 0, leaves 1..4, ALL vertices sampled — every
    // leaf-to-leaf shortest path brokers through the center:
    // 4 leaf sources × 3 other leaves = 12; leaves broker nothing
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val sg = GraphAnalytics.betweennessSampled(star, numSources = 5, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sg == Map(0L -> 12000000L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("adamicAdar: known scores on path/star/cycle, direct edges excluded") {
    // path 1-2-3: only (1,3) and (3,1), witnessed by z=2 (deg 2):
    // score = round(1e6/ln 2)/1e6 = 1.442695 → 1.4427
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = GraphAnalytics.adamicAdar(path, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(p == Map((1L, 3L) -> 1.4427, (3L, 1L) -> 1.4427))

    // star 0-{1,2,3}: every leaf pair shares only the hub (deg 3):
    // 1/ln 3 = 0.910239 → 0.9102; the hub itself has no candidates
    // (its 2-hop set is exactly its neighbors)
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val s = GraphAnalytics.adamicAdar(star, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(s.keys.map(_._1).toSet == Set(1L, 2L, 3L))
    assert(s.size == 6 && s.values.forall(_ == 0.9102))

    // 4-cycle: opposite corners share BOTH middles (each deg 2):
    // 2·1.442695 → 2.8854; adjacent corners are direct edges — excluded
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val c = GraphAnalytics.adamicAdar(cyc, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(c == Map((1L, 3L) -> 2.8854, (3L, 1L) -> 2.8854,
      (2L, 4L) -> 2.8854, (4L, 2L) -> 2.8854))
  }

  test("linkPredictScores: all four indices on path/star/cycle; ranked ties by id") {
    // path 1-2-3: one candidate pair (1,3) via z=2 (deg 2) —
    // cn=1, ra=500000 micros, jaccard=1/(1+1-1)=1e6 micros, pa=1
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = GraphAnalytics.linkPredictScores(path).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(p == Map((1L, 3L) -> ((1L, 500000L, 1000000L, 1L)),
      (3L, 1L) -> ((1L, 500000L, 1000000L, 1L))))

    // star 0-{1,2,3}: every leaf pair shares only the hub (deg 3):
    // ra = round(1e6/3) = 333333; leaves have deg 1 → jaccard 1, pa 1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val s = GraphAnalytics.linkPredictScores(star).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(s.size == 6 &&
      s.values.forall(_ == ((1L, 333333L, 1000000L, 1L))))

    // 4-cycle: opposite corners share both middles (deg 2 each):
    // cn=2, ra=1e6 micros, jaccard=2/(2+2-2)=1e6 micros, pa=4
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val c = GraphAnalytics.linkPredictScores(cyc).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(c == Map((1L, 3L) -> ((2L, 1000000L, 1000000L, 4L)),
      (3L, 1L) -> ((2L, 1000000L, 1000000L, 4L)),
      (2L, 4L) -> ((2L, 1000000L, 1000000L, 4L)),
      (4L, 2L) -> ((2L, 1000000L, 1000000L, 4L))))

    // ranked: star leaves tie on jaccard=1 — ranks break by candidate id
    val r1 = GraphAnalytics.linkPredict(star, 5, "jaccard").collect()
      .filter(_.getLong(0) == 1L)
      .map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(r1 == Map(1 -> 2L, 2 -> 3L))
    // preferential attachment on the path graph: score = pa = 1.0
    val pr = GraphAnalytics.linkPredict(path, 5, "preferential_attachment")
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(pr == Map((1L, 3L) -> 1.0, (3L, 1L) -> 1.0))
    intercept[IllegalArgumentException] {
      GraphAnalytics.linkPredict(path, 5, "katz")
    }
  }

  test("image dHash: exact pattern bits; scaled and JPEG re-encoded dups recovered") {
    // exact-bit contract of the bit-pattern construction: dHash bit
    // (8y + 2j) = pattern bit (4y + j), every other bit 0 — and the
    // 3×-scaled render area-averages to the identical 9×8 thumbnail
    val pat = 0xDEADBEEFL
    val meta = MediaMeta("png", 9, 8, 1, 0L)
    val ds = Seq(
      MediaRecord(1L, "image", Multimodal.renderBitPatternPng(pat, 1), meta),
      MediaRecord(2L, "image", Multimodal.renderBitPatternPng(pat, 3), meta)).toDS()
    val hashes = Multimodal.imageDHash(ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (0 until 32).filter(b => ((pat >>> b) & 1L) == 1L)
      .map(b => 1L << (8 * (b / 4) + 2 * (b % 4))).foldLeft(0L)(_ | _)
    assert(hashes(1L) == expected)
    assert(hashes(2L) == expected, "scaled duplicate must hash identically")

    // JPEG re-encode survives: on a horizontal gradient the 9×8 cell
    // averages keep their strict left-to-right brightness order under
    // JPEG's lossy noise, so the re-encoded duplicate lands at dist 0
    val (w, h) = (36, 32)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = x * 255 / (w - 1)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val dupDs = Seq(
      MediaRecord(10L, "image", enc("png"), meta),
      MediaRecord(11L, "image", enc("jpg"), meta)).toDS()
    val pairs = graft.operators.Dedup
      .hammingBandPairs(Multimodal.imageDHash(dupDs), maxDist = 3).collect()
    assert(pairs.length == 1, s"expected 1 recovered pair, got ${pairs.toSeq}")
    assert(pairs.head.getLong(0) == 10L && pairs.head.getLong(1) == 11L)
    assert(pairs.head.getInt(2) == 0, "gradient order must survive JPEG")
  }

  test("image pHash: exact linear-brightness invariance, distinctness, balanced bits") {
    val meta = MediaMeta("png", 9, 8, 1, 0L)
    val (patA, patB) = (0x0F0F33CCL, 0xA5A5C3C3L)
    val ds = Seq(
      MediaRecord(1L, "image", Multimodal.renderBitPatternPng(patA, 1, 254), meta),
      MediaRecord(2L, "image", Multimodal.renderBitPatternPng(patA, 1, 127), meta),
      MediaRecord(3L, "image", Multimodal.renderBitPatternPng(patB, 1, 254), meta)).toDS()
    val h = Multimodal.imagePHash(ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // halving every level scales all DCT coefficients AND the median
    // by exactly 0.5 (power-of-two IEEE scaling) — identical hash
    assert(h(1L) == h(2L), "linear brightness change must not move pHash")
    assert(h(1L) != h(3L), "different patterns must hash apart")
    // median thresholding keeps the signature balanced: ~32 set bits
    val bits = java.lang.Long.bitCount(h(1L))
    assert(bits >= 24 && bits <= 32, s"unbalanced pHash: $bits set bits")
    // and the banded join recovers the dimmed duplicate at dist 0
    val pairs = graft.operators.Dedup
      .hammingBandPairs(Multimodal.imagePHash(ds), maxDist = 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("audio fingerprint: exact pattern bits, gain invariance, re-encode recovery") {
    val meta = MediaMeta("wav", 0, 0, 1, 0L)
    val pat = 0xC0FFEE42L
    val ds = Seq(
      MediaRecord(1L, "audio", Multimodal.renderPatternWav(pat, 0), meta),
      MediaRecord(2L, "audio", Multimodal.renderPatternWav(pat, 1), meta)).toDS()
    val h = Multimodal.audioDHash(ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // fingerprint bit (2j) = pattern bit j by construction, odd bits 0
    val expected = (0 until 32).filter(j => ((pat >>> j) & 1L) == 1L)
      .map(j => 1L << (2 * j)).foldLeft(0L)(_ | _)
    assert(h(1L) == expected)
    // half gain (power-of-two PCM scaling) keeps the envelope order
    // EXACTLY — identical fingerprint
    assert(h(2L) == expected, "gain-scaled duplicate must hash identically")
    // re-encode WAV → AIFF: same PCM samples behind a different
    // container/endianness — identical decode, identical fingerprint,
    // recovered by the banded join at dist 0
    val wavBytes = Multimodal.renderPatternWav(pat, 0)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wavBytes))
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    val both = Seq(
      MediaRecord(10L, "audio", wavBytes, meta),
      MediaRecord(11L, "audio", bos.toByteArray, MediaMeta("aiff", 0, 0, 1, 0L))).toDS()
    val pairs = graft.operators.Dedup
      .hammingBandPairs(Multimodal.audioDHash(both), maxDist = 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 11L)))
  }

  test("video frame dedup: exact per-frame bits, re-encode frac 1.0, partial overlap excluded") {
    import graft.functions.expr.PortableHash
    val pats = (0 until 4).map(k => PortableHash.md5_32("vclip:" + k))
    val meta = MediaMeta("gif", 9, 8, 1, 0L)
    def expectedHash(pat: Long): Long =
      (0 until 32).filter(b => ((pat >>> b) & 1L) == 1L)
        .map(b => 1L << (8 * (b / 4) + 2 * (b % 4))).foldLeft(0L)(_ | _)
    val clips = Seq(
      MediaRecord(1L, "video", Multimodal.renderPatternGif(pats), meta),
      MediaRecord(2L, "video", Multimodal.renderPatternGif(pats), meta),
      MediaRecord(3L, "video", Multimodal.renderPatternGif(
        pats.take(2) ++ Seq(0x12345678L, 0x0BADF00DL)), meta)).toDS()
    val fh = Multimodal.videoDHash(clips)
    // per-frame hashes follow the bit-pattern contract through the
    // real GIF write -> decode -> resize path
    val h1 = fh.filter(col("id") === 1L).collect()
      .map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(h1 == pats.indices.map(k => k -> expectedHash(pats(k))).toMap)
    // re-encoded duplicate matches all 4 frames; the half-overlap clip
    // (2 of 4 frames shared) stays below the 0.8 bar
    val pairs = graft.operators.Dedup
      .frameHammingPairs(fh, maxDist = 0, minMatchFrac = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(pairs.toSeq == Seq((1L, 2L, 4L, 1.0)))
    // and at a 0.5 bar the partial overlap surfaces with frac 0.5
    val loose = graft.operators.Dedup
      .frameHammingPairs(fh, maxDist = 0, minMatchFrac = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(loose == Set((1L, 2L, 1.0), (1L, 3L, 0.5), (2L, 3L, 0.5)))
  }

  test("wedge hub cap: cap >= max degree is exact; planted hub output is bounded") {
    // 4-cycle has max degree 2: capping at 2 samples EVERY neighbor
    // list whole, so capped results must equal the exact ones row for
    // row (the cap≡exact contract for sub-cap graphs)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    assert(rows(GraphAnalytics.linkPredictScores(cyc, maxDegree = 2)) ==
      rows(GraphAnalytics.linkPredictScores(cyc)))
    assert(rows(GraphAnalytics.adamicAdar(cyc, 5, maxDegree = 2)) ==
      rows(GraphAnalytics.adamicAdar(cyc, 5)))

    // planted hub: star with 40 leaves. Uncapped, the hub middle emits
    // all 40·39 ordered leaf pairs; capped at 8 it must emit exactly
    // the 8·7 ordered pairs of its sampled neighbors — the bounded
    // wedge contract. Per-pair values stay the exact-formula ones
    // (cn=1 via the hub, ra=round(1e6/40)) because only MULTIPLICITY
    // is sampled, not the discount.
    val hub = (1L to 40L).map(i => (0L, i)).toDF("src", "dst")
    val capped = GraphAnalytics.linkPredictScores(hub, maxDegree = 8).collect()
    assert(capped.length == 8 * 7)
    assert(capped.forall(r => r.getLong(2) == 1L && r.getLong(3) == 25000L))
    // the sample is deterministic: same cap, same pairs on a rerun
    val again = GraphAnalytics.linkPredictScores(hub, maxDegree = 8).collect()
    assert(capped.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("triangle counts: DF == GraphX on the card graph, known values on K4+tail") {
    // K4 on 1-4 (every vertex in 3 triangles) + a tail 4-5 (0 triangles)
    // + duplicate/reversed/self-loop edges that canonicalization must drop
    val raw = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
        (4L, 5L), (2L, 1L), (3L, 3L), (1L, 2L))
      .toDF("src", "dst")
    val got = GraphAnalytics.triangleCountsDF(raw).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L))

    val df = GraphAnalytics.triangleCountsDF(
        edges.select(col("src"), col("dst")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gx = GraphAnalytics.triangleCounts(vertices, edges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df == gx)
  }

  test("eigenvectorCentrality: uniform on a regular graph, star concentrates at center") {
    // 4-cycle: degree-regular → the uniform vector is the fixpoint
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val u = GraphAnalytics.eigenvectorCentrality(cyc, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(u == Map(1L -> 250000L, 2L -> 250000L, 3L -> 250000L,
      4L -> 250000L))
    // star 0-{1..4} is bipartite: odd rounds put 1/2 at the center and
    // 1/8 per leaf (x=1 uniform → raw center 4, leaves 1 each, tot 8)
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val sg = GraphAnalytics.eigenvectorCentrality(star, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sg == Map(0L -> 500000L, 1L -> 125000L, 2L -> 125000L,
      3L -> 125000L, 4L -> 125000L))
  }

  test("maximalIndependentSet: independent, maximal, and converged on the derived graph") {
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val e = graft.queries.GraphQueries.derivedEdges(events)
      .localCheckpoint(true)
    val mis = GraphAnalytics.maximalIndependentSet(e, rounds = 4)
      .localCheckpoint(true)
    val inMis = mis.filter(col("in_mis")).select(col("id"))
    // independence: no edge has both endpoints in the MIS
    val canon = e.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v")).distinct()
    val both = canon
      .join(inMis.withColumnRenamed("id", "u"), Seq("u"))
      .join(inMis.withColumnRenamed("id", "v"), Seq("v"))
    assert(both.isEmpty, "MIS contains an adjacent pair")
    // maximality (= 4 rounds converged here): every non-member has a
    // MIS neighbor, i.e. no vertex could still join
    val adj = canon.select(col("u").as("f"), col("v").as("t"))
      .unionAll(canon.select(col("v").as("f"), col("u").as("t")))
    val uncovered = mis.filter(!col("in_mis"))
      .join(adj.join(inMis.withColumnRenamed("id", "t"), Seq("t"))
        .select(col("f").as("id")).distinct(), Seq("id"), "left_anti")
    assert(uncovered.isEmpty, "a non-member has no MIS neighbor: not maximal")
    // path 1-2-3-4: round-1 priorities decide; re-derive them to assert
    // the exact winner set the md5 draw implies
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = GraphAnalytics.maximalIndependentSet(path, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.count(_._2) >= 1 && got.size == 4)
    assert(!(got(1L) && got(2L)) && !(got(2L) && got(3L)) &&
      !(got(3L) && got(4L)))
    assert(got(1L) || got(2L)) // maximality at the left end
    assert(got(3L) || got(4L)) // and the right end
  }

  test("louvainSync: K3 merges into one community; bridged triangles replay the hand trace") {
    // K3, rounds=2: round 1 bounces singletons (1→{2}, 2→{1}, 3→{1}),
    // round 2 pulls vertex 1 into {2,3} (Δ·2m² = 6·2 − 2·4 = 4 > 0)
    // while 2 and 3 see Δ = 0 to {1} and stay → one community, min id 1
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val gotK3 = GraphAnalytics.louvainSync(k3, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotK3 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // two K3s bridged at 3–4, rounds=2: the exact synchronous-move
    // trace (hand-derived integer gains; m2 = 14) lands communities
    // {1,3}, {2}, {4,5}, {6} — the determinism contract, not a
    // converged partition (one-sweep synchronous Louvain oscillates
    // by design; the qX_louvain oracle replays the same trace)
    val bridged = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val got = GraphAnalytics.louvainSync(bridged, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("transitivity: triangle is 1, star is 0, paw mixes exactly") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val rt = GraphAnalytics.transitivity(tri).head()
    assert((rt.getLong(0), rt.getLong(1), rt.getLong(2)) ==
      ((3L, 3L, 1000000L)))
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val rs = GraphAnalytics.transitivity(star).head()
    assert((rs.getLong(0), rs.getLong(1), rs.getLong(2)) ==
      ((3L, 0L, 0L)))
    // paw: triangle {1,2,3} + pendant 1-4 → W = 3+1+1 = 5, 3T = 3
    val paw = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val rp = GraphAnalytics.transitivity(paw).head()
    assert((rp.getLong(0), rp.getLong(1), rp.getLong(2)) ==
      ((5L, 3L, 600000L)))
  }

  test("percolation: zero retention leaves singletons, full retention the true giant") {
    // triangle {1,2,3} + disjoint edge {4,5}: 5 vertices
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L)).toDF("src", "dst")
    val got = GraphAnalytics.percolation(g, Seq(0.0, 1.0))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // rate 0: nothing kept, every vertex isolated → giant = 1 of 5
    assert(got(0L) == ((0L, 5L, 1L, 200000L)))
    // rate 1: all 4 edges kept → the triangle is the giant (3 of 5)
    assert(got(1000000L) == ((4L, 5L, 3L, 600000L)))
  }

  test("corenessHIndex: K4 core is 3, pendant is 1, hub degree collapses to its shell") {
    // K4 {1,2,3,4} + pendant 5–1: coreness 3/3/3/3/1; vertex 1's
    // h-index starts at degree 4 and must collapse to 3 in round 1
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L)).toDF("src", "dst")
    val got = GraphAnalytics.corenessHIndex(g, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L))
    // chain 1-2-3-4: every vertex coreness 1
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val gotChain = GraphAnalytics.corenessHIndex(chain, rounds = 4)
      .collect().map(r => r.getLong(1)).toSet
    assert(gotChain == Set(1L))
  }

  test("ccTwoStar: equals min-label propagation CC on the derived graph and on a chain forest") {
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val e = graft.queries.GraphQueries.derivedEdges(events)
      .localCheckpoint(true)
    val two = GraphAnalytics.ccTwoStar(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lab = GraphAnalytics.connectedComponentsDF(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(two == lab)
    // two chains + noise edges: components rooted at their minima
    val forest = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L),
        (10L, 11L), (11L, 12L), (12L, 10L), (7L, 7L)).toDF("src", "dst")
    val got = GraphAnalytics.ccTwoStar(forest)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelSpread: clamped seeds, frontier growth, smaller-label tie") {
    import spark.implicits._
    // path 1-2-3-4-5, seeds: 1→label 10, 5→label 20
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq((1L, 10L), (5L, 20L)).toDF("id", "label")
    def run(r: Int) = graft.operators.GraphAnalytics
      .labelSpread(path, seeds, rounds = r)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // round 1: only direct neighbors labeled; middle vertex unreached
    val r1 = run(1)
    assert(r1 == Map(1L -> 10L, 2L -> 10L, 4L -> 20L, 5L -> 20L))
    // round 2: vertex 3 sees both labels once each → tie → smaller
    // label 10; seeds stay clamped despite labeled neighbors
    val r2 = run(2)
    assert(r2(3L) == 10L && r2(1L) == 10L && r2(5L) == 20L)
    // majority beats smaller label: star center with two label-9
    // leaves and one label-3 leaf takes 9
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val s2 = Seq((1L, 9L), (2L, 9L), (3L, 3L)).toDF("id", "label")
    val got = graft.operators.GraphAnalytics.labelSpread(star, s2, 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got(0L) == 9L)
  }
}
