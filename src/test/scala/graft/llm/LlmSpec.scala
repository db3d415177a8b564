package graft.llm

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class LlmSpec extends SparkSpec {
  import spark.implicits._

  test("ANN LSH bucketing: high recall vs brute force, far fewer pairs") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Similarity.bruteTopK(emb, col("vec_id") < 10, k = 5, roundScale = 15)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val approx = Similarity.annTopK(emb, col("vec_id") < 10,
        nBits = 4, nTables = 3, k = 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall") // 3 tables × 4 bits on 500 vecs
    assert(approx.size <= exact.size * 2)
  }

  test("PQ ANN: compressed-domain shortlist + refine recovers the exact top-k") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Similarity.bruteTopK(emb, col("vec_id") < 10, k = 5, roundScale = 15)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopKFixed(emb, col("vec_id") < 10,
        dims = 64, m = 8, ksub = 16, shortlist = 60, k = 5, roundScale = 4)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    // crude 16-entry fixed codebooks, but the exact refine over a 60-wide
    // shortlist recovers most of the true neighbors
    assert(recall >= 0.5, s"recall $recall")
    assert(pq.size == exact.size) // k rows per query either way
  }

  test("IVF-PQ composition: list pruning bounds the ADC scan, refine keeps recall") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Similarity.bruteTopK(emb, col("vec_id") < 10, k = 5, roundScale = 15)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val ivfpq = Similarity.ivfPqTopKFixed(emb, col("vec_id") < 10,
        nCentroids = 8, nProbe = 3, dims = 64, m = 8, ksub = 16,
        shortlist = 40, k = 5, roundScale = 4)
    val got = ivfpq.select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall") // 3 of 8 lists probed, then PQ
    // the probed-list candidate set must be a strict fraction of all-pairs
    val nVec = emb.count()
    val nQ = 10L
    assert(got.size == exact.size)
    val estRows = Similarity.ivfPqTopKFixed(emb, col("vec_id") < 10,
        8, 3, 64, 8, 16, shortlist = Int.MaxValue, k = Int.MaxValue, 4)
      .select("qid", "cid").as[(Long, Long)].collect().length
    assert(estRows < nQ * (nVec - 1), s"ADC scan not pruned: $estRows pairs")
  }

  test("IVF ANN: k-means lists give high recall without a cross join") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Similarity.bruteTopK(emb, col("vec_id") < 10, k = 5, roundScale = 15)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, col("vec_id") < 10,
        nLists = 8, nProbe = 3, k = 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall") // 3 of 8 lists probed
    val plan = Similarity.ivfTopK(emb, col("vec_id") < 10, 8, 3, 5)
      .queryExecution.executedPlan.toString
    // never a real cartesian product; the only nested-loop join allowed is
    // the intentional broadcast of the tiny centroid table (k rows)
    assert(!plan.contains("CartesianProduct"), "unexpected CartesianProduct")
    val bnljCount = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnljCount <= 1, s"expected at most the centroid cross join, got $bnljCount BNLJs")
  }

  test("LSH signature is deterministic across evaluations") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val a = emb.select(col("vec_id"), Similarity.lshSignature(spark, "v", 64, 8).as("s"))
      .as[(Long, String)].collect().toMap
    val b = emb.select(col("vec_id"), Similarity.lshSignature(spark, "v", 64, 8).as("s"))
      .as[(Long, String)].collect().toMap
    assert(a == b)
    assert(a.values.forall(_.length == 8))
  }

  test("multimodal feature extraction: deterministic stub, real batch shape") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val media = Multimodal.fromDocuments(docs)
    val feats = Multimodal.extractFeatures(media)
    val rows = feats.collect()
    assert(rows.length == 50)
    assert(rows.forall(_.features.length == 8))
    assert(rows.forall(_.checksum.length == 32))
    // determinism: same input ⇒ same features
    val again = Multimodal.extractFeatures(media).collect()
      .map(r => r.doc_id -> r.checksum).toMap
    assert(rows.forall(r => again(r.doc_id) == r.checksum))
    // checksum matches the SQL-surface md5 (llm_multimodal_meta parity)
    val sqlMd5 = docs.select(col("doc_id"), md5(col("text")).as("m"))
      .as[(Long, String)].collect().toMap
    assert(rows.forall(r => sqlMd5(r.doc_id) == r.checksum))
  }

  test("frame sampling strides payloads it cannot demux in 4 KiB pseudo-frames") {
    val media = Multimodal.fromDocuments(Tables.documents(spark, sfDir).limit(20))
    // stride semantics, shared with the real demux paths: every 2nd 4 KiB
    // pseudo-frame, frame_idx = original pseudo-frame index. The text
    // payloads are < 4 KiB → exactly one pseudo-frame each, index 0.
    val frames = Multimodal.sampleFramesAvi(media, every = 2)
    assert(frames.count() == 20)
    assert(frames.collect().forall(_.frame_idx == 0))
    // a 10 KiB payload has pseudo-frames 0,1,2 → stride 2 keeps 0 and 2,
    // PRESERVING original indices
    import spark.implicits._
    val big = Seq(Multimodal.MediaRow(99L, Array.fill[Byte](10240)(7), "video/x-raw")).toDS()
    val bigIdx = Multimodal.sampleFramesAvi(big, every = 2)
      .collect().map(_.frame_idx).sorted
    assert(bigIdx.sameElements(Array(0, 2)))
  }

  test("real PNG decode: ImageIO path extracts true dimensions and band luma") {
    import spark.implicits._
    // generate a real PNG: 32×16, left half black, right half white
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRow(1L, png(32, 16), "image/png"),
      Multimodal.MediaRow(2L, "not an image".getBytes("UTF-8"), "text/plain"))
      .toDS()
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap
    // doc 1: REAL decode — true dims, bands 0-3 black, bands 4-7 white
    assert(feats(1L).width == 32 && feats(1L).height == 16)
    assert(feats(1L).features.take(4).forall(_ < 0.01f))
    assert(feats(1L).features.drop(4).forall(_ > 0.99f))
    // doc 2: stub fallback keeps the contract for non-image media
    assert(feats(2L).features.length == 8 && feats(2L).checksum.length == 32)

    // REAL resize: 32×16 → 8×8, then re-decode reports the new dims and
    // preserves the left-dark/right-light structure
    val resized = Multimodal.resizeImages(media, 8, 8).collect()
      .map(r => r.doc_id -> r).toMap
    val rf = Multimodal.decodeImage(resized(1L)).get
    assert(rf.width == 8 && rf.height == 8)
    assert(rf.features.head < 0.2f && rf.features.last > 0.8f)
    // non-image passes through untouched
    assert(resized(2L).payload.sameElements("not an image".getBytes("UTF-8")))
  }

  test("real MJPEG-AVI demux: frame sampling and first-frame decode") {
    import spark.implicits._
    // a real JPEG per frame (ImageIO-encoded solid gray), wrapped in a
    // minimal RIFF AVI container: LIST hdrl (header only) + LIST movi
    // with one 00dc chunk per frame
    def jpeg(gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(gray, gray, gray))
      g.fillRect(0, 0, 32, 24); g.dispose()
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", buf)
      buf.toByteArray
    }
    def le32(v: Int) = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def list(typ: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("US-ASCII") ++ body)
    val frames = (0 until 6).map(i => jpeg(30 + i * 40))
    val movi = list("movi",
      frames.map(f => chunk("00dc", f)).reduce(_ ++ _))
    val hdrl = list("hdrl", chunk("avih", new Array[Byte](56)))
    val aviBody = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(aviBody.length) ++ aviBody

    val media = Seq(
      Multimodal.MediaRow(1L, avi, "video/x-msvideo"),
      Multimodal.MediaRow(2L, "not a video".getBytes("UTF-8"), "video/mp4"))
      .toDS()
    // REAL demux: every 2nd frame, original frame indices, decodable JPEGs
    val sampled = Multimodal.sampleFramesAvi(media.filter(_.doc_id == 1L), 2)
      .collect().sortBy(_.frame_idx)
    assert(sampled.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    val lumas = sampled.map { f =>
      val d = Multimodal.decodeImage(
        Multimodal.MediaRow(1L, f.payload, "image/jpeg")).get
      assert(d.width == 32 && d.height == 24)
      d.features.sum / 8
    }
    assert(lumas.sameElements(lumas.sorted), "frame grays should ascend")
    // REAL first-frame video decode: true dimensions, darkest frame's luma
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats(1L).width == 32 && feats(1L).height == 24)
    assert(feats(1L).features.forall(f => f > 0.05f && f < 0.2f)) // gray 30
    // compressed/unknown codec: stub fallback keeps the contract
    assert(feats(2L).features.length == 8 && feats(2L).checksum.length == 32)
  }

  test("real animated-GIF demux: every Nth frame as a decodable PNG") {
    import spark.implicits._
    // a real 4-frame animated GIF via ImageIO's sequence writer,
    // ascending solid grays
    def grayFrame(g: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(20, 10,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gr = img.createGraphics()
      gr.setColor(new java.awt.Color(g, g, g))
      gr.fillRect(0, 0, 20, 10); gr.dispose()
      img
    }
    val buf = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (g <- Seq(40, 90, 140, 190))
      writer.writeToSequence(
        new javax.imageio.IIOImage(grayFrame(g), null, null),
        writer.getDefaultWriteParam)
    writer.endWriteSequence(); writer.dispose(); ios.close()
    val media = Seq(
      Multimodal.MediaRow(7L, buf.toByteArray, "image/gif"),
      Multimodal.MediaRow(8L, "not a gif at all".getBytes("UTF-8"), "image/gif"))
      .toDS()
    val sampled = Multimodal.sampleFramesGif(media.filter(_.doc_id == 7L), 2)
      .collect().sortBy(_.frame_idx)
    assert(sampled.map(_.frame_idx).toSeq == Seq(0, 2))
    val lumas = sampled.map { f =>
      val d = Multimodal.decodeImage(
        Multimodal.MediaRow(7L, f.payload, "image/png")).get
      assert(d.width == 20 && d.height == 10)
      d.features.sum / 8
    }
    assert(lumas(0) < lumas(1), "frame grays should ascend")
    // undecodable payload keeps the stride-fallback contract (1 chunk < 4KiB)
    val fb = Multimodal.sampleFramesGif(media.filter(_.doc_id == 8L), 2).collect()
    assert(fb.map(_.frame_idx).toSeq == Seq(0))
  }

  test("delta-optimized GIF frames composite onto the logical screen") {
    import spark.implicits._
    // frame 0: full 20x10 dark gray; frame 1: a 4x4 BRIGHT fragment at
    // offset (16, 0) — an optimized GIF stores only the changed rect, so
    // an un-composited demux would emit a 4x4 image for frame 1
    def img(w: Int, h: Int, g: Int): java.awt.image.BufferedImage = {
      val i = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gr = i.createGraphics()
      gr.setColor(new java.awt.Color(g, g, g)); gr.fillRect(0, 0, w, h)
      gr.dispose(); i
    }
    def meta(writer: javax.imageio.ImageWriter,
        im: java.awt.image.BufferedImage, x: Int): javax.imageio.metadata.IIOMetadata = {
      val m = writer.getDefaultImageMetadata(
        new javax.imageio.ImageTypeSpecifier(im), writer.getDefaultWriteParam)
      val fmt = m.getNativeMetadataFormatName
      val tree = m.getAsTree(fmt)
        .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      var c = tree.getFirstChild
      while (c != null) {
        if (c.getNodeName == "ImageDescriptor") {
          val d = c.asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
          d.setAttribute("imageLeftPosition", x.toString)
          d.setAttribute("imageTopPosition", "0")
        }
        c = c.getNextSibling
      }
      m.setFromTree(fmt, tree)
      m
    }
    val buf = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    val full = img(20, 10, 40)
    writer.writeToSequence(
      new javax.imageio.IIOImage(full, null, meta(writer, full, 0)),
      writer.getDefaultWriteParam)
    val frag = img(4, 4, 220)
    writer.writeToSequence(
      new javax.imageio.IIOImage(frag, null, meta(writer, frag, 16)),
      writer.getDefaultWriteParam)
    writer.endWriteSequence(); writer.dispose(); ios.close()
    val media = Seq(Multimodal.MediaRow(9L, buf.toByteArray, "image/gif")).toDS()
    val frames = Multimodal.sampleFramesGif(media, 1).collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 1))
    val decoded = frames.map(f => Multimodal.decodeImage(
      Multimodal.MediaRow(9L, f.payload, "image/png")).get)
    // BOTH frames are full logical-screen images
    assert(decoded.forall(d => d.width == 20 && d.height == 10))
    // frame 1 = dark base with the bright patch in the last band (x 16-19)
    val f1 = decoded(1).features
    assert(f1(0) < 0.25f, s"band0 ${f1(0)} should stay dark")
    assert(f1(7) > f1(0) + 0.2f, s"band7 ${f1(7)} should carry the bright patch")
  }

  test("real WAV decode: javax.sound path extracts rate/channels and band amplitude") {
    import spark.implicits._
    // generate a real PCM16 mono WAV @8 kHz: first half silence, second
    // half a 440 Hz sine at amplitude 0.5
    def wav(rateHz: Int, seconds: Double): Array[Byte] = {
      val n = (rateHz * seconds).toInt
      val pcm = new Array[Byte](n * 2)
      val bb = java.nio.ByteBuffer.wrap(pcm)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (i <- 0 until n) {
        val v = if (i < n / 2) 0.0
                else 0.5 * math.sin(2 * math.Pi * 440.0 * i / rateHz)
        bb.putShort((v * 32767).toShort)
      }
      val fmt = new javax.sound.sampled.AudioFormat(rateHz.toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val buf = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
      buf.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRow(1L, wav(8000, 0.5), "audio/wav"),
      Multimodal.MediaRow(2L, "not audio".getBytes("UTF-8"), "audio/wav"))
      .toDS()
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap
    // doc 1: REAL decode — rate/channels in the dims fields; silent first
    // half, mean |0.5 sin| = 0.5·2/π ≈ 0.318 in the loud half
    assert(feats(1L).width == 8000 && feats(1L).height == 1)
    assert(feats(1L).features.take(4).forall(_ < 0.01f))
    assert(feats(1L).features.drop(4).forall(f => f > 0.25f && f < 0.4f))
    // doc 2: undecodable payload falls back to the stub contract
    assert(feats(2L).features.length == 8 && feats(2L).checksum.length == 32)

    // REAL resample: 8 kHz → 4 kHz, re-decode reports the new rate and
    // preserves the silent/loud band structure with half the frames
    val resampled = Multimodal.resampleWav(media, 4000).collect()
      .map(r => r.doc_id -> r).toMap
    val rf = Multimodal.decodeAudio(resampled(1L)).get
    assert(rf.width == 4000 && rf.height == 1)
    assert(rf.features.take(4).forall(_ < 0.01f))
    assert(rf.features.drop(4).forall(f => f > 0.25f && f < 0.4f))
    val monoLen = Multimodal.readWav(resampled(1L).payload).get._2.length
    assert(math.abs(monoLen - 2000) <= 2)
    // undecodable audio passes through untouched
    assert(resampled(2L).payload.sameElements("not audio".getBytes("UTF-8")))
  }

  test("real raw-RGB and PNG-codec AVI demux: no-codec frames decode") {
    import spark.implicits._
    def le32(v: Int) = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array
    def le16(v: Int) = java.nio.ByteBuffer.allocate(2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putShort(v.toShort).array
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def list(typ: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("US-ASCII") ++ body)
    // BITMAPINFOHEADER for 8x2 BI_RGB 24-bit (biCompression = 0) — 8 wide
    // so each of the 8 vertical luma bands holds exactly one column
    val strf = le32(40) ++ le32(8) ++ le32(2) ++ le16(1) ++ le16(24) ++
      le32(0) ++ new Array[Byte](16)
    val strh = "vids".getBytes("US-ASCII") ++ new Array[Byte](52)
    // raw DIB frame: bottom-up BGR rows, 8*3 = 24 bytes = stride (already
    // 4-aligned); bottom row solid gray g, top row solid gray g+60
    def dib(g: Int): Array[Byte] = {
      val out = new Array[Byte](48)
      for (row <- 0 until 2; x <- 0 until 8; c <- 0 until 3)
        out(row * 24 + x * 3 + c) = // row 0 (bottom) dark, row 1 (top) light
          (if (row == 0) g else g + 60).toByte
      out
    }
    // PNG-codec frame: a real ImageIO PNG in a 00dc chunk
    def png(g: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gr = img.createGraphics()
      gr.setColor(new java.awt.Color(g, g, g)); gr.fillRect(0, 0, 8, 2)
      gr.dispose()
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    val hdrl = list("hdrl", chunk("avih", new Array[Byte](56)) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi",
      chunk("00db", dib(30)) ++ chunk("00db", dib(90)) ++
        chunk("00dc", png(200)))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    val media = Seq(Multimodal.MediaRow(1L, avi, "video/x-msvideo")).toDS()
    val sampled = Multimodal.sampleFramesAvi(media, 1)
      .collect().sortBy(_.frame_idx)
    assert(sampled.map(_.frame_idx).toSeq == Seq(0, 1, 2))
    val decoded = sampled.map(f => Multimodal.decodeImage(
      Multimodal.MediaRow(1L, f.payload, "image/png")).get)
    assert(decoded.forall(d => d.width == 8 && d.height == 2))
    // DIB frames: mean luma = (g + g+60)/2/255; PNG frame: 200/255
    assert(math.abs(decoded(0).features.sum / 8 - 60.0 / 255) < 0.01)
    assert(math.abs(decoded(1).features.sum / 8 - 120.0 / 255) < 0.01)
    assert(math.abs(decoded(2).features.sum / 8 - 200.0 / 255) < 0.01)
    // first-frame video decode rides the same demux
    val feats = Multimodal.extractFeatures(media).collect().head
    assert(feats.width == 8 && feats.height == 2)
    // the DIB raster is bottom-up: top band must be the LIGHT row... the
    // band signature is vertical, so instead check overall luma of frame 0
    assert(math.abs(feats.features.sum / 8 - 60.0 / 255) < 0.01)
  }

  test("AIFF audio decodes through the same AudioSystem path as WAV") {
    import spark.implicits._
    // a real PCM16 mono AIFF @8 kHz (big-endian samples — the 16-bit
    // branch follows the container's endianness): constant 0.25 amplitude
    val rate = 8000
    val n = 2000
    val pcm = new Array[Byte](n * 2)
    val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.BIG_ENDIAN)
    for (_ <- 0 until n) bb.putShort((0.25 * 32767).toShort)
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, true)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, buf)
    val media = Seq(
      Multimodal.MediaRow(1L, buf.toByteArray, "audio/aiff")).toDS()
    val feats = Multimodal.extractFeatures(media).collect().head
    assert(feats.width == rate && feats.height == 1)
    assert(feats.features.forall(f => f > 0.24f && f < 0.26f))
  }

  test("chunking reconstructs each document; packing matches a sequential re-derivation") {
    val chunks = graft.SparkEntry.queries("llm_chunk")(spark, sfDir)
      .collect().groupBy(_.getLong(0))
    val docs = graft.Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(chunks.keySet == docs.keySet)
    chunks.foreach { case (id, rows) =>
      val rebuilt = rows.sortBy(_.getInt(1)).map(_.getString(3)).mkString(" ")
      assert(rebuilt == docs(id), s"doc $id chunk round-trip")
      assert(rows.map(_.getInt(2)).sum == docs(id).split(" ").length)
    }

    val packed = graft.SparkEntry.queries("llm_pack_bins")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    packed.groupBy(_._2).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (id, _, n, bin) =>
        assert(bin == cum / 512, s"doc $id bin assignment")
        cum += n
      }
    }
  }

  test("minhash near-dup query finds the planted near-duplicates") {
    val dups = graft.SparkEntry.queries("llm_minhash_dedup")(spark, sfDir)
    val n = dups.count()
    assert(n > 0, "expected planted near-dups at sf0.001")
    // every reported pair really has Jaccard ≥ 0.4 (the verify threshold)
    assert(dups.filter(col("jac") < 0.4).count() == 0)
  }

  test("recall rows: compression does not beat the uncompressed index") {
    // quantization can only lose information, so mean recall@k of the
    // IVF-PQ pipeline must not EXCEED the uncompressed IVF's on the same
    // query sample (ties allowed — small samples can saturate both at
    // 1.0). A statistical property of the fixture in the tie direction,
    // not an operator invariant (the DSIR-spec caveat); the hash gate is
    // the correctness claim, this spec guards the measurement's SIGN.
    def mean(name: String): Double = {
      val xs = graft.SparkEntry.queries(name)(spark, sfDir)
        .select("recall_at_k").collect().map(_.getDouble(0))
      assert(xs.nonEmpty, s"$name returned no query rows")
      xs.sum / xs.length
    }
    val ivf = mean("llm_ann_recall"); val pq = mean("llm_ivfpq_recall")
    assert(pq <= ivf + 1e-9, s"ivfpq recall $pq exceeds ivf recall $ivf")
  }

  test("minhash recall row measures real truth pairs with full recall") {
    val r = graft.SparkEntry.queries("llm_minhash_recall")(spark, sfDir)
      .head()
    assert(r.getAs[Long]("n_truth") > 0,
      "parity subset lost the planted near-dups — fixture regenerated?")
    // b=6 r=2 banding catches every planted ~0.9-Jaccard pair; a recall
    // drop here means the banding or the subset pushdown broke
    assert(r.getAs[Double]("recall") == 1.0)
  }
}
