package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing for a training-data pipeline.
  *
  * Media travel as opaque `binary` columns with typed metadata alongside;
  * decode / feature-extraction runs per partition in bounded batches so a
  * 100 TB corpus streams through executors without materializing more than
  * one batch of decoded media per task. Image payloads decode for REAL via
  * `javax.imageio` (PNG/JPEG/BMP/GIF — the JDK's built-in codecs); audio
  * decodes for REAL via `javax.sound.sampled` (PCM 8/16-bit WAV — and the
  * same `AudioSystem` path auto-detects AIFF/AU containers, any channel
  * count); video demuxes for REAL via a plain RIFF walk for every
  * JDK-reachable AVI frame encoding — MJPEG, PNG-codec, and uncompressed
  * BI_RGB DIB rasters — plus animated GIF via the multi-frame ImageIO
  * reader with full disposal compositing.
  *
  * The remaining stub boundary, verified against the JDK 17 API surface:
  * every inter-frame-compressed video codec (H.264/HEVC/VP8/VP9/AV1,
  * MPEG-1/2/4 ASP) and every perceptual audio codec (MP3/AAC/Vorbis/Opus)
  * has NO decoder reachable from a stock JDK — `javax.imageio` ships
  * exactly {JPEG, PNG, GIF, BMP, WBMP, TIFF} readers and
  * `javax.sound.sampled` exactly {WAV, AIFF, AU} with linear-PCM/A-law/
  * µ-law payloads (JMF, the one Sun-era codec framework, is dead and was
  * never in the JDK). Those payloads fall back to `decodeStub`, a
  * clearly-marked deterministic fake keeping the schema/batch contract
  * identical — swap it for a JNI/codec call in production. Frame sampling
  * (`sampleFramesAvi`/`sampleFramesGif`) slices a payload it cannot demux
  * into 4 KiB pseudo-frames with the same stride semantics.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, payload: Array[Byte], mime: String)
  case class MediaFeatures(doc_id: Long, n_bytes: Int, checksum: String,
      width: Int, height: Int, features: Array[Float])

  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("checksum", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("features", ArrayType(FloatType), nullable = false)))

  /** STUB decode — deterministic fake standing in for an image/audio codec.
    * Real implementation would decode `payload` and pool pixel/sample data.
    */
  private[llm] def decodeStub(r: MediaRow): MediaFeatures = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = md.digest(r.payload)
    val hex = digest.map("%02x".format(_)).mkString
    val w = 16 + (digest(0) & 0x3f) // fake dimensions from content bytes
    val h = 16 + (digest(1) & 0x3f)
    val feats = Array.tabulate(8)(i => (digest(i) & 0xff) / 255.0f)
    MediaFeatures(r.doc_id, r.payload.length, hex, w, h, feats)
  }

  private def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Shared guarded decode: None for anything ImageIO can't read. */
  private def readImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
    catch { case _: Exception => None }

  /** REAL image decode via the JDK's ImageIO. Features: mean luminance of 8
    * equal-width vertical bands, in [0, 1] — a deterministic, resolution-
    * independent content summary (the classic cheap perceptual signature).
    * Returns None when the payload is not a decodable image.
    */
  private[llm] def decodeImage(r: MediaRow): Option[MediaFeatures] =
    readImage(r.payload).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      val sums = new Array[Double](8)
      val counts = new Array[Long](8)
      var x = 0
      while (x < w) {
        val band = math.min(7, x * 8 / w)
        var y = 0
        while (y < h) {
          val rgb = img.getRGB(x, y)
          val luma = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / (3.0 * 255.0)
          sums(band) += luma
          counts(band) += 1
          y += 1
        }
        x += 1
      }
      val feats = Array.tabulate(8)(i =>
        if (counts(i) == 0) 0f else (sums(i) / counts(i)).toFloat)
      MediaFeatures(r.doc_id, r.payload.length, md5Hex(r.payload), w, h, feats)
    }

  /** Parse a WAV payload into (format, mono-mixed normalized samples in
    * [-1, 1]). Covers the JDK's built-in PCM shapes — 16-bit signed
    * (either endianness), 8-bit signed/unsigned — any channel count,
    * channels averaged to mono. None for anything the JDK can't read.
    */
  private[llm] def readWav(payload: Array[Byte])
      : Option[(javax.sound.sampled.AudioFormat, Array[Float])] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        val bytes = in.readAllBytes()
        val ch = fmt.getChannels
        import javax.sound.sampled.AudioFormat.Encoding._
        val mono: Option[Array[Float]] =
          (fmt.getEncoding, fmt.getSampleSizeInBits) match {
            case (PCM_SIGNED, 16) =>
              val order = if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
                          else java.nio.ByteOrder.LITTLE_ENDIAN
              val sb = java.nio.ByteBuffer.wrap(bytes).order(order).asShortBuffer
              val n = sb.remaining() / ch
              Some(Array.tabulate(n) { i =>
                var s = 0.0f; var c = 0
                while (c < ch) { s += sb.get(i * ch + c) / 32768.0f; c += 1 }
                s / ch
              })
            case (PCM_UNSIGNED, 8) =>
              val n = bytes.length / ch
              Some(Array.tabulate(n) { i =>
                var s = 0.0f; var c = 0
                while (c < ch) { s += ((bytes(i * ch + c) & 0xff) - 128) / 128.0f; c += 1 }
                s / ch
              })
            case (PCM_SIGNED, 8) =>
              val n = bytes.length / ch
              Some(Array.tabulate(n) { i =>
                var s = 0.0f; var c = 0
                while (c < ch) { s += bytes(i * ch + c) / 128.0f; c += 1 }
                s / ch
              })
            case _ => None
          }
        mono.map(m => (fmt, m))
      } finally in.close()
    } catch { case _: Exception => None }

  /** REAL WAV decode via `javax.sound.sampled` (JDK-only). Features: mean
    * |amplitude| of 8 equal time bands of the mono mix, in [0, 1] — the
    * audio analogue of the image band-luminance signature. The dims fields
    * carry the audio geometry: width = sample rate in Hz, height = channel
    * count (duration follows from n_bytes / rate / channels / depth).
    */
  private[llm] def decodeAudio(r: MediaRow): Option[MediaFeatures] =
    readWav(r.payload).map { case (fmt, mono) =>
      val n = mono.length
      val sums = new Array[Double](8)
      val counts = new Array[Long](8)
      var i = 0
      while (i < n) {
        val band = math.min(7, (i.toLong * 8 / math.max(1, n)).toInt)
        sums(band) += math.abs(mono(i))
        counts(band) += 1
        i += 1
      }
      val feats = Array.tabulate(8)(b =>
        if (counts(b) == 0) 0f else (sums(b) / counts(b)).toFloat)
      MediaFeatures(r.doc_id, r.payload.length, md5Hex(r.payload),
        math.round(fmt.getSampleRate), fmt.getChannels, feats)
    }

  /** Demux an AVI payload into standalone ImageIO-decodable frames — a
    * plain RIFF walk (chunk ids + little-endian sizes), JDK-only: recurse
    * into LIST chunks and collect the JDK-reachable frame encodings:
    *  - `??dc` chunks starting with the JPEG SOI marker (MJPEG),
    *  - `??dc` chunks starting with the PNG signature (PNG codec),
    *  - `??db` / BI_RGB `??dc` chunks holding UNCOMPRESSED bottom-up
    *    BGR(X) DIB rasters (24/32-bit), whose geometry comes from the
    *    `vids` stream's BITMAPINFOHEADER in the hdrl LIST (strh→strf
    *    pairing; hdrl precedes movi in the container, so the format is
    *    known before the first frame) — re-encoded standalone as PNG.
    * None for anything that is not a RIFF AVI holding at least one
    * decodable frame; inter-frame codecs (H.264 etc.) have no JDK
    * decoder and stay on the stub path.
    */
  private[llm] def readAviFrames(payload: Array[Byte]): Option[Seq[Array[Byte]]] =
    try {
      def fourcc(off: Int) = new String(payload, off, 4, "US-ASCII")
      if (payload.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
        None
      else {
        def le32(off: Int) = java.nio.ByteBuffer.wrap(payload, off, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        def le16(off: Int) = java.nio.ByteBuffer.wrap(payload, off, 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getShort.toInt
        val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
        // (width, height-as-signed, bitCount) of the first BI_RGB vids
        // stream; None until (unless) the hdrl walk finds one. The movi
        // chunk ids carry the stream number as a two-digit decimal prefix
        // ("00dc", "01wb", ...), so remember WHICH stream the BI_RGB
        // format belongs to: in a mixed-stream AVI (raw stream 0 +
        // compressed stream 1) a big enough foreign ??dc body would
        // otherwise raster-decode as garbage instead of falling to the
        // stub path. strh chunks appear once per stream, in stream order.
        var dibFmt: Option[(Int, Int, Int)] = None
        var dibStreamId: String = null
        var strhWasVids = false
        var streamIdx = -1
        def walk(start: Int, end: Int): Unit = {
          var off = start
          var ok = true
          while (ok && off + 8 <= end) {
            val id = fourcc(off)
            val sz = le32(off + 4)
            if (sz < 0 || off + 8 + sz > end) ok = false
            else {
              val data = off + 8
              if (id == "LIST") walk(off + 12, off + 8 + sz)
              else if (id == "strh" && sz >= 4) {
                streamIdx += 1
                strhWasVids = fourcc(data) == "vids"
              } else if (id == "strf" && strhWasVids && sz >= 20) {
                // BITMAPINFOHEADER: biWidth@4, biHeight@8, biBitCount@14,
                // biCompression@16 (0 = BI_RGB)
                if (dibFmt.isEmpty && le32(data + 16) == 0) {
                  dibFmt = Some((le32(data + 4), le32(data + 8), le16(data + 14)))
                  dibStreamId = f"$streamIdx%02d"
                }
                strhWasVids = false
              } else if (id.endsWith("dc") && sz >= 2 &&
                  (payload(data) & 0xff) == 0xff &&
                  (payload(data + 1) & 0xff) == 0xd8)
                frames += java.util.Arrays.copyOfRange(payload, data, data + sz)
              else if (id.endsWith("dc") && sz >= 8 &&
                  (payload(data) & 0xff) == 0x89 && payload(data + 1) == 'P' &&
                  payload(data + 2) == 'N' && payload(data + 3) == 'G')
                frames += java.util.Arrays.copyOfRange(payload, data, data + sz)
              else if ((id.endsWith("db") || id.endsWith("dc")) && sz > 0 &&
                  dibStreamId != null && id.startsWith(dibStreamId))
                dibFmt.flatMap { case (w, h, bpp) => dibToPng(
                  java.util.Arrays.copyOfRange(payload, data, data + sz),
                  w, h, bpp)
                }.foreach(frames += _)
              off += 8 + sz + (sz & 1) // chunks are word-aligned
            }
          }
        }
        walk(12, math.min(payload.length, 8 + le32(4)))
        if (frames.isEmpty) None else Some(frames.toSeq)
      }
    } catch { case _: Exception => None }

  /** Decode one uncompressed BI_RGB DIB raster (the `??db` frame body) to
    * a standalone PNG: bottom-up rows unless biHeight is negative
    * (top-down), 4-byte-aligned row stride, BGR byte order (BGRX for
    * 32-bit). Plain byte math + ImageIO — no codec involved, which is the
    * point: raw-RGB AVI is JDK-reachable. None when the geometry doesn't
    * fit the chunk (not a raster of this format).
    */
  private def dibToPng(data: Array[Byte], w: Int, h0: Int,
      bpp: Int): Option[Array[Byte]] = {
    val topDown = h0 < 0
    val h = math.abs(h0)
    val bytesPp = bpp / 8
    val stride = ((w * bytesPp + 3) / 4) * 4
    if (w <= 0 || h == 0 || (bpp != 24 && bpp != 32) ||
        data.length < stride.toLong * h) None
    else {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        val srcRow = if (topDown) y else h - 1 - y
        var x = 0
        while (x < w) {
          val off = srcRow * stride + x * bytesPp
          val rgb = ((data(off + 2) & 0xff) << 16) |
            ((data(off + 1) & 0xff) << 8) | (data(off) & 0xff)
          img.setRGB(x, y, rgb)
          x += 1
        }
        y += 1
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      Some(buf.toByteArray)
    }
  }

  /** Demux an animated GIF into FULL frames via the JDK's GIF ImageReader,
    * COMPOSITED onto the logical-screen canvas: optimized GIFs store only
    * the changed rectangle per frame (with an offset and a disposal mode),
    * so the raw rasters after frame 0 are fragments — each raster is drawn
    * at its (left, top) offset and the canvas snapshot re-encodes
    * standalone as PNG, honoring none/doNotDispose,
    * restoreToBackgroundColor and restoreToPrevious disposal. None for
    * payloads that are not ImageIO-readable GIFs.
    */
  private[llm] def readGifFrames(payload: Array[Byte]): Option[Seq[Array[Byte]]] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            if (!reader.getFormatName.equalsIgnoreCase("gif")) None
            else {
              reader.setInput(iis, false)
              val n = reader.getNumImages(true)
              if (n <= 0) None
              else Some(compositeGif(reader, n))
            }
          } finally reader.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => None }

  private def gifAttr(node: org.w3c.dom.Node, child: String,
      attr: String): Option[String] = {
    var c = node.getFirstChild
    while (c != null) {
      if (c.getNodeName == child) {
        val a = c.getAttributes.getNamedItem(attr)
        return Option(a).map(_.getNodeValue)
      }
      c = c.getNextSibling
    }
    None
  }

  private def compositeGif(reader: javax.imageio.ImageReader,
      n: Int): Seq[Array[Byte]] = {
    import java.awt.image.BufferedImage
    val first = reader.read(0)
    // logical screen size from stream metadata; frame-0 size as fallback
    val (sw, sh) = (for {
      m <- Option(reader.getStreamMetadata)
      t = m.getAsTree(m.getNativeMetadataFormatName)
      w <- gifAttr(t, "LogicalScreenDescriptor", "logicalScreenWidth")
      h <- gifAttr(t, "LogicalScreenDescriptor", "logicalScreenHeight")
    } yield (w.toInt, h.toInt))
      .filter { case (w, h) => w > 0 && h > 0 }
      .getOrElse((first.getWidth, first.getHeight))
    val canvas = new BufferedImage(sw, sh, BufferedImage.TYPE_INT_ARGB)
    val g = canvas.createGraphics()
    def snapshot(): Array[Byte] = {
      val copy = new BufferedImage(sw, sh, BufferedImage.TYPE_INT_ARGB)
      copy.createGraphics().drawImage(canvas, 0, 0, null)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(copy, "png", buf)
      buf.toByteArray
    }
    try (0 until n).map { i =>
      val img = if (i == 0) first else reader.read(i)
      val im = reader.getImageMetadata(i)
      val tree = im.getAsTree(im.getNativeMetadataFormatName)
      val x = gifAttr(tree, "ImageDescriptor", "imageLeftPosition")
        .fold(0)(_.toInt)
      val y = gifAttr(tree, "ImageDescriptor", "imageTopPosition")
        .fold(0)(_.toInt)
      val disposal = gifAttr(tree, "GraphicControlExtension", "disposalMethod")
        .getOrElse("none")
      val before =
        if (disposal == "restoreToPrevious") Some(snapshot()) else None
      g.drawImage(img, x, y, null)
      val frame = snapshot()
      disposal match {
        case "restoreToBackgroundColor" =>
          val comp = g.getComposite
          g.setComposite(java.awt.AlphaComposite.Clear)
          g.fillRect(x, y, img.getWidth, img.getHeight)
          g.setComposite(comp)
        case "restoreToPrevious" =>
          before.foreach { b =>
            val prev = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(b))
            val comp = g.getComposite
            g.setComposite(java.awt.AlphaComposite.Src)
            g.drawImage(prev, 0, 0, null)
            g.setComposite(comp)
          }
        case _ => () // none / doNotDispose: canvas accumulates
      }
      frame
    } finally g.dispose()
  }

  /** REAL frame sampling for animated GIF: decode every `every`-th frame
    * and emit it as a standalone PNG row (frame_idx = original frame
    * number) — the GIF face of sampleFramesAvi, same stride semantics,
    * same pseudo-frame fallback for undecodable payloads.
    */
  def sampleFramesGif(media: Dataset[MediaRow], every: Int): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      readGifFrames(r.payload) match {
        case Some(frames) =>
          frames.iterator.zipWithIndex.collect {
            case (f, i) if i % every == 0 => FrameRow(r.doc_id, i, f)
          }
        case None => strideFallback(r, every)
      }
    }
  }

  /** REAL video decode for MJPEG-AVI: demux the RIFF container, decode the
    * FIRST frame with ImageIO (the classic thumbnail signature), publish
    * its band-luminance features and true dimensions; the feature tail is
    * unchanged so downstream schemas never see which path decoded.
    */
  private[llm] def decodeVideo(r: MediaRow): Option[MediaFeatures] =
    readAviFrames(r.payload).flatMap(frames =>
      decodeImage(MediaRow(r.doc_id, frames.head, "image/jpeg"))
        .map(f => f.copy(n_bytes = r.payload.length,
          checksum = md5Hex(r.payload))))

  /** Decode dispatch: real ImageIO for image payloads, real JDK WAV decode
    * for audio, real RIFF+ImageIO demux for MJPEG-AVI video; stub only for
    * codecs the JDK cannot read.
    */
  private[llm] def decode(r: MediaRow): MediaFeatures =
    if (r.mime.startsWith("image/")) decodeImage(r).getOrElse(decodeStub(r))
    else if (r.mime.startsWith("audio/")) decodeAudio(r).getOrElse(decodeStub(r))
    else if (r.mime.startsWith("video/")) decodeVideo(r).getOrElse(decodeStub(r))
    else decodeStub(r)

  /** Feature extraction over the binary column, partition-streamed. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(decode))
  }

  /** REAL image resize: decode with ImageIO, scale to (w, h) with bilinear
    * interpolation, re-encode as PNG. Non-image payloads pass through
    * unchanged. Same mapPartitions streaming shape as `extractFeatures`.
    */
  def resizeImages(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val resized =
        if (!r.mime.startsWith("image/")) None
        else readImage(r.payload).map { img =>
          val out = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
          g.dispose()
          val buf = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", buf)
          r.copy(payload = buf.toByteArray, mime = "image/png")
        }
      resized.getOrElse(r)
    })
  }

  /** REAL WAV resample: decode, linear-interpolate the mono mix to
    * `targetHz`, re-encode as 16-bit mono little-endian PCM WAV via
    * AudioSystem. Non-audio payloads pass through unchanged. Same
    * mapPartitions streaming shape as the image path.
    */
  def resampleWav(media: Dataset[MediaRow], targetHz: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val out =
        if (!r.mime.startsWith("audio/")) None
        else readWav(r.payload).map { case (fmt, mono) =>
          val ratio = fmt.getSampleRate.toDouble / targetHz
          val n = math.max(1, math.round(mono.length / ratio).toInt)
          val pcm = new Array[Byte](n * 2)
          val bb = java.nio.ByteBuffer.wrap(pcm)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var i = 0
          while (i < n) {
            val pos = i * ratio
            val i0 = math.min(mono.length - 1, pos.toInt)
            val i1 = math.min(mono.length - 1, i0 + 1)
            val frac = (pos - i0).toFloat
            val v = mono(i0) * (1 - frac) + mono(i1) * frac
            bb.putShort((math.max(-1f, math.min(1f, v)) * 32767).toShort)
            i += 1
          }
          val outFmt = new javax.sound.sampled.AudioFormat(
            targetHz.toFloat, 16, 1, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), outFmt, n.toLong)
          val buf = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
          r.copy(payload = buf.toByteArray, mime = "audio/wav")
        }
      out.getOrElse(r)
    })
  }

  /** One sampled frame: `frame_idx` is the frame's index in the source
    * (or the pseudo-frame index for payloads no demuxer reads).
    */
  case class FrameRow(doc_id: Long, frame_idx: Int, payload: Array[Byte])

  /** REAL frame sampling for MJPEG-AVI: demux the container and emit every
    * `every`-th JPEG frame as its own row (frame_idx = original frame
    * number, payload = the standalone JPEG — directly decodable by the
    * image path). Payloads that are not MJPEG-AVI fall back to slicing the
    * payload into fixed 4 KiB pseudo-frames and keeping every `every`-th —
    * the SAME stride semantics as the real path (frame_idx = original
    * pseudo-frame index), so mixed-codec corpora get a consistent per-row
    * fan-out proportional to media size / stride.
    */
  def sampleFramesAvi(media: Dataset[MediaRow], every: Int): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      readAviFrames(r.payload) match {
        case Some(frames) =>
          frames.iterator.zipWithIndex.collect {
            case (f, i) if i % every == 0 => FrameRow(r.doc_id, i, f)
          }
        case None => strideFallback(r, every)
      }
    }
  }

  /** Shared undecodable-payload fallback: slice into fixed 4 KiB
    * pseudo-frames and keep every `every`-th — the same stride semantics
    * as the real demux paths (frame_idx = original pseudo-frame index).
    */
  private def strideFallback(r: MediaRow, every: Int): Iterator[FrameRow] = {
    val pseudoFrameBytes = 4096
    val nChunks = math.max(1,
      (r.payload.length + pseudoFrameBytes - 1) / pseudoFrameBytes)
    (0 until nChunks).iterator.filter(_ % every == 0).map { i =>
      val from = math.min(i * pseudoFrameBytes, r.payload.length)
      val to = math.min(from + pseudoFrameBytes, r.payload.length)
      FrameRow(r.doc_id, i, java.util.Arrays.copyOfRange(r.payload, from, to))
    }
  }

  /** Wrap a text/bytes table into the media shape (fixture path: the test
    * corpus has no real media, so payload = utf-8 bytes).
    */
  def fromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text").cast(BinaryType).as("payload"),
        lit("text/plain").as("mime"))
      .as[MediaRow]
  }
}
