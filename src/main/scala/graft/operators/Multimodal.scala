package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (north-star scope): media payloads as opaque
  * `binary` columns with typed metadata structs, plus a per-partition
  * feature-extraction stage. Image decode and resize run through
  * `javax.imageio` (pure-JDK PNG/BMP/GIF/JPEG codecs) with a
  * clearly-marked deterministic STUB fallback for undecodable payloads
  * (the text-bytes fixtures, and any format the JDK lacks). Audio and
  * video CONTAINERS are parsed for real — byte-level RIFF walks for
  * WAV ([[parseWav]]) and AVI ([[parseAvi]]/[[aviFrames]]) — while the
  * in-frame video PIXEL decode stays stubbed (there is no JDK video
  * codec; the frame chunk boundaries, indices, and bytes are real).
  * The Spark-side
  * contract — schema, batching, partition-parallel execution — is real
  * and is what matters at 100 TB (payload bytes never pass through the
  * driver; features are computed executor-side, partition by partition).
  */
object Multimodal {

  /** Output schema of the feature-extraction stage. */
  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  /** Attach a fake media payload to each document: the UTF-8 bytes of its
    * text standing in for an encoded image, plus a metadata struct. */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(col("source").as("origin"), col("n_chars").as("declared_len"))
        .as("meta"))

  /** STUB decode: derives "dimensions" from the byte length so the
    * pipeline shape is testable on payloads that aren't real images
    * (the text-bytes fixtures). Real images go through [[decodeDims]]. */
  def stubDecodeDims(nBytes: Int): (Int, Int) =
    (32 + nBytes % 32, 32 + (nBytes / 64) % 32)

  // inputs are in-memory byte arrays: without this, ImageIO spools every
  // payload to an executor-local temp FILE before decoding (per-record
  // disk I/O inside the mapPartitions hot loop)
  javax.imageio.ImageIO.setUseCache(false)

  /** ImageIO decode that treats BOTH "no reader claims the format"
    * (read returns null) and "a reader claimed it but the bytes are
    * corrupt" (read throws) as undecodable — at corpus scale corrupt
    * images are guaranteed, and one bad record must degrade to the stub,
    * not kill the task. */
  private def tryDecode(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Real decode via `javax.imageio` (ships with the JDK — PNG, BMP, GIF,
    * JPEG readers; no native deps, works headless). Undecodable payloads
    * (unknown format OR corrupt bytes) fall back to the deterministic
    * stub, so one code path serves both real images and the codec-less
    * fixtures. */
  def decodeDims(payload: Array[Byte]): (Int, Int) =
    tryDecode(payload)
      .map(img => (img.getWidth, img.getHeight))
      .getOrElse(stubDecodeDims(payload.length))

  /** STUB resize for undecodable payloads: binary in, binary out, output
    * length a function of the target dims — keeps downstream stages
    * (storage sizing, schema) exercised without a decodable image. */
  def stubResize(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](math.min(payload.length, w * h))
    var i = 0
    while (i < out.length) { out(i) = payload(i % payload.length); i += 1 }
    out
  }

  /** Real resize: decode with `javax.imageio`, bilinear-scale onto a
    * w×h canvas, re-encode as PNG. Falls back to [[stubResize]] when the
    * payload isn't a decodable image. */
  def resizePayload(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val img = tryDecode(payload).orNull
    if (img == null) stubResize(payload, w, h)
    else {
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }
  }

  /** STUB frame sampling: a real implementation would decode a video
    * container and grab every k-th frame; the fake slices the payload
    * into `frames` equal chunks. Output shape (array<binary> with frame
    * index struct) is the real contract. */
  def stubFrameSample(payload: Array[Byte], frames: Int): Seq[(Int, Array[Byte])] = {
    val n = math.max(1, frames)
    val step = math.max(1, payload.length / n)
    (0 until n).map(i => i -> payload.slice(i * step, math.min((i + 1) * step, payload.length)))
  }

  /** Resize stage over the payload column: partition-parallel, no driver
    * involvement (the 100 TB contract — payload bytes move executor to
    * executor only). */
  def resizeAll(spark: SparkSession, withBytes: DataFrame, w: Int, h: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("resized", BinaryType),
      StructField("n_bytes", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    withBytes.select("doc_id", "payload").mapPartitions { it =>
      it.map { r =>
        val out = resizePayload(r.getAs[Array[Byte]](1), w, h)
        Row(r.getLong(0), out, out.length)
      }
    }(enc).toDF()
  }

  /** Frame-sample stage: one row per (doc, frame). */
  def sampleFrames(spark: SparkSession, withBytes: DataFrame, frames: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("frame", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    withBytes.select("doc_id", "payload").mapPartitions { it =>
      it.flatMap { r =>
        stubFrameSample(r.getAs[Array[Byte]](1), frames).map {
          case (i, b) => Row(r.getLong(0), i, b)
        }
      }
    }(enc).toDF()
  }

  /** Partition-parallel feature extraction over binary payloads. Runs as
    * `mapPartitions` so a real decoder could batch/reuse native resources
    * per partition (the JVM analogue of a Pandas-UDF batch loop). */
  def extractFeatures(spark: SparkSession, withBytes: DataFrame): DataFrame = {
    val rowEnc = org.apache.spark.sql.Encoders.row(featureSchema)
    val ds: Dataset[Row] = withBytes.select("doc_id", "payload").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val (w, h) = decodeDims(bytes)
        Row(id, bytes.length, w, h)
      }
    }(rowEnc)
    ds.toDF()
  }

  // ---- audio: real RIFF/WAV PCM parse + feature extraction ----

  /** Output schema of the audio feature stage. */
  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("n_channels", IntegerType),
    StructField("bits", IntegerType),
    StructField("n_samples", IntegerType),
    StructField("rms_milli", LongType),
    StructField("duration_ms", LongType)))

  private def leInt(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def leShort(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Parsed WAV: (sampleRate, channels, bitsPerSample, dataOffset,
    * dataLen). Walks the RIFF chunk list (fmt can precede or follow
    * other chunks); PCM only. None on anything malformed — corpus-scale
    * audio has corrupt files, and a bad record must degrade, not throw. */
  def parseWav(b: Array[Byte]): Option[(Int, Int, Int, Int, Int)] = {
    if (b.length < 44 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE") return None
    var off = 12
    var fmt: Option[(Int, Int, Int)] = None
    var data: Option[(Int, Int)] = None
    while (off + 8 <= b.length && (fmt.isEmpty || data.isEmpty)) {
      val id = tag(b, off)
      val sz = leInt(b, off + 4)
      // LONG arithmetic: a hostile size field near Int.MaxValue would wrap
      // 'off + 8 + sz' negative and bypass the bound, then index past the
      // array — the exact crash this parser exists to absorb
      if (sz < 0 || off.toLong + 8 + sz > b.length) return None
      if (id == "fmt " && sz >= 16) {
        if (leShort(b, off + 8) != 1) return None // PCM only
        fmt = Some((leInt(b, off + 12), leShort(b, off + 10), leShort(b, off + 22)))
      } else if (id == "data") data = Some((off + 8, sz))
      off += 8 + sz + (sz & 1) // RIFF chunks are word-aligned
    }
    // reject fmt values the extractor can't honor: rate <= 0 divides to
    // Infinity downstream; bits outside {8,16} would decode garbage; and
    // bits = 0 would collide with the stub's malformed-marker
    for ((rate, ch, bits) <- fmt; (o, n) <- data
         if rate > 0 && ch > 0 && (bits == 8 || bits == 16))
      yield (rate, ch, bits, o, n)
  }

  /** RMS over centered PCM samples (8-bit unsigned → −128..127, 16-bit
    * signed LE), in milli-units of the sample scale. */
  private def pcmRmsMilli(b: Array[Byte], off: Int, len: Int, bits: Int): Long = {
    var sum = 0.0; var n = 0
    if (bits == 8) {
      var i = off
      while (i < off + len) { val v = (b(i) & 0xff) - 128.0; sum += v * v; n += 1; i += 1 }
    } else {
      var i = off
      while (i + 1 < off + len) {
        val v = leShort(b, i).toShort.toDouble; sum += v * v; n += 2; i += 2 }
      n /= 2
    }
    if (n == 0) 0L else math.round(math.sqrt(sum / n) * 1000)
  }

  /** STUB audio decode for unparseable payloads: the raw bytes AS 8-bit
    * unsigned PCM at a nominal 8 kHz — deterministic, keeps the schema
    * populated, and is obviously marked by bits = 0 in the output. */
  def stubAudioFeatures(id: Long, b: Array[Byte]): Row = {
    val rms = pcmRmsMilli(b, 0, b.length, 8)
    Row(id, b.length, 8000, 1, 0, b.length, rms,
      math.round(b.length / 8000.0 * 1000))
  }

  /** Partition-parallel audio feature extraction: header metadata + RMS
    * energy + duration per payload; WAV-parse failures degrade to
    * [[stubAudioFeatures]]. Same executor-only movement contract as the
    * image stages. */
  def audioFeatures(spark: SparkSession, withBytes: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(audioFeatureSchema)
    withBytes.select("doc_id", "payload").mapPartitions { it =>
      it.map { r =>
        // Number-safe id read (int32-vs-int64 key width is a fixture
        // re-encoding FixtureCheck accepts); null payload → stub, one
        // null cell in a 100 TB media table must not fail the job
        val id = r.getAs[Number](0).longValue()
        val b0 = r.getAs[Array[Byte]](1)
        val b = if (b0 == null) Array.emptyByteArray else b0
        parseWav(b) match {
          case Some((rate, ch, bits, off, len)) =>
            val bytesPerSample = math.max(1, bits / 8) * math.max(1, ch)
            val nSamples = len / bytesPerSample
            Row(id, b.length, rate, ch, bits, nSamples,
              pcmRmsMilli(b, off, len, bits),
              math.round(nSamples.toDouble / rate * 1000))
          case None => stubAudioFeatures(id, b)
        }
      }
    }(enc).toDF()
  }

  /** Deterministic synthetic WAV per document: 8-bit unsigned mono PCM at
    * 8 kHz, a square wave of amplitude 10 + doc_id % 50 with period 16,
    * 64 + n_chars % 192 samples — every derived feature has a closed
    * form in (doc_id, n_chars), which is what lets a SQL oracle pin the
    * full synth → encode → parse → extract loop. */
  def synthWav(docId: Long, nChars: Long): Array[Byte] = {
    val n = (64 + nChars % 192).toInt
    val amp = (10 + docId % 50).toInt
    val out = new Array[Byte](44 + n)
    def putTag(o: Int, s: String): Unit =
      System.arraycopy(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, out, o, 4)
    def putLeInt(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
      out(o + 2) = ((v >> 16) & 0xff).toByte; out(o + 3) = ((v >> 24) & 0xff).toByte
    }
    def putLeShort(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
    }
    putTag(0, "RIFF"); putLeInt(4, 36 + n); putTag(8, "WAVE")
    putTag(12, "fmt "); putLeInt(16, 16)
    putLeShort(20, 1); putLeShort(22, 1) // PCM, mono
    putLeInt(24, 8000); putLeInt(28, 8000) // rate, byte rate
    putLeShort(32, 1); putLeShort(34, 8) // block align, bits
    putTag(36, "data"); putLeInt(40, n)
    var j = 0
    while (j < n) {
      val s = if ((j / 8) % 2 == 0) amp else -amp
      out(44 + j) = (128 + s).toByte
      j += 1
    }
    out
  }

  /** Attach the synthetic WAV payload (executor-side byte synthesis —
    * payloads never exist on the driver). */
  def withAudioPayload(docs: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select("doc_id", "n_chars").mapPartitions { it =>
      it.map { r =>
        val id = r.getAs[Number](0).longValue() // int32 fixture width ok
        Row(id, synthWav(id, r.getAs[Number](1).longValue()))
      }
    }(enc).toDF()
  }

  // ---- video: real RIFF/AVI container parse + frame sampling ----

  /** Output schema of the video feature stage. */
  val videoFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("fps_milli", LongType),
    StructField("duration_ms", LongType),
    StructField("sampled", IntegerType),
    StructField("sample_checksum", LongType)))

  /** Parsed AVI: (µsPerFrame, totalFrames, width, height, moviOff,
    * moviLen). Walks the top-level RIFF LIST chunks — `hdrl` for the
    * `avih` main header, `movi` for the frame payload region — with the
    * same hostile-size guards as [[parseWav]]: decoding runs against a
    * corpus, and one corrupt container must degrade, never throw or
    * over-read. */
  def parseAvi(b: Array[Byte]): Option[(Int, Int, Int, Int, Int, Int)] = {
    if (b.length < 100 || tag(b, 0) != "RIFF" || tag(b, 8) != "AVI ") return None
    var off = 12
    var hdr: Option[(Int, Int, Int, Int)] = None
    var movi: Option[(Int, Int)] = None
    while (off + 12 <= b.length && (hdr.isEmpty || movi.isEmpty)) {
      val id = tag(b, off)
      val sz = leInt(b, off + 4)
      if (sz < 4 || off.toLong + 8 + sz > b.length) return None
      if (id == "LIST") {
        val sub = tag(b, off + 8)
        if (sub == "hdrl") {
          // avih must be the first child; its 56-byte body carries
          // µsPerFrame(+0), totalFrames(+16), width(+32), height(+36)
          val a = off + 12
          if (a + 8 + 56 > b.length || tag(b, a) != "avih" ||
            leInt(b, a + 4) < 56) return None
          hdr = Some((leInt(b, a + 8), leInt(b, a + 24),
            leInt(b, a + 40), leInt(b, a + 44)))
        } else if (sub == "movi") movi = Some((off + 12, sz - 4))
      }
      off += 8 + sz + (sz & 1)
    }
    for ((us, nf, w, h) <- hdr; (mo, ml) <- movi
         if us > 0 && nf >= 0 && w > 0 && h > 0)
      yield (us, nf, w, h, mo, ml)
  }

  /** Walk the `movi` region's frame chunks (any `##dc`/`##db` stream
    * 4cc accepted) returning (frameIndex, payloadOffset, payloadLen). */
  def aviFrames(b: Array[Byte], moviOff: Int, moviLen: Int): Seq[(Int, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var off = moviOff
    var idx = 0
    while (off + 8 <= moviOff + moviLen && off + 8 <= b.length) {
      val sz = leInt(b, off + 4)
      if (sz < 0 || off.toLong + 8 + sz > b.length) return out.toSeq
      out += ((idx, off + 8, sz))
      idx += 1
      off += 8 + sz + (sz & 1)
    }
    out.toSeq
  }

  /** STUB video decode for unparseable payloads, marked by
    * n_frames = 0 with stub dimensions — the corpus-scale degradation
    * contract shared with [[stubAudioFeatures]]. */
  def stubVideoFeatures(id: Long, b: Array[Byte]): Row = {
    val (w, h) = stubDecodeDims(b.length)
    Row(id, b.length, w, h, 0, 0L, 0L, 0, 0L)
  }

  /** Partition-parallel video feature extraction: container metadata,
    * frame count/rate/duration, and an every-2nd-frame sample whose
    * checksum (sum of each sampled frame's first payload byte) pins the
    * movi chunk-walk byte-for-byte. Parse failures degrade to
    * [[stubVideoFeatures]]; payloads move executor-side only. */
  def videoFeatures(spark: SparkSession, withBytes: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(videoFeatureSchema)
    withBytes.select("doc_id", "payload").mapPartitions { it =>
      it.map { r =>
        val id = r.getAs[Number](0).longValue()
        val b0 = r.getAs[Array[Byte]](1)
        val b = if (b0 == null) Array.emptyByteArray else b0
        parseAvi(b) match {
          case Some((us, nf, w, h, mo, ml)) =>
            val sampled = aviFrames(b, mo, ml).filter(_._1 % 2 == 0)
            val cks = sampled.map { case (_, o, len) =>
              if (len > 0) (b(o) & 0xff).toLong else 0L }.sum
            Row(id, b.length, w, h, nf,
              math.round(1e6 / us * 1000), nf.toLong * us / 1000,
              sampled.size, cks)
          case None => stubVideoFeatures(id, b)
        }
      }
    }(enc).toDF()
  }

  /** Deterministic synthetic AVI per document: 25 fps, 4 + doc_id % 6
    * frames of 64 + (n_chars % 32)·2 bytes (even, so RIFF word
    * alignment is a no-op), each frame filled with
    * (doc_id + 7·frame) % 251 — every derived feature and the sampled
    * checksum have closed forms in (doc_id, n_chars), so a SQL oracle
    * pins the full synth → container → chunk-walk → sample loop. */
  def synthAvi(docId: Long, nChars: Long): Array[Byte] = {
    val nf = (4 + docId % 6).toInt
    val fb = (64 + (nChars % 32) * 2).toInt
    val w = (16 + nChars % 16).toInt
    val h = (12 + docId % 12).toInt
    val total = 100 + nf * (8 + fb)
    val out = new Array[Byte](total)
    def putTag(o: Int, s: String): Unit =
      System.arraycopy(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, out, o, 4)
    def putLeInt(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
      out(o + 2) = ((v >> 16) & 0xff).toByte; out(o + 3) = ((v >> 24) & 0xff).toByte
    }
    putTag(0, "RIFF"); putLeInt(4, total - 8); putTag(8, "AVI ")
    putTag(12, "LIST"); putLeInt(16, 68); putTag(20, "hdrl")
    putTag(24, "avih"); putLeInt(28, 56)
    putLeInt(32, 40000) // µs per frame (25 fps)
    putLeInt(48, nf) // total frames
    putLeInt(56, 1) // streams
    putLeInt(60, fb) // suggested buffer
    putLeInt(64, w); putLeInt(68, h)
    putTag(88, "LIST"); putLeInt(92, 4 + nf * (8 + fb)); putTag(96, "movi")
    var f = 0
    var off = 100
    while (f < nf) {
      putTag(off, "00dc"); putLeInt(off + 4, fb)
      java.util.Arrays.fill(out, off + 8, off + 8 + fb,
        ((docId + 7 * f) % 251).toByte)
      f += 1
      off += 8 + fb
    }
    out
  }

  /** Attach the synthetic AVI payload (executor-side synthesis). */
  def withVideoPayload(docs: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select("doc_id", "n_chars").mapPartitions { it =>
      it.map { r =>
        val id = r.getAs[Number](0).longValue()
        Row(id, synthAvi(id, r.getAs[Number](1).longValue()))
      }
    }(enc).toDF()
  }

  val defs: Seq[QueryDef] = Seq(

    // binary payload + metadata + feature extraction, expressed with
    // pure built-ins (the mapPartitions variant above is unit-tested and
    // must agree with this declarative form)
    QueryDef(
      "q_multimodal_features",
      (s, d) => withPayload(Tables.documents(s, d))
        .select(
          col("doc_id"),
          octet_length(col("payload")).as("n_bytes"),
          (lit(32) + octet_length(col("payload")) % 32).as("width"),
          (lit(32) + expr("octet_length(payload) div 64") % 32).as("height"),
          col("meta.origin").as("origin"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(octet_length(payload) AS INT) AS n_bytes,
             |  CAST(32 + octet_length(payload) % 32 AS INT) AS width,
             |  CAST(32 + (octet_length(payload) // 64) % 32 AS INT) AS height,
             |  source AS origin
             |FROM (SELECT doc_id, encode(text) AS payload, source FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // audio modality end-to-end: synthesize a REAL RIFF/WAV payload per
    // document executor-side (square wave whose parameters are closed
    // forms in doc_id/n_chars), then run the actual byte-level parse +
    // PCM RMS extraction. The oracle states the closed forms — so a
    // header-layout, chunk-walk, sample-decode, or RMS bug each breaks
    // the hash match; this is an oracle over the BINARY codec path, not
    // just the relational shell. Per-row work only, no shuffle.
    QueryDef(
      "q_audio_features",
      (s, d) => audioFeatures(s, withAudioPayload(Tables.documents(s, d)))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(44 + 64 + n_chars % 192 AS INT) AS n_bytes,
             |  CAST(8000 AS INT) AS sample_rate,
             |  CAST(1 AS INT) AS n_channels,
             |  CAST(8 AS INT) AS bits,
             |  CAST(64 + n_chars % 192 AS INT) AS n_samples,
             |  CAST((10 + doc_id % 50) * 1000 AS BIGINT) AS rms_milli,
             |  CAST(round((64 + n_chars % 192) / 8.0) AS BIGINT) AS duration_ms
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // video modality end-to-end — the third leg beside image features
    // and the WAV codec: synthesize a REAL RIFF/AVI container per
    // document executor-side (hdrl/avih main header + movi frame
    // chunks, parameters closed forms in doc_id/n_chars), then run the
    // actual byte-level container parse, frame chunk-walk, and
    // every-2nd-frame sampling. The oracle states the closed forms
    // incl. the sampled-frame checksum, so a header-offset, LIST-walk,
    // frame-index, or sampling bug each breaks the hash match. Per-row
    // work only, no shuffle; payload bytes never leave the executors.
    QueryDef(
      "q_video_frames",
      (s, d) => videoFeatures(s, withVideoPayload(Tables.documents(s, d)))
        .orderBy("doc_id"),
      Some("""WITH base AS (SELECT doc_id, n_chars,
             |    4 + doc_id % 6 AS nf, 64 + (n_chars % 32) * 2 AS fb FROM documents),
             |ck AS (SELECT b.doc_id, count(*) AS sampled,
             |         CAST(sum((b.doc_id + 14 * t.k) % 251) AS BIGINT) AS cks
             |       FROM base b, LATERAL (SELECT unnest(range(0, (b.nf + 1) // 2)) AS k) t
             |       GROUP BY 1)
             |SELECT b.doc_id,
             |  CAST(100 + b.nf * (8 + b.fb) AS INT) AS n_bytes,
             |  CAST(16 + b.n_chars % 16 AS INT) AS width,
             |  CAST(12 + b.doc_id % 12 AS INT) AS height,
             |  CAST(b.nf AS INT) AS n_frames,
             |  CAST(25000 AS BIGINT) AS fps_milli,
             |  CAST(b.nf * 40 AS BIGINT) AS duration_ms,
             |  CAST(ck.sampled AS INT) AS sampled,
             |  ck.cks AS sample_checksum
             |FROM base b JOIN ck USING (doc_id) ORDER BY b.doc_id""".stripMargin)),

    // perceptual average-hash near-dup over the image modality — the
    // classic aHash pipeline on the synthesized payload: sample 64
    // evenly-strided "pixels" (payload bytes ≡ text chars, the repo's
    // deterministic fake-decode), threshold each against the exact
    // integer mean to a 64-bit signature, band it 4×16 for the LSH-style
    // candidate join (identical band value → candidate, the q_simhash
    // shape on the image column), then verify candidates by exact
    // Hamming ≤ 6 via XOR + bit_count. Everything corpus-scaled is one
    // ×64 bounded explode plus per-band equi-joins — never all-pairs.
    QueryDef(
      "q_ahash_dedup",
      (s, d) => {
        val px = Tables.documents(s, d)
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(0), lit(63))).as("i"))
          .select(col("doc_id"), col("i"),
            expr("""ascii(substring(text,
                   | CAST(1 + (i * greatest(length(text) div 64, 1))
                   |   % length(text) AS INT), 1))""".stripMargin).as("p"))
        val mn = px.groupBy("doc_id").agg(expr("sum(p) div 64").as("m"))
        val bv = px.join(mn, "doc_id")
          .select(col("doc_id"), expr("i div 16").as("band"),
            expr("""CASE WHEN p > m
                   | THEN shiftleft(CAST(1 AS BIGINT), CAST(i % 16 AS INT))
                   | ELSE CAST(0 AS BIGINT) END""".stripMargin).as("bit"))
          .groupBy("doc_id", "band").agg(sum("bit").as("v"))
        // bucket cap: a band value shared by >256 docs is a low-information
        // band (the LSH stop-shingle problem — q_shingle_df_profile's
        // argument); skipping it bounds the pair join at 256²/2 per bucket
        // and the skip count is reported, never silent
        val occ = bv.groupBy("band", "v").agg(count(lit(1)).as("bsz"))
        val bvc = bv.join(occ.where(col("bsz") <= 256).drop("bsz"),
          Seq("band", "v"))
        val sk = occ.agg(
          sum(when(col("bsz") > 256, 1L).otherwise(0L)).as("skipped_buckets"))
        val cand = bvc.select(col("doc_id").as("id1"), col("band"), col("v"))
          .join(bvc.select(col("doc_id").as("id2"), col("band"), col("v")),
            Seq("band", "v"))
          .where(col("id1") < col("id2"))
          .select("id1", "id2").distinct()
        val ham = cand
          .join(bv.select(col("doc_id").as("id1"), col("band"),
            col("v").as("vx")), "id1")
          .join(bv.select(col("doc_id").as("id2"), col("band"),
            col("v").as("vy")), Seq("id2", "band"))
          .groupBy("id1", "id2")
          .agg(sum(expr("bit_count(vx ^ vy)")).as("hd"))
        val nd = Tables.documents(s, d).agg(count(lit(1)).as("docs"))
        ham.crossJoin(nd).crossJoin(sk)
          .agg(max("docs").as("n_docs"),
            count(lit(1)).as("cand_pairs"),
            sum(when(col("hd") <= 6, 1L).otherwise(0L)).as("dup_pairs"),
            countDistinct(when(col("hd") <= 6, col("id2"))).as("dup_docs"),
            max("skipped_buckets").as("skipped_buckets"))
      },
      Some("""WITH px AS (SELECT doc_id, i,
             |      ord(substr(text,
             |        CAST(1 + (i * greatest(len(text)//64, 1)) % len(text) AS INT),
             |        1)) AS p
             |    FROM documents, (SELECT unnest(range(0, 64)) AS i)),
             |mn AS (SELECT doc_id, sum(p) // 64 AS m FROM px GROUP BY 1),
             |bits AS (SELECT px.doc_id, i // 16 AS band, i % 16 AS j,
             |      CASE WHEN p > m THEN 1 ELSE 0 END AS b
             |    FROM px JOIN mn ON mn.doc_id = px.doc_id),
             |bv AS (SELECT doc_id, band, sum(b * (1::BIGINT << j)) AS v
             |       FROM bits GROUP BY 1, 2),
             |occ AS (SELECT band, v, count(*) AS bsz FROM bv GROUP BY 1, 2),
             |bvc AS (SELECT bv.doc_id, bv.band, bv.v FROM bv
             |    JOIN occ ON occ.band = bv.band AND occ.v = bv.v AND occ.bsz <= 256),
             |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
             |    FROM bvc a JOIN bvc b
             |      ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id),
             |ham AS (SELECT cand.id1, cand.id2, sum(bit_count(xor(x.v, y.v))) AS hd
             |    FROM cand JOIN bv x ON x.doc_id = cand.id1
             |    JOIN bv y ON y.doc_id = cand.id2 AND y.band = x.band
             |    GROUP BY 1, 2),
             |sk AS (SELECT sum(CASE WHEN bsz > 256 THEN 1 ELSE 0 END) AS skipped FROM occ),
             |nd AS (SELECT count(*) AS docs FROM documents)
             |SELECT CAST((SELECT docs FROM nd) AS BIGINT) AS n_docs,
             |  CAST(count(*) AS BIGINT) AS cand_pairs,
             |  CAST(sum(CASE WHEN hd <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS dup_pairs,
             |  CAST(count(DISTINCT CASE WHEN hd <= 6 THEN id2 END) AS BIGINT) AS dup_docs,
             |  CAST((SELECT skipped FROM sk) AS BIGINT) AS skipped_buckets
             |FROM ham""".stripMargin))
  )
}
