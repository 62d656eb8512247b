package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends ReleasesPins {

  test("mapPartitions feature extraction agrees with the declarative plan") {
    val docs = Tables.documents(spark, sf)
    val viaMap = Multimodal.extractFeatures(spark, Multimodal.withPayload(docs))
    val declarative = SparkEntry.queries("q_multimodal_features")(spark, sf)
      .select("doc_id", "n_bytes", "width", "height")
    val diff = viaMap.exceptAll(declarative).count() +
      declarative.exceptAll(viaMap).count()
    assert(diff == 0)
  }

  test("payload bytes round-trip the document text") {
    val docs = Tables.documents(spark, sf).limit(5)
    val rows = Multimodal.withPayload(docs)
      .join(docs, "doc_id")
      .select(col("text"), decode(col("payload"), "UTF-8").as("back"))
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getString(0) == r.getString(1)))
  }

  test("resize and frame-sample stages keep the binary contract, executor-side") {
    val docs = Tables.documents(spark, sf).limit(20)
    val payloads = Multimodal.withPayload(docs)
    val resized = Multimodal.resizeAll(spark, payloads, 16, 16)
    assert(resized.count() == 20)
    assert(resized.agg(max("n_bytes")).head().getInt(0) <= 256)
    val frames = Multimodal.sampleFrames(spark, payloads, 4)
    assert(frames.count() == 80) // 4 frames per doc
    assert(frames.groupBy("doc_id").count().agg(min("count")).head().getLong(0) == 4)
  }

  test("real PNG payloads decode to true dimensions and resize through the imageio codec") {
    import spark.implicits._
    // build a real 40×20 PNG in-process (no fixture files needed)
    val img = new java.awt.image.BufferedImage(40, 20, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 40).foreach(x => (0 until 20).foreach(y => img.setRGB(x, y, x * 31 + y)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    val df = Seq((1L, png), (2L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    // decode: the real image reports its true dims, junk falls to the stub
    val feats = Multimodal.extractFeatures(spark, df)
      .orderBy("doc_id").collect()
    assert(feats(0).getInt(2) == 40 && feats(0).getInt(3) == 20)
    val (sw, sh) = Multimodal.stubDecodeDims("not an image".getBytes("UTF-8").length)
    assert(feats(1).getInt(2) == sw && feats(1).getInt(3) == sh)

    // resize: output is a real PNG that decodes back at the target dims
    val resized = Multimodal.resizeAll(spark, df, 16, 8)
      .orderBy("doc_id").collect()
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized(0).getAs[Array[Byte]]("resized")))
    assert(back.getWidth == 16 && back.getHeight == 8)
    // undecodable payload keeps the stub contract (length bounded by w*h)
    assert(resized(1).getAs[Array[Byte]]("resized").length <= 16 * 8)
  }

  test("corrupt-but-recognized image bytes degrade to the stub instead of failing the task") {
    // a real PNG truncated mid-body: a reader CLAIMS the format (magic
    // header intact), then throws during decode — must not kill the task
    val img = new java.awt.image.BufferedImage(20, 10, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val corrupt = bos.toByteArray.take(bos.size() / 2)
    val (w, h) = Multimodal.decodeDims(corrupt)
    assert((w, h) == Multimodal.stubDecodeDims(corrupt.length))
    val resized = Multimodal.resizePayload(corrupt, 8, 8)
    assert(resized.length <= 64) // stub contract
    import spark.implicits._
    val df = Seq((1L, corrupt)).toDF("doc_id", "payload")
    assert(Multimodal.extractFeatures(spark, df).count() == 1) // no task failure
  }

  test("stub decode dims are deterministic and in range") {
    val (w, h) = Multimodal.stubDecodeDims(1000)
    assert((w, h) == Multimodal.stubDecodeDims(1000))
    assert(w >= 32 && w < 64 && h >= 32 && h < 64)
  }

  test("WAV parse: synthesized payload round-trips; corrupt payloads degrade to the stub") {
    import spark.implicits._
    val good = Multimodal.synthWav(7L, 100L) // amp 17, n = 64 + 100 = 164
    val Some((rate, ch, bits, off, len)) = Multimodal.parseWav(good)
    assert((rate, ch, bits, len) == (8000, 1, 8, 164) && off == 44)
    // corrupt inputs: truncated header, bad magic, chunk size past EOF
    assert(Multimodal.parseWav(good.take(20)).isEmpty)
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    assert(Multimodal.parseWav(badMagic).isEmpty)
    val badSize = good.clone(); badSize(40) = -1; badSize(41) = -1
    assert(Multimodal.parseWav(badSize).isEmpty)
    // the extraction stage must not fail the task on a corrupt record,
    // and marks the stub path with bits = 0
    val df = Seq((1L, good), (2L, good.take(20))).toDF("doc_id", "payload")
    val feats = Multimodal.audioFeatures(spark, df).orderBy("doc_id").collect()
    assert(feats(0).getInt(4) == 8 && feats(0).getLong(6) == 17000)
    assert(feats(1).getInt(4) == 0, "corrupt payload must carry the stub marker")
  }

  test("WAV parse: 16-bit PCM and a non-leading data chunk") {
    // hand-built 16-bit mono WAV with a junk chunk BEFORE fmt/data:
    // 4 samples of constant amplitude 1000 → RMS exactly 1000
    val samples = Seq(1000, -1000, 1000, -1000)
    val bos = new java.io.ByteArrayOutputStream()
    def tag(s: String) = bos.write(s.getBytes("US-ASCII"))
    def le32(v: Int) = (0 to 3).foreach(i => bos.write((v >> (8 * i)) & 0xff))
    def le16(v: Int) = (0 to 1).foreach(i => bos.write((v >> (8 * i)) & 0xff))
    tag("RIFF"); le32(4 + 8 + 2 + 8 + 16 + 8 + 8); tag("WAVE")
    tag("LIST"); le32(2); le16(0) // junk chunk the walker must skip
    tag("fmt "); le32(16); le16(1); le16(1); le32(16000); le32(32000); le16(2); le16(16)
    tag("data"); le32(8); samples.foreach(le16)
    val b = bos.toByteArray
    val Some((rate, ch, bits, off, len)) = Multimodal.parseWav(b)
    assert((rate, ch, bits, len) == (16000, 1, 16, 8))
    // hostile fmt values must be rejected, not produce garbage features:
    // rate 0 (→ Infinity duration), bits 24 (16-bit branch would decode
    // nonsense), bits 0 (collides with the stub marker)
    // (layout with the LIST chunk: fmt body starts at 30 — sampleRate
    // bytes 34-37, bitsPerSample bytes 44-45)
    def patched(f: Array[Byte] => Unit) = { val c = b.clone(); f(c); c }
    assert(Multimodal.parseWav(patched { c => c(34) = 0; c(35) = 0; c(36) = 0; c(37) = 0 }).isEmpty)
    assert(Multimodal.parseWav(patched { c => c(44) = 24 }).isEmpty)
    assert(Multimodal.parseWav(patched { c => c(44) = 0 }).isEmpty)
    // near-Int.MaxValue chunk size must fail the bound check (long
    // arithmetic), not wrap negative and index past the array
    val hostile = Multimodal.synthWav(1L, 10L)
    hostile(40) = -1; hostile(41) = -1; hostile(42) = -1; hostile(43) = 0x7f
    assert(Multimodal.parseWav(hostile).isEmpty)
    import spark.implicits._
    val feats = Multimodal.audioFeatures(spark, Seq((1L, b)).toDF("doc_id", "payload"))
      .collect().head
    assert(feats.getInt(5) == 4, "n_samples from data length / block size")
    assert(feats.getLong(6) == 1000000L, "RMS of a constant-amplitude wave in milli-units")
  }

  test("AVI parse: synthesized container round-trips; corrupt payloads degrade to the stub") {
    val b = Multimodal.synthAvi(docId = 7L, nChars = 100L)
    val Some((us, nf, w, h, mo, ml)) = Multimodal.parseAvi(b)
    assert(us == 40000 && nf == 5, "25 fps, 4 + 7%6 frames")
    assert(w == 16 + 100 % 16 && h == 12 + 7 % 12)
    val frames = Multimodal.aviFrames(b, mo, ml)
    assert(frames.size == nf, "movi chunk-walk finds every frame")
    assert(frames.map(_._3).distinct == Seq(64 + (100 % 32) * 2))
    // frame f is filled with (doc_id + 7f) % 251
    for ((idx, off, _) <- frames)
      assert((b(off) & 0xff) == ((7 + 7 * idx) % 251).toInt, s"frame $idx fill")

    // corruption degrades, never throws: truncated, wrong magic, and a
    // hostile LIST size that would over-read
    assert(Multimodal.parseAvi(b.take(50)).isEmpty)
    val wrongMagic = b.clone(); wrongMagic(8) = 'X'.toByte
    assert(Multimodal.parseAvi(wrongMagic).isEmpty)
    val hostile = b.clone()
    hostile(16) = 0xff.toByte; hostile(17) = 0xff.toByte
    hostile(18) = 0xff.toByte; hostile(19) = 0x7f.toByte
    assert(Multimodal.parseAvi(hostile).isEmpty)
    import spark.implicits._
    val stub = Multimodal.videoFeatures(spark,
      Seq((1L, b.take(40))).toDF("doc_id", "payload")).collect().head
    assert(stub.getInt(4) == 0, "stub marked by n_frames = 0")
  }
}
