package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.TextAnalysis
import graft.sources.{BinaryMedia, MediaRow}
import graft.streaming.Pipelines
import graft.ops.T

/** T1 specs for the non-graded library surface: text analysis functions,
  * binary/multimodal plumbing, and batch/stream-portable pipelines.
  */
class LibrarySpec extends SparkSpec {

  test("TextAnalysis: token counts, quality in [0,1], langid total on corpus") {
    val docs = T.t(spark, sf(), "documents")
    val out = docs.select(
      TextAnalysis.tokenCount(col("text")).as("tc"),
      TextAnalysis.subwordCount(col("text")).as("sc"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.languageId(col("text")).as("lid"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    val rows = out.collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      assert(r.getAs[Int]("tc") > 0)
      assert(r.getAs[Int]("sc") >= r.getAs[Int]("tc")) // subwords refine words
      val q = r.getAs[Double]("q")
      assert(q >= 0.0 && q <= 1.0)
      assert(r.getAs[String]("lid") != null)
    }
    // fingerprint is order-sensitive and content-determined
    import spark.implicits._
    val fp = Seq("a b c", "a b c", "c b a").toDF("text")
      .select(TextAnalysis.fingerprint(col("text"))).collect().map(_.getLong(0))
    assert(fp(0) === fp(1))
    assert(fp(0) !== fp(2))
  }

  test("TextAnalysis: maskPii scrubs emails, numbers, IPs; leaves clean text alone") {
    import spark.implicits._
    val rows = Seq(
      "contact me at jane.doe+spam@example.co.uk please",
      "call 555 123-4567 or 5551234567 now",
      "server at 192.168.0.1 responded",
      "mixed: bob@host.org from 10.0.0.255 card 4111 1111 1111 1111",
      "clean text with the number 42 and version 1.2",
      "list 1 2 3 4 and 1.2 3.4 stay — only 7+ DIGITS redact")
      .toDF("text").select(TextAnalysis.maskPii(col("text")).as("m"))
      .as[String].collect()
    assert(rows(0) === "contact me at <EMAIL> please")
    assert(rows(1) === "call <NUM> or <NUM> now")
    assert(rows(2) === "server at <IP> responded")
    assert(rows(3) === "mixed: <EMAIL> from <IP> card <NUM>")
    assert(rows(4) === "clean text with the number 42 and version 1.2")
    // 7-char-but-few-digit runs (dates-adjacent shapes) must NOT redact:
    // the pattern counts digits, not characters.
    assert(rows(5) === "list 1 2 3 4 and 1.2 3.4 stay — only 7+ DIGITS redact")
  }

  test("TextAnalysis: Gopher-style repetition filters") {
    import spark.implicits._
    val docs = Seq(
      ("prose", "the quick brown fox jumps over the lazy dog and runs away"),
      ("dupline", "home | products\nabout us\nhome | products\nhome | products"),
      ("spam", "buy now buy now buy now buy now buy now buy now"),
      ("short", "hi"),
      ("empty", "")
    ).toDF("id", "text")
    val out = docs.select(col("id"),
        graft.functions.TextAnalysis.duplicateLineFraction(col("text")).as("dlf"),
        graft.functions.TextAnalysis.topNgramFraction(col("text"), 2).as("tnf"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out("prose")._1 === 0.0)
    assert(out("dupline")._1 === 0.5) // 2 of 4 lines repeat an earlier one
    assert(out("prose")._2 < 0.25)
    // "buy now" appears 6 times as a bigram run covering all 12 tokens
    assert(out("spam")._2 === 1.0)
    assert(out("short")._2 === 0.0) // shorter than the n-gram: no grams
    assert(out("empty")._1 === 0.0 && out("empty")._2 === 0.0)
  }

  // --- media fixtures built in-memory (no files, no external codecs) ---

  private def pngBytes(w: Int, h: Int, fmt: String = "png")(rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  private def wavBytes(rate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  test("MediaCodec: PNG decodes to exact luminance pools, JPEG approximately") {
    import graft.sources.MediaCodec
    // left half black, right half white — pooled 4×4 grid splits 0 | 1
    val png = pngBytes(64, 64)((x, _) => if (x < 32) 0x000000 else 0xFFFFFF)
    assert(MediaCodec.sniff(png) === "png")
    val Some((w, h, lum)) = MediaCodec.imageLuminance(png)
    assert((w, h) === (64, 64))
    val pooled = MediaCodec.meanPool(w, h, lum, 4)
    for (r <- 0 until 4; c <- 0 until 4) {
      val expect = if (c < 2) 0.0f else 1.0f
      assert(math.abs(pooled(r * 4 + c) - expect) < 1e-3,
        s"cell ($r,$c) = ${pooled(r * 4 + c)}")
    }
    val jpg = pngBytes(64, 64, "jpg")((x, _) => if (x < 32) 0x000000 else 0xFFFFFF)
    assert(MediaCodec.sniff(jpg) === "jpeg")
    val Some((jw, jh, jlum)) = MediaCodec.imageLuminance(jpg)
    val jPooled = MediaCodec.meanPool(jw, jh, jlum, 4)
    for (r <- 0 until 4; c <- 0 until 4) {
      val expect = if (c < 2) 0.0f else 1.0f
      assert(math.abs(jPooled(r * 4 + c) - expect) < 0.1, // lossy codec
        s"jpeg cell ($r,$c) = ${jPooled(r * 4 + c)}")
    }
  }

  test("MediaCodec: WAV sine decodes to RMS ≈ amplitude/√2 per window") {
    import graft.sources.MediaCodec
    val rate = 8000
    val amp = 0.5
    val samples = Array.tabulate(rate)(i =>
      (amp * 32767 * math.sin(2 * math.Pi * 440 * i / rate)).toShort)
    val wav = wavBytes(rate, samples)
    assert(MediaCodec.sniff(wav) === "wav")
    val Some((gotRate, mono)) = MediaCodec.wavSamples(wav)
    assert(gotRate === rate)
    assert(mono.length === rate)
    val rms = MediaCodec.rmsWindows(mono, 4)
    rms.foreach(v => assert(math.abs(v - amp / math.sqrt(2)) < 0.01,
      s"window rms $v"))
  }

  test("BinaryMedia: extractFeatures dispatches on sniffed magic bytes") {
    import spark.implicits._
    val png = pngBytes(64, 64)((x, _) => if (x < 32) 0x000000 else 0xFFFFFF)
    val wav = wavBytes(8000, Array.tabulate(8000)(i =>
      (0.5 * 32767 * math.sin(2 * math.Pi * 440 * i / 8000)).toShort))
    val rows = Seq(
      MediaRow(1L, "blob", png, 64, 64, 0),
      MediaRow(2L, "blob", wav, 0, 0, 8000),
      MediaRow(3L, "blob", "just text".getBytes("UTF-8"), 0, 0, 0))
    val out = BinaryMedia.extractFeatures(spark.createDataset(rows), 16)
      .collect().map(m => m.media_id -> m).toMap
    assert(out(1L).kind === "png")
    assert(math.abs(out(1L).features(0)) < 1e-3)       // left column black
    assert(math.abs(out(1L).features(3) - 1.0) < 1e-3) // right column white
    assert(out(2L).kind === "wav")
    out(2L).features.foreach(v =>
      assert(math.abs(v - 0.5 / math.sqrt(2)) < 0.01))
    assert(out(3L).kind === "unknown") // text blob → hash fallback
    assert(out.values.forall(_.features.length === 16))
  }

  /** Animated GIF with `frames` solid-gray frames of increasing level. */
  private def gifBytes(w: Int, h: Int, frames: Int): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val out = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(out)
    writer.prepareWriteSequence(null)
    (0 until frames).foreach { i =>
      val level = (255.0 * i / math.max(1, frames - 1)).toInt
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (level << 16) | (level << 8) | level
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); out.close(); writer.dispose()
    bos.toByteArray
  }

  test("MediaCodec: real pixel resize preserves image structure") {
    import graft.sources.MediaCodec
    val png = pngBytes(64, 64)((x, _) => if (x < 32) 0x000000 else 0xFFFFFF)
    val Some(small) = MediaCodec.resizeImage(png, 8, 8)
    assert(MediaCodec.sniff(small) === "png")
    val Some((w, h, lum)) = MediaCodec.imageLuminance(small)
    assert((w, h) === (8, 8))
    for (y <- 0 until 8) {
      assert(lum(y * 8 + 0) < 0.2, s"left col row $y should stay dark")
      assert(lum(y * 8 + 7) > 0.8, s"right col row $y should stay light")
    }
    assert(MediaCodec.resizeImage("not an image".getBytes, 8, 8).isEmpty)
  }

  test("MediaCodec: animated GIF frame sampling decodes real frames") {
    import graft.sources.MediaCodec
    val gif = gifBytes(16, 16, 4) // levels 0, 85, 170, 255
    assert(MediaCodec.sniff(gif) === "gif")
    val Some(two) = MediaCodec.gifFrames(gif, 2) // picks frames 0 and 2
    assert(two.length === 2)
    val lums = two.map { png =>
      val Some((_, _, l)) = MediaCodec.imageLuminance(png)
      l.sum / l.length
    }
    assert(lums(0) < 0.05, s"frame 0 level ${lums(0)}")
    assert(math.abs(lums(1) - 170.0 / 255) < 0.05, s"frame 2 level ${lums(1)}")
    assert(MediaCodec.gifFrames(pngBytes(8, 8)((_, _) => 0), 2).isEmpty)
  }

  test("BinaryMedia: resize + frameSample operate on the binary column") {
    import spark.implicits._
    import graft.sources.{BinaryMedia, MediaCodec, MediaRow}
    val rows = Seq(
      MediaRow(1L, "img", pngBytes(64, 64)((x, _) => if (x < 32) 0 else 0xFFFFFF), 64, 64, 0),
      MediaRow(2L, "gif", gifBytes(16, 16, 4), 16, 16, 0),
      MediaRow(3L, "blob", "opaque payload bytes".getBytes, 0, 0, 0))
    val ds = spark.createDataset(rows)
    val resized = BinaryMedia.resize(ds, 8, 8).collect().sortBy(_.media_id)
    assert(resized(0).width === 8 && MediaCodec.sniff(resized(0).payload) === "png")
    assert(resized(1).width === 8) // gif decodes (first frame) and re-encodes
    assert(resized(2).payload.sameElements(rows(2).payload)) // pass-through
    val frames = BinaryMedia.frameSample(ds, 2).collect()
    val gifFrames = frames.filter(_.media_id == 2L)
    assert(gifFrames.length === 2 &&
      gifFrames.forall(f => MediaCodec.sniff(f.frame) === "png"))
    val blobFrames = frames.filter(_.media_id == 3L)
    assert(blobFrames.length === 2 &&
      blobFrames.map(_.frame.length).sum === rows(2).payload.length)
  }

  test("source-agnostic queries: CSV, JSON, and ORC scans agree with parquet (R1 breadth)") {
    val nation = T.t(spark, sf(), "nation")
    val dir = java.nio.file.Files.createTempDirectory("srcfmt").toString
    nation.write.mode("overwrite").option("header", "true").csv(s"$dir/nation_csv")
    nation.write.mode("overwrite").json(s"$dir/nation_json")
    nation.write.mode("overwrite").orc(s"$dir/nation_orc")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("n_regionkey").count().orderBy("n_regionkey")
        .collect().map(r => (r.get(0).toString.toLong, r.getLong(1))).toSeq
    val fromParquet = agg(nation)
    val fromCsv = agg(spark.read.option("header", "true")
      .schema(nation.schema).csv(s"$dir/nation_csv"))
    val fromJson = agg(spark.read.schema(nation.schema).json(s"$dir/nation_json"))
    val fromOrc = agg(spark.read.orc(s"$dir/nation_orc"))
    assert(fromCsv === fromParquet)
    assert(fromJson === fromParquet)
    assert(fromOrc === fromParquet)
  }

  test("VolumeIO: slab frame round-trips through a PNG slice stack (R1/R2)") {
    import graft.sources.VolumeIO
    import graft.operators.Volume
    val dir = java.nio.file.Files.createTempDirectory("graft_stack").toString
    // 3 slices of 4×5, value = (z*20 + y*5 + x) / 64 ∈ [0, 1)
    val vol = Volume.fromArray(spark, "s",
      Array.tabulate(3, 4, 5)((z, y, x) => (z * 20 + y * 5 + x) / 64.0f))
    VolumeIO.writeStack(vol, dir)
    assert(new java.io.File(dir).list().sorted.toSeq ===
      Seq("slice_00000.png", "slice_00001.png", "slice_00002.png"))
    val back = VolumeIO.readStack(spark, dir, "s")
    assert(back.count() === 12) // 3z × 4y lines
    val diff = back.withColumnRenamed("xs", "r_xs")
      .join(vol, Seq("dataset_id", "z", "y"))
      .select(explode(zip_with(col("r_xs"), col("xs"),
        (a, b) => abs(a - b).cast("double"))).as("d"))
      .agg(max("d")).head().getDouble(0)
    assert(diff < 1.5 / 255, s"8-bit round-trip max err $diff") // quantization
  }

  test("DocumentIO: JSONL round trip is lossless; corrupt lines FAIL, not null") {
    import graft.sources.DocumentIO
    val docs = T.t(spark, sf(), "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_spec").toString
    DocumentIO.writeJsonl(docs, s"$dir/ok")
    val back = DocumentIO.readJsonl(spark, s"$dir/ok", DocumentIO.documentsSchema)
    assert(back.orderBy("doc_id").collect().toSeq ===
      docs.orderBy("doc_id").collect().toSeq) // byte-lossless, escaping included
    // a truncated shard must ERROR loudly (FAILFAST) — the PERMISSIVE
    // default would pass nulled rows into dedup as empty documents
    val bad = new java.io.File(s"$dir/bad"); bad.mkdirs()
    val w = new java.io.PrintWriter(s"$dir/bad/part-00000.json")
    w.println("""{"doc_id": 1, "text": "fine", "lang": "en", "source": "s", "n_chars": 4}""")
    w.println("""{"doc_id": 2, "text": "trunca""") // torn mid-record
    w.close()
    val e = intercept[org.apache.spark.SparkException] {
      DocumentIO.readJsonl(spark, s"$dir/bad", DocumentIO.documentsSchema).count()
    }
    assert(e.getMessage.toLowerCase.contains("malformed") ||
      Option(e.getCause).exists(_.getMessage.toLowerCase.contains("malformed")))
  }

  test("BinaryMedia: fallback decode is deterministic, frames partition payload") {
    val media = BinaryMedia.fromDocuments(spark, sf())
    val f1 = BinaryMedia.extractFeatures(media, 16).collect()
      .map(m => m.media_id -> m.features.toSeq).toMap
    val f2 = BinaryMedia.extractFeatures(media, 16).collect()
      .map(m => m.media_id -> m.features.toSeq).toMap
    assert(f1 === f2) // determinism across runs
    assert(f1.values.forall(_.length === 16))
    val frames = BinaryMedia.frameSample(media, 4)
    import spark.implicits._
    val sizes = frames.groupByKey(_.media_id)
      .mapGroups((id, it) => id -> it.map(_.frame.length).sum).collect().toMap
    val orig = media.collect().map(r => r.media_id -> r.payload.length).toMap
    assert(sizes === orig) // frames exactly partition the payload bytes
    val scaled = BinaryMedia.withScaledMeta(media, 0.5).head()
    assert(scaled.width === 32 && scaled.height === 32)
  }

  test("BinaryMedia: hashFeatureCols == the mapPartitions fallback, value for value") {
    import spark.implicits._
    val docs = Seq((1L, "hello world"), (2L, "a"), (3L, "")).toDF("doc_id", "text")
    val colSide = docs.select(col("doc_id") +: graft.sources.BinaryMedia
        .hashFeatureCols(col("text").cast("binary"), 8)
        .zipWithIndex.map { case (c, i) => c.as(s"f$i") }: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to 8).map(i => r.getDouble(i))).toMap
    val scalaSide = docs.collect().map { r =>
      r.getLong(0) -> graft.sources.MediaCodec
        .hashFeatures(r.getString(1).getBytes("UTF-8"), 8).toSeq
    }.toMap
    assert(colSide.keySet === scalaSide.keySet)
    for (id <- colSide.keySet; (c, s) <- colSide(id).zip(scalaSide(id)))
      assert(math.abs(c - s) < 1e-6, s"doc $id: column $c vs scala $s")
    // features are in [0,1) and content-sensitive
    assert(colSide.values.flatten.forall(v => v >= 0.0 && v < 1.0))
    assert(colSide(1L) !== colSide(2L))
  }

  test("Pipelines: MemoryStream tumbling agg equals batch on same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:10:00"), 1.0),
      (1L, Timestamp.valueOf("2024-01-01 00:50:00"), 2.0),
      (1L, Timestamp.valueOf("2024-01-01 01:10:00"), 4.0),
      (2L, Timestamp.valueOf("2024-01-01 00:20:00"), 8.0))
    val mem = MemoryStream[(Long, Timestamp, Double)]
    mem.addData(rows: _*)
    val streamDf = mem.toDF.toDF("user_id", "ts", "value")
    val q = Pipelines.tumblingAgg(streamDf, "1 hour")
      .writeStream.format("memory").queryName("lib_tumble_sink")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val stream = spark.table("lib_tumble_sink").collect().map(_.toSeq).toSet
    val batch = Pipelines.tumblingAgg(
      rows.toDF("user_id", "ts", "value"), "1 hour").collect().map(_.toSeq).toSet
    assert(stream === batch)
    assert(batch.size === 3) // (u1,h0),(u1,h1),(u2,h0)
  }

  test("Pipelines: streaming sessionAgg equals batch (gap merge across batches)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (1L, Timestamp.valueOf("2024-01-01 00:20:00"), 1.0), // merges (gap 30m)
      (1L, Timestamp.valueOf("2024-01-01 01:30:00"), 1.0), // new session
      (2L, Timestamp.valueOf("2024-01-01 00:05:00"), 1.0))
    val mem = MemoryStream[(Long, Timestamp, Double)]
    mem.addData(rows: _*)
    val q = Pipelines.sessionAgg(
        mem.toDF.toDF("user_id", "ts", "value"), "30 minutes")
      .writeStream.format("memory").queryName("lib_sess_sink")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val stream = spark.table("lib_sess_sink").collect().map(_.toSeq).toSet
    val batch = Pipelines.sessionAgg(
        rows.toDF("user_id", "ts", "value"), "30 minutes")
      .collect().map(_.toSeq).toSet
    assert(stream === batch)
    assert(batch.size === 3) // u1 two sessions, u2 one
  }

  test("Pipelines: attribution stream-stream join == batch join on same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:10:00"), "view"),
      (1L, Timestamp.valueOf("2024-01-01 00:50:00"), "view"),
      (1L, Timestamp.valueOf("2024-01-01 02:30:00"), "view"), // after purchase
      (2L, Timestamp.valueOf("2024-01-01 00:20:00"), "view")) // other user
    val purchases = Seq(
      (1L, Timestamp.valueOf("2024-01-01 01:00:00"), "purchase"),
      (2L, Timestamp.valueOf("2024-01-01 03:00:00"), "purchase")) // views too old
    val memL = MemoryStream[(Long, Timestamp, String)]
    val memR = MemoryStream[(Long, Timestamp, String)]
    memL.addData(purchases: _*)
    memR.addData(views: _*)
    val q = Pipelines.attributionJoin(
        memL.toDF.toDF("user_id", "ts", "event_type"),
        memR.toDF.toDF("user_id", "ts", "event_type"))
      .writeStream.format("memory").queryName("lib_attr_sink")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val stream = spark.table("lib_attr_sink").collect().map(_.toSeq).toSet
    val batch = Pipelines.attributionJoin(
        purchases.toDF("user_id", "ts", "event_type"),
        views.toDF("user_id", "ts", "event_type"))
      .collect().map(_.toSeq).toSet
    assert(stream === batch)
    // user 1's purchase at 01:00 attributes to the two views inside
    // [00:00, 01:00); user 2's 03:00 purchase has no view in [02:00, 03:00).
    assert(batch.map(s => (s(0), s(2))) === Set(
      (1L, Timestamp.valueOf("2024-01-01 00:10:00")),
      (1L, Timestamp.valueOf("2024-01-01 00:50:00"))))
  }

  test("BpeEncode: greedy longest-match segmentation with OOV char fallback") {
    import spark.implicits._
    graft.ops.Custom.register(spark)
    val vocab = Seq("low", "lower", "er", "ne", "new", "est", "wid", "th")
    def seg(text: String): Seq[String] =
      Seq(text).toDF("text")
        .select(TextAnalysis.subwordTokens(col("text"), vocab).as("toks"))
        .head().getSeq[String](0)
    // "lowest": "lower" fails at char 5 ('s'), so the longest match is
    // "low"; remainder "est" is a vocab entry. Hand-checked WordPiece walk.
    assert(seg("lowest") === Seq("low", "est"))
    // longest beats first: "new" (3) wins over prefix "ne" (2)
    assert(seg("newer") === Seq("new", "er"))
    // OOV tail falls back to single characters
    assert(seg("widths") === Seq("wid", "th", "s"))
    // fully OOV word = one token per char; multiple words concatenate
    assert(seg("xyz lowest") === Seq("x", "y", "z", "low", "est"))
    // count form matches, and null propagates
    val cnt = Seq(("lowest newer widths", 1)).toDF("text", "i")
      .select(TextAnalysis.subwordCountVocab(col("text"), vocab)).head().getInt(0)
    assert(cnt === 7)
    val nullRow = Seq((null.asInstanceOf[String], 1)).toDF("text", "i")
      .select(TextAnalysis.subwordTokens(col("text"), vocab)).head()
    assert(nullRow.isNullAt(0))
  }

  test("trainVocab: corpus-learned vocabulary drives BpeEncode segmentation") {
    import spark.implicits._
    graft.ops.Custom.register(spark)
    // A corpus where "lower" and "newer" dominate: weight × length scoring
    // must surface the whole words (and their shared "er" tail) over the
    // individual characters that raw frequency would rank first.
    val docs = Seq.fill(20)("lower newer lower newer")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val vocab = TextAnalysis.trainVocab(docs, "text", vocabSize = 12)
    // charset coverage is unconditional: every seen char is an entry
    assert(Set("l", "o", "w", "e", "r", "n").subsetOf(vocab.toSet))
    // the frequent whole words made the budgeted multi-char slots
    assert(vocab.contains("lower") && vocab.contains("newer"))
    // determinism: same corpus, same vocab, same order
    assert(vocab === TextAnalysis.trainVocab(docs, "text", vocabSize = 12))
    def seg(text: String): Seq[String] =
      Seq(text).toDF("text")
        .select(TextAnalysis.subwordTokens(col("text"), vocab).as("toks"))
        .head().getSeq[String](0)
    // hand-checked round trips: trained whole word is one token; an
    // unseen inflection reuses learned pieces; an OOV char (never in
    // training) falls back to a single-char token — and every
    // segmentation re-concatenates to its input word
    assert(seg("lower") === Seq("lower"))
    assert(seg("lower©") === Seq("lower", "©"))
    for (w <- Seq("lower", "newer", "lowest", "renew", "lower©"))
      assert(seg(w).mkString("") === w)
    // the learned vocab feeds the count form as a literal narrow map
    val cnt = docs.limit(1)
      .select(TextAnalysis.subwordCountVocab(col("text"), vocab))
      .head().getInt(0)
    assert(cnt === 4) // four whole-word tokens
  }

  test("trainBpeMerges: merges anchor at symbol boundaries (suffix-colliding corpus)") {
    import spark.implicits._
    // ab×3, bc×2, abc×1. Round 1 fuses (a,b) cnt 4 → "abc" becomes
    // [ab, c]. Round 2 fuses (b,c) cnt 2 — whose pattern under a
    // single-separator encoding is a SUFFIX of [ab, c]'s representation
    // ("b␟c" matches inside "ab␟c"), which would fuse [ab, c] → [abc]:
    // a merge BPE never chose. The sentinel-padded double-separator
    // representation only matches true symbol boundaries, so [ab, c]
    // survives round 2 and round 3 finds the genuine (ab, c) pair.
    val docs = Seq((1L, "ab ab ab bc bc abc")).toDF("doc_id", "text")
    val m = TextAnalysis.trainBpeMerges(docs, "text", numMerges = 3)
    assert(m.map(r => (r.step, r.lhs, r.rhs, r.cnt)) === Seq(
      (1, "a", "b", 4L), (2, "b", "c", 2L), (3, "ab", "c", 1L)))
    // inference replays the same rule: "abc" under the first two merges
    // must stay [ab, c] — the (b, c) rule may not fire mid-symbol
    val toks = Seq("abc").toDF("text")
      .select(TextAnalysis.bpeTokensByMerges(col("text"), m.take(2)).as("t"))
      .head().getSeq[String](0)
    assert(toks === Seq("ab", "c"))
    // adjacent occurrences still all fuse (each carries its own
    // boundary markers): "abab" under rule (a,b) → [ab, ab]
    val mm = TextAnalysis.trainBpeMerges(
      Seq((1L, "ab ab")).toDF("doc_id", "text"), "text", numMerges = 1)
    val t2 = Seq("abab").toDF("text")
      .select(TextAnalysis.bpeTokensByMerges(col("text"), mm).as("t"))
      .head().getSeq[String](0)
    assert(t2 === Seq("ab", "ab"))
  }

  test("grayPng → imageLuminance → meanPool recovers integer pixel sums exactly") {
    import graft.sources.MediaCodec
    // the x_media_decode device: real PNG encode + real decode, graded
    // as integers — every sample and every 2×2 cell sum must be exact
    val f = (x: Int, y: Int) => (x * 7 + y * 8 + 3) % 256
    val png = MediaCodec.grayPng(8, 8, f)
    val (w, h, lum) = MediaCodec.imageLuminance(png).get
    assert((w, h) === ((8, 8)))
    for (y <- 0 until 8; x <- 0 until 8)
      assert(math.round(lum(y * 8 + x) * 255f) === f(x, y))
    val pooled = MediaCodec.meanPool(8, 8, lum, 4)
    val sums = pooled.map(m => math.round(m.toDouble * 4 * 255)).toSeq
    val expect = for (r <- 0 until 4; c <- 0 until 4) yield
      (for (dy <- 0 to 1; dx <- 0 to 1)
        yield f(c * 2 + dx, r * 2 + dy)).sum.toLong
    assert(sums === expect)
  }

  test("trainBpeMerges: hand-computed merge sequence on the classic low/lower/lowest corpus") {
    import spark.implicits._
    // Word frequencies: low×3, lower×1, lowest×1. BPE by hand:
    //   round 1: (l,o)=5 ties (o,w)=5 → lexicographic lhs: (l,o) → "lo"
    //   round 2: (lo,w)=5 → "low"
    //   round 3: (low,e)=2 → "lowe"
    //   round 4: (lowe,r)=1 ties (lowe,s)=1 and (s,t)=1 → lhs "lowe" < "s",
    //            rhs "r" < "s" → (lowe,r) → "lower"
    val docs = Seq((1L, "low low lower low lowest")).toDF("doc_id", "text")
    val m = TextAnalysis.trainBpeMerges(docs, "text", numMerges = 4)
    assert(m.map(r => (r.step, r.lhs, r.rhs, r.cnt)) === Seq(
      (1, "l", "o", 5L), (2, "lo", "w", 5L),
      (3, "low", "e", 2L), (4, "lowe", "r", 1L)))
    // determinism: retraining reproduces the same merge table
    assert(m === TextAnalysis.trainBpeMerges(docs, "text", numMerges = 4))
    // every merge fuses symbols available at its step: a char or an
    // earlier merge's product
    val avail = scala.collection.mutable.Set[String]()
    "lowerst".foreach(c => avail += c.toString)
    m.foreach { r =>
      assert(avail(r.lhs) && avail(r.rhs), s"step ${r.step} uses unseen symbol")
      avail += r.lhs + r.rhs
    }
    // max pair count never increases round over round (a merged symbol
    // occurs at most as often as the pair it replaced)
    assert(m.map(_.cnt) === m.map(_.cnt).sorted.reverse)
    // early stop: the corpus runs out of pairs before 100 merges — no
    // crash, no padding rows, all counts positive
    val all = TextAnalysis.trainBpeMerges(docs, "text", numMerges = 100)
    assert(all.size < 100 && all.forall(_.cnt > 0))
    // encode by applying merges in training order: whole trained words
    // fuse; round-trip always re-concatenates to the input
    def enc(text: String): Seq[String] =
      Seq(text).toDF("text")
        .select(TextAnalysis.bpeTokensByMerges(col("text"), m).as("toks"))
        .head().getSeq[String](0)
    assert(enc("lower") === Seq("lower"))
    assert(enc("low") === Seq("low"))
    assert(enc("lowest") === Seq("lowe", "s", "t"))
    for (w <- Seq("lower", "lowest", "slow", "owl"))
      assert(enc(w).mkString("") === w)
    // compression: applying all learned merges to the training corpus
    // yields no more symbols than the substring-seeded greedy encoder
    // with the same budget — the merge loop optimizes exactly this
    graft.ops.Custom.register(spark)
    val vocab = TextAnalysis.trainVocab(docs, "text", vocabSize = all.size)
    val corpus = Seq.fill(1)("low low lower low lowest").toDF("text")
    val nMerge = corpus.select(sum(size(
      TextAnalysis.bpeTokensByMerges(col("text"), all))).as("n")).head().getLong(0)
    val nSeed = corpus.select(sum(size(
      TextAnalysis.subwordTokens(col("text"), vocab))).as("n")).head().getLong(0)
    assert(nMerge <= nSeed, s"merge-trained $nMerge > seeded $nSeed")
    // the merge table also feeds the NATIVE greedy encoder: every merge
    // product is vocab, trained words encode as single tokens, and
    // everything round-trips
    val mv = TextAnalysis.vocabFromMerges(all)
    assert(Set("low", "lower", "lowest").subsetOf(mv.toSet))
    def seg(text: String): Seq[String] =
      Seq(text).toDF("text")
        .select(TextAnalysis.subwordTokens(col("text"), mv).as("toks"))
        .head().getSeq[String](0)
    assert(seg("lowest") === Seq("lowest"))
    for (w <- Seq("low", "lower", "slowest", "owl"))
      assert(seg(w).mkString("") === w)
  }

  test("languageIdScript: CJK decided by character blocks, latin falls back to stopwords") {
    import spark.implicits._
    val rows = Seq(
      (1L, "这是一个用来测试语言识别的中文句子没有空格也能识别"), // Han, no spaces
      (2L, "これは日本語のテストです漢字も含みますが仮名で判定します"), // kana + Han ⇒ ja
      (3L, "이것은 한국어 테스트 문장입니다 한글로 작성되었습니다"), // hangul
      (4L, "the cat and the dog sat in the sun for a good day"), // stopword path
      (5L, "qqq zzz xxx")) // no signal anywhere ⇒ und
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.languageIdScript(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "zh", 2L -> "ja", 3L -> "ko", 4L -> "en", 5L -> "und"))
    // scriptRatio is a [0,1] character fraction
    val ratio = Seq("半分 half half").toDF("text")
      .select(TextAnalysis.scriptRatio(col("text"), "Han")).head().getDouble(0)
    assert(ratio > 0.0 && ratio < 0.5)
  }

  test("UnicodeNormalize: NFC converges mixed encodings; NFKC folds widths") {
    import spark.implicits._
    graft.ops.Custom.register(spark)
    val nfc = "café résumé" // precomposed é
    val nfd = java.text.Normalizer.normalize(nfc, java.text.Normalizer.Form.NFD)
    assert(nfc !== nfd) // different byte strings going in...
    val out = Seq(nfc, nfd).toDF("text")
      .select(md5(TextAnalysis.normalizeNfc(col("text"))).as("h"),
        md5(col("text")).as("h_raw"))
      .collect()
    assert(out(0).getString(0) === out(1).getString(0)) // ...same hash out
    assert(out(0).getString(1) !== out(1).getString(1)) // raw hashes differ
    // NFKC folds fullwidth compatibility forms; NFC must NOT
    val wide = "ＡＢＣ １２３" // ＡＢＣ １２３
    val folded = Seq(wide).toDF("text")
      .select(TextAnalysis.normalizeNfkc(col("text")),
        TextAnalysis.normalizeNfc(col("text"))).head()
    assert(folded.getString(0) === "ABC 123")
    assert(folded.getString(1) === wide)
    // punctuation-aware Unicode tokens: case-folded, width-folded, split
    // on any non-letter/digit run, no empty tokens
    val toks = Seq("Hello, WORLD—Ｔｅｓｔ! café")
      .toDF("text").select(TextAnalysis.tokensUnicode(col("text"))).head().getSeq[String](0)
    assert(toks === Seq("hello", "world", "test", "café"))
  }

  test("NFKC reference vectors: standard-pinned compatibility folds, NFC-invariant") {
    // NFKC cannot be oracle-graded — DuckDB 1.0.0 exposes only
    // nfc_normalize, no compatibility normalize (probed; SURVEY §2b notes
    // it against the x_text_nfc row) — so the bridge is this
    // IMPLEMENTATION-INDEPENDENT vector suite: expected strings are
    // literals transcribed from the Unicode standard's compatibility
    // decompositions (UAX #15 / UnicodeData K-mappings), not computed by
    // the library under test.
    import spark.implicits._
    graft.ops.Custom.register(spark)
    val vectors = Seq(
      "ＡＢＣ１２３" -> "ABC123", // fullwidth letters/digits
      "ﬁﬂ" -> "fifl",             // latin ligatures U+FB01/FB02
      "x²y³" -> "x2y3",           // superscripts
      "½" -> "1⁄2",          // vulgar one-half → 1 + FRACTION SLASH + 2
      "㎞㎏" -> "kmkg",           // squared SI units U+339E/338F
      "Ⅸ" -> "IX",               // roman numeral U+2168
      "ｶﾞ" -> "ガ",              // halfwidth katakana + voiced mark → U+30AC
      "™" -> "TM",               // trademark sign
      "①" -> "1")                // circled digit one
    val df = vectors.toDF("text", "expected")
      .select(col("text"), col("expected"),
        TextAnalysis.normalizeNfkc(col("text")).as("nfkc"),
        TextAnalysis.normalizeNfc(col("text")).as("nfc"),
        TextAnalysis.normalizeNfkc(TextAnalysis.normalizeNfkc(col("text"))).as("nfkc2"))
      .collect()
    df.foreach { r =>
      assert(r.getString(2) === r.getString(1),
        s"NFKC of '${r.getString(0)}'")
      // every vector is ALREADY canonically composed: NFC must not touch
      // it (the compatibility fold is NFKC-only behavior)
      assert(r.getString(3) === r.getString(0),
        s"NFC altered '${r.getString(0)}'")
      assert(r.getString(4) === r.getString(2), "NFKC not idempotent")
    }
  }

  test("Pipelines: streaming dedupWithinWatermark keeps one row per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    mem.addData(
      (1L, Timestamp.valueOf("2024-01-01 00:00:01"), "click"),
      (1L, Timestamp.valueOf("2024-01-01 00:00:02"), "click"), // dup key
      (1L, Timestamp.valueOf("2024-01-01 00:00:03"), "view"))
    val streamDf = mem.toDF.toDF("user_id", "ts", "event_type")
    val q = Pipelines.dedupKeyed(streamDf, Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("lib_dedup_sink")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("lib_dedup_sink")
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSet === Set((1L, "click"), (1L, "view")))
    assert(got.length === 2)
  }

  test("UrlOps.canonicalUrl: hand-checked rule matrix") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cases = Seq(
      // scheme/host case + www + fragment
      "HTTP://WWW.Example.COM/Path#frag" -> "http://example.com/Path",
      // default ports drop, non-default kept
      "http://example.com:80/a" -> "http://example.com/a",
      "https://example.com:443/a" -> "https://example.com/a",
      "https://example.com:8443/a" -> "https://example.com:8443/a",
      // http default port does NOT drop under https and vice versa
      "https://example.com:80/a" -> "https://example.com:80/a",
      // root and empty paths; trailing-slash runs
      "http://example.com" -> "http://example.com/",
      "http://example.com///" -> "http://example.com/",
      "http://example.com/a/b//" -> "http://example.com/a/b",
      // missing scheme assumes http
      "example.com/x" -> "http://example.com/x",
      // tracking filtered, survivors sorted, empty query drops '?'
      "http://example.com/p?utm_source=a&z=1&a=2" -> "http://example.com/p?a=2&z=1",
      "http://example.com/p?utm_campaign=x&gclid=1" -> "http://example.com/p",
      // path case preserved, host case folded
      "http://ExAmple.com/CaSe" -> "http://example.com/CaSe")
    val got = cases.map(_._1).toDF("u")
      .select(graft.functions.UrlOps.canonicalUrl(col("u"))).as[String].collect()
    for (((in, want), g) <- cases.zip(got))
      assert(g === want, s"canonicalUrl($in)")
    val hosts = Seq("HTTP://WWW.Example.COM:8080/p", "sub.www.site.org/q")
      .toDF("u").select(graft.functions.UrlOps.urlHost(col("u"))).as[String].collect()
    assert(hosts.toSeq === Seq("example.com", "sub.www.site.org"))
  }

  test("driver-side schema memos are size-capped (r18 advice: a " +
      "long-lived service over endless scratch paths must not pin them)") {
    import org.apache.spark.sql.types.StructType
    // T.t's fixture-path memo: flood past the cap, then a real lookup
    // must still work and the map must have shed the synthetic entries.
    graft.ops.T.schemaMemo.clear()
    (1 to 256).foreach(i =>
      graft.ops.T.schemaMemo.put(s"/nowhere/tbl_$i.parquet", StructType(Nil)))
    val df = graft.ops.T.t(spark, sf(), "documents")
    assert(df.columns.contains("doc_id"))
    assert(graft.ops.T.schemaMemo.size <= 256)
    // at the cap a new key evicts ONE entry, not the whole memo
    assert(graft.ops.T.schemaMemo.keys.count(_.startsWith("/nowhere/")) >= 255,
      "the cap must evict one entry, keeping the rest")
    // Snapshot's per-generation memo: same cap, exercised through a real
    // publish + read so the post-clear lookup path is the production one.
    val dir = java.nio.file.Files.createTempDirectory("memocap").toString
    val docs = graft.ops.T.t(spark, sf(), "documents").limit(20)
    graft.sources.Snapshot.publish(spark, dir, docs, "lang", "text")
    graft.sources.Snapshot.fileSchemaMemo.clear()
    (1 to 256).foreach(i =>
      graft.sources.Snapshot.fileSchemaMemo.put(s"/nowhere/v$i/", StructType(Nil)))
    assert(graft.sources.Snapshot.read(spark, dir).count() === 20L)
    assert(graft.sources.Snapshot.fileSchemaMemo.size <= 256)
    assert(graft.sources.Snapshot.fileSchemaMemo.keys
      .count(_.startsWith("/nowhere/")) >= 255,
      "the cap must evict one entry, keeping the rest")
  }
}
