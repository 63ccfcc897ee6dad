package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{SimHash, TextAnalysis}
import graft.operators.Volume

/** T3 scalacheck-generated invariants. Inputs come from seeded Gen (fully
  * deterministic); each property evaluates over ONE generated DataFrame in
  * one Spark job, asserting the invariant row-wise — not one job per
  * sample, which would be prohibitively slow.
  */
class GeneratedPropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val word: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val doc: Gen[String] =
    Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))

  test("property: frequent-items sketch brackets true counts on random streams, any split") {
    // The run-independent contract of functions/Freq under purging: for
    // a random skewed stream split arbitrarily across groups, the
    // merged sketch's [lb, ub] must bracket every emitted item's TRUE
    // count, and no item whose count exceeds the error bound may be
    // missing (Misra–Gries guarantee survives the merge).
    graft.functions.Freq.register(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    for (split <- Seq(1, 5, 13)) {
      val stream = Seq.fill(2000)(
        math.min(20L, (1.0 / (rnd.nextDouble() + 0.01)).toLong)) ++
        Seq.fill(500)(100L + rnd.nextInt(400))
      val truth = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val rows = stream.zipWithIndex.map { case (v, i) => (i % split, v) }
        .toDF("g", "v").groupBy("g")
        .agg(expr("graft_freq_agg(v, 32)").as("sk"))
        .agg(expr("graft_freq_merge(sk, 32)").as("sk"))
        .select(expr("graft_freq_maxerr(sk)").as("err"),
          explode(expr("graft_freq_items(sk)")).as("r"))
        .select(col("err"), col("r.item"), col("r.lb"), col("r.ub"))
        .collect()
      val err = rows.head.getLong(0)
      assert(err > 0, "stream must force purges at map size 32")
      rows.foreach { r =>
        val c = truth(r.getLong(1))
        assert(r.getLong(2) <= c && c <= r.getLong(3),
          s"split $split item ${r.getLong(1)}: true $c outside [${r.getLong(2)}, ${r.getLong(3)}]")
      }
      val emitted = rows.map(_.getLong(1)).toSet
      truth.filter(_._2 > err).keys.foreach(k =>
        assert(emitted.contains(k), s"split $split: heavy hitter $k missing"))
    }
  }

  test("property: trainVocab covers the charset and its vocab round-trips every corpus word") {
    import spark.implicits._
    graft.ops.Custom.register(spark)
    val docs = sample(Gen.listOfN(40, doc), 31L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    val vocab = TextAnalysis.trainVocab(df, "text", vocabSize = 30)
    // charset coverage: every character of every word is a vocab entry,
    // so no corpus word can ever hit the OOV fallback
    val chars = docs.flatMap(_._2.split("\\s+")).flatMap(_.toSeq).toSet
    assert(chars.map(_.toString).subsetOf(vocab.toSet))
    // deterministic across retrains
    assert(vocab === TextAnalysis.trainVocab(df, "text", vocabSize = 30))
    // encoding with the learned vocab re-concatenates every word exactly,
    // and every emitted token is itself a vocab entry (full coverage)
    val vs = vocab.toSet
    val got = df.select(col("text"),
        TextAnalysis.subwordTokens(col("text"), vocab).as("toks"))
      .collect()
    got.foreach { r =>
      val (text, toks) = (r.getString(0), r.getSeq[String](1))
      assert(toks.mkString === text.split("\\s+").mkString)
      assert(toks.forall(vs.contains))
    }
  }

  test("property: windowHashes matches a from-scratch polynomial model on random docs") {
    import spark.implicits._
    val docs = sample(Gen.listOfN(60, doc), 47L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val k = 5
    val P = TextAnalysis.fingerprintMod
    val w = TextAnalysis.windowHashWeights(k)
    // independent reference written from the SPEC: per-token md5-prefix
    // hash mod P, window i = Σⱼ h(i+j)·w(j) mod P
    def tokHash(t: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % P
    }
    def ref(text: String): Seq[Long] = {
      val hs = text.split(" ", -1).map(tokHash)
      (0 to hs.length - k).map { i =>
        (0 until k).map(j => (hs(i + j) * w(j)) % P).sum % P
      }
    }
    val got = docs.toDF("doc_id", "text")
      .select(col("text"), TextAnalysis.windowHashes(
        TextAnalysis.tokenHashesMd5(col("text")), k).as("whs"))
      .collect()
    var windows = 0
    got.foreach { r =>
      val expect = ref(r.getString(0))
      assert(r.getSeq[Long](1) === expect)
      // all values stay inside [0, P): the int64-exactness contract
      assert(expect.forall(v => v >= 0 && v < P))
      windows += expect.size
    }
    assert(windows > 100) // the generator actually produced windows
  }

  test("property: removeSpans conserves tokens (kept + cut = input) and never invents text") {
    import spark.implicits._
    // duplicate-heavy corpus: half the docs share one of three templates
    val tmpl = sample(Gen.listOfN(3, doc.suchThat(_.split(" ").length >= 6)), 53L)
    val own = sample(Gen.listOfN(30, doc), 54L)
    val docs = own.zipWithIndex.map { case (t, i) =>
      val text = if (i % 2 == 0) tmpl(i % 3) + " " + t else t
      (i.toLong, text)
    }
    val df = docs.toDF("doc_id", "text")
    val out = graft.operators.Dedup.removeSpans(df, k = 4)
      .as[(Long, String)].collect().toMap
    val in = docs.toMap
    assert(out.keySet === in.keySet)
    docs.foreach { case (id, text) =>
      val inToks = text.split(" ").toSeq
      val outToks = if (out(id).isEmpty) Seq.empty else out(id).split(" ").toSeq
      // kept tokens are a subsequence of the input — order preserved,
      // nothing invented
      var i = 0
      outToks.foreach { t =>
        val j = inToks.indexOf(t, i)
        assert(j >= 0, s"doc $id: token '$t' not in remaining input order")
        i = j + 1
      }
    }
    // at least one doc was actually cut (templates repeat) and the
    // canonical copy of each template survived somewhere
    assert(docs.exists { case (id, text) => out(id) != text })
  }

  test("property: removeSpans equals a from-scratch cut model (k 2/3/8, minDocs 2/3)") {
    import spark.implicits._
    // Texts are segments of: a five-token alphabet with "" (short repeats
    // everywhere, overlapping hit windows for k = 2 and 3, runs of
    // spaces), slices of three 14-word templates (shared and overlapping
    // runs long enough for k = 8, sometimes twice in one doc), and fresh
    // words. Plus null, empty and shorter-than-k texts; ids are permuted
    // so the canonical (min id) doc is not the first generated.
    val tiny = Gen.oneOf("a", "b", "c", "", "dd")
    val tmpl = sample(Gen.listOfN(3, Gen.listOfN(14, word)), 61L)
    val slice: Gen[Seq[String]] = for {
      t <- Gen.oneOf(tmpl)
      from <- Gen.choose(0, 6)
      len <- Gen.choose(4, 14 - from)
    } yield t.slice(from, from + len)
    val segment: Gen[Seq[String]] = Gen.frequency(
      3 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, tiny)),
      3 -> slice,
      2 -> Gen.choose(1, 5).flatMap(Gen.listOfN(_, word)))
    val text: Gen[Option[String]] = Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.const(Some("")),
      1 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, word)).map(w => Some(w.mkString(" "))),
      10 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, segment))
        .map(s => Some(s.flatten.mkString(" "))))
    val n = 80
    val docs = sample(Gen.listOfN(n, text), 62L).zipWithIndex
      .map { case (t, i) => ((i * 37 % n).toLong, t.orNull) }
    assert(docs.exists(_._2 == null) && docs.exists(_._2 == ""))
    val df = docs.toDF("doc_id", "text")
    // the model, from the spec: a k-token window repeated in >= minDocs
    // distinct docs keeps its min-id doc; every other doc loses tokens
    // [pos, pos + k) of each occurrence; kept tokens rejoin with ' '
    def model(k: Int, minDocs: Int): Seq[(Long, String)] = {
      val toks = docs.map { case (id, t) => id -> Option(t).map(_.split(" ", -1).toSeq) }
      val wins = for {
        (id, Some(ts)) <- toks
        i <- 0 to ts.length - k
      } yield (ts.slice(i, i + k), id, i)
      val canon = wins.groupBy(_._1).collect {
        case (w, occ) if occ.map(_._2).distinct.size >= minDocs => w -> occ.map(_._2).min
      }
      val cuts = wins.collect { case (w, id, i) if canon.get(w).exists(_ != id) => id -> i }
        .groupMap(_._1)(_._2)
      toks.map { case (id, ot) =>
        id -> ot.fold("") { ts =>
          val cs = cuts.getOrElse(id, Nil)
          ts.indices.filterNot(j => cs.exists(s => s <= j && j < s + k)).map(ts).mkString(" ")
        }
      }.sortBy(_._1)
    }
    for (k <- Seq(2, 3, 8); minDocs <- Seq(2, 3)) {
      val want = model(k, minDocs)
      val got = graft.operators.Dedup.removeSpans(df, k = k, minDocs = minDocs)
        .as[(Long, String)].collect().toSeq
      assert(got.map(_._1) === want.map(_._1), s"k=$k minDocs=$minDocs: ids or order")
      val diff = got.zip(want).filter { case (g, w) => g != w }
      assert(diff.isEmpty, s"k=$k minDocs=$minDocs: ${diff.size} docs differ, " +
        diff.take(3).map { case (g, w) => s"got $g want $w" }.mkString("; "))
      assert(want.exists { case (id, t) => t != Option(docs.toMap.apply(id)).getOrElse("") },
        s"k=$k minDocs=$minDocs: the corpus cut nothing")
    }
  }

  test("property: BpeEncode matches a from-scratch greedy model on random vocab/docs") {
    import spark.implicits._
    graft.ops.Custom.register(spark)
    val vocab = sample(Gen.listOfN(60, word), 21L).distinct
    val docs = sample(Gen.listOfN(60, doc), 22L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    // independent reference: longest-first scan per position, single-char
    // fallback — written from the SPEC, not from the expression
    val vs = vocab.toSet
    def ref(text: String): Seq[String] = text.split("\\s+").toSeq.flatMap { w =>
      val out = scala.collection.mutable.Buffer.empty[String]
      var i = 0
      while (i < w.length) {
        val t = (w.length until i by -1).iterator
          .map(j => w.substring(i, j)).find(vs.contains)
          .getOrElse(w.substring(i, i + 1))
        out += t
        i += t.length
      }
      out.toSeq
    }
    val got = docs.toDF("id", "text")
      .select(col("id"), col("text"),
        TextAnalysis.subwordTokens(col("text"), vocab).as("toks"))
      .collect()
    got.foreach { r =>
      val (text, toks) = (r.getString(1), r.getSeq[String](2))
      assert(toks === ref(text), s"diverged on '$text'")
      // structural invariants: tokens re-concatenate to the words'
      // characters, and every token is vocab or a single char
      assert(toks.mkString === text.split("\\s+").mkString)
      assert(toks.forall(t => vs.contains(t) || t.length == 1))
    }
  }

  test("property: UnicodeNormalize matches java.text.Normalizer and is idempotent") {
    import spark.implicits._
    graft.ops.Custom.register(spark)
    // char pool stresses composition: ascii, precomposed, bare combining
    // marks, fullwidth, CJK, spaces
    val uchar = Gen.oneOf(('a' to 'e') ++ Seq('é', 'ü', 'ñ', '́', '̈',
      '̃', 'Ａ', 'ｂ', '１', '漢', 'あ', '한', ' ', 'ﬁ'))
    val utext = Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, uchar).map(_.mkString))
    val texts = sample(Gen.listOfN(120, utext), 23L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val rows = texts.toDF("id", "text")
      .select(col("id"), col("text"),
        TextAnalysis.normalizeNfc(col("text")).as("nfc"),
        TextAnalysis.normalizeNfc(TextAnalysis.normalizeNfc(col("text"))).as("nfc2"),
        TextAnalysis.normalizeNfkc(col("text")).as("nfkc"))
      .collect()
    import java.text.Normalizer
    rows.foreach { r =>
      val (t, nfc, nfc2, nfkc) =
        (r.getString(1), r.getString(2), r.getString(3), r.getString(4))
      assert(nfc === Normalizer.normalize(t, Normalizer.Form.NFC))
      assert(nfkc === Normalizer.normalize(t, Normalizer.Form.NFKC))
      assert(nfc2 === nfc) // idempotent
    }
  }

  test("property: histogram mass conservation on random volumes") {
    val dims = sample(Gen.listOfN(3, Gen.choose(1, 6)), 1L)
    val vals = sample(Gen.listOfN(dims.product, Gen.choose(-50.0, 450.0)), 2L)
    val it = vals.iterator
    val vol = Volume.fromArray(spark, "rnd",
      Array.fill(dims(0), dims(1), dims(2))(it.next().toFloat))
    val mass = Volume.histogram(vol, 0, 400, 16).agg(sum("cnt")).head().getLong(0)
    assert(mass === dims.product.toLong) // out-of-range values clamp into edge bins
  }

  test("property: shingle Jaccard is symmetric, bounded, and 1 on self") {
    import spark.implicits._
    val docs = sample(Gen.listOfN(40, doc), 3L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("id", "text").filter(length(col("text")) >= 3)
    val a = df.select(col("id").as("ia"), col("text").as("ta"))
    val b = df.select(col("id").as("ib"), col("text").as("tb"))
    val pairs = a.crossJoin(b)
      .select(col("ia"), col("ib"),
        TextAnalysis.shingleJaccard(col("ta"), col("tb"), 3).as("jab"),
        TextAnalysis.shingleJaccard(col("tb"), col("ta"), 3).as("jba"))
      .collect()
    pairs.foreach { r =>
      val (ia, ib, jab, jba) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(jab >= 0.0 && jab <= 1.0)
      assert(jab === jba, s"asymmetric for ($ia,$ib)")
      if (ia == ib) assert(jab === 1.0)
    }
  }

  test("property: simhash self-distance 0, symmetric hamming <= 64") {
    import spark.implicits._
    val docs = sample(Gen.listOfN(30, doc), 4L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val sigs = docs.toDF("id", "text")
      .select(col("id"), SimHash.simhash64(col("text")).as("sig"))
    val a = sigs.select(col("id").as("ia"), col("sig").as("sa"))
    val b = sigs.select(col("id").as("ib"), col("sig").as("sb"))
    val rows = a.crossJoin(b)
      .select(col("ia"), col("ib"), SimHash.hamming(col("sa"), col("sb")).as("h"),
        SimHash.hamming(col("sb"), col("sa")).as("h2"))
      .collect()
    rows.foreach { r =>
      val h = r.getInt(2)
      assert(h >= 0 && h <= 64)
      assert(h === r.getInt(3))
      if (r.getLong(0) == r.getLong(1)) assert(h === 0)
    }
  }

  test("property: clamp stays within bounds for random inputs and bounds") {
    import spark.implicits._
    graft.ops.Custom.register(spark)
    val xs = sample(Gen.listOfN(200, Gen.choose(-1e6, 1e6)), 5L)
    val bounds = sample(Gen.listOfN(200, Gen.choose(-1e3, 1e3)), 6L)
      .grouped(2).map(p => (math.min(p(0), p(1)), math.max(p(0), p(1)))).toSeq
    val df = xs.zip(bounds ++ bounds).map { case (x, (lo, hi)) => (x, lo, hi) }
      .toDF("x", "lo", "hi")
      .selectExpr("x", "lo", "hi", "graft_clamp(x, lo, hi) AS c")
    df.collect().foreach { r =>
      val (lo, hi, c) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(c >= lo && c <= hi)
    }
  }

  test("property: rotate(180)^2 is the identity on random volumes") {
    // 180° about the grid centre is grid-aligned for any extent, so two
    // applications must reproduce the input exactly (float tolerance)
    val n = 5
    val vals = sample(Gen.listOfN(2 * n * n, Gen.choose(-10.0, 10.0)), 11L)
    val it = vals.iterator
    val vol = Volume.fromArray(spark, "r", Array.fill(2, n, n)(it.next().toFloat))
    val c = (n - 1) / 2.0
    def rot(df: org.apache.spark.sql.DataFrame) =
      Volume.rotateScale(df, 180.0, 1.0, c, c, (2, n, n))
    val diff = rot(rot(vol)).withColumnRenamed("xs", "r_xs")
      .join(vol, Seq("dataset_id", "z", "y"))
      .select(explode(zip_with(col("r_xs"), col("xs"),
        (a, b) => abs(a - b).cast("double"))).as("d"))
      .agg(max("d")).head().getDouble(0)
    assert(diff < 1e-3, s"rotate(180)^2 max diff $diff")
  }

  test("property: interpolateHoles is idempotent and zero-preserving") {
    // random lines with injected zero runs: one pass fills every hole a
    // second pass would touch (idempotence), and all-zero lines persist
    val lines = sample(Gen.listOfN(30,
      Gen.listOfN(9, Gen.oneOf(Gen.const(0.0), Gen.choose(1.0, 9.0)))), 12L)
    val vol = Volume.fromArray(spark, "h",
      Array(lines.map(_.map(_.toFloat).toArray).toArray))
    val once = Volume.interpolateHoles(vol)
    val twice = Volume.interpolateHoles(once)
    val diff = twice.withColumnRenamed("xs", "t_xs")
      .join(once, Seq("dataset_id", "z", "y"))
      .select(explode(zip_with(col("t_xs"), col("xs"),
        (a, b) => abs(a - b).cast("double"))).as("d"))
      .agg(max("d")).head().getDouble(0)
    assert(diff === 0.0)
    val zeroLines = lines.count(_.forall(_ == 0.0))
    val stillZero = once.select(col("y"),
        expr("aggregate(xs, cast(0.0 as double), (a, v) -> a + abs(v))").as("s"))
      .filter(col("s") === 0.0).count()
    assert(stillZero === zeroLines.toLong)
  }

  test("property: repetition filters are bounded on random text") {
    import spark.implicits._
    val docs = sample(Gen.listOfN(60, doc), 13L)
    val rows = docs.toDF("text")
      .select(TextAnalysis.duplicateLineFraction(col("text")).as("dlf"),
        TextAnalysis.topNgramFraction(col("text"), 2).as("tnf"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) < 1.0)
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
    }
  }

  test("property: fingerprint is deterministic and content-sensitive") {
    import spark.implicits._
    val docs = sample(Gen.listOfN(50, doc), 7L).distinct
    val fp1 = docs.toDF("text").select(TextAnalysis.fingerprint(col("text")))
      .collect().map(_.getLong(0)).toSeq
    val fp2 = docs.toDF("text").select(TextAnalysis.fingerprint(col("text")))
      .collect().map(_.getLong(0)).toSeq
    assert(fp1 === fp2)
    // distinct docs rarely collide under a ~2^42 modulus; allow none here
    assert(fp1.distinct.size === docs.size)
  }

  test("property: fingerprintMd5 matches a from-scratch JVM model on random docs") {
    import spark.implicits._
    // Independent reference: MessageDigest md5 + BigInt hex parse +
    // explicit Horner loop — shares nothing with the Column formulation.
    def model(text: String): Long = {
      val P = TextAnalysis.fingerprintMod
      val md = java.security.MessageDigest.getInstance("MD5")
      val toks = text.split(" ", -1).take(12)
      toks.foldLeft(0L) { (acc, tk) =>
        val hex = md.digest(tk.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.take(8)
        (acc * 1000003L % P + java.lang.Long.parseLong(hex, 16) % P) % P
      }
    }
    val docs = (sample(Gen.listOfN(60, doc), 11L) ++ Seq("", "x", "a b"))
      .distinct.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = docs.toDF("id", "text")
      .select(col("id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.foreach { case (id, text) =>
      assert(got(id) === model(text), s"fingerprint mismatch for '$text'")
    }
    // Order sensitivity: reversing a multi-token doc changes the value.
    val multi = docs.filter(_._2.split(" ").distinct.length > 1)
    assert(multi.nonEmpty)
    multi.take(10).foreach { case (_, text) =>
      val rev = text.split(" ").reverse.mkString(" ")
      assert(model(text) !== model(rev), s"order-insensitive for '$text'")
    }
  }

  test("property: native md5 simhash/minhash == relational formulation (incl. empty tokens)") {
    import spark.implicits._
    import graft.ops.Custom
    Custom.register(spark)
    // Random docs with DOUBLE spaces and edge shapes injected: split on
    // ' ' then produces empty-string tokens, which the native expressions
    // must hash identically to the SQL pipeline.
    val weird = Gen.oneOf(doc, doc.map(_.replaceFirst(" ", "  ")),
      Gen.const(""), Gen.const(" "), word)
    val docs = sample(Gen.listOfN(60, weird), 11L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text").persist()
    // SimHash: expression vs explode+vote pipeline.
    val simNative = df.selectExpr("doc_id", "graft_simhash_md5(text) AS sig")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val simSql = df
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok").cast("binary")), 1, 15), 16, 10).cast("bigint"))
      .withColumn("b", explode(sequence(lit(0), lit(59))))
      .withColumn("vote", when(call_function("shiftright", col("h"), col("b"))
        .bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      .groupBy("doc_id", "b").agg(sum("vote").as("v"))
      .groupBy("doc_id")
      .agg(sum(when(col("v") >= 0, call_function("shiftleft", lit(1L), col("b")))
        .otherwise(0L)).cast("bigint").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(simNative === simSql)
    // MinHash: expression vs explode+min-agg pipeline.
    val mhNative = df.selectExpr("doc_id", "graft_minhash_md5(text) AS sigs")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    val mhSql = df
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .groupBy("doc_id")
      .agg(array((0 to 7).map(i =>
        min(md5(concat(col("tok"), lit(s"#$i")).cast("binary")))): _*).as("sigs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    assert(mhNative === mhSql)
    df.unpersist()
    ()
  }

  test("property: sampleHash partitions the corpus across residues") {
    import spark.implicits._
    // For a fixed k, the k salt-free residue classes are disjoint and
    // their union is the corpus; sampleHash keeps residue 0.
    val ids = sample(Gen.listOfN(300, Gen.choose(0L, 1000000L)), 8L).distinct
    val docs = ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val k = sample(Gen.choose(2, 12), 9L)
    val kept = graft.operators.Curation.sampleHash(docs, k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptAgain = graft.operators.Curation.sampleHash(docs, k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === keptAgain) // rerun-stable
    assert(kept.subsetOf(ids.toSet))
    // expected fraction 1/k; allow 5 sd of binomial noise
    val p = 1.0 / k
    val sd = math.sqrt(ids.size * p * (1 - p))
    assert(math.abs(kept.size - ids.size * p) <= 5 * sd + 1,
      s"kept ${kept.size} of ${ids.size} at k=$k")
  }

  test("property: mixBalance never grows a group and keeps the min group intact") {
    import spark.implicits._
    // Random skewed group sizes (one group forced tiny).
    val sizes = sample(Gen.listOfN(5, Gen.choose(5, 120)), 10L)
    val docs = sizes.zipWithIndex.flatMap { case (n, g) =>
      (0 until n).map(i => (g * 1000L + i, s"g$g"))
    }.toDF("doc_id", "source")
    val before = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = graft.operators.Curation.mixBalance(docs)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val target = before.values.min
    before.foreach { case (g, n) =>
      assert(after.getOrElse(g, 0L) <= n, s"group $g grew")
      if (n == target) assert(after(g) === n, s"min group $g must keep all")
    }
  }

  test("property: upsampleEpochs gives every doc floor(rate) or floor(rate)+1 copies, deterministically") {
    import spark.implicits._
    val langs = Vector("aa", "bb", "cc", "dd")
    val assign = sample(Gen.listOfN(200, Gen.choose(0, 3)), 77L)
    val df = assign.zipWithIndex
      .map { case (l, i) => (i.toLong + 1000L, langs(l)) }
      .toDF("doc_id", "lang")
    val rates = Map(
      "aa" -> sample(Gen.choose(0.0, 3.0), 78L),
      "bb" -> 1.0,
      "cc" -> 2.75) // dd unlisted -> rate 1
    val up = graft.operators.Curation.upsampleEpochs(df, rates)
    // per-doc multiplicity is floor(rate) or floor(rate)+1 — never more,
    // never negative (docs at 0 copies simply vanish from the output)
    up.groupBy("doc_id", "lang").count().collect().foreach { r =>
      val rate = rates.getOrElse(r.getString(1), 1.0)
      val c = r.getLong(2)
      val lo = math.floor(rate).toLong
      assert(c === lo || c === lo + 1, s"doc ${r.getLong(0)} got $c copies at rate $rate")
    }
    // integer-rate languages are exact: bb and dd emit exactly n rows
    val in = df.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = up.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("bb", "dd").filter(in.contains)
      .foreach(l => assert(out(l) === in(l), s"$l must be exactly 1:1"))
    // deterministic: rerun emits the identical multiset
    val k1 = up.agg(sum(expr("doc_id * copy"))).collect()(0).getLong(0)
    val k2 = graft.operators.Curation.upsampleEpochs(df, rates)
      .agg(sum(expr("doc_id * copy"))).collect()(0).getLong(0)
    assert(k1 === k2)
  }

  test("property: assignSplit totally partitions any corpus and never moves a doc as the corpus grows") {
    import spark.implicits._
    val raw = sample(Gen.listOfN(2, Gen.choose(0.05, 0.6)), 91L)
    val a = raw(0) / (raw.sum + 1.0)
    val b = raw(1) / (raw.sum + 1.0)
    val fracs = Seq("a" -> a, "b" -> b, "c" -> (1.0 - a - b))
    val df = (1L to 500L).map(i => (i, "x")).toDF("doc_id", "lang")
    val sp = graft.operators.Curation.assignSplit(df, fracs)
    assert(sp.count() === 500L) // total: one row per doc, none dropped
    val names = sp.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(names.subsetOf(Set("a", "b", "c")))
    // growth invariance: assigning on the first half gives every common
    // doc the identical split
    val half = graft.operators.Curation.assignSplit(
        df.filter(col("doc_id") <= 250), fracs)
      .select(col("doc_id"), col("split").as("half_split"))
    assert(sp.join(half, "doc_id")
      .filter(col("split") =!= col("half_split")).count() === 0L)
  }

  test("property: upsertPartitioned is idempotent and conserves untouched keys on random corpora") {
    import spark.implicits._
    val langs = Seq("aa", "bb", "cc")
    val base = sample(Gen.listOfN(60, Gen.zip(
      Gen.choose(1L, 200L), Gen.oneOf(langs), doc)), 57L)
      .map { case (id, l, t) => (id, t, l) }.distinctBy(_._1)
      .toDF("doc_id", "text", "lang")
    val root = java.nio.file.Files.createTempDirectory("prop_upsert").toString
    graft.sources.DocumentIO.writePartitioned(base, root, "lang")
    val updates = base.filter(col("lang") === "aa")
      .withColumn("text", concat(col("text"), lit(" U")))
    graft.sources.DocumentIO.upsertPartitioned(spark, root, updates, "doc_id", "lang")
    def state(): Set[(Long, String, String)] =
      graft.sources.DocumentIO.readPartitioned(spark, root)
        .select("doc_id", "text", "lang")
        .as[(Long, String, String)].collect().toSet
    val once = state()
    // untouched partitions' rows identical to base
    val baseSet = base.as[(Long, String, String)].collect().toSet
    assert(once.filter(_._3 != "aa") === baseSet.filter(_._3 != "aa"))
    // every updated key carries the new text
    assert(once.filter(_._3 == "aa").forall(_._2.endsWith(" U")))
    // idempotent: applying the same updates again changes nothing
    graft.sources.DocumentIO.upsertPartitioned(spark, root, updates, "doc_id", "lang")
    assert(state() === once)
  }

  test("property: w_islands partitions each user's active minutes exactly (sum = distinct, no overlap)") {
    val rows = SparkEntry.queries("w_islands")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // islands are well-formed and ordered within user without overlap
    rows.groupBy(_._1).foreach { case (_, isl) =>
      val sorted = isl.sortBy(_._2)
      sorted.foreach { case (_, s, e, n) =>
        assert(s <= e && n === e - s + 1,
          "an island must be a dense run: n == end - start + 1 fails")
      }
      sorted.sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) =>
          assert(s2 > e1 + 1, "adjacent islands must be separated by a gap")
        case _ =>
      }
    }
    // island minutes partition the distinct active minutes
    val fromIslands = rows.map(_._4).sum
    val distinctMinutes = graft.ops.T.evMs(spark, sf())
      .select(col("user_id"), graft.ops.T.truncNtz("minute", col("ts_ms")))
      .distinct().count()
    assert(fromIslands === distinctMinutes)
  }

  test("property: t_resample_ffill grid is dense per user, fill total, observations conserved") {
    val rows = SparkEntry.queries("t_resample_ffill")(spark, sf()).collect()
      .map(r => (r.getLong(0), !r.isNullAt(1), r.isNullAt(2), r.getLong(3)))
    assert(rows.forall(!_._3), "forward fill must be total (first grid hour is observed)")
    val byUser = rows.groupBy(_._1)
    val ev = graft.ops.T.evMs(spark, sf())
      .select(col("user_id"), graft.ops.T.truncNtz("hour", col("ts_ms")).as("h"))
    val spans = ev.groupBy("user_id")
      .agg(expr("timestampdiff(HOUR, min(h), max(h)) + 1").as("span"),
        count(lit(1)).as("n_events"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    byUser.foreach { case (u, rs) =>
      assert(rs.length.toLong === spans(u)._1, s"user $u grid not dense")
      assert(rs.map(_._4).sum === spans(u)._2, s"user $u n_obs does not conserve events")
    }
  }
}
