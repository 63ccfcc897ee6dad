package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** T1 specs for operators/Dedup.connectedComponents — the pairs→clusters
  * completion of the LSH dedup family. Hand-built graphs with known
  * components (SURVEY.md §5.2 tier-1 pattern).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]) =
    Dedup.connectedComponents(pairs.toDF("a_id", "b_id"))
      .as[(Long, Long, Long)].collect().toSeq.sorted

  test("chain a-b-c collapses to one component labeled by its minimum") {
    // 1-2, 2-3: no pair (1,3), but transitivity must still merge them.
    assert(cc(Seq((1L, 2L), (2L, 3L))) ===
      Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L)))
  }

  test("two separate components keep separate labels and sizes") {
    assert(cc(Seq((1L, 2L), (10L, 11L), (11L, 12L), (10L, 12L))) ===
      Seq((1L, 1L, 2L), (2L, 1L, 2L),
        (10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L)))
  }

  test("long path needs multiple propagation rounds (diameter > 2)") {
    // 9-8-7-…-1: min label must walk 8 hops; exercises the loop, not
    // just the init step.
    val path = (1L to 8L).map(i => (i, i + 1))
    val got = cc(path)
    assert(got.size === 9)
    assert(got.forall { case (_, lab, n) => lab === 1L && n === 9L })
  }

  test("hitting maxIter without convergence throws — never partial labels") {
    // diameter 8 with maxIter 2: silent truncation would split the chain
    // into several "clusters" with no signal (the r4 ADVICE failure mode).
    val path = (1L to 8L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(path, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("convergence probe: empty graph, overflowed sum, equal and unequal sums") {
    // (count, sum) from the one probe aggregate: (0, null) is the empty
    // graph; a null sum over rows is a decimal overflow and must throw,
    // never compare equal to the previous round's null and "converge"
    def bd(v: String) = new java.math.BigDecimal(v)
    assert(Dedup.ccProbe(0L, null) === None)
    val e = intercept[IllegalStateException](Dedup.ccProbe(5L, null))
    assert(e.getMessage.contains("overflowed"))
    assert(Dedup.ccSumEq(Dedup.ccProbe(0L, null), Dedup.ccProbe(0L, null)))
    // value equality, not scale-sensitive BigDecimal.equals
    assert(Dedup.ccSumEq(Dedup.ccProbe(3L, bd("10")), Dedup.ccProbe(3L, bd("10.0"))))
    assert(!Dedup.ccSumEq(Dedup.ccProbe(3L, bd("10")), Dedup.ccProbe(3L, bd("9"))))
    assert(!Dedup.ccSumEq(Dedup.ccProbe(0L, null), Dedup.ccProbe(1L, bd("0"))))
  }

  test("seeded (incremental) CC converges to the identical fixpoint") {
    import spark.implicits._
    // two chains 1-2-3 and 10-11; the delta adds 3-10, MERGING them —
    // the seeded labels (10's old component min = 10) must fall to the
    // merged component's min (1), proving a seed can never pin a stale
    // label
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val all = base ++ Seq((3L, 10L))
    val seed = Dedup.connectedComponents(base.toDF("a_id", "b_id"))
      .select(col("doc_id").as("u"), col("cluster_id").as("lab"))
    val seeded = Dedup.connectedComponents(all.toDF("a_id", "b_id"),
        seed = Some(seed))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(seeded === cc(all))
    assert(seeded.forall { case (_, lab, n) => lab === 1L && n === 5L })
    // an unrelated/empty seed is also harmless
    val empty = seed.limit(0)
    assert(Dedup.connectedComponents(all.toDF("a_id", "b_id"),
      seed = Some(empty)).as[(Long, Long, Long)].collect().toSeq.sorted ===
      cc(all))
  }

  test("pair direction is irrelevant") {
    assert(cc(Seq((5L, 3L))) === Seq((3L, 3L, 2L), (5L, 3L, 2L)))
  }

  test("nodes in no pair do not appear") {
    val got = cc(Seq((1L, 2L)))
    assert(got.map(_._1).toSet === Set(1L, 2L))
  }

  test("dropNonCanonical keeps exactly one doc per component, plus untouched docs") {
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L).toDF("doc_id")
      .withColumn("payload", col("doc_id") * 2)
    // components {1,2,3} (star at 3) and {10,11}; 4 in no pair.
    val pairs = Seq((1L, 3L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val kept = Dedup.dropNonCanonical(docs, pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Seq(1L, 4L, 10L))
    // payload columns survive untouched
    assert(Dedup.dropNonCanonical(docs, pairs).columns === Array("doc_id", "payload"))
  }

  test("keepBest keeps the max-quality member per component; min-id only on ties") {
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5), // star component {1,2,3}: best is 2
      (4L, 0.1),                       // in no pair: always survives
      (10L, 0.7), (11L, 0.7)           // tie in {10,11}: min id 10 wins
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 3L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val best = Dedup.keepBest(docs, pairs, "quality")
      .select("doc_id").as[Long].collect().sorted
    assert(best === Seq(2L, 4L, 10L))
    // differs from dropNonCanonical exactly where quality disagrees with
    // id order: the star keeps 1 under min-id but 2 under max-quality;
    // the tied pair keeps 10 under both.
    val minId = Dedup.dropNonCanonical(docs, pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(minId === Seq(1L, 4L, 10L))
    // payload columns survive untouched
    assert(Dedup.keepBest(docs, pairs, "quality").columns ===
      Array("doc_id", "quality"))
  }

  test("minhashSelfPairs maxBandFreq bounds self-join fan-out, keeps real pairs") {
    // boilerplate fixture: 6 identical docs + 1 genuine near-dup pair
    val boiler = "nav home about contact privacy terms copyright all " +
      "rights reserved follow us on social media subscribe newsletter"
    val real1 = "die alte bibliothek am fluss hat viele seltene buecher " +
      "aus drei jahrhunderten in ihren langen regalen stehen"
    val fix = ((1L to 6L).map(i => (i, boiler)) ++
      Seq((7L, real1), (8L, real1.replace("alte", "neue"))))
      .toSeq.toDF("doc_id", "text")
    val open = Dedup.minhashSelfPairs(fix).as[(Long, Long, Long)].collect().toSet
    assert(open.count(p => p._1 <= 6 && p._2 <= 6) === 15) // C(6,2) boilerplate pairs
    assert(open.exists(p => p._1 == 7L && p._2 == 8L))
    val capped = Dedup.minhashSelfPairs(fix, maxBandFreq = Some(5L))
      .as[(Long, Long, Long)].collect().toSet
    assert(capped.count(p => p._1 <= 6 && p._2 <= 6) === 0)
    assert(capped.exists(p => p._1 == 7L && p._2 == 8L))
  }

  test("dedupAgainst maxBandFreq stop-lists boilerplate bands, keeps real pairs") {
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua"
    val real = "ein ganz eigener text ueber schiffe und sterne der nur " +
      "einmal im korpus vorkommt und einen echten partner hat"
    // corpus: 6 copies of the boilerplate (every band key has frequency
    // 6) + one genuine doc (band frequency 1)
    val corpus = ((1L to 6L).map(i => (i, boiler)) :+ (7L, real))
      .toDF("doc_id", "text")
    Dedup.writeCorpusIndex(corpus, "hotband_idx", buckets = 2)
    try {
      // shard: one more boilerplate copy + a near-dup of the genuine doc
      val shard = Seq((20L, boiler), (21L, real.replace("echten", "wahren")))
        .toDF("doc_id", "text")
      // uncapped: the boilerplate copy fans out to ALL 6 corpus copies
      val open = Dedup.dedupAgainst(spark, "hotband_idx", shard)
        .as[(Long, Long, Long)].collect().toSet
      assert(open.count(_._2 == 20L) === 6)
      assert(open.exists(p => p._1 == 7L && p._2 == 21L))
      // cap 5 < boilerplate frequency 6: its bands are stop-listed, so the
      // hot key contributes NOTHING to the join (fan-out bounded), while
      // the genuine pair (band frequency 1 ≤ cap) is untouched.
      val capped = Dedup.dedupAgainst(spark, "hotband_idx", shard,
          maxBandFreq = Some(5L))
        .as[(Long, Long, Long)].collect().toSet
      assert(capped.count(_._2 == 20L) === 0)
      assert(capped.exists(p => p._1 == 7L && p._2 == 21L))
    } finally spark.sql("DROP TABLE IF EXISTS hotband_idx")
  }

  test("dedupAgainst: new-vs-corpus pairs equal the self-join's cross-partition subset") {
    import graft.ops.T
    val docs = T.t(spark, sf(), "documents").select("doc_id", "text")
    val mid = docs.agg(max("doc_id")).head().getLong(0) / 2
    val corpus = docs.filter(col("doc_id") <= mid)
    val fresh = docs.filter(col("doc_id") > mid)
    Dedup.writeCorpusIndex(corpus, "dedup_corpus_idx", buckets = 4)
    try {
      val got = Dedup.dedupAgainst(spark, "dedup_corpus_idx", fresh)
        .as[(Long, Long, Long)].collect().toSet
      // reference: the graded minhash SELF-join restricted to pairs that
      // straddle the corpus/new split (a_id < b_id, so a is corpus-side)
      val ref = SparkEntry.queries("x_dedup_minhash")(spark, sf())
        .filter(col("a_id") <= mid && col("b_id") > mid)
        .select("a_id", "b_id", "n_bands")
        .as[(Long, Long, Long)].collect().toSet
      assert(ref.nonEmpty, s"fixture split at $mid produced no cross pairs")
      assert(got === ref)
      // filterNovel = new docs minus every matched new_id
      val novel = Dedup.filterNovel(spark, "dedup_corpus_idx", fresh)
        .select("doc_id").as[Long].collect().toSet
      assert(novel === fresh.select("doc_id").as[Long].collect().toSet -- ref.map(_._2))
    } finally spark.sql("DROP TABLE IF EXISTS dedup_corpus_idx")
  }

  test("dedupAgainst: corpus side reloads pre-bucketed with no Exchange") {
    import graft.ops.T
    val docs = T.t(spark, sf(), "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") <= 100)
    val fresh = docs.filter(col("doc_id") > 100)
    Dedup.writeCorpusIndex(corpus, "dedup_plan_idx", buckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path: a broadcast of the shard side would
      // also skip the Exchange without proving bucket co-location
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def nShuffles(df: org.apache.spark.sql.DataFrame) =
        "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).size
      val indexed = Dedup.dedupAgainst(spark, "dedup_plan_idx", fresh)
      // shard signatures shuffle (1) + pair groupBy (1); the corpus side
      // is satisfied by its bucketing = 2 total...
      assert(nShuffles(indexed) === 2,
        s"corpus side shuffled:\n${indexed.queryExecution.executedPlan}")
      assert(indexed.queryExecution.executedPlan.toString.contains("Bucketed: true"))
      // ...whereas the same join with both signature sides computed inline
      // needs 3 — the saved Exchange is exactly the 100 TB corpus side
      val inline = Dedup.minhashSignatures(corpus).select(
          col("doc_id").as("corpus_id"), col("seed"), col("mh"))
        .join(Dedup.minhashSignatures(fresh).select(
          col("doc_id").as("new_id"), col("seed"), col("mh")), Seq("seed", "mh"))
        .groupBy("corpus_id", "new_id").agg(count(lit(1)).as("n_bands"))
      assert(nShuffles(inline) === 3)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS dedup_plan_idx")
    }
  }

  test("ingestShard: corpus filter + in-shard dedup + index write-back compose") {
    import spark.implicits._
    val tA = "the cat sat on the mat and it is a good day for all " +
      "of us to be out in the sun with a book and a cup of tea"
    val tB = "this is a different story about the sea and the ships " +
      "that sail on it for many days and nights in a row"
    val tNovel = "ganz andere worte stehen hier in diesem text der mit " +
      "den anderen texten nichts gemeinsam hat und neu ist"
    graft.operators.Dedup.writeCorpusIndex(
      Seq((1L, tA), (2L, tB)).toDF("doc_id", "text"), "ingest_idx", buckets = 2)
    try {
      val idxRows0 = spark.table("ingest_idx").count()
      // shard 1: 10 near-dups corpus doc 1; 11 is novel; 12 near-dups 11
      // INSIDE the shard (one-token edit) — corpus-only filtering would
      // let both 11 and 12 through
      val shard1 = Seq((10L, tA.replace("tea", "milk")), (11L, tNovel),
        (12L, tNovel.replace("neu", "frisch"))).toDF("doc_id", "text")
      val kept1 = Dedup.ingestShard(spark, "ingest_idx", shard1)
        .select("doc_id").as[Long].collect().toSet
      assert(kept1 === Set(11L))
      // exactly doc 11's 8 signature rows were appended
      assert(spark.table("ingest_idx").count() === idxRows0 + 8)
      // shard 2: an exact copy of doc 11's text now dies AGAINST THE
      // APPENDED index rows (the corpus learned the novel doc)
      val kept2 = Dedup.ingestShard(spark, "ingest_idx",
          Seq((20L, tNovel)).toDF("doc_id", "text"))
        .select("doc_id").as[Long].collect().toSet
      assert(kept2 === Set.empty[Long])
      // compaction rewrites the appended file piles into one bucketed
      // set: same rows, same bucket spec, and the index still works
      val rowsBefore = spark.table("ingest_idx").collect().map(_.toSeq).toSet
      Dedup.compactCorpusIndex(spark, "ingest_idx")
      assert(spark.table("ingest_idx").collect().map(_.toSeq).toSet === rowsBefore)
      val spec = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("ingest_idx")).bucketSpec
      assert(spec.exists(s => s.numBuckets === 2 &&
        s.bucketColumnNames === Seq("seed", "mh")))
      val kept3 = Dedup.ingestShard(spark, "ingest_idx",
          Seq((30L, tNovel)).toDF("doc_id", "text"))
        .select("doc_id").as[Long].collect().toSet
      assert(kept3 === Set.empty[Long])
    } finally spark.sql("DROP TABLE IF EXISTS ingest_idx")
  }

  /** Naive reference for the minhash pair semantics: the textbook band
    * self-join over Dedup.minhashSignatures, with (seed, mh) keys carried
    * by more than `cap` docs stop-listed first.
    */
  private def naivePairs(docs: DataFrame, minBands: Int,
      cap: Option[Long] = None): DataFrame = {
    val all = Dedup.minhashSignatures(docs)
    val sigs = cap.fold(all) { c =>
      all.join(all.groupBy("seed", "mh").count().filter(col("count") > c),
        Seq("seed", "mh"), "left_anti")
    }
    sigs.select(col("doc_id").as("a_id"), col("seed"), col("mh"))
      .join(sigs.select(col("doc_id").as("b_id"), col("seed"), col("mh")),
        Seq("seed", "mh"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= minBands)
  }

  test("minhashSelfPairs/minhashComponents == naive band self-join (contraction exact)") {
    // Mixed corpus: an identical-text group {1,2,3} (one signature group),
    // a near-dup neighbor 4 of that group (reaches it only through a rep
    // pair), an unrelated near pair {10,11}, and a singleton 20 that must
    // appear in neither output.
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      1L -> base, 2L -> base, 3L -> base,
      4L -> (base + " extra"),
      10L -> "one two three four five six seven eight",
      11L -> "one two three four five six seven nine",
      20L -> "totally unrelated vocabulary here indeed")
      .toDF("doc_id", "text")
    // caps 2 and 3 stop-list all / part of the group's bands, so the
    // contracted path must count live bands per group and per rep pair
    for (minBands <- Seq(1, 4, 8); cap <- Seq(None, Some(2L), Some(3L))) {
      val naive = naivePairs(docs, minBands, cap).as[(Long, Long, Long)].collect().toSet
      val lib = Dedup.minhashSelfPairs(docs, minBands, cap)
        .as[(Long, Long, Long)].collect().toSet
      assert(lib === naive, s"minBands=$minBands cap=$cap")
    }
    for (minBands <- Seq(4, 8)) {
      val naive = Dedup.connectedComponents(naivePairs(docs, minBands))
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val contracted = Dedup.minhashComponents(docs, minBands)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(contracted === naive, s"minBands=$minBands")
      assert(naive.map(_._1).contains(1L) && !naive.map(_._1).contains(20L))
    }
  }

  test("null text has no signature: no pair, no cluster (library and graded keys)") {
    // 3 null texts, 2 identical texts, 1 unique text. A null text has no
    // token set, so it matches nothing — not even another null text.
    val same = "the quick brown fox jumps over the lazy dog"
    val docs = Seq[(Long, String)](1L -> null, 2L -> null, 3L -> null,
        4L -> same, 5L -> same,
        6L -> "ein ganz anderer satz ueber schiffe sterne und meere")
      .toDF("doc_id", "text")
    assert(Dedup.minhashSelfPairs(docs).as[(Long, Long, Long)].collect().toSet ===
      Set((4L, 5L, 8L)))
    assert(Dedup.minhashComponents(docs).as[(Long, Long, Long)].collect().toSeq ===
      Seq((4L, 4L, 2L), (5L, 4L, 2L)))
    val dir = java.nio.file.Files.createTempDirectory("nulltext").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val graded = SparkEntry.queries("x_dedup_minhash")(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(graded === Set((4L, 5L, 8L)))
    val sim = SparkEntry.queries("x_dedup_simhash")(spark, dir)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(sim === Set((4L, 5L)))
    // Empty text is an ordinary token set (one empty token), not null:
    // two empty docs are an 8-band pair.
    val empty = docs.union(Seq[(Long, String)](7L -> "", 8L -> "").toDF("doc_id", "text"))
    assert(Dedup.minhashSelfPairs(empty).as[(Long, Long, Long)].collect().toSet ===
      Set((4L, 5L, 8L), (7L, 8L, 8L)))
  }

  test("x_dedup_cluster agrees with x_dedup_minhash pairs on sf0.001") {
    val pairs = SparkEntry.queries("x_dedup_minhash")(spark, sf())
      .select(col("a_id"), col("b_id"))
    val clusters = SparkEntry.queries("x_dedup_cluster")(spark, sf())
    // Every pair endpoint is clustered, and both endpoints of every pair
    // share a cluster id.
    val lab = clusters.select(col("doc_id"), col("cluster_id"))
    val joined = pairs
      .join(lab.withColumnRenamed("doc_id", "a_id").withColumnRenamed("cluster_id", "ca"), "a_id")
      .join(lab.withColumnRenamed("doc_id", "b_id").withColumnRenamed("cluster_id", "cb"), "b_id")
    assert(joined.count() === pairs.count())
    assert(joined.filter(col("ca") =!= col("cb")).isEmpty)
    // cluster_id is a member of its own cluster and is the minimum.
    val bad = clusters.groupBy("cluster_id").agg(min("doc_id").as("mn"))
      .filter(col("cluster_id") =!= col("mn"))
    assert(bad.isEmpty)
  }

  test("component sizes use agg+join, not a window — one giant cluster stays distributed") {
    // A degenerate single-component star: with the former count-over-
    // window spelling, ALL rows land in one buffering window task; the
    // agg+join form partial-combines map-side and streams the join.
    val star = (2L to 2000L).map(i => (1L, i)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(star)
    assert(!cc.queryExecution.executedPlan.toString.contains("Window"),
      "sizes regressed to a count-over-window")
    val rows = cc.as[(Long, Long, Long)].collect()
    assert(rows.length === 2000)
    assert(rows.forall { case (_, lab, n) => lab === 1L && n === 2000L })
  }

  // ---- substringSpans (exact-substring / repeated k-token span dedup) ----

  private def spans(docs: Seq[(Long, String)], k: Int = 4, minDocs: Int = 2) =
    Dedup.substringSpans(docs.toDF("doc_id", "text"), k = k, minDocs = minDocs)
      .as[(Long, Int, Int)].collect().toSeq

  test("substringSpans finds a shared run at its position in BOTH docs") {
    // 5-token run "s1..s5" at pos 4 of doc 1 and pos 0 of doc 2; all
    // other tokens distinct, so only windows inside the run repeat.
    val got = spans(Seq(
      1L -> "f1 f2 f3 f4 s1 s2 s3 s4 s5 f5 f6",
      2L -> "s1 s2 s3 s4 s5 g1 g2 g3"))
    assert(got === Seq((1L, 4, 5), (2L, 0, 5)))
  }

  test("substringSpans merges overlapping hit windows into ONE maximal span") {
    // A 10-token shared run = 7 overlapping k=4 windows → exactly one
    // span of length 10, not seven length-4 spans.
    val run = (1 to 10).map("s" + _).mkString(" ")
    val got = spans(Seq(1L -> s"a1 a2 $run a3", 2L -> s"$run b1"))
    assert(got === Seq((1L, 2, 10), (2L, 0, 10)))
  }

  test("substringSpans keeps runs separated by more than k apart as two spans") {
    // Shared runs at pos 0 (len 4) and pos 9 (len 4) of doc 1: gap of 5
    // non-repeated tokens > merge reach → two spans in doc 1.
    val got = spans(Seq(
      1L -> "s1 s2 s3 s4 u1 u2 u3 u4 u5 t1 t2 t3 t4",
      2L -> "s1 s2 s3 s4 v1 v2 v3 v4 v5 v6 t1 t2 t3 t4"))
    assert(got.filter(_._1 == 1L) === Seq((1L, 0, 4), (1L, 9, 4)))
  }

  test("substringSpans ignores runs repeated only WITHIN one document") {
    // minDocs = 2 counts DISTINCT docs: a doc self-repeating a run is
    // not cross-doc boilerplate.
    val got = spans(Seq(
      1L -> "s1 s2 s3 s4 x1 s1 s2 s3 s4 x2",
      2L -> "y1 y2 y3 y4 y5 y6 y7 y8"))
    assert(got.isEmpty)
  }

  test("substringSpans minDocs=3 demands three distinct documents") {
    val shared = "s1 s2 s3 s4"
    val two = Seq(1L -> s"$shared a1 a2", 2L -> s"$shared b1 b2")
    val three = two :+ (3L -> s"$shared c1 c2")
    assert(spans(two, minDocs = 3).isEmpty)
    assert(spans(three, minDocs = 3).map(_._1).sorted === Seq(1L, 2L, 3L))
  }

  test("substringSpans: docs shorter than k produce no windows and no error") {
    val got = spans(Seq(1L -> "a b", 2L -> "a b", 3L -> "s1 s2 s3 s4 q",
      4L -> "s1 s2 s3 s4 r"))
    assert(got === Seq((3L, 0, 4), (4L, 0, 4)))
  }

  private def cut(docs: Seq[(Long, String)], k: Int = 4) =
    Dedup.removeSpans(docs.toDF("doc_id", "text"), k = k)
      .as[(Long, String)].collect().toMap

  test("removeSpans keeps exactly one occurrence of shared boilerplate (min doc_id)") {
    val header = "h1 h2 h3 h4 h5 h6"
    val got = cut(Seq(
      1L -> s"$header a1 a2 a3",
      2L -> s"$header b1 b2 b3",
      3L -> s"$header c1 c2 c3"))
    // canonical doc 1 untouched; 2 and 3 lose the header, keep their tails
    assert(got(1L) === s"$header a1 a2 a3")
    assert(got(2L) === "b1 b2 b3")
    assert(got(3L) === "c1 c2 c3")
  }

  test("removeSpans leaves unshared and within-doc-repeated text alone") {
    val got = cut(Seq(
      1L -> "s1 s2 s3 s4 x1 s1 s2 s3 s4", // self-repeat only
      2L -> "u1 u2 u3 u4 u5 u6"))
    assert(got(1L) === "s1 s2 s3 s4 x1 s1 s2 s3 s4")
    assert(got(2L) === "u1 u2 u3 u4 u5 u6")
  }

  test("removeSpans: a fully-duplicated doc comes back empty, not missing") {
    val body = "d1 d2 d3 d4 d5"
    val got = cut(Seq(1L -> body, 2L -> body))
    assert(got(1L) === body && got(2L) === "")
    assert(got.keySet === Set(1L, 2L))
  }

  test("removeSpans is idempotent: a second pass changes nothing") {
    val docs = Seq(
      1L -> "h1 h2 h3 h4 h5 a1 a2",
      2L -> "h1 h2 h3 h4 h5 b1 b2",
      3L -> "z1 z2 z3 z4 z5 z6")
    val once = cut(docs)
    val twice = cut(once.toSeq)
    assert(twice === once)
  }

  test("removeSpans composes with substringSpans: no cross-doc spans remain after the cut") {
    val docs = Seq(
      1L -> "h1 h2 h3 h4 h5 h6 a1 a2 a3",
      2L -> "h1 h2 h3 h4 h5 h6 b1 b2 b3",
      3L -> "c1 c2 h1 h2 h3 h4 h5 h6 c3")
    val after = cut(docs).toSeq
    assert(spans(after).isEmpty)
  }

  test("RemoveTokenSpans: linear cut keeps space runs, clamps at the end, ignores strays") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def rm(text: String, k: Int, starts: Any*) =
      graft.ops.RemoveTokenSpans.compute(UTF8String.fromString(text),
        new GenericArrayData(starts.map(_.asInstanceOf[AnyRef]).toArray), k).toString
    assert(rm("a b c d e", 2, 1) === "a d e")
    assert(rm("a b c d e", 2, 0, 1) === "d e") // overlapping spans
    assert(rm("a b c d e", 2, 3, 3) === "a b c") // repeated start, span cut at the end
    assert(rm("a  b c", 2, 2) === "a ") // "" tokens survive: ["a", ""] rejoined
    assert(rm("a b c", 3, 0) === "") // fully covered
    assert(rm("a b c", 2, 7, -1, null) === "a b c") // out of range and null starts
    assert(rm("é b ü", 1, 1) === "é ü") // byte-level split keeps UTF-8 intact
  }

  test("decontaminate drops docs sharing a k-run with the benchmark, counts are exact") {
    val leak = "q1 q2 q3 q4 q5"
    val bench = Seq(100L -> s"intro words $leak closing words here too")
      .toDF("doc_id", "text")
    val train = Seq(
      1L -> s"own a1 a2 a3 $leak tail t1 t2", // contaminated: 2 windows (k=4)
      2L -> "clean c1 c2 c3 c4 c5 c6 c7",
      3L -> "q1 q2 x q3 q4 y q5 z" // leak tokens but no shared 4-run
    ).toDF("doc_id", "text")
    val hits = Dedup.contaminationHits(train, bench, k = 4)
      .as[(Long, Long)].collect().toMap
    // the 5-token leak yields exactly two overlapping 4-windows
    assert(hits === Map(1L -> 2L))
    val kept = Dedup.decontaminate(train, bench, k = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L))
    // a hit budget tolerates bounded overlap
    val keptLoose = Dedup.decontaminate(train, bench, k = 4, maxHits = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(keptLoose === Set(1L, 2L, 3L))
  }

  test("windowHashWeights(12) is fingerprintWeights reversed (same r/P family)") {
    assert(graft.functions.TextAnalysis.windowHashWeights(12) ===
      graft.functions.TextAnalysis.fingerprintWeights.reverse)
  }
}
