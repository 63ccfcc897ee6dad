package graft.perfbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextAnalysis
import graft.operators.{Ann, Curation, Dedup}

/** A seed-generated document corpus: template clusters (near-identical
  * docs) with a skewed size distribution, unique docs, shared boilerplate
  * runs, and a small share of empty and null `text` values, plus one
  * 64-d embedding per doc (cluster members sit near their template's).
  */
final case class Corpus(ids: Array[Long], texts: Array[String],
    embeddings: Array[Array[Float]]) {
  def size: Int = ids.length
}

object Corpus {
  val Dim = 64
  private val Langs = Seq("en", "de", "es", "fr")

  /** Pseudo-word vocabulary, fixed across seeds. */
  private val Vocab: Array[String] = {
    val r = new Random(11)
    Array.fill(20000)(Iterator.continually(('a' + r.nextInt(26)).toChar)
      .take(3 + r.nextInt(7)).mkString)
  }

  /** Cluster sizes: quantiles of a Pareto(alpha = 1.2, min 2) distribution
    * capped at 60, until `total` docs. The same skewed schedule for every
    * seed, so seeds vary content and order but not the amount of work.
    */
  def clusterSizes(total: Int): Seq[Int] = {
    val k = Iterator.from(1).find { k =>
      (0 until k).map(i => size(i, k)).sum >= total
    }.get
    (0 until k).map(size(_, k))
  }
  private def size(i: Int, k: Int): Int =
    math.min(60, (2.0 / math.pow(1 - (i + 0.5) / k, 1 / 1.2)).toInt)

  def generate(seed: Long, nDocs: Int): Corpus = {
    val r = new Random(seed)
    def words(n: Int): Seq[String] = {
      val lang = Langs(r.nextInt(Langs.size))
      val stops = TextAnalysis.defaultStopwords(lang)
      Seq.fill(n)(if (r.nextDouble() < 0.06) stops(r.nextInt(stops.size))
        else Vocab(r.nextInt(Vocab.length)))
    }
    val boiler = Seq.fill(6)(words(14).mkString(" "))
    // every seventh body starts with one of six shared boilerplate runs
    var bodies = 0
    def body(): String = {
      bodies += 1
      val w = words(20 + r.nextInt(100)).mkString(" ")
      if (bodies % 7 == 0) boiler(r.nextInt(boiler.size)) + " " + w else w
    }
    def gauss(): Array[Float] = Array.fill(Dim)(r.nextGaussian().toFloat)
    val texts = mutable.ArrayBuffer[String]()
    val embs = mutable.ArrayBuffer[Array[Float]]()
    // ~35% of the corpus in template clusters; members alternate between
    // exact copies and copies with one to three tokens replaced
    clusterSizes((nDocs * 0.35).toInt).foreach { size =>
      val tpl = body()
      val center = gauss()
      (0 until size).foreach { j =>
        val toks = tpl.split(" ")
        if (j % 2 == 1) (1 to 1 + r.nextInt(3)).foreach { _ =>
          toks(r.nextInt(toks.length)) = Vocab(r.nextInt(Vocab.length))
        }
        texts += toks.mkString(" ")
        embs += center.map(c => c + 0.08f * r.nextGaussian().toFloat)
      }
    }
    // the rest unique, with 1% null, 1% empty and 2% two-word texts
    val rest = nDocs - texts.size
    val odd = nDocs / 100
    (0 until rest).foreach { i =>
      texts += (if (i < odd) null else if (i < 2 * odd) ""
        else if (i < 4 * odd) words(2).mkString(" ") else body())
      embs += gauss()
    }
    // Shuffle ids so clusters and odd docs are not contiguous in id order.
    val ids = r.shuffle((0L until nDocs.toLong).toVector).toArray
    Corpus(ids, texts.toArray, embs.toArray)
  }
}

/** Driver-side reference model of the minhash stages, built from scratch:
  * per-doc signatures (min md5 hex of `token#seed` over distinct space
  * tokens, 8 seeds; null text has none), band-agreement pairs, and
  * union-find components.
  */
final class DedupModel(c: Corpus, minBands: Int) {
  val Seeds = 8
  private val md = java.security.MessageDigest.getInstance("MD5")
  private def md5hex(s: String): String = {
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    d.foreach(b => sb.append(Character.forDigit((b >> 4) & 0xf, 16))
      .append(Character.forDigit(b & 0xf, 16)))
    sb.toString
  }
  val sigs: Map[Long, IndexedSeq[String]] = c.ids.indices.collect {
    case i if c.texts(i) != null =>
      val toks = c.texts(i).split(" ", -1).distinct
      c.ids(i) -> (0 until Seeds).map(s => toks.map(t => md5hex(s"$t#$s")).min)
  }.toMap

  /** Doc pairs (a < b) agreeing on at least `minBands` bands. */
  val pairs: Seq[(Long, Long)] = {
    val counts = mutable.HashMap[(Long, Long), Int]()
    sigs.toSeq.flatMap { case (id, sg) => sg.zipWithIndex.map { case (mh, s) => (s, mh) -> id } }
      .groupMap(_._1)(_._2).values.foreach { bucket =>
        val b = bucket.toArray.sorted
        for (i <- b.indices; j <- i + 1 until b.length) {
          val k = (b(i), b(j))
          counts(k) = counts.getOrElse(k, 0) + 1
        }
      }
    counts.toSeq.collect { case (k, n) if n >= minBands => k }
  }

  /** Union-find over `edges`; returns doc -> (component min id, size) for
    * every doc in a component of two or more.
    */
  def components(edges: Seq[(Long, Long)]): Map[Long, (Long, Int)] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val groups = parent.keys.toSeq.groupBy(find)
    groups.values.filter(_.size >= 2).flatMap { g =>
      val m = g.min
      g.map(_ -> (m, g.size))
    }.toMap
  }

  lazy val clusters: Map[Long, (Long, Int)] = components(pairs)

  /** Share of all docs in identical-signature groups of size >= 2. */
  lazy val dupGroupShare: Double =
    sigs.groupBy(_._2).values.filter(_.size >= 2).map(_.size).sum.toDouble / c.size
}

/** `curation`: the LLM-data operator chain over a seed-generated corpus —
  * feature pass, minhash signatures, minhash components, span removal,
  * the composed curate pipeline and semantic near-duplicate pairs.
  */
final class CurationWorkload extends Workload {
  val name = "curation"
  val passSeconds = 8.0
  val Docs = 400
  val MinBands = 4
  val MinQuality = 0.3
  val SemanticMinCos = 0.9
  /** Refuse to start with less free disk than this under the work dir. */
  val MinFreeBytes = 4L << 30

  private var corpus: Corpus = _
  private var model: DedupModel = _
  private var docsPath = ""
  private var embPath = ""

  def generate(ctx: Ctx): Unit = {
    val free = new java.io.File(ctx.workDir).getUsableSpace
    if (free < MinFreeBytes)
      throw new IllegalStateException(
        s"only ${free >> 20} MB free under ${ctx.workDir}; curation needs ${MinFreeBytes >> 20} MB")
    corpus = Corpus.generate(ctx.seed, Docs)
    val spark = ctx.spark
    docsPath = s"${ctx.workDir}/corpus/docs.parquet"
    embPath = s"${ctx.workDir}/corpus/emb.parquet"
    val docRows = corpus.ids.indices.map(i => Row(corpus.ids(i), corpus.texts(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 1), StructType(Seq(
      StructField("doc_id", LongType, nullable = false), StructField("text", StringType))))
      .write.mode("overwrite").parquet(docsPath)
    val embRows = corpus.ids.indices.map(i => Row(corpus.ids(i), corpus.embeddings(i).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(embRows, 1), StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)))))
      .write.mode("overwrite").parquet(embPath)
  }

  override def prepareChecks(ctx: Ctx): Unit = model = new DedupModel(corpus, MinBands)

  private def docs(ctx: Ctx): DataFrame = ctx.spark.read.parquet(docsPath)

  private def collectQe(ctx: Ctx, df: DataFrame): Array[Row] = {
    val rows = df.collect()
    ctx.noteQe(df.queryExecution)
    rows
  }

  def pass(ctx: Ctx, warm: Boolean): Unit = {
    val n = corpus.size
    val text = corpus.ids.zip(corpus.texts).toMap

    // functions: the per-doc feature pass
    val feats = ctx.call("functions", "feature") {
      val d = docs(ctx)
      collectQe(ctx, d.select(col("doc_id"), TextAnalysis.languageId(col("text")).as("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens")))
    }
    ctx.figure("functions.feature_s", ctx.lastDur)
    ctx.figure("functions.ns_per_row", ctx.lastDur * 1e9 / n)
    val quality = feats.map(_.map(r => r.getLong(0) -> Option(r.get(2)).map(_ => r.getDouble(2))).toMap)
    feats.foreach { rows =>
      ctx.check(ctx.lastCall, "feature:rows") {
        if (rows.length != n) Some(s"${rows.length} rows for $n docs")
        else rows.collectFirst {
          case r if !r.isNullAt(2) && (r.getDouble(2) < 0 || r.getDouble(2) > 1) =>
            s"quality ${r.getDouble(2)} outside [0, 1] for doc ${r.getLong(0)}"
        }
      }
    }

    // operators: minhash signatures vs the model
    val sigs = ctx.call("operators", "signatures")(collectQe(ctx, Dedup.minhashSignatures(docs(ctx))))
    ctx.figure("operators.signatures_s", ctx.lastDur)
    sigs.foreach { rows =>
      ctx.check(ctx.lastCall, "signatures:model") {
        val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
        val want = model.sigs.toSeq.flatMap { case (id, sg) =>
          sg.zipWithIndex.map { case (mh, s) => (id, s, mh) } }.toSet
        if (got == want) None
        else Some(s"${(got -- want).size} unexpected and ${(want -- got).size} missing rows")
      }
    }

    // operators: minhash components vs the union-find model. Null-text docs
    // stay out of this call's input: the library contracts them all under
    // the key '' into one spurious cluster (ROADMAP D4), and the benchmark
    // times only calls whose outputs are correct. Every other step gets
    // them, and the model puts them in no cluster.
    val comps = ctx.call("operators", "components")(collectQe(ctx,
      Dedup.minhashComponents(docs(ctx).where(col("text").isNotNull), MinBands)))
    ctx.figure("operators.components_s", ctx.lastDur)
    comps.foreach { rows =>
      val got = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2).toInt)).toMap
      ctx.check(ctx.lastCall, "components:model") {
        val want = model.clusters
        if (got == want) None
        else {
          val extra = got.keySet -- want.keySet
          val missing = want.keySet -- got.keySet
          val diff = (got.keySet & want.keySet).filter(k => got(k) != want(k)).toSeq.sorted
          Some(s"${extra.size} docs not in any model cluster, " +
            s"${missing.size} model docs missing, ${diff.size} labelled differently" +
            diff.take(3).map(k => s"; doc $k got ${got(k)} want ${want(k)}").mkString)
        }
      }
    }

    // operators: exact-substring span removal
    val spans = ctx.call("operators", "spans")(collectQe(ctx, Dedup.removeSpans(docs(ctx))))
    ctx.figure("operators.spans_s", ctx.lastDur)
    spans.foreach { rows =>
      ctx.check(ctx.lastCall, "spans:invariants") {
        val got = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
        if (got.keySet != text.keySet) Some(s"${got.size} docs out for ${text.size} in")
        else got.collectFirst {
          case (id, t) if t == null => s"doc $id came back null"
          case (id, t) if t.nonEmpty && (text(id) == null ||
              !t.split(" ").toSet.subsetOf(text(id).split(" ").toSet)) =>
            s"doc $id gained tokens"
        }
      }
    }

    // operators: the composed curate pipeline
    val curated = ctx.call("operators", "curate") {
      val df = Curation.curate(docs(ctx), MinQuality, minBands = MinBands)
      collectQe(ctx, df)
    }
    ctx.figure("operators.curate_s", ctx.lastDur)
    if (ctx.tracing) for (rows <- curated; qe <- ctx.notedQes.lastOption.map(_._2)) {
      val cand = ctx.excluded(Plans.metric(qe, "numOutputRows") {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          j.leftKeys.flatMap(_.references.map(_.name)).toSet == Set("seed", "mh")
        case _ => false
      })
      val kept = ctx.excluded(Plans.metric(qe, "numOutputRows") {
        case f: org.apache.spark.sql.execution.FilterExec =>
          f.condition.references.exists(_.name == "n_bands")
        case _ => false
      })
      ctx.figure("operators.candidate_pairs", cand)
      ctx.figure("operators.pairs_kept", kept)
      ctx.figure("operators.pair_yield", if (cand > 0) kept.toDouble / cand else 0.0)
      ctx.figure("operators.survivor_frac", rows.length.toDouble / n)
      ctx.figure("operators.dup_group_share", model.dupGroupShare)
    }
    for (rows <- curated; q <- quality)
      ctx.check(ctx.lastCall, "curate:invariants")(curateInvariants(rows, q, text))

    // operators: semantic near-duplicate pairs over the embeddings
    val ann = ctx.call("operators", "ann")(collectQe(ctx,
      Ann.semanticNearDupPairs(ctx.spark.read.parquet(embPath), SemanticMinCos)))
    ctx.figure("operators.ann_s", ctx.lastDur)
    ann.foreach { rows =>
      ctx.check(ctx.lastCall, "ann:pairs") {
        val emb = corpus.ids.zip(corpus.embeddings).toMap
        def cos(a: Array[Float], b: Array[Float]): Double = {
          val d = a.indices.map(i => a(i).toDouble * b(i)).sum
          d / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
        }
        val ps = rows.map(r => (r.getLong(0), r.getLong(1)))
        if (ps.distinct.length != ps.length) Some("duplicate pairs")
        else ps.collectFirst {
          case (a, b) if a >= b => s"pair ($a, $b) not canonical"
          case (a, b) if cos(emb(a), emb(b)) < SemanticMinCos - 1e-6 =>
            s"pair ($a, $b) below the cosine threshold"
        }
      }
    }
  }

  /** Survivors are input docs, carry distinct md5(text), and every dropped
    * doc that passed the quality gate has a surviving partner in its
    * duplicate component (exact-text and minhash edges).
    */
  private def curateInvariants(rows: Array[Row], quality: Map[Long, Option[Double]],
      text: Map[Long, String]): Option[String] = {
    val kept = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val notInput = kept.collectFirst { case (id, t) if text.get(id) != Some(t) => id }
    val md5s = kept.values.map(t => Option(t).map(x => java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes(StandardCharsets.UTF_8)).toSeq))
    if (notInput.nonEmpty) return Some(s"survivor ${notInput.get} is not an input doc")
    if (md5s.toSet.size != kept.size) return Some("two survivors share md5(text)")
    val passed = text.keys.filter(id => quality.get(id).flatten.exists(_ >= MinQuality)).toSet
    val exactEdges = passed.toSeq.groupBy(text).values.flatMap(g =>
      g.sorted.sliding(2).collect { case Seq(a, b) => (a, b) })
    val edges = model.pairs.filter { case (a, b) => passed(a) && passed(b) } ++ exactEdges
    val comp = model.components(edges)
    val members = comp.groupBy(_._2._1).map { case (c, m) => c -> m.keySet }
    val orphan = passed.filterNot(kept.contains).find { id =>
      comp.get(id).forall { case (c, _) => !members(c).exists(kept.contains) }
    }
    orphan.map(id => s"dropped doc $id (quality ${quality(id)}, component ${comp.get(id)}) " +
      "has no surviving partner")
  }

  override def notes(ctx: Ctx): Seq[String] = Seq(
    f"curation corpus: ${corpus.size} docs, seed ${ctx.seed}: " +
      f"${model.dupGroupShare * 100}%.2f%% in identical-signature groups, " +
      f"${model.clusters.size} docs in ${model.clusters.values.map(_._1).toSet.size} " +
      f"model clusters, ${corpus.texts.count(_ == null)} null and " +
      f"${corpus.texts.count(_ == "")} empty texts (null text kept out of minhashComponents only)")
}
