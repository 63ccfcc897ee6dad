package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Snapshot

/** `table_churn`: many small commits on one snapshot table. Each pass
  * publishes a fresh table, streams micro-batches in through the
  * `graft-snapshot-sink`, then runs rounds of upsert / SQL MERGE,
  * merge-on-read key delete, masked aggregate read, time-travel read and
  * delete materialization (Scala and SQL alternating), and ends with SQL
  * COMPACT and VACUUM. Every read is checked against a plain in-memory
  * model of the same upserts and deletes.
  */
final class TableChurn extends Workload {
  val name = "table_churn"
  val passSeconds = 8.0
  val BatchRows = 2000
  /** Micro-batches streamed before the rounds; one more lands after them,
    * so the closing COMPACT has fragmented partitions to roll up. */
  val StreamBatches = 1
  val Rounds = 2
  val UpsertRows = 500
  val DeleteKeys = 200
  val Parts = 8

  override def sessionConf: Map[String, String] =
    Map("spark.sql.extensions" -> "graft.plans.GraftExtensions")

  final case class Rec(id: Long, part: String, text: String, amount: Long) {
    def logicalBytes: Long = 16L + part.length + text.length
  }
  private val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("part", StringType), StructField("text", StringType),
    StructField("amount", LongType, nullable = false)))

  /** Per-pass inputs, drawn from the seed. */
  private var batches: Seq[Seq[Rec]] = Nil
  private var rounds: Seq[(Seq[Rec], Seq[Long])] = Nil
  private var lateBatch: Seq[Rec] = Nil
  private var passNo = 0
  /** (write_amp, space_amp) of the last pass. */
  private var lastAmp = (0.0, 0.0)

  def generate(ctx: Ctx): Unit = {
    val r = new Random(ctx.seed)
    val words = Array.fill(500)(Iterator.continually(('a' + r.nextInt(26)).toChar)
      .take(3 + r.nextInt(6)).mkString)
    def rec(id: Long): Rec = Rec(id, s"p${id % Parts}",
      Seq.fill(6 + r.nextInt(8))(words(r.nextInt(words.length))).mkString(" "),
      r.nextInt(100000).toLong)
    val n0 = BatchRows * (1 + StreamBatches)
    batches = (0 until n0).map(i => rec(i.toLong)).grouped(BatchRows).toSeq
    // Keys live at each round's start, following the same rules the model
    // applies, so updates hit existing keys and deletes hit live ones.
    val live = mutable.LinkedHashSet[Long]((0L until n0): _*)
    var next = n0.toLong
    rounds = (0 until Rounds).map { k =>
      val liveV = live.toVector
      val upd = (0 until UpsertRows).map { i =>
        if (i % 2 == 0) rec(liveV(r.nextInt(liveV.size)))
        else { next += 1; rec(next) }
      }.groupBy(_.id).values.map(_.head).toSeq.sortBy(_.id)
      // odd rounds go through SQL MERGE, whose DELETE branch takes matched
      // rows with a negative amount
      val upd2 = if (k % 2 == 1) upd.map(u =>
        if (live(u.id) && u.id % 7 == 0) u.copy(amount = -1) else u) else upd
      upd2.foreach { u =>
        if (k % 2 == 1 && live(u.id) && u.amount < 0) live -= u.id else live += u.id
      }
      val liveAfter = live.toVector
      val del = r.shuffle(liveAfter).take(DeleteKeys).sorted
      live --= del
      (upd2, del)
    }
    lateBatch = (1 to BatchRows).map(i => rec(next + i))
  }

  private def df(ctx: Ctx, rows: Seq[Rec]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      rows.map(x => Row(x.id, x.part, x.text, x.amount)), 1), schema)

  private def dirBytes(f: File): (Long, Int) =
    if (f.isFile) (f.length, if (f.getName.endsWith(".parquet")) 1 else 0)
    else Option(f.listFiles).toSeq.flatten.map(dirBytes)
      .foldLeft((0L, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }

  private def rm(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }

  /** (part -> (rows, sum amount)) of a table snapshot. */
  private def agg(model: collection.Map[Long, Rec]): Map[String, (Long, Long)] =
    model.values.groupBy(_.part).map { case (p, rs) => p -> (rs.size.toLong, rs.map(_.amount).sum) }

  private def aggOf(rows: Array[Row]): Map[String, (Long, Long)] =
    rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def note(ctx: Ctx, key: String): Unit = ctx.figure(key, ctx.lastDur)

  def pass(ctx: Ctx, warm: Boolean): Unit = {
    val spark = ctx.spark
    passNo += 1
    val root = new File(s"${ctx.workDir}/tables/pass$passNo")
    val dir = root.getAbsolutePath + "/t"
    val model = mutable.HashMap[Long, Rec]()
    val history = mutable.HashMap[Int, Map[String, (Long, Long)]]()
    var submitted = 0L
    def version(): Int = ctx.excluded(Snapshot.currentVersion(spark, dir))
    def maskedAgg(read: => DataFrame): Array[Row] =
      read.groupBy("part").agg(count(lit(1)), sum(col("amount"))).collect()

    // sources: publish the table from the first batch
    ctx.call("sources", "publish")(Snapshot.publish(spark, dir, df(ctx, batches.head), "part", "text"))
    note(ctx, "sources.publish_s")
    batches.head.foreach(x => model(x.id) = x)
    submitted += batches.head.map(_.logicalBytes).sum
    history(version()) = agg(model)

    // streaming: micro-batches through the snapshot sink
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String, Long)]
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
    def stream(b: Seq[Rec], i: Int): Unit = {
      ctx.call("streaming", s"batch$i") {
        if (query == null) query = mem.toDF().toDF("id", "part", "text", "amount")
          .writeStream.format("graft-snapshot-sink")
          .option("path", dir).option("partition", "part").option("checksum", "text")
          .option("checkpointLocation", root.getAbsolutePath + "/chk").start()
        mem.addData(b.map(x => (x.id, x.part, x.text, x.amount)))
        query.processAllAvailable()
      }
      b.foreach(x => model(x.id) = x)
      submitted += b.map(_.logicalBytes).sum
      history(version()) = agg(model)
    }
    batches.tail.zipWithIndex.foreach { case (b, i) => stream(b, i) }

    rounds.zipWithIndex.foreach { case ((upd, del), k) =>
      val travelTo = version()
      if (k % 2 == 0)
        ctx.call("sources", "upsert")(Snapshot.upsert(spark, dir, df(ctx, upd), "id", "part", "text"))
      else ctx.call("sources", "merge_sql") {
        df(ctx, upd).createOrReplaceTempView("churn_src")
        spark.sql(s"GRAFT SNAPSHOT MERGE '$dir' KEY id PARTITION part CHECKSUM text " +
          "WHEN MATCHED AND s.amount < 0 THEN DELETE WHEN MATCHED THEN UPDATE " +
          "WHEN NOT MATCHED THEN INSERT AS SELECT * FROM churn_src").collect()
      }
      note(ctx, "sources.merge_s")
      upd.foreach { u =>
        if (k % 2 == 1 && u.amount < 0 && model.contains(u.id)) model -= u.id
        else model(u.id) = u
      }
      submitted += upd.map(_.logicalBytes).sum
      history(version()) = agg(model)

      ctx.call("sources", "delete_mor")(Snapshot.deleteMorKeys(spark, dir, del, "id"))
      note(ctx, "sources.delete_mor_s")
      model --= del
      history(version()) = agg(model)

      val masked = ctx.call("sources", "read_masked")(maskedAgg(Snapshot.read(spark, dir)))
      note(ctx, "sources.read_masked_s")
      masked.foreach { rows =>
        ctx.check(ctx.lastCall, "read_masked:model") {
          val want = agg(model)
          if (aggOf(rows) == want) None else Some(s"got ${aggOf(rows)}, model $want")
        }
      }
      val old = ctx.call("sources", "read_version")(
        maskedAgg(Snapshot.readVersion(spark, dir, travelTo)))
      note(ctx, "sources.read_version_s")
      old.foreach { rows =>
        ctx.check(ctx.lastCall, "read_version:model") {
          val want = history(travelTo)
          if (aggOf(rows) == want) None else Some(s"v$travelTo got ${aggOf(rows)}, model $want")
        }
      }

      if (k % 2 == 0)
        ctx.call("sources", "apply_deletes")(Snapshot.applyMorDeletes(spark, dir, "part", "text"))
      else ctx.call("sources", "apply_deletes_sql")(
        spark.sql(s"GRAFT SNAPSHOT APPLY DELETES '$dir' PARTITION part CHECKSUM text").collect())
      note(ctx, "sources.apply_deletes_s")
      history(version()) = agg(model)
    }

    stream(lateBatch, batches.size - 1)
    ctx.call("streaming", "stop")(if (query != null) query.stop())
    if (ctx.tracing && query != null) {
      val ps = query.recentProgress.filter(_.numInputRows > 0)
      def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
      ctx.figure("streaming.batches", ps.length)
      ctx.figure("streaming.add_batch_s", ps.map(ms(_, "addBatch")).sum)
      ctx.figure("streaming.floor_s", ps.map(p => ms(p, "triggerExecution") - ms(p, "addBatch")).sum)
    }

    ctx.call("sources", "compact_sql")(
      spark.sql(s"GRAFT SNAPSHOT COMPACT '$dir' PARTITION part CHECKSUM text MAXFILES 1")
        .collect())
    note(ctx, "sources.compact_s")
    val (writtenBytes, filesAdded) = ctx.excluded(dirBytes(new File(dir)))
    ctx.call("sources", "vacuum")(Snapshot.vacuum(spark, dir, keepVersions = 1))
    note(ctx, "sources.vacuum_s")

    ctx.excluded {
      val (liveBytes, filesLive) = dirBytes(new File(dir))
      val logicalLive = model.values.map(_.logicalBytes).sum
      val final0 = Snapshot.read(spark, dir).select("id", "part", "text", "amount").collect()
      ctx.check(ctx.lastCall, "final_table:model") {
        val got = final0.map(r => r.getLong(0) -> Rec(r.getLong(0), r.getString(1),
          r.getString(2), r.getLong(3))).toMap
        if (got.size != final0.length) Some("duplicate keys in the final table")
        else if (got == model) None
        else Some(s"${(got.keySet -- model.keySet).size} extra, " +
          s"${(model.keySet -- got.keySet).size} missing, " +
          s"${(got.keySet & model.keySet).count(i => got(i) != model(i))} differing rows")
      }
      ctx.figure("sources.bytes_written_mb", writtenBytes / 1048576.0)
      ctx.figure("sources.files_added", filesAdded)
      ctx.figure("sources.files_live", filesLive)
      ctx.figure("sources.versions", Snapshot.currentVersion(spark, dir))
      ctx.figure("sources.write_amp", writtenBytes.toDouble / submitted)
      ctx.figure("sources.space_amp", liveBytes.toDouble / logicalLive)
      lastAmp = (writtenBytes.toDouble / submitted, liveBytes.toDouble / logicalLive)
      rm(root)
    }
  }

  override def notes(ctx: Ctx): Seq[String] = Seq(
    s"table_churn: ${batches.map(_.size).sum + lateBatch.size} rows in " +
      s"${batches.size + 1} batches, " +
      s"$Rounds rounds of $UpsertRows upserts and $DeleteKeys deletes")

  override def extraEndToEnd(ctx: Ctx): Seq[(String, Double, String)] = Seq(
    ("write_amp", lastAmp._1, "ratio"), ("space_amp", lastAmp._2, "ratio"))
}
