package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `analytics`: the read-only graded query keys (aggregates, joins,
  * windows and the flexcalc analogs) through `SparkEntry.queries`, each
  * materialized with `queryExecution.toRdd.count()` as the graded bench
  * does. The seed only permutes key order.
  *
  * A pass runs every seventh of the 84 `a_`/`j_`/`w_`/`x_flex_` keys in
  * name order (12 keys, every family represented): each key costs about
  * 0.5 s warm and 1 s cold, almost all of it fixed per-query cost, and the
  * full set would not fit a run's time budget.
  */
final class Analytics extends Workload {
  val name = "analytics"
  val passSeconds = 4.0
  /** Fixture scale: every key here is bound by fixed per-query cost. */
  val Scale = 0.01
  val Prefixes = Seq("a_", "j_", "w_", "x_flex_")

  val Stride = 10

  private val keys = graft.SparkEntry.queries.toSeq
    .filter { case (k, _) => Prefixes.exists(k.startsWith) }.sortBy(_._1)
    .zipWithIndex.collect { case (kv, i) if i % Stride == 0 => kv }
  private var order: Seq[(String, graft.ops.T.Q)] = keys
  private var sfDir = ""

  /** key -> (rows, digest) recorded from an oracle-checked run. */
  private lazy val expected: Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream("/graft/perfbench/analytics_digests.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#")).map(_.split("\t")).map {
        case Array(k, n, d) => k -> (n.toLong, d)
      }.toMap
    finally in.close()
  }
  private val recorded = mutable.ArrayBuffer[(String, Long, String)]()

  def generate(ctx: Ctx): Unit = {
    sfDir = s"${ctx.workDir}/sf"
    Fixtures.write(ctx.spark, sfDir, Scale)
    order = new scala.util.Random(ctx.seed).shuffle(keys)
  }

  /** Row count plus an order-insensitive hash of every output row. */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val row = to_json(struct(named.columns.map(col).toIndexedSeq: _*))
    val r = named.select(xxhash64(row).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h"))).head()
    val sum64 = Option(r.getDecimal(1)).map(_.toBigInteger.longValue).getOrElse(0L)
    val xor = if (r.isNullAt(2)) 0L else r.getLong(2)
    (r.getLong(0), f"$sum64%016x-$xor%016x")
  }

  def pass(ctx: Ctx, warm: Boolean): Unit = {
    val spark = ctx.spark
    var exchanges = 0
    order.foreach { case (key, fn) =>
      // Warm-up and timed passes make the same call, so the warm-up
      // compiles what the timed passes run. The warm-up's check digests a
      // fresh frame (the call released the caches and checkpoints its own
      // frame relies on) and releases what that builds before the next call.
      var df: DataFrame = null
      val got = ctx.call("ops", key) {
        df = fn(spark, sfDir)
        df.queryExecution.toRdd.count()
      }
      got.foreach { n =>
        if (warm) ctx.check(ctx.lastCall, s"$key:digest") {
          val (dn, d) =
            try digest(fn(spark, sfDir)) finally graft.ops.T.releaseCaches(blocking = true)
          recorded += ((key, dn, d))
          expected.get(key) match {
            case None => Some("no recorded digest")
            case Some((en, ed)) if en == n && en == dn && (ed == d || ed == "*") => None
            case Some(e) => Some(s"got $n rows/$dn rows/$d, recorded ${e._1} rows/${e._2}")
          }
        }
        else ctx.check(ctx.lastCall, s"$key:rows") {
          expected.get(key).collect {
            case (e, _) if e != n => s"got $n rows, recorded $e"
          }.orElse(if (expected.contains(key)) None else Some("no recorded digest"))
        }
        if (ctx.tracing) {
          ctx.noteQe(df.queryExecution)
          exchanges += ctx.excluded(Plans.exchanges(df.queryExecution))
        }
      }
    }
    if (warm) sys.props.get("perfbench.record").foreach { f =>
      val lines = recorded.sortBy(_._1).map { case (k, n, d) => s"$k\t$n\t$d" }
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    ctx.figure("ops.exchanges", exchanges)
  }

  override def notes(ctx: Ctx): Seq[String] =
    Seq(s"analytics: ${keys.size} keys on generated fixtures at sf=$Scale: " +
      order.map(_._1).mkString(" "))
}
