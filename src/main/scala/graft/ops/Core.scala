package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Shared helpers for all operator groups (SURVEY.md §2b).
  *
  * Determinism idioms (SURVEY.md §7.3):
  *  - `dec`: per-row cast to DECIMAL(38,6) before SUM so the aggregate is
  *    exact and identical across Spark and the DuckDB oracle (R2).
  *  - `avgDec`: exact decimal sum → double → divide → decimal. Avoids
  *    engine-specific decimal-division result types.
  */
private[graft] object T {
  /** Read one driver-generated parquet table (TESTDATA.md), with every
    * timestamp column normalized through [[normalizeTs]]. The driver has
    * regenerated /root/testdata between rounds before (r8→r9 flipped
    * `events.ts` from TIMESTAMP(NANOS) to timestamp[us] and broke 20
    * contract keys whose reader assumed the old encoding) — so ALL
    * tables go through one schema-conditional normalizer, not just the
    * table that happened to be hit last time: `o_orderdate`/`l_shipdate`
    * have exactly the same exposure.
    */
  def t(s: SparkSession, sfDir: String, name: String): DataFrame = {
    // harmless when no ns columns exist; REQUIRED to even read a
    // TIMESTAMP(NANOS) parquet (Spark 4 rejects it outright otherwise)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Schema memo per fixture path (metadata only — what a catalog does
    // for any registered table): the fixture files are immutable for a
    // process lifetime, and re-running footer inference on EVERY
    // DataFrame construction costs tens of ms per table per query —
    // across a multi-hundred-query session, whole seconds of pure
    // driver-side re-inference. The memoized StructType is the RAW
    // physical schema (pre-normalizeTs), so the ns-as-long dispatch
    // below still sees exactly what inference saw.
    val path = s"$sfDir/$name.parquet"
    // Size-capped (memoGet): the key set is fixture-table-sized in a
    // bench run, but a long-lived service calling with ever-new paths
    // must not grow driver memory without bound (r18 advice).
    val sch = memoGet(schemaMemo, path)(s.read.parquet(path).schema)
    normalizeTs(s.read.schema(sch).parquet(path))
  }

  private[graft] val schemaMemo =
    scala.collection.concurrent.TrieMap
      .empty[String, org.apache.spark.sql.types.StructType]

  /** Entry cap of the driver-side memos ([[memoGet]] / [[memoPut]]). */
  private val MemoCap = 256

  /** Put into a size-capped memo: a NEW key at the cap first evicts ONE
    * arbitrary entry. Evicting one (not clearing all) keeps the entries
    * a writer that seeds the memo on every commit has just added; a
    * lost entry of a pure cache costs one recompute.
    */
  private[graft] def memoPut[K, V](memo: scala.collection.concurrent.TrieMap[K, V],
      key: K, value: V): Unit = {
    if (!memo.contains(key) && memo.size >= MemoCap)
      memo.keysIterator.take(memo.size - MemoCap + 1).toList.foreach(memo.remove)
    memo.put(key, value)
    ()
  }

  /** Get-or-compute on a size-capped memo (see [[memoPut]]). */
  private[graft] def memoGet[K, V](memo: scala.collection.concurrent.TrieMap[K, V],
      key: K)(compute: => V): V =
    memo.getOrElse(key, { val v = compute; memoPut(memo, key, v); v })

  /** One extensions-enabled sibling session per BASE session, memoized:
    * extension binding happens at session construction, so every
    * GRAFT-SQL-door query paid a fresh builder().withExtensions()
    * session (SessionState, analyzer, registries) per invocation —
    * pure fixed cost. Sharing is safe for the query lambdas because
    * each one namespaces its own state (key-unique temp view names,
    * key-unique catalog names) and re-registers it on every call.
    * Weak keys: a dropped base session must not pin its sibling.
    */
  def extSession(s: SparkSession): SparkSession =
    extSessionMemo.synchronized {
      var e = extSessionMemo.get(s)
      if (e == null) {
        e = org.apache.spark.sql.GraftBridge.sessionWithExtensions(
          s, new graft.plans.GraftExtensions)
        extSessionMemo.put(s, e)
      }
      e
    }

  private val extSessionMemo =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** One PLAIN (no extensions) sibling session per base session,
    * memoized — the extSession twin for the plain-session DSv2 keys,
    * whose graded semantic is "a session carrying only a catalog conf":
    * sharing keeps that semantic while dropping the per-invocation
    * SessionState build; catalog names must come from [[freshName]].
    */
  def plainSession(s: SparkSession): SparkSession =
    plainSessionMemo.synchronized {
      var e = plainSessionMemo.get(s)
      if (e == null) {
        e = s.newSession()
        plainSessionMemo.put(s, e)
      }
      e
    }

  private val plainSessionMemo =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** Invocation-unique identifier (catalog names on the shared
    * extensions session): Spark caches catalog INSTANCES per session by
    * name, so a re-invoked fixture that re-points a fixed name at a
    * fresh scratch root would silently keep serving the old root — a
    * fresh name per invocation gets a fresh instance, and the handful
    * of stale entries in the session's CatalogManager are inert.
    * Known slow growth (r18 advice, accepted): each name leaves one
    * `spark.sql.catalog.<name>` conf pair + catalog instance on the
    * shared sibling session for its lifetime — bytes per invocation, so
    * even a service running millions of fixture invocations accrues only
    * MBs; reclaiming would mean rebuilding the sibling session, which is
    * exactly the per-invocation fixed cost the sharing removed.
    */
  def freshName(prefix: String): String =
    s"${prefix}_${freshNameCounter.incrementAndGet()}"

  private val freshNameCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Known timestamp-bearing fixture columns: the ONLY names the ns-as-
    * long shim may fire for (a LongType column with any other name is a
    * genuine bigint and must pass through untouched).
    */
  private val tsColumns = Set("ts", "o_orderdate", "l_shipdate")

  /** Schema-conditional timestamp normalization — dispatch on the
    * OBSERVED column type, never on documentation (SURVEY §1.2):
    *
    *  - LongType under a known timestamp name: the TIMESTAMP(NANOS)
    *    encoding surfaced as raw INT64 by `nanosAsLong=true` → truncate
    *    nanos → µs timestamp, the same value DuckDB sees after its own
    *    date_trunc to ≥ms.
    *  - tz-adjusted TimestampType (parquet isAdjustedToUTC=true): cast
    *    to NTZ — session tz is pinned UTC, so wall-clock values are
    *    unchanged, and emitted schemas stay naive end to end (DuckDB
    *    reads tz-adjusted parquet as TIMESTAMPTZ while the oracle emits
    *    naive TIMESTAMP; a strict compare rejects the type drift).
    *  - timestamp[us] isAdjustedToUTC=false (current generation): Spark
    *    already reads TIMESTAMP_NTZ; cast is a no-op.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case LongType if tsColumns(f.name) =>
          acc.withColumn(f.name,
            expr(s"cast(timestamp_micros(${f.name} div 1000) as timestamp_ntz)"))
        case TimestampType =>
          acc.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
        case _ => acc
      }
    }
  }

  /** The events table (kept for callers that name it explicitly). */
  def events(s: SparkSession, sfDir: String): DataFrame =
    t(s, sfDir, "events")

  /** One scratch directory per (JVM, prefix), removed at JVM exit — the
    * shared device for keys whose contract includes a WRITE phase
    * (layout/lifecycle keys build their table once per session and the
    * graded read phase reuses it).
    */
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(p.toFile)
    }))
    p.toString
  }

  def dec(c: Column): Column = c.cast("decimal(38,6)")

  /** date_trunc that STAYS TIMESTAMP_NTZ. Spark's date_trunc coerces NTZ
    * input back to the tz-adjusted TimestampType, which round-trips
    * through parquet as TIMESTAMPTZ and breaks type parity with the naive
    * oracle timestamps — so every event-time truncation goes through here.
    */
  def truncNtz(unit: String, c: Column): Column =
    org.apache.spark.sql.functions.date_trunc(unit, c).cast("timestamp_ntz")

  /** events with the standard ms-truncated NTZ event-time column — the
    * shared starting frame for every event-time query (groups T and the
    * x_flex analogs).
    */
  def evMs(s: SparkSession, sfDir: String): DataFrame =
    t(s, sfDir, "events").withColumn("ts_ms",
      truncNtz("millisecond", org.apache.spark.sql.functions.col("ts")))

  /** Deterministic cross-engine average: exact decimal sum / count. */
  def avgDec(sumDec: Column, cnt: Column): Column =
    (sumDec.cast("double") / cnt).cast("decimal(38,6)")

  /** Canonical EMITTED form of a decimal (§7.3 R6): the graded comparator
    * hashes pandas frames, where Spark parquet DECIMAL loads as object
    * (java BigDecimal) and the oracle's result as float64 — equal values,
    * different hashes. So aggregates stay DECIMAL internally (exact,
    * order-independent) and the FINAL projection emits round(double, 6),
    * which is bit-identical across engines for equal decimal inputs.
    */
  def decOut(c: Column): Column =
    org.apache.spark.sql.functions.round(c.cast("double"), 6)

  /** Canonical emitted average: exact decimal sum → double → divide →
    * round. Replaces avgDec in final projections (§7.3 R6). */
  def avgOut(sumDec: Column, cnt: Column): Column =
    org.apache.spark.sql.functions.round(sumDec.cast("double") / cnt, 6)

  /** Canonical string form of a NUMERIC array (§7.3 R6: the comparator
    * can't hash array cells at all). Fixed-scale rendering via
    * double → DECIMAL(28,6) → string is character-identical across
    * engines (verified: half-up rounding, "0.500000" padding, -1e-7 →
    * "0.000000" on both); empty array → "" (oracle side coalesces its
    * NULL string_agg to '' to match).
    */
  def numArrStr(c: Column): Column = {
    import org.apache.spark.sql.functions.{concat_ws, transform}
    concat_ws(",", transform(c,
      v => v.cast("double").cast("decimal(28,6)").cast("string")))
  }

  /** Canonical string form of a STRING array (§7.3 R6). */
  def strArrStr(c: Column): Column =
    org.apache.spark.sql.functions.concat_ws(",", c)

  /** Canonical string form of a MAP built from sorted entries (§7.3 R6):
    * "k:v|k:v" in key order. map_entries preserves the construction order,
    * so callers must build the map from a sorted entry array.
    */
  def mapStr(m: Column): Column = {
    import org.apache.spark.sql.functions.{concat, concat_ws, lit, map_entries, transform}
    concat_ws("|", transform(map_entries(m),
      e => concat(e.getField("key").cast("string"), lit(":"),
        e.getField("value").cast("string"))))
  }

  /** Spread a small-but-expensive DataFrame across the cluster. The test
    * tables are single parquet files → one input split → heavy per-row work
    * (pair-generation against a broadcast side) lands in ONE task. A
    * round-robin repartition to the shuffle parallelism restores full-core
    * utilization; at 100 TB the same call sizes the probe side of a
    * broadcast join to the cluster, and a skewed shuffle join would use
    * salting instead (documented at the call sites).
    */
  def fan(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** Persisted intermediates awaiting release (see [[cached]]). */
  private val liveCaches = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** localCheckpoint'd RDDs awaiting release (see [[checkpointed]]). */
  private val liveCheckpoints =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()

  /** The persisted RDD backing a localCheckpoint'd frame. Checkpoint
    * blocks are NOT freed by `DataFrame.unpersist` (the frame's plan is a
    * LogicalRDD leaf, not an InMemoryRelation) — without an explicit
    * rdd-level unpersist they die only when the RDD object is GC'd, so a
    * long multi-query session accumulates them in storage memory (the
    * round-7 pass-2 hazard).
    */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** localCheckpoint + leak-proofing — the checkpoint twin of [[cached]]:
    * truncates lineage (per-round plans in driver loops stay flat) and
    * registers the backing RDD so [[releaseCaches]] frees its blocks once
    * the consuming query has materialized. `eager = false` lets the
    * CALLER's next action be the one materialization (a driver loop's
    * convergence count doubles as the checkpoint job); pass true when no
    * such action follows.
    *
    * Freeing is safe only after the frame is truly dead: lineage is
    * truncated, so a consumer arriving after the blocks are dropped
    * cannot recompute — it throws. The harness calls releaseCaches
    * strictly after each query's materialization, and loop-internal
    * frees go through [[freeCheckpoint]] on provably superseded rounds.
    */
  def checkpointed(df: DataFrame, eager: Boolean = false): DataFrame = {
    val cp = df.localCheckpoint(eager)
    checkpointRdd(cp).foreach(liveCheckpoints.add)
    cp
  }

  /** Free a [[checkpointed]] frame's blocks NOW (idempotent; also still
    * registered for the harness-level release, where a second unpersist
    * is a no-op).
    */
  def freeCheckpoint(df: DataFrame, blocking: Boolean = false): Unit =
    checkpointRdd(df).foreach(_.unpersist(blocking))

  /** persist() + leak-proofing. The §2b query contract returns a LAZY
    * frame, so a query lambda can never unpersist its own intermediates
    * (cleanup before return would forfeit the multi-consumer reuse the
    * persist exists for). Registering here lets the harness mains
    * (Bench/Verify) call [[releaseCaches]] after each query
    * materializes — a 104-query session no longer accumulates every
    * signature/mask frame in storage memory until LRU eviction.
    */
  def cached(df: DataFrame): DataFrame = {
    df.persist()
    liveCaches.add(df)
    df
  }

  /** Unpersist every frame registered since the last call (idempotent —
    * frames already unpersisted by their operator are a no-op).
    *
    * @param blocking pass true from a timing harness: async cleanup of one
    *        query's frames otherwise lands inside the NEXT query's timed
    *        window (the round-5 x_dedup_exact +2 s phantom). Default stays
    *        async for non-timed callers.
    */
  def releaseCaches(blocking: Boolean = false): Unit = {
    var df = liveCaches.poll()
    while (df != null) {
      df.unpersist(blocking)
      df = liveCaches.poll()
    }
    var rdd = liveCheckpoints.poll()
    while (rdd != null) {
      rdd.unpersist(blocking)
      rdd = liveCheckpoints.poll()
    }
  }

  type Q = (SparkSession, String) => DataFrame
}
