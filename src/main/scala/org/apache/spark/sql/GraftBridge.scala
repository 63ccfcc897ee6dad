package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Constructs a DataFrame from a hand-built logical plan.
  * `Dataset.ofRows` is `private[sql]`, so the one call graft's custom
  * operators need lives in this bridge file inside the sql package — the
  * standard pattern for libraries that add their own LogicalPlan nodes.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Force-register the StateStoreCoordinator RPC endpoint (idempotent —
    * `StreamingQueryManager.stateStoreCoordinator` is a lazily-created
    * driver endpoint, but `private[sql]`). Needed before BATCH
    * `transformWithState`: RocksDB's snapshot-upload report calls the
    * coordinator, which otherwise only a started streaming query would
    * have registered, and a fresh batch session fails the store load
    * with RpcEndpointNotFound.
    */
  def ensureStateStoreCoordinator(spark: SparkSession): Unit =
    spark.asInstanceOf[classic.SparkSession].streams.stateStoreCoordinator

  /** Column over a hand-built Expression (`Column(expr)` is package-
    * private) — lets operator code use graft's codegen'd expressions
    * (ArrayDotProduct, ArrayL2Sq) without registry round-trips.
    */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The Catalyst Expression behind a Column (`Column.expr` left the
    * public API when Column became a ColumnNode wrapper in Spark 4).
    */
  def exprOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** The analyzed LogicalPlan behind a DataFrame — what a custom parser
    * returns for an eagerly-resolved statement (GraftSqlParser).
    */
  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.DataFrame].queryExecution.analyzed

  /** Re-tag a batch DataFrame as STREAMING — what a v1 streaming
    * `Source.getBatch` must return (MicroBatchExecution asserts
    * `isStreaming` on the returned plan; `internalCreateDataFrame` is
    * `private[sql]`, the same reason FileStreamSource builds its
    * batches inside the sql package). The physical work stays lazy:
    * `toRdd` is a plan, not a materialization.
    */
  def asStreamingFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val cls = spark.asInstanceOf[classic.SparkSession]
    val qe = df.asInstanceOf[classic.DataFrame].queryExecution
    cls.internalCreateDataFrame(qe.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse re-tag: the frame a v1 `Sink.addBatch` receives is
    * STREAMING-tagged (batch writers refuse it with "must be executed
    * with writeStream.start()"); re-wrap its already-planned rows as a
    * batch frame so the sink can drive ordinary writes.
    */
  def asBatchFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val cls = spark.asInstanceOf[classic.SparkSession]
    val qe = df.asInstanceOf[classic.DataFrame].queryExecution
    cls.internalCreateDataFrame(qe.toRdd, df.schema, isStreaming = false)
  }

  /** The session's bound SQL parser (`sessionState` is `private[sql]`) —
    * lets specs prove the parse/execute split of the lazy mutation
    * commands: `parsePlan` alone must commit nothing.
    */
  def sessionStateParser(
      spark: SparkSession): org.apache.spark.sql.catalyst.parser.ParserInterface =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser

  /** A CLONE of the session (same SparkContext, state copied) with the
    * given conf overrides — `cloneSession` is `private[sql]`. Used by
    * the delta-scan reader builder (sources/DeltaOps.scala) to bind
    * Spark's own parquet reader with vectorization OFF without mutating
    * the live session's conf mid-query: the row-level delta scan needs
    * a true row ITERATOR per file (physical positions counted as rows
    * stream), and `buildReaderWithPartitionValues` decides rows-vs-
    * batches from the session conf it is built against.
    */
  def sessionWithConf(spark: SparkSession,
      kv: (String, String)*): SparkSession = {
    val s = spark.asInstanceOf[classic.SparkSession].cloneSession()
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** `schema` with every field nullable, recursively — what a file
    * source's relation reports for the schema it reads from a footer
    * (`StructType.asNullable` is `private[spark]`).
    */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** The session's merged Hadoop conf (`sessionState` is
    * `private[sql]`) — what file-format reader builders expect.
    */
  def hadoopConfOf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** A SIBLING session over the SAME SparkContext with `install`ed
    * extensions — the device that lets extension-dependent surfaces
    * (the injected parser; packaged functions/rules) be graded from a
    * session that was built plain: extensions bind at session
    * construction, so a new session is the only way to add a parser.
    * Built through the public builder (`withExtensions` + getOrCreate
    * reusing the live SparkContext); the active/default session is
    * cleared for the construction and RESTORED in a finally, so the
    * calling session stays the harness default throughout.
    */
  def sessionWithExtensions(spark: SparkSession,
      install: SparkSessionExtensions => Unit): SparkSession = {
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(e => install(e)).getOrCreate()
    finally {
      prevActive.fold(SparkSession.clearActiveSession())(
        SparkSession.setActiveSession)
      prevDefault.fold(SparkSession.clearDefaultSession())(
        SparkSession.setDefaultSession)
    }
  }
}
