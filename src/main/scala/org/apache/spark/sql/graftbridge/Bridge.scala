package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge for custom expressions.
  * `ExpressionUtils` is `private[sql]` in Spark 4's classic API, so the
  * two one-line forwarders live in an `org.apache.spark.sql` subpackage
  * (the documented pattern for libraries registering native expressions
  * without a SparkSessionExtensions FunctionRegistry entry). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until the listener bus has delivered all queued events.
    * `listenerBus` is `private[spark]`; the tools' census
    * (graft.tools.Census) needs a drain barrier so its counters attribute stage
    * metrics to the step that produced them instead of racing across
    * reset/read boundaries. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)

  /** Re-root an already-CACHED DataFrame at its InMemoryRelation — the
    * stats-preserving lineage firewall [[graft.util.Barriers.firewall]]
    * rides. Returning the relation itself as a leaf plan (rather than
    * `createDataFrame(df.rdd, schema)`, whose LogicalRDD reports the
    * stats-less default size) keeps two properties at once: (1) no
    * analyzer self-join rewrite can miss the cache, because consumers
    * embed the relation as a LEAF needing no CacheManager substitution;
    * (2) join planning still sees the relation's REAL materialized
    * size, so an id-scale barrier broadcasts instead of falling back to
    * a sort-merge join. `Dataset.ofRows`/`sharedState` are
    * `private[sql]`, hence the bridge. Throws if `df` is not cached. */
  def cachedLeaf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = cdf.sparkSession
    val cached = spark.sharedState.cacheManager
      .lookupCachedData(spark, cdf.logicalPlan)
      .getOrElse(throw new IllegalStateException(
        "cachedLeaf: frame is not cached"))
    // The leaf is a LogicalRDD over the frame's OWN execution RDD
    // (which reads through the InMemoryRelation — self-substitution is
    // the one lookup shape the analyzer can never rewrite away),
    // carrying the relation's materialized Statistics as originStats —
    // the localCheckpoint plan shape, minus the lineage truncation.
    // Exposing the CachedData's InMemoryRelation object directly is
    // NOT safe: self-join deduplication calls its withOutput, which
    // can reference attributes outside the relation's output and
    // throw; LogicalRDD.newInstance is the battle-tested dedup path.
    // Output attrs come from the caller's own analyzed plan, so names
    // and exprIds are exactly what the call site built.
    val qe = cdf.queryExecution
    // Tag the execution RDD: RDDScanExec appends the RDD's name to its
    // nodeName, so firewalled barriers print as
    // "Scan ExistingRDD graft_firewall" — distinguishable in plan
    // strings from unrelated LogicalRDD leaves (localCheckpoint
    // frames), which tools/CacheAudit counts separately.
    val rdd = qe.toRdd
    rdd.setName("graft_firewall")
    val leaf = org.apache.spark.sql.execution.LogicalRDD(
      qe.analyzed.output, rdd,
      org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(0),
      Nil, false, None)(
      spark, Some(cached.cachedRepresentation.computeStats()), None)
    org.apache.spark.sql.classic.Dataset.ofRows(spark, leaf)
  }

  /** Map a DataFrame at the INTERNAL-row level, skipping the
    * Row-encoder boundary entirely — for compute-heavy row functions
    * whose inputs/outputs are primitive-typed. `Dataset.map` with
    * `Encoders.row` pays deserializetoobject + serializefromobject on
    * every row: the serializer alone (per-field external-type
    * validation + boxing over a wide output schema) profiled at ~40%
    * of the CIPW queries' task CPU — 6x the actual math (r17 JFR).
    * Here the function reads the input's InternalRows (field order =
    * the analyzed output order) and returns catalyst values
    * (primitives, UTF8String, null); each output row is compacted
    * through one UnsafeProjection and copied, so downstream buffering
    * (sorts, caches) is safe. The result is a LogicalRDD leaf — the
    * same plan shape `Dataset.map`'s output feeds consumers, minus the
    * (de)serializer nodes. */
  def mapInternalRows(df: org.apache.spark.sql.DataFrame,
      outSchema: org.apache.spark.sql.types.StructType)(
      fn: org.apache.spark.sql.catalyst.InternalRow => Array[Any])
      : org.apache.spark.sql.DataFrame = {
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = cdf.sparkSession
    val rdd = cdf.queryExecution.toRdd.mapPartitions { it =>
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(outSchema)
      val holder = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(outSchema.length)
      it.map { ir =>
        val vals = fn(ir)
        var i = 0
        while (i < vals.length) { holder.update(i, vals(i)); i += 1 }
        proj(holder).copy(): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    val leaf = org.apache.spark.sql.execution.LogicalRDD(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(outSchema),
      rdd)(spark)
    org.apache.spark.sql.classic.Dataset.ofRows(spark, leaf)
  }

  /** Whether the session's CacheManager holds no cached plans —
    * `sharedState` is `private[sql]`; the barrier-lifecycle spec
    * asserts this returns to true after
    * [[graft.util.Barriers.releaseAll]]. */
  def cacheManagerIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Interpreted total ordering for any orderable Catalyst type
    * (structs included) — `TypeUtils.getInterpretedOrdering` is
    * `private[sql]`; [[graft.util.TopKRows]]' bounded heap needs it. */
  def interpretedOrdering(dt: org.apache.spark.sql.types.DataType)
      : Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)
      .asInstanceOf[Ordering[Any]]

  /** Orderability type check (`TypeUtils.checkForOrderingExpr` is
    * `private[sql]`) for custom aggregates over generic comparators. */
  def checkOrderable(dt: org.apache.spark.sql.types.DataType,
      caller: String)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    org.apache.spark.sql.catalyst.util.TypeUtils
      .checkForOrderingExpr(dt, caller)
}
