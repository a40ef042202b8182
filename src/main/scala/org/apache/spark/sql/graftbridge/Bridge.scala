package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `org.apache.spark.sql`-private helpers.
  *
  * Spark 4's `Column` wraps a `ColumnNode` rather than a Catalyst
  * `Expression`; the conversion helpers live in `classic.ExpressionUtils`,
  * which is `private[sql]`. Declaring this object inside the
  * `org.apache.spark.sql` package tree is the standard extension-library
  * technique for reaching such internals (used by Delta, Sedona, etc.).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The classic (non-Connect) session implementation behind the API. */
  def classicSession(s: SparkSession): org.apache.spark.sql.classic.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** DataFrame from a logical plan (classic Dataset.ofRows). */
  def ofRows(
      s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classicSession(s), plan)

  /** The persisted RDD behind a `localCheckpoint`ed Dataset (its analyzed
    * plan is a LogicalRDD). `Dataset.unpersist` only clears CacheManager
    * entries — checkpoint blocks are RDD-level and need an RDD-level
    * unpersist, or they linger until the object is GC'd and show up as
    * leaked caches in `sparkContext.getPersistentRDDs`.
    */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Membership predicate as a SINGLE Catalyst `InSet` node. The public
    * `isin`/`isInCollection` build an `In` with ONE CHILD PER VALUE, so a
    * 10k-key predicate becomes a 10k-node analyzed subtree that every
    * later plan copy, canonicalization (cache lookup/unpersist!), and
    * transform walks — measured at SECONDS of driver time per
    * incremental-curation fold (round 13). `InSet` holds the values in
    * one hash set: O(1) tree size, O(1) row eval, still translated to a
    * data-source In filter for parquet pushdown.
    */
  def inSetLong(c: Column, values: Iterable[Long]): Column =
    // Raw InSet does NO type coercion: a boxed Integer from an int
    // column never equals the boxed Longs in the set, so membership
    // would be silently always-false. Cast the child to long — a no-op
    // (removed by SimplifyCasts) when the column is already LongType,
    // so parquet pushdown of the common case is unaffected.
    column(org.apache.spark.sql.catalyst.expressions.InSet(
      expression(c.cast("long")), values.map(v => v: Any).toSet))

  /** String variant — `InSet` compares Catalyst-internal values, so the
    * set must hold `UTF8String`, not `java.lang.String`. Same coercion
    * hazard as [[inSetLong]]: cast the child to string (no-op on
    * StringType columns).
    */
  def inSetString(c: Column, values: Iterable[String]): Column =
    column(org.apache.spark.sql.catalyst.expressions.InSet(
      expression(c.cast("string")),
      values.map(v =>
        org.apache.spark.unsafe.types.UTF8String.fromString(v): Any).toSet))

  /** The id of the cached-column-buffer RDD backing a persisted Dataset
    * (CacheManager → InMemoryRelation → CachedRDDBuilder). This is the id
    * `SparkContext.getRDDStorageInfo` reports the frame's storage under,
    * so a caller can size ONE frame's footprint instead of diffing global
    * storage sums (which misattributes concurrent cache/unpersist
    * activity). None when the frame is not registered with the
    * CacheManager.
    */
  def cachedRddId(df: DataFrame): Option[Int] = {
    val cs = classicSession(df.sparkSession)
    cs.sharedState.cacheManager
      .lookupCachedData(cs, df.queryExecution.analyzed)
      .map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id)
  }

  /** `cols` analyzed against a relation of `schema` and bound to its
    * ordinals: expressions a task can evaluate on that schema's rows
    * (functions resolved, casts carrying the session time zone). No job
    * runs; the relation is empty.
    */
  def boundExprs(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      cols: Seq[Column]): Seq[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences}
    val rel = org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema))
    val plan = ofRows(s, rel).select(cols: _*).queryExecution.analyzed
    plan.expressions.map { e =>
      val inner = e match { case a: Alias => a.child; case x => x }
      BindReferences.bindReference(inner, rel.output)
    }
  }
}
