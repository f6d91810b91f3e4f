package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made `Column(Expression)` and friends `private[sql]`; graft's
  * Catalyst-level glue therefore lives in this `org.apache.spark.sql.graft`
  * package (standard extension-library pattern). Single choke point — the
  * public `graft.*` API never touches the classic backend directly.
  */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpr(c: Column): Expression   = ExpressionUtils.expression(c)

  /** `Observation.getOrEmpty` is `private[sql]` — it is the BOUNDED wait
    * (`get` blocks forever when the optimizer prunes the CollectMetrics
    * node from a degenerate plan), which callers need to fall back to a
    * direct aggregate instead of hanging. When the node IS pruned the
    * fired row is schema-less and `getOrEmpty` itself NPEs on
    * `row.schema.map` (Spark 4.1.2, Observation.scala:116) — that case
    * means "no observed metrics", so it maps to the empty result the
    * method name promises.
    */
  def observationGetOrEmpty(obs: org.apache.spark.sql.Observation): Map[String, Any] =
    try obs.getOrEmpty catch { case _: NullPointerException => Map.empty }

  /** `SparkSession.cloneSession()` is `private[sql]`: a full session-state
    * copy — temp views, registered functions, extensions, confs — over the
    * SHARED SparkContext. graft's per-statement `SETTINGS` scope runs each
    * scoped statement on a clone carrying the statement's confs, so the
    * scope (a) never mutates the caller's session and (b) stays LAZY: the
    * returned frame executes under the clone's conf whenever the caller
    * materializes it, no checkpoint pinning needed.
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** `DataType.sameType` (nullability-insensitive equality) is
    * `private[sql]` — graft's split sidecar read uses it to prove its
    * two scan branches agree before unioning them.
    */
  def sameType(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = a.sameType(b)

  /** `SparkSession.sessionUUID` is `private[sql]` — graft's built-frame
    * memo keys on it (unique per session, unlike an identity hashCode,
    * and weaker than pinning the session object itself).
    */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** The error `spark.read.parquet` raises for a missing path
    * (`PATH_NOT_FOUND`) — a read of a table with no directory fails the
    * way a parquet read of it always did. The factory is `private[sql]`.
    */
  def pathNotFound(qualifiedPath: String): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors
      .dataPathNotExistError(qualifiedPath)

  /** DataFrame over driver-held INTERNAL rows (a `LocalRelation`) —
    * the write side of graft's driver-side sidecar folds: a fold whose
    * inputs are already collected on the driver (the probe broadcast
    * maps) writes its result as one LocalTableScan job instead of
    * re-scanning + shuffling the sidecar files. `Dataset.ofRows` and
    * `LocalRelation(attrs, InternalRow)` are `private[sql]`.
    */
  def localFrame(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
        rows))

  /** DataFrame over an RDD of INTERNAL rows — `internalCreateDataFrame`
    * is `private[sql]`. The index save paths (r18) build internal rows
    * directly (primitive arrays via `UnsafeArrayData.fromPrimitiveArray`,
    * strings as UTF8String), skipping the per-row, per-cell runtime
    * converters that `createDataFrame(RDD[Row], schema)` applies.
    */
  def internalFrame(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Spark's own scan-split ceiling for a file set of the given total
    * size (`FilePartition.maxSplitBytes` is `private[sql]`): a parquet
    * file no larger than this is never split across scan tasks. The
    * no-shuffle index reload (r18) uses it to prove each saved cluster
    * file arrives WHOLE in exactly one task before skipping the
    * reassembly shuffle; past it the shuffled path stands.
    * `totalScanBytes` must already include the per-file open cost.
    */
  def maxSplitBytes(spark: org.apache.spark.sql.SparkSession,
      totalScanBytes: Long): Long =
    org.apache.spark.sql.execution.datasources.FilePartition.maxSplitBytes(
      spark, totalScanBytes)

  /** `spark.sql.files.openCostInBytes` (the conf accessor is
    * `private[sql]`).
    */
  def filesOpenCostInBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.filesOpenCostInBytes
}
