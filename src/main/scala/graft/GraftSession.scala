package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory for the engine.
  *
  * Mirrors the reference's single remote-engine connection
  * (ChatData builds one clickhouse+https SQLDatabase engine,
  * `app/backend/construct/build_retrievers.py:68-79`) — here the "engine" is
  * Spark itself, configured once:
  *   - shuffle partitions sized for the local[32] harness (NOT the 200
  *     default); on a real cluster this would be set per-job or left to AQE
  *     coalescing, which we enable.
  *   - AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  *     broadcast-join demotion are exactly the knobs that keep these plans
  *     healthy at 100 TB.
  *   - UTC session timezone so timestamp semantics match the DuckDB oracle.
  *   - graft function registry + analyzer rules installed via
  *     [[graft.plans.GraftExtensions]].
  */
object GraftSession {

  /** Install graft SQL functions and rules on an existing session (e.g. one
    * created by the driver harness, Verify, or Bench). Idempotent.
    */
  def install(spark: SparkSession): SparkSession = {
    graft.functions.Registry.registerAll(spark)
    // ANN top-k rewrite: experimental.extraOptimizations works on ANY
    // session (no extensions config needed); conf-gated, default off.
    val hasAnn = spark.experimental.extraOptimizations
      .exists(_.isInstanceOf[org.apache.spark.sql.graft.AnnTopKRule])
    if (!hasAnn) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          org.apache.spark.sql.graft.AnnTopKRule(spark)
    }
    // Vector-SQL exact top-k over a pinned PackedScan: declines unless
    // the answer provably equals Spark's plan, so it needs no gate.
    if (!spark.experimental.extraStrategies.contains(graft.plans.PackedTopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.PackedTopKStrategy
    }
    // Projection selection (ClickHouse ADD PROJECTION analog): no-op
    // unless a base table is registered in ProjectionCatalog.
    val hasProj = spark.experimental.extraOptimizations
      .exists(_.isInstanceOf[org.apache.spark.sql.graft.ProjectionRewrite])
    if (!hasProj) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          org.apache.spark.sql.graft.ProjectionRewrite(spark)
    }
    spark
  }

  /** Build a tuned local session (tests / ad-hoc use). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
  }
}
