package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graft.RewriteMustHaveColumns

import graft.functions.Registry

/** `spark.sql.extensions=graft.plans.GraftExtensions` installs the whole
  * engine surface on session construction: the Vector-SQL function dialect
  * (SURVEY.md §2.8), graft's native expressions, the must-have-columns
  * projection rewrite (SURVEY §2.2 P2) and the pinned Vector-SQL top-k
  * planner ([[PackedTopKStrategy]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Registry.injectable.foreach(ext.injectFunction)
    ext.injectResolutionRule(RewriteMustHaveColumns.apply)
    // Vector-SQL top-k served from a pinned PackedScan when provably exact
    ext.injectPlannerStrategy(_ => PackedTopKStrategy)
    // CH clause dialect (PREWHERE / LIMIT BY / SAMPLE / FORMAT / GLOBAL)
    // straight through spark.sql — see graft.operators.ChSql
    ext.injectParser((_, delegate) => new ChDialectParser(delegate))
  }
}
