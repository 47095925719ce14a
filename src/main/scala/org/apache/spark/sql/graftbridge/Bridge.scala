package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Column ⇄ Expression bridge, and a frame over a cache entry. Spark 4
  * moved the classic Column-from-Expression constructors behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`); a
  * library shipping custom Catalyst expressions needs exactly these two
  * calls, so this object lives in a `sql` subpackage to reach them — the
  * same approach used by public Spark-extension libraries on 4.x. The
  * cache manager and `Dataset.ofRows` are `private[sql]` too.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame whose logical plan is `cached`'s own cache entry, its
    * `InMemoryRelation`, instead of the lineage that fills it. A plan
    * built on it analyses one leaf where the lineage would be
    * re-analysed at every step, and still executes through
    * `InMemoryTableScan`, with its column pruning and size statistics.
    * Release the cache through `cached` itself: `unpersist` on the
    * leaf finds no entry. Fails when `cached` is not cached.
    */
  def cachedLeaf(cached: DataFrame): DataFrame = {
    val ds = cached.asInstanceOf[Dataset[_]]
    val entry = ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .getOrElse(throw new IllegalArgumentException(
        "cachedLeaf needs a cached frame; call cache() first"))
    Dataset.ofRows(ds.sparkSession, entry.cachedRepresentation)
  }
}
