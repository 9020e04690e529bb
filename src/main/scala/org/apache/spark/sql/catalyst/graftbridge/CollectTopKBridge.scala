package org.apache.spark.sql.catalyst.graftbridge

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectTopK, TypedImperativeAggregate}

/** Bridge to Spark's `private[catalyst]` exact top-k aggregate, which has
  * no SQL or Column API in 4.1. (The companion `apply` does not resolve
  * from outside Spark; the constructor does.)
  */
object CollectTopKBridge {
  /** The `k` smallest non-null values of `e` in ascending sort order,
    * duplicates kept: `CollectTopK` with `reverse = true`.
    */
  def firstK(e: Expression, k: Int): TypedImperativeAggregate[_] =
    new CollectTopK(e, k, true, 0, 0)

  /** The `k` largest non-null values of `e` in descending sort order,
    * duplicates kept: `CollectTopK` with `reverse = false`.
    */
  def lastK(e: Expression, k: Int): TypedImperativeAggregate[_] =
    new CollectTopK(e, k, false, 0, 0)
}
