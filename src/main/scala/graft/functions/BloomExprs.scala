package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Column wrapper over Spark's NATIVE bloom-filter aggregate (the same
  * machinery runtime row-group filtering uses; the probe side is the
  * compiled BloomContamCount kernel). Not exposed in the public function
  * registry, hence the bridge. */
object BloomExprs {

  /** Fold LONG values into one serialized bloom filter (binary blob).
    * Mergeable with map-side combine; the blob is numBits/8 bytes. */
  def bloomAgg(child: Column, expectedItems: Long, numBits: Long): Column =
    GraftBridge.column(
      new BloomFilterAggregate(GraftBridge.expression(child),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())
}
