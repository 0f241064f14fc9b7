package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The one broadcast-or-shuffle decision of every size-gated operator
  * (q29, q43, q53, q55, q64, q65, q66, q77, q78, q83, q97, q103, q106,
  * q123, q125, q128, q131, q132). While the source's optimized-plan
  * size estimate is at most [[MaxSourceBytes]], the side the operator
  * derives from it (word-set lookup, model, index, drop set) is hinted
  * for broadcast; past it that side IS corpus-scale, so the join
  * shuffles on its key instead. The hint is explicit because Catalyst's
  * estimate for array columns overshoots the 10 MB auto-broadcast
  * threshold, and the gate sits far below Spark's hard 8 GB broadcast
  * ceiling because a multi-GB driver-held table is trouble long before
  * that.
  *
  * A plain function rather than a Catalyst rule: contamination's
  * fused-probe vs index-join choice is a different plan, not a join
  * hint, and a rule would be one more layer every caller still has to
  * know about.
  */
object SizeGate {

  val MaxSourceBytes: BigInt = BigInt(1L << 30)

  /** True while `source` is plausibly broadcast-sized. An RDD-backed
    * frame has no scan stats, so it reads `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue) and is never small. */
  def small(source: DataFrame): Boolean =
    source.queryExecution.optimizedPlan.stats.sizeInBytes <= MaxSourceBytes

  /** `broadcast` while `source` is small, identity past the gate —
    * decided once, then applied to each side one operator derives. */
  def broadcastIfSmall(source: DataFrame): DataFrame => DataFrame =
    if (small(source)) broadcast(_) else identity
}
