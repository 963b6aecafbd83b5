package graft.operators

import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Row}

/** The one "driver when small, distributed when large" decision behind
  * the size-adaptive operators: CC, LPA, PageRank, HITS and kCore
  * ([[Clusters]]) and the logit descent (TextQueries.fitLogitModel).
  *
  * Each site passes the size it already observed for free (the edge
  * truncation write, the logit stats job). At or below the site's bound
  * the input is collected ONCE here and the site's driver mirror runs
  * over the rows; otherwise the distributed arm runs, and it alone
  * builds whatever caches it needs. Every mirror replays its
  * distributed arm's integer arithmetic exactly, so the arm never
  * changes a result (ClustersSpec, LogitFitSpec and DispatchArmsSpec
  * compare both arms).
  *
  * The bounds are fixed, not settings: they size a driver-side table,
  * which is a property of the driver, not of the workload. A spec that
  * needs the distributed arm on small data wraps the call in
  * [[forcingDistributed]].
  */
private[graft] object SizeDispatch {

  /** Symmetric edges: 5·10⁵ (long, long) pairs ≈ 8 MB, the
    * autoBroadcastThreshold class. A graph that small gains nothing
    * from O(rounds) distributed iterations whose per-round fixed cost
    * (write job + observe + re-scan) dominates, and the mirror's result
    * comes back as a LocalRelation every consumer can broadcast.
    */
  val GraphEdges = 500000L

  /** Fit rows: 5·10⁵ rows of k+2 longs ≈ 40 MB, the same
    * broadcast-class bound applied to the logit slice.
    */
  val FitRows = 500000L

  private val forced = new DynamicVariable(false)
  private val log = org.slf4j.LoggerFactory.getLogger("graft.SizeDispatch")

  /** Evaluate `body` with every decision on this thread taking the
    * distributed arm, whatever the observed size.
    */
  def forcingDistributed[T](body: => T): T = forced.withValue(true)(body)

  /** Run `onDriver` over `input.collect()` when `0 < observed <= bound`
    * (and not [[forcingDistributed]]), else `distributed`. `input` is
    * only evaluated on the driver arm.
    */
  def apply[T](site: String, observed: Long, bound: Long,
               input: => DataFrame)(onDriver: Array[Row] => T)(
               distributed: => T): T = {
    val onDriverArm = !forced.value && observed > 0 && observed <= bound
    log.info(s"$site: observed $observed, bound $bound, " +
      (if (onDriverArm) "driver arm"
       else if (forced.value) "distributed arm (forced)"
       else "distributed arm"))
    if (onDriverArm) onDriver(input.collect()) else distributed
  }
}
