package graft.tools

import org.apache.spark.sql.SparkSession

/** ONE bench-protocol session builder, shared by [[graft.Bench]] and
  * every measurement probe (ExplainDump, StreamProgressProbe,
  * JobCountProbe): the library posture of [[graft.Graft.sessionBuilder]]
  * plus the measurement layer below. To price a few queries under the
  * bench protocol (caches released and GC before each rep, median of
  * 3), run Bench on just those: `SPARK_GRAFT_ONLY=q_a,q_b runMain
  * graft.Bench`.
  *
  * SPARK_GRAFT_EXTRA_CONF="k=v;k=v" (dev-only A/B hook — the driver
  * never sets it) is folded LAST, after every hard-coded conf, so
  * env-provided keys always win.
  */
object BenchSession {
  def builder(cpus: String): SparkSession.Builder = {
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2)).collect {
        case Array(k, v) => (k, v) }
    val base = graft.Graft.sessionBuilder(s"local[$cpus]", "graft-bench")
      // r16: the default generated-class cache (LRU 100 entries) thrashes
      // at 386 queries — every rep re-COMPILED every whole-stage fragment.
      // Compiled-code cache keyed on plan source text — never data.
      .config("spark.sql.codegen.cache.maxEntries", "20000")
    extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
  }
}
