package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Graft.localWorkerThreads]]: shuffle partitions must track the
  * ACTUAL worker-thread count for every local master form Spark accepts
  * — `local` runs one thread, and defaulting it to nproc (the old
  * behavior) fanned every small shuffle into nproc near-empty tasks.
  * Also pins the session posture [[Graft.newSession]] builds, on the
  * suite's own session.
  */
class GraftSessionSpec extends AnyFunSuite with SparkSpec {
  private val nproc = Runtime.getRuntime.availableProcessors

  test("local master forms map to their worker-thread counts") {
    assert(Graft.localWorkerThreads("local") === Some(1))
    assert(Graft.localWorkerThreads("local[7]") === Some(7))
    assert(Graft.localWorkerThreads("local[7,3]") === Some(7))
    assert(Graft.localWorkerThreads("local[*]") === Some(nproc))
    assert(Graft.localWorkerThreads("local[*,2]") === Some(nproc))
    assert(Graft.localWorkerThreads("local-cluster[2,3,1024]") ===
      Some(6))
  }

  test("cluster masters are left to site config") {
    assert(Graft.localWorkerThreads("yarn") === None)
    assert(Graft.localWorkerThreads("spark://host:7077") === None)
    assert(Graft.localWorkerThreads("k8s://https://host:443") === None)
    // malformed local-ish strings: never guess a thread count
    assert(Graft.localWorkerThreads("localhost") === None)
    assert(Graft.localWorkerThreads("local[]") === None)
  }

  test("the suite session carries the library posture") {
    assert(spark.sql(
      "SELECT bounded_topk(cast(id AS double), id, 2) FROM range(5)")
      .collect().length === 1)
    val conf = spark.conf
    assert(conf.get("spark.sql.optimizer.excludedRules")
      .contains("InferFiltersFromGenerate"))
    assert(conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") ===
      "false")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.streaming.stateStore.providerClass")
      .endsWith("RocksDBStateStoreProvider"))
    assert(conf.get("spark.sql.streaming.join.stateFormatVersion") === "3")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
  }
}
