package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Driver-contract invariants: every declared query is oracle-checked
  * (or explicitly allowlisted rows-only), no orphaned oracle SQL, and no
  * name collisions across operator modules — `Map ++` would silently
  * drop a query if two modules reused a key — one session posture:
  * only `Graft` builds a SparkSession — and no settings read in library
  * code.
  */
class ContractSpec extends AnyFunSuite {

  // empty since round 7: q_profile_approx became oracle-gated by
  // reducing each engine's own sketch-vs-exact check to booleans
  private val rowsOnlyAllowlist = Set.empty[String]

  test("every query has oracle SQL or a documented rows-only waiver") {
    val missing = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- rowsOnlyAllowlist
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("no orphaned oracle SQL") {
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without queries: $orphaned")
  }

  test("no query-name collisions across modules") {
    val modules = Seq(
      "relational" -> RelationalQueries.queries.keySet,
      "text" -> TextQueries.queries.keySet,
      "vector" -> VectorQueries.queries.keySet,
      "events" -> EventQueries.queries.keySet,
      "multimodal" -> Multimodal.queries.keySet,
      "curation" -> Curation.queries.keySet,
      "winnow" -> Winnow.queries.keySet,
      "chunking" -> Chunking.queries.keySet,
      "neo" -> NeoQueries.queries.keySet,
      "hierarchy" -> Hierarchy.queries.keySet,
      "association" -> Association.queries.keySet,
      "experiments" -> Experiments.queries.keySet,
      "textrank" -> TextRank.queries.keySet,
      "search" -> Search.queries.keySet,
      "lifecycle" -> Lifecycle.queries.keySet,
      "sql_surface" -> SqlSurface.queries.keySet,
      "privacy" -> Privacy.queries.keySet,
      "sketches" -> Sketches.queries.keySet,
      "features" -> Features.queries.keySet,
      "ops_gate" -> OpsGate.queries.keySet,
      "countmin" -> CountMin.queries.keySet,
      "calibration" -> Calibration.queries.keySet,
      "zorder" -> ZOrder.queries.keySet,
      "stream_gate" -> graft.streaming.StreamGateQueries.queries.keySet)
    val perModule = modules.map(_._2.size).sum
    assert(SparkEntry.queries.size === perModule,
      s"merged ${SparkEntry.queries.size} != sum $perModule — a key collision dropped a query")
    for {
      (na, a) <- modules; (nb, b) <- modules if na < nb
    } assert(a.intersect(b).isEmpty, s"$na ∩ $nb = ${a.intersect(b)}")
  }

  test("SparkSession builders appear only in graft/Graft.scala") {
    val builderCall = """SparkSession\.builder\(""".r
    val sites = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.filter(p => builderCall.findFirstIn(Files.readString(p)).isDefined)
    assert(sites.map(_.toString) === Seq("src/main/scala/graft/Graft.scala"),
      "build sessions through Graft.newSession or tools.BenchSession")
  }

  test("library code reads no env vars or system properties") {
    // settings live in Graft, StageDirs, Bench, Verify and tools/ only:
    // a threshold knob added to an operator fails here
    val settingRead =
      """sys\.env|sys\.props|System\.getenv|System\.getProperty""".r
    val offenders = Seq("operators", "plans", "functions", "etl",
        "sources", "streaming").flatMap { dir =>
      val walk = Files.walk(Paths.get(s"src/main/scala/graft/$dir"))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.filter(p => settingRead.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty, s"settings read outside Graft/tools: $offenders")
  }
}
