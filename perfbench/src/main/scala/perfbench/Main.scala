package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, Graft, SparkEntry}
import graft.etl.{BronzeToSilver, SilverToGold}
import graft.sources.{BronzeIngest, FeedFetcher, Layout}
import graft.tools.PipelineRunner

/** Benchmark driver: runs one workload against graft's public entry
  * points and writes what it measured as JSON. `perfbench/run.py` makes
  * the inputs, starts this program with a plan file and judges the
  * output; this side only measures and reports raw results.
  *
  * Usage: perfbench.Main <plan.json> <result.json>
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val bench = plan.get("kind").asText match {
      case "board" => new BoardBench(plan)
      case "medallion" => new MedallionBench(plan)
      case "freeze" => new FreezeBench(plan)
      case other => throw new IllegalArgumentException(s"kind $other")
    }
    try bench.run()
    finally {
      bench.stop()
      Files.writeString(Paths.get(args(1)),
        mapper.writeValueAsString(bench.result))
    }
  }
}

/** One run: `setups` set-ups (session start plus warm-up), then
  * `batches` timed passes or feed days; or, traced, one set-up, an
  * untraced replay and a traced replay of the same work, whose ratio is
  * the tracing overhead. */
abstract class Bench(plan: JsonNode) {
  val cores: Int = plan.get("cores").asInt
  val batches: Int = plan.get("batches").asInt
  val traced: Boolean = plan.get("trace").asInt == 1
  val work: String = plan.get("work").asText
  val result = mutable.LinkedHashMap.empty[String, Any]
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val heap = mutable.ArrayBuffer.empty[Double]
  val layers = mutable.LinkedHashMap.empty[String, Any]
  result("ops") = ops
  result("heap_mb") = heap
  result("layers") = layers
  var spark: SparkSession = _

  def strings(key: String): Seq[String] =
    Option(plan.get(key)).toSeq.flatMap(_.elements.asScala.map(_.asText))

  /** Stop the current session, if any, and start a fresh one through the
    * library's own session builder. */
  def newSession(): SparkSession = {
    stop()
    spark = Graft.newSession(s"local[$cores]", "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(): Unit = if (spark != null) {
    CacheRegistry.releaseAll()
    spark.stop()
    spark = null
  }

  /** Time `body` as one operation. A failure is recorded, never thrown:
    * it counts against the run's error rate. `body` returns the
    * operation's observed result (rows, hashes) for the checker. */
  def op(kind: String, name: String)(body: => Map[String, Any]): Double = {
    val t0 = System.nanoTime()
    val rec =
      try body
      catch {
        case e: Throwable =>
          Map("error" -> Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("\\s+", " ").take(300))
      }
    val s = (System.nanoTime() - t0) / 1e9
    ops += rec ++ Map("kind" -> kind, "name" -> name, "s" -> s)
    s
  }

  /** Driver heap in use after graft's caches are released and a full
    * collection: the driver-side state that stays alive. */
  def sampleHeap(): Unit = {
    CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(100) // Spark's cleaner drops blocks of collected broadcasts
    System.gc()
    heap += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  /** Session start plus warm-up; `i` numbers the set-ups of a run. */
  def warmup(i: Int): Unit
  def timed(): Unit
  def tracedRun(): Unit

  def run(): Unit =
    if (traced) tracedRun()
    else {
      result("setup_s") = (1 to plan.get("setups").asInt).map { i =>
        stop() // stopping the previous session is not part of a set-up
        val t0 = System.nanoTime()
        newSession()
        warmup(i)
        (System.nanoTime() - t0) / 1e9
      }
      timed()
    }

  /** Traced set-up: the session and warm-up spans, and the JIT and
    * codegen work they cause. */
  def tracedSetup(tr: Trace): Unit = {
    val jit0 = Trace.jitSeconds
    val cg0 = CodeGenerator.compileTime
    val cgn0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    stop()
    tr.span("session") { newSession() }
    tr.span("session.warmup") { warmup(1) }
    layers("session.start_s") = tr.named("session").map(_.seconds).sum
    layers("session.warmup_s") = tr.named("session.warmup").map(_.seconds).sum
    layers("jvm.jit_s") = Trace.jitSeconds - jit0
    layers("session.codegen_compile_s") = (CodeGenerator.compileTime - cg0) / 1e9
    layers("session.codegen_classes") =
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgn0
  }

  /** Runs `body` twice, untraced and then traced into `tr`, and records
    * the tracing overhead as traced ÷ untraced − 1. */
  def replay(tr: Trace)(body: Option[Trace] => Unit): Unit = {
    val t0 = System.nanoTime()
    body(None)
    val untraced = (System.nanoTime() - t0) / 1e9
    tr.attach(spark)
    val gc0 = Trace.gcSeconds
    val t1 = System.nanoTime()
    body(Some(tr))
    val tracedS = (System.nanoTime() - t1) / 1e9
    layers("jvm.gc_s") = Trace.gcSeconds - gc0
    tr.detach(spark)
    layers("trace.overhead") = tracedS / untraced - 1
    result("spans") = tr.spanRecords
  }

  /** Record `keys` of `w` as `<prefix>.<key>`, each divided by `per`. */
  def putWork(prefix: String, w: Trace.Work, keys: Seq[String],
              per: Double = 1): Unit = {
    val all = Map[String, Double](
      "wall_s" -> w.wallS, "driver_s" -> w.driverS, "jobs" -> w.jobs,
      "schema_jobs" -> w.schemaJobs, "stages" -> w.stages,
      "tasks" -> w.tasks, "failed_tasks" -> w.failedTasks,
      "task_run_s" -> w.taskRunS, "task_cpu_s" -> w.taskCpuS,
      "task_gc_s" -> w.taskGcS, "sched_delay_s" -> w.schedDelayS,
      "slot_util" -> w.slotUtil, "shuffle_read_bytes" -> w.shuffleReadBytes,
      "shuffle_write_bytes" -> w.shuffleWriteBytes,
      "shuffle_bytes" -> (w.shuffleReadBytes + w.shuffleWriteBytes),
      "spill_bytes" -> w.spillBytes, "input_bytes" -> w.inputBytes,
      "bytes_read" -> w.inputBytes, "output_bytes" -> w.outputBytes,
      "rows_out" -> w.outputRows, "result_bytes" -> w.resultBytes,
      "planning_s" -> w.planningS, "batches" -> w.batches,
      "batch_s" -> w.batchS, "state_commit_s" -> w.stateCommitS,
      "state_rows_updated" -> w.stateRowsUpdated,
      "input_rows" -> w.inputRows)
    keys.foreach(k => layers(s"$prefix.$k") = all(k) / per)
  }
}

/** Board workloads: whole passes, one client, over a sample of
  * `SparkEntry.queries` in seeded order, under `Bench`'s per-query
  * hygiene. */
class BoardBench(plan: JsonNode) extends Bench(plan) {
  val data: String = plan.get("data").asText
  val queries: Seq[String] = strings("queries")
  locally {
    // a renamed or deleted query must fail the run, never shrink a pool
    val missing = (strings("pools") ++ queries).filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"not in SparkEntry.queries: ${missing.mkString(", ")}")
  }

  /** The graft module behind a query: the class that defines its entry
    * in `SparkEntry.queries`. */
  def module(q: String): String =
    SparkEntry.queries(q).getClass.getName.split("\\$").head
      .stripPrefix("graft.")

  def query(q: String, kind: String, hygiene: Boolean,
            tr: Option[Trace] = None): Double = {
    // the heap sample after each query's clean-up sees what every query
    // leaves behind once per pass, whatever the order
    if (hygiene) sampleHeap()
    else {
      CacheRegistry.releaseAll()
      spark.catalog.clearCache()
    }
    def body: Map[String, Any] = tr match {
      case None =>
        Map("rows" -> SparkEntry.queries(q)(spark, data).count())
      case Some(t) =>
        t.span("board.query", q) {
          val df = t.span("board.build", q) { SparkEntry.queries(q)(spark, data) }
          Map("rows" -> t.span("board.exec", q) { df.count() })
        }
    }
    op(kind, q)(body)
  }

  def warmup(i: Int): Unit = queries.foreach(query(_, "warmup", hygiene = false))

  def timed(): Unit = {
    (1 to batches).foreach(_ => queries.foreach(query(_, "query", hygiene = true)))
    hashes(queries.take(1))
  }

  /** Row count and order-independent content hash of each query's
    * result: the sum of a 64-bit hash of each row's columns, rendered as
    * strings in column-name order. */
  def hashes(qs: Seq[String]): Unit = qs.foreach { q =>
    op("hash", q) {
      CacheRegistry.releaseAll()
      spark.catalog.clearCache()
      val df = SparkEntry.queries(q)(spark, data)
      val order = df.columns.zipWithIndex.sortBy(identity).map(_._2)
      val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      val row = xxhash64(concat_ws("\u0001", order.toSeq.map(i =>
        coalesce(col(s"c$i").cast("string"), lit("\u0000"))): _*))
      val r = renamed.agg(count(lit(1)), sum(row.cast("decimal(20,0)")))
        .head()
      Map("rows" -> r.getLong(0), "module" -> module(q),
        "hash" -> Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
    }
  }

  def tracedRun(): Unit = {
    val tr = new Trace
    tracedSetup(tr)
    replay(tr) { t =>
      queries.foreach(query(_, if (t.isEmpty) "query" else "traced", true, t))
    }
    val qs = tr.named("board.query")
    putWork("board", tr.work(qs, cores), Seq("jobs", "stages", "tasks",
      "task_run_s", "task_cpu_s", "task_gc_s", "sched_delay_s", "slot_util",
      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
      "input_bytes", "output_bytes", "failed_tasks", "result_bytes",
      "planning_s", "schema_jobs", "driver_s"))
    layers("board.build_s") = tr.named("board.build").map(_.seconds).sum
    layers("board.exec_s") = tr.named("board.exec").map(_.seconds).sum
    qs.groupBy(s => module(s.op)).foreach { case (m, ss) =>
      putWork(m, tr.work(ss, cores), Seq("wall_s", "driver_s"))
    }
    putWork("streaming", tr.work(qs, cores), Seq("batches", "batch_s",
      "state_commit_s", "state_rows_updated", "input_rows"))
    hashes(queries)
  }
}

/** Medallion workloads: feed days through the bronze → silver → gold
  * pipeline, each followed by the serving reads over gold. */
final class MedallionBench(plan: JsonNode) extends Bench(plan) {
  private val feedDir = plan.get("feed").asText
  val warmDays: Seq[String] = strings("warm_days")
  val days: Seq[String] = strings("days")
  private val docs: Map[String, String] = (warmDays ++ days).map(d =>
    d -> Files.readString(Paths.get(feedDir, s"$d.json"))).toMap

  /** The NeoWs feed, served from memory: one document per day. */
  private object fetcher extends FeedFetcher {
    def fetch(startDate: String, endDate: String): String = {
      require(startDate == endDate, s"one day per fetch: $startDate..$endDate")
      docs(startDate)
    }
  }

  private val noRetry = PipelineRunner.RetryPolicy(retries = 0)
  private val tables = SilverToGold.tables.map(_._1)

  /** Data files (parquet) under `dir`, path → bytes. */
  def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  def lakeFiles(layout: Layout): Map[String, Long] =
    files(layout.silverAsteroids) ++ files(s"${layout.base}/gold")

  /** One feed day: `PipelineRunner.runRange` untraced; traced, the three
    * stages it runs, called one by one inside their spans. */
  def day(layout: Layout, date: String, kind: String,
          tr: Option[Trace]): Unit = {
    op(kind, date) {
      tr match {
        case None =>
          PipelineRunner.runRange(spark, layout, Seq(date), fetcher, noRetry)
        case Some(t) => t.span("day", date) {
          val n0 = lakeFiles(layout)
          t.span("sources.ingest", date) {
            BronzeIngest.ingest(spark, layout, date, fetcher) }
          t.span("etl.BronzeToSilver", date) {
            BronzeToSilver.run(spark, layout, date) }
          val n1 = lakeFiles(layout)
          t.span("etl.SilverToGold", date) {
            SilverToGold.run(spark, layout, date) }
          val n2 = lakeFiles(layout)
          def fresh(a: Map[String, Long], b: Map[String, Long]) =
            b.filter { case (p, _) => !a.contains(p) }
          val silver = fresh(n0, n1)
          val gold = fresh(n1, n2)
          bump("etl.BronzeToSilver.files_written", silver.size)
          bump("etl.BronzeToSilver.bytes_written", silver.values.sum)
          bump("etl.SilverToGold.files_written", gold.size)
          bump("etl.SilverToGold.bytes_written", gold.values.sum)
        }
      }
      Map.empty
    }
  }

  private def bump(key: String, v: Long): Unit =
    layers(key) = layers.getOrElse(key, 0L).asInstanceOf[Long] + v

  /** The serving surface after a day: register the gold views, read each
    * gold table in full (what the dashboard catalog does), and run a
    * star join over the four. */
  def serve(layout: Layout, date: String, kind: String,
            tr: Option[Trace]): Unit = {
    def sp[A](name: String)(body: => A): A =
      tr.fold(body)(_.span(name, date)(body))
    sp("serving") {
      op(s"$kind.register", date) {
        sp("serving.register") { Graft.serve(spark, layout.base) }
        Map("day" -> date)
      }
      tables.foreach { t =>
        op(s"$kind.read", t) {
          val r = sp("serving.query") {
            spark.sql(s"SELECT count(*), sum(hash(*)) FROM $t").head() }
          Map("day" -> date, "rows" -> r.getLong(0))
        }
      }
      op(s"$kind.star", date) {
        val rows = sp("serving.query") {
          spark.sql(
            """SELECT b.orbiting_body, d.year, d.month,
              |       count(*) AS approaches, avg(f.miss_km) AS avg_miss_km,
              |       max(a.absolute_magnitude_h) AS max_h
              |FROM fact_asteroid_approach f
              |JOIN dim_asteroid a ON f.sk_asteroid = a.sk_asteroid
              |JOIN dim_orbiting_body b
              |  ON f.sk_orbiting_body = b.sk_orbiting_body
              |JOIN dim_approach_date d
              |  ON f.sk_approach_date = d.sk_approach_date
              |GROUP BY b.orbiting_body, d.year, d.month""".stripMargin)
            .collect()
        }
        Map("day" -> date, "rows" -> rows.map(_.getLong(3)).sum)
      }
    }
  }

  /** Two small days on a throwaway lake: the first creates the gold
    * tables, the second takes the merge path every later day takes. */
  def warmup(i: Int): Unit = {
    val layout = Layout(s"$work/warm$i")
    warmDays.foreach(day(layout, _, "warmup", None))
    serve(layout, warmDays.last, "warmup.serve", None)
  }

  def timed(): Unit = {
    val layout = Layout(s"$work/lake")
    days.foreach { d =>
      day(layout, d, "day", None)
      serve(layout, d, "serve", None)
      sampleHeap()
    }
  }

  def tracedRun(): Unit = {
    val tr = new Trace
    tracedSetup(tr)
    var lakes = 0
    var lakeBytes = 0L
    replay(tr) { t =>
      lakes += 1
      val layout = Layout(s"$work/lake$lakes")
      days.foreach { d =>
        day(layout, d, if (t.isEmpty) "day" else "traced.day", t)
        serve(layout, d, if (t.isEmpty) "serve" else "traced.serve", t)
      }
      if (t.isDefined) {
        val gold = files(s"${layout.base}/gold")
        layers("gold.files") = gold.size
        layers("gold.bytes") = gold.values.sum
        lakeBytes = lakeFiles(layout).values.sum
      }
    }
    // per feed day from here on
    val n = days.size.toDouble
    val bronze = days.map(d =>
      docs(d).getBytes(StandardCharsets.UTF_8).length.toLong).sum
    def total(k: String) = layers.getOrElse(k, 0L).asInstanceOf[Long]
    val stages = Seq("etl.BronzeToSilver", "etl.SilverToGold")
    layers("lake.bytes_per_input_byte") = lakeBytes.toDouble / bronze
    layers("lake.written_per_input_byte") =
      stages.map(st => total(s"$st.bytes_written")).sum.toDouble / bronze
    for (st <- stages; k <- Seq("files_written", "bytes_written"))
      layers(s"$st.$k") = total(s"$st.$k") / n
    def stage(name: String, keys: String*): Unit = {
      val ss = tr.named(name)
      layers(s"$name.run_s") = ss.map(_.seconds).sum / n
      putWork(name, tr.work(ss, cores), keys, n)
    }
    stage("etl.BronzeToSilver", "jobs", "task_run_s", "input_bytes", "rows_out")
    stage("etl.SilverToGold", "jobs", "driver_s", "task_run_s",
      "shuffle_bytes", "bytes_read")
    val reads = tr.named("serving.query")
    putWork("serving", tr.work(reads, cores), Seq("jobs", "input_bytes"), n)
    layers("serving.query_s") = reads.map(_.seconds).sum / n
    layers("serving.register_s") =
      tr.named("serving.register").map(_.seconds).sum / n
    layers("sources.ingest_s") = tr.named("sources.ingest").map(_.seconds).sum / n
    layers("sources.bytes_in") = bronze / n
  }
}

/** Records each listed query's module, row count and content hash: the
  * source of the frozen `expected.json`. */
final class FreezeBench(plan: JsonNode) extends BoardBench(plan) {
  override def run(): Unit = {
    newSession()
    queries.foreach { q =>
      query(q, "warmup", hygiene = false)
      query(q, "query", hygiene = true)
    }
    hashes(queries)
  }
}
