package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SizeDispatch

/** Both arms of every size-adaptive operator under the queries that
  * reach it: each query runs at sf0.001 once by default (every input
  * there is under its bound, so the driver mirrors run) and once inside
  * [[SizeDispatch.forcingDistributed]], and the two result multisets
  * must be equal. The dispatch log lines prove which arm each run took.
  * q_logit_fit / q_logit_fit_sampled are compared in LogitFitSpec.
  */
class DispatchArmsSpec extends AnyFunSuite with BeforeAndAfterAll
    with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** query → the dispatch sites it reaches */
  private val table = Seq(
    "q_hits_scores" -> Set("hits"),
    "q_dedup_pipeline" -> Set("cc"),
    "q_pagerank_centrality" -> Set("pagerank"),
    "q_label_propagation" -> Set("lpa"),
    "q_kcore" -> Set("kcore"),
    "q_modularity" -> Set("cc", "lpa"),
    "q_golden_record" -> Set("cc"),
    "q_logit_refit" -> Set("logit"))

  private object Capture extends AbstractAppender("dispatch-capture", null,
      null, true, Property.EMPTY_ARRAY) {
    val lines = new ConcurrentLinkedQueue[String]()
    def append(e: LogEvent): Unit =
      lines.add(e.getMessage.getFormattedMessage)
  }

  /** The query's rows as a multiset, with the dispatch lines it logged. */
  private def run(name: String): (Map[Seq[Any], Int], Seq[String]) = {
    Capture.lines.clear()
    val rows = SparkEntry.queries(name)(spark, sf).collect()
    CacheRegistry.releaseAll()
    (rows.toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) =>
      k -> v.size }, Capture.lines.asScala.toSeq)
  }

  private val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]

  override def beforeAll(): Unit = {
    Configurator.setLevel("graft.SizeDispatch", Level.INFO)
    val cfg = ctx.getConfiguration.getLoggerConfig("graft.SizeDispatch")
    Capture.start()
    cfg.addAppender(Capture, Level.INFO, null)
    cfg.setAdditive(false)
    ctx.updateLoggers()
  }

  override def afterAll(): Unit = {
    ctx.getConfiguration.getLoggerConfig("graft.SizeDispatch")
      .removeAppender(Capture.getName)
    Capture.stop()
    Configurator.setLevel("graft.SizeDispatch", Level.ERROR)
  }

  table.foreach { case (name, sites) =>
    test(s"$name: driver arm ≡ forced-distributed arm " +
      s"(${sites.toSeq.sorted.mkString(", ")})") {
      val (driver, driverLog) = run(name)
      val (dist, distLog) = SizeDispatch.forcingDistributed(run(name))
      sites.foreach { site =>
        assert(driverLog.exists(l =>
          l.startsWith(s"$site:") && l.endsWith("driver arm")),
          s"$site did not take the driver arm: $driverLog")
        assert(distLog.exists(l =>
          l.startsWith(s"$site:") && l.endsWith("distributed arm (forced)")),
          s"$site was not forced distributed: $distLog")
      }
      assert(driver.nonEmpty, "no rows")
      assert(driver === dist, "the two arms disagree")
    }
  }
}
