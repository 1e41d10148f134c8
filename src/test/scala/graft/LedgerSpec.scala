package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Ledger

/** `graft.tools.Ledger` on two cheap queries: an engine gate and a query
  * that reads a `Materialize` artifact. A fresh session over the shared
  * context starts with no artifacts, whatever other suites computed.
  */
class LedgerSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark.newSession()
  private val sf = SparkTestBase.sf
  private val names = Seq("x_engine_selected", "tx_bm25")
  private val mapper = new ObjectMapper()
  private lazy val tmp = Files.createTempDirectory("graft_ledger")
  private lazy val explainDir = tmp.resolve("plans")

  private lazy val lines: Seq[JsonNode] =
    Ledger.run(spark, sf, names, tmp.resolve("ledger.json"), Some(explainDir))
      .map(mapper.readTree)

  private def line(name: String) = lines.find(_.get("query").asText == name).get

  test("one JSON line per query with every layer's fields") {
    assert(lines.map(_.get("query").asText) == names)
    assert(Files.readAllLines(tmp.resolve("ledger.json")).asScala.map(mapper.readTree) == lines)
    val fields = Seq("rows", "wall_s", "plan.executions", "plan.analysis_s",
      "plan.optimization_s", "plan.planning_s", "sched.jobs", "sched.jobs.broadcast",
      "sched.stages", "sched.tasks", "sched.job_busy_s", "sched.driver_gap_s",
      "exec.cpu_s", "exec.run_s", "exec.gc_s", "shuffle.read_mb", "shuffle.write_mb",
      "spill.mb")
    lines.foreach { l =>
      fields.foreach(f => assert(l.get(f).isNumber, s"${l.get("query")}: $f"))
      assert(l.get("rows").asLong > 0)
      assert(l.get("sched.jobs").asInt > 0 && l.get("plan.executions").asInt > 0)
      assert(l.get("exec.cpu_s").asDouble > 0)
      val sites = l.get("sites").properties.asScala.toSeq.map(_.getValue)
      assert(sites.map(_.get("sched.stages").asInt).sum == l.get("sched.stages").asInt)
      assert(l.get("materialized").isArray)
    }
  }

  test("sched.jobs less broadcast builds equals JobCounter's count") {
    val gate = line("x_engine_selected")
    val (_, jobs) = JobCounter(spark)(SparkEntry.queries("x_engine_selected")(spark, sf).count())
    assert(gate.get("sched.jobs").asInt - gate.get("sched.jobs.broadcast").asInt == jobs)
  }

  test("--explain writes one non-empty plan per query execution") {
    names.foreach { n =>
      val plans = Files.list(explainDir).iterator.asScala
        .filter(_.getFileName.toString.startsWith(s"$n.")).toSeq
      assert(plans.size == line(n).get("plan.executions").asInt, n)
      plans.foreach(p => assert(Files.readString(p).contains("Physical Plan"), p))
    }
  }

  test("a Materialize key is listed on the run that computes it only") {
    assert(line("tx_bm25").get("materialized").elements.asScala.map(_.asText).toSeq ==
      Seq(s"bm25:$sf"))
    assert(line("x_engine_selected").get("materialized").isEmpty)
    val again = mapper.readTree(
      Ledger.run(spark, sf, Seq("tx_bm25"), tmp.resolve("again.json")).head)
    assert(again.get("materialized").isEmpty)
    assert(again.get("rows").asLong == line("tx_bm25").get("rows").asLong)
  }
}
