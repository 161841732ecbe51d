package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val data = "data/sf0.01"
  private lazy val spark: SparkSession = Session.start(Files.createDirectories(Paths.get("target/test-work")))
  private lazy val reference = Reference.load(Paths.get("reference/outputs.json"))

  test("the timed action executes the top-level Sort that count() drops") {
    val df = SparkEntry.queries("q_win_rownum")(spark, data)
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s
    }.isDefined, "q_win_rownum is expected to end in a global sort")
    val counted = SparkEntry.queries("q_win_rownum")(spark, data).groupBy().count()
    assert(counted.queryExecution.optimizedPlan.collectFirst {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s
    }.isEmpty, "count() keeps no sort to execute")

    val (rows, digest) = Materialize(df)
    val sorts = collect(df.queryExecution.executedPlan) { case s: SortExec if s.global => s }
    assert(sorts.nonEmpty)
    assert(sorts.exists(_.metrics("sortTime").value > 0 || sorts.exists(_.metrics("peakMemory").value > 0)),
      "the global sort ran")
    assert(Reference.Expected(rows, digest) == reference("q_win_rownum"))
  }

  test("an id that throws is a failure, not a latency sample") {
    val queries = SparkEntry.queries + ("q_boom" -> ((_: SparkSession, _: String) =>
      throw new IllegalStateException("injected")))
    val runner = new BatchRunner(spark, data, queries, reference, new Tracer(false))
    val report = new Report
    val ok = BatchWorkload.score(Seq(runner.run("q_scan_parquet", "t/0"), runner.run("q_boom", "t/1")), report)
    assert(ok.map(_.id) == Seq("q_scan_parquet"))
    assert(report.attempted == 2 && report.failed == 1)
    assert(report.failureList.head.startsWith("q_boom: IllegalStateException: injected"))
    assert(report.okRatio == 0.5)
  }

  test("an output that differs from the reference is a failure") {
    val wrong = reference.updated("q_scan_parquet", Reference.Expected(1, 1))
    val runner = new BatchRunner(spark, data, SparkEntry.queries, wrong, new Tracer(false))
    val o = runner.run("q_scan_parquet", "t/2")
    assert(o.error.exists(_.startsWith("rows ")))
  }

  private val phases = Seq(LoadGen.Phase("a", 200, 1.0), LoadGen.Phase("b", 400, 0.5))

  test("the same seed generates byte-identical inputs and order; another seed does not") {
    assert(LoadGen.bytes(LoadGen.plan(7, phases)).sameElements(LoadGen.bytes(LoadGen.plan(7, phases))))
    assert(!LoadGen.bytes(LoadGen.plan(7, phases)).sameElements(LoadGen.bytes(LoadGen.plan(8, phases))))
    assert(Ids.order(Ids.workload, 7, 0) == Ids.order(Ids.workload, 7, 0))
    assert(Ids.order(Ids.workload, 7, 0) != Ids.order(Ids.workload, 8, 0))
  }

  test("a dropped or duplicated fix is a failure; a clean delivery is not") {
    val plan = LoadGen.plan(3, phases)
    assert(plan.map(_.kind).toSet == Set('v', 'm', 'i'))
    val sent = plan.map(r => r -> LoadGen.Sent(r.seq, if (r.kind == 'm') 400 else 200, 0L, 0L))
    val rows = plan.filter(_.kind == 'v').map(r => (r.id, LoadGen.wkt(r.lat, r.lon)))
    assert(IngestCheck(sent, rows).isEmpty)

    val report = new Report
    report.attempted = sent.size
    IngestCheck(sent, rows.tail).foreach(f => report.fail(f._2))
    assert(report.failed == 1 && report.failureList.head.contains("0 times"))
    assert(report.okRatio < 1.0)

    assert(IngestCheck(sent, rows :+ rows.head).map(_._2).exists(_.contains("2 times")))
    assert(IngestCheck(sent, rows :+ ((null, "POINT(0 0)"))).map(_._2) == Seq("unexpected row gps_id=null"))
    val swapped = rows.head.copy(_2 = "POINT(1.000000 2.000000)") +: rows.tail
    assert(IngestCheck(sent, swapped).map(_._2).exists(_.contains("geo_point")))
  }
}
