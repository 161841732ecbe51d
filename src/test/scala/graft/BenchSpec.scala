package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

/** Bench fails loud: a query that throws is named in `failed_ids`,
  * never timed into the headline, and turns the run's tier "failed". */
class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def field(json: String, key: String): String = {
    val m = ("\"" + key + "\":(\\{[^}]*\\}|\\[[^\\]]*\\]|[^,}]*)").r
      .findFirstMatchIn(json)
    assert(m.isDefined, s"$key missing from $json")
    m.get.group(1)
  }

  test("a throwing id lands in failed_ids and leaves value, steady_total and the rewarm set") {
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "q_ok" -> SparkEntry.queries("q_scan_parquet"),
      // builds fine, throws when the timed count executes it
      "q_boom" -> ((s, _) => s.range(1).filter(udf { (x: Long) =>
        if (x >= 0) throw new IllegalStateException("injected"); true
      }.apply(col("id"))).toDF()))
    val (_, full, line) = Bench.run(spark, TestSpark.sf, "4", queries)
    for (json <- Seq(full, line)) {
      assert(field(json, "failed_ids") == "[\"q_boom\"]")
      assert(field(json, "sentinel_tier") == "\"failed\"")
    }
    // artifact: single-pass and steady maps hold only the surviving id
    assert(field(full, "value") == field(field(full, "queries"), "q_ok"))
    assert(field(full, "steady_total") == field(field(full, "steady"), "q_ok"))
    assert(!field(full, "queries").contains("q_boom"))
    assert(!field(full, "steady").contains("q_boom"))
    // stdout line: same headline, its inline map is the steady top set
    assert(field(line, "value") == field(full, "value"))
    assert(field(line, "steady_total") == field(field(line, "queries"), "q_ok"))
    assert(!field(line, "queries").contains("q_boom"))
    assert(field(line, "n_queries") == "2")
    val rewarm = field(full, "rewarm")
    assert(rewarm.contains("q_ok") && !rewarm.contains("q_boom"), rewarm)
  }
}
