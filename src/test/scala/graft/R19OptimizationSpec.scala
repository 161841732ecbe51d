package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Focused pins for the r19 optimization internals — the two pieces
  * whose failure modes are SILENT (a stale temp view or a skipped
  * cache fill returns plausible-looking data, not an error).
  */
class R19OptimizationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("memoized registerAll re-registers when the data dir changes, both ways") {
    // sf0.001 and sf0.01 differ in row counts, so the registered view's
    // cardinality tells which dir the views point at. The memo tracks
    // the CURRENT dir (not a seen-set): A -> B -> A must land back on A.
    def rows(d: String): Long = {
      SparkEntry.queries("q_sql_tpch_q6ish")(spark, d) // registers via SqlSurface
      spark.table("lineitem").count()
    }
    val a = rows("/root/testdata/sf0.001")
    val b = rows("/root/testdata/sf0.01")
    val a2 = rows("/root/testdata/sf0.001")
    assert(a != b, "test data SFs must differ for this pin to bite")
    assert(a2 == a, "switching back to the first dir must re-register its views")
  }

  test("q18ish: the engine-side SQL returns the oracle text's rows at sf0.01") {
    // the query runs q18SparkSql (aggregate-then-join); the DuckDB
    // oracle runs q18Sql. The query call registers the views both read.
    val sf01 = java.nio.file.Paths.get(TestSpark.sf).resolveSibling("sf0.01").toString
    val engine = SparkEntry.queries("q_sql_tpch_q18ish")(spark, sf01)
    val text = spark.sql(graft.queries.SqlSurface.q18Sql)
    assert(engine.schema.map(f => (f.name, f.dataType)) ==
      text.schema.map(f => (f.name, f.dataType)))
    val rows = engine.collect().toSeq
    assert(rows.nonEmpty, "sf0.01 must hold orders past the quantity cut")
    assert(rows == text.collect().toSeq)
  }

  test("sharedEager: repeat call skips the fill; drainShared re-arms it") {
    import spark.implicits._
    val base = Seq(1L, 2L, 3L).toDF("v").groupBy($"v").count()
    CacheScope.drainShared(blocking = true)
    val c1 = CacheScope.sharedEager(base)
    assert(c1.storageLevel != StorageLevel.NONE, "first call registers + fills")
    // an identical plan arrives already-cached: no new registration
    val again = Seq(1L, 2L, 3L).toDF("v").groupBy($"v").count()
    val c2 = CacheScope.sharedEager(again)
    assert(c2.storageLevel != StorageLevel.NONE, "repeat call sees the cache")
    assert(c2.collect().map(_.getLong(1)).sum == 3L)
    // drainShared clears the level, so the NEXT call re-registers and
    // re-fills — the multi-corpus release contract is intact
    CacheScope.drainShared(blocking = true)
    assert(again.storageLevel == StorageLevel.NONE, "drainShared released it")
    val c3 = CacheScope.sharedEager(Seq(1L, 2L, 3L).toDF("v").groupBy($"v").count())
    assert(c3.storageLevel != StorageLevel.NONE, "post-drain call re-fills")
    CacheScope.drainShared(blocking = true)
  }

  test("shared-cache event counters tick for Bench's cached-id detection") {
    import spark.implicits._
    CacheScope.drainShared(blocking = true)
    val s0 = CacheScope.sharedEvents
    CacheScope.sharedEager(Seq(9L).toDF("v"))
    assert(CacheScope.sharedEvents > s0, "sharedEager must tick the counter")
    val s1 = CacheScope.sharedEvents
    CacheScope.shared(Seq(9L).toDF("v")) // already cached — still a touch
    assert(CacheScope.sharedEvents > s1, "a cache-hit call still counts as a touch")
    CacheScope.drain(blocking = true)
    CacheScope.drainShared(blocking = true)
  }
}
