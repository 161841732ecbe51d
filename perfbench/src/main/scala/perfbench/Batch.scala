package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import graft.{CacheScope, SparkEntry, Tables}
import graft.queries.{Llm, Profiling, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, MapEntries, UnsafeProjection, XxHash64}
import org.apache.spark.sql.execution.{SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.types.MapType

/** Which declared ids the corpus workload runs. */
object Ids {
  private def corpusSet: Set[String] =
    Llm.queries.keySet ++ TextAnalysis.queries.keySet ++ Profiling.queries.keySet ++
      SparkEntry.queries.keySet.filter(_.startsWith("q_geo_"))

  /** Text, embedding, profiling and geo ids: all cache-bearing ids and
    * the heavy operators. */
  def corpus: Seq[String] = corpusSet.toSeq.sorted

  /** The ids the corpus workload runs: every 8th corpus id in name
    * order, so two passes fit a run. A fixed set: the seed only orders
    * it. */
  def workload: Seq[String] = corpus.grouped(8).map(_.head).toSeq

  /** The seed alone sets the order of each pass. */
  def order(ids: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(ids)
}

/** The timed action: execute a DataFrame's physical plan in full, final
  * sort and every projected column included, and digest what it
  * returns. `count()` would let the optimizer drop the sort and unused
  * columns; this runs the exact plan `collect()` would. */
object Materialize extends AdaptiveSparkPlanHelper {

  /** Row count and an order-insensitive digest: the wrapping sum of
    * each row's xxhash64 over all columns. Map columns hash as their
    * entry arrays, since hash functions reject maps. */
  def apply(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val plan = qe.executedPlan
    val out = plan.output
    val hashed: Seq[Expression] = out.map { a =>
      a.dataType match {
        case _: MapType => MapEntries(a)
        case _ => a
      }
    }
    SQLExecution.withNewExecutionId(qe, Some("perfbench materialize")) {
      plan.execute().mapPartitions { it =>
        val proj = UnsafeProjection.create(Seq(new XxHash64(hashed, 42L)), out)
        var n = 0L
        var h = 0L
        while (it.hasNext) { n += 1; h += proj(it.next()).getLong(0) }
        Iterator.single((n, h))
      }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
    }
  }

  def inMemoryScans(plan: SparkPlan): Int = collect(plan) { case s: InMemoryTableScanExec => s }.size
}

/** Stored outputs: row count and digest per id, generated on the seed
  * tree and cross-checked against the DuckDB oracle. */
object Reference {
  final case class Expected(rows: Long, digest: Long)

  def load(path: Path): Map[String, Expected] = {
    val line = """\s*"([^"]+)":\s*\{"rows":\s*(\d+),\s*"digest":\s*"(-?\d+)".*""".r
    Files.readAllLines(path, StandardCharsets.UTF_8).toArray(new Array[String](0)).toSeq.collect {
      case line(id, rows, digest) => id -> Expected(rows.toLong, digest.toLong)
    }.toMap
  }

  /** Writes the reference for every declared id. Optional: the output
    * of `tools/check.py` and the `graft.Verify` dump it checked. An id
    * the oracle passed is recorded as `pass` only if the dumped result,
    * read back, has the same row count and digest as the reference. */
  def main(args: Array[String]): Unit = {
    val Array(dataDir, workDir, out) = args.take(3)
    val oracle: Map[String, String] = args.lift(3).map { log =>
      Files.readAllLines(Paths.get(log)).toArray(new Array[String](0)).toSeq
        .map(_.trim.split("\\s+")).collect {
          case Array(v @ ("PASS" | "FAIL"), id, _*) => id -> v.toLowerCase
        }.toMap
    }.getOrElse(Map.empty)
    val spark = Session.start(Paths.get(workDir))
    val ids = SparkEntry.queries.keys.toSeq.sorted
    val lines = ids.map { id =>
      val got = try Materialize(SparkEntry.queries(id)(spark, dataDir))
        finally CacheScope.drain(blocking = true)
      val verdict = (oracle.get(id), args.lift(4)) match {
        case (Some("pass"), Some(dump)) =>
          if (Materialize(spark.read.parquet(s"$dump/$id")) == got) "pass" else "dump-differs"
        case (v, _) => v.getOrElse("none")
      }
      s"""  "$id": {"rows": ${got._1}, "digest": "${got._2}", "oracle": "$verdict"}"""
    }
    Files.write(Paths.get(out), lines.mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** One id's run: its latency in seconds and shared-cache use, or the
  * failure. `newShared` holds the persisted RDDs the id left behind. */
final case class Outcome(id: String, latencyS: Double, sharedTouches: Long,
    inMemoryScans: Int, newShared: Set[Int], error: Option[String])

/** Runs ids one at a time in one session and checks each output against
  * the reference. `queries` is a parameter so tests can inject ids. */
final class BatchRunner(spark: SparkSession, dataDir: String,
    queries: String => (SparkSession, String) => DataFrame,
    reference: Map[String, Reference.Expected], tracer: Tracer) {

  private val sc = spark.sparkContext

  private def phase[T](group: String, name: String, trace: Long)(body: => T): T = {
    sc.setJobGroup(group, name)
    try tracer.span(name, trace)(body)
    finally sc.clearJobGroup()
  }

  /** `key` names the job groups of this run of `id`: `<key>/construct`,
    * `<key>/catalyst`, `<key>/exec`. */
  def run(id: String, key: String): Outcome = {
    val trace = tracer.newTrace()
    val persisted0 = sc.getPersistentRDDs.keySet.toSet
    val shared0 = CacheScope.sharedEvents
    val t0 = System.nanoTime()
    val result = try {
      tracer.span("query", trace) {
        val df = phase(s"$key/construct", "construct", trace)(queries(id)(spark, dataDir))
        val shared = CacheScope.sharedEvents - shared0
        val qe = df.queryExecution
        phase(s"$key/catalyst", "catalyst.analysis", trace)(qe.analyzed)
        phase(s"$key/catalyst", "catalyst.optimization", trace)(qe.optimizedPlan)
        phase(s"$key/catalyst", "catalyst.planning", trace)(qe.executedPlan)
        val (rows, digest) = phase(s"$key/exec", "exec", trace)(Materialize(df))
        val latency = (System.nanoTime() - t0) / 1e9
        val scans = Materialize.inMemoryScans(qe.executedPlan)
        val error = reference.get(id) match {
          case None => Some("no reference output")
          case Some(e) if e.rows != rows => Some(s"rows $rows, expected ${e.rows}")
          case Some(e) if e.digest != digest => Some(s"digest $digest, expected ${e.digest}")
          case _ => None
        }
        Outcome(id, latency, shared, scans, Set.empty, error)
      }
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.nextOption().getOrElse("")
        Outcome(id, Double.NaN, 0, 0, Set.empty,
          Some(s"${e.getClass.getSimpleName}: ${msg.take(200)}"))
    } finally CacheScope.drain(blocking = true)
    result.copy(newShared = sc.getPersistentRDDs.keySet.toSet -- persisted0)
  }
}

/** A local session configured as the engine's own harnesses configure
  * theirs, with every file it writes kept under `work`. */
object Session {
  def cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def start(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.PlanGate.silenceBoundedWindowWarn()
    s
  }
}

/** corpus: set-up, timed passes over the ids in seeded order, output
  * checks, and (traced) per-layer counters. */
object BatchWorkload {
  /** Untimed warm-up ids, two per set-up cycle, one plan per family:
    * scan and sort-merge join, hash aggregate and window, scalar
    * projection and multi-join SQL (the last cycle's session then has
    * the SQL views registered). None touches a shared cache. */
  val warmup: Seq[Seq[String]] = Seq(Seq("q_scan_parquet", "q_join_inner_smj"),
    Seq("q_agg_hash", "q_win_rownum"), Seq("q_fn_string", "q_sql_revenue_by_nation"))

  val setupCycles: Int = warmup.size

  /** Counts every outcome as attempted and each error as a failure;
    * returns the outcomes that may contribute latency samples. */
  def score(outcomes: Seq[Outcome], report: Report): Seq[Outcome] = {
    report.attempted += outcomes.size
    outcomes.foreach(o => o.error.foreach(e => report.fail(s"${o.id}: $e")))
    outcomes.filter(_.error.isEmpty)
  }

  def run(seed: Long, traced: Boolean, dataDir: String,
      work: Path, refPath: Path, report: Report): Unit = {
    val name = "corpus"
    val ids = Ids.workload
    val reference = Reference.load(refPath)

    // Set-up, several times: session start, table reads, warm-up. The
    // first cycle starts at JVM start.
    var spark: SparkSession = null
    val setups = (0 until setupCycles).map { c =>
      val t0 = if (c == 0) Clock.jvmStartNs else Clock.epochNs()
      if (spark != null) { CacheScope.drainShared(blocking = true); spark.stop() }
      spark = Session.start(work)
      Tables.names.foreach(t => Tables.t(spark, dataDir, t).count())
      val shared0 = CacheScope.sharedEvents
      warmup(c).foreach { id =>
        try Materialize(SparkEntry.queries(id)(spark, dataDir))
        finally CacheScope.drain(blocking = true)
      }
      require(CacheScope.sharedEvents == shared0, "warm-up touched a shared cache")
      (Clock.epochNs() - t0) / 1e9
    }

    val listener = new LayerListener
    Heap.install()

    final case class Pass(traced: Boolean, wallS: Double, outcomes: Seq[Outcome],
        tracer: Tracer, storageBytes: Long)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    // A fixed amount of work, not a time budget: a run that fitted a third
    // pass on a fast host would mix warmer samples in. A traced run makes
    // four passes, untraced and traced in ABBA order, so the tracing
    // overhead is measured in the same run without favouring the warmer
    // later passes.
    while (passes.size < (if (traced) 4 else 2)) {
      val p = passes.size
      val tracedPass = traced && (p % 4 == 1 || p % 4 == 2)
      // every pass starts with the shared caches empty
      CacheScope.drainShared(blocking = true)
      CacheScope.drain(blocking = true)
      val tracer = new Tracer(tracedPass)
      val runner = new BatchRunner(spark, dataDir, SparkEntry.queries, reference, tracer)
      if (tracedPass) spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val outcomes = Ids.order(ids, seed, p).map(id => runner.run(id, s"p$p/$id"))
      val wall = (System.nanoTime() - t0) / 1e9
      if (tracedPass) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      Files.write(work.resolve(s"$name-$seed-p$p.tsv"), outcomes.map(o =>
        s"${o.id}\t${o.latencyS}\t${o.error.getOrElse("")}").mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      val bytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      Heap.sample()
      passes += Pass(tracedPass, wall, outcomes, tracer, bytes)
    }

    val ok = score(passes.flatMap(_.outcomes).toSeq, report)
    val plain = passes.filterNot(_.traced)

    if (!traced) {
      // every execution is a sample: which id pays a shared fill depends on
      // the order, the set of latencies a pass produces much less
      val lat = ok.map(_.latencyS * 1e3)
      report.metric("setup_s", Stats.median(setups), "s")
      report.metric("latency_p50_ms", if (lat.isEmpty) Double.NaN else Stats.median(lat), "ms")
      // p80: with 28 samples a p90 is the third-slowest execution and
      // swings with one id's stall
      report.metric("latency_tail_ms", if (lat.isEmpty) Double.NaN else Stats.percentile(lat, 0.8), "ms")
      report.metric("throughput_per_s", ok.size / plain.map(_.wallS).sum, "1/s")
      report.metric("peak_heap_mb", Heap.peakMiB, "MiB")
      report.metric("ok_ratio", report.okRatio, "ratio")
      println(s"[perfbench] $name: ${passes.size} passes of ${ids.size} ids, " +
        s"${lat.size} latency samples, sweep_s ${plain.map(p => f"${p.wallS}%.3f").mkString(" ")}")
    } else {
      val tp = passes.filter(_.traced)
      val groups = listener.groups
      def sumGroups(p: Pass, phase: String)(f: Counters => Double): Double =
        p.outcomes.map(o => groups.get(s"p${passes.indexOf(p)}/${o.id}/$phase").map(f).getOrElse(0.0)).sum
      def perPass(f: Pass => Double): Double = Stats.median(tp.map(f))
      def spanSelf(p: Pass, name: String): Double = {
        val self = p.tracer.selfNs
        p.tracer.all.filter(_.name == name).map(s => self(s.id)).sum / 1e9
      }
      def fills(p: Pass): Seq[(Outcome, Int)] = p.outcomes.flatMap(o => o.newShared.toSeq.map(o -> _))
      def fillS(p: Pass): Double = {
        val i = passes.indexOf(p)
        p.outcomes.map { o =>
          Seq("construct", "catalyst", "exec").flatMap(ph => groups.get(s"p$i/${o.id}/$ph"))
            .flatMap(_.stageSpans).filter(_._3.exists(o.newShared.contains))
            .map(s => (s._2 - s._1) / 1e3).sum
        }.sum
      }
      def hits(p: Pass): Double =
        p.outcomes.map(o => math.max(0L, o.sharedTouches - o.newShared.size)).sum.toDouble
      report.metric("construct.s", perPass(spanSelf(_, "construct")), "s")
      report.metric("construct.jobs", perPass(sumGroups(_, "construct")(_.jobs.toDouble)), "count")
      report.metric("catalyst.analysis_s", perPass(spanSelf(_, "catalyst.analysis")), "s")
      report.metric("catalyst.optimization_s", perPass(spanSelf(_, "catalyst.optimization")), "s")
      report.metric("catalyst.planning_s", perPass(spanSelf(_, "catalyst.planning")), "s")
      report.metric("exec.s", perPass(spanSelf(_, "exec")), "s")
      report.metric("exec.jobs", perPass(sumGroups(_, "exec")(_.jobs.toDouble)), "count")
      report.metric("exec.stages", perPass(sumGroups(_, "exec")(_.stages.toDouble)), "count")
      report.metric("exec.tasks", perPass(sumGroups(_, "exec")(_.tasks.toDouble)), "count")
      report.metric("exec.task_wait_s", perPass(sumGroups(_, "exec")(_.taskWaitMs / 1e3)), "s")
      report.metric("exec.task_busy_s", perPass(sumGroups(_, "exec")(_.taskBusyMs / 1e3)), "s")
      report.metric("exec.shuffle_read_bytes", perPass(sumGroups(_, "exec")(_.shuffleReadBytes.toDouble)), "B")
      report.metric("exec.shuffle_write_bytes", perPass(sumGroups(_, "exec")(_.shuffleWriteBytes.toDouble)), "B")
      report.metric("exec.spill_bytes", perPass(sumGroups(_, "exec")(_.spillBytes.toDouble)), "B")
      report.metric("exec.peak_exec_mem_bytes",
        tp.flatMap(p => p.outcomes.map(o => groups.get(s"p${passes.indexOf(p)}/${o.id}/exec")
          .map(_.peakExecMemBytes.toDouble).getOrElse(0.0))).maxOption.getOrElse(0.0), "B")
      report.metric("cachescope.fills", perPass(fills(_).size.toDouble), "count")
      report.metric("cachescope.fill_s", perPass(fillS), "s")
      report.metric("cachescope.hits", perPass(hits), "count")
      report.metric("cachescope.hit_ratio", perPass { p =>
        val h = hits(p); val f = fills(p).size
        if (h + f == 0) 0.0 else h / (h + f)
      }, "ratio")
      report.metric("cachescope.bytes", tp.map(_.storageBytes.toDouble).max, "B")
      report.metric("cachescope.in_memory_scans", perPass(_.outcomes.map(_.inMemoryScans.toDouble).sum), "count")
      report.metric("jvm.gc_s", Heap.gcSeconds, "s")
      // self time of the query spans: wall time of each id that
      // construct + catalyst + exec do not cover
      report.metric("query.unexplained_s", perPass(spanSelf(_, "query")), "s")
      report.metric("trace.overhead_ratio",
        if (plain.isEmpty) Double.NaN
        else Stats.median(tp.map(_.wallS)) / Stats.median(plain.map(_.wallS)) - 1.0, "ratio")
      tp.foreach(p => p.tracer.write(work.resolve(s"trace-$name-$seed-p${passes.indexOf(p)}.jsonl")))
    }
    spark.stop()
  }
}
