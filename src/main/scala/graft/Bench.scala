package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec's bounded-window WARN is asserted mechanically by the
    // plan gate now (unpartWindows fact + allowlist); at runtime it
    // only buries real warnings in the bench tail (VERDICT r14 item 4)
    graft.plans.PlanGate.silenceBoundedWindowWarn()
    val (fullPath, fullJson, line) = run(spark, sfDir, cpus, SparkEntry.queries)
    Files.writeString(fullPath, fullJson + "\n")
    println(line)
    spark.stop()
  }

  /** One bench pass over `queries` (warmup, timed pass, rewarm,
    * shared-cold): returns the artifact path, the full artifact JSON
    * and the bounded stdout line; writing is left to the caller. The
    * query map is a parameter so a spec can inject a failing id. */
  def run(spark: SparkSession, sfDir: String, cpus: String,
      queries: Map[String, (SparkSession, String) => DataFrame])
      : (Path, String, String) = {
    // untimed warmup: spin executor threads, load parquet footers and
    // codegen paths so the first timed query isn't charged for JVM start
    Tables.names.foreach { t =>
      try Tables.t(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    // Warmup phase (VERDICT r6 item 1): a handful of representative
    // queries run once, untimed, before the timed pass. The r6 RunQ
    // controlled experiment (BASELINE.md) measured ~90% of a cold
    // query's one-shot cost as SESSION warmth — JIT, codegen budget,
    // shuffle/broadcast machinery — not the query's own plan, which
    // made the single-pass total swing 2× with machine load. Warming
    // one plan per family (scan, SMJ join, multi-join SQL, hash agg,
    // window, scalar-heavy projection) pays that once, outside the
    // measurement. None of these touch the cached shingle/pair/ANN
    // relations (Llm/TextAnalysis/DedupClusters/AnnIvf), so no timed
    // query reads a cache this phase filled — every timed plan still
    // does its own work.
    val warmupQueries = Seq("q_scan_parquet", "q_join_inner_smj",
      "q_sql_revenue_by_nation", "q_agg_hash", "q_win_rownum", "q_fn_string")
      .filter(queries.contains)
    warmupQueries.foreach { name =>
      try queries(name)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    // Shared shingle/trigram-pair cache fill, UNTIMED but REPORTED
    // (VERDICT r12 item 4; supersedes the r11 familyFirst scheme that
    // charged the whole fill to q_llm_ngram_jaccard's timed slot —
    // 6.3 s single-pass vs 0.24 s rewarm in BENCH_r12). The pair
    // relation is a raw Spark .cache() shared by identical plans, so
    // one warmup fill serves the whole family (ngram_jaccard /
    // containment / dedup_clusters / corpus_dedup / dedup_funnel) and
    // every timed member shows its own per-plan cost; the fill's cost
    // stays visible as `fill_s` instead of inflating one query 26×
    // over its steady state.
    val fillS = {
      val t0 = System.nanoTime()
      try queries.get("q_llm_ngram_jaccard")
        .foreach(_(spark, sfDir).count())
      catch { case _: Throwable => () }
      (System.nanoTime() - t0) / 1e9
    }
    CacheScope.drain(blocking = true)
    // NOISE SENTINEL (r16, VERDICT r15 item 1): BENCH_r15.json carried
    // a phantom 1.24× regression — untouched sub-second SQL/stream ids
    // 2–7× slower in the driver run while the same tree reproduced r14
    // numbers in a controlled run. The artifact could not say so
    // itself; three rounds of after-the-fact attribution sweeps later,
    // the record still reads "regression". So the run now measures its
    // OWN host: one pinned, cache-free, plan-stable calibration query
    // (q_scan_parquet — a bare pruned scan, no shared state, ~100 ms
    // steady) is timed at fixed points through the pass. On an idle
    // host every sample is the same number; load shows up as drift.
    // The samples, drift, two-tier verdict and contaminated flag ride
    // in both artifacts, so a noise-skewed run is self-diagnosing
    // instead of poisoning the cross-round record. Sentinel runs sit
    // BETWEEN timed queries and are excluded from every total. The
    // implementation — the dedicated plan (deliberately NOT any
    // SparkEntry query), min-of-2 sampling, fail-loud −1 samples,
    // clean/marginal/contaminated/failed tiering, and the
    // retry-until-clean seal protocol — is graft.NoiseSentinel,
    // SHARED with the FullScale sweep (r17 review: one spelling, so
    // the two artifacts can never diverge on bars or tier logic).
    val SentinelEvery = 40
    val sentinelPath = s"$sfDir/lineitem.parquet"
    def sentinelPass(): Double = NoiseSentinel.sample(spark, sentinelPath)
    NoiseSentinel.warmup(spark, sentinelPath)
    val sentinelSamples = scala.collection.mutable.ArrayBuffer[Double]()
    sentinelSamples += sentinelPass()
    // name-sorted: Map iteration order shifts whenever the query set
    // changes, which reshuffles which query pays shared-cache warmup —
    // stable ordering keeps per-query numbers comparable across rounds.
    val ordered = queries.keys.toSeq.sorted
    // FAIL LOUD: a query that throws in any pass is named on stderr and
    // in `failed_ids` (stdout line and artifact), and is dropped from
    // value, steady_total, the rewarm set and shared_cold: the time to
    // a throw is not a query's cost.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def timed(name: String)(body: => Unit): Option[Double] = {
      val t0 = System.nanoTime()
      try { body; Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        System.err.println(s"Bench: $name failed: $e")
        failed += name
        None
      }
    }
    // Shared-cache self-reporting (r19, VERDICT r18 item "steady for
    // cached ids measures lookups"): a query is flagged `cached` when
    // its construction touches a CacheScope.shared* site, or when its
    // plan reads an InMemoryRelation (a plan-equality freerider on
    // another id's shared fill — query-local caches are drained before
    // the plan is inspected, so only shared relations remain). Flag
    // only — timing methodology unchanged; the flagged ids
    // additionally get a true shared-cold re-run below.
    val sharedCached = scala.collection.mutable.ArrayBuffer[String]()
    val timedPass = ordered.zipWithIndex.flatMap { case (name, i) =>
      val shared0 = CacheScope.sharedEvents
      var df: DataFrame = null
      val dt = timed(name) { df = queries(name)(spark, sfDir); df.count() }
      // query-local caches; outside the timed region — BLOCKING so the
      // async block removal can't compete with the next timed query
      CacheScope.drain(blocking = true)
      if (dt.isDefined) {
        val sharedTouched = CacheScope.sharedEvents > shared0
        val inmem = try graft.plans.PlanGate.facts(df).inMemoryScans
          catch { case _: Throwable => 0 }
        if (sharedTouched || inmem > 0) sharedCached += name
      }
      if ((i + 1) % SentinelEvery == 0) sentinelSamples += sentinelPass()
      dt.map(name -> _)
    }
    sentinelSamples += sentinelPass()
    // explicit ROOT locale: the f-interpolator honors the JVM default
    // locale, and a comma-decimal default (e.g. de_DE) would emit
    // "49,900" and corrupt both the stdout line and BENCH_FULL.json
    def sec(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    // Diagnostic second pass over the slow queries: separates
    // one-shot cost (plan analysis + codegen + JIT + cache fill) from
    // steady-state compute. r02 evidence: on the driver machine the
    // single-pass numbers for multi-stage queries ran 6-11x local while
    // scans ran 1.0x — the rewarm column shows whether that gap is
    // fixed overhead under load or real per-row cost. NOT in `value`
    // (headline stays single-pass for cross-round comparability).
    // ADAPTIVE set (was fixed top-8, VERDICT r8 item 1): every query
    // whose single-pass exceeds 4× the fast-set median rewarms itself,
    // so ANY load-inflated query carries its own steady-state evidence
    // in-run — three rounds of after-the-fact RunQ attribution sweeps
    // (r6 six, r7 six, r8 eight queries) all exonerated to session
    // load, and the fixed top-8 window was why the r8 eight needed the
    // manual sweep at all. Floor of 8 keeps cross-round continuity;
    // the threshold keys off the MEDIAN (robust to the slow tail).
    val medianDt = {
      val ts = timedPass.map(_._2).sorted
      if (ts.isEmpty) 0.0 else ts(ts.size / 2)
    }
    val rewarmNames = {
      val byCost = timedPass.sortBy(-_._2)
      val over = byCost.filter(_._2 > 4.0 * medianDt).map(_._1)
      (over ++ byCost.take(8).map(_._1)).distinct
    }
    // Contention-hardened rewarm (VERDICT r10 item 7): BENCH_r10's
    // rewarm column carried shared-VM noise (bpe_iter 23.6 s driver vs
    // 1.37 s idle seal) that polluted the attribution record. A
    // steady-state pass exceeding its own SINGLE-PASS time is
    // physically impossible absent contention, so that is the tell:
    // such a rewarm re-runs twice more and records the MEDIAN, with
    // the raw spread annotated in-run so divergence is visible in the
    // artifact instead of needing an after-the-fact idle-VM sweep.
    val singleByName = timedPass.toMap
    val rewarmPass = rewarmNames.flatMap { name =>
      def pass(): Option[Double] = {
        val dt = timed(name)(queries(name)(spark, sfDir).count())
        CacheScope.drain(blocking = true)
        dt
      }
      pass().flatMap { p1 =>
        if (p1 <= singleByName(name)) Some((name, p1, Seq.empty[Double]))
        else for (p2 <- pass(); p3 <- pass()) yield {
          val ps = Seq(p1, p2, p3).sorted
          (name, ps(1), ps)
        }
      }
    }
    // one sample after the rewarm phase too: the rewarm medians feed
    // steady_total, so contamination there must also be visible
    sentinelSamples += sentinelPass()
    // SHARED-COLD column (r19, VERDICT r18 next-item 3): for every
    // cache-bearing id, drain the shared family caches and time ONE
    // fully cold run — fill included — so the artifact carries each
    // id's true single-query cost next to the steady lookup number.
    // Runs AFTER everything that feeds value/steady_total and is
    // excluded from both (clearly outside the headline); ids are
    // re-drained individually so no id inherits a sibling's fill.
    val sharedCold = sharedCached.toSeq.sorted.flatMap { name =>
      CacheScope.drainShared(blocking = true)
      CacheScope.drain(blocking = true)
      val dt = timed(name)(queries(name)(spark, sfDir).count())
      CacheScope.drain(blocking = true)
      dt.map(name -> _)
    }
    // an id that threw in a later pass leaves every timed column
    val results = timedPass.filterNot(r => failed(r._1))
    val rewarm = rewarmPass.filterNot(r => failed(r._1))
    val total = results.map(_._2).sum
    val sharedColdS = sharedCold.map(_._2).sum
    val sentinelDrift = NoiseSentinel.drift(sentinelSamples.toSeq)
    val sentinelRobust = NoiseSentinel.robustDrift(sentinelSamples.toSeq)
    val contaminated = NoiseSentinel.contaminated(sentinelSamples.toSeq)
    val sentinelTier = NoiseSentinel.tier(sentinelSamples.toSeq)
    val sentinelJson = NoiseSentinel.json(sentinelSamples.toSeq, sec)
    val rewarmJson = rewarm.map { case (k, v, _) => "\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    val spreadJson = rewarm.filter(_._3.nonEmpty)
      .map { case (k, _, ps) =>
        "\"" + k + "\":[" + ps.map(sec).mkString(",") + "]" }
      .mkString("{", ",", "}")
    // Per-query STEADY map (VERDICT r12 item 2: "fold the rewarm-
    // median protocol into the single-pass artifact"): rewarm median
    // where one ran (the slow/suspect set), single-pass otherwise.
    // steady_total is the self-identifying load check — a run whose
    // single-pass total sits far above its own steady_total is
    // load-skewed and says so in its own artifact (BENCH_FULL r12:
    // 863 s single-pass with an in-file 8.6→195 s rewarm spread).
    val rewarmByName = rewarm.map { case (k, v, _) => k -> v }.toMap
    val steady = results.map { case (k, v) =>
      k -> math.min(v, rewarmByName.getOrElse(k, v)) }
    val steadyTotal = steady.map(_._2).sum
    val warmupJson = warmupQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    // cpus is the raw env string ("local[*]" is legal) — quote it in
    // the JSON unless it is a plain number
    val cpusJson = if (cpus.nonEmpty && cpus.forall(_.isDigit)) cpus
      else "\"" + cpus + "\""
    val cachedJson = sharedCached.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val sharedColdJson = sharedCold
      .map { case (k, v) => "\"" + k + "\":" + sec(v) }.mkString("{", ",", "}")
    val failedJson = failed.toSeq.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullJson = "{\"metric\":\"total\",\"value\":" + sec(total) +
      ",\"unit\":\"sec\",\"sf\":\"" + sfDir + "\"" +
      ",\"cpus\":" + cpusJson +
      ",\"steady_total\":" + sec(steadyTotal) +
      ",\"fill_s\":" + sec(fillS) +
      ",\"sentinel\":" + sentinelJson +
      ",\"rewarm\":" + rewarmJson +
      ",\"rewarm_spread\":" + spreadJson +
      ",\"warmup\":" + warmupJson +
      ",\"cached_ids\":" + cachedJson +
      ",\"shared_cold\":" + sharedColdJson +
      ",\"shared_cold_s\":" + sec(sharedColdS) +
      ",\"failed_ids\":" + failedJson +
      ",\"queries\":" + results.map { case (k, v) => "\"" + k + "\":" + sec(v) }
        .mkString("{", ",", "}") +
      ",\"steady\":" + steady.map { case (k, v) => "\"" + k + "\":" + sec(v) }
        .mkString("{", ",", "}") + "}"
    // Split output paths (VERDICT r8 item 5, second offense in r7):
    // the driver invokes Bench bare and owns BENCH_FULL.json; local
    // seal passes set GRAFT_BENCH_OUT=BENCH_LOCAL.json so the two
    // artifacts version separately instead of overwriting each other.
    // r15 (VERDICT r14 item 5 — the de97859 incident): a local
    // sf0.001 smoke run with GRAFT_BENCH_OUT unset clobbered the
    // committed BENCH_FULL.json mid-round. The committed artifact
    // path is now written ONLY for the driver's shape (the sf0.1
    // default corpus) or under an explicit GRAFT_BENCH_OUT; any other
    // SF with no explicit output defaults to /tmp, named by SF, so a
    // smoke run cannot overwrite a committed artifact by accident.
    // r19 (VERDICT r18 next-item 2): the full artifact is named by SF
    // AND core count — the r18 driver's 8-core scaling pass overwrote
    // the 32-core BENCH_FULL.json (same default name), losing the full
    // per-query map and forcing scaling ratios onto top-12
    // intersections. The canonical 32-core sf0.1 run keeps the
    // historical name; any other core count at sf0.1 versions
    // separately, so both full steady maps survive for a per-query
    // scaling comparison.
    val sfName = Paths.get(sfDir).getFileName.toString
    val outName = sys.env.getOrElse("GRAFT_BENCH_OUT",
      if (sfName == "sf0.1" && cpus == "32") "BENCH_FULL.json"
      else if (sfName == "sf0.1") s"BENCH_FULL_c$cpus.json"
      else s"/tmp/BENCH_FULL_${sfName}_c$cpus.json")
    val fullPath = Paths.get(outName).toAbsolutePath
    // The stdout line must survive the driver's tail capture (VERDICT
    // r12 item 2): the harness keeps only the LAST ~2000 chars of
    // output, and in every round r01–r12 the inline line overflowed
    // that window (45-query slow set + rewarm + spread maps), so
    // BENCH_rN.parsed was null all twelve rounds. The line is now
    // BOUNDED (~700 chars — fits the window with room for sbt's
    // epilogue): top-12 steady-state entries inline, everything else
    // rolled up into rest_n/rest_sec, full maps in the `full` file.
    val topSteady = steady.sortBy(-_._2).take(12)
    val qs = topSteady.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    val restSec = steadyTotal - topSteady.map(_._2).sum
    val line = s"""{"metric":"total","value":${sec(total)},"unit":"sec",""" +
      s""""n_queries":${ordered.size},"steady_total":${sec(steadyTotal)},""" +
      s""""queries":$qs,""" +
      s""""rest_n":${steady.size - topSteady.size},"rest_sec":${sec(restSec)},""" +
      s""""fill_s":${sec(fillS)},"rewarm_n":${rewarm.size},""" +
      s""""cached_n":${sharedCached.size},"shared_cold_s":${sec(sharedColdS)},""" +
      s""""cpus":$cpusJson,""" +
      s""""sentinel_drift":${sec(sentinelDrift)},"sentinel_robust_drift":${sec(sentinelRobust)},"sentinel_tier":"$sentinelTier","contaminated":$contaminated,""" +
      s""""failed_ids":$failedJson,""" +
      s""""full":"$fullPath","sf":"$sfDir"}"""
    (fullPath, fullJson, line)
  }
}
