package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.DriverManager
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.codecs.Gps
import graft.streaming.{HttpIngress, JdbcOutboxSink, Pipeline}
import graft.streaming.Pipeline.RowSink
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json, lit, struct, to_json}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

/** Stand-in for Kafka Connect's JDBC sink plus Debezium: the reference
  * writes each envelope's payload to a table and reads the change event
  * back from the CDC topic. This emits that change event directly:
  * `{"payload":{"before":null,"after":{id,latitude,longitude}},"op":"c"}`.
  * It is benchmark code, timed as its own stage in the traced run. */
object ConnectStub {
  def apply(envelopes: DataFrame): DataFrame = {
    val p = from_json(col("value"), Gps.envelopeSchema).getField("payload")
    val after = struct(p.getField("id").as("id"), p.getField("latitude").as("latitude"),
      p.getField("longitude").as("longitude"))
    val event = struct(
      struct(lit(null).cast("string").as("before"), after.as("after")).as("payload"),
      lit("c").as("op"))
    envelopes.select(to_json(event, Map("ignoreNullFields" -> "false")).as("value"))
  }
}

/** Wraps the sink: records when each batch's write returned, its
  * duration, and writes of a batch id seen before (replays, which the
  * outbox ledger turns into no-ops). Its jobs run in job group
  * `sink:<batch id>`. */
final class TimedSink(inner: RowSink, sc: SparkContext) extends RowSink {
  @transient val returnedNs = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  @transient val writes = new ConcurrentLinkedQueue[(Long, Long, Long)]() // (batch, start, end) epoch ns
  @transient val replays = new AtomicLong(0L)

  override def write(batch: DataFrame, batchId: Long): Unit = {
    val group = sc.getLocalProperty(LayerListener.JobGroup)
    val desc = sc.getLocalProperty("spark.job.description")
    val t0 = Clock.epochNs()
    sc.setJobGroup(s"sink:$batchId", s"sink write $batchId", interruptOnCancel = true)
    try inner.write(batch, batchId)
    finally {
      sc.setLocalProperty(LayerListener.JobGroup, group)
      sc.setLocalProperty("spark.job.description", desc)
    }
    val t1 = Clock.epochNs()
    if (returnedNs.putIfAbsent(batchId, t1) != null) replays.incrementAndGet()
    writes.add((batchId, t0, t1))
  }
}

/** The reference chain on one host: HTTP ingress → spool → envelope →
  * Connect/Debezium stand-in → location_instances → outbox sink into
  * on-disk Derby. Derby keeps its default durability: each commit is
  * synced to disk. */
final class Chain(spark: SparkSession, dir: Path) {
  val spool: Path = dir.resolve("spool")
  private val derbyPath = dir.resolve("derby").toAbsolutePath
  val url = s"jdbc:derby:$derbyPath;create=true"

  locally {
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute("CREATE TABLE location_instances (gps_id VARCHAR(64), " +
      "geo_point VARCHAR(96), latitude DOUBLE, longitude DOUBLE)")
    finally c.close()
  }

  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(listener)

  val endpoint: HttpIngress.Endpoint = HttpIngress.start(spool.toString)
  val sink = new TimedSink(new JdbcOutboxSink(url, "location_instances"), spark.sparkContext)
  private val stage = Pipeline.cdcToLocationInstances(
    ConnectStub(Pipeline.ingressToEnvelope(HttpIngress.spoolStream(spark, spool.toString))))
  val query = Pipeline.start(stage, sink, dir.resolve("ckpt").toString, Trigger.ProcessingTime(0L))

  /** Spool files the stream has read so far. */
  def consumed: Long = progress.asScala.map(_.numInputRows).sum

  def awaitConsumed(n: Long, timeoutS: Double): Boolean = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (consumed < n && System.nanoTime() < end && query.isActive) Thread.sleep(10)
    consumed >= n
  }

  def stop(): Unit = {
    query.stop()
    endpoint.stop()
    spark.streams.removeListener(listener)
    try DriverManager.getConnection(s"jdbc:derby:$derbyPath;shutdown=true")
    catch { case _: java.sql.SQLException => () } // a clean shutdown reports 08006
  }

  /** (gps_id, geo_point) of every row in location_instances. */
  def rows(): Seq[(String, String)] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery("SELECT gps_id, geo_point FROM location_instances")
      val b = Seq.newBuilder[(String, String)]
      while (rs.next()) b += ((rs.getString(1), rs.getString(2)))
      b.result()
    } finally c.close()
  }

  /** Fix id → the micro-batch that read its spool file, from the file
    * source's log in the checkpoint. */
  def batchOfFix(): Map[String, Long] = {
    val entry = """.*"path":"[^"]*/([^"/]+)".*"batchId":(\d+).*""".r
    val logDir = dir.resolve("ckpt").resolve("sources").resolve("0")
    val fileBatch = Files.list(logDir).iterator().asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith(".") && !p.toString.endsWith(".crc"))
      .flatMap(p => Files.readAllLines(p).asScala.collect { case entry(f, b) => f -> b.toLong })
      .toMap
    val mapper = new ObjectMapper()
    fileBatch.flatMap { case (f, b) =>
      val json = mapper.readTree(Files.readAllBytes(spool.resolve(f))).get("json").asText()
      Option(mapper.readTree(json).path("location").get("timestamp")).map(_.asText() -> b)
    }
  }
}

/** The gps_ingest output check: every valid fix acked 200 lands in
  * location_instances exactly once with its lon-first WKT point; every
  * malformed body gets a 400; an incomplete body is acked 200 and never
  * reaches the table, nor does anything else. Returns the failures,
  * with the request's sequence number where there is one. */
object IngestCheck {
  def apply(expected: Seq[(LoadGen.Req, LoadGen.Sent)],
      rows: Seq[(String, String)]): Seq[(Option[Int], String)] = {
    val byId = rows.groupBy(_._1)
    val perFix = expected.flatMap { case (r, s) =>
      val problem = r.kind match {
        case 'm' if s.status != 400 => Some(s"malformed body got ${s.status}")
        case 'i' if s.status != 200 => Some(s"incomplete body got ${s.status}")
        case 'v' if s.status != 200 => Some(s"not acked (${s.status})")
        case 'v' => byId.getOrElse(r.id, Nil).map(_._2) match {
          case Seq(wkt) if wkt == LoadGen.wkt(r.lat, r.lon) => None
          case Seq(wkt) => Some(s"geo_point $wkt")
          case found => Some(s"in location_instances ${found.size} times")
        }
        case _ => None
      }
      problem.map(p => (Some(r.seq), s"fix ${r.seq}: $p"))
    }
    val valid = expected.collect { case (r, _) if r.kind == 'v' => r.id }.toSet
    perFix ++ byId.keys.filterNot(k => k != null && valid(k)).toSeq
      .map(k => (None, s"unexpected row gps_id=$k"))
  }
}

/** gps_ingest: set-up, an open-loop nominal hold, a burst, the drain,
  * the exactly-once check, and (traced) per-layer counters. */
object IngestWorkload {
  /** Below the bistable band: a micro-batch of more than 32 spool files
    * makes the file source list them with a Spark job (~+250 ms on 4
    * cores), which lengthens the batch so the next one is as large; at
    * 50 fixes/s runs settled in either regime. The burst exercises the
    * listing path. */
  val nominalRate = 25.0
  /** The burst: the reference's ~1k fixes/s ceiling, for 2 s at the
    * default run length. */
  val burstRate = 1000.0
  val warmupFixes = 100
  val setupCycles = 3
  private def senders = math.min(4, Runtime.getRuntime.availableProcessors())

  /** Settle (its fixes are checked, not timed: the stream's first
    * seconds run slower while the JIT warms), nominal hold, burst. */
  def phases(seconds: Int): Seq[LoadGen.Phase] = Seq(
    LoadGen.Phase("settle", nominalRate, seconds * 0.3),
    LoadGen.Phase("nominal", nominalRate, seconds * 0.35),
    LoadGen.Phase("burst", burstRate, seconds * 0.05))
  private val Nominal = 1
  private val Burst = 2

  def run(seed: Long, seconds: Int, traced: Boolean, work: Path, report: Report): Unit = {
    val plan = LoadGen.plan(seed, phases(seconds))
    val phaseNs = phases(seconds).map(p => (p.seconds * 1e9).toLong)
    val phaseStartNs = phaseNs.scanLeft(0L)(_ + _)

    // The generator is its own process, started first so its JVM start
    // overlaps the set-up.
    val sentFile = work.resolve(s"gps-sent-$seed.txt")
    val gen = new ProcessBuilder(Seq(
      ProcessHandle.current().info().command().get(),
      "-Xmx256m", "-cp", System.getProperty("java.class.path"), "perfbench.LoadGen",
      seed.toString, LoadGen.phaseSpec(phases(seconds)), "0", senders.toString,
      sentFile.toString).asJava)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val genOut = new java.io.BufferedReader(new java.io.InputStreamReader(gen.getInputStream))
    val genIn = new java.io.PrintWriter(gen.getOutputStream, true)

    try {
      var spark: SparkSession = null
      var chain: Chain = null
      var warm: IndexedSeq[LoadGen.Req] = IndexedSeq.empty
      var warmSent: IndexedSeq[LoadGen.Sent] = IndexedSeq.empty
      // Set-up, several times: session, Derby, ingress, stream start, and
      // a warm-up burst that must commit. The first cycle starts at JVM
      // start.
      val setups = (0 until setupCycles).map { c =>
        val t0 = if (c == 0) Clock.jvmStartNs else Clock.epochNs()
        if (chain != null) { chain.stop(); spark.stop() }
        spark = Session.start(work)
        chain = new Chain(spark, work.resolve(s"gps-$seed-c$c"))
        warm = LoadGen.plan(seed + 7919L * (c + 1),
          Seq(LoadGen.Phase("warmup", 2000.0, warmupFixes / 2000.0)), 1000000 * (c + 1))
        warmSent = LoadGen.send(chain.endpoint.port, warm, Clock.epochNs(), senders)
        val accepted = warmSent.count(_.status == 200)
        require(chain.awaitConsumed(accepted, 60), "warm-up fixes were not consumed")
        (Clock.epochNs() - t0) / 1e9
      }
      Heap.install()
      val listener = new LayerListener
      val consumed0 = chain.consumed

      require(genOut.readLine() == "READY", "load generator did not start")
      val t0 = Clock.epochNs() + 100000000L
      // Traced run: the Spark listener is attached in the middle two
      // quarters of the nominal hold only (ABBA), so the hold also
      // measures the tracing overhead.
      val quarter = phaseNs(Nominal) / 4
      val nominalStart = t0 + phaseStartNs(Nominal)
      val toggler = if (!traced) None else Some(new Thread(() => {
        def at(ns: Long): Unit = { val w = ns - Clock.epochNs(); if (w > 0) Thread.sleep(w / 1000000, (w % 1000000).toInt) }
        at(nominalStart + quarter); spark.sparkContext.addSparkListener(listener)
        at(nominalStart + 3 * quarter)
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }))
      toggler.foreach(_.start())
      genIn.println(s"${chain.endpoint.port} $t0")
      require(gen.waitFor((phaseNs.sum / 1e9 + 120).toLong, TimeUnit.SECONDS) && gen.exitValue() == 0,
        "load generator failed")
      toggler.foreach(_.join())
      val sent = LoadGen.readSent(sentFile)
      val accepted = sent.count(_.status == 200)
      chain.awaitConsumed(consumed0 + accepted, 60)
      Heap.sample()
      chain.stop()

      // --- check
      val bySeq = sent.map(s => s.seq -> s).toMap
      val warmBySeq = warmSent.map(s => s.seq -> s).toMap
      val expected = plan.flatMap(r => bySeq.get(r.seq).map(r -> _)) ++
        warm.flatMap(r => warmBySeq.get(r.seq).map(r -> _))
      report.attempted = expected.size.toLong
      val failures = IngestCheck(expected, chain.rows())
      failures.foreach(f => report.fail(f._2))
      val failedSeqs = failures.flatMap(_._1).toSet

      // --- latencies: creation (= scheduled send) to the return of the
      // sink write whose batch carried the fix
      val batchOf = chain.batchOfFix()
      def sched(r: LoadGen.Req) = t0 + r.offsetNs
      val commitNs: Map[Int, Long] = plan.filter(r => r.kind == 'v' && bySeq.contains(r.seq) && !failedSeqs(r.seq)).flatMap { r =>
        batchOf.get(r.id).flatMap(b => Option(chain.sink.returnedNs.get(b))).map(r.seq -> _.longValue)
      }.toMap
      plan.filter(r => r.kind == 'v' && bySeq.contains(r.seq) && !failedSeqs(r.seq) && !commitNs.contains(r.seq))
        .foreach(r => report.fail(s"fix ${r.seq}: commit not observed"))
      def commitMs(phase: Int): Seq[Double] = plan.filter(_.phase == phase)
        .flatMap(r => commitNs.get(r.seq).map(c => (c - sched(r)) / 1e6))
      val nominal = commitMs(Nominal)
      Files.write(work.resolve(s"gps-commit-$seed.tsv"), plan.flatMap(r => commitNs.get(r.seq).map(c =>
        s"${r.seq}\t${r.phase}\t${r.offsetNs / 1e6}\t${(c - sched(r)) / 1e6}")).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))

      // Burst capacity: the burst's fixes over the time from its first
      // scheduled send to its last commit.
      val burst = plan.filter(r => r.phase == Burst && commitNs.contains(r.seq))
      val burstPerS = if (burst.isEmpty) Double.NaN
        else burst.size / ((burst.map(r => commitNs(r.seq)).max - (t0 + phaseStartNs(Burst))) / 1e9)
      println(f"[perfbench] gps_ingest burst ${burstRate}%.0f/s for ${phaseNs(Burst) / 1e9}%.1f s: " +
        f"${burst.size} fixes committed at $burstPerS%.1f fixes/s")
      val ackMs = plan.filter(_.phase == Nominal).flatMap(r => bySeq.get(r.seq))
        .filter(s => s.status == 200 || s.status == 400)
        .map(s => (s.doneNs - (t0 + plan(s.seq).offsetNs)) / 1e6)
      println(f"[perfbench] gps_ingest nominal ${nominalRate}%.0f/s: ${nominal.size} commits, " +
        f"commit p99 ${Stats.percentile(nominal, 0.99)}%.1f ms, " +
        f"ack p50 ${Stats.median(ackMs)}%.2f ms p99 ${Stats.percentile(ackMs, 0.99)}%.2f ms")

      val batches = chain.progress.asScala.toSeq.filter(_.numInputRows > 0)
      def batchStartNs(p: StreamingQueryProgress): Long = {
        val i = java.time.Instant.parse(p.timestamp)
        i.getEpochSecond * 1000000000L + i.getNano
      }
      val stages = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "triggerExecution")
      Files.write(work.resolve(s"gps-batches-$seed.tsv"), batches.map(p =>
        (Seq(p.batchId, (batchStartNs(p) - t0) / 1000000L, p.numInputRows) ++
          stages.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L))).mkString("\t"))
        .mkString("batch\tstart_ms\trows\t" + stages.mkString("\t") + "\n", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      if (!traced) {
        report.metric("setup_s", Stats.median(setups), "s")
        report.metric("latency_p50_ms", Stats.median(nominal), "ms")
        report.metric("latency_tail_ms", Stats.percentile(nominal, 0.9), "ms")
        report.metric("throughput_per_s", burstPerS, "1/s")
        report.metric("peak_heap_mb", Heap.peakMiB, "MiB")
        report.metric("ok_ratio", report.okRatio, "ratio")
      } else {
        // batches wholly inside the traced quarters of the nominal hold
        val inTraced = batches.filter { p =>
          val s = batchStartNs(p)
          s >= nominalStart + quarter &&
            s + p.durationMs.get("triggerExecution") * 1000000L <= nominalStart + 3 * quarter
        }
        val groups = listener.groups
        def dur(p: StreamingQueryProgress, k: String): Double =
          Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
        def med(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)
        def batchGroups(p: StreamingQueryProgress) =
          Seq(s"batch:${p.batchId}", s"sink:${p.batchId}").flatMap(groups.get)
        val writes = chain.sink.writes.asScala.toSeq
        val nominalEnd = t0 + phaseStartNs(Burst)
        report.metric("http_ingress.ack_p50_ms", Stats.median(ackMs), "ms")
        report.metric("http_ingress.ack_p99_ms", Stats.percentile(ackMs, 0.99), "ms")
        report.metric("http_ingress.status_400", sent.count(_.status == 400).toDouble, "count")
        report.metric("http_ingress.status_5xx", sent.count(s => s.status >= 500 || s.status < 0).toDouble, "count")
        report.metric("http_ingress.spool_files",
          Files.list(chain.spool).iterator().asScala.count(_.getFileName.toString.startsWith("fix-")).toDouble, "count")
        // spool files accepted but not yet read, at each batch start
        val backlog = batches.filter(p => batchStartNs(p) <= nominalEnd).map { p =>
          val s = batchStartNs(p)
          sent.count(x => x.status == 200 && x.doneNs <= s) -
            batches.filter(q => q.batchId < p.batchId && batchStartNs(q) >= t0).map(_.numInputRows).sum
        }
        report.metric("source.backlog_files", backlog.maxOption.getOrElse(0L).toDouble, "count")
        report.metric("source.latest_offset_ms", med(inTraced.map(dur(_, "latestOffset"))), "ms")
        report.metric("source.get_batch_ms", med(inTraced.map(dur(_, "getBatch"))), "ms")
        report.metric("microbatch.n", inTraced.size.toDouble, "count")
        report.metric("microbatch.rows_p50", med(inTraced.map(_.numInputRows.toDouble)), "count")
        report.metric("microbatch.trigger_ms", med(inTraced.map(dur(_, "triggerExecution"))), "ms")
        report.metric("microbatch.query_planning_ms", med(inTraced.map(dur(_, "queryPlanning"))), "ms")
        report.metric("microbatch.wal_commit_ms", med(inTraced.map(dur(_, "walCommit"))), "ms")
        report.metric("microbatch.jobs", med(inTraced.map(p => batchGroups(p).map(_.jobs).sum.toDouble)), "count")
        report.metric("microbatch.tasks", med(inTraced.map(p => batchGroups(p).map(_.tasks).sum.toDouble)), "count")
        val replay = Replay.stages(spark, chain.spool)
        report.metric("pipeline.envelope_ms_per_1k", replay("envelope"), "ms")
        report.metric("pipeline.connect_stub_ms_per_1k", replay("connect_stub"), "ms")
        report.metric("pipeline.cdc_ms_per_1k", replay("cdc"), "ms")
        val tracedIds = inTraced.map(_.batchId).toSet
        report.metric("sink.write_ms", med(writes.filter(w => tracedIds(w._1)).map(w => (w._3 - w._2) / 1e6)), "ms")
        report.metric("sink.tasks_per_batch",
          med(inTraced.flatMap(p => groups.get(s"sink:${p.batchId}")).map(_.tasks.toDouble)), "count")
        report.metric("sink.rows", chain.rows().size.toDouble, "count")
        report.metric("sink.ledger_skips", chain.sink.replays.get.toDouble, "count")
        val late = sent.map(s => (s.sentNs - (t0 + plan(s.seq).offsetNs)) / 1e6)
        report.metric("loadgen.late_p99_ms", Stats.percentile(late, 0.99), "ms")
        report.metric("loadgen.sent", sent.size.toDouble, "count")
        report.metric("jvm.gc_s", Heap.gcSeconds, "s")
        // commit latency in the traced quarters against the untraced ones
        val q = plan.filter(r => r.phase == Nominal).flatMap(r => commitNs.get(r.seq)
          .map(c => ((r.offsetNs - phaseStartNs(Nominal)) / quarter, (c - sched(r)) / 1e6)))
        val on = q.filter(x => x._1 == 1 || x._1 == 2).map(_._2)
        val off = q.filter(x => x._1 == 0 || x._1 == 3).map(_._2)
        report.metric("trace.overhead_ratio", med(on) / med(off) - 1.0, "ratio")
        // spans: each micro-batch (epoch ns) with its sink write as child
        val tracer = new Tracer(true)
        batches.foreach { p =>
          val s = batchStartNs(p)
          val root = tracer.add("microbatch", p.batchId, 0L, s, s + p.durationMs.get("triggerExecution") * 1000000L)
          writes.filter(_._1 == p.batchId).foreach(w => tracer.add("sink.write", p.batchId, root, w._2, w._3))
        }
        tracer.write(work.resolve(s"trace-gps_ingest-$seed.jsonl"))
      }
      spark.stop()
      // the spools and databases are large; the results are kept
      (0 until setupCycles).foreach(c => Dirs.delete(work.resolve(s"gps-$seed-c$c")))
    } finally {
      if (gen.isAlive) { gen.destroy(); gen.waitFor(10, TimeUnit.SECONDS) }
      if (gen.isAlive) { gen.destroyForcibly(); gen.waitFor() }
    }
  }
}

/** Traced run only: each stage of the chain replayed as a batch job
  * over the run's spool, each over the materialized output of the one
  * before; milliseconds per 1000 input rows, median of three. */
object Replay {
  def stages(spark: SparkSession, spool: Path): Map[String, Double] = {
    val raw = HttpIngress.spoolRead(spark, spool.toString).localCheckpoint(eager = true)
    val env = Pipeline.ingressToEnvelope(raw).localCheckpoint(eager = true)
    val cdc = ConnectStub(env).localCheckpoint(eager = true)
    def msPer1k(in: DataFrame, stage: DataFrame): Double = {
      val n = in.count()
      Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Materialize(stage)
        (System.nanoTime() - t0) / 1e6
      }) / math.max(1.0, n / 1000.0)
    }
    Map(
      "envelope" -> msPer1k(raw, Pipeline.ingressToEnvelope(raw)),
      "connect_stub" -> msPer1k(env, ConnectStub(env)),
      "cdc" -> msPer1k(cdc, Pipeline.cdcToLocationInstances(cdc)))
  }
}
