package perfbench

import java.nio.file.{Files, Path, Paths}

/** One benchmark run: one workload, one seed, in this JVM.
  *
  * Args: --workload corpus|gps_ingest --seed N --seconds S
  * --trace 0|1 --data <tables dir> --work <scratch dir> --reference
  * <outputs.json>. Prints the result as the last line of stdout. An
  * untraced run reports the end-to-end metrics; a traced run reports
  * every per-layer metric, 0 for layers its workload does not use. */
object Main {
  /** Every per-layer metric and its unit. */
  val perLayer: Seq[(String, String)] = Seq(
    "construct.s" -> "s", "construct.jobs" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_wait_s" -> "s", "exec.task_busy_s" -> "s",
    "exec.shuffle_read_bytes" -> "B", "exec.shuffle_write_bytes" -> "B",
    "exec.spill_bytes" -> "B", "exec.peak_exec_mem_bytes" -> "B",
    "cachescope.fills" -> "count", "cachescope.fill_s" -> "s", "cachescope.hits" -> "count",
    "cachescope.hit_ratio" -> "ratio", "cachescope.bytes" -> "B", "cachescope.in_memory_scans" -> "count",
    "query.unexplained_s" -> "s", "jvm.gc_s" -> "s", "trace.overhead_ratio" -> "ratio",
    "http_ingress.ack_p50_ms" -> "ms", "http_ingress.ack_p99_ms" -> "ms",
    "http_ingress.status_400" -> "count", "http_ingress.status_5xx" -> "count",
    "http_ingress.spool_files" -> "count",
    "source.backlog_files" -> "count", "source.latest_offset_ms" -> "ms", "source.get_batch_ms" -> "ms",
    "microbatch.n" -> "count", "microbatch.rows_p50" -> "count", "microbatch.trigger_ms" -> "ms",
    "microbatch.query_planning_ms" -> "ms", "microbatch.wal_commit_ms" -> "ms",
    "microbatch.jobs" -> "count", "microbatch.tasks" -> "count",
    "pipeline.envelope_ms_per_1k" -> "ms", "pipeline.connect_stub_ms_per_1k" -> "ms",
    "pipeline.cdc_ms_per_1k" -> "ms",
    "sink.write_ms" -> "ms", "sink.tasks_per_batch" -> "count", "sink.rows" -> "count",
    "sink.ledger_skips" -> "count",
    "loadgen.late_p99_ms" -> "ms", "loadgen.sent" -> "count")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    // a fresh directory per workload, seed and mode
    val work = Paths.get(opt("work")).toAbsolutePath.resolve(s"$workload-$seed-t${opt("trace")}")
    Dirs.delete(work)
    Files.createDirectories(work)
    val report = new Report
    // a run that breaks prints no result; exiting here also stops the
    // threads Spark and Derby leave running
    try workload match {
      case "corpus" =>
        BatchWorkload.run(seed, traced, opt("data"), work, Paths.get(opt("reference")), report)
      case "gps_ingest" => IngestWorkload.run(seed, seconds, traced, work, report)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    val unmeasured = report.clearUnmeasured()
    if (traced) {
      val measured = report.values
      perLayer.foreach { case (n, u) => if (!measured.contains(n)) report.metric(n, 0.0, u) }
    } else {
      // an end-to-end metric that could not be measured fails the run
      unmeasured.foreach(n => report.fail(s"metric $n could not be measured"))
    }
    report.failureList.take(40).foreach(f => println(s"[perfbench] failed: $f"))
    if (report.failed > 40) println(s"[perfbench] ... ${report.failed} failures in all")
    println(report.json)
    System.out.flush()
    sys.exit(0)
  }
}

object Dirs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally all.close()
  }
}
