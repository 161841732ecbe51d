package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The reference's HTTP ingress endpoint — `POST /location`
  * (main.go:87-95, 191-193) — REAL, with zero new dependencies:
  * the JDK's built-in `com.sun.net.httpserver` accepts the same POST
  * bodies the reference does and rejects unparseable JSON with the
  * same `400 "Invalid JSON"` (main.go:92-95; Jackson ships on Spark's
  * own classpath). Until r9 this entry point was a documented
  * by-design substitution (file/memory streams feeding identical
  * JSON); now a reference user can exercise it verbatim.
  *
  * Accepted bodies are SPOOLED, not processed in-band: each POST
  * becomes one atomically-renamed single-line JSON file
  * `{"addr": <client>, "json": <canonicalized body>}` that Structured
  * Streaming's file source tails ([[spoolStream]]) and feeds the
  * existing stages (Pipeline.ingressToEnvelope /
  * ingressWithDeadLetter) unchanged. The spool plays the role the
  * Kafka producer write plays in the reference (main.go:126-136):
  * ingest ack decoupled from processing, at-least-once handoff,
  * restart-safe (files persist; the stream's checkpoint tracks which
  * are consumed). A 200 ack means the record has been renamed into
  * the spool, not fsynced: it survives a crash of this process, not
  * of the OS. Spool files are never removed. Two deliberate
  * divergences, both documented pipeline-wide:
  * structurally-valid-but-incomplete bodies are accepted here and
  * dead-lettered downstream (the reference forwards them with zero
  * values), and production-scale deployments still front with Kafka
  * (SURVEY §2.1) — a single-host spool is an edge ingress, not a
  * 100 TB bus.
  */
object HttpIngress {

  /** Running endpoint handle. `port` is the bound port (ephemeral if
    * started with port 0), `spoolDir` the directory receiving one
    * JSON file per accepted POST. */
  final class Endpoint private[HttpIngress] (
      server: HttpServer, val spoolDir: Path) {
    def port: Int = server.getAddress.getPort
    def stop(): Unit = server.stop(0)
  }

  /** addr + raw body — the same two columns the MemoryStream-driven
    * specs feed the ingress stages. */
  val spoolSchema: StructType = StructType(Seq(
    StructField("addr", StringType),
    StructField("json", StringType)))

  private val ListingThreshold =
    "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Start the endpoint. `port = 0` binds an ephemeral port (tests);
    * the reference hard-codes 7575 (main.go:193). Spool files are
    * named `fix-<start token>-<n>.json`: the token is fresh for every
    * start, so an endpoint restarted on the same spool never reuses a
    * name (a reused name would overwrite the earlier fix, and the file
    * source skips names it has already read). */
  def start(spoolDir: String, port: Int = 0): Endpoint = {
    val dir = Paths.get(spoolDir)
    Files.createDirectories(dir)
    val mapper = new ObjectMapper()
    val token = UUID.randomUUID().toString
    val seq = new AtomicLong(0L)
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/location", (exchange: HttpExchange) => {
      try {
        val body = new String(
          exchange.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val parsed =
          try Some(mapper.readTree(body))
          catch { case _: Exception => None }
        parsed match {
          case None =>
            // the reference's only gate: json.Decode error → 400
            respond(exchange, 400, "Invalid JSON\n")
          case Some(tree) =>
            spool(dir, s"$token-${seq.incrementAndGet()}",
              mapper.writeValueAsString(tree),
              exchange.getRemoteAddress.toString.stripPrefix("/"), mapper)
            respond(exchange, 200, "")
        }
      } catch {
        case _: Exception => respond(exchange, 500, "")
      }
    })
    server.start()
    new Endpoint(server, dir)
  }

  /** One record per accepted POST, written tmp-then-ATOMIC_MOVE so the
    * file source never observes a partial file, canonicalized to a
    * single line so the (default, splittable) JSON-lines reader parses
    * it — bodies may legally contain newlines. */
  private def spool(dir: Path, name: String, canonicalJson: String,
      addr: String, mapper: ObjectMapper): Unit = {
    val rec = mapper.createObjectNode()
    rec.put("addr", addr)
    rec.put("json", canonicalJson)
    val tmp = dir.resolve(s".tmp-$name")
    Files.write(tmp, (mapper.writeValueAsString(rec) + "\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(s"fix-$name.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def respond(exchange: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    exchange.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) exchange.getResponseBody.write(bytes)
    exchange.close()
  }

  /** Tail the spool as a stream — plugs directly into
    * Pipeline.ingressToEnvelope / ingressWithDeadLetter.
    *
    * Each micro-batch's getBatch resolves the batch's named files; past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths
    * Spark does that with a listing job of one task per file, about
    * 3–4 ms a file on 4 cores (seconds for a burst batch of 1k+ files),
    * where a check on the Spark driver costs about 0.1 ms a file — and
    * the driver already lists the whole spool serially in latestOffset
    * on every trigger. So the threshold is raised to `Int.MaxValue` here.
    * The setting is SESSION-WIDE: it applies to every later file read
    * of `spark`. The engine's own parquet reads pass one root path and
    * so are unaffected (only a root holding more than 32 partition
    * directories would now be listed on the driver too). A caller who
    * sets the threshold explicitly keeps their value. */
  def spoolStream(spark: SparkSession, spoolDir: String): DataFrame = {
    if (!spark.conf.getAll.contains(ListingThreshold))
      spark.conf.set(ListingThreshold, Int.MaxValue.toString)
    spark.readStream.schema(spoolSchema).json(spoolDir)
  }

  /** Batch read of the spool (backfill / test assertions). */
  def spoolRead(spark: SparkSession, spoolDir: String): DataFrame =
    spark.read.schema(spoolSchema).json(spoolDir)
}
