package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.ObjectMapper
import graft.streaming.{HttpIngress, Pipeline}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's `POST /location` entry point (main.go:87-95,
  * 191-193), exercised VERBATIM over localhost: real HTTP POSTs →
  * 400 on unparseable JSON, accepted bodies spooled → file-source
  * stream → the existing envelope / dead-letter stages. */
class HttpIngressSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val valid =
    """{"device_id":"dev-1","location":{"timestamp":"2026-02-06T12:00:00Z",
      |"coords":{"latitude":1.0,"longitude":2.0,"accuracy":3.0,
      |"speed":4.0,"heading":5.0,"altitude":6.0}}}""".stripMargin.replace("\n", "")
  // parses fine but lacks location.timestamp — the reference would
  // forward it with zero values (gjson defaults); our pipeline
  // accepts it at the door and dead-letters it downstream
  private val incomplete = """{"device_id":"dev-9"}"""

  private def post(port: Int, body: String): Int = {
    val client = HttpClient.newHttpClient()
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/location"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString()).statusCode()
  }

  private def fixOf(device: String): String = valid.replace("dev-1", device)

  private val Threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** spoolStream sets the listing threshold on the session, which every
    * suite shares: run `body` with it unset, and put back what was
    * there after. */
  private def withThresholdUnset[T](body: => T): T = {
    val saved = spark.conf.getOption(Threshold)
    spark.conf.unset(Threshold)
    try body
    finally saved.fold(spark.conf.unset(Threshold))(spark.conf.set(Threshold, _))
  }

  private def spoolFiles(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir))(_.iterator().asScala
      .filter(_.getFileName.toString.startsWith("fix-")).toList)

  test("POST /location: 400 on invalid JSON, accepted bodies spool and flow to the envelope stage") {
    val dir = java.nio.file.Files.createTempDirectory("graft_http_spool").toString
    val ep = HttpIngress.start(dir)
    try withThresholdUnset {
      assert(post(ep.port, valid) == 200)
      assert(post(ep.port, "{not json") == 400)  // main.go:92-95 parity
      assert(post(ep.port, incomplete) == 200)

      // spool holds exactly the two accepted bodies, one file each
      val spooled = HttpIngress.spoolRead(spark, dir)
      assert(spooled.count() == 2)
      assert(new java.io.File(dir).listFiles()
        .count(_.getName.endsWith(".json")) == 2)

      // batch path: the dead-letter split sorts complete from
      // incomplete exactly as it does for MemoryStream input
      val (ok, dlq) = Pipeline.ingressWithDeadLetter(spooled)
      assert(ok.count() == 1)
      val d = dlq.collect()
      assert(d.length == 1 &&
        d(0).getAs[String]("reason") == "missing_required_fields")

      // streaming path: file source tails the spool into the same
      // envelope stage the Kafka front door would feed
      val q = Pipeline.ingressToEnvelope(HttpIngress.spoolStream(spark, dir))
        .writeStream.format("memory").queryName("http_env_out")
        .outputMode("append").start()
      q.processAllAvailable()
      // a POST that arrives WHILE the stream runs is picked up too
      assert(post(ep.port, valid) == 200)
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("http_env_out").collect()
      assert(rows.length == 2) // two complete fixes, incomplete dropped
      rows.foreach { r =>
        assert(r.getAs[String]("key").startsWith("address-127.0.0.1"))
        assert(r.getAs[String]("value").contains("\"deviceId\":\"dev-1\""))
      }
    } finally ep.stop()
  }

  test("an endpoint restarted on one spool reuses no file name: a restarted stream delivers every fix") {
    val root = Files.createTempDirectory("graft_http_restart")
    val dir = root.resolve("spool")
    val mapper = new ObjectMapper()
    val seen = new ConcurrentLinkedQueue[String]()
    val sink = new Pipeline.RowSink {
      def write(batch: DataFrame, batchId: Long): Unit =
        batch.select("json").collect().foreach(r => seen.add(r.getString(0)))
    }
    def accept(devices: Seq[String]): Unit = {
      val ep = HttpIngress.start(dir.toString)
      try devices.foreach(d => assert(post(ep.port, fixOf(d)) == 200))
      finally ep.stop()
    }
    // AvailableNow: the query stops once it has read what is spooled
    def drain(): Unit = Pipeline.start(
      HttpIngress.spoolStream(spark, dir.toString), sink,
      root.resolve("ckpt").toString).awaitTermination()
    val first = Seq("dev-a1", "dev-a2", "dev-a3")
    val second = Seq("dev-b1", "dev-b2", "dev-b3")
    withThresholdUnset {
      accept(first)
      drain()
      accept(second) // a second start on the same spool and checkpoint
      drain()
    }
    def device(json: String) = mapper.readTree(json).get("device_id").asText()
    assert(seen.asScala.toSeq.map(device).sorted == (first ++ second).sorted)
    // six files, each still holding its own fix: nothing overwritten
    assert(spoolFiles(dir).map(f => device(mapper.readTree(f.toFile).get("json").asText()))
      .sorted == (first ++ second).sorted)
  }

  test("spoolStream: a 100-file micro-batch runs no file-listing job and carries all 100 rows") {
    val root = Files.createTempDirectory("graft_http_listing")
    val dir = root.resolve("spool")
    val ep = HttpIngress.start(dir.toString)
    try (1 to 100).foreach(i => assert(post(ep.port, fixOf(s"dev-$i")) == 200))
    finally ep.stop()
    assert(spoolFiles(dir).size == 100)

    val Marker = "HttpIngressSpec count"
    val jobs = new ConcurrentLinkedQueue[String]()
    val counted = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.add(d)
        if (d == Marker) counted.countDown()
      }
    }
    val batchRows = new ConcurrentLinkedQueue[Long]()
    val sink = new Pipeline.RowSink {
      def write(batch: DataFrame, batchId: Long): Unit = {
        batch.sparkSession.sparkContext.setJobDescription(Marker)
        batchRows.add(batch.count())
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try withThresholdUnset {
      Pipeline.start(HttpIngress.spoolStream(spark, dir.toString), sink,
        root.resolve("ckpt").toString).awaitTermination()
      // the bus delivers events in order: once the count job is seen,
      // every job getBatch ran before it has been seen too
      assert(counted.await(60, TimeUnit.SECONDS), "count job never reached the listener")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(batchRows.asScala.toSeq == Seq(100L))
    val listing = jobs.asScala.filter(_.startsWith("Listing leaf files and directories"))
    assert(listing.isEmpty, listing)
  }

  test("spoolStream keeps a listing threshold the caller set explicitly") {
    val dir = Files.createTempDirectory("graft_http_threshold").toString
    TestSpark.withSQLConf(Threshold -> "7") {
      HttpIngress.spoolStream(spark, dir)
      assert(spark.conf.get(Threshold) == "7")
    }
  }
}
