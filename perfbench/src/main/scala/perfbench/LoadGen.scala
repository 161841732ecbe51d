package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.Locale
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.util.Random

/** The gps_ingest inputs and the open-loop generator that sends them.
  *
  * Everything sent is a function of the seed: the devices, the Zipf
  * skew of which device reports, each body, and the Poisson send
  * schedule. The engine never shapes its own input. */
object LoadGen {
  /** A stretch of the run at one offered rate. */
  final case class Phase(name: String, rate: Double, seconds: Double)

  /** One POST. `kind` is 'v' (valid fix), 'm' (malformed JSON, must get
    * a 400) or 'i' (valid JSON without the fix timestamp, which must
    * never reach the sink). `offsetNs` is the scheduled send time from
    * the phase plan's start; a fix is created at its scheduled time. */
  final case class Req(seq: Int, phase: Int, kind: Char, id: String,
      lat: Double, lon: Double, body: String, offsetNs: Long)

  val devices = 500
  val zipfS = 1.1

  def parsePhases(spec: String): Seq[Phase] = spec.split(",").toSeq.map { p =>
    val Array(n, r, s) = p.split(":")
    Phase(n, r.toDouble, s.toDouble)
  }
  def phaseSpec(ps: Seq[Phase]): String =
    ps.map(p => s"${p.name}:${p.rate}:${p.seconds}").mkString(",")

  /** The requests of `phases`, numbered from `firstSeq`. */
  def plan(seed: Long, phases: Seq[Phase], firstSeq: Int = 0): IndexedSeq[Req] = {
    val rnd = new Random(seed)
    val cdf = {
      val w = (1 to devices).map(k => 1.0 / math.pow(k, zipfS))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    val pos = Array.fill(devices)((35.5 + rnd.nextDouble() * 0.3, 51.2 + rnd.nextDouble() * 0.3))
    val base = Instant.parse("2026-01-01T00:00:00Z").plusSeconds(86400L * math.floorMod(seed, 3650L))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val out = IndexedSeq.newBuilder[Req]
    var seq = firstSeq
    var phaseStartNs = 0L
    phases.zipWithIndex.foreach { case (ph, pi) =>
      val endNs = phaseStartNs + (ph.seconds * 1e9).toLong
      var t = phaseStartNs + (-math.log(1.0 - rnd.nextDouble()) / ph.rate * 1e9).toLong
      while (t < endNs) {
        val d = java.util.Arrays.binarySearch(cdf, rnd.nextDouble()) match {
          case i if i >= 0 => i
          case i => math.min(devices - 1, -i - 1)
        }
        val (la, lo) = pos(d)
        pos(d) = (la + (rnd.nextDouble() - 0.5) * 1e-3, lo + (rnd.nextDouble() - 0.5) * 1e-3)
        val (lat, lon) = (r6(pos(d)._1), r6(pos(d)._2))
        val id = base.plusMillis(seq.toLong).toString
        val coords = s""""coords":{"latitude":$lat,"longitude":$lon,"accuracy":${r6(3 + rnd.nextDouble() * 10)},""" +
          s""""speed":${r6(rnd.nextDouble() * 30)},"heading":${r6(rnd.nextDouble() * 360)},"altitude":${r6(1100 + rnd.nextDouble() * 200)}}"""
        val dev = s""""device_id":"dev-$d""""
        val u = rnd.nextDouble()
        val req =
          if (u < 0.01) {
            val full = s"""{$dev,"location":{"timestamp":"$id",$coords}}"""
            Req(seq, pi, 'm', "", lat, lon, full.take(10 + rnd.nextInt(full.length - 20)), t)
          } else if (u < 0.02) Req(seq, pi, 'i', "", lat, lon, s"""{$dev,"location":{$coords}}""", t)
          else Req(seq, pi, 'v', id, lat, lon, s"""{$dev,"location":{"timestamp":"$id",$coords}}""", t)
        out += req
        seq += 1
        t += (-math.log(1.0 - rnd.nextDouble()) / ph.rate * 1e9).toLong
      }
      phaseStartNs = endNs
    }
    out.result()
  }

  /** The plan as bytes: what a byte-identity check compares. */
  def bytes(reqs: Seq[Req]): Array[Byte] =
    reqs.map(r => s"${r.seq}\t${r.phase}\t${r.kind}\t${r.offsetNs}\t${r.body}\n").mkString
      .getBytes(StandardCharsets.UTF_8)

  /** The reference consumer's geometry text for a fix: lon first. */
  def wkt(lat: Double, lon: Double): String = String.format(Locale.US, "POINT(%f %f)", Double.box(lon), Double.box(lat))

  /** Outcome of one POST as the generator saw it; epoch nanoseconds. */
  final case class Sent(seq: Int, status: Int, sentNs: Long, doneNs: Long)

  /** POST `reqs` on their schedule from `t0Ns` with `threads` senders.
    * Open loop: a request is due at its scheduled time whatever
    * happened to earlier ones; each sender keeps its connection alive
    * across requests. Status -1 is a transport failure. */
  def send(port: Int, reqs: IndexedSeq[Req], t0Ns: Long, threads: Int): IndexedSeq[Sent] = {
    val url = URI.create(s"http://127.0.0.1:$port/location").toURL
    val next = new AtomicInteger(0)
    val results = new Array[Sent](reqs.size)
    val workers = (0 until threads).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          val r = reqs(i)
          val due = t0Ns + r.offsetNs
          var wait = due - Clock.epochNs()
          while (wait > 0) { LockSupport.parkNanos(wait); wait = due - Clock.epochNs() }
          val sent = Clock.epochNs()
          val status = try post(url, r.body) catch { case _: java.io.IOException => -1 }
          results(i) = Sent(r.seq, status, sent, Clock.epochNs())
          i = next.getAndIncrement()
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    results.toIndexedSeq
  }

  private def post(url: java.net.URL, body: String): Int = {
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setConnectTimeout(10000)
    c.setReadTimeout(30000)
    c.setRequestProperty("Content-Type", "application/json")
    val b = body.getBytes(StandardCharsets.UTF_8)
    c.setFixedLengthStreamingMode(b.length)
    val os = c.getOutputStream
    os.write(b); os.close()
    val code = c.getResponseCode
    // drain and close the body so the connection goes back to the pool
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    if (in != null) { in.readAllBytes(); in.close() }
    code
  }

  /** The generator process. Args: seed, phase spec, first seq, threads,
    * result file. Prints READY once its plan is built, then reads
    * "<port> <t0 epoch ns>" on stdin, sends, writes one line per request
    * to the result file and exits. */
  def main(args: Array[String]): Unit = {
    val Array(seed, spec, firstSeq, threads, out) = args
    val reqs = plan(seed.toLong, parsePhases(spec), firstSeq.toInt)
    println("READY")
    System.out.flush()
    val Array(port, t0) = new BufferedReader(new InputStreamReader(System.in)).readLine().trim.split(" ")
    val sent = send(port.toInt, reqs, t0.toLong, threads.toInt)
    Files.write(Paths.get(out), sent.map(s => s"${s.seq} ${s.status} ${s.sentNs} ${s.doneNs}")
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    println("DONE")
  }

  def readSent(path: java.nio.file.Path): IndexedSeq[Sent] =
    Files.readAllLines(path).toArray(new Array[String](0)).toIndexedSeq.filter(_.nonEmpty).map { l =>
      val Array(a, b, c, d) = l.split(" ")
      Sent(a.toInt, b.toInt, c.toLong, d.toLong)
    }
}
