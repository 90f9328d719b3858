package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers

import perfbench.Gen.Req

/** The JDK HTTP client pinned to HTTP/1.1: sequential requests reuse
  * one keep-alive connection to the loopback server. */
final class HttpClient1(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def send(b: HttpRequest.Builder): (Int, String) = {
    val r = client.send(b.build(), BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def at(path: String) = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))

  def post(path: String, body: String): (Int, String) =
    send(at(path).header("Content-Type", "application/json").POST(BodyPublishers.ofString(body)))

  def get(path: String): (Int, String) = send(at(path).GET())
}

/** One completed (or failed) request of a closed loop. */
final case class Sample(client: Int, req: Int, cls: String, startNs: Long, latNs: Long,
                        status: Int, error: Option[String])

object Load {

  /** Closed loop: `clients` threads, each sending its next request only
    * after the previous answer, until `seconds` elapse. Clients take the
    * next position of `order` from a shared cursor, so the requests sent
    * are a prefix of it. `call` performs one request and returns
    * (status, body); `keep` receives every body. */
  def closedLoop(clients: Int, seconds: Double, order: Vector[Int], pool: Vector[Req],
                 open: Int => ((Req) => (Int, String), () => Unit),
                 keep: (Req, String) => Unit = (_, _) => ()): Seq[Sample] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val cursor = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val (call, close) = open(c)
        try {
          while (System.nanoTime() < deadline) {
            val r = pool(order(cursor.getAndIncrement() % order.size))
            val t0 = System.nanoTime()
            val (status, err, body) =
              try { val (s, b) = call(r); (s, None, b) }
              catch { case scala.util.control.NonFatal(e) =>
                (-1, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), "") }
            results.add(Sample(c, r.id, r.cls, t0, System.nanoTime() - t0, status, err))
            if (status == 200) keep(r, body)
          }
        } finally close()
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val b = Seq.newBuilder[Sample]; results.forEach(b += _); b.result()
  }

  /** From the first request sent to the last answer received: a
    * closed loop's clients finish their in-flight requests after the
    * deadline, so this is the span the completed requests took. */
  def elapsedSeconds(samples: Seq[Sample]): Double =
    if (samples.isEmpty) 1.0
    else (samples.map(s => s.startNs + s.latNs).max - samples.map(_.startNs).min) / 1e9

  /** Per-process resident-set high-water mark, MiB (VmHWM). */
  def rssPeakMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Throwable => 0.0 }
}

/** Host-load stamp, the method the repository's `Bench` uses: 1-minute
  * loadavg, and the share of the machine's CPU time spent by processes
  * other than this one over a window, from /proc/stat and
  * /proc/self/stat jiffies. */
object HostLoad {
  final case class Probe(busy: Long, self: Long, wallNs: Long)

  def probe(): Probe = {
    def busyJiffies(): Long = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
        Seq(1, 2, 3, 6, 7, 8).map(i => if (i < f.length) f(i).toLong else 0L).sum
      } finally src.close()
    }
    def selfJiffies(): Long = {
      val src = scala.io.Source.fromFile("/proc/self/stat")
      try {
        val line = src.getLines().next()
        val rest = line.substring(line.lastIndexOf(')') + 2).split("\\s+")
        rest(11).toLong + rest(12).toLong
      } finally src.close()
    }
    try Probe(busyJiffies(), selfJiffies(), System.nanoTime())
    catch { case _: Throwable => Probe(-1, -1, System.nanoTime()) }
  }

  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => 0.0 }

  lazy val statCores: Int =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().count(l => l.startsWith("cpu") && l.length > 3 && l.charAt(3).isDigit)
      finally src.close()
    } catch { case _: Throwable => Runtime.getRuntime.availableProcessors() }

  /** CLK_TCK: jiffies per second (USER_HZ); 100 on Linux. */
  val ticksPerSecond = 100.0

  /** Share of the machine's CPU capacity used by other processes
    * between two probes. */
  def externalShare(a: Probe, b: Probe): Double =
    if (a.busy < 0 || b.busy < 0) 0.0
    else {
      val wallTicks = (b.wallNs - a.wallNs) / 1e9 * ticksPerSecond
      if (wallTicks <= 0) 0.0
      else math.max(0.0, ((b.busy - a.busy) - (b.self - a.self)) / (wallTicks * statCores))
    }

  /** The gate `Bench` applies: a window is busy when loadavg exceeds
    * half the cores (or cpus+8) or others used over a quarter of the
    * machine. */
  def busy(load: Double, external: Double, cpus: Int): Boolean =
    load > math.max(Runtime.getRuntime.availableProcessors() / 2.0, cpus + 8.0) || external > 0.25
}
