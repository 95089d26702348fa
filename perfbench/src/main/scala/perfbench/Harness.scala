package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Duration
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.ingest.Fetch.Pacer

/** Everything one run shares: the session, the run's inputs, the tracing
  * switches and the tallies that end up in the result line. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: Path, val cpus: Int) {
  val spans = new Spans(trace)
  val ledger: JobLedger = new JobLedger
  if (trace) spark.sparkContext.addSparkListener(ledger)

  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  private val misses = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Count one operation or output check; a miss is a failure. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      if (misses.size < 20) misses.add(what)
    }
    ok
  }
  def missList: Seq[String] = misses.asScala.toSeq

  /** Metrics by name → (value, unit), in print order. */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The per-workload metric names of the benchmark's documentation. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** JVM start to a ready session, and the seconds of each repeated
    * fixture build, both net of steal; set-up is the first plus the
    * median of the rest. */
  var sessionSeconds: Double = 0.0
  val setups = mutable.ArrayBuffer.empty[Double]
  def setupSeconds: Double = sessionSeconds + Stats.median(setups.toSeq)

  /** Run one fixture build and record its seconds, net of steal. */
  def setup[T](f: => T): T = {
    val s0 = Steal.sample()
    val t0 = System.nanoTime()
    try f finally setups += Steal.net((System.nanoTime() - t0) / 1e9, s0, Steal.sample())
  }

  def dir(name: String): Path = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d
  }

  /** Heap still in use after a full collection: what the program keeps
    * (caches, plans, buffers), without the JVM's heap-growth noise that
    * makes the peak resident set swing between identical runs. */
  def heapLiveMb(): Double = {
    // the least of a few collections: Spark's cleaner frees broadcast and
    // shuffle state only after a collection has found it unreachable
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 4).map { _ =>
      System.gc(); Thread.sleep(150)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Time the JIT compilers have spent, for the measured window's delta. */
  def jitMs: Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** GC time of the whole JVM, for the measured window's delta. */
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

object Stats {
  /** Nearest-rank percentile, p in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  /** Median, the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** CPU time the hypervisor gave to other guests (`steal` in /proc/stat),
  * as a share of the busy CPU time (user, nice, system, irq, softirq and
  * steal; idle and iowait left out) between two samples. The kernel
  * counts steal only while a vCPU has work, so this share is the host's
  * contention, whatever number of cores the program keeps busy. On a
  * shared host it swings between 0 and over a quarter within minutes,
  * and a run's wall times stretch with it by 1 / (1 - steal): measured
  * ticks doubled in length between runs a few minutes apart. The gated
  * times are therefore a model, wall × (1 - steal), which a host without
  * steal leaves unchanged; the raw wall times are printed too. */
object Steal {
  final case class Sample(steal: Long, busy: Long)

  def sample(): Sample =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        // cpu  user nice system idle iowait irq softirq steal guest guest_nice
        val f = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
        Sample(f(7), f(0) + f(1) + f(2) + f(5) + f(6) + f(7))
      } finally src.close()
    } catch { case _: Exception => Sample(0L, 0L) }

  def share(a: Sample, b: Sample): Double =
    if (b.busy > a.busy) (b.steal - a.steal).toDouble / (b.busy - a.busy) else 0.0

  def net(wall: Double, a: Sample, b: Sample): Double = wall * (1 - share(a, b))
}

/** A pacer on real time that counts the sleeps it is asked for. */
final class CountingPacer extends Pacer {
  val sleeps = new AtomicLong(0)
  def nanoTime(): Long = System.nanoTime()
  def sleep(millis: Long): Unit = { sleeps.incrementAndGet(); Thread.sleep(millis) }
}

/** HttpClient that reports the wall time of every blocking send. */
final class TimedHttpClient(inner: HttpClient, onSend: (Long, Long) => Unit) extends HttpClient {
  def cookieHandler() = inner.cookieHandler()
  def connectTimeout() = inner.connectTimeout()
  def followRedirects() = inner.followRedirects()
  def proxy() = inner.proxy()
  def sslContext() = inner.sslContext()
  def sslParameters() = inner.sslParameters()
  def authenticator() = inner.authenticator()
  def version() = inner.version()
  def executor() = inner.executor()
  def send[T](req: HttpRequest, h: HttpResponse.BodyHandler[T]): HttpResponse[T] = {
    val t0 = System.nanoTime()
    try inner.send(req, h) finally onSend(t0, System.nanoTime())
  }
  def sendAsync[T](req: HttpRequest, h: HttpResponse.BodyHandler[T]) = inner.sendAsync(req, h)
  def sendAsync[T](req: HttpRequest, h: HttpResponse.BodyHandler[T],
      p: HttpResponse.PushPromiseHandler[T]) = inner.sendAsync(req, h, p)
}

/** One benchmark client: HTTP/1.1 to the program's API on localhost. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  def url(path: String): String = s"http://127.0.0.1:$port$path"

  def get(path: String): (Int, Array[Byte]) = {
    val rsp = http.send(HttpRequest.newBuilder(URI.create(url(path)))
      .timeout(Duration.ofSeconds(60)).GET().build(), HttpResponse.BodyHandlers.ofByteArray())
    (rsp.statusCode(), rsp.body())
  }

  /** POST a JSON body, signed with a NIP-98 header when `key` is given. */
  def post(path: String, body: String, key: Option[Array[Byte]] = None): (Int, Array[Byte]) = {
    val b = HttpRequest.newBuilder(URI.create(url(path)))
      .timeout(Duration.ofSeconds(60))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body))
    key.foreach(k => b.header("Authorization",
      graft.api.NostrAuth.authHeader(k, "POST", url(path), System.currentTimeMillis() / 1000)))
    val rsp = http.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    (rsp.statusCode(), rsp.body())
  }
}

object Json {
  def parse(bytes: Array[Byte]): Option[JValue] =
    try Some(JsonMethods.parse(new String(bytes, StandardCharsets.UTF_8)))
    catch { case _: Exception => None }

  def str(v: JValue): Option[String] = v match { case JString(s) => Some(s); case _ => None }

  def arr(v: JValue): Option[List[JValue]] = v match { case JArray(a) => Some(a); case _ => None }

  def render(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))

  def metrics(m: collection.Map[String, (Double, String)]): JObject =
    JObject(m.toList.map { case (k, (v, u)) =>
      k -> JObject("value" -> (if (v.isNaN || v.isInfinite) JNull else JDouble(v)), "unit" -> JString(u))
    })
}

object Files2 {
  /** Data files (no `_`/`.` markers) under `dir`, recursively. */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }).toList
      finally s.close()
    }

  def bytes(files: Seq[Path]): Long = files.map(Files.size).sum

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toList.reverse.foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }
}
