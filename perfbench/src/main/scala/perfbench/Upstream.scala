package perfbench

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.GZIPOutputStream

import com.sun.net.httpserver.{HttpExchange, HttpServer}

final case class StubStation(id: String, name: String, latCents: Int, lonCents: Int, state: String) {
  def lat: String = Gen.cents(latCents)
  def lon: String = Gen.cents(lonCents)
}

/** Deterministic synthetic values. Every reading is a pure function of
  * the seed, the station and the time, so the stub upstream and the
  * fixture builders agree without sharing state. */
object Gen {
  def cents(c: Int): String = {
    val a = math.abs(c)
    f"${if (c < 0) "-" else ""}${a / 100}.${a % 100}%02d"
  }

  def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform integer in [lo, hi] from a hash. */
  def pick(lo: Int, hi: Int, xs: Long*): Int =
    lo + java.lang.Math.floorMod(mix(xs: _*), (hi - lo + 1).toLong).toInt

  /** `k` distinct indices in [0, n), chosen by the hash of `xs`: the
    * seed picks which ones, never how many. */
  def distinct(n: Int, k: Int, xs: Long*): Seq[Int] =
    new scala.util.Random(mix(xs: _*)).shuffle((0 until n).toVector).take(k)

  /** `n` US stations with ids and 2-dp coordinates unique, so the
    * program's coordinate match attaches exactly one station to each
    * forecast point. */
  def stations(seed: Long, n: Int): IndexedSeq[StubStation] = {
    val rnd = new java.util.Random(seed)
    val states = graft.model.UsStates.codes.toIndexedSeq.sorted
    val ids = scala.collection.mutable.LinkedHashSet.empty[String]
    val coords = scala.collection.mutable.Set.empty[(Int, Int)]
    val out = IndexedSeq.newBuilder[StubStation]
    while (ids.size < n) {
      val id = "K" + (1 to 3).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString
      val c = (2500 + rnd.nextInt(2400), -(6800 + rnd.nextInt(5600)))
      if (!ids.contains(id) && !coords.contains(c)) {
        ids += id; coords += c
        out += StubStation(id, s"Site $id", c._1, c._2, states(rnd.nextInt(states.size)))
      }
    }
    out.result()
  }

  def stationKey(s: StubStation): Long = s.latCents.toLong * 100000L + s.lonCents

  /** Hourly METAR values for one station. */
  def tempC(seed: Long, key: Long, hourEpoch: Long): Double =
    pick(-50, 350, seed, key, hourEpoch, 1) / 10.0
  def windKt(seed: Long, key: Long, hourEpoch: Long): Int = pick(0, 30, seed, key, hourEpoch, 2)
  def windDir(seed: Long, key: Long, hourEpoch: Long): Int = pick(0, 35, seed, key, hourEpoch, 3) * 10

  /** Forecast values: daily max/min (°F) and 3-hourly wind (kt). */
  def maxT(seed: Long, key: Long, dayEpoch: Long): Int = pick(60, 99, seed, key, dayEpoch, 4)
  def minT(seed: Long, key: Long, dayEpoch: Long): Int = pick(30, 59, seed, key, dayEpoch, 5)
  def wspd(seed: Long, key: Long, slotEpoch: Long): Int = pick(0, 25, seed, key, slotEpoch, 6)

  val Iso: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)
  val Dwml: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'-00:00'").withZone(ZoneOffset.UTC)

  /** Slots of the program's forecast week grid: [now, now + 7 d] every 3 h. */
  val WeekSlots: Int = 7 * 8 + 1
}

/** In-process stand-in for the three NOAA endpoints the daemon reads:
  * the station index and the METAR cache (both gzip XML) and the DWML
  * list-point forecast service. Adds up the time it spends serving, so
  * that time can be separated from the program's. */
final class Upstream(seed: Long, val stations: IndexedSeq[StubStation]) {
  import Gen._

  private val byCoord: Map[(String, String), StubStation] =
    stations.map(s => (s.lat, s.lon) -> s).toMap

  val servedNs = new AtomicLong(0)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(4)
  server.setExecutor(pool)

  private val stationsGz: Array[Byte] = gzip {
    val sb = new StringBuilder("<response><data>\n")
    stations.foreach { s =>
      sb ++= s"<Station><station_id>${s.id}</station_id><site>${s.name}</site>" +
        s"<latitude>${s.lat}</latitude><longitude>${s.lon}</longitude>" +
        s"<elevation_m>${pick(0, 2000, seed, stationKey(s), 7)}</elevation_m>" +
        s"<country>US</country><state>${s.state}</state></Station>\n"
    }
    // non-US rows the program's parse-time filter must drop
    Seq(("CYYZ", "43.68", "-79.63"), ("CYVR", "49.19", "-123.18")).foreach { case (id, la, lo) =>
      sb ++= s"<Station><station_id>$id</station_id><site>$id</site><latitude>$la</latitude>" +
        s"<longitude>$lo</longitude><country>CA</country><state>ON</state></Station>\n"
    }
    sb ++= "</data></response>\n"
    sb.toString
  }

  /** Logical time of the tick being served (the METAR cache carries one
    * observation per station for it). */
  @volatile var tickTime: Timestamp = new Timestamp(0L)

  private def metarsXml(t: Timestamp): String = {
    val hour = t.getTime / 3600000L
    val obsTime = Iso.format(t.toInstant.minusSeconds(7 * 60))
    val sb = new StringBuilder("<response><data>\n")
    def metar(id: String, lat: String, lon: String, key: Long): Unit =
      sb ++= s"<METAR><station_id>$id</station_id><observation_time>$obsTime</observation_time>" +
        s"<latitude>$lat</latitude><longitude>$lon</longitude>" +
        s"<temp_c>${tempC(seed, key, hour)}</temp_c><dewpoint_c>${tempC(seed, key + 1, hour) - 5}</dewpoint_c>" +
        s"<wind_dir_degrees>${windDir(seed, key, hour)}</wind_dir_degrees>" +
        s"<wind_speed_kt>${windKt(seed, key, hour)}</wind_speed_kt></METAR>\n"
    stations.foreach(s => metar(s.id, s.lat, s.lon, stationKey(s)))
    metar("KZZZ", "10.00", "10.00", 1L) // untracked: the program filters it out
    sb ++= "</data></response>\n"
    sb.toString
  }

  /** One DWML document for a list-point request: a 24 h layout for the
    * daily max/min and a 3 h layout for wind, both covering the week the
    * program's grid spans from `begin`. */
  private def dwmlXml(points: Seq[(String, String)], begin: Instant): String = {
    val dayStart = begin.atOffset(ZoneOffset.UTC).toLocalDate.atStartOfDay(ZoneOffset.UTC).toInstant
    val days = (0 until 8).map(d => dayStart.plusSeconds(d * 86400L))
    val slots = (0 until WeekSlots).map(i => begin.plusSeconds(i * 10800L))
    val sb = new StringBuilder
    sb ++= s"<dwml><head><product><creation-date>${Iso.format(begin)}</creation-date></product></head><data>\n"
    points.zipWithIndex.foreach { case ((la, lo), i) =>
      sb ++= s"<location><location-key>point${i + 1}</location-key><point latitude=\"$la\" longitude=\"$lo\"/></location>\n"
    }
    sb ++= "<time-layout><layout-key>k-p24h-n8-1</layout-key>"
    days.foreach(d => sb ++= s"<start-valid-time>${Dwml.format(d)}</start-valid-time>")
    sb ++= "</time-layout>\n<time-layout><layout-key>k-p3h-n57-2</layout-key>"
    slots.foreach(s => sb ++= s"<start-valid-time>${Dwml.format(s)}</start-valid-time>")
    sb ++= "</time-layout>\n"
    points.zipWithIndex.foreach { case ((la, lo), i) =>
      val key = byCoord.get((la, lo)).map(stationKey).getOrElse(0L)
      def values(vs: Seq[Int]) = vs.map(v => s"<value>$v</value>").mkString
      sb ++= s"<parameters applicable-location=\"point${i + 1}\">" +
        "<temperature type=\"maximum\" units=\"Fahrenheit\" time-layout=\"k-p24h-n8-1\">" +
        values(days.map(d => maxT(seed, key, d.getEpochSecond / 86400))) + "</temperature>" +
        "<temperature type=\"minimum\" units=\"Fahrenheit\" time-layout=\"k-p24h-n8-1\">" +
        values(days.map(d => minT(seed, key, d.getEpochSecond / 86400))) + "</temperature>" +
        "<wind-speed type=\"sustained\" units=\"knots\" time-layout=\"k-p3h-n57-2\">" +
        values(slots.map(s => wspd(seed, key, s.getEpochSecond / 10800))) + "</wind-speed>" +
        "</parameters>\n"
    }
    sb ++= "</data></dwml>\n"
    sb.toString
  }

  private def gzip(s: String): Array[Byte] = {
    val raw = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(raw)
    gz.write(s.getBytes(StandardCharsets.UTF_8))
    gz.close()
    raw.toByteArray
  }

  private def serve(path: String)(body: HttpExchange => (Int, Array[Byte])): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      try {
        val (code, bytes) =
          try body(ex)
          catch { case e: Exception => (500, String.valueOf(e.getMessage).getBytes(StandardCharsets.UTF_8)) }
        ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length.toLong)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      } finally {
        ex.close()
        servedNs.addAndGet(System.nanoTime() - t0)
      }
    })

  serve("/stations.xml.gz")(_ => (200, stationsGz))
  serve("/metars.xml.gz")(_ => (200, gzip(metarsXml(tickTime))))
  serve("/forecast") { ex =>
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&').toSeq
      .map(kv => kv.takeWhile(_ != '=') -> java.net.URLDecoder.decode(kv.dropWhile(_ != '=').drop(1), "UTF-8"))
      .toMap
    val points = q.getOrElse("listLatLon", "").split(' ').toSeq.filter(_.nonEmpty)
      .map { p => val Array(la, lo) = p.split(','); (la, lo) }
    val begin = LocalDateTime.parse(q("begin")).toInstant(ZoneOffset.UTC)
    (200, dwmlXml(points, begin).getBytes(StandardCharsets.UTF_8))
  }
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
