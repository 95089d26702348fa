package graft

import java.nio.file.{Files, Path, Paths}
import java.security.SecureRandom
import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.SparkSession

import graft.api.{ApiServer, OracleApi}
import graft.ingest.Fetch.{HttpFetcher, StationCoord, TokenBucket}
import graft.ingest.IngestTick
import graft.ingest.IngestTick.TickConfig
import graft.oracle.{EventStore, Schnorr}
import graft.store.WeatherStore

/** The engine as a service: the reference ships two binaries — the
  * oracle HTTP server (`crates/oracle/src/main.rs:10-62`) and the
  * hourly NOAA ingest daemon (`crates/daemon/src/main.rs:14-101`) —
  * this main boots both in one process: store + event DB + API server
  * + the [[IngestTick]] hourly loop, all sharing one SparkSession.
  *
  * Flags are `--name=value`, mirroring the reference CLIs' knobs
  * (daemon/src/utils.rs:24-56, oracle Cli):
  *
  * {{{
  *   --host=127.0.0.1 --port=9100       API bind (oracle: domain/port)
  *   --weather-dir=./weather_data       snapshot store root
  *   --event-dir=./event_data           event DB root
  *   --key-file=./oracle_private_key.hex  32-byte hex scalar;
  *                                      generated if absent, like the
  *                                      reference's get_key (oracle.rs:
  *                                      759-771; hex not PEM — no ASN.1
  *                                      codec dependency, same scalar)
  *   --stations-url=…                   stations.cache.xml.gz upstream
  *   --metars-url=…                     metars.cache.xml.gz upstream
  *   --forecast-base=…                  ndfdXMLclient endpoint
  *   --sleep-interval=3600              seconds between ticks
  *   --ticks=-1                         cycles to run (-1 = forever,
  *                                      0 = API only, no daemon)
  *   --refill-rate=15 --token-capacity=3  rate limiter (utils.rs:44-51)
  *   --user-agent=noaa-data-pipeline/1.0
  *   --cores=N                          local session parallelism
  *                                      (default: SPARK_GRAFT_CPUS, else
  *                                      the host's processors)
  * }}}
  *
  * Defaults point at the same public upstreams the reference uses
  * (coordinates.rs:138, download_observations.rs:237,
  * download_forecast.rs:900). The ingest loop runs on the main thread;
  * the API serves from its own pool — matching the reference's
  * deployment shape (daemon posts to oracle, here they share a store,
  * so each tick's snapshot is immediately visible to the routes).
  */
object Main {

  final case class Config(
      host: String = "127.0.0.1",
      port: Int = 9100,
      weatherDir: String = "./weather_data",
      eventDir: String = "./event_data",
      keyFile: String = "./oracle_private_key.hex",
      stationsUrl: String = "https://aviationweather.gov/data/cache/stations.cache.xml.gz",
      metarsUrl: String = "https://aviationweather.gov/data/cache/metars.cache.xml.gz",
      forecastBase: String =
        "https://graphical.weather.gov/xml/sample_products/browser_interface/ndfdXMLclient.php",
      sleepIntervalSeconds: Long = 3600L,
      ticks: Int = -1,
      refillRateSeconds: Double = 15.0,
      tokenCapacity: Int = 3,
      userAgent: String = "noaa-data-pipeline/1.0",
      cores: Int = Sessions.cores)

  def parse(args: Array[String]): Config =
    args.foldLeft(Config()) { (c, arg) =>
      arg.split("=", 2) match {
        case Array("--host", v) => c.copy(host = v)
        case Array("--port", v) => c.copy(port = v.toInt)
        case Array("--weather-dir", v) => c.copy(weatherDir = v)
        case Array("--event-dir", v) => c.copy(eventDir = v)
        case Array("--key-file", v) => c.copy(keyFile = v)
        case Array("--stations-url", v) => c.copy(stationsUrl = v)
        case Array("--metars-url", v) => c.copy(metarsUrl = v)
        case Array("--forecast-base", v) => c.copy(forecastBase = v)
        case Array("--sleep-interval", v) => c.copy(sleepIntervalSeconds = v.toLong)
        case Array("--ticks", v) => c.copy(ticks = v.toInt)
        case Array("--refill-rate", v) => c.copy(refillRateSeconds = v.toDouble)
        case Array("--token-capacity", v) => c.copy(tokenCapacity = v.toInt)
        case Array("--user-agent", v) => c.copy(userAgent = v)
        case Array("--cores", v) => c.copy(cores = v.toInt)
        case other => sys.error(s"unknown flag: ${other.mkString("=")} (need --name=value)")
      }
    }

  /** Load the 32-byte oracle scalar from `path` (hex), generating and
    * persisting a fresh one when the file does not exist — the
    * reference's get_key bootstrap (oracle.rs:759-771). Rejects scalars
    * outside [1, n−1] the way secp256k1 key construction does. */
  def loadOrCreateKey(path: Path): Array[Byte] = {
    if (Files.exists(path)) {
      val hex = new String(Files.readAllBytes(path), "UTF-8").trim
      require(hex.matches("[0-9a-fA-F]{64}"), s"$path: need 64 hex chars")
      val key = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      Schnorr.pubkey(key) // throws on out-of-range scalar
      key
    } else {
      val rng = new SecureRandom()
      val key = new Array[Byte](32)
      var ok = false
      while (!ok) {
        rng.nextBytes(key)
        ok = scala.util.Try(Schnorr.pubkey(key)).isSuccess
      }
      if (path.getParent != null) Files.createDirectories(path.getParent)
      Files.write(path, key.map("%02x".format(_)).mkString.getBytes("UTF-8"))
      key
    }
  }

  /** The reference's per-chunk list-point URL
    * (download_forecast.rs:900): one week of the hourly elements, US
    * units, `%20`-joined 2-dp coordinates. */
  def forecastUrl(base: String, now: () => Timestamp)(chunk: Seq[StationCoord]): String = {
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)
    val begin = fmt.format(now().toInstant)
    val end = fmt.format(now().toInstant.plusSeconds(7L * 24 * 3600))
    s"$base?listLatLon=${graft.ingest.Fetch.coordinatesQuery(chunk)}" +
      s"&product=time-series&begin=$begin&end=$end&Unit=e" +
      "&maxt=maxt&mint=mint&wspd=wspd"
  }

  /** Wire everything and serve. Extracted from `main` so a spec can run
    * the same boot path against stub upstreams and a port-0 bind.
    * Returns the started server, the bound port, and a `run(ticks)`
    * thunk driving the ingest loop. */
  def boot(spark: SparkSession, cfg: Config,
      clock: () => Timestamp = () => new Timestamp(System.currentTimeMillis()))
      : (ApiServer, Int, Int => Seq[IngestTick.TickReport]) = {
    val weatherStore = new WeatherStore(spark, cfg.weatherDir)
    val eventStore = new EventStore(spark, cfg.eventDir)
    val key = loadOrCreateKey(Paths.get(cfg.keyFile))
    val api = new OracleApi(spark, weatherStore, eventStore, key, now = clock)
    val server = new ApiServer(api, cfg.host, cfg.port)
    val port = server.start()

    val fetcher = new HttpFetcher(
      userAgent = cfg.userAgent,
      bucket = new TokenBucket(cfg.tokenCapacity, cfg.refillRateSeconds))
    val tickCfg = TickConfig(cfg.stationsUrl, cfg.metarsUrl,
      forecastUrl(cfg.forecastBase, clock))
    val run = (ticks: Int) => IngestTick.runLoop(spark, fetcher, weatherStore,
      tickCfg, ticks, cfg.sleepIntervalSeconds * 1000L, clock = clock,
      etl = Some((eventStore, key)))
    (server, port, run)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val spark = Sessions.local(cfg.cores.toString, "graft-service")
    val (server, port, run) = boot(spark, cfg)
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    log.info(s"graft API listening on http://${cfg.host}:$port")
    sys.addShutdownHook { server.stop(); spark.stop() }
    if (cfg.ticks == 0) Thread.currentThread().join() // API only
    else run(if (cfg.ticks < 0) Int.MaxValue else cfg.ticks)
  }
}
