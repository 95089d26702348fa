package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.SparkSession

import graft.Main
import graft.api.{ApiServer, NostrAuth, OracleApi}
import graft.model.{Forecast, Observation, Units}
import graft.oracle.{EntryRow, EventRow, EventStore, Schnorr, Uuid7}
import graft.store.WeatherStore
import graft.store.WeatherStore.Kinds

/** The service as `graft.Main` wires it, on directories of its own. */
final class Service(val spark: SparkSession, val root: Path, seed: Long,
    upstreamBase: String, clock: () => Timestamp) {
  val weatherDir: Path = root.resolve("weather_data")
  val eventDir: Path = root.resolve("event_data")
  private val keyFile = root.resolve("oracle_private_key.hex")
  Files.createDirectories(root)
  // a seed-derived oracle key, so signatures repeat with the seed
  Files.write(keyFile, Fixtures.secret(seed, "oracle").map("%02x".format(_)).mkString.getBytes("UTF-8"))

  val cfg: Main.Config = Main.Config(
    host = "127.0.0.1", port = 0,
    weatherDir = weatherDir.toString, eventDir = eventDir.toString, keyFile = keyFile.toString,
    stationsUrl = s"$upstreamBase/stations.xml.gz",
    metarsUrl = s"$upstreamBase/metars.xml.gz",
    forecastBase = s"$upstreamBase/forecast",
    ticks = 0)
  val (server: ApiServer, port: Int, _) = Main.boot(spark, cfg, clock)
  val key: Array[Byte] = Main.loadOrCreateKey(keyFile)
  val weather = new WeatherStore(spark, weatherDir.toString)
  val events = new EventStore(spark, eventDir.toString)

  def stop(): Unit = server.stop()
}

/** One event with its entries, as the benchmark seeds it. */
final case class EventSpec(id: String, locations: Seq[String], observation: Timestamp,
    signing: Timestamp, places: Int, entries: Seq[(String, Seq[(String, String, String, String)])])

object Fixtures {
  /** A valid secp256k1 scalar derived from the seed and a label. */
  def secret(seed: Long, label: String): Array[Byte] =
    Iterator.from(0).map(i => Schnorr.taggedHash("perfbench/key", s"$seed/$label/$i".getBytes("UTF-8")))
      .find(k => scala.util.Try(Schnorr.pubkey(k)).isSuccess).get

  def ts(day: LocalDate, hour: Int, minute: Int = 0): Timestamp =
    Timestamp.from(day.atStartOfDay(ZoneOffset.UTC).toInstant.plusSeconds(hour * 3600L + minute * 60L))

  /** First day of the logical calendar: the seed moves it, so runs with
    * different seeds cross different dates. */
  def day0(seed: Long): LocalDate = LocalDate.of(2024, 6, 1).plusDays(java.lang.Math.floorMod(seed, 90L))

  /** Deterministic UUIDv7 at logical time `at`. */
  def uuid(at: Instant, seed: Long, n: Long): String =
    Uuid7.generateDeterministic(at, Gen.mix(seed, n, 11), Gen.mix(seed, n, 12))

  val Choices: IndexedSeq[String] = IndexedSeq("over", "par", "under")

  /** `n` events over `stations`, each with `entries` entries of two
    * station picks and three values each (six values per entry). */
  def eventSpecs(seed: Long, stations: IndexedSeq[StubStation], n: Int, entries: Int,
      observation: Int => Timestamp, signing: Int => Timestamp): Seq[EventSpec] =
    (0 until n).map { e =>
      val obs = observation(e)
      val locations = Gen.distinct(stations.size, 5, seed, e, 21).map(i => stations(i).id)
      EventSpec(
        id = uuid(obs.toInstant.minusSeconds(86400), seed, e),
        locations = locations, observation = obs, signing = signing(e), places = 3,
        entries = (0 until entries).map { k =>
          val picks = Gen.distinct(locations.size, 2, seed, e, k, 22).zipWithIndex.map { case (at, j) =>
            def c(x: Int) = Choices(Gen.pick(0, 2, seed, e, k, j, x))
            (locations(at), c(1), c(2), c(3))
          }
          // milliseconds apart: the score tiebreak reads the id's time
          (uuid(obs.toInstant.minusSeconds(43200).plusMillis(k * 37L + e), seed, 1000L * e + k), picks)
        })
    }

  /** The JSON bodies the API takes for an event and for one entry. */
  def eventBody(e: EventSpec): String =
    s"""{"id":"${e.id}","signing_date":"${Gen.Iso.format(e.signing.toInstant)}",""" +
      s""""observation_date":"${Gen.Iso.format(e.observation.toInstant)}",""" +
      s""""locations":[${e.locations.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""number_of_values_per_entry":6,"total_allowed_entries":${e.entries.size},""" +
      s""""number_of_places_win":${e.places}}"""

  def entryBody(eventId: String, entryId: String, picks: Seq[(String, String, String, String)]): String =
    s"""{"id":"$entryId","event_id":"$eventId","expected_observations":[""" +
      picks.map { case (st, lo, hi, w) =>
        s"""{"stations":"$st","temp_low":"$lo","temp_high":"$hi","wind_speed":"$w"}"""
      }.mkString(",") + "]}"

  /** Insert events and all their entries in bulk through the event
    * store (three appends), as a coordinator would after many POSTs. */
  def insertEvents(svc: Service, specs: Seq[EventSpec], coordinator: Array[Byte], now: Timestamp): Unit = {
    val npub = NostrAuth.npubOf(coordinator)
    svc.events.insertEvents(specs.map { e =>
      val nonce = Schnorr.taggedHash("perfbench/nonce", svc.key ++ e.id.getBytes("UTF-8"))
      EventRow(e.id, e.entries.size, e.places, 6, e.signing, e.observation, e.locations, npub,
        Some(nonce), Some(OracleApi.announcementBytes(svc.key, nonce, e.entries.size, e.places)),
        None, now, now)
    })
    svc.events.insertEntriesAutoIds(
      specs.flatMap(e => e.entries.map { case (id, _) => EntryRow(id, e.id, 0L, now, now) }),
      specs.flatMap(e => e.entries.flatMap { case (id, picks) =>
        picks.map { case (st, lo, hi, w) => (id, st, Some(lo), Some(hi), Some(w)) }
      }))
  }

  /** Per-event weather rows for the event's locations, as the ETL
    * appends them (one observed and one forecast reading per station). */
  def insertWeather(svc: Service, seed: Long, specs: Seq[EventSpec], now: Timestamp): Unit = {
    val rows = specs.flatMap(e => e.locations.zipWithIndex.map { case (st, i) =>
      val key = Gen.mix(seed, st.hashCode.toLong)
      def reading(x: Int) = graft.oracle.WeatherReading(e.observation,
        Gen.pick(30, 59, key, x, 1).toLong, Gen.pick(60, 99, key, x, 2).toLong, Gen.pick(0, 25, key, x, 3).toLong)
      (e.id, graft.oracle.WeatherRow(uuid(e.observation.toInstant, seed, 5000L + i + 100L * e.hashCode),
        st, Some(reading(0)), Some(reading(1)), now, now))
    })
    svc.events.insertWeather(rows.map(_._2), rows.map { case (eid, w) =>
      graft.oracle.EventWeatherRow(uuid(now.toInstant, seed, w.id.hashCode.toLong), eid, w.id, now) })
  }

  /** Attest an event over its stored scores with its committed nonce,
    * the signature the ETL's signing step writes back. */
  def sign(svc: Service, e: EventSpec): Unit = {
    val stored = svc.events.events.collect().find(_.id == e.id).get
    val ids = e.entries.map(_._1).sorted
    val scores = svc.events.entries.collect().filter(_.event_id == e.id).map(r => r.id -> r.score).toMap
    val winners = ids.sortBy(id => (-scores.getOrElse(id, 0L), id)).take(e.places).map(id => ids.indexOf(id).toLong)
    svc.events.updateAttestation(e.id, Schnorr.attestationSecret(svc.key, stored.nonce.get,
      graft.oracle.Scoring.winningBytes(winners)))
  }

  /** One ingest-shaped snapshot of both kinds at `t`, written through
    * the store's own append path: the forecast week grid and one
    * observation per station. Returns (forecast rows, observation rows). */
  def writeSnapshot(spark: SparkSession, store: WeatherStore, seed: Long,
      stations: IndexedSeq[StubStation], t: Timestamp): (Long, Long) = {
    import spark.implicits._
    val begin = t.toInstant
    val fc = for (s <- stations; i <- 0 until Gen.WeekSlots) yield {
      val b = begin.plusSeconds(i * 10800L)
      val key = Gen.stationKey(s)
      val day = b.getEpochSecond / 86400
      Forecast(s.id, s.name, s.lat, s.lon, t, Timestamp.from(b), Timestamp.from(b.plusSeconds(10800)),
        Some(Gen.maxT(seed, key, day).toLong), Some(Gen.minT(seed, key, day).toLong), Units.Fahrenheit,
        Some(Gen.wspd(seed, key, b.getEpochSecond / 10800).toLong), Units.Knots,
        None, Units.DegreesTrue, None, None, Units.Percent, None, Units.Inches, None, Units.Percent)
    }
    val hour = t.getTime / 3600000L
    val obs = stations.map { s =>
      val key = Gen.stationKey(s)
      Observation(s.id, s.name, s.lat.toDouble, s.lon.toDouble, Timestamp.from(begin.minusSeconds(420)),
        Some(Gen.tempC(seed, key, hour)), Units.Celsius, Some(Gen.windDir(seed, key, hour).toLong),
        Units.DegreesTrue, Some(Gen.windKt(seed, key, hour).toLong), Units.Knots,
        Some(Gen.tempC(seed, key + 1, hour) - 5), Units.Celsius)
    }
    store.write(fc.toDS().toDF(), Kinds.Forecasts, t)
    store.write(obs.toDS().toDF(), Kinds.Observations, t)
    (fc.size.toLong, obs.size.toLong)
  }

  /** Does the signed attestation of every event with one verify under
    * the oracle key? Winners are recomputed here from the stored scores
    * (outcome index = position in entry-id order; rank by score desc,
    * then entry id), independently of the program's ranking plan.
    * Returns (signed event ids, ids that fail to verify). */
  def verifyAttestations(svc: Service): (Seq[String], Seq[String]) = {
    val events = svc.events.events.collect().toSeq.filter(_.attestation_signature.isDefined)
    val entries = svc.events.entries.collect().toSeq.groupBy(_.event_id)
    val pub = Schnorr.pubkey(svc.key)
    val bad = events.filterNot { ev =>
      val es = entries.getOrElse(ev.id, Nil).sortBy(_.id)
      val index = es.map(_.id).zipWithIndex.toMap
      val winners = es.sortBy(e => (-e.score, e.id)).take(ev.number_of_places_win).map(e => index(e.id).toLong)
      val msg = graft.oracle.Scoring.winningBytes(winners)
      ev.nonce.exists(n => Schnorr.verify(pub, msg, Schnorr.pubkey(n) ++ ev.attestation_signature.get))
    }
    (events.map(_.id), bad.map(_.id))
  }

  /** Parquet files per event-store table in its live (newest committed) version. */
  def tableFiles(svc: Service): Seq[(String, Int)] =
    EventStore.AllTables.map { t =>
      t -> svc.events.tableVersions(t).lastOption.map(v =>
        Files2.dataFiles(svc.eventDir.resolve(t).resolve(v)).count(_.toString.endsWith(".parquet"))).getOrElse(0)
    }

  /** Useful weather rows per row stored: distinct (event, station)
    * pairs over all weather rows appended by the ETL. */
  def weatherLiveRatio(svc: Service): Double = {
    import org.apache.spark.sql.functions.col
    val rows = svc.events.weather.count()
    if (rows == 0) 0.0
    else {
      val pairs = svc.events.eventWeather.toDF().select(col("event_id"), col("weather_id"))
        .join(svc.events.weather.toDF().select(col("id").as("weather_id"), col("station_id")), "weather_id")
        .select("event_id", "station_id").distinct().count()
      pairs.toDouble / rows
    }
  }
}
