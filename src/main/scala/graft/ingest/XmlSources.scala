package graft.ingest

import java.sql.Timestamp
import java.time.OffsetDateTime

import scala.util.Try
import scala.xml.{Elem, Node, XML}

import graft.model.{Observation, Station, Units, UsStates}

/** XML decoders for the NOAA station index and METAR observation feeds.
  *
  * Parsing is a pure String → Seq[row] function run on the driver (the
  * feeds are single ~MB documents fetched hourly — not a distributed
  * concern; SURVEY §2.1 S4/S5); callers distribute the resulting rows.
  * For huge XML corpora the same parse functions drop into
  * `spark.read.textFile(...).mapPartitions` unchanged.
  */
object XmlSources {

  private def text(n: Node, child: String): Option[String] = {
    val s = (n \ child).text.trim
    if (s.isEmpty) None else Some(s)
  }

  private def ts(s: String): Timestamp =
    Timestamp.from(OffsetDateTime.parse(s).toInstant)

  /** Decode `stations.cache.xml` (already gunzipped) →  stations, applying
    * the US country + 51-state filter (crates/daemon/src/coordinates.rs:133-161). */
  /** Parse the document, tolerating a malformed/truncated feed: the
    * reference's daemon logs the serde error and skips the cycle rather
    * than dying (the next hourly run refetches); rows with unparseable
    * REQUIRED fields are likewise dropped per row, not thrown. */
  private def loadOrEmpty(xml: String, feed: String): Seq[Node] =
    Try(XML.loadString(xml)) match {
      case scala.util.Success(root) => Seq(root)
      case scala.util.Failure(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"skipping malformed $feed feed: ${e.getMessage}")
        Seq.empty
    }

  def parseStations(xml: String): Seq[Station] = {
    loadOrEmpty(xml, "stations").flatMap(root => root \ "data" \ "Station").flatMap { st =>
      val country = text(st, "country")
      val state = text(st, "state")
      val keep = country.forall(_ == "US") &&
        state.exists(UsStates.codes.contains)
      for {
        id <- text(st, "station_id") if keep
        lat <- text(st, "latitude").flatMap(s => Try(s.toDouble).toOption)
        lon <- text(st, "longitude").flatMap(s => Try(s.toDouble).toOption)
      } yield Station(
        station_id = id,
        station_name = text(st, "site").getOrElse(""),
        latitude = lat,
        longitude = lon,
        elevation_m = text(st, "elevation_m").flatMap(s => Try(s.toDouble).toOption),
        country = country,
        state = state)
    }
  }

  /** Decode `metars.cache.xml` → observations, dropping rows missing
    * temp_c / latitude / longitude / observation_time
    * (crates/daemon/src/domains/observations/download_observations.rs:242-250). */
  def parseMetars(xml: String): Seq[Observation] = {
    loadOrEmpty(xml, "METAR").flatMap(root => root \ "data" \ "METAR").flatMap { m =>
      for {
        id <- text(m, "station_id")
        tempC <- text(m, "temp_c").flatMap(s => Try(s.toDouble).toOption)
        lat <- text(m, "latitude").flatMap(s => Try(s.toDouble).toOption)
        lon <- text(m, "longitude").flatMap(s => Try(s.toDouble).toOption)
        obsTime <- text(m, "observation_time").flatMap(s => Try(ts(s)).toOption)
      } yield Observation(
        station_id = id,
        station_name = "",
        latitude = lat,
        longitude = lon,
        generated_at = obsTime,
        temperature_value = Some(tempC),
        temperature_unit_code = Units.Celsius,
        wind_direction = text(m, "wind_dir_degrees").flatMap(s => Try(s.toLong).toOption),
        wind_direction_unit_code = Units.DegreesTrue,
        wind_speed = text(m, "wind_speed_kt").flatMap(s => Try(s.toLong).toOption),
        wind_speed_unit_code = Units.Knots,
        dewpoint_value = text(m, "dewpoint_c").flatMap(s => Try(s.toDouble).toOption),
        dewpoint_unit_code = Units.Celsius)
    }
  }
}
