package graft.oracle

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Event-store rows (crates/oracle/src/db/event_db_migrations.rs:36-111;
  * FIXTURES.md §3). Enums become validated strings; the weather STRUCT
  * columns are native Spark structs — the reference needed ~400 LoC of
  * manual OrderedMap marshalling for these (db/mod.rs:775-1215).
  */
final case class WeatherReading(
    reading_date: Timestamp,
    temp_low: Long,
    temp_high: Long,
    wind_speed: Long)

final case class EventRow(
    id: String,
    total_allowed_entries: Int,
    number_of_places_win: Int,
    number_of_values_per_entry: Int,
    signing_date: Timestamp,
    observation_date: Timestamp,
    locations: Seq[String],
    coordinator_pubkey: String,
    nonce: Option[Array[Byte]],
    event_announcement: Option[Array[Byte]],
    attestation_signature: Option[Array[Byte]],
    created_at: Timestamp,
    updated_at: Timestamp)

final case class EntryRow(
    id: String,
    event_id: String,
    score: Long,
    created_at: Timestamp,
    updated_at: Timestamp)

final case class ChoiceRow(
    id: Long,
    entry_id: String,
    station: String,
    temp_low: Option[String],
    temp_high: Option[String],
    wind_speed: Option[String])

final case class WeatherRow(
    id: String,
    station_id: String,
    observed: Option[WeatherReading],
    forecasted: Option[WeatherReading],
    created_at: Timestamp,
    updated_at: Timestamp)

final case class EventWeatherRow(
    id: String,
    event_id: String,
    weather_id: String,
    created_at: Timestamp)

/** Listing filter (db/mod.rs:167-181): optional id IN-list and a row
  * limit that DEFAULTS to 100 — the reference guards the list endpoint
  * against unbounded scans; `EventFilter(limit = None)` opts out. */
final case class EventFilter(
    limit: Option[Int] = Some(100),
    eventIds: Option[Seq[String]] = None)

/** The event-store read shapes, factored over plain DataFrames so the
  * correctness gate can drive them on fixtures while [[EventStore]]
  * serves them on its tables. */
object EventQueries {

  /** Filtered event summaries (get_filtered_event_summarys,
    * event_data.rs:599-655): events ⋈ left entry-counts, optional IN-list,
    * default LIMIT 100. Ordered by id before the limit — the reference
    * limits an unordered scan, which is nondeterministic; a stable order
    * costs one bounded TopK (never a full sort at scale thanks to the
    * limit pushdown) and makes pagination meaningful. */
  def filteredSummaries(events: DataFrame, entries: DataFrame,
      filter: EventFilter = EventFilter()): DataFrame = {
    val counts = entries.groupBy(col("event_id")).agg(count(lit(1)).as("cnt"))
    val base = events
      .join(counts, events("id") === counts("event_id"), "left")
      .select(events("id"), col("signing_date"), col("observation_date"),
        col("locations"), col("total_allowed_entries"),
        coalesce(col("cnt"), lit(0L)).cast("long").as("total_entries"),
        col("number_of_places_win"), col("number_of_values_per_entry"),
        col("attestation_signature"), col("nonce"))
    val withIds = filter.eventIds.fold(base)(ids => base.where(col("id").isin(ids: _*)))
    val ordered = withIds.orderBy("id")
    filter.limit.fold(ordered)(ordered.limit)
  }

  /** Events awaiting a signature (get_events_to_sign,
    * event_data.rs:740-789): attestation IS NULL AND id IN list, with the
    * nonce/announcement bytes the signer needs. */
  def eventsToSign(events: DataFrame, eventIds: Seq[String]): DataFrame =
    events
      .where(col("attestation_signature").isNull && col("id").isin(eventIds: _*))
      .select(col("id"), col("signing_date"), col("observation_date"),
        col("number_of_places_win"), col("number_of_values_per_entry"),
        col("attestation_signature"), col("nonce"), col("event_announcement"))
      .orderBy("id")

  /** F15 — the signing payload as a JSON document per event
    * (the reference serde-serializes nonce/announcement,
    * event_data.rs:237-238): bytes surface as base64, timestamps as
    * RFC-3339. */
  def signEventsJson(events: DataFrame, eventIds: Seq[String]): DataFrame =
    eventsToSign(events, eventIds).select(col("id"),
      to_json(struct(
        col("id"),
        date_format(col("signing_date"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("signing_date"),
        date_format(col("observation_date"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("observation_date"),
        col("number_of_places_win"), col("number_of_values_per_entry"),
        base64(col("nonce")).as("nonce"),
        base64(col("event_announcement")).as("event_announcement"))).as("sign_event"))
}

/** Parquet-backed relational event store (SURVEY §2.1 S13) with
  * MERGE-style updates done as read-join-swap (J5). Writers serialize
  * through [[withWriterLock]] with the reference's 5 × 100 ms retry
  * envelope (S14, event_data.rs:33-36); the API is Delta-shaped so a
  * transactional table format can slot in unchanged.
  *
  * Reader isolation: each table is a [[graft.store.VersionedDir]] (see
  * there for the layout and its crash contract); readers resolve the
  * highest commit marker, so they always land on a fully-written
  * version. The reference got the same isolation from DuckDB's file
  * lock (db/event_data.rs:44-101). Retired versions linger for
  * [[EventStore.KeepVersions]] swaps before deletion.
  */
final class EventStore(spark: SparkSession, root: String,
    lockStaleMs: Long = EventStore.LockStaleMs) {
  import spark.implicits._

  val choiceValues: Set[String] = Set("over", "par", "under")

  private def path(table: String) = s"$root/$table"

  /** S14 — writer mutual exclusion with the reference's retry envelope
    * (5 attempts × 100 ms, event_data.rs:33-36,44-101). The protocol —
    * atomic lock-file create, mtime heartbeat, double-stat stale-break —
    * lives in [[graft.store.WriterLock]], shared with the dedup/vector
    * index maintainers. */
  private val writerLock = new graft.store.WriterLock(spark, root, lockStaleMs,
    EventStore.LockAttempts, EventStore.LockWaitMs)

  /** `private[graft]` so the API layer can hold one lock across its
    * validate-then-insert sequence (uniqueness / capacity checks are
    * read-check-write — two concurrent identical POSTs would otherwise
    * both pass the check and double-insert). Reentrant per thread, so
    * the insert methods' own lock take nests fine. */
  private[graft] def withWriterLock[T](f: => T): T = writerLock.withLock(f)

  private def versioned(table: String) =
    new graft.store.VersionedDir(spark, path(table))

  private def readOr[T: org.apache.spark.sql.Encoder](table: String): Dataset[T] = {
    // A reader that lags more than KeepVersions swaps behind can resolve
    // a just-deleted version dir; re-resolving the pointer heals it.
    val vd = versioned(table)
    var attempt = 0
    while (true) {
      vd.current match {
        case None => return spark.emptyDataset[T]
        case Some(v) =>
          try return spark.read.parquet(vd.pathOf(v)).as[T]
          catch {
            case _: Throwable if attempt < 3 && !vd.holds(v) => attempt += 1
          }
      }
    }
    sys.error("unreachable")
  }

  /** Committed versions of `table`, oldest → newest — the time-travel
    * surface the versioned-swap layout provides for free (the last
    * [[EventStore.KeepVersions]] swaps are retained; older dirs are
    * reaped). A zero-cost analog of Delta/Iceberg snapshot listing. */
  def tableVersions(table: String): Seq[String] = versioned(table).versions

  /** Read-only fsck — the doctor-family member for the versioned event
    * store (same posture as the index services' doctors). One row per
    * table: the live version, committed-version count (the time-travel
    * window), `uncommitted_dirs` — version dirs with no `_commit_`
    * marker (a swap that died pre-commit: inert scratch, reaped by the
    * next write of that version or by [[repair]]), and
    * `dangling_markers` — markers whose version DIR is missing: a REAL
    * violation (resolution lands on the highest marker, so a dangling
    * highest marker breaks every read of the table; recover by deleting
    * the marker). */
  def doctor(): DataFrame = {
    val rows = EventStore.AllTables.map { t =>
      val s = versioned(t).structure
      (t, s.live.getOrElse(""), s.committed, s.uncommitted.size, s.dangling.size)
    }
    rows.toDF("table", "live_version", "committed_versions",
      "uncommitted_dirs", "dangling_markers")
  }

  /** Guarded repair for exactly what [[doctor]] reports: dangling
    * markers (the read-breaking class — resolution lands on the highest
    * marker, so a dangling highest marker fails every read of its
    * table; the marker is the corrupt artifact, its data never
    * survived) and uncommitted version dirs (a swap that died pre-flip:
    * inert scratch). Runs behind the store's writer lock so it can't
    * race an in-flight swap; `dryRun = true` (the default posture)
    * lists every action without touching the filesystem. Returns
    * (table, item, damage, action, applied). */
  def repair(dryRun: Boolean = true): DataFrame = withWriterLock {
    val rows = EventStore.AllTables.flatMap { t =>
      versioned(t).repair(dryRun).map { case (item, damage, action, applied) =>
          (t, item, damage, action, applied)
        }
    }
    rows.toDF("table", "item", "damage", "action", "applied")
  }

  /** Time-travel read of `events_entries` at a RETIRED `version` (from
    * [[tableVersions]]): the pre-merge state of the scores table — e.g.
    * for auditing what a J5 score merge changed. Only non-current
    * versions are immutable snapshots — `append()` writes new files
    * into the live version's dir, so reading the current version here
    * would NOT be a point-in-time view (use [[entries]] for "now").
    * Fails if the version has been reaped (older than KeepVersions
    * swaps) or is the live one. */
  def entriesAsOf(version: String): Dataset[EntryRow] = {
    val vd = versioned("events_entries")
    require(!vd.current.contains(version),
      s"version $version is live (appends mutate it in place) — " +
        "time travel reads retired versions; use `entries` for the current state")
    require(vd.holds(version), s"version $version is not retained " +
      s"(KeepVersions=${EventStore.KeepVersions})")
    spark.read.parquet(vd.pathOf(version)).as[EntryRow]
  }

  def events: Dataset[EventRow] = readOr[EventRow]("events")
  def entries: Dataset[EntryRow] = readOr[EntryRow]("events_entries")
  def choices: Dataset[ChoiceRow] = readOr[ChoiceRow]("expected_observations")
  def weather: Dataset[WeatherRow] = readOr[WeatherRow]("weather")
  def eventWeather: Dataset[EventWeatherRow] = readOr[EventWeatherRow]("events_weather")

  def insertEvents(rows: Seq[EventRow]): Unit =
    withWriterLock(append("events", rows.toDS().toDF()))

  def insertEntries(rows: Seq[EntryRow], rowChoices: Seq[ChoiceRow]): Unit = {
    require(rowChoices.forall(c =>
      Seq(c.temp_low, c.temp_high, c.wind_speed).flatten.forall(choiceValues.contains)),
      s"choice values must be one of $choiceValues")
    withWriterLock {
      append("events_entries", rows.toDS().toDF())
      append("expected_observations", rowChoices.toDS().toDF())
    }
  }

  def insertWeather(rows: Seq[WeatherRow], links: Seq[EventWeatherRow]): Unit =
    withWriterLock {
      append("weather", rows.toDS().toDF())
      append("events_weather", links.toDS().toDF())
    }

  private val SeqPrefix = "_seq_"

  /** Reserve `n` sequence values for `table`: returns the old high-water
    * mark; the caller owns `hwm+1 … hwm+n`. The mark lives in a marker
    * file whose NAME carries the value (`_seq_<hwm>`, same pattern as the
    * commit pointers) — reservation is one directory listing plus one
    * file create, O(1) in table size, where the previous implementation
    * ran `max(id)` over the whole table per insert batch (a full scan —
    * the write-path serialization point at scale). The reservation is
    * written BEFORE any data, so a crash between the two leaves a gap,
    * never a duplicate — exactly what the reference's DuckDB sequence
    * allows (event_db_migrations.rs:44-80). Stores created before this
    * scheme bootstrap the mark from `max(id)` once. Single-writer by
    * store contract, so reserve-then-write needs no lock. */
  private def reserveSeq(table: String, n: Long, bootstrap: => Long): Long =
    graft.store.GenLedger.reserve(spark, path(table), SeqPrefix, n, bootstrap)

  /** F10 + F9 — insert entries whose choices have no ids yet and whose
    * audit timestamps may be unset: choice ids come from the store's
    * sequence analog ([[reserveSeq]] — unique and increasing like the
    * reference's DuckDB sequence, event_db_migrations.rs:44-80; gaps
    * allowed, exactly as sequences allow), and null
    * created_at/updated_at default to the write time (the reference's
    * `DEFAULT now()`). */
  def insertEntriesAutoIds(rows: Seq[EntryRow],
      rowChoices: Seq[(String, String, Option[String], Option[String], Option[String])]): Unit = {
    require(rowChoices.forall { case (_, _, tl, th, ws) =>
      Seq(tl, th, ws).flatten.forall(choiceValues.contains) },
      s"choice values must be one of $choiceValues")
    withWriterLock {
      val base = reserveSeq("expected_observations", rowChoices.size,
        choices.toDF().agg(coalesce(max(col("id")), lit(0L))).as[Long].head())
      val withIds = rowChoices.zipWithIndex.map { case ((e, st, tl, th, ws), i) =>
        ChoiceRow(base + i + 1, e, st, tl, th, ws) }.toDS().toDF()
      val stamped = rows.toDS().toDF()
        .withColumn("created_at", coalesce(col("created_at"), current_timestamp()))
        .withColumn("updated_at", coalesce(col("updated_at"), current_timestamp()))
      append("events_entries", stamped)
      append("expected_observations", withIds)
    }
  }

  /** Listing surface over the store's tables — see [[EventQueries]]. */
  def listEvents(filter: EventFilter = EventFilter()): DataFrame =
    EventQueries.filteredSummaries(events.toDF(), entries.toDF(), filter)

  def eventsByIds(ids: Seq[String]): DataFrame =
    listEvents(EventFilter(limit = None, eventIds = Some(ids)))

  def eventsToSign(ids: Seq[String]): DataFrame =
    EventQueries.eventsToSign(events.toDF(), ids)

  def signEventsJson(ids: Seq[String]): DataFrame =
    EventQueries.signEventsJson(events.toDF(), ids)

  /** Append into the live version dir (new files only — nothing a
    * concurrent reader already listed is touched); the first write
    * creates and commits version 1. */
  private def append(table: String, df: DataFrame): Unit = {
    val vd = versioned(table)
    vd.current match {
      case Some(v) => df.write.mode(SaveMode.Append).parquet(vd.pathOf(v))
      case None => swapWrite(table, df)
    }
  }

  /** J5 — correlated-update equivalent (event_data.rs:405-448):
    * entries.score = scores.score where matched. Read-join-swap. */
  def updateScores(scores: DataFrame): Unit = {
    // scores usually derive from this very table (read → score → write
    // back); localCheckpoint breaks the lineage so the swap below can't
    // invalidate the plan mid-write.
    val s = scores.select(col("entry_id"), col("score").as("new_score"))
      .localCheckpoint(true)
    withWriterLock {
      val updated = entries.toDF()
        .join(broadcast(s), col("id") === col("entry_id"), "left")
        .withColumn("score", coalesce(col("new_score"), col("score")))
        .drop("entry_id", "new_score")
      swapWrite("events_entries", updated)
    }
  }

  /** Attestation write-back (event_data.rs:385-402). */
  def updateAttestation(eventId: String, signature: Array[Byte]): Unit =
    withWriterLock {
      val updated = events.toDF()
        .withColumn("attestation_signature",
          when(col("id") === eventId, lit(signature)).otherwise(col("attestation_signature")))
      swapWrite("events", updated)
    }

  /** Overwrite a table that is also the read source: write the NEXT
    * version dir in full and commit it ([[graft.store.VersionedDir
    * .writeNext]]). The read path (old version) is never touched, so
    * concurrent readers are safe at every instant of the swap. */
  private def swapWrite(table: String, df: DataFrame): Unit =
    versioned(table).writeNext(EventStore.KeepVersions)(p =>
      df.write.mode(SaveMode.Overwrite).parquet(p))

  /** J4 + A4 + P6 — active events (no attestation yet) with entry counts,
    * COALESCE(total_entries, 0) (event_data.rs:700-738). */
  def activeEvents(): DataFrame = {
    val counts = entries.groupBy(col("event_id")).agg(count(lit(1)).as("total_entries"))
    events.toDF()
      .where(col("attestation_signature").isNull)
      .join(counts, col("id") === col("event_id"), "left")
      .drop("event_id")
      .na.fill(0L, Seq("total_entries"))
  }

  /** J1 — per-event weather rows via the 3-way join (event_data.rs:450-472). */
  def eventWeatherRows(eventId: String): DataFrame =
    eventWeather.toDF().where(col("event_id") === eventId)
      .join(events.toDF().select(col("id").as("event_id")).where(col("event_id") === eventId), Seq("event_id"))
      .join(weather.toDF().select(col("id").as("weather_id"), col("station_id"),
        col("observed"), col("forecasted")), Seq("weather_id"))

  /** J3 + J6 — entries of an event with their choices collected into an
    * ordered struct array (replaces the Rust-side HashMap merge,
    * event_data.rs:474-537).
    */
  def entriesWithChoices(eventId: String): DataFrame =
    entries.toDF().where(col("event_id") === eventId)
      .join(choices.toDF().select(col("entry_id"), col("id").as("choice_id"),
          col("station"), col("temp_low"), col("temp_high"), col("wind_speed")),
        col("id") === col("entry_id"), "left")
      .groupBy(col("id"), col("event_id"), col("score"), col("created_at"))
      .agg(sort_array(collect_list(struct(
        col("choice_id"), col("station"),
        col("temp_low"), col("temp_high"), col("wind_speed")))).as("expected_observations"))
}

object EventStore {
  /** Every versioned table the store owns — [[EventStore.doctor]] and
    * [[EventStore.repair]] sweep all of them. */
  val AllTables: Seq[String] = Seq("events", "events_entries",
    "expected_observations", "weather", "events_weather")

  /** Retired version dirs kept per table after a swap — the retention
    * window covering the longest in-flight scan (a VACUUM horizon; a
    * production deployment sizes this to its max query duration). */
  val KeepVersions = 3

  /** Writer-lock retry envelope — the reference's 5 × 100 ms
    * (event_data.rs:33-36). */
  val LockAttempts = 5
  val LockWaitMs = 100L

  /** Default age after which a non-heartbeated writer lock is presumed
    * abandoned (crashed writer) and broken. Live holders refresh the
    * mtime every sixth of this, so only a dead writer's lock ages out. */
  val LockStaleMs = 60000L
}
