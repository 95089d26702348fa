package perfbench

import java.sql.Timestamp

import org.json4s._

import graft.sql.AdHoc
import graft.store.WeatherStore.Kinds

/** A closed loop of `cpus` clients over HTTP, each sending the reader's
  * route mix in a fixed cycle against a store built during set-up:
  * closed days compacted by the store's maintenance, a fragmented open
  * day, and events with entries, some of them signed. Nothing is
  * written while the clients run. */
object ApiRead {
  val Stations = 60
  val ClosedDays = 2
  val SnapshotsPerClosedDay = 1
  val OpenDaySnapshots = 3
  val Events = 3
  val EntriesPerEvent = 5

  /** Console-style SQL over the two views the API registers. */
  def sql(seed: Long, turn: Int, k: Int, stations: IndexedSeq[StubStation]): String = {
    val st = stations(Gen.pick(0, stations.size - 1, seed, turn, k, 31)).id
    turn % 3 match {
      case 0 => "SELECT station_id, generated_at FROM forecasts ORDER BY station_id, generated_at DESC LIMIT 200"
      case 1 => s"SELECT station_id, min(temperature_value) AS lo, max(temperature_value) AS hi, count(*) AS n " +
        s"FROM observations WHERE station_id = '$st' GROUP BY station_id"
      case _ => "SELECT date, count(DISTINCT station_id) AS stations, max(max_temp) AS hottest " +
        "FROM forecasts GROUP BY date ORDER BY date"
    }
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val stations = Gen.stations(seed, Stations)
    val day0 = Fixtures.day0(seed)
    val open = day0.plusDays(ClosedDays)
    val apiNow = Fixtures.ts(open, OpenDaySnapshots - 1, 30)
    val closedTimes = (0 until ClosedDays).flatMap(d =>
      (0 until SnapshotsPerClosedDay).map(s => Fixtures.ts(day0.plusDays(d), 12 + s * (12 / SnapshotsPerClosedDay))))
    val openTimes = (0 until OpenDaySnapshots).map(h => Fixtures.ts(open, h))
    val snapshots = closedTimes ++ openTimes
    // the fixture is built once: it is most of the run's set-up time
    val (svc, specs) = setup {
      val svc = new Service(spark, dir("read"), seed, "http://127.0.0.1:9", () => apiNow)
      snapshots.foreach(t => Fixtures.writeSnapshot(spark, svc.weather, seed, stations, t))
      (0 until ClosedDays).foreach(d => svc.weather.maintain(day0.plusDays(d), 1))
      // event 0 observed on day 0 and signed; the rest observed on the
      // open day, still live. Weather rows and the attestation are what
      // an ETL pass leaves; they are written directly to keep set-up short.
      val specs = Fixtures.eventSpecs(seed, stations, Events, EntriesPerEvent,
        observation = e => Fixtures.ts(if (e == 0) day0 else open, 0),
        signing = e => if (e == 0) Fixtures.ts(day0.plusDays(1), 0) else Fixtures.ts(open.plusDays(1), 0))
      Fixtures.insertEvents(svc, specs, Fixtures.secret(seed, "coordinator"), apiNow)
      Fixtures.insertWeather(svc, seed, specs, apiNow)
      specs.filter(_.signing.before(apiNow)).foreach(e => Fixtures.sign(svc, e))
      (svc, specs)
    }
    try {
      val store = svc.weather
      val entries = specs.flatMap(e => e.entries.map(en => (e.id, en._1)))

      /** One request of the cycle: (route, path, post body). */
      def request(c: Int, k: Int): (String, String, Option[String]) = {
        def r(lo: Int, hi: Int, x: Int) = Gen.pick(lo, hi, seed, c, k, x)
        // what sets a request's cost (which day, which SQL, which file
        // kind, which event, how many stations) follows the cycle; the
        // seed picks stations, entries and times
        val turn = k / 9 + c
        val ids = Gen.distinct(stations.size, 3, seed, c, k, 40).map(i => stations(i).id)
        val day = day0.plusDays(turn % (ClosedDays + 1))
        val range = s"start=${Gen.Iso.format(Fixtures.ts(day, 0).toInstant)}" +
          s"&end=${Gen.Iso.format(Fixtures.ts(day, 23, 59).toInstant)}"
        val window = s"$range&station_ids=${ids.mkString(",")}"
        ((k + c) % 9) match {
          case 0 => ("stations", "/stations", None)
          case 1 => ("stations_forecasts", s"/stations/forecasts?$window", None)
          case 2 => ("stations_observations", s"/stations/observations?$window", None)
          case 3 => ("files", s"/files?$range", None)
          case 4 =>
            val t = snapshots(turn % snapshots.size)
            val kind = if (turn % 2 == 0) Kinds.Forecasts else Kinds.Observations
            ("file", s"/file/${kind}_${Gen.Iso.format(t.toInstant)}.parquet", None)
          case 5 => ("oracle_events", "/oracle/events", None)
          case 6 => ("oracle_event", s"/oracle/events/${specs(turn % specs.size).id}", None)
          case 7 =>
            val (e, en) = entries((turn % specs.size) * EntriesPerEvent + r(0, EntriesPerEvent - 1, 48))
            ("oracle_entry", s"/oracle/events/$e/entry/$en", None)
          case _ => ("query", "/query", Some(s"""{"sql":"${sql(seed, turn, k, stations)}"}"""))
        }
      }

      def validJson(route: String, path: String, js: JValue): Boolean = route match {
        case "stations" => Json.arr(js).exists(_.nonEmpty)
        case "stations_forecasts" | "stations_observations" =>
          val wanted = path.split("station_ids=").last.split(',').toSet
          Json.arr(js).exists(a => a.nonEmpty && a.forall(r => Json.str(r \ "station_id").exists(wanted)))
        case "files" => Json.arr(js \ "file_names").exists(_.nonEmpty)
        case "oracle_events" => Json.arr(js).exists(_.size == specs.size)
        case "oracle_event" | "oracle_entry" => Json.str(js \ "id").exists(id => path.endsWith(id))
        case "query" => Json.arr(js \ "columns").exists(_.nonEmpty) && Json.arr(js \ "rows").isDefined
        case _ => true
      }

      /** The route's status and a parseable body with the expected shape. */
      def valid(route: String, path: String, code: Int, body: Array[Byte]): Boolean =
        code == 200 && {
          if (route == "file") body.length > 8 && new String(body.take(4), "US-ASCII") == "PAR1"
          else Json.parse(body).exists(js => validJson(route, path, js))
        }

      final case class Sample(route: String, ms: Double, netMs: Double, endNs: Long)
      val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
      val scanMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val scanFiles = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val planMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val execMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

      /** In a traced run, a read's layers are also probed directly with
        * the same arguments: the store's pruned scan and the SQL guard,
        * planning and execution. The probe runs after the timed request. */
      def probe(route: String, path: String, body: Option[String]): Unit = route match {
        case "stations_forecasts" | "stations_observations" =>
          val q = path.split('?').last.split('&').map(_.split('=')).map(a => a(0) -> a(1)).toMap
          val kind = if (route == "stations_forecasts") Kinds.Forecasts else Kinds.Observations
          val t0 = System.nanoTime()
          val files = spans("store", "read")(store.read(kind,
            Timestamp.from(java.time.Instant.parse(q("start"))),
            Timestamp.from(java.time.Instant.parse(q("end")))).map(_.inputFiles.length).getOrElse(0))
          scanMs.add((System.nanoTime() - t0) / 1e6)
          scanFiles.add(files)
        case "query" =>
          val text = Json.parse(body.get.getBytes("UTF-8")).flatMap(js => Json.str(js \ "sql")).get
          spans("sql", "AdHoc.run") {
            val df = AdHoc.run(spark, text).limit(200)
            df.queryExecution.executedPlan
            planMs.add(df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble)
            val t0 = System.nanoTime()
            df.collect()
            execMs.add((System.nanoTime() - t0) / 1e6)
          }
        case _ => ()
      }

      def loop(more: Int => Boolean, record: Boolean): Unit = {
        val threads = (0 until cpus).map { c =>
          new Thread(() => {
            val client = new Client(svc.port)
            var k = 0
            while (more(k)) {
              val (route, path, body) = request(c, k)
              val st0 = Steal.sample()
              val t0 = System.nanoTime()
              val ok =
                try {
                  val (code, bytes) = spans("api", route) {
                    body.fold(client.get(path))(b => client.post(path, b))
                  }
                  valid(route, path, code, bytes)
                } catch { case _: Exception => false }
              val t1 = System.nanoTime()
              if (record) {
                check(ok, s"$route $path")
                val ms = (t1 - t0) / 1e6
                samples.add(Sample(route, ms, Steal.net(ms, st0, Steal.sample()), t1))
                if (trace) scala.util.Try(probe(route, path, body))
              }
              k += 1
            }
          }, s"perfbench-reader-$c")
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
      }

      // untimed warm-up: the clients start the cycle one route apart, so
      // together their first 10 - cpus requests cover all nine routes
      loop(k => k < math.max(1, 10 - cpus), record = false)
      spans.clear()
      ledger.clear()
      val gc0 = gcMs
      val jit0 = jitMs
      val steal0 = Steal.sample()
      val t0 = System.nanoTime()
      val deadline = t0 + seconds * 1000000000L
      loop(_ => System.nanoTime() < deadline, record = true)
      val steal = Steal.share(steal0, Steal.sample())
      if (trace) ledger.drain(spark.sparkContext)
      val gc = gcMs - gc0
      named("jit_ms") = ((jitMs - jit0).toDouble, "ms")
      val heapLive = heapLiveMb()

      val ms = samples.toArray(Array.empty[Sample]).toSeq
      val lat = ms.map(_.netMs) // net of steal
      // to the last completion, not the deadline: no partial-request quantization
      val wall = (ms.map(_.endNs).max - t0) / 1e9
      val rps = ms.size / (wall * (1 - steal))
      // each route's median, averaged over the routes with equal weight:
      // the routes' costs differ tenfold, so the median of the pooled
      // samples jumps between routes with the order the clients met in
      val perRoute = ms.groupBy(_.route).values.map(rs => Stats.median(rs.map(_.netMs))).toSeq
      e2e("setup_s") = (setupSeconds, "s")
      e2e("op_p50_ms") = (perRoute.sum / perRoute.size, "ms")
      e2e("ops_per_s") = (rps, "1/s")
      e2e("heap_live_mb") = (heapLive, "MB")
      named("read_p50_ms") = (Stats.median(lat), "ms")
      named("read_p90_ms") = (Stats.pct(lat, 0.9), "ms")
      named("read_rps") = (rps, "1/s")
      named("reads") = (ms.size.toDouble, "count")
      named("reads_beyond_p90") = (lat.count(_ > Stats.pct(lat, 0.9)).toDouble, "count")
      named("read_p50_wall_ms") = (Stats.median(ms.map(_.ms)), "ms")
      named("steal_pct") = (100 * steal, "%")
      if (trace) {
        import scala.jdk.CollectionConverters._
        val jobs = ledger.jobs
        Layers.routes(ctx, jobs, Layers.ReadRoutes)
        layer("store.scan_ms") = (Stats.median(scanMs.asScala.toSeq), "ms")
        layer("store.files_per_scan") = (scanFiles.asScala.map(_.toDouble).sum / math.max(1, scanFiles.size), "count")
        layer("sql.plan_ms") = (Stats.median(planMs.asScala.toSeq), "ms")
        layer("sql.exec_ms") = (Stats.median(execMs.asScala.toSeq), "ms")
        Layers.oracleTables(ctx, svc)
        Layers.spark(ctx, jobs, gc)
        layer("trace.op_p50_ms") = (perRoute.sum / perRoute.size, "ms")
        Layers.selfTimes(ctx)
      }
      named("error_rate") = (failed.get.toDouble / math.max(1L, attempted.get), "ratio")
    } finally svc.stop()
  }
}
