package perfbench

import java.net.http.HttpClient
import java.sql.Timestamp

import scala.collection.mutable

import graft.Main
import graft.ingest.Fetch.{HttpFetcher, TokenBucket}
import graft.ingest.IngestTick
import graft.ingest.IngestTick.{TickConfig, TickReport}
import graft.oracle.Oracle
import graft.store.WeatherStore

/** Hourly ticks of the ingest daemon against the stub upstream, the way
  * `graft.Main` wires them: every tick fetches, decodes, flattens and
  * writes both snapshot kinds, then the oracle ETL scores the active
  * events. The tick sequence starts late on day 0, so the rollover into
  * day 1 (with its maintenance pass) and the first signing both fall
  * inside the measured ticks. */
object IngestDay {
  val Stations = 100
  val Events = 2
  val EntriesPerEvent = 5
  val Setups = 2
  /** One warm-up tick at 22:00, then measured ticks from 23:00. */
  val WarmTicks = 1
  /** Measured ticks always run through 00:00 on day 1: the rollover,
    * with its maintenance pass, and the first signing (due 23:30). More
    * run only while `--seconds` has room for them. */
  val MinTicks = 2

  def run(ctx: Ctx): Unit = {
    import ctx._
    val stations = Gen.stations(seed, Stations)
    val upstream = new Upstream(seed, stations)
    val day0 = Fixtures.day0(seed)
    val day1 = day0.plusDays(1)
    val hour = (i: Int) => Fixtures.ts(day0, 22 + i) // tick i's logical time
    @volatile var now = hour(0)
    val services = mutable.ArrayBuffer.empty[Service]
    try {
      // --- set-up, repeated: the service, its stores and seeded events
      var svc: Service = null
      for (i <- 0 until Setups) setup {
        svc = new Service(spark, dir(s"ingest-$i"), seed, upstream.base, () => now)
        services += svc
        val specs = Fixtures.eventSpecs(seed, stations, Events, EntriesPerEvent,
          observation = _ => Fixtures.ts(day0, 0),
          // event 0 becomes signable at 23:30 on day 0; the rest stay active
          signing = e => if (e == 0) Fixtures.ts(day0, 23, 30) else Fixtures.ts(day1.plusDays(5), 0))
        Fixtures.insertEvents(svc, specs, Fixtures.secret(seed, "coordinator"), now)
      }

      val fetchParent = new java.util.concurrent.atomic.AtomicReference[(Long, Long)]((0L, 0L))
      val fetchNs = new java.util.concurrent.atomic.AtomicLong(0)
      val plain = HttpClient.newBuilder().followRedirects(HttpClient.Redirect.NORMAL).build()
      val client =
        if (!trace) plain
        else new TimedHttpClient(plain, (a, b) => {
          fetchNs.addAndGet(b - a)
          spans.record("ingest", "fetch", a, b, fetchParent.get)
        })
      val bucketPacer = new CountingPacer
      val retryPacer = new CountingPacer
      // a bucket the stub never drains: the run measures the program, not
      // the upstream's politeness throttle (its sleeps are counted)
      val fetcher = new HttpFetcher(svc.cfg.userAgent,
        new TokenBucket(1000, 1.0, 3, 1000L, bucketPacer), 20000L, 3, 500L, retryPacer, client)
      val tickCfg = TickConfig(svc.cfg.stationsUrl, svc.cfg.metarsUrl,
        Main.forecastUrl(svc.cfg.forecastBase, () => now))
      val etl = Some((svc.events, svc.key))
      val chunks = (Stations + tickCfg.maxPerRequest - 1) / tickCfg.maxPerRequest

      final case class Tick(i: Int, t: Timestamp, s: Double, steal: Double, report: Option[TickReport],
          fetchMs: Double, upstreamMs: Double, filesWritten: Int, bytesWritten: Long,
          maintainMs: Double, bytesRewritten: Long, etlMs: Double)

      def weatherFiles = Files2.dataFiles(svc.weatherDir)

      def tick(i: Int): Tick = {
        now = hour(i)
        upstream.tickTime = now
        val up0 = upstream.servedNs.get
        fetchNs.set(0)
        val st0 = Steal.sample()
        val t0 = System.nanoTime()
        def stealShare = Steal.share(st0, Steal.sample())
        if (!trace) {
          // one tick per call: the loop's own sleep never runs
          val r = IngestTick.runLoop(spark, fetcher, svc.weather, tickCfg, ticks = 1,
            clock = () => now, etl = etl)
          Tick(i, now, (System.nanoTime() - t0) / 1e9, stealShare, r.headOption, 0, 0, 0, 0L, 0, 0L, 0)
        } else spans("tick", s"tick-$i") {
          // runLoop's order, one public call per step
          ledger.phase = s"$i/maintain"
          var maintainMs = 0.0
          var rewritten = 0L
          val today = WeatherStore.toUtcDate(now)
          spans("store", "datesNeedingMaintenance")(svc.weather.datesNeedingMaintenance(today, 1)).foreach { d =>
            rewritten += Files2.bytes(Files2.dataFiles(svc.weatherDir).filter(_.toString.contains(s"/date=$d/")))
            val m0 = System.nanoTime()
            spans("store", "maintain")(svc.weather.maintain(d, 1))
            maintainMs += (System.nanoTime() - m0) / 1e6
          }
          ledger.phase = s"$i/ingest"
          val before = weatherFiles.toSet
          val r = spans("ingest", "runIngestTick") {
            fetchParent.set(spans.current)
            try Some(IngestTick.runIngestTick(spark, fetcher, svc.weather, tickCfg, now, None))
            catch { case e: Exception => System.err.println(s"[perfbench] tick $i failed: $e"); None }
          }
          val fresh = weatherFiles.filterNot(before)
          ledger.phase = s"$i/etl"
          val e0 = System.nanoTime()
          val signed = r.map(_ => spans("oracle", "runEtl")(
            Oracle.runEtl(spark, svc.weather, svc.events, svc.key, now)).signedEventIds.size)
          val etlMs = (System.nanoTime() - e0) / 1e6
          ledger.phase = ""
          Tick(i, now, (System.nanoTime() - t0) / 1e9, stealShare, r.map(_.copy(etlEventsSigned = signed.getOrElse(0))),
            fetchNs.get / 1e6, (upstream.servedNs.get - up0) / 1e6, fresh.size, Files2.bytes(fresh),
            maintainMs, rewritten, etlMs)
        }
      }

      // --- warm-up ticks (not timed), then the measured sequence
      (0 until WarmTicks).foreach(tick)
      val gc0 = gcMs
      val jit0 = jitMs
      spans.clear()
      ledger.clear()
      val deadline = System.nanoTime() + seconds * 1000000000L
      val ticks = mutable.ArrayBuffer.empty[Tick]
      var i = WarmTicks
      // past the fixed ticks, one more only if it should end by the deadline
      // (a tick as long as the last): a tick that overran would add a
      // third, differently shaped tick to some runs' median and not others'
      while (ticks.size < MinTicks || System.nanoTime() + (ticks.last.s * 1e9).toLong < deadline) {
        ticks += tick(i)
        i += 1
      }
      if (trace) ledger.drain(spark.sparkContext)
      val gc = gcMs - gc0
      named("jit_ms") = ((jitMs - jit0).toDouble, "ms")
      val heapLive = heapLiveMb()

      // --- output checks
      ticks.foreach { t =>
        check(t.report.isDefined, s"tick ${t.t} produced no report")
        t.report.foreach { r =>
          check(r.stations == Stations, s"tick ${t.t}: ${r.stations} stations, want $Stations")
          // every forecast chunk is an operation; a failed one is a failure
          attempted.addAndGet(chunks)
          failed.addAndGet(r.forecastChunksFailed.toLong)
          check(r.forecastChunksOk + r.forecastChunksFailed == chunks,
            s"tick ${t.t}: ${r.forecastChunksOk} + ${r.forecastChunksFailed} chunks, want $chunks")
          check(r.forecastRows == Stations.toLong * Gen.WeekSlots,
            s"tick ${t.t}: ${r.forecastRows} forecast rows, want ${Stations * Gen.WeekSlots}")
          check(r.observationRows == Stations, s"tick ${t.t}: ${r.observationRows} observation rows")
        }
      }
      val day0Files = Seq("forecasts", "observations").map(k =>
        Files2.dataFiles(svc.weatherDir.resolve(s"kind=$k/date=$day0")))
      check(day0Files.forall(fs => fs.size == 1 && fs.head.getFileName.toString.startsWith("compact-")),
        s"day $day0 not compacted at the rollover: ${day0Files.map(_.size)}")
      val (signedIds, bad) = Fixtures.verifyAttestations(svc)
      check(signedIds.nonEmpty, "no event was signed during the run")
      signedIds.foreach(id => check(!bad.contains(id), s"attestation of $id does not verify"))

      // --- metrics
      val wall = ticks.map(_.s).toSeq
      val secs = ticks.map(t => t.s * (1 - t.steal)).toSeq // net of steal
      e2e("setup_s") = (setupSeconds, "s")
      e2e("op_p50_ms") = (Stats.median(secs) * 1000, "ms")
      e2e("ops_per_s") = (ticks.size / secs.sum, "1/s")
      e2e("heap_live_mb") = (heapLive, "MB")
      named("tick_p50_s") = (Stats.median(secs), "s")
      named("ticks_total_s") = (secs.take(MinTicks).sum, "s")
      named("ticks") = (ticks.size.toDouble, "count")
      ticks.foreach(t => named(s"tick_${Gen.Iso.format(t.t.toInstant).substring(11, 16)}_s") = (t.s * (1 - t.steal), "s"))
      named("tick_p50_wall_s") = (Stats.median(wall), "s")
      named("steal_pct") = (100 * (1 - secs.sum / wall.sum), "%")

      if (trace) {
        val jobs = ledger.jobs
        def tickJobs(t: Tick, step: String) = jobs.filter(_.origin.phase == s"${t.i}/$step")
        def perTick(f: Tick => Double) = Stats.median(ticks.map(f).toSeq)
        val rows = ticks.flatMap(_.report).map(r => r.forecastRows + r.observationRows).sum
        layer("ingest.fetch_ms") = (perTick(_.fetchMs), "ms")
        layer("ingest.upstream_ms") = (perTick(_.upstreamMs), "ms")
        layer("ingest.rate_limit_waits") = (bucketPacer.sleeps.get.toDouble, "count")
        layer("ingest.chunks_ok") = (perTick(_.report.map(_.forecastChunksOk.toDouble).getOrElse(0)), "count")
        layer("ingest.chunks_failed") = (ticks.flatMap(_.report).map(_.forecastChunksFailed).sum.toDouble, "count")
        layer("ingest.flatten_ms") = (perTick(t => tickJobs(t, "ingest").filter(_.origin.layer == "ingest").map(_.ms).sum.toDouble), "ms")
        layer("store.write_ms") = (perTick(t => tickJobs(t, "ingest").filter(_.origin.calls("WeatherStore.write")).map(_.ms).sum.toDouble), "ms")
        layer("store.files_written") = (perTick(_.filesWritten.toDouble), "count")
        layer("store.bytes_per_row") = (ticks.map(_.bytesWritten).sum.toDouble / math.max(1L, rows), "B")
        layer("store.maintain_ms") = (ticks.map(_.maintainMs).sum, "ms")
        layer("store.bytes_rewritten") = (ticks.map(_.bytesRewritten).sum.toDouble, "B")
        layer("oracle.etl_ms") = (perTick(_.etlMs), "ms")
        layer("oracle.etl_jobs") = (perTick(t => tickJobs(t, "etl").size.toDouble), "count")
        layer("oracle.sign_ms") = (jobs.filter(_.origin.phase.endsWith("/etl"))
          .filter(_.origin.calls("EventStore.updateAttestation")).map(_.ms).sum.toDouble, "ms")
        Layers.oracleTables(ctx, svc)
        Layers.spark(ctx, jobs, gc)
        layer("trace.op_p50_ms") = (Stats.median(secs) * 1000, "ms")
        Layers.selfTimes(ctx)
      }
      named("error_rate") = (failed.get.toDouble / math.max(1L, attempted.get), "ratio")
    } finally {
      services.foreach(s => scala.util.Try(s.stop()))
      upstream.stop()
    }
  }

}
