package perfbench

import scala.collection.mutable

import graft.oracle.Oracle

/** Coordinators writing through the API: `cpus` clients, each with its
  * own key and NIP-98 headers, create events and fill them with entries,
  * reading the event back after every write. Rejected writes count as
  * failures. One final ETL pass scores and signs
  * everything written. The same event store as `api_read`, through its
  * append, swap and writer-lock path. */
object OracleWrite {
  val Stations = 60
  val EntriesPerEvent = 4
  val Setups = 3

  def run(ctx: Ctx): Unit = {
    import ctx._
    val stations = Gen.stations(seed, Stations)
    val day0 = Fixtures.day0(seed)
    val apiNow = Fixtures.ts(day0, 20)
    val etlNow = Fixtures.ts(day0.plusDays(1), 6)
    val services = mutable.ArrayBuffer.empty[Service]
    try {
      var svc: Service = null
      for (i <- 0 until Setups) setup {
        svc = new Service(spark, dir(s"write-$i"), seed, "http://127.0.0.1:9", () => apiNow)
        services += svc
        (0 until 3).foreach(h => Fixtures.writeSnapshot(spark, svc.weather, seed, stations, Fixtures.ts(day0, 6 * h)))
      }
      services.init.foreach(_.stop())

      final case class Sample(write: Boolean, route: String, ms: Double, netMs: Double, endNs: Long)
      val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
      val written = new java.util.concurrent.ConcurrentHashMap[String, Integer]() // event → entries
      val accepted = new java.util.concurrent.atomic.AtomicLong(0)

      /** Client c's k-th event and its entries. */
      def spec(c: Int, k: Int): EventSpec =
        Fixtures.eventSpecs(Gen.mix(seed, c, k), stations, 1, EntriesPerEvent,
          observation = _ => Fixtures.ts(day0, 0), signing = _ => Fixtures.ts(day0.plusDays(1), 0)).head

      def timed[T](write: Boolean, route: String)(f: => T): T = {
        val st0 = Steal.sample()
        val t0 = System.nanoTime()
        try spans("api", route)(f)
        finally {
          val t1 = System.nanoTime()
          val ms = (t1 - t0) / 1e6
          samples.add(Sample(write, route, ms, Steal.net(ms, st0, Steal.sample()), t1))
        }
      }

      /** `clients` writers from client number `base`: each creates events
        * and fills them, reading its event back after every entry. A write
        * the event store rejects (its writer lock gives up after 5 × 100 ms,
        * the reference's envelope) is counted as failed, never retried. */
      def loop(deadline: Long, clients: Int, base: Int): Unit = {
        val threads = (base until base + clients).map { c =>
          new Thread(() => {
            val client = new Client(svc.port)
            val key = Fixtures.secret(seed, s"coordinator-$c")
            var k = 0
            while (System.nanoTime() < deadline) {
              val e = spec(c, k)
              val (code, body) = timed(true, "create_event")(client.post("/oracle/events", Fixtures.eventBody(e), Some(key)))
              if (check(code == 200 && Json.parse(body).flatMap(js => Json.str(js \ "id")).contains(e.id),
                  s"create ${e.id}: HTTP $code")) {
                written.put(e.id, 0)
                accepted.incrementAndGet()
                e.entries.iterator.takeWhile(_ => System.nanoTime() < deadline).foreach { case (id, picks) =>
                  val (ec, eb) = timed(true, "add_entry")(client.post(s"/oracle/events/${e.id}/entry",
                    Fixtures.entryBody(e.id, id, picks), Some(key)))
                  if (check(ec == 200 && Json.parse(eb).flatMap(js => Json.str(js \ "id")).contains(id),
                      s"entry $id: HTTP $ec")) {
                    written.merge(e.id, 1, (a, b) => a + b)
                    accepted.incrementAndGet()
                  }
                  // read-your-writes: the event shows every entry accepted so far
                  val want = written.get(e.id).intValue
                  val (gc, gb) = timed(false, "oracle_event")(client.get(s"/oracle/events/${e.id}"))
                  check(gc == 200 && Json.parse(gb).flatMap(js => Json.arr(js \ "entry_ids")).exists(_.size == want),
                    s"read of ${e.id}: HTTP $gc, want $want entries")
                }
              }
              k += 1
            }
          }, s"perfbench-coordinator-$c")
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
      }

      // warm-up: one writer's first event, untimed
      loop(System.nanoTime() + 2000000000L, 1, base = 1000)
      samples.clear(); spans.clear(); ledger.clear(); accepted.set(0)
      val gc0 = gcMs
      val steal0 = Steal.sample()
      val t0 = System.nanoTime()
      loop(t0 + seconds * 1000000000L, cpus, base = 0)
      val steal = Steal.share(steal0, Steal.sample())
      val all = samples.toArray(Array.empty[Sample]).toSeq
      // to the last write's completion, not the deadline; net of steal
      val wall = (all.filter(_.write).map(_.endNs).maxOption.getOrElse(System.nanoTime()) - t0) / 1e9 * (1 - steal)

      // the score-and-sign pass over everything written
      val e0 = System.nanoTime()
      ledger.phase = "etl"
      val etl = spans("oracle", "runEtl")(Oracle.runEtl(spark, svc.weather, svc.events, svc.key, etlNow))
      ledger.phase = ""
      val etlS = (System.nanoTime() - e0) / 1e9
      if (trace) ledger.drain(spark.sparkContext)
      val gc = gcMs - gc0
      val heapLive = heapLiveMb()
      import scala.jdk.CollectionConverters._
      val withEntries = written.asScala.filter(_._2 > 0).keySet.toSet
      val (signed, bad) = Fixtures.verifyAttestations(svc)
      check(withEntries.subsetOf(signed.toSet), s"unsigned events: ${(withEntries -- signed).take(3)}")
      signed.foreach(id => check(!bad.contains(id), s"attestation of $id does not verify"))
      check(etl.signedEventIds.size == signed.size, s"ETL signed ${etl.signedEventIds.size}, store has ${signed.size}")

      val writes = all.filter(_.write).map(_.netMs)
      val reads = all.filterNot(_.write).map(_.netMs)
      e2e("setup_s") = (setupSeconds, "s")
      e2e("op_p50_ms") = (Stats.median(writes), "ms")
      named("write_p90_ms") = (Stats.pct(writes, 0.9), "ms")
      e2e("ops_per_s") = (accepted.get / wall, "1/s")
      e2e("heap_live_mb") = (heapLive, "MB")
      named("write_p50_ms") = (Stats.median(writes), "ms")
      named("write_rps") = (accepted.get / wall, "1/s")
      named("read_p50_ms") = (Stats.median(reads), "ms")
      named("read_p90_ms") = (Stats.pct(reads, 0.9), "ms")
      named("etl_s") = (etlS, "s")
      named("writes") = (writes.size.toDouble, "count")
      named("writes_accepted") = (accepted.get.toDouble, "count")
      named("reads") = (reads.size.toDouble, "count")
      named("events_signed") = (signed.size.toDouble, "count")
      named("steal_pct") = (100 * steal, "%")
      if (trace) {
        val jobs = ledger.jobs
        Layers.routes(ctx, jobs.filter(_.origin.phase != "etl"), Layers.WriteRoutes :+ "oracle_event")
        val etlJobs = jobs.filter(_.origin.phase == "etl")
        layer("oracle.etl_ms") = (etlS * 1000, "ms")
        layer("oracle.etl_jobs") = (etlJobs.size.toDouble, "count")
        layer("oracle.sign_ms") = (etlJobs.filter(_.origin.calls("EventStore.updateAttestation")).map(_.ms).sum.toDouble, "ms")
        Layers.oracleTables(ctx, svc)
        Layers.spark(ctx, jobs, gc)
        layer("trace.op_p50_ms") = (Stats.median(writes), "ms")
        Layers.selfTimes(ctx)
      }
      named("error_rate") = (failed.get.toDouble / math.max(1L, attempted.get), "ratio")
    } finally services.foreach(s => scala.util.Try(s.stop()))
  }
}
