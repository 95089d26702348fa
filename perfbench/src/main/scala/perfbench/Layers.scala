package perfbench

/** Per-layer metrics shared by the workloads, and the full list every
  * traced run reports (a layer a workload does not touch reads 0). */
object Layers {
  val ReadRoutes: Seq[String] = Seq("stations", "stations_forecasts", "stations_observations",
    "files", "file", "oracle_events", "oracle_event", "oracle_entry", "query")
  val WriteRoutes: Seq[String] = Seq("create_event", "add_entry")
  val Tables: Seq[String] = graft.oracle.EventStore.AllTables

  val All: Seq[(String, String)] =
    Seq("ingest.fetch_ms" -> "ms", "ingest.upstream_ms" -> "ms", "ingest.rate_limit_waits" -> "count",
      "ingest.chunks_ok" -> "count", "ingest.chunks_failed" -> "count", "ingest.flatten_ms" -> "ms",
      "store.write_ms" -> "ms", "store.files_written" -> "count", "store.bytes_per_row" -> "B",
      "store.maintain_ms" -> "ms", "store.bytes_rewritten" -> "B",
      "store.scan_ms" -> "ms", "store.files_per_scan" -> "count",
      "oracle.etl_ms" -> "ms", "oracle.etl_jobs" -> "count", "oracle.sign_ms" -> "ms",
      "oracle.weather_live_ratio" -> "ratio") ++
      Tables.map(t => s"oracle.table_files.$t" -> "count") ++
      (ReadRoutes ++ WriteRoutes).flatMap(r => Seq(s"api.$r.p50_ms" -> "ms", s"api.$r.jobs" -> "count")) ++
      Seq("sql.plan_ms" -> "ms", "sql.exec_ms" -> "ms",
        "queries.plan_ms" -> "ms", "queries.jobs" -> "count", "queries.task_ms" -> "ms",
        "queries.shuffle_bytes" -> "B", "queries.spill_bytes" -> "B", "queries.driver_gap_ms" -> "ms",
        "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_ms" -> "ms",
        "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
        "spark.spill_bytes" -> "B", "spark.gc_ms" -> "ms",
        "trace.op_p50_ms" -> "ms")

  def oracleTables(ctx: Ctx, svc: Service): Unit = {
    Fixtures.tableFiles(svc).foreach { case (t, n) =>
      ctx.layer(s"oracle.table_files.$t") = (n.toDouble, "count")
    }
    ctx.layer("oracle.weather_live_ratio") = (Fixtures.weatherLiveRatio(svc), "ratio")
  }

  /** The layer everything shares: jobs, tasks, shuffle, spill and GC of
    * the program's jobs in the measured window (the benchmark's own
    * checks excluded). */
  def spark(ctx: Ctx, jobs: Seq[JobRecord], gcMs: Long): Unit = {
    val js = jobs.filter(_.origin.layer != "bench")
    ctx.layer("spark.jobs") = (js.size.toDouble, "count")
    ctx.layer("spark.tasks") = (js.map(_.tasks).sum.toDouble, "count")
    ctx.layer("spark.task_ms") = (js.map(_.taskMs).sum.toDouble, "ms")
    ctx.layer("spark.shuffle_read_bytes") = (js.map(_.shuffleReadBytes).sum.toDouble, "B")
    ctx.layer("spark.shuffle_write_bytes") = (js.map(_.shuffleWriteBytes).sum.toDouble, "B")
    ctx.layer("spark.spill_bytes") = (js.map(_.spillBytes).sum.toDouble, "B")
    ctx.layer("spark.gc_ms") = (gcMs.toDouble, "ms")
  }

  /** api.<route>.p50_ms from the client spans, api.<route>.jobs from the
    * jobs whose call site runs through that route's handler. */
  def routes(ctx: Ctx, jobs: Seq[JobRecord], routes: Seq[String]): Unit = {
    val byRoute = ctx.spans.all.filter(_.layer == "api").groupBy(_.name)
    val jobsByRoute = jobs.groupBy(_.origin.route)
    routes.foreach { r =>
      val ss = byRoute.getOrElse(r, Nil)
      ctx.layer(s"api.$r.p50_ms") = (if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.ms)), "ms")
      ctx.layer(s"api.$r.jobs") =
        (if (ss.isEmpty) 0.0 else jobsByRoute.getOrElse(r, Nil).size.toDouble / ss.size, "count")
    }
  }

  /** Self time per layer from the spans, printed (not a metric). */
  def selfTimes(ctx: Ctx): Unit =
    ctx.spans.selfMsByLayer.toSeq.sortBy(_._1).foreach { case (l, ms) =>
      ctx.named(s"self_ms.$l") = (ms, "ms")
    }

  /** Every listed metric, 0 where this workload has no such layer. */
  def complete(ctx: Ctx): Unit =
    All.foreach { case (n, u) => if (!ctx.layer.contains(n)) ctx.layer(n) = (0.0, u) }
}
