package perfbench

import java.nio.file.{Files, Path}

import org.json4s._

import graft.SparkEntry

/** Every `SparkEntry.queries` operator over a table directory: one warm
  * pass, then one measured pass, each query to the `noop` sink like
  * `graft.Bench`. Per query it keeps wall time, Catalyst planning time,
  * jobs, task time, shuffle, spill, the driver gap and the row count,
  * and writes them as a record `trend.py` reads beside the
  * `BENCH_r*.json` history, under the same query names. */
object OperatorSweep {

  def run(ctx: Ctx, data: String, out: Path): Unit = {
    import ctx._
    val names = SparkEntry.queries.keys.toSeq.sorted
    val meter = new QueryMeter(ctx, data, layers = true)
    def noop(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    setup(spark.range(1000000L).selectExpr("sum(id)").collect()) // executor spin-up
    names.foreach { n => System.gc(); spark.catalog.clearCache(); meter.time(n)(noop) }
    val gc0 = gcMs
    val records = names.map { n =>
      System.gc()
      spark.catalog.clearCache()
      val (rec, _, _) = meter.measure(n)(noop)
      val rows = if (!rec.ok) -1L else scala.util.Try(meter.frame(n).count()).getOrElse(-1L)
      check(rec.ok && rows >= 0, s"$n did not complete")
      (rec, rows)
    }
    val gc = gcMs - gc0

    val sweep = records.filter(_._1.ok).map(_._1.wallS).sum
    e2e("setup_s") = (setupSeconds, "s")
    e2e("sweep_s") = (sweep, "s")
    named("queries") = (records.size.toDouble, "count")
    layer("queries.plan_ms") = (records.map(_._1.planMs).sum, "ms")
    layer("queries.jobs") = (records.map(_._1.jobs).sum.toDouble, "count")
    layer("queries.task_ms") = (records.map(_._1.taskMs).sum.toDouble, "ms")
    layer("queries.shuffle_bytes") = (records.map(_._1.shuffleBytes).sum.toDouble, "B")
    layer("queries.spill_bytes") = (records.map(_._1.spillBytes).sum.toDouble, "B")
    layer("queries.driver_gap_ms") = (records.map(_._1.gapMs).sum, "ms")
    layer("spark.gc_ms") = (gc.toDouble, "ms")
    named("error_rate") = (failed.get.toDouble / math.max(1L, attempted.get), "ratio")

    // the sweep record: BENCH_r*-shaped `parsed` plus the layer split
    def r3(v: Double) = JDouble(BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val rec = JObject(
      "cpus" -> JInt(cpus), "data" -> JString(data),
      "parsed" -> JObject("metric" -> JString("total"), "value" -> r3(sweep), "unit" -> JString("sec"),
        "queries" -> JObject(records.toList.map { case (r, _) => r.name -> (if (r.ok) r3(r.wallS) else JInt(-1)) })),
      "layers" -> JObject(records.toList.map { case (r, rows) => r.name -> JObject(
        "plan_ms" -> r3(r.planMs), "jobs" -> JInt(r.jobs), "task_ms" -> JInt(r.taskMs),
        "shuffle_bytes" -> JInt(r.shuffleBytes), "spill_bytes" -> JInt(r.spillBytes),
        "driver_gap_ms" -> r3(r.gapMs), "rows" -> JInt(rows)) }))
    val dir = out.resolve("sweeps")
    Files.createDirectories(dir)
    val file = dir.resolve(s"sweep-c$cpus-${System.currentTimeMillis()}.json")
    Files.writeString(file, Json.render(rec) + "\n")
    println(s"perfbench: sweep record written to $file")
  }
}
