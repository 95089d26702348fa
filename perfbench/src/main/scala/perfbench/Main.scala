package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.json4s._

/** Benchmark entry point, one workload per JVM. `run.py` builds the classpath
  * and launches it; the last stdout line is the result JSON.
  *
  * {{{
  *   --workload ingest_day|api_read|operator_mix|oracle_write|operator_sweep
  *   --seed N --seconds S --trace 0|1 --out DIR
  *   [--data DIR]                        operator_sweep only
  * }}}
  */
object Main {

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb: Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val trace = opts.getOrElse("trace", "0") == "1"
    val out = Paths.get(opts("out"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val steal0 = Steal.sample()
    val spark = graft.Sessions.local(cpus.toString, "perfbench")
    val work = out.resolve(s"work-${ProcessHandle.current().pid()}")
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt, trace, work, cpus)
    ctx.sessionSeconds = Steal.net(
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0, steal0, Steal.sample())

    try workload match {
      case "ingest_day" => IngestDay.run(ctx)
      case "api_read" => ApiRead.run(ctx)
      case "operator_mix" => OperatorMix.run(ctx)
      case "oracle_write" => OracleWrite.run(ctx)
      case "operator_sweep" => OperatorSweep.run(ctx, opts("data"), out)
      case other => sys.error(s"unknown workload: $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.check(ok = false, s"workload aborted: $e")
    }
    ctx.named("rss_peak_mb") = (rssPeakMb, "MB")
    if (trace && workload != "operator_sweep") Layers.complete(ctx)

    def show(m: collection.Map[String, (Double, String)]): Unit =
      m.foreach { case (k, (v, u)) => println(f"perfbench: $k%-34s $v%14.4f $u") }
    println(s"perfbench: workload=$workload seed=${ctx.seed} seconds=${ctx.seconds} trace=${if (trace) 1 else 0} cpus=$cpus")
    show(ctx.e2e)
    show(ctx.named)
    if (trace) show(ctx.layer)
    ctx.missList.foreach(m => println(s"perfbench: MISS $m"))

    if (trace) {
      val spans = ctx.spans.all
      val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
      val doc = JObject(
        "workload" -> JString(workload), "seed" -> JInt(ctx.seed),
        "self_ms_by_layer" -> JObject(ctx.spans.selfMsByLayer.toList.map { case (l, v) => l -> JDouble(v) }),
        "spans" -> JArray(spans.toList.map(s => JObject(
          "id" -> JInt(s.id), "layer" -> JString(s.layer), "name" -> JString(s.name),
          "start_ms" -> JDouble((s.startNs - t0) / 1e6), "end_ms" -> JDouble((s.endNs - t0) / 1e6),
          "parent" -> JInt(s.parent), "request" -> JInt(s.root)))),
        "jobs" -> JArray(ctx.ledger.jobs.toList.map(j => JObject(
          "job" -> JInt(j.jobId), "layer" -> JString(j.origin.layer), "method" -> JString(j.origin.method),
          "route" -> JString(j.origin.route), "phase" -> JString(j.origin.phase),
          "ms" -> JInt(j.ms), "tasks" -> JInt(j.tasks), "task_ms" -> JInt(j.taskMs),
          "shuffle_read_bytes" -> JInt(j.shuffleReadBytes), "shuffle_write_bytes" -> JInt(j.shuffleWriteBytes),
          "spill_bytes" -> JInt(j.spillBytes)))))
      val dir = out.resolve("traces")
      Files.createDirectories(dir)
      val file = dir.resolve(s"$workload-seed${ctx.seed}.json")
      Files.writeString(file, Json.render(doc) + "\n")
      println(s"perfbench: trace written to $file")
    }

    val metrics = if (trace) ctx.layer else ctx.e2e
    val correct = ctx.failed.get == 0 && ctx.attempted.get > 0
    println(Json.render(JObject(
      "correct" -> JBool(correct),
      "attempted" -> JInt(ctx.attempted.get),
      "failed" -> JInt(ctx.failed.get),
      "metrics" -> Json.metrics(metrics))))
    System.out.flush()
    spark.stop()
    Files2.deleteTree(work)
    sys.exit(if (correct) 0 else 1)
  }
}
