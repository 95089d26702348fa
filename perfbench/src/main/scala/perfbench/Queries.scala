package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** One query run split into layers. */
final case class QueryRecord(name: String, wallS: Double, planMs: Double, jobs: Int,
    taskMs: Long, shuffleBytes: Long, spillBytes: Long, gapMs: Double, ok: Boolean)

/** Runs `SparkEntry.queries` entries over a table directory, one at a
  * time. With `layers` on, each run can be split into Catalyst planning
  * time, jobs, task time, shuffle, spill and the driver gap (wall time
  * not covered by any job). */
final class QueryMeter(ctx: Ctx, data: String, layers: Boolean) {
  private val spark = ctx.spark
  private val ledger = ctx.ledger
  private val planNs = new AtomicLong(0)
  if (layers) {
    if (!ctx.trace) spark.sparkContext.addSparkListener(ledger)
    spark.listenerManager.register(new QueryExecutionListener {
      private def add(qe: QueryExecution): Unit =
        planNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    })
  }

  def frame(name: String): DataFrame = SparkEntry.queries(name)(spark, data)

  /** Run `f` on the query's frame; wall seconds and the result, if any. */
  def time[T](name: String)(f: DataFrame => T): (Double, Option[T]) = {
    val t = System.nanoTime()
    val r =
      try Some(f(frame(name)))
      catch { case e: Throwable => System.err.println(s"[perfbench] $name failed: ${e.getMessage}"); None }
    ((System.nanoTime() - t) / 1e9, r)
  }

  /** One run of `f` split into layers, with the run's jobs; needs `layers`. */
  def measure[T](name: String)(f: DataFrame => T): (QueryRecord, Option[T], Seq[JobRecord]) = {
    ledger.drain(spark.sparkContext)
    ledger.clear(); planNs.set(0)
    val start = System.currentTimeMillis()
    val (wall, r) = time(name)(f)
    val end = System.currentTimeMillis()
    ledger.drain(spark.sparkContext)
    val jobs = ledger.jobs.filter(_.origin.layer != "bench")
    val covered = Spans.unionNs(jobs.map(j => (math.max(j.startMs, start), math.min(j.endMs, end)))
      .filter { case (a, b) => b > a })
    (QueryRecord(name, wall, planNs.get / 1e6, jobs.size, jobs.map(_.taskMs).sum,
      jobs.map(j => j.shuffleReadBytes + j.shuffleWriteBytes).sum, jobs.map(_.spillBytes).sum,
      (end - start) - covered.toDouble, r.isDefined), r, jobs)
  }
}

/** Seeded tables in the shapes of the test data the operators read
  * (`customer`, `orders`, `lineitem` and `events`), at the sf0.01 row
  * counts. Every column is a hash of the seed and the row id. */
object OperatorTables {
  val Names: Seq[String] = Seq("customer", "orders", "lineitem", "events")

  def write(spark: SparkSession, dir: Path, seed: Long): Unit = {
    val customers = 1500L
    val orders = 15000L
    def h(salt: Int): Column = xxhash64(lit(seed), lit(salt), col("id"))
    def u(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
    def frac(salt: Int): Column = u(salt, 1000000L) / 1e6
    def money(salt: Int, lo: Double, hi: Double): Column = round(lit(lo) + frac(salt) * (hi - lo), 2)
    def oneOf(salt: Int, xs: String*): Column = element_at(array(xs.map(lit): _*), (u(salt, xs.size) + 1).cast("int"))
    def day(salt: Int, from: String, days: Int): Column =
      timestamp_seconds(unix_timestamp(lit(from)) + u(salt, days.toLong) * 86400L)

    def save(name: String, rows: Long)(cols: Column*): Unit =
      spark.range(rows).select(cols: _*).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)

    save("customer", customers)(col("id").as("c_custkey"), format_string("Customer#%09d", col("id")).as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"), money(2, -999.99, 9999.99).as("c_acctbal"),
      oneOf(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment"))
    save("orders", orders)(col("id").as("o_orderkey"), u(11, customers).as("o_custkey"),
      oneOf(12, "F", "O", "P").as("o_orderstatus"), money(13, 1000.0, 500000.0).as("o_totalprice"),
      day(14, "1995-01-01 00:00:00", 2404).as("o_orderdate"),
      oneOf(15, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"))
    // four lines per order: (l_orderkey, l_linenumber) is unique
    save("lineitem", 4 * orders)((col("id") / 4).cast("long").as("l_orderkey"), u(16, 2000).as("l_partkey"),
      u(17, 100).as("l_suppkey"), (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (u(18, 50) + 1).cast("double").as("l_quantity"), money(19, 900.0, 105000.0).as("l_extendedprice"),
      (u(20, 11) / 100.0).as("l_discount"), (u(21, 9) / 100.0).as("l_tax"),
      oneOf(22, "A", "N", "R").as("l_returnflag"), oneOf(23, "O", "F").as("l_linestatus"),
      day(24, "1995-01-02 00:00:00", 2498).as("l_shipdate"))
    save("events", 10000L)(col("id").as("event_id"),
      timestamp_micros(unix_micros(lit("2024-01-01 00:00:00").cast("timestamp")) + u(25, 30L * 86400L * 1000000L)).as("ts"),
      u(26, 150).as("user_id"), oneOf(27, "click", "signup", "error", "view", "purchase").as("event_type"),
      money(28, 0.01, 490.02).as("value"), format_string("{\"k\": %d}", u(29, 100)).as("props"))
  }

  /** The views the queries' reference SQL reads, straight from the files. */
  def views(spark: SparkSession, dir: Path): Unit =
    Names.foreach { t =>
      spark.read.parquet(dir.resolve(s"$t.parquet").toString).createOrReplaceTempView(t)
    }
}

/** A fixed set of relational operators from `SparkEntry.queries` over
  * seeded tables built during set-up, run in passes until the time is
  * up. Every result is checked against the query's reference SQL
  * (`SparkEntry.oracleSql`) run by plain Spark SQL over the same files. */
object OperatorMix {
  /** An aggregate, a three-way join, a window and a cube, each with
    * reference SQL that is also Spark SQL. */
  val Queries: Seq[String] = Seq("q1_pricing_summary", "q7_threeway_join", "q33_lead_lag", "q32_cube")
  val Setups = 2
  /** Measured passes always made, even past the deadline. */
  val MinPasses = 4
  /** Untimed passes first: the first pass of a JVM is about twice as
    * slow as the rest (with the JIT limited to C1, see run.py). */
  val WarmPasses = 3

  /** A row as text, doubles to nine significant digits. */
  def canon(r: Row): String = r.toSeq.map {
    case d: Double => f"$d%.9g"
    case null => "null"
    case v => v.toString
  }.mkString("|")

  def digest(rows: Array[Row]): Seq[String] = rows.map(canon).toSeq.sorted

  def run(ctx: Ctx): Unit = {
    import ctx._
    var data: Path = null
    for (i <- 0 until Setups) setup {
      data = dir(s"tables-$i")
      OperatorTables.write(spark, data, seed)
    }
    val meter = new QueryMeter(ctx, data.toString, layers = trace)

    // warm passes, untimed; the first fixes each query's result for the checks
    val first = Queries.map(q => q -> meter.time(q)(_.collect())._2.map(digest)).toMap
    (1 until WarmPasses).foreach(_ => Queries.foreach(q => meter.time(q)(_.collect())))
    val gc0 = gcMs
    val jit0 = jitMs
    spans.clear()
    ledger.clear()
    val walls = Queries.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val raw = Queries.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val records = scala.collection.mutable.ArrayBuffer.empty[QueryRecord]
    val jobs = scala.collection.mutable.ArrayBuffer.empty[JobRecord]
    val steal0 = Steal.sample()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var passes = 0
    while (passes < MinPasses || System.nanoTime() < deadline) {
      Queries.foreach { q =>
        val st0 = Steal.sample()
        val (wall, rows) =
          if (trace) {
            val (rec, r, js) = spans("queries", q)(meter.measure(q)(_.collect()))
            records += rec
            jobs ++= js
            (rec.wallS, r)
          } else meter.time(q)(_.collect())
        walls(q) += Steal.net(wall, st0, Steal.sample())
        raw(q) += wall
        check(rows.isDefined && rows.map(digest) == first(q), s"$q: result differs from its first run")
      }
      passes += 1
    }
    val window = (System.nanoTime() - t0) / 1e9
    val elapsed = Steal.net(window, steal0, Steal.sample())
    val gc = gcMs - gc0
    named("jit_ms") = ((jitMs - jit0).toDouble, "ms")
    val heapLive = heapLiveMb()

    // the reference: each query's SQL from SparkEntry.oracleSql, as plain Spark SQL
    OperatorTables.views(spark, data)
    Queries.foreach { q =>
      val want = scala.util.Try(digest(spark.sql(SparkEntry.oracleSql(q)).collect())).toOption
      check(want.isDefined && first(q) == want, s"$q: result differs from its reference SQL")
    }

    // one pass, robust to a single slow run: the sum of per-query medians
    val pass = Queries.map(q => Stats.median(walls(q).toSeq)).sum
    e2e("setup_s") = (setupSeconds, "s")
    e2e("op_p50_ms") = (pass * 1000, "ms")
    e2e("ops_per_s") = (passes / elapsed, "1/s")
    e2e("heap_live_mb") = (heapLive, "MB")
    named("pass_p50_s") = (pass, "s")
    named("pass_p50_wall_s") = (Queries.map(q => Stats.median(raw(q).toSeq)).sum, "s")
    named("passes") = (passes.toDouble, "count")
    Queries.foreach(q => named(s"$q.p50_ms") = (Stats.median(walls(q).toSeq) * 1000, "ms"))
    named("steal_pct") = (100 * (1 - elapsed / window), "%")
    if (trace) {
      def perPass(f: QueryRecord => Double) = records.map(f).sum / passes
      layer("queries.plan_ms") = (perPass(_.planMs), "ms")
      layer("queries.jobs") = (perPass(_.jobs.toDouble), "count")
      layer("queries.task_ms") = (perPass(_.taskMs.toDouble), "ms")
      layer("queries.shuffle_bytes") = (perPass(_.shuffleBytes.toDouble), "B")
      layer("queries.spill_bytes") = (perPass(_.spillBytes.toDouble), "B")
      layer("queries.driver_gap_ms") = (perPass(_.gapMs), "ms")
      Layers.spark(ctx, jobs.toSeq, gc)
      layer("trace.op_p50_ms") = (pass * 1000, "ms")
      Layers.selfTimes(ctx)
    }
    named("error_rate") = (failed.get.toDouble / math.max(1L, attempted.get), "ratio")
  }
}
