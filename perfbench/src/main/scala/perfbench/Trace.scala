package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval around a call the benchmark makes into a layer.
  * `root` is the request id: every span of one request or tick shares
  * the id of the outermost span. */
final case class Span(id: Long, layer: String, name: String, startNs: Long,
    endNs: Long, parent: Long, root: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. When disabled, `apply` is a plain call, so an
  * untraced run pays nothing for it. */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil) // (id, root)

  def apply[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, root) = outer.headOption.map { case (p, r) => (p, r) }.getOrElse((0L, id))
      stack.set((id, root) :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        done.add(Span(id, layer, name, t0, t1, parent, root))
      }
    }

  /** The innermost open span on this thread, as (id, root); (0, 0) when none. */
  def current: (Long, Long) = stack.get.headOption.getOrElse((0L, 0L))

  /** Record an interval timed elsewhere (e.g. on a fetch pool thread)
    * under an explicit parent. */
  def record(layer: String, name: String, startNs: Long, endNs: Long, parentAndRoot: (Long, Long)): Unit =
    if (enabled) done.add(Span(ids.incrementAndGet(), layer, name, startNs, endNs,
      parentAndRoot._1, parentAndRoot._2))

  def clear(): Unit = done.clear()

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover (children's intervals are merged first, so
    * overlapping children on pool threads are not subtracted twice). */
  def selfMsByLayer: Map[String, Double] = {
    val spans = all
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Spans.unionNs(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }
}

object Spans {
  /** Total length of the union of [start, end) intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}

/** Where a Spark job came from: the module of the innermost program frame
  * in its call site, the program method at that frame, every program
  * method on the stack (innermost first), the API route whose handler is
  * on the stack (empty when none) and the driver step that ran it. */
final case class Origin(layer: String, method: String, stack: Seq[String], route: String, phase: String) {
  def calls(method: String): Boolean = stack.exists(_.endsWith(method))
}

/** A finished job with its attribution and summed task metrics. */
final case class JobRecord(jobId: Int, origin: Origin, startMs: Long, endMs: Long,
    tasks: Long, taskMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, gcMs: Long) {
  def ms: Long = endMs - startMs
}

/** SparkListener that attributes every job, and the tasks of its stages,
  * to a layer by the job's call site. Needs `-Dspark.callstack.depth`
  * deep enough that the program frames below the HTTP server or the
  * ingest loop are still in the recorded stack. */
final class JobLedger extends SparkListener {
  private final class Acc(val origin: Origin, val startMs: Long) {
    var tasks, taskMs, shR, shW, spill, gc = 0L
  }
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val open = new ConcurrentHashMap[Int, Acc]()
  private val finished = new ConcurrentLinkedQueue[JobRecord]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()
  /** SQL execution id → the call site of the thread that started it.
    * Adaptive execution submits a query's stage jobs from a pool thread
    * whose own stack holds no program frame; the execution's start event
    * still carries the caller's. */
  private val executions = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executions.put(s.executionId, s.details)
    case _ => ()
  }

  /** Set by a single-threaded driver loop (the ingest tick, the final
    * ETL) so its jobs carry the step that launched them. */
  @volatile var phase: String = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).filter(_.nonEmpty)
    val own = prop("callSite.long")
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details))
      .getOrElse("")
    val site =
      if (own.contains("graft.") || own.startsWith(JobLedger.MarkerPrefix)) own
      else Seq("spark.sql.execution.id", "spark.sql.execution.root.id").flatMap(prop)
        .flatMap(id => Option(executions.get(id.toLong))).find(_.contains("graft."))
        .getOrElse(own)
    val origin = JobLedger.classify(site, phase)
    open.put(e.jobId, new Acc(origin, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      Option(stageJob.get(e.stageId)).flatMap(j => Option(open.get(j))).foreach { a =>
        a.synchronized {
          a.tasks += 1
          a.taskMs += m.executorRunTime
          a.shR += m.shuffleReadMetrics.totalBytesRead
          a.shW += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.gc += m.jvmGCTime
        }
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(open.remove(e.jobId)).foreach { a =>
      val r = a.synchronized(JobRecord(e.jobId, a.origin, a.startMs, e.time,
        a.tasks, a.taskMs, a.shR, a.shW, a.spill, a.gc))
      if (a.origin.method.startsWith(JobLedger.MarkerPrefix))
        Option(markers.get(a.origin.method)).foreach(_.countDown())
      else finished.add(r)
    }
  }

  def jobs: Seq[JobRecord] = finished.asScala.toSeq.sortBy(_.startMs)

  def clear(): Unit = finished.clear()

  /** Block until every event posted before this call has reached the
    * listener: run a marker job and wait for its end event, which the
    * bus delivers after everything queued ahead of it. */
  def drain(sc: SparkContext): Unit = {
    val tag = JobLedger.MarkerPrefix + System.nanoTime()
    val latch = new CountDownLatch(1)
    markers.put(tag, latch)
    sc.setLocalProperty("callSite.long", tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("callSite.long", null)
    latch.await(30, TimeUnit.SECONDS)
    markers.remove(tag)
  }
}

object JobLedger {
  val MarkerPrefix = "perfbench-marker-"

  /** OracleApi method → the route it serves. */
  val Routes: Map[String, String] = Map(
    "stationsJson" -> "stations",
    "forecastsJson" -> "stations_forecasts",
    "observationsJson" -> "stations_observations",
    "fileNamesJson" -> "files",
    "downloadFile" -> "file",
    "listEvents" -> "oracle_events",
    "getEvent" -> "oracle_event",
    "getEventEntry" -> "oracle_entry",
    "queryJson" -> "query",
    "createEvent" -> "create_event",
    "addEventEntry" -> "add_entry")

  /** The repo's modules, by package (and, for the shared pieces, class). */
  def layerOf(cls: String): String =
    if (cls.startsWith("graft.ingest.")) "ingest"
    else if (cls.startsWith("graft.store.")) "store"
    else if (cls.startsWith("graft.oracle.")) "oracle"
    else if (cls.startsWith("graft.api.")) "api"
    else if (cls.startsWith("graft.sql.")) "sql"
    else if (cls.startsWith("perfbench.")) "bench"
    else if (cls.startsWith("graft.")) "queries"
    else "other"

  def classify(site: String, phase: String): Origin = {
    if (site.startsWith(MarkerPrefix)) return Origin("bench", site, Nil, "", phase)
    // one StackTraceElement per line: "pkg.Class.method(File.scala:12)"
    val frames = site.split('\n').iterator.map(_.trim)
      .map(l => l.takeWhile(_ != '(')).filter(_.nonEmpty).toSeq
    val program = frames.filter(f => f.startsWith("graft.") || f.startsWith("perfbench."))
    val first = program.headOption.getOrElse(frames.take(3).mkString(" | "))
    val cls = first.reverse.dropWhile(_ != '.').drop(1).reverse.takeWhile(_ != '$')
    val route = frames.collectFirst {
      case f if f.startsWith("graft.api.OracleApi.") &&
        Routes.contains(f.stripPrefix("graft.api.OracleApi.").takeWhile(_ != '$')) =>
        Routes(f.stripPrefix("graft.api.OracleApi.").takeWhile(_ != '$'))
    }.getOrElse("")
    Origin(layerOf(cls), first.replace("$", ""), program.map(_.replace("$", "")), route, phase)
  }
}
