package graft

import org.apache.spark.sql.SparkSession

/** Single place that builds a correctly-configured local session.
  *
  * Everything the engine needs baked into the session lives here — not in
  * table loaders or query code — so no read path mutates global session
  * state:
  *  - `spark.sql.shuffle.partitions` sized to the core count (local mode;
  *    a real cluster would size it to ~2-3× total cores);
  *  - UTC session timezone (all reference timestamps are UTC RFC-3339);
  *  - AQE on (runtime coalescing + skew-join splitting at scale).
  *
  * `events.ts` needs no session flag in ANY of its observed physical
  * encodings: [[Tables.events]] dispatches on the parquet footer
  * (native read for micros/NTZ, explicit raw-long schema for nanos),
  * so ad-hoc sessions built without this helper work too.
  */
object Sessions {

  /** The host's core count — `SPARK_GRAFT_CPUS` when set, else the JVM's
    * available processors. Every main sizes its session from this, so a
    * 4-core host never runs a 32-slot session. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Token unique per (JVM, session instance) — layout-materializing
    * queries (q46/q47/v9b) write under it so no two sessions ever share
    * (and race on) a directory or catalog name. */
  def sessionTag(s: SparkSession): String =
    s"${s.sparkContext.applicationId}-${Integer.toHexString(System.identityHashCode(s))}"

  /** Clone of `s` with its own shuffle-partition count — the per-query
    * state-sizing knob for the streaming gates: every stateful streaming
    * operator materializes one state store per shuffle partition per
    * micro-batch, so a bounded-fixture stream under the engine-wide 32
    * pays ~32× its data's worth of state machinery (measured: w12b's
    * 3-row join at 7 s). `newSession` shares the SparkContext and
    * relation caches' context but takes session-scoped conf, so the
    * engine-wide setting is untouched — the same decision a production
    * job makes per stream via its own session/conf, not a global
    * mutation. */
  private val streamSessions =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Int), SparkSession]()

  /** Contexts that already carry the cleanup listener — ONE listener per
    * SparkContext, not one per cache entry: each registration would add
    * a listener-bus entry for the app's lifetime and run a redundant
    * removeIf sweep at application end. */
  private val cleanupHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.SparkContext]()

  def streamSession(s: SparkSession, partitions: Int): SparkSession =
    // memoized per (parent, partitions): a bench sweep invokes each
    // streaming gate several times, and an unbounded clone per run
    // would accumulate SessionStates for the app's lifetime. Entries
    // are dropped when their SparkContext ends (the Tables idiom).
    streamSessions.computeIfAbsent((s, partitions), { case (parent, n) =>
      val sc = parent.sparkContext
      if (cleanupHooked.add(sc))
        sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            streamSessions.keySet().removeIf(_._1.sparkContext eq sc)
            cleanupHooked.remove(sc)
          }
        })
      val c = parent.newSession()
      c.conf.set("spark.sql.shuffle.partitions", n.toString)
      c
    })

  def local(cores: String, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // single-machine latency knobs (harmless on a cluster, measurable
      // locally): tiny local shuffles lose more to lz4 than they save,
      // and there is no locality to wait for in local mode
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.locality.wait", "0ms")
      // NOTE: adaptive.coalescePartitions.parallelismFirst stays at its
      // default (true): measured — byte-based coalescing serializes the
      // CPU-heavy small-byte shuffles (hash kernels, pair enumeration)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
