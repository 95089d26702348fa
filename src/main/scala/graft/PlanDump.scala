package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print `explain(formatted)` for selected queries (all when no
  * args) — the plan-review loop behind SCALING.md. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // the engine-configured session: events' footer-driven ts decoding and
    // the custom optimizer rules must be on, or the dumped plan isn't the
    // plan the engine runs (and events-reading queries fail outright)
    val spark = Sessions.local(Sessions.cores.toString, "graft-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
