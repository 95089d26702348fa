package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Diagnostic-only main: build a FULL m× replica of the sf0.1 dataset —
  * every table, referentially consistent — so the whole 96-query sweep
  * can run unmodified at "sf1" via
  * `SPARK_GRAFT_SF_DIR=/tmp/graft-scale/full10x runMain graft.Bench`.
  * Not part of the driver contract.
  *
  * Replica k (k = 0..m-1) offsets every key family by k·(max(key)+1)
  * (max+1, not row count — TPC-H keys are sparse), so joins resolve
  * within a replica exactly as in the base data and cross-replica keys
  * never collide: the 10× dataset has 10× the join fan-in with the same
  * per-key selectivity, which is the regime a 10× cluster input has.
  *
  * - region/nation: copied as-is (fixed dimensions; TPC-H does not
  *   scale them, and nationkey references must stay in range)
  * - documents: doc_id offset + per-replica consonant rotation of text
  *   (replicas are textually unrelated) — corpus grows without
  *   manufacturing near-dup clusters; rotation count caps the multiplier
  * - embeddings: vec_id offset + dimension rotation by k (norm- and
  *   distance-structure-preserving, so ANN work grows with corpus size
  *   instead of degenerating into exact duplicates)
  * - events: read through [[Tables.events]] (footer-encoding-aware) and
  *   written back as Spark-native TIMESTAMP_MICROS, which the loader's
  *   native branch reads; timestamps are NOT shifted (10× the users in
  *   the same time window: per-window density grows, the realistic
  *   scale-up)
  *
  * Usage: runMain graft.ScaleBuild <m> [baseDir] [outDir]
  */
object ScaleBuild {
  def main(args: Array[String]): Unit = {
    val m = args.headOption.getOrElse("10").toInt
    val base = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = if (args.length > 2) args(2) else s"/tmp/graft-scale/full${m}x"
    val spark = Sessions.local(Sessions.cores.toString, "graft-scale-build")

    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val done = new org.apache.hadoop.fs.Path(s"$out/_built")
    if (fs.exists(done)) { println(s"[build] $out already built"); spark.stop(); return }

    def nextKey(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    // replicate df m times applying long-key offsets k*(max+1) per listed
    // column, plus an optional per-replica transform
    def replicate(df: DataFrame, keys: Seq[(String, Long)],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until m).map { k =>
        val off = keys.foldLeft(df) { case (d, (c, n)) =>
          d.withColumn(c, col(c) + lit(k * n)) }
        extra(off, k)
      }.reduce(_ unionByName _)

    def write(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[build] wrote $name x$m")
    }

    // fixed dimensions: straight copy
    for (t <- Seq("region", "nation"))
      write(spark.read.parquet(s"$base/$t.parquet"), t, 1)

    val customer = spark.read.parquet(s"$base/customer.parquet")
    val supplier = spark.read.parquet(s"$base/supplier.parquet")
    val part = spark.read.parquet(s"$base/part.parquet")
    val orders = spark.read.parquet(s"$base/orders.parquet")
    val lineitem = spark.read.parquet(s"$base/lineitem.parquet")
    val nCust = nextKey(customer, "c_custkey")
    val nSupp = nextKey(supplier, "s_suppkey")
    val nPart = nextKey(part, "p_partkey")
    val nOrd = nextKey(orders, "o_orderkey")

    write(replicate(customer, Seq("c_custkey" -> nCust)), "customer", 4)
    write(replicate(supplier, Seq("s_suppkey" -> nSupp)), "supplier", 1)
    write(replicate(part, Seq("p_partkey" -> nPart)), "part", 4)
    write(replicate(orders,
      Seq("o_orderkey" -> nOrd, "o_custkey" -> nCust)), "orders", 8)
    write(replicate(lineitem,
      Seq("l_orderkey" -> nOrd, "l_partkey" -> nPart, "l_suppkey" -> nSupp)),
      "lineitem", 16)

    // events through the encoding-aware loader (handles TIMESTAMP(NANOS),
    // TIMESTAMP(MICROS), and raw-long sources alike); the replica is
    // written by Spark as TIMESTAMP_MICROS, which Tables.events reads
    // back through its native branch. Timestamp VALUES are already the
    // same µs floor either way, so replicas from either source encoding
    // are interchangeable.
    val events = Tables.events(spark, base)
    val nEv = nextKey(events, "event_id")
    val nUser = nextKey(events, "user_id")
    write(replicate(events,
      Seq("event_id" -> nEv, "user_id" -> nUser)), "events", 8)

    // documents: consonant rotation, capped at one rotation per consonant
    val abc = "bcdfghjklmnpqrstvwz"
    require(m <= abc.length,
      s"multiplier $m exceeds ${abc.length} distinct rotations")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val nDoc = nextKey(docs, "doc_id")
    write(replicate(docs, Seq("doc_id" -> nDoc), (d, k) => {
      val rot = abc.drop(k) + abc.take(k)
      d.withColumn("text", translate(col("text"), abc, rot))
    }), "documents", 8)

    // embeddings: rotate dimensions by k (same vectors, shifted axes)
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val nVec = nextKey(emb, "vec_id")
    write(replicate(emb, Seq("vec_id" -> nVec), (d, k) =>
      if (k == 0) d
      else d.withColumn("embedding",
        expr(s"concat(slice(embedding, ${k + 1}, size(embedding) - $k), " +
          s"slice(embedding, 1, $k))"))), "embeddings", 4)

    fs.create(done, true).close()
    println(s"[build] $out complete")
    spark.stop()
  }
}
