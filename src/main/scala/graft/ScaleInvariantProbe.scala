package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10×-replica invariants for the oracle's recursive-CTE DNF class
  * (VERDICT r12 #6): 12 of the 168 gates lose their DuckDB compare at
  * the 10× replica because the ORACLE's recursive CTE DNFs (c1*, p1*,
  * p2, d7, d10, d12, d16, m6, p4) — each is hash-pinned at sf0.01/sf0.1,
  * but their 10× rows read "skipped". This probe pins a SECONDARY
  * invariant for every one of them at any replica scale: an
  * independent recompute with different machinery (hash-min CC vs the
  * alternating-star algorithm, window argmax vs groupBy-max,
  * driver-loop PageRank vs a Spark-SQL chained-CTE replay, batch
  * pipeline vs incremental/stream state), or an exact structural
  * identity (handshake degree sum, triangle-incidence divisibility,
  * shard coverage). A violation in any of them means the 10× run is
  * wrong even though DuckDB could not say so.
  *
  * Usage: `runMain graft.ScaleInvariantProbe [dataDir]` (default
  * `/tmp/graft-scale/full10x`; build it with graft.ScaleBuild first).
  * Prints one `[inv] name PASS/FAIL detail` row per invariant and
  * exits nonzero on any FAIL; results are recorded in SCALING.md.
  */
object ScaleInvariantProbe {

  private var failures = 0

  private def check(name: String, ok: Boolean, detail: String): Unit = {
    if (!ok) failures += 1
    println(f"[inv] $name%-28s ${if (ok) "PASS" else "FAIL"} $detail")
  }

  /** Row-set equality via two-sided exceptAll (hash-join sized, no
    * collect). */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/tmp/graft-scale/full10x")
    val spark = Sessions.local(Sessions.cores.toString, "graft-scale-invariants")
    import spark.implicits._

    val docs = Tables.documentsSpread(spark, d)
    val pairs = graft.queries.TextOps.jaccardPairsOf(docs)
      .select("doc_a", "doc_b").localCheckpoint(true)

    // ---- d7: hash-min CC vs alternating-star CC (different algorithm,
    // same contract) — full assignment equality
    val ccMin = graft.queries.Components.connectedComponents(pairs)
    val ccStar = graft.queries.Components.connectedComponentsStar(pairs)
    val ccDiff = ccMin.join(ccStar.withColumnRenamed("component", "c2"),
      Seq("node")).where(col("component") =!= col("c2")).count()
    check("d7_cc_vs_star", ccDiff == 0, s"disagreements=$ccDiff")

    // ---- d10: exact structural identities on the same pair graph —
    // handshake (Σ degree = 2|E|) and triangle incidences ≡ 0 (mod 3)
    val m10 = graft.queries.TextOps.dupGraphMetrics(pairs)
    val (degSum, triSum) = m10.agg(sum("degree"), sum("n_triangles"))
      .as[(Long, Long)].head()
    val nEdges = pairs.count()
    check("d10_handshake", degSum == 2 * nEdges,
      s"sum_degree=$degSum 2|E|=${2 * nEdges}")
    check("d10_triangles_mod3", triSum % 3 == 0, s"sum_tri=$triSum")

    // ---- d12: every keeper carries its component's max quality
    // (groupBy-max recompute vs the gate's window argmax) and cluster
    // sizes partition the corpus
    val keepers = SparkEntry.queries("d12_quality_keeper")(spark, d)
      .localCheckpoint(true)
    val comp = graft.queries.Components.connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
    val quality = graft.queries.TextOps.qualityScores(docs)
      .select("doc_id", "quality")
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val maxQ = quality.groupBy("component").agg(max("quality").as("qmax"),
      count(lit(1)).cast("int").as("sz"))
    val badKeep = keepers.join(maxQ, Seq("component"))
      .where(col("quality") =!= col("qmax") ||
        col("cluster_size") =!= col("sz")).count()
    val szSum = keepers.agg(sum("cluster_size")).as[Long].head()
    val nDocs = docs.count()
    check("d12_keeper_is_argmax", badKeep == 0, s"violations=$badKeep")
    check("d12_sizes_partition", szSum == nDocs, s"sum_sz=$szSum docs=$nDocs")

    // ---- d16: the driver-loop integer PageRank vs a Spark-SQL
    // chained-CTE replay of the oracle's own rank-flow text (different
    // execution path: SQL planner over a temp view, not the loop)
    val pr = graft.queries.TextOps.pageRank(pairs, 5)
    pairs.createOrReplaceTempView("inv_pairs")
    // the oracle's own chained-CTE rank flow (duckPrIters' arithmetic),
    // executed by SPARK's SQL planner — a different execution path from
    // the driver-loop DataFrame form
    val prIters = (1 to 5).map { i =>
      s"""it$i AS (SELECT e.dst AS doc_id,
            CAST(150000 + (85 * SUM(p.rank div dg.degree)) div 100 AS BIGINT) AS rank
          FROM it${i - 1} p JOIN deg dg ON p.doc_id = dg.src
                            JOIN ed e ON e.src = p.doc_id
          GROUP BY e.dst)"""
    }.mkString(",\n")
    val prSql = spark.sql(s"""WITH ed AS (
        SELECT doc_a AS src, doc_b AS dst FROM inv_pairs
        UNION ALL SELECT doc_b, doc_a FROM inv_pairs),
      deg AS (SELECT src, COUNT(*) AS degree FROM ed GROUP BY src),
      it0 AS (SELECT src AS doc_id, CAST(1000000 AS BIGINT) AS rank FROM deg),
      $prIters
      SELECT doc_id, rank FROM it5""")
    check("d16_sql_replay", sameRows(pr.select("doc_id", "rank"), prSql),
      s"spark_loop_rows=${pr.count()}")

    // ---- m6: gate components vs alternating-star recompute of the
    // SAME union pair graph, plus modality disjointness (no component
    // crosses the 2^40 id offset)
    val off = 1099511627776L
    val ih = graft.llm.ImagePhash.avgHash(
      graft.llm.ImagePhash.synthAssets(docs)).toDF.localCheckpoint(true)
    val ah = graft.llm.AudioFingerprint.envelopeHash(
      graft.llm.AudioFingerprint.synthAssets(docs)).toDF.localCheckpoint(true)
    val ip = graft.llm.HammingLsh.nearDupPairs(ih, maxHamming = 7)
      .select(col("asset_a").as("u"), col("asset_b").as("v"))
    val ap = graft.llm.HammingLsh.nearDupPairs(ah, maxHamming = 7)
      .select((col("asset_a") + off).as("u"), (col("asset_b") + off).as("v"))
    val medPairs = ip.union(ap).localCheckpoint(true)
    val mMin = graft.queries.Components.connectedComponents(medPairs)
    val mStar = graft.queries.Components.connectedComponentsStar(medPairs)
    val mDiff = mMin.join(mStar.withColumnRenamed("component", "c2"),
      Seq("node")).where(col("component") =!= col("c2")).count()
    check("m6_cc_vs_star", mDiff == 0, s"disagreements=$mDiff")
    val crossModal = mMin
      .where((col("node") >= off) =!= (col("component") >= off)).count()
    check("m6_modality_disjoint", crossModal == 0, s"cross=$crossModal")

    // ---- c1 family: the batch prepare vs the incremental, takedown,
    // and streaming states — exact output equality (the contract every
    // gate pins against DuckDB at small SF, pinned Spark-vs-Spark here)
    val c1 = SparkEntry.queries("c1_corpus_prep")(spark, d).localCheckpoint(true)
    val c1b = SparkEntry.queries("c1b_corpus_prep_incremental")(spark, d)
    check("c1b_eq_c1", sameRows(c1, c1b), s"rows=${c1.count()}")
    val c1d = SparkEntry.queries("c1d_corpus_prep_stream")(spark, d)
    check("c1d_eq_c1", sameRows(c1, c1d), "")
    val c1c = SparkEntry.queries("c1c_corpus_prep_takedown")(spark, d)
    val survivors = graft.llm.CorpusEtl.prepare(docs.where(
      col("doc_id") % graft.llm.CorpusEtl.TakedownMod
        =!= graft.llm.CorpusEtl.TakedownRem))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_copies"),
        col("cluster_size"), md5(col("redacted")).as("redacted_md5"))
    check("c1c_eq_batch_on_survivors", sameRows(c1c, survivors),
      s"rows=${c1c.count()}")

    // ---- p1/p1b: batch-built vs stream-synced indexes must serve the
    // IDENTICAL packed stream (the p1b ≡ p1 contract)
    val p1 = SparkEntry.queries("p1_pipeline_e2e")(spark, d).localCheckpoint(true)
    val p1b = SparkEntry.queries("p1b_pipeline_stream_serve")(spark, d)
    check("p1b_eq_p1", sameRows(p1, p1b), s"rows=${p1.count()}")

    // ---- p2: shard coverage identities against p1's token total —
    // every sequence exactly once, offsets arithmetic, shards full
    // except the last
    val p2 = SparkEntry.queries("p2_pipeline_shards")(spark, d).localCheckpoint(true)
    val nSeqs = p2.count()
    val expSeqs = p1.agg(sum("n_tokens")).as[Long].head() match {
      case t => (t + 511) / 512
    }
    val distinctSeqs = p2.select("seq").distinct().count()
    check("p2_seq_coverage", nSeqs == expSeqs && distinctSeqs == nSeqs,
      s"n=$nSeqs expected=$expSeqs distinct=$distinctSeqs")
    val badOffset = p2.where(col("token_offset") =!= col("seq") * 512).count()
    check("p2_token_offsets", badOffset == 0, s"bad=$badOffset")
    val shardSizes = p2.groupBy("shard_id").count()
    val maxShard = shardSizes.agg(max("shard_id")).as[Long].head()
    val badShards = shardSizes
      .where(col("count") =!= 16 && col("shard_id") =!= maxShard).count()
    check("p2_shards_full", badShards == 0, s"partial_nonfinal=$badShards")

    // ---- p4: manifest components vs a hash-min CC recompute over the
    // scrubbed-hash pair graph (different algorithm, same contract),
    // plus the closed-form savings identity — the manifest's byte
    // counters travelled through real container walks; the recompute
    // restates them from id arithmetic (what the DNF'd oracle would
    // have checked)
    val p4 = SparkEntry.queries("p4_media_prep")(spark, d).localCheckpoint(true)
    val prepH = graft.llm.MediaPrep.prep(docs).toDF
      .select(col("asset_id"), col("hash")).localCheckpoint(true)
    val pPairs = graft.llm.HammingLsh.nearDupPairs(prepH, maxHamming = 7)
      .select(col("asset_a").as("u"), col("asset_b").as("v"))
    val pMin = graft.queries.Components.connectedComponents(pPairs)
    val pDiff = pMin.join(p4.select(col("asset_id").as("node"),
        col("component").as("c2")), Seq("node"))
      .where(col("component") =!= col("c2")).count()
    check("p4_cc_vs_hashmin", pDiff == 0, s"disagreements=$pDiff")
    val badSav = p4.where(col("meta_removed") =!=
      when(col("enc") === 1, lit(0L)).otherwise(
        lit(24L) + length(col("asset_id").cast("string")) +
          when(col("asset_id") % 2 === 0, 29L).otherwise(0L) +
          when(col("asset_id") % 3 === 0, 19L).otherwise(0L))).count()
    check("p4_savings_closed_form", badSav == 0, s"violations=$badSav")

    println(s"[inv] ${if (failures == 0) "ALL PASS" else s"$failures FAILURES"}")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
