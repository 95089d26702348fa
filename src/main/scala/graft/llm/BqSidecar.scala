package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Binary-quantization SIDECAR over the stored [[VectorIndex]] — the
  * materialized serving structure a production vector store keeps next
  * to its full-precision snapshot (v14's math as a persisted artifact,
  * the CorpusRefresh materialized-view posture applied to ANN):
  * [[refresh]] derives one packed 64-bit sign word per live vector plus
  * the corpus threshold statistics and stores both under the index dir;
  * [[serve]] answers top-k from the words alone — 8 bytes/vector
  * scanned instead of 256 — reading full-precision vectors only for the
  * rerank survivors.
  *
  * Atomicity contract: stats and words are one logical artifact — the
  * words are only meaningful against the thresholds they were packed
  * with — so both live inside ONE version of the [[graft.store
  * .VersionedDir]] at `bq/` (`bq/vNNNNNNNN/{stats,words}`, one commit
  * marker; layout and crash contract documented there). A reader
  * resolves the highest committed version and reads both tables from
  * it — never new thresholds against old words. A refresh that died
  * before its marker is invisible and is overwritten by the next
  * refresh; [[repair]] reclaims interrupted-refresh debris.
  *
  * Freshness contract (spec-pinned): the sidecar is a SNAPSHOT of the
  * live membership at refresh time. A vector ADDED after refresh is not
  * served until the next refresh (the materialized-view lag, priced
  * like c1b's); a vector REMOVED after refresh vanishes from serve
  * immediately — serve semi-joins current [[VectorIndex.liveIds]], so a
  * takedown never waits on a rebuild (the d17/v5c takedown posture).
  *
  * Integer-exactness chain (the v14 gate's): codes are floor(x·2^7)
  * bigints (exponent shift, no rounding); the per-dim threshold compare
  * is icode[d]·N > Σ icode[d] — both sides exact integers, so the
  * stored words are bit-identical to what any engine derives from the
  * same rows; query words are computed against the STORED statistics
  * (the deployed posture: query-time quantization uses the trained
  * thresholds, not fresh ones). Candidate ranking is
  * bit_count(xor) — never a float before the rerank.
  *
  * 100 TB: refresh is one map pass + a 64-row aggregate broadcast back;
  * the serve scan is words-only and shuffles nothing corpus-sized (the
  * per-query top-depth is a window over broadcast-joined candidates,
  * the v7/v14 shape); rerank reads ≤ queries×depth full vectors by id.
  */
object BqSidecar {

  private val KeepVersions = 2

  private def bqRoot(dir: String) = s"$dir/bq"

  private def versioned(spark: SparkSession, dir: String) =
    new graft.store.VersionedDir(spark, bqRoot(dir))

  private val icodeExpr =
    "transform(embedding, x -> cast(floor(cast(x as double) * 128.0D) as bigint))"

  private val packExpr =
    """aggregate(sequence(0, 63), cast(0 as bigint),
         (acc, b) -> acc + IF(element_at(icode, b + 1) * N > element_at(T, b + 1),
                              shiftleft(cast(1 as bigint), b), cast(0 as bigint)))"""

  /** Same fused kernel as VectorIndex/VectorOps — the rerank must match
    * the flat oracle bit-for-bit. */
  private def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.CosineSimilarity(
      org.apache.spark.sql.graft.ColumnBridge.expression(a),
      org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** (Re)materialize the sidecar from the index's CURRENT live rows:
    * per-dim integer sums + count (the thresholds), one packed word per
    * vector, written together as the next version and flipped by one
    * commit marker. Serialized on the index's WriterLock. */
  def refresh(spark: SparkSession, dir: String): Unit =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    val verDir = VectorIndex.live(spark, dir)
    val vecs = VectorIndex.liveVectors(spark, verDir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("icode", expr(icodeExpr))
    val stats = vecs.select(posexplode(col("icode")).as(Seq("dim", "c")))
      .groupBy("dim").agg(sum("c").as("t"), count(lit(1)).as("n"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, t))), p -> p.t)").as("T"),
        max("n").as("N"))
    val words = vecs.crossJoin(broadcast(stats))
      .withColumn("word", expr(packExpr))
      .select("vec_id", "word")
    // both tables become visible together at the version's commit marker
    versioned(spark, dir).writeNext(KeepVersions) { p =>
      stats.repartition(1).write.parquet(s"$p/stats")
      words.repartition(4).write.parquet(s"$p/words")
    }
    // pre-versioned flat layout (r12): superseded, reclaim
    val fs = graft.store.GenLedger.fsOf(spark, dir)
    Seq("stats", "words").foreach(t =>
      fs.delete(new org.apache.hadoop.fs.Path(bqRoot(dir), t), true))
  }

  /** Guarded repair of interrupted-refresh debris (dangling markers,
    * uncommitted version dirs) — [[graft.store.VersionedDir.repair]]
    * under the index WriterLock; `dryRun = true` (the default posture)
    * lists without touching. */
  def repair(spark: SparkSession, dir: String,
      dryRun: Boolean = true): Seq[(String, String, String, Boolean)] =
    graft.store.WriterLock.forIndex(spark, dir).withLock {
      versioned(spark, dir).repair(dryRun)
    }

  /** Top-`k` cosine neighbors per query (`qid`, `qe`) served from the
    * sidecar: Hamming top-`depth` candidates from the stored words
    * (filtered to CURRENT live membership), exact-cosine rerank reading
    * only the survivors' full vectors. Ties break by id, the family
    * rule. Stats and words read from ONE committed version — never a
    * torn pairing. */
  def serve(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 3, depth: Int = 20): DataFrame = {
    val vd = versioned(spark, dir)
    val bqVer = vd.current.map(vd.pathOf)
      .getOrElse(sys.error(s"no committed sidecar at $dir — run refresh() first"))
    val verDir = VectorIndex.live(spark, dir)
    val words = spark.read.parquet(s"$bqVer/words")
      .join(VectorIndex.liveIds(spark, dir), Seq("vec_id"), "left_semi")
    val stats = spark.read.parquet(s"$bqVer/stats")
    val q = queries.select(col("qid"), col("qe"))
      .withColumn("embedding", col("qe")).withColumn("icode", expr(icodeExpr))
      .crossJoin(broadcast(stats))
      .withColumn("qw", expr(packExpr))
      .select("qid", "qe", "qw")
    val cand = words.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), col("qe"),
        expr("cast(bit_count(word ^ qw) as int)").as("hamming"))
    val w1 = Window.partitionBy("qid").orderBy(col("hamming").asc, col("nid"))
    val top = cand.withColumn("r", row_number().over(w1)).where(col("r") <= depth)
    // rerank: only survivors load the full-precision vector
    val full = VectorIndex.liveVectors(spark, verDir)
      .select(col("vec_id").as("nid"), col("embedding").as("ne"))
    val rr = top.join(full, Seq("nid"))
      .withColumn("cos_sim", cosine(col("qe"), col("ne")))
    val w2 = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    rr.withColumn("rnk", row_number().over(w2).cast("int"))
      .where(col("rnk") <= k)
      .select("qid", "nid", "rnk", "hamming", "cos_sim")
  }
}
