package graft.llm

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.KMeans

/** Persistent IVF similarity index — the ANN service lifecycle next to
  * [[DedupIndex]]: build (k-means centroids + cell assignments), append
  * new vectors by assigning them to the EXISTING centroids (no retrain
  * per batch — the standard IVF posture; retrain is a scheduled
  * REBUILD), search by probing the nprobe nearest cells.
  *
  * Storage is a [[graft.store.VersionedDir]] (layout and crash contract
  * documented there): each build writes a complete `vNNNNNNNN/{centroids,
  * vectors}` version, so a rebuild is atomic — centroids and
  * assignments flip TOGETHER or not at all (a two-table overwrite-in-
  * place would have a window of new centroids over old assignments —
  * silently wrong probes, no error). `add` appends into the LIVE
  * version's vectors dir after an anti-join against its vec_id ledger,
  * so re-delivered batches are no-ops instead of duplicate rows eating
  * top-k slots. The previous version is retained for in-flight readers
  * and reaped on the next build.
  *
  * Search shape: queries × plan-baked centroid literal (map-side cell
  * ranking, squared L2 — the SAME metric that assigned the vectors) →
  * equi-join on `cell` against the vectors table → per-query top-k
  * window. The corpus never cross-joins the queries; the only shuffle
  * is keyed on the probed cells. At scale `vectors` is what you
  * partition BY `cell` so a probe reads only its inverted lists.
  *
  * Takedown ([[remove]]): the [[DedupIndex]] generation discipline,
  * scoped to the LIVE VERSION — vector rows carry the generation that
  * admitted them ([[graft.store.GenLedger]] marker counter; pre-`gen`
  * files read as generation 0 via the same schema-merge upgrade), and a
  * removal appends marker-committed `(gen, vec_id)` tombstones under
  * the version dir. A row is live iff newer than every committed
  * tombstone for its id, so remove→re-add behaves exactly like
  * never-removed, a torn tombstone append is invisible, and readers
  * pay one removal-sized broadcast anti-filter. Physical reclamation is
  * the next [[build]] — the rebuild that rewrites the version anyway is
  * the IVF world's compaction; tombstones never carry across versions
  * (the caller rebuilds from the embeddings it still owns).
  */
object VectorIndex {

  private val KeepVersions = 2

  private def versioned(spark: SparkSession, dir: String) =
    new graft.store.VersionedDir(spark, dir)

  private[llm] def live(spark: SparkSession, dir: String): String = {
    val vd = versioned(spark, dir)
    vd.current.map(vd.pathOf)
      .getOrElse(sys.error(s"no committed index at $dir — run build() first"))
  }

  /** Fused cosine via the native expression (same kernel as v1/v5). */
  private def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.CosineSimilarity(
      org.apache.spark.sql.graft.ColumnBridge.expression(a),
      org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** Train k-means on `embeddings` (vec_id, embedding) and commit a new
    * index version (atomic flip; see class doc). Returns the centroid
    * count. */
  def build(spark: SparkSession, dir: String, embeddings: DataFrame, k: Int): Int =
    buildWith(spark, dir, embeddings, KMeans.fit(embeddings, k)._1)

  /** Commit a new version around caller-supplied centroids — the rebuild
    * entry point when the codebook comes from elsewhere (a previous
    * version's centroids reused for a reclamation-only rebuild, or a
    * pinned fixture where the caller needs the assignment to be an
    * externally-reproducible function of the inputs). Same atomic
    * flip + retention reap as [[build]]. */
  def buildWith(spark: SparkSession, dir: String, embeddings: DataFrame,
      centroids: Array[Array[Double]]): Int =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    // assignment is map-side (the centroid literal is plan-baked) — the
    // same shape add() uses; no shuffle, no join back to the fit output
    commitVersion(spark, dir, centroids, embeddings
      .select(col("vec_id"), col("embedding"),
        KMeans.assignCell(centroids, col("embedding")).as("cell"),
        lit(0L).as("gen"))) // build rows are the version's generation floor
    centroids.length
  } // WriterLock released here

  /** Physical reclamation WITHOUT retraining: commit a new version
    * holding only the live rows of the current one, under the SAME
    * codebook (cells are a pure function of centroid × vector, so no
    * reassignment happens — the rewrite is a copy that drops dead
    * rows). Tombstones and their markers never carry across versions;
    * search results are bit-identical before and after. This is the
    * scheduled maintenance between true rebuilds — a [[build]] retrains
    * AND reclaims, compact only reclaims, at copy cost. */
  def compact(spark: SparkSession, dir: String): Unit =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    val verDir = live(spark, dir)
    commitVersion(spark, dir, loadCentroids(spark, dir),
      liveVectors(spark, verDir)
        .select(col("vec_id"), col("embedding"), col("cell"), lit(0L).as("gen")))
  } // WriterLock released here

  /** Write (centroids, rows) as the next version and flip the commit
    * marker (see class doc for the atomicity argument). `rows` carries
    * (vec_id, embedding, cell, gen); the vectors table is PARTITIONED BY
    * `cell` — each inverted list is its own partition directory, so at
    * scale a search's probe join prunes to the probed lists' files
    * (dynamic partition pruning off the broadcast probe side) instead of
    * scanning the corpus. */
  private def commitVersion(spark: SparkSession, dir: String,
      centroids: Array[Array[Double]], rows: DataFrame): Unit = {
    import spark.implicits._
    versioned(spark, dir).writeNext(KeepVersions) { p =>
      centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
        .toDF("cent_id", "centroid")
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$p/centroids")
      rows
        .write.partitionBy("cell")
        .mode(SaveMode.Overwrite).parquet(s"$p/vectors")
    }
  }

  private def loadCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    spark.read.parquet(s"${live(spark, dir)}/centroids")
      .orderBy("cent_id").collect()
      .map(_.getSeq[Double](1).toArray)

  /** The version's vector rows with the legacy-schema upgrade: files
    * written before rows carried `gen` read as generation 0 (strictly
    * below anything the marker counter hands out). */
  private def readVectors(spark: SparkSession, verDir: String): DataFrame = {
    val v = spark.read.option("mergeSchema", "true").parquet(s"$verDir/vectors")
    if (!v.columns.contains("gen")) v.withColumn("gen", lit(0L))
    else v.withColumn("gen", coalesce(col("gen"), lit(0L)))
  }

  /** Live rows of the version: newer than every committed tombstone for
    * their vec_id. The tombstone side is removal-sized → broadcast. */
  private[llm] def liveVectors(spark: SparkSession, verDir: String): DataFrame =
    graft.store.GenLedger.liveRows(readVectors(spark, verDir), "vec_id",
      graft.store.GenLedger.committedTombMax(spark, s"$verDir/tombs",
        graft.store.GenLedger.committedTombGens(spark, verDir), "vec_id"))

  /** Append new vectors to the LIVE version, assigned to its centroids
    * map-side. Vec_ids with a LIVE row are dropped (anti-join against
    * the version's live ledger), so re-delivered batches are no-ops —
    * duplicate rows would otherwise tie at identical cos_sim and eat
    * top-k slots — while a removed id's re-add is a fresh membership at
    * a generation above its tombstone. */
  def add(spark: SparkSession, dir: String, newVectors: DataFrame): Unit =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    // resolve the live version INSIDE the lock: a concurrent build()'s
    // commit+reap can otherwise retire the version between resolution
    // and the append
    val cs = loadCentroids(spark, dir)
    val verDir = live(spark, dir)
    val gen = graft.store.GenLedger.nextGen(spark, verDir)
    val assigned = newVectors
      .join(liveVectors(spark, verDir).select(col("vec_id")),
        Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("embedding"),
        KMeans.assignCell(cs, col("embedding")).as("cell"),
        lit(gen).as("gen"))
    // match the live layout: cell-partitioned going forward; a legacy
    // flat dir keeps appending flat (mixing root files with cell=
    // subdirs would break partition discovery) until a build/compact
    // rewrites it partitioned
    val w = assigned.write.mode(SaveMode.Append)
    (if (isCellPartitioned(spark, verDir)) w.partitionBy("cell") else w)
      .parquet(s"$verDir/vectors")
  } // WriterLock released here

  /** Whether the version's vectors dir uses cell= partition layout (all
    * versions written since commitVersion) vs a legacy flat dir. An
    * empty/missing dir counts as partitioned: the first append sets the
    * modern layout. */
  private def isCellPartitioned(spark: SparkSession, verDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$verDir/vectors")
    val fs = graft.store.GenLedger.fsOf(spark, verDir)
    !fs.exists(p) || !fs.listStatus(p).exists(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  /** Takedown: tombstone `ids` (vec_id) out of the live version — the
    * removed vectors stop appearing as search neighbors the moment the
    * `_tcommit_` marker lands, with no rewrite of the inverted lists.
    * Idempotent (already-dead ids are skipped); a torn append without
    * its marker is invisible; physical reclamation is the next
    * [[build]] (see class doc). */
  def remove(spark: SparkSession, dir: String, ids: DataFrame): Unit =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    val verDir = live(spark, dir)
    val victims = liveVectors(spark, verDir).select("vec_id")
      .join(ids.select("vec_id").distinct(), Seq("vec_id"), "left_semi")
      .localCheckpoint(true)
    if (!victims.isEmpty) {
      graft.store.GenLedger.tombstone(spark, verDir, victims,
        graft.store.GenLedger.nextGen(spark, verDir))
    }
  } // WriterLock released here

  /** Read-only fsck for the stored IVF index — [[graft.llm.TextIndex
    * .doctor]]'s counterpart. Never mutates state. Columns:
    *  - `live_vectors` — live rows in the current version;
    *  - `dup_live_ids` — vec_ids with >1 live row (the add() anti-join
    *    invariant broken: duplicates tie at identical cos_sim and eat
    *    top-k slots);
    *  - `misassigned_cells` — live rows whose stored cell is NOT the
    *    squared-L2-nearest centroid of the live codebook: REAL
    *    corruption — probes ranked under the assignment metric will
    *    never open the right list, so the vector silently vanishes
    *    from every search; repaired by a [[build]] (retrain reassigns;
    *    [[compact]] copies cells verbatim and would carry it);
    *  - `uncommitted_tombstone_rows` — tombstone rows whose generation
    *    has no `_tcommit_` marker (torn remove): invisible to reads,
    *    healed by re-issuing;
    *  - `uncommitted_versions` — `vNNNNNNNN` dirs with no `_commit_`
    *    marker (a build that died pre-flip): inert scratch, safe to
    *    delete. */
  def doctor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = versioned(spark, dir).structure
    val uncommitted = s.uncommitted.size
    val report = s.live match {
      case None => (0L, 0L, 0L, 0L, uncommitted)
      // a dangling HIGHEST marker — the read-breaking class: the
      // live-state audit cannot run (the dir the resolution points at is
      // gone) — report the structural counts; repair() deletes the
      // marker, after which reads and the full audit resolve to the
      // previous committed version
      case Some(v) if s.dangling.contains(v) =>
        (0L, 0L, 0L, 0L, uncommitted)
      case Some(v) =>
        val verDir = s"$dir/$v"
        val lv = liveVectors(spark, verDir)
        val liveN = lv.count()
        val dups = lv.groupBy("vec_id").agg(count(lit(1)).as("n"))
          .where(col("n") > 1).count()
        val cs = loadCentroids(spark, dir)
        val mis = lv.where(col("cell") =!=
          KMeans.assignCell(cs, col("embedding"))).count()
        val torn = graft.store.GenLedger.tornRows(spark, s"$verDir/tombs",
          graft.store.GenLedger.committedTombGens(spark, verDir))
        (liveN, dups, mis, torn, uncommitted)
    }
    Seq((report._1, report._2, report._3, report._4, report._5,
      s.dangling.size))
      .toDF("live_vectors", "dup_live_ids", "misassigned_cells",
        "uncommitted_tombstone_rows", "uncommitted_versions",
        "dangling_markers")
  }

  /** Guarded repair for the versioned layout's two structural damage
    * classes ([[doctor]]'s `dangling_markers` — the read-breaking one —
    * and `uncommitted_versions`). Rules in
    * [[graft.store.VersionedDir.repair]]; `dryRun = true` lists only.
    * Misassigned cells / torn tombstones stay with `build()` retrain —
    * they are data repairs, not structure. */
  def repair(spark: SparkSession, dir: String,
      dryRun: Boolean = true): DataFrame =
    graft.store.WriterLock.forIndex(spark, dir).withLock {
      import spark.implicits._
      versioned(spark, dir).repair(dryRun)
        .toDF("item", "damage", "action", "applied")
    }

  /** Live vec_ids of the current version — the membership view a
    * serve-sync loop diffs against the upstream keeper set (p1b).
    * Empty frame when no version has been committed yet. */
  def liveIds(spark: SparkSession, dir: String): DataFrame =
    versioned(spark, dir).current match {
      case None => spark.range(0).select(col("id").as("vec_id"))
      case Some(v) => liveVectors(spark, s"$dir/$v").select("vec_id")
    }

  /** Per-cell inverted-list sizes — the index-health report (heavily
    * skewed lists mean the centroids have drifted from the data and a
    * scheduled rebuild is due). Live rows only. */
  def cellStats(spark: SparkSession, dir: String): DataFrame =
    liveVectors(spark, live(spark, dir))
      .groupBy("cell").agg(count(lit(1)).as("n_vectors"))
      .orderBy("cell")

  /** Top-`k` cosine neighbors per query vector, probing the `nprobe`
    * nearest cells. `queries` carries (qid, qe array<float>). Returns
    * (qid, nid, rnk, cos_sim), deterministic ties by id.
    *
    * `eligible` (first column = vec_id) restricts the CANDIDATE corpus
    * to an allow-list — the filtered-search form every production
    * vector store serves. The restriction is a left-semi join applied
    * to the inverted-list scan BEFORE any scoring (pre-filtering:
    * post-filtering a finished top-k silently under-fills whenever
    * fewer than k of the unfiltered winners are eligible), so it
    * composes with the cell partition pruning — per-query work is
    * still Σ probed-list sizes, shrunk by the predicate. */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nprobe: Int, eligible: Option[DataFrame] = None): DataFrame = {
    val cs = loadCentroids(spark, dir)
    require(nprobe >= 1 && nprobe <= cs.length, s"nprobe must be in [1, ${cs.length}]")
    // rank cells per query on the driver-sized centroid list: explode a
    // literal (cent_id, centroid) array against the (small) query set —
    // map-side, no corpus involvement. Ranked by SQUARED L2, the same
    // metric KMeans.assignCell used to place the vectors — probing under
    // a different metric (e.g. cosine) would rank loose small-norm
    // centroids differently than assignment did and silently skip the
    // cell holding a query's true neighbor.
    val centLit = array(cs.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cell"), array(c.map(lit(_)): _*).as("ce"))
    }: _*)
    val probes = queries
      .select(col("qid"), col("qe"), explode(centLit).as("c"))
      .select(col("qid"), col("qe"), col("c.cell").as("cell"),
        expr("""aggregate(zip_with(c.ce, qe,
          (x, y) -> (x - cast(y as double)) * (x - cast(y as double))),
          0d, (a, v) -> a + v)""").as("dist"))
      .withColumn("crn", row_number().over(
        Window.partitionBy("qid").orderBy(col("dist"), col("cell"))))
      .where(col("crn") <= nprobe)
      .select("qid", "qe", "cell")
    val corpus0 = liveVectors(spark, live(spark, dir))
    val corpus = eligible.fold(corpus0)(el =>
      corpus0.join(el.select(col(el.columns.head).as("vec_id")),
        Seq("vec_id"), "left_semi"))
    val cand = probes
      .join(corpus, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qe"), col("embedding")).as("cos_sim"))
    cand
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))).cast("int"))
      .where(col("rnk") <= k)
      .select("qid", "nid", "rnk", "cos_sim")
      .orderBy("qid", "rnk")
  }
}
