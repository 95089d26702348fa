package graft.llm

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.VectorOps

/** Persistent, incrementally-maintained kNN graph — v9's neighbor graph
  * as a STORED index artifact instead of a per-query computation. The
  * curation consumers (SemDeDup cell seeding, d16's rank flow) read the
  * graph many times per corpus version; recomputing the full
  * bucket-join each time repays the whole corpus's pair work for every
  * read, where an index pays it once and then batch-sized increments.
  *
  * Same semantic contract as v9 (`VectorOps`): candidates are
  * bucket-mates under the shared 6-bit sign-LSH signature
  * ([[VectorOps.sigCol]] — ONE definition, so the index can never
  * drift from the gate), ranked by fused-kernel cosine, top-`k` per
  * vector, ties broken by neighbor id.
  *
  * On-disk layout under `dir` (append-only parquet + LSM-style
  * merge-on-read, the [[DedupIndex]] posture rather than
  * [[VectorIndex]]'s full-version flips — a graph add REWRITES some
  * existing vectors' rows, which version flips would turn into a
  * base-sized copy per batch):
  *  - `vectors/` — (gen, vec_id, embedding, sig): the membership ledger
  *    (written LAST — the batch's commit point) and the candidate side
  *    of future adds.
  *  - `graph/`   — (gen, vec_id, nid, rnk, cos_sim): neighbor-list
  *    DELTAS. A batch appends rows at its generation for (a) every new
  *    vector and (b) every existing vector whose top-k the batch
  *    changed. Readers resolve latest-gen-per-vector ([[neighbors]]);
  *    [[compact]] folds the deltas flat.
  *
  * Exactness of the incremental merge (KnnGraphIndexSpec): a vector's
  * true top-k over all bucket-mates equals top-k of (its STORED top-k ∪
  * its edges to the NEW batch's bucket-mates) — the stored list is
  * exactly the best of the old mates, and the two edge sets are
  * disjoint (new ids were not indexed). So add-in-any-batching ==
  * one-shot build, bit-for-bit including tie order.
  *
  * Re-delivery safety: already-indexed vec_ids are anti-joined away up
  * front; a crash between the graph append and the ledger append
  * reprocesses the batch on retry at a FRESH generation (nextGen burns
  * the crashed attempt's number), and resolve is
  * latest-COMMITTED-generation-per-vector — so the replayed delta
  * supersedes the crashed one wholesale; nothing ever depends on
  * collapsing duplicate rows (see [[neighbors]] / [[committedGens]]).
  *
  * Scale shape of [[add]]: the batch's sig frame joins the ledger on
  * `sig` — shuffle keyed on the bucket, ledger pruned to touched
  * buckets; affected existing vectors rejoin only their STORED k rows
  * plus batch edges. Per-batch work is `batch × bucket-occupancy +
  * affected × k`, never corpus-sized; SCALING.md records the measured
  * 1×→10× pair.
  */
object KnnGraphIndex {

  /** Frontier-size ceiling for [[beamSearch]]'s IN-list pushdown; above
    * it the hop switches to a broadcast semi-join (see the hop-loop
    * comment). ~10k literals is where the Or-chain's eval cost and the
    * collect round-trip stop paying for the scan-side pruning. */
  private[llm] val FrontierIsinMax = 10000

  private def vecPath(dir: String) = s"$dir/vectors"
  private def graphPath(dir: String) = s"$dir/graph"
  private def tombsPath(dir: String) = s"$dir/tombs"

  private def exists(spark: SparkSession, p: String): Boolean =
    graft.store.GenLedger.hasData(spark, p)

  private val GcommitPrefix = "_gcommit_"
  private val Tables = Seq("vectors", "graph")

  /** Generations whose graph append COMPLETED (their `_gcommit_<n>`
    * marker exists). Readers resolve only these, so a torn append —
    * some of a batch's graph files visible, the rest lost with the
    * writer — can never surface a PARTIAL neighbor list: the
    * generation without its marker is invisible, and the replayed
    * batch supersedes it wholesale at a fresh generation (resolve is
    * latest-COMMITTED-gen-per-vector). The EventStore version-marker
    * scheme, applied per delta. */
  private def committedGens(spark: SparkSession, dir: String): Seq[Long] =
    graft.store.GenLedger.committedMarkers(spark, dir, GcommitPrefix)

  /** Per-id max COMMITTED tombstone generation — None when the index has
    * no committed tombstones at all (the overwhelmingly common state, so
    * every liveness filter below vanishes from the plan). */
  private def tombMax(spark: SparkSession, dir: String): Option[DataFrame] =
    graft.store.GenLedger.committedTombMax(spark, tombsPath(dir),
      graft.store.GenLedger.committedTombGens(spark, dir), "vec_id")

  /** Live membership rows of `vectors/`: a row is live iff no committed
    * tombstone at a LATER generation covers its vec_id — so a removed id
    * is dead, and a removed-then-re-added id is live through exactly its
    * re-add row (the older incarnation stays dead). Tombstones are
    * superseded by later generations, never cleared in place. */
  private def liveLedger(spark: SparkSession, dir: String): Option[DataFrame] =
    if (!exists(spark, vecPath(dir))) None
    else Some(graft.store.GenLedger.liveRows(
      spark.read.parquet(vecPath(dir)), "vec_id", tombMax(spark, dir)))

  /** Ids currently dead: tomb'd with no later re-add. Removal-sized. */
  private def deadIds(spark: SparkSession, dir: String): Option[DataFrame] =
    tombMax(spark, dir).map { t =>
      if (!exists(spark, vecPath(dir))) t.select("vec_id")
      else {
        val vg = spark.read.parquet(vecPath(dir))
          .join(broadcast(t.select("vec_id")), Seq("vec_id"), "left_semi")
          .groupBy("vec_id").agg(max("gen").as("vgen"))
        t.join(vg, Seq("vec_id"), "left")
          .where(col("vgen").isNull || col("tgen") > col("vgen"))
          .select("vec_id")
      }
    }

  /** Reserve the next generation number ([[graft.store.GenLedger]]'s
    * marker-file counter — O(1) in index size; single writer by
    * WriterLock). Indexes written before the marker scheme bootstrap
    * from a one-time `max(gen)` scan, schema-guarded. */
  private def nextGen(spark: SparkSession, dir: String): Long =
    graft.store.GenLedger.nextGen(spark, dir,
      graft.store.GenLedger.maxGenIn(spark, vecPath(dir)))

  private def guardCompaction(spark: SparkSession, dir: String): Unit =
    graft.store.GenLedger.guardCompaction(spark, dir, Tables)

  /** Add `newVectors` (vec_id, embedding) to the graph, maintaining
    * every affected top-`k` list exactly. Seeding is just an add on an
    * empty dir. `k` must be the same across the index's life (it is the
    * graph's semantic, not a query knob). */
  def add(spark: SparkSession, dir: String, newVectors: DataFrame,
      k: Int): Unit = graft.store.WriterLock.forIndex(spark, dir).withLock {
    guardCompaction(spark, dir)
    // LIVE rows only: a removed id must neither block its own re-add
    // (the anti-join below) nor serve as a candidate mate
    val ledger: Option[DataFrame] = liveLedger(spark, dir)
    // Generation counter as a marker file (`_gen_<n>`, the EventStore
    // sequence pattern): O(1) in index size where `max(gen)` over the
    // ledger would be a corpus-sized column scan per batch — the exact
    // base-proportional cost the add path exists to avoid. Advanced
    // BEFORE the data writes: a crash in between burns a generation
    // number (harmless — resolve takes the max that has rows), never
    // reuses one under different contents.
    val gen = nextGen(spark, dir)

    val fresh0 = ledger match {
      case None => newVectors.select("vec_id", "embedding")
      case Some(l) => newVectors.select("vec_id", "embedding")
        .join(l.select(col("vec_id")), Seq("vec_id"), "left_anti")
    }
    // Within-batch id dedup BEFORE anything else: the ledger anti-join
    // only covers ids indexed by EARLIER batches, so a duplicate id
    // inside one batch (at-least-once upstream, two landing files in a
    // micro-batch) would otherwise seat the same neighbor at two ranks
    // and then be sealed forever by the ledger. Deterministic keeper:
    // lowest embedding in array order, so retries pick the same row.
    val wDup = Window.partitionBy("vec_id").orderBy("embedding")
    val fresh1 = fresh0
      .withColumn("__rn", row_number().over(wDup))
      .where(col("__rn") === 1).drop("__rn")
    // checkpoint: the sig frame feeds three joins below — recomputing
    // the scan per consumer would triple the batch read
    val fresh = fresh1.withColumn("sig", VectorOps.sigCol)
      .localCheckpoint(true)

    // (1) new × (indexed ∪ new) bucket-mate edges — each new vector's
    // COMPLETE candidate set, so its appended top-k is final
    val freshMates = fresh.select(col("sig"), col("vec_id").as("nid"),
      col("embedding").as("ne"))
    val mates = ledger match {
      case None => freshMates
      case Some(l) => l.select(col("sig"), col("vec_id").as("nid"),
        col("embedding").as("ne")).unionByName(freshMates)
    }
    val newEdges = fresh.join(mates, Seq("sig"))
      .where(col("vec_id") =!= col("nid"))
      .select(col("vec_id"), col("nid"),
        VectorOps.cosine(col("embedding"), col("ne")).as("cos_sim"))
    val wK = Window.partitionBy("vec_id")
      .orderBy(col("cos_sim").desc, col("nid"))
    val newRows = newEdges
      .withColumn("rnk", row_number().over(wK).cast("int"))
      .where(col("rnk") <= k)

    // (2) existing vectors gaining batch bucket-mates: merge their
    // STORED top-k with their edges to the batch, re-rank. Exact —
    // stored rows are the best of all OLD mates (see class doc).
    val affectedRows = ledger match {
      case None => newRows.limit(0)
      case Some(l) =>
        val backEdges = l.join(
            fresh.select(col("sig"), col("vec_id").as("nid"),
              col("embedding").as("ne")), Seq("sig"))
          .select(col("vec_id"), col("nid"),
            VectorOps.cosine(col("embedding"), col("ne")).as("cos_sim"))
        // Drop any stored edge that points INTO this batch before the
        // union: on the happy path there are none (batch ids were never
        // indexed), but a replay after a crash between the graph commit
        // and the ledger append resolves lists that ALREADY merged the
        // batch's edges — without the anti-join those edges would enter
        // the union twice and row_number would seat duplicate
        // neighbors. With it the merge is idempotent AND exact: the
        // stored list minus batch edges is precisely the old-mate
        // members of the true top-k, and backEdges restores every
        // batch edge exactly once.
        val stored = resolveFor(spark, dir,
            backEdges.select("vec_id").distinct())
          .join(fresh.select(col("vec_id").as("nid")), Seq("nid"), "left_anti")
          .select("vec_id", "nid", "cos_sim")
        stored.unionByName(backEdges)
          .withColumn("rnk", row_number().over(wK).cast("int"))
          .where(col("rnk") <= k)
    }

    // Write order IS the crash contract: graph files, then the
    // generation's commit marker (readers may now see the delta), then
    // the ledger (the anti-join's commit point — only now is the batch
    // "ingested"). A crash before the marker leaves invisible orphan
    // files (reaped at compaction); between marker and ledger, the
    // replay supersedes the committed delta at a fresh generation with
    // the idempotent merge above.
    newRows.unionByName(affectedRows)
      .select(lit(gen).as("gen"), col("vec_id"), col("nid"),
        col("rnk"), col("cos_sim"))
      .write.mode(SaveMode.Append).parquet(graphPath(dir))
    graft.store.GenLedger.commit(spark, dir, GcommitPrefix, gen)
    fresh.select(lit(gen).as("gen"), col("vec_id"), col("embedding"), col("sig"))
      .write.mode(SaveMode.Append).parquet(vecPath(dir))
  } // WriterLock released here

  /** Remove `ids` (vec_id) from the index — the takedown/recall path a
    * production corpus must honor without a full rebuild. Victims stop
    * appearing as nodes OR neighbors, and every surviving vector whose
    * stored top-k referenced a victim is re-ranked EXACTLY over its
    * remaining live bucket-mates: a dropped edge can promote a mate the
    * stored k rows never kept, so the fixup re-scans the affected
    * vectors' buckets — `affected × bucket-occupancy` work,
    * removal-sized, never corpus-sized. A later [[add]] of the same id
    * is a fresh membership at a higher generation (tombstones are
    * superseded, not cleared), and add→remove→add-again lands
    * bit-for-bit on the never-removed build (KnnGraphTombstoneSpec; the
    * v9c gate proves it against the one-shot oracle).
    *
    * `k` is the index's top-k (same contract as [[add]]: an index-life
    * constant, not a per-call knob).
    *
    * Crash contract (the [[add]] write-order discipline, run for a
    * removal): re-ranked graph rows + their `_gcommit_` first, then the
    * tombstone append + its `_tcommit_` — the removal's commit point.
    * A crash in between leaves victims live with some neighbor lists
    * already re-ranked past them; the replay re-derives the same
    * affected superset (victim references still on disk) and recomputes
    * the identical fixup before committing the tombstones. A torn
    * tombstone append (files without `_tcommit_`) is invisible to every
    * reader. */
  def remove(spark: SparkSession, dir: String, ids: DataFrame,
      k: Int): Unit = graft.store.WriterLock.forIndex(spark, dir).withLock {
    guardCompaction(spark, dir)
    liveLedger(spark, dir).foreach { live =>
      val victims = live
        .join(ids.select("vec_id").distinct(), Seq("vec_id"), "left_semi")
        .select("vec_id").localCheckpoint(true)
      if (!victims.isEmpty) {
        val gen = nextGen(spark, dir)
        // Affected SUPERSET: every committed graph row referencing a
        // victim, filtered BEFORE the latest-gen resolve so the nid
        // predicate prunes the parquet scan (the window is a barrier —
        // placing the filter above it would drag the whole graph
        // through). A vector whose CURRENT list no longer holds the
        // victim (an older generation did) can slip in; harmless — its
        // re-rank recomputes the identical list.
        val committed = committedGens(spark, dir)
        val touched = spark.read.parquet(graphPath(dir))
          .where(col("gen").isin(committed: _*))
          .join(broadcast(victims.select(col("vec_id").as("nid"))),
            Seq("nid"), "left_semi")
          .select("vec_id").distinct()
          .join(broadcast(victims), Seq("vec_id"), "left_anti")
        val survivors = live.join(broadcast(victims), Seq("vec_id"), "left_anti")
        val affected = touched.join(survivors, Seq("vec_id"))
          .select("vec_id", "embedding", "sig")
        val mates = survivors.select(col("sig"), col("vec_id").as("nid"),
          col("embedding").as("ne"))
        val wK = Window.partitionBy("vec_id")
          .orderBy(col("cos_sim").desc, col("nid"))
        val rebuilt = affected.join(mates, Seq("sig"))
          .where(col("vec_id") =!= col("nid"))
          .select(col("vec_id"), col("nid"),
            VectorOps.cosine(col("embedding"), col("ne")).as("cos_sim"))
          .withColumn("rnk", row_number().over(wK).cast("int"))
          .where(col("rnk") <= k)
        rebuilt
          .select(lit(gen).as("gen"), col("vec_id"), col("nid"),
            col("rnk"), col("cos_sim"))
          .write.mode(SaveMode.Append).parquet(graphPath(dir))
        graft.store.GenLedger.commit(spark, dir, GcommitPrefix, gen)
        graft.store.GenLedger.tombstone(spark, dir, victims, gen)
      }
    }
  } // WriterLock released here

  /** Latest COMMITTED generation's rows per vector. Uncommitted
    * generations (torn appends) are filtered out by the marker set; no
    * dedup pass is needed — a vector appears at most once per committed
    * generation (newRows and affectedRows partition the id space), and
    * replays write at fresh generations that win wholesale.
    *
    * `ids` (when given) prunes the scan BELOW the max-gen window: the
    * add path resolves only the batch's affected vectors, and a join
    * placed above the window would force the whole graph through it —
    * the corpus-sized per-batch cost the index exists to avoid (a
    * window is a barrier; Spark cannot push a join beneath it). */
  private def resolveFrom(spark: SparkSession, dir: String,
      ids: Option[DataFrame]): DataFrame = {
    if (!exists(spark, graphPath(dir)))
      return spark.range(0).select(col("id").as("vec_id"),
        col("id").as("nid"), lit(0).cast("int").as("rnk"),
        lit(0.0).as("cos_sim"))
    val committed = committedGens(spark, dir)
    val wG = Window.partitionBy("vec_id")
    val base = spark.read.parquet(graphPath(dir))
      .where(col("gen").isin(committed: _*))
    val pruned = ids.fold(base)(i => base.join(i, Seq("vec_id")))
    val resolved = pruned
      .withColumn("maxg", max("gen").over(wG))
      .where(col("gen") === col("maxg"))
      .select("vec_id", "nid", "rnk", "cos_sim")
    // Dead-id filters (removal-sized broadcasts, absent entirely when no
    // tombstones exist): vec_id — a victim's own lists die at read time
    // (remove never rewrites them); nid — load-bearing for the one case
    // the eager fixup cannot supersede (an affected vector left with
    // ZERO live bucket-mates appends no fresh rows, so its stale
    // all-victim list must vanish here), and belt-and-braces for the
    // remove crash window.
    deadIds(spark, dir).fold(resolved) { dd =>
      resolved
        .join(broadcast(dd), Seq("vec_id"), "left_anti")
        .join(broadcast(dd.select(col("vec_id").as("nid"))), Seq("nid"), "left_anti")
        .select("vec_id", "nid", "rnk", "cos_sim")
    }
  }

  private def resolve(spark: SparkSession, dir: String): DataFrame =
    resolveFrom(spark, dir, None)

  private def resolveFor(spark: SparkSession, dir: String,
      ids: DataFrame): DataFrame = resolveFrom(spark, dir, Some(ids))

  /** The current graph: (vec_id, nid, rnk, cos_sim), every indexed
    * vector's exact bucket-mate top-k; empty frame for an index with no
    * committed graph yet (matching size()'s 0, not an error). */
  def neighbors(spark: SparkSession, dir: String): DataFrame =
    resolve(spark, dir)

  /** LIVE indexed vector count (observability) — removed ids don't
    * count; a removed-then-re-added id counts once (its re-add row). */
  def size(spark: SparkSession, dir: String): Long =
    liveLedger(spark, dir).map(_.count()).getOrElse(0L)

  /** Read-only fsck — the [[graft.llm.TextIndex.doctor]] counterpart
    * for the kNN-graph index. Never mutates state. Columns:
    *  - `live_vectors` — live ledger rows (== [[size]]);
    *  - `dup_live_ids` — vec_ids with >1 live ledger row (the add()
    *    anti-join invariant broken);
    *  - `dangling_edges` — CURRENT graph rows (post-resolve: committed,
    *    max-gen, dead-filtered) whose `nid` has no live ledger row at
    *    all: a real violation — [[remove]]'s reroute and the read-time
    *    dead filter should make these impossible, so a nonzero count
    *    means a forged write or a bug;
    *  - `uncommitted_graph_rows` — graph rows whose gen has no
    *    `_gcommit_` marker (an add that died between the graph append
    *    and its commit): invisible to reads, replay-healed;
    *  - `uncommitted_tombstone_rows` — same, for `_tcommit_`;
    *  - `stale_asides` — `vectors/graph` `.old` / `.compacting`. */
  def doctor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val live = liveLedger(spark, dir)
    val liveN = live.map(_.count()).getOrElse(0L)
    val dups = live.map(
      _.groupBy("vec_id").agg(count(lit(1)).as("n"))
        .where(col("n") > 1).count()).getOrElse(0L)
    val dangling = live match {
      case None => 0L
      case Some(l) =>
        resolve(spark, dir)
          .join(l.select(col("vec_id").as("nid")), Seq("nid"), "left_anti")
          .count()
    }
    val tornGraph = graft.store.GenLedger.tornRows(spark, graphPath(dir),
      committedGens(spark, dir))
    val tornTombs = graft.store.GenLedger.tornRows(spark, tombsPath(dir),
      graft.store.GenLedger.committedTombGens(spark, dir))
    val staleAsides = graft.store.GenLedger.staleAsides(spark, dir, Tables)
    Seq((liveN, dups, dangling, tornGraph, tornTombs, staleAsides))
      .toDF("live_vectors", "dup_live_ids", "dangling_edges",
        "uncommitted_graph_rows", "uncommitted_tombstone_rows",
        "stale_asides")
  }

  /** Guarded repair for [[doctor]]'s `stale_asides` (the write-blocking
    * class). Rules in [[graft.store.GenLedger.repairAsides]];
    * `dryRun = true` lists only. */
  def repair(spark: SparkSession, dir: String,
      dryRun: Boolean = true): DataFrame =
    graft.store.GenLedger.repairAsides(spark, dir, Tables, dryRun)

  /** Graph-descent ANN serve over the STORED graph — the HNSW-shaped
    * alternative to IVF probing (Malkov & Yashunin's search loop on a
    * single-layer NSW graph, batch-beam form): start every query at its
    * entry point, and for `hops` rounds expand the current beam's
    * adjacency lists, score the newly reached vectors by exact cosine,
    * and keep the best `beam` visited per query; the answer is the
    * top-`k` of everything visited (excluding the query itself).
    * Batch-synchronous expansion (whole beam per hop, fixed hop count)
    * instead of the classical one-candidate priority queue — same
    * contract, but deterministic and flat-SQL-enumerable, so the v11
    * gate can pin it against a DuckDB recompute.
    *
    * Entry points: `centroids` = Some((cent_id, ce)) routes each query
    * to its nearest centroid NODE first (argmax cosine, ties lower id,
    * restricted to centroids live in the graph) — the HNSW upper-layer
    * trick: descent depth becomes independent of graph diameter,
    * because the walk starts one coarse-quantizer step from the target
    * region instead of at a fixed corner of the graph. The centroid
    * frame is bounded (the v5 16-row codebook posture) and broadcast.
    * With None every query starts at the global minimum live id — the
    * fixed-entry fallback (needs hops ~ graph diameter at scale).
    *
    * Scale shape: per-query state is O(beam·k·hops) ids. Each hop
    * collects the frontier's ≤ queries×beam DISTINCT ids to the driver
    * (driver-bounded, the VectorIndex.loadCentroids posture) and pushes
    * them into the graph scan as an IN-list — the adjacency read prunes
    * to the frontier's rows (at 100 TB: the vec_id-bucketed lookup), so
    * per-hop work is O(frontier × degree), never graph-sized. Scoring
    * joins only the newly-visited ids' embeddings.
    */
  def beamSearch(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, beam: Int, hops: Int,
      centroids: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 0)
    val live = liveLedger(spark, dir).getOrElse(
      return spark.range(0).select(col("id").as("qid"), col("id").as("nid"),
        lit(0).cast("int").as("rnk"), lit(0d).as("cos_sim")))
    val emb = live.select(col("vec_id"), col("embedding"))
    val adj = resolve(spark, dir).select(col("vec_id"), col("nid"))
    val q = queries.select(col("qid"), col("qe"))
    // per-query entry node(s): nearest live centroid, or the global
    // min-id fallback for every query
    val entries: DataFrame = centroids match {
      case Some(c) =>
        val liveCents = c.select(col("cent_id"), col("ce"))
          .join(live.select(col("vec_id").as("cent_id")), Seq("cent_id"))
        val wQ = Window.partitionBy("qid")
          .orderBy(col("__cs").desc, col("cent_id"))
        q.join(broadcast(liveCents))
          .withColumn("__cs", graft.queries.VectorOps.cosine(col("qe"), col("ce")))
          .withColumn("__r", row_number().over(wQ))
          .where(col("__r") === 1)
          .select(col("qid"), col("cent_id").as("nid"))
      case None =>
        val entry = live.agg(min("vec_id")).head.getLong(0)
        q.select(col("qid"), lit(entry).as("nid"))
    }

    // visited/beam state: (qid, nid, cos_sim) — scored once per reached
    // pair, tiny (queries × beam·k·hops rows). Eagerly checkpointed per
    // hop: the hop's frontier collect is an action, and a lazy visited
    // lineage would re-execute every prior hop's scoring joins (and
    // re-read the graph/embedding parquet) once per subsequent action —
    // measured 3.8 → 2.0 s at sf0.1 for hops=3.
    def scoreOf(pairs: DataFrame): DataFrame = pairs
      .join(emb.withColumnRenamed("vec_id", "nid"), Seq("nid"))
      .join(q, Seq("qid"))
      .select(col("qid"), col("nid"),
        VectorOps.cosine(col("qe"), col("embedding")).as("cos_sim"))
    var visited = scoreOf(entries.select(col("qid"), col("nid")))
      .localCheckpoint(true)
    val byQ = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("nid"))
    var beamDf = visited // hop 0: the entry point alone
    for (_ <- 1 to hops) {
      // Frontier pushdown, two regimes by |frontier| (bounded by
      // queries×beam): under the threshold, collect the ids and push an
      // IN-list into the adjacency scan — a literal predicate the
      // reader prunes files/row-groups with (the vec_id-bucketed
      // lookup). Past it, a driver round-trip plus an O(frontier)
      // Or-chain expression become the bottleneck at large serve
      // batches, so ship the frontier frame as a broadcast semi-join
      // instead — same rows reached, no driver materialization, and the
      // hash probe replaces the linear predicate. limit(max+1) decides
      // the regime with the SAME single action that fetches the ids
      // when small (no separate count pass).
      val frontierDf = beamDf.select(col("nid").as("vec_id")).distinct()
      val probe = frontierDf.limit(FrontierIsinMax + 1).collect()
      val adjFrontier =
        if (probe.length <= FrontierIsinMax)
          adj.where(col("vec_id").isin(probe.map(_.getLong(0)).toSeq: _*))
        else adj.join(broadcast(frontierDf), Seq("vec_id"), "left_semi")
      val expanded = beamDf.select(col("qid"), col("nid").as("vec_id"))
        .join(adjFrontier, Seq("vec_id"))
        .select(col("qid"), col("nid"))
        .join(visited.select("qid", "nid"), Seq("qid", "nid"), "left_anti")
        .distinct()
      visited = visited.unionByName(scoreOf(expanded)).localCheckpoint(true)
      beamDf = visited.withColumn("__r", row_number().over(byQ))
        .where(col("__r") <= beam).drop("__r")
    }
    visited.where(col("nid") =!= col("qid"))
      .withColumn("rnk", row_number().over(byQ).cast("int"))
      .where(col("rnk") <= k)
      .select("qid", "nid", "rnk", "cos_sim")
      .orderBy("qid", "rnk")
  }

  /** Fold the generation deltas flat (graph → resolved rows at gen 0 of
    * a fresh file set; vectors → repacked). Same atomic directory-swap
    * discipline as [[DedupIndex.compact]]: write `.compacting`, rename
    * aside, rename in, delete — readers never see old and new rows
    * together, and a crash mid-swap leaves `.old` for guardCompaction
    * to refuse on. */
  def compact(spark: SparkSession, dir: String, numFiles: Int = 8): Unit =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    guardCompaction(spark, dir)
    // Already folded AND at target: a replayed cadence compaction (the
    // VectorStream crash-retry case) must be an O(listing) no-op, not a
    // base-sized rewrite that re-opens the swap's crash window —
    // DedupIndex.compact's nOld guard, extended with the single-
    // generation condition this index's fold adds.
    def dataFiles(p: String): Int =
      graft.store.GenLedger.dataFileCount(spark, p)
    val gens = committedGens(spark, dir)
    // committed tombstones force a real compaction pass: the fold is
    // what physically reclaims dead rows (and lets the tombs dir drop)
    val alreadyCompact = gens.size <= 1 &&
      graft.store.GenLedger.committedTombGens(spark, dir).isEmpty &&
      dataFiles(graphPath(dir)) <= numFiles &&
      dataFiles(vecPath(dir)) <= numFiles
    def swap(p: String, compacted: DataFrame): Unit =
      graft.store.GenLedger.swapIn(spark, p, compacted, numFiles)
    if (!alreadyCompact && exists(spark, graphPath(dir))) {
      // commit gen 0 BEFORE the swap: between marker and swap, gen 0
      // simply has no rows; after the swap it carries the fold. The
      // reverse order would give readers a window where the folded rows
      // exist but no marker admits them — an empty graph.
      graft.store.GenLedger.commit(spark, dir, GcommitPrefix, 0L)
      swap(graphPath(dir),
        resolve(spark, dir)
          .select(lit(0L).as("gen"), col("vec_id"), col("nid"),
            col("rnk"), col("cos_sim")))
      // retire the folded generations' markers (rows already gone);
      // uncommitted orphan generations died in the swap too
      graft.store.GenLedger.retireMarkers(spark, dir, GcommitPrefix,
        committedGens(spark, dir).filter(_ > 0L))
    }
    if (!alreadyCompact && exists(spark, vecPath(dir)))
      // live rows only (dead rows are reclaimed here), each KEEPING its
      // original generation: between this swap and the tombs cleanup
      // below, stale tombstones must stay inert — a live row's gen is
      // still above every tombstone that ever covered its id, and a
      // fully-removed id simply has no row for the tombstone to match.
      // (Folding vectors to gen 0 instead would flip live rows to
      // "dead" in exactly that crash window.)
      swap(vecPath(dir), liveLedger(spark, dir).get)
    // Tombstones are folded in — drop the rows and their markers.
    // Pure hygiene by this point (see the gen-preservation argument
    // above), so a crash anywhere in this cleanup changes nothing.
    if (!alreadyCompact) graft.store.GenLedger.retireTombs(spark, dir)
  } // WriterLock released here
}
