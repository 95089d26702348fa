package graft.llm

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.TextOps

/** Incremental near-duplicate index — the "dedup service" pattern a
  * production pipeline runs once the corpus stops fitting in one job:
  * new document batches are checked against the ACCUMULATED MinHash
  * index instead of re-deduping the whole corpus, then appended to it.
  *
  * On-disk layout under `dir` (plain parquet, append-only):
  *  - `sigs/`  — one row per indexed document: (doc_id, h sorted
  *    xxhash64 shingle hashes, n, sigs minhash array, gen batch
  *    generation); the verify side AND the membership ledger (written
  *    LAST — the batch's commit point).
  *  - `bands/` — the exploded LSH postings: (band, mh, doc_id); the
  *    candidate-join side, keyed exactly like the batch pipeline's
  *    bucket join.
  *  - `tombs/` — marker-committed removal generations (gen, doc_id);
  *    a sig row is live iff newer than every committed tombstone for
  *    its id ([[remove]]; [[compact]] reclaims dead rows).
  *
  * Upgrade note: an index dir written before sigs carried the `gen`
  * column upgrades automatically — legacy sig rows read as generation 0
  * (sigs reads merge schemas across files and coalesce missing/null
  * `gen` to 0), the generation counter bootstraps above any stamped
  * generation, and the first tombstone lands at a strictly higher
  * generation, so liveness ordering is correct with no manual step.
  * [[compact]] additionally forces a real rewrite when legacy gen-less
  * files are present, re-stamping everything at one fresh generation so
  * the per-read schema merge stops being paid.
  *
  * Re-delivery safety (foreachBatch retries, at-least-once feeds):
  * already-indexed doc ids are dropped from the batch up front by an
  * anti-join against `sigs/`, so re-running a batch whose sigs append
  * committed is a no-op. A crash BETWEEN the bands append and the sigs
  * append leaves orphan postings; the retry then reprocesses those docs
  * (they are absent from the ledger) and appends their postings again —
  * duplicate postings only ever duplicate CANDIDATES, which the
  * explicit `distinct` on candidate pairs collapses, and `sigs/` itself
  * stays exactly-once. Durable pair consumers attach via `onPairs`,
  * which fires before the ledger commit — so pair delivery is
  * at-least-once, never silently lost (once the ledger commits, a
  * replay drops the docs and cannot recompute their pairs).
  *
  * Scale shape of [[checkAndAdd]]: the NEW batch's postings join the
  * index postings on (band, mh) — shuffle keyed on the bucket, index
  * side pruned to the buckets the batch touches by the join itself;
  * nothing ever rescans the corpus text. Verification joins only the
  * candidate doc ids back to `sigs/`. At 100 TB the postings table is
  * what you'd bucket-partition by (band, mh) so the batch join is
  * co-located.
  *
  * Exactness contract (DedupIndexSpec): feeding any partition of a
  * corpus through successive checkAndAdd calls emits, across all
  * calls, EXACTLY the batch pipeline's pair set (same first-shared-band
  * candidate rule, same fused-kernel verification, same 0.05 floor) —
  * each cross-batch pair once, from the batch that completed it.
  */
object DedupIndex {

  val MinJaccard = 0.05

  private def sigsPath(dir: String) = s"$dir/sigs"
  private def bandsPath(dir: String) = s"$dir/bands"
  private def tombsPath(dir: String) = s"$dir/tombs"

  private val Tables = Seq("sigs", "bands")

  /** Reserve the next generation number ([[graft.store.GenLedger]]'s
    * marker-file counter, O(1) in index size; serialized by the index
    * WriterLock). Generations order sig rows against tombstones: a sig
    * row is live iff it is NEWER than every committed tombstone for its
    * doc_id. Indexes written before the marker scheme bootstrap from a
    * one-time `max(gen)` scan — guarded on the column existing, so a
    * pre-tombstone-era index (no gen column at all) starts at 0 instead
    * of throwing on first touch. */
  private def nextGen(spark: SparkSession, dir: String): Long =
    graft.store.GenLedger.nextGen(spark, dir,
      graft.store.GenLedger.maxGenIn(spark, sigsPath(dir)))

  /** Live `sigs/` rows WITH their generation: a row is live iff no
    * committed tombstone at a later generation covers its doc_id — a
    * removed doc is dead; a removed-then-re-added doc is live through
    * exactly its re-add row. */
  private def liveSigRows(spark: SparkSession, dir: String): Option[DataFrame] =
    if (!exists(spark, sigsPath(dir))) None
    else Some(graft.store.GenLedger.liveRows(readSigs(spark, dir), "doc_id",
      graft.store.GenLedger.committedTombMax(spark, tombsPath(dir),
        graft.store.GenLedger.committedTombGens(spark, dir), "doc_id")))

  /** `sigs/` with the legacy-schema upgrade applied: merge schemas
    * across files (a dir mixing pre-`gen`-column files with new ones
    * must not nondeterministically pick a gen-less file's schema and
    * lose every stamped generation) and read legacy rows as generation
    * 0 — strictly below the ≥1 generations the marker counter hands
    * out, so tombstones order correctly against them with no manual
    * upgrade step. */
  private def readSigs(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.read.option("mergeSchema", "true").parquet(sigsPath(dir))
    if (!s.columns.contains("gen")) s.withColumn("gen", lit(0L))
    else s.withColumn("gen", coalesce(col("gen"), lit(0L)))
  }

  /** Live membership in [[TextOps.sigFrame]] shape (doc_id, h, n, sigs)
    * — what every read path joins against. Dead postings in `bands/`
    * need no filter of their own: candidates they generate die in the
    * verify join against this frame. */
  private def liveSigs(spark: SparkSession, dir: String): Option[DataFrame] =
    liveSigRows(spark, dir).map(_.select("doc_id", "h", "n", "sigs"))

  private def exists(spark: SparkSession, p: String): Boolean =
    graft.store.GenLedger.hasData(spark, p)

  private def guardCompaction(spark: SparkSession, dir: String): Unit =
    graft.store.GenLedger.guardCompaction(spark, dir, Tables)

  /** Check `newDocs` (doc_id, text, …) against the index AND against
    * each other, append them to the index, and return the verified
    * near-dup pairs this batch completes: (doc_a, doc_b, n_common,
    * jaccard), doc_a < doc_b. Re-delivered doc ids are skipped (see the
    * class doc's re-delivery contract).
    *
    * `onPairs` runs over the materialized pairs BEFORE the ledger
    * append commits — a durable pair sink must hang here, not on the
    * returned frame: once the ledger commits, a replay drops the docs
    * and can never recompute their pairs. Delivery through `onPairs` is
    * at-least-once (a crash between the sink write and the ledger
    * commit replays the batch and re-emits). */
  def checkAndAdd(spark: SparkSession, dir: String, newDocs: DataFrame,
      onPairs: DataFrame => Unit = _ => ()): DataFrame =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    guardCompaction(spark, dir)
    // LIVE membership only: a removed doc must neither block its own
    // re-add (this anti-join) nor serve as a candidate/verify partner
    val live = liveSigs(spark, dir)
    val hasBands = exists(spark, bandsPath(dir))
    val gen = nextGen(spark, dir)

    val fresh = live match {
      case None => newDocs
      case Some(l) =>
        newDocs.join(l.select(col("doc_id")), Seq("doc_id"), "left_anti")
    }
    val newSigs = TextOps.sigFrame(fresh).localCheckpoint(true)
    // sigs ride the posexplode — no join-back to re-attach them
    val newBands = newSigs.select(col("doc_id"), col("sigs"),
      posexplode(col("sigs")).as(Seq("band", "mh")))

    // within-batch candidates (both sides new)
    val within = newBands
      .select(col("doc_id").as("doc_a"), col("sigs").as("sig_a"),
        col("band"), col("mh"))
      .join(newBands.select(col("doc_id").as("doc_b"), col("sigs").as("sig_b"),
        col("band"), col("mh")), Seq("band", "mh"))
      .where(col("doc_a") < col("doc_b"))
      .where(col("band") === TextOps.firstSharedBand)
      .select("doc_a", "doc_b")

    // cross-generation candidates (new × indexed): the inner join to
    // LIVE sigs drops postings of removed docs — and duplicate postings
    // a re-add leaves behind only ever duplicate candidates, which the
    // distinct below collapses
    val cross =
      if (!hasBands || live.isEmpty) within.limit(0)
      else {
        val idxBands = spark.read.parquet(bandsPath(dir))
          .join(live.get.select(col("doc_id"), col("sigs")),
            "doc_id")
        newBands.select(col("doc_id").as("new_id"), col("sigs").as("new_sigs"),
            col("band"), col("mh"))
          .join(idxBands.select(col("doc_id").as("old_id"), col("sigs").as("old_sigs"),
            col("band"), col("mh")), Seq("band", "mh"))
          .where(col("new_id") =!= col("old_id"))
          // normalize to doc_a < doc_b BEFORE the first-band rule so the
          // (sig_a, sig_b) orientation matches the batch pipeline's
          .select(
            least(col("new_id"), col("old_id")).as("doc_a"),
            greatest(col("new_id"), col("old_id")).as("doc_b"),
            when(col("new_id") < col("old_id"), col("new_sigs"))
              .otherwise(col("old_sigs")).as("sig_a"),
            when(col("new_id") < col("old_id"), col("old_sigs"))
              .otherwise(col("new_sigs")).as("sig_b"),
            col("band"))
          .where(col("band") === TextOps.firstSharedBand)
          .select("doc_a", "doc_b")
      }

    val allSigs = live match {
      case None => newSigs
      case Some(l) => newSigs.unionByName(l)
    }
    // distinct: the candidate set is small (post-LSH) and this is what
    // makes orphan postings from a torn append harmless — duplicated
    // postings duplicate candidates, never verified pairs
    val pairs = TextOps.verifyPairs(
        within.unionByName(cross).distinct(), allSigs, MinJaccard)
      .select("doc_a", "doc_b", "n_common", "jaccard")
      .localCheckpoint(true) // materialize before the index appends below
    onPairs(pairs) // durable sinks commit before the ledger does

    // bands first, sigs LAST: sigs is the membership ledger the anti-join
    // keys on, so a crash between the two reprocesses the batch instead
    // of silently skipping docs whose postings were never written. Sig
    // rows carry the batch generation so liveness against tombstones is
    // a per-row comparison (a replay after a crash lands at a burnt
    // fresh generation — still newer than any prior tombstone).
    newBands.select("band", "mh", "doc_id")
      .write.mode(SaveMode.Append).parquet(bandsPath(dir))
    newSigs.withColumn("gen", lit(gen))
      .write.mode(SaveMode.Append).parquet(sigsPath(dir))
    pairs
  } // WriterLock released here

  /** Remove `ids` (doc_id) from the index — takedown/recall without a
    * rebuild. Tombstones are marker-committed generations: the doc
    * stops matching (membership, candidates, verification) the moment
    * its `_tcommit_` lands, and a later [[checkAndAdd]] of the same id
    * is a fresh membership at a higher generation, so
    * add→remove→add-again behaves exactly like the never-removed index
    * (DedupTombstoneSpec; the d17 gate proves it against the batch
    * pipeline on the surviving set). Pairs ALREADY emitted for a victim
    * are the consumer's to reconcile (filter on live membership — what
    * CorpusEtl's incremental refresh does); this index never
    * retro-emits. A torn tombstone append (files without `_tcommit_`)
    * is invisible. [[compact]] physically reclaims dead rows. */
  def remove(spark: SparkSession, dir: String, ids: DataFrame): Unit =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    guardCompaction(spark, dir)
    liveSigs(spark, dir).foreach { l =>
      val victims = l.select("doc_id")
        .join(ids.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      if (!victims.isEmpty) {
        val gen = nextGen(spark, dir)
        graft.store.GenLedger.tombstone(spark, dir, victims, gen)
      }
    }
  } // WriterLock released here

  /** Transfer live index memberships to new ids WITHOUT text:
    * `mapping` (doc_id, new_id) re-registers each live `doc_id`'s
    * signatures under `new_id` and tombstones the old id. ONLY valid
    * when the caller guarantees the new id's content is byte-identical
    * to the old id's (the exact-dup keeper handover in
    * [[CorpusRefresh.remove]] — MinHash signatures and shingle sets are
    * pure functions of the text, so copying them is exact, and the
    * handed-over id behaves in every future candidate/verify join
    * precisely as if it had been indexed from its own text).
    *
    * Idempotent under replay: ids already re-registered skip the append
    * (anti-join on live membership), while the old-id tombstone is
    * re-applied to any still-live victims — so a crash anywhere
    * (orphan postings, sigs landed but tombstone torn) heals by
    * re-running with the same mapping. Postings for the new id are
    * REGENERATED from the stored `sigs` column, never re-hashed.
    *
    * Preconditions, ENFORCED (fail fast, nothing written): `new_id`
    * must be unique across the mapping (two old ids handing over to one
    * new id would append two live sig rows for it, permanently breaking
    * the one-live-row-per-id invariant every verify join depends on —
    * and it is semantically impossible under the byte-identical-content
    * contract: two keepers of one content hash cannot coexist), and the
    * old-id and new-id sets must be disjoint (an identity, swap, or
    * chain mapping would tombstone the new id at the same generation as
    * its copied row, silently losing the membership — liveness needs
    * gen strictly greater than the tombstone's). */
  def reassign(spark: SparkSession, dir: String, mapping: DataFrame): Unit =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    guardCompaction(spark, dir)
    liveSigRows(spark, dir).foreach { live =>
      val m = mapping.select(col("doc_id"), col("new_id")).distinct()
        .localCheckpoint(true)
      // takedown-sized frame: both validations are one small job each
      val dupTargets = m.groupBy("new_id").count().where(col("count") > 1)
      if (!dupTargets.isEmpty)
        sys.error("reassign: mapping.new_id is not unique — two old ids " +
          "handing over to one new id would double-register it; " +
          s"offenders: ${dupTargets.limit(5).collect().mkString(", ")}")
      val overlap = m.select("doc_id")
        .join(m.select(col("new_id").as("doc_id")), Seq("doc_id"), "left_semi")
      if (!overlap.isEmpty)
        sys.error("reassign: mapping old-id and new-id sets overlap " +
          "(identity/swap/chain mappings are not expressible — the " +
          "tombstone would kill the copied row); offenders: " +
          overlap.limit(5).collect().mkString(", "))
      // copy rows for mappings whose OLD id is live and NEW id is not
      // yet (a replay after the sigs append finds the new id live and
      // skips; the tombstone below still lands)
      val toCopy = live.select("doc_id", "h", "n", "sigs")
        .join(m, Seq("doc_id"))
        .join(live.select(col("doc_id").as("new_id")), Seq("new_id"), "left_anti")
        .select(col("new_id").as("doc_id"), col("h"), col("n"), col("sigs"))
        .localCheckpoint(true)
      val victims = live.select("doc_id")
        .join(m.select("doc_id"), Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      if (!toCopy.isEmpty || !victims.isEmpty) {
        val gen = nextGen(spark, dir)
        if (!toCopy.isEmpty) {
          // bands first, sigs LAST (the checkAndAdd write-order
          // discipline): a crash in between re-appends postings on
          // replay — duplicate postings only duplicate candidates
          toCopy.select(col("doc_id"), posexplode(col("sigs")).as(Seq("band", "mh")))
            .select("band", "mh", "doc_id")
            .write.mode(SaveMode.Append).parquet(bandsPath(dir))
          toCopy.withColumn("gen", lit(gen))
            .write.mode(SaveMode.Append).parquet(sigsPath(dir))
        }
        if (!victims.isEmpty) {
          // one generation serves both: tombstones match by doc_id, and
          // the new id's rows are a different id — while the old id's
          // rows (all at earlier generations) die
          graft.store.GenLedger.tombstone(spark, dir, victims, gen)
        }
      }
    }
  } // WriterLock released here

  /** Query `queryDocs` (doc_id, text, …) against the LIVE index WITHOUT
    * adding them — the dedup-service lookup (is this doc a near-dup of
    * the corpus?) and the read path the d17 gate drives. Same candidate
    * rule as everywhere else (share ≥1 minhash band), same fused-kernel
    * verification, pairs normalized to doc_a < doc_b and emitted once.
    * Scale shape: query postings equi-join the index postings on
    * (band, mh) — the index side pruned to touched buckets by the join;
    * candidates of REMOVED docs die in the verify join against live
    * membership, so stale postings cost a candidate row, never a wrong
    * answer. */
  def matches(spark: SparkSession, dir: String, queryDocs: DataFrame,
      minJaccard: Double = MinJaccard): DataFrame =
    liveSigs(spark, dir) match {
      case None => spark.range(0).select(
        col("id").as("doc_a"), col("id").as("doc_b"),
        lit(0).cast("int").as("n_common"), lit(0.0).as("jaccard"))
      case Some(l) =>
        val qSigs = TextOps.sigFrame(queryDocs).localCheckpoint(true)
        val qBands = qSigs.select(col("doc_id").as("qid"),
          posexplode(col("sigs")).as(Seq("band", "mh")))
        val cand = qBands
          .join(spark.read.parquet(bandsPath(dir)).select("band", "mh", "doc_id"),
            Seq("band", "mh"))
          .where(col("qid") =!= col("doc_id"))
          .select(least(col("qid"), col("doc_id")).as("doc_a"),
            greatest(col("qid"), col("doc_id")).as("doc_b"))
          .distinct()
        // verify side: live members, plus query docs not (or no longer)
        // in the membership — never two rows per id, or the verify join
        // would multiply
        val docs = l.unionByName(
          qSigs.join(l.select("doc_id"), Seq("doc_id"), "left_anti"))
        TextOps.verifyPairs(cand, docs, minJaccard)
          .select("doc_a", "doc_b", "n_common", "jaccard")
    }

  /** LIVE indexed document count (observability) — removed docs don't
    * count; a removed-then-re-added doc counts once (its re-add row). */
  def size(spark: SparkSession, dir: String): Long =
    liveSigRows(spark, dir).map(_.count()).getOrElse(0L)

  /** Read-only fsck — the [[graft.llm.TextIndex.doctor]] counterpart
    * for the dedup index. Never mutates state. Columns:
    *  - `live_docs` — live memberships (== [[size]]);
    *  - `dup_live_memberships` — doc_ids with >1 live sig row: a real
    *    violation of the checkAndAdd anti-join invariant (a duplicated
    *    membership double-counts in every pair verify);
    *  - `reclaimable_sigs` — dead sig rows (tombstoned docs, superseded
    *    incarnations): inert by the gen-liveness read rule, reclaimed
    *    by [[compact]];
    *  - `reclaimable_bands` — band postings matching no live (doc_id,
    *    band, mh): dead docs' postings plus a re-added doc's old-text
    *    postings — inert (their candidates die in the verify join),
    *    reclaimed by [[compact]];
    *  - `uncommitted_tombstone_rows` — tombstone rows whose gen has no
    *    `_tcommit_` marker (torn remove): invisible, replay-healed;
    *  - `stale_asides` — `sigs/bands` `.old` / `.compacting` leftovers
    *    (`.old` blocks writes until recovered). */
  def doctor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val live = liveSigRows(spark, dir)
    val liveN = live.map(_.count()).getOrElse(0L)
    val dups = live.map(
      _.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .where(col("n") > 1).count()).getOrElse(0L)
    val deadSigs =
      if (!exists(spark, sigsPath(dir))) 0L
      else readSigs(spark, dir).count() - liveN
    val deadBands =
      if (!exists(spark, bandsPath(dir))) 0L
      else {
        val b = spark.read.parquet(bandsPath(dir))
          .select("doc_id", "band", "mh")
        live match {
          case None => b.count()
          case Some(l) =>
            val livePostings = l.select(col("doc_id"),
                posexplode(col("sigs")).as(Seq("band", "mh")))
            b.join(livePostings, Seq("doc_id", "band", "mh"), "left_anti")
              .count()
        }
      }
    val tornTombs = graft.store.GenLedger.tornRows(spark, tombsPath(dir),
      graft.store.GenLedger.committedTombGens(spark, dir))
    val staleAsides = graft.store.GenLedger.staleAsides(spark, dir, Tables)
    Seq((liveN, dups, deadSigs, deadBands, tornTombs, staleAsides))
      .toDF("live_docs", "dup_live_memberships", "reclaimable_sigs",
        "reclaimable_bands", "uncommitted_tombstone_rows", "stale_asides")
  }

  /** Guarded repair for [[doctor]]'s `stale_asides` (the write-blocking
    * class). Rules in [[graft.store.GenLedger.repairAsides]];
    * `dryRun = true` lists only. */
  def repair(spark: SparkSession, dir: String,
      dryRun: Boolean = true): DataFrame =
    graft.store.GenLedger.repairAsides(spark, dir, Tables, dryRun)

  /** Compact the append-only index (each checkAndAdd batch appends its
    * own files; a long-lived service accumulates thousands). Unlike
    * `WeatherStore.compactPartition` — whose readers tolerate duplicate
    * rows by design — index readers do NOT, so this swap is per-TABLE
    * directory renames (atomic on HDFS/local), never a state where old
    * and compacted rows coexist: write `t.compacting`, rename `t` →
    * `t.old`, rename `t.compacting` → `t`, delete `t.old`. A crash
    * mid-swap leaves `t.old` behind; [[checkAndAdd]] refuses to run
    * until it is recovered (guardCompaction) rather than reading a
    * half-swapped index. Serialized against [[checkAndAdd]] by the
    * shared [[graft.store.WriterLock]] — a mis-scheduled overlap waits
    * (up to the index envelope) instead of corrupting the swap. */
  def compact(spark: SparkSession, dir: String,
      numFiles: Int = 8): Map[String, (Int, Int)] =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    guardCompaction(spark, dir)
    // Committed tombstones force a real pass even under the file-count
    // guard: the rewrite is what physically reclaims dead rows (and
    // lets the tombs dir drop). Live sig rows are re-stamped at one
    // FRESH generation above every tombstone — so through every crash
    // window of the cleanup below, a stale tombstone is inert: the
    // surviving row's generation already outranks it, and a
    // fully-removed id simply has no row left to match.
    val hasTombs = graft.store.GenLedger.committedTombGens(spark, dir).nonEmpty
    // legacy gen-less sig files also force a real pass: the rewrite
    // re-stamps every live row at one fresh generation, retiring the
    // per-read schema merge the upgrade path otherwise pays forever
    val hasLegacy = exists(spark, sigsPath(dir)) && {
      val raw = spark.read.option("mergeSchema", "true").parquet(sigsPath(dir))
      !raw.columns.contains("gen") || !raw.where(col("gen").isNull).isEmpty
    }
    val forceFold = hasTombs || hasLegacy
    val foldGen = if (forceFold) nextGen(spark, dir) else 0L
    def rewrite(name: String, p: String,
        content: => DataFrame): (String, (Int, Int)) = {
      if (!exists(spark, p)) name -> (0, 0)
      else {
        val nOld = graft.store.GenLedger.dataFileCount(spark, p)
        if (nOld <= numFiles && !forceFold) name -> (nOld, nOld)
        else name -> (nOld, graft.store.GenLedger.swapIn(spark, p, content, numFiles))
      }
    }
    val out = Map(
      rewrite("sigs", sigsPath(dir),
        liveSigs(spark, dir).get.withColumn("gen", lit(foldGen))),
      // dead postings reclaimed by REGENERATION: live postings are a
      // pure function of live sigs (8 posexploded rows per membership),
      // so the rewrite derives them from the live sig frame directly.
      // This also drops a re-added doc's OLD-text postings — which a
      // doc_id-keyed semi-join would carry forever (the TextIndex
      // gen-stamp lesson; here solved by construction, since the sig
      // row IS the membership) — and crash-orphaned bands whose sigs
      // append never landed.
      rewrite("bands", bandsPath(dir),
        liveSigs(spark, dir) match {
          case None => spark.read.parquet(bandsPath(dir))
            .select("band", "mh", "doc_id").limit(0)
          case Some(l) => l
            .select(col("doc_id"), posexplode(col("sigs")).as(Seq("band", "mh")))
            .select("band", "mh", "doc_id")
        }))
    if (hasTombs) graft.store.GenLedger.retireTombs(spark, dir)
    out
  } // WriterLock released here
}
