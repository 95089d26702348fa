package graft.llm

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.{Components, Redact, TextOps}
import graft.store.GenLedger

/** Incremental corpus preparation — [[CorpusEtl.prepare]] as a REFRESH
  * service: yesterday's prepared corpus + today's batch must equal the
  * full recompute on the union (the c1b gate proves it against c1's own
  * DuckDB oracle on the whole table; CorpusRefreshSpec proves it
  * Spark-vs-Spark, bit-for-bit, across batchings), while the per-byte
  * text work (shingling, MinHash, banding, scrubbing) is paid ONCE per
  * document — at its batch — never again at later refreshes. [[remove]]
  * is the takedown path: deleting documents must land on exactly the
  * from-scratch prepare over the SURVIVING union (the c1c gate), again
  * without re-reading any surviving text.
  *
  * What stays per-refresh work and why that's the right trade: the
  * connected-components pass and the keeper/cluster assembly recompute
  * from the ACCUMULATED state each time, because a single new edge can
  * merge two old clusters (no per-batch shortcut is exact) — but that
  * state is id-keyed rows (verified pair endpoints, hash→keeper rows),
  * orders of magnitude smaller than the corpus text the from-scratch
  * run re-reads. SCALING.md records the measured split.
  *
  * On-disk state under `dir`, all append-only parquet with the
  * [[graft.store.GenLedger]] generation discipline (`_gen_<n>` counter
  * marker; `_commit_<gen>[_<batchTag>]` commit markers — a refresh's
  * appended rows are visible iff its marker exists):
  *  - `dedup/` — a [[DedupIndex]] over the CURRENT exact-dedup keepers
  *    (its own internal crash/tombstone machinery);
  *  - `exact/` — (gen, content_hash, keeper_id, n_copies, lang,
  *    n_tokens): the exact-dedup merge state, latest COMMITTED
  *    generation per hash wins; an `n_copies = 0` row is a fully
  *    removed hash (absent from the corpus until re-added);
  *  - `copies/` — (gen, content_hash, doc_id, lang): one row per doc
  *    that passed the quality filter, at the refresh that admitted it —
  *    the per-copy membership ledger [[remove]] resolves keeper
  *    handovers from (which surviving twin inherits a removed keeper's
  *    memberships); id-keyed, no text;
  *  - `removed/` — (gen, doc_id): takedown tombstones; a copy row is
  *    live iff newer than every committed removal of its doc_id, so a
  *    removed-then-re-fed doc is live again through its re-add row;
  *  - `pairs/` — (gen, doc_a, doc_b, jaccard): verified near-dup pairs,
  *    appended INSIDE [[DedupIndex.checkAndAdd]]'s `onPairs` (durable
  *    before the index ledger commits — the index's replay contract
  *    makes pair delivery at-least-once, and the duplicate rows a
  *    replay can leave are identical and collapse in the read-side
  *    distinct); rows whose endpoints stop being live keepers (exact
  *    demotion, cluster rewrites, takedown) are filtered at read, never
  *    rewritten — a keeper handover re-keys the affected rows to the
  *    inheriting twin instead (signatures are pure functions of the
  *    byte-identical text, so the re-keyed row is exact);
  *  - `scrub/` — (gen, doc_id, n_emails, n_phones, n_ssns, redacted):
  *    PII-scrub output for every doc that ENTERED the keeper set, made
  *    at its batch's refresh. The canonical set is always a subset of
  *    the keeper set, so every assembled output row finds its scrub row
  *    — and scrubbing at entry (instead of computing the canonical
  *    subset per refresh) trades a slightly wider batch-sized scrub for
  *    dropping a whole corpus-sized clustering pass from the refresh
  *    path. A handover copies the old keeper's scrub row under the new
  *    id (byte-identical text ⇒ identical scrub), so takedown keeps the
  *    nothing-is-ever-re-scrubbed economy.
  *
  * Re-delivery safety: pass `batchId` to [[refresh]] and a batch whose
  * commit marker already landed is a NO-OP — the marker name carries
  * the batch tag, so recording the id and committing the refresh are
  * one atomic file create (no window where one exists without the
  * other). Without a batchId the caller owns not re-feeding a COMMITTED
  * batch (a replay of an UNCOMMITTED crash is always safe, id or not).
  *
  * Crash contract: a refresh or remove interrupted anywhere is healed
  * by replaying the same call, and must be replayed before the next
  * mutation (the dedup index commits its own ledger first, so a torn
  * operation can leave the index a step ahead of the exact state until
  * the replay converges them). The dedup index replays per its own
  * contract (already-indexed docs drop out, tombstones and reassigns
  * are idempotent); scrub/copies/pairs rows re-append identically
  * (latest-per-key or distinct reads); the exact append — whose
  * `_commit_` marker is the whole operation's commit point — was either
  * committed (a replayed [[remove]] finds no live victims and no-ops; a
  * committed batch must not be re-fed unless it carried a batchId) or
  * invisible (replay recomputes the identical merge from the pre-batch
  * state). Torn pair appends from a crashed attempt reference keepers
  * the exact state never committed — the live-endpoint filter drops
  * them, self-healing.
  *
  * [[compact]] folds the whole accumulated state — every table, the
  * commit-marker set, and the inner dedup index — to one generation, so
  * a long-lived service's file count and committed-generation list stay
  * bounded by maintenance cadence instead of growing per refresh
  * forever.
  */
object CorpusRefresh {

  private def dedupDir(dir: String) = s"$dir/dedup"
  private def exactPath(dir: String) = s"$dir/exact"
  private def copiesPath(dir: String) = s"$dir/copies"
  private def removedPath(dir: String) = s"$dir/removed"
  private def pairsPath(dir: String) = s"$dir/pairs"
  private def scrubPath(dir: String) = s"$dir/scrub"

  private val CommitPrefix = "_commit_"
  private val BatchPrefix = "_batch_"
  private val StateTables = Seq("exact", "copies", "removed", "pairs", "scrub")

  private def exists(spark: SparkSession, p: String) = GenLedger.hasData(spark, p)
  private def nextGen(spark: SparkSession, dir: String): Long =
    GenLedger.nextGen(spark, dir)
  private def guard(spark: SparkSession, dir: String): Unit =
    GenLedger.guardCompaction(spark, dir, StateTables)

  /** Commit-marker names: `_commit_<gen>` or `_commit_<gen>_<batchTag>`
    * — the optional tag lets the marker create double as the batch-id
    * record atomically. */
  private def commitMarkerNames(spark: SparkSession, dir: String): Seq[String] =
    GenLedger.markerNames(spark, dir, CommitPrefix)

  private def genOf(marker: String): Long =
    marker.stripPrefix(CommitPrefix).split("_", 2)(0).toLong

  private def batchTagOf(marker: String): Option[String] = {
    val parts = marker.stripPrefix(CommitPrefix).split("_", 2)
    if (parts.length == 2) Some(parts(1)) else None
  }

  private def committedGens(spark: SparkSession, dir: String): Seq[Long] =
    commitMarkerNames(spark, dir).map(genOf).sorted

  /** Batch tags already committed: carried on commit markers, plus the
    * `_batch_<tag>` stubs [[compact]] folds retired markers' tags into. */
  private def committedBatchTags(spark: SparkSession, dir: String): Set[String] =
    (commitMarkerNames(spark, dir).flatMap(batchTagOf) ++
      GenLedger.markerNames(spark, dir, BatchPrefix)
        .map(_.stripPrefix(BatchPrefix))).toSet

  private def tagOf(batchId: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(batchId.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Latest COMMITTED exact-merge row per content hash, dropping fully
    * removed hashes (`n_copies = 0` — equivalent to the hash never
    * having been fed, so a later re-add starts from scratch). */
  private def exactResolve(spark: SparkSession, dir: String): Option[DataFrame] = {
    if (!exists(spark, exactPath(dir))) None
    else {
      val committed = committedGens(spark, dir)
      if (committed.isEmpty) None
      else {
        val w = Window.partitionBy("content_hash")
        Some(spark.read.parquet(exactPath(dir))
          .where(col("gen").isin(committed: _*))
          .withColumn("maxg", max("gen").over(w))
          .where(col("gen") === col("maxg") && col("n_copies") > 0)
          .select("content_hash", "keeper_id", "n_copies", "lang", "n_tokens"))
      }
    }
  }

  /** Live per-copy membership (content_hash, doc_id, lang): committed
    * copy rows newer than every committed removal of their doc_id — so
    * remove→re-feed resurrects a doc through its re-add row, exactly
    * like the dedup index's tombstone ordering. */
  private def copiesResolve(spark: SparkSession, dir: String): Option[DataFrame] = {
    if (!exists(spark, copiesPath(dir))) None
    else {
      val committed = committedGens(spark, dir)
      if (committed.isEmpty) None
      else {
        val c = spark.read.parquet(copiesPath(dir))
          .where(col("gen").isin(committed: _*))
          .groupBy("content_hash", "doc_id", "lang").agg(max("gen").as("gen"))
        Some(GenLedger.liveRows(c, "doc_id",
          GenLedger.committedTombMax(spark, removedPath(dir), committed, "doc_id"))
          .select("content_hash", "doc_id", "lang"))
      }
    }
  }

  /** Latest scrub row per doc (replays append identical rows). */
  private def scrubResolve(spark: SparkSession, dir: String): Option[DataFrame] =
    if (!exists(spark, scrubPath(dir))) None
    else {
      val w = Window.partitionBy("doc_id")
      Some(spark.read.parquet(scrubPath(dir))
        .withColumn("maxg", max("gen").over(w))
        .where(col("gen") === col("maxg"))
        .select("doc_id", "n_emails", "n_phones", "n_ssns", "redacted"))
    }

  /** Ingest one batch of `(doc_id, lang, text, …)` documents into the
    * prepared-corpus state. Text-sized work (filter stats, hashing,
    * MinHash/banding via the dedup index, PII scrub) touches ONLY this
    * batch; accumulated state is joined by id/hash. Serialized by the
    * state dir's WriterLock (single maintainer, like the indexes).
    * With a `batchId`, re-feeding a COMMITTED batch is a no-op (the
    * commit marker's name records the id atomically with the commit). */
  def refresh(spark: SparkSession, dir: String, batchDocs: DataFrame,
      cfg: CorpusEtlConfig = CorpusEtlConfig(),
      batchId: Option[String] = None): Unit =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    guard(spark, dir)
    val tag = batchId.map(tagOf)
    // idempotence ledger: a batch whose tag is already committed no-ops
    if (!tag.exists(committedBatchTags(spark, dir).contains)) {
    val gen = nextGen(spark, dir)

    // 1. repetition/quality filter — batch-only, same predicate as
    // CorpusEtl.prepare stage 1
    val stats = TextOps.repetitionStats(batchDocs)
      .where(col("n_tokens") >= cfg.minTokens &&
        col("dup_2g_frac") <= cfg.maxDup2gFrac &&
        col("dup_3g_frac") <= cfg.maxDup3gFrac &&
        col("top_tok_frac") <= cfg.maxTopTokFrac)
      .select("doc_id", "n_tokens")
    // one materialization feeds the hash merge, the index add and the
    // scrub (CorpusEtl.prepare's survivors checkpoint, batch-sized)
    val kept = batchDocs.join(stats, Seq("doc_id"))
      .withColumn("content_hash", md5(col("text")))
      .localCheckpoint(true)

    // 2. exact-dedup merge: batch (hash, min id, count) against the
    // accumulated hash→keeper state — only TOUCHED hashes get new rows
    val bHash = kept.groupBy("content_hash")
      .agg(min("doc_id").as("b_keeper"), count(lit(1)).cast("int").as("b_copies"))
      .join(kept.select(col("doc_id").as("b_keeper"), col("lang").as("b_lang"),
        col("n_tokens").as("b_ntok")), Seq("b_keeper"))
    val prev = exactResolve(spark, dir)
    val mergedRows = (prev match {
      case None => bHash.withColumn("keeper_id", lit(null).cast("long"))
        .withColumn("n_copies", lit(null).cast("int"))
        .withColumn("lang", lit(null).cast("string"))
        .withColumn("n_tokens", lit(null).cast("int"))
      case Some(p) => bHash.join(p, Seq("content_hash"), "left")
    }).select(
        col("content_hash"),
        when(col("keeper_id").isNull || col("b_keeper") < col("keeper_id"),
          col("b_keeper")).otherwise(col("keeper_id")).as("new_keeper"),
        (col("b_copies") + coalesce(col("n_copies"), lit(0))).as("new_copies"),
        when(col("keeper_id").isNull || col("b_keeper") < col("keeper_id"),
          col("b_lang")).otherwise(col("lang")).as("new_lang"),
        when(col("keeper_id").isNull || col("b_keeper") < col("keeper_id"),
          col("b_ntok")).otherwise(col("n_tokens")).as("new_ntok"),
        col("keeper_id").as("old_keeper"))
      .localCheckpoint(true) // feeds index ops, assembly and the append

    // 3. index maintenance: batch docs that became their hash's keeper
    // enter the MinHash index (emitting their verified pairs — durable
    // via onPairs BEFORE the index ledger commits); demoted old keepers
    // (a smaller-id batch twin took over) are tombstoned out
    val enters = kept.join(
        mergedRows.where(col("old_keeper").isNull || col("new_keeper") =!= col("old_keeper"))
          .select(col("new_keeper").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .select("doc_id", "text")
    DedupIndex.checkAndAdd(spark, dedupDir(dir), enters, onPairs = p =>
      p.select(lit(gen).as("gen"), col("doc_a"), col("doc_b"), col("jaccard"))
        .write.mode(SaveMode.Append).parquet(pairsPath(dir)))
    DedupIndex.remove(spark, dedupDir(dir),
      mergedRows.where(col("old_keeper").isNotNull &&
          col("new_keeper") =!= col("old_keeper"))
        .select(col("old_keeper").as("doc_id")))

    // 4. scrub every ENTERING keeper now, while its text is in hand —
    // entries are always fresh docs (a hash's keeper id only ever
    // decreases between refreshes, so a demoted keeper never re-enters),
    // so nothing is re-scrubbed, and the assembly below never needs text
    Redact.scrub(kept.join(enters.select("doc_id"), Seq("doc_id"), "left_semi"))
      .select(lit(gen).as("gen"), col("doc_id"), col("n_emails"),
        col("n_phones"), col("n_ssns"), col("redacted"))
      .write.mode(SaveMode.Append).parquet(scrubPath(dir))
    // ... and record every admitted copy in the membership ledger the
    // takedown path resolves handovers from
    kept.select(lit(gen).as("gen"), col("content_hash"), col("doc_id"),
        col("lang"))
      .write.mode(SaveMode.Append).parquet(copiesPath(dir))

    // 5. the refresh's commit point: exact rows, then the marker (whose
    // name also records the batch id — one atomic create)
    mergedRows
      .select(lit(gen).as("gen"), col("content_hash"),
        col("new_keeper").as("keeper_id"), col("new_copies").as("n_copies"),
        col("new_lang").as("lang"), col("new_ntok").as("n_tokens"))
      .write.mode(SaveMode.Append).parquet(exactPath(dir))
    // ONE marker create commits the refresh AND records the batch id —
    // its name is `_commit_<gen>` or `_commit_<gen>_<tag>` — so there is
    // no window where the refresh is committed but the id unrecorded
    // (the window that would double-count a re-fed batch)
    GenLedger.touch(spark, dir,
      CommitPrefix + gen + tag.map("_" + _).getOrElse(""))
    }
  } // WriterLock released here

  /** Takedown: delete `ids` (doc_id) from the prepared corpus, landing
    * on exactly [[CorpusEtl.prepare]] over the surviving union (the c1c
    * gate), WITHOUT re-reading any surviving text. Per touched content
    * hash: surviving copies elect a new keeper (the minimum surviving
    * id — the from-scratch rule); a removed keeper with a surviving
    * byte-identical twin HANDS ITS MEMBERSHIPS OVER — MinHash index
    * rows via [[DedupIndex.reassign]], verified pairs re-keyed to the
    * twin, the scrub row copied under the twin's id (all exact, because
    * every one is a pure function of the identical text); a hash whose
    * copies are all removed leaves the index ([[DedupIndex.remove]])
    * and its exact row drops to `n_copies = 0`. Ids never fed, already
    * removed, or filtered at entry are no-ops — so a COMMITTED remove
    * replays as a no-op, and an UNCOMMITTED crash heals by replaying
    * the same call (the index ops inside are idempotent). */
  def remove(spark: SparkSession, dir: String, ids: DataFrame): Unit =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    guard(spark, dir)
    val idsD = ids.select("doc_id").distinct().localCheckpoint(true)
    copiesResolve(spark, dir).foreach { copies =>
      val victims = copies.join(idsD, Seq("doc_id"), "left_semi")
        .localCheckpoint(true) // (content_hash, doc_id, lang)
      if (!victims.isEmpty) {
        val gen = nextGen(spark, dir)
        val touched = victims.select("content_hash").distinct()
        val tRows = copies.join(touched, Seq("content_hash"), "left_semi")
        val surv = tRows.join(idsD, Seq("doc_id"), "left_anti")
        // new keeper = min SURVIVING copy (when the old keeper survives
        // it IS that minimum, so this is uniform, not a special case)
        val survAgg = surv.groupBy("content_hash")
          .agg(min("doc_id").as("new_keeper"),
            count(lit(1)).cast("int").as("new_copies"))
          .join(surv.select(col("doc_id").as("new_keeper"),
            col("lang").as("new_lang")), Seq("new_keeper"))
        val merged = exactResolve(spark, dir).get
          .join(touched, Seq("content_hash"), "left_semi")
          .join(survAgg, Seq("content_hash"), "left")
          .select(col("content_hash"), col("new_keeper"),
            coalesce(col("new_copies"), lit(0)).as("new_copies"),
            col("new_lang"), col("n_tokens"),
            col("keeper_id").as("old_keeper"))
          .localCheckpoint(true)
        val handover = merged.where(col("new_keeper").isNotNull &&
            col("new_keeper") =!= col("old_keeper"))
          .select(col("old_keeper").as("doc_id"), col("new_keeper").as("new_id"))
          .localCheckpoint(true)
        val orphans = merged.where(col("new_keeper").isNull)
          .select(col("old_keeper").as("doc_id"))

        // 1. dedup index first (its ops are internally committed and
        // idempotent; the exact commit below is THIS op's commit point,
        // so a crash in between replays to convergence)
        if (!handover.isEmpty) DedupIndex.reassign(spark, dedupDir(dir), handover)
        if (!orphans.isEmpty) DedupIndex.remove(spark, dedupDir(dir), orphans)

        if (!handover.isEmpty) {
          // 2. re-key verified pairs through the handover (identical
          // signatures ⇒ identical jaccard; a handed-over endpoint is a
          // straight id substitution). Mapping is takedown-sized →
          // broadcast; only matched rows are rewritten.
          if (exists(spark, pairsPath(dir))) {
            val ma = handover.select(col("doc_id").as("doc_a"), col("new_id").as("na"))
            val mb = handover.select(col("doc_id").as("doc_b"), col("new_id").as("nb"))
            spark.read.parquet(pairsPath(dir))
              .join(broadcast(ma), Seq("doc_a"), "left")
              .join(broadcast(mb), Seq("doc_b"), "left")
              .where(col("na").isNotNull || col("nb").isNotNull)
              .select(lit(gen).as("gen"),
                least(coalesce(col("na"), col("doc_a")),
                  coalesce(col("nb"), col("doc_b"))).as("doc_a"),
                greatest(coalesce(col("na"), col("doc_a")),
                  coalesce(col("nb"), col("doc_b"))).as("doc_b"),
                col("jaccard"))
              .write.mode(SaveMode.Append).parquet(pairsPath(dir))
          }
          // 3. the inheriting twin takes the scrub row (identical text
          // ⇒ identical scrub) — nothing is ever re-scrubbed
          scrubResolve(spark, dir).foreach { sc =>
            sc.join(broadcast(handover), Seq("doc_id"))
              .select(lit(gen).as("gen"), col("new_id").as("doc_id"),
                col("n_emails"), col("n_phones"), col("n_ssns"), col("redacted"))
              .write.mode(SaveMode.Append).parquet(scrubPath(dir))
          }
        }

        // 4. removal tombstones, then the exact rows, then the marker —
        // the commit point that makes all of the above visible at once
        victims.select(lit(gen).as("gen"), col("doc_id"))
          .write.mode(SaveMode.Append).parquet(removedPath(dir))
        merged.select(lit(gen).as("gen"), col("content_hash"),
            col("new_keeper").as("keeper_id"), col("new_copies").as("n_copies"),
            col("new_lang").as("lang"), col("n_tokens"))
          .write.mode(SaveMode.Append).parquet(exactPath(dir))
        GenLedger.commit(spark, dir, CommitPrefix, gen)
      }
    }
  } // WriterLock released here

  /** Read-only fsck — the refresh service's member of the doctor
    * family ([[TextIndex.doctor]] et al.). Never mutates state.
    * Columns:
    *  - `live_hashes` / `live_copies` — resolved exact-state size;
    *  - `uncommitted_rows` — rows across exact/copies/removed/pairs/
    *    scrub whose gen has no `_commit_` marker: debris of a refresh
    *    or takedown that died pre-commit — invisible to resolution,
    *    healed by replay, reclaimed by [[compact]];
    *  - `keepers_missing_scrub` — live exact keepers with NO scrub row:
    *    a REAL violation of the assembly invariant ("every assembled
    *    output row finds its scrub row") — the handover path re-keys
    *    scrub rows precisely so this stays 0 through takedowns;
    *  - `stale_asides` — `.old`/`.compacting` leftovers across the five
    *    state tables (`.old` blocks writers until recovered);
    *  - `dedup_violations` — the inner [[DedupIndex.doctor]]'s
    *    dup-membership count (its inert classes are reported by its own
    *    doctor; only the violation class rolls up). */
  def doctor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val committed = committedGens(spark, dir)
    val tornRows = StateTables
      .map(t => GenLedger.tornRows(spark, s"$dir/$t", committed)).sum
    val exact = exactResolve(spark, dir)
    val liveHashes = exact.map(_.count()).getOrElse(0L)
    val liveCopies = copiesResolve(spark, dir).map(_.count()).getOrElse(0L)
    val missingScrub = exact match {
      case None => 0L
      case Some(e) =>
        val keepers = e.select(col("keeper_id").as("doc_id"))
        scrubResolve(spark, dir) match {
          case None => keepers.count()
          case Some(sc) => keepers
            .join(sc.select("doc_id"), Seq("doc_id"), "left_anti").count()
        }
    }
    val staleAsides = GenLedger.staleAsides(spark, dir, StateTables)
    val dedupViolations =
      if (!exists(spark, s"${dedupDir(dir)}/sigs")) 0L
      else DedupIndex.doctor(spark, dedupDir(dir)).head()
        .getAs[Long]("dup_live_memberships")
    Seq((liveHashes, liveCopies, tornRows, missingScrub, staleAsides,
      dedupViolations))
      .toDF("live_hashes", "live_copies", "uncommitted_rows",
        "keepers_missing_scrub", "stale_asides", "dedup_violations")
  }

  /** Guarded repair for [[doctor]]'s `stale_asides` across the
    * service's five tables PLUS the embedded dedup index (items
    * prefixed `dedup/`). Rules in
    * [[graft.store.GenLedger.repairAsides]]; `dryRun = true` lists
    * only. */
  def repair(spark: SparkSession, dir: String,
      dryRun: Boolean = true): DataFrame = {
    val own = GenLedger.repairAsides(spark, dir, StateTables, dryRun)
    val inner =
      if (!exists(spark, dedupDir(dir))) own.limit(0)
      else DedupIndex.repair(spark, dedupDir(dir), dryRun)
        .withColumn("item", concat(lit("dedup/"), col("item")))
        .select("item", "damage", "action", "applied")
    own.unionByName(inner)
  }

  /** Fold the accumulated state to ONE generation: every table rewritten
    * to its resolved content (latest-per-key exact/scrub, live copies,
    * live-endpoint pairs), removal tombstones physically reclaimed, the
    * committed-generation list collapsed to a single marker (batch tags
    * preserved as `_batch_` stubs so [[refresh]]'s idempotence survives
    * compaction), and the inner dedup index compacted. [[prepared]] is
    * IDENTICAL before and after (CorpusRefreshSpec). Crash posture: the
    * fold generation's marker is created BEFORE any swap and old
    * markers retire only after ALL swaps, so resolution — latest
    * committed wins — reads the same state through every window; a
    * crash mid-swap leaves `<table>.old` for [[GenLedger.guardCompaction]]
    * to refuse on. */
  def compact(spark: SparkSession, dir: String,
      numFiles: Int = 8): Map[String, (Int, Int)] =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    guard(spark, dir)
    val oldMarkers = commitMarkerNames(spark, dir)
    if (oldMarkers.isEmpty) Map.empty
    else {
      val fs = GenLedger.fsOf(spark, dir)
      // 1. batch tags outlive their markers as stubs (idempotent creates)
      oldMarkers.flatMap(batchTagOf).foreach(t =>
        GenLedger.touch(spark, dir, BatchPrefix + t))
      // 2. commit the fold generation BEFORE any rewrite: folded rows
      // are visible the moment they land, old rows stay visible (and
      // consistent — resolution is latest-wins) until their swap
      val foldGen = nextGen(spark, dir)
      GenLedger.commit(spark, dir, CommitPrefix, foldGen)
      // materialized BEFORE any swap: the lazy plan would otherwise read
      // the exact dir mid-sequence, after its own swap already ran
      val liveKeepers = exactResolve(spark, dir)
        .map(_.select(col("keeper_id").as("doc_id")).localCheckpoint(true))
      def fold(name: String, p: String,
          content: => Option[DataFrame]): (String, (Int, Int)) = {
        if (!exists(spark, p)) name -> (0, 0)
        else {
          val nOld = GenLedger.dataFileCount(spark, p)
          content match {
            case None => name -> (nOld, nOld)
            case Some(c) => name -> (nOld, GenLedger.swapIn(spark, p,
              c.select(lit(foldGen).as("gen") +: c.columns.map(col): _*),
              numFiles))
          }
        }
      }
      val out = Map(
        fold("exact", exactPath(dir), exactResolve(spark, dir)),
        fold("copies", copiesPath(dir), copiesResolve(spark, dir)),
        // dead pairs (any non-live-keeper endpoint) reclaimed; replay
        // duplicates collapse in the distinct
        fold("pairs", pairsPath(dir), liveKeepers.map { lk =>
          spark.read.parquet(pairsPath(dir))
            .select("doc_a", "doc_b", "jaccard").distinct()
            .join(lk.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
            .join(lk.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
        }),
        // scrub rows only ever read for current keepers (handover
        // re-keys at remove time), so dead ones reclaim here
        fold("scrub", scrubPath(dir), scrubResolve(spark, dir).map { sc =>
          liveKeepers.map(lk => sc.join(lk, Seq("doc_id"), "left_semi"))
            .getOrElse(sc.limit(0))
        }))
      // 3. with copies folded to live rows only, removal tombstones are
      // spent (delete AFTER the copies swap: if that swap never ran the
      // tombstones are still load-bearing and still present)
      fs.delete(new org.apache.hadoop.fs.Path(removedPath(dir)), true)
      // 4. the inner index compacts under its own lock/guard
      val idx =
        if (GenLedger.hasData(spark, s"${dedupDir(dir)}/sigs"))
          DedupIndex.compact(spark, dedupDir(dir), numFiles)
            .map { case (k, v) => s"dedup/$k" -> v }
        else Map.empty[String, (Int, Int)]
      // 5. old markers retire LAST — every window above reads one
      // consistent latest-wins state
      oldMarkers.foreach(m =>
        fs.delete(new org.apache.hadoop.fs.Path(dir, m), false))
      // 6. sweep the materialized-components cache: every entry is
      // keyed to a pre-fold generation (and any crashed write-asides);
      // the fold generation re-materializes on first read
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/compcache"), true)
      out ++ idx + ("removed" -> (0, 0))
    }
  } // WriterLock released here

  /** Canonical keepers (doc_id = its near-dup component's minimum) with
    * cluster sizes, from the live pair graph over `keepers`. */
  private def canonicalOf(spark: SparkSession, dir: String,
      keepers: DataFrame, cfg: CorpusEtlConfig): DataFrame = {
    val livePairs =
      if (!exists(spark, pairsPath(dir)))
        spark.range(0).select(col("id").as("doc_a"), col("id").as("doc_b"))
      else spark.read.parquet(pairsPath(dir))
        .where(col("jaccard") >= cfg.minJaccard)
        .select("doc_a", "doc_b").distinct()
        .join(keepers.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
        .join(keepers.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
    val comp = cachedComponents(spark, dir, cfg, livePairs)
    val sizes = comp.groupBy("component")
      .agg(count(lit(1)).cast("int").as("cluster_size"))
    keepers
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .where(col("doc_id") === col("component"))
      .join(sizes, Seq("component"), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1)))
  }

  /** Component labels of the live near-dup pair graph, MATERIALIZED
    * once per state generation — the serve-path shape that matters at
    * 100 TB: the iterative CC loop is the one genuinely expensive step
    * in [[prepared]], and its input is a pure function of the committed
    * state (the max `_commit_` generation — monotone, never reused:
    * every refresh/remove/compact reserves a fresh one) plus the
    * caller's jaccard floor. The first serve at a generation computes
    * CC and publishes the labels by write-aside + atomic rename; every
    * later serve reads the parquet. Concurrent first-serves race on the
    * rename harmlessly (identical content — the loser deletes its
    * aside); mutations never touch the cache (they move to a new
    * generation), and [[compact]] sweeps the whole cache dir (its fold
    * lands on a fresh generation that will re-materialize on first
    * read). Incremental CC maintenance is deliberately NOT attempted:
    * removals can split components, so per-generation recompute-once
    * is the correct sound granularity. */
  private def cachedComponents(spark: SparkSession, dir: String,
      cfg: CorpusEtlConfig, livePairs: DataFrame): DataFrame = {
    def fresh() = Components.connectedComponents(livePairs)
      .withColumnRenamed("node", "doc_id")
    val gens = committedGens(spark, dir)
    if (gens.isEmpty) return fresh()
    val key = f"g${gens.max}_j${math.round(cfg.minJaccard * 1e6)}"
    val cachePath = new org.apache.hadoop.fs.Path(s"$dir/compcache/$key")
    val fs = GenLedger.fsOf(spark, dir)
    if (fs.exists(cachePath))
      return spark.read.parquet(cachePath.toString)
    val comp = fresh()
    if (comp.isEmpty) comp // empty parquet dirs don't round-trip a schema
    else {
      val aside = new org.apache.hadoop.fs.Path(
        s"$dir/compcache/.tmp_${java.util.UUID.randomUUID()}")
      comp.write.parquet(aside.toString)
      if (!fs.rename(aside, cachePath)) fs.delete(aside, true)
      spark.read.parquet(cachePath.toString)
    }
  }

  /** The current prepared corpus, assembled from the committed state —
    * [[CorpusEtl.prepare]]'s exact output shape (doc_id, lang,
    * n_tokens, n_copies, cluster_size, n_emails, n_phones, n_ssns,
    * redacted), equal row-for-row to the from-scratch run on every
    * document ever refreshed in and not since removed: [[preparedMeta]]
    * left-joined to the scrub rows. Id-keyed joins only; no text is
    * re-read. */
  def prepared(spark: SparkSession, dir: String,
      cfg: CorpusEtlConfig = CorpusEtlConfig()): DataFrame = {
    val scrub = scrubResolve(spark, dir).getOrElse(
      spark.range(0).select(col("id").as("doc_id"),
        lit(0).cast("int").as("n_emails"), lit(0).cast("int").as("n_phones"),
        lit(0).cast("int").as("n_ssns"), lit("").as("redacted")))
    preparedMeta(spark, dir, cfg)
      .join(scrub, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_copies"),
        col("cluster_size"), col("n_emails"), col("n_phones"), col("n_ssns"),
        col("redacted"))
  }

  /** [[prepared]] restricted to the METADATA columns (doc_id, lang,
    * n_tokens, n_copies, cluster_size) — the keeper assembly
    * [[prepared]] is built on, with the scrub join skipped entirely.
    * Catalyst cannot eliminate the scrub left join on its own (no
    * join-elimination rule for a non-provably-unique right side), so a
    * metadata-only consumer of [[prepared]] would still pay the scrub
    * parquet scan — redacted text included — plus its max-gen window
    * and the join exchange, only to drop every scrub column in its
    * projection. The p1/p1b/p2 serve path (survivor ids/langs/token
    * counts) is exactly that consumer (guide §2.3: project before the
    * work, not after). */
  def preparedMeta(spark: SparkSession, dir: String,
      cfg: CorpusEtlConfig = CorpusEtlConfig()): DataFrame =
    exactResolve(spark, dir) match {
      case None =>
        spark.range(0).select(col("id").as("doc_id"),
          lit("").as("lang"), lit(0).as("n_tokens"), lit(0).as("n_copies"),
          lit(1).as("cluster_size"))
      case Some(ex) =>
        val keepers = ex.select(col("keeper_id").as("doc_id"), col("lang"),
          col("n_tokens"), col("n_copies"))
        canonicalOf(spark, dir, keepers, cfg)
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_copies"),
            col("cluster_size"))
    }
}
