package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent inverted text index — the LEXICAL retrieval service of the
  * index trio (near-dup: [[DedupIndex]]; semantic: [[VectorIndex]] /
  * [[KnnGraphIndex]]; lexical: this). A training-data pipeline runs one
  * to select documents near a topic (the t8 BM25 pass) without
  * re-scanning corpus text per query: documents are tokenized ONCE at
  * add time; every later search touches only the queried terms'
  * postings plus the doc-length ledger.
  *
  * On-disk layout under `dir` (plain parquet, append-only):
  *  - `postings/` — (tok, doc_id, tf, gen): one row per (token,
  *    document) with the term frequency, stamped with the MEMBERSHIP
  *    generation it was written under. At 100 TB this is the table you
  *    bucket by `tok`, so a search scan prunes to the queried terms'
  *    buckets.
  *  - `docs/` — (doc_id, dl, gen): the doc-length ledger AND the
  *    membership commit point (written LAST, the [[DedupIndex]] write
  *    order); `gen` orders rows against tombstones.
  *  - `tombs/` + `_tcommit_<gen>` markers — marker-committed removal
  *    generations ([[graft.store.GenLedger]] conventions; a torn
  *    tombstone append is invisible).
  *
  * Re-delivery / crash contract (same discipline as [[DedupIndex]]):
  * postings append FIRST, ledger LAST — a replayed batch anti-joins
  * against the live ledger and is a no-op once the ledger committed; a
  * crash between the two appends leaves orphan postings that every
  * read path drops or collapses (rows whose `gen` has no matching live
  * ledger row are filtered by the (doc_id, gen) join; a retry that
  * re-lands the SAME generation's rows produces byte-identical
  * duplicates — tf is a pure function of the text — collapsed by the
  * per-(doc, tok) `max(tf)`); [[compact]] physically reclaims both.
  * Postings of REMOVED documents stay on disk until compact; they cost
  * a filtered row at read time, never a wrong answer, because every
  * read joins back to the LIVE ledger ON (doc_id, gen) — keying on the
  * generation, not just the id, is what makes a remove-then-re-add
  * with DIFFERENT text exact: the old text's postings carry the dead
  * membership's generation and can never rejoin the fresh one.
  * (Postings written before this service grew its `gen` column read as
  * null and match any live membership of their doc — the pre-stamp
  * doc_id-keyed semantics; a [[compact]] re-stamps them.)
  *
  * Exactness contract (the t8b/t8c gates): [[search]] over the live
  * index is bit-identical to the from-scratch BM25 pass
  * ([[graft.queries.TextOps.bm25]]) over the live documents — same
  * rational Robertson idf, same fixed-term-order double arithmetic
  * (per-term scores sum in the caller's term order via one generated
  * expression, never a float aggregation whose order could drift), so
  * the DuckDB oracle hash-matches with no tolerance.
  */
object TextIndex {

  private def postingsPath(dir: String) = s"$dir/postings"
  private def docsPath(dir: String) = s"$dir/docs"
  private def tombsPath(dir: String) = s"$dir/tombs"

  private val Tables = Seq("postings", "docs")

  private def nextGen(spark: SparkSession, dir: String): Long =
    graft.store.GenLedger.nextGen(spark, dir,
      graft.store.GenLedger.maxGenIn(spark, docsPath(dir)))

  private def exists(spark: SparkSession, p: String): Boolean =
    graft.store.GenLedger.hasData(spark, p)

  private def guardCompaction(spark: SparkSession, dir: String): Unit =
    graft.store.GenLedger.guardCompaction(spark, dir, Tables)

  /** Live ledger rows (doc_id, dl, gen): a row is live iff no committed
    * tombstone at a later-or-equal generation covers its doc_id. */
  private def liveDocRows(spark: SparkSession, dir: String): Option[DataFrame] =
    if (!exists(spark, docsPath(dir))) None
    else Some(graft.store.GenLedger.liveRows(
      spark.read.parquet(docsPath(dir)), "doc_id",
      graft.store.GenLedger.committedTombMax(spark, tombsPath(dir),
        graft.store.GenLedger.committedTombGens(spark, dir), "doc_id")))

  /** The ONE tokenization rule, shared with the batch BM25 pass
    * (t7/t8's `split(lower(text), ' ')`): tf is a pure function of the
    * text, which is what makes replayed/duplicated postings rows
    * byte-identical and the max-collapse exact. */
  private def tokens: Column = split(lower(col("text")), " ")

  /** Postings with the `gen` column guaranteed present: files written
    * before the service grew it read as null (mergeSchema keeps a mixed
    * dir from resolving to a gen-less file's schema), and a null gen is
    * treated by every consumer as matching any live membership of its
    * doc — the pre-stamp semantics, until a [[compact]] re-stamps. */
  private def readPostings(spark: SparkSession, dir: String): DataFrame = {
    val p = spark.read.option("mergeSchema", "true").parquet(postingsPath(dir))
    if (p.columns.contains("gen")) p
    else p.withColumn("gen", lit(null).cast("long"))
  }

  /** The membership-validity filter: a postings row counts iff it was
    * written under its doc's LIVE generation (`lgen`) — or predates
    * stamping entirely. */
  private def genMatches: Column =
    col("gen").isNull || col("gen") === col("__lgen")

  /** Guarded repair for what [[doctor]] reports as `stale_asides` —
    * the one damage class that BLOCKS writes (guardCompaction refuses
    * while a `.old` aside exists). Rules and safety argument live in
    * [[graft.store.GenLedger.repairAsides]]; `dryRun = true` (default)
    * lists the actions without touching anything. Torn tombstones /
    * dead postings stay with [[compact]] — they are invisible by the
    * read rule, not corruption. */
  def repair(spark: SparkSession, dir: String,
      dryRun: Boolean = true): DataFrame =
    graft.store.GenLedger.repairAsides(spark, dir, Tables, dryRun)

  /** Index `newDocs` (doc_id, text, …): tokenize once, append term
    * postings, then commit membership by appending the doc-length
    * ledger. Already-live doc ids are dropped up front (anti-join on
    * the ledger), so re-feeding a committed batch is a no-op; a doc
    * removed earlier re-adds as a fresh membership at a higher
    * generation. Scale shape: one explode + one (doc_id, tok) groupBy —
    * shuffle keyed on the posting key, corpus text read exactly once,
    * nothing joins corpus-sized sides. */
  def add(spark: SparkSession, dir: String, newDocs: DataFrame): Unit =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    guardCompaction(spark, dir)
    val gen = nextGen(spark, dir)
    // in-batch dedup: a producer landing the same doc in two files of
    // one batch (DocStream ingests up to 100 files per trigger) must
    // not double tf or write two ledger rows — the single-membership
    // invariant every read join relies on
    val fresh = (liveDocRows(spark, dir) match {
      case None => newDocs
      case Some(l) =>
        newDocs.join(l.select("doc_id"), Seq("doc_id"), "left_anti")
    }).dropDuplicates("doc_id")
      .select(col("doc_id"), tokens.as("t")).localCheckpoint(true)
    if (!fresh.isEmpty) {
      // postings FIRST (gen-stamped orphans of a lost ledger append are
      // invisible to the (doc_id, gen) read join), ledger LAST (the
      // membership commit point the anti-join keys on)
      fresh.select(col("doc_id"), explode(col("t")).as("tok"))
        .groupBy("tok", "doc_id")
        .agg(count(lit(1)).cast("int").as("tf"))
        .withColumn("gen", lit(gen))
        .write.mode(SaveMode.Append).parquet(postingsPath(dir))
      fresh.select(col("doc_id"),
          org.apache.spark.sql.functions.size(col("t")).as("dl"),
          lit(gen).as("gen"))
        .write.mode(SaveMode.Append).parquet(docsPath(dir))
    }
  } // WriterLock released here

  /** Remove `ids` (doc_id) — takedown without a rebuild. Tombstones are
    * marker-committed generations: the doc leaves every search result
    * (membership, document frequencies, avgdl — ALL corpus statistics
    * shift, which the t8c gate pins against a from-scratch recompute on
    * the survivors) the moment `_tcommit_` lands; its postings rows are
    * reclaimed later by [[compact]]. */
  def remove(spark: SparkSession, dir: String, ids: DataFrame): Unit =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    guardCompaction(spark, dir)
    liveDocRows(spark, dir).foreach { l =>
      val victims = l.select("doc_id")
        .join(ids.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      if (!victims.isEmpty) {
        graft.store.GenLedger.tombstone(spark, dir, victims, nextGen(spark, dir))
      }
    }
  } // WriterLock released here

  /** BM25 top-k for `terms` over the LIVE index — the stored-index form
    * of [[graft.queries.TextOps.bm25]], bit-identical by construction:
    * identical scoring expression text over identically-typed inputs
    * (dl/tf int, n_docs/sum_dl/df long), per-term parts summed in the
    * given fixed term order. Scale shape: the postings scan prunes to
    * the queried terms (pushed `tok IN` filter — the bucket-pruned scan
    * at 100 TB); corpus statistics are ONE ledger aggregate broadcast
    * back; only matching documents' tf rows move, never corpus text. */
  def search(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty && terms.map(_.toLowerCase).distinct.size == terms.size,
      "terms must be non-empty and distinct")
    require(terms.forall(_.matches("[a-z0-9_]+")),
      s"terms must be bare lowercase tokens, got $terms")
    val live = liveDocRows(spark, dir).getOrElse(
      return spark.range(0).select(
        col("id").as("doc_id") +:
          terms.map(t => lit(0).cast("int").as(s"tf_$t")) :+
          lit(0.0).as("bm25"): _*))
    // validity BEFORE the collapse: the (doc_id, gen) join to the live
    // ledger drops removed docs' postings AND a dead membership's
    // old-text rows (a re-added doc must never merge its previous
    // text's tf/df into the fresh one); what survives per (doc, tok)
    // is then at most byte-identical same-gen crash-replay duplicates,
    // collapsed exactly by max(tf). One live row per doc (the ledger's
    // single-membership invariant), so the inner join duplicates
    // nothing, and the doc_id partitioning it establishes feeds the
    // (doc_id, tok) groupBy with no further exchange.
    val post = readPostings(spark, dir)
      .where(col("tok").isin(terms: _*))
      .join(live.select(col("doc_id"), col("gen").as("__lgen")), Seq("doc_id"))
      .where(genMatches)
      .groupBy("doc_id", "tok").agg(max("tf").as("tf"))
    // (doc_id, tok) unique after the collapse, so df is a plain
    // conditional count; corpus stats come from the ledger. Both are
    // 1-row frames — the only exchanges besides the final TakeOrdered.
    val corpus = live.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val dfs = post.agg(
      sum(when(col("tok") === terms.head, 1L).otherwise(0L)).as(s"df_${terms.head}"),
      terms.tail.map(t =>
        sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"df_$t")): _*)
    val stats = corpus.crossJoin(dfs)
    val perDoc = post
      .groupBy("doc_id")
      .agg(max(when(col("tok") === terms.head, col("tf"))).as(s"raw_${terms.head}"),
        terms.tail.map(t =>
          max(when(col("tok") === t, col("tf"))).as(s"raw_$t")): _*)
      .select(col("doc_id") +: terms.map(t =>
        coalesce(col(s"raw_$t"), lit(0)).as(s"tf_$t")): _*)
      .join(live.select("doc_id", "dl"), Seq("doc_id"))
    def part(term: String): String =
      s"""((n_docs - df_$term + 0.5e0) / (df_$term + 0.5e0)) *
          (tf_$term * 2.2e0) /
          (tf_$term + 1.2e0 * (0.25e0 + 0.75e0 * (dl / (sum_dl / n_docs))))"""
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id") +: terms.map(t => col(s"tf_$t")) :+
        expr(terms.map(part).mkString(" + ")).as("bm25"): _*)
      .where(col("bm25") > 0d)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** LIVE indexed document count (observability). */
  /** Live doc ids — the membership view a serve-sync loop diffs
    * against the upstream keeper set (p1b). Empty frame when the index
    * has no state yet. */
  def liveDocIds(spark: SparkSession, dir: String): DataFrame =
    liveDocRows(spark, dir).map(_.select("doc_id"))
      .getOrElse(spark.range(0).select(col("id").as("doc_id")))

  def size(spark: SparkSession, dir: String): Long =
    liveDocRows(spark, dir).map(_.count()).getOrElse(0L)

  /** Read-only fsck: audit the stored index's invariants and return a
    * 1-row report. Never mutates state and never throws on a damaged
    * dir — the point is to LOOK at a suspect index (guardCompaction
    * refuses operations while a `.old` aside exists; doctor is how you
    * find out why). Columns:
    *  - `live_docs` — live memberships (== [[size]]);
    *  - `dup_live_memberships` — doc_ids with >1 live ledger row: a
    *    REAL violation of the single-membership invariant (reads
    *    tolerate it via max-collapse, but writes assumed it — repair
    *    by compact);
    *  - `reclaimable_postings` — postings rows no live membership
    *    validates (tombstoned docs, dead-membership old text, orphans
    *    of a ledger append lost mid-crash): INERT by the gen-validity
    *    read rule, reclaimed by the next [[compact]] — a growth
    *    metric, not corruption;
    *  - `uncommitted_tombstone_rows` — tombstone rows whose generation
    *    has no `_tcommit_` marker (a remove that died pre-commit):
    *    invisible to reads, replay-healed by re-issuing the remove;
    *  - `stale_asides` — `postings/docs` `.old` or `.compacting`
    *    leftovers: `.old` means an interrupted swap needing manual
    *    recovery (the one state that blocks writes), `.compacting` is
    *    droppable scratch. */
  def doctor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val live = liveDocRows(spark, dir)
    val liveN = live.map(_.count()).getOrElse(0L)
    val dups = live.map(
      _.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .where(col("n") > 1).count()).getOrElse(0L)
    val reclaimable = live match {
      case None =>
        if (exists(spark, postingsPath(dir)))
          readPostings(spark, dir).count()
        else 0L
      case Some(l) =>
        readPostings(spark, dir)
          .join(l.groupBy("doc_id").agg(max("gen").as("__lgen")),
            Seq("doc_id"), "left")
          .where(col("__lgen").isNull || !genMatches)
          .count()
    }
    val tornTombs = graft.store.GenLedger.tornRows(spark, tombsPath(dir),
      graft.store.GenLedger.committedTombGens(spark, dir))
    val staleAsides = graft.store.GenLedger.staleAsides(spark, dir, Tables)
    Seq((liveN, dups, reclaimable, tornTombs, staleAsides))
      .toDF("live_docs", "dup_live_memberships", "reclaimable_postings",
        "uncommitted_tombstone_rows", "stale_asides")
  }

  /** Compact the append-only index: fold live ledger rows to one fresh
    * generation, reclaim dead postings (rows whose gen matches no live
    * membership — removed docs, dead-membership old text, lost-ledger
    * orphans) and crash-replay duplicates (distinct — exact, duplicates
    * are byte-identical), drop tombstones and their markers. The two
    * tables rewrite TOGETHER or not at all: both re-stamp to the same
    * fold generation, and a docs-only rewrite would orphan every
    * postings row's gen. Atomic per table via
    * [[graft.store.GenLedger.swapIn]]; an interrupted swap is refused
    * by guardCompaction until recovered, and a stale tombstone
    * surviving any crash window is inert against the re-stamped rows
    * (their fresh generation outranks it). */
  def compact(spark: SparkSession, dir: String,
      numFiles: Int = 8): Map[String, (Int, Int)] =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    guardCompaction(spark, dir)
    val hasTombs = graft.store.GenLedger.committedTombGens(spark, dir).nonEmpty
    val nDocs = graft.store.GenLedger.dataFileCount(spark, docsPath(dir))
    val nPost = graft.store.GenLedger.dataFileCount(spark, postingsPath(dir))
    // joint no-op guard: a pass that rewrote only one table would leave
    // docs.gen and postings.gen referring to different numberings
    if (!exists(spark, docsPath(dir)) ||
        (!hasTombs && nDocs <= numFiles && nPost <= numFiles))
      return Map("docs" -> (nDocs, nDocs), "postings" -> (nPost, nPost))
    val foldGen = if (hasTombs) nextGen(spark, dir) else 0L
    // live (doc_id, gen) pairs pinned BEFORE the docs swap re-stamps
    // them — the postings rewrite below must key on the generations the
    // postings rows were actually written under
    val live = liveDocRows(spark, dir).get
      .select("doc_id", "dl", "gen").localCheckpoint(true)
    val out = Map(
      // one row per doc: an anomalous duplicate live membership (forged
      // write, lost-lock writer) would inflate n_docs in every search —
      // the fold is where it gets repaired (max dl wins, deterministic)
      "docs" -> (nDocs, graft.store.GenLedger.swapIn(spark, docsPath(dir),
        live.groupBy("doc_id").agg(max("dl").as("dl"))
          .withColumn("gen", lit(foldGen)),
        numFiles)),
      "postings" -> (nPost,
        if (nPost == 0) 0
        else graft.store.GenLedger.swapIn(spark, postingsPath(dir),
          // key on max(gen) per doc — the SAME rule doctor's
          // reclaimable count uses — so an anomalous duplicate live
          // membership loses its older gen's postings here too
          // (the pre-fix two-row join kept BOTH gens' tf rows, and
          // duplicated null-gen rows, under the one surviving doc)
          readPostings(spark, dir).distinct()
            .join(live.groupBy("doc_id").agg(max("gen").as("__lgen")),
              Seq("doc_id"))
            .where(genMatches)
            .select(col("tok"), col("doc_id"), col("tf"),
              lit(foldGen).as("gen")),
          numFiles)))
    if (hasTombs) graft.store.GenLedger.retireTombs(spark, dir)
    out
  } // WriterLock released here
}
