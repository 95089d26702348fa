package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The generation-ledger machinery shared by the stateful services
  * ([[graft.llm.DedupIndex]], [[graft.llm.KnnGraphIndex]],
  * [[graft.llm.VectorIndex]], [[graft.llm.TextIndex]],
  * [[graft.llm.MediaIndex]], [[graft.llm.CorpusRefresh]]): marker-file
  * generation counter, commit-marker sets, the tombstone-liveness rule,
  * interrupted-compaction guard, the atomic directory swap, and the
  * structural checks of their doctors and repairs (torn rows, stale
  * asides). One implementation so the crash contracts — which are
  * load-bearing in every caller — cannot drift apart. The versioned
  * layouts live in [[VersionedDir]].
  *
  * The conventions, shared verbatim by every caller:
  *  - `_gen_<n>` — the generation high-water mark lives in a marker
  *    file whose NAME carries the value: one directory listing + one
  *    create, O(1) in state size (the EventStore sequence pattern).
  *    Advanced BEFORE any data write, so a crash burns a number —
  *    harmless — and never reuses one under different contents.
  *  - `<prefix><n>` commit markers (`_commit_`, `_gcommit_`,
  *    `_tcommit_`, per-caller) — an append is visible iff its marker
  *    exists, so a torn append (files visible, writer lost before the
  *    marker) is invisible to every reader.
  *  - `<table>.compacting` / `<table>.old` — the swap discipline:
  *    write aside, rename the live dir away, rename the new dir in,
  *    delete the old. Readers never see old and new rows together; a
  *    crash mid-swap leaves `.old` for [[guardCompaction]] to refuse
  *    on rather than reading a half-swapped state.
  *
  * Callers serialize every mutation through [[WriterLock]], so
  * list-then-create here needs no further coordination.
  */
object GenLedger {

  val GenPrefix = "_gen_"

  /** Commit-marker prefix of tombstone appends (`tombs/` under the
    * ledger dir) — shared by every service that tombstones. */
  val TcommitPrefix = "_tcommit_"

  def fsOf(spark: SparkSession, p: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Does `p` exist with at least one non-underscore entry (i.e. real
    * data files, not just markers/_SUCCESS)? */
  def hasData(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = fsOf(spark, p)
    fs.exists(path) && fs.listStatus(path).exists(s =>
      !s.getPath.getName.startsWith("_"))
  }

  /** Count of data files (non-underscore, non-dot) directly under `p`;
    * 0 when absent. The no-op guard compaction paths key on. */
  def dataFileCount(spark: SparkSession, p: String): Int = {
    val path = new org.apache.hadoop.fs.Path(p)
    if (!fsOf(spark, p).exists(path)) 0
    else fsOf(spark, p).listStatus(path).count { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** `max(gen)` over a parquet table, guarded on the column actually
    * existing — state written BEFORE a service grew its `gen` column
    * must bootstrap as generation 0, not throw AnalysisException on
    * first touch. Empty/absent tables are 0 too. */
  def maxGenIn(spark: SparkSession, tablePath: String): Long =
    if (!hasData(spark, tablePath)) 0L
    else {
      // mergeSchema: a dir mixing pre-`gen` files with stamped ones must
      // not nondeterministically resolve to a gen-less file's schema and
      // bootstrap the counter below generations already handed out
      val t = spark.read.option("mergeSchema", "true").parquet(tablePath)
      if (!t.columns.contains("gen")) 0L
      else Option(t.agg(max("gen")).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    }

  /** Reserve the next generation number: read the `_gen_<n>` high-water
    * marker (falling back to `hwmFallback` — typically a one-time
    * [[maxGenIn]] scan for state dirs that predate the marker), create
    * the new marker, retire stale ones. */
  def nextGen(spark: SparkSession, dir: String,
      hwmFallback: => Long = 0L): Long =
    reserve(spark, dir, GenPrefix, 1L, hwmFallback) + 1

  /** Reserve `n` values of the counter whose high-water mark lives in the
    * NAME of a `<prefix><hwm>` marker under `dir`: returns the old mark
    * (`hwmFallback` when no marker exists yet); the caller owns
    * `hwm+1 … hwm+n`. One listing plus one create, O(1) in state size.
    * `n == 0` touches nothing — the new name would equal the old one and
    * the retire pass would delete it, losing the counter. */
  def reserve(spark: SparkSession, dir: String, prefix: String, n: Long,
      hwmFallback: => Long): Long = {
    val existing = markerNames(spark, dir, prefix)
    val hwm = existing.map(_.stripPrefix(prefix).toLong).maxOption
      .getOrElse(hwmFallback)
    if (n > 0) {
      commit(spark, dir, prefix, hwm + n)
      retireMarkers(spark, dir, prefix,
        existing.map(_.stripPrefix(prefix).toLong))
    }
    hwm
  }

  /** Raw marker file names under `dir` starting with `prefix`. For
    * callers whose marker names carry more than the generation (e.g.
    * CorpusRefresh's `_commit_<gen>_<batchTag>`). */
  def markerNames(spark: SparkSession, dir: String,
      prefix: String): Seq[String] = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).map(_.getPath.getName)
      .filter(_.startsWith(prefix)).toSeq
  }

  /** Generations whose `<prefix><n>` marker exists, ascending. */
  def committedMarkers(spark: SparkSession, dir: String,
      prefix: String): Seq[Long] =
    markerNames(spark, dir, prefix).map(_.stripPrefix(prefix).toLong).sorted

  /** Create `<prefix><gen>` — the append's commit point. */
  def commit(spark: SparkSession, dir: String, prefix: String,
      gen: Long): Unit = touch(spark, dir, prefix + gen)

  /** Create the empty marker file `dir/<name>` (idempotent). */
  def touch(spark: SparkSession, dir: String, name: String): Unit =
    fsOf(spark, dir).create(new org.apache.hadoop.fs.Path(dir, name), true).close()

  /** Retire the given markers (rows already folded/gone). */
  def retireMarkers(spark: SparkSession, dir: String, prefix: String,
      gens: Seq[Long]): Unit = {
    val fs = fsOf(spark, dir)
    gens.foreach(g =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, prefix + g), false))
  }

  /** Refuse to run while an interrupted swap's `.old` dir exists for
    * any of `tables` — recover by renaming it back (or deleting it if
    * the live dir is complete) before using the state. */
  def guardCompaction(spark: SparkSession, dir: String,
      tables: Seq[String]): Unit =
    for (t <- tables) {
      val old = new org.apache.hadoop.fs.Path(s"$dir/$t.old")
      if (fsOf(spark, dir).exists(old))
        sys.error(s"interrupted compaction detected ($dir/$t.old exists); " +
          s"recover by renaming it back to $dir/$t (or deleting it if " +
          s"$dir/$t is complete) before using the state")
    }

  /** Guarded repair of interrupted-swap debris — the actuator for what
    * the doctor family reports as `stale_asides` (VERDICT r11 #5: a
    * fsck that can't fix leaves the 3 am operator improvising). The
    * swap discipline ([[swapIn]]) leaves exactly three recoverable
    * states, each with ONE correct move derived from the swap's step
    * order (aside is written fully before any rename):
    *  - `<t>.old` present, live `<t>` MISSING — crash between
    *    rename-aside and rename-in: ROLL BACK (rename `.old` → live);
    *    the original data is the one copy known complete.
    *  - `<t>.old` present, live present — crash after rename-in but
    *    before the aside delete: the swap COMPLETED; delete `.old`.
    *  - `<t>.compacting` present (live present after the rules above) —
    *    an aborted aside write; droppable scratch.
    * Anything else (torn gen rows, dead postings) is NOT repaired here:
    * those are invisible-by-read-rule and physically reclaimed by the
    * service's own `compact`. Runs under the service's index
    * [[WriterLock]] — repair races a concurrent swap otherwise. With
    * `dryRun` (the default posture) every action is listed, nothing is
    * touched. Returns the (item, damage, action, applied) frame every
    * service's `repair` serves. */
  def repairAsides(spark: SparkSession, dir: String, tables: Seq[String],
      dryRun: Boolean): DataFrame = WriterLock.forIndex(spark, dir).withLock {
    import spark.implicits._
    val fs = fsOf(spark, dir)
    tables.flatMap { t =>
      val live = new org.apache.hadoop.fs.Path(s"$dir/$t")
      val old = new org.apache.hadoop.fs.Path(s"$dir/$t.old")
      val comp = new org.apache.hadoop.fs.Path(s"$dir/$t.compacting")
      val oldAction: Option[(String, String, String, Boolean)] =
        if (!fs.exists(old)) None
        else if (!fs.exists(live)) {
          val applied = !dryRun && fs.rename(old, live)
          Some((t, "interrupted_swap_no_live", s"rename $old -> $live", applied))
        } else {
          val applied = !dryRun && fs.delete(old, true)
          Some((t, "completed_swap_stale_old", s"delete $old", applied))
        }
      val compAction: Option[(String, String, String, Boolean)] =
        if (!fs.exists(comp)) None
        else {
          val applied = !dryRun && fs.delete(comp, true)
          Some((t, "aborted_aside_write", s"delete $comp", applied))
        }
      oldAction.toSeq ++ compAction
    }.toDF("item", "damage", "action", "applied")
  }

  /** `.old` / `.compacting` leftovers of `tables` under `dir` — what
    * doctors report as `stale_asides` and [[repairAsides]] acts on. */
  def staleAsides(spark: SparkSession, dir: String, tables: Seq[String]): Int = {
    val fs = fsOf(spark, dir)
    tables.flatMap(t => Seq(s"$dir/$t.old", s"$dir/$t.compacting"))
      .count(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
  }

  /** Rows of the `gen`-stamped table at `path` whose generation is not
    * in `committed` (appends that died before their marker): invisible
    * to reads, counted by doctors. 0 when the table has no data. */
  def tornRows(spark: SparkSession, path: String,
      committed: => Seq[Long]): Long =
    if (!hasData(spark, path)) 0L
    else {
      val gens = committed
      val t = spark.read.parquet(path)
      if (gens.isEmpty) t.count()
      else t.where(!col("gen").isin(gens: _*)).count()
    }

  /** Per-`key` max COMMITTED tombstone generation (`tgen`) of the
    * tombstone table at `tombs` — None when it has no data or nothing
    * is committed (the common state, so [[liveRows]] leaves no filter in
    * the plan at all). */
  def committedTombMax(spark: SparkSession, tombs: String,
      committed: => Seq[Long], key: String): Option[DataFrame] =
    if (!hasData(spark, tombs)) None
    else {
      val gens = committed
      if (gens.isEmpty) None
      else Some(spark.read.parquet(tombs)
        .where(col("gen").isin(gens: _*))
        .groupBy(key).agg(max("gen").as("tgen")))
    }

  /** The tombstone-liveness rule: a row is live iff no tombstone at an
    * equal-or-later generation covers its `key` — so a removed id is
    * dead and a removed-then-re-added id is live through exactly its
    * re-add row. Tombstones are removal-sized: always broadcast. */
  def liveRows(rows: DataFrame, key: String,
      tombMax: Option[DataFrame]): DataFrame =
    tombMax.fold(rows)(t => rows.join(broadcast(t), Seq(key), "left")
      .where(col("tgen").isNull || col("gen") > col("tgen"))
      .drop("tgen"))

  /** Tombstone generations under `dir` whose append COMPLETED (their
    * `_tcommit_<n>` marker exists): a torn tombstone append — files
    * visible, writer lost before the marker — is invisible to every
    * reader, so a crash can never half-remove anything. */
  def committedTombGens(spark: SparkSession, dir: String): Seq[Long] =
    committedMarkers(spark, dir, TcommitPrefix)

  /** Append `ids` (one key column) as tombstones at `gen` under
    * `dir/tombs`, then create `_tcommit_<gen>` — the removal's commit
    * point: a torn append without its marker is invisible. */
  def tombstone(spark: SparkSession, dir: String, ids: DataFrame,
      gen: Long): Unit = {
    ids.select(lit(gen).as("gen") +: ids.columns.toSeq.map(col): _*)
      .write.mode("append").parquet(s"$dir/tombs")
    commit(spark, dir, TcommitPrefix, gen)
  }

  /** Drop the folded-in tombstones: the `tombs` table under `dir` and
    * every `_tcommit_` marker. Only valid once compaction has rewritten
    * the rows they covered. */
  def retireTombs(spark: SparkSession, dir: String): Unit = {
    fsOf(spark, dir).delete(new org.apache.hadoop.fs.Path(s"$dir/tombs"), true)
    retireMarkers(spark, dir, TcommitPrefix, committedTombGens(spark, dir))
  }

  /** The atomic swap: write `content` to `<p>.compacting`, rename `p`
    * aside, rename the new dir in, delete the old. Returns the number
    * of data files written. Leftovers of an aborted WRITE (a stale
    * `.compacting`) are safe to drop; a failed rename aborts with the
    * original intact. */
  def swapIn(spark: SparkSession, p: String, content: DataFrame,
      numFiles: Int): Int = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = fsOf(spark, p)
    val compacting = new org.apache.hadoop.fs.Path(p + ".compacting")
    val old = new org.apache.hadoop.fs.Path(p + ".old")
    fs.delete(compacting, true)
    content.repartition(numFiles).write.parquet(compacting.toString)
    val nNew = fs.listStatus(compacting)
      .count(_.getPath.getName.endsWith(".parquet"))
    if (!fs.rename(path, old))
      sys.error(s"compaction aborted: rename $path -> $old failed")
    if (!fs.rename(compacting, path)) {
      fs.rename(old, path) // restore; both renames on one local fs
      sys.error(s"compaction aborted: rename $compacting -> $path failed")
    }
    fs.delete(old, true)
    nNew
  }
}
