package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent perceptual-fingerprint screen — the MEDIA member of the
  * index-service family ([[DedupIndex]] is the text twin): a streaming
  * ingest hashes each batch of media assets ([[ImagePhash]] /
  * [[AudioFingerprint]] — the index is modality-agnostic, it stores
  * 64-bit fingerprints) and screens it against everything already
  * indexed, emitting near-dup pairs (Hamming ≤ 7 via the
  * [[HammingLsh]] band join — never a cartesian pair scan) while
  * appending the batch's fingerprints for the next batch to screen
  * against.
  *
  * Inherited service disciplines (the DedupIndex postures, restated
  * here because specs drive them):
  *  - writers serialize on [[graft.store.WriterLock]];
  *  - membership is idempotent: [[checkAndAdd]] anti-joins LIVE
  *    membership, so a replayed micro-batch is a no-op — at-least-once
  *    stream delivery composes to exactly-once membership;
  *  - pairs are delivered at-least-once via the `onPairs` hook, which
  *    runs BEFORE the membership append (a crash in between replays
  *    the batch and re-emits; emitting after would lose the pairs
  *    forever on that crash) — consumers dedup by the pair key;
  *  - removal is tombstone-generation-based: a tombstone at gen g kills
  *    rows with gen ≤ g, so remove→re-add works (the re-added row's
  *    fresh gen outranks the tombstone) and removed assets neither
  *    block their own re-add nor serve as screen partners;
  *  - `bands` is derived state: compact REGENERATES it from live
  *    fingerprints (the DedupIndex round-11 lesson — a semi-join
  *    rewrite would carry a re-added asset's old postings forever),
  *    which also reclaims crash-orphaned band rows;
  *  - [[doctor]] is the read-only fsck; [[compact]] is the reclaimer.
  *
  * Layout under `dir`: `hashes/` (asset_id, hash, gen), `bands/`
  * (band, byte, asset_id, hash), `tombs/` (asset_id, gen — rewritten
  * whole via GenLedger.swapIn: takedowns are rare and the swap is the
  * crash-safe primitive already on disk).
  *
  * 100 TB shape: per batch the screen shuffles (band, byte) keys + one
  * long per side; the stored side is pruned to live membership before
  * the join; nothing corpus-sized ever reaches the driver. Collision
  * volume is bucket-occupancy-bound (d6's documented shape) — the
  * scale path is a wider fingerprint (2-byte bands), not a new join.
  */
object MediaIndex {

  private def hashesPath(dir: String) = s"$dir/hashes"
  private def bandsPath(dir: String)  = s"$dir/bands"
  private def tombsPath(dir: String)  = s"$dir/tombs"

  private val Tables = Seq("hashes", "bands", "tombs")

  private def exists(spark: SparkSession, p: String): Boolean =
    graft.store.GenLedger.fsOf(spark, p).exists(new org.apache.hadoop.fs.Path(p))

  private def readOpt(spark: SparkSession, p: String): Option[DataFrame] =
    if (exists(spark, p)) Some(spark.read.parquet(p)) else None

  private def maxGen(df: Option[DataFrame]): Long =
    df.flatMap(d => Option(d.agg(max("gen")).head.get(0)))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)

  private def nextGen(spark: SparkSession, dir: String): Long =
    math.max(maxGen(readOpt(spark, hashesPath(dir))),
      maxGen(readOpt(spark, tombsPath(dir)))) + 1

  /** Live membership: the max-gen hash row per asset, unless a tombstone
    * at an equal-or-higher generation kills it. Duplicate rows a crashed
    * append leaves behind collapse to one (max gen wins — the same rule
    * doctor and compact use). */
  private def live(spark: SparkSession, dir: String): Option[DataFrame] =
    readOpt(spark, hashesPath(dir)).map { h =>
      val folded = h.groupBy("asset_id")
        .agg(max(struct(col("gen"), col("hash"))).as("m"))
        .select(col("asset_id"), col("m.gen").as("gen"), col("m.hash").as("hash"))
      // no tombstone markers: every tombstone row counts
      val tmax = readOpt(spark, tombsPath(dir))
        .map(_.groupBy("asset_id").agg(max("gen").as("tgen")))
      graft.store.GenLedger.liveRows(folded, "asset_id", tmax)
        .select("asset_id", "hash", "gen")
    }

  private def guardCompaction(spark: SparkSession, dir: String): Unit =
    graft.store.GenLedger.guardCompaction(spark, dir, Tables)

  /** The doctor family's actuator (the DedupIndex contract): recover or
    * report the interrupted-swap states the GenLedger swaps can leave —
    * dryRun lists without touching; an applied run leaves the store in
    * the state [[guardCompaction]] accepts. */
  def repair(spark: SparkSession, dir: String,
      dryRun: Boolean = true): DataFrame =
    graft.store.GenLedger.repairAsides(spark, dir, Tables, dryRun)

  /** Screen `newHashes` (columns `asset_id`, `hash`) against the index
    * and append the genuinely-new memberships. Emits every near-dup
    * pair involving a new asset — within-batch AND cross-generation —
    * through `onPairs` (at-least-once; runs before the membership
    * commit). Returns the pair frame for callers that want it inline.
    */
  def checkAndAdd(spark: SparkSession, dir: String, newHashes: DataFrame,
      maxHamming: Int = 7,
      onPairs: DataFrame => Unit = _ => ()): DataFrame =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    guardCompaction(spark, dir)
    val liveNow = live(spark, dir)
    val gen = nextGen(spark, dir)

    val fresh = (liveNow match {
      case None => newHashes.select(col("asset_id"), col("hash"))
      case Some(l) => newHashes.select(col("asset_id"), col("hash"))
        .join(l.select("asset_id"), Seq("asset_id"), "left_anti")
    }).dropDuplicates("asset_id").localCheckpoint(true)

    val within = HammingLsh.nearDupPairs(fresh, maxHamming)

    val cross = liveNow match {
      case None => within.limit(0)
      case Some(l) =>
        // stored bands pruned to LIVE membership (dead/stale postings
        // only ever duplicate candidates; the live semi-join drops them
        // before the shuffle)
        val idxBands = spark.read.parquet(bandsPath(dir))
          .join(l.select("asset_id"), Seq("asset_id"), "left_semi")
        val newBands = HammingLsh.bandRows(fresh)
        newBands.select(col("asset_id").as("new_id"), col("hash").as("hn"),
            col("band"), col("byte"))
          .join(idxBands.select(col("asset_id").as("old_id"),
            col("hash").as("ho"), col("band"), col("byte")), Seq("band", "byte"))
          .where(col("new_id") =!= col("old_id"))
          .select(least(col("new_id"), col("old_id")).as("asset_a"),
            greatest(col("new_id"), col("old_id")).as("asset_b"),
            col("hn"), col("ho"), col("band"))
          .withColumn("xr", expr("hn ^ ho"))
          .where(col("band") === HammingLsh.firstSharedBand)
          .select(col("asset_a"), col("asset_b"),
            expr("cast(bit_count(xr) as int)").as("hamming"))
          .where(col("hamming") <= maxHamming)
    }

    // distinct: a replay can re-present rows, and cross+within can't
    // overlap (disjoint membership) — but a caller's batch may carry
    // internal duplicates the dropDuplicates above already collapsed
    val pairs = within.unionByName(cross).localCheckpoint(true)
    onPairs(pairs)

    // bands BEFORE hashes: the hashes row is the membership commit
    // point, so a crash in between leaves orphan bands (inert:
    // candidates they produce are duplicates; compact reclaims them)
    // rather than a member the next batch can't screen against
    val stamped = fresh.withColumn("gen", lit(gen))
    if (!fresh.isEmpty) {
      HammingLsh.bandRows(fresh).select("band", "byte", "asset_id", "hash")
        .write.mode("append").parquet(bandsPath(dir))
      stamped.select("asset_id", "hash", "gen")
        .write.mode("append").parquet(hashesPath(dir))
    }
    pairs
  }

  /** Tombstone `assetIds` at a fresh generation (rewritten whole via
    * the GenLedger swap — takedowns are rare, the swap is crash-safe).
    * A later re-add outranks the tombstone by generation. */
  def remove(spark: SparkSession, dir: String, assetIds: Seq[Long]): Unit =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    import spark.implicits._
    val gen = nextGen(spark, dir)
    val add = assetIds.toDF("asset_id").withColumn("gen", lit(gen))
    readOpt(spark, tombsPath(dir)) match {
      case None =>
        // first tombstone: plain write (swapIn needs an existing dir to
        // rename aside); the parquet job's own commit is the atomicity
        add.select("asset_id", "gen").write.parquet(tombsPath(dir))
      case Some(t) =>
        graft.store.GenLedger.swapIn(spark, tombsPath(dir),
          t.select("asset_id", "gen").unionByName(add.select("asset_id", "gen")), 1)
    }
    ()
  }

  /** Read-only fsck: live counts, duplicate live memberships (crashed
    * appends), orphan band rows (bands whose membership never
    * committed), under-banded live members (a live asset must have its
    * 8 band rows), dead rows compaction would reclaim, and
    * `stale_asides` — `.old` / `.compacting` leftovers of the three
    * tables' swaps (what [[repair]] fixes; `.old` blocks writes). */
  def doctor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = readOpt(spark, hashesPath(dir))
    val b = readOpt(spark, bandsPath(dir))
    val l = live(spark, dir)
    val nRows = h.map(_.count()).getOrElse(0L)
    val nLive = l.map(_.count()).getOrElse(0L)
    // The family contract (DedupIndex.doctor) counts LIVE duplicates: a
    // remove→re-add legitimately leaves a dead old-gen row beside the
    // live re-add, so raw >1-row counting would flag a healthy store
    // forever (until compact). A genuine anti-join violation is >1 row
    // AT the asset's max generation — the tie live()'s fold collapses
    // silently. One pass: per-(asset, gen) counts, then the count
    // riding the max gen via the struct-max trick.
    val dupLive = h.map(_.groupBy("asset_id", "gen").count()
      .groupBy("asset_id")
      .agg(max(struct(col("gen"), col("count"))).as("m"))
      .where(col("m.count") > 1).count()).getOrElse(0L)
    val orphanBands = (b, h) match {
      case (Some(bb), Some(hh)) =>
        bb.join(hh.select("asset_id"), Seq("asset_id"), "left_anti").count()
      case (Some(bb), None) => bb.count()
      case _ => 0L
    }
    val underBanded = (b, l) match {
      case (Some(bb), Some(ll)) =>
        ll.join(bb.groupBy("asset_id").count(), Seq("asset_id"), "left")
          .where(col("count").isNull || col("count") < 8).count()
      case (None, Some(ll)) => ll.count()
      case _ => 0L
    }
    val staleAsides = graft.store.GenLedger.staleAsides(spark, dir, Tables)
    Seq((nRows, nLive, nRows - nLive, dupLive, orphanBands, underBanded,
      staleAsides))
      .toDF("n_rows", "n_live", "dead_rows", "dup_live_memberships",
        "orphan_bands", "under_banded_live", "stale_asides")
  }

  /** Reclaim dead state: live fingerprints re-stamped at one fresh
    * generation (outranking every tombstone through any crash window),
    * bands regenerated from the live frame (reclaiming orphans and
    * stale postings by construction), tombs dropped. */
  def compact(spark: SparkSession, dir: String, numFiles: Int = 8): Unit =
      graft.store.WriterLock.forIndex(spark, dir).withLock {
    guardCompaction(spark, dir)
    live(spark, dir) match {
      case None => ()
      case Some(l) =>
        val frozen = l.localCheckpoint(true)
        val foldGen = nextGen(spark, dir)
        graft.store.GenLedger.swapIn(spark, hashesPath(dir),
          frozen.select(col("asset_id"), col("hash"), lit(foldGen).as("gen")),
          numFiles)
        graft.store.GenLedger.swapIn(spark, bandsPath(dir),
          HammingLsh.bandRows(frozen.select("asset_id", "hash"))
            .select("band", "byte", "asset_id", "hash"),
          numFiles)
        graft.store.GenLedger.retireTombs(spark, dir)
    }
  }
}
