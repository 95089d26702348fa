package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Contract for the persistent perceptual screen ([[MediaIndex]] — the
  * media member of the index-service family):
  *
  *  - N incremental screen rounds ≡ the one-shot batch pairing: adding
  *    the fixture's encoding generations in separate batches emits the
  *    SAME pair set m4's one-shot HammingLsh pass finds (re-encode
  *    pairs forced through the cross-generation path);
  *  - replayed batches are membership no-ops (exactly-once membership
  *    from at-least-once delivery);
  *  - removed assets stop being screen partners, and remove→re-add
  *    works (generation outranking);
  *  - doctor reports a healthy store clean, sees orphan bands (the
  *    crash-window debris class), and compact reclaims them;
  *  - compact preserves the live set and the screen's behavior.
  */
class MediaIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("media_index_spec")
    new java.io.File(d.toFile, "idx").getAbsolutePath
  }

  /** Codec-real hashes for (doc, enc) pairs. */
  private def hashesFor(pairs: Seq[(Long, Int)]) = {
    import spark.implicits._
    ImagePhash.avgHash(ImagePhash.synthAssetRows(pairs.toDF("doc_id", "enc")))
      .toDF.select("asset_id", "hash")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] = {
    import spark.implicits._
    df.select("asset_a", "asset_b", "hamming").as[(Long, Long, Int)].collect().toSet
  }

  test("incremental screen rounds == one-shot pairing; replay is a no-op") {
    val dir = freshDir()
    val docs = 0L to 19L
    val enc0 = docs.map(_ -> 0)
    val enc1 = docs.filter(_ % 2 == 0).map(_ -> 1)
    val enc2 = docs.filter(_ % 3 == 0).map(_ -> 2)

    val got = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    for (batch <- Seq(enc0, enc1, enc2))
      got ++= pairSet(MediaIndex.checkAndAdd(spark, dir, hashesFor(batch)))

    val oneShot = pairSet(HammingLsh.nearDupPairs(
      hashesFor(enc0 ++ enc1 ++ enc2)))
    assert(got.toSet == oneShot)
    // the re-encode pairs were found CROSS-generation (enc1 landed
    // after enc0): they are in the set
    for (id <- docs if id % 2 == 0) assert(got.contains((id * 4, id * 4 + 1, 0)))

    // replay of an already-committed batch: no pairs, no new membership
    val before = MediaIndex.doctor(spark, dir).head()
    val replay = pairSet(MediaIndex.checkAndAdd(spark, dir, hashesFor(enc1)))
    assert(replay.isEmpty)
    val after = MediaIndex.doctor(spark, dir).head()
    assert(before.getAs[Long]("n_live") == after.getAs[Long]("n_live"))
    assert(after.getAs[Long]("dup_live_memberships") == 0L)
  }

  test("remove stops screening; re-add outranks the tombstone") {
    val dir = freshDir()
    MediaIndex.checkAndAdd(spark, dir, hashesFor(Seq(6L -> 0)))
    MediaIndex.remove(spark, dir, Seq(6L * 4))
    // the BMP re-encode of doc 6 lands: its Hamming-0 partner is dead
    val p1 = pairSet(MediaIndex.checkAndAdd(spark, dir, hashesFor(Seq(6L -> 1))))
    assert(p1.isEmpty, s"removed asset still screened: $p1")
    // re-add the PNG: it must re-enter (gen outranks tombstone) and now
    // pair against the live BMP
    val p2 = pairSet(MediaIndex.checkAndAdd(spark, dir, hashesFor(Seq(6L -> 0))))
    assert(p2 == Set((6L * 4, 6L * 4 + 1, 0)))

    // The re-add leaves a dead old-gen row beside the live one — an
    // ORDINARY state, not an anti-join violation: the doctor must not
    // flag it as a duplicate live membership (the family contract
    // counts live rows; the raw excess shows under dead_rows until
    // compact).
    val d = MediaIndex.doctor(spark, dir).head()
    assert(d.getAs[Long]("dup_live_memberships") == 0L)
    assert(d.getAs[Long]("dead_rows") > 0L)
  }

  test("doctor sees orphan bands; compact reclaims them and preserves the screen") {
    import spark.implicits._
    val dir = freshDir()
    MediaIndex.checkAndAdd(spark, dir, hashesFor(Seq(1L -> 0, 2L -> 0, 6L -> 0)))
    // crash-window debris: band rows whose membership never committed
    Seq((0, 7, 999L, 123456789L)).toDF("band", "byte", "asset_id", "hash")
      .write.mode("append").parquet(s"$dir/bands")
    val d1 = MediaIndex.doctor(spark, dir).head()
    assert(d1.getAs[Long]("orphan_bands") == 1L)
    assert(d1.getAs[Long]("under_banded_live") == 0L)

    MediaIndex.compact(spark, dir)
    val d2 = MediaIndex.doctor(spark, dir).head()
    assert(d2.getAs[Long]("orphan_bands") == 0L)
    assert(d2.getAs[Long]("n_live") == 3L)
    assert(d2.getAs[Long]("dead_rows") == 0L)

    // the screen still works from the compacted state
    val p = pairSet(MediaIndex.checkAndAdd(spark, dir, hashesFor(Seq(6L -> 1))))
    assert(p == Set((6L * 4, 6L * 4 + 1, 0)))
  }

  test("interrupted swap: guard refuses, repair(dryRun) touches nothing, repair fixes") {
    val dir = freshDir()
    MediaIndex.checkAndAdd(spark, dir, hashesFor(Seq(1L -> 0, 2L -> 0)))
    // simulate a crash mid-swap: hashes renamed aside, never renamed back
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/hashes"),
      new org.apache.hadoop.fs.Path(s"$dir/hashes.old"))
    intercept[RuntimeException] {
      MediaIndex.checkAndAdd(spark, dir, hashesFor(Seq(6L -> 0)))
    }
    val dry = MediaIndex.repair(spark, dir, dryRun = true).collect()
    assert(dry.exists(r => r.getString(1) == "interrupted_swap_no_live"
      && !r.getBoolean(3)))
    // dryRun touched nothing: still refused
    intercept[RuntimeException] {
      MediaIndex.checkAndAdd(spark, dir, hashesFor(Seq(6L -> 0)))
    }
    MediaIndex.repair(spark, dir, dryRun = false)
    val p = pairSet(MediaIndex.checkAndAdd(spark, dir, hashesFor(Seq(2L -> 1))))
    assert(p == Set((2L * 4, 2L * 4 + 1, 0))) // store fully recovered
  }

  test("remove then compact physically reclaims the dead rows") {
    val dir = freshDir()
    MediaIndex.checkAndAdd(spark, dir, hashesFor(Seq(1L -> 0, 2L -> 0)))
    MediaIndex.remove(spark, dir, Seq(1L * 4))
    val d1 = MediaIndex.doctor(spark, dir).head()
    assert(d1.getAs[Long]("n_live") == 1L)
    assert(d1.getAs[Long]("dead_rows") == 1L)
    MediaIndex.compact(spark, dir)
    val d2 = MediaIndex.doctor(spark, dir).head()
    assert(d2.getAs[Long]("n_live") == 1L)
    assert(d2.getAs[Long]("dead_rows") == 0L)
    // tombs dropped; a fresh add of the removed asset re-enters cleanly
    val p = pairSet(MediaIndex.checkAndAdd(spark, dir, hashesFor(Seq(1L -> 0))))
    assert(p.isEmpty) // doc 1 has no partner among {1,2}
    assert(MediaIndex.doctor(spark, dir).head().getAs[Long]("n_live") == 2L)
  }

  test("doctor reports stale asides; repair clears exactly what it reports") {
    val dir = freshDir()
    MediaIndex.checkAndAdd(spark, dir, hashesFor(Seq(1L -> 0, 2L -> 0)))
    assert(MediaIndex.doctor(spark, dir).head().getAs[Int]("stale_asides") == 0)
    // a completed swap's leftover and an aborted aside write
    assert(new java.io.File(s"$dir/hashes.old").mkdirs())
    assert(new java.io.File(s"$dir/bands.compacting").mkdirs())
    assert(MediaIndex.doctor(spark, dir).head().getAs[Int]("stale_asides") == 2)
    val fixed = MediaIndex.repair(spark, dir, dryRun = false).collect()
    assert(fixed.length == 2 && fixed.forall(_.getBoolean(3)))
    val d = MediaIndex.doctor(spark, dir).head()
    assert(d.getAs[Int]("stale_asides") == 0)
    assert(d.getAs[Long]("n_live") == 2L)
  }
}
