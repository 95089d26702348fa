package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Contract for the BQ sidecar ([[BqSidecar]]) — exactness is gated by
  * v14b's oracle; this spec pins the FRESHNESS semantics the scaladoc
  * promises:
  *  - a vector ADDED after refresh is not served until the next refresh
  *    (the materialized-view lag);
  *  - a vector REMOVED after refresh vanishes from serve IMMEDIATELY
  *    (live-membership semi-join — takedowns never wait on a rebuild);
  *  - refresh is idempotent and crash-safe to re-run (the swap
  *    primitive), and re-running it after changes converges serve to
  *    the current live set.
  */
class BqSidecarSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def emb(id: Long): Array[Float] =
    Array.tabulate(64)(d => (((id * 31 + d * 7) % 13).toFloat - 6f) / 8f)

  private def embDF(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(id => (id, emb(id).toSeq)).toDF("vec_id", "embedding")
  }

  private def servedIds(dir: String): Set[Long] = {
    import spark.implicits._
    val q = embDF(Seq(0L)).select(col("vec_id").as("qid"),
      col("embedding").as("qe"))
    BqSidecar.serve(spark, dir, q, k = 50, depth = 50)
      .select("nid").as[Long].collect().toSet
  }

  test("refresh-lag on add; immediate takedown on remove; re-refresh converges") {
    val dir = new java.io.File(
      java.nio.file.Files.createTempDirectory("bq_sidecar_spec").toFile,
      "idx").getAbsolutePath
    VectorIndex.build(spark, dir, embDF(0L to 9L), k = 2)
    BqSidecar.refresh(spark, dir)
    assert(servedIds(dir) == (1L to 9L).toSet) // all but the query itself

    // add AFTER refresh: not served yet (snapshot lag, priced like c1b)
    VectorIndex.add(spark, dir, embDF(Seq(100L)))
    assert(servedIds(dir) == (1L to 9L).toSet)

    // remove AFTER refresh: vanishes immediately (live semi-join)
    import spark.implicits._
    VectorIndex.remove(spark, dir, Seq(5L).toDF("vec_id"))
    assert(servedIds(dir) == (1L to 9L).toSet - 5L)

    // re-refresh: converges to the current live set (add in, removal out)
    BqSidecar.refresh(spark, dir)
    assert(servedIds(dir) == ((1L to 9L).toSet - 5L) + 100L)

    // idempotent re-run: same answer
    BqSidecar.refresh(spark, dir)
    assert(servedIds(dir) == ((1L to 9L).toSet - 5L) + 100L)
  }

  test("stats+words flip atomically: torn refresh is invisible; repair reclaims") {
    val dir = new java.io.File(
      java.nio.file.Files.createTempDirectory("bq_sidecar_atomic").toFile,
      "idx").getAbsolutePath
    VectorIndex.build(spark, dir, embDF(0L to 9L), k = 2)
    BqSidecar.refresh(spark, dir)
    val before = servedIds(dir)

    // Simulate a crash mid-refresh: a NEWER version dir exists (with
    // poisoned contents — wrong stats would skew every query word) but
    // no commit marker. Serve must keep answering from the committed
    // version, untouched.
    val bq = new java.io.File(dir, "bq")
    val committed = bq.listFiles.map(_.getName).filter(_.startsWith("_commit_"))
      .max.stripPrefix("_commit_")
    val torn = f"v${committed.drop(1).toInt + 1}%08d"
    val src = new java.io.File(bq, committed).toPath
    val dst = new java.io.File(bq, torn).toPath
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    assert(servedIds(dir) == before)

    // repair: dryRun lists the uncommitted dir without touching it;
    // applied reclaims it
    val listed = BqSidecar.repair(spark, dir, dryRun = true)
    assert(listed.exists { case (v, damage, _, applied) =>
      v == torn && damage == "uncommitted_dir" && !applied })
    assert(new java.io.File(bq, torn).exists)
    val applied = BqSidecar.repair(spark, dir, dryRun = false)
    assert(applied.exists { case (v, _, _, ok) => v == torn && ok })
    assert(!new java.io.File(bq, torn).exists)
    assert(servedIds(dir) == before)

    // Dangling marker (marker, no dir): resolution would land on it and
    // break every read — repair deletes the marker, reads resolve back.
    val danglingV = f"v${committed.drop(1).toInt + 2}%08d"
    new java.io.File(bq, "_commit_" + danglingV).createNewFile()
    val fixed = BqSidecar.repair(spark, dir, dryRun = false)
    assert(fixed.exists { case (v, damage, _, ok) =>
      v == danglingV && damage == "dangling_marker" && ok })
    assert(servedIds(dir) == before)
  }

  test("a torn refresh does not block the next refresh; serve answers from the new version") {
    val dir = new java.io.File(
      java.nio.file.Files.createTempDirectory("bq_sidecar_torn").toFile,
      "idx").getAbsolutePath
    VectorIndex.build(spark, dir, embDF(0L to 9L), k = 2)
    BqSidecar.refresh(spark, dir)

    // the same torn state as the atomic test: a full copy of the
    // committed version at the next name, with no commit marker
    val bq = new java.io.File(dir, "bq")
    def committed(): String = bq.listFiles.map(_.getName)
      .filter(_.startsWith("_commit_")).max.stripPrefix("_commit_")
    val live = committed()
    val torn = f"v${live.drop(1).toInt + 1}%08d"
    val src = new java.io.File(bq, live).toPath
    val dst = new java.io.File(bq, torn).toPath
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }

    // no repair: the next refresh claims the torn name and commits it
    VectorIndex.add(spark, dir, embDF(Seq(100L)))
    BqSidecar.refresh(spark, dir)
    assert(committed() == torn)
    assert(servedIds(dir) == (1L to 9L).toSet + 100L)
  }
}
