package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The incremental refresh's exactness contract: any batching of a
  * corpus through successive [[CorpusRefresh.refresh]] calls must leave
  * [[CorpusRefresh.prepared]] equal, row for row, to
  * [[CorpusEtl.prepare]] run from scratch on the union — including the
  * cross-batch cases with no per-batch shortcut (a new edge merging two
  * old clusters; a smaller-id exact twin demoting an old keeper), and
  * the crash window (replay of a refresh that died before its commit
  * marker).
  */
class CorpusRefreshSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.select("doc_id", "lang", "n_tokens", "n_copies", "cluster_size",
        "n_emails", "n_phones", "n_ssns", "redacted")
      .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])

  test("two batches equal the from-scratch prepare, bit-for-bit") {
    val dir = Files.createTempDirectory("graft-refresh").toString
    val docs = Tables.documents(spark, sf)
    CorpusRefresh.refresh(spark, dir, docs.where(col("doc_id") % 2 === 1))
    CorpusRefresh.refresh(spark, dir, docs.where(col("doc_id") % 2 === 0))
    val expected = rows(CorpusEtl.prepare(docs))
    assert(expected.nonEmpty)
    assert(rows(CorpusRefresh.prepared(spark, dir)) == expected)
  }

  test("cross-batch exact twin demotes the old keeper; clusters merge across batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-refresh2").toString
    def d(id: Long, text: String) = (id, "en", text)
    // batch 1: doc 10 (keeper of its hash), near-dup partner 11, and an
    // unrelated 12; batch 2: doc 2 with IDENTICAL text to 10 (smaller id
    // → exact-keeper demotion 10→2, and 2 must inherit 10's near-dup
    // edge to 11), plus a bridge doc 13 near-dup of BOTH 11 and 12,
    // merging two previously-separate clusters
    val t10 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t11 = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val t12 = "one two three four five six seven eight nine ten"
    val t13 = "alpha beta gamma delta epsilon zeta eta theta nine ten one two three four five six"
    val b1 = Seq(d(10, t10), d(11, t11), d(12, t12)).toDF("doc_id", "lang", "text")
    val b2 = Seq(d(2, t10), d(13, t13)).toDF("doc_id", "lang", "text")
    CorpusRefresh.refresh(spark, dir, b1)
    CorpusRefresh.refresh(spark, dir, b2)
    val expected = rows(CorpusEtl.prepare(b1.unionByName(b2)))
    val got = rows(CorpusRefresh.prepared(spark, dir))
    assert(got == expected)
    // and the fixture actually exercised what it claims: doc 2 is a
    // canonical keeper, doc 10 is gone (demoted exact twin)
    val ids = got.map(_.head.asInstanceOf[Long]).toSet
    assert(ids.contains(2L) && !ids.contains(10L),
      s"demotion not exercised: canonical ids $ids")
    val copies = got.find(_.head == 2L).get(3)
    assert(copies == 2, s"doc 2 must represent both exact copies, got $copies")
  }

  test("replay of a refresh that died before its commit marker heals exactly") {
    val dir = Files.createTempDirectory("graft-refresh3").toString
    val docs = Tables.documents(spark, sf)
    val (b1, b2) = (docs.where(col("doc_id") % 2 === 1),
      docs.where(col("doc_id") % 2 === 0))
    CorpusRefresh.refresh(spark, dir, b1)
    CorpusRefresh.refresh(spark, dir, b2)
    // simulate the crash: batch 2's exact rows + index + pairs + scrub
    // all landed, but the writer died before creating _commit_ — readers
    // must see only batch 1...
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("_commit_")).sorted
    fs.delete(new org.apache.hadoop.fs.Path(dir, markers.last), false)
    assert(rows(CorpusRefresh.prepared(spark, dir)) ==
      rows(CorpusEtl.prepare(b1)),
      "uncommitted refresh visible to readers")
    // ...and replaying the batch lands on the full-union state exactly
    CorpusRefresh.refresh(spark, dir, b2)
    assert(rows(CorpusRefresh.prepared(spark, dir)) ==
      rows(CorpusEtl.prepare(docs)))
  }

  test("takedown equals the from-scratch prepare on the surviving union") {
    val dir = Files.createTempDirectory("graft-takedown").toString
    val docs = Tables.documents(spark, sf)
    CorpusRefresh.refresh(spark, dir, docs.where(col("doc_id") % 2 === 1))
    CorpusRefresh.refresh(spark, dir, docs.where(col("doc_id") % 2 === 0))
    val victims = docs.where(col("doc_id") % 7 === 3)
    val survivors = docs.where(col("doc_id") % 7 =!= 3)
    CorpusRefresh.remove(spark, dir, victims.select("doc_id"))
    val expected = rows(CorpusEtl.prepare(survivors))
    assert(expected.nonEmpty)
    assert(rows(CorpusRefresh.prepared(spark, dir)) == expected)
    // a COMMITTED remove replays as a no-op (takedown ids are durable
    // tombstones, not one-shot state)
    CorpusRefresh.remove(spark, dir, victims.select("doc_id"))
    assert(rows(CorpusRefresh.prepared(spark, dir)) == expected)
    // removing ids never fed / already removed / filtered at entry: no-op
    import spark.implicits._
    CorpusRefresh.remove(spark, dir, Seq(999999L).toDF("doc_id"))
    assert(rows(CorpusRefresh.prepared(spark, dir)) == expected)
  }

  test("components cache: generation-keyed, crashed asides inert, delete-safe") {
    val dir = Files.createTempDirectory("graft-compcache").toString
    val docs = Tables.documents(spark, sf)
    CorpusRefresh.refresh(spark, dir, docs)
    val before = rows(CorpusRefresh.prepared(spark, dir))
    // first serve materialized the labels under the current generation
    val cache = new java.io.File(s"$dir/compcache")
    assert(cache.exists && cache.listFiles().nonEmpty,
      "first serve must materialize the components cache")
    // a crashed write-aside (renamed-never) must be invisible to serves
    assert(new java.io.File(s"$dir/compcache/.tmp_dead").mkdirs())
    assert(rows(CorpusRefresh.prepared(spark, dir)) == before)
    // deleting the cache is always safe: the next serve recomputes and
    // re-materializes the identical labels
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(cache)
    assert(rows(CorpusRefresh.prepared(spark, dir)) == before)
    assert(cache.exists, "serve after a cache wipe must re-materialize")
    // a mutation moves to a fresh generation: the old entry is never
    // consulted — the post-takedown serve equals the from-scratch
    // prepare on the survivors, not the cached pre-takedown labels
    CorpusRefresh.remove(spark, dir,
      docs.where(col("doc_id") % 5 === 2).select("doc_id"))
    assert(rows(CorpusRefresh.prepared(spark, dir)) ==
      rows(CorpusEtl.prepare(docs.where(col("doc_id") % 5 =!= 2))))
  }

  test("takedown handover: removed keeper's memberships transfer to its exact twin") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-takedown2").toString
    def d(id: Long, text: String) = (id, "en", text)
    val t10 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t11 = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val t12 = "one two three four five six seven eight nine ten"
    // 2 and 10 are byte-identical (keeper 2); 11 is 2's near-dup; 12
    // unrelated; 5 and 6 byte-identical and BOTH removed (orphan case)
    val t5 = "red orange yellow green blue indigo violet pink brown black"
    val all = Seq(d(2, t10), d(10, t10), d(11, t11), d(12, t12),
      d(5, t5), d(6, t5)).toDF("doc_id", "lang", "text")
    CorpusRefresh.refresh(spark, dir, all)
    // remove keeper 2 (handover 2→10: 10 must inherit the near-dup edge
    // to 11 and 2's scrub row) and the whole {5,6} hash (orphan)
    CorpusRefresh.remove(spark, dir, Seq(2L, 5L, 6L).toDF("doc_id"))
    val survivors = all.where(!col("doc_id").isin(2L, 5L, 6L))
    val got = rows(CorpusRefresh.prepared(spark, dir))
    assert(got == rows(CorpusEtl.prepare(survivors)))
    // the fixture exercised what it claims: 10 took the hash over and
    // kept the near-dup cluster with 11 (cluster_size 2)
    val r10 = got.find(_.head == 10L).get
    assert(r10(3) == 1 && r10(4) == 2,
      s"handover not exercised: row for doc 10 = $r10")
    assert(!got.exists(r => Set(2L, 5L, 6L).contains(r.head.asInstanceOf[Long])))
  }

  test("batchId makes a re-fed committed batch a no-op; crash replay still heals") {
    val dir = Files.createTempDirectory("graft-refresh-idem").toString
    val docs = Tables.documents(spark, sf)
    val (b1, b2) = (docs.where(col("doc_id") % 2 === 1),
      docs.where(col("doc_id") % 2 === 0))
    CorpusRefresh.refresh(spark, dir, b1, batchId = Some("batch-1"))
    CorpusRefresh.refresh(spark, dir, b2, batchId = Some("batch-2"))
    val expected = rows(CorpusRefresh.prepared(spark, dir))
    // at-least-once delivery: the committed batch arrives again — the
    // marker-recorded id must no-op it, NOT double-count n_copies
    CorpusRefresh.refresh(spark, dir, b2, batchId = Some("batch-2"))
    assert(rows(CorpusRefresh.prepared(spark, dir)) == expected)
    // but an UNCOMMITTED crash of a new batch must still replay: kill
    // the marker of a third refresh and re-feed with the same id
    val b3 = docs.where(col("doc_id") % 5 === 0) // overlaps b2: still exact
    CorpusRefresh.refresh(spark, dir, b3.limit(0), batchId = Some("noop"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("_commit_")).sorted
    fs.delete(new org.apache.hadoop.fs.Path(dir, markers.last), false)
    CorpusRefresh.refresh(spark, dir, b3.limit(0), batchId = Some("noop"))
    assert(rows(CorpusRefresh.prepared(spark, dir)) == expected)
  }

  test("compact: prepared() identical before/after; files, markers and tombstones fold") {
    val dir = Files.createTempDirectory("graft-refresh-compact").toString
    val docs = Tables.documents(spark, sf)
    CorpusRefresh.refresh(spark, dir, docs.where(col("doc_id") % 3 === 0),
      batchId = Some("b0"))
    CorpusRefresh.refresh(spark, dir, docs.where(col("doc_id") % 3 === 1),
      batchId = Some("b1"))
    CorpusRefresh.refresh(spark, dir, docs.where(col("doc_id") % 3 === 2),
      batchId = Some("b2"))
    CorpusRefresh.remove(spark, dir,
      docs.where(col("doc_id") % 7 === 3).select("doc_id"))
    val expected = rows(CorpusRefresh.prepared(spark, dir))

    val report = CorpusRefresh.compact(spark, dir, numFiles = 1)
    assert(rows(CorpusRefresh.prepared(spark, dir)) == expected,
      "compaction must not move the served corpus")
    assert(report("exact")._2 <= 1 && report("copies")._2 <= 1,
      s"fold did not shrink: $report")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).toSeq
    assert(names.count(_.startsWith("_commit_")) == 1,
      s"markers must collapse to the fold generation: $names")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/removed")),
      "spent removal tombstones must be reclaimed")
    // batch idempotence SURVIVES compaction (tags live on as stubs)
    CorpusRefresh.refresh(spark, dir, docs.where(col("doc_id") % 3 === 1),
      batchId = Some("b1"))
    assert(rows(CorpusRefresh.prepared(spark, dir)) == expected)
    // and the folded state keeps working: refresh + remove on top
    CorpusRefresh.remove(spark, dir,
      docs.where(col("doc_id") % 11 === 5).select("doc_id"))
    assert(rows(CorpusRefresh.prepared(spark, dir)) ==
      rows(CorpusEtl.prepare(docs.where(
        col("doc_id") % 7 =!= 3 && col("doc_id") % 11 =!= 5))))
  }

  test("interrupted compaction swap is refused until recovered") {
    val dir = Files.createTempDirectory("graft-refresh-guard").toString
    val docs = Tables.documents(spark, sf)
    CorpusRefresh.refresh(spark, dir, docs.where(col("doc_id") % 2 === 1))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/exact.old"))
    for (op <- Seq(
        () => CorpusRefresh.refresh(spark, dir, docs.limit(1)),
        () => CorpusRefresh.remove(spark, dir, docs.limit(1).select("doc_id")),
        () => CorpusRefresh.compact(spark, dir))) {
      val e = intercept[RuntimeException](op())
      assert(e.getMessage.contains("exact.old"), e.getMessage)
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/exact.old"), true)
    CorpusRefresh.refresh(spark, dir, docs.where(col("doc_id") % 2 === 0))
    assert(rows(CorpusRefresh.prepared(spark, dir)) ==
      rows(CorpusEtl.prepare(docs)))
  }

  test("replay of a remove that died before its commit marker heals exactly") {
    val dir = Files.createTempDirectory("graft-remove-replay").toString
    val docs = Tables.documents(spark, sf)
    CorpusRefresh.refresh(spark, dir, docs)
    val victims = docs.where(col("doc_id") % 7 === 3)
    CorpusRefresh.remove(spark, dir, victims.select("doc_id"))
    // simulate the crash: every append of the remove landed (index ops,
    // re-keyed pairs, scrub copies, tombstones, exact rows) but the
    // commit marker never did — readers must still see the PRE-remove
    // corpus (the index being a step ahead is invisible to prepared())
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("_commit_")).sorted
    fs.delete(new org.apache.hadoop.fs.Path(dir, markers.last), false)
    assert(rows(CorpusRefresh.prepared(spark, dir)) ==
      rows(CorpusEtl.prepare(docs)),
      "uncommitted remove visible to readers")
    // replaying the same call converges index and exact state
    CorpusRefresh.remove(spark, dir, victims.select("doc_id"))
    assert(rows(CorpusRefresh.prepared(spark, dir)) ==
      rows(CorpusEtl.prepare(docs.where(col("doc_id") % 7 =!= 3))))
  }

  test("doctor: clean when healthy; handover keeps the scrub invariant; debris counted") {
    val dir = Files.createTempDirectory("graft-refresh-doctor").toString
    val docs = Tables.documents(spark, sf)
    CorpusRefresh.refresh(spark, dir, docs.where(col("doc_id") % 2 === 0))
    CorpusRefresh.refresh(spark, dir, docs.where(col("doc_id") % 2 =!= 0))

    def report(): (Long, Long, Long, Long, Int, Long) = {
      val r = CorpusRefresh.doctor(spark, dir).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4),
        r.getLong(5))
    }
    val (h0, c0, u0, m0, s0, d0) = report()
    assert(h0 > 0L && c0 >= h0, s"resolved state looks wrong: $h0 hashes / $c0 copies")
    assert((u0, m0, s0, d0) == ((0L, 0L, 0, 0L)), "healthy state must audit clean")

    // takedown including exact-dup keepers: handovers re-key scrub rows,
    // so the assembly invariant (every live keeper has a scrub row)
    // must hold THROUGH the takedown, not just before it
    CorpusRefresh.remove(spark, dir,
      docs.where(col("doc_id") % 5 === 2).select("doc_id"))
    val (h1, c1, u1, m1, s1, d1) = report()
    assert(h1 <= h0 && c1 < c0)
    assert((u1, m1, s1, d1) == ((0L, 0L, 0, 0L)),
      s"takedown must leave a clean audit: missing_scrub=$m1 torn=$u1")

    // debris of a refresh that died pre-commit: counted, invisible
    spark.range(1).select(lit(999L).as("gen"), lit("deadbeef").as("content_hash"),
        lit(1L).as("keeper_id"), lit(1).as("n_copies"), lit("en").as("lang"),
        lit(10L).as("n_tokens"))
      .write.mode("append").parquet(s"$dir/exact")
    assert(report()._3 == 1L, "uncommitted exact row must be counted")
    assert(report()._1 == h1, "uncommitted row must not change resolution")

    // stale swap aside: doctor reads, writers would refuse
    assert(new java.io.File(s"$dir/copies.old").mkdirs())
    assert(report()._5 == 1)
    assert(new java.io.File(s"$dir/copies.old").delete())

    // compact reclaims the debris; the audit is clean after
    CorpusRefresh.compact(spark, dir)
    val (h2, c2, u2, m2, s2, d2) = report()
    assert((h2, c2) == ((h1, c1)), "compact must not change resolved state")
    assert((u2, m2, s2, d2) == ((0L, 0L, 0, 0L)), "post-compact audit must be clean")
  }

  test("preparedMeta is prepared's metadata projection after refreshes and a takedown") {
    val dir = Files.createTempDirectory("graft-refresh-meta").toString
    val docs = Tables.documents(spark, sf)
    def meta(df: DataFrame): Seq[Seq[Any]] =
      df.select("doc_id", "lang", "n_tokens", "n_copies", "cluster_size")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    def check(): Unit = assert(meta(CorpusRefresh.preparedMeta(spark, dir)) ==
      meta(CorpusRefresh.prepared(spark, dir)))
    check() // empty state
    CorpusRefresh.refresh(spark, dir, docs.where(col("doc_id") % 2 === 1))
    CorpusRefresh.refresh(spark, dir, docs.where(col("doc_id") % 2 === 0))
    check()
    CorpusRefresh.remove(spark, dir, docs.where(col("doc_id") % 7 === 3).select("doc_id"))
    assert(meta(CorpusRefresh.preparedMeta(spark, dir)).nonEmpty)
    check()
  }
}
