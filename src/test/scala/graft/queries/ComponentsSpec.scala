package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hash-min label propagation vs a driver-side union-find on random
  * graphs: every node must land in the component of its true minimum
  * reachable id. */
class ComponentsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(x => x -> find(x)).toMap
  }

  test("random graphs: components equal union-find roots") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 120
      val edges = Seq.fill(90)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val got = Components.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(n, edges)
      assert(got == want, s"trial $trial")
    }
  }

  test("a long chain converges (worst-case diameter)") {
    val chain = (0L until 30L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = Components.connectedComponents(chain.toDF("a", "b"), maxIters = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(0L))
    assert(got.size == 30)
  }

  test("star variant: random graphs equal union-find roots") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val n = 120
      val edges = Seq.fill(90)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val got = Components.connectedComponentsStar(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(n, edges)
      assert(got == want, s"trial $trial")
    }
  }

  test("star variant: a 200-node chain converges in logarithmic rounds") {
    // hash-min would need ~200 rounds here; alternating stars must land
    // well inside the default cap — this is the scale property the
    // variant exists for.
    val chain = (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = Components.connectedComponentsStar(chain.toDF("a", "b"), maxIters = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(0L))
    assert(got.size == 200)
  }

  test("star variant: round COUNT stays logarithmic on a hash-scrambled chain") {
    // d13b's topology at unit-test scale: nodes chained in an order
    // decorrelated from their ids (multiplicative scramble), so minima
    // sit mid-chain and no id-locality helps. The round count — not
    // just the output — is the scale contract: diameter 400 must close
    // in ~2·log₂(d) alternating-star rounds, where hash-min would need
    // ~400. The bound leaves slack for the final confirm-free detection
    // round; the hard assertion is "double digits at most".
    val n = 400
    val perm = (0 until n).sortBy(i => (i * 48271) % 65537)
    val chain = perm.sliding(2).map(s => (s(0).toLong, s(1).toLong)).toSeq
    val (df, rounds) =
      Components.connectedComponentsStarStats(chain.toDF("a", "b"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.toSet == Set(0L))
    val bound = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt + 2
    assert(rounds <= bound, s"star rounds $rounds exceed O(log) bound $bound")
  }

  test("star variant: a two-parent child is NOT treated as a fixpoint") {
    // Regression lock for the early-stop's exact characterization: edges
    // {(3,1),(3,2)} have disjoint child/parent sets (3 vs {1,2}) but are
    // NOT a proper star forest — node 3 keeps two parents, the next
    // small-star still rewires, and 1,2,3 are ONE component. A fixpoint
    // test missing the single-parent requirement stops here and labels
    // 2 as its own component (observed while deriving the check).
    val got = Components.connectedComponentsStar(
        Seq((3L, 1L), (3L, 2L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("star variant: an already-star-forest input converges with zero rounds") {
    // The early-stop checks the INPUT too: a proper star forest (every
    // child one parent, parents never children, roots the minima) is
    // already the fixpoint, so the loop must not run — and must still
    // label correctly, including the isolated self-pair node.
    val got = Components.connectedComponentsStar(
        Seq((2L, 1L), (3L, 1L), (5L, 4L), (6L, 6L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("star variant: agrees with hash-min on clustered near-dup shapes") {
    val rnd = new scala.util.Random(31)
    // dense clusters + bridges — the d7 regime
    val edges = (for (c <- 0 until 8) yield {
      val base = c * 20L
      Seq.fill(25)((base + rnd.nextInt(12), base + rnd.nextInt(12)))
    }).flatten.filter(e => e._1 != e._2) ++ Seq((0L, 20L), (40L, 60L))
    val a = Components.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Components.connectedComponentsStar(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("star variant: self-pair-only nodes label themselves (contract parity)") {
    val pairs = Seq((1L, 2L), (7L, 7L)).toDF("a", "b")
    val star = Components.connectedComponentsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hashMin = Components.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
    assert(star == hashMin)
  }

  test("star variant fuzz: mixed adversarial topologies under permuted ids") {
    // The star loop's round-5 shape (no dedup between the two star
    // passes, static loop conf) must stay exact on the shapes that
    // stress it: long chains (doubling depth), rings (no degree-1
    // endpoints), hub stars (max duplicate (u,v) fan-in between the
    // passes), cliques (dense min propagation) — and with node ids
    // PERMUTED so minima sit at arbitrary topological positions, not
    // at chain heads.
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 5) {
      val perm = rnd.shuffle((0L until 400L).toVector)
      def p(i: Int): Long = perm(i)
      val chain = (0 until 99).map(i => (p(i), p(i + 1)))
      val ring = (100 until 180).map(i => (p(i), p(if (i == 179) 100 else i + 1)))
      val hub = (201 until 260).map(i => (p(200), p(i)))
      val clique = for (i <- 300 until 312; j <- (i + 1) until 312) yield (p(i), p(j))
      val bridges = Seq((p(99), p(100)), (p(179), p(200)))
      val isolated = Seq((p(399), p(399)))
      val edges = rnd.shuffle(chain ++ ring ++ hub ++ clique ++ bridges ++ isolated)
      val df = edges.toDF("a", "b")
      val got = Components.connectedComponentsStar(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(400, edges)
      assert(got == want, s"trial $trial diverged from union-find")
    }
  }

  test("star children-only variant ≡ roster form after self-label coalesce") {
    // mixed topology: chain + clique + a self-pair-only node + a root
    // with no children of its own
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 20L))
    val df = edges.toDF("a", "b")
    val roster = Components.connectedComponentsStar(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val children = Components.connectedComponentsStarChildren(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // children rows agree with the roster labels...
    for ((n, c) <- children) assert(roster(n) == c, s"node $n")
    // ...and every node ABSENT from children is its own component in
    // the roster form (roots + self-pair-only nodes label themselves)
    for ((n, c) <- roster if !children.contains(n))
      assert(n == c, s"absent node $n labeled $c")
  }

  test("disjoint cliques keep separate canonical ids") {
    val cliqueA = for (i <- 0 to 3; j <- (i + 1) to 3) yield (i.toLong, j.toLong)
    val cliqueB = for (i <- 10 to 13; j <- (i + 1) to 13) yield (i.toLong, j.toLong)
    val got = Components.connectedComponents((cliqueA ++ cliqueB).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 3L).forall(got(_) == 0L))
    assert((10L to 13L).forall(got(_) == 10L))
  }

  test("non-integral node ids are rejected up front by both variants") {
    val inputs = Seq(
      Seq((1.5, 2.0)).toDF("a", "b") -> ("`a`", "double"),
      Seq(("1", "2")).toDF("a", "b") -> ("`a`", "string"),
      Seq((1L, "x")).toDF("a", "b") -> ("`b`", "string"))
    for ((df, (column, tpe)) <- inputs) {
      val variants = Seq[(String, () => Unit)](
        "hash-min" -> (() => Components.connectedComponents(df).collect()),
        "star" -> (() => Components.connectedComponentsStar(df).collect()),
        "star children" -> (() => Components.connectedComponentsStarChildren(df).collect()))
      for ((name, run) <- variants) {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(column) && e.getMessage.contains(tpe),
          s"$name on ${df.schema.simpleString}: ${e.getMessage}")
      }
    }
    // every integral width is accepted, mixed widths included
    val narrow = Seq((1.toShort, 2), (3.toShort, 3)).toDF("a", "b")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap
    assert(labels(Components.connectedComponents(narrow)) == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    assert(labels(Components.connectedComponentsStar(narrow)) == labels(Components.connectedComponents(narrow)))
  }

  test("half-null edges: both variants follow the one null-endpoint rule") {
    // a null endpoint is not a node; the other endpoint of a half-null
    // edge is present and labels itself unless other edges connect it;
    // an all-null edge contributes nothing
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(4L)), (Some(3L), None),
      (None, Some(5L)), (None, None), (Some(4L), None))
    val df = edges.toDF("a", "b")
    def labels(out: org.apache.spark.sql.DataFrame): Map[Any, Any] =
      out.collect().map(r => r.get(0) -> r.get(1)).toMap
    val hashMin = labels(Components.connectedComponents(df))
    val star = labels(Components.connectedComponentsStar(df))
    assert(hashMin == star)
    assert(star == Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 3L -> 3L, 5L -> 5L))
  }
}
