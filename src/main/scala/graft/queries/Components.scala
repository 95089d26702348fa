package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Connected components over a near-dup pair graph — the step between
  * pair generation (d2/d4/d6/v4) and actually deduplicating a corpus:
  * each component is one duplicate cluster, its minimum doc id the
  * canonical keeper.
  *
  * Algorithm: hash-min label propagation. Every node starts labeled with
  * itself; each round every node takes the min label among itself and its
  * neighbors; converged when no label changes. Rounds needed = graph
  * diameter (near-dup clusters are dense, so typically ≤ 3-4). Each round
  * is one equi-join on node id + one groupBy min — all shuffle-keyed on
  * node, nothing quadratic, no driver-side graph. This is the standard
  * large-scale CC shape (the simple form of the small-star/large-star
  * map-reduce algorithms).
  *
  * Input contract, shared by every variant below:
  *  - the first two columns are the edge endpoints and must be integral
  *    (byte, short, int or long); any other type is rejected up front
  *    with an `IllegalArgumentException` naming the column, instead of
  *    being cast to long (a fractional or string id would turn into
  *    null and its edge would silently vanish);
  *  - null is not a node. An edge with ONE null endpoint is read as a
  *    self-pair of its other endpoint, so that node is present and
  *    labels itself unless other edges connect it; an edge with two
  *    null endpoints contributes nothing.
  */
object Components {

  private val IntegralIds: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  /** The two endpoint columns of `pairs`, after checking they are
    * integral (see the object doc). */
  private def endpoints(pairs: DataFrame): (String, String) = {
    val Array(a, b) = pairs.schema.fields.take(2)
    for (f <- Seq(a, b))
      require(IntegralIds(f.dataType),
        s"connected components need integral node ids (byte, short, int or long); " +
          s"column `${f.name}` is ${f.dataType.simpleString}")
    (a.name, b.name)
  }

  /** @param pairs two-column DataFrame of undirected edges (a, b)
    * @return (node, component) — component = min node id reachable */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    val (ca, cb) = endpoints(pairs)
    // Materialize the PAIR INPUT eagerly before anything fans out: the
    // symmetric edge list consumes it twice, and callers feed
    // corpus-priced pipelines (LSH + verify) whose double evaluation
    // dominated the d7/d12/c1 profiles (JobProbe r13). The checkpoint
    // is edge-list-sized.
    val p0 = pairs.select(col(ca).as("u"), col(cb).as("v"))
      .localCheckpoint(true)
    val outType = p0.select(greatest(col("u"), col("v")).as("n"))
      .schema("n").dataType
    // The label-propagation LOOP runs on RDD[(Long, Long)] (the same
    // move as the star loop below, r14): per round the DF version paid
    // Catalyst planning + two actions; here the symmetric edge list is
    // hash-partitioned ONCE, labels come out of each round partitioned
    // the same way, so the per-round join is NARROW (zero shuffle) and
    // the whole round is one reduceByKey shuffle + one count action.
    // Semantics identical: min label among self ∪ neighbors, converged
    // when no label changed (the own-label rides the same reduce).
    val parts = math.max(1, p0.rdd.getNumPartitions)
    val part = new org.apache.spark.HashPartitioner(parts)
    // keyed by the LABEL SOURCE endpoint: edge (v -> u) delivers v's
    // label to u; both directions present, so keys cover every node
    // null rule (object doc): a half-null edge becomes a self-pair of
    // its other endpoint; an all-null edge is dropped
    val sym = p0.select(coalesce(col("u"), col("v")).cast("long"),
        coalesce(col("v"), col("u")).cast("long"))
      .na.drop()
      .rdd.flatMap { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        Iterator((a, b), (b, a))
      }
      .partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = sym.mapPartitions(
        _.map { case (n, _) => (n, n) }, preservesPartitioning = true)
      .reduceByKey(part, (a: Long, b: Long) => math.min(a, b)) // distinct nodes
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    labels.localCheckpoint()
    var iter = 0
    var converged = labels.isEmpty()
    while (iter < maxIters && !converged) {
      // Each node's new label: min of its own and every neighbor's.
      // sym and labels share `part`, so the join is narrow; the value
      // pair carries (candidate label, own label or MaxValue) and one
      // reduce yields both the new label and the convergence signal.
      val next = sym.join(labels, part)
        .map { case (_, (u, lab)) => (u, (lab, Long.MaxValue)) }
        .union(labels.mapPartitions(
          _.map { case (n, l) => (n, (l, l)) }, preservesPartitioning = true))
        .reduceByKey(part, (a: (Long, Long), b: (Long, Long)) =>
          (math.min(a._1, b._1), math.min(a._2, b._2)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.localCheckpoint()
      // full count (not take(1)): materializes every partition of the
      // persist, so the next round never recomputes the chain
      val changed = next.filter { case (_, (lab, old)) => lab != old }.count()
      val prev = labels
      labels = next.mapPartitions(
        _.map { case (n, (lab, _)) => (n, lab) }, preservesPartitioning = true)
      prev.unpersist(blocking = false)
      converged = changed == 0
      iter += 1
    }
    sym.unpersist(blocking = false)
    if (!converged)
      // Silent truncation here would split components (wrong keeper
      // selection downstream) — surface it. Diameter > maxIters means the
      // caller should raise the cap or use [[connectedComponentsStar]],
      // whose round count is logarithmic rather than diameter-bounded.
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents hit maxIters=$maxIters before convergence; " +
          "labels may split long chains — raise maxIters")
    spark.createDataFrame(labels)
      .toDF("node", "component")
      .select(col("node").cast(outType).as("node"),
        col("component").cast(outType).as("component"))
  }

  /** Connected components via alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — a public algorithm). Same contract as
    * [[connectedComponents]]; the difference is the round bound:
    * hash-min needs `diameter` rounds (a 10⁶-node chain needs 10⁶
    * rounds), alternating stars converge in O(log² n) — in practice
    * single digits on any graph — so this is the shape that survives
    * adversarial chain-of-near-dups inputs at corpus scale.
    *
    * Measured on the d7 pair graph at sf0.1 (dense shallow clusters,
    * diameter ≤ 4): hash-min 1.9 s steady-state vs 2.5 s here — two
    * star passes per round cost more than one hash-min pass when the
    * diameter is already tiny. That is why d7 gates hash-min; this
    * variant is for graphs whose diameter you cannot bound up front.
    *
    * State is an edge set in canonical child>parent direction; each round
    * is two (groupBy-min + equi-join) passes, everything shuffle-keyed on
    * node id, nothing quadratic, no driver-side graph:
    *  - large-star: every node attaches its *larger* neighbors to its
    *    minimum neighborhood member — long tails flatten geometrically;
    *  - small-star: every node re-points its smaller neighbors (its
    *    parents) at the minimum parent — stars consolidate.
    * Both preserve connectivity (every rewire keeps endpoints connected
    * through the pivot node) and strictly reduce the potential function,
    * so the fixpoint is a star forest rooted at component minima.
    *
    * Convergence is detected exactly and WITHOUT a confirm round: the
    * fixpoint characterization (Kiveris et al. §3) is "the edge set is a
    * PROPER star forest" — no node appears as both child and parent, and
    * no child keeps two parents — a property of the round's own output.
    * Checking it per round stops the loop at round R instead of running
    * round R+1 to observe set equality with round R; at local-mode stage-launch floors (~0.45 s a
    * round) that is a whole round saved, and at cluster scale it is one
    * fewer barrier over the full edge set. Soundness: edges stay
    * canonical child>parent, connectivity is preserved every round, so a
    * star forest over the current edge set labels every node with its
    * original component's minimum — exactly the contract. A graph not
    * yet at fixpoint cannot pass the check (some chain of length ≥ 2
    * survives ⟹ its middle node is both child and parent).
    *
    * The check stays a SEPARATE action per round BY MEASUREMENT, not
    * oversight. Fusing it into the round job (the 1-row violation count
    * cross-joined back onto every row through the round's own distinct()
    * exchange, so the checkpoint materializes the verdict and the exit
    * test becomes a 1-row take) was built and measured in round 11
    * (FusionProbe, d13 chain at sf0.1): the FIRST round's plan reuses
    * exchanges as designed (6 Exchange / 5 ReusedExchange), but from
    * round 2 on — once the loop input is a checkpoint that itself came
    * from a fused round — ReuseExchange stops matching entirely (31
    * exchanges, 0 reused, the round lineage expanded ~6×), and a round
    * costs 2.5-3.3 s / ~7000 task-ms vs 0.9-1.1 s / ~650 task-ms for
    * this two-action shape. Whole-query: d13 4.7 → 14.6 s, d13b 3.8 →
    * 12.7 s. The check job reads the just-written checkpoint blocks, so
    * its marginal cost is one shuffle over O(|edges|) local data —
    * cheaper than any known way of hiding it.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIters: Int = 40): DataFrame =
    connectedComponentsStarStats(pairs, maxIters)._1

  /** [[connectedComponentsStar]] returning CHILD labels only — rows
    * (node, component) for nodes that point at a component minimum in
    * the fixpoint star forest; roots and edge-less nodes are ABSENT
    * (they label themselves). For callers that left-join the labels
    * onto a full roster and `coalesce(component, id)` anyway (m6, p4),
    * the roster scan, its checkpoint job and the final label join here
    * are pure duplication — this variant skips all three. The groupBy
    * min keeps the output well-defined even if maxIters truncated
    * mid-consolidation (duplicate parents collapse to the minimum, the
    * same guarantee the roster form gives). */
  def connectedComponentsStarChildren(pairs: DataFrame,
      maxIters: Int = 40): DataFrame =
    connectedComponentsStarImpl(pairs, maxIters, roster = false)._1

  /** [[connectedComponentsStar]] plus the ROUND COUNT it converged in —
    * the algorithm's actual scale contract (O(log² n), single digits in
    * practice) made observable, so specs can pin it on adversarial
    * topologies instead of trusting the output alone (ComponentsSpec:
    * a hash-scrambled chain, far beyond hash-min's budget, must close
    * in ≤ ~2·log₂(diameter) rounds; the d13b gate runs the same
    * topology against the recursive-closure oracle). */
  def connectedComponentsStarStats(pairs: DataFrame,
      maxIters: Int = 40): (DataFrame, Int) =
    connectedComponentsStarImpl(pairs, maxIters, roster = true)

  private def connectedComponentsStarImpl(pairs: DataFrame,
      maxIters: Int, roster: Boolean): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    val (ca, cb) = endpoints(pairs)
    // One eager materialization of the raw pair input: the node roster
    // consumes it twice and the canonical edge set once — three
    // evaluations of the caller's pair pipeline (m6's band joins, d13b's
    // global-window ranking) before this checkpoint existed (JobProbe
    // r13). Edge-list-sized.
    val p0 = pairs.select(col(ca).as("pu"), col(cb).as("pv"))
      .localCheckpoint(true)
    // nodes derive from the RAW pairs: a node appearing only in
    // self-pairs has no surviving edge but must still label itself
    // (same contract as connectedComponents). Skipped in the
    // children-only form — its callers carry their own roster.
    val nodes =
      if (!roster) null
      else p0.select(col("pu").as("node"))
        .unionByName(p0.select(col("pv").as("node")))
        .where(col("node").isNotNull)
        .distinct()
        .localCheckpoint(true)
    // The fixpoint LOOP runs on RDD[(Long, Long)], not DataFrames —
    // measured (JobProbe r13/r14): each DataFrame round paid a
    // 0.2-0.45 s DRIVER gap (Catalyst analyze/optimize/physical-plan/
    // codegen of the round plan, re-done per round because every round
    // roots at a fresh checkpoint) on top of ~0.1-0.5 s of actual round
    // work — planning cost ≈ compute cost, at every scale the same
    // constant per round. The round body is min/join/distinct over two
    // long columns; RDD shuffles of primitive pairs lose nothing to
    // codegen here, shuffle files are reused across the round's two
    // consumers of `afterLarge` (no within-round double compute — the
    // DF version recomputed `sym` once per consumer), and the per-round
    // driver cost drops to task scheduling alone. Semantics are
    // IDENTICAL (same canonicalization, same round algebra, same
    // fixpoint test, same labels — ComponentsSpec pins all of it,
    // including round counts and union-find ground truth).
    // `greatest/least` coerce the two columns; the loop works in long
    // and the output casts back to that coerced type. Both skip nulls, so
    // a half-null edge canonicalizes to a self-pair and drops here (its
    // endpoint stays in the roster) and an all-null edge drops on the
    // null comparison — the object doc's null rule.
    val canon = p0
      .select(greatest(col("pu"), col("pv")).as("u"), least(col("pu"), col("pv")).as("v"))
      .where(col("u") =!= col("v"))
    val outType = canon.schema("u").dataType
    val parts = math.max(1, p0.rdd.getNumPartitions)
    val part = new org.apache.spark.HashPartitioner(parts)
    def materialized(r: org.apache.spark.rdd.RDD[(Long, Long)])
        : org.apache.spark.rdd.RDD[(Long, Long)] = {
      // lineage truncation + memoization, the RDD form of the DF
      // version's eager localCheckpoint(true); the materializing action
      // is the fixpoint check below (it shuffles, so it computes EVERY
      // partition — an isEmpty/take(1) would leave partitions
      // unmaterialized and the next round would recompute the chain).
      r.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.localCheckpoint()
      r
    }
    var edges = materialized(
      canon.select(col("u").cast("long"), col("v").cast("long"))
        .rdd.map(r => (r.getLong(0), r.getLong(1)))
        .distinct(parts))
    var iter = 0
    // The exact fixpoint test — one map-side-combined shuffle + count
    // over the just-materialized round output. A PROPER star forest —
    // 2-level and single-parent — violates in exactly two ways: a node
    // carries both a child row and a parent row (a chain of length ≥ 2
    // survives), or a node carries ≥ 2 child rows (two parents, which
    // the next small-star would still rewire, as in {(3,1),(3,2)}).
    // `deg` counts n's parents (edge set is distinct, so plain sum).
    def isStarForest(e: org.apache.spark.rdd.RDD[(Long, Long)]): Boolean =
      e.flatMap { case (u, v) => Iterator((u, (1L, 0)), (v, (0L, 1))) }
        .reduceByKey(part, (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
        .filter { case (_, (deg, p)) => (p == 1 && deg > 0) || deg > 1 }
        .count() == 0
    // One large-star + small-star round — each star pass is ONE grouped
    // shuffle (the aggregate-then-join-back DF shape costs two shuffles
    // of `sym`/`afterLarge` per pass; grouping gives the min AND the
    // neighbor list in the same pass, so a round is 2 shuffles + the
    // round-end distinct instead of 5). Groups hold one Long per
    // incident edge and Spark's group buffers spill, so a hub node is
    // disk-bounded, not memory-bounded — the standard MapReduce
    // formulation of these stars (Kiveris et al. §4 reduce functions).
    def round(e: org.apache.spark.rdd.RDD[(Long, Long)])
        : org.apache.spark.rdd.RDD[(Long, Long)] = {
      // large-star: symmetrize; m(x) = min(Γ(x) ∪ {x}); attach every
      // neighbor y > x to m(x). Every canonical edge is re-emitted from
      // the perspective of its smaller endpoint, so connectivity holds.
      val afterLarge = e
        .flatMap { case (u, v) => Iterator((u, v), (v, u)) }
        .groupByKey(part)
        .flatMap { case (u, vs) =>
          var m = u
          vs.foreach(v => if (v < m) m = v)
          val mm = m
          vs.iterator.filter(_ > u).map(v => (v, mm))
        }
      // small-star: per node, re-point all parents (smaller neighbors)
      // at the minimum parent, keeping the node's own link to it.
      // Duplicate (v, m) emissions (several large-star groups attaching
      // the same v to the same m) are swept by the round-end distinct,
      // exactly like the DF join's duplicates were.
      afterLarge
        .groupByKey(part)
        .flatMap { case (u, vs) =>
          var m = Long.MaxValue
          vs.foreach(v => if (v < m) m = v)
          val mm = m
          vs.iterator.filter(_ != mm).map(v => (v, mm)) ++ Iterator((u, mm))
        }
    }
    var converged = isStarForest(edges)
    while (iter < maxIters && !converged) {
      // ONE round per materialization (the DF adjudication stands:
      // fusing rounds compounds recomputation; a round's output must be
      // memoized before the next consumes it twice via `sym`).
      val next = materialized(round(edges).distinct(parts))
      converged = isStarForest(next)
      edges.unpersist(blocking = false)
      edges = next
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponentsStar hit maxIters=$maxIters before convergence")
    // fixpoint is a star forest: child → component-min parent; roots and
    // isolated nodes label themselves. The reduceByKey(min) also keeps
    // the output well-defined if the cap was hit mid-consolidation
    // (duplicate parents collapse to the minimum).
    val childLabels = spark
      .createDataFrame(edges.reduceByKey(part, (a: Long, b: Long) => math.min(a, b)))
      .toDF("node", "component")
      .select(col("node").cast(outType).as("node"),
        col("component").cast(outType).as("component"))
    val labels =
      if (!roster) childLabels
      else nodes
        .join(childLabels.withColumnRenamed("component", "label"),
          Seq("node"), "left")
        .select(col("node"),
          coalesce(col("label"), col("node")).as("component"))
    (labels, iter)
  }
}
