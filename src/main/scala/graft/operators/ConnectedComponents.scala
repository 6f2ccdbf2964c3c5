package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

/**
 * Distributed connected components over an undirected edge list — the step
 * that turns near-duplicate PAIRS into duplicate CLUSTERS (and from there a
 * keep-list: one document per component). Reference scope ends at pair
 * emission; production dedup needs the transitive closure, since near-dup is
 * not transitive (A≈B, B≈C does not imply the A–C pair was emitted).
 *
 * Algorithm: iterative min-label propagation with pointer jumping.
 * Each round every node takes the minimum label among itself and its
 * neighbours (hash-min), then additionally adopts its label's own label
 * (pointer jumping — path-doubling through the label graph). Hash-min alone
 * needs O(diameter) rounds; the doubling step cuts chains to O(log diameter).
 * Duplicate-cluster graphs are near-cliques of diameter ≤ ~3, so typical
 * convergence is 1–2 rounds; the doubling step is what keeps adversarial
 * chain-shaped components (mirror-site chains) from turning rounds into
 * O(chain length).
 *
 * 100 TB shape: every round shuffles only (long, long) pairs — the
 * symmetrized edge list joined to the label table, then a groupBy(id) min.
 * Nothing is ever collected to the driver; the per-round convergence check is
 * a single sum aggregate. Labels only decrease, so sum(label) is strictly
 * monotone until the fixpoint — an unchanged sum IS convergence (checked in
 * DECIMAL(38,0): at 10¹² nodes with 64-bit ids a long sum would overflow).
 *
 * Iteration state is `localCheckpoint`ed every round. Lineage TRUNCATION is
 * load-bearing, not an optimization: each round's plan references the
 * previous round's ~4 times, and Catalyst manipulates plans as trees, so an
 * un-truncated iteration expands 4^rounds subtrees — observed as minutes of
 * optimizer/stringify time and a stack overflow at ~12 rounds. (Reliable
 * `checkpoint()` to a checkpoint dir would survive executor loss on a real
 * cluster; local blocks are the right local-mode default.)
 */
object ConnectedComponents {

  /**
   * Component labels for every node incident to an edge: (id, label) where
   * label = the minimum node id in the component. Nodes with no edges don't
   * appear (callers left-join and coalesce to self — see
   * [[Dedup.nearDuplicateClusters]]).
   *
   * Materializes eagerly (one checkpoint + one sum job per round) and
   * detects convergence, so it handles UNKNOWN component diameters — the
   * production entry point. For small known-diameter graphs where a pure
   * lazy plan is wanted, see [[componentsUnrolled]].
   */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
                 maxIters: Int = 50): DataFrame = {
    val sym = symmetrize(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK)

    var labels = initLabels(sym).localCheckpoint()
    var prevSum = checkSum(labels)

    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val next = round(sym, labels).localCheckpoint()
      val nextSum = checkSum(next)
      // release the SUPERSEDED round's checkpoint blocks (r11 review):
      // localCheckpoint persists MEMORY_AND_DISK and Dataset.unpersist
      // cannot reach it, so without this each round pins another copy of
      // the label table in executor storage until driver GC. `next` is
      // eagerly materialized (localCheckpoint + the checkSum job), so the
      // old blocks are no longer reachable from any live lineage.
      org.apache.spark.sql.graftbridge.RddBridge.checkpointRdd(labels)
        .foreach(_.unpersist(blocking = false))
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      it += 1
    }
    sym.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds " +
          "(pointer jumping bounds rounds by ~log2(diameter) — check the " +
          "edge list for unexpected structure)")
    labels
  }

  /**
   * Fixed-round, PURE-LAZY variant: the same propagation unrolled `rounds`
   * times as one declarative plan — no actions, no checkpoints, so the
   * whole computation re-executes on every consumption (what a benchmark's
   * repeated passes need) and composes like any other DataFrame.
   *
   * Correct only when every component's diameter is covered: init reaches
   * direct neighbours and each hash-min round extends the reached radius by
   * one, so `rounds` handles diameters up to rounds + 1 on chains and far
   * more on denser components. Near-dup cluster graphs (diameter ≤ ~3) are
   * covered by the default with margin; for unknown graphs use
   * [[components]], which detects its own fixpoint.
   *
   * r14 optimization — hash-min only, NO pointer jump here: the jump is a
   * self-join, so each unrolled level referenced its own hash-min table
   * twice and the logical tree duplicated every earlier round 2× per level
   * — 2^rounds copies of the whole upstream pair-pipeline subtree. Catalyst
   * re-analyzes and re-canonicalizes that tree on EVERY execution (the
   * driver-side second measured on dedup_cluster_assign: ~0.95 s of a 2.2 s
   * pass spent outside all jobs), and exchange reuse does not collapse the
   * duplicated aggregates. Dropping the jump makes the tree linear in
   * `rounds` (each round references only `sym` and the previous labels,
   * once each). The doubling matters for LARGE unknown diameters, which are
   * exactly what [[components]] (checkpoint-truncated lineage, convergence
   * detection) is for; a caller needing unrolled diameter-9+ coverage pays
   * rounds = diameter − 1 linear rounds, still a smaller plan than the
   * exponential jump tree.
   *
   * `stage`: materializer applied to the symmetrized edge list, which every
   * round references (the callers pass [[graft.Materializer.stage]], the
   * same per-pass-reset CTE idiom every sketch frame uses) so it computes once
   * per execution, not once per round. Default `identity` keeps the plan
   * persistence-free.
   */
  def componentsUnrolled(edges: DataFrame, srcCol: String, dstCol: String,
                         rounds: Int = 3,
                         stage: DataFrame => DataFrame = identity,
                         assertConverged: Boolean = false): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "rounds in [1,16] — see scaladoc")
    val sym = stage(symmetrize(edges, srcCol, dstCol))
    val labels = (1 to rounds).foldLeft(initLabels(sym))((l, _) => hashMin(sym, l))
    if (!assertConverged) labels
    else {
      // Loud-coverage debug mode (r14 advice: the rounds+1 coverage bound is
      // SILENT — a caller sized under the old pointer-jump contract gets
      // split clusters, not an error): one extra hash-min acts as a lazily
      // evaluated convergence witness; any node whose label still moves
      // raises at execution time instead of under-merging quietly. Costs a
      // full extra round — a diagnostic mode, not the default.
      // ConnectedComponentsSpec pins the loud path on a diameter-(rounds+2)
      // chain and the quiet pass on covered graphs.
      val next = hashMin(sym, labels).withColumnRenamed("label", "__next")
      labels.join(next, Seq("id"))
        .select(col("id"),
          when(col("label") =!= col("__next"), raise_error(concat(
            lit(s"componentsUnrolled: labels still changing after $rounds " +
              s"rounds (component diameter exceeds ${rounds + 1}) — node "),
            col("id").cast("string"))))
            .otherwise(col("label")).as("label"))
    }
  }

  private def symmetrize(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame = {
    // Node ids must already be integral (r11 review): the long cast below
    // turns a string id into NULL — every label comes out null, the caller's
    // join-back matches nothing, and every document silently becomes its own
    // singleton cluster (the keep-list then keeps BOTH copies of every
    // duplicate). Fail loudly instead; callers with string ids map them to
    // longs first (e.g. xxhash64 with a collision check, or a dense-rank
    // assignment) — that mapping is a corpus-design decision this operator
    // must not make silently.
    Seq(srcCol, dstCol).foreach { c =>
      import org.apache.spark.sql.types._
      val dt = edges.schema(c).dataType
      val integral = dt == LongType || dt == IntegerType ||
        dt == ShortType || dt == ByteType
      require(integral,
        s"connected components needs integral node ids; '$c' is " +
          s"${dt.catalogString} — map ids to longs before clustering " +
          "(a silent cast would null every label and un-cluster everything)")
    }
    // Propagation below only follows u←v, so both directions must exist,
    // and SELF-LOOPS ride along so the per-round neighbour aggregate
    // min_{v∈N(u)∪{u}} label(v) IS the hash-min (no separate labels⋈nbrMin
    // join). ONE reference to the edge plan, via a 4-way explode per edge
    // (r15): the previous union-of-unions + node-distinct referenced the
    // edge plan FOUR times, so every `sym` reference in an unrolled plan
    // inlined the whole upstream pair pipeline ×4 — the driver-side
    // re-analysis of that tree was ~0.5 s of every cluster_assign/keep_best
    // execution (wall outside any job in a per-stage profile). The explode
    // emits (u,v), (v,u), (u,u), (v,v) in a single generator pass; self-loops
    // now repeat per edge OCCURRENCE rather than once per node, which is
    // harmless — like duplicate edges, they only re-send the same min into an
    // idempotent aggregate — and the node-distinct SHUFFLE disappears
    // outright (guide §2.4). ConnectedComponentsSpec pins label equality with
    // union-find on mixed/duplicate/chain graphs for both entry points.
    val e = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    e.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")),
        struct(col("u"), col("u").as("v")),
        struct(col("v").as("u"), col("v").as("v")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"))
  }

  /** Round 0 fused into initialization: label(u) = min over N(u)∪{u} —
    * the self-loop puts u itself under the same min. */
  private def initLabels(sym: DataFrame): DataFrame =
    sym.groupBy("u").agg(min("v").as("label"))
      .select(col("u").as("id"), col("label"))

  /** One propagation round: hash-min over neighbours-and-self (the
    * self-loops make the single aggregate min(label(u), min neighbour
    * labels)), then pointer jumping (label(x) := min(label(x),
    * label(label(x))) — labels are always node ids present in the table,
    * so the jump is an equi-join onto itself).
    *
    * Formulated as joins only, never a Union of `labels` with a frame
    * derived FROM `labels`: that self-referential union trips Spark's
    * Union constraint-rewrite ("key not found: id#…" from
    * `UnionBase.rewriteConstraints`) because the same attribute ids reach
    * both children. The join shape is equivalent — every node appears as a
    * `v` by construction (self-loops), so the inner join drops nobody. */
  private def round(sym: DataFrame, labels: DataFrame): DataFrame = {
    val hashMin = this.hashMin(sym, labels)
    hashMin.as("a")
      .join(hashMin.select(col("id").as("label"), col("label").as("ll")),
        Seq("label"), "left")
      .select(col("id"),
        least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
  }

  /** Hash-min alone: label(u) := min over N(u)∪{u} of label(v) — the
    * self-loops fold u's own label into the one aggregate. Radius grows by
    * one per application; the unrolled variant chains these directly (each
    * references `labels` exactly once, keeping the plan linear). */
  private def hashMin(sym: DataFrame, labels: DataFrame): DataFrame =
    sym.join(labels.withColumnRenamed("id", "v"), Seq("v"))
      .groupBy(col("u").as("id")).agg(min("label").as("label"))

  /** Monotone convergence witness: labels only decrease, so an unchanged
    * sum means no label changed. Decimal — a long overflows at planet scale. */
  private def checkSum(labels: DataFrame): java.math.BigDecimal =
    labels.agg(sum(col("label").cast(DecimalType(38, 0))))
      .head.getDecimal(0)
}
