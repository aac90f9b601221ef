package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sink.UpsertSink

/** Distributed graph operators for corpus curation.
  *
  * Near-dup detection emits PAIRS (MinHash bands, SimHash hamming balls,
  * winnow overlap, embedding LSH — q29/q31/q41/q44/q47), but "keep one
  * document per duplicate group" is only well-defined on CLUSTERS:
  * duplicates chain (a~b and b~c with a!~c), and pairwise kill rules
  * ("drop the larger id of each pair") over-delete on chains. Connected
  * components is the standard closure step in large-scale dedup
  * pipelines, and it has to run distributed — at 100 TB the pair list
  * alone can exceed a single machine.
  */
object GraphOps {

  /** Relabel the contracted edge set by the current labels — pure plan
    * construction (no checkpointing), factored out so the round's PLAN is
    * testable: `connectedComponents` checkpoints every round, which
    * truncates lineage and hides these joins from the final plan.
    */
  private[graft] def contractEdges(labels: DataFrame, ce: DataFrame): DataFrame = {
    val la = labels.select(col("node").as("a"), col("comp").as("__la"))
    val lb = labels.select(col("node").as("b"), col("comp").as("__lb"))
    ce.join(la, "a").join(lb, "b")
      .select(least(col("__la"), col("__lb")).as("a"),
        greatest(col("__la"), col("__lb")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
  }

  /** One label-propagation round over an (already materialized)
    * contracted edge set: min of own label, contracted-neighbor labels,
    * and the label's label (pointer jump). Returns (node, prev, comp).
    * Pure plan construction — see [[contractEdges]].
    */
  private[graft] def propagateOnce(labels: DataFrame, nce: DataFrame): DataFrame = {
    val nbrMin = nce.select(col("a").as("node"), col("b").as("__o"))
      .union(nce.select(col("b").as("node"), col("a").as("__o")))
      .groupBy("node").agg(min("__o").as("nc"))
    val jumped = labels.select(col("node").as("jnode"), col("comp").as("jc"))
    labels
      .join(nbrMin, Seq("node"), "left")
      .join(jumped, col("comp") === col("jnode"))
      .select(col("node"), col("comp").as("prev"),
        least(col("comp"), coalesce(col("nc"), col("comp")), col("jc")).as("comp"))
  }

  /** Connected components over an undirected edge list, by min-label
    * propagation with pointer jumping (the hash-to-min family — Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14).
    *
    * Every round each node takes the minimum of three candidates:
    * its current label, its neighbors' labels (equi-join on the
    * contracted label-graph), and its label's label (a labels self-join —
    * the pointer-jumping step, which halves chain depth every round so a
    * diameter-D component converges in O(log D) rounds instead of D).
    * Labels are always node ids from the same component, monotonically
    * non-increasing and bounded by the component minimum, so the
    * fixpoint labels every node with its component's minimum id.
    *
    * Scale shape per round: the labels table (nodes) broadcast-joins a
    * CONTRACTED label-graph that shrinks geometrically — round r
    * relabels round r-1's contracted edges, never the original edge
    * list, so only the first round pays full-edge-volume cost (the
    * edges-every-round formulation re-scans the whole graph per round;
    * at 100 TB the edge list IS the data, and contraction is what keeps
    * rounds 2+ cheap). The symmetrized input is unpersisted as soon as
    * round 1 has materialized the first contracted set — it is not held
    * across the loop. Every shuffle is keyed on a node id, so skew only
    * arises from true high-degree nodes (and AQE skew-split applies);
    * `localCheckpoint` truncates lineage each round so the plan stays
    * constant-size instead of growing by one join per iteration. The
    * previous label rides inside the checkpointed frame, so convergence
    * detection is a filter over cached label rows — no extra join, no
    * extra shuffle. Initialization is fused with the first neighbor-min
    * round (one groupBy replaces a distinct plus a propagation round).
    *
    * Contraction stays correct at the fixpoint: jump-stability makes
    * every label a root, and any surviving contracted edge (a < b)
    * would have offered root b the smaller candidate a — so the
    * contracted set is empty exactly at convergence, and each
    * component's single root is its minimum id.
    *
    * Returns (node: long, comp: long) for every node incident to an
    * edge; comp is the smallest node id in the node's component. Throws
    * if not converged within `maxIter` rounds (pointer jumping makes
    * 30 rounds enough for any graph with < 2^30-deep chains; hitting the
    * cap means something is broken, and a silent partial clustering
    * would corrupt a downstream dedup).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 30): DataFrame = {
    val fwd = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    val sym = fwd.union(fwd.select(col("v").as("u"), col("u").as("v")))
      .repartition(col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // init fused with the first neighbor-min round: label0(n) =
    // min(n, min over neighbors) — one groupBy instead of a distinct
    // plus a full propagation round
    var labels = sym.groupBy(col("v").as("node"))
      .agg(min("u").as("__nm"))
      .select(col("node"), least(col("node"), col("__nm")).as("comp"))
      .localCheckpoint()
    var ce = sym.filter(col("u") < col("v"))
      .select(col("u").as("a"), col("v").as("b"))
    var round = 0
    var converged = labels.isEmpty
    while (!converged && round < maxIter) {
      // both lazily checkpointed: the convergence filter below
      // materializes next, which materializes nce through it — one pass
      val nce = contractEdges(labels, ce).localCheckpoint(eager = false)
      val next = propagateOnce(labels, nce).localCheckpoint(eager = false)
      converged = next.filter(col("comp") =!= col("prev")).isEmpty
      labels = next.select("node", "comp")
      ce = nce
      round += 1
      if (round == 1)
        // rounds 2+ touch only the checkpointed contracted set; drop the
        // full symmetrized edge list from executor storage immediately
        sym.unpersist(blocking = false)
    }
    sym.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Persist a cluster-label table through the sink (atomic bucketed
    * overwrite) and hand back the STORED table, so the caller's
    * downstream plan provably consumes what later consumers will read.
    *
    * Connected components is the expensive closure step of every dedup
    * pipeline; at 100 TB, recomputing it once per consumer (keep-list,
    * quality argmax, reporting) turns one expensive job into N of them.
    * The producer materializes once; every consumer reads the table.
    */
  def materializeClusters(labels: DataFrame, sink: UpsertSink,
                          table: String, pk: Seq[String]): DataFrame = {
    sink.overwrite(table, labels, pk)
    sink.read(table)
  }

  /** Consumer side of the shared cluster table: read the stored table
    * when the producer has materialized it, else compute-and-materialize
    * (so a standalone consumer in a fresh session stays correct).
    */
  def readOrMaterialize(sink: UpsertSink, table: String, pk: Seq[String])
                       (compute: => DataFrame): DataFrame =
    if (sink.exists(table)) sink.read(table)
    else materializeClusters(compute, sink, table, pk)
}
