package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components — the step that turns near-dup
  * PAIRS into dedup CLUSTERS (keep one representative per component,
  * drop the rest). Min-label propagation with pointer jumping:
  *
  *  - neighbour step: `label(v) ← min(label(v), min over neighbours)`
  *    propagates one hop per round;
  *  - pointer-jumping step: `label(v) ← label(label(v))` halves the
  *    remaining path, so convergence is O(log diameter) rounds, not
  *    O(diameter) — the discipline that makes a 100 TB run's round
  *    count single-digit (cf. the alternating large-star/small-star
  *    formulation of Kiveris et al., "Connected Components in
  *    MapReduce and Beyond", SoCC 2014).
  *
  * Each round is two shuffle joins on node id; [[cut]] truncates the
  * iterative lineage (an uncut 2·k-join plan tree hangs the optimizer
  * long before the data is the problem — on a cluster this would be a
  * reliable checkpoint instead). Convergence is detected by the
  * label-sum invariant: labels only ever decrease, so an unchanged
  * sum means a fixpoint (summed in decimal — see labelSum).
  */
object Components {

  /** Materialize `df` and cut both its lineage AND its plan-size
    * statistics. A bare `localCheckpoint` truncates lineage but
    * PRESERVES the origin plan's estimated `sizeInBytes`
    * (`LogicalRDD.fromDataset` carries the origin stats), and the
    * size estimator multiplies child sizes at every join — so in a
    * self-join loop the carried estimate SQUARES each round. The data
    * never misbehaves, but by round ~15 the estimate is a
    * megabit-long BigInteger and ONE stats visit costs minutes of
    * driver CPU in Karatsuba multiplication (observed at the 100×
    * scale probe: `dedup_keep` spent >10 min inside
    * `SizeInBytesOnlyStatsPlanVisitor` while the cluster sat idle).
    * Wrapping the checkpoint in a fresh-leaf frame (row RDD +
    * schema) resets each round to default leaf statistics, keeping
    * per-round planning O(1) at any round count.
    */
  private def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(df.rdd, df.schema).localCheckpoint(true)
  }

  /** Free a superseded [[cut]] frame's checkpoint blocks. Every round
    * retires the previous round's labels; without an explicit drop
    * the blocks accumulate for the LOOP's lifetime and then linger
    * for the SESSION's (observed at the 100× probe: an 8 g driver
    * carried every round of dedup_clusters + dedup_keep and OOM'd
    * two queries later in knn_join's aggregate). Only superseded
    * frames are dropped — the returned final labels keep their
    * blocks, because consumers (the memoized cluster-labels
    * artifact) read them long after this call returns, and a
    * checkpointed frame cannot be recomputed once its blocks are
    * gone.
    */
  private def drop(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** @param nodes one column `node` (every vertex, including
    *              singletons — they emerge as their own component)
    * @param edges two columns `a`, `b` (undirected; either order)
    * @return (node, label) with label = min node id of the component
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxRounds: Int = 25): DataFrame = {
    // The iteration runs over EDGE-TOUCHED vertices only: in a dedup
    // corpus the overwhelming majority of documents are singletons,
    // and carrying them through every round's joins multiplies each
    // round by |V| instead of |V(E)| — at 100 TB that is the
    // difference between iterating on billions of rows and on the
    // (much smaller) near-duplicate population. Singletons attach at
    // the end, labelled by themselves, via one anti-join.
    //
    // Self-loops on every touched vertex fold the old "least(own
    // label, neighbour min)" step into the neighbour aggregation
    // itself (min over self ∪ neighbours), removing one join per
    // round: a round is now neighbour-min (join + aggregate) +
    // pointer-jump (join), each on |V(E)|-sized frames.
    val sym0 = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      // endpoints outside `nodes` drop, as the labels join dropped
      // them in the pre-r12 shape (edges may only connect known nodes)
      .join(nodes.select(col("node").as("a")), Seq("a"), "left_semi")
      .join(nodes.select(col("node").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b"))
    val touched = sym0.select(col("a").as("node")).distinct()
    val sym = cut(sym0
      .union(touched.select(col("node").as("a"), col("node").as("b")))
      .distinct())
    var labels = cut(sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label")))
    // the sum accumulates in DECIMAL(38,0): int64 would overflow (and,
    // under the session's pinned ANSI mode, raise) once node ids are
    // content hashes or the corpus passes ~1e9 rows; coalesce covers
    // the empty-input case (sum over zero rows is NULL)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)).as("s"))
        .head().getDecimal(0)
    var prevSum = labelSum(labels)
    var round = 0
    var converged = prevSum.signum == 0 && labels.isEmpty
    while (!converged && round < maxRounds) {
      round += 1
      // neighbour step: min over self ∪ neighbours (self-loops make
      // the own label part of the aggregation)
      val stepped = sym.join(labels, sym("b") === labels("node"))
        .groupBy(sym("a").as("node")).agg(min("label").as("label"))
      // pointer jumping: every label IS a node id (min over a set
      // containing ids), so the self-join is total
      val jumped = cut(stepped.as("x")
        .join(stepped.select(col("node").as("pn"), col("label").as("pl")).as("y"),
          col("x.label") === col("y.pn"))
        .select(col("x.node").as("node"),
          least(col("x.label"), col("pl")).as("label")))
      val newSum = labelSum(jumped)
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      drop(labels)
      labels = jumped
    }
    drop(sym)
    // singletons (nodes never touched by an edge) label themselves
    val singles = nodes
      .join(labels.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("label"))
    labels.unionByName(singles)
  }
}
