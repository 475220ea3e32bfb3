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
  * Each round is two shuffle joins on node id; [[Frames.materialize]]
  * truncates the iterative lineage and resets its size estimate (an
  * uncut 2·k-join plan tree hangs the optimizer long before the data
  * is the problem — on a cluster this would be a
  * reliable checkpoint instead). Convergence is detected by the
  * label-sum invariant: labels only ever decrease, so an unchanged
  * sum means a fixpoint (summed in decimal — see labelSum).
  */
object Components {

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
    val sym = Frames.materialize(sym0
      .union(touched.select(col("node").as("a"), col("node").as("b")))
      .distinct())
    var labels = Frames.materialize(sym.select(col("a").as("node")).distinct()
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
      val jumped = Frames.materialize(stepped.as("x")
        .join(stepped.select(col("node").as("pn"), col("label").as("pl")).as("y"),
          col("x.label") === col("y.pn"))
        .select(col("x.node").as("node"),
          least(col("x.label"), col("pl")).as("label")))
      val newSum = labelSum(jumped)
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      // only superseded rounds are dropped: the returned labels keep
      // their blocks, which consumers (the memoized cluster-labels
      // artifact) read long after this call returns
      Frames.drop(labels)
      labels = jumped
    }
    Frames.drop(sym)
    // singletons (nodes never touched by an edge) label themselves
    val singles = nodes
      .join(labels.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("label"))
    labels.unionByName(singles)
  }
}
