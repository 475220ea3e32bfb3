package graft.pipeline

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{cosine_sim, sorted_intersect_atleast, sorted_intersect_count}

/** The candidate core every near-dup detector ([[Dedup]]) and every
  * vector search ([[Ann]]) plugs into: bucket key → pair listing →
  * exact verify or rank. Each stage is written once here, so each
  * exactness rule the DuckDB oracles re-derive (the integer Jaccard
  * threshold, the `(score desc, id asc)` tie-break, the hot-key df
  * cap) has exactly one definition. The detectors keep their own
  * bucket keys and plan leaves; only the shared stages live here.
  */
private[pipeline] object Candidates {

  /** The embedding column as a double array, the form cosine scoring
    * and the quantisers consume.
    */
  val vector: Column = expr("transform(embedding, x -> cast(x as double))").as("v")

  /** `df` self-joined as `a`/`b` on equal `keys` with `a.id < b.id`,
    * each unordered pair listed once per shared key. `extra` conjuncts
    * follow in the given order (cheap first: Catalyst keeps a join
    * condition's conjunct order). `hashHint` pins a shuffle-hash join
    * on the build side.
    */
  def selfJoin(df: DataFrame, keys: Seq[String], id: String,
               hashHint: Boolean, extra: Column*): DataFrame = {
    val b = df.as("b")
    df.as("a").join(if (hashHint) b.hint("shuffle_hash") else b,
      (keys.map(k => col(s"a.$k") === col(s"b.$k")) ++
        ((col(s"a.$id") < col(s"b.$id")) +: extra)).reduce(_ && _))
  }

  /** One side of an exact Jaccard verify: a sorted, distinct set
    * column and its size.
    */
  final case class SortedSet(set: Column, size: Column)

  /** The Jaccard length prune over two set sizes: |A∩B| ≤
    * min(|A|,|B|), so `floor(1e4·J) ≥ minBp` is impossible unless
    * `min·(1e4+t) ≥ t·(|A|+|B|)` — two ints, no set touched.
    */
  def lengthOk(aSize: Column, bSize: Column, minBp: Long): Column =
    least(aSize, bSize) * (10000L + minBp) >= lit(minBp) * (aSize + bSize)

  /** The exact integer Jaccard test `floor(1e4·J) ≥ minBp`, cheap
    * conjunct first:
    *  - the [[lengthOk]] prune;
    *  - the early-exit merge `|A∩B| ≥ ceil(t·S/(1e4+t))`, which is
    *    `|A∩B|·(1e4+t) ≥ t·S`, which is `floor(1e4·J) ≥ t` (the count
    *    is an integer, so the ceil-division threshold is
    *    bit-identical to the product inequality). The merge stops at
    *    `needed` matches (near-identical pairs) or at the first
    *    impossibility bound (false candidates) instead of always
    *    walking O(|A|+|B|).
    * Authored as one condition so the prune short-circuits ahead of
    * the merge wherever the caller places it; a post-join filter
    * holding only the merge can be pushed into the join condition
    * ahead of the prune (observed in the physical plan).
    */
  def jaccardAtLeast(a: SortedSet, b: SortedSet, minBp: Long): Column = {
    val sizes = a.size + b.size
    val needed = call_function("div",
      (lit(minBp) * sizes + lit(10000L + minBp - 1)).cast("long"),
      lit(10000L + minBp)).cast("int")
    lengthOk(a.size, b.size, minBp) &&
      sorted_intersect_atleast(a.set, b.set, needed)
  }

  /** Project verified pairs to `(ids…, jac_bp)` with
    * `jac_bp = floor(1e4·|A∩B| / |A∪B|)`: survivors re-run the merge
    * once for the exact count, a deliberate trade (survivors are a
    * tiny fraction of candidates, and keeping the exact test in the
    * condition is what lets the prune run ahead of it).
    */
  def jaccardBp(verified: DataFrame, a: SortedSet, b: SortedSet,
                ids: Column*): DataFrame = {
    val counted = verified.select(ids ++ Seq(
      sorted_intersect_count(a.set, b.set).as("inter"),
      (a.size + b.size).as("sizes")): _*)
    counted.select(counted.columns.dropRight(2).toSeq.map(col) :+
      floor(lit(10000.0) * col("inter") / (col("sizes") - col("inter")))
        .cast("long").as("jac_bp"): _*)
  }

  /** Pairs of documents sharing at least `minShared` keys of the
    * `(doc_id, key)` relation — the inverted-index detectors (CDC
    * chunks, winnowed fingerprints). `maxDf` is the hot-key guard: a
    * key held by k documents costs k²/2 pairs, and a key above `maxDf`
    * is corpus boilerplate, not a copied passage, so it is dropped
    * BEFORE the pair join. The df count groups on the key the join
    * shuffles on — co-partitioned, one cheap extra pass.
    */
  def sharedKeyPairs(keys: DataFrame, key: String, minShared: Long,
                     maxDf: Long): DataFrame = {
    val rare = keys.groupBy(key)
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(key)
    selfJoin(keys.join(rare.hint("shuffle_hash"), Seq(key), "left_semi"),
        Seq(key), "doc_id", hashHint = true)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** Candidate pairs `(idA, idB)` whose exact cosine of `u`, `v` is at
    * least `threshold`, sorted. `distinct` folds pairs listed under
    * several buckets (multi-probe cells) into one.
    */
  def cosinePairs(cand: DataFrame, idA: Column, idB: Column, u: Column,
                  v: Column, threshold: Double, distinct: Boolean): DataFrame = {
    val scored = cand.select(idA, idB, cosine_sim(u, v).as("cos"))
      .filter(col("cos") >= threshold)
    val ids = scored.columns.take(2).toSeq
    val pairs = scored.select(ids.map(col): _*)
    (if (distinct) pairs.distinct() else pairs).orderBy(ids.map(col): _*)
  }

  /** Each query's `k` best rows by `score` descending, ties to the
    * lower `id`, with the 1-based `rank` column kept. Authored as
    * Filter(rank ≤ k, Window(row_number)) — the shape
    * [[graft.plans.TopKPerGroupStrategy]] plans as heap phases.
    */
  def topK(df: DataFrame, score: String, id: String, k: Int): DataFrame =
    df.withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col(score).desc, col(id))))
      .filter(col("rank") <= k)

  /** The answer shape of every search: `(q_id, rank, n_id)` for each
    * query's `k` best `cos`, sorted.
    */
  def ranked(scored: DataFrame, k: Int): DataFrame =
    topK(scored, "cos", "n_id", k)
      .select("q_id", "rank", "n_id")
      .orderBy("q_id", "rank")

  /** A driver-side value as a plan-side column: a literal when its
    * `doubles` fit `budget`, else a one-row broadcast relation named
    * `name` cross-joined into `df`, so a large value ships once per
    * executor as a broadcast block instead of riding every task's
    * serialized plan (and Janino's compile). Returns the frame to
    * scan and the column to read the value from.
    */
  def attach[T: TypeTag](df: DataFrame, value: T, doubles: Int, name: String,
                         budget: Int): (DataFrame, Column) =
    if (doubles <= budget) (df, typedLit(value))
    else {
      val sq = df.sparkSession
      import sq.implicits._
      (df.crossJoin(broadcast(Seq(Tuple1(value)).toDF(name))), col(name))
    }
}
