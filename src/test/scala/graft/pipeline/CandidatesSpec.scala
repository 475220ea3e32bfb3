package graft.pipeline

import graft.SparkSpec
import graft.pipeline.Candidates.SortedSet
import org.apache.spark.sql.functions._

/** The candidate core's exactness rules against brute force: the
  * integer Jaccard threshold `floor(1e4·J) ≥ minBp` behind the length
  * prune and the early-exit merge, and the `(score desc, id asc)`
  * tie-break of every per-query top-k.
  */
class CandidatesSpec extends SparkSpec {

  /** 80 sorted sets of 1–10 tokens over a 14-token alphabet, seeded:
    * small enough for all pairs, dense enough that many pairs sit on
    * every side of each threshold below.
    */
  private val sets: Seq[(Long, Seq[String])] = {
    val rnd = new scala.util.Random(7)
    val alphabet = (0 until 14).map(i => f"t$i%02d")
    (0 until 80).map { id =>
      id.toLong -> rnd.shuffle(alphabet).take(1 + rnd.nextInt(10)).sorted
    }
  }

  /** floor(1e4·|A∩B|/|A∪B|) in integer arithmetic. */
  private def jacBp(a: Seq[String], b: Seq[String]): Long = {
    val i = a.intersect(b).size
    10000L * i / (a.size + b.size - i)
  }

  private def verified(minBp: Long): Set[(Long, Long, Long)] = {
    import spark.implicits._
    val docs = sets.toDF("doc_id", "sh")
      .select(col("doc_id"), array_sort(col("sh")).as("sh"),
        size(col("sh")).as("nsh"))
    val a = SortedSet(col("a.sh"), col("a.nsh"))
    val b = SortedSet(col("b.sh"), col("b.nsh"))
    val pairs = Candidates.selfJoin(docs, Nil, "doc_id", hashHint = false,
      Candidates.jaccardAtLeast(a, b, minBp))
    Candidates.jaccardBp(pairs, a, b,
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private val brute: Seq[(Long, Long, Long)] = for {
    (ia, a) <- sets
    (ib, b) <- sets
    if ia < ib
  } yield (ia, ib, jacBp(a, b))

  test("exact Jaccard verify equals integer brute force, boundary included") {
    // thresholds ON observed values: a pair at floor(1e4·J) = minBp is
    // kept, and the same pair is dropped once minBp is one higher
    val onValues = Seq(3333L, 5000L, 6666L, 7500L)
      .filter(v => brute.exists(_._3 == v))
    assert(onValues.size == 4, "the generated sets miss a boundary value")
    for (minBp <- onValues.flatMap(v => Seq(v, v + 1)) ++ Seq(1L, 10000L)) {
      val want = brute.filter(_._3 >= minBp).toSet
      assert(verified(minBp) == want, s"minBp=$minBp")
    }
    for (v <- onValues) {
      val at = brute.filter(_._3 == v).toSet
      assert(at.subsetOf(verified(v)), s"pairs at floor(1e4·J) = $v dropped")
      assert(at.intersect(verified(v + 1)).isEmpty,
        s"pairs at floor(1e4·J) = $v kept at minBp ${v + 1}")
    }
  }

  test("per-query top-k ranks equal scores by the lower id first") {
    import spark.implicits._
    val scored = Seq(
      (1L, 5L, 0.5), (1L, 3L, 0.5), (1L, 9L, 0.9), (1L, 4L, 0.5),
      (2L, 7L, 0.1), (2L, 2L, 0.1), (2L, 6L, 0.1), (2L, 1L, 0.05))
      .toDF("q_id", "n_id", "cos")
    val got = Candidates.ranked(scored, 3)
    assert(got.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
      Seq((1L, 1, 9L), (1L, 2, 3L), (1L, 3, 4L),
        (2L, 1, 2L), (2L, 2, 6L), (2L, 3, 7L)))
    // the rank keeps the shape the grouped top-k strategy rewrites
    assert(got.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
  }
}
