package graft

/** Output must not depend on file layout: [[Tables.load]] plans a
  * one-split table as a single partition with no shuffle, and a
  * multi-file copy of the same rows with its shuffles.
  */
class LayoutSpec extends SparkSpec {

  private val verbs = Seq("stats", "accumulate_top", "group_site", "track_visitors", "jsonl")

  /** A shuffle exchange; group_site's broadcast of its site list is
    * not one.
    */
  private def shuffles(name: String, sfDir: String): Boolean =
    "(?<!Broadcast)Exchange ".r.findFirstIn(
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString).isDefined

  private def rows(name: String, sfDir: String): Seq[String] =
    SparkEntry.queries(name)(spark, sfDir).collect().toSeq.map(_.toSeq.mkString("\u0001")).sorted

  test("log verbs return the same rows over single-file and 8-file events") {
    verbs.foreach { name =>
      assert(!shuffles(name, sf), s"$name over single-file events plans a shuffle")
      assert(shuffles(name, sfMultiFile), s"$name over 8-file events plans no shuffle")
      val single = rows(name, sf)
      assert(single.nonEmpty, s"$name returned no rows")
      assert(rows(name, sfMultiFile) == single, s"$name differs between layouts")
    }
  }
}
