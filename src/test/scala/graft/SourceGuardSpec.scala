package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One place per shared mechanism, enforced on the main sources:
  *  - one memo for session state: [[Memo]] is the only place that
  *    caches per-session artifacts, and no code mutates a shared
  *    session's conf under a JVM-wide lock. A private `TrieMap` cache,
  *    a check-then-act key set or a conf mutex anywhere else fails;
  *  - one materialize helper (`operators.Frames`) and one candidate
  *    core (`pipeline.Candidates`): a copied checkpoint, Jaccard verify
  *    or per-query rank elsewhere fails;
  *  - one write transaction: every snapshot commit outside the
  *    one-time `convert` and the manifest micro-bench goes through
  *    `Snapshot.transact`, so `Snapshot.commit(`, `recoverMeta(`,
  *    `retryConflicts` and `Snapshot.vacuum(` appear in no other main
  *    file; a rename commits or places files only in
  *    [[graft.sources.Snapshot]] (tables and IVF indexes alike) and in
  *    the datagram sink's per-file committer, and the directory-swap
  *    stack stays deleted.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** Lines of the sources under `dir` holding a token outside the
    * files that token is allowed in.
    */
  private def strayUses(dir: Path, allowed: Map[String, Set[String]]): Seq[String] =
    for {
      f <- sources if f.startsWith(dir)
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      (token, ok) <- allowed
      if line.contains(token) && !ok(f.getFileName.toString)
    } yield s"$f:${n + 1}: $token"

  test("session caches, key-set flags and conf mutexes live only in Memo") {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val hits = strayUses(root, Map(
      "TrieMap" -> Set("Memo.scala"),
      "ConcurrentHashMap.newKeySet" -> Set("Memo.scala", "TmpDir.scala"),
      "confMutex" -> Set.empty[String]))
    assert(sources.exists(_.getFileName.toString == "Memo.scala"))
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("checkpoints live only in Frames, verify and rank only in Candidates") {
    val pipeline = root.resolve("graft/pipeline")
    assert(Files.isRegularFile(pipeline.resolve("Candidates.scala")))
    val hits = strayUses(root, Map(".localCheckpoint(" -> Set("Frames.scala"))) ++
      strayUses(pipeline, Map(
        "sorted_intersect_atleast" -> Set("Candidates.scala"),
        "Window.partitionBy(\"q_id\")" -> Set("Candidates.scala")))
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("renames live only in the snapshot layer and the datagram sink") {
    val hits = strayUses(root, Map(
      ".rename(" -> Set("Snapshot.scala", "DatagramSource.scala"),
      "PartitionSwap" -> Set.empty[String],
      "Snapshot.commit(" -> Set("Snapshot.scala", "ManifestBench.scala"),
      "recoverMeta(" -> Set("Snapshot.scala"),
      "retryConflicts" -> Set("Snapshot.scala"),
      "Snapshot.vacuum(" -> Set("Snapshot.scala")))
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
