package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One memo for session state: [[Memo]] is the only place that caches
  * per-session artifacts, and no code mutates a shared session's conf
  * under a JVM-wide lock. A private `TrieMap` cache, a check-then-act
  * key set or a conf mutex anywhere else in the main sources fails
  * here.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("session caches, key-set flags and conf mutexes live only in Memo") {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val allowed: Map[String, Set[String]] = Map(
      "TrieMap" -> Set("Memo.scala"),
      "ConcurrentHashMap.newKeySet" -> Set("Memo.scala", "TmpDir.scala"),
      "confMutex" -> Set.empty[String])
    val hits = for {
      f <- sources
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      (token, ok) <- allowed
      if line.contains(token) && !ok(f.getFileName.toString)
    } yield s"$f:${n + 1}: $token"
    assert(sources.exists(_.getFileName.toString == "Memo.scala"))
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
