package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps one mechanism per concern in `src/main/scala`: session memos
  * go through [[SessionMemo]] and lineage cuts through [[Lineage]]. */
class SourceGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def hits(under: Path, pattern: String, skip: String = ""): Seq[String] =
    Files.walk(under).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != skip)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(pattern) => s"$p:${i + 1}: ${line.trim}"
        }
      }

  test("graft.ops keeps no memo cache of its own") {
    val ops = root.resolve("graft/ops")
    assert(Files.isDirectory(ops))
    assert(hits(ops, "TrieMap") ++ hits(ops, "SessionKey") == Nil)
  }

  test(".localCheckpoint( appears only in Lineage.scala") {
    assert(hits(root, ".localCheckpoint(", skip = "Lineage.scala") == Nil)
  }
}
