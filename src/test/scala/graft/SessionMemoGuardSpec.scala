package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every per-session cache goes through [[SessionMemo]]: one key, one
  * eviction rule, one build discipline. This spec fails when a
  * hand-rolled memo map (a `ConcurrentHashMap`) or an
  * `identityHashCode` session key appears anywhere else in src/main.
  */
class SessionMemoGuardSpec extends AnyFunSuite {

  test("no hand-rolled memo map or identityHashCode key outside SessionMemo") {
    var root = Paths.get(".").toAbsolutePath.normalize
    while (!Files.exists(root.resolve("build.sbt"))) root = root.getParent
    val src = root.resolve("src/main/scala")
    val found = Files.walk(src).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "SessionMemo.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("ConcurrentHashMap") ||
              line.contains("identityHashCode") =>
            s"${src.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }
      .toSeq
    assert(found.isEmpty,
      "route per-session caches through graft.SessionMemo:\n" +
        found.mkString("\n"))
  }
}
