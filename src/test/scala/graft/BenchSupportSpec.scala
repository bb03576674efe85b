package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.util.BenchSupport.rmrf

/** `rmrf` is the one recursive delete: the measurement mains, Verify, Main's
  * warm-up and the CSV work-dir shutdown hook all call it.
  */
class BenchSupportSpec extends AnyFunSuite {

  test("rmrf deletes a nested tree and a single file; a missing path is a no-op") {
    val root = Files.createTempDirectory("rmrf-spec-")
    val leaf = Files.createDirectories(root.resolve("a/b/c"))
    Files.writeString(leaf.resolve("part-0"), "x")
    Files.writeString(root.resolve("a/part-1"), "y")
    val single = Files.createTempFile("rmrf-spec-", ".txt")
    rmrf(root.toString)
    rmrf(single.toString)
    assert(!Files.exists(root))
    assert(!Files.exists(single))
    rmrf(root.toString)
  }
}
