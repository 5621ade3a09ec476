package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class ScratchSpec extends AnyFunSuite {

  test("dir hands out fresh directories under the per-JVM root") {
    val root = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-scratch-${ProcessHandle.current().pid()}")
    val (a, b) = (Scratch.dir("spec"), Scratch.dir("spec"))
    assert(a != b)
    for (d <- Seq(a, b)) {
      assert(Files.isDirectory(d) && d.getParent == root, d)
      assert(d.getFileName.toString.startsWith("spec"), d)
    }
  }

  test("the root-deletion function removes a whole tree") {
    val tree = Scratch.dir("delete-spec")
    Files.createDirectories(tree.resolve("ckpt/offsets"))
    Files.writeString(tree.resolve("ckpt/offsets/0"), "v1")
    Files.writeString(tree.resolve("part-0.parquet"), "x")
    Scratch.delete(tree)
    assert(!Files.exists(tree))
  }
}
