package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class MaterializeSpec extends AnyFunSuite {

  test("scratchDir empties a used directory; deleteTree removes a tree and skips a missing one") {
    val sf = "/materialize/spec"
    val dir = Materialize.scratchDir(sf, "nested")
    assert(dir === Materialize.scratchPath(sf, "nested"))
    Files.createDirectories(dir.resolve("a/b"))
    Files.writeString(dir.resolve("a/b/part.txt"), "x")
    Files.writeString(dir.resolve("top.txt"), "y")
    val again = Materialize.scratchDir(sf, "nested")
    assert(Files.isDirectory(again) && again.toFile.list().isEmpty,
      s"left behind: ${again.toFile.list().toSeq}")
    Files.createDirectories(again.resolve("c/d"))
    Files.writeString(again.resolve("c/d/part.txt"), "z")
    Materialize.deleteTree(again)
    assert(!Files.exists(again))
    Materialize.deleteTree(again) // missing: a no-op
    assert(!Files.exists(again))
  }
}
