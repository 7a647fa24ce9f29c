package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class TempDirsSpec extends AnyFunSuite {

  test("scoped deletes the directories created inside it, and only those") {
    val outer = TempDirs.create("graft_scope_outer_")
    val inner = TempDirs.scoped {
      val d = TempDirs.create("graft_scope_inner_")
      Files.writeString(Paths.get(d, "f"), "x")
      assert(Files.isDirectory(Paths.get(d)))
      d
    }
    assert(!Files.exists(Paths.get(inner)))
    assert(Files.isDirectory(Paths.get(outer)))
    val failed = intercept[IllegalStateException](TempDirs.scoped {
      TempDirs.create("graft_scope_failed_")
      throw new IllegalStateException("query failed")
    })
    assert(failed.getMessage == "query failed")
    assert(!Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
      .anyMatch(_.getFileName.toString.startsWith("graft_scope_failed_")))
  }
}
