package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class GatedQuerySpec extends AnyFunSuite {

  test("indexScratch: same-named table dirs get disjoint scratch; two spellings of one dir share it") {
    val root = Files.createTempDirectory("scratch_key").toFile
    val a = new java.io.File(root, "a/tables"); a.mkdirs()
    val b = new java.io.File(root, "b/tables"); b.mkdirs()
    // a stateful query (q187's join view) persists its state here: a
    // shared path would answer the second table set from the first's
    assert(GatedQuery.indexScratch(a.getPath, "q") !==
      GatedQuery.indexScratch(b.getPath, "q"))
    assert(GatedQuery.indexScratch(a.getPath, "q") ===
      GatedQuery.indexScratch(s"$root/b/../a/./tables/", "q"))
    assert(GatedQuery.indexScratch(a.getPath, "q").endsWith("/q"))
  }
}
