package graft

import graft.output.Dot

class DotSpec extends SparkSpec {
  test("F4: sanitize uses the reference's exact class (0 is excluded)") {
    assert(Dot.sanitizeId("Lionel Barrymore") == "Lionel_Barrymore")
    assert(Dot.sanitizeId("Movie 2000!") == "Movie_2____")  // 2 kept, 0s + ! replaced
    assert(Dot.sanitizeId("abc19") == "abc19")
  }

  test("O2: surname key is the last space token") {
    assert(Dot.surnameKey("Lionel Barrymore") == "Barrymore")
    assert(Dot.surnameKey("Cher") == "Cher")
    assert(Dot.surnameKey("Robert Downey Jr.") == "Jr.")
  }

  test("renderPng produces a PNG when dot exists, None otherwise") {
    val dot = Dot.render("A", Seq(("A", "B")), actors = false)
    val out = tempDir("graft-png")
      .resolve("g.png").toString
    Dot.renderPng(dot, out) match {
      case Some(path) =>
        assert(Dot.dotAvailable)
        val magic = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)).take(8)
        assert(magic.sameElements(
          Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)),
          "output is not a PNG")
      case None =>
        assert(!Dot.dotAvailable, "dot on PATH but renderPng returned None")
    }
  }

  test("render emits valid DOT with sorted vertices and edges") {
    val dot = Dot.render("A B", Seq(("A B", "C D"), ("A B", "E F")), actors = true)
    assert(dot.startsWith("digraph G {"))
    assert(dot.contains("A_B [label=\"A B\", shape=box];"))
    assert(dot.contains("A_B -> C_D;"))
    assert(dot.contains("A_B -> E_F;"))
    assert(dot.endsWith("}\n"))
    // quote escaping
    val dq = Dot.render("X \"Y\"", Seq(), actors = false)
    assert(dq.contains("label=\"X \\\"Y\\\"\""))
  }
}
