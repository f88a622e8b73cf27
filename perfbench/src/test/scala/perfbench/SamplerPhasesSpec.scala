package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SamplerPhasesSpec extends AnyFunSuite {
  private val src = Seq(
    "def train() = {",                       // 1
    "  for (iter <- 0 until n) {",           // 2
    "    // -- (a) hyperprior --",           // 3
    "    stats.collect()",                   // 4
    "    // -- (c) conditional draws --",    // 5
    "    for (e <- ents) {",                 // 6
    "      drawn.collect()",                 // 7
    "    }",                                 // 8
    "    // -- (e) post burn-in: fold --",   // 9
    "    helper()",                          // 10
    "  }",                                   // 11
    "}",                                     // 12
    "def helper() = p.head()")               // 13
  private val phases = new SamplerPhases(Map("Gibbs" -> SamplerPhases.markers(src)))

  test("markers are read from the phase comments") {
    assert(SamplerPhases.markers(src) == Seq(3 -> "hyper", 5 -> "draw", 9 -> "fold"))
  }

  test("a job takes the phase of its outermost call site inside the sweep loop") {
    val draw = "graft.bdf.Gibbs$.$anonfun$train$3(Gibbs.scala:7)\n" +
      "scala.collection.immutable.List.foreach(List.scala:334)\n" +
      "graft.bdf.Gibbs$.$anonfun$train$2(Gibbs.scala:6)\n" +
      "graft.bdf.Gibbs$.train(Gibbs.scala:2)"
    assert(phases.phaseOf(draw).contains("draw"))
    // a helper defined after the loop is charged to its caller's phase
    val fold = "graft.bdf.Gibbs$.helper(Gibbs.scala:13)\ngraft.bdf.Gibbs$.train(Gibbs.scala:10)"
    assert(phases.phaseOf(fold).contains("fold"))
    assert(phases.phaseOf("graft.bdf.Gibbs$.train(Gibbs.scala:2)").contains("init"))
    assert(phases.phaseOf("graft.bdf.RelationData$.fromDF(RelationData.scala:74)").isEmpty)
  }

  test("both samplers mark the draw and fold phases") {
    val loaded = SamplerPhases.load(sys.props.getOrElse("perfbench.src", "../src/main/scala"))
    for (f <- Seq("Gibbs", "GibbsDistributed")) {
      val names = loaded.markers.getOrElse(f, Nil).map(_._2)
      assert(names.contains("draw") && names.contains("fold"), f)
    }
  }
}
