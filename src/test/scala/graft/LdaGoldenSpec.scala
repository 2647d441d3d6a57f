package graft

import org.scalatest.funsuite.AnyFunSuite

/** Value-pinning for the Spark ML LDA matcher — the one operator whose
  * driver check is rows-only (`q_topic_match`: an online-variational LDA
  * fit has no ANSI-SQL replay). The golden was produced by
  * [[graft.tools.LdaGoldenGen]], which runs in the TestSpark session itself
  * (seed 42, fixed sf0.001 input partitioning); this spec re-runs the fit
  * and requires identical (left_id, right_id, score_ppm) rows, plus a
  * second in-session run to pin run-to-run determinism itself. */
class LdaGoldenSpec extends AnyFunSuite {

  test("q_topic_match slice reproduces the checked-in LDA golden bit-for-bit") {
    val spark = TestSpark.spark
    val got = graft.tools.LdaGoldenGen.compute(spark)
    val in = getClass.getResourceAsStream("/golden/lda_topic_match.csv")
    val exp = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    assert(got == exp, {
      val g = got.linesIterator.toSeq; val e = exp.linesIterator.toSeq
      val firstDiff = g.zipAll(e, "<missing>", "<missing>")
        .zipWithIndex.find { case ((a, b), _) => a != b }
      s"LDA fit drifted from golden at $firstDiff (${g.size} vs ${e.size} lines) — " +
        "if Spark/partitioning legitimately changed, regen via " +
        "sbt -batch \"Test/runMain graft.tools.LdaGoldenGen\""
    })
    // determinism within a session: the seed-fixed fit must replay exactly
    assert(graft.tools.LdaGoldenGen.compute(spark) == got)
  }
}
