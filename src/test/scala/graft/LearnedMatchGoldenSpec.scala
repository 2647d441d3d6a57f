package graft

import org.scalatest.funsuite.AnyFunSuite

/** Value-pinning for the learned-scorer matcher's ITERATIVE FIT — the
  * DuckDB oracle (`q_learned_match`) replays the whole inference plane from
  * the exported model, so the one unreplayable piece is the Spark ML
  * LogisticRegression fit itself; this golden (produced by
  * [[graft.tools.LearnedGoldenGen]] in the TestSpark session) pins it,
  * plus a second in-session run pins run-to-run determinism. */
class LearnedMatchGoldenSpec extends AnyFunSuite {

  test("q_learned_match slice reproduces the checked-in LR golden bit-for-bit") {
    val spark = TestSpark.spark
    val got = graft.tools.LearnedGoldenGen.compute(spark)
    val in = getClass.getResourceAsStream("/golden/learned_match.csv")
    val exp = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    assert(got == exp, {
      val g = got.linesIterator.toSeq; val e = exp.linesIterator.toSeq
      val firstDiff = g.zipAll(e, "<missing>", "<missing>")
        .zipWithIndex.find { case ((a, b), _) => a != b }
      s"LR fit drifted from golden at $firstDiff (${g.size} vs ${e.size} lines) — " +
        "if Spark/partitioning legitimately changed, regen via " +
        "sbt -batch \"Test/runMain graft.tools.LearnedGoldenGen\""
    })
    // determinism within a session: the fit must replay exactly
    assert(graft.tools.LearnedGoldenGen.compute(spark) == got)
  }

  test("inference kernel: balanced-tree logit is exact and sigmoid-monotone") {
    // the tree-sum contract (see Model.logit scaladoc) on a hand model:
    // w=[1,2,3], m=[0,0,0], sd=[1,1,1] over x=[4,5,6] → terms [4,10,18];
    // tree: (4+10) then 14+18 carried = ((4+10)+18) = 32; +intercept 0.5
    val m = graft.operators.LearnedMatch.Model(0.5,
      Array(1.0, 2.0, 3.0), Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0))
    assert(m.logit(Array(4.0, 5.0, 6.0)) == 32.5)
    // zero-dim model degenerates to the intercept
    val m0 = graft.operators.LearnedMatch.Model(1.25,
      Array.empty, Array.empty, Array.empty)
    assert(m0.logit(Array.empty) == 1.25)
  }

  test("scoredPairs rejects mixed-dim vectors loud; fit rejects ragged features") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // model dim 4 = 2+2; a 1-element left vector must FAIL (silently
    // zero-padding would score the right half against the wrong weights
    // and diverge from the oracle's fixed [1..dim] indexing)
    val m = graft.operators.LearnedMatch.Model(0.0,
      Array(1.0, 1.0, 1.0, 1.0), Array.fill(4)(0.0), Array.fill(4)(1.0))
    val good = Seq((1L, Seq(1f, 2f))).toDF("id", "vec")
    val short = Seq((2L, Seq(3f))).toDF("id", "vec")
    assert(graft.operators.LearnedMatch.scoredPairs(good, good, m).count() == 1)
    val e = intercept[Exception] {
      graft.operators.LearnedMatch.scoredPairs(short, good, m).collect()
    }
    assert(e.getMessage != null)
    // ragged features at fit time fail with the named message, not an
    // executor-side AIOOBE from an arbitrary head() dim
    val raggedL = Seq((1L, Seq(1f, 2f)), (2L, Seq(1f, 2f, 3f))).toDF("id", "vec")
    val r = Seq((9L, Seq(1f, 2f))).toDF("id", "vec")
    val fe = intercept[IllegalArgumentException] {
      graft.operators.LearnedMatch.fit(raggedL, r, threshold = 0.0, maxIter = 1)
    }
    assert(fe.getMessage.contains("uniform feature dims"), fe.getMessage)
  }
}
