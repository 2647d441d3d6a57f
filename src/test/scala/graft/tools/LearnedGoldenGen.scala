package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Generates the seed-fixed golden for the learned-scorer matcher
  * (`q_learned_match`'s operator, `LearnedMatch.topKMatches`) at sf0.001.
  * Same split of hard checks as the LDA matcher: the DuckDB oracle replays
  * the full INFERENCE plane from the exported model each round, and this
  * golden pins the iterative LR FIT itself (coefficients → readout) against
  * drift. It runs in the graft.TestSpark session the spec replays under —
  * the r6 driver-local LBFGS fit is deterministic, period (one pinned
  * collect order; pure sequential arithmetic after that). Run once:
  *   sbt -batch "Test/runMain graft.tools.LearnedGoldenGen"
  * → src/test/resources/golden/learned_match.csv, compared forever after by
  * LearnedMatchGoldenSpec (which also asserts run-to-run determinism). */
object LearnedGoldenGen {
  def main(args: Array[String]): Unit = {
    val spark = graft.TestSpark.spark
    val csv = compute(spark)
    val out = Paths.get("src/test/resources/golden/learned_match.csv")
    Files.createDirectories(out.getParent)
    Files.writeString(out, csv)
    println(s"wrote ${csv.linesIterator.size} lines to $out")
    spark.stop()
  }

  /** The exact q_learned_match slice at sf0.001 as a sorted CSV of
    * (left_id, right_id, logit_ppm, rn). Shared by generator and spec. */
  def compute(spark: SparkSession): String = {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val left = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val right = emb.filter(col("vec_id") >= 100 && col("vec_id") < 160)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val rows = graft.operators.LearnedMatch
      .topKMatches(left, right, k = 2, threshold = 0.2)
      .select(col("left_id"), col("right_id"),
        floor(col("logit") * 1000000L).cast("long").as("logit_ppm"), col("rn"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    "left_id,right_id,logit_ppm,rn\n" +
      rows.map { case (l, r, s, n) => s"$l,$r,$s,$n" }.mkString("", "\n", "\n")
  }
}
