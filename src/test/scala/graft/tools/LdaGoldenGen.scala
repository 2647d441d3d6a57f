package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Generates the seed-fixed golden for the Spark ML LDA matcher
  * (`q_topic_match`'s operator, `TopicModel.bestMatch`) at sf0.001 — the
  * ONE query DuckDB cannot replay (an ML fit is not ANSI SQL), so its hard
  * check is this checked-in golden instead (round-3 verdict, Missing #2).
  *
  * It runs in the graft.TestSpark session the spec replays under: Spark
  * ML's online-variational LDA is deterministic for a fixed seed AND fixed
  * input partitioning, so the generator and the spec must share one
  * session config. Run once:
  *   sbt -batch "Test/runMain graft.tools.LdaGoldenGen"
  * → src/test/resources/golden/lda_topic_match.csv, compared forever after
  * by LdaGoldenSpec (which also asserts run-to-run determinism). */
object LdaGoldenGen {
  def main(args: Array[String]): Unit = {
    val spark = graft.TestSpark.spark
    val csv = compute(spark)
    val out = Paths.get("src/test/resources/golden/lda_topic_match.csv")
    Files.createDirectories(out.getParent)
    Files.writeString(out, csv)
    println(s"wrote ${csv.linesIterator.size} lines to $out")
    spark.stop()
  }

  /** The exact q_topic_match slice at sf0.001, rendered as a sorted CSV of
    * (left_id, right_id, score_ppm). Shared by the generator and the spec. */
  def compute(spark: SparkSession): String = {
    val doc = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val rows = graft.operators.TopicModel.bestMatch(
        doc.filter(col("id") < 30), doc.filter(col("id") >= 30 && col("id") < 120))
      .select(col("left_id"), col("right_id"),
        floor(col("score") * 1000000L).cast("long").as("score_ppm"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    "left_id,right_id,score_ppm\n" +
      rows.map { case (l, r, s) => s"$l,$r,$s" }.mkString("", "\n", "\n")
  }
}
