package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column functions over `array<float>` embedding columns
  * (testdata `embeddings.parquet` shape). Pure expression trees — `zip_with`
  * for the elementwise product, `aggregate` for the left-to-right sum, so the
  * summation order is pinned (bit-reproducible) and the whole thing codegens.
  * Reference semantics: cosine scoring of 23.8M pairs (`BERT_Model.py:36-57`,
  * `cosine_similarity.py:31-36`). */
object VectorFunctions {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val na = norm(a)
    val nb = norm(b)
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot(a, b) / (na * nb))
  }

  // NOTE: LSH bucketing lives ONLY in VectorExpressions.HyperplaneBucket
  // (splitmix64 planes, pinned by the bucket oracles). A HOF lookalike that
  // derived planes from xxhash64 under the same name/signature used to sit
  // here — removed: it produced entirely different buckets and no operator
  // called it.
}
