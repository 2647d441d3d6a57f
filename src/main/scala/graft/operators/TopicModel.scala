package graft.operators

import org.apache.spark.ml.clustering.LDA
import org.apache.spark.ml.feature.{CountVectorizer, Tokenizer}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A4/J9 topic-model matcher (`Topic_Modelling.py:22-82`): fit CountVectorizer
  * + LDA on the UNION of both sides (the reference's union-fit idiom), embed
  * each side into topic space, score pairs by topic-distribution cosine, keep
  * per-left argmax. k=10 topics per the reference (Topic_Modelling.py:30). */
object TopicModel {

  /** Deterministic PLSA-EM topic matcher — the cross-engine-verifiable
    * sibling of [[bestMatch]]. Same union-fit idiom and k=10 topic space as
    * the reference (`Topic_Modelling.py:22-35`), but the model is plain
    * PLSA fit by `iters` exact EM steps with a modular-pattern init instead
    * of Spark ML's online-variational LDA, so every float op has a defined
    * order and the ENTIRE fit replays bit-identically in the DuckDB oracle
    * (unrolled CTE chain, one block per EM iteration).
    *
    * Arithmetic contract (mirrored exactly by the SQL builder in
    * MatchingQueries): vocab = distinct `\w\w+` tokens of the lowercased union,
    * sorted ascending; doc order = id ascending;
    *   den(d,w)  = Σ_z θ(d,z)·φ(z,w)                      (z ascending)
    *   tN(d,z)   = Σ_w n(d,w)·θ(d,z)·φ(z,w)/den(d,w)      (w ascending)
    *   pN(z,w)   = Σ_d n(d,w)·θ(d,z)·φ(z,w)/den(d,w)      (d ascending)
    * each normalized by its ascending-order row sum; init
    *   θ0(d,z) ∝ 1 + ((id·31 + z·17) mod 97)/1000,
    *   φ0(z,w) ∝ 1 + ((z·13 + w·7) mod 89)/1000.
    * The FIT is driver-side on a BOUNDED doc set: when the union holds at
    * most `fitSampleLimit` docs (every test/oracle scale) it is the full
    * union — bit-identical to the SQL oracle's replay; past the cap, the
    * model is fit on the `fitSampleLimit` union docs with the smallest
    * (fingerprint64(id), id) — an unbiased deterministic sample, the same
    * chain as TrainingData's samplers — and EVERY doc (sample included,
    * for uniformity) is then embedded by a DISTRIBUTED per-doc fold-in:
    * `iters` theta-only EM steps against the broadcast final φ (each doc's
    * theta is independent given φ, so the embed is one codegen-adjacent
    * map pass — nothing corpus-sized ever reaches the driver). The SCORING
    * is the usual broadcast cross-join + per-left argmax window (`right`
    * is the bounded query side). */
  def plsaBestMatch(left: DataFrame, right: DataFrame, k: Int = 10,
                    iters: Int = 5, fitSampleLimit: Int = 1 << 16): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(fitSampleLimit >= 1, s"fitSampleLimit must be >= 1, got $fitSampleLimit")
    val spark = left.sparkSession
    import spark.implicits._
    // null text ≡ empty doc (real corpora carry NULL cells; the fit and the
    // fold-in kernel must not NPE on one); null ids cannot survive the typed
    // (Long, String) decode, so they are dropped up front — the TfIdfMatch
    // convention
    val lDs = left.filter(col("id").isNotNull).select(col("id").cast("long"),
      coalesce(col("text"), lit("")).as("text")).as[(Long, String)]
    val rDs = right.filter(col("id").isNotNull).select(col("id").cast("long"),
      coalesce(col("text"), lit("")).as("text")).as[(Long, String)]
    // ONE side-tagged bounded collect decides over/under-cap AND, under the
    // cap, IS the corpus — the inputs are never evaluated a probe-only
    // extra time (they may be expensive derived pipelines)
    val probe = lDs.toDF.withColumn("is_left", lit(true))
      .unionByName(rDs.toDF.withColumn("is_left", lit(false)))
      .limit(fitSampleLimit + 1)
      .as[(Long, String, Boolean)].collect()
    if (probe.length > fitSampleLimit)
      return plsaFoldInMatch(lDs, rDs, k, iters, fitSampleLimit)
    // Side-tagged stable sort: the fit's doc order is id-ascending with left
    // docs before right docs on an id collision (the two sides may share an
    // id space), and each side's thetas are recovered BY POSITION — never by
    // id membership, which would leak a colliding right doc's vector into
    // the left side and drop it from the candidate pool.
    val tagged = (probe.filter(_._3) ++ probe.filterNot(_._3)).sortBy(_._1)
    val (_, theta, _) = fitPlsa(tagged.map(p => (p._1, p._2)), k, iters)
    val withTheta = tagged.zip(theta)
    val lv = spark.createDataFrame(
      withTheta.collect { case ((id, _, true), th) => (id, th.toSeq) }.toSeq
    ).toDF("left_id", "lv")
    val rv = spark.createDataFrame(
      withTheta.collect { case ((id, _, false), th) => (id, th.toSeq) }.toSeq
    ).toDF("right_id", "rv")
    bestTopicCosine(lv, rv)
  }

  private val tokRe = java.util.regex.Pattern.compile("\\w\\w+")
  private def toks(s: String): Seq[String] = {
    // Locale.ROOT: default-locale toLowerCase diverges per JVM (tr-TR maps
    // I to dotless ı, which \w\w+ then splits), breaking both the DuckDB
    // oracle replay and driver/executor consistency in the fold-in plane
    val m = tokRe.matcher(s.toLowerCase(java.util.Locale.ROOT))
    val b = Seq.newBuilder[String]
    while (m.find()) b += m.group()
    b.result()
  }

  /** The exact joint EM fit of the scaladoc's arithmetic contract over an
    * in-memory doc set (MUST be id-ascending). Returns (vocab ascending,
    * theta D×k, phi k×v). Pure code motion from the original inline fit —
    * every float op keeps its documented order, so the DuckDB oracle's
    * unrolled-CTE replay is unaffected. */
  private[graft] def fitPlsa(docs: Array[(Long, String)], k: Int, iters: Int)
      : (Array[String], Array[Array[Double]], Array[Array[Double]]) = {
    val ids = docs.map(_._1)
    val vocab = docs.flatMap(d => toks(d._2)).distinct.sorted
    val widx = vocab.zipWithIndex.toMap
    val dN = docs.length; val v = vocab.length
    // Sparse doc-term counts: per doc, ascending word indices + counts. A
    // zero-count term contributes an exact +0.0 to every ascending-order
    // fold below (all inputs are >= 0 and den > 0, so no -0.0 arises and
    // s + 0.0 == s bitwise), so skipping zeros is bit-identical to the
    // contract's dense D×V folds while keeping memory O(nnz + D·k + k·V)
    // instead of a driver-OOM dense n + per-iteration den at the doc cap.
    val docW = new Array[Array[Int]](dN)
    val docC = new Array[Array[Double]](dN)
    docs.zipWithIndex.foreach { case ((_, t), di) =>
      val cnt = scala.collection.mutable.HashMap.empty[Int, Double]
      toks(t).foreach { w =>
        val i = widx(w); cnt.update(i, cnt.getOrElse(i, 0.0) + 1.0)
      }
      val ws = cnt.keys.toArray.sorted
      docW(di) = ws
      docC(di) = ws.map(cnt)
    }
    // modular-pattern init, rows normalized by ascending-order sums
    var theta = Array.tabulate(dN, k) { (di, z) =>
      1.0 + ((ids(di) * 31 + z * 17) % 97).toDouble / 1000.0
    }
    theta = theta.map { row => val s = row.sum; row.map(_ / s) }
    var phi = Array.tabulate(k, v) { (z, w) =>
      1.0 + ((z * 13 + w * 7) % 89).toDouble / 1000.0
    }
    phi = phi.map { row => val s = row.sum; row.map(_ / s) }
    var it = 0
    while (it < iters) {
      val tN = Array.ofDim[Double](dN, k)
      val pN = Array.ofDim[Double](k, v)
      var d = 0
      while (d < dN) {
        val ws = docW(d); val cs = docC(d)
        // den(d,w) for this doc's nonzero terms, z ascending — the same
        // fold order as the contract's dense den
        val den = new Array[Double](ws.length)
        var i = 0
        while (i < ws.length) {
          var s = 0.0; var z = 0
          while (z < k) { s += theta(d)(z) * phi(z)(ws(i)); z += 1 }
          den(i) = s; i += 1
        }
        // tN(d,z): fold w ascending over the nonzero terms
        var z = 0
        while (z < k) {
          var s = 0.0; i = 0
          while (i < ws.length) { s += cs(i) * theta(d)(z) * phi(z)(ws(i)) / den(i); i += 1 }
          tN(d)(z) = s; z += 1
        }
        // pN(z,w) accumulates in d-ascending order — the outer loop IS d,
        // and each doc touches a given (z,w) cell at most once
        i = 0
        while (i < ws.length) {
          val w = ws(i); val nw = cs(i); val dn = den(i)
          z = 0
          while (z < k) { pN(z)(w) += nw * theta(d)(z) * phi(z)(w) / dn; z += 1 }
          i += 1
        }
        d += 1
      }
      // a zero row (doc with no tokens / dead topic) keeps its previous
      // distribution instead of producing 0/0 — mirrored in the SQL oracle
      theta = tN.zip(theta).map { case (row, old) =>
        val s = row.sum; if (s == 0.0) old else row.map(_ / s)
      }
      phi = pN.zip(phi).map { case (row, old) =>
        val s = row.sum; if (s == 0.0) old else row.map(_ / s)
      }
      it += 1
    }
    (vocab, theta, phi)
  }

  /** Per-doc fold-in: `iters` theta-only EM steps against a FIXED φ. Each
    * doc is independent given φ, so this runs inside a map pass. Per-z
    * partial sums accumulate in ascending-w order — the same float-op
    * sequence as the joint fit's tN — and a zero row (no in-vocab tokens)
    * keeps the modular init, mirroring the joint fit's 0/0 guard. OOV
    * tokens (absent from the sample vocabulary) are dropped. */
  private[graft] def foldInTheta(id: Long, text: String, widx: Map[String, Int],
      phi: Array[Array[Double]], k: Int, iters: Int): Array[Double] = {
    val cnt = scala.collection.mutable.HashMap.empty[Int, Double]
    toks(text).foreach { t =>
      widx.get(t).foreach(w => cnt.update(w, cnt.getOrElse(w, 0.0) + 1.0))
    }
    val ws = cnt.keys.toArray.sorted
    var theta = Array.tabulate(k)(z => 1.0 + ((id * 31 + z * 17) % 97).toDouble / 1000.0)
    locally { val s = theta.sum; theta = theta.map(_ / s) }
    var it = 0
    while (it < iters) {
      val tN = new Array[Double](k)
      var i = 0
      while (i < ws.length) {
        val w = ws(i); val nw = cnt(w)
        var den = 0.0; var z = 0
        while (z < k) { den += theta(z) * phi(z)(w); z += 1 }
        z = 0
        while (z < k) { tN(z) += nw * theta(z) * phi(z)(w) / den; z += 1 }
        i += 1
      }
      val s = tN.sum
      if (s != 0.0) theta = tN.map(_ / s)
      it += 1
    }
    theta
  }

  /** Over-cap plane: bounded deterministic sample fit + distributed fold-in
    * embed (see [[plsaBestMatch]] scaladoc). Nothing corpus-sized touches
    * the driver: the sample is `limit`-bounded, φ broadcasts once, and the
    * embeds stay on the executors until the bounded-right scoring join. */
  private def plsaFoldInMatch(lDs: Dataset[(Long, String)], rDs: Dataset[(Long, String)],
      k: Int, iters: Int, fitSampleLimit: Int): DataFrame = {
    import graft.expressions.TextHashExpressions.fingerprint64
    val spark = lDs.sparkSession
    import spark.implicits._
    val sample = lDs.toDF.unionByName(rDs.toDF)
      .withColumn("fp", fingerprint64(col("id").cast("string")))
      .orderBy(col("fp"), col("id")).limit(fitSampleLimit)   // TakeOrdered — no global sort
      .select(col("id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1)
    val (vocab, _, phi) = fitPlsa(sample, k, iters)
    val bc = spark.sparkContext.broadcast((vocab.zipWithIndex.toMap, phi))
    def embed(ds: Dataset[(Long, String)], idAs: String, vecAs: String): DataFrame =
      ds.mapPartitions { it =>
        val (widx, ph) = bc.value
        it.map { case (id, t) => (id, foldInTheta(id, t, widx, ph, k, iters).toSeq) }
      }.toDF(idAs, vecAs)
    bestTopicCosine(embed(lDs, "left_id", "lv"), embed(rDs, "right_id", "rv"))
  }

  /** Shared scoring tail: broadcast cross-join on topic-space cosine,
    * per-left argmax with the (desc score, right_id) tie order. Kept
    * `private[graft]` so MatchingQueries' `q_topic_match` can re-score its
    * EXPORTED topic vectors: the cosine loop is i-ascending left-assoc
    * (dot += a(i)*b(i)), so a k-fixed SQL chain `a[1]*b[1] + … + a[k]*b[k]`
    * replays it bit-identically and the ML-fit readout gets a real
    * cross-engine oracle (the fit itself stays pinned by LdaGoldenSpec). */
  private[graft] def bestTopicCosine(lv: DataFrame, rv: DataFrame): DataFrame = {
    val cosD = udf { (a: Seq[Double], b: Seq[Double]) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    lv.crossJoin(broadcast(rv))
      .withColumn("score", cosD(col("lv"), col("rv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("left_id")).orderBy(desc("score"), col("right_id"))))
      .filter(col("rn") === 1)
      .select(col("left_id"), col("right_id"), col("score"))
  }

  /** Best topic-space match per left row. `left`/`right`: (id, text). */
  def bestMatch(left: DataFrame, right: DataFrame, k: Int = 10,
                vocabSize: Int = 1 << 14, seed: Long = 42L): DataFrame = {
    val (lv, rv) = topicEmbeds(left, right, k, vocabSize, seed)
    bestTopicCosine(lv, rv)
  }

  /** The union-fit LDA embeds behind [[bestMatch]], exposed so callers can
    * materialize the topic vectors (e.g. to parquet) and oracle the scoring
    * tail over the export: (left_id, lv:array‹double›) ×
    * (right_id, rv:array‹double›). */
  def topicEmbeds(left: DataFrame, right: DataFrame, k: Int = 10,
                  vocabSize: Int = 1 << 14, seed: Long = 42L)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.ml.functions.vector_to_array
    val tok = new Tokenizer().setInputCol("text").setOutputCol("words")
    val union = left.select(coalesce(col("text"), lit("")).as("text"))
      .unionByName(right.select(coalesce(col("text"), lit("")).as("text")))
    // the union may be an expensive derived pipeline and LDA's online
    // optimizer re-samples its input across its iterations — cache the
    // tokenized/vectorized features for the two fits, release right after
    val tokenized = tok.transform(union).cache()
    val cv = new CountVectorizer().setInputCol("words").setOutputCol("tf")
      .setVocabSize(vocabSize).fit(tokenized)
    val feats = cv.transform(tokenized).cache()
    val lda = new LDA().setK(k).setMaxIter(10).setSeed(seed).setFeaturesCol("tf")
      .fit(feats)
    tokenized.unpersist()
    feats.unpersist()

    // vector_to_array makes the embeds share bestTopicCosine's scoring tail
    // (one cosine kernel, one argmax/tie-break contract for both matchers)
    def embed(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      lda.transform(cv.transform(tok.transform(
          df.withColumn("text", coalesce(col("text"), lit(""))))))
        .select(col("id").as(idAs),
          vector_to_array(col("topicDistribution")).as(vecAs))

    (embed(left, "left_id", "lv"), embed(right, "right_id", "rv"))
  }
}
