package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's scalar string-cleaning surface (SURVEY §2.4 F1–F9) as
  * codegen'd column expressions — no UDFs anywhere on this path.
  * Each cites the reference site whose semantics it reproduces. */
object Clean {

  /** F2: lower + non-alpha strip (Text_preprocessing.py:28-30). (?U): the
    * reference's Python `\s` is Unicode (keeps NBSP — ubiquitous in
    * PDF-extracted text — as a separator); Java's ASCII default would
    * delete it, merging adjacent words. The DuckDB replica's RE2 stays
    * ASCII — divergent only on non-ASCII whitespace, absent from the
    * fixtures. */
  def lowerAlpha(c: Column): Column =
    regexp_replace(lower(c), "(?U)[^a-z\\s]", "")

  /** F4: keep from the first case-insensitive 'Ensure'; else strip leading
    * number junk (Text_Preprocessing_V1.py:24-30). */
  def ensureAnchored(c: Column): Column = {
    val pos = regexp_instr(c, lit("(?i)\\bEnsure\\b"))
    when(pos > 0, substring(c, pos, length(c))) // substring is 1-based
      .otherwise(regexp_replace(c, "^\\.?\\d+(?:\\.\\d+)*\\s*", ""))
  }

  /** F5: leading page/number prefix strip (text_preprocessing3.py:4-11). */
  def stripLeadingPageNum(c: Column): Column =
    regexp_replace(c, "(?i)^(Page\\s*\\d+(\\.\\d+)?\\s*|\\d+(\\.\\d+)*\\s*|(\\.\\d+)+\\s*)", "")

  /** F8: combined-text concat (Similarity.py:10). */
  def combined(a: Column, b: Column): Column = concat_ws(" ", a, b)

  /** F9: filename stem from a path column (cis_benchmarks_new.py:17). */
  def fileStem(pathCol: Column): Column =
    regexp_replace(element_at(split(pathCol, "/"), -1), "\\.[A-Za-z0-9]+$", "")

  /** F7: apply a cleaner to every column of a frame
    * (Text_preprocessing.py:41-42). */
  def applyToAllColumns(df: DataFrame, cleaner: Column => Column): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumn(c, cleaner(col(c))))

  /** F3 (Text_preprocessing.py:31-36): tokenize + english stopword filter +
    * rejoin. Uses the FULL published NLTK English stopword list pinned in
    * `TextStats.NltkStopWordsEn` (179 entries) — zero list divergence from
    * the reference's `stopwords.words('english')`, with no NLTK runtime on
    * the executors. */
  def stopwordFiltered(c: Column): Column = {
    val sw = graft.core.TextStats.NltkStopWordsEn.map(lit(_))
    // empty-token drop: Python str.split() keeps none, while Spark split
    // retains leading/trailing empties for text edged with non-space
    // whitespace — those would survive the stopword filter and leave stray
    // spaces in the rejoined text
    array_join(filter(split(trim(lower(c)), "\\s+"),
      t => t =!= "" && !t.isInCollection(sw)), " ")
  }

  /** F3 lemmatizer: rule-based suffix stripper standing in for WordNet
    * (no NLTK on a Spark executor; same role, pinned semantics). */
  val lemmatize: Column => Column = {
    val lemmaUdf = udf { (s: String) =>
      if (s == null) null
      else s.split("\\s+").map(graft.core.TextStats.lemma).mkString(" ")
    }
    c => lemmaUdf(c)
  }

  /** Web-corpus text normalization (the ftfy-lite pass every pretraining
    * pipeline runs before dedup/scoring): drop C0 control chars (keeping
    * \n and \t), canonicalize curly quotes / dashes / NBSP via one
    * `translate`, expand the ellipsis char, collapse space-tab runs to one
    * space and 3+ newlines to a blank line, trim. Pure codegen'd
    * expression chain — zero shuffle; every pattern is in the Java∩RE2
    * subset so the DuckDB oracle runs the identical strings. Stage order
    * matters and is pinned by the spec: controls drop BEFORE whitespace
    * collapse (a control char between spaces must not survive as a
    * separator), ellipsis expands BEFORE space collapse. */
  def normalizeText(c: Column): Column = {
    val noCtl = regexp_replace(c, "[\\x00-\\x08\\x0B-\\x1F\\x7F]", "")
    val punct = translate(noCtl, "\u2018\u2019\u201C\u201D\u2013\u2014\u00A0",
      "''\"\"-- ")
    val ell = regexp_replace(punct, "\u2026", "...")
    val sp = regexp_replace(ell, "[ \\t]+", " ")
    val nl = regexp_replace(sp, "\\n{3,}", "\n\n")
    // full whitespace edge-strip: Spark trim() removes ' ' only, which
    // would leave leading/trailing newlines and defeat the
    // normalize-then-dedup equality this pass exists for
    regexp_replace(nl, "^\\s+|\\s+$", "")
  }
}
