package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.{KeywordWindows, LineFsm, TurnSlim}

/** Spark plane for the variant sectionizers:
  *
  *  - X4 line-FSM (`mutiple_pdf_cis.py:16-34`): per-conversation stateful line
  *    walk → long-form (section, row, value) with null padding. Same exchange
  *    shape as the flagship FSM (one shuffle on conv_id, sorted, streamed).
  *  - X5 keyword-pair windows (`cis_benchmarks.py:36-58`): stateless per turn
  *    → aligned rows per page; a pure flatMap, no shuffle at all.
  */
object LineSections {

  case class SectionRow(conv_id: String, section: String, row: Int, value: String)
  case class KeywordRow(conv_id: String, turn_idx: Int, key: String, row: Int,
      description: String, rationale: String, impact: String, audit: String,
      remediation: String, cis_control: String)

  /** X4: per-conversation line-FSM accumulation (title row = first line of the
    * first page, mutiple_pdf_cis.py:52 — carried as section "Title"). */
  def lineFsm(turns: Dataset[TurnSlim], numPartitions: Int = 32): Dataset[SectionRow] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns
      .repartition(numPartitions, col("conv_id"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
      .mapPartitions { it =>
        Extraction.groupedByConv(it).flatMap { case (cid, ts) =>
          val texts = ts.map(t => if (t.text == null) "" else t.text) // null ≡ empty page
          val parsed = LineFsm.parseDocument(texts)
          val title = texts.head.split('\n').headOption.getOrElse("")
          // reference REPLACES parsed_data['Title'] with the synthesized
          // title (mutiple_pdf_cis.py:55): an FSM-opened "Title" section (a
          // line like "Title: Description of scope" whose text contains a
          // keyword) must not survive alongside it — but its rows DO count
          // toward the equalized length (equalize runs before replacement)
          val n = if (parsed.isEmpty) 0 else parsed.map(_.row).max + 1
          parsed.filterNot(_.section == "Title")
            .map(sv => SectionRow(cid, sv.section, sv.row, sv.value)) ++
            (0 until n).map(i => SectionRow(cid, "Title", i, title))
        }
      }
  }

  /** X5/X6/X10/X13: stateless per-turn keyword-window extraction. */
  def keywordWindows(turns: Dataset[TurnSlim]): Dataset[KeywordRow] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.flatMap { t =>
      KeywordWindows.parsePage(if (t.text == null) "" else t.text).map { pr =>
        def v(k: String) = pr.values.getOrElse(k, "")
        KeywordRow(t.conv_id, t.turn_idx, pr.key, pr.row,
          v("description"), v("rationale"), v("impact"), v("audit"),
          v("remediation"), v("cis control"))
      }
    }
  }
}
