package graft.pipeline

import graft.corpus.Turn
import graft.semantics.{Mention, Triple}
import org.apache.spark.sql.Dataset

/** Typed Dataset row shapes for the KG pipeline (SURVEY.md §1.1 D3, D13,
  * D14). Kept flat & product-encodable so every stage stays inside
  * Catalyst's ExpressionEncoder (no Kryo).
  */
final case class MentionRow(start: Int, end: Int, value: String, tag: String, conf: Double)

object MentionRow {
  def of(m: Mention): MentionRow = MentionRow(m.start, m.end, m.value, m.tag, m.conf)
  def toMention(r: MentionRow): Mention = Mention(r.start, r.end, r.value, r.tag, r.conf)
}

final case class TripleRow(subj: String, pred: String, obj: String, subj_tag: String, obj_tag: String)

object TripleRow {
  def of(t: Triple): TripleRow = TripleRow(t.subj, t.pred, t.obj, t.subjTag, t.objTag)
}

/** A turn with gold labels (training input). */
final case class LabeledRow(
    conv_id: String, turn_idx: Int, role: String, text: String,
    tool: String, ts: java.sql.Timestamp, gold: Seq[MentionRow])

object LabeledRow {
  /** The labeled corpus without its labels: the turns the jobs read. */
  def turns(labeled: Dataset[LabeledRow]): Dataset[Turn] = {
    val spark = labeled.sparkSession
    import spark.implicits._
    labeled.map(r => Turn(r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts))
  }
}

/** Output of the NER/triple mapPartitions stage. */
final case class TaggedRow(
    conv_id: String, turn_idx: Int, turn_ord: Int, role: String,
    tool: String, ts: java.sql.Timestamp,
    mentions: Seq[MentionRow], triples: Seq[TripleRow])
