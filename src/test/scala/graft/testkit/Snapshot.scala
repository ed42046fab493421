package graft.testkit

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What an output holds, as each table's rows (sorted, one string per
  * row) and each manifest's bytes, so two outputs compare with `==` and
  * [[Snapshot.diff]] names the parts that differ.
  */
final case class Snapshot(parts: Map[String, Seq[String]]) {
  def diff(other: Snapshot): Seq[String] =
    (parts.keySet ++ other.parts.keySet).toSeq.sorted
      .filter(k => parts.get(k) != other.parts.get(k))
      .map(k => s"$k (${parts.get(k).fold(0)(_.size)} vs ${other.parts.get(k).fold(0)(_.size)})")
}

object Snapshot {

  private val tripleCols = Seq("conv_id", "turn_idx", "subj", "pred", "obj",
    "subj_tag", "obj_tag", "subj_id", "obj_id", "subj_canonical", "obj_canonical")

  private def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted

  /** `name: content` of every committed manifest under `localDir`. */
  private def manifests(localDir: String): Seq[String] =
    Option(new java.io.File(localDir, "_manifests").listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".json")).map { f =>
        s"${f.getName}: ${java.nio.file.Files.readString(f.toPath)}"
      }.sorted

  /** A graph output on the local disk: triples with their resolution
    * columns, entities, edges, link state, and the bucket manifests' rows
    * and fingerprints. */
  def graph(spark: SparkSession, localDir: String): Snapshot = {
    def read(t: String) = spark.read.parquet(s"$localDir/$t")
    Snapshot(Map(
      "triples" -> rows(read("triples"), tripleCols),
      "entities" -> rows(read("entities"), Seq("entity_id", "canonical", "entity_type", "n_mentions")),
      "edges" -> rows(read("edges"), Seq("src", "dst", "pred", "weight")),
      "link-state nodes" -> rows(read("_linkstate/nodes"),
        Seq("node_id", "norm", "tag", "surface", "n_mentions")),
      "link-state labels" -> rows(read("_linkstate/labels"), Seq("node_id", "component")),
      "manifests" -> manifests(localDir)))
  }

  /** A stream output on the local disk: the resolved rows and the batch manifests. */
  def stream(spark: SparkSession, localDir: String): Snapshot =
    Snapshot(Map(
      "resolved rows" -> rows(spark.read.parquet(s"$localDir/resolved_triples"),
        tripleCols.filterNot(c => c == "subj_tag" || c == "obj_tag") :+ "batch"),
      "manifests" -> manifests(localDir)))
}
