package graft.pipeline

import graft.semantics.{Mention, NerModel}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}

/** Distributed NER-model training (SURVEY.md §2 row 31, §3.2).
  *
  * Plan shape: one narrow flatMap (labeled turn -> training events) into
  * ONE partial+final hash aggregation (`groupByKey(...).count()` — a
  * single shuffle with map-side combine), then collect to the driver and
  * broadcast the assembled model. The event stream is
  * `NerModel.events`, the exact function the single-threaded oracle
  * folds over, so Spark-trained and oracle-trained models are equal by
  * construction.
  */
object NerTraining {

  def trainModel(train: Dataset[LabeledRow]): NerModel = {
    val spark = train.sparkSession
    import spark.implicits._
    val counts = train
      .flatMap { r =>
        NerModel.events(NerModel.TaggedDoc(r.text, r.gold.map(MentionRow.toMention).toArray))
      }
      .groupByKey(identity)
      .count()
      .collect()
    NerModel.assemble(counts)
  }

  def trainAndBroadcast(spark: SparkSession, train: Dataset[LabeledRow]): Broadcast[NerModel] =
    spark.sparkContext.broadcast(trainModel(train))

  /** The relational view of the model dictionaries — persistable as
    * Parquet (model-as-DataFrame, SURVEY.md §2 row 5) and the
    * `oracleSql`-comparable surface of training.
    */
  def dictionaryDF(train: Dataset[LabeledRow]): Dataset[(String, String, String, Long)] = {
    val spark = train.sparkSession
    import spark.implicits._
    train
      .flatMap(r => NerModel.events(NerModel.TaggedDoc(r.text, r.gold.map(MentionRow.toMention).toArray)))
      .groupByKey(identity)
      .count()
      .map { case ((d, k, v), n) => (d, k, v, n) }
  }

  /** Persist / load the model as human-debuggable parquet. */
  def save(model: NerModel, spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val rows = (
      model.entityDict.iterator.flatMap { case (k, vs) => vs.map { case (v, n) => (NerModel.D_ENTITY, k, v, n.toLong) } } ++
      model.tokenDict.iterator.flatMap { case (k, vs) => vs.map { case (v, n) => (NerModel.D_TOKEN, k, v, n.toLong) } } ++
      model.contextDict.iterator.flatMap { case (k, vs) => vs.map { case (v, n) => (NerModel.D_CONTEXT, k, v, n.toLong) } } ++
      model.caseDict.iterator.flatMap { case (k, vs) => vs.map { case (v, n) => (NerModel.D_CASE, k, v, n.toLong) } }
    ).toSeq
    spark.createDataset(rows).toDF("dict", "key", "value", "count")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: SparkSession, path: String): NerModel = {
    import spark.implicits._
    val counts = spark.read.parquet(path)
      .as[(String, String, String, Long)]
      .collect()
      .map { case (d, k, v, n) => ((d, k, v), n) }
    NerModel.assemble(counts)
  }
}
