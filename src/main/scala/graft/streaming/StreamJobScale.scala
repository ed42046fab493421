package graft.streaming

import org.apache.spark.sql.SparkSession

/** Bench-scale exercise of the PRODUCTION streaming entry point
  * (`graft.StreamJob`): the full bench corpus is staged as parquet
  * drops and pushed through the deploy pipeline exactly as a user
  * would run it — persisted model, published canonical map, file
  * source, `--once` bounded run, exactly-once manifest sink — and the
  * result is gated against the BATCH flagship's resolved triples by
  * count + order-independent fingerprint. StreamJobSpec proves the
  * semantics at toy scale; this proves the entry point moves the whole
  * corpus at throughput, inside every bench round.
  */
object StreamJobScale {

  final case class Result(turns: Long, rows: Long, batches: Int, sec: Double)

  def run(spark: SparkSession, sfDir: String): Result = {
    import spark.implicits._
    val b = graft.Kg.built(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("sjob_scale_").toString
    try {
      // deploy-shape staging (untimed): turn drops, persisted NER model,
      // published canonical map from the latest batch linking run
      b.labeled
        .map(r => graft.corpus.Turn(r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts))
        .write.parquet(s"$base/drops/drop1")
      graft.pipeline.NerTraining.save(b.model, spark, s"$base/model")
      StreamingIngest.publishCanonMap(
        graft.pipeline.KgPipeline.canonicalize(b.out.nodes, b.out.components),
        s"$base/canon")
      val nTurns = b.out.tagged.count() // cached — no extra pipeline run

      val t0 = System.nanoTime()
      val q = graft.StreamJob.run(spark, s"$base/drops/drop*", s"$base/model",
        s"$base/canon", s"$base/out", once = true)
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9

      // stream == batch at bench scale: same multiset of resolved triples
      val got = graft.Kg.resolvedFingerprint(spark.read.parquet(s"$base/out/resolved_triples"))
      val want = graft.Kg.resolvedFingerprint(b.out.resolvedTriples)
      require(got == want,
        s"StreamJob output diverged from the batch resolve at bench scale: " +
          s"stream (rows, fp) = $got vs batch $want")

      val batches = new java.io.File(s"$base/out/_manifests").listFiles()
        .count(_.getName.startsWith("stream-resolved-batch-"))
      Result(nTurns, got._1, batches, sec)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }
}
