package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Incremental-linking parity gates: merging a new batch's surfaces into
  * a prior run's link state must produce EXACTLY the node table, labels,
  * canonical map, and entities a full recompute over the combined corpus
  * produces (the equality `incrementalLink(state(A), mentions(B)) ==
  * link(A ∪ B)` that KgIncrementalJob's whole design rests on), under
  * both real pipeline data and adversarial hand-built graphs (a new node
  * BRIDGING two prior components; a new surface stealing the canonical
  * min-norm; a batch introducing nothing new).
  */
class KgIncrementalSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("kg-incremental")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case s: Seq[_] => s.mkString("|")
      case x => x
    }).toSeq.sortBy(_.toString)

  private def assertFrameEqual(got: DataFrame, want: DataFrame, what: String): Unit = {
    val g = sortedRows(got)
    val w = sortedRows(want)
    assert(g == w, s"$what diverged: got ${g.size} rows, want ${w.size}\n" +
      s"got-only: ${(g.toSet -- w.toSet).take(3)}\nwant-only: ${(w.toSet -- g.toSet).take(3)}")
  }

  /** Full link over a mention set: nodes, labels. */
  private def fullLink(mentions: DataFrame): (DataFrame, DataFrame) = {
    val nodes = KgPipeline.surfaceNodes(mentions)
    val (edges, _) = KgPipeline.candidateEdges(nodes)
    (nodes, KgPipeline.connectedComponents(nodes, edges))
  }

  test("incremental link over a pipeline-data split equals the full recompute") {
    val labeled = Transcripts.generateLabeled(spark, 60L)
    val model = spark.sparkContext.broadcast(
      NerTraining.trainModel(Transcripts.trainSplit(labeled)))
    val tagged = KgPipeline.tagTurns(Transcripts.generate(spark, 60L), model)
    val mentions = KgPipeline.mentionRows(tagged).cache()
    // deterministic conv split: ~25% of conversations form the new batch
    val isNew = pmod(xxhash64(col("conv_id")), lit(4)) === 0
    val (priorNodes, priorLabels) = fullLink(mentions.where(!isNew))
    assert(mentions.where(isNew).count() > 0 && priorNodes.count() > 0)

    val inc = KgPipeline.incrementalLink(priorNodes, priorLabels, mentions.where(isNew))
    val (fullNodes, fullLabels) = fullLink(mentions)

    assertFrameEqual(inc.nodes, fullNodes, "merged node table")
    assertFrameEqual(inc.labels, fullLabels, "component labels")
    assertFrameEqual(
      KgPipeline.canonicalize(inc.nodes, inc.labels),
      KgPipeline.canonicalize(fullNodes, fullLabels), "canonical map")
    assertFrameEqual(
      KgPipeline.entitiesTable(inc.nodes, inc.labels),
      KgPipeline.entitiesTable(fullNodes, fullLabels), "entities")
    mentions.unpersist()
  }

  /** One synthetic mention row per (surface, n) — everything else is
    * what surfaceNodes actually consumes.
    */
  private def mentionsOf(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex.map { case ((value, tag), i) =>
      ("c%07d".format(i), i, 0, value.length, value, tag, 1.0)
    }.toDF("conv_id", "turn_idx", "start", "end", "value", "tag", "conf")
      .withColumn("norm", graft.functions.NativeFunctions.normalize_surface(col("value")))
  }

  test("a new surface bridging two prior components merges them (and parity holds)") {
    // prefix-truncation matches drop AT MOST one token (Linker rule 4):
    // "gamestation" !~ "gamestation 5 pro" (two dropped) so the prior
    // run holds them as distinct components, while the new batch's
    // "gamestation 5" matches BOTH — the incremental run MUST merge two
    // prior components, the hardest incremental transition.
    val prior = mentionsOf(Seq("Gamestation" -> "TOOL", "Gamestation 5 Pro" -> "TOOL"))
    val batch = mentionsOf(Seq("Gamestation 5" -> "TOOL"))
    val (pn, pl) = fullLink(prior)
    assert(pl.select(countDistinct(col("component"))).head().getLong(0) == 2L,
      "precondition: the two prior surfaces must start in distinct components")
    val inc = KgPipeline.incrementalLink(pn, pl, batch)
    val (fn, fl) = fullLink(mentionsOf(Seq(
      "Gamestation" -> "TOOL", "Gamestation 5 Pro" -> "TOOL", "Gamestation 5" -> "TOOL")))
    assertFrameEqual(inc.labels, fl, "bridge-merge labels")
    assert(KgPipeline.canonicalize(inc.nodes, inc.labels)
      .select(countDistinct(col("entity_id"))).head().getLong(0) == 1L,
      "the bridge must collapse all three surfaces into one entity")
    assertFrameEqual(inc.nodes, fn, "bridge-merge nodes")
  }

  test("incrementalLink runs its candidate-pair plan once") {
    // connectedComponents runs three actions on the projected pairs (a
    // count, then the local path's two collects): each would re-run the
    // block self-join if the pairs were not materialized first
    val (pn, pl) = fullLink(mentionsOf(Seq("Gamestation" -> "TOOL", "Gamestation 5 Pro" -> "TOOL")))
    val pairPlans = new AtomicInteger
    val sentinels = new LinkedBlockingQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (plan.contains("block_key")) pairPlans.incrementAndGet()
        "pair-plan-sentinel-\\d".r.findFirstIn(plan).foreach(sentinels.put)
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the listener bus is asynchronous but ordered: once a sentinel
    // query's event arrives, every earlier execution's has
    def drain(n: Int): Unit = {
      spark.range(1).select(lit(s"pair-plan-sentinel-$n")).collect()
      assert(sentinels.poll(60, TimeUnit.SECONDS) == s"pair-plan-sentinel-$n")
    }
    spark.listenerManager.register(listener)
    try {
      drain(1)
      pairPlans.set(0)
      val inc = KgPipeline.incrementalLink(pn, pl, mentionsOf(Seq("Gamestation 5" -> "TOOL")))
      inc.labels.collect()
      drain(2)
      assert(pairPlans.get == 1, s"the pair plan ran ${pairPlans.get} times")
    } finally spark.listenerManager.unregister(listener)
  }

  test("a batch with no first-seen surfaces changes nothing but the counts") {
    val prior = mentionsOf(Seq("Redis" -> "TOOL", "PostgreSQL" -> "TOOL"))
    val (pn, pl) = fullLink(prior)
    val inc = KgPipeline.incrementalLink(pn, pl, mentionsOf(Seq("Redis" -> "TOOL")))
    assertFrameEqual(inc.labels, pl, "labels under a no-new-surface batch")
    assert(inc.newEdges.count() == 0, "no active blocks -> no pairs recomputed")
    assert(inc.nodes.where(col("norm") === "redis").head().getAs[Long]("n_mentions") == 2L)
  }
}
