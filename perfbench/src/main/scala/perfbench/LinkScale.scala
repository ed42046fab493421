package perfbench

import graft.pipeline.{Gazetteer, KgPipeline}
import graft.semantics.Linker
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** link_scale: the linking layers alone, on their scale-side paths. A
  * pass is surface nodes -> candidate pairs -> durable CC loop ->
  * canonicalize -> salted resolve -> resolved-triple count, then a salted
  * gazetteer pass. It runs in stream_drops' traced runs only: one pass
  * takes ~15 s on 4 cores, and a workload of its own would not fit the
  * benchmark's time budget.
  *
  * Why: linking is nearly idle in batch_build (a corpus has a few hundred
  * surfaces); here it does all the work, and the hot keys (a 20%-hot
  * triple object, a 500-alias gazetteer block, 20 first names whose
  * blocks overflow) let skew handling show.
  *
  * The alias universe has the shape of `graft.pipeline.ScaleLinking`'s
  * generators, with the seed choosing the entity names and the hashes.
  * It is smaller than the adaptive thresholds (200k surfaces, 200k
  * aliases), so the scale-side paths are called directly, as
  * ScaleLinking calls them.
  */
object LinkScale {

  final case class Sizes(entities: Long, triples: Long, mentions: Long, hotAliases: Long)

  def sizes(ctx: Ctx): Sizes =
    if (ctx.smoke) Sizes(21000L, 20000L, 10000L, 100L)
    // more than 20k entities: with 20 first names every first-name
    // block then holds over MAX_BLOCK_SIZE (1000) surfaces and overflows,
    // so only the unique last token links aliases
    else Sizes(25000L, 100000L, 50000L, 500L)

  private val firstNames = Seq(
    "alice", "bruno", "carla", "derek", "elena", "felix", "grace", "henry",
    "irene", "jonas", "karim", "laura", "mikel", "nadia", "oscar", "petra",
    "quinn", "rosa", "stefan", "tamar")
  private def firstName(e: org.apache.spark.sql.Column) =
    element_at(array(firstNames.map(lit): _*), (pmod(e, lit(20)) + 1).cast("int"))

  /** Entity e's unique token: the seed moves every name. */
  private def ent(e: org.apache.spark.sql.Column, off: Long) =
    concat(lit("ent"), (e + lit(off)).cast("string"))

  /** 3 alias nodes per entity ("alice entN", "a entN", "alice van entN"),
    * all mergeable through the unique last token.
    */
  def nodes(spark: SparkSession, s: Sizes, off: Long): DataFrame =
    spark.range(s.entities * 3)
      .withColumn("e", (col("id") / 3).cast("long"))
      .withColumn("v", pmod(col("id"), lit(3)))
      .withColumn("fn", firstName(col("e")))
      .withColumn("norm",
        when(col("v") === 0, concat(col("fn"), lit(" "), ent(col("e"), off)))
          .when(col("v") === 1, concat(substring(col("fn"), 1, 1), lit(" "), ent(col("e"), off)))
          .otherwise(concat(col("fn"), lit(" van "), ent(col("e"), off))))
      .withColumn("tag", lit("PER"))
      .withColumn("node_id", xxhash64(concat(col("tag"), lit("|"), col("norm"))))
      .select("node_id", "norm", "tag")

  /** Triples over the alias surfaces; 20% of objects are entity 0. */
  def triples(spark: SparkSession, s: Sizes, off: Long, seed: Long): DataFrame =
    spark.range(s.triples)
      .withColumn("h", xxhash64(col("id"), lit(seed)))
      .withColumn("e", pmod(col("h"), lit(s.entities)))
      .withColumn("eo", when(pmod(col("h"), lit(5)) === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("h")), lit(s.entities))))
      .select(
        concat(lit("sc"), pmod(col("id"), lit(1000))).as("conv_id"),
        pmod(col("id"), lit(50)).cast("int").as("turn_idx"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"),
        concat(firstName(col("e")), lit(" "), ent(col("e"), off)).as("subj"),
        lit("mentions").as("pred"),
        concat(firstName(col("eo")), lit(" van "), ent(col("eo"), off)).as("obj"),
        lit("PER").as("subj_tag"),
        lit("PER").as("obj_tag"))

  private val blockKey = udf((norm: String) => Linker.blockKeys(norm).headOption.orNull)

  /** 3 aliases per entity plus a hot block: the first `hotAliases`
    * entities also get an "acme holdings ..." alias sharing one block key.
    */
  def aliases(spark: SparkSession, s: Sizes, off: Long): DataFrame = {
    val base = spark.range(s.entities * 3)
      .withColumn("e", (col("id") / 3).cast("long"))
      .withColumn("v", pmod(col("id"), lit(3)))
      .withColumn("alias",
        when(col("v") === 0, ent(col("e"), off))
          .when(col("v") === 1, concat(ent(col("e"), off), lit(" inc")))
          .otherwise(concat(ent(col("e"), off), lit(" corp"))))
    val hot = spark.range(s.hotAliases)
      .withColumn("e", col("id"))
      .withColumn("alias", concat(lit("acme holdings "), ent(col("e"), off)))
    base.select("e", "alias").union(hot.select("e", "alias"))
      .withColumn("alias_norm", col("alias"))
      .withColumn("block_key", blockKey(col("alias_norm")))
      .withColumn("entity_id", col("e"))
      .withColumn("entity_type", lit("ORG"))
      .withColumn("popularity", round(lit(1.0) / (lit(1) + pmod(col("e"), lit(7))), 6))
      .select("alias", "alias_norm", "block_key", "entity_id", "entity_type", "popularity")
  }

  /** Mentions over the aliases: 20% name entity 0, a quarter use the
    * hot-block form where one exists.
    */
  def mentions(spark: SparkSession, s: Sizes, off: Long, seed: Long): DataFrame =
    spark.range(s.mentions)
      .withColumn("h", xxhash64(col("id"), lit(seed + 1)))
      .withColumn("e", when(pmod(col("h"), lit(5)) === 0, lit(0L))
        .otherwise(pmod(col("h"), lit(s.entities))))
      .withColumn("v", pmod(xxhash64(col("h")), lit(4)))
      .withColumn("value",
        when(col("v") === 1, concat(ent(col("e"), off), lit(" inc")))
          .when(col("v") === 2, concat(ent(col("e"), off), lit(" corp")))
          .when(col("v") === 3 && col("e") < s.hotAliases,
            concat(lit("acme holdings "), ent(col("e"), off)))
          .otherwise(ent(col("e"), off)))
      .select(
        concat(lit("gz"), pmod(col("id"), lit(1000))).as("conv_id"),
        pmod(col("id"), lit(50)).cast("int").as("turn_idx"),
        lit(0).as("start"),
        length(col("value")).as("end"),
        col("value"),
        lit("ORG").as("tag"),
        col("value").as("norm"))

  final case class Inputs(nodes: String, triples: String, aliases: String, mentions: String)

  def setup(ctx: Ctx, rep: Int): Inputs = {
    val spark = ctx.spark
    val s = sizes(ctx)
    val off = Common.convBase(ctx.seed, 2)
    val tag = if (ctx.smoke) s"toy$rep" else rep.toString
    val in = Inputs(ctx.dir(s"link/nodes-$tag"), ctx.dir(s"link/triples-$tag"),
      ctx.dir(s"link/aliases-$tag"), ctx.dir(s"link/mentions-$tag"))
    nodes(spark, s, off).write.parquet(in.nodes)
    triples(spark, s, off, ctx.seed).write.parquet(in.triples)
    aliases(spark, s, off).write.parquet(in.aliases)
    mentions(spark, s, off, ctx.seed).write.parquet(in.mentions)
    in
  }

  final case class Counts(nodes: Long, pairs: Long, overflow: Long, components: Long,
      iterations: Int, withId: Long, gazResolved: Long, gazAliases: Long)

  /** One pass. Traced, each layer call runs in its own span. */
  def pass(ctx: Ctx, op: Int, in: Inputs): Counts = {
    val spark = ctx.spark
    val rec = ctx.rec
    def layer[T](name: String)(body: => T): T =
      if (ctx.traced) rec.span(name, op)(body) else body
    val (nodes, nNodes) = layer("nodes") {
      val n = spark.read.parquet(in.nodes).cache()
      (n, n.count())
    }
    val (edges, pairs, overflow) = layer("block") {
      val (e, o) = KgPipeline.candidateEdges(nodes)
      val ec = e.cache()
      (ec, ec.count(), o.count())
    }
    val ccDir = ctx.dir(s"link/cc-$op-${ctx.smoke}")
    val (labels, components, iterations) = layer("cc") {
      val l = KgPipeline.connectedComponentsLoopDurable(nodes, edges, ccDir)
      (l, l.select("component").distinct().count(), KgPipeline.lastIterations)
    }
    val withId = layer("resolve") {
      val canon = KgPipeline.canonicalize(nodes, labels)
      KgPipeline.resolveTriplesSalted(spark.read.parquet(in.triples), canon)
        .where(col("subj_id").isNotNull && col("obj_id").isNotNull).count()
    }
    val (gazResolved, gazAliases) = layer("gazetteer") {
      val gaz = spark.read.parquet(in.aliases)
      val n = gaz.count()
      (Gazetteer.disambiguateSalted(spark.read.parquet(in.mentions), gaz).count(), n)
    }
    edges.unpersist()
    nodes.unpersist()
    Common.delete(ccDir)
    val c = Counts(nNodes, pairs, overflow, components, iterations, withId, gazResolved, gazAliases)
    if (ctx.traced) {
      rec.count("nodes", "rows_out" -> nNodes.toDouble)
      rec.count("block", "rows_out" -> pairs.toDouble, "pairs" -> pairs.toDouble,
        "overflow_blocks" -> overflow.toDouble)
      rec.count("cc", "rows_out" -> components.toDouble,
        "iterations" -> iterations.toDouble, "loop_path" -> 1.0)
      rec.count("resolve", "rows_out" -> withId.toDouble, "rows_with_id" -> withId.toDouble,
        "salted_path" -> 1.0)
      rec.count("gazetteer", "rows_out" -> gazResolved.toDouble, "resolved" -> gazResolved.toDouble,
        "salted_path" -> 1.0)
    }
    c
  }

  /** components == entities, every triple resolved on both ends, every
    * mention disambiguated.
    */
  def gate(s: Sizes, c: Counts): Long = {
    require(c.components == s.entities, s"${c.components} components for ${s.entities} entities")
    require(c.withId == s.triples, s"${c.withId} of ${s.triples} triples resolved on both ends")
    require(c.gazResolved == s.mentions, s"${c.gazResolved} of ${s.mentions} mentions disambiguated")
    s.triples + s.mentions
  }

  /** A warm-up pass on toy-size inputs, then one traced pass; returns
    * the traced pass's failure, if any.
    */
  def tracedPass(ctx: Ctx, op: Int): Option[String] = {
    val warmCtx = ctx.copy(smoke = true, traced = false)
    Common.guarded("link_scale warm-up")(pass(warmCtx, -1, setup(warmCtx, -1))).left.toOption
      .orElse(Common.guarded("link_scale")(gate(sizes(ctx), pass(ctx, op, setup(ctx, 0))))
        .left.toOption)
  }
}
