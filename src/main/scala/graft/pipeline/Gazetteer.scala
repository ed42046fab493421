package graft.pipeline

import graft.corpus.TranscriptGen
import graft.semantics.{Linker, StringOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Gazetteer lookup + heuristic disambiguation (SURVEY.md §2 rows 11/33/
  * 44/46): a knowledge-base alias table is broadcast-joined to mentions
  * on a cheap blocking key, candidates are scored with column arithmetic
  * (string similarity + type agreement + popularity prior), and the
  * per-mention argmax is taken with one window (max_by shape).
  */
object Gazetteer {

  /** alias table: (alias, alias_norm, block_key, entity_id, entity_type,
    * popularity). Built from the synthetic KB; at deploy scale this is a
    * dimension table scan.
    */
  def aliasTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = for {
      e <- TranscriptGen.entities
      surface <- e.surfaces
      norm = StringOps.normalizeSurface(surface)
      key <- Linker.blockKeys(norm).headOption // first-token stem key
    } yield (surface, norm, key, e.id, e.tp, 1.0 / (1 + e.id % 7))
    rows.toDF("alias", "alias_norm", "block_key", "entity_id", "entity_type", "popularity")
  }

  private val keyUdf = udf((norm: String) => Linker.blockKeys(norm).headOption.orNull)

  /** Distinct character-trigram set as a column (the Similarity.ngramSim
    * operand, precomputed). Delegates to the native codegen'd
    * CharTrigramsExpr — identical grams to NGrams.charNGrams(s, 3, 3)
    * (ExpressionsSpec pins the equality); array_distinct turns the gram
    * stream into the SET ngramSim's Jaccard operates on, and the
    * coalesce maps the expression's NULL (< 3 chars) to the empty set,
    * exactly charNGrams' behavior on short strings.
    *
    * Why precompute (r6, guide §2.3/§4): the candidate join multiplies
    * each side's rows (a hot block key fans one alias out to thousands
    * of surfaces), and the old per-candidate `simUdf(norm, alias_norm)`
    * re-extracted + re-hashed both trigram sets per CANDIDATE PAIR —
    * ~5M UDF calls for ~1M side rows in the bench-scale exercise.
    * Computing each side's set once before the join leaves only cheap
    * native set arithmetic on the pair stream.
    */
  private[graft] def trigramSet(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_distinct(coalesce(graft.functions.NativeFunctions.char_trigrams(c),
      typedLit(Array.empty[String])))

  /** Jaccard over two precomputed trigram sets: |∩| / (|a| + |b| - |∩|),
    * with the both-empty case = 1.0 — exactly Similarity.jaccard. The
    * division is the same IEEE double op on the same exact ints, so
    * scores are bit-identical to the old UDF (oracle-pinned).
    */
  private[graft] def trigramJaccard(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val inter = size(array_intersect(a, b))
    when(size(a) === 0 && size(b) === 0, lit(1.0))
      .otherwise(inter.cast("double") / (size(a) + size(b) - inter).cast("double"))
  }

  /** Gazetteer side projected to exactly what scoring consumes, with
    * the trigram set replacing `alias_norm` (guide §2.3: the table
    * crosses a broadcast or an exchange — don't ship columns the
    * candidate join never reads).
    */
  private def gazScoring(gazetteer: DataFrame): DataFrame =
    gazetteer.select(col("block_key"), col("alias"), col("entity_id"),
      col("entity_type"), col("popularity"),
      trigramSet(col("alias_norm")).as("ga"))

  /** Candidate scoring (string similarity + type agreement + popularity
    * prior) and the per-surface argmax — shared verbatim by the
    * broadcast and the salted path so both produce identical winners.
    * Expects the precomputed trigram-set columns `gn` (surface norm) and
    * `ga` (alias norm) on the candidate rows.
    */
  private def bestPerSurface(cands: DataFrame): DataFrame = {
    val scored = cands
      .withColumn("sim", trigramJaccard(col("gn"), col("ga")))
      .where(col("sim") >= 0.3) // residual theta predicate after equi-join
      .withColumn("score",
        round(col("sim") * 0.6 +
          when(col("tag") === col("entity_type"), 0.3).otherwise(0.0) +
          col("popularity") * 0.1, 6))
    // argmax via min(struct(-score, entity_id, alias)): lexicographic
    // struct ordering == the old row_number total order (score DESC,
    // entity_id, alias — the alias key makes it total: two aliases of
    // the same entity can tie on (score, entity_id), caught by the r2
    // cross-engine oracle). A hash aggregate with map-side partial
    // aggregation replaces the full sort window — the scored pair
    // stream (hot blocks make it many× the surface count) collapses to
    // one row per surface per map task BEFORE the exchange instead of
    // being shuffled and sorted wholesale (guide §2.3). score > 0
    // always (sim ≥ 0.3 ⇒ score ≥ 0.18), so -score has no -0.0 edge.
    scored
      .groupBy(col("norm"), col("tag"))
      .agg(min(struct((-col("score")).as("ns"), col("entity_id"),
        col("alias"), col("score"))).as("w"))
      .select(col("norm"), col("tag"), col("w.entity_id").as("entity_id"),
        col("w.alias").as("alias"), col("w.score").as("score"))
  }

  /** Gazetteers up to this many alias rows broadcast; above it the salted
    * shuffle path engages (SURVEY.md D11: "broadcast when small, salted
    * shuffle join when large" — real KBs run to 10^8 aliases).
    */
  val GAZ_BROADCAST_THRESHOLD = 200000L

  /** Byte ceiling for the broadcast path: a row-LIGHT but byte-HEAVY
    * alias table (long aliases, wide metadata) must not get a forced
    * `broadcast()` hint that bypasses autoBroadcastJoinThreshold and
    * blows driver/executor memory (ADVICE r4). 64 MB is comfortably
    * inside a default 1 GB driver while far above any sane ≤200k-row
    * alias table.
    */
  val GAZ_BROADCAST_MAX_BYTES: Long = 64L << 20
  val GAZ_SALT = 8

  /** Adaptive dispatch on gazetteer size, gated on BOTH dimensions:
    * estimated bytes first (free — Catalyst plan statistics: file sizes
    * for parquet-backed tables, row-width estimates for in-memory
    * relations; no job runs), then row count. A byte-heavy table goes
    * salted without even counting; callers that already know the alias
    * count pass `gazRows` to skip the count job (cheap anyway: a
    * metadata-only count for parquet, a trivial job for driver-built
    * tables — the dispatch input is a dimension table, never the
    * mention stream). Both paths proven equal in GazetteerSaltSpec.
    */
  def disambiguate(mentions: DataFrame, gazetteer: DataFrame,
      gazRows: Option[Long] = None,
      maxBroadcastBytes: Long = GAZ_BROADCAST_MAX_BYTES): DataFrame = {
    val estBytes = gazetteer.queryExecution.optimizedPlan.stats.sizeInBytes
    // plans without real statistics (e.g. RDD-backed relations) report
    // spark.sql.defaultSizeInBytes (Long.MaxValue) — treat that sentinel
    // as "unknown" and fall through to the row-count dispatch instead of
    // forcing a tiny gazetteer onto the salted path (ADVICE r5)
    val bytesKnown = estBytes < BigInt(Long.MaxValue)
    if (bytesKnown && estBytes > BigInt(maxBroadcastBytes))
      disambiguateSalted(mentions, gazetteer)
    else if (gazRows.getOrElse(gazetteer.count()) <= GAZ_BROADCAST_THRESHOLD)
      disambiguateBroadcast(mentions, gazetteer)
    else disambiguateSalted(mentions, gazetteer)
  }

  /** Candidate generation (broadcast equi-join on block key) + residual
    * fuzzy predicate + scored disambiguation.
    *
    * Scoring runs on DISTINCT (norm, tag) surfaces, not on the mention
    * stream: the expensive similarity UDF touches a few hundred distinct
    * surfaces instead of millions of mention rows, and the winning
    * entity per surface is broadcast-joined back — same result, ~1000×
    * less UDF work at corpus scale.
    */
  def disambiguateBroadcast(mentions: DataFrame, gazetteer: DataFrame): DataFrame = {
    val distinctSurfaces = mentions.select(col("norm"), col("tag")).distinct()
    // trigram sets precomputed per SIDE (once per distinct surface /
    // alias), not per candidate pair — see trigramSet
    val cands = distinctSurfaces
      .withColumn("block_key", keyUdf(col("norm")))
      .withColumn("gn", trigramSet(col("norm")))
      .join(broadcast(gazScoring(gazetteer)), Seq("block_key"), "inner")
    val best = bestPerSurface(cands)
    mentions.join(broadcast(best), Seq("norm", "tag"), "inner")
      .select(col("conv_id"), col("turn_idx"), col("start"), col("end"),
        col("value"), col("tag"), col("entity_id"), col("alias"), col("score"))
  }

  /** Salted shuffle path for gazetteers too large to broadcast (VERDICT
    * r3 "what's missing" #4). Skew discipline on both joins:
    *
    *  1. candidate join — real alias tables have HOT BLOCK KEYS (common
    *     first tokens: "john …", "acme …"); a plain shuffle join lands
    *     each hot block on one reducer. Each gazetteer row gets a
    *     deterministic salt from its alias; the (small) distinct-surface
    *     side is replicated across all salts, so a hot block's candidate
    *     pairs spread over `salt` partitions while every (surface, alias)
    *     pair still meets exactly once.
    *  2. winner join back to the mention stream — hot SURFACES (20% of
    *     mentions naming one popular entity) are the skew; the per-surface
    *     winner set is replicated, the mention side hashes to a salt.
    */
  def disambiguateSalted(mentions: DataFrame, gazetteer: DataFrame,
      salt: Int = GAZ_SALT): DataFrame = {
    val saltValues = sequence(lit(0), lit(salt - 1))
    // trigram set computed BEFORE the ×salt explode: one extraction per
    // distinct surface, replicated by reference into the salt copies
    val distinctSurfaces = mentions.select(col("norm"), col("tag")).distinct()
      .withColumn("block_key", keyUdf(col("norm")))
      .withColumn("gn", trigramSet(col("norm")))
      .withColumn("salt", explode(saltValues))
    val gazSalted = gazScoring(gazetteer)
      .withColumn("salt", pmod(xxhash64(col("alias")), lit(salt)).cast("int"))
    val cands = distinctSurfaces.join(gazSalted, Seq("block_key", "salt"), "inner")
    val best = bestPerSurface(cands)
    val bestSalted = best.withColumn("m_salt", explode(saltValues))
    mentions
      .withColumn("m_salt",
        pmod(xxhash64(col("conv_id"), col("turn_idx"), col("value")), lit(salt)).cast("int"))
      .join(bestSalted, Seq("norm", "tag", "m_salt"), "inner")
      .select(col("conv_id"), col("turn_idx"), col("start"), col("end"),
        col("value"), col("tag"), col("entity_id"), col("alias"), col("score"))
  }
}
