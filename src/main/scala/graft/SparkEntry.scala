package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` carries one entry per implemented operator from SURVEY.md §2.
  * KG-pipeline queries run on the deterministic synthetic transcript
  * corpus (FIXTURES.md §B — the driver corpus has no capitalizable
  * entities) and therefore have no DuckDB oracle; relational operators
  * run on the driver's testdata tables WITH `oracleSql`.
  */
object SparkEntry {

  /** Flagship: the full KG job (NER + triples + linking + CC) on an
    * sf0.001-scale corpus; returns canonically-resolved triples.
    */
  def entry(spark: SparkSession): DataFrame =
    Kg.built(spark, "/root/testdata/sf0.001").out.resolvedTriples

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    kgQueries ++ graft.relational.Catalog.queries

  def oracleSql: Map[String, String] =
    // the salted gazetteer path shares the broadcast path's oracle: the
    // DuckDB recompute is join-strategy-independent, so one SQL pins both
    // (GazetteerSaltSpec additionally proves the two Spark paths equal)
    kgOracleSql +
      ("kg_gazetteer_salted" -> kgOracleSql("kg_gazetteer_disambig")) ++
      graft.relational.Catalog.oracleSql

  /** KG-pipeline oracles: the corpus is generated (not in sfDir), so
    * these SQLs read the Spark dumps themselves — `__OUTDIR__` is
    * substituted by Verify with the actual dump directory. Each checks a
    * DIFFERENT derivation than the Spark plan produced (window ordering
    * recomputed, aggregations recomputed from the mention/triple level),
    * so they are real cross-checks, not identities.
    */
  private def kgOracleSql: Map[String, String] = Map(
    // connected components recomputed FROM SCRATCH in DuckDB: recursive
    // min-label closure over the dumped candidate-edge set must equal
    // the labels the Spark CC (union-find or iterative loop) produced —
    // a genuine cross-engine check of the canonicalization heart
    "kg_components" ->
      """WITH RECURSIVE sym AS (
        |  SELECT src, dst FROM '__OUTDIR__/kg_cc_edges/*.parquet'
        |  UNION SELECT dst, src FROM '__OUTDIR__/kg_cc_edges/*.parquet'),
        |nodes AS (SELECT node_id FROM '__OUTDIR__/kg_components/*.parquet'),
        |reach(node_id, lbl) AS (
        |  SELECT node_id, node_id FROM nodes
        |  UNION
        |  SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node_id)
        |SELECT node_id, min(lbl) AS component FROM reach
        |GROUP BY 1 ORDER BY node_id""".stripMargin,
    // headline P/R table recomputed in DuckDB from the dumped pred/gold
    // spans (full-outer span join, per-tag tp/fp/fn)
    "kg_eval_prf" ->
      """WITH p AS (SELECT conv_id, turn_idx, "start", "end", tag
        |           FROM '__OUTDIR__/kg_eval_pred/*.parquet'),
        |g AS (SELECT conv_id, turn_idx, "start", "end", tag
        |      FROM '__OUTDIR__/kg_gold_spans/*.parquet'),
        |j AS (
        |  SELECT coalesce(p.tag, g.tag) AS tag,
        |    CASE WHEN p.tag IS NOT NULL AND g.tag IS NOT NULL THEN 1 ELSE 0 END AS is_tp,
        |    CASE WHEN p.tag IS NOT NULL AND g.tag IS NULL THEN 1 ELSE 0 END AS is_fp,
        |    CASE WHEN p.tag IS NULL AND g.tag IS NOT NULL THEN 1 ELSE 0 END AS is_fn
        |  FROM p FULL OUTER JOIN g
        |    ON p.conv_id = g.conv_id AND p.turn_idx = g.turn_idx
        |    AND p."start" = g."start" AND p."end" = g."end" AND p.tag = g.tag)
        |SELECT tag, CAST(sum(is_tp) AS BIGINT) AS tp, CAST(sum(is_fp) AS BIGINT) AS fp,
        |  CAST(sum(is_fn) AS BIGINT) AS fn,
        |  round(CAST(sum(is_tp) AS DOUBLE) / (sum(is_tp) + sum(is_fp)), 6) AS precision,
        |  round(CAST(sum(is_tp) AS DOUBLE) / (sum(is_tp) + sum(is_fn)), 6) AS recall
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // entities rebuilt from the node + component dumps: per (component,
    // tag) canonical = min norm, sorted distinct alias list, mention sum
    "kg_entities" ->
      """SELECT min(n.norm) AS canonical, n.tag AS entity_type,
        |  string_agg(DISTINCT n.surface, '|' ORDER BY n.surface) AS aliases,
        |  CAST(sum(n.n_mentions) AS BIGINT) AS n_mentions
        |FROM '__OUTDIR__/kg_nodes_full/*.parquet' n
        |JOIN '__OUTDIR__/kg_components/*.parquet' c ON n.node_id = c.node_id
        |GROUP BY c.component, n.tag
        |ORDER BY 1, 2""".stripMargin,
    // incremental == full: the incremental query's entities must hash-
    // equal the SAME recompute from the FULL-run dumps (the oracle knows
    // nothing about the split — passing pins runIncremental's merge +
    // super-node CC to the full answer)
    "kg_incr_entities" ->
      """SELECT min(n.norm) AS canonical, n.tag AS entity_type,
        |  string_agg(DISTINCT n.surface, '|' ORDER BY n.surface) AS aliases,
        |  CAST(sum(n.n_mentions) AS BIGINT) AS n_mentions
        |FROM '__OUTDIR__/kg_nodes_full/*.parquet' n
        |JOIN '__OUTDIR__/kg_components/*.parquet' c ON n.node_id = c.node_id
        |GROUP BY c.component, n.tag
        |ORDER BY 1, 2""".stripMargin,
    // gazetteer disambiguation redone from scratch: candidate equi-join
    // on the dumped blocking key, trigram-set Jaccard + type/popularity
    // scoring, per-surface argmax, mention join
    "kg_gazetteer_disambig" ->
      """WITH s AS (SELECT norm, tag, block_key FROM '__OUTDIR__/kg_gaz_surfaces/*.parquet'),
        |a AS (SELECT * FROM '__OUTDIR__/kg_gaz_aliases/*.parquet'),
        |g AS (
        |  SELECT s.norm, s.tag, a.entity_id, a.alias, a.entity_type, a.popularity,
        |    list_distinct(list_transform(generate_series(1, greatest(length(s.norm) - 2, 0)),
        |      i -> substring(s.norm, i, 3))) AS gn,
        |    list_distinct(list_transform(generate_series(1, greatest(length(a.alias_norm) - 2, 0)),
        |      i -> substring(a.alias_norm, i, 3))) AS ga
        |  FROM s JOIN a ON s.block_key = a.block_key),
        |scored AS (
        |  SELECT norm, tag, entity_id, alias,
        |    round(sim * 0.6 + CASE WHEN tag = entity_type THEN 0.3 ELSE 0.0 END
        |      + popularity * 0.1, 6) AS score, sim
        |  FROM (
        |    SELECT *, CASE WHEN len(gn) = 0 AND len(ga) = 0 THEN 1.0
        |      WHEN len(gn) = 0 OR len(ga) = 0 THEN 0.0
        |      ELSE len(list_distinct(list_intersect(gn, ga))) * 1.0 /
        |        len(list_distinct(list_concat(gn, ga))) END AS sim
        |    FROM g)
        |  WHERE sim >= 0.3),
        |best AS (
        |  SELECT norm, tag, entity_id, alias, score,
        |    row_number() OVER (PARTITION BY norm, tag ORDER BY score DESC, entity_id, alias) AS rk
        |  FROM scored)
        |SELECT m.conv_id, m.turn_idx, m."start", m."end", m.value, m.tag,
        |  b.entity_id, b.alias, b.score
        |FROM '__OUTDIR__/kg_mentions/*.parquet' m
        |JOIN best b ON m.norm = b.norm AND m.tag = b.tag AND b.rk = 1
        |ORDER BY m.conv_id, m.turn_idx, m."start", m."end"""".stripMargin,
    // span contract (VERDICT r2 next-round #4a): every mention's `value`
    // is re-derived in DuckDB as substring(text, start+1, end-start) from
    // the raw turn-text dump, and `norm` as the normalize-regex of that
    // substring — so the tagger's offsets, extraction, and normalization
    // are cross-engine checked per row (tag/conf pass through from the
    // dump; their semantics stay pinned by the P/R=1.0 gate)
    "kg_mentions" ->
      """WITH t AS (SELECT conv_id, turn_idx, text FROM '__OUTDIR__/kg_turn_texts/*.parquet'),
        |m AS (SELECT conv_id, turn_idx, "start", "end", tag, conf
        |      FROM '__OUTDIR__/kg_mentions/*.parquet')
        |SELECT m.conv_id, m.turn_idx, m."start", m."end",
        |  substring(t.text, m."start" + 1, m."end" - m."start") AS value,
        |  m.tag, m.conf,
        |  trim(regexp_replace(lower(substring(t.text, m."start" + 1, m."end" - m."start")),
        |    '[^a-z0-9]+', ' ', 'g')) AS norm
        |FROM m JOIN t USING (conv_id, turn_idx)
        |ORDER BY m.conv_id, m.turn_idx, m."start", m."end"""".stripMargin,
    // relation triples rebuilt from scratch in DuckDB: adjacent mention
    // pairs (row_number over start), between-text by substring,
    // TripleAssembler.connectorKey's tokenize+lowercase+<=5-token filter
    // (exact twin on this corpus: between-texts are letter words +
    // spaces, so whitespace split == the JDK tokenizer), longest-suffix
    // match against the relationPatterns table shipped as VALUES (min
    // dropped-prefix wins, as in the Scala loop). The same-sentence
    // guard excludes pairs whose between-text holds a terminator — the
    // corpus has none between mentions, matching the assembler's
    // sentence-scoped pairing.
    "kg_relation_contract" ->
      """WITH pat(k, pred) AS (VALUES
        |  ('works at','works_for'),('works for','works_for'),
        |  ('is employed by','works_for'),('joined','works_for'),
        |  ('is the ceo of','ceo_of'),('is ceo of','ceo_of'),('leads','leads'),
        |  ('founded','founded'),('co-founded','founded'),
        |  ('visited','visited'),('visit','visited'),('traveled to','traveled_to'),
        |  ('moved to','moved_to'),('met','met'),('met with','met'),
        |  ('lives in','lives_in'),('is located in','located_in'),
        |  ('located in','located_in'),('is based in','located_in'),
        |  ('headquartered in','located_in'),('is in','located_in'),
        |  ('was born in','born_in'),('born in','born_in'),
        |  ('released','released'),('launched','released'),
        |  ('announced','announced'),('acquired','acquired'),
        |  ('bought','acquired'),('uses','uses'),('used','uses'),
        |  ('recommended','recommends'),('recommends','recommends'),
        |  ('partnered with','partner_of'),('is part of','part_of'),
        |  ('compared','compared'),('reviewed','reviewed')),
        |t AS (SELECT conv_id, turn_idx, text FROM '__OUTDIR__/kg_turn_texts/*.parquet'),
        |m AS (SELECT conv_id, turn_idx, "start", "end", value, tag,
        |        row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY "start") AS rn
        |      FROM '__OUTDIR__/kg_mentions/*.parquet'),
        |pairs AS (
        |  SELECT a.conv_id, a.turn_idx, a.rn, a.value AS subj, b.value AS obj,
        |    a.tag AS subj_tag, b.tag AS obj_tag,
        |    substring(t.text, a."end" + 1, b."start" - a."end") AS betw
        |  FROM m a
        |  JOIN m b ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx AND b.rn = a.rn + 1
        |  JOIN t ON t.conv_id = a.conv_id AND t.turn_idx = a.turn_idx),
        |tok AS (
        |  SELECT *, list_filter(string_split_regex(lower(trim(betw)), '\s+'), x -> x <> '') AS toks
        |  FROM pairs WHERE NOT regexp_matches(betw, '[.!?]')),
        |valid AS (SELECT * FROM tok WHERE len(toks) BETWEEN 1 AND 5),
        |suffixes AS (
        |  SELECT v.conv_id, v.turn_idx, v.rn, v.subj, v.obj, v.subj_tag, v.obj_tag, s.d,
        |    array_to_string(v.toks[s.d + 1:], ' ') AS key
        |  FROM valid v, unnest(generate_series(0, len(v.toks) - 1)) AS s(d)),
        |matched AS (
        |  SELECT conv_id, turn_idx, rn, subj, obj, subj_tag, obj_tag, pred,
        |    row_number() OVER (PARTITION BY conv_id, turn_idx, rn ORDER BY d) AS mk
        |  FROM suffixes JOIN pat ON suffixes.key = pat.k)
        |SELECT conv_id, turn_idx, subj, pred, obj, subj_tag, obj_tag
        |FROM matched WHERE mk = 1
        |ORDER BY conv_id, turn_idx, subj, pred, obj""".stripMargin,
    // overlap-freedom recomputed in DuckDB from the mention dump: same
    // strict-interval self-join; n_mentions guards against a vacuous pass
    "kg_mention_overlaps" ->
      """WITH m AS (SELECT conv_id, turn_idx, "start", "end"
        |           FROM '__OUTDIR__/kg_mentions/*.parquet')
        |SELECT (SELECT count(*) FROM m) AS n_mentions,
        |  (SELECT count(*) - count(DISTINCT (conv_id, turn_idx, "start", "end")) FROM m)
        |  AS n_duplicate_spans,
        |  (SELECT count(*) FROM m a JOIN m b
        |    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
        |    AND a."start" < b."end" AND b."start" < a."end"
        |    AND (a."start" < b."start"
        |         OR (a."start" = b."start" AND a."end" < b."end")))
        |  AS n_overlapping_pairs""".stripMargin,
    // triple-assembly contract: the three rule-derivable triple families
    // rebuilt from scratch in DuckDB out of the mention + turn dumps —
    // one instance_of per mention, one used_tool per tool turn, one
    // queried_via from the FIRST (min-start) mention of a tool turn —
    // exactly TripleAssembler's emission rules re-derived cross-engine
    "kg_triple_contract" ->
      """WITH m AS (SELECT conv_id, turn_idx, "start", value, tag
        |           FROM '__OUTDIR__/kg_mentions/*.parquet'),
        |t AS (SELECT conv_id, turn_idx, tool FROM '__OUTDIR__/kg_turns/*.parquet'),
        |inst AS (
        |  SELECT conv_id, turn_idx, value AS subj, 'instance_of' AS pred,
        |    tag AS obj, tag AS subj_tag, 'TYPE' AS obj_tag FROM m),
        |toolt AS (
        |  SELECT conv_id, turn_idx, conv_id AS subj, 'used_tool' AS pred,
        |    tool AS obj, 'CONV' AS subj_tag, 'TOOL' AS obj_tag
        |  FROM t WHERE tool IS NOT NULL AND tool <> ''),
        |firstm AS (
        |  SELECT conv_id, turn_idx, value, tag FROM (
        |    SELECT conv_id, turn_idx, value, tag,
        |      row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY "start") AS rn
        |    FROM m) WHERE rn = 1),
        |qv AS (
        |  SELECT f.conv_id, f.turn_idx, f.value AS subj, 'queried_via' AS pred,
        |    t.tool AS obj, f.tag AS subj_tag, 'TOOL' AS obj_tag
        |  FROM firstm f JOIN t ON f.conv_id = t.conv_id AND f.turn_idx = t.turn_idx
        |  WHERE t.tool IS NOT NULL AND t.tool <> '')
        |SELECT * FROM (
        |  SELECT * FROM inst UNION ALL SELECT * FROM toolt UNION ALL SELECT * FROM qv)
        |ORDER BY conv_id, turn_idx, pred, subj, obj""".stripMargin,
    // stable turn ordering invariant (north rule): recompute turn_ord
    // with DuckDB's own window function and compare every row
    "kg_turns" ->
      """SELECT conv_id, turn_idx,
        |CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS INT) AS turn_ord,
        |role, tool, ts_s
        |FROM '__OUTDIR__/kg_turns/*.parquet'
        |ORDER BY conv_id, turn_idx""".stripMargin,
    "kg_surface_nodes" ->
      """SELECT norm, tag, count(*) AS n_mentions, min(value) AS surface
        |FROM '__OUTDIR__/kg_mentions/*.parquet'
        |WHERE length(norm) > 0 AND tag NOT IN ('URL', 'DATE', 'SMILEY', 'TYPE')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "kg_pred_stats" ->
      """SELECT coalesce(day, 'ALL') AS day, coalesce(pred, 'ALL') AS pred,
        |count(*) AS n_triples, count(DISTINCT conv_id) AS n_convs
        |FROM (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, pred, conv_id
        |      FROM '__OUTDIR__/kg_resolved_triples/*.parquet')
        |GROUP BY ROLLUP (day, pred) ORDER BY 1, 2""".stripMargin,
    "kg_edges" ->
      """SELECT subj_id AS src, obj_id AS dst, pred, CAST(count(*) AS DOUBLE) AS weight
        |FROM '__OUTDIR__/kg_resolved_triples/*.parquet'
        |WHERE subj_id IS NOT NULL AND obj_id IS NOT NULL AND pred <> 'instance_of'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "kg_role_confusion" ->
      """SELECT actual,
        |CAST(sum(CASE WHEN predicted = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS "user",
        |CAST(sum(CASE WHEN predicted = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS assistant,
        |CAST(sum(CASE WHEN predicted = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS tool
        |FROM '__OUTDIR__/kg_role_scored/*.parquet'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "kg_role_accuracy" ->
      """SELECT round(avg(CASE WHEN actual = predicted THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
        |count(*) AS n FROM '__OUTDIR__/kg_role_scored/*.parquet'""".stripMargin,
    // dictionary training re-aggregated in DuckDB from the raw event
    // stream: checks the distributed groupByKey/count shuffle end-to-end
    "kg_train_dict" ->
      """SELECT dict, key, value, count(*) AS "count"
        |FROM '__OUTDIR__/kg_train_events/*.parquet'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // the whole resolve join redone in DuckDB: surface normalization via
    // regex (the exact twin of StringOps.normalizeSurface on this ASCII
    // corpus), double left join against the canon-map dump, coalesce
    // fallbacks — cross-checks the broadcast/salted join logic itself
    "kg_resolved_triples" ->
      """WITH t AS (SELECT * FROM '__OUTDIR__/kg_triples/*.parquet'),
        |cm AS (SELECT * FROM '__OUTDIR__/kg_canon_map/*.parquet'),
        |n AS (SELECT conv_id, turn_idx, ts, subj, pred, obj, subj_tag, obj_tag,
        |  trim(regexp_replace(lower(subj), '[^a-z0-9]+', ' ', 'g')) AS s_norm,
        |  trim(regexp_replace(lower(obj), '[^a-z0-9]+', ' ', 'g')) AS o_norm FROM t)
        |SELECT n.conv_id, n.turn_idx, n.ts, n.subj, n.pred, n.obj,
        |  n.subj_tag, n.obj_tag, cs.entity_id AS subj_id, co.entity_id AS obj_id,
        |  coalesce(cs.canonical_norm, n.s_norm) AS subj_canonical,
        |  coalesce(co.canonical_norm, n.o_norm) AS obj_canonical
        |FROM n
        |LEFT JOIN cm cs ON cs.norm = n.s_norm AND cs.tag = n.subj_tag
        |LEFT JOIN cm co ON co.norm = n.o_norm AND co.tag = n.obj_tag
        |ORDER BY n.conv_id, n.turn_idx, n.subj, n.pred, n.obj, n.subj_tag, n.obj_tag""".stripMargin,
    // MUC-style error classes recomputed in DuckDB from the span dumps:
    // interval-overlap join, exact/type/boundary classification, anti-join
    // leftovers as spurious/miss
    "kg_ner_errors" ->
      """WITH p AS (SELECT conv_id, turn_idx, "start" AS p_start, "end" AS p_end, tag AS p_tag
        |           FROM '__OUTDIR__/kg_eval_pred/*.parquet'),
        |g AS (SELECT conv_id, turn_idx, "start" AS g_start, "end" AS g_end, tag AS g_tag
        |      FROM '__OUTDIR__/kg_gold_spans/*.parquet'),
        |ov AS (SELECT p.conv_id, p.turn_idx, p_start, p_end, g_start, g_end,
        |  CASE WHEN p_start = g_start AND p_end = g_end AND p_tag = g_tag THEN 'correct'
        |       WHEN p_start = g_start AND p_end = g_end THEN 'wrong_type'
        |       ELSE 'wrong_boundary' END AS cls
        |  FROM p JOIN g ON p.conv_id = g.conv_id AND p.turn_idx = g.turn_idx
        |    AND p_start < g_end AND g_start < p_end),
        |mp AS (SELECT DISTINCT conv_id, turn_idx, p_start, p_end FROM ov),
        |mg AS (SELECT DISTINCT conv_id, turn_idx, g_start, g_end FROM ov),
        |sp AS (SELECT 'spurious' AS cls FROM p ANTI JOIN mp
        |  ON p.conv_id = mp.conv_id AND p.turn_idx = mp.turn_idx
        |  AND p.p_start = mp.p_start AND p.p_end = mp.p_end),
        |ms AS (SELECT 'miss' AS cls FROM g ANTI JOIN mg
        |  ON g.conv_id = mg.conv_id AND g.turn_idx = mg.turn_idx
        |  AND g.g_start = mg.g_start AND g.g_end = mg.g_end)
        |SELECT cls, count(*) AS n FROM (
        |  SELECT cls FROM ov UNION ALL SELECT cls FROM sp UNION ALL SELECT cls FROM ms)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact skew quantiles recomputed in DuckDB (quantile_cont == Spark's
    // exact `percentile`: sorted values, linear interpolation at p*(N-1))
    "kg_skew_exact" ->
      """WITH c AS (SELECT count(*) AS n FROM '__OUTDIR__/kg_turns/*.parquet' GROUP BY conv_id),
        |m AS (SELECT count(*) AS n FROM '__OUTDIR__/kg_mentions/*.parquet' GROUP BY norm)
        |SELECT * FROM (
        |  SELECT 'turns_per_conv' AS dist,
        |    array_to_string(list_transform(quantile_cont(n, [0.5, 0.9, 0.99]),
        |      x -> CAST(round(x, 4) AS VARCHAR)), ',') AS quantiles,
        |    max(n) AS max_n FROM c
        |  UNION ALL
        |  SELECT 'mentions_per_surface' AS dist,
        |    array_to_string(list_transform(quantile_cont(n, [0.5, 0.9, 0.99]),
        |      x -> CAST(round(x, 4) AS VARCHAR)), ',') AS quantiles,
        |    max(n) AS max_n FROM m)
        |ORDER BY dist""".stripMargin,
    // the Bayes role classifier recomputed from scratch in DuckDB: for
    // every turn × category, score = ln(max(prior, 1e-12)) + Σ_terms
    // ln((n+1)/(cat_total+V)) over the dumped per-occurrence features and
    // model tables, argmax with the classifier's tie-break (largest
    // category name). Normalization is monotonic so the argmax is the
    // prediction; margins in log space are O(1), far above cross-engine
    // float-summation noise.
    "kg_role_scored" ->
      """WITH t AS (SELECT conv_id, turn_idx, actual FROM '__OUTDIR__/kg_role_scored/*.parquet'),
        |f AS (SELECT conv_id, turn_idx, term FROM '__OUTDIR__/kg_role_features/*.parquet'),
        |m AS (SELECT term, cat, n FROM '__OUTDIR__/kg_role_model/*.parquet'),
        |p AS (SELECT cat, n_docs, cat_total, total_docs, vocab_size
        |      FROM '__OUTDIR__/kg_role_priors/*.parquet'),
        |tl AS (
        |  SELECT f.conv_id, f.turn_idx, p.cat,
        |    sum(ln((coalesce(m.n, 0) + 1.0) / (p.cat_total + greatest(p.vocab_size, 1))))
        |      AS s
        |  FROM f CROSS JOIN p
        |  LEFT JOIN m ON m.term = f.term AND m.cat = p.cat
        |  GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT t.conv_id, t.turn_idx, t.actual, p.cat,
        |    ln(greatest(p.n_docs * 1.0 / p.total_docs, 1e-12)) + coalesce(tl.s, 0.0) AS score
        |  FROM t CROSS JOIN p
        |  LEFT JOIN tl ON tl.conv_id = t.conv_id AND tl.turn_idx = t.turn_idx
        |    AND tl.cat = p.cat),
        |best AS (
        |  SELECT conv_id, turn_idx, actual, cat,
        |    row_number() OVER (PARTITION BY conv_id, turn_idx
        |      ORDER BY score DESC, cat DESC) AS rk
        |  FROM scored)
        |SELECT conv_id, turn_idx, actual, cat AS predicted FROM best WHERE rk = 1
        |ORDER BY conv_id, turn_idx""".stripMargin,
    // every manifest row recomputed in DuckDB from the bucket-hash dump:
    // same per-bucket count and order-independent bit_xor fingerprint —
    // the materialize/lineage protocol's numbers are cross-engine checked
    "kg_materialize" ->
      """SELECT CAST(conv_bucket AS BIGINT) AS bucket, count(*) AS "rows",
        |  bit_xor(h) AS fingerprint, 'v1' AS config
        |FROM '__OUTDIR__/kg_bucket_hashes/*.parquet'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // DuckDB's naive-timestamp CAST AS DATE truncates without any TZ —
    // exactly the UTC epoch-day the partition layout uses
    "kg_day_prune" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, pred, count(*) AS n_triples
        |FROM '__OUTDIR__/kg_resolved_triples/*.parquet'
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2025-01-02' AND DATE '2025-01-03'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // overflow accounting recomputed from the exploded blocking keys
    "kg_block_overflow" ->
      """SELECT block_key, tag, count(*) AS block_n
        |FROM '__OUTDIR__/kg_block_keys/*.parquet'
        |GROUP BY 1, 2 HAVING count(*) > 3 ORDER BY 1, 2""".stripMargin,
    "kg_surface_type_dist" ->
      """WITH m AS (SELECT norm, tag, conf FROM '__OUTDIR__/kg_mentions/*.parquet'),
        |s AS (SELECT norm, tag, sum(conf) AS sc FROM m GROUP BY 1, 2),
        |t AS (SELECT norm, sum(sc) AS tot FROM s GROUP BY 1),
        |nn AS (SELECT norm, count(*) AS n FROM m GROUP BY 1),
        |d AS (SELECT s.norm, s.tag, round(round(s.sc / t.tot, 6), 4) AS v
        |      FROM s JOIN t ON s.norm = t.norm)
        |SELECT d.norm, string_agg(d.tag || ':' || CAST(d.v AS VARCHAR), ';' ORDER BY d.tag) AS tag_dist,
        |  nn.n
        |FROM d JOIN nn ON d.norm = nn.norm
        |GROUP BY d.norm, nn.n ORDER BY d.norm""".stripMargin
  )

  // ------------------------------------------------- KG pipeline queries
  private def kgQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg_turns" -> ((s, d) => Kg.built(s, d).out.tagged.toDF()
      .select(col("conv_id"), col("turn_idx"), col("turn_ord"), col("role"), col("tool"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      .orderBy(col("conv_id"), col("turn_idx"))),
    "kg_train_dict" -> ((s, d) => {
      val dict = graft.pipeline.NerTraining.dictionaryDF(
        graft.pipeline.Transcripts.trainSplit(Kg.built(s, d).labeled))
      dict.toDF("dict", "key", "value", "count")
        .orderBy(col("dict"), col("key"), col("value"))
    }),
    // raw training-event stream (one row per event, pre-aggregation) —
    // the input the kg_train_dict oracle re-aggregates in DuckDB, so the
    // distributed groupByKey/count shuffle is genuinely cross-checked
    "kg_train_events" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      graft.pipeline.Transcripts.trainSplit(Kg.built(s, d).labeled)
        .flatMap(r => graft.semantics.NerModel.events(
          graft.semantics.NerModel.TaggedDoc(
            r.text, r.gold.map(graft.pipeline.MentionRow.toMention).toArray)))
        .toDF("dict", "key", "value")
    }),
    // ordered so the span-contract oracle can compare row-by-row: DuckDB
    // re-derives value = substring(text, start+1, end-start) and norm =
    // the normalize regex from the kg_turn_texts dump — the tagger's
    // offsets/extraction stop being trust-me (VERDICT r2 next-round #4a)
    "kg_mentions" -> ((s, d) => Kg.built(s, d).out.mentions
      .orderBy(col("conv_id"), col("turn_idx"), col("start"), col("end"))),
    // overlap-freedom contract (the second half of the span contract):
    // mentions within a turn are non-overlapping by construction
    // (StringTagger.removeOverlaps) — this aggregate exposes the count of
    // overlapping pairs (must be 0) alongside the total mention count (so
    // a pass cannot be vacuous), and the oracle recomputes both in DuckDB
    // with an interval self-join over the dump
    "kg_mention_overlaps" -> ((s, d) => {
      val m = Kg.built(s, d).out.mentions.alias("a")
      val overlaps = m.join(Kg.built(s, d).out.mentions.alias("b"),
        col("a.conv_id") === col("b.conv_id") && col("a.turn_idx") === col("b.turn_idx") &&
          col("a.start") < col("b.end") && col("b.start") < col("a.end") &&
          (col("a.start") < col("b.start") ||
            (col("a.start") === col("b.start") && col("a.end") < col("b.end"))))
      Kg.built(s, d).out.mentions
        // n_duplicate_spans: the strict pair ordering below cannot see two
        // IDENTICAL (start,end) spans (neither ordering satisfies it), so
        // total-overlap duplicates are counted separately — both must be 0
        .agg(count(lit(1)).as("n_mentions"),
          (count(lit(1)) - countDistinct(col("conv_id"), col("turn_idx"),
            col("start"), col("end"))).as("n_duplicate_spans"))
        .crossJoin(overlaps.agg(count(lit(1)).as("n_overlapping_pairs")))
    }),
    // connector-phrase relation triples re-exposed for their contract
    // oracle (closing the last triple family): the oracle re-runs
    // adjacency, between-text extraction, connector tokenization and
    // longest-suffix pattern matching in DuckDB from the mention + text
    // dumps and the relationPatterns table shipped as VALUES
    "kg_relation_contract" -> ((s, d) => Kg.built(s, d).out.triples
      .where(!col("pred").isin("instance_of", "used_tool", "queried_via"))
      .select(col("conv_id"), col("turn_idx"), col("subj"), col("pred"),
        col("obj"), col("subj_tag"), col("obj_tag"))
      .orderBy(col("conv_id"), col("turn_idx"), col("subj"), col("pred"), col("obj"))),
    // raw turn texts — the input the kg_mentions span-contract oracle
    // reconstructs mention values from (no DuckDB twin of its own)
    "kg_turn_texts" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      Kg.built(s, d).labeled.select($"conv_id", $"turn_idx", $"text")
        .orderBy($"conv_id", $"turn_idx")
    }),
    "kg_triples" -> ((s, d) => Kg.built(s, d).out.triples),
    // the rule-derivable triple families re-exposed for their contract
    // oracle: instance_of (one per mention), used_tool (tool turns), and
    // queried_via (first mention of a tool turn) are all constructively
    // re-derivable in DuckDB from the kg_mentions + kg_turns dumps —
    // only the connector-phrase relation triples (sentence splitting +
    // longest-suffix matching) remain test-pinned
    "kg_triple_contract" -> ((s, d) => Kg.built(s, d).out.triples
      .where(col("pred").isin("instance_of", "used_tool", "queried_via"))
      .select(col("conv_id"), col("turn_idx"), col("subj"), col("pred"),
        col("obj"), col("subj_tag"), col("obj_tag"))
      .orderBy(col("conv_id"), col("turn_idx"), col("pred"), col("subj"), col("obj"))),
    // node_id omitted: it is xxhash64-derived (no DuckDB twin); the
    // oracle recomputes the whole aggregation from the mention dump
    "kg_surface_nodes" -> ((s, d) => Kg.built(s, d).out.nodes
      .select(col("norm"), col("tag"), col("n_mentions"), col("surface"))
      .orderBy(col("norm"), col("tag"))),
    "kg_components" -> ((s, d) => Kg.built(s, d).out.components
      .orderBy(col("node_id"))),
    // CC input edges, dumped so the kg_components oracle can recompute
    // connected components in DuckDB (recursive CTE) from scratch
    "kg_cc_edges" -> ((s, d) => Kg.built(s, d).out.ccEdges
      .orderBy(col("src"), col("dst"))),
    // pred/gold span dumps: inputs for the kg_eval_prf oracle, which
    // recomputes the headline P/R table in DuckDB
    "kg_eval_pred" -> ((s, d) => Kg.evalPred(s, d)
      .orderBy(col("conv_id"), col("turn_idx"), col("start"), col("end"))),
    "kg_gold_spans" -> ((s, d) => Kg.evalGold(s, d)
      .orderBy(col("conv_id"), col("turn_idx"), col("start"), col("end"))),
    // aliases stringified (pandas cannot hash ARRAY cells — r1 dump-err);
    // entity_id omitted from the QUERY (xxhash64 has no DuckDB twin) so
    // the oracle can rebuild the whole table from the node + component
    // dumps; the entities table itself keeps its stable id
    "kg_entities" -> ((s, d) => Kg.built(s, d).out.entities
      .select(col("canonical"), col("entity_type"),
        concat_ws("|", col("aliases")).as("aliases"), col("n_mentions"))
      .orderBy(col("canonical"), col("entity_type"))),
    // INCREMENTAL linking (SURVEY.md §7.5 production shape): link ~75% of
    // the conversations as the "prior" run, then merge the remaining
    // ~25% through KgPipeline.incrementalLink (active-block pair gen +
    // super-node CC over the prior labels). The oracle is the SAME
    // DuckDB entity recompute as kg_entities, fed by the FULL-run node +
    // component dumps — so a driver-green hash is a machine-checked
    // proof that incremental == full recompute, not just rows > 0.
    "kg_incr_entities" -> ((s, d) => {
      val b = Kg.built(s, d)
      val isNew = pmod(xxhash64(col("conv_id")), lit(4)) === 0
      // alias-scale but referenced by the blocking self-join (2×), the
      // CC collects, and incrementalLink's merge/anti-join — without the
      // checkpoint each reference re-aggregates the 10^5..10^6-row
      // mention stream (this query timed 41 s at sf0.1; ~3 s after)
      val priorNodes = graft.pipeline.KgPipeline.surfaceNodes(
        b.out.mentions.where(!isNew)).localCheckpoint()
      val (priorEdges, _) = graft.pipeline.KgPipeline.candidateEdges(priorNodes)
      val priorLabels = graft.pipeline.KgPipeline.connectedComponents(priorNodes, priorEdges)
      val inc = graft.pipeline.KgPipeline.incrementalLink(
        priorNodes, priorLabels, b.out.mentions.where(isNew))
      graft.pipeline.KgPipeline.entitiesTable(inc.nodes, inc.labels)
        .select(col("canonical"), col("entity_type"),
          concat_ws("|", col("aliases")).as("aliases"), col("n_mentions"))
        .orderBy(col("canonical"), col("entity_type"))
    }),
    // ordered so the oracle (which re-runs the whole resolve join in
    // DuckDB from the triple + canon-map dumps) can compare row-by-row
    "kg_resolved_triples" -> ((s, d) => Kg.built(s, d).out.resolvedTriples
      .orderBy(col("conv_id"), col("turn_idx"), col("subj"), col("pred"),
        col("obj"), col("subj_tag"), col("obj_tag"))),
    // canonical map dump (norm, tag -> entity_id, canonical_norm): the
    // small side of the resolve join, as DATA for the oracle to redo the
    // join + normalization + coalesce logic from scratch
    "kg_canon_map" -> ((s, d) => {
      val b = Kg.built(s, d)
      graft.pipeline.KgPipeline.canonicalize(b.out.nodes, b.out.components)
        .select(col("norm"), col("tag"), col("entity_id"), col("canonical_norm"))
        .orderBy(col("norm"), col("tag"))
    }),
    "kg_edges" -> ((s, d) => Kg.built(s, d).out.edges
      .orderBy(col("src"), col("dst"), col("pred"))),
    // exact-count rollup twin of kg_metrics_rollup (that one demos HLL
    // approx_count_distinct, whose sketch has no DuckDB twin — this one
    // is fully oracled from the resolved-triple dump)
    // day via the ONE shared TZ-proof epoch-day expression (GraphSink
    // .utcDay) — under the pinned-UTC session it equals to_date(ts), but
    // a non-UTC deploy must never report metric days that disagree with
    // the physical day=... partition layout (VERDICT r4 finding #3)
    "kg_pred_stats" -> ((s, d) => Kg.built(s, d).out.resolvedTriples
      .withColumn("day", graft.pipeline.GraphSink.utcDay(col("ts")).cast("string"))
      .rollup(col("day"), col("pred"))
      .agg(count(lit(1)).as("n_triples"), countDistinct(col("conv_id")).as("n_convs"))
      .select(coalesce(col("day"), lit("ALL")).as("day"),
        coalesce(col("pred"), lit("ALL")).as("pred"), col("n_triples"), col("n_convs"))
      .orderBy(col("day"), col("pred"))),
    // scored rows dumped as the INPUT for the role confusion/accuracy
    // oracles (they recompute both aggregates in DuckDB)
    "kg_role_scored" -> ((s, d) => Kg.roleScored(s, d)
      .select(col("conv_id"), col("turn_idx"), col("actual"), col("predicted"))
      .orderBy(col("conv_id"), col("turn_idx"))),
    // block-overflow accounting, exercised with a DEMO cap small enough
    // that sf0.01 actually produces overflow rows (the pipeline's real
    // MAX_BLOCK_SIZE=1000 is never exceeded at test scale — r1 passed
    // vacuously with 0 rows); oracled against the kg_block_keys dump
    // role-scoring oracle inputs: per-occurrence term features, the
    // trained dictionary (term, cat, n), and the model constants — so
    // DuckDB can recompute every turn's Bayes argmax from scratch
    "kg_role_features" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      Kg.built(s, d).labeled
        .flatMap(r => graft.semantics.NGrams.terms(r.text, graft.pipeline.ClassifyStage.fs)
          .map(term => (r.conv_id, r.turn_idx, term)))
        .toDF("conv_id", "turn_idx", "term")
    }),
    "kg_role_model" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      val m = Kg.roleModel(s, d)
      m.dict.iterator
        .flatMap { case (term, cats) => cats.map { case (c, n) => (term, c, n.toLong) } }
        .toSeq.toDF("term", "cat", "n")
        .orderBy(col("term"), col("cat"))
    }),
    "kg_role_priors" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      val m = Kg.roleModel(s, d)
      m.categories.toSeq.map(c =>
          (c, m.categoryDocCounts.getOrElse(c, 0L), m.categoryTermCounts.getOrElse(c, 0L),
            m.numDocs, m.vocabularySize))
        .toDF("cat", "n_docs", "cat_total", "total_docs", "vocab_size")
        .orderBy(col("cat"))
    }),
    "kg_block_overflow" -> ((s, d) =>
      graft.pipeline.KgPipeline.candidateEdges(Kg.built(s, d).out.nodes, maxBlock = 3)._2
        .orderBy(col("block_key"), col("tag"))),
    // exploded blocking keys per node — input for the overflow oracle
    "kg_block_keys" -> ((s, d) =>
      graft.pipeline.KgPipeline.blockKeyed(Kg.built(s, d).out.nodes)
        .select(col("block_key"), col("tag"), col("node_id"))
        .orderBy(col("block_key"), col("tag"), col("node_id"))),
    "kg_eval_prf" -> ((s, d) => Kg.evalPrf(s, d)),
    "kg_ner_errors" -> ((s, d) => Kg.nerErrors(s, d)),
    "kg_role_confusion" -> ((s, d) =>
      graft.pipeline.ClassifyStage.confusion(Kg.roleScored(s, d))),
    "kg_role_accuracy" -> ((s, d) =>
      graft.pipeline.ClassifyStage.accuracy(Kg.roleScored(s, d))),
    "kg_gazetteer_disambig" -> ((s, d) =>
      graft.pipeline.Gazetteer.disambiguate(
          Kg.built(s, d).out.mentions, graft.pipeline.Gazetteer.aliasTable(s))
        .orderBy(col("conv_id"), col("turn_idx"), col("start"), col("end"))),
    // the SALTED join strategy forced on the same corpus inputs, pinned
    // by the same DuckDB oracle as the broadcast path (r4: the two
    // strategies must be indistinguishable in their output)
    "kg_gazetteer_salted" -> ((s, d) =>
      graft.pipeline.Gazetteer.disambiguateSalted(
          Kg.built(s, d).out.mentions, graft.pipeline.Gazetteer.aliasTable(s))
        .orderBy(col("conv_id"), col("turn_idx"), col("start"), col("end"))),
    // dumped inputs for the kg_gazetteer_disambig oracle: the UDF-derived
    // blocking key and the alias table become DATA, so DuckDB can redo
    // the candidate join + trigram-jaccard scoring + argmax from scratch
    "kg_gaz_surfaces" -> ((s, d) => {
      val keyUdf = udf((norm: String) => graft.semantics.Linker.blockKeys(norm).headOption.orNull)
      Kg.built(s, d).out.mentions.select(col("norm"), col("tag")).distinct()
        .withColumn("block_key", keyUdf(col("norm")))
        .orderBy(col("norm"), col("tag"))
    }),
    "kg_gaz_aliases" -> ((s, d) => graft.pipeline.Gazetteer.aliasTable(s)
      .orderBy(col("alias"), col("entity_id"))),
    // full node dump (incl. node_id) — input for the kg_entities oracle
    "kg_nodes_full" -> ((s, d) => Kg.built(s, d).out.nodes
      .select(col("node_id"), col("norm"), col("tag"), col("surface"), col("n_mentions"))
      .orderBy(col("node_id"))),
    // skew diagnostics (SURVEY.md §2 row 59): quantiles of turns/conv and
    // mentions/entity — drives the salt-factor choice
    "kg_skew_diagnostics" -> ((s, d) => {
      val b = Kg.built(s, d)
      // quantiles stringified (pandas can't hash ARRAY cells — r1 dump-err)
      val qs = "concat_ws(',', transform(percentile_approx(n, array(0.5, 0.9, 0.99, 0.999)), " +
        "x -> cast(x as string)))"
      val convSizes = b.out.tagged.toDF().groupBy(col("conv_id")).agg(count(lit(1)).as("n"))
        .agg(lit("turns_per_conv").as("dist"), expr(qs).as("quantiles"), max(col("n")).as("max_n"))
      val entitySizes = b.out.mentions.groupBy(col("norm")).agg(count(lit(1)).as("n"))
        .agg(lit("mentions_per_surface").as("dist"), expr(qs).as("quantiles"), max(col("n")).as("max_n"))
      convSizes.unionByName(entitySizes)
    }),
    // exact-percentile twin of kg_skew_diagnostics: same two skew
    // distributions via exact `percentile` (linear interpolation — the
    // same definition as DuckDB's quantile_cont), so this one IS
    // cross-engine oracled; the approx_percentile variant above stays
    // rows-only (sketches have no DuckDB twin)
    "kg_skew_exact" -> ((s, d) => {
      val b = Kg.built(s, d)
      val qs = "concat_ws(',', transform(percentile(n, array(0.5D, 0.9D, 0.99D)), " +
        "x -> cast(round(x, 4) as string)))"
      val convSizes = b.out.tagged.toDF().groupBy(col("conv_id")).agg(count(lit(1)).as("n"))
        .agg(lit("turns_per_conv").as("dist"), expr(qs).as("quantiles"), max(col("n")).as("max_n"))
      val entitySizes = b.out.mentions.groupBy(col("norm")).agg(count(lit(1)).as("n"))
        .agg(lit("mentions_per_surface").as("dist"), expr(qs).as("quantiles"), max(col("n")).as("max_n"))
      convSizes.unionByName(entitySizes).orderBy(col("dist"))
    }),
    // metrics rollup with HLL approx-distinct (rows 57-58)
    "kg_metrics_rollup" -> ((s, d) => Kg.built(s, d).out.resolvedTriples
      .withColumn("day", graft.pipeline.GraphSink.utcDay(col("ts")))
      .rollup(col("day"), col("pred"))
      .agg(count(lit(1)).as("n_triples"),
        approx_count_distinct(col("conv_id")).as("approx_convs"))
      .select(coalesce(col("day").cast("string"), lit("ALL")).as("day"),
        coalesce(col("pred"), lit("ALL")).as("pred"),
        col("n_triples"), col("approx_convs"))
      .orderBy(col("day"), col("pred"))),
    // graph materialization: writes partitioned triples + per-bucket
    // manifests (resumable), returns the manifest table (row 8, §7.5)
    // CategoryEntries merge as a UDAF (SURVEY.md §2 row 62): per-surface
    // tag-confidence distribution; map sorted to array for determinism
    "kg_surface_type_dist" -> ((s, d) => {
      graft.functions.CategoryMergeAggregator.register(s)
      Kg.built(s, d).out.mentions.createOrReplaceTempView("mentions_v")
      s.sql(
        """SELECT norm,
          |  concat_ws(';', transform(array_sort(map_entries(pal_category_merge(tag, conf))),
          |    e -> concat(e.key, ':', cast(round(e.value, 4) as string)))) AS tag_dist,
          |  count(*) AS n
          |FROM mentions_v GROUP BY norm ORDER BY norm""".stripMargin)
    }),
    // per-triple (bucket, content hash) — the input from which the
    // kg_materialize oracle recomputes every manifest row (count +
    // bit_xor fingerprint) in DuckDB, cross-checking the partitioned
    // write + manifest protocol end-to-end
    "kg_bucket_hashes" -> ((s, d) =>
      graft.pipeline.GraphSink.bucketed(Kg.built(s, d).out.resolvedTriples, 16)
        .select(col("conv_bucket"),
          xxhash64(col("conv_id"), col("turn_idx"), col("subj"), col("pred"), col("obj")).as("h"))),
    "kg_materialize" -> ((s, d) => {
      val b = Kg.built(s, d)
      // fresh target per invocation: a leftover _manifests dir from an
      // earlier run would flip this into the resume path (0 pending
      // buckets) and make the returned manifest table nondeterministic
      val outDir = s"/tmp/graft_kg_out/${new java.io.File(d).getName}"
      val p = new org.apache.hadoop.fs.Path(outDir)
      val fs = graft.pipeline.Commit.fs(s, outDir)
      if (fs.exists(p)) fs.delete(p, true)
      graft.pipeline.GraphSink.writeTriples(s, b.out.resolvedTriples, outDir, 16)
      graft.pipeline.GraphSink.writeEntities(b.out.entities, outDir)
      graft.pipeline.GraphSink.writeEdges(b.out.edges, outDir)
      s.read.json(s"$outDir/_manifests")
        .select(col("bucket"), col("rows"), col("fingerprint"), col("config"))
        .orderBy(col("bucket"))
    }),
    // day-partitioned materialization + PRUNED time-range read-back
    // (SURVEY.md §7.5 second partition level): writes bucket(conv_id)/
    // day(ts) layout, then aggregates a two-day window through
    // readTriplesDayRange — the scan lists only the matching day dirs
    // (PlanSpec asserts the pruned file set; this query oracles the
    // VALUES read through that pruned path against the full dump)
    "kg_day_prune" -> ((s, d) => {
      val b = Kg.built(s, d)
      val outDir = s"/tmp/graft_kg_day/${new java.io.File(d).getName}"
      val p = new org.apache.hadoop.fs.Path(outDir)
      val fs = graft.pipeline.Commit.fs(s, outDir)
      if (fs.exists(p)) fs.delete(p, true)
      // day-partition ONE MONTH of the corpus, not all of it: the
      // synthetic generator spaces conversations 1 h apart, so sf0.1
      // spans ~8 years and a full bucket×day write would fan out into
      // ~50k tiny leaf dirs — a file-count artifact of the tiny test
      // days, not the deploy shape (at 10^12 turns a day is huge and
      // bucket×day is the right grain). The month bounds the layout at
      // 16×31 dirs at any sf while the pruned read stays fully real.
      val jan = b.out.resolvedTriples.where(
        col("ts") >= expr("timestamp_millis(1735689600000)") && // 2025-01-01T00Z
          col("ts") < expr("timestamp_millis(1738368000000)")) // 2025-02-01T00Z
      graft.pipeline.GraphSink.writeTriples(s, jan, outDir, 4, dayPartition = true)
      graft.pipeline.GraphSink.readTriplesDayRange(s, outDir, "2025-01-02", "2025-01-03")
        .groupBy(col("day").cast("string").as("day"), col("pred"))
        .agg(count(lit(1)).as("n_triples"))
        .orderBy(col("day"), col("pred"))
    })
  )
}
