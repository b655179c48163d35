package graft
package queries

import graft.etl.MusicKpis
import graft.functions.Text
import graft.operators.{Dedup, GroupTop, Mixture, Similarity}
import graft.quality.Checks
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry._

/** Oracle-registry fragment of [[graft.SparkEntry]] (mechanical r10 split of the
  * 13.7k-line registry into per-domain files): corpus plumbing, curation chains and behavioral analytics.
  * Entries are verbatim from the original map; SparkEntry folds every
  * fragment back into one registry, so names/oracles stay 1:1. */
private[graft] object OraclesCorpusAnalytics {
  def m: Map[String, String] = Map(
    "shard_balance" ->
      s"""WITH t AS (SELECT doc_id,
        |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |            FROM documents),
        |r AS (SELECT doc_id, n_tok,
        |        row_number() OVER (ORDER BY n_tok DESC, doc_id ASC) - 1 AS rn
        |      FROM t),
        |a AS (SELECT n_tok,
        |  CAST(CASE WHEN (rn // $ShardK) % 2 = 0 THEN rn % $ShardK
        |       ELSE ${ShardK - 1} - rn % $ShardK END AS INTEGER) AS shard
        |  FROM r)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS sum_tok
        |FROM a GROUP BY 1""".stripMargin,

    "incr_cov_view" ->
      s"""WITH fin AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0
        |  UNION ALL
        |  SELECT vec_id, list_reverse(embedding) AS embedding
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |${embeddingCovCtesFrom("fin")}
        |SELECT i, j, cov_q FROM cov""".stripMargin,

    "cosine_topk" ->
      """WITH flat AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(UNNEST(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, sum(a.x * b.x) AS dp
        |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  GROUP BY a.vec_id, b.vec_id),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |         round(dp / (na.nrm * nb.nrm), 6) AS cosine_sim
        |  FROM dots JOIN norms na ON query_id = na.vec_id
        |            JOIN norms nb ON neighbor_id = nb.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS "rank"
        |      FROM scored)
        |SELECT query_id, neighbor_id, cosine_sim, CAST("rank" AS INTEGER) AS "rank" FROM r WHERE "rank" <= 5""".stripMargin,

    "maxsim_topk" ->
      s"""WITH msflat AS (
        |  SELECT vec_id, vec_id // $MaxSimGroup AS doc_id,
        |         generate_subscripts(embedding, 1) AS i,
        |         CAST(UNNEST(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |msnorms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM msflat GROUP BY vec_id),
        |mspanel AS (SELECT doc_id FROM (SELECT DISTINCT doc_id FROM msflat)
        |            ORDER BY ${dh("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC
        |            LIMIT $MaxSimPanel),
        |msdots AS (
        |  SELECT a.doc_id AS query_doc, a.vec_id AS q_tok,
        |         b.doc_id AS neighbor_doc, b.vec_id AS c_tok,
        |         sum(a.x * b.x) AS dp
        |  FROM msflat a JOIN msflat b ON a.i = b.i AND a.doc_id <> b.doc_id
        |  WHERE a.doc_id IN (SELECT doc_id FROM mspanel)
        |  GROUP BY 1, 2, 3, 4),
        |mscos AS (
        |  SELECT query_doc, q_tok, neighbor_doc,
        |         max(round(dp / (na.nrm * nb.nrm), 6)) AS m
        |  FROM msdots JOIN msnorms na ON q_tok = na.vec_id
        |              JOIN msnorms nb ON c_tok = nb.vec_id
        |  GROUP BY 1, 2, 3),
        |msscore AS (SELECT query_doc, neighbor_doc, round(sum(m), 6) AS maxsim
        |            FROM mscos GROUP BY 1, 2),
        |msr AS (SELECT *, row_number() OVER (PARTITION BY query_doc
        |          ORDER BY maxsim DESC, neighbor_doc ASC) AS "rank" FROM msscore)
        |SELECT query_doc, neighbor_doc, maxsim, CAST("rank" AS INTEGER) AS "rank"
        |FROM msr WHERE "rank" <= $AnnK""".stripMargin,

    "near_dup_embeddings" ->
      """WITH flat AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(UNNEST(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dp
        |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY a.vec_id, b.vec_id)
        |SELECT id_a, id_b, cosine_sim FROM (
        |  SELECT id_a, id_b, round(dp / (na.nrm * nb.nrm), 6) AS cosine_sim
        |  FROM dots JOIN norms na ON id_a = na.vec_id
        |            JOIN norms nb ON id_b = nb.vec_id)
        |WHERE cosine_sim >= 0.4""".stripMargin,

    // pair tier = the near_dup_lsh candidate chain (same NdBits/NdTables
    // hyperplanes, Hamming-1 probes, exact rescoring) feeding the same
    // recursive min-label closure — mirrors the Spark side's
    // lshNearDupPairs → connectedComponents re-pointing
    "dedup_embed_keepers" ->
      s"""WITH RECURSIVE ${lshBucketCtes(NdBits, NdTables)}
        |cand AS (
        |  SELECT DISTINCT p.vec_id AS id_a, c.vec_id AS id_b
        |  FROM probes p JOIN buckets c
        |    ON p.tbl = c.tbl AND p.bucket = c.bucket AND p.vec_id < c.vec_id),
        |${pairScoreCtes("id_a", "id_b")},
        |p AS (SELECT id_a, id_b FROM scored WHERE cosine_sim >= $NdThreshold),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |v AS (SELECT DISTINCT src AS id FROM e),
        |reach(id, r) AS (
        |  SELECT id, id FROM v
        |  UNION
        |  SELECT e.dst, reach.r FROM e JOIN reach ON e.src = reach.id),
        |losers AS (SELECT id FROM reach GROUP BY id HAVING id != min(r))
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM losers)""".stripMargin,

    "corpus_curate" ->
      """WITH t AS (
        |  SELECT doc_id, text, lang, source, string_split(text, ' ') AS ws,
        |         CAST(length(text) AS DOUBLE) AS nchars
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, text, lang, source, ws, nchars,
        |         CAST(len(ws) AS DOUBLE) AS ntok,
        |         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha
        |  FROM t),
        |q AS (
        |  SELECT doc_id, text, lang, source, ws,
        |    CAST(CASE WHEN nchars = 0 THEN 0 ELSE floor((
        |      least(ntok / 100.0, 1.0) * 0.3
        |      + (alpha / nchars) * 0.3
        |      + (CASE WHEN (nchars - (ntok - 1)) / ntok BETWEEN 2.0 AND 12.0
        |              THEN 1.0 ELSE 0.3 END) * 0.2
        |      + (CASE WHEN len(list_intersect(ws,
        |           ['the','a','an','and','of','to','in','is','it','that'])) > 0
        |              THEN 1.0 ELSE 0.5 END) * 0.2) * 1000000.0 + 0.5) END AS BIGINT) AS quality_e6
        |  FROM s),
        |g3 AS (SELECT doc_id, count(DISTINCT array_to_string(ws[i:i+2], ' ')) AS d,
        |              any_value(len(ws)) - 2 AS tot
        |       FROM t, UNNEST(range(1, len(ws) - 1)) AS r(i) WHERE len(ws) >= 3
        |       GROUP BY doc_id),
        |r AS (SELECT q.doc_id, q.text, q.lang, q.source, q.quality_e6,
        |        CAST(floor(COALESCE((g3.tot - g3.d) * 1.0 / g3.tot, 0.0)
        |                   * 1000000.0 + 0.5) AS BIGINT) AS rep3_e6
        |      FROM q LEFT JOIN g3 USING (doc_id)),
        |f AS (SELECT * FROM r WHERE quality_e6 >= 800000 AND rep3_e6 <= 10000),
        |k AS (SELECT doc_id, lang, source, quality_e6, rep3_e6, text,
        |        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
        |      FROM f)
        |SELECT doc_id, lang, source, quality_e6, rep3_e6 FROM k
        |WHERE rn = 1
        |  AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10000 < 5000""".stripMargin,

    "doc_quality" -> docQualityOracle,

    "doc_lang" -> docLangOracle,
    "span_corruption" ->
      s"""WITH sct AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |scp AS (SELECT doc_id, UNNEST(range(0, len(ws))) AS pos FROM sct),
        |scm AS (SELECT doc_id, pos FROM scp
        |        WHERE ${dh("CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")}
        |              % 100 < $SpanMaskPct),
        |scs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_masked,
        |          CAST(sum(CASE WHEN prev IS NULL OR pos - prev > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
        |        FROM (SELECT doc_id, pos,
        |                lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM scm)
        |        GROUP BY 1),
        |scn AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |        FROM documents)
        |SELECT n.doc_id, n.n_tokens,
        |  COALESCE(s.n_masked, 0) AS n_masked, COALESCE(s.n_spans, 0) AS n_spans,
        |  COALESCE(s.n_masked, 0) * 1000000 // n.n_tokens AS mask_rate_e6
        |FROM scn n LEFT JOIN scs s USING (doc_id)""".stripMargin,
    "doc_lang_confusion" ->
      s"""WITH lcp AS (SELECT d.lang, p.lang_pred
        |            FROM documents d JOIN ($docLangOracle) p USING (doc_id)),
        |lcc AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
        |        FROM lcp GROUP BY 1, 2),
        |lct AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |          CAST(sum(CASE WHEN lang = lang_pred THEN n ELSE 0 END) AS BIGINT) AS ok
        |        FROM lcc)
        |SELECT lang, lang_pred, n, CAST(ok * 1000000 // nn AS BIGINT) AS accuracy_e6
        |FROM lcc CROSS JOIN lct""".stripMargin,
    "dup_threshold_sweep" ->
      """WITH RECURSIVE tstoks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tsgrams AS (
        |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
        |  FROM tstoks, UNNEST(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
        |tssizes AS (SELECT doc_id, count(*) AS n FROM tsgrams GROUP BY doc_id),
        |tsinter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM tsgrams a JOIN tsgrams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |tspj AS (SELECT i.id_a, i.id_b,
        |           CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS j
        |         FROM tsinter i JOIN tssizes sa ON i.id_a = sa.doc_id
        |                        JOIN tssizes sb ON i.id_b = sb.doc_id),
        |tsth(t_e6) AS (VALUES (250000), (500000), (750000)),
        |tsp3 AS (SELECT t_e6, id_a, id_b FROM tspj JOIN tsth
        |           ON tspj.j >= t_e6 / 1000000.0),
        |tse3 AS (SELECT t_e6, id_a AS src, id_b AS dst FROM tsp3
        |         UNION SELECT t_e6, id_b, id_a FROM tsp3),
        |tsv3 AS (SELECT DISTINCT t_e6, src AS id FROM tse3),
        |tsreach(t_e6, id, r) AS (
        |  SELECT t_e6, id, id FROM tsv3
        |  UNION
        |  SELECT e.t_e6, e.dst, tsreach.r FROM tse3 e
        |  JOIN tsreach ON e.src = tsreach.id AND e.t_e6 = tsreach.t_e6),
        |tslab AS (SELECT t_e6, id, min(r) AS cluster_id FROM tsreach GROUP BY 1, 2),
        |tscs AS (SELECT t_e6, cluster_id, CAST(count(*) AS BIGINT) AS sz
        |         FROM tslab GROUP BY 1, 2),
        |tses AS (SELECT t_e6, CAST(count(*) AS BIGINT) AS n_edges FROM tsp3 GROUP BY 1),
        |tsx AS (SELECT t_e6, CAST(sum(sz) AS BIGINT) AS n_nodes,
        |          CAST(count(*) AS BIGINT) AS n_components,
        |          CAST(max(sz) AS BIGINT) AS max_component
        |        FROM tscs GROUP BY 1)
        |SELECT CAST(tsth.t_e6 AS BIGINT) AS threshold_e6,
        |  COALESCE(tses.n_edges, 0) AS n_edges,
        |  COALESCE(tsx.n_nodes, 0) AS n_nodes,
        |  COALESCE(tsx.n_components, 0) AS n_components,
        |  COALESCE(tsx.max_component, 0) AS max_component
        |FROM tsth LEFT JOIN tses ON tses.t_e6 = tsth.t_e6
        |          LEFT JOIN tsx ON tsx.t_e6 = tsth.t_e6""".stripMargin,

    "doc_tokens" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(CASE WHEN len(string_split(text, ' ')) >= 3
        |      THEN len(list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
        |           for i in range(1, len(string_split(text, ' ')) - 1)]))
        |      ELSE 0 END AS BIGINT) AS n_grams3
        |FROM documents""".stripMargin,

    "phrase_search" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM t, UNNEST(range(1, len(ws))) AS u(i)
        |WHERE ws[i] = 'table' AND ws[i + 1] = 'scan'
        |GROUP BY doc_id""".stripMargin,

    "doc_redact" ->
      """SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS clean
        |FROM documents""".stripMargin,

    "sample_docs" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10000 < 2500""".stripMargin,

    "train_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10000 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 8000 THEN 'train'
        |            WHEN bucket < 9000 THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n_docs
        |FROM b GROUP BY 1""".stripMargin,

    "bloom_prune_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000
        |GROUP BY 1""".stripMargin,

    "incr_agg" ->
      """WITH q AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events)
        |SELECT event_type, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v,
        |       min(v) AS min_v, max(v) AS max_v,
        |       CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_v
        |FROM q GROUP BY 1""".stripMargin,

    // every op predicted from the merge arithmetic: seed = %10≠0;
    // upsert(%5==0, +1000); delete(%7==0, matched-only). insert = joined
    // the table after v0 and survived the delete; delete = in v0, gone by
    // v2 (values as of v0); update = in both with the upserted value. A
    // row inserted then deleted inside the window is NOT a change
    "snapshot_changes" ->
      """SELECT CASE
        |         WHEN doc_id % 10 = 0 AND doc_id % 7 <> 0 THEN 'insert'
        |         WHEN doc_id % 10 <> 0 AND doc_id % 7 = 0 THEN 'delete'
        |         WHEN doc_id % 10 <> 0 AND doc_id % 5 = 0 THEN 'update'
        |       END AS op,
        |       doc_id,
        |       CASE WHEN doc_id % 10 <> 0 AND doc_id % 7 = 0 THEN n_chars
        |            ELSE n_chars + 1000 END AS n_chars,
        |       lang
        |FROM documents
        |WHERE (doc_id % 10 = 0 AND doc_id % 7 <> 0)
        |   OR (doc_id % 10 <> 0 AND doc_id % 7 = 0)
        |   OR (doc_id % 10 <> 0 AND doc_id % 5 = 0 AND doc_id % 7 <> 0)""".stripMargin,

    "snapshot_changes_where" ->
      """SELECT op, doc_id, n_chars, lang FROM (
        |  SELECT CASE
        |           WHEN doc_id % 10 = 0 AND doc_id % 7 <> 0 THEN 'insert'
        |           WHEN doc_id % 10 <> 0 AND doc_id % 7 = 0 THEN 'delete'
        |           WHEN doc_id % 10 <> 0 AND doc_id % 5 = 0 THEN 'update'
        |         END AS op,
        |         doc_id,
        |         CASE WHEN doc_id % 10 <> 0 AND doc_id % 7 = 0 THEN n_chars
        |              ELSE n_chars + 1000 END AS n_chars,
        |         lang,
        |         CASE WHEN doc_id % 10 <> 0 THEN n_chars END AS old_chars,
        |         CASE WHEN doc_id % 7 <> 0 THEN n_chars + 1000 END AS new_chars
        |  FROM documents
        |  WHERE (doc_id % 10 = 0 AND doc_id % 7 <> 0)
        |     OR (doc_id % 10 <> 0 AND doc_id % 7 = 0)
        |     OR (doc_id % 10 <> 0 AND doc_id % 5 = 0 AND doc_id % 7 <> 0))
        |WHERE (old_chars BETWEEN 250 AND 1250)
        |   OR (new_chars BETWEEN 250 AND 1250)""".stripMargin,

    "snapshot_read_where" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000
        |            ELSE n_chars END AS n_chars,
        |       lang
        |FROM documents
        |WHERE (doc_id % 10 <> 0 OR doc_id % 5 = 0)
        |  AND doc_id % 7 <> 0
        |  AND (CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000
        |            ELSE n_chars END) BETWEEN 250 AND 1250""".stripMargin,

    // the oracle recomputes the mart from the closed-form FINAL state of
    // the pinned CDF window (live rows: seed %10≠0 plus upserted %5==0,
    // minus deleted %7==0; upserted rows carry n_chars+1000) — hash
    // equality proves the retraction-maintained mart identical to the
    // recompute it never performed
    "ivm_cdf_mart" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000
        |                     ELSE n_chars END) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE (doc_id % 10 <> 0 OR doc_id % 5 = 0) AND doc_id % 7 <> 0
        |GROUP BY 1""".stripMargin,

    // full recompute over the LIVE rows (inserts minus retracted ids) —
    // hash equality proves the changelog-merged snapshot identical
    "incr_agg_retract" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v
        |FROM events WHERE event_id % 5 <> 0 GROUP BY 1""".stripMargin,

    // the oracle is the FULL recomputation — hash equality proves the
    // maintained delta-join view identical to rejoining from scratch
    "incr_join_view" ->
      """SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS revenue_cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin,

    "dedup_stream_replay" ->
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY event_id % 3, event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1""".stripMargin,

    // closed form of the transformWithState running profile's Update-mode
    // emissions: per batch b, users touched in b emit their fold over
    // batches 0..b; mode ties resolve (count DESC, type ASC)
    "tws_profile_replay" ->
      """WITH e AS (
        |  SELECT event_id % 3 AS b, user_id, event_type,
        |         coalesce(CAST(round(value * 100) AS BIGINT), 0) AS cents
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |bs AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(batch_id)),
        |cum AS (SELECT bs.batch_id, e.user_id, e.event_type, e.cents
        |        FROM bs JOIN e ON e.b <= bs.batch_id),
        |agg AS (SELECT batch_id, user_id,
        |               CAST(count(*) AS BIGINT) AS n_events,
        |               CAST(sum(cents) AS BIGINT) AS sum_cents,
        |               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |        FROM cum GROUP BY 1, 2),
        |tc AS (SELECT batch_id, user_id, event_type, count(*) AS c
        |       FROM cum GROUP BY 1, 2, 3),
        |top AS (SELECT batch_id, user_id, event_type AS top_type FROM (
        |          SELECT batch_id, user_id, event_type,
        |                 row_number() OVER (PARTITION BY batch_id, user_id
        |                                    ORDER BY c DESC, event_type ASC) AS rn
        |          FROM tc) WHERE rn = 1),
        |touched AS (SELECT DISTINCT b AS batch_id, user_id FROM e)
        |SELECT a.batch_id, a.user_id, a.n_events, a.sum_cents, a.n_types,
        |       t.top_type
        |FROM agg a
        |JOIN top t ON a.batch_id = t.batch_id AND a.user_id = t.user_id
        |JOIN touched u ON a.batch_id = u.batch_id AND a.user_id = u.user_id""".stripMargin,

    "incr_snapshot_versioned" ->
      """WITH q AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events)
        |SELECT event_type, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v,
        |       min(v) AS min_v, max(v) AS max_v
        |FROM q GROUP BY 1""".stripMargin,

    // MERGE semantics in closed form: the upsert keeps non-overlapping
    // target rows and takes every source row (updated n_chars); the
    // delete keeps exactly the target rows no source row matches
    "snapshot_merge_upsert" ->
      """SELECT doc_id, n_chars, lang FROM documents
        |WHERE doc_id % 10 <> 0 AND doc_id % 5 <> 0
        |UNION ALL
        |SELECT doc_id, n_chars + 1000 AS n_chars, lang FROM documents
        |WHERE doc_id % 5 = 0""".stripMargin,

    "snapshot_merge_delete" ->
      """SELECT doc_id, n_chars, lang FROM documents
        |WHERE doc_id % 10 <> 0 AND doc_id % 5 <> 0""".stripMargin,

    // timestamp travel back to the seed commit = the seed selection
    "snapshot_asof_read" ->
      """SELECT doc_id, n_chars, lang FROM documents
        |WHERE doc_id % 10 <> 0""".stripMargin,

    // the zorder compact is content-preserving, so the 2-D box reads
    // straight off the raw table
    "snapshot_zorder_compact" ->
      """SELECT doc_id, n_chars, lang FROM documents
        |WHERE n_chars BETWEEN 250 AND 1250 AND doc_id <= 400""".stripMargin,

    // the CDF-stream-maintained mart must equal the source's final state:
    // (seeded %10<>0 ∪ upserted %5=0 at +1000) minus the two derived
    // purge subjects
    "snapshot_cdf_stream" ->
      """WITH subj AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 10 <> 0
        |  ORDER BY doc_id LIMIT 2)
        |SELECT doc_id, n_chars, lang FROM documents
        |WHERE doc_id % 10 <> 0 AND doc_id % 5 <> 0
        |  AND doc_id NOT IN (SELECT doc_id FROM subj)
        |UNION ALL
        |SELECT doc_id, n_chars + 1000 AS n_chars, lang FROM documents
        |WHERE doc_id % 5 = 0""".stripMargin,

    // the replicateTo-maintained replica must equal the source's final
    // state: all %3-keys carry the last upsert (+111, re-inserting any
    // %3-keys the delete removed), surviving %5-keys carry +1000, the
    // %7-delete and the two derived purge subjects are gone
    "snapshot_replicate" ->
      """WITH subj AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 10 <> 0 AND doc_id % 7 <> 0
        |    AND doc_id % 3 <> 0
        |  ORDER BY doc_id LIMIT 2)
        |SELECT doc_id, n_chars + 111 AS n_chars, lang FROM documents
        |WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id, n_chars + 1000 AS n_chars, lang FROM documents
        |WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0 AND doc_id % 7 <> 0
        |UNION ALL
        |SELECT doc_id, n_chars, lang FROM documents
        |WHERE doc_id % 3 <> 0 AND doc_id % 5 <> 0 AND doc_id % 10 <> 0
        |  AND doc_id % 7 <> 0
        |  AND doc_id NOT IN (SELECT doc_id FROM subj)""".stripMargin,

    // zero-copy clone in closed form: the source side is the seed
    // verbatim (divergence must NOT leak across the borrowed files);
    // the clone side applies exactly the update-only merge
    "snapshot_clone" ->
      """SELECT 'src' AS side, doc_id, n_chars, lang FROM documents
        |UNION ALL
        |SELECT 'clone' AS side, doc_id,
        |       CASE WHEN doc_id % 7 = 0 THEN n_chars + 500
        |            ELSE n_chars END AS n_chars,
        |       lang
        |FROM documents""".stripMargin,

    // column-mapping loop in closed form: the rename is pure metadata, so
    // the data is the seed with the post-rename merge applied, minus the
    // dropped column, under the new names
    "snapshot_rename" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 3 = 0 THEN n_chars + 100
        |            ELSE n_chars END AS length
        |FROM documents""".stripMargin,

    // partial MERGE in closed form: every row survives (update-only
    // merge), the narrow key window takes the shifted n_chars
    "snapshot_merge_partial" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id < 50 THEN n_chars + 5000
        |            ELSE n_chars END AS n_chars,
        |       lang
        |FROM documents""".stripMargin,

    // concurrent MERGE race in closed form: the writers' key sets are
    // disjoint (A: doc_id<50 shifts n_chars; B: doc_id>=50 ∧ %7=0 marks
    // lang), so both effects land regardless of commit order — a lost
    // update would erase exactly one CASE branch
    "snapshot_concurrent_merge" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id < 50 THEN n_chars + 5000
        |            ELSE n_chars END AS n_chars,
        |       CASE WHEN doc_id >= 50 AND doc_id % 7 = 0 THEN 'zz'
        |            ELSE lang END AS lang
        |FROM documents""".stripMargin,

    // crash heal in closed form: the crashed attempt must contribute
    // NOTHING on its own; only the retried merge's arithmetic lands
    "snapshot_crash_heal" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 3 = 0 THEN n_chars + 7000
        |            ELSE n_chars END AS n_chars,
        |       lang
        |FROM documents""".stripMargin,

    // schema evolution in closed form: evens seed without lang (null
    // after widening), multiples of 3 arrive with lang and +500
    "snapshot_schema_evolve" ->
      """SELECT doc_id, n_chars + 500 AS n_chars, lang
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id, n_chars, CAST(NULL AS VARCHAR) AS lang
        |FROM documents WHERE doc_id % 2 = 0 AND doc_id % 3 <> 0""".stripMargin,

    // CDF-with-retractions in closed form: inserts are the %10=0 upsert
    // arrivals, updates the %5-overlap, purge rows the three subjects
    // with erased (null) values. The subjects mirror the query's
    // derivation — three smallest %5<>0 ids — so engine and oracle
    // purge the same EXISTING rows at every scale factor, and %5<>0
    // keeps them disjoint from both merge sources (no diff rows of
    // their own)
    "snapshot_changes_purged" ->
      """WITH subj AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 5 <> 0
        |  ORDER BY doc_id LIMIT 3)
        |SELECT 'insert' AS op, doc_id, n_chars + 1000 AS n_chars, lang
        |FROM documents WHERE doc_id % 10 = 0
        |UNION ALL
        |SELECT 'update' AS op, doc_id, n_chars + 1000 AS n_chars, lang
        |FROM documents
        |WHERE doc_id % 10 <> 0 AND doc_id % 5 = 0
        |UNION ALL
        |SELECT 'purge' AS op, doc_id, CAST(NULL AS BIGINT) AS n_chars,
        |       CAST(NULL AS VARCHAR) AS lang
        |FROM subj""".stripMargin,

    // retention×purge in closed form: UpdateMatched REPLACES the whole
    // row with the source row, so the %9 update diff carries the
    // original values +111 (the earlier %4/%6 merges are overwritten
    // for those keys), plus one null-valued purge row per derived
    // subject — the retraction record must survive the retain=3
    // retention that retired the pre-purge history
    "snapshot_purge_retention" ->
      """WITH subj AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 5 <> 0
        |  ORDER BY doc_id LIMIT 3)
        |SELECT 'update' AS op, doc_id, n_chars + 111 AS n_chars, lang
        |FROM documents
        |WHERE doc_id % 9 = 0 AND doc_id NOT IN (SELECT doc_id FROM subj)
        |UNION ALL
        |SELECT 'purge' AS op, doc_id, CAST(NULL AS BIGINT) AS n_chars,
        |       CAST(NULL AS VARCHAR) AS lang
        |FROM subj""".stripMargin,

    // restore in closed form: the +1000 update is undone (n_chars back
    // to seed), the post-restore merge lands on seed values
    "snapshot_restore_replay" ->
      """SELECT doc_id, n_chars,
        |       CASE WHEN doc_id % 7 = 0 THEN 'rr' ELSE lang END AS lang
        |FROM documents""".stripMargin,

    // lineage audit in closed form: the op sequence is deterministic, so
    // the whole history table is a VALUES literal
    "snapshot_history_audit" ->
      """SELECT CAST(v AS BIGINT) AS version, marker, layout,
        |       CAST(nb AS INTEGER) AS num_buckets,
        |       CAST(novl AS INTEGER) AS n_overlays, cur AS is_current
        |FROM (VALUES
        |  (4, 'purge-commit:v3', 'bucketed', 8, 0, TRUE),
        |  (3, 'compact', 'bucketed', 8, 0, FALSE),
        |  (2, 'overlay', 'bucketed+mor', 8, 1, FALSE),
        |  (1, 'update', 'bucketed', 8, 0, FALSE),
        |  (0, 'seed', 'bucketed', 8, 0, FALSE)
        |) AS t(v, marker, layout, nb, novl, cur)""".stripMargin,

    // the purge set mirrors the query's deterministic cap: first 1000
    // doc_ids (ascending) matching the %997 predicate
    "snapshot_purge_replay" ->
      """WITH purged AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 997 = 3
        |  ORDER BY doc_id LIMIT 1000)
        |SELECT 'v0' AS at, doc_id, n_chars FROM documents
        |WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT doc_id FROM purged)
        |UNION ALL
        |SELECT 'cur' AS at, doc_id,
        |       CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000
        |            ELSE n_chars END AS n_chars
        |FROM documents
        |WHERE (doc_id % 10 <> 0 OR doc_id % 5 = 0)
        |  AND doc_id NOT IN (SELECT doc_id FROM purged)""".stripMargin,

    "snapshot_merge_mark_stale" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 4 = 0 THEN n_chars + 2000
        |            ELSE n_chars END AS n_chars,
        |       CASE WHEN doc_id % 4 <> 0 AND n_chars < 500 THEN 'stale'
        |            ELSE lang END AS lang
        |FROM documents""".stripMargin,

    "snapshot_merge_full_sync" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000
        |            ELSE n_chars END AS n_chars,
        |       lang
        |FROM documents
        |WHERE doc_id % 3 = 0
        |   OR (doc_id % 10 <> 0 AND NOT (n_chars < 500))""".stripMargin,

    // upsert replay in closed form: the surviving row per user comes from
    // the highest batch (event_id % 3) the user appears in, and within
    // that batch the highest event_id (the sink's orderCol)
    "cdc_merge_replay" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS v_cents,
        |         event_id % 3 AS b
        |  FROM events),
        |r AS (SELECT user_id, event_type, v_cents,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY b DESC, event_id DESC) AS rn
        |      FROM e)
        |SELECT user_id, event_type, v_cents FROM r WHERE rn = 1""".stripMargin,

    "mor_delta_replay" ->
      """WITH me AS (
        |  SELECT user_id, event_type, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS v_cents,
        |         event_id % 3 AS b
        |  FROM events),
        |mr AS (SELECT user_id, event_type, v_cents,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY b DESC, event_id DESC) AS rn
        |       FROM me)
        |SELECT user_id, event_type, v_cents FROM mr
        |WHERE rn = 1 AND user_id % 7 <> 0""".stripMargin,

    "source_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |t AS (SELECT lang, n,
        |        least(n, CAST(sum(n) OVER () AS BIGINT) // CAST(count(*) OVER () AS BIGINT)) AS tgt
        |      FROM c)
        |SELECT d.doc_id, d.source, d.lang
        |FROM documents d JOIN t USING (lang)
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % t.n < t.tgt""".stripMargin,

    "lang_mix_weighted" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |t AS (SELECT lang, n,
        |        least(n, CAST(floor(CAST(sum(n) OVER () AS DOUBLE) *
        |          CASE WHEN lang = 'en' THEN 0.2 ELSE 1.0 END) AS BIGINT)) AS tgt
        |      FROM c)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN t USING (lang)
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % t.n < t.tgt""".stripMargin,

    "temperature_mix" ->
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
         |p AS (SELECT lang, n,
         |        CAST(floor(pow(CAST(n AS DOUBLE), 0.5) * 1000000.0 + 0.5) AS BIGINT) AS p
         |      FROM c),
         |t AS (SELECT lang, n,
         |        least(n, CAST(floor(250.0 *
         |          (CAST(p AS DOUBLE) / CAST(sum(p) OVER () AS DOUBLE))) AS BIGINT)) AS tgt
         |      FROM p)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN t USING (lang)
         |WHERE ${dh("CAST(d.doc_id AS VARCHAR)")} % t.n < t.tgt""".stripMargin,

    "user_set_ops" ->
      """SELECT
        |  (SELECT count(*) FROM (SELECT DISTINCT user_id FROM events
        |                         INTERSECT
        |                         SELECT DISTINCT o_custkey FROM orders)) AS n_intersect,
        |  (SELECT count(*) FROM (SELECT DISTINCT user_id FROM events
        |                         EXCEPT
        |                         SELECT DISTINCT o_custkey FROM orders)) AS n_except""".stripMargin,

    "length_buckets" ->
      """SELECT CAST(length(bin(CAST(len(string_split(text, ' ')) AS BIGINT))) AS INT) AS bucket_id,
        |       count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    "pack_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, n_tokens, n_tokens + 1 AS len,
        |         CAST(sum(n_tokens + 1) OVER (PARTITION BY source ORDER BY doc_id
        |             ROWS UNBOUNDED PRECEDING) AS BIGINT) - (n_tokens + 1) AS in_off
        |  FROM t),
        |b AS (SELECT source, sum(n_tokens + 1) AS tot FROM t GROUP BY source),
        |o AS (SELECT source, CAST(COALESCE(sum(tot) OVER (ORDER BY source
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
        |      FROM b)
        |SELECT g.doc_id, g.source, g.n_tokens,
        |       o.base + g.in_off AS start_off,
        |       (o.base + g.in_off) // 2048 AS first_seq,
        |       ((o.base + g.in_off + g.len - 1) // 2048) - ((o.base + g.in_off) // 2048) + 1 AS n_seqs
        |FROM g JOIN o USING (source)""".stripMargin,

    "corpus_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        | round(avg(length(text)), 4) AS avg_chars,
        | round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
        |FROM documents GROUP BY lang, source""".stripMargin,

    "dedup_by_fingerprint" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |               THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS fp
        |  FROM (
        |    SELECT doc_id,
        |           list_reduce(
        |             list_prepend(0::HUGEINT,
        |               [ord(c)::HUGEINT for c in regexp_extract_all(text, '.')]),
        |             (acc, b) -> (acc * 31 + b) % 18446744073709551616::HUGEINT) AS h
        |    FROM documents))
        |SELECT fp, min(doc_id) AS keeper_id, count(*) AS n_dups FROM f GROUP BY fp""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id,
        | CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |       THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS fp
        |FROM (
        |  SELECT doc_id,
        |         list_reduce(
        |           list_prepend(0::HUGEINT,
        |             [ord(c)::HUGEINT for c in regexp_extract_all(text, '.')]),
        |           (acc, b) -> (acc * 31 + b) % 18446744073709551616::HUGEINT) AS h
        |  FROM documents)""".stripMargin,

    // jw_e6 parity: the Spark side is the exact rational; DuckDB's builtin
    // computes doubles — verified equal on every candidate pair at all
    // three SFs (221k pairs, 0 disagreements) after pinning boost-at->=0.7
    "jw_name_pairs" ->
      s"""WITH k AS (
        |  SELECT p_partkey, lower(p_name) AS nm,
        |         row_number() OVER (ORDER BY lower(p_name), p_partkey) AS rn
        |  FROM part)
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |       CAST(floor(jaro_winkler_similarity(a.nm, b.nm) * 1000000.0
        |                  + 0.5) AS BIGINT) AS jw_e6
        |FROM k a JOIN k b ON b.rn - a.rn BETWEEN 1 AND $JwWindow
        |WHERE CAST(floor(jaro_winkler_similarity(a.nm, b.nm) * 1000000.0
        |                 + 0.5) AS BIGINT) >= $JwThreshold""".stripMargin,

    "sorted_neighborhood_pairs" ->
      s"""WITH k AS (
        |  SELECT doc_id, substr(coalesce(lower(text), ''), 1, $SnmKeyLen) AS snm_key,
        |         row_number() OVER (ORDER BY substr(coalesce(lower(text), ''), 1, $SnmKeyLen),
        |                            doc_id) AS rn
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(b.rn - a.rn AS BIGINT) AS rank_dist,
        |       CAST(CASE WHEN substr(a.snm_key, 1, $SnmBlockLen) =
        |                      substr(b.snm_key, 1, $SnmBlockLen)
        |                 THEN 1 ELSE 0 END AS BIGINT) AS block_match
        |FROM k a JOIN k b ON b.rn - a.rn BETWEEN 1 AND $SnmWindow""".stripMargin,

    "basket_triples" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |tot AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_baskets FROM b)
        |SELECT x.brand AS b1, y.brand AS b2, z.brand AS b3,
        |       CAST(count(*) AS BIGINT) AS n_orders
        |FROM b x JOIN b y ON x.okey = y.okey AND x.brand < y.brand
        |         JOIN b z ON y.okey = z.okey AND y.brand < z.brand
        |CROSS JOIN tot
        |GROUP BY 1, 2, 3, tot.n_baskets
        |HAVING CAST(count(*) AS BIGINT) * 1000 >= tot.n_baskets * 3""".stripMargin,

    "basket_lift_recs" ->
      s"""WITH b AS (
        |  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |m AS (SELECT brand, CAST(count(*) AS BIGINT) AS n_a FROM b GROUP BY 1),
        |t AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM b),
        |p AS (
        |  SELECT x.brand AS brand, y.brand AS rec_brand,
        |         CAST(count(*) AS BIGINT) AS n_ab
        |  FROM b x JOIN b y ON x.okey = y.okey AND x.brand <> y.brand
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT p.brand, p.rec_brand, p.n_ab,
        |         CAST(CAST(p.n_ab AS HUGEINT) * 1000000 * t.n_orders
        |              // (CAST(ma.n_a AS HUGEINT) * mb.n_a) AS BIGINT) AS lift_e6
        |  FROM p JOIN m ma ON p.brand = ma.brand
        |         JOIN m mb ON p.rec_brand = mb.brand, t)
        |SELECT brand, rec_brand, n_ab, lift_e6, rnk FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY brand
        |    ORDER BY lift_e6 DESC, n_ab DESC, rec_brand) AS BIGINT) AS rnk
        |  FROM sc) WHERE rnk <= $RecTopK""".stripMargin,

    "cuped_adjusted" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |bd AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |pu AS (
        |  SELECT user_id,
        |    CAST(coalesce(sum(CASE WHEN us < (SELECT mid FROM bd) THEN cents END),
        |         0) AS HUGEINT) AS pre,
        |    CAST(coalesce(sum(CASE WHEN us >= (SELECT mid FROM bd) THEN cents END),
        |         0) AS HUGEINT) AS post
        |  FROM ev GROUP BY 1),
        |st AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(pre) AS sx, sum(post) AS sy,
        |         sum(pre*pre) AS sxx, sum(post*post) AS syy, sum(pre*post) AS sxy
        |  FROM pu)
        |SELECT CAST(n AS BIGINT) AS n_users,
        |  CAST((CASE WHEN n*sxy - sx*sy < 0 THEN -1 ELSE 1 END) *
        |       (abs(n*sxy - sx*sy) * 1000000 // nullif(n*sxx - sx*sx, 0))
        |    AS BIGINT) AS theta_e6,
        |  CAST((abs(n*sxy - sx*sy) * 1000 // nullif(n*sxx - sx*sx, 0)) *
        |       (abs(n*sxy - sx*sy) * 1000 // nullif(n*syy - sy*sy, 0)) AS BIGINT)
        |    AS var_reduction_e6
        |FROM st""".stripMargin,

    "decayed_popularity" ->
      s"""WITH RECURSIVE coef(age_days, coef_e6) AS (
        |  SELECT 0, CAST(1000000 AS BIGINT)
        |  UNION ALL
        |  SELECT age_days + 1, coef_e6 * $DecayK30 // 1000000
        |  FROM coef WHERE age_days < $DecayMaxAge),
        |bd AS (SELECT max(CAST(l_shipdate AS DATE)) AS maxd FROM lineitem),
        |li AS (
        |  SELECT l_partkey,
        |         date_diff('day', CAST(l_shipdate AS DATE),
        |                   (SELECT maxd FROM bd)) AS age_days,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(cents * coalesce(coef_e6, 0) // 1000000) AS BIGINT)
        |         AS decayed_cents,
        |       CAST(sum(cents) AS BIGINT) AS raw_cents
        |FROM li LEFT JOIN coef USING (age_days)
        |     JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,

    "golden_records" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |         lpad(CAST(epoch_us(ts) AS VARCHAR), 19, '0') ||
        |         lpad(CAST(event_id AS VARCHAR), 19, '0') AS ord
        |  FROM events WHERE user_id IS NOT NULL)
        |SELECT user_id, min(ts) AS first_seen, max(ts) AS last_seen,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       arg_max(event_type, ord) AS last_type,
        |       arg_max(CAST(round(value * 100) AS BIGINT),
        |               CASE WHEN value IS NOT NULL THEN ord END)
        |         AS last_value_cents
        |FROM ev GROUP BY 1""".stripMargin,

    "km_churn_curve" ->
      s"""WITH RECURSIVE bd AS (
        |  SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
        |pu AS (
        |  SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS fd,
        |         max(CAST(o_orderdate AS DATE)) AS ld
        |  FROM orders GROUP BY 1),
        |lt AS (
        |  SELECT CAST(date_diff('day', fd, ld) AS BIGINT) AS lifetime,
        |         CASE WHEN date_diff('day', ld, (SELECT maxd FROM bd))
        |                   > $KmCensorGapDays THEN 1 ELSE 0 END AS dead
        |  FROM pu),
        |pl AS (
        |  SELECT lifetime, CAST(sum(dead) AS BIGINT) AS d,
        |         CAST(sum(1 - dead) AS BIGINT) AS c
        |  FROM lt GROUP BY 1),
        |o AS (
        |  SELECT lifetime, d,
        |         CAST(sum(d + c) OVER (ORDER BY lifetime DESC
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk,
        |         CAST(row_number() OVER (ORDER BY lifetime) AS BIGINT) AS rn
        |  FROM pl),
        |km AS (
        |  SELECT rn, lifetime, n_risk, d,
        |         1000000 * (n_risk - d) // n_risk AS surv
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.rn, o.lifetime, o.n_risk, o.d,
        |         km.surv * (o.n_risk - o.d) // o.n_risk
        |  FROM km JOIN o ON o.rn = km.rn + 1)
        |SELECT lifetime AS lifetime_days, n_risk, d AS n_deaths,
        |       CAST(surv AS BIGINT) AS surv_e6
        |FROM km""".stripMargin,

    "rfm_segments" ->
      """WITH bd AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
        |cu AS (
        |  SELECT o_custkey,
        |         CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
        |              (SELECT maxd FROM bd)) AS BIGINT) AS recency_days,
        |         CAST(count(*) AS BIGINT) AS frequency,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |           AS monetary_cents
        |  FROM orders GROUP BY 1),
        |th AS (
        |  SELECT quantile_cont(recency_days, 0.25) AS r1,
        |         quantile_cont(recency_days, 0.5) AS r2,
        |         quantile_cont(recency_days, 0.75) AS r3,
        |         quantile_cont(frequency, 0.25) AS f1,
        |         quantile_cont(frequency, 0.5) AS f2,
        |         quantile_cont(frequency, 0.75) AS f3,
        |         quantile_cont(monetary_cents, 0.25) AS m1,
        |         quantile_cont(monetary_cents, 0.5) AS m2,
        |         quantile_cont(monetary_cents, 0.75) AS m3
        |  FROM cu),
        |sc AS (
        |  SELECT monetary_cents,
        |    4 - (CASE WHEN recency_days > r1 THEN 1 ELSE 0 END)
        |      - (CASE WHEN recency_days > r2 THEN 1 ELSE 0 END)
        |      - (CASE WHEN recency_days > r3 THEN 1 ELSE 0 END) AS r_score,
        |    1 + (CASE WHEN frequency > f1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN frequency > f2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN frequency > f3 THEN 1 ELSE 0 END) AS f_score,
        |    1 + (CASE WHEN monetary_cents > m1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN monetary_cents > m2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN monetary_cents > m3 THEN 1 ELSE 0 END) AS m_score
        |  FROM cu, th)
        |SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
        |FROM sc GROUP BY 1""".stripMargin,

    "ppr_brand_recs" -> pprBrandOracle,

    "ab_test_zsq" ->
      """WITH arms AS (
        |  SELECT user_id, user_id % 2 AS arm,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS converted
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |st AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n_b,
        |    CAST(coalesce(sum(CASE WHEN arm = 0 THEN converted END), 0)
        |         AS HUGEINT) AS x_a,
        |    CAST(coalesce(sum(CASE WHEN arm = 1 THEN converted END), 0)
        |         AS HUGEINT) AS x_b
        |  FROM arms)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |       CAST(x_a AS BIGINT) AS x_a, CAST(x_b AS BIGINT) AS x_b,
        |       CAST((x_a*n_b - x_b*n_a) * (x_a*n_b - x_b*n_a) * (n_a + n_b)
        |            * 1000000 // nullif(n_a * n_b * (x_a + x_b)
        |            * (n_a + n_b - x_a - x_b), 0) AS BIGINT) AS z2_e6
        |FROM st""".stripMargin,

    "vocab_coverage_curve" ->
      s"""WITH tk AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
        |       FROM tk WHERE tok <> '' GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM tf),
        |r AS (
        |  SELECT CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT)
        |           AS vocab_size,
        |         CAST(sum(n) OVER (ORDER BY n DESC, tok
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM tf)
        |SELECT vocab_size, cum_tokens,
        |       CAST(cum_tokens * 1000000 // (SELECT total FROM tot) AS BIGINT)
        |         AS coverage_e6
        |FROM r WHERE vocab_size IN (${VocabSizes.mkString(", ")})""".stripMargin,

    "event_funnel_windowed" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE user_id IS NOT NULL),
        |v AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN us END) AS t_view
        |  FROM ev GROUP BY 1),
        |c AS (
        |  SELECT ev.user_id, any_value(v.t_view) AS t_view,
        |         min(CASE WHEN ev.event_type = 'click'
        |                   AND ev.us > v.t_view
        |                   AND ev.us <= v.t_view + 3600000000
        |                  THEN ev.us END) AS t_click
        |  FROM ev JOIN v USING (user_id) GROUP BY 1),
        |p AS (
        |  SELECT ev.user_id, any_value(c.t_view) AS t_view,
        |         any_value(c.t_click) AS t_click,
        |         min(CASE WHEN ev.event_type = 'purchase'
        |                   AND ev.us > c.t_click
        |                   AND ev.us <= c.t_click + 86400000000
        |                  THEN ev.us END) AS t_buy
        |  FROM ev JOIN c USING (user_id) GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(count(t_view) AS BIGINT) AS step_view,
        |       CAST(count(t_click) AS BIGINT) AS step_click_1h,
        |       CAST(count(t_buy) AS BIGINT) AS step_buy_24h
        |FROM p""".stripMargin,

    "snm_recall_audit" ->
      s"""WITH k AS (
        |  SELECT doc_id, substr(coalesce(lower(text), ''), 1, $SnmKeyLen) AS snm_key,
        |         row_number() OVER (ORDER BY substr(coalesce(lower(text), ''), 1, $SnmKeyLen),
        |                            doc_id) AS rn
        |  FROM documents),
        |t AS (
        |  SELECT CAST(coalesce(sum(CAST(g AS HUGEINT) * (g - 1) // 2), 0)
        |              AS BIGINT) AS n_truth_pairs
        |  FROM (SELECT count(*) AS g FROM k GROUP BY snm_key)),
        |w AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_window_pairs,
        |         CAST(count(CASE WHEN a.snm_key = b.snm_key THEN 1 END)
        |              AS BIGINT) AS n_caught
        |  FROM k a JOIN k b ON b.rn - a.rn BETWEEN 1 AND $SnmWindow)
        |SELECT t.n_truth_pairs, w.n_window_pairs, w.n_caught,
        |       CAST(w.n_caught * 1000000 // nullif(t.n_truth_pairs, 0)
        |            AS BIGINT) AS recall_e6
        |FROM w, t""".stripMargin,

    "snm_multipass_pairs" ->
      s"""WITH d AS (
        |  SELECT doc_id, coalesce(lower(text), '') AS lt FROM documents),
        |k1 AS (
        |  SELECT doc_id, substr(lt, 1, $SnmKeyLen) AS key,
        |         row_number() OVER (ORDER BY substr(lt, 1, $SnmKeyLen),
        |                            doc_id) AS rn
        |  FROM d),
        |k2 AS (
        |  SELECT doc_id,
        |         substr(array_to_string(list_reverse(string_split(lt, ' ')),
        |                ' '), 1, $SnmKeyLen) AS key,
        |         row_number() OVER (ORDER BY
        |           substr(array_to_string(list_reverse(string_split(lt, ' ')),
        |                  ' '), 1, $SnmKeyLen), doc_id) AS rn
        |  FROM d),
        |u AS (
        |  SELECT least(a.doc_id, b.doc_id) AS id_a,
        |         greatest(a.doc_id, b.doc_id) AS id_b
        |  FROM k1 a JOIN k1 b ON b.rn - a.rn BETWEEN 1 AND $SnmWindow
        |  UNION ALL
        |  SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
        |  FROM k2 a JOIN k2 b ON b.rn - a.rn BETWEEN 1 AND $SnmWindow)
        |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_passes
        |FROM u GROUP BY 1, 2""".stripMargin,

    "events_unpivot" ->
      """SELECT CAST(ts AS DATE) AS date, event_type,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "nation_share_trend" ->
      """WITH b AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, n_name,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |              JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT yr, n_name, cents,
        |       CAST(CAST(cents AS HUGEINT) * 1000000
        |            // sum(CAST(cents AS HUGEINT)) OVER (PARTITION BY yr)
        |            AS BIGINT) AS share_e6
        |FROM b""".stripMargin,

    "repeat_purchase" ->
      """WITH r AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders),
        |cu AS (
        |  SELECT o_custkey, count(*) AS n,
        |         min(CASE WHEN rn = 1 THEN d END) AS d1,
        |         min(CASE WHEN rn = 2 THEN d END) AS d2
        |  FROM r WHERE rn <= 2 GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(count(CASE WHEN n >= 2 THEN 1 END) AS BIGINT) AS n_repeat,
        |       CAST(count(CASE WHEN n >= 2 THEN 1 END) * 1000000
        |            // nullif(count(*), 0) AS BIGINT) AS repeat_rate_e6,
        |       CAST(quantile_cont(date_diff('day', d1, d2), 0.5) * 4 AS BIGINT)
        |         AS median_days_to_second_x4
        |FROM cu""".stripMargin,

    "filter_overlap_venn" ->
      s"""WITH q AS ($docQualityOracle),
        |r AS ($docRepetitionOracle),
        |dd AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY md5(text))
        |              THEN 1 ELSE 0 END AS f_dup
        |  FROM documents)
        |SELECT CAST(CASE WHEN q.quality_e6 < 800000 THEN 1 ELSE 0 END
        |            AS BIGINT) AS f_lowq,
        |       CAST(CASE WHEN r.rep3_e6 > 10000 THEN 1 ELSE 0 END AS BIGINT)
        |         AS f_rep,
        |       CAST(dd.f_dup AS BIGINT) AS f_dup,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM q JOIN r USING (doc_id) JOIN dd USING (doc_id)
        |GROUP BY 1, 2, 3""".stripMargin,

    "ship_latency_quantiles" ->
      """WITH l AS (
        |  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
        |           AS order_m,
        |         CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |              CAST(l_shipdate AS DATE)) AS BIGINT) AS lat
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT order_m, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(quantile_cont(lat, 0.25) * 4 AS BIGINT) AS p25_x4,
        |       CAST(quantile_cont(lat, 0.5) * 4 AS BIGINT) AS p50_x4,
        |       CAST(quantile_cont(lat, 0.75) * 4 AS BIGINT) AS p75_x4
        |FROM l GROUP BY 1""".stripMargin,

    "engagement_migration" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us
        |  FROM events WHERE user_id IS NOT NULL),
        |bd AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |h AS (
        |  SELECT user_id,
        |         sum(CASE WHEN us < (SELECT mid FROM bd) THEN 1 ELSE 0 END)
        |           AS c1,
        |         sum(CASE WHEN us >= (SELECT mid FROM bd) THEN 1 ELSE 0 END)
        |           AS c2
        |  FROM ev GROUP BY 1),
        |t AS (
        |  SELECT quantile_cont(c1, 0.25) AS a1, quantile_cont(c1, 0.5) AS a2,
        |         quantile_cont(c1, 0.75) AS a3,
        |         quantile_cont(c2, 0.25) AS b1, quantile_cont(c2, 0.5) AS b2,
        |         quantile_cont(c2, 0.75) AS b3
        |  FROM h)
        |SELECT CAST(1 + (CASE WHEN c1 > a1 THEN 1 ELSE 0 END)
        |              + (CASE WHEN c1 > a2 THEN 1 ELSE 0 END)
        |              + (CASE WHEN c1 > a3 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS q_before,
        |       CAST(1 + (CASE WHEN c2 > b1 THEN 1 ELSE 0 END)
        |              + (CASE WHEN c2 > b2 THEN 1 ELSE 0 END)
        |              + (CASE WHEN c2 > b3 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS q_after,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM h, t GROUP BY 1, 2""".stripMargin,

    "knn_label_accuracy" ->
      s"""WITH pflat AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(UNNEST(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |pnorms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm
        |           FROM pflat GROUP BY vec_id),
        |panel AS (SELECT vec_id FROM embeddings
        |          ORDER BY ${dh("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC
        |          LIMIT $RecallPanel),
        |edots AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |         sum(a.x * b.x) AS dp
        |  FROM pflat a JOIN pflat b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id IN (SELECT vec_id FROM panel)
        |  GROUP BY a.vec_id, b.vec_id),
        |escored AS (
        |  SELECT query_id, neighbor_id,
        |         round(dp / (na.nrm * nb.nrm), 6) AS cosine_sim
        |  FROM edots JOIN pnorms na ON query_id = na.vec_id
        |             JOIN pnorms nb ON neighbor_id = nb.vec_id),
        |er AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |              ORDER BY cosine_sim DESC, neighbor_id ASC) AS rn
        |       FROM escored),
        |nn AS (SELECT query_id, neighbor_id FROM er WHERE rn = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_panel,
        |       CAST(count(CASE WHEN ql.label = nl.label THEN 1 END) AS BIGINT)
        |         AS n_agree,
        |       CAST(count(CASE WHEN ql.label = nl.label THEN 1 END) * 1000000
        |            // nullif(count(*), 0) AS BIGINT) AS accuracy_e6
        |FROM nn JOIN embeddings ql ON nn.query_id = ql.vec_id
        |        JOIN embeddings nl ON nn.neighbor_id = nl.vec_id""".stripMargin,

    "cluster_silhouette" ->
      """WITH flat AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS pos,
        |         CAST(UNNEST(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |cent AS (
        |  SELECT label AS c_label, pos, avg(x) AS m
        |  FROM flat GROUP BY 1, 2),
        |d2 AS (
        |  SELECT f.vec_id, f.label, c.c_label,
        |         sum((f.x - c.m) * (f.x - c.m)) AS d2
        |  FROM flat f JOIN cent c USING (pos)
        |  GROUP BY 1, 2, 3),
        |ab AS (
        |  SELECT vec_id, label,
        |         min(CASE WHEN c_label = label THEN d2 END) AS a,
        |         min(CASE WHEN c_label <> label THEN d2 END) AS b
        |  FROM d2 GROUP BY 1, 2),
        |sil AS (
        |  SELECT label,
        |         CASE WHEN greatest(a, b) = 0 THEN 0
        |              ELSE (b - a) / greatest(a, b) END AS sil
        |  FROM ab)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
        |       round(avg(sil), 4) AS mean_silhouette
        |FROM sil GROUP BY 1""".stripMargin,

    "priority_effect_eta2" ->
      """WITH c AS (
        |  SELECT o_orderpriority,
        |         CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)
        |           AS c
        |  FROM orders),
        |g AS (SELECT o_orderpriority, CAST(count(*) AS HUGEINT) AS ng,
        |             sum(c) AS sg, sum(c * c) AS sg2
        |      FROM c GROUP BY 1),
        |f AS (SELECT sum(ng) AS n, sum(sg) AS st, sum(sg2) AS sxx,
        |             sum(sg * sg // ng) AS ssb
        |      FROM g)
        |SELECT CAST(n AS BIGINT) AS n_orders,
        |       CAST((n * ssb - st * st) * 1000000
        |            // nullif(n * sxx - st * st, 0) AS BIGINT) AS eta2_e6
        |FROM f""".stripMargin,

    "weekday_chi2" ->
      """WITH dow AS (
        |  SELECT dayofweek(CAST(ts AS DATE)) AS dow,
        |         CAST(count(*) AS HUGEINT) AS o
        |  FROM events GROUP BY 1)
        |SELECT CAST(sum(o) AS BIGINT) AS n_events,
        |       CAST(count(*) AS BIGINT) AS n_cells,
        |       CAST((7 * sum(o * o) - sum(o) * sum(o)) * 1000000
        |            // nullif(sum(o), 0) AS BIGINT) AS chi2_e6
        |FROM dow""".stripMargin,

    "dedup_policy_diff" ->
      """WITH g AS (
        |  SELECT md5(text) AS k, CAST(count(*) AS BIGINT) AS sz,
        |         min(doc_id) AS keep_first,
        |         arg_max(doc_id,
        |                 lpad(CAST(n_chars AS VARCHAR), 19, '0') ||
        |                 lpad(CAST(doc_id AS VARCHAR), 19, '0'))
        |           AS keep_longest
        |  FROM documents GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(count(CASE WHEN sz > 1 THEN 1 END) AS BIGINT)
        |         AS n_dup_groups,
        |       CAST(count(CASE WHEN keep_first <> keep_longest THEN 1 END)
        |            AS BIGINT) AS n_disagree
        |FROM g""".stripMargin,

    "dup_cluster_sizes" -> s"""WITH cl AS ($dedupClustersOracle),
      |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
      |       FROM cl GROUP BY 1)
      |SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
      |FROM cs GROUP BY 1""".stripMargin,

    "seasonal_forecast_mae" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_days_scored,
        |       CAST(sum(abs(a.c - b.c)) AS BIGINT) AS abs_err_cents,
        |       CAST(sum(abs(a.c - b.c)) // nullif(count(*), 0) AS BIGINT)
        |         AS mae_cents
        |FROM daily a JOIN daily b ON a.d = b.d + 7""".stripMargin,

    "value_cusum_change" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(c) AS BIGINT) AS total FROM daily),
        |r AS (
        |  SELECT d, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS idx,
        |         CAST(sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
        |              AS BIGINT) AS cum
        |  FROM daily)
        |SELECT d AS change_d,
        |       CAST(abs(cum * t.n - idx * t.total) AS BIGINT) AS dev_scaled
        |FROM r, t
        |ORDER BY dev_scaled DESC, change_d LIMIT 1""".stripMargin,

    "discount_elasticity" ->
      """WITH li AS (
        |  SELECT p_brand,
        |         CAST(CAST(round(l_discount * 100) AS BIGINT) AS HUGEINT) AS x,
        |         CAST(CAST(round(l_quantity) AS BIGINT) AS HUGEINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |st AS (
        |  SELECT p_brand, CAST(count(*) AS HUGEINT) AS n,
        |         sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
        |         sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM li GROUP BY 1)
        |SELECT p_brand, CAST(n AS BIGINT) AS n_lines,
        |       CAST((CASE WHEN n*sxy - sx*sy < 0 THEN -1 ELSE 1 END) *
        |            ((n*sxy - sx*sy) * (n*sxy - sx*sy) * 1000000
        |             // nullif((n*sxx - sx*sx) * (n*syy - sy*sy), 0))
        |            AS BIGINT) AS corr2_e6
        |FROM st""".stripMargin,

    "attribution_position" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        |  FROM events WHERE user_id IS NOT NULL),
        |sg AS (
        |  SELECT *, coalesce(sum(is_p) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
        |  FROM ev),
        |tch AS (
        |  SELECT user_id, event_type, seg,
        |         row_number() OVER (PARTITION BY user_id, seg
        |                            ORDER BY ts, event_id) AS rn,
        |         count(*) OVER (PARTITION BY user_id, seg) AS n
        |  FROM sg WHERE is_p = 0),
        |pur AS (SELECT DISTINCT user_id, seg FROM sg WHERE is_p = 1)
        |SELECT t.event_type AS touch_type,
        |       CAST(count(*) AS BIGINT) AS n_touches,
        |       CAST(sum(CASE WHEN n = 1 THEN 1000000
        |                     WHEN n = 2 THEN 500000
        |                     WHEN rn = 1 THEN 400000
        |                          + (200000 - (n - 2) * (200000 // (n - 2)))
        |                     WHEN rn = n THEN 400000
        |                     ELSE 200000 // (n - 2) END) AS BIGINT)
        |         AS credit_e6_sum
        |FROM tch t JOIN pur USING (user_id, seg)
        |GROUP BY 1""".stripMargin,

    "user_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events WHERE user_id IS NOT NULL),
        |isl AS (
        |  SELECT user_id,
        |         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
        |                  AS INTEGER) AS island
        |  FROM days),
        |st AS (SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
        |       FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(max(len) AS BIGINT) AS max_streak,
        |       CAST(count(*) AS BIGINT) AS n_streaks,
        |       CAST(sum(len) AS BIGINT) AS active_days
        |FROM st GROUP BY 1""".stripMargin,

    "running_distinct_users" ->
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS first_d
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |n AS (SELECT first_d, CAST(count(*) AS BIGINT) AS n_new
        |      FROM f GROUP BY 1)
        |SELECT first_d, n_new,
        |       CAST(sum(n_new) OVER (ORDER BY first_d
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum_distinct
        |FROM n""".stripMargin,

    "gini_concentration" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT cents,
        |         CAST(row_number() OVER (ORDER BY cents, l_partkey) AS BIGINT)
        |           AS rnk
        |  FROM rev),
        |t AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |             CAST(sum(cents) AS HUGEINT) AS sx FROM rev)
        |SELECT CAST(t.n AS BIGINT) AS n_parts,
        |       CAST(t.sx AS BIGINT) AS total_cents,
        |       CAST(sum((CAST(r.rnk AS HUGEINT) * 2 - t.n - 1)
        |            * CAST(r.cents AS HUGEINT)) * 1000000 // (t.n * t.sx)
        |            AS BIGINT) AS gini_e6
        |FROM r, t GROUP BY t.n, t.sx""".stripMargin,

    "cohort_ltv_curve" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |         year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |fc AS (SELECT o_custkey, min(m) AS cohort_m FROM o GROUP BY 1),
        |curve AS (
        |  SELECT fc.cohort_m, o.m - fc.cohort_m AS age_months,
        |         CAST(count(*) AS BIGINT) AS n_orders,
        |         CAST(sum(o.cents) AS BIGINT) AS rev_cents
        |  FROM o JOIN fc USING (o_custkey)
        |  GROUP BY 1, 2)
        |SELECT CAST(cohort_m AS BIGINT) AS cohort_m,
        |       CAST(age_months AS BIGINT) AS age_months,
        |       n_orders, rev_cents,
        |       CAST(sum(rev_cents) OVER (PARTITION BY cohort_m
        |            ORDER BY age_months ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |         AS cum_rev_cents
        |FROM curve""".stripMargin,

    "ts_similarity_topk" ->
      s"""WITH series AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |bd AS (SELECT CAST(max(h) - min(h) + 1 AS HUGEINT) AS t_slots
        |       FROM series),
        |m AS (SELECT user_id, CAST(sum(c) AS HUGEINT) AS sx,
        |             CAST(sum(c * c) AS HUGEINT) AS sxx
        |      FROM series GROUP BY 1),
        |panel AS (
        |  SELECT user_id AS qu FROM m
        |  ORDER BY ${dh("CAST(user_id AS VARCHAR)")}, user_id LIMIT $TsPanel),
        |qs AS (SELECT p.qu, s.h, s.c AS qc
        |       FROM series s JOIN panel p ON s.user_id = p.qu),
        |pairs AS (
        |  SELECT q.qu, s.user_id, CAST(sum(q.qc * s.c) AS HUGEINT) AS sxy
        |  FROM series s JOIN qs q ON s.h = q.h AND s.user_id <> q.qu
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT p.qu, p.user_id,
        |         (SELECT t_slots FROM bd) * p.sxy - qm.sx * um.sx AS num,
        |         (SELECT t_slots FROM bd) * qm.sxx - qm.sx * qm.sx AS vq,
        |         (SELECT t_slots FROM bd) * um.sxx - um.sx * um.sx AS vu
        |  FROM pairs p JOIN m qm ON p.qu = qm.user_id
        |               JOIN m um ON p.user_id = um.user_id),
        |scored AS (
        |  SELECT qu, user_id,
        |         CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
        |              (num * num * 1000000 // nullif(vq * vu, 0)) AS BIGINT)
        |           AS corr2_e6
        |  FROM sc)
        |SELECT qu, user_id, corr2_e6, rnk FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY qu
        |    ORDER BY corr2_e6 DESC, user_id) AS BIGINT) AS rnk
        |  FROM scored WHERE corr2_e6 IS NOT NULL)
        |WHERE rnk <= $TsK""".stripMargin,
  )
}
