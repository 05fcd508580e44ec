package graft

/** Scaled-tier DuckDB twin overrides (VERDICT r13 #3) — resource-
  * feasible rewrites swapped in by [[Verify]] only when
  * `SPARK_GRAFT_SCALED_TWINS=1` (the 10x/100x close checks). The
  * graded sf0.01 gate always runs the independent default twins; these
  * exist so a 100x check fits a normal CHECK_MEM cap instead of
  * monopolizing the box at ~150 GB. Each override was validated equal
  * to its default twin at sf0.1 and 10x, and equal to the r13 engine
  * dumps at 100x, before landing (r14). Exactness arguments live at
  * the [[QueryDef.scaledOracle]] call sites in [[SparkEntry.registry]].
  */
object ScaledTwins {

  /** Shared BM25 lexical core: dedup contraction + bigram postings +
    * rational-idf scoring, with (a) AS MATERIALIZED on every fragment
    * referenced more than once (DuckDB inlines plain CTEs per
    * reference) and (b) the bigram stream filtered to query-doc tokens
    * BEFORE tf — a token-level filter, so tf/df/cap/impact-window stay
    * exact for every token that can reach the scoring join. `cut` is
    * the group-mass top-k threshold; the caller splices the k. */
  private def lexCore(cut: Int): String =
    s"""m AS MATERIALIZED (SELECT doc_id, md5(text) AS ch FROM documents),
       |reps AS MATERIALIZED (SELECT ch, min(doc_id) AS rep, count(*) AS gsz
       |  FROM m GROUP BY 1),
       |members AS MATERIALIZED (SELECT r.rep, m.doc_id FROM m JOIN reps r USING (ch)),
       |gs AS (SELECT rep AS doc_id, gsz FROM reps),
       |rd AS (SELECT d.doc_id, d.text FROM documents d
       |  JOIN reps r ON d.doc_id = r.rep),
       |t AS (SELECT doc_id, string_split(text,' ') AS toks FROM rd),
       |dl AS MATERIALIZED (SELECT doc_id,
       |    CAST(CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END
       |      AS BIGINT) AS dl
       |  FROM t),
       |c AS MATERIALIZED (SELECT CAST(sum(gs.gsz) AS BIGINT) AS n,
       |             CAST(sum(gs.gsz * dl.dl) AS BIGINT) AS s
       |  FROM dl JOIN gs USING (doc_id)),
       |qdocs AS MATERIALIZED (SELECT doc_id AS q_id, rep AS qrep FROM members
       |  WHERE doc_id % 50 = 0 AND doc_id < 20000000),
       |qtoks AS MATERIALIZED (
       |  SELECT DISTINCT unnest(list_transform(range(1, len(toks)),
       |      i -> toks[i] || ' ' || toks[i+1])) AS tok
       |  FROM t JOIN (SELECT DISTINCT qrep FROM qdocs) q ON t.doc_id = q.qrep
       |  WHERE len(toks) >= 2),
       |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS tok
       |  FROM t WHERE len(toks) >= 2),
       |gq AS (SELECT g.doc_id, g.tok FROM g JOIN qtoks USING (tok)),
       |tf AS MATERIALIZED (SELECT doc_id, tok, count(*) AS tf FROM gq GROUP BY 1, 2),
       |dft AS MATERIALIZED (SELECT tok, CAST(sum(gs.gsz) AS BIGINT) AS df
       |  FROM tf JOIN gs USING (doc_id) GROUP BY 1),
       |kept0 AS (
       |  SELECT tf.doc_id, tf.tok, tf.tf, dft.df
       |  FROM tf JOIN dft USING (tok) CROSS JOIN c
       |  WHERE dft.df <= CAST(c.n AS DOUBLE) * 0.4),
       |kept AS MATERIALIZED (
       |  SELECT doc_id, tok, tf, df FROM (
       |    SELECT k.*, row_number() OVER (PARTITION BY tok
       |      ORDER BY tf DESC, doc_id) AS pr
       |    FROM kept0 k)
       |  WHERE pr <= 1000),
       |qpost AS (
       |  SELECT DISTINCT qd.qrep, k.tok
       |  FROM (SELECT DISTINCT qrep FROM qdocs) qd
       |  JOIN kept k ON k.doc_id = qd.qrep),
       |terms AS (
       |  SELECT q.qrep, k.doc_id AS crep,
       |    CAST(c.s AS DOUBLE) AS sd, CAST(k.tf AS DOUBLE) AS tfd,
       |    CAST(c.n AS DOUBLE) AS nd, CAST(k.df AS DOUBLE) AS dfd,
       |    CAST(d.dl AS DOUBLE) AS dld
       |  FROM qpost q JOIN kept k USING (tok)
       |  JOIN dl d ON d.doc_id = k.doc_id
       |  CROSS JOIN c),
       |scoredc AS MATERIALIZED (
       |  SELECT qrep, crep,
       |    CAST(SUM(CAST(ROUND((22.0 * sd * tfd * (2.0*nd - 2.0*dfd + 1.0) * 1000000.0) / ((10.0*sd*tfd + 3.0*sd + 9.0*dld*nd) * (2.0*dfd + 1.0))) AS BIGINT)) AS BIGINT) AS score_u
       |  FROM terms GROUP BY 1, 2),
       |bys AS (
       |  SELECT sc.qrep, sc.score_u, CAST(sum(g.gsz) AS BIGINT) AS msz
       |  FROM scoredc sc JOIN gs g ON g.doc_id = sc.crep
       |  GROUP BY 1, 2),
       |cut AS (
       |  SELECT qrep, score_u FROM (
       |    SELECT qrep, score_u,
       |      COALESCE(SUM(msz) OVER (PARTITION BY qrep ORDER BY score_u DESC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS higher
       |    FROM bys)
       |  WHERE higher < $cut),
       |ex AS (
       |  SELECT qd.q_id, mem.doc_id, sc.score_u
       |  FROM qdocs qd
       |  JOIN scoredc sc ON sc.qrep = qd.qrep
       |  JOIN cut ON cut.qrep = sc.qrep AND cut.score_u = sc.score_u
       |  JOIN members mem ON mem.rep = sc.crep
       |  WHERE mem.doc_id <> qd.q_id)""".stripMargin

  val bm25Override: String =
    s"""WITH ${lexCore(6)}
       |SELECT q_id, doc_id, score_u, rnk FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY score_u DESC, doc_id) AS BIGINT) AS rnk
       |  FROM ex)
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  val rrfFusionOverride: String =
    s"""WITH ${lexCore(11)},
       |lex AS (
       |  SELECT q_id, doc_id AS item_id, rnk FROM (
       |    SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY score_u DESC, doc_id) AS BIGINT) AS rnk
       |    FROM ex)
       |  WHERE rnk <= 10),
       |v AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> round(CAST(x AS DOUBLE)*1000000.0)) AS dvec
       |  FROM embeddings),
       |nv AS MATERIALIZED (
       |  SELECT vec_id, dvec, list_dot_product(dvec, dvec) AS norm2 FROM v),
       |qv AS MATERIALIZED (SELECT vec_id AS q_id, dvec AS q_dvec, norm2 AS q_norm2
       |  FROM nv WHERE vec_id % 50 = 0 AND vec_id < 20000000),
       |scv AS (
       |  SELECT qv.q_id, nv.vec_id,
       |    list_dot_product(qv.q_dvec, nv.dvec)
       |      / (sqrt(qv.q_norm2) * sqrt(nv.norm2)) AS cos
       |  FROM nv JOIN qv ON nv.vec_id <> qv.q_id),
       |sem AS (
       |  SELECT q_id, vec_id AS item_id, rnk FROM (
       |    SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
       |    FROM scv)
       |  WHERE rnk <= 10),
       |u AS (SELECT * FROM lex UNION ALL SELECT * FROM sem),
       |f AS (
       |  SELECT q_id, item_id,
       |    CAST(SUM(1000000 // (60 + rnk)) AS BIGINT) AS rrf_u,
       |    CAST(COUNT(*) AS BIGINT) AS n_lists
       |  FROM u GROUP BY 1, 2)
       |SELECT q_id, item_id, rrf_u, n_lists, rnk FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY rrf_u DESC, item_id) AS BIGINT) AS rnk
       |  FROM f)
       |WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin

  val attributionOverride: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      |  FROM events),
      |c AS (
      |  SELECT user_id, ts_us AS conv_ts, event_id AS conv_id
      |  FROM e WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id, ts_us AS touch_ts, event_id AS touch_id,
      |    event_type AS channel
      |  FROM e WHERE event_type IN ('view', 'click')),
      |p AS (
      |  SELECT t.channel, t.touch_id, t.touch_ts, c.conv_id
      |  FROM t JOIN c ON t.user_id = c.user_id
      |   AND t.touch_ts < c.conv_ts
      |   AND t.touch_ts >= c.conv_ts - 604800000000),
      |pc AS MATERIALIZED (
      |  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_touch,
      |    max_by(channel,
      |      CAST(touch_ts AS HUGEINT) * 9223372036854775808 + touch_id)
      |      AS last_channel
      |  FROM p GROUP BY 1),
      |a AS MATERIALIZED (
      |  SELECT channel, conv_id, CAST(count(*) AS BIGINT) AS n_pairs
      |  FROM p GROUP BY 1, 2)
      |SELECT a.channel,
      |  CAST(sum(a.n_pairs) AS BIGINT) AS n_touchpoints,
      |  CAST(count(*) AS BIGINT) AS n_conversions,
      |  CAST(sum(a.n_pairs * (1000000 // pc.n_touch)) AS BIGINT)
      |    AS linear_credit_ppm,
      |  CAST(sum(CASE WHEN pc.last_channel = a.channel THEN 1 ELSE 0 END)
      |    AS BIGINT) AS last_touch_convs
      |FROM a JOIN pc USING (conv_id)
      |GROUP BY 1 ORDER BY a.channel""".stripMargin
}
