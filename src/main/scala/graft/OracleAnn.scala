package graft

/** DuckDB oracle SQL for the LSH/ANN family — exact cross-engine
  * reproductions of the hyperplane-bucket pipeline:
  * scala.util.hashing.MurmurHash3.stringHash("p:d", 7919) as a UBIGINT
  * mod-2^32 fold (pinned end to end by the oracle checks of
  * `dd_minhash_pairs`, `sim_ann_lsh` and `dd_embed_lsh`), plane weights
  * hash/Int.MaxValue, bucket bits from double-precision dot signs (DuckDB
  * list_sum matches the kernel's ascending-index IEEE order — all 500
  * sf0.01 buckets verified identical), then the cosine/top-k panel the
  * already-oracled sim_cosine_topk uses. Split out of SparkEntry for
  * readability; merged into `SparkEntry.oracleSql`. */
object OracleAnn {
  private val base: Map[String, String] = Map(
    "sim_ann_lsh" ->
      """WITH 
        |pd AS (SELECT p, d, CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR) AS s
        |  FROM generate_series(0, 11) t(p), generate_series(0, 63) u(d)),
        |cs AS (SELECT p, d, s, length(s) AS n,
        |  [ (unicode(s[2*j-1])::UBIGINT * 65536 + unicode(s[2*j])::UBIGINT)
        |    for j in generate_series(1, length(s)//2) ] AS data,
        |  CASE WHEN length(s) % 2 = 1 THEN unicode(s[length(s)])::UBIGINT ELSE NULL END AS tail
        | FROM pd),
        |mixed AS (SELECT p, d, n, tail,
        |  list_reduce(list_prepend(7919::UBIGINT, data), (h, k) -> (((((((xor(h, (((((((((k * 3432918353::UBIGINT) % 4294967296)) * 32768::UBIGINT) % 4294967296 + ((((k * 3432918353::UBIGINT) % 4294967296)) // 131072::UBIGINT))) % 4294967296) * 461845907::UBIGINT) % 4294967296))) * 8192::UBIGINT) % 4294967296 + ((xor(h, (((((((((k * 3432918353::UBIGINT) % 4294967296)) * 32768::UBIGINT) % 4294967296 + ((((k * 3432918353::UBIGINT) % 4294967296)) // 131072::UBIGINT))) % 4294967296) * 461845907::UBIGINT) % 4294967296))) // 524288::UBIGINT))) % 4294967296) * 5 + 3864292196::UBIGINT) % 4294967296)) AS h0 FROM cs),
        |tlx AS (SELECT p, d, n, CASE WHEN tail IS NULL THEN h0 ELSE xor(h0, (((((((((tail * 3432918353::UBIGINT) % 4294967296)) * 32768::UBIGINT) % 4294967296 + ((((tail * 3432918353::UBIGINT) % 4294967296)) // 131072::UBIGINT))) % 4294967296) * 461845907::UBIGINT) % 4294967296)) END AS hh FROM mixed),
        |f3x AS (SELECT p, d, ((xor(h2, h2 // 8192) * 3266489909::UBIGINT) % 4294967296) AS h3 FROM (
        |  SELECT p, d, ((xor(h1, h1 // 65536) * 2246822507::UBIGINT) % 4294967296) AS h2 FROM (
        |   SELECT p, d, xor(hh, n::UBIGINT) AS h1 FROM tlx))),
        |w AS (SELECT p, d,
        |  CAST(CASE WHEN xor(h3, h3 // 65536) >= 2147483648::UBIGINT
        |    THEN xor(h3, h3 // 65536)::HUGEINT - 4294967296 ELSE xor(h3, h3 // 65536)::HUGEINT END AS BIGINT)
        |    / 2147483647.0 AS wt FROM f3x),
        |wl AS (SELECT p, list(wt ORDER BY d) AS ws FROM w GROUP BY p),
        |emb AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding FROM embeddings),
        |dots AS (SELECT e.vec_id, wl.p,
        |  list_sum([wl.ws[d] * CAST(e.embedding[d] AS DOUBLE)
        |            for d in generate_series(1, least(len(e.embedding), 64))]) AS dot
        | FROM emb e, wl),
        |bk AS (SELECT vec_id, CAST(sum(CASE WHEN dot >= 0 THEN CAST(2 AS BIGINT) ** p ELSE 0 END) AS INT) AS bucket
        | FROM dots GROUP BY vec_id),
        |eb AS (SELECT e.vec_id, e.embedding, b.bucket FROM emb e JOIN bk b USING (vec_id)),
        |q AS (SELECT vec_id AS query_id, embedding AS qe, bucket AS qb FROM eb WHERE vec_id < 8),
        |masks AS (SELECT DISTINCT m FROM (
        |  SELECT 0 AS m
        |  UNION ALL SELECT (1 << i) FROM generate_series(0, 11) t(i)
        |  UNION ALL SELECT (1 << i) | (1 << j)
        |    FROM generate_series(0, 11) t(i), generate_series(0, 11) u(j) WHERE j > i)),
        |cands AS (SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qe, e.embedding) AS sim
        |  FROM q, masks m, eb e
        |  WHERE e.bucket = xor(q.qb, m.m) AND e.vec_id != q.query_id),
        |rk AS (SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM cands)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
        |  floor(CAST(sim AS DOUBLE) * 10000 + 0.5) / 10000 AS sim
        |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "dd_embed_lsh" ->
      """WITH 
        |pd AS (SELECT p, d, CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR) AS s
        |  FROM generate_series(0, 7) t(p), generate_series(0, 63) u(d)),
        |cs AS (SELECT p, d, s, length(s) AS n,
        |  [ (unicode(s[2*j-1])::UBIGINT * 65536 + unicode(s[2*j])::UBIGINT)
        |    for j in generate_series(1, length(s)//2) ] AS data,
        |  CASE WHEN length(s) % 2 = 1 THEN unicode(s[length(s)])::UBIGINT ELSE NULL END AS tail
        | FROM pd),
        |mixed AS (SELECT p, d, n, tail,
        |  list_reduce(list_prepend(7919::UBIGINT, data), (h, k) -> (((((((xor(h, (((((((((k * 3432918353::UBIGINT) % 4294967296)) * 32768::UBIGINT) % 4294967296 + ((((k * 3432918353::UBIGINT) % 4294967296)) // 131072::UBIGINT))) % 4294967296) * 461845907::UBIGINT) % 4294967296))) * 8192::UBIGINT) % 4294967296 + ((xor(h, (((((((((k * 3432918353::UBIGINT) % 4294967296)) * 32768::UBIGINT) % 4294967296 + ((((k * 3432918353::UBIGINT) % 4294967296)) // 131072::UBIGINT))) % 4294967296) * 461845907::UBIGINT) % 4294967296))) // 524288::UBIGINT))) % 4294967296) * 5 + 3864292196::UBIGINT) % 4294967296)) AS h0 FROM cs),
        |tlx AS (SELECT p, d, n, CASE WHEN tail IS NULL THEN h0 ELSE xor(h0, (((((((((tail * 3432918353::UBIGINT) % 4294967296)) * 32768::UBIGINT) % 4294967296 + ((((tail * 3432918353::UBIGINT) % 4294967296)) // 131072::UBIGINT))) % 4294967296) * 461845907::UBIGINT) % 4294967296)) END AS hh FROM mixed),
        |f3x AS (SELECT p, d, ((xor(h2, h2 // 8192) * 3266489909::UBIGINT) % 4294967296) AS h3 FROM (
        |  SELECT p, d, ((xor(h1, h1 // 65536) * 2246822507::UBIGINT) % 4294967296) AS h2 FROM (
        |   SELECT p, d, xor(hh, n::UBIGINT) AS h1 FROM tlx))),
        |w AS (SELECT p, d,
        |  CAST(CASE WHEN xor(h3, h3 // 65536) >= 2147483648::UBIGINT
        |    THEN xor(h3, h3 // 65536)::HUGEINT - 4294967296 ELSE xor(h3, h3 // 65536)::HUGEINT END AS BIGINT)
        |    / 2147483647.0 AS wt FROM f3x),
        |wl AS (SELECT p, list(wt ORDER BY d) AS ws FROM w GROUP BY p),
        |emb AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding FROM embeddings),
        |dots AS (SELECT e.vec_id, wl.p,
        |  list_sum([wl.ws[d] * CAST(e.embedding[d] AS DOUBLE)
        |            for d in generate_series(1, least(len(e.embedding), 64))]) AS dot
        | FROM emb e, wl),
        |bk AS (SELECT vec_id, CAST(sum(CASE WHEN dot >= 0 THEN CAST(2 AS BIGINT) ** p ELSE 0 END) AS INT) AS bucket
        | FROM dots GROUP BY vec_id),
        |eb AS (SELECT e.vec_id, e.embedding, b.bucket FROM emb e JOIN bk b USING (vec_id))
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  floor(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE) * 10000 + 0.5) / 10000 AS sim
        |FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE floor(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE) * 10000 + 0.5) / 10000 >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    "mm_feature_ann" ->
      """WITH x AS (SELECT CAST(doc_id AS BIGINT) AS vec_id, hex(encode(text)) AS hx FROM documents),
        |by AS (SELECT vec_id,
        |  [ ((strpos('0123456789ABCDEF', hx[2*i-1])-1)*16 + strpos('0123456789ABCDEF', hx[2*i])-1)::HUGEINT
        |    for i in generate_series(1, length(hx)//2) ] AS bs FROM x),
        |dims AS (SELECT vec_id, d,
        |  list_reduce(list_prepend(0::HUGEINT,
        |      list_transform(
        |        list_filter([{'ix': j, 'v': bs[j]} for j in generate_series(1, len(bs))],
        |          s -> (s.ix - 1) % 16 = d),
        |        s -> s.v)),
        |    (a, b) -> (xor(a, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS v
        |  FROM by, generate_series(0, 15) t(d)),
        |feat AS (SELECT vec_id,
        |  list(CAST(CAST((v // 65536) % 2000 - 1000 AS REAL) / CAST(1000 AS REAL) AS REAL) ORDER BY d) AS embedding
        |  FROM dims GROUP BY vec_id),
        |q AS (SELECT vec_id AS query_id, embedding AS qe FROM feat WHERE vec_id < 8),
        |sc AS (SELECT q.query_id, f.vec_id AS neighbor_id,
        |    list_sum([CAST(q.qe[i] AS DOUBLE) * CAST(f.embedding[i] AS DOUBLE)
        |              for i in generate_series(1, least(len(q.qe), len(f.embedding)))])
        |    / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in q.qe]))
        |       * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in f.embedding]))) AS sim
        |  FROM q, feat f WHERE f.vec_id != q.query_id),
        |rk AS (SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM sc)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
        |  floor(CAST(sim AS DOUBLE) * 10000 + 0.5) / 10000 AS sim
        |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "sim_ann_ivf" ->
      """WITH emb AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding FROM embeddings),
        |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, embedding AS centroid
        |  FROM emb WHERE vec_id < 16),
        |
        |asg_c1 AS (
        |  SELECT vec_id, embedding, cell FROM (
        |    SELECT e.vec_id, e.embedding, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY (
        |  list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE)
        |            for i in generate_series(1, least(len(e.embedding), len(c.centroid)))])
        |  / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in e.embedding]))
        |     * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in c.centroid])))) DESC, c.cell) AS rn
        |    FROM emb e, c0 c) WHERE rn = 1),
        |sums_c1 AS (
        |  SELECT cell, count(*) AS n, list(qv) AS qvs
        |  FROM (SELECT cell, [CAST(floor(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT) for x in embedding] AS qv
        |        FROM asg_c1) GROUP BY cell),
        |agg_c1 AS (
        |  SELECT cell, n,
        |    [ list_sum([qv[d] for qv in qvs]) for d in generate_series(1, len(qvs[1])) ] AS s
        |  FROM sums_c1),
        |c1 AS (
        |  SELECT p.cell,
        |    CASE WHEN a.cell IS NULL THEN p.centroid
        |         ELSE [CAST(CAST(x // a.n AS DOUBLE) / 1048576 AS REAL) for x in a.s] END AS centroid
        |  FROM c0 p LEFT JOIN agg_c1 a ON p.cell = a.cell),
        |
        |asg_c2 AS (
        |  SELECT vec_id, embedding, cell FROM (
        |    SELECT e.vec_id, e.embedding, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY (
        |  list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE)
        |            for i in generate_series(1, least(len(e.embedding), len(c.centroid)))])
        |  / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in e.embedding]))
        |     * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in c.centroid])))) DESC, c.cell) AS rn
        |    FROM emb e, c1 c) WHERE rn = 1),
        |sums_c2 AS (
        |  SELECT cell, count(*) AS n, list(qv) AS qvs
        |  FROM (SELECT cell, [CAST(floor(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT) for x in embedding] AS qv
        |        FROM asg_c2) GROUP BY cell),
        |agg_c2 AS (
        |  SELECT cell, n,
        |    [ list_sum([qv[d] for qv in qvs]) for d in generate_series(1, len(qvs[1])) ] AS s
        |  FROM sums_c2),
        |c2 AS (
        |  SELECT p.cell,
        |    CASE WHEN a.cell IS NULL THEN p.centroid
        |         ELSE [CAST(CAST(x // a.n AS DOUBLE) / 1048576 AS REAL) for x in a.s] END AS centroid
        |  FROM c1 p LEFT JOIN agg_c2 a ON p.cell = a.cell),
        |
        |asg_c3 AS (
        |  SELECT vec_id, embedding, cell FROM (
        |    SELECT e.vec_id, e.embedding, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY (
        |  list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE)
        |            for i in generate_series(1, least(len(e.embedding), len(c.centroid)))])
        |  / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in e.embedding]))
        |     * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in c.centroid])))) DESC, c.cell) AS rn
        |    FROM emb e, c2 c) WHERE rn = 1),
        |sums_c3 AS (
        |  SELECT cell, count(*) AS n, list(qv) AS qvs
        |  FROM (SELECT cell, [CAST(floor(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT) for x in embedding] AS qv
        |        FROM asg_c3) GROUP BY cell),
        |agg_c3 AS (
        |  SELECT cell, n,
        |    [ list_sum([qv[d] for qv in qvs]) for d in generate_series(1, len(qvs[1])) ] AS s
        |  FROM sums_c3),
        |c3 AS (
        |  SELECT p.cell,
        |    CASE WHEN a.cell IS NULL THEN p.centroid
        |         ELSE [CAST(CAST(x // a.n AS DOUBLE) / 1048576 AS REAL) for x in a.s] END AS centroid
        |  FROM c2 p LEFT JOIN agg_c3 a ON p.cell = a.cell),
        |asg_f AS (
        |  SELECT vec_id, embedding, cell FROM (
        |    SELECT e.vec_id, e.embedding, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY (
        |  list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE)
        |            for i in generate_series(1, least(len(e.embedding), len(c.centroid)))])
        |  / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in e.embedding]))
        |     * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in c.centroid])))) DESC, c.cell) AS rn
        |    FROM emb e, c3 c) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, qe, cell FROM (
        |    SELECT e.vec_id AS query_id, e.embedding AS qe, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY (
        |  list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE)
        |            for i in generate_series(1, least(len(e.embedding), len(c.centroid)))])
        |  / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in e.embedding]))
        |     * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in c.centroid])))) DESC, c.cell) AS rn
        |    FROM emb e, c3 c WHERE e.vec_id < 8) WHERE rn <= 4),
        |cands AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
        |    (
        |  list_sum([CAST(p.qe[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
        |            for i in generate_series(1, least(len(p.qe), len(a.embedding)))])
        |  / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in p.qe]))
        |     * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in a.embedding])))) AS sim
        |  FROM probes p JOIN asg_f a ON a.cell = p.cell AND a.vec_id != p.query_id),
        |rk AS (SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM cands)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
        |  floor(CAST(sim AS DOUBLE) * 10000 + 0.5) / 10000 AS sim
        |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)

  /** The IVF oracle's k-means prefix — everything up to the converged cell
    * assignment `asg_f` — sliced out of the literal above so the two
    * k-means consumers (sim_ann_ivf, dd_semantic_pairs) replay ONE centroid
    * definition that cannot drift. The require fails loudly at class init
    * (⇒ every test) if an edit moves the anchor. */
  private val lloydAsgF: String = {
    val ivf = base("sim_ann_ivf")
    val cut = ivf.indexOf(",\nprobes AS (")
    require(cut > 0, "sim_ann_ivf oracle lost its 'probes AS (' anchor")
    ivf.substring(0, cut)
  }

  val entries: Map[String, String] = base ++ Map(
    "dd_semantic_pairs" ->
      (lloydAsgF + """
        |SELECT cell, vec_a, vec_b, sim FROM (
        | SELECT a.cell AS cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  floor(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE)
        |    * 10000 + 0.5) / 10000 AS sim
        | FROM asg_f a JOIN asg_f b ON a.cell = b.cell AND a.vec_id < b.vec_id)
        |WHERE sim >= 0.4 ORDER BY vec_a, vec_b""".stripMargin),
    // the pair pipeline above + transitive closure by recursive label
    // propagation (the dd_neardup_clusters oracle shape): component = min
    // reachable label — exactly the engine's hooked-min CC fixpoint
    "dd_semantic_clusters" ->
      (lloydAsgF.replaceFirst("^WITH ", "WITH RECURSIVE ") + """,
        |sem AS (
        | SELECT vec_a, vec_b FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |   floor(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE)
        |     * 10000 + 0.5) / 10000 AS sim
        |  FROM asg_f a JOIN asg_f b ON a.cell = b.cell AND a.vec_id < b.vec_id)
        | WHERE sim >= 0.4),
        |und AS (SELECT vec_a AS u, vec_b AS v FROM sem
        |        UNION SELECT vec_b, vec_a FROM sem),
        |reach(node, lab) AS (
        | SELECT u, u FROM und
        | UNION
        | SELECT e.v, r.lab FROM reach r JOIN und e ON e.u = r.node)
        |SELECT CAST(node AS BIGINT) AS vec_id, CAST(min(lab) AS BIGINT) AS component
        |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin))
}