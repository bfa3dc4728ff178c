package graft

/** DuckDB oracle SQL for [[Queries]] — identical column names, identical
  * ordering, and engine-stable numerics (exact decimal internally, double
  * at the boundary).
  *
  * Hash-specific queries: x03 (LSH-confirmed pairs) and x16 (near-dup
  * survivors) are checked against hash-free oracles — exact all-pairs
  * Jaccard, and connected components of that pair graph via a recursive
  * CTE — valid because the LSH stage's recall is 1 on this corpus (the
  * x03≡x02 identity, also asserted in ScalaTest). x04/x07 signatures no
  * SQL engine reproduces; they carry deterministic golden outputs pinned
  * to the driver's verify scale (sf0.01) and are ScalaTest-validated.
  */
object Oracles {

  /** Oracles that are literal golden outputs pinned to the driver's
    * verify scale (sf0.01). At any other scale they would produce hard
    * VALUE_DIFF failures where the query should just degrade to the
    * lenient rows-only check — Verify omits them from oracle_sql.json
    * unless the scale dir is sf0.01. (The d* fixture goldens are
    * scale-independent: they read bundled fixtures, not sf tables.) */
  val pinnedToSf001: Set[String] =
    Set("x04_simhash", "x07_lsh_ann", "x55_opq_encode",
      "x66_adaptive_lsh", "x74_lsh_corpus_dedup", "x75_semantic_canonical")

  // The x99 weighted-SimHash pair chain (tokens -> tf-idf weights ->
  // 32-bit signatures -> 8-bit band candidates), shared VERBATIM by
  // the x99 pair listing and the x170 component labeling - the shared
  // chain IS the claim that x170 folds exactly the x99 graph.
  private val simhashPairChain: String =
    """toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |tfq AS (
        |  SELECT doc_id, w AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tfq GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |idf AS (
        |  SELECT term,
        |    CAST(ln(CAST(n.n AS DOUBLE) / dfc.df) AS DECIMAL(28,12)) AS idf
        |  FROM dfc CROSS JOIN n),
        |ph AS (
        |  SELECT term,
        |    (CASE WHEN length(term) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(term) + 1),
        |         j -> ascii(substring(term, j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) * 1073741824 +
        |    (CASE WHEN length(term) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(term) + 1),
        |         j -> ascii(substring(reverse(term), j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) AS h
        |  FROM dfc),
        |wgt AS (
        |  SELECT tfq.doc_id, ph.h,
        |    CAST(tfq.tf AS DECIMAL(9,0)) * idf.idf AS w
        |  FROM tfq JOIN idf USING (term) JOIN ph USING (term)),
        |bitsums AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN (h >> j) & 1 = 1 THEN w ELSE -w END) AS s
        |  FROM wgt CROSS JOIN (SELECT unnest(range(0, 32)) AS j) bits
        |  GROUP BY 1, 2),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << j
        |      ELSE 0 END) AS BIGINT) AS sig
        |  FROM bitsums GROUP BY 1),
        |bandrows AS (
        |  SELECT doc_id, b, (sig >> (8 * b)) & 255 AS v
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bandrows a JOIN bandrows b
        |    ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id)""".stripMargin

  // The winnowing fingerprint chain (tokens -> 3-gram polyHashes ->
  // w=4 window minima -> df<=50 guard), shared VERBATIM by the x92
  // pair listing, the x103 component histogram, and the x171
  // provenance matrix - one graph, three certified views.
  private val winnowKeptChain: String =
    """toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]) AS s
        |  FROM (SELECT doc_id, arr, unnest(range(1, len(arr) - 1)) AS i
        |        FROM toks)),
        |hashed AS (
        |  SELECT doc_id, pos,
        |    CAST(list_reduce(list_transform(range(1, length(s) + 1),
        |        j -> ascii(substring(s, j, 1))),
        |      (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |      AS BIGINT) AS h
        |  FROM sh),
        |win AS (
        |  SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |    count(*) OVER (PARTITION BY doc_id) AS m
        |  FROM hashed),
        |fp AS (
        |  SELECT DISTINCT doc_id, wmin AS fp FROM win
        |  WHERE pos <= greatest(0, CAST(m AS INTEGER) - 4)),
        |kept AS (
        |  SELECT f.doc_id, f.fp FROM fp f
        |  JOIN (SELECT fp, count(*) AS dfc FROM fp GROUP BY 1) d USING (fp)
        |  WHERE d.dfc <= 50)""".stripMargin

  private val base: Map[String, String] = Map(

    "q01_union_universe" ->
      """SELECT custkey FROM (
        |  SELECT DISTINCT o_custkey AS custkey FROM orders
        |  WHERE o_orderdate = (SELECT max(o_orderdate) FROM orders)
        |  UNION
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |) t ORDER BY custkey""".stripMargin,

    "q02_asof_join" ->
      """SELECT custkey, asof_date, asof_price FROM (
        |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS asof_date,
        |         o_totalprice AS asof_price,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders WHERE o_orderdate <= TIMESTAMP '1997-06-30 00:00:00'
        |) t WHERE rn = 1 ORDER BY custkey""".stripMargin,

    "q03_export_dat" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS orderkey,
        |       CAST(l_linenumber AS VARCHAR) AS linenumber,
        |       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS shipdate,
        |       CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS quantity,
        |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS extendedprice
        |FROM lineitem
        |WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  AND l_discount IS NOT NULL
        |  AND CAST(l_shipdate AS DATE) BETWEEN DATE '2000-01-01' AND DATE '2000-03-31'
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity, l_shipdate""".stripMargin,

    "q04_date_list" ->
      """SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
        |ORDER BY order_date""".stripMargin,

    "q05_trunc_export" ->
      """SELECT l_orderkey, l_linenumber,
        |  trunc(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) * 100) / 100 AS net_price,
        |  trunc(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_tax AS DECIMAL(18,4)) * 10000) / 10000 AS qty_tax
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, net_price, qty_tax""".stripMargin,

    "q06_coalesce_export" ->
      """SELECT o_orderkey AS orderkey,
        |       coalesce(nullif(o_orderstatus, 'P'), '') AS status,
        |       coalesce(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), '') AS totalprice
        |FROM orders ORDER BY orderkey""".stripMargin,

    "q07_side_decode" ->
      """SELECT event_id,
        |  CASE event_type WHEN 'click' THEN 'Click' WHEN 'view' THEN 'View'
        |    WHEN 'purchase' THEN 'Purchase' WHEN 'signup' THEN 'Signup'
        |    WHEN 'error' THEN 'Error' ELSE 'Other' END AS side,
        |  value / 100.0 AS vol
        |FROM events ORDER BY event_id""".stripMargin,

    "q08_null_sentinels" ->
      """SELECT event_id, CAST(cleaned AS DOUBLE) AS cleaned,
        |  CAST(cleaned AS DOUBLE) / 100.0 AS cleaned_pct
        |FROM (
        |  SELECT event_id,
        |    CASE WHEN s IN ('N/A','0.00') THEN NULL
        |         ELSE CAST(regexp_replace(s, '[,%]', '', 'g') AS DECIMAL(18,4)) END AS cleaned
        |  FROM (
        |    SELECT event_id,
        |      CASE WHEN value < 1 THEN '0.00'
        |           WHEN event_type = 'error' THEN 'N/A'
        |           ELSE CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) END AS s
        |    FROM events) t1) t2
        |ORDER BY event_id""".stripMargin,

    "q09_occ_decode" ->
      """WITH occ AS (
        |  SELECT l_orderkey, l_linenumber,
        |    concat(l_returnflag, l_linestatus, ' ',
        |      strftime(CAST(l_shipdate AS DATE), '%y%m%d'),
        |      CASE WHEN l_linenumber % 2 = 0 THEN 'C' ELSE 'P' END,
        |      lpad(CAST(l_partkey * 100 + l_linenumber AS VARCHAR), 8, '0')) AS code
        |  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) >= 2000)
        |SELECT l_orderkey, l_linenumber,
        |  regexp_extract(code, '([0-9A-Z.]+) *([0-9]{6})([CP])([0-9]{8})', 1) AS underlying,
        |  make_date(
        |    2000 + CAST(substr(regexp_extract(code, '([0-9A-Z.]+) *([0-9]{6})([CP])([0-9]{8})', 2), 1, 2) AS INTEGER),
        |    CAST(substr(regexp_extract(code, '([0-9A-Z.]+) *([0-9]{6})([CP])([0-9]{8})', 2), 3, 2) AS INTEGER),
        |    CAST(substr(regexp_extract(code, '([0-9A-Z.]+) *([0-9]{6})([CP])([0-9]{8})', 2), 5, 2) AS INTEGER)) AS expiry,
        |  CASE regexp_extract(code, '([0-9A-Z.]+) *([0-9]{6})([CP])([0-9]{8})', 3)
        |    WHEN 'C' THEN 'Call' WHEN 'P' THEN 'Put' END AS side,
        |  CAST(regexp_extract(code, '([0-9A-Z.]+) *([0-9]{6})([CP])([0-9]{8})', 4) AS BIGINT) / 1000.0 AS strike
        |FROM occ ORDER BY l_orderkey, l_linenumber, underlying, expiry, side, strike""".stripMargin,

    "q10_unpivot" ->
      """SELECT l_orderkey, l_linenumber, side, px FROM (
        |  SELECT l_orderkey, l_linenumber, 'Call' AS side, l_extendedprice AS px FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'Put' AS side, l_discount AS px FROM lineitem
        |) t ORDER BY l_orderkey, l_linenumber, side, px""".stripMargin,

    "q11_nearest_strike" ->
      """SELECT p_brand, nearest_part, nearest_price FROM (
        |  SELECT p_brand, p_partkey AS nearest_part, p_retailprice AS nearest_price,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY abs(p_retailprice - 950.0), p_partkey) AS rn
        |  FROM part) t WHERE rn = 1 ORDER BY p_brand""".stripMargin,

    "q12_nearest_expiration" ->
      """WITH targets AS (
        |  SELECT unnest([DATE '1996-03-01', DATE '1997-03-01',
        |                 DATE '1998-03-01', DATE '1999-03-01']) AS target)
        |SELECT custkey, target, orderkey FROM (
        |  SELECT o_custkey AS custkey, t.target, o_orderkey AS orderkey,
        |    row_number() OVER (PARTITION BY o_custkey, t.target
        |      ORDER BY abs(date_diff('day', CAST(o_orderdate AS DATE), t.target)), o_orderkey) AS rn
        |  FROM orders CROSS JOIN targets t) t2
        |WHERE rn = 1 ORDER BY custkey, target""".stripMargin,

    "q13_keep_first" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_partkey
        |    ORDER BY l_linenumber, l_suppkey) AS rn FROM lineitem) t
        |WHERE rn = 1 ORDER BY l_orderkey, l_partkey""".stripMargin,

    "q14_last_wins" ->
      """SELECT user_id, last_event, last_ts, last_value FROM (
        |  SELECT user_id, event_id AS last_event, ts AS last_ts, value AS last_value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q15_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,

    "q16_anti_fk" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,

    "q17_counters" ->
      """SELECT l_returnflag AS flag, count(*) AS n,
        |       count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_disc
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q18_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q19_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q20_join_agg" ->
      """SELECT c_mktsegment,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q21_shipping_priority" ->
      """SELECT l_orderkey,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |  AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q22_region_volume" ->
      """SELECT n_name,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "x17_label_centroids" ->
      """SELECT label, CAST(i AS INTEGER) AS pos,
        |  CAST(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) / count(*) AS centroid,
        |  count(*) AS n
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,

    "x18_clean_corpus" ->
      """WITH q AS (
        |  SELECT doc_id, text,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x IN ('the','a','and','of','to','in','is','der','die','das','und',
        |                 'nicht','ist','el','los','que','y','es','una','le','les',
        |                 'et','est','une','dans','的','是','了','在','我'))) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')) AS stop_ratio,
        |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct_ratio
        |  FROM documents)
        |SELECT min(doc_id) AS doc_id FROM q
        |WHERE n_tokens >= 20 AND stop_ratio <= 0.5 AND punct_ratio <= 0.1
        |GROUP BY md5(text) ORDER BY doc_id""".stripMargin,

    "x01_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "x02_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, jaccard FROM (
        |  SELECT d1, d2,
        |    CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |  FROM inter
        |  JOIN sizes sa ON d1 = sa.doc_id
        |  JOIN sizes sb ON d2 = sb.doc_id) t
        |WHERE jaccard >= 0.6 ORDER BY d1, d2""".stripMargin,

    "x03_minhash_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1 AS id_a, d2 AS id_b, jaccard FROM (
        |  SELECT d1, d2,
        |    CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |  FROM inter
        |  JOIN sizes sa ON d1 = sa.doc_id
        |  JOIN sizes sb ON d2 = sb.doc_id) t
        |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin,

    // deterministic golden (sf0.01): simhash64/xxhash64 signatures are
    // not reproducible in SQL; values asserted from first principles in
    // ScalaTest (identical docs at hamming 0, unrelated docs absent)
    "x04_simhash" ->
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |  CAST(hamming AS INTEGER) AS hamming
        |FROM (VALUES
        | (4,264,6),(4,328,5),(5,14,6),(5,401,5),(5,478,5),(7,221,6),
        | (8,245,2),(9,328,6),(9,381,5),(9,452,6),(10,490,6),(14,31,6),
        | (14,251,6),(14,337,4),(18,465,6),(22,473,6),(26,455,4),
        | (31,296,5),(31,300,5),(31,321,6),(31,383,4),(32,178,6),
        | (35,399,6),(43,472,6),(44,446,4),(45,413,3),(51,369,4),
        | (58,293,0),(61,185,0),(63,100,6),(63,490,6),(69,113,5),
        | (69,249,5),(70,447,1),(72,377,4),(76,102,2),(76,142,4),
        | (82,452,6),(87,134,4),(92,450,4),(97,102,6),(98,290,2),
        | (102,142,4),(105,118,6),(107,197,6),(107,387,1),(107,461,6),
        | (112,274,4),(113,259,5),(113,453,5),(120,332,3),(126,128,5),
        | (126,167,6),(126,259,6),(128,300,4),(128,326,6),(128,336,6),
        | (128,437,6),(128,442,5),(131,285,6),(131,301,6),(140,280,5),
        | (142,230,5),(145,321,6),(147,176,6),(147,411,5),(151,251,6),
        | (151,422,6),(151,495,5),(152,178,5),(161,224,6),(166,323,3),
        | (167,367,4),(173,230,5),(196,278,5),(197,263,5),(197,426,6),
        | (197,461,6),(201,418,6),(205,376,6),(213,352,6),(221,385,6),
        | (242,353,6),(251,353,6),(251,422,6),(251,439,5),(251,473,3),
        | (258,264,6),(258,417,5),(259,453,6),(264,381,6),(267,413,2),
        | (271,360,6),(280,321,5),(285,294,6),(285,301,0),(294,301,6),
        | (295,374,5),(300,439,6),(300,473,6),(302,478,4),(311,321,6),
        | (314,336,6),(318,329,6),(325,339,6),(326,457,2),(328,381,5),
        | (336,437,6),(351,495,6),(353,473,5),(360,478,5),(378,479,6),
        | (381,422,5),(393,420,0),(399,430,6),(401,478,6),(418,452,6),
        | (422,426,6),(435,486,3),(439,473,6),(453,495,5),(458,462,2)
        |) t(id_a, id_b, hamming) ORDER BY id_a, id_b""".stripMargin,

    "x05_embed_neardup" ->
      """SELECT id_a, id_b, cosine FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        |    (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
        |     sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cosine
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t
        |WHERE cosine >= 0.45 ORDER BY id_a, id_b""".stripMargin,

    "x06_ann_topk" ->
      """SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
        |    (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
        |     sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
        |        (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
        |         sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // deterministic golden (sf0.01): random-hyperplane band keys are
    // hash-specific; recall vs the exact x05 pair set measured in ScalaTest
    "x07_lsh_ann" ->
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |  CAST(cosine AS DOUBLE) AS cosine
        |FROM (VALUES
        | (387, 388, 0.4666406976988793)
        |) t(id_a, id_b, cosine) ORDER BY id_a, id_b""".stripMargin,

    "x16_dedup_corpus" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM (
        |    SELECT d1, d2, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |    FROM inter
        |    JOIN sizes sa ON d1 = sa.doc_id
        |    JOIN sizes sb ON d2 = sb.doc_id) t
        |  WHERE jaccard >= 0.6),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |dropped AS (
        |  SELECT src AS doc_id FROM reach GROUP BY src HAVING min(dst) < src)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin,

    "x52_canonical" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM (
        |    SELECT d1, d2, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |    FROM inter
        |    JOIN sizes sa ON d1 = sa.doc_id
        |    JOIN sizes sb ON d2 = sb.doc_id) t
        |  WHERE jaccard >= 0.6),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |comp AS (
        |  SELECT d.doc_id,
        |    least(d.doc_id, coalesce(r.m, d.doc_id)) AS cluster,
        |    CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents d
        |  LEFT JOIN (SELECT src, min(dst) AS m FROM reach GROUP BY src) r
        |    ON d.doc_id = r.src),
        |ranked AS (
        |  SELECT doc_id, cluster, n_tokens,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY n_tokens DESC, doc_id) AS rn
        |  FROM comp)
        |SELECT doc_id, cluster, n_tokens FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "q23_rollup" ->
      """SELECT CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
        |  l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin,

    "q24_set_ops" ->
      """SELECT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) = 1996
        |  INTERSECT
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t
        |ORDER BY custkey""".stripMargin,

    "x19_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    concat(text, ' Contact user', doc_id, '@example.com via ',
        |      'https://ex.com/u/', doc_id, ' or +1 555-000-',
        |      lpad(CAST(doc_id AS VARCHAR), 4, '0'),
        |      ' at 10.0.0.', CAST(doc_id % 256 AS VARCHAR), '.'),
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?[0-9][0-9() -]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x20_boilerplate" ->
      """WITH framed AS (
        |  SELECT doc_id, concat('COPYRIGHT ACME CORP', chr(10), text,
        |    chr(10), 'All rights reserved') AS text FROM documents),
        |l AS (
        |  SELECT doc_id, u['pos'] AS pos, u['line'] AS line FROM (
        |    SELECT doc_id, unnest(list_transform(string_split(text, chr(10)),
        |      (x, i) -> {'pos': i, 'line': x})) AS u
        |    FROM framed) t),
        |freq AS (
        |  SELECT t FROM (SELECT DISTINCT doc_id, trim(line) AS t FROM l) d
        |  GROUP BY t HAVING count(*) >= 100),
        |kept AS (SELECT * FROM l WHERE trim(line) NOT IN (SELECT t FROM freq)),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT f.doc_id, coalesce(r.text, '') AS text
        |FROM framed f LEFT JOIN rebuilt r ON f.doc_id = r.doc_id
        |ORDER BY f.doc_id""".stripMargin,

    "x21_ivf_ann" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8),
        |assigned AS (
        |  SELECT vec_id AS neighbor_id, v, cid FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM emb e CROSS JOIN cent c) t WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, v AS qv, cid FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM emb e CROSS JOIN cent c WHERE e.vec_id < 10) t WHERE rn <= 2),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_dot_product(qv, v) /
        |      (sqrt(list_dot_product(qv, qv)) *
        |       sqrt(list_dot_product(v, v))) AS cosine
        |  FROM probes JOIN assigned USING (cid)
        |  WHERE query_id <> neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // x25 = x21 with the centroid set refreshed by one Lloyd step: the
    // refined centroid is the exact-decimal per-cell mean (same engine-
    // stable arithmetic as x24), rebuilt into an array ordered by
    // dimension, then the x21 assignment/probe/rank pipeline re-runs
    // against the refined cells. Cells that lose all members drop out
    // (GROUP BY semantics) — mirrored by the Scala refinement loop.
    "x25_ivf_refined" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent0 AS (
        |  SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8),
        |a0 AS (
        |  SELECT vec_id, v, cid FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM emb e CROSS JOIN cent0 c) t WHERE rn = 1),
        |cent AS (
        |  SELECT cid, list(centroid ORDER BY pos) AS cv FROM (
        |    SELECT cid, i AS pos,
        |      CAST(CAST(sum(CAST(v[i] AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) / count(*) AS centroid
        |    FROM a0, range(1, 65) t(i) GROUP BY 1, 2) m
        |  GROUP BY cid),
        |assigned AS (
        |  SELECT vec_id AS neighbor_id, v, cid FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM emb e CROSS JOIN cent c) t WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, v AS qv, cid FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM emb e CROSS JOIN cent c WHERE e.vec_id < 10) t WHERE rn <= 2),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_dot_product(qv, v) /
        |      (sqrt(list_dot_product(qv, qv)) *
        |       sqrt(list_dot_product(v, v))) AS cosine
        |  FROM probes JOIN assigned USING (cid)
        |  WHERE query_id <> neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q25_cube" ->
      """SELECT CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_s,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_p,
        |  o_orderstatus, o_orderpriority,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |  count(*) AS n
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY g_s, g_p, o_orderstatus, o_orderpriority""".stripMargin,

    "x26_hash_split" ->
      """SELECT doc_id,
        |  (((doc_id % 1000000007) * 654435747) % 1000000007) % 1000 AS bucket,
        |  CASE WHEN (((doc_id % 1000000007) * 654435747) % 1000000007) % 1000 < 800 THEN 'train'
        |       WHEN (((doc_id % 1000000007) * 654435747) % 1000000007) % 1000 < 900 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x48_stratified_sample" ->
      """SELECT doc_id, lang, CAST(rn AS BIGINT) AS sample_rank FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY (((doc_id % 1000000007) * 654435747) % 1000000007),
        |        doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 50 ORDER BY doc_id""".stripMargin,

    "x49_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    (((doc_id % 1000000007) * 654435747) % 1000000007) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
        |  FROM t)
        |SELECT doc_id, source, n_tokens FROM c
        |WHERE cum_prev < CASE WHEN source IN ('src0','src1')
        |                      THEN 1000000 ELSE 800 END
        |ORDER BY doc_id""".stripMargin,

    "x50_calibrate" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |  percent_rank() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS pct
        |FROM t ORDER BY doc_id""".stripMargin,

    "x51_length_batches" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, shard, n_tokens,
        |  CAST((row_number() OVER (PARTITION BY shard
        |    ORDER BY n_tokens, doc_id) - 1) // 16 AS BIGINT) AS batch_id
        |FROM t ORDER BY doc_id""".stripMargin,

    "x27_pack_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM t)
        |SELECT doc_id, shard, n_tokens, start_tok,
        |  CAST(floor(start_tok / 2048) AS BIGINT) AS chunk_first,
        |  CAST(floor((start_tok + n_tokens - 1) / 2048) AS BIGINT) AS chunk_last
        |FROM c ORDER BY doc_id""".stripMargin,

    "x28_length_quantiles" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS v
        |  FROM documents),
        |r AS (
        |  SELECT lang, v,
        |    row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM t)
        |SELECT lang,
        |  max(CASE WHEN rn = greatest(1, (1*n + 1) // 2) THEN v END) AS p50,
        |  max(CASE WHEN rn = greatest(1, (9*n + 9) // 10) THEN v END) AS p90,
        |  max(CASE WHEN rn = greatest(1, (99*n + 99) // 100) THEN v END) AS p99,
        |  max(n) AS n
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    "x39_window_quantiles" ->
      """WITH r AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type, value AS v,
        |    row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
        |      ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY date_trunc('hour', ts), event_type) AS n
        |  FROM events)
        |SELECT ws, event_type,
        |  max(CASE WHEN rn = greatest(1, (1*n + 1) // 2) THEN v END) AS p50,
        |  max(CASE WHEN rn = greatest(1, (19*n + 19) // 20) THEN v END) AS p95,
        |  max(n) AS n
        |FROM r GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,

    "x29_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS n FROM toks
        |GROUP BY token ORDER BY n DESC, token LIMIT 25""".stripMargin,

    "x30_mixture" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (((doc_id % 1000000007) * 654435755) % 1000000007) % 1000 <
        |  CASE WHEN lang = 'en' THEN 1000 ELSE 250 END
        |ORDER BY doc_id""".stripMargin,

    "x32_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token FROM toks GROUP BY token
        |  ORDER BY count(*) DESC, token LIMIT 1000)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.token = v.token
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "x45_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(arr) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(arr)) AS BIGINT) AS n_distinct,
        |  1.0 - CAST(len(list_distinct(arr)) AS DOUBLE) / len(arr) AS rep_ratio
        |FROM t ORDER BY doc_id""".stripMargin,

    "x46_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // OPQ (x55): DuckDB RE-COMPUTES the rotated encode of every
    // vector from the rotation matrix R and the codebooks emitted
    // below as literals — only the driver-side Jacobi polar factor
    // (not SQL-expressible) is pinned; the distributed rotate+encode
    // is verified end to end. Literals regenerated by graft.OpqPin;
    // pinned to sf0.01 (the learn is data-dependent), deterministic
    // relearn asserted by OpqPin and OpqSpec. Rotation z_j =
    // sum_i R[i][j]*x[i] left-to-right, matching matVecT codegen;
    // per-subspace distances use the x38 cast/order discipline.
    "x55_opq_encode" ->
      """WITH rl AS (SELECT [
        |  [0.9944693495169896,0.05570993093610056,-0.057653252787794415,0.024737779499293195,0.019531233295904858,0.015924450959970818,-0.014277310699455134,0.02313341580427964,0.0021224256885739477,-0.0438627842752635,-0.014299041317776507,0.007813324033267849,0.004911728058376377,0.007763922383509146,0.013570126861296708,-0.012437699875597227],
        |  [-0.058232474318947444,0.9907799835370955,-0.058359264099006464,-0.011432425242786487,-0.038601836270432094,0.050189800195938036,-0.05450506448979159,0.01648711082879065,0.017329624161343458,0.020480241607176645,0.004786870783511194,-0.014222472991100101,0.00895656937771483,0.021133080840586585,-0.007308099685499191,0.05148368495509889],
        |  [0.05484380412414894,0.06337740008810545,0.9918028558751039,0.021004304503180887,-8.211790991273504E-6,-0.03096952503488018,-0.035976050275936707,0.0011625785444157252,0.005192111759736223,0.04274617208331344,-0.027868443967607594,0.027304830489261613,3.200574954179136E-5,-0.047492910409349304,-0.013684322923330619,-0.028060680676531308],
        |  [-0.024261997870331488,0.008334704559930371,-0.023782581238251624,0.9946550356121446,-0.04040426459526354,-0.017575491251968466,0.005628637382586373,-0.01674700371924602,0.05469335641632973,7.793323647092308E-4,0.0058625083101712504,0.012442832143703567,0.009628425856544144,-0.04108233094874295,-0.04704214219205015,-0.0030821460971833872],
        |  [-0.023300362728270047,0.036093530246812465,-0.0044147505814305064,0.03800009813916469,0.994446435586484,-0.010013285614351594,-0.019664890625140787,0.017128525838456164,0.0240178247533819,0.02284266342508367,-0.020493810474645224,0.024464983021212805,0.04665114072488173,0.03843920709292162,-0.02492359195663979,-0.024382727093039944],
        |  [-0.011412740728130078,-0.05087371703370971,0.03410591970595718,0.021233896531778804,0.009118242291393769,0.9948957686280565,-0.021139504330721696,0.025288530158610288,0.007944711625175694,0.03542921251989714,-0.00426661589760835,-0.028971039548541588,-0.027189676744216795,0.0375267506255496,0.0020516050788524087,-0.018782536096445868],
        |  [0.010499140290497757,0.053332911733275604,0.03546799001664617,-0.005660328015406392,0.01973532105913597,0.021265299797575854,0.9910612706238656,0.07062711847590908,0.048370906015594885,-0.038205300927174675,0.00426461713958806,-0.016777024417987653,-0.03606029330983006,-0.001562753736406873,-0.022155472630869318,0.04278231044320141],
        |  [-0.02094187564098196,-0.021405769151297476,-0.006624927090898403,0.013977318295815777,-0.020872269909047142,-0.030570828658046945,-0.06780568193342439,0.9873275778474657,0.05251561948832828,0.06298909558987495,-0.010370245544613693,0.07918071430431242,-0.06148122817559535,0.01698241963903377,0.030098860722351795,-0.0018608422703846605],
        |  [-9.733814268146348E-4,-0.015000893298716567,-0.009342404458296587,-0.05780942258249893,-0.02444072185014047,-0.005105115315625299,-0.03991653450200831,-0.0680567407786736,0.9819163644835411,-0.012945258415889041,-0.026209332965853174,0.1295751587816161,-0.0550012836743914,0.01880371891292642,-0.028796553361933062,-0.05902893433994931],
        |  [0.04617693223221013,-0.018050299480977618,-0.04308514518765842,-0.00559510948676036,-0.019612074946805738,-0.030991597624669583,0.043465577960258205,-0.057270709629627575,0.015308655859722155,0.9930809426659474,0.004539539944220433,-0.030377019636400975,0.021359665884968036,-0.015748562327851302,-0.02588876415691021,0.019441562416933664],
        |  [0.014536175674374879,-0.0011908750658954255,0.026740081947115104,-0.003656105429859601,0.019497406783679734,0.002517904955828666,-0.0059726466536888,0.00368439537393958,0.01816552305236489,-3.2335184749786457E-4,0.9970424501473104,0.050122947652253745,-0.024368099162535465,0.025532447130030014,0.014116198386138226,-0.015560240952723606],
        |  [-0.008674993891306992,0.01840963433617708,-0.027632442704798425,-0.004462615435988068,-0.02215815211192177,0.029963116135025933,0.03324023699308988,-0.07358552263601126,-0.13981097831274278,0.029884755413454023,-0.04784786312953812,0.979841786768743,-0.019754700356752253,0.02738203492202404,0.03354987967987589,-0.07621467490857725],
        |  [-0.005286946935743032,-0.011970523311206543,0.005763039482589383,-0.012053059975661844,-0.051585095896771876,0.023634745814511443,0.03070435560516973,0.05935409771530431,0.05100076800215271,-0.01832243659326484,0.02062004818568708,0.026966695336222445,0.9896281831205567,0.07869964732332846,-0.034410974287174434,-0.033676500070766724],
        |  [-0.0026195973431417468,-0.015038769724269669,0.045380449041934744,0.04173839869753305,-0.035880789008302945,-0.0438224902830693,0.003659286053252532,-0.021669666723843305,-0.020588646256295834,0.01575240527371481,-0.02561710086098364,-0.03542895501980096,-0.07658953625647887,0.9915099605917594,-0.002443883843438785,-0.026968103516266384],
        |  [-0.013422561977459132,0.010233618926148137,0.012240445210316739,0.04517408085549999,0.02022498390027806,-0.003803940381096667,0.02450189679839407,-0.027643108756387168,0.03632901093520453,0.023434360263468634,-0.012735972079776023,-0.03392202401702266,0.03586009279940652,7.862823801660021E-4,0.9951848560282858,-0.0295844606272571],
        |  [0.013655073264901283,-0.051053142190007304,0.02970842440168034,0.004543818556743271,0.021291225870755368,0.01644962780138509,-0.041062106137869356,-0.008814286071447519,0.04820045218633692,-0.014863544613043385,0.007965280527831062,0.08602061088834484,0.028736395704340223,0.032917656096030146,0.03054017239941842,0.9904377465211021]
        |] AS r),
        |e AS (
        |  SELECT vec_id, list_transform(range(1, 17), i ->
        |    CAST(embedding[CAST(i AS INT)] AS DOUBLE)) AS v
        |  FROM embeddings),
        |z AS (
        |  SELECT vec_id,
        |    list_transform(range(1, 17), j ->
        |      list_sum(list_transform(range(1, 17), i ->
        |        rl.r[CAST(i AS INT)][CAST(j AS INT)] * v[CAST(i AS INT)]))) AS zv
        |  FROM e CROSS JOIN rl),
        |cb AS (SELECT * FROM (VALUES
        |  (0,0,[0.07270216536231884,0.03527650536231884,-0.0512480568115942,-0.15332571014492752]),
        |  (0,1,[-0.13764431946666666,-0.06634417453333333,-0.032061207466666665,-0.04204105093333334]),
        |  (0,2,[0.037161268691588784,-0.012801778971962616,-0.11664725850467289,0.08970335411214954]),
        |  (0,3,[-0.13482494432432432,0.12962361783783782,0.022814962702702703,0.058981684324324324]),
        |  (0,4,[0.024538061379310347,0.023781465977011498,0.12439812425287357,0.013969834252873563]),
        |  (0,5,[0.01995020365384615,-0.16795195673076924,0.06995009923076924,0.06701732038461539]),
        |  (0,6,[-0.05456533478260869,0.07153581413043478,0.09540910130434783,-0.14247055326086958]),
        |  (0,7,[0.24960297185185187,0.00797852962962963,0.02570467259259259,0.052175565925925926]),
        |  (1,0,[0.1568032693548387,-0.06991139048387096,-0.09143429951612904,-0.06121501935483871]),
        |  (1,1,[-0.028041324126984127,-0.06092814,-0.154800823015873,0.0065174644444444445]),
        |  (1,2,[-0.11944908793478262,-0.04126895510869565,0.039256085,0.006816084130434783]),
        |  (1,3,[0.07581510999999999,0.007435084742268042,0.12953456587628864,-0.036594388659793815]),
        |  (1,4,[-0.07152861166666667,-0.22168602666666667,0.20388162666666665,0.16534880500000002]),
        |  (1,5,[0.12978108000000002,0.002396653673469388,-0.08591935734693877,0.15603122244897957]),
        |  (1,6,[-0.03821152510638298,0.15695492840425532,-0.06746886329787234,-0.04831413372340425]),
        |  (1,7,[-0.045584553513513516,0.043073053243243245,-0.014645411891891892,0.18432135891891893]),
        |  (2,0,[0.1256184310126582,-0.007810669430379748,-0.007506265886075949,-0.028846716708860756]),
        |  (2,1,[-0.04248294171717172,0.05456635898989899,-0.08106516464646465,0.061902981111111116]),
        |  (2,2,[-0.04696123985915493,-0.193584021971831,0.02202623,0.019682141126760564]),
        |  (2,3,[-0.171397984,0.125672743,-0.064752269,0.18207804700000002]),
        |  (2,4,[0.023554101315789472,0.17305026710526317,0.12070871526315789,-0.007697706052631579]),
        |  (2,5,[-0.07749366140350877,0.04607202245614035,0.13945006859649123,-0.026158266140350876]),
        |  (2,6,[0.0553471625,0.3697850275,0.0979435375,-0.0337952125]),
        |  (2,7,[-0.12816416377358492,-0.07409562660377358,-0.01446596,-0.056865766792452824]),
        |  (3,0,[-0.14337921871428572,-0.04459691142857143,-0.06194264571428571,-0.02500213142857143]),
        |  (3,1,[0.09531643949999999,-0.127986083,0.07772655366666667,0.010420210333333334]),
        |  (3,2,[-0.07454974756410257,0.043255017051282055,0.01666806871794872,0.15457744102564103]),
        |  (3,3,[0.004193377575757576,0.24049550787878787,0.04732175242424243,0.006563880303030303]),
        |  (3,4,[0.056452677049180326,0.010960371639344263,0.16805733803278688,0.0064155519672131145]),
        |  (3,5,[0.06273435762376238,-0.060330406237623764,-0.08282608950495049,-0.039377822673267324]),
        |  (3,6,[0.06350970833333333,0.12818800466666666,-0.129699011,0.023676169833333333]),
        |  (3,7,[-0.13312848027027027,-0.04726406648648649,0.07025026351351352,-0.16292826513513514])
        |) t(s, code, cw)),
        |dists AS (
        |  SELECT z.vec_id, cb.s, cb.code,
        |    list_sum(list_transform(range(1, 5), i ->
        |      (zv[CAST(cb.s*4 + i AS INT)] - cb.cw[CAST(i AS INT)])
        |        * (zv[CAST(cb.s*4 + i AS INT)] - cb.cw[CAST(i AS INT)]))) AS d
        |  FROM z CROSS JOIN cb),
        |best AS (
        |  SELECT vec_id, s, code,
        |    row_number() OVER (PARTITION BY vec_id, s
        |      ORDER BY d ASC, code ASC) AS rn
        |  FROM dists)
        |SELECT vec_id, CAST(s AS BIGINT) AS sub, CAST(code AS BIGINT) AS code
        |FROM best WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin,

    // x56: the payload is BUILT from doc_id (PNG/JPEG/GIF/WAV headers
    // or garbage, round-robin by doc_id % 5) and parsed back by the
    // pure-JVM MediaCodec; the oracle predicts the parsed fields from
    // the same arithmetic — scale-independent, no pinning
    "x56_media_meta" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
        |    WHEN 3 THEN 'wav' ELSE 'unknown' END AS format,
        |  CASE WHEN doc_id % 5 IN (0, 1, 2)
        |    THEN CAST(16 + doc_id % 1000 AS INT) END AS width,
        |  CASE WHEN doc_id % 5 IN (0, 1, 2)
        |    THEN CAST(16 + (doc_id * 7) % 1000 AS INT) END AS height,
        |  CASE WHEN doc_id % 5 = 3
        |    THEN CAST(8000 + (doc_id % 100) * 441 AS INT) END AS sample_rate,
        |  CASE WHEN doc_id % 5 = 3
        |    THEN CAST(1 + doc_id % 2 AS INT) END AS channels
        |FROM documents ORDER BY doc_id""".stripMargin,

    // x57: SemDeDup — x21's seed-centroid cosine assignment, x05's
    // cosine pairs restricted to same-cell, x16's recursive
    // reachability; keep_id = min id of the semantic component
    "x57_semantic_dedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
        |assigned AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM e CROSS JOIN cent c) WHERE rn = 1),
        |pairs AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2
        |  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id
        |  WHERE list_dot_product(ea.v, eb.v) /
        |    (sqrt(list_dot_product(ea.v, ea.v)) *
        |     sqrt(list_dot_product(eb.v, eb.v))) >= 0.45),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a),
        |keep AS (
        |  SELECT src AS id, least(src, min(dst)) AS keep_id
        |  FROM reach GROUP BY src)
        |SELECT e.vec_id AS id, coalesce(k.keep_id, e.vec_id) AS keep_id
        |FROM e LEFT JOIN keep k ON k.id = e.vec_id
        |ORDER BY id""".stripMargin,

    // x58: incremental semantic admission — the quantizer cells come
    // from the EXISTING (even-id) corpus only; an incoming (odd-id) row
    // is dropped iff some existing row in its cell is cosine-near
    "x58_semantic_admit" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |ex AS (SELECT * FROM e WHERE vec_id % 2 = 0),
        |inc AS (SELECT * FROM e WHERE vec_id % 2 = 1),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM ex ORDER BY vec_id LIMIT 16),
        |exa AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT ex.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY ex.vec_id ORDER BY
        |        list_dot_product(ex.v, c.cv) /
        |          (sqrt(list_dot_product(ex.v, ex.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM ex CROSS JOIN cent c) WHERE rn = 1),
        |ina AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT inc.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY inc.vec_id ORDER BY
        |        list_dot_product(inc.v, c.cv) /
        |          (sqrt(list_dot_product(inc.v, inc.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM inc CROSS JOIN cent c) WHERE rn = 1),
        |dropped AS (
        |  SELECT DISTINCT i.vec_id
        |  FROM ina i JOIN exa x ON i.cid = x.cid
        |  JOIN e ei ON ei.vec_id = i.vec_id
        |  JOIN e ee ON ee.vec_id = x.vec_id
        |  WHERE list_dot_product(ei.v, ee.v) /
        |    (sqrt(list_dot_product(ei.v, ei.v)) *
        |     sqrt(list_dot_product(ee.v, ee.v))) >= 0.45)
        |SELECT vec_id FROM inc
        |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY vec_id""".stripMargin,

    // x59: SemDeDup under the TRAINED quantizer — x25's one-Lloyd-step
    // refined-centroid CTE (exact-decimal per-cell means, cells that
    // lose every member drop out) composed with x57's within-cell
    // pairs + recursive reachability
    "x59_semantic_trained" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cent0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
        |a0 AS (
        |  SELECT vec_id, v, cid FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM e CROSS JOIN cent0 c) WHERE rn = 1),
        |cent AS (
        |  SELECT cid, list(centroid ORDER BY pos) AS cv FROM (
        |    SELECT cid, i AS pos,
        |      CAST(CAST(sum(CAST(v[i] AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) / count(*) AS centroid
        |    FROM a0, range(1, 65) t(i) GROUP BY 1, 2) m
        |  GROUP BY cid),
        |assigned AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM e CROSS JOIN cent c) WHERE rn = 1),
        |pairs AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2
        |  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id
        |  WHERE list_dot_product(ea.v, eb.v) /
        |    (sqrt(list_dot_product(ea.v, ea.v)) *
        |     sqrt(list_dot_product(eb.v, eb.v))) >= 0.45),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a),
        |keep AS (
        |  SELECT src AS id, least(src, min(dst)) AS keep_id
        |  FROM reach GROUP BY src)
        |SELECT e.vec_id AS id, coalesce(k.keep_id, e.vec_id) AS keep_id
        |FROM e LEFT JOIN keep k ON k.id = e.vec_id
        |ORDER BY id""".stripMargin,

    // x60: occupancy telemetry of x57's 16-cell quantizer — discrete
    // inverse-CDF percentiles (the occupancy at sorted rank
    // ceil(p*cells), computed in DOUBLE on both engines so the rank
    // arithmetic is bit-identical); sum_sq_occ is the within-cell
    // candidate-pair volume
    "x60_cell_stats" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
        |assigned AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM e CROSS JOIN cent c) WHERE rn = 1),
        |occ AS (SELECT cid, count(*) AS occ FROM assigned GROUP BY cid),
        |ranked AS (
        |  SELECT occ, row_number() OVER (ORDER BY occ) AS rn,
        |    count(*) OVER () AS total
        |  FROM occ)
        |SELECT
        |  CAST(coalesce(max(total), 0) AS BIGINT) AS cells,
        |  CAST(coalesce(sum(occ), 0) AS BIGINT) AS n_rows,
        |  CAST(coalesce(max(CASE WHEN rn = CAST(ceil(total * CAST(0.5 AS DOUBLE)) AS BIGINT)
        |    THEN occ END), 0) AS BIGINT) AS p50_occ,
        |  CAST(coalesce(max(CASE WHEN rn = CAST(ceil(total * CAST(0.99 AS DOUBLE)) AS BIGINT)
        |    THEN occ END), 0) AS BIGINT) AS p99_occ,
        |  CAST(coalesce(max(occ), 0) AS BIGINT) AS max_occ,
        |  CAST(coalesce(sum(occ * occ), 0) AS DOUBLE) AS sum_sq_occ
        |FROM ranked""".stripMargin,

    // x61: two-level quantizer assignment — coarse argmax (x21's
    // row_number discipline) over the 4 seed cells, fine seeds = per
    // OCCUPIED coarse cell the 4 smallest-id members, then a second
    // argmax over the winning cell's fine seeds. Coarse re-assignment
    // runs over the occupied cells only (the engine drops empty cells
    // from the trained model)
    "x61_two_level_assign" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS ccid, v AS cv FROM e ORDER BY vec_id LIMIT 4),
        |a0 AS (
        |  SELECT vec_id, v, ccid FROM (
        |    SELECT e.vec_id, e.v, c.ccid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.ccid) AS rn
        |    FROM e CROSS JOIN c0 c) WHERE rn = 1),
        |fine AS (
        |  SELECT ccid, vec_id AS fid, v AS fv FROM (
        |    SELECT ccid, vec_id, v,
        |      row_number() OVER (PARTITION BY ccid ORDER BY vec_id) AS rn
        |    FROM a0) WHERE rn <= 4),
        |c1 AS (
        |  SELECT c0.ccid, c0.cv FROM c0
        |  WHERE ccid IN (SELECT DISTINCT ccid FROM fine)),
        |acoarse AS (
        |  SELECT vec_id, v, ccid FROM (
        |    SELECT e.vec_id, e.v, c.ccid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.ccid) AS rn
        |    FROM e CROSS JOIN c1 c) WHERE rn = 1),
        |afine AS (
        |  SELECT vec_id, fid FROM (
        |    SELECT a.vec_id, f.fid,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_dot_product(a.v, f.fv) /
        |          (sqrt(list_dot_product(a.v, a.v)) *
        |           sqrt(list_dot_product(f.fv, f.fv))) DESC, f.fid) AS rn
        |    FROM acoarse a JOIN fine f ON a.ccid = f.ccid) WHERE rn = 1)
        |SELECT vec_id AS id, fid AS cid FROM afine ORDER BY id""".stripMargin,

    // x64: corpus-trained bigram conditional frequencies; per-doc mean
    // P(w2|w1) with each probability quantized to DECIMAL(28,12) (one
    // IEEE double division, identical in both engines) so the exact-
    // decimal per-doc sum is order-independent
    "x64_bigram_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM (
        |    SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
        |c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS cnt1 FROM bi GROUP BY 1),
        |scored AS (
        |  SELECT b.doc_id,
        |    CAST(CAST(c2.cnt2 AS DOUBLE) / c1.cnt1 AS DECIMAL(28,12)) AS p
        |  FROM bi b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(CAST(sum(p) AS VARCHAR) AS DOUBLE) / count(*) AS bigram_score
        |  FROM scored GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  a.bigram_score
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // x65: x64 with add-k (Lidstone) smoothing, k = 0.5 — the formula
    // runs in DOUBLE on exact counts in both engines; V is the distinct
    // continuation-token count of the training bigrams
    "x65_bigram_smoothed" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM (
        |    SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
        |c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS cnt1 FROM bi GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS vv FROM bi),
        |scored AS (
        |  SELECT b.doc_id,
        |    CAST((CAST(c2.cnt2 AS DOUBLE) + 0.5) /
        |         (CAST(c1.cnt1 AS DOUBLE) + 0.5 * v.vv)
        |      AS DECIMAL(28,12)) AS p
        |  FROM bi b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  CROSS JOIN v),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(CAST(sum(p) AS VARCHAR) AS DOUBLE) / count(*) AS bigram_score
        |  FROM scored GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  a.bigram_score
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // x63: two-level quantizer, fine level refined by one Lloyd step —
    // x61's nested argmax, then the fine centroids are replaced by the
    // exact-decimal member means of the seed assignment (x25's CTE
    // discipline; cells that lose every member drop out) and the
    // corpus re-assigns against the refined fine cells
    "x63_two_level_refined" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS ccid, v AS cv FROM e ORDER BY vec_id LIMIT 4),
        |a0 AS (
        |  SELECT vec_id, v, ccid FROM (
        |    SELECT e.vec_id, e.v, c.ccid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.ccid) AS rn
        |    FROM e CROSS JOIN c0 c) WHERE rn = 1),
        |fine AS (
        |  SELECT ccid, vec_id AS fid, v AS fv FROM (
        |    SELECT ccid, vec_id, v,
        |      row_number() OVER (PARTITION BY ccid ORDER BY vec_id) AS rn
        |    FROM a0) WHERE rn <= 4),
        |c1 AS (
        |  SELECT c0.ccid, c0.cv FROM c0
        |  WHERE ccid IN (SELECT DISTINCT ccid FROM fine)),
        |acoarse AS (
        |  SELECT vec_id, v, ccid FROM (
        |    SELECT e.vec_id, e.v, c.ccid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.ccid) AS rn
        |    FROM e CROSS JOIN c1 c) WHERE rn = 1),
        |afine0 AS (
        |  SELECT vec_id, v, fid FROM (
        |    SELECT a.vec_id, a.v, f.fid,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_dot_product(a.v, f.fv) /
        |          (sqrt(list_dot_product(a.v, a.v)) *
        |           sqrt(list_dot_product(f.fv, f.fv))) DESC, f.fid) AS rn
        |    FROM acoarse a JOIN fine f ON a.ccid = f.ccid) WHERE rn = 1),
        |fm AS (
        |  SELECT fid, list(centroid ORDER BY pos) AS fv FROM (
        |    SELECT fid, i AS pos,
        |      CAST(CAST(sum(CAST(v[i] AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) / count(*) AS centroid
        |    FROM afine0, range(1, 65) t(i) GROUP BY 1, 2) m
        |  GROUP BY fid),
        |fine2 AS (SELECT f.ccid, fm.fid, fm.fv FROM fm JOIN fine f ON f.fid = fm.fid),
        |afine2 AS (
        |  SELECT vec_id, fid FROM (
        |    SELECT a.vec_id, f.fid,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_dot_product(a.v, f.fv) /
        |          (sqrt(list_dot_product(a.v, a.v)) *
        |           sqrt(list_dot_product(f.fv, f.fv))) DESC, f.fid) AS rn
        |    FROM acoarse a JOIN fine2 f ON a.ccid = f.ccid) WHERE rn = 1)
        |SELECT vec_id AS id, fid AS cid FROM afine2 ORDER BY id""".stripMargin,

    // x62: hierarchical SemDeDup — x61's two-level assignment (nested
    // argmax CTEs) composed with x57's within-cell pairs + recursive
    // reachability; keep_id = min id of the semantic component
    "x62_two_level_dedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS ccid, v AS cv FROM e ORDER BY vec_id LIMIT 4),
        |a0 AS (
        |  SELECT vec_id, v, ccid FROM (
        |    SELECT e.vec_id, e.v, c.ccid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.ccid) AS rn
        |    FROM e CROSS JOIN c0 c) WHERE rn = 1),
        |fine AS (
        |  SELECT ccid, vec_id AS fid, v AS fv FROM (
        |    SELECT ccid, vec_id, v,
        |      row_number() OVER (PARTITION BY ccid ORDER BY vec_id) AS rn
        |    FROM a0) WHERE rn <= 4),
        |c1 AS (
        |  SELECT c0.ccid, c0.cv FROM c0
        |  WHERE ccid IN (SELECT DISTINCT ccid FROM fine)),
        |acoarse AS (
        |  SELECT vec_id, v, ccid FROM (
        |    SELECT e.vec_id, e.v, c.ccid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.ccid) AS rn
        |    FROM e CROSS JOIN c1 c) WHERE rn = 1),
        |assigned AS (
        |  SELECT vec_id, fid AS cid FROM (
        |    SELECT a.vec_id, f.fid,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_dot_product(a.v, f.fv) /
        |          (sqrt(list_dot_product(a.v, a.v)) *
        |           sqrt(list_dot_product(f.fv, f.fv))) DESC, f.fid) AS rn
        |    FROM acoarse a JOIN fine f ON a.ccid = f.ccid) WHERE rn = 1),
        |pairs AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2
        |  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id
        |  WHERE list_dot_product(ea.v, eb.v) /
        |    (sqrt(list_dot_product(ea.v, ea.v)) *
        |     sqrt(list_dot_product(eb.v, eb.v))) >= 0.45),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a),
        |keep AS (
        |  SELECT src AS id, least(src, min(dst)) AS keep_id
        |  FROM reach GROUP BY src)
        |SELECT e.vec_id AS id, coalesce(k.keep_id, e.vec_id) AS keep_id
        |FROM e LEFT JOIN keep k ON k.id = e.vec_id
        |ORDER BY id""".stripMargin,

    "x54_salted_join" ->
      """SELECT p.p_type,
        |  CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "x47_topk_agg" ->
      """SELECT o_custkey AS custkey, CAST(rn AS BIGINT) AS rank,
        |  o_orderkey AS orderkey, o_totalprice AS price
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY custkey, rank""".stripMargin,

    "x36_incremental_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS ind, b.doc_id AS exd, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
        |  GROUP BY 1, 2),
        |dropped AS (
        |  SELECT DISTINCT ind AS doc_id FROM inter
        |  JOIN sizes sa ON ind = sa.doc_id
        |  JOIN sizes sb ON exd = sb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.6)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 7 = 0 AND doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin,

    // count-min: the h CTE inlines the Spark side's multiplier/offset
    // residues mod 509 (2654435761→252, 2246822519→318, 3266489917→232,
    // 668265263→181; offsets 17/31/47/61 are already < 509)
    "x37_count_min" ->
      """WITH h(j, a, b) AS (VALUES
        |    (0, 252, 17), (1, 318, 31), (2, 232, 47), (3, 181, 61)),
        |sk AS (
        |  SELECT h.j AS j, ((o.o_custkey % 509) * h.a + h.b) % 509 AS bucket,
        |    count(*) AS c
        |  FROM orders o CROSS JOIN h GROUP BY 1, 2),
        |probe AS (SELECT c_custkey AS custkey FROM customer),
        |est AS (
        |  SELECT p.custkey, min(coalesce(s.c, 0)) AS est
        |  FROM probe p CROSS JOIN h
        |  LEFT JOIN sk s ON s.j = h.j
        |    AND s.bucket = ((p.custkey % 509) * h.a + h.b) % 509
        |  GROUP BY 1),
        |ex AS (SELECT o_custkey AS custkey, count(*) AS n FROM orders GROUP BY 1)
        |SELECT e.custkey, CAST(coalesce(x.n, 0) AS BIGINT) AS n_exact,
        |  CAST(e.est AS BIGINT) AS est,
        |  CAST(e.est - coalesce(x.n, 0) AS BIGINT) AS overcount
        |FROM est e LEFT JOIN ex x USING (custkey) ORDER BY custkey""".stripMargin,

    "x41_heavy_change" ->
      """WITH h(j, a, b) AS (VALUES
        |    (0, 252, 17), (1, 318, 31), (2, 232, 47), (3, 181, 61)),
        |ska AS (
        |  SELECT h.j AS j, ((o.o_custkey % 509) * h.a + h.b) % 509 AS bucket,
        |    count(*) AS c
        |  FROM orders o CROSS JOIN h
        |  WHERE o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |  GROUP BY 1, 2),
        |skb AS (
        |  SELECT h.j AS j, ((o.o_custkey % 509) * h.a + h.b) % 509 AS bucket,
        |    count(*) AS c
        |  FROM orders o CROSS JOIN h
        |  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  GROUP BY 1, 2),
        |probe AS (SELECT c_custkey AS custkey FROM customer),
        |est AS (
        |  SELECT p.custkey,
        |    min(coalesce(sa.c, 0)) AS est_a, min(coalesce(sb.c, 0)) AS est_b
        |  FROM probe p CROSS JOIN h
        |  LEFT JOIN ska sa ON sa.j = h.j
        |    AND sa.bucket = ((p.custkey % 509) * h.a + h.b) % 509
        |  LEFT JOIN skb sb ON sb.j = h.j
        |    AND sb.bucket = ((p.custkey % 509) * h.a + h.b) % 509
        |  GROUP BY 1),
        |exa AS (SELECT o_custkey AS custkey, count(*) AS n FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00' GROUP BY 1),
        |exb AS (SELECT o_custkey AS custkey, count(*) AS n FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' GROUP BY 1)
        |SELECT e.custkey, CAST(e.est_a AS BIGINT) AS est_a,
        |  CAST(e.est_b AS BIGINT) AS est_b,
        |  CAST(e.est_b - e.est_a AS BIGINT) AS d_est,
        |  CAST(coalesce(xb.n, 0) - coalesce(xa.n, 0) AS BIGINT) AS d_exact
        |FROM est e LEFT JOIN exa xa USING (custkey)
        |  LEFT JOIN exb xb USING (custkey)
        |ORDER BY custkey""".stripMargin,

    "x35_scalar_quant" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(i AS BIGINT) AS pos,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) t(i)),
        |s AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM e GROUP BY pos)
        |SELECT e.vec_id, e.pos,
        |  CASE WHEN s.mx = s.mn THEN 0
        |       ELSE greatest(0, least(255,
        |         CAST(floor((e.v - s.mn) / ((s.mx - s.mn) / 255.0)) AS BIGINT)))
        |  END AS code
        |FROM e JOIN s USING (pos)
        |ORDER BY vec_id, pos""".stripMargin,

    // PQ: seeds are the 16 smallest-id vectors; codeword j of subspace s
    // is that vector's dims [s*8+1, s*8+8] (1-based). Distances are
    // double-exact (cast-then-subtract-then-square, summed in element
    // order) so the argmin matches Spark's codegen loop bit-for-bit.
    "x38_pq_encode" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v AS cv
        |  FROM e ORDER BY vec_id LIMIT 16),
        |dists AS (
        |  SELECT e.vec_id, t.s, seeds.code,
        |    list_sum(list_transform(range(1, 9), i ->
        |      (v[CAST(t.s*8 + i AS INT)] - cv[CAST(t.s*8 + i AS INT)])
        |        * (v[CAST(t.s*8 + i AS INT)] - cv[CAST(t.s*8 + i AS INT)]))) AS d
        |  FROM e CROSS JOIN range(0, 8) t(s) CROSS JOIN seeds),
        |best AS (
        |  SELECT vec_id, s, code,
        |    row_number() OVER (PARTITION BY vec_id, s
        |      ORDER BY d ASC, code ASC) AS rn
        |  FROM dists)
        |SELECT vec_id, CAST(s AS BIGINT) AS sub, CAST(code AS BIGINT) AS code
        |FROM best WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin,

    // IVF-PQ: x21's cosine cell assignment + x38's encode + x40's ADC
    // ranking, with the candidate set restricted to each query's nprobe
    // nearest cells
    "x44_ivfpq_topk" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
        |assigned AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM e CROSS JOIN cent c) WHERE rn = 1),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v AS cv
        |  FROM e ORDER BY vec_id LIMIT 16),
        |dists0 AS (
        |  SELECT e.vec_id, t.s, seeds.code,
        |    list_sum(list_transform(range(1, 9), i ->
        |      (v[CAST(t.s*8 + i AS INT)] - cv[CAST(t.s*8 + i AS INT)])
        |        * (v[CAST(t.s*8 + i AS INT)] - cv[CAST(t.s*8 + i AS INT)]))) AS d
        |  FROM e CROSS JOIN range(0, 8) t(s) CROSS JOIN seeds),
        |enc AS (
        |  SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |      row_number() OVER (PARTITION BY vec_id, s
        |        ORDER BY d ASC, code ASC) AS rn
        |    FROM dists0) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |probes AS (
        |  SELECT query_id, cid FROM (
        |    SELECT q.query_id, c.cid,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY
        |        list_dot_product(q.qv, c.cv) /
        |          (sqrt(list_dot_product(q.qv, q.qv)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM q CROSS JOIN cent c) WHERE rn <= 2),
        |cb AS (
        |  SELECT t.s, seeds.code,
        |    list_transform(range(1, 9), i -> cv[CAST(t.s*8 + i AS INT)]) AS cw
        |  FROM seeds CROSS JOIN range(0, 8) t(s)),
        |lut AS (
        |  SELECT query_id, s, code,
        |    CAST(list_dot_product(qs, qs) - 2*list_dot_product(qs, cw)
        |      + list_dot_product(cw, cw) AS DECIMAL(28,12)) AS d
        |  FROM (
        |    SELECT q.query_id, cb.s, cb.code, cb.cw,
        |      list_transform(range(1, 9), i -> q.qv[CAST(cb.s*8 + i AS INT)]) AS qs
        |    FROM q CROSS JOIN cb)),
        |dist AS (
        |  SELECT l.query_id, enc.vec_id AS neighbor_id, sum(l.d) AS dd
        |  FROM enc
        |  JOIN assigned a ON a.vec_id = enc.vec_id
        |  JOIN probes p ON p.cid = a.cid
        |  JOIN lut l ON l.query_id = p.query_id
        |    AND l.s = enc.s AND l.code = enc.code
        |  WHERE l.query_id <> enc.vec_id
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT query_id, neighbor_id, dd,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dd ASC, neighbor_id ASC) AS rank
        |  FROM dist)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |  CAST(CAST(dd AS VARCHAR) AS DOUBLE) AS dist
        |FROM top WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // PQ + 1 Lloyd step: seed-encode (x38's CTEs), re-estimate each
    // codeword as the exact-decimal elementwise mean of its members
    // (x24's decimal-mean pattern; empty codewords coalesce to the
    // seed), then re-encode against the refined codebook
    "x43_pq_refined" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v AS cv
        |  FROM e ORDER BY vec_id LIMIT 16),
        |dists0 AS (
        |  SELECT e.vec_id, t.s, seeds.code,
        |    list_sum(list_transform(range(1, 9), i ->
        |      (v[CAST(t.s*8 + i AS INT)] - cv[CAST(t.s*8 + i AS INT)])
        |        * (v[CAST(t.s*8 + i AS INT)] - cv[CAST(t.s*8 + i AS INT)]))) AS d
        |  FROM e CROSS JOIN range(0, 8) t(s) CROSS JOIN seeds),
        |enc0 AS (
        |  SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |      row_number() OVER (PARTITION BY vec_id, s
        |        ORDER BY d ASC, code ASC) AS rn
        |    FROM dists0) WHERE rn = 1),
        |means AS (
        |  SELECT a.s, a.code, (t.i - 1) % 8 AS ii,
        |    CAST(CAST(sum(CAST(e.v[t.i] AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)
        |      / count(*) AS mv
        |  FROM e CROSS JOIN range(1, 65) t(i)
        |  JOIN enc0 a ON a.vec_id = e.vec_id AND a.s = (t.i - 1) // 8
        |  GROUP BY 1, 2, 3),
        |cb0 AS (
        |  SELECT t.s, seeds.code,
        |    list_transform(range(1, 9), i -> cv[CAST(t.s*8 + i AS INT)]) AS cw
        |  FROM seeds CROSS JOIN range(0, 8) t(s)),
        |cb1e AS (
        |  SELECT cb0.s, cb0.code, t.ii,
        |    coalesce(mn.mv, cb0.cw[CAST(t.ii + 1 AS INT)]) AS val
        |  FROM cb0 CROSS JOIN range(0, 8) t(ii)
        |  LEFT JOIN means mn
        |    ON mn.s = cb0.s AND mn.code = cb0.code AND mn.ii = t.ii),
        |cb1 AS (SELECT s, code, list(val ORDER BY ii) AS cw
        |  FROM cb1e GROUP BY 1, 2),
        |dists1 AS (
        |  SELECT e.vec_id, c.s, c.code,
        |    list_sum(list_transform(range(1, 9), i ->
        |      (v[CAST(c.s*8 + i AS INT)] - c.cw[CAST(i AS INT)])
        |        * (v[CAST(c.s*8 + i AS INT)] - c.cw[CAST(i AS INT)]))) AS d
        |  FROM e CROSS JOIN cb1 c)
        |SELECT vec_id, CAST(s AS BIGINT) AS sub, CAST(code AS BIGINT) AS code
        |FROM (
        |  SELECT vec_id, s, code,
        |    row_number() OVER (PARTITION BY vec_id, s
        |      ORDER BY d ASC, code ASC) AS rn
        |  FROM dists1) WHERE rn = 1
        |ORDER BY vec_id, sub""".stripMargin,

    // ADC: encode CTE is x38's; subspace distances use the same 3-dot
    // expansion as the Spark side, decimal-cast before the sum so the
    // ranking matches under any accumulation order; dist leaves through
    // the varchar→double boundary cast (DuckDB's direct decimal→double
    // is 1 ULP off past 2^53)
    "x40_adc_topk" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v AS cv
        |  FROM e ORDER BY vec_id LIMIT 16),
        |cb AS (
        |  SELECT t.s, seeds.code,
        |    list_transform(range(1, 9), i -> cv[CAST(t.s*8 + i AS INT)]) AS cw
        |  FROM seeds CROSS JOIN range(0, 8) t(s)),
        |dists AS (
        |  SELECT e.vec_id, t.s, seeds.code,
        |    list_sum(list_transform(range(1, 9), i ->
        |      (v[CAST(t.s*8 + i AS INT)] - cv[CAST(t.s*8 + i AS INT)])
        |        * (v[CAST(t.s*8 + i AS INT)] - cv[CAST(t.s*8 + i AS INT)]))) AS d
        |  FROM e CROSS JOIN range(0, 8) t(s) CROSS JOIN seeds),
        |enc AS (
        |  SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |      row_number() OVER (PARTITION BY vec_id, s
        |        ORDER BY d ASC, code ASC) AS rn
        |    FROM dists) WHERE rn = 1),
        |lut AS (
        |  SELECT query_id, s, code,
        |    CAST(list_dot_product(qs, qs) - 2*list_dot_product(qs, cw)
        |      + list_dot_product(cw, cw) AS DECIMAL(28,12)) AS d
        |  FROM (
        |    SELECT q.vec_id AS query_id, cb.s, cb.code, cb.cw,
        |      list_transform(range(1, 9), i -> q.v[CAST(cb.s*8 + i AS INT)]) AS qs
        |    FROM e q CROSS JOIN cb WHERE q.vec_id < 10)),
        |dist AS (
        |  SELECT l.query_id, enc.vec_id AS neighbor_id, sum(l.d) AS dd
        |  FROM enc JOIN lut l ON enc.s = l.s AND enc.code = l.code
        |  WHERE l.query_id <> enc.vec_id
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT query_id, neighbor_id, dd,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dd ASC, neighbor_id ASC) AS rank
        |  FROM dist)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |  CAST(CAST(dd AS VARCHAR) AS DOUBLE) AS dist
        |FROM top WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "x34_cross_modal" ->
      """SELECT d.lang, e.label, count(*) AS n,
        |  CAST(sum(len(regexp_split_to_array(trim(d.text), '\s+'))) AS BIGINT) AS total_tokens,
        |  CAST(CAST(sum(len(regexp_split_to_array(trim(d.text), '\s+'))) AS BIGINT) AS DOUBLE)
        |    / count(*) AS avg_tokens
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY 1, 2 ORDER BY lang, label""".stripMargin,

    // x42 is the bloom-GATED form of x33: the gate has no false
    // negatives and the exact join removes false positives, so the
    // result — and therefore the oracle — is identical to x33's
    "x42_bloom_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0)
        |SELECT tr.doc_id, count(*) AS n_shared
        |FROM tr JOIN ev ON tr.s = ev.s
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,

    "x33_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0)
        |SELECT tr.doc_id, count(*) AS n_shared
        |FROM tr JOIN ev ON tr.s = ev.s
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,

    "x53_contamination_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id AS train_id, s FROM sh WHERE doc_id % 97 <> 0)
        |SELECT tr.train_id, ev.eval_id, count(*) AS n_shared
        |FROM tr JOIN ev ON tr.s = ev.s
        |GROUP BY 1, 2 ORDER BY train_id, eval_id""".stripMargin,

    "x31_pipeline_stats" ->
      """WITH q AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x IN ('the','a','and','of','to','in','is','der','die','das','und',
        |                 'nicht','ist','el','los','que','y','es','una','le','les',
        |                 'et','est','une','dans','的','是','了','在','我'))) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')) AS stop_ratio,
        |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct_ratio
        |  FROM documents),
        |kept AS (
        |  SELECT min(doc_id) AS doc_id FROM q
        |  WHERE n_tokens >= 20 AND stop_ratio <= 0.5 AND punct_ratio <= 0.1
        |  GROUP BY md5(text))
        |SELECT CASE WHEN (((q.doc_id % 1000000007) * 654435747) % 1000000007) % 1000 < 800 THEN 'train'
        |            WHEN (((q.doc_id % 1000000007) * 654435747) % 1000000007) % 1000 < 900 THEN 'valid'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens
        |FROM q JOIN kept USING (doc_id)
        |GROUP BY 1 ORDER BY split""".stripMargin,

    "q26_grouping_sets" ->
      """SELECT CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_s,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_p,
        |  o_orderstatus, o_orderpriority,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |  count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderpriority), ())
        |ORDER BY g_s, g_p, o_orderstatus, o_orderpriority""".stripMargin,

    "q27_window_funcs" ->
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |  o_totalprice AS price,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  CAST(row_number() OVER w AS BIGINT) AS seq,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pr
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY custkey, seq""".stripMargin,

    // as-of tie-break mirrors AsOfJoinExec's required right ordering:
    // among equal (user, orderdate) the sort-greatest remaining tuple
    // wins, and o_orderkey (unique) decides before o_totalprice
    "q28_asof_planned" ->
      """WITH j AS (
        |  SELECT e.event_id, e.user_id, e.ts,
        |    o.o_orderdate, o.o_orderkey, o.o_totalprice,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e LEFT JOIN orders o
        |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
        |SELECT event_id, user_id, ts,
        |  o_orderdate AS asof_o_orderdate, o_orderkey AS asof_o_orderkey,
        |  o_totalprice AS asof_o_totalprice
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "q32_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey AS orderkey, o_totalprice AS price,
        |    o_orderstatus AS status
        |  FROM orders),
        |v1 AS (SELECT * FROM base WHERE orderkey % 5 <> 0),
        |v2 AS (
        |  SELECT orderkey,
        |    CASE WHEN orderkey % 3 = 0 THEN price + 1.0 ELSE price END AS price,
        |    status
        |  FROM base WHERE orderkey % 7 <> 0)
        |SELECT coalesce(v1.orderkey, v2.orderkey) AS orderkey,
        |  CASE WHEN v1.orderkey IS NULL THEN 'added'
        |       WHEN v2.orderkey IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change,
        |  v1.price AS old_price, v1.status AS old_status,
        |  v2.price AS new_price, v2.status AS new_status
        |FROM v1 FULL OUTER JOIN v2 ON v1.orderkey = v2.orderkey
        |WHERE v1.orderkey IS NULL OR v2.orderkey IS NULL
        |  OR v1.price IS DISTINCT FROM v2.price
        |  OR v1.status IS DISTINCT FROM v2.status
        |ORDER BY orderkey""".stripMargin,

    "q35_unpivot_measures" ->
      """SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
        |  m AS measure, v AS value
        |FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS m,
        |    CAST(l_quantity AS DOUBLE) AS v FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'extendedprice',
        |    CAST(l_extendedprice AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'discount',
        |    CAST(l_discount AS DOUBLE) FROM lineitem)
        |ORDER BY orderkey, linenumber, measure, value""".stripMargin,

    "q33_exists_agg" ->
      """SELECT o_orderpriority AS priority, count(*) AS n
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q34_not_exists" ->
      """WITH a AS (
        |  SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4)))
        |    AS VARCHAR) AS DOUBLE) / count(*) AS ab
        |  FROM customer)
        |SELECT c_mktsegment AS segment, count(*) AS n,
        |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4)))
        |    AS VARCHAR) AS DOUBLE) AS total_bal
        |FROM customer, a
        |WHERE c_acctbal > a.ab
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
        |      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q29_rolling_window" ->
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |    RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW)
        |    AS VARCHAR) AS DOUBLE) AS rolling_90d
        |FROM orders ORDER BY custkey, orderkey""".stripMargin,

    "q30_pivot" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS f_n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderstatus = 'F') AS VARCHAR) AS DOUBLE) AS f_rev,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS o_n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderstatus = 'O') AS VARCHAR) AS DOUBLE) AS o_rev,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS p_n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderstatus = 'P') AS VARCHAR) AS DOUBLE) AS p_rev
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin,

    "q31_gap_fill" ->
      """WITH o AS (SELECT * FROM orders WHERE o_custkey < 10),
        |base AS (
        |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS day,
        |    max(o_totalprice) AS obs
        |  FROM o GROUP BY 1, 2),
        |rng AS (
        |  SELECT o_custkey AS custkey,
        |    CAST(min(o_orderdate) AS DATE) AS mn,
        |    CAST(max(o_orderdate) AS DATE) AS mx
        |  FROM o GROUP BY 1),
        |spine AS (
        |  SELECT custkey,
        |    CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM rng)
        |SELECT s.custkey, s.day,
        |  last_value(b.obs IGNORE NULLS) OVER (
        |    PARTITION BY s.custkey ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price
        |FROM spine s LEFT JOIN base b
        |  ON b.custkey = s.custkey AND b.day = s.day
        |ORDER BY s.custkey, s.day""".stripMargin,

    "x22_approx_distinct" ->
      """SELECT l_returnflag, occupied, exact,
        |  CAST(occupied AS DOUBLE) / 65536.0 AS est_ratio
        |FROM (
        |  SELECT l_returnflag,
        |    count(DISTINCT (((l_partkey % 1000000007) * 654435747) % 1000000007) % 65536) AS occupied,
        |    count(DISTINCT l_partkey) AS exact
        |  FROM lineitem GROUP BY 1) t
        |ORDER BY l_returnflag""".stripMargin,

    "x23_pii_audit" ->
      """WITH t AS (
        |  SELECT doc_id, concat(text, ' Contact user', doc_id,
        |    '@example.com via ', 'https://ex.com/u/', doc_id,
        |    ' or +1 555-000-', lpad(CAST(doc_id AS VARCHAR), 4, '0'),
        |    ' at 10.0.0.', CAST(doc_id % 256 AS VARCHAR), '.') AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(txt, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(txt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(txt,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(txt,
        |    '\+?[0-9][0-9() -]{7,}[0-9]')) AS BIGINT) AS n_phones
        |FROM t ORDER BY doc_id""".stripMargin,

    "x24_ivf_kmeans" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8),
        |assigned AS (
        |  SELECT vec_id, v, cid FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM emb e CROSS JOIN cent c) t WHERE rn = 1)
        |SELECT cid, CAST(i AS INTEGER) AS pos,
        |  CAST(CAST(sum(CAST(v[i] AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) / count(*) AS centroid,
        |  count(*) AS n
        |FROM assigned, range(1, 65) t(i)
        |GROUP BY 1, 2 ORDER BY cid, pos""".stripMargin,

    "x08_lang_id" ->
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x IN ('the','a','and','of','to','in','is'))) AS s_en,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x IN ('der','die','das','und','nicht','ist'))) AS s_de,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x IN ('el','los','que','y','es','una'))) AS s_es,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x IN ('le','les','et','est','une','dans'))) AS s_fr,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x IN ('的','是','了','在','我'))) AS s_zh
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN s_en = g AND s_en > 0 THEN 'en'
        |       WHEN s_de = g AND s_de > 0 THEN 'de'
        |       WHEN s_es = g AND s_es > 0 THEN 'es'
        |       WHEN s_fr = g AND s_fr > 0 THEN 'fr'
        |       WHEN s_zh = g AND s_zh > 0 THEN 'zh'
        |       ELSE 'en' END AS lang_pred
        |FROM (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS g FROM sc) t
        |ORDER BY doc_id""".stripMargin,

    "x09_quality" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> x IN ('the','a','and','of','to','in','is','der','die','das','und',
        |               'nicht','ist','el','los','que','y','es','una','le','les',
        |               'et','est','une','dans','的','是','了','在','我'))) AS BIGINT) AS n_stopwords,
        |  CAST(length(text) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\s+')) AS avg_token_len,
        |  CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> x IN ('the','a','and','of','to','in','is','der','die','das','und',
        |               'nicht','ist','el','los','que','y','es','una','le','les',
        |               'et','est','une','dans','的','是','了','在','我'))) AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '\s+')) AS stopword_ratio,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |    / length(text) AS punct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x10_token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x11_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x12_tumbling" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "x13_sliding" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(TIMESTAMP '1970-01-01' + INTERVAL (CAST(floor(epoch(ts)/1800)*1800 AS BIGINT)) SECOND AS TIMESTAMP) AS bk
        |  FROM events)
        |SELECT ws, event_type, count(*) AS n FROM (
        |  SELECT unnest([bk, bk - INTERVAL 30 MINUTE]) AS ws, event_type FROM b) t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "x14_session" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM flagged)
        |SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events
        |FROM sess GROUP BY 1, 2 ORDER BY user_id, sid""".stripMargin,

    "x15_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       sha256(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Domain pipelines run on bundled golden fixtures, so their oracles
    // are literal expected outputs (independently asserted in ScalaTest
    // from the reference's semantics, SURVEY §2/§5).

    "d01_chain_pipeline" ->
      """SELECT CAST(d AS DATE) AS date, act_symbol, CAST(e AS DATE) AS expiration,
        |  CAST(CAST(strike AS DECIMAL(38,4)) AS DOUBLE) AS strike, call_put,
        |  CAST(CAST(bid AS DECIMAL(38,4)) AS DOUBLE) AS bid,
        |  CAST(CAST(ask AS DECIMAL(38,4)) AS DOUBLE) AS ask,
        |  CAST(CAST(model_value AS DECIMAL(38,4)) AS DOUBLE) AS model_value,
        |  CAST(CAST(vol AS DECIMAL(38,4)) AS DOUBLE) AS vol,
        |  CAST(CAST(delta AS DECIMAL(38,4)) AS DOUBLE) AS delta,
        |  CAST(CAST(gamma AS DECIMAL(38,4)) AS DOUBLE) AS gamma,
        |  CAST(CAST(theta AS DECIMAL(38,4)) AS DOUBLE) AS theta,
        |  CAST(CAST(vega AS DECIMAL(38,4)) AS DOUBLE) AS vega,
        |  CAST(CAST(rho AS DECIMAL(38,4)) AS DOUBLE) AS rho
        |FROM (VALUES
        | ('2024-01-15','AAA','2024-01-26',95.0,'Call',6.10,6.30,6.21,0.2550,0.7200,0.0310,-0.0450,0.1120,0.0500),
        | ('2024-01-15','AAA','2024-01-26',95.0,'Put',1.05,1.15,1.10,0.2600,-0.2800,0.0310,-0.0410,0.1120,-0.0200),
        | ('2024-01-15','AAA','2024-01-26',100.0,'Call',2.80,3.00,2.9012,0.2480,0.5100,0.0420,-0.0500,0.1300,0.0400),
        | ('2024-01-15','AAA','2024-01-26',100.0,'Put',2.75,2.95,2.85,0.2510,-0.4900,0.0420,-0.0480,0.1300,-0.0400),
        | ('2024-01-15','AAA','2024-02-23',100.0,'Call',4.10,4.40,4.25,0.2390,0.5300,0.0350,-0.0350,0.1800,0.0800),
        | ('2024-01-15','AAA','2024-02-23',100.0,'Put',3.90,4.20,4.05,0.2420,-0.4700,0.0350,-0.0330,0.1800,-0.0800),
        | ('2024-01-15','AAA','2024-03-22',100.0,'Call',5.60,5.90,5.75,0.2310,0.5500,0.0300,-0.0280,0.2200,0.1200),
        | ('2024-01-15','AAA','2024-03-22',100.0,'Put',5.10,5.40,5.25,0.2350,-0.4500,0.0300,-0.0260,0.2200,-0.1200),
        | ('2024-01-15','BBB','2024-02-16',5.0,'Call',0.55,0.65,0.60,0.4500,0.6000,0.1100,-0.0120,0.0200,0.0100),
        | ('2024-01-15','BBB','2024-02-16',5.0,'Put',0.35,0.45,0.40,0.4600,-0.4000,0.1100,-0.0110,0.0200,-0.0100),
        | ('2024-01-15','BBB','2024-02-16',7.5,'Call',0.10,0.20,0.15,0.4800,0.2000,0.0800,-0.0080,0.0150,0.0000),
        | ('2024-01-15','BBB','2024-02-16',7.5,'Put',2.40,2.60,2.50,0.4900,-0.8000,0.0800,-0.0070,0.0150,-0.0200)
        |) t(d, act_symbol, e, strike, call_put, bid, ask, model_value, vol, delta, gamma, theta, vega, rho)
        |ORDER BY act_symbol, expiration, strike, call_put""".stripMargin,

    "d02_volatility_html" ->
      """SELECT act_symbol, CAST(d AS DATE) AS date,
        |  CAST(CAST(hv_current AS DECIMAL(38,4)) AS DOUBLE) AS hv_current,
        |  CAST(CAST(hv_week_ago AS DECIMAL(38,4)) AS DOUBLE) AS hv_week_ago,
        |  CAST(NULL AS DOUBLE) AS hv_month_ago,
        |  CAST(CAST(hv_year_high AS DECIMAL(38,4)) AS DOUBLE) AS hv_year_high,
        |  CAST(hv_year_high_date AS DATE) AS hv_year_high_date,
        |  CAST(CAST(hv_year_low AS DECIMAL(38,4)) AS DOUBLE) AS hv_year_low,
        |  CAST(hv_year_low_date AS DATE) AS hv_year_low_date,
        |  CAST(CAST(iv_current AS DECIMAL(38,4)) AS DOUBLE) AS iv_current,
        |  CAST(NULL AS DOUBLE) AS iv_week_ago,
        |  CAST(NULL AS DOUBLE) AS iv_month_ago,
        |  CAST(NULL AS DOUBLE) AS iv_year_high,
        |  CAST(NULL AS DATE) AS iv_year_high_date,
        |  CAST(NULL AS DOUBLE) AS iv_year_low,
        |  CAST(NULL AS DATE) AS iv_year_low_date
        |FROM (VALUES
        | ('AAA','2024-01-15',0.2861,0.2915,0.6240,'2023-03-05',0.1820,'2023-02-28',12.3456)
        |) t(act_symbol, d, hv_current, hv_week_ago, hv_year_high,
        |    hv_year_high_date, hv_year_low, hv_year_low_date, iv_current)
        |ORDER BY act_symbol""".stripMargin,

    // d05 restores what it exported, so the oracle is the identity query
    // on the source slice — stronger than a golden VALUES table
    "d05_export_restore" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(o_orderdate AS DATE) AS date
        |FROM orders WHERE o_orderdate < TIMESTAMP '1995-02-01 00:00:00'
        |ORDER BY o_orderkey""".stripMargin,

    "d06_range_export" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderdate < TIMESTAMP '1995-02-01 00:00:00'
        |ORDER BY o_orderkey""".stripMargin,

    "d07_jsonl_export" ->
      """SELECT doc_id, lang, source, n_chars, text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d04_chain_html" ->
      """SELECT CAST(d AS DATE) AS date, act_symbol, CAST(e AS DATE) AS expiration,
        |  CAST(CAST(strike AS DECIMAL(38,4)) AS DOUBLE) AS strike, call_put,
        |  CAST(CAST(bid AS DECIMAL(38,4)) AS DOUBLE) AS bid,
        |  CAST(CAST(ask AS DECIMAL(38,4)) AS DOUBLE) AS ask,
        |  CAST(CAST(vol AS DECIMAL(38,4)) AS DOUBLE) AS vol,
        |  CAST(CAST(delta AS DECIMAL(38,4)) AS DOUBLE) AS delta,
        |  CAST(CAST(gamma AS DECIMAL(38,4)) AS DOUBLE) AS gamma,
        |  CAST(CAST(theta AS DECIMAL(38,4)) AS DOUBLE) AS theta,
        |  CAST(CAST(vega AS DECIMAL(38,4)) AS DOUBLE) AS vega,
        |  CAST(CAST(rho AS DECIMAL(38,4)) AS DOUBLE) AS rho
        |FROM (VALUES
        | ('2024-01-15','AAA','2024-01-26',95.0,'Call',6.10,6.30,0.2550,0.7200,0.0310,-0.0450,0.1120,0.0500),
        | ('2024-01-15','AAA','2024-01-26',95.0,'Put',1.05,1.15,0.2600,-0.2800,0.0310,-0.0410,0.1120,-0.0200),
        | ('2024-01-15','AAA','2024-02-23',100.5,'Call',4.10,4.40,0.2390,0.5300,0.0350,-0.0350,0.1800,0.0800),
        | ('2024-01-15','AAA','2024-02-23',100.5,'Put',3.90,4.20,0.2420,-0.4700,0.0350,-0.0330,0.1800,NULL)
        |) t(d, act_symbol, e, strike, call_put, bid, ask, vol, delta, gamma, theta, vega, rho)
        |ORDER BY expiration, strike, call_put""".stripMargin,

    // q36: fixture pipeline (three bundled roster files), literal
    // VALUES like the other d* goldens; values hand-derived from the
    // fold + containment semantics and re-derived by the upsert spec
    "q36_weeklies_asof" ->
      """SELECT CAST(a AS DATE) AS as_of, act_symbol,
        |       CAST(e AS DATE) AS effective_date,
        |       CAST(l AS DATE) AS last_seen
        |FROM (VALUES
        | ('2024-01-16','BRK.B','2024-01-12','2024-01-22'),
        | ('2024-01-25','MSFT','2024-01-19','2024-02-05'),
        | ('2024-02-05','AAPL','2024-02-02','2024-02-05'),
        | ('2024-02-05','MSFT','2024-01-19','2024-02-05'),
        | ('2024-02-05','TSLA','2024-02-02','2024-02-05')
        |) t(a, act_symbol, e, l)
        |ORDER BY as_of, act_symbol""".stripMargin,

    "d03_weeklies" ->
      """SELECT act_symbol, CAST(e AS DATE) AS effective_date,
        |       CAST(l AS DATE) AS last_seen
        |FROM (VALUES
        | ('AAPL','2024-01-13','2024-01-15'),
        | ('BRK.B','2024-01-12','2024-01-15'),
        | ('OLD','2023-01-01','2023-01-01'),
        | ('RDS.A','2024-01-05','2024-01-15')
        |) t(act_symbol, e, l)
        |ORDER BY act_symbol""".stripMargin,
    "x68_bigram_jm" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM (
        |    SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
        |c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS cnt1 FROM bi GROUP BY 1),
        |u AS (SELECT w2, sum(cnt2) AS cntu FROM c2 GROUP BY 1),
        |n AS (SELECT CAST(sum(cnt2) AS DOUBLE) AS nn FROM c2),
        |scored AS (
        |  SELECT b.doc_id,
        |    CAST(0.75e0 * (CAST(c2.cnt2 AS DOUBLE) / CAST(c1.cnt1 AS DOUBLE))
        |       + 0.25e0 * (CAST(u.cntu AS DOUBLE) / n.nn)
        |      AS DECIMAL(28,12)) AS p
        |  FROM bi b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  JOIN u USING (w2) CROSS JOIN n),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(CAST(sum(p) AS VARCHAR) AS DOUBLE) / count(*) AS bigram_score
        |  FROM scored GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  a.bigram_score
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // x70: DSIR importance score — target model trained on lang='en'
    // bigrams, background on all; add-k (0.5) smoothed conditionals
    // quantized DECIMAL(28,12) and summed SEPARATELY per doc (a
    // per-bigram ratio re-quantized hits HALF_UP-vs-HALF_EVEN ties —
    // the measured 0.9062457291125 case); one boundary division
    "x70_importance_ratio" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, lang, t[i] AS w1, t[i + 1] AS w2 FROM (
        |    SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i FROM toks)),
        |c2b AS (SELECT w1, w2, count(*) AS cnt2_b FROM bi GROUP BY 1, 2),
        |c1b AS (SELECT w1, count(*) AS cnt1_b FROM bi GROUP BY 1),
        |c2t AS (SELECT w1, w2, count(*) AS cnt2_t FROM bi
        |  WHERE lang = 'en' GROUP BY 1, 2),
        |c1t AS (SELECT w1, count(*) AS cnt1_t FROM bi
        |  WHERE lang = 'en' GROUP BY 1),
        |vb AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM bi),
        |vt AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM bi
        |  WHERE lang = 'en'),
        |scored AS (
        |  SELECT b.doc_id,
        |    CAST((CAST(coalesce(c2t.cnt2_t, 0) AS DOUBLE) + 0.5) /
        |         (CAST(coalesce(c1t.cnt1_t, 0) AS DOUBLE) + 0.5 * vt.v)
        |      AS DECIMAL(28,12)) AS pt,
        |    CAST((CAST(coalesce(c2b.cnt2_b, 0) AS DOUBLE) + 0.5) /
        |         (CAST(coalesce(c1b.cnt1_b, 0) AS DOUBLE) + 0.5 * vb.v)
        |      AS DECIMAL(28,12)) AS pb
        |  FROM bi b
        |  LEFT JOIN c2t USING (w1, w2) LEFT JOIN c1t USING (w1)
        |  LEFT JOIN c2b USING (w1, w2) LEFT JOIN c1b USING (w1)
        |  CROSS JOIN vt CROSS JOIN vb),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(CAST(sum(pt) AS VARCHAR) AS DOUBLE) /
        |      CAST(CAST(sum(pb) AS VARCHAR) AS DOUBLE) AS importance
        |  FROM scored GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  a.importance
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // x73: the DSIR selection pipeline — x70's scoring CTEs, then
    // per-source percent_rank (the x50 calibration formula, (rank−1)/
    // (n−1) with (importance, doc_id) tie-break) and the top-half cut
    "x73_dsir_select" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, lang, t[i] AS w1, t[i + 1] AS w2 FROM (
        |    SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i FROM toks)),
        |c2b AS (SELECT w1, w2, count(*) AS cnt2_b FROM bi GROUP BY 1, 2),
        |c1b AS (SELECT w1, count(*) AS cnt1_b FROM bi GROUP BY 1),
        |c2t AS (SELECT w1, w2, count(*) AS cnt2_t FROM bi
        |  WHERE lang = 'en' GROUP BY 1, 2),
        |c1t AS (SELECT w1, count(*) AS cnt1_t FROM bi
        |  WHERE lang = 'en' GROUP BY 1),
        |vb AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM bi),
        |vt AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM bi
        |  WHERE lang = 'en'),
        |scored AS (
        |  SELECT b.doc_id,
        |    CAST((CAST(coalesce(c2t.cnt2_t, 0) AS DOUBLE) + 0.5) /
        |         (CAST(coalesce(c1t.cnt1_t, 0) AS DOUBLE) + 0.5 * vt.v)
        |      AS DECIMAL(28,12)) AS pt,
        |    CAST((CAST(coalesce(c2b.cnt2_b, 0) AS DOUBLE) + 0.5) /
        |         (CAST(coalesce(c1b.cnt1_b, 0) AS DOUBLE) + 0.5 * vb.v)
        |      AS DECIMAL(28,12)) AS pb
        |  FROM bi b
        |  LEFT JOIN c2t USING (w1, w2) LEFT JOIN c1t USING (w1)
        |  LEFT JOIN c2b USING (w1, w2) LEFT JOIN c1b USING (w1)
        |  CROSS JOIN vt CROSS JOIN vb),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(CAST(sum(pt) AS VARCHAR) AS DOUBLE) /
        |      CAST(CAST(sum(pb) AS VARCHAR) AS DOUBLE) AS importance
        |  FROM scored GROUP BY 1),
        |cal AS (
        |  SELECT d.doc_id, d.source, a.importance,
        |    percent_rank() OVER (PARTITION BY d.source
        |      ORDER BY a.importance, d.doc_id) AS pct
        |  FROM documents d JOIN agg a USING (doc_id))
        |SELECT doc_id, source, importance, pct FROM cal
        |WHERE pct >= 0.5 ORDER BY doc_id""".stripMargin,

    // x72: duplicate-span fraction — set semantics on STRING shingles
    // (the x02 discipline: the statistic depends only on membership,
    // so the oracle needs no hash parity)
    "x72_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |dfc AS (SELECT s, count(*) AS docfreq FROM sh GROUP BY 1),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_windows,
        |    CAST(sum(CASE WHEN docfreq >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) AS dup_fraction
        |  FROM sh JOIN dfc USING (s) GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(a.n_windows, 0) AS BIGINT) AS n_windows,
        |  a.dup_fraction
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // x71: trigram JM backoff chain — trigram/bigram/unigram models
    // from the same token stream; the lambda1 coefficient must be
    // COMPUTED as 1e0 - 0.5e0 - 0.3e0 (the double 0.19999999999999998,
    // what Scala's 1.0 - lambda3 - lambda2 produces), never written as
    // the literal 0.2
    "x71_trigram_jm" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3 FROM (
        |    SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks)),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM (
        |    SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
        |c3 AS (SELECT w1, w2, w3, count(*) AS cnt3 FROM tri GROUP BY 1, 2, 3),
        |cctx AS (SELECT w1, w2, sum(cnt3) AS cctx FROM c3 GROUP BY 1, 2),
        |c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS cnt1 FROM bi GROUP BY 1),
        |u AS (SELECT w2, sum(cnt2) AS cntu FROM c2 GROUP BY 1),
        |n AS (SELECT CAST(sum(cnt2) AS DOUBLE) AS nn FROM c2),
        |scored AS (
        |  SELECT tr.doc_id,
        |    CAST(0.5e0 * coalesce(
        |        CAST(c3.cnt3 AS DOUBLE) / CAST(cc.cctx AS DOUBLE), 0e0)
        |      + 0.3e0 * coalesce(
        |        CAST(b2.cnt2 AS DOUBLE) / CAST(b1.cnt1 AS DOUBLE), 0e0)
        |      + (1e0 - 0.5e0 - 0.3e0) * coalesce(
        |        CAST(u.cntu AS DOUBLE) / n.nn, 0e0)
        |      AS DECIMAL(28,12)) AS p
        |  FROM tri tr
        |  LEFT JOIN c3 ON c3.w1 = tr.w1 AND c3.w2 = tr.w2 AND c3.w3 = tr.w3
        |  LEFT JOIN cctx cc ON cc.w1 = tr.w1 AND cc.w2 = tr.w2
        |  LEFT JOIN c2 b2 ON b2.w1 = tr.w2 AND b2.w2 = tr.w3
        |  LEFT JOIN c1 b1 ON b1.w1 = tr.w2
        |  LEFT JOIN u ON u.w2 = tr.w3
        |  CROSS JOIN n),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_trigrams,
        |    CAST(CAST(sum(p) AS VARCHAR) AS DOUBLE) / count(*) AS trigram_score
        |  FROM scored GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(a.n_trigrams, 0) AS BIGINT) AS n_trigrams,
        |  a.trigram_score
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // x69: one hot-cell split round over the 4-seed flat assignment —
    // x61's assignment CTE, then occupancy, per-hot-cell smallest-id
    // sub-seeds (least(64, ceil-div by 16)), cosine-argmax reassignment
    // with the identical rn tie-break, cold cells at sub = -1
    "x69_split_hot_cells" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 4),
        |a0 AS (
        |  SELECT vec_id, v, cid FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM e CROSS JOIN c0 c) WHERE rn = 1),
        |occ AS (SELECT cid, count(*) AS o FROM a0 GROUP BY 1),
        |hot AS (SELECT cid, least(64, (o + 15) // 16) AS nsub
        |  FROM occ WHERE o > 32),
        |seeds AS (
        |  SELECT cid, vec_id AS fid, v AS fv FROM (
        |    SELECT a0.cid, a0.vec_id, a0.v, h.nsub,
        |      row_number() OVER (PARTITION BY a0.cid ORDER BY a0.vec_id) AS rn
        |    FROM a0 JOIN hot h USING (cid))
        |  WHERE rn <= nsub),
        |split AS (
        |  SELECT vec_id, cid, fid AS sub FROM (
        |    SELECT a.vec_id, a.cid, s.fid,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_dot_product(a.v, s.fv) /
        |          (sqrt(list_dot_product(a.v, a.v)) *
        |           sqrt(list_dot_product(s.fv, s.fv))) DESC, s.fid) AS rn
        |    FROM a0 a JOIN seeds s ON a.cid = s.cid) WHERE rn = 1),
        |cold AS (
        |  SELECT vec_id, cid, CAST(-1 AS BIGINT) AS sub FROM a0
        |  WHERE cid NOT IN (SELECT cid FROM hot))
        |SELECT vec_id AS id, CAST(cid AS BIGINT) AS cid,
        |  CAST(sub AS BIGINT) AS sub
        |FROM (SELECT * FROM split UNION ALL SELECT * FROM cold)
        |ORDER BY id""".stripMargin,

    // x76: BM25 — ln quantized per TERM to DECIMAL(28,12) (the only
    // transcendental; a handful of values, no cross-engine tie on this
    // corpus); every other step is IEEE double arithmetic written in
    // the same left-to-right order as the Spark projection, including
    // the constants 2.2 = k1+1, 0.3 = k1(1-b), 0.8999999999999999 =
    // k1*b as the exact doubles the JVM computes. dl/avgdl is expanded
    // to dl*N/Σdl so no derived ratio is ever re-quantized
    "x76_bm25" ->
      """WITH tf AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(lower(text)), '\s+')) AS dl,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'spark')) AS tf0,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'join')) AS tf1,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'window')) AS tf2,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'dup')) AS tf3
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n, sum(dl) AS s,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
        |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
        |  FROM tf)
        |SELECT t.doc_id, CAST(t.dl AS BIGINT) AS n_tokens,
        |  CAST(
        |    CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df0 + 0.5e0)/(df0 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf0 * st.s) / (st.s * (tf0 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |  + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df1 + 0.5e0)/(df1 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf1 * st.s) / (st.s * (tf1 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |  + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df2 + 0.5e0)/(df2 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf2 * st.s) / (st.s * (tf2 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |  + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df3 + 0.5e0)/(df3 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf3 * st.s) / (st.s * (tf3 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |  AS DOUBLE) AS bm25
        |FROM tf t CROSS JOIN stats st
        |ORDER BY doc_id""".stripMargin,

    // x77: RRF fusion of the x76 BM25 list and an exact-cosine
    // query-by-example list. Both ranks are total orders over
    // bit-equal doubles (x76's bm25 discipline, x05/x06's cosine
    // contract), so the top-100 cuts and the integer ranks match;
    // rrf itself is two IEEE divisions summed left-to-right
    "x77_hybrid_rrf" ->
      """WITH tf AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(lower(text)), '\s+')) AS dl,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'spark')) AS tf0,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'join')) AS tf1,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'window')) AS tf2,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'dup')) AS tf3
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n, sum(dl) AS s,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
        |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
        |  FROM tf),
        |bm AS (
        |  SELECT t.doc_id,
        |    CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df0 + 0.5e0)/(df0 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf0 * st.s) / (st.s * (tf0 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |  + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df1 + 0.5e0)/(df1 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf1 * st.s) / (st.s * (tf1 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |  + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df2 + 0.5e0)/(df2 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf2 * st.s) / (st.s * (tf2 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |  + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df3 + 0.5e0)/(df3 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf3 * st.s) / (st.s * (tf3 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |    AS bm25
        |  FROM tf t CROSS JOIN stats st),
        |bt AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rb
        |  FROM bm ORDER BY bm25 DESC, doc_id LIMIT 100),
        |cs AS (
        |  SELECT c.vec_id AS doc_id,
        |    list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) /
        |    (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) *
        |     sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) AS cos
        |  FROM embeddings c CROSS JOIN
        |    (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  WHERE c.vec_id != 0),
        |ct AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INTEGER) AS rs
        |  FROM cs ORDER BY cos DESC, doc_id LIMIT 100),
        |fused AS (
        |  SELECT coalesce(bt.doc_id, ct.doc_id) AS doc_id,
        |    coalesce(1e0/(60 + rb), 0e0) + coalesce(1e0/(60 + rs), 0e0) AS rrf,
        |    rb, rs
        |  FROM bt FULL OUTER JOIN ct ON bt.doc_id = ct.doc_id)
        |SELECT * FROM (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rrf_rank,
        |    rb AS bm25_rank, rs AS cos_rank, rrf
        |  FROM fused) t
        |WHERE rrf_rank <= 20 ORDER BY rrf_rank""".stripMargin,

    // x78: TF-IDF keywords — idf = ln(N/df) quantized to DECIMAL(28,12)
    // per term (the only transcendental), score = tf·idf as an EXACT
    // decimal product, so the (score DESC, term) ranking never compares
    // cross-engine doubles; the double cast happens once at the boundary
    "x78_tfidf_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.term, t.tf,
        |    CAST(t.tf AS DECIMAL(9,0)) *
        |      CAST(ln(CAST(n.n AS DOUBLE) / d.df) AS DECIMAL(28,12)) AS score
        |  FROM tf t JOIN dfc d USING (term) CROSS JOIN n)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term,
        |  CAST(tf AS BIGINT) AS tf, CAST(score AS DOUBLE) AS tfidf
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term) AS rank
        |      FROM scored) s
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // x79: sliding-window chunking — pure integer/string arithmetic;
    // chunk_id = start/stride since starts are exact stride multiples;
    // list_slice clamps the tail like Spark's slice(length) does
    "x79_chunk_tokens" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
        |  FROM documents),
        |base AS (SELECT doc_id, arr, len(arr) AS dl FROM toks)
        |SELECT doc_id, CAST(s // 48 AS INTEGER) AS chunk_id,
        |  CAST(len(list_slice(arr, s + 1, least(s + 64, dl))) AS INTEGER)
        |    AS n_tokens,
        |  array_to_string(list_slice(arr, s + 1, least(s + 64, dl)), ' ')
        |    AS chunk_text
        |FROM base, unnest(generate_series(0, dl - 1, 48)) AS t(s)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // x80: PMI collocations — the ln argument is the same fixed IEEE
    // division chain as the Spark projection (never one big product,
    // which could pass 2^53); ln quantized once to DECIMAL(28,12) so
    // the (pmi, w1, w2) ranking compares exact decimals
    "x80_pmi_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |uni AS (SELECT unnest(arr) AS w FROM toks),
        |c1 AS (SELECT w, count(*) AS cnt1 FROM uni GROUP BY 1),
        |bi AS (
        |  SELECT arr[i] AS w1, arr[i + 1] AS w2
        |  FROM toks, unnest(generate_series(1, len(arr) - 1)) AS t(i)),
        |c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM bi GROUP BY 1, 2),
        |t1 AS (SELECT CAST(sum(cnt1) AS BIGINT) AS t1 FROM c1),
        |t2 AS (SELECT CAST(sum(cnt2) AS BIGINT) AS t2 FROM c2),
        |scored AS (
        |  SELECT c2.w1, c2.w2, c2.cnt2,
        |    CAST(ln(((CAST(cnt2 AS DOUBLE) / t2.t2) /
        |             (CAST(a.cnt1 AS DOUBLE) / t1.t1)) /
        |            (CAST(b.cnt1 AS DOUBLE) / t1.t1)) AS DECIMAL(28,12)) AS pmi
        |  FROM c2 JOIN c1 a ON c2.w1 = a.w JOIN c1 b ON c2.w2 = b.w
        |  CROSS JOIN t1 CROSS JOIN t2
        |  WHERE cnt2 >= 5)
        |SELECT w1, w2, CAST(cnt2 AS BIGINT) AS n_pair, CAST(pmi AS DOUBLE) AS pmi
        |FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin,

    // x81: multi-query BM25 — the x76 arithmetic per profile over the
    // union-of-terms tf/stats (term order within each profile fixes
    // the score's left-to-right sum); union order: spark shuffle join
    // window dup filter → tf0..tf5
    "x81_bm25_multi" ->
      """WITH tf AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(lower(text)), '\s+')) AS dl,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'spark')) AS tf0,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'shuffle')) AS tf1,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'join')) AS tf2,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'window')) AS tf3,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'dup')) AS tf4,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'filter')) AS tf5
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n, sum(dl) AS s,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
        |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3,
        |    sum(CASE WHEN tf4 > 0 THEN 1 ELSE 0 END) AS df4,
        |    sum(CASE WHEN tf5 > 0 THEN 1 ELSE 0 END) AS df5
        |  FROM tf),
        |scored AS (
        |  SELECT t.doc_id, 'q_spark' AS query_id, t.dl,
        |    CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df0 + 0.5e0)/(df0 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf0 * st.s) / (st.s * (tf0 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |  + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df1 + 0.5e0)/(df1 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf1 * st.s) / (st.s * (tf1 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |    AS bm25
        |  FROM tf t CROSS JOIN stats st
        |  UNION ALL
        |  SELECT t.doc_id, 'q_rel' AS query_id, t.dl,
        |    CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df2 + 0.5e0)/(df2 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf2 * st.s) / (st.s * (tf2 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |  + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df3 + 0.5e0)/(df3 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf3 * st.s) / (st.s * (tf3 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |    AS bm25
        |  FROM tf t CROSS JOIN stats st
        |  UNION ALL
        |  SELECT t.doc_id, 'q_dedup' AS query_id, t.dl,
        |    CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df4 + 0.5e0)/(df4 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf4 * st.s) / (st.s * (tf4 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |  + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df5 + 0.5e0)/(df5 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf5 * st.s) / (st.s * (tf5 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |    AS bm25
        |  FROM tf t CROSS JOIN stats st)
        |SELECT doc_id, query_id, CAST(dl AS BIGINT) AS n_tokens,
        |  CAST(bm25 AS DOUBLE) AS bm25
        |FROM scored ORDER BY doc_id, query_id""".stripMargin,

    // x82: passage dedup per doc — first occurrence of each distinct
    // non-overlapping 32-token window by (doc_id, chunk_id); pure
    // integer output
    "x82_passage_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
        |  FROM documents),
        |base AS (SELECT doc_id, arr, len(arr) AS dl FROM toks),
        |chunks AS (
        |  SELECT doc_id, CAST(s // 32 AS INTEGER) AS chunk_id,
        |    array_to_string(list_slice(arr, s + 1, least(s + 32, dl)), ' ')
        |      AS chunk_text
        |  FROM base, unnest(generate_series(0, dl - 1, 32)) AS t(s)),
        |ranked AS (
        |  SELECT doc_id, chunk_id,
        |    row_number() OVER (PARTITION BY chunk_text
        |      ORDER BY doc_id, chunk_id) AS rn
        |  FROM chunks)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // x83: temperature mixture — pow (the only transcendental) is
    // quantized once per GROUP to DECIMAL(28,12); the threshold is the
    // exact decimal ×1e6 floored; the row predicate is the integer
    // multiplicative hash with multiplier 0x51ed2701 % (1e9+7)
    "x83_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT min(n) AS nmin FROM c),
        |r AS (
        |  SELECT lang,
        |    floor(CAST(power(CAST(n AS DOUBLE) / m.nmin, -0.5e0)
        |          AS DECIMAL(28,12)) * 1000000) AS keep_ppm
        |  FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE (((doc_id % 1000000007) * 374496506) % 1000000007) % 1000000
        |  < keep_ppm
        |ORDER BY doc_id""".stripMargin,

    // x84: BM25-MaxP — the x76 arithmetic over 64/48 chunks (stats over
    // CHUNKS), per-doc argmax by (bm25 DESC, chunk_id), top-20 docs.
    // bm25 doubles are bit-equal per the x76 discipline, so the argmax
    // and the final cut order identically
    "x84_bm25_maxp" ->
      """WITH toksrc AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
        |  FROM documents),
        |base AS (SELECT doc_id, arr, len(arr) AS dl FROM toksrc),
        |chunks AS (
        |  SELECT doc_id, CAST(s // 48 AS INTEGER) AS chunk_id,
        |    array_to_string(list_slice(arr, s + 1, least(s + 64, dl)), ' ')
        |      AS chunk_text
        |  FROM base, unnest(generate_series(0, dl - 1, 48)) AS t(s)),
        |tf AS (
        |  SELECT doc_id, chunk_id,
        |    len(regexp_split_to_array(trim(lower(chunk_text)), '\s+')) AS cdl,
        |    len(list_filter(regexp_split_to_array(trim(lower(chunk_text)), '\s+'),
        |        x -> x = 'spark')) AS tf0,
        |    len(list_filter(regexp_split_to_array(trim(lower(chunk_text)), '\s+'),
        |        x -> x = 'join')) AS tf1,
        |    len(list_filter(regexp_split_to_array(trim(lower(chunk_text)), '\s+'),
        |        x -> x = 'window')) AS tf2,
        |    len(list_filter(regexp_split_to_array(trim(lower(chunk_text)), '\s+'),
        |        x -> x = 'dup')) AS tf3
        |  FROM chunks),
        |stats AS (
        |  SELECT count(*) AS n, sum(cdl) AS s,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
        |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
        |  FROM tf),
        |scored AS (
        |  SELECT t.doc_id, t.chunk_id,
        |    CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df0 + 0.5e0)/(df0 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf0 * st.s) / (st.s * (tf0 + 0.3e0) + 0.8999999999999999e0 * t.cdl * st.n))
        |  + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df1 + 0.5e0)/(df1 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf1 * st.s) / (st.s * (tf1 + 0.3e0) + 0.8999999999999999e0 * t.cdl * st.n))
        |  + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df2 + 0.5e0)/(df2 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf2 * st.s) / (st.s * (tf2 + 0.3e0) + 0.8999999999999999e0 * t.cdl * st.n))
        |  + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df3 + 0.5e0)/(df3 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf3 * st.s) / (st.s * (tf3 + 0.3e0) + 0.8999999999999999e0 * t.cdl * st.n))
        |    AS bm25
        |  FROM tf t CROSS JOIN stats st),
        |best AS (
        |  SELECT doc_id, chunk_id, bm25,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY bm25 DESC, chunk_id) AS rn
        |  FROM scored)
        |SELECT doc_id, CAST(chunk_id AS INTEGER) AS best_chunk,
        |  CAST(bm25 AS DOUBLE) AS maxp
        |FROM best WHERE rn = 1
        |ORDER BY maxp DESC, doc_id LIMIT 20""".stripMargin,

    // x85: chunk-grain near-dedup — non-overlapping 32-token windows
    // (the x82 chunking), 3-gram Jaccard >= 0.6 over LOWERCASED chunk
    // text (the x02 pair discipline, exact double division of exact
    // counts), connected components (the x16 recursive reach), and the
    // smallest composite doc-major key (doc_id*1e6 + chunk_id) wins —
    // so survivors agree with the engine's smallest-ckey rule
    "x85_chunk_near_dedup" ->
      """WITH RECURSIVE toksrc AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
        |  FROM documents),
        |base AS (SELECT doc_id, arr, len(arr) AS dl FROM toksrc),
        |chunks AS (
        |  SELECT doc_id, CAST(s // 32 AS INTEGER) AS chunk_id,
        |    doc_id * 1000000 + CAST(s // 32 AS INTEGER) AS ckey,
        |    array_to_string(list_slice(arr, s + 1, least(s + 32, dl)), ' ')
        |      AS chunk_text
        |  FROM base, unnest(generate_series(0, dl - 1, 32)) AS t(s)),
        |sh AS (
        |  SELECT DISTINCT ckey,
        |    unnest(list_transform(range(1, len(carr) - 1),
        |      i -> concat(carr[i], ' ', carr[i+1], ' ', carr[i+2]))) AS s
        |  FROM (SELECT ckey,
        |          regexp_split_to_array(trim(lower(chunk_text)), '\s+') AS carr
        |        FROM chunks)),
        |sizes AS (SELECT ckey, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.ckey AS k1, b.ckey AS k2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.ckey < b.ckey
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT k1, k2 FROM (
        |    SELECT k1, k2, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |    FROM inter
        |    JOIN sizes sa ON k1 = sa.ckey
        |    JOIN sizes sb ON k2 = sb.ckey) t
        |  WHERE jaccard >= 0.6),
        |edges AS (SELECT k1 AS a, k2 AS b FROM pairs
        |          UNION SELECT k2, k1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |dropped AS (
        |  SELECT src AS ckey FROM reach GROUP BY src HAVING min(dst) < src)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN ckey IN (SELECT ckey FROM dropped)
        |           THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
        |FROM chunks GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // x86: BM25 top-15 — the x76 score column cut by
    // (bm25 DESC, doc_id); scores are bit-equal per the x76 discipline
    // so the cut and the integer ranks match exactly
    "x86_bm25_topk" ->
      """WITH tf AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(lower(text)), '\s+')) AS dl,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'spark')) AS tf0,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'join')) AS tf1,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'window')) AS tf2,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> x = 'dup')) AS tf3
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n, sum(dl) AS s,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
        |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
        |  FROM tf),
        |scored AS (
        |  SELECT t.doc_id, t.dl,
        |    CAST(
        |      CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df0 + 0.5e0)/(df0 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |        * ((2.2e0 * tf0 * st.s) / (st.s * (tf0 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |    + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df1 + 0.5e0)/(df1 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |        * ((2.2e0 * tf1 * st.s) / (st.s * (tf1 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |    + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df2 + 0.5e0)/(df2 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |        * ((2.2e0 * tf2 * st.s) / (st.s * (tf2 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |    + CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df3 + 0.5e0)/(df3 + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |        * ((2.2e0 * tf3 * st.s) / (st.s * (tf3 + 0.3e0) + 0.8999999999999999e0 * t.dl * st.n))
        |    AS DOUBLE) AS bm25
        |  FROM tf t CROSS JOIN stats st)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
        |    AS rank,
        |  CAST(dl AS BIGINT) AS n_tokens, bm25
        |FROM scored ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin,

    // x87: ANN recall@5 — the x21 IVF pipeline and the x06 exact
    // ground truth joined per query; recall is one double division of
    // exact counts
    "x87_ann_recall" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8),
        |assigned AS (
        |  SELECT vec_id AS neighbor_id, v, cid FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM emb e CROSS JOIN cent c) t WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, v AS qv, cid FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM emb e CROSS JOIN cent c WHERE e.vec_id < 10) t WHERE rn <= 2),
        |ivf AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY list_dot_product(qv, v) /
        |          (sqrt(list_dot_product(qv, qv)) *
        |           sqrt(list_dot_product(v, v))) DESC, neighbor_id) AS rank
        |    FROM probes JOIN assigned USING (cid)
        |    WHERE query_id <> neighbor_id) t WHERE rank <= 5),
        |exact AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_dot_product(q.v, c.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) *
        |           sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id) AS rank
        |    FROM emb q JOIN emb c ON q.vec_id < 10 AND c.vec_id != q.vec_id) t
        |  WHERE rank <= 5)
        |SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*) AS recall
        |FROM exact e LEFT JOIN ivf i
        |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,

    // x88: greedy MMR re-ranking as a recursive CTE — the state row
    // carries the selected-id list; each recursion picks the argmax of
    // λ·rel − (1−λ)·max-cos-to-selected via a LATERAL top-1. The (1−λ)
    // coefficient is the DOUBLE result of 1 − 0.7 (the x71 lesson: both
    // engines compute it, neither reads a 0.3 literal) and the first
    // pick's max-sim term is literal 0.
    "x88_mmr_topk" ->
      """WITH RECURSIVE
        |q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qv,
        |    list_dot_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[])) AS qn
        |  FROM embeddings WHERE vec_id = 0),
        |pool AS (
        |  SELECT id, v, n2,
        |    list_dot_product(v, qv) / (sqrt(n2) * sqrt(qn)) AS rel
        |  FROM (
        |    SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS v,
        |      list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |        CAST(e.embedding AS DOUBLE[])) AS n2, q.qv, q.qn
        |    FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0) t
        |  WHERE n2 > 0
        |  ORDER BY rel DESC, id LIMIT 50),
        |sel AS (
        |  SELECT 1 AS rk, p.id, p.rel,
        |    CAST(0.7 AS DOUBLE) * p.rel
        |      - (CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * CAST(0 AS DOUBLE)
        |      AS mmr,
        |    [p.id] AS chosen
        |  FROM (SELECT id, rel FROM pool ORDER BY rel DESC, id LIMIT 1) p
        |  UNION ALL
        |  SELECT sel.rk + 1, pick.id, pick.rel, pick.mmr,
        |    list_append(sel.chosen, pick.id)
        |  FROM sel, LATERAL (
        |    SELECT c.id, c.rel,
        |      CAST(0.7 AS DOUBLE) * c.rel
        |        - (CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE)) *
        |          (SELECT max(list_dot_product(c.v, s.v)
        |                      / (sqrt(c.n2) * sqrt(s.n2)))
        |           FROM pool s WHERE list_contains(sel.chosen, s.id)) AS mmr
        |    FROM pool c WHERE NOT list_contains(sel.chosen, c.id)
        |    ORDER BY mmr DESC, c.id LIMIT 1) pick
        |  WHERE sel.rk < 10)
        |SELECT id AS vec_id, CAST(rk AS INTEGER) AS mmr_rank,
        |  rel AS relevance, mmr
        |FROM sel ORDER BY mmr_rank""".stripMargin,

    // x89: cross-corpus contamination — x72's span statistic across the
    // eval/training split; the oracle recomputes with string shingles
    // (the engine joins on xxhash64 of the same strings)
    "x89_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20),
        |agg AS (
        |  SELECT sh.doc_id, count(*) AS n_windows,
        |    CAST(sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) AS contamination
        |  FROM sh LEFT JOIN bench b ON sh.s = b.s
        |  WHERE sh.doc_id >= 20 GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(a.n_windows, 0) AS BIGINT) AS n_windows,
        |  a.contamination
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |WHERE d.doc_id >= 20
        |ORDER BY d.doc_id""".stripMargin,

    // x90: systematic PPS sampling — the oracle recomputes the
    // hash-ordered cumulative weight line and the same integer cut
    // predicate (// is BIGINT floor division, identical to Spark's
    // `div` for the non-negative values here)
    "x90_systematic_sample" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    (((doc_id % 1000000007) * 654435747) % 1000000007) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev,
        |    sum(n_tokens) OVER () AS total
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST((cum * 200) // total AS BIGINT) AS pick_idx
        |FROM c
        |WHERE (cum * 200) // total > (cum_prev * 200) // total
        |ORDER BY doc_id""".stripMargin,

    // x91: x64's bigram score wrapped in per-language NTILE(3) — null
    // placement EXPLICIT (engines disagree on default null order under
    // DESC); ntile cast to INTEGER to match Spark's type
    "x91_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM (
        |    SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
        |c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS cnt1 FROM bi GROUP BY 1),
        |scored AS (
        |  SELECT b.doc_id,
        |    CAST(CAST(c2.cnt2 AS DOUBLE) / c1.cnt1 AS DECIMAL(28,12)) AS p
        |  FROM bi b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(CAST(sum(p) AS VARCHAR) AS DOUBLE) / count(*) AS bigram_score
        |  FROM scored GROUP BY 1),
        |alldocs AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |    a.bigram_score
        |  FROM documents d LEFT JOIN agg a USING (doc_id))
        |SELECT doc_id, lang, n_bigrams, bigram_score,
        |  CAST(ntile(3) OVER (PARTITION BY lang
        |    ORDER BY bigram_score DESC NULLS LAST, doc_id) AS INTEGER)
        |    AS bucket
        |FROM alldocs ORDER BY doc_id""".stripMargin,

    // x92: the whole winnowing derivation recomputes in SQL — the
    // polynomial hash is chosen for exactly that (see Dedup.polyHash);
    // the lambda casts acc to BIGINT because acc*31 overflows INT32
    "x92_winnow_pairs" ->
      (s"WITH $winnowKeptChain,\n" +
        """|sizes AS (SELECT doc_id, count(*) AS nfp FROM kept GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
        |  CAST(sa.nfp AS BIGINT) AS nfp_a, CAST(sb.nfp AS BIGINT) AS nfp_b,
        |  CAST(n_shared AS DOUBLE) / least(sa.nfp, sb.nfp) AS overlap
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |ORDER BY id_a, id_b""".stripMargin),

    // x93: every fraction is one double division of exact integer
    // counts; stop_hits counts DISTINCT stopword types (array_intersect
    // semantics), not occurrences
    "x93_gopher_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words FROM toks),
        |words AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |chars AS (SELECT doc_id, sum(length(w)) AS chars FROM words GROUP BY 1),
        |stopc AS (
        |  SELECT doc_id, count(DISTINCT w) AS stop_hits FROM words
        |  WHERE w IN ('the', 'a', 'of', 'to', 'and', 'in', 'is', 'for')
        |  GROUP BY 1),
        |topw AS (
        |  SELECT doc_id, max(c) AS topc FROM (
        |    SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2)
        |  GROUP BY 1),
        |stats AS (
        |  SELECT b.doc_id, b.n_words,
        |    CASE WHEN b.n_words > 0
        |      THEN CAST(c.chars AS DOUBLE) / b.n_words END AS mean_wl,
        |    CAST(coalesce(s.stop_hits, 0) AS INTEGER) AS stop_hits,
        |    CASE WHEN b.n_words > 0
        |      THEN CAST(t.topc AS DOUBLE) / b.n_words END AS top_word_frac
        |  FROM base b
        |  LEFT JOIN chars c USING (doc_id)
        |  LEFT JOIN stopc s USING (doc_id)
        |  LEFT JOIN topw t USING (doc_id)),
        |flags AS (
        |  SELECT *,
        |    n_words BETWEEN 50 AND 100000 AS ok_words,
        |    mean_wl IS NOT NULL AND mean_wl BETWEEN 3.0e0 AND 10.0e0 AS ok_wl,
        |    stop_hits >= 2 AS ok_stop,
        |    top_word_frac IS NOT NULL AND top_word_frac <= 0.1e0 AS ok_top
        |  FROM stats)
        |SELECT doc_id, n_words, mean_wl, stop_hits, top_word_frac,
        |  ok_words, ok_wl, ok_stop, ok_top,
        |  ok_words AND ok_wl AND ok_stop AND ok_top AS gopher_pass
        |FROM flags ORDER BY doc_id""".stripMargin,

    // x94: 2·median and 4·MAD as exact sums of middle order statistics
    // (ties among equal values leave the order-statistic VALUE
    // unchanged, so row_number nondeterminism is harmless); the only
    // floating point is the final multiply-divide
    "x94_robust_z" ->
      """WITH v AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, n_tokens,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM v),
        |med AS (
        |  SELECT lang,
        |    max(CASE WHEN rn * 2 = n + (n % 2) THEN n_tokens END) +
        |    max(CASE WHEN rn * 2 = n + 2 - (n % 2) THEN n_tokens END) AS med2
        |  FROM r GROUP BY 1),
        |a AS (
        |  SELECT v.doc_id, v.lang, v.n_tokens, m.med2,
        |    abs(v.n_tokens * 2 - m.med2) AS ad
        |  FROM v JOIN med m USING (lang)),
        |r2 AS (
        |  SELECT lang, ad,
        |    row_number() OVER (PARTITION BY lang ORDER BY ad) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM a),
        |mad AS (
        |  SELECT lang,
        |    max(CASE WHEN rn * 2 = n + (n % 2) THEN ad END) +
        |    max(CASE WHEN rn * 2 = n + 2 - (n % 2) THEN ad END) AS mad4
        |  FROM r2 GROUP BY 1)
        |SELECT a.doc_id, a.lang, a.n_tokens,
        |  CASE WHEN m.mad4 > 0
        |    THEN CAST(a.n_tokens * 2 - a.med2 AS DOUBLE) * 2
        |      / (1.4826e0 * m.mad4) END AS z,
        |  coalesce(CASE WHEN m.mad4 > 0
        |    THEN abs(CAST(a.n_tokens * 2 - a.med2 AS DOUBLE) * 2
        |      / (1.4826e0 * m.mad4)) > 3.5e0 END, false) AS outlier
        |FROM a JOIN mad m USING (lang)
        |ORDER BY doc_id""".stripMargin,

    // x95: the x21 assignment skeleton (first-8 seeds, cosine argmax,
    // cid tie-break) + a within-cell rank; kept is integer arithmetic
    "x95_prototypicality" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8),
        |assigned AS (
        |  SELECT vec_id AS id, cid, cos FROM (
        |    SELECT e.vec_id, c.cid,
        |      list_dot_product(e.v, c.cv) /
        |        (sqrt(list_dot_product(e.v, e.v)) *
        |         sqrt(list_dot_product(c.cv, c.cv))) AS cos,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) *
        |           sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        |    FROM emb e CROSS JOIN cent c) t WHERE rn = 1),
        |ranked AS (
        |  SELECT id, cid,
        |    count(*) OVER (PARTITION BY cid) AS n_cell,
        |    row_number() OVER (PARTITION BY cid
        |      ORDER BY cos DESC, id) AS proto_rank
        |  FROM assigned)
        |SELECT id AS vec_id, cid, CAST(n_cell AS BIGINT) AS n_cell,
        |  CAST(proto_rank AS BIGINT) AS proto_rank,
        |  proto_rank * 2 > n_cell AS kept
        |FROM ranked ORDER BY vec_id""".stripMargin,

    // x96: the five stage oracles (x93 quality, x11-style fingerprint,
    // x92 winnowing + x16 reach, x89 contamination, x94 robust z)
    // composed SEQUENTIALLY — each stage's CTE restricted to the
    // previous stage's survivor set, exactly as the engine runs them
    "x96_corpus_prep" ->
      """WITH RECURSIVE
        |train AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id >= 20),
        |ntk AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM train),
        |gtoks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM train),
        |gbase AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words FROM gtoks),
        |gwords AS (SELECT doc_id, unnest(t) AS w FROM gtoks),
        |gchars AS (SELECT doc_id, sum(length(w)) AS chars FROM gwords
        |           GROUP BY 1),
        |gstop AS (
        |  SELECT doc_id, count(DISTINCT w) AS stop_hits FROM gwords
        |  WHERE w IN ('the', 'a', 'of', 'to', 'and', 'in', 'is', 'for')
        |  GROUP BY 1),
        |gtop AS (
        |  SELECT doc_id, max(c) AS topc FROM (
        |    SELECT doc_id, w, count(*) AS c FROM gwords GROUP BY 1, 2)
        |  GROUP BY 1),
        |quality AS (
        |  SELECT doc_id,
        |    (n_words BETWEEN 50 AND 100000)
        |    AND (mean_wl IS NOT NULL AND mean_wl BETWEEN 3.0e0 AND 10.0e0)
        |    AND (stop_hits >= 2)
        |    AND (top_word_frac IS NOT NULL AND top_word_frac <= 0.1e0)
        |      AS ok_quality
        |  FROM (
        |    SELECT b.doc_id, b.n_words,
        |      CASE WHEN b.n_words > 0
        |        THEN CAST(c.chars AS DOUBLE) / b.n_words END AS mean_wl,
        |      coalesce(s.stop_hits, 0) AS stop_hits,
        |      CASE WHEN b.n_words > 0
        |        THEN CAST(t.topc AS DOUBLE) / b.n_words END AS top_word_frac
        |    FROM gbase b
        |    LEFT JOIN gchars c USING (doc_id)
        |    LEFT JOIN gstop s USING (doc_id)
        |    LEFT JOIN gtop t USING (doc_id))),
        |s1 AS (SELECT doc_id FROM quality WHERE ok_quality),
        |fps AS (
        |  SELECT t.doc_id,
        |    md5(trim(regexp_replace(lower(t.text), '[^a-z0-9]+', ' ', 'g')))
        |      AS fp
        |  FROM train t JOIN s1 USING (doc_id)),
        |keepfp AS (SELECT fp, min(doc_id) AS keeper FROM fps GROUP BY 1),
        |exactflag AS (
        |  SELECT doc_id, doc_id <> keeper AS exact_dup
        |  FROM fps JOIN keepfp USING (fp)),
        |s2 AS (SELECT doc_id FROM exactflag WHERE NOT exact_dup),
        |wsh AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]) AS s
        |  FROM (SELECT g.doc_id, g.t AS arr, unnest(range(1, len(g.t) - 1))
        |          AS i
        |        FROM gtoks g JOIN s2 USING (doc_id))),
        |whash AS (
        |  SELECT doc_id, pos,
        |    CAST(list_reduce(list_transform(range(1, length(s) + 1),
        |        j -> ascii(substring(s, j, 1))),
        |      (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |      AS BIGINT) AS h
        |  FROM wsh),
        |wwin AS (
        |  SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |    count(*) OVER (PARTITION BY doc_id) AS m
        |  FROM whash),
        |wfp AS (
        |  SELECT DISTINCT doc_id, wmin AS fp FROM wwin
        |  WHERE pos <= greatest(0, CAST(m AS INTEGER) - 4)),
        |wkept AS (
        |  SELECT f.doc_id, f.fp FROM wfp f
        |  JOIN (SELECT fp, count(*) AS dfc FROM wfp GROUP BY 1) d USING (fp)
        |  WHERE d.dfc <= 50),
        |wpairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM wkept a JOIN wkept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS (SELECT d1 AS a, d2 AS b FROM wpairs
        |          UNION SELECT d2, d1 FROM wpairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |neardrop AS (
        |  SELECT src AS doc_id FROM reach GROUP BY src HAVING min(dst) < src),
        |nearflag AS (
        |  SELECT doc_id,
        |    doc_id IN (SELECT doc_id FROM neardrop) AS near_dup
        |  FROM s2),
        |s3 AS (SELECT doc_id FROM nearflag WHERE NOT near_dup),
        |csh AS (
        |  SELECT DISTINCT g.doc_id,
        |    unnest(list_transform(range(1, len(g.t) - 1),
        |      i -> concat(g.t[i], ' ', g.t[i+1], ' ', g.t[i+2]))) AS s
        |  FROM gtoks g JOIN s3 USING (doc_id)),
        |btoks AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE doc_id < 20),
        |bsp AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, len(t) - 1),
        |    i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))) AS s
        |  FROM btoks),
        |contflag AS (
        |  SELECT s3.doc_id, a.contamination,
        |    coalesce(a.contamination > 0.2e0, false) AS contaminated
        |  FROM s3 LEFT JOIN (
        |    SELECT c.doc_id,
        |      CAST(sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)
        |        AS DOUBLE) / count(*) AS contamination
        |    FROM csh c LEFT JOIN bsp b ON c.s = b.s GROUP BY 1) a
        |  USING (doc_id)),
        |s4 AS (SELECT doc_id FROM contflag WHERE NOT contaminated),
        |zv AS (
        |  SELECT n.doc_id, t.lang, n.n_tokens
        |  FROM ntk n JOIN train t USING (doc_id) JOIN s4 USING (doc_id)),
        |zr AS (
        |  SELECT doc_id, lang, n_tokens,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM zv),
        |zmed AS (
        |  SELECT lang,
        |    max(CASE WHEN rn * 2 = n + (n % 2) THEN n_tokens END) +
        |    max(CASE WHEN rn * 2 = n + 2 - (n % 2) THEN n_tokens END) AS med2
        |  FROM zr GROUP BY 1),
        |za AS (
        |  SELECT v.doc_id, v.lang, v.n_tokens, m.med2,
        |    abs(v.n_tokens * 2 - m.med2) AS ad
        |  FROM zv v JOIN zmed m USING (lang)),
        |zr2 AS (
        |  SELECT lang, ad,
        |    row_number() OVER (PARTITION BY lang ORDER BY ad) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM za),
        |zmad AS (
        |  SELECT lang,
        |    max(CASE WHEN rn * 2 = n + (n % 2) THEN ad END) +
        |    max(CASE WHEN rn * 2 = n + 2 - (n % 2) THEN ad END) AS mad4
        |  FROM zr2 GROUP BY 1),
        |zflag AS (
        |  SELECT a.doc_id,
        |    CASE WHEN m.mad4 > 0
        |      THEN CAST(a.n_tokens * 2 - a.med2 AS DOUBLE) * 2
        |        / (1.4826e0 * m.mad4) END AS z,
        |    coalesce(CASE WHEN m.mad4 > 0
        |      THEN abs(CAST(a.n_tokens * 2 - a.med2 AS DOUBLE) * 2
        |        / (1.4826e0 * m.mad4)) > 3.5e0 END, false) AS len_outlier
        |  FROM za a JOIN zmad m USING (lang))
        |SELECT t.doc_id, t.lang, n.n_tokens,
        |  q.ok_quality, e.exact_dup, nf.near_dup,
        |  cf.contamination, cf.contaminated, zf.z, zf.len_outlier,
        |  coalesce(q.ok_quality AND NOT e.exact_dup AND NOT nf.near_dup
        |    AND NOT cf.contaminated AND NOT zf.len_outlier, false) AS kept
        |FROM train t
        |JOIN ntk n USING (doc_id)
        |JOIN quality q USING (doc_id)
        |LEFT JOIN exactflag e USING (doc_id)
        |LEFT JOIN nearflag nf USING (doc_id)
        |LEFT JOIN contflag cf USING (doc_id)
        |LEFT JOIN zflag zf USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // x97: the hashing-trick vectorization recomputes end to end — the
    // polynomial hash is the x92 expression; a zero-length token (the
    // empty-document tokenization artifact) hashes to 0 by definition
    "x97_feature_hash" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |words AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |h AS (
        |  SELECT doc_id,
        |    (CASE WHEN length(w) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(w) + 1),
        |         j -> ascii(substring(w, j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) % 64 AS bucket
        |  FROM words)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS tf
        |FROM h GROUP BY 1, 2
        |ORDER BY doc_id, bucket""".stripMargin,

    // x98: ascending-capacity waterfilling as a sequential recursive
    // CTE — step rn of n allocates min(cap, remaining // (n - rn + 1));
    // // is BIGINT floor division, identical to the engine's Long /
    "x98_unimax_mix" ->
      """WITH RECURSIVE src AS (
        |  SELECT CAST(source AS VARCHAR) AS source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |ord AS (
        |  SELECT source, n_docs, n_tokens, n_tokens * 1 AS cap_tokens,
        |    row_number() OVER (ORDER BY n_tokens * 1, source) AS rn,
        |    count(*) OVER () AS n
        |  FROM src),
        |walk(rn, remaining, alloc_tokens) AS (
        |  SELECT 0, CAST(25000 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT o.rn,
        |    w.remaining - least(o.cap_tokens,
        |      w.remaining // (o.n - o.rn + 1)),
        |    least(o.cap_tokens, w.remaining // (o.n - o.rn + 1))
        |  FROM walk w JOIN ord o ON o.rn = w.rn + 1)
        |SELECT o.source, o.n_docs, o.n_tokens, o.cap_tokens,
        |  w.alloc_tokens,
        |  CAST(CASE WHEN o.n_tokens <= 0 THEN 0
        |    ELSE least(1000000, w.alloc_tokens * 1000000 // o.n_tokens)
        |    END AS BIGINT) AS rate_ppm
        |FROM walk w JOIN ord o USING (rn)
        |ORDER BY o.source""".stripMargin,

    // x99: the weighted-SimHash derivation recomputes END TO END —
    // idf is the one transcendental (quantized once, the x78 recipe),
    // each signature bit is the sign of an exact DECIMAL(38,12) sum,
    // and the term hash is the portable polynomial composite
    "x99_weighted_simhash" ->
      (s"WITH $simhashPairChain\n" +
        """|SELECT c.id_a, c.id_b,
        |  CAST(bit_count(xor(sa.sig, sb.sig)) AS INTEGER) AS hamming
        |FROM cand c
        |JOIN sig sa ON c.id_a = sa.doc_id
        |JOIN sig sb ON c.id_b = sb.doc_id
        |WHERE bit_count(xor(sa.sig, sb.sig)) <= 3
        |ORDER BY c.id_a, c.id_b""".stripMargin),

    // x100: three BPE rounds chained — each round's argmax pair feeds
    // the next round's rewrite; the rewrite is the SAME seeded left
    // fold the engine runs (list_reduce seeds with the first element,
    // matching Spark's aggregate(slice(2..), first, ...)), so greedy
    // left-to-right non-overlap agrees symbol for symbol
    "x100_bpe_merges" ->
      """WITH w0 AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |      AS w
        |    FROM documents)
        |  WHERE length(w) > 0 GROUP BY 1),
        |s0 AS (
        |  SELECT freq, list_transform(range(1, length(w) + 1),
        |    i -> substring(w, i, 1)) AS syms
        |  FROM w0),
        |p0 AS (
        |  SELECT syms[i] AS p1, syms[i+1] AS p2,
        |    CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s0)
        |  GROUP BY 1, 2),
        |b0 AS (SELECT p1, p2, cnt FROM p0 ORDER BY cnt DESC, p1, p2 LIMIT 1),
        |s1 AS (
        |  SELECT s0.freq, string_split(list_reduce(s0.syms, (acc, x) ->
        |    CASE WHEN regexp_extract(acc, '[^ ]+$') = b0.p1 AND x = b0.p2
        |      THEN substring(acc, 1, length(acc) - length(b0.p1))
        |        || b0.p1 || b0.p2
        |      ELSE acc || ' ' || x END), ' ') AS syms
        |  FROM s0 CROSS JOIN b0),
        |p1c AS (
        |  SELECT syms[i] AS p1, syms[i+1] AS p2,
        |    CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s1)
        |  GROUP BY 1, 2),
        |b1 AS (SELECT p1, p2, cnt FROM p1c ORDER BY cnt DESC, p1, p2 LIMIT 1),
        |s2 AS (
        |  SELECT s1.freq, string_split(list_reduce(s1.syms, (acc, x) ->
        |    CASE WHEN regexp_extract(acc, '[^ ]+$') = b1.p1 AND x = b1.p2
        |      THEN substring(acc, 1, length(acc) - length(b1.p1))
        |        || b1.p1 || b1.p2
        |      ELSE acc || ' ' || x END), ' ') AS syms
        |  FROM s1 CROSS JOIN b1),
        |p2c AS (
        |  SELECT syms[i] AS p1, syms[i+1] AS p2,
        |    CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s2)
        |  GROUP BY 1, 2),
        |b2 AS (SELECT p1, p2, cnt FROM p2c ORDER BY cnt DESC, p1, p2 LIMIT 1)
        |SELECT CAST(1 AS INTEGER) AS round, p1, p2, p1 || p2 AS merged, cnt
        |FROM b0
        |UNION ALL
        |SELECT CAST(2 AS INTEGER), p1, p2, p1 || p2, cnt FROM b1
        |UNION ALL
        |SELECT CAST(3 AS INTEGER), p1, p2, p1 || p2, cnt FROM b2
        |ORDER BY round""".stripMargin,

    // x101: sparse dot via the shared-bucket join — all-integer until
    // the final sqrt-divide; double accumulation of integer-valued
    // terms is exact on both engines, so the cosine is one IEEE chain
    "x101_hashed_neardup" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |words AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |h AS (
        |  SELECT doc_id,
        |    (CASE WHEN length(w) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(w) + 1),
        |         j -> ascii(substring(w, j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) % 64 AS bucket
        |  FROM words),
        |tfb AS (SELECT doc_id, bucket, count(*) AS tf FROM h GROUP BY 1, 2),
        |nrm AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
        |        FROM tfb GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        |  FROM tfb a JOIN tfb b
        |    ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT id_a, id_b,
        |    CAST(d.dot AS DOUBLE) /
        |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
        |      AS cosine
        |  FROM dots d
        |  JOIN nrm na ON d.id_a = na.doc_id
        |  JOIN nrm nb ON d.id_b = nb.doc_id)
        |SELECT id_a, id_b, cosine FROM scored
        |WHERE cosine >= 0.95e0
        |ORDER BY id_a, id_b""".stripMargin,

    // x102: H = lnT - (Σ c·ln c)/T — each ln quantized to
    // DECIMAL(28,12); decimal→double crossings go through the exact
    // decimal STRING (the x64 pairing: Spark's decimal→double cast ≡
    // DuckDB's via-VARCHAR); the final combination is a fixed-order
    // IEEE chain, never a decimal ADD (Spark would rescale (38,12)
    // sums silently — the x78 lesson applies to addition too)
    "x102_char_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, length(lower(text)) + 1),
        |      i -> substring(lower(text), i, 1))) AS c
        |  FROM documents),
        |cnts AS (SELECT doc_id, c, count(*) AS cnt FROM chars GROUP BY 1, 2),
        |terms AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS t,
        |    sum(CAST(cnt AS DECIMAL(9,0)) *
        |      CAST(ln(CAST(cnt AS DOUBLE)) AS DECIMAL(28,12))) AS s
        |  FROM cnts GROUP BY 1),
        |h AS (
        |  SELECT doc_id, t,
        |    CAST(CAST(CAST(ln(CAST(t AS DOUBLE)) AS DECIMAL(28,12))
        |      AS VARCHAR) AS DOUBLE) -
        |    CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(t AS DOUBLE)
        |      AS entropy
        |  FROM terms)
        |SELECT d.doc_id, CAST(coalesce(h.t, 0) AS BIGINT) AS n_chars,
        |  h.entropy
        |FROM documents d LEFT JOIN h USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // x103: the x92 pair CTEs + the x16 reachability discipline; a
    // node's component label is the least id it can reach (incl self)
    "x103_dedup_histogram" ->
      (s"WITH RECURSIVE $winnowKeptChain,\n" +
        """|wpairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS (SELECT d1 AS a, d2 AS b FROM wpairs
        |          UNION SELECT d2, d1 FROM wpairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |lab AS (
        |  SELECT src AS id, least(src, min(dst)) AS cluster
        |  FROM reach GROUP BY src),
        |sizes AS (SELECT cluster, count(*) AS cluster_size FROM lab
        |          GROUP BY 1),
        |hist AS (SELECT cluster_size, count(*) AS n_clusters FROM sizes
        |         GROUP BY 1),
        |singles AS (
        |  SELECT 1 AS cluster_size, count(*) AS n_clusters FROM documents
        |  WHERE doc_id NOT IN (SELECT id FROM lab))
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(sum(n_clusters) AS BIGINT) AS n_clusters
        |FROM (SELECT * FROM hist UNION ALL SELECT * FROM singles)
        |GROUP BY 1 HAVING sum(n_clusters) > 0
        |ORDER BY cluster_size""".stripMargin),

    // x104: the x98 waterfill + the x83 salted ppm predicate
    // (374496506 = 0x51ed2701 % 1000000007)
    "x104_unimax_sample" ->
      """WITH RECURSIVE src AS (
        |  SELECT CAST(source AS VARCHAR) AS source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |ord AS (
        |  SELECT source, n_docs, n_tokens, n_tokens * 1 AS cap_tokens,
        |    row_number() OVER (ORDER BY n_tokens * 1, source) AS rn,
        |    count(*) OVER () AS n
        |  FROM src),
        |walk(rn, remaining, alloc_tokens) AS (
        |  SELECT 0, CAST(25000 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT o.rn,
        |    w.remaining - least(o.cap_tokens,
        |      w.remaining // (o.n - o.rn + 1)),
        |    least(o.cap_tokens, w.remaining // (o.n - o.rn + 1))
        |  FROM walk w JOIN ord o ON o.rn = w.rn + 1),
        |rates AS (
        |  SELECT o.source,
        |    CAST(CASE WHEN o.n_tokens <= 0 THEN 0
        |      ELSE least(1000000, w.alloc_tokens * 1000000 // o.n_tokens)
        |      END AS BIGINT) AS rate_ppm
        |  FROM walk w JOIN ord o USING (rn))
        |SELECT d.doc_id, d.source,
        |  CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT)
        |    AS n_tokens
        |FROM documents d JOIN rates r ON d.source = r.source
        |WHERE (((d.doc_id % 1000000007) * 374496506) % 1000000007)
        |  % 1000000 < r.rate_ppm
        |ORDER BY d.doc_id""".stripMargin,

    // x105: the x100 three-round derivation carrying the WORD through
    // every fold, then per-document pre/post symbol counts
    "x105_bpe_encode" ->
      """WITH w0 AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |    FROM documents)
        |  WHERE length(w) > 0),
        |t0 AS (SELECT w, count(*) AS freq FROM w0 GROUP BY 1),
        |s0 AS (
        |  SELECT w, freq, list_transform(range(1, length(w) + 1),
        |    i -> substring(w, i, 1)) AS syms
        |  FROM t0),
        |p0 AS (
        |  SELECT syms[i] AS p1, syms[i+1] AS p2,
        |    CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s0)
        |  GROUP BY 1, 2),
        |b0 AS (SELECT p1, p2 FROM p0 ORDER BY cnt DESC, p1, p2 LIMIT 1),
        |s1 AS (
        |  SELECT s0.w, s0.freq, string_split(list_reduce(s0.syms, (acc, x) ->
        |    CASE WHEN regexp_extract(acc, '[^ ]+$') = b0.p1 AND x = b0.p2
        |      THEN substring(acc, 1, length(acc) - length(b0.p1))
        |        || b0.p1 || b0.p2
        |      ELSE acc || ' ' || x END), ' ') AS syms
        |  FROM s0 CROSS JOIN b0),
        |p1c AS (
        |  SELECT syms[i] AS p1, syms[i+1] AS p2,
        |    CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s1)
        |  GROUP BY 1, 2),
        |b1 AS (SELECT p1, p2 FROM p1c ORDER BY cnt DESC, p1, p2 LIMIT 1),
        |s2 AS (
        |  SELECT s1.w, s1.freq, string_split(list_reduce(s1.syms, (acc, x) ->
        |    CASE WHEN regexp_extract(acc, '[^ ]+$') = b1.p1 AND x = b1.p2
        |      THEN substring(acc, 1, length(acc) - length(b1.p1))
        |        || b1.p1 || b1.p2
        |      ELSE acc || ' ' || x END), ' ') AS syms
        |  FROM s1 CROSS JOIN b1),
        |p2c AS (
        |  SELECT syms[i] AS p1, syms[i+1] AS p2,
        |    CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s2)
        |  GROUP BY 1, 2),
        |b2 AS (SELECT p1, p2 FROM p2c ORDER BY cnt DESC, p1, p2 LIMIT 1),
        |s3 AS (
        |  SELECT s2.w, string_split(list_reduce(s2.syms, (acc, x) ->
        |    CASE WHEN regexp_extract(acc, '[^ ]+$') = b2.p1 AND x = b2.p2
        |      THEN substring(acc, 1, length(acc) - length(b2.p1))
        |        || b2.p1 || b2.p2
        |      ELSE acc || ' ' || x END), ' ') AS syms
        |  FROM s2 CROSS JOIN b2),
        |cnts AS (
        |  SELECT w, CAST(length(w) AS BIGINT) AS chars,
        |    CAST(len(syms) AS BIGINT) AS post
        |  FROM s3),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(chars) AS BIGINT) AS n_syms_char,
        |    CAST(sum(post) AS BIGINT) AS n_syms_bpe
        |  FROM w0 JOIN cnts USING (w) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
        |  CAST(coalesce(a.n_syms_char, 0) AS BIGINT) AS n_syms_char,
        |  CAST(coalesce(a.n_syms_bpe, 0) AS BIGINT) AS n_syms_bpe
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // x108: full span-removal recomputation — windows hashed with the
    // same mixed composite hash (same collision behavior), first
    // occurrence = rn 1 over (doc_id, wpos), coverage exploded ×k,
    // text rebuilt with string_agg ordered by position
    "x108_span_removal" ->
      """WITH arrs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS larr
        |  FROM documents),
        |tok2 AS (
        |  SELECT doc_id, s['pos'] AS pos, s['tok'] AS tok FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(arr) + 1),
        |      i -> {'pos': i - 1, 'tok': arr[i]})) AS s
        |    FROM arrs)),
        |win2 AS (
        |  SELECT doc_id, s['wpos'] AS wpos, s['w'] AS w FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(larr) - 1),
        |      i -> {'wpos': i - 1,
        |            'w': concat(larr[i], ' ', larr[i+1], ' ', larr[i+2])})) AS s
        |    FROM arrs)),
        |hw AS (
        |  SELECT doc_id, wpos,
        |    (((CASE WHEN length(w) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(w) + 1),
        |         j -> ascii(substring(w, j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) * 2654435761 + 17) % 1000000007)
        |      * 1073741824 +
        |    (((CASE WHEN length(w) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(w) + 1),
        |         j -> ascii(substring(reverse(w), j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) * 2246822519 + 31) % 1000000007) AS hv
        |  FROM win2),
        |occ AS (
        |  SELECT doc_id, wpos,
        |    count(*) OVER (PARTITION BY hv) AS cnt,
        |    row_number() OVER (PARTITION BY hv ORDER BY doc_id, wpos) AS rn
        |  FROM hw),
        |cov AS (
        |  SELECT DISTINCT doc_id, wpos + j AS pos
        |  FROM (SELECT doc_id, wpos FROM occ WHERE cnt >= 2 AND rn > 1)
        |  CROSS JOIN (SELECT unnest(range(0, 3)) AS j) js),
        |cnts AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
        |  FROM tok2 GROUP BY 1),
        |rem AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
        |  FROM cov GROUP BY 1),
        |agg AS (
        |  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.pos)
        |    AS cleaned_text
        |  FROM tok2 t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
        |  WHERE c.pos IS NULL GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(cnts.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(rem.n_removed, 0) AS BIGINT) AS n_removed,
        |  CASE WHEN coalesce(cnts.n_tokens, 0) > 0
        |    THEN coalesce(agg.cleaned_text, '') END AS cleaned_text
        |FROM documents d LEFT JOIN cnts USING (doc_id)
        |LEFT JOIN rem USING (doc_id) LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // x141: transition matrix — the x14 session CTE, lag within
    // (user, sid), counts + one conditional division
    "x141_transitions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM flagged),
        |pairs AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id, sid
        |      ORDER BY ts, event_id) AS prev_type,
        |    event_type AS next_type
        |  FROM sess),
        |c AS (
        |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS tt
        |      FROM c GROUP BY 1)
        |SELECT c.prev_type, c.next_type, c.n,
        |  CAST(c.n AS DOUBLE) / CAST(t.tt AS DOUBLE) AS p
        |FROM c JOIN t USING (prev_type)
        |ORDER BY c.prev_type, c.next_type""".stripMargin,

    // x140: inter-arrival quantiles — lag diff in exact micros, the
    // x28 rank formula per event type
    "x140_inter_arrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY event_type ORDER BY ts, event_id) AS gap
        |  FROM events),
        |r AS (
        |  SELECT event_type, gap AS v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY gap) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM g WHERE gap IS NOT NULL)
        |SELECT event_type,
        |  max(CASE WHEN rn = greatest(1, (1*n + 1) // 2) THEN v END) AS p50,
        |  max(CASE WHEN rn = greatest(1, (19*n + 19) // 20) THEN v END)
        |    AS p95,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    // x139: more-like-this — idf floor micro-units, exact decimal
    // dots/norms, one cosine chain; rank cut mirrors the engine's
    // (cosine DESC, id) order
    "x139_more_like_this" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |p AS (SELECT term, doc_id AS id, CAST(count(*) AS BIGINT) AS tf
        |      FROM toks GROUP BY 1, 2),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM p GROUP BY 1),
        |w AS (
        |  SELECT p.id, p.term,
        |    p.tf * CAST(floor(ln(CAST(nn.n AS DOUBLE)
        |      / CAST(dfc.df AS DOUBLE)) * 1e6) AS BIGINT) AS w
        |  FROM p JOIN dfc USING (term) CROSS JOIN nn),
        |norms AS (
        |  SELECT id, sum(CAST(w AS DECIMAL(15,0)) * CAST(w AS DECIMAL(15,0)))
        |    AS n2
        |  FROM w GROUP BY 1),
        |q AS (SELECT term, w AS wq FROM w WHERE id = 0),
        |dots AS (
        |  SELECT w.id,
        |    sum(CAST(w.w AS DECIMAL(15,0)) * CAST(q.wq AS DECIMAL(15,0)))
        |      AS dot
        |  FROM w JOIN q USING (term) WHERE w.id != 0 GROUP BY 1),
        |qn AS (SELECT n2 AS qn2 FROM norms WHERE id = 0),
        |scored AS (
        |  SELECT d.id AS doc_id,
        |    CAST(CAST(d.dot AS VARCHAR) AS DOUBLE)
        |      / (sqrt(CAST(CAST(qn.qn2 AS VARCHAR) AS DOUBLE))
        |        * sqrt(CAST(CAST(n.n2 AS VARCHAR) AS DOUBLE))) AS cosine
        |  FROM dots d JOIN norms n ON d.id = n.id CROSS JOIN qn)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
        |    AS INTEGER) AS rank,
        |  cosine
        |FROM scored ORDER BY cosine DESC, doc_id LIMIT 10""".stripMargin,

    // x138: corpus merge — md5 content key, (prio, id) winner via
    // row_number, every row flagged
    "x138_corpus_merge" ->
      """WITH u AS (
        |  SELECT 'curated' AS origin, 0 AS prio, doc_id AS id, text
        |  FROM documents WHERE doc_id < 250
        |  UNION ALL
        |  SELECT 'snapshot' AS origin, 1 AS prio, doc_id AS id, text
        |  FROM documents),
        |h AS (SELECT origin, prio, id, md5(text) AS hh FROM u),
        |r AS (
        |  SELECT origin, prio, id, hh,
        |    row_number() OVER (PARTITION BY hh ORDER BY prio, id) AS rn,
        |    count(*) OVER (PARTITION BY hh) AS n_copies
        |  FROM h)
        |SELECT origin, CAST(id AS BIGINT) AS id, rn = 1 AS kept,
        |  CAST(n_copies AS BIGINT) AS n_copies
        |FROM r ORDER BY origin, id""".stripMargin,

    // x137: log-likelihood — each ln quantized DECIMAL(28,12), exact
    // decimal sum, one boundary division (the x68 aggregation shape
    // in log space)
    "x137_log_likelihood" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM (
        |    SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
        |c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS cnt1 FROM bi GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM c2),
        |scored AS (
        |  SELECT b.doc_id,
        |    CAST(ln((CAST(c2.cnt2 AS DOUBLE) + 0.5e0)
        |      / (CAST(c1.cnt1 AS DOUBLE)
        |        + 0.5e0 * CAST(vv.v AS DOUBLE))) AS DECIMAL(28,12)) AS q
        |  FROM bi b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  CROSS JOIN vv),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(CAST(sum(q) AS VARCHAR) AS DOUBLE) / count(*) AS loglik
        |  FROM scored GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  a.loglik
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // x136: Fightin' Words — both lns quantized DECIMAL(28,12), the
    // delta an exact decimal difference, z one fixed-order chain
    "x136_log_odds" ->
      """WITH toks AS (
        |  SELECT source = 'src0' AS t,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |c AS (
        |  SELECT term,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS y1,
        |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS y2
        |  FROM toks GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(y1) AS BIGINT) AS n1,
        |    CAST(sum(y2) AS BIGINT) AS n2,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM c),
        |q AS (
        |  SELECT term, y1, y2,
        |    CAST(ln((CAST(y1 AS DOUBLE) + 0.5e0)
        |        / (CAST(n1 AS DOUBLE) + CAST(v AS DOUBLE) * 0.5e0
        |          - CAST(y1 AS DOUBLE) - 0.5e0)) AS DECIMAL(28,12)) AS q1,
        |    CAST(ln((CAST(y2 AS DOUBLE) + 0.5e0)
        |        / (CAST(n2 AS DOUBLE) + CAST(v AS DOUBLE) * 0.5e0
        |          - CAST(y2 AS DOUBLE) - 0.5e0)) AS DECIMAL(28,12)) AS q2
        |  FROM c CROSS JOIN tot)
        |SELECT term, y1, y2,
        |  CAST(CAST(q1 - q2 AS VARCHAR) AS DOUBLE) AS delta,
        |  CAST(CAST(q1 - q2 AS VARCHAR) AS DOUBLE)
        |    / sqrt(1.0e0 / (CAST(y1 AS DOUBLE) + 0.5e0)
        |      + 1.0e0 / (CAST(y2 AS DOUBLE) + 0.5e0)) AS z
        |FROM q ORDER BY term""".stripMargin,

    // x135: k-anonymity — quasi-id group sizes, bounded summary
    "x135_k_anonymity" ->
      """WITH g AS (
        |  SELECT event_type, date_trunc('day', ts) AS d, count(*) AS sz
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(min(sz) AS BIGINT) AS min_size,
        |  CAST(sum(CASE WHEN sz < 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small_groups,
        |  CAST(sum(CASE WHEN sz < 50 THEN sz ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk
        |FROM g""".stripMargin,

    // x143: centroid drift — exact decimal per-dim sums at (20,8) (the
    // precision sized so product and difference stay ≤ 38 end to end),
    // the integer-scaled cross difference, one left-to-right double
    // fold over the dim-ordered list, one boundary division
    "x143_centroid_drift" ->
      """WITH pe AS (
        |  SELECT vec_id % 4 AS shard, i - 1 AS dim,
        |    CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,8)) AS v
        |  FROM embeddings, range(1, 65) t(i)),
        |ns AS (SELECT vec_id % 4 AS shard, CAST(count(*) AS BIGINT)
        |         AS n_vecs FROM embeddings GROUP BY 1),
        |ng AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM embeddings),
        |ss AS (SELECT shard, dim, CAST(sum(v) AS DECIMAL(20,8)) AS s
        |       FROM pe GROUP BY 1, 2),
        |gg AS (SELECT dim, CAST(sum(s) AS DECIMAL(20,8)) AS gs
        |       FROM ss GROUP BY 1),
        |diffs AS (
        |  SELECT ss.shard, ss.dim,
        |    CAST(CAST(ss.s * CAST(ng.n_all AS DECIMAL(9,0))
        |      - gg.gs * CAST(ns.n_vecs AS DECIMAL(9,0)) AS VARCHAR)
        |      AS DOUBLE) AS d
        |  FROM ss JOIN gg USING (dim) JOIN ns USING (shard) CROSS JOIN ng),
        |folded AS (
        |  SELECT shard,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(d ORDER BY dim)), (acc, x) -> acc + x * x) AS ss2
        |  FROM diffs GROUP BY shard)
        |SELECT f.shard, ns.n_vecs,
        |  sqrt(ss2) / (CAST(ns.n_vecs AS DOUBLE) * CAST(ng.n_all AS DOUBLE))
        |    AS drift
        |FROM folded f JOIN ns USING (shard) CROSS JOIN ng
        |ORDER BY shard""".stripMargin,

    // x144: readability — integer counts at scan speed, one fixed-order
    // double formula (both engines parse the same literals and evaluate
    // left to right)
    "x144_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  0.39e0 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    + 11.8e0 * (CAST(n_syllables AS DOUBLE)
        |        / CAST(n_words AS DOUBLE))
        |    - 15.59e0 AS fk_grade
        |FROM c ORDER BY doc_id""".stripMargin,

    // x145: l-diversity — the x135 shape with count(DISTINCT sensitive)
    // riding the same grouped aggregate
    "x145_l_diversity" ->
      """WITH g AS (
        |  SELECT event_type, date_trunc('day', ts) AS d,
        |    count(*) AS sz, count(DISTINCT user_id) AS dv
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(min(dv) AS BIGINT) AS min_diversity,
        |  CAST(sum(CASE WHEN dv < 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low_groups,
        |  CAST(sum(CASE WHEN dv < 50 THEN sz ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk
        |FROM g""".stripMargin,

    // x146: largest-remainder quota — HUGEINT product/floor-div/mod
    // mirrors Spark's DECIMAL(18,0) arithmetic exactly (both exact
    // integers); rank ties broken by source name, a total order
    "x146_quota" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(sum(CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |      AS BIGINT)) AS BIGINT) AS w
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(w) AS HUGEINT) AS tw FROM per),
        |sc AS (
        |  SELECT source, w,
        |    (CAST(1000000 AS HUGEINT) * CAST(w AS HUGEINT)) % tot.tw
        |      AS rem,
        |    CAST((CAST(1000000 AS HUGEINT) * CAST(w AS HUGEINT)) // tot.tw
        |      AS BIGINT) AS base_quota
        |  FROM per CROSS JOIN tot),
        |sh AS (SELECT 1000000 - sum(base_quota) AS short FROM sc)
        |SELECT source, w, base_quota,
        |  CAST(CASE WHEN row_number() OVER (ORDER BY rem DESC, source ASC)
        |    <= sh.short THEN 1 ELSE 0 END AS BIGINT) AS extra,
        |  base_quota + CAST(CASE WHEN row_number()
        |      OVER (ORDER BY rem DESC, source ASC) <= sh.short
        |    THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM sc CROSS JOIN sh ORDER BY source""".stripMargin,

    // x147: KMV pair Jaccard — the x106 hash CTEs, per-source k-minima,
    // a union-sketch rank cut, integer membership counts, one boundary
    // division
    "x147_kmv_pair_jaccard" ->
      """WITH arrs AS (
        |  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+')
        |    AS arr
        |  FROM documents),
        |toks AS (
        |  SELECT source, unnest(list_transform(range(1, len(arr)),
        |    i -> concat(arr[i], ' ', arr[i+1]))) AS w
        |  FROM arrs),
        |dv AS (SELECT DISTINCT source, w FROM toks),
        |h AS (
        |  SELECT source,
        |    (((CASE WHEN length(w) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(w) + 1),
        |         j -> ascii(substring(w, j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) * 2654435761 + 17) % 1000000007)
        |      * 1073741824 +
        |    (((CASE WHEN length(w) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(w) + 1),
        |         j -> ascii(substring(reverse(w), j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) * 2246822519 + 31) % 1000000007) AS hv
        |  FROM dv),
        |dh AS (SELECT DISTINCT source, hv FROM h),
        |mins AS (
        |  SELECT source, hv FROM (
        |    SELECT source, hv,
        |      row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        |    FROM dh) WHERE rn <= 128),
        |srcs AS (SELECT DISTINCT source FROM mins),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |merged AS (
        |  SELECT src_a, src_b, hv,
        |    max(in_a) AS in_a, max(in_b) AS in_b
        |  FROM (
        |    SELECT p.src_a, p.src_b, m.hv, 1 AS in_a, 0 AS in_b
        |    FROM pairs p JOIN mins m ON m.source = p.src_a
        |    UNION ALL
        |    SELECT p.src_a, p.src_b, m.hv, 0, 1
        |    FROM pairs p JOIN mins m ON m.source = p.src_b)
        |  GROUP BY 1, 2, 3),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY src_a, src_b
        |    ORDER BY hv) AS rn
        |  FROM merged)
        |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_union,
        |  CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
        |  CAST(sum(in_a * in_b) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS j_est
        |FROM ranked WHERE rn <= 128
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,

    // x148: Zipf slope — integer ranks (count DESC, term ASC: a total
    // order), each ln quantized once at (18,4), then the x129 moment
    // discipline verbatim
    "x148_zipf_slope" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |counts AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2),
        |ranked AS (
        |  SELECT source, c, row_number() OVER (PARTITION BY source
        |    ORDER BY c DESC, term ASC) AS rank
        |  FROM counts),
        |m AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(18,4))) AS sx0,
        |    sum(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(18,4))) AS sy0,
        |    sum(CAST(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(18,4))
        |        AS DECIMAL(19,4))
        |      * CAST(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(18,4))
        |        AS DECIMAL(19,4))) AS sxx0,
        |    sum(CAST(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(18,4))
        |        AS DECIMAL(19,4))
        |      * CAST(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(18,4))
        |        AS DECIMAL(19,4))) AS syy0,
        |    sum(CAST(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(18,4))
        |        AS DECIMAL(19,4))
        |      * CAST(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(18,4))
        |        AS DECIMAL(19,4))) AS sxy0
        |  FROM ranked GROUP BY 1),
        |d AS (
        |  SELECT source, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(sy0 AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(sxx0 AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(syy0 AS VARCHAR) AS DOUBLE) AS syy,
        |    CAST(CAST(sxy0 AS VARCHAR) AS DOUBLE) AS sxy
        |  FROM m)
        |SELECT source, n AS n_types, n,
        |  CASE WHEN nd * sxx - sx * sx > 0.0e0
        |    THEN (nd * sxy - sx * sy) / (nd * sxx - sx * sx) END AS slope,
        |  CASE WHEN nd * sxx - sx * sx > 0.0e0
        |    THEN (sy - (nd * sxy - sx * sy) / (nd * sxx - sx * sx) * sx)
        |      / nd END AS intercept,
        |  CASE WHEN nd * sxx - sx * sx > 0.0e0
        |      AND nd * syy - sy * sy > 0.0e0
        |    THEN (nd * sxy - sx * sy)
        |      / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)) END AS r
        |FROM d ORDER BY source""".stripMargin,

    // x149: embedding hygiene — list_dot_product norm² (left-to-right,
    // matching DotProduct), integer counts, the shared integer-rank
    // quantile formula
    "x149_embedding_hygiene" ->
      """WITH base AS (
        |  SELECT d.source, e.embedding,
        |    CASE WHEN e.embedding IS NOT NULL THEN
        |      list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |        CAST(e.embedding AS DOUBLE[])) END AS n2
        |  FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id),
        |counts AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(embedding) AS BIGINT) AS n_vecs,
        |    CAST(sum(CASE WHEN n2 = 0.0e0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero,
        |    CAST(sum(CASE WHEN len(list_filter(embedding,
        |        x -> isnan(x) OR isinf(x))) > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_nonfinite
        |  FROM base GROUP BY 1),
        |r AS (
        |  SELECT source, n2,
        |    row_number() OVER (PARTITION BY source ORDER BY n2) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM base WHERE embedding IS NOT NULL),
        |q AS (
        |  SELECT source,
        |    max(CASE WHEN rn = greatest(1, (1*n + 1) // 2) THEN n2 END)
        |      AS p50_n2,
        |    max(CASE WHEN rn = greatest(1, (19*n + 19) // 20) THEN n2 END)
        |      AS p95_n2
        |  FROM r GROUP BY 1)
        |SELECT c.source, c.n_docs, c.n_vecs, c.n_zero, c.n_nonfinite,
        |  q.p50_n2, q.p95_n2
        |FROM counts c LEFT JOIN q USING (source)
        |ORDER BY source""".stripMargin,

    // x150: behavioral entropy — the x102 quantized-ln recipe on
    // (user, event_type) counts
    "x150_behavior_entropy" ->
      """WITH cnts AS (
        |  SELECT user_id, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |terms AS (
        |  SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n,
        |    sum(CAST(cnt AS DECIMAL(9,0)) *
        |      CAST(ln(CAST(cnt AS DOUBLE)) AS DECIMAL(28,12))) AS s
        |  FROM cnts GROUP BY 1)
        |SELECT user_id, n,
        |  CAST(CAST(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(28,12))
        |    AS VARCHAR) AS DOUBLE) -
        |  CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |    AS entropy
        |FROM terms ORDER BY user_id""".stripMargin,

    // x151: SQ8 reconstruction error — the x35 encode chain + midpoint
    // decode, per-vector squared error folded left-to-right in dim
    // order, quantized once, exact-decimal slice mean
    "x151_sq8_error" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(i AS BIGINT) AS pos,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) t(i)),
        |s AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM e GROUP BY pos),
        |errs AS (
        |  SELECT e.vec_id, e.pos,
        |    (e.v - (s.mn + (CAST((CASE WHEN s.mx = s.mn THEN 0
        |       ELSE greatest(0, least(255,
        |         CAST(floor((e.v - s.mn) / ((s.mx - s.mn) / 255.0))
        |           AS BIGINT))) END) AS DOUBLE) + 0.5)
        |       * ((s.mx - s.mn) / 255.0))) *
        |    (e.v - (s.mn + (CAST((CASE WHEN s.mx = s.mn THEN 0
        |       ELSE greatest(0, least(255,
        |         CAST(floor((e.v - s.mn) / ((s.mx - s.mn) / 255.0))
        |           AS BIGINT))) END) AS DOUBLE) + 0.5)
        |       * ((s.mx - s.mn) / 255.0))) AS err
        |  FROM e JOIN s USING (pos)),
        |pervec AS (
        |  SELECT vec_id,
        |    CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(err ORDER BY pos)), (acc, x) -> acc + x)
        |      AS DECIMAL(28,12)) AS sse
        |  FROM errs GROUP BY vec_id)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(CAST(sum(p.sse) AS VARCHAR) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS mean_sse,
        |  max(CAST(CAST(p.sse AS VARCHAR) AS DOUBLE)) AS max_sse
        |FROM pervec p JOIN documents d ON d.doc_id = p.vec_id
        |GROUP BY 1 ORDER BY d.source""".stripMargin,

    // x152: dataset card — the x93 quality CTEs + the x96 fingerprint
    // formula, each reduced to its one-row yield count
    "x152_dataset_card" ->
      """WITH ntk AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS nt
        |  FROM documents),
        |overall AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(nt) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(sum(nt) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      AS mean_tokens
        |  FROM ntk),
        |fps AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |      AS fp
        |  FROM documents),
        |dups AS (
        |  SELECT CAST(sum(CASE WHEN doc_id <> keep THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_exact_dup
        |  FROM fps JOIN (SELECT fp, min(doc_id) AS keep FROM fps
        |                 GROUP BY 1) k USING (fp)),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
        |    AS t
        |  FROM documents),
        |gbase AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words
        |          FROM toks),
        |words AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |chars AS (SELECT doc_id, sum(length(w)) AS chars FROM words
        |          GROUP BY 1),
        |stopc AS (
        |  SELECT doc_id, count(DISTINCT w) AS stop_hits FROM words
        |  WHERE w IN ('the', 'a', 'of', 'to', 'and', 'in', 'is', 'for')
        |  GROUP BY 1),
        |topw AS (
        |  SELECT doc_id, max(c) AS topc FROM (
        |    SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2)
        |  GROUP BY 1),
        |flags AS (
        |  SELECT b.doc_id,
        |    b.n_words BETWEEN 50 AND 100000 AS ok_words,
        |    (CASE WHEN b.n_words > 0
        |       THEN CAST(c.chars AS DOUBLE) / b.n_words END) IS NOT NULL
        |      AND (CASE WHEN b.n_words > 0
        |       THEN CAST(c.chars AS DOUBLE) / b.n_words END)
        |        BETWEEN 3.0e0 AND 10.0e0 AS ok_wl,
        |    coalesce(s.stop_hits, 0) >= 2 AS ok_stop,
        |    (CASE WHEN b.n_words > 0
        |       THEN CAST(t.topc AS DOUBLE) / b.n_words END) IS NOT NULL
        |      AND (CASE WHEN b.n_words > 0
        |       THEN CAST(t.topc AS DOUBLE) / b.n_words END) <= 0.1e0
        |      AS ok_top
        |  FROM gbase b
        |  LEFT JOIN chars c USING (doc_id)
        |  LEFT JOIN stopc s USING (doc_id)
        |  LEFT JOIN topw t USING (doc_id)),
        |qual AS (
        |  SELECT CAST(sum(CASE WHEN ok_words AND ok_wl AND ok_stop
        |      AND ok_top THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass
        |  FROM flags)
        |SELECT * FROM overall, dups, qual""".stripMargin,

    // x153: freshness decay — integer age floor-div, ppm right-shift,
    // the x83 hash predicate (salt 0x51ed2701 % P = 374496506)
    "x153_freshness_sample" ->
      """WITH b AS (
        |  SELECT event_id, ts, event_type,
        |    greatest((epoch_us(TIMESTAMP '2024-01-31 00:00:00')
        |      - epoch_us(ts)) // 86400000000, 0) AS age_days
        |  FROM events),
        |k AS (
        |  SELECT event_id, ts, event_type,
        |    CAST(age_days AS BIGINT) AS age_days,
        |    CAST(1000000 >> CAST(least(age_days // 7, 20) AS INTEGER)
        |      AS BIGINT) AS keep_ppm
        |  FROM b)
        |SELECT event_id, ts, event_type, age_days, keep_ppm FROM k
        |WHERE ((event_id % 1000000007) * 374496506 % 1000000007)
        |  % 1000000 < keep_ppm
        |ORDER BY event_id""".stripMargin,

    // x154: EMA smoothing — frame-ordered list fold, seeded at the
    // oldest bucket; both engines reduce head-to-tail
    "x154_ema_smooth" ->
      """WITH counts AS (
        |  SELECT event_type AS key, date_trunc('hour', ts) AS ws,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |wl AS (
        |  SELECT key, ws, c,
        |    list(CAST(c AS DOUBLE)) OVER (PARTITION BY key ORDER BY ws
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS l
        |  FROM counts)
        |SELECT key, ws, c,
        |  list_reduce(l, (acc, x) -> acc * 0.75e0 + x * 0.25e0) AS ema,
        |  CAST(c AS DOUBLE) /
        |    list_reduce(l, (acc, x) -> acc * 0.75e0 + x * 0.25e0)
        |    AS ratio
        |FROM wl ORDER BY key, ws""".stripMargin,

    // x156: column profile — one UNION arm per column, exact distincts
    "x156_column_profile" ->
      """WITH p AS (
        |  SELECT 'doc_id' AS "column", CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_null,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct
        |  FROM documents
        |  UNION ALL
        |  SELECT 'text', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT text) AS BIGINT) FROM documents
        |  UNION ALL
        |  SELECT 'lang', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT lang) AS BIGINT) FROM documents
        |  UNION ALL
        |  SELECT 'source', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(count(DISTINCT source) AS BIGINT) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    CAST(count(DISTINCT n_chars) AS BIGINT) FROM documents)
        |SELECT * FROM p ORDER BY "column"""".stripMargin,

    // x157: label-balanced carve-out — equal-weight Hamilton quotas
    // (all remainders equal -> label-ascending tie order), portable
    // hash pick order
    "x157_label_carveout" ->
      """WITH labels AS (
        |  SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
        |nl AS (SELECT CAST(count(*) AS HUGEINT) AS L FROM labels),
        |q AS (
        |  SELECT label,
        |    CAST(64 // L AS BIGINT) +
        |    CASE WHEN row_number() OVER (ORDER BY label ASC)
        |      <= CAST(64 % L AS BIGINT) THEN 1 ELSE 0 END AS quota
        |  FROM labels CROSS JOIN nl),
        |ranked AS (
        |  SELECT vec_id, label,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY (vec_id % 1000000007) * 654435747 % 1000000007 ASC,
        |        vec_id ASC) AS pick_rank
        |  FROM embeddings)
        |SELECT r.vec_id, r.label, CAST(r.pick_rank AS BIGINT) AS pick_rank,
        |  CAST(q.quota AS BIGINT) AS quota
        |FROM ranked r JOIN q USING (label)
        |WHERE r.pick_rank <= q.quota
        |ORDER BY r.vec_id""".stripMargin,

    // x158: gate sweep — the x93 stats CTEs reduced to a conditional
    // count per candidate ceiling
    "x158_gate_sweep" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
        |    AS t
        |  FROM documents),
        |gbase AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words
        |          FROM toks),
        |words AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |chars AS (SELECT doc_id, sum(length(w)) AS chars FROM words
        |          GROUP BY 1),
        |stopc AS (
        |  SELECT doc_id, count(DISTINCT w) AS stop_hits FROM words
        |  WHERE w IN ('the', 'a', 'of', 'to', 'and', 'in', 'is', 'for')
        |  GROUP BY 1),
        |topw AS (
        |  SELECT doc_id, max(c) AS topc FROM (
        |    SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2)
        |  GROUP BY 1),
        |flags AS (
        |  SELECT b.doc_id,
        |    b.n_words BETWEEN 50 AND 100000 AS ok_words,
        |    (CASE WHEN b.n_words > 0
        |       THEN CAST(c.chars AS DOUBLE) / b.n_words END)
        |        BETWEEN 3.0e0 AND 10.0e0 AS ok_wl,
        |    coalesce(s.stop_hits, 0) >= 2 AS ok_stop,
        |    CASE WHEN b.n_words > 0
        |      THEN CAST(t.topc AS DOUBLE) / b.n_words END AS tf
        |  FROM gbase b
        |  LEFT JOIN chars c USING (doc_id)
        |  LEFT JOIN stopc s USING (doc_id)
        |  LEFT JOIN topw t USING (doc_id)),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN ok_words AND coalesce(ok_wl, false)
        |      AND ok_stop AND tf IS NOT NULL AND tf <= 0.05e0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS p0,
        |    CAST(sum(CASE WHEN ok_words AND coalesce(ok_wl, false)
        |      AND ok_stop AND tf IS NOT NULL AND tf <= 0.1e0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS p1,
        |    CAST(sum(CASE WHEN ok_words AND coalesce(ok_wl, false)
        |      AND ok_stop AND tf IS NOT NULL AND tf <= 0.2e0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS p2,
        |    CAST(sum(CASE WHEN ok_words AND coalesce(ok_wl, false)
        |      AND ok_stop AND tf IS NOT NULL AND tf <= 0.3e0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS p3
        |  FROM flags)
        |SELECT 0.05e0 AS threshold, n_docs, p0 AS n_pass,
        |  CAST(p0 AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pass_rate
        |FROM agg
        |UNION ALL SELECT 0.1e0, n_docs, p1,
        |  CAST(p1 AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM agg
        |UNION ALL SELECT 0.2e0, n_docs, p2,
        |  CAST(p2 AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM agg
        |UNION ALL SELECT 0.3e0, n_docs, p3,
        |  CAST(p3 AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM agg
        |ORDER BY threshold""".stripMargin,

    // x159: split leakage — the x02 exact pair CTEs + the hashSplit
    // bucket formula + one summary row
    "x159_split_leakage" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
        |    AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT d1, d2 FROM (
        |    SELECT d1, d2,
        |      CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |    FROM inter
        |    JOIN sizes sa ON d1 = sa.doc_id
        |    JOIN sizes sb ON d2 = sb.doc_id) t
        |  WHERE jaccard >= 0.6),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN ((doc_id % 1000000007) * 654435747 % 1000000007)
        |        % 1000 < 800 THEN 'train'
        |      WHEN ((doc_id % 1000000007) * 654435747 % 1000000007)
        |        % 1000 < 900 THEN 'valid'
        |      ELSE 'test' END AS split
        |  FROM documents),
        |lab AS (
        |  SELECT p.d1, p.d2, a.split AS sa, b.split AS sb
        |  FROM p JOIN sp a ON p.d1 = a.doc_id
        |  JOIN sp b ON p.d2 = b.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cross,
        |  CAST(sum(CASE WHEN (sa = 'train' AND sb = 'test')
        |      OR (sa = 'test' AND sb = 'train') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_train_test,
        |  CASE WHEN count(*) > 0
        |    THEN CAST(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE)
        |    ELSE 0.0e0 END AS leak_rate
        |FROM lab""".stripMargin,

    // x160: code-switch audit — the x79 chunking + the x08 marker
    // argmax per chunk + a (count DESC, lang ASC) dominant pick
    "x160_code_switch" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
        |  FROM documents),
        |base AS (SELECT doc_id, arr, len(arr) AS dl FROM toks),
        |chunks AS (
        |  SELECT doc_id,
        |    list_transform(list_slice(arr, s + 1, least(s + 32, dl)),
        |      x -> lower(x)) AS c
        |  FROM base, unnest(generate_series(0, dl - 1, 32)) AS t(s)),
        |sc AS (
        |  SELECT doc_id,
        |    len(list_filter(c,
        |      x -> x IN ('the','a','and','of','to','in','is'))) AS s_en,
        |    len(list_filter(c,
        |      x -> x IN ('der','die','das','und','nicht','ist'))) AS s_de,
        |    len(list_filter(c,
        |      x -> x IN ('el','los','que','y','es','una'))) AS s_es,
        |    len(list_filter(c,
        |      x -> x IN ('le','les','et','est','une','dans'))) AS s_fr,
        |    len(list_filter(c,
        |      x -> x IN ('的','是','了','在','我'))) AS s_zh
        |  FROM chunks WHERE len(c) > 0),
        |lab AS (
        |  SELECT doc_id,
        |    CASE WHEN s_en = g AND s_en > 0 THEN 'en'
        |         WHEN s_de = g AND s_de > 0 THEN 'de'
        |         WHEN s_es = g AND s_es > 0 THEN 'es'
        |         WHEN s_fr = g AND s_fr > 0 THEN 'fr'
        |         WHEN s_zh = g AND s_zh > 0 THEN 'zh'
        |         ELSE 'en' END AS lang
        |  FROM (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS g
        |        FROM sc) t),
        |per AS (SELECT doc_id, lang, count(*) AS c FROM lab GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chunks,
        |    CAST(count(*) AS BIGINT) AS n_langs
        |  FROM per GROUP BY 1),
        |dom AS (
        |  SELECT doc_id, lang AS dominant_lang, c AS dom_c FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY c DESC, lang ASC) AS rn
        |    FROM per) WHERE rn = 1)
        |SELECT a.doc_id, a.n_chunks, a.n_langs, d.dominant_lang,
        |  CAST(d.dom_c AS DOUBLE) / CAST(a.n_chunks AS DOUBLE)
        |    AS dominant_share,
        |  a.n_langs > 1 AS mixed
        |FROM agg a JOIN dom d USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,

    // x161: vocabulary coverage — (count DESC, term ASC) ranks over
    // the vocabulary, conditional sums per cutoff, one division each
    "x161_vocab_coverage" ->
      """WITH counts AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |    AS term
        |  FROM documents),
        |cnt AS (SELECT term, count(*) AS c FROM counts GROUP BY 1),
        |ranked AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, term ASC)
        |    AS rank
        |  FROM cnt),
        |agg AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS tot,
        |    CAST(sum(CASE WHEN rank <= 100 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS t0,
        |    CAST(sum(CASE WHEN rank <= 100 THEN c ELSE 0 END) AS BIGINT)
        |      AS c0,
        |    CAST(sum(CASE WHEN rank <= 500 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS t1,
        |    CAST(sum(CASE WHEN rank <= 500 THEN c ELSE 0 END) AS BIGINT)
        |      AS c1,
        |    CAST(sum(CASE WHEN rank <= 2000 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS t2,
        |    CAST(sum(CASE WHEN rank <= 2000 THEN c ELSE 0 END) AS BIGINT)
        |      AS c2,
        |    CAST(sum(CASE WHEN rank <= 10000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS t3,
        |    CAST(sum(CASE WHEN rank <= 10000 THEN c ELSE 0 END)
        |      AS BIGINT) AS c3
        |  FROM ranked)
        |SELECT CAST(100 AS BIGINT) AS cutoff, t0 AS n_types,
        |  c0 AS covered_tokens, tot AS total_tokens,
        |  1.0e0 - CAST(c0 AS DOUBLE) / CAST(tot AS DOUBLE) AS oov_rate
        |FROM agg
        |UNION ALL SELECT 500, t1, c1, tot,
        |  1.0e0 - CAST(c1 AS DOUBLE) / CAST(tot AS DOUBLE) FROM agg
        |UNION ALL SELECT 2000, t2, c2, tot,
        |  1.0e0 - CAST(c2 AS DOUBLE) / CAST(tot AS DOUBLE) FROM agg
        |UNION ALL SELECT 10000, t3, c3, tot,
        |  1.0e0 - CAST(c3 AS DOUBLE) / CAST(tot AS DOUBLE) FROM agg
        |ORDER BY cutoff""".stripMargin,

    // x164: KS drift — integer ECDFs on the shared value grid, exact
    // decimal cross difference, min-v argmax, one division
    "x164_ks_drift" ->
      """WITH base AS (
        |  SELECT source AS g,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS v
        |  FROM documents),
        |pergv AS (SELECT g, v, count(*) AS c FROM base GROUP BY 1, 2),
        |perv AS (SELECT v, count(*) AS cc FROM base GROUP BY 1),
        |ng AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM base
        |       GROUP BY 1),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM base),
        |grid AS (
        |  SELECT ng.g, ng.n, perv.v, perv.cc, coalesce(pergv.c, 0) AS c
        |  FROM ng CROSS JOIN perv
        |  LEFT JOIN pergv ON pergv.g = ng.g AND pergv.v = perv.v),
        |cum AS (
        |  SELECT g, n, v,
        |    sum(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum_g,
        |    sum(cc) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum_c
        |  FROM grid),
        |d AS (
        |  SELECT g, n, v,
        |    abs(CAST(cum_g AS DECIMAL(18,0))
        |        * CAST(na.n_all AS DECIMAL(18,0)) -
        |      CAST(cum_c AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0)))
        |      AS dd
        |  FROM cum CROSS JOIN na),
        |m AS (SELECT g, n, max(dd) AS dmax FROM d GROUP BY 1, 2),
        |at AS (
        |  SELECT d.g, min(d.v) AS at_value
        |  FROM d JOIN m ON d.g = m.g AND d.dd = m.dmax GROUP BY 1)
        |SELECT m.g AS source, m.n,
        |  CAST(CAST(m.dmax AS VARCHAR) AS DOUBLE)
        |    / (CAST(m.n AS DOUBLE) * CAST(na.n_all AS DOUBLE)) AS ks,
        |  at.at_value
        |FROM m JOIN at USING (g) CROSS JOIN na
        |ORDER BY source""".stripMargin,

    // x165: pairwise KS matrix — the x164 grid per group, pair-joined
    // on the value grid, exact decimal cross difference
    "x165_ks_matrix" ->
      """WITH base AS (
        |  SELECT source AS g,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS v
        |  FROM documents),
        |pergv AS (SELECT g, v, count(*) AS c FROM base GROUP BY 1, 2),
        |perv AS (SELECT DISTINCT v FROM base),
        |ng AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM base
        |       GROUP BY 1),
        |grid AS (
        |  SELECT ng.g, ng.n, perv.v, coalesce(pergv.c, 0) AS c
        |  FROM ng CROSS JOIN perv
        |  LEFT JOIN pergv ON pergv.g = ng.g AND pergv.v = perv.v),
        |cum AS (
        |  SELECT g, n, v,
        |    sum(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM grid),
        |pairs AS (
        |  SELECT a.g AS src_a, b.g AS src_b, a.n AS n_a, b.n AS n_b,
        |    abs(CAST(a.cum AS DECIMAL(18,0)) * CAST(b.n AS DECIMAL(18,0))
        |      - CAST(b.cum AS DECIMAL(18,0))
        |        * CAST(a.n AS DECIMAL(18,0))) AS dd
        |  FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g)
        |SELECT src_a, src_b, n_a, n_b,
        |  CAST(CAST(max(dd) AS VARCHAR) AS DOUBLE)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS ks
        |FROM pairs GROUP BY 1, 2, 3, 4
        |ORDER BY src_a, src_b""".stripMargin,

    // x167: pairwise HLL union/intersection — the x107 register CTEs,
    // pair MAX-merge, the same fixed-order estimate chain,
    // inclusion-exclusion at the boundary
    "x167_hll_pair_union" ->
      """WITH arrs AS (
        |  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+')
        |    AS arr
        |  FROM documents),
        |toks AS (
        |  SELECT source, unnest(list_transform(range(1, len(arr)),
        |    i -> concat(arr[i], ' ', arr[i+1]))) AS w
        |  FROM arrs),
        |h AS (
        |  SELECT source,
        |    (((CASE WHEN length(w) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(w) + 1),
        |         j -> ascii(substring(w, j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) * 2654435761 + 17) % 1000000007) AS w1,
        |    (((CASE WHEN length(w) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(w) + 1),
        |         j -> ascii(substring(reverse(w), j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) * 2246822519 + 31) % 1000000007) AS w2
        |  FROM toks),
        |regs AS (
        |  SELECT source, w2 % 256 AS bucket,
        |    max(CASE WHEN w1 = 0 THEN 31
        |        ELSE 31 - length(bin(w1)) END) AS reg
        |  FROM h GROUP BY 1, 2),
        |est AS (
        |  SELECT source,
        |    CAST(0.7213 AS DOUBLE)
        |      / (CAST(1 AS DOUBLE)
        |        + CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE))
        |      * CAST(256 AS DOUBLE) * CAST(256 AS DOUBLE)
        |      * CAST(2147483648 AS DOUBLE)
        |      / CAST(s2_occ + (256 - n_occ) * 2147483648 AS DOUBLE)
        |      AS hll_est
        |  FROM (
        |    SELECT source, count(*) AS n_occ,
        |      sum(CAST(1 AS BIGINT) << CAST(31 - reg AS INTEGER))
        |        AS s2_occ
        |    FROM regs GROUP BY 1)),
        |srcs AS (SELECT DISTINCT source FROM regs),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |m AS (
        |  SELECT src_a, src_b, bucket, max(reg) AS reg FROM (
        |    SELECT p.src_a, p.src_b, r.bucket, r.reg
        |    FROM pairs p JOIN regs r ON r.source = p.src_a
        |    UNION ALL
        |    SELECT p.src_a, p.src_b, r.bucket, r.reg
        |    FROM pairs p JOIN regs r ON r.source = p.src_b)
        |  GROUP BY 1, 2, 3),
        |uest AS (
        |  SELECT src_a, src_b,
        |    CAST(0.7213 AS DOUBLE)
        |      / (CAST(1 AS DOUBLE)
        |        + CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE))
        |      * CAST(256 AS DOUBLE) * CAST(256 AS DOUBLE)
        |      * CAST(2147483648 AS DOUBLE)
        |      / CAST(s2_occ + (256 - n_occ) * 2147483648 AS DOUBLE)
        |      AS union_est
        |  FROM (
        |    SELECT src_a, src_b, count(*) AS n_occ,
        |      sum(CAST(1 AS BIGINT) << CAST(31 - reg AS INTEGER))
        |        AS s2_occ
        |    FROM m GROUP BY 1, 2))
        |SELECT u.src_a, u.src_b, ea.hll_est AS est_a, eb.hll_est AS est_b,
        |  u.union_est,
        |  ea.hll_est + eb.hll_est - u.union_est AS inter_est
        |FROM uest u
        |JOIN est ea ON ea.source = u.src_a
        |JOIN est eb ON eb.source = u.src_b
        |ORDER BY u.src_a, u.src_b""".stripMargin,

    // x168: LPT schedule — the x120 packing + a recursive CTE walking
    // shards heaviest-first, four explicit reader-load columns, argmin
    // with lowest-index ties (the Spark driver loop's exact rule)
    "x168_lpt_assign" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS nt
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, nt,
        |    coalesce(sum(nt) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_prev
        |  FROM d),
        |s AS (
        |  SELECT CAST(cum_prev // 2000 AS BIGINT) AS shard_id,
        |    CAST(sum(nt) AS BIGINT) AS nt
        |  FROM cum GROUP BY 1),
        |ordered AS (
        |  SELECT shard_id, nt,
        |    row_number() OVER (ORDER BY nt DESC, shard_id ASC) AS rk
        |  FROM s),
        |step(rk, shard_id, nt, reader, l0, l1, l2, l3) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
        |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT o.rk, o.shard_id, o.nt,
        |    CASE WHEN st.l0 <= st.l1 AND st.l0 <= st.l2
        |           AND st.l0 <= st.l3 THEN 0
        |         WHEN st.l1 <= st.l2 AND st.l1 <= st.l3 THEN 1
        |         WHEN st.l2 <= st.l3 THEN 2 ELSE 3 END,
        |    st.l0 + CASE WHEN st.l0 <= st.l1 AND st.l0 <= st.l2
        |      AND st.l0 <= st.l3 THEN o.nt ELSE 0 END,
        |    st.l1 + CASE WHEN NOT (st.l0 <= st.l1 AND st.l0 <= st.l2
        |        AND st.l0 <= st.l3)
        |      AND st.l1 <= st.l2 AND st.l1 <= st.l3
        |      THEN o.nt ELSE 0 END,
        |    st.l2 + CASE WHEN NOT (st.l0 <= st.l1 AND st.l0 <= st.l2
        |        AND st.l0 <= st.l3)
        |      AND NOT (st.l1 <= st.l2 AND st.l1 <= st.l3)
        |      AND st.l2 <= st.l3 THEN o.nt ELSE 0 END,
        |    st.l3 + CASE WHEN NOT (st.l0 <= st.l1 AND st.l0 <= st.l2
        |        AND st.l0 <= st.l3)
        |      AND NOT (st.l1 <= st.l2 AND st.l1 <= st.l3)
        |      AND NOT (st.l2 <= st.l3) THEN o.nt ELSE 0 END
        |  FROM step st JOIN ordered o ON o.rk = st.rk + 1)
        |SELECT shard_id, nt AS n_tokens, CAST(reader AS BIGINT) AS reader
        |FROM step WHERE rk >= 1
        |ORDER BY shard_id""".stripMargin,

    // x133: Benford — exact integer scaling, leading digit as the
    // decimal string head, one division per digit row
    "x133_benford" ->
      """WITH v AS (
        |  SELECT CAST(floor(o_totalprice * 100.0e0) AS BIGINT) AS n0
        |  FROM orders),
        |d AS (
        |  SELECT CAST(substring(CAST(n0 AS VARCHAR), 1, 1) AS BIGINT)
        |    AS digit
        |  FROM v WHERE n0 >= 1),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        |      FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM c)
        |SELECT digit, n,
        |  CAST(n AS DOUBLE) / CAST(tt AS DOUBLE) AS share
        |FROM c CROSS JOIN t ORDER BY digit""".stripMargin,

    // x134: Gini — rank·value exact decimal sums, the closed form in
    // one fixed-order double chain; ties don't matter (x·Σi)
    "x134_gini" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS DECIMAL(19,0)) AS i
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(v AS DECIMAL(18,4))) AS s0,
        |    sum(i * CAST(v AS DECIMAL(19,4))) AS t0
        |  FROM r GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CASE WHEN CAST(CAST(s0 AS VARCHAR) AS DOUBLE) > 0.0e0
        |    THEN 2.0e0 * CAST(CAST(t0 AS VARCHAR) AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(CAST(s0 AS VARCHAR) AS DOUBLE))
        |      - (CAST(n AS DOUBLE) + 1.0e0) / CAST(n AS DOUBLE)
        |  END AS gini
        |FROM m ORDER BY l_returnflag""".stripMargin,

    // x130: session-duration quantiles — the x14 session CTE feeding
    // the x28 integer-rank quantile formula, corpus-wide
    "x130_session_quantiles" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid,
        |    epoch_us(ts) AS us
        |  FROM flagged),
        |durs AS (
        |  SELECT CAST(max(us) - min(us) AS BIGINT) AS v
        |  FROM sess GROUP BY user_id, sid),
        |r AS (
        |  SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |    count(*) OVER () AS n
        |  FROM durs)
        |SELECT
        |  max(CASE WHEN rn = greatest(1, (1*n + 1) // 2) THEN v END) AS p50,
        |  max(CASE WHEN rn = greatest(1, (9*n + 9) // 10) THEN v END) AS p90,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM r""".stripMargin,

    // x131: similarity histogram — the x02 chain at threshold 0.3,
    // bucketed by floor(jaccard*10)
    "x131_sim_histogram" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |  FROM inter
        |  JOIN sizes sa ON d1 = sa.doc_id
        |  JOIN sizes sb ON d2 = sb.doc_id)
        |SELECT CAST(floor(jaccard * 10.0e0) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM j WHERE jaccard >= 0.3
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    // x132: winsorized mean — exact rank bounds (the x28 formula),
    // clip via least/greatest, decimal sum, one boundary division
    "x132_winsorized" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |bounds AS (
        |  SELECT l_returnflag,
        |    max(CASE WHEN rn = greatest(1, (1*n + 19) // 20) THEN v END)
        |      AS lo,
        |    max(CASE WHEN rn = greatest(1, (19*n + 19) // 20) THEN v END)
        |      AS hi
        |  FROM r GROUP BY 1)
        |SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  max(b.lo) AS lo, max(b.hi) AS hi,
        |  CAST(sum(CASE WHEN l.l_extendedprice < b.lo THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN l.l_extendedprice > b.hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hi,
        |  CAST(CAST(sum(CAST(least(greatest(l.l_extendedprice, b.lo), b.hi)
        |      AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS win_mean
        |FROM lineitem l JOIN bounds b USING (l_returnflag)
        |GROUP BY 1 ORDER BY l.l_returnflag""".stripMargin,

    // x129: regression/correlation — exact decimal moments, the
    // VARCHAR-double boundary trick per moment, fixed-order closed
    // forms mirroring the engine's operand order exactly
    "x129_regression" ->
      """WITH m AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS sx0,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy0,
        |    sum(CAST(l_quantity AS DECIMAL(19,4))
        |      * CAST(l_quantity AS DECIMAL(19,4))) AS sxx0,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,4))
        |      * CAST(l_extendedprice AS DECIMAL(19,4))) AS syy0,
        |    sum(CAST(l_quantity AS DECIMAL(19,4))
        |      * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy0
        |  FROM lineitem GROUP BY 1),
        |d AS (
        |  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(sy0 AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(sxx0 AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(syy0 AS VARCHAR) AS DOUBLE) AS syy,
        |    CAST(CAST(sxy0 AS VARCHAR) AS DOUBLE) AS sxy
        |  FROM m)
        |SELECT l_returnflag, n,
        |  CASE WHEN nd * sxx - sx * sx > 0.0e0
        |    THEN (nd * sxy - sx * sy) / (nd * sxx - sx * sx) END AS slope,
        |  CASE WHEN nd * sxx - sx * sx > 0.0e0
        |    THEN (sy - (nd * sxy - sx * sy) / (nd * sxx - sx * sx) * sx)
        |      / nd END AS intercept,
        |  CASE WHEN nd * sxx - sx * sx > 0.0e0
        |      AND nd * syy - sy * sy > 0.0e0
        |    THEN (nd * sxy - sx * sy)
        |      / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)) END AS r
        |FROM d ORDER BY l_returnflag""".stripMargin,

    // x127: last-touch attribution — the q02 as-of oracle shape on
    // events; ties at equal click ts resolve to the greatest click id
    // (AsOfJoinExec's greatest-tuple rule)
    "x127_last_touch" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts AS asof_ts, event_id AS asof_event_id
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.event_id, p.user_id, p.ts, c.asof_ts, c.asof_event_id,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.asof_ts DESC, c.asof_event_id DESC) AS rn
        |  FROM p LEFT JOIN c
        |    ON c.user_id = p.user_id AND c.asof_ts <= p.ts)
        |SELECT event_id, user_id, ts, asof_ts, asof_event_id
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // x124: cohort retention — (user, day) distinct, min-day cohort,
    // exact integer period offsets
    "x124_cohort_retention" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id AS key, CAST(date_trunc('day', ts) AS TIMESTAMP) AS p
        |  FROM events),
        |first AS (SELECT key, min(p) AS cohort FROM active GROUP BY 1)
        |SELECT cohort,
        |  CAST((epoch_us(p) - epoch_us(cohort)) // 86400000000 AS BIGINT)
        |    AS "offset",
        |  CAST(count(*) AS BIGINT) AS n_active
        |FROM active JOIN first USING (key)
        |GROUP BY 1, 2 ORDER BY cohort, "offset"""".stripMargin,

    // x125: daily HLL users — the x107 register pipeline keyed by the
    // event day over stringified user ids
    "x125_daily_hll" ->
      """WITH vals AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, CAST(user_id AS VARCHAR) AS w
        |  FROM events),
        |h AS (
        |  SELECT d,
        |    (((CASE WHEN length(w) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(w) + 1),
        |         j -> ascii(substring(w, j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) * 2654435761 + 17) % 1000000007) AS w1,
        |    (((CASE WHEN length(w) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(w) + 1),
        |         j -> ascii(substring(reverse(w), j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) * 2246822519 + 31) % 1000000007) AS w2
        |  FROM vals),
        |regs AS (
        |  SELECT d, w2 % 256 AS bucket,
        |    max(CASE WHEN w1 = 0 THEN 31
        |        ELSE 31 - length(bin(w1)) END) AS reg
        |  FROM h GROUP BY 1, 2),
        |fold AS (
        |  SELECT d, CAST(count(*) AS BIGINT) AS n_occ,
        |    CAST(max(reg) AS BIGINT) AS r_max,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(31 - reg AS INTEGER))
        |      AS BIGINT) AS s2_occ
        |  FROM regs GROUP BY 1),
        |ex AS (
        |  SELECT d, CAST(count(*) AS BIGINT) AS exact_distinct
        |  FROM (SELECT DISTINCT d, w FROM vals) GROUP BY 1)
        |SELECT f.d, CAST(256 - n_occ AS BIGINT) AS n_zero, r_max,
        |  CAST(s2_occ + (256 - n_occ) * 2147483648 AS BIGINT) AS s2,
        |  CAST(0.7213 AS DOUBLE)
        |    / (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE))
        |    * CAST(256 AS DOUBLE) * CAST(256 AS DOUBLE)
        |    * CAST(2147483648 AS DOUBLE)
        |    / CAST(s2_occ + (256 - n_occ) * 2147483648 AS DOUBLE) AS hll_est,
        |  exact_distinct
        |FROM fold f JOIN ex USING (d)
        |ORDER BY f.d""".stripMargin,

    // x122: funnel — chained conditional min-aggs; strictly-after
    // semantics (a tie with the previous stage does not advance)
    "x122_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id AS key, min(ts) AS t_1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT s1.key, s1.t_1,
        |    min(CASE WHEN e.ts > s1.t_1 THEN e.ts END) AS t_2
        |  FROM s1 LEFT JOIN events e
        |    ON e.user_id = s1.key AND e.event_type = 'click'
        |  GROUP BY 1, 2),
        |s3 AS (
        |  SELECT s2.key, s2.t_1, s2.t_2,
        |    min(CASE WHEN e.ts > s2.t_2 THEN e.ts END) AS t_3
        |  FROM s2 LEFT JOIN events e
        |    ON e.user_id = s2.key AND e.event_type = 'purchase'
        |  GROUP BY 1, 2, 3)
        |SELECT key, t_1, t_2, t_3,
        |  CAST((CASE WHEN t_1 IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN t_2 IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN t_3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS stage
        |FROM s3 ORDER BY key""".stripMargin,

    // x123: JSON props stats — schema-on-read extraction
    "x123_json_props" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(k) AS BIGINT) AS n_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(min(k) AS BIGINT) AS min_k,
        |  CAST(max(k) AS BIGINT) AS max_k
        |FROM (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // x120: shard plan — id-order prefix sum, floor division to
    // shard ids, per-shard manifest
    "x120_shard_plan" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS nt
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, nt,
        |    coalesce(sum(nt) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_prev
        |  FROM d)
        |SELECT CAST(cum_prev // 2000 AS BIGINT) AS shard_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM cum GROUP BY 1 ORDER BY shard_id""".stripMargin,

    // x121: source overlap — distinct string spans per source,
    // directional shared counts, one double division
    "x121_source_overlap" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |sp AS (
        |  SELECT DISTINCT source,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT source, count(*) AS n FROM sp GROUP BY 1),
        |shared AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS shared
        |  FROM sp a JOIN sp b ON a.s = b.s AND a.source <> b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, shared, CAST(sizes.n AS BIGINT) AS n_a,
        |  CAST(shared AS DOUBLE) / CAST(sizes.n AS DOUBLE) AS overlap
        |FROM shared JOIN sizes ON src_a = sizes.source
        |ORDER BY src_a, src_b""".stripMargin,

    // x119: rate anomaly — ROWS frame over observed hours; the
    // z-score denominator n·Q−S² stays integer-exact in doubles
    "x119_rate_anomaly" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type AS key,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT ws, key, c,
        |    count(*) OVER w AS n,
        |    sum(c) OVER w AS s,
        |    sum(c * c) OVER w AS q
        |  FROM c
        |  WINDOW w AS (PARTITION BY key ORDER BY ws
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT ws, key, c, CAST(coalesce(n, 0) AS BIGINT) AS n_prior,
        |  CASE WHEN n >= 8
        |      AND CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) > 0.0
        |    THEN (CAST(c AS DOUBLE) * CAST(n AS DOUBLE) - CAST(s AS DOUBLE))
        |      / sqrt(CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) END AS z
        |FROM m ORDER BY ws, key""".stripMargin,

    // x118: total-variation drift — integer numerators in sized
    // decimals (18,0)x(18,0) -> 37 precision, absent-token mass in
    // closed form, one boundary division
    "x118_source_drift" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |ct AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |       FROM toks GROUP BY 1, 2),
        |corpus AS (SELECT tok, CAST(sum(c) AS BIGINT) AS big_c
        |           FROM ct GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens
        |       FROM ct GROUP BY 1),
        |n AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total FROM ns),
        |present AS (
        |  SELECT ct.source,
        |    sum(abs(CAST(ct.c AS DECIMAL(18,0))
        |        * CAST(n.n_total AS DECIMAL(18,0))
        |      - CAST(corpus.big_c AS DECIMAL(18,0))
        |        * CAST(ns.n_tokens AS DECIMAL(18,0)))) AS diff_present,
        |    CAST(sum(corpus.big_c) AS BIGINT) AS c_present
        |  FROM ct JOIN corpus USING (tok) JOIN ns USING (source)
        |  CROSS JOIN n GROUP BY 1)
        |SELECT p.source, ns.n_tokens,
        |  CAST(CAST(p.diff_present
        |      + CAST(ns.n_tokens AS DECIMAL(18,0))
        |        * CAST(n.n_total - p.c_present AS DECIMAL(18,0))
        |    AS VARCHAR) AS DOUBLE)
        |  / (CAST(2 AS DOUBLE) * CAST(ns.n_tokens AS DOUBLE)
        |    * CAST(n.n_total AS DOUBLE)) AS tv_distance
        |FROM present p JOIN ns USING (source) CROSS JOIN n
        |ORDER BY p.source""".stripMargin,

    // x117: containment pairs — x02's intersection machinery with
    // both directional ratios; qualifies on either direction
    "x117_containment_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared, n_a, n_b, c_a_in_b, c_b_in_a FROM (
        |  SELECT id_a, id_b, CAST(i AS BIGINT) AS shared,
        |    CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
        |    CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE) AS c_a_in_b,
        |    CAST(i AS DOUBLE) / CAST(sb.n AS DOUBLE) AS c_b_in_a
        |  FROM inter
        |  JOIN sizes sa ON id_a = sa.doc_id
        |  JOIN sizes sb ON id_b = sb.doc_id) t
        |WHERE greatest(c_a_in_b, c_b_in_a) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // x116: Cavnar-Trenkle rank profiles — all integer; row_number
    // rank over (count DESC, gram), out-of-place distance with miss
    // cost k, arg-min via (dist, lang) ordering
    "x116_langid_trained" ->
      """WITH g0 AS (
        |  SELECT doc_id, lang, lower(text) AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, greatest(length(t) - 2, 0) + 1),
        |      i -> substring(t, i, 3))) AS g
        |  FROM g0),
        |lp AS (
        |  SELECT lang, g, lr FROM (
        |    SELECT lang, g, row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, g) AS lr
        |    FROM grams GROUP BY lang, g) WHERE lr <= 50),
        |dp AS (
        |  SELECT doc_id, g, dr FROM (
        |    SELECT doc_id, g, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY count(*) DESC, g) AS dr
        |    FROM grams GROUP BY doc_id, g) WHERE dr <= 50),
        |langs AS (SELECT DISTINCT lang FROM lp),
        |scored AS (
        |  SELECT dp.doc_id, langs.lang,
        |    CAST(sum(CASE WHEN lp.lr IS NULL THEN 50
        |      ELSE abs(dp.dr - lp.lr) END) AS BIGINT) AS dist
        |  FROM dp CROSS JOIN langs
        |  LEFT JOIN lp ON lp.lang = langs.lang AND lp.g = dp.g
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, lang AS pred_lang, dist AS distance FROM (
        |    SELECT doc_id, lang, dist, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY dist, lang) AS rn
        |    FROM scored) WHERE rn = 1)
        |SELECT d.doc_id, b.pred_lang, b.distance,
        |  b.pred_lang = d.lang AS is_correct
        |FROM documents d LEFT JOIN best b USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // x115: TextRank — three fixed rounds as chained CTEs; every
    // contribution r·w/wdeg quantized by integer FLOOR into 1e-12
    // micro-units (truncation has no rounding ties — early-round
    // ranks are dyadic rationals that land exactly on scale-12
    // HALF_UP-vs-HALF_EVEN ties, a measured 1-ulp corpus mismatch)
    "x115_textrank" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bi0 AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM (
        |    SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
        |bic AS (
        |  SELECT w1, w2, count(*) AS w FROM bi0 WHERE w1 <> w2
        |  GROUP BY 1, 2),
        |edges AS (
        |  SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
        |    SELECT w1 AS src, w2 AS dst, w FROM bic
        |    UNION ALL SELECT w2 AS src, w1 AS dst, w FROM bic)
        |  GROUP BY 1, 2),
        |wdeg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg
        |         FROM edges GROUP BY 1),
        |r0 AS (SELECT src AS term, CAST(1 AS DOUBLE) AS rank FROM wdeg),
        |c1 AS (
        |  SELECT e.dst AS term,
        |    CAST(floor(r.rank * CAST(e.w AS DOUBLE)
        |      / CAST(d.wdeg AS DOUBLE) * 1e12) AS BIGINT) AS c
        |  FROM edges e JOIN r0 r ON e.src = r.term
        |  JOIN wdeg d ON e.src = d.src),
        |r1 AS (
        |  SELECT term,
        |    0.25e0 + 0.75e0 * (CAST(sum(c) AS DOUBLE) / 1e12) AS rank
        |  FROM c1 GROUP BY 1),
        |c2 AS (
        |  SELECT e.dst AS term,
        |    CAST(floor(r.rank * CAST(e.w AS DOUBLE)
        |      / CAST(d.wdeg AS DOUBLE) * 1e12) AS BIGINT) AS c
        |  FROM edges e JOIN r1 r ON e.src = r.term
        |  JOIN wdeg d ON e.src = d.src),
        |r2 AS (
        |  SELECT term,
        |    0.25e0 + 0.75e0 * (CAST(sum(c) AS DOUBLE) / 1e12) AS rank
        |  FROM c2 GROUP BY 1),
        |c3 AS (
        |  SELECT e.dst AS term,
        |    CAST(floor(r.rank * CAST(e.w AS DOUBLE)
        |      / CAST(d.wdeg AS DOUBLE) * 1e12) AS BIGINT) AS c
        |  FROM edges e JOIN r2 r ON e.src = r.term
        |  JOIN wdeg d ON e.src = d.src),
        |r3 AS (
        |  SELECT term,
        |    0.25e0 + 0.75e0 * (CAST(sum(c) AS DOUBLE) / 1e12) AS rank
        |  FROM c3 GROUP BY 1)
        |SELECT r3.term, d.wdeg, r3.rank
        |FROM r3 JOIN wdeg d ON r3.term = d.src
        |ORDER BY r3.term""".stripMargin,

    // x114: interval overlap — the oracle is the plain overlap
    // predicate join; the engine's bin ownership must reproduce it
    "x114_interval_overlap" ->
      """WITH a AS (
        |  SELECT o_orderkey AS a_orderkey,
        |    CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS a_s
        |  FROM orders WHERE o_totalprice > 400000),
        |b AS (
        |  SELECT o_orderkey AS b_orderkey,
        |    CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS b_s
        |  FROM orders WHERE o_orderpriority = '1-URGENT')
        |SELECT a_orderkey, CAST(count(*) AS BIGINT) AS n_overlap,
        |  CAST(min(b_orderkey) AS BIGINT) AS first_b
        |FROM a JOIN b ON a.a_s <= b.b_s + 2 AND b.b_s <= a.a_s + 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // x113: vocabulary growth — doc-offset prefix sum, first global
    // position per token, 10-cut grid; // is floor division like the
    // engine's nonnegative Long division
    "x113_vocab_growth" ->
      """WITH arrs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, s['pos'] AS pos, s['tok'] AS tok FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(arr) + 1),
        |      i -> {'pos': i - 1, 'tok': arr[i]})) AS s
        |    FROM arrs)),
        |perdoc AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
        |offs AS (
        |  SELECT doc_id, coalesce(sum(n) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM perdoc),
        |firsts AS (
        |  SELECT tok, min(off + pos) AS first
        |  FROM tok JOIN offs USING (doc_id) GROUP BY 1),
        |tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS t FROM perdoc),
        |grid AS (
        |  SELECT i, (i * t) // 10 AS n_prefix
        |  FROM (SELECT unnest(range(1, 11)) AS i) CROSS JOIN tot)
        |SELECT CAST(i AS BIGINT) AS i, CAST(n_prefix AS BIGINT) AS n_prefix,
        |  CAST(count(*) AS BIGINT) AS vocab
        |FROM firsts JOIN grid ON firsts.first < grid.n_prefix
        |GROUP BY 1, 2 ORDER BY i""".stripMargin,

    // x112: range join — the oracle is the PLAIN non-equi BETWEEN
    // join; the engine's bin bucketing must reproduce it exactly
    "x112_range_join" ->
      """WITH p AS (
        |  SELECT CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS ship_day,
        |    l_quantity
        |  FROM lineitem),
        |iv AS (
        |  SELECT o_orderkey,
        |    CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS s
        |  FROM orders WHERE o_totalprice > 400000)
        |SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_ship,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
        |    AS DOUBLE) AS sum_qty
        |FROM p JOIN iv ON p.ship_day BETWEEN iv.s AND iv.s + 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // x111: bigram novelty — distinct bigrams per doc, first
    // occurrence = min doc_id per bigram, one double division
    "x111_bigram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bgd AS (
        |  SELECT DISTINCT doc_id, w1, w2 FROM (
        |    SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM (
        |      SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks))),
        |fd AS (SELECT w1, w2, min(doc_id) AS first_id FROM bgd GROUP BY 1, 2),
        |agg AS (
        |  SELECT b.doc_id, count(*) AS n_distinct,
        |    sum(CASE WHEN f.first_id = b.doc_id THEN 1 ELSE 0 END) AS n_novel
        |  FROM bgd b JOIN fd f USING (w1, w2) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_distinct, 0) AS BIGINT) AS n_distinct,
        |  CAST(coalesce(a.n_novel, 0) AS BIGINT) AS n_novel,
        |  CAST(a.n_novel AS DOUBLE) / a.n_distinct AS novelty
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // x110: Kneser-Ney bigram score — on the training corpus every
    // count is present, so the joins are inner; the formula is the
    // engine's exact operand order (discount 0.75 is an exact binary
    // fraction; decimal sum → varchar → double at the boundary)
    "x110_kneser_ney" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM (
        |    SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
        |c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS cnt1 FROM bi GROUP BY 1),
        |f AS (SELECT w1, count(*) AS n1f FROM c2 GROUP BY 1),
        |bwd AS (SELECT w2, count(*) AS n1b FROM c2 GROUP BY 1),
        |np AS (SELECT CAST(count(*) AS DOUBLE) AS np FROM c2),
        |scored AS (
        |  SELECT b.doc_id,
        |    CAST(greatest(CAST(c2.cnt2 AS DOUBLE) - 0.75e0, 0.0e0)
        |        / CAST(c1.cnt1 AS DOUBLE)
        |      + 0.75e0 * CAST(f.n1f AS DOUBLE) / CAST(c1.cnt1 AS DOUBLE)
        |        * (CAST(bwd.n1b AS DOUBLE) / np.np)
        |      AS DECIMAL(28,12)) AS p
        |  FROM bi b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  JOIN f USING (w1) JOIN bwd USING (w2) CROSS JOIN np),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(CAST(sum(p) AS VARCHAR) AS DOUBLE) / count(*)
        |      AS bigram_score
        |  FROM scored GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  a.bigram_score
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // x109: positional phrase evaluation — slot-normalized starts,
    // a match iff all distinct slots present at one start (the
    // repeated-term phrase makes distinct-slot counting load-bearing)
    "x109_phrase_search" ->
      """WITH arrs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |posts0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(arr) + 1),
        |    i -> {'pos': i - 1, 'term': arr[i]})) AS s
        |  FROM arrs),
        |posts AS (
        |  SELECT doc_id, s['pos'] AS pos, s['term'] AS term FROM posts0
        |  WHERE s['term'] IN ('table')),
        |slots(term, slot) AS (VALUES ('table', 0), ('table', 1)),
        |starts AS (
        |  SELECT doc_id, pos - slot AS start, slot
        |  FROM posts JOIN slots USING (term) WHERE pos - slot >= 0),
        |m AS (
        |  SELECT doc_id, start FROM starts GROUP BY 1, 2
        |  HAVING count(DISTINCT slot) = 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        |  CAST(min(start) AS BIGINT) AS first_pos
        |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // x106: the whole KMV derivation recomputes — portable composite
    // hash, distinct hashes, row_number rank k, and the one double
    // chain (k-1)·U/h_k in the engine's own IEEE arithmetic
    "x106_kmv_distinct" ->
      """WITH arrs AS (
        |  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |toks AS (
        |  SELECT source, unnest(list_transform(range(1, len(arr)),
        |    i -> concat(arr[i], ' ', arr[i+1]))) AS w
        |  FROM arrs),
        |dv AS (SELECT DISTINCT source, w FROM toks),
        |h AS (
        |  SELECT source,
        |    (((CASE WHEN length(w) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(w) + 1),
        |         j -> ascii(substring(w, j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) * 2654435761 + 17) % 1000000007)
        |      * 1073741824 +
        |    (((CASE WHEN length(w) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(w) + 1),
        |         j -> ascii(substring(reverse(w), j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) * 2246822519 + 31) % 1000000007) AS hv
        |  FROM dv),
        |dh AS (SELECT DISTINCT source, hv FROM h),
        |kth AS (
        |  SELECT source, hv AS kth_hash FROM (
        |    SELECT source, hv,
        |      row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        |    FROM dh) WHERE rn = 64),
        |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS exact_distinct
        |       FROM dv GROUP BY 1),
        |nh AS (SELECT source, CAST(count(*) AS BIGINT) AS n_hashes
        |       FROM dh GROUP BY 1)
        |SELECT ex.source, exact_distinct, n_hashes,
        |  CAST(kth_hash AS BIGINT) AS kth_hash,
        |  CASE WHEN kth_hash IS NOT NULL
        |    THEN CAST(63 AS DOUBLE) * CAST(1073741832516192775 AS DOUBLE)
        |      / CAST(kth_hash AS DOUBLE)
        |    ELSE CAST(n_hashes AS DOUBLE) END AS kmv_est
        |FROM ex JOIN nh USING (source) LEFT JOIN kth USING (source)
        |ORDER BY ex.source""".stripMargin,

    // x107: registers recompute from the portable hash (rho via bin()
    // string length — pure integer/string, no log2); the harmonic sum
    // stays in BIGINT shifts; the single double chain mirrors the
    // engine's fixed operand order
    "x107_hll_distinct" ->
      """WITH arrs AS (
        |  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |toks AS (
        |  SELECT source, unnest(list_transform(range(1, len(arr)),
        |    i -> concat(arr[i], ' ', arr[i+1]))) AS w
        |  FROM arrs),
        |h AS (
        |  SELECT source,
        |    (((CASE WHEN length(w) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(w) + 1),
        |         j -> ascii(substring(w, j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) * 2654435761 + 17) % 1000000007) AS w1,
        |    (((CASE WHEN length(w) = 0 THEN 0
        |     ELSE CAST(list_reduce(list_transform(range(1, length(w) + 1),
        |         j -> ascii(substring(reverse(w), j, 1))),
        |       (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |       AS BIGINT) END) * 2246822519 + 31) % 1000000007) AS w2
        |  FROM toks),
        |regs AS (
        |  SELECT source, w2 % 256 AS bucket,
        |    max(CASE WHEN w1 = 0 THEN 31
        |        ELSE 31 - length(bin(w1)) END) AS reg
        |  FROM h GROUP BY 1, 2),
        |fold AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_occ,
        |    CAST(max(reg) AS BIGINT) AS r_max,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(31 - reg AS INTEGER))
        |      AS BIGINT) AS s2_occ
        |  FROM regs GROUP BY 1),
        |ex AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS exact_distinct
        |  FROM (SELECT DISTINCT source, w FROM toks) GROUP BY 1)
        |SELECT f.source, CAST(256 - n_occ AS BIGINT) AS n_zero, r_max,
        |  CAST(s2_occ + (256 - n_occ) * 2147483648 AS BIGINT) AS s2,
        |  CAST(0.7213 AS DOUBLE)
        |    / (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE))
        |    * CAST(256 AS DOUBLE) * CAST(256 AS DOUBLE)
        |    * CAST(2147483648 AS DOUBLE)
        |    / CAST(s2_occ + (256 - n_occ) * 2147483648 AS DOUBLE) AS hll_est,
        |  exact_distinct
        |FROM fold f JOIN ex USING (source)
        |ORDER BY f.source""".stripMargin
  )

  // The x66 pinned adaptive-LSH pair set: random-hyperplane signatures
  // are hash-specific (no SQL engine reproduces them), so the PAIRS are
  // a deterministic golden at sf0.01 (the x04/x07 discipline; regenerate
  // with `runMain graft.AdaptPin`). x66 checks the pairs themselves with
  // exact cosines; x74/x75 recompute the connected-component clustering
  // and survivor rules in SQL FROM these pairs (the x16 recursive-CTE
  // discipline), so only the hash-specific pair set is pinned while
  // every derivation stays oracle-recomputed. The adaptive behavior —
  // clustered-corpus candidate collapse and recall vs base LSH — is
  // asserted hash-free in ScaleSpec.
  private val adaptiveLshPairRows: String =
    """ (7, 340, 0.4927657135003488e0),
      | (24, 298, 0.42270265113884714e0),
      | (44, 301, 0.4596665428707692e0),
      | (75, 256, 0.4563095159142706e0),
      | (150, 152, 0.41825457548289297e0),
      | (159, 202, 0.4031424785766e0),
      | (191, 431, 0.4420580850530819e0),
      | (195, 317, 0.4494482735608698e0),
      | (203, 414, 0.40983146997672093e0),
      | (262, 291, 0.41742628101030044e0),
      | (338, 406, 0.4826603508971818e0),
      | (350, 479, 0.4429217489751484e0),
      | (355, 417, 0.4007295896794913e0)""".stripMargin

  // pinned pairs → undirected edges → transitive reach → per-source min
  private val adaptiveLshReach: String =
    s"""pinned(id_a, id_b, cosine) AS (VALUES
       |$adaptiveLshPairRows),
       |edges AS (SELECT id_a AS a, id_b AS b FROM pinned
       |          UNION SELECT id_b, id_a FROM pinned),
       |reach(src, dst) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)""".stripMargin

  private val adaptiveLsh: Map[String, String] = Map(
    "x66_adaptive_lsh" ->
      s"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
         |  CAST(cosine AS DOUBLE) AS cosine
         |FROM (VALUES
         |$adaptiveLshPairRows
         |) t(id_a, id_b, cosine) ORDER BY id_a, id_b""".stripMargin,

    "x74_lsh_corpus_dedup" ->
      s"""WITH RECURSIVE $adaptiveLshReach,
         |dropped AS (
         |  SELECT src AS id FROM reach GROUP BY src HAVING min(dst) < src)
         |SELECT CAST(vec_id AS BIGINT) AS id FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM dropped)
         |ORDER BY id""".stripMargin,

    "x75_semantic_canonical" ->
      s"""WITH RECURSIVE $adaptiveLshReach,
         |comp AS (
         |  SELECT e.vec_id,
         |    least(e.vec_id, coalesce(r.m, e.vec_id)) AS cluster
         |  FROM embeddings e
         |  LEFT JOIN (SELECT src, min(dst) AS m FROM reach GROUP BY src) r
         |    ON e.vec_id = r.src),
         |scored AS (
         |  SELECT c.vec_id, c.cluster, d.n_chars,
         |    row_number() OVER (PARTITION BY c.cluster
         |      ORDER BY d.n_chars DESC, c.vec_id) AS rn
         |  FROM comp c JOIN documents d ON d.doc_id = c.vec_id)
         |SELECT CAST(vec_id AS BIGINT) AS id, CAST(cluster AS BIGINT) AS cluster,
         |  CAST(n_chars AS BIGINT) AS n_chars
         |FROM scored WHERE rn = 1 ORDER BY id""".stripMargin
  )

  // x67: the fine-as-data two-level training/assignment path is
  // bitwise-equal to the plan-constant x63 by construction (spec-
  // asserted), so it answers to x63's full SQL recomputation — the
  // shared oracle IS the claim that the unbounded-K scale path
  // changes nothing but the execution shape
  // x128: truncation-recall — one top-5 CTE per prefix dimension
  // (generated; same cosine text as x06), ground truth = the full
  // 64-dim selection, arms UNION ALL'd
  private def truncCos(a: String, b: String, d: Int): String = {
    def v(x: String) = s"CAST($x.embedding[1:$d] AS DOUBLE[])"
    s"list_dot_product(${v(a)}, ${v(b)}) / " +
      s"(sqrt(list_dot_product(${v(a)}, ${v(a)})) * " +
      s"sqrt(list_dot_product(${v(b)}, ${v(b)})))"
  }
  private def truncSel(d: Int): String =
    s"""sel$d AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${truncCos("q", "c", d)} DESC, c.vec_id) AS rank
       |    FROM embeddings q JOIN embeddings c
       |      ON q.vec_id < 10 AND c.vec_id != q.vec_id) t
       |  WHERE rank <= 5)""".stripMargin
  private def truncArm(d: Int): String =
    s"""SELECT CAST($d AS BIGINT) AS dim,
       |  CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(count(s.neighbor_id) AS BIGINT) AS n_hit,
       |  CAST(count(s.neighbor_id) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS recall
       |FROM sel64 f LEFT JOIN sel$d s
       |  ON s.query_id = f.query_id AND s.neighbor_id = f.neighbor_id"""
      .stripMargin
  private val truncRecall: Map[String, String] = Map(
    "x128_trunc_recall" ->
      (s"WITH ${Seq(8, 16, 32, 64).map(truncSel).mkString(",\n")}\n" +
        Seq(8, 16, 32, 64).map(truncArm).mkString("\nUNION ALL\n") +
        "\nORDER BY dim"))

  // x142: the manifest-driven export replays the ENTIRE x96 kept-set
  // derivation (wrapped verbatim as a CTE — any drift in the curation
  // chain fails both queries identically), then the x120 integer
  // prefix-sum packing over the survivors; the Spark side must
  // round-trip those rows through JSONL shards ON DISK unchanged.
  private val manifestExport: Map[String, String] = Map(
    "x142_manifest_export" ->
      (s"WITH man AS (\n${base("x96_corpus_prep")}\n),\n" +
        """kept AS (SELECT doc_id, n_tokens FROM man WHERE kept),
          |cum AS (
          |  SELECT doc_id, n_tokens,
          |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS cum_prev
          |  FROM kept)
          |SELECT CAST(cum_prev // 2000 AS BIGINT) AS shard_id,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
          |  CAST(min(doc_id) AS BIGINT) AS first_doc,
          |  CAST(max(doc_id) AS BIGINT) AS last_doc
          |FROM cum GROUP BY 1 ORDER BY shard_id""".stripMargin))

  // x155: retrieval eval — the x81 scorer wrapped verbatim (any bm25
  // drift fails both queries identically), per-query rank cut,
  // AND-semantics relevance, MRR/precision tail
  private val retrievalEvalO: Map[String, String] = Map(
    "x155_retrieval_eval" ->
      (s"WITH sc AS (\n${base("x81_bm25_multi")}\n),\n" +
        """ranked AS (
          |  SELECT doc_id, query_id, bm25,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY bm25 DESC, doc_id ASC) AS rank
          |  FROM sc),
          |top AS (SELECT * FROM ranked WHERE rank <= 10),
          |toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
          |    AS t
          |  FROM documents),
          |rel AS (
          |  SELECT top.query_id, top.rank,
          |    CASE top.query_id
          |      WHEN 'q_spark' THEN list_contains(t, 'spark')
          |        AND list_contains(t, 'shuffle')
          |      WHEN 'q_rel' THEN list_contains(t, 'join')
          |        AND list_contains(t, 'window')
          |      ELSE list_contains(t, 'dup') AND list_contains(t, 'filter')
          |    END AS is_rel
          |  FROM top JOIN toks USING (doc_id))
          |SELECT query_id,
          |  CAST(sum(CASE WHEN is_rel THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_rel_at_k,
          |  CAST(min(CASE WHEN is_rel THEN rank END) AS BIGINT)
          |    AS first_rel_rank,
          |  coalesce(1.0e0 / CAST(min(CASE WHEN is_rel THEN rank END)
          |    AS DOUBLE), 0.0e0) AS rr,
          |  CAST(sum(CASE WHEN is_rel THEN 1 ELSE 0 END) AS DOUBLE)
          |    / 10 AS p_at_k
          |FROM rel GROUP BY 1 ORDER BY query_id""".stripMargin))

  // x166: graded nDCG — the x81 scorer wrapped verbatim, containment
  // gains, quantized ln2/ln(i+1) discounts, exact decimal DCG/IDCG
  private val ndcgEvalO: Map[String, String] = Map(
    "x166_ndcg_eval" ->
      (s"WITH sc AS (\n${base("x81_bm25_multi")}\n),\n" +
        """toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
          |    AS t
          |  FROM documents),
          |g AS (
          |  SELECT sc.doc_id, sc.query_id, sc.bm25,
          |    CASE sc.query_id
          |      WHEN 'q_spark' THEN CAST(list_contains(t, 'spark') AS INT)
          |        + CAST(list_contains(t, 'shuffle') AS INT)
          |      WHEN 'q_rel' THEN CAST(list_contains(t, 'join') AS INT)
          |        + CAST(list_contains(t, 'window') AS INT)
          |      ELSE CAST(list_contains(t, 'dup') AS INT)
          |        + CAST(list_contains(t, 'filter') AS INT)
          |    END AS gain
          |  FROM sc JOIN toks USING (doc_id)),
          |top AS (
          |  SELECT query_id, gain,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY bm25 DESC, doc_id ASC) AS rank
          |  FROM g),
          |dcg AS (
          |  SELECT query_id,
          |    sum(CAST(gain AS DECIMAL(9,0)) *
          |      CAST(ln(2e0) / ln(CAST(rank + 1 AS DOUBLE))
          |        AS DECIMAL(28,12))) AS d
          |  FROM top WHERE rank <= 10 GROUP BY 1),
          |ideal AS (
          |  SELECT query_id, gain,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY gain DESC, doc_id ASC) AS rn
          |  FROM g),
          |idcg AS (
          |  SELECT query_id,
          |    sum(CAST(gain AS DECIMAL(9,0)) *
          |      CAST(ln(2e0) / ln(CAST(rn + 1 AS DOUBLE))
          |        AS DECIMAL(28,12))) AS d
          |  FROM ideal WHERE rn <= 10 GROUP BY 1)
          |SELECT dcg.query_id,
          |  CAST(CAST(dcg.d AS VARCHAR) AS DOUBLE) AS dcg,
          |  CAST(CAST(idcg.d AS VARCHAR) AS DOUBLE) AS idcg,
          |  CASE WHEN idcg.d > 0
          |    THEN CAST(CAST(dcg.d AS VARCHAR) AS DOUBLE)
          |      / CAST(CAST(idcg.d AS VARCHAR) AS DOUBLE)
          |    ELSE 0.0e0 END AS ndcg
          |FROM dcg JOIN idcg USING (query_id)
          |ORDER BY dcg.query_id""".stripMargin))

  // x169: the per-source nDCG grid — per-source qrels derived by
  // source-grain tf-idf, then the x166 nDCG tail over a TABLE-driven
  // query set: per-term idf·part contributions floor-quantized to
  // 1e-6 micro-units (the x139 discipline) so the per-query sum is an
  // exact integer; candidate set = docs matching >= 1 query term
  // (exact — gain > 0 iff a term matches iff a contribution row
  // exists, and zero-gain rows add 0 to both sums at any rank)
  private val ndcgGridO: Map[String, String] = Map(
    "x169_ndcg_grid" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |stf AS (
        |  SELECT source, term, count(*) AS tf
        |  FROM (SELECT source, unnest(t) AS term FROM toks)
        |  GROUP BY 1, 2),
        |sdf AS (SELECT term, count(*) AS df FROM stf GROUP BY 1),
        |nsrc AS (SELECT count(*) AS ns
        |         FROM (SELECT DISTINCT source FROM stf)),
        |qsc AS (
        |  SELECT source AS query_id, term,
        |    CAST(tf AS DECIMAL(9,0)) *
        |      CAST(ln(CAST(nsrc.ns AS DOUBLE) / CAST(df AS DOUBLE))
        |        AS DECIMAL(28,12)) AS score
        |  FROM stf JOIN sdf USING (term) CROSS JOIN nsrc),
        |qrels AS (
        |  SELECT query_id, term FROM (
        |    SELECT query_id, term,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, term ASC) AS rnk
        |    FROM qsc) WHERE rnk <= 3),
        |dl AS (SELECT doc_id, len(t) AS dl FROM toks),
        |dtf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
        |  JOIN (SELECT DISTINCT term FROM qrels) USING (term)
        |  GROUP BY 1, 2),
        |stats AS (SELECT count(*) AS n, sum(dl) AS s FROM dl),
        |ddf AS (SELECT term, count(*) AS df FROM dtf GROUP BY 1),
        |contrib AS (
        |  SELECT q.query_id, t.doc_id,
        |    CAST(floor(
        |      CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - f.df + 0.5e0)
        |          / (f.df + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * t.tf * st.s)
        |        / (st.s * (t.tf + 0.3e0)
        |          + 0.8999999999999999e0 * dl.dl * st.n))
        |      * 1000000e0) AS BIGINT) AS c
        |  FROM dtf t JOIN qrels q USING (term)
        |  JOIN dl ON t.doc_id = dl.doc_id
        |  JOIN ddf f ON t.term = f.term
        |  CROSS JOIN stats st),
        |perdq AS (
        |  SELECT query_id, doc_id, sum(c) AS micro, count(*) AS gain
        |  FROM contrib GROUP BY 1, 2),
        |top AS (
        |  SELECT query_id, gain,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY micro DESC, doc_id ASC) AS rank
        |  FROM perdq),
        |dcg AS (
        |  SELECT query_id,
        |    sum(CAST(gain AS DECIMAL(9,0)) *
        |      CAST(ln(2e0) / ln(CAST(rank + 1 AS DOUBLE))
        |        AS DECIMAL(28,12))) AS d
        |  FROM top WHERE rank <= 10 GROUP BY 1),
        |ideal AS (
        |  SELECT query_id, gain,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY gain DESC, doc_id ASC) AS rn
        |  FROM perdq),
        |idcg AS (
        |  SELECT query_id,
        |    sum(CAST(gain AS DECIMAL(9,0)) *
        |      CAST(ln(2e0) / ln(CAST(rn + 1 AS DOUBLE))
        |        AS DECIMAL(28,12))) AS d
        |  FROM ideal WHERE rn <= 10 GROUP BY 1)
        |SELECT dcg.query_id AS source,
        |  CAST(CAST(dcg.d AS VARCHAR) AS DOUBLE) AS dcg,
        |  CAST(CAST(idcg.d AS VARCHAR) AS DOUBLE) AS idcg,
        |  CASE WHEN idcg.d > 0
        |    THEN CAST(CAST(dcg.d AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(idcg.d AS VARCHAR) AS DOUBLE)
        |    ELSE 0.0e0 END AS ndcg
        |FROM dcg JOIN idcg USING (query_id)
        |ORDER BY source""".stripMargin)

  // x171: the shared winnow chain joined to sources — unordered
  // source-pair counts over exactly the x92 pair graph
  private val dedupProvenanceO: Map[String, String] = Map(
    "x171_dedup_provenance" ->
      (s"WITH $winnowKeptChain,\n" +
        """|wpairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |attributed AS (
        |  SELECT least(da.source, db.source) AS src_a,
        |    greatest(da.source, db.source) AS src_b
        |  FROM wpairs
        |  JOIN documents da ON wpairs.d1 = da.doc_id
        |  JOIN documents db ON wpairs.d2 = db.doc_id)
        |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
        |  src_a = src_b AS within
        |FROM attributed
        |GROUP BY 1, 2
        |ORDER BY src_a, src_b""".stripMargin))

  // x172: raw / exact-survivor / near-survivor token mass per source —
  // the fingerprint keep-min rule plus the shared winnow chain folded
  // to components (the x103 reach recipe), survivors = label self
  private val sourceContributionO: Map[String, String] = Map(
    "x172_source_contribution" ->
      (s"WITH RECURSIVE $winnowKeptChain,\n" +
        """|wpairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS (SELECT d1 AS a, d2 AS b FROM wpairs
        |          UNION SELECT d2, d1 FROM wpairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |lab AS (
        |  SELECT src AS id, least(src, min(dst)) AS cluster
        |  FROM reach GROUP BY src),
        |d AS (
        |  SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(lower(text)), '\s+')) AS nt,
        |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |      AS dfp
        |  FROM documents),
        |raw AS (
        |  SELECT source, count(*) AS n_docs, sum(nt) AS tokens_raw
        |  FROM d GROUP BY 1),
        |keepers AS (SELECT dfp, min(doc_id) AS doc_id FROM d GROUP BY 1),
        |ex AS (
        |  SELECT source, sum(nt) AS tokens_exact
        |  FROM d JOIN keepers USING (dfp, doc_id) GROUP BY 1),
        |nr AS (
        |  SELECT source, sum(nt) AS tokens_near
        |  FROM d LEFT JOIN lab ON d.doc_id = lab.id
        |  WHERE COALESCE(lab.cluster, d.doc_id) = d.doc_id
        |  GROUP BY 1)
        |SELECT raw.source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(tokens_raw AS BIGINT) AS tokens_raw,
        |  CAST(COALESCE(tokens_exact, 0) AS BIGINT) AS tokens_exact,
        |  CAST(COALESCE(tokens_near, 0) AS BIGINT) AS tokens_near
        |FROM raw
        |LEFT JOIN ex ON raw.source = ex.source
        |LEFT JOIN nr ON raw.source = nr.source
        |ORDER BY raw.source""".stripMargin))

  // x173: corpus-max as-of, per-user combiner agg, three exact global
  // NTILEs over total orders (metric, user_id) — standard tile
  // semantics both engines share (the x91 discipline); monetary
  // through the VARCHAR decimal→double parity cast
  // x174: per-(source, dim) DECIMAL(20,8) sums (the x143 cast
  // parity), pair join, dim-ordered double folds for dot/norms
  private val rfmCentroidO: Map[String, String] = Map(
    "x173_rfm" ->
      """WITH mx AS (SELECT max(epoch_us(ts)) AS asof_us FROM events),
        |per AS (
        |  SELECT user_id, max(epoch_us(ts)) AS last_us,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    sum(CAST(value AS DECIMAL(18,4))) AS m
        |  FROM events GROUP BY 1),
        |base AS (
        |  SELECT user_id,
        |    CAST((mx.asof_us - last_us) // 86400000000 AS BIGINT)
        |      AS recency_days,
        |    frequency, m
        |  FROM per CROSS JOIN mx)
        |SELECT user_id, recency_days, frequency,
        |  CAST(CAST(m AS VARCHAR) AS DOUBLE) AS monetary,
        |  CAST(ntile(5) OVER (ORDER BY recency_days ASC, user_id ASC)
        |    AS BIGINT) AS r_bucket,
        |  CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id ASC)
        |    AS BIGINT) AS f_bucket,
        |  CAST(ntile(5) OVER (ORDER BY m DESC, user_id ASC)
        |    AS BIGINT) AS m_bucket
        |FROM base ORDER BY user_id""".stripMargin,

    "x174_centroid_matrix" ->
      """WITH je AS (
        |  SELECT d.source AS src, i - 1 AS dim,
        |    CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(20,8)) AS v
        |  FROM documents d
        |  JOIN embeddings e ON d.doc_id = e.vec_id, range(1, 65) t(i)),
        |ss AS (SELECT src, dim, CAST(sum(v) AS DECIMAL(20,8)) AS s
        |       FROM je GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.src AS src_a, b.src AS src_b, a.dim,
        |    CAST(CAST(a.s AS VARCHAR) AS DOUBLE) AS da,
        |    CAST(CAST(b.s AS VARCHAR) AS DOUBLE) AS db
        |  FROM ss a JOIN ss b ON a.dim = b.dim AND a.src < b.src),
        |folded AS (
        |  SELECT src_a, src_b,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(da * db ORDER BY dim)), (acc, x) -> acc + x) AS dot,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(da * da ORDER BY dim)), (acc, x) -> acc + x) AS na,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(db * db ORDER BY dim)), (acc, x) -> acc + x) AS nb
        |  FROM pairs GROUP BY 1, 2)
        |SELECT src_a, src_b, dot / (sqrt(na) * sqrt(nb)) AS cosine
        |FROM folded ORDER BY src_a, src_b""".stripMargin)

  // x175: exact integer cell/marginal counts; each cell term the same
  // fixed IEEE expression both engines parse; ONE fold in (a, b) cell
  // order (the x143 list_reduce recipe)
  private val chiSquareO: Map[String, String] = Map(
    "x175_chi_square" ->
      """WITH cells AS (
        |  SELECT lang AS a, source AS b, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |ra AS (SELECT a, sum(c) AS ta FROM cells GROUP BY 1),
        |rb AS (SELECT b, sum(c) AS tb FROM cells GROUP BY 1),
        |tot AS (SELECT sum(c) AS n, count(DISTINCT a) AS na,
        |        count(DISTINCT b) AS nb FROM cells),
        |grid AS (
        |  SELECT ra.a, rb.b, ra.ta, rb.tb, COALESCE(cells.c, 0) AS c
        |  FROM ra CROSS JOIN rb LEFT JOIN cells USING (a, b)),
        |terms AS (
        |  SELECT grid.a, grid.b,
        |    (CAST(c AS DOUBLE)
        |      - CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
        |        / CAST(n AS DOUBLE))
        |    * (CAST(c AS DOUBLE)
        |      - CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
        |        / CAST(n AS DOUBLE))
        |    / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
        |        / CAST(n AS DOUBLE)) AS t
        |  FROM grid CROSS JOIN tot)
        |SELECT CAST(tot.n AS BIGINT) AS n, CAST(tot.na AS BIGINT) AS n_a,
        |  CAST(tot.nb AS BIGINT) AS n_b,
        |  CAST((tot.na - 1) * (tot.nb - 1) AS BIGINT) AS dof,
        |  (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |     list(t ORDER BY a, b)), (acc, x) -> acc + x)
        |   FROM terms) AS chi2
        |FROM tot""".stripMargin)

  // x176: the x141 session-transition chain + 4 unrolled quantized
  // power-iteration rounds (the x115 recipe on behavioral data):
  // per-edge floor micro-units, exact Long round totals, one
  // renormalizing division per state; DANGLING (destination-only)
  // states self-loop so absorbing chains keep their mass (mirrors
  // the engine's stochasticization). `c` is MATERIALIZED: the dang
  // NOT-IN subquery otherwise makes DuckDB's CTE inliner re-expand
  // the full window chain per round (observed OOM at sf0.01)
  private val stationaryO: Map[String, String] = {
    val head =
      """flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM flagged),
        |pairs AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id, sid
        |      ORDER BY ts, event_id) AS prev_type,
        |    event_type AS next_type
        |  FROM sess),
        |c AS MATERIALIZED (
        |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS tt
        |      FROM c GROUP BY 1),
        |states AS (SELECT prev_type AS state FROM c
        |           UNION SELECT next_type FROM c),
        |dang AS (SELECT state FROM states
        |         WHERE state NOT IN (SELECT prev_type FROM t)),
        |r0 AS (SELECT state, CAST(1.0 AS DOUBLE) AS r FROM states)"""
        .stripMargin
    val rounds = (1 to 4).map { k =>
      s"""cr$k AS (
         |  SELECT c.next_type AS state,
         |    CAST(floor(r.r * CAST(c.n AS DOUBLE) / CAST(t.tt AS DOUBLE)
         |      * 1e12) AS BIGINT) AS cc
         |  FROM c JOIN r${k - 1} r ON c.prev_type = r.state
         |  JOIN t ON c.prev_type = t.prev_type),
         |dr$k AS (
         |  SELECT d.state, CAST(floor(r.r * 1e12) AS BIGINT) AS cc
         |  FROM dang d JOIN r${k - 1} r ON d.state = r.state),
         |cj$k AS (SELECT state, CAST(sum(cc) AS BIGINT) AS cj
         |         FROM (SELECT * FROM cr$k
         |               UNION ALL SELECT * FROM dr$k) GROUP BY 1),
         |tt$k AS (SELECT CAST(sum(cj) AS BIGINT) AS tot FROM cj$k),
         |r$k AS (
         |  SELECT s.state,
         |    CAST(COALESCE(cj.cj, 0) AS DOUBLE) / CAST(tt$k.tot AS DOUBLE)
         |      AS r
         |  FROM states s LEFT JOIN cj$k cj USING (state)
         |  CROSS JOIN tt$k)""".stripMargin
    }
    val tail =
      "SELECT state AS event_type, r AS p_stationary FROM r4 " +
        "ORDER BY event_type"
    Map("x176_stationary_mix" ->
      ((head +: rounds).mkString("WITH ", ",\n", "\n") + tail))
  }

  // x177: the session chain + a distinct (session, type) projection;
  // self-join pairs, integer counts, one fixed-order double lift
  private val cooccurrenceO: Map[String, String] = Map(
    "x177_cooccurrence" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM flagged),
        |st AS (SELECT DISTINCT user_id, sid, event_type FROM sess),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
        |       FROM (SELECT DISTINCT user_id, sid FROM st)),
        |per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |        FROM st GROUP BY 1),
        |pr AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM st a JOIN st b
        |    ON a.user_id = b.user_id AND a.sid = b.sid
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT pr.type_a, pr.type_b, pr.n_ab,
        |  pa.n AS n_a, pb.n AS n_b, ns.n_sessions,
        |  (CAST(pr.n_ab AS DOUBLE) * CAST(ns.n_sessions AS DOUBLE))
        |    / (CAST(pa.n AS DOUBLE) * CAST(pb.n AS DOUBLE)) AS lift
        |FROM pr
        |JOIN per pa ON pr.type_a = pa.event_type
        |JOIN per pb ON pr.type_b = pb.event_type
        |CROSS JOIN ns
        |ORDER BY pr.type_a, pr.type_b""".stripMargin)

  // x178: the x93 gopher rules (g-prefixed CTEs — the winnow chain
  // owns `toks`) + the shared winnow chain folded to components +
  // the x175 full-grid chi-square tail over the (pass, near-dup) 2x2
  private val qualityDupO: Map[String, String] = Map(
    "x178_quality_dup_chi" ->
      (s"WITH RECURSIVE $winnowKeptChain,\n" +
        """|wpairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS (SELECT d1 AS a, d2 AS b FROM wpairs
        |          UNION SELECT d2, d1 FROM wpairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |lab AS (
        |  SELECT src AS id, least(src, min(dst)) AS cluster
        |  FROM reach GROUP BY src),
        |gtoks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
        |    AS t
        |  FROM documents),
        |gbase AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words
        |          FROM gtoks),
        |gwords AS (SELECT doc_id, unnest(t) AS w FROM gtoks),
        |gchars AS (SELECT doc_id, sum(length(w)) AS chars
        |           FROM gwords GROUP BY 1),
        |gstopc AS (
        |  SELECT doc_id, count(DISTINCT w) AS stop_hits FROM gwords
        |  WHERE w IN ('the', 'a', 'of', 'to', 'and', 'in', 'is', 'for')
        |  GROUP BY 1),
        |gtopw AS (
        |  SELECT doc_id, max(c) AS topc FROM (
        |    SELECT doc_id, w, count(*) AS c FROM gwords GROUP BY 1, 2)
        |  GROUP BY 1),
        |gstats AS (
        |  SELECT b.doc_id, b.n_words,
        |    CASE WHEN b.n_words > 0
        |      THEN CAST(c.chars AS DOUBLE) / b.n_words END AS mean_wl,
        |    CAST(coalesce(s.stop_hits, 0) AS INTEGER) AS stop_hits,
        |    CASE WHEN b.n_words > 0
        |      THEN CAST(t.topc AS DOUBLE) / b.n_words END AS top_word_frac
        |  FROM gbase b
        |  LEFT JOIN gchars c USING (doc_id)
        |  LEFT JOIN gstopc s USING (doc_id)
        |  LEFT JOIN gtopw t USING (doc_id)),
        |gflags AS (
        |  SELECT doc_id,
        |    (n_words BETWEEN 50 AND 100000)
        |    AND (mean_wl IS NOT NULL AND mean_wl BETWEEN 3.0e0 AND 10.0e0)
        |    AND (stop_hits >= 2)
        |    AND (top_word_frac IS NOT NULL AND top_word_frac <= 0.1e0)
        |      AS gopher_pass
        |  FROM gstats),
        |obs AS (
        |  SELECT g.gopher_pass AS a,
        |    COALESCE(lab.cluster <> g.doc_id, FALSE) AS b
        |  FROM gflags g LEFT JOIN lab ON g.doc_id = lab.id),
        |cells AS (SELECT a, b, count(*) AS c FROM obs GROUP BY 1, 2),
        |ra AS (SELECT a, sum(c) AS ta FROM cells GROUP BY 1),
        |rb AS (SELECT b, sum(c) AS tb FROM cells GROUP BY 1),
        |tot AS (SELECT sum(c) AS n, count(DISTINCT a) AS na,
        |        count(DISTINCT b) AS nb FROM cells),
        |grid AS (
        |  SELECT ra.a, rb.b, ra.ta, rb.tb, COALESCE(cells.c, 0) AS c
        |  FROM ra CROSS JOIN rb LEFT JOIN cells USING (a, b)),
        |terms AS (
        |  SELECT grid.a, grid.b,
        |    (CAST(c AS DOUBLE)
        |      - CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
        |        / CAST(n AS DOUBLE))
        |    * (CAST(c AS DOUBLE)
        |      - CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
        |        / CAST(n AS DOUBLE))
        |    / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
        |        / CAST(n AS DOUBLE)) AS t
        |  FROM grid CROSS JOIN tot)
        |SELECT CAST(tot.n AS BIGINT) AS n, CAST(tot.na AS BIGINT) AS n_a,
        |  CAST(tot.nb AS BIGINT) AS n_b,
        |  CAST((tot.na - 1) * (tot.nb - 1) AS BIGINT) AS dof,
        |  (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |     list(t ORDER BY a, b)), (acc, x) -> acc + x)
        |   FROM terms) AS chi2
        |FROM tot""".stripMargin))

  // x180: deterministic midpoint halves, exact decimal spends, NTILE
  // per half over total orders, buckets² matrix
  private val mobilityO: Map[String, String] = Map(
    "x180_quintile_mobility" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
        |           FROM events),
        |sp AS (
        |  SELECT user_id,
        |    CASE WHEN epoch_us(ts) * 2 < b.lo + b.hi THEN 0 ELSE 1 END
        |      AS half,
        |    sum(CAST(value AS DECIMAL(18,4))) AS m
        |  FROM events CROSS JOIN b GROUP BY 1, 2),
        |q AS (
        |  SELECT user_id, half,
        |    CAST(ntile(5) OVER (PARTITION BY half
        |      ORDER BY m DESC, user_id ASC) AS BIGINT) AS qt
        |  FROM sp)
        |SELECT a.qt AS q_early, l.qt AS q_late,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM q a JOIN q l
        |  ON a.user_id = l.user_id AND a.half = 0 AND l.half = 1
        |GROUP BY 1, 2 ORDER BY q_early, q_late""".stripMargin)

  // x181: the x19 injection + patterns, counted in scrubPii's
  // sequential masking order (each family on the text with earlier
  // families already masked)
  private val piiAuditO: Map[String, String] = Map(
    "x181_pii_audit" ->
      """WITH p0 AS (
        |  SELECT source,
        |    concat(text, ' Contact user', doc_id, '@example.com via ',
        |      'https://ex.com/u/', doc_id, ' or +1 555-000-',
        |      lpad(CAST(doc_id AS VARCHAR), 4, '0'),
        |      ' at 10.0.0.', CAST(doc_id % 256 AS VARCHAR), '.') AS t0
        |  FROM documents),
        |p1 AS (
        |  SELECT source,
        |    len(regexp_extract_all(t0, 'https?://[^\s]+')) AS c_url,
        |    regexp_replace(t0, 'https?://[^\s]+', '<URL>', 'g') AS t1
        |  FROM p0),
        |p2 AS (
        |  SELECT source, c_url,
        |    len(regexp_extract_all(t1,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS c_email,
        |    regexp_replace(t1,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS t2
        |  FROM p1),
        |p3 AS (
        |  SELECT source, c_url, c_email,
        |    len(regexp_extract_all(t2,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS c_ip,
        |    regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
        |      '<IP>', 'g') AS t3
        |  FROM p2),
        |p4 AS (
        |  SELECT source, c_url, c_email, c_ip,
        |    len(regexp_extract_all(t3, '\+?[0-9][0-9() -]{7,}[0-9]'))
        |      AS c_phone
        |  FROM p3)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(c_url) AS BIGINT) AS n_url,
        |  CAST(sum(c_email) AS BIGINT) AS n_email,
        |  CAST(sum(c_ip) AS BIGINT) AS n_ip,
        |  CAST(sum(c_phone) AS BIGINT) AS n_phone,
        |  CAST(sum(CASE WHEN c_url + c_email + c_ip + c_phone > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_rows_with_pii
        |FROM p4 GROUP BY source ORDER BY source""".stripMargin)

  // x183-x187: the classical-stats family — exact integer/decimal
  // cores (counts, rank half-units, decimal moments), transcendentals
  // quantized once at DECIMAL(28,12) (the x136 discipline), one
  // fixed-order double chain per statistic at the boundary
  private val classicalStatsO: Map[String, String] = Map(
    // x183: per-(cohort, value) counts on the floor-dollar grid,
    // cumBelow by a grid window, rank sums in exact half-units
    // (HUGEINT ≡ the engine's DECIMAL(38,0)), tie term Σ(t³−t), one
    // z chain mirroring the engine's operand order
    "x183_mann_whitney" ->
      """WITH cv AS (
        |  SELECT user_id % 2 AS g, CAST(floor(value) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |pv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM cv GROUP BY 1),
        |cum AS (
        |  SELECT v, cv, COALESCE(CAST(sum(cv) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |    0) AS below
        |  FROM pv),
        |r AS (
        |  SELECT g, CAST(sum(c) AS BIGINT) AS n,
        |    sum(CAST(c AS HUGEINT)
        |      * CAST(2 * below + cv + 1 AS HUGEINT)) AS r2
        |  FROM cv JOIN cum USING (v) GROUP BY g),
        |t AS (
        |  SELECT sum(CAST(cv AS HUGEINT) * CAST(cv AS HUGEINT)
        |    * CAST(cv AS HUGEINT) - CAST(cv AS HUGEINT)) AS tie
        |  FROM pv),
        |j AS (
        |  SELECT a.g AS cohort_a, b.g AS cohort_b, a.n AS n_a, b.n AS n_b,
        |    a.r2 - CAST(a.n AS HUGEINT) * CAST(a.n + 1 AS HUGEINT) AS u2a,
        |    b.r2 - CAST(b.n AS HUGEINT) * CAST(b.n + 1 AS HUGEINT) AS u2b,
        |    t.tie
        |  FROM r a JOIN r b ON a.g < b.g CROSS JOIN t)
        |SELECT cohort_a, cohort_b, n_a, n_b,
        |  CAST(u2a AS DOUBLE) / 2.0e0 AS u_a,
        |  CAST(u2b AS DOUBLE) / 2.0e0 AS u_b,
        |  CASE WHEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0e0
        |      * ((CAST(n_a + n_b AS DOUBLE) + 1.0e0)
        |        - CAST(tie AS DOUBLE)
        |          / (CAST(n_a + n_b AS DOUBLE)
        |            * (CAST(n_a + n_b AS DOUBLE) - 1.0e0))) > 0.0e0
        |    THEN (CAST(u2a AS DOUBLE) / 2.0e0
        |        - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0e0)
        |      / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0e0
        |        * ((CAST(n_a + n_b AS DOUBLE) + 1.0e0)
        |          - CAST(tie AS DOUBLE)
        |            / (CAST(n_a + n_b AS DOUBLE)
        |              * (CAST(n_a + n_b AS DOUBLE) - 1.0e0))))
        |    ELSE NULL END AS z
        |FROM j""".stripMargin,

    // x184: the x182 session chain, session spend as an exact decimal
    // sum, the x129 moment discipline per cohort, Welch t + df in the
    // engine's operand order
    "x184_welch_t" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, value,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM flagged),
        |u AS (
        |  SELECT user_id % 2 AS cohort,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS sv
        |  FROM sess GROUP BY user_id, sid),
        |m AS (
        |  SELECT cohort, CAST(count(*) AS BIGINT) AS n,
        |    sum(sv) AS s0,
        |    sum(CAST(sv AS DECIMAL(19,4)) * CAST(sv AS DECIMAL(19,4)))
        |      AS ss0
        |  FROM u GROUP BY 1),
        |d AS (
        |  SELECT cohort, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(s0 AS VARCHAR) AS DOUBLE) AS s,
        |    CAST(CAST(ss0 AS VARCHAR) AS DOUBLE) AS ss
        |  FROM m),
        |j AS (
        |  SELECT a.cohort AS cohort_a, b.cohort AS cohort_b,
        |    a.n AS n_a, b.n AS n_b,
        |    a.nd AS na, b.nd AS nb, a.s AS sa, b.s AS sb,
        |    (a.ss - a.s * a.s / a.nd) / (a.nd - 1.0e0) / a.nd AS sea,
        |    (b.ss - b.s * b.s / b.nd) / (b.nd - 1.0e0) / b.nd AS seb
        |  FROM d a JOIN d b ON a.cohort < b.cohort)
        |SELECT cohort_a, cohort_b, n_a, n_b,
        |  sa / na AS mean_a, sb / nb AS mean_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND sea + seb > 0.0e0
        |    THEN (sa / na - sb / nb) / sqrt(sea + seb) ELSE NULL END AS t,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND sea + seb > 0.0e0
        |    THEN (sea + seb) * (sea + seb)
        |      / (sea * sea / (na - 1.0e0) + seb * seb / (nb - 1.0e0))
        |    ELSE NULL END AS df
        |FROM j""".stripMargin,

    // x185: per-group exact moments, per-group terms folded in GROUP
    // ORDER (the chi-square list_reduce recipe), F at the boundary
    "x185_anova_f" ->
      """WITH g AS (
        |  SELECT event_type AS gr, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(18,4))) AS s0,
        |    sum(CAST(value AS DECIMAL(19,4))
        |      * CAST(value AS DECIMAL(19,4))) AS ss0
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT gr, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(s0 AS VARCHAR) AS DOUBLE) AS s,
        |    CAST(CAST(ss0 AS VARCHAR) AS DOUBLE) AS ss
        |  FROM g),
        |terms AS (
        |  SELECT gr, s * s / nd AS b, ss - s * s / nd AS w FROM d),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(CAST(sum(s0) AS VARCHAR) AS DOUBLE) AS st
        |  FROM g),
        |folded AS (
        |  SELECT
        |    (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |       list(b ORDER BY gr)), (acc, x) -> acc + x) FROM terms)
        |      AS fb,
        |    (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |       list(w ORDER BY gr)), (acc, x) -> acc + x) FROM terms)
        |      AS fw)
        |SELECT tot.k, tot.nt AS n,
        |  folded.fb - tot.st * tot.st / CAST(tot.nt AS DOUBLE)
        |    AS ss_between,
        |  folded.fw AS ss_within,
        |  CAST(tot.k - 1 AS BIGINT) AS df1,
        |  CAST(tot.nt - tot.k AS BIGINT) AS df2,
        |  CASE WHEN tot.k - 1 > 0 AND tot.nt - tot.k > 0
        |      AND folded.fw > 0.0e0
        |    THEN ((folded.fb - tot.st * tot.st / CAST(tot.nt AS DOUBLE))
        |        / CAST(tot.k - 1 AS DOUBLE))
        |      / (folded.fw / CAST(tot.nt - tot.k AS DOUBLE))
        |    ELSE NULL END AS f
        |FROM tot CROSS JOIN folded""".stripMargin,

    // x186: +0.5 pseudo-count full grid, each ln quantized DECIMAL
    // (28,12), per-bin terms folded in BIN ORDER
    "x186_psi" ->
      """WITH c AS (
        |  SELECT source AS g, CAST(floor(n_chars / 50) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |pv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cc FROM c GROUP BY 1),
        |ng AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS nb,
        |  CAST(sum(cc) AS BIGINT) AS n_all FROM pv),
        |grid AS (
        |  SELECT ng.g, ng.n, pv.v, pv.cc, COALESCE(c.c, 0) AS c,
        |    nb.nb, nb.n_all
        |  FROM ng CROSS JOIN pv LEFT JOIN c ON c.g = ng.g AND c.v = pv.v
        |  CROSS JOIN nb),
        |terms AS (
        |  SELECT g, n, v,
        |    ((CAST(c AS DOUBLE) + 0.5e0)
        |        / (CAST(n AS DOUBLE) + 0.5e0 * CAST(nb AS DOUBLE))
        |      - (CAST(cc AS DOUBLE) + 0.5e0)
        |        / (CAST(n_all AS DOUBLE) + 0.5e0 * CAST(nb AS DOUBLE)))
        |    * CAST(CAST(CAST(ln(
        |        ((CAST(c AS DOUBLE) + 0.5e0)
        |          / (CAST(n AS DOUBLE) + 0.5e0 * CAST(nb AS DOUBLE)))
        |        / ((CAST(cc AS DOUBLE) + 0.5e0)
        |          / (CAST(n_all AS DOUBLE) + 0.5e0 * CAST(nb AS DOUBLE))))
        |      AS DECIMAL(28,12)) AS VARCHAR) AS DOUBLE) AS t
        |  FROM grid)
        |SELECT g AS source, n,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(t ORDER BY v)), (acc, x) -> acc + x) AS psi
        |FROM terms GROUP BY g, n ORDER BY source""".stripMargin,

    // x187: tied-average ranks in exact half-units per axis (the x183
    // construction), HUGEINT rank moments, one Pearson chain
    "x187_spearman" ->
      """WITH pairs AS (
        |  SELECT CAST(floor(c_acctbal) AS BIGINT) AS x,
        |    COALESCE(o.n_orders, 0) AS y
        |  FROM customer c LEFT JOIN (
        |    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |    FROM orders GROUP BY 1) o ON c.c_custkey = o.o_custkey),
        |cx AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS cv
        |       FROM pairs GROUP BY 1),
        |rx AS (
        |  SELECT v AS x, 2 * COALESCE(CAST(sum(cv) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) + cv + 1 AS r2x
        |  FROM cx),
        |cy AS (SELECT y AS v, CAST(count(*) AS BIGINT) AS cv
        |       FROM pairs GROUP BY 1),
        |ry AS (
        |  SELECT v AS y, 2 * COALESCE(CAST(sum(cv) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) + cv + 1 AS r2y
        |  FROM cy),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(r2x AS HUGEINT)) AS sx,
        |    sum(CAST(r2y AS HUGEINT)) AS sy,
        |    sum(CAST(r2x AS HUGEINT) * CAST(r2x AS HUGEINT)) AS sxx,
        |    sum(CAST(r2y AS HUGEINT) * CAST(r2y AS HUGEINT)) AS syy,
        |    sum(CAST(r2x AS HUGEINT) * CAST(r2y AS HUGEINT)) AS sxy
        |  FROM pairs JOIN rx USING (x) JOIN ry USING (y))
        |SELECT n,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0e0
        |      AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0e0
        |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    ELSE NULL END AS rho
        |FROM m""".stripMargin)

  // x188-x194: JSD matrix, Kaplan-Meier, trigrams, association rules,
  // HHI, Cramér's V, CUSUM — exact integer/decimal cores, lns
  // quantized (28,12), folds in token/day/key order, one double chain
  // per output
  private val analyticsFamilyO: Map[String, String] = Map(
    // x193: the x175 full-grid chi-square chain on (lang, length
    // bucket) + the V normalization tail
    "x193_cramers_v" ->
      """WITH cells AS (
        |  SELECT lang AS a, CAST(floor(n_chars / 100) AS BIGINT) AS b,
        |    count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |ra AS (SELECT a, sum(c) AS ta FROM cells GROUP BY 1),
        |rb AS (SELECT b, sum(c) AS tb FROM cells GROUP BY 1),
        |tot AS (SELECT sum(c) AS n, count(DISTINCT a) AS na,
        |        count(DISTINCT b) AS nb FROM cells),
        |grid AS (
        |  SELECT ra.a, rb.b, ra.ta, rb.tb, COALESCE(cells.c, 0) AS c
        |  FROM ra CROSS JOIN rb LEFT JOIN cells USING (a, b)),
        |terms AS (
        |  SELECT grid.a, grid.b,
        |    (CAST(c AS DOUBLE)
        |      - CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
        |        / CAST(n AS DOUBLE))
        |    * (CAST(c AS DOUBLE)
        |      - CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
        |        / CAST(n AS DOUBLE))
        |    / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
        |        / CAST(n AS DOUBLE)) AS t
        |  FROM grid CROSS JOIN tot),
        |x AS (
        |  SELECT CAST(tot.n AS BIGINT) AS n,
        |    CAST(tot.na AS BIGINT) AS n_a, CAST(tot.nb AS BIGINT) AS n_b,
        |    CAST((tot.na - 1) * (tot.nb - 1) AS BIGINT) AS dof,
        |    (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |       list(t ORDER BY a, b)), (acc, y) -> acc + y)
        |     FROM terms) AS chi2
        |  FROM tot)
        |SELECT n, n_a, n_b, dof, chi2,
        |  CASE WHEN least(n_a, n_b) > 1
        |    THEN sqrt(chi2 / (CAST(n AS DOUBLE)
        |      * CAST(least(n_a, n_b) - 1 AS DOUBLE)))
        |    ELSE NULL END AS v
        |FROM x""".stripMargin,

    // x194: micro-unit integer deviations (mu floor-quantized by
    // integer division), exact Long prefix sums and running mins, the
    // max(0,·) recursion flattened to P − min(0, runmin P)
    "x194_cusum" ->
      """WITH c AS (
        |  SELECT event_type AS g,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS p,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT g, (CAST(sum(c) AS BIGINT) * 1000000)
        |      // CAST(count(*) AS BIGINT) AS mu
        |  FROM c GROUP BY 1),
        |w AS (
        |  SELECT c.g, c.p, c.c, m.mu,
        |    CAST(sum(c.c * 1000000 - m.mu - 2000000) OVER (
        |      PARTITION BY c.g ORDER BY c.p
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pp
        |  FROM c JOIN m ON c.g = m.g),
        |r AS (
        |  SELECT g, p, c, mu, pp,
        |    least(0, CAST(min(pp) OVER (PARTITION BY g ORDER BY p
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT)) AS rm
        |  FROM w)
        |SELECT g AS event_type, p AS period, c,
        |  CAST(mu AS DOUBLE) / 1000000.0e0 AS mean,
        |  CAST(pp - rm AS DOUBLE) / 1000000.0e0 AS cusum,
        |  (pp - rm) > 20000000 AS alarm
        |FROM r ORDER BY event_type, period""".stripMargin,
    // x188: per-token terms are EXACT (9,0)·(28,12) decimals summed
    // (order-free); absent-side closed form joins at the double
    // boundary; the pair skeleton keeps disjoint-vocab pairs (jsd =
    // ln 2) — the zero-cell lesson
    "x188_jsd_matrix" ->
      """WITH toks AS (
        |  SELECT source AS g,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |ct AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c
        |       FROM toks GROUP BY 1, 2),
        |ns AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM ct GROUP BY 1),
        |pres AS (
        |  SELECT a.g AS src_a, b.g AS src_b,
        |    sum(CAST(a.c AS DECIMAL(9,0))
        |      * CAST(ln(2.0e0 * CAST(a.c AS DOUBLE) * CAST(nb.n AS DOUBLE)
        |          / (CAST(a.c AS DOUBLE) * CAST(nb.n AS DOUBLE)
        |            + CAST(b.c AS DOUBLE) * CAST(na.n AS DOUBLE)))
        |        AS DECIMAL(28,12))) AS sa,
        |    sum(CAST(b.c AS DECIMAL(9,0))
        |      * CAST(ln(2.0e0 * CAST(b.c AS DOUBLE) * CAST(na.n AS DOUBLE)
        |          / (CAST(a.c AS DOUBLE) * CAST(nb.n AS DOUBLE)
        |            + CAST(b.c AS DOUBLE) * CAST(na.n AS DOUBLE)))
        |        AS DECIMAL(28,12))) AS sb,
        |    CAST(sum(a.c) AS BIGINT) AS pa, CAST(sum(b.c) AS BIGINT) AS pb
        |  FROM ct a JOIN ct b ON a.tok = b.tok AND a.g < b.g
        |  JOIN ns na ON na.g = a.g JOIN ns nb ON nb.g = b.g
        |  GROUP BY 1, 2),
        |sk AS (
        |  SELECT a.g AS src_a, a.n AS n_a, b.g AS src_b, b.n AS n_b
        |  FROM ns a CROSS JOIN ns b WHERE a.g < b.g)
        |SELECT sk.src_a, sk.src_b, sk.n_a, sk.n_b,
        |  ((COALESCE(CAST(CAST(pres.sa AS VARCHAR) AS DOUBLE), 0.0e0)
        |      + CAST(sk.n_a - COALESCE(pres.pa, 0) AS DOUBLE)
        |        * CAST(CAST(CAST(ln(2.0e0) AS DECIMAL(28,12)) AS VARCHAR)
        |            AS DOUBLE))
        |      / CAST(sk.n_a AS DOUBLE)
        |    + (COALESCE(CAST(CAST(pres.sb AS VARCHAR) AS DOUBLE), 0.0e0)
        |      + CAST(sk.n_b - COALESCE(pres.pb, 0) AS DOUBLE)
        |        * CAST(CAST(CAST(ln(2.0e0) AS DECIMAL(28,12)) AS VARCHAR)
        |            AS DOUBLE))
        |      / CAST(sk.n_b AS DOUBLE)) / 2.0e0 AS jsd
        |FROM sk LEFT JOIN pres
        |  ON pres.src_a = sk.src_a AND pres.src_b = sk.src_b
        |ORDER BY sk.src_a, sk.src_b""".stripMargin,

    // x189: per-user calendar-day lifetimes, 3-day censor horizon,
    // exact risk-set counts, cumulative product folded in day order
    // through an ordered window frame
    "x189_kaplan_meier" ->
      """WITH per AS (
        |  SELECT user_id, min(ts) AS f, max(ts) AS l
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(ts) AS mx FROM events),
        |units AS (
        |  SELECT CAST(date_diff('day', CAST(f AS DATE), CAST(l AS DATE))
        |      AS BIGINT) AS day,
        |    epoch_us(l) < epoch_us(mx.mx) - 259200000000 AS ev
        |  FROM per CROSS JOIN mx),
        |d AS (
        |  SELECT day,
        |    CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events,
        |    CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_censored
        |  FROM units GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n
        |        FROM d),
        |risk AS (
        |  SELECT day, n_events, n_censored,
        |    tot.n - COALESCE(CAST(sum(n_events + n_censored) OVER (
        |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING) AS BIGINT), 0) AS n_risk
        |  FROM d CROSS JOIN tot),
        |f AS (
        |  SELECT day, n_risk, n_events, n_censored,
        |    CASE WHEN n_events > 0
        |      THEN 1.0e0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |      ELSE 1.0e0 END AS fac
        |  FROM risk)
        |SELECT day, n_risk, n_events, n_censored,
        |  list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |    list(fac) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)),
        |    (acc, x) -> acc * x) AS survival
        |FROM f ORDER BY day""".stripMargin,

    // x190: the x176 session chain + two lags, corpus-wide triple
    // counts
    "x190_session_trigrams" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM flagged),
        |tri AS (
        |  SELECT
        |    lag(event_type, 2) OVER (PARTITION BY user_id, sid
        |      ORDER BY ts, event_id) AS t1,
        |    lag(event_type, 1) OVER (PARTITION BY user_id, sid
        |      ORDER BY ts, event_id) AS t2,
        |    event_type AS t3
        |  FROM sess)
        |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
        |FROM tri WHERE t1 IS NOT NULL AND t2 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY t1, t2, t3""".stripMargin,

    // x191: distinct session-type frame, ordered-pair self-join,
    // support/confidence/lift in the engine's operand order
    "x191_assoc_rules" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_type,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM flagged),
        |st AS (SELECT DISTINCT user_id, sid, event_type FROM sess),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
        |       FROM (SELECT DISTINCT user_id, sid FROM st)),
        |per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |        FROM st GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS antecedent, b.event_type AS consequent,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM st a JOIN st b
        |    ON a.user_id = b.user_id AND a.sid = b.sid
        |    AND a.event_type <> b.event_type
        |  GROUP BY 1, 2)
        |SELECT antecedent, consequent, pa.n AS n_a, pb.n AS n_b, n_ab,
        |  CAST(n_ab AS DOUBLE) / CAST(ns.n_sessions AS DOUBLE) AS support,
        |  CAST(n_ab AS DOUBLE) / CAST(pa.n AS DOUBLE) AS confidence,
        |  (CAST(n_ab AS DOUBLE) * CAST(ns.n_sessions AS DOUBLE))
        |    / (CAST(pa.n AS DOUBLE) * CAST(pb.n AS DOUBLE)) AS lift
        |FROM pairs
        |JOIN per pa ON pa.event_type = antecedent
        |JOIN per pb ON pb.event_type = consequent
        |CROSS JOIN ns
        |ORDER BY antecedent, consequent""".stripMargin,

    // x192: exact decimal revenue per (region, nation), share² terms
    // folded in nation order (the chi-square list_reduce recipe)
    "x192_hhi" ->
      """WITH rev AS (
        |  SELECT r.r_name, n.n_name,
        |    sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS s0
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT r_name, CAST(count(*) AS BIGINT) AS n_keys,
        |    sum(s0) AS t0
        |  FROM rev GROUP BY 1),
        |terms AS (
        |  SELECT rev.r_name, rev.n_name, tot.n_keys,
        |    CAST(CAST(tot.t0 AS VARCHAR) AS DOUBLE) AS t,
        |    (CAST(CAST(rev.s0 AS VARCHAR) AS DOUBLE)
        |        / CAST(CAST(tot.t0 AS VARCHAR) AS DOUBLE))
        |      * (CAST(CAST(rev.s0 AS VARCHAR) AS DOUBLE)
        |        / CAST(CAST(tot.t0 AS VARCHAR) AS DOUBLE)) AS sq
        |  FROM rev JOIN tot USING (r_name))
        |SELECT r_name, n_keys, t AS total,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(sq ORDER BY n_name)), (acc, x) -> acc + x) AS hhi
        |FROM terms GROUP BY r_name, n_keys, t
        |ORDER BY r_name""".stripMargin)

  // x195: exact-integer power iteration — micro-unit quantization,
  // HUGEINT moments (≡ the engine's DECIMAL(38,0)), truncating //
  // divisions (≡ Spark DIV), four unrolled rounds, one double chain
  private val pcaO: Map[String, String] = {
    val rounds = (1 to 4).map { r =>
      val pv = if (r == 1) "v0" else s"v${r - 1}"
      s"""y$r AS (
         |  SELECT mm.ia AS i, CAST(sum(mm.m * $pv.v) AS HUGEINT) AS y
         |  FROM mm JOIN $pv ON mm.ib = $pv.i GROUP BY 1),
         |s$r AS (SELECT greatest(CAST(1 AS HUGEINT),
         |  max(abs(y)) // 1000000) AS sc FROM y$r),
         |v$r AS (SELECT i, y // s$r.sc AS v FROM y$r CROSS JOIN s$r)"""
        .stripMargin
    }.mkString(",\n")
    val chain =
      s"""WITH pe AS (
         |  SELECT vec_id, i - 1 AS dim,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
         |      AS BIGINT) AS xq
         |  FROM embeddings, range(1, 65) t(i)),
         |nr AS (
         |  SELECT dim, CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(CAST(xq AS HUGEINT)) AS HUGEINT) AS tt
         |  FROM pe GROUP BY 1),
         |s AS (
         |  SELECT a.dim AS ia, b.dim AS ib,
         |    CAST(sum(CAST(a.xq AS HUGEINT) * CAST(b.xq AS HUGEINT))
         |      AS HUGEINT) AS s
         |  FROM pe a JOIN pe b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |m0 AS (
         |  SELECT ia, ib, na.n * s.s - na.tt * nb.tt AS m
         |  FROM s JOIN nr na ON na.dim = s.ia
         |  JOIN nr nb ON nb.dim = s.ib),
         |ma AS (SELECT greatest(CAST(1 AS HUGEINT),
         |  max(abs(m)) // 1000000000000000) AS sc FROM m0),
         |mm AS (SELECT ia, ib, m // ma.sc AS m FROM m0 CROSS JOIN ma),
         |v0 AS (SELECT dim AS i, CAST(1000000 + dim AS HUGEINT) AS v
         |       FROM nr),
         |$rounds""".stripMargin
    Map(
      "x195_top_component" ->
        (chain +
          """|,
             |n2 AS (SELECT CAST(sum(v * v) AS HUGEINT) AS n2 FROM v4)
             |SELECT i AS dim,
             |  CASE WHEN n2 > 0
             |    THEN CAST(v AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE))
             |    ELSE NULL END AS loading
             |FROM v4 CROSS JOIN n2 ORDER BY dim""".stripMargin),
      // x196: the SAME chain projected per vector — exact integer
      // p = Σ xq·v and norms, one cos chain per vector, |cos| floor-
      // quantized to micro-units so the label mean is an exact sum
      "x196_anisotropy" ->
        (chain +
          """|,
             |pv AS (
             |  SELECT pe.vec_id,
             |    CAST(sum(CAST(pe.xq AS HUGEINT) * v4.v) AS HUGEINT)
             |      AS p,
             |    CAST(sum(CAST(pe.xq AS HUGEINT) * CAST(pe.xq AS HUGEINT))
             |      AS HUGEINT) AS nx
             |  FROM pe JOIN v4 ON pe.dim = v4.i GROUP BY 1),
             |nv AS (SELECT CAST(sum(v * v) AS HUGEINT) AS nv FROM v4),
             |cosv AS (
             |  SELECT vec_id, CASE WHEN nx > 0 AND nv.nv > 0
             |    THEN CAST(p AS DOUBLE)
             |      / (sqrt(CAST(nx AS DOUBLE)) * sqrt(CAST(nv.nv AS DOUBLE)))
             |    ELSE NULL END AS c
             |  FROM pv CROSS JOIN nv),
             |j AS (SELECT e.label, c FROM cosv
             |      JOIN embeddings e ON e.vec_id = cosv.vec_id)
             |SELECT label, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_zero,
             |  CASE WHEN count(c) > 0
             |    THEN CAST(sum(CAST(floor(abs(c) * 1000000) AS BIGINT))
             |        AS DOUBLE)
             |      / (CAST(count(c) AS DOUBLE) * 1000000.0e0)
             |    ELSE NULL END AS mean_abs_cos
             |FROM j GROUP BY label ORDER BY label""".stripMargin),
      // x201: the SAME chain, every vector replaced by its EXACT
      // integer projection residual c = xq·|v|² − (x·v)·v, then the
      // x174 pair-cosine tail (dim-ordered double folds) over
      // per-(source, dim) HUGEINT sums
      "x201_corrected_matrix" ->
        (chain +
          """|,
             |nv AS (SELECT CAST(sum(v * v) AS HUGEINT) AS nv FROM v4),
             |gtot AS (
             |  SELECT dim, CAST(count(*) AS HUGEINT) AS N,
             |    CAST(sum(CAST(xq AS HUGEINT)) AS HUGEINT) AS T
             |  FROM pe GROUP BY 1),
             |persrc AS (
             |  SELECT d.source AS src, pe.dim,
             |    CAST(count(*) AS HUGEINT) AS ns,
             |    CAST(sum(CAST(pe.xq AS HUGEINT)) AS HUGEINT) AS ts
             |  FROM pe JOIN documents d ON d.doc_id = pe.vec_id
             |  GROUP BY 1, 2),
             |ssx AS (
             |  SELECT src, p.dim, p.ts * g.N - p.ns * g.T AS x
             |  FROM persrc p JOIN gtot g ON g.dim = p.dim),
             |xm AS (SELECT greatest(CAST(1 AS HUGEINT),
             |  max(abs(x)) // 1000000000000) AS sc FROM ssx),
             |ssr AS (SELECT src, dim, x // xm.sc AS x
             |        FROM ssx CROSS JOIN xm),
             |pp AS (
             |  SELECT src, CAST(sum(ssr.x * v4.v) AS HUGEINT) AS p
             |  FROM ssr JOIN v4 ON ssr.dim = v4.i GROUP BY 1),
             |c AS (
             |  SELECT ssr.src, ssr.dim,
             |    ssr.x * nv.nv - pp.p * v4.v AS s
             |  FROM ssr JOIN v4 ON ssr.dim = v4.i
             |  JOIN pp ON pp.src = ssr.src CROSS JOIN nv),
             |sm AS (SELECT greatest(CAST(1 AS HUGEINT),
             |  max(abs(s)) // 1000000000000) AS sc FROM c),
             |ss AS (SELECT src, dim, s // sm.sc AS s
             |       FROM c CROSS JOIN sm),
             |pairs AS (
             |  SELECT a.src AS src_a, b.src AS src_b, a.dim,
             |    CAST(a.s AS DOUBLE) AS da, CAST(b.s AS DOUBLE) AS db
             |  FROM ss a JOIN ss b ON a.dim = b.dim AND a.src < b.src),
             |folded AS (
             |  SELECT src_a, src_b,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      list(da * db ORDER BY dim)), (acc, x) -> acc + x)
             |      AS dot,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      list(da * da ORDER BY dim)), (acc, x) -> acc + x)
             |      AS na,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      list(db * db ORDER BY dim)), (acc, x) -> acc + x)
             |      AS nb
             |  FROM pairs GROUP BY 1, 2)
             |SELECT src_a, src_b, dot / (sqrt(na) * sqrt(nb)) AS cosine
             |FROM folded ORDER BY src_a, src_b""".stripMargin))
  }

  // x202/x203: the shared winnow chain folded to an edge set, then
  // id-ordered triangle joins (the count is orientation-invariant, so
  // the engine's degree-ordered iteration and this canonical recount
  // agree by construction) and the full degree histogram incl. 0
  private val graphO: Map[String, String] = Map(
    "x202_graph_triangles" ->
      (s"WITH $winnowKeptChain,\n" +
        """|ed AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
        |    SELECT id_a AS id FROM ed
        |    UNION ALL SELECT id_b FROM ed) GROUP BY 1),
        |tri AS (
        |  SELECT CAST(count(*) AS BIGINT) AS t
        |  FROM ed e1 JOIN ed e2 ON e2.id_a = e1.id_b
        |  JOIN ed e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(d * (d - 1)) AS BIGINT) // 2 AS n_wedges
        |  FROM deg),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ed)
        |SELECT tot.n_nodes, ne.n_edges, tri.t AS n_triangles,
        |  tot.n_wedges,
        |  CASE WHEN tot.n_wedges > 0
        |    THEN 3.0e0 * CAST(tri.t AS DOUBLE)
        |      / CAST(tot.n_wedges AS DOUBLE)
        |    ELSE NULL END AS clustering_coeff
        |FROM tot CROSS JOIN ne CROSS JOIN tri""".stripMargin),

    "x203_degree_profile" ->
      (s"WITH $winnowKeptChain,\n" +
        """|ed AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT id_a AS id FROM ed
        |    UNION ALL SELECT id_b FROM ed) GROUP BY 1)
        |SELECT COALESCE(deg.degree, 0) AS degree,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents d LEFT JOIN deg ON deg.id = d.doc_id
        |GROUP BY 1 ORDER BY degree""".stripMargin))

  // x204: midpoint halves (the x180 split), full-type-grid exact
  // counts, add-half smoothed log2 fc at (28,12), the x182 pooled-z
  // chain per row
  private val moversO: Map[String, String] = Map(
    "x204_behavior_movers" ->
      """WITH b AS (
        |  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
        |  FROM events),
        |h AS (
        |  SELECT event_type, epoch_us(ts) * 2 > b.lo + b.hi AS late
        |  FROM events CROSS JOIN b),
        |c AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN NOT late THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_early,
        |    CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_late
        |  FROM h GROUP BY 1),
        |t AS (SELECT CAST(sum(n_early) AS BIGINT) AS te,
        |      CAST(sum(n_late) AS BIGINT) AS tl FROM c)
        |SELECT event_type, n_early, n_late,
        |  CAST(n_early AS DOUBLE) / CAST(te AS DOUBLE) AS share_early,
        |  CAST(n_late AS DOUBLE) / CAST(tl AS DOUBLE) AS share_late,
        |  CAST(CAST(CAST(ln(
        |      ((CAST(n_late AS DOUBLE) + 0.5e0)
        |        / (CAST(tl AS DOUBLE) + 0.5e0))
        |      / ((CAST(n_early AS DOUBLE) + 0.5e0)
        |        / (CAST(te AS DOUBLE) + 0.5e0)))
        |    AS DECIMAL(28,12)) AS VARCHAR) AS DOUBLE)
        |  / CAST(CAST(CAST(ln(2.0e0) AS DECIMAL(28,12)) AS VARCHAR)
        |      AS DOUBLE) AS log2_fc,
        |  CASE WHEN sqrt(CAST(n_early + n_late AS DOUBLE)
        |      / CAST(te + tl AS DOUBLE)
        |      * (1.0e0 - CAST(n_early + n_late AS DOUBLE)
        |        / CAST(te + tl AS DOUBLE))
        |      * (1.0e0 / CAST(te AS DOUBLE) + 1.0e0 / CAST(tl AS DOUBLE)))
        |      > 0
        |    THEN (CAST(n_late AS DOUBLE) / CAST(tl AS DOUBLE)
        |        - CAST(n_early AS DOUBLE) / CAST(te AS DOUBLE))
        |      / sqrt(CAST(n_early + n_late AS DOUBLE)
        |        / CAST(te + tl AS DOUBLE)
        |        * (1.0e0 - CAST(n_early + n_late AS DOUBLE)
        |          / CAST(te + tl AS DOUBLE))
        |        * (1.0e0 / CAST(te AS DOUBLE)
        |          + 1.0e0 / CAST(tl AS DOUBLE)))
        |    ELSE NULL END AS z
        |FROM c CROSS JOIN t ORDER BY event_type""".stripMargin)

  // x205: RM3 — the table-driven micro-unit BM25 chain (the x169
  // discipline) twice, the pool and expansion cuts as decimal-ordered
  // LIMITs, the 0.7/0.3 mix as exact integers 7m1 + 3m2
  private val prfO: Map[String, String] = Map(
    "x205_prf_expand" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
        |    AS t
        |  FROM documents),
        |dl AS (SELECT doc_id AS id, CAST(len(t) AS BIGINT) AS dl
        |       FROM toks),
        |words AS (SELECT doc_id AS id, unnest(t) AS term FROM toks),
        |tfall AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf
        |          FROM words GROUP BY 1, 2),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(dl) AS BIGINT) AS s FROM dl),
        |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM tfall GROUP BY 1),
        |m1 AS (
        |  SELECT tf.id, CAST(sum(CAST(floor(
        |      CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df + 0.5e0)
        |          / (df + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf.tf * st.s)
        |        / (st.s * (tf.tf + 0.3e0)
        |          + 0.8999999999999999e0 * dl.dl * st.n))
        |      * 1000000) AS BIGINT)) AS BIGINT) AS m
        |  FROM tfall tf JOIN dl ON dl.id = tf.id JOIN dft USING (term)
        |  CROSS JOIN stats st
        |  WHERE term IN ('spark', 'join', 'window', 'dup')
        |  GROUP BY 1),
        |pool AS (SELECT id FROM m1 ORDER BY m DESC, id LIMIT 10),
        |exps AS (
        |  SELECT term FROM (
        |    SELECT tf.term,
        |      CAST(sum(tf.tf) AS DECIMAL(9,0))
        |        * CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - dft.df + 0.5e0)
        |            / (dft.df + 0.5e0)) AS DECIMAL(28,12)) AS w
        |    FROM tfall tf JOIN pool ON pool.id = tf.id
        |    JOIN dft ON dft.term = tf.term CROSS JOIN stats st
        |    WHERE tf.term NOT IN ('spark', 'join', 'window', 'dup')
        |    GROUP BY tf.term, dft.df, st.n)
        |  ORDER BY w DESC, term LIMIT 5),
        |m2 AS (
        |  SELECT tf.id, CAST(sum(CAST(floor(
        |      CAST(CAST(ln(1e0 + (CAST(st.n AS DOUBLE) - df + 0.5e0)
        |          / (df + 0.5e0)) AS DECIMAL(28,12)) AS DOUBLE)
        |      * ((2.2e0 * tf.tf * st.s)
        |        / (st.s * (tf.tf + 0.3e0)
        |          + 0.8999999999999999e0 * dl.dl * st.n))
        |      * 1000000) AS BIGINT)) AS BIGINT) AS m
        |  FROM tfall tf JOIN dl ON dl.id = tf.id JOIN dft USING (term)
        |  CROSS JOIN stats st
        |  WHERE term IN (SELECT term FROM exps)
        |  GROUP BY 1),
        |merged AS (
        |  SELECT COALESCE(m1.id, m2.id) AS id,
        |    COALESCE(m1.m, 0) AS om, COALESCE(m2.m, 0) AS em
        |  FROM m1 FULL JOIN m2 ON m1.id = m2.id),
        |top AS (
        |  SELECT id, om, em, 7 * om + 3 * em AS sm
        |  FROM merged ORDER BY sm DESC, id LIMIT 20)
        |SELECT id,
        |  CAST(row_number() OVER (ORDER BY sm DESC, id) AS INTEGER)
        |    AS rank,
        |  om AS orig_micro, em AS exp_micro, sm AS score_micro
        |FROM top ORDER BY rank""".stripMargin)

  // x206: the q32 version pair folded to row + per-column change
  // counts (null-safe IS DISTINCT FROM throughout)
  private val diffSummaryO: Map[String, String] = Map(
    "x206_diff_summary" ->
      """WITH base AS (
        |  SELECT o_orderkey AS orderkey, o_totalprice AS price,
        |    o_orderstatus AS status
        |  FROM orders),
        |v1 AS (SELECT * FROM base WHERE orderkey % 5 <> 0),
        |v2 AS (
        |  SELECT orderkey,
        |    CASE WHEN orderkey % 3 = 0 THEN price + 1.0 ELSE price END
        |      AS price,
        |    status
        |  FROM base WHERE orderkey % 7 <> 0),
        |j AS (
        |  SELECT v1.orderkey AS k1, v2.orderkey AS k2,
        |    v1.price AS op, v1.status AS os,
        |    v2.price AS np, v2.status AS ns
        |  FROM v1 FULL OUTER JOIN v2 ON v1.orderkey = v2.orderkey),
        |wide AS (
        |  SELECT
        |    CAST(sum(CASE WHEN k1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(sum(CASE WHEN k2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS r,
        |    CAST(sum(CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL
        |      AND (op IS DISTINCT FROM np OR os IS DISTINCT FROM ns)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL
        |      AND NOT (op IS DISTINCT FROM np OR os IS DISTINCT FROM ns)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS u,
        |    CAST(sum(CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL
        |      AND op IS DISTINCT FROM np THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cp,
        |    CAST(sum(CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL
        |      AND os IS DISTINCT FROM ns THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cs
        |  FROM j)
        |SELECT metric, n FROM (
        |  SELECT 'rows_added' AS metric, a AS n FROM wide
        |  UNION ALL SELECT 'rows_removed', r FROM wide
        |  UNION ALL SELECT 'rows_changed', c FROM wide
        |  UNION ALL SELECT 'rows_unchanged', u FROM wide
        |  UNION ALL SELECT 'col_changed:price', cp FROM wide
        |  UNION ALL SELECT 'col_changed:status', cs FROM wide)
        |ORDER BY metric""".stripMargin)

  // x207: x119's tie-free z over the CALENDAR-dense grid — every
  // (key, hour) of the global span exists (generate_series), gaps
  // carry c = 0; z arithmetic identical to x119 (exact-integer
  // doubles, one exactly-rounded sqrt)
  private val calendarAnomalyO: Map[String, String] = Map(
    "x207_calendar_anomaly" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type AS key,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT min(ws) AS lo, max(ws) AS hi FROM c),
        |hours AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ws
        |  FROM span),
        |grid AS (
        |  SELECT k.key, h.ws
        |  FROM (SELECT DISTINCT key FROM c) k CROSS JOIN hours h),
        |dense AS (
        |  SELECT g.ws, g.key, CAST(coalesce(c.c, 0) AS BIGINT) AS c
        |  FROM grid g LEFT JOIN c ON c.key = g.key AND c.ws = g.ws),
        |m AS (
        |  SELECT ws, key, c,
        |    count(*) OVER w AS n,
        |    sum(c) OVER w AS s,
        |    sum(c * c) OVER w AS q
        |  FROM dense
        |  WINDOW w AS (PARTITION BY key ORDER BY ws
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT ws, key, c, CAST(coalesce(n, 0) AS BIGINT) AS n_prior,
        |  CASE WHEN n >= 8
        |      AND CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) > 0.0
        |    THEN (CAST(c AS DOUBLE) * CAST(n AS DOUBLE) - CAST(s AS DOUBLE))
        |      / sqrt(CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) END AS z
        |FROM m ORDER BY ws, key""".stripMargin)

  // x210: the x207 dense-grid chain + a (key, hour-of-day) profile
  // group; leave-one-out moments n−1 / s−c / q−c², the z formula's
  // double boundary mirrored factor by factor
  private val seasonalO: Map[String, String] = Map(
    "x210_seasonal_anomaly" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type AS key,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT min(ws) AS lo, max(ws) AS hi FROM c),
        |hours AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ws
        |  FROM span),
        |grid AS (
        |  SELECT k.key, h.ws
        |  FROM (SELECT DISTINCT key FROM c) k CROSS JOIN hours h),
        |dense AS (
        |  SELECT g.ws, g.key,
        |    CAST(extract(hour FROM g.ws) AS INT) AS season,
        |    CAST(coalesce(c.c, 0) AS BIGINT) AS c
        |  FROM grid g LEFT JOIN c ON c.key = g.key AND c.ws = g.ws),
        |p AS (
        |  SELECT key, season, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS s,
        |    CAST(sum(c * c) AS BIGINT) AS q
        |  FROM dense GROUP BY 1, 2)
        |SELECT d.ws, d.key, d.season, d.c,
        |  CAST(p.n - 1 AS BIGINT) AS n_ref,
        |  CASE WHEN p.n - 1 >= 3
        |      AND CAST(p.n - 1 AS DOUBLE) * CAST(p.q - d.c * d.c AS DOUBLE)
        |        - CAST(p.s - d.c AS DOUBLE) * CAST(p.s - d.c AS DOUBLE)
        |        > 0.0
        |    THEN (CAST(d.c AS DOUBLE) * CAST(p.n - 1 AS DOUBLE)
        |        - CAST(p.s - d.c AS DOUBLE))
        |      / sqrt(CAST(p.n - 1 AS DOUBLE)
        |          * CAST(p.q - d.c * d.c AS DOUBLE)
        |        - CAST(p.s - d.c AS DOUBLE) * CAST(p.s - d.c AS DOUBLE))
        |    END AS z
        |FROM dense d JOIN p ON d.key = p.key AND d.season = p.season
        |ORDER BY d.ws, d.key""".stripMargin)

  // x216: SIF hash embeddings — w_t = T/(T+1000·c_t) quantized once
  // at (28,12); sign = polyHash(term||'#'||dim) parity applied by
  // NEGATION; per-cell decimal sums exact; one boundary division
  private val sifO: Map[String, String] = Map(
    "x216_sif_embed" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |      AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |nd AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS nd
        |       FROM tf GROUP BY 1),
        |cnt AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c
        |        FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS T FROM cnt),
        |w AS (
        |  SELECT term, CAST(CAST(T AS DOUBLE)
        |      / CAST(T + 1000 * c AS DOUBLE) AS DECIMAL(28,12)) AS wt
        |  FROM cnt CROSS JOIN tot),
        |dims AS (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS dim),
        |contrib AS (
        |  SELECT tf.doc_id, d.dim,
        |    CASE WHEN (CAST(list_reduce(list_transform(
        |          range(1, length(tf.term || '#' || CAST(d.dim AS VARCHAR))
        |            + 1),
        |          j -> ascii(substring(
        |            tf.term || '#' || CAST(d.dim AS VARCHAR), j, 1))),
        |        (acc, x) -> (CAST(acc AS BIGINT) * 31 + x) % 1000000007)
        |        AS BIGINT)) % 2 = 0
        |      THEN CAST(tf.tf AS DECIMAL(9,0)) * w.wt
        |      ELSE -(CAST(tf.tf AS DECIMAL(9,0)) * w.wt) END AS v
        |  FROM tf JOIN w USING (term) CROSS JOIN dims d)
        |SELECT c.doc_id, c.dim,
        |  CAST(sum(c.v) AS DOUBLE) / CAST(any_value(nd.nd) AS DOUBLE) AS v
        |FROM contrib c JOIN nd ON c.doc_id = nd.doc_id
        |GROUP BY 1, 2
        |ORDER BY c.doc_id, c.dim""".stripMargin)

  // x217: SIF chain reused verbatim as a CTE, vectors assembled in
  // dim order, then the exact x06 cosine ranker (list_dot_product is
  // the same sequential fold as the engine's codegen dot)
  private lazy val sifNeighborsO: Map[String, String] = Map(
    "x217_sif_neighbors" ->
      (s"WITH sifcells AS (\n${sifO("x216_sif_embed")}\n),\n" +
        """vec AS (
          |  SELECT doc_id, list(v ORDER BY dim) AS embedding
          |  FROM sifcells GROUP BY doc_id)
          |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
          |  cosine
          |FROM (
          |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
          |    list_dot_product(q.embedding, c.embedding)
          |      / (sqrt(list_dot_product(q.embedding, q.embedding))
          |        * sqrt(list_dot_product(c.embedding, c.embedding)))
          |      AS cosine,
          |    row_number() OVER (PARTITION BY q.doc_id
          |      ORDER BY list_dot_product(q.embedding, c.embedding)
          |        / (sqrt(list_dot_product(q.embedding, q.embedding))
          |          * sqrt(list_dot_product(c.embedding, c.embedding)))
          |        DESC, c.doc_id) AS rank
          |  FROM vec q JOIN vec c
          |    ON q.doc_id < 10 AND c.doc_id != q.doc_id) t
          |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin))

  // x215: uniform frame plan — pure integer arithmetic over metadata;
  // idx(j) = (j·n) // k when n > k, else every frame; n ≤ 0 no rows
  private val framePlanO: Map[String, String] = Map(
    "x215_frame_plan" ->
      """WITH vids AS (
        |  SELECT doc_id, n_chars % 97 AS n FROM documents
        |  WHERE n_chars % 97 > 0),
        |j AS (
        |  SELECT doc_id, n,
        |    unnest(generate_series(0, least(n, 8) - 1)) AS sample_ord
        |  FROM vids)
        |SELECT doc_id, CAST(sample_ord AS BIGINT) AS sample_ord,
        |  CAST(CASE WHEN n <= 8 THEN sample_ord
        |    ELSE (sample_ord * n) // 8 END AS BIGINT) AS frame_idx
        |FROM j ORDER BY doc_id, sample_ord""".stripMargin)

  // x233: cohort LTV — floor-cents at the scan, dense per-cohort age
  // axis, cumulative cents over the age grid, one boundary division
  private val cohortLtvO: Map[String, String] = Map(
    "x233_cohort_ltv" ->
      """WITH base AS (
        |  SELECT user_id AS key,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS p,
        |    CAST(floor("value" * 100.0e0) AS BIGINT) AS cents
        |  FROM events),
        |first AS (SELECT key, min(p) AS cohort FROM base GROUP BY 1),
        |sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
        |          FROM first GROUP BY 1),
        |cells AS (
        |  SELECT f.cohort,
        |    CAST((epoch_us(b.p) - epoch_us(f.cohort)) // 86400000000
        |      AS BIGINT) AS age,
        |    CAST(sum(b.cents) AS BIGINT) AS period_cents
        |  FROM base b JOIN first f USING (key)
        |  GROUP BY 1, 2),
        |span AS (SELECT cohort, max(age) AS mx FROM cells GROUP BY 1),
        |grid AS (
        |  SELECT cohort, CAST(unnest(generate_series(0, mx)) AS BIGINT)
        |    AS age
        |  FROM span),
        |dense AS (
        |  SELECT g.cohort, g.age,
        |    CAST(coalesce(c.period_cents, 0) AS BIGINT) AS period_cents
        |  FROM grid g LEFT JOIN cells c
        |    ON c.cohort = g.cohort AND c.age = g.age),
        |cum AS (
        |  SELECT cohort, age, period_cents,
        |    CAST(sum(period_cents) OVER (PARTITION BY cohort
        |      ORDER BY age ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS cum_cents
        |  FROM dense)
        |SELECT cum.cohort, cum.age, sizes.n_users, cum.period_cents,
        |  cum.cum_cents,
        |  CAST(cum.cum_cents AS DOUBLE) / 100.0e0
        |    / CAST(sizes.n_users AS DOUBLE) AS ltv_per_user
        |FROM cum JOIN sizes ON cum.cohort = sizes.cohort
        |ORDER BY cum.cohort, cum.age""".stripMargin)

  // x235: full gaps-and-islands listing over the dense grid
  private val activitySegO: Map[String, String] = Map(
    "x235_activity_segments" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type AS key,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT min(ws) AS lo, max(ws) AS hi FROM c),
        |hours AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ws
        |  FROM span),
        |grid AS (
        |  SELECT k.key, h.ws
        |  FROM (SELECT DISTINCT key FROM c) k CROSS JOIN hours h),
        |dense AS (
        |  SELECT g.ws, g.key, CAST(coalesce(c.c, 0) AS BIGINT) AS c,
        |    CASE WHEN coalesce(c.c, 0) > 0 THEN 'up' ELSE 'down' END
        |      AS state
        |  FROM grid g LEFT JOIN c ON c.key = g.key AND c.ws = g.ws),
        |runs AS (
        |  SELECT key, state, ws, c,
        |    CAST(row_number() OVER (PARTITION BY key ORDER BY ws)
        |      AS BIGINT)
        |    - CAST(row_number() OVER (PARTITION BY key, state
        |        ORDER BY ws) AS BIGINT) AS run
        |  FROM dense)
        |SELECT key, state, min(ws) AS run_start, max(ws) AS run_end,
        |  CAST(count(*) AS BIGINT) AS n_periods,
        |  CAST(sum(c) AS BIGINT) AS n_events
        |FROM runs GROUP BY key, state, run
        |ORDER BY key, run_start""".stripMargin)

  // x234: the x229 ES06 key partitioned by source
  private val weightedStratO: Map[String, String] = Map(
    "x234_weighted_stratified" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS w
        |  FROM documents),
        |k AS (
        |  SELECT source, doc_id, w,
        |    CAST(CAST(
        |      ln(CAST(((doc_id % 1000000007) * 654435747) % 1000000007
        |          + 1 AS DOUBLE) / 1000000008.0e0)
        |        / CAST(w AS DOUBLE)
        |      AS DECIMAL(28,12)) AS DOUBLE) AS key
        |  FROM d WHERE w > 0),
        |r AS (
        |  SELECT source, doc_id, w, key,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY key DESC, doc_id) AS BIGINT) AS sample_rank
        |  FROM k)
        |SELECT source, doc_id, w, key, sample_rank
        |FROM r WHERE sample_rank <= 3
        |ORDER BY source, sample_rank""".stripMargin)

  // x232: Theil–Sen — pairwise integer-rational slopes as doubles
  // (IEEE division is correctly rounded: equal rationals → identical
  // doubles), lower median at ⌈n/2⌉ by integer DIV
  private val theilSenO: Map[String, String] = Map(
    "x232_theil_sen" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type AS key,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT min(ws) AS lo, max(ws) AS hi FROM c),
        |hours AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ws
        |  FROM span),
        |grid AS (
        |  SELECT k.key, h.ws
        |  FROM (SELECT DISTINCT key FROM c) k CROSS JOIN hours h),
        |dense AS (
        |  SELECT g.ws, g.key, CAST(coalesce(c.c, 0) AS BIGINT) AS c,
        |    CAST(row_number() OVER (PARTITION BY g.key ORDER BY g.ws)
        |      AS BIGINT) AS i
        |  FROM grid g LEFT JOIN c ON c.key = g.key AND c.ws = g.ws),
        |slopes AS (
        |  SELECT a.key,
        |    CAST(b.c - a.c AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS s
        |  FROM dense a JOIN dense b
        |    ON a.key = b.key AND a.i < b.i),
        |np AS (SELECT key, CAST(count(*) AS BIGINT) AS n_pairs
        |       FROM slopes GROUP BY 1),
        |ranked AS (
        |  SELECT key, s,
        |    CAST(row_number() OVER (PARTITION BY key ORDER BY s)
        |      AS BIGINT) AS rk
        |  FROM slopes),
        |med AS (
        |  SELECT r.key, np.n_pairs, r.s AS sen_slope
        |  FROM ranked r JOIN np ON r.key = np.key
        |  WHERE r.rk = (np.n_pairs + 1) // 2),
        |n AS (SELECT key, CAST(count(*) AS BIGINT) AS n_periods
        |      FROM dense GROUP BY 1)
        |SELECT n.key, n.n_periods, med.n_pairs, med.sen_slope
        |FROM n JOIN med ON n.key = med.key
        |ORDER BY n.key""".stripMargin)

  // x231: quantile normalization — integer-rank ECDF mapping onto the
  // pooled count grid, the x214 bucket-cut range join for the lookup
  private val quantileNormO: Map[String, String] = Map(
    "x231_quantile_normalize" ->
      """WITH d AS (
        |  SELECT source AS grp,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS v
        |  FROM documents),
        |gv AS (
        |  SELECT grp, v, CAST(count(*) AS BIGINT) AS n_gv
        |  FROM d GROUP BY 1, 2),
        |ranked AS (
        |  SELECT grp, v, n_gv,
        |    CAST(sum(n_gv) OVER (PARTITION BY grp ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS r
        |  FROM gv),
        |ng AS (SELECT grp, CAST(sum(n_gv) AS BIGINT) AS n
        |       FROM gv GROUP BY 1),
        |pooled AS (
        |  SELECT v, CAST(sum(n_gv) AS BIGINT) AS c FROM gv GROUP BY 1),
        |pc AS (
        |  SELECT v AS pv,
        |    CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c
        |      AS BIGINT) AS cumb
        |  FROM pooled),
        |nt AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM pooled),
        |tg AS (
        |  SELECT ranked.grp, ranked.v, ranked.n_gv, ranked.r,
        |    (ranked.r * nt.N + ng.n - 1) // ng.n AS t
        |  FROM ranked JOIN ng ON ranked.grp = ng.grp CROSS JOIN nt)
        |SELECT tg.grp AS source, tg.v, tg.n_gv,
        |  tg.r AS rank_in_group, pc.pv AS norm_v
        |FROM tg JOIN pc ON pc.cumb < tg.t AND tg.t <= pc.cum
        |ORDER BY source, v""".stripMargin)

  // x230: Jelinek–Mercer held-out sweep — hash split, vocab-folded
  // held-out terms, one quantized ln per (word, λ), exact decimal sum
  private val lambdaSweepO: Map[String, String] = Map(
    "x230_lambda_sweep" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |t AS (
        |  SELECT w,
        |    (((doc_id % 1000000007) * 654435747) % 1000000007) % 1000
        |      < 800 AS tr
        |  FROM toks),
        |train AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |          FROM t WHERE tr GROUP BY 1),
        |stats AS (SELECT CAST(sum(c) AS BIGINT) AS T,
        |            CAST(count(*) AS BIGINT) AS V
        |          FROM train),
        |hold AS (SELECT w, CAST(count(*) AS BIGINT) AS n
        |         FROM t WHERE NOT tr GROUP BY 1),
        |grid AS (
        |  SELECT CAST(coalesce(tr2.c, 0) AS BIGINT) AS c,
        |    CAST(sum(h.n) AS BIGINT) AS m
        |  FROM hold h LEFT JOIN train tr2 USING (w)
        |  GROUP BY 1),
        |lam AS (SELECT unnest([0.1e0, 0.2e0, 0.3e0, 0.4e0, 0.5e0,
        |          0.6e0, 0.7e0, 0.8e0, 0.9e0]) AS lambda),
        |terms AS (
        |  SELECT lam.lambda, g.m,
        |    CAST(g.m AS DECIMAL(9,0)) * CAST(ln(
        |      lam.lambda * (CAST(g.c AS DOUBLE) / CAST(s.T AS DOUBLE))
        |      + (1.0e0 - lam.lambda) * (1.0e0 / CAST(s.V AS DOUBLE)))
        |      AS DECIMAL(28,8)) AS tt
        |  FROM grid g CROSS JOIN stats s CROSS JOIN lam),
        |per AS (
        |  SELECT lambda, CAST(sum(m) AS BIGINT) AS n_tokens,
        |    CAST(sum(tt) AS DOUBLE) AS loglik
        |  FROM terms GROUP BY 1)
        |SELECT lambda, n_tokens, loglik,
        |  row_number() OVER (ORDER BY loglik DESC, lambda ASC) = 1
        |    AS best
        |FROM per ORDER BY lambda""".stripMargin)

  // x229: ES06 exponential keys from the portable hash; the ln chain
  // quantized once at (28,12) — ordering and output share the value
  private val weightedSampleO: Map[String, String] = Map(
    "x229_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS w
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, w,
        |    CAST(CAST(
        |      ln(CAST(((doc_id % 1000000007) * 654435747) % 1000000007
        |          + 1 AS DOUBLE) / 1000000008.0e0)
        |        / CAST(w AS DOUBLE)
        |      AS DECIMAL(28,12)) AS DOUBLE) AS key
        |  FROM d WHERE w > 0),
        |r AS (
        |  SELECT doc_id, w, key,
        |    CAST(row_number() OVER (ORDER BY key DESC, doc_id)
        |      AS BIGINT) AS sample_rank
        |  FROM k)
        |SELECT doc_id, w, key, sample_rank
        |FROM r WHERE sample_rank <= 25 ORDER BY sample_rank""".stripMargin)

  // x228: the x103 winnow chain reused verbatim through wpairs, then
  // positional string-shingle matches folded on diagonals
  // (gaps-and-islands per (pair, diagonal))
  private lazy val reuseAlignO: Map[String, String] = {
    val x103 = base("x103_dedup_histogram")
    val cut = x103.indexOf("edges AS")
    require(cut > 0, "x228 oracle: x103 chain slice failed")
    Map("x228_reuse_alignment" ->
      (x103.substring(0, cut) +
        """m AS (
          |  SELECT w.d1 AS id_a, w.d2 AS id_b, a.pos AS pa,
          |    a.pos - b.pos AS d
          |  FROM wpairs w
          |  JOIN sh a ON a.doc_id = w.d1
          |  JOIN sh b ON b.doc_id = w.d2 AND b.s = a.s),
          |nm AS (
          |  SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_matches
          |  FROM m GROUP BY 1, 2),
          |runs AS (
          |  SELECT id_a, id_b, d,
          |    pa - row_number() OVER (PARTITION BY id_a, id_b, d
          |      ORDER BY pa) AS run
          |  FROM m),
          |lens AS (
          |  SELECT id_a, id_b, CAST(max(len) AS BIGINT)
          |    AS longest_run_shingles
          |  FROM (SELECT id_a, id_b, d, run, count(*) AS len
          |        FROM runs GROUP BY 1, 2, 3, 4)
          |  GROUP BY 1, 2)
          |SELECT nm.id_a, nm.id_b, nm.n_matches,
          |  lens.longest_run_shingles,
          |  CAST(lens.longest_run_shingles + 2 AS BIGINT)
          |    AS longest_run_tokens
          |FROM nm JOIN lens USING (id_a, id_b)
          |ORDER BY id_a, id_b""".stripMargin))
  }

  // x227: availability + longest dark run — gaps-and-islands over the
  // dense grid (zero rows grouped by index − rank-among-zeros)
  private val availabilityO: Map[String, String] = Map(
    "x227_availability" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type AS key,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT min(ws) AS lo, max(ws) AS hi FROM c),
        |hours AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ws
        |  FROM span),
        |grid AS (
        |  SELECT k.key, h.ws
        |  FROM (SELECT DISTINCT key FROM c) k CROSS JOIN hours h),
        |dense AS (
        |  SELECT g.ws, g.key, CAST(coalesce(c.c, 0) AS BIGINT) AS c
        |  FROM grid g LEFT JOIN c ON c.key = g.key AND c.ws = g.ws),
        |up AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n_periods,
        |    CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_up
        |  FROM dense GROUP BY 1),
        |idx AS (
        |  SELECT key, ws, c,
        |    CAST(row_number() OVER (PARTITION BY key ORDER BY ws)
        |      AS BIGINT) AS i
        |  FROM dense),
        |zeros AS (
        |  SELECT key, i,
        |    i - CAST(row_number() OVER (PARTITION BY key ORDER BY ws)
        |      AS BIGINT) AS run
        |  FROM idx WHERE c = 0),
        |gaps AS (
        |  SELECT key, CAST(max(len) AS BIGINT) AS longest_gap
        |  FROM (SELECT key, run, count(*) AS len FROM zeros
        |        GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT up.key, up.n_periods, up.n_up,
        |  CAST(up.n_up AS DOUBLE) / CAST(up.n_periods AS DOUBLE)
        |    AS availability,
        |  CAST(coalesce(gaps.longest_gap, 0) AS BIGINT) AS longest_gap
        |FROM up LEFT JOIN gaps ON up.key = gaps.key
        |ORDER BY up.key""".stripMargin)

  // x226: McNemar — the x93 gopher chain reused verbatim as the A
  // gate; exact discordant cells, (19,0) squares, NULL when the gates
  // never disagree
  private lazy val mcnemarO: Map[String, String] = Map(
    "x226_mcnemar_gates" ->
      (s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
        """u AS (
          |  SELECT g.gopher_pass AS a, d.n_chars >= 200 AS b
          |  FROM g JOIN documents d ON g.doc_id = d.doc_id),
          |cells AS (
          |  SELECT
          |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n11,
          |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n10,
          |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n01,
          |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n00
          |  FROM u)
          |SELECT n11, n10, n01, n00,
          |  CASE WHEN n10 + n01 > 0 THEN
          |    CAST(CAST(n10 - n01 AS DECIMAL(19,0))
          |        * CAST(n10 - n01 AS DECIMAL(19,0)) AS DOUBLE)
          |      / CAST(n10 + n01 AS DOUBLE) END AS chi2,
          |  CASE WHEN n10 + n01 > 0 THEN
          |    CAST(CAST(greatest(abs(n10 - n01) - 1, 0) AS DECIMAL(19,0))
          |        * CAST(greatest(abs(n10 - n01) - 1, 0) AS DECIMAL(19,0))
          |      AS DOUBLE) / CAST(n10 + n01 AS DOUBLE) END AS chi2_cc
          |FROM cells""".stripMargin))

  // x225: round-robin curriculum — per-stratum rank by the portable
  // multiplicative hash (the bucketed engine form equals this plain
  // per-stratum rank), pos = rank·|strata| + stratum index
  private val curriculumO: Map[String, String] = Map(
    "x225_curriculum_interleave" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    ((doc_id % 1000000007) * 654435747) % 1000000007 AS hv
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, hv,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY hv, doc_id) - 1 AS BIGINT) AS rk
        |  FROM h),
        |si AS (
        |  SELECT source,
        |    CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT)
        |      AS bi
        |  FROM (SELECT DISTINCT source FROM documents)),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM si)
        |SELECT r.doc_id, r.source AS stratum,
        |  r.rk * ns.n + si.bi AS pos
        |FROM r JOIN si ON r.source = si.source CROSS JOIN ns
        |ORDER BY pos""".stripMargin)

  // x224: Mann–Kendall over the dense grid — exact integer S and tie
  // terms ((12,0) triple products, 36 digits, bindable both engines),
  // one double chain for var and the continuity-corrected z
  private val mannKendallO: Map[String, String] = Map(
    "x224_mann_kendall" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type AS key,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT min(ws) AS lo, max(ws) AS hi FROM c),
        |hours AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ws
        |  FROM span),
        |grid AS (
        |  SELECT k.key, h.ws
        |  FROM (SELECT DISTINCT key FROM c) k CROSS JOIN hours h),
        |dense AS (
        |  SELECT g.ws, g.key, CAST(coalesce(c.c, 0) AS BIGINT) AS c
        |  FROM grid g LEFT JOIN c ON c.key = g.key AND c.ws = g.ws),
        |s AS (
        |  SELECT a.key,
        |    CAST(sum(sign(b.c - a.c)) AS BIGINT) AS s_stat
        |  FROM dense a JOIN dense b
        |    ON a.key = b.key AND a.ws < b.ws
        |  GROUP BY 1),
        |ties AS (
        |  SELECT key,
        |    sum(CAST(t AS DECIMAL(12,0)) * CAST(t - 1 AS DECIMAL(12,0))
        |      * CAST(2 * t + 5 AS DECIMAL(12,0))) AS tt
        |  FROM (SELECT key, c, CAST(count(*) AS BIGINT) AS t
        |        FROM dense GROUP BY 1, 2)
        |  GROUP BY 1),
        |n AS (SELECT key, CAST(count(*) AS BIGINT) AS n
        |      FROM dense GROUP BY 1),
        |v AS (
        |  SELECT n.key, n.n, s.s_stat,
        |    CAST(CAST(n.n AS DECIMAL(12,0))
        |        * CAST(n.n - 1 AS DECIMAL(12,0))
        |        * CAST(2 * n.n + 5 AS DECIMAL(12,0)) - ties.tt
        |      AS DOUBLE) / 18.0e0 AS var_s
        |  FROM n JOIN s ON n.key = s.key JOIN ties ON n.key = ties.key)
        |SELECT key, n AS n_periods, s_stat, var_s,
        |  CASE WHEN var_s > 0.0 THEN
        |    CASE WHEN s_stat > 0
        |        THEN (CAST(s_stat AS DOUBLE) - 1.0e0) / sqrt(var_s)
        |      WHEN s_stat < 0
        |        THEN (CAST(s_stat AS DOUBLE) + 1.0e0) / sqrt(var_s)
        |      ELSE 0.0e0 END
        |  END AS z
        |FROM v ORDER BY key""".stripMargin)

  // x223: the x103 winnow-graph + component chain reused VERBATIM up
  // to `lab`, folded to per-cluster edge counts and density
  private lazy val clusterDensityO: Map[String, String] = {
    val x103 = base("x103_dedup_histogram")
    val cut = x103.indexOf("sizes AS")
    require(cut > 0, "x223 oracle: x103 chain slice failed")
    Map("x223_cluster_density" ->
      (x103.substring(0, cut) +
        """sizes AS (
          |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
          |  FROM lab GROUP BY 1),
          |ec AS (
          |  SELECT l.cluster, CAST(count(*) AS BIGINT) AS n_edges
          |  FROM wpairs w JOIN lab l ON w.d1 = l.id GROUP BY 1)
          |SELECT s.cluster, s.n_members, ec.n_edges,
          |  2 * CAST(ec.n_edges AS DOUBLE)
          |    / (CAST(s.n_members AS DOUBLE)
          |      * CAST(s.n_members - 1 AS DOUBLE)) AS density
          |FROM sizes s JOIN ec USING (cluster)
          |ORDER BY cluster""".stripMargin))
  }

  // x222: Fano factor over the dense calendar grid; exact integer
  // moments ((19,0) squares), one double chain, NULL for zero mass
  private val dispersionO: Map[String, String] = Map(
    "x222_dispersion" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type AS key,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT min(ws) AS lo, max(ws) AS hi FROM c),
        |hours AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ws
        |  FROM span),
        |grid AS (
        |  SELECT k.key, h.ws
        |  FROM (SELECT DISTINCT key FROM c) k CROSS JOIN hours h),
        |dense AS (
        |  SELECT g.ws, g.key, CAST(coalesce(c.c, 0) AS BIGINT) AS c
        |  FROM grid g LEFT JOIN c ON c.key = g.key AND c.ws = g.ws),
        |m AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS S,
        |    sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS Q
        |  FROM dense GROUP BY 1)
        |SELECT key, n AS n_periods,
        |  CAST(S AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
        |  CASE WHEN S > 0 THEN
        |    (CAST(n AS DOUBLE) * CAST(Q AS DOUBLE)
        |      - CAST(S AS DOUBLE) * CAST(S AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(S AS DOUBLE)) END AS vmr
        |FROM m ORDER BY key""".stripMargin)

  // x221: Good–Turing over the count-of-counts grid; the lead() is
  // gap-aware (r* defined only when class r+1 exists)
  private val goodTuringO: Map[String, String] = Map(
    "x221_good_turing" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |    AS term
        |  FROM documents),
        |cnts AS (SELECT term, CAST(count(*) AS BIGINT) AS r
        |         FROM toks GROUP BY 1),
        |grid AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
        |         FROM cnts GROUP BY 1),
        |tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS T FROM grid),
        |led AS (
        |  SELECT r, n_r,
        |    lead(n_r, 1) OVER (ORDER BY r) AS nr1,
        |    lead(r, 1) OVER (ORDER BY r) AS r1
        |  FROM grid)
        |SELECT r, n_r,
        |  CASE WHEN r1 = r + 1 THEN
        |    CAST(r + 1 AS DOUBLE) * CAST(nr1 AS DOUBLE)
        |      / CAST(n_r AS DOUBLE) END AS r_star,
        |  CASE WHEN r1 = r + 1 THEN
        |    CAST(r + 1 AS DOUBLE) * CAST(nr1 AS DOUBLE)
        |      / CAST(n_r AS DOUBLE) / CAST(T AS DOUBLE) END AS p_item
        |FROM led CROSS JOIN tot ORDER BY r""".stripMargin)

  // x220: per-eval-item contamination — distinct bench shingles hit in
  // train + the argmax train doc (ties: smallest id); membership is
  // hash-invariant, so the oracle joins on the STRING shingles
  private val evalContamO: Map[String, String] = Map(
    "x220_eval_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
        |    AS arr
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(arr) - 1),
        |      i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2]))) AS s
        |  FROM toks),
        |b AS (SELECT doc_id, s FROM sh WHERE doc_id < 20),
        |t AS (SELECT doc_id, s FROM sh WHERE doc_id >= 20),
        |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
        |       FROM b GROUP BY 1),
        |hit AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
        |  FROM b WHERE s IN (SELECT s FROM t) GROUP BY 1),
        |shared AS (
        |  SELECT b.doc_id AS idb, t.doc_id AS idt,
        |    CAST(count(*) AS BIGINT) AS shared
        |  FROM b JOIN t ON b.s = t.s GROUP BY 1, 2),
        |top AS (
        |  SELECT idb, idt, shared FROM (
        |    SELECT *, row_number() OVER (PARTITION BY idb
        |      ORDER BY shared DESC, idt ASC) AS rk
        |    FROM shared) WHERE rk = 1),
        |ids AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 20)
        |SELECT ids.doc_id,
        |  CAST(coalesce(nb.n_shingles, 0) AS BIGINT) AS n_shingles,
        |  CASE WHEN nb.n_shingles IS NOT NULL
        |    THEN CAST(coalesce(hit.n_hit, 0) AS BIGINT) END AS n_hit,
        |  CAST(coalesce(hit.n_hit, 0) AS DOUBLE)
        |    / CAST(nb.n_shingles AS DOUBLE) AS contamination,
        |  top.idt AS top_train_doc, top.shared AS top_shared
        |FROM ids
        |LEFT JOIN nb USING (doc_id)
        |LEFT JOIN hit USING (doc_id)
        |LEFT JOIN top ON top.idb = ids.doc_id
        |ORDER BY ids.doc_id""".stripMargin)

  // x219: Otsu over the per-value count grid — the x218 machinery on
  // the value axis; same (19,0) square and double-chain disciplines
  private val otsuO: Map[String, String] = Map(
    "x219_otsu_threshold" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS v
        |  FROM documents),
        |cv AS (
        |  SELECT source AS g, v, CAST(count(*) AS BIGINT) AS c,
        |    CAST(count(*) * v AS BIGINT) AS m
        |  FROM d GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, v, c, m,
        |    CAST(row_number() OVER w AS BIGINT) AS i,
        |    CAST(sum(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
        |    CAST(sum(m) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs,
        |    lead(v, 1) OVER w AS nxt
        |  FROM cv WINDOW w AS (PARTITION BY g ORDER BY v)),
        |tot AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS nv,
        |    CAST(sum(c) AS BIGINT) AS W, CAST(sum(m) AS BIGINT) AS S
        |  FROM cv GROUP BY 1),
        |splits AS (
        |  SELECT cum.g, cum.nxt, cum.cw, cum.cs, cum.v,
        |    tot.W - cum.cw AS wr, tot.S - cum.cs AS sr,
        |    CAST(CAST(cum.cs AS DECIMAL(19,0))
        |        * CAST(cum.cs AS DECIMAL(19,0)) AS DOUBLE)
        |      / CAST(cum.cw AS DOUBLE)
        |    + CAST(CAST(tot.S - cum.cs AS DECIMAL(19,0))
        |        * CAST(tot.S - cum.cs AS DECIMAL(19,0)) AS DOUBLE)
        |      / CAST(tot.W - cum.cw AS DOUBLE) AS gain
        |  FROM cum JOIN tot ON cum.g = tot.g
        |  WHERE cum.i < tot.nv),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY g
        |    ORDER BY gain DESC, v ASC) AS rk
        |  FROM splits)
        |SELECT g AS source, CAST(nxt AS BIGINT) AS threshold,
        |  cw AS w_left, CAST(wr AS BIGINT) AS w_right,
        |  CAST(cs AS DOUBLE) / CAST(cw AS DOUBLE) AS mean_left,
        |  CAST(sr AS DOUBLE) / CAST(wr AS DOUBLE) AS mean_right, gain
        |FROM best WHERE rk = 1 ORDER BY source""".stripMargin)

  // x218: the x207 dense-grid chain + prefix sums; gains through
  // DECIMAL(19,0) squares (38-digit products, the widest BOTH engines
  // multiply exactly), one double chain each; argmax ranks
  // (gain DESC, ws ASC)
  private val levelShiftO: Map[String, String] = Map(
    "x218_level_shift" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type AS key,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT min(ws) AS lo, max(ws) AS hi FROM c),
        |hours AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ws
        |  FROM span),
        |grid AS (
        |  SELECT k.key, h.ws
        |  FROM (SELECT DISTINCT key FROM c) k CROSS JOIN hours h),
        |dense AS (
        |  SELECT g.ws, g.key, CAST(coalesce(c.c, 0) AS BIGINT) AS c
        |  FROM grid g LEFT JOIN c ON c.key = g.key AND c.ws = g.ws),
        |cum AS (
        |  SELECT ws, key, c,
        |    CAST(row_number() OVER w AS BIGINT) AS i,
        |    CAST(sum(c) OVER (PARTITION BY key ORDER BY ws
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs,
        |    lead(ws, 1) OVER w AS nxt
        |  FROM dense
        |  WINDOW w AS (PARTITION BY key ORDER BY ws)),
        |tot AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS S
        |  FROM dense GROUP BY 1),
        |splits AS (
        |  SELECT cum.key, cum.nxt, cum.i, cum.cs,
        |    tot.n - cum.i AS nr, tot.S - cum.cs AS sr, cum.ws,
        |    CAST(CAST(cum.cs AS DECIMAL(19,0))
        |        * CAST(cum.cs AS DECIMAL(19,0)) AS DOUBLE)
        |      / CAST(cum.i AS DOUBLE)
        |    + CAST(CAST(tot.S - cum.cs AS DECIMAL(19,0))
        |        * CAST(tot.S - cum.cs AS DECIMAL(19,0)) AS DOUBLE)
        |      / CAST(tot.n - cum.i AS DOUBLE) AS gain
        |  FROM cum JOIN tot ON cum.key = tot.key
        |  WHERE cum.i < tot.n),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |    ORDER BY gain DESC, ws ASC) AS rk
        |  FROM splits)
        |SELECT key, nxt AS split_ws, i AS n_left,
        |  CAST(nr AS BIGINT) AS n_right,
        |  CAST(cs AS DOUBLE) / CAST(i AS DOUBLE) AS mean_left,
        |  CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE) AS mean_right, gain
        |FROM best WHERE rk = 1 ORDER BY key""".stripMargin)

  // x214: Zipf coverage cut — cumulative over the DISTINCT-COUNT grid
  // (most-frequent buckets first), required mass and the in-bucket
  // term count both by exact integer ceil-DIV
  private val vocabBudgetO: Map[String, String] = Map(
    "x214_vocab_budget" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |    AS term
        |  FROM documents),
        |cnts AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks GROUP BY 1),
        |grid AS (
        |  SELECT cnt, CAST(count(*) AS BIGINT) AS n_terms,
        |    CAST(cnt * count(*) AS BIGINT) AS mass
        |  FROM cnts GROUP BY 1),
        |cum AS (
        |  SELECT cnt, n_terms, mass,
        |    CAST(coalesce(sum(mass) OVER (ORDER BY cnt DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS m_before,
        |    CAST(coalesce(sum(n_terms) OVER (ORDER BY cnt DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS t_before
        |  FROM grid),
        |tot AS (SELECT CAST(sum(mass) AS BIGINT) AS T FROM grid),
        |tg AS (SELECT unnest([500, 900, 990, 1000]) AS ppm)
        |SELECT CAST(ppm AS INT) AS ppm,
        |  CAST(t_before + ((((T * ppm + 999) // 1000) - m_before
        |    + cnt - 1) // cnt) AS BIGINT) AS vocab_size,
        |  CAST(m_before + ((((T * ppm + 999) // 1000) - m_before
        |    + cnt - 1) // cnt) * cnt AS BIGINT) AS covered_mass,
        |  T AS total_mass,
        |  CAST(m_before + ((((T * ppm + 999) // 1000) - m_before
        |    + cnt - 1) // cnt) * cnt AS DOUBLE) / CAST(T AS DOUBLE)
        |    AS coverage
        |FROM tg CROSS JOIN tot CROSS JOIN cum
        |WHERE m_before < (T * ppm + 999) // 1000
        |  AND m_before + mass >= (T * ppm + 999) // 1000
        |ORDER BY ppm""".stripMargin)

  // x213: the x182 session chain + first-event stratum; per-stratum
  // w·diff terms quantized (28,12), adjusted sum exact decimal
  private val simpsonO: Map[String, String] = Map(
    "x213_simpson_audit" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM flagged),
        |ranked AS (
        |  SELECT user_id, sid, event_type,
        |    row_number() OVER (PARTITION BY user_id, sid
        |      ORDER BY ts, event_id) AS rn
        |  FROM sess),
        |u0 AS (
        |  SELECT user_id, sid,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM sess GROUP BY 1, 2),
        |fst AS (
        |  SELECT user_id, sid, event_type AS stratum
        |  FROM ranked WHERE rn = 1),
        |u AS (
        |  SELECT u0.user_id, u0.sid, u0.conv, fst.stratum
        |  FROM u0 JOIN fst USING (user_id, sid)),
        |cells AS (
        |  SELECT stratum, user_id % 2 AS cohort,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS k
        |  FROM u GROUP BY 1, 2),
        |pooledc AS (
        |  SELECT cohort, CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(k) AS BIGINT) AS k
        |  FROM cells GROUP BY 1),
        |pooled AS (
        |  SELECT CAST(a.k AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.k AS DOUBLE) / CAST(b.n AS DOUBLE) AS pooled_diff
        |  FROM pooledc a JOIN pooledc b ON a.cohort < b.cohort),
        |paired AS (
        |  SELECT a.stratum, CAST(a.n + b.n AS BIGINT) AS w,
        |    CAST(a.k AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.k AS DOUBLE) / CAST(b.n AS DOUBLE) AS diff
        |  FROM cells a JOIN cells b
        |    ON a.stratum = b.stratum AND a.cohort < b.cohort),
        |wt AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM paired),
        |adj AS (
        |  SELECT CAST(sum(CAST(
        |      (CAST(p.w AS DOUBLE) / CAST(wt.wt AS DOUBLE)) * p.diff
        |      AS DECIMAL(28,12))) AS DOUBLE) AS adjusted_diff,
        |    CAST(count(*) AS BIGINT) AS n_paired
        |  FROM paired p CROSS JOIN wt),
        |rev AS (
        |  SELECT CAST(sum(CASE WHEN (pd.pooled_diff > 0 AND p.diff < 0)
        |      OR (pd.pooled_diff < 0 AND p.diff > 0) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_reversed
        |  FROM paired p CROSS JOIN pooled pd),
        |ns AS (
        |  SELECT CAST(count(DISTINCT stratum) AS BIGINT) AS n_strata
        |  FROM cells)
        |SELECT ns.n_strata, adj.n_paired, rev.n_reversed,
        |  pooled.pooled_diff, adj.adjusted_diff,
        |  (pooled.pooled_diff > 0 AND adj.adjusted_diff < 0)
        |    OR (pooled.pooled_diff < 0 AND adj.adjusted_diff > 0)
        |    AS paradox
        |FROM ns CROSS JOIN adj CROSS JOIN rev CROSS JOIN pooled""".stripMargin)

  // x212: RBO_EXT between the k1=1.2 and k1=2.0 BM25 rankings — both
  // scorers are the x81 chain verbatim (the k1=2.0 arm substitutes
  // the three k1-derived literals: k1+1, k1(1−b), k1·b); exact
  // prefix-overlap counts, each geometric term quantized (28,12),
  // exact decimal sum + extrapolation term
  private val rboO: Map[String, String] = {
    val sa = base("x81_bm25_multi")
    val sb = {
      val r = sa.replace("2.2e0", "3.0e0").replace("0.3e0", "0.5e0")
        .replace("0.8999999999999999e0", "1.5e0")
      require(r != sa && !r.contains("2.2e0"),
        "x212 oracle: k1=2.0 literal substitution failed")
      r
    }
    Map("x212_rbo_agreement" ->
      (s"WITH sa AS (SELECT doc_id, query_id, bm25 FROM (\n$sa\n)),\n" +
        s"sb AS (SELECT doc_id, query_id, bm25 FROM (\n$sb\n)),\n" +
        """ta AS (
          |  SELECT query_id, doc_id, rank FROM (
          |    SELECT query_id, doc_id,
          |      row_number() OVER (PARTITION BY query_id
          |        ORDER BY bm25 DESC, doc_id ASC) AS rank
          |    FROM sa) WHERE rank <= 10),
          |tb AS (
          |  SELECT query_id, doc_id, rank FROM (
          |    SELECT query_id, doc_id,
          |      row_number() OVER (PARTITION BY query_id
          |        ORDER BY bm25 DESC, doc_id ASC) AS rank
          |    FROM sb) WHERE rank <= 10),
          |common AS (
          |  SELECT ta.query_id, greatest(ta.rank, tb.rank) AS md
          |  FROM ta JOIN tb
          |    ON ta.query_id = tb.query_id AND ta.doc_id = tb.doc_id),
          |queries AS (
          |  SELECT DISTINCT query_id FROM ta
          |  UNION SELECT DISTINCT query_id FROM tb),
          |depths AS (
          |  SELECT q.query_id, CAST(g.d AS BIGINT) AS d
          |  FROM queries q CROSS JOIN generate_series(1, 10) g(d)),
          |xd AS (
          |  SELECT dp.query_id, dp.d,
          |    CAST(sum(CASE WHEN c.md IS NOT NULL AND c.md <= dp.d
          |      THEN 1 ELSE 0 END) AS BIGINT) AS x
          |  FROM depths dp LEFT JOIN common c ON c.query_id = dp.query_id
          |  GROUP BY 1, 2)
          |SELECT query_id,
          |  max(CASE WHEN d = 10 THEN x END) AS n_common,
          |  CAST(
          |    sum(CAST(power(0.9e0, CAST(d - 1 AS DOUBLE))
          |      * 0.09999999999999998e0
          |      * (CAST(x AS DOUBLE) / CAST(d AS DOUBLE))
          |      AS DECIMAL(28,12)))
          |    + max(CASE WHEN d = 10 THEN
          |        CAST(power(0.9e0, 10.0e0)
          |          * (CAST(x AS DOUBLE) / CAST(d AS DOUBLE))
          |        AS DECIMAL(28,12)) END)
          |  AS DOUBLE) AS rbo
          |FROM xd GROUP BY 1 ORDER BY query_id""".stripMargin))
  }

  // x211: full vocab × label grid from exact 2×2 tables; each p·log2
  // term quantized once at (28,12), cells summed in decimal — the
  // engine's chain mirrored factor by factor
  private val tokenMiO: Map[String, String] = Map(
    "x211_token_label_mi" ->
      """WITH p AS (
        |  SELECT DISTINCT doc_id, lang, term FROM (
        |    SELECT doc_id, lang,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |        AS term
        |    FROM documents)),
        |n11t AS (
        |  SELECT term, lang AS label, CAST(count(*) AS BIGINT) AS n11
        |  FROM p GROUP BY 1, 2),
        |ni AS (SELECT term, CAST(sum(n11) AS BIGINT) AS ni
        |       FROM n11t GROUP BY 1),
        |nj AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS nj
        |       FROM documents GROUP BY 1),
        |nt AS (SELECT CAST(sum(nj) AS BIGINT) AS N FROM nj),
        |grid AS (
        |  SELECT ni.term, nj.label, ni.ni, nj.nj, nt.N,
        |    CAST(coalesce(n11t.n11, 0) AS BIGINT) AS n11
        |  FROM ni CROSS JOIN nj CROSS JOIN nt
        |  LEFT JOIN n11t
        |    ON n11t.term = ni.term AND n11t.label = nj.label)
        |SELECT term, label, n11,
        |  ni - n11 AS n10, nj - n11 AS n01, N - ni - nj + n11 AS n00,
        |  CAST(
        |    (CASE WHEN n11 > 0 THEN CAST(
        |      (CAST(n11 AS DOUBLE) / CAST(N AS DOUBLE))
        |        * log2((CAST(n11 AS DOUBLE) * CAST(N AS DOUBLE))
        |          / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)))
        |      AS DECIMAL(28,12)) ELSE CAST(0 AS DECIMAL(28,12)) END)
        |    + (CASE WHEN ni - n11 > 0 THEN CAST(
        |      (CAST(ni - n11 AS DOUBLE) / CAST(N AS DOUBLE))
        |        * log2((CAST(ni - n11 AS DOUBLE) * CAST(N AS DOUBLE))
        |          / (CAST(ni AS DOUBLE) * CAST(N - nj AS DOUBLE)))
        |      AS DECIMAL(28,12)) ELSE CAST(0 AS DECIMAL(28,12)) END)
        |    + (CASE WHEN nj - n11 > 0 THEN CAST(
        |      (CAST(nj - n11 AS DOUBLE) / CAST(N AS DOUBLE))
        |        * log2((CAST(nj - n11 AS DOUBLE) * CAST(N AS DOUBLE))
        |          / (CAST(N - ni AS DOUBLE) * CAST(nj AS DOUBLE)))
        |      AS DECIMAL(28,12)) ELSE CAST(0 AS DECIMAL(28,12)) END)
        |    + (CASE WHEN N - ni - nj + n11 > 0 THEN CAST(
        |      (CAST(N - ni - nj + n11 AS DOUBLE) / CAST(N AS DOUBLE))
        |        * log2((CAST(N - ni - nj + n11 AS DOUBLE)
        |            * CAST(N AS DOUBLE))
        |          / (CAST(N - ni AS DOUBLE) * CAST(N - nj AS DOUBLE)))
        |      AS DECIMAL(28,12)) ELSE CAST(0 AS DECIMAL(28,12)) END)
        |  AS DOUBLE) AS mi
        |FROM grid ORDER BY term, label""".stripMargin)

  // x209: the oracle re-verifies every pair with DuckDB's own
  // levenshtein() over the length-banded self-join (|len diff| ≤ d is
  // necessary for lev ≤ d) — same exact unit-cost edit-distance
  // semantics as Spark's levenshtein, no blocking scheme to trust
  private val spellingO: Map[String, String] = Map(
    "x209_spelling_variants" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |    AS term
        |  FROM documents),
        |v AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM toks WHERE length(term) >= 4 GROUP BY 1),
        |p AS (
        |  SELECT a.term AS ta, a.df AS dfa, b.term AS tb, b.df AS dfb,
        |    CAST(levenshtein(a.term, b.term) AS INT) AS dist
        |  FROM v a JOIN v b ON a.term < b.term
        |  WHERE abs(length(a.term) - length(b.term)) <= 2
        |    AND levenshtein(a.term, b.term) <= 2)
        |SELECT
        |  CASE WHEN dfa > dfb OR (dfa = dfb AND ta < tb)
        |    THEN tb ELSE ta END AS variant,
        |  CASE WHEN dfa > dfb OR (dfa = dfb AND ta < tb)
        |    THEN ta ELSE tb END AS canonical,
        |  dist,
        |  CASE WHEN dfa > dfb OR (dfa = dfb AND ta < tb)
        |    THEN dfb ELSE dfa END AS df_variant,
        |  CASE WHEN dfa > dfb OR (dfa = dfb AND ta < tb)
        |    THEN dfa ELSE dfb END AS df_canonical
        |FROM p ORDER BY variant, canonical""".stripMargin)

  // x238: the oracle re-verifies the persisted-index linkage with
  // DuckDB's levenshtein over the length-banded cross of the two
  // vocabularies — the x209 re-verification idiom, two universes
  private val linkageO: Map[String, String] = Map(
    "x238_linkage_roundtrip" ->
      """WITH te AS (
        |  SELECT DISTINCT
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |      AS term
        |  FROM documents WHERE doc_id % 2 = 0),
        |ti AS (
        |  SELECT DISTINCT
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |      AS term
        |  FROM documents WHERE doc_id % 2 = 1),
        |e AS (SELECT term FROM te WHERE length(term) >= 4),
        |i AS (SELECT term FROM ti WHERE length(term) >= 4)
        |SELECT i.term AS id, e.term AS ex_id,
        |  CAST(levenshtein(i.term, e.term) AS INT) AS dist
        |FROM i JOIN e
        |  ON abs(length(i.term) - length(e.term)) <= 2
        |  AND levenshtein(i.term, e.term) <= 2
        |ORDER BY id, ex_id""".stripMargin)

  // x239-x242: the classifier-eval family over the x93 gopher chain —
  // confusion counts / rank statistics / marginal products all exact
  // integers on the score count grid, one double division each
  private lazy val classifierEvalO: Map[String, String] = {
    val units =
      s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
        """u AS (
          |  SELECT g.gopher_pass AS y, d.n_chars AS s
          |  FROM g JOIN documents d ON g.doc_id = d.doc_id),
          |""".stripMargin
    Map(
      "x239_threshold_sweep" -> (units +
        """grid AS (
          |  SELECT s AS threshold,
          |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
          |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
          |  FROM u GROUP BY 1),
          |tot AS (
          |  SELECT CAST(sum(pos) AS BIGINT) AS np,
          |    CAST(sum(neg) AS BIGINT) AS nn FROM grid),
          |c AS (
          |  SELECT threshold,
          |    CAST(sum(pos) OVER (ORDER BY threshold DESC
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
          |    CAST(sum(neg) OVER (ORDER BY threshold DESC
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
          |  FROM grid)
          |SELECT c.threshold, c.tp, c.fp,
          |  CAST(t.np - c.tp AS BIGINT) AS fn,
          |  CAST(t.nn - c.fp AS BIGINT) AS tn,
          |  CASE WHEN c.tp + c.fp > 0 THEN
          |    CAST(c.tp AS DOUBLE) / CAST(c.tp + c.fp AS DOUBLE)
          |    END AS "precision",
          |  CASE WHEN t.np > 0 THEN
          |    CAST(c.tp AS DOUBLE) / CAST(t.np AS DOUBLE) END AS recall,
          |  CASE WHEN c.tp + c.fp + t.np > 0 THEN
          |    2.0e0 * CAST(c.tp AS DOUBLE)
          |      / CAST(c.tp + c.fp + t.np AS DOUBLE) END AS f1,
          |  CASE WHEN t.nn > 0 THEN
          |    CAST(c.fp AS DOUBLE) / CAST(t.nn AS DOUBLE) END AS fpr
          |FROM c CROSS JOIN tot t ORDER BY threshold""".stripMargin),
      "x244_group_auc" -> (
        s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
          """u AS (
            |  SELECT d.source, g.gopher_pass AS y, d.n_chars AS s
            |  FROM g JOIN documents d ON g.doc_id = d.doc_id),
            |grid AS (
            |  SELECT source, s,
            |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
            |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
            |  FROM u GROUP BY 1, 2),
            |cb AS (
            |  SELECT source, pos, neg,
            |    CAST(coalesce(sum(neg) OVER (PARTITION BY source
            |      ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND
            |      1 PRECEDING), 0) AS BIGINT) AS nb
            |  FROM grid)
            |SELECT source, CAST(sum(pos) AS BIGINT) AS n_pos,
            |  CAST(sum(neg) AS BIGINT) AS n_neg,
            |  CASE WHEN sum(pos) > 0 AND sum(neg) > 0 THEN
            |    CAST(sum(pos * (2 * nb + neg)) AS DOUBLE)
            |      / (2.0e0 * CAST(sum(pos) AS DOUBLE)
            |        * CAST(sum(neg) AS DOUBLE)) END AS auc
            |FROM cb GROUP BY source ORDER BY source""".stripMargin),
      "x240_roc_auc" -> (units +
        """grid AS (
          |  SELECT s,
          |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
          |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
          |  FROM u GROUP BY 1),
          |cb AS (
          |  SELECT pos, neg,
          |    CAST(coalesce(sum(neg) OVER (ORDER BY s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS nb
          |  FROM grid)
          |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
          |  CAST(sum(neg) AS BIGINT) AS n_neg,
          |  CASE WHEN sum(pos) > 0 AND sum(neg) > 0 THEN
          |    CAST(sum(pos * (2 * nb + neg)) AS DOUBLE)
          |      / (2.0e0 * CAST(sum(pos) AS DOUBLE)
          |        * CAST(sum(neg) AS DOUBLE)) END AS auc
          |FROM cb""".stripMargin),
      "x241_calibration" -> (units +
        """p AS (
          |  SELECT least(1000000, s * 2000) AS p, y FROM u),
          |b AS (
          |  SELECT least(CAST(9 AS BIGINT),
          |    CAST((p * 10) // 1000000 AS BIGINT)) AS bin, p, y FROM p),
          |a AS (
          |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(p) AS BIGINT) AS sp,
          |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS ny
          |  FROM b GROUP BY 1)
          |SELECT bin, CAST((bin * 1000000) // 10 AS BIGINT) AS p_lo_ppm,
          |  n,
          |  CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0e0
          |    AS mean_p,
          |  CAST(ny AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
          |  CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)
          |    - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0e0
          |    AS gap
          |FROM a ORDER BY bin""".stripMargin),
      "x245_brier" -> (units +
        """p AS (
          |  SELECT least(1000000, s * 2000) AS p,
          |    CASE WHEN y THEN 1000000 ELSE 0 END AS yz
          |  FROM u),
          |a AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CASE WHEN yz = 1000000 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS ny,
          |    CAST(sum(CAST(p - yz AS HUGEINT) * (p - yz)) AS HUGEINT)
          |      AS se
          |  FROM p)
          |SELECT n,
          |  CAST(se AS DOUBLE) / (CAST(n AS DOUBLE) * 1.0e12) AS brier,
          |  CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)
          |    * (1.0e0 - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
          |    AS brier_ref,
          |  CASE WHEN ny > 0 AND ny < n THEN
          |    1.0e0 - (CAST(se AS DOUBLE) / (CAST(n AS DOUBLE) * 1.0e12))
          |      / (CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)
          |        * (1.0e0 - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)))
          |    END AS skill
          |FROM a""".stripMargin),
      "x246_kendall_tau" -> (
        s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
          """u AS (
            |  SELECT stop_hits AS x,
            |    least(CAST(19 AS BIGINT), n_words // 25) AS y
            |  FROM g),
            |grid AS (
            |  SELECT x, y, CAST(count(*) AS BIGINT) AS c
            |  FROM u GROUP BY 1, 2),
            |sp AS (
            |  SELECT CAST(coalesce(sum(CAST(a.c AS HUGEINT) * b.c *
            |      (CASE WHEN b.y > a.y THEN 1
            |        WHEN b.y < a.y THEN -1 ELSE 0 END)), 0) AS HUGEINT)
            |    AS s
            |  FROM grid a JOIN grid b ON a.x < b.x),
            |tx AS (
            |  SELECT CAST(coalesce(sum(CAST(t AS HUGEINT) * (t - 1)), 0)
            |    AS HUGEINT) AS tx2
            |  FROM (SELECT x, CAST(sum(c) AS BIGINT) AS t
            |        FROM grid GROUP BY 1)),
            |ty AS (
            |  SELECT CAST(coalesce(sum(CAST(t AS HUGEINT) * (t - 1)), 0)
            |    AS HUGEINT) AS ty2
            |  FROM (SELECT y, CAST(sum(c) AS BIGINT) AS t
            |        FROM grid GROUP BY 1)),
            |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM grid)
            |SELECT nt.n, CAST(sp.s AS BIGINT) AS s_stat,
            |  CASE WHEN CAST(nt.n AS HUGEINT) * (nt.n - 1) > tx.tx2
            |      AND CAST(nt.n AS HUGEINT) * (nt.n - 1) > ty.ty2 THEN
            |    2.0e0 * CAST(sp.s AS DOUBLE)
            |      / sqrt(CAST(CAST(nt.n AS HUGEINT) * (nt.n - 1) - tx.tx2
            |          AS DOUBLE)
            |        * CAST(CAST(nt.n AS HUGEINT) * (nt.n - 1) - ty.ty2
            |          AS DOUBLE)) END AS tau_b
            |FROM nt CROSS JOIN sp CROSS JOIN tx CROSS JOIN ty""".stripMargin),
      // x247: AP = Σ_k pos_k·tp_k/(tp_k+fp_k) / n_pos over the
      // descending score cuts — each term one double chain in the
      // SAME fixed operand order as the engine, quantized to
      // DECIMAL(28,12) (the x188 determinism idiom) so the sum is
      // exact and order-independent
      "x247_avg_precision" -> (units +
        """grid AS (
          |  SELECT s,
          |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
          |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
          |  FROM u GROUP BY 1),
          |c AS (
          |  SELECT pos, neg,
          |    CAST(sum(pos) OVER (ORDER BY s DESC
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
          |    CAST(sum(neg) OVER (ORDER BY s DESC
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
          |  FROM grid),
          |t AS (
          |  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
          |    CAST(sum(neg) AS BIGINT) AS n_neg,
          |    sum(CASE WHEN pos > 0 THEN
          |      CAST(CAST(pos AS DOUBLE) * CAST(tp AS DOUBLE)
          |        / CAST(tp + fp AS DOUBLE) AS DECIMAL(28,12))
          |      ELSE CAST(0 AS DECIMAL(28,12)) END) AS ts
          |  FROM c)
          |SELECT n_pos, n_neg,
          |  CASE WHEN n_pos > 0 THEN
          |    CAST(ts AS DOUBLE) / CAST(n_pos AS DOUBLE) END AS ap
          |FROM t""".stripMargin),
      // x249: net utility per cut off the same suffix sums as x239 —
      // exact BIGINT arithmetic end to end
      "x249_decision_curve" -> (units +
        """grid AS (
          |  SELECT s AS threshold,
          |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
          |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
          |  FROM u GROUP BY 1),
          |tot AS (
          |  SELECT CAST(sum(pos) AS BIGINT) AS np,
          |    CAST(sum(neg) AS BIGINT) AS nn FROM grid),
          |c AS (
          |  SELECT threshold,
          |    CAST(sum(pos) OVER (ORDER BY threshold DESC
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
          |    CAST(sum(neg) OVER (ORDER BY threshold DESC
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
          |  FROM grid)
          |SELECT c.threshold, c.tp, c.fp,
          |  CAST(t.np - c.tp AS BIGINT) AS fn,
          |  CAST(t.nn - c.fp AS BIGINT) AS tn,
          |  CAST(5 * c.tp - 1 * c.fp - 2 * (t.np - c.tp) AS BIGINT)
          |    AS utility
          |FROM c CROSS JOIN tot t ORDER BY threshold""".stripMargin),
      // x248/x250: the per-source probability-quality audits — the
      // x241/x245 arithmetic keyed by source
      "x248_group_calibration" -> (
        s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
          """u AS (
            |  SELECT d.source,
            |    least(1000000, d.n_chars * 2000) AS p,
            |    g.gopher_pass AS y
            |  FROM g JOIN documents d ON g.doc_id = d.doc_id),
            |b AS (
            |  SELECT source, least(CAST(9 AS BIGINT),
            |    CAST((p * 10) // 1000000 AS BIGINT)) AS bin, p, y
            |  FROM u),
            |a AS (
            |  SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
            |    CAST(sum(p) AS BIGINT) AS sp,
            |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS ny
            |  FROM b GROUP BY 1, 2)
            |SELECT source, bin,
            |  CAST((bin * 1000000) // 10 AS BIGINT) AS p_lo_ppm, n,
            |  CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0e0
            |    AS mean_p,
            |  CAST(ny AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
            |  CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)
            |    - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0e0
            |    AS gap
            |FROM a ORDER BY source, bin""".stripMargin),
      "x250_group_brier" -> (
        s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
          """u AS (
            |  SELECT d.source,
            |    least(1000000, d.n_chars * 2000) AS p,
            |    CASE WHEN g.gopher_pass THEN 1000000 ELSE 0 END AS yz
            |  FROM g JOIN documents d ON g.doc_id = d.doc_id),
            |a AS (
            |  SELECT source, CAST(count(*) AS BIGINT) AS n,
            |    CAST(sum(CASE WHEN yz = 1000000 THEN 1 ELSE 0 END)
            |      AS BIGINT) AS ny,
            |    CAST(sum(CAST(p - yz AS HUGEINT) * (p - yz)) AS HUGEINT)
            |      AS se
            |  FROM u GROUP BY 1)
            |SELECT source, n,
            |  CAST(se AS DOUBLE) / (CAST(n AS DOUBLE) * 1.0e12) AS brier,
            |  CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)
            |    * (1.0e0 - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
            |    AS brier_ref,
            |  CASE WHEN ny > 0 AND ny < n THEN
            |    1.0e0 - (CAST(se AS DOUBLE) / (CAST(n AS DOUBLE) * 1.0e12))
            |      / (CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)
            |        * (1.0e0 - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)))
            |    END AS skill
            |FROM a ORDER BY source""".stripMargin),
      // x251: per-source AP — the x247 arithmetic with suffix windows
      // partitioned by source
      "x251_group_ap" -> (
        s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
          """u AS (
            |  SELECT d.source, g.gopher_pass AS y, d.n_chars AS s
            |  FROM g JOIN documents d ON g.doc_id = d.doc_id),
            |grid AS (
            |  SELECT source, s,
            |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
            |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
            |  FROM u GROUP BY 1, 2),
            |c AS (
            |  SELECT source, pos, neg,
            |    CAST(sum(pos) OVER (PARTITION BY source ORDER BY s DESC
            |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
            |    CAST(sum(neg) OVER (PARTITION BY source ORDER BY s DESC
            |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
            |  FROM grid),
            |t AS (
            |  SELECT source, CAST(sum(pos) AS BIGINT) AS n_pos,
            |    CAST(sum(neg) AS BIGINT) AS n_neg,
            |    sum(CASE WHEN pos > 0 THEN
            |      CAST(CAST(pos AS DOUBLE) * CAST(tp AS DOUBLE)
            |        / CAST(tp + fp AS DOUBLE) AS DECIMAL(28,12))
            |      ELSE CAST(0 AS DECIMAL(28,12)) END) AS ts
            |  FROM c GROUP BY source)
            |SELECT source, n_pos, n_neg,
            |  CASE WHEN n_pos > 0 THEN
            |    CAST(ts AS DOUBLE) / CAST(n_pos AS DOUBLE) END AS ap
            |FROM t ORDER BY source""".stripMargin),
      // x252: MCC per cut — exact HUGEINT numerator, the fixed
      // ((tp+fp)(tp+fn))·((tn+fp)(tn+fn)) double order under one sqrt
      "x252_mcc_sweep" -> (units +
        """grid AS (
          |  SELECT s AS threshold,
          |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
          |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
          |  FROM u GROUP BY 1),
          |tot AS (
          |  SELECT CAST(sum(pos) AS BIGINT) AS np,
          |    CAST(sum(neg) AS BIGINT) AS nn FROM grid),
          |c AS (
          |  SELECT threshold,
          |    CAST(sum(pos) OVER (ORDER BY threshold DESC
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
          |    CAST(sum(neg) OVER (ORDER BY threshold DESC
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
          |  FROM grid),
          |m AS (
          |  SELECT c.threshold, c.tp, c.fp,
          |    CAST(t.np - c.tp AS BIGINT) AS fn,
          |    CAST(t.nn - c.fp AS BIGINT) AS tn
          |  FROM c CROSS JOIN tot t)
          |SELECT threshold, tp, fp, fn, tn,
          |  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0
          |      AND tn + fn > 0 THEN
          |    CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn
          |        AS DOUBLE)
          |      / sqrt((CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE))
          |        * (CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)))
          |    END AS mcc
          |FROM m ORDER BY threshold""".stripMargin),
      // x253: Fleiss over the three stacked gate verdicts — the
      // common-denominator exact form, one division
      "x253_fleiss_kappa" -> (
        s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
          """r AS (
            |  SELECT doc_id, gopher_pass AS v FROM g
            |  UNION ALL SELECT doc_id, stop_hits >= 2 FROM g
            |  UNION ALL SELECT doc_id, n_words >= 40 FROM g),
            |grid AS (
            |  SELECT doc_id, v, CAST(count(*) AS BIGINT) AS c
            |  FROM r GROUP BY 1, 2),
            |s AS (
            |  SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2,
            |    CAST(sum(c) AS BIGINT) AS t,
            |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_units
            |  FROM grid),
            |e AS (
            |  SELECT CAST(sum(CAST(cj AS HUGEINT) * cj) AS HUGEINT) AS e2
            |  FROM (SELECT v, CAST(sum(c) AS BIGINT) AS cj
            |        FROM grid GROUP BY 1))
            |SELECT s.n_units, CAST(3 AS BIGINT) AS n_raters,
            |  CAST(s.s2 - s.t AS DOUBLE)
            |    / (CAST(s.t AS DOUBLE) * 2.0e0) AS p_bar,
            |  CAST(e.e2 AS DOUBLE)
            |    / CAST(CAST(s.t AS HUGEINT) * s.t AS DOUBLE) AS p_e,
            |  CASE WHEN CAST(s.t AS HUGEINT) * s.t != e.e2 THEN
            |    CAST((s.s2 - s.t) * s.t - e.e2 * 2 AS DOUBLE)
            |      / CAST((CAST(s.t AS HUGEINT) * s.t - e.e2) * 2
            |        AS DOUBLE) END AS kappa
            |FROM s CROSS JOIN e""".stripMargin),
      // x254: quadratic-weighted kappa over the two ordinal buckets —
      // integer weights, exact sums, one division
      "x254_weighted_kappa" -> (
        s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
          """u AS (
            |  SELECT least(CAST(9 AS BIGINT), stop_hits) AS a,
            |    least(CAST(9 AS BIGINT), n_words // 50) AS b
            |  FROM g),
            |grid AS (
            |  SELECT a, b, CAST(count(*) AS BIGINT) AS c
            |  FROM u GROUP BY 1, 2),
            |o AS (
            |  SELECT CAST(sum(c) AS BIGINT) AS n,
            |    CAST(coalesce(sum(CAST((a - b) * (a - b) AS HUGEINT) * c),
            |      0) AS HUGEINT) AS wo
            |  FROM grid),
            |rm AS (SELECT a, CAST(sum(c) AS BIGINT) AS ra
            |       FROM grid GROUP BY 1),
            |cm AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb
            |       FROM grid GROUP BY 1),
            |e AS (
            |  SELECT CAST(coalesce(sum(
            |      CAST((rm.a - cm.b) * (rm.a - cm.b) AS HUGEINT)
            |        * rm.ra * cm.cb), 0) AS HUGEINT) AS we
            |  FROM rm CROSS JOIN cm)
            |SELECT o.n,
            |  CASE WHEN e.we > 0 THEN
            |    1.0e0 - CAST(CAST(o.n AS HUGEINT) * o.wo AS DOUBLE)
            |      / CAST(e.we AS DOUBLE) END AS kappa_w
            |FROM o CROSS JOIN e""".stripMargin),
      // x255: gains/lift off the same suffix sums — exact floor
      // depth, HUGEINT lift ratio to one division
      "x255_gains_curve" -> (units +
        """grid AS (
          |  SELECT s AS threshold,
          |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
          |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
          |  FROM u GROUP BY 1),
          |tot AS (
          |  SELECT CAST(sum(pos) AS BIGINT) AS np,
          |    CAST(sum(neg) AS BIGINT) AS nn FROM grid),
          |c AS (
          |  SELECT threshold,
          |    CAST(sum(pos) OVER (ORDER BY threshold DESC
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
          |    CAST(sum(neg) OVER (ORDER BY threshold DESC
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
          |  FROM grid)
          |SELECT c.threshold,
          |  CAST((CAST(c.tp + c.fp AS HUGEINT) * 1000000)
          |    // (t.np + t.nn) AS BIGINT) AS depth_ppm,
          |  c.tp, c.fp,
          |  CASE WHEN t.np > 0 THEN
          |    CAST(c.tp AS DOUBLE) / CAST(t.np AS DOUBLE) END AS gain,
          |  CASE WHEN t.np > 0 AND c.tp + c.fp > 0 THEN
          |    CAST(CAST(c.tp AS HUGEINT) * (t.np + t.nn) AS DOUBLE)
          |      / CAST(CAST(c.tp + c.fp AS HUGEINT) * t.np AS DOUBLE)
          |    END AS lift
          |FROM c CROSS JOIN tot t ORDER BY threshold""".stripMargin),
      // x256: Krippendorff nominal alpha with an abstaining rater —
      // per-unit terms DECIMAL(28,12)-quantized, the exact
      // coincidence denominator over PAIRABLE units only
      "x256_krippendorff" -> (
        s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
          """r AS (
            |  SELECT doc_id, gopher_pass AS v FROM g
            |  UNION ALL SELECT doc_id, stop_hits >= 2 FROM g
            |  UNION ALL SELECT doc_id, n_words >= 40 FROM g
            |    WHERE doc_id % 2 = 0),
            |grid AS (
            |  SELECT doc_id, v, CAST(count(*) AS BIGINT) AS c
            |  FROM r GROUP BY 1, 2),
            |pu AS (
            |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
            |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
            |  FROM grid GROUP BY 1 HAVING sum(c) >= 2),
            |o AS (
            |  SELECT CAST(count(*) AS BIGINT) AS n_units,
            |    CAST(sum(n) AS BIGINT) AS n_values,
            |    coalesce(sum(CAST(
            |      CAST(CAST(n AS HUGEINT) * n - s2 AS DOUBLE)
            |        / CAST(n - 1 AS DOUBLE) AS DECIMAL(28,12))),
            |      CAST(0 AS DECIMAL(28,12))) AS dobs
            |  FROM pu),
            |m AS (
            |  SELECT CAST(coalesce(sum(CAST(nc AS HUGEINT) * nc), 0)
            |    AS HUGEINT) AS e2
            |  FROM (SELECT grid.v, CAST(sum(grid.c) AS BIGINT) AS nc
            |        FROM grid JOIN pu ON grid.doc_id = pu.doc_id
            |        GROUP BY 1))
            |SELECT o.n_units, o.n_values,
            |  CASE WHEN o.n_values >= 2
            |      AND CAST(o.n_values AS HUGEINT) * o.n_values != m.e2
            |    THEN 1.0e0 - CAST(o.dobs AS DOUBLE)
            |      * CAST(o.n_values - 1 AS DOUBLE)
            |      / CAST(CAST(o.n_values AS HUGEINT) * o.n_values - m.e2
            |        AS DOUBLE) END AS alpha
            |FROM o CROSS JOIN m""".stripMargin),
      // x257: derandomized Poisson-bootstrap AUC — the x198 hash +
      // ppm CDF replayed, per-replicate U identity, exact ceil-rank
      // bounds
      "x257_auc_bootstrap" -> (
        s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
          """u AS (
            |  SELECT g.doc_id AS uid, d.n_chars AS v,
            |    g.gopher_pass AS y
            |  FROM g JOIN documents d ON g.doc_id = d.doc_id),
            |pgrid AS (
            |  SELECT v,
            |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
            |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
            |  FROM u GROUP BY 1),
            |pcb AS (
            |  SELECT pos, neg,
            |    CAST(coalesce(sum(neg) OVER (ORDER BY v
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |      AS BIGINT) AS nb
            |  FROM pgrid),
            |pt AS (
            |  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
            |    CAST(sum(neg) AS BIGINT) AS n_neg,
            |    CASE WHEN sum(pos) > 0 AND sum(neg) > 0 THEN
            |      CAST(sum(pos * (2 * nb + neg)) AS DOUBLE)
            |        / (2.0e0 * CAST(sum(pos) AS DOUBLE)
            |          * CAST(sum(neg) AS DOUBLE)) END AS auc
            |  FROM pcb),
            |nu AS (SELECT CAST(count(*) AS BIGINT) AS n_units FROM u),
            |reps AS (
            |  SELECT t.b, u.v, u.y,
            |    ((uid % 1000000007) * 654435747 % 1000000007
            |      + t.b * 7919) % 1000000007 % 1000000 AS ppm
            |  FROM u CROSS JOIN range(0, 200) t(b)),
            |wts AS (
            |  SELECT b, v, y,
            |    CASE WHEN ppm < 367879 THEN 0 WHEN ppm < 735758 THEN 1
            |      WHEN ppm < 919698 THEN 2 WHEN ppm < 981011 THEN 3
            |      WHEN ppm < 996340 THEN 4 WHEN ppm < 999405 THEN 5
            |      WHEN ppm < 999916 THEN 6 WHEN ppm < 999989 THEN 7
            |      WHEN ppm < 999998 THEN 8 ELSE 9 END AS w
            |  FROM reps),
            |bgrid AS (
            |  SELECT b, v,
            |    CAST(sum(CASE WHEN y THEN w ELSE 0 END) AS BIGINT) AS pos,
            |    CAST(sum(CASE WHEN y THEN 0 ELSE w END) AS BIGINT) AS neg
            |  FROM wts GROUP BY 1, 2 HAVING sum(w) > 0),
            |bcb AS (
            |  SELECT b, pos, neg,
            |    CAST(coalesce(sum(neg) OVER (PARTITION BY b ORDER BY v
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |      AS BIGINT) AS nb
            |  FROM bgrid),
            |a AS (
            |  SELECT b,
            |    CAST(sum(CAST(pos AS HUGEINT) * (2 * nb + neg))
            |        AS DOUBLE)
            |      / (2.0e0 * CAST(sum(pos) AS DOUBLE)
            |        * CAST(sum(neg) AS DOUBLE)) AS auc
            |  FROM bcb GROUP BY b
            |  HAVING sum(pos) > 0 AND sum(neg) > 0),
            |rk AS (SELECT b, auc, row_number() OVER (ORDER BY auc, b)
            |         AS r FROM a),
            |nb2 AS (SELECT CAST(count(*) AS BIGINT) AS n_replicates
            |        FROM rk),
            |lo AS (SELECT auc AS lo95 FROM rk CROSS JOIN nb2
            |       WHERE r = greatest(1, (n_replicates * 25 + 999)
            |         // 1000)),
            |hi AS (SELECT auc AS hi95 FROM rk CROSS JOIN nb2
            |       WHERE r = (n_replicates * 975 + 999) // 1000)
            |SELECT nu.n_units, pt.n_pos, pt.n_neg, pt.auc, lo.lo95,
            |  hi.hi95, nb2.n_replicates
            |FROM nu CROSS JOIN pt CROSS JOIN lo CROSS JOIN hi
            |  CROSS JOIN nb2""".stripMargin),
      // x258: DeLong replay — doubled-placement integer moments, the
      // engine's exact covP/meanP double chains reproduced term by
      // term in the same operand order
      "x258_delong_auc" -> (
        s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
          """u AS (
            |  SELECT g.gopher_pass AS y, g.stop_hits AS vb,
            |    d.n_chars AS va
            |  FROM g JOIN documents d ON g.doc_id = d.doc_id),
            |ga AS (
            |  SELECT va AS v,
            |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
            |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
            |  FROM u GROUP BY 1),
            |pa AS (
            |  SELECT v,
            |    CAST(2 * coalesce(sum(neg) OVER (ORDER BY v
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |      + neg AS BIGINT) AS a10,
            |    CAST(2 * coalesce(sum(pos) OVER (ORDER BY v DESC
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |      + pos AS BIGINT) AS a01
            |  FROM ga),
            |gb AS (
            |  SELECT vb AS v,
            |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
            |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
            |  FROM u GROUP BY 1),
            |pb AS (
            |  SELECT v,
            |    CAST(2 * coalesce(sum(neg) OVER (ORDER BY v
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |      + neg AS BIGINT) AS b10,
            |    CAST(2 * coalesce(sum(pos) OVER (ORDER BY v DESC
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |      + pos AS BIGINT) AS b01
            |  FROM gb),
            |pl AS (
            |  SELECT u.y, pa.a10, pa.a01, pb.b10, pb.b01
            |  FROM u JOIN pa ON u.va = pa.v JOIN pb ON u.vb = pb.v),
            |mm AS (
            |  SELECT
            |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS m,
            |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n,
            |    CAST(sum(CASE WHEN y THEN a10 ELSE 0 END) AS HUGEINT)
            |      AS sa10,
            |    CAST(sum(CASE WHEN y THEN b10 ELSE 0 END) AS HUGEINT)
            |      AS sb10,
            |    CAST(sum(CASE WHEN y THEN CAST(a10 AS HUGEINT) * a10
            |      ELSE 0 END) AS HUGEINT) AS saa10,
            |    CAST(sum(CASE WHEN y THEN CAST(b10 AS HUGEINT) * b10
            |      ELSE 0 END) AS HUGEINT) AS sbb10,
            |    CAST(sum(CASE WHEN y THEN CAST(a10 AS HUGEINT) * b10
            |      ELSE 0 END) AS HUGEINT) AS sab10,
            |    CAST(sum(CASE WHEN y THEN 0 ELSE a01 END) AS HUGEINT)
            |      AS sa01,
            |    CAST(sum(CASE WHEN y THEN 0 ELSE b01 END) AS HUGEINT)
            |      AS sb01,
            |    CAST(sum(CASE WHEN y THEN 0
            |      ELSE CAST(a01 AS HUGEINT) * a01 END) AS HUGEINT)
            |      AS saa01,
            |    CAST(sum(CASE WHEN y THEN 0
            |      ELSE CAST(b01 AS HUGEINT) * b01 END) AS HUGEINT)
            |      AS sbb01,
            |    CAST(sum(CASE WHEN y THEN 0
            |      ELSE CAST(a01 AS HUGEINT) * b01 END) AS HUGEINT)
            |      AS sab01
            |  FROM pl),
            |dd AS (
            |  SELECT m, n,
            |    CAST(sa10 AS DOUBLE)
            |      / (2.0e0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE))
            |      AS auc_a,
            |    CAST(sb10 AS DOUBLE)
            |      / (2.0e0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE))
            |      AS auc_b,
            |    (CAST(saa10 AS DOUBLE) - CAST(sa10 AS DOUBLE)
            |        * CAST(sa10 AS DOUBLE) / CAST(m AS DOUBLE))
            |      / ((CAST(m AS DOUBLE) - 1.0e0)
            |        * (2.0e0 * CAST(n AS DOUBLE))
            |        * (2.0e0 * CAST(n AS DOUBLE))) AS s10aa,
            |    (CAST(sbb10 AS DOUBLE) - CAST(sb10 AS DOUBLE)
            |        * CAST(sb10 AS DOUBLE) / CAST(m AS DOUBLE))
            |      / ((CAST(m AS DOUBLE) - 1.0e0)
            |        * (2.0e0 * CAST(n AS DOUBLE))
            |        * (2.0e0 * CAST(n AS DOUBLE))) AS s10bb,
            |    (CAST(sab10 AS DOUBLE) - CAST(sa10 AS DOUBLE)
            |        * CAST(sb10 AS DOUBLE) / CAST(m AS DOUBLE))
            |      / ((CAST(m AS DOUBLE) - 1.0e0)
            |        * (2.0e0 * CAST(n AS DOUBLE))
            |        * (2.0e0 * CAST(n AS DOUBLE))) AS s10ab,
            |    (CAST(saa01 AS DOUBLE) - CAST(sa01 AS DOUBLE)
            |        * CAST(sa01 AS DOUBLE) / CAST(n AS DOUBLE))
            |      / ((CAST(n AS DOUBLE) - 1.0e0)
            |        * (2.0e0 * CAST(m AS DOUBLE))
            |        * (2.0e0 * CAST(m AS DOUBLE))) AS s01aa,
            |    (CAST(sbb01 AS DOUBLE) - CAST(sb01 AS DOUBLE)
            |        * CAST(sb01 AS DOUBLE) / CAST(n AS DOUBLE))
            |      / ((CAST(n AS DOUBLE) - 1.0e0)
            |        * (2.0e0 * CAST(m AS DOUBLE))
            |        * (2.0e0 * CAST(m AS DOUBLE))) AS s01bb,
            |    (CAST(sab01 AS DOUBLE) - CAST(sa01 AS DOUBLE)
            |        * CAST(sb01 AS DOUBLE) / CAST(n AS DOUBLE))
            |      / ((CAST(n AS DOUBLE) - 1.0e0)
            |        * (2.0e0 * CAST(m AS DOUBLE))
            |        * (2.0e0 * CAST(m AS DOUBLE))) AS s01ab
            |  FROM mm)
            |SELECT m AS n_pos, n AS n_neg,
            |  CASE WHEN m > 0 AND n > 0 THEN auc_a END AS auc_a,
            |  CASE WHEN m > 0 AND n > 0 THEN auc_b END AS auc_b,
            |  CASE WHEN m >= 2 AND n >= 2 AND
            |      (s10aa + s10bb - 2.0e0 * s10ab) / CAST(m AS DOUBLE)
            |        + (s01aa + s01bb - 2.0e0 * s01ab)
            |          / CAST(n AS DOUBLE) > 0.0e0 THEN
            |    (auc_a - auc_b) / sqrt(
            |      (s10aa + s10bb - 2.0e0 * s10ab) / CAST(m AS DOUBLE)
            |        + (s01aa + s01bb - 2.0e0 * s01ab)
            |          / CAST(n AS DOUBLE)) END AS z
            |FROM dd""".stripMargin),
      // x259: the x257 bootstrap replay with the x247 AP tail per
      // replicate
      "x259_ap_bootstrap" -> (
        s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
          """u AS (
            |  SELECT g.doc_id AS uid, d.n_chars AS v,
            |    g.gopher_pass AS y
            |  FROM g JOIN documents d ON g.doc_id = d.doc_id),
            |pgrid AS (
            |  SELECT v,
            |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
            |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
            |  FROM u GROUP BY 1),
            |pc AS (
            |  SELECT pos, neg,
            |    CAST(sum(pos) OVER (ORDER BY v DESC
            |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
            |    CAST(sum(neg) OVER (ORDER BY v DESC
            |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
            |  FROM pgrid),
            |pt AS (
            |  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
            |    CAST(sum(neg) AS BIGINT) AS n_neg,
            |    CASE WHEN sum(pos) > 0 THEN
            |      CAST(sum(CASE WHEN pos > 0 THEN
            |        CAST(CAST(pos AS DOUBLE) * CAST(tp AS DOUBLE)
            |          / CAST(tp + fp AS DOUBLE) AS DECIMAL(28,12))
            |        ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE)
            |        / CAST(sum(pos) AS DOUBLE) END AS ap
            |  FROM pc),
            |nu AS (SELECT CAST(count(*) AS BIGINT) AS n_units FROM u),
            |reps AS (
            |  SELECT t.b, u.v, u.y,
            |    ((uid % 1000000007) * 654435747 % 1000000007
            |      + t.b * 7919) % 1000000007 % 1000000 AS ppm
            |  FROM u CROSS JOIN range(0, 200) t(b)),
            |wts AS (
            |  SELECT b, v, y,
            |    CASE WHEN ppm < 367879 THEN 0 WHEN ppm < 735758 THEN 1
            |      WHEN ppm < 919698 THEN 2 WHEN ppm < 981011 THEN 3
            |      WHEN ppm < 996340 THEN 4 WHEN ppm < 999405 THEN 5
            |      WHEN ppm < 999916 THEN 6 WHEN ppm < 999989 THEN 7
            |      WHEN ppm < 999998 THEN 8 ELSE 9 END AS w
            |  FROM reps),
            |bgrid AS (
            |  SELECT b, v,
            |    CAST(sum(CASE WHEN y THEN w ELSE 0 END) AS BIGINT) AS pos,
            |    CAST(sum(CASE WHEN y THEN 0 ELSE w END) AS BIGINT) AS neg
            |  FROM wts GROUP BY 1, 2 HAVING sum(w) > 0),
            |bc AS (
            |  SELECT b, pos, neg,
            |    CAST(sum(pos) OVER (PARTITION BY b ORDER BY v DESC
            |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
            |    CAST(sum(neg) OVER (PARTITION BY b ORDER BY v DESC
            |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
            |  FROM bgrid),
            |a AS (
            |  SELECT b,
            |    CAST(sum(CASE WHEN pos > 0 THEN
            |      CAST(CAST(pos AS DOUBLE) * CAST(tp AS DOUBLE)
            |        / CAST(tp + fp AS DOUBLE) AS DECIMAL(28,12))
            |      ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE)
            |      / CAST(sum(pos) AS DOUBLE) AS ap
            |  FROM bc GROUP BY b HAVING sum(pos) > 0),
            |rk AS (SELECT b, ap, row_number() OVER (ORDER BY ap, b)
            |         AS r FROM a),
            |nb2 AS (SELECT CAST(count(*) AS BIGINT) AS n_replicates
            |        FROM rk),
            |lo AS (SELECT ap AS lo95 FROM rk CROSS JOIN nb2
            |       WHERE r = greatest(1, (n_replicates * 25 + 999)
            |         // 1000)),
            |hi AS (SELECT ap AS hi95 FROM rk CROSS JOIN nb2
            |       WHERE r = (n_replicates * 975 + 999) // 1000)
            |SELECT nu.n_units, pt.n_pos, pt.n_neg, pt.ap, lo.lo95,
            |  hi.hi95, nb2.n_replicates
            |FROM nu CROSS JOIN pt CROSS JOIN lo CROSS JOIN hi
            |  CROSS JOIN nb2""".stripMargin),
      // x260: per-source argmax cut — the x249 utility on the
      // source-partitioned sweep, rank-1 with the low-threshold
      // tie-break
      "x260_group_cut" -> (
        s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
          """u AS (
            |  SELECT d.source, g.gopher_pass AS y, d.n_chars AS s
            |  FROM g JOIN documents d ON g.doc_id = d.doc_id),
            |grid AS (
            |  SELECT source, s AS threshold,
            |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
            |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
            |  FROM u GROUP BY 1, 2),
            |tot AS (
            |  SELECT source, CAST(sum(pos) AS BIGINT) AS np,
            |    CAST(sum(neg) AS BIGINT) AS nn
            |  FROM grid GROUP BY 1),
            |c AS (
            |  SELECT source, threshold,
            |    CAST(sum(pos) OVER (PARTITION BY source
            |      ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING)
            |      AS BIGINT) AS tp,
            |    CAST(sum(neg) OVER (PARTITION BY source
            |      ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING)
            |      AS BIGINT) AS fp
            |  FROM grid),
            |sw AS (
            |  SELECT c.source, c.threshold, c.tp, c.fp,
            |    CAST(t.np - c.tp AS BIGINT) AS fn,
            |    CAST(t.nn - c.fp AS BIGINT) AS tn,
            |    CAST(5 * c.tp - 1 * c.fp - 2 * (t.np - c.tp) AS BIGINT)
            |      AS utility
            |  FROM c JOIN tot t ON c.source = t.source)
            |SELECT source, threshold, tp, fp, fn, tn, utility
            |FROM sw
            |QUALIFY row_number() OVER (PARTITION BY source
            |  ORDER BY utility DESC, threshold ASC) = 1
            |ORDER BY source""".stripMargin),
      // x261: x248's bins folded to one ECE per source — per-bin
      // |gap|·n terms DECIMAL(28,12)-quantized (the determinism
      // idiom), one division per source
      "x261_group_ece" -> (
        s"WITH g AS (\n${base("x93_gopher_quality")}\n),\n" +
          """u AS (
            |  SELECT d.source,
            |    least(1000000, d.n_chars * 2000) AS p,
            |    g.gopher_pass AS y
            |  FROM g JOIN documents d ON g.doc_id = d.doc_id),
            |b AS (
            |  SELECT source, least(CAST(9 AS BIGINT),
            |    CAST((p * 10) // 1000000 AS BIGINT)) AS bin, p, y
            |  FROM u),
            |a AS (
            |  SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
            |    CAST(sum(p) AS BIGINT) AS sp,
            |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS ny
            |  FROM b GROUP BY 1, 2),
            |bins AS (
            |  SELECT source, n,
            |    CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)
            |      - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0e0
            |      AS gap
            |  FROM a)
            |SELECT source, CAST(sum(n) AS BIGINT) AS n,
            |  CAST(count(*) AS BIGINT) AS n_bins,
            |  CAST(sum(CAST(abs(gap) * CAST(n AS DOUBLE)
            |      AS DECIMAL(28,12))) AS DOUBLE)
            |    / CAST(sum(n) AS DOUBLE) AS ece
            |FROM bins GROUP BY source ORDER BY source""".stripMargin),
      "x242_cohen_kappa" -> (units +
        """grid AS (
          |  SELECT y AS a, s >= 200 AS b, CAST(count(*) AS BIGINT) AS c
          |  FROM u WHERE y IS NOT NULL GROUP BY 1, 2),
          |rm AS (SELECT a, CAST(sum(c) AS BIGINT) AS ra
          |       FROM grid GROUP BY 1),
          |cm AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb
          |       FROM grid GROUP BY 1),
          |pe AS (
          |  SELECT CAST(coalesce(sum(CAST(rm.ra AS HUGEINT) * cm.cb), 0)
          |    AS HUGEINT) AS pe2
          |  FROM rm JOIN cm ON rm.a = cm.b),
          |t AS (
          |  SELECT CAST(sum(c) AS BIGINT) AS n,
          |    CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
          |      AS agree
          |  FROM grid)
          |SELECT t.n, t.agree,
          |  CAST(t.agree AS DOUBLE) / CAST(t.n AS DOUBLE) AS po,
          |  CAST(pe.pe2 AS DOUBLE)
          |    / CAST(CAST(t.n AS HUGEINT) * t.n AS DOUBLE) AS pe,
          |  CASE WHEN CAST(t.n AS HUGEINT) * t.n != pe.pe2 THEN
          |    CAST(CAST(t.agree AS HUGEINT) * t.n - pe.pe2 AS DOUBLE)
          |      / CAST(CAST(t.n AS HUGEINT) * t.n - pe.pe2 AS DOUBLE)
          |    END AS kappa
          |FROM t CROSS JOIN pe""".stripMargin))
  }

  // x197/x198: the portable multiplicative hash shared verbatim —
  // fold = ((u mod P)·A mod P) mod k; bootstrap weights invert the
  // exact Poisson(1) ppm CDF at a counter-based hash
  private val splitBootstrapO: Map[String, String] = Map(
    "x197_fold_audit" ->
      """WITH f AS (
        |  SELECT ((user_id % 1000000007) * 654435747 % 1000000007) % 5
        |      AS fold,
        |    user_id, event_type
        |  FROM events),
        |a AS (
        |  SELECT fold, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_purchases
        |  FROM f GROUP BY 1)
        |SELECT fold, n_users, n_events, n_purchases,
        |  CAST(n_purchases AS DOUBLE) / CAST(n_events AS DOUBLE)
        |    AS purchase_rate
        |FROM a ORDER BY fold""".stripMargin,

    "x198_bootstrap_ci" ->
      """WITH per AS (
        |  SELECT user_id AS u, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS s
        |  FROM events GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(CAST(sum(s) AS VARCHAR) AS DOUBLE) AS st
        |  FROM per),
        |reps0 AS (
        |  SELECT t.b, per.n, per.s,
        |    ((per.u % 1000000007) * 654435747 % 1000000007
        |      + t.b * 7919) % 1000000007 % 1000000 AS ppm
        |  FROM per CROSS JOIN range(0, 200) t(b)),
        |w AS (
        |  SELECT b, n, s,
        |    CASE WHEN ppm < 367879 THEN 0 WHEN ppm < 735758 THEN 1
        |      WHEN ppm < 919698 THEN 2 WHEN ppm < 981011 THEN 3
        |      WHEN ppm < 996340 THEN 4 WHEN ppm < 999405 THEN 5
        |      WHEN ppm < 999916 THEN 6 WHEN ppm < 999989 THEN 7
        |      WHEN ppm < 999998 THEN 8 ELSE 9 END AS w
        |  FROM reps0),
        |rep AS (
        |  SELECT b, CAST(sum(w * n) AS BIGINT) AS nw,
        |    sum(CAST(w AS DECIMAL(4,0)) * s) AS sw
        |  FROM w GROUP BY b),
        |m AS (
        |  SELECT b, CAST(CAST(sw AS VARCHAR) AS DOUBLE)
        |    / CAST(nw AS DOUBLE) AS m
        |  FROM rep WHERE nw > 0),
        |r AS (SELECT b, m, row_number() OVER (ORDER BY m, b) AS rk
        |      FROM m),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_replicates FROM r),
        |lo AS (SELECT m AS lo95 FROM r CROSS JOIN nb
        |       WHERE rk = greatest(1, (n_replicates * 25 + 999) // 1000)),
        |hi AS (SELECT m AS hi95 FROM r CROSS JOIN nb
        |       WHERE rk = (n_replicates * 975 + 999) // 1000)
        |SELECT tot.n_units, tot.n_rows,
        |  tot.st / CAST(tot.n_rows AS DOUBLE) AS mean,
        |  lo.lo95, hi.hi95, nb.n_replicates
        |FROM tot CROSS JOIN nb CROSS JOIN lo CROSS JOIN hi"""
        .stripMargin)

  // x199: the x184 session chain fanned to three covariates, each
  // through the exact-moment SMD block (UNION ALL, ordered by name)
  private val balanceO: Map[String, String] = {
    val sessHead =
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM flagged),
        |u AS (
        |  SELECT user_id % 2 AS cohort,
        |    CAST(count(*) AS BIGINT) AS n_ev,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4))
        |      AS spend,
        |    max(epoch_us(ts)) - min(epoch_us(ts)) AS dur
        |  FROM sess GROUP BY user_id, sid)""".stripMargin
    def block(name: String, c: String) =
      s"""(SELECT '$name' AS covariate, a.cohort AS cohort_a,
         |  b.cohort AS cohort_b, a.n AS n_a, b.n AS n_b,
         |  a.s / a.nd AS mean_a, b.s / b.nd AS mean_b,
         |  CASE WHEN a.n >= 2 AND b.n >= 2
         |      AND ((a.ss - a.s * a.s / a.nd) / (a.nd - 1.0e0)
         |        + (b.ss - b.s * b.s / b.nd) / (b.nd - 1.0e0)) / 2.0e0
         |        > 0.0e0
         |    THEN (a.s / a.nd - b.s / b.nd)
         |      / sqrt(((a.ss - a.s * a.s / a.nd) / (a.nd - 1.0e0)
         |        + (b.ss - b.s * b.s / b.nd) / (b.nd - 1.0e0)) / 2.0e0)
         |    ELSE NULL END AS smd
         |FROM
         |  (SELECT cohort, CAST(count(*) AS BIGINT) AS n,
         |     CAST(count(*) AS DOUBLE) AS nd,
         |     CAST(CAST(sum(CAST($c AS DECIMAL(18,4))) AS VARCHAR)
         |       AS DOUBLE) AS s,
         |     CAST(CAST(sum(CAST($c AS DECIMAL(19,4))
         |       * CAST($c AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS ss
         |   FROM u GROUP BY cohort) a
         |JOIN
         |  (SELECT cohort, CAST(count(*) AS BIGINT) AS n,
         |     CAST(count(*) AS DOUBLE) AS nd,
         |     CAST(CAST(sum(CAST($c AS DECIMAL(18,4))) AS VARCHAR)
         |       AS DOUBLE) AS s,
         |     CAST(CAST(sum(CAST($c AS DECIMAL(19,4))
         |       * CAST($c AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS ss
         |   FROM u GROUP BY cohort) b
         |ON a.cohort < b.cohort)""".stripMargin
    Map("x199_covariate_balance" ->
      (sessHead + "\n" +
        Seq(block("duration_us", "dur"), block("n_events", "n_ev"),
          block("spend", "spend")).mkString("\nUNION ALL\n") +
        "\nORDER BY covariate"))
  }

  // x182: per-user conversion agg, id-parity cohorts, one fixed-order
  // pooled-z chain
  private val abConversionO: Map[String, String] = Map(
    "x182_ab_conversion" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_type,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM flagged),
        |u AS (
        |  SELECT user_id, sid,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM sess GROUP BY 1, 2),
        |c AS (
        |  SELECT user_id % 2 AS cohort, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(conv) AS BIGINT) AS k
        |  FROM u GROUP BY 1)
        |SELECT a.cohort AS cohort_a, b.cohort AS cohort_b,
        |  a.n AS n_a, b.n AS n_b, a.k AS k_a, b.k AS k_b,
        |  CAST(a.k AS DOUBLE) / a.n AS rate_a,
        |  CAST(b.k AS DOUBLE) / b.n AS rate_b,
        |  CASE WHEN sqrt(CAST(a.k + b.k AS DOUBLE) / (a.n + b.n)
        |      * (1.0e0 - CAST(a.k + b.k AS DOUBLE) / (a.n + b.n))
        |      * (1.0e0 / a.n + 1.0e0 / b.n)) > 0
        |    THEN (CAST(a.k AS DOUBLE) / a.n - CAST(b.k AS DOUBLE) / b.n)
        |      / sqrt(CAST(a.k + b.k AS DOUBLE) / (a.n + b.n)
        |        * (1.0e0 - CAST(a.k + b.k AS DOUBLE) / (a.n + b.n))
        |        * (1.0e0 / a.n + 1.0e0 / b.n))
        |    ELSE NULL END AS z
        |FROM c a JOIN c b ON a.cohort < b.cohort""".stripMargin)

  // x170: the x99 pair chain shared VERBATIM, folded to connected
  // components (the x103 reach recipe) and emitted as per-document
  // survivor labels — singletons label themselves
  private val simhashClustersO: Map[String, String] = Map(
    "x170_simhash_clusters" ->
      (s"WITH RECURSIVE $simhashPairChain,\n" +
        """|vpairs AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c
        |  JOIN sig sa ON c.id_a = sa.doc_id
        |  JOIN sig sb ON c.id_b = sb.doc_id
        |  WHERE bit_count(xor(sa.sig, sb.sig)) <= 3),
        |edges AS (SELECT id_a AS a, id_b AS b FROM vpairs
        |          UNION SELECT id_b, id_a FROM vpairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |lab AS (
        |  SELECT src AS id, least(src, min(dst)) AS cluster
        |  FROM reach GROUP BY src)
        |SELECT d.doc_id,
        |  COALESCE(lab.cluster, d.doc_id) AS cluster,
        |  (d.doc_id = COALESCE(lab.cluster, d.doc_id)) AS is_canonical
        |FROM documents d LEFT JOIN lab ON d.doc_id = lab.id
        |ORDER BY d.doc_id""".stripMargin))

  // x126: the postings-index BM25 path is bit-equal to the x76 scan
  // path by construction (same tf frame rebuilt, same stats agg, same
  // fixed-order score projection) — the shared oracle IS the claim
  // that only the execution shape changed (the x67/x63 pattern)
  val all: Map[String, String] =
    base ++ adaptiveLsh ++ truncRecall ++ manifestExport ++
      retrievalEvalO ++ ndcgEvalO ++ ndcgGridO ++ simhashClustersO ++
      dedupProvenanceO ++ sourceContributionO ++ rfmCentroidO ++
      chiSquareO ++ stationaryO ++ cooccurrenceO ++ qualityDupO ++
      mobilityO ++ piiAuditO ++ abConversionO ++ classicalStatsO ++
      analyticsFamilyO ++ pcaO ++ splitBootstrapO ++ balanceO ++ graphO ++
      moversO ++ prfO ++ diffSummaryO ++ calendarAnomalyO ++ spellingO ++
      linkageO ++ classifierEvalO ++
      seasonalO ++ tokenMiO ++ rboO ++ simpsonO ++ vocabBudgetO ++
      framePlanO ++ sifO ++ sifNeighborsO ++ levelShiftO ++ otsuO ++
      evalContamO ++ goodTuringO ++ dispersionO ++ clusterDensityO ++
      mannKendallO ++ curriculumO ++ mcnemarO ++ availabilityO ++
      reuseAlignO ++ weightedSampleO ++ lambdaSweepO ++ quantileNormO ++
      theilSenO ++ cohortLtvO ++ weightedStratO ++ activitySegO +
      ("x67_fine_data_assign" -> base("x63_two_level_refined")) +
      ("x126_bm25_index" -> base("x76_bm25")) +
      // x162: the persisted-quantizer serving path is bit-equal to
      // x21's inline-trained path — the shared oracle IS the claim
      ("x162_index_roundtrip" -> base("x21_ivf_ann")) +
      // x163: the persisted two-level model assigns bit-identically
      ("x163_two_level_roundtrip" -> base("x61_two_level_assign")) +
      // x179: pairs served from the persisted LSH index are
      // bit-identical to minhashLsh on the indexed corpus — the
      // dedup family's index-lifecycle claim, pinned the same way
      ("x179_lsh_index_roundtrip" -> base("x03_minhash_lsh")) +
      // x200: projecting against the PERSISTED integer component is
      // bit-identical to projecting against the freshly iterated one —
      // the lifecycle claim, pinned by sharing x196's oracle
      ("x200_component_roundtrip" -> pcaO("x196_anisotropy")) +
      // x208: the manifest loaded from parquet is bit-equal to the
      // in-line five-stage manifest — the pipeline's lifecycle claim,
      // pinned by sharing x96's oracle
      ("x208_manifest_roundtrip" -> base("x96_corpus_prep")) +
      // x236: SIF cells loaded from parquet are bit-equal to the
      // in-line x216 cells — the lifecycle claim for the engine's
      // costliest session memo, pinned by sharing x216's oracle
      ("x236_sif_persist" -> sifO("x216_sif_embed")) +
      // x237: re-embedding against PERSISTED frozen weights is
      // bit-equal to the in-line vectorization — the serving-path
      // claim (streaming sifNeighborSink's batch form), same oracle
      ("x237_sif_frozen" -> sifO("x216_sif_embed")) +
      // x243: the winnow pair graph loaded from parquet is bit-equal
      // to the in-line build — the lifecycle claim for the engine's
      // most-consumed memo, pinned by sharing x92's oracle
      ("x243_graph_persist" -> base("x92_winnow_pairs"))
}
