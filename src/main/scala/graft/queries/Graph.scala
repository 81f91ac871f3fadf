package graft.queries

import graft.sources.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics: PageRank, communities, triangles, k-core and
  * coreness, BFS and ANF.
  */
object Graph {

  val queries: Seq[Query] = Seq(
    // PageRank: 3 power iterations unrolled as CTEs on the integer
    // micro-grid — floor divisions replay exactly, no float anywhere
    Query("page_rank", pageRankQ)(
      s"""$linkGraphSql
        |nodes AS (SELECT doc_id AS node FROM documents),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |${pageRankContribSql(1)}
        |r1 AS (
        |  SELECT n.node, CAST(150000 + coalesce((c.c * 85) // 100, 0) AS BIGINT) AS r
        |  FROM nodes n LEFT JOIN c1 c ON n.node = c.node),
        |${pageRankContribSql(2)}
        |r2 AS (
        |  SELECT n.node, CAST(150000 + coalesce((c.c * 85) // 100, 0) AS BIGINT) AS r
        |  FROM nodes n LEFT JOIN c2 c ON n.node = c.node),
        |${pageRankContribSql(3)}
        |r3 AS (
        |  SELECT n.node, CAST(150000 + coalesce((c.c * 85) // 100, 0) AS BIGINT) AS r
        |  FROM nodes n LEFT JOIN c3 c ON n.node = c.node)
        |SELECT node AS doc_id, r AS rank_micro
        |FROM r3 ORDER BY rank_micro DESC, doc_id LIMIT 50""".stripMargin),
    // personalized PageRank: seed-conditional teleport + start vector,
    // same unrolled integer iterations
    Query("page_rank_personalized", pageRankPersonalizedQ)(
      s"""$linkGraphSql
        |nodes AS (SELECT doc_id AS node,
        |                 CASE WHEN doc_id % 100 = 0 THEN 1 ELSE 0 END AS s
        |          FROM documents),
        |r0 AS (SELECT node, CAST(s * 1000000 AS BIGINT) AS r FROM nodes),
        |${pageRankContribSql(1)}
        |r1 AS (
        |  SELECT n.node, CAST(n.s * 150000 + coalesce((c.c * 85) // 100, 0) AS BIGINT) AS r
        |  FROM nodes n LEFT JOIN c1 c ON n.node = c.node),
        |${pageRankContribSql(2)}
        |r2 AS (
        |  SELECT n.node, CAST(n.s * 150000 + coalesce((c.c * 85) // 100, 0) AS BIGINT) AS r
        |  FROM nodes n LEFT JOIN c2 c ON n.node = c.node),
        |${pageRankContribSql(3)}
        |r3 AS (
        |  SELECT n.node, CAST(n.s * 150000 + coalesce((c.c * 85) // 100, 0) AS BIGINT) AS r
        |  FROM nodes n LEFT JOIN c3 c ON n.node = c.node)
        |SELECT node AS doc_id, r AS rank_micro
        |FROM r3 ORDER BY rank_micro DESC, doc_id LIMIT 50""".stripMargin),
    // synchronous LPA: two unrolled majority rounds, ties to the
    // smallest label; bridges stay outvoted so decades survive
    Query("graph_communities", graphCommunities)(
      """WITH users AS (
        |  SELECT DISTINCT user_id AS u FROM events WHERE user_id < 150),
        |cl AS (SELECT a.u AS s, b.u AS t FROM users a
        |       JOIN users b ON a.u // 10 = b.u // 10 AND a.u < b.u),
        |br AS (SELECT u AS s, u + 1 AS t FROM users WHERE u % 10 = 9 AND u < 140),
        |und AS (SELECT s, t FROM cl UNION SELECT s, t FROM br),
        |edges AS (SELECT s AS src, t AS dst FROM und
        |          UNION SELECT t, s FROM und),
        |l0 AS (SELECT DISTINCT src AS id, src AS lab FROM edges),
        |v1 AS (SELECT e.src AS id, l.lab, count(*) AS n
        |       FROM edges e JOIN l0 l ON e.dst = l.id GROUP BY e.src, l.lab),
        |l1 AS (SELECT id, lab FROM (
        |         SELECT id, lab,
        |                row_number() OVER (PARTITION BY id ORDER BY n DESC, lab ASC) AS rk
        |         FROM v1) WHERE rk = 1),
        |v2 AS (SELECT e.src AS id, l.lab, count(*) AS n
        |       FROM edges e JOIN l1 l ON e.dst = l.id GROUP BY e.src, l.lab),
        |l2 AS (SELECT id, lab FROM (
        |         SELECT id, lab,
        |                row_number() OVER (PARTITION BY id ORDER BY n DESC, lab ASC) AS rk
        |         FROM v2) WHERE rk = 1)
        |SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members,
        |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
        |FROM l2 GROUP BY lab ORDER BY community""".stripMargin),
    // triangles: wedge join + closing-edge check on the canonical
    // a<b edge set, per-node participation, integral lcc grid
    Query("graph_triangles", graphTriangles)(
      """WITH users AS (
        |  SELECT DISTINCT user_id AS u FROM events WHERE user_id < 150),
        |cl AS (SELECT a.u AS s, b.u AS t FROM users a
        |       JOIN users b ON a.u // 10 = b.u // 10 AND a.u < b.u),
        |br AS (SELECT u AS s, u + 1 AS t FROM users WHERE u % 10 = 9 AND u < 140),
        |e AS (SELECT s, t FROM cl UNION SELECT s, t FROM br),
        |deg AS (SELECT id, count(*) AS degree FROM (
        |          SELECT s AS id FROM e UNION ALL SELECT t FROM e)
        |        GROUP BY id),
        |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |        FROM e e1 JOIN e e2 ON e1.s = e2.s AND e1.t < e2.t
        |                  JOIN e e3 ON e3.s = e1.t AND e3.t = e2.t),
        |pn AS (SELECT id, count(*) AS triangles FROM (
        |          SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
        |          UNION ALL SELECT c FROM tri)
        |        GROUP BY id)
        |SELECT d.id, CAST(d.degree AS BIGINT) AS degree,
        |  CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
        |  CAST(CASE WHEN d.degree >= 2
        |       THEN coalesce(pn.triangles, 0) * 2000000 // (d.degree * (d.degree - 1))
        |       ELSE 0 END AS BIGINT) AS lcc_micro
        |FROM deg d LEFT JOIN pn ON d.id = pn.id
        |ORDER BY d.id""".stripMargin),
    Query("graph_kcore", graphKcore)(
      """WITH users AS (
        |  SELECT DISTINCT user_id AS u FROM events WHERE user_id < 100),
        |cl AS (SELECT a.u AS s, b.u AS t FROM users a
        |       JOIN users b ON a.u // 10 = b.u // 10 AND a.u < b.u),
        |ch AS (
        |  SELECT u AS s, u + 1000 AS t FROM users WHERE u % 10 = 0
        |  UNION ALL SELECT u + 1000, u + 2000 FROM users WHERE u % 10 = 0
        |  UNION ALL SELECT u + 2000, u + 3000 FROM users WHERE u % 10 = 0),
        |e0 AS (SELECT s, t FROM cl UNION SELECT s, t FROM ch),
        |d1 AS (SELECT id, count(*) AS d FROM (
        |         SELECT s AS id FROM e0 UNION ALL SELECT t FROM e0) GROUP BY id),
        |e1 AS (SELECT s, t FROM e0
        |       WHERE s IN (SELECT id FROM d1 WHERE d >= 2)
        |         AND t IN (SELECT id FROM d1 WHERE d >= 2)),
        |d2 AS (SELECT id, count(*) AS d FROM (
        |         SELECT s AS id FROM e1 UNION ALL SELECT t FROM e1) GROUP BY id),
        |e2 AS (SELECT s, t FROM e1
        |       WHERE s IN (SELECT id FROM d2 WHERE d >= 2)
        |         AND t IN (SELECT id FROM d2 WHERE d >= 2)),
        |d3 AS (SELECT id, count(*) AS d FROM (
        |         SELECT s AS id FROM e2 UNION ALL SELECT t FROM e2) GROUP BY id),
        |e3 AS (SELECT s, t FROM e2
        |       WHERE s IN (SELECT id FROM d3 WHERE d >= 2)
        |         AND t IN (SELECT id FROM d3 WHERE d >= 2))
        |SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
        |  SELECT s AS id FROM e3 UNION ALL SELECT t FROM e3)
        |GROUP BY id ORDER BY id""".stripMargin),
    // BFS: the oracle replays the frontier expansion itself — a
    // recursive distinct-UNION worklist of (node, depth) pairs over
    // the same symmetric adjacency, then min depth per node
    Query("graph_bfs", graphBfs)(
      """WITH RECURSIVE users AS (
        |  SELECT DISTINCT user_id AS u FROM events WHERE user_id < 100),
        |cl AS (SELECT a.u AS s, b.u AS t FROM users a
        |       JOIN users b ON a.u // 10 = b.u // 10 AND a.u < b.u),
        |br AS (SELECT u AS s, u + 1 AS t FROM users WHERE u % 10 = 9 AND u < 90),
        |e AS (SELECT s, t FROM cl UNION SELECT s, t FROM br),
        |und AS (SELECT s, t FROM e UNION SELECT t, s FROM e),
        |walk(node, d) AS (
        |  SELECT u, 0 FROM users WHERE u IN (0, 55)
        |  UNION
        |  SELECT und.t, walk.d + 1 FROM walk JOIN und ON und.s = walk.node
        |  WHERE walk.d < 64)
        |SELECT node AS id, CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY node ORDER BY id""".stripMargin),
    // ANF: exact neighborhood function replayed by a recursive
    // all-pairs BFS CTE on the clamped fixture; the HyperBall estimate
    // is gated by the ±25% verdict (SF-invariant fixture class)
    Query("graph_anf", graphAnf)(
      """WITH RECURSIVE users AS (
        |  SELECT DISTINCT user_id AS u FROM events WHERE user_id < 40),
        |cl AS (SELECT a.u AS s, b.u AS t FROM users a
        |       JOIN users b ON a.u // 10 = b.u // 10 AND a.u < b.u),
        |br AS (SELECT u AS s, u + 1 AS t FROM users WHERE u % 10 = 9 AND u < 30),
        |e AS (SELECT s, t FROM cl UNION SELECT s, t FROM br),
        |und AS (SELECT s, t FROM e UNION SELECT t, s FROM e),
        |walk(src, node, d) AS (
        |  SELECT u, u, 0 FROM users
        |  UNION
        |  SELECT walk.src, und.t, walk.d + 1 FROM walk
        |  JOIN und ON und.s = walk.node WHERE walk.d < 64),
        |md AS (SELECT src, node, min(d) AS d FROM walk GROUP BY 1, 2),
        |-- every depth 0..diameter is realized by some pair (shortest
        |-- paths have prefixes of every length), so DISTINCT d IS the
        |-- full depth axis
        |ts AS (SELECT DISTINCT d AS t FROM md)
        |SELECT ts.t,
        |       CAST((SELECT count(*) FROM md WHERE md.d <= ts.t) AS BIGINT)
        |         AS exact_pairs,
        |       true AS anf_ok
        |FROM ts
        |ORDER BY ts.t""".stripMargin),
    // 2-core: three unrolled peeling rounds (the fixture converges in
    // exactly three), then surviving degrees
    // coreness: the fixture's components peel in closed form — a
    // clique of m present users (chains attached or not) has core
    // number m-1, pendant-chain nodes 1, singleton-group anchors 1
    Query("graph_coreness", graphCoreness)(
      """WITH users AS (
        |  SELECT DISTINCT user_id AS u FROM events WHERE user_id < 100),
        |gs AS (SELECT u // 10 AS g, count(*) AS sz FROM users GROUP BY 1),
        |cliq AS (SELECT u AS id, sz - 1 AS c FROM users
        |         JOIN gs ON u // 10 = g WHERE sz >= 2),
        |anch AS (SELECT u FROM users WHERE u % 10 = 0),
        |chain AS (
        |  SELECT u + 1000 AS id, 1 AS c FROM anch
        |  UNION ALL SELECT u + 2000, 1 FROM anch
        |  UNION ALL SELECT u + 3000, 1 FROM anch),
        |lone AS (SELECT u AS id, 1 AS c FROM anch
        |         JOIN gs ON u // 10 = g WHERE sz = 1)
        |SELECT id, CAST(c AS BIGINT) AS coreness FROM (
        |  SELECT * FROM cliq UNION ALL SELECT * FROM chain
        |  UNION ALL SELECT * FROM lone)
        |ORDER BY id""".stripMargin),
    // same fixture, same closed-form answer: the engine side runs the
    // DISTRIBUTED peel (driverMaxEdges=0), so the fallback's
    // correctness is driver-checked every round
    Query.sharing("graph_coreness_distributed", graphCorenessDistributed,
      oracleOf = "graph_coreness"),
  )

  /** The PageRank oracles' synthetic link graph: 3 out-edges per
    * document, `dst = (src*7 + j) mod N` without self-loops, and the
    * out-degrees.
    */
  private[queries] val linkGraphSql =
    """WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
      |edges AS (
      |  SELECT doc_id AS src, (doc_id * 7 + j.i) % nn.n AS dst
      |  FROM documents, nn, generate_series(1, 3) AS j(i)
      |  WHERE (doc_id * 7 + j.i) % nn.n <> doc_id),
      |outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),""".stripMargin

  /** The contributions `c$i` that power iteration `i` sends along the
    * edges from the ranks `r{i-1}`, floor-divided by out-degree.
    */
  private def pageRankContribSql(i: Int): String =
    s"""c$i AS (
       |  SELECT e.dst AS node, sum(r${i - 1}.r // o.d) AS c
       |  FROM edges e JOIN r${i - 1} ON e.src = r${i - 1}.node JOIN outdeg o ON e.src = o.src
       |  GROUP BY e.dst),""".stripMargin

  /** Integer-grid PageRank over a deterministic synthetic link graph
    * (3 out-edges per document, `dst = (src*7 + j) mod N`, self-loops
    * dropped), BIT-EXACT oracle-gated: ranks are BIGINT micro-units
    * and every update a floor division, so DuckDB unrolls the 3 power
    * iterations as CTEs and hash-matches every rank (the
    * `kmeans_train` convention for iterative numerics). The one
    * driver-side action is the node-universe size — a single long.
    */
  private def pageRankQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
    val n = docs.agg(max(col("doc_id"))).collect().head.getLong(0) + 1L
    val edges = docs
      .select(col("doc_id").as("src"), explode(sequence(lit(1L), lit(3L))).as("j"))
      .select(col("src"), ((col("src") * 7L + col("j")) % n).as("dst"))
      .filter(col("src") =!= col("dst"))
    graft.operators.PageRank.rank(edges, docs, "src", "dst", iters = 3)
      .select(col("node").as("doc_id"), col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("doc_id"))
      .limit(50)
  }

  /** Personalized PageRank over the same synthetic link graph as
    * [[pageRankQ]], restarting on the seed set `doc_id % 100 == 0`
    * ([[graft.operators.PageRank.personalizedRank]] — teleport mass
    * and the initial walk live only on the seeds, so ranks measure
    * link-proximity to the seeds, the known-good-domain propagation
    * op). BIT-EXACT oracle-gated: same unrolled-CTE replay with the
    * seed-conditional teleport and start vector.
    */
  private def pageRankPersonalizedQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
    val n = docs.agg(max(col("doc_id"))).collect().head.getLong(0) + 1L
    val edges = docs
      .select(col("doc_id").as("src"), explode(sequence(lit(1L), lit(3L))).as("j"))
      .select(col("src"), ((col("src") * 7L + col("j")) % n).as("dst"))
      .filter(col("src") =!= col("dst"))
    graft.operators.PageRank
      .personalizedRank(edges, docs, docs.filter(col("doc_id") % 100 === 0),
        "src", "dst", iters = 3)
      .select(col("node").as("doc_id"), col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("doc_id"))
      .limit(50)
  }

  /** The distinct event users below `limit` and the planted clique
    * edges among them: every pair of users in one decade
    * (`user_id div 10`), once, `id_a < id_b`.
    */
  private def decadeCliques(s: SparkSession, dir: String, limit: Int): (DataFrame, DataFrame) = {
    val users = Tables(s, dir, "events")
      .select(col("user_id")).distinct().filter(col("user_id") < limit)
    val a = users.select(col("user_id").as("id_a"), expr("user_id div 10").as("__d"))
    val b = users.select(col("user_id").as("id_b"), expr("user_id div 10").as("__d"))
    val clique = a.join(b, Seq("__d"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    (users, clique)
  }

  /** Label-propagation communities over a bridged-clique user graph
    * (decade cliques joined by single bridge edges): two synchronous
    * majority rounds keep the cliques apart where connected
    * components would fuse the whole graph through the bridges —
    * the community-vs-component distinction itself is what the gate
    * checks ([[graft.operators.Clustering.labelPropagation]]).
    * Oracle-gated BIT-EXACTLY: both rounds unroll as CTEs (neighbor
    * label counts, argmax with ties to the smallest label).
    */
  private def graphCommunities(s: SparkSession, dir: String): DataFrame = {
    val (users, clique) = decadeCliques(s, dir, 150)
    val bridges = users
      .filter(col("user_id") % 10 === 9 && col("user_id") < 140)
      .select(col("user_id").as("id_a"), (col("user_id") + 1).as("id_b"))
    graft.operators.Clustering
      .labelPropagation(clique.unionByName(bridges), "id_a", "id_b", rounds = 2)
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_members"),
        array_join(sort_array(collect_list(col("id"))), ",").as("members"))
      .select(col("community").cast("long").as("community"),
        col("n_members").cast("long").as("n_members"), col("members"))
      .orderBy(col("community"))
  }

  /** Per-node triangle counts and local clustering coefficients
    * ([[graft.operators.Graphs.clusteringCoefficient]]) over the
    * [[graphCommunities]] clique+bridge graph — the cohesion
    * diagnostic that tells a genuinely-duplicated cluster (members
    * pair with each other, lcc ~1) from a template hub (star of
    * pairs, lcc ~0). Clique interiors score 1e6; bridge endpoints dip
    * below (their two worlds don't interconnect). BIT-EXACT: the SQL
    * replays the wedge+closing-edge joins and the integral lcc grid.
    */
  private def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val (users, clique) = decadeCliques(s, dir, 150)
    val bridges = users
      .filter(col("user_id") % 10 === 9 && col("user_id") < 140)
      .select(col("user_id").as("id_a"), (col("user_id") + 1).as("id_b"))
    graft.operators.Graphs
      .clusteringCoefficient(clique.unionByName(bridges), "id_a", "id_b")
      .orderBy(col("id"))
  }

  /** 2-core extraction ([[graft.operators.Graphs.kCore]]) over a
    * clique+pendant-chain fixture built to peel in EXACTLY three
    * rounds: each decade clique keeps every member (degree >= 9), and
    * the 3-node chains hanging off the `% 10 == 0` members peel tail
    * → middle → stub on consecutive rounds. The operator runs its
    * convergence loop; the oracle unrolls the three peeling rounds —
    * agreement proves the fixpoint landed exactly where the
    * closed-form peel says (the LPA unrolled-rounds gate pattern).
    */
  private def graphKcore(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graphs
      .kCore(corenessFixtureEdges(s, dir), "id_a", "id_b", k = 2)
      .orderBy(col("id"))

  /** Approximate neighborhood function ([[graft.operators.Graphs
    * .hyperBall]]) vs its exact all-pairs twin ([[graft.operators
    * .Graphs.ballSizesExact]]) on a CLAMPED clique+bridge fixture
    * (users < 40 — byte-identical at every SF, the knn_graph_ann
    * verdict class; diameter 7, so both iterative passes stay ~8
    * rounds — an iterative gate's cost is rounds x fixed job
    * overhead): per depth t, the gate emits the exact
    * neighborhood function (oracle-replayed by a recursive all-pairs
    * BFS CTE) and asserts the m=64 HyperBall estimate lands within
    * ±25% (the HLL rsd at m=64 is 13% per node and per-node errors
    * partially cancel in the sum; the fixture's measured ratios span
    * 0.96–1.09 across its 8 depths). The inner join on t also gates
    * the fixpoint contract:
    * the register fixpoint must land exactly at the diameter the
    * exact twin measures, or row counts diverge from the oracle.
    */
  private def graphAnf(s: SparkSession, dir: String): DataFrame = {
    val (users, clique) = decadeCliques(s, dir, 40)
    val bridges = users
      .filter(col("user_id") % 10 === 9 && col("user_id") < 30)
      .select(col("user_id").as("id_a"), (col("user_id") + 1).as("id_b"))
    val edges = clique.unionByName(bridges)
    val est = graft.operators.Graphs.hyperBall(edges, "id_a", "id_b", m = 64)
    val exact = graft.operators.Graphs.ballSizesExact(edges, "id_a", "id_b")
    est.join(exact, Seq("t"))
      .select(col("t"), col("exact_pairs"),
        (col("est_pairs") / col("exact_pairs") > lit(0.75) &&
          col("est_pairs") / col("exact_pairs") < lit(1.25)).as("anf_ok"))
      .orderBy(col("t"))
  }

  /** Multi-source BFS hop distances ([[graft.operators.Graphs
    * .bfsDistances]]) over a clique+bridge graph (decade cliques
    * chained by `%10==9 → +1` bridges, users < 100): seeds {0, 55}
    * give nontrivial distances — +2 per decade hop away from a seed,
    * minimum over both — with an ~8-round frontier expansion (the
    * fixture is deliberately small: an iterative gate's cost is
    * rounds × fixed job overhead, and 8 rounds prove the same
    * frontier algebra 30 would). The oracle replays BFS itself with a
    * recursive CTE (distinct UNION worklist of (node, depth) pairs),
    * so the whole chain — symmetric adjacency, minimum-over-seeds,
    * unreached-absent — is same-chain replay at any SF.
    */
  private def graphBfs(s: SparkSession, dir: String): DataFrame = {
    val (users, clique) = decadeCliques(s, dir, 100)
    val bridges = users
      .filter(col("user_id") % 10 === 9 && col("user_id") < 90)
      .select(col("user_id").as("id_a"), (col("user_id") + 1).as("id_b"))
    val seeds = users
      .filter(col("user_id") === 0 || col("user_id") === 55)
      .select(col("user_id"))
    graft.operators.Graphs
      .bfsDistances(clique.unionByName(bridges), "id_a", "id_b", seeds)
      .orderBy(col("id"))
  }

  /** Planted coreness fixture: 10-cliques over the event users plus
    * 3-hop pendant chains off every 10th user — analytic coreness
    * (clique size − 1 inside cliques, 1 along chains) the oracle
    * states in closed form.
    */
  private def corenessFixtureEdges(s: SparkSession, dir: String): DataFrame = {
    val (users, clique) = decadeCliques(s, dir, 100)
    val anchors = users.filter(col("user_id") % 10 === 0)
    val chains = anchors
      .select(col("user_id").as("id_a"), (col("user_id") + 1000).as("id_b"))
      .unionByName(anchors.select((col("user_id") + 1000).as("id_a"),
        (col("user_id") + 2000).as("id_b")))
      .unionByName(anchors.select((col("user_id") + 2000).as("id_a"),
        (col("user_id") + 3000).as("id_b")))
    clique.unionByName(chains)
  }

  /** FULL coreness decomposition ([[graft.operators.Graphs.coreness]])
    * over [[graphKcore]]'s clique+chain fixture — disjoint components
    * whose core numbers are CLOSED FORM: a clique of m present users
    * peels in phase m (core number m-1, chains attached or not), and
    * the 3-node pendant chains peel in phase 2 (core number 1) — so
    * the whole peeling spectrum replays in SQL as per-group counts,
    * no recursive fixpoint needed.
    */
  private def graphCoreness(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graphs
      .coreness(corenessFixtureEdges(s, dir), "id_a", "id_b")
      .orderBy(col("id"))

  /** The same planted fixture through the DISTRIBUTED peel
    * (`driverMaxEdges = 0` disables the small-graph driver union-find
    * fast path, so the phase/round degree-peeling loop — the 100 TB
    * shape, measured at 2.4M edges (NOTES.md, "Coreness at adversarial
    * scale") — is the code under the oracle every round, not just in a
    * one-off drill).
    */
  private def graphCorenessDistributed(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graphs
      .coreness(corenessFixtureEdges(s, dir), "id_a", "id_b", driverMaxEdges = 0L)
      .orderBy(col("id"))
}
