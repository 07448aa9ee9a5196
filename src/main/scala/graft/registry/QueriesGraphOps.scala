package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables._
import graft.functions.TextFunctions._
import graft.operators.{Dedup, GraphOps}

import graft.QueryShared._

/** GraphOps query registry — graph analytics on the dup/event graphs: PageRank, k-core, communities.
  * Split verbatim from SparkEntry (round 12): every entry is the
  * original closure/SQL, unchanged; SparkEntry concatenates the
  * family maps back into the driver contract.
  */
private[graft] object QueriesGraphOps {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q105_pagerank_dupgraph" -> ((s, d) =>
      // PageRank (3 iterations, 0.85 damping) over the q63 simhash dup
      // graph, in scaled-long INTEGER arithmetic so both engines compute
      // bit-identical ranks — float sums are addition-order-dependent
      // and can never hash-match across engines. Per iteration: one
      // equi-join on the edge source + one groupBy on the destination
      // (GraphOps.pageRankInt scaladoc for the 100 TB shape).
      GraphOps.pageRankInt(
          Dedup.simHashDup(documents(s, d), "doc_id", "text", nBits = 16),
          "id_a", "id_b", iters = 3)
        .select(col("id").as("doc_id"), col("r").as("rank_scaled"),
          col("d").as("degree"))
        .orderBy("doc_id")),

    "q122_triangle_count" -> ((s, d) =>
      // how clique-like is the duplicate graph: triangle count + global
      // clustering coefficient via rank-oriented wedges (sqrt-bounded
      // fan-out at hubs — GraphOps.triangleStats scaladoc). Same edge
      // set as q105's PageRank.
      GraphOps.triangleStats(
        Dedup.simHashDup(documents(s, d), "doc_id", "text", nBits = 16),
        "id_a", "id_b")),

    "q161_bfs_hops" -> ((s, d) =>
      // Blast-radius query: multi-source BFS (4 hops) over the q105
      // simhash dup graph from the doc_id % 50 == 0 seed set — which
      // docs are transitively near a flagged set. BFS is ssspHops at
      // unit weight (GraphOps.ssspHops scaladoc). The oracle is a
      // DuckDB recursive CTE over the identical edge list.
      GraphOps.ssspHops(
          Dedup.simHashDup(documents(s, d), "doc_id", "text", nBits = 16)
            .withColumn("w", lit(1L)),
          "id_a", "id_b", "w",
          documents(s, d).filter(pmod(col("doc_id"), lit(50L)) === 0),
          "doc_id", maxHops = BfsMaxHops)
        .select(col("id").as("doc_id"), col("dist").as("hops"))
        .orderBy("doc_id")),

    "q174_sssp_cheapest" -> ((s, d) => {
      // Weighted blast radius: Bellman-Ford (4 rounds) over the q105
      // dup graph with md5-derived integer edge weights, multi-source
      // from the q161 seed set — min-COST contamination route, not just
      // hop count (GraphOps.ssspHops scaladoc). The oracle enumerates
      // the same <=4-edge paths in a bounded recursive CTE.
      val pairs = Dedup.simHashDup(documents(s, d), "doc_id", "text",
        nBits = 16)
      val weighted = pairs.withColumn("w",
        lit(1L) + pmod(tokenHash64(concat(lit("sp_"),
          col("id_a").cast("string"), lit("_"),
          col("id_b").cast("string"))), lit(9L)))
      GraphOps.ssspHops(weighted, "id_a", "id_b", "w",
          documents(s, d).filter(pmod(col("doc_id"), lit(50L)) === 0),
          "doc_id", maxHops = BfsMaxHops)
        .select(col("id").as("doc_id"), col("dist"))
        .orderBy("doc_id")
    }),

    "q179_ppr_dupgraph" -> ((s, d) =>
      // Personalized PageRank (3 iterations) over the dup graph,
      // teleporting only to the q161 seed set — TrustRank-style
      // proximity in the same scaled-long integer arithmetic as q105
      // (GraphOps.pageRankInt scaladoc, `seeds`).
      GraphOps.pageRankInt(
          Dedup.simHashDup(documents(s, d), "doc_id", "text", nBits = 16),
          "id_a", "id_b", iters = 3,
          seeds = Some((documents(s, d)
            .filter(pmod(col("doc_id"), lit(50L)) === 0), "doc_id")))
        .select(col("id").as("doc_id"), col("r").as("rank_scaled"),
          col("d").as("degree"))
        .orderBy("doc_id")),

    "q184_kcore" -> ((s, d) => {
      // Dense-backbone query: 2-core of the dup graph AUGMENTED with
      // bounded chain edges (consecutive ids within blocks of 8) —
      // chains dangling off clique anchors peel away round by round,
      // paths BETWEEN anchors survive, so the peel is genuinely
      // iterative (GraphOps.kCore scaladoc). The oracle unrolls the
      // same rounds; the engine asserts fixpoint within them.
      val docs = documents(s, d)
      val dup = Dedup.simHashDup(docs, "doc_id", "text", nBits = 16)
        .select("id_a", "id_b")
      val ids = docs.select(col("doc_id"))
      val chain = ids.as("a").join(ids.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1 &&
            pmod(col("a.doc_id"), lit(8L)) < 7)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      GraphOps.kCore(dup.unionByName(chain).distinct(), "id_a", "id_b",
          k = KCoreK, maxRounds = KCoreMaxRounds)
        .select(col("id").as("doc_id"), col("core_deg"))
        .orderBy("doc_id")
    }),

    "q234_lpa_communities" -> ((s, d) =>
      // Community detection over the q105 dup graph via SYNCHRONOUS
      // deterministic label propagation (3 rounds, most-frequent
      // neighbor label, ties count-desc-then-label-asc): the
      // dense-core structure min-label CC (q63) cannot see — a weakly
      // bridged pair of clusters keeps two labels here where CC
      // collapses them. Per round one edge join + two node-keyed aggs;
      // oracle = the SAME three rounds unrolled
      // (GraphOps.labelPropagation scaladoc).
      GraphOps.labelPropagation(
          Dedup.simHashDup(documents(s, d), "doc_id", "text", nBits = 16),
          "id_a", "id_b", rounds = 3)
        .groupBy("lbl")
        .agg(count(lit(1)).as("n_members"), min("id").as("min_id"))
        .select(col("lbl").as("community"), col("n_members"), col("min_id"))
        .orderBy("community")),

    "q276_community_purity" -> ((s, d) => {
      // Label-quality eval for q234's LPA communities: per community
      // SIZE band (log2), how pure are communities w.r.t. the doc
      // source — Σ majority-source members / Σ members in exact ppm.
      // The eval a curation team runs to decide whether graph
      // communities can stand in for provenance labels. One node-key
      // join to the doc table + two bounded aggs on top of the LPA
      // rounds; the report is ≤64 band rows.
      val lab = GraphOps.labelPropagation(
        Dedup.simHashDup(documents(s, d), "doc_id", "text", nBits = 16),
        "id_a", "id_b", rounds = 3)
      val perCS = lab
        .join(documents(s, d).select(col("doc_id").as("id"), col("source")),
          Seq("id"))
        .groupBy("lbl", "source").agg(count(lit(1)).as("c"))
      perCS.groupBy("lbl").agg(sum("c").as("sz"), max("c").as("maj"))
        .withColumn("band", length(bin(col("sz"))).cast("long"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_communities"), sum("sz").as("n_docs"),
          sum("maj").as("n_majority"))
        .select(col("band"),
          col("n_communities").cast("long").as("n_communities"),
          col("n_docs").cast("long").as("n_docs"),
          col("n_majority").cast("long").as("n_majority"),
          expr("n_majority * 1000000 div n_docs").as("purity_ppm"))
        .orderBy("band")
    }),

    "q267_degree_assortativity" -> ((s, d) =>
      // Structural fingerprint of the q105 dup graph: Newman's degree
      // assortativity — do high-degree docs link to other hubs
      // (clique-shaped near-dup mass) or to leaves (hub-and-spoke
      // template families)? Exact Long moment sums over the directed
      // edge list, one final IEEE double (the q177 discipline);
      // degrees are one agg, moments two node-key joins + one global
      // agg (GraphOps.degreeAssortativity scaladoc).
      GraphOps.degreeAssortativity(
        Dedup.simHashDup(documents(s, d), "doc_id", "text", nBits = 16),
        "id_a", "id_b")),

    "q282_adamic_adar" -> ((s, d) =>
      // Link prediction on the supplier↔part incidence: the top-20
      // supplier pairs by Adamic-Adar over shared parts — rare shared
      // parts weigh more than commodity ones via the integer-exact
      // 10⁶ div bitlen(deg) weight, so no float log forms. Pair
      // fan-out is per-part posting lists under the deg ≤ 64
      // frequency cap, never supplier × supplier
      // (GraphOps.adamicAdarTopK scaladoc; weights vs the O(n²)
      // driver model in StatsFoldPropertySpec).
      GraphOps.adamicAdarTopK(
        lineitem(s, d).select(col("l_suppkey"), col("l_partkey")),
        "l_suppkey", "l_partkey", maxDeg = 64, topK = 20)),
  )

  val oracleSql: Map[String, String] = Map(

    // q105's simhash edge CTEs, then Newman assortativity as exact
    // BIGINT moment sums over the directed edge list -> one double
    // Pearson ratio (the q177 pattern: CAST/sqrt/divide/round(.,6)
    // are IEEE-exact on both engines)
    "q267_degree_assortativity" ->
      s"""WITH w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         | FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id),
         |e AS (SELECT id_a AS u, id_b AS v FROM p UNION ALL SELECT id_b, id_a FROM p),
         |deg AS (SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(da.d) AS BIGINT) AS sx, CAST(SUM(db.d) AS BIGINT) AS sy,
         |  CAST(SUM(da.d * db.d) AS BIGINT) AS sxy,
         |  CAST(SUM(da.d * da.d) AS BIGINT) AS sxx,
         |  CAST(SUM(db.d * db.d) AS BIGINT) AS syy
         | FROM e JOIN deg da ON e.u = da.id JOIN deg db ON e.v = db.id)
         |SELECT n AS n_dir_edges,
         | round(CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
         |  THEN CAST(n*sxy - sx*sy AS DOUBLE) /
         |    (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
         |  ELSE 0.0 END, 6) AS assortativity6
         |FROM m""".stripMargin,

    // q105's simhash edge CTEs, then triangles as the a<b<c triple join
    // (the oracle may enumerate naively; Spark's rank-oriented wedge
    // plan must produce the identical count) and wedges from degrees
    "q122_triangle_count" ->
      s"""WITH w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |und AS (SELECT a.id AS a, b.id AS b
         | FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id),
         |e AS (SELECT a AS u FROM und UNION ALL SELECT b FROM und),
         |deg AS (SELECT u AS id, COUNT(*) AS d FROM e GROUP BY 1),
         |tri AS (SELECT COUNT(*) AS t FROM und e1
         | JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
         | JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
         | (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
         | (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles,
         | (SELECT CAST(SUM((d*(d-1)) // 2) AS BIGINT) FROM deg) AS n_wedges,
         | CASE WHEN (SELECT SUM((d*(d-1)) // 2) FROM deg) > 0
         |   THEN round(3.0 * (SELECT t FROM tri)
         |     / (SELECT SUM((d*(d-1)) // 2) FROM deg), 4)
         |   ELSE 0.0 END AS closure""".stripMargin,

    // q63/q84's simhash edge CTEs (validated by those oracles), then 3
    // PageRank iterations UNROLLED with DuckDB's integral `//` mirroring
    // Spark's `div` — scaled-long arithmetic is the only way iterative
    // float-free ranks hash-match across engines
    "q105_pagerank_dupgraph" ->
      s"""WITH w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         | FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id),
         |e AS (SELECT id_a AS u, id_b AS v FROM p UNION ALL SELECT id_b, id_a FROM p),
         |deg AS (SELECT u AS id, COUNT(*) AS d FROM e GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |r0 AS (SELECT id, d, CAST(1000000000 AS BIGINT) // nn.n AS r FROM deg, nn),
         |s1 AS (SELECT e.v AS id, CAST(SUM(r0.r // r0.d) AS BIGINT) AS s FROM e JOIN r0 ON e.u = r0.id GROUP BY 1),
         |r1 AS (SELECT deg.id, deg.d,
         |  (15 * (CAST(1000000000 AS BIGINT) // nn.n)) // 100 + (85 * COALESCE(s1.s, 0)) // 100 AS r
         | FROM deg LEFT JOIN s1 USING (id), nn),
         |s2 AS (SELECT e.v AS id, CAST(SUM(r1.r // r1.d) AS BIGINT) AS s FROM e JOIN r1 ON e.u = r1.id GROUP BY 1),
         |r2 AS (SELECT deg.id, deg.d,
         |  (15 * (CAST(1000000000 AS BIGINT) // nn.n)) // 100 + (85 * COALESCE(s2.s, 0)) // 100 AS r
         | FROM deg LEFT JOIN s2 USING (id), nn),
         |s3 AS (SELECT e.v AS id, CAST(SUM(r2.r // r2.d) AS BIGINT) AS s FROM e JOIN r2 ON e.u = r2.id GROUP BY 1),
         |r3 AS (SELECT deg.id, deg.d,
         |  (15 * (CAST(1000000000 AS BIGINT) // nn.n)) // 100 + (85 * COALESCE(s3.s, 0)) // 100 AS r
         | FROM deg LEFT JOIN s3 USING (id), nn)
         |SELECT id AS doc_id, r AS rank_scaled, d AS degree
         |FROM r3 ORDER BY doc_id""".stripMargin,

    // q105's simhash-16 edge CTEs + a depth-guarded recursive CTE; the
    // UNION dedups (id, hops) pairs and MIN collapses path lengths, so
    // the recursion is the textbook bounded BFS
    "q161_bfs_hops" ->
      s"""WITH RECURSIVE w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         | FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id),
         |e AS (SELECT id_a AS u, id_b AS v FROM p UNION ALL SELECT id_b, id_a FROM p),
         |seeds AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id % 50 = 0),
         |bfs(id, hops) AS (
         |  SELECT id, 0 FROM seeds
         |  UNION
         |  SELECT e.v, bfs.hops + 1 FROM bfs JOIN e ON e.u = bfs.id
         |  WHERE bfs.hops < $BfsMaxHops)
         |SELECT id AS doc_id, CAST(MIN(hops) AS BIGINT) AS hops
         |FROM bfs GROUP BY 1 ORDER BY 1""".stripMargin,

    // q161's simhash dup graph with md5-derived weights; the bounded
    // recursive CTE enumerates every <=4-edge path and takes min cost
    "q174_sssp_cheapest" ->
      s"""WITH RECURSIVE w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         | FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id),
         |pw AS (SELECT id_a, id_b,
         |  1 + ${duckHash("concat('sp_', CAST(id_a AS VARCHAR), '_', CAST(id_b AS VARCHAR))", 15)} % 9 AS w
         | FROM p),
         |e AS (SELECT id_a AS u, id_b AS v, w FROM pw
         | UNION ALL SELECT id_b, id_a, w FROM pw),
         |seeds AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id % 50 = 0),
         |sp(id, dist, hops) AS (
         |  SELECT id, CAST(0 AS BIGINT), 0 FROM seeds
         |  UNION
         |  SELECT e.v, sp.dist + e.w, sp.hops + 1 FROM sp JOIN e ON e.u = sp.id
         |  WHERE sp.hops < $BfsMaxHops)
         |SELECT id AS doc_id, CAST(MIN(dist) AS BIGINT) AS dist
         |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin,

    // q105's graph with the teleport restricted to the q161 seed set;
    // three unrolled generated rounds
    "q179_ppr_dupgraph" -> {
      val rounds = (1 to 3).map { i =>
        s"""s$i AS (SELECT e.v AS id, CAST(SUM(r${i - 1}.r // r${i - 1}.d) AS BIGINT) AS s
           | FROM e JOIN r${i - 1} ON e.u = r${i - 1}.id GROUP BY 1),
           |r$i AS (SELECT nodes.id, nodes.d, nodes.is_seed,
           |  (CASE WHEN nodes.is_seed
           |    THEN (15 * (CAST(1000000000 AS BIGINT) // ns.n)) // 100 ELSE 0 END)
           |   + (85 * COALESCE(s$i.s, 0)) // 100 AS r
           | FROM nodes LEFT JOIN s$i USING (id), ns)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         | FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id),
         |e AS (SELECT id_a AS u, id_b AS v FROM p UNION ALL SELECT id_b, id_a FROM p),
         |deg AS (SELECT u AS id, COUNT(*) AS d FROM e GROUP BY 1),
         |sd AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id % 50 = 0),
         |nodes AS (SELECT deg.id, deg.d, (sd.id IS NOT NULL) AS is_seed
         | FROM deg LEFT JOIN sd ON deg.id = sd.id),
         |ns AS (SELECT COUNT(*) AS n FROM nodes WHERE is_seed),
         |r0 AS (SELECT id, d, is_seed,
         |  CASE WHEN is_seed THEN CAST(1000000000 AS BIGINT) // ns.n
         |   ELSE CAST(0 AS BIGINT) END AS r
         | FROM nodes, ns),
         |$rounds
         |SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_scaled, d AS degree
         |FROM r3 ORDER BY doc_id""".stripMargin
    },

    // peel rounds unrolled to the engine's asserted bound: extra
    // rounds past the fixpoint are no-ops, so equality holds exactly
    // when the engine's loop really converged. MATERIALIZED: each
    // round references the previous edge set three times — default
    // inlining re-expands the chain exponentially (the q167 lesson)
    "q184_kcore" -> {
      val rounds = (1 to KCoreMaxRounds).map { i =>
        s"""d$i AS MATERIALIZED (SELECT u, COUNT(*) AS c FROM e${i - 1} GROUP BY 1),
           |k$i AS MATERIALIZED (SELECT u FROM d$i WHERE c >= $KCoreK),
           |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
           |  JOIN k$i a ON e.u = a.u JOIN k$i b ON e.v = b.u)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         | FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id),
         |ch AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         | WHERE a.doc_id % 8 < 7),
         |pe AS (SELECT id_a, id_b FROM p UNION SELECT id_a, id_b FROM ch),
         |e0 AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pe UNION SELECT id_b, id_a FROM pe),
         |$rounds
         |SELECT u AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
         |FROM e$KCoreMaxRounds GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // q105's simhash edge CTEs + three unrolled synchronous vote
    // rounds (count DESC, label ASC tie rule = the engine's struct-max)
    "q234_lpa_communities" -> {
      def round(prev: String, out: String) =
        s"""v$out AS (SELECT e.u, $prev.lbl, COUNT(*) AS c
           | FROM e JOIN $prev ON e.v = $prev.id GROUP BY 1, 2),
           |$out AS (SELECT u AS id, lbl FROM (
           |  SELECT u, lbl, row_number() OVER (PARTITION BY u
           |    ORDER BY c DESC, lbl) AS rn FROM v$out) t WHERE rn = 1)""".stripMargin
      s"""WITH w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         | FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id),
         |e AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p
         | UNION ALL SELECT id_b, id_a FROM p),
         |l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM e),
         |${round("l0", "l1")},
         |${round("l1", "l2")},
         |${round("l2", "l3")}
         |SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
         | CAST(MIN(id) AS BIGINT) AS min_id
         |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // q234's three unrolled LPA rounds + the source join and the
    // size-band purity rollup
    "q276_community_purity" -> {
      def round(prev: String, out: String) =
        s"""v$out AS (SELECT e.u, $prev.lbl, COUNT(*) AS c
           | FROM e JOIN $prev ON e.v = $prev.id GROUP BY 1, 2),
           |$out AS (SELECT u AS id, lbl FROM (
           |  SELECT u, lbl, row_number() OVER (PARTITION BY u
           |    ORDER BY c DESC, lbl) AS rn FROM v$out) t WHERE rn = 1)""".stripMargin
      s"""WITH w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         | FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id),
         |e AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p
         | UNION ALL SELECT id_b, id_a FROM p),
         |l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM e),
         |${round("l0", "l1")},
         |${round("l1", "l2")},
         |${round("l2", "l3")},
         |cs AS (SELECT l3.lbl, d.source, CAST(COUNT(*) AS BIGINT) AS c
         | FROM l3 JOIN documents d ON d.doc_id = l3.id GROUP BY 1, 2),
         |pc AS (SELECT lbl, CAST(SUM(c) AS BIGINT) AS sz,
         |  CAST(MAX(c) AS BIGINT) AS maj FROM cs GROUP BY 1)
         |SELECT CAST(length(bin(sz)) AS BIGINT) AS band,
         | CAST(COUNT(*) AS BIGINT) AS n_communities,
         | CAST(SUM(sz) AS BIGINT) AS n_docs,
         | CAST(SUM(maj) AS BIGINT) AS n_majority,
         | CAST(SUM(maj) * 1000000 // SUM(sz) AS BIGINT) AS purity_ppm
         |FROM pc GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // same distinct incidence, bitlen weights, deg∈[2,64] cap and
    // (score desc, a, b) top-20 cut
    "q282_adamic_adar" ->
      """WITH inc AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS l,
        |  l_partkey AS f FROM lineitem),
        |deg AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS deg
        | FROM inc GROUP BY 1),
        |el AS (SELECT f, CAST(1000000 // length(bin(deg)) AS BIGINT) AS w
        | FROM deg WHERE deg BETWEEN 2 AND 64),
        |pairs AS (SELECT a.l AS a, b.l AS b, el.w
        | FROM el JOIN inc a USING (f) JOIN inc b USING (f)
        | WHERE a.l < b.l),
        |sc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_shared,
        |  CAST(SUM(w) AS BIGINT) AS score_ppm FROM pairs GROUP BY 1, 2)
        |SELECT a, b, n_shared, score_ppm FROM sc
        |ORDER BY score_ppm DESC, a, b LIMIT 20""".stripMargin,
  )
}
