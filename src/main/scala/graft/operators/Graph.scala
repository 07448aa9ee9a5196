package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Shape
import graft.engine.Shape.MaterializeOps

/** Iterative whole-graph numeric propagation over a pair list — the
  * step past connected components (Dedup.dupClusters/dupClustersStar):
  * PageRank-style centrality over the duplicate graph ranks which copy
  * of a near-dup cluster is the "hub" (most-connected variant), a
  * useful retention signal when clusters are large and quality scores
  * tie.
  */
object GraphOps {

  /** Column `i` of a collected row as a long (ids may be any integral type). */
  private def longAt(r: org.apache.spark.sql.Row, i: Int): Long =
    r.get(i).asInstanceOf[Number].longValue

  /** Expanded (u, v[, w]) edge rows to long tuples. */
  private def rowsToEdges(rows: Array[org.apache.spark.sql.Row]): Array[(Long, Long)] =
    rows.map(r => (longAt(r, 0), longAt(r, 1)))

  /** Driver-computed per-node long columns as a DataFrame matching the
    * distributed twin's schema: (id, name1, name2, ...) with the ids of
    * the first map, id cast back to `like`'s id column type, one
    * partition (the [[Shape.LocalRowLimit]] results are bounded by
    * construction).
    */
  private def localResult(like: DataFrame,
                          cols: (String, scala.collection.mutable.LongMap[Long])*): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = like.sparkSession
    val rows = cols.head._2.keys.toSeq.sorted.map(id =>
      org.apache.spark.sql.Row.fromSeq(id +: cols.map(_._2(id))))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(("id" +: cols.map(_._1)).map(StructField(_, LongType, nullable = false))))
      .select(col("id").cast(like.schema.head.dataType).as("id") +:
        cols.map(c => col(c._1)): _*)
  }

  /** The scaled-long rank mass [[pageRankInt]] spreads over its seeds. */
  private val RankScale = 1000000000L

  /** PageRank with INTEGER arithmetic (ranks are longs scaled by 10⁹;
    * every division is integral `div`), fixed iteration count, over the
    * undirected graph of `edges`. Float PageRank is not cross-engine
    * comparable — double sums are addition-order-dependent — but
    * scaled-long ranks with integral division are bit-identical on any
    * engine and any partitioning, which makes a distributed run
    * oracle-checkable against unrolled SQL (q105). Damping is the
    * classic 0.85, applied as `(85 * x) div 100`.
    *
    * Each round: every node u sends (r·w) div d(u) along each incident
    * edge, d(u) = its incident weight sum; a node's new rank is its
    * teleport share + (85·Σ) div 100. Two optional forms share the loop:
    *  - `weightCol`: rank flows to neighbors proportionally to edge
    *    weight — the TextRank formulation (Mihalcea & Tarau 2004). On a
    *    near-complete graph (small shared vocabulary) unweighted ranks
    *    collapse to uniform; the weights are what differentiate nodes.
    *    Without it every weight is 1, d is the degree and the
    *    contribution is the classic r div d. Overflow: r·w ≤ 10⁹ · max
    *    weight — fine while weights stay below ~9·10⁹ (rescale first
    *    otherwise).
    *  - `seeds`: personalized PageRank — the teleport mass starts at and
    *    returns ONLY to the seed nodes, so rank measures proximity to
    *    the seed set rather than global centrality (TrustRank, Gyöngyi
    *    et al. 2004; the smooth counterpart of [[ssspHops]]' hard
    *    radius). Seeds outside the graph carry no edges and are out of
    *    scope; no seed inside it is an error. Without seeds every node
    *    is a seed, which is the uniform teleport.
    * The start rank is r0 = 10⁹ div (seed count) on each seed and 0
    * elsewhere, the per-round teleport 15·r0 div 100 on each seed.
    * Returns (id, d, r) over the graph's nodes; isolated docs (no
    * edges) are out of scope, and an empty edge list gives no rows.
    *
    * Scale shape: edges and the node table materialize once (they are
    * reused every iteration; an unbroken lineage would recompute the
    * signature pipeline per iteration). Each iteration is one equi-join
    * keyed on the edge source + one groupBy on the destination — both
    * map-side-combinable shuffles proportional to |E| — and a
    * per-round checkpoint. The seed count is the one driver-side scalar
    * (same justification as the k-means centroid collect: O(1), never
    * the data).
    */
  def pageRankInt(edges: DataFrame, aCol: String, bCol: String, iters: Int,
                  weightCol: Option[String] = None,
                  seeds: Option[(DataFrame, String)] = None,
                  localLimit: Long = Shape.LocalRowLimit): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val w = weightCol.fold(lit(1L))(c => col(c).cast("long"))
    val e0 = edges.select(col(aCol).as("u"), col(bCol).as("v"), w.as("w"))
      .unionByName(edges.select(col(bCol).as("u"), col(aCol).as("v"), w.as("w")))
    val sd = seeds.map { case (s, c) => s.select(col(c).as("sid")).distinct() }
    def checkSeeds(nSeeds: Long): Unit =
      require(sd.isEmpty || nSeeds > 0, "no seed node appears in the pair graph")
    // (r0, teleport base); no seeds at all only on an empty graph
    def start(nSeeds: Long): (Long, Long) = {
      val r0 = if (nSeeds == 0L) 0L else RankScale / nSeeds
      (r0, (15L * r0) / 100L)
    }
    // bounded local twin ([[Shape.localRows]], r16): the fixed
    // iteration count and integral scaled-long arithmetic replay
    // exactly on the driver — every op below ((r·w) div d per edge,
    // 85/100 damping, seed-only teleport, missing sums as 0) is the
    // same Long op the distributed round computes, so ranks are
    // bit-identical (spec'd with localLimit = 0 forcing the distributed
    // loop). The distinct-seed collect is the only other driver step.
    // Replaces iters × (join + agg + checkpoint) actions with one
    // bounded fetch.
    val localRows =
      if (Shape.integralIds(e0 +: sd.toSeq: _*)) Shape.localRows(e0, localLimit) else None
    localRows match {
      case Some(rows) =>
        val es = rows.map(r => (longAt(r, 0), longAt(r, 1), r.getLong(2)))
        val deg = scala.collection.mutable.LongMap.empty[Long]
        es.foreach { case (u, _, w) => deg(u) = deg.getOrElse(u, 0L) + w }
        val isSeed: Long => Boolean = sd.fold((_: Long) => true) { s =>
          s.collect().map(longAt(_, 0)).toSet.contains
        }
        val nSeeds = deg.keysIterator.count(isSeed).toLong
        checkSeeds(nSeeds)
        val (r0, base) = start(nSeeds)
        var r = scala.collection.mutable.LongMap.empty[Long]
        deg.keysIterator.foreach(id => r(id) = if (isSeed(id)) r0 else 0L)
        for (_ <- 1 to iters) {
          val sums = scala.collection.mutable.LongMap.empty[Long]
          es.foreach { case (u, v, w) =>
            sums(v) = sums.getOrElse(v, 0L) + (r(u) * w) / deg(u)
          }
          val next = scala.collection.mutable.LongMap.empty[Long]
          deg.keysIterator.foreach { id =>
            next(id) = (if (isSeed(id)) base else 0L) +
              (85L * sums.getOrElse(id, 0L)) / 100L
          }
          r = next
        }
        localResult(e0, "d" -> deg, "r" -> r)
      case None =>
        val e = e0.materialized
        val deg = e.groupBy("u").agg(sum("w").as("d"))
          .select(col("u").as("id"), col("d"))
        val nodes = sd.fold(deg.withColumn("seed", lit(true))) { s =>
            deg.join(s, deg("id") === s("sid"), "left")
              .select(col("id"), col("d"), col("sid").isNotNull.as("seed"))
          }
          .materialized
        val nSeeds = nodes.filter(col("seed")).count()
        checkSeeds(nSeeds)
        val (r0, base) = start(nSeeds)
        var r = nodes.select(col("id"), col("d"),
          when(col("seed"), lit(r0)).otherwise(lit(0L)).as("r"))
        for (_ <- 1 to iters) {
          val contrib = r.select(col("id").as("cid"), col("d").as("cd"),
            col("r").as("cr"))
          val sums = e.join(contrib, col("u") === col("cid"))
            .groupBy("v").agg(sum(expr("(cr * w) div cd")).as("s"))
          r = nodes.join(sums, nodes("id") === sums("v"), "left")
            .select(nodes("id"), nodes("d"),
              (when(nodes("seed"), lit(base)).otherwise(lit(0L)) +
                expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("r"))
            .materialized
        }
        r
    }
  }

  /** Triangle count + global clustering coefficient over an undirected
    * pair list — how CLIQUE-LIKE the duplicate graph is (template-spam
    * families triangulate heavily; chains of drifting revisions do
    * not), the standard structure signal past per-node degree.
    *
    * Algorithm: rank-ordered edge orientation (node-iterator++, Schank
    * & Wagner SEA'05; the MapReduce form is Suri & Vassilvitskii
    * WWW'11): orient every edge toward the higher (degree, id) rank,
    * generate wedges only at each edge's LOWER-rank endpoint — a
    * vertex's out-degree under this orientation is O(sqrt(m)), so a
    * viral million-copy hub emits sqrt-bounded wedge fan-out instead of
    * the degree² a naive self-join at that node would — then close each
    * wedge against the undirected edge set with one equi-join. Each
    * triangle is counted exactly once (at its lowest-rank vertex).
    * Three shuffles total (degree agg, wedge self-join, closing join),
    * all on equi-keys AQE can skew-split. Returns ONE row:
    * (n_nodes, n_edges, n_triangles, n_wedges, closure) with
    * closure = round(3·triangles / wedges, 4) (0 when wedge-less).
    */
  def triangleStats(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val und = pairs
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .materialized // read by degrees, orientation, and closing join
    val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("id").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("d").as("db")), Seq("b"))
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val wedges = oriented.as("x").join(oriented.as("y"), Seq("u"))
      .filter(col("x.v") < col("y.v"))
      .select(col("x.v").as("a"), col("y.v").as("b"))
    val tri = wedges.join(und, Seq("a", "b"))
      .agg(count(lit(1)).as("n_triangles"))
    deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("(d * (d - 1)) div 2")).as("n_wedges"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri) // all three sides are 1-row aggregates
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 4))
          .otherwise(lit(0.0)).as("closure"))
  }

  /** Weighted multi-source shortest paths (Bellman-Ford, `maxHops`
    * relaxation rounds) over an undirected weighted pair list: returns
    * (id, dist) = the minimum total edge weight from ANY seed over
    * paths of at most `maxHops` edges — the "blast radius" query a
    * dedup pipeline runs from a known-bad set (spam cluster,
    * contaminated shard) to find everything transitively near it, with
    * a cost model ("cheapest contamination route"). Seeds not in the
    * graph report dist 0 (distance to themselves). Integer weights, so
    * min-of-sums is engine-exact. At unit weight it is multi-source
    * BFS: a node is first reached in the round equal to its hop
    * distance, and no later round can lower it, so dist = hops (q161).
    *
    * Scale shape: the sparse Bellman-Ford — per round only nodes whose
    * distance IMPROVED last round (the frontier) join the edge list,
    * relaxations pre-combine per target (map-side-combinable min), and
    * one full-outer merge against the settled set computes the new
    * frontier. Every step is an |E|- or |frontier|-bounded equi-key
    * shuffle; per-round localCheckpoint caps lineage like
    * [[pageRankInt]]. `maxHops` bounds rounds — with negative-free
    * integer weights each round only lowers distances, so the result
    * after k rounds is exactly min-cost over ≤k-edge paths (what the
    * oracle's bounded recursive CTE enumerates). Depth, unlike the q84
    * star rounds, is NOT log-compressed, so an uncapped high-diameter
    * chain would mean diameter rounds.
    */
  def ssspHops(edges: DataFrame, aCol: String, bCol: String, wCol: String,
               seeds: DataFrame, seedCol: String, maxHops: Int,
               localLimit: Long = Shape.LocalRowLimit): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col(aCol).as("u"), col(bCol).as("v"),
        col(wCol).cast("long").as("w"))
      .unionByName(edges.select(col(bCol).as("u"), col(aCol).as("v"),
        col(wCol).cast("long").as("w")))
      .materialized
    var dist = seeds.select(col(seedCol).as("id")).distinct()
      .withColumn("dist", lit(0L)).withColumn("improved", lit(true))
      .materialized
    // bounded local twin ([[Shape.localRows]]): the sparse
    // Bellman-Ford's per-round state transition — relax only from
    // last round's improved set, nd = min(fd + w), improve iff unseen
    // or strictly lower — replayed verbatim on the driver over the
    // collected weighted edges. Integer min-of-sums, so the result is
    // bit-identical to the distributed rounds at the same cap.
    val localRows =
      if (Shape.integralIds(e, dist)) Shape.localRows(e, localLimit) else None
    localRows match {
      case Some(rows) =>
        val adj = scala.collection.mutable.LongMap.empty[List[(Long, Long)]]
        rows.foreach { r =>
          val u = longAt(r, 0)
          adj(u) = (longAt(r, 1), r.getLong(2)) :: adj.getOrElse(u, Nil)
        }
        val d = scala.collection.mutable.LongMap.empty[Long]
        var improved = dist.collect().map(longAt(_, 0)).toSeq.distinct
        improved.foreach(s => d(s) = 0L)
        for (_ <- 1 to maxHops) {
          val relaxed = scala.collection.mutable.LongMap.empty[Long]
          improved.foreach { f =>
            adj.getOrElse(f, Nil).foreach { case (v, w) =>
              val nd = d(f) + w
              if (!relaxed.contains(v) || nd < relaxed(v)) relaxed(v) = nd
            }
          }
          improved = relaxed.iterator.collect {
            case (v, nd) if !d.contains(v) || nd < d(v) => v
          }.toSeq
          improved.foreach(v => d(v) = math.min(relaxed(v),
            d.getOrElse(v, Long.MaxValue)))
        }
        localResult(dist, "dist" -> d)
      case None =>
        for (_ <- 1 to maxHops) {
          val frontier = dist.filter(col("improved"))
            .select(col("id").as("fid"), col("dist").as("fd"))
          val relaxed = e.join(frontier, col("u") === col("fid"))
            .groupBy(col("v").as("id"))
            .agg(min(col("fd") + col("w")).as("nd"))
          dist = dist.select("id", "dist").join(relaxed, Seq("id"), "full")
            .select(col("id"),
              least(col("dist"), col("nd")).as("dist"),
              (col("dist").isNull || (col("nd").isNotNull && col("nd") < col("dist")))
                .as("improved"))
            .materialized
        }
        dist.select("id", "dist")
    }
  }

  /** k-core decomposition (iterative peeling to the Seidman fixpoint):
    * the maximal subgraph in which every node keeps degree ≥ k — the
    * "dense backbone" query a dedup/graph pipeline runs to separate
    * tightly duplicated families from stragglers dangling off them.
    * Returns (id, core_deg) = every node of the k-core with its
    * IN-CORE degree (degree counted over surviving edges only).
    *
    * Peeling is confluent: removing any under-degree node never makes
    * another node eligible to stay, so round order cannot change the
    * fixpoint — the result is deterministic and oracle-comparable
    * against the same rounds unrolled in SQL.
    *
    * Scale shape: each round is one |E|-bounded degree agg + two
    * semi-joins that shrink the edge list; per-round localCheckpoint
    * caps lineage ([[pageRankInt]] doctrine). Rounds are bounded by the
    * longest peel chain, NOT log-compressed — `maxRounds` asserts the
    * input's chains are bounded (this engine's inputs cap chain
    * components by construction) instead of silently stopping early:
    * exceeding it throws rather than returning a non-fixpoint. The two
    * per-round driver counts are scalars on checkpointed frames.
    */
  def kCore(pairs: DataFrame, aCol: String, bCol: String, k: Int,
            maxRounds: Int, localLimit: Long = Shape.LocalRowLimit): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var e = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .unionByName(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct()
      .materialized
    // bounded local twin ([[Shape.localRows]]): synchronous
    // peel rounds over the collected (distinct, bidirectional) edges —
    // identical rounds, identical maxRounds contract (the require
    // throws with the same message at the same round count), and the
    // fixpoint is confluent (scaladoc), so survivors + in-core degrees
    // match the distributed peel exactly.
    val localRows =
      if (Shape.integralIds(e)) Shape.localRows(e, localLimit) else None
    localRows match {
      case Some(rows) =>
        var edgesL = rowsToEdges(rows)
        var rounds = 0
        var stable = false
        while (!stable) {
          val deg = scala.collection.mutable.LongMap.empty[Long]
          edgesL.foreach { case (u, _) => deg(u) = deg.getOrElse(u, 0L) + 1L }
          if (deg.valuesIterator.forall(_ >= k)) stable = true
          else {
            rounds += 1
            require(rounds <= maxRounds,
              s"k-core not at fixpoint after $maxRounds peel rounds — " +
                "raise maxRounds (and the oracle's unroll depth) together")
            edgesL = edgesL.filter { case (u, v) =>
              deg(u) >= k && deg.getOrElse(v, 0L) >= k }
          }
        }
        val coreDeg = scala.collection.mutable.LongMap.empty[Long]
        edgesL.foreach { case (u, _) => coreDeg(u) = coreDeg.getOrElse(u, 0L) + 1L }
        localResult(e, "core_deg" -> coreDeg)
      case None =>
        var rounds = 0
        var stable = false
        while (!stable) {
          val deg = e.groupBy("u").agg(count(lit(1)).as("d")).materialized
          // ONE driver action per round: total and surviving node counts
          // from the same (checkpointed) degree frame
          val counts = deg.agg(count(lit(1)),
            count(when(col("d") >= k, 1))).first()
          if (counts.getLong(0) == counts.getLong(1)) stable = true
          else {
            rounds += 1
            require(rounds <= maxRounds,
              s"k-core not at fixpoint after $maxRounds peel rounds — " +
                "raise maxRounds (and the oracle's unroll depth) together")
            val keep = deg.filter(col("d") >= k).select(col("u").as("kid"))
            e = e.join(keep, col("u") === col("kid"), "left_semi")
              .join(keep, col("v") === col("kid"), "left_semi")
              .materialized
          }
        }
        e.groupBy("u").agg(count(lit(1)).as("core_deg"))
          .select(col("u").as("id"), col("core_deg").cast("long").as("core_deg"))
    }
  }

  /** SYNCHRONOUS label propagation (Raghavan et al. 2007, Phys. Rev.
    * E 76) — community detection over an undirected pair list, made
    * fully deterministic: every node starts as its own label, and each
    * round every node simultaneously takes its neighbors' most frequent
    * label with the fixed tie rule (count DESC, label ASC) — the
    * struct-max idiom, so there is no random visit order and no
    * coin-flip ties, and a fixed `rounds` unrolls exactly in the
    * oracle (q105's iteration discipline applied to communities).
    * Unlike min-label CC ([[graft.operators.Dedup.dupClusters]], which
    * finds connected components), frequency voting splits a weakly
    * bridged component along its dense cores — the community structure
    * CC cannot see.
    *
    * Scale: per round ONE equi-join of the edge list against the
    * |nodes|-row label frame + two map-side-combinable aggs keyed by
    * node; rounds are checkpointed ([[graft.engine.Shape.materialize]])
    * so lineage stays one round deep. Only edge-touched nodes appear
    * (isolated rows have no votes to cast or receive). Returns
    * (id, lbl).
    */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
                       rounds: Int,
                       localLimit: Long = Shape.LocalRowLimit): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e0 = pairs.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v"))
      .unionByName(pairs.select(col(bCol).cast("long").as("u"),
        col(aCol).cast("long").as("v")))
    // bounded local twin: synchronous rounds with the identical tie
    // rule — most-frequent neighbor label, count DESC then label ASC
    // (the struct-max idiom's exact order) — replayed over the
    // collected edges; spec'd with localLimit = 0 forcing the
    // distributed loop (ids are cast long above, so the integral-id
    // gate always holds and only the size gate decides).
    val localRows =
      if (Shape.integralIds(e0)) Shape.localRows(e0, localLimit) else None
    localRows match {
      case Some(rows) =>
        val edges = rowsToEdges(rows)
        var lab = scala.collection.mutable.LongMap.empty[Long]
        edges.foreach { case (u, _) => lab(u) = u }
        for (_ <- 1 to rounds) {
          val votes = scala.collection.mutable.LongMap
            .empty[scala.collection.mutable.LongMap[Long]]
          edges.foreach { case (u, v) =>
            val m = votes.getOrElseUpdate(u,
              scala.collection.mutable.LongMap.empty[Long])
            val l = lab(v)
            m(l) = m.getOrElse(l, 0L) + 1L
          }
          val next = scala.collection.mutable.LongMap.empty[Long]
          votes.foreach { case (u, m) =>
            var bc = -1L
            var bl = Long.MaxValue
            m.foreach { case (l, c) =>
              if (c > bc || (c == bc && l < bl)) { bc = c; bl = l }
            }
            next(u) = bl
          }
          lab = next
        }
        localResult(e0, "lbl" -> lab)
      case None =>
        val e = e0.materialized
        var lab = e.select(col("u").as("id")).distinct()
          .withColumn("lbl", col("id"))
        for (_ <- 1 to rounds) {
          lab = e.join(lab.withColumnRenamed("id", "v"), Seq("v"))
            .groupBy(col("u"), col("lbl"))
            .agg(count(lit(1)).as("c"))
            .groupBy("u")
            .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
            .select(col("u").as("id"), (-col("m.nl")).as("lbl"))
            .materialized
        }
        lab
    }
  }

  /** Degree assortativity coefficient (Newman 2002, Phys. Rev. Lett.
    * 89) of an undirected pair list: the Pearson correlation of the
    * endpoint degrees taken over the DIRECTED edge list (each
    * undirected edge contributes both orientations — the standard
    * convention that makes the statistic symmetric without
    * half-weights). Positive = hubs attach to hubs (social-network
    * shape); negative = hubs attach to leaves (star/dup-cluster
    * shape) — the one-number structural fingerprint that tells a
    * dedup-graph consumer whether near-dup mass sits in cliques or in
    * hub-and-spoke template families.
    *
    * Determinism: exact Long moment sums (n, Σdu, Σdv, Σdu·dv, Σdu²,
    * Σdv²) → ONE final IEEE double ratio with round(·, 6) — the
    * [[Relational.autocorrLag1]] discipline: int→double cast, sqrt and
    * divide are all exactly specified, so the value is bit-identical
    * cross-engine. Zero-variance degree sequences return 0.0.
    *
    * Scale: degrees = one map-side-combinable agg on the edge
    * endpoints; moments = two hash joins of the edge list against the
    * |V|-row degree frame + one global agg — state never exceeds
    * |V| + |E| and nothing is ever collected. Overflow bound:
    * n·Σdu² must fit a signed 64-bit (holds while 2m·dmax² < 2⁶³/2m,
    * e.g. m = 10⁹ directed edges with dmax ≈ 2 000); past that, widen
    * the moment sums to decimal(38,0) — DuckDB's HUGEINT widening is
    * already exact.
    */
  def degreeAssortativity(pairs: DataFrame, aCol: String,
                          bCol: String): DataFrame = {
    val p = pairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val e = p.select(col("a").as("u"), col("b").as("v"))
      .unionByName(p.select(col("b").as("u"), col("a").as("v")))
    val deg = e.groupBy(col("u").as("id"))
      .agg(count(lit(1)).cast("long").as("d"))
    val m = e
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .agg(count(lit(1)).as("n"), sum("du").as("sx"), sum("dv").as("sy"),
        sum(col("du") * col("dv")).as("sxy"),
        sum(col("du") * col("du")).as("sxx"),
        sum(col("dv") * col("dv")).as("syy"))
    m.select(col("n").cast("long").as("n_dir_edges"),
      round(
        when(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
             col("n") * col("syy") - col("sy") * col("sy") > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
             sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .otherwise(lit(0.0)), 6).as("assortativity6"))
  }

  /** Adamic-Adar link prediction over a BIPARTITE incidence list
    * (left entity, right feature) — "which two left entities that
    * never co-occurred are most likely the same/linked": score(a,b) =
    * Σ over shared features f of 1/log(deg f), here the integer-exact
    * variant w_ppm(f) = 10⁶ div bitlen(deg f) (bitlen = ⌊log₂⌋+1, the
    * q255/q273 bit trick) so ranking is engine-exact and no float log
    * ever forms. Rarer shared features weigh more — the whole point
    * of Adamic-Adar over plain common-neighbor counting.
    *
    * Scale shape is the posting-list candidate doctrine (q30/q193):
    * pair fan-out comes from a per-FEATURE self-join of the feature's
    * left-entity list, never left × left — and features more popular
    * than `maxDeg` are dropped up front (the standard frequency cap:
    * a feature shared by everyone carries ~zero Adamic-Adar weight
    * and quadratic pair cost; the cap removes ≤ 10⁶ div bitlen(maxDeg)
    * ppm per pair, documented, deterministic). Per-feature fan-out is
    * ≤ maxDeg²/2; the topK cut is one TakeOrdered. Ordered (a < b)
    * pairs only — the score is symmetric.
    *
    * The (a, b) aggregation is fed through an EXPLICIT repartition on
    * the pair key, sized from the measured pair volume Σ_f C(deg_f, 2)
    * (ONE scalar off the degree histogram — the bounded-collect
    * class). Without it the aggregation's map side sees each task's
    * ~tens of millions of generated rows scattered across the whole
    * pair-key space: the partial-agg hash table overflows with
    * near-zero compression and falls back to sort-spill, degrading
    * super-linearly even though the pair volume itself is exactly
    * linear (measured 8.7M/87.2M/872M rows at sf0.1/1/10,
    * 10.000×/decade; wall 13.9×/decade before this shape, 10.5× after
    * — A/B in SCALING_sweep_r12b.log, sweep in SCALING_sweep_r12_newq.log).
    * After the pair-key exchange each task aggregates a LOCAL slice
    * (~12M rows over ~1/parts of the key space), so the hash agg
    * never spills; the exchange itself streams narrow 3-long rows
    * with no per-row state.
    *
    * Returns topK rows: (a, b, n_shared, score_ppm), ties broken by
    * (a, b).
    */
  def adamicAdarTopK(incidence: DataFrame, leftCol: String,
                     featureCol: String, maxDeg: Int,
                     topK: Int): DataFrame = {
    require(maxDeg >= 2, s"maxDeg must be >= 2, got $maxDeg")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val inc = incidence
      .select(col(leftCol).cast("long").as("l"), col(featureCol).as("f"))
      .distinct()
    // exact pair volume from the degree histogram — ONE cheap scalar
    // job; deliberately NOT a localCheckpoint of inc: pinning a
    // corpus-sized frame in block storage starves the downstream
    // aggregation's execution pool (measured AGGREGATE_OUT_OF_MEMORY
    // at sf10), while recomputing the distinct costs one extra scan
    val pairVolume = inc.groupBy("f")
      .agg(count(lit(1)).cast("long").as("deg"))
      .filter(col("deg").between(2L, maxDeg.toLong))
      .agg(coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L)))
      .head().getLong(0)
    val basePartitions = Shape.width(inc.sparkSession)
    val aggParts = math.min(4096L, math.max(basePartitions.toLong,
      pairVolume / 12000000L + 1L)).toInt
    // The PAIR-GENERATION stage (posexplode + slice below) reads this
    // agg's exchange, and its CPU is proportional to the pair volume —
    // not the posting bytes AQE coalesces on (measured r16: 2.3 s of
    // CPU on the 3 tasks byte-coalescing left at sf0.1). Width derived
    // from the SAME measured pairVolume scalar (no extra job),
    // ~2M generated pairs per task, session-width floor, 4096 cap.
    val postParts = math.min(4096L, math.max(basePartitions.toLong,
      pairVolume / 2000000L)).toInt
    val posting = inc.repartition(postParts, col("f")).groupBy("f")
      .agg(sort_array(collect_set(col("l"))).as("ls"),
        count(lit(1)).cast("long").as("deg"))
      .filter(col("deg").between(2L, maxDeg.toLong))
      // 10^6 div bitlen(deg): deg >= 2 so bitlen >= 2, weight <= 500000
      .withColumn("w_ppm",
        expr("1000000 div length(bin(deg))"))
    posting
      // posexplode + tail-slice emits exactly the C(deg,2) ordered
      // pairs (ls is sort_array'd ascending, so slice past i+1 IS
      // b > a) instead of the previous explode×explode's deg² rows
      // filtered in half — half the generated rows, no filter, same
      // pair set (guide §1.2: don't compute things you throw away)
      .select(col("w_ppm"), posexplode(col("ls")).as(Seq("i", "a")),
        col("ls"))
      .select(col("w_ppm"), col("a"),
        explode(slice(col("ls"), col("i") + lit(2), size(col("ls")))).as("b"))
      .repartition(aggParts, col("a"), col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).cast("long").as("n_shared"),
        sum("w_ppm").cast("long").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("a").asc, col("b").asc)
      .limit(topK)
  }
}
