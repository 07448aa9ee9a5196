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

  /** Expanded (u, v[, w]) edge rows to long tuples. */
  private def rowsToEdges(rows: Array[org.apache.spark.sql.Row]): Array[(Long, Long)] =
    rows.map(r => (r.get(0).asInstanceOf[Number].longValue,
      r.get(1).asInstanceOf[Number].longValue))

  /** Driver-computed (id, d, r) rank rows matching [[pageRankInt]]'s
    * distributed output schema (id cast to `like`'s id type).
    */
  private def localRankResult(like: DataFrame,
                              deg: scala.collection.mutable.LongMap[Long],
                              r: scala.collection.mutable.LongMap[Long]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = like.sparkSession
    val rows = deg.keys.toSeq.sorted.map(id =>
      org.apache.spark.sql.Row(id, deg(id), r(id)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("d", LongType, nullable = false),
          StructField("r", LongType, nullable = false))))
      .select(col("id").cast(like.schema.head.dataType).as("id"),
        col("d"), col("r"))
  }

  /** PageRank with INTEGER arithmetic (ranks are longs scaled by
    * `scale`; every division is integral `div`), fixed iteration count,
    * over the undirected graph of `pairs`. Float PageRank is not
    * cross-engine comparable — double sums are addition-order-dependent
    * — but scaled-long ranks with integral division are bit-identical
    * on any engine and any partitioning, which makes a distributed run
    * oracle-checkable against unrolled SQL (q105). Damping is the
    * classic 0.85, applied as `(85 * x) div 100`.
    *
    * Scale shape: edges and degrees materialize once (checkpointed —
    * they are reused every iteration; an unbroken lineage would recompute
    * the signature pipeline per iteration). Each iteration is one
    * equi-join keyed on the edge source + one groupBy on the destination
    * — both map-side-combinable shuffles proportional to |E|. The node
    * count is the one driver-side scalar (same justification as the
    * k-means centroid collect: O(1), never the data). Isolated docs
    * (no duplicate edges) are out of scope: rank is only defined over
    * the pair graph's nodes.
    */
  def pageRankInt(pairs: DataFrame, aCol: String, bCol: String,
                  iters: Int, scale: Long = 1000000000L,
                  localLimit: Long = Shape.LocalRowLimit): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e0 = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .unionByName(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
    // bounded local twin ([[Shape.localRows]], r16): the fixed
    // iteration count and integral scaled-long arithmetic replay
    // exactly on the driver — every op below (div-by-degree, 85/100
    // damping, left-join coalesce to 0) is the same Long op the
    // distributed round computes, so ranks are bit-identical (spec'd
    // with localLimit = 0 forcing the distributed loop). Replaces
    // iters × (join + agg + checkpoint) actions with one bounded fetch.
    val localRows =
      if (Shape.integralIds(e0)) Shape.localRows(e0, localLimit) else None
    localRows match {
      case Some(rows) =>
        val edges = rowsToEdges(rows)
        val deg = scala.collection.mutable.LongMap.empty[Long]
        edges.foreach { case (u, _) => deg(u) = deg.getOrElse(u, 0L) + 1L }
        val n = deg.size.toLong
        val r0 = scale / n
        val base = (15L * r0) / 100L
        var r = scala.collection.mutable.LongMap.empty[Long]
        deg.keysIterator.foreach(id => r(id) = r0)
        for (_ <- 1 to iters) {
          val sums = scala.collection.mutable.LongMap.empty[Long]
          edges.foreach { case (u, v) =>
            sums(v) = sums.getOrElse(v, 0L) + r(u) / deg(u)
          }
          val next = scala.collection.mutable.LongMap.empty[Long]
          deg.keysIterator.foreach { id =>
            next(id) = base + (85L * sums.getOrElse(id, 0L)) / 100L
          }
          r = next
        }
        localRankResult(e0, deg, r)
      case None =>
        val e = e0.materialized
        val deg = e.groupBy("u").agg(count(lit(1)).as("d"))
          .select(col("u").as("id"), col("d"))
          .materialized
        val n = deg.count()
        val r0 = scale / n
        val base = (15L * r0) / 100L
        var r = deg.select(col("id"), col("d"), lit(r0).as("r"))
        for (_ <- 1 to iters) {
          val contrib = r.select(col("id").as("cid"), expr("r div d").as("c"))
          val sums = e.join(contrib, col("u") === col("cid"))
            .groupBy("v").agg(sum("c").as("s"))
          r = deg.join(sums, deg("id") === sums("v"), "left")
            .select(deg("id"), deg("d"),
              (lit(base) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("r"))
            .materialized
        }
        r
    }
  }

  /** Personalized PageRank ([[pageRankInt]] with the teleport
    * restricted to a seed set): every iteration returns the 15%
    * teleport mass ONLY to seeds, so rank measures proximity to the
    * seed set rather than global centrality — the "trust/spam
    * propagation from a labeled set" query (TrustRank, Gyöngyi et al.
    * 2004), and the smooth counterpart of [[bfsHops]]' hard radius.
    * Same scaled-long integer arithmetic, so ranks are bit-identical
    * across engines and partitionings. Seeds outside the pair graph
    * carry no edges and are out of scope (rank is defined over graph
    * nodes); the seed count within the graph is the one driver-side
    * scalar.
    *
    * Scale shape: identical to [[pageRankInt]] — one |E|-keyed join +
    * one destination agg per iteration, nodes/edges checkpointed once.
    */
  def personalizedPageRankInt(pairs: DataFrame, aCol: String, bCol: String,
                              seeds: DataFrame, seedCol: String, iters: Int,
                              scale: Long = 1000000000L,
                              localLimit: Long = Shape.LocalRowLimit): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e0 = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .unionByName(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
    val sd = seeds.select(col(seedCol).as("sid")).distinct()
    // bounded local twin (the [[pageRankInt]] shape with the teleport
    // restricted to seeds): the distinct-seed collect is the same
    // driver-side step the distributed twin's bfsHops sibling already
    // takes; everything else is the identical Long arithmetic. The
    // r>0 contributor filter is replayed verbatim so div-truncation
    // timing matches round for round.
    val localRows =
      if (Shape.integralIds(e0, sd)) Shape.localRows(e0, localLimit) else None
    localRows match {
      case Some(rows) =>
        val edges = rowsToEdges(rows)
        val deg = scala.collection.mutable.LongMap.empty[Long]
        edges.foreach { case (u, _) => deg(u) = deg.getOrElse(u, 0L) + 1L }
        val seedIds = sd.collect()
          .map(_.get(0).asInstanceOf[Number].longValue).toSet
        val isSeed = (id: Long) => seedIds.contains(id)
        val nSeeds = deg.keysIterator.count(isSeed).toLong
        require(nSeeds > 0, "no seed node appears in the pair graph")
        val r0 = scale / nSeeds
        val base = (15L * r0) / 100L
        var r = scala.collection.mutable.LongMap.empty[Long]
        deg.keysIterator.foreach(id => r(id) = if (isSeed(id)) r0 else 0L)
        for (_ <- 1 to iters) {
          val sums = scala.collection.mutable.LongMap.empty[Long]
          edges.foreach { case (u, v) =>
            if (r(u) > 0L) sums(v) = sums.getOrElse(v, 0L) + r(u) / deg(u)
          }
          val next = scala.collection.mutable.LongMap.empty[Long]
          deg.keysIterator.foreach { id =>
            next(id) = (if (isSeed(id)) base else 0L) +
              (85L * sums.getOrElse(id, 0L)) / 100L
          }
          r = next
        }
        localRankResult(e0, deg, r)
      case None =>
        val e = e0.materialized
        val deg = e.groupBy("u").agg(count(lit(1)).as("d"))
          .select(col("u").as("id"), col("d"))
        val nodes = deg.join(sd, deg("id") === sd("sid"), "left")
          .select(col("id"), col("d"), col("sid").isNotNull.as("is_seed"))
          .materialized
        val nSeeds = nodes.filter(col("is_seed")).count()
        require(nSeeds > 0, "no seed node appears in the pair graph")
        val r0 = scale / nSeeds
        val base = (15L * r0) / 100L
        var r = nodes.select(col("id"), col("d"), col("is_seed"),
          when(col("is_seed"), lit(r0)).otherwise(lit(0L)).as("r"))
        for (_ <- 1 to iters) {
          val contrib = r.filter(col("r") > 0)
            .select(col("id").as("cid"), expr("r div d").as("c"))
          val sums = e.join(contrib, col("u") === col("cid"))
            .groupBy("v").agg(sum("c").as("s"))
          r = nodes.join(sums, nodes("id") === sums("v"), "left")
            .select(nodes("id"), nodes("d"), nodes("is_seed"),
              (when(nodes("is_seed"), lit(base)).otherwise(lit(0L)) +
                expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("r"))
            .materialized
        }
        r.select("id", "d", "r")
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

  /** Multi-source BFS hop distance over an undirected pair list, capped
    * at `maxHops`: returns (id, hops) for every node within `maxHops`
    * of ANY seed — min over seeds, the "blast radius" query a dedup
    * pipeline runs from a known-bad set (spam cluster, contaminated
    * shard) to find everything transitively near it. Seeds not in the
    * graph report hops 0 (distance to themselves).
    *
    * Scale shape: per hop, ONLY the newest frontier (nodes first
    * reached the previous hop) joins the edge list — re-expanding
    * settled nodes would redo every earlier hop's work — then one
    * min-agg merges discoveries into the settled set. Both are |E|- or
    * |frontier|-bounded equi-key shuffles; per-iteration
    * localCheckpoint stops lineage growth (reliable checkpoint on a
    * cluster), the same doctrine as [[pageRankInt]]. The cap bounds
    * the round count — BFS depth, unlike the q84 star rounds, is NOT
    * log-compressed, so an uncapped high-diameter chain would mean
    * diameter rounds.
    */
  def bfsHops(pairs: DataFrame, aCol: String, bCol: String,
              seeds: DataFrame, seedCol: String, maxHops: Int,
              localLimit: Long = Shape.LocalRowLimit): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .unionByName(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .materialized
    var dist = seeds.select(col(seedCol).as("id")).distinct()
      .withColumn("hops", lit(0L)).materialized
    // bounded local twin ([[Shape.localRows]]): BFS layers ARE
    // the min-hop distances, so a driver BFS over the collected edges
    // equals the per-hop join+min-agg loop exactly (same cap, seeds
    // not in the graph still report 0). One bounded fetch of the
    // checkpointed edges replaces maxHops × (join + agg + checkpoint)
    // actions.
    val localRows =
      if (Shape.integralIds(e, dist)) Shape.localRows(e, localLimit) else None
    localRows match {
      case Some(rows) =>
        val adj = scala.collection.mutable.LongMap.empty[List[Long]]
        rowsToEdges(rows).foreach { case (u, v) =>
          adj(u) = v :: adj.getOrElse(u, Nil)
        }
        val hops = scala.collection.mutable.LongMap.empty[Long]
        var frontier = dist.collect()
          .map(_.get(0).asInstanceOf[Number].longValue).toSeq.distinct
        frontier.foreach(s => hops(s) = 0L)
        for (h <- 1 to maxHops) {
          frontier = frontier.flatMap(f => adj.getOrElse(f, Nil))
            .distinct.filterNot(hops.contains)
          frontier.foreach(n => hops(n) = h.toLong)
        }
        localResult(dist, hops, "id", "hops")
      case None =>
        for (h <- 1 to maxHops) {
          val frontier = dist.filter(col("hops") === (h - 1).toLong)
            .select(col("id").as("fid"))
          val next = e.join(frontier, col("u") === col("fid"))
            .select(col("v").as("id"), lit(h.toLong).as("hops"))
          dist = dist.unionByName(next)
            .groupBy("id").agg(min("hops").as("hops"))
            .materialized
        }
        dist
    }
  }

  /** A driver-computed (id → value) map as a DataFrame matching the
    * distributed twin's schema: id cast back to `like`'s id column
    * type, value as long, one partition (the [[Shape.LocalRowLimit]]
    * results are bounded by construction).
    */
  private def localResult(like: DataFrame,
                          m: scala.collection.mutable.LongMap[Long],
                          idName: String, valName: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = like.sparkSession
    val rows = m.toSeq.sortBy(_._1).map { case (n, v) =>
      org.apache.spark.sql.Row(n, v) }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField(idName, LongType, nullable = false),
          StructField(valName, LongType, nullable = false))))
      .select(col(idName).cast(like.schema.head.dataType).as(idName),
        col(valName))
  }

  /** Weighted multi-source shortest paths (Bellman-Ford, `maxHops`
    * relaxation rounds) over an undirected weighted pair list: returns
    * (id, dist) = the minimum total edge weight from ANY seed over
    * paths of at most `maxHops` edges — [[bfsHops]] with a cost model,
    * the "cheapest contamination route" form of the blast-radius query.
    * Integer weights, so min-of-sums is engine-exact.
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
    * oracle's bounded recursive CTE enumerates).
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
          val u = r.get(0).asInstanceOf[Number].longValue
          adj(u) = (r.get(1).asInstanceOf[Number].longValue,
            r.getLong(2)) :: adj.getOrElse(u, Nil)
        }
        val d = scala.collection.mutable.LongMap.empty[Long]
        var improved = dist.collect()
          .map(_.get(0).asInstanceOf[Number].longValue).toSeq.distinct
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
        localResult(dist, d, "id", "dist")
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

  /** WEIGHTED PageRank ([[pageRankInt]] with per-edge weights — the
    * TextRank formulation, Mihalcea & Tarau 2004): each node's rank
    * flows to neighbors proportionally to edge weight, contribution =
    * (r·w) div sw in exact scaled-long arithmetic (sw = the node's
    * total incident weight), damping (85·Σ) div 100 + the uniform 15%
    * base. On a near-complete graph (small shared vocabulary) the
    * UNWEIGHTED ranks collapse to uniform — the weights are what
    * differentiate nodes, which is why TextRank prescribes them.
    *
    * Scale shape identical to [[pageRankInt]]: edges and weight sums
    * materialize once, each iteration is one |E| equi-join + one
    * map-side-combinable sum, per-round localCheckpoint. Overflow:
    * r·w ≤ scale · max weight — fine while co-occurrence counts stay
    * below ~9·10⁹/scale (rescale first otherwise).
    */
  def weightedPageRankInt(edges: DataFrame, aCol: String, bCol: String,
                          wCol: String, iters: Int,
                          scale: Long = 1000000000L,
                          localLimit: Long = Shape.LocalRowLimit): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e0 = edges.select(col(aCol).as("u"), col(bCol).as("v"),
        col(wCol).cast("long").as("w"))
      .unionByName(edges.select(col(bCol).as("u"), col(aCol).as("v"),
        col(wCol).cast("long").as("w")))
    // bounded local twin ([[pageRankInt]] shape with per-edge weights):
    // contribution (r·w) div sw replayed per EDGE exactly as the
    // distributed round computes it — Long multiply, Long div — so
    // ranks are bit-identical (spec'd with localLimit = 0).
    val localRows =
      if (Shape.integralIds(e0)) Shape.localRows(e0, localLimit) else None
    localRows match {
      case Some(rows) =>
        val wedges = rows.map(r =>
          (r.get(0).asInstanceOf[Number].longValue,
            r.get(1).asInstanceOf[Number].longValue, r.getLong(2)))
        val sw = scala.collection.mutable.LongMap.empty[Long]
        wedges.foreach { case (u, _, w) => sw(u) = sw.getOrElse(u, 0L) + w }
        val n = sw.size.toLong
        val r0 = scale / n
        val base = (15L * r0) / 100L
        var r = scala.collection.mutable.LongMap.empty[Long]
        sw.keysIterator.foreach(id => r(id) = r0)
        for (_ <- 1 to iters) {
          val sums = scala.collection.mutable.LongMap.empty[Long]
          wedges.foreach { case (u, v, w) =>
            sums(v) = sums.getOrElse(v, 0L) + (r(u) * w) / sw(u)
          }
          val next = scala.collection.mutable.LongMap.empty[Long]
          sw.keysIterator.foreach { id =>
            next(id) = base + (85L * sums.getOrElse(id, 0L)) / 100L
          }
          r = next
        }
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val spark = edges.sparkSession
        val outRows = sw.keys.toSeq.sorted.map(id =>
          org.apache.spark.sql.Row(id, r(id)))
        spark.createDataFrame(
            spark.sparkContext.parallelize(outRows, 1),
            StructType(Seq(StructField("id", LongType, nullable = false),
              StructField("r", LongType, nullable = false))))
          .select(col("id").cast(e0.schema.head.dataType).as("id"), col("r"))
      case None =>
        val e = e0.materialized
        val sw = e.groupBy("u").agg(sum("w").as("swt"))
          .select(col("u").as("id"), col("swt"))
          .materialized
        val n = sw.count()
        val r0 = scale / n
        val base = (15L * r0) / 100L
        var r = sw.select(col("id"), col("swt"), lit(r0).as("r"))
        for (_ <- 1 to iters) {
          val contrib = r.select(col("id").as("cid"), col("r"), col("swt"))
          val sums = e.join(contrib, col("u") === col("cid"))
            .select(col("v"), expr("(r * w) div swt").as("c"))
            .groupBy("v").agg(sum("c").as("s"))
          r = sw.join(sums, sw("id") === sums("v"), "left")
            .select(sw("id"), sw("swt"),
              (lit(base) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("r"))
            .materialized
        }
        r.select(col("id"), col("r"))
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
        localResult(e, coreDeg, "id", "core_deg")
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
        localResult(e0, lab, "id", "lbl")
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
