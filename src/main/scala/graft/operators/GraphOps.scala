package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge relations — the link-graph
  * companion to the anchor-extraction side of the engine (the reference
  * builds anchor/link graphs — pig/ExtractAnchorText and the J1 anchor
  * join family — but leaves ranking to downstream consumers; a
  * training-data pipeline needs the rank signal in-engine to weight or
  * filter pages by centrality).
  *
  * PageRank here is the simplified formulation without dangling-mass
  * redistribution (rank sourced at sinks leaks; standard for quality
  * weighting where only the relative ordering matters):
  *
  *   r_{i+1}(v) = (1-d)/N + d * Σ_{(u,v)∈E} r_i(u)/outdeg(u)
  *
  * Scale shape (100 TB link graph):
  *  - the edge relation is joined to out-degrees ONCE and
  *    `localCheckpoint`ed (materialized hash-partitioned on `src`,
  *    lineage truncated, blocks freed by the context cleaner — the same
  *    discipline as `DedupOps.connectedComponents`); every iteration
  *    then shuffles only the rank table (O(N) rows of (long, double)) to
  *    meet it — the edge set (O(E), the big side) never re-shuffles
  *    after the first pass.
  *  - per-iteration work is one join + one hash aggregation with
  *    map-side partial sums; no windows, no collect (the single
  *    `nodes.count()` is a one-scalar action for the teleport constant).
  *  - iteration count is fixed (rank deltas converge geometrically in
  *    d); for long runs, `localCheckpoint` every few rounds truncates
  *    lineage exactly as `DedupOps.connectedComponents` does.
  */
object GraphOps {

  /** Multi-source frontier BFS: shortest hop distance from any seed,
    * bounded by `maxHops` rounds — seed-set reachability and distance
    * labeling (the crawl-frontier / influence-radius primitive; pair
    * with a reversed edge relation for undirected semantics).
    * Level-synchronous: a node first reached in round k has distance
    * exactly k, so each round joins only the FRONTIER (nodes discovered
    * last round) against the edges, anti-joins out everything already
    * reached, and appends.
    *
    * Scale shape: per round, one join of the O(frontier) relation
    * against the edge relation + one anti-join against O(reached); the
    * edge relation localCheckpoints ONCE (hash-partitioned,
    * lineage-truncated — the pagerank discipline) and never re-shuffles;
    * frontier and dist localCheckpoint per round, so plan depth stays
    * constant in `maxHops` (the lever this repo applies to every
    * iterative operator). Rounds after the frontier empties are cheap
    * no-ops — fixed `maxHops` avoids a per-round driver count action.
    * Unreached nodes are simply absent: at 100 TB the unreached
    * complement is the bigger relation.
    *
    * Returns (node, dist), dist ∈ [0, maxHops]. */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be non-negative, got $maxHops")
    // all checkpoints in the hop loop are LAZY (localCheckpoint(false)):
    // there is no intermediate action, so the single final action
    // materializes each hop's blocks on first touch; the only
    // double-consumer (frontier feeds both the union and the next hop's
    // join) re-reads a cached block or at worst replays one
    // shuffle-read stage — the per-hop eager materialization job it
    // replaces was pure scheduling floor (the CC fixpoint measurement)
    val e = edges.select(col("src"), col("dst")).localCheckpoint(false)
    var dist = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(false)
    var frontier = dist
    for (_ <- 1 to maxHops) {
      val reached = frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node"), (col("dist") + 1L).as("dist"))
        .groupBy("node").agg(min("dist").as("dist"))
      frontier = reached.join(dist, Seq("node"), "left_anti")
        .localCheckpoint(false)
      dist = dist.unionByName(frontier).localCheckpoint(false)
    }
    dist
  }

  /** PageRank over `edges` (`src: long, dst: long`; parallel edges should
    * be pre-deduplicated by the caller if unweighted semantics are
    * intended). Returns (node, rank).
    *
    * Dangling-node semantics: the rank mass of sink nodes (no out-edges)
    * is DROPPED each round, not redistributed uniformly — the standard
    * simplification; with sinks present, total rank converges below 1
    * (each round's sum = teleport·N + damping·(mass held by non-sinks)).
    * The oracle replays the same law, so the gate pins this choice;
    * Round12Spec asserts the per-round sum identity on a graph with
    * sinks. */
  def pagerank(edges: DataFrame, iters: Int, damping: Double = 0.85,
               checkpointEvery: Int = 5): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    // checkpointed like `weighted`: `nodes` appears in EVERY iteration's
    // plan (the teleport re-join), so without materialization the
    // union+distinct over the raw edge relation — the widest scan in the
    // operator — would recompute once per round. LAZY: the count()
    // below is nodes' first action and materializes its blocks before
    // any round reads them; `weighted` and the mid-run rank
    // checkpoints have strictly sequential consumers (round i+1
    // depends on round i), so the eager variant's extra job per
    // checkpoint was pure scheduling floor (the CC fixpoint law).
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val outdeg = e.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg"))
    // one co-partitioned (src, dst, outdeg) relation reused every round
    val weighted = e.join(outdeg, "src").localCheckpoint(false)
    val n = nodes.count().toDouble
    val teleport = (1.0 - damping) / n
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (i <- 1 to iters) {
      val contribs = weighted
        .join(ranks, weighted("src") === ranks("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("outdeg")).as("contrib"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) + lit(damping) * coalesce(col("contrib"), lit(0.0)))
            .as("rank"))
      // truncate the per-round join lineage before it compounds (the
      // rank table is O(N) (long, double) rows; lazy — next round is
      // its only consumer)
      if (i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint(false)
    }
    ranks
  }

  /** Personalized PageRank: the teleport mass concentrates on `seeds`
    * (1/|S| each) instead of spreading uniformly — proximity TO THE
    * SEEDS, the recommendation / related-entities primitive (nodes
    * rank high only if random walks from the seeds reach them). Same
    * per-round shape as [[pagerank]]: one weighted contribution join +
    * one teleport re-join per iteration, checkpointed edge/node
    * relations, rank table O(N) throughout. Sink-node (dangling) mass
    * is dropped, not redistributed — see [[pagerank]]'s scaladoc; the
    * oracle replays the same law. */
  def personalizedPagerank(edges: DataFrame, seeds: Seq[Long], iters: Int,
                           damping: Double = 0.85,
                           checkpointEvery: Int = 5): DataFrame = {
    require(seeds.nonEmpty, "personalizedPagerank needs at least one seed")
    val e = edges.select(col("src"), col("dst"))
    // lazy checkpoints throughout — same sequential-consumer analysis
    // as [[pagerank]] (no action until the caller's, rounds chain)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val outdeg = e.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg"))
    val weighted = e.join(outdeg, "src").localCheckpoint(false)
    val seedBase = when(col("node").isin(seeds: _*),
      lit(1.0 / seeds.size)).otherwise(lit(0.0d))
    var ranks = nodes.withColumn("rank", seedBase)
    for (i <- 1 to iters) {
      val contribs = weighted
        .join(ranks, weighted("src") === ranks("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("outdeg")).as("contrib"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * seedBase +
            lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"))
      if (i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint(false)
    }
    ranks
  }

  /** Neighbor-set Jaccard similarity between node pairs of a bipartite
    * (src → dst) edge relation — link-based node similarity: two
    * suppliers are similar when they serve overlapping part sets, two
    * users when they touch overlapping items (the item-item /
    * collaborative-filtering primitive, and the graph-side sibling of
    * the shingle-based document Jaccard in DedupOps).
    *
    * Same 100 TB candidate discipline as the dedup inverted index:
    * pairs generate ONLY through a shared dst (self-join on dst with
    * src_a < src_b — never node × node), and hub dsts with more than
    * `maxDf` sources are excluded first (a dst shared by everyone
    * contributes ~nothing to similarity but ~all of the pair
    * blow-up; same argument as the high-df shingle cut). Counts and
    * degrees are exact integers; Jaccard |∩| / (|A| + |B| − |∩|) is
    * one final division.
    *
    * Output: (src_a, src_b, n_common, deg_a, deg_b, jaccard) for pairs
    * with `minCommon`+ shared dsts. Degrees count only sub-maxDf dsts,
    * keeping numerator and denominator in the same universe (a pair
    * sharing exclusively hub dsts shows 0 common, not a skewed ratio). */
  def nodeSimilarity(edges: DataFrame, maxDf: Int = 64,
                     minCommon: Int = 2): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
    val small = fanOutByKey(e.join(
      e.groupBy("dst").agg(count(lit(1)).as("ddf"))
        .filter(col("ddf") <= maxDf).select("dst"),
      Seq("dst")), "dst")
    val deg = small.groupBy("src").agg(count(lit(1)).as("deg"))
    val common = small.as("a")
      .join(small.as("b"), col("a.dst") === col("b.dst") &&
        col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    common
      .join(deg.select(col("src").as("src_a"), col("deg").as("deg_a")), "src_a")
      .join(deg.select(col("src").as("src_b"), col("deg").as("deg_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_common"), col("deg_a"),
        col("deg_b"),
        round(col("n_common").cast("double") /
          (col("deg_a") + col("deg_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
  }

  /** r19 shape fix for the Σdf² pair-explosion stages (guide §3,
    * exploding join — replaces the r18 per-query AQE
    * coalesce-floor session clone, which encoded a 64 KB magic number
    * against the current coalescer's byte-based sizing): an EXPLICIT
    * hash exchange on the self-join key, with a pinned partition count
    * AQE will not coalesce. Why it matters: the post-hub-cut edge
    * relation is tiny on the wire (~1 MB at sf0.1) so the byte-based
    * coalescer folds it to 1-3 partitions — but the downstream
    * self-join emits up to maxDf× the input rows per partition, so the
    * explosion ran near single-threaded. Partition count =
    * max(defaultParallelism, spark.sql.shuffle.partitions): follows
    * the hardware/cluster config rather than a local constant, and at
    * real scale only ever RAISES parallelism above what the coalescer
    * would pick for a small-byte shuffle (for a big edge relation the
    * configured shuffle partitioning governs, unchanged). Both
    * self-join sides read the one exchange, so the join itself adds no
    * further shuffle. */
  private[graft] def fanOutByKey(df: DataFrame, key: String): DataFrame = {
    val ss = df.sparkSession
    val parts = math.max(ss.sparkContext.defaultParallelism,
      ss.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    df.repartition(parts, col(key))
  }

  /** Fixed-point scale for [[linkPredict]]'s resource-allocation sum:
    * each 1/deg term is the exact integer ⌊10¹²/deg⌋, so the per-pair
    * sum stays in BIGINT (headroom: overflow needs n_common > 9.2·10⁶
    * shared neighbors on one pair — far past any real candidate set;
    * an LCM(1..64)-scaled DECIMAL(38,0) variant was exact to the last
    * rational digit but its decimal HashAggregate over the ~sum-df²
    * candidate rows cost 2.5× the whole long-arithmetic query). Both
    * engines compute the identical integral divides, so parity is
    * bit-exact by construction. The quantization (< 10⁻¹² relative per
    * term) can surface at the emitted 6-decimal floor only when the
    * TRUE RA sum lands exactly on a 10⁻⁶ boundary (e.g. three shared
    * neighbors of degree 3: exact RA 1.0 emits 0.999999 — one ulp
    * low); parity, not exactness, is the contract, and both engines
    * replay the identical integer divides either way. */
  private[graft] val raScale = 1000000000000L

  /** Link prediction over a bipartite (src → dst) edge relation —
    * common-neighbor count plus the resource-allocation index
    * (Zhou, Lü & Zhang, Eur. Phys. J. B 2009): RA(a, b) =
    * Σ_{z ∈ N(a)∩N(b)} 1/deg(z), the degree-penalized sibling of the
    * raw common-neighbor score (a dst shared by few nodes is stronger
    * evidence than one shared by many). RA beats Adamic-Adar's
    * 1/ln(deg) here for a structural reason too: 1/deg runs as the
    * exact fixed-point integer ⌊[[raScale]]/deg⌋, so the whole score
    * is a plain BIGINT sum — order-free, partial-aggregatable, no
    * libm, no float fold at all. The emitted `ra` floors the score at
    * 6 decimals: one integral divide, then one IEEE division by 10⁶ —
    * engine-identical by construction.
    *
    * Candidate discipline is [[nodeSimilarity]]'s: pairs generate ONLY
    * through a shared dst (self-join on dst, src_a < src_b), hub dsts
    * past `maxDf` cut first, so candidate volume is Σ_dst df² over
    * sub-cap dsts — never node × node.
    *
    * Output: top `k` pairs by (exact ra_num DESC, src_a, src_b) with
    * `minCommon`+ shared dsts — (src_a, src_b, n_common, ra). */
  def linkPredict(edges: DataFrame, maxDf: Int = 64, minCommon: Int = 2,
                  k: Int = 50): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
    val small = fanOutByKey(e.join(
      e.groupBy("dst").agg(count(lit(1)).as("ddf"))
        .filter(col("ddf") <= maxDf),
      Seq("dst")), "dst")
    small.as("a")
      .join(small.as("b"), col("a.dst") === col("b.dst") &&
        col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr(s"$raScale div a.ddf")).as("ra_num"))
      .filter(col("n_common") >= minCommon)
      .orderBy(col("ra_num").desc, col("src_a").asc, col("src_b").asc)
      .limit(k)
      .select(col("src_a"), col("src_b"), col("n_common"),
        (expr(s"ra_num div ${raScale / 1000000L}").cast("double") /
          lit(1000000.0d)).as("ra"))
  }

  /** Triangle census over an undirected edge list — (n_edges, n_wedges,
    * n_triangles) in one row. Degree-ordered orientation (Schank &
    * Wagner's node-iterator / Suri & Vassilvitskii's MR formulation):
    * edges orient from the (degree, id)-smaller endpoint to the larger,
    * so every node's out-degree is O(√m) and each triangle {a≺b≺c} is
    * generated by exactly ONE wedge (at its ≺-smallest vertex) and
    * closed by one id-canonical edge lookup.
    *
    * Scale shape: the wedge join is keyed on the wedge center, the
    * closing join on the (x, y) edge pair — no node's neighborhood list
    * is ever materialized as a row, and the orientation bounds total
    * wedge count by O(m^1.5) regardless of skew (a hub node's edges
    * mostly point INTO it, so it centers few wedges). The tiny edge and
    * orientation relations localCheckpoint because three counts reuse
    * them. */
  def triangleStats(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint()
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.v").as("x"), col("e2.v").as("y"))
    val tris = wedges.join(und.select(col("a").as("x"), col("b").as("y")),
      Seq("x", "y"))
    und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(tris.agg(count(lit(1)).as("n_triangles")))
  }

  /** Local clustering coefficient per node — `(node, deg, n_tri, coeff)`
    * with coeff = 2·T(v) / (deg·(deg−1)) over nodes of degree ≥ 2. Same
    * degree-ordered orientation as [[triangleStats]]: each triangle is
    * found exactly once at its ≺-smallest vertex, then credits all three
    * corners through a 3-row explode (O(triangles) rows, never a
    * neighborhood materialization). The coefficient is one double
    * division over two exact integers, so it replays identically on any
    * engine.
    *
    * Scale shape: identical joins to the census (wedge join on the
    * center, closing join on the id-canonical edge) plus one
    * node-keyed count — the per-node output is O(nodes), and the
    * O(m^1.5) wedge bound means skew cannot blow up any single key. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val tris = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("u"), col("e1.v").as("x"), col("e2.v").as("y"))
      .join(und.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"))
    val triPerNode = tris
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.filter(col("deg") >= 2)
      .join(triPerNode, Seq("node"), "left_outer")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coeff", round(lit(2.0) * col("n_tri") /
        (col("deg") * (col("deg") - 1)), 6))
  }

  /** Bounded-round k-core peel — `rounds` iterations of "drop every node
    * of current degree < k, and every edge touching one", returning the
    * surviving `(node, deg)` with degrees measured in the final subgraph.
    * Bounded-round semantics (like the two-round HITS/label-prop rows):
    * both this operator and its oracle run EXACTLY `rounds` passes, so
    * the result is deterministic whether or not the peel has reached its
    * fixpoint — callers wanting the true k-core raise `rounds` until a
    * round removes nothing.
    *
    * Scale shape per round: one node-keyed degree count + two semi-joins
    * of the edge list against the O(nodes) survivor set — never a
    * neighborhood list, never more state than the shrinking edge list,
    * which localCheckpoints each round to keep plan depth O(1). */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k>=1, rounds>=1; got $k, $rounds")
    // LAZY checkpoints: the peel has no intermediate action, so the
    // final degree count materializes every round's edge list on first
    // touch; within a round the degree subtree and the semi-join left
    // side share their shuffle stages (stage dedup), so the worst-case
    // double-consumer cost is one cached-block re-read — the eager
    // variant's per-round materialization job (rounds × jobs) was the
    // driver-bench floor the r12 audit flagged.
    var e = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(false)
    for (_ <- 1 to rounds) {
      val alive = e.select(col("a").as("node"))
        .unionByName(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("node"))
      e = e.join(alive.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(alive.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .localCheckpoint(false)
    }
    e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Bounded-round k-truss peel (Cohen 2008): drop every edge whose
    * triangle SUPPORT (number of triangles through it) is below k−2,
    * re-count, repeat — the edge-level sibling of [[kcore]]'s node
    * peel, and the standard dense-community extractor that survives
    * hub nodes a k-core keeps. Bounded-round semantics like kcore:
    * engine and oracle both run EXACTLY `rounds` passes; the returned
    * (a, b, support) carries the support measured in the FINAL
    * surviving subgraph (0 for an edge whose triangles all died in
    * the last peel).
    *
    * Scale shape per round: triangles enumerate through the
    * degree-ORIENTED wedge join (each triangle exactly once from its
    * lowest-degree corner — the graph_triangles orientation, wedge
    * fanout bounded by arboricity·|E|, never degree²·hubs), one
    * streamed shuffle-hash closure semi-join against the distinct edge
    * set (the edge set builds, the wedge stream never sorts), and one
    * explode+keyed count crediting each triangle's three edges in a
    * single pass; the shrinking edge list lazily checkpoints per
    * round (the r13 fixpoint law). */
  def ktruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1, s"need k>=3, rounds>=1; got $k, $rounds")
    var e = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(false)
    // Size-adaptive closure strategy: below the threshold the original
    // 3-branch shape runs (closure joins are cheap at that scale and
    // the three small aggregations overlap on idle cores); above it
    // the join is FORCED to shuffled-hash (edge set builds, the ~m·w̄
    // wedge stream streams) with single-explode credits, because the
    // alternative — sort-merge — externally sorts the wedge stream
    // once PER BRANCH: the spill that killed the m=400× probe at
    // >60 GB (r17). The threshold is deliberately LOW: 8M edges
    // ≈ 128 MB of (long, long) builds comfortably at ≥16 partitions,
    // and the true cost driver is wedge volume ~ Σ C(deg⁺, 2), which
    // a dense graph pushes to billions of rows well before m itself
    // looks large — the ×100 co-order replica carries only 29.9M
    // edges yet its wedge stream OOM'd the 3-branch shape (measured,
    // PLANS.md round 18). Streaming a mid-size graph that could have
    // used the small shape costs ~20%; sorting a dense graph that
    // needed the streamed shape kills the job. The count per run is
    // one cheap scan of the already-checkpointed edge list.
    val bigEdges = 8000000L
    def support(ed: DataFrame, big: Boolean): DataFrame = {
      val deg = ed.select(col("a").as("node"))
        .unionByName(ed.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val ori = ed
        .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
        .select(
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
            col("a")).otherwise(col("b")).as("u"),
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
            col("b")).otherwise(col("a")).as("v"))
      // Closure + support in ONE pass over the wedge stream (r17 judge
      // item 2 — the m=400× probe died on >60 GB of spill):
      //  - the three per-triangle edge credits emit through one
      //    explode instead of three unionByName branches — the old
      //    shape re-ran the closure join (and, at scale, its sort
      //    spill) once per branch, since only Exchanges are reused
      //    across branches;
      //  - the partial aggregation after the explode runs on data
      //    that is clique-LOCAL on dense graphs: a partition holding a
      //    clique's C(w,3) triangles folds to ≤ 3·C(w,2) distinct
      //    edges in-memory, so the final exchange carries near-m
      //    rows, not triangle-stream volume.
      // Net disk at scale: one wedge-volume exchange instead of ~four
      // copies (and below the broadcast threshold, ZERO — see
      // bigEdges above).
      val closing = ed.select(col("a").as("w1"), col("b").as("w2"))
      val tri = ori.as("x").join(ori.as("y"),
          col("x.u") === col("y.u") && col("x.v") < col("y.v"))
        .select(col("x.u").as("w0"), col("x.v").as("w1"),
          col("y.v").as("w2"))
        .join(if (big) closing.hint("shuffle_hash") else closing,
          Seq("w1", "w2"), "left_semi")
      if (big)
        tri.select(explode(array(
            struct(least(col("w0"), col("w1")).as("a"),
              greatest(col("w0"), col("w1")).as("b")),
            struct(least(col("w0"), col("w2")).as("a"),
              greatest(col("w0"), col("w2")).as("b")),
            struct(col("w1").as("a"), col("w2").as("b")))).as("t"))
          .select(col("t.a").as("a"), col("t.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("support"))
      else
        // below the threshold the closure is a broadcast join (no
        // wedge exchange at all), so re-running it per branch is
        // cheap and the three small aggregations OVERLAP on idle
        // cores — measured ~0.9 s faster than the one-pass explode at
        // sf0.1 (A/B in PLANS.md round 18); at scale the overlap
        // inverts into 3× the spill, hence the explode above
        tri.select(least(col("w0"), col("w1")).as("a"),
            greatest(col("w0"), col("w1")).as("b"))
          .unionByName(tri.select(least(col("w0"), col("w2")).as("a"),
            greatest(col("w0"), col("w2")).as("b")))
          .unionByName(tri.select(col("w1").as("a"), col("w2").as("b")))
          .groupBy("a", "b").agg(count(lit(1)).as("support"))
    }
    // one strategy decision per run, on the pre-peel edge count: peels
    // only shrink e, so a graph judged big may stream a round it could
    // have broadcast (correct, merely conservative), and a small graph
    // pays exactly one count job
    val big = e.count() > bigEdges
    for (_ <- 1 to rounds) {
      e = e.join(support(e, big).filter(col("support") >= k - 2),
          Seq("a", "b"), "left_semi")
        .localCheckpoint(false)
    }
    e.join(support(e, big), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Bounded-round SCC coloring over a DIRECTED edge relation — the
    * one-pass "coloring" step of forward-backward SCC decomposition
    * (Fleischer/Hendrickson/Pinar 2000): after `rounds` min-label
    * propagation rounds in each direction, f(v) = min id among nodes
    * that reach v within `rounds` hops (v included) and b(v) = min id
    * among nodes v reaches. f(v) == b(v) == m proves m ⇄ v within the
    * hop bound, so v sits in SCC(m); a node the pass does not resolve
    * keeps its own id as a singleton color (`resolved` = false) — at
    * scale the next peel recurses on the unresolved remainder, exactly
    * like [[kcore]]'s bounded-round contract (the oracle unrolls the
    * same rounds, not a fixpoint).
    *
    * Scale shape: the de-duplicated edge relation localCheckpoints once
    * per direction and never re-shuffles; each round is one
    * (labels ⋈ edges) join plus a min hash-aggregation over O(N) label
    * rows with map-side partial mins. All checkpoints are lazy — a
    * strictly sequential fixpoint (the round-13 eager-vs-lazy law). */
  def sccColor(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(false)
    def minLabel(ed: DataFrame): DataFrame = {
      // round 1 against the identity labeling IS the edge list itself
      // (label of src = src) — no join needed, one shuffle saved per
      // direction; the oracle's f1/b1 CTEs replay the same shortcut
      var lab = nodes.withColumn("label", col("node"))
        .unionByName(ed.select(col("dst").as("node"),
          col("src").as("label")))
        .groupBy("node").agg(min("label").as("label"))
        .localCheckpoint(false)
      for (_ <- 2 to rounds) {
        val incoming = ed.join(lab, ed("src") === lab("node"))
          .select(ed("dst").as("node"), col("label"))
        lab = lab.unionByName(incoming)
          .groupBy("node").agg(min("label").as("label"))
          .localCheckpoint(false)
      }
      lab
    }
    // the two direction chains stay INDEPENDENT subtrees (an r18
    // fused direction-tagged variant halved the round stages but
    // serialized the two colorings — probed 0.5-0.9 s SLOWER at sf0.1
    // because the chains overlap on idle cores, the ktruss small-path
    // lesson); only the finish changed: union+pivot aggregation
    // instead of the fwd ⋈ bwd self-join (guide §2.4 — one exchange
    // of 2N tagged label rows replaces two join exchanges + the join)
    val fwd = minLabel(e)
    val bwd = minLabel(e.select(col("dst").as("src"), col("src").as("dst")))
    fwd.select(col("node"), lit(0).as("dir"), col("label"))
      .unionByName(bwd.select(col("node"), lit(1).as("dir"), col("label")))
      .groupBy("node")
      .agg(min(when(col("dir") === 0, col("label"))).as("f"),
        min(when(col("dir") === 1, col("label"))).as("b"))
      .select(col("node"), col("f"), col("b"),
        when(col("f") === col("b"), col("f")).otherwise(col("node"))
          .as("scc_id"),
        (col("f") === col("b")).as("resolved"))
  }
}
