package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Derived, Tables}

/** Iterative graph analytics beyond connected components
  * (DedupCluster): PageRank over the bipartite part↔supplier graph
  * implied by lineitem, with every arithmetic step INTEGER-QUANTIZED
  * so a fixed iteration count is bit-reproducible under any
  * partitioning AND replicable in the DuckDB oracle — float PageRank
  * sums in accumulation order, which no distributed engine can pin.
  *
  * Quantization: ranks are integers scaled by [[PrScale]]; each
  * iteration sends `pr div outdeg` along every edge (integer floor —
  * deterministic mass loss, same floor in both engines) and applies
  * damping as `0.15·scale + (sum·85) div 100` — all closed under
  * 64-bit integers.
  *
  * 100 TB shape: each iteration is one equi-join (edges ⋈ ranks, both
  * keyed by src) plus one map-side-combined aggregate keyed by dst —
  * the standard distributed PageRank step; edges are localCheckpointed
  * once and reused by all [[PrIters]] iterations. Nodes are encoded
  * part→2k, supplier→2k+1 so the two id spaces never collide; edges
  * carry both directions, so every node has outdeg ≥ 1 (no dangling
  * mass) and survives every iteration.
  */
object GraphQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Fixed iteration count — the oracle unrolls the same number. */
  val PrIters = 3

  /** Integer rank scale (1.0 ≙ 1,000,000). */
  val PrScale = 1000000L

  /** One edge-table build (distinct + checkpoint) per dataset
    * ([[graft.core.Derived.Memo]]): the graph is a pure function of
    * the data and is read by outdeg + every iteration of every
    * invocation. */
  private val edgeTable = Derived.Memo[DataFrame]("g5_edges")

  def g5Pagerank(s: SparkSession, dir: String): DataFrame = {
    val edges = edgesFor(s, dir)
    val outdeg = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"))
    var pr = outdeg.select(col("src").as("node"), lit(PrScale).as("pr"))
    for (_ <- 1 to PrIters) {
      val rate = pr
        .join(outdeg.withColumnRenamed("src", "node"), "node")
        .select(col("node").as("src"), expr("pr div outdeg").as("rate"))
      pr = edges.join(rate, "src")
        .groupBy(col("dst").as("node"))
        .agg((lit(PrScale * 15 / 100) +
          expr("(sum(rate) * 85) div 100")).as("pr"))
    }
    pr.select(col("node"), col("pr"))
  }

  /** Convergence-loop variant (VERDICT r12 task #6): g5's fixed 3
    * iterations demonstrate the step; real usage iterates to a
    * tolerance. 20 because the bipartite graph's rank mass
    * OSCILLATES between the two sides (period-2), so the L1 delta
    * decays only as the damping power 0.85^k — the 5% per-node bar
    * lands around k ≈ 18; a 15 cap was measured to bind before
    * convergence at sf0.01. */
  val PrbMaxIters = 20

  /** Per-node L1 tolerance: stop when the summed |Δpr| over all
    * nodes falls to 5% of [[PrScale]] per node. Integer, so the
    * convergence DECISION is bit-reproducible and the oracle can
    * replay it. */
  val PrbTolPerNode = PrScale / 20

  /** Power steps fused per materialization in [[g5bPagerankConverged]]
    * (VERDICT r16 task #1). Measured knee at sf0.1 (5-run medians):
    * block 3 → 3.65 s, 4 → 3.80, 5 → 4.24, 8 → 7.52 — the
    * accumulating frame carries one pr column per fused step, so
    * deeper blocks shuffle wider rows through more chained stages
    * and the win from fewer materializations reverses past ~4.
    * 4 also puts the measured pair-smoothed stop (k = 8 on every
    * corpus tried) exactly at a block boundary: two blocks, zero
    * wasted steps. */
  val PrbBlock = 4

  /** PageRank iterated to convergence: same integer-quantized power
    * step as [[g5Pagerank]], with an L1-delta stop on the
    * PAIR-SMOOTHED iterate sequence — the engine emits
    * `avg_k = (pr_{k−1} + pr_k) div 2` and stops at the FIRST step
    * k ≥ 2 where `Σ|avg_k − avg_{k−1}|` falls under
    * `n_nodes · PrbTolPerNode`, or at [[PrbMaxIters]]. The chosen
    * step count is emitted as `n_iters`, so the stopping decision
    * itself is part of the hash-compared result. Everything stays
    * exact 64-bit integer arithmetic, so the result is
    * bit-reproducible under any partitioning and the oracle replays
    * the loop data-independently (all stages unrolled, first
    * under-tolerance smoothed delta selected).
    *
    * Why smoothing (VERDICT r16 task #1, the iteration-count lever):
    * the part↔supplier graph is exactly BIPARTITE, so the damped
    * transition matrix's eigenvalues come in ± pairs and the error's
    * dominant component sits at −0.85 — rank mass OSCILLATES with
    * period 2 and plain consecutive deltas decay only as 0.85^k
    * (~18 steps to the 5% bar). Averaging consecutive iterates is
    * the standard periodic-chain remedy (the 2-term Cesàro smoothing
    * of the power sequence): the λ-component of the averaged error
    * is scaled by (1+λ)/2, which at λ = −0.85 is 0.075 — the
    * oscillating mode is cut ~13× while every smooth mode is barely
    * touched, so the smoothed sequence reaches the same per-node bar
    * in a small fraction of the steps AND the emitted ranks are
    * strictly closer to the fixed point than the raw iterate at its
    * own (later) stop. The power step itself is unchanged — only the
    * convergence check and the emitted vector read the smoothed
    * sequence.
    *
    * Block fusion (same task): per-step materialization + delta jobs
    * dominated the residual wall time, so power steps are fused
    * [[PrbBlock]] at a time. Every iterate shares the same node
    * universe (edges are bidirectional), so a block of consecutive
    * iterates rides as COLUMNS `pr_0..pr_B` of ONE frame: each
    * step's rate is a projection of the accumulating frame, its
    * aggregate joins back on `node`, and the block is
    * localCheckpointed ONCE; a single scan of the just-materialized
    * blocks yields every smoothed delta in the block, and the driver
    * picks the first converged step (steps computed past the stop
    * are discarded, never emitted). `outdeg` rides inside the frame
    * (VERDICT r15 task #2) so rates never re-join it; the rebase
    * carries the last TWO iterates so the first smoothed delta of
    * the next block spans the boundary. Superseded block checkpoints
    * are freed EAGERLY ([[org.apache.spark.sql.GraftSqlShims
    * .unpersistLocalCheckpoint]]) once their successor is
    * materialized — without this, every superseded rank table sits
    * in executor storage memory until driver GC notices (the r13
    * storage-pressure flag). */
  def g5bPagerankConverged(s: SparkSession, dir: String): DataFrame = {
    // r22: outdeg feeds ONLY the init frame now — the node count
    // (for the tolerance bar) rides the first block's delta aggregate
    // inside convergedRanks (every iterate keeps the full node
    // universe: edges are bidirectional), so the separate
    // outdeg.localCheckpoint + count() jobs are gone; the init frame
    // is materialized exactly once, inside convergedRanks.
    val edges = edgesFor(s, dir)
    val outdeg = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"))
    convergedRanks(edges,
      outdeg.select(col("src").as("node"), lit(PrScale).as("pr_0"),
        col("outdeg")))
  }

  /** Incremental PageRank — the index-maintenance discipline applied
    * to ITERATIVE analytics: when the delta orders (the standing
    * l_orderkey mod [[graft.sources.IndexStore.GraphDeltaMod]]
    * split) arrive, the merged graph's ranks are NOT recomputed from
    * the uniform vector; the engine warm-starts from the PERSISTED
    * converged ranks of the base graph
    * ([[graft.sources.IndexStore.ensureBaseRanks]] — a serving view
    * refreshed at base-rank build time, the graph_adj discipline),
    * with nodes new in the delta initialized at [[PrScale]]. The
    * power step, pair smoothing, and stop rule are IDENTICAL to
    * [[g5bPagerankConverged]] (shared [[convergedRanks]]), so the
    * emitted `n_iters` measures exactly what the warm start buys —
    * the from-scratch run needs 8 steps at every tested SF; the
    * warm start converges in the minimum checkable 2–3.
    *
    * The oracle replays BOTH phases data-independently (base
    * convergence unrolled, warm-start convergence unrolled from the
    * base selection), so one hash compare certifies the persisted
    * rank content AND the warm-start decision chain. */
  def g5cPagerankIncremental(s: SparkSession, dir: String): DataFrame = {
    val ranksPath = graft.sources.IndexStore.ensureBaseRanks(s, dir)
    val edges = edgesFor(s, dir)
    // same r22 shape as g5b: outdeg feeds only the warm-start init
    // (materialized once inside convergedRanks); the node count rides
    // the first delta aggregate
    val outdeg = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"))
    val init = outdeg.select(col("src").as("node"), col("outdeg"))
      .join(s.read.parquet(ranksPath), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("pr"), lit(PrScale)).as("pr_0"), col("outdeg"))
    convergedRanks(edges, init)
  }

  /** Converged ranks of the BASE-split part↔supplier graph, cold
    * start — what [[graft.sources.IndexStore.ensureBaseRanks]]
    * persists for the warm-start serve. */
  private[graft] def baseConvergedRanks(s: SparkSession,
      dir: String): DataFrame = {
    val M = graft.sources.IndexStore.GraphDeltaMod
    val pairs = Tables.lineitem(s, dir)
      .filter(pmod(col("l_orderkey"), lit(M.toLong)) < M - 1)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val fwd = pairs.select(
      (col("l_partkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .localCheckpoint() // consumed by outdeg + every iteration
    // r22: outdeg feeds only the init frame (node count rides the
    // first delta aggregate inside convergedRanks)
    val outdeg = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"))
    val ranks = convergedRanks(edges,
      outdeg.select(col("src").as("node"), lit(PrScale).as("pr_0"),
        col("outdeg")))
    // base build is one-shot per index refresh: free its private
    // edges checkpoint eagerly (the ranks rows themselves read only
    // convergedRanks' own materialized blocks)
    org.apache.spark.sql.GraftSqlShims.unpersistLocalCheckpoint(edges)
    ranks
  }

  /** Shared convergence driver for the cold ([[g5bPagerankConverged]],
    * [[baseConvergedRanks]]) and warm ([[g5cPagerankIncremental]])
    * starts: block-fused integer power steps with the pair-smoothed
    * L1 stop — see [[g5bPagerankConverged]]'s scaladoc for the full
    * derivation. `init` carries (node, pr_0, outdeg) over the edge
    * graph's out-node universe. The summed-|Δ| tolerance bar is
    * n_nodes × [[PrbTolPerNode]]; n_nodes rides the FIRST block's
    * delta aggregate (r22) — every iterate keeps the full node
    * universe (edges are bidirectional, so the per-step inner joins
    * drop nothing), so counting the materialized frame equals
    * counting outdeg, without the separate checkpoint + count jobs
    * each caller used to pay before the loop could start. */
  private def convergedRanks(edges: DataFrame,
      init: DataFrame): DataFrame = {
    // smoothed iterate i of the current frame; i = 0 spans the block
    // boundary via the rebased pr_m1 column
    def avgC(i: Int) =
      if (i == 0) expr("(pr_m1 + pr_0) div 2")
      else expr(s"(pr_${i - 1} + pr_$i) div 2")
    // the iterate carries (node, pr_0, outdeg): outdeg is constant,
    // so folding it into the frame makes every rate a pure projection
    var ckpt = init
      // LAZY checkpoint (r22): block 1's delta-scan aggregate is the
      // first action — it materializes init's blocks (and the whole
      // first block chained over them) in ONE job instead of paying a
      // separate init-materialization round-trip before the loop
      .localCheckpoint(false) // the iterate whose blocks we own + may free
    var done = 0            // completed power steps
    var tol = -1L           // n_nodes × PrbTolPerNode, set by block 1
    var result: DataFrame = null
    while (done < PrbMaxIters && result == null) {
      val b = math.min(PrbBlock, PrbMaxIters - done)
      // fuse b power steps into one lineage: iterate i's ranks join
      // back onto the accumulating frame as column pr_i
      var f = ckpt
      for (i <- 1 to b) {
        val rate = f.select(col("node").as("src"),
          expr(s"pr_${i - 1} div outdeg").as("rate"))
        f = f.join(edges.join(rate, "src")
          .groupBy(col("dst").as("node"))
          .agg((lit(PrScale * 15 / 100) +
            expr("(sum(rate) * 85) div 100")).as(s"pr_$i")), "node")
      }
      // LAZY checkpoint (r22): the delta-scan aggregate below is the
      // block's first action, so it materializes the block's blocks in
      // the same job — one scheduler round-trip per block instead of
      // checkpoint-job + delta-job. The superseded iterate is freed
      // only AFTER that aggregate returns (unchanged order below), so
      // the power steps still read its live blocks during
      // materialization.
      val next = f.localCheckpoint(false)
      // one scan of the just-materialized blocks yields every
      // smoothed delta in the block; the first block has no pr_m1,
      // so its checks start at global step 2 (avg_1 is the first
      // smoothed iterate — it has no predecessor to delta against).
      // The same scan carries the node count (constant across
      // iterates) that fixes the tolerance bar.
      val iMin = (if (done == 0) 2 else 1)
      val dExprs = (iMin to b).map(i =>
        sum(abs(avgC(i) - avgC(i - 1))).cast("long").as(s"d_$i")) :+
        count(lit(1)).cast("long").as("nn")
      val dRow = next.agg(dExprs.head, dExprs.tail: _*).head()
      if (tol < 0) tol = dRow.getLong(b - iMin + 1) * PrbTolPerNode
      val hit = (0 to b - iMin).indexWhere(j => dRow.getLong(j) <= tol)
      // the old iterate is fully superseded: next is materialized and
      // carries the boundary iterates, so nothing reads the old blocks
      org.apache.spark.sql.GraftSqlShims.unpersistLocalCheckpoint(ckpt)
      if (hit >= 0) {
        val i = iMin + hit
        done += i
        result = next.select(col("node"), avgC(i).as("pr"),
          lit(done).cast("int").as("n_iters"))
      } else {
        done += b
        // rebase for the next block: a projection of next's blocks,
        // no extra materialization (unpersisting ckpt later reaches
        // next's underlying RDD through the projection); the last two
        // iterates ride along so avg_0 spans the boundary
        ckpt = next.select(col("node"),
          col(s"pr_${b - 1}").as("pr_m1"), col(s"pr_$b").as("pr_0"),
          col("outdeg"))
      }
    }
    if (result != null) result
    else ckpt.select(col("node"), avgC(0).as("pr"),
      lit(done).cast("int").as("n_iters"))
  }

  /** One distinct (order, part) census + one basket pair census per
    * dataset — the expensive self-join subtree shared by the
    * g6_triangles and x27_copurchase SCAN twins (VERDICT r16 task
    * #4). Both derive purely from lineitem (never from index files),
    * so the scan twins remain independent certifiers of the persisted
    * graph index; they just stop paying for the identical subtree
    * twice per sweep. Memoized like [[edgeTable]]. */
  private val itemTable = Derived.Memo[DataFrame]("basket_items")
  private val pairTable = Derived.Memo[DataFrame]("basket_pairs")

  /** Distinct (o, p) = (l_orderkey, l_partkey) pairs, checkpointed. */
  private[graft] def basketItems(s: SparkSession, dir: String): DataFrame =
    itemTable(s, dir)(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
        .localCheckpoint())

  /** Unordered co-purchase part pairs with their order co-occurrence
    * counts: (u, v, pair_n), u < v. The groupBy keys ARE g6's edge
    * set; the counts are x27's pair support — one self-join serves
    * both scan twins. */
  private[graft] def basketPairCensus(s: SparkSession,
      dir: String): DataFrame =
    pairTable(s, dir) {
      val items = basketItems(s, dir)
      items.as("a")
        .join(items.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("u"), col("b.p").as("v"))
        .agg(count(lit(1)).as("pair_n"))
        .localCheckpoint()
    }

  private def edgesFor(s: SparkSession, dir: String): DataFrame =
    edgeTable(s, dir) {
      val pairs = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val fwd = pairs.select(
        (col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
        // hash-partition on src ONCE at build (union destroys the
        // upstream partitioning): every PageRank iteration joins
        // edges⋈rate on src, and the checkpoint preserves this
        // partitioning, so the BIG side never re-exchanges — only
        // the node-sized rate table shuffles per iteration
        .repartition(col("src"))
        .localCheckpoint() // consumed by outdeg + every iteration
    }

  /** Distributed triangle counting on the co-purchase graph (parts
    * joined by a shared order) — the MapReduce classic (Suri &
    * Vassilvitskii, WWW'11): orient every undirected edge from its
    * lower-(degree, id) endpoint, enumerate wedges only at each
    * node's out-neighborhood, and close them against the oriented
    * edge list. Orientation bounds per-node wedge fanout by
    * O(sqrt(|E|)) on skewed graphs — the hub that breaks the naive
    * u<v<w triple join is exactly the node the orientation silences.
    *
    * Graph choice (r12): parts-per-ORDER, not suppliers-per-part —
    * the supplier universe is so small that by sf0.1 its co-supply
    * graph saturated to the COMPLETE K₁₀₀₀ (499,500 = C(1000,2)
    * edges, 1.66e8 triangles, 26 s of pure output enumeration);
    * the part graph stays sparse at every SF (sf0.1: 20k nodes,
    * 1.2M edges, 1.9M triangles) and is the market-basket graph
    * x27 mines pairwise.
    *
    * 100 TB shape: equi-joins only, no inequality-only join
    * anywhere: edge build groups on orderkey (parts-per-order is
    * basket-bounded), and the closure is the EDGE-ITERATOR — each
    * oriented edge meets the two endpoints' sorted out-neighbor
    * arrays (size ≤ O(√E) by the orientation) and counts their
    * intersection in a codegen'd expression, so the exchange
    * carries |E| adjacency-decorated edges, never the wedge fanout.
    * The triangle COUNT is orientation-invariant, so the oracle can
    * use the simple id-ordered triple join — same number, different
    * (quadratic-in-hub) plan that is fine at oracle scale. */
  def g6Triangles(s: SparkSession, dir: String): DataFrame =
    // the basket self-join is the expensive subtree, feeds THREE
    // consumers here (degree census, orientation, edge count) AND the
    // x27_copurchase scan twin — one memoized checkpoint serves all
    // (VERDICT r16 task #4); the census groupBy keys are exactly the
    // distinct edge set
    triangleClosure(s, dir, basketPairCensus(s, dir)
      .select(col("u"), col("v")))

  /** g6's serve twin off the persisted co-purchase graph index
    * (VERDICT r15 task #1; serving view since r18): the expensive
    * subtrees — the basket self-join over lineitem AND the
    * degree-census + orientation + adjacency build — are both
    * replaced by a scan of the persisted `graph_adj` serving view
    * (refreshed by [[graft.sources.IndexStore.ensureGraphEdges]]
    * after every append batch); only the edge-iterator closure join
    * runs at serve time. The closure tail is byte-identical to the
    * scan twin's (same [[closureFromAdjacency]]), so the shared
    * oracle hash certifies the persisted adjacency content — and
    * transitively the pair census it was derived from — end-to-end.
    * lineitem AND graph_pairs are absent from the serve plan
    * (GraphIndexSpec asserts only graph_adj/graph_stats files are
    * read). */
  def g6TrianglesIndexed(s: SparkSession, dir: String): DataFrame = {
    val gp = graft.sources.IndexStore.ensureGraphEdges(s, dir)
    s.read.parquet(gp.stats)
      .crossJoin(closureFromAdjacency(s, s.read.parquet(gp.adj)))
  }

  /** Per-node degree census of an undirected (u < v) edge set. */
  private[graft] def nodeDegrees(edges: DataFrame): DataFrame =
    edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))

  /** Degree-ordered orientation → sorted adjacency lists
    * (node, nbrs): each undirected edge points from its
    * lower-(degree, id) endpoint, which bounds every out-degree by
    * O(√E) on skewed graphs — the hub that breaks the naive
    * u<v<w triple join is exactly the node the orientation silences.
    * Shared by the scan twin (computed in-plan) and the index build
    * (persisted as the `graph_adj` serving view). */
  private[graft] def orientedAdjacency(edges: DataFrame): DataFrame =
    orientedAdjacency(edges, nodeDegrees(edges))

  /** Variant taking a pre-materialized degree census: the census is a
    * full 2|E| union + aggregate, and this plan consumes it TWICE
    * (u-side and v-side decoration joins) — callers that also need it
    * for stats (triangleClosure's n_nodes, the graph-view build)
    * checkpoint it once and pass it in, so the edge set is
    * degree-scanned exactly once per invocation. */
  private[graft] def orientedAdjacency(edges: DataFrame,
      deg: DataFrame): DataFrame = {
    edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(when(
          struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t")))
        .as("e"))
      .select(col("e.s").as("node"), col("e.t").as("dst"))
      .groupBy(col("node"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
  }

  /** Edge-iterator closure over sorted adjacency: a triangle with
    * oriented edges a→b, a→c, b→c is counted exactly once, at edge
    * (a,b), as a common out-neighbor c ∈ N⁺(a) ∩ N⁺(b). Exploding
    * the adjacency re-enumerates every oriented edge WITH its
    * source's array already attached (out-degree ≤ O(√E) by the
    * orientation), so one equi-join fetches the dst's array and the
    * codegen'd sorted-merge `intersect_count` closes the wedge
    * in-place — the wedge-join formulation shuffled ~70M wedge rows
    * at sf0.1 (11.5 s). */
  private[graft] def closureFromAdjacency(s: SparkSession,
      adj: DataFrame): DataFrame = {
    graft.functions.IntersectCount.ensureRegistered(s)
    // The oriented edge stream is exploded SLIM — (src, dst) longs
    // only — and each endpoint's array joins in from the node-sized
    // adjacency table. Carrying nbrs_src through the explode instead
    // (one join fewer) plans catastrophically: the exploded side's
    // size estimate stays at the adj file size, so the planner
    // broadcast |E| array-carrying rows (measured 9 s/run at sf0.1
    // vs 0.3 s this shape). With slim pairs every input estimate is
    // honest, so the planner broadcasts adj while it fits and
    // degrades to a shuffle on 8-byte keys — never a sort or
    // exchange of array-carrying rows — when it does not.
    adj.select(col("node").as("src"), explode(col("nbrs")).as("dst"))
      .join(adj.select(col("node").as("src"),
        col("nbrs").as("nbrs_src")), Seq("src"))
      .join(adj.select(col("node").as("dst"),
        col("nbrs").as("nbrs_dst")), Seq("dst"))
      // native sorted-merge count: no per-pair hash table, no
      // materialized intersection array (adjacency is sort_array'd)
      // coalesce restores 0-on-empty: on a graph where the adjacency
      // join drops every row (e.g. a single-edge corpus) sum()
      // yields NULL while the oracle's count(*) yields 0
      .agg(coalesce(sum(call_function("intersect_count",
        col("nbrs_src"), col("nbrs_dst"))), lit(0L))
        .cast("long").as("n_triangles"))
  }

  /** Orientation + closure over a materialized undirected edge set
    * (u < v) — the part of [[g6Triangles]] both twins share (the
    * serve twin enters at [[closureFromAdjacency]] with the
    * persisted adjacency). */
  private def triangleClosure(s: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
    // the degree census (a 2|E| union + aggregate) has THREE
    // consumers per invocation — both orientation joins and the
    // n_nodes stat — so it is slot-checkpointed once (node-sized).
    // Lazy: its blocks materialize inside the adjacency checkpoint's
    // job, so the slot adds no scheduler round-trip (guide §1.2).
    val deg = Derived.slotLazy("g6_deg", s, dir)(nodeDegrees(edges))
    // consumed twice (explode side + dst side of the closure join)
    val adj = Derived.slot("g6_adj", s, dir)(orientedAdjacency(edges, deg))
    val tri = closureFromAdjacency(s, adj)
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val ne = edges.agg(count(lit(1)).as("n_edges"))
    nn.crossJoin(ne).crossJoin(tri)
  }

  val queries: Map[String, Q] = Map(
    "g5_pagerank" -> (g5Pagerank _),
    "g5b_pagerank_converged" -> (g5bPagerankConverged _),
    "g5c_pagerank_incremental" -> (g5cPagerankIncremental _),
    "g6_triangles" -> (g6Triangles _),
    "g6_triangles_indexed" -> (g6TrianglesIndexed _)
  )

  /** The g5c oracle: both convergence phases unrolled. `chain(p)`
    * emits one full smoothed-convergence replay (iterations, paired
    * stages, deltas, first-under-tolerance selection) over CTEs
    * ${p}edges/${p}outdeg/${p}pr0 — the g5b unroll, parameterized by
    * prefix so the base (`b`) and warm (`w`) phases coexist; the
    * warm init coalesces the base selection's ranks with the
    * cold-start constant for delta-only nodes, exactly the engine's
    * left join. */
  private def g5cOracleSql: String = {
    val M = graft.sources.IndexStore.GraphDeltaMod
    def chain(p: String): String = {
      val its = (1 to PrbMaxIters).map { i =>
        s"""${p}it$i AS MATERIALIZED (SELECT e.dst AS node,
           |  CAST(${PrScale * 15 / 100} + (sum(q.pr // o.outdeg) * 85) // 100 AS BIGINT) AS pr
           |FROM ${p}edges e
           |JOIN ${if (i == 1) s"${p}pr0" else s"${p}it${i - 1}"} q ON e.src = q.node
           |JOIN ${p}outdeg o ON o.src = e.src
           |GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      val avgs = (1 to PrbMaxIters).map { k =>
        val prev = if (k == 1) s"${p}pr0" else s"${p}it${k - 1}"
        s"""${p}av$k AS MATERIALIZED (SELECT a.node, CAST((b.pr + a.pr) // 2 AS BIGINT) AS pr
           |FROM ${p}it$k a JOIN $prev b ON a.node = b.node)""".stripMargin
      }.mkString(",\n")
      val deltas = (2 to PrbMaxIters).map { k =>
        s"""${p}d$k AS MATERIALIZED (SELECT $k AS it, CAST(sum(abs(a.pr - b.pr)) AS BIGINT) AS d
           |FROM ${p}av$k a JOIN ${p}av${k - 1} b ON a.node = b.node)""".stripMargin
      }.mkString(",\n")
      val allD = (2 to PrbMaxIters)
        .map(i => s"SELECT it, d FROM ${p}d$i").mkString("\nUNION ALL ")
      val allS = (1 to PrbMaxIters)
        .map(i => s"SELECT $i AS it, node, pr FROM ${p}av$i")
        .mkString("\nUNION ALL ")
      its + ",\n" + avgs + ",\n" + deltas + s""",
        |${p}dd AS ($allD),
        |${p}chosen AS (SELECT coalesce(min(it), $PrbMaxIters) AS it
        |               FROM ${p}dd
        |               WHERE d <= (SELECT count(*) FROM ${p}pr0)
        |                 * $PrbTolPerNode),
        |${p}stages AS ($allS)""".stripMargin
    }
    s"""WITH bpairs AS (SELECT DISTINCT l_partkey, l_suppkey
       |               FROM lineitem WHERE l_orderkey % $M < ${M - 1}),
       |bedges AS MATERIALIZED (SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |           FROM bpairs
       |           UNION ALL
       |           SELECT l_suppkey * 2 + 1, l_partkey * 2 FROM bpairs),
       |boutdeg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM bedges GROUP BY src),
       |bpr0 AS MATERIALIZED (SELECT src AS node, $PrScale::BIGINT AS pr FROM boutdeg),
       |${chain("b")},
       |brank AS MATERIALIZED (SELECT s.node, s.pr FROM bstages s, bchosen c
       |          WHERE s.it = c.it),
       |wpairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
       |wedges AS MATERIALIZED (SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |           FROM wpairs
       |           UNION ALL
       |           SELECT l_suppkey * 2 + 1, l_partkey * 2 FROM wpairs),
       |woutdeg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM wedges GROUP BY src),
       |wpr0 AS MATERIALIZED (SELECT o.src AS node,
       |           CAST(coalesce(b.pr, $PrScale) AS BIGINT) AS pr
       |         FROM woutdeg o LEFT JOIN brank b ON b.node = o.src),
       |${chain("w")}
       |SELECT s.node, s.pr, CAST(c.it AS INTEGER) AS n_iters
       |FROM wstages s, wchosen c WHERE s.it = c.it""".stripMargin
  }

  /** The oracle unrolls the [[PrIters]] iterations as CTE stages —
    * all-integer arithmetic, so every rank hash-compares. */
  val oracle: Map[String, String] = {
    // PrScale interpolated, never re-hard-coded (ADVICE r11): the
    // engine derives 150000 as PrScale*15/100, so the oracle must too
    val base =
      s"""WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |edges AS MATERIALIZED (SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |          FROM pairs
        |          UNION ALL
        |          SELECT l_suppkey * 2 + 1, l_partkey * 2 FROM pairs),
        |outdeg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        |pr0 AS (SELECT src AS node, $PrScale::BIGINT AS pr FROM outdeg)""".stripMargin
    def iterCtes(n: Int): String = (1 to n).map { i =>
      s"""it$i AS MATERIALIZED (SELECT e.dst AS node,
         |  CAST(${PrScale * 15 / 100} + (sum(p.pr // o.outdeg) * 85) // 100 AS BIGINT) AS pr
         |FROM edges e
         |JOIN ${if (i == 1) "pr0" else s"it${i - 1}"} p ON e.src = p.node
         |JOIN outdeg o ON o.src = e.src
         |GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    val iters = iterCtes(PrIters)
    // convergence replay (g5b): unroll ALL PrbMaxIters power stages,
    // form each PAIR-SMOOTHED stage avg_k = (it_{k-1} + it_k) // 2,
    // take each smoothed stage's L1 delta vs its predecessor, and
    // select rows from smoothed stage min{k ≥ 2 : Δk ≤ n_nodes·tol}
    // (else the cap) — the data-independent SQL image of the
    // engine's stop-at-first loop over the smoothed sequence
    val avgs = (1 to PrbMaxIters).map { k =>
      val prev = if (k == 1) "pr0" else s"it${k - 1}"
      s"""av$k AS MATERIALIZED (SELECT a.node, CAST((b.pr + a.pr) // 2 AS BIGINT) AS pr
         |FROM it$k a JOIN $prev b ON a.node = b.node)""".stripMargin
    }.mkString(",\n")
    val deltas = (2 to PrbMaxIters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT $k AS it, CAST(sum(abs(a.pr - b.pr)) AS BIGINT) AS d
         |FROM av$k a JOIN av${k - 1} b ON a.node = b.node)""".stripMargin
    }.mkString(",\n")
    val allDeltas = (2 to PrbMaxIters)
      .map(i => s"SELECT it, d FROM d$i").mkString("\nUNION ALL ")
    val allStages = (1 to PrbMaxIters)
      .map(i => s"SELECT $i AS it, node, pr FROM av$i")
      .mkString("\nUNION ALL ")
    val convergedSql =
      base + ",\n" + iterCtes(PrbMaxIters) + ",\n" + avgs + ",\n" +
        deltas + s""",
        |dd AS ($allDeltas),
        |chosen AS (SELECT coalesce(min(it), $PrbMaxIters) AS it
        |           FROM dd
        |           WHERE d <= (SELECT count(*) FROM pr0) * $PrbTolPerNode),
        |stages AS ($allStages)
        |SELECT s.node, s.pr, CAST(c.it AS INTEGER) AS n_iters
        |FROM stages s, chosen c WHERE s.it = c.it""".stripMargin
    Map("g5_pagerank" ->
      (base + ",\n" + iters + s"\nSELECT node, pr FROM it$PrIters"),
      "g5b_pagerank_converged" -> convergedSql,
      "g5c_pagerank_incremental" -> g5cOracleSql,
      // the count is orientation-invariant: the oracle's id-ordered
      // triple join and the engine's degree-ordered wedge closure
      // agree on the number while having very different hub behavior.
      // The indexed twin shares this scan-semantics oracle verbatim:
      // a hash match certifies the persisted graph_pairs content
      // (build + delta append + serve) against the from-scratch
      // derivation, the dd_minhash_indexed discipline.
      "g6_triangles" -> g6OracleSql,
      "g6_triangles_indexed" -> g6OracleSql)
  }

  // lazy: referenced from the `oracle` val's initializer above —
  // a plain val here would still be null at that point (object
  // fields initialize in declaration order)
  private lazy val g6OracleSql =
    """WITH pairs AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |              FROM lineitem),
      |edges AS (SELECT DISTINCT x.p AS u, y.p AS v
      |          FROM pairs x JOIN pairs y
      |            ON x.o = y.o AND x.p < y.p),
      |nodes AS (SELECT u AS n FROM edges
      |          UNION SELECT v FROM edges),
      |tri AS (SELECT count(*) AS c
      |        FROM edges e1
      |        JOIN edges e2 ON e2.u = e1.v
      |        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
      |  (SELECT count(*) FROM edges) AS n_edges,
      |  (SELECT c FROM tri) AS n_triangles""".stripMargin
}
