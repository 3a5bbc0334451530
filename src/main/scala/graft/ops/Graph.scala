package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession.table
import graft.Materialize.MaterializeOps

/** Iterative graph analytics over relationship tables.
  *
  * The reference's engine has exactly one iterative behavior — the
  * map/reduce phase barrier (`/root/reference/src/mapreduce/master.go:147-165`)
  * — but an analytics engine over entity tables needs whole-graph
  * iteration (influence ranking, community detection). Connected
  * components already lives in Dedup.connectedComponents (min-label
  * propagation); this module adds the other canonical iterative-join
  * workload, PageRank, in the same bounded-state shape:
  *
  *  - the edge list is static: repartitioned on the per-round join key
  *    ONCE and materialized through the graft.Materialize seam
  *    (localCheckpoint locally; reliable checkpoint under
  *    `spark.graft.reliableCheckpoint=true` on a cluster), so each
  *    round shuffles only the small per-node rank table, never the
  *    edges;
  *  - the rounds run on graft.Fixpoint, which cuts every few rounds and
  *    releases superseded cuts — resident state is O(|nodes|) regardless
  *    of rounds;
  *  - rank arithmetic is integral (micro-units, floor division), so the
  *    result is bit-identical across engines and partitionings — the
  *    determinism contract every registered query carries.
  *
  * At 100 TB the same plan holds: edges hash-partition by src across
  * the cluster, each iteration is one co-partitioned join plus one
  * group-by-dst exchange of |nodes| rows, and no stage ever holds more
  * than a partition of edges plus its rank slice.
  */
object Graph {

  /** PageRank over an undirected bipartite trade graph: customer c and
    * supplier s are linked when at least one of c's orders contains a
    * line supplied by s. Supplier nodes are offset by +1,000,000 to
    * share one BIGINT node id space.
    *
    * Fixed-point formula (damping 0.85, micro-unit integers, floor
    * division — exact on any engine):
    *   r_0(n)     = 1,000,000
    *   r_{k+1}(n) = 150,000 + (85 * sum_{(m,n) in E} (r_k(m) div deg(m))) div 100
    *
    * Because the graph is symmetric, every node has in- and out-edges:
    * no dangling-mass term is needed and each round's aggregate covers
    * every node.
    */
  def pageRank(spark: SparkSession, sfDir: String,
               iters: Int = 3, topK: Int = 20): DataFrame = {
    // the two id families share one BIGINT space via the supplier
    // offset; a custkey at or above the offset would silently merge a
    // customer with a supplier (sf>=10 custkeys reach 1.5M, and the
    // oracle shares the constant so the hash-compare could not catch
    // it) — guard in-plan so the collision RAISES instead
    val pairs = tradePairs(spark, sfDir)
      .select(
        when(col("c") < lit(1000000L), col("c"))
          .otherwise(raise_error(lit(
            "pageRank: o_custkey >= 1,000,000 collides with the supplier " +
              "node-id offset — raise the offset (and its oracle twin)")))
          .as("c"),
        (col("s") + lit(1000000L)).as("s"))
    // layout built per call, NOT store-served: graph_pagerank is its only
    // registered consumer and the ≥2-consumer contract (StoreContractSpec)
    // forbids caching single-consumer results; the expensive shared layer
    // (the orders⋈lineitem pair list) still serves from tradePairs
    pageRankFromPairs(pairs, iters)
      .select(col("node"),
        when(col("node") >= 1000000L, "supplier").otherwise("customer").as("kind"),
        col("r").as("rank_micros"))
      .orderBy(col("rank_micros").desc, col("node").asc)
      .limit(topK)
  }

  /** Core iteration over an arbitrary bipartite pair list (columns
    * `c`, `s`; node ids must already be disjoint). Exposed so specs can
    * pin hand-computed ranks on a toy graph. Returns (node, r).
    *
    * Rounds on a small graph are scheduling-overhead-bound at the
    * session's batch width, so the loop runs at ~100k edges/partition
    * (capped at the session setting). The returned table is cut flat,
    * so the per-call layout releases as soon as the loop returns.
    */
  def pageRankFromPairs(pairs: DataFrame, iters: Int): DataFrame =
      graft.Fixpoint("pageRank") { loop =>
    val (edges, deg) = pageRankLayout(pairs, loop)
    val ranks = loop.iterate(deg.select(col("node"), lit(1000000L).as("r")), iters) {
      (ranks, _) =>
        val contrib = ranks.join(deg, "node")
          .select(col("node").as("src"), expr("r div outdeg").as("contrib"))
        edges.join(contrib, Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(expr("150000L + (85 * sum(contrib)) div 100").as("r"))
    }
    loop.cut(ranks)
  }

  /** Builds the static per-run edge layout: symmetrized edges
    * repartitioned on the round join key, plus out-degrees — the two
    * tables every round re-reads, cut once per call.
    */
  private def pageRankLayout(pairs: DataFrame,
                             loop: graft.Fixpoint): (DataFrame, DataFrame) = {
    // cut the pair derivation ONCE: it feeds the edge-count (partition
    // sizing) and BOTH symmetrize branches — without the cut the
    // producing join would run three times. A frame that is already
    // flat (the store-served tradePairs) is used as is; its store owns
    // its lifecycle.
    val p = if (graft.Materialize.isFlat(pairs)) pairs else loop.cut(pairs)
    val sym = p.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(p.select(col("s").as("src"), col("c").as("dst")))
    val parts = graft.Rebalance.edgeWidth(p.sparkSession, p.count() * 2)
    // `parts` rides the edge relation's explicit repartition only — no
    // spark.conf.set (session-global, would bleed into concurrent
    // queries; ConcurrencySpec). The per-round contrib join
    // co-partitions to the edge side's width automatically; the rank
    // re-aggregation runs at session width with AQE coalescing.
    val edges = loop.cut(sym.repartition(parts, col("src")))
    val deg = loop.cut(edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg")))
    (edges, deg)
  }

  /** The scale-invariant co-supplier edge set shared by the triangle
    * census and the k-core peel: u < v canonical pairs whose shared
    * order count is >= strengthPpm of the smaller partner's own order
    * count (see [[triangleCensus]] for why a RATIO rule, not an
    * absolute threshold). Returned localCheckpoint'd — every caller
    * reads it multiple times.
    */
  private def coSupplierEdges(spark: SparkSession, sfDir: String,
                              strengthPpm: Long): DataFrame =
    // run-lifetime edge-artifact store (the Dedup.fuzzyGraphStore
    // pattern): the co-supplier graph is ONE artifact per corpus
    // snapshot and strength threshold — triangles, the k-core peel
    // and the LPA communities all analyze the same edges, so the
    // fact-table self-join runs once per run, not once per consumer.
    coSupplierEdgeStores.getOrBuild(spark, sfDir, Seq("lineitem"), strengthPpm) {
      coSupplierEdgesUncached(spark, sfDir, strengthPpm)
    }

  private val coSupplierEdgeStores =
    graft.ArtifactStore.frames("graph.coSupplierEdges")

  private def coSupplierEdgesUncached(spark: SparkSession, sfDir: String,
                                      strengthPpm: Long): DataFrame = {
    val so = table(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
      .distinct()
    val no = so.groupBy("s").agg(count(lit(1)).as("n_orders"))
    so.as("a")
      .join(so.as("b"), col("a.ok") === col("b.ok") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("u"), col("b.s").as("v"))
      .agg(count(lit(1)).as("shared"))
      .join(no.select(col("s").as("u"), col("n_orders").as("nu")), Seq("u"))
      .join(no.select(col("s").as("v"), col("n_orders").as("nv")), Seq("v"))
      .filter(expr(s"(1000000 * shared) div least(nu, nv) >= $strengthPpm"))
      .select("u", "v")
      .materialized
  }

  /** The distinct customer->supplier trade pair list (columns c, s) —
    * the shared raw-edge artifact behind [[pageRank]] and [[hits]]:
    * one orders⋈lineitem join + distinct per corpus snapshot, stored
    * for the run. Both tables are in the key: regenerating orders alone
    * must rebuild the edges too.
    */
  private def tradePairs(spark: SparkSession, sfDir: String): DataFrame =
    tradePairStores.getOrBuild(spark, sfDir, Seq("lineitem", "orders")) {
      table(spark, sfDir, "orders")
        .join(table(spark, sfDir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct()
        .materialized
    }

  private val tradePairStores =
    graft.ArtifactStore.frames("graph.tradePairs")

  /** graph_triangles: exact triangle census of the co-supplier graph
    * (suppliers linked when they ship lines of the SAME order) — the
    * third canonical graph workload next to PageRank and connected
    * components, and the basis of the global clustering coefficient
    * (how clique-ish the supply network is; a spam/collusion signal on
    * entity graphs generally).
    *
    * The edge rule is SCALE-INVARIANT: u and v are linked only when
    * their shared-order count is at least `strengthPpm` of the
    * smaller partner's own order count ("a regular partner appears in
    * >= 1% of my orders"). An absolute co-occurrence threshold would
    * drift with fact volume — double the order history and every
    * casual pairing crosses it, densifying the graph toward complete
    * (the synthetic corpus IS near-complete on raw co-occurrence);
    * the ratio rule keeps edge semantics and census cost stable as
    * facts grow, because shared counts and per-supplier totals scale
    * together.
    *
    * Scale shape — the degree-ordered node-iterator (Schank & Wagner
    * 2005): every edge is ORIENTED from its lower endpoint by
    * (degree, id); a triangle then has exactly ONE node with both
    * out-edges (its (deg,id)-minimum), so wedges = the self-join of
    * the oriented edge list on that node, and each hub's fanout is
    * bounded by its ORIENTED out-degree, O(sqrt |E|) — a star node
    * contributes ZERO oriented wedges instead of deg^2. The closing
    * check is one semi-join back to the canonical edge set. Edge
    * building is per-order: order sizes are bounded (TPC-H <= 7
    * lines), so the pair explode is linear in lineitem; the vertex
    * set is the supplier DIMENSION, so census cost is independent of
    * fact growth by construction.
    *
    * Output (one audit row): n_nodes, n_edges, n_wedges (ALL wedges,
    * sum d(d-1)/2 — the clustering-coefficient denominator),
    * n_triangles, global_cc_milli = (3000 * tri) div wedges.
    */
  def triangleCensus(spark: SparkSession, sfDir: String,
                     strengthPpm: Long = 10000L): DataFrame = {
    // one pass feeds degrees, orientation and closure
    val e = coSupplierEdges(spark, sfDir, strengthPpm)
    val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val ed = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("lo"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("hi"))
    val tri = ed.as("e1")
      .join(ed.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.hi").as("u"), col("e2.hi").as("v"))
      // the wedge pair is ordered by id, matching e's canonical form
      .join(e, Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("d")) / 2).cast("long").as("n_edges"),
      sum(expr("(d * (d - 1)) div 2")).as("n_wedges"))
    stats.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0L, expr("(3000 * n_triangles) div n_wedges"))
          .otherwise(lit(0L)).as("global_cc_milli"))
  }

  /** graph_kcore: k-core peeling over the co-supplier graph — the
    * degeneracy decomposition behind "who is in the densely connected
    * trading core" (and, on document/entity graphs generally, the
    * spam-farm and boilerplate-cluster detector: a k-core survives
    * only if every member keeps k qualified partners AFTER weak nodes
    * drop out, which no star or chain can fake). Each round recomputes
    * degrees over the surviving subgraph and drops nodes below k; the
    * round count is FIXED (the [[pageRank]] fixed-iteration contract —
    * the oracle replays rounds as chained CTEs), so the output is the
    * `rounds`-step peel, converged iff a round removes nothing.
    *
    * Scale shape: each round is one bounded degree aggregation plus
    * two semi-joins on node ids (the two reads of the survivor set
    * share one exchange). The peeled edge table is cut within its
    * round: the next round reads it twice, for degrees and for the
    * semi-joins. Node ids never leave the plan; nothing collects.
    *
    * Output: (node, d) for nodes with >= 1 surviving edge after the
    * peel, d = degree in the peeled subgraph, ordered by node.
    */
  def kCore(spark: SparkSession, sfDir: String, k: Int = 3,
            rounds: Int = 3, strengthPpm: Long = 10000L): DataFrame =
      graft.Fixpoint("kCore") { loop =>
    loop.iterate(coSupplierEdges(spark, sfDir, strengthPpm), rounds) { (e, round) =>
      val surv = e.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select("n")
      round.cut(e.join(surv.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(surv.select(col("n").as("v")), Seq("v"), "left_semi"))
    }.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .orderBy("node")
  }

  /** graph_hits: HITS hubs & authorities (Kleinberg 1999) over the
    * DIRECTED customer->supplier trade graph — the second canonical
    * link-analysis algorithm next to [[pageRank]], and the one that
    * answers a different question: PageRank ranks global influence on a
    * symmetric walk; HITS separates the two ROLES of a bipartite
    * market (a hub customer buys from many good suppliers; an
    * authority supplier is bought from by many good hubs — mutually
    * recursive by definition, which is why one score cannot express
    * it).
    *
    * Fixed-point iteration in exact integers: hub_0 = 1,000,000;
    * auth = sum of linked hubs, hub = sum of linked (rescaled) auths,
    * each rescaled to max 1,000,000 by floor division after every
    * half-step (the power-iteration normalization, integral so the
    * oracle replays it as chained CTEs — the emb_pca_power rescale
    * discipline). Sums and the rescale product accumulate in
    * DECIMAL(38,0): 1e6-scale scores times 1e12-edge hubs would wrap a
    * BIGINT.
    *
    * Scale shape: the [[pageRankFromPairs]] loop contract — the edge
    * list is cut once PER HALF-STEP KEY (a c-partitioned and
    * an s-partitioned copy, the CSR/CSC duplication); each half-step is
    * then one co-partitioned join of the bounded score table plus one
    * map-side-combinable sum; the 1-row max broadcasts back (never a
    * collect).
    *
    * Output: (kind, node, score_micros) — top `topK` suppliers by
    * authority and customers by hub score, (score desc, node asc).
    */
  def hits(spark: SparkSession, sfDir: String,
           iters: Int = 3, topK: Int = 10): DataFrame = {
    val pairs = tradePairs(spark, sfDir)
    // per call, not store-served — same ≥2-consumer contract as pageRank
    val (hub, auth) = hitsFromPairs(pairs, iters)
    val top = auth.select(lit("authority").as("kind"), col("s").as("node"),
        col("score").as("score_micros"))
      .orderBy(col("score_micros").desc, col("node").asc).limit(topK)
      .unionByName(
        hub.select(lit("hub").as("kind"), col("c").as("node"),
          col("score").as("score_micros"))
          .orderBy(col("score_micros").desc, col("node").asc).limit(topK))
    top.orderBy(col("kind"), col("score_micros").desc, col("node").asc)
  }

  /** Core HITS rounds over an arbitrary (c, s) pair list — package-
    * visible so GraphSpec can pin an independent exact-integer replay.
    * Returns (hub(c, score), auth(s, score)), scores in micros.
    */
  private[graft] def hitsFromPairs(pairs: DataFrame,
                                   iters: Int): (DataFrame, DataFrame) =
      graft.Fixpoint("hits") { loop =>
    val (edgesByC, edgesByS) = hitsLayout(pairs, loop)
    // the PRE-rescale sum is referenced twice (the 1-row max subquery
    // and the main frame), so it is cut within its round; the rescale
    // output is referenced once by the next half-step, so it rides as a
    // shallow crossJoin over the cut. A lazy persist in place of the
    // eager cut measured 2.3x worse (3.2 -> 7.3 s): with nothing forcing
    // the cache, the nested adaptive broadcast subtrees re-execute
    // uncached prefixes before each level's cache fills.
    def rescaled(raw: DataFrame, key: String): DataFrame = {
      val mx = raw.agg(max(col("raw")).as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col(key),
          expr("(1000000 * cast(raw as decimal(38,0))) div mx").as("score"))
    }
    def summed(edges: DataFrame, scores: DataFrame, by: String, to: String) =
      edges.join(scores, Seq(by)).groupBy(to)
        .agg(sum(col("score").cast("decimal(38,0)")).as("raw"))
    var auth: DataFrame = null
    val hub = loop.iterate(edgesByC.select("c").distinct()
        .withColumn("score", lit(1000000L)), iters) { (hub, round) =>
      auth = rescaled(round.cut(summed(edgesByC, hub, "c", "s")), "s")
      rescaled(round.cut(summed(edgesByS, auth, "s", "c")), "c")
    }
    (loop.cut(hub), loop.cut(auth))
  }

  /** Builds the static per-run HITS edge layout. TWO cut edge copies,
    * one per half-step join key: the auth step joins hubs on c, the hub
    * step joins auths on s — a single c-partitioned copy would
    * re-exchange the full edge list on s EVERY round; pre-partitioning
    * each copy once makes every half-step one co-partitioned join of the
    * bounded score table (2x edge storage, the standard CSR/CSC
    * duplication of every graph engine), paid once per call.
    */
  private def hitsLayout(pairs: DataFrame,
                         loop: graft.Fixpoint): (DataFrame, DataFrame) = {
    // already-flat input (the store-served tradePairs) is used as is —
    // see pageRankLayout
    val p = if (graft.Materialize.isFlat(pairs)) pairs else loop.cut(pairs)
    val parts = graft.Rebalance.edgeWidth(p.sparkSession, p.count())
    (loop.cut(p.repartition(parts, col("c"))),
      loop.cut(p.repartition(parts, col("s"))))
  }

  /** graph_communities: community detection via SYNCHRONOUS label
    * propagation (Raghavan, Albert & Kumara 2007) over the co-supplier
    * graph — the fourth graph workload next to PageRank, components and
    * the triangle census, and the one that answers a different question
    * than connectivity: k-core finds the dense CORE, components find
    * REACHABILITY, LPA finds the dense GROUPS (trading blocs here;
    * template farms / mirror federations on document-link graphs).
    *
    * Every node starts labeled with its own id; each round it adopts
    * the most frequent label among its NEIGHBORS, ties broken to the
    * smallest label — fully deterministic, unlike the randomized
    * asynchronous textbook form (determinism is the engine's oracle
    * contract). The round count is FIXED (the [[pageRank]] fixed-
    * iteration contract: the oracle replays rounds as chained CTEs);
    * LPA on near-clique communities stabilizes in 2-3 rounds.
    *
    * Scale shape: a round is ONE hash join of the |V|-row label table
    * onto the (static, checkpointed) symmetric edge list plus TWO
    * map-side-combinable aggregations — the (node, label) vote count,
    * then the per-node argmax via max(struct(cnt, -label)), never a
    * per-node window or a collected neighbor list. A hot node's votes
    * collapse to one partial row per (node, label) per input partition,
    * so a star hub costs |labels-seen| rows, not degree. Each round
    * references the label table exactly once — lineage linear in
    * rounds, so the default 3 rounds run uncut.
    *
    * Output: (node, community) for every node with >= 1 qualified edge,
    * ordered by node; community = the converged label (communities are
    * named by one member's id, NOT guaranteed to be the member minimum
    * — LPA labels are votes, not minima).
    */
  def communities(spark: SparkSession, sfDir: String, rounds: Int = 3,
                  strengthPpm: Long = 10000L): DataFrame =
    communitiesFromEdges(coSupplierEdges(spark, sfDir, strengthPpm), rounds)

  /** Core LPA rounds over an arbitrary canonical (u, v) edge list —
    * package-visible so GraphSpec can pin hand-computed labels on a
    * barbell graph. */
  private[graft] def communitiesFromEdges(e: DataFrame, rounds: Int): DataFrame =
      graft.Fixpoint("communities") { loop =>
    val sym = loop.cut(e.select(col("u").as("src"), col("v").as("dst"))
      .union(e.select(col("v").as("src"), col("u").as("dst"))))
    // the symmetric view lists every node as src at least once
    val init = sym.select(col("src").as("n")).distinct()
      .withColumn("label", col("n"))
    loop.iterate(init, rounds) { (labels, _) =>
      sym
        .join(labels.select(col("n").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("best"))
        .select(col("src").as("n"), (-col("best.neg")).as("label"))
    }.select(col("n").as("node"), col("label").as("community"))
      .orderBy("node")
  }
}
