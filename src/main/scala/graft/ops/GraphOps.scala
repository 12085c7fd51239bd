package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-CLUSTER resolution: near-dup PAIRS (the LSH output) are only
  * half of dedup — to actually drop documents you need the connected
  * components of the pair graph and one elected survivor per component
  * (a–b and b–c similar ⇒ {a,b,c} is one cluster even if a–c never met in
  * an LSH bucket).
  *
  * Algorithm: minimum-label propagation (Pregel-style). Every node starts
  * labeled with its own id; each round a node takes the min label across
  * itself and its neighbors — one equi-join (edges ⋈ labels on src) plus
  * one shuffle-on-node min-aggregation per round, both map-side combined.
  * Fixpoint detection is O(1) per round: labels only ever decrease, so an
  * unchanged global label SUM means no label moved (one scalar action, no
  * data to the driver). Rounds needed = component diameter.
  *
  * 100 TB shape: per round the moving set is (node, label) pairs — far
  * smaller than the corpus — shuffled on `node`, co-partitioned with the
  * edge list; there is no all-pairs step anywhere and no growth between
  * rounds. Near-dup clusters are small and dense by construction (near-
  * transitive similarity), so diameter — and the round count — is tiny;
  * `maxIter` bounds the loop against pathological chains, where the
  * alternating large/small-star contraction (O(log n) rounds) would be
  * the upgrade path.
  */
object GraphOps {

  /** Session toggle (default ON) for pinning the wedge-expansion
    * exchanges to the session's full shuffle parallelism: AQE coalesces
    * those exchanges by their INPUT bytes (edge-table-sized) while the
    * stage they feed does the wedge EXPANSION — orders of magnitude more
    * bytes OUT than in (measured: link_prediction's wedge stage wrote
    * 643 MB of pair partials from a 30 MB exchange on 16 of 32 cores).
    * Parameterized so the A/B stays reproducible per session. */
  val ExpansionRepartitionConf = "spark.graft.expansionRepartition"
  private def expansionRepartition(s: SparkSession): Boolean =
    s.conf.get(ExpansionRepartitionConf, "true").trim.equalsIgnoreCase("true")

  /** Connected components of an undirected pair graph given as (a, b)
    * rows. Returns (node, label) with label = min node id reachable —
    * a canonical, deterministic component id. */
  /** @param inputTruncated caller already materialized `pairs` via
    *   Lineage.truncate — skip the defensive re-truncation (it exists so
    *   an untruncated caller dag isn't computed twice by the symmetrizing
    *   union's two branches; a truncated one can't be). Round-12 profile:
    *   the CC stage on the 6k-pair sf0.1 twin graph is 6 Spark jobs of
    *   0.1-0.37 s each (seed agg, 1 confirming round, 2 labelSums, 2
    *   truncates) over already-AQE-coalesced 6/12/1-partition frames —
    *   per-job latency, not data; the double truncate was the only
    *   removable job. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      inputTruncated: Boolean = false): DataFrame = {
    // Lineage.truncate (eager) both materializes AND TRUNCATES LINEAGE.
    // Plain persist() short-circuits execution but not analysis: every
    // round Catalyst would re-optimize a logical plan embedding the whole
    // upstream pipeline (here: the entire MinHash LSH dag) plus all
    // previous rounds, and driver-side planning dominates the loop
    // (measured ~2 s/round at sf0.1 vs ~0.2 s with truncation). It also
    // stops the symmetrizing union's two branches from racing to compute
    // the cold upstream twice. The primitive is fault-model-bound: with
    // a checkpoint dir configured it is reliable checkpoint() (the loop
    // survives executor loss on a cluster); otherwise localCheckpoint
    // (local mode — losing the one executor is losing the job anyway).
    val p =
      if (inputTruncated) pairs.select(col("a"), col("b"))
      else Lineage.truncate(pairs.select(col("a"), col("b")))
    // edges deliberately NOT truncated: p is already materialized, so the
    // symmetrizing union is a narrow double-scan of the checkpoint, and
    // re-deriving it once per round costs less than a second eager
    // materialization (round-13 profile: the CC tail on a twin-pair
    // graph is ~6 jobs of pure latency; this removes one, the fused
    // convergence sum below removes another — 6 → 4 for the common
    // diameter-1 case).
    val edges = p.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(p.select(col("b").as("src"), col("a").as("dst")))
    // Seed labels with the FIRST propagation round for free: label(v) =
    // min(v, min neighbor) is one aggregation over the (already
    // symmetrized) edge list — no join, and for diameter-1 components
    // (the bulk of near-dup clusters: twin pairs) it is already the
    // fixpoint, so the loop below runs exactly one confirming round.
    var labels = Lineage.truncate(edges
      .groupBy(col("src").as("node"))
      .agg(least(col("node"), min(col("dst"))).as("label")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = Lineage.truncate(edges
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("label"))
        .unionByName(labels)
        .groupBy(col("node")).agg(min(col("label")).as("label")))
      // ONE fused job per round checks convergence: labels only ever
      // decrease (min-propagation), so equal label SUMS over the old and
      // new (both already-materialized) frames imply the fixpoint. The
      // old two-job shape (labelSum before the loop + one per round) paid
      // an extra scheduler round-trip for the same comparison.
      val sums = labels.select(lit(0).as("k"), col("label"))
        .unionByName(next.select(lit(1).as("k"), col("label")))
        .groupBy(col("k")).agg(sum(col("label")).as("s"))
        .collect()
        .map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
        .toMap
      converged = sums.getOrElse(0, 0L) == sums.getOrElse(1, 0L)
      labels = next
      iter += 1
    }
    labels
  }

  /** Cluster resolution over the MinHash-LSH dup pairs: every doc that
    * appears in a dup pair gets its cluster id (min doc id reachable),
    * the cluster size, and a survivor flag (the canonical min doc). */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    // dupPairs serves the family-shared lineage-truncated table (r16) —
    // skip the defensive re-checkpoint, exactly like splitLeakage below
    val pairs = DedupOps.dupPairs(s, dir).select(col("a"), col("b"))
    connectedComponents(pairs, inputTruncated = true)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("survivor", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Leakage-safe train/val/test assignment: near-duplicates straddling
    * the train/test boundary CONTAMINATE evaluation, so the split coin
    * is flipped on the doc's CLUSTER id (min doc id of its component;
    * singletons use their own id) — every member of a dup cluster lands
    * in the same split by construction. The output is a one-row audit:
    * corpus/split counts plus the number of dup pairs crossing splits
    * under the naive per-doc coin (non-zero: the leak) vs the
    * cluster-keyed coin (zero, enforced). Same affine-hash coin as
    * [[Sampling.splitAssign]] — deterministic across engines, retries,
    * and cluster sizes. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val base = DedupOps.withTwins(
        s.read.parquet(s"$dir/documents.parquet"))
      .select(col("doc_id"))
    // already lineage-truncated by the shared dupTables materialization
    val pairs = DedupOps.dupPairs(s, dir).select(col("a"), col("b"))
    val cc = connectedComponents(pairs, inputTruncated = true)
    def coin(c: Column) = (c * Sampling.HashA + Sampling.HashB) % Sampling.Mod
    def splitOf(c: Column) =
      when(coin(c) < Sampling.Mod * 8 / 10, "train")
        .when(coin(c) < Sampling.Mod * 9 / 10, "val")
        .otherwise("test")
    val assigned = Lineage.truncate(base
      .join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("split_key"))
      .select(col("doc_id"), col("split_key"),
        splitOf(col("split_key")).as("split"),
        splitOf(col("doc_id")).as("naive_split")))
    val pairSplits = pairs
      .join(assigned.select(col("doc_id").as("a"),
        col("split").as("sa"), col("naive_split").as("na")), Seq("a"))
      .join(assigned.select(col("doc_id").as("b"),
        col("split").as("sb"), col("naive_split").as("nb")), Seq("b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)).as("naive_cross_split_pairs"),
        sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)).as("safe_cross_split_pairs"))
    val counts = assigned.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("split_key")).as("n_split_keys"),
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    counts.crossJoin(pairSplits) // 1-row × 1-row audit summary
  }

  // ------------------------------------------------------------------
  // The bipartite→unipartite CO-OCCURRENCE PROJECTION shared by every
  // graph kernel below (triangles, butterflies, k-core/k-truss/ANF/PPR
  // via supportedEdges, assortativity, modularity, link prediction):
  // parts sharing an order become edges via a self-join on the order
  // key, which emits C(k, 2) pairs per order of k members — ALL under
  // ONE join key. Orientation/HubCap bound the downstream wedge work,
  // but neither touches this expansion: one hot group with 10^5 members
  // would emit 5×10^9 pairs into a single shuffle partition and kill
  // the job. So the projection carries its own skew contract:

  object CoGraph {
    /** GroupCap: membership groups (orders) with MORE distinct members
      * than this are DROPPED before the C(k, 2) pair expansion — the
      * same contract move as [[LinkPred.HubCap]], for the same reason
      * (a group containing everything co-locates nothing: its pairs are
      * pure noise for basket analytics — the IDF argument — and pure
      * skew for the shuffle). Per-group pair fan-out is thus bounded at
      * C(256, 2) ≈ 3.3×10^4 however skewed the corpus; the cap is part
      * of every operator's CONTRACT and every DuckDB oracle applies it
      * identically. Fixture orders carry ≤ 7 distinct parts (TPC-H
      * lineitem shape), so the cap never binds on test data — the
      * planted-hot-group spec exercises the binding case. */
    val GroupCap = 256L
  }

  /** Distinct (o, p) membership with the [[CoGraph.GroupCap]] contract
    * applied. Plan note: the group-size window partitions by `o`, which
    * is exactly the partitioning the downstream pair self-join needs —
    * the window's exchange REPLACES the join's, so the cap costs a
    * per-partition count, not an extra shuffle. */
  private[graft] def cappedMembership(membership: DataFrame): DataFrame =
    membership.select(col("o"), col("p")).distinct()
      .withColumn("gsz", count(lit(1)).over(Window.partitionBy(col("o"))))
      .filter(col("gsz") <= lit(CoGraph.GroupCap))
      .select(col("o"), col("p"))

  /** Oracle twin of [[cappedMembership]] over lineitem — splice as the
    * `li` CTE (`WITH $LiCappedCte, ...`) so every oracle applies the
    * identical GroupCap. */
  val LiCappedCte: String =
    s"""li AS MATERIALIZED (
       |  SELECT o, p FROM (
       |    SELECT o, p, count(*) OVER (PARTITION BY o) AS gsz
       |    FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem))
       |  WHERE gsz <= ${CoGraph.GroupCap})""".stripMargin

  /** The family-shared co-occurrence projection, materialized ONCE per
    * (session, source path) and reused by every kernel over the same
    * graph (r13 verdict What's-wrong #1: `graph_link_prediction` paid
    * the full projection rebuild inside every sweep, making it the
    * board's dominant noise source — nine kernels were each rebuilding
    * the identical capped pair expansion).
    *
    * `pairs` is the per-order C(k,2) expansion aggregated to
    * (a, b, w = co-occurrence count): its KEYS are the distinct
    * undirected edge set (`und`), `w >= MinSupport` is the
    * kcore/ktruss/bfs/walks edge filter, `w >= 2` is the butterfly
    * support — one shuffle serves all three shapes. `deg` is the
    * distinct-neighbor degree table three kernels broadcast. At 100 TB
    * this is exactly the materialized intermediate a production graph
    * stack maintains as a table (build once per corpus version, serve
    * every kernel); in-JVM it is a localCheckpoint under the same
    * Lineage.truncate discipline as before — per-QUERY results are
    * unchanged, only the rebuild disappears. */
  private[graft] case class CoTables(pairs: DataFrame, und: DataFrame,
      deg: DataFrame, se: DataFrame)

  private[graft] def coTablesOf(membership: DataFrame): CoTables = {
    val li = Lineage.truncate(cappedMembership(membership))
    val pairs = Lineage.truncate(
      li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("a"), col("y.p").as("b"))
        .agg(count(lit(1)).as("w")))
    val und = pairs.select(col("a"), col("b"))
    val deg = Lineage.truncate(und.select(col("a").as("n"))
      .unionByName(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d")))
    // support-filtered edges, materialized too: the kcore/ktruss/bfs/
    // walks loops evaluate their base edge set several times per round
    val se = Lineage.truncate(
      pairs.filter(col("w") >= Cores.MinSupport).select(col("a"), col("b")))
    CoTables(pairs, und, deg, se)
  }

  /** The shared projection of the standard lineitem membership at each
    * source dir. Spec-scoped sessions with custom memberships use
    * [[coTablesOf]] directly and never share. */
  private val shared = new SharedTables[CoTables]((s, dir) =>
    coTablesOf(s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))))

  private[graft] def coTables(s: SparkSession, dir: String): CoTables = shared(s, dir)

  /** RDD ids of the live shared projections on this session's context —
    * the bench's per-query unpersist spares exactly these (bounded: one
    * CoTables per source dir), so the family sharing survives a sweep. */
  private[graft] def protectedRddIds(s: SparkSession): Set[Int] = shared.rddIds(s)

  /** Shared-projection build seconds for this session, keyed by source
    * dir — surfaced by the bench as BENCH.out.json line items so the
    * warmup-built sharing is visible in the artifact. */
  private[graft] def sharedBuildSeconds(s: SparkSession): Map[String, Double] =
    shared.buildSeconds(s)

  // ------------------------------------------------------------------
  // Triangle counting over the part co-occurrence graph — the third
  // classic graph-analytics kernel (after connected components and
  // PageRank): clustering structure of "parts ordered together", the
  // item-item co-occurrence graph every recommender / basket-analysis
  // pipeline builds. Algorithm: compact-forward (Latapy 2008; also the
  // MapReduce formulation of Suri & Vassilvitskii 2011) — orient every
  // undirected edge from the lower (degree, id) endpoint to the higher,
  // generate wedges only at each edge's LOW-degree endpoint, and close
  // them against the oriented edge set. Orientation bounds per-node
  // wedge fan-out by O(sqrt(E)) regardless of raw degree skew (a
  // celebrity node of degree d generates ZERO wedges at itself — its
  // wedges are charged to its lower-degree neighbors), which is the
  // property that makes the self-join survive power-law graphs at
  // 100 TB. Three shuffles total: the per-order pair expansion (keyed
  // on order id — fan-out C(k,2) bounded by the [[CoGraph.GroupCap]]
  // contract, NOT by hoping order sizes stay small),
  // the degree aggregation, and the wedge/closure join pair on node
  // keys. Each triangle is counted exactly once (kdst strictly ordered
  // along the wedge).
  object Triangles {
    /** Packs (degree, node) into one comparable BIGINT: degree·1e10 +
      * node. Injective while node < 1e10 and degree < 9e8 — both hold
      * by orders of magnitude for part keys (TPC-H partkey ≤ 2·10^8 at
      * sf=1000) and co-occurrence degrees (bounded by distinct parts).
      * A single comparable key keeps the orientation predicate a plain
      * long compare in codegen on both engines. */
    val KeyBase = 10000000000L
    /** Report the top-K parts by triangle participation. */
    val TopK = 100
    /** Broadcast the oriented edge set into the wedge-closure join while
      * it fits comfortably in an executor (≈24 bytes/row → ~100 MB at
      * the cap): the wedge stream is O(E^1.5) worst-case and NOT
      * re-shuffling it is the single biggest cost lever. Beyond the cap
      * the closure falls back to a partitioned join keyed on (v, w) —
      * the Suri-Vassilvitskii MapReduce shape, which is the honest
      * 100 TB path when the edge list itself outgrows memory. */
    val BroadcastEdgeCap = 4000000L
  }

  /** Per-part triangle participation counts (top 100 by count) over the
    * "ordered in the same order" co-occurrence graph of lineitem parts. */
  def triangles(s: SparkSession, dir: String): DataFrame =
    trianglesFrom(coTables(s, dir))

  /** Compact-forward triangle counts over the co-occurrence graph of an
    * (o, p) membership table: nodes are `p` values, an edge joins two
    * nodes sharing at least one `o`. Returns the top-K (part, n_tri). */
  def trianglesOf(membership: DataFrame): DataFrame =
    trianglesFrom(coTablesOf(membership))

  private def trianglesFrom(t: CoTables): DataFrame = {
    val und = t.und
    // deg is node-cardinality (dimension-sized): broadcast both lookups
    // so the edge list is never shuffled on its endpoints.
    val deg = t.deg
    val keyed = und
      .join(broadcast(deg.select(col("n").as("a"),
        (col("d") * Triangles.KeyBase + col("a")).as("ka"))), Seq("a"))
      .join(broadcast(deg.select(col("n").as("b"),
        (col("d") * Triangles.KeyBase + col("b")).as("kb"))), Seq("b"))
    // Orient low-(deg,id) -> high; carry the destination's key so the
    // wedge self-join orders its two arms without re-joining degrees.
    val ori = Lineage.truncate(keyed.select(
      when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("src"),
      when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("dst"),
      greatest(col("ka"), col("kb")).as("kdst")))
    // Both wedge arms shuffle on src from the SAME checkpointed plan, so
    // the second exchange is reused; the wedge stream itself is never
    // shuffled again — it flows straight into the closure probe below.
    // r15 A/B (OPTIMIZATION_r15.md, refuted item 2): pinning this
    // exchange to the session's full parallelism (the link_prediction
    // fix) measured NEUTRAL-to-WORSE here (3.35-3.48 s off vs
    // 3.54-5.23 s on) — triangles' oriented wedge stream is ~half
    // link_prediction's and the extra edge-table exchange costs more
    // than the parallelism buys. Left AQE-sized on purpose.
    val wedges = ori.as("e1").join(ori.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.kdst") < col("e2.kdst"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    val closure = ori.select(col("src").as("v"), col("dst").as("w"))
    // Above the broadcast cap the closure probe must shuffle — but it
    // must NOT sort: a sort-merge join would sort the O(E^1.5) wedge
    // stream, which dominates the whole kernel at scale. The
    // shuffle-hash hint builds the hash table on the (edge-sized)
    // closure side and STREAMS the wedges through it (A/B measured in
    // SCALE.md's blow-up table). Per-partition build is
    // |E|/shuffle-partitions edges; the 100 TB knob is partition
    // count, same as any hash join.
    // NOTE a measured dead end (round 10): explicitly co-repartitioning
    // both join sides by (v, w) with a wedge-count-derived partition
    // count LOOKED like the right in-operator fix for the factor-10
    // superlinearity, but benched WORSE than the plain hint (200 s at
    // 32 session partitions, 700 s at 128, vs 183/90.5 s hint-only) —
    // the inserted exchanges don't compose with AQE's planning of the
    // hinted join. The honest knob is the SESSION shuffle-partition
    // count, exactly as on a real cluster (A/B in SCALE.md round 10).
    val closureSide =
      if (ori.count() <= Triangles.BroadcastEdgeCap) broadcast(closure)
      else closure.hint("shuffle_hash")
    val tri = wedges.join(closureSide, Seq("v", "w"))
    // Single pass over the matched wedges: explode the three corners
    // in-line (a 3-branch union would recompute the whole join per
    // branch) and map-side-combine into per-part counts.
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("n_tri").desc, col("part"))
      .limit(Triangles.TopK)
  }

  // ------------------------------------------------------------------
  // Butterfly counting — the BIPARTITE analog of triangles: a butterfly
  // is a 2×2 biclique (two orders that share the same two parts), the
  // smallest unit of bipartite clustering (Sanei-Mehri et al. 2018).
  // Where the triangle query projects the bipartite membership down to
  // a part-part graph first, this counts cohesion in the bipartite
  // structure itself. Closed form: a part pair sharing w orders carries
  // C(w, 2) butterflies, so the whole computation is ONE aggregation
  // over the per-order pair expansion (no wedge self-join at all) —
  // per-pair co-occurrence counts, then Σ w·(w−1)/2 rolled up to each
  // part. 100 TB shape: the pair expansion is keyed on order id with
  // C(k, 2) fan-out bounded by order size; the only shuffle of
  // consequence is the (a, b) count — same key-bounded pattern as every
  // co-occurrence build here; per-part rollup map-side combines.

  /** Per-part butterfly participation (top 100): for each part, the
    * number of 2×2 bicliques it belongs to in the order-part graph. */
  def butterflies(s: SparkSession, dir: String): DataFrame =
    butterfliesFrom(coTables(s, dir))

  def butterfliesOf(membership: DataFrame): DataFrame =
    butterfliesFrom(coTablesOf(membership))

  private def butterfliesFrom(t: CoTables): DataFrame = {
    // the shared pair expansion IS the per-pair co-occurrence count
    // table this kernel aggregates — no join of its own at all
    val pairs = t.pairs
      .filter(col("w") >= 2L)
      .withColumn("bf", expr("(w * (w - 1)) DIV 2"))
    pairs.select(explode(array(col("a"), col("b"))).as("part"), col("bf"))
      .groupBy(col("part")).agg(sum(col("bf")).as("n_butterflies"))
      .orderBy(col("n_butterflies").desc, col("part"))
      .limit(Triangles.TopK)
  }

  // ------------------------------------------------------------------
  // Connected components by alternating LARGE-STAR / SMALL-STAR
  // contraction (Kiveris et al. 2014, "Connected Components in
  // MapReduce and Beyond") — the O(log n)-round algorithm the
  // label-propagation scaladoc above names as its own upgrade path.
  // Label propagation needs DIAMETER rounds (a 200-node path = 200
  // joins); star contraction collapses the same path in ~10. Each
  // round is two aggregate+join passes over the edge list, keyed on
  // node ids — the same key-bounded shuffle shape as one propagation
  // round, so the win is purely in ROUND COUNT.
  //
  //   large-star(u): connect every STRICTLY LARGER neighbor of u to
  //     m = min(N(u) ∪ {u});
  //   small-star(u): over edges oriented high→low, connect every
  //     smaller neighbor (and u itself) to the minimum.
  //
  // Both emit canonical (min, max) edges with no self-loops; the edge
  // set converges to per-component stars centered at the component
  // minimum — the same canonical labels as [[connectedComponents]].
  // Convergence detection is one order-independent checksum action per
  // round (count + sum of xxhash64(a, b)): no edge-set materialization
  // to the driver, collision odds ~2^-64 per round.
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    var e = Lineage.truncate(pairs
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    def checksum(df: DataFrame): (Long, String) = {
      // exact decimal sum: adding n 64-bit hashes overflows BIGINT
      // under ANSI, and wrap-around would weaken the checksum anyway
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)"))).head
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
    }
    var prev = checksum(e)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star over the symmetrized adjacency: m ≤ u < v, so the
      // emitted (m, v) edge is already canonical
      val adj = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val mL = adj.groupBy(col("u")).agg(least(col("u"), min(col("v"))).as("m"))
      val large = adj.join(mL, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b")).distinct()
      // small-star over high→low orientation: every lower neighbor and
      // u itself attach to the minimum neighbor mv (mv < u, so edges
      // (mv, v) and (mv, u) are canonical)
      val adjS = large.select(col("b").as("u"), col("a").as("v"))
      val mS = adjS.groupBy(col("u")).agg(min(col("v")).as("mv"))
      val small = adjS.join(mS, Seq("u"))
        .filter(col("v") =!= col("mv"))
        .select(col("mv").as("a"), col("v").as("b"))
        .unionByName(mS.select(col("mv").as("a"), col("u").as("b")))
        .distinct()
      val next = Lineage.truncate(small)
      val cur = checksum(next)
      converged = cur == prev
      prev = cur
      e = next
      iter += 1
    }
    e.select(col("b").as("node"), col("a").as("label"))
      .unionByName(e.select(col("a").as("node"), col("a").as("label")))
      .distinct()
  }

  /** [[dedupClusters]] computed by star contraction instead of label
    * propagation — identical output (same canonical min labels), same
    * DuckDB oracle, different distributed algorithm: the registered
    * proof that the O(log n) path reaches the same fixpoint. */
  def dedupClustersStar(s: SparkSession, dir: String): DataFrame = {
    val pairs = DedupOps.dupPairs(s, dir).select(col("a"), col("b"))
    connectedComponentsStar(pairs)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("survivor", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // k-core DECOMPOSITION — per-node core numbers (the largest k such
  // that the node survives k-core peeling), the graph-quality signal
  // used to find the dense backbone of co-occurrence / link graphs.
  // The textbook peel (repeatedly delete the min-degree vertex) is
  // inherently sequential; the distributed formulation here is the
  // h-index fixpoint of Montresor et al. 2011 / Lü et al. 2016: start
  // every node at its degree and repeatedly lower it to the h-index of
  // its neighbors' current estimates — the unique fixpoint IS the core
  // number. Estimates only ever decrease, so convergence is detected
  // by an unchanged global sum (one scalar action per round, same
  // trick as [[connectedComponents]]).
  //
  // 100 TB shape: each round is (edge ⋈ node-estimate) + one window
  // rank + one aggregate, all keyed on node ids — no all-pairs step,
  // no adjacency materialization, and the estimate table is node-sized
  // (broadcastable for dimension-scale graphs). Rounds are bounded by
  // MaxRounds and mirrored EXACTLY by the unrolled oracle, so the
  // cross-engine contract holds even at a scale where the fixpoint
  // needs more rounds than the bound (both engines stop at the same
  // partially-converged estimate).
  object Cores {
    /** Minimum shared-order support for a co-occurrence edge. The
      * unfiltered graph is near-complete random noise (every part pair
      * meets once somewhere) — dense enough that the h-index walk needs
      * 25+ rounds and the cores carry no signal; requiring repeated
      * co-occurrence (same support rule as the butterfly query) keeps
      * exactly the edges basket analysis would keep and restores both
      * convergence and meaning. */
    val MinSupport = 2L
    /** Bounded h-index rounds, unrolled verbatim in the oracle CTEs.
      * Fixpoint on the support-filtered graph is reached in 21 rounds
      * at sf0.001, 10 at sf0.01, 5 at sf0.1 (measured); the spec
      * asserts convergence at fixture scale. */
    val MaxRounds = 24
    /** Broadcast the node-estimate table into the per-round join while
      * it fits (~16 B/row → ~64 MB at the cap). The estimate table is
      * |V|-sized — orders of magnitude below the edge list — so this
      * holds far up the scale curve; beyond it the loop falls back to
      * co-partitioned shuffle joins (edges stay partitioned either
      * way — the raw edge list is never re-shuffled per round). */
    val NodeBroadcastCap = 4000000L
  }

  /** Core numbers of the support-filtered part co-occurrence graph. */
  def kcore(s: SparkSession, dir: String): DataFrame =
    coreDecompositionFrom(coTables(s, dir).se, Cores.MaxRounds)

  /** Per-node core number of the co-occurrence graph of an (o, p)
    * membership table, via the bounded h-index iteration. */
  def coreDecompositionOf(membership: DataFrame,
      maxRounds: Int = Cores.MaxRounds): DataFrame =
    coreDecompositionFrom(supportedEdges(membership), maxRounds)

  private def coreDecompositionFrom(se: DataFrame,
      maxRounds: Int): DataFrame = {
    val und = se
    // Partitioned by dst ONCE and reused every round: with the
    // estimate side broadcast, the per-round chain (join on src →
    // count by (dst, c) → running sum by dst → h by dst) is entirely
    // partition-local — hashpartitioning(dst) satisfies every
    // downstream clustering, so a round has NO exchange at all. This
    // is the difference between ~20 s and ~5 s at sf0.1: the 2·|E|
    // edge list stops moving 20+ times.
    val edges = Lineage.truncate(
      und.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("dst")))
    var est = Lineage.truncate(edges
      .groupBy(col("dst").as("n")).agg(count(lit(1)).as("c")))
    val broadcastNodes = est.count() <= Cores.NodeBroadcastCap
    def estSide(df: DataFrame): DataFrame =
      if (broadcastNodes) broadcast(df) else df
    def estSum(df: DataFrame): Long =
      Option(df.agg(sum(col("c"))).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    var prev = estSum(est)
    var converged = false
    var iter = 0
    while (!converged && iter < maxRounds) {
      // h-index of the neighbor-estimate multiset WITHOUT ranking the
      // raw stream: h = max over distinct estimate values c of
      // min(c, #neighbors with estimate >= c) — identical value to the
      // rank formulation (the oracle's), but the (n, c) count pre-
      // aggregation map-side combines, so the exchange moves grouped
      // counts instead of one row per edge, and the running sum windows
      // over distinct values per node rather than the full degree.
      // Estimates concentrate as the fixpoint nears, so later rounds
      // shrink toward one row per node. (SCALE.md records the plan
      // iteration: 20.4 s on the unfiltered 2.4M-edge graph that never
      // converged in 24 rounds → 5.6 s converged on the supported one.)
      val nb = edges
        .join(estSide(est.withColumnRenamed("n", "src")), Seq("src"))
        .groupBy(col("dst").as("n"), col("c")).agg(count(lit(1)).as("k"))
      val cum = nb.withColumn("cum", sum(col("k"))
        .over(Window.partitionBy(col("n")).orderBy(col("c").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val h = cum.groupBy(col("n"))
        .agg(max(least(col("c"), col("cum"))).as("h"))
      est = Lineage.truncate(h.join(estSide(est), Seq("n"))
        .select(col("n"), least(col("c"), col("h")).as("c")))
      val cur = estSum(est)
      converged = cur == prev
      prev = cur
      iter += 1
    }
    est.select(col("n").as("part"), col("c").cast("long").as("coreness"))
      .orderBy(col("part"))
  }

  // ------------------------------------------------------------------
  // k-TRUSS — the edge-level cousin of the k-core: keep only edges
  // supported by at least k−2 triangles, re-checking after every drop
  // (removing a weak edge can orphan its neighbors' triangles). Where
  // the core finds dense NEIGHBORHOODS, the truss finds edges embedded
  // in mutually-reinforcing cliques — the classic community-backbone
  // extractor. Same bounded-round + unrolled-oracle contract as
  // [[kcore]]: the support-filtered co-occurrence graph peels to a
  // fixpoint in ≤2 rounds at every fixture sf (measured), and both
  // engines run the identical recurrence for MaxRounds regardless.
  //
  // Support is computed per round by the symmetric common-neighbor
  // join (each triangle counted once per edge) — the simple shape,
  // exactly mirrorable in SQL, bounded by Σ deg² of the supported
  // graph. At a scale where that blows up, the degree-ORIENTED wedge
  // join of [[trianglesOf]] is the drop-in replacement (same counts,
  // O(E^1.5) bound); the fixture graph is thousands of edges, so the
  // mirrorable form wins.
  object Truss {
    val K = 3
    val MaxRounds = 8
  }

  /** Support-filtered co-occurrence edges for the custom-membership
    * (`*Of`) paths: builds ONLY the chain these callers consume —
    * capped membership → pairs → se, two checkpoints instead of
    * [[CoTables]]' four (ADVICE r14: the full build materialized deg/se
    * blocks that kcore/ktruss/bfs/walks-of callers never touch and
    * never unpersist). The registered queries share [[coTables]]. */
  private[graft] def supportedEdges(membership: DataFrame): DataFrame = {
    val li = Lineage.truncate(cappedMembership(membership))
    val pairs = li.as("x").join(li.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("w"))
    Lineage.truncate(
      pairs.filter(col("w") >= Cores.MinSupport).select(col("a"), col("b")))
  }

  def ktruss(s: SparkSession, dir: String): DataFrame =
    ktrussFrom(coTables(s, dir).se, Truss.K, Truss.MaxRounds)

  def ktrussOf(membership: DataFrame, k: Int = Truss.K,
      maxRounds: Int = Truss.MaxRounds): DataFrame =
    ktrussFrom(supportedEdges(membership), k, maxRounds)

  private def ktrussFrom(se: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    var e = se
    // partitioned joins throughout: a broadcast variant was measured
    // SLOWER here (8.1 s vs 2.9 s at sf0.1 — per-round broadcast
    // build/teardown dwarfs the tiny sort-merge work), and the
    // partitioned form is also the one that scales when the supported
    // edge list outgrows an executor
    def support(edges0: DataFrame): DataFrame = {
      val adj = edges0.select(col("a").as("u"), col("b").as("v"))
        .unionByName(edges0.select(col("b").as("u"), col("a").as("v")))
      edges0.join(adj.select(col("u").as("a"), col("v").as("w")), Seq("a"))
        .join(adj.select(col("u").as("b"), col("v").as("w")), Seq("b", "w"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
    }
    def checksum(df: DataFrame): (Long, String) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)"))).head
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
    }
    var prev = checksum(e)
    var converged = false
    var iter = 0
    while (!converged && iter < maxRounds) {
      val next = Lineage.truncate(
        e.join(support(e), Seq("a", "b"), "left")
          .filter(coalesce(col("c"), lit(0L)) >= k - 2)
          .select(col("a"), col("b")))
      val cur = checksum(next)
      converged = cur == prev
      prev = cur
      e = next
      iter += 1
    }
    e.join(support(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("c"), lit(0L)).as("support"))
      .orderBy(col("a"), col("b"))
  }

  // ------------------------------------------------------------------
  // BFS distances — the remaining classic graph kernel: hop distance
  // from a deterministic source (the smallest node in the supported
  // co-occurrence graph) to every reachable node, bounded at
  // [[Bfs.MaxRounds]] hops. Bounded-depth BFS is the building block of
  // ego-network features, spreading-activation relevance, and the
  // "within k hops of a seed set" filters lakehouse graph extensions
  // ship; the bound is part of the CONTRACT (both engines stop at the
  // same depth), not a correctness cap — which is what makes a
  // fixed-unroll oracle exact.
  //
  // Plan shape: edges partitioned by src ONCE and reused every round
  // (the kcore discipline); the frontier is broadcast (node-bounded,
  // shrinks after the first hops), the visited set accumulates behind
  // per-round lineage truncation, and a round is one broadcast-join +
  // distinct + anti-join — no corpus-scale shuffle after setup. At a
  // frontier too large to broadcast the same join degrades to the
  // partitioned form, still one exchange per round.
  object Bfs {
    val MaxRounds = 8
  }

  def bfs(s: SparkSession, dir: String): DataFrame =
    bfsFrom(coTables(s, dir).se, Bfs.MaxRounds)

  def bfsOf(membership: DataFrame, maxRounds: Int = Bfs.MaxRounds): DataFrame =
    bfsFrom(supportedEdges(membership), maxRounds)

  private def bfsFrom(se: DataFrame, maxRounds: Int): DataFrame = {
    val spark = se.sparkSession
    import spark.implicits._
    val und = se
    val edges = Lineage.truncate(
      und.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("src")))
    // every edge has a < b, so min(a) is the smallest non-isolated node
    val src0 = und.agg(min(col("a"))).head.getLong(0)
    var dist = Lineage.truncate(Seq((src0, 0L)).toDF("n", "d"))
    var frontier = dist.select(col("n"))
    var r = 0
    while (r < maxRounds && frontier.limit(1).count() > 0) {
      val nxt = Lineage.truncate(
        edges.join(broadcast(frontier.withColumnRenamed("n", "src")), Seq("src"))
          .select(col("dst").as("n")).distinct()
          .join(dist.select(col("n")), Seq("n"), "left_anti")
          .withColumn("d", lit(r + 1L)))
      frontier = nxt.select(col("n"))
      dist = Lineage.truncate(dist.unionByName(nxt))
      r += 1
    }
    dist.select(col("n").as("part"), col("d").cast("long").as("dist"))
      .orderBy(col("part"))
  }

  // ------------------------------------------------------------------
  // Deterministic random walks — the node2vec/DeepWalk sampling step
  // (Perozzi et al. 2014, Grover & Leskovec 2016) that turns a graph
  // into skip-gram training sequences. The "randomness" is a hash coin:
  // at step t, walk w moves to the neighbor whose 0-based rank equals
  // `poly_hash("<w>:<t>") mod degree(node)` — fully reproducible across
  // engines, partitionings and reruns, which is what makes the walk
  // table regenerable (and oracle-checkable) instead of stored state.
  //
  // 100 TB shape: the adjacency (with per-source neighbor rank and
  // degree, one window pass keyed on src) is built ONCE and truncated;
  // each step is one equi-join of the current frontier against it on
  // the node key — Steps shuffles total, each frontier-sized (the seed
  // set, typically ~1% of nodes), never edge-scale. The hash-rank
  // predicate evaluates inside the join via codegen PolyHash; no
  // neighbor list is ever collected or exploded per walk.
  object Walks {
    val Steps = 6
    /** Seed selection: nodes ≡ 0 (mod SeedMod) — ~1% of parts. */
    val SeedMod = 97L
    val HashBase = 31L
  }

  /** Hash-deterministic walks over the co-occurrence graph: one row per
    * (walk, step) with the node occupied, step 0 = the seed. */
  def randomWalks(s: SparkSession, dir: String): DataFrame =
    randomWalksFrom(coTables(s, dir).se)

  def randomWalksOf(membership: DataFrame): DataFrame =
    randomWalksFrom(supportedEdges(membership))

  private def randomWalksFrom(se: DataFrame): DataFrame = {
    val und = se
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    val adj = Lineage.truncate(
      und.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
        .select(col("src"), col("dst"),
          (row_number().over(w.orderBy(col("dst"))) - 1).cast("long").as("rk"),
          count(lit(1)).over(w).as("deg")))
    val seeds = adj.select(col("src")).distinct()
      .filter(col("src") % Walks.SeedMod === 0)
      .select(col("src").as("walk_id"), lit(0L).as("step"), col("src").as("node"))
    var cur = seeds
    var acc = seeds
    for (t <- 1 to Walks.Steps) {
      val coin = graft.functions.PolyHash.polyHash(
        concat_ws(":", col("walk_id"), lit(t)), Walks.HashBase, DedupOps.HashMod)
      val next = cur.select(col("walk_id"), col("node"))
        .join(adj, col("node") === col("src"))
        .filter(col("rk") === coin % col("deg"))
        .select(col("walk_id"), lit(t.toLong).as("step"), col("dst").as("node"))
      cur = next
      acc = acc.unionByName(next)
    }
    acc.orderBy(col("walk_id"), col("step"))
  }

  /** Oracle: same adjacency ranks (SQL window), same polynomial hash
    * coin, Steps chained CTE joins. */
  val randomWalksSql: String = {
    def coin(t: Int): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(string_split(CAST(w.walk_id AS VARCHAR) || ':$t', ''), " +
        s"c -> CAST(ascii(c) AS BIGINT))), " +
        s"(acc, x) -> (acc * ${Walks.HashBase} + x) % ${DedupOps.HashMod})"
    val steps = (1 to Walks.Steps).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT w.walk_id, a.dst AS node
         |  FROM w${t - 1} w JOIN adj a
         |    ON a.src = w.node AND a.rk = ${coin(t)} % a.deg)""".stripMargin
    }.mkString(",\n")
    s"""WITH $LiCappedCte,
       |und AS MATERIALIZED (
       |  SELECT x.p AS a, y.p AS b
       |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= ${Cores.MinSupport}),
       |edges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM und
       |  UNION ALL SELECT b, a FROM und),
       |adj AS MATERIALIZED (
       |  SELECT src, dst,
       |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS rk,
       |    count(*) OVER (PARTITION BY src) AS deg
       |  FROM edges),
       |w0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS walk_id, src AS node FROM edges
       |  WHERE src % ${Walks.SeedMod} = 0),
       |$steps
       |SELECT walk_id, CAST(step AS BIGINT) AS step, node FROM (
       |  SELECT walk_id, 0 AS step, node FROM w0
       |${(1 to Walks.Steps).map(t =>
           s"  UNION ALL SELECT walk_id, $t, node FROM w$t").mkString("\n")}
       |)
       |ORDER BY walk_id, step""".stripMargin
  }

  // ------------------------------------------------------------------
  // Degree assortativity (Newman, PRL 2002) over the part co-occurrence
  // graph: the Pearson correlation of endpoint degrees across all edge
  // stubs (each undirected edge contributes both orientations — the
  // standard definition). Positive r = hubs link to hubs; negative =
  // hub-and-spoke. One number summarizing mixing structure, next to the
  // family's triangles/k-core readouts on the same graph. (The chain
  // transfer graphs were probed and are perfect matchings — every
  // degree 1, zero variance, r undefined — so the readout lives on the
  // co-occurrence graph where degrees actually vary.)
  //
  // The six sufficient statistics are EXACT integer sums over edge
  // stubs; the final r is ONE shared double expression with every
  // cross-term of BIGINT sums cast to DOUBLE before multiplying (the
  // CUPED overflow rule: DuckDB widens to HUGEINT where Spark wraps).
  // A zero-variance graph yields NULL via the guard. Shape: the
  // edge/degree builds are trianglesOf's (distinct pair join + degree
  // agg, both truncated); the stub union is edge-linear; degrees join
  // back as broadcasts.
  private val AssortRSql: String =
    """CASE WHEN (CAST(m AS DOUBLE) * sj2 - CAST(sj AS DOUBLE) * sj) > 0
      |      AND (CAST(m AS DOUBLE) * sk2 - CAST(sk AS DOUBLE) * sk) > 0 THEN
      |  (CAST(m AS DOUBLE) * sjk - CAST(sj AS DOUBLE) * sk)
      |  / (sqrt(CAST(m AS DOUBLE) * sj2 - CAST(sj AS DOUBLE) * sj)
      |     * sqrt(CAST(m AS DOUBLE) * sk2 - CAST(sk AS DOUBLE) * sk))
      |ELSE NULL END""".stripMargin

  def assortativity(s: SparkSession, dir: String): DataFrame =
    assortativityFrom(coTables(s, dir))

  def assortativityOf(membership: DataFrame): DataFrame =
    assortativityFrom(coTablesOf(membership))

  private def assortativityFrom(t: CoTables): DataFrame = {
    val und = t.und
    val deg = t.deg
    val keyed = und
      .join(broadcast(deg.select(col("n").as("a"), col("d").as("da"))), Seq("a"))
      .join(broadcast(deg.select(col("n").as("b"), col("d").as("db"))), Seq("b"))
    keyed.select(col("da").as("j"), col("db").as("k"))
      .unionByName(keyed.select(col("db").as("j"), col("da").as("k")))
      .agg(count(lit(1)).as("m"),
        sum(col("j")).as("sj"), sum(col("k")).as("sk"),
        sum(expr("j * k")).as("sjk"),
        sum(expr("j * j")).as("sj2"), sum(expr("k * k")).as("sk2"))
      .select(col("m"), col("sj"), col("sk"), col("sjk"), col("sj2"),
        col("sk2"), expr(AssortRSql).as("r_assort"))
  }

  val assortativitySql: String =
    s"""WITH $LiCappedCte,
       |und AS MATERIALIZED (
       |  SELECT DISTINCT x.p AS a, y.p AS b
       |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
       |deg AS MATERIALIZED (
       |  SELECT n, CAST(count(*) AS BIGINT) AS d
       |  FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
       |  GROUP BY 1),
       |keyed AS MATERIALIZED (
       |  SELECT da.d AS da, db.d AS db
       |  FROM und JOIN deg da ON da.n = und.a JOIN deg db ON db.n = und.b),
       |stubs AS (
       |  SELECT da AS j, db AS k FROM keyed
       |  UNION ALL SELECT db AS j, da AS k FROM keyed),
       |t AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(j) AS BIGINT) AS sj, CAST(sum(k) AS BIGINT) AS sk,
       |    CAST(sum(j * k) AS BIGINT) AS sjk,
       |    CAST(sum(j * j) AS BIGINT) AS sj2,
       |    CAST(sum(k * k) AS BIGINT) AS sk2
       |  FROM stubs)
       |SELECT m, sj, sk, sjk, sj2, sk2,
       |  $AssortRSql AS r_assort
       |FROM t""".stripMargin

  // ------------------------------------------------------------------
  // Modularity of a labeled partition (Newman & Girvan 2004) — Q for
  // the brand partition of the part co-occurrence graph: the standard
  // "is this grouping better than chance" score every community
  // pipeline reports (Q > 0: more intra-community edges than a random
  // graph with the same degrees). Exact RATIONAL form: Q = Σ_c [e_c/m −
  // (d_c/2m)²] telescopes to (4m·Σe_c − Σd_c²)/(4m²), so the corpus
  // work produces three exact integers (m, intra-edge count, Σ of
  // squared community degree totals; bound d_c² < 2^63 ⇔ m < 1.5e9
  // edges per community-heavy graph — document, don't wrap) and the
  // single double division is ONE shared expression — no per-community
  // float accumulation whose order could differ cross-engine.
  private val QModSql: String =
    """(CAST(4 AS DOUBLE) * m * se - CAST(sd2 AS DOUBLE))
      |/ (CAST(4 AS DOUBLE) * m * m)""".stripMargin

  def modularity(s: SparkSession, dir: String): DataFrame =
    modularityFrom(coTables(s, dir),
      s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("p"), col("p_brand").as("c")))

  /** Q of any (p → community c) labeling over the co-occurrence graph
    * of an (o, p) membership table. */
  def modularityOf(membership: DataFrame, labels: DataFrame): DataFrame =
    modularityFrom(coTablesOf(membership), labels)

  private def modularityFrom(t: CoTables, labels: DataFrame): DataFrame = {
    val und = t.und
    val deg = t.deg
    val lab = Lineage.truncate(labels)
    val edgeStats = und
      .join(broadcast(lab.select(col("p").as("a"), col("c").as("ca"))), Seq("a"))
      .join(broadcast(lab.select(col("p").as("b"), col("c").as("cb"))), Seq("b"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("se"))
    val commDeg = deg
      .join(broadcast(lab.select(col("p").as("n"), col("c"))), Seq("n"))
      .groupBy(col("c")).agg(sum(col("d")).as("dc"))
    val degStats = commDeg.agg(count(lit(1)).as("n_comms"),
      sum(expr("dc * dc")).as("sd2"))
    edgeStats.crossJoin(broadcast(degStats)) // two 1-row frames
      .select(col("m").as("m_edges"), col("n_comms"), col("se").as("intra_edges"),
        col("sd2").as("sum_comm_deg_sq"), expr(QModSql).as("q_modularity"))
  }

  val modularitySql: String =
    s"""WITH $LiCappedCte,
       |und AS MATERIALIZED (
       |  SELECT DISTINCT x.p AS a, y.p AS b
       |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
       |lab AS (SELECT p_partkey AS p, p_brand AS c FROM part),
       |es AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(CASE WHEN la.c = lb.c THEN 1 ELSE 0 END) AS BIGINT) AS se
       |  FROM und JOIN lab la ON la.p = und.a JOIN lab lb ON lb.p = und.b),
       |deg AS (
       |  SELECT n, CAST(count(*) AS BIGINT) AS d
       |  FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
       |  GROUP BY 1),
       |cd AS (
       |  SELECT lab.c, CAST(sum(d) AS BIGINT) AS dc
       |  FROM deg JOIN lab ON lab.p = deg.n GROUP BY 1),
       |ds AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_comms,
       |    CAST(sum(dc * dc) AS BIGINT) AS sd2
       |  FROM cd)
       |SELECT m AS m_edges, n_comms, se AS intra_edges, sd2 AS sum_comm_deg_sq,
       |  $QModSql AS q_modularity
       |FROM es CROSS JOIN ds""".stripMargin

  // ------------------------------------------------------------------
  // Link prediction over the part co-occurrence graph — the classic
  // candidate-generation trio (Liben-Nowell & Kleinberg 2003): for
  // non-adjacent pairs, common-neighbor count, neighborhood Jaccard,
  // and Adamic-Adar (Σ 1/ln deg over shared neighbors, in exact micro
  // units so the sum is an order-insensitive BIGINT).
  //
  // Scale shape: wedge enumeration is inherently Σ d(center)², so the
  // kernel HUB-SUPPRESSES: centers with degree > HubCap are dropped
  // before the wedge self-join (a shared order containing everything
  // predicts nothing — the IDF argument; the same screen production
  // candidate generators apply). That bounds WEDGES at |V|·HubCap²; the
  // upstream pair EXPANSION building the edge list is bounded separately
  // by [[CoGraph.GroupCap]] (Σ|order|² skew lives there, not in the
  // wedge join). Both caps are part of the operator CONTRACT (the DuckDB
  // oracle applies them identically), not silent truncations. Jaccard/AA scoring then uses FULL degrees via two
  // broadcast dimension lookups; existing edges leave by left_anti; the
  // served result is a TakeOrdered top-K under a total order.
  object LinkPred {
    /** Max center degree for wedge enumeration (see above). Fixture
      * degrees cluster at ~115-150 (max ~222 at sf0.1), so ~half the
      * nodes act as centers at every sf — the cap binds, on purpose. */
    val HubCap = 128L
    /** Candidate screen: pairs sharing fewer hub-suppressed neighbors
      * than this never leave the wedge aggregation. */
    val MinCommon = 5L
    val TopK = 100
  }

  def linkPrediction(s: SparkSession, dir: String): DataFrame =
    linkPredictionFrom(coTables(s, dir))

  /** Link scores over the co-occurrence graph of an (o, p) membership
    * table (same graph as [[trianglesOf]]). */
  def linkPredictionOf(membership: DataFrame): DataFrame =
    linkPredictionFrom(coTablesOf(membership))

  private[graft] def linkPredictionFrom(t: CoTables): DataFrame = {
    import LinkPred._
    val und = t.und
    val deg = t.deg
    // directed adjacency with the CENTER's degree attached; hub centers
    // dropped before the self-join (the wedge-cost bound)
    // The ctr exchange carries an EXPLICIT partition count (r15): AQE
    // coalesces it by its INPUT bytes (hub-capped adjacency, ~30 MB at
    // sf0.1 → 16 partitions) while the stage it feeds does the wedge
    // EXPANSION + pair partial-aggregation (measured 643 MB of partials
    // OUT of a 30 MB input — 27.8 s on 16 of 32 cores, the single
    // hottest stage in the suite). Output-exploding stages get the
    // session's full parallelism; AQE cannot infer expansion from input
    // stats at any scale. A/B (OPTIMIZATION_r15.md §4; interleaved, one
    // JVM, sf0.1): on = 5.0-6.7 s stable; off = 7.6-43 s — the coalesced
    // layout also concentrates hot wedge centers, so the off-arm is
    // skew-prone, not just narrower. (Triangles measured the OPPOSITE — see
    // trianglesFrom — hence per-kernel, not blanket.)
    val adj0 = und.select(col("a").as("ctr"), col("b").as("nb"))
      .unionByName(und.select(col("b").as("ctr"), col("a").as("nb")))
      .join(broadcast(deg.select(col("n").as("ctr"), col("d").as("dc"))),
        Seq("ctr"))
      .filter(col("dc") <= lit(HubCap))
    val adj =
      if (!expansionRepartition(und.sparkSession)) adj0
      else adj0.repartition(
        und.sparkSession.sessionState.conf.numShufflePartitions, col("ctr"))
    // wedge centers have ≥2 distinct neighbors, so ln(dc) > 0 always
    val cand = adj.as("e1").join(adj.as("e2"),
        col("e1.ctr") === col("e2.ctr") && col("e1.nb") < col("e2.nb"))
      .select(col("e1.nb").as("a"), col("e2.nb").as("b"),
        expr("CAST(round(1000000 / ln(e1.dc)) AS BIGINT)").as("w"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"), sum(col("w")).as("aa_micro"))
      .filter(col("n_common") >= lit(MinCommon))
    cand.join(und, Seq("a", "b"), "left_anti") // only NEW links
      .join(broadcast(deg.select(col("n").as("a"), col("d").as("da"))), Seq("a"))
      .join(broadcast(deg.select(col("n").as("b"), col("d").as("db"))), Seq("b"))
      // positive operands, so Spark DIV == DuckDB //
      .withColumn("jaccard_milli",
        expr("1000 * n_common DIV (da + db - n_common)"))
      .select(col("a"), col("b"), col("n_common"), col("da"), col("db"),
        col("jaccard_milli"), col("aa_micro"))
      .orderBy(col("n_common").desc, col("aa_micro").desc, col("a"), col("b"))
      .limit(TopK)
  }

  /** Oracle: identical hub cap, identical micro-unit AA weights. */
  val linkPredictionSql: String =
    s"""WITH $LiCappedCte,
       |und AS (
       |  SELECT DISTINCT x.p AS a, y.p AS b
       |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
       |deg AS (
       |  SELECT n, count(*) AS d
       |  FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
       |adj AS (
       |  SELECT t.ctr, t.nb, deg.d AS dc
       |  FROM (SELECT a AS ctr, b AS nb FROM und
       |        UNION ALL SELECT b, a FROM und) t
       |  JOIN deg ON deg.n = t.ctr
       |  WHERE deg.d <= ${LinkPred.HubCap}),
       |cand AS (
       |  SELECT e1.nb AS a, e2.nb AS b, count(*) AS n_common,
       |    CAST(sum(CAST(round(1000000 / ln(e1.dc)) AS BIGINT)) AS BIGINT)
       |      AS aa_micro
       |  FROM adj e1 JOIN adj e2 ON e1.ctr = e2.ctr AND e1.nb < e2.nb
       |  GROUP BY 1, 2 HAVING count(*) >= ${LinkPred.MinCommon}),
       |non AS (
       |  SELECT c.* FROM cand c LEFT JOIN und u ON u.a = c.a AND u.b = c.b
       |  WHERE u.a IS NULL)
       |SELECT c2.a, c2.b, CAST(n_common AS BIGINT) AS n_common,
       |  CAST(da.d AS BIGINT) AS da, CAST(db.d AS BIGINT) AS db,
       |  CAST(1000 * n_common // (da.d + db.d - n_common) AS BIGINT)
       |    AS jaccard_milli,
       |  aa_micro
       |FROM non c2 JOIN deg da ON da.n = c2.a JOIN deg db ON db.n = c2.b
       |ORDER BY n_common DESC, aa_micro DESC, a, b LIMIT ${LinkPred.TopK}""".stripMargin

  /** GroupCap observability — the audit face of the [[CoGraph.GroupCap]]
    * contract every co-occurrence kernel carries: the distribution of
    * membership-group sizes in power-of-two buckets (floor-log2 via bit
    * LENGTH — exact integers, no IEEE log at bucket edges), each bucket
    * flagged kept/dropped under the cap, with group and membership
    * counts. This is the query an operator runs BEFORE trusting the
    * capped kernels on a new corpus: the dropped share in the top
    * buckets is exactly the data the contract excludes. One grouped
    * pass over the distinct membership; output is log₂(max size)-sized. */
  def groupCapAudit(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    li.groupBy(col("o")).agg(count(lit(1)).as("sz"))
      .withColumn("size_bucket", (length(bin(col("sz"))) - lit(1)).cast("long"))
      .withColumn("kept", col("sz") <= lit(CoGraph.GroupCap))
      .groupBy(col("size_bucket"), col("kept"))
      .agg(count(lit(1)).as("n_groups"), sum(col("sz")).as("n_memberships"))
      .orderBy(col("size_bucket"), col("kept"))
  }

  val groupCapAuditSql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |g AS (SELECT o, CAST(count(*) AS BIGINT) AS sz FROM li GROUP BY 1)
       |SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS size_bucket,
       |  sz <= ${CoGraph.GroupCap} AS kept,
       |  CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(sz) AS BIGINT) AS n_memberships
       |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_groupcap_audit" -> (groupCapAudit _),
    "graph_link_prediction" -> (linkPrediction _),
    "graph_modularity" -> (modularity _),
    "graph_assortativity" -> (assortativity _),
    "graph_walks" -> (randomWalks _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_clusters_star" -> (dedupClustersStar _),
    "dedup_split_leakage" -> (splitLeakage _),
    "graph_triangles" -> (triangles _),
    "graph_butterflies" -> (butterflies _),
    "graph_kcore" -> (kcore _),
    "graph_ktruss" -> (ktruss _),
    "graph_bfs" -> (bfs _)
  )

  /** DuckDB oracle: re-runs the whole MinHash pipeline (shared CTE chain
    * from [[DedupOps.dupPairCtes]]), then computes components with a
    * RECURSIVE reachability walk + min-per-node — an independent
    * algorithm arriving at the same fixpoint, so both candidate
    * generation and cluster resolution are cross-checked. */
  val dedupClustersSql: String =
    "WITH RECURSIVE " + DedupOps.dupPairCtes + s""",
       |dup AS (SELECT a, b FROM jac WHERE jaccard >= 0.5),
       |edges AS (SELECT a AS src, b AS dst FROM dup
       |          UNION ALL SELECT b AS src, a AS dst FROM dup),
       |walk(node, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
       |cc AS (SELECT node AS doc_id, min(label) AS cluster_id
       |       FROM walk GROUP BY node)
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  doc_id = cluster_id AS survivor
       |FROM cc ORDER BY doc_id""".stripMargin

  /** Oracle: same recursive-CTE components, same affine coin. */
  val splitLeakageSql: String = {
    val (a, b, m) = (Sampling.HashA, Sampling.HashB, Sampling.Mod)
    def splitSql(key: String) =
      s"""CASE WHEN ($key * $a + $b) % $m < ${m * 8 / 10} THEN 'train'
         |     WHEN ($key * $a + $b) % $m < ${m * 9 / 10} THEN 'val'
         |     ELSE 'test' END""".stripMargin
    "WITH RECURSIVE " + DedupOps.dupPairCtes + s""",
       |dup AS (SELECT a, b FROM jac WHERE jaccard >= 0.5),
       |edges AS (SELECT a AS src, b AS dst FROM dup
       |          UNION ALL SELECT b AS src, a AS dst FROM dup),
       |walk(node, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
       |cc AS (SELECT node, min(label) AS lbl FROM walk GROUP BY node),
       |asg AS (
       |  SELECT d.doc_id, COALESCE(cc.lbl, d.doc_id) AS split_key,
       |    ${splitSql("COALESCE(cc.lbl, d.doc_id)")} AS split,
       |    ${splitSql("d.doc_id")} AS naive_split
       |  FROM (SELECT doc_id FROM base) d LEFT JOIN cc ON cc.node = d.doc_id),
       |pairstats AS (
       |  SELECT count(*) AS n_pairs,
       |    CAST(SUM(CASE WHEN pa.naive_split <> pb.naive_split THEN 1 ELSE 0 END) AS BIGINT) AS naive_cross_split_pairs,
       |    CAST(SUM(CASE WHEN pa.split <> pb.split THEN 1 ELSE 0 END) AS BIGINT) AS safe_cross_split_pairs
       |  FROM dup JOIN asg pa ON pa.doc_id = dup.a JOIN asg pb ON pb.doc_id = dup.b),
       |counts AS (
       |  SELECT count(*) AS n_docs, count(DISTINCT split_key) AS n_split_keys,
       |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |    CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
       |    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
       |  FROM asg)
       |SELECT counts.*, pairstats.* FROM counts, pairstats""".stripMargin
  }

  /** Oracle: the identical compact-forward plan as plain CTEs — same
    * packed (degree, id) orientation key, same strict kdst wedge order,
    * same top-100 total order. */
  val trianglesSql: String =
    s"""WITH $LiCappedCte,
       |und AS (
       |  SELECT DISTINCT x.p AS a, y.p AS b
       |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
       |deg AS (
       |  SELECT n, count(*) AS d
       |  FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
       |keyed AS (
       |  SELECT u.a, u.b,
       |    da.d * ${Triangles.KeyBase} + u.a AS ka,
       |    db.d * ${Triangles.KeyBase} + u.b AS kb
       |  FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b),
       |ori AS (
       |  SELECT CASE WHEN ka < kb THEN a ELSE b END AS src,
       |         CASE WHEN ka < kb THEN b ELSE a END AS dst,
       |         greatest(ka, kb) AS kdst
       |  FROM keyed),
       |tri AS (
       |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
       |  FROM ori e1
       |  JOIN ori e2 ON e1.src = e2.src AND e1.kdst < e2.kdst
       |  JOIN ori e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
       |corners AS (
       |  SELECT u AS part FROM tri
       |  UNION ALL SELECT v FROM tri
       |  UNION ALL SELECT w FROM tri)
       |SELECT part, count(*) AS n_tri
       |FROM corners GROUP BY part
       |ORDER BY n_tri DESC, part LIMIT ${Triangles.TopK}""".stripMargin

  /** Oracle: the identical closed form — per-pair shared-order counts,
    * C(w,2) per pair, rolled up to both endpoint parts. */
  val butterfliesSql: String =
    s"""WITH $LiCappedCte,
       |pairs AS (
       |  SELECT x.p AS a, y.p AS b, count(*) AS w
       |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |bf AS (SELECT a, b, (w * (w - 1)) // 2 AS bf FROM pairs),
       |corners AS (
       |  SELECT a AS part, bf FROM bf
       |  UNION ALL SELECT b, bf FROM bf)
       |SELECT part, CAST(sum(bf) AS BIGINT) AS n_butterflies
       |FROM corners GROUP BY part
       |ORDER BY n_butterflies DESC, part LIMIT ${Triangles.TopK}""".stripMargin

  /** Oracle: the h-index iteration unrolled as [[Cores.MaxRounds]]
    * chained CTE rounds — the EXACT per-round recurrence the Spark loop
    * runs (join neighbor estimates, rank descending, h-index, lower the
    * estimate), so the two engines agree round for round whether or not
    * the fixpoint is reached within the bound. row_number tie order
    * differs across engines but the h-index is order-invariant over
    * equal values. */
  val kcoreSql: String = {
    // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    // each est_i is referenced twice (by nb_{i+1} and est_{i+1}), so an
    // inlined 24-round chain expands 2^24-fold
    val rounds = (1 to Cores.MaxRounds).map { i =>
      val p = s"est${i - 1}"
      s"""nb$i AS MATERIALIZED (SELECT e.dst AS n, p.c FROM edges e JOIN $p p ON p.n = e.src),
         |rk$i AS (SELECT n, c, row_number() OVER (PARTITION BY n ORDER BY c DESC) AS rn FROM nb$i),
         |h$i AS MATERIALIZED (SELECT n, COALESCE(MAX(CASE WHEN c >= rn THEN rn END), 0) AS h FROM rk$i GROUP BY n),
         |est$i AS MATERIALIZED (SELECT p.n, LEAST(p.c, h$i.h) AS c FROM $p p JOIN h$i ON h$i.n = p.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH $LiCappedCte,
       |und AS MATERIALIZED (
       |  SELECT x.p AS a, y.p AS b
       |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= ${Cores.MinSupport}),
       |edges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM und
       |  UNION ALL SELECT b, a FROM und),
       |est0 AS MATERIALIZED (SELECT src AS n, count(*) AS c FROM edges GROUP BY 1),
       |$rounds
       |SELECT n AS part, CAST(c AS BIGINT) AS coreness
       |FROM est${Cores.MaxRounds} ORDER BY part""".stripMargin
  }

  /** Oracle: the peel recurrence unrolled as [[Truss.MaxRounds]]
    * materialized CTE rounds — per round the symmetric adjacency, the
    * common-neighbor support count, and the >= k−2 filter, identical to
    * the Spark loop. */
  val ktrussSql: String = {
    val k = Truss.K
    val rounds = (1 to Truss.MaxRounds).map { i =>
      val p = s"e${i - 1}"
      s"""adj$i AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM $p UNION ALL SELECT b, a FROM $p),
         |sup$i AS MATERIALIZED (
         |  SELECT e.a, e.b, count(*) AS c
         |  FROM $p e
         |  JOIN adj$i x ON x.u = e.a
         |  JOIN adj$i y ON y.u = e.b AND y.v = x.v
         |  GROUP BY 1, 2),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM $p e
         |  LEFT JOIN sup$i s ON s.a = e.a AND s.b = e.b
         |  WHERE COALESCE(s.c, 0) >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    val last = s"e${Truss.MaxRounds}"
    s"""WITH $LiCappedCte,
       |e0 AS MATERIALIZED (
       |  SELECT x.p AS a, y.p AS b
       |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= ${Cores.MinSupport}),
       |$rounds,
       |adjF AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM $last UNION ALL SELECT b, a FROM $last),
       |supF AS MATERIALIZED (
       |  SELECT e.a, e.b, count(*) AS c
       |  FROM $last e
       |  JOIN adjF x ON x.u = e.a
       |  JOIN adjF y ON y.u = e.b AND y.v = x.v
       |  GROUP BY 1, 2)
       |SELECT e.a, e.b, CAST(COALESCE(s.c, 0) AS BIGINT) AS support
       |FROM $last e LEFT JOIN supF s ON s.a = e.a AND s.b = e.b
       |ORDER BY e.a, e.b""".stripMargin
  }

  /** Oracle: the frontier recurrence unrolled as [[Bfs.MaxRounds]]
    * materialized CTE rounds — identical graph, source, and depth
    * bound, so the result is exact whether or not BFS has converged
    * by the bound. */
  val bfsSql: String = {
    val rounds = (1 to Bfs.MaxRounds).map { i =>
      val pf = s"f${i - 1}"
      val pd = s"d${i - 1}"
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS n
         |  FROM edges e JOIN $pf f ON f.n = e.src
         |  WHERE e.dst NOT IN (SELECT n FROM $pd)),
         |d$i AS MATERIALIZED (
         |  SELECT n, d FROM $pd UNION ALL SELECT n, $i AS d FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $LiCappedCte,
       |und AS MATERIALIZED (
       |  SELECT x.p AS a, y.p AS b
       |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= ${Cores.MinSupport}),
       |edges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM und
       |  UNION ALL SELECT b, a FROM und),
       |d0 AS MATERIALIZED (SELECT (SELECT min(a) FROM und) AS n, 0 AS d),
       |f0 AS MATERIALIZED (SELECT n FROM d0),
       |$rounds
       |SELECT n AS part, CAST(d AS BIGINT) AS dist
       |FROM d${Bfs.MaxRounds} ORDER BY part""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "graph_groupcap_audit" -> groupCapAuditSql,
    "graph_link_prediction" -> linkPredictionSql,
    "graph_modularity" -> modularitySql,
    "graph_assortativity" -> assortativitySql,
    "dedup_clusters" -> dedupClustersSql,
    // identical output contract to dedup_clusters — the star-contraction
    // path is cross-checked against the same recursive-CTE fixpoint
    "dedup_clusters_star" -> dedupClustersSql,
    "dedup_split_leakage" -> splitLeakageSql,
    "graph_triangles" -> trianglesSql,
    "graph_butterflies" -> butterfliesSql,
    "graph_kcore" -> kcoreSql,
    "graph_ktruss" -> ktrussSql,
    "graph_bfs" -> bfsSql,
    "graph_walks" -> randomWalksSql
  )
}
