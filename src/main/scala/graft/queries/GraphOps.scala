package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the warehouse star schema — the operator
  * family (Pregel-style repeated join+aggregate) that complements the
  * single-pass relational surface and the large-star/small-star connected
  * components in [[graft.functions.DedupOps]].
  *
  * The graph is the customer–supplier bipartite relation mined from
  * orders ⋈ lineitem (who trades with whom), walked in both directions so
  * every node has out-degree ≥ 1 — no dangling-mass special case.
  *
  * Cross-engine exactness: PageRank is normally run in floating point,
  * where the per-node Σ of incoming contributions depends on shuffle
  * order. Here the whole recurrence is integer arithmetic on nano-unit
  * ranks — contribution = rank div outdeg (integral division, positive
  * operands, so Spark's truncating `div` ≡ DuckDB's flooring `//`), and
  * the damping step is `150_000_000 + (Σ·85) div 100` — so the result is
  * bit-exact under ANY aggregation order. Overflow bound: Σ incoming
  * contributions ≤ total mass N·1e9; ·85 must stay < 2^63, i.e. the graph
  * may hold up to ~1e8 nodes with NO single node absorbing >10% of global
  * rank — far beyond any SF here, documented for the 100 TB reading.
  *
  * Scale shape: edges and degrees are built once, cached, and re-joined
  * per iteration (partial-agg'd shuffle on dst); iterations unroll lazily
  * into one plan (the x_kmeans_embed pattern — no driver-side loop over
  * collected data). At 1000 executors each iteration is one co-partitioned
  * shuffle join; skewed hub nodes are AQE's skew-join case.
  *
  * One kit: every graph comes from the one orders ⋈ lineitem join
  * ([[tradeLines]]), node-encoded by [[encode]] and made undirected by
  * the one [[mirror]]; every loop folds through
  * [[graft.functions.Bsp.loop]], whose lineage cut the star CC shares;
  * BFS, SSSP and label propagation are one min-propagation superstep
  * ([[minPropagate]]) that differs only in the message.
  */
object GraphOps {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  /** Unrolled PageRank iterations (kept small so the DuckDB oracle's CTE
    * chain stays readable; convergence behavior is spec'd, not gated). */
  val PrIters = 3

  /** Damping in integer parts-per-nano: rank' = Jump + (Σ·Damp) div 100. */
  val PrJumpNano = 150000000L
  val PrDampPct = 85L

  /** orders ⋈ lineitem — the trade relation every graph here is mined
    * from: one row per order line with `o_custkey`, `l_suppkey` and the
    * `extra` lineitem columns. */
  private def tradeLines(s: SparkSession, dir: String,
      extra: String*): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem")
          .select(("l_orderkey" +: "l_suppkey" +: extra).map(col): _*),
        col("o_orderkey") === col("l_orderkey"))

  /** Trade rows as customer → supplier edges: node ids encoded by
    * `node(key, isSupplier)`, the `rest` columns riding along. */
  private def encode(trades: DataFrame, node: (Column, Boolean) => Column,
      rest: Column*): DataFrame =
    trades.select(node(col("o_custkey"), false).as("src") +:
      node(col("l_suppkey"), true).as("dst") +: rest: _*)

  /** The undirected graph of the directed edges `e0`: every edge plus its
    * reverse, any further columns (a weight) riding along. Sampling
    * happens on `e0`, BEFORE the mirror — sampling per direction would
    * break symmetry and make "undirected" a lie. */
  private def mirror(e0: DataFrame): DataFrame = {
    val rest = e0.columns.drop(2).toSeq.map(col)
    e0.unionAll(e0.select(col("dst").as("src") +: col("src").as("dst") +:
      rest: _*))
  }

  /** Every 1-in-[[LpSampleMod]] distinct (o_custkey, l_suppkey) trade
    * pair, kept by a portable 32-bit hash of the canonical STRING key
    * "c<ck>>s<sk>" — the same bytes the DuckDB oracle hashes, so the
    * sample is the same whatever the node encoding. */
  private def sampledTradePairs(s: SparkSession, dir: String): DataFrame =
    tradeLines(s, dir).select(col("o_custkey"), col("l_suppkey")).distinct()
      .filter(graft.functions.PortableHash.hash32(
        concat(lit("c"), col("o_custkey").cast("string"),
          lit(">s"), col("l_suppkey").cast("string"))) % LpSampleMod === 0)

  // ---- compact node ids (optimization round 15) ----------------------
  // The BSP loops shuffle node ids every round (join on src + agg on the
  // node), and the ids were the STRINGS "c<custkey>"/"s<suppkey>" —
  // 8–10 bytes plus offsets, string hashing, string compares, per round
  // per edge. Guide §2.3 ("narrower types: halve the column, halve its
  // shuffle bytes"): the bipartite id space packs losslessly into a long
  // (customer k ↔ 2k, supplier k ↔ 2k+1), so every per-round exchange
  // carries fixed-width longs instead. Only the FINAL projection (and
  // only where the gate exposes node ids at all) formats the string back
  // — bit-identical output, oracle-checked. Gates whose result depends
  // on the STRING ordering of ids (x_label_propagation's min-label) use
  // [[lexPack]] instead — the long order differs from the lexicographic one.

  /** Pack a customer (`supp = false`) or supplier key into the long node
    * id space. */
  private def pack(k: Column, supp: Boolean): Column =
    if (supp) k.cast("long") * 2 + 1 else k.cast("long") * 2

  /** Format a packed long node id back to the public "c<k>"/"s<k>" form. */
  private def fmtNode(n: Column): Column =
    concat(when(n % 2 === 0, lit("c")).otherwise(lit("s")),
      shiftright(n, 1).cast("string")) // keys ≥ 0, so >> 1 ≡ div 2

  /** An edge frame with its packed ids formatted as the public strings —
    * the specs' reference form of each graph. */
  private def strings(e: DataFrame): DataFrame =
    e.select(fmtNode(col("src")).as("src") +: fmtNode(col("dst")).as("dst") +:
      e.columns.drop(2).toSeq.map(col): _*)

  /** Distinct trade edges, both directions, packed: c<custkey> ↔ s<suppkey>. */
  private[queries] def tradeEdgesLong(s: SparkSession, dir: String): DataFrame =
    mirror(encode(tradeLines(s, dir), pack).distinct())

  /** [[tradeEdgesLong]] with the public string ids. */
  private[queries] def tradeEdges(s: SparkSession, dir: String): DataFrame =
    strings(tradeEdgesLong(s, dir))

  /** PageRank for an arbitrary iteration count via
    * [[graft.functions.Bsp.loop]] (integer recurrence — bit-exact through
    * checkpoint materialization).
    *
    * Optimization-round shape (guide §2.4/§2.3): the source's outdegree
    * is pre-joined ONCE onto the cached edge frame, so the loop state is
    * the minimal (node, rank) pair and each iteration is one join + one
    * partial-agg'd shuffle — the old shape re-joined `deg` every
    * iteration just to carry outdeg through (one extra exchange per
    * iteration); and node ids are packed longs ([[tradeEdgesLong]]),
    * formatted back to the public strings only in the final projection.
    * The recurrence and its integer arithmetic are unchanged — the
    * oracle pins the result bit-exact. */
  def pagerank(s: SparkSession, dir: String, iters: Int): DataFrame = {
    val e0 = graft.GateCache.cache(tradeEdgesLong(s, dir))
    val deg = graft.GateCache.cache(
      e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    // (src, dst, src's outdeg) — outdeg rides the edge, not the state
    val edges = graft.GateCache.cache(e0.join(deg, "src"))
    val init = deg.select(col("src").as("node"),
      lit(1000000000L).as("rank_nano"))
    val ranks = graft.functions.Bsp.loop(init, iters) { r =>
      edges.join(r, edges("src") === r("node"))
        .select(col("dst"), expr("rank_nano div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg((lit(PrJumpNano) +
          expr(s"sum(c) * $PrDampPct div 100")).as("rank_nano"))
        .select(col("dst").as("node"), col("rank_nano"))
    }
    ranks.join(deg, ranks("node") === deg("src"))
      .select(fmtNode(col("node")).as("node"), col("outdeg"),
        col("rank_nano"))
  }

  /** Edge significance floor for [[triangleStats]]: a supplier pair is an
    * edge only when it co-occurs in at least this many orders. The raw
    * projection is a 91%-dense quasi-clique at sf0.1 (1000 suppliers,
    * 454k of 500k possible pairs — random co-purchase saturates), on
    * which ANY triangle algorithm is Θ(n³) because the answer itself is
    * ~C(n,3); the thresholded "significant co-trade" graph (the standard
    * co-occurrence-network construction) is 10× sparser there and
    * identical at the small SFs (every pair clears the floor). */
  val TriMinCoOrders = 5L

  /** Triangle counting over the significant supplier co-occurrence graph
    * (pairs co-trading in ≥ [[TriMinCoOrders]] orders — the unipartite
    * projection of the bipartite trade relation, which itself has no
    * triangles). The
    * scale-correct compact-forward algorithm: orient every undirected
    * edge from its lower-(degree, id) endpoint to the higher one, build
    * wedges at each vertex from its ORIENTED out-edges only, and close
    * them against the canonical edge set. Degree orientation bounds
    * every vertex's wedge fanout by O(√m) on any graph (arboricity
    * argument) — the all-pairs-per-vertex blowup a naive 3-way
    * self-join takes on hub vertices cannot happen. Every join is an
    * equi-join; every count is integer-exact.
    *
    * Output: one row of global graph stats — nodes, edges, wedges
    * (open triads, Σ d(d−1)/2 — exact integer: d(d−1) is even),
    * triangles, and the global clustering coefficient 3T/W (one double
    * division, deterministic in both engines, rounded to 6). */
  private def triangleStats(s: SparkSession, dir: String): DataFrame = {
    val su = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    // Per-order supplier pairs WITHOUT a self-join (optimization r15):
    // group the ≤ O(order-size) suppliers of each order into a sorted
    // array and expand the i<j pairs with array expressions — the
    // lshCandidatePairs pattern. The old orderkey self-join shuffled su
    // twice and ran a join to produce the very same pair multiset; this
    // is one partial-agg'd shuffle on l_orderkey plus an in-task expand.
    // Per-order fanout is bounded by the order's line count (single-digit
    // here, small everywhere — an "order" is a bounded business object),
    // so no task materializes more than O(max-order-size²) pairs per row.
    val perOrder = su.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_suppkey"))).as("_ss"))
      .filter(size(col("_ss")) > 1)
    val pairs = flatten(transform(
      sequence(lit(0), size(col("_ss")) - 2),
      i => transform(
        sequence(i + 1, size(col("_ss")) - 1),
        j => struct(element_at(col("_ss"), i + 1).as("u"),
                    element_at(col("_ss"), j + 1).as("v")))))
    val e = graft.GateCache.cache(
      perOrder.select(explode(pairs).as("_p"))
        .select(col("_p.u").as("u"), col("_p.v").as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("_n_co"))
        .filter(col("_n_co") >= TriMinCoOrders)
        .select(col("u"), col("v")))
    triangleStatsFromEdges(e)
  }

  /** Core of [[triangleStats]] over an arbitrary canonical (u < v,
    * distinct) undirected edge frame — separated so specs can pin the
    * count on crafted non-complete graphs (the harness supplier graph is
    * a clique at small SF, where C(n,3) bugs would hide). */
  private[queries] def triangleStatsFromEdges(e: DataFrame): DataFrame = {
    // deg + ed CACHED (optimization r16): the wedge stage self-joins ed,
    // and ed references deg twice — uncached, Catalyst shares no subplan
    // across self-join sides, so the r15 plan dump showed the whole
    // orientation pipeline planned TWICE and the degree aggregate FOUR
    // times (one per join side per ed copy). Caching runs each once; the
    // wedge join then reads both sides from the same in-memory frame.
    val deg = graft.GateCache.cache(
      e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d")))
    // orient by (degree, id): src = the smaller endpoint under that order
    val ed = graft.GateCache.cache(e
      .join(deg.select(col("node").as("u"), col("d").as("_du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("_dv")), "v")
      .select(
        when(col("_du") < col("_dv") ||
          (col("_du") === col("_dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("_du") < col("_dv") ||
          (col("_du") === col("_dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst")))
    val wedges = ed.select(col("src"), col("dst").as("w1"))
      .join(ed.select(col("src"), col("dst").as("w2")), Seq("src"))
      .filter(col("w1") < col("w2"))
    // close-side keys: w1 < w2 holds on every wedge row (the filter
    // above), so least ≡ w1 and greatest ≡ w2 — plain column equi-keys
    // instead of conditional expressions hashed per probe
    val tri = wedges.join(e,
        col("w1") === col("u") && col("w2") === col("v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val base = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).cast("long").as("n_wedges"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
    base.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles").cast("double") /
          col("n_wedges").cast("double"), 6).as("clustering_coeff"))
  }

  /** Synchronous min-label-propagation rounds for the gate (kept small so
    * the unrolled DuckDB CTE oracle stays readable — the PrIters rule). */
  val LpRounds = 3

  /** Every 1-in-`LpSampleMod` canonical trade edge survives into the
    * sparsified community graph (portable-hash Bernoulli on the edge key,
    * reproducible in DuckDB) — the full trade graph is one connected hub
    * at every SF, where label propagation degenerates to a single label;
    * the sparsified graph fragments into a real component-size spectrum. */
  val LpSampleMod = 20

  /** [[LpSampleMod]]-sparsified trade edges, packed ids for the peel
    * loop. */
  private[queries] def sparseTradeEdgesLong(s: SparkSession,
      dir: String): DataFrame =
    mirror(encode(sampledTradePairs(s, dir), pack))

  /** [[sparseTradeEdgesLong]] with the public string ids. */
  private[queries] def sparseTradeEdges(s: SparkSession, dir: String): DataFrame =
    strings(sparseTradeEdgesLong(s, dir))

  // ---- lexicographic order-embedding pack (optimization round 16) ----
  // x_label_propagation's min-label is defined over the LEXICOGRAPHIC
  // order of the public string ids ("c10" < "c2" < "s1"), so the value
  // pack above (c k↔2k) — whose long order is numeric — cannot carry the
  // loop. This pack embeds the string order into a long instead, so the
  // label rounds shuffle and compare fixed 8-byte keys:
  //
  //   bit 44            : prefix — 'c' = 0 < 's' = 1 (every "c…" string
  //                       orders below every "s…" string)
  //   bits 4..43 (mant) : the decimal digits of k right-padded with
  //                       zeros to LexW digits
  //   bits 0..3  (len)  : digit count of k
  //
  // Order proof (LexPackSpec pins it exhaustively on boundary keys): for
  // digit strings a, b without leading zeros, compare right-padded
  // values first — at the first differing digit the padded comparison
  // IS the lexicographic comparison; if the padded values tie, one
  // string is the other plus trailing zeros, and lexicographic order
  // says the shorter (the prefix) is smaller — exactly the len
  // tie-break. mant < 10^LexW < 2^40 ⇒ mant·16+len < 2^44, so the three
  // fields compare in (prefix, mant, len) priority as one long.
  // Keys must stay below 10^LexW (12 digits — 10^11 customers is far
  // beyond any SF here; LexPackSpec pins the bound).

  private val LexW = 12

  /** Pack key `k` of family `c`/`s` into the lexicographic long space. */
  private[queries] def lexPack(k: Column, supp: Boolean): Column = {
    val len = length(k.cast("string")).cast("long")
    val mant = k.cast("long") *
      pow(lit(10.0), lit(LexW.toLong) - len).cast("long")
    lit(if (supp) 1L << 44 else 0L) + shiftleft(mant, 4) + len
  }

  /** Reconstruct the public "c<k>"/"s<k>" string from [[lexPack]].
    * The unscale is a double division, but exact by construction:
    * mant = k·10^(LexW−len) with both factors < 2^53, so the quotient k
    * is the IEEE-exact result and the long cast cannot truncate. */
  private[queries] def fmtLex(n: Column): Column = {
    val len = n.bitwiseAND(lit(15L))
    val mant = shiftright(n.bitwiseAND(lit((1L << 44) - 1)), 4)
    val k = (mant / pow(lit(10.0), lit(LexW.toLong) - len)).cast("long")
    concat(when(n >= (1L << 44), lit("s")).otherwise(lit("c")),
      k.cast("string"))
  }

  /** [[sparseTradeEdges]] on [[lexPack]]ed ids — the same surviving
    * edges; only the ids the label rounds shuffle are packed. */
  private[queries] def sparseTradeEdgesLex(s: SparkSession,
      dir: String): DataFrame =
    mirror(encode(sampledTradePairs(s, dir), lexPack))

  /** The one min-propagation superstep of BFS, SSSP and label propagation
    * (Pregel's vertex program with a min combiner), folded `rounds` times
    * from `init` (node, value): every node with a value sends
    * `msg` — an expression over the joined edge and state row — to each
    * out-neighbor, and each node keeps the minimum of its own value and
    * what it received. UNION ALL + min-groupBy, so a round is one
    * co-partitioned join on `src` plus one partial-agg'd shuffle on
    * `node`, with no anti-join against a visited set; monotone and
    * idempotent, so partition order cannot change a value. The state is
    * cached and materialized per superstep: it feeds BOTH the join and
    * the union, so a lazy unroll would re-execute earlier rounds
    * ~2^depth times (the x_kcore lesson applied family-wide), and those
    * two readers run as concurrent stages of one job, so a lazily filled
    * cache would still compute each round's state twice. */
  private def minPropagate(edges: DataFrame, init: DataFrame, rounds: Int)
      (msg: Column): DataFrame = {
    val v = init.columns(1)
    graft.functions.Bsp.loop(init, rounds) { r0 =>
      val r = graft.GateCache.cache(r0)
      r.count()
      val sent = edges.join(r, edges("src") === r("node"))
        .select(col("dst").as("node"), msg.as(v))
      r.unionAll(sent).groupBy(col("node")).agg(min(col(v)).as(v))
    }
  }

  /** Synchronous min-label propagation (community detection): every round
    * each node takes the minimum label over {itself} ∪ in-neighbors
    * ([[minPropagate]] with the label as the message). String labels (the
    * node ids) order identically under Spark's and DuckDB's binary
    * collation, so the fixpoint is engine-exact. Converged communities
    * carry their minimum member id as the label. */
  private[queries] def labelPropFromEdges(edges: DataFrame, rounds: Int): DataFrame =
    minPropagate(edges, edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")), rounds)(col("label"))

  /** Gate shape: community-size histogram after [[LpRounds]] rounds over
    * the sparsified trade graph — label = min member id, size = members.
    * Runs on [[lexPack]]ed ids (r16): the pack is a monotone bijection
    * onto its image, so min over packed longs ≡ pack(min over strings)
    * at every round by induction, and only the final projection formats
    * the surviving labels back — bit-identical output, oracle-checked. */
  private def labelPropagation(s: SparkSession, dir: String): DataFrame =
    labelPropFromEdges(graft.GateCache.cache(sparseTradeEdgesLex(s, dir)),
        LpRounds)
      .groupBy(col("label")).agg(count(lit(1)).as("community_size"))
      .select(fmtLex(col("label")).as("label"), col("community_size"))

  /** BFS hop budget for the gate (same unroll-readability rule). */
  val BfsHops = 3

  /** Seed stride: suppliers with `s_suppkey % BfsSeedMod == 0` are the
    * multi-source frontier — a fixed 1/10 of the supplier side at any SF. */
  val BfsSeedMod = 10

  /** Multi-source BFS as iterative min-distance relaxation: the reached
    * set starts at the seeds (dist 0) and each round offers every
    * out-neighbor dist+1 ([[minPropagate]]). Relaxation over the whole
    * reached set rather than frontier difference: the min dedups
    * re-reached nodes exactly like a visited check would, so the plan is
    * two exchanges per hop regardless of graph shape. */
  private[queries] def khopFromEdges(edges: DataFrame, seeds: DataFrame,
      hops: Int): DataFrame =
    minPropagate(edges, seeds.select(col("node"), lit(0L).as("dist")), hops)(
      col("dist") + lit(1L))

  /** Gate shape: nodes-per-hop-distance histogram after [[BfsHops]] hops
    * from the supplier seed set over the full (connected) trade graph.
    * Long node ids throughout ([[tradeEdgesLong]]) — the output exposes
    * only (dist, count), so no formatting is needed at all. */
  private def bfsKhop(s: SparkSession, dir: String): DataFrame = {
    val seeds = t(s, dir, "supplier")
      .filter(col("s_suppkey") % BfsSeedMod === 0)
      .select(pack(col("s_suppkey"), supp = true).as("node"))
    khopFromEdges(graft.GateCache.cache(tradeEdgesLong(s, dir)), seeds, BfsHops)
      .groupBy(col("dist")).agg(count(lit(1)).as("n_nodes"))
  }

  /** Relaxation budget for the weighted-SSSP gate (unroll rule again). */
  val SsspRounds = 3

  /** Weighted trade edges, packed ids: weight = the MINIMUM line quantity
    * ever traded on the c–s relation (the "cheapest lane" reading),
    * mirrored undirected. Harness quantities are integral-valued doubles
    * (spec-checked), so the bigint cast is exact and identical under
    * Spark's truncating and DuckDB's rounding double→int conversion —
    * all downstream path sums are integer arithmetic, bit-exact in any
    * relaxation order. One partial-agg'd shuffle builds the edge list. */
  private[queries] def weightedTradeEdgesLong(s: SparkSession,
      dir: String): DataFrame =
    mirror(encode(tradeLines(s, dir, "l_quantity"), pack,
        col("l_quantity").cast("bigint").as("w"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")))

  /** [[weightedTradeEdgesLong]] with the public string ids. */
  private[queries] def weightedTradeEdges(s: SparkSession, dir: String): DataFrame =
    strings(weightedTradeEdgesLong(s, dir))

  /** Multi-source single-source-shortest-path by Bellman–Ford relaxation:
    * [[khopFromEdges]] with the +1 hop cost generalized to the edge
    * weight. k rounds bound path LENGTH at k edges (Bellman–Ford's
    * invariant), so a longer-hop-but-lighter path wins exactly when it
    * fits the budget — the behavior the crafted spec pins. */
  private[queries] def ssspFromEdges(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame =
    minPropagate(edges, seeds.select(col("node"), lit(0L).as("dist")), rounds)(
      col("dist") + col("w"))

  /** Gate shape: weighted distances from the supplier seed stride
    * ([[BfsSeedMod]]) after [[SsspRounds]] relaxations, restricted to
    * supplier nodes (dist 0 seeds and the 2-edge c-hop paths between
    * suppliers — where min-over-many-paths does real work) so the output
    * stays O(suppliers) at any SF. */
  private def ssspWeighted(s: SparkSession, dir: String): DataFrame = {
    val seeds = t(s, dir, "supplier")
      .filter(col("s_suppkey") % BfsSeedMod === 0)
      .select(pack(col("s_suppkey"), supp = true).as("node"))
    ssspFromEdges(graft.GateCache.cache(weightedTradeEdgesLong(s, dir)),
        seeds, SsspRounds)
      .filter(col("node") % 2 === 1) // supplier ids are the odd longs
      .select(fmtNode(col("node")).as("node"), col("dist"))
  }

  /** Peel rounds for the k-core gate (the PrIters unroll-readability
    * rule); chosen with [[KcoreK]] so the peel genuinely CASCADES on the
    * sparsified trade graph — at sf0.01 the surviving node count walks
    * 1309 → 227 → 209 → 184 across the three rounds (measured), i.e.
    * rounds 2 and 3 do real work, unlike a threshold that stabilizes
    * after one pass. */
  val KcoreRounds = 3

  /** Core threshold: a node survives a peel round only if ≥ this many of
    * its edges point at nodes that also survived the previous round. */
  val KcoreK = 4

  /** Iterative k-core peeling — the third BSP shape in this family after
    * relaxation (BFS/SSSP/PageRank) and label exchange: the loop state is
    * the EDGE set, not a per-node value, and each round REMOVES structure
    * instead of propagating it. One round = one partial-agg'd degree
    * shuffle plus two semi-joins against the keep set; the two probes are
    * the same aggregate subplan, so exchange reuse executes it once. Peeling
    * is confluent (the k-core is the unique maximal subgraph with min
    * degree ≥ k), so partition order cannot change the fixpoint, and each
    * intermediate round is itself deterministic — the oracle unrolls the
    * identical three rounds. Runs through [[graft.functions.Bsp.loop]],
    * so a deep peel (degeneracy ordering needs O(max core) rounds) keeps
    * a bounded plan. */
  private[queries] def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    graft.functions.Bsp.loop(edges, rounds) { e0 =>
      // Materialize the round's input: unlike the relax family (one
      // self-reference per round), a peel round reads its input TWICE —
      // under the degree aggregate and as the join's probe side — so a
      // pure lazy unroll re-executes each earlier round 2^depth times
      // (measured 9.0 s lazy vs 2.7 s cached at the gate shape). Pregel-style
      // superstep materialization is the scale-correct shape here; blocks
      // are freed with the gate's other caches, and a deep peel's
      // footprint is bounded by Bsp.loop's lineage cut.
      val e = graft.GateCache.cache(e0)
      val keep = graft.GateCache.cache(
        e.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("src").as("node")))
      e.join(keep.as("ka"), col("src") === col("ka.node"), "left_semi")
        .join(keep.as("kb"), col("dst") === col("kb.node"), "left_semi")
    }

  /** Gate shape: degree histogram of the [[KcoreK]]-core approximant after
    * [[KcoreRounds]] peels of the sparsified trade graph — O(distinct
    * degrees) output at any SF. */
  private def kcore(s: SparkSession, dir: String): DataFrame =
    kcorePeel(sparseTradeEdgesLong(s, dir), KcoreK, KcoreRounds)
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_pagerank" -> ((s, dir) => pagerank(s, dir, PrIters)),
    "x_triangle_count" -> ((s, dir) => triangleStats(s, dir)),
    "x_label_propagation" -> ((s, dir) => labelPropagation(s, dir)),
    "x_bfs_khop" -> ((s, dir) => bfsKhop(s, dir)),
    "x_sssp_weighted" -> ((s, dir) => ssspWeighted(s, dir)),
    "x_kcore" -> ((s, dir) => kcore(s, dir)))

  val oracle: Map[String, String] = Map(
    // Same three peel rounds unrolled: per round recompute degrees over
    // the surviving edges, keep nodes with d >= K, keep edges whose BOTH
    // endpoints were kept. Sparsifier = labelprop's MD5-Bernoulli filter.
    "x_kcore" -> {
      val h = graft.functions.PortableHash.duckSql("(src || '>' || dst)")
      def peel(prev: String, cur: String) =
        s"""deg_$cur AS (SELECT src, count(*) AS d FROM $prev GROUP BY src),
           |keep_$cur AS (SELECT src FROM deg_$cur WHERE d >= $KcoreK),
           |$cur AS (SELECT e.src, e.dst FROM $prev e
           |  JOIN keep_$cur a ON e.src = a.src
           |  JOIN keep_$cur b ON e.dst = b.src)""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |    's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |es AS (SELECT src, dst FROM e0 WHERE ($h) % $LpSampleMod = 0),
        |g0 AS MATERIALIZED (
        |  SELECT src, dst FROM es UNION ALL SELECT dst, src FROM es),
        |${peel("g0", "g1")},
        |${peel("g1", "g2")},
        |${peel("g2", "g3")}
        |SELECT d AS deg, count(*) AS n_nodes FROM (
        |  SELECT src, count(*) AS d FROM g3 GROUP BY src)
        |GROUP BY d""".stripMargin
    },

    // Orientation-free statement: with edges canonical as u < v, each
    // triangle u < v < w is counted exactly once by the ascending 3-way
    // self-join — equal to the gate's degree-oriented count because any
    // acyclic orientation counts each triangle once.
    "x_triangle_count" ->
      s"""WITH su AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2
        |  HAVING count(*) >= $TriMinCoOrders),
        |deg AS (SELECT node, count(*) AS d FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        |  GROUP BY 1),
        |tri AS (SELECT count(*) AS t FROM e e1
        |  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
        |agg AS (SELECT count(*) AS n_nodes,
        |    CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg)
        |SELECT agg.n_nodes, (SELECT count(*) FROM e) AS n_edges,
        |  agg.n_wedges, tri.t AS n_triangles,
        |  round(3.0 * CAST(tri.t AS DOUBLE)
        |    / CAST(agg.n_wedges AS DOUBLE), 6) AS clustering_coeff
        |FROM agg, tri""".stripMargin,

    // Same integer recurrence unrolled as a CTE chain. edges/deg are
    // MATERIALIZED: referenced once per iteration, and DuckDB's default
    // inlining would otherwise replicate the join+distinct chain per
    // reference. `//` floors vs Spark `div` truncates — identical on the
    // all-positive ranks; sum() is HUGEINT, cast back before the scale.
    "x_pagerank" ->
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |    's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS MATERIALIZED (
        |  SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        |r0 AS (SELECT src AS node, outdeg,
        |    CAST(1000000000 AS BIGINT) AS r FROM deg),
        |r1 AS (SELECT e.dst AS node, d.outdeg, CAST(150000000 +
        |      (CAST(sum(r.r // r.outdeg) AS BIGINT) * 85) // 100 AS BIGINT) AS r
        |  FROM edges e JOIN r0 r ON e.src = r.node
        |  JOIN deg d ON d.src = e.dst GROUP BY e.dst, d.outdeg),
        |r2 AS (SELECT e.dst AS node, d.outdeg, CAST(150000000 +
        |      (CAST(sum(r.r // r.outdeg) AS BIGINT) * 85) // 100 AS BIGINT) AS r
        |  FROM edges e JOIN r1 r ON e.src = r.node
        |  JOIN deg d ON d.src = e.dst GROUP BY e.dst, d.outdeg),
        |r3 AS (SELECT e.dst AS node, d.outdeg, CAST(150000000 +
        |      (CAST(sum(r.r // r.outdeg) AS BIGINT) * 85) // 100 AS BIGINT) AS r
        |  FROM edges e JOIN r2 r ON e.src = r.node
        |  JOIN deg d ON d.src = e.dst GROUP BY e.dst, d.outdeg)
        |SELECT node, outdeg, r AS rank_nano FROM r3""".stripMargin,

    // Same three min-label rounds unrolled; the Bernoulli edge filter is
    // the identical MD5-window arithmetic via PortableHash.duckSql.
    "x_label_propagation" -> {
      val h = graft.functions.PortableHash.duckSql("(src || '>' || dst)")
      def round(prev: String, cur: String) =
        s"""$cur AS (SELECT node, min(label) AS label FROM (
           |    SELECT node, label FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, x.label AS label
           |    FROM edges e JOIN $prev x ON e.src = x.node)
           |  GROUP BY node)""".stripMargin
      s"""WITH es AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |      's' || CAST(l_suppkey AS VARCHAR) AS dst
        |    FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
        |  WHERE ($h) % $LpSampleMod = 0),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM es UNION ALL SELECT dst, src FROM es),
        |l0 AS (SELECT node, node AS label FROM (
        |  SELECT DISTINCT src AS node FROM edges)),
        |${round("l0", "l1")},
        |${round("l1", "l2")},
        |${round("l2", "l3")}
        |SELECT label, count(*) AS community_size FROM l3
        |GROUP BY label""".stripMargin
    },

    // Same three relax rounds unrolled over the full mirrored trade graph.
    "x_bfs_khop" -> {
      def round(prev: String, cur: String) =
        s"""$cur AS (SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, r.dist + 1 AS dist
           |    FROM edges e JOIN $prev r ON e.src = r.node)
           |  GROUP BY node)""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |    's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |d0 AS (SELECT 's' || CAST(s_suppkey AS VARCHAR) AS node,
        |    CAST(0 AS BIGINT) AS dist
        |  FROM supplier WHERE s_suppkey % $BfsSeedMod = 0),
        |${round("d0", "d1")},
        |${round("d1", "d2")},
        |${round("d2", "d3")}
        |SELECT dist, count(*) AS n_nodes FROM d3 GROUP BY dist""".stripMargin
    },

    // Same three relax rounds with the edge weight in place of +1.
    "x_sssp_weighted" -> {
      def round(prev: String, cur: String) =
        s"""$cur AS (SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, r.dist + e.w AS dist
           |    FROM edges e JOIN $prev r ON e.src = r.node)
           |  GROUP BY node)""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
        |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |    's' || CAST(l_suppkey AS VARCHAR) AS dst,
        |    min(CAST(l_quantity AS BIGINT)) AS w
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |edges AS MATERIALIZED (
        |  SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0),
        |d0 AS (SELECT 's' || CAST(s_suppkey AS VARCHAR) AS node,
        |    CAST(0 AS BIGINT) AS dist
        |  FROM supplier WHERE s_suppkey % $BfsSeedMod = 0),
        |${round("d0", "d1")},
        |${round("d1", "d2")},
        |${round("d2", "d3")}
        |SELECT node, dist FROM d3 WHERE node LIKE 's%'""".stripMargin
    })
}
