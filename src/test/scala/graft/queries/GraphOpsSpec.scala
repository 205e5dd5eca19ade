package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Semantic pins for the iterative graph operators: the integer PageRank
  * recurrence against a straight-line JVM reference (any aggregation
  * order must reproduce it bit-exactly), plus the rank laws a hash
  * compare can't express. */
class GraphOpsSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("x_pagerank ≡ straight-line integer recurrence; damping floor; mass bound") {
    val edges = GraphOps.tradeEdges(spark, TestSpark.Sf0001)
      .as[(String, String)].collect()
    val outdeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val inbound = edges.groupBy(_._2)
    var r: Map[String, Long] = outdeg.map { case (n, _) => n -> 1000000000L }
    for (_ <- 1 to GraphOps.PrIters) {
      r = inbound.map { case (v, es) =>
        val s = es.iterator.map { case (u, _) => r(u) / outdeg(u) }.sum
        v -> (GraphOps.PrJumpNano + s * GraphOps.PrDampPct / 100)
      }
    }
    val got = GraphOps.queries("x_pagerank")(spark, TestSpark.Sf0001)
      .as[(String, Long, Long)].collect()
    assert(got.map(g => g._1 -> g._3).toMap == r)
    assert(got.map(g => g._1 -> g._2).toMap == outdeg)

    // rank laws: every node keeps the jump floor; total mass stays within
    // [jump·N, N·1e9] — integral division only ever loses mass, damping
    // re-injects exactly the jump
    val n = r.size.toLong
    assert(r.values.forall(_ >= GraphOps.PrJumpNano))
    val total = r.values.sum
    assert(total >= GraphOps.PrJumpNano * n && total <= 1000000000L * n,
      s"total mass $total outside [${GraphOps.PrJumpNano * n}, ${1000000000L * n}]")

    // the bipartite hubs (few suppliers, many customers) out-rank the
    // per-side median — the "importance concentrates" behavior PageRank
    // exists for
    val (supp, cust) = got.partition(_._1.startsWith("s"))
    assert(supp.nonEmpty && cust.nonEmpty)
    assert(supp.map(_._3).min > cust.map(_._3).max / 10,
      "supplier ranks collapsed — recurrence lost the hub structure")
  }

  test("pagerank at 10 iterations: bounded plan depth, values ≡ pure unroll") {
    // beyond the gate's 3-iteration unroll, localCheckpoint-every-3 must
    // keep the FINAL plan's join count bounded by one segment (each
    // iteration contributes 2 joins) instead of 2·iters — the r7 scale
    // defect; and the truncation must not change a single rank (integer
    // recurrence — bit-exact through materialization)
    val iters = 10
    val got = GraphOps.pagerank(spark, TestSpark.Sf0001, iters)
    val plan = got.queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.length
    assert(joins <= 2 * graft.functions.Bsp.CheckpointEvery,
      s"$joins joins in the 10-iteration plan — checkpoint not truncating")
    assert(plan.collectFirst {
      case _: org.apache.spark.sql.execution.LogicalRDD => ()
    }.nonEmpty, "no LogicalRDD leaf — checkpoint never fired")
    val gotMap = got.as[(String, Long, Long)].collect()
      .map(g => g._1 -> g._3).toMap
    graft.GateCache.releaseAll()
    // pure-unroll reference: straight-line JVM recurrence at 10 iters
    val edges = GraphOps.tradeEdges(spark, TestSpark.Sf0001)
      .as[(String, String)].collect()
    val outdeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val inbound = edges.groupBy(_._2)
    var r: Map[String, Long] = outdeg.map { case (n, _) => n -> 1000000000L }
    for (_ <- 1 to iters) {
      r = inbound.map { case (v, es) =>
        val s = es.iterator.map { case (u, _) => r(u) / outdeg(u) }.sum
        v -> (GraphOps.PrJumpNano + s * GraphOps.PrDampPct / 100)
      }
    }
    assert(gotMap == r, "checkpointed ranks diverge from the pure unroll")
  }

  test("x_pagerank plan: cached edge frame, no driver-side iteration state") {
    // iterations must unroll lazily into ONE plan over the cached edges —
    // a collect-per-iteration loop would serialize the graph through the
    // driver (the anti-pattern the scaladoc forbids)
    val df = GraphOps.queries("x_pagerank")(spark, TestSpark.Sf0001)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("InMemoryRelation"),
      s"edges/deg not served from cache:\n$plan")
    // no LocalRelation at all: a collect-then-createDataFrame iteration
    // would surface the collected rows as a LocalRelation leaf (the old
    // form OR'd two negations — vacuously true whenever either string was
    // absent, i.e. always; r7 ADVICE)
    assert(!plan.contains("LocalRelation"),
      s"collected intermediate leaked into the plan:\n$plan")
    df.limit(1).collect()
    graft.GateCache.releaseAll()
  }

  test("khop/sssp/labelprop at 10 rounds: bounded plan depth, values ≡ pure unroll") {
    import spark.implicits._
    // each relax round contributes exactly ONE join, so beyond
    // Bsp.CheckpointEvery rounds the shared Bsp.loop must truncate lineage:
    // the FINAL plan holds at most one segment of joins — the pagerank
    // depth pin (above), now a family-wide invariant (r9 VERDICT #3).
    // Chain n00—…—n11 (11 edges) so 10 rounds do real work: n10 is only
    // reached at round 10, n11 never.
    val rounds = 10
    val names = (0 to 11).map(i => f"n$i%02d")
    val und = names.sliding(2).map(p => (p(0), p(1))).toSeq
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    // w=2 per chain edge, plus a heavy n00→n05 shortcut (beaten: 5·2 < 100)
    val wund = und.map { case (a, b) => (a, b, 2L) } :+ (("n00", "n05", 100L))
    val wedges = (wund ++ wund.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "w")
    val seeds = Seq("n00").toDF("node")

    def checkPlan(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val plan = df.queryExecution.optimizedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.length
      assert(joins <= graft.functions.Bsp.CheckpointEvery,
        s"$what: $joins joins in the $rounds-round plan — not truncating")
      // the superstep cache roots each round at the previous round's
      // InMemoryRelation; Bsp.loop's localCheckpoint (LogicalRDD) still
      // truncates the RDD lineage behind it every Bsp.CheckpointEvery
      assert(plan.collectFirst {
        case _: org.apache.spark.sql.execution.LogicalRDD => ()
        case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => ()
      }.nonEmpty, s"$what: no materialized leaf — cache/checkpoint never fired")
    }

    // straight-line min-relaxation reference shared by BFS and SSSP
    def relax(adj: Map[String, Seq[(String, Long)]],
        init: Map[String, Long]): Map[String, Long] =
      (1 to rounds).foldLeft(init) { (dist, _) =>
        val relaxed = dist.toSeq.flatMap { case (u, d) =>
          adj.getOrElse(u, Seq.empty).map { case (v, w) => v -> (d + w) }
        }
        (dist.toSeq ++ relaxed).groupBy(_._1)
          .map { case (n, ds) => n -> ds.map(_._2).min }
      }

    val khop = GraphOps.khopFromEdges(edges, seeds, rounds)
    checkPlan(khop, "khop")
    val adj1 = (und ++ und.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(e => e._2 -> 1L)).toMap
    assert(khop.as[(String, Long)].collect().toMap ==
      relax(adj1, Map("n00" -> 0L)))
    graft.GateCache.releaseAll()

    val sssp = GraphOps.ssspFromEdges(wedges, seeds, rounds)
    checkPlan(sssp, "sssp")
    val adjW = (wund ++ wund.map(e => (e._2, e._1, e._3))).groupBy(_._1)
      .view.mapValues(_.map(e => e._2 -> e._3)).toMap
    val wantW = relax(adjW, Map("n00" -> 0L))
    assert(wantW("n05") == 10L) // the shortcut really was beaten
    assert(sssp.as[(String, Long)].collect().toMap == wantW)
    graft.GateCache.releaseAll()

    val lp = GraphOps.labelPropFromEdges(edges, rounds)
    checkPlan(lp, "labelprop")
    val inb = (und ++ und.map(_.swap)).groupBy(_._2)
    var lab = names.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      lab = lab.map { case (v, l) =>
        v -> (Iterator(l) ++ inb.getOrElse(v, Seq.empty)
          .iterator.map(e => lab(e._1))).min
      }
    }
    // min-label floods one hop per round: after 10 rounds every node is
    // "n00" EXCEPT n11 (11 hops out — still one round short, so the 10th
    // round did real work)
    assert(lab.values.toSet == Set("n00", "n01") && lab("n11") == "n01")
    assert(lp.as[(String, String)].collect().toMap == lab)
    graft.GateCache.releaseAll()
  }

  test("x_triangle_count: crafted non-complete graph counts exactly; gate stats self-consistent") {
    import spark.implicits._
    // bowtie (two triangles sharing node 3) + a pendant edge + an
    // isolated edge: 6 wedges closed out of 11, none by symmetry tricks
    val edges = Seq((1L,2L),(1L,3L),(2L,3L),(3L,4L),(3L,5L),(4L,5L),
      (5L,6L),(7L,8L)).toDF("u","v")
    val r = GraphOps.triangleStatsFromEdges(edges)
      .as[(Long, Long, Long, Long, Double)].head()
    // brute-force reference on the same edge set
    val es = Seq((1,2),(1,3),(2,3),(3,4),(3,5),(4,5),(5,6),(7,8))
      .map { case (a,b) => (a.min(b), a.max(b)) }.toSet
    val nodes = es.flatMap(t => Seq(t._1, t._2)).toSeq.sorted
    val triBrute = nodes.combinations(3).count { c =>
      es((c(0),c(1))) && es((c(0),c(2))) && es((c(1),c(2)))
    }
    val wBrute = nodes.map(n => es.count(t => t._1 == n || t._2 == n))
      .map(d => d.toLong * (d - 1) / 2).sum
    assert(r == ((nodes.length.toLong, es.size.toLong, wBrute,
      triBrute.toLong,
      BigDecimal(3.0 * triBrute / wBrute)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(triBrute == 2) // the crafted graph really is non-degenerate
    // and the harness gate holds its own invariants at sf0.001
    val g = GraphOps.queries("x_triangle_count")(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(g._4 * 3 <= g._3) // 3T <= W always
    assert(g._2 <= g._1 * (g._1 - 1) / 2)
  }

  test("x_label_propagation: two crafted components get their min labels; gate ≡ straight-line rounds") {
    import spark.implicits._
    // two components — a path a-b-c and a pair x-y — mirrored undirected
    val und = Seq(("a","b"),("b","c"),("x","y"))
    val edges = (und ++ und.map(_.swap)).toDF("src","dst")
    val r = GraphOps.labelPropFromEdges(edges, 3)
      .as[(String, String)].collect().toMap
    assert(r == Map("a"->"a","b"->"a","c"->"a","x"->"x","y"->"x"))

    // the gate's community histogram vs a straight-line JVM run of the
    // same 3 synchronous min-rounds on the same sparsified edge set
    val es = GraphOps.sparseTradeEdges(spark, TestSpark.Sf0001)
      .as[(String, String)].collect()
    assert(es.nonEmpty, "sparsifier dropped every edge — mod too coarse")
    val inb = es.groupBy(_._2)
    var lab: Map[String, String] = es.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to GraphOps.LpRounds) {
      lab = lab.map { case (v, l) =>
        val nbrs = inb.getOrElse(v, Array.empty[(String, String)])
        v -> (Iterator(l) ++ nbrs.iterator.map(e => lab(e._1))).min
      }
    }
    val want = lab.values.groupBy(identity).map { case (l, vs) => l -> vs.size.toLong }
    val got = GraphOps.queries("x_label_propagation")(spark, TestSpark.Sf0001)
      .as[(String, Long)].collect().toMap
    assert(got == want)
    assert(got.size > 1, "sparsified graph collapsed to one community — " +
      "gate would not distinguish LP from connected components at round 1")
  }

  test("lexPack: long order ≡ lexicographic string order; fmtLex inverts (r16 pack)") {
    import spark.implicits._
    // boundary keys where right-padding and length ties bite: prefixes
    // of each other (2|20|21|200), digit-count flips (9|10, 99|100),
    // zero, and the documented 12-digit width bound
    val keys = Seq(0L, 1L, 2L, 9L, 10L, 11L, 19L, 20L, 21L, 99L, 100L,
      101L, 200L, 999L, 1000L, 123456L, 999999999999L)
    val rows = (for (k <- keys; supp <- Seq(false, true)) yield (k, supp))
    val df = rows.toDF("k", "supp")
      .select(col("k"), col("supp"),
        concat(when(col("supp"), "s").otherwise("c"),
          col("k").cast("string")).as("str"),
        when(col("supp"), GraphOps.lexPack(col("k"), supp = true))
          .otherwise(GraphOps.lexPack(col("k"), supp = false)).as("packed"),
        GraphOps.fmtLex(when(col("supp"),
            GraphOps.lexPack(col("k"), supp = true))
          .otherwise(GraphOps.lexPack(col("k"), supp = false))).as("rt"))
    val got = df.as[(Long, Boolean, String, Long, String)].collect()
    // round-trip: fmtLex ∘ lexPack = the public string builder
    got.foreach { case (_, _, str, _, rt) => assert(rt == str, s"$str → $rt") }
    // order embedding: packed longs sort exactly as the strings do under
    // the JVM's (binary, = Spark's/DuckDB's) string order — all pairs
    for (a <- got; b <- got)
      assert((a._4 < b._4) == (a._3 < b._3),
        s"pack order broke on ${a._3} vs ${b._3}")
  }

  test("x_bfs_khop: path-graph distances exact; gate ≡ straight-line relaxation") {
    import spark.implicits._
    // path a-b-c-d-e (mirrored), seed {a}: dists 0..3 one node each, e unreached
    val und = Seq(("a","b"),("b","c"),("c","d"),("d","e"))
    val edges = (und ++ und.map(_.swap)).toDF("src","dst")
    val seeds = Seq("a").toDF("node")
    val r = GraphOps.khopFromEdges(edges, seeds, 3)
      .as[(String, Long)].collect().toMap
    assert(r == Map("a"->0L,"b"->1L,"c"->2L,"d"->3L))

    // straight-line multi-source BFS on the real sf0.001 trade graph
    val es = GraphOps.tradeEdges(spark, TestSpark.Sf0001)
      .as[(String, String)].collect()
    val adj = es.groupBy(_._1)
    val seedSet = spark.read.parquet(s"${TestSpark.Sf0001}/supplier.parquet")
      .filter(col("s_suppkey") % GraphOps.BfsSeedMod === 0)
      .select(concat(lit("s"), col("s_suppkey").cast("string")))
      .as[String].collect().toSet
    var dist: Map[String, Long] = seedSet.map(_ -> 0L).toMap
    for (_ <- 1 to GraphOps.BfsHops) {
      val expand = dist.toSeq.flatMap { case (u, d) =>
        adj.getOrElse(u, Array.empty[(String, String)]).map(e => e._2 -> (d + 1))
      }
      dist = (dist.toSeq ++ expand).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    val want = dist.values.groupBy(identity).map { case (d, vs) => d -> vs.size.toLong }
    val got = GraphOps.queries("x_bfs_khop")(spark, TestSpark.Sf0001)
      .as[(Long, Long)].collect().toMap
    assert(got == want)
    assert(got.keySet.max >= 2L, "everything within 1 hop — seed stride " +
      "too dense for the gate to exercise multi-round relaxation")
  }

  test("x_sssp_weighted: lighter longer path beats heavy edge; gate ≡ straight-line relaxation") {
    import spark.implicits._
    // a→b direct costs 10; a→c→b costs 2 — with 2+ rounds b must be 2.
    // d hangs off b so one distance is a genuine 3-edge path (2+1=3).
    val und = Seq(("a","b",10L),("a","c",1L),("c","b",1L),("b","d",1L))
    val edges = (und ++ und.map(e => (e._2, e._1, e._3))).toDF("src","dst","w")
    val seeds = Seq("a").toDF("node")
    val r = GraphOps.ssspFromEdges(edges, seeds, 3)
      .as[(String, Long)].collect().toMap
    assert(r == Map("a"->0L,"b"->2L,"c"->1L,"d"->3L))

    // weight-cast exactness precondition: every harness quantity integral
    val nonIntegral = spark.read
      .parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
      .filter(col("l_quantity") =!= floor(col("l_quantity"))).count()
    assert(nonIntegral == 0L, "l_quantity not integral — bigint edge " +
      "weights would diverge between Spark (truncate) and DuckDB (round)")

    // straight-line multi-source Bellman–Ford on the real sf0.001 graph
    val es = GraphOps.weightedTradeEdges(spark, TestSpark.Sf0001)
      .as[(String, String, Long)].collect()
    val adj = es.groupBy(_._1)
    val seedSet = spark.read.parquet(s"${TestSpark.Sf0001}/supplier.parquet")
      .filter(col("s_suppkey") % GraphOps.BfsSeedMod === 0)
      .select(concat(lit("s"), col("s_suppkey").cast("string")))
      .as[String].collect().toSet
    var dist: Map[String, Long] = seedSet.map(_ -> 0L).toMap
    for (_ <- 1 to GraphOps.SsspRounds) {
      val relax = dist.toSeq.flatMap { case (u, d) =>
        adj.getOrElse(u, Array.empty[(String, String, Long)])
          .map(e => e._2 -> (d + e._3))
      }
      dist = (dist.toSeq ++ relax).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    val want = dist.filter(_._1.startsWith("s"))
    val got = GraphOps.queries("x_sssp_weighted")(spark, TestSpark.Sf0001)
      .as[(String, Long)].collect().toMap
    assert(got == want)
    // the gate must exercise real relaxation: some non-seed supplier is
    // reached through a 2-edge path, and min-over-paths beat at least one
    // single heaviest alternative (distances are not all 0)
    assert(got.values.exists(_ > 0L))
    assert(got.keySet.exists(n => !seedSet.contains(n)))
  }

  test("x_kcore: path peels from the ends, a triangle survives; gate ≡ straight-line peel; 10-round plan bounded") {
    import spark.implicits._
    // straight-line reference peel over an undirected (mirrored) edge list
    def peelRef(edges: Set[(String, String)], k: Int, rounds: Int): Set[(String, String)] =
      (1 to rounds).foldLeft(edges) { (e, _) =>
        val deg = e.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= k).keySet
        e.filter { case (u, v) => keep(u) && keep(v) }
      }

    // chain c00—…—c21 (each 2-core peel removes both endpoints: real work
    // in EVERY round through round 10) plus a disjoint triangle (a true
    // 2-core — must survive any number of peels)
    val chain = (0 to 21).map(i => f"c$i%02d").sliding(2)
      .map(p => (p(0), p(1))).toSeq
    val tri = Seq(("t0", "t1"), ("t1", "t2"), ("t0", "t2"))
    val und = chain ++ tri
    val mirrored = (und ++ und.map(_.swap)).toSet
    val edges = mirrored.toSeq.toDF("src", "dst")

    val peeled10 = GraphOps.kcorePeel(edges, 2, 10)
    // plan depth: each peel round contributes two semi-joins, and the
    // per-round superstep cache roots every round at the previous round's
    // materialization — the 10-round plan must stay bounded at ONE
    // round's joins over a materialized leaf (InMemoryRelation from the
    // round cache; Bsp.loop's localCheckpoint additionally truncates the
    // RDD lineage behind it, as the round-3/6/9 truncation WARNs show)
    val plan = peeled10.queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.length
    assert(joins <= 2 * graft.functions.Bsp.CheckpointEvery,
      s"$joins joins in the 10-round peel plan — not truncating")
    assert(plan.collectFirst {
      case _: org.apache.spark.sql.execution.LogicalRDD => ()
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => ()
    }.nonEmpty, "no materialized leaf — neither cache nor checkpoint fired")

    val want10 = peelRef(mirrored, 2, 10)
    // P22 loses its two endpoints per round: after 10 rounds a 2-node
    // remnant is still alive (round 10 did real work), plus the triangle
    assert(want10.map(_._1) == Set("c10", "c11", "t0", "t1", "t2"))
    assert(peeled10.as[(String, String)].collect().toSet == want10)
    graft.GateCache.releaseAll()

    // gate ≡ straight-line peel on the real sf0.001 sparsified graph
    val real = GraphOps.sparseTradeEdges(spark, TestSpark.Sf0001)
      .as[(String, String)].collect().toSet
    val wantReal = peelRef(real, GraphOps.KcoreK, GraphOps.KcoreRounds)
    val wantHist = wantReal.toSeq.groupBy(_._1).values
      .groupBy(_.size.toLong).view.mapValues(_.size.toLong).toMap
    val got = GraphOps.queries("x_kcore")(spark, TestSpark.Sf0001)
      .as[(Long, Long)].collect().toMap
    assert(got == wantHist)
    graft.GateCache.releaseAll()

    // partition invariance (the 4-core is empty at sf0.001, so the gate
    // can't ride PartitionInvarianceSpec's non-empty matrix): the crafted
    // peel must be identical under a different shuffle partitioning
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val narrow = GraphOps.kcorePeel(edges, 2, 10)
        .as[(String, String)].collect().toSet
      assert(narrow == want10)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    graft.GateCache.releaseAll()
  }
}
