package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Property checks for [[DedupOps.connectedComponentsWithRounds]]'s
  * large-star/small-star implementation: the fixpoint must equal a
  * driver-side union-find on every graph shape, and convergence must be
  * log-bounded (not diameter-bound) — the reason the star algorithm
  * replaced plain min-label propagation.
  */
class DedupPropertySpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Driver-side union-find oracle: min-id label per component. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def ccMap(pairs: Seq[(Long, Long)], maxIter: Int = 25)
      : (Map[Long, Long], Int) = {
    val (df, rounds) = DedupOps.connectedComponentsWithRounds(
      pairs.toDF("id1", "id2"), maxIter)
    (df.as[(Long, Long)].collect().toMap, rounds)
  }

  test("deep chain (diameter 64) converges in log-bounded rounds") {
    // 0-1-2-…-64: plain propagation needs ~64 rounds (min label crosses
    // one hop per join); the star alternation must stay ≤ ~2·log2(64)+2.
    // The generous bound still fails loudly if anyone regresses to a
    // diameter-bound scheme.
    val chain = (0L until 64L).map(i => (i, i + 1))
    val (labels, rounds) = ccMap(chain, maxIter = 25)
    assert(labels == (0L to 64L).map(_ -> 0L).toMap)
    assert(rounds <= 14, s"expected log-bounded convergence, took $rounds")
  }

  test("random graphs match a driver-side union-find oracle") {
    // deterministic LCG so the fixtures are stable run-to-run
    var seed = 0x9e3779b97f4a7c15L
    def next(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound + bound) % bound).toInt
    }
    for (trial <- 1 to 4) {
      val n = 40 + trial * 30
      val edges = (0 until n).map(_ => (next(n).toLong, next(n).toLong))
        .filter { case (a, b) => a != b }
      val (labels, _) = ccMap(edges)
      assert(labels == unionFind(edges), s"trial $trial (n=$n) diverged")
      // the same edges duplicated and reversed: CC takes its input as a
      // multiset, with no dedup before round 1
      val multi = edges ++ edges ++ edges.map(_.swap)
      assert(ccMap(multi)._1 == unionFind(edges),
        s"trial $trial (n=$n) diverged on the multiset input")
    }
  }

  test("star-shaped and already-converged inputs are fixpoints") {
    // hub-and-spoke around the min id: one round must confirm convergence
    val star = (1L to 20L).map(i => (0L, i))
    val (labels, rounds) = ccMap(star)
    assert(labels == (0L to 20L).map(_ -> 0L).toMap)
    assert(rounds == 1)
  }

  test("two dense cliques stay separate components") {
    val cliqueA = for (i <- 0L to 5L; j <- i + 1 to 6L) yield (i, j)
    val cliqueB = for (i <- 100L to 105L; j <- i + 1 to 106L) yield (i, j)
    val (labels, _) = ccMap(cliqueA ++ cliqueB)
    assert((0L to 6L).forall(labels(_) == 0L))
    assert((100L to 106L).forall(labels(_) == 100L))
  }

  test("empty pair set yields empty labels") {
    val (labels, _) = ccMap(Seq.empty)
    assert(labels.isEmpty)
  }

  test("non-convergence within maxIter fails loudly, not silently wrong") {
    val chain = (0L until 64L).map(i => (i, i + 1))
    val e = intercept[IllegalArgumentException] {
      ccMap(chain, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }
}
