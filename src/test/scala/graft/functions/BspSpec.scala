package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.queries.GraphOps

/** Storage pins for the BSP family's lineage cut: a loop long enough to
  * cut more than once must free every earlier cut as the next lands and
  * hand the last one to [[graft.GateCache]], so nothing it persisted
  * outlives the harness's release. */
class BspSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Runs `materialize`, then [[graft.GateCache.releaseAll]]; returns the
    * ids of the RDDs the run persisted and of those still persisted after
    * the release. */
  private def persisted(materialize: => Unit): (Set[Int], Set[Int]) = {
    graft.GateCache.releaseAll()
    def ids = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = ids
    materialize
    val held = ids -- before
    graft.GateCache.releaseAll()
    (held, ids -- before)
  }

  test("lineage cut: 10-round pagerank and the 64-chain CC leave no " +
      "persisted RDD behind after releaseAll") {
    val (prHeld, prLeft) = persisted {
      GraphOps.pagerank(spark, TestSpark.Sf0001, 10).collect(); ()
    }
    assert(prHeld.nonEmpty, "the 10-round pagerank persisted nothing")
    assert(prLeft.isEmpty, s"pagerank left RDDs $prLeft persisted")

    var rounds = 0
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id1", "id2")
    val (ccHeld, ccLeft) = persisted {
      val (labels, r) = DedupOps.connectedComponentsWithRounds(chain, 25)
      labels.collect()
      rounds = r
    }
    assert(rounds > 3,
      s"the chain converged in $rounds rounds — never past the first cut")
    assert(ccHeld.nonEmpty, "the 64-chain CC persisted nothing")
    assert(ccLeft.isEmpty, s"CC left RDDs $ccLeft persisted")
  }
}
