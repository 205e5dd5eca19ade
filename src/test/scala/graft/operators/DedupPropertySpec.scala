package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.TestSpark
import graft.model.SchemaModel.{DeletedCol, SeqCol, VersionCol}

/** ScalaCheck properties for the dedup read path (SURVEY.md §5 plan):
  * exactly one survivor per key; survivor has the max (version, seq);
  * tombstoned keys absent; window form ≡ max_by form. Random streams are
  * kept small (the property is about semantics, not volume). */
case class Ev(id: Int, payload: Int, op: String, version: Long, seq: Long)

class DedupPropertySpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genEvents: Gen[List[Ev]] = for {
    n <- Gen.choose(1, 40)
    evs <- Gen.listOfN(n, for {
      id <- Gen.choose(1, 6)           // few keys → collisions guaranteed
      payload <- Gen.choose(0, 1000)
      op <- Gen.oneOf("I", "U", "D")
      version <- Gen.choose(1L, 5L)    // duplicate versions likely
    } yield Ev(id, payload, op, version, 0L))
  } yield evs.zipWithIndex.map { case (e, i) => e.copy(seq = i.toLong) }

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(r.passed, r.status.toString)
  }

  test("property: one survivor per key; survivor maximizes (version, seq); " +
       "tombstones hidden; window ≡ max_by") {
    check(Prop.forAll(genEvents) { evs =>
      val df = evs.toDF("id", "payload", "op", VersionCol, SeqCol)
        .withColumn(DeletedCol, when($"op" === "D", 1).otherwise(0))
        .drop("op")
      val live = LiveView.live(df, Seq("id")).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap

      // model: per key, survivor = max by (version, seq); hidden if deleted
      val expected = evs.groupBy(_.id).flatMap { case (id, es) =>
        val surv = es.maxBy(e => (e.version, e.seq))
        if (surv.op == "D") None else Some(id -> surv.payload)
      }

      val aggForm = LiveView.dedupLatestAgg(df, Seq("id"))
        .filter(col(DeletedCol) === 0)
        .drop(VersionCol, DeletedCol, SeqCol)
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap

      live == expected && aggForm == expected
    })
  }
}
