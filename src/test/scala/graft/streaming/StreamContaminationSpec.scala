package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins the at-ingest contamination screen (t22): a train document that
  * reproduces benchmark text must be flagged no matter which micro-batch
  * delivers it, a clean document never is, and a too-short document can
  * show no evidence — plus the batch-boundary invariance the fixed
  * benchmark set buys (the property the relational oracle relies on). */
class StreamContaminationSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("benchmark text arriving in a later batch is flagged; clean and " +
      "too-short docs are not") {
    // doc 100 is the EVAL doc (id % EvalMod == 0); the train ids 1..6
    // split into the gate's thirds as {1,2},{3,4},{5,6}. Train doc 5
    // (batch 3) copies the benchmark verbatim → overlap 1.0 > ratio.
    // Train doc 3 shares a clause but mostly diverges (partial, under
    // the 0.8 cut). Doc 2 is shorter than the k-gram width: zero
    // fingerprints, no evidence, clean by construction.
    val bench = "the benchmark asks which river is longest and the answer " +
      "must name the nile not the amazon for this scoring rubric"
    val docs = Seq(
      (100L, "en", bench),
      (1L, "en", "ordinary prose about cooking pasta with plenty of salt"),
      (2L, "en", "tiny"),
      (3L, "en", "which river is longest is a fine question but this " +
        "document then wanders into entirely unrelated geography trivia " +
        "for many more words than the shared clause"),
      (4L, "de", "ein deutscher text ohne jede beziehung zum benchmark"),
      (5L, "en", bench),
      (6L, "de", "noch ein harmloser text ueber das wetter von gestern"))
    val dir = java.nio.file.Files.createTempDirectory("sct_spec").toString
    docs.map { case (id, lg, t) => (id, lg, t.length.toLong, t) }
      .toDF("doc_id", "lang", "n_chars", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val flags = graft.queries.PipelineOps.streamContaminationRaw(spark, dir)
      .select("doc_id", "is_contaminated")
      .as[(Long, Long)].collect().toMap
    // only the train split streams — the eval doc itself never lands
    assert(flags.keySet == (1L to 6L).toSet)
    assert(flags(5L) == 1L,
      "verbatim benchmark copy in batch 3 was not flagged")
    assert(flags(2L) == 0L, "zero-fingerprint doc must pass clean")
    assert(Seq(1L, 3L, 4L, 6L).forall(flags(_) == 0L),
      s"clean/partial docs flagged: $flags")
  }

  test("verdicts are batch-boundary-invariant (fixed benchmark set)") {
    // same corpus, ids permuted so the thirds split batches DIFFERENTLY
    // (the copy now lands in batch 1, before anything else streamed):
    // with a fixed benchmark set the verdict per text must not move
    val bench = "the benchmark asks which river is longest and the answer " +
      "must name the nile not the amazon for this scoring rubric"
    def corpus(copyId: Long, otherIds: Seq[Long]) = {
      val others = Seq(
        "ordinary prose about cooking pasta with plenty of salt",
        "ein deutscher text ohne jede beziehung zum benchmark",
        "noch ein harmloser text ueber das wetter von gestern")
      (Seq((100L, bench), (copyId, bench)) ++ otherIds.zip(others))
        .map { case (id, t) => (id, "en", t.length.toLong, t) }
    }
    def verdicts(rows: Seq[(Long, String, Long, String)]): Map[String, Long] = {
      val dir = java.nio.file.Files.createTempDirectory("sct_inv").toString
      rows.toDF("doc_id", "lang", "n_chars", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val byId = rows.map(r => r._1 -> r._4).toMap
      graft.queries.PipelineOps.streamContaminationRaw(spark, dir)
        .select("doc_id", "is_contaminated").as[(Long, Long)].collect()
        .map { case (id, f) => byId(id) -> f }.toMap
    }
    val early = verdicts(corpus(1L, Seq(4L, 5L, 6L))) // copy in batch 1
    val late = verdicts(corpus(6L, Seq(1L, 2L, 3L)))  // copy in batch 3
    assert(early == late,
      s"verdict moved with the batch split:\n$early\nvs\n$late")
    assert(early(bench) == 1L)
  }

  test("drop rule at the DecontamRatio boundary: batch drop set and " +
      "stream flags agree") {
    import graft.functions.Contamination
    assert(Contamination.DecontamRatio == 0.8)
    val evalFps = Seq(1L, 2L, 3L, 4L, 5L).toDF("fp")
    // doc 1: 4 of 5 fingerprints in the eval set, exactly the ratio;
    // doc 2: 5 of 6, above it; doc 3: no hits
    val fps = (Seq(1L, 2L, 3L, 4L, 90L).map((1L, _)) ++
      Seq(1L, 2L, 3L, 4L, 5L, 91L).map((2L, _)) ++
      Seq(92L, 93L).map((3L, _))).toDF("doc_id", "fp")
    val dropped = Contamination.contaminated(fps, evalFps, "doc_id")
      .as[Long].collect().toSet
    assert(dropped == Set(2L),
      s"only the doc above the ratio is dropped: $dropped")
    val flags = StreamContamination.flag(Seq(1L, 2L, 3L).toDF("doc_id"),
        fps, evalFps, "doc_id", Seq("doc_id"))
      .as[(Long, Long)].collect().toMap
    assert(flags == Map(1L -> 0L, 2L -> 1L, 3L -> 0L), s"stream flags: $flags")
  }
}
