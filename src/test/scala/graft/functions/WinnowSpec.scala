package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Winnowing fingerprint: the distributed plan (posexplode + frame-window
  * min + per-doc agg) must agree exactly with a straight-line JVM
  * reimplementation of the algorithm, document by document. */
class WinnowSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val K = Contamination.WinnowK
  private val W = Contamination.WinnowW

  // JVM reference: same normalize, same MD5-derived 32-bit gram hash
  private def normalize(s: String): String =
    s.toLowerCase.replaceAll(Text.WsClass, " ").trim
  private def h32(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(("wn|" + s).getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(8), 16)
  }
  private def winnow(text: String): Option[(Long, Long, Long, Long)] = {
    val t = normalize(text)
    if (t.length < K) return None
    val grams = (0 to t.length - K).map(i => h32(t.substring(i, i + K)))
    if (grams.length < W) return None
    val mins = (0 to grams.length - W).map(j => grams.slice(j, j + W).min)
    Some((grams.length.toLong, mins.distinct.length.toLong,
      mins.min, mins.max))
  }

  test("kgramHashes: positions, short-text guard") {
    val got = Seq("abcdef").toDF("t")
      .select(Text.kgramHashes(col("t"), 5)).head().getSeq[Long](0)
    assert(got == Seq(h32("abcde"), h32("bcdef")))
    val short = Seq("abcd").toDF("t")
      .select(Text.kgramHashes(col("t"), 5)).head().getSeq[Long](0)
    assert(short.isEmpty)
  }

  test("native WinnowMins kernel ≡ composed HOF+window form, per position") {
    import org.apache.spark.sql.expressions.Window
    val edge = Seq("", "   ", "abc", "abcdefg", "A  B\tC d efghij",
      " trailing and LEADING  ").toDF("text")
    val docs = graft.queries.Tables.read(spark, TestSpark.Sf0001, "documents")
      .select(col("text"))
    for (df <- Seq(edge, docs.limit(100))) {
      val withId = df.withColumn("_id", monotonically_increasing_id())
      // composed form: gram-hash array → posexplode → frame-window min
      val arr = withId
        .select(col("_id"), Text.normalize(col("text")).as("_t"))
        .select(col("_id"), Text.kgramHashes(col("_t"), K).as("_arr"))
      val frame = Window.partitionBy(col("_id")).orderBy(col("_pos"))
        .rowsBetween(Window.currentRow, W - 1)
      val composed = arr
        .select(col("_id"), size(col("_arr")).as("_G"),
          posexplode(col("_arr")).as(Seq("_pos", "_h")))
        .withColumn("_wmin", min(col("_h")).over(frame))
        .filter(col("_pos") <= col("_G") - W)
        .groupBy(col("_id"))
        .agg(sort_array(collect_list(struct(col("_pos"), col("_wmin"))))
          .as("_mins"))
        .select(col("_id"), transform(col("_mins"), s => s("_wmin")).as("_m"))
      val kernel = withId.select(col("_id"),
        WinnowExprs.winnowMinsNative(col("text"), K, W).as("_m"))
        .filter(size(col("_m")) > 0)
      def collect(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(collect(kernel) == collect(composed))
    }
  }

  test("x_winnow_fingerprint ≡ JVM reference on every sf0.001 document") {
    val docs = graft.queries.Tables.read(spark, TestSpark.Sf0001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val expected = docs.flatMap { case (id, txt) =>
      winnow(txt).map { case (g, n, lo, hi) => id -> ((g, n, lo, hi)) }
    }.toMap
    val got = graft.queries.TrainingData
      .queries("x_winnow_fingerprint")(spark, TestSpark.Sf0001)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.keySet == expected.keySet)
    val bad = expected.collect {
      case (id, e) if got(id) != e => (id, e, got(id))
    }
    assert(bad.isEmpty, s"first mismatches: ${bad.take(3).toList}")
  }
}
