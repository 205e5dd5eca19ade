package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.{GateCache, SparkEntry, TestSpark}

/** The wire-CDC gate family (binlog bytes, socket, V2 source and the
  * file-staged CDC paths) run end to end through `SparkEntry.queries`:
  * every gate returns rows, and gates that share one oracle reach the
  * same final state — equal frames, compared by column name with
  * `exceptAll` both ways. */
class WireCdcGatesSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark

  /** Gates whose oracle is one shared constant. */
  private val sameState: Seq[Seq[String]] = Seq(
    Seq("t1_cdc_stream_live", "w2_live_view_sql", "t12_debezium_cdc",
      "t29_binlog_wire_cdc", "t30_binlog_stream_cdc",
      "t35_binlog_schemaless_cdc", "t36_binlog_compressed_cdc",
      "t38_binlog_socket_cdc"),
    Seq("o21_reference_e2e", "t44_binlog_dsv2_stream", "t45_binlog_batch_read"),
    Seq("t33_binlog_gtid_resume", "t40_binlog_gtid_stream"),
    Seq("t42_binlog_minimal_image", "t43_binlog_minimal_stream"),
    Seq("t31_binlog_multitable_cdc", "b8_bucketed_cdc_sink",
      "b9_bucketed_stream_sink"),
    Seq("t24_schema_evolution", "t39_binlog_evolving_cdc"))

  /** The family's gates with an oracle of their own. */
  private val ownOracle = Seq("t32_binlog_typed_cdc", "t34_binlog_pk_update",
    "t37_binlog_partial_json", "t41_binlog_legacy_types",
    "o22_reference_live_tail")

  /** Run one gate and pin its rows in a local frame (the gate's temp
    * dirs, caches and servers are released right after, as `Verify`
    * does between gates). */
  private def run(name: String): DataFrame =
    try {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf0001)
      val rows = df.collect()
      assert(rows.nonEmpty, s"$name returned no rows")
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq), df.schema)
    } finally { GateCache.releaseAll(); spark.catalog.clearCache() }

  for (group <- sameState)
    test(s"${group.mkString(", ")} reach one final state") {
      val base = run(group.head)
      for (name <- group.tail) {
        val other = run(name)
        assert(other.columns.sorted.toSeq == base.columns.sorted.toSeq,
          s"$name columns ${other.columns.mkString(",")} differ from " +
            s"${group.head}'s ${base.columns.mkString(",")}")
        val aligned = other.select(base.columns.toIndexedSeq.map(col): _*)
        assert(base.exceptAll(aligned).isEmpty && aligned.exceptAll(base).isEmpty,
          s"$name's rows differ from ${group.head}'s")
      }
    }

  test("the family's own-oracle gates return rows") {
    ownOracle.foreach(run)
  }
}
