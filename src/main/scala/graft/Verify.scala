package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev loop —
    // verify just the queries being worked on; driver passes 2 args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = Sessions.start()
    val nErrors = dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) },
      SparkEntry.oracleSql.filter { case (n, _) => only.forall(_.contains(n)) })
    if (nErrors > 0)
      System.err.println(s"[verify] $nErrors FAILED gates — see $outDir/errors.json")
    spark.stop()
  }

  /** The testable core: run every query into `outDir/<name>`, dump the
    * filtered oracle set, and record every in-JVM failure as a visible
    * red row in `errors.json` (round 8's lesson: a throwing gate must
    * never just make the correctness JSON smaller). Returns the failure
    * count. */
  def dump(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracles: Map[String, String]): Int = {
    // clear stale results (e.g. from renamed queries) so the compare set
    // is exactly the query map passed in
    val out = new java.io.File(outDir)
    if (out.isDirectory) {
      Option(out.listFiles()).getOrElse(Array.empty)
        .foreach(GateCache.deleteRecursively)
    }
    out.mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(3).mkString(" | ")
      }
      // queries persist() intermediates via GateCache; release them all
      // (clearCache is the backstop for anything cached outside it)
      finally { GateCache.releaseAll(); spark.catalog.clearCache() }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // restricted to the same filter as the query run: check_oracle treats
    // every oracle key without a result dir as a FAILURE (truncation
    // guard), so a filtered dev run must emit a filtered oracle set too
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    errors.size
  }
}
