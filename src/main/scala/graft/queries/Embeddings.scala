package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SimilarityOps

/** Embedding-compression and clustering operators (extension surface):
  * int8 scalar quantization (the storage/bandwidth path for 100 TB vector
  * corpora) and Lloyd's k-means (the IVF coarse-quantizer trainer —
  * completes the building block [[TrainingData]]'s `x_embed_centroids`
  * computes one step of).
  *
  * Determinism rules (what makes both exactly oracle-able):
  *   - cross-row float sums only as quantized integer sums (micro-units);
  *   - per-row vector math in fixed left-to-right index order (identical
  *     IEEE doubles in both engines);
  *   - every argmin/argmax on round(·,6) with an id tie-break.
  */
object Embeddings {

  val QuantBits = 8 // int8 scalar quantization
  val QuantLevels = (1 << QuantBits) - 1 // 255
  val KmeansK = 8 // k-means: clusters (init = first K vectors by id)
  val Dim = TrainingData.EmbeddingDim
  val SemMaxCluster = 10000 // SemDeDup cluster cap — mirrored in the oracle

  /** Plain read (r16): r15 routed this through [[Tables.readCompute]],
    * which dragged the LIGHT x_embed_quantize_int8 (one posexplode) 2×
    * below the driver's noise band, and a measured A/B shows even the
    * clustering kernels (2·K dots/row at this vector count) run faster
    * WITHOUT the repartition exchange (x_kmeans_embed 1.16 → 0.87 s,
    * x_semdedup likewise) — see [[TrainingData]]'s embCompute note for
    * the sites that do keep it. */
  private[queries] def emb(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")

  /** Per-(cluster, dim) exact integer sums → per-cluster centroid arrays
    * (dims re-assembled in order via sorted collect_list — the one
    * deterministic way to build an array column from grouped rows).
    * `assigned` must have (cid, embedding). */
  private[queries] def centroidsOf(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("embedding")).as(Seq("_pos", "_v")))
      .groupBy(col("cid"), col("_pos"))
      .agg(sum(round(col("_v").cast("double") * 1000000d, 0).cast("bigint"))
        .as("_sq"), count(lit(1)).as("_n"))
      .select(col("cid"), col("_pos"),
        ((col("_sq").cast("double") / col("_n")) / 1000000d).as("_cd"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("_pos"), col("_cd"))))
        .as("_arr"))
      .select(col("cid"),
        transform(col("_arr"), x => x.getField("_cd")).as("cvec"))

  /** The shared one-Lloyd-iteration final assignment (the Scala mirror of
    * [[kmeansCtes]]' `a2`): deterministic init (first K vectors by id) →
    * assign → quantized-integer-mean update → re-assign. Single source for
    * every gate that clusters (x_kmeans_embed, x_semdedup) so init/quantum
    * changes can't desynchronize them. `e` must have (vec_id, embedding). */
  private[queries] def lloydAssignment(e: DataFrame): DataFrame = {
    val c0 = e.filter(col("vec_id") < KmeansK)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), v => v.cast("double")).as("cvec"))
    assign(e, centroidsOf(assign(e, c0).select(col("cid"), col("embedding"))))
  }

  /** Argmax-cosine assignment of each corpus vector to a (broadcast)
    * centroid set. Both sides' vector math is left-to-right index order;
    * ties broken by rounded score then LOWEST centroid id — the IVF
    * pattern. Physical form: partial-aggregable `max_by` argmax, so the
    * exchange carries ~one (cid, embedding) candidate per vector — the
    * map-side assignment the clustering gates advertise (review find:
    * the previous window form shuffled the full K·d-wide crossJoin
    * output through a sort). Norms are precomputed per row (N + K dots,
    * not N·K — the bruteForceTopK pattern). Data precondition shared
    * with every cosine gate: non-zero-norm embeddings (a zero vector
    * makes the cosine NaN, where the engines' NaN orderings differ). */
  private[queries] def assign(e: DataFrame, cents: DataFrame): DataFrame = {
    val withCn = cents.withColumn("_cn",
      sqrt(SimilarityOps.dotHof(col("cvec"), col("cvec"))))
    e.withColumn("_en", SimilarityOps.norm(col("embedding")))
      .crossJoin(broadcast(withCn))
      .withColumn("_cos",
        SimilarityOps.dotHof(col("embedding"), col("cvec")) /
          (col("_en") * col("_cn")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), col("embedding")),
        struct(round(col("_cos"), 6), -col("cid"))).as("_w"))
      .select(col("vec_id"), col("_w.embedding").as("embedding"),
        col("_w.cid").as("cid"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Int8 scalar quantization with exact reconstruction-error accounting:
    // per-dim global [min, max] (order-independent aggregates), linear
    // quantization to 255 levels, per-label error stats as quantized
    // integer sums. Scale shape: one posexplode scan → per-dim agg (64
    // rows, broadcast back) → one per-label agg; the corpus streams twice,
    // shuffles only on (dim) and (label) — both partial-aggregated.
    "x_embed_quantize_int8" -> ((s, dir) => {
      val x = emb(s, dir)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("_pos", "_vf")))
        .select(col("vec_id"), col("label"), (col("_pos") + 1).as("dim"),
          col("_vf").cast("double").as("v"))
      val mm = x.groupBy(col("dim"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      val scale = (col("mx") - col("mn")) / QuantLevels
      val q = when(col("mx") === col("mn"), lit(0.0))
        .otherwise(least(round((col("v") - col("mn")) / scale, 0),
          lit(QuantLevels.toDouble)))
      val err = abs(col("v") - (col("mn") + q * scale))
      x.join(broadcast(mm), "dim")
        .select(col("label"),
          round(err * 1000000000d, 0).cast("bigint").as("_eq"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_components"),
          sum(col("_eq")).cast("long").as("sum_abs_err_nano"),
          max(col("_eq")).cast("long").as("max_abs_err_nano"))
    }),

    // Lloyd's k-means, ONE exact iteration (init → assign → one
    // quantized-integer-mean update → re-assign — lloydAssignment's
    // wording; review find: this comment said "two iterations"):
    // deterministic init (first K vectors by id), argmax-cosine
    // assignment, centroid update, re-assignment. Every step is reproducible
    // arithmetic, so the oracle replays the algorithm — not a fixture.
    // Scale shape per iteration: centroids broadcast (assignment is
    // map-side over the streaming corpus; K·d doubles), update is one
    // partial-agg'd shuffle on (cid, dim). This is how IVF coarse
    // quantizers are trained at 100 TB; more iterations = same plan looped.
    "x_kmeans_embed" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      lloydAssignment(e).groupBy(col("cid").as("cluster_id"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("vec_id")).cast("long").as("sum_vec_id"))
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    // removal bucketed by k-means cluster — the third member of the
    // near-dup family next to the all-pairs baseline
    // (x_embed_dedup_apply) and the hyperplane-LSH path
    // (x_embed_dedup_lsh_apply). Clusters come from the same
    // deterministic one-Lloyd-iteration pipeline as x_kmeans_embed, then
    // pairwise cosine runs ONLY inside a cluster (drop the higher id of
    // every above-threshold pair, min-id representative — the
    // deterministic stand-in for the paper's centroid-distance pick).
    // Scale shape: assignment is map-side over the streaming corpus
    // (centroids broadcast, K·d doubles); the pair stage shuffles the
    // corpus once on cid and is quadratic only inside a cluster — at
    // 100 TB, K grows with the corpus (the paper uses ~11k clusters for
    // 100M docs) so |cluster| stays bounded, and the SemMaxCluster cap
    // (mirrored in the oracle) guards degenerate mega-clusters the same
    // way MaxBucket guards LSH floods.
    "x_semdedup" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      // cached: consumed by the member counts and both pair-join sides
      val withN = graft.GateCache.cache(lloydAssignment(e)
        .withColumn("_n", SimilarityOps.norm(col("embedding"))))
      // ONE per-cid count frame (≤ K rows, cached) feeds the cap filter
      // AND the member counts (review find: previously two aggregations)
      val counts = graft.GateCache.cache(
        withN.groupBy(col("cid")).agg(count(lit(1)).as("_cn")))
      val ok = counts.filter(col("_cn") <= SemMaxCluster).select(col("cid"))
      val f = withN.join(broadcast(ok), Seq("cid")) // ok is ≤ K rows
      val row = SimilarityOps.Side("vec_id", "embedding", "_n")
      val drop = SimilarityOps.nearDupPairs(
          f.select(col("cid") +: SimilarityOps.PairA.from(row): _*),
          f.select(col("cid") +: SimilarityOps.PairB.from(row): _*),
          Some("cid"), TrainingData.CosDupThreshold)
        .select(col("cid"), col("id2").as("vec_id")).distinct()
      val members = counts.select(col("cid"), col("_cn").as("n_members"))
      val drops = drop.groupBy(col("cid")).agg(count(lit(1)).as("n_dropped"))
      members.join(drops, Seq("cid"), "left")
        .select(col("cid").as("cluster_id"), col("n_members"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (col("n_members") - coalesce(col("n_dropped"), lit(0L)))
            .as("n_survivors"))
    })
  )

  // -------------------------------------------------- oracle generation

  /** Assignment CTE body: argmax rounded cosine, cid tie-break — over a
    * centroid relation `cent(cid, cv)` whose vectors are DOUBLE lists. */
  private def assignSql(cent: String): String = {
    val dotQC = (1 to Dim)
      .map(i => s"CAST(e.embedding[$i] AS DOUBLE) * $cent.cv[$i]")
      .mkString("(", " + ", ")")
    val normQ = s"sqrt(${SimilarityOps.dotDuck("e.embedding", "e.embedding", Dim)})"
    val normC = (1 to Dim).map(i => s"$cent.cv[$i] * $cent.cv[$i]")
      .mkString("sqrt((", " + ", "))")
    s"""SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, $cent.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY round($dotQC / ($normQ * $normC), 6) DESC,
       |               $cent.cid ASC) AS rn
       |  FROM embeddings e CROSS JOIN $cent) WHERE rn = 1""".stripMargin
  }

  /** The one-Lloyd-iteration CTE chain (deterministic init → assign →
    * quantized-integer-mean update → re-assign) shared by the k-means and
    * SemDeDup oracles: `a2(vec_id, cid)` is the final assignment. */
  private def kmeansCtes: String =
    s"""c0 AS (SELECT vec_id AS cid,
       |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cv
       |  FROM embeddings WHERE vec_id < $KmeansK),
       |a1 AS (${assignSql("c0")}),
       |x1 AS (SELECT a1.cid, CAST(i AS INT) AS dim,
       |    CAST(embedding[i] AS DOUBLE) AS v
       |  FROM (SELECT vec_id, embedding,
       |          unnest(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings) e
       |  JOIN a1 USING (vec_id)),
       |s1 AS (SELECT cid, dim,
       |    sum(CAST(round(v * 1000000, 0) AS BIGINT)) AS sq,
       |    count(*) AS n
       |  FROM x1 GROUP BY cid, dim),
       |c1 AS (SELECT cid,
       |    list((CAST(sq AS DOUBLE) / n) / 1000000.0 ORDER BY dim) AS cv
       |  FROM s1 GROUP BY cid),
       |a2 AS (${assignSql("c1")})""".stripMargin

  val oracle: Map[String, String] = Map(
    "x_embed_quantize_int8" ->
      s"""WITH x AS (SELECT vec_id, label, CAST(i AS INT) AS dim,
         |    CAST(embedding[i] AS DOUBLE) AS v
         |  FROM (SELECT vec_id, label, embedding,
         |          unnest(range(1, len(embedding) + 1)) AS i
         |        FROM embeddings)),
         |mm AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM x GROUP BY dim),
         |err AS (SELECT label,
         |    CAST(round(abs(v - (mn +
         |      (CASE WHEN mx = mn THEN 0.0
         |            ELSE least(round((v - mn) / ((mx - mn) / $QuantLevels), 0),
         |                       ${QuantLevels.toDouble}) END)
         |      * ((mx - mn) / $QuantLevels))) * 1000000000, 0) AS BIGINT)
         |      AS eq
         |  FROM x JOIN mm USING (dim))
         |SELECT label, count(*) AS n_components,
         |  CAST(sum(eq) AS BIGINT) AS sum_abs_err_nano,
         |  CAST(max(eq) AS BIGINT) AS max_abs_err_nano
         |FROM err GROUP BY label""".stripMargin,

    "x_semdedup" -> {
      val cos = SimilarityOps.cosineDuck("ea.embedding", "eb.embedding", Dim)
      // e2 MATERIALIZED: it is referenced four times and closes over the
      // whole windowed k-means chain — DuckDB's default CTE inlining
      // replicates that chain per reference and dies in planning.
      s"""WITH $kmeansCtes,
         |e2 AS MATERIALIZED (SELECT a2.vec_id, a2.cid, e.embedding
         |       FROM a2 JOIN embeddings e USING (vec_id)),
         |ok AS (SELECT cid FROM e2 GROUP BY cid
         |       HAVING count(*) <= $SemMaxCluster),
         |pr AS (SELECT ea.cid, eb.vec_id AS id2
         |       FROM e2 ea JOIN e2 eb
         |         ON ea.cid = eb.cid AND ea.vec_id < eb.vec_id
         |       JOIN ok ON ok.cid = ea.cid
         |       WHERE $cos > ${TrainingData.CosDupThreshold}),
         |d AS (SELECT DISTINCT cid, id2 FROM pr),
         |m AS (SELECT cid, count(*) AS n_members FROM e2 GROUP BY cid),
         |dd AS (SELECT cid, count(*) AS n_dropped FROM d GROUP BY cid)
         |SELECT m.cid AS cluster_id, n_members,
         |  COALESCE(n_dropped, 0) AS n_dropped,
         |  n_members - COALESCE(n_dropped, 0) AS n_survivors
         |FROM m LEFT JOIN dd ON m.cid = dd.cid""".stripMargin
    },

    "x_kmeans_embed" ->
      s"""WITH $kmeansCtes
         |SELECT cid AS cluster_id, count(*) AS n_vecs,
         |  CAST(sum(vec_id) AS BIGINT) AS sum_vec_id
         |FROM a2 GROUP BY cid""".stripMargin)
}
