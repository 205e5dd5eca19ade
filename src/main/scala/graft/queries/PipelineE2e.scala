package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Contamination, PortableHash, Text}

/** The end-to-end curation pipeline as ONE gate (r10 verdict item 5):
  * langid → Gopher quality filter → exact dedup → MinHash-LSH near-dedup
  * → decontamination → temperature sampling → sequence packing, chained
  * over `documents` with a per-stage survivor/token ledger as the output.
  * `x_curation_pipeline` proves a 4-stage subset composes; this is the
  * full pipeline a pre-training data run actually executes (the
  * RefinedWeb/Gopher/MassiveText shape), each stage the already-oracled
  * operator it names, and the oracle recomputes every stage's ledger row
  * through the same CTE chain.
  *
  * Stage semantics (deterministic, shared verbatim with the oracle). Each
  * stage calls the one definition of its rule, the code the standalone
  * gate runs; the kit function is named in brackets:
  *   1 langid       keep docs whose n-gram language-ID agrees with the
  *                  stored `lang` (the confidence screen; this gate only).
  *   2 gopher       the four Gopher rules of `x_gopher_filter_apply`
  *                  [Curation.withGopherCols, Curation.gopherPass].
  *   3 exact dedup  keep the min-id doc of each md5(normalized) group
  *                  among stage-2 survivors (`x_dedup_exact_apply`)
  *                  [TrainingData.exactDedupKeep].
  *   4 lsh neardup  drop any survivor that LSH-pairs (global banded
  *                  candidate index of `x_dedup_minhash_lsh`) with a
  *                  smaller-id survivor [TrainingData.minhashPairs]. One
  *                  greedy pass, not the full CC clustering —
  *                  `x_dedup_cluster_apply` owns that; a pipeline pass
  *                  needs the cheap local rule.
  *   5 decontam     drop the eval split (doc_id % EvalMod = 0) and every
  *                  train doc whose winnow-fingerprint overlap with the
  *                  eval set exceeds DecontamRatio (`x_decontaminate_apply`)
  *                  [TrainingData.contaminatedDocs, TrainingData.decontaminate,
  *                  over graft.functions.Contamination].
  *   6 temperature  per-language sqrt(min/n) keep-rates over the stage-5
  *                  survivors (`x_temperature_sample`; its own salt so the
  *                  draw is independent of that gate's)
  *                  [TrainingData.temperatureRates, TrainingData.temperatureDraw].
  *   7 pack         shard-local SeqLen-token chunking of the survivors
  *                  (`x_sequence_pack`) [TrainingData.packChunks]; the
  *                  ledger row counts CHUNKS in n_docs and the packed
  *                  tokens in n_tokens.
  *
  * Scale shape: stages 1–2 are expression-only scans; 3 is one
  * fingerprint shuffle; 4 reuses the banded LSH index (bucketed, skew-
  * capped — never all-pairs); 5's eval fingerprint set broadcasts and the
  * contaminated-id frame joins un-hinted (AQE broadcasts at harness SF;
  * it is O(corpus) under heavy contamination — the `x_leakage_safe_split`
  * driver-OOM rule); 6 broadcasts a per-language rate table; 7 windows
  * per shard. Survivor frames are cached once each (every stage feeds
  * both its ledger row and the next stage).
  */
object PipelineE2e {

  /** Salt for stage 6 — its own pass so this draw is independent of
    * `x_temperature_sample`'s (the family-wide pass contract). */
  val TempSalt = "tmpe2e|"

  def e2e(s: SparkSession, dir: String): DataFrame = {
    import graft.GateCache.cache
    // 0+1 fused (optimization r15): ONE cached corpus pass computes the
    // token count AND the language-ID agreement flag — the raw ledger
    // row and the langid stage previously each ran their own full text
    // scan (tokenCount twice, the 15-marker argmax once). The cache
    // holds all docs with the flag; stage 1 is a filter over it.
    // readCompute: tokenCount + the 15-marker langId argmax is ~1.5 s of
    // per-row kernel work on a one-file scan — parallelize it
    val s0 = cache(Tables.readCompute(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        col("text"), Text.tokenCount(col("text")).cast("long").as("_tok"),
        (Text.langId(col("text")) === col("lang")).as("_lidok")))

    // 1: language-ID agreement screen — reads the fused cache
    val s1 = s0.filter(col("_lidok"))

    // 2: Gopher rules. The fingerprint rides out of the gopher scan so
    // the cached survivor frame carries 32 hex chars per doc instead of
    // the full text column
    val s2 = cache(Curation.withGopherCols(s1).filter(Curation.gopherPass)
      .select(col("doc_id"), col("lang"), col("_tok"),
        Text.fingerprint(col("text")).as("_fp")))

    // 3: exact dedup among survivors (min-id representative)
    val s3 = cache(TrainingData.exactDedupKeep(s2)
      .select(col("doc_id"), col("lang"), col("_tok")))

    // 4: LSH near-dup — global candidate index, both endpoints restricted
    // to survivors, greedy drop of the larger id of each pair. The pair
    // index is CACHED so the background materialization below (§2.6) is
    // the same frame stage 4 consumes.
    val pairs = cache(
      TrainingData.minhashPairs(TrainingData.minhashSig(s, dir))
        .select(col("id1"), col("id2")))
    val ids3 = s3.select(col("doc_id"))
    val dropLsh = pairs
      .join(ids3.withColumnRenamed("doc_id", "id1"), Seq("id1"), "left_semi")
      .join(ids3.withColumnRenamed("doc_id", "id2"), Seq("id2"), "left_semi")
      .select(col("id2").as("doc_id")).distinct()
    val s4 = cache(s3.join(dropLsh, Seq("doc_id"), "left_anti"))

    // 5: decontamination (fingerprints come from the FULL corpus — the
    // eval docs must contribute theirs)
    val contaminated = cache(TrainingData.contaminatedDocs(s, dir))
    val s5 = cache(TrainingData.decontaminate(s4, contaminated))

    // 6: temperature sampling over the surviving distribution
    val rate = TrainingData.temperatureRates(s5)
      .select(col("lang"), col("_thr"))
    val s6 = cache(s5
      .withColumn("_hm", TrainingData.temperatureDraw(TempSalt))
      .join(broadcast(rate), "lang")
      .filter(col("_hm") < col("_thr"))
      .select(col("doc_id"), col("lang"), col("_tok")))

    // 7: shard-local sequence packing of the final corpus
    val packed = TrainingData.packChunks(s6, col("_tok"))
      .groupBy(col("shard"), col("chunk_id"))
      .agg(sum(col("_tok")).as("_ctok"))

    // Ledger rows are COLLECTED one stage at a time (the t28/x_gdpr
    // ledger pattern): a union-of-aggregates plan would evaluate all
    // eight branches inside one action, racing the stage caches before
    // they populate and recomputing the expensive prefixes (measured
    // 8–11 s at sf0.1 vs ~4 s this way). Sequential per-stage actions
    // materialize each cache exactly once; every later stage and its
    // ledger row then read it. 8 collected longs — driver-bounded.
    def measure(df: DataFrame, tokCol: String): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum(col(tokCol)), lit(0L))
        .cast("long")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // §2.6 overlap (optimization r16): the LSH pair index (stage 4's
    // input) and the decontamination drop-set (stage 5's) depend only on
    // the raw corpus, not on stages 0–3 — materialize their caches next
    // to the early-stage ledger actions so those jobs back-fill idle
    // cores (sequential actions leave the 32-way session mostly idle at
    // these row counts; FIFO scheduling back-fills exactly as the guide
    // describes). `overlap` returns only once all three are done, so no
    // background job can outlive the gate and bleed into a later one's
    // timing, and a failing one surfaces its own error.
    val Seq(early, _, _) = StreamGate.overlap(
      () => Seq(
        (0, "raw", measure(s0, "_tok")), (1, "langid", measure(s1, "_tok")),
        (2, "gopher", measure(s2, "_tok")),
        (3, "exact_dedup", measure(s3, "_tok"))),
      () => { pairs.count(); Nil },
      () => { contaminated.count(); Nil })
    val ledger = early ++ Seq((4, "lsh_neardup", measure(s4, "_tok")),
      (5, "decontam", measure(s5, "_tok")),
      (6, "temperature", measure(s6, "_tok")),
      (7, "pack", measure(packed, "_ctok")))
    import s.implicits._
    ledger.map { case (i, n, (d, tk)) => (i, n, d, tk) }
      .toDF("stage_idx", "stage", "n_docs", "n_tokens")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_pipeline_e2e" -> ((s, dir) => e2e(s, dir)))

  /** One CTE chain recomputing every stage; each ledger row re-derives
    * its survivor set from scratch (winnow `m` CTE name is taken, so the
    * temperature CTEs use tmn/rate). */
  val oracle: Map[String, String] = {
    val normDoc = Text.normalizeDuck("text")
    val hm = PortableHash.duckSql("CAST(doc_id AS VARCHAR)", TempSalt)
    Map("x_pipeline_e2e" ->
      s"""WITH ${TrainingData.minhashCtes},
         |${TrainingData.winnowFpCtes},
         |${Curation.repetitionCte},
         |base AS (SELECT doc_id, lang,
         |    CAST(${Text.tokenCountDuck("text")} AS BIGINT) AS tok
         |  FROM documents),
         |s1 AS (SELECT doc_id FROM documents
         |       WHERE ${Text.langIdDuck("text")} = lang),
         |gf AS (SELECT doc_id,
         |    (ntok < ${Curation.MinTokens} OR ntok > ${Curation.MaxTokens}
         |     OR meanw < ${Curation.MinMeanWordLen}
         |     OR meanw > ${Curation.MaxMeanWordLen}) AS fail_size,
         |    dupf > ${Curation.MaxDupTokenFrac} AS fail_dup,
         |    topbgf > ${Curation.MaxTopBigramFrac} AS fail_topbg,
         |    stop < 1 AS fail_stop
         |  FROM (SELECT *, (CAST(len(nt) AS DOUBLE) / ntok) AS meanw,
         |      (${Text.wordOccurrencesDuck("text", "the")} +
         |       ${Text.wordOccurrencesDuck("text", "a")} +
         |       ${Text.wordOccurrencesDuck("text", "of")}) AS stop
         |    FROM rep)),
         |s2 AS (SELECT doc_id FROM gf
         |  WHERE NOT fail_size AND NOT fail_dup AND NOT fail_topbg
         |    AND NOT fail_stop
         |    AND doc_id IN (SELECT doc_id FROM s1)),
         |s3 AS (SELECT min(doc_id) AS doc_id FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM s2)
         |  GROUP BY md5($normDoc)),
         |s4 AS (SELECT doc_id FROM s3 WHERE doc_id NOT IN (
         |    SELECT id2 FROM pairs
         |    WHERE id1 IN (SELECT doc_id FROM s3)
         |      AND id2 IN (SELECT doc_id FROM s3))),
         |evalf AS (SELECT DISTINCT fp FROM fps
         |          WHERE doc_id % ${Contamination.EvalMod} = 0),
         |train AS (SELECT * FROM fps
         |          WHERE doc_id % ${Contamination.EvalMod} <> 0),
         |hits AS (SELECT t2.doc_id, count(*) AS n_hit
         |         FROM train t2 JOIN evalf USING (fp) GROUP BY 1),
         |sizes AS (SELECT doc_id, count(*) AS nf FROM train GROUP BY 1),
         |dropped AS (SELECT sz.doc_id FROM sizes sz JOIN hits h
         |              ON h.doc_id = sz.doc_id
         |            WHERE CAST(n_hit AS DOUBLE) / nf
         |              > ${Contamination.DecontamRatio}),
         |s5 AS (SELECT doc_id FROM s4
         |  WHERE doc_id % ${Contamination.EvalMod} <> 0
         |    AND doc_id NOT IN (SELECT doc_id FROM dropped)),
         |nl AS (SELECT lang, count(*) AS cnt FROM base
         |       JOIN s5 USING (doc_id) GROUP BY lang),
         |tmn AS (SELECT min(cnt) AS mn FROM nl),
         |rate AS (SELECT lang,
         |    CAST(round(sqrt(CAST(mn AS DOUBLE) / cnt) * 1000000, 0)
         |      AS BIGINT) AS thr
         |  FROM nl, tmn),
         |s6 AS (SELECT b.doc_id FROM base b
         |  JOIN s5 USING (doc_id)
         |  JOIN rate ON rate.lang = b.lang
         |  WHERE ($hm) % 1000000 < thr),
         |pk AS (SELECT shard, chunk, sum(tok) AS ctok FROM (
         |    SELECT doc_id % ${TrainingData.PackShards} AS shard, tok,
         |      (sum(tok) OVER (PARTITION BY doc_id % ${TrainingData.PackShards}
         |         ORDER BY doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok)
         |        // ${TrainingData.SeqLen} AS chunk
         |    FROM base JOIN s6 USING (doc_id)) GROUP BY 1, 2)
         |SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS n_docs,
         |  CAST(coalesce(sum(tok), 0) AS BIGINT) AS n_tokens FROM base
         |UNION ALL SELECT 1, 'langid', count(*), CAST(coalesce(sum(tok), 0) AS BIGINT)
         |  FROM base JOIN s1 USING (doc_id)
         |UNION ALL SELECT 2, 'gopher', count(*), CAST(coalesce(sum(tok), 0) AS BIGINT)
         |  FROM base JOIN s2 USING (doc_id)
         |UNION ALL SELECT 3, 'exact_dedup', count(*),
         |  CAST(coalesce(sum(tok), 0) AS BIGINT) FROM base JOIN s3 USING (doc_id)
         |UNION ALL SELECT 4, 'lsh_neardup', count(*),
         |  CAST(coalesce(sum(tok), 0) AS BIGINT) FROM base JOIN s4 USING (doc_id)
         |UNION ALL SELECT 5, 'decontam', count(*),
         |  CAST(coalesce(sum(tok), 0) AS BIGINT) FROM base JOIN s5 USING (doc_id)
         |UNION ALL SELECT 6, 'temperature', count(*),
         |  CAST(coalesce(sum(tok), 0) AS BIGINT) FROM base JOIN s6 USING (doc_id)
         |UNION ALL SELECT 7, 'pack', count(*), CAST(coalesce(sum(ctok), 0) AS BIGINT)
         |  FROM pk""".stripMargin)
  }
}
