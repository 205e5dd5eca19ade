package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{DedupOps, PortableHash, ShingleExprs, Text}

/** Corpus-curation operators beyond the dedup/similarity families already
  * in [[TrainingData]]: repetition analysis and rule-based quality
  * filtering (the Gopher/MassiveText filter stack), greedy token-budget
  * subset selection, and incremental (delta-vs-corpus) near-dup detection.
  *
  * Scale shapes: repetition and rule filters are expression-only scans
  * (zero shuffles — linear to 100 TB); budget selection windows inside
  * each stratum (parallel across strata; see the scaladoc for the
  * threshold-based variant at extreme scale); incremental dedup probes a
  * pre-built LSH band index with one semi-join, never rescanning the
  * corpus text.
  */
object Curation {

  val MinTokens = 5 // Gopher-style rule bounds (word count / word length)
  val MaxTokens = 10000
  val MinMeanWordLen = 2.0
  val MaxMeanWordLen = 12.0
  val MaxDupTokenFrac = 0.5 // fraction of tokens repeating an earlier one
  val MaxTopBigramFrac = 0.05 // most-frequent-bigram share of all bigrams
  val TokenBudget = 2000L // per-language greedy selection budget
  val DeltaMod = 10 // incremental dedup: delta batch = doc_id % 10 == 9
  val DsirBuckets = 4096 // DSIR hashed-feature space (mirrored in oracle)
  val DsirTargetLang = "en" // DSIR target domain: the English sub-corpus
  val DsirTopK = 50 // DSIR: report the top-k docs by importance weight
  val BpeRounds = 3 // BPE merge-learning: unrolled rounds (kmeans pattern)
  val ShardTokenBudget = 2500L // shard assignment: target tokens per shard
  val EquiDepthBins = 4 // equi-depth binning: number of bins (quartiles)
  val LiftMinCount = 5L // collocation mining: min bigram occurrences
  val LiftTopK = 20 // collocation mining: reported top-k by lift
  val WSampleK = 50 // weighted sampling: docs drawn per pass
  // epoch-upsampling recipe (lang → epochs): en 2.5, de 1.25, fr 0.5,
  // es 1.75, zh 1.0. Fractional parts are exact binary fractions so the
  // per-doc hash thresholds below are exact 32-bit integers (no float
  // boundary can disagree between engines).
  val EpochThrHalf = 2147483648L // 0.50 * 2^32
  val EpochThrQuarter = 1073741824L // 0.25 * 2^32
  val EpochThr3Q = 3221225472L // 0.75 * 2^32
  val BloomItems = 100000L // bloom digest: sized-for item count (≫ corpus
  // here; at 100 TB size to the real count — digest = numBits/8 bytes)
  val BloomBits = 800000L // 8 bits/item at capacity ⇒ ~2% worst-case fpp,
  // far below the gate's 5% head-room; ~tiny fpp at harness fill levels

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * each doc draws a deterministic uniform u from the portable hash and
    * competes on key = ln(u)/w — the top-k by key IS an exact w-weighted
    * without-replacement draw. Weight = n_chars (longer docs
    * proportionally likelier — the byte-budget sampling shape).
    * Deterministic yet re-drawable: `pass` salts the hash (`ws<pass>|`),
    * so pass 2 is an INDEPENDENT draw from pass 1 — the repeated-sampling
    * use (bootstrap resamples, per-epoch subsets) a fixed salt can't
    * serve (r7 ADVICE). Engine-portable: u is md5-derived, ln and the
    * divide are per-row single-value FP (identical doubles both engines,
    * no cross-row accumulation). Scale: expression-only scan +
    * TakeOrderedAndProject — no shuffle, no global sort; only the final
    * k-row re-rank windows (k rows, not corpus). */
  def weightedSample(s: SparkSession, dir: String, pass: Int): DataFrame = {
    val key = (log((PortableHash.hash32(col("doc_id").cast("string"),
        s"ws$pass|") + 1).cast("double") / 4294967296.0) /
      col("n_chars")).as("_k")
    val top = docs(s, dir).filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"), key)
      .orderBy(col("_k").desc, col("doc_id").asc).limit(WSampleK)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("_k").desc, col("doc_id").asc)))
      .select(col("rk"), col("doc_id"), col("n_chars"),
        round(col("_k"), 6).as("w_key"))
  }

  /** Project tokens/bigrams to attributes FIRST: both are referenced from
    * inside higher-order-function lambdas below, where an inlined
    * expression would re-evaluate per array element. */
  private[queries] def withRepetitionCols(d: DataFrame): DataFrame =
    d.select(col("*"),
        split(Text.normalize(col("text")), " ").as("_toks"),
        ShingleExprs.wordShinglesNative(col("text"), 2).as("_bgs"))
      .select(col("*"),
        size(col("_toks")).cast("long").as("_ntok"),
        // duplicated-token fraction: 1 - |distinct| / |tokens|
        ((size(col("_toks")) - size(array_distinct(col("_toks"))))
          .cast("double") / size(col("_toks"))).as("_dupf"),
        // top-bigram share: max in-array multiplicity over total bigrams.
        // Expression-only mode count — O(|distinct|·|bigrams|) per row,
        // bounded by document length; stays inside the scan (no
        // per-document explode+groupBy shuffle).
        when(size(col("_bgs")) === 0, lit(0.0)).otherwise(
          array_max(transform(array_distinct(col("_bgs")),
            x => size(filter(col("_bgs"), y => y === x))))
            .cast("double") / size(col("_bgs"))).as("_topbgf"))

  /** [[withRepetitionCols]] plus the two other Gopher measurements: mean
    * word length `_meanw` and stopword count `_stop`. */
  private[queries] def withGopherCols(d: DataFrame): DataFrame =
    withRepetitionCols(d).select(col("*"),
      (length(Text.normalize(col("text"))).cast("double") /
        col("_ntok")).as("_meanw"),
      (Text.wordOccurrences(col("text"), "the") +
        Text.wordOccurrences(col("text"), "a") +
        Text.wordOccurrences(col("text"), "of")).as("_stop"))

  /** The four Gopher fail predicates over [[withGopherCols]], in the
    * order size bounds, duplicated-token cap, top-bigram cap, stopword
    * presence. Each is a deterministic double comparison, identical in
    * both engines. */
  private[queries] def gopherFails: Seq[Column] = Seq(
    col("_ntok") < MinTokens || col("_ntok") > MaxTokens ||
      col("_meanw") < MinMeanWordLen || col("_meanw") > MaxMeanWordLen,
    col("_dupf") > MaxDupTokenFrac,
    col("_topbgf") > MaxTopBigramFrac,
    col("_stop") < 1)

  /** A doc passes the Gopher stack when no [[gopherFails]] rule holds. */
  private[queries] def gopherPass: Column = gopherFails.map(!_).reduce(_ && _)

  /** Shared DuckDB CTE mirroring [[withRepetitionCols]]. */
  private[queries] def repetitionCte: String = {
    val norm = Text.normalizeDuck("text")
    val bgs = Text.wordShinglesDuck("text", 2)
    s"""rep AS (SELECT *,
       |    len(toks) AS ntok,
       |    CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
       |      / len(toks) AS dupf,
       |    CASE WHEN len(bgs) = 0 THEN 0.0
       |         ELSE CAST(list_max(list_transform(list_distinct(bgs),
       |                x -> len(list_filter(bgs, y -> y = x)))) AS DOUBLE)
       |              / len(bgs) END AS topbgf
       |  FROM (SELECT doc_id, lang, text, $norm AS nt,
       |          string_split($norm, ' ') AS toks, $bgs AS bgs
       |        FROM documents))""".stripMargin
  }

  /** Range count for the distributed prefix sums — follows the session
    * (cluster width), overridable via `graft.vocab.cumsum.partitions`:
    * ONE knob for the whole cumsum family (review find: the shard/bin
    * gates previously hardcoded defaultParallelism while vocab-coverage
    * documented exactly why the width must be tunable). */
  private def cumsumRanges(s: SparkSession): Int =
    s.conf.getOption("graft.vocab.cumsum.partitions").map(_.toInt)
      .getOrElse(s.sparkContext.defaultParallelism)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Gopher-style repetition measurements per document: the two standard
    // repetition signals (duplicated-token fraction, most-frequent-bigram
    // share). Expression-only scan — zero shuffles at any scale.
    "x_repetition_stats" -> ((s, dir) =>
      withRepetitionCols(docs(s, dir)).select(
        col("doc_id"), col("_ntok").as("n_tokens"),
        round(col("_dupf"), 6).cast("decimal(10,6)").as("dup_token_frac"),
        round(col("_topbgf"), 6).cast("decimal(10,6)").as("top_bigram_frac"))),

    // The MassiveText/Gopher rule stack APPLIED: per-rule failure counts
    // and the surviving corpus per language ([[gopherFails]]: token-count
    // and mean-word-length bounds, duplicated-token cap, top-bigram cap,
    // stopword presence). A doc can fail several rules; kept = passes all.
    "x_gopher_filter_apply" -> ((s, dir) => {
      val Seq(failSize, failDup, failTopbg, failStop) = gopherFails
      def n(c: Column) = sum(when(c, 1L).otherwise(0L)).cast("long")
      withGopherCols(docs(s, dir)).groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        n(gopherPass).as("n_kept"),
        n(failSize).as("n_fail_size"),
        n(failDup).as("n_fail_dup"),
        n(failTopbg).as("n_fail_topbg"),
        n(failStop).as("n_fail_stop"),
        sum(when(gopherPass, col("_ntok")).otherwise(0L)).cast("long")
          .as("kept_tokens"))
    }),

    // Greedy token-budget subset selection: within each language, take
    // documents in quality order (exact decimal score, doc_id tie-break)
    // while the cumulative token count stays within the budget. The
    // cumulative window runs per-stratum — parallel across languages; at
    // extreme scale the same selection is done by deriving a quality
    // THRESHOLD from a score histogram instead of an exact prefix (one
    // agg instead of a window), which this operator's exact form oracles.
    "x_token_budget_select" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        Text.tokenCount(col("text")).as("_tok"),
        Text.qualityScore(col("text")).as("_q"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("_q").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("_cum", sum(col("_tok")).over(w))
        .filter(col("_cum") <= TokenBudget)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_selected"),
          sum(col("_tok")).cast("long").as("tokens_selected"))
    }),

    // Bigram language-model quality scoring (the model-based signal next
    // to the rule-based stack): every document scored by its average
    // add-1-smoothed bigram log-probability under counts from the corpus
    // itself. P(w2|w1) = (c(w1 w2)+1) / (c(w1·)+V); per-term log-probs
    // are quantized to nano-units so the per-doc sum is exact integer
    // arithmetic (cross-row double sums are accumulation-order-dependent
    // — the x_embed_centroids rule). Scale shape: two partial-agg'd count
    // shuffles build the model; scoring joins each doc's bigrams to the
    // model on compact string keys (AQE broadcasts when the model is
    // small); one final per-doc agg. Docs with no bigrams have no score
    // (no evidence), mirrored in the oracle.
    "x_ngram_lm_score" -> ((s, dir) => {
      // bg feeds the model AND the scoring join; c2 feeds c1 AND the
      // join — cache both or the corpus shingle-explodes 3-4x (review
      // find, the x_cooccur_lift convention)
      val bg = graft.GateCache.cache(docs(s, dir).select(col("doc_id"),
        explode(ShingleExprs.wordShinglesNative(col("text"), 2)).as("bigram")))
      val c2 = graft.GateCache.cache(
        bg.groupBy(col("bigram")).agg(count(lit(1)).as("c2")))
      val c1 = c2.select(split(col("bigram"), " ").getItem(0).as("w1"),
          col("c2"))
        .groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      val v = docs(s, dir)
        .select(explode(split(Text.normalize(col("text")), " ")).as("t"))
        .filter(col("t") =!= "") // the vocab-size V excludes the phantom ""
        .agg(countDistinct(col("t")).as("_v"))
      bg.join(c2, "bigram")
        .withColumn("w1", split(col("bigram"), " ").getItem(0))
        .join(c1, "w1")
        .crossJoin(broadcast(v))
        .withColumn("_lp", round(
          log((col("c2") + 1).cast("double") / (col("c1") + col("_v"))) *
            1000000000d, 0).cast("bigint"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("_lp")).cast("long").as("lm_score_nano"))
    }),

    // Token-distribution entropy per document — the diversity quality
    // signal next to x_repetition_stats' duplicate fraction: gibberish
    // and template docs sit at the entropy extremes. H = −Σ (c/n)·ln(c/n)
    // over the in-doc token distribution, kept cross-engine exact as
    // nano-unit integers per (doc, token) term before the integer sum —
    // ln is a single-value libm call on an identical double in both
    // engines (the x_ngram_lm_score pattern; no cross-row FP
    // accumulation). Scale shape: one corpus scan into per-(doc, token)
    // counts (partial-agg'd shuffle on the composite key), per-doc
    // totals ride the same frame, final reduce shuffles on doc_id.
    "x_token_entropy" -> ((s, dir) => {
      // ONE tokenize→tf recipe with the IR scorers (review find) —
      // termStats caches tf, which feeds both lens and the join below
      val tf = TrainingData.termStats(s, dir)._1
        .select(col("doc_id"), col("token").as("w"), col("tf").as("_c"))
      val lens = tf.groupBy(col("doc_id"))
        .agg(sum(col("_c")).cast("long").as("_n"),
          count(lit(1)).as("n_distinct"))
      tf.join(lens, "doc_id")
        .withColumn("_term", round(
          (col("_c").cast("double") / col("_n")) *
            log(col("_c").cast("double") / col("_n")) * 1000000000d, 0)
          .cast("bigint"))
        .groupBy(col("doc_id"))
        .agg(min(col("_n")).as("n_tokens"),
          min(col("n_distinct")).as("n_distinct"),
          (-sum(col("_term"))).cast("long").as("entropy_nano"))
    }),

    // Weighted sampling without replacement — see [[weightedSample]];
    // the gate is pass 1 of the parameterized draw.
    "x_weighted_sample" -> ((s, dir) => weightedSample(s, dir, pass = 1)),

    // Mixture reweighting toward explicit per-source TARGET weights
    // (static DoReMi-style): odd-numbered sources are deemed high-quality
    // (weight 3) vs 1 for the rest; keep rate_s = (w_s/n_s) /
    // max_u(w_u/n_u) — the most over-demanded source keeps everything,
    // the others downsample proportionally, membership via the
    // engine-portable hash threshold (integer ppm). The rate table is
    // source-cardinality rows — broadcast; the corpus never shuffles.
    // (Balancing toward UNIFORM shares is the degenerate w≡1 case — and
    // literally degenerate on this corpus, whose source distribution is
    // already uniform; explicit weights exercise the mechanism.)
    "x_mixture_sample" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("_hm",
        graft.functions.PortableHash.hash32(col("doc_id").cast("string"), "mix|")
          % 1000000)
      val n = d.groupBy(col("source")).agg(count(lit(1)).as("_ns"))
        .withColumn("_w", // unbounded suffix like the oracle's substr
          // (a 10-char cap read different digits past 10; review find)
          when(expr("substring(source, 4)").cast("long") % 2 === 1, 3.0)
            .otherwise(1.0))
        .withColumn("_ratio", col("_w") / col("_ns"))
      val m = n.agg(max(col("_ratio")).as("_mx"))
      val r = n.crossJoin(broadcast(m))
        .withColumn("_thr",
          round(col("_ratio") / col("_mx") * 1000000, 0).cast("long"))
      d.join(broadcast(r.select(col("source"), col("_ns"), col("_thr"))),
          "source")
        .groupBy(col("source"))
        .agg(min(col("_ns")).as("n_orig"),
          sum(when(col("_hm") < col("_thr"), 1L).otherwise(0L)).cast("long")
            .as("n_sampled"))
    }),

    // ROBUST outlier detection — median/MAD instead of the mean/σ of
    // x_length_outliers (one corrupt mega-document shifts a mean but not
    // a median; robust stats are the curation-pipeline standard for
    // heavy-tailed web corpora). Exactness: medians of integers land on
    // k/2 steps, MADs of those on k/4 steps, and the 1.5·MAD fence on
    // 3k/8 — all exact binary fractions, so both engines' type-7
    // interpolating percentile agrees bit-for-bit and the fence
    // comparison has no float boundary. Two grouped aggregates + two
    // broadcast joins of per-lang scalars; the data is scanned twice
    // (median then deviations) — the unavoidable shape of exact
    // order-statistics, still linear.
    "x_mad_outliers" -> ((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("x"))
      val med = d.groupBy(col("lang"))
        .agg(percentile(col("x"), lit(0.5)).as("med"))
      // dev feeds the MAD aggregate AND the outlier filter — cache it
      // or the corpus scans a third time (review find: the scaladoc's
      // "scanned twice" is the cached cost)
      val dev = graft.GateCache.cache(d.join(broadcast(med), "lang")
        .withColumn("adev", abs(col("x") - col("med"))))
      val mad = dev.groupBy(col("lang"))
        .agg(percentile(col("adev"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), "lang")
        .filter(col("adev") > col("mad") * 1.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_outliers"),
          min(col("x")).as("min_len"), max(col("x")).as("max_len"),
          min(col("med")).as("med"), min(col("mad")).as("mad"))
    }),

    // Epoch-aware mixture UPSAMPLING — the "books ×2.5 epochs" step of a
    // pretraining data recipe (vs x_mixture_sample, which only
    // downsamples): every doc of a language repeats floor(w) times, plus
    // one more copy with probability frac(w) decided DETERMINISTICALLY
    // per doc by the portable hash — reproducible across runs and
    // engines, no RNG state, and the fractional epoch lands on an exact
    // per-doc subset instead of a count approximation. Map-side only:
    // when-chain weights + sequence/explode ride the scan (zero
    // shuffles); output is the replicated corpus order-free.
    "x_epoch_upsample" -> ((s, dir) => {
      val fullEpochs = when(col("lang") === "en", 2)
        .when(col("lang") === "fr", 0).otherwise(1)
      val fracThr = when(col("lang") === "en", EpochThrHalf)
        .when(col("lang") === "de", EpochThrQuarter)
        .when(col("lang") === "fr", EpochThrHalf)
        .when(col("lang") === "es", EpochThr3Q)
        .otherwise(0L)
      docs(s, dir)
        .withColumn("_n", fullEpochs +
          when(PortableHash.hash32(col("doc_id").cast("string"), "epoch|")
            < fracThr, 1).otherwise(0))
        .filter(col("_n") > 0)
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(0), col("_n") - 1)).as("epoch_idx"))
    }),

    // Vocabulary coverage (the Zipf head): how many distinct tokens cover
    // 90% of the corpus token mass. The 90% test is exact integer
    // arithmetic (cum·10 vs total·9), no float threshold. The cumulative
    // sum is the DISTRIBUTED two-pass prefix sum
    // ([[graft.operators.PrefixSum]], extracted round 7 — shared with
    // x_shard_assign): no global single-reducer Window.orderBy (a
    // billion-token 100 TB vocabulary would funnel through one task).
    // The (freq, token) sort key is unique, so the global cumulative is
    // exact regardless of sampled range bounds.
    "x_vocab_coverage" -> ((s, dir) => {
      val freq = graft.GateCache.cache(
        docs(s, dir)
          .select(explode(split(Text.normalize(col("text")), " ")).as("token"))
          .filter(col("token") =!= "") // same vocabulary as x_vocab_topk
          .groupBy(col("token")).agg(count(lit(1)).as("freq")))
      // range count follows the session (not a hardcoded 8): at a
      // billion-token vocabulary the prefix-sum width must scale with the
      // cluster; the offsets window below stays numPartitions rows either
      // way. Overridable via graft.vocab.cumsum.partitions.
      val nRanges = cumsumRanges(s)
      graft.operators.PrefixSum.inclusive(freq,
          Seq(col("freq").desc, col("token").asc), col("freq"), nRanges,
          "_cum")
        .crossJoin(broadcast(freq.agg(
          sum(col("freq")).as("_total"), count(lit(1)).as("_vocab"))))
        .agg(min(col("_vocab")).cast("long").as("vocab_size"),
          min(col("_total")).cast("long").as("total_tokens"),
          sum(when((col("_cum") - col("freq")) * 10 < col("_total") * 9, 1L)
            .otherwise(0L)).cast("long").as("n_tokens_p90"))
    }),

    // Training-shard assignment — the "write the corpus out as N-token
    // shards" step every pretraining pipeline ends with: a DETERMINISTIC
    // global shuffle (order by portable hash of doc_id — reproducible,
    // seed-stable, and uncorrelated with any corpus attribute) followed
    // by token-budget packing: a doc goes to the shard its running token
    // offset falls in (shard = exclusive-prefix-tokens div budget), so
    // shard boundaries never depend on task count or scheduling. The
    // running offset is the [[graft.operators.PrefixSum]] two-pass
    // distributed cumsum over the corpus — the same no-single-reducer
    // shape as x_vocab_coverage, here over O(corpus) rows, which is
    // exactly where the naive global Window.orderBy would be the 100 TB
    // bottleneck. Output is the shard manifest (docs + tokens per shard);
    // the writer's downstream move is repartition-by-shard_id +
    // partitionBy on write, manifest-driven. Shards are budget-sized ±1
    // doc (a doc never splits): the gate pins the invariant that every
    // shard's token span covers its budget window.
    "x_shard_assign" -> ((s, dir) => {
      val t = docs(s, dir).select(col("doc_id"),
        PortableHash.hash32(col("doc_id").cast("string"), "shard|")
          .as("_h"),
        Text.tokenCount(col("text")).as("_nt"))
      graft.operators.PrefixSum.inclusive(t,
          Seq(col("_h").asc, col("doc_id").asc), col("_nt"),
          cumsumRanges(s), "_cum")
        .withColumn("shard_id",
          expr(s"(_cum - _nt) div $ShardTokenBudget"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_nt")).cast("long").as("n_tokens"))
    }),

    // Equi-depth binning — ntile() WITHOUT ntile's unpartitioned global
    // window (which funnels the whole frame through one reducer): the
    // global rank comes from the [[graft.operators.PrefixSum]] two-pass
    // cumsum of 1s over the unique (n_chars, doc_id) order, and the bin
    // is pure integer arithmetic on it — ((rank-1)·k) div N, ntile's
    // exact semantics when N div k is uneven (first N mod k bins get the
    // extra row). Equi-depth bins are the curriculum/length-bucketing
    // primitive (batch packing groups like-length docs to cut padding
    // waste); per-bin min/max pin the boundaries monotone.
    "x_equidepth_bins" -> ((s, dir) => {
      val t = docs(s, dir).select(col("doc_id"), col("n_chars"))
      val n = t.agg(count(lit(1)).as("_n"))
      graft.operators.PrefixSum.inclusive(t,
          Seq(col("n_chars").asc, col("doc_id").asc), lit(1L),
          cumsumRanges(s), "_rk")
        .crossJoin(broadcast(n)) // scalar aggregate (1 row)
        .withColumn("bin", expr(s"((_rk - 1) * $EquiDepthBins) div _n"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars"))
    }),

    // Collocation mining by lift — the phrase-induction signal (the
    // statistical cousin of x_bpe_merges' frequency argmax): lift(a,b) =
    // P(ab) / (P(a)·P(b)) as the exact integer ratio c_ab·N_tok²
    // / (N_bg·c_a·c_b), computed in one fixed double expression (no log,
    // no cross-row FP accumulation — the engines agree bit-for-bit, the
    // x_ngram_lm_score lesson without its nano-unit machinery). A min
    // count floor keeps rare-pair noise out (classic collocation
    // practice). Scale shape: one corpus scan into unigram + bigram count
    // frames (both vocabulary-sized, Heaps-law sublinear); the bigram
    // frame joins the unigram counts twice on the word key (AQE
    // broadcast); totals ride scalar crossJoins; top-k is TakeOrdered.
    "x_cooccur_lift" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(explode(split(Text.normalize(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
      val uni = graft.GateCache.cache(
        toks.groupBy(col("w")).agg(count(lit(1)).as("_c")))
      val bgAll = graft.GateCache.cache(
        docs(s, dir)
          .select(explode(
            ShingleExprs.wordShinglesNative(col("text"), 2)).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab")))
      // N_bg is the UNFILTERED bigram total (P(ab)'s denominator); the
      // min-count floor only gates which pairs are reported
      val bg = bgAll.filter(col("c_ab") >= LiftMinCount)
      val ntok = uni.agg(sum(col("_c")).cast("long").as("_ntok"))
      val nbg = bgAll.agg(sum(col("c_ab")).cast("long").as("_nbg"))
      bg.withColumn("_w1", split(col("bigram"), " ").getItem(0))
        .withColumn("_w2", split(col("bigram"), " ").getItem(1))
        .join(uni.select(col("w").as("_w1"), col("_c").as("_ca")), "_w1")
        .join(uni.select(col("w").as("_w2"), col("_c").as("_cb")), "_w2")
        .crossJoin(broadcast(ntok)).crossJoin(broadcast(nbg))
        .withColumn("lift",
          col("c_ab").cast("double") * col("_ntok") * col("_ntok") /
            (col("_nbg").cast("double") * col("_ca") * col("_cb")))
        .orderBy(round(col("lift"), 6).desc, col("bigram").asc)
        .limit(LiftTopK)
        .select(col("bigram"), col("c_ab"),
          round(col("lift"), 6).cast("decimal(14,6)").as("lift"))
    }),

    // Edit-distance verification of LSH candidates — the exact-similarity
    // final stage of the dedup funnel (bucket → candidate → verify):
    // Levenshtein over normalized text, scored only for the LSH pair set
    // (never all-pairs; per-pair cost is O(len²) so the funnel keeps it
    // off the full corpus). Identical unit-cost edit distance in both
    // engines; similarity = 1 − d/max(len) exactly.
    "x_edit_distance_verify" -> ((s, dir) => {
      // d feeds BOTH sides of the pair join — cache it or the corpus
      // normalizes twice (review find)
      val d = graft.GateCache.cache(docs(s, dir).select(col("doc_id"),
        Text.normalize(col("text")).as("_nt"),
        length(Text.normalize(col("text"))).as("_len")))
      val pairs = TrainingData.minhashPairs(TrainingData.minhashSig(s, dir))
      pairs
        .join(d.select(col("doc_id").as("id1"), col("_nt").as("_t1"),
          col("_len").as("_l1")), "id1")
        .join(d.select(col("doc_id").as("id2"), col("_nt").as("_t2"),
          col("_len").as("_l2")), "id2")
        .select(col("id1"), col("id2"),
          levenshtein(col("_t1"), col("_t2")).cast("long").as("edit_dist"),
          round(lit(1.0) - levenshtein(col("_t1"), col("_t2")).cast("double") /
            greatest(col("_l1"), col("_l2")).cast("double"), 6)
            .cast("decimal(10,6)").as("edit_sim"))
    }),

    // Per-language length-outlier detection (|z| > 1.5): mean and variance
    // from EXACT integer sums (n, Σx, Σx²) so the moments are identical
    // in both engines; only the final σ takes a sqrt. One partial-agg'd
    // shuffle for the moments (broadcast back), one scan for the flags.
    "x_length_outliers" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("x"))
      // moments as exact DECIMAL sums (int64 Σx² overflows at corpus
      // scale — ANSI throws, DuckDB silently promotes to HUGEINT; review
      // find), then ONE double expression mirrored in the oracle
      val m = d.groupBy(col("lang")).agg(
        count(lit(1)).as("_n"),
        sum(col("x").cast("decimal(18,0)")).cast("decimal(38,0)").as("_s"),
        sum((col("x") * col("x")).cast("decimal(20,0)"))
          .cast("decimal(38,0)").as("_s2"))
      val mu = col("_s").cast("double") / col("_n")
      val sigma = sqrt(col("_n").cast("double") * col("_s2").cast("double")
        - col("_s").cast("double") * col("_s").cast("double")) / col("_n")
      d.join(broadcast(m), "lang")
        .filter(abs(col("x").cast("double") - mu) > lit(1.5) * sigma)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_outliers"),
          min(col("x")).as("min_len"), max(col("x")).as("max_len"))
    }),

    // Incremental (delta-vs-corpus) near-dup detection: the daily-ingest
    // shape. The existing corpus is represented ONLY by its LSH band
    // index (band, band_key) — the 100 TB corpus text is never rescanned;
    // a new document is a dup candidate when any of its band keys hits
    // the index. One distinct over the index + one left-semi equi-join,
    // both skew-safe (semi-join output is bounded by the delta side).
    // Delta = doc_id % 10 == 9 (deterministic split); docs too short to
    // produce a signature cannot collide and count as novel.
    "x_dedup_incremental" -> ((s, dir) => {
      val bands = DedupOps.lshBands(TrainingData.minhashSig(s, dir),
        "doc_id", TrainingData.Bands, TrainingData.RowsPerBand)
      val corpusIdx = bands.filter(col("doc_id") % DeltaMod =!= DeltaMod - 1)
        .select(col("band"), col("band_key")).distinct()
      val dupIds = bands.filter(col("doc_id") % DeltaMod === DeltaMod - 1)
        .join(corpusIdx, Seq("band", "band_key"), "left_semi")
        .select(col("doc_id")).distinct()
      docs(s, dir).filter(col("doc_id") % DeltaMod === DeltaMod - 1)
        // dupIds is O(delta) — data-dependent, no broadcast hint (AQE
        // broadcasts when it actually fits; review find)
        .join(dupIds.withColumn("_dup", lit(1L)), Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_new"),
          sum(coalesce(col("_dup"), lit(0L))).cast("long")
            .as("n_dup_candidates"),
          sum(when(col("_dup").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_novel"))
    }),

    // Cross-run dedup via a compact bloom digest ([[BloomOps]] — the
    // explicit form of the runtime-filter machinery x_bloom_join lets
    // Catalyst inject): the corpus (doc_id % 10 ≠ 9) reduces to ONE
    // binary digest over xxhash64(fingerprint); the delta probes the
    // broadcast digest — O(delta) work, yesterday's data untouched —
    // then an exact fingerprint semi-join clears the bounded false
    // positives. Adjudication, the sketch-gate pattern: n_delta and the
    // exact dup count are DuckDB-oracled values; bloom soundness (zero
    // false negatives — guaranteed by construction, so any false here is
    // a bug, not noise) and the FP bound ride as pinned-true booleans.
    "x_dedup_bloom_probe" -> ((s, dir) => {
      // cached: the fingerprint scan feeds THREE consumers (the eager
      // digest action, the corpus fingerprint set, the delta probe) —
      // uncached it would md5-normalize the corpus three times (review
      // find), same sharing pattern as the sibling dedup gates
      val d = graft.GateCache.cache(docs(s, dir)
        .select(col("doc_id"), col("lang"),
          graft.functions.Text.fingerprint(col("text")).as("_fp")))
      val corpus = d.filter(col("doc_id") % DeltaMod =!= DeltaMod - 1)
      val delta = d.filter(col("doc_id") % DeltaMod === DeltaMod - 1)
      // the digest is materialized (ONE row, numBits/8 ≈ 100 KB) — in
      // production it IS the persisted cross-run artifact; might_contain
      // requires a constant/scalar digest anyway, and the literal reaches
      // every probe task via the plan, never a per-row join
      val digest = corpus.agg(graft.functions.BloomOps.bloomAgg(
        xxhash64(col("_fp")), BloomItems, BloomBits).as("_bf"))
        .head().getAs[Array[Byte]]("_bf")
      val corpusFps = corpus.select(col("_fp")).distinct()
      val probed = delta
        .withColumn("_cand", graft.functions.BloomOps.mightContain(
          lit(digest), xxhash64(col("_fp"))))
        .join(corpusFps.withColumn("_in", lit(1L)), Seq("_fp"), "left")
        .withColumn("_dup", when(col("_in").isNotNull, 1L).otherwise(0L))
      probed.groupBy(col("lang")).agg(
        count(lit(1)).as("n_delta"),
        sum(col("_dup")).cast("long").as("n_dup_exact"),
        // soundness: a true dup the digest missed would be a real bug
        (sum(when(col("_dup") === 1L && !col("_cand"), 1L).otherwise(0L))
          === 0L).as("no_false_negatives"),
        // FP head-room: candidates that aren't dups, ≤ 5% of delta + 10
        // (digest sized at BloomBits/BloomItems ⇒ fpp ≪ 1%)
        (sum(when(col("_cand") && col("_dup") === 0L, 1L).otherwise(0L))
          <= count(lit(1)) * 0.05 + 10.0).as("fp_within_bound"))
    }),

    // DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    // every document by how much its hashed n-gram profile looks like a
    // TARGET domain (here the English sub-corpus — the paper's
    // Wikipedia analog) vs the RAW corpus. Features are word unigrams +
    // bigrams hashed into DsirBuckets buckets; per-bucket log-ratio
    // ln(p_target) − ln(p_raw) with +1/(N+B) Laplace smoothing; a doc's
    // log importance weight is the feature-count-weighted sum, kept
    // exact as nano-unit integers (ln once per bucket — single-value
    // libm arithmetic, the x_ngram_lm_score cross-engine pattern).
    // Scale shape: corpus streams once into per-(doc, bucket) counts
    // (partial-agg'd shuffle on doc_id×bucket); both distributions
    // reduce to ≤B-row frames (B fixed at 4096 — independent of corpus
    // size) joined back by broadcast; the final per-doc reduce shuffles
    // on doc_id. No O(corpus) frame is ever broadcast.
    "x_dsir_weights" -> ((s, dir) => {
      // readCompute: the unigram+bigram explode below is the heaviest
      // per-row kernel in this file — parallelize the unsplittable scan
      val f = Tables.readCompute(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(concat(
            split(Text.normalize(col("text")), " "),
            ShingleExprs.wordShinglesNative(col("text"), 2))).as("gram"))
        .select(col("doc_id"), col("lang"),
          (graft.functions.PortableHash.hash32(col("gram"), "dsir|")
            % DsirBuckets).as("bucket"))
      // cached: feeds the raw stats, the target stats, and the doc sums
      val g = graft.GateCache.cache(
        f.groupBy(col("doc_id"), col("lang"), col("bucket"))
          .agg(count(lit(1)).as("_c")))
      val raw = g.groupBy(col("bucket")).agg(sum(col("_c")).as("_cr"))
      val tgt = g.filter(col("lang") === DsirTargetLang)
        .groupBy(col("bucket")).agg(sum(col("_c")).as("_ct"))
      val totR = raw.agg(sum(col("_cr")).as("_totr"))
      val totT = tgt.agg(sum(col("_ct")).as("_tott"))
      val b = raw.join(tgt, Seq("bucket"), "left")
        .crossJoin(totR).crossJoin(totT) // scalar aggregates (1 row each)
        .select(col("bucket"), round(
          (log((coalesce(col("_ct"), lit(0L)) + 1).cast("double") /
            (col("_tott") + DsirBuckets).cast("double")) -
           log((col("_cr") + 1).cast("double") /
            (col("_totr") + DsirBuckets).cast("double"))) * 1000000000d, 0)
          .cast("bigint").as("_lr"))
      g.join(broadcast(b), Seq("bucket")) // b is ≤ DsirBuckets rows
        .groupBy(col("doc_id"))
        .agg(sum(col("_c")).cast("long").as("n_grams"),
          sum(col("_c") * col("_lr")).cast("long").as("weight_nano"))
        .orderBy(col("weight_nano").desc, col("doc_id").asc)
        .limit(DsirTopK)
    }),

    // BPE merge learning (Sennrich et al. 2016): the tokenizer-INDUCTION
    // step the token-counting gates assume has already happened. Classic
    // byte-pair encoding, distributed: words become space-separated
    // symbol sequences; each round counts adjacent symbol pairs weighted
    // by word frequency (one partial-agg'd shuffle over the DISTINCT-word
    // frame, not the corpus), picks the argmax pair (count desc, pair asc
    // — deterministic), and applies the merge with a plain left-to-right
    // string replace (both engines' replace() is l-to-r non-overlapping —
    // BPE's convention). Caveat, documented: the STRING-level apply can
    // also match where the pair's first symbol is the SUFFIX of a longer
    // symbol ("ab c" matches "b c") — canonical BPE applies on the
    // symbol array. The boundary-safe regex needs lookarounds, which
    // DuckDB's RE2 lacks, so the greedy-string form is the deterministic
    // cross-engine-exact choice; CurationSpec's JVM reference implements
    // the canonical array form and proves the two coincide on this
    // corpus at these rounds. BpeRounds rounds unrolled lazily, the
    // x_kmeans_embed pattern; the 1-row winner rides a broadcast
    // crossJoin, never a collect. Scale shape: the corpus is scanned
    // ONCE into the cached word-frequency frame (|vocab| rows); every
    // round is vocab-sized, independent of corpus size — which is why
    // real BPE trainers also run on word-frequency tables.
    "x_bpe_merges" -> ((s, dir) => bpeLearn(s, dir)._2.reduce(_ unionByName _)),

    // BPE tokenizer APPLY — the other half of the tokenizer story: the
    // merges learned by x_bpe_merges are applied to the corpus, and the
    // gate reports per-language token accounting (whitespace baseline vs
    // post-merge BPE symbol count). Scale shape: the merge application
    // runs entirely on the |vocab|-row word-frequency frame (never the
    // corpus text); the corpus streams once into (lang, word) and joins
    // the per-word symbol count — a word-keyed equi-join against a
    // Heaps-law-sublinear vocabulary frame, strategy left to AQE (it
    // broadcasts the vocab when measured small, shuffles when not).
    // Token accounting per language is what feeds compute budgeting and
    // tokenizer-fertility comparisons before a training run.
    "x_bpe_tokenize" -> ((s, dir) => {
      val wtok = bpeLearn(s, dir)._1
        .select(col("w"), size(split(col("_sp"), " ")).cast("long").as("_bt"))
      val cw = docs(s, dir).select(col("lang"),
          explode(split(Text.normalize(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
      val tok = cw.join(wtok, Seq("w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("ws_tokens"),
          sum(col("_bt")).cast("long").as("bpe_tokens"))
      docs(s, dir).groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .join(tok, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          coalesce(col("ws_tokens"), lit(0L)).as("ws_tokens"),
          coalesce(col("bpe_tokens"), lit(0L)).as("bpe_tokens"))
    })
  )

  /** The BPE merge-learning chain, shared by x_bpe_merges (reports the
    * merge table) and x_bpe_tokenize (applies the merges corpus-wide):
    * returns (post-merge word-frequency frame (w, _c, _sp), per-round
    * 1-row winner frames). See the x_bpe_merges scaladoc for the
    * algorithm and determinism notes. */
  private def bpeLearn(s: SparkSession,
                       dir: String): (DataFrame, Seq[DataFrame]) = {
    val wf = graft.GateCache.cache(
      docs(s, dir)
        .select(explode(split(Text.normalize(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("_c"))
        .withColumn("_sp",
          trim(regexp_replace(col("w"), "(.)", "$1 "))))
    def pairCounts(f: DataFrame): DataFrame = f
      .select(col("_c"), explode(Text.wordShingles(col("_sp"), 2)).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("_c")).cast("long").as("pair_freq"))
    // Degenerate guard, per-round and LAZY (r7 ADVICE — the old form ran
    // an eager isEmpty action at plan-construction time and only checked
    // round 1): an exhausted round (no adjacent symbol pair anywhere —
    // all 1-char words, or BpeRounds > available merges) would annihilate
    // the frequency frame via the crossJoin while the DuckDB oracle
    // instead propagates NULL into sp — the engines would silently
    // diverge. Instead the winner is a 1-row AGGREGATE over the ordered
    // limit(1) frame (one row even when the input is empty), carrying an
    // assert_true(count=1) column; the filter on it forces evaluation at
    // ACTION time and throws a per-round message when the round is dry.
    // Plan cost: the agg replaces nothing measurable — it runs over ≤1
    // row — and no job is launched before the gate's own action.
    (1 to BpeRounds)
      .foldLeft((wf, Seq.empty[DataFrame])) { case ((f, acc), r) =>
        val top = pairCounts(f)
          .orderBy(col("pair_freq").desc, col("pair").asc).limit(1)
          .agg(
            assert_true(count(lit(1)) === 1,
              lit(s"bpeLearn: round $r has no adjacent symbol pair " +
                "(degenerate corpus, or BpeRounds exceeds the available " +
                "merges)")).as("_g"),
            first(col("pair")).as("pair"),
            first(col("pair_freq")).as("pair_freq"))
          .filter(col("_g").isNull)
          .withColumn("merged",
            regexp_replace(col("pair"), " ", ""))
          .select(col("pair"), col("merged"), col("pair_freq"))
        val applied = f.crossJoin(broadcast(top))
          .withColumn("_sp",
            expr("replace(_sp, pair, merged)"))
          .select(col("w"), col("_c"), col("_sp"))
        (applied,
          acc :+ top.select(lit(r).as("merge_round"), col("pair"),
            col("merged"), col("pair_freq")))
      }
  }

  val oracle: Map[String, String] = {
    val norm = Text.normalizeDuck("text")
    Map(
      "x_repetition_stats" ->
        s"""WITH ${repetitionCte}
           |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
           |  CAST(CAST(round(dupf, 6) AS DECIMAL(10,6)) AS DOUBLE)
           |    AS dup_token_frac,
           |  CAST(CAST(round(topbgf, 6) AS DECIMAL(10,6)) AS DOUBLE)
           |    AS top_bigram_frac
           |FROM rep""".stripMargin,

      "x_gopher_filter_apply" ->
        s"""WITH ${repetitionCte},
           |r AS (SELECT *,
           |    (CAST(len(nt) AS DOUBLE) / ntok) AS meanw,
           |    (${Text.wordOccurrencesDuck("text", "the")} +
           |     ${Text.wordOccurrencesDuck("text", "a")} +
           |     ${Text.wordOccurrencesDuck("text", "of")}) AS stop
           |  FROM rep),
           |f AS (SELECT lang, ntok,
           |    (ntok < $MinTokens OR ntok > $MaxTokens
           |     OR meanw < $MinMeanWordLen OR meanw > $MaxMeanWordLen)
           |      AS fail_size,
           |    dupf > $MaxDupTokenFrac AS fail_dup,
           |    topbgf > $MaxTopBigramFrac AS fail_topbg,
           |    stop < 1 AS fail_stop
           |  FROM r)
           |SELECT lang, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN NOT fail_size AND NOT fail_dup
           |    AND NOT fail_topbg AND NOT fail_stop THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_kept,
           |  CAST(sum(CASE WHEN fail_size THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_fail_size,
           |  CAST(sum(CASE WHEN fail_dup THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_fail_dup,
           |  CAST(sum(CASE WHEN fail_topbg THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_fail_topbg,
           |  CAST(sum(CASE WHEN fail_stop THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_fail_stop,
           |  CAST(sum(CASE WHEN NOT fail_size AND NOT fail_dup
           |    AND NOT fail_topbg AND NOT fail_stop THEN ntok ELSE 0 END)
           |    AS BIGINT) AS kept_tokens
           |FROM f GROUP BY lang""".stripMargin,

      "x_token_budget_select" ->
        s"""WITH q AS (SELECT doc_id, lang,
           |    CAST(${Text.tokenCountDuck("text")} AS BIGINT) AS tok,
           |    ${Text.qualityScoreDuck("text")} AS qual
           |  FROM documents),
           |c AS (SELECT *, sum(tok) OVER (PARTITION BY lang
           |    ORDER BY qual DESC, doc_id ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM q)
           |SELECT lang, count(*) AS n_selected,
           |  CAST(sum(tok) AS BIGINT) AS tokens_selected
           |FROM c WHERE cum <= $TokenBudget GROUP BY lang""".stripMargin,

      "x_ngram_lm_score" -> {
        val bgs = Text.wordShinglesDuck("text", 2)
        s"""WITH bg AS (SELECT doc_id, unnest($bgs) AS bigram FROM documents),
           |c2 AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram),
           |c1 AS (SELECT string_split(bigram, ' ')[1] AS w1,
           |         sum(c2) AS c1 FROM c2 GROUP BY 1),
           |v AS (SELECT count(DISTINCT t) AS v FROM (
           |  SELECT unnest(string_split($norm, ' ')) AS t FROM documents)
           |  WHERE t <> '')
           |SELECT doc_id, count(*) AS n_bigrams,
           |  CAST(sum(CAST(round(ln(CAST(c2.c2 + 1 AS DOUBLE) / (c1.c1 + v.v))
           |    * 1000000000, 0) AS BIGINT)) AS BIGINT) AS lm_score_nano
           |FROM bg
           |JOIN c2 USING (bigram)
           |JOIN c1 ON c1.w1 = string_split(bg.bigram, ' ')[1]
           |CROSS JOIN v
           |GROUP BY doc_id""".stripMargin
      },

      "x_mixture_sample" ->
        s"""WITH hd AS (SELECT source,
           |    ${graft.functions.PortableHash.duckSql("CAST(doc_id AS VARCHAR)", "mix|")}
           |      % 1000000 AS hm
           |  FROM documents),
           |n AS (SELECT source, count(*) AS ns,
           |    (CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 1
           |          THEN 3.0 ELSE 1.0 END) / count(*) AS ratio
           |  FROM hd GROUP BY source),
           |m AS (SELECT max(ratio) AS mx FROM n),
           |r AS (SELECT source, ns,
           |    CAST(round(ratio / mx * 1000000, 0) AS BIGINT) AS thr
           |  FROM n, m)
           |SELECT hd.source, min(r.ns) AS n_orig,
           |  CAST(sum(CASE WHEN hd.hm < r.thr THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_sampled
           |FROM hd JOIN r ON r.source = hd.source
           |GROUP BY hd.source""".stripMargin,

      "x_mad_outliers" ->
        """WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS x
           |  FROM documents),
           |m AS (SELECT lang, median(x) AS med FROM d GROUP BY 1),
           |dev AS (SELECT d.lang, x, med, abs(x - med) AS adev
           |  FROM d JOIN m USING (lang)),
           |md AS (SELECT lang, median(adev) AS mad FROM dev GROUP BY 1)
           |SELECT dev.lang, count(*) AS n_outliers,
           |  min(x) AS min_len, max(x) AS max_len,
           |  min(med) AS med, min(mad) AS mad
           |FROM dev JOIN md USING (lang)
           |WHERE adev > mad * 1.5
           |GROUP BY 1""".stripMargin,

      "x_epoch_upsample" ->
        s"""WITH n AS (SELECT doc_id, lang,
           |    (CASE lang WHEN 'en' THEN 2 WHEN 'fr' THEN 0 ELSE 1 END)
           |    + (CASE WHEN
           |        ${graft.functions.PortableHash.duckSql("CAST(doc_id AS VARCHAR)", "epoch|")}
           |        < (CASE lang WHEN 'en' THEN $EpochThrHalf
           |           WHEN 'de' THEN $EpochThrQuarter
           |           WHEN 'fr' THEN $EpochThrHalf
           |           WHEN 'es' THEN $EpochThr3Q ELSE 0 END)
           |      THEN 1 ELSE 0 END) AS n
           |  FROM documents)
           |SELECT doc_id, lang,
           |  CAST(unnest(generate_series(0, n - 1)) AS INT) AS epoch_idx
           |FROM n WHERE n > 0""".stripMargin,

      "x_vocab_coverage" ->
        s"""WITH freq AS (SELECT token, count(*) AS freq FROM (
           |    SELECT unnest(string_split($norm, ' ')) AS token
           |    FROM documents) WHERE token <> '' GROUP BY token),
           |c AS (SELECT freq, sum(freq) OVER (ORDER BY freq DESC, token ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM freq),
           |t AS (SELECT sum(freq) AS total, count(*) AS vocab FROM freq)
           |SELECT CAST(min(vocab) AS BIGINT) AS vocab_size,
           |  CAST(min(total) AS BIGINT) AS total_tokens,
           |  CAST(sum(CASE WHEN (cum - freq) * 10 < total * 9
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_tokens_p90
           |FROM c, t""".stripMargin,

      "x_shard_assign" ->
        s"""WITH t AS (SELECT doc_id,
           |    ${PortableHash.duckSql("CAST(doc_id AS VARCHAR)", "shard|")} AS h,
           |    CAST(${Text.tokenCountDuck("text")} AS BIGINT) AS nt
           |  FROM documents),
           |c AS (SELECT doc_id, nt,
           |    sum(nt) OVER (ORDER BY h ASC, doc_id ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM t)
           |SELECT CAST((cum - nt) // $ShardTokenBudget AS BIGINT) AS shard_id,
           |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
           |FROM c GROUP BY 1""".stripMargin,

      "x_weighted_sample" ->
        s"""WITH s AS (SELECT doc_id, n_chars,
           |    ln((${PortableHash.duckSql("CAST(doc_id AS VARCHAR)", "ws1|")}
           |      + 1) / 4294967296.0) / n_chars AS k
           |  FROM documents WHERE n_chars > 0)
           |SELECT row_number() OVER (ORDER BY k DESC, doc_id ASC) AS rk,
           |  doc_id, n_chars, CAST(round(k, 6) AS DOUBLE) AS w_key
           |FROM s ORDER BY k DESC, doc_id ASC LIMIT $WSampleK""".stripMargin,

      "x_token_entropy" ->
        s"""WITH tf AS (SELECT doc_id, w, count(*) AS c FROM (
           |    SELECT doc_id, unnest(string_split($norm, ' ')) AS w
           |    FROM documents) WHERE w <> '' GROUP BY doc_id, w),
           |lens AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
           |    count(*) AS n_distinct
           |  FROM tf GROUP BY doc_id)
           |SELECT tf.doc_id, min(n) AS n_tokens,
           |  min(n_distinct) AS n_distinct,
           |  CAST(-sum(CAST(round((CAST(c AS DOUBLE) / n) *
           |    ln(CAST(c AS DOUBLE) / n) * 1000000000, 0) AS BIGINT))
           |    AS BIGINT) AS entropy_nano
           |FROM tf JOIN lens ON lens.doc_id = tf.doc_id
           |GROUP BY tf.doc_id""".stripMargin,

      "x_equidepth_bins" ->
        s"""WITH r AS (SELECT n_chars,
           |    row_number() OVER (ORDER BY n_chars ASC, doc_id ASC) AS rk,
           |    count(*) OVER () AS n
           |  FROM documents)
           |SELECT CAST(((rk - 1) * $EquiDepthBins) // n AS BIGINT) AS bin,
           |  count(*) AS n_docs,
           |  CAST(min(n_chars) AS BIGINT) AS min_chars,
           |  CAST(max(n_chars) AS BIGINT) AS max_chars
           |FROM r GROUP BY 1""".stripMargin,

      "x_cooccur_lift" ->
        s"""WITH toks AS (SELECT w FROM (
           |    SELECT unnest(string_split($norm, ' ')) AS w FROM documents)
           |  WHERE w <> ''),
           |uni AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
           |bgall AS (SELECT bigram, count(*) AS c_ab FROM (
           |    SELECT unnest(${Text.wordShinglesDuck("text", 2)}) AS bigram
           |    FROM documents) GROUP BY bigram),
           |ntok AS (SELECT CAST(sum(c) AS BIGINT) AS ntok FROM uni),
           |nbg AS (SELECT CAST(sum(c_ab) AS BIGINT) AS nbg FROM bgall),
           |sc AS (SELECT bigram, c_ab,
           |    CAST(c_ab AS DOUBLE) * ntok * ntok /
           |      (CAST(nbg AS DOUBLE) * a.c * b.c) AS lift
           |  FROM bgall, ntok, nbg
           |  JOIN uni a ON a.w = string_split(bigram, ' ')[1]
           |  JOIN uni b ON b.w = string_split(bigram, ' ')[2]
           |  WHERE c_ab >= $LiftMinCount)
           |SELECT bigram, c_ab,
           |  CAST(CAST(round(lift, 6) AS DECIMAL(14,6)) AS DOUBLE) AS lift
           |FROM sc
           |ORDER BY round(lift, 6) DESC, bigram ASC LIMIT $LiftTopK""".stripMargin,

      "x_edit_distance_verify" ->
        s"""WITH ${TrainingData.minhashCtes},
           |t AS (SELECT doc_id, $norm AS nt, len($norm) AS l FROM documents)
           |SELECT id1, id2,
           |  CAST(levenshtein(a.nt, b.nt) AS BIGINT) AS edit_dist,
           |  CAST(CAST(round(1.0 - CAST(levenshtein(a.nt, b.nt) AS DOUBLE)
           |    / greatest(a.l, b.l), 6) AS DECIMAL(10,6)) AS DOUBLE)
           |    AS edit_sim
           |FROM pairs JOIN t a ON a.doc_id = id1
           |           JOIN t b ON b.doc_id = id2""".stripMargin,

      "x_length_outliers" ->
        """WITH d AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS x
          |  FROM documents),
          |m AS (SELECT lang, count(*) AS n, sum(x) AS s, sum(x*x) AS s2
          |  FROM d GROUP BY lang)
          |SELECT lang, count(*) AS n_outliers,
          |  min(x) AS min_len, max(x) AS max_len
          |FROM d JOIN m USING (lang)
          |WHERE abs(CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / n)
          |      > 1.5 * (sqrt(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
          |                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n)
          |GROUP BY lang""".stripMargin,

      "x_dedup_incremental" ->
        s"""WITH ${TrainingData.minhashCtes},
           |cidx AS (SELECT DISTINCT band, band_key FROM bands
           |         WHERE doc_id % $DeltaMod <> ${DeltaMod - 1}),
           |dup AS (SELECT DISTINCT b.doc_id FROM bands b
           |        JOIN cidx USING (band, band_key)
           |        WHERE b.doc_id % $DeltaMod = ${DeltaMod - 1})
           |SELECT lang, count(*) AS n_new,
           |  CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM dup)
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_candidates,
           |  CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM dup)
           |    THEN 0 ELSE 1 END) AS BIGINT) AS n_novel
           |FROM documents WHERE doc_id % $DeltaMod = ${DeltaMod - 1}
           |GROUP BY lang""".stripMargin,

      // exact side + pinned-true bounds of the bloom probe (sketch-gate
      // pattern): dup ⇔ delta fingerprint present among corpus prints
      "x_dedup_bloom_probe" -> {
        val fp = Text.fingerprintDuck("text")
        s"""WITH f AS MATERIALIZED (
           |  SELECT doc_id, lang, $fp AS fp FROM documents),
           |c AS (SELECT DISTINCT fp FROM f
           |      WHERE doc_id % $DeltaMod <> ${DeltaMod - 1})
           |SELECT lang, count(*) AS n_delta,
           |  CAST(sum(CASE WHEN fp IN (SELECT fp FROM c) THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_dup_exact,
           |  true AS no_false_negatives, true AS fp_within_bound
           |FROM f WHERE doc_id % $DeltaMod = ${DeltaMod - 1}
           |GROUP BY lang""".stripMargin
      },

      "x_dsir_weights" -> {
        val bgs = Text.wordShinglesDuck("text", 2)
        val h = graft.functions.PortableHash.duckSql("gram", "dsir|")
        // f MATERIALIZED: referenced via g by three aggregations — inlining
        // would replicate the md5-per-gram scan per reference
        s"""WITH f AS MATERIALIZED (
           |  SELECT doc_id, lang, ($h) % $DsirBuckets AS bucket
           |  FROM (SELECT doc_id, lang,
           |          unnest(list_concat(string_split($norm, ' '), $bgs))
           |            AS gram
           |        FROM documents)),
           |g AS (SELECT doc_id, lang, bucket, count(*) AS c
           |      FROM f GROUP BY 1, 2, 3),
           |r AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS cr
           |      FROM g GROUP BY bucket),
           |t AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS ct
           |      FROM g WHERE lang = '$DsirTargetLang' GROUP BY bucket),
           |tr AS (SELECT CAST(sum(cr) AS BIGINT) AS totr FROM r),
           |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS tott FROM t),
           |b AS (SELECT r.bucket, CAST(round(
           |      (ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) /
           |         (tott + $DsirBuckets)) -
           |       ln(CAST(cr + 1 AS DOUBLE) / (totr + $DsirBuckets)))
           |      * 1000000000, 0) AS BIGINT) AS lr
           |    FROM r LEFT JOIN t USING (bucket)
           |    CROSS JOIN tr CROSS JOIN tt)
           |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           |  CAST(sum(c * lr) AS BIGINT) AS weight_nano
           |FROM g JOIN b USING (bucket)
           |GROUP BY doc_id
           |ORDER BY weight_nano DESC, doc_id ASC LIMIT $DsirTopK""".stripMargin
      },

      "x_bpe_merges" -> {
        val out = (1 to BpeRounds)
          .map(r => s"SELECT $r AS merge_round, pair, merged, pair_freq FROM t$r")
          .mkString(" UNION ALL ")
        s"WITH $bpeCtes\n$out"
      },

      "x_bpe_tokenize" ->
        s"""WITH $bpeCtes,
           |wt AS (SELECT w, CAST(len(string_split(sp, ' ')) AS BIGINT) AS bt
           |       FROM f${BpeRounds + 1}),
           |cw AS (SELECT lang, w FROM (
           |    SELECT lang, unnest(string_split($norm, ' ')) AS w
           |    FROM documents) WHERE w <> ''),
           |tok AS (SELECT lang, count(*) AS ws_tokens,
           |    CAST(sum(bt) AS BIGINT) AS bpe_tokens
           |  FROM cw JOIN wt USING (w) GROUP BY lang),
           |nd AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
           |SELECT nd.lang, nd.n_docs,
           |  coalesce(tok.ws_tokens, 0) AS ws_tokens,
           |  coalesce(tok.bpe_tokens, 0) AS bpe_tokens
           |FROM nd LEFT JOIN tok USING (lang)""".stripMargin)
  }

  /** Shared DuckDB CTE chain mirroring [[bpeLearn]]: w0/f1 build the
    * spaced word-frequency frame, then per round r: p_r counts pairs,
    * t_r picks the winner, f_{r+1} applies the merge. The final
    * vocabulary is `f${BpeRounds + 1}`. */
  private def bpeCtes: String = {
    val norm = Text.normalizeDuck("text")
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS (SELECT pair, CAST(sum(c) AS BIGINT) AS pair_freq
         |  FROM (SELECT c, unnest(${Text.wordShinglesDuck("sp", 2)}) AS pair
         |        FROM f$r) GROUP BY pair),
         |t$r AS (SELECT pair, replace(pair, ' ', '') AS merged, pair_freq
         |  FROM p$r ORDER BY pair_freq DESC, pair ASC LIMIT 1),
         |f${r + 1} AS MATERIALIZED (SELECT w, c,
         |  replace(sp, (SELECT pair FROM t$r), (SELECT merged FROM t$r))
         |    AS sp FROM f$r)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (SELECT w, count(*) AS c FROM (
       |    SELECT unnest(string_split($norm, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |f1 AS MATERIALIZED (SELECT w, c,
       |  trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sp FROM w0),
       |$rounds""".stripMargin
  }
}
