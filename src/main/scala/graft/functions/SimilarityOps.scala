package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`) — extension
  * surface (SURVEY.md §7.2 step 7).
  *
  * Vector math uses Spark's higher-order functions (`zip_with` +
  * `aggregate`) — codegen'd, no UDF, left-to-right summation so the DuckDB
  * oracle (explicit term-sum or list functions) can match deterministically
  * after rounding.
  *
  * Every path of the vector family — the ANN top-k paths (brute force, LSH
  * bands, IVF cells, PQ shortlist) and the embedding near-dup gates — is a
  * filter-then-refine search: its own candidate stage, then one refine
  * step built from four shared rules, each defined once here:
  *   - the scored side ([[Side]]): id, vector, and the norm computed once
  *     per row, never per pair;
  *   - the cosine of two sides ([[cosine]]): one native dot over the two
  *     per-row norms;
  *   - the near-dup pair stage ([[nearDupPairs]]): a/b sides under an
  *     optional block key (none, an LSH bucket or a k-means cell),
  *     `id1 < id2`, cosine above the threshold;
  *   - the top-k rank ([[topK]]): `row_number` over the key, ordered by
  *     `round(score, 6) DESC, id ASC`, keep ≤ k, the score emitted as
  *     `decimal(10,6)`.
  *
  * The oracle side mirrors them: [[dotDuck]]/[[cosineDuck]] spell the same
  * left-to-right dot and cosine, and every oracle's `ROW_NUMBER` clause
  * spells the same rank order.
  */
object SimilarityOps {

  /** Dot product — native codegen'd [[DotProduct]] expression (double
    * accumulator, sequential left-to-right fold — deterministic order,
    * bit-identical to [[dotHof]] and to the generated oracle term-sum). */
  def dot(a: Column, b: Column): Column = VectorExprs.dotNative(a, b)

  /** Higher-order-function form (`zip_with`+`aggregate`): semantically
    * identical, but CodegenFallback — kept as the reference implementation
    * the spec checks the native expression against. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** A scored side: the names of its id, vector and norm columns. */
  final case class Side(id: String, vec: String, nrm: String) {
    /** `df`'s `idCol` and `vecCol` under this side's names, the norm
      * computed once per row, then `extra`. */
    def of(df: DataFrame, idCol: String, vecCol: String,
           extra: Column*): DataFrame =
      df.select(Seq(col(idCol).as(id), col(vecCol).as(vec),
        norm(col(vecCol)).as(nrm)) ++ extra: _*)

    /** The columns of the scored side `src`, renamed to this side's. */
    def from(src: Side): Seq[Column] =
      Seq(col(src.id).as(id), col(src.vec).as(vec), col(src.nrm).as(nrm))
  }

  /** The ANN sides: query and corpus (neighbor). */
  val Query = Side("query_id", "_qv", "_qn")
  val Corpus = Side("neighbor_id", "_cv", "_cn")
  /** The near-dup pair stage's sides. */
  val PairA = Side("id1", "_va", "_na")
  val PairB = Side("id2", "_vb", "_nb")
  private val Centroid = Side("_cid", "_cvec", "_cnrm")

  /** The cosine of two scored sides: one dot over the per-row norms. */
  def cosine(a: Side, b: Side): Column =
    dot(col(a.vec), col(b.vec)) / (col(a.nrm) * col(b.nrm))

  /** A cosine as emitted: rounded to 6 places, `decimal(10,6)`. */
  private def score6(c: Column): Column = round(c, 6).cast("decimal(10,6)")

  /** The top-k rank rule: `row_number` over `key`, ordered by
    * `round(score, 6) DESC, id ASC`; keeps ≤ k rows per key and emits
    * (key, `rk`, id, `carry`…, `out`) with the score as `decimal(10,6)`. */
  def topK(scored: DataFrame, key: String, id: String, score: String,
           k: Int, out: String, carry: Column*): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(round(col(score), 6).desc, col(id).asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(Seq(col(key), col("rk"), col(id)) ++ carry :+
        score6(col(score)).as(out): _*)
  }

  /** [[topK]] over scored ANN candidates (`query_id`, `neighbor_id`,
    * `_cos`): (`query_id`, `rk`, `neighbor_id`, `carry`…, `cos_sim`). */
  def neighborTopK(scored: DataFrame, k: Int, carry: Column*): DataFrame =
    topK(scored, Query.id, Corpus.id, "_cos", k, "cos_sim", carry: _*)

  /** Cosine-scores joined [[Query]] × [[Corpus]] candidates, self pairs
    * dropped: (`query_id`, `neighbor_id`, `_cos`, `carry`…). */
  private def scoreCandidates(cand: DataFrame, carry: Column*): DataFrame =
    cand.filter(col(Query.id) =!= col(Corpus.id))
      .select(Seq(col(Query.id), col(Corpus.id),
        cosine(Query, Corpus).as("_cos")) ++ carry: _*)

  /** The near-dup pair stage: the pairs of the [[PairA]] side `a` and the
    * [[PairB]] side `b` with `id1 < id2` whose cosine exceeds `threshold`
    * — every such pair (a non-equi join), or, under a `block` key both
    * sides carry (an LSH bucket, a k-means cell), only pairs that share
    * it. Emits (block key, `id1`, `id2`, `cos_sim`). */
  def nearDupPairs(a: DataFrame, b: DataFrame, block: Option[String],
                   threshold: Double): DataFrame = {
    val joined = block match {
      case None    => a.join(b, col(PairA.id) < col(PairB.id))
      case Some(k) => a.join(b, Seq(k)).filter(col(PairA.id) < col(PairB.id))
    }
    joined.withColumn("_cos", cosine(PairA, PairB))
      .filter(col("_cos") > threshold)
      .select(block.toSeq.map(col) ++ Seq(col(PairA.id), col(PairB.id),
        score6(col("_cos")).as("cos_sim")): _*)
  }

  /** Brute-force top-k cosine neighbors for a set of query vectors.
    * Cross join (queries × corpus) — the corpus side streams; with Q query
    * rows broadcast, this is a single scan of the corpus doing Q·d FMAs per
    * row, then a per-query top-k (window). The correct baseline, and the
    * right plan when Q is small; scale path is [[lshAnnTopK]]. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame =
    neighborTopK(scoreCandidates(Corpus.of(corpus, idCol, vecCol)
      .crossJoin(broadcast(Query.of(queries, idCol, vecCol)))), k)

  /** Random-hyperplane LSH bucket key: `planes` sign bits from fixed
    * pseudo-random hyperplanes (seeded by [[PortableHash]] of (plane, dim),
    * so buckets are deterministic and oracle-reproducible without shipping
    * plane data). Sign bit b = sign(Σ_d w(b,d)·v[d]) with w ∈ {-1,+1}.
    * Native [[HyperplaneKey]] kernel; VectorSpec pins it bit-identical to
    * [[hyperplaneKeyComposed]], whose term order the oracle SQL mirrors. */
  def hyperplaneKey(vec: Column, planes: Int, dim: Int): Column =
    VectorExprs.hyperplaneKeyNative(vec, planes, dim)

  /** Composed built-ins form of [[hyperplaneKey]] — the executable spec of
    * the kernel's arithmetic (a planes×dim literal tree; Janino splits it
    * into dozens of generated methods, which is why the kernel exists). */
  def hyperplaneKeyComposed(vec: Column, planes: Int, dim: Int): Column = {
    val bits = (0 until planes).map { p =>
      // w(p,d) = ±1 from MD5 parity of (p,d) — plan-time literals shared
      // with the oracle generator ([[hyperplaneWeight]]), folded by codegen.
      val proj = (0 until dim).map(d =>
        lit(hyperplaneWeight(p, d)) * element_at(vec, d + 1).cast("double"))
        .reduce(_ + _)
      when(proj > 0, math.pow(2, p).toLong).otherwise(0L)
    }
    bits.reduce(_ + _).cast("long")
  }

  /** Query-side multi-probe of the banded-LSH ANN path: every band key
    * within 2 flipped bits ([[probeMasks]]). One value, shared with the
    * generated oracle SQL. */
  val AnnProbeHamming = 2

  /** LSH-bucketed ANN, banded OR-construction (the amplification trick the
    * minhash path uses, applied to sign bits): one `bands·bandBits`-plane
    * key per vector, split into `bands` sub-keys; a corpus row is a
    * candidate for a query if ANY band matches, with Hamming-2 multi-probe
    * inside the band (query probes its band key plus each one- and two-bit
    * flip — [[hyperplaneProbeKeys]]). Candidates are exact-cosine scored
    * once (duplicate band matches collapse via distinct on the
    * deterministic score) and top-k ranked.
    *
    * Scale shape: corpus explodes ×bands, queries ×bands·(1 + bandBits +
    * C(bandBits,2)) — but the query side is the small broadcast side, and
    * the join stays an equi-join on (band, key): no cross join, no
    * non-equi. Recall tunes with (bands, bandBits): more bands = higher
    * recall & more candidates (AnnRecallSpec pins the floor); more bits =
    * sharper buckets. */
  def lshAnnTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, bands: Int, bandBits: Int,
                 dim: Int): DataFrame =
    neighborTopK(lshCandidates(corpus.select(col(idCol), col(vecCol)),
      queries.select(col(idCol), col(vecCol)), idCol, vecCol, bands,
      bandBits, dim), k)

  /** The candidate stage of [[lshAnnTopK]]: the distinct scored pairs
    * (`query_id`, `neighbor_id`, `_cos`) that share a band key under the
    * query's multi-probe. Every other column of `queries`, then of
    * `corpus`, rides along to the output, so a caller can filter the
    * candidates on them (name the two sides' columns apart). */
  def lshCandidates(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, bands: Int, bandBits: Int,
                    dim: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    def rest(df: DataFrame) =
      df.columns.toSeq.filterNot(Set(idCol, vecCol)).map(col)
    // the scored side and the full key `_hk` are projected BELOW the band
    // posexplode, so each is computed once per vector, not once per band
    def banded(side: Side, df: DataFrame): DataFrame =
      side.of(df, idCol, vecCol,
          hyperplaneKey(col(vecCol), bands * bandBits, dim).as("_hk") +:
            rest(df): _*)
        .select(Seq(col(side.id), col(side.vec), col(side.nrm),
          posexplode(array((0 until bands).map(b =>
            shiftright(col("_hk"), b * bandBits).bitwiseAND(lit(mask))): _*))
            .as(Seq("_band", "_bkey"))) ++ rest(df): _*)
    val c = banded(Corpus, corpus)
    // Hamming-2 probes on the QUERY side only: queries are the broadcast
    // side, so the ×(1+bits+C(bits,2)) explosion is per-query-row cheap,
    // while the corpus side's cost is untouched — recall rises for free
    // at corpus scale (the multi-probe LSH trick, Lv et al., VLDB'07).
    val q = banded(Query, queries)
      .select(Seq(col(Query.id), col(Query.vec), col(Query.nrm), col("_band"),
        explode(hyperplaneProbeKeys(col("_bkey"), bandBits, AnnProbeHamming))
          .as("_bkey")) ++ rest(queries): _*)
    scoreCandidates(c.join(broadcast(q), Seq("_band", "_bkey")),
      rest(queries) ++ rest(corpus): _*)
      .distinct()
  }

  /** IVF (inverted-file) ANN — the other classic scale path next to
    * [[lshAnnTopK]]. A coarse quantizer partitions the corpus into cells;
    * each query probes only the `nprobe` nearest cells.
    *
    * Centroids here are a deterministic corpus subset (`id % centroidMod
    * == 0`) rather than k-means output: the cell GEOMETRY is what the
    * operator exercises, and a deterministic quantizer is what makes the
    * result exactly reproducible by the DuckDB oracle (k-means would make
    * the gate a fixture comparison, not an algorithm check). Swapping in
    * trained centroids is a drop-in (`centroids` is just a DataFrame).
    *
    * Scale shape: centroids are broadcast twice (assignment + probe — both
    * map-side, no shuffle of the corpus); the candidate stage shuffles on
    * the cell id only, so the corpus streams once and the per-cell
    * fan-in is |cell|·nprobe, not |corpus|. Recall < 1 by construction
    * (a true neighbor can live in an unprobed cell) — raise `nprobe` to
    * trade cost for recall.
    */
  def ivfAnnTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, centroidMod: Int,
                 nprobe: Int): DataFrame = {
    val cent = ivfCentroids(corpus, idCol, vecCol, centroidMod)
    ivfProbeTopK(ivfAssignCells(corpus, idCol, vecCol, cent),
      queries, idCol, vecCol, cent, k, nprobe)
  }

  /** The deterministic coarse-quantizer centroid frame (`_cid`, `_cvec`,
    * `_cnrm`) — factored out so the STREAMING index maintainer
    * ([[graft.streaming.StreamAnnIndex]]) can freeze it once and ship it
    * to every micro-batch, the "trained quantizer deployed to ingest"
    * production shape. */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   centroidMod: Int): DataFrame =
    Centroid.of(corpus.filter(col(idCol) % centroidMod === 0), idCol, vecCol)

  /** Nearest-centroid rank of the scored side `s` of `df` against a FIXED
    * centroid frame: shared by assignment (rank 1) and probing (rank ≤
    * nprobe). Deterministic ties: rounded cosine desc, cid asc. */
  private def cellRank(df: DataFrame, s: Side, cent: DataFrame) = {
    val w = Window.partitionBy(col(s.id))
      .orderBy(round(col("_ccos"), 6).desc, col(Centroid.id).asc)
    df.crossJoin(broadcast(cent))
      .withColumn("_ccos", cosine(s, Centroid))
      .withColumn("_crk", row_number().over(w))
  }

  /** Nearest-cell assignment of a vector frame: (`neighbor_id`, `_cv`,
    * `_cn`, `_cell`). Per-vector independent given the fixed centroids —
    * assigning a corpus in one pass or micro-batch by micro-batch yields
    * the identical cells, the invariant the streaming index rests on. */
  def ivfAssignCells(corpus: DataFrame, idCol: String, vecCol: String,
                     cent: DataFrame): DataFrame =
    cellRank(Corpus.of(corpus, idCol, vecCol), Corpus, cent)
      .filter(col("_crk") === 1)
      .select(col(Corpus.id), col(Corpus.vec), col(Corpus.nrm),
        col(Centroid.id).as("_cell"))

  /** Probe + exact re-rank over an assigned-cells frame (however it was
    * built — one batch pass or an accrued streaming index). */
  def ivfProbeTopK(cells: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, cent: DataFrame, k: Int,
                   nprobe: Int): DataFrame =
    ivfScoreTopK(cells,
      ivfProbes(queries, idCol, vecCol, cent, nprobe), k)

  /** The probe frame — each query paired with its `nprobe` nearest cells
    * (`query_id`, `_qv`, `_qn`, `_cell`). Factored out so a caller can
    * read the BOUNDED probed-cell set off it and prune the index scan
    * before scoring ([[graft.streaming.StreamAnnIndex]]). */
  def ivfProbes(queries: DataFrame, idCol: String, vecCol: String,
                cent: DataFrame, nprobe: Int): DataFrame =
    cellRank(Query.of(queries, idCol, vecCol), Query, cent)
      .filter(col("_crk") <= nprobe)
      .select(col(Query.id), col(Query.vec), col(Query.nrm),
        col(Centroid.id).as("_cell"))

  /** Exact scoring + top-k of a probe frame against assigned cells. */
  def ivfScoreTopK(cells: DataFrame, probes: DataFrame, k: Int): DataFrame =
    neighborTopK(
      scoreCandidates(cells.join(broadcast(probes), Seq("_cell"))), k)

  /** Product quantization (the IVF-PQ compression stage) with ADC scoring
    * over the full corpus. Vectors are split into `m` subspaces of
    * `dim/m` dims; each subvector is encoded as its nearest codeword
    * (L2², deterministic ties) from a `ksub`-entry per-subspace codebook
    * (subvectors of the first `ksub` corpus vectors — deterministic init;
    * codebook REFINEMENT is k-means' job, see `x_kmeans_embed`). A query
    * then scores any candidate from an m·ksub lookup table of
    * query·codeword dots — the candidate's floats are never touched,
    * which is the point: at 100 TB the corpus lives as m byte-codes per
    * vector (32× smaller than float32), and scoring is m table lookups.
    * LUT entries are integer micro-units so the cross-subspace sum is
    * exact (no float-order nondeterminism); at scale the ADC scan runs
    * per IVF cell ([[ivfAnnTopK]]) instead of the whole corpus.
    */
  def pqAnnTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, m: Int, ksub: Int, dim: Int,
                shortlist: Int): DataFrame = {
    val sub = dim / m
    require(sub * m == dim, s"dim $dim must split evenly into $m subspaces")
    // L2-normalize before encoding: on unit vectors the ADC dot IS the
    // cosine, so PQ ranking targets the same metric as brute force
    // (unnormalized ADC ranks by raw dot and norm variance buries recall)
    def toD(c: Column) = {
      val n = sqrt(dotHof(c, c))
      transform(c, v => v.cast("double") / n)
    }
    val cb = corpus.filter(col(idCol) < ksub)
      .select(col(idCol).cast("int").as("_j"), toD(col(vecCol)).as("_ev"))
      .select(col("_j"), explode(array((0 until m).map(mi =>
        struct(lit(mi).as("_m"),
          slice(col("_ev"), mi * sub + 1, sub).as("_cv"))): _*)).as("_s"))
      .select(col("_s._m").as("_m"), col("_j"), col("_s._cv").as("_cv"))
    def subvec(v: Column) =
      slice(v, col("_m") * lit(sub) + lit(1), lit(sub))
    val enc = corpus
      .select(col(idCol).as("neighbor_id"), toD(col(vecCol)).as("_ev"))
      .crossJoin(broadcast(cb))
      .withColumn("_d2", aggregate(
        zip_with(subvec(col("_ev")), col("_cv"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, t) => acc + t))
    val wEnc = Window.partitionBy(col("neighbor_id"), col("_m"))
      .orderBy(round(col("_d2"), 6).asc, col("_j").asc)
    val codes = enc.withColumn("_rn", row_number().over(wEnc))
      .filter(col("_rn") === 1)
      .select(col("neighbor_id"), col("_m"), col("_j"))
    val lut = queries
      .select(col(idCol).as("query_id"), toD(col(vecCol)).as("_qv"))
      .crossJoin(broadcast(cb))
      .select(col("query_id"), col("_m"), col("_j"),
        round(aggregate(
          zip_with(subvec(col("_qv")), col("_cv"), (x, y) => x * y),
          lit(0.0), (acc, t) => acc + t) * 1000000d, 0)
          .cast("bigint").as("_lutq"))
    val scored = codes.join(broadcast(lut), Seq("_m", "_j"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("_lutq")).cast("long").as("adc_micro"))
    // ADC shortlist → exact re-rank on the stored floats (the production
    // IVF-PQ read path: codes select candidates cheaply, the float
    // vectors of the shortlist alone are fetched for exact scoring).
    // Quantization error then costs recall only when a true neighbor
    // misses the whole shortlist, not when ADC misorders the top-k.
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_micro").desc, col("neighbor_id").asc)
    val short = scored.withColumn("_srk", row_number().over(wAdc))
      .filter(col("_srk") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val cs = Side(Corpus.id, "_cv0", "_cn0")
    val qs = Side(Query.id, "_qv0", "_qn0")
    neighborTopK(short.join(cs.of(corpus, idCol, vecCol), Seq(Corpus.id))
      .join(broadcast(qs.of(queries, idCol, vecCol)), Seq(Query.id))
      .withColumn("_cos", cosine(qs, cs)), k)
  }

  /** DuckDB oracle for [[pqAnnTopK]] — replays codebook, encode, LUT, and
    * ADC with the same arithmetic (left-to-right term sums, round-6
    * argmin ties by codeword id, integer micro-unit LUT). */
  def pqAnnTopKDuck(k: Int, m: Int, ksub: Int, dim: Int,
                    queryIds: Int, shortlist: Int): String = {
    val sub = dim / m
    def d2 = (1 to sub)
      .map(i => s"(CAST(e.embedding[cb.m*$sub+$i] AS DOUBLE) / e.nrm - cb.cv[$i]) * " +
        s"(CAST(e.embedding[cb.m*$sub+$i] AS DOUBLE) / e.nrm - cb.cv[$i])")
      .mkString("(", " + ", ")")
    def dotq = (1 to sub)
      .map(i => s"CAST(q.embedding[cb.m*$sub+$i] AS DOUBLE) / q.nrm * cb.cv[$i]")
      .mkString("(", " + ", ")")
    val nrm = s"sqrt(${dotDuck("embedding", "embedding", dim)})"
    s"""WITH en AS (
       |  SELECT vec_id, embedding, $nrm AS nrm FROM embeddings
       |), cb AS (
       |  SELECT CAST(ms.m AS INT) AS m, CAST(vec_id AS INT) AS j,
       |    list_transform(embedding[ms.m*$sub+1 : ms.m*$sub+$sub],
       |                   v -> CAST(v AS DOUBLE) / nrm) AS cv
       |  FROM en CROSS JOIN (SELECT unnest(range(0, $m)) AS m) ms
       |  WHERE vec_id < $ksub
       |), enc AS (
       |  SELECT e.vec_id AS neighbor_id, cb.m, cb.j,
       |    row_number() OVER (PARTITION BY e.vec_id, cb.m
       |      ORDER BY round($d2, 6) ASC, cb.j ASC) AS rn
       |  FROM en e CROSS JOIN cb
       |), codes AS (SELECT neighbor_id, m, j FROM enc WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, cb.m, cb.j,
       |    CAST(round($dotq * 1000000, 0) AS BIGINT) AS lutq
       |  FROM en q CROSS JOIN cb WHERE q.vec_id < $queryIds
       |), sc AS (
       |  SELECT l.query_id, c.neighbor_id,
       |    CAST(sum(l.lutq) AS BIGINT) AS adc_micro
       |  FROM codes c JOIN lut l ON c.m = l.m AND c.j = l.j
       |  WHERE l.query_id <> c.neighbor_id
       |  GROUP BY 1, 2
       |), sl AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_micro DESC, neighbor_id ASC) AS srk
       |    FROM sc) WHERE srk <= $shortlist
       |)
       |SELECT query_id, rk, neighbor_id, cos_sim FROM (
       |  SELECT s.query_id, s.neighbor_id,
       |    CAST(CAST(round(${cosineDuck("q.embedding", "c.embedding", dim)}, 6)
       |         AS DECIMAL(10,6)) AS DOUBLE) AS cos_sim,
       |    row_number() OVER (PARTITION BY s.query_id
       |      ORDER BY round(${cosineDuck("q.embedding", "c.embedding", dim)}, 6) DESC,
       |               s.neighbor_id ASC) AS rk
       |  FROM sl s
       |  JOIN embeddings q ON q.vec_id = s.query_id
       |  JOIN embeddings c ON c.vec_id = s.neighbor_id
       |) WHERE rk <= $k""".stripMargin
  }

  /** XOR masks for multi-probe up to `maxHamming` flipped sign bits:
    * identity, all 1-bit flips, and (for maxHamming ≥ 2) all 2-bit flips.
    * Shared by the Spark expression and the oracle generator so both
    * engines probe the identical key set. Masks are pairwise distinct, so
    * a candidate pair at Hamming distance d ≤ maxHamming matches through
    * EXACTLY one probe key (the mask = XOR of the two keys) — no
    * duplicate candidates by construction. */
  def probeMasks(planes: Int, maxHamming: Int): Seq[Long] = {
    require(maxHamming >= 0 && maxHamming <= 2,
      s"multi-probe supports Hamming 0..2, got $maxHamming")
    val one =
      if (maxHamming >= 1) (0 until planes).map(p => 1L << p) else Seq.empty
    val two =
      if (maxHamming >= 2)
        for { p <- 0 until planes; q <- p + 1 until planes }
          yield (1L << p) | (1L << q)
      else Seq.empty
    0L +: (one ++ two)
  }

  /** Multi-probe key set for a hyperplane bucket: the bucket itself plus
    * every key within `maxHamming` flipped sign bits ([[probeMasks]]).
    * Probing these lifts recall — a near-neighbor pair disagrees on few
    * sign bits, so allowing one or two flipped bits catches the pairs
    * single-probe loses — while keeping the candidate stage an equi-join:
    * the PROBE side explodes ×(1 + planes + C(planes,2) for Hamming-2),
    * the corpus side keeps its exact key and never widens. Hamming-2 is
    * the right default for the query side of an ANN lookup (queries are
    * the small side, so the explosion is cheap and recall is the scarce
    * resource); drop to 1 when the probe side is itself corpus-sized. */
  def hyperplaneProbeKeys(bkt: Column, planes: Int,
                          maxHamming: Int = 1): Column =
    array(probeMasks(planes, maxHamming).map {
      case 0L => bkt
      case m  => bkt.bitwiseXOR(lit(m))
    }: _*)

  /** DuckDB list literal matching [[hyperplaneProbeKeys]]. */
  def hyperplaneProbeKeysDuck(bkt: String, planes: Int,
                              maxHamming: Int = 1): String =
    probeMasks(planes, maxHamming).map {
      case 0L => bkt
      case m  => s"xor($bkt, $m)"
    }.mkString("[", ", ", "]")

  /** The ±1 hyperplane weight for (plane, dim) — plan-time constant shared
    * by the Spark expression and the generated oracle SQL. */
  def hyperplaneWeight(p: Int, d: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane|$p|$d".getBytes("UTF-8"))
    if ((h(0) & 1) == 1) 1.0 else -1.0
  }

  /** DuckDB SQL computing the same bucket key as [[hyperplaneKey]]
    * (identical weights, identical left-to-right summation → identical
    * sign bits). */
  def hyperplaneKeyDuck(vec: String, planes: Int, dim: Int): String = {
    val bits = (0 until planes).map { p =>
      val proj = (0 until dim).map(d =>
        s"${hyperplaneWeight(p, d)} * CAST($vec[${d + 1}] AS DOUBLE)")
        .mkString("(", " + ", ")")
      s"(CASE WHEN $proj > 0 THEN ${1L << p} ELSE 0 END)"
    }
    s"CAST(${bits.mkString(" + ")} AS BIGINT)"
  }

  /** DuckDB SQL for the same dot product as an explicit term sum
    * (left-to-right, matching `aggregate`'s fold order). 1-based lists. */
  def dotDuck(a: String, b: String, dim: Int): String =
    (1 to dim).map(i =>
      s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
      .mkString("(", " + ", ")")

  def cosineDuck(a: String, b: String, dim: Int): String =
    s"(${dotDuck(a, b, dim)} / (sqrt(${dotDuck(a, a, dim)}) * sqrt(${dotDuck(b, b, dim)})))"
}
