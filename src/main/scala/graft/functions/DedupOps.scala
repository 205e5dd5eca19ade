package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (extension surface;
  * SURVEY.md §7.2 step 7). All built from codegen'd built-ins + shuffles on
  * compact keys — each strategy's scale behavior is noted on the method.
  *
  * Portability: hashes are MD5-derived ([[PortableHash]]) so the DuckDB
  * oracle reproduces signatures bit-for-bit.
  */
object DedupOps {

  // ---------------------------------------------------------------- exact

  /** Exact dedup on a fingerprint: keep the lowest-id row per identical
    * normalized text. One shuffle on a 32-char key; partial aggregation
    * makes this linear-scalable (the classic hash-groupBy dedup). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("_fp", Text.fingerprint(col(textCol)))
      .groupBy(col("_fp").as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // -------------------------------------------------------------- minhash

  /** Modulus for the universal-hash family: 2^61−1 (Mersenne prime).
    * Base hash < 2^32 and multipliers < 2^30 keep every product < 2^62 —
    * no signed-64 overflow in either engine. */
  val HashModulus: Long = (1L << 61) - 1

  /** Deterministic (a_i, b_i) multiplier/offset pairs for hash function i —
    * derived from MD5 so both the Spark plan and the generated DuckDB
    * oracle embed identical constants. */
  def hashParams(i: Int): (Long, Long) = {
    def bytesToLong(bs: Array[Byte]): Long =
      bs.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
    val d = java.security.MessageDigest.getInstance("MD5")
    val a = (bytesToLong(d.digest(s"mh_a|$i".getBytes("UTF-8"))) & ((1L << 30) - 1)) | 1L
    val b = bytesToLong(d.digest(s"mh_b|$i".getBytes("UTF-8"))) & ((1L << 30) - 1)
    (a, b)
  }

  /** MinHash signature columns `mh_0 … mh_{k-1}`: k independent permutations
    * via a 2-universal hash family over ONE MD5-derived base hash per
    * shingle (h_i = (a_i·h + b_i) mod 2^61−1), computed per document by the
    * native [[MinHashKernel]] in a single scan pass — no shingle explode,
    * no shuffle, no k-way aggregate. MinHashSpec pins it bit-identical to
    * [[minhashSignatureComposed]]; the generated DuckDB oracle re-derives
    * the same values from the composed definition. */
  def minhashSignature(docs: DataFrame, idCol: String, textCol: String,
                       shingleWidth: Int, k: Int): DataFrame = {
    val sig = docs.select(col(idCol),
      MinHashExprs.minhashSigNative(col(textCol), shingleWidth, k).as("_mh"))
      .filter(size(col("_mh")) > 0)
    sig.select(col(idCol) +:
      (0 until k).map(i => col("_mh").getItem(i).as(s"mh_$i")): _*)
  }

  /** The composed (built-ins only) signature pipeline the kernel replaces:
    * explode distinct shingles → one base hash each → k min() aggregates.
    * Kept as the executable spec of the kernel's semantics — the
    * arithmetic the DuckDB oracle mirrors — and pinned ≡ kernel by
    * MinHashSpec. (History: k salted MD5s per shingle → this 2-universal
    * family was ~6× faster; the kernel removes the explode+shuffle too.) */
  def minhashSignatureComposed(docs: DataFrame, idCol: String, textCol: String,
                               shingleWidth: Int, k: Int): DataFrame = {
    val sh = docs.select(col(idCol),
      explode(array_distinct(ShingleExprs.wordShinglesNative(col(textCol), shingleWidth)))
        .as("_sh"))
      .withColumn("_h", PortableHash.hash32(col("_sh"), "mh|"))
    val mins = (0 until k).map { i =>
      val (a, b) = hashParams(i)
      min((col("_h") * a + b) % HashModulus).as(s"mh_$i")
    }
    sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** LSH band keys: group the k minhashes into `bands` bands of `rowsPerBand`
    * and hash each band; docs sharing any band key are near-dup candidates.
    * Output: (id, band, band_key) — the join/groupBy key is a short string,
    * so candidate generation is a cheap shuffle even at 100 TB. */
  def lshBands(sig: DataFrame, idCol: String,
               bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"),
        md5(concat_ws("|", parts: _*)).as("band_key"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("_b"))
      .select(col(idCol), col("_b.band").as("band"),
        col("_b.band_key").as("band_key"))
  }

  /** Near-duplicate candidate pairs from LSH buckets (id1 < id2, distinct
    * across bands). Single pass: group ids per (band, band_key) bucket and
    * expand in-bucket pairs with array expressions — no self-join, so the
    * signature pipeline upstream is computed once, and the worst case is
    * quadratic only inside a bucket. `maxBucket` guards skew at scale:
    * over-full buckets (degenerate near-identical floods) are dropped, the
    * standard LSH cap. */
  def lshCandidatePairs(bandsDf: DataFrame, idCol: String,
                        maxBucket: Int = 1000): DataFrame = {
    val buckets = bandsDf
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
      .filter(size(col("_ids")) > 1 && size(col("_ids")) <= maxBucket)
    // all i<j pairs within the sorted bucket array
    val pairs = flatten(transform(
      sequence(lit(0), size(col("_ids")) - 2),
      i => transform(
        sequence(i + 1, size(col("_ids")) - 1),
        j => struct(element_at(col("_ids"), i + 1).as("id1"),
                    element_at(col("_ids"), j + 1).as("id2")))))
    buckets.select(explode(pairs).as("_p"))
      .select(col("_p.id1").as("id1"), col("_p.id2").as("id2"))
      .distinct()
  }

  /** Estimated Jaccard from signatures: fraction of agreeing minhashes. */
  def minhashJaccard(sig: DataFrame, pairs: DataFrame, idCol: String,
                     k: Int): DataFrame = {
    val s1 = sig.toDF(sig.columns.toIndexedSeq.map(c => if (c == idCol) "id1" else s"a_$c"): _*)
    val s2 = sig.toDF(sig.columns.toIndexedSeq.map(c => if (c == idCol) "id2" else s"b_$c"): _*)
    val agree = (0 until k).map(i =>
      when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(s1, "id1").join(s2, "id2")
      .select(col("id1"), col("id2"),
        (agree.cast("double") / k).cast("decimal(10,6)").as("est_jaccard"))
  }

  // -------------------------------------------------------------- simhash

  /** `bits`-bit SimHash over the token set: for each bit, sign of the sum
    * of ±1 votes from each distinct token's hash bit. One explode + one
    * groupBy; the signature is an integer → exact-match bucketing gives
    * near-dup clusters.
    *
    * Base hash: bit `b` reads bit `b mod 32` of MD5 window `b / 32`
    * ([[PortableHash.hash32w]]) — one digest per token serves up to 128
    * base bits, so the 100 TB-scale wide signature (e.g. 56-bit, the
    * width that keeps pigeonhole bands selective on a trillion-doc
    * corpus) costs the same single MD5 as the narrow one. bits ≤ 62 keeps
    * the packed signature inside a signed long in both engines. For
    * bits ≤ 30 the generated expressions are exactly the historical
    * single-window form — narrow-signature gates are bit-stable. */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int): DataFrame = {
    require(bits <= 62, "signature must pack into a signed 64-bit integer")
    val nWin = (bits + 31) / 32
    val toks0 = docs.select(col(idCol),
      explode(array_distinct(split(Text.normalize(col(textCol)), " ")))
        .as("_tok"))
    val toks = (0 until nWin).foldLeft(toks0)((df, w) =>
      df.withColumn(s"_h$w", PortableHash.hash32w(col("_tok"), "sh|", w)))
    val votes = (0 until bits).map { b =>
      // vote_b = sum over tokens of (bit_{b mod 32}(h_{b/32}) ? 1 : -1)
      sum(when(shiftright(col(s"_h${b / 32}"), b % 32) % 2 === 1, 1)
        .otherwise(-1)).as(s"v_$b")
    }
    val agg = toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val sig = (0 until bits).map(b =>
      when(col(s"v_$b") > 0, 1L << b).otherwise(0L))
      .reduce(_ + _)
    agg.select(col(idCol), sig.cast("long").as("simhash"))
  }

  /** SimHash near-dup pair stage via pigeonhole banding: split the
    * `bits`-bit signature into `bands` equal sub-keys; any pair at Hamming
    * distance ≤ `maxHamming` < `bands` differs in at most `maxHamming`
    * bands, so it agrees EXACTLY on at least one band — banding has
    * guaranteed (not probabilistic) recall for hd ≤ bands−1. Candidates =
    * same-(band, key) pairs, one equi-join shuffle; the exact Hamming
    * distance then filters (popcount of XOR — codegen'd `bit_count`).
    * Duplicate cross-band matches collapse via distinct.
    *
    * Scale note: discrimination is 2^(bits/bands) buckets per band — at
    * 100 TB use a wider signature (64-bit hash base) so bands stay
    * selective; the harness's 28-bit/4-band shape is the same plan. */
  def simhashPairs(sig: DataFrame, idCol: String, simCol: String,
                   bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    require(bits % bands == 0, "bits must split evenly into bands")
    require(maxHamming < bands, "pigeonhole recall needs maxHamming < bands")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val bandKeys = array((0 until bands).map(b =>
      shiftright(col(simCol), b * bandBits).bitwiseAND(lit(mask))): _*)
    // cached: BOTH self-join sides derive from this frame — without it
    // Catalyst plans two full signature pipelines (explode + `bits`
    // conditional-sum aggregates each; no subplan sharing across
    // references), which doubled the gate's cost at sf0.1
    val banded = graft.GateCache.cache(
      sig.select(col(idCol), col(simCol),
        posexplode(bandKeys).as(Seq("_band", "_bkey"))))
    val a = banded.select(col("_band"), col("_bkey"),
      col(idCol).as("id1"), col(simCol).as("_s1"))
    val b = banded.select(col("_band"), col("_bkey"),
      col(idCol).as("id2"), col(simCol).as("_s2"))
    a.join(b, Seq("_band", "_bkey"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("_s1").bitwiseXOR(col("_s2"))).cast("int").as("hamming"))
      // filter BEFORE distinct: most in-bucket candidates are far pairs,
      // so the popcount cut shrinks the distinct's shuffle from the full
      // candidate volume to just the near-dups
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over a near-dup pair graph (id1 < id2 edges):
    * every node gets the MINIMUM id reachable from it — the canonical
    * cluster representative, so "keep one per cluster" is `label == id`.
    *
    * Large-star/small-star alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — NOT plain min-label
    * propagation. Plain propagation needs rounds ∝ component DIAMETER
    * (a chain-shaped dup cluster of depth d costs d joins); the star
    * operations contract trees aggressively and converge in O(log² n)
    * rounds regardless of diameter — the MapReduce-native CC algorithm:
    *
    *   large-star(u): every strictly-larger neighbor of u re-attaches to
    *     min(Γ(u) ∪ {u});
    *   small-star(u): every smaller-or-equal neighbor (and u itself)
    *     re-attaches to min(Γ≤(u) ∪ {u}).
    *
    * Both preserve connectivity exactly; the fixpoint is a star forest
    * whose roots are the component minima (edges only ever re-point to
    * smaller ids), so labels fall out as each node's star root. Each
    * round is two partition-by-node window mins + distincts over a
    * SHRINKING edge set — all distributed; the driver only compares edge
    * counts. Every [[Bsp.CheckpointEvery]]-th round, the last included, is
    * a [[Bsp.Cut]]; the rounds in between are persisted.
    * Convergence (set equality round-over-round) is asserted within
    * `maxIter`, and the round count is logged to stderr so bench runs can
    * adjudicate convergence behavior. Deterministic: the fixpoint is
    * unique. Returns (id, label) for every node with ≥1 edge. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter)._1

  /** Star-round counts of every [[connectedComponents]] run since the last
    * drain — harness mains drain this per query so convergence behavior
    * lands in the committed bench record (adjudicable from artifacts, not
    * just stderr). */
  private val ccRoundLog =
    new java.util.concurrent.ConcurrentLinkedQueue[Integer]()

  /** Drain and return the CC round counts logged since the last drain. */
  def drainCcRounds(): Seq[Int] = {
    val b = Seq.newBuilder[Int]
    var r = ccRoundLog.poll()
    while (r != null) { b += r.intValue(); r = ccRoundLog.poll() }
    b.result()
  }

  /** [[connectedComponents]] plus the number of star rounds it took —
    * exposed so specs can pin log-bounded (not diameter-bound)
    * convergence.
    *
    * The input is never deduplicated up front (a full exchange that is a
    * no-op on the LSH candidate stage, which ends in a distinct with
    * id1 < id2): a multiset is still correct. Large-star's window min
    * ignores duplicates, round 1's small-star ends in a distinct, and the
    * convergence check cannot pass on a multiset — equal counts plus
    * next ⊆ cur would need |set(cur)| ≥ |cur|. A duplicated input costs
    * at most one extra round, and only when it is already a fixpoint. */
  def connectedComponentsWithRounds(pairs: DataFrame,
                                    maxIter: Int = 25): (DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window
    val MD = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    // canonical edge form throughout: u > v (both star ops re-point nodes
    // to strictly smaller ids, so canonical form is closed under them)
    def largeStar(e: DataFrame): DataFrame = {
      // neighborhoods need both directions; m = min(Γ(u) ∪ {u}) via a
      // whole-partition window min (one shuffle on u)
      val nbr = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = least(min(col("v")).over(Window.partitionBy(col("u"))), col("u"))
      nbr.withColumn("_m", m)
        .filter(col("v") > col("u")) // strictly larger neighbors re-attach
        .select(col("v").as("u"), col("_m").as("v")) // v > u ≥ m ⇒ canonical
        .filter(col("u") =!= col("v"))
      // NO distinct here (optimization r15): small-star's window min is
      // duplicate-insensitive and its own output ends in a distinct, so
      // the dedup was purely an edge-count reducer — one full exchange +
      // aggregation per round (a quarter of the round's shuffles) for at
      // most |E| rows either way (each canonical edge contributes exactly
      // one v>u row; only same-(v, m) collisions collapse).
    }
    def smallStar(e: DataFrame): DataFrame = {
      // canonical edges already list exactly the smaller neighbors per u
      val t = e.withColumn("_m",
        least(min(col("v")).over(Window.partitionBy(col("u"))), col("u")))
      t.select(col("v").as("u"), col("_m").as("v"))
        .unionByName(t.select(col("u"), col("_m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    val canon = pairs
      .select(greatest(col("id1"), col("id2")).as("u"),
        least(col("id1"), col("id2")).as("v"))
      .filter(col("u") =!= col("v"))
    var cur = canon.persist(MD)
    var curCnt = cur.count()
    val cut = new Bsp.Cut
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      iter += 1
      val nextRaw = smallStar(largeStar(cur))
      val next =
        if (iter % Bsp.CheckpointEvery == 0) cut(nextRaw)
        else nextRaw.persist(MD)
      val nextCnt = next.count()
      // set equality: |next| == |cur| and next \ cur = ∅ ⇒ fixpoint.
      // Count first — unequal counts settle it without the anti-join
      // action (most shrinking rounds), the join only runs on candidate
      // fixpoints.
      converged = nextCnt == curCnt &&
        next.join(cur, Seq("u", "v"), "left_anti").count() == 0
      cur.unpersist()
      cur = next
      curCnt = nextCnt
    }
    require(converged, s"connectedComponents did not converge in $maxIter")
    // stderr, not stdout: Bench's driver contract is one JSON line on stdout
    System.err.println(
      s"[graft] connectedComponents: converged in $iter star rounds " +
        s"($curCnt star edges)")
    ccRoundLog.add(iter)
    // the final edge frame (persisted or cut) backs the returned plan —
    // its storage is released by the harness AFTER the caller's action,
    // via the GateCache pairing
    val fin = cur
    graft.GateCache.onRelease { () => fin.unpersist(); () }
    cut.release()
    // fixpoint = star forest rooted at component minima: non-roots appear
    // as u (pointing at their root), roots appear as v (labeling selves)
    val labels = cur.select(col("u").as("id"), col("v").as("label"))
      .unionByName(cur.select(col("v").as("id"), col("v").as("label")))
      .groupBy(col("id")).agg(min(col("label")).as("label"))
    (labels, iter)
  }

  // -------------------------------------------- n-gram Jaccard (exact)

  /** Exact n-gram Jaccard for candidate pairs: |A∩B| via a join of distinct
    * shingles, |A∪B| = |A|+|B|−|A∩B|. Only candidate pairs (from LSH) are
    * scored — the all-pairs blowup never materializes. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, idCol: String,
                   textCol: String, shingleWidth: Int): DataFrame = {
    // The candidate frame feeds two joins but is deliberately NOT cached:
    // the expensive upstream (signature pipeline) is already persisted by
    // the caller, so recomputing banding+pair-expansion from it is two
    // cheap shuffles on compact keys — measured (r6 adjudication,
    // BASELINE.md) at 0.67 s vs 1.05 s with the pair frame cached and
    // 1.04 s caching the banded frame: the cache's eager materialization
    // barrier costs more than the recompute it saves wherever the pair
    // list is skinny.
    val p = pairs
    // referenced three times below (both join sides + sizes): persist so
    // the explode+normalize pipeline runs once
    val sh = graft.GateCache.cache(
      docs.select(col(idCol).as("_id"),
        explode(array_distinct(ShingleExprs.wordShinglesNative(col(textCol), shingleWidth)))
          .as("_sh")))
    val sizes = sh.groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    val sh1 = sh.select(col("_id").as("id1"), col("_sh"))
    val sh2 = sh.select(col("_id").as("id2"), col("_sh"))
    val intersectCount = p.join(sh1, "id1").join(sh2, Seq("id2", "_sh"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("_inter"))
    p
      .join(intersectCount, Seq("id1", "id2"), "left")
      .na.fill(0, Seq("_inter"))
      .join(sizes.select(col("_id").as("id1"), col("_n").as("_n1")), "id1")
      .join(sizes.select(col("_id").as("id2"), col("_n").as("_n2")), "id2")
      .select(col("id1"), col("id2"),
        (col("_inter").cast("double") /
          (col("_n1") + col("_n2") - col("_inter")).cast("double"))
          .cast("decimal(10,6)").as("jaccard"))
  }
}
