package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Query-level checks for the TF-IDF and embedding-centroid operators
  * (their cross-engine exactness is pinned by the DuckDB oracle gate;
  * these specs pin the semantics against straight-line JVM references). */
class TrainingQueriesSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("x_chunk_overlap: scan-only plan; windows tile every token with stride overlap") {
    val df = TrainingData.queries("x_chunk_overlap")(spark, TestSpark.Sf0001)
    // scan-only claim: the generator rides the scan, no Exchange — the
    // property that lets per-chunk stages chain shuffle-free downstream
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking plan shuffles:\n$plan")
    val rows = df.as[(Long, Int, Int, String)].collect()
    val nTok = Tables.read(spark, TestSpark.Sf0001, "documents")
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(
          graft.functions.Text.normalize(
            org.apache.spark.sql.functions.col("text")), " ")).as("n"),
        org.apache.spark.sql.functions.col("doc_id"))
      .as[(Int, Long)].collect().map(_.swap).toMap
    val W = TrainingData.ChunkW
    val S = TrainingData.ChunkStride
    rows.groupBy(_._1).foreach { case (doc, cs) =>
      val n = nTok(doc)
      val sorted = cs.sortBy(_._2)
      // chunk indices are dense from 0; offsets tile the doc: last chunk
      // starts ≤ n-1, so with stride < W every token lands in ≥1 chunk
      assert(sorted.map(_._2).toSeq == sorted.indices.toSeq)
      assert(sorted.length == (math.max(n - 1, 0) / S) + 1)
      // every chunk except possibly the last is exactly W tokens or the
      // doc is shorter than W
      sorted.init.foreach(c => assert(c._3 == math.min(W, n - c._2 * S)))
      val last = sorted.last
      assert(last._3 == math.min(W, n - last._2 * S))
      // total tokens covered counting overlap = Σ chunk sizes
      assert(sorted.map(_._3.toLong).sum >=  n)
    }
  }

  test("x_tfidf_topk: per-doc top-3, scores non-increasing, ubiquitous tokens score 0") {
    val rows = TrainingData.queries("x_tfidf_topk")(spark, TestSpark.Sf0001)
      .as[(Long, Int, String, java.math.BigDecimal)].collect()
    val byDoc = rows.groupBy(_._1)
    val nDocs = Tables.read(spark, TestSpark.Sf0001, "documents").count()
    assert(byDoc.size == nDocs) // every document gets ranked terms
    byDoc.values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length))
      assert(sorted.length <= 3)
      // scores non-increasing in rank
      val scores = sorted.map(_._4.doubleValue).toSeq
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(scores.forall(_ >= 0.0)) // ln(N/df) >= 0 since df <= N
    }
    // a token present in EVERY document has idf = ln(1) = 0: verify via a
    // fabricated corpus where "common" is everywhere and "rare" once
    val tiny = Seq((0L, "common rare"), (1L, "common x"), (2L, "common y"))
      .toDF("doc_id", "text")
    tiny.createOrReplaceTempView("_tfidf_tiny")
    val toks = tiny.select($"doc_id",
      org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          graft.functions.Text.normalize($"text"), " ")).as("token"))
    val tf = toks.groupBy("doc_id", "token").count()
    val df0 = tf.groupBy("token").count().as[(String, Long)].collect().toMap
    assert(df0("common") == 3 && df0("rare") == 1)
  }

  test("x_embed_cosine_dup_lsh: subset of brute force, identical scores, no nested-loop join") {
    val brute = TrainingData.queries("x_embed_cosine_dup")(spark, TestSpark.Sf0001)
      .as[(Long, Long, java.math.BigDecimal)].collect()
      .map(r => (r._1, r._2) -> r._3.doubleValue).toMap
    val lshDf = TrainingData.queries("x_embed_cosine_dup_lsh")(spark, TestSpark.Sf0001)
    // candidates come from an equi-join on the bucket key — the plan must
    // not contain the brute-force path's BroadcastNestedLoopJoin
    val plan = lshDf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), plan)
    val lsh = lshDf.as[(Long, Long, java.math.BigDecimal)].collect()
      .map(r => (r._1, r._2) -> r._3.doubleValue).toMap
    assert(lsh.nonEmpty) // multi-probe finds pairs on sf0.001
    // every LSH pair is a brute-force pair with the same score (LSH prunes
    // candidates; it never invents or rescores a pair)
    lsh.foreach { case (k, cos) =>
      assert(brute.contains(k), s"pair $k not in brute force")
      assert(brute(k) == cos, s"score mismatch at $k")
    }
  }

  test("dedup-apply gates carry no forced broadcast of an unbounded frame") {
    // The connected-components frame (and every dup-drop-set derived from
    // pair stages) is O(corpus) under heavy duplication, so the join
    // strategy must be AQE's runtime choice, never a forced hint — a
    // forced broadcast of an O(corpus) frame is a driver OOM at 100 TB.
    // Pin: the analyzed plans of the CC-consumer gates and the embed
    // dedup applies contain no broadcast hint at all…
    Seq("x_dedup_cluster_apply", "x_leakage_safe_split",
        "x_embed_dedup_apply").foreach { q =>
      val df = TrainingData.queries(q)(spark, TestSpark.Sf0001)
      val analyzed = df.queryExecution.analyzed.toString
      assert(!analyzed.contains("ResolvedHint"),
        s"$q plan carries a forced join hint:\n$analyzed")
    }
    // …and the LSH apply's only hint is embedLshPairs' skew guard: a
    // single-column bucket-key frame bounded at 2^LshPlanes rows.
    val lsh = TrainingData.queries("x_embed_dedup_lsh_apply")(spark, TestSpark.Sf0001)
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val hints = lsh.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    hints.foreach { h =>
      assert(h.child.output.map(_.name) == Seq("_bkt"),
        s"hint over a non-skew-guard frame:\n$h")
    }
  }

  test("x_embed_dedup_lsh_apply: survivors = corpus minus LSH drop-set") {
    val pairs = TrainingData.queries("x_embed_cosine_dup_lsh")(spark, TestSpark.Sf0001)
      .as[(Long, Long, java.math.BigDecimal)].collect()
    val dropped = pairs.map(_._2).toSet
    val corpus = Tables.read(spark, TestSpark.Sf0001, "embeddings")
      .select("vec_id", "label").as[(Long, Int)].collect()
    val expected = corpus.filterNot(r => dropped(r._1))
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val got = TrainingData.queries("x_embed_dedup_lsh_apply")(spark, TestSpark.Sf0001)
      .as[(Int, Long)].collect().toMap
    assert(got == expected)
  }

  test("x_embed_centroids ≡ JVM reference on sf0.001 (exact integer sums)") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val vecs = Tables.read(spark, TestSpark.Sf0001, "embeddings")
      .select("label", "embedding").as[(Int, Array[Float])].collect()
    // same quantization as the query: round(v·10⁶) half-up on the double
    def quant(v: Float): Long =
      JBD.valueOf(v.toDouble * 1000000d).setScale(0, RoundingMode.HALF_UP).longValue
    val expected = vecs.flatMap { case (label, emb) =>
      emb.zipWithIndex.map { case (v, i) => ((label, i + 1), quant(v)) }
    }.groupBy(_._1).map { case (k, vs) => k -> ((vs.length.toLong, vs.map(_._2).sum)) }
    val got = TrainingData.queries("x_embed_centroids")(spark, TestSpark.Sf0001)
      .as[(Int, Int, Long, Long, Double)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4, r._5))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, (n, sum, cen)) =>
      assert((n, sum) == expected(k), s"at $k")
      assert(cen == sum.toDouble / n)
    }
  }

  test("x_rrf_fusion ≡ full JVM reference (arms, fusion arithmetic, tie order)") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def round6(x: Double): Double =
      new JBD(x).setScale(6, RoundingMode.HALF_UP).doubleValue
    val Q = TrainingData.AnnQueryIds
    val K = TrainingData.FuseArmK
    def normalize(t: String): String =
      t.toLowerCase.replaceAll("[ \\t\\n\\r\\f\\x0B]+", " ").trim
    val docRows = Tables.read(spark, TestSpark.Sf0001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val bgs = docRows.map { case (id, t) =>
      val tk = normalize(t).split(" ", -1).filter(_.nonEmpty)
      id -> (if (tk.length < 2) Set.empty[String]
             else tk.sliding(2).map(_.mkString(" ")).toSet)
    }.toMap
    val embs = Tables.read(spark, TestSpark.Sf0001, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val ids = docRows.map(_._1).sorted
    val expected = ids.filter(_ < Q).flatMap { q =>
      val lex = ids.filter(_ != q)
        .map(d => (d, (bgs(q) & bgs(d)).size)).filter(_._2 > 0)
        .sortBy { case (d, s) => (-s, d) }.take(K)
        .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
      val vec = ids.filter(_ != q)
        .map(d => (d, round6(cos(embs(q), embs(d)))))
        .sortBy { case (d, s) => (-s, d) }.take(K)
        .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
      (lex.keySet ++ vec.keySet).toSeq
        .map { d =>
          val rl = lex.getOrElse(d, 0); val rv = vec.getOrElse(d, 0)
          val s = (if (rl > 0) 1.0 / (TrainingData.RrfConst + rl) else 0.0) +
            (if (rv > 0) 1.0 / (TrainingData.RrfConst + rv) else 0.0)
          (d, rl, rv, round6(s))
        }
        .sortBy { case (d, _, _, s) => (-s, d) }.take(TrainingData.FuseTopK)
        .zipWithIndex
        .map { case ((d, rl, rv, s), i) => (q, i + 1, d, rl, rv, s) }
    }.toSet
    val got = TrainingData.queries("x_rrf_fusion")(spark, TestSpark.Sf0001)
      .as[(Long, Int, Long, Int, Int, java.math.BigDecimal)].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5, r._6.doubleValue)).toSet
    assert(got == expected)
  }

  test("x_hard_negatives: cross-label only; ≡ label-filtered re-rank of the unfiltered LSH candidates") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.read(spark, TestSpark.Sf0001, "embeddings")
    val labels = emb.select("vec_id", "label")
      .as[(Long, Int)].collect().toMap
    val got = TrainingData.queries("x_hard_negatives")(spark, TestSpark.Sf0001)
      .as[(Long, Int, Long, Int, Int, java.math.BigDecimal)].collect()
    assert(got.nonEmpty)
    got.foreach { case (q, _, n, ql, nl, _) =>
      assert(ql == labels(q) && nl == labels(n) && ql != nl,
        s"positive leaked into the negatives: $q -> $n")
    }
    // reference: the UNFILTERED candidate stage at unbounded k, label
    // pairs removed, re-ranked in plain Scala — the mining gate must be
    // exactly that (the filter changes membership, never scores or order)
    val all = graft.functions.SimilarityOps.lshAnnTopK(emb,
        emb.filter(col("vec_id") < TrainingData.AnnQueryIds),
        "vec_id", "embedding", Int.MaxValue, TrainingData.AnnBands,
        TrainingData.AnnBandBits, TrainingData.EmbeddingDim)
      .as[(Long, Int, Long, java.math.BigDecimal)].collect()
    val expected = all
      .filter { case (q, _, n, _) => labels(q) != labels(n) }
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.map { case (_, _, n, c) => (n, c.doubleValue) }
          .sortBy { case (n, c) => (-c, n) }.take(TrainingData.AnnK)
          .zipWithIndex
          .map { case ((n, c), i) =>
            (q, i + 1, n, labels(q), labels(n), c) }
      }.toSet
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5, r._6.doubleValue))
      .toSet == expected)
  }

  test("x_substring_dedup ≡ straight-line keep-first span marking") {
    def normalize(t: String): String =
      t.toLowerCase.replaceAll("[ \\t\\n\\r\\f\\x0B]+", " ").trim
    val k = TrainingData.SubdupK
    val docRows = Tables.read(spark, TestSpark.Sf0001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val toks = docRows.map { case (id, t) =>
      id -> normalize(t).split(" ", -1).filter(_.nonEmpty) }.toMap
    // every k-gram occurrence, globally keyed by its text
    val occs = toks.toSeq.flatMap { case (id, tk) =>
      (0 to tk.length - k).map(i => (tk.slice(i, i + k).mkString(" "), id, i))
    }
    // keep-first: min (doc_id, pos); every other occurrence covers its span
    val firsts = occs.groupBy(_._1).view
      .mapValues(_.map(o => (o._2, o._3)).min).toMap
    val covered = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.Set[Int]]
    occs.foreach { case (gram, id, i) =>
      if (firsts(gram) != ((id, i)))
        covered.getOrElseUpdate(id,
          scala.collection.mutable.Set.empty) ++= (i until i + k)
    }
    val expected = toks.map { case (id, tk) =>
      val nd = covered.get(id).map(_.size.toLong).getOrElse(0L)
      id -> ((tk.length.toLong, nd,
        if (tk.isEmpty) 0.0 else nd.toDouble / tk.length))
    }
    val got = TrainingData.queries("x_substring_dedup")(
        spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expected)
    // the corpus genuinely exercises the operator: some doc has duplicated
    // spans, and no doc is 100% duplicate of a FIRST occurrence of itself
    assert(got.values.exists(_._2 > 0), "no duplicate spans — degenerate")
    // covered positions never exceed the doc's token count
    got.values.foreach { case (n, nd, r) =>
      assert(nd <= n && r >= 0.0 && r <= 1.0)
    }
  }

  test("x_setsim_join_exact: prefix-filtered join equals brute-force all-pairs; prefix actually prunes") {
    val dir = TestSpark.Sf0001
    val gate = TrainingData.queries("x_setsim_join_exact")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    // straight-line reference: shingle sets in plain Scala, all pairs
    val docs = Tables.read(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    def shingles(t: String): Set[String] = {
      val tk = t.toLowerCase.replaceAll("[ \\t\\n\\r\\f\\x0B]+", " ")
        .trim.split(" ", -1).filter(_.nonEmpty)
      if (tk.length < 3) Set.empty
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    val ss = docs.map { case (id, t) => id -> shingles(t) }.toMap
    val expected = (for {
      a <- ss.keys; b <- ss.keys if a < b
      i = (ss(a) intersect ss(b)).size
      if i * 8 >= (ss(a).size + ss(b).size) * 3
    } yield (a, b, i.toLong, (ss(a).size + ss(b).size - i).toLong)).toSet
    assert(gate == expected)
    assert(gate.nonEmpty) // the corpus really contains qualifying pairs
    // the prefix index is a strict subset of the full posting list —
    // pruning is real, not vacuous
    val nSh = docs.map { case (_, t) => shingles(t).size.toLong }.sum
    val nPrefix = docs.map { case (_, t) =>
      val n = shingles(t).size; (n - (3 * n + 4) / 5 + 1).max(0).toLong
    }.sum
    assert(nPrefix * 2 < nSh, s"prefix $nPrefix vs full $nSh")
  }

  test("x_langid_confusion: matrix mass equals corpus; per-class recall sums to 1") {
    val rows = OracleSafe.canon(
      TrainingData.queries("x_langid_confusion")(spark, TestSpark.Sf0001))
      .as[(String, String, Long, Double)].collect()
    val nDocs = Tables.read(spark, TestSpark.Sf0001, "documents").count()
    assert(rows.map(_._3).sum == nDocs)
    rows.groupBy(_._1).foreach { case (actual, cells) =>
      val total = cells.map(_._3).sum
      cells.foreach { case (_, _, n, recall) =>
        assert(math.abs(recall - n.toDouble / total) < 1e-6, s"$actual recall")
      }
      assert(math.abs(cells.map(_._4).sum - 1.0) < 1e-4)
    }
    // the classifier is non-degenerate: it gets most English docs right
    val en = rows.filter(r => r._1 == "en" && r._2 == "en")
    assert(en.nonEmpty && en.head._4 > 0.5)
  }

  test("x_retrieval_eval: metrics match a straight-line recomputation from the gated ranking") {
    val dir = TestSpark.Sf0001
    val ranked = TrainingData.queries("x_ann_brute_topk")(spark, dir)
      .selectExpr("CAST(query_id AS LONG)", "CAST(rk AS INT)",
        "CAST(neighbor_id AS LONG)")
      .as[(Long, Int, Long)].collect()
    val labels = Tables.read(spark, dir, "embeddings")
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    val nByLabel = labels.values.groupBy(identity).view.mapValues(_.size).toMap
    val rows = TrainingData.queries("x_retrieval_eval")(spark, dir)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(rows.length == ranked.map(_._1).distinct.length)
    rows.foreach { case (q, nRel, p, r, mrr) =>
      val ql = labels(q)
      val hits = ranked.filter(_._1 == q).sortBy(_._2)
        .map(t => labels(t._3) == ql)
      assert(nRel == hits.count(identity).toLong)
      assert(p == nRel.toDouble / TrainingData.AnnK)
      assert(r == nRel.toDouble / (nByLabel(ql) - 1))
      val first = hits.indexWhere(identity)
      assert(mrr == (if (first < 0) 0.0 else 1.0 / (first + 1)))
    }
  }

  test("x_exact_stratified: exactly min(50, n) per stratum; the chosen " +
      "set is the hash-order prefix") {
    import org.apache.spark.sql.functions._
    import graft.functions.PortableHash
    val sf = TestSpark.Sf0001
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), col("doc_id"),
        PortableHash.hash32(col("doc_id").cast("string"), "xs|").as("h"))
      .as[(String, Long, Long)].collect()
    val want = d.groupBy(_._1).map { case (lang, rows) =>
      val chosen = rows.sortBy(r => (r._3, r._2)).take(50)
      lang -> ((chosen.length.toLong, chosen.map(_._2).sum))
    }
    val got = TrainingData.queries("x_exact_stratified")(spark, sf)
      .select(col("lang"), col("n_taken"), col("id_sum"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == want)
    // the budget binds: every stratum takes min(50, n) exactly
    val counts = d.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    got.foreach { case (lang, (n, _)) =>
      assert(n == math.min(50L, counts(lang)))
    }
  }

  test("x_entity_sample: entity-atomic holdout — dependents follow their " +
      "customer exactly") {
    import org.apache.spark.sql.functions._
    import graft.functions.PortableHash
    val sf = TestSpark.Sf0001
    def keep(c: org.apache.spark.sql.Column) =
      PortableHash.hash32(c.cast("string"), "ent|") % 10 === 0
    val keptCust = spark.read.parquet(s"$sf/customer.parquet")
      .filter(keep(col("c_custkey"))).select(col("c_custkey"))
      .as[Long].collect().toSet
    val totalCust = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(keptCust.nonEmpty && keptCust.size < totalCust)
    // independently recompute: orders of kept customers, their lineitems
    val ords = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
      .as[(Long, Long)].collect()
    val keptOrders = ords.filter(o => keptCust.contains(o._2)).map(_._1).toSet
    val nLi = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey")).as[Long].collect()
      .count(keptOrders.contains)
    val row = TrainingData.queries("x_entity_sample")(spark, sf).head()
    assert(row.getAs[Long]("n_customers") == keptCust.size.toLong)
    assert(row.getAs[Long]("n_orders") == keptOrders.size.toLong)
    assert(row.getAs[Long]("n_lineitems") == nLi.toLong)
    assert(row.getAs[Boolean]("entity_atomic"))
  }

  test("temperatureSample: passes keep near-independent subsets at the " +
      "same per-language rates; gate is pass 1") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.Sf0001
    val d = Tables.read(spark, sf, "documents")
    val counts = d.groupBy(col("lang")).count()
      .as[(String, Long)].collect().toMap
    val mn = counts.values.min
    // the rate table depends only on counts, never the salt
    val thr = counts.map { case (l, n) =>
      l -> math.round(math.sqrt(mn.toDouble / n) * 1000000)
    }
    def members(pass: Int): Map[String, Set[Long]] = d
      .select(col("doc_id"), col("lang"),
        (graft.functions.PortableHash.hash32(col("doc_id").cast("string"),
          s"tmp$pass|") % 1000000).as("hm"))
      .as[(Long, String, Long)].collect()
      .filter { case (_, l, hm) => hm < thr(l) }
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val m1 = members(1)
    val m2 = members(2)
    // the gate is exactly the pass-1 membership, aggregated
    val gate = TrainingData.queries("x_temperature_sample")(spark, sf)
      .select("lang", "n_sampled").as[(String, Long)].collect().toMap
    assert(gate == counts.keySet.map(l =>
      l -> m1.getOrElse(l, Set.empty[Long]).size.toLong).toMap)
    // salted independence: a rate-capped (r=1.0) language keeps everything
    // in BOTH passes — full overlap there is CORRECT — so the
    // independence pin applies to the sub-rate languages: each pass keeps
    // a different subset, and the overlap tracks nl·r² (the independent-
    // draw expectation), not nl·r (the identical-draw signature)
    val subRate = counts.keys.filter(l => thr(l) < 1000000L).toSeq
    assert(subRate.nonEmpty, "every language rate-capped — spec is vacuous")
    val ids1 = subRate.flatMap(l => m1.getOrElse(l, Set.empty)).toSet
    val ids2 = subRate.flatMap(l => m2.getOrElse(l, Set.empty)).toSet
    assert(ids1 != ids2, "pass 2 kept the identical subset — salt inert")
    val expected = subRate.map { l =>
      val r = thr(l).toDouble / 1000000.0; counts(l) * r * r
    }.sum
    val observed = ids1.intersect(ids2).size.toDouble
    assert(observed <= expected * 1.5 + 10,
      f"overlap $observed%.0f ≫ independent expectation $expected%.1f")
  }

  test("x_line_dedup_apply ≡ straight-line keep-first segment dedup; tiling and conservation laws") {
    def normalize(t: String): String =
      t.toLowerCase.replaceAll("[ \\t\\n\\r\\f\\x0B]+", " ").trim
    val w = TrainingData.LineSegWords
    val docRows = Tables.read(spark, TestSpark.Sf0001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val toks = docRows.map { case (id, t) =>
      id -> normalize(t).split(" ", -1).filter(_.nonEmpty) }.toMap
    // tile each doc into non-overlapping w-word segments (last may be short)
    val segs = toks.toSeq.flatMap { case (id, tk) =>
      tk.grouped(w).zipWithIndex.map { case (g, i) =>
        (g.mkString(" "), id, i.toLong) }
    }
    // keep-first globally: min (doc_id, seg_idx) per segment TEXT
    val firsts = segs.groupBy(_._1).view
      .mapValues(_.map(o => (o._2, o._3)).min).toMap
    val keptRef = segs.filter { case (t, id, i) => firsts(t) == ((id, i)) }
    val expected = toks.map { case (id, tk) =>
      val mine = keptRef.filter(_._2 == id).sortBy(_._3)
      id -> ((math.ceil(tk.length / w.toDouble).toLong,
        mine.size.toLong, mine.map(_._1).mkString(" ")))
    }
    val got = TrainingData.queries("x_line_dedup_apply")(
        spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expected)
    // the corpus genuinely exercises the operator: some segment was
    // dropped somewhere, and at least one doc survives fully intact
    assert(got.values.exists(v => v._2 < v._1), "no segment dropped — degenerate")
    assert(got.values.exists(v => v._2 == v._1 && v._1 > 0))
    // conservation: kept ≤ total; kept word count = clean_text word count
    got.values.foreach { case (ns, nk, ct) =>
      assert(nk <= ns)
      val ctw = ct.split(" ", -1).filter(_.nonEmpty).length
      assert(nk > 0 || ctw == 0)
    }
    // global law: every distinct segment text survives exactly once, so
    // Σ kept = |distinct segment texts|
    assert(got.values.map(_._2).sum == segs.map(_._1).distinct.size.toLong)
  }

  test("x_phrase_search ≡ straight-line positional search; phrase ⊆ conjunctive; adjacency is real") {
    def normalize(t: String): String =
      t.toLowerCase.replaceAll("[ \\t\\n\\r\\f\\x0B]+", " ").trim
    val (ta, tb) = (TrainingData.PhraseTermA, TrainingData.PhraseTermB)
    val docRows = Tables.read(spark, TestSpark.Sf0001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val expected = docRows.flatMap { case (id, t) =>
      val tk = normalize(t).split(" ", -1).filter(_.nonEmpty)
      val na = tk.count(_ == ta).toLong
      val nb = tk.count(_ == tb).toLong
      val np = tk.sliding(2).count(p =>
        p.length == 2 && p(0) == ta && p(1) == tb).toLong
      if (na > 0 && nb > 0) Some(id -> ((na, nb, np))) else None
    }.toMap
    val got = TrainingData.queries("x_phrase_search")(
        spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expected)
    // the corpus exercises both sides of the positional check: some
    // conjunctive match has the exact phrase, some has none (terms
    // present but never adjacent) — so adjacency genuinely filters
    assert(got.values.exists(_._3 > 0), "no phrase hit — degenerate")
    assert(got.values.exists(_._3 == 0),
      "every conjunctive match is a phrase match — adjacency is vacuous")
    // phrase occurrences are bounded by min(term counts)
    got.values.foreach { case (na, nb, np) =>
      assert(np <= math.min(na, nb))
    }
  }

  test("x_redact_apply: word boundaries exact, multiple hits per doc, " +
      "substrings untouched; ≡ straight-line scrub on real data") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("redact").toString
    Seq(
      (1L, "en", "customer paid supplier twice customer"), // three hits
      (2L, "en", "customers keep their suffix"), // substring — no \b hit
      (3L, "de", "supplier"), // whole text is one entity
      (4L, "fr", "clean text")
    ).toDF("doc_id", "lang", "text")
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TrainingData.queries("x_redact_apply")(spark, tmp)
      .as[(Long, String, Long, String)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) == ((3L, m("<ENT> paid <ENT> twice <ENT>"))))
    assert(got(2L) == ((0L, m("customers keep their suffix"))))
    assert(got(3L) == ((1L, m("<ENT>"))))
    assert(got(4L) == ((0L, m("clean text"))))
    // on the real corpus: the scrub must fire somewhere, and the md5
    // must equal a straight-line JVM replaceAll of the same text
    val docs = Tables.read(spark, graft.TestSpark.Sf0001, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val real = TrainingData.queries("x_redact_apply")(spark,
        graft.TestSpark.Sf0001)
      .as[(Long, String, Long, String)].collect()
    assert(real.exists(_._3 > 0), "no redaction fired at sf0.001")
    real.foreach { case (id, _, _, md) =>
      assert(md == m(docs(id).replaceAll(
        TrainingData.RedactPattern, "<ENT>")), s"doc $id")
    }
  }

  test("x_dedup_keep_best: same cluster structure as the min-id rule, " +
      "one rep per cluster, and the longest member genuinely wins") {
    import spark.implicits._
    val dir = graft.TestSpark.Sf0001
    val best = TrainingData.queries("x_dedup_keep_best")(spark, dir)
      .as[(String, Long, Long, Long)].collect()
    val minid = TrainingData.queries("x_dedup_cluster_apply")(spark, dir)
      .as[(String, Long)].collect().toMap
    // identical clusters, one survivor each ⇒ identical survivor COUNTS
    // per language may shift, but the total is invariant
    assert(best.map(_._2).sum == minid.values.sum,
      "keep rules must drop the same number of docs")
    assert(best.map(_._4).sum > 0, "quality rule never differed — vacuous")
    assert(best.forall(r => r._4 <= r._3), "differs ⊆ reps")
    // straight-line law: per cluster, the kept member's length is the max
    val cc = graft.functions.DedupOps.connectedComponents(
      TrainingData.minhashPairs(TrainingData.minhashSig(spark, dir)))
    val lens = Tables.read(spark, dir, "documents")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    val clusters = cc.select($"id", $"label").as[(Long, Long)].collect()
      .groupBy(_._2).values.map(_.map(_._1))
    val gainOverMin = clusters.map { ids =>
      val bestLen = ids.map(lens).max
      val minIdLen = lens(ids.min)
      assert(bestLen >= minIdLen)
      bestLen - minIdLen
    }.sum
    assert(gainOverMin > 0,
      "keep-best must preserve strictly more chars than keep-min-id here")
    // rep count = number of clusters
    assert(best.map(_._3).sum == clusters.size)
    graft.GateCache.releaseAll()
  }

  test("x_mmr_rerank ≡ straight-line greedy MMR; diversity penalty " +
      "genuinely changes the ranking") {
    import spark.implicits._
    val dir = graft.TestSpark.Sf0001
    val vecs = Tables.read(spark, dir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.map(i => x(i).toDouble * y(i).toDouble).sum
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    def q6(x: Double): Long = math.round(x * 1000000d)
    val queries = vecs.keys.filter(_ < TrainingData.AnnQueryIds).toSeq.sorted
    val want = queries.flatMap { qid =>
      val pool = vecs.keys.filter(_ != qid).toSeq
        .map(c => (c, q6(cos(vecs(qid), vecs(c)))))
        .sortBy { case (c, s) => (-s, c) }.take(TrainingData.MmrPool)
      val selected = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      (1 to TrainingData.MmrK).foreach { pos =>
        val cand = pool.filterNot(p => selected.exists(_._1 == p._1))
          .map { case (c, s) =>
            val pen = if (selected.isEmpty) 0L
              else selected.map(sl => q6(cos(vecs(c), vecs(sl._1)))).max
            (c, s * TrainingData.MmrLambda10 -
              pen * (10 - TrainingData.MmrLambda10))
          }
        val (c, sc) = cand.minBy { case (c, sc) => (-sc, c) }
        selected += ((c, sc))
      }
      selected.zipWithIndex.map { case ((c, sc), i) =>
        (qid, i + 1, c, sc) }
    }.toSet
    val got = TrainingData.queries("x_mmr_rerank")(spark, dir)
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(got == want)
    // λ<1 must matter: some query's MMR picks differ from its pure
    // relevance top-3 (otherwise the penalty is dead code on this data)
    val relTop3 = queries.map { qid =>
      qid -> vecs.keys.filter(_ != qid).toSeq
        .map(c => (c, q6(cos(vecs(qid), vecs(c)))))
        .sortBy { case (c, s) => (-s, c) }.take(3).map(_._1).toSet
    }.toMap
    val mmrSel = got.groupBy(_._1).map { case (q, rs) =>
      q -> rs.map(_._3) }
    assert(queries.exists(q => mmrSel(q) != relTop3(q)),
      "MMR ≡ relevance top-3 everywhere — diversity penalty vacuous")
    graft.GateCache.releaseAll()
  }

  test("foldUserFeatures: one-pass over sorted rows — singletons, ties, " +
      "multi-group; agrees with the buffered formulation") {
    // (uid, ts, event_id) pre-sorted by (uid, ts, event_id)
    val rows = Seq(
      (1L, 10L, 1L), (1L, 10L, 2L), (1L, 25L, 3L), (1L, 100L, 4L),
      (2L, 7L, 5L),
      (3L, 0L, 6L), (3L, 1L, 7L))
    val got = TrainingData.foldUserFeatures(rows.iterator).toSeq
    assert(got == Seq(
      (1L, 4L, 90L, 75L), // gaps 0,15,75; span 100-10
      (2L, 1L, 0L, 0L),
      (3L, 2L, 1L, 1L)))
    // agreement with the buffered per-group math on the same input
    val buffered = rows.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (uid, rs) =>
        val ts = rs.map(r => (r._2, r._3)).sorted
        val span = ts.last._1 - ts.head._1
        val maxGap = if (ts.length == 1) 0L
          else ts.sliding(2).map(p => p(1)._1 - p(0)._1).max
        (uid, ts.length.toLong, span, maxGap)
    }
    assert(got == buffered)
  }

  test("property: foldUserFeatures ≡ buffered per-group math on random " +
      "sorted inputs (no driver Spark needed — pure iterator fold)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genRows: Gen[List[(Long, Long, Long)]] = for {
      n <- Gen.choose(0, 60)
      rows <- Gen.listOfN(n, for {
        uid <- Gen.choose(1L, 5L) // few keys → multi-row groups
        ts <- Gen.choose(0L, 50L) // small domain → timestamp ties
      } yield (uid, ts))
    } yield rows.zipWithIndex
      .map { case ((u, t), i) => (u, t, i.toLong) }
      .sortBy(r => (r._1, r._2, r._3)) // the gate's secondary sort
    val prop = Prop.forAll(genRows) { rows =>
      val got = TrainingData.foldUserFeatures(rows.iterator).toList
      val want = rows.groupBy(_._1).toList.sortBy(_._1).map {
        case (uid, rs) =>
          val ts = rs.map(r => (r._2, r._3)).sorted
          val maxGap = if (ts.length == 1) 0L
            else ts.sliding(2).map(p => p(1)._1 - p(0)._1).max
          (uid, ts.length.toLong, ts.last._1 - ts.head._1, maxGap)
      }
      got == want
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(r.passed, r.status.toString)
  }

  test("foldUserFeatures streams: the first group's row is emitted " +
      "before the input advances past it (O(1) state, no group buffer)") {
    var consumed = 0
    val src = Iterator.tabulate(1000) { i =>
      consumed += 1
      val uid = if (i < 10) 1L else 2L // group 1 = first 10 rows
      (uid, i.toLong, i.toLong)
    }
    val out = TrainingData.foldUserFeatures(src)
    val first = out.next()
    assert(first == ((1L, 10L, 9L, 1L)))
    // a buffered implementation (toArray per partition/group-key map)
    // would have drained all 1000 rows before emitting anything
    assert(consumed <= 11, s"fold buffered $consumed rows to emit group 1")
  }
}
