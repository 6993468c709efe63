package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot / cosine on known vectors") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val Array(dot, cos) = df.select(
      Similarity.dot($"a", $"b"),
      Similarity.cosine($"a", $"b")
    ).collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    assert(dot == 32.0)
    assert(math.abs(cos - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12)
  }

  test("brute-force top-k ranks by cosine against the sf0.001 embeddings") {
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
    val out = Similarity.bruteForceTopK(
      emb.filter($"vec_id" =!= 0), "vec_id", "embedding",
      emb.filter($"vec_id" === 0), "embedding", k = 5
    ).collect()
    assert(out.length == 5)
    val sims = out.map(_.getDouble(1))
    assert(sims.sameElements(sims.sorted.reverse), "descending order")
  }

  test("lsh candidate pairs find a planted near-duplicate") {
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.001f
    val far = Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("vec_id", "embedding")
    val pairs = Similarity.lshCandidatePairs(df, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 2L)), s"planted pair missed: $pairs")
    assert(pairs((1L, 2L)) > 0.999)
  }

  test("lshTopK returns the planted duplicate first with high recall vs brute force") {
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
    val q = emb.filter($"vec_id" === 0)
    val ann = Similarity.lshTopK(emb.filter($"vec_id" =!= 0), "vec_id", "embedding",
      q, "embedding", k = 10).collect().map(_.getLong(0)).toSet
    val exact = Similarity.bruteForceTopK(emb.filter($"vec_id" =!= 0), "vec_id", "embedding",
      q, "embedding", k = 10).collect().map(_.getLong(0)).toSet
    // random synthetic vectors are near-orthogonal: ANN recall on them is
    // inherently loose; assert the mechanism (non-empty, subset of corpus)
    assert(ann.nonEmpty)
    assert(ann.subsetOf(emb.select("vec_id").as[Long].collect().toSet))
    assert(exact.size == 10)
  }

  // ── quantitative recall gates (round-3 verdict #6): a future change to
  //    planes/tables/nprobe that quietly destroys recall must FAIL here,
  //    not just keep returning 10 plausible rows. Clustered corpus with
  //    planted structure (deterministic seed) so true neighbors are
  //    unambiguous — random near-orthogonal vectors can't gate recall. ──

  /** 20 clusters × 10 jittered members, dim 64: within a cluster cosine
    * ≈ 0.999, across clusters ≈ 0. id = cluster*10 + member. */
  private def clusteredCorpus = {
    val rnd = new scala.util.Random(13)
    val rows = for (c <- 0 until 20; centre = Array.fill(64)(rnd.nextGaussian());
                    m <- 0 until 10)
      yield ((c * 10 + m).toLong,
        centre.map(v => (v + 0.03 * rnd.nextGaussian()).toFloat))
    rows.toDF("vec_id", "embedding")
  }

  private def recall(approx: Set[Long], exact: Set[Long]): Double =
    (approx & exact).size.toDouble / exact.size

  test("lshTopK recall >= 0.8 vs brute force on the clustered corpus") {
    val corpus = clusteredCorpus
    val q = corpus.filter($"vec_id" === 0L)
    val rest = corpus.filter($"vec_id" =!= 0L)
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding",
      q, "embedding", k = 9).collect().map(_.getLong(0)).toSet
    assert(exact == (1L to 9L).toSet, s"brute force must find cluster 0: $exact")
    val ann = Similarity.lshTopK(rest, "vec_id", "embedding",
      q, "embedding", k = 9).collect().map(_.getLong(0)).toSet
    val r = recall(ann, exact)
    info(f"lshTopK recall = $r%.2f")
    assert(r >= 0.8, s"lshTopK recall degraded to $r (ann=$ann)")
  }

  test("lshCandidatePairs recall >= 0.8 on planted within-cluster pairs") {
    val corpus = clusteredCorpus
    // ground truth: all 20*45 within-cluster pairs have cosine >= 0.99
    val truePairs = (for (c <- 0 until 20; a <- 0 until 10; b <- a + 1 until 10)
      yield ((c * 10 + a).toLong, (c * 10 + b).toLong)).toSet
    val found = Dedup.embeddingNearDup(corpus, "vec_id", "embedding", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r = (found & truePairs).size.toDouble / truePairs.size
    info(f"embedding near-dup pair recall = $r%.2f over ${truePairs.size} pairs")
    assert(r >= 0.8, s"pair recall degraded to $r")
    // and no cross-cluster false positives above the threshold
    assert((found -- truePairs).isEmpty, s"false pairs: ${found -- truePairs}")
  }

  test("planesFor sizes hyperplanes with log2(n) and keeps recall at the sized count") {
    // finding 17: fixed planes -> quadratic noise; the sizing rule keeps
    // E[random collisions] linear and must NOT cost recall on real clusters
    assert(Similarity.planesFor(1000) == 16)     // floor
    assert(Similarity.planesFor(100000) == 21)
    assert(Similarity.planesFor(100000000) == 31)
    assert(Similarity.planesFor(0) == 16)
    val corpus = clusteredCorpus
    val sized = Similarity.planesFor(200) // 12 -> floor 16, the tested default
    val found = Similarity.lshCandidatePairs(corpus, "vec_id", "embedding",
        planesPerTable = sized)
      .filter($"cosine" >= 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truePairs = (for (c <- 0 until 20; a <- 0 until 10; b <- a + 1 until 10)
      yield ((c * 10 + a).toLong, (c * 10 + b).toLong)).toSet
    val r = (found & truePairs).size.toDouble / truePairs.size
    assert(r >= 0.8, s"recall at sized plane count degraded to $r")
  }

  test("lshCandidatePairsSized keeps recall with table compensation at the sized plane count") {
    // the registered query path (c14_ann_lsh_pairs, c13_embedding_neardup
    // default) now sizes planes from the corpus; the +1-table-per-+2-planes
    // compensation must hold the recall gate on the planted clusters
    val corpus = clusteredCorpus
    val truePairs = (for (c <- 0 until 20; a <- 0 until 10; b <- a + 1 until 10)
      yield ((c * 10 + a).toLong, (c * 10 + b).toLong)).toSet
    val found = Similarity.lshCandidatePairsSized(corpus, "vec_id", "embedding")
      .filter($"cosine" >= 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r = (found & truePairs).size.toDouble / truePairs.size
    info(f"sized pair recall = $r%.2f")
    assert(r >= 0.8, s"sized-path recall degraded to $r")
    assert((found -- truePairs).isEmpty, s"false pairs: ${found -- truePairs}")
  }

  /** [[clusteredCorpus]] at 15× the jitter: within-cluster cosine ≈ 0.83
    * (moderate neighbors — real search targets), across clusters ≈ 0. The
    * 0.03-jitter corpus collides under ANY sizing and MASKED the round-6
    * probe-recall collapse (c14_ann_topk: 0 rows on real embeddings);
    * this one fails the pair-rule sizing and passes the occupancy rule. */
  private def moderateCorpus = {
    val rnd = new scala.util.Random(13)
    val rows = for (c <- 0 until 20; centre = Array.fill(64)(rnd.nextGaussian());
                    m <- 0 until 10)
      yield ((c * 10 + m).toLong,
        centre.map(v => (v + 0.45 * rnd.nextGaussian()).toFloat))
    rows.toDF("vec_id", "embedding")
  }

  test("probePlanesFor sizes by bucket occupancy, not the pair rule") {
    // planes = ceil(log2(n/64)), floor 4: the scanned set stays
    // ~tables·64 per query at any n — a bounded candidate set, never a
    // corpus fraction, and never the pair rule's recall-killing log2(n)+4
    assert(Similarity.probePlanesFor(500) == 4)       // floor
    assert(Similarity.probePlanesFor(2000) == 5)
    assert(Similarity.probePlanesFor(1000000) == 14)
    assert(Similarity.probePlanesFor(0) == 4)
    assert(Similarity.probePlanesFor(500) < Similarity.planesFor(500),
      "probe sizing must undercut pair sizing — the round-6 defect was using the latter")
  }

  test("lshTopKSized: recall >= 0.8 and exactly k rows on MODERATE-cosine neighbors") {
    // the regression gate for round-6 wrong #1: near-identical clusters
    // can't catch probe-recall collapse, moderate ones can
    val corpus = moderateCorpus
    val q = corpus.filter($"vec_id" === 0L)
    val rest = corpus.filter($"vec_id" =!= 0L)
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding",
      q, "embedding", k = 9).collect().map(_.getLong(0)).toSet
    assert(exact == (1L to 9L).toSet, s"brute force must find cluster 0: $exact")
    val approx = Similarity.lshTopKSized(rest, "vec_id", "embedding",
      q, "embedding", k = 9).collect().map(_.getLong(0))
    assert(approx.length == 9, s"ANN search returned short: ${approx.length} of 9")
    val r = recall(approx.toSet, exact)
    info(f"sized probe recall (moderate cosine) = $r%.2f")
    assert(r >= 0.8, s"sized probe recall degraded to $r")
  }

  test("the occupancy sizing itself holds probe recall without the fallback") {
    // pin the RULE, not just the end-to-end guarantee: the brute-force
    // fallback would mask a sizing regression whenever the broken probe
    // returns < k rows, so exercise lshTopK at exactly the sized params
    val corpus = moderateCorpus
    val q = corpus.filter($"vec_id" === 0L)
    val rest = corpus.filter($"vec_id" =!= 0L)
    val planes = Similarity.probePlanesFor(199)
    val tables = 8 + math.max(0, planes - 4)
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding",
      q, "embedding", k = 9).collect().map(_.getLong(0)).toSet
    val ann = Similarity.lshTopK(rest, "vec_id", "embedding",
      q, "embedding", k = 9, tables, planes).collect().map(_.getLong(0)).toSet
    val r = recall(ann, exact)
    info(f"raw probe recall at sized params = $r%.2f")
    assert(r >= 0.8, s"occupancy-sized probe recall degraded to $r")
  }

  test("lshTopKSized returns full k on the real embeddings table (driver regression)") {
    // the exact round-6 failure: sf0.001 embeddings are moderate-cosine
    // real data; the registered c14_ann_topk shape must yield k rows
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
    val out = Similarity.lshTopKSized(emb.filter($"vec_id" =!= 0), "vec_id", "embedding",
      emb.filter($"vec_id" === 0), "embedding", k = 10).collect()
    assert(out.length == 10, s"c14_ann_topk shape returned ${out.length} of 10 rows")
  }

  test("batched exact top-k equals per-query brute force and plans WindowGroupLimit") {
    // the batched search shape: one corpus pass for a probe batch; the
    // per-query rank <= k must run as partial group limits before the
    // rank exchange (WindowGroupLimit), never a full sort of n·|q| rows
    val corpus = moderateCorpus
    val qids = Seq(0L, 10L, 20L)
    val queries = corpus.filter($"vec_id".isin(qids: _*))
    val rest = corpus.filter(!$"vec_id".isin(qids: _*))
    val batch = Similarity.bruteForceTopKBatch(rest, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
    for (qid <- qids) {
      val single = Similarity.bruteForceTopK(rest, "vec_id", "embedding",
        corpus.filter($"vec_id" === qid), "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = batch.filter($"query_id" === qid).orderBy($"rnk")
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(b == single, s"query $qid diverged from single-query brute force: $b vs $single")
    }
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-query top-k must plan WindowGroupLimit:\n$plan")
  }

  test("batched LSH probe answers every query with k rows and recall >= 0.8") {
    // the batched c14_ann_topk_batch path: one index pass serves all
    // queries; per-query fallback keeps each answer full-length
    val corpus = moderateCorpus
    val qids = Seq(0L, 50L, 110L) // members of clusters 0, 5, 11
    val queries = corpus.filter($"vec_id".isin(qids: _*))
    val rest = corpus.filter(!$"vec_id".isin(qids: _*))
    val batch = Similarity.lshTopKBatchSized(rest, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 9).collect()
    val byQ = batch.groupBy(_.getLong(0))
    assert(byQ.keySet == qids.toSet, s"missing queries: ${qids.toSet -- byQ.keySet}")
    qids.foreach { qid =>
      val got = byQ(qid).map(_.getLong(1)).toSet
      assert(got.size == 9, s"query $qid returned ${got.size} of 9 rows")
      val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding",
        corpus.filter($"vec_id" === qid), "embedding", k = 9)
        .collect().map(_.getLong(0)).toSet
      val r = recall(got, exact)
      info(f"batched probe recall for query $qid = $r%.2f")
      assert(r >= 0.8, s"query $qid recall degraded to $r")
    }
  }

  test("batched LSH probe falls back per query when the probe comes back short") {
    // force the deficient branch: near-orthogonal random vectors rarely
    // share buckets, and k = |corpus| means NO probe can be healthy
    // without finding literally everything — each query must still get a
    // full-length exact answer (the never-empty guarantee, per query)
    val rnd = new scala.util.Random(31)
    val corpus = (0 until 12).map(i =>
      (100L + i, Array.fill(64)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = (0 until 3).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val out = Similarity.lshTopKBatchSized(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 12).collect()
    val byQ = out.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    assert(byQ.keySet == Set(0L, 1L, 2L), s"queries answered: ${byQ.keySet}")
    val all = (100L until 112L).toSet
    byQ.foreach { case (q, ids) =>
      assert(ids == all, s"query $q missing ${all -- ids} despite exact fallback")
    }
  }

  test("embeddingNearDup surfaces only above-threshold cosine pairs") {
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val near = base.clone(); near(5) = near(5) * 1.001f
    val far = Array.tabulate(64)(i => math.cos(5 * i).toFloat)
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(df, "vec_id", "embedding", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("mmrRerank demotes a redundant near-duplicate below a diverse candidate") {
    // A and A' point the same way (near-dups, both highly relevant);
    // B is diverse with moderate relevance. Pure relevance ranks A, A', B;
    // MMR at lambda=0.4 must rank A, B, A'.
    val a  = Array(1.0f, 0.10f, 0f, 0f)
    val a2 = Array(1.0f, 0.12f, 0f, 0f)
    val bv = Array(0.5f, 0f, 1f, 0f)
    def rel(v: Array[Float]) = v(0) / math.sqrt(v.map(x => x.toDouble * x).sum)
    val cand = Seq((1L, rel(a), a), (2L, rel(a2), a2), (3L, rel(bv), bv))
      .toDF("vec_id", "sim", "embedding")
    val out = Similarity.mmrRerank(cand, "vec_id", "sim", "embedding",
      lambda = 0.4, k = 3).collect().map(r => (r.getInt(1), r.getLong(0)))
    assert(out.toSeq == Seq((1, 1L), (2, 3L), (3, 2L)),
      s"expected A, B, A' but got ${out.toSeq}")
    // lambda = 1 degenerates to pure relevance order
    val relOnly = Similarity.mmrRerank(cand, "vec_id", "sim", "embedding",
      lambda = 1.0, k = 3).collect().map(_.getLong(0))
    assert(relOnly.toSeq == Seq(1L, 2L, 3L))
    // k beyond the pool returns every candidate, ranked
    val all = Similarity.mmrRerank(cand, "vec_id", "sim", "embedding",
      lambda = 0.4, k = 99).collect()
    assert(all.length == 3 && all.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
  }

  test("rrfFuse matches the hand-computed fusion of two ranked lists") {
    // listA ranks 1,2,3 -> ids 1,2,3; listB ranks 1,2,3 -> ids 2,4,1
    val a = Seq((1L, 0.9), (2L, 0.8), (3L, 0.7)).toDF("id_a", "s_a")
    val b = Seq((2L, 5.0), (4L, 4.0), (1L, 3.0)).toDF("id_b", "s_b")
    val out = Similarity.rrfFuse(Seq((a, "id_a", "s_a"), (b, "id_b", "s_b")))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // 1/(60+rank) contributions, rounded 12 dp, summed, rounded 6 dp
    def c(r: Int) = BigDecimal(1.0 / (60 + r)).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def s(rs: Int*) = rs.map(c).sum.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq == Seq(
      (2L, s(2, 1)), (1L, s(1, 3)), (4L, s(2)), (3L, s(3))))
  }

  test("rrfFuse is invariant to list order and breaks score ties by id") {
    val a = Seq((1L, 0.9), (2L, 0.9), (3L, 0.7)).toDF("id", "s") // tie 1 vs 2
    val b = Seq((3L, 1.0), (2L, 0.5)).toDF("id", "s")
    val ab = Similarity.rrfFuse(Seq((a, "id", "s"), (b, "id", "s")))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ba = Similarity.rrfFuse(Seq((b, "id", "s"), (a, "id", "s")))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ab == ba, "fusion must not depend on list order")
    // the 0.9 tie must rank id 1 before id 2 (id tie-break), so id 1's
    // contribution from list a strictly exceeds id 2's a-contribution
    val score = ab.toMap
    assert(score(2L) > score(1L), "b-list rank 2 must outweigh the a-tie loss")
    val aOnly = Similarity.rrfFuse(Seq((a, "id", "s")))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(aOnly.map(_._1) == Seq(1L, 2L, 3L), "equal scores rank by id")
  }

  test("prototypeScores ranks a planted outlier last within its label") {
    // label 0: three clustered vectors + one pointing the opposite way;
    // label 1: its own cluster (must not perturb label 0's prototype)
    def jitter(seed: Int) = Array.tabulate(8)(i =>
      (math.sin(i + 1) + 0.01 * seed).toFloat)
    val outlier = Array.tabulate(8)(i => (-math.sin(i + 1)).toFloat)
    val other = Array.tabulate(8)(i => math.cos(2 * i + 1).toFloat)
    val df = Seq(
      (1L, 0, jitter(1)), (2L, 0, jitter(2)), (3L, 0, jitter(3)),
      (4L, 0, outlier),
      (5L, 1, other), (6L, 1, other)
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.prototypeScores(df, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.size == 6)
    assert(got(4L) < 0, s"outlier should oppose the prototype: $got")
    Seq(1L, 2L, 3L).foreach(id =>
      assert(got(id) > 0.99, s"cluster member $id not prototypical: $got"))
    assert(got(5L) > 0.99 && got(6L) > 0.99,
      s"label-1 members define their own prototype: $got")
  }

  test("prototypeScores gate paths are bit-identical; fast path broadcasts the centroids") {
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
    def scores(limit: Long) =
      Similarity.prototypeScores(emb, "vec_id", "embedding", "label",
          centroidBroadcastLimit = limit)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val fast = scores(Dedup.HotShingleBroadcastLimit)
    val dist = scores(0L)
    // decimal accumulation on both paths -> EXACT equality, not tolerance
    assert(fast == dist, "centroid gate paths diverge")
    assert(fast.nonEmpty)
    val fastPlan = Similarity.prototypeScores(emb, "vec_id", "embedding", "label")
      .queryExecution.executedPlan.toString
    assert(fastPlan.contains("BroadcastHashJoin"),
      s"fast path should broadcast the centroid arrays:\n$fastPlan")
  }

  test("prototypeScores gate paths agree on DEGENERATE vectors: no row either way (ADVICE r11)") {
    // null vector, empty array, and null-element rows used to yield a
    // null-sim row on the broadcast path but be dropped (or scored over
    // surviving positions) on the posexplode path — membership itself
    // diverged across the gate. Contract now: degenerate rows emit NO
    // row on EITHER path; clean rows still score bit-identically.
    val clean = Seq(
      (1L, 0, Array(1.0f, 2.0f, 3.0f)),
      (2L, 0, Array(2.0f, 1.0f, 0.5f)),
      (3L, 1, Array(0.5f, 0.5f, 4.0f)))
    val df = clean.toDF("vec_id", "label", "embedding")
      .unionAll(Seq((10L, 0)).toDF("vec_id", "label")
        .select(col("vec_id"), col("label"),
          lit(null).cast("array<float>").as("embedding")))
      .unionAll(Seq((11L, 0, Array.empty[Float])).toDF("vec_id", "label", "embedding"))
      .unionAll(Seq((12L, 1)).toDF("vec_id", "label")
        .select(col("vec_id"), col("label"),
          array(lit(1.0f), lit(null).cast("float"), lit(2.0f)).as("embedding")))
    def scores(limit: Long) =
      Similarity.prototypeScores(df, "vec_id", "embedding", "label",
          centroidBroadcastLimit = limit)
        .collect().map(r => (r.getLong(0), r.getInt(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toSet
    val fast = scores(Dedup.HotShingleBroadcastLimit)
    val dist = scores(0L)
    assert(fast == dist, s"degenerate-vector membership diverges: $fast vs $dist")
    assert(fast.map(_._1) == Set(1L, 2L, 3L),
      s"degenerate rows must emit no row: ${fast.map(_._1)}")
  }

  test("prototypeScores: zero-QUANTIZED norms emit no row on either gate path, never DIVIDE_BY_ZERO (r19 x400)") {
    // two mechanisms make sqrt(norm) exactly 0 under the decimal(18,6)
    // discipline: (a) a group's vectors cancel (±v pairs) so every
    // centroid entry is 0; (b) magnitudes below ~1e-3 square to < 1e-6
    // and the per-element decimal cast floors them — the x400 scaled
    // fixture hit (b) on every large group (mean of n near-zero-mean
    // vectors ~ 1/√n) and the unguarded division threw under ANSI.
    val df = Seq(
      // group 0: exact ± cancellation -> centroid 0, nc = 0
      (1L, 0, Array(1.0f, 2.0f, 3.0f)),
      (2L, 0, Array(-1.0f, -2.0f, -3.0f)),
      // group 1: tiny magnitudes -> ne and nc both quantize to 0
      (3L, 1, Array(5e-4f, 5e-4f, 5e-4f)),
      // group 2: healthy -> still scores
      (4L, 2, Array(1.0f, 0.0f, 0.0f)),
      (5L, 2, Array(1.0f, 1.0f, 0.0f))).toDF("vec_id", "label", "embedding")
    def rows(limit: Long) =
      Similarity.prototypeScores(df, "vec_id", "embedding", "label",
          centroidBroadcastLimit = limit)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val fast = rows(Dedup.HotShingleBroadcastLimit)
    val dist = rows(0L)
    assert(fast == dist, s"zero-norm membership diverges: $fast vs $dist")
    assert(fast.keySet == Set(4L, 5L),
      s"zero-quantized-norm groups must emit no row: ${fast.keySet}")
    // and the streaming scorer drops the SAME rows: protoSim is null on
    // the zero-norm side, so a sim >= tau filter removes them
    val protos = Similarity.prototypes(df, "embedding", "label")
      .withColumnRenamed("label", "__lbl")
    val streamSide = df.join(protos, col("label") === col("__lbl"))
      .select(col("vec_id"),
        Similarity.protoSim(col("embedding"), col("__cen"), col("__nc")).as("sim"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(streamSide.filter(_._2.isEmpty).keySet == Set(1L, 2L, 3L),
      s"protoSim must be null exactly on the zero-norm rows: $streamSide")
    assert(streamSide(4L) == Some(fast(4L)) && streamSide(5L) == Some(fast(5L)),
      "stream scores must match the batch scorer on healthy rows")
  }

  test("buildLshIndex/probeLshIndex: zero-pass serve equals the in-query sized probe; filters push to the scan") {
    // the LSH arm of build-once/serve-many: same persisted sizing ⇒ same
    // seeded hyperplanes ⇒ same buckets ⇒ same candidates ⇒ identical
    // (sim desc, id) top-k as lshTopKSized, with the signature pass paid
    // once at build instead of per query
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val query = emb.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lshserve").toString
    Similarity.buildLshIndex(emb, "vec_id", "embedding", dir)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = pairs(Similarity.probeLshIndex(spark, dir,
      "vec_id", "embedding", query, "embedding", k = 10))
    val inQuery = pairs(Similarity.lshTopKSized(emb,
      "vec_id", "embedding", query, "embedding", k = 10))
    assert(served == inQuery, "served LSH probe diverged from the in-query sized probe")
    assert(served.head == (0L, 1.0), s"planted self not first: ${served.head}")
    // both id-recovery gate paths return the same answer (the
    // no-small-by-construction rule): limit 0 forces the SHUFFLE_HASH
    // semi-join in place of the collected-ids In pushdown
    val servedDist = pairs(Similarity.probeLshIndex(spark, dir,
      "vec_id", "embedding", query, "embedding", k = 10, candidateIdLimit = 0L))
    assert(servedDist == served, "gate paths diverge on the served probe")
    // the REAL probe filter shape (OR of (table, bucket) pairs) must
    // reach the postings scan with a NON-EMPTY pushed payload — matching
    // only the header would pass even when nothing pushes
    val plan = spark.read.parquet(s"${IndexLifecycle.resolveIndexDir(spark, dir)}/postings.parquet")
      .filter((col("table") === 0 && col("bucket") === 3) ||
        (col("table") === 1 && col("bucket") === 7))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [Or") ||
      plan.contains("PushedFilters: [EqualTo"),
      s"probe filter shape not pushed (empty payload?):\n$plan")
    // postings carry ids only (finding 22): the vector payload must not
    // be duplicated per table
    assert(!spark.read.parquet(s"${IndexLifecycle.resolveIndexDir(spark, dir)}/postings.parquet")
      .columns.contains("embedding"), "postings leaked the vector payload")
    val meta = spark.read.parquet(s"${IndexLifecycle.resolveIndexDir(spark, dir)}/meta.parquet").head()
    assert(meta.getAs[Int]("planes") == Similarity.probePlanesFor(emb.count()),
      "persisted sizing drifted from the in-query rule")
    // append lifecycle: a vector appended AFTER the build (signatures
    // from the persisted sizing — resizing would shear old and new rows
    // into different bucket spaces) must serve immediately; an appended
    // exact duplicate of the query shares every bucket and ranks first
    val appDir = java.nio.file.Files.createTempDirectory("graft_lshserve_app").toString
    Similarity.buildLshIndex(emb.filter($"vec_id" % 2 === 0),
      "vec_id", "embedding", appDir)
    val qvec = query.select("embedding").head().getSeq[Float](0).toArray
    Similarity.appendLshIndex(
      emb.filter($"vec_id" % 2 =!= 0).unionAll(
        Seq((999999L, qvec)).toDF("vec_id", "embedding")),
      "vec_id", "embedding", appDir)
    val appServed = pairs(Similarity.probeLshIndex(spark, appDir,
      "vec_id", "embedding", query, "embedding", k = 10))
    assert(appServed.length == 10)
    // vec 0 (even, built) and 999999 (appended dup) both score 1.0 —
    // the id tie-break puts the built self first, the appended dup next
    assert(appServed.take(2) == Seq((0L, 1.0), (999999L, 1.0)),
      s"appended duplicate not served: ${appServed.take(2)}")
    // never-short + single-query contract
    val tinyDir = java.nio.file.Files.createTempDirectory("graft_lshserve_tiny").toString
    Similarity.buildLshIndex(emb.filter($"vec_id" =!= 0).limit(12)
      .localCheckpoint(true), "vec_id", "embedding", tinyDir)
    val got = Similarity.probeLshIndex(spark, tinyDir,
      "vec_id", "embedding", query, "embedding", k = 10).collect()
    assert(got.length == 10, s"fallback returned ${got.length} rows")
    val err = intercept[IllegalArgumentException] {
      Similarity.probeLshIndex(spark, dir, "vec_id", "embedding",
        emb.filter($"vec_id".isin(0L, 1L)), "embedding", k = 10)
    }
    assert(err.getMessage.contains("single-query"))
    // ADVICE r13: a multi-row frame whose EXTRA rows carry null vectors
    // emits signature rows only for the real one — the guard must run on
    // the frame, not on emitted buckets, or the crossJoin tail picks a
    // nondeterministic __qv per candidate
    val nullExtra = query.select($"vec_id", $"embedding").unionAll(
      Seq((7777L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val errNull = intercept[IllegalArgumentException] {
      Similarity.probeLshIndex(spark, dir, "vec_id", "embedding",
        nullExtra, "embedding", k = 10)
    }
    assert(errNull.getMessage.contains("single-query"))
  }

  test("probeLshIndexBatch equals per-query single probes on the same dir") {
    // the batch cell of the LSH serve matrix: one (table, bucket)
    // equi-join against the postings must answer every query exactly as
    // N single probes would (the single probe is itself spec-pinned
    // against the in-query path above) — same candidates, same exact
    // cosine, same (sim desc, id) order, same never-empty contract
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_lshserve_b").toString
    Similarity.buildLshIndex(emb, "vec_id", "embedding", dir)
    val batch = Similarity.probeLshIndexBatch(spark, dir, "vec_id", "embedding",
        emb.filter($"vec_id" < 5), "vec_id", "embedding", k = 10)
      .collect()
      .map(r => (r.getAs[Long]("query_id"),
        (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"), r.getAs[Int]("rnk"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._3).toSeq).toMap
    assert(batch.keySet == (0L until 5L).toSet,
      s"batch missing queries: ${batch.keySet}")
    (0L until 5L).foreach { qid =>
      val single = Similarity.probeLshIndex(spark, dir, "vec_id", "embedding",
          emb.filter($"vec_id" === qid), "embedding", k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid).map(t => (t._1, t._2)) == single,
        s"query $qid: batch ${batch(qid)} vs single $single")
      assert(batch(qid).length == 10, s"query $qid short: ${batch(qid).length}")
      // self-match first at sim 1.0 — the planted truth
      assert(batch(qid).head._1 == qid && batch(qid).head._2 == 1.0)
    }
    // both id-recovery gate paths agree (no-small-by-construction):
    // limit 0 forces the SHUFFLE_HASH semi-join over the id union
    val batchDist = Similarity.probeLshIndexBatch(spark, dir, "vec_id", "embedding",
        emb.filter($"vec_id" < 5), "vec_id", "embedding", k = 10,
        candidateIdLimit = 0L)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("sim"), r.getAs[Int]("rnk"))).sortBy(t => (t._1, t._4))
    val batchIn = batch.toSeq.flatMap { case (q, rows) =>
      rows.map(t => (q, t._1, t._2, t._3)) }.sortBy(t => (t._1, t._4))
    assert(batchDist.toSeq == batchIn, "gate paths diverge on the batched probe")
  }

  test("driver-side buckets are bit-for-bit the codegen expression's (probe parity)") {
    // probeLshIndex computes the query's buckets on the DRIVER
    // (bucketsAndMarginsLocal) while the build wrote postings through the
    // codegen HyperplaneBuckets — one bit of divergence and every probe
    // reads the wrong buckets. Pin equality over the real float
    // embeddings at a non-default sizing, and that each bucket bit is
    // exactly the sign of the returned margin.
    val tables = 6; val planes = 5
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val viaExpr = Similarity.lshIndex(emb, "vec_id", "embedding",
        tables, planes, 64, 42L)
      .select("vec_id", "table", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val vecs = emb.select(col("vec_id"),
      col("embedding").cast("array<double>")).collect()
    assert(vecs.nonEmpty)
    vecs.foreach { r =>
      val id = r.getLong(0)
      val (buckets, margins) = Similarity.bucketsAndMarginsLocal(
        r.getSeq[Double](1).toArray, tables, planes, 64, 42L)
      (0 until tables).foreach { t =>
        assert(buckets(t) == viaExpr((id, t)),
          s"vec $id table $t: driver ${buckets(t)} vs expr ${viaExpr((id, t))}")
        (0 until planes).foreach { p =>
          assert(((buckets(t) >> p) & 1) == (if (margins(t)(p) > 0) 1 else 0),
            s"vec $id table $t plane $p: bit/margin sign mismatch")
        }
      }
    }
  }

  test("HyperplaneBucketsMulti: exact bucket + q lowest-|margin| single flips, bit-for-bit the driver arithmetic") {
    // the in-plan multi-probe primitive: per table [exact, flip1..flipq]
    // where flips are the q smallest |margin| planes ascending, ties to
    // the LOWEST plane index. Pin against bucketsAndMarginsLocal (itself
    // pinned against HyperplaneBuckets) over the real float embeddings.
    val tables = 5; val planes = 6; val q = 3; val stride = 1 + q
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val viaExpr = emb.select(col("vec_id"),
        Similarity.bucketsMultiColumn(col("embedding"), tables, planes, 64,
          42L, q).as("qm"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val vecs = emb.select(col("vec_id"),
      col("embedding").cast("array<double>")).collect()
    assert(vecs.nonEmpty)
    vecs.foreach { r =>
      val id = r.getLong(0)
      val (buckets, margins) = Similarity.bucketsAndMarginsLocal(
        r.getSeq[Double](1).toArray, tables, planes, 64, 42L)
      val got = viaExpr(id)
      assert(got.length == tables * stride)
      (0 until tables).foreach { t =>
        assert(got(t * stride) == buckets(t),
          s"vec $id table $t: exact bucket diverged")
        val expectFlips = margins(t).map(math.abs).zipWithIndex
          .sortBy { case (m, p) => (m, p) }.take(q)
          .map { case (_, p) => buckets(t) ^ (1 << p) }.toSeq
        assert(got.slice(t * stride + 1, (t + 1) * stride) == expectFlips,
          s"vec $id table $t: flip set diverged")
      }
    }
    // extra = 0 degenerates to the plain signature; extra > planes clamps
    val plain = emb.select(col("vec_id"),
        Similarity.bucketsColumn(col("embedding"), tables, planes, 64, 42L)
          .as("qb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val zero = emb.select(col("vec_id"),
        Similarity.bucketsMultiColumn(col("embedding"), tables, planes, 64,
          42L, 0).as("qm"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(zero == plain, "extra=0 must equal HyperplaneBuckets")
    val clamped = emb.limit(1).select(
        Similarity.bucketsMultiColumn(col("embedding"), tables, planes, 64,
          42L, 99).as("qm"))
      .head().getSeq[Int](0)
    assert(clamped.length == tables * (1 + planes),
      s"extra must clamp to planes: got ${clamped.length}")
  }

  test("batch + streaming multi-probe: recall >= single-probe, stream == batch at equal q") {
    // the in-plan multi-probe lever on the two paths that cannot run the
    // driver heap: same planted moderate-cosine regime as the
    // single-query test — single-probe misses some targets, multi-probe
    // recovers some, candidates only grow (per-rank sims dominate)
    val rnd = new scala.util.Random(97)
    def gauss() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val corpus = (1L to 4000L).map(i => (i, gauss()))
    val targets = corpus.take(20)
    val queries = targets.map { case (id, v) =>
      val g = gauss()
      (id + 100000L, v.zip(g).map { case (a, b) => 0.75f * a + 0.66f * b })
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_mpb").toString
    Similarity.buildLshIndex(corpus.toDF("vec_id", "embedding")
      .localCheckpoint(true), "vec_id", "embedding", dir)
    val qDf = queries.toDF("vec_id", "embedding").localCheckpoint(true)
    def run(mp: Int): Map[Long, Seq[(Long, Double)]] =
      Similarity.probeLshIndexBatch(spark, dir, "vec_id", "embedding",
          qDf, "vec_id", "embedding", k = 5, multiProbe = mp)
        .collect()
        .map(r => (r.getAs[Long]("query_id"),
          (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"), r.getAs[Int]("rnk"))))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).sortBy(_._3).map(t => (t._1, t._2)).toSeq).toMap
    val single = run(0)
    val multi = run(6)
    assert(single.keySet == queries.map(_._1).toSet && multi.keySet == single.keySet)
    var hitsSingle = 0; var hitsMulti = 0
    queries.foreach { case (qid, _) =>
      val target = qid - 100000L
      if (single(qid).exists(_._1 == target)) hitsSingle += 1
      if (multi(qid).exists(_._1 == target)) hitsMulti += 1
      single(qid).map(_._2).zip(multi(qid).map(_._2)).foreach { case (a, b) =>
        assert(b >= a, s"query $qid: multi-probe sim regressed ($b < $a)") }
    }
    assert(hitsSingle < 20, "single-probe found everything — respec the seed")
    assert(hitsMulti > hitsSingle,
      s"batch multi-probe recovered nothing: $hitsMulti vs $hitsSingle of 20")
    // streaming multi-probe == the driver oracle at equal q: expected
    // tags are exactly the pairs where the candidate's exact bucket
    // falls in the query's probed set (exact + 6 lowest-|margin| single
    // flips, both primitives spec-pinned above) in ANY table, scored by
    // the same double-accumulated cosine rounded 4 dp, >= tau. Identical
    // IEEE ops in identical order on both sides, so set equality is
    // exact — and it also proves the first-colliding-table dedup under
    // multi-probe (row count == set size == oracle size).
    val tau = 0.5
    val streamTags = graft.streaming.Streaming.annProbeStream(
        qDf, "vec_id", "embedding", dir, tau = tau, multiProbe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val meta = spark.read.parquet(s"${IndexLifecycle.resolveIndexDir(spark, dir)}/meta.parquet").head()
    val (planesP, tablesP, dimP, seedP) =
      (meta.getAs[Int]("planes"), meta.getAs[Int]("tables"),
        meta.getAs[Int]("dim"), meta.getAs[Long]("seed"))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(d: Double): Double = java.math.BigDecimal.valueOf(d)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    val corpusBuckets = corpus.map { case (id, v) =>
      id -> Similarity.bucketsAndMarginsLocal(v.map(_.toDouble),
        tablesP, planesP, dimP, seedP)._1 }.toMap
    val expected = (for {
      (qid, qv) <- queries
      (bk, mg) = Similarity.bucketsAndMarginsLocal(qv.map(_.toDouble),
        tablesP, planesP, dimP, seedP)
      probed = (0 until tablesP).map { t =>
        (bk(t) +: mg(t).map(math.abs).zipWithIndex
          .sortBy { case (m, p) => (m, p) }.take(6)
          .map { case (_, p) => bk(t) ^ (1 << p) }).toSet }
      (cid, cv) <- corpus
      if (0 until tablesP).exists(t => probed(t).contains(corpusBuckets(cid)(t)))
      s = r4(cos(qv, cv)) if s >= tau
    } yield (qid, cid, s)).toSet
    assert(streamTags.toSet == expected,
      s"stream multi-probe diverged from the oracle: ${streamTags.length} vs ${expected.size} tags")
    assert(streamTags.length == streamTags.toSet.size,
      "first-colliding-table dedup failed under multi-probe")
    assert(streamTags.nonEmpty, "tau gate left nothing — vacuous compare")
  }

  test("perturbationSets: heap expansion equals brute-force cheapest subsets") {
    // distinct power-of-two margins make every subset cost unique, so the
    // cheapest-T prefix is a total order the heap must reproduce exactly
    val m = Array(0.16, 0.01, 0.32, 0.04, 0.08, 0.02)
    val brute = (1 until (1 << m.length)).map { mask =>
      val set = (0 until m.length).filter(p => (mask >> p & 1) == 1)
      (set.map(m).sum, set.toSet)
    }.sortBy(_._1)
    val got = Similarity.perturbationSets(m, 20)
    assert(got.length == 20)
    assert(got.map(_.toSet) == brute.take(20).map(_._2),
      s"heap order diverged: ${got.map(_.toSet)} vs ${brute.take(20).map(_._2)}")
    // costs nondecreasing; asking past 2^n - 1 returns them all
    val all = Similarity.perturbationSets(m, 1000)
    assert(all.length == (1 << m.length) - 1)
    val costs = all.map(_.map(m).sum)
    assert(costs == costs.sorted, "emission order not nondecreasing in cost")
    assert(Similarity.perturbationSets(m, 0).isEmpty)
  }

  test("multi-probe LSH recall >= single-probe at equal tables on moderate-cosine neighbors") {
    // the Lv et al. claim: flipping the lowest-|margin| bits recovers
    // near-boundary neighbors WITHOUT more tables. Planted targets at
    // cosine ~0.75 (θ ≈ 41° — the regime single-probe bucketing misses:
    // per-table collision ~0.2 at 6 planes), 64-dim so random cosines
    // concentrate near 0 and the target is the unambiguous true top-1.
    val rnd = new scala.util.Random(97)
    def gauss() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val corpus = (1L to 4000L).map(i => (i, gauss()))
    val targets = corpus.take(20)
    val queries = targets.map { case (id, v) =>
      val g = gauss()
      (id, v.zip(g).map { case (a, b) => 0.75f * a + 0.66f * b })
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_mp").toString
    Similarity.buildLshIndex(corpus.toDF("vec_id", "embedding")
      .localCheckpoint(true), "vec_id", "embedding", dir)
    def recallAndSims(multiProbe: Int): (Int, Seq[Seq[Double]]) = {
      val res = queries.map { case (target, qv) =>
        val got = Similarity.probeLshIndex(spark, dir, "vec_id", "embedding",
            Seq(Tuple1(qv)).toDF("embedding"), "embedding", k = 5,
            multiProbe = multiProbe)
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        (got.map(_._1).contains(target), got.map(_._2).toSeq)
      }
      (res.count(_._1), res.map(_._2))
    }
    val (hitsSingle, simsSingle) = recallAndSims(0)
    val (hitsMulti, simsMulti) = recallAndSims(8)
    // more candidates can only improve the answer: per-rank sims dominate
    simsSingle.zip(simsMulti).zipWithIndex.foreach { case ((s, mqs), i) =>
      s.zip(mqs).foreach { case (a, b) =>
        assert(b >= a, s"query $i: multi-probe sim regressed ($b < $a)") }
    }
    assert(hitsMulti >= hitsSingle,
      s"multi-probe recall $hitsMulti/20 below single $hitsSingle/20")
    // the non-vacuous half: at this seed single-probe MISSES some targets
    // and multi-probe recovers at least one of them
    assert(hitsSingle < 20,
      "single-probe found everything — respec the seed so the gap is visible")
    assert(hitsMulti > hitsSingle,
      s"multi-probe recovered nothing: $hitsMulti vs $hitsSingle of 20")
    // at multiProbe=8 this corpus recovers >InLiteralCap candidate ids,
    // so the default limit rides the broadcast MIDDLE path (the literal
    // In of thousands costs seconds of analysis — ScaleBench measured
    // 7 s vs 1.5 s); limit 0 forces the SHUFFLE_HASH path. All gate
    // paths must answer identically.
    val q0 = Seq(Tuple1(queries.head._2)).toDF("embedding")
    def probe(limit: Long) = Similarity.probeLshIndex(spark, dir,
        "vec_id", "embedding", q0, "embedding", k = 5,
        candidateIdLimit = limit, multiProbe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe(10000L) == probe(0L),
      "broadcast middle path diverged from the SHUFFLE_HASH path")
    // the OCCUPANCY-SIZED q (multiProbeFor, r14 verdict #3): same dir,
    // q sized from the persisted meta + live vector count — the recall
    // gate must hold at the sized default the _mp serve entries use
    val meta = spark.read.parquet(s"${IndexLifecycle.resolveIndexDir(spark, dir)}/meta.parquet").head()
    val sizedQ = Similarity.multiProbeFor(spark, dir)
    assert(sizedQ == Similarity.multiProbeForSized(4000L,
      meta.getAs[Int]("planes"), meta.getAs[Int]("tables")),
      "dir-level sizing diverged from the pure formula")
    assert(sizedQ > 0, "sized q degenerate at this corpus — respec")
    val (hitsSized, simsSized) = recallAndSims(sizedQ)
    simsSingle.zip(simsSized).zipWithIndex.foreach { case ((s, z), i) =>
      s.zip(z).foreach { case (a, b) =>
        assert(b >= a, s"query $i: sized-q sim regressed ($b < $a)") } }
    assert(hitsSized > hitsSingle,
      s"sized q=$sizedQ recovered nothing over single: $hitsSized vs $hitsSingle")
  }

  test("multiProbeForSized: fixed candidate budget — sized, clamped, occupancy-tracking") {
    import Similarity.multiProbeForSized
    // bounds: q ∈ [0, planes] over a broad grid
    for (live <- Seq(1L, 100L, 10000L, 10000000L); planes <- Seq(4, 10, 20);
         tables <- Seq(8, 15); t <- Seq(512, 4096)) {
      val q = multiProbeForSized(live, planes, tables, t)
      assert(q >= 0 && q <= planes, s"q=$q out of [0, $planes]")
    }
    // a single probe that already meets the budget sizes q to 0
    assert(multiProbeForSized(1000000L, 4, 16, 4096) == 0)
    // the budget formula: tables·(1+q)·occupancy lands in
    // [target, target + single-probe volume) when unclamped
    for ((live, planes, tables) <- Seq((65536L, 10, 8), (60000L, 10, 14),
         (1500000L, 15, 19))) {
      val occ = live.toDouble / (1L << planes)
      val single = tables * occ
      val q = multiProbeForSized(live, planes, tables, 4096)
      if (q < planes) {
        val vol = (1 + q) * single
        assert(vol >= 4096 && vol < 4096 + single,
          s"budget missed at ($live,$planes,$tables): vol=$vol")
      }
    }
    // drift behavior: appends double occupancy under a frozen sizing —
    // the sized q must HALVE the probed-bucket count, holding the
    // candidate volume at the budget instead of silently doubling cost
    val qBefore = multiProbeForSized(65536L, 10, 8, 4096)
    val qAfter = multiProbeForSized(131072L, 10, 8, 4096)
    assert(qBefore == 7 && qAfter == 3,
      s"occupancy doubling did not halve the probe count: $qBefore -> $qAfter")
  }
}
