package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {
  import spark.implicits._

  test("nearest-cells assignment picks the true nearest centroid") {
    val centroids = Array(Array.fill(4)(0.0), Array.fill(4)(10.0))
    val df = Seq(
      (1L, Array(0.1f, 0.2f, 0.1f, 0.0f)),   // near centroid 0
      (2L, Array(9.8f, 10.1f, 9.9f, 10.0f))  // near centroid 1
    ).toDF("vec_id", "embedding")
    val cells = Ivf.index(df, "vec_id", "embedding", centroids)
      .collect().map(r => r.getLong(1) -> r.getInt(0)).toMap
    assert(cells == Map(1L -> 0, 2L -> 1))
  }

  test("IVF top-k finds a planted duplicate via cell probe") {
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
    val centroids = Ivf.trainCentroids(emb, "embedding", k = 8, maxIter = 5)
    assert(centroids.length == 8 && centroids.head.length == 64)
    val q = emb.filter($"vec_id" === 0)
    // the planted duplicate: vec 0 itself stays in the corpus -> must be top-1
    val top = Ivf.topK(emb, "vec_id", "embedding", q, "embedding",
      k = 5, centroids, nprobe = 2).collect()
    assert(top.head.getLong(0) == 0L && top.head.getDouble(1) == 1.0)
    assert(top.length == 5)
    val sims = top.map(_.getDouble(1))
    assert(sims.sameElements(sims.sorted.reverse))
  }

  test("IVF recall >= 0.8 vs brute force on a clustered corpus (gate)") {
    // planted structure, deterministic seeds: degraded centroids/nprobe
    // must fail this, not silently return 10 plausible rows
    val rnd = new scala.util.Random(13)
    val rows = for (c <- 0 until 20; centre = Array.fill(64)(rnd.nextGaussian());
                    m <- 0 until 10)
      yield ((c * 10 + m).toLong,
        centre.map(v => (v + 0.03 * rnd.nextGaussian()).toFloat))
    val corpus = rows.toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 0L)
    val rest = corpus.filter($"vec_id" =!= 0L)
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding",
      q, "embedding", k = 9).collect().map(_.getLong(0)).toSet
    val centroids = Ivf.trainCentroids(corpus, "embedding", k = 8, maxIter = 5)
    val approx = Ivf.topK(rest, "vec_id", "embedding", q, "embedding",
      k = 9, centroids, nprobe = 2).collect().map(_.getLong(0)).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    info(f"IVF recall = $recall%.2f")
    assert(recall >= 0.8, s"IVF recall degraded to $recall")
  }

  test("two-level IVF top-k finds the planted duplicate via composite-cell probe") {
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
    val rq = Ivf.trainResidualQuantizer(emb, "embedding", k1 = 4, k2 = 4, seed = 42L)
    val q = emb.filter($"vec_id" === 0)
    // vec 0 stays in the corpus: its composite cell equals the query's
    // first probe (same vector, both levels deterministic) -> top-1 at 1.0
    val top = Ivf.topKResidual(emb, "vec_id", "embedding", q, "embedding",
      k = 5, rq, nprobe1 = 2, nprobe2 = 2).collect()
    assert(top.head.getLong(0) == 0L && top.head.getDouble(1) == 1.0)
    assert(top.length == 5)
    val sims = top.map(_.getDouble(1))
    assert(sims.sameElements(sims.sorted.reverse))
  }

  test("two-level IVF recall >= 0.8 vs brute force on a clustered corpus (gate)") {
    val rnd = new scala.util.Random(13)
    val rows = for (c <- 0 until 20; centre = Array.fill(64)(rnd.nextGaussian());
                    m <- 0 until 10)
      yield ((c * 10 + m).toLong,
        centre.map(v => (v + 0.03 * rnd.nextGaussian()).toFloat))
    val corpus = rows.toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 0L)
    val rest = corpus.filter($"vec_id" =!= 0L)
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding",
      q, "embedding", k = 9).collect().map(_.getLong(0)).toSet
    val rq = Ivf.trainResidualQuantizer(corpus, "embedding", k1 = 3, k2 = 3)
    val approx = Ivf.topKResidual(rest, "vec_id", "embedding", q, "embedding",
      k = 9, rq, nprobe1 = 2, nprobe2 = 2).collect().map(_.getLong(0)).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    info(f"two-level IVF recall = $recall%.2f")
    assert(recall >= 0.8, s"two-level IVF recall degraded to $recall")
  }

  test("cellsForSearch sizes nlist ~ sqrt(nprobe*n) and recall holds at the sized count") {
    // fixed k = constant corpus fraction per probe; the nlist rule keeps
    // probe cost ~sqrt: arithmetic first, then the recall gate at the
    // count the registered c14_ann_ivf query would pick for this corpus
    assert(Ivf.cellsForSearch(1000000L) == 2000)
    assert(Ivf.cellsForSearch(64) == 16)   // floor
    assert(Ivf.cellsForSearch(0) == 16)
    val rnd = new scala.util.Random(13)
    val rows = for (c <- 0 until 20; centre = Array.fill(64)(rnd.nextGaussian());
                    m <- 0 until 10)
      yield ((c * 10 + m).toLong,
        centre.map(v => (v + 0.03 * rnd.nextGaussian()).toFloat))
    val corpus = rows.toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 0L)
    val rest = corpus.filter($"vec_id" =!= 0L)
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding",
      q, "embedding", k = 9).collect().map(_.getLong(0)).toSet
    val k = Ivf.cellsForSearch(200)        // 29 cells for this corpus
    val centroids = Ivf.trainCentroids(corpus, "embedding", k = k, maxIter = 5)
    val approx = Ivf.topK(rest, "vec_id", "embedding", q, "embedding",
      k = 9, centroids, nprobe = 4).collect().map(_.getLong(0)).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    info(f"sized-nlist IVF recall = $recall%.2f (k=$k)")
    assert(recall >= 0.8, s"sized-nlist recall degraded to $recall")
  }

  test("nprobe above the cell count clamps instead of probing phantom cells") {
    // round-6 advisor finding: NearestCells pads with -1 past the
    // centroid count — unclamped, a legal k1=2 quantizer under the
    // DEFAULT nprobe1=4 threw on the index-0 centroid lookup, and
    // __c2=-1 silently aliased a VALID composite cell. The defaults must
    // be safe for every legal quantizer, and the clamped probe (= scan
    // everything when nprobe >= cells) must equal brute force.
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
    val q = emb.filter($"vec_id" === 0)
    val rest = emb.filter($"vec_id" =!= 0)
    val rq = Ivf.trainResidualQuantizer(emb, "embedding", k1 = 2, k2 = 2, seed = 42L)
    val out = Ivf.topKResidual(rest, "vec_id", "embedding", q, "embedding",
      k = 5, rq).collect() // defaults nprobe1 = nprobe2 = 4 > k1 = k2 = 2
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding",
      q, "embedding", k = 5).collect()
    // probing all 4 composite cells IS an exhaustive scan
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      exact.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    val single = Ivf.topK(rest, "vec_id", "embedding", q, "embedding", k = 5,
      Ivf.trainCentroids(emb, "embedding", k = 2, maxIter = 5), nprobe = 4).collect()
    assert(single.length == 5, "single-level clamp must scan all cells, not drop the probe")
  }

  test("IVF top-k never returns short: sparse probed cells fall back to the exact scan") {
    // 4 well-separated clusters x 5 members; nprobe=1 probes only the
    // query's own cell (~5 vectors) but k=10 — the probe CANNOT fill the
    // answer, so both IVF paths must fall back to brute force
    // (the never-empty ANN contract, code-review finding)
    val rnd = new scala.util.Random(19)
    val rows = for (c <- 0 until 4; centre = Array.fill(32)(rnd.nextGaussian());
                    m <- 0 until 5)
      yield ((c * 5 + m).toLong, centre.map(v => (v + 0.03 * rnd.nextGaussian()).toFloat))
    val corpus = rows.toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 0L)
    val rest = corpus.filter($"vec_id" =!= 0L)
    val centroids = Ivf.trainCentroids(corpus, "embedding", k = 4, maxIter = 5)
    val single = Ivf.topK(rest, "vec_id", "embedding", q, "embedding",
      k = 10, centroids, nprobe = 1).collect()
    assert(single.length == 10, s"single-level IVF returned ${single.length} of 10")
    val rq = Ivf.trainResidualQuantizer(corpus, "embedding", k1 = 2, k2 = 2)
    val twoLevel = Ivf.topKResidual(rest, "vec_id", "embedding", q, "embedding",
      k = 10, rq, nprobe1 = 1, nprobe2 = 1).collect()
    assert(twoLevel.length == 10, s"two-level IVF returned ${twoLevel.length} of 10")
  }

  test("topKSized routes single-level below the threshold and holds recall (gate)") {
    // cellsForSearch(200) = 29 <= the default 4096 threshold: the sized
    // entry point must pick the single-level quantizer and answer with
    // recall >= 0.8 — the composed path the registered c14_ann_ivf runs
    val rnd = new scala.util.Random(13)
    val rows = for (c <- 0 until 20; centre = Array.fill(64)(rnd.nextGaussian());
                    m <- 0 until 10)
      yield ((c * 10 + m).toLong,
        centre.map(v => (v + 0.03 * rnd.nextGaussian()).toFloat))
    val corpus = rows.toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 0L)
    val rest = corpus.filter($"vec_id" =!= 0L)
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding",
      q, "embedding", k = 9).collect().map(_.getLong(0)).toSet
    val approx = Ivf.topKSized(rest, "vec_id", "embedding", q, "embedding",
      k = 9, nprobe = 4, maxIter = 5).collect().map(_.getLong(0)).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    info(f"topKSized single-level recall = $recall%.2f")
    assert(recall >= 0.8, s"topKSized single-level recall degraded to $recall")
  }

  test("topKSized switches to the residual quantizer past the threshold and holds recall (gate)") {
    // round-7 verdict #1: the SWITCHED path specifically — force the
    // hierarchical exit with a tiny threshold (cellsForSearch(199) = 29
    // cells > 8), so this corpus routes through trainResidualQuantizer +
    // topKResidual exactly as a ~4M-vector corpus would at the default
    val rnd = new scala.util.Random(13)
    val rows = for (c <- 0 until 20; centre = Array.fill(64)(rnd.nextGaussian());
                    m <- 0 until 10)
      yield ((c * 10 + m).toLong,
        centre.map(v => (v + 0.03 * rnd.nextGaussian()).toFloat))
    val corpus = rows.toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 0L)
    val rest = corpus.filter($"vec_id" =!= 0L)
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding",
      q, "embedding", k = 9).collect().map(_.getLong(0)).toSet
    val approx = Ivf.topKSized(rest, "vec_id", "embedding", q, "embedding",
      k = 9, nprobe = 4, maxIter = 5, hierarchicalThreshold = 8)
      .collect().map(_.getLong(0)).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    info(f"topKSized hierarchical recall = $recall%.2f")
    assert(recall >= 0.8, s"topKSized switched-path recall degraded to $recall")
    // and the switched path keeps the never-short contract
    assert(approx.size == 9)
  }

  test("a corpus smaller than k answers with the whole corpus, not a second scan (ADVICE r7 #4)") {
    // 3 vectors, k = 5: the probe scores everything; the old gate then
    // ALSO ran the brute-force scan only to return the same 3 rows. The
    // answer must be the full corpus, exactly once, in exact order.
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 3L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 0L)
    val centroids = Ivf.trainCentroids(corpus, "embedding", k = 2, maxIter = 5)
    val out = Ivf.topK(corpus, "vec_id", "embedding", q, "embedding",
      k = 5, centroids, nprobe = 2).collect()
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      q, "embedding", k = 5).collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      exact.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(out.length == 3)
  }

  test("batched IVF probe answers every query with k rows and recall >= 0.8") {
    // the IVF analog of the batched LSH probe: one inverted-file pass
    // for the batch, per-query rank, per-query exact fallback
    val rnd = new scala.util.Random(13)
    val rows = for (c <- 0 until 20; centre = Array.fill(64)(rnd.nextGaussian());
                    m <- 0 until 10)
      yield ((c * 10 + m).toLong,
        centre.map(v => (v + 0.03 * rnd.nextGaussian()).toFloat))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 10 === 0).limit(5)
    val rest = corpus.filter($"vec_id" % 10 =!= 0)
    val centroids = Ivf.trainCentroids(corpus, "embedding", k = 8, maxIter = 5)
    val got = Ivf.topKBatch(rest, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 9, centroids, nprobe = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val exact = Similarity.bruteForceTopKBatch(rest, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    assert(got.keySet == exact.keySet && got.keySet.size == 5)
    got.foreach { case (q, ids) =>
      assert(ids.size == 9, s"query $q returned ${ids.size} of 9")
      val recall = (ids & exact(q)).size.toDouble / exact(q).size
      assert(recall >= 0.8, s"query $q recall $recall")
    }
  }

  test("batched IVF probe falls back per query when probed cells can't fill k") {
    // 4 well-separated clusters x 5 members, nprobe=1: each query's own
    // cell holds ~5 vectors but k=10 — every query must re-answer
    // exactly, per query, with the full 10 rows
    val rnd = new scala.util.Random(19)
    val rows = for (c <- 0 until 4; centre = Array.fill(32)(rnd.nextGaussian());
                    m <- 0 until 5)
      yield ((c * 5 + m).toLong, centre.map(v => (v + 0.03 * rnd.nextGaussian()).toFloat))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id".isin(0L, 5L))
    val rest = corpus.filter(!$"vec_id".isin(0L, 5L))
    val centroids = Ivf.trainCentroids(corpus, "embedding", k = 4, maxIter = 5)
    val got = Ivf.topKBatch(rest, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10, centroids, nprobe = 1)
      .collect().groupBy(_.getLong(0))
    assert(got.keySet == Set(0L, 5L))
    got.foreach { case (q, rs) =>
      assert(rs.length == 10, s"query $q returned ${rs.length} of 10") }
  }

  test("batched sized entry point routes both quantizer regimes and holds recall") {
    // the serving entry (topKBatchSized): below the threshold it trains
    // single-level; a forced-low threshold sends the SAME batch through
    // the residual quantizer — both must answer every query full-length
    // with recall >= 0.8 vs the exact batch
    val rnd = new scala.util.Random(13)
    val rows = for (c <- 0 until 20; centre = Array.fill(64)(rnd.nextGaussian());
                    m <- 0 until 10)
      yield ((c * 10 + m).toLong,
        centre.map(v => (v + 0.03 * rnd.nextGaussian()).toFloat))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 10 === 0).limit(5)
    val rest = corpus.filter($"vec_id" % 10 =!= 0)
    val exact = Similarity.bruteForceTopKBatch(rest, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    for (threshold <- Seq(Dedup.HierarchicalCellsThreshold, 8)) {
      val got = Ivf.topKBatchSized(rest, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 9, nprobe = 4, maxIter = 5,
        hierarchicalThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      assert(got.keySet == exact.keySet && got.keySet.size == 5,
        s"threshold=$threshold answered ${got.keySet}")
      got.foreach { case (q, ids) =>
        assert(ids.size == 9, s"threshold=$threshold query $q: ${ids.size} of 9")
        val recall = (ids & exact(q)).size.toDouble / exact(q).size
        assert(recall >= 0.8, s"threshold=$threshold query $q recall $recall")
      }
    }
  }

  test("probing more cells can only grow the candidate set") {
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
    val centroids = Ivf.trainCentroids(emb, "embedding", k = 8, maxIter = 5)
    val q = emb.filter($"vec_id" === 0)
    def cand(np: Int) = {
      val (m, cells, dim) = (centroids.flatten, centroids.length, 64)
      Ivf.index(emb.filter($"vec_id" =!= 0), "vec_id", "embedding", centroids)
        .join(broadcast(q.select(explode(
          graft.functions.NearestCells.nearestCells($"embedding", m, cells, dim, np)).as("cell"))),
          Seq("cell"))
        .count()
    }
    assert(cand(1) <= cand(4))
    assert(cand(4) <= cand(8))
  }

  test("buildIndex/probeIndex: parquet round-trip equals the in-memory probe on both coarse regimes") {
    // the round-trip-equivalence spec probeIndexFrame's doc promises:
    // build to parquet, then probe (a) through the persisted invfile +
    // reloaded model and (b) through the in-memory inverted file + the
    // model the build returned — identical top-k proves parquet (double
    // centroid arrays, cell partition-column typing) changes nothing
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
    val corpus = emb.select("vec_id", "embedding").localCheckpoint(true)
    val query = emb.filter($"vec_id" === 0)
    for ((thresh, label) <- Seq((graft.ops.Dedup.HierarchicalCellsThreshold, "single-level"),
                                (1, "residual"))) {
      val dir = java.nio.file.Files.createTempDirectory("graft_ivfserve").toString
      val model = Ivf.buildIndex(corpus, "vec_id", "embedding", dir,
        maxIter = 5, hierarchicalThreshold = thresh)
      assert(model.isResidual == (thresh == 1), s"$label coarse regime not engaged")
      val loaded = Ivf.loadIndexModel(spark, dir)
      assert(loaded.level1.map(_.toSeq).toSeq == model.level1.map(_.toSeq).toSeq &&
             loaded.level2.map(_.toSeq).toSeq == model.level2.map(_.toSeq).toSeq,
        s"$label centroids drifted through parquet")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val inMem = pairs(Ivf.probeIndexFrame(
        model.indexOf(corpus, "vec_id", "embedding"), model,
        "vec_id", "embedding", query, "embedding", k = 10, nprobe = 4))
      val fromDisk = pairs(Ivf.probeIndex(spark, dir,
        "vec_id", "embedding", query, "embedding", k = 10))
      assert(inMem == fromDisk, s"$label parquet round-trip changed the probe")
      assert(fromDisk.length == 10, s"$label returned ${fromDisk.length} rows")
      // vec 0 is IN the index: the probe's first cell holds it, so the
      // exact-cosine scan must return it first at sim 1.0
      assert(fromDisk.head == (0L, 1.0), s"$label planted self not first: ${fromDisk.head}")
    }
  }

  test("probeIndexBatch: zero-training serve equals the in-query batch probe on both regimes") {
    // the batched serving counterpart: same model ⇒ same probed cells ⇒
    // same candidates ⇒ same per-query (sim desc, id) top-k — reading
    // the inverted file from parquet must change nothing
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val queries = emb.filter($"vec_id" < 5)
    def grouped(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(t => (t._2, t._3)).toSet }
    for ((thresh, label) <- Seq((graft.ops.Dedup.HierarchicalCellsThreshold, "single-level"),
                                (1, "residual"))) {
      val dir = java.nio.file.Files.createTempDirectory("graft_servebatch").toString
      val model = Ivf.buildIndex(emb, "vec_id", "embedding", dir,
        maxIter = 5, hierarchicalThreshold = thresh)
      val served = grouped(Ivf.probeIndexBatch(spark, dir, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 9))
      val inQuery = grouped(
        if (model.isResidual)
          Ivf.topKBatchResidual(emb, "vec_id", "embedding",
            queries, "vec_id", "embedding", 9,
            Ivf.ResidualQuantizer(model.level1, model.level2))
        else
          Ivf.topKBatch(emb, "vec_id", "embedding",
            queries, "vec_id", "embedding", 9, model.level1))
      assert(served == inQuery, s"$label served batch diverged from the in-query batch")
      assert(served.keySet.size == 5 && served.values.forall(_.size == 9),
        s"$label batch shape broke")
      // each query's own vector is in the index ⇒ self in its top-k at 1.0
      served.foreach { case (q, s) =>
        assert(s.contains((q, 1.0)), s"$label query $q missing its planted self") }
    }
    // the PQ-dir layout (codes.parquet carries the same cell/id/vec
    // columns): the exact-cosine batch probe must serve it and equal the
    // in-query batch under the dir's own persisted coarse model
    val pqDir = java.nio.file.Files.createTempDirectory("graft_servebatch_pq").toString
    graft.ops.Quantize.buildPqIndex(emb, "vec_id", "embedding", pqDir)
    val pqModel = Ivf.loadIndexModel(spark, pqDir)
    val servedPq = grouped(Ivf.probeIndexBatch(spark, pqDir, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 9))
    val inQueryPq = grouped(
      if (pqModel.isResidual)
        Ivf.topKBatchResidual(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", 9,
          Ivf.ResidualQuantizer(pqModel.level1, pqModel.level2))
      else Ivf.topKBatch(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", 9, pqModel.level1))
    assert(servedPq == inQueryPq, "PQ-layout served batch diverged from the in-query batch")
  }

  test("appendIndex: appended vectors serve immediately and equal the in-memory union probe") {
    // the index LIFECYCLE: build on half the corpus, append the rest
    // (cells from the persisted model, no retraining), and the served
    // top-k must equal the in-memory probe over the union under the SAME
    // model — plus a planted duplicate appended after the build must
    // surface first, proving appends actually reach the probe
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val half = emb.filter($"vec_id" % 2 === 0)
    val rest = emb.filter($"vec_id" % 2 =!= 0)
    val query = emb.filter($"vec_id" === 1) // odd id: arrives via append
    val dir = java.nio.file.Files.createTempDirectory("graft_append").toString
    val model = Ivf.buildIndex(half, "vec_id", "embedding", dir, maxIter = 5)
    Ivf.appendIndex(rest, "vec_id", "embedding", dir)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10))
    val inMem = pairs(Ivf.probeIndexFrame(
      model.indexOf(emb, "vec_id", "embedding"), model,
      "vec_id", "embedding", query, "embedding", k = 10, nprobe = 4))
    assert(served == inMem, "append-built index diverged from the in-memory union probe")
    assert(served.head == (1L, 1.0), s"appended self not first: ${served.head}")
  }

  test("appends refuse a dir of the wrong layout instead of splitting the index (ADVICE r13)") {
    // appendIndex on a PQ dir would otherwise SUCCEED silently: the
    // coarse model loads, invfile.parquet appears next to codes.parquet,
    // and from then on cellSource serves only appended rows while
    // probePqIndex serves only the originals — wrong on both paths
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").limit(64).localCheckpoint(true)
    val batch = emb.limit(4)
    val pqDir = java.nio.file.Files.createTempDirectory("graft_pq_guard").toString
    Quantize.buildPqIndex(emb, "vec_id", "embedding", pqDir, m = 4)
    val errPq = intercept[IllegalArgumentException] {
      Ivf.appendIndex(batch, "vec_id", "embedding", pqDir)
    }
    assert(errPq.getMessage.contains("appendPqIndex"),
      s"wrong guidance: ${errPq.getMessage}")
    assert(!new java.io.File(s"${IndexLifecycle.resolveIndexDir(spark, pqDir)}/invfile.parquet").exists(),
      "guard fired but the split invfile was still created")
    val ivfDir = java.nio.file.Files.createTempDirectory("graft_ivf_guard").toString
    Ivf.buildIndex(emb, "vec_id", "embedding", ivfDir, maxIter = 5)
    val errIvf = intercept[IllegalArgumentException] {
      Quantize.appendPqIndex(batch, "vec_id", "embedding", ivfDir)
    }
    assert(errIvf.getMessage.contains("Ivf.appendIndex"),
      s"wrong guidance: ${errIvf.getMessage}")
  }

  test("serve probe is statically partition-pruned to the probed cell directories") {
    // the 100 TB serving claim behind c14_ann_serve: the inverted file is
    // partitionBy(cell) and probed cell ids are DRIVER-computed, so the
    // isin filter must land in PartitionFilters and the scan must touch
    // only the probed cells' files — the I/O analog of "scan ~nprobe of
    // cells of the corpus" (same construction as probeIndexFrame's)
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_serveprune").toString
    val model = Ivf.buildIndex(emb, "vec_id", "embedding", dir, maxIter = 5)
    val q = emb.filter($"vec_id" === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val probedCells = model.probedCells(q, nprobe = 2)
    val inv = spark.read.parquet(s"${IndexLifecycle.resolveIndexDir(spark, dir)}/invfile.parquet")
    val probed = inv.filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("cell"),
      s"no partition filter on cell in:\n$plan")
    // collect(), not count(): count builds its OWN QueryExecution, so
    // the inspected plan's numFiles metric would stay at 0 and the
    // file-count assertions below would pass VACUOUSLY (review r16)
    probed.collect()
    val filesRead = probed.queryExecution.executedPlan
      .collectLeaves().head.metrics("numFiles").value
    val allFiles = spark.read.parquet(s"${IndexLifecycle.resolveIndexDir(spark, dir)}/invfile.parquet").inputFiles.length
    assert(filesRead > 0, "numFiles never materialized — the pin is vacuous")
    val cellDirs = new java.io.File(s"${IndexLifecycle.resolveIndexDir(spark, dir)}/invfile.parquet").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(cellDirs > probedCells.length, s"only $cellDirs cell dirs — partitioning missing")
    assert(filesRead < allFiles,
      s"scan read all $allFiles files despite the partition filter")
    assert(filesRead <= math.ceil(
        allFiles.toDouble * probedCells.length / cellDirs).toInt * 2,
      s"pruning leaked: $filesRead of $allFiles files for " +
        s"${probedCells.length} of $cellDirs cells")
  }

  test("probeIndex: never-short fallback below k; single-query contract enforced") {
    val emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
    val query = emb.filter($"vec_id" === 0)
    val tiny = emb.filter($"vec_id" =!= 0).limit(12)
      .select("vec_id", "embedding").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfserve_tiny").toString
    Ivf.buildIndex(tiny, "vec_id", "embedding", dir, maxIter = 5)
    val got = Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10).collect()
    assert(got.length == 10, s"fallback returned ${got.length} rows")
    // a multi-row query frame must FAIL, not silently score every row
    // against row 1's probed cells (advisor r12)
    val err = intercept[IllegalArgumentException] {
      Ivf.probeIndex(spark, dir, "vec_id", "embedding",
        emb.filter($"vec_id".isin(0L, 1L)), "embedding", k = 10)
    }
    assert(err.getMessage.contains("single-query"))
  }
}
