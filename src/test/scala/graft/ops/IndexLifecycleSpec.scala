package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The remove/compact half of the serve-index lifecycle (r13 verdict #3):
  * union-probe equality after remove and after compact on all three
  * layouts, emptied-cell cleanup, tombstone re-insert, and the
  * small-file bound compaction exists to enforce. */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
    .select("vec_id", "embedding")

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** The committed generation of the index root `dir`. */
  private def live(dir: String): String = IndexLifecycle.resolveIndexDir(spark, dir)

  test("IVF removeIds: probe equals the same-model probe over survivors; emptied cells vanish") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_ivf").toString
    val model = Ivf.buildIndex(corpus, "vec_id", "embedding", dir, maxIter = 5)
    // remove ids that WERE in the top-k (so the check can't pass vacuously)
    val before = pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10))
    val removed = before.take(3).map(_._1)
    assert(removed.contains(0L), "planted self not in top-3 — corpus drifted?")
    val affectedCells = spark.read.parquet(s"${live(dir)}/invfile.parquet")
      .filter($"vec_id".isin(removed: _*)).select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    IndexLifecycle.removeIds(spark, dir, removed.toDF("vec_id"), "vec_id")
    // each REWRITTEN cell lands as ONE file (LifecycleSweep caught the
    // pre-r15 fan-out: one file per task holding the cell's rows = up to
    // shuffle-partition-many files per cell after a single remove —
    // manufactured small-file pressure); untouched cells carry over as
    // the build wrote them
    affectedCells.foreach { c =>
      val d = new java.io.File(s"${live(dir)}/invfile.parquet/cell=$c")
      val nf = if (d.exists()) d.listFiles().count(_.getName.startsWith("part-")) else 0
      assert(nf <= 1, s"removeIds fanned cell=$c into $nf files")
    }
    val after = pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10))
    assert(after.map(_._1).toSet.intersect(removed.toSet).isEmpty,
      s"removed ids still served: $after")
    // union-probe equality: the survivors under the SAME persisted model
    val survivors = corpus.filter(!$"vec_id".isin(removed: _*))
    val expect = pairs(Ivf.probeIndexFrame(
      model.indexOf(survivors, "vec_id", "embedding"), model,
      "vec_id", "embedding", query, "embedding", k = 10, nprobe = 4))
    assert(after == expect, s"post-remove probe diverged: $after vs $expect")
    // emptying a whole cell leaves no directory for it in the new
    // generation
    val inv = spark.read.parquet(s"${live(dir)}/invfile.parquet").localCheckpoint(true)
    val someCell = inv.groupBy("cell").count().orderBy("count", "cell")
      .head().getInt(0)
    val cellIds = inv.filter($"cell" === someCell).select("vec_id")
      .collect().map(_.getLong(0))
    IndexLifecycle.removeIds(spark, dir, cellIds.toSeq.toDF("vec_id"), "vec_id")
    assert(!new java.io.File(s"${live(dir)}/invfile.parquet/cell=$someCell").exists(),
      s"emptied cell=$someCell directory survived")
    assert(spark.read.parquet(s"${live(dir)}/invfile.parquet")
      .filter($"cell" === someCell).count() == 0L, "stale rows in emptied cell")
    // removing ids that are not present is a no-op, as in FAISS
    val snapshot = pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10))
    IndexLifecycle.removeIds(spark, dir, Seq(888888L).toDF("vec_id"), "vec_id")
    assert(pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10)) == snapshot, "no-op removal changed the probe")
  }

  test("PQ removeIds: probe equals the same-codebook probe over surviving codes") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_pq").toString
    Quantize.buildPqIndex(corpus, "vec_id", "embedding", dir, m = 4)
    val codesBefore = spark.read.parquet(s"${live(dir)}/codes.parquet").localCheckpoint(true)
    val before = pairs(Quantize.probePqIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10))
    val removed = before.take(3).map(_._1)
    IndexLifecycle.removeIds(spark, dir, removed.toDF("vec_id"), "vec_id")
    val after = pairs(Quantize.probePqIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10))
    assert(after.map(_._1).toSet.intersect(removed.toSet).isEmpty,
      s"removed ids still served: $after")
    val expect = pairs(Quantize.pqProbeCore(
      codesBefore.filter(!$"vec_id".isin(removed: _*)),
      Quantize.loadPqIndex(spark, dir), "vec_id", "embedding",
      query, "embedding", k = 10, nprobe = 4, rerank = 100))
    assert(after == expect, s"post-remove PQ probe diverged: $after vs $expect")
  }

  test("LSH removeIds/compactIndex: tombstone probe == compacted probe == fresh build on survivors") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_lsh").toString
    Similarity.buildLshIndex(corpus, "vec_id", "embedding", dir)
    val before = pairs(Similarity.probeLshIndex(spark, dir,
      "vec_id", "embedding", query, "embedding", k = 10))
    val removed = before.take(3).map(_._1)
    assert(removed.contains(0L))
    IndexLifecycle.removeIds(spark, dir, removed.toDF("vec_id"), "vec_id")
    val tombstoned = pairs(Similarity.probeLshIndex(spark, dir,
      "vec_id", "embedding", query, "embedding", k = 10))
    assert(tombstoned.map(_._1).toSet.intersect(removed.toSet).isEmpty,
      s"tombstoned ids still served: $tombstoned")
    // sizing check: survivors at this count keep the same planes/tables,
    // so a FRESH build on them shares the seeded hyperplanes — the
    // strongest external comparator the tombstone path can have
    val survivors = corpus.filter(!$"vec_id".isin(removed: _*))
      .localCheckpoint(true)
    assert(Similarity.probePlanesFor(survivors.count()) ==
      Similarity.probePlanesFor(corpus.count()), "sizing drifted — respec")
    val freshDir = java.nio.file.Files.createTempDirectory("graft_lc_lsh_fresh").toString
    Similarity.buildLshIndex(survivors, "vec_id", "embedding", freshDir)
    val fresh = pairs(Similarity.probeLshIndex(spark, freshDir,
      "vec_id", "embedding", query, "embedding", k = 10))
    assert(tombstoned == fresh, s"tombstone probe diverged: $tombstoned vs $fresh")
    // compaction applies tombstones physically and clears them; the probe
    // is unchanged and the postings physically shrink
    val postingsBefore = spark.read.parquet(s"${live(dir)}/postings.parquet").count()
    IndexLifecycle.compactIndex(spark, dir)
    assert(!new java.io.File(s"${live(dir)}/deletes.parquet").exists(),
      "compaction left the tombstone set behind")
    val compacted = pairs(Similarity.probeLshIndex(spark, dir,
      "vec_id", "embedding", query, "embedding", k = 10))
    assert(compacted == tombstoned, s"compaction changed the probe: $compacted")
    assert(spark.read.parquet(s"${live(dir)}/postings.parquet").count() < postingsBefore,
      "compaction did not drop the removed postings")
    // row-group pruning survives the rewrite: the probe filter still
    // pushes a non-empty payload into the compacted postings scan
    val plan = spark.read.parquet(s"${live(dir)}/postings.parquet")
      .filter(col("table") === 0 && col("bucket") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("EqualTo"),
      s"probe filters no longer push after compaction:\n$plan")
  }

  test("LSH re-insert: appending a tombstoned id un-deletes it") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_reins").toString
    Similarity.buildLshIndex(corpus.filter($"vec_id" =!= 3), "vec_id", "embedding", dir)
    val three = corpus.filter($"vec_id" === 3).localCheckpoint(true)
    Similarity.appendLshIndex(three, "vec_id", "embedding", dir)
    IndexLifecycle.removeIds(spark, dir, Seq(3L).toDF("vec_id"), "vec_id")
    assert(!pairs(Similarity.probeLshIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 500)).map(_._1).contains(3L), "tombstone ignored")
    Similarity.appendLshIndex(three, "vec_id", "embedding", dir)
    assert(pairs(Similarity.probeLshIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 500)).map(_._1).contains(3L),
      "re-inserted id still tombstoned")
  }

  test("LSH torn append is benign: orphan postings serve nothing, completing the append heals") {
    // appendLshIndex writes POSTINGS FIRST (fence-per-write): a crash or
    // zombie fence abort between its two appends leaves orphan postings
    // rows, which every probe path must drop at the postings⋈vectors
    // join — the same embraced semantics as tombstoned removal's stale
    // postings. The reverse order would strand fallback-visible vectors
    // and split the answer across probe paths; this spec pins the
    // benign-torn contract so a reorder trips it.
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_torn").toString
    Similarity.buildLshIndex(corpus.filter($"vec_id" =!= 3), "vec_id", "embedding", dir)
    val three = corpus.filter($"vec_id" === 3).localCheckpoint(true)
    // reproduce the torn state: the verb's own postings write, no vectors
    val meta = spark.read.parquet(s"${live(dir)}/meta.parquet").head()
    Similarity.lshIndex(three, "vec_id", "embedding",
        meta.getAs[Int]("tables"), meta.getAs[Int]("planes"),
        meta.getAs[Int]("dim"), meta.getAs[Long]("seed"))
      .select(col("table"), col("bucket"), col("vec_id"))
      .write.mode("append").parquet(s"${live(dir)}/postings.parquet")
    // bucketed probe AND the k-starved exact fallback agree: id 3 absent
    val bucketed = pairs(Similarity.probeLshIndex(spark, dir, "vec_id",
      "embedding", query, "embedding", k = 10)).map(_._1)
    assert(!bucketed.contains(3L), "orphan posting served by the bucketed probe")
    val starved = pairs(Similarity.probeLshIndex(spark, dir, "vec_id",
      "embedding", query, "embedding", k = 500)).map(_._1)
    assert(!starved.contains(3L), "orphan posting served by the exact fallback")
    assert(starved.nonEmpty && !starved.contains(3L))
    // a retried FULL append heals: id 3 serves on both paths, exactly once
    Similarity.appendLshIndex(three, "vec_id", "embedding", dir)
    val healed = pairs(Similarity.probeLshIndex(spark, dir, "vec_id",
      "embedding", query, "embedding", k = 500)).map(_._1)
    assert(healed.contains(3L), "completed append still unserved")
    assert(healed.count(_ == 3L) == 1,
      "duplicate postings leaked duplicate results through candidate dedup")
  }

  test("IVF compactIndex: append-accumulated small files merge; probe unchanged") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_compact").toString
    Ivf.buildIndex(corpus.filter($"vec_id" < 400), "vec_id", "embedding", dir,
      maxIter = 5)
    // five appends: every touched cell gains a file batch per append
    (0 until 5).foreach { i =>
      Ivf.appendIndex(corpus.filter($"vec_id" >= 400 + i * 20 &&
        $"vec_id" < 400 + (i + 1) * 20), "vec_id", "embedding", dir)
    }
    def filesPerCell: Map[String, Int] =
      new java.io.File(s"${live(dir)}/invfile.parquet").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.startsWith("part-"))).toMap
    val beforeFiles = filesPerCell
    assert(beforeFiles.values.max > 3,
      s"appends produced no small-file pressure: $beforeFiles")
    val before = pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10))
    IndexLifecycle.compactIndex(spark, dir, maxFilesPerCell = 3)
    val afterFiles = filesPerCell
    assert(afterFiles.values.max <= 3,
      s"compaction left heavy cells: $afterFiles")
    // untouched (light) cells keep their files — compaction is targeted
    beforeFiles.filter(_._2 <= 3).foreach { case (cell, n) =>
      assert(afterFiles(cell) == n, s"light cell $cell was rewritten")
    }
    val after = pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10))
    assert(after == before, s"compaction changed the probe: $after vs $before")
  }

  test("rebuildIndex: fresh training from the index's own rows; stats reset; artifacts consistent") {
    val corpus = emb.localCheckpoint(true)
    val n = corpus.count()
    val query = corpus.filter($"vec_id" === 0)
    def stats(dir: String) = IndexLifecycle.indexStats(spark, dir).head()

    // IVF: build half, append a quarter, remove a few — then rebuild.
    val ivfDir = java.nio.file.Files.createTempDirectory("graft_rb_ivf").toString
    Ivf.buildIndex(corpus.filter($"vec_id" < n / 2), "vec_id", "embedding",
      ivfDir, maxIter = 5)
    Ivf.appendIndex(corpus.filter($"vec_id" >= n / 2 && $"vec_id" < 3 * n / 4),
      "vec_id", "embedding", ivfDir)
    IndexLifecycle.removeIds(spark, ivfDir,
      Seq(5L, 6L, 7L).toDF("vec_id"), "vec_id")
    assert(stats(ivfDir).getAs[Double]("appended_fraction") > 0.0)
    IndexLifecycle.rebuildIndex(spark, ivfDir, maxIter = Some(5))
    val si = stats(ivfDir)
    val expectIds = corpus.filter($"vec_id" < 3 * n / 4 &&
      !$"vec_id".isin(5L, 6L, 7L)).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(si.getAs[String]("layout") == "ivf" &&
      si.getAs[Long]("live_rows") == expectIds.size &&
      si.getAs[Long]("built_rows") == expectIds.size &&
      si.getAs[Double]("appended_fraction") == 0.0, s"stats not reset: $si")
    val inv = spark.read.parquet(s"${live(ivfDir)}/invfile.parquet").localCheckpoint(true)
    assert(inv.select("vec_id").collect().map(_.getLong(0)).toSet == expectIds,
      "rebuilt inverted file lost or invented rows")
    // written cells must match the written centroids — the mixed-artifact
    // hazard the one-commit rebuild exists to prevent: re-assigning the
    // rebuilt rows under the rebuilt model must reproduce the cell column
    val model = Ivf.loadIndexModel(spark, ivfDir)
    val reassigned = model.indexOf(inv.select("vec_id", "embedding"),
      "vec_id", "embedding").select($"vec_id", $"cell".as("re_cell"))
    assert(inv.join(reassigned, Seq("vec_id"))
      .filter($"cell" =!= $"re_cell").count() == 0L,
      "rebuilt cells diverge from the rebuilt centroids")
    // the planted self answers first through the rebuilt index
    val top = pairs(Ivf.probeIndex(spark, ivfDir, "vec_id", "embedding",
      query, "embedding", k = 5))
    assert(top.head._1 == 0L, s"planted self not first after rebuild: $top")

    // PQ: geometry (m) carries over from books.parquet; stats reset.
    val pqDir = java.nio.file.Files.createTempDirectory("graft_rb_pq").toString
    Quantize.buildPqIndex(corpus.filter($"vec_id" < n / 2), "vec_id",
      "embedding", pqDir, m = 4)
    Quantize.appendPqIndex(corpus.filter($"vec_id" >= n / 2), "vec_id",
      "embedding", pqDir)
    IndexLifecycle.rebuildIndex(spark, pqDir)
    val sp = stats(pqDir)
    assert(sp.getAs[String]("layout") == "pq" &&
      sp.getAs[Long]("live_rows") == n &&
      sp.getAs[Double]("appended_fraction") == 0.0, s"PQ stats not reset: $sp")
    assert(spark.read.parquet(s"${live(pqDir)}/books.parquet")
      .agg(countDistinct($"j")).head().getLong(0) == 4L,
      "rebuild dropped the persisted PQ geometry")
    assert(pairs(Quantize.probePqIndex(spark, pqDir, "vec_id", "embedding",
      query, "embedding", k = 5)).head._1 == 0L)

    // LSH: rebuild is the ONE lifecycle step allowed to re-run the
    // occupancy sizing — build small, append 9x (blowing bucket
    // occupancy), rebuild, and the plane count must grow to the sized
    // value for the union. Tombstones apply physically; the rebuilt dir
    // is bit-equal to a fresh build on the survivors (no training, so
    // full determinism — the strongest comparator).
    val rnd = new scala.util.Random(11)
    val big = (1L to 3000L).map(i =>
        (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val lshDir = java.nio.file.Files.createTempDirectory("graft_rb_lsh").toString
    Similarity.buildLshIndex(big.filter($"vec_id" <= 300), "vec_id",
      "embedding", lshDir)
    val planesBefore = spark.read.parquet(s"${live(lshDir)}/meta.parquet")
      .head().getAs[Int]("planes")
    Similarity.appendLshIndex(big.filter($"vec_id" > 300), "vec_id",
      "embedding", lshDir)
    IndexLifecycle.removeIds(spark, lshDir,
      Seq(2999L, 3000L).toDF("vec_id"), "vec_id")
    IndexLifecycle.rebuildIndex(spark, lshDir)
    val planesAfter = spark.read.parquet(s"${live(lshDir)}/meta.parquet")
      .head().getAs[Int]("planes")
    assert(planesAfter == Similarity.probePlanesFor(2998L) &&
      planesAfter > planesBefore,
      s"rebuild did not re-size: $planesBefore -> $planesAfter")
    val sl = stats(lshDir)
    assert(sl.getAs[String]("layout") == "lsh" &&
      sl.getAs[Long]("live_rows") == 2998L &&
      sl.getAs[Long]("built_rows") == 2998L &&
      sl.getAs[Long]("tombstones") == 0L, s"LSH stats not reset: $sl")
    val freshDir = java.nio.file.Files.createTempDirectory("graft_rb_fresh").toString
    Similarity.buildLshIndex(big.filter($"vec_id" <= 2998L), "vec_id",
      "embedding", freshDir)
    val q2 = big.filter($"vec_id" === 17L)
    val viaRebuild = pairs(Similarity.probeLshIndex(spark, lshDir,
      "vec_id", "embedding", q2, "embedding", k = 10))
    val viaFresh = pairs(Similarity.probeLshIndex(spark, freshDir,
      "vec_id", "embedding", q2, "embedding", k = 10))
    assert(viaRebuild == viaFresh,
      s"rebuilt LSH dir diverges from a fresh build: $viaRebuild vs $viaFresh")
  }

  test("maintainIndex: one action per pass in severity order, idempotent at the fixpoint") {
    val corpus = emb.localCheckpoint(true)
    val n = corpus.count()
    def stats(dir: String) = IndexLifecycle.indexStats(spark, dir).head()

    // fresh build → nothing to do
    val dir = java.nio.file.Files.createTempDirectory("graft_mt_ivf").toString
    Ivf.buildIndex(corpus.filter($"vec_id" < n / 2), "vec_id", "embedding",
      dir, maxIter = 5)
    assert(IndexLifecycle.maintainIndex(spark, dir) == "none")

    // pile appends: small-file pressure but fraction well under 0.5 →
    // compact wins
    (0 until 5).foreach { i =>
      Ivf.appendIndex(corpus.filter($"vec_id" >= n / 2 + i * 20 &&
        $"vec_id" < n / 2 + (i + 1) * 20), "vec_id", "embedding", dir)
    }
    assert(stats(dir).getAs[Double]("appended_fraction") < 0.5)
    assert(stats(dir).getAs[Int]("max_files_per_cell") > 4,
      "appends produced no file pressure — respec")
    assert(IndexLifecycle.maintainIndex(spark, dir) == "compact")
    assert(stats(dir).getAs[Int]("max_files_per_cell") <= 4)
    assert(IndexLifecycle.maintainIndex(spark, dir) == "none", "not idempotent")

    // append past the threshold → rebuild beats compact, resets fraction
    // (rebuildAt passed explicitly: the branch under test is severity
    // order, not the default constant)
    Ivf.appendIndex(corpus.filter($"vec_id" >= n / 2 + 100), "vec_id",
      "embedding", dir)
    val fracBefore = stats(dir).getAs[Double]("appended_fraction")
    assert(fracBefore > 0.0, "fixture drifted")
    assert(IndexLifecycle.maintainIndex(spark, dir, rebuildAt = fracBefore) ==
      "rebuild")
    val after = stats(dir)
    assert(after.getAs[Double]("appended_fraction") == 0.0 &&
      after.getAs[Long]("built_rows") == after.getAs[Long]("live_rows"))
    assert(IndexLifecycle.maintainIndex(spark, dir) == "none", "not idempotent")

    // LSH: the tombstone backlog fires compaction only at the THRESHOLD
    // max(minTombstoneBacklog, tombstoneFraction·live) — LSH compaction
    // is a wholesale postings+vectors rewrite, so one removed id must
    // not cost it (r14 verdict #2, the Lucene/Delta deletion-vector
    // cadence). A sub-threshold backlog waits: "none", but every probe
    // still serves the tombstones OUT.
    val lshDir = java.nio.file.Files.createTempDirectory("graft_mt_lsh").toString
    Similarity.buildLshIndex(corpus, "vec_id", "embedding", lshDir)
    IndexLifecycle.removeIds(spark, lshDir, Seq(3L).toDF("vec_id"), "vec_id")
    assert(IndexLifecycle.maintainIndex(spark, lshDir) == "none",
      "sub-threshold backlog fired a wholesale postings rewrite")
    assert(stats(lshDir).getAs[Long]("tombstones") == 1L,
      "the waiting backlog was dropped")
    assert(!pairs(Similarity.probeLshIndex(spark, lshDir, "vec_id",
      "embedding", corpus.filter($"vec_id" === 0), "embedding", k = 500))
      .map(_._1).contains(3L),
      "sub-threshold tombstone not served out of the probe")
    // both operands of the max(): a dominating fraction keeps waiting...
    assert(IndexLifecycle.maintainIndex(spark, lshDir,
      minTombstoneBacklog = 1L, tombstoneFraction = 0.9) == "none",
      "fraction operand ignored")
    // ...and at threshold the compaction fires and clears the backlog
    assert(IndexLifecycle.maintainIndex(spark, lshDir,
      minTombstoneBacklog = 1L, tombstoneFraction = 0.0) == "compact")
    assert(stats(lshDir).getAs[Long]("tombstones") == 0L)
    assert(IndexLifecycle.maintainIndex(spark, lshDir) == "none")
    // LSH file pressure measures against its OWN bound: the postings
    // file-count baseline is the build's write parallelism, so the
    // per-cell bound must not apply (it would fire right after a healthy
    // build and never reach the fixpoint — LSH compaction rewrites back
    // to parallelism-many files). A bound below the current count fires;
    // the default, sized above shuffle parallelism, does not.
    assert(stats(lshDir).getAs[Int]("max_files_per_cell") > 0)
    assert(IndexLifecycle.maintainIndex(spark, lshDir,
      lshMaxPostingsFiles = 0) == "compact")
    assert(IndexLifecycle.maintainIndex(spark, lshDir) == "none")

    // a pre-counter dir (no buildinfo) must never rebuild on a guess
    val (fs, bi) = {
      val p = new org.apache.hadoop.fs.Path(s"${live(lshDir)}/buildinfo.parquet")
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    fs.delete(bi, true)
    assert(IndexLifecycle.maintainIndex(spark, lshDir, rebuildAt = 0.0) == "none",
      "rebuilt on a fabricated fraction")
  }

  test("duplicate-postings pressure: fraction reported, probes unaffected, maintain compacts, fraction resets (r17 verdict #5)") {
    // appendLshIndex lands postings FIRST, so a crash-then-retry bakes
    // exact-duplicate (table, bucket, id) postings rows. Per-probe
    // candidate dedup absorbs them CORRECTLY — but every probe pays the
    // inflated candidate volume forever unless something measures the
    // pressure: indexStats' postings_dup_fraction, thresholded in
    // maintainIndex, with compaction's distinct() as the reset.
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    def stats(dir: String) = IndexLifecycle.indexStats(spark, dir).head()
    val dir = java.nio.file.Files.createTempDirectory("graft_mt_dup").toString
    Similarity.buildLshIndex(corpus, "vec_id", "embedding", dir)
    assert(stats(dir).getAs[Double]("postings_dup_fraction") == 0.0,
      "fresh build reports duplicates")
    val before = pairs(Similarity.probeLshIndex(spark, dir, "vec_id",
      "embedding", query, "embedding", k = 10))
    // the torn-retry state: every postings row twice (a full re-post of
    // the whole build is the worst case — fraction 0.5). Materialize the
    // copy first: appending into a path while lazily reading it races
    // the scan's file listing.
    val copy = spark.read.parquet(s"${live(dir)}/postings.parquet")
      .localCheckpoint(true)
    copy.write.mode("append").parquet(s"${live(dir)}/postings.parquet")
    assert(stats(dir).getAs[Double]("postings_dup_fraction") == 0.5,
      s"full re-post must read as fraction 0.5: ${stats(dir)}")
    assert(pairs(Similarity.probeLshIndex(spark, dir, "vec_id",
      "embedding", query, "embedding", k = 10)) == before,
      "candidate dedup no longer absorbs duplicate postings")
    // sub-threshold waits (the rewrite-amplification rule: one retry
    // must not cost a wholesale postings rewrite)...
    assert(IndexLifecycle.maintainIndex(spark, dir,
      maxDuplicateFraction = 0.6) == "none",
      "sub-threshold duplicate fraction fired a wholesale rewrite")
    // ...at the default threshold (0.5 > 0.25) the compaction fires,
    // distinct() kills the duplicates, and the metric resets
    assert(IndexLifecycle.maintainIndex(spark, dir) == "compact")
    val after = stats(dir)
    assert(after.getAs[Double]("postings_dup_fraction") == 0.0,
      s"compaction left duplicates behind: $after")
    assert(IndexLifecycle.maintainIndex(spark, dir) == "none", "not idempotent")
    // the rule is STRICT: threshold 0 = "compact on any duplicate", so a
    // clean index at threshold 0 must still be a fixpoint
    assert(IndexLifecycle.maintainIndex(spark, dir,
      maxDuplicateFraction = 0.0) == "none",
      "clean index fired the duplicate rule at threshold 0")
    assert(pairs(Similarity.probeLshIndex(spark, dir, "vec_id",
      "embedding", query, "embedding", k = 10)) == before,
      "dedup compaction changed probe results")
    // the FULL-retry shape (crash after the vectors write): duplicate
    // VECTORS rows ride along too — probes stay right (candidate
    // dedup), live_rows reads the physical inflation, and the same
    // compaction collapses exact-duplicate rows so a later rebuild
    // never trains on them
    val n = corpus.count()
    val vCopy = spark.read.parquet(s"${live(dir)}/vectors.parquet")
      .localCheckpoint(true)
    vCopy.write.mode("append").parquet(s"${live(dir)}/vectors.parquet")
    spark.read.parquet(s"${live(dir)}/postings.parquet").localCheckpoint(true)
      .write.mode("append").parquet(s"${live(dir)}/postings.parquet")
    assert(stats(dir).getAs[Long]("live_rows") == 2 * n,
      "vectors duplication fixture did not take")
    assert(pairs(Similarity.probeLshIndex(spark, dir, "vec_id",
      "embedding", query, "embedding", k = 10)) == before,
      "candidate dedup no longer absorbs duplicate vectors rows")
    // the doubled live_rows also inflates appended_fraction to 0.5, so
    // the default severity order would rebuild first (also operable —
    // the metric keeps duplicates visible through a rebuild, and the
    // next compaction still collapses them); rebuildAt 1.01 isolates
    // the compact arm this pin is about
    assert(IndexLifecycle.maintainIndex(spark, dir, rebuildAt = 1.01) ==
      "compact")
    val afterFull = stats(dir)
    assert(afterFull.getAs[Long]("live_rows") == n &&
      afterFull.getAs[Double]("postings_dup_fraction") == 0.0,
      s"full-retry duplicates survived compaction: $afterFull")
    assert(pairs(Similarity.probeLshIndex(spark, dir, "vec_id",
      "embedding", query, "embedding", k = 10)) == before)

    // cell layouts have no postings table: the column is NULL, and the
    // pressure rule must not fire on it
    val ivfDir = java.nio.file.Files.createTempDirectory("graft_mt_dup_ivf").toString
    Ivf.buildIndex(corpus, "vec_id", "embedding", ivfDir, maxIter = 5)
    assert(stats(ivfDir).getAs[java.lang.Double]("postings_dup_fraction") == null,
      "cell layout fabricated a duplicate fraction")
    assert(IndexLifecycle.maintainIndex(spark, ivfDir,
      maxDuplicateFraction = 0.0) == "none",
      "NULL duplicate fraction tripped the pressure rule")
  }

  test("indexStats tracks the lifecycle arithmetic on all three layouts") {
    val corpus = emb.localCheckpoint(true)
    val n = corpus.count()
    def stats(dir: String) =
      IndexLifecycle.indexStats(spark, dir).head()
    // IVF: fresh build → appended_fraction 0; append half the built size
    // → fraction = appended/(built+appended); remove → fraction clamps,
    // live drops, tombstones stay 0 (default cell removes compact at once)
    val ivfDir = java.nio.file.Files.createTempDirectory("graft_st_ivf").toString
    val nBuilt = n / 2
    Ivf.buildIndex(corpus.filter($"vec_id" < nBuilt), "vec_id", "embedding",
      ivfDir, maxIter = 5)
    val s0 = stats(ivfDir)
    assert(s0.getAs[String]("layout") == "ivf")
    assert(s0.getAs[Long]("live_rows") == nBuilt &&
      s0.getAs[Long]("built_rows") == nBuilt)
    assert(s0.getAs[Double]("appended_fraction") == 0.0)
    assert(s0.getAs[Long]("tombstones") == 0L)
    val nApp = nBuilt / 2
    Ivf.appendIndex(corpus.filter($"vec_id" >= nBuilt &&
      $"vec_id" < nBuilt + nApp), "vec_id", "embedding", ivfDir)
    val s1 = stats(ivfDir)
    assert(s1.getAs[Long]("live_rows") == nBuilt + nApp)
    assert(s1.getAs[Double]("appended_fraction") ==
      math.rint(nApp.toDouble / (nBuilt + nApp) * 10000) / 10000,
      s"fraction off: $s1")
    IndexLifecycle.removeIds(spark, ivfDir,
      corpus.filter($"vec_id" < 5).select("vec_id"), "vec_id")
    val s2 = stats(ivfDir)
    assert(s2.getAs[Long]("live_rows") == nBuilt + nApp - 5)
    assert(s2.getAs[Long]("tombstones") == 0L, "a default cell-layout remove left a backlog")
    // PQ layout reports itself
    val pqDir = java.nio.file.Files.createTempDirectory("graft_st_pq").toString
    Quantize.buildPqIndex(corpus, "vec_id", "embedding", pqDir, m = 4)
    val sp = stats(pqDir)
    assert(sp.getAs[String]("layout") == "pq" &&
      sp.getAs[Long]("live_rows") == n &&
      sp.getAs[Double]("appended_fraction") == 0.0)
    // LSH: tombstones count the removeIds backlog and compaction clears
    // it; live_rows serves tombstones OUT (the probe's view, not the
    // file's); max_files_per_cell is the postings file count
    val lshDir = java.nio.file.Files.createTempDirectory("graft_st_lsh").toString
    Similarity.buildLshIndex(corpus, "vec_id", "embedding", lshDir)
    val l0 = stats(lshDir)
    assert(l0.getAs[String]("layout") == "lsh" &&
      l0.getAs[Long]("live_rows") == n &&
      l0.getAs[Long]("tombstones") == 0L)
    assert(l0.getAs[Long]("cells") > 0L)
    IndexLifecycle.removeIds(spark, lshDir,
      corpus.filter($"vec_id" < 7).select("vec_id"), "vec_id")
    val l1 = stats(lshDir)
    assert(l1.getAs[Long]("tombstones") == 7L && l1.getAs[Long]("live_rows") == n - 7)
    IndexLifecycle.compactIndex(spark, lshDir)
    val l2 = stats(lshDir)
    assert(l2.getAs[Long]("tombstones") == 0L && l2.getAs[Long]("live_rows") == n - 7)
    // a dir built before buildinfo existed reports NULL, not a lie
    val (fs, bi) = {
      val p = new org.apache.hadoop.fs.Path(s"${live(lshDir)}/buildinfo.parquet")
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    fs.delete(bi, true)
    val l3 = stats(lshDir)
    assert(l3.isNullAt(l3.fieldIndex("built_rows")) &&
      l3.isNullAt(l3.fieldIndex("appended_fraction")),
      "missing buildinfo must report NULL, not fabricate a fraction")
  }

  test("swap crash recovery: an interrupted tombstone swap never resurrects removed ids") {
    // a tombstone replace is a new generation of the nested
    // deletes.parquet root plus one commit: a crash before the commit
    // leaves an orphan generation — complete or torn — that no reader
    // resolves, so the committed set keeps serving; the next flip
    // reclaims the orphans
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_swaprec").toString + "/idx"
    Similarity.buildLshIndex(corpus, "vec_id", "embedding", dir)
    IndexLifecycle.removeIds(spark, dir, Seq(3L).toDF("vec_id"), "vec_id")
    def served: Set[Long] = pairs(Similarity.probeLshIndex(spark, dir,
      "vec_id", "embedding", query, "embedding", k = 500)).map(_._1).toSet
    assert(!served.contains(3L), "fixture: tombstone not serving")
    val del = s"${live(dir)}/deletes.parquet"

    // crash state A: a COMPLETE replacement set that would un-delete 3
    // and delete 4, never committed
    Seq(4L).toDF("vec_id").write.parquet(s"$del/gen-crashed00001")
    // crash state B: a TORN replacement set (the write itself died)
    new java.io.File(s"$del/gen-torn0000002").mkdirs()
    new java.io.File(s"$del/gen-torn0000002/part-torn.parquet").createNewFile()
    val afterCrash = served
    assert(!afterCrash.contains(3L),
      "an uncommitted tombstone generation resurrected a removed id")
    assert(afterCrash.contains(4L), "an uncommitted tombstone generation was served")

    // the next tombstone flip lands and reclaims both orphans
    IndexLifecycle.removeIds(spark, dir, Seq(4L).toDF("vec_id"), "vec_id")
    val after = served
    assert(!after.contains(3L) && !after.contains(4L), "the flip lost a removal")
    val gens = new java.io.File(del).listFiles().map(_.getName).filter(_.startsWith("gen-"))
    assert(gens.length == 1 && !gens.exists(n => n.contains("crashed") || n.contains("torn")),
      s"the flip GC left orphan tombstone generations: ${gens.mkString(",")}")
  }

  test("whole-dir rebuild crash recovery: readers self-heal, torn rebuilds never serve") {
    // a rebuild writes a fresh generation and publishes it with ONE
    // commit: a crash before the commit leaves an orphan generation —
    // complete or torn — that readers never resolve (no repair step
    // exists), and the next flip reclaims it
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_dirrec").toString + "/idx"
    Ivf.buildIndex(corpus, "vec_id", "embedding", dir, maxIter = 5)
    def topIds(k: Int): Seq[Long] = pairs(Ivf.probeIndex(spark, dir, "vec_id",
      "embedding", query, "embedding", k = k)).map(_._1)
    val before = topIds(10)

    // state A: a COMPLETE rebuild (on the corpus minus id 5, so serving
    // it would be observable) that crashed before its commit
    Ivf.writeIndex(corpus.filter($"vec_id" =!= 5), "vec_id", "embedding",
      s"$dir/gen-crashedrebuild", nprobe = 4, seed = 42L, sampleFraction = 1.0,
      maxIter = 5, hierarchicalThreshold = Dedup.HierarchicalCellsThreshold)
    assert(topIds(10) == before, "an uncommitted rebuild generation was served")
    assert(topIds(600).contains(5L), "an uncommitted rebuild generation was served")

    // state B: a TORN rebuild generation
    new java.io.File(s"$dir/gen-tornrebuild/invfile.parquet").mkdirs()
    assert(topIds(10) == before, "a torn rebuild generation was served")

    // a normal rebuild flips and reclaims both orphans
    IndexLifecycle.rebuildIndex(spark, dir, maxIter = Some(5))
    val gens = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("gen-"))
    assert(gens.length == 1 && !gens.exists(n => n.contains("crashed") || n.contains("torn")),
      s"the rebuild flip left orphan generations: ${gens.mkString(",")}")
    assert(topIds(10).nonEmpty)
  }

  test("rebuildIndex defaults to the PERSISTED build parameters (ADVICE r14)") {
    val corpus = emb.localCheckpoint(true)
    val n = corpus.count()
    def level1Cells(dir: String): Long =
      spark.read.parquet(s"${live(dir)}/centroids.parquet")
        .filter($"level" === 1).count()
    def info(dir: String) = spark.read.parquet(s"${live(dir)}/buildinfo.parquet").head()

    // IVF: non-default nprobe/seed/maxIter persist and survive a
    // default-args rebuild — cells re-size under the ORIGINAL nprobe
    val ivfDir = java.nio.file.Files.createTempDirectory("graft_bp_ivf").toString
    Ivf.buildIndex(corpus, "vec_id", "embedding", ivfDir,
      nprobe = 16, seed = 7L, maxIter = 3)
    assert(level1Cells(ivfDir) == Ivf.clampK(Ivf.cellsForSearch(n, 16), n))
    assert(Ivf.clampK(Ivf.cellsForSearch(n, 16), n) !=
      Ivf.clampK(Ivf.cellsForSearch(n, 4), n),
      "nprobe=16 and nprobe=4 size the same at this n — respec")
    IndexLifecycle.rebuildIndex(spark, ivfDir) // all defaults
    assert(level1Cells(ivfDir) == Ivf.clampK(Ivf.cellsForSearch(n, 16), n),
      "rebuild re-sized cells under the hardcoded nprobe default")
    val bi = info(ivfDir)
    assert(bi.getAs[Int]("nprobe") == 16 && bi.getAs[Long]("seed") == 7L &&
      bi.getAs[Int]("max_iter") == 3,
      s"rebuilt buildinfo lost the requested params: $bi")
    // an explicit override still wins over the persisted value
    IndexLifecycle.rebuildIndex(spark, ivfDir, nprobe = Some(4))
    assert(level1Cells(ivfDir) == Ivf.clampK(Ivf.cellsForSearch(n, 4), n),
      "explicit nprobe override ignored")
    assert(info(ivfDir).getAs[Int]("nprobe") == 4,
      "override not persisted as the new request")

    // LSH: base_tables (the one sizing INPUT meta.parquet doesn't carry)
    // persists and drives the rebuild's table compensation
    val lshDir = java.nio.file.Files.createTempDirectory("graft_bp_lsh").toString
    Similarity.buildLshIndex(corpus, "vec_id", "embedding", lshDir,
      baseTables = 12)
    IndexLifecycle.rebuildIndex(spark, lshDir)
    val meta = spark.read.parquet(s"${live(lshDir)}/meta.parquet").head()
    assert(meta.getAs[Int]("tables") ==
      Similarity.probeTablesFor(meta.getAs[Int]("planes"), 12),
      s"rebuild re-sized tables under the default baseTables: $meta")

    // PQ: the REQUESTED codebook size persists and re-clamps against the
    // LIVE count on rebuild — a codebook that trained clamped on a tiny
    // corpus grows back once the corpus has (the clampK-never-grows trap)
    val pqDir = java.nio.file.Files.createTempDirectory("graft_bp_pq").toString
    val tiny = corpus.filter($"vec_id" < 20).localCheckpoint(true)
    Quantize.buildPqIndex(tiny, "vec_id", "embedding", pqDir,
      m = 4, codebookSize = 64)
    // the trained codebook is AT MOST clamp(64, 20) = 20 entries (KMeans
    // also dedups collapsed centers — singleton-cell residuals are all
    // the zero vector — so it can land below the clamp; the pin is the
    // bound, not the exact count)
    def trainedCb(dir: String): Long =
      spark.read.parquet(s"${live(dir)}/books.parquet")
        .agg(countDistinct($"c")).head().getLong(0)
    val cbTiny = trainedCb(pqDir)
    assert(cbTiny <= 20L, "clamp did not bind — respec the fixture")
    Quantize.appendPqIndex(corpus.filter($"vec_id" >= 20 && $"vec_id" < 340),
      "vec_id", "embedding", pqDir)
    IndexLifecycle.rebuildIndex(spark, pqDir)
    assert(trainedCb(pqDir) > 20L,
      s"rebuild kept the clamp-shrunk codebook ($cbTiny -> ${trainedCb(pqDir)}) " +
        "instead of re-clamping the persisted request against the grown corpus")
    val pbi = info(pqDir)
    assert(pbi.getAs[Int]("codebook_size") == 64 && pbi.getAs[Int]("m") == 4,
      s"PQ rebuild lost the requested geometry: $pbi")
  }

  test("cell-layout TOMBSTONED removeIds: probes serve survivors at O(batch) write cost; compaction applies and clears (r15 verdict #3)") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_tomb_ivf").toString
    val model = Ivf.buildIndex(corpus, "vec_id", "embedding", dir, maxIter = 5)
    val before = pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10))
    val removed = before.take(3).map(_._1)
    val filesBefore = spark.read.parquet(s"${live(dir)}/invfile.parquet").inputFiles.sorted
    IndexLifecycle.removeIds(spark, dir, removed.toDF("vec_id"), "vec_id",
      tombstone = true)
    // the scattered-batch point: NO cell directory was rewritten — the
    // write cost is the backlog's, flat in how many cells the batch touches
    assert(spark.read.parquet(s"${live(dir)}/invfile.parquet").inputFiles.sorted
        .sameElements(filesBefore),
      "tombstoned remove rewrote cell files — that is the physical path's job")
    // single probe, batch probe (via cellSource — the streaming probe's
    // source too): all serve the survivors
    val after = pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10))
    assert(after.map(_._1).toSet.intersect(removed.toSet).isEmpty,
      s"tombstoned ids still served: $after")
    val survivors = corpus.filter(!$"vec_id".isin(removed: _*))
    val expect = pairs(Ivf.probeIndexFrame(
      model.indexOf(survivors, "vec_id", "embedding"), model,
      "vec_id", "embedding", query, "embedding", k = 10, nprobe = 4))
    assert(after == expect, s"union-probe equality broke: $after vs $expect")
    val batchIds = Ivf.probeIndexBatch(spark, dir, "vec_id", "embedding",
      query, "vec_id", "embedding", k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(batchIds.intersect(removed.toSet).isEmpty,
      "batch probe (cellSource) served tombstoned ids")
    // static partition pruning must survive the tombstone ANTI-join the
    // same way it survives the selector semi-join (FilteredProbeSpec's
    // pin): the probed-cell filter still reaches the scan while the
    // backlog is pending
    locally {
      val q0 = query.select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val probedCells = model.probedCells(q0, nprobe = 2)
      val pruned = IndexLifecycle.minusTombstones(spark, dir,
          spark.read.parquet(s"${live(dir)}/invfile.parquet"), "vec_id")
        .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
      // collect(), not count(): count builds its OWN QueryExecution and
      // the inspected plan's numFiles would stay 0 (vacuous; review r16)
      pruned.collect()
      def fileScans(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          fileScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          fileScans(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(fileScans)
      }
      val scans = fileScans(pruned.queryExecution.executedPlan)
      assert(scans.length == 1 && scans.head.partitionFilters.nonEmpty,
        s"cell filter did not reach PartitionFilters under the tombstone anti-join")
      val allFiles = spark.read.parquet(s"${live(dir)}/invfile.parquet").inputFiles.length
      val filesRead = scans.head.metrics("numFiles").value
      assert(filesRead > 0, "numFiles never materialized — the pin is vacuous")
      assert(filesRead < allFiles,
        "tombstone anti-join defeated static pruning: scan read every file")
    }
    // stats: backlog visible, live serves it out — the maintenance
    // threshold reads the exact numbers the LSH arm reads
    val st = IndexLifecycle.indexStats(spark, dir).head()
    assert(st.getAs[Long]("tombstones") == removed.length.toLong)
    assert(st.getAs[Long]("live_rows") == corpus.count() - removed.length)
    // maintainIndex thresholds the cell backlog IDENTICALLY to LSH:
    // below the floor it waits, at it it compacts
    assert(IndexLifecycle.maintainIndex(spark, dir,
      minTombstoneBacklog = 64L) == "none")
    assert(IndexLifecycle.maintainIndex(spark, dir,
      minTombstoneBacklog = 1L, tombstoneFraction = 0.0) == "compact")
    // compaction applied the batch physically and cleared the backlog
    assert(!new java.io.File(s"${live(dir)}/deletes.parquet").exists(),
      "compaction did not clear the tombstone set")
    assert(spark.read.parquet(s"${live(dir)}/invfile.parquet")
        .filter($"vec_id".isin(removed: _*)).count() == 0,
      "compaction did not apply tombstones physically")
    assert(pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10)) == after,
      "probe changed across compaction — it must only change WHERE rows live")
    val st2 = IndexLifecycle.indexStats(spark, dir).head()
    assert(st2.getAs[Long]("tombstones") == 0L)
  }

  test("PQ tombstoned removeIds: probe equality, re-insert un-deletes, rebuild applies the backlog") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_tomb_pq").toString
    Quantize.buildPqIndex(corpus, "vec_id", "embedding", dir, m = 4)
    val before = pairs(Quantize.probePqIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10).select("vec_id", "sim"))
    val removed = before.take(2).map(_._1)
    IndexLifecycle.removeIds(spark, dir, removed.toDF("vec_id"), "vec_id",
      tombstone = true)
    val after = pairs(Quantize.probePqIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10).select("vec_id", "sim"))
    assert(after.map(_._1).toSet.intersect(removed.toSet).isEmpty,
      "PQ probe served tombstoned ids")
    // re-insert contract: appending a tombstoned id un-deletes it (the
    // LSH rule, now on the cell layouts)
    val back = corpus.filter($"vec_id" === removed.head)
    Quantize.appendPqIndex(back, "vec_id", "embedding", dir)
    val reinserted = pairs(Quantize.probePqIndex(spark, dir, "vec_id",
      "embedding", query, "embedding", k = 10).select("vec_id", "sim"))
    assert(reinserted.map(_._1).contains(removed.head),
      "re-appended id still filtered by its stale tombstone")
    assert(!reinserted.map(_._1).contains(removed(1)),
      "un-delete dropped an UNRELATED tombstone")
    // rebuild applies the remaining backlog physically (reads through
    // the tombstone filter) and the fresh dir carries none
    IndexLifecycle.rebuildIndex(spark, dir)
    assert(!new java.io.File(s"${live(dir)}/deletes.parquet").exists())
    assert(spark.read.parquet(s"${live(dir)}/codes.parquet")
        .filter($"vec_id" === removed(1)).count() == 0,
      "rebuild resurrected a tombstoned id")
    // note: the re-appended id now exists physically TWICE in the
    // corpus history (original + append) — buildPqIndex trains on the
    // live rows, so it must appear exactly once post-rebuild
    assert(spark.read.parquet(s"${live(dir)}/codes.parquet")
        .filter($"vec_id" === removed.head).count() >= 1)
  }

  test("c14_ann_index_tombstone query is cross-run stable (the driver runs it twice per bench)") {
    // the query MUTATES its fixture per run (tombstone → probe →
    // compact); stability rests on removeIds' remove-absent-is-a-no-op
    // contract — pin it end to end through the actual SparkEntry plan
    val q = graft.SparkEntry.queries("c14_ann_index_tombstone")
    val r1 = q(spark, sf0001).collect().toSeq
    val r2 = q(spark, sf0001).collect().toSeq
    assert(r1 == r2, s"tombstone lifecycle query drifted across runs:\n$r1\n$r2")
    assert(r1.length == 1)
    val row = r1.head
    assert(row.getAs[Long]("victim_hits") == 0L, s"victims served: $row")
    assert(row.getAs[Long]("k_rows") == 10L, s"probe short: $row")
    assert(row.getAs[Long]("tombstones") == 0L,
      s"compaction left a backlog: $row")
  }

  test("a fresh BUILD clears a stale tombstone set — the new world is never filtered by the old") {
    // LifecycleSweep caught this live: a rebuilt 50k-row index served
    // 44,384 rows because the previous session's deletes.parquet
    // survived the mode("overwrite") build and kept filtering. A build
    // defines a NEW world; pending deletions belonged to the old one.
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_stale").toString + "/idx"
    Ivf.buildIndex(corpus, "vec_id", "embedding", dir, maxIter = 5)
    val before = pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10))
    val victims = before.take(2).map(_._1)
    IndexLifecycle.removeIds(spark, dir, victims.toDF("vec_id"), "vec_id",
      tombstone = true)
    // the stale-world simulation: rebuild the SAME corpus over the dir
    Ivf.buildIndex(corpus, "vec_id", "embedding", dir, maxIter = 5)
    assert(IndexLifecycle.indexStats(spark, dir).head()
        .getAs[Long]("tombstones") == 0L,
      "fresh build kept the old world's tombstone backlog")
    val after = pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10))
    assert(victims.forall(after.map(_._1).contains),
      s"fresh build still filtered by stale tombstones: $after")
    // LSH arm: same contract
    val lshDir = java.nio.file.Files.createTempDirectory("graft_lc_stale_lsh").toString + "/idx"
    Similarity.buildLshIndex(corpus, "vec_id", "embedding", lshDir)
    val lshTop = Similarity.probeLshIndex(spark, lshDir, "vec_id", "embedding",
      query, "embedding", k = 5).select("vec_id").collect().map(_.getLong(0))
    IndexLifecycle.removeIds(spark, lshDir, Seq(lshTop.head).toDF("vec_id"), "vec_id")
    Similarity.buildLshIndex(corpus, "vec_id", "embedding", lshDir)
    val lshAfter = Similarity.probeLshIndex(spark, lshDir, "vec_id", "embedding",
      query, "embedding", k = 5).select("vec_id").collect().map(_.getLong(0))
    assert(lshAfter.contains(lshTop.head),
      "fresh LSH build still filtered by the old world's tombstones")
  }

  test("cell layouts: remove-then-re-append restores the probe (the LSH re-insert contract's physical analog)") {
    val corpus = emb.localCheckpoint(true)
    val n = corpus.count()
    val query = corpus.filter($"vec_id" === 0)
    def stats(dir: String) = IndexLifecycle.indexStats(spark, dir).head()

    // IVF: the persisted model re-assigns the re-appended rows to their
    // original cells, so the probe must be BIT-EQUAL to pre-remove
    val ivfDir = java.nio.file.Files.createTempDirectory("graft_ra_ivf").toString
    Ivf.buildIndex(corpus, "vec_id", "embedding", ivfDir, maxIter = 5)
    val before = pairs(Ivf.probeIndex(spark, ivfDir, "vec_id", "embedding",
      query, "embedding", k = 10))
    val removed = before.take(3).map(_._1)
    IndexLifecycle.removeIds(spark, ivfDir, removed.toDF("vec_id"), "vec_id")
    assert(!pairs(Ivf.probeIndex(spark, ivfDir, "vec_id", "embedding",
      query, "embedding", k = 10)).map(_._1).exists(removed.contains),
      "remove did not take")
    Ivf.appendIndex(corpus.filter($"vec_id".isin(removed: _*)),
      "vec_id", "embedding", ivfDir)
    val after = pairs(Ivf.probeIndex(spark, ivfDir, "vec_id", "embedding",
      query, "embedding", k = 10))
    assert(after == before, s"re-append diverged: $after vs $before")
    assert(stats(ivfDir).getAs[Long]("live_rows") == n,
      "indexStats row count inconsistent after remove+re-append")

    // PQ: persisted coarse model + codebooks give the re-appended rows
    // their original cells AND codes — same bit-equality contract
    val pqDir = java.nio.file.Files.createTempDirectory("graft_ra_pq").toString
    Quantize.buildPqIndex(corpus, "vec_id", "embedding", pqDir, m = 4)
    val pBefore = pairs(Quantize.probePqIndex(spark, pqDir, "vec_id",
      "embedding", query, "embedding", k = 10))
    val pRemoved = pBefore.take(3).map(_._1)
    IndexLifecycle.removeIds(spark, pqDir, pRemoved.toDF("vec_id"), "vec_id")
    assert(!pairs(Quantize.probePqIndex(spark, pqDir, "vec_id", "embedding",
      query, "embedding", k = 10)).map(_._1).exists(pRemoved.contains),
      "PQ remove did not take")
    Quantize.appendPqIndex(corpus.filter($"vec_id".isin(pRemoved: _*)),
      "vec_id", "embedding", pqDir)
    val pAfter = pairs(Quantize.probePqIndex(spark, pqDir, "vec_id",
      "embedding", query, "embedding", k = 10))
    assert(pAfter == pBefore, s"PQ re-append diverged: $pAfter vs $pBefore")
    assert(stats(pqDir).getAs[Long]("live_rows") == n,
      "PQ indexStats row count inconsistent after remove+re-append")
  }

  test("retryOnStaleFiles: anchored failures retry; unanchored FNFE gets exactly one fallback retry") {
    // ADVICE r17: wrappers can strip the probed dir from the message
    // (null-message FNFE, bare-filename quotes) — a genuine maintenance
    // race surfacing that way must not fail first-attempt, but a typo'd
    // OTHER path must not inherit the full retry budget either.
    val dir = "/tmp/graft_retry_idx"
    // anchored: full budget — succeeds on the 3rd call
    var calls = 0
    val got = IndexLifecycle.retryOnStaleFiles(dir, attempts = 4) {
      calls += 1
      if (calls < 3)
        throw new java.io.FileNotFoundException(s"$dir/vectors.parquet/part-0 does not exist")
      42
    }
    assert(got == 42 && calls == 3)
    // unanchored null-message FNFE: exactly ONE fallback retry, then out
    var calls2 = 0
    val e2 = intercept[java.io.FileNotFoundException] {
      IndexLifecycle.retryOnStaleFiles(dir, attempts = 4) {
        calls2 += 1
        throw new java.io.FileNotFoundException()
      }
    }
    assert(e2.getMessage == null && calls2 == 2,
      s"expected 1 fallback retry (2 calls), got $calls2")
    // unanchored NON-FNFE: no retry at all
    var calls3 = 0
    intercept[IllegalArgumentException] {
      IndexLifecycle.retryOnStaleFiles(dir, attempts = 4) {
        calls3 += 1
        throw new IllegalArgumentException("some other path is wrong")
      }
    }
    assert(calls3 == 1, s"non-FNFE must not retry, got $calls3 calls")
  }

  test("retryOnStaleFiles: epoch-PROGRESS failures draw from the free pool; stagnant failures exhaust the charged budget (r19)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_retry_prog").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/seed"),
      "x".getBytes("UTF-8"))
    // STAGNANT: the dir never changes between failures — the original
    // attempts semantics must hold exactly (attempts=3 -> 3 calls)
    var stagnant = 0
    intercept[IndexLifecycle.WorldChangedException] {
      IndexLifecycle.retryOnStaleFiles(dir, attempts = 3) {
        stagnant += 1
        throw new IndexLifecycle.WorldChangedException("stale, not moving")
      }
    }
    assert(stagnant == 3, s"stagnant failures must charge the budget: $stagnant")
    // PROGRESSING: every failure lands a NEW file first (a maintenance
    // verb's next write, as the probe would observe it) — a 2-attempt
    // budget survives 6 failures because each one shows epoch progress
    var racing = 0
    val out = IndexLifecycle.retryOnStaleFiles(dir, attempts = 2) {
      racing += 1
      if (racing <= 6) {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/mutation_$racing"),
          "m".getBytes("UTF-8"))
        throw new IndexLifecycle.WorldChangedException(s"racing write $racing")
      }
      42
    }
    assert(out == 42 && racing == 7,
      s"expected 6 free progress-retries then success, got $racing calls")
    // and the free pool is BOUNDED: a pathologically always-mutating dir
    // still fails once freeCap (12) + the charged budget are spent
    var livelock = 0
    intercept[IndexLifecycle.WorldChangedException] {
      IndexLifecycle.retryOnStaleFiles(dir, attempts = 2) {
        livelock += 1
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/live_$livelock"),
          "m".getBytes("UTF-8"))
        throw new IndexLifecycle.WorldChangedException("never converges")
      }
    }
    // 1 charged (first failure, no prior epoch) + 12 free + the final
    // uncaught one = 14 calls
    assert(livelock == 14, s"freeCap must bound the livelock: $livelock")
  }
}
