package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The serve-index lifecycle end-to-end on generation roots, the one
  * layout every index is built in: IVF, PQ and LSH each go through the
  * public build, probe, append, remove (both `tombstone` values),
  * compact, rebuild and maintain. After every verb the probe answer is
  * pinned EQUAL to an in-memory reference over the same live rows and
  * the same persisted model (IvfSpec's round-trip pattern), and the root
  * is pinned to hold only `gen-*` generations, `commit-*` pointers and
  * the marker. That the protocol never renames live data is a static
  * pin (ConventionsSpec's rename scan).
  *
  * The zombie fence extends to the commit — the protocol's one
  * protocol-critical write: a writer taken over mid-verb aborts BEFORE
  * flipping the pointer, pinned here by replacing the lease content
  * under a held lock. And [[IndexLifecycle.fencedProbeResolved]]
  * re-resolves across a concurrent flip: a probe that straddles a
  * generation commit retries against the NEW world instead of serving a
  * mixed one. */
class PointerModeLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
    .select("vec_id", "embedding")

  private def pairs(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def genNames(root: String): Seq[String] =
    new java.io.File(root).listFiles().map(_.getName).toSeq
      .filter(_.startsWith("gen-")).sorted

  private def live(root: String): String = IndexLifecycle.resolveIndexDir(spark, root)

  /** The root holds exactly one committed generation, its commit file and
    * the marker — nothing a reader could mistake for data. */
  private def assertRootLayout(root: String, after: String): Unit = {
    val names = new java.io.File(root).listFiles().map(_.getName).toSeq
    val stray = names.filterNot(n => n.startsWith("gen-") ||
      n.startsWith("commit-") || n == IndexLifecycle.PointerMarker)
    assert(stray.isEmpty, s"after $after the root holds $stray")
    assert(names.count(_.startsWith("gen-")) == 1 &&
      names.count(_.startsWith("commit-")) == 1,
      s"after $after the flip GC left ${names.sorted}")
  }

  private def tombstones(root: String): Long =
    IndexLifecycle.indexStats(spark, root).head().getAs[Long]("tombstones")

  private def without(rows: DataFrame, ids: Seq[Long]): DataFrame =
    rows.filter(!$"vec_id".isin(ids: _*)).localCheckpoint(true)

  test("IVF pointer lifecycle: build/probe/append/remove/compact/rebuild/maintain, zero renames, equal answers") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val root = s"${tmpDir("graft_ptr_ivf")}/idx"
    def served(): Seq[(Long, Double)] =
      pairs(Ivf.probeIndex(spark, root, "vec_id", "embedding", query, "embedding", k = 10))
    // the in-memory reference: the persisted model over the live rows
    def reference(rows: DataFrame): Seq[(Long, Double)] = {
      val model = Ivf.loadIndexModel(spark, root)
      pairs(Ivf.probeIndexFrame(model.indexOf(rows, "vec_id", "embedding"), model,
        "vec_id", "embedding", query, "embedding", k = 10, nprobe = 4))
    }
    def check(rows: DataFrame, after: String): Seq[(Long, Double)] = {
      val out = served()
      assert(out == reference(rows), s"after $after the probe diverged from the reference")
      assert(out.length == 10, s"after $after the probe returned ${out.length} rows")
      assertRootLayout(root, after)
      out
    }

    Ivf.buildIndex(corpus, "vec_id", "embedding", root, maxIter = 5)
    val built = check(corpus, "build")
    assert(built.head == (0L, 1.0), s"planted self not first: ${built.head}")
    // the batch probe resolves the same generation
    val batch = Ivf.probeIndexBatch(spark, root, "vec_id", "embedding",
      corpus.filter($"vec_id" < 3).select($"vec_id".as("qid"), $"embedding"),
      "qid", "embedding", k = 5).collect()
    assert(batch.length == 15 && (0L until 3L).forall(q =>
      batch.exists(r => r.getLong(0) == q && r.getLong(1) == q)),
      "batch probe lost a query's own vector")

    // append lands INSIDE the live generation: no flip, serves the union
    val extra = corpus.limit(5)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding").localCheckpoint(true)
    val gensBefore = genNames(root)
    Ivf.appendIndex(extra, "vec_id", "embedding", root)
    assert(genNames(root) == gensBefore, "append must not churn generations")
    var rows = corpus.union(extra).localCheckpoint(true)
    check(rows, "append")

    // tombstoned remove: invfile untouched, a nested tombstone root in
    // the live generation, probes serve it out
    val cellFiles = new java.io.File(s"${live(root)}/invfile.parquet").listFiles()
      .map(_.getName).toSet
    val tombVictims = built.slice(1, 3).map(_._1)
    IndexLifecycle.removeIds(spark, root, tombVictims.toDF("vec_id"), "vec_id",
      tombstone = true)
    assert(genNames(root) == gensBefore, "a tombstoned remove must not churn generations")
    assert(new java.io.File(s"${live(root)}/invfile.parquet").listFiles()
      .map(_.getName).toSet == cellFiles, "a tombstoned remove rewrote cells")
    assert(new java.io.File(
      s"${live(root)}/deletes.parquet/${IndexLifecycle.PointerMarker}").exists(),
      "the tombstone set is not a nested generation root")
    assert(tombstones(root) == 2L)
    rows = without(rows, tombVictims)
    check(rows, "tombstoned remove")

    // default remove: a generation compaction that applies the whole
    // backlog physically at once
    val victims = built.slice(3, 5).map(_._1)
    IndexLifecycle.removeIds(spark, root, victims.toDF("vec_id"), "vec_id")
    assert(genNames(root) != gensBefore, "a physical remove must flip a generation")
    assert(tombstones(root) == 0L, "a physical remove left a backlog")
    assert(spark.read.parquet(s"${live(root)}/invfile.parquet")
      .filter($"vec_id".isin(tombVictims ++ victims: _*)).count() == 0L,
      "the remove did not apply the backlog physically")
    rows = without(rows, victims)
    check(rows, "physical remove")

    // compaction applies a fresh backlog and clears it in one flip
    val late = built.slice(5, 7).map(_._1)
    IndexLifecycle.removeIds(spark, root, late.toDF("vec_id"), "vec_id", tombstone = true)
    val gensBeforeCompact = genNames(root)
    IndexLifecycle.compactIndex(spark, root)
    assert(genNames(root) != gensBeforeCompact, "compaction did not flip")
    assert(tombstones(root) == 0L, "backlog not cleared by the flip")
    rows = without(rows, late)
    check(rows, "compaction")

    // rebuild retrains into a fresh generation and flips
    IndexLifecycle.rebuildIndex(spark, root)
    val stats = IndexLifecycle.indexStats(spark, root).head()
    assert(stats.getAs[Long]("built_rows") == stats.getAs[Long]("live_rows") &&
      stats.getAs[Long]("live_rows") == rows.count(), s"rebuild changed the corpus: $stats")
    check(rows, "rebuild")

    // maintenance runs the same policy loop through the same verbs
    assert(IndexLifecycle.maintainIndex(spark, root) == "none",
      "fresh rebuild should be a maintenance fixpoint")
    check(rows, "maintain")
  }

  test("LSH pointer lifecycle: build/probe/append/remove/compact, zero renames, equal answers") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val root = s"${tmpDir("graft_ptr_lsh")}/idx"
    def served(): Seq[(Long, Double)] =
      pairs(Similarity.probeLshIndex(spark, root, "vec_id", "embedding",
        query, "embedding", k = 10))
    // the in-memory reference: the persisted sizing over the live rows
    def reference(rows: DataFrame): Seq[(Long, Double)] = {
      val meta = spark.read.parquet(s"${live(root)}/meta.parquet").head()
      pairs(Similarity.neverShort(
        Similarity.lshTopK(rows, "vec_id", "embedding", query, "embedding", 10,
          meta.getAs[Int]("tables"), meta.getAs[Int]("planes"),
          meta.getAs[Int]("dim"), meta.getAs[Long]("seed")),
        rows, "vec_id", "embedding", query, "embedding", 10))
    }
    def check(rows: DataFrame, after: String): Seq[(Long, Double)] = {
      val out = served()
      assert(out == reference(rows), s"after $after the probe diverged from the reference")
      assertRootLayout(root, after)
      out
    }

    Similarity.buildLshIndex(corpus, "vec_id", "embedding", root)
    val built = check(corpus, "build")
    val batch = Similarity.probeLshIndexBatch(spark, root, "vec_id", "embedding",
      corpus.filter($"vec_id" < 3).select($"vec_id".as("qid"), $"embedding"),
      "qid", "embedding", k = 5).collect()
    assert(batch.length == 15, s"batch probe answered ${batch.length} rows")

    // both remove flavors tombstone on LSH (postings are not id-clustered)
    val gens = genNames(root)
    val v1 = built.slice(1, 3).map(_._1)
    IndexLifecycle.removeIds(spark, root, v1.toDF("vec_id"), "vec_id")
    val v2 = built.slice(3, 5).map(_._1)
    IndexLifecycle.removeIds(spark, root, v2.toDF("vec_id"), "vec_id", tombstone = true)
    assert(genNames(root) == gens, "an LSH remove must not churn generations")
    assert(tombstones(root) == 4L)
    var rows = without(corpus, v1 ++ v2)
    check(rows, "removes")

    // append: a brand-new id, and a re-insert of a removed one (the
    // un-delete flips the nested tombstone root)
    val fresh = corpus.filter($"vec_id" === 7)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding").localCheckpoint(true)
    val reinsert = corpus.filter($"vec_id" === v1.head).localCheckpoint(true)
    Similarity.appendLshIndex(fresh.union(reinsert), "vec_id", "embedding", root)
    assert(genNames(root) == gens, "append must not churn generations")
    assert(tombstones(root) == 3L, "the re-appended id was not un-deleted")
    rows = corpus.filter(!$"vec_id".isin(v1.tail ++ v2: _*)).union(fresh)
      .localCheckpoint(true)
    // the re-inserted vector is stored twice until compaction makes the
    // vectors distinct; candidate dedup keeps the probe answer exact
    assert(served() == reference(rows), "append diverged from the reference")

    // compaction: generation flip, backlog applied, postings distinct
    IndexLifecycle.compactIndex(spark, root)
    assert(genNames(root) != gens, "compaction did not flip")
    val stats = IndexLifecycle.indexStats(spark, root).head()
    assert(stats.getAs[Long]("tombstones") == 0L)
    assert(stats.getAs[Double]("postings_dup_fraction") == 0.0)
    assert(stats.getAs[Long]("live_rows") == rows.count())
    check(rows, "compaction")

    // rebuild re-runs the occupancy sizing from the live rows and flips
    IndexLifecycle.rebuildIndex(spark, root)
    check(rows, "rebuild")
    assert(IndexLifecycle.maintainIndex(spark, root) == "none")
    check(rows, "maintain")
  }

  test("PQ lifecycle: build/probe/append/remove/compact/rebuild/maintain, answers equal the in-memory reference") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val root = s"${tmpDir("graft_ptr_pq")}/idx"
    def served(): Seq[(Long, Double)] =
      pairs(Quantize.probePqIndex(spark, root, "vec_id", "embedding",
        query, "embedding", k = 10))
    // the in-memory reference: the persisted coarse model + codebooks
    // over an in-memory code table of the live rows
    def reference(rows: DataFrame): Seq[(Long, Double)] = {
      val model = Quantize.loadPqIndex(spark, root)
      val codes = model.coarse.indexOf(rows, "vec_id", "embedding")
        .withColumn("code",
          Quantize.pqCode(model.coarse.residualOf(col("embedding")), model.cb))
      pairs(Quantize.pqProbeCore(codes, model, "vec_id", "embedding",
        query, "embedding", k = 10, nprobe = 4, rerank = 100))
    }
    def check(rows: DataFrame, after: String): Seq[(Long, Double)] = {
      val out = served()
      assert(out == reference(rows), s"after $after the probe diverged from the reference")
      assertRootLayout(root, after)
      out
    }

    Quantize.buildPqIndex(corpus, "vec_id", "embedding", root, m = 4)
    val built = check(corpus, "build")
    assert(built.head == (0L, 1.0), s"planted self not first: ${built.head}")

    val extra = corpus.limit(5)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding").localCheckpoint(true)
    Quantize.appendPqIndex(extra, "vec_id", "embedding", root)
    var rows = corpus.union(extra).localCheckpoint(true)
    check(rows, "append")

    val tombVictims = built.slice(1, 3).map(_._1)
    IndexLifecycle.removeIds(spark, root, tombVictims.toDF("vec_id"), "vec_id",
      tombstone = true)
    assert(tombstones(root) == 2L)
    rows = without(rows, tombVictims)
    check(rows, "tombstoned remove")

    val victims = built.slice(3, 5).map(_._1)
    IndexLifecycle.removeIds(spark, root, victims.toDF("vec_id"), "vec_id")
    assert(tombstones(root) == 0L, "a physical remove left a backlog")
    rows = without(rows, victims)
    check(rows, "physical remove")

    IndexLifecycle.compactIndex(spark, root, maxFilesPerCell = 0)
    check(rows, "compaction")

    IndexLifecycle.rebuildIndex(spark, root)
    check(rows, "rebuild")
    assert(IndexLifecycle.maintainIndex(spark, root) == "none")
    check(rows, "maintain")
  }

  test("a build that fails after training over a LIVE index leaves the old generation serving, tombstones included") {
    // a rebuild through the public build over a live index holding a
    // tombstone backlog; a row whose id expression throws lets training
    // (which reads only the vector column) finish, then fails the write
    // of the new generation's inverted file
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val root = s"${tmpDir("graft_ptr_failbuild")}/idx"
    Ivf.buildIndex(corpus, "vec_id", "embedding", root, maxIter = 5)
    def served(): Seq[(Long, Double)] =
      pairs(Ivf.probeIndex(spark, root, "vec_id", "embedding", query, "embedding", k = 10))
    val victims = served().slice(1, 4).map(_._1)
    IndexLifecycle.removeIds(spark, root, victims.toDF("vec_id"), "vec_id",
      tombstone = true)
    val before = served()
    assert(before.map(_._1).intersect(victims).isEmpty)
    val committed = IndexLifecycle.resolvePointer(spark, root)

    val poison = udf((id: Long) =>
      if (id == 5L) throw new IllegalStateException("poisoned row") else id)
    val boom = intercept[Exception] {
      Ivf.buildIndex(corpus.select(poison($"vec_id").as("vec_id"), $"embedding"),
        "vec_id", "embedding", root, maxIter = 5)
    }
    assert(Iterator.iterate[Throwable](boom)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("poisoned row")),
      s"the build failed for another reason: $boom")
    assert(IndexLifecycle.resolvePointer(spark, root) == committed,
      "a failed build flipped the pointer")
    // it failed AFTER training: the orphan generation holds the new model
    val orphans = genNames(root).map(g => s"$root/$g").filterNot(committed.contains)
    assert(orphans.exists(g => new java.io.File(s"$g/centroids.parquet").exists()),
      s"the build failed before training finished: $orphans")
    assert(served() == before, "a failed build changed what the index serves")
    assert(tombstones(root) == victims.length.toLong,
      "a failed build dropped the tombstone backlog")
    // the next flip reclaims the failed build's orphan generation
    IndexLifecycle.compactIndex(spark, root)
    assertRootLayout(root, "the compaction after a failed build")
    assert(served().map(_._1).intersect(victims).isEmpty)
  }

  test("zombie fence covers the pointer commit: a taken-over writer aborts BEFORE flipping") {
    val corpus = emb.limit(50).localCheckpoint(true)
    val root = s"${tmpDir("graft_ptr_zombie")}/idx"
    Ivf.buildIndex(corpus, "vec_id", "embedding", root, maxIter = 2)
    val committedBefore = IndexLifecycle.resolvePointer(spark, root)
    val lock = new java.io.File(IndexLifecycle.lockPath(root))
    val boom = intercept[IllegalStateException] {
      IndexLifecycle.withIndexLock(spark, root, "zombieCompact") {
        // simulate a takeover landing mid-verb: the lock now carries a
        // DIFFERENT holder's token
        val w = new java.io.FileWriter(lock)
        try w.write("newHolder 0 other-token\n") finally w.close()
        IndexLifecycle.compactIndexInner(spark, root, maxFilesPerCell = 0,
          idBroadcastLimit = Dedup.HotShingleBroadcastLimit)
      }
    }
    assert(boom.getMessage.contains("taken over"),
      s"wrong failure: ${boom.getMessage}")
    // the fence sits between the generation WRITE (an invisible orphan —
    // harmless, GC'd by the next flip) and the COMMIT: the committed
    // world must be untouched
    assert(IndexLifecycle.resolvePointer(spark, root) == committedBefore,
      "a taken-over writer still flipped the pointer")
    // clean up the fake lock so later suites can take the path over
    lock.delete()
  }

  test("an UNCOMMITTED generation write does not perturb probes (epoch keys on commits only)") {
    // r20 review: a long rebuild writes artifacts into its staging
    // generation for minutes — if the root epoch included gen-* dirs,
    // every such write would spuriously retry live probes and burn the
    // budget on a committed world that never changed
    val fixture = tmpDir("graft_ptr_epoch")
    val root = s"$fixture/art.parquet"
    IndexLifecycle.initPointerRoot(spark, root)
    IndexLifecycle.swapInParquet(spark, root)(spark.range(0, 50).toDF("id"))
    var invocations = 0
    val out = IndexLifecycle.fencedProbeResolved(spark, root) { phys =>
      invocations += 1
      val ids = spark.read.parquet(phys).as[Long].collect().toSet
      // an in-flight writer lands a FULL but uncommitted generation
      // while this probe is mid-body — staging, not a new world
      spark.range(500, 550).toDF("id").write.mode("overwrite")
        .parquet(s"$root/gen-staging99")
      ids
    }
    assert(invocations == 1,
      s"an uncommitted generation write retried the probe ($invocations runs) — " +
        "the epoch must key on commit files only")
    assert(out == (0L until 50L).toSet)
  }

  test("flip GC reclaims orphaned gen-*.__lock files; a live generation keeps its lock (ADVICE r20)") {
    // no verb leases a generation path any more, but a root may still
    // hold stray gen-* entries (a crashed build's orphan generation, or
    // locks and takeover guards left beside one): the flip GC reclaims
    // every gen-* entry except the committed generation itself
    val root = s"${tmpDir("graft_ptr_lockgc")}/idx"
    Ivf.buildIndex(emb.localCheckpoint(true), "vec_id", "embedding", root, maxIter = 5)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$root/gen-dead.__lock"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$root/gen-dead.__lock.__takeover"))
    spark.range(0, 5).toDF("id").write.parquet(s"$root/gen-orphan/x.parquet")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$root/gen-orphan.__lock"))
    // next flip: gc sweeps stale generations AND their/now-dirless locks
    IndexLifecycle.rebuildIndex(spark, root)
    val names = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(!names.contains("gen-dead.__lock") &&
      !names.contains("gen-dead.__lock.__takeover"),
      "a lock/guard with no generation survived the flip GC")
    assert(!names.contains("gen-orphan.__lock") && !names.contains("gen-orphan"),
      s"a crashed build's orphan generation or its lock survived: $names")
    assertRootLayout(root, "the flip GC")
    // the live world still answers
    val q = emb.filter($"vec_id" === 0)
    assert(Ivf.probeIndex(spark, root, "vec_id", "embedding",
      q, "embedding", k = 5).count() == 5L)
  }

  test("the mid-probe tombstone fence is NAME-keyed: a removeIds changes the nested root's commit-file listing (object-store-valid signal)") {
    // r21 review: the generation-listing fence rides POSIX parent-dir
    // mtime bumps, which copy+delete object stores don't provide — the
    // fence arm that must hold THERE is the nested deletes.parquet
    // root's epoch, which dirEpoch keys on immutable commit FILE NAMES.
    // Pin that the names themselves change across a removeIds, so the
    // signal never depends on mtime semantics.
    val corpus = emb.localCheckpoint(true)
    val root = s"${tmpDir("graft_ptr_tombname")}/idx"
    Ivf.buildIndex(corpus.filter($"vec_id" =!= 0), "vec_id", "embedding", root,
      maxIter = 5)
    val phys = live(root)
    val before = IndexLifecycle.dirEpoch(spark, s"$phys/deletes.parquet")
      .map(_._1).toSet
    IndexLifecycle.removeIds(spark, root,
      corpus.filter($"vec_id" === 1).select("vec_id"), "vec_id", tombstone = true)
    val after = IndexLifecycle.dirEpoch(spark, s"$phys/deletes.parquet")
      .map(_._1).toSet
    assert(before != after,
      s"the nested tombstone root's NAME listing did not change across a " +
        s"removeIds — the object-store fence arm would be blind: $before vs $after")
    // a second flip changes the names again (commit seq advances)
    IndexLifecycle.removeIds(spark, root,
      corpus.filter($"vec_id" === 2).select("vec_id"), "vec_id", tombstone = true)
    val after2 = IndexLifecycle.dirEpoch(spark, s"$phys/deletes.parquet")
      .map(_._1).toSet
    assert(after != after2, "a second tombstone flip did not advance the commit names")
  }

  test("initPointerRoot refuses a root already holding plain artifacts (migration footgun)") {
    val live = s"${tmpDir("graft_ptr_mig")}/idx"
    spark.range(0, 10).toDF("id").write.parquet(s"$live/invfile.parquet")
    val boom = intercept[IllegalArgumentException] {
      Ivf.buildIndex(emb.localCheckpoint(true), "vec_id", "embedding", live,
        maxIter = 2)
    }
    assert(boom.getMessage.contains("invfile.parquet") &&
      boom.getMessage.contains("NEW root"),
      s"wrong failure: ${boom.getMessage}")
    // the refused marking left the plain artifacts readable
    assert(spark.read.parquet(s"$live/invfile.parquet").count() == 10L)
  }

  test("compaction DROPS a committed-empty tombstone root instead of taxing every probe forever") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val root = s"${tmpDir("graft_ptr_emptytomb")}/idx"
    Ivf.buildIndex(corpus, "vec_id", "embedding", root, maxIter = 5)
    val victims = corpus.filter($"vec_id" =!= 0).limit(3)
      .select("vec_id", "embedding").localCheckpoint(true)
    IndexLifecycle.removeIds(spark, root, victims.select("vec_id"), "vec_id",
      tombstone = true)
    // re-append every victim: undeleteTombstones commits an EMPTY set
    Ivf.appendIndex(victims, "vec_id", "embedding", root)
    val phys = live(root)
    assert(new java.io.File(
      s"$phys/deletes.parquet/${IndexLifecycle.PointerMarker}").exists(),
      "fixture broken: no tombstone root to drop")
    assert(IndexLifecycle.loadTombstones(spark, phys).exists(_.count() == 0L),
      "fixture broken: tombstone set not empty")
    val before = pairs(Ivf.probeIndex(spark, root, "vec_id", "embedding",
      query, "embedding", k = 10))
    val gensBefore = genNames(root)
    IndexLifecycle.compactIndex(spark, root)
    assert(!new java.io.File(s"$phys/deletes.parquet").exists(),
      "committed-empty tombstone root survived compaction")
    assert(genNames(root) == gensBefore,
      "dropping an empty tombstone root must not churn a full generation")
    assert(pairs(Ivf.probeIndex(spark, root, "vec_id", "embedding",
      query, "embedding", k = 10)) == before)
  }

  test("fencedProbeResolved re-resolves across a concurrent flip: one world, never mixed") {
    val root = s"${tmpDir("graft_ptr_flip")}/art.parquet"
    IndexLifecycle.initPointerRoot(spark, root)
    IndexLifecycle.swapInParquet(spark, root)(spark.range(0, 50).toDF("id"))
    var invocations = 0
    val out = IndexLifecycle.fencedProbeResolved(spark, root) { phys =>
      invocations += 1
      val ids = spark.read.parquet(phys).as[Long].collect().toSet
      if (invocations == 1)
        // a maintenance flip lands AFTER this probe read its artifacts:
        // the post-body fence must reject the stale world and retry
        IndexLifecycle.swapInParquet(spark, root)(
          spark.range(100, 150).toDF("id"))
      ids
    }
    assert(invocations == 2,
      s"probe straddling a flip should retry exactly once, ran $invocations")
    assert(out == (100L until 150L).toSet,
      "the retried probe must serve exactly the post-flip world")
  }
}
