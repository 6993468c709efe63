package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Probes are LOCK-FREE while maintenance mutates (the r16 lease covers
  * writers only): compaction and rebuild flip generations — GC-deleting
  * the one being read — and tombstone removes flip the nested tombstone
  * root under live readers, whose safety rests on the fenced probe
  * harness's same-world fences and stale-file retry, and on
  * loadTombstones' raced-flip retry. This suite exercises that claim
  * under real concurrency instead of trusting the reasoning: readers
  * hammer a dir while compaction runs; no reader may fail, and every
  * answer must be the (identical) pre- or post-compaction result. */
class ConcurrentServeSpec extends SparkSpec {
  import spark.implicits._

  private def emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
    .select("vec_id", "embedding")

  private def hammer[A](readers: Int, probe: () => A,
                        mutate: () => Unit): (Seq[Throwable], Set[A]) = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val answers = java.util.concurrent.ConcurrentHashMap.newKeySet[A]()
    val threads = (1 to readers).map(_ => new Thread(() => {
      while (!stop.get()) {
        try answers.add(probe())
        catch { case t: Throwable => errors.add(t); stop.set(true) }
      }
    }))
    threads.foreach(_.start())
    // warm-up barrier: require one COMPLETED pre-mutation answer before
    // mutating, else on a slow host every reader's first probe could
    // still be in flight when the swap lands and the "observed the old
    // world" assertion would flake on timing, not on a contract
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (answers.isEmpty && errors.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    // starved barrier = CANCEL, not a misleading red (r18 verdict #1):
    // if no probe completed in 60 s the host is too loaded for this
    // hammer to race anything — proceeding to mutate() would later fail
    // the "no probe observed the old world" assertion on TIMING, which
    // reads exactly like a product bug in a full-suite log. Cancel names
    // the real cause and keeps a loaded run diagnosable.
    if (answers.isEmpty && errors.isEmpty) {
      stop.set(true); threads.foreach(_.join(60000))
      cancel("warm-up barrier starved: no probe completed a pre-mutation " +
        "answer within 60s — host too loaded to race the mutation; " +
        "re-run, don't debug the contract")
    }
    try mutate()
    finally { stop.set(true); threads.foreach(_.join(60000)) }
    import scala.jdk.CollectionConverters._
    (errors.asScala.toSeq, answers.asScala.toSet)
  }

  test("LSH probes survive a live compaction applying + clearing a tombstone backlog") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_lsh").toString + "/idx"
    Similarity.buildLshIndex(corpus.filter($"vec_id" =!= 0), "vec_id", "embedding", dir)
    // tombstone ids OUTSIDE the query's top-k so the answer is identical
    // before and after the physical application — readers may observe
    // either world, and with disjoint victims both worlds answer the same
    val top = Similarity.probeLshIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 20).select("vec_id").collect().map(_.getLong(0))
    val victims = corpus.filter(!$"vec_id".isin(top.map(java.lang.Long.valueOf): _*))
      .filter($"vec_id" =!= 0).limit(5).select("vec_id").localCheckpoint(true)
    IndexLifecycle.removeIds(spark, dir, victims, "vec_id")
    val expect = Similarity.probeLshIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (errors, answers) = hammer(
      readers = 3,
      probe = () => Similarity.probeLshIndex(spark, dir, "vec_id", "embedding",
        query, "embedding", k = 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      mutate = () => IndexLifecycle.compactIndex(spark, dir))
    assert(errors.isEmpty,
      s"a live probe failed during compaction: ${errors.headOption}")
    assert(answers == Set(expect),
      s"probe answers drifted during compaction: ${answers.map(_.take(3))} vs ${expect.take(3)}")
    // and the compaction actually did its job under the hammer
    assert(!new java.io.File(
      s"${IndexLifecycle.resolveIndexDir(spark, dir)}/deletes.parquet").exists())
  }

  test("PQ probes survive a live compaction applying + clearing cell-layout tombstones (r16 verdict #6)") {
    // probePqIndex rides the same fencedProbe harness as the hammered
    // IVF/LSH paths but was never itself hammered — and its body is the
    // longest of the single probes (model + codebooks load, ADC scoring,
    // exact rerank), the widest window for a racing swap
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_pq").toString + "/idx"
    Quantize.buildPqIndex(corpus.filter($"vec_id" =!= 0), "vec_id", "embedding",
      dir, m = 4)
    val top = Quantize.probePqIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 20).select("vec_id").collect().map(_.getLong(0))
    val victims = corpus.filter(!$"vec_id".isin(top.map(java.lang.Long.valueOf): _*))
      .filter($"vec_id" =!= 0).limit(5).select("vec_id").localCheckpoint(true)
    IndexLifecycle.removeIds(spark, dir, victims, "vec_id", tombstone = true)
    def answer(): Seq[(Long, Double)] = Quantize.probePqIndex(spark, dir,
      "vec_id", "embedding", query, "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expect = answer()
    val (errors, answers) = hammer(
      readers = 3,
      probe = () => answer(),
      mutate = () => IndexLifecycle.compactIndex(spark, dir))
    assert(errors.isEmpty,
      s"a live PQ probe failed during compaction: ${errors.headOption}")
    assert(answers == Set(expect),
      s"PQ probe answers drifted during compaction: ${answers.map(_.take(3))}")
    assert(!new java.io.File(
      s"${IndexLifecycle.resolveIndexDir(spark, dir)}/deletes.parquet").exists())
  }

  test("BATCH IVF probes survive a live REBUILD's generation flip (r16 verdict #6)") {
    // batch probes materialize |queries|·k rows (finishBatchTopK's two
    // checkpoints + the deficient-query count) — a longer materialize
    // window between the epoch capture and the same-world fence than
    // any single probe, exactly where a mixed world would slip through
    val corpus = emb.localCheckpoint(true)
    val queries = corpus.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_bivf").toString + "/idx"
    Ivf.buildIndex(corpus, "vec_id", "embedding", dir, maxIter = 5)
    def answer(): Seq[(Long, Long, Double)] = Ivf.probeIndexBatch(spark, dir,
      "vec_id", "embedding", queries, "query_id", "embedding", k = 5)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("sim")))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val expectOld = answer()
    val (errors, answers) = hammer(
      readers = 3,
      probe = () => answer(),
      mutate = () => IndexLifecycle.rebuildIndex(spark, dir))
    val expectNew = answer()
    assert(errors.isEmpty,
      s"a live batch probe failed during the rebuild flip: ${errors.headOption}")
    assert(answers.subsetOf(Set(expectOld, expectNew)),
      s"a batch probe observed a MIXED world across the rebuild: " +
        s"${(answers -- Set(expectOld, expectNew)).map(_.take(3))}")
    assert(answers.contains(expectOld),
      "no batch probe observed the old world — the hammer raced nothing")
  }

  test("BATCH LSH probes survive a live compaction applying + clearing a tombstone backlog (r16 verdict #6)") {
    val corpus = emb.localCheckpoint(true)
    val queries = corpus.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_blsh").toString + "/idx"
    Similarity.buildLshIndex(corpus, "vec_id", "embedding", dir)
    val top = Similarity.probeLshIndexBatch(spark, dir, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 20)
      .select("vec_id").distinct().collect().map(_.getLong(0))
    val victims = corpus.filter(!$"vec_id".isin(top.map(java.lang.Long.valueOf): _*))
      .limit(5).select("vec_id").localCheckpoint(true)
    IndexLifecycle.removeIds(spark, dir, victims, "vec_id")
    def answer(): Seq[(Long, Long, Double)] = Similarity.probeLshIndexBatch(
      spark, dir, "vec_id", "embedding", queries, "query_id", "embedding", k = 5)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("sim")))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val expect = answer()
    val (errors, answers) = hammer(
      readers = 3,
      probe = () => answer(),
      mutate = () => IndexLifecycle.compactIndex(spark, dir))
    assert(errors.isEmpty,
      s"a live batch LSH probe failed during compaction: ${errors.headOption}")
    assert(answers == Set(expect),
      s"batch LSH answers drifted during compaction: ${answers.map(_.take(3))}")
    assert(!new java.io.File(
      s"${IndexLifecycle.resolveIndexDir(spark, dir)}/deletes.parquet").exists())
  }

  test("POINTER MODE: probes survive a live rebuild's generation flip + old-generation GC") {
    // the riskiest reader path: a probe resolves the
    // pointer, reads the generation's files — and the rebuild commits a
    // NEW generation and GC-DELETES the one being read. The probe must
    // either finish on the old world (it resolved and materialized
    // first), fail transiently on the vanished files and retry into the
    // new world (retryOnStaleFiles — the generation lives under the
    // probed root, so the anchor matches), or trip the same-world fence
    // on the root's changed commit listing. Never a mixed or partial
    // answer, never a surfaced failure.
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_conc_ptr").toString + "/idx"
    Ivf.buildIndex(corpus.filter($"vec_id" =!= 0), "vec_id", "embedding",
      root, maxIter = 5)
    def answer(): Seq[(Long, Double)] = Ivf.probeIndex(spark, root, "vec_id",
      "embedding", query, "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expectOld = answer()
    val (errors, answers) = hammer(
      readers = 3,
      probe = () => answer(),
      mutate = () => IndexLifecycle.rebuildIndex(spark, root))
    val expectNew = answer()
    assert(errors.isEmpty,
      s"a live probe failed during the generation flip: ${errors.headOption}")
    assert(answers.subsetOf(Set(expectOld, expectNew)),
      s"a probe observed a MIXED world across the generation flip: " +
        s"${(answers -- Set(expectOld, expectNew)).map(_.take(3))}")
    assert(answers.contains(expectOld),
      "no probe observed the old world — the hammer raced nothing")
    // the flip GC'd down to exactly the live generation
    val gens = new java.io.File(root).listFiles().map(_.getName)
      .filter(_.startsWith("gen-"))
    assert(gens.length == 1, s"stale generations survived the flip GC: ${gens.mkString(",")}")
  }

  test("POINTER MODE: probes survive a live generation-flip compaction applying a tombstone backlog") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_conc_ptrc").toString + "/idx"
    Ivf.buildIndex(corpus.filter($"vec_id" =!= 0), "vec_id", "embedding",
      root, maxIter = 5)
    // victims OUTSIDE the top-k: both worlds answer identically, so any
    // drift the hammer sees is a real torn/mixed read
    val top = Ivf.probeIndex(spark, root, "vec_id", "embedding",
      query, "embedding", k = 20).select("vec_id").collect().map(_.getLong(0))
    val victims = corpus.filter(!$"vec_id".isin(top.map(java.lang.Long.valueOf): _*))
      .filter($"vec_id" =!= 0).limit(5).select("vec_id").localCheckpoint(true)
    IndexLifecycle.removeIds(spark, root, victims, "vec_id", tombstone = true)
    def answer(): Seq[(Long, Double)] = Ivf.probeIndex(spark, root, "vec_id",
      "embedding", query, "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expect = answer()
    val (errors, answers) = hammer(
      readers = 3,
      probe = () => answer(),
      mutate = () => IndexLifecycle.compactIndex(spark, root))
    assert(errors.isEmpty,
      s"a live probe failed during the compaction flip: ${errors.headOption}")
    assert(answers == Set(expect),
      s"probe answers drifted during the compaction flip: ${answers.map(_.take(3))}")
    // the flip IS the backlog clear
    assert(IndexLifecycle.indexStats(spark, root).head()
      .getAs[Long]("tombstones") == 0L)
  }

  test("IVF probes survive a live compaction applying + clearing cell-layout tombstones") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_ivf").toString + "/idx"
    Ivf.buildIndex(corpus.filter($"vec_id" =!= 0), "vec_id", "embedding", dir, maxIter = 5)
    val top = Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 20).select("vec_id").collect().map(_.getLong(0))
    val victims = corpus.filter(!$"vec_id".isin(top.map(java.lang.Long.valueOf): _*))
      .filter($"vec_id" =!= 0).limit(5).select("vec_id").localCheckpoint(true)
    IndexLifecycle.removeIds(spark, dir, victims, "vec_id", tombstone = true)
    val expect = Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (errors, answers) = hammer(
      readers = 3,
      probe = () => Ivf.probeIndex(spark, dir, "vec_id", "embedding",
        query, "embedding", k = 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      mutate = () => IndexLifecycle.compactIndex(spark, dir))
    assert(errors.isEmpty,
      s"a live probe failed during cell compaction: ${errors.headOption}")
    assert(answers == Set(expect),
      s"probe answers drifted during cell compaction: ${answers.map(_.take(3))}")
    assert(!new java.io.File(
      s"${IndexLifecycle.resolveIndexDir(spark, dir)}/deletes.parquet").exists())
  }

  test("POINTER MODE: a mid-probe mutation INSIDE the live generation trips the fence; the retry serves the new world (ADVICE r20)") {
    // The root epoch keys on commit files only, so it is deliberately
    // blind to everything but flips — which made it blind to a
    // removeIds/undeleteTombstones flip of the NESTED deletes.parquet
    // root and to append files landing inside the generation. A
    // probe racing such a mutation could serve the stale
    // supposedly-removed vector with NO retry (the finding-34 silent
    // mixed-world class). fencedProbeResolved now fences the RESOLVED
    // generation's own listing too; this pin mutates DETERMINISTICALLY
    // mid-body and requires the retry.
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_conc_ptrm").toString + "/idx"
    Ivf.buildIndex(corpus.filter($"vec_id" =!= 0), "vec_id", "embedding",
      root, maxIter = 5)
    val expectOld = Ivf.probeIndex(spark, root, "vec_id", "embedding",
      query, "embedding", k = 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // victim INSIDE the current top-k: serving the pre-remove answer
    // after the remove landed is exactly the stale-removed-vector hazard
    val victim = expectOld.head._1
    val victims = corpus.filter($"vec_id" === victim)
      .select("vec_id").localCheckpoint(true)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = IndexLifecycle.fencedProbeResolved(spark, root) { phys =>
      val model = Ivf.readIndexModel(spark, phys)
      val ans = Ivf.probeIndexFrame(
        IndexLifecycle.minusTombstones(spark, phys,
          spark.read.parquet(s"$phys/invfile.parquet"), "vec_id"),
        model, "vec_id", "embedding", query, "embedding", 5, 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // first pass only: the tombstone flip lands AFTER the body read its
      // answer — before the fix the fence passed and `ans` (containing
      // the removed id) was served
      if (calls.incrementAndGet() == 1)
        IndexLifecycle.removeIds(spark, root, victims, "vec_id", tombstone = true)
      ans
    }
    assert(calls.get() >= 2,
      "the generation fence did not trip on a mid-probe nested-tombstone " +
        "flip — the commits-only root epoch is blind to it and the probe " +
        "served a pre-remove answer")
    assert(!out.map(_._1).contains(victim),
      s"the retried probe still served the removed id $victim")
    val expectNew = Ivf.probeIndex(spark, root, "vec_id", "embedding",
      query, "embedding", k = 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out == expectNew,
      s"the retried probe's answer is not the post-remove world: $out vs $expectNew")
  }

  test("POINTER MODE: a mid-probe APPEND does not trip the generation fence (ADVICE r21 — benign-by-contract churn never burns the retry budget)") {
    // The inverse pin of the removeIds test above: append files landing
    // inside the live generation's artifact stores are the established
    // benign plan-snapshot class (postings-first orphan-drop /
    // parquet-loud torn files), so the r22 generation fence EXCLUDES the
    // append-mutable stores — under sustained append load probes must
    // not exhaust their bounded retries on churn that cannot serve wrong
    // data. A deterministic mid-body append must leave calls == 1; the
    // served answer is the body's own materialized result (the plan
    // snapshot), and a mutation that CAN serve wrong data (removeIds)
    // still trips — pinned by the sibling test.
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_conc_ptra").toString + "/idx"
    Ivf.buildIndex(corpus.filter($"vec_id" =!= 0).filter($"vec_id" < 400),
      "vec_id", "embedding", root, maxIter = 5)
    val extra = corpus.filter($"vec_id" >= 400).limit(5)
      .select("vec_id", "embedding").localCheckpoint(true)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = IndexLifecycle.fencedProbeResolved(spark, root) { phys =>
      val model = Ivf.readIndexModel(spark, phys)
      val ans = Ivf.probeIndexFrame(
        IndexLifecycle.minusTombstones(spark, phys,
          spark.read.parquet(s"$phys/invfile.parquet"), "vec_id"),
        model, "vec_id", "embedding", query, "embedding", 5, 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      if (calls.incrementAndGet() == 1)
        Ivf.appendIndex(extra, "vec_id", "embedding", root)
      ans
    }
    assert(calls.get() == 1,
      s"a benign mid-probe append tripped the generation fence " +
        s"(${calls.get()} passes) — sustained appends would exhaust the retry budget")
    assert(out.nonEmpty)
  }

  test("POINTER MODE: probes race a removeIds tombstone flip inside the live generation (ADVICE r20 hammer)") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_conc_ptrr").toString + "/idx"
    Ivf.buildIndex(corpus.filter($"vec_id" =!= 0), "vec_id", "embedding",
      root, maxIter = 5)
    // victims OUTSIDE the top-k: both worlds answer identically, so any
    // drifted answer is a real mixed-world read, never an expected delta
    val top = Ivf.probeIndex(spark, root, "vec_id", "embedding",
      query, "embedding", k = 20).select("vec_id").collect().map(_.getLong(0))
    val victims = corpus.filter(!$"vec_id".isin(top.map(java.lang.Long.valueOf): _*))
      .filter($"vec_id" =!= 0).limit(5).select("vec_id").localCheckpoint(true)
    val expect = Ivf.probeIndex(spark, root, "vec_id", "embedding",
      query, "embedding", k = 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (errors, answers) = hammer(
      readers = 3,
      probe = () => Ivf.probeIndex(spark, root, "vec_id", "embedding",
        query, "embedding", k = 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      mutate = () => IndexLifecycle.removeIds(spark, root, victims, "vec_id",
        tombstone = true))
    assert(errors.isEmpty,
      s"a live probe failed during the pointer-root tombstone flip: ${errors.headOption}")
    assert(answers == Set(expect),
      s"probe answers drifted during the pointer-root tombstone flip: ${answers.map(_.take(3))}")
  }
}
