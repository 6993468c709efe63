package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, IndexLifecycle, Ivf, Quantize, Relational, Similarity, Text}
import graft.engine.Tables

/** Scaling evidence for the hot operator families: run jaccard near-dup, connected
  * components, near-dup removal, MinHash LSH, embedding-LSH ANN,
  * decontamination (BOTH gate paths), and sequence packing on
  * 1×/2×/5×/10×/25× the sf0.1 corpus and verify no superlinear term —
  * the 100 TB posture argued from plan shape, measured over 1.4 decades.
  *
  * The scaled corpora are derived (not driver data): every token of each
  * extra replica is tagged with the replica id, so replicas are DISJOINT
  * in shingle space — growth models NEW content (per-shingle df constant,
  * postings grow k×). A partial rewrite instead multiplies per-shingle df
  * by the replica count and measures the corpus model, not the operator.
  * Embedding replicas get a per-(replica, position) SIGN FLIP: within a
  * replica all dot products are preserved exactly (s_i² = 1), across
  * replicas they scramble to ~0 — the vector analog of disjoint shingles.
  * Written to /tmp — /root/testdata stays untouched.
  *
  * Run: sbt "runMain graft.tools.ScaleBench"   (SPARK_GRAFT_KS=1,2,5 to trim)
  */
object ScaleBench {

  /** The core count every rung driver runs at (SPARK_GRAFT_CPUS, default 32). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The rungs (corpus multiples) to run: SPARK_GRAFT_KS, comma-separated. */
  def rungs(default: String): Seq[Int] =
    sys.env.getOrElse("SPARK_GRAFT_KS", default).split(",").map(_.trim.toInt).toSeq

  /** The `local[cpus]` session every rung driver runs in: a 15 s cleaner
    * GC (checkpointed rungs otherwise fill the block store; the default
    * interval never fires within a run) and one untimed warm-up job. */
  def session(shufflePartitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "15s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark
  }

  /** Task metrics summed over every job one measured body ran. */
  final class TaskMetrics {
    val gcMs, runMs, spillMemBytes, spillDiskBytes, shuffleWriteBytes = new AtomicLong(0L)
    val stageRunMs = new ConcurrentHashMap[Int, Long]()
    val stageName = new ConcurrentHashMap[Int, String]()

    def gcFraction: Double = gcMs.get().toDouble / math.max(runMs.get(), 1L)

    /** Prints the `n` stages with the most executor run time: which phase
      * of an operator carries a superlinear term, which wall alone can't say. */
    def printTopStages(label: String, tag: String, n: Int): Unit = {
      import scala.jdk.CollectionConverters._
      stageRunMs.asScala.toSeq.sortBy(-_._2).take(n).foreach { case (sid, ms) =>
        println(f"[$label] $tag s$sid%-4d ${ms / 1000.0}%8.1fs  " +
          stageName.getOrDefault(sid, "?"))
      }
    }
  }

  /** Runs `body` under a listener that sums its tasks' GC, run time, spill
    * and shuffle write, per stage too. The listener bus is asynchronous, so
    * it drains for a beat before the listener comes off. */
  def withTaskMetrics(spark: SparkSession)(body: => Unit): TaskMetrics = {
    val out = new TaskMetrics
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          out.gcMs.addAndGet(m.jvmGCTime); out.runMs.addAndGet(m.executorRunTime)
          out.spillMemBytes.addAndGet(m.memoryBytesSpilled)
          out.spillDiskBytes.addAndGet(m.diskBytesSpilled)
          out.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          out.stageRunMs.merge(te.stageId, m.executorRunTime, Long.box(_) + _)
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        out.stageName.put(sc.stageInfo.stageId, sc.stageInfo.name)
    }
    spark.sparkContext.addSparkListener(listener)
    try body finally { Thread.sleep(1500); spark.sparkContext.removeSparkListener(listener) }
    out
  }

  /** Replicate docs `k`× with per-replica token tagging. */
  def scaled(docs: DataFrame, k: Int): DataFrame = {
    val n = docs.count()
    (0 until k).map { r =>
      if (r == 0) docs
      else docs.select(
        (col("doc_id") + lit(r * n)).as("doc_id"),
        array_join(transform(split(col("text"), " "), t =>
          concat(t, lit("_"), lit(r))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
  }

  /** Replicate embeddings `k`× with per-replica sign flips. */
  def scaledEmb(emb: DataFrame, k: Int): DataFrame = {
    val n = emb.count()
    (0 until k).map { r =>
      if (r == 0) emb
      else emb.select(
        (col("vec_id") + lit(r * n)).as("vec_id"),
        // deterministic ±1 per (replica, position): xxhash parity
        zip_with(col("embedding"),
          transform(sequence(lit(0), size(col("embedding")) - 1),
            i => when(pmod(xxhash64(lit(r), i), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f))),
          (x, s) => x * s).as("embedding"),
        col("label"))
    }.reduce(_ unionAll _)
  }

  /** Replicate events `k`× onto DISJOINT user/event id ranges — growth
    * models more users with the same per-user behavior, so a groupBy(user)
    * must scale by adding keys, never by growing any one key's group. */
  def scaledEvents(ev: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      if (r == 0) ev
      else ev.select(
        (col("event_id") + lit(r * 1000000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(r * 1000000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val cpus = ScaleBench.cpus
    val ks = rungs("1,2,5,10,25")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "2").toInt
    val spark = session(cpus)

    val base = graft.engine.Tables.read(spark, "/root/testdata/sf0.1", "documents")
    val baseEmb = graft.engine.Tables.read(spark, "/root/testdata/sf0.1", "embeddings")
    val baseEv = graft.engine.Tables.read(spark, "/root/testdata/sf0.1", "events")
    val bench50 = base.filter(col("doc_id") < 50).localCheckpoint(true)

    def timeIt(body: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val out = body
      ((System.nanoTime() - t0) / 1e9, out)
    }
    def noop(df: DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); 0L
    }
    // warm codegen/shuffle paths untimed so x1 doesn't absorb JVM startup
    Dedup.jaccardNearDup(base.limit(1000), "doc_id", "text",
      n = 3, threshold = 0.6, maxDf = Some(100)).count()

    for (round <- 1 to rounds; k <- ks) {
      val dir = s"/tmp/graft_scale_x$k"
      if (!new java.io.File(s"$dir/documents.parquet").exists())
        scaled(base, k).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      if (!new java.io.File(s"$dir/embeddings.parquet").exists())
        scaledEmb(baseEmb, k).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      if (!new java.io.File(s"$dir/events.parquet").exists())
        scaledEvents(baseEv, k).write.mode("overwrite").parquet(s"$dir/events.parquet")
      // equalized parallelism + checkpoint: time the operators, not the
      // scan or the partition-count accident of how /tmp was written
      val docs = Tables.parquet(spark, s"$dir/documents.parquet")
        .repartition(cpus.toInt).localCheckpoint(true)
      val emb = Tables.parquet(spark, s"$dir/embeddings.parquet")
        .repartition(cpus.toInt).localCheckpoint(true)
      val nDocs = docs.count(); val nVecs = emb.count()

      val (tJac, _) = timeIt(noop(Dedup.jaccardNearDup(docs, "doc_id", "text",
        n = 3, threshold = 0.6, maxDf = Some(100))))
      // pairs pre-materialized so CC / remove timings isolate THEIR cost
      val pairs = Dedup.jaccardNearDup(docs, "doc_id", "text",
        n = 3, threshold = 0.6, maxDf = Some(100)).localCheckpoint(true)
      val nPairs = pairs.count()
      val (tCc, ccRounds) = timeIt {
        val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs, maxIter = 20)
        labels.write.format("noop").mode("overwrite").save()
        rounds.toLong
      }
      val (tRm, _) = timeIt(noop(Dedup.removeNearDups(docs, "doc_id", pairs)))
      val (tLsh, nLsh) = timeIt {
        val c = Dedup.minhashLshCandidates(docs, "doc_id", "text",
          n = 3, bands = 8, rowsPerBand = 4, estThreshold = 0.5).localCheckpoint(true)
        val n = c.count(); noop(c); n
      }
      val (tAnn, nAnn) = timeIt {
        val c = Similarity.lshCandidatePairs(emb, "vec_id", "embedding").localCheckpoint(true)
        val n = c.count(); noop(c); n
      }
      // the SIZED plane count (planesFor + table compensation) — the
      // fixed-16-plane `ann` column above is the finding-17 quadratic
      // anti-evidence; this one must stay ~linear
      val (tAnnS, nAnnS) = timeIt {
        val c = Similarity.lshCandidatePairsSized(emb, "vec_id", "embedding").localCheckpoint(true)
        val n = c.count(); noop(c); n
      }
      // prototypicality scoring: the centroid frame is |labels|·dim rows
      // (fixed — replicas keep their label), so the wall is the linear
      // explode + map-side partial agg + broadcast-join scoring pass
      val (tProto, _) = timeIt(noop(
        Similarity.prototypeScores(emb, "vec_id", "embedding", "label")))
      // PQ two-stage search: m concurrent subspace KMeans fits (sample-
      // bounded training cost), then an ADC projection + shortlist +
      // bounded exact re-rank — the scan term is the only corpus-sized
      // work, so the wall must track the scan
      // query picked by ID, not limit(1): pqTopK evaluates the query
      // frame twice (driver head() for the ADC tables, broadcast in the
      // exact re-rank) and an unordered limit carries no row identity
      val (tPq, _) = timeIt(noop(
        Quantize.pqTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10)))
      // decontaminate: gated default (broadcast at these sizes) AND the
      // forced distributed path — the curve past the gate must also hold
      val (tDec, _) = timeIt(noop(
        Dedup.decontaminate(docs, bench50, "doc_id", "text", n = 8)))
      val (tDecD, _) = timeIt(noop(
        Dedup.decontaminate(docs, bench50, "doc_id", "text", n = 8, idBroadcastLimit = 0L)))
      // the Bloom MIDDLE path, forced past the exact-set shingle gate:
      // corpus postings prefilter through the broadcast might_contain, so
      // the shuffled exact semi-join sees only prefilter survivors — the
      // wall must track the scan like `decon`, not the shuffle like a
      // full posting join
      val (tDecB, _) = timeIt(noop(
        Dedup.decontaminate(docs, bench50, "doc_id", "text", n = 8,
          shingleBroadcastLimit = 0L)))
      // past-gate SEMANTIC decon: a corpus-scaled
      // benchmark (5% slice of the embeddings) forced past the broadcast
      // gate routes through cell-scoped candidates — the wall must stay
      // ~linear in n (the pre-r8 fallback was an n·m cartesian,
      // quadratic when the benchmark scales with the corpus)
      val benchEmb = emb.filter(col("vec_id") < nVecs / 20).localCheckpoint(true)
      val (tSdec, _) = timeIt(noop(Dedup.semanticDecontaminate(
        emb, "vec_id", "embedding", benchEmb, "embedding", tau = 0.9,
        benchBroadcastLimit = 0L)))
      val (tPack, _) = timeIt(noop(Relational.packSequences(
        docs, "doc_id", size(split(col("text"), " ")), budget = 512)))
      // line dedup over 12-token chunk "lines": bodies are near-unique, so
      // this times the worst case (every line survives = full groupBy +
      // join + regroup volume), not the easy boilerplate-collapse case.
      // Corpus prep (chunking) is checkpointed OUTSIDE the timing.
      val ws = split(col("text"), " ")
      val withLines = docs.select(col("doc_id"),
        array_join(transform(
          sequence(lit(0), greatest(ceil(size(ws) / 12.0).cast("int"), lit(1)) - 1),
          i => array_join(slice(ws, i * 12 + 1, lit(12)), " ")), "\n").as("text"))
        .localCheckpoint(true)
      withLines.count()
      val (tLine, _) = timeIt(noop(Dedup.lineDedup(withLines, "doc_id", "text")))
      // winnowing exact-substring pairs: fingerprint count per
      // doc is fixed by the (k, w) density ~2/(w+1), replicas are
      // disjoint in char-gram space (every token carries the replica
      // tag), and maxDf bounds any fingerprint's df — so posting volume
      // grows linearly and pair volume must too
      val (tWin, nWin) = timeIt {
        val p = Dedup.winnowPairs(docs, "doc_id", "text",
          minShared = 3, maxDf = 50).localCheckpoint(true)
        val n = p.count(); noop(p); n
      }
      // substring decontamination against the 50-doc benchmark: the
      // registered c24 path — benchmark fp broadcast, corpus fingerprint
      // projection, per-doc count, gated removal; wall must track the
      // corpus linearly (the benchmark side is fixed)
      val (tWdec, _) = timeIt(noop(Dedup.winnowDecontaminate(
        docs, bench50, "doc_id", "text", minShared = 2, stopDf = Some(50))))
      // semantic dedup pair volume at the SIZED cell count (a fixed k
      // is quadratic): k = cellsFor(n) holds expected cell size
      // constant, so the pair count must stay ~linear in n. Timing
      // includes the KMeans training (k grows with n) — the pair COUNT is
      // the linearity claim, the wall is the honest total.
      // tau matches the c13_embedding_neardup threshold: the synthetic
      // embeddings' cosines are low, and a tau that yields ZERO pairs
      // would make the linearity measurement vacuous. Replicas preserve
      // within-replica dot products exactly (sign flips square away), so
      // the true duplicate structure grows linearly with k by
      // construction — the measured pair count must track it.
      val kCells = Dedup.cellsFor(nVecs)
      val (tSem, nSem) = timeIt {
        val p = Dedup.semanticDupPairs(emb, "vec_id", "embedding",
          tau = 0.15, k = kCells).localCheckpoint(true)
        val n = p.count(); noop(p); n
      }
      // the two-level residual path at sqrt(k) levels: same composite
      // cell count, training cost n·2√k instead of n·k — at the larger
      // scales the sem wall is training-dominated, so sem2 must undercut
      // sem there (the measured claim behind HierarchicalCellsThreshold)
      val kLevel = math.max(2, math.ceil(math.sqrt(kCells.toDouble)).toInt)
      val (tSem2, nSem2) = timeIt {
        val p = Dedup.semanticDupPairsHierarchical(emb, "vec_id", "embedding",
          tau = 0.15, k1 = kLevel, k2 = kLevel).localCheckpoint(true)
        val n = p.count(); noop(p); n
      }
      // skewed corpus: 20% of the vectors are EXACT
      // copies of vector 0 — a dense region that concentrates into ONE
      // cell no matter how the quantizer carves the space. With the
      // hot-cell anchor cut the mass emits m−1 pairs (linear in n); the
      // old |cell|² scan emitted C(m,2) inside the one task owning that
      // cell's shuffle key — the pair count here is the flatness claim.
      val nSkewCopies = nVecs / 5
      val skewed = emb.unionAll(
        emb.filter(col("vec_id") === 0)
          .crossJoin(spark.range(nSkewCopies))
          .select((col("id") + lit(100000000L)).as("vec_id"),
            col("embedding"), col("label")))
        .repartition(cpus.toInt).localCheckpoint(true)
      val nSkewTotal = skewed.count()
      // threshold 256 (not the 4096 default, a per-task work bound tuned
      // for real cluster tasks): keeps the cut ACTIVE across the whole
      // sweep at these corpus sizes, so the measured pair count is the
      // anchor-pass linearity itself, not the pre-cut |cell|² regime.
      // Training is deterministic and hoisted so the SAME quantizer feeds
      // the timed pair pass and the occupancy audit below; tSkewTr +
      // tSkew together cover what the pre-r8 single wall measured.
      val tTr0 = System.nanoTime()
      val skewCentroids = Ivf.trainCentroids(skewed, "embedding",
        k = Dedup.cellsFor(nSkewTotal))
      val tSkewTr = (System.nanoTime() - tTr0) / 1e9
      val idxSkew = Ivf.index(skewed, "vec_id", "embedding", skewCentroids)
      val (tSkew, nSkewPairs) = timeIt {
        val p = Dedup.cellPairs(idxSkew, "vec_id", "embedding",
          tau = 0.9, hotCellThreshold = 256).localCheckpoint(true)
        val n = p.count(); noop(p); n
      }
      // hot-cell occupancy audit: how many cells sit
      // above the sweep threshold AND above the DEFAULT threshold — a
      // non-point-mass hot-cell regime (broad dense region, coarse
      // quantizer) must be VISIBLE in the log, not silently approximated
      // by the anchor cut
      val hotCells = idxSkew.groupBy("cell").agg(count(lit(1)).as("c"))
        .filter(col("c") > 256).select(col("c")).collect().map(_.getLong(0))
      val hot256 = hotCells.length
      val hotDefault = hotCells.count(_ > Dedup.HotCellThreshold)
      // the sized ANN PROBE: candidates-per-query at
      // occupancy-sized planes must stay ~tables·targetBucketSize — a
      // bounded set, not a corpus fraction; this is the measured claim
      // behind probePlanesFor (the pair-path `annS` column can't show it)
      val (tProbe, nProbeCand) = timeIt {
        val planes = Similarity.probePlanesFor(nVecs)
        val tables = Similarity.probeTablesFor(planes)
        val qIdx = Similarity.lshIndex(
          emb.filter(col("vec_id") === 0).select(col("embedding").as("__qv")),
          "__qv", "__qv", tables, planes)
          .select(col("table"), col("bucket"))
        Similarity.lshIndex(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
            tables, planes)
          .join(broadcast(qIdx), Seq("table", "bucket"))
          .select("vec_id").distinct().count()
      }
      // digest-keyed rep collapse (finding 22): shuffle-write
      // bytes of the old groupBy(full text) collapse vs repCollapse —
      // the digest form's exchange carries (length, xxhash64, id) rows
      // and recovers rep text through the gated broadcast semi-join, so
      // its shuffled bytes must drop to ~digest volume while the text
      // form ships every distinct document through the exchange
      val bytesTextKey = withTaskMetrics(spark)(noop(
        docs.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), col("text")))).shuffleWriteBytes.get()
      val bytesDigestKey = withTaskMetrics(spark)(noop(
        Dedup.repCollapse(docs, "doc_id", "text"))).shuffleWriteBytes.get()
      // search-side finding 18: at the SIZED search
      // cell count (cellsForSearch = √(4n)) one Lloyd iteration costs
      // points·k distance evals, so the single-level wall grows ~n^1.5
      // while the two-level residual fit pays two √k-sized problems —
      // the measured reason Ivf.topKSized switches past
      // HierarchicalCellsThreshold. Same sampleFraction/maxIter as the
      // registered c14_ann_ivf query.
      val kSearch = Ivf.cellsForSearch(nVecs)
      val (tIvfTr1, _) = timeIt {
        Ivf.trainCentroids(emb, "embedding", k = kSearch,
          sampleFraction = 0.25, maxIter = 5); 0L
      }
      val kSL = math.max(2, math.ceil(math.sqrt(kSearch.toDouble)).toInt)
      val (tIvfTr2, _) = timeIt {
        Ivf.trainResidualQuantizer(emb, "embedding", k1 = kSL, k2 = kSL,
          sampleFraction = 0.25, maxIter = 5); 0L
      }
      // IVFADC at the SIZED entry with the RESIDUAL coarse regime FORCED
      // (threshold 64 < cellsForSearch at every k in this sweep) — the
      // switched path's curve, stage-attributed: the in-query call
      // (training + probe, the c14_ann_ivfpq shape), the offline BUILD
      // (coarse residual train + PQ codebooks + cell-partitioned code
      // table — the c14_ann_serve_pq setup), and the trained-nothing
      // PROBE (must stay ~flat: nprobe² composite cells of the corpus +
      // ADC lookup + bounded re-rank; coarse-train support is bounded by
      // max(trainSampleRows, 39·kLevel) so build must track the scan)
      val ivfpqDir = s"/tmp/graft_scale_ivfpq_x$k"
      val (tIvfPqQ, _) = timeIt(noop(Quantize.ivfPqSized(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        emb.filter(col("vec_id") === 0), "embedding", k = 10,
        hierarchicalThreshold = 64)))
      val (tIvfPqBuild, _) = timeIt {
        Quantize.buildPqIndex(emb.filter(col("vec_id") =!= 0), "vec_id",
          "embedding", ivfpqDir, hierarchicalThreshold = 64); 0L
      }
      val (tIvfPqProbe, _) = timeIt(noop(Quantize.probePqIndex(spark, ivfpqDir,
        "vec_id", "embedding", emb.filter(col("vec_id") === 0), "embedding",
        k = 10)))
      // the batched serve (cell equi-join — static pruning is the
      // single-query trick) against the same materialized dir, and the
      // retrain-free APPEND of a 1% disjoint-id slice (persisted
      // quantizer assigns cells+codes, dynamic-partition append) — both
      // must stay ~flat: the batch probe scans probed cells only, the
      // append pays one assignment pass over the appended rows. The
      // build above commits a fresh generation each round, so appends
      // never accumulate across rounds.
      val (tIvfPqServeB, _) = timeIt(noop(Ivf.probeIndexBatch(spark, ivfpqDir,
        "vec_id", "embedding", emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)))
      // the LSH serve arm: build = the one corpus-sized signature pass
      // (no training exists), probe = pruned postings scan + count-gated
      // id recovery + bounded cosine — must stay ~flat while build
      // tracks the corpus
      val lshDir = s"/tmp/graft_scale_lsh_x$k"
      val (tLshBuild, _) = timeIt {
        Similarity.buildLshIndex(emb.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", lshDir); 0L
      }
      val (tLshProbe, _) = timeIt(noop(Similarity.probeLshIndex(spark, lshDir,
        "vec_id", "embedding", emb.filter(col("vec_id") === 0), "embedding",
        k = 10)))
      // multi-probe serve (Lv et al.): 8 extra flipped-bit buckets per
      // table — the probe wall must stay in the single-probe's band (the
      // extra candidates are a bounded multiple of bucket occupancy,
      // never a corpus fraction)
      val (tLshProbeM, _) = timeIt(noop(Similarity.probeLshIndex(spark, lshDir,
        "vec_id", "embedding", emb.filter(col("vec_id") === 0), "embedding",
        k = 10, multiProbe = 8)))
      // batched LSH serve: the (table, bucket) equi-join shape — like the
      // IVF serve batch, the bucket union defeats pruning, so the join
      // wall is the claim (must stay in the single-probe's band ×O(1))
      val (tLshProbeB, _) = timeIt(noop(Similarity.probeLshIndexBatch(spark,
        lshDir, "vec_id", "embedding", emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)))
      // batch multi-probe: the in-plan HyperplaneBucketsMulti lever — one
      // signature pass emits (1+8) buckets/table, the same equi-join
      // carries (1+8)× pairs; the wall must stay in the batch band
      val (tLshProbeBM, _) = timeIt(noop(Similarity.probeLshIndexBatch(spark,
        lshDir, "vec_id", "embedding", emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, multiProbe = 8)))
      // rebuild (finding 29's remedy): append a 1% disjoint slice, then
      // retrain from the index's own rows. Measured on the LSH layout —
      // the one whose rebuild does something appends can't (re-run the
      // occupancy sizing); the cell layouts' rebuild IS their build
      // (already the `build` column) plus one index read. Wall must
      // track the build column: rebuild is paid on the drift cadence,
      // never per probe.
      val (tLshRebuild, _) = timeIt {
        Similarity.appendLshIndex(
          emb.filter(col("vec_id") < nVecs / 100)
            .select((col("vec_id") + lit(920000000L)).as("vec_id"),
              col("embedding")),
          "vec_id", "embedding", lshDir)
        IndexLifecycle.rebuildIndex(spark, lshDir); 0L
      }
      // serve-batch stage attribution: the batch's probed-cell UNION is
      // what defeats static pruning — record its size next to the join
      // wall so the flat curve is attributable (cells grow with n, the
      // union approaches the cell count, each join partition's build side
      // stays one cell's worth)
      val nServeCellsUnion = {
        val model = Ivf.loadIndexModel(spark, ivfpqDir)
        emb.filter(col("vec_id") < 5)
          .select(col("embedding").cast("array<double>")).collect()
          .flatMap(r => model.probedCells(r.getSeq[Double](0).toArray, 4))
          .distinct.length
      }
      val (tIvfPqApp, _) = timeIt {
        Quantize.appendPqIndex(
          emb.filter(col("vec_id") < nVecs / 100)
            .select((col("vec_id") + lit(900000000L)).as("vec_id"),
              col("embedding")),
          "vec_id", "embedding", ivfpqDir)
        0L
      }
      // compaction: two more small appends pile file batches onto the
      // touched cells, then compactIndex rewrites only cells over the
      // bound — record max files/cell before+after and the rewrite wall
      // (the small-file hazard row the lifecycle exists to close)
      (1 to 2).foreach { j =>
        Quantize.appendPqIndex(
          emb.filter(col("vec_id") >= j * (nVecs / 200) &&
            col("vec_id") < (j + 1) * (nVecs / 200))
            .select((col("vec_id") + lit(910000000L + j * 1000000L)).as("vec_id"),
              col("embedding")),
          "vec_id", "embedding", ivfpqDir)
      }
      def maxFilesPerCell: Int = IndexLifecycle.indexStats(spark, ivfpqDir)
        .head().getAs[Int]("max_files_per_cell")
      val filesBeforeCompact = maxFilesPerCell
      val (tCompact, _) = timeIt {
        IndexLifecycle.compactIndex(spark, ivfpqDir,
          maxFilesPerCell = 2); 0L
      }
      val filesAfterCompact = maxFilesPerCell
      // batched LSH probe: the serving-layer path —
      // wall for the full batch call, then candidate volume and the
      // per-query exact-fallback RATE (queries whose probe came back
      // short of k re-answer exactly; bounded candidates with a stable
      // fallback fraction is the scale claim)
      val qBatch = emb.filter(col("vec_id") < 5)
      val corpusB = emb.filter(col("vec_id") >= 5)
      val (tPbatch, _) = timeIt(noop(Similarity.lshTopKBatchSized(
        corpusB, "vec_id", "embedding", qBatch, "vec_id", "embedding", k = 10)))
      val (nPbCand, nPbFallback) = {
        val planesB = Similarity.probePlanesFor(nVecs - 5)
        val tablesB = Similarity.probeTablesFor(planesB)
        val perQuery = Similarity.lshIndex(corpusB, "vec_id", "embedding",
            tablesB, planesB)
          .join(broadcast(Similarity.lshIndex(
            qBatch.select(col("vec_id").as("query_id"), col("embedding").as("__qv")),
            "query_id", "__qv", tablesB, planesB)
            .select(col("table"), col("bucket"), col("query_id"))),
            Seq("table", "bucket"))
          .dropDuplicates("query_id", "vec_id")
          .groupBy("query_id").agg(count(lit(1)).as("c"))
          .collect()
        (perQuery.map(_.getLong(1)).sum, 5 - perQuery.count(_.getLong(1) >= 10))
      }
      // groupBy(user_id) hot-key audit: replicas add
      // USERS, so per-key group size is constant and the wall must track
      // n, not any one key — the registered session/retention queries run
      // unmodified against the scaled events table
      val (tSess, _) = timeIt(noop(
        graft.SparkEntry.queries("c19_session_conversion")(spark, dir)))
      val (tRet, _) = timeIt(noop(
        graft.SparkEntry.queries("c6_retention")(spark, dir)))
      // the two heaviest LM queries: bigram NLL
      // (the c2 count table grows with distinct bigrams) and the 4-stage
      // curation composition (decontaminate → scrub → line-dedup → pack)
      val (tBig, _) = timeIt(noop(Text.bigramNll(docs, "doc_id", "text")))
      val (tCur, _) = timeIt(noop {
        val clean = Dedup.decontaminate(
          docs.filter(col("doc_id") >= 50), bench50, "doc_id", "text", n = 8)
        val scrubbed = clean.select(col("doc_id"),
          Text.scrubPii(col("text")).as("text"))
        val deduped = Dedup.lineDedup(scrubbed, "doc_id", "text")
        Relational.packSequences(deduped, "doc_id",
          size(split(col("text"), "[ \n]")), budget = 512)
      })

      // BPE train/encode: training state is the
      // WORD VOCABULARY — replica-tagged tokens grow the vocab k×. The
      // registered path is GATE-COLLECTED: one
      // explode+count vocab aggregate, one vocab collect, then the
      // driver-local incremental merge loop — so the wall is vocab-build
      // + collect, linear in n and independent of numMerges-many Spark
      // jobs. Encode reuses the distinct-word shape: each word encodes
      // once, docs fold counts.
      var bpeTable: Seq[(String, String)] = Nil
      val (tBpeTr, _) = timeIt {
        bpeTable = Text.bpeTrain(docs, "text", numMerges = 12)
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        0L
      }
      val (tBpeEnc, _) = timeIt(noop(
        Text.bpeEncode(docs, "doc_id", "text", bpeTable)))
      // tokenizer-REALISTIC merge count (a real BPE trains ~30k rules;
      // 2000 here keeps the sweep short): the incremental driver loop's
      // extra wall over the 12-rule run must be seconds, not 166× — the
      // pre-gate form paid one full Spark aggregate PER RULE
      val (tBpe2k, nBpe2k) = timeIt {
        Text.bpeTrain(docs, "text", numMerges = 2000).count()
      }
      // perplexity bucketing: NLL is the unigram shape (linear); the
      // tercile rank is the one global exchange+sort — n log n with a
      // 32-partition merge, measured here so the cliff would be visible
      val (tPpl, _) = timeIt(noop(Text.perplexityBuckets(docs, "doc_id", "text")))
      // temperature sampling: one stratum count aggregate + codegen
      // filter — must be scan-bound flat
      val (tTemp, _) = timeIt(noop(
        Relational.temperatureSample(docs, "lang", "doc_id")))
      // per-language ppl terciles: the (lang, token) vocab
      // probe + groupedRank — must track the global-ppl column's curve
      // (same shapes, one extra key column in the vocab aggregate)
      val (tPplL, _) = timeIt(noop(
        Text.perplexityBucketsByLang(docs, "doc_id", "text", "lang")))
      // contamination audit: |benchmark|-bounded output; the
      // corpus pays two posting scans (df cut + report join) — wall must
      // track the corpus linearly, benchmark side fixed
      val (tRep, _) = timeIt(noop(
        Dedup.contaminationReport(docs, bench50, "doc_id", "text", n = 8)))
      // the composed curation v6 product path:
      // decontaminate → ppl terciles (drop tail) → temperature rebalance.
      // After the globalRank fix every stage is scale-shaped; checkpoint
      // boundaries attribute the wall per stage (a = decon, b = NLL +
      // two-phase rank + tercile join, c = gated rebalance)
      var v6Clean: DataFrame = null
      var v6Kept: DataFrame = null
      val (tV6a, _) = timeIt {
        v6Clean = Dedup.decontaminate(docs.filter(col("doc_id") >= 50),
          bench50, "doc_id", "text", n = 8).localCheckpoint(true)
        0L
      }
      val (tV6b, _) = timeIt {
        val buckets = Text.perplexityBuckets(v6Clean, "doc_id", "text")
          .filter(col("bucket") =!= "tail")
        v6Kept = v6Clean.select("doc_id", "lang")
          .join(buckets.select(col("doc").as("doc_id"), col("bucket")),
            Seq("doc_id"))
          .localCheckpoint(true)
        0L
      }
      val (tV6c, _) = timeIt(noop(
        Relational.temperatureSample(v6Kept, "lang", "doc_id", baseFrac = 0.5)))
      // the composed curation v7 product path: decontaminate → PER-LANG
      // ppl terciles (per-lang LM + groupedRank) → temperature rebalance.
      // Stage walls attributed the v6 way (a = decon, b = per-lang NLL +
      // grouped rank + tercile join, c = gated rebalance); watch b's
      // (lang, token) vocab growth against the count gate
      var v7Clean: DataFrame = null
      var v7Kept: DataFrame = null
      val (tV7a, _) = timeIt {
        v7Clean = Dedup.decontaminate(docs.filter(col("doc_id") >= 50),
          bench50, "doc_id", "text", n = 8).localCheckpoint(true)
        0L
      }
      val (tV7b, _) = timeIt {
        val buckets = Text.perplexityBucketsByLang(v7Clean, "doc_id", "text", "lang")
          .filter(col("bucket") =!= "tail")
        v7Kept = v7Clean.select("doc_id", "lang")
          .join(buckets.select(col("doc").as("doc_id"), col("bucket")),
            Seq("doc_id"))
          .localCheckpoint(true)
        0L
      }
      val (tV7c, _) = timeIt(noop(
        Relational.temperatureSample(v7Kept, "lang", "doc_id", baseFrac = 0.5)))
      // span-level exact-substring dedup: posting projection + linear
      // keeper aggregate + cut join + O(len) reassembly — no pair join
      // exists, so the wall must track the corpus linearly
      val (tSpan, _) = timeIt(noop(
        Dedup.spanDedup(docs, "doc_id", "text")))
      // curation v8, stage-attributed (a = n-gram + semantic decon union
      // + id removal, b = the SPAN-CUT REASSEMBLY — posting projection +
      // O(len) per-doc splice, the watched stage, c = quality gate +
      // per-lang agg) — b must track the corpus linearly, never a pair
      // join
      var v8Kept: DataFrame = null
      var v8Spanned: DataFrame = null
      val (tV8a, _) = timeIt {
        val corpus = docs.filter(col("doc_id") >= 50)
        val doomed = Dedup.contaminatedIds(corpus, bench50, "doc_id", "text", n = 8)
          .unionAll(Dedup.semanticContaminatedIds(emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 50), "embedding", tau = 0.95))
        v8Kept = Dedup.removeIds(corpus, "doc_id", doomed).localCheckpoint(true)
        0L
      }
      val (tV8b, _) = timeIt {
        v8Spanned = Dedup.spanDecontaminate(v8Kept, bench50, "doc_id", "text")
          .localCheckpoint(true)
        0L
      }
      val (tV8c, _) = timeIt(noop {
        val quality = Text.qualityScore(v8Spanned, "doc_id", "text")
        v8Spanned
          .join(v8Kept.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .join(quality.filter(col("lexical_diversity") >= 0.5).select("doc_id"),
            Seq("doc_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            org.apache.spark.sql.functions.round(
              avg(length(col("text"))), 2).as("avg_kept_chars"),
            sum(col("n_cut")).as("chars_cut"))
      })
      // curation v9, stage-attributed (a = decon + embedding join, b =
      // the PER-LANG CENTROID scoring — the watched stage: the centroid
      // frame is |langs|·dim rows, FIXED as replicas keep their lang, so
      // b must be the linear explode + partial agg + broadcast scoring
      // pass, c = grouped rank + count gate + rebalance)
      var v9WithVec: DataFrame = null
      var v9Scored: DataFrame = null
      val (tV9a, _) = timeIt {
        val clean = Dedup.decontaminate(docs.filter(col("doc_id") >= 50),
          bench50, "doc_id", "text", n = 8)
        v9WithVec = clean.select(col("doc_id"), col("lang"))
          .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
            Seq("doc_id"))
          .localCheckpoint(true)
        0L
      }
      val (tV9b, _) = timeIt {
        v9Scored = Similarity.prototypeScores(
          v9WithVec, "doc_id", "embedding", "lang").localCheckpoint(true)
        0L
      }
      val (tV9c, _) = timeIt(noop {
        val n = v9Scored.groupBy("lang").agg(count(lit(1)).as("__n"))
          .localCheckpoint(true)
        val ranked = Relational.groupedRank(v9Scored, Seq("lang"),
          Seq(col("sim"), col("doc_id")), "__r")
        val withN =
          if (n.count() <= Dedup.HotShingleBroadcastLimit)
            ranked.join(broadcast(n), Seq("lang"))
          else ranked.join(n.hint("SHUFFLE_HASH"), Seq("lang"))
        Relational.temperatureSample(
          withN.filter(col("__r") * 3 > col("__n"))
            .select(col("doc_id"), col("lang"), col("sim")),
          "lang", "doc_id", baseFrac = 0.5)
      })

      println(f"[scale] r$round x$k%-2d docs=$nDocs%7d vecs=$nVecs%6d | " +
        f"jaccard=$tJac%6.2fs pairs=$nPairs%6d cc=$tCc%5.2fs(r=$ccRounds) " +
        f"rm=$tRm%5.2fs | " +
        f"lsh=$tLsh%5.2fs($nLsh%5d) ann=$tAnn%5.2fs($nAnn%6d) annS=$tAnnS%5.2fs($nAnnS%6d) " +
        f"proto=$tProto%5.2fs pq=$tPq%5.2fs | " +
        f"decon=$tDec%5.2fs dist=$tDecD%5.2fs bloom=$tDecB%5.2fs sdec=$tSdec%5.2fs pack=$tPack%5.2fs line=$tLine%5.2fs " +
        f"win=$tWin%5.2fs($nWin%6d) wdec=$tWdec%5.2fs | " +
        f"sem=$tSem%5.2fs($nSem%6d,k=$kCells) sem2=$tSem2%5.2fs($nSem2%6d,k=$kLevel²) " +
        f"bigram=$tBig%5.2fs cur2=$tCur%5.2fs | " +
        f"repKey=${bytesTextKey / 1048576}%4dMB->${bytesDigestKey / 1048576}%dMB " +
        f"skew=$tSkewTr%5.2fs+$tSkew%5.2fs($nSkewPairs%6d,hot256=$hot256,hotDef=$hotDefault) " +
        f"probe=$tProbe%5.2fs($nProbeCand%5d) " +
        f"ivfTr=$tIvfTr1%5.2fs/$tIvfTr2%5.2fs(k=$kSearch) " +
        f"ivfpq=$tIvfPqQ%5.2fs build=$tIvfPqBuild%5.2fs probe=$tIvfPqProbe%5.2fs " +
        f"serveB=$tIvfPqServeB%5.2fs(cells=$nServeCellsUnion) app=$tIvfPqApp%5.2fs " +
        f"compact=$tCompact%5.2fs(files=$filesBeforeCompact->$filesAfterCompact) " +
        f"lshB=$tLshBuild%5.2fs lshP=$tLshProbe%5.2fs lshPM=$tLshProbeM%5.2fs " +
        f"lshPB=$tLshProbeB%5.2fs lshPBM=$tLshProbeBM%5.2fs " +
        f"lshRb=$tLshRebuild%5.2fs " +
        f"pbatch=$tPbatch%5.2fs(cand=$nPbCand%6d,fb=$nPbFallback/5) " +
        f"sess=$tSess%5.2fs ret=$tRet%5.2fs | " +
        f"bpe=$tBpeTr%5.2fs/$tBpeEnc%5.2fs bpe2k=$tBpe2k%6.2fs($nBpe2k) " +
        f"ppl=$tPpl%5.2fs pplL=$tPplL%5.2fs rep=$tRep%5.2fs temp=$tTemp%5.2fs " +
        f"v6=$tV6a%5.2f/$tV6b%5.2f/$tV6c%5.2fs " +
        f"v7=$tV7a%5.2f/$tV7b%5.2f/$tV7c%5.2fs span=$tSpan%5.2fs " +
        f"v8=$tV8a%5.2f/$tV8b%5.2f/$tV8c%5.2fs v9=$tV9a%5.2f/$tV9b%5.2f/$tV9c%5.2fs")
    }
    spark.stop()
  }
}
