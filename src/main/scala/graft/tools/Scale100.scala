package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Ivf, IndexLifecycle, Similarity}
import graft.engine.Tables

/** The 100× rung (r16 verdict #3): every scale claim in PERF.md is
  * measured through 25× (1.4 decades); the north star is 100 TB. This
  * tool adds ONE deeper rung — 500k docs / 200k vectors, 100× the
  * sf0.1 corpus — for the HEADLINE columns only: jaccard near-dup,
  * connected components, semantic two-level pairs, IVF build,
  * tombstoned remove + compaction backlog, and the serve / filtered /
  * range probes. A full ScaleBench pass at x100 would run for hours
  * without adding evidence (the linear columns' slopes are already
  * pinned by five rungs); this rung exists for the terms that are NOT
  * in the 25× timed path — file counts, driver metadata walks (the
  * [[IndexLifecycle.dirEpoch]] listing every fenced probe pays),
  * candidate-volume bounds — any of which could bend only past 25×.
  *
  * Methodology matches ScaleBench/LifecycleSweep exactly (same scaled
  * corpora in /tmp, same parameters, same noop sink) so the x100 row
  * appends directly to their PERF.md sweep tables.
  *
  * Run: sbt "runMain graft.tools.Scale100"
  * (SPARK_GRAFT_KS to add comparison rungs, default "25,100")
  */
object Scale100 {

  def main(args: Array[String]): Unit = {
    val cpus = ScaleBench.cpus
    val ks = ScaleBench.rungs("25,100")
    // at x100 ONE session cannot hold both families' checkpointed
    // frames without the later family reading driver-block pressure
    // instead of its own cost (measured: compact 35.8 s after the dedup
    // columns vs 6.1 s lean; jaccard 164 s after the serve columns vs
    // 66 s leading) — run each family in its own session for the
    // deepest rung: SPARK_GRAFT_S100=lifecycle|dedup|all
    // "jac": ONLY the corpus load + jaccard + CC — the leanest session
    // for the deepest rung (x400), where even sibling columns'
    // checkpoints would contaminate the measurement (reading (b))
    // "sem2": ONLY the embeddings load + semantic two-level pairs —
    // the lean session for its deepest rung (same rationale as "jac")
    val section = sys.env.getOrElse("SPARK_GRAFT_S100", "all")
    val doLifecycle = section != "dedup" && section != "jac" && section != "sem2"
    val doDedup = section != "lifecycle" && section != "sem2"
    val jacOnly = section == "jac"
    val sem2Only = section == "sem2"
    // shuffle partitions scale with the rung (the 100 TB rule CLAUDE.md
    // states: size partitions to fit executor memory at the target SF) —
    // cpus-many partitions hold 4× the rows at x100 vs x25 and spill
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = ScaleBench.session(shuffleParts)
    import spark.implicits._

    val base = graft.engine.Tables.read(spark, "/root/testdata/sf0.1", "documents")
    val baseEmb = graft.engine.Tables.read(spark, "/root/testdata/sf0.1", "embeddings")

    def timeIt(body: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val out = body
      ((System.nanoTime() - t0) / 1e9, out)
    }
    def noop(df: DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); 0L
    }
    // warm codegen/shuffle untimed (ScaleBench's rule)
    Dedup.jaccardNearDup(base.limit(1000), "doc_id", "text",
      n = 3, threshold = 0.6, maxDf = Some(100)).count()

    for (k <- ks) {
      val dir = s"/tmp/graft_scale_x$k"
      if (!sem2Only && !new java.io.File(s"$dir/documents.parquet").exists())
        ScaleBench.scaled(base, k).write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")
      if (!jacOnly && !new java.io.File(s"$dir/embeddings.parquet").exists())
        ScaleBench.scaledEmb(baseEmb, k).write.mode("overwrite")
          .parquet(s"$dir/embeddings.parquet")
      // the lifecycle/serve columns run FIRST, in a lean session: the
      // first x100 ordering ran compact after the dedup columns had
      // checkpointed ~6 GB of corpus/pair blocks and read 35.8 s where
      // the isolated stages sum to 5.2 s (PERF.md x100 reading (b); the
      // deleted CompactProfile:
      // `git show 2262a09:src/main/scala/graft/tools/CompactProfile.scala`) — driver-held
      // block pressure, not the operator; docs checkpoint lazily below
      val emb = if (jacOnly) null
        else Tables.parquet(spark, s"$dir/embeddings.parquet")
          .repartition(cpus.toInt).localCheckpoint(true)
      val nVecs = if (jacOnly) 0L else emb.count()

      if (doLifecycle) {
      // the removal batches below are FIXED id ranges (so the increment
      // stays constant while the corpus scales — the sweep convention);
      // a smaller comparison rung would silently empty them and the
      // liveAfter require would then abort with a misleading
      // "lost rows" — fail with the real reason instead
      require(nVecs >= 16000,
        s"lifecycle section needs vec_id range through 15100 (k >= 8, " +
          s"got $nVecs vectors at x$k) — run SPARK_GRAFT_S100=dedup for smaller rungs")
      // ── IVF build (LifecycleSweep's convention: residual regime
      //    forced, sampled training) ─────────────────────────────────────
      val ivfDir = s"/tmp/graft_s100_ivf_x$k"
      IndexLifecycle.clearLock(spark, ivfDir) // crashed prior sweep
      val (tBuild, _) = timeIt {
        Ivf.buildIndex(emb, "vec_id", "embedding", ivfDir,
          sampleFraction = 0.25, maxIter = 5, hierarchicalThreshold = 64)
        0L
      }
      val cellsTotal = IndexLifecycle.indexStats(spark, ivfDir).head()
        .getAs[Long]("cells")

      // ── tombstoned scattered remove + compaction backlog ─────────────
      // the finding-32 claims at 4× the previous deepest rung: the
      // append must stay flat, the probe pays only the anti-join rider,
      // compaction carries the deferred rewrite
      val tombBatch = emb.filter(col("vec_id") >= 2001 && col("vec_id") <= 2500)
        .select("vec_id").localCheckpoint(true)
      val (tRmTomb, _) = timeIt {
        IndexLifecycle.removeIds(spark, ivfDir, tombBatch, "vec_id",
          tombstone = true); 0L
      }
      val (tProbeTomb, _) = timeIt(noop(
        Ivf.probeIndex(spark, ivfDir, "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10)))
      // batch-size dimension (flat-in-batch claim): disjoint scattered
      // batches through the tombstone verb before the one compaction
      var lo = 10000L
      val batchWalls = Seq(100L, 1000L, 4000L).map { bs =>
        val b = emb.filter(col("vec_id") >= lo && col("vec_id") < lo + bs)
          .select("vec_id").localCheckpoint(true)
        lo += bs
        val (tB, _) = timeIt {
          IndexLifecycle.removeIds(spark, ivfDir, b, "vec_id",
            tombstone = true); 0L
        }
        (bs, tB)
      }
      val backlog = IndexLifecycle.indexStats(spark, ivfDir).head()
        .getAs[Long]("tombstones")
      val (tCompact, _) = timeIt {
        IndexLifecycle.compactIndex(spark, ivfDir); 0L
      }
      val liveAfter = IndexLifecycle.indexStats(spark, ivfDir).head()
        .getAs[Long]("live_rows")
      require(liveAfter == nVecs - 500L - 5100L,
        s"tombstone+compact lost rows at x$k: $liveAfter vs ${nVecs - 5600L}")

      // ── serve / filtered / range probes ──────────────────────────────
      val lshDir = s"/tmp/graft_scale_lsh_x$k"
      val tLshBuild =
        if (IndexLifecycle.resolvePointer(spark, lshDir).isDefined) -1.0 // cached
        else timeIt {
          Similarity.buildLshIndex(emb.filter(col("vec_id") =!= 0),
            "vec_id", "embedding", lshDir); 0L
        }._1
      val (tLshProbe, _) = timeIt(noop(
        Similarity.probeLshIndex(spark, lshDir, "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10)))
      val (tIvfProbe, _) = timeIt(noop(
        Ivf.probeIndex(spark, ivfDir, "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10)))
      // filtered, broadcast gate (10% allowlist)
      val allowlist = emb.filter(pmod(col("vec_id"), lit(10)) === 1)
        .select("vec_id").localCheckpoint(true)
      val (tProbeF, _) = timeIt(noop(
        Similarity.probeLshIndex(spark, lshDir, "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10,
          selector = Some(allowlist))))
      // filtered, past the broadcast gate (ghost-padded allowlist
      // through the public API — LifecycleSweep's construction)
      val bigAllow = allowlist.union(
          spark.range(Dedup.HotShingleBroadcastLimit + 100000L)
            .select((col("id") + 8000000000L).as("vec_id")))
        .localCheckpoint(true)
      val (tProbeFSh, _) = timeIt(noop(
        Similarity.probeLshIndex(spark, lshDir, "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10,
          selector = Some(bigAllow))))
      // serve RANGE probe (annProbeStream's plan on a batch frame)
      val (tRange, _) = timeIt(noop(
        graft.streaming.Streaming.annProbeStream(
          emb.filter(col("vec_id") === 0), "vec_id", "embedding",
          ivfDir, tau = 0.2, nprobe = 16)))

      println(f"[s100] x$k%-3d vecs=$nVecs%7d | " +
        f"ivfBuild=$tBuild%7.2fs cells=$cellsTotal%5d " +
        f"lshBuild=$tLshBuild%7.2fs | " +
        f"rmT500=$tRmTomb%5.2fs probeT=$tProbeTomb%5.2fs " +
        batchWalls.map { case (bs, t) => f"rmT$bs=$t%5.2fs" }.mkString(" ") +
        f" backlog=$backlog%5d compact=$tCompact%6.2fs | " +
        f"lshP=$tLshProbe%5.2fs ivfP=$tIvfProbe%5.2fs probeF=$tProbeF%5.2fs " +
        f"probeFsh=$tProbeFSh%5.2fs range=$tRange%6.2fs")
      }

      if (doDedup) {
      // ── jaccard near-dup + CC (the dedup headline) ───────────────────
      val docs = Tables.parquet(spark, s"$dir/documents.parquet")
        .repartition(cpus.toInt).localCheckpoint(true)
      val nDocs = docs.count()
      var tJac = 0.0
      val jac = ScaleBench.withTaskMetrics(spark) {
        val (t, _) = timeIt(noop(Dedup.jaccardNearDup(docs, "doc_id", "text",
          n = 3, threshold = 0.6, maxDf = Some(100))))
        tJac = t
      }
      jac.printTopStages("s100-stage", s"x$k jac", 8)
      val jacMetrics = f"jaccard=$tJac%7.2fs(gc=${jac.gcMs.get() / 1000.0}%6.1fs," +
        f"${jac.gcFraction * 100}%4.1f%%,run=${jac.runMs.get() / 1000L}s," +
        f"spill=${jac.spillMemBytes.get() >> 20}MB/${jac.spillDiskBytes.get() >> 20}MB) "
      val pairs = Dedup.jaccardNearDup(docs, "doc_id", "text",
        n = 3, threshold = 0.6, maxDf = Some(100)).localCheckpoint(true)
      val nPairs = pairs.count()
      val (tCc, ccRounds) = timeIt {
        val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs, maxIter = 20)
        labels.write.format("noop").mode("overwrite").save()
        rounds.toLong
      }

      if (jacOnly) {
        println(f"[s100] x$k%-3d docs=$nDocs%7d | " + jacMetrics +
          f"pairs=$nPairs%8d cc=$tCc%6.2fs(r=$ccRounds)")
      } else {
      // ── hyperplane-LSH candidate pairs (finding-14 join-back tail:
      //    the vector table stops broadcasting past ~25×, same ceiling
      //    as the jaccard verify — finding 35) ────────────────────────────
      var tAnnS = 0.0; var nAnnS = 0L
      val ann = ScaleBench.withTaskMetrics(spark) {
        val (t, nn) = timeIt {
          val c = Similarity.lshCandidatePairsSized(emb, "vec_id", "embedding")
            .localCheckpoint(true)
          c.count()
        }
        tAnnS = t; nAnnS = nn
      }
      ann.printTopStages("s100-stage", s"x$k annS", 8)
      println(f"[s100] x$k%-3d annS=$tAnnS%7.2fs($nAnnS%8d) " +
        f"gc=${ann.gcMs.get() / 1000.0}%5.1fs(${ann.gcFraction * 100}%4.1f%%) " +
        f"run=${ann.runMs.get() / 1000L}s " +
        f"spill=${ann.spillMemBytes.get() >> 20}MB/${ann.spillDiskBytes.get() >> 20}MB")

      // ── minhash-LSH banding (the last payload-bearing dedup exchange:
      //    sig_a/sig_b ride the pair dropDuplicates; banding bounds the
      //    candidate volume, so this should hold like annS — measured,
      //    not assumed) ───────────────────────────────────────────────────
      var tMh = 0.0; var nMh = 0L
      val mh = ScaleBench.withTaskMetrics(spark) {
        val (t, nn) = timeIt {
          val c = Dedup.minhashLshCandidates(docs, "doc_id", "text",
            n = 3, bands = 8, rowsPerBand = 4, estThreshold = 0.5)
            .localCheckpoint(true)
          c.count()
        }
        tMh = t; nMh = nn
      }
      mh.printTopStages("s100-stage", s"x$k mh", 8)
      println(f"[s100] x$k%-3d mh=$tMh%7.2fs($nMh%8d) " +
        f"gc=${mh.gcMs.get() / 1000.0}%5.1fs(${mh.gcFraction * 100}%4.1f%%) " +
        f"run=${mh.runMs.get() / 1000L}s " +
        f"spill=${mh.spillMemBytes.get() >> 20}MB/${mh.spillDiskBytes.get() >> 20}MB")

      // ── semantic two-level pairs at the sized level count ────────────
      val kCells = Dedup.cellsFor(nVecs)
      val kLevel = math.max(2, math.ceil(math.sqrt(kCells.toDouble)).toInt)
      val (tSem2, nSem2) = timeIt {
        val p = Dedup.semanticDupPairsHierarchical(emb, "vec_id", "embedding",
          tau = 0.15, k1 = kLevel, k2 = kLevel).localCheckpoint(true)
        val n = p.count(); noop(p); n
      }

      println(f"[s100] x$k%-3d docs=$nDocs%7d vecs=$nVecs%7d | " + jacMetrics +
        f"pairs=$nPairs%8d cc=$tCc%6.2fs(r=$ccRounds) " +
        f"sem2=$tSem2%6.2fs($nSem2%8d,k=$kLevel^2)")
      }
      }

      if (sem2Only) {
        val kCells = Dedup.cellsFor(nVecs)
        val kLevel = math.max(2, math.ceil(math.sqrt(kCells.toDouble)).toInt)
        val (tSem2, nSem2) = timeIt {
          val p = Dedup.semanticDupPairsHierarchical(emb, "vec_id", "embedding",
            tau = 0.15, k1 = kLevel, k2 = kLevel).localCheckpoint(true)
          val n = p.count(); noop(p); n
        }
        println(f"[s100] x$k%-3d vecs=$nVecs%7d | " +
          f"sem2=$tSem2%6.2fs($nSem2%9d,k=$kLevel^2)")
      }
    }
    spark.stop()
  }
}
