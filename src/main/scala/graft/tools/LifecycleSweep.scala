package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Ivf, IndexLifecycle, Similarity}
import graft.engine.Tables

/** Lifecycle scaling evidence the main ScaleBench sweep doesn't carry
  * (r14 verdict #3/#7), at 1×/2×/5×/10×/25× the sf0.1 embeddings:
  *
  *  - **cell-layout removeIds**: wall + affected-cell count for a
  *    FIXED 500-id removal batch. The call has two cost terms: the
  *    affected-cell DISCOVERY (a column-pruned id⋈cell semi-join over
  *    the inverted file — linear in corpus bytes but reads two columns)
  *    and the new GENERATION (the affected cells rewrite through Spark,
  *    every other cell copies over — the copy is linear in the index,
  *    finding 41). A second remove of ids NOT in the index isolates the
  *    discovery term (no cells match, so no generation is written):
  *    rewrite = t(remove) − t(noop remove).
  *
  *  - **occupancy-sized multi-probe** ([[Similarity.multiProbeFor]]):
  *    the sized q and the measured candidate volume per rung — the
  *    volume must track the fixed budget (default 4096), not the
  *    corpus; the probe wall at the sized q rides along.
  *
  * Corpora reuse [[ScaleBench]]'s /tmp replicas (disjoint sign-flipped
  * embeddings — within-replica dot products exact, cross-replica ~0).
  *
  * Run: sbt "runMain graft.tools.LifecycleSweep"  (SPARK_GRAFT_KS to trim)
  */
object LifecycleSweep {

  def main(args: Array[String]): Unit = {
    val cpus = ScaleBench.cpus
    val ks = ScaleBench.rungs("1,2,5,10,25")
    val spark = ScaleBench.session(cpus)

    val baseEmb = graft.engine.Tables.read(spark, "/root/testdata/sf0.1", "embeddings")

    def timeIt(body: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val out = body
      ((System.nanoTime() - t0) / 1e9, out)
    }

    for (k <- ks) {
      val dir = s"/tmp/graft_scale_x$k"
      if (!new java.io.File(s"$dir/embeddings.parquet").exists())
        ScaleBench.scaledEmb(baseEmb, k).write.mode("overwrite")
          .parquet(s"$dir/embeddings.parquet")
      val emb = Tables.parquet(spark, s"$dir/embeddings.parquet")
        .repartition(cpus.toInt).localCheckpoint(true)
      val nVecs = emb.count()

      // ── cell-layout removeIds ────────────────────────────────────────
      // residual coarse regime forced (threshold 64, the ScaleBench
      // convention) + sampled training: build cost is context, not the
      // measured claim — the remove wall is.
      val ivfDir = s"/tmp/graft_lcs_ivf_x$k"
      // a crashed previous sweep leaves the build lock orphaned (single-
      // driver tool; every run builds a fresh generation anyway)
      IndexLifecycle.clearLock(spark, ivfDir)
      val (tBuild, _) = timeIt {
        Ivf.buildIndex(emb, "vec_id", "embedding", ivfDir,
          sampleFraction = 0.25, maxIter = 5, hierarchicalThreshold = 64)
        0L
      }
      // affected cells, computed untimed (removeIds re-derives them
      // inside the timed call)
      def affectedCells(b: DataFrame): Long =
        Tables.parquet(spark, s"${IndexLifecycle.resolveIndexDir(spark, ivfDir)}/invfile.parquet")
          .join(broadcast(b), Seq("vec_id"), "left_semi")
          .select("cell").distinct().count()
      val cellsTotal = IndexLifecycle.indexStats(spark, ivfDir).head()
        .getAs[Long]("cells")
      // SMALL fixed batch first (16 ids — the increment-sized regime the
      // removeIds contract is written for: affected ≤ 16 cells no matter
      // the corpus), then the 500-id batch (scattered ids touch
      // ~min(batch, cells) cells — the regime where a cell layout's
      // physical remove approaches a corpus rewrite and the LSH
      // tombstone verb is the right layout)
      val batch16 = emb.filter(col("vec_id") >= 601 && col("vec_id") <= 616)
        .select("vec_id").localCheckpoint(true)
      val affected16 = affectedCells(batch16)
      val (tRm16, _) = timeIt {
        IndexLifecycle.removeIds(spark, ivfDir, batch16, "vec_id"); 0L
      }
      val batch = emb.filter(col("vec_id") >= 1 && col("vec_id") <= 500)
        .select("vec_id").localCheckpoint(true)
      val nBatch = batch.count() + batch16.count()
      val affected = affectedCells(batch)
      val (tRm, _) = timeIt {
        IndexLifecycle.removeIds(spark, ivfDir, batch, "vec_id"); 0L
      }
      // discovery-only control: ids not present → no cells match → no
      // rewrite; the wall is the column-pruned semi-join scan alone
      import spark.implicits._
      val ghost = (1L to 500L).map(_ + 8000000000L).toDF("vec_id")
        .localCheckpoint(true)
      val (tRmNoop, _) = timeIt {
        IndexLifecycle.removeIds(spark, ivfDir, ghost, "vec_id"); 0L
      }
      val statsRow = IndexLifecycle.indexStats(spark, ivfDir).head()
      val live = statsRow.getAs[Long]("live_rows")
      val maxFiles = statsRow.getAs[Int]("max_files_per_cell")
      require(live == nVecs - nBatch, s"remove lost rows: $live vs ${nVecs - nBatch}")

      // ── occupancy-sized multi-probe ──────────────────────────────────
      val lshDir = s"/tmp/graft_scale_lsh_x$k"
      if (IndexLifecycle.resolvePointer(spark, lshDir).isEmpty)
        Similarity.buildLshIndex(emb.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", lshDir)
      val lshGen = IndexLifecycle.resolveIndexDir(spark, lshDir)
      val meta = Tables.parquet(spark, s"$lshGen/meta.parquet").head()
      val (planes, tables, dim, seed) =
        (meta.getAs[Int]("planes"), meta.getAs[Int]("tables"),
          meta.getAs[Int]("dim"), meta.getAs[Long]("seed"))
      val sizedQ = Similarity.multiProbeFor(spark, lshDir)
      // measured candidate volume at the sized q, averaged over 5
      // queries — the same (table, bucket)-pair set probeLshIndex scans
      val postings = Tables.parquet(spark, s"$lshGen/postings.parquet")
      val qVecs = emb.filter(col("vec_id") < 5)
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray)
      val volumes = qVecs.map { qv =>
        val (buckets, margins) =
          Similarity.bucketsAndMarginsLocal(qv, tables, planes, dim, seed)
        val qPairs = (0 until tables).flatMap { t =>
          (t, buckets(t)) +:
            Similarity.perturbationSets(margins(t).map(math.abs), sizedQ)
              .map(ps => (t, ps.foldLeft(buckets(t))((b, p) => b ^ (1 << p))))
        }.distinct
        postings.join(
            broadcast(spark.createDataFrame(qPairs).toDF("table", "bucket")),
            Seq("table", "bucket"))
          .select("vec_id").distinct().count()
      }
      val meanVol = volumes.sum / volumes.length
      val (tProbe, _) = timeIt {
        Similarity.probeLshIndex(spark, lshDir, "vec_id", "embedding",
            emb.filter(col("vec_id") === 0), "embedding", k = 10,
            multiProbe = sizedQ)
          .write.format("noop").mode("overwrite").save()
        0L
      }
      // FILTERED probe (IDSelector analog): a 10%-of-corpus allowlist —
      // under the broadcast gate at every rung here, so the cost is one
      // broadcast semi-join on the vectors side; the wall must stay in
      // the probe band, never grow a corpus-shaped term
      val allowlist = emb.filter(pmod(col("vec_id"), lit(10)) === 1)
        .select("vec_id").localCheckpoint(true)
      val nAllowed = allowlist.count()
      val (tProbeF, _) = timeIt {
        Similarity.probeLshIndex(spark, lshDir, "vec_id", "embedding",
            emb.filter(col("vec_id") === 0), "embedding", k = 10,
            selector = Some(allowlist))
          .write.format("noop").mode("overwrite").save()
        0L
      }
      // PAST-GATE filtered probe (r15 verdict #5): pad the allowlist
      // over the 4M broadcast gate with ghost ids (absent from the
      // index — the semi-join result is identical) so the selector
      // rides the SHUFFLE_HASH path through the PUBLIC probe API; its
      // wall carries the one genuinely corpus-shaped term (the vectors
      // side shuffles), which is the curve this row exists to show.
      val bigAllow = allowlist.union(
          spark.range(Dedup.HotShingleBroadcastLimit + 100000L)
            .select((col("id") + 8000000000L).as("vec_id")))
        .localCheckpoint(true)
      val (tProbeFSh, _) = timeIt {
        Similarity.probeLshIndex(spark, lshDir, "vec_id", "embedding",
            emb.filter(col("vec_id") === 0), "embedding", k = 10,
            selector = Some(bigAllow))
          .write.format("noop").mode("overwrite").save()
        0L
      }
      // serve RANGE probe (annProbeStream's plan on a batch frame
      // against the cell index): probed cells only, exact cosine >= tau
      val (tRange, _) = timeIt {
        graft.streaming.Streaming.annProbeStream(
            emb.filter(col("vec_id") === 0), "vec_id", "embedding",
            ivfDir, tau = 0.2, nprobe = 16)
          .write.format("noop").mode("overwrite").save()
        0L
      }
      // filtered CELL probe, broadcast gate (the IVF twin of probeF)
      val (tIvfF, _) = timeIt {
        Ivf.probeIndex(spark, ivfDir, "vec_id", "embedding",
            emb.filter(col("vec_id") === 0), "embedding", k = 10,
            selector = Some(allowlist))
          .write.format("noop").mode("overwrite").save()
        0L
      }

      // ── tombstoned scattered remove (r15 verdict #3) ────────────────
      // a SECOND scattered 500-id batch through the tombstone verb: the
      // write must be flat in batch size (a flip of the small tombstone
      // set — never min(batch, cells) cell rewrites); the probe pays the anti-join
      // rider; compaction carries the DEFERRED rewrite on its own
      // cadence. Compare tRmTomb against rm500 (the physical wall).
      val tombBatch = emb.filter(col("vec_id") >= 2001 && col("vec_id") <= 2500)
        .select("vec_id").localCheckpoint(true)
      val affectedTomb = affectedCells(tombBatch)
      val (tRmTomb, _) = timeIt {
        IndexLifecycle.removeIds(spark, ivfDir, tombBatch, "vec_id",
          tombstone = true); 0L
      }
      val (tProbeTomb, _) = timeIt {
        Ivf.probeIndex(spark, ivfDir, "vec_id", "embedding",
            emb.filter(col("vec_id") === 0), "embedding", k = 10)
          .write.format("noop").mode("overwrite").save()
        0L
      }
      val (tCompact, _) = timeIt {
        IndexLifecycle.compactIndex(spark, ivfDir); 0L
      }
      val liveAfter = IndexLifecycle.indexStats(spark, ivfDir).head()
        .getAs[Long]("live_rows")
      require(liveAfter == nVecs - nBatch - tombBatch.count(),
        s"tombstone+compact lost rows: $liveAfter")

      println(f"[lcs] x$k%-2d vecs=$nVecs%8d | ivfBuild=$tBuild%6.2fs " +
        f"rm16=$tRm16%5.2fs(aff=$affected16%3d) " +
        f"rm500=$tRm%5.2fs rmNoop=$tRmNoop%5.2fs rewrite=${tRm - tRmNoop}%5.2fs " +
        f"affected=$affected%4d/$cellsTotal%4d cells files<=$maxFiles | " +
        f"planes=$planes tables=$tables sizedQ=$sizedQ " +
        f"cand=$meanVol%6d (target 4096) probe=$tProbe%5.2fs " +
        f"probeF=$tProbeF%5.2fs(allow=$nAllowed)")
      println(f"[lcs] x$k%-2d tombstone: rmT500=$tRmTomb%5.2fs" +
        f"(aff=$affectedTomb%4d cells untouched) probeT=$tProbeTomb%5.2fs " +
        f"compact=$tCompact%5.2fs | range=$tRange%5.2fs " +
        f"ivfF=$tIvfF%5.2fs probeFsh=$tProbeFSh%5.2fs(allow>${Dedup.HotShingleBroadcastLimit})")

      // batch-size dimension at the LARGEST rung only (the other half of
      // the verdict's claim: the tombstone write is flat in BATCH SIZE —
      // a rewrite of a few-KB id set whose wall is job overhead, not
      // data — as well as flat in touched-cell count):
      // disjoint scattered batches of 100 / 1000 / 4000 ids
      if (k == ks.max) {
        var lo = 10000L
        for (bs <- Seq(100L, 1000L, 4000L)) {
          val b = emb.filter(col("vec_id") >= lo && col("vec_id") < lo + bs)
            .select("vec_id").localCheckpoint(true)
          val n = b.count()
          val (tB, _) = timeIt {
            IndexLifecycle.removeIds(spark, ivfDir, b, "vec_id",
              tombstone = true); 0L
          }
          println(f"[lcs] x$k%-2d tombstone-batch: ids=$n%5d rmT=$tB%5.2fs")
          lo += bs
        }

        // ── streaming tombstone-freshness guard cost (r17 verdict #2):
        // the per-micro-batch price of the loud-or-fresh contract —
        // median probe-stream batch wall, plus the guard frame's
        // standalone 1-task LIST job. Largest rung only: the guard cost
        // is corpus-INDEPENDENT by construction (one fs listing), so one
        // rung suffices and the biggest index is the honest backdrop.
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val qv = emb.filter(col("vec_id") === 1).select("embedding")
          .head().getSeq[Float](0)
        val batchMed = {
          val mem = org.apache.spark.sql.execution.streaming
            .runtime.MemoryStream[(Long, Seq[Float])]
          val q = graft.streaming.Streaming.annProbeStream(
              mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
              ivfDir, tau = 0.2, nprobe = 16)
            .writeStream.format("noop").start()
          try {
            val walls = (1 to 21).map { i =>
              mem.addData(Seq((100000L + i, qv)))
              val (t, _) = timeIt { q.processAllAvailable(); 0L }
              t
            }.drop(1).sorted // first batch is plan warm-up
            walls(walls.length / 2)
          } finally q.stop()
        }
        val guardJobs = (1 to 20).map { _ =>
          val g = IndexLifecycle.tombstoneFreshnessGuard(spark, ivfDir)
          val (t, _) = timeIt { g.collect(); 0L }
          t
        }.sorted
        println(f"[lcs] x$k%-2d stream-guard: batch=$batchMed%5.3fs " +
          f"guardJob=${guardJobs(guardJobs.length / 2)}%5.3fs (medians of 20)")
      }
    }
    spark.stop()
  }
}
