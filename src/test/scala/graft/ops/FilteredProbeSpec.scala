package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The FAISS `IDSelector` analog (`selector` on every serve probe —
  * per-tenant / allowlist filtered search): the selector rides the
  * vectors/codes choke point, so a disallowed id can surface through no
  * path — candidates, ranking, or fallback — and the never-short
  * contract runs over the FILTERED corpus. */
class FilteredProbeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = graft.engine.Tables.read(spark, sf0001, "embeddings")
    .select("vec_id", "embedding").localCheckpoint(true)
  private lazy val query = corpus.filter($"vec_id" === 0)
  private lazy val indexed = corpus.filter($"vec_id" =!= 0)
  private lazy val allowed = indexed.filter(pmod($"vec_id", lit(3)) === 0)
    .select("vec_id").localCheckpoint(true)
  private lazy val allowedSet =
    allowed.collect().map(_.getLong(0)).toSet

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq
  private def pairs(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  // one dir per layout, built once for the suite
  private lazy val ivfDir = {
    val d = java.nio.file.Files.createTempDirectory("graft_fp_ivf").toString
    Ivf.buildIndex(indexed, "vec_id", "embedding", d, maxIter = 5); d
  }
  private lazy val pqDir = {
    val d = java.nio.file.Files.createTempDirectory("graft_fp_pq").toString
    Quantize.buildPqIndex(indexed, "vec_id", "embedding", d, m = 4); d
  }
  private lazy val lshDir = {
    val d = java.nio.file.Files.createTempDirectory("graft_fp_lsh").toString
    Similarity.buildLshIndex(indexed, "vec_id", "embedding", d); d
  }

  /** Every probe path as (name, selector => result). */
  private def paths: Seq[(String, Option[DataFrame] => DataFrame)] = Seq(
    ("ivf", sel => Ivf.probeIndex(spark, ivfDir, "vec_id", "embedding",
      query, "embedding", k = 10, selector = sel)),
    ("pq", sel => Quantize.probePqIndex(spark, pqDir, "vec_id", "embedding",
      query, "embedding", k = 10, selector = sel)),
    ("lsh", sel => Similarity.probeLshIndex(spark, lshDir, "vec_id", "embedding",
      query, "embedding", k = 10, selector = sel)),
    ("ivf_batch", sel => Ivf.probeIndexBatch(spark, ivfDir, "vec_id",
      "embedding", query, "vec_id", "embedding", k = 10, selector = sel)
      .select("vec_id", "sim")),
    ("lsh_batch", sel => Similarity.probeLshIndexBatch(spark, lshDir, "vec_id",
      "embedding", query, "vec_id", "embedding", k = 10, selector = sel)
      .select("vec_id", "sim"))
  )

  test("no disallowed id surfaces on any path; k rows still answered") {
    paths.foreach { case (name, probe) =>
      val got = ids(probe(Some(allowed)).select("vec_id"))
      assert(got.nonEmpty && got.size <= 10, s"$name: ${got.size} rows")
      assert(got.forall(allowedSet), s"$name served disallowed ids: " +
        got.filterNot(allowedSet).mkString(","))
      assert(got.size == 10,
        s"$name: ${got.size} < k despite ${allowedSet.size} allowed rows " +
          "(never-short contract over the filtered corpus)")
    }
  }

  test("a full-corpus selector is bit-for-bit a no-op on every path") {
    val full = indexed.select("vec_id")
    paths.foreach { case (name, probe) =>
      val filtered = pairs(probe(Some(full)).select("vec_id", "sim"))
      val bare = pairs(probe(None).select("vec_id", "sim"))
      assert(filtered == bare, s"$name: full selector changed the probe: " +
        s"$filtered vs $bare")
    }
  }

  test("covering nprobe: the filtered probe IS the exact filtered top-k (cell layouts)") {
    // nprobe >= the cell count makes the probed scan the whole (filtered)
    // corpus, so the probe must equal brute force over the allowed rows —
    // including the rounding and the (sim desc, id) tie-break
    val exact = pairs(Similarity.bruteForceTopK(
      indexed.join(broadcast(allowed), Seq("vec_id"), "left_semi"),
      "vec_id", "embedding", query, "embedding", k = 10))
    val ivfGot = pairs(Ivf.probeIndex(spark, ivfDir, "vec_id", "embedding",
      query, "embedding", k = 10, nprobe = 4096, selector = Some(allowed)))
    assert(ivfGot == exact, s"ivf covering probe diverged: $ivfGot vs $exact")
    val pqGot = pairs(Quantize.probePqIndex(spark, pqDir, "vec_id", "embedding",
      query, "embedding", k = 10, nprobe = 4096, rerank = 10000,
      selector = Some(allowed)))
    assert(pqGot == exact, s"pq covering probe diverged: $pqGot vs $exact")
  }

  test("never-short over the FILTERED corpus: a tiny allowlist returns exactly its rows, ranked") {
    val three = indexed.orderBy($"vec_id").limit(3).select("vec_id")
      .localCheckpoint(true)
    val threeSet = three.collect().map(_.getLong(0)).toSet
    val exact = pairs(Similarity.bruteForceTopK(
      indexed.join(broadcast(three), Seq("vec_id"), "left_semi"),
      "vec_id", "embedding", query, "embedding", k = 10))
    paths.foreach { case (name, probe) =>
      val got = pairs(probe(Some(three)).select("vec_id", "sim"))
      assert(got.map(_._1).toSet == threeSet && got == exact,
        s"$name: tiny-allowlist answer wrong: $got vs $exact")
    }
  }

  test("applySelector gate paths (broadcast vs SHUFFLE_HASH) are bit-identical") {
    val viaBroadcast = Similarity.applySelector(indexed, Some(allowed), "vec_id")
      .select("vec_id")
    val viaShuffle = Similarity.applySelector(indexed, Some(allowed), "vec_id",
      broadcastLimit = 0L).select("vec_id")
    assert(ids(viaBroadcast).sorted == ids(viaShuffle).sorted,
      "selector gate paths diverged")
    assert(ids(viaBroadcast).toSet == allowedSet, "selector filtered wrong rows")
    // and the gate actually picks different joins
    val p1 = viaBroadcast.queryExecution.executedPlan.toString
    val p2 = viaShuffle.queryExecution.executedPlan.toString
    assert(p1.contains("BroadcastHashJoin") && p2.contains("ShuffledHashJoin"),
      s"gate did not route the join:\n$p1\n$p2")
  }

  test("serve range probe: values exact within probed cells; covering nprobe == exact rangeSearch") {
    // range semantics (FAISS range_search): the probe may MISS rows in
    // unprobed cells (recall = probed-cell recall, empty is valid) but
    // every row it does return must carry the exact rounded cosine —
    // a wrong sim is a bug, a missing row is the documented trade
    val exact = pairs(Similarity.rangeSearch(indexed, "vec_id", "embedding",
      query, "embedding", tau = 0.2))
    assert(exact.nonEmpty, "tau too high for this corpus — respec")
    val exactMap = exact.toMap
    def probe(nprobe: Int) = pairs(graft.streaming.Streaming.annProbeStream(
        query, "vec_id", "embedding", ivfDir, tau = 0.2, nprobe = nprobe)
      .select("vec_id", "sim"))
    val got = probe(4)
    got.foreach { case (id, sim) =>
      assert(exactMap.get(id).contains(sim),
        s"range probe returned ($id, $sim), exact says ${exactMap.get(id)}")
    }
    // covering nprobe: probed cells = all cells, so the probe IS exact
    assert(probe(4096).toSet == exact.toSet,
      "covering range probe diverged from exact rangeSearch")
    // and the selector composes: allowed-only, still value-exact
    val sel = pairs(graft.streaming.Streaming.annProbeStream(
        query, "vec_id", "embedding", ivfDir, tau = 0.2, nprobe = 4096,
        selector = Some(allowed))
      .select("vec_id", "sim"))
    assert(sel.toSet == exact.filter(p => allowedSet(p._1)).toSet,
      "filtered covering range probe != exact range over allowed rows")
  }

  test("selector composes with removeIds tombstones on the LSH layout") {
    // a removed id stays gone even when the selector allows it: both
    // filters ride the same vectors choke point
    val dir = java.nio.file.Files.createTempDirectory("graft_fp_lsh_rm").toString
    Similarity.buildLshIndex(indexed, "vec_id", "embedding", dir)
    val victim = ids(Similarity.probeLshIndex(spark, dir, "vec_id",
      "embedding", query, "embedding", k = 1,
      selector = Some(allowed)).select("vec_id")).head
    IndexLifecycle.removeIds(spark, dir, Seq(victim).toDF("vec_id"), "vec_id")
    val after = ids(Similarity.probeLshIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10, selector = Some(allowed)).select("vec_id"))
    assert(!after.contains(victim), "tombstoned id resurfaced through the selector")
    assert(after.forall(allowedSet), "selector stopped filtering under tombstones")
  }

  test("static partition pruning SURVIVES the selector semi-join on both gate paths (r15 verdict #2)") {
    // probeIndexFrame claims the driver-computed cell filter still
    // pushes through the selector semi-join to the scan; only the
    // UNFILTERED probe had the PartitionFilters + files-read pin
    // (IvfSpec), so a Catalyst change could silently turn every
    // FILTERED serve probe into a full-index scan. Same construction as
    // IvfSpec's pin, with the selector applied exactly as the probe
    // does, on both selector gate paths and both cell layouts.
    val q = query.select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    for ((dir, file) <- Seq((ivfDir, "invfile.parquet"),
                            (pqDir, "codes.parquet"))) {
      val model = Ivf.loadIndexModel(spark, dir)
      val probedCells = model.probedCells(q, nprobe = 2)
      val inv = spark.read.parquet(s"${IndexLifecycle.resolveIndexDir(spark, dir)}/$file")
      val allFiles = inv.inputFiles.length
      val cellDirs = new java.io.File(s"${IndexLifecycle.resolveIndexDir(spark, dir)}/$file").listFiles()
        .count(_.getName.startsWith("cell="))
      assert(cellDirs > probedCells.length,
        s"$file: only $cellDirs cell dirs — partitioning missing")
      for ((gate, limit) <- Seq(("broadcast", Long.MaxValue),
                                ("shuffle_hash", 0L))) {
        val src = Similarity.applySelector(inv, Some(allowed), "vec_id", limit)
        val probed = src.filter(
          col("cell").isin(probedCells.map(Integer.valueOf): _*))
        // drive the INSPECTED QueryExecution (count() builds its own
        // grouped plan whose metrics the assertions below never see —
        // numFiles would read 0 and pass vacuously; review r16)
        probed.collect()
        // the join makes the plan adaptive, which hides the scan inside
        // query stages — recurse through them to the one parquet scan
        // (the selector side is a checkpointed local relation, not a
        // file scan)
        def fileScans(p: org.apache.spark.sql.execution.SparkPlan):
            Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            fileScans(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            fileScans(q.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case other => other.children.flatMap(fileScans)
        }
        val scans = fileScans(probed.queryExecution.executedPlan)
        assert(scans.length == 1,
          s"$file/$gate: expected exactly one file scan, got ${scans.length}")
        assert(scans.head.partitionFilters.nonEmpty &&
            scans.head.partitionFilters.mkString(",").contains("cell"),
          s"$file/$gate: cell filter did not reach PartitionFilters under " +
            s"the selector join:\n${scans.head}")
        val filesRead = scans.head.metrics("numFiles").value
        assert(filesRead > 0,
          s"$file/$gate: numFiles never materialized — the pin is vacuous")
        assert(filesRead < allFiles,
          s"$file/$gate: scan read all $allFiles files despite the partition filter")
        assert(filesRead <= math.ceil(
            allFiles.toDouble * probedCells.length / cellDirs).toInt * 2,
          s"$file/$gate: pruning leaked: $filesRead of $allFiles files for " +
            s"${probedCells.length} of $cellDirs cells")
      }
    }
  }
}
