package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding quantization (LLM-pipeline memory lever): symmetric int8
  * per-vector quantization — 4× smaller embedding columns, which at
  * 100 TB is the difference between an in-memory ANN index and a
  * spilled one. `q = round(x * 127 / max|x|)`, scale kept alongside for
  * dequantization; cosine on dequantized vectors approximates the
  * original to ~1e-2 (spec-pinned).
  *
  * Pure `functions._` projections: the array passes (max|x|, transform)
  * are row-level and codegen-friendly; no shuffle. */
object Quantize {

  /** Adds `qvec: array<tinyint>` and `qscale: float` columns. */
  def toInt8(df: DataFrame, vecCol: String): DataFrame = {
    val absMax = array_max(transform(col(vecCol), x => abs(x)))
    df
      .withColumn("qscale", (absMax / lit(127.0)).cast("float"))
      .withColumn("qvec",
        transform(col(vecCol), x =>
          when(col("qscale") === 0f, lit(0))
            .otherwise(round(x / col("qscale")).cast("int"))
            .cast("tinyint")))
  }

  /** Reconstruct an approximate float vector from (qvec, qscale). */
  def dequantize(qvec: Column, qscale: Column): Column =
    transform(qvec, q => (q.cast("float") * qscale))

  /** Product-quantization codebooks (Jégou, Douze & Schmid, "Product
    * quantization for nearest neighbor search", TPAMI 2011): the vector
    * splits into `m` contiguous `dsub`-dim subvectors, each quantized to
    * one of `k` per-subspace centroids — a vector becomes `m` small
    * codes (m bytes at k ≤ 256) instead of 4·dim float bytes, the
    * memory lever that keeps a billion-vector index in RAM.
    * `books(j)(c)` is subspace j's centroid c; driver-held and tiny
    * (m·k·dsub doubles — ~8 KB at the defaults), riding into
    * expressions as literals like the IVF centroid matrix. */
  final case class PqCodebooks(m: Int, k: Int, dsub: Int,
                               books: Array[Array[Array[Double]]])

  /** Train PQ codebooks: one seeded KMeans per SUBSPACE over the
    * corpus' subvectors (sampled via `sampleFraction` when even one
    * training pass is too much — the [[Ivf.trainCentroids]] posture).
    * Under [[Ivf.driverTrainingSet]]'s gate (callers train on a bounded
    * sample, see pqTopK) the sample is collected ONCE and all m
    * subspaces fit on the driver from that array; above it each
    * subspace runs MLlib's distributed fit in turn. Subspace j's fit is
    * seeded with seed + j either way. */
  def trainPq(emb: DataFrame, vecCol: String, m: Int = 8, k: Int = 16,
              seed: Long = 42L, sampleFraction: Double = 1.0): PqCodebooks = {
    val dim = emb.select(size(col(vecCol))).head().getInt(0)
    require(m > 0 && dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(k > 1 && k <= 256, s"k $k outside (1, 256] — codes are bytes")
    val dsub = dim / m
    val data = Ivf.trainingFrame(emb, vecCol, seed, sampleFraction)
    val books = Ivf.driverTrainingSet(data, k, dim) match {
      case Some(points) =>
        Array.tabulate(m)(j => Ivf.fitOnDriver(
          points.map(_.slice(j * dsub, (j + 1) * dsub)), k, seed + j, MaxIter))
      case None =>
        Array.tabulate(m)(j => Ivf.fitMllib(
          data.select(slice(col(Ivf.TrainCol), j * dsub + 1, dsub).as("__sub")),
          "__sub", k, seed + j, MaxIter))
    }
    PqCodebooks(m, k, dsub, books)
  }

  private val MaxIter = 10

  /** PQ code column: array<int> of `m` per-subspace nearest-centroid
    * ids — one [[graft.functions.NearestCells]] compiled pass per
    * subspace over the sliced vector, no shuffle. */
  def pqCode(vec: Column, cb: PqCodebooks): Column =
    array((0 until cb.m).map { j =>
      // cells = the ACTUAL trained count, not the requested k: KMeans
      // returns fewer centers when a subspace has fewer distinct points
      // (constant/zero-padded dims), and NearestCells reads
      // centroids(c*dim+i) for c < cells
      element_at(graft.functions.NearestCells.nearestCells(
        slice(vec, j * cb.dsub + 1, cb.dsub),
        cb.books(j).flatten, cb.books(j).length, cb.dsub, 1), 1)
    }: _*)

  /** Asymmetric-distance (ADC) inner-product approximation for one
    * query: dot(q, x) ≈ Σⱼ dot(qⱼ, books(j)(codeⱼ)). The per-subspace
    * lookup tables are m·k doubles computed driver-side and inlined as
    * array literals, so the scan cost per row is m element_at's + m−1
    * adds — pure column arithmetic inside codegen, no HOF lambda. */
  def pqAdcScore(codeCol: Column, cb: PqCodebooks,
                 query: Array[Double]): Column = {
    require(query.length == cb.m * cb.dsub,
      s"query dim ${query.length} != ${cb.m}·${cb.dsub}")
    (0 until cb.m).map { j =>
      val table = cb.books(j).map { c =>
        var d = 0.0; var i = 0
        while (i < cb.dsub) { d += query(j * cb.dsub + i) * c(i); i += 1 }
        d
      }
      element_at(typedLit(table.toSeq), element_at(codeCol, j + 1) + 1)
    }.reduce(_ + _)
  }

  /** Two-stage PQ top-k — the production memory-bounded search shape
    * (FAISS's IVFADC without the coarse quantizer; compose with [[Ivf]]
    * for that): (1) every row scores by the ADC approximation over its
    * m-byte code — a map-side projection planned as
    * `TakeOrderedAndProject` down to the `rerank` shortlist; (2) the
    * shortlist (≤ rerank rows, never corpus-sized BY CONSTRUCTION — the
    * limit is in the plan, not an assumption) re-ranks by EXACT cosine
    * against the broadcast query, so PQ distortion costs recall only
    * when a true neighbor falls outside the shortlist, not precision
    * inside it. Returns (idCol, sim) like [[Similarity.bruteForceTopK]];
    * codebooks come from a seeded k-means DuckDB cannot replay →
    * rows-only query, recall + planted-duplicate specs in QuantizeSpec. */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             query: DataFrame, queryVecCol: String, k: Int,
             m: Int = 8, codebookSize: Int = 16, rerank: Int = 100,
             seed: Long = 42L, trainSampleRows: Long = 16384L): DataFrame = {
    require(rerank >= k, s"rerank $rerank < k $k")
    require(trainSampleRows > 0, s"trainSampleRows $trainSampleRows")
    val nAll = emb.count()
    // a corpus at or under the shortlist size IS its own shortlist: the
    // exact scan answers directly (and KMeans with k centroids needs at
    // least k points — tiny inputs must not crash the approximate path)
    if (nAll <= rerank)
      return Similarity.bruteForceTopK(emb, idCol, vecCol, query, queryVecCol, k)
    // codebook training is SAMPLE-BOUNDED (the corpus-sized-hyperparameter
    // rule): k=16 centroids per subspace need ~hundreds of points each
    // (FAISS's ~39·k guideline), so passes over the whole corpus buy
    // nothing past that. The sample is drawn ONCE and checkpointed —
    // every subspace trains on the SAME ~trainSampleRows rows (the
    // standard PQ setup) and the corpus pays ONE sampling scan, not one
    // per fit. The ENCODE pass still covers every row.
    val n = nAll
    val trainBase =
      if (n <= trainSampleRows) emb
      else emb.sample(withReplacement = false,
        trainSampleRows.toDouble / n, seed).localCheckpoint(true)
    val cb = trainPq(trainBase, vecCol, m, codebookSize, seed)
    // the single query vector is a 1-row collect (the ADC tables need it
    // driver-side); the query frame's contract is one probe row
    val q = query.select(col(queryVecCol).cast("array<double>").as("__q"))
      .head().getSeq[Double](0).toArray
    val shortlist = emb
      .select(col(idCol), col(vecCol),
        pqAdcScore(pqCode(col(vecCol), cb), cb, q).as("__adc"))
      .orderBy(col("__adc").desc, col(idCol))
      .limit(rerank)
    Similarity.bruteForceTopK(shortlist, idCol, vecCol, query, queryVecCol, k)
  }

  /** IVFADC — the full FAISS index architecture (Jégou et al. TPAMI
    * 2011 §IV): an IVF coarse quantizer partitions the corpus into
    * cells, vectors encode as PQ codes of their RESIDUAL from the cell
    * centroid (residuals are smaller and more isotropic than raw
    * vectors, so the same code budget quantizes them better), and a
    * query probes only `nprobe` cells, scoring each candidate as
    *
    *   dot(q, x) = dot(q, cen_cell) + dot(q, residual)
    *             ≈ [per-cell scalar]  + [shared ADC lookup]
    *
    * — exact decomposition, both terms cheap: the per-cell scalar is a
    * |cells|-sized array literal and the ADC tables do not depend on
    * the cell for inner product. The ADC shortlist re-ranks by exact
    * cosine ([[pqTopK]]'s two-stage discipline) and the probe falls
    * back to the exact scan below k results — an ANN answer is never
    * empty (the contract every search path holds).
    *
    * Scale shape: cell count is CORPUS-SIZED ([[Ivf.cellsForSearch]]);
    * coarse + PQ training each run on bounded samples; the probe scans
    * only ~nprobe/cells of the corpus and encodes only probed rows in
    * this in-query form (a serving deployment materializes the code
    * table once). Delegates to [[ivfPqSized]] — past the single-level
    * cell limit the two-level residual coarse quantizer takes over.
    * Seeded k-means cells and codebooks → rows-only; recall + fallback
    * specs. */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                query: DataFrame, queryVecCol: String, k: Int,
                nprobe: Int = 4, m: Int = 8, codebookSize: Int = 16,
                rerank: Int = 100, seed: Long = 42L,
                trainSampleRows: Long = 16384L): DataFrame =
    ivfPqSized(emb, idCol, vecCol, query, queryVecCol, k, nprobe, m,
      codebookSize, rerank, seed, trainSampleRows)

  /** IVFADC on a corpus of unknown size — the composed entry point,
    * completing the sized-family contract every other ANN/dedup path
    * already holds ([[Ivf.topKSized]], [[Ivf.topKBatchSized]],
    * [[Dedup.semanticDedupSized]]): the cell count comes from
    * [[Ivf.cellsForSearch]]; at or below `hierarchicalThreshold` cells a
    * single-level coarse quantizer trains and probes; PAST it the
    * two-level residual quantizer ([[Ivf.trainResidualQuantizer]]) takes
    * over as the coarse stage — √cells centroids per level, so neither
    * the driver-held centroid literal nor a Lloyd iteration's points·k
    * distance evals grow past the documented single-level limit (PERF.md
    * finding 18). PQ then encodes the SECOND-level residual
    * v − c1 − c2 (no larger than the single-level residual, so the same
    * code budget quantizes it at least as well) and the inner product
    * still decomposes exactly:
    *
    *   dot(q, x) = dot(q, c1) + dot(q, c2) + dot(q, r2)
    *             ≈ [k1 table]  + [k2 table] + [shared ADC lookup]
    *
    * — the per-cell scalar splits into two √cells-sized literals instead
    * of one cells-sized one. The probe widens to nprobe² composite cells,
    * the same deliberate widening as [[Ivf.topKSized]] (a neighbor must
    * land right at BOTH levels). Coarse-training support scales with the
    * centroid count (max(trainSampleRows, 39·k) — the ~39 points/centroid
    * guideline the PQ literature cites), so recall does not silently
    * degrade as cellsForSearch outgrows a fixed sample. */
  def ivfPqSized(emb: DataFrame, idCol: String, vecCol: String,
                 query: DataFrame, queryVecCol: String, k: Int,
                 nprobe: Int = 4, m: Int = 8, codebookSize: Int = 16,
                 rerank: Int = 100, seed: Long = 42L,
                 trainSampleRows: Long = 16384L,
                 hierarchicalThreshold: Int = Dedup.HierarchicalCellsThreshold): DataFrame = {
    require(rerank >= k, s"rerank $rerank < k $k")
    require(trainSampleRows > 0, s"trainSampleRows $trainSampleRows")
    val n = emb.count()
    // same tiny-corpus short-circuit as [[pqTopK]]: at or under the
    // shortlist size the exact scan IS the answer, and neither KMeans
    // stage has enough points to train
    if (n <= rerank)
      return Similarity.bruteForceTopK(emb, idCol, vecCol, query, queryVecCol, k)
    val model = trainCoarse(emb, vecCol, nprobe, seed, trainSampleRows, n,
      hierarchicalThreshold)
    ivfPqWithModel(emb, idCol, vecCol, query, queryVecCol, k, nprobe, m,
      codebookSize, rerank, seed, trainSampleRows, n, model)
  }

  /** The sized coarse model for IVFADC: cell count from
    * [[Ivf.cellsForSearch]], regime from the hierarchical threshold, and
    * coarse-training support scaled with the PER-FIT centroid count
    * (max(trainSampleRows, 39·k) — a fixed sample otherwise shrinks
    * per-cell support as cellsForSearch grows, ADVICE r11; the residual
    * regime's fits are each √cells-sized, so its floor scales with
    * kLevel, not the composite count). */
  private def trainCoarse(emb: DataFrame, vecCol: String, nprobe: Int,
                          seed: Long, trainSampleRows: Long, n: Long,
                          hierarchicalThreshold: Int): Ivf.IndexModel = {
    // clamped to the corpus size (Ivf.clampK's rule): the in-query
    // callers short-circuit tiny corpora before training, but
    // buildPqIndex must always produce an index
    val cells = Ivf.clampK(Ivf.cellsForSearch(n, nprobe), n)
    val perFit =
      if (cells <= hierarchicalThreshold) cells
      else math.max(2, math.ceil(math.sqrt(cells.toDouble)).toInt)
    val coarseRows = math.max(trainSampleRows, 39L * perFit)
    Ivf.trainModel(emb, vecCol, cells, seed,
      sampleFraction = if (n <= coarseRows) 1.0 else coarseRows.toDouble / n,
      hierarchicalThreshold = hierarchicalThreshold)
  }

  /** The IVFADC body over a trained coarse [[Ivf.IndexModel]] (either
    * regime — the flat/residual difference lives entirely in the model's
    * residualOf/cellDot/probedCells members): index, train PQ on a
    * bounded one-scan residual sample, ADC-score the probed cells,
    * exact re-rank, never-short fallback. */
  private def ivfPqWithModel(emb: DataFrame, idCol: String, vecCol: String,
                             query: DataFrame, queryVecCol: String, k: Int,
                             nprobe: Int, m: Int, codebookSize: Int,
                             rerank: Int, seed: Long, trainSampleRows: Long,
                             n: Long, model: Ivf.IndexModel): DataFrame = {
    val indexed = model.indexOf(emb, idCol, vecCol)
    // PQ trains on a bounded ONE-SCAN sample of residuals from the
    // whole corpus (not just probed cells — training must not bias to
    // the query's neighborhood)
    val trainBase =
      (if (n <= trainSampleRows) indexed
       else indexed.sample(withReplacement = false,
         trainSampleRows.toDouble / n, seed))
        .select(model.residualOf(col(vecCol)).as("__res")).localCheckpoint(true)
    val cb = trainPq(trainBase, "__res", m, codebookSize, seed)
    val q = query.select(col(queryVecCol).cast("array<double>").as("__q"))
      .head().getSeq[Double](0).toArray
    // residual computed ONCE into a column, never inline in pqCode:
    // pqCode slices its argument into all m subspaces, and interpreted
    // eval (zip_with is a HOF — no codegen, no CSE) re-evaluates the
    // duplicated residual subtree m times per row. Measured (PERF
    // finding 42; the deleted PqProbeAb:
    // `git show 2262a09:src/main/scala/graft/tools/PqProbeAb.scala`):
    // 1.06 s → 0.10 s per shortlist execution at sf0.1,
    // rows bit-identical. Same fix in buildPqIndex/appendPqIndex.
    val shortlist = indexed
      .filter(col("cell").isin(model.probedCells(q, nprobe).map(Integer.valueOf): _*))
      .withColumn("__res0", model.residualOf(col(vecCol)))
      .select(col(idCol), col(vecCol),
        (model.cellDot(q) +
          pqAdcScore(pqCode(col("__res0"), cb), cb, q)).as("__adc"))
      .orderBy(col("__adc").desc, col(idCol))
      .limit(rerank)
    Similarity.neverShort(
      Similarity.bruteForceTopK(shortlist, idCol, vecCol, query, queryVecCol, k),
      emb, idCol, vecCol, query, queryVecCol, k)
  }

  // ── build-once / serve-many (IVFADC) ────────────────────────────────

  /** The persisted-IVFADC model: coarse quantizer + PQ codebooks. */
  final case class PqIndexModel(coarse: Ivf.IndexModel, cb: PqCodebooks)

  /** Build the IVFADC index at `dir`: the sized coarse model, PQ
    * codebooks of the residuals, and the CODE TABLE — (id, vec, code)
    * partitioned by cell, so a probe's ADC scan reads only its probed
    * cell directories (static partition pruning). Storing `vec` beside
    * the code keeps the exact re-rank inside the same pruned scan
    * instead of a second corpus join; on Spark the raw vectors live in
    * parquet either way — the index is a cell-clustered REWRITE of the
    * corpus plus m-int codes, not an extra RAM-resident copy, so the
    * FAISS memory argument doesn't bind on keeping them. Training cost
    * is paid HERE, once; [[probePqIndex]] pays none. */
  def buildPqIndex(emb: DataFrame, idCol: String, vecCol: String, dir: String,
                   nprobe: Int = 4, m: Int = 8, codebookSize: Int = 16,
                   seed: Long = 42L, trainSampleRows: Long = 16384L,
                   hierarchicalThreshold: Int = Dedup.HierarchicalCellsThreshold): PqIndexModel =
    IndexLifecycle.buildGeneration(emb.sparkSession, dir, "buildPqIndex")(gen =>
      writePqIndex(emb, idCol, vecCol, gen, nprobe, m, codebookSize, seed,
        trainSampleRows, hierarchicalThreshold))

  /** Train and write the IVFADC artifacts into the fresh generation dir
    * `gen` — [[buildPqIndex]]'s body, and [[IndexLifecycle.rebuildIndex]]'s
    * for this layout ([[Ivf.writeIndex]]'s new-world rule). */
  private[ops] def writePqIndex(emb: DataFrame, idCol: String, vecCol: String,
                                gen: String, nprobe: Int, m: Int,
                                codebookSize: Int, seed: Long,
                                trainSampleRows: Long,
                                hierarchicalThreshold: Int): PqIndexModel = {
    val spark = emb.sparkSession
    val n = emb.count()
    val coarse = trainCoarse(emb, vecCol, nprobe, seed, trainSampleRows, n,
      hierarchicalThreshold)
    val indexed = coarse.indexOf(emb, idCol, vecCol)
    val trainBase =
      (if (n <= trainSampleRows) indexed
       else indexed.sample(withReplacement = false,
         trainSampleRows.toDouble / n, seed))
        .select(coarse.residualOf(col(vecCol)).as("__res")).localCheckpoint(true)
    // same clamp as the coarse stage: tiny corpora train one code per point
    val cb = trainPq(trainBase, "__res", m, Ivf.clampK(codebookSize, n), seed)
    Ivf.writeModel(spark, gen, coarse)
    import spark.implicits._
    cb.books.zipWithIndex
      .flatMap { case (book, j) =>
        book.zipWithIndex.map { case (cen, c) => (j, c, cen.toSeq) } }
      .toSeq.toDF("j", "c", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$gen/books.parquet")
    // repartition(cell): one file per cell (Ivf.buildIndex's rationale —
    // a parallel build must not start at compaction-pressure file counts)
    // residual once into a column (ivfPqWithModel's rationale: pqCode
    // duplicates its arg m× and the HOF residual evals interpreted)
    indexed
      .withColumn("__res0", coarse.residualOf(col(vecCol)))
      .withColumn("code", pqCode(col("__res0"), cb))
      .drop("__res0")
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$gen/codes.parquet")
    // codebook_size is the REQUESTED size, pre-clamp (ADVICE r14): a
    // rebuild after the corpus grows must re-clamp the request against
    // the LIVE row count — the trained countDistinct(c) in books.parquet
    // is the clamp(k, n)-SHRUNK size, which clampK never grows back
    Ivf.writeBuildInfo(spark, gen, n, Seq(
      "nprobe" -> nprobe, "seed" -> seed, "m" -> m,
      "codebook_size" -> codebookSize,
      "train_sample_rows" -> trainSampleRows,
      "hierarchical_threshold" -> hierarchicalThreshold))
    PqIndexModel(coarse, cb)
  }

  /** Append new vectors to a BUILT IVFADC index without retraining
    * ([[Ivf.appendIndex]]'s semantics on the code table): cells and PQ
    * codes come from the PERSISTED model/codebooks, rows append into the
    * touched cell directories only; probes serve the union immediately.
    * Retraining cadence under distribution drift is the caller's
    * index-lifecycle policy, as in FAISS. */
  def appendPqIndex(emb: DataFrame, idCol: String, vecCol: String,
                    dir: String): PqIndexModel =
  IndexLifecycle.withIndexLock(emb.sparkSession, dir, "appendPqIndex") {
    // appends land INSIDE the live generation (Ivf.appendIndex's
    // rationale — new files only, never a rename of existing data; the
    // committer caveat on IndexLifecycle's generation-root intro applies)
    val phys = IndexLifecycle.resolveIndexDir(emb.sparkSession, dir)
    // layout guard (ADVICE r13, symmetric with Ivf.appendIndex's): an
    // IVF-flat dir would fail later on books.parquet anyway, but with a
    // bare path error — fail here with the split-index rationale instead
    Ivf.requireLayout(emb.sparkSession, phys, "codes.parquet",
      "appendPqIndex", "Ivf.appendIndex")
    val model = readPqIndex(emb.sparkSession, phys)
    // repartition(cell): one file per touched cell per append
    // residual once into a column (ivfPqWithModel's rationale)
    val coded = model.coarse.indexOf(emb, idCol, vecCol)
      .withColumn("__res0", model.coarse.residualOf(col(vecCol)))
      .withColumn("code", pqCode(col("__res0"), model.cb))
      .drop("__res0")
      .repartition(col("cell"))
    // zombie-append fence (Ivf.appendIndex's rule): never land rows
    // coded under a codebook the new holder has since replaced
    IndexLifecycle.requireLeaseStillHeld(emb.sparkSession, "codes append")
    coded.write.mode("append").partitionBy("cell").parquet(s"$phys/codes.parquet")
    // re-insert contract: a tombstoned id that re-appends un-deletes
    // (Ivf.appendIndex's rule)
    IndexLifecycle.undeleteTombstones(emb.sparkSession, phys,
      emb.select(col(idCol)), idCol)
    model
  }

  /** Load the driver-held model of the IVFADC index built at `root`. */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
                  root: String): PqIndexModel =
    readPqIndex(spark, IndexLifecycle.resolveIndexDir(spark, root))

  /** [[loadPqIndex]] from a resolved generation dir. */
  private[ops] def readPqIndex(spark: org.apache.spark.sql.SparkSession,
                               dir: String): PqIndexModel = {
    val coarse = Ivf.readIndexModel(spark, dir)
    val rows = spark.read.parquet(s"$dir/books.parquet")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, s"no PQ codebooks found under $dir")
    val m = rows.map(_._1).max + 1
    val books = Array.tabulate(m)(j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3))
    val dsub = books.head.head.length
    PqIndexModel(coarse, PqCodebooks(m, books.map(_.length).max, dsub, books))
  }

  /** Probe a built IVFADC index: NO training, NO encode pass — the ADC
    * stage reads precomputed codes from the probed cell directories
    * only, re-ranks the `rerank` shortlist by exact cosine, and falls
    * back to the exact scan below k (never-short, like every search
    * path). This is the serving wall the in-query `c14_ann_ivfpq`
    * number buries under two KMeans stages. */
  def probePqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                   idCol: String, vecCol: String,
                   query: DataFrame, queryVecCol: String, k: Int,
                   nprobe: Int = 4, rerank: Int = 100,
                   selector: Option[DataFrame] = None): DataFrame =
  IndexLifecycle.fencedProbeResolved(spark, dir) { phys =>
    // the result is a materialized local relation (neverShort),
    // fence-coverable
    val model = readPqIndex(spark, phys)
    // tombstones filter at the code-table choke point (Ivf.probeIndex's
    // rationale): ADC shortlist AND exact fallback read the filtered frame
    pqProbeCore(
      IndexLifecycle.minusTombstones(spark, phys,
        spark.read.parquet(s"$phys/codes.parquet"), idCol),
      model, idCol, vecCol, query, queryVecCol, k, nprobe, rerank, selector)
  }

  /** The probe core over an already-loaded (codes, model) pair — shared
    * by [[probePqIndex]] and QuantizeSpec's round-trip-equivalence spec
    * (which feeds the in-memory code table to prove parquet changes
    * nothing). SINGLE-query contract like [[ivfPqTopK]], enforced — the
    * probed cells are driver-computed from the one query vector; batch
    * callers use [[Ivf.probeIndexBatch]] against the same dir (the code
    * table carries the raw vectors, so the exact-cosine batch serve
    * reads it directly). */
  private[ops] def pqProbeCore(codes: DataFrame, model: PqIndexModel,
                               idCol: String, vecCol: String,
                               query: DataFrame, queryVecCol: String,
                               k: Int, nprobe: Int, rerank: Int,
                               selector: Option[DataFrame] = None): DataFrame = {
    require(rerank >= k, s"rerank $rerank < k $k")
    val qRows = query.select(col(queryVecCol).cast("array<double>").as("__q"))
      .take(2)
    require(qRows.length == 1,
      s"probePqIndex is single-query (got ${if (qRows.isEmpty) 0 else "≥2"} rows); " +
        "probed cells are driver-computed from one vector — batch callers " +
        "use Ivf.probeIndexBatch against the same dir")
    val q = qRows.head.getSeq[Double](0).toArray
    // selector (FAISS IDSelector analog): ADC shortlist and exact
    // fallback both read the filtered code table — Ivf.probeIndexFrame's
    // rationale
    val src = Similarity.applySelector(codes, selector, idCol)
    val shortlist = src
      .filter(col("cell").isin(
        model.coarse.probedCells(q, nprobe).map(Integer.valueOf): _*))
      .select(col(idCol), col(vecCol),
        (model.coarse.cellDot(q) +
          pqAdcScore(col("code"), model.cb, q)).as("__adc"))
      .orderBy(col("__adc").desc, col(idCol))
      .limit(rerank)
    Similarity.neverShort(
      Similarity.bruteForceTopK(shortlist, idCol, vecCol, query, queryVecCol, k),
      src, idCol, vecCol, query, queryVecCol, k)
  }
}
