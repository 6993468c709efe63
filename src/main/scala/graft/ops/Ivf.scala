package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NearestCells.nearestCells

/** IVF-flat approximate-nearest-neighbor search (the north-star "IVF or
  * LSH-bucketed variant" — this engine ships both; see [[Similarity]] for
  * the hyperplane-LSH path).
  *
  * Structure: a KMeans coarse quantizer (trained on a sample — at 100 TB
  * you train on ~10⁶ sampled vectors, never the corpus) partitions the
  * corpus into cells; each vector is assigned to its nearest cell (one
  * codegen pass, [[graft.functions.NearestCells]]); a query probes the
  * `nprobe` nearest cells and scores only those candidates. The cell
  * assignment is the shuffle key, so the index co-locates each cell's
  * vectors — the classic IVF trade: recall vs. fraction of corpus
  * scanned.
  */
object Ivf {

  /** Search-sized cell count (the classic IVF nlist rule): a probe costs
    * ~k centroid distances plus nprobe·n/k candidate scans, minimized at
    * k ≈ √(nprobe·n) — a FIXED k turns the probe into a constant corpus
    * fraction as n grows, the same unsized-hyperparameter class as the
    * LSH plane count (PERF.md finding 17). Floor 16 = the historical
    * default; past [[Dedup.HierarchicalCellsThreshold]]-scale counts the
    * two-level [[trainResidualQuantizer]] takes over training. */
  def cellsForSearch(corpusSize: Long, nprobe: Int = 4): Int =
    math.max(16, math.ceil(
      math.sqrt((math.max(corpusSize, 1) * nprobe).toDouble)).toInt)

  /** Train centroids (driver-held, broadcast into expressions). Seeded,
    * deterministic. `sampleFraction < 1` for corpora where even one pass
    * for training is too much. A training frame under the driver-fit
    * gate ([[driverTrainingSet]]) is collected once and fit on the
    * driver ([[fitOnDriver]]); above it MLlib's distributed KMeans runs,
    * so the 100 TB path stays distributed. */
  def trainCentroids(emb: DataFrame, vecCol: String, k: Int,
                     seed: Long = 42L, sampleFraction: Double = 1.0,
                     maxIter: Int = 10): Array[Array[Double]] = {
    val data = trainingFrame(emb, vecCol, seed, sampleFraction)
    probeDim(data).flatMap(driverTrainingSet(data, k, _)) match {
      case Some(points) => fitOnDriver(points, k, seed, maxIter)
      case None => fitMllib(data, TrainCol, k, seed, maxIter)
    }
  }

  private[ops] val TrainCol = "__tv"

  /** The seeded training sample as one `array<double>` column named
    * [[TrainCol]]. */
  private[ops] def trainingFrame(emb: DataFrame, vecCol: String, seed: Long,
                                 sampleFraction: Double): DataFrame =
    (if (sampleFraction < 1.0) emb.sample(withReplacement = false, sampleFraction, seed) else emb)
      .select(col(vecCol).cast("array<double>").as(TrainCol))

  // The driver-fit gate. A Lloyd iteration costs points·k·dim distance
  // terms: below DriverFitMaxWork one driver thread finishes the whole fit
  // faster than MLlib schedules its k-means‖ init and per-iteration jobs
  // (PERF.md finding 47 measures the crossover). DriverFitMaxBytes bounds
  // the collected sample at points·dim·8 B of driver heap.
  private val DriverFitMaxWork = 1L << 27
  private val DriverFitMaxBytes = 64L << 20

  /** The training vectors of `data` (a [[trainingFrame]] of `dim`-wide
    * vectors) collected to the driver by one
    * [[Relational.collectUnderGate]] when a `k`-centre fit over them is
    * under the gate; None above it. */
  private[ops] def driverTrainingSet(data: DataFrame, k: Int,
                                     dim: Int): Option[Array[Array[Double]]] = {
    val d = math.max(dim, 1).toLong
    val limit = math.min(DriverFitMaxBytes / (8L * d), DriverFitMaxWork / (k.toLong * d))
    Relational.collectUnderGate(data.select(TrainCol), limit).map(_.map { r =>
      val v = r.getSeq[Double](0).toArray
      require(v.length == dim, s"training vectors of mixed dimension: ${v.length} vs $dim")
      v
    })
  }

  /** The vector width from one probe row; None on an empty frame (MLlib
    * then rejects it with its own message). */
  private def probeDim(data: DataFrame): Option[Int] =
    data.select(size(col(TrainCol))).take(1).headOption.map(_.getInt(0))

  /** MLlib's distributed KMeans (k-means‖ init, one job per Lloyd
    * iteration) over the `array<double>` column `vecCol`. */
  private[ops] def fitMllib(data: DataFrame, vecCol: String, k: Int, seed: Long,
                            maxIter: Int): Array[Array[Double]] =
    new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features")
      .fit(data.select(array_to_vector(col(vecCol)).as("features")))
      .clusterCenters.map(_.toArray)

  /** Seeded k-means on the driver: greedy k-means++ init (Arthur &
    * Vassilvitskii, SODA 2007) then Lloyd with MLlib's stopping rule
    * (`maxIter` iterations, or every centre moved at most 1e-4). Returns
    * only distinct centres: with at most k distinct points it returns
    * those points, and k-means++ never picks a point twice (a chosen
    * point's D² weight is 0). An empty cluster keeps its old centre, as
    * in MLlib. Ties go to the lowest centre index, as in
    * [[graft.functions.NearestCells]]. */
  private[ops] def fitOnDriver(points: Array[Array[Double]], k: Int, seed: Long,
                               maxIter: Int): Array[Array[Double]] = {
    require(k >= 1 && points.nonEmpty, s"need k >= 1 and points, got k=$k, ${points.length} points")
    val distinct = points.map(_.toSeq).distinct
    if (distinct.length <= k) return distinct.map(_.toArray)
    val rnd = new java.util.Random(seed)
    val centres = new Array[Array[Double]](k)
    centres(0) = points(rnd.nextInt(points.length)).clone()
    var d2 = points.map(sqDist(_, centres(0)))
    // greedy k-means++: each step draws 2 + ln k candidates by D² weight
    // and keeps the one that lowers the potential most (plain k-means++
    // merges planted blobs where MLlib's k-means‖ does not)
    val trials = 2 + math.log(k.toDouble).toInt
    for (c <- 1 until k) {
      var best: Array[Double] = null
      var bestCost = Double.MaxValue
      for (_ <- 0 until trials) {
        val cand = points(drawByWeight(d2, rnd.nextDouble() * d2.sum))
        val nd2 = new Array[Double](points.length)
        var cost = 0.0
        var i = 0
        while (i < points.length) {
          nd2(i) = sqDistBelow(points(i), cand, d2(i)); cost += nd2(i); i += 1
        }
        if (cost < bestCost) { bestCost = cost; best = nd2; centres(c) = cand.clone() }
      }
      d2 = best
    }
    val dim = centres(0).length
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Long](k)
      for (p <- points) {
        val j = nearest(p, centres)
        counts(j) += 1
        var i = 0
        while (i < dim) { sums(j)(i) += p(i); i += 1 }
      }
      converged = true
      for (j <- 0 until k if counts(j) > 0) {
        val moved = sums(j).map(_ / counts(j))
        if (sqDist(moved, centres(j)) > 1e-4 * 1e-4) converged = false
        centres(j) = moved
      }
      iter += 1
    }
    centres.map(_.toSeq).distinct.map(_.toArray)
  }

  /** The index where the running sum of the positive `weights` reaches
    * `r`; float round-off past the end takes the last positive one. */
  private def drawByWeight(weights: Array[Double], r0: Double): Int = {
    var r = r0
    var i = 0
    while (i < weights.length) {
      if (weights(i) > 0.0) { r -= weights(i); if (r <= 0.0) return i }
      i += 1
    }
    weights.lastIndexWhere(_ > 0.0)
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double =
    sqDistBelow(a, b, Double.MaxValue)

  /** min(|a − b|², bound), leaving the sum early once it reaches `bound`
    * (the terms are non-negative, so the rest cannot bring it back). */
  private def sqDistBelow(a: Array[Double], b: Array[Double], bound: Double): Double = {
    var d = 0.0; var i = 0
    while (i < a.length && d < bound) { val diff = a(i) - b(i); d += diff * diff; i += 1 }
    math.min(d, bound)
  }

  /** Index of the nearest centre, the lowest on a tie. */
  private def nearest(p: Array[Double], centres: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centres.length) {
      val d = sqDistBelow(p, centres(c), bestD)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def flat(centroids: Array[Array[Double]]): (Array[Double], Int, Int) =
    (centroids.flatten, centroids.length, centroids.head.length)

  /** (cell, id, vec): the inverted file. Cell is the vector's single
    * nearest centroid. */
  def index(emb: DataFrame, idCol: String, vecCol: String,
            centroids: Array[Array[Double]]): DataFrame = {
    val (m, cells, dim) = flat(centroids)
    emb.select(
      element_at(nearestCells(col(vecCol), m, cells, dim, 1), 1).as("cell"),
      col(idCol), col(vecCol))
  }

  /** Two-level residual coarse quantizer (the IMI idea, Babenko &
    * Lempitsky 2012, "The inverted multi-index" — here in its residual
    * form): level 1 is a k1-cell KMeans on the vectors; level 2 is a
    * k2-cell KMeans trained on the RESIDUALS v − c1(v); the composite
    * cell id is cell1·k2 + cell2, giving k1·k2 effective cells from two
    * (k1 + k2)-sized training problems.
    *
    * This is the scale path past the single-level limits documented at
    * [[Dedup.cellsFor]]: one Lloyd iteration costs points·k distance
    * evals and the driver holds k·dim centroid doubles — both linear in
    * k, so k = k1·k2 effective cells for √k-sized costs. Assignment is
    * two [[graft.functions.NearestCells]] codegen passes plus one
    * row-level residual subtraction (a dim-length zip_with — the only
    * interpreted lambda, O(dim) subtractions per row). */
  final case class ResidualQuantizer(level1: Array[Array[Double]],
                                     level2: Array[Array[Double]]) {
    def cells: Int = level1.length * level2.length
  }

  /** The residual v − c1(v) as a column (array<double>): level-1 cell via
    * the codegen quantizer, centroid lookup from a literal nested-array
    * reference, element-wise subtraction. */
  private def residual(vec: Column, c1: Array[Array[Double]]): Column = {
    val (m, cells, dim) = flat(c1)
    val cell1 = element_at(nearestCells(vec, m, cells, dim, 1), 1)
    val centroid = element_at(typedLit(c1.map(_.toSeq).toSeq), cell1 + 1)
    zip_with(vec.cast("array<double>"), centroid, (a, b) => a - b)
  }

  /** Driver-held coarse-quantizer model — the single abstraction the
    * IVFADC paths and the build-once/serve-many index share. `level2`
    * empty ⇒ single-level ([[trainCentroids]]); non-empty ⇒ two-level
    * residual ([[trainResidualQuantizer]]) with composite cell
    * c1·|level2| + c2. All member expressions are literal-lookup column
    * arithmetic (the model is small BY CONSTRUCTION: past
    * [[Dedup.HierarchicalCellsThreshold]] effective cells the residual
    * regime holds each LEVEL at √cells). */
  final case class IndexModel(level1: Array[Array[Double]],
                              level2: Array[Array[Double]]) {
    def isResidual: Boolean = level2.nonEmpty
    def cells: Int =
      if (isResidual) level1.length * level2.length else level1.length

    /** (cell, id, vec): the inverted file under this model. */
    private[ops] def indexOf(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
      if (isResidual)
        indexResidual(emb, idCol, vecCol, ResidualQuantizer(level1, level2))
      else index(emb, idCol, vecCol, level1)

    // cell ids are non-negative, so the double-divide truncation IS the
    // floor: c1 = cell div k2, c2 = cell mod k2
    private def cell1 = (col("cell") / lit(level2.length)).cast("int")
    private def cell2 = pmod(col("cell"), lit(level2.length))

    /** Residual of `vec` from its cell's effective centroid (flat: v − c;
      * residual: v − c1 − c2), reading the `cell` column. */
    private[ops] def residualOf(vec: Column): Column =
      if (isResidual)
        zip_with(
          zip_with(vec.cast("array<double>"),
            element_at(typedLit(level1.map(_.toSeq).toSeq), cell1 + 1),
            (x, y) => x - y),
          element_at(typedLit(level2.map(_.toSeq).toSeq), cell2 + 1),
          (x, y) => x - y)
      else
        zip_with(vec.cast("array<double>"),
          element_at(typedLit(level1.map(_.toSeq).toSeq), col("cell") + 1),
          (x, y) => x - y)

    private def dotq(q: Array[Double])(c: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < math.min(c.length, q.length)) { d += q(i) * c(i); i += 1 }
      d
    }
    private def sqDist(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        val diff = a(i) - b(i); d += diff * diff; i += 1
      }
      d
    }

    /** dot(q, effective centroid of `cell`) as a literal-lookup column:
      * one |level1|-sized table flat, two √cells-sized tables residual
      * (the decomposition dot(q,c1) + dot(q,c2)). */
    private[ops] def cellDot(q: Array[Double]): Column =
      if (isResidual)
        element_at(typedLit(level1.map(dotq(q)).toSeq), cell1 + 1) +
          element_at(typedLit(level2.map(dotq(q)).toSeq), cell2 + 1)
      else
        element_at(typedLit(level1.map(dotq(q)).toSeq), col("cell") + 1)

    /** The query's probed cell ids, DRIVER-side (the model is already
      * driver-held): flat = `nprobe` nearest cells; residual = nprobe²
      * composite cells (nprobe nearest level-1 cells × the nprobe nearest
      * level-2 cells of the query's residual within each — the same
      * deliberate widening as [[topKSized]]). Clamped to the ACTUAL
      * trained counts like [[probeCellsResidual]]. */
    private[graft] def probedCells(q: Array[Double], nprobe: Int): Seq[Int] =
      if (isResidual) {
        val k2 = level2.length
        val np1 = math.min(nprobe, level1.length)
        val np2 = math.min(nprobe, k2)
        level1.zipWithIndex
          .map { case (c, i) => (sqDist(q, c), i) }
          .sortBy(_._1).take(np1).toSeq
          .flatMap { case (_, c1) =>
            val qres = Array.tabulate(q.length)(i =>
              q(i) - (if (i < level1(c1).length) level1(c1)(i) else 0.0))
            level2.zipWithIndex.map { case (c, j) => (sqDist(qres, c), j) }
              .sortBy(_._1).take(np2).map { case (_, c2) => c1 * k2 + c2 }.toSeq
          }
      } else
        level1.zipWithIndex
          .map { case (c, i) => (sqDist(q, c), i) }
          .sortBy(_._1).take(math.min(nprobe, level1.length)).map(_._2).toSeq
  }

  /** Train the sized coarse model: single-level at or below
    * `hierarchicalThreshold` effective cells, the two-level residual
    * quantizer (√cells per level) past it — the switch every sized
    * entry point makes, now as a reusable artifact. */
  def trainModel(emb: DataFrame, vecCol: String, cells: Int, seed: Long = 42L,
                 sampleFraction: Double = 1.0, maxIter: Int = 10,
                 hierarchicalThreshold: Int = Dedup.HierarchicalCellsThreshold): IndexModel =
    if (cells <= hierarchicalThreshold)
      IndexModel(trainCentroids(emb, vecCol, cells, seed, sampleFraction, maxIter),
        Array.empty)
    else {
      val kLevel = math.max(2, math.ceil(math.sqrt(cells.toDouble)).toInt)
      val rq = trainResidualQuantizer(emb, vecCol, kLevel, kLevel, seed,
        sampleFraction, maxIter)
      IndexModel(rq.level1, rq.level2)
    }

  def trainResidualQuantizer(emb: DataFrame, vecCol: String, k1: Int, k2: Int,
                             seed: Long = 42L,
                             sampleFraction: Double = 1.0,
                             maxIter: Int = 10): ResidualQuantizer = {
    require(k1 >= 2 && k2 >= 2, s"need k1, k2 >= 2, got $k1, $k2")
    // sample BEFORE the residual projection: at 100 TB, projecting
    // residuals over the whole corpus only to sample 0.1% of them for
    // training would be a full wasted pass — both levels train on the
    // same seeded sample
    val data = trainingFrame(emb, vecCol, seed, sampleFraction)
    probeDim(data).flatMap(driverTrainingSet(data, math.max(k1, k2), _)) match {
      case Some(points) =>
        // under the gate the level-2 residuals come from the same
        // collected sample: no second pass
        val c1 = fitOnDriver(points, k1, seed, maxIter)
        val resid = points.map { p =>
          val c = c1(nearest(p, c1))
          Array.tabulate(p.length)(i => p(i) - c(i))
        }
        ResidualQuantizer(c1, fitOnDriver(resid, k2, seed + 1, maxIter))
      case None =>
        val c1 = fitMllib(data, TrainCol, k1, seed, maxIter)
        val resid = data.select(residual(col(TrainCol), c1).as("__r"))
        ResidualQuantizer(c1, fitMllib(resid, "__r", k2, seed + 1, maxIter))
    }
  }

  /** (cell, id, vec) inverted file under the composite two-level cell. */
  def indexResidual(emb: DataFrame, idCol: String, vecCol: String,
                    q: ResidualQuantizer): DataFrame = {
    val (m1, k1, dim) = flat(q.level1)
    val (m2, k2, _) = flat(q.level2)
    emb
      .withColumn("__c1", element_at(nearestCells(col(vecCol), m1, k1, dim, 1), 1))
      .withColumn("__r", zip_with(col(vecCol).cast("array<double>"),
        element_at(typedLit(q.level1.map(_.toSeq).toSeq), col("__c1") + 1),
        (a, b) => a - b))
      .select(
        (col("__c1") * k2 +
          element_at(nearestCells(col("__r"), m2, k2, dim, 1), 1)).as("cell"),
        col(idCol), col(vecCol))
  }

  /** Probe frame for a single-level quantizer — `cell` plus EVERY input
    * column of `df` riding along (a batched probe needs its query id next
    * to the cell; single-query frames just carry the vector): each row of
    * `df` exploded to its `nprobe` nearest cells — the shape every probe
    * consumer joins against the inverted file ([[topK]] broadcasts it; the
    * cell-scoped decontamination path shuffles it). `nprobe` is CLAMPED to
    * the centroid count: [[graft.functions.NearestCells]] pads with -1
    * past it, and a -1 cell silently probes nothing (no index row carries
    * it). */
  private[graft] def probeCells(df: DataFrame, vecCol: String,
                                centroids: Array[Array[Double]],
                                nprobe: Int): DataFrame = {
    val (m, cells, dim) = flat(centroids)
    val np = math.min(nprobe, cells)
    // every input column rides along (a batched probe needs its query id
    // next to the cell; the single-query frames just carry the vector)
    df.select(explode(nearestCells(col(vecCol), m, cells, dim, np)).as("cell") +:
      df.columns.map(col): _*)
  }

  /** Probe frame on the two-level residual quantizer — composite `cell`
    * plus every input column riding along, like [[probeCells]]: each
    * row probes its `nprobe1` nearest level-1 cells and, within each, the
    * `nprobe2` nearest level-2 cells of its residual — nprobe1·nprobe2
    * composite cells, pure expressions (two codegen NearestCells passes
    * plus one dim-length residual subtraction per (row, cell1)).
    *
    * Both levels clamp: unclamped, __c1 = -1 makes the level-1 centroid
    * lookup an index-0 element_at (throws), and __c2 = -1 ALIASES the
    * composite cell c1·k2 − 1 onto the valid cell (c1−1)·k2 + (k2−1) — a
    * silent wrong-cell probe. Legal small
    * quantizers (k1 = 2) sit below the public nprobe defaults, so
    * clamping is the builder's job, not the caller's. */
  private[graft] def probeCellsResidual(df: DataFrame, vecCol: String,
                                        q: ResidualQuantizer,
                                        nprobe1: Int, nprobe2: Int): DataFrame = {
    val (m1, k1, dim) = flat(q.level1)
    val (m2, k2, _) = flat(q.level2)
    val np1 = math.min(nprobe1, k1)
    val np2 = math.min(nprobe2, k2)
    // every input column rides along, like [[probeCells]]
    val all = df.columns.map(col).toSeq
    df
      .select(all :+
        explode(nearestCells(col(vecCol), m1, k1, dim, np1)).as("__c1"): _*)
      .select(all ++ Seq(col("__c1"),
        explode(nearestCells(
          zip_with(col(vecCol).cast("array<double>"),
            element_at(typedLit(q.level1.map(_.toSeq).toSeq), col("__c1") + 1),
            (a, b) => a - b), m2, k2, dim, np2)).as("__c2")): _*)
      .select((col("__c1") * k2 + col("__c2")).as("cell") +: all: _*)
  }

  /** Probe-style top-k: score only vectors in the query's `nprobe`
    * nearest cells; exact cosine within the candidate set, then
    * per-partition top-k heaps (TakeOrderedAndProject).
    *
    * Never returns short: when the probed cells hold fewer than k
    * vectors (small/imbalanced quantizer, outlier query) the query
    * falls back to the exact scan — the same ANN contract as
    * [[Similarity.lshTopKSized]], via the shared [[Similarity.neverShort]]
    * gate (≤ k-row local materialization; the corpus is only counted on
    * the failing branch, and a corpus that is itself smaller than k
    * returns the probe instead of paying a second scan that would
    * re-answer short). */
  def topK(emb: DataFrame, idCol: String, vecCol: String,
           query: DataFrame, queryVecCol: String, k: Int,
           centroids: Array[Array[Double]], nprobe: Int = 4): DataFrame = {
    val idx = index(emb, idCol, vecCol, centroids)
    val probes = broadcast(
      probeCells(query.select(col(queryVecCol).as("__qv")), "__qv", centroids, nprobe))
    val probed = idx.join(probes, Seq("cell"))
      .select(col(idCol), round(Similarity.cosine(col(vecCol), col("__qv")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
    Similarity.neverShort(probed, emb, idCol, vecCol, query, queryVecCol, k)
  }

  /** [[topK]] on the two-level residual index — the search analog of the
    * hierarchical dedup path: each query probes its `nprobe1` nearest
    * level-1 cells and, within each, the `nprobe2` nearest level-2 cells
    * of its residual — nprobe1·nprobe2 composite cells, still a broadcast
    * probe join against the inverted file. The probe expansion is pure
    * expressions over the (small) query frame: two codegen NearestCells
    * passes and one dim-length residual subtraction per (query, cell1). */
  def topKResidual(emb: DataFrame, idCol: String, vecCol: String,
                   query: DataFrame, queryVecCol: String, k: Int,
                   q: ResidualQuantizer,
                   nprobe1: Int = 4, nprobe2: Int = 4): DataFrame = {
    val idx = indexResidual(emb, idCol, vecCol, q)
    val probes = broadcast(
      probeCellsResidual(query.select(col(queryVecCol).as("__qv")), "__qv",
        q, nprobe1, nprobe2))
    // same never-empty contract as [[topK]]: short probe ⇒ exact scan
    val probed = idx.join(probes, Seq("cell"))
      .select(col(idCol), round(Similarity.cosine(col(vecCol), col("__qv")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
    Similarity.neverShort(probed, emb, idCol, vecCol, query, queryVecCol, k)
  }

  /** BATCHED probe-style top-k — the IVF analog of
    * [[Similarity.lshTopKBatchSized]] (the realistic serving shape: a
    * probe batch, not one vector). Every query probes its `nprobe`
    * nearest cells through ONE pass over the inverted file (the probe
    * frame broadcasts — it is |queries|·nprobe rows); a corpus vector
    * lives in exactly one cell, so no candidate dedup is needed; the
    * per-query `rank ≤ k` plans as WindowGroupLimit exactly like the
    * batched exact path.
    *
    * Per-query never-short: queries whose probed cells held fewer than k
    * candidates re-answer through [[Similarity.bruteForceTopKBatch]] —
    * PER QUERY, so one outlier query doesn't force an exact scan for the
    * rest. The fallback gate aggregates the ≤ |queries|·k probe result
    * and the query frame, never the corpus. Returns
    * (query_id, idCol, sim, rnk). */
  def topKBatch(emb: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
                centroids: Array[Array[Double]], nprobe: Int = 4): DataFrame = {
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))
    batchedProbeTopK(index(emb, idCol, vecCol, centroids),
      broadcast(probeCells(q, "__qv", centroids, nprobe)),
      emb, idCol, vecCol, q, k)
  }

  /** [[topKBatch]] on the two-level residual index — nprobe1·nprobe2
    * composite cells per query, same per-query never-short contract. */
  def topKBatchResidual(emb: DataFrame, idCol: String, vecCol: String,
                        queries: DataFrame, qIdCol: String, qVecCol: String,
                        k: Int, q: ResidualQuantizer,
                        nprobe1: Int = 4, nprobe2: Int = 4): DataFrame = {
    val qf = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))
    batchedProbeTopK(indexResidual(emb, idCol, vecCol, q),
      broadcast(probeCellsResidual(qf, "__qv", q, nprobe1, nprobe2)),
      emb, idCol, vecCol, qf, k)
  }

  /** [[topKSized]] for a query BATCH: cell count from [[cellsForSearch]],
    * automatic residual-quantizer switch past `hierarchicalThreshold` —
    * the serving entry point on a corpus of unknown size. */
  def topKBatchSized(emb: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qIdCol: String, qVecCol: String,
                     k: Int, nprobe: Int = 4, seed: Long = 42L,
                     sampleFraction: Double = 1.0, maxIter: Int = 10,
                     hierarchicalThreshold: Int = Dedup.HierarchicalCellsThreshold): DataFrame = {
    val cells = cellsForSearch(emb.count(), nprobe)
    if (cells <= hierarchicalThreshold)
      topKBatch(emb, idCol, vecCol, queries, qIdCol, qVecCol, k,
        trainCentroids(emb, vecCol, cells, seed, sampleFraction, maxIter), nprobe)
    else {
      val kLevel = math.max(2, math.ceil(math.sqrt(cells.toDouble)).toInt)
      topKBatchResidual(emb, idCol, vecCol, queries, qIdCol, qVecCol, k,
        trainResidualQuantizer(emb, vecCol, kLevel, kLevel, seed,
          sampleFraction, maxIter), nprobe, nprobe)
    }
  }

  /** Score the probed candidates (a corpus vector lives in exactly ONE
    * cell — single-level or composite — so a (query, vector) pair meets
    * at most once and no candidate dedup is needed), then rank + gate +
    * fallback through the tail every batched ANN path shares
    * ([[Similarity.finishBatchTopK]]). */
  private def batchedProbeTopK(idx: DataFrame, probes: DataFrame,
                               emb: DataFrame, idCol: String, vecCol: String,
                               q: DataFrame, k: Int): DataFrame = {
    val scored = idx.join(probes, Seq("cell"))
      .select(col("query_id"), col(idCol),
        round(Similarity.cosine(col(vecCol), col("__qv")), 4).as("sim"))
    Similarity.finishBatchTopK(scored, emb, idCol, vecCol, q, k)
  }

  /** Corpus-sized IVF search — the composed entry point:
    * the cell count comes from [[cellsForSearch]]; at or below
    * `hierarchicalThreshold` cells a single-level quantizer trains and
    * probes ([[trainCentroids]] + [[topK]]), past it the two-level
    * residual quantizer takes over ([[trainResidualQuantizer]] at √k per
    * level + [[topKResidual]]) — the same automatic switch
    * [[Dedup.semanticDedupSized]] makes on the dedup side, for the same
    * measured reason (PERF.md finding 18: one Lloyd iteration costs
    * points·k distance evals and the driver holds k·dim centroid doubles;
    * past ~4M vectors cellsForSearch exceeds 4096 and a single-level fit
    * is the wrong plan). Callers should not have to know the switch
    * exists — this is the entry point a search layer calls on a corpus of
    * unknown size; the fixed-quantizer [[topK]]/[[topKResidual]] remain
    * for callers that train once and serve many queries.
    *
    * `nprobe` carries to BOTH residual levels: nprobe₁·nprobe₂ = nprobe²
    * composite cells at k1·k2 ≈ k cells scan about the same corpus
    * fraction as nprobe single-level cells (nprobe²·n/k vs nprobe·n/k —
    * one extra nprobe factor, deliberate: the two-level assignment must
    * land a neighbor in the right cell at BOTH levels, so the probe is
    * widened where recall is weakest; IvfSpec gates ≥ 0.8 on the switched
    * path specifically). */
  def topKSized(emb: DataFrame, idCol: String, vecCol: String,
                query: DataFrame, queryVecCol: String, k: Int,
                nprobe: Int = 4, seed: Long = 42L,
                sampleFraction: Double = 1.0, maxIter: Int = 10,
                hierarchicalThreshold: Int = Dedup.HierarchicalCellsThreshold): DataFrame = {
    val cells = cellsForSearch(emb.count(), nprobe)
    if (cells <= hierarchicalThreshold) {
      val centroids = trainCentroids(emb, vecCol, cells, seed, sampleFraction, maxIter)
      topK(emb, idCol, vecCol, query, queryVecCol, k, centroids, nprobe)
    } else {
      val kLevel = math.max(2, math.ceil(math.sqrt(cells.toDouble)).toInt)
      val rq = trainResidualQuantizer(emb, vecCol, kLevel, kLevel, seed,
        sampleFraction, maxIter)
      topKResidual(emb, idCol, vecCol, query, queryVecCol, k, rq, nprobe, nprobe)
    }
  }

  // ── build-once / serve-many ─────────────────────────────────────────
  // Every in-query ANN path above retrains per call (the honest-training
  // rule: a query owns its whole cost). A 100 TB deployment instead
  // MATERIALIZES the index once and serves many probes from it — these
  // entry points are that serving shape: centroids to a tiny parquet,
  // the inverted file PARTITIONED BY CELL (a probe reads only its
  // nprobe — or nprobe² — partition directories: static partition
  // pruning, the I/O analog of "scan ~nprobe/cells of the corpus").

  private[ops] def writeModel(spark: org.apache.spark.sql.SparkSession,
                              dir: String, model: IndexModel): Unit = {
    import spark.implicits._
    val rows =
      model.level1.zipWithIndex.map { case (c, i) => (1, i, c.toSeq) } ++
        model.level2.zipWithIndex.map { case (c, i) => (2, i, c.toSeq) }
    rows.toSeq.toDF("level", "cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids.parquet")
  }

  /** Load the coarse model of the index built at `root` back
    * (driver-held, small by the residual-regime construction). */
  def loadIndexModel(spark: org.apache.spark.sql.SparkSession,
                     root: String): IndexModel =
    readIndexModel(spark, IndexLifecycle.resolveIndexDir(spark, root))

  /** [[loadIndexModel]] from a resolved generation dir. */
  private[graft] def readIndexModel(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): IndexModel = {
    val rows = spark.read.parquet(s"$dir/centroids.parquet")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    def level(l: Int) = rows.filter(_._1 == l).sortBy(_._2).map(_._3)
    val model = IndexModel(level(1), level(2))
    require(model.level1.nonEmpty, s"no centroids found under $dir")
    model
  }

  /** Build the IVF-flat index at `dir`: sized coarse model (single-level
    * or residual past the threshold) + the cell-partitioned inverted
    * file. Returns the driver-held model (also persisted). */
  /** KMeans must never see k > points. Builds clamp every trained count
    * (cells, codebooks) to the corpus size with this; the in-query paths
    * instead short-circuit tiny corpora to the exact scan and never
    * train — a build can't, it must still produce an index. */
  private[ops] def clampK(k: Int, n: Long): Int =
    math.min(k.toLong, math.max(1L, n)).toInt

  /** Resolve a serve dir's (cell, id, vec) source — the
    * serve-either-layout rule shared by [[probeIndexBatch]] and
    * [[graft.streaming.Streaming.annProbeStream]]: a [[buildIndex]] dir
    * carries `invfile.parquet`, a [[Quantize.buildPqIndex]] dir carries
    * `codes.parquet` with the same columns (its `code` column prunes
    * away for exact-cosine consumers). Resolved once, driver-side, at
    * plan time. */
  private[graft] def cellSource(spark: org.apache.spark.sql.SparkSession,
                                dir: String, idCol: String,
                                vecCol: String): DataFrame = {
    val invPath = new org.apache.hadoop.fs.Path(s"$dir/invfile.parquet")
    val fs = invPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = if (fs.exists(invPath)) invPath.toString else s"$dir/codes.parquet"
    // tombstones (removeIds tombstone = true) serve out at the same
    // choke point the LSH arm uses (lshVectors): every consumer —
    // batch probe, streaming probe — reads the filtered frame
    IndexLifecycle.minusTombstones(spark, dir,
      spark.read.parquet(src).select(col(idCol), col(vecCol), col("cell")),
      idCol)
  }

  def buildIndex(emb: DataFrame, idCol: String, vecCol: String, dir: String,
                 nprobe: Int = 4, seed: Long = 42L,
                 sampleFraction: Double = 1.0, maxIter: Int = 10,
                 hierarchicalThreshold: Int = Dedup.HierarchicalCellsThreshold): IndexModel =
    IndexLifecycle.buildGeneration(emb.sparkSession, dir, "buildIndex")(gen =>
      writeIndex(emb, idCol, vecCol, gen, nprobe, seed, sampleFraction,
        maxIter, hierarchicalThreshold))

  /** Train and write the IVF artifacts into the fresh generation dir
    * `gen` — [[buildIndex]]'s body, and [[IndexLifecycle.rebuildIndex]]'s
    * for this layout. A build defines a NEW world: the generation
    * carries no tombstone set, and the old generation keeps serving its
    * own until the commit (LifecycleSweep once caught a rebuilt corpus
    * serving minus the previous session's backlog). */
  private[ops] def writeIndex(emb: DataFrame, idCol: String, vecCol: String,
                              gen: String, nprobe: Int, seed: Long,
                              sampleFraction: Double, maxIter: Int,
                              hierarchicalThreshold: Int): IndexModel = {
    val n = emb.count()
    val cells = clampK(cellsForSearch(n, nprobe), n)
    val model = trainModel(emb, vecCol, cells, seed, sampleFraction, maxIter,
      hierarchicalThreshold)
    writeModel(emb.sparkSession, gen, model)
    // repartition(cell): without it every write task holding a cell's
    // rows emits its own file — a parallelism-32 build starts life at
    // 32 files per cell, the small-file state compactIndex exists to
    // UNDO (it would fire right after a healthy build). One extra
    // shuffle of the corpus at build time — noise next to the KMeans
    // passes — lands each cell as one file (LifecycleSweep, r15).
    model.indexOf(emb, idCol, vecCol)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$gen/invfile.parquet")
    writeBuildInfo(emb.sparkSession, gen, n, Seq(
      "nprobe" -> nprobe, "seed" -> seed, "max_iter" -> maxIter,
      "sample_fraction" -> sampleFraction,
      "hierarchical_threshold" -> hierarchicalThreshold))
    model
  }

  /** Record the build-time row count — [[IndexLifecycle.indexStats]]
    * derives the appended fraction from it (the retrain-policy input,
    * PERF.md finding 29). Appends deliberately do NOT touch it: the
    * fraction measures growth SINCE the quantizer was trained.
    *
    * `params` persists the build's REQUESTED parameters beside the count
    * (ADVICE r14): [[IndexLifecycle.rebuildIndex]] defaults to these, so
    * a policy-triggered rebuild of an index built with e.g. nprobe=8
    * keeps its geometry instead of silently re-sizing cells under the
    * hardcoded default and reseeding KMeans. Values are Int/Long/Double
    * literals; readers probe by column name (a pre-params dir simply has
    * no such column and falls back to the defaults). */
  private[graft] def writeBuildInfo(spark: org.apache.spark.sql.SparkSession,
                                    dir: String, n: Long,
                                    params: Seq[(String, Any)] = Nil): Unit = {
    import spark.implicits._
    params.foldLeft(Seq(n).toDF("built_rows")) { case (df, (k, v)) =>
      df.withColumn(k, lit(v))
    }.coalesce(1).write.mode("overwrite").parquet(s"$dir/buildinfo.parquet")
  }

  /** Probe a built index: load the model, filter the inverted file to
    * the query's probed cells (driver-computed ids ⇒ STATIC partition
    * pruning on the cell directories), exact cosine within, top-k, and
    * the never-short exact-scan fallback over the inverted file (which
    * IS the corpus). Training cost: zero — that is the point. */
  def probeIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                 idCol: String, vecCol: String,
                 query: DataFrame, queryVecCol: String, k: Int,
                 nprobe: Int = 4,
                 selector: Option[DataFrame] = None): DataFrame =
  IndexLifecycle.fencedProbeResolved(spark, dir) { phys =>
    // the invfile read resolves its file listing eagerly. The result is
    // a fully materialized local relation (neverShort), so the harness's
    // post-body fence covers every scan.
    val model = readIndexModel(spark, phys)
    // tombstones filter at the inverted-file choke point: probed scan,
    // ranking, AND the never-short fallback read the filtered frame
    probeIndexFrame(
      IndexLifecycle.minusTombstones(spark, phys,
        spark.read.parquet(s"$phys/invfile.parquet"), idCol),
      model, idCol, vecCol, query, queryVecCol, k, nprobe, selector)
  }

  /** Does `dir/child` exist? The layout-dispatch primitive shared by
    * [[cellSource]], the append guards, and the streaming probe's
    * plan-time layout resolution. */
  private[graft] def layoutFileExists(spark: org.apache.spark.sql.SparkSession,
                                      dir: String, child: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$child")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Fail fast when an append targets a dir of the WRONG layout (ADVICE
    * r13): `appendIndex` on a PQ dir would otherwise succeed silently —
    * the coarse model loads fine and the append creates `invfile.parquet`
    * next to `codes.parquet`, after which [[cellSource]] prefers invfile
    * and batch/stream probes serve ONLY the appended rows while
    * [[Quantize.probePqIndex]] serves only the originals: a silently
    * SPLIT index, wrong on both paths. */
  private[graft] def requireLayout(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, child: String,
                                   op: String, rightOp: String): Unit =
    require(layoutFileExists(spark, dir, child),
      s"$op: $dir has no $child — this dir holds a different index " +
        s"layout; appending through $op would create a silently split " +
        s"mixed-layout dir. Use $rightOp for this dir's layout.")

  /** Append new vectors to a BUILT index WITHOUT retraining (FAISS
    * `add()` semantics): cells come from the PERSISTED model, rows land
    * as a dynamic-partition APPEND on the cell-partitioned inverted
    * file — only the touched cell directories gain files, nothing
    * rewrites, and every probe path serves the union immediately. When
    * to retrain (quantizer drift as the corpus distribution moves) is
    * the caller's index-lifecycle policy, exactly as in FAISS; the
    * honest-training in-query paths are unaffected. */
  def appendIndex(emb: DataFrame, idCol: String, vecCol: String,
                  dir: String): IndexModel =
  IndexLifecycle.withIndexLock(emb.sparkSession, dir, "appendIndex") {
    // appends land INSIDE the live generation: new files only
    // (committer-staged — never a rename of EXISTING data, but the
    // task-commit itself rides the configured committer; see the SCOPE
    // paragraph on IndexLifecycle's generation-root intro for the
    // copy+delete-store caveat), under the plan-snapshot visibility
    // contract
    val phys = IndexLifecycle.resolveIndexDir(emb.sparkSession, dir)
    requireLayout(emb.sparkSession, phys, "invfile.parquet",
      "appendIndex", "Quantize.appendPqIndex")
    val model = readIndexModel(emb.sparkSession, phys)
    // repartition(cell): one file per TOUCHED cell per append (instead
    // of one per task per cell) — appends still accumulate one file
    // batch per append, which stays compactIndex's job
    val assigned = model.indexOf(emb, idCol, vecCol)
      .repartition(col("cell"))
    // zombie-append fence: a stalled append resuming after takeover
    // would land rows assigned under a quantizer the new holder's
    // rebuild has since replaced (or lose the batch with the GC'd
    // generation)
    IndexLifecycle.requireLeaseStillHeld(emb.sparkSession, "invfile append")
    assigned.write.mode("append").partitionBy("cell")
      .parquet(s"$phys/invfile.parquet")
    // re-insert contract (appendLshIndex's rule, now that cell layouts
    // can carry tombstones): appending a tombstoned id un-deletes it —
    // without this the append lands physically but every probe keeps
    // filtering it out until compaction
    IndexLifecycle.undeleteTombstones(emb.sparkSession, phys,
      emb.select(col(idCol)), idCol)
    model
  }

  /** Batched probe of a BUILT index — the serving counterpart of
    * [[topKBatchSized]], zero training: the driver-held model loads once,
    * each query row takes its probed cells from the same codegen
    * [[graft.functions.NearestCells]] expression the in-query batch paths
    * use (nprobe² composite cells under the residual regime), candidates
    * come from one equi-join of the broadcast probe frame against the
    * cell-keyed inverted file, then the shared per-query
    * rank + gate + exact-fallback tail
    * ([[Similarity.finishBatchTopK]]). Static partition pruning is the
    * SINGLE-query trick ([[probeIndex]]): a batch's union of probed cells
    * approaches the full cell set, so the scale shape here is the
    * cell equi-join — the inverted file's cell clustering keeps each join
    * partition's build side one cell's worth. The probe frame broadcasts
    * by the batch contract every batched ANN path shares (queries are a
    * bounded probe batch; the corpus side never moves). */
  def probeIndexBatch(spark: org.apache.spark.sql.SparkSession, dir: String,
                      idCol: String, vecCol: String,
                      queries: DataFrame, qIdCol: String, qVecCol: String,
                      k: Int, nprobe: Int = 4,
                      selector: Option[DataFrame] = None): DataFrame =
  IndexLifecycle.fencedProbeResolved(spark, dir) { phys =>
    // result materializes inside finishBatchTopK (checkpointed on both
    // branches), so the harness's post-body fence covers every scan
    val model = readIndexModel(spark, phys)
    val inv = Similarity.applySelector(
      cellSource(spark, phys, idCol, vecCol), selector, idCol)
    val qf = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))
    val probes =
      if (model.isResidual)
        probeCellsResidual(qf, "__qv",
          ResidualQuantizer(model.level1, model.level2), nprobe, nprobe)
      else probeCells(qf, "__qv", model.level1, nprobe)
    batchedProbeTopK(inv, broadcast(probes), inv, idCol, vecCol, qf, k)
  }

  /** The probe core over an already-loaded (inv, model) pair — shared by
    * [[probeIndex]] and IvfSpec's round-trip-equivalence spec (which feeds
    * the in-memory inverted file to prove parquet changes nothing).
    *
    * SINGLE-query contract, like [[topK]]/[[Quantize.ivfPqTopK]]: probed
    * cells are driver-computed from the one query vector (that is what
    * makes the scan statically pruned). Enforced — a multi-row frame would
    * otherwise silently score every row against row 1's cells. Batches
    * against a built dir go through [[probeIndexBatch]] — the
    * zero-training counterpart. */
  private[ops] def probeIndexFrame(inv: DataFrame, model: IndexModel,
                                   idCol: String, vecCol: String,
                                   query: DataFrame, queryVecCol: String,
                                   k: Int, nprobe: Int,
                                   selector: Option[DataFrame] = None): DataFrame = {
    val qRows = query.select(col(queryVecCol).cast("array<double>").as("__q"))
      .take(2)
    require(qRows.length == 1,
      s"probeIndex is single-query (got ${if (qRows.isEmpty) 0 else "≥2"} rows); " +
        "probed cells are driver-computed from one vector — batch callers " +
        "use Ivf.probeIndexBatch against the same dir")
    val q = qRows.head.getSeq[Double](0).toArray
    val probes = broadcast(query.select(col(queryVecCol).as("__qv")))
    // the selector (FAISS IDSelector analog) rides the single inverted-
    // file choke point: the probed scan AND the exact fallback read the
    // filtered frame, so a disallowed id can surface nowhere and the
    // never-short contract runs over the FILTERED corpus. The cell
    // filter still pushes through the semi-join to the scan — static
    // partition pruning survives filtering.
    val src = Similarity.applySelector(inv, selector, idCol)
    val probed = src
      .filter(col("cell").isin(model.probedCells(q, nprobe).map(Integer.valueOf): _*))
      .crossJoin(probes)
      .select(col(idCol), round(Similarity.cosine(col(vecCol), col("__qv")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
    Similarity.neverShort(probed, src, idCol, vecCol, query, queryVecCol, k)
  }
}
