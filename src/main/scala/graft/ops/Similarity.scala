package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Embedding similarity search (SURVEY.md §2 C14 + north-star ANN):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH path for scale (bucketed candidate generation instead of a full
  * scan per query / O(n²) pair space).
  *
  * Arithmetic is all `functions._` (`zip_with` + `aggregate` in double),
  * kept inside whole-stage codegen — no UDF boxing per element.
  */
object Similarity {

  /** Dot product of two array columns, accumulated in double — a native
    * codegen Expression ([[graft.functions.VecDot]]); HOF `aggregate(
    * zip_with(...))` evaluates lambdas interpretively per element and was
    * the similarity family's bottleneck. */
  def dot(a: Column, b: Column): Column = graft.functions.VecFunctions.vecDot(a, b)

  /** One-pass cosine ([[graft.functions.CosineSim]]). */
  def cosine(a: Column, b: Column): Column = graft.functions.VecFunctions.cosineSim(a, b)

  /** Exact brute-force cosine top-k against one query vector.
    *
    * The query row is a 1-row broadcast (no shuffle); scoring is a
    * map-side projection over the corpus; `orderBy(...).limit(k)` plans as
    * `TakeOrderedAndProject` — per-partition top-k heaps + driver merge,
    * never a global sort. That plan shape is exactly what survives a
    * 1000-executor scan of a 100 TB corpus.
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     query: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    val q = broadcast(query.select(col(queryVecCol).as("__qv")))
    emb
      .crossJoin(q)
      .select(col(idCol), round(cosine(col(vecCol), col("__qv")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Exact cosine RANGE search (FAISS `range_search`): every corpus row
    * with rounded cosine ≥ `tau` against one query vector. Same
    * broadcast-query + map-side-projection shape as [[bruteForceTopK]],
    * but range semantics have no k — the result is the full qualifying
    * set, and an empty set is a valid answer (no never-short fallback:
    * that contract belongs to top-k, where "nothing" is never right).
    * The (sim desc, id) ordering exists for deterministic output (the
    * repo's oracle contract); a 100 TB caller that doesn't need a total
    * order should drop it — it is the one data-sized sort here, though
    * it only sorts the ≥ tau survivors, not the corpus. The ANN serve
    * counterpart is [[graft.streaming.Streaming.annProbeStream]]'s
    * ≥ tau tagging — the same plan batch or stream — whose recall is
    * the probed-cell recall, exact within probed cells. */
  def rangeSearch(emb: DataFrame, idCol: String, vecCol: String,
                  query: DataFrame, queryVecCol: String,
                  tau: Double): DataFrame = {
    // single-query guard, the probeIndexFrame posture: the output has no
    // query_id column, so a multi-row frame would silently cross-score
    // and emit duplicated, unattributed ids. Batch range callers use
    // annProbeStream's plan on a batch frame (it carries query_id).
    require(query.take(2).length == 1,
      "rangeSearch is single-query (the result carries no query_id) — " +
        "batch/stream callers use Streaming.annProbeStream, whose " +
        "(query_id, id, sim) output is the batch range shape")
    val q = broadcast(query.select(col(queryVecCol).as("__qv")))
    emb
      .crossJoin(q)
      .select(col(idCol), round(cosine(col(vecCol), col("__qv")), 4).as("sim"))
      .filter(col("sim") >= tau)
      .orderBy(col("sim").desc, col(idCol))
  }

  /** Reciprocal rank fusion (Cormack, Clarke & Buettcher, SIGIR'09):
    * fuse N ranked candidate lists into one ranking by
    * score(d) = Σ_lists 1/(rrfK + rank_list(d)) — the standard hybrid
    * retrieval combiner (e.g. BM25 lexical + dense ANN), robust to
    * incomparable score scales because only RANKS enter the sum.
    *
    * Each input is (frame, idCol, scoreCol); ranks are assigned here
    * over the (score desc, id) total order so fusion is deterministic
    * even under score ties. Each contribution is rounded to 12 dp and
    * summed through DECIMAL(18,12), so the fused score is independent
    * of both list order and float summation order — N lists, not just
    * the commutative-pair case.
    *
    * Scale shape: input lists are top-k-bounded by their producers (the
    * expensive corpus scans live — and are measured — there), and that
    * contract is ENFORCED, not assumed: each list
    * collects to the driver under a `maxListSize` require — the
    * [[mmrRerank]] / neverShort local-relation posture (finding 21) —
    * and fusion is O(Σk log k) driver arithmetic. A caller feeding a
    * corpus-sized frame gets an error, never a corpus-sized
    * single-partition window. Contributions compute as double division
    * rounded HALF_UP to 12 dp and sum through exact decimals — the same
    * arithmetic the previous in-plan DECIMAL(18,12) form ran, so the
    * fused score is independent of list order and summation order. */
  def rrfFuse(lists: Seq[(DataFrame, String, String)], rrfK: Int = 60,
              topK: Int = 10, maxListSize: Int = 10000): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    import java.math.{BigDecimal => JBig, RoundingMode}
    // Rank rows exactly as the previous in-plan `orderBy(score desc, id)`
    // (= SQL semantics, matching the oracle): NaN is the LARGEST double
    // (first under desc), nulls sort last, and -0.0 ties 0.0 (Scala's
    // total Double order disagrees on all three). Boxed scores keep null
    // observable instead of NPEing.
    def before(a: (Long, java.lang.Double), b: (Long, java.lang.Double)): Boolean =
      (a._2, b._2) match {
        case (null, null) => a._1 < b._1
        case (null, _)    => false // nulls last
        case (_, null)    => true
        case (x, y) =>
          val xv = x.doubleValue; val yv = y.doubleValue
          if (xv.isNaN && yv.isNaN) a._1 < b._1
          else if (xv.isNaN) true  // NaN = largest, first under desc
          else if (yv.isNaN) false
          else if (xv == yv) a._1 < b._1 // primitive ==: -0.0 ties 0.0
          else xv > yv
      }
    val contrib = scala.collection.mutable.HashMap.empty[Long, JBig]
    lists.foreach { case (df, idCol, scoreCol) =>
      // take(max + 1), never collect(): the guard must fire BEFORE a
      // contract-breaking corpus-sized frame materializes on the driver
      val rows = df.select(col(idCol).cast("long"), col(scoreCol).cast("double"))
        .take(maxListSize + 1)
      require(rows.length <= maxListSize,
        s"rrfFuse got a list over $maxListSize rows: feed " +
          "top-k-bounded lists, not corpus-sized frames")
      // A null id (e.g. a non-numeric string id that casts to null) has no
      // identity to fuse on — reject it loudly instead of NPEing on
      // getLong. Note the tie-break runs over the CASTED long, so string
      // ids tie-break numerically, not lexically.
      require(rows.forall(r => !r.isNullAt(0)),
        s"rrfFuse: null id in list (idCol=$idCol) — ids must cast to " +
          "non-null long")
      rows.map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))))
        .sortWith(before)
        .zipWithIndex.foreach { case ((id, _), i) =>
          val c = JBig.valueOf(1.0 / (rrfK + i + 1))
            .setScale(12, RoundingMode.HALF_UP)
          contrib(id) = contrib.getOrElse(id, JBig.ZERO).add(c)
        }
    }
    val out = contrib.toSeq
      .map { case (id, c) =>
        (id, c.setScale(6, RoundingMode.HALF_UP).doubleValue) }
      .sortBy { case (id, s) => (-s, id) }
      .take(topK)
    val spark = lists.head._1.sparkSession
    import spark.implicits._
    out.toDF("id", "rrf")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98): greedily select k results maximizing
    * λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s) — relevance traded
    * against redundancy with what's already picked, the standard
    * diversification pass over a retrieval candidate list (near-dup
    * answers crowd out coverage otherwise).
    *
    * MMR is inherently sequential (step i needs the step-i−1 selection),
    * so this runs on the DRIVER over the collected candidate list — the
    * [[neverShort]] local-relation posture, legitimate because the input
    * is top-c-bounded by its producer (the corpus-sized scan lives
    * there, measured separately). `maxCandidates` enforces that contract
    * instead of assuming it: a caller feeding a corpus-sized frame gets
    * an error, not a driver OOM. Selection is deterministic: scores in
    * scala Double with (marginal desc, id asc) tie-break.
    *
    * Returns (id, rank 1..k, mmr = the marginal score at selection,
    * rounded 6 dp) as a local relation ordered by rank. */
  def mmrRerank(candidates: DataFrame, idCol: String, relCol: String,
                vecCol: String, lambda: Double = 0.7, k: Int = 10,
                maxCandidates: Int = 10000): DataFrame = {
    require(lambda >= 0 && lambda <= 1, s"lambda $lambda outside [0,1]")
    // cast the vector column: candidate frames arrive as array<float>
    // (raw embeddings) or array<double> (derived vectors) — a fixed
    // getSeq[Float] would ClassCastException on the latter
    // take(maxCandidates + 1), never collect(): the guard must fire
    // BEFORE a contract-breaking corpus-sized frame materializes on the
    // driver (finding 21 posture, same as rrfFuse's gate).
    val rows = candidates.select(col(idCol).cast("long"),
      col(relCol).cast("double"), col(vecCol).cast("array<double>"))
      .take(maxCandidates + 1)
    require(rows.length <= maxCandidates,
      s"MMR got over $maxCandidates candidates: feed a " +
        "top-k-bounded list, not a corpus-sized frame")
    case class Cand(id: Long, rel: Double, vec: Array[Double], norm: Double)
    val pool = scala.collection.mutable.ArrayBuffer(rows.map { r =>
      val v = r.getSeq[Double](2).toArray
      Cand(r.getLong(0), r.getDouble(1), v,
        math.sqrt(v.map(x => x * x).sum))
    }: _*)
    def cos(a: Cand, b: Cand): Double = {
      var s = 0.0; var i = 0
      while (i < a.vec.length) { s += a.vec(i) * b.vec(i); i += 1 }
      if (a.norm == 0 || b.norm == 0) 0.0 else s / (a.norm * b.norm)
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Cand, Double)]
    while (selected.length < math.min(k, rows.length)) {
      val best = pool.map { c =>
        // redundancy quantized to 4 dp with DuckDB's OWN primitive —
        // half-away on fl(x·10⁴) (validated bit-identical to duckdb
        // round(x,4) over 400k random + midpoint doubles; a
        // shortest-decimal BigDecimal round differs on midpoint
        // straddlers like 0.26115 → 0.2612 vs 0.2611). Quantized AFTER
        // the max (round is monotone, max∘round == round∘max, matching
        // the oracle's per-pair pc rounding); with 4-dp rel and 4-dp
        // redundancy the marginal is a three-op IEEE expression, so the
        // unrolled SQL oracle replays the greedy chain bit-identically —
        // a single flipped round here would reseed every later argmax
        val redundancy =
          if (selected.isEmpty) 0.0
          else {
            val s = selected.map { case (sel, _) => cos(c, sel) }.max * 1e4
            (if (s >= 0) math.floor(s + 0.5) else math.ceil(s - 0.5)) / 1e4
          }
        (c, lambda * c.rel - (1 - lambda) * redundancy)
      }.minBy { case (c, m) => (-m, c.id) }
      selected += best
      pool -= best._1
    }
    val out = selected.zipWithIndex.map { case ((c, m), i) =>
      (c.id, i + 1, BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq
    val s = candidates.sparkSession
    import s.implicits._
    out.toDF(idCol, "rank", "mmr")
  }

  /** Corpus-sized hyperplane count (PERF.md finding 17): random bucket
    * collisions ≈ tables · C(n,2) / 2^planes, so planes must track
    * log₂(n) to keep the noise term LINEAR in corpus size — at a fixed
    * 16 planes, ScaleBench measured candidates growing quadratically
    * (244 → 161k over 25× vectors). log₂(n) + 4 puts expected random
    * collisions at ~tables · n / 32. Floor 16 = the historical default. */
  def planesFor(corpusSize: Long): Int =
    math.max(16, (math.log(math.max(corpusSize, 1).toDouble) / math.log(2)).ceil.toInt + 4)

  /** Deterministic random hyperplanes: `tables` independent LSH tables of
    * `planesPerTable` planes each (seeded driver-side constants). */
  private[ops] def hyperplanes(tables: Int, planesPerTable: Int, dim: Int,
                               seed: Long): Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(tables)(Seq.fill(planesPerTable)(Seq.fill(dim)(rnd.nextGaussian())))
  }

  /** The full per-table bucket ARRAY for one vector under the seeded
    * hyperplanes — the signature primitive [[lshIndex]] posexplodes,
    * exposed whole for consumers that need all tables' buckets on one
    * row (the streaming LSH probe keeps it riding to dedup candidates
    * statelessly by first colliding table). NULL vector ⇒ NULL array. */
  private[graft] def bucketsColumn(vec: Column, tables: Int, planes: Int,
                                   dim: Int, seed: Long): Column =
    graft.functions.HyperplaneBuckets.buckets(vec,
      hyperplanes(tables, planes, dim, seed).flatten.flatten.toArray,
      tables, planes, dim)

  /** The MULTI-PROBE signature array for one vector — per table the
    * exact bucket plus the `extra` lowest-|margin| single-bit flips,
    * flat with stride `1 + min(extra, planes)`; element `e` belongs to
    * table `e / stride` ([[graft.functions.HyperplaneBucketsMulti]]).
    * The in-plan lever the batch and streaming probes use; the
    * single-query serve probe keeps the strictly-richer driver
    * perturbation heap ([[perturbationSets]]). NULL vector ⇒ NULL
    * array. */
  private[graft] def bucketsMultiColumn(vec: Column, tables: Int, planes: Int,
                                        dim: Int, seed: Long,
                                        extra: Int): Column =
    graft.functions.HyperplaneBucketsMulti.buckets(vec,
      hyperplanes(tables, planes, dim, seed).flatten.flatten.toArray,
      tables, planes, dim, extra)

  /** (id, table, bucket) index for the corpus — the shuffle key for all
    * LSH joins. Near-identical vectors collide in at least one table with
    * high probability; unrelated vectors spread over 2^planes buckets.
    * All tables' signatures come from ONE pass over the vector
    * ([[graft.functions.HyperplaneBuckets]]); posexplode yields the table
    * index. */
  def lshIndex(emb: DataFrame, idCol: String, vecCol: String,
               tables: Int = 4, planesPerTable: Int = 12,
               dim: Int = 64, seed: Long = 42L): DataFrame = {
    val b = bucketsColumn(col(vecCol), tables, planesPerTable, dim, seed)
    emb.select(col(idCol), col(vecCol), posexplode(b).as(Seq("table", "bucket")))
  }

  /** ANN self-join: candidate pairs that share an LSH bucket in any table,
    * scored with exact cosine. Pair generation is an equi-join on
    * (table, bucket) — near-linear in corpus size — instead of the O(n²)
    * exact pair space.
    *
    * SIZING `planesPerTable` (PERF.md finding 17, measured): random
    * collisions ≈ tables · C(n,2) / 2^planes, a QUADRATIC term that
    * swamps the linear true-pair count once n approaches 2^planes.
    * Keep planes ≈ log₂(n) + 4 so noise stays linear in n; if recall
    * dips below the ≥0.8 gate, add a table per +2 planes rather than
    * shrinking planes. The 16-plane default is sized for ~10⁵ vectors. */
  def lshCandidatePairs(emb: DataFrame, idCol: String, vecCol: String,
                        planesPerTable: Int = 16, tables: Int = 4,
                        dim: Int = 64, seed: Long = 42L): DataFrame = {
    // id-ONLY bucket join and candidate dedup, vectors joined back per
    // surviving pair (mirrors the jaccard join-back shape,
    // Dedup.jaccardNearDup): a 64-float vector is ~512 bytes vs an 8-byte
    // id, so carrying vec_a/vec_b through the (table,bucket) self-join AND
    // the dropDuplicates exchange multiplied pair-shuffle volume ~30×
    // on this path (measured in a full-session A/B).
    val idx = lshIndex(emb, idCol, vecCol, tables, planesPerTable, dim, seed)
      .select(col("table"), col("bucket"), col(idCol))
    val l = idx.select(col("table"), col("bucket"), col(idCol).as("id_a"))
    val r = idx.select(col("table"), col("bucket"), col(idCol).as("id_b"))
    val cand = l.join(r, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val va = emb.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val vb = emb.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("vec_a"), col("vec_b")), 4).as("cosine"))
  }

  /** [[lshCandidatePairs]] with the plane count sized from the actual
    * corpus via [[planesFor]] (one count() action — the same
    * measure-don't-assume pattern as the broadcast gates and
    * [[Dedup.semanticDedupSized]]), plus the recall compensation the
    * finding-17 rule prescribes: one extra table per +2 planes over the
    * 16-plane base, so collision probability per true pair is restored
    * while random collisions stay exponentially suppressed. Prefer this
    * entry point on corpora of unknown size. */
  def lshCandidatePairsSized(emb: DataFrame, idCol: String, vecCol: String,
                             baseTables: Int = 4, dim: Int = 64,
                             seed: Long = 42L): DataFrame = {
    val planes = planesFor(emb.count())
    val tables = baseTables + math.max(0, (planes - 16) / 2)
    lshCandidatePairs(emb, idCol, vecCol, planes, tables, dim, seed)
  }

  /** Exact BATCHED top-k: every query in `queries` against the corpus in
    * one pass — the realistic search shape (a probe batch, not a single
    * vector). The query set broadcasts (small by contract: it is a probe
    * batch, not a second corpus); scoring is a map-side broadcast
    * nested-loop projection — |queries|·n scored rows, the corpus never
    * shuffles for scoring — and the per-query `rank ≤ k` filter plans as
    * WindowGroupLimit (partial per-partition group limits run BEFORE the
    * rank exchange, so each partition forwards at most k rows per query —
    * the batched analog of TakeOrderedAndProject; plan pinned in
    * SimilaritySpec). Returns (query_id, idCol, sim, rnk). */
  def bruteForceTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
                          queries: DataFrame, qIdCol: String, qVecCol: String,
                          k: Int): DataFrame = {
    val q = broadcast(queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv")))
    emb.crossJoin(q)
      .select(col("query_id"), col(idCol),
        round(cosine(col(vecCol), col("__qv")), 4).as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col(idCol))))
      .filter(col("rnk") <= k)
  }

  /** Batched LSH probe at the occupancy sizing ([[probePlanesFor]]), with
    * a PER-QUERY exact fallback: the corpus is indexed once, every
    * query's buckets probe it through one broadcast join, and any query
    * whose candidate set came back short of k is re-answered by
    * [[bruteForceTopKBatch]] — per query, not per batch, so one
    * hard-to-hash query doesn't force an exact scan for the rest. The
    * fallback gate aggregates the ≤ |queries|·k probe result and the
    * query frame — never the corpus. Same guarantee as [[lshTopKSized]]:
    * recall degrades, the answer is never empty. */
  def lshTopKBatchSized(emb: DataFrame, idCol: String, vecCol: String,
                        queries: DataFrame, qIdCol: String, qVecCol: String,
                        k: Int, baseTables: Int = 8, dim: Int = 64,
                        seed: Long = 42L): DataFrame = {
    val planes = probePlanesFor(emb.count())
    val tables = probeTablesFor(planes, baseTables)
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))
    val qIdx = broadcast(lshIndex(q, "query_id", "__qv", tables, planes, dim, seed))
    val scored = lshIndex(emb, idCol, vecCol, tables, planes, dim, seed)
      .join(qIdx.select(col("table"), col("bucket"), col("query_id"), col("__qv")),
        Seq("table", "bucket"))
      .dropDuplicates("query_id", idCol)
      .select(col("query_id"), col(idCol),
        round(cosine(col(vecCol), col("__qv")), 4).as("sim"))
    finishBatchTopK(scored, emb, idCol, vecCol, q, k)
  }

  /** Shared tail of every batched ANN path (LSH probe above, IVF
    * [[Ivf.topKBatch]]/[[Ivf.topKBatchResidual]]): rank the scored
    * candidates per query (WindowGroupLimit), materialize the
    * ≤ |queries|·k result once (it feeds the fallback gate AND the
    * returned frame), and re-answer deficient queries exactly — PER
    * QUERY, so one hard-to-hash query doesn't force an exact scan for
    * the rest. The gate aggregates the ranked probe result and the query
    * frame, never the corpus. `scored` must carry (query_id, idCol,
    * sim); `q` must carry (query_id, __qv). */
  private[ops] def finishBatchTopK(scored: DataFrame, emb: DataFrame,
                                   idCol: String, vecCol: String,
                                   q: DataFrame, k: Int): DataFrame = {
    val probed = scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col(idCol))))
      .filter(col("rnk") <= k)
      .localCheckpoint(true)
    val healthy = probed.groupBy("query_id").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= k).select("query_id")
    val deficient = q.join(healthy, Seq("query_id"), "left_anti").localCheckpoint(true)
    if (deficient.count() == 0L) probed
    else probed
      .join(broadcast(deficient.select("query_id")), Seq("query_id"), "left_anti")
      .unionAll(bruteForceTopKBatch(emb, idCol, vecCol,
        deficient, "query_id", "__qv", k))
      // MATERIALIZED like the healthy branch (review r16): a lazy
      // exact-scan tail over the index files would execute at the
      // CALLER, outside the serve probes' retry + same-world fence —
      // failing on a stale listing or mixing checkpointed old-world
      // candidates with new-world exact rows. Bounded: ≤ |queries|·k.
      .localCheckpoint(true)
  }

  /** The never-short gate every single-query ANN path shares (topK /
    * topKResidual / lshTopKSized): the probe result is ≤ k rows BY
    * CONSTRUCTION (it ends in `limit(k)`), so materialize it as a LOCAL
    * relation — one collect job of ≤ k rows, strictly cheaper than the
    * earlier eager localCheckpoint + count pair (finding 21: that
    * gate cost ~0.5 s per registered IVF query at toy scale; a k-row
    * collect is the same class of driver traffic as the preview path,
    * bounded by k, never by data). Gate decision:
    *   - probe holds k rows → it IS the answer;
    *   - probe short but it already scored every corpus vector (corpus
    *     smaller than k would be scanned twice otherwise) → the exact
    *     scan would re-answer identically, return the probe;
    *   - otherwise → exact scan. Recall degrades; the answer is never
    *     empty (the never-short contract). The corpus count() is paid ONLY on the
    *     already-failing branch.
    * `emb` is taken by name and built at most once, on that branch: a
    * serve probe that reads only its probed cells never lists the rest
    * of the index unless it comes up short. */
  private[ops] def neverShort(probe: DataFrame, emb: => DataFrame,
                              idCol: String, vecCol: String,
                              query: DataFrame, queryVecCol: String,
                              k: Int): DataFrame = {
    val rows = probe.collect()
    lazy val corpus = emb
    def local(r: Array[org.apache.spark.sql.Row], schema: org.apache.spark.sql.types.StructType) =
      probe.sparkSession.createDataFrame(java.util.Arrays.asList(r: _*), schema)
    if (rows.length >= k || corpus.count() <= rows.length) local(rows, probe.schema)
    else {
      // the fallback is ≤ k rows too (bruteForceTopK ends in limit(k)):
      // materialize it as a local relation as well, so the WHOLE probe
      // executes inside the call — the serve probes' stale-file retry
      // (IndexLifecycle.retryOnStaleFiles) can then cover every scan,
      // instead of leaving a lazy fallback tail to fail at the caller
      val fb = bruteForceTopK(corpus, idCol, vecCol, query, queryVecCol, k)
      local(fb.collect(), fb.schema)
    }
  }

  /** Table compensation for occupancy-sized probes: one extra table per
    * plane over the floor restores per-table recall decay as planes grow.
    * Shared by [[lshTopKSized]] / [[lshTopKBatchSized]] and the
    * ScaleBench probe audits (review round 8: a hand-copied formula in
    * the audit can silently diverge from the code it claims to
    * measure). */
  def probeTablesFor(planes: Int, baseTables: Int = 8): Int =
    baseTables + math.max(0, planes - 4)

  /** Occupancy-sized PROBE plane count — deliberately NOT [[planesFor]].
    * A probe wants each bucket to hold ~`targetBucketSize` corpus vectors
    * (planes = ⌈log₂(n / target)⌉), so the per-query scanned set is
    * tables·target — CONSTANT in n — while a true neighbor at angle θ
    * still collides with probability (1 − θ/π)^planes per table. The
    * pair-path rule (log₂(n) + 4 planes) is wrong for search: it drives
    * that probability to ~0 for moderate-cosine neighbors, because a pair
    * join has n chances per bucket to collide while a probe has exactly
    * one query bucket per table — pair-rule sizing starved probe buckets
    * into empty answers (PERF.md finding 19). Floor 4 keeps tiny corpora
    * from degenerating to one bucket. */
  def probePlanesFor(corpusSize: Long, targetBucketSize: Int = 64): Int =
    math.max(4, (math.log(math.max(corpusSize, 1).toDouble /
      targetBucketSize) / math.log(2)).ceil.toInt)

  /** Occupancy-sized multi-probe count — the last ANN lever with no
    * sized policy (r14 verdict #3: [[planesFor]]/[[probePlanesFor]]/
    * [[Dedup.cellsFor]] size everything else; a candidate-volume
    * hyperparameter is corpus-sized, never fixed).
    *
    * The target is a fixed expected candidate BUDGET (a count), not a
    * corpus fraction: a fraction target makes per-query probe cost grow
    * linearly in n — the exact regression [[probePlanesFor]]'s
    * constant-scan rule exists to prevent (finding 19) — while a budget
    * keeps the scanned set ~constant as the corpus and its bucket
    * occupancy move. Expected candidates at q extra probes per table are
    * `tables · (1+q) · occupancy` with occupancy = live/2^planes, so
    * q+1 = budget / (tables · occupancy), clamped to [1, planes+1]:
    * the in-plan form ([[graft.functions.HyperplaneBucketsMulti]]) emits
    * single-bit flips, of which a table has exactly `planes`, and the
    * driver heap stays clamped identically so the two forms keep their
    * bit-for-bit parity contract.
    *
    * Drift behavior is the point: appends grow occupancy under a frozen
    * sizing, so the sized q SHRINKS to hold the candidate volume at the
    * budget — multi-probe recall then degrades toward single-probe,
    * which [[IndexLifecycle.indexStats]]' appended_fraction already
    * flags for rebuild (finding 29); q never silently re-inflates the
    * probe cost. Default budget 4096 = 8× the single-probe volume at
    * the build sizing (tables ≈ 8–15, occupancy ≤ 64): q lands at the
    * 4–8 range the recall measurements used at sf0.1 and stays there
    * across rungs (LifecycleSweep row). */
  def multiProbeForSized(liveRows: Long, planes: Int, tables: Int,
                         targetCandidates: Int = 4096): Int = {
    val occupancy = math.max(1.0,
      math.max(liveRows, 1L).toDouble / (1L << math.min(planes, 62)))
    val q = math.ceil(targetCandidates.toDouble /
      (tables.toDouble * occupancy)).toInt - 1
    math.min(math.max(q, 0), planes)
  }

  /** [[multiProbeForSized]] against a built index dir: planes/tables from
    * the persisted sizing (`meta.parquet`), live rows from the vectors
    * side. The count is a zero-column parquet scan (row-group metadata
    * only — no vector bytes decode), one tiny job per probe call; the
    * tombstone backlog is compaction-bounded and deliberately ignored
    * here (it moves occupancy by O(backlog/live)). */
  def multiProbeFor(spark: org.apache.spark.sql.SparkSession, root: String,
                    targetCandidates: Int = 4096): Int = {
    val dir = IndexLifecycle.resolveIndexDir(spark, root)
    val meta = Tables.parquet(spark, s"$dir/meta.parquet").head()
    val live = Tables.parquet(spark, s"$dir/vectors.parquet").count()
    multiProbeForSized(live, meta.getAs[Int]("planes"),
      meta.getAs[Int]("tables"), targetCandidates)
  }

  /** Materialize the occupancy-sized LSH index at `dir` — the LSH arm of
    * the build-once/serve-many split ([[Ivf.buildIndex]] /
    * [[Quantize.buildPqIndex]]): hyperplane LSH has NO training, so the
    * only corpus-sized cost is the signature projection itself, paid
    * here exactly once. Layout: the sizing params persist in
    * `meta.parquet` (probes must recompute the SAME seeded hyperplanes),
    * and the (table, bucket, id, vec) rows write RANGE-partitioned +
    * sorted by (table, bucket) — 2^planes buckets are far too many for
    * cell-style directories, so bucket pruning rides parquet row-group
    * min/max statistics instead (the scan analog of the IVF partition
    * pruning, pinned in SimilaritySpec). */
  def buildLshIndex(emb: DataFrame, idCol: String, vecCol: String,
                    dir: String, baseTables: Int = 8, dim: Int = 64,
                    seed: Long = 42L): Unit =
    IndexLifecycle.buildGeneration(emb.sparkSession, dir, "buildLshIndex")(gen =>
      writeLshIndex(emb, idCol, vecCol, gen, baseTables, dim, seed))

  /** Size and write the LSH artifacts into the fresh generation dir
    * `gen` — [[buildLshIndex]]'s body, and
    * [[IndexLifecycle.rebuildIndex]]'s for this layout
    * ([[Ivf.writeIndex]]'s new-world rule). */
  private[ops] def writeLshIndex(emb: DataFrame, idCol: String, vecCol: String,
                                 gen: String, baseTables: Int, dim: Int,
                                 seed: Long): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val n = emb.count()
    val planes = probePlanesFor(n)
    val tables = probeTablesFor(planes, baseTables)
    Seq((planes, tables, dim, seed))
      .toDF("planes", "tables", "dim", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$gen/meta.parquet")
    // vectors persist ONCE; postings carry (table, bucket, id) only —
    // the finding-22 rule (bucket structures ship ids, never payloads):
    // an lshIndex row exists PER TABLE, so writing vectors through it
    // would store and shuffle the corpus `tables`× (8–15× at probe
    // sizing). The corpus is scanned once into vectors.parquet and the
    // signature pass reads that back — never the source twice.
    emb.select(col(idCol), col(vecCol))
      .write.mode("overwrite").parquet(s"$gen/vectors.parquet")
    val src = Tables.parquet(spark, s"$gen/vectors.parquet")
    lshIndex(src, idCol, vecCol, tables, planes, dim, seed)
      .select(col("table"), col("bucket"), col(idCol))
      .repartitionByRange(col("table"), col("bucket"))
      .sortWithinPartitions("table", "bucket")
      .write.mode("overwrite").parquet(s"$gen/postings.parquet")
    // base_tables is the one sizing input meta.parquet does not carry
    // (planes/tables are its DERIVED outputs): a rebuild re-runs the
    // occupancy sizing from the live count and needs the original request
    Ivf.writeBuildInfo(spark, gen, n, Seq("base_tables" -> baseTables))
  }

  /** Append new vectors to a built LSH index without resizing
    * ([[Ivf.appendIndex]]'s lifecycle semantics): signatures come from
    * the PERSISTED sizing (planes/tables/seed — recomputing them from
    * the grown corpus would silently shear old and new rows into
    * different bucket spaces), postings and vectors append in place
    * (the appended postings batch is range-sorted like the build's, so
    * its own row groups prune), and probes serve the union immediately.
    * Bucket occupancy grows past the build-time target until the caller
    * rebuilds — the LSH analog of coarse-quantizer drift under
    * [[Quantize.appendPqIndex]], and the same rebuild-policy decision.
    * The append batch is evaluated up to four times (postings write,
    * vectors write, and the un-delete's intersect check + rewrite) —
    * batches are increment-sized; a corpus-scale append is a rebuild. */
  def appendLshIndex(emb: DataFrame, idCol: String, vecCol: String,
                     dir: String): Unit =
  IndexLifecycle.withIndexLock(emb.sparkSession, dir, "appendLshIndex") {
    val spark = emb.sparkSession
    // appends land INSIDE the live generation (Ivf.appendIndex's
    // rationale; the committer caveat on IndexLifecycle's
    // generation-root intro applies)
    val phys = IndexLifecycle.resolveIndexDir(spark, dir)
    val meta = Tables.parquet(spark, s"$phys/meta.parquet").head()
    val (planes, tables, dim, seed) =
      (meta.getAs[Int]("planes"), meta.getAs[Int]("tables"),
        meta.getAs[Int]("dim"), meta.getAs[Long]("seed"))
    val batch = emb.select(col(idCol), col(vecCol))
    val posted = lshIndex(batch, idCol, vecCol, tables, planes, dim, seed)
      .select(col("table"), col("bucket"), col(idCol))
      .repartitionByRange(col("table"), col("bucket"))
      .sortWithinPartitions("table", "bucket")
    // POSTINGS FIRST, and a zombie-append fence before each write
    // (Ivf.appendIndex's rule). Order matters for what an interrupted
    // append (crash, or a fence abort after takeover) leaves behind:
    // orphan postings rows are invisible — every probe path drops a
    // posting id with no vector row at the postings⋈vectors join, the
    // same already-embraced semantics as the stale postings tombstoned
    // removal leaves ("stale hits just match nothing"), and a retried
    // append only re-duplicates postings, which candidate dedup
    // absorbs. The REVERSE order would strand fallback-visible vectors
    // without postings: the exact-scan fallback, indexStats, and
    // rebuildIndex all read vectors.parquet, so bucketed probes and
    // the fallback would answer from different corpora, and a retry
    // would bake duplicate vector rows into every later rebuild.
    IndexLifecycle.requireLeaseStillHeld(spark, "postings append")
    posted.write.mode("append").parquet(s"$phys/postings.parquet")
    IndexLifecycle.requireLeaseStillHeld(spark, "vectors append")
    batch.write.mode("append").parquet(s"$phys/vectors.parquet")
    // re-insert contract: appending an id that was tombstoned by
    // IndexLifecycle.removeIds un-deletes it — without this the append
    // would land physically but lshVectors would keep filtering it out
    // until compaction. All the guard-interaction rules (rewrite only
    // when the batch intersects the set; a generation flip) live in
    // the ONE shared implementation — this used to be an inlined copy
    // that could silently diverge from the cell layouts' (ADVICE r18).
    IndexLifecycle.undeleteTombstones(spark, phys, batch.select(col(idCol)), idCol)
  }

  /** Driver-side single-vector replica of
    * [[graft.functions.HyperplaneBuckets]]: per-table packed bucket plus
    * the raw per-plane margins (the dot products whose signs ARE the
    * bucket bits). Bit-for-bit the codegen expression's arithmetic —
    * same seeded planes, same ascending accumulation, same `> 0` rule,
    * same min(dim, len) clamp (spec-pinned) — so a driver-computed
    * bucket always matches what the build wrote. One vector only: the
    * corpus-side signature pass stays the codegen expression. */
  private[graft] def bucketsAndMarginsLocal(vec: Array[Double], tables: Int,
                                          planes: Int, dim: Int,
                                          seed: Long): (Array[Int], Array[Array[Double]]) = {
    val flat = hyperplanes(tables, planes, dim, seed).flatten.flatten.toArray
    val m = math.min(dim, vec.length)
    val buckets = new Array[Int](tables)
    val margins = Array.ofDim[Double](tables, planes)
    var t = 0
    while (t < tables) {
      var bucket = 0
      var p = 0
      while (p < planes) {
        val base = (t * planes + p) * dim
        var s = 0.0
        var i = 0
        while (i < m) { s += vec(i) * flat(base + i); i += 1 }
        if (s > 0) bucket |= (1 << p)
        margins(t)(p) = s
        p += 1
      }
      buckets(t) = bucket
      t += 1
    }
    (buckets, margins)
  }

  /** The `count` lowest-cost non-empty perturbation sets by total
    * |margin| (Lv et al., "Multi-probe LSH", VLDB'07 §4.2): a query
    * whose dot product with a hyperplane is near zero sits near that
    * boundary, so flipping that bit probes the bucket a near neighbor
    * most likely fell into. Heap expansion over margins sorted
    * ascending — each popped set spawns its shift (max element moved up)
    * and expand (next element added) successors, generating subsets in
    * nondecreasing cost without enumerating 2^planes. Returns ORIGINAL
    * plane indices. */
  private[graft] def perturbationSets(absMargins: Array[Double],
                                    count: Int): Seq[Seq[Int]] = {
    if (count <= 0 || absMargins.isEmpty) return Nil
    val order = absMargins.zipWithIndex.sortBy(_._1).map(_._2)
    val sorted = order.map(absMargins)
    val nPlanes = sorted.length
    // set = positions into `sorted`, head = max position
    final case class Node(cost: Double, set: List[Int])
    val pq = scala.collection.mutable.PriorityQueue(
      Node(sorted(0), List(0)))(Ordering.by(n => -n.cost))
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    while (out.length < count && pq.nonEmpty) {
      val n = pq.dequeue()
      out += n.set.map(order)
      val m = n.set.head
      if (m + 1 < nPlanes) {
        pq.enqueue(Node(n.cost - sorted(m) + sorted(m + 1), (m + 1) :: n.set.tail))
        pq.enqueue(Node(n.cost + sorted(m + 1), (m + 1) :: n.set))
      }
    }
    out.toSeq
  }

  /** The LSH index's vectors side with [[IndexLifecycle.removeIds]]
    * tombstones served out — shared by [[probeLshIndex]] and the
    * streaming probe ([[graft.streaming.Streaming.annProbeStream]]'s
    * LSH arm). Filtering VECTORS alone suffices: candidate recovery,
    * the ranking crossJoin, and the never-short exact fallback all read
    * this frame, so a tombstoned id can surface nowhere (stale postings
    * rows just match nothing until [[IndexLifecycle.compactIndex]]
    * drops them). Count-gated like every bounded structure: the
    * tombstone set broadcasts under the gate, anti-joins SHUFFLE_HASH
    * past it — its size is bounded by the compaction cadence, not
    * assumed small. */
  private[graft] def lshVectors(spark: org.apache.spark.sql.SparkSession,
                                dir: String, idCol: String,
                                deleteBroadcastLimit: Long =
                                  Dedup.HotShingleBroadcastLimit): DataFrame = {
    IndexLifecycle.minusTombstones(spark, dir,
      Tables.parquet(spark, s"$dir/vectors.parquet"), idCol,
      deleteBroadcastLimit)
  }

  /** FAISS `IDSelector` analog for the serve probes (per-tenant /
    * allowlist filtered search — the RAG "only this tenant's documents"
    * shape): restrict `table` to the ids in `selector` via a
    * count-gated semi-join (broadcast under the gate, SHUFFLE_HASH past
    * it — a tenant's allowlist is NOT small by construction). Applied
    * to the VECTORS/CODES source, the same single-choke-point shape as
    * the [[lshVectors]] tombstone filter: candidate recovery, ranking,
    * and the never-short exact fallback all read the filtered frame, so
    * a disallowed id can surface nowhere AND the fallback's "fewer than
    * k" contract runs over the FILTERED corpus (3 allowed rows at k=10
    * return exactly 3 ranked rows, never fall through to disallowed
    * ones). Selector semantics are query-scoped and transient —
    * permanent removal is [[IndexLifecycle.removeIds]]. */
  private[graft] def applySelector(table: DataFrame,
                                   selector: Option[DataFrame], idCol: String,
                                   broadcastLimit: Long =
                                     Dedup.HotShingleBroadcastLimit): DataFrame =
    selectorFilter(selector, idCol, broadcastLimit)(table)

  /** [[applySelector]] for several frames: the selector's ids
    * materialize and count once, and the returned filter restricts each
    * frame it is applied to. */
  private[ops] def selectorFilter(selector: Option[DataFrame], idCol: String,
                                  broadcastLimit: Long): DataFrame => DataFrame =
    selector.fold[DataFrame => DataFrame](identity) { sel =>
      val ids = sel.select(col(idCol)).distinct().localCheckpoint(true)
      if (ids.count() <= broadcastLimit)
        _.join(broadcast(ids), Seq(idCol), "left_semi")
      else _.join(ids.hint("SHUFFLE_HASH"), Seq(idCol), "left_semi")
    }

  /** A literal In list longer than this stops being a filter and starts
    * being a PLANNING problem: every id becomes a Literal child the
    * analyzer and optimizer walk, and parquet In-pushdown gave up far
    * earlier anyway (threshold 10) — ScaleBench measured the
    * multi-probe serve wall at 7 s where the single probe pays 1.5 s,
    * almost all of it the ~8k-literal In. Past the cap the collected
    * ids ride a LOCAL-relation broadcast semi-join instead: same rows,
    * no giant expression tree, no postings re-scan. */
  private[ops] val InLiteralCap = 1000

  /** Bucket-predicate disjunctions longer than this leave whole-stage
    * codegen (one giant method per deep Or tree) and evaluate
    * interpreted per row — PERF finding 30 measured 8.6 s vs 0.5 s for
    * the same hits via a broadcast (table, bucket) equi-join at 126 pairs
    * (the deleted MpProfile: `git show 2262a09:src/main/scala/graft/tools/MpProfile.scala`).
    * Single-probe pair counts (= tables, ≤ ~15 at any sizing) stay
    * under it and keep the pushed-filter row-group pruning; multi-probe
    * counts (tables × (1 + q)) switch to the join. */
  private[ops] val OrPairCap = 32

  /** Candidate-id recovery shared by the LSH serve probes: the
    * collected-id rows (already ≤ candidateIdLimit + 1, from a take)
    * pick the path — literal In under [[InLiteralCap]], local-relation
    * broadcast semi-join up to `candidateIdLimit`, SHUFFLE_HASH
    * semi-join against the distributed `hits` frame past the gate (the
    * no-small-by-construction rule). */
  private def recoverCandidates(vectors: DataFrame, hits: DataFrame,
                                idRows: Array[org.apache.spark.sql.Row],
                                idCol: String,
                                candidateIdLimit: Long): DataFrame =
    if (idRows.length <= math.min(InLiteralCap.toLong, candidateIdLimit))
      vectors.filter(col(idCol).isin(idRows.map(_.get(0)): _*))
    else if (idRows.length <= candidateIdLimit) {
      val local = vectors.sparkSession.createDataFrame(
        java.util.Arrays.asList(idRows: _*), hits.schema)
      vectors.join(broadcast(local), Seq(idCol), "left_semi")
    } else vectors.join(hits.hint("SHUFFLE_HASH"), Seq(idCol), "left_semi")

  /** The single-query candidate tail [[lshTopK]] and [[probeLshIndex]]
    * share (the [[finishBatchTopK]] of the 1-query paths): dedup ids
    * that collided in several tables, exact cosine against the riding
    * `__qv`, (sim desc, id) top-k. */
  private def rankCandidates(cands: DataFrame, idCol: String,
                             vecCol: String, k: Int): DataFrame =
    cands.dropDuplicates(idCol)
      .select(col(idCol), round(cosine(col(vecCol), col("__qv")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)

  /** Probe a built LSH index: read the persisted sizing, recompute the
    * query's (table, bucket) pairs through the SAME codegen
    * [[graft.functions.HyperplaneBuckets]] expression the build used
    * (ONE 1-row job — its row count is also the single-query guard: a
    * non-null query vector emits exactly `tables` rows, more means a
    * multi-row frame), filter the postings to those pairs (pushed to the
    * parquet scan, pruning (table, bucket)-sorted row groups), recover
    * candidate vectors through a COUNT-GATED id lookup (under
    * `candidateIdLimit`: collected ids push an In filter into the
    * vectors scan; past it: SHUFFLE_HASH semi-join — same rows, the
    * no-small-by-construction rule), exact cosine within, and the
    * never-short exact-scan fallback over vectors.parquet. A NULL query
    * vector hashes to no bucket: the probe surfaces nothing and the
    * exact fallback answers — same contract as [[lshTopKSized]] on the
    * same input. Zero training, zero signature pass — the cost the
    * in-query path pays per call. SINGLE-query; batches against the
    * same dir go through [[probeLshIndexBatch]]. */
  def probeLshIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    idCol: String, vecCol: String,
                    query: DataFrame, queryVecCol: String, k: Int,
                    candidateIdLimit: Long = 10000L,
                    multiProbe: Int = 0,
                    selector: Option[DataFrame] = None): DataFrame =
  IndexLifecycle.fencedProbeResolved(spark, dir) { phys =>
    val meta = Tables.parquet(spark, s"$phys/meta.parquet").head()
    val (planes, tables, dim, seed) =
      (meta.getAs[Int]("planes"), meta.getAs[Int]("tables"),
        meta.getAs[Int]("dim"), meta.getAs[Long]("seed"))
    // guard on the FRAME, not on emitted signature rows (ADVICE r13): a
    // multi-row frame whose extra rows carry NULL vectors emits no
    // signature rows for them and would slip a row-count guard, after
    // which the crossJoin + dropDuplicates tail picks a nondeterministic
    // __qv per candidate — same posture as probeIndexFrame's take(2).
    // The same take also DELIVERS the vector: buckets and margins are
    // driver arithmetic ([[bucketsAndMarginsLocal]], spec-pinned equal to
    // the codegen expression), so the probe pays zero Spark jobs before
    // the postings scan.
    val qRows = query.select(col(queryVecCol).cast("array<double>")).take(2)
    require(qRows.length == 1,
      "probeLshIndex is single-query (probed buckets are computed from " +
        "one vector) — batch callers use probeLshIndexBatch against the same dir")
    // NULL query vector ⇒ no bucket ⇒ the never-short fallback answers
    val qPairs: Seq[(Int, Int)] =
      if (qRows.head.isNullAt(0)) Seq.empty
      else {
        val qv = qRows.head.getSeq[Double](0).toArray
        val (buckets, margins) =
          bucketsAndMarginsLocal(qv, tables, planes, dim, seed)
        // multi-probe (Lv et al. VLDB'07): beyond each table's exact
        // bucket, probe the `multiProbe` buckets reached by flipping the
        // lowest-|margin| bit sets — near-boundary planes are where a
        // true neighbor most likely landed on the other side. Bounded
        // extra candidates for recall WITHOUT more tables (= a smaller
        // index than table compensation buys).
        (0 until tables).flatMap { t =>
          (t, buckets(t)) +:
            perturbationSets(margins(t).map(math.abs), multiProbe)
              .map(ps => (t, ps.foldLeft(buckets(t))((b, p) => b ^ (1 << p))))
        }.distinct
      }
    // The selector rides the vectors choke point exactly like the
    // tombstone filter — postings stay unfiltered (stale hits just
    // match nothing).
    val vectors = applySelector(lshVectors(spark, phys, idCol), selector, idCol)
    val postings = Tables.parquet(spark, s"$phys/postings.parquet")
    // foldLeft(false): an empty pair set (null query vector) selects
    // nothing instead of crashing an empty reduce — the fallback answers.
    // Past [[OrPairCap]] pairs the OR becomes the cost: PERF finding 30
    // at 25× measured the 126-term disjunction at 8.6 s (the deep Or tree falls
    // out of whole-stage codegen into interpreted per-row eval) where a
    // broadcast equi-join on the same pairs answers in 0.5 s. Under the
    // cap the OR wins — it pushes to the scan and prunes the
    // (table, bucket)-sorted row groups, which the join cannot.
    val hits = (
      if (qPairs.length <= OrPairCap)
        postings.filter(qPairs.foldLeft(lit(false)) { case (acc, (t, b)) =>
          acc || (col("table") === t && col("bucket") === b) })
      else
        postings.join(
          broadcast(spark.createDataFrame(qPairs).toDF("table", "bucket")),
          Seq("table", "bucket"))
      ).select(col(idCol)).distinct()
    val ids = hits.take(math.min(candidateIdLimit, Int.MaxValue - 1L).toInt + 1)
    val cand = recoverCandidates(vectors, hits, ids, idCol, candidateIdLimit)
    val probed = rankCandidates(
      cand.crossJoin(broadcast(query.select(col(queryVecCol).as("__qv")))),
      idCol, vecCol, k)
    // fully materialized local relation — the fencedProbe harness's
    // post-body fence covers every scan
    neverShort(probed, vectors, idCol, vecCol, query, queryVecCol, k)
  }

  /** Batched probe of a built LSH index — the zero-training counterpart
    * of [[lshTopKBatchSized]] and the missing cell of the serve matrix
    * ([[Ivf.probeIndexBatch]] covers the two trained layouts). Query
    * buckets come from the SAME codegen [[graft.functions.HyperplaneBuckets]]
    * expression the build used, under the PERSISTED sizing — in-plan, so
    * the query frame never collects to the driver (no bounded-batch
    * assumption; only the bucket frame broadcasts, tables rows per
    * query). One (table, bucket) equi-join against the postings replaces
    * the single probe's pushed-predicate pruning — a batch's bucket
    * union defeats row-group pruning the same way the IVF batch's cell
    * union defeats static partition pruning, so the join IS the batched
    * plan. Candidate ids recover through the same count-gated lookup as
    * [[probeLshIndex]] (gated on the UNION across the batch), scoring is
    * exact cosine per (query, candidate), and [[finishBatchTopK]]
    * re-answers deficient queries exactly — PER QUERY, never the batch.
    * Multi-probe stays a single-query lever: its perturbation heap runs
    * on driver margins, which a streaming/batch plan doesn't surface. */
  def probeLshIndexBatch(spark: org.apache.spark.sql.SparkSession, dir: String,
                         idCol: String, vecCol: String,
                         queries: DataFrame, qIdCol: String, qVecCol: String,
                         k: Int, candidateIdLimit: Long = 10000L,
                         multiProbe: Int = 0,
                         selector: Option[DataFrame] = None): DataFrame =
  IndexLifecycle.fencedProbeResolved(spark, dir) { phys =>
    val meta = Tables.parquet(spark, s"$phys/meta.parquet").head()
    val (planes, tables, dim, seed) =
      (meta.getAs[Int]("planes"), meta.getAs[Int]("tables"),
        meta.getAs[Int]("dim"), meta.getAs[Long]("seed"))
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))
    // multiProbe > 0: each query additionally probes, per table, the
    // `multiProbe` buckets reached by flipping the lowest-|margin| sign
    // bits — computed IN-PLAN by the codegen expression (the query frame
    // never collects to the driver), single-bit perturbations by design
    // (the scaladoc on [[graft.functions.HyperplaneBucketsMulti]] has
    // the trade vs the single-query probe's driver heap)
    val qPairsDf =
      if (multiProbe <= 0)
        lshIndex(q, "query_id", "__qv", tables, planes, dim, seed)
          .select(col("table"), col("bucket"), col("query_id"))
      else {
        val stride = 1 + math.min(multiProbe, planes)
        q.select(col("query_id"),
            posexplode(bucketsMultiColumn(col("__qv"), tables, planes, dim,
              seed, multiProbe)).as(Seq("pos", "bucket")))
          .select((col("pos") / lit(stride)).cast("int").as("table"),
            col("bucket"), col("query_id"))
      }
    val vectors = applySelector(lshVectors(spark, phys, idCol), selector, idCol)
    val qIdx = broadcast(qPairsDf)
    val postings = Tables.parquet(spark, s"$phys/postings.parquet")
    // (query, candidate) pairs: ids that share any (table, bucket) with
    // the query — distinct BEFORE scoring so multi-table collisions
    // score once, same as the single probe's dropDuplicates
    val hits = postings.join(qIdx, Seq("table", "bucket"))
      .select(col("query_id"), col(idCol)).distinct()
      .localCheckpoint(true)
    val ids = hits.select(col(idCol)).distinct()
    val idRows = ids.take(math.min(candidateIdLimit, Int.MaxValue - 1L).toInt + 1)
    val cand = recoverCandidates(vectors, ids, idRows, idCol, candidateIdLimit)
    val scored = hits
      .join(cand.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col(idCol),
        round(cosine(col(vecCol), col("__qv")), 4).as("sim"))
    // materialized inside finishBatchTopK (both branches checkpoint),
    // so the fencedProbe harness's post-body fence covers every scan
    finishBatchTopK(scored, vectors, idCol, vecCol, q, k)
  }

  /** ANN query: probe the query vector's buckets, brute-force only within
    * the union of candidates (the IVF-style "probe a few cells" pattern,
    * with hyperplane buckets as cells).
    *
    * Planes come from [[probePlanesFor]] (bucket occupancy, not the pair
    * rule); one extra table per extra plane over the floor compensates
    * per-table recall decay as n grows. Per-bucket collision probability
    * for MODERATE-cosine neighbors still decays with planes faster than
    * the linear table growth restores it — single-probe hyperplane LSH
    * cannot hold moderate-cosine recall at arbitrary n (that regime wants
    * [[Ivf]]) — so the result is additionally gated: when the probe
    * surfaces fewer than k candidates the query falls back to
    * [[bruteForceTopK]]. An ANN search degrades recall; it never answers
    * "nothing" — that is the contract every search path holds. The gate's count runs over
    * the ≤ k probe result — not the corpus — and the fallback costs one
    * exact scan only when the probe actually failed. */
  def lshTopKSized(emb: DataFrame, idCol: String, vecCol: String,
                   query: DataFrame, queryVecCol: String, k: Int,
                   baseTables: Int = 8, dim: Int = 64,
                   seed: Long = 42L): DataFrame = {
    val planes = probePlanesFor(emb.count())
    val tables = probeTablesFor(planes, baseTables)
    // [[neverShort]] materializes the ≤ k-row probe as a local relation —
    // the corpus is scanned once, by the probe itself
    neverShort(
      lshTopK(emb, idCol, vecCol, query, queryVecCol, k, tables, planes, dim, seed),
      emb, idCol, vecCol, query, queryVecCol, k)
  }

  /** Prototypicality scores (Sorscher et al., "Beyond neural scaling
    * laws", NeurIPS'22 §3): cosine of every embedding to its GROUP's
    * centroid (the class prototype). Embedding-space data pruning ranks
    * examples by this score — least-prototypical first to drop noise and
    * outliers on small corpora, most-prototypical first to drop easy
    * redundant examples on large ones — so the output is the full
    * (id, group, sim) frame for downstream thresholding, not a verdict.
    *
    * Determinism (so a SQL oracle replays every score bit-for-bit): the
    * centroid is the per-position mean of 6-dp-rounded values accumulated
    * through DECIMAL(18,6) — order-independent — itself rounded 6 dp;
    * every dot/norm term is a double product cast to DECIMAL(18,6) before
    * summing (the float-product summation rule); sim rounds 4 dp. The
    * decimal folds are the price of cross-engine reproducibility — a
    * pipeline that only needs a stable ORDERING can swap [[cosine]]
    * (the codegen double path) into the scoring step.
    *
    * Scale shape: the centroid aggregate is ONE map-side-folding
    * groupBy(group, pos) over the exploded corpus — partial aggregation
    * means the shuffle carries |groups|·dim combiner rows per task, not
    * corpus·dim. Scoring is count-gated on the |groups|·dim centroid
    * frame: at or under `centroidBroadcastLimit` rows the per-group
    * centroid ARRAYS broadcast-join on the group column and every row
    * scores in one projection — the corpus itself never shuffles. Past
    * the gate (a group column with corpus-scale cardinality) the exploded
    * corpus joins the centroid frame SHUFFLE_HASH on (group, pos) and
    * re-aggregates per id — the corpus pays one positional shuffle but
    * nothing funnels through the driver. Decimal accumulation makes both
    * paths bit-identical (SimilaritySpec pins equality). */
  /** Decimal-accumulated Σ aᵢ·bᵢ (order-independent: each double product
    * rounds to 6 dp before an exact decimal fold) — the deterministic
    * scoring core [[prototypeScores]] and
    * [[graft.streaming.Streaming.prototypeFilterStream]] share. As of
    * r20 the fold runs in the codegen [[graft.functions.DecDot]]
    * expression — PERF finding 40 measured the HOF spelling
    * (`aggregate(zip_with(...))` with per-element decimal casts) at
    * 4.99 s where the double codegen floor reads 0.16 s on the same
    * x400 projection, ~86% of it decimal boxing (the deleted
    * DecProfile: `git show 2262a09:src/main/scala/graft/tools/DecProfile.scala`);
    * value semantics are BIT-IDENTICAL by construction and pinned
    * against the literal HOF chain in DecExpressionsSpec. */
  private[graft] def dotDec(a: Column, b: Column): Column =
    graft.functions.DecFunctions.decDot(a, b)

  /** Decimal-accumulated Σ aᵢ² (same discipline as [[dotDec]]). */
  private[graft] def normDec(a: Column): Column =
    graft.functions.DecFunctions.decNorm(a)

  /** Cosine of `vec` to a prototype row carrying the centroid array
    * `cen` and its precomputed self-norm Σc² `nc`, rounded 4 dp —
    * deterministic wherever the decimal folds are. NULL when either
    * quantized norm is zero (the [[prototypeScores]] no-row contract,
    * r19): a `sim >= tau` stream filter then drops exactly the rows the
    * batch scorer drops, and no ANSI DIVIDE_BY_ZERO can escape a
    * micro-batch. */
  private[graft] def protoSim(vec: Column, cen: Column, nc: Column): Column = {
    val ne = normDec(vec)
    when(ne > 0 && nc > 0,
      round(dotDec(vec, cen) / (sqrt(ne) * sqrt(nc)), 4))
  }

  /** The positional centroid frames shared by [[prototypeScores]] and
    * [[prototypes]]: cen = (__grp, __i, __c) — per-position 6-dp means,
    * checkpointed (it feeds the gate count, the norm aggregate, and a
    * join) — and nc = (__grp, __nc) — the Σc² self-norm. */
  private def centroidFrames(emb: DataFrame, vecCol: String,
                             groupCol: String): (DataFrame, DataFrame) = {
    val exploded = emb
      .select(col(groupCol).as("__grp"), posexplode(col(vecCol)))
      .select(col("__grp"), col("pos").as("__i"),
        col("col").cast("double").as("__v"))
    // round BEFORE the decimal cast: round() agrees across engines on
    // doubles, double→DECIMAL cast tie behavior is not something to
    // hang a hash match on
    val cen = exploded
      .groupBy(col("__grp"), col("__i"))
      .agg(sum(round(col("__v"), 6).cast("decimal(18,6)")).as("__s"),
        count(lit(1)).as("__n"))
      .select(col("__grp"), col("__i"),
        round(col("__s").cast("double") / col("__n"), 6).as("__c"))
      .localCheckpoint(true)
    val nc = cen.groupBy(col("__grp"))
      .agg(sum((col("__c") * col("__c")).cast("decimal(18,6)"))
        .cast("double").as("__nc"))
    (cen, nc)
  }

  /** The trained prototype table — (`groupCol`, `__cen` centroid array,
    * `__nc` self-norm), one row per group: the offline artifact an
    * ingest pipeline broadcasts to score arrivals
    * ([[graft.streaming.Streaming.prototypeFilterStream]]) without
    * recomputing centroids per micro-batch. Same arithmetic as
    * [[prototypeScores]]' fast path, so stream and batch scores agree
    * bit-for-bit. */
  def prototypes(emb: DataFrame, vecCol: String, groupCol: String): DataFrame = {
    val (cen, nc) = centroidFrames(emb, vecCol, groupCol)
    packCentroids(cen, nc).withColumnRenamed("__grp", groupCol)
  }

  private def packCentroids(cen: DataFrame, nc: DataFrame): DataFrame =
    cen.groupBy(col("__grp"))
      .agg(transform(sort_array(collect_list(struct(col("__i"), col("__c")))),
        x => x.getField("__c")).as("__cen"))
      .join(nc, Seq("__grp"))

  /** Per-row cosine to the row's group centroid — (idCol, groupCol,
    * sim). DEGENERATE vectors (null vector, empty array, any null
    * element) carry no cosine and emit NO row, enforced by one codegen
    * pre-filter: without it the two gate paths diverge on membership
    * (the broadcast projection null-propagates to a null-sim row where
    * the posexplode path drops the row or scores surviving positions —
    * ADVICE r11). Degenerate rows still shape the centroid exactly as
    * before (centroidFrames' explode drops null positions), so the
    * scores themselves are unchanged. */
  def prototypeScores(emb: DataFrame, idCol: String, vecCol: String,
                      groupCol: String,
                      centroidBroadcastLimit: Long =
                        Dedup.HotShingleBroadcastLimit): DataFrame = {
    val (cen, nc) = centroidFrames(emb, vecCol, groupCol)
    val scorable = emb.filter(col(vecCol).isNotNull &&
      size(col(vecCol)) > 0 && !exists(col(vecCol), x => x.isNull))
    val scored =
      if (cen.count() <= centroidBroadcastLimit) {
        // fast path: centroids ride a broadcast as per-group ARRAYS; each
        // row scores in one projection, the corpus never shuffles
        val cenArr = packCentroids(cen, nc)
        scorable.join(broadcast(cenArr), scorable(groupCol) === cenArr("__grp"))
          .select(col(idCol), col(groupCol),
            dotDec(col(vecCol), col("__cen")).as("__dot"),
            normDec(col(vecCol)).as("__ne"),
            col("__nc"))
      } else {
        // scale path: positional equi-join, corpus pays ONE shuffle keyed
        // by (group, pos) + one by id — never a driver funnel
        val exploded = scorable
          .select(col(idCol).as("__pid"), col(groupCol).as("__grp"),
            posexplode(col(vecCol)))
          .select(col("__pid"), col("__grp"), col("pos").as("__i"),
            col("col").cast("double").as("__v"))
        val terms = exploded
          .join(cen.hint("SHUFFLE_HASH"), Seq("__grp", "__i"))
          .groupBy(col("__pid"), col("__grp"))
          .agg(sum((col("__v") * col("__c")).cast("decimal(18,6)"))
            .cast("double").as("__dot"),
            sum((col("__v") * col("__v")).cast("decimal(18,6)"))
              .cast("double").as("__ne"))
        terms.join(nc.hint("SHUFFLE_HASH"), Seq("__grp"))
          .select(col("__pid").as(idCol), col("__grp").as(groupCol),
            col("__dot"), col("__ne"), col("__nc"))
      }
    // zero-QUANTIZED norms carry no cosine and emit NO row — the
    // ADVICE-r11 degenerate contract extended (r19, found by the x400
    // curation rung): the decimal(18,6) per-element quantization of c²
    // floors Σc² to EXACTLY 0 once a large group's centroid entries
    // fall below ~1e-3 (mean of n near-zero-mean vectors shrinks as
    // 1/√n — the ±-flip scale fixture is the pathological case; a real
    // language prototype keeps a strong mean), and the unguarded
    // division then throws DIVIDE_BY_ZERO under ANSI. One shared
    // filter on the gate-independent __ne/__nc columns keeps both gate
    // paths row-identical; [[protoSim]] mirrors it as null-on-zero so
    // stream filtering drops the same rows.
    scored.filter(col("__ne") > 0 && col("__nc") > 0)
      .select(col(idCol), col(groupCol),
        round(col("__dot") / (sqrt(col("__ne")) * sqrt(col("__nc"))), 4).as("sim"))
  }

  /** Fixed-parameter probe (callers that know their corpus); prefer
    * [[lshTopKSized]], which sizes planes/tables and never returns short. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, queryVecCol: String, k: Int,
              tables: Int = 8, planesPerTable: Int = 8,
              dim: Int = 64, seed: Long = 42L): DataFrame = {
    val idx = lshIndex(emb, idCol, vecCol, tables, planesPerTable, dim, seed)
    val qIdx = lshIndex(query.select(col(queryVecCol).as("__qv")), "__qv", "__qv",
      tables, planesPerTable, dim, seed)
      .select(col("table"), col("bucket"), col("__qv"))
    rankCandidates(idx.join(broadcast(qIdx), Seq("table", "bucket")),
      idCol, vecCol, k)
  }
}
