package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TTLConfig, ValueState}
import org.apache.spark.sql.types._
import graft.engine.Tables

/** Structured Streaming over the `events` table shape (SURVEY.md §2
  * C17–C21). Every transform is written against a plain DataFrame so the
  * SAME expression tree runs in batch (the oracle-checked c18/c19
  * queries) and on a stream — Spark's unified model is the point: the
  * batch oracle validates the streaming semantics.
  *
  * Scale posture: all stateful ops are bounded by watermarks from day
  * one (unbounded state is the way streaming jobs die at production
  * scale); session windows use the native `session_window` (state-store
  * merge, partitioned by grouping key, scales horizontally with
  * executors); dedup state is `dropDuplicatesWithinWatermark` so the
  * key set is evicted as event time advances.
  */
object Streaming {

  /** events table schema (TESTDATA.md), ts at microsecond precision. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** C17: file-source ingest with the events schema (json-lines or csv
    * dirs dropped by an upstream producer; parquet for replay). */
  def readEventsStream(spark: SparkSession, dir: String, format: String = "parquet"): DataFrame =
    spark.readStream.format(format).schema(eventSchema).load(dir)

  /** C18 tumbling: fixed windows; C20: watermark bounds state + drops
    * rows later than `lateness`. */
  def tumblingCounts(events: DataFrame, window: String = "1 hour",
                     lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total"))

  /** C18 sliding: overlapping windows (each row lands in window/slide
    * buckets). */
  def slidingCounts(events: DataFrame, window: String = "1 hour",
                    slide: String = "30 minutes",
                    lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total"))

  /** C19: native session windows — gap-merged per user, state-store
    * backed on streams. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n"), col("total"))

  /** C20 stream-stream interval join: view→click attribution — each click
    * matches the same user's views within `[view_ts, view_ts + horizon]`.
    *
    * The equality key (user_id) keeps it a hash join at any scale; the
    * interval condition plus watermarks on BOTH inputs is what lets Spark
    * bound the join buffers — state for a side is evicted once the
    * watermark passes its interval, which is the only way a stream-stream
    * join survives unbounded input. The same expression tree runs on
    * batch frames (`withWatermark` is eliminated there), so the DuckDB
    * oracle on the batch form checks the streaming semantics. */
  def viewClickAttribution(views: DataFrame, clicks: DataFrame,
                           horizon: String = "30 minutes",
                           lateness: String = "10 minutes"): DataFrame = {
    val v = views.withWatermark("ts", lateness)
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
    val c = clicks.withWatermark("ts", lateness)
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"))
    v.join(c,
        col("user_id") === col("c_user_id") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        // exact microsecond delta on both sides (second-granularity
        // functions truncate vs count-boundaries differently across
        // engines)
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts"))).as("delay_us"))
  }

  /** Streaming-ingest decontamination: drop documents sharing a word
    * n-gram with a (small, static) benchmark set AS THEY ARRIVE — the
    * LLM-ingest shape where curation runs on the stream, not as a later
    * batch sweep. Stateless per-row filter: the benchmark's shingle-hash
    * array rides in as ONE broadcast-joined row and the overlap test is
    * the codegen two-pointer [[graft.functions.VecFunctions
    * .sortedIntersectCount]] over each doc's sorted signature — no
    * stream state, no shuffle, works identically in batch (the
    * stream==batch spec pins it against [[graft.ops.Dedup
    * .decontaminate]]). */
  def decontaminateStream(docs: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String, n: Int = 8): DataFrame = {
    // localCheckpoint: the static side of a stream-static join is
    // re-evaluated EVERY micro-batch — materialize the benchmark
    // signature once instead of re-shingling the benchmark per batch
    val benchSh = benchmark
      .select(explode(graft.functions.ShingleHashes.sortedShingleHashes(
        graft.ops.Text.tokens(col(textCol)), n)).as("sh"))
      .distinct()
      .agg(sort_array(collect_list(col("sh"))).as("__bench"))
      .localCheckpoint(true)
    docs
      .join(broadcast(benchSh)) // 1-row cross join: the static benchmark side
      .filter(graft.functions.VecFunctions.sortedIntersectCount(
        graft.functions.ShingleHashes.sortedShingleHashes(
          graft.ops.Text.tokens(col(textCol)), n), col("__bench")) === 0)
      .drop("__bench")
  }

  /** Streaming-ingest quality SCORING: apply a batch-trained
    * [[graft.ops.QualityModel]] logistic regression to documents AS THEY
    * ARRIVE — the ingest half of model-based quality filtering (train
    * offline on a labeled snapshot, score the firehose online).
    * Stateless by construction: the model is a fixed-size coefficient
    * vector riding the plan as LITERALS ([[graft.ops.QualityModel
    * .scoreColumn]] — σ(w·x+b) over the same codegen feature
    * projection), so there is no stream state, no shuffle, and no mllib
    * on the hot path; the same column scores a batch frame identically
    * (stream==batch spec). Rows below `minScore` drop. */
  def qualityScoreStream(docs: DataFrame, idCol: String, textCol: String,
                         coefficients: Seq[Double], intercept: Double,
                         minScore: Double): DataFrame = {
    val feats = graft.ops.QualityModel.features(
      docs, idCol, textCol, passthrough = Seq(textCol))
    feats
      .withColumn("quality_score",
        graft.ops.QualityModel.scoreColumn(coefficients, intercept))
      .filter(col("quality_score") >= minScore)
      .select(col(idCol), col(textCol), col("quality_score"))
  }

  /** Streaming ANN probe against a MATERIALIZED index — ALL THREE
    * layouts: [[graft.ops.Ivf.buildIndex]] `invfile.parquet`,
    * [[graft.ops.Quantize.buildPqIndex]] `codes.parquet` (the code
    * table carries the same (cell, id, vec) columns plus the PQ codes,
    * which this exact-cosine probe simply prunes away), and
    * [[graft.ops.Similarity.buildLshIndex]]'s postings layout (routed
    * to [[lshProbeStream]] at plan time). On the cell layouts each
    * arriving
    * vector probes its `nprobe` nearest cells (nprobe² composite cells
    * under the residual regime) and emits every corpus neighbor within
    * cosine ≥ `tau` as (query_id, idCol, sim) — semantic-duplicate /
    * contamination tagging AT INGEST, with the index trained and
    * materialized OFFLINE (the build-once/serve-many split
    * [[prototypeFilterStream]] applies to per-label centroids, here at
    * full corpus-index granularity). Stateless: cell assignment is the
    * same codegen [[graft.functions.NearestCells]] expression the batch
    * probes use, riding a stream-static equi-join on `cell`; no stream
    * state, identical in batch (the stream==batch spec feeds the same
    * frame both ways).
    *
    * Index-append visibility contract (spec-pinned): the static side's
    * file listing is snapshot at PLAN construction, so rows landed by
    * `appendIndex`/`appendPqIndex`/`appendLshIndex` while the stream
    * runs are NOT probed until the query restarts — deterministic
    * (every micro-batch serves exactly the build the plan saw), the
    * same snapshot semantics a batch report gets. An ingest topology
    * that appends continuously restarts the probe stream on its
    * index-publish cadence. Tombstoned removes carry the SAME restart
    * contract and — as of r18 — fail LOUD like rebuilds instead of
    * serving the removed id silently until restart: the tombstone set
    * still resolves at plan time, but a 1-row
    * [[graft.ops.IndexLifecycle.tombstoneFreshnessGuard]] frame rides
    * the stream side and, re-executed every micro-batch, re-lists
    * `deletes.parquet` and fails the query when a
    * [[graft.ops.IndexLifecycle.removeIds]] (or a compaction's backlog
    * clear) landed mid-stream — restart to serve the new tombstone set
    * (spec-pinned, both tombstoning arms); per-batch guard cost is one
    * 1-task LIST job (LifecycleSweep's stream-guard row).
    *
    * Per-arrival top-k needs a per-query rank (an aggregation — blocked
    * in append mode); the ≥ tau contract is the stateless ingest shape,
    * and a caller wanting top-k ranks the tagged rows downstream. The
    * static side is corpus-sized, so it NEVER broadcasts: the join is
    * hinted shuffled-hash — each micro-batch pays a hash partition of
    * the probe rows, the index side builds per-cell hash tables, nothing
    * funnels the driver. The driver-held coarse model is loaded once at
    * plan time (small by the residual-regime construction). */
  def annProbeStream(docs: DataFrame, idCol: String, vecCol: String,
                     indexDir: String, tau: Double,
                     nprobe: Int = 4, multiProbe: Int = 0,
                     selector: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    // the committed generation resolves ONCE at plan time — the same
    // plan-snapshot contract as the file listing itself: a generation
    // flip (rebuild/compaction) mid-stream deletes this generation's
    // files and the stream fails LOUDLY on its next micro-batch, the
    // rebuild restart contract
    val dir = graft.ops.IndexLifecycle.resolveIndexDir(spark, indexDir)
    // freshness guard epoch captured BEFORE the arms resolve tombstones
    // below (a remove landing in between trips one conservative loud
    // restart, never hides) — then broadcast-joined onto the STREAM side
    // so every micro-batch re-runs the check
    val q = docs.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .join(broadcast(
        graft.ops.IndexLifecycle.tombstoneFreshnessGuard(spark, dir)))
      .drop("__tombstones_fresh")
    // layout resolved ONCE, driver-side, at plan time (the cellSource
    // rule): an LSH dir (Similarity.buildLshIndex) carries meta.parquet +
    // postings/vectors; the cell layouts carry centroids.parquet +
    // invfile/codes. `nprobe` has no LSH meaning (buckets, not cells) and
    // is ignored on that arm — recall is the persisted tables' job, plus
    // `multiProbe` extra flipped-bit buckets per table (ignored by the
    // cell layouts in turn: their recall lever IS nprobe).
    if (graft.ops.Ivf.layoutFileExists(spark, dir, "meta.parquet"))
      return lshProbeStream(spark, q, idCol, vecCol, dir, tau, multiProbe,
        selector)
    val model = graft.ops.Ivf.readIndexModel(spark, dir)
    // selector (FAISS IDSelector analog, a STATIC frame): per-tenant
    // filtered tagging at ingest — rides the static side's choke point
    // exactly like the batch probes', resolved once at plan time
    val inv = graft.ops.Similarity.applySelector(
      graft.ops.Ivf.cellSource(spark, dir, idCol, vecCol),
      selector, idCol)
    val probes =
      if (model.isResidual)
        graft.ops.Ivf.probeCellsResidual(q, "__qv",
          graft.ops.Ivf.ResidualQuantizer(model.level1, model.level2),
          nprobe, nprobe)
      else graft.ops.Ivf.probeCells(q, "__qv", model.level1, nprobe)
    probes
      .join(inv.hint("SHUFFLE_HASH"), Seq("cell"))
      .select(col("query_id"), col(idCol),
        round(graft.ops.Similarity.cosine(col(vecCol), col("__qv")), 4).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** The LSH-postings arm of [[annProbeStream]] — the one index layout
    * with NO training at all, so ingest probes it for free: each arrival
    * recomputes its per-table buckets through the same codegen
    * [[graft.functions.HyperplaneBuckets]] the build used, under the
    * PERSISTED sizing (meta.parquet — resizing from the stream would
    * shear arrivals into a different bucket space than the postings),
    * stream-static joins the id-only postings on (table, bucket), then
    * recovers candidate vectors by a second stream-static join on id.
    * Both static sides are corpus-sized and NEVER broadcast
    * (SHUFFLE_HASH; the batch probe's count-gated In-pushdown needs the
    * candidate set at plan time, which a stream only knows per batch).
    *
    * A (query, candidate) pair that collides in SEVERAL tables would
    * emit duplicate tags, and streaming dedup is stateful — instead the
    * pair is kept only at its FIRST colliding table, decided statelessly
    * from data on the row: the candidate's own bucket array is recomputed
    * from its vector (identical to its postings rows by construction —
    * appends reuse the persisted sizing), and the row survives iff no
    * earlier table matches. NULL arrival vectors hash to no bucket
    * (NULL array ⇒ posexplode emits nothing), matching the batch
    * probe's contract. */
  private def lshProbeStream(spark: SparkSession, q: DataFrame,
                             idCol: String, vecCol: String,
                             indexDir: String, tau: Double,
                             multiProbe: Int = 0,
                             selector: Option[DataFrame] = None): DataFrame = {
    val meta = Tables.parquet(spark, s"$indexDir/meta.parquet").head()
    val (planes, tables, dim, seed) =
      (meta.getAs[Int]("planes"), meta.getAs[Int]("tables"),
        meta.getAs[Int]("dim"), meta.getAs[Long]("seed"))
    // tombstone-aware (IndexLifecycle.removeIds): removed ids must not
    // tag arrivals even before compaction applies them physically; the
    // selector composes on the same choke point. Both resolve at PLAN
    // time: a removeIds landing while the stream RUNS touches no file
    // this plan lists — the stream-side freshness
    // guard (attached by annProbeStream before dispatching here) is what
    // turns that into a loud per-batch failure; spec-pinned in
    // StreamingSpec's loud-or-fresh test together with the cell arm's
    val vectors = graft.ops.Similarity.applySelector(
      graft.ops.Similarity.lshVectors(spark, indexDir, idCol),
      selector, idCol)
    val postings = Tables.parquet(spark, s"$indexDir/postings.parquet")
    // the arrival's probed-bucket array: stride buckets per table (the
    // exact signature + multiProbe lowest-|margin| single-bit flips, all
    // from ONE codegen pass under the PERSISTED sizing); stride = 1
    // degenerates to the plain signature array, so one plan shape
    // serves both. posexplode position → table via / stride.
    val stride = 1 + math.max(0, math.min(multiProbe, planes))
    def qBuckets(c: org.apache.spark.sql.Column) =
      if (multiProbe <= 0)
        graft.ops.Similarity.bucketsColumn(c, tables, planes, dim, seed)
      else graft.ops.Similarity.bucketsMultiColumn(c, tables, planes, dim,
        seed, multiProbe)
    def exactBuckets(c: org.apache.spark.sql.Column) =
      graft.ops.Similarity.bucketsColumn(c, tables, planes, dim, seed)
    q
      .withColumn("__qb", qBuckets(col("__qv")))
      .select(col("query_id"), col("__qv"), col("__qb"),
        posexplode(col("__qb")).as(Seq("pos", "bucket")))
      .withColumn("table", (col("pos") / lit(stride)).cast("int"))
      .join(postings.hint("SHUFFLE_HASH"), Seq("table", "bucket"))
      .join(vectors.hint("SHUFFLE_HASH"), Seq(idCol))
      // first-colliding-table filter, stateless from data on the row: a
      // candidate sits in ONE bucket per table, so it matches table t iff
      // __cb[t] ∈ the query's probed slice [t*stride+1, stride]. __match
      // is that vector over all tables; the row survives iff no earlier
      // table matched (slice of length `table`, empty at table 0). At
      // stride 1 this is exactly the old qb[t]==cb[t] form.
      .withColumn("__cb", exactBuckets(col(vecCol)))
      .withColumn("__match",
        zip_with(col("__cb"), sequence(lit(0), lit(tables - 1)), (cbt, tt) =>
          exists(slice(col("__qb"), tt * lit(stride) + lit(1), lit(stride)),
            b => b === cbt)))
      .filter(!exists(slice(col("__match"), lit(1), col("table")), m => m))
      .select(col("query_id"), col(idCol),
        round(graft.ops.Similarity.cosine(col(vecCol), col("__qv")), 4).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** Streaming-ingest PROTOTYPICALITY filtering: score arrivals against
    * batch-trained per-group centroids ([[graft.ops.Similarity
    * .prototypes]] — the Sorscher et al. NeurIPS'22 pruning signal) and
    * drop rows whose cosine to their own group's prototype falls below
    * `minSim` — outliers in embedding space rejected AT INGEST, the
    * train-offline / score-online split [[qualityScoreStream]] applies
    * to the lexical quality model. Stateless: the prototype table is one
    * row per group (centroid array + precomputed self-norm) riding a
    * stream-static equi-join on the group column; scoring is the same
    * decimal fold batch uses, so stream and batch scores agree
    * bit-for-bit (stream==batch spec vs [[graft.ops.Similarity
    * .prototypeScores]]).
    *
    * The prototype frame scales with |groups|·dim, so the broadcast is
    * COUNT-GATED (no-small-by-construction): past
    * `protoBroadcastLimit` rows the stream-static join runs shuffled-hash
    * instead — the stream pays a per-batch hash partition, nothing
    * funnels the driver (both-paths spec). */
  def prototypeFilterStream(docs: DataFrame, idCol: String, vecCol: String,
                            groupCol: String, prototypes: DataFrame,
                            minSim: Double,
                            protoBroadcastLimit: Long =
                              graft.ops.Dedup.HotShingleBroadcastLimit): DataFrame = {
    // localCheckpoint: the static side of a stream-static join is
    // re-evaluated EVERY micro-batch — materialize the trained table
    // once; it also feeds the count gate
    val protos = prototypes.localCheckpoint(true)
    val joined =
      if (protos.count() <= protoBroadcastLimit)
        docs.join(broadcast(protos), Seq(groupCol))
      else docs.join(protos.hint("SHUFFLE_HASH"), Seq(groupCol))
    joined
      .withColumn("proto_sim",
        graft.ops.Similarity.protoSim(col(vecCol), col("__cen"), col("__nc")))
      .filter(col("proto_sim") >= minSim)
      .select(col(idCol), col(groupCol), col(vecCol), col("proto_sim"))
  }

  /** Streaming-ingest SEMANTIC decontamination: the
    * embedding analog of [[decontaminateStream]], completing ingest-side
    * parity with the batch curation v4 pair (n-gram + semantic). Drops
    * stream rows whose embedding sits within cosine `tau` of ANY
    * benchmark vector AS THEY ARRIVE. Stateless: the (static,
    * eval-set-sized) benchmark rides in as ONE broadcast-joined row
    * holding all its vectors; the per-row test is an `exists` over that
    * array with the codegen [[graft.ops.Similarity.cosine]] — no stream
    * state, no shuffle, identical in batch (the stream==batch spec pins
    * it against [[graft.ops.Dedup.semanticDecontaminate]]).
    *
    * The packed row is COUNT-GATED, not assumed small (the
    * no-small-by-construction rule — review round 8): past
    * `benchBroadcastLimit` rows the filter becomes a stream-static LEFT
    * ANTI join on the cosine condition (both-paths spec). Honest limit:
    * a non-equi left anti plans BroadcastNestedLoopJoin, so the static
    * side still broadcasts — as ordinary ROWS, dropping the packed
    * form's single-row 2 GB / one-array-per-task ceiling, not the
    * broadcast itself. A benchmark beyond broadcast entirely is the
    * batch path's cell-scoped regime
    * ([[graft.ops.Dedup.semanticContaminatedIds]]) — run it there and
    * stream against the surviving ids instead. */
  def semanticDecontaminateStream(docs: DataFrame, benchmark: DataFrame,
                                  idCol: String, vecCol: String,
                                  benchVecCol: String, tau: Double,
                                  benchBroadcastLimit: Long =
                                    graft.ops.Dedup.HotShingleBroadcastLimit): DataFrame = {
    // localCheckpoint: the static side re-evaluates every micro-batch —
    // materialize the benchmark once; it also feeds the count gate
    val b = benchmark.select(col(benchVecCol).cast("array<double>").as("__bv"))
      .localCheckpoint(true)
    if (b.count() <= benchBroadcastLimit) {
      val bench = b.agg(collect_list(col("__bv")).as("__bvs")).localCheckpoint(true)
      docs
        .join(broadcast(bench)) // 1-row cross join: the static benchmark side
        .filter(!exists(col("__bvs"),
          bv => graft.ops.Similarity.cosine(col(vecCol), bv) >= tau))
        .drop("__bvs")
    } else
      docs.join(b,
        graft.ops.Similarity.cosine(col(vecCol), col("__bv")) >= tau, "left_anti")
  }

  /** Streaming-ingest EXACT-SUBSTRING decontamination: the char-level
    * analog of [[decontaminateStream]] — drops stream rows quoting
    * ≥ `minShared` verbatim ≥ w+k−1-char substrings of the (small,
    * static) benchmark AS THEY ARRIVE. Stateless per-row filter: the
    * benchmark's winnowed fingerprint set rides in as ONE broadcast-
    * joined row and the per-row test intersects the row's compiled
    * fingerprint set ([[graft.functions.WinnowFingerprints]], the same
    * O(len) md5+deque pass the batch side runs) against it — no stream
    * state, no shuffle, identical in batch (stream==batch spec vs
    * [[graft.ops.Dedup.winnowDecontaminate]]). Corpus-side `stopDf` is a
    * batch-only concept (boilerplate df needs the whole corpus); for
    * boilerplate-aware decon run the batch pass and stream against its
    * surviving ids instead.
    *
    * The packed row is COUNT-GATED, not assumed small (the fingerprint
    * set scales with benchmark CHARS, ~2/(w+1) per codepoint — the
    * no-small-by-construction rule): past `fpBroadcastLimit` rows the
    * filter becomes a stream-static LEFT ANTI join of the row's exploded
    * quote-witness against the fingerprint frame — which implements the
    * minShared = 1 rule only (counting shared fingerprints per row needs
    * a stream aggregation, i.e. state); minShared > 1 past the gate is
    * rejected with a pointer to the batch path. Both-paths spec at
    * minShared = 1 in StreamingSpec. */
  def substringDecontaminateStream(docs: DataFrame, benchmark: DataFrame,
                                   idCol: String, textCol: String,
                                   k: Int = 16, w: Int = 8,
                                   minShared: Int = 1,
                                   fpBroadcastLimit: Long =
                                     graft.ops.Dedup.HotShingleBroadcastLimit): DataFrame = {
    // localCheckpoint: the static side of a stream-static join is
    // re-evaluated EVERY micro-batch — materialize the benchmark
    // fingerprints once instead of re-winnowing the benchmark per batch;
    // it also feeds the count gate
    val benchFpRows = benchmark
      .select(explode(
        graft.functions.WinnowFingerprints.winnow(col(textCol), k, w)).as("fp"))
      .distinct()
      .localCheckpoint(true)
    if (benchFpRows.count() <= fpBroadcastLimit) {
      val benchFp = benchFpRows
        .agg(collect_list(col("fp")).as("__bfp")).localCheckpoint(true)
      docs
        .join(broadcast(benchFp)) // 1-row cross join: the static benchmark side
        .filter(size(array_intersect(
          graft.functions.WinnowFingerprints.winnow(col(textCol), k, w),
          col("__bfp"))) < minShared)
        .drop("__bfp")
    } else {
      require(minShared == 1,
        s"minShared=$minShared needs per-row shared-fingerprint COUNTS, which " +
          "is a stream aggregation past the broadcast gate; run the batch " +
          "path (Dedup.winnowDecontaminate) and stream against its " +
          "surviving ids instead")
      // left anti on fingerprint membership: a row survives iff NO
      // benchmark fingerprint appears in its winnowed set — rows, not
      // the packed array, so no single-row 2 GB / one-array ceiling.
      // The fingerprint set is PRE-PROJECTED: a nested-loop join
      // evaluates its condition per (row, fp) pair, and inlining the
      // winnow pass there would re-run the md5 scan per pair.
      docs
        .withColumn("__fps",
          graft.functions.WinnowFingerprints.winnow(col(textCol), k, w))
        .join(benchFpRows,
          array_contains(col("__fps"), benchFpRows("fp")), "left_anti")
        .drop("__fps")
    }
  }

  /** Streaming incremental-ingest dedup — the ingest-side analog of
    * [[graft.ops.Dedup.incrementalDedup]]: keep every arriving doc whose
    * text is NOT already in the static accumulated corpus. Stateless
    * (the corpus snapshot is fixed for the query's lifetime; restart the
    * query to pick up a new snapshot — state would be wrong here, the
    * corpus is not part of the stream).
    *
    * Under the count gate, a Bloom filter over the corpus' xxhash64 text
    * keys is built ONCE at query construction and rides the plan as a
    * constant: rows it rejects are definitely new (no false negatives)
    * and bypass the join entirely; only bloom-positive candidates flow
    * into a broadcast stream-static LEFT ANTI on (key, text) — exact,
    * and per micro-batch the anti join probes only the candidate
    * trickle. Past the gate every row takes a stream-static anti join
    * against the corpus' (xxhash64, xxhash64·seed-2) key pairs — 16
    * bytes/row static side, documents never join keys; a false drop
    * needs a simultaneous 128-bit collision (the [[graft.ops.Dedup.repCollapse]]
    * hazard, which batch resolves with an exact fallback; streaming
    * documents the 2⁻¹²⁸ residual instead — there is no second pass in a
    * micro-batch). NULL-text rows are always kept, matching batch. */
  def incrementalDedupStream(docs: DataFrame, existing: DataFrame,
                             idCol: String, textCol: String,
                             bloomItemLimit: Long = graft.ops.Dedup.BloomItemLimit): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnShim
    val key = xxhash64(col(textCol))
    val nExisting = existing.count()
    // xxhash64 NEVER returns NULL (a NULL input hashes to the seed), so a
    // NULL-text arrival would key-match a NULL-text corpus row; route
    // NULLs around the machinery explicitly (kept, matching batch) and
    // keep NULL corpus rows out of the key/bloom structures
    val nullRows = docs.filter(col(textCol).isNull)
    val nn = docs.filter(col(textCol).isNotNull)
    val exNn = existing.filter(col(textCol).isNotNull)
    val deduped =
      if (nExisting == 0L) nn
      else if (nExisting <= bloomItemLimit) {
        val bloomAgg = ColumnShim.column(new BloomFilterAggregate(
          ColumnShim.expression(key), nExisting).toAggregateExpression())
        val bloomBytes = exNn.select(bloomAgg.as("bf"))
          .head().getAs[Array[Byte]]("bf")
        val mightContain = ColumnShim.column(BloomFilterMightContain(
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            bloomBytes, org.apache.spark.sql.types.BinaryType),
          ColumnShim.expression(key)))
        // localCheckpoint: the static side re-evaluates per micro-batch
        val exKT = exNn.select(key.as("__ek"), col(textCol).as("__et"))
          .localCheckpoint(true)
        val newRows = nn.filter(!mightContain)
        val verified = nn.filter(mightContain)
          .join(broadcast(exKT),
            key === col("__ek") && col(textCol) === col("__et"), "left_anti")
        newRows.unionAll(verified)
      } else {
        // localCheckpoint: one distinct over 16-byte key pairs at query
        // construction; re-read (not re-shuffled) per micro-batch
        val exKeys = exNn
          .select(key.as("__ek"), xxhash64(col(textCol), lit(2)).as("__eh2"))
          .distinct().localCheckpoint(true)
        nn.join(exKeys.hint("SHUFFLE_HASH"),
          key === col("__ek") && xxhash64(col(textCol), lit(2)) === col("__eh2"),
          "left_anti")
      }
    deduped.unionAll(nullRows)
  }

  /** End-to-end ingest-side curation — the streaming analog of the batch
    * `c24_curation_v2` pipeline plus v5's rule-based quality gate: scrub
    * PII → drop low-lexical-diversity docs → drop Gopher-rule failures →
    * drop benchmark-contaminated docs → exact-dedup by content
    * fingerprint. Scrub/quality/gopher/decontaminate are stateless
    * projections and broadcast semi-joins; the ONLY state is the
    * fingerprint dedup, watermark-bounded. Dedup runs on the SCRUBBED
    * text (the RefinedWeb ordering): two docs differing only in redacted
    * PII collapse to one. On an in-order feed this converges to the
    * batch first-arrival survivor (StreamingSpec pins it).
    *
    * `gopher = false` switches the Gopher gate off — for feeds of short
    * fragments (the ≥30-token rule drops anything tweet-sized) or
    * non-English streams (the stopword rule is English-centric; route by
    * language first, like the batch side). */
  def curateStream(docs: DataFrame, benchmark: DataFrame, idCol: String,
                   textCol: String, tsCol: String,
                   minDiversity: Double = 0.5, n: Int = 8,
                   lateness: String = "10 minutes",
                   gopher: Boolean = true,
                   lineRules: Boolean = false): DataFrame = {
    val scrubbed = docs.withColumn(textCol, graft.ops.Text.scrubPii(col(textCol)))
    val ws = graft.ops.Text.tokens(col(textCol)) // resolves post-scrub
    val quality = scrubbed.filter(
      size(array_distinct(ws)).cast("double") / size(ws) >= minDiversity)
    val gophered =
      if (gopher) quality.filter(graft.ops.Text.gopherKept(col(textCol)))
      else quality
    // line-structure gate (C4/FineWeb): stateless like the Gopher gate,
    // so the stream==batch parity argument is unchanged
    val ruled =
      if (lineRules) gophered.filter(graft.ops.Text.lineRulesKept(col(textCol)))
      else gophered
    decontaminateStream(ruled, benchmark, idCol, textCol, n)
      .withColumn("__fp", graft.ops.Text.fingerprint(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
  }

  /** C21a: exactly-once-per-key dedup with watermark-bounded state (the
    * streaming analog of exact dedup C12). */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           lateness: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** C21a batch equivalence: the deterministic survivor the streaming
    * dedup converges to on an in-order feed — the earliest (ts, event_id)
    * row per key. One hash aggregate over a struct-ordered min (partial +
    * final, no window), so it scales like exact dedup C12. */
  def dedupFirstEvent(events: DataFrame, keys: Seq[String]): DataFrame =
    events
      .groupBy(keys.map(col): _*)
      .agg(min(struct(col("ts"), col("event_id"))).as("__first"))
      .select(keys.map(col) ++ Seq(
        col("__first.ts").as("first_ts"),
        col("__first.event_id").as("first_event_id")): _*)

  // ── C21b: arbitrary custom state ─────────────────────────────────────

  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class UserRunning(user_id: Long, n: Long, total: Double)

  /** C21b on the Spark 4 `transformWithState` API: the same running
    * aggregate as [[userRunningTotals]] but with composable named state
    * (`ValueState` + built-in TTL) instead of a single GroupState blob.
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`). */
  private class RunningTotalsProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, UserEvent, UserRunning] {
    @transient private var state: ValueState[UserRunning] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning]("running",
        Encoders.product[UserRunning], ttl)
    override def handleInputRows(uid: Long, rows: Iterator[UserEvent],
                                 timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserRunning] = {
      val prev = if (state.exists()) state.get() else UserRunning(uid, 0L, 0.0)
      var n = prev.n
      var total = prev.total
      rows.foreach { e => n += 1; total += e.value }
      val next = UserRunning(uid, n, math.rint(total * 100) / 100)
      state.update(next)
      Iterator.single(next)
    }
  }

  def userRunningTotalsTws(events: Dataset[UserEvent],
                           ttl: TTLConfig = TTLConfig.NONE): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor(ttl),
        TimeMode.None(), OutputMode.Update())
  }

  final case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String,
                               event_id: Long = 0L)
  final case class FunnelState(seenView: Boolean, seenClick: Boolean, seenPurchase: Boolean)
  final case class FunnelStage(user_id: Long, stage: Int)

  /** Streaming ordered funnel — the ingest-side form of the batch
    * `c9_funnel` query: per user, stage 1 = saw a view, stage 2 = saw a
    * click AFTER a view, stage 3 = saw a purchase after that. The flags
    * are MONOTONE, so state is three booleans per user (evicted
    * `stateTtlMs` past the user's own latest event, like
    * [[userRunningTotals]]) — the state-machine shape `groupBy(window)`
    * can't express but a funnel needs, since stage 2 depends on the
    * ORDER of past events, not their counts.
    *
    * Rows within a micro-batch arrive UNORDERED (the GroupState iterator
    * has no ordering contract), so each batch's rows are sorted by
    * (event time, event_id) before folding — in-batch disorder cannot
    * flip a flag, and a same-timestamp view+click pair folds in the
    * deterministic event_id order the batch c9_funnel query uses, not
    * whichever order the shuffle delivered (StreamingSpec pins both). Across batches the watermark contract
    * applies: late-past-watermark events are dropped, and an out-of-order
    * view AFTER a click already processed in an earlier batch does not
    * retroactively grant stage 2 — the documented divergence from the
    * batch window form, same class as curateStream's first-arrival
    * survivor. On an in-order feed the final stages equal the batch
    * query's (spec-pinned). Emits the user's current stage per batch
    * (update mode). */
  def funnelStream(events: Dataset[FunnelEvent],
                   lateness: String = "10 minutes",
                   stateTtlMs: Long = 7200000): Dataset[FunnelStage] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelStage](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(FunnelState(false, false, false))
            var maxTs = 0L
            rows.toArray.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              maxTs = math.max(maxTs, e.ts.getTime)
              e.event_type match {
                case "view" => s = s.copy(seenView = true)
                case "click" if s.seenView => s = s.copy(seenClick = true)
                case "purchase" if s.seenClick => s = s.copy(seenPurchase = true)
                case _ => ()
              }
            }
            state.update(s)
            state.setTimeoutTimestamp(math.max(maxTs, state.getCurrentWatermarkMs()) + stateTtlMs)
            val stage = (if (s.seenView) 1 else 0) + (if (s.seenClick) 1 else 0) +
              (if (s.seenPurchase) 1 else 0)
            Iterator.single(FunnelStage(uid, stage))
          }
      }
  }

  /** Per-user running aggregate via flatMapGroupsWithState — the escape
    * hatch for state machines `groupBy(window)` can't express. State is a
    * single fixed-size record per key, evicted `stateTtl` past the
    * watermark (event-time timeout — deterministic and replay-safe,
    * unlike processing-time timeouts which also force continuous empty
    * micro-batches just to evaluate timers). */
  def userRunningTotals(events: Dataset[UserEvent],
                        lateness: String = "10 minutes",
                        stateTtlMs: Long = 7200000): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
            var n = prev.n
            var total = prev.total
            var maxTs = 0L
            rows.foreach { e =>
              n += 1; total += e.value
              maxTs = math.max(maxTs, e.ts.getTime)
            }
            val next = UserRunning(uid, n, math.rint(total * 100) / 100)
            state.update(next)
            // anchor eviction to the key's own latest event time — the
            // watermark at batch 1 is still epoch-0, so watermark+ttl
            // would expire fresh state immediately
            state.setTimeoutTimestamp(math.max(maxTs, state.getCurrentWatermarkMs()) + stateTtlMs)
            Iterator.single(next)
          }
      }
  }
}
