package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2 C12/C13 + north-star dedup family):
  * exact, n-gram Jaccard, MinHash/LSH, SimHash.
  *
  * Scale posture: every variant is expressed as shuffle-bounded DataFrame
  * ops — the candidate-pair generation always goes through an inverted
  * index (token/shingle/band → doc) equi-join, never an O(n²) cross join,
  * so it survives a 100× corpus. Skewed posting lists (stop-shingles) are
  * the known hazard; `jaccardNearDup` takes a `maxDf` cut to drop them,
  * exactly like large-scale near-dup pipelines do.
  */
object Dedup {

  /** C12: exact dedup with deterministic survivor (min id) + multiplicity.
    * One hash-partial + final aggregate; equivalent to dropDuplicates but
    * reproducible (dropDuplicates keeps an arbitrary row). */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** (doc, shingle-array) with tokenization staged in its own projection
    * (see [[Text.shinglesFromTokens]] — keeps the split off the lambda
    * re-evaluation path). */
  def shingleArrays(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol).as("doc"), Text.tokens(col(textCol)).as("__ws"))
      .select(col("doc"), Text.shinglesFromTokens(col("__ws"), n).as("shs"))

  /** Distinct (docId, shingle) posting list — the string-level inverted
    * index (reference form of what the fused
    * [[graft.functions.ShingleHashes]] pipeline computes hashed; also the
    * shape the DuckDB oracles mirror). */
  def postings(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleArrays(docs, idCol, textCol, n)
      .select(col("doc"), explode(col("shs")).as("shingle"))

  /** C13 (exact flavor): all pairs with shingle-set Jaccard >= threshold,
    * via positional prefix filtering (the PPJoin family, Xiao et al.,
    * WWW'08 — textbook algorithm, original implementation).
    *
    * Plan:
    *  1. signature per doc: SORTED array of 64-bit shingle hashes — a pure
    *     projection, no shuffle (8-byte keys instead of 20-60-byte
    *     strings). With `maxDf`, hot shingles (df > maxDf) are removed
    *     from the signature first: Jaccard is then computed over the
    *     stop-shingle-filtered sets (standard stopword-removal semantics,
    *     mirrored in the oracle).
    *  2. candidate pairs from an inverted index over each doc's PREFIX
    *     only — its |s| − ⌈t·|s|⌉ + 1 smallest hashes. Lossless: a pair
    *     with J ≥ t must share ≥ ⌈t·|s|⌉ shingles, which cannot all hide
    *     in either suffix (prefix-filtering lemma). Candidate volume
    *     drops by ~(1−t)² vs joining full posting lists.
    *  3. exact intersection per candidate with one codegen two-pointer
    *     merge over the two sorted signatures
    *     ([[graft.functions.SortedIntersectCount]]) — replaces the pair
    *     groupBy that shuffled every co-posting row.
    *
    * At 100 TB: the only shuffles are the prefix self-join (on an ~(1−t)
    * fraction of postings) and — below the [[SigTableBroadcastBytes]]
    * gate — the narrow pair dedup; `maxDf` bounds the df of any prefix
    * key, keeping pair-gen near-linear. Past the gate the verify runs as
    * the sig-carrying kernel join (step 3 note): the signature table is
    * NEVER shuffled onto candidate pairs, because that payload-bearing
    * exchange is the one super-linear term this operator ever measured
    * (PERF.md finding 35: 22× task time for 4× data at the 100× rung).
    *
    * NOT lazy: picking the verify tail needs the signature table's
    * measured size, so CALLING this function runs two eager Spark jobs
    * (the signature localCheckpoint and a one-row stats agg) before the
    * composed plan is returned — callers assembling plans they may never
    * execute pay that cost at call time. Forcing `sigBroadcastBytes`
    * (-1 → kernel, Long.MaxValue → broadcast) does not skip it: the
    * checkpoint also feeds the prefix explode and both tails. In the
    * kernel tail with `maxDf` absent (or maxDf² past `hotPairBudget`)
    * TWO more eager jobs run — the prefix-key df pass + count that arms
    * the hot-key salt (see [[HotPrefixPairBudget]]).
    */
  /** Above this many hot shingles the maxDf prune switches from a single
    * broadcast array row to a distributed anti-join: 4M longs ≈ 32 MB —
    * comfortably broadcastable, far below single-array/task limits. */
  val HotShingleBroadcastLimit: Long = 4000000L

  /** Per-prefix-key candidate-pair budget for [[jaccardNearDup]]'s
    * kernel tail (r17 verdict #6). The kernel join's unit of work is
    * the prefix-shingle posting list: a key with prefix-df d lands
    * ~d²/2 verify-inline pairs under ONE sort-merge key, and AQE's skew
    * split CANNOT help — it keys on map-output partition BYTES, while
    * this skew is join FAN-OUT from a few-KB input (measured at x100:
    * a planted df-5,000 shingle put 12.5M pairs in one 117 s task
    * against a 7.9 s median — PERF finding 36; the deleted SkewProfile:
    * `git show 2262a09:src/main/scala/graft/tools/SkewProfile.scala`). `maxDf` bounds d in the
    * documented operating mode, so the salted path below only arms when
    * maxDf is absent or maxDf² exceeds this budget: prefix keys whose
    * df² passes it are salted — the doc_a side hashed into
    * g = ⌈df²/budget⌉ groups, the doc_b side replicated to all g — so
    * the same pairs emerge exactly once each but spread over g
    * sort-merge partitions. 1M pairs ≈ a ~1.5 s worst task at the x100
    * verify rate. The salted join is a SEPARATE branch unioned after
    * the verbatim cold join, never a salt column on the full corpus —
    * marking every row measured ~2× task time on the cold mass.
    * `hotPairBudget <= 0` disables salting entirely (the plain join);
    * `Long.MaxValue` keeps the df pass but never salts. */
  val HotPrefixPairBudget: Long = 1000000L

  /** Gate between [[jaccardNearDup]]'s two verify tails, in estimated
    * MATERIALIZED broadcast bytes (PERF.md finding 35). The small tail
    * broadcasts the signature table TWICE (the doc_a and doc_b
    * join-backs), each as an UnsafeRow HashedRelation, so the estimate
    * is 2 × (8 B per shingle hash + ~48 B per row of UnsafeRow array
    * header / row fields / HashedRelation slot overhead) — roughly 2–4×
    * the raw column bytes, which a naive single-copy estimate would
    * undercount exactly when the table sits near the gate. At or under
    * the gate the broadcasts are pinned (AQE's own 10 MB threshold would
    * otherwise flip a 20 MB table to the fat shuffle) and the candidate
    * pairs stay NARROW through dedup and the two join-backs; past it the
    * join-backs would shuffle every candidate row carrying
    * ~full-signature payload (measured: 22× task-time growth for 4×
    * data, 16 GB spill — the shuffle-keys-vs-payload rule violated at
    * the verify stage) so the tail switches to the sig-carrying kernel
    * join instead. 64 MB of materialized-broadcast estimate ≈ the old
    * 32 MB raw-bytes crossover (same flip point, now honestly
    * accounted); the kernel already WINS at the ~50 MB-raw rung
    * (2.6 s vs 4.2 s), comfortably past this gate. */
  val SigTableBroadcastBytes: Long = 64L << 20

  def jaccardNearDup(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, threshold: Double, maxDf: Option[Int] = None,
                     hotBroadcastLimit: Long = HotShingleBroadcastLimit,
                     sigBroadcastBytes: Long = SigTableBroadcastBytes,
                     hotPairBudget: Long = HotPrefixPairBudget): DataFrame = {
    // signature = sorted distinct shingle hashes, fused into one codegen
    // pass ([[graft.functions.ShingleHashes]]) — the HOF chain it
    // replaces (zip → concat lambda → hash lambda → sort) interpreted
    // per element and was the dominant per-query cost after the
    // prefix-filter rewrite
    val base = docs
      .select(col(idCol).as("doc"), Text.tokens(col(textCol)).as("__ws"))
      .select(col("doc"),
        graft.functions.ShingleHashes.sortedShingleHashes(col("__ws"), n).as("sig"))
    val sigPruned = maxDf match {
      case Some(m) =>
        // hot shingles (df > m) are computed as a DISTRIBUTED frame; how
        // they are applied adapts to their measured size. The previous
        // shape — collect_list into ONE array row, broadcast it — funnels
        // postings/m elements through a single task and past array/
        // broadcast limits at 100 TB, so the
        // single-row form is gated on an actual count.
        val hot = base.select(explode(col("sig")).as("sh"))
          .groupBy("sh").agg(count(lit(1)).as("df")).filter(col("df") > m)
          .select("sh")
        // r22 take-gate: the hot head collects in the gate action itself
        // and ships as a one-array-row LOCAL relation (array_except is
        // order-insensitive in its second argument, so the take order is
        // as good as collect_list's). Past the gate the aggregate re-runs
        // into a checkpoint — one extra postings pass on an arm that only
        // exists past `hotBroadcastLimit` distinct hot shingles, where
        // the re-grouping shuffle below dominates it.
        Relational.collectUnderGate(hot, hotBroadcastLimit) match {
          case Some(rows) =>
            // small Zipf head (the common case): ship it as one broadcast
            // array row so pruning stays a map-side projection — no
            // re-grouping shuffle of the corpus postings
            val schema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("hot",
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.LongType), nullable = false)))
            val hotArr = Relational.localFrame(hot,
              Array(org.apache.spark.sql.Row(rows.map(_.getLong(0)).toSeq)), schema)
            base.crossJoin(broadcast(hotArr))
              .select(col("doc"), array_except(col("sig"), col("hot")).as("sig"))
          case None =>
            // scale path: fully-distributed anti-join on exploded postings
            // then re-group to sorted signatures. Costs one extra postings
            // shuffle (the groupBy doc) but never a driver-side funnel —
            // both joins and the regroup partition across the cluster.
            val hotCk = hot.localCheckpoint(true)
            base.select(col("doc"), explode(col("sig")).as("sh"))
              .join(hotCk.hint("SHUFFLE_HASH"), Seq("sh"), "left_anti")
              .groupBy("doc").agg(sort_array(collect_list(col("sh"))).as("sig"))
        }
      case None => base
    }
    // localCheckpoint: sets feed the prefix explode AND both candidate
    // join-backs; materialize the tokenize→shingle→hash pipeline once
    val sets = sigPruned
      .select(col("doc"), col("sig"), size(col("sig")).as("n_sh"))
      .filter(col("n_sh") > 0)
      .localCheckpoint(true)
    // prefix length |s| − ⌈t·|s|⌉ + 1; the 1e-9 slack biases ceil DOWN on
    // floating-point boundaries (longer prefix = more candidates, never a
    // false negative)
    val prefixLen = (col("n_sh") -
      ceil(col("n_sh") * lit(threshold) - lit(1e-9)) + 1).cast("int")
    // Two result-identical verify tails, gated on the signature table's
    // estimated MATERIALIZED broadcast bytes (sets is already
    // materialized, the stats agg is one tiny job). NOTE this makes the
    // call EAGER: composing the plan without executing it still runs the
    // stats job (and the localCheckpoint above) at call time — the
    // documented price of a measured gate (see scaladoc). PERF.md
    // finding 35: every phase of this operator is linear through 100×
    // EXCEPT the verify join-backs — once the signature table outgrows
    // broadcast, joining it back onto the candidate pairs shuffles ~45M
    // rows × ~450 B signature payload through two exchanges (22×
    // task-time for 4× data, 16 GB spill). Estimate = two broadcasts ×
    // (8 B/hash + ~48 B/row UnsafeRow + HashedRelation overhead); see
    // [[SigTableBroadcastBytes]].
    val st = sets.agg(count(lit(1)).as("c"),
      coalesce(sum(col("n_sh")), lit(0L)).as("s")).head()
    val sigBytes = 2L * (st.getLong(1) * 8L + st.getLong(0) * 48L)
    if (sigBytes <= sigBroadcastBytes) {
      // small tail: narrow candidate pairs, then BROADCAST join-backs —
      // pinned, not AQE-decided: between Spark's 10 MB auto threshold
      // and this gate AQE would silently pick the fat sort-merge shape
      // this gate exists to avoid
      val pre = sets.select(col("doc"),
        explode(slice(col("sig"), lit(1), prefixLen)).as("sh"))
      val a = pre.select(col("sh"), col("doc").as("doc_a"))
      val b = pre.select(col("sh"), col("doc").as("doc_b"))
      // SHUFFLE_HASH pin: AQE otherwise flips between sort-merge and a
      // driver-side broadcast build of the exploded prefix list (measured
      // 3x run-to-run swings); shuffled-hash is deterministic and sortless
      val cand = a.join(b.hint("SHUFFLE_HASH"), Seq("sh"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates("doc_a", "doc_b")
      val sa = sets.select(col("doc").as("doc_a"), col("sig").as("sig_a"), col("n_sh").as("n_a"))
      val sb = sets.select(col("doc").as("doc_b"), col("sig").as("sig_b"), col("n_sh").as("n_b"))
      cand.join(broadcast(sa), Seq("doc_a")).join(broadcast(sb), Seq("doc_b"))
        .withColumn("common",
          graft.functions.VecFunctions.sortedIntersectCount(col("sig_a"), col("sig_b")))
        .withColumn("jaccard", col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
    } else {
      // scale tail — the kernel join (Vernica/Carey/Li, SIGMOD'10):
      // carry each doc's signature THROUGH the prefix join and verify
      // inline, so the only payload-bearing shuffle is the prefix
      // postings themselves (linear in corpus, ~prefixLen × sig bytes
      // per doc) and the signature table never re-shuffles onto pairs.
      // MERGE pin, not SHUFFLE_HASH: the payload-bearing build side
      // cannot spill as a HashedRelation (measured OOM at the 100×
      // rung); sort-merge spills. Pair dedup moves AFTER the verify
      // filter where survivors are tiny — a pair sharing j prefix
      // shingles is verified j times, but measured j-multiplicity is
      // ~5% (47.4M joined vs 45.1M distinct at 100×), far cheaper than
      // a 45M-row pre-verify dedup exchange. Result-identical to the
      // small tail (DedupSpec pins both paths equal).
      val aF = sets.select(col("doc").as("doc_a"), col("sig").as("sig_a"),
        col("n_sh").as("n_a"), explode(slice(col("sig"), lit(1), prefixLen)).as("sh"))
      val bF = sets.select(col("doc").as("doc_b"), col("sig").as("sig_b"),
        col("n_sh").as("n_b"), explode(slice(col("sig"), lit(1), prefixLen)).as("sh"))
      // hot-prefix-key salt (r17 verdict #6, [[HotPrefixPairBudget]]):
      // a key with prefix-df d carries ~d²/2 verify-inline pairs under
      // ONE sort-merge key, which AQE's byte-keyed skew split never
      // touches (measured: a planted df-5k mass = one 117 s task). When
      // maxDf already bounds d²  under the budget, the plan is EXACTLY
      // the unsalted join — zero cost in the documented operating mode.
      // Otherwise one extra eager pass computes prefix-key dfs; cold
      // keys take the VERBATIM raw join behind a codegen broadcast
      // anti-join filter, hot keys route through a separate salted join
      // (doc_a hashed into g = ⌈df²/budget⌉ groups, doc_b replicated to
      // all g — every pair meets exactly once, at doc_a's salt), and the
      // two verify inline identically before the union (DedupSpec pins
      // salted == unsalted == small tail pair-for-pair).
      // hotPairBudget <= 0 DISABLES salting (plain MERGE join) — the
      // sibling knob sigBroadcastBytes uses -1 as a force value, and a
      // caller reaching for the same idiom here would otherwise make
      // df² > budget true for EVERY key with g = ceil(df²/0) = ∞
      // clamped to 2²⁰ — replicating every posting row ~1M ways
      // (ADVICE r18). Long.MaxValue is the never-salt-by-size value.
      val boundedByMaxDf = hotPairBudget <= 0L ||
        maxDf.exists(m => m.toLong * m.toLong <= hotPairBudget)
      val joined =
        if (boundedByMaxDf) aF.join(bF.hint("MERGE"), Seq("sh"))
        else {
          // g computed in LONG and clamped: ceil(df²/budget) past
          // Int.MaxValue would wrap negative under the non-ANSI cast and
          // the two salt spaces (pmod vs sequence) would only partially
          // overlap — silently DROPPED pairs (review r18). Any g is
          // pair-complete (a-side pmod g, b-side replicated g ways), so
          // the clamp only coarsens the split, never the result.
          val hotKeys = sets
            .select(explode(slice(col("sig"), lit(1), prefixLen)).as("sh"))
            .groupBy("sh").agg(count(lit(1)).as("__hdf"))
            .filter(col("__hdf") * col("__hdf") > hotPairBudget)
            .select(col("sh"), least(ceil(col("__hdf") * col("__hdf") /
                lit(hotPairBudget.toDouble)).cast("long"), lit(1L << 20))
              .cast("int").as("__g"))
            .localCheckpoint(true)
          val nHotKeys = hotKeys.count()
          // past the broadcast bound the hot-key SET alone is ~a million
          // entries — a corpus that is quadratic nearly everywhere, where
          // no execution trick rescues exact all-pairs semantics and
          // maxDf (stop-shingle removal) is the published remedy; keep
          // the plain join rather than pay marker shuffles on both sides.
          // The bound is MATERIALIZED-broadcast bytes, not the array-row
          // constant: hotKeys broadcasts as an (sh, g) HashedRelation at
          // ~64 B/entry of UnsafeRow + slot overhead (the same
          // raw-vs-materialized accounting as [[SigTableBroadcastBytes]])
          if (nHotKeys == 0L || nHotKeys * 64L > SigTableBroadcastBytes)
            aF.join(bF.hint("MERGE"), Seq("sh"))
          else {
            // UNION shape, not a marker column: the first cut marked
            // every row and carried the salt through the full-corpus
            // sort — measured ~2× task time on the 97%-cold mass (GC
            // 22 s/task vs 6 s at x100). Cold rows must pay ONLY a
            // codegen broadcast anti-join filter and then take the
            // VERBATIM raw join; the salted join touches hot-key
            // postings alone (df×~1 rows per hot key — tiny inputs,
            // huge fan-out, which is the point).
            val hotB = broadcast(hotKeys)
            val cold = aF.join(hotB, Seq("sh"), "left_anti")
              .join(bF.join(hotB, Seq("sh"), "left_anti").hint("MERGE"),
                Seq("sh"))
            val aH = aF.join(hotB, Seq("sh"))
              .withColumn("__salt",
                pmod(xxhash64(col("doc_a")), col("__g")).cast("int"))
              .drop("__g")
            val bH = bF.join(hotB, Seq("sh"))
              .withColumn("__salt", explode(sequence(lit(0), col("__g") - 1)))
              .drop("__g")
            // explicit-numPartitions repartition on the salted key: the
            // hot partitions are tiny in INPUT bytes but huge in join
            // fan-out — exactly what AQE's byte-keyed partition
            // coalescing would merge back together
            val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
            val hot = aH.repartition(parts, col("sh"), col("__salt"))
              .join(bH.repartition(parts, col("sh"), col("__salt"))
                .hint("MERGE"), Seq("sh", "__salt"))
              .drop("__salt")
            cold.unionByName(hot)
          }
        }
      joined
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("common",
          graft.functions.VecFunctions.sortedIntersectCount(col("sig_a"), col("sig_b")))
        .withColumn("jaccard", col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .dropDuplicates("doc_a", "doc_b")
    }
  }

  /** MinHash signatures as a pure projection — the whole k-permutation
    * signature in one pass over each doc's shingle array
    * ([[graft.functions.MinhashFromHashes]]); no posting explode, no
    * shuffle until the band join. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame =
    // shingle hashing fused ([[graft.functions.ShingleHashes]]) and fed
    // straight into the k-permutation pass — bit-identical signatures to
    // the string-shingle form (same XXH64 base hash), minus the
    // interpreted shingle-string build
    docs
      .select(col(idCol).as("doc"), Text.tokens(col(textCol)).as("__ws"))
      .select(col("doc"),
        graft.functions.MinhashFromHashes.minhashFromHashes(
          graft.functions.ShingleHashes.sortedShingleHashes(col("__ws"), n), k).as("sig"))

  /** C13 (MinHash+LSH banding): approximate near-dup candidate pairs.
    *
    * signatures → split into `bands` bands of `rowsPerBand` hashes → hash
    * each band → explode (doc, bandIdx, bandHash) → self-equi-join on
    * (bandIdx, bandHash) → distinct candidate pairs with estimated Jaccard
    * (fraction of matching signature positions). The band join is the LSH
    * bucket join: only near-identical docs collide, so pair generation is
    * ~linear in corpus size instead of quadratic.
    */
  /** Corpus hygiene note (applies to [[simhashNearDup]] too): EXACT
    * duplicates share every band, so a group of m identical docs emits
    * C(m,2) pairs — quadratic in group size, and those pairs are TRUE
    * positives, not noise, so no hashing fix applies. On heavily
    * duplicated corpora run [[exact]] first and band-join the distinct
    * survivors; that is how production near-dup pipelines order the two
    * steps. */
  def minhashLshCandidates(docs: DataFrame, idCol: String, textCol: String,
                           n: Int, bands: Int, rowsPerBand: Int,
                           estThreshold: Double): DataFrame = {
    val k = bands * rowsPerBand
    val sigArr = minhashSignatures(docs, idCol, textCol, n, k)
    // 64-bit band hash (xxhash64, not the 32-bit hash()): random band
    // collisions are C(n,2)·bands/2^bits — at 32 bits and web-scale n
    // that term goes quadratic (~corpus-sized spurious candidates at
    // n=10⁹, 100× corpus at 10¹⁰); at 64 bits it is negligible at any
    // realistic n. Same class as planesFor (PERF.md finding 17): the
    // collision-bounding parameter must outrun corpus growth.
    val banded = sigArr.select(
      col("doc"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), bnd =>
        xxhash64(slice(col("sig"), bnd * rowsPerBand + 1, lit(rowsPerBand)))))
        .as(Seq("band", "band_hash"))
    )
    val l = banded.select(col("band"), col("band_hash"), col("doc").as("doc_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band"), col("band_hash"), col("doc").as("doc_b"), col("sig").as("sig_b"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      // dedup FIRST (a pair colliding in j bands appears j times), THEN
      // score each surviving pair once with the codegen signature-
      // agreement loop (the HOF zip_with chain interprets per element)
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (graft.functions.VecFunctions.arrayEqCount(col("sig_a"), col("sig_b"))
          .cast("double") / k).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)
  }

  /** SimHash: 64-bit signature where bit b is the sign of the sum of
    * (+1/-1) votes from each token's hash bit b. Hamming-close signatures
    * ⇒ similar documents. One row-level pass
    * ([[graft.functions.SimhashBits]]) — a pure projection with ZERO
    * shuffles, replacing the explode → groupBy(doc) formulation that
    * shuffled the entire token stream (same signatures: both hash tokens
    * with XXH64 seed 42 and vote sum>0). */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
      graft.functions.SimhashBits.simhashBits(Text.tokens(col(textCol))).as("simhash"))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, via band
    * blocking: split the 64-bit signature into `maxHamming + 1` bands —
    * by pigeonhole, any pair within the distance agrees EXACTLY on at
    * least one band — equi-join on (band index, band value), then verify
    * the true bit distance on the candidates. This is the scalable form
    * of a Hamming search: candidate generation is a hash equi-join on
    * 16-bit band values, never an all-pairs XOR scan. */
  def simhashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15, "band width needs 64/(maxHamming+1) >= 4 bits")
    val nBands = maxHamming + 1
    val width = 64 / nBands
    val sig = simhash(docs, idCol, textCol).localCheckpoint(true)
    // bands unrolled statically (band count is a plan-time constant):
    // shifts stay codegen, no interpreted lambda. Band b = `width` bits
    // from b*width; the last band absorbs the remainder when 64 % nBands
    // != 0.
    val bandCols = (0 until nBands).map { b =>
      val v =
        if (b == nBands - 1) shiftrightunsigned(col("simhash"), b * width)
        else shiftrightunsigned(col("simhash"), b * width).bitwiseAND(lit((1L << width) - 1))
      struct(lit(b).as("band"), v.as("band_val"))
    }
    val banded = sig
      .select(col("doc"), col("simhash"), explode(array(bandCols: _*)).as("bv"))
      .select(col("doc"), col("simhash"),
        col("bv.band").as("band"), col("bv.band_val").as("band_val"))
    val l = banded.select(col("band"), col("band_val"),
      col("doc").as("doc_a"), col("simhash").as("sig_a"))
    val r = banded.select(col("band"), col("band_val"),
      col("doc").as("doc_b"), col("simhash").as("sig_b"))
    l.join(r.hint("SHUFFLE_HASH"), Seq("band", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        hamming(col("sig_a"), col("sig_b")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Apply near-dup removal: keep every doc that never appears as the
    * higher-id member of a duplicate pair (greedy min-id survivor — the
    * standard single-pass policy; full connected components would need
    * iterative label propagation and rarely changes survivors at
    * realistic thresholds). `pairs` must carry (doc_a, doc_b) with
    * doc_a < doc_b.
    *
    * Scale shape: web-scale corpora run 30–50% near-duplicates, so the
    * doomed-id set is NOT "≪ corpus by construction" — billions of ids
    * cannot broadcast. The anti-join is therefore count-gated exactly
    * like [[decontaminate]]: a distinct doomed-id set at or under
    * `idBroadcastLimit` ships as a broadcast (corpus never shuffles);
    * past it the removal is a distributed shuffled-hash anti-join (the
    * corpus pays one hash-partition shuffle, the id set never funnels
    * through the driver). Both paths are result-identical (DedupSpec
    * pins it with a forced-threshold test). The `distinct()` matters on
    * the scale path too: a doc colliding in j pairs would otherwise ship
    * j build rows into the anti-join hash table. */
  def removeNearDups(docs: DataFrame, idCol: String, pairs: DataFrame,
                     idBroadcastLimit: Long = HotShingleBroadcastLimit): DataFrame =
    removeIds(docs, idCol, pairs.select(col("doc_b").as("doc")), idBroadcastLimit)

  /** Exact-dedup-first near-dup removal — the composition the band-join
    * scaladoc ([[minhashLshCandidates]]) prescribes in prose, enforced:
    * a group of m IDENTICAL docs shares every band/bucket/cell, so any
    * band-join candidate generator emits C(m,2) pairs for it — quadratic
    * in group size, and on a heavily duplicated corpus (the normal case:
    * web corpora run 30–50% exact dups) that term dominates everything.
    * No hashing fix applies — the pairs are TRUE positives — so the fix
    * is ordering: collapse exact duplicates to their min-id
    * representative FIRST, band-join only the distinct survivors, then
    * expand membership back. m identical docs contribute ONE rep and
    * ZERO within-group pairs; survivors are identical to running
    * `pairsOf` on the raw corpus + [[removeNearDups]] (a non-rep member
    * m is doomed by its (rep, m) jaccard-1.0 pair there; a rep doomed
    * via any member's pair is doomed via the rep's identical-signature
    * pair here — DedupSpec pins the equivalence). One deliberate
    * divergence: df-dependent cuts (`maxDf`, `stopDf`) inside `pairsOf`
    * now count document frequency over DISTINCT texts — the robust
    * semantics (a million-copy boilerplate doc otherwise inflates its
    * own shingles past `maxDf`, exempting them from pair generation).
    *
    * `pairsOf` receives the (idCol, textCol) rep frame and must return
    * (doc_a, doc_b) pairs with doc_a < doc_b — any of the band-join
    * generators partially applied. Scale shape: the rep collapse is
    * digest-keyed ([[repCollapse]] — the exchange never carries document
    * text, only (length, xxhash64) digests and ids); the final
    * membership expansion is the same count-gated anti-join-free
    * semi-join both [[removeNearDups]] paths use (kept-rep ids broadcast
    * under the gate, SHUFFLE_HASH past it). */
  def nearDupPipeline(docs: DataFrame, idCol: String, textCol: String,
                      pairsOf: DataFrame => DataFrame,
                      idBroadcastLimit: Long = HotShingleBroadcastLimit): DataFrame = {
    // NULL texts are non-participants, not one dup group: groupBy would
    // fold every NULL-text row into a single NULL key and keep only the
    // min id — but the raw path generates no pairs for them (no
    // shingles), so ALL survive there. Route them around the pipeline to
    // preserve the survivor equivalence (spec-pinned).
    val withText = docs.filter(col(textCol).isNotNull)
    val nullText = docs.filter(col(textCol).isNull)
    val reps = repCollapse(withText, idCol, textCol,
      idBroadcastLimit = idBroadcastLimit)
    // localCheckpoint: the kept-rep id set feeds the count gate AND the
    // final semi-join; materialize the whole pair pipeline once
    val keptIds = removeNearDups(reps, idCol, pairsOf(reps), idBroadcastLimit)
      .select(col(idCol).as("__keep")).localCheckpoint(true)
    // r22 take-gate: the survivor ids collect in the gate action itself
    // and broadcast as a local relation (the checkpoint stays — the pair
    // pipeline behind it is too expensive to re-derive past the gate)
    val kept = Relational.collectUnderGate(keptIds, idBroadcastLimit) match {
      case Some(rows) =>
        val local = Relational.localFrame(keptIds, rows, keptIds.schema)
        withText.join(broadcast(local), withText(idCol) === local("__keep"), "left_semi")
      case None =>
        withText.join(keptIds.hint("SHUFFLE_HASH"), withText(idCol) === keptIds("__keep"), "left_semi")
    }
    kept.unionAll(nullText)
  }

  /** Exact-duplicate representative collapse keyed by DIGESTS, never by
    * document text (finding 22: shuffle keys are a choice). `groupBy(text)` ships whole
    * documents as the shuffle KEY: hash-partitioning, aggregate hash
    * tables, and every merge comparison run over multi-KB strings. Here
    * the collapse aggregates over (length(text), xxhash64(text)) — the
    * exchange carries ~24-byte digest rows plus the min id, and the
    * surviving reps' TEXT is recovered by the same count-gated id
    * semi-join every removal path uses: under `idBroadcastLimit` the
    * corpus text never shuffles at all (broadcast id set, map-side
    * filter); past it the corpus pays one hash partition on the 8-byte
    * id, still never on the text.
    *
    * In-group equality verify: a digest COLLISION (two different texts
    * in one digest group) would silently merge two dup groups, so each
    * group also aggregates min/max of an INDEPENDENT second hash — any
    * disagreement routes the whole group through the exact
    * `groupBy(text)` collapse (count-gated like everything else). A
    * collision silent to the verify needs distinct texts agreeing on
    * length AND two independent 64-bit hashes (~2⁻¹²⁸ per pair, ~10⁻²¹
    * across a 10⁹-doc corpus) — quantified here, not assumed away;
    * DedupSpec forces the collided branch with a degenerate digest and
    * pins equivalence to `groupBy(text)`.
    *
    * `digests` is injectable for that spec only; production callers use
    * the default. Returns (idCol, textCol) rep rows. */
  private[graft] def repCollapse(withText: DataFrame, idCol: String, textCol: String,
                                 digests: Seq[Column] = Nil,
                                 idBroadcastLimit: Long = HotShingleBroadcastLimit): DataFrame =
    collapseReps(withText, idCol, textCol, digests, idBroadcastLimit,
      carry = Nil, survivorAgg = min(col(idCol)))

  /** Shared digest-keyed collapse core behind [[repCollapse]] (min-id
    * survivor) and [[repCollapseBest]] (max-score survivor) — one copy of
    * the digest exchange, the two count gates, the collision verify, and
    * the exact fallback, so the survivorship policies cannot drift.
    * `carry` rides extra columns (e.g. the score) through the digest
    * rows; `survivorAgg` picks the surviving id per group and must be
    * deterministic (aggregate over id and carry columns only). */
  private def collapseReps(withText: DataFrame, idCol: String, textCol: String,
                           digests: Seq[Column], idBroadcastLimit: Long,
                           carry: Seq[Column], survivorAgg: Column): DataFrame = {
    val dg = if (digests.nonEmpty) digests
             else Seq(length(col(textCol)), xxhash64(col(textCol)))
    val dgCols = dg.zipWithIndex.map { case (c, i) => c.as(s"__d$i") }
    val dgNames = dg.indices.map(i => s"__d$i")
    val h2 = xxhash64(col(textCol), lit(2L))
    val keyed = withText.select(col(idCol) +: col(textCol) +: (carry ++ dgCols): _*)
    // localCheckpoint: digest+id(+carry) rows only (the text stays
    // columnar in the source scan); feeds two count gates and both joins
    val groups = keyed
      .groupBy(dgNames.map(col): _*)
      .agg(survivorAgg.as("__rid"),
        (min(h2) =!= max(h2)).as("__collided"))
      .localCheckpoint(true)
    // r22 take-gates over the CHECKPOINTED groups (both filters are cheap
    // re-reads of cached blocks): the clean-survivor ids and the collided
    // keys broadcast as local relations under their gates — the gate
    // action replaces the count AND the execution-time broadcast collect
    val cleanIds = groups.filter(!col("__collided")).select(col("__rid").as("__keep"))
    val cleanReps = Relational.collectUnderGate(cleanIds, idBroadcastLimit) match {
      case Some(rows) =>
        val local = Relational.localFrame(cleanIds, rows, cleanIds.schema)
        withText.join(broadcast(local), withText(idCol) === local("__keep"), "left_semi")
          .select(col(idCol), col(textCol))
      case None =>
        withText.join(cleanIds.hint("SHUFFLE_HASH"), withText(idCol) === cleanIds("__keep"), "left_semi")
          .select(col(idCol), col(textCol))
    }
    val collidedKeys = groups.filter(col("__collided")).select(dgNames.map(col): _*)
    Relational.collectUnderGate(collidedKeys, idBroadcastLimit) match {
      case Some(rows) if rows.isEmpty => cleanReps
      case gate =>
        val members = gate match {
          case Some(rows) =>
            keyed.join(broadcast(Relational.localFrame(collidedKeys, rows,
              collidedKeys.schema)), dgNames, "left_semi")
          case None =>
            keyed.join(collidedKeys.hint("SHUFFLE_HASH"), dgNames, "left_semi")
        }
        val exact = members.groupBy(col(textCol)).agg(survivorAgg.as(idCol))
          .select(col(idCol), col(textCol))
        cleanReps.unionAll(exact)
    }
  }

  /** Per-source exact-duplication report — the table a data team reads
    * BEFORE mixing sources ("which crawl snapshot is 40% dup"): for each
    * source, total docs, docs belonging to a corpus-wide exact-dup group
    * (`n_dup` — duplication counts across sources, the point of the
    * report), docs a min-id survivorship pass would remove
    * (`n_removable`), and the 4-dp dup rate.
    *
    * Scale shape is [[repCollapse]]'s digest discipline (finding 22):
    * the exchange carries (length, xxhash64) digests + id + source —
    * never text — and the same independent-second-hash verify routes
    * digest-collision groups through an exact text-keyed regroup
    * (collided members only, count-gated by construction ~0 rows), so
    * the counts are exact, never "modulo collisions". NULL texts carry
    * no content to duplicate and are excluded. `digests` is injectable
    * for the collision spec only. */
  def dupRateBySource(docs: DataFrame, idCol: String, textCol: String,
                      sourceCol: String,
                      digests: Seq[Column] = Nil): DataFrame = {
    val dg = if (digests.nonEmpty) digests
             else Seq(length(col(textCol)), xxhash64(col(textCol)))
    val dgCols = dg.zipWithIndex.map { case (c, i) => c.as(s"__d$i") }
    val dgNames = dg.indices.map(i => s"__d$i")
    val h2 = xxhash64(col(textCol), lit(2L))
    val base = docs.filter(col(textCol).isNotNull)
    // localCheckpoint: digest+id+source rows feed the group aggregate AND
    // the member join — the text never leaves the scan
    val keyed = base
      .select(col(idCol) +: col(sourceCol) +: h2.as("__h2") +: dgCols: _*)
      .localCheckpoint(true)
    val groups = keyed.groupBy(dgNames.map(col): _*)
      .agg(count(lit(1)).as("__n"), min(col(idCol)).as("__rid"),
        (min(col("__h2")) =!= max(col("__h2"))).as("__collided"))
      .localCheckpoint(true) // feeds the member join AND the collision gate
    val cleanStats = keyed
      .join(groups.filter(!col("__collided")).hint("SHUFFLE_HASH"), dgNames)
      .select(col(idCol), col(sourceCol), col("__n"), col("__rid"))
    val collidedKeys = groups.filter(col("__collided")).select(dgNames.map(col): _*)
    val memberStats =
      // r22: emptiness probe short-circuits at the first collided row
      // instead of counting every group (reads the checkpointed blocks)
      if (Relational.collectUnderGate(collidedKeys, 0L).isDefined) cleanStats
      else {
        // exact regroup BY TEXT for the collided members only — tiny by
        // the ~2^-128-per-pair collision bound, verified not assumed
        val members = base
          .select(col(idCol) +: col(sourceCol) +: col(textCol) +: dgCols: _*)
          .join(collidedKeys.hint("SHUFFLE_HASH"), dgNames, "left_semi")
          .localCheckpoint(true)
        val tg = members.groupBy(col(textCol))
          .agg(count(lit(1)).as("__n"), min(col(idCol)).as("__rid"))
        cleanStats.unionAll(
          members.join(tg.hint("SHUFFLE_HASH"), Seq(textCol))
            .select(col(idCol), col(sourceCol), col("__n"), col("__rid")))
      }
    memberStats.groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__n") >= 2, 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("__n") >= 2 && col(idCol) =!= col("__rid"), 1L)
          .otherwise(0L)).as("n_removable"))
      .select(col(sourceCol), col("n_docs"), col("n_dup"), col("n_removable"),
        round(col("n_dup").cast("double") / col("n_docs"), 4).as("dup_rate"))
  }

  /** [[repCollapse]] with a SURVIVORSHIP POLICY: keep, per exact-dup
    * group, the member with the highest `score` (min id on ties) instead
    * of the min id — the RefinedWeb-style "keep the best copy" rule.
    * Within an exact-dup group the TEXT is identical, so a meaningful
    * score comes from metadata: source priority, recency (the id
    * itself), a quality/classifier column. `score` must be non-null and
    * non-NaN (negation drives the lexicographic struct-min below).
    *
    * Same scale shape as [[repCollapse]]: the exchange carries (length,
    * xxhash64) digests plus (score, id), never text; the independent
    * second hash verifies in-group equality, routing digest collisions
    * through the exact `groupBy(text)` collapse; rep rows return via the
    * count-gated id semi-join. Returns (idCol, textCol) rep rows. */
  private[graft] def repCollapseBest(withText: DataFrame, idCol: String,
                                     textCol: String, score: Column,
                                     idBroadcastLimit: Long = HotShingleBroadcastLimit): DataFrame =
    collapseReps(withText, idCol, textCol, digests = Nil, idBroadcastLimit,
      carry = Seq(score.cast("double").as("__sc")),
      // min(struct(-score, id)) = (max score, then min id) — one
      // deterministic aggregate, no max_by tie ambiguity
      survivorAgg = min(struct((-col("__sc")).as("s"), col(idCol).as("i")))
        .getField("i"))

  /** Connected components over a duplicate-pair graph: transitive closure
    * of near-duplicate clusters (A~B, B~C ⇒ {A,B,C} one component, even
    * when A~C was never emitted as a pair). Iterative min-label
    * propagation — each round every node adopts the smallest component id
    * among itself and its neighbors; converges in O(component diameter)
    * rounds (duplicate clusters are shallow).
    *
    * Scale hygiene for iterative Spark: `localCheckpoint` each round cuts
    * the exponentially growing lineage (without it round k replays all
    * k-1 predecessors), and convergence is detected by counting changed
    * labels. Returns (node, comp) with comp = min node id of the
    * component. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter)._1

  /** [[connectedComponents]] plus the number of propagation rounds it took
    * to converge (the scale metric: each round is a full edges⋈labels
    * shuffle, so rounds ARE the cost of the operator).
    *
    * Pointer jumping (comp := comp of comp) turns a diameter-d chain from
    * O(d) rounds into O(log d), but each jump is an extra labels self-join
    * + checkpoint per round — measured SLOWER on the shallow component
    * graphs real dedup corpora produce (PERF finding 13's A/B: every
    * round paid the self-join, none saved a round; the deleted CcAb:
    * `git show 2262a09:src/main/scala/graft/tools/CcAb.scala`). So jumping is GATED: plain
    * min-propagation for the first `jumpFromRound - 1` rounds — enough for
    * the common diameter ≤ 3 clusters to converge without ever paying it —
    * then doubling kicks in for genuinely deep graphs.
    *
    * Throws [[IllegalStateException]] when `maxIter` is exhausted before
    * convergence: partial labels are WRONG clusters, and at scale a silent
    * partial result would poison a dedup pass with no signal.
    */
  def connectedComponentsWithRounds(pairs: DataFrame, maxIter: Int = 20,
                                    jumpFromRound: Int = 3): (DataFrame, Int) = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    // initialization fuses the first propagation round: with comp₀ = node,
    // round 1 would compute least(node, min(neighbor)) — that's a plain
    // aggregate over edges, no join needed, so start there (one fewer
    // full edges⋈labels iteration at any scale)
    var labels = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("comp"))
      .select(col("src").as("node"), col("comp"))
      .localCheckpoint(true)
    def labelSum(df: DataFrame): Long =
      df.agg(sum(col("comp"))).collect().head.getLong(0)
    var i = 0
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("node"))
        .groupBy(col("src")).agg(min("comp").as("ncomp"))
      val prop = labels
        .join(neighborMin, labels("node") === neighborMin("src"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
        .localCheckpoint(true)
      // `comp` is always a node id present in `prop`, but the jump join
      // stays `left` + coalesce so a missing parent degrades to the
      // un-jumped label rather than dropping the node.
      val updated = if (i + 1 >= jumpFromRound) {
        val parent = prop.select(col("node").as("p_node"), col("comp").as("p_comp"))
        prop
          .join(parent, prop("comp") === parent("p_node"), "left")
          .select(prop("node"),
            least(col("comp"), coalesce(col("p_comp"), col("comp"))).as("comp"))
          .localCheckpoint(true)
      } else prop
      // labels only ever decrease, so the label sum is a strictly
      // decreasing convergence witness — one aggregate on the already-
      // checkpointed frame instead of a self-join diff count
      val s = labelSum(updated)
      converged = s == prevSum
      prevSum = s
      labels = updated
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter rounds — " +
          "partial labels would be wrong clusters; raise maxIter")
    (labels, i)
  }

  /** Line-level exact dedup (the C4 / RefinedWeb curation step: repeated
    * lines — boilerplate, navigation, legal footers — are removed
    * corpus-wide, keeping only the FIRST occurrence in (doc, position)
    * order; documents are reassembled from their surviving lines).
    *
    * Scale shape: one groupBy(line) whose min-aggregate folds map-side
    * (hot boilerplate lines — the Zipf head this operator exists for —
    * partial-aggregate before the shuffle), one equi-join of occurrences
    * against winners (1 row per distinct line on the build side), one
    * groupBy(doc) to reassemble. No collect, no window over the corpus;
    * the only per-element lambda is the field extraction in reassembly
    * (bounded by lines-per-doc, not corpus size).
    *
    * Returns (idCol, textCol) with deduped text; docs whose every line
    * was claimed elsewhere drop out entirely (matching the SQL shape). */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                sep: String = "\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    // localCheckpoint: occurrences feed the winners aggregate AND the
    // survivor join; materialize the explode once
    val lines = docs
      .select(col(idCol).as("doc"),
        posexplode(split(col(textCol), quoted)).as(Seq("pos", "line")))
      .localCheckpoint(true)
    val winners = lines.groupBy("line")
      .agg(min(struct(col("doc"), col("pos"))).as("w"))
    lines.join(winners, Seq("line"))
      .filter(col("doc") === col("w.doc") && col("pos") === col("w.pos"))
      .groupBy(col("doc"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), sep).as("text"),
        count(lit(1)).cast("int").as("n_lines"))
      .select(col("doc").as(idCol), col("text").as(textCol), col("n_lines"))
  }

  /** MOSS winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03
    * — textbook algorithm, original implementation): hash every k-CHAR
    * gram of the document, slide a window of `w` consecutive gram hashes,
    * keep each window's minimum. Guarantee: two documents sharing any
    * substring of length ≥ w + k − 1 characters share at least one
    * fingerprint. This is the EXACT-SUBSTRING duplication regime (Lee et
    * al., ACL'22): shared license blocks, boilerplate headers, long
    * quotations between documents whose whole-document Jaccard/MinHash
    * similarity is far below any near-dup threshold — invisible to
    * [[jaccardNearDup]]/[[minhashLsh]], caught here.
    *
    * Scale shape: the fingerprint set is a PURE PROJECTION per document
    * (gram hashes → window minima → distinct), so the corpus never
    * shuffles to build signatures; only the ~2/(w+1)-density posting list
    * (doc, fp) leaves the scan. Hash = first 16 hex chars of md5 (64
    * bits), chosen over xxhash so the DuckDB oracle mirrors the selection
    * exactly — the window minimum is an order statistic, so any shared
    * total order gives the same fingerprints. Docs shorter than w+k−1
    * chars have no full window and produce no fingerprints (both sides
    * filter them).
    *
    * The selection runs in ONE compiled pass per document
    * ([[graft.functions.WinnowFingerprints]]: md5 grams + monotone-deque
    * window minima, O(len)); the HOF spelling (`transform` of md5 grams →
    * `transform` of `array_min(slice(…))`) measured 75 s for 500 sf0.01
    * docs — interpreted lambdas, and projection collapse re-evaluates the
    * gram array under the window lambda, making it O(len²) md5 calls
    * (PERF.md finding 23). */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 16, w: Int = 8): DataFrame =
    docs
      .filter(length(col(textCol)) >= k + w - 1)
      .select(col(idCol).as("doc"),
        explode(graft.functions.WinnowFingerprints.winnow(col(textCol), k, w)).as("fp"))

  /** Cross-document shared-substring pairs over winnowed fingerprints:
    * documents sharing ≥ `minShared` fingerprints — near-certainly
    * sharing that many distinct ≥ w+k−1-char substrings (modulo 64-bit
    * collisions). `maxDf` drops fingerprints posted by more than `maxDf`
    * docs before pairing: a df-m fingerprint alone contributes C(m,2)
    * pairs, and a fingerprint shared by hundreds of documents is
    * boilerplate, evidence of nothing — the same stop-shingle economics
    * as [[jaccardNearDup]]'s maxDf and [[decontaminate]]'s stopDf. With
    * bounded df the pair join is linear in the posting list; SHUFFLE_HASH
    * pins both joins off the sort-merge/broadcast flip-flop.
    *
    * The hex fingerprints are re-hashed to 8-BYTE LONGS before anything
    * shuffles (the finding-22 rule: shuffle keys are a choice) — the
    * string form exists only for oracle-comparable SELECTION inside the
    * per-doc projection; pair identity survives any total re-keying, so
    * the df cut, the semi-join, and the pair join all move 8-byte keys
    * instead of 16-char strings. A long collision merges two
    * fingerprints — birthday bound C(n,2)/2⁶⁴ ≈ 0.03 expected colliding
    * PAIRS at 10⁹ distinct fingerprints (quadratic in n; ~10⁻¹⁰ only at
    * ~10⁵) — and its worst effect is summing two fingerprints' df and
    * overcounting one pair's n_shared by 1: bounded noise in an
    * already-approximate boilerplate cut, never a dropped pair. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 16, w: Int = 8, minShared: Int = 2,
                  maxDf: Int = 50): DataFrame = {
    // localCheckpoint ×2: the fingerprint projection feeds the df cut AND
    // the semi-join (materialize the md5/deque pipeline once); the pruned
    // posting list feeds BOTH pair-join sides (without it the df
    // aggregate and semi-join each plan twice)
    val fp = winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col("doc"), xxhash64(col("fp")).as("fp"))
      .localCheckpoint(true)
    val keep = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    val posting = fp.join(keep.hint("SHUFFLE_HASH"), Seq("fp"), "left_semi")
      .localCheckpoint(true)
    val a = posting.select(col("fp"), col("doc").as("doc_a"))
    val b = posting.select(col("fp"), col("doc").as("doc_b"))
    a.join(b.hint("SHUFFLE_HASH"), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact-substring decontamination ids: corpus docs sharing at least
    * `minShared` winnowed fingerprints with the benchmark — i.e. verbatim
    * quotes of ≥ w+k−1 chars. The CHAR-level analog of
    * [[contaminatedIds]]: a benchmark item quoted verbatim inside a long
    * document clears no whole-document similarity bar, and word-n-gram
    * overlap can miss it when tokenization differs (punctuation splits,
    * casing, joined words) — the winnowing guarantee is tokenizer-free.
    *
    * Scale shape mirrors the n-gram form exactly: the benchmark
    * fingerprint set is COUNT-GATED broadcast (past `fpBroadcastLimit`
    * both semi-joins run shuffled-hash), the corpus fingerprint stream is
    * a pure projection ([[winnowFingerprints]]), and only
    * benchmark-hitting postings — bounded by the docs actually quoting
    * the benchmark — reach the per-doc count. `stopDf`: a benchmark
    * fingerprint present in more than `stopDf` corpus docs is boilerplate
    * (license headers ARE ≥ 23-char shared substrings), evidence of
    * nothing; df is counted map-side after the semi-join, so the corpus
    * still never shuffles under the gate. Fingerprints are re-hashed to
    * 8-byte longs before the semi-join like [[winnowPairs]] — the
    * broadcast set and every join key move longs, not hex strings. */
  def substringContaminatedIds(corpus: DataFrame, benchmark: DataFrame,
                               idCol: String, textCol: String,
                               k: Int = 16, w: Int = 8, minShared: Int = 1,
                               stopDf: Option[Int] = None,
                               fpBroadcastLimit: Long = HotShingleBroadcastLimit): DataFrame = {
    def hashedFps(df: DataFrame) =
      winnowFingerprints(df, idCol, textCol, k, w)
        .select(col("doc"), xxhash64(col("fp")).as("fp"))
    // r22 take-gate (the contaminatedIds posture): the benchmark
    // fingerprint longs collect in ONE action and ship as a local
    // relation under the gate — replaces the eager checkpoint + count
    // pair and the execution-time broadcast collect. Past the gate the
    // distinct re-runs into a checkpoint: one extra pass over the
    // BENCHMARK fingerprints, the small side, on an arm whose
    // corpus-postings shuffle dominates it.
    val benchFpDistinct = hashedFps(benchmark).select("fp").distinct()
    val localFp = Relational.collectUnderGate(benchFpDistinct, fpBroadcastLimit)
    val useBroadcast = localFp.isDefined
    val benchFp = localFp match {
      case Some(rows) =>
        Relational.localFrame(benchFpDistinct, rows, benchFpDistinct.schema)
      case None => benchFpDistinct.localCheckpoint(true)
    }
    def fpJoin(df: DataFrame, set: DataFrame): DataFrame =
      if (useBroadcast) df.join(broadcast(set), Seq("fp"), "left_semi")
      else df.join(set.hint("SHUFFLE_HASH"), Seq("fp"), "left_semi")
    val rawHits = fpJoin(hashedFps(corpus), benchFp)
    val filtered = stopDf match {
      case Some(m) =>
        // checkpoint only here: the hit list feeds the df pass AND the
        // per-doc count (with no stopDf it has a single consumer and the
        // materialization would be pure overhead)
        val hits = rawHits.localCheckpoint(true)
        val keepFp = hits.groupBy("fp").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= m).select("fp")
        hits.join(keepFp.hint("SHUFFLE_HASH"), Seq("fp"), "left_semi")
      case None => rawHits
    }
    // (doc, fp) is distinct by construction, so the count is the number
    // of distinct shared fingerprints
    filtered.groupBy("doc").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minShared).select("doc")
  }

  /** Drop every corpus doc quoting ≥ `minShared` verbatim ≥ w+k−1-char
    * substrings of the benchmark — [[substringContaminatedIds]] routed
    * through the shared count-gated removal pass ([[removeIds]]). */
  def winnowDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 16, w: Int = 8, minShared: Int = 1,
                          stopDf: Option[Int] = None,
                          idBroadcastLimit: Long = HotShingleBroadcastLimit,
                          fpBroadcastLimit: Long = HotShingleBroadcastLimit): DataFrame =
    removeIds(corpus, idCol,
      substringContaminatedIds(corpus, benchmark, idCol, textCol, k, w,
        minShared, stopDf, fpBroadcastLimit),
      idBroadcastLimit)

  /** SPAN-level exact-substring dedup — ExactSubstr's second half (Lee et
    * al., ACL'22 §4.1): instead of dropping a whole document that shares a
    * long verbatim run with another ([[winnowPairs]]' regime), remove just
    * the duplicated SPANS and keep the rest of the document. Duplication
    * is witnessed by winnowed fingerprints ([[winnowFingerprints]]): a
    * selected k-gram occurrence appearing ≥ 2 times corpus-wide (across
    * docs OR repeated inside one doc) is duplicated; survivorship is
    * keep-first — the globally smallest (doc, pos) occurrence survives,
    * every other occurrence's extent [pos, pos+k) is cut ([[lineDedup]]'s
    * first-occurrence policy at codepoint-span granularity). Inside a
    * shared run, consecutive selected starts differ by ≤ w grams, so with
    * w < k the cut extents overlap and merge into one contiguous span
    * covering the run interior; up to w+k−2 edge chars survive (their
    * windows straddle run boundaries and pick unshared grams) — the
    * winnowing approximation of the paper's exact suffix-array spans.
    *
    * Scale shape: the posting list (doc, fp, pos) is a pure projection
    * (one compiled pass per doc, [[graft.functions.WinnowPositions]]);
    * fingerprints re-hash to 8-byte longs before anything shuffles
    * (finding 22 — a long collision merges two fingerprints and at worst
    * cuts one non-duplicated span, bounded noise, never a crash); the
    * keeper aggregate and cut join are linear in the posting list — NO
    * pair join exists in the span regime, so no maxDf cut is needed (a
    * df-m fingerprint contributes m−1 cuts, not C(m,2) pairs — boilerplate
    * is exactly what span-cutting is FOR). Per-doc cut arrays are bounded
    * by fingerprint density (~2/(w+1) per char), smaller than the text
    * already in the row; reassembly is the O(len) compiled pass
    * [[graft.functions.CutSpans]].
    *
    * Returns every input row (null texts and short docs pass through
    * uncut) with `textCol` rewritten and `n_cut` = codepoints removed. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 16, w: Int = 8): DataFrame = {
    val base = docs.select(col(idCol).as("doc"), col(textCol).cast("string").as("__text"))
    // localCheckpoint: the posting projection feeds the keeper aggregate
    // AND the cut join
    val posting = spanPosting(base, k, w).localCheckpoint(true)
    val keepers = posting.groupBy("fp")
      .agg(count(lit(1)).as("__n"), min(struct(col("doc"), col("pos"))).as("__keep"))
      .filter(col("__n") >= 2)
      .select(col("fp"), col("__keep"))
    // every occurrence of a duplicated fingerprint except the global first
    val cuts = posting.join(keepers.hint("SHUFFLE_HASH"), Seq("fp"))
      .filter(!(col("doc") === col("__keep.doc") && col("pos") === col("__keep.pos")))
      .select(col("doc"), col("pos"))
    cutAndReassemble(base, cuts, idCol, textCol, k)
  }

  /** Selected winnow-fingerprint occurrences of a (doc, __text) frame:
    * (doc, fp as 8-byte long, pos) — one compiled projection pass, no
    * shuffle (finding 22: the hex fp exists only inside the selection;
    * everything that shuffles moves longs). */
  private def spanPosting(base: DataFrame, k: Int, w: Int): DataFrame =
    base
      .filter(col("__text").isNotNull && length(col("__text")) >= k + w - 1)
      .select(col("doc"),
        explode(graft.functions.WinnowFingerprints.winnowPos(col("__text"), k, w)).as("o"))
      .select(col("doc"), xxhash64(col("o.fp")).as("fp"), col("o.pos").as("pos"))

  /** Shared reassembly half of the span operators: merge each doc's cut
    * starts (sorted; constant width k merges via the cursor inside
    * [[graft.functions.CutSpans]]) and rewrite the text. The per-doc cut
    * array is bounded by fingerprint density (~2/(w+1) per char) —
    * smaller than the text already in the row, never corpus-scaled. */
  private def cutAndReassemble(base: DataFrame, cuts: DataFrame,
                               idCol: String, textCol: String, k: Int): DataFrame = {
    val cutList = cuts.groupBy("doc")
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    base.join(cutList.hint("SHUFFLE_HASH"), Seq("doc"), "left")
      .select(col("doc"), col("__text"),
        when(col("__starts").isNull, col("__text"))
          .otherwise(graft.functions.CutSpans.cutSpans(col("__text"), col("__starts"), k))
          .as("__cut"))
      .select(col("doc").as(idCol), col("__cut").as(textCol),
        (coalesce(length(col("__text")), lit(0)) -
          coalesce(length(col("__cut")), lit(0))).cast("long").as("n_cut"))
  }

  /** SPAN-level decontamination — [[winnowDecontaminate]]'s surgical
    * sibling: instead of dropping every corpus doc that quotes the
    * benchmark verbatim, cut just the quoted spans (every corpus
    * occurrence of a benchmark winnow fingerprint loses its extent
    * [pos, pos+k)) and keep the rest of the document. No stopDf cut
    * exists here ON PURPOSE: df cuts protect whole-doc rules from nuking
    * docs on boilerplate evidence, but span-cut only removes the
    * matching bytes — cutting boilerplate that happens to also be in the
    * benchmark is a feature, and there is no pair join for a hot
    * fingerprint to blow up (m occurrences cost m cuts, not C(m,2)).
    *
    * Scale shape mirrors [[substringContaminatedIds]]: benchmark fp set
    * count-gated broadcast (SHUFFLE_HASH past `fpBroadcastLimit`),
    * corpus posting is a pure projection, the cut join is a semi-join on
    * 8-byte keys, reassembly is the shared O(len) pass.
    *
    * Returns every corpus row (uncut docs pass through) as
    * (idCol, textCol rewritten, n_cut). */
  def spanDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String,
                        k: Int = 16, w: Int = 8,
                        fpBroadcastLimit: Long = HotShingleBroadcastLimit): DataFrame = {
    val base = corpus.select(col(idCol).as("doc"), col(textCol).cast("string").as("__text"))
    // r22 take-gate (the substringContaminatedIds posture): benchmark
    // fingerprint longs ship as a local relation under the gate; past it
    // the distinct re-runs into a checkpoint — one extra pass over the
    // benchmark side only
    val benchFpDistinct = winnowFingerprints(benchmark, idCol, textCol, k, w)
      .select(xxhash64(col("fp")).as("fp")).distinct()
    val posting = spanPosting(base, k, w)
    val cuts =
      (Relational.collectUnderGate(benchFpDistinct, fpBroadcastLimit) match {
        case Some(rows) =>
          posting.join(broadcast(Relational.localFrame(benchFpDistinct, rows,
            benchFpDistinct.schema)), Seq("fp"), "left_semi")
        case None =>
          posting.join(benchFpDistinct.localCheckpoint(true).hint("SHUFFLE_HASH"),
            Seq("fp"), "left_semi")
      }).select(col("doc"), col("pos"))
    cutAndReassemble(base, cuts, idCol, textCol, k)
  }

  /** Test-set decontamination: drop every corpus document that shares at
    * least one word n-gram with the benchmark set (the n-gram-overlap
    * rule — GPT-3 used 13-grams, Gopher/MassiveText 8-grams — standard in
    * large-scale training-data pipelines to keep eval sets out of the
    * training corpus).
    *
    * Scale shape: the benchmark is tiny relative to a 100 TB corpus, so
    * its distinct shingle-hash set BROADCASTS; finding contaminated ids is
    * then a map-side semi-join over the corpus postings (corpus never
    * shuffles), and removal is a broadcast anti-join of the (small)
    * contaminated-id set — two streaming passes over the corpus, zero
    * corpus-sized shuffles. Shingling reuses the fused
    * [[graft.functions.ShingleHashes]] codegen pass.
    *
    * The contaminated-id set is *usually* bounded by the docs that overlap
    * the benchmark — a sliver of the corpus for a real held-out benchmark.
    * But common n-grams (boilerplate, stock phrases — the reason GPT-3
    * moved to 13-grams) can contaminate a large corpus fraction, so the
    * id broadcast is GATED on an actual count, mirroring the maxDf
    * hot-shingle gate in [[jaccardNearDup]]: past `idBroadcastLimit` the
    * removal becomes a distributed shuffled-hash anti-join instead of a
    * driver-funneled broadcast. The benchmark SHINGLE set is gated the
    * same way, with a Bloom middle path: past `shingleBroadcastLimit`
    * but under `bloomItemLimit`, a ~10-bit/key filter over the benchmark
    * shingles broadcasts where the exact set cannot, the corpus postings
    * prefilter map-side, and only prefilter survivors reach the shuffled
    * exact semi-join. All paths are result-identical
    * (DedupSpec pins them). Decontaminating against a benchmark comparable
    * in size to the corpus is a near-dup join, not decontamination: use
    * [[jaccardNearDup]] there instead. */
  /** The contaminated-id frame: corpus docs sharing ≥1 word n-gram with
    * the benchmark. The benchmark's distinct shingle set broadcasts, so
    * this is a map-side semi-join over corpus postings — the corpus never
    * shuffles (plan pinned by DedupSpec). Exposed un-checkpointed so the
    * spec can assert the plan shape [[decontaminate]] materializes.
    *
    * `stopDf`: benchmark-side stop-shingle cut — a benchmark n-gram
    * occurring in more than `stopDf` corpus docs is boilerplate (stock
    * phrase, license header), evidence of nothing; matching on it would
    * nuke a corpus fraction (the failure mode that pushed GPT-3 from 8-
    * to 13-grams). The df count runs AFTER the benchmark semi-join, so
    * only benchmark-hitting postings aggregate — the corpus itself still
    * never shuffles, it is scanned twice (df pass + contamination pass),
    * both map-side. */
  /** Broadcastable `might_contain` prefilter over `keys`' long `keyCol`
    * (explicit 10 bits/key → fpp ≈ 1%; Spark's 2-arg constructor would
    * size at 8 bits/key ≈ 2%, ADVICE r11) — the Bloom middle-path
    * builder shared by
    * [[contaminatedIds]] and [[contaminationReport]]. None when the key
    * set is empty (nothing can match) or over `bloomItemLimit` (the
    * aggregate would clamp and the filter degrade — callers fall back to
    * the plain distributed join). The filter has no false negatives and
    * every caller verifies survivors with an exact join, so prefiltered
    * plans are result-identical to unfiltered ones. */
  private def bloomPrefilter(keys: DataFrame, keyCol: String, nKeys: Long,
                             bloomItemLimit: Long): Option[Column] =
    if (nKeys > 0 && nKeys <= bloomItemLimit) {
      import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.graft.ColumnShim
      val bloomAgg = ColumnShim.column(new BloomFilterAggregate(
        ColumnShim.expression(col(keyCol)),
        org.apache.spark.sql.catalyst.expressions.Literal(nKeys),
        org.apache.spark.sql.catalyst.expressions.Literal(nKeys * 10L))
        .toAggregateExpression())
      val bloomBytes = keys.select(bloomAgg.as("bf"))
        .head().getAs[Array[Byte]]("bf")
      Some(ColumnShim.column(BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal.create(bloomBytes,
          org.apache.spark.sql.types.BinaryType),
        ColumnShim.expression(col(keyCol)))))
    } else None

  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                      textCol: String, n: Int,
                      stopDf: Option[Int] = None,
                      shingleBroadcastLimit: Long = HotShingleBroadcastLimit,
                      bloomItemLimit: Long = BloomItemLimit): DataFrame = {
    def postingsOf(df: DataFrame) = df
      .select(col(idCol).as("doc"), Text.tokens(col(textCol)).as("__ws"))
      .select(col("doc"),
        explode(graft.functions.ShingleHashes.sortedShingleHashes(col("__ws"), n)).as("sh"))
    // the benchmark SHINGLE set is count-gated like every other broadcast
    // that scales with data (no-small-by-construction): a benchmark's
    // distinct 8-gram set is ~tokens-sized — much larger than its id
    // set — and past the gate the semi-joins run shuffled-hash (the
    // corpus postings pay a hash partition, nothing funnels the driver).
    // Under the gate (r22) the distinct shingle hashes collect in ONE
    // take action and ship as a local relation — replaces the eager
    // checkpoint + count pair AND the broadcast-collect job the semi-join
    // paid to pull the same longs back off executors (the
    // collectUnderGate posture; same driver bytes the broadcast already
    // held). Past the gate the distinct re-runs into a checkpoint — one
    // extra pass over the BENCHMARK postings, the small side, on an arm
    // whose corpus-postings shuffle dominates it.
    val benchShDistinct = postingsOf(benchmark).select("sh").distinct()
    val localSh = Relational.collectUnderGate(benchShDistinct, shingleBroadcastLimit)
    val useBroadcast = localSh.isDefined
    val benchShRaw = localSh match {
      case Some(rows) => Relational.localFrame(benchShDistinct, rows, benchShDistinct.schema)
      case None => benchShDistinct.localCheckpoint(true)
    }
    lazy val nBenchSh = benchShRaw.count()
    // MIDDLE path (the [[incrementalCandidates]] posture): past the
    // exact-set broadcast gate but under the Bloom cap, a ~10-bit/key
    // Bloom filter over the benchmark shingles still broadcasts where the
    // exact set cannot (~5 MB at 4M keys vs ~32 MB+ of raw longs plus
    // hash-relation overhead), so the corpus postings PREFILTER map-side
    // and only true hits + ~1% false positives reach the shuffled exact
    // semi-join — the join that was corpus-postings-sized becomes
    // contamination-sized. No false negatives, and survivors are verified
    // by the exact join, so the result is identical on every path
    // (DedupSpec pins all three).
    val bloomPre: Option[Column] =
      if (useBroadcast) None
      else bloomPrefilter(benchShRaw, "sh", nBenchSh, bloomItemLimit)
    def shJoin(df: DataFrame, set: DataFrame): DataFrame =
      if (useBroadcast) df.join(broadcast(set), Seq("sh"), "left_semi")
      else bloomPre.fold(df)(df.filter(_))
        .join(set.hint("SHUFFLE_HASH"), Seq("sh"), "left_semi")
    val effective = stopDf match {
      case Some(m) =>
        // a benchmark shingle absent from the corpus has no bhits row —
        // and also nothing to contaminate, so dropping it changes nothing.
        // |eff| <= |benchSh|, so the same gate decision applies.
        shJoin(postingsOf(corpus), benchShRaw)
          .groupBy("sh").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= m).select("sh")
      case None => benchShRaw
    }
    shJoin(postingsOf(corpus), effective)
      .select(col("doc")).distinct()
  }

  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int = 8,
                    idBroadcastLimit: Long = HotShingleBroadcastLimit,
                    stopDf: Option[Int] = None,
                    shingleBroadcastLimit: Long = HotShingleBroadcastLimit,
                    bloomItemLimit: Long = BloomItemLimit): DataFrame =
    removeIds(corpus, idCol,
      contaminatedIds(corpus, benchmark, idCol, textCol, n, stopDf,
        shingleBroadcastLimit, bloomItemLimit),
      idBroadcastLimit)

  /** Per-benchmark-item contamination AUDIT — which benchmark docs leak
    * into the corpus, and how widely: for every benchmark doc, the number
    * of distinct corpus docs sharing ≥1 n-gram with it and the number of
    * distinct shared n-grams. The report a leakage review reads BEFORE
    * choosing removal policy ([[contaminatedIds]] answers "which corpus
    * docs to drop"; this answers "which eval items are compromised and
    * how badly" — the per-benchmark overlap statistic GPT-3's
    * contamination appendix tabulates). Benchmark docs with zero overlap
    * appear with zeros, so the output is exactly |benchmark| rows.
    *
    * Scale shape: both sides shingle map-side (the fused
    * [[graft.functions.ShingleHashes]] pass, distinct within doc); the
    * benchmark (doc, shingle) posting set is count-gated broadcast ↔
    * SHUFFLE_HASH (the [[contaminatedIds]] gate); the join emits only
    * benchmark-hitting rows and aggregates per benchmark id — the corpus
    * never shuffles on the broadcast path and the result is
    * |benchmark|-bounded. The report join fans out |bench docs with sh| ×
    * |corpus docs with sh| rows PER SHINGLE — a boilerplate 8-gram
    * (license header, nav text) shared by many docs on both sides is the
    * skewed-posting-list quadratic the conventions bound at source, so
    * `stopDf` cuts benchmark shingles whose CORPUS df exceeds it
    * (counted map-side after the semi-join, [[contaminatedIds]]'
    * mechanism) before the fan-out join. Boilerplate proves nothing
    * about leakage, so the audit defaults the cut ON where removal
    * ([[contaminatedIds]]) defaults it off for exactness. */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String, n: Int = 8,
                          stopDf: Option[Int] = Some(10000),
                          shingleBroadcastLimit: Long = HotShingleBroadcastLimit,
                          bloomItemLimit: Long = BloomItemLimit): DataFrame = {
    def postingsOf(df: DataFrame) = df
      .select(col(idCol).as("doc"), Text.tokens(col(textCol)).as("__ws"))
      .select(col("doc"),
        explode(graft.functions.ShingleHashes.sortedShingleHashes(col("__ws"), n)).as("sh"))
    // r22 take-gate (the contaminatedIds posture): under the gate the
    // benchmark posting rows ship as a local relation; past it the
    // distinct re-runs into a checkpoint — an extra pass over the
    // benchmark side only
    val benchPDistinct = postingsOf(benchmark)
      .select(col("doc").as("bench_doc"), col("sh")).distinct()
    val localP = Relational.collectUnderGate(benchPDistinct, shingleBroadcastLimit)
    val useBroadcast = localP.isDefined
    val benchP = localP match {
      case Some(rows) =>
        Relational.localFrame(benchPDistinct, rows, benchPDistinct.schema)
      case None => benchPDistinct.localCheckpoint(true)
    }
    // the [[contaminatedIds]] Bloom middle path, over the DISTINCT
    // benchmark shingles (benchP repeats a shingle per bench doc): every
    // corpus-side probe below prefilters map-side before its shuffled
    // exact join, so the shuffle carries benchmark-hitting postings only
    val bloomPre: Option[Column] =
      if (useBroadcast) None
      else {
        val benchSh = benchP.select("sh").distinct().localCheckpoint(true)
        bloomPrefilter(benchSh, "sh", benchSh.count(), bloomItemLimit)
      }
    def pre(df: DataFrame): DataFrame = bloomPre.fold(df)(df.filter(_))
    def semi(df: DataFrame, set: DataFrame): DataFrame =
      if (useBroadcast) df.join(broadcast(set), Seq("sh"), "left_semi")
      else pre(df).join(set.hint("SHUFFLE_HASH"), Seq("sh"), "left_semi")
    // |effective| <= |benchP|, so the same gate decision applies
    val benchEff = stopDf match {
      case Some(m) =>
        val eff = semi(postingsOf(corpus), benchP.select("sh").distinct())
          .groupBy("sh").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= m).select("sh")
        semi(benchP, eff)
      case None => benchP
    }
    val joined =
      if (useBroadcast)
        postingsOf(corpus).join(broadcast(benchEff), Seq("sh"))
      else pre(postingsOf(corpus)).join(benchEff.hint("SHUFFLE_HASH"), Seq("sh"))
    val hits = joined
      .groupBy("bench_doc")
      .agg(countDistinct(col("doc")).as("n_docs"),
        countDistinct(col("sh")).as("n_shingles"))
    benchmark.select(col(idCol).as("bench_doc")).distinct()
      .join(hits, Seq("bench_doc"), "left")
      .select(col("bench_doc"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"))
  }

  /** Remove every row whose id appears in `doomedIds` (a 1-column `doc`
    * frame) — the count-gated anti-join every removal path shares: the
    * distinct doomed-id set at or under `idBroadcastLimit` ships as a
    * broadcast (the corpus never shuffles); past it the removal is a
    * distributed shuffled-hash anti-join (the id set never funnels
    * through the driver). Doom sources COMPOSE by unioning their id
    * frames before one removal pass — one corpus scan however many
    * filters contributed (see the curation v4 query). */
  def removeIds(df: DataFrame, idCol: String, doomedIds: DataFrame,
                idBroadcastLimit: Long = HotShingleBroadcastLimit): DataFrame = {
    // localCheckpoint: the id set feeds the gate AND the anti-join — it
    // STAYS even though the r22 take-gate could skip it, because the
    // doomed-id pipeline behind it (a full contamination pass) is the one
    // input in this family too expensive to re-derive on a failed gate
    val doomed = doomedIds.select(col("doc")).distinct().localCheckpoint(true)
    Relational.collectUnderGate(doomed, idBroadcastLimit) match {
      case Some(rows) =>
        // rows are on the driver from the gate itself — the anti-join
        // broadcasts a local relation instead of re-collecting the
        // checkpoint at execution (r22: one fewer action per removal)
        val local = Relational.localFrame(doomed, rows, doomed.schema)
        df.join(broadcast(local), df(idCol) === local("doc"), "left_anti")
      case None =>
        // scale path: the corpus pays one hash-partition shuffle, but the
        // doomed set never funnels through the driver
        df.join(doomed.hint("SHUFFLE_HASH"), df(idCol) === doomed("doc"), "left_anti")
    }
  }

  /** SEMANTIC test-set decontamination ids: corpus rows whose embedding
    * sits within cosine `tau` of ANY benchmark embedding. The embedding
    * analog of [[contaminatedIds]]: a paraphrased eval item shares no
    * 8-gram with its source but keeps its embedding neighborhood, so
    * n-gram decontamination alone under-removes — production pipelines
    * run both. Scale shape mirrors the n-gram form exactly: an eval-set
    * benchmark BROADCASTS and scoring is one map-side pass over the
    * corpus (the corpus never shuffles to score); only the
    * contaminated-id set — bounded by the docs actually near the
    * benchmark — reaches the distinct.
    *
    * The broadcast is COUNT-GATED, not assumed (the no-small-by-
    * construction rule). Past `benchBroadcastLimit` rows the pass is NOT
    * an n·m cartesian: it becomes CELL-SCOPED —
    * a quantizer trains on the corpus∪benchmark union (sized by
    * [[cellsFor]], switching to the two-level residual quantizer past
    * [[HierarchicalCellsThreshold]] exactly like [[semanticDedupSized]]),
    * the corpus indexes to its nearest cell, each benchmark row probes
    * its `nprobe` nearest cells, and cosine runs only within a cell — an
    * equi-join on the cell id, expected |cell| ≈ targetCellSize per
    * probe. APPROXIMATION, documented stop-shingle-style: past the gate a
    * corpus doc whose benchmark neighbor quantizes outside the doc's cell
    * is missed — the standard IVF recall trade; `nprobe` widens it, and
    * DedupSpec pins both-paths agreement on a clustered planted corpus.
    * Skew note: a dense region in BOTH frames concentrates one cell, and
    * that cell's task pays |corpus cell|·|bench probes| comparisons — no
    * anchor cut applies here (contamination is per-pair against real
    * benchmark vectors, not transitive like dedup survivorship); shrink
    * `targetCellSize` to trade more cells for smaller per-task bounds.
    * Under the gate the result stays EXACT (broadcast cartesian). A
    * benchmark comparable to the corpus is really a near-dup join —
    * [[embeddingNearDup]] bounds that regime with LSH candidate
    * generation instead. */
  def semanticContaminatedIds(corpus: DataFrame, idCol: String, vecCol: String,
                              benchmark: DataFrame, benchVecCol: String,
                              tau: Double,
                              benchBroadcastLimit: Long = HotShingleBroadcastLimit,
                              nprobe: Int = 4,
                              targetCellSize: Int = SemanticTargetCellSize,
                              seed: Long = 42L,
                              sampleFraction: Double = 1.0,
                              hierarchicalThreshold: Int = HierarchicalCellsThreshold): DataFrame = {
    // r22 take-gate: under the gate the benchmark vectors ship as a
    // local relation (the same driver bytes the broadcast cartesian
    // already held); past it the select re-runs into a checkpoint — one
    // extra pass over the BENCHMARK side only
    val b0 = benchmark.select(col(benchVecCol).as("__bv"))
    val localB = Relational.collectUnderGate(b0, benchBroadcastLimit)
    val c = corpus.select(col(idCol).as("doc"), col(vecCol).as("__cv"))
    val scored = localB match {
      case Some(rows) =>
        c.crossJoin(broadcast(Relational.localFrame(b0, rows, b0.schema)))
      case None =>
        val b = b0.localCheckpoint(true)
        val nBench = b.count()
        // cell-scoped candidates: train on the
        // union so benchmark-only dense regions still get cells — a
        // quantizer trained on the corpus alone would fold an unseen
        // benchmark cluster into whatever cell is nearest, and the
        // corpus docs near it might quantize elsewhere
        val union = c.select(col("__cv").as("__v"))
          .unionAll(b.select(col("__bv").as("__v")))
        val k = cellsFor(corpus.count() + nBench, targetCellSize)
        // SHUFFLE_HASH on the probe side: cells are many and small; the
        // benchmark past the gate is too big to broadcast by definition
        if (k <= hierarchicalThreshold) {
          val cents = Ivf.trainCentroids(union, "__v", k, seed, sampleFraction)
          Ivf.index(c, "doc", "__cv", cents)
            .join(Ivf.probeCells(b, "__bv", cents, nprobe).hint("SHUFFLE_HASH"),
              Seq("cell"))
        } else {
          val kLevel = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
          val rq = Ivf.trainResidualQuantizer(union, "__v", kLevel, kLevel,
            seed, sampleFraction)
          Ivf.indexResidual(c, "doc", "__cv", rq)
            .join(Ivf.probeCellsResidual(b, "__bv", rq, nprobe, nprobe)
              .hint("SHUFFLE_HASH"), Seq("cell"))
        }
    }
    scored
      .filter(Similarity.cosine(col("__cv"), col("__bv")) >= tau)
      .select("doc").distinct()
  }

  /** Drop semantically contaminated rows; the removal anti-join is
    * count-gated broadcast ↔ SHUFFLE_HASH like [[decontaminate]] (a lax
    * tau can contaminate a corpus fraction — never assume small). */
  def semanticDecontaminate(corpus: DataFrame, idCol: String, vecCol: String,
                            benchmark: DataFrame, benchVecCol: String,
                            tau: Double,
                            idBroadcastLimit: Long = HotShingleBroadcastLimit,
                            benchBroadcastLimit: Long = HotShingleBroadcastLimit,
                            nprobe: Int = 4,
                            targetCellSize: Int = SemanticTargetCellSize,
                            seed: Long = 42L,
                            sampleFraction: Double = 1.0,
                            hierarchicalThreshold: Int = HierarchicalCellsThreshold): DataFrame =
    // the cell-scoped knobs plumb through (review round 8): past the
    // bench gate the wrapper's result is an approximation governed by
    // nprobe/targetCellSize — public-API callers need the same levers
    // the inner function exposes, not a forced bypass
    removeIds(corpus, idCol,
      semanticContaminatedIds(corpus, idCol, vecCol, benchmark, benchVecCol, tau,
        benchBroadcastLimit, nprobe, targetCellSize, seed, sampleFraction,
        hierarchicalThreshold),
      idBroadcastLimit)

  /** Embedding-cosine near-dup pairs; delegates candidate generation to
    * the LSH path in [[Similarity]] and filters by cosine threshold.
    * With `planes = None` (the default) the plane count is sized from
    * the corpus via [[Similarity.planesFor]] with table compensation —
    * a fixed count on an unknown-size corpus is the finding-17 quadratic
    * (callers that know their corpus can still pin it). */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, planes: Option[Int] = None): DataFrame =
    (planes match {
      case Some(p) => Similarity.lshCandidatePairs(emb, idCol, vecCol, p)
      case None => Similarity.lshCandidatePairsSized(emb, idCol, vecCol)
    }).filter(col("cosine") >= threshold)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): KMeans-cluster the embedding space with a
    * sample-trained coarse quantizer (the same machinery as [[Ivf]]),
    * generate candidate pairs ONLY within a cluster, and drop every
    * vector that has a duplicate (cosine >= tau) with a smaller id in its
    * cluster — min-id survivor, the [[removeNearDups]] policy.
    *
    * This is the second scale path for embedding dedup, complementary to
    * [[embeddingNearDup]] (hyperplane LSH): LSH needs no training but its
    * random-collision volume must be tuned against corpus size (PERF.md
    * finding 17); the cluster path bounds pair generation by the cell-size
    * distribution (pairs ≤ Σ|cell|²/2, expected n²/2k for balanced cells —
    * size k ≈ n / targetCellSize) and reuses a quantizer the IVF search
    * index already trains. The cell self-join is an equi-join on the cell
    * id (never all-pairs); cells are the shuffle key, so each cell's
    * vectors co-locate exactly like the IVF inverted file. The one
    * vector-carrying exchange is the index build itself — one vector per
    * row, linear in the corpus, the same bytes the IVF index shuffles.
    *
    * Returns the surviving rows of `emb` (all columns). */
  /** Default expected cell size for [[cellsFor]]: small enough that a
    * cell's |cell|²/2 pair scan is trivial per task, large enough that
    * KMeans isn't training an absurd centroid count at moderate corpora. */
  val SemanticTargetCellSize: Int = 64

  /** Corpus-sized cell count for [[semanticDedup]] — the
    * [[Similarity.planesFor]] analog for the cluster path (fixed
    * hyperparameters go quadratic): with balanced cells, candidate pairs ≈ Σ|cell|²/2
    * = n²/2k, QUADRATIC at any fixed k. Sizing k = ⌈n/targetCellSize⌉
    * holds expected cell size constant, so expected pairs ≈
    * n·targetCellSize/2 — linear in n (ScaleBench's `sem` column measures
    * it). Caveats, documented not hidden: (a) targetCellSize bounds the
    * EXPECTATION — a dense embedding region concentrates into one hot
    * cell, which is why [[cellPairs]] caps per-cell work at
    * [[HotCellThreshold]] with the anchor pass (the maxDf analog for
    * cells); (b) the
    * sizing moves the quadratic term from pair generation into KMeans
    * TRAINING — one Lloyd iteration costs points·k distance evals, which
    * at k ∝ n is quadratic no matter how the training set is sampled
    * (ScaleBench's `sem` wall includes that term; the pair COUNT is what
    * the sizing fixes); (c) the centroid array is driver-held at k·dim
    * doubles. Both (b) and (c) say the same thing: at large k a
    * single-level quantizer is the wrong tool — which is why
    * [[semanticDedupSized]] switches to the two-level residual
    * quantizer ([[semanticDedupHierarchical]]: √k centroids per level,
    * training n·2√k, composite cell id) past
    * [[HierarchicalCellsThreshold]] cells. Below it, single-level is
    * the cheaper, simpler choice. */
  def cellsFor(corpusSize: Long,
               targetCellSize: Int = SemanticTargetCellSize): Int =
    math.max(2, math.ceil(math.max(corpusSize, 1).toDouble / targetCellSize).toInt)

  /** Past this many cells [[semanticDedupSized]] switches from the
    * single-level quantizer to the two-level residual one: training and
    * the driver-held centroid array are both linear in the LEVEL size,
    * so √k-per-level keeps them sane while the composite cell count
    * keeps pair generation linear. 4096 cells ≈ 256k vectors at the
    * default target — well before single-level training hurts, well
    * after the toy sizes where two KMeans fits would just add noise. */
  val HierarchicalCellsThreshold: Int = 4096

  /** [[semanticDedup]] with the cell count sized from the actual corpus
    * via [[cellsFor]] (one count() action — the same measure-don't-assume
    * pattern as the broadcast gates). Prefer this entry point: a fixed k
    * is only right when the caller already knows n. Past
    * [[HierarchicalCellsThreshold]] cells it delegates to
    * [[semanticDedupHierarchical]] with √k-sized levels. */
  def semanticDedupSized(emb: DataFrame, idCol: String, vecCol: String,
                         tau: Double,
                         targetCellSize: Int = SemanticTargetCellSize,
                         seed: Long = 42L,
                         sampleFraction: Double = 1.0,
                         hierarchicalThreshold: Int = HierarchicalCellsThreshold,
                         hotCellThreshold: Int = HotCellThreshold): DataFrame = {
    val k = cellsFor(emb.count(), targetCellSize)
    if (k <= hierarchicalThreshold)
      semanticDedup(emb, idCol, vecCol, tau, k, seed, sampleFraction,
        hotCellThreshold)
    else {
      val kLevel = math.ceil(math.sqrt(k.toDouble)).toInt
      semanticDedupHierarchical(emb, idCol, vecCol, tau, kLevel, kLevel,
        seed, sampleFraction, hotCellThreshold)
    }
  }

  /** [[semanticDedup]] on the two-level residual quantizer
    * ([[Ivf.trainResidualQuantizer]]): k1·k2 effective cells from two
    * √k-sized training problems — the regime where single-level KMeans
    * training (points·k per Lloyd iteration) and the driver-held k·dim
    * centroid array stop scaling (see [[cellsFor]] caveat b). The pair
    * stage and survivor policy are identical to the single-level path;
    * only the cell id changes. An exact copy shares its original's
    * vector, hence its composite cell (both levels are deterministic
    * functions of the vector), so the min-id survivor argument carries
    * over unchanged (DedupSpec pins it on the planted corpus). */
  def semanticDedupHierarchical(emb: DataFrame, idCol: String, vecCol: String,
                                tau: Double, k1: Int, k2: Int,
                                seed: Long = 42L,
                                sampleFraction: Double = 1.0,
                                hotCellThreshold: Int = HotCellThreshold): DataFrame =
    removeNearDups(emb, idCol,
      semanticDupPairsHierarchical(emb, idCol, vecCol, tau, k1, k2, seed,
        sampleFraction, hotCellThreshold))

  /** Candidate stage of [[semanticDedupHierarchical]] (exposed for
    * ScaleBench, like [[semanticDupPairs]]). */
  def semanticDupPairsHierarchical(emb: DataFrame, idCol: String, vecCol: String,
                                   tau: Double, k1: Int, k2: Int,
                                   seed: Long = 42L,
                                   sampleFraction: Double = 1.0,
                                   hotCellThreshold: Int = HotCellThreshold): DataFrame = {
    val q = Ivf.trainResidualQuantizer(emb, vecCol, k1, k2, seed, sampleFraction)
    cellPairs(Ivf.indexResidual(emb, idCol, vecCol, q), idCol, vecCol, tau,
      hotCellThreshold)
  }

  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    tau: Double, k: Int, seed: Long = 42L,
                    sampleFraction: Double = 1.0,
                    hotCellThreshold: Int = HotCellThreshold): DataFrame =
    removeNearDups(emb, idCol,
      semanticDupPairs(emb, idCol, vecCol, tau, k, seed, sampleFraction,
        hotCellThreshold))

  /** The candidate stage of [[semanticDedup]]: (doc_a, doc_b) duplicate
    * pairs with doc_a < doc_b, cell-scoped. Exposed so ScaleBench can
    * measure pair volume against the [[cellsFor]] sizing claim. */
  def semanticDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                       tau: Double, k: Int, seed: Long = 42L,
                       sampleFraction: Double = 1.0,
                       hotCellThreshold: Int = HotCellThreshold): DataFrame = {
    val centroids = Ivf.trainCentroids(emb, vecCol, k, seed, sampleFraction)
    cellPairs(Ivf.index(emb, idCol, vecCol, centroids), idCol, vecCol, tau,
      hotCellThreshold)
  }

  /** Above this cell size the within-cell pair scan switches from the
    * full self-join to the anchor pass: |cell|² at 4096 is ~8.4M cosine
    * evals in the ONE task that owns the cell key — the straggler bound.
    * [[cellsFor]] holds the EXPECTED cell at 64; only a dense embedding
    * region (exactly what a heavily-duplicated corpus produces) crosses
    * this, so the cut pays nothing on balanced corpora. */
  val HotCellThreshold: Int = 4096

  /** Cell-scoped duplicate pairs from a (cell, id, vec) inverted file —
    * shared by the single-level and two-level quantizer paths.
    *
    * Hot-cell cut (the maxDf analog for cells):
    * a cell above `hotCellThreshold` does NOT run the |cell|² self-join —
    * that is quadratic work in the single task owning the cell's shuffle
    * key, the straggler that kills a skewed corpus at scale. Instead each
    * hot-cell member is compared only against the cell's min-id ANCHOR —
    * |cell| − 1 comparisons, linear. Documented approximation (the
    * stop-shingle trade): within a hot cell only anchor-reachable pairs
    * are emitted, so a member near some OTHER member but not the anchor is
    * missed. A cell only goes hot when a dense region concentrates ~64×
    * the expected occupancy, where members cluster tightly around the
    * anchor and the min-id survivor policy ([[removeNearDups]] dooms every
    * pair's doc_b) keeps exactly the anchor either way — DedupSpec pins
    * point-mass equivalence of both paths.
    *
    * Plan shape: the per-row cell size is a count window over the cell
    * key — ONE hash exchange on cell, which every downstream consumer
    * (the cold self-join's both sides, the hot anchor aggregate and
    * join) reuses, since they all partition on that same key. No size
    * join, no materialization of the vector-carrying index (an earlier
    * join+localCheckpoint form measured ~1.5× on the registered query —
    * the checkpoint wrote every vector to the block store). The window
    * buffers one cell per task (spillable), and hot-cell rows still
    * co-locate — but their work is now linear in |cell|. */
  private[graft] def cellPairs(idx: DataFrame, idCol: String, vecCol: String,
                               tau: Double,
                               hotCellThreshold: Int = HotCellThreshold): DataFrame = {
    val sized = idx.withColumn("__csz",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("cell")))
    val cold = sized.filter(col("__csz") <= hotCellThreshold)
    val a = cold.select(col("cell"), col(idCol).as("doc_a"), col(vecCol).as("__va"))
    val b = cold.select(col("cell"), col(idCol).as("doc_b"), col(vecCol).as("__vb"))
    // SHUFFLE_HASH pinned: cells are many and individually small; a
    // sort-merge join would sort the whole index for no reuse
    val coldPairs = a.join(b.hint("SHUFFLE_HASH"), Seq("cell"))
      .filter(col("doc_a") < col("doc_b") &&
        Similarity.cosine(col("__va"), col("__vb")) >= tau)
      .select("doc_a", "doc_b")
    val hot = sized.filter(col("__csz") > hotCellThreshold)
    // struct-min picks the row with the smallest id (ids are unique);
    // one partial-aggregated pass, one anchor row per hot cell
    val anchors = hot.groupBy("cell")
      .agg(min(struct(col(idCol), col(vecCol))).as("__m"))
      .select(col("cell"), col("__m")(idCol).as("doc_a"), col("__m")(vecCol).as("__va"))
    val hotPairs = hot.join(anchors.hint("SHUFFLE_HASH"), Seq("cell"))
      .filter(col(idCol) > col("doc_a") &&
        Similarity.cosine(col(vecCol), col("__va")) >= tau)
      .select(col("doc_a"), col(idCol).as("doc_b"))
    coldPairs.unionAll(hotPairs)
  }

  /** Rows of `existing` per snapshot the Bloom prefilter will index; past
    * this the filter degrades (the aggregate CLAMPS items/bits at Spark's
    * `RUNTIME_BLOOM_FILTER_MAX_*` confs — 4M items / 64M bits by default)
    * so the operator switches to the distributed key join instead.
    * Aligned with the conf cap, NOT with broadcast byte budgets: at 4M
    * items the serialized filter is ~5 MB (10 bits/item, fpp ≈ 1%). */
  val BloomItemLimit: Long = 4000000L

  /** Cross-snapshot (incremental-ingest) exact dedup: drop every `batch`
    * row whose `textCol` already appears in `existing`, keeping the rest —
    * the daily-ingest shape of a training-data pipeline, where the
    * accumulated corpus is orders of magnitude larger than the increment
    * and re-shuffling it per batch is the scale killer.
    *
    * Scale shape (the reason this is not just an anti-join):
    *  1. Content keys are 8-byte `xxhash64(text)` digests — documents
    *     never become join/shuffle keys (finding 22).
    *  2. `existing` is COUNT-GATED: at or under `bloomItemLimit` rows, one
    *     aggregate pass builds a Bloom filter over its keys (Spark's
    *     `bloom_filter_agg`, ~10 bits/row) which rides into a codegen
    *     `might_contain` prefilter on the batch — `existing` is scanned
    *     once and NEVER shuffled, and the (typically tiny) surviving
    *     candidate set is all that flows downstream. Past the gate the
    *     candidates come from a distributed SHUFFLE_HASH semi-join of the
    *     batch against the distinct existing keys — existing pays one
    *     16-byte-wide shuffle, never a text shuffle, and nothing funnels
    *     through the driver.
    *  3. The result is EXACT on both paths despite the approximate
    *     prefilter: Bloom filters have no false negatives (a non-candidate
    *     is definitely new), and candidates are verified by fetching the
    *     existing TEXTS for candidate keys only (a semi-join bounded by
    *     |candidates| ≈ dups + fpp·|batch|) and comparing full text — a
    *     64-bit key collision therefore cannot drop a novel document.
    *  4. Removal routes through the shared count-gated [[removeIds]].
    *
    * NULL-text batch rows are always kept (NULL equals nothing, matching
    * the near-dup pipeline's NULL routing); batch-INTERNAL duplicates are
    * out of scope by contract — compose with [[exact]]/[[repCollapse]]
    * for within-batch dedup, this operator only answers "which increment
    * rows are already in the corpus". */
  /** Candidate dup rows of `batch` (id, text, `__k` digest) — the
    * gate-switched prefilter of [[incrementalDedup]], split out so specs
    * can pin the bloom-path plan (a codegen `might_contain` filter with
    * no shuffle of either side) before the checkpoint erases it. */
  private[graft] def incrementalCandidates(existing: DataFrame, batch: DataFrame,
                                           idCol: String, textCol: String,
                                           bloomItemLimit: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnShim
    val key = xxhash64(col(textCol))
    val nExisting = existing.count()
    val batchKeyed = batch.select(col(idCol), col(textCol), key.as("__k"))
    if (nExisting == 0L) batchKeyed.limit(0)
    else if (nExisting <= bloomItemLimit) {
      // one pass over existing; ~10 bits/key keeps fpp ≈ 1% and the
      // explicit numBits stays under the conf clamp at the gate limit
      val bloomAgg = ColumnShim.column(new BloomFilterAggregate(
        ColumnShim.expression(key), nExisting).toAggregateExpression())
      val bloomBytes = existing.select(bloomAgg.as("bf"))
        .head().getAs[Array[Byte]]("bf")
      val mightContain = ColumnShim.column(BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          bloomBytes, org.apache.spark.sql.types.BinaryType),
        ColumnShim.expression(col("__k"))))
      batchKeyed.filter(mightContain)
    } else {
      val exKeys = existing.select(key.as("__k")).distinct()
      batchKeyed.join(exKeys.hint("SHUFFLE_HASH"), Seq("__k"), "left_semi")
    }
  }

  def incrementalDedup(existing: DataFrame, batch: DataFrame, idCol: String,
                       textCol: String,
                       bloomItemLimit: Long = BloomItemLimit,
                       idBroadcastLimit: Long = HotShingleBroadcastLimit): DataFrame = {
    val key = xxhash64(col(textCol))
    val candidates = incrementalCandidates(existing, batch, idCol, textCol, bloomItemLimit)
    // verify exactly: existing texts for CANDIDATE keys only — bounded by
    // |dups| + fpp·|batch|, so the key frame is gate-checked for broadcast
    val cand = candidates.localCheckpoint(true)
    val nCand = cand.count()
    if (nCand == 0L) batch
    else {
      val candKeys = cand.select("__k").distinct()
      val hits0 = existing.select(key.as("__k"), col(textCol).as("__etext"))
      val hits =
        if (nCand <= idBroadcastLimit)
          hits0.join(broadcast(candKeys), Seq("__k"), "left_semi")
        else hits0.join(candKeys.hint("SHUFFLE_HASH"), Seq("__k"), "left_semi")
      val hitTexts = hits.distinct().localCheckpoint(true)
      val doomed =
        (if (hitTexts.count() <= idBroadcastLimit)
           cand.join(broadcast(hitTexts), Seq("__k"))
         else cand.join(hitTexts.hint("SHUFFLE_HASH"), Seq("__k")))
          .filter(col(textCol) === col("__etext"))
          .select(col(idCol).as("doc"))
      removeIds(batch, idCol, doomed, idBroadcastLimit)
    }
  }
}
