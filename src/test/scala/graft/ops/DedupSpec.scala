package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog today"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat today"),   // near dup
    (4L, "completely different words appear in this other document here now")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts multiplicity") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out(1L) == 2)  // survivor id 1 with dup_count 2
    assert(out(3L) == 1)
    assert(out(4L) == 1)
  }

  test("jaccard near-dup finds exact and near pairs, not unrelated") {
    val pairs = Dedup.jaccardNearDup(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 2L)) == 1.0)
    // docs 1,3 differ in 1 of 10 tokens: trigrams 8 shared of 8+8 distinct
    assert(byPair.contains((1L, 3L)) && byPair((1L, 3L)) > 0.5)
    assert(!byPair.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("maxDf prunes ubiquitous shingles from pair generation") {
    val all = Dedup.jaccardNearDup(docs, "doc_id", "text", 3, 0.0)
    val pruned = Dedup.jaccardNearDup(docs, "doc_id", "text", 3, 0.0, maxDf = Some(1))
    assert(pruned.count() <= all.count())
  }

  test("maxDf semantics: jaccard over the stop-shingle-filtered sets (brute-force check)") {
    // the synthetic corpora never trip the df cut, so the driver oracle
    // can't exercise it — pin the pruned-set semantics here with a
    // reference computation where the cut DOES fire (df > 2 removes the
    // shingles common to docs 1, 2, 3)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "the quick brown fox jumps over the lazy cat today"),
      (4L, "completely different words appear in this other document here now"))
    def sh3(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sets = corpus.map { case (id, t) => id -> sh3(t) }.toMap
    val df = sets.values.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    val prunedSets = sets.map { case (id, s) => id -> s.filter(df(_) <= 2) }
    val expected = (for {
      (a, sa) <- prunedSets; (b, sb) <- prunedSets if a < b
      common = (sa & sb).size if common > 0
      j = common.toDouble / (sa.size + sb.size - common) if j >= 0.3
    } yield (a, b) -> math.rint(j * 1e4) / 1e4).toMap
    val got = Dedup.jaccardNearDup(corpus.toDF("doc_id", "text"), "doc_id", "text",
      n = 3, threshold = 0.3, maxDf = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == expected, s"got $got, expected $expected")
  }

  test("fused shingle hashes: sorted, distinct, empty for docs shorter than n") {
    val rows = Seq((1L, "a b"), (2L, "a b c a b c a b c"))
      .toDF("doc_id", "text")
      .select($"doc_id", graft.functions.ShingleHashes.sortedShingleHashes(
        org.apache.spark.sql.functions.split($"text", " "), 3).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
      .toMap
    assert(rows(1L).isEmpty)                       // 2 tokens < n=3
    val s2 = rows(2L)
    assert(s2 == s2.sorted && s2.distinct == s2)   // sorted + deduped
    assert(s2.length == 3)                         // "a b c","b c a","c a b"
  }

  test("jaccard plans the prefix-filter join: codegen intersect, no pair aggregate") {
    val plan = Dedup.jaccardNearDup(docs, "doc_id", "text", 3, 0.6, Some(100))
      .queryExecution.executedPlan.toString
    // exact intersection computed per candidate by the codegen two-pointer
    // merge, not by aggregating every co-posting row per pair
    assert(plan.contains("sorted_intersect_count"), s"no codegen intersect in:\n$plan")
    assert(!plan.toLowerCase.contains("partial_count(1)") ||
      !plan.contains("keys=[doc_a"), s"pair-counting aggregate resurfaced:\n$plan")
  }

  test("verify-tail plan shapes: broadcast pinned below the gate, sort-merge kernel above") {
    // finding 35's two physical shapes, pinned so a Spark upgrade or a
    // hint regression can't silently re-open the fat shuffle: the small
    // tail must BROADCAST the signature join-backs (between Spark's
    // 10 MB auto threshold and the 32 MB gate AQE would pick sort-merge
    // on its own), and the kernel tail must run the sig-carrying prefix
    // join as SORT-MERGE (a payload-bearing SHUFFLE_HASH build side
    // cannot spill a HashedRelation — measured OOM at the 100× rung)
    val small = Dedup.jaccardNearDup(docs, "doc_id", "text", 3, 0.6)
      .queryExecution.executedPlan.toString
    assert(small.contains("BroadcastHashJoin"), s"join-backs not broadcast:\n$small")
    val kernel = Dedup.jaccardNearDup(docs, "doc_id", "text", 3, 0.6,
      sigBroadcastBytes = -1L)
      .queryExecution.executedPlan.toString
    assert(kernel.contains("SortMergeJoin"), s"kernel join not sort-merge:\n$kernel")
    assert(!kernel.contains("BroadcastHashJoin"),
      s"kernel tail still broadcasting a signature table:\n$kernel")
  }

  test("minhash LSH: exact dups estimated 1.0; unrelated docs don't pair") {
    val cands = Dedup.minhashLshCandidates(docs, "doc_id", "text",
      n = 3, bands = 8, rowsPerBand = 4, estThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val m = cands.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 2L)) == 1.0)
    assert(!m.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical docs share signature; near dups are hamming-close") {
    val sig = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(3L)) < ham(sig(1L), sig(4L)))
  }

  test("prefix-filter jaccard is lossless on random corpora (property)") {
    // brute-force equality over randomized docs: any prefix-length bug
    // (off-by-one, float-ceil boundary) shows up as a missing pair
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    for (trial <- 1 to 5; threshold <- Seq(0.3, 0.5, 0.7)) {
      val corpus = (1L to 14L).map { id =>
        val len = 4 + rnd.nextInt(9)
        id -> Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      }
      def sh3(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
      val sets = corpus.map { case (id, t) => id -> sh3(t) }.toMap
      val expected = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        common = (sa & sb).size if common > 0
        j = common.toDouble / (sa.size + sb.size - common) if j >= threshold
      } yield (a, b) -> math.rint(j * 1e4) / 1e4).toMap
      val got = Dedup.jaccardNearDup(corpus.toDF("doc_id", "text"), "doc_id", "text",
        n = 3, threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got == expected,
        s"trial $trial t=$threshold: got ${got.keySet}, expected ${expected.keySet}")
    }
  }

  test("simhash banded search finds hamming-close pairs, not unrelated docs") {
    val pairs = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // exact dups share the signature: distance 0, and found
    assert(pairs((1L, 2L)) == 0)
    // the unrelated doc 4 must not pair with anything within distance 3
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    // every reported distance respects the cap and matches the signatures
    val sig = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case ((a, b), d) =>
      assert(d <= 3 && d == java.lang.Long.bitCount(sig(a) ^ sig(b)))
    }
  }

  test("banded search candidates are exactly the band-agreement pairs (lossless)") {
    // brute-force oracle on the tiny corpus: all pairs within hamming 3
    // must be found by the banded join (pigeonhole guarantee)
    val sig = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      a <- sig.keys; b <- sig.keys if a < b
      if java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 3
    } yield (a, b)).toSet
    val found = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == expected)
  }

  test("banded hamming search is lossless on random corpora (property)") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    for (trial <- 1 to 3; maxH <- Seq(2, 3, 5)) {
      val corpus = (1L to 12L).map { id =>
        id -> Seq.fill(5 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      }
      val df = corpus.toDF("doc_id", "text")
      val sig = Dedup.simhash(df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = (for {
        a <- sig.keys; b <- sig.keys if a < b
        if java.lang.Long.bitCount(sig(a) ^ sig(b)) <= maxH
      } yield (a, b)).toSet
      val found = Dedup.simhashNearDup(df, "doc_id", "text", maxHamming = maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(found == expected, s"trial $trial maxH=$maxH: $found vs $expected")
    }
  }

  test("connected components merge transitive duplicate chains") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L),   // chain -> component 1
      (5L, 6L),             // component 5
      (10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L) // cycle -> component 10
    ).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
  }

  test("connected components on a long chain converge in sub-diameter rounds") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(chain, maxIter = 15)
    val comp = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.toSet == Set(1L))
    assert(comp.size == 12)
    // pointer jumping: diameter-11 chain must converge in O(log d) rounds,
    // not the ~11 plain min-propagation needs (+1 round to detect the
    // fixed point via the label-sum witness)
    info(s"chain of diameter 11 converged in $rounds rounds")
    assert(rounds <= 7, s"expected sub-diameter convergence, got $rounds rounds")
  }

  test("distributed hot-shingle prune matches the broadcast-array path") {
    // the maxDf cut has two physical shapes (small hot set -> broadcast
    // array projection; huge hot set -> distributed anti-join + regroup);
    // forcing the limit to -1 exercises the scale path — results must be
    // identical pair-for-pair
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "the quick brown fox jumps over the lazy cat today"),
      (4L, "completely different words appear in this other document here now"))
      .toDF("doc_id", "text")
    def run(limit: Long) =
      Dedup.jaccardNearDup(corpus, "doc_id", "text", n = 3, threshold = 0.3,
        maxDf = Some(2), hotBroadcastLimit = limit)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val broadcastPath = run(Dedup.HotShingleBroadcastLimit)
    val distributedPath = run(-1L)
    assert(distributedPath == broadcastPath, s"$distributedPath vs $broadcastPath")
    assert(broadcastPath.nonEmpty) // the cut fires AND pairs survive
  }

  test("kernel verify tail matches the broadcast join-back tail pair-for-pair") {
    // the verify has two physical shapes gated on signature-table bytes
    // (PERF.md finding 35): small -> narrow pairs + pinned-broadcast
    // join-backs; large -> the sig-carrying kernel join (verify inline,
    // dedup after the filter). Forcing the gate to -1 exercises the
    // kernel on a corpus where pairs share MULTIPLE prefix shingles, so
    // the post-verify dropDuplicates (j-multiplicity collapse) is
    // actually load-bearing — pairs and scores must match exactly
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta mu nu"),
      (4L, "completely different words appear in this other document here now"),
      (5L, "completely different words appear in this other document here too"),
      (6L, "unrelated content that should pair with absolutely nobody at all"))
      .toDF("doc_id", "text")
    def run(gate: Long) =
      Dedup.jaccardNearDup(corpus, "doc_id", "text", n = 3, threshold = 0.3,
        sigBroadcastBytes = gate)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val broadcastTail = run(Dedup.SigTableBroadcastBytes)
    val kernelTail = run(-1L)
    assert(kernelTail == broadcastTail, s"$kernelTail vs $broadcastTail")
    assert(broadcastTail.nonEmpty) // pairs survive on both shapes
    // multiplicity really occurred: docs 1-3 share >1 prefix shingle
    assert(broadcastTail.keySet.contains((1L, 2L)))
  }

  test("hot-prefix-key salt: salted kernel equals unsalted kernel and small tail pair-for-pair (point mass)") {
    // r17 verdict #6: a prefix key with df d carries ~d²/2 verify pairs
    // under ONE sort-merge key and AQE's byte-keyed skew split never
    // touches join fan-out (PERF finding 36: a planted df-5k mass = one
    // 117 s task; the deleted SkewProfile measured it, source via
    // `git show 2262a09:src/main/scala/graft/tools/SkewProfile.scala`). The kernel tail salts keys past hotPairBudget —
    // doc_a hashed into g groups, doc_b replicated to all g — which
    // must be invisible in the result. Point mass: 30 docs share one
    // planted shingle; budget 1 makes EVERY key hot (all pairs traverse
    // the salted join), budget MaxValue disarms it, the small tail is
    // the third witness. maxDf deliberately absent — the one regime
    // where the guard arms.
    val rnd = new scala.util.Random(11)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh", "ii", "jj")
    val corpus = ((1L to 30L).map { i =>
      val toks = Vector.fill(8)(vocab(rnd.nextInt(vocab.size)))
      (i, (toks ++ Seq("zz0", "zz1", "zz2")).mkString(" "))
    } ++ Seq((100L, "alpha beta gamma delta epsilon"),
      (101L, "alpha beta gamma delta zeta")))
      .toDF("doc_id", "text")
    def run(budget: Long, gate: Long) =
      Dedup.jaccardNearDup(corpus, "doc_id", "text", n = 3, threshold = 0.3,
        sigBroadcastBytes = gate, hotPairBudget = budget)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val smallTail = run(Long.MaxValue, Long.MaxValue)
    val unsalted = run(Long.MaxValue, -1L)
    val allSalted = run(1L, -1L)
    assert(unsalted == smallTail, s"unsalted kernel diverged: $unsalted vs $smallTail")
    assert(allSalted == smallTail, s"salted kernel diverged: $allSalted vs $smallTail")
    // load-bearing: pairs survive, and under budget 1 every surviving
    // pair met through a salted hot key
    assert(smallTail.contains((100L, 101L)))
    // ADVICE r18: hotPairBudget <= 0 means salting DISABLED (the plain
    // MERGE join), never "every key hot" — the -1 idiom of the sibling
    // sigBroadcastBytes knob used to make g = ceil(df²/0) = ∞ clamp to
    // 2²⁰ and replicate every posting row ~1M ways. Result-identical,
    // and fast enough here to prove the blowup didn't happen.
    val disabled = run(-1L, -1L)
    assert(disabled == smallTail, s"disabled-salt kernel diverged: $disabled")
  }

  test("connected components throw when maxIter is exhausted before convergence") {
    // silent partial labels are wrong clusters; the operator must fail
    // loudly instead (a diameter-11 chain cannot settle in one round)
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsWithRounds(chain, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  /** The reference the propagation core is checked against: a driver-side
    * union-find over the pair list, each node labelled with the min id of
    * its component. */
  private def unionFindLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connected components equal a driver-side union-find (chains, cycles, hubs, self-pairs, real pairs)") {
    // every graph shape the pair generators emit, including a
    // self-pair-only node, which must come back as its own singleton
    val shapes = Seq(
      "mixed" -> Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 11L), (11L, 12L),
        (12L, 13L), (10L, 13L), (20L, 20L)),
      "chain" -> (1L until 40L).map(i => (i, i + 1)),
      // high-degree hub + reversed-order edges
      "hub" -> ((2L to 30L).map(i => (i, 1L)) ++ Seq((31L, 30L), (32L, 31L))))
    for ((name, pairs) <- shapes) {
      val prop = labelsOf(Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b"), maxIter = 50))
      val ref = unionFindLabels(pairs)
      assert(prop == ref, s"$name: propagation $prop vs union-find $ref")
    }
    // and on the REAL near-dup pair graph at sf0.001
    val docs = graft.engine.Tables.read(spark, sf0001, "documents")
    val real = Dedup.jaccardNearDup(docs, "doc_id", "text",
      n = 3, threshold = 0.6, maxDf = Some(100)).localCheckpoint(true)
    val prop = labelsOf(Dedup.connectedComponents(real))
    assert(prop == unionFindLabels(pairsOf(real)),
      "propagation diverged from union-find on the real pair graph")
    assert(prop.nonEmpty)
  }

  test("connected components equal a driver-side union-find on random graphs (property)") {
    // fixed-shape cases can miss structural corners (multi-hub overlap,
    // dense cores, many singletons-in-pairs): random multigraphs over a
    // small id space force heavy component merging
    val rnd = new scala.util.Random(431)
    for (trial <- 1 to 5) {
      val n = 6 + rnd.nextInt(25)
      val m = 1 + rnd.nextInt(3 * n)
      val pairs = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val prop = labelsOf(Dedup.connectedComponents(
        pairs.toDF("doc_a", "doc_b").localCheckpoint(true), maxIter = 50))
      val ref = unionFindLabels(pairs)
      assert(prop == ref, s"trial $trial (n=$n m=$m): $prop vs $ref")
    }
  }

  test("pointer jumping is gated: plain rounds first, doubling only when deep") {
    // a single-edge graph converges before the jump gate opens — same
    // labels as a run with jumping forced from round 1
    val tiny = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val (l1, r1) = Dedup.connectedComponentsWithRounds(tiny, maxIter = 5, jumpFromRound = 1)
    val (l2, r2) = Dedup.connectedComponentsWithRounds(tiny, maxIter = 5, jumpFromRound = 100)
    assert(l1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      l2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(r1 == r2) // shallow graph: jumping saved nothing
  }

  test("lineDedup keeps first occurrence corpus-wide and reassembles in order") {
    val docs = Seq(
      (1L, "alpha body one\nSHARED FOOTER\nanother unique line"),
      (2L, "beta body two\nSHARED FOOTER"),
      (3L, "SHARED FOOTER"), // every line already claimed -> drops out
      (4L, "gamma\nalpha body one") // cross-doc dup of doc 1's first line
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(out(1L) == (("alpha body one\nSHARED FOOTER\nanother unique line", 3)))
    assert(out(2L) == (("beta body two", 1)))
    assert(!out.contains(3L), "doc with zero surviving lines must drop out")
    assert(out(4L) == (("gamma", 1)))
  }

  test("lineDedup matches brute-force first-occurrence semantics on random corpora (property)") {
    val rnd = new scala.util.Random(31)
    // tiny line vocabulary forces heavy cross-doc duplication, the regime
    // where survivor ties (same line at several (doc, pos)) actually bite
    val lineVocab = Vector("aa bb", "cc", "dd ee ff", "gg", "hh ii")
    for (trial <- 1 to 3) {
      val docs = (1L to 8L).map(id =>
        id -> Seq.fill(2 + rnd.nextInt(4))(lineVocab(rnd.nextInt(lineVocab.length)))
          .mkString("\n"))
      // brute force: scan in (doc, pos) order, keep first sight of a line
      val seen = scala.collection.mutable.Set[String]()
      val expected = docs.flatMap { case (id, text) =>
        val kept = text.split("\n", -1).filter(seen.add)
        if (kept.isEmpty) None else Some(id -> kept.mkString("\n"))
      }.toMap
      val got = Dedup.lineDedup(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expected, s"trial $trial: got $got, expected $expected")
    }
  }

  test("decontaminate drops exactly the docs sharing an n-gram with the benchmark") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // shares the 8-gram "beta gamma ... iota" (offset copy) -> dropped
      (1L, "xx beta gamma delta epsilon zeta eta theta iota yy"),
      // shares only a 7-gram (one word changed) -> kept
      (2L, "alpha beta gamma delta epsilon zeta eta CHANGED iota kappa"),
      // disjoint vocabulary -> kept
      (3L, "one two three four five six seven eight nine ten"),
      // shorter than 8 tokens -> cannot be contaminated -> kept
      (4L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L), s"kept $kept")
  }

  test("contaminationReport counts leaked docs and shingles per benchmark item, zeros included") {
    val bench = Seq(
      // leaks into corpus docs 1 and 2 through two different 8-grams
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // clean: nothing shares its grams
      (101L, "uno dos tres cuatro cinco seis siete ocho nueve"),
      // too short to shingle — still reported, with zeros
      (102L, "tiny doc")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // shares "alpha..theta" AND "beta..iota" with bench 100
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota yy"),
      // shares only "beta..iota" with bench 100
      (2L, "xx beta gamma delta epsilon zeta eta theta iota zz"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    def report(limit: Long) = Dedup.contaminationReport(corpus, bench,
        "doc_id", "text", n = 8, shingleBroadcastLimit = limit)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = report(Dedup.HotShingleBroadcastLimit)
    // bench 100: corpus docs {1, 2}; shared distinct shingles
    // {"alpha..theta" (doc 1), "beta..iota" (docs 1 and 2), "gamma..kappa"? no}
    assert(got == Map(
      100L -> ((2L, 2L)), 101L -> ((0L, 0L)), 102L -> ((0L, 0L))), s"report $got")
    // gate paths agree — report(0L) rides the BLOOM middle path (default
    // bloomItemLimit admits the set); bloomItemLimit = 0 forces the pure
    // shuffled posting join; all three identical
    assert(report(0L) == got, "bloom middle path diverges")
    val pureShuffle = Dedup.contaminationReport(corpus, bench,
        "doc_id", "text", n = 8, shingleBroadcastLimit = 0L, bloomItemLimit = 0L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(pureShuffle == got, "shingle gate paths diverge")
    // and the middle path really does plan the codegen bloom probe
    val plan = Dedup.contaminationReport(corpus, bench, "doc_id", "text",
        n = 8, shingleBroadcastLimit = 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom probe in report plan:\n$plan")
    // the boilerplate cut: stopDf=1 drops "beta..iota" (corpus df 2) from
    // the evidence, so bench 100 keeps only the df-1 "alpha..theta" hit
    val cut = Dedup.contaminationReport(corpus, bench, "doc_id", "text",
        n = 8, stopDf = Some(1))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cut == Map(
      100L -> ((1L, 1L)), 101L -> ((0L, 0L)), 102L -> ((0L, 0L))), s"cut $cut")
  }

  test("repCollapseBest keeps the max-score copy per dup group, min id on ties") {
    val docs = Seq(
      (1L, "same body of text here", 1.0),
      (2L, "same body of text here", 5.0), // max score, min id among ties
      (3L, "same body of text here", 5.0),
      (4L, "a different body entirely", 0.5),
      (5L, "third distinct body", 2.0)
    ).toDF("doc_id", "text", "quality")
    def reps(limit: Long) = Dedup.repCollapseBest(docs, "doc_id", "text",
        score = $"quality", idBroadcastLimit = limit)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = reps(Dedup.HotShingleBroadcastLimit)
    assert(got == Set(2L, 4L, 5L), s"survivors $got")
    // gate paths agree (broadcast vs SHUFFLE_HASH id semi-join)
    assert(reps(0L) == got, "id gate paths diverge")
  }

  test("decontaminate matches brute-force n-gram overlap on random corpora (property)") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("aa", "bb", "cc", "dd")
    def gen(id: Long) =
      id -> Seq.fill(6 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    def grams4(s: String): Set[String] = {
      val ws = s.split(" ")
      if (ws.length < 4) Set.empty else ws.sliding(4).map(_.mkString(" ")).toSet
    }
    for (trial <- 1 to 3) {
      val bench = (1L to 3L).map(gen)
      val corpus = (10L to 19L).map(gen)
      val benchGrams = bench.flatMap(d => grams4(d._2)).toSet
      val expected = corpus.filter(d => (grams4(d._2) & benchGrams).isEmpty).map(_._1).toSet
      val got = Dedup.decontaminate(corpus.toDF("doc_id", "text"),
          bench.toDF("doc_id", "text"), "doc_id", "text", n = 4)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"trial $trial: got $got, expected $expected")
    }
  }

  test("decontaminate plan broadcasts the benchmark — the corpus never shuffles") {
    val docs = graft.engine.Tables.read(spark, sf0001, "documents")
    val corpus = docs.filter($"doc_id" >= 50)
    val bench = docs.filter($"doc_id" < 50)
    // stage 1 (id finding, materialized inside decontaminate's gate): the
    // benchmark shingle set must broadcast into a semi join over corpus
    // postings, with no corpus-sized shuffle before the distinct
    val idPlan = Dedup.contaminatedIds(corpus, bench, "doc_id", "text", n = 8)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin.*LeftSemi".r.findFirstIn(idPlan).isDefined ||
      idPlan.contains("LeftSemi, BuildRight"), s"semi join not broadcast:\n$idPlan")
    assert(!idPlan.contains("SortMergeJoin"), s"corpus-shuffling join:\n$idPlan")
    // stage 2 (removal, below the gate): broadcast anti join
    val plan = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti, BuildRight"), s"anti join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-shuffling join:\n$plan")
  }

  test("stopDf cut ignores boilerplate n-grams but rare overlaps still contaminate") {
    val bench = Seq(
      (100L, "all rights reserved under the applicable local law HERE"),
      (101L, "rare alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val boiler = "all rights reserved under the applicable local law"
    val corpus = Seq(
      (1L, s"doc one $boiler"),      // boilerplate 8-gram, df = 3
      (2L, s"doc two $boiler"),
      (3L, s"doc three $boiler"),
      (4L, "xx rare alpha beta gamma delta epsilon zeta eta theta yy"), // df = 1
      (5L, "totally unrelated words nine ten eleven twelve thirteen")
    ).toDF("doc_id", "text")
    // without the cut: 1-4 all contaminated
    val plain = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(plain == Set(5L))
    // stopDf = 2: the df-3 boilerplate shingle proves nothing; only the
    // rare (df=1) benchmark overlap still contaminates
    val cut = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 8,
        stopDf = Some(2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cut == Set(1L, 2L, 3L, 5L), s"got $cut")
  }

  test("decontaminate broadcast and distributed anti-join paths agree") {
    // round-4 verdict scale-weak #3: the contaminated-id broadcast is now
    // count-gated like the maxDf hot-shingle set. idBroadcastLimit = 0
    // forces the distributed shuffled-hash path; results must be identical
    val docs = graft.engine.Tables.read(spark, sf0001, "documents")
    val corpus = docs.filter($"doc_id" >= 50)
    val bench = docs.filter($"doc_id" < 50)
    val viaBroadcast = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaDistributed = Dedup.decontaminate(corpus, bench, "doc_id", "text",
        n = 8, idBroadcastLimit = 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaBroadcast == viaDistributed)
    assert(viaBroadcast.nonEmpty)
    // the benchmark SHINGLE set broadcast is gated too (it is
    // tokens-sized, far larger than the id set): forcing its distributed
    // path — with and without the stopDf branch — keeps the same result
    // (bloomItemLimit = 0 skips the Bloom middle path so this stays the
    // PURE shuffled-hash posting join; the middle path has its own test)
    val viaDistShingles = Dedup.decontaminate(corpus, bench, "doc_id", "text",
        n = 8, shingleBroadcastLimit = 0L, bloomItemLimit = 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaDistShingles == viaBroadcast, "shingle-gate paths diverge")
    val stopBroadcast = Dedup.decontaminate(corpus, bench, "doc_id", "text",
        n = 8, stopDf = Some(1))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val stopDistributed = Dedup.decontaminate(corpus, bench, "doc_id", "text",
        n = 8, stopDf = Some(1), shingleBroadcastLimit = 0L, bloomItemLimit = 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stopBroadcast == stopDistributed, "stopDf shingle-gate paths diverge")
    // and the forced scale path really does plan a shuffled-hash anti-join
    val plan = Dedup.decontaminate(corpus, bench, "doc_id", "text",
        n = 8, idBroadcastLimit = 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftAnti"),
      s"forced distributed path still broadcasts:\n$plan")
  }

  test("contaminatedIds Bloom middle path: identical result, map-side probe in the plan") {
    // past the exact-set broadcast gate but under the Bloom cap, the
    // corpus postings prefilter through a broadcast might_contain before
    // the shuffled exact semi-join — the join input shrinks from
    // corpus-postings-sized to contamination-sized with zero result change
    // (no false negatives; survivors verified by the exact join)
    val docs = graft.engine.Tables.read(spark, sf0001, "documents")
    val corpus = docs.filter($"doc_id" >= 50)
    val bench = docs.filter($"doc_id" < 50)
    def ids(shingleLimit: Long, bloomLimit: Long) =
      Dedup.contaminatedIds(corpus, bench, "doc_id", "text", n = 8,
          shingleBroadcastLimit = shingleLimit, bloomItemLimit = bloomLimit)
        .collect().map(_.getLong(0)).toSet
    val viaBroadcast = ids(Dedup.HotShingleBroadcastLimit, Dedup.BloomItemLimit)
    val viaBloom = ids(0L, Dedup.BloomItemLimit)
    val viaShuffle = ids(0L, 0L)
    assert(viaBloom == viaBroadcast, "bloom middle path diverges from broadcast")
    assert(viaShuffle == viaBroadcast, "pure shuffle path diverges from broadcast")
    assert(viaBroadcast.nonEmpty)
    // the middle path's plan carries the codegen bloom probe AND the
    // shuffled exact verify join
    val plan = Dedup.contaminatedIds(corpus, bench, "doc_id", "text", n = 8,
        shingleBroadcastLimit = 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom probe in plan:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), s"no exact verify join:\n$plan")
    // the stopDf branch rides the same prefilter: results stay equal
    val stopBloom = Dedup.decontaminate(corpus, bench, "doc_id", "text",
        n = 8, stopDf = Some(1), shingleBroadcastLimit = 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val stopBroadcast = Dedup.decontaminate(corpus, bench, "doc_id", "text",
        n = 8, stopDf = Some(1))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stopBloom == stopBroadcast, "stopDf bloom path diverges")
  }

  // ── accuracy gates (round-4 verdict #5): the band parameters are free
  // knobs; these specs pin estimate quality and recall on a planted
  // corpus so a bands/rows "tuning" can't silently destroy either ──

  /** Planted corpus: pair i = (doc 2i, doc 2i+1) sharing a keep-length
    * token prefix, per-pair disjoint vocabulary (cross-pair similarity is
    * exactly 0). keep sweeps 20..60 of 60 deterministically, so exact
    * Jaccard sweeps ~0.2..1.0. */
  private def plantedPairs: (Seq[((Long, Long), Double)], org.apache.spark.sql.DataFrame) = {
    val T = 60
    val rows = (0 until 40).map { i =>
      val vocab = (0 until T + 40).map(j => s"w${i}_$j")
      val base = (0 until T).map(vocab)
      val keep = 20 + (i % 41)
      val mutated = base.take(keep) ++ (0 until (T - keep)).map(j => vocab(T + j))
      (i, base.mkString(" "), mutated.mkString(" "))
    }
    def sh3(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val exact = rows.map { case (i, a, b) =>
      val (sa, sb) = (sh3(a), sh3(b))
      (2L * i, 2L * i + 1) -> sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    val docs = rows.flatMap { case (i, a, b) => Seq((2L * i, a), (2L * i + 1, b)) }
      .toDF("doc_id", "text")
    (exact, docs)
  }

  test("minhash accuracy gate: est_jaccard tracks exact, production bands keep recall") {
    val (exact, docs) = plantedPairs
    val est = Dedup.minhashLshCandidates(docs, "doc_id", "text",
        n = 3, bands = 8, rowsPerBand = 4, estThreshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // recall: P(collision) = 1-(1-J^4)^8 >= 0.985 at J >= 0.8 — allow one miss
    val high = exact.collect { case (k, j) if j >= 0.8 => k }
    assert(high.size >= 5, s"planted corpus lost its high-sim pairs: ${high.size}")
    val recall = high.count(est.contains).toDouble / high.size
    assert(recall >= 0.85, s"recall $recall over ${high.size} pairs with J>=0.8")
    // estimator error: 32 hashes -> std <= 0.09; gate mean and worst case
    val errs = exact.collect { case (k, j) if est.contains(k) => math.abs(est(k) - j) }
    assert(errs.size >= 10, s"too few detected pairs to gate: ${errs.size}")
    val mean = errs.sum / errs.size
    assert(mean <= 0.12, s"mean |est-exact| = $mean over ${errs.size} pairs")
    assert(errs.max <= 0.3, s"worst |est-exact| = ${errs.max}")
    // and the gate DISCRIMINATES: collapsing the same 32 hashes into
    // 2 bands x 16 rows must lose most mid-similarity pairs — if this
    // ever passes, the recall assertion above has stopped meaning anything
    val degraded = Dedup.minhashLshCandidates(docs, "doc_id", "text",
        n = 3, bands = 2, rowsPerBand = 16, estThreshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mid = exact.collect { case (k, j) if j >= 0.5 && j < 0.75 => k }
    assert(mid.size >= 5)
    val degradedRecall = mid.count(degraded).toDouble / mid.size
    assert(degradedRecall <= 0.5,
      s"degraded banding still recalls $degradedRecall of mid-sim pairs — gate is toothless")
  }

  test("simhash accuracy gate: banded hamming search finds planted near-identicals, zero cross-pair noise") {
    // hamming <= 3 of 64 bits is a NEAR-IDENTICAL detector: a changed
    // token flips a bit only when that bit's vote margin sits at exactly
    // +1, so for L-token docs the flip rate is ~pmf_Binomial(L,1/2)(L/2)/2
    // per bit per edit (~0.014 at L=800 -> E[hamming] ~ 0.9 for one edit,
    // ~32 for unrelated docs). Plant both regimes and gate each side.
    val L = 800
    val rows = (0 until 20).map { i =>
      val vocab = (0 until L + L / 2).map(j => s"s${i}_$j")
      val base = (0 until L).map(vocab)
      // i < 10: one token changed (must be found); i >= 10: half the doc
      // rewritten (must NOT pass a hamming<=3 near-identical test)
      val mutated =
        if (i < 10) base.updated(L / 2, vocab(L))
        else base.take(L / 2) ++ (0 until L / 2).map(j => vocab(L + j))
      (i, base.mkString(" "), mutated.mkString(" "))
    }
    val docs = rows.flatMap { case (i, a, b) => Seq((2L * i, a), (2L * i + 1, b)) }
      .toDF("doc_id", "text")
    val planted = rows.map { case (i, _, _) => (2L * i, 2L * i + 1) }.toSet
    val found = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every found pair must be planted: cross-pair vocab is disjoint, and
    // 64-bit signatures of independent docs land at hamming ~32 — a single
    // unrelated pair at <=3 marks a broken signature
    assert(found.subsetOf(planted), s"unplanted pairs surfaced: ${found -- planted}")
    val nearIdentical = (0 until 10).map(i => (2L * i, 2L * i + 1))
    val recall = nearIdentical.count(found).toDouble / nearIdentical.size
    assert(recall >= 0.8, s"simhash recall $recall over ${nearIdentical.size} one-edit pairs")
    val halfRewritten = (10 until 20).map(i => (2L * i, 2L * i + 1))
    val looseRate = halfRewritten.count(found).toDouble / halfRewritten.size
    assert(looseRate <= 0.2, s"simhash at maxHamming=3 matched $looseRate of half-rewritten pairs")
  }

  test("hamming column matches bitCount") {
    val out = Seq((0x0FL, 0x00L)).toDF("a", "b")
      .select(Dedup.hamming($"a", $"b")).as[Long].collect().head
    assert(out == 4)
  }

  // ── semanticDedup (SemDeDup): planted clustered corpus. 8 well-separated
  //    centers × 12 members with ENOUGH noise that members are NOT mutual
  //    duplicates at tau=0.995, plus exact copies of a third of the
  //    corpus. An exact copy shares its original's vector, hence its cell
  //    (deterministically), so at tau=0.995 survivors must be EXACTLY the
  //    originals — no clustering-quality assumption needed. ──
  private def semanticCorpus = {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8)(Array.fill(32)(rnd.nextGaussian()))
    val members = for (c <- 0 until 8; m <- 0 until 12) yield {
      val v = centers(c).map(x => (x + 0.45 * rnd.nextGaussian()).toFloat)
      (c.toLong * 12 + m, c, v)
    }
    val copies = members.filter(_._1 % 3 == 0)
      .map { case (id, c, v) => (1000L + id, c, v.clone()) }
    (members, copies)
  }

  test("semanticDedup removes exact copies, keeps all originals at high tau") {
    val (members, copies) = semanticCorpus
    val df = (members ++ copies).map { case (id, _, v) => (id, v) }
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(df, "vec_id", "embedding",
      tau = 0.995, k = 8).select("vec_id").as[Long].collect().toSet
    assert(kept == members.map(_._1).toSet,
      s"expected exactly the originals; missing=${members.map(_._1).toSet -- kept}, " +
        s"extra copies=${kept.filter(_ >= 1000L)}")
  }

  test("cellsFor holds expected cell size constant (pairs linear in n)") {
    // round-5 verdict weak #3: pairs ≈ n²/2k is quadratic at fixed k, so k
    // must track n — the planesFor analog for the cluster path
    assert(Dedup.cellsFor(128, targetCellSize = 16) == 8)
    assert(Dedup.cellsFor(0) == 2)   // floor: never a degenerate 1-cell all-pairs
    assert(Dedup.cellsFor(1) == 2)
    // k scales linearly with n at fixed target: expected |cell| constant
    val k1 = Dedup.cellsFor(1000000L)
    val k25 = Dedup.cellsFor(25000000L)
    assert(k25 == 25 * k1, s"k1=$k1 k25=$k25")
    // expected pairs n·target/2 per the scaladoc: check the arithmetic the
    // claim rests on — n²/2k = n·target/2 when k = n/target
    assert(math.abs(1000000.0 * 1000000.0 / (2.0 * k1) -
      1000000.0 * Dedup.SemanticTargetCellSize / 2.0) < 64.0)
  }

  test("semanticDedupSized removes exact copies, keeps all originals at high tau") {
    // the quality gate at the SIZED cell count: same planted corpus as the
    // fixed-k test; targetCellSize 16 sizes k = ceil(128/16) = 8 from the
    // corpus itself
    val (members, copies) = semanticCorpus
    val df = (members ++ copies).map { case (id, _, v) => (id, v) }
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedupSized(df, "vec_id", "embedding",
      tau = 0.995, targetCellSize = 16).select("vec_id").as[Long].collect().toSet
    assert(kept == members.map(_._1).toSet,
      s"expected exactly the originals; missing=${members.map(_._1).toSet -- kept}, " +
        s"extra copies=${kept.filter(_ >= 1000L)}")
  }

  test("hierarchical semantic dedup removes exact copies, keeps all originals at high tau") {
    // the two-level residual quantizer path (the scale regime past
    // HierarchicalCellsThreshold, forced here by calling it directly):
    // an exact copy shares its original's vector, hence BOTH level
    // assignments and the composite cell — so at tau=0.995 survivors
    // must again be exactly the originals, with no clustering-quality
    // assumption on either level
    val (members, copies) = semanticCorpus
    val df = (members ++ copies).map { case (id, _, v) => (id, v) }
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedupHierarchical(df, "vec_id", "embedding",
      tau = 0.995, k1 = 3, k2 = 3).select("vec_id").as[Long].collect().toSet
    assert(kept == members.map(_._1).toSet,
      s"expected exactly the originals; missing=${members.map(_._1).toSet -- kept}, " +
        s"extra copies=${kept.filter(_ >= 1000L)}")
    // and the composite index actually uses more than one cell per level
    val q = Ivf.trainResidualQuantizer(df, "embedding", 3, 3)
    val cells = Ivf.indexResidual(df, "vec_id", "embedding", q)
      .select("cell").distinct().count()
    assert(cells > 3, s"composite quantizer degenerated to $cells cells")
  }

  test("semanticDedupSized switches to the hierarchical path past the cell threshold") {
    // the sizing arithmetic: the threshold and the √k level split
    val k = Dedup.cellsFor(1000000L)                   // 15,625 cells > 4096
    assert(k > Dedup.HierarchicalCellsThreshold)
    val kLevel = math.ceil(math.sqrt(k.toDouble)).toInt
    assert(kLevel * kLevel >= k, "level split must not lose cells")
    assert(kLevel <= 2 * math.sqrt(k.toDouble).toInt + 1,
      "level sizes must stay ~sqrt(k)")
    // and the ROUTING end-to-end: a forced-low threshold sends the
    // planted corpus down the hierarchical branch (k = 8 > 4), which
    // must still keep exactly the originals — same guarantee, routed
    val (members, copies) = semanticCorpus
    val df = (members ++ copies).map { case (id, _, v) => (id, v) }
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedupSized(df, "vec_id", "embedding",
      tau = 0.995, targetCellSize = 16, hierarchicalThreshold = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == members.map(_._1).toSet,
      s"routed hierarchical path lost originals or kept copies: " +
        s"missing=${members.map(_._1).toSet -- kept}, extra=${kept.filter(_ >= 1000L)}")
  }

  test("semanticDecontaminate drops exactly the benchmark-similar vectors; both gate paths agree") {
    // planted: vecs 100/101 are exact/near copies of benchmark vectors,
    // the rest near-orthogonal random — only the copies may drop
    val rnd = new scala.util.Random(17)
    val b0 = Array.fill(32)(rnd.nextGaussian().toFloat)
    val b1 = Array.fill(32)(rnd.nextGaussian().toFloat)
    val near = b1.clone(); near(0) = near(0) + 0.01f
    val corpus = (Seq((100L, b0), (101L, near)) ++
      (0 until 20).map(i => (200L + i, Array.fill(32)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
    val bench = Seq((0L, b0), (1L, b1)).toDF("bench_id", "embedding")
    def kept(limit: Long) = Dedup.semanticDecontaminate(corpus, "vec_id", "embedding",
      bench, "embedding", tau = 0.95, idBroadcastLimit = limit)
      .select("vec_id").as[Long].collect().toSet
    val viaBroadcast = kept(Dedup.HotShingleBroadcastLimit)
    assert(viaBroadcast == (200L until 220L).toSet,
      s"wrong survivors: ${viaBroadcast.toSeq.sorted}")
    assert(viaBroadcast == kept(0L), "broadcast and shuffled-hash gate paths diverge")
    // the benchmark broadcast is count-gated too (a benchmark that scales
    // with the corpus must not funnel through the driver): forcing the
    // distributed cartesian path keeps the same survivors
    val viaDistBench = Dedup.semanticDecontaminate(corpus, "vec_id", "embedding",
      bench, "embedding", tau = 0.95, benchBroadcastLimit = 0L)
      .select("vec_id").as[Long].collect().toSet
    assert(viaDistBench == viaBroadcast, "gated benchmark paths diverge")
    // and under the gate the benchmark side broadcasts — the corpus
    // never shuffles to score
    val plan = Dedup.semanticContaminatedIds(corpus, "vec_id", "embedding",
      bench, "embedding", tau = 0.95).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"benchmark not broadcast:\n$plan")
  }

  test("past-gate semantic decon is cell-scoped, agrees with the exact path on a clustered corpus") {
    // round-7 verdict #2: past benchBroadcastLimit the pass must NOT be
    // an n·m cartesian — it routes through cell-scoped candidates. On a
    // clustered corpus with near-identical benchmark copies, the copy's
    // nearest cell IS its source's cell, so the cell path must find
    // exactly what the exact broadcast path finds (the documented
    // approximation only bites when a neighbor quantizes away — a
    // non-clustered regime this spec deliberately avoids).
    val rnd = new scala.util.Random(29)
    val rows = for (c <- 0 until 20; centre = Array.fill(32)(rnd.nextGaussian());
                    m <- 0 until 10)
      yield ((c * 10 + m).toLong,
        centre.map(v => (v + 0.02 * rnd.nextGaussian()).toFloat))
    val corpus = rows.toDF("vec_id", "embedding")
    // benchmark: 30 near-copies of members of clusters 0..2 (too many to
    // broadcast under a forced 0 gate), each a tiny jitter off its source
    val bench = rows.filter { case (id, _) => id < 30 }
      .map { case (id, v) =>
        (id + 10000L, v.map(x => x + 0.001f * rnd.nextGaussian().toFloat)) }
      .toDF("bench_id", "embedding")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc").as[Long].collect().toSet
    val exact = ids(Dedup.semanticContaminatedIds(corpus, "vec_id", "embedding",
      bench, "embedding", tau = 0.98))
    assert(exact.nonEmpty, "planted contamination not detected by the exact path")
    // forced past-gate: single-level cell scoping (cellsFor(230, 8) = 29 cells)
    val cellScoped = ids(Dedup.semanticContaminatedIds(corpus, "vec_id", "embedding",
      bench, "embedding", tau = 0.98, benchBroadcastLimit = 0L,
      targetCellSize = 8))
    assert(cellScoped == exact,
      s"cell-scoped decon diverged: missing=${exact -- cellScoped}, extra=${cellScoped -- exact}")
    // forced past-gate AND past the hierarchical threshold: the residual
    // quantizer branch must hold the same agreement
    val hierScoped = ids(Dedup.semanticContaminatedIds(corpus, "vec_id", "embedding",
      bench, "embedding", tau = 0.98, benchBroadcastLimit = 0L,
      targetCellSize = 8, hierarchicalThreshold = 8))
    assert(hierScoped == exact,
      s"hierarchical cell-scoped decon diverged: missing=${exact -- hierScoped}, extra=${hierScoped -- exact}")
  }

  test("nearDupPipeline: NULL texts are non-participants, all survive") {
    // groupBy(text) would fold every NULL-text row into ONE group and
    // keep only the min id; the raw path generates no pairs for them, so
    // all survive — the pipeline must match (code-review finding)
    val docs = Seq[(Long, String)](
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
      .unionAll(Seq(3L, 4L, 5L).toDF("doc_id").withColumn("text", lit(null).cast("string")))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Dedup.jaccardNearDup(df, "doc_id", "text", n = 3, threshold = 0.5)
    val viaPipeline = Dedup.nearDupPipeline(docs, "doc_id", "text", pairs)
      .select("doc_id").as[Long].collect().toSet
    val viaRaw = Dedup.removeNearDups(docs.filter($"text".isNotNull), "doc_id",
      pairs(docs.filter($"text".isNotNull)))
      .select("doc_id").as[Long].collect().toSet ++ Set(3L, 4L, 5L)
    assert(viaPipeline == Set(1L, 3L, 4L, 5L), s"got $viaPipeline")
    assert(viaPipeline == viaRaw)
  }

  test("digest-keyed rep collapse equals groupBy(text), on every branch") {
    // round-7 verdict #7: the collapse exchange must carry digests, not
    // document text — same reps as groupBy(text) regardless
    val rnd = new scala.util.Random(23)
    val texts = (0 until 30).map(_ =>
      Seq.fill(8)(("w" + rnd.nextInt(40))).mkString(" "))
    // each text appears 1-4x with distinct ids
    val docs = texts.zipWithIndex.flatMap { case (t, i) =>
      (0 to i % 4).map(r => ((i * 10 + r).toLong, t)) }
      .toDF("doc_id", "text")
    val expected = docs.groupBy($"text").agg(min($"doc_id").as("doc_id"))
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    def got(reps: org.apache.spark.sql.DataFrame) =
      reps.as[(Long, String)].collect().toSet
    // default digests (clean branch)
    assert(got(Dedup.repCollapse(docs, "doc_id", "text")) == expected)
    // past-gate id semi-join (SHUFFLE_HASH)
    assert(got(Dedup.repCollapse(docs, "doc_id", "text",
      idBroadcastLimit = 0L)) == expected)
    // FORCED collision: a degenerate digest folds every text into one
    // group — the second-hash verify must detect it and route everything
    // through the exact groupBy(text) fallback
    assert(got(Dedup.repCollapse(docs, "doc_id", "text",
      digests = Seq(lit(0L)))) == expected)
    // forced collision AND past-gate member join
    assert(got(Dedup.repCollapse(docs, "doc_id", "text",
      digests = Seq(lit(0L)), idBroadcastLimit = 0L)) == expected)
    // all-identical corpus: one group, verify stays quiet, min id wins
    val same = (0L until 5L).map((_, "same text for all rows here")).toDF("doc_id", "text")
    assert(got(Dedup.repCollapse(same, "doc_id", "text")) ==
      Set((0L, "same text for all rows here")))
  }

  test("dupRateBySource equals brute-force per-source rates, on both branches") {
    val docs = Seq(
      // srcA: 4 docs — one pair duplicated WITHIN the source
      (1L, "srcA", "shared boilerplate copy one"),
      (2L, "srcA", "shared boilerplate copy one"),
      (3L, "srcA", "unique alpha text"),
      (4L, "srcA", "cross source duplicated body"),
      // srcB: 3 docs — one copy of srcA's text (cross-source dup), rest unique
      (5L, "srcB", "cross source duplicated body"),
      (6L, "srcB", "unique beta text"),
      (7L, "srcB", "unique gamma text"),
      // srcC: all unique (+ a null text that must not count anywhere)
      (8L, "srcC", "unique delta text"),
      (9L, "srcC", null.asInstanceOf[String])
    ).toDF("doc_id", "source", "text")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val expected = Map(
      // srcA: docs 1,2 in-source dup pair; doc 4 in a cross-source group
      // (rep, not removable); 3 dup docs of 4, removable = doc 2 only
      "srcA" -> ((4L, 3L, 1L, 0.75)),
      // srcB: doc 5 dups srcA's doc 4 and loses min-id survivorship
      "srcB" -> ((3L, 1L, 1L, 0.3333)),
      "srcC" -> ((1L, 0L, 0L, 0.0)))
    assert(collect(Dedup.dupRateBySource(docs, "doc_id", "text", "source")) == expected)
    // forced digest collision: every text folds into one group — the
    // verify must route members through the exact text regroup
    assert(collect(Dedup.dupRateBySource(docs, "doc_id", "text", "source",
      digests = Seq(lit(0L)))) == expected)
  }

  test("rep collapse never ships text through a shuffle on the clean gated path") {
    // the scale claim itself, pinned on the plan: the digest aggregate
    // exchanges digest+id rows only (it runs inside the checkpoint), and
    // under the id-broadcast gate the text-carrying side of the returned
    // frame is a broadcast semi-join — ZERO shuffle exchanges downstream
    // of the corpus scan
    val docs = (0L until 50L).map(i => (i, s"document body number ${i % 7}"))
      .toDF("doc_id", "text")
    // both survivorship policies ride the shared collapseReps core — pin
    // the claim on each
    for (reps <- Seq(
        Dedup.repCollapse(docs, "doc_id", "text"),
        Dedup.repCollapseBest(docs, "doc_id", "text", score = $"doc_id".cast("double")))) {
      val plan = reps.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
        s"rep id set not broadcast under the gate:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"corpus text shuffled on the gated clean path:\n$plan")
    }
  }

  test("nearDupPipeline collapses exact dups before the band join (linear pair volume)") {
    // round-6 verdict #3: m identical docs share every band, so a raw
    // band join emits C(m,2) TRUE-positive pairs — here C(500,2) =
    // 124,750. Exact-first collapses them to one rep; pair generation
    // sees 4 distinct texts and emits exactly the one real near-dup pair.
    val m = 500
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    val docs = ((0 until m).map(i => (i.toLong, dupText)) ++ Seq(
      (9000L, "the quick brown fox jumps over the lazy cat again and again"),
      (9001L, "completely unrelated content words fill this document body here"),
      (9002L, "another unrelated run of tokens without overlap at all today")))
      .toDF("doc_id", "text")
    var pairCount = -1L
    val kept = Dedup.nearDupPipeline(docs, "doc_id", "text", reps => {
      val p = Dedup.jaccardNearDup(reps, "doc_id", "text",
        n = 3, threshold = 0.5).localCheckpoint(true)
      pairCount = p.count(); p
    }).select("doc_id").as[Long].collect().toSet
    assert(pairCount == 1L,
      s"band join over reps must see 4 texts -> 1 near-dup pair, got $pairCount")
    // survivors: the dup group's min id, minus 9000 (near-dup of rep 0),
    // plus the two unrelated docs
    assert(kept == Set(0L, 9001L, 9002L), s"wrong survivors: $kept")
  }

  test("nearDupPipeline survivors equal the raw pairs + removeNearDups path") {
    // the equivalence argument in the scaladoc, pinned (df-agnostic
    // pairsOf): collapsing exact dups first must not change WHO survives,
    // only how many pairs were generated to decide it
    val docs = ((0 until 40).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta eta theta")) ++ Seq(
      (8000L, "alpha beta gamma delta epsilon zeta eta iota"),
      (8001L, "totally different tokens compose this small document text")))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Dedup.jaccardNearDup(df, "doc_id", "text", n = 3, threshold = 0.5)
    val viaPipeline = Dedup.nearDupPipeline(docs, "doc_id", "text", pairs)
      .select("doc_id").as[Long].collect().toSet
    val viaRaw = Dedup.removeNearDups(docs, "doc_id", pairs(docs))
      .select("doc_id").as[Long].collect().toSet
    assert(viaPipeline == viaRaw, s"$viaPipeline vs $viaRaw")
    assert(viaPipeline == Set(0L, 8001L))
  }

  test("hot-cell cut bounds per-cell pair volume to linear (planted point mass)") {
    // round-6 verdict wrong #2: a dense region concentrates one cell, and
    // its |cell|² self-join runs in the ONE task owning that shuffle key.
    // Past hotCellThreshold the cell switches to the anchor pass — each
    // member vs the min-id member only — so a planted 300-copy point mass
    // must emit 299 pairs, not C(300,2) = 44,850.
    val rnd = new scala.util.Random(23)
    val dense = Array.fill(32)(rnd.nextGaussian())
    val mass = (0 until 300).map(i => (i.toLong, dense.map(_.toFloat)))
    val scattered = (0 until 50).map(i =>
      (1000L + i, Array.fill(32)(rnd.nextGaussian().toFloat)))
    val df = (mass ++ scattered).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDupPairs(df, "vec_id", "embedding",
      tau = 0.9, k = 4, hotCellThreshold = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val massPairs = pairs.filter(_._2 < 1000L)
    assert(massPairs.length == 299,
      s"hot cell must emit |cell|-1 anchor pairs, got ${massPairs.length}")
    assert(massPairs.forall(_._1 == 0L),
      "hot-cell pairs must all anchor at the cell's min id")
    // end-to-end: survivors are the anchor + the scattered singletons
    val kept = Dedup.semanticDedup(df, "vec_id", "embedding",
      tau = 0.9, k = 4, hotCellThreshold = 50)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == (Set(0L) ++ scattered.map(_._1)),
      s"point-mass survivors wrong: ${kept.toSeq.sorted.take(20)}...")
  }

  test("hot and cold cell paths keep the same survivors on a point mass") {
    // the documented approximation is pair-level, not survivor-level, for
    // the regime that actually triggers the cut: members of a dense cell
    // all match the anchor, so min-id survival is path-independent
    val rnd = new scala.util.Random(41)
    val dense = Array.fill(32)(rnd.nextGaussian())
    val mass = (0 until 120).map(i => (i.toLong, dense.map(_.toFloat)))
    val scattered = (0 until 30).map(i =>
      (1000L + i, Array.fill(32)(rnd.nextGaussian().toFloat)))
    val df = (mass ++ scattered).toDF("vec_id", "embedding")
    def kept(threshold: Int) = Dedup.semanticDedup(df, "vec_id", "embedding",
      tau = 0.9, k = 4, hotCellThreshold = threshold)
      .select("vec_id").as[Long].collect().toSet
    assert(kept(30) == kept(Dedup.HotCellThreshold),
      "anchor-pass survivors diverge from full-scan survivors on a point mass")
  }

  test("removeNearDups broadcast and distributed anti-join paths agree") {
    // round-5 verdict weak #1: the doomed-id broadcast assumed "duplicate
    // set ≪ corpus by construction" — false on web corpora (30-50%
    // near-dups). Now count-gated like decontaminate; idBroadcastLimit = 0
    // forces the shuffled-hash path, and both paths must keep the same
    // survivors.
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "the quick brown fox jumps over the lazy cat today"),
      (4L, "completely different words appear in this other document here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardNearDup(corpus, "doc_id", "text", n = 3, threshold = 0.5)
    def survivors(limit: Long) =
      Dedup.removeNearDups(corpus, "doc_id", pairs, idBroadcastLimit = limit)
        .select("doc_id").as[Long].collect().toSet
    val viaBroadcast = survivors(Dedup.HotShingleBroadcastLimit)
    val viaDistributed = survivors(0L)
    assert(viaBroadcast == viaDistributed, s"$viaBroadcast vs $viaDistributed")
    assert(viaBroadcast == Set(1L, 4L)) // min-id survivor per dup group
    // and the forced scale path really does plan a shuffled-hash anti-join
    val plan = Dedup.removeNearDups(corpus, "doc_id", pairs, idBroadcastLimit = 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftAnti"),
      s"forced distributed path still broadcasts:\n$plan")
  }

  test("semanticDedup at cluster-level tau collapses clusters but keeps >=1 member per center") {
    val (members, _) = semanticCorpus
    val df = members.map { case (id, _, v) => (id, v) }.toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(df, "vec_id", "embedding",
      tau = 0.80, k = 8).select("vec_id").as[Long].collect().toSet
    assert(kept.size < members.size, "nothing was collapsed")
    // every cell's min id survives by the survivor rule, so every center
    // retains at least one member no matter how KMeans carved the space
    val byCenter = members.groupBy(_._2)
    byCenter.foreach { case (c, ms) =>
      assert(ms.exists(m => kept.contains(m._1)), s"center $c fully removed")
    }
  }

  // ── winnowing (MOSS exact-substring fingerprints) ─────────────────────

  /** Reference winnowing: md5-prefix hash per k-gram, min per w-window.
    * Grams are CODEPOINT-based like SQL substr on both engines — a
    * UTF-16 substring reference would split surrogate pairs on non-BMP
    * text and pin the wrong semantics. */
  private def winnowRef(text: String, k: Int, w: Int): Set[String] = {
    def h16(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 16)
    }
    val cps = text.codePoints().toArray
    if (cps.length < k + w - 1) Set.empty
    else {
      val hs = (0 to cps.length - k).map(i => h16(new String(cps, i, k)))
      (0 to hs.length - w).map(j => hs.slice(j, j + w).min).toSet
    }
  }

  test("winnow fingerprints match the reference selection on random docs (property)") {
    val rnd = new scala.util.Random(20260813L)
    // mixed alphabet including a non-BMP codepoint (surrogate pair in
    // UTF-16): substr semantics must stay codepoint-based end to end
    val alphabet: IndexedSeq[String] =
      ('a' to 'z').map(_.toString) :+ new String(Character.toChars(0x1F600))
    val corpus = (1L to 30L).map { id =>
      val len = 20 + rnd.nextInt(180) // spans the below-min-length edge
      (id, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString)
    }
    val got = Dedup.winnowFingerprints(corpus.toDF("doc_id", "text"),
        "doc_id", "text", k = 16, w = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    corpus.foreach { case (id, text) =>
      val expected = winnowRef(text, 16, 8)
      assert(got.getOrElse(id, Set.empty) == expected,
        s"doc $id: got ${got.getOrElse(id, Set.empty).size} fps, expected ${expected.size}")
    }
  }

  test("winnowing guarantee: a shared >= w+k-1-char substring always shares a fingerprint") {
    val rnd = new scala.util.Random(7L)
    def randText(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // plant the same 23-char run (= w+k-1 at k=16,w=8) inside unrelated docs
    val shared = randText(23)
    val corpus = (1L to 10L).map(id => (id, randText(60) + shared + randText(60)))
    val fps = Dedup.winnowFingerprints(corpus.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val common = corpus.map(c => fps(c._1)).reduce(_ intersect _)
    assert(common.nonEmpty, "planted shared substring produced no common fingerprint")
    // and the pair query surfaces every pair at minShared=1
    val pairs = Dedup.winnowPairs(corpus.toDF("doc_id", "text"), "doc_id", "text",
      minShared = 1, maxDf = 50).count()
    assert(pairs == 45, s"expected all C(10,2) pairs, got $pairs")
  }

  test("winnow negative: disjoint-alphabet docs share nothing") {
    val a = (1L, "a" * 30 + "b" * 30 + "ab" * 20)
    val b = (2L, "x" * 30 + "y" * 30 + "xy" * 20)
    val pairs = Dedup.winnowPairs(Seq(a, b).toDF("doc_id", "text"),
      "doc_id", "text", minShared = 1, maxDf = 50).count()
    assert(pairs == 0)
  }

  test("winnowDecontaminate drops verbatim quoters, keeps unrelated; gate paths agree") {
    val rnd = new scala.util.Random(41L)
    def randText(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val benchText = randText(120)
    val bench = Seq((1000L, benchText)).toDF("doc_id", "text")
    val quote = benchText.substring(40, 40 + 30) // 30-char verbatim quote
    val corpus = Seq(
      (1L, randText(80) + quote + randText(80)), // quotes the benchmark
      (2L, randText(190)),                       // unrelated
      (3L, randText(190))                        // unrelated
    ).toDF("doc_id", "text")
    def survivors(fpLimit: Long, idLimit: Long) =
      Dedup.winnowDecontaminate(corpus, bench, "doc_id", "text",
        minShared = 1, idBroadcastLimit = idLimit, fpBroadcastLimit = fpLimit)
        .select("doc_id").as[Long].collect().toSet
    val viaBroadcast = survivors(Dedup.HotShingleBroadcastLimit, Dedup.HotShingleBroadcastLimit)
    assert(viaBroadcast == Set(2L, 3L), s"got $viaBroadcast")
    assert(survivors(0L, 0L) == viaBroadcast, "forced distributed path diverged")
  }

  test("winnowDecontaminate stopDf ignores boilerplate quotes; rare quotes still contaminate") {
    val rnd = new scala.util.Random(43L)
    def randText(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val boiler = randText(40)   // in the benchmark AND most of the corpus
    val rare = randText(40)     // in the benchmark and ONE corpus doc
    val bench = Seq((1000L, boiler + randText(40) + rare)).toDF("doc_id", "text")
    val corpus = ((1L to 10L).map(id => (id, randText(60) + boiler + randText(60))) :+
      (11L, randText(60) + rare + randText(60))).toDF("doc_id", "text")
    val kept = Dedup.winnowDecontaminate(corpus, bench, "doc_id", "text",
      minShared = 1, stopDf = Some(5))
      .select("doc_id").as[Long].collect().toSet
    // the df-10 boilerplate proves nothing (stopDf=5); the rare quote dooms 11
    assert(kept == (1L to 10L).toSet, s"got $kept")
  }

  test("winnow maxDf cuts boilerplate fingerprints before the pair join") {
    // 60 identical boilerplate docs (every fingerprint has df exactly 60 —
    // a prefix+boiler construction would also make partially-shared
    // junction fingerprints with intermediate df, inherent to winnowing)
    // plus unrelated randoms
    val rnd = new scala.util.Random(99L)
    def randText(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val boiler = randText(140)
    val corpus = (1L to 60L).map(id => (id, boiler)) ++
      (61L to 70L).map(id => (id, randText(140)))
    val cut = Dedup.winnowPairs(corpus.toDF("doc_id", "text"), "doc_id", "text",
      minShared = 1, maxDf = 50).count()
    assert(cut == 0, s"df-60 boilerplate fingerprints survived maxDf=50: $cut pairs")
    val kept = Dedup.winnowPairs(corpus.toDF("doc_id", "text"), "doc_id", "text",
      minShared = 1, maxDf = 60).count()
    assert(kept == 60L * 59 / 2, s"expected all boiler pairs at maxDf=60, got $kept")
  }

  // ── incremental (cross-snapshot) dedup ──────────────────────────────

  private def snapshotFrames = {
    val existing = Seq(
      (1L, "alpha bravo charlie delta echo"),
      (2L, "foxtrot golf hotel india juliet"),
      (3L, "kilo lima mike november oscar"),
      (4L, "kilo lima mike november oscar")  // existing-internal dup
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha bravo charlie delta echo"),   // re-ingested copy: drop
      (11L, "kilo lima mike november oscar"),    // copy of a dup group: drop
      (12L, "papa quebec romeo sierra tango"),   // new: keep
      (13L, "uniform victor whiskey xray yankee") // new: keep
    ).toDF("doc_id", "text")
    (existing, batch)
  }

  test("incrementalDedup drops re-ingested copies, keeps new docs; gate paths agree") {
    val (existing, batch) = snapshotFrames
    val naive = batch.join(existing.select("text"), Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(naive == Set(12L, 13L))
    // bloom path (existing under the gate) and distributed key-join path
    // (gate forced to 0) must both equal the naive anti-join
    for (limit <- Seq(Dedup.BloomItemLimit, 0L)) {
      val kept = Dedup.incrementalDedup(existing, batch, "doc_id", "text",
        bloomItemLimit = limit)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == naive, s"bloomItemLimit=$limit: got $kept")
    }
  }

  test("incrementalDedup keeps NULL-text batch rows on both paths") {
    val (existing, _) = snapshotFrames
    val exWithNull = existing.unionAll(
      Seq((5L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val batch = Seq(
      (20L, null.asInstanceOf[String]),          // NULL equals nothing: keep
      (21L, "alpha bravo charlie delta echo")    // dup: drop
    ).toDF("doc_id", "text")
    for (limit <- Seq(Dedup.BloomItemLimit, 0L)) {
      val kept = Dedup.incrementalDedup(exWithNull, batch, "doc_id", "text",
        bloomItemLimit = limit)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(20L), s"bloomItemLimit=$limit: got $kept")
    }
  }

  test("incrementalDedup trivial snapshots: empty existing keeps all, empty batch stays empty") {
    val (existing, batch) = snapshotFrames
    val empty = existing.limit(0)
    assert(Dedup.incrementalDedup(empty, batch, "doc_id", "text").count() == 4)
    assert(Dedup.incrementalDedup(existing, empty, "doc_id", "text").count() == 0)
  }

  test("incrementalDedup bloom path: existing never shuffles, probe is a might_contain filter") {
    // parquet-backed frames: over a LocalRelation the optimizer folds the
    // whole probe away at plan time (ConvertToLocalRelation), hiding the
    // shape this test pins
    val docs = graft.engine.Tables.read(spark, sf0001, "documents")
    val existing = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val cand = Dedup.incrementalCandidates(existing, batch, "doc_id", "text",
      bloomItemLimit = Dedup.BloomItemLimit)
    val candPlan = cand.queryExecution.executedPlan.toString
    // the candidate prefilter must be the codegen bloom probe — a pure
    // filter over the batch, no join and no shuffle of either snapshot
    assert(candPlan.contains("might_contain"), s"no bloom probe in plan:\n$candPlan")
    assert(!candPlan.contains("Exchange"), s"bloom probe should not shuffle:\n$candPlan")
    // end to end on the planted frames, the only join left is the tiny
    // doomed-id removal, broadcast under the gate
    val (ex2, b2) = snapshotFrames
    val outPlan = Dedup.incrementalDedup(ex2, b2, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(outPlan.contains("BroadcastHashJoin"), s"doomed-id removal not broadcast:\n$outPlan")
  }

  // ---- span-level exact-substring dedup (ExactSubstr second half) ----

  /** Brute-force reference of the whole span-dedup chain: winnow
    * selection (rightmost argmin per window), keep-first survivorship
    * over (doc, pos), constant-width extent cut. */
  private def spanDedupRef(docs: Seq[(Long, String)], k: Int, w: Int): Map[Long, String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h16(s: String): String = {
      md.reset()
      md.digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    }
    // selected (doc, pos 1-based, fp) occurrences per doc
    val posting = docs.flatMap { case (id, text) =>
      if (text == null || text.codePointCount(0, text.length) < k + w - 1) Seq.empty
      else {
        val cps = text.codePoints().toArray
        val nGrams = cps.length - k + 1
        val hs = (0 until nGrams).map(i => h16(new String(cps, i, k)))
        val sel = scala.collection.mutable.LinkedHashSet[Int]()
        for (ws <- 0 to nGrams - w) {
          val win = (ws until ws + w)
          val m = win.map(hs).min
          sel += win.filter(i => hs(i) == m).max // rightmost minimal gram
        }
        sel.toSeq.map(i => (id, i + 1, hs(i)))
      }
    }
    val byFp = posting.groupBy(_._3)
    val cuts = byFp.values.flatMap { occ =>
      if (occ.size < 2) Seq.empty
      else {
        val sorted = occ.sortBy(o => (o._1, o._2))
        sorted.tail.map(o => (o._1, o._2)) // all but the global first
      }
    }.toSeq.groupBy(_._1).map { case (d, ps) => d -> ps.map(_._2).sorted }
    docs.map { case (id, text) =>
      id -> (cuts.get(id) match {
        case None => text
        case Some(starts) =>
          val cps = if (text == null) Array.empty[Int] else text.codePoints().toArray
          val keep = Array.fill(cps.length)(true)
          for (p <- starts; i <- (p - 1) until math.min(p - 1 + k, cps.length))
            keep(i) = false
          val keptCps = cps.zip(keep).collect { case (c, true) => c }
          new String(keptCps, 0, keptCps.length)
      })
    }.toMap
  }

  test("spanDedup cuts duplicated spans keep-first, preserves unique text") {
    val shared = "THIS EXACT BOILERPLATE LICENSE BLOCK IS SHARED VERBATIM" // 55 chars
    val docs = Seq(
      (1L, s"unique alpha prose here. $shared and unique tail one"),
      (2L, s"different beta intro text. $shared plus other tail"),
      (3L, "entirely unique document with no duplication at all present"),
      (4L, "tiny"), // below k+w-1: passes through uncut
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (Option(r.getString(1)), r.getLong(2))).toMap
    // doc 1 is the first occurrence: fully intact
    assert(out(1L)._1.get == s"unique alpha prose here. $shared and unique tail one")
    assert(out(1L)._2 == 0L)
    // doc 2 loses the shared run's interior but keeps its unique prose
    // (up to w+k-2 chars at the run edges may survive — the winnowing
    // approximation of the exact span; interior must be gone)
    val d2 = out(2L)._1.get
    assert(d2.startsWith("different beta intro text."), d2)
    assert(d2.endsWith("tail"), d2)
    assert(!d2.contains("BOILERPLATE LICENSE"), s"shared interior survived: $d2")
    assert(out(2L)._2 > 0L)
    // untouched docs pass through byte-identical
    assert(out(3L)._1.get == "entirely unique document with no duplication at all present")
    assert(out(4L)._1.get == "tiny" && out(4L)._2 == 0L)
    assert(out(5L)._1.isEmpty && out(5L)._2 == 0L)
  }

  test("spanDedup cuts intra-doc repeats (second copy inside one doc)") {
    val block = "REPEATED INTERNAL PARAGRAPH OF MEANINGFUL LENGTH HERE"
    val docs = Seq(
      (7L, s"$block middle words between copies $block trailing")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val t = out(7L)
    assert(t.startsWith(block), t) // first copy survives
    assert(t.contains("middle words between copies"), t)
    // the second copy's interior is gone
    assert(t.indexOf("REPEATED INTERNAL", block.length) < 0, t)
  }

  test("spanDecontaminate cuts quoted benchmark spans, keeps the rest of the doc") {
    val quote = "THE BENCHMARK QUESTION TEXT THAT MUST NOT LEAK INTO TRAINING"
    val bench = Seq((100L, s"preamble. $quote followup.")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"long original document body. $quote and more original prose here"),
      (2L, "a fully original document with zero benchmark overlap present here")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDecontaminate(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // doc 1 keeps its original prose but the quote interior is gone —
    // ALL corpus occurrences cut (no keep-first: the benchmark is the
    // keeper by definition)
    assert(!out(1L)._1.contains("BENCHMARK QUESTION"), out(1L)._1)
    assert(out(1L)._1.startsWith("long original document body."), out(1L)._1)
    assert(out(1L)._2 > 0L)
    // doc 2 untouched, byte-identical
    assert(out(2L) == (("a fully original document with zero benchmark overlap present here", 0L)))
  }

  test("spanDedup matches the brute-force reference on a planted corpus (property)") {
    val rnd = new scala.util.Random(47)
    val blocks = Vector(
      "shared license header block number one with enough length",
      "another shared boilerplate footer paragraph also long enough")
    for (trial <- 1 to 2) {
      val docs = (1L to 6L).map { id =>
        val parts = Seq.fill(3)(
          if (rnd.nextBoolean()) blocks(rnd.nextInt(blocks.length))
          else s"unique${id}x${rnd.nextInt(1000)} " + ("filler word " * (3 + rnd.nextInt(4))).trim)
        id -> parts.mkString(" | ")
      }
      val expected = spanDedupRef(docs, 16, 8)
      val got = Dedup.spanDedup(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expected, s"trial $trial:\n got=$got\n exp=$expected")
    }
  }
}
