package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
import graft.engine.Tables

object Bench {

  /** One timed run through the noop sink. Returns (seconds, error). A
    * failure is REPORTED, never swallowed: a query that starts throwing
    * must not bench as a ~0.1 s "speedup" (harness honesty). */
  def once(spark: SparkSession, sfDir: String,
           fn: (SparkSession, String) => DataFrame): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, None)
    } catch {
      case NonFatal(e) =>
        ((System.nanoTime() - t0) / 1e9,
          Some(e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage).replaceAll("[\"\\\\\n\r\t]", " ").take(120)))
    }
  }

  /** Both timings of a best-of-2 query: `best` is what gets reported;
    * `spread` (slow/fast ratio) is the per-query noise witness. A pass-2
    * ERROR disqualifies t2 from both — a fast failure is not a timing
    * (the ~0.1 s "speedup" rule below) and its ratio is not host noise. */
  final case class Timing(t1: Double, t2: Option[Double], err: Option[String]) {
    private def t2Valid: Option[Double] = if (err.isDefined) None else t2
    def best: Double = t2Valid.fold(t1)(math.min(t1, _))
    def spread: Option[Double] =
      t2Valid.map(x => math.max(t1, x) / math.max(1e-9, math.min(t1, x)))
  }

  /** Run every query best-of-2 as two SEPARATED full passes.
    *
    * best-of-2 per query: single-shot timings on this box swing 2-3x
    * from background noise; the min measures the plan, not the noise.
    * The second timing comes from a second pass over the WHOLE query
    * list, not an immediate re-run: a multi-second host-noise burst
    * covers both halves of a back-to-back pair (measured: a
    * back-to-back best-of-2 bench still inflated 1.33x uniformly under
    * host contention, PERF.md finding 25), but
    * rarely the same query a full pass (~minutes) apart.
    * noop sink, not count(): count() lets Catalyst prune projections the
    * count never reads (PERF.md finding 9); noop materializes every column. */
  /** One-line session-state witness at a pass boundary (r20 verdict #3:
    * the driver's r20 session read the c24 family 3–6× slower in pass 2;
    * min-of-2 hides it, but if it is INTRA-SESSION state — accumulated
    * localCheckpoint blocks, heap/GC pressure — rather than host noise,
    * the noise stats lie. This stderr line makes the next such session
    * self-attributing: flat storage+GC across passes = host noise;
    * monotone growth = session state). Observability only — timings and
    * methodology unchanged. */
  private def passStateLine(spark: SparkSession, label: String): Unit =
    try {
      val rdds = spark.sparkContext.getRDDStorageInfo
      val memMb = rdds.map(_.memSize).sum / (1024.0 * 1024.0)
      val gc = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans
      var gcMs = 0L; gc.forEach(b => gcMs += math.max(0L, b.getCollectionTime))
      val heapMb = (Runtime.getRuntime.totalMemory -
        Runtime.getRuntime.freeMemory) / (1024.0 * 1024.0)
      System.err.println(
        f"[bench] $label: cachedRdds=${rdds.length} storedMem=$memMb%.1fMB " +
          f"heapUsed=$heapMb%.0fMB gcTotal=${gcMs / 1000.0}%.1fs")
    } catch { case NonFatal(_) => () }

  def measureDetailed(spark: SparkSession, sfDir: String,
                      queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, Timing] = {
    val names = queries.keys.toSeq.sorted
    passStateLine(spark, "pass 1 start")
    val pass1 = names.map(n => n -> once(spark, sfDir, queries(n))).toMap
    passStateLine(spark, "pass 2 start")
    val out = names.map { n =>
      val (t1, e1) = pass1(n)
      if (e1.isDefined) n -> Timing(t1, None, e1) // broken: don't re-run, report
      else {
        val (t2, e2) = once(spark, sfDir, queries(n))
        n -> Timing(t1, Some(t2), e2)
      }
    }.toMap
    passStateLine(spark, "pass 2 end")
    out
  }

  def measure(spark: SparkSession, sfDir: String,
              queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, (Double, Option[String])] =
    measureDetailed(spark, sfDir, queries)
      .map { case (n, t) => n -> (t.best, t.err) }

  /** Session noise witness: p50/p90 of the per-query slow/fast ratio
    * across the two passes. ~1.0 = quiet host, the totals are
    * attributable; >1.3 at p50 = the session itself was noisy and a
    * total-vs-total comparison is not evidence of a code change. */
  def noiseStats(detailed: Map[String, Timing]): (Double, Double) = {
    val spreads = detailed.values.flatMap(_.spread).toSeq.sorted
    if (spreads.isEmpty) (1.0, 1.0)
    else {
      def pct(p: Double) =
        spreads(math.min(spreads.size - 1, (p * spreads.size).toInt))
      (pct(0.50), pct(0.90))
    }
  }

  // 3 significant figures, always with a decimal point (parseable).
  // Sub-second timings keep 3 decimals: rounding 0.047 to "0.05" would
  // put fast-query A/B deltas on a 0.01 s grid coarser than the real
  // movement.
  private def r3(v: Double): String =
    BigDecimal(v).setScale(if (v < 1) 3 else if (v < 10) 2 else 1,
      BigDecimal.RoundingMode.HALF_UP).toString

  private def errsOf(results: Map[String, (Double, Option[String])]): Seq[String] =
    results.collect { case (k, (_, Some(e))) => s"\"$k\":\"$e\"" }.toSeq

  // ── per-query historical floors (r15 verdict #4) ─────────────────────
  // The r15 driver session read +6.6% with 31 untouched queries >15% up —
  // correctly adjudicated as session noise, but only by hand-joining
  // seven PERF.md sessions. The floors file carries the per-query minima
  // over ALL recorded full sessions, so every bench artifact attributes
  // its own noise: a query AT its floor moved nothing; a query above it
  // in a session whose floor_p50 is also elevated is session noise; a NEW
  // floor is a real improvement. When a deliberate trade changes a
  // query's plan (the `_mp` multi-probe case), delete its entry so the
  // floor re-seeds from the new plan's first session.

  /** Parse the flat machine-written floors file `{"name":sec,...}`.
    * Missing/corrupt file ⇒ empty (floors are advisory, never fatal). */
  def readFloors(path: String): Map[String, Double] =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      // \s* after the colon: the file is normally machine-written flat,
      // but the floors protocol invites HAND edits (delete an entry on a
      // deliberate plan change) — a pretty-printed rewrite must not
      // silently parse as "no prior floors" and let the next session
      // replace the whole history with its own values (r17 incident:
      // an indent-formatted rewrite zeroed every ratio to 1.0)
      """"([a-z0-9_]+)":\s*([0-9.]+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case NonFatal(_) => Map.empty }

  /** Fold this session's healthy bests into the prior floors: per-query
    * min, new queries enter at their first best, queries gone from the
    * surface prune away (the file tracks the CURRENT surface — the
    * cross-surface joins are what made the hand-attribution painful).
    * A query that ERRORED this session keeps its prior floor (review
    * r16): it is still on the surface, and dropping it would re-seed
    * the floor from whatever the next session happens to run — a
    * regression landing meanwhile would then read as "at its floor"
    * forever. */
  def mergedFloors(prior: Map[String, Double],
                   results: Map[String, (Double, Option[String])]): Map[String, Double] =
    results.flatMap {
      case (n, (best, None)) =>
        Some(n -> prior.get(n).fold(best)(math.min(_, best)))
      case (n, (_, Some(_))) => prior.get(n).map(n -> _)
    }

  /** Floors-history integrity guard (r17 verdict #3, automating the r17
    * hand-edit incident's tell): if the floors file EXISTS with content
    * but what we parsed from it is useless to this session's surface —
    * zero entries, or zero overlap with the queries just measured — the
    * PARSE (or a hand edit) is broken, not the history, and folding this
    * session in would silently replace the whole history with session
    * values (incident signature: every ratio reading exactly 1.00,
    * floor_p50 == 1.0). Returns None when overwriting `path` is safe, or
    * Some(sidePath): the caller warns loudly, writes the session's
    * floors to the side artifact, and leaves the history untouched for
    * repair (git show the pre-session file, re-fold with min). */
  def floorsQuarantinePath(path: String, prior: Map[String, Double],
                           resultKeys: Set[String]): Option[String] = {
    val f = new java.io.File(path)
    // "{}" is a valid empty history — and persistFloors itself writes it
    // NEWLINE-terminated, so the triviality test must read the trimmed
    // CONTENT, not the byte length (a length>2 check read the
    // machine-written "{}\n" as corrupt and self-quarantined every later
    // session — review r18)
    val nonTrivial = f.exists() && {
      val content =
        try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
        catch { case NonFatal(_) => "" }
      content.nonEmpty && content != "{}"
    }
    val parsedUseless =
      prior.isEmpty || prior.keySet.intersect(resultKeys).isEmpty
    if (nonTrivial && parsedUseless) Some(path + ".session") else None
  }

  /** Fold this session's bests into the floors history and persist —
    * through the [[floorsQuarantinePath]] guard. Returns the floors to
    * EMBED in the session artifact: the merged history normally; EMPTY
    * when quarantined (embedding session-equal "floors" would reproduce
    * the fake floor_p50=1.00 the guard exists to catch). */
  def persistFloors(floorsPath: String, prior: Map[String, Double],
                    results: Map[String, (Double, Option[String])]): Map[String, Double] = {
    val merged = mergedFloors(prior, results)
    val quarantine = floorsQuarantinePath(floorsPath, prior, results.keySet)
    quarantine.foreach { side =>
      System.err.println(
        s"[bench] FLOORS GUARD: $floorsPath exists but parsed to nothing " +
          "this session recognizes — NOT overwriting the floors history " +
          s"(a broken parse here once replaced it wholesale); writing this " +
          s"session's floors to $side instead. Repair: git show the " +
          "pre-session BENCH_FLOORS.json, re-fold the session file with min().")
    }
    val target = quarantine.getOrElse(floorsPath)
    try java.nio.file.Files.write(java.nio.file.Paths.get(target),
      (merged.toSeq.sorted.map { case (k, v) => s"\"$k\":${r3(v)}" }
        .mkString("{", ",", "}") + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] floors write failed: $e") }
    if (quarantine.isEmpty) merged else Map.empty
  }

  /** p50/p90 of best/floor across queries carrying a floor — the
    * one-number noise attribution (≈1.0 = the session sat on the
    * historical minima; broadly elevated = a slow session, not a
    * regression). */
  def floorStats(results: Map[String, (Double, Option[String])],
                 floors: Map[String, Double]): (Double, Double) = {
    val ratios = results.collect {
      case (n, (best, None)) if floors.get(n).exists(_ > 1e-9) =>
        best / floors(n)
    }.toSeq.sorted
    if (ratios.isEmpty) (1.0, 1.0)
    else {
      def pct(p: Double) =
        ratios(math.min(ratios.size - 1, (p * ratios.size).toInt))
      (pct(0.50), pct(0.90))
    }
  }

  /** The core count of the bench protocol: the only sessions whose
    * timings define the floors and the repo's BENCH_FULL.json. */
  val ProtocolCpus = 32

  /** The durable files one session writes under `repoRoot`: (the floors
    * history it persists into, the path of its full JSON). An unfiltered
    * session at [[ProtocolCpus]] writes BENCH_FLOORS.json and
    * BENCH_FULL.json; an unfiltered session at any other core count writes
    * only its side artifact BENCH_FULL_c<N>.json, so an 8-core run can
    * neither lower a floor nor pass for the protocol run; a filtered
    * session writes neither. */
  def durablePaths(repoRoot: String, cpus: Int,
                   filtered: Boolean): (Option[String], Option[String]) =
    if (filtered) (None, None)
    else if (cpus == ProtocolCpus)
      (Some(s"$repoRoot/BENCH_FLOORS.json"), Some(s"$repoRoot/BENCH_FULL.json"))
    else (None, Some(s"$repoRoot/BENCH_FULL_c$cpus.json"))

  /** What produced an artifact: the core count, the git HEAD of the
    * working directory, and the host's 1-minute load average when the
    * session started (negative where the platform has none). */
  def provenance(cpus: Int, loadAverage: Double): String = {
    val head =
      try scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"))
        .!!(scala.sys.process.ProcessLogger(_ => ())).trim
      catch { case NonFatal(_) => "unknown" }
    s""","cpus":$cpus,"head":"$head","loadavg":${r3(loadAverage)}"""
  }

  /** The COMPLETE one-line JSON — every query entry; goes to the durable
    * files, where bytes are free. `floors` lands beside the passes with
    * its p50/p90 attribution; `only` marks a FILTERED session so a
    * partial artifact is self-identifying (ADVICE r15); `provenance` is
    * [[provenance]]'s section. */
  def fullJson(results: Map[String, (Double, Option[String])], sfDir: String,
               detailed: Option[Map[String, Timing]] = None,
               floors: Map[String, Double] = Map.empty,
               only: Option[Seq[String]] = None,
               provenance: String = ""): String = {
    val qs = results.map { case (k, (v, _)) => s"\"$k\":${r3(v)}" }.mkString("{", ",", "}")
    val errs = errsOf(results)
    val total = results.values.map(_._1).sum
    // noise section (durable file only): p50/p90 slow/fast ratio across
    // the two passes plus both raw timings per query — the witness that
    // lets a reader tell "the host was noisy" from "the code regressed"
    // without a re-run.
    val noise = detailed.map { d =>
      val (p50, p90) = noiseStats(d)
      val raw = d.toSeq.sortBy(_._1).map { case (k, t) =>
        s"""\"$k\":[${r3(t.t1)}${t.t2.fold("")(x => "," + r3(x))}]"""
      }.mkString("{", ",", "}")
      s""","noise_p50":${r3(p50)},"noise_p90":${r3(p90)},"passes":$raw"""
    }.getOrElse("")
    val floorsSection =
      if (floors.isEmpty) ""
      else {
        val (fp50, fp90) = floorStats(results, floors)
        val fl = floors.toSeq.sorted.map { case (k, v) => s"\"$k\":${r3(v)}" }
          .mkString("{", ",", "}")
        s""","floor_p50":${r3(fp50)},"floor_p90":${r3(fp90)},"floors":$fl"""
      }
    val onlySection = only.fold("")(names =>
      s""","only":${names.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")}""")
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,""" +
      s""""errors":${errs.mkString("{", ",", "}")},"failed":${errs.size},""" +
      s""""sf":"$sfDir"$provenance$onlySection$noise$floorsSection}"""
  }

  /** The stdout line: the driver captures a bounded
    * ~2000-char stdout TAIL, which the full line outgrows
    * (head-truncated ⇒ `parsed: null`). 100+ query NAMES alone exceed the
    * window, so no formatting trick makes the complete map fit; instead
    * stdout gets a COMPLETE, PARSEABLE line that always fits the window:
    * slowest queries first (the entries perf analysis reads) up to
    * `budget` bytes, every error always included, an explicit "omitted"
    * count so the cut is visible rather than silent, and "full" pointing
    * at the durable copies that hold every entry. */
  def compactJson(results: Map[String, (Double, Option[String])], sfDir: String,
                  fullPath: String, budget: Int = 1750): String = {
    // the error section is capped too: a mass-failure
    // regression (bad sfDir, broken table reader) would otherwise put
    // ~100 error entries on the one line that must fit the window —
    // head-truncating it in exactly the run where parsing matters most.
    // First few errors with clipped messages + an explicit overflow
    // count; the full line in the durable files keeps every message.
    val errsAll = results.collect { case (k, (_, Some(e))) => (k, e) }.toSeq.sortBy(_._1)
    val errs = errsAll.take(8).map { case (k, e) => s"\"$k\":\"${e.take(60)}\"" }
    val total = results.values.map(_._1).sum
    val head = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":{"""
    def suffix(omitted: Int) =
      s"""},"omitted":$omitted,"errors":${errs.mkString("{", ",", "}")},""" +
        s""""errors_omitted":${errsAll.size - errs.size},""" +
        s""""failed":${errsAll.size},"sf":"${new java.io.File(sfDir).getName}",""" +
        s""""full":"$fullPath"}"""
    // slowest first, name tiebreak; greedy fill under the byte budget
    val entries = results.toSeq.sortBy { case (n, (v, _)) => (-v, n) }
      .map { case (k, (v, _)) => s"\"$k\":${r3(v)}" }
    val kept = scala.collection.mutable.ArrayBuffer[String]()
    var bytes = head.length + suffix(results.size).length
    for (e <- entries)
      if (bytes + e.length + 1 <= budget) { kept += e; bytes += e.length + 1 }
    head + kept.mkString(",") + suffix(results.size - kept.size)
  }

  /** Back-compat shape used by BenchSpec: (full JSON line, failed count). */
  def runAll(spark: SparkSession, sfDir: String,
             queries: Map[String, (SparkSession, String) => DataFrame]): (String, Int) = {
    val results = measure(spark, sfDir, queries)
    (fullJson(results, sfDir), errsOf(results).size)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val loadAtStart =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // 60+ queries in one session: without frequent cleaner GC the
      // accumulated broadcast/shuffle blocks from earlier queries choke
      // the memory store (default periodicGC is 30min — never fires here)
      .config("spark.cleaner.periodicGC.interval", "15s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec's "No Partition Defined" warning fires on prefixSum's
    // OFFSETS window — a ≤ shuffle-partitions-row frame by construction
    // (Relational.prefixSum phase 2), not a data-sized funnel. Silence it
    // so bench logs don't cry wolf; a REAL single-partition data window
    // would be caught by PlanShapeSpec, not by log scraping.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // warm the JVM/codegen/parquet-reader paths so the first timed query
    // doesn't absorb session startup
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      Tables.parquet(spark, s"$sfDir/region.parquet").count()
    } catch { case NonFatal(_) => () }
    // SPARK_GRAFT_ONLY=a,b,c restricts the run to named queries — the
    // session-composition A/B lever (does a query's wall depend on the
    // 150-query session around it, or on its own plan?). A filtered run
    // never overwrites the durable repo artifact. Unknown names FAIL
    // FAST: a typo silently filtering to zero queries would otherwise
    // report a green ~0 s total.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.mkString(",")}")
    }
    val queries = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.view.filterKeys(names).toMap)
    // pre-warm the marker-gated serve/rebuild fixtures UNTIMED (r14
    // verdict #8): on a fresh /tmp the one-off builds otherwise land
    // inside timed pass 1 (16.9 s on the rebuild fixture), polluting the
    // noise witness. Skipped when a filtered run measures no serve/
    // lifecycle query — an isolation A/B must not pay fixture builds its
    // queries never read. A failure here is NOT swallowed into a fake
    // green — the serve queries re-attempt the build and report the
    // error in the timed pass.
    if (queries.keys.exists(n =>
        n.startsWith("c14_ann_serve") || n.startsWith("c14_ann_index"))) {
      try graft.queries.QueryDefs.warmServeFixtures(spark, sfDir)
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] fixture warm-up failed (timed pass will retry): $e") }
    }
    val detailed = measureDetailed(spark, sfDir, queries)
    val results = detailed.map { case (n, t) => n -> (t.best, t.err) }
    // floors: read prior minima, fold this session in, persist — FULL
    // sessions at the protocol's core count only (a filtered mini-session
    // is measurably colder, PERF.md finding 26, and a session at another
    // core count times a different machine); every other session still
    // READS floors so its artifact attributes too.
    // sf0.1 only: minima from other scale factors are not comparable.
    val floorsPath = "/root/repo/BENCH_FLOORS.json"
    val (persistInto, fullOut) =
      durablePaths(new java.io.File(floorsPath).getParent, cpus.toInt, only.isDefined)
    val floorsApply = new java.io.File(sfDir).getName == "sf0.1"
    val prior = if (floorsApply) readFloors(floorsPath) else Map.empty[String, Double]
    val floors =
      if (!floorsApply) Map.empty[String, Double]
      else persistInto.fold(prior.view.filterKeys(results.keySet).toMap)(
        persistFloors(_, prior, results))
    val json = fullJson(results, sfDir, Some(detailed), floors,
      only.map(_.toSeq.sorted), provenance(cpus.toInt, loadAtStart))
    val failed = errsOf(results).size
    // durable copies FIRST — they can never lose data: /tmp for local
    // A/Bs, and a repo-root copy the judge can read after the driver's
    // post-round bench (the stdout tail window holds only the compact
    // line; the full per-query history lives here). A FILTERED session
    // defaults to its own /tmp path (ADVICE r15: overwriting the default
    // artifact let a partial A/B masquerade as a full session downstream).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isEmpty) "/tmp/graft_bench.json" else "/tmp/graft_bench_only.json")
    for (path <- (out +: fullOut.toSeq).distinct) {
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          (json + "\n").getBytes("UTF-8"))
        println(s"bench: wrote $path")
      } catch { case NonFatal(e) => System.err.println(s"[bench] write $path failed: $e") }
    }
    // stop BEFORE printing the payload: shutdown chatter must not land
    // between the JSON and end-of-stream. Full line first (its tail
    // survives partially), compact line LAST — the one guaranteed to sit
    // complete inside the driver's window.
    try spark.stop() catch { case NonFatal(_) => () }
    println(json)
    // the pointer names the DURABLE repo-root copy where the session has
    // one, not the volatile /tmp one (review round 8): a reader following
    // it after /tmp is cleaned must still find every entry
    println(compactJson(results, sfDir, fullOut.getOrElse(out)))
    System.out.flush()
    if (failed > 0) sys.exit(1)
  }
}
