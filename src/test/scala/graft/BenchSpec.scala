package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Harness-honesty spec (round-3 verdict, wrong #1): a query that throws
  * must surface in the bench JSON as an error, never be recorded as a
  * suspiciously fast timing. */
class BenchSpec extends SparkSpec {

  test("bench reports a broken query as an error, not a fast timing") {
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> ((s, _) => s.range(100).toDF("v")),
      "broken" -> ((_, _) => sys.error("boom: deliberately failing query"))
    )
    val (json, failed) = Bench.runAll(spark, "unused", qs)
    assert(failed == 1, s"expected 1 failure, got $failed in $json")
    assert(json.contains(""""failed":1"""), json)
    assert(json.contains(""""broken":"RuntimeException: boom"""), json)
    // the healthy query still gets a numeric timing
    assert("\"ok\":\\d+\\.\\d+".r.findFirstIn(json).isDefined, json)
    // the JSON line must stay machine-parseable despite the error message
    assert(json.count(_ == '{') == json.count(_ == '}'), s"unbalanced: $json")
  }

  test("all-green run reports failed=0 and sums query times") {
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "a" -> ((s, _) => s.range(10).toDF("v")),
      "b" -> ((s, _) => s.range(10).selectExpr("id * 2 as w"))
    )
    val (json, failed) = Bench.runAll(spark, "unused", qs)
    assert(failed == 0)
    assert(json.contains(""""errors":{}"""), json)
    assert(json.contains(""""metric":"total""""), json)
  }

  test("compact stdout line fits the driver tail window, keeps errors, counts omissions") {
    // round-7 verdict #3: the driver's ~2000-char stdout tail truncated
    // the full line three rounds running. The compact line must ALWAYS
    // fit, stay parseable, keep every error, and make the cut explicit.
    val results: Map[String, (Double, Option[String])] =
      (1 to 200).map(i => f"query_with_a_long_name_$i%03d" -> (i / 100.0, None)).toMap +
        ("exploder" -> (0.01, Some("RuntimeException: boom")))
    val line = Bench.compactJson(results, "/root/testdata/sf0.1", "/tmp/x.json")
    assert(line.length <= 1750, s"compact line ${line.length} bytes")
    assert(line.count(_ == '{') == line.count(_ == '}'), s"unbalanced: $line")
    assert(line.contains(""""exploder":"RuntimeException: boom""""), line)
    assert(line.contains(""""failed":1"""), line)
    assert(line.contains(""""sf":"sf0.1""""), line)
    // slowest entries survive the cut; the omitted count owns the rest
    assert(line.contains(""""query_with_a_long_name_200":2.00"""), line)
    val omitted = """"omitted":(\d+)""".r.findFirstMatchIn(line).map(_.group(1).toInt)
    assert(omitted.exists(_ > 0), s"no omitted count in $line")
    // and a small surface is NOT cut at all
    val small = Bench.compactJson(
      Map("a" -> (0.5, None), "b" -> (1.5, None)), "/x/sf0.01", "/tmp/x.json")
    assert(small.contains(""""omitted":0""") && small.contains(""""a":0.500"""), small)
    // mass failure (review round 8): ~100 long error messages must not
    // blow the line past the window — errors cap at 8 clipped entries
    // plus an explicit errors_omitted count
    val broken: Map[String, (Double, Option[String])] =
      (1 to 100).map(i => f"failing_query_number_$i%03d" ->
        (0.1, Some("SparkException: " + "x" * 110))).toMap
    val blowup = Bench.compactJson(broken, "/x/sf0.1", "/tmp/x.json")
    assert(blowup.length <= 1750, s"mass-failure line ${blowup.length} bytes")
    assert(blowup.contains(""""errors_omitted":92"""), blowup)
    assert(blowup.contains(""""failed":100"""), blowup)
    assert(blowup.count(_ == '{') == blowup.count(_ == '}'), blowup)
  }

  test("two-pass best-of-2: healthy queries time twice, noise witness lands in full JSON") {
    var runs = Map.empty[String, Int].withDefaultValue(0)
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> ((s, _) => { runs = runs.updated("ok", runs("ok") + 1); s.range(10).toDF("v") }),
      "broken" -> ((_, _) => {
        runs = runs.updated("broken", runs("broken") + 1)
        sys.error("boom")
      })
    )
    val detailed = Bench.measureDetailed(spark, "unused", qs)
    // a healthy query runs once per pass; a broken one fails fast in
    // pass 1 and is never re-run (its error is the result)
    assert(runs("ok") == 2, s"ok ran ${runs("ok")} times")
    assert(runs("broken") == 1, s"broken ran ${runs("broken")} times")
    assert(detailed("ok").t2.isDefined && detailed("ok").err.isEmpty)
    assert(detailed("broken").t2.isEmpty && detailed("broken").err.isDefined)
    assert(detailed("ok").best <= detailed("ok").t1)
    val (p50, p90) = Bench.noiseStats(detailed)
    assert(p50 >= 1.0 && p90 >= p50, s"noise stats out of order: $p50 $p90")
    val results = detailed.map { case (n, t) => n -> (t.best, t.err) }
    val json = Bench.fullJson(results, "unused", Some(detailed))
    assert(json.contains("\"noise_p50\":"), json)
    assert(json.contains("\"passes\":"), json)
    assert(json.count(_ == '{') == json.count(_ == '}'), s"unbalanced: $json")
    // a pass-2 ERROR disqualifies t2 from best AND spread: a fast
    // failure is not a timing and its ratio is not host noise
    val failedSecond = Bench.Timing(30.0, Some(0.1), Some("boom"))
    assert(failedSecond.best == 30.0, "errored pass 2 leaked into best")
    assert(failedSecond.spread.isEmpty, "errored pass 2 leaked into the noise witness")
  }

  test("floors: per-query minima merge, prune to the surface, and self-attribute the session (r15 verdict #4)") {
    val prior = Map("a" -> 1.0, "b" -> 2.0, "gone" -> 5.0, "flaky" -> 0.9)
    val results: Map[String, (Double, Option[String])] = Map(
      "a" -> (1.5, None),            // above floor: floor stays 1.0
      "b" -> (1.8, None),            // NEW floor: real improvement
      "fresh" -> (0.7, None),        // new query: enters at first best
      "broken" -> (0.1, Some("boom")), // errored, no history: no floor yet
      "flaky" -> (0.1, Some("boom"))   // errored WITH history: floor KEPT
    )
    val merged = Bench.mergedFloors(prior, results)
    assert(merged == Map("a" -> 1.0, "b" -> 1.8, "fresh" -> 0.7, "flaky" -> 0.9),
      s"merge wrong: $merged") // "gone" pruned (off the surface); a one-
      // session failure must not erase history (re-seeding from the next
      // session would bless an interim regression as the floor forever)
    // the artifact carries floors + the p50/p90 attribution
    val json = Bench.fullJson(results, "sf0.1", floors = merged)
    assert(json.contains("\"floors\":{"), json)
    assert(json.contains("\"floor_p50\":"), json)
    assert(json.count(_ == '{') == json.count(_ == '}'), s"unbalanced: $json")
    // ratios: a=1.5, b=1.0, fresh=1.0 → p50 = 1.0 (session at its floors)
    val (p50, p90) = Bench.floorStats(results, merged)
    assert(p50 == 1.0 && p90 == 1.5, s"floor stats wrong: $p50 $p90")
    // the repo floors file parses back (round-trip through the reader)
    val f = java.nio.file.Files.createTempFile("graft_floors", ".json")
    java.nio.file.Files.write(f, "{\"x\":1.25,\"y\":0.5}\n".getBytes("UTF-8"))
    assert(Bench.readFloors(f.toString) == Map("x" -> 1.25, "y" -> 0.5))
    assert(Bench.readFloors("/nonexistent/floors.json").isEmpty,
      "missing floors file must be advisory-empty, never fatal")
    // a HAND-edited pretty-printed file (the protocol invites entry
    // deletion) must parse too — r17 incident: a space after the colon
    // read as "no prior floors" and a session replaced the history
    val g = java.nio.file.Files.createTempFile("graft_floors_pretty", ".json")
    java.nio.file.Files.write(g,
      "{\n \"x\": 1.25,\n \"y\":  0.5\n}\n".getBytes("UTF-8"))
    assert(Bench.readFloors(g.toString) == Map("x" -> 1.25, "y" -> 0.5),
      "pretty-printed floors file silently parsed as empty")
  }

  test("floors guard: a corrupt history file is never overwritten — session floors quarantine to a side artifact (r17 verdict #3)") {
    // negative control for the r17 incident: the floors file EXISTS but
    // parses to nothing the session recognizes — persisting must leave
    // the history byte-identical, write the session's floors beside it,
    // warn loudly, and embed NO floors (a fake floor_p50=1.00 artifact
    // was the incident's signature).
    val dir = java.nio.file.Files.createTempDirectory("graft_floors_guard")
    val hist = dir.resolve("BENCH_FLOORS.json")
    val corrupt = "not json at all {{{" // parses to zero entries
    java.nio.file.Files.write(hist, corrupt.getBytes("UTF-8"))
    val results: Map[String, (Double, Option[String])] =
      Map("a" -> (1.5, None), "b" -> (2.0, None))
    val prior = Bench.readFloors(hist.toString)
    assert(prior.isEmpty)
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    val embedded =
      try Bench.persistFloors(hist.toString, prior, results)
      finally System.setErr(realErr)
    // history untouched, byte for byte
    assert(new String(java.nio.file.Files.readAllBytes(hist), "UTF-8") == corrupt,
      "guard overwrote the corrupt history instead of quarantining")
    // session floors landed in the side artifact and parse back
    val side = hist.toString + ".session"
    assert(Bench.readFloors(side) == Map("a" -> 1.5, "b" -> 2.0),
      "session floors missing from the quarantine side artifact")
    // nothing misleading embedded; warning emitted
    assert(embedded.isEmpty, "quarantined session must embed no floors")
    assert(errBuf.toString("UTF-8").contains("FLOORS GUARD"),
      "no loud warning on quarantine")
    // disjoint-surface hand edit (entries exist, none on the surface)
    // quarantines too; a healthy overlap does not
    assert(Bench.floorsQuarantinePath(hist.toString,
      Map("zz" -> 1.0), Set("a", "b")).isDefined)
    assert(Bench.floorsQuarantinePath(hist.toString,
      Map("a" -> 1.0, "zz" -> 1.0), Set("a", "b")).isEmpty)
    // a MISSING or empty-object history is the normal first-session path
    assert(Bench.floorsQuarantinePath(dir.resolve("nope.json").toString,
      Map.empty, Set("a")).isEmpty)
    // ...including the NEWLINE-terminated "{}\n" persistFloors itself
    // writes after an all-errors session (review r18: a byte-length
    // check read the machine-written empty history as corrupt and
    // self-quarantined every later session forever)
    val histEmpty = dir.resolve("BENCH_FLOORS_EMPTY.json")
    Bench.persistFloors(histEmpty.toString, Map.empty, Map.empty)
    assert(new String(java.nio.file.Files.readAllBytes(histEmpty), "UTF-8")
      .trim == "{}", "empty-session persist no longer writes {}")
    assert(Bench.floorsQuarantinePath(histEmpty.toString,
      Bench.readFloors(histEmpty.toString), Set("a")).isEmpty,
      "machine-written empty history self-quarantines")
    val embeddedAfterEmpty = Bench.persistFloors(histEmpty.toString,
      Bench.readFloors(histEmpty.toString), results)
    assert(embeddedAfterEmpty == Map("a" -> 1.5, "b" -> 2.0) &&
      Bench.readFloors(histEmpty.toString) == Map("a" -> 1.5, "b" -> 2.0),
      "floors never accumulate after an empty first session")
    // positive control: healthy history merges in place
    val hist2 = dir.resolve("BENCH_FLOORS2.json")
    java.nio.file.Files.write(hist2, "{\"a\":1.0}\n".getBytes("UTF-8"))
    val prior2 = Bench.readFloors(hist2.toString)
    val embedded2 = Bench.persistFloors(hist2.toString, prior2, results)
    assert(embedded2 == Map("a" -> 1.0, "b" -> 2.0))
    assert(Bench.readFloors(hist2.toString) == Map("a" -> 1.0, "b" -> 2.0),
      "healthy merge did not land in the history file")
  }

  test("a FILTERED session is self-identifying in its artifact (ADVICE r15)") {
    val results: Map[String, (Double, Option[String])] =
      Map("a" -> (1.0, None))
    val json = Bench.fullJson(results, "sf0.1", only = Some(Seq("a")))
    assert(json.contains(""""only":["a"]"""), json)
    assert(!Bench.fullJson(results, "sf0.1").contains("\"only\""),
      "full sessions must not carry the filter marker")
  }

  test("only an unfiltered 32-core session writes the floors and BENCH_FULL.json") {
    assert(Bench.durablePaths("/r", 32, filtered = false) ==
      (Some("/r/BENCH_FLOORS.json"), Some("/r/BENCH_FULL.json")))
    for (cpus <- Seq(4, 8, 16, 64))
      assert(Bench.durablePaths("/r", cpus, filtered = false) ==
        (None, Some(s"/r/BENCH_FULL_c$cpus.json")), s"cpus=$cpus")
    for (cpus <- Seq(8, 32))
      assert(Bench.durablePaths("/r", cpus, filtered = true) == (None, None), s"cpus=$cpus")
  }

  test("the full JSON records cpus, git HEAD and the load average") {
    val results: Map[String, (Double, Option[String])] = Map("a" -> (1.0, None))
    val json = Bench.fullJson(results, "sf0.1", provenance = Bench.provenance(8, 1.5))
    assert(json.contains(""""cpus":8,"""), json)
    assert(""""head":"([0-9a-f]{40}|unknown)"""".r.findFirstIn(json).isDefined, json)
    assert(json.contains(""""loadavg":1.50"""), json)
    assert(json.count(_ == '{') == json.count(_ == '}'), s"unbalanced: $json")
  }

  test("driver contract: every oracle has a query, names are driver-safe, entry smokes") {
    // the driver joins oracleSql to queries BY NAME and embeds names in
    // file paths / JSON keys — an orphaned oracle or an exotic name fails
    // silently out there, so pin the contract here
    val qs = SparkEntry.queries
    val orphans = SparkEntry.oracleSql.keySet -- qs.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    val badNames = qs.keySet.filterNot(_.matches("[a-z0-9_]+"))
    assert(badNames.isEmpty, s"non-driver-safe query names: $badNames")
    assert(qs.size >= 90, s"query surface shrank to ${qs.size}")
    assert(SparkEntry.entry(spark).limit(1).count() == 1, "flagship entry returned no rows")
  }
}
