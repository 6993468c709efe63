package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                    event_type: String, value: Double, props: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)
  private def ev(id: Long, t: String, uid: Long = 1L, typ: String = "click",
                 v: Double = 1.0) = Ev(id, ts(t), uid, typ, v, "{}")

  private var sinkN = 0
  private def runStream[T](
      mem: MemoryStream[Ev],
      plan: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      mode: OutputMode,
      feeds: Seq[Seq[Ev]]): Seq[org.apache.spark.sql.Row] = {
    sinkN += 1
    val name = s"sink$sinkN"
    val q = plan(mem.toDF()).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try {
      feeds.foreach { batch => mem.addData(batch); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).collect().toSeq
  }

  test("tumbling window counts on a stream match the batch expression") {
    val mem = MemoryStream[Ev]
    val rows = runStream(mem, Streaming.tumblingCounts(_, "1 hour", "10 minutes"),
      OutputMode.Complete(),
      Seq(Seq(
        ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:55:00"),
        ev(3, "2024-01-01 11:05:00", typ = "buy", v = 5.0)
      )))
    val byKey = rows.map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    assert(byKey(("2024-01-01 10:00:00.0", "click")) == 2)
    assert(byKey(("2024-01-01 11:00:00.0", "buy")) == 1)
  }

  test("watermark drops events later than the allowed lateness (append mode)") {
    val mem = MemoryStream[Ev]
    val rows = runStream(mem, Streaming.tumblingCounts(_, "1 hour", "10 minutes"),
      OutputMode.Append(),
      Seq(
        Seq(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:20:00")),
        // advance event time far ahead -> watermark passes 10:00-11:00
        Seq(ev(3, "2024-01-01 13:00:00")),
        // this row is hours behind the watermark: must be dropped
        Seq(ev(4, "2024-01-01 10:30:00")),
        Seq(ev(5, "2024-01-01 15:00:00"))
      ))
    val w10 = rows.filter(_.getTimestamp(0).toString == "2024-01-01 10:00:00.0")
    assert(w10.length == 1 && w10.head.getLong(2) == 2, s"late row leaked: $rows")
  }

  test("stream-stream interval join emits matched pairs and matches batch") {
    val vm = MemoryStream[Ev]
    val cm = MemoryStream[Ev]
    val q = Streaming.viewClickAttribution(vm.toDF(), cm.toDF(),
        "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    val views = Seq(ev(1, "2024-01-01 10:00:00", uid = 1, typ = "view"),
      ev(2, "2024-01-01 11:00:00", uid = 2, typ = "view"))
    val clicks = Seq(
      ev(10, "2024-01-01 10:10:00", uid = 1),  // within 30m of view 1 -> match
      ev(11, "2024-01-01 10:45:00", uid = 1),  // 45m after view 1 -> no match
      ev(12, "2024-01-01 11:10:00", uid = 3))  // no view for user 3
    try {
      vm.addData(views); cm.addData(clicks)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == Set((1L, 1L, 10L, 600000000L)), s"got $streamed")
    // the SAME expression on batch frames produces the same pairs
    val batch = Streaming.viewClickAttribution(views.toDF(), clicks.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(batch == streamed)
  }

  test("session windows merge events within the gap and split beyond it") {
    val mem = MemoryStream[Ev]
    val rows = runStream(mem, Streaming.sessionAgg(_, "30 minutes", "10 minutes"),
      OutputMode.Complete(),
      Seq(Seq(
        ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:20:00"), // session A
        ev(3, "2024-01-01 12:00:00"),                               // session B
        ev(4, "2024-01-01 10:05:00", uid = 2)                       // other user
      )))
    val u1 = rows.filter(_.getLong(0) == 1L).map(r => (r.getTimestamp(1).toString, r.getLong(2)))
    assert(u1.toSet == Set(("2024-01-01 10:00:00.0", 2L), ("2024-01-01 12:00:00.0", 1L)))
    assert(rows.count(_.getLong(0) == 2L) == 1)
  }

  test("dropDuplicatesWithinWatermark dedups by event_id across batches") {
    val mem = MemoryStream[Ev]
    val rows = runStream(mem, Streaming.dedupWithinWatermark(_, Seq("event_id"), "10 minutes"),
      OutputMode.Append(),
      Seq(
        Seq(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:00:00")),
        Seq(ev(1, "2024-01-01 10:01:00"), ev(2, "2024-01-01 10:02:00"))
      ))
    assert(rows.map(_.getAs[Long]("event_id")).sorted == Seq(1L, 2L))
  }

  test("stateful stream dedup equals the batch first-event survivor (in-order feed)") {
    val events = Seq(
      ev(1, "2024-01-01 10:00:00", uid = 1, typ = "click"),
      ev(2, "2024-01-01 10:05:00", uid = 1, typ = "click"), // dup key, later
      ev(3, "2024-01-01 10:06:00", uid = 1, typ = "buy"),
      ev(4, "2024-01-01 10:07:00", uid = 2, typ = "click"),
      ev(5, "2024-01-01 10:15:00", uid = 2, typ = "click")  // dup key, later
    )
    val mem = MemoryStream[Ev]
    // one event per micro-batch: arrival order == event-time order, so the
    // stream's first-arrival survivor is exactly the batch min-(ts,id) one
    val streamed = runStream(mem,
      Streaming.dedupWithinWatermark(_, Seq("user_id", "event_type"), "10 minutes"),
      OutputMode.Append(), events.map(Seq(_)))
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Timestamp]("ts"), r.getAs[Long]("event_id"))).toSet
    val batch = Streaming.dedupFirstEvent(events.toDF(), Seq("user_id", "event_type"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Timestamp]("first_ts"), r.getAs[Long]("first_event_id"))).toSet
    assert(streamed == batch)
  }

  test("streaming funnel stages equal the batch window query on an in-order feed") {
    // user 1 completes the funnel; user 2 clicks BEFORE viewing (click
    // must not count — the order is the point); user 3 only views
    val evs = Seq(
      Streaming.FunnelEvent(2L, ts("2024-01-01 09:59:00"), "click"),
      Streaming.FunnelEvent(1L, ts("2024-01-01 10:00:00"), "view"),
      Streaming.FunnelEvent(2L, ts("2024-01-01 10:01:00"), "view"),
      Streaming.FunnelEvent(1L, ts("2024-01-01 10:02:00"), "click"),
      Streaming.FunnelEvent(3L, ts("2024-01-01 10:03:00"), "view"),
      Streaming.FunnelEvent(1L, ts("2024-01-01 10:04:00"), "purchase"),
      Streaming.FunnelEvent(2L, ts("2024-01-01 10:05:00"), "purchase"))
    val mem = MemoryStream[Streaming.FunnelEvent]
    val q = Streaming.funnelStream(mem.toDS()).writeStream
      .format("memory").queryName("funnel").outputMode("update").start()
    try {
      // one event per micro-batch: arrival order == event-time order
      evs.foreach { e => mem.addData(e); q.processAllAvailable() }
    } finally q.stop()
    // update mode: latest row per user wins
    val stages = spark.table("funnel").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).map { case (u, rows) => u -> rows.last._2 }
    assert(stages == Map(1L -> 3, 2L -> 1, 3L -> 1), s"got $stages")
    // batch equivalence: the c9_funnel window formulation per user
    val batch = evs.map(e => (e.user_id, e.ts, e.event_type))
      .toDF("user_id", "ts", "event_type")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"))
    val perUser = batch
      .withColumn("sv", max(when($"event_type" === "view", 1).otherwise(0)).over(w))
      .withColumn("sc", max(when($"event_type" === "click" && $"sv" === 1, 1).otherwise(0)).over(w))
      .withColumn("sp", max(when($"event_type" === "purchase" && $"sc" === 1, 1).otherwise(0)).over(w))
      .groupBy("user_id")
      .agg((max("sv") + max("sc") + max("sp")).as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(perUser == stages)
  }

  test("streaming funnel: in-batch disorder cannot flip the stage flags") {
    // same events for one user delivered in ONE batch, shuffled: the
    // per-batch event-time sort must recover view -> click -> purchase
    val shuffled = Seq(
      Streaming.FunnelEvent(7L, ts("2024-01-01 10:04:00"), "purchase"),
      Streaming.FunnelEvent(7L, ts("2024-01-01 10:00:00"), "view"),
      Streaming.FunnelEvent(7L, ts("2024-01-01 10:02:00"), "click"))
    val mem = MemoryStream[Streaming.FunnelEvent]
    val q = Streaming.funnelStream(mem.toDS()).writeStream
      .format("memory").queryName("funnel_ooo").outputMode("update").start()
    try { mem.addData(shuffled); q.processAllAvailable() } finally q.stop()
    val rows = spark.table("funnel_ooo").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.toSeq == Seq((7L, 3)), s"got ${rows.toSeq}")
  }

  test("streaming funnel: equal-ts events fold in event_id order (batch tie-break)") {
    // round-6 advisor finding: a same-timestamp view+click pair folded in
    // whatever order the shuffle delivered, nondeterministically granting
    // or denying stage 2. The batch c9_funnel tie-breaks by event_id;
    // the stream now sorts by (ts, event_id) and must agree both ways.
    val t0 = ts("2024-01-01 10:00:00")
    // view has the SMALLER event_id -> folds first -> click counts
    val grant = Seq(
      Streaming.FunnelEvent(1L, t0, "click", event_id = 2L),
      Streaming.FunnelEvent(1L, t0, "view", event_id = 1L))
    // view has the LARGER event_id -> click folds first -> stage 1 only
    val deny = Seq(
      Streaming.FunnelEvent(2L, t0, "click", event_id = 1L),
      Streaming.FunnelEvent(2L, t0, "view", event_id = 2L))
    val mem = MemoryStream[Streaming.FunnelEvent]
    val q = Streaming.funnelStream(mem.toDS()).writeStream
      .format("memory").queryName("funnel_tie").outputMode("update").start()
    try { mem.addData(grant ++ deny); q.processAllAvailable() } finally q.stop()
    val stages = spark.table("funnel_tie").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(stages == Map(1L -> 2, 2L -> 1), s"got $stages")
  }

  test("flatMapGroupsWithState keeps running per-user totals across batches") {
    val mem = MemoryStream[Streaming.UserEvent]
    val q = Streaming.userRunningTotals(mem.toDS()).writeStream
      .format("memory").queryName("running").outputMode("update").start()
    try {
      mem.addData(Streaming.UserEvent(1, ts("2024-01-01 10:00:00"), 2.0),
        Streaming.UserEvent(1, ts("2024-01-01 10:01:00"), 3.0))
      q.processAllAvailable()
      mem.addData(Streaming.UserEvent(1, ts("2024-01-01 10:02:00"), 5.0),
        Streaming.UserEvent(2, ts("2024-01-01 10:03:00"), 7.0))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("running").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // update mode emits one row per key per batch; the latest per key wins
    assert(last.contains((1L, 2L, 5.0)))   // after batch 1
    assert(last.contains((1L, 3L, 10.0)))  // after batch 2
    assert(last.contains((2L, 1L, 7.0)))
  }

  test("transformWithState (Spark 4 API) matches flatMapGroupsWithState semantics") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Streaming.UserEvent]
      val q = Streaming.userRunningTotalsTws(mem.toDS()).writeStream
        .format("memory").queryName("running_tws").outputMode("update").start()
      try {
        mem.addData(Streaming.UserEvent(1, ts("2024-01-01 10:00:00"), 2.0),
          Streaming.UserEvent(1, ts("2024-01-01 10:01:00"), 3.0))
        q.processAllAvailable()
        mem.addData(Streaming.UserEvent(1, ts("2024-01-01 10:02:00"), 5.0))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("running_tws").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.contains((1L, 2L, 5.0)))
      assert(rows.contains((1L, 3L, 10.0))) // state carried across batches
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("C17 file-source ingest: stream the events parquet and aggregate") {
    // the testdata events table stores ns timestamps; stream the converted
    // table (same loader as batch) through a file source instead
    val dir = java.nio.file.Files.createTempDirectory("graft-events").toString
    graft.engine.Tables.read(spark, sf0001, "events")
      .write.mode("overwrite").parquet(dir)
    val q = Streaming.tumblingCounts(
      Streaming.readEventsStream(spark, dir), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("filesrc").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("filesrc").agg(sum("n")).collect().head.getLong(0)
    assert(n == 1000L, s"expected all 1000 events aggregated, got $n")
  }

  test("streaming sliding agg equals the batch run of the same expression") {
    val events = Seq(
      ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:40:00"),
      ev(3, "2024-01-01 11:05:00", typ = "buy", v = 5.0)
    )
    val mem = MemoryStream[Ev]
    val streamed = runStream(mem,
      Streaming.slidingCounts(_, "1 hour", "30 minutes", "10 minutes"),
      OutputMode.Complete(), Seq(events))
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Streaming.slidingCounts(events.toDF(), "1 hour", "30 minutes", "10 minutes")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
  }

  test("streaming decontamination drops contaminated docs as they arrive, matching batch") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "xx beta gamma delta epsilon zeta eta theta iota yy"), // 8-gram hit
      (2L, "alpha beta gamma delta epsilon zeta eta CHANGED iota kappa"), // 7-gram only
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "alpha beta gamma") // too short
    )
    val mem = MemoryStream[(Long, String)]
    val name = "sink_decon"
    val q = Streaming.decontaminateStream(
        mem.toDF().toDF("doc_id", "text"), bench, "doc_id", "text", n = 8)
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    try {
      // two micro-batches: the filter is stateless, arrival order is free
      mem.addData(docs.take(2)); q.processAllAvailable()
      mem.addData(docs.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(name).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val batch = graft.ops.Dedup.decontaminate(
        docs.toDF("doc_id", "text"), bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    assert(streamed == Set(2L, 3L, 4L))
  }

  test("streaming semantic decontamination equals the batch path (stateless, per-row)") {
    // round-7 verdict #8: the embedding analog of decontaminateStream —
    // the benchmark's vectors ride ONE broadcast row, the per-row test is
    // an exists over codegen cosine; stream==batch pinned against
    // Dedup.semanticDecontaminate
    val rnd = new scala.util.Random(31)
    val b0 = Array.fill(16)(rnd.nextGaussian().toFloat)
    val b1 = Array.fill(16)(rnd.nextGaussian().toFloat)
    val vecs = Seq(
      (1L, b0.map(x => x + 0.01f)),                       // near b0 -> dropped
      (2L, Array.fill(16)(rnd.nextGaussian().toFloat)),   // unrelated -> kept
      (3L, b1.map(x => x - 0.005f)),                      // near b1 -> dropped
      (4L, Array.fill(16)(rnd.nextGaussian().toFloat)))   // unrelated -> kept
    val bench = Seq((10L, b0), (11L, b1)).toDF("bench_id", "embedding")
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.semanticDecontaminateStream(
        mem.toDF().toDF("vec_id", "embedding"), bench,
        "vec_id", "embedding", "embedding", tau = 0.95)
      .writeStream.format("memory").queryName("sink_sdec")
      .outputMode(OutputMode.Append()).start()
    try {
      // two micro-batches: stateless filter, arrival order is free
      mem.addData(vecs.take(2)); q.processAllAvailable()
      mem.addData(vecs.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sink_sdec").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val batch = graft.ops.Dedup.semanticDecontaminate(
        vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
        bench, "embedding", tau = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed == Set(2L, 4L))
    // the packed-row broadcast is count-gated (no-small-by-construction):
    // past the gate the filter is a stream-static LEFT ANTI on the cosine
    // condition — same survivors, distributed, no single-row funnel
    val mem2 = MemoryStream[(Long, Array[Float])]
    val q2 = Streaming.semanticDecontaminateStream(
        mem2.toDF().toDF("vec_id", "embedding"), bench,
        "vec_id", "embedding", "embedding", tau = 0.95,
        benchBroadcastLimit = 0L)
      .writeStream.format("memory").queryName("sink_sdec2")
      .outputMode(OutputMode.Append()).start()
    try {
      mem2.addData(vecs); q2.processAllAvailable()
    } finally q2.stop()
    val gated = spark.table("sink_sdec2").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(gated == streamed, s"gated paths diverge: $gated vs $streamed")
  }

  test("streaming prototype filter equals the batch scores, on both gate paths") {
    // batch-trained per-label prototypes score stream arrivals with the
    // SAME decimal fold prototypeScores runs, so the kept set and the
    // 4-dp scores match the batch filter exactly
    val rnd = new scala.util.Random(47)
    def near(base: Array[Float], eps: Float) = base.map(x => x + eps)
    val base0 = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base1 = Array.fill(16)(rnd.nextGaussian().toFloat)
    val train = Seq(
      (1L, 0, near(base0, 0.01f)), (2L, 0, near(base0, -0.02f)),
      (3L, 0, near(base0, 0.015f)),
      (4L, 1, near(base1, 0.01f)), (5L, 1, near(base1, -0.01f)))
      .toDF("vec_id", "label", "embedding")
    val protos = graft.ops.Similarity.prototypes(train, "embedding", "label")
    val arrivals = Seq(
      (10L, 0, near(base0, 0.005f)),                      // prototypical -> kept
      (11L, 0, base0.map(x => -x)),                       // outlier -> dropped
      (12L, 1, near(base1, -0.02f)),                      // prototypical -> kept
      (13L, 1, Array.fill(16)(rnd.nextGaussian().toFloat))) // off-cluster
    val mem = MemoryStream[(Long, Int, Array[Float])]
    val q = Streaming.prototypeFilterStream(
        mem.toDF().toDF("vec_id", "label", "embedding"),
        "vec_id", "embedding", "label", protos, minSim = 0.9)
      .writeStream.format("memory").queryName("sink_proto")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(arrivals.take(2)); q.processAllAvailable()
      mem.addData(arrivals.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sink_proto")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // batch reference: score arrivals against the SAME trained centroids
    // by appending them to nothing — prototypeScores recomputes centroids
    // from its input, so feed train ∪ arrivals and keep arrival rows whose
    // score comes from the train-only prototypes via the stream operator's
    // own batch run (stream==batch is the operator contract)
    val batchKept = Streaming.prototypeFilterStream(
        arrivals.toDF("vec_id", "label", "embedding"),
        "vec_id", "embedding", "label", protos, minSim = 0.9)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(streamed == batchKept, s"stream $streamed vs batch $batchKept")
    assert(streamed.contains(10L) && streamed.contains(12L), s"$streamed")
    assert(!streamed.contains(11L), s"outlier survived: $streamed")
    // scores agree with prototypeScores' arithmetic: train members score
    // ~1 against their own prototype under the same fold
    val selfScores = graft.ops.Similarity.prototypeScores(
        train, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(selfScores.values.forall(_ > 0.99), s"$selfScores")
    // gate: past protoBroadcastLimit the stream-static join runs
    // shuffled-hash — same kept set and scores
    val mem2 = MemoryStream[(Long, Int, Array[Float])]
    val q2 = Streaming.prototypeFilterStream(
        mem2.toDF().toDF("vec_id", "label", "embedding"),
        "vec_id", "embedding", "label", protos, minSim = 0.9,
        protoBroadcastLimit = 0L)
      .writeStream.format("memory").queryName("sink_proto2")
      .outputMode(OutputMode.Append()).start()
    try {
      mem2.addData(arrivals); q2.processAllAvailable()
    } finally q2.stop()
    val gated = spark.table("sink_proto2")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(gated == streamed, s"gated paths diverge: $gated vs $streamed")
  }

  test("streaming incremental dedup equals the batch path on both gate paths") {
    val existing = Seq(
      (1L, "alpha bravo charlie delta echo"),
      (2L, "foxtrot golf hotel india juliet"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val arriving = Seq(
      (10L, "alpha bravo charlie delta echo"),    // re-ingest: drop
      (11L, "papa quebec romeo sierra tango"),    // new: keep
      (12L, null.asInstanceOf[String]),           // NULL: keep (matches batch)
      (13L, "foxtrot golf hotel india juliet")    // re-ingest: drop
    )
    val batch = graft.ops.Dedup.incrementalDedup(
        existing, arriving.toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch == Set(11L, 12L))
    for ((limit, sink) <- Seq((graft.ops.Dedup.BloomItemLimit, "sink_incdedup"),
                              (0L, "sink_incdedup2"))) {
      val mem = MemoryStream[(Long, String)]
      val q = Streaming.incrementalDedupStream(
          mem.toDF().toDF("doc_id", "text"), existing, "doc_id", "text",
          bloomItemLimit = limit)
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append()).start()
      try {
        // two micro-batches: stateless filter/join, arrival order is free
        mem.addData(arriving.take(2)); q.processAllAvailable()
        mem.addData(arriving.drop(2)); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table(sink).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(streamed == batch, s"bloomItemLimit=$limit: $streamed vs $batch")
    }
  }

  test("streaming substring decontamination equals the batch winnow path (stateless, per-row)") {
    // the char-level analog of decontaminateStream: the benchmark's
    // winnowed fingerprints ride ONE broadcast row, the per-row test is
    // an array_intersect over the same compiled winnow pass batch uses
    val rnd = new scala.util.Random(59L)
    def randText(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val benchText = randText(120)
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val docs = Seq(
      (1L, randText(70) + benchText.substring(30, 60) + randText(70)), // 30-char quote
      (2L, randText(170)),                                             // unrelated
      (3L, randText(170)),                                             // unrelated
      (4L, randText(10))                                               // below w+k-1
    )
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.substringDecontaminateStream(
        mem.toDF().toDF("doc_id", "text"), bench, "doc_id", "text")
      .writeStream.format("memory").queryName("sink_subdec")
      .outputMode(OutputMode.Append()).start()
    try {
      // two micro-batches: stateless filter, arrival order is free
      mem.addData(docs.take(2)); q.processAllAvailable()
      mem.addData(docs.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sink_subdec").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val batch = graft.ops.Dedup.winnowDecontaminate(
        docs.toDF("doc_id", "text"), bench, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed == Set(2L, 3L, 4L))
    // the packed fingerprint row is count-gated (no-small-by-construction):
    // past the gate the filter is a stream-static LEFT ANTI on fingerprint
    // membership — same survivors, row-shaped static side, no packed array
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streaming.substringDecontaminateStream(
        mem2.toDF().toDF("doc_id", "text"), bench, "doc_id", "text",
        fpBroadcastLimit = 0L)
      .writeStream.format("memory").queryName("sink_subdec2")
      .outputMode(OutputMode.Append()).start()
    try {
      mem2.addData(docs); q2.processAllAvailable()
    } finally q2.stop()
    val gated = spark.table("sink_subdec2").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(gated == streamed, s"gated paths diverge: $gated vs $streamed")
    // minShared > 1 past the gate needs a stream aggregation — rejected
    // with a pointer to the batch path, never silently wrong
    val err = intercept[IllegalArgumentException] {
      Streaming.substringDecontaminateStream(
        mem2.toDF().toDF("doc_id", "text"), bench, "doc_id", "text",
        minShared = 2, fpBroadcastLimit = 0L)
    }
    assert(err.getMessage.contains("winnowDecontaminate"))
  }

  test("curateStream: scrub -> quality -> decontaminate -> fingerprint dedup on ingest") {
    val bench = Seq((100L, "held out alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // (1) kept + scrubbed; (4) same content as (1) modulo a DIFFERENT
    // email — only dedupable AFTER scrubbing; (2) low diversity; (3)
    // shares an 8-gram with the benchmark
    val d1 = (1L, ts("2024-01-01 10:00:00"), "good unique words mail me at a@x.com now")
    val d2 = (2L, ts("2024-01-01 10:01:00"), "spam spam spam spam spam spam spam spam")
    val d3 = (3L, ts("2024-01-01 10:02:00"), "xx alpha beta gamma delta epsilon zeta eta theta yy")
    val d4 = (4L, ts("2024-01-01 10:03:00"), "good unique words mail me at b@y.org now")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val name = "sink_curate"
    // gopher = false: these fixtures isolate scrub/diversity/decon/dedup
    // with tweet-sized docs the ≥30-token Gopher rule would drop wholesale
    val q = Streaming.curateStream(
        mem.toDF().toDF("doc_id", "ts", "text"), bench, "doc_id", "text", "ts",
        gopher = false)
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Seq(d1, d2)); q.processAllAvailable()
      mem.addData(Seq(d3, d4)); q.processAllAvailable() // d4's dup arrives later
    } finally q.stop()
    val rows = spark.table(name).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == Set(1L), s"kept ${rows.keySet}")
    assert(rows(1L) == "good unique words mail me at [EMAIL] now")
    // batch equivalence: the same ops composed in batch keep the same doc
    val batchDocs = Seq(d1, d2, d3, d4).toDF("doc_id", "ts", "text")
    val scrubbed = batchDocs.withColumn("text", graft.ops.Text.scrubPii($"text"))
    val ws = graft.ops.Text.tokens($"text")
    val clean = graft.ops.Dedup.decontaminate(
      scrubbed.filter(size(array_distinct(ws)).cast("double") / size(ws) >= 0.5),
      bench, "doc_id", "text", n = 8)
    val batchKept = clean
      .withColumn("__fp", graft.ops.Text.fingerprint($"text"))
      .groupBy("__fp").agg(min(struct($"ts", $"doc_id")).as("__first"))
      .select($"__first.doc_id".as("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(batchKept == rows.keySet)
  }

  test("curateStream gopher gate: rule failures drop on ingest, stream == batch") {
    // round-8 verdict #6: the Gopher rules are a stateless codegen
    // projection, so the ingest pipeline applies them by default —
    // completing rule-based-quality parity with batch curation v5/v6.
    // Fixtures pass the diversity gate (all-distinct tokens) so only the
    // gopher verdict separates them: g1 passes every rule, g2 is 32
    // digit tokens (alpha ratio 0 < 0.7), g3 is 10 tokens (< 30).
    val bench = Seq((100L, "held out alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val g1 = (1L, ts("2024-01-01 10:00:00"),
      "the quick brown fox jumps over a lazy dog while many other animals " +
        "watch from near trees and of course some birds sing loud songs " +
        "during this bright morning hour today")
    val g2 = (2L, ts("2024-01-01 10:01:00"), (100 to 131).mkString(" "))
    val g3 = (3L, ts("2024-01-01 10:02:00"),
      "short doc with only ten distinct tokens right here now")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val name = "sink_curate_gopher"
    val q = Streaming.curateStream(
        mem.toDF().toDF("doc_id", "ts", "text"), bench, "doc_id", "text", "ts")
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Seq(g1, g2, g3)); q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table(name).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"kept $kept")
    // batch parity: the same composition (scrub -> diversity ->
    // gopherFilter -> decontaminate) keeps the same doc
    val batchDocs = Seq(g1, g2, g3).toDF("doc_id", "ts", "text")
      .withColumn("text", graft.ops.Text.scrubPii($"text"))
    val ws = graft.ops.Text.tokens($"text")
    val diverse = batchDocs.filter(
      size(array_distinct(ws)).cast("double") / size(ws) >= 0.5)
    val ruled = diverse.join(
      graft.ops.Text.gopherFilter(diverse, "doc_id", "text")
        .filter($"kept").select("doc_id"),
      Seq("doc_id"))
    val batchKept = graft.ops.Dedup.decontaminate(ruled, bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchKept == kept, s"batch $batchKept != stream $kept")
  }

  test("curateStream lineRules gate: formatting failures drop on ingest, stream == batch") {
    // the line-structure gate is stateless like the Gopher gate, so it
    // composes into ingest with the same stream==batch parity argument.
    // Fixtures pass diversity and Gopher (30+ alpha tokens, sane word
    // lengths, stopwords): l1 is clean prose, l2 is the same prose with
    // a bullet-heavy tail (bullet_frac > 0.5 fails), l3 carries a
    // lorem-ipsum line.
    val bench = Seq((100L, "held out alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val prose =
      "The quick brown fox jumps over a lazy dog while many other animals " +
        "watch from near trees and of course some birds sing loud songs " +
        "during this bright morning hour today."
    val l1 = (1L, ts("2024-01-01 10:00:00"), prose)
    val l2 = (2L, ts("2024-01-01 10:01:00"),
      prose + "\n- the first bullet item\n- the second bullet item\n- a third one")
    val l3 = (3L, ts("2024-01-01 10:02:00"),
      prose + "\nAnd lorem ipsum filler text was pasted right here.")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val name = "sink_curate_linerules"
    val q = Streaming.curateStream(
        mem.toDF().toDF("doc_id", "ts", "text"), bench, "doc_id", "text", "ts",
        lineRules = true)
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Seq(l1, l2, l3)); q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table(name).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"kept $kept")
    // batch parity: the same composition keeps the same doc
    val batchDocs = Seq(l1, l2, l3).toDF("doc_id", "ts", "text")
      .withColumn("text", graft.ops.Text.scrubPii($"text"))
    val ws = graft.ops.Text.tokens($"text")
    val diverse = batchDocs.filter(
      size(array_distinct(ws)).cast("double") / size(ws) >= 0.5)
      .filter(graft.ops.Text.gopherKept($"text"))
    val ruled = diverse.join(
      graft.ops.Text.lineRules(diverse, "doc_id", "text")
        .filter($"kept").select("doc_id"),
      Seq("doc_id"))
    val batchKept = graft.ops.Dedup.decontaminate(ruled, bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchKept == kept, s"batch $batchKept != stream $kept")
  }

  test("curateStream out-of-order ingest: late rows drop, in-watermark disorder converges") {
    // round-5 verdict #4: the stream==batch pin ran on an IN-ORDER feed;
    // real ingest is not in-order. Assert the two watermark contracts:
    // (a) a row arriving later than the watermark allows is DROPPED even
    //     when its content is novel — the price of bounded dedup state;
    // (b) disorder WITHIN the watermark still converges to exactly one
    //     survivor per distinct fingerprint. Documented divergence from
    //     the batch survivor: streaming keeps the FIRST-ARRIVED copy,
    //     batch dedup keeps the min-(ts, id) copy — when a dup with an
    //     earlier event time arrives later, the surviving doc_id differs
    //     (the fingerprint SET does not).
    val bench = Seq((100L, "held out alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val textA = "first unique body carrying many distinct tokens one"
    val textB = "second unique body carrying many distinct tokens two"
    val textLate = "novel late body carrying many distinct tokens three"
    val a1 = (1L, ts("2024-01-01 10:30:00"), textA)
    val a2 = (2L, ts("2024-01-01 10:25:00"), textA)   // dup, EARLIER ts, arrives LATER
    val b1 = (3L, ts("2024-01-01 10:29:00"), textB)   // in-watermark disorder (< 10:30)
    val lateNovel = (4L, ts("2024-01-01 09:00:00"), textLate) // watermark is 10:20 when it arrives
    val mem = MemoryStream[(Long, Timestamp, String)]
    val name = "sink_curate_ooo"
    val q = Streaming.curateStream(
        mem.toDF().toDF("doc_id", "ts", "text"), bench, "doc_id", "text", "ts",
        lateness = "10 minutes", gopher = false)
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Seq(a1)); q.processAllAvailable()            // watermark -> 10:20
      mem.addData(Seq(b1, a2, lateNovel)); q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table(name).select("doc_id").collect().map(_.getLong(0)).toSet
    // (b): one survivor per fingerprint — a2 deduped against a1's state
    //      even though it arrived in a later batch, b1 kept despite
    //      arriving "behind" a1 in event time
    // (a): lateNovel's content appears nowhere — dropped as late data
    assert(kept == Set(1L, 3L), s"kept $kept")
    // the documented divergence: the batch min-(ts, id) survivor for
    //   textA's fingerprint is doc 2, not the stream's first-arrival doc 1
    val batchSurvivor = Seq(a1, a2, b1).toDF("doc_id", "ts", "text")
      .withColumn("__fp", graft.ops.Text.fingerprint($"text"))
      .groupBy("__fp").agg(min(struct($"ts", $"doc_id")).as("__first"))
      .select($"__first.doc_id".as("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(batchSurvivor == Set(2L, 3L))
    // and lateNovel is only lost to the WATERMARK, not to any filter: the
    //   batch pipeline (no watermark) keeps it
    val batchAll = graft.ops.Dedup.decontaminate(
        Seq(a1, a2, b1, lateNovel).toDF("doc_id", "ts", "text"),
        bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchAll.contains(4L))
  }

  test("streaming tumbling agg equals the batch run of the same expression") {
    val events = Seq(
      ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:55:00"),
      ev(3, "2024-01-01 11:05:00", typ = "buy", v = 5.0),
      ev(4, "2024-01-01 11:30:00", typ = "buy", v = 2.5)
    )
    val mem = MemoryStream[Ev]
    val streamed = runStream(mem, Streaming.tumblingCounts(_, "1 hour", "10 minutes"),
      OutputMode.Complete(), Seq(events))
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Streaming.tumblingCounts(events.toDF(), "1 hour", "10 minutes")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
  }

  test("streaming quality scoring equals the batch classifier (stateless, no mllib)") {
    // train offline on a planted gradient; the stream scores with the
    // coefficient literals only — scoreColumn's left-fold matches BLAS
    // ddot index order, so 4-dp probabilities agree exactly
    val clean = (1L to 30L).map { i =>
      (i, s"the quick report $i describes a method to measure the outcome " +
        s"of the trial and the panel agreed that the result is sound", 1.0)
    }
    val junk = (31L to 60L).map { i =>
      (i, Seq.fill(10)(s"buy$i now$i").mkString(" ") + " 111 2222 333", 0.0)
    }
    val corpus = (clean ++ junk).toDF("doc_id", "text", "label")
    val (coefs, intercept) = graft.ops.QualityModel.train(
      corpus, "doc_id", "text", $"label")
    val batchScores = graft.ops.QualityModel.trainScore(
        corpus, "doc_id", "text", $"label")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.qualityScoreStream(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        coefs, intercept, minScore = 0.0)
      .writeStream.format("memory").queryName("sink_qscore")
      .outputMode(OutputMode.Append()).start()
    try {
      // two micro-batches: stateless scoring, arrival order is free
      val feed = (clean ++ junk).map { case (id, t, _) => (id, t) }
      mem.addData(feed.take(25)); q.processAllAvailable()
      mem.addData(feed.drop(25)); q.processAllAvailable()
    } finally q.stop()
    val streamScores = spark.table("sink_qscore")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(streamScores.keySet == batchScores.keySet)
    streamScores.foreach { case (id, s) =>
      assert(s == batchScores(id), s"doc $id: stream $s vs batch ${batchScores(id)}")
    }
    // a real threshold actually filters: junk falls below what clean clears
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streaming.qualityScoreStream(
        mem2.toDF().toDF("doc_id", "text"), "doc_id", "text",
        coefs, intercept, minScore = 0.5)
      .writeStream.format("memory").queryName("sink_qscore2")
      .outputMode(OutputMode.Append()).start()
    try {
      mem2.addData((clean ++ junk).map { case (id, t, _) => (id, t) })
      q2.processAllAvailable()
    } finally q2.stop()
    val keptIds = spark.table("sink_qscore2")
      .collect().map(_.getLong(0)).toSet
    assert(keptIds.forall(_ <= 30L), s"junk survived the score gate: $keptIds")
    assert(keptIds.size >= 25, s"score gate dropped most clean docs: ${keptIds.size}")
  }

  test("streaming ANN probe equals the batch probe, on all three index layouts") {
    // round-12 verdict #2 + advisor: the stream==batch pin annProbeStream's
    // doc promises, plus the PQ-layout dir (codes.parquet carries the same
    // cell/id/vec columns — must serve, not throw path-not-found)
    val rnd = new scala.util.Random(59)
    def near(base: Array[Float], eps: Float) = base.map(_ + eps)
    val base0 = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base1 = Array.fill(16)(rnd.nextGaussian().toFloat)
    val corpus = ((1L to 10L).map(i => (i, near(base0, 0.01f * i))) ++
                  (11L to 20L).map(i => (i, near(base1, 0.01f * (i - 10)))))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val dirIvf = java.nio.file.Files.createTempDirectory("graft_annps_ivf").toString
    val dirPq = java.nio.file.Files.createTempDirectory("graft_annps_pq").toString
    val dirLsh = java.nio.file.Files.createTempDirectory("graft_annps_lsh").toString
    graft.ops.Ivf.buildIndex(corpus, "vec_id", "embedding", dirIvf, maxIter = 5)
    graft.ops.Quantize.buildPqIndex(corpus, "vec_id", "embedding", dirPq, m = 4)
    graft.ops.Similarity.buildLshIndex(corpus, "vec_id", "embedding", dirLsh, dim = 16)
    val queries = Seq(
      (100L, near(base0, -0.02f)),                      // tags cluster 0
      (101L, near(base1, 0.03f)),                       // tags cluster 1
      (102L, Array.fill(16)(rnd.nextGaussian().toFloat))) // tags nothing (likely)
    def tagged(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch through the SAME code path (stateless plan — works on a batch
    // frame), against both layouts
    val batchIvf = tagged(Streaming.annProbeStream(
      queries.toDF("vec_id", "embedding"), "vec_id", "embedding", dirIvf, tau = 0.9, nprobe = 16))
    val batchPq = tagged(Streaming.annProbeStream(
      queries.toDF("vec_id", "embedding"), "vec_id", "embedding", dirPq, tau = 0.9, nprobe = 16))
    // nprobe=16 == the cell count ⇒ every cell probed on both layouts:
    // the ≥ tau set is exactly the brute-force cosine set either way
    assert(batchIvf == batchPq, s"layouts diverge: $batchIvf vs $batchPq")
    // THREE-layout equality (r13 verdict #1): the LSH postings arm routes
    // at plan time off meta.parquet and must tag the same set — at these
    // near-1 intra-cluster cosines a true pair misses all 8 tables with
    // probability ~1e-10, and the seeded hyperplanes make it deterministic
    val lshRows = Streaming.annProbeStream(
      queries.toDF("vec_id", "embedding"), "vec_id", "embedding",
      dirLsh, tau = 0.9).collect()
    val batchLsh = lshRows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchLsh == batchIvf, s"LSH layout diverges: $batchLsh vs $batchIvf")
    // first-colliding-table dedup actually dedups: a pair colliding in
    // several tables must tag ONCE (row count == set size)
    assert(lshRows.length == batchLsh.size,
      s"duplicate tags survived: ${lshRows.length} rows, ${batchLsh.size} distinct")
    // stream==batch vs the single-query serve probe (r13 verdict #1):
    // probeLshIndex(k=10) on the cluster-0 query filtered to >= tau is
    // exactly the stream's tag set for that query
    val probeSet = graft.ops.Similarity.probeLshIndex(spark, dirLsh,
        "vec_id", "embedding",
        Seq((100L, near(base0, -0.02f))).toDF("vec_id", "embedding"),
        "embedding", k = 10)
      .filter($"sim" >= 0.9).collect()
      .map(r => (100L, r.getLong(0), r.getDouble(1))).toSet
    assert(probeSet == batchLsh.filter(_._1 == 100L),
      s"stream tags diverge from probeLshIndex: $probeSet vs ${batchLsh.filter(_._1 == 100L)}")
    assert(batchIvf.exists(_._1 == 100L) && batchIvf.exists(_._1 == 101L),
      s"cluster queries tagged nothing: $batchIvf")
    assert(batchIvf.filter(_._1 == 100L).forall(t => t._2 <= 10L && t._3 >= 0.9))
    assert(batchIvf.filter(_._1 == 101L).forall(t => t._2 > 10L && t._3 >= 0.9))
    // streamed in two micro-batches: stateless filter, arrival order free
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.annProbeStream(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", dirIvf, tau = 0.9, nprobe = 16)
      .writeStream.format("memory").queryName("sink_annprobe")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(queries.take(1)); q.processAllAvailable()
      mem.addData(queries.drop(1)); q.processAllAvailable()
    } finally q.stop()
    val streamed = tagged(spark.table("sink_annprobe"))
    assert(streamed == batchIvf, s"stream $streamed vs batch $batchIvf")
    // the SAME stream==batch pin on the LSH arm: stateless plan (buckets
    // recomputed per arrival under the persisted sizing), arrival order free
    val memLsh = MemoryStream[(Long, Array[Float])]
    val qLsh = Streaming.annProbeStream(
        memLsh.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        dirLsh, tau = 0.9)
      .writeStream.format("memory").queryName("sink_annprobe_lsh")
      .outputMode(OutputMode.Append()).start()
    try {
      memLsh.addData(queries.take(1)); qLsh.processAllAvailable()
      memLsh.addData(queries.drop(1)); qLsh.processAllAvailable()
    } finally qLsh.stop()
    val streamedLsh = tagged(spark.table("sink_annprobe_lsh"))
    assert(streamedLsh == batchLsh, s"LSH stream $streamedLsh vs batch $batchLsh")
    // lifecycle × streaming: a vector APPENDED after the build (persisted
    // quantizer assigns its cell, no retrain, no plan restart) must be
    // tagged by the same probe — through the stream==batch-pinned path
    graft.ops.Ivf.appendIndex(
      Seq((50L, near(base0, 0.015f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dirIvf)
    val afterAppend = tagged(Streaming.annProbeStream(
      queries.toDF("vec_id", "embedding"), "vec_id", "embedding",
      dirIvf, tau = 0.9, nprobe = 16))
    assert(afterAppend.exists(t => t._1 == 100L && t._2 == 50L && t._3 >= 0.9),
      s"appended vector not tagged: $afterAppend")
    assert(afterAppend.filter(t => t._2 != 50L) == batchIvf,
      s"append changed pre-existing tags: $afterAppend vs $batchIvf")
    // same lifecycle pin on the LSH arm: appendLshIndex signs under the
    // persisted sizing, so a fresh plan tags the appended vector too
    graft.ops.Similarity.appendLshIndex(
      Seq((51L, near(base0, 0.017f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dirLsh)
    val afterAppendLsh = tagged(Streaming.annProbeStream(
      queries.toDF("vec_id", "embedding"), "vec_id", "embedding",
      dirLsh, tau = 0.9))
    assert(afterAppendLsh.exists(t => t._1 == 100L && t._2 == 51L && t._3 >= 0.9),
      s"appended vector not tagged on the LSH arm: $afterAppendLsh")
    assert(afterAppendLsh.filter(t => t._2 != 51L) == batchLsh,
      s"append changed pre-existing LSH tags: $afterAppendLsh vs $batchLsh")
    // removeIds tombstones reach the stream path too (lshVectors is
    // shared): the appended vector un-tags on a fresh plan
    graft.ops.IndexLifecycle.removeIds(spark, dirLsh,
      Seq(51L).toDF("vec_id"), "vec_id")
    val afterRemove = tagged(Streaming.annProbeStream(
      queries.toDF("vec_id", "embedding"), "vec_id", "embedding",
      dirLsh, tau = 0.9))
    assert(afterRemove == batchLsh,
      s"tombstoned id still tagged on the stream path: $afterRemove")
    // the CELL arm's r16 counterpart: a TOMBSTONED remove (deletion
    // vectors — no cell rewrite, so the running-plan file-snapshot
    // hazard doesn't even arise) un-tags through cellSource's shared
    // anti-join on a fresh plan
    graft.ops.IndexLifecycle.removeIds(spark, dirIvf,
      Seq(50L).toDF("vec_id"), "vec_id", tombstone = true)
    val afterRemoveIvf = tagged(Streaming.annProbeStream(
      queries.toDF("vec_id", "embedding"), "vec_id", "embedding",
      dirIvf, tau = 0.9, nprobe = 16))
    assert(afterRemoveIvf == batchIvf,
      s"cell-tombstoned id still tagged on the stream path: $afterRemoveIvf")
  }

  test("annProbeStream selector: per-tenant filtered tagging at ingest, stream == batch, both arms") {
    // the FAISS IDSelector analog on the INGEST path: a static allowlist
    // frame rides the static side's choke point (cellSource / lshVectors),
    // so a disallowed corpus id can tag no arrival — and filtering the
    // UNFILTERED tag set by the allowlist reproduces the filtered run
    // exactly (the selector changes candidate membership, never scores)
    val rnd = new scala.util.Random(67)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    def near(eps: Float) = base.map(_ + eps)
    val corpus = (1L to 10L).map(i => (i, near(0.01f * i)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val dirIvf = java.nio.file.Files.createTempDirectory("graft_annps_selI").toString
    val dirLsh = java.nio.file.Files.createTempDirectory("graft_annps_selL").toString
    graft.ops.Ivf.buildIndex(corpus, "vec_id", "embedding", dirIvf, maxIter = 5)
    graft.ops.Similarity.buildLshIndex(corpus, "vec_id", "embedding", dirLsh,
      dim = 16)
    val allowed = Seq(2L, 4L, 6L, 8L, 10L).toDF("vec_id").localCheckpoint(true)
    val queries = Seq((100L, near(-0.02f)), (101L, near(0.12f)))
    def tagged(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for ((dir, arm) <- Seq((dirIvf, "ivf"), (dirLsh, "lsh"))) {
      val bare = tagged(Streaming.annProbeStream(
        queries.toDF("vec_id", "embedding"), "vec_id", "embedding",
        dir, tau = 0.9, nprobe = 16))
      val filtered = tagged(Streaming.annProbeStream(
        queries.toDF("vec_id", "embedding"), "vec_id", "embedding",
        dir, tau = 0.9, nprobe = 16, selector = Some(allowed)))
      assert(filtered.nonEmpty, s"$arm: filtered probe tagged nothing")
      assert(filtered.forall(_._2 % 2 == 0),
        s"$arm: disallowed id tagged: $filtered")
      assert(filtered == bare.filter(_._2 % 2 == 0),
        s"$arm: selector changed more than membership: $filtered vs $bare")
    }
    // streamed with the selector: same stateless plan, same tags
    val expect = tagged(Streaming.annProbeStream(
      queries.toDF("vec_id", "embedding"), "vec_id", "embedding",
      dirIvf, tau = 0.9, nprobe = 16, selector = Some(allowed)))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.annProbeStream(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        dirIvf, tau = 0.9, nprobe = 16, selector = Some(allowed))
      .writeStream.format("memory").queryName("sink_annprobe_sel")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(queries.take(1)); q.processAllAvailable()
      mem.addData(queries.drop(1)); q.processAllAvailable()
    } finally q.stop()
    assert(tagged(spark.table("sink_annprobe_sel")) == expect,
      "selector stream diverged from the batch run of the same plan")
  }

  test("serve-index appends land between micro-batches: visibility contract pinned") {
    // the real ingest topology (r13 verdict #7): a probe stream is RUNNING
    // while appendIndex lands new corpus rows. The static side's file
    // listing is snapshot at plan construction (InMemoryFileIndex), so the
    // CONTRACT is: appends are NOT visible to a running stream — restart
    // the query (rebuild the plan) to serve them. This spec pins both
    // halves so a Spark upgrade that silently changes the semantics fails
    // loudly here instead of shifting results in production.
    val rnd = new scala.util.Random(61)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    def near(eps: Float) = base.map(_ + eps)
    val corpus = (1L to 10L).map(i => (i, near(0.01f * i)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_annps_midapp").toString
    graft.ops.Ivf.buildIndex(corpus, "vec_id", "embedding", dir, maxIter = 5)
    val qvec = near(-0.02f)
    def tags(table: String) = spark.table(table)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.annProbeStream(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        dir, tau = 0.9, nprobe = 16)
      .writeStream.format("memory").queryName("sink_midappend")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Seq((100L, qvec))); q.processAllAvailable()
      assert(tags("sink_midappend").contains((100L, 1L)), "probe stream dead on arrival")
      // append WHILE the stream runs, then probe again on the same plan
      graft.ops.Ivf.appendIndex(
        Seq((50L, near(0.015f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir)
      mem.addData(Seq((200L, qvec))); q.processAllAvailable()
      val mid = tags("sink_midappend")
      assert(mid.exists(t => t._1 == 200L && t._2 == 1L),
        s"post-append batch tagged nothing at all: $mid")
      assert(!mid.contains((200L, 50L)),
        "mid-stream append became visible to the running plan — the " +
          "documented not-until-restart contract no longer holds; update " +
          "annProbeStream's Scaladoc and this pin together")
    } finally q.stop()
    // restart = a fresh plan (fresh file listing): the append now serves
    val mem2 = MemoryStream[(Long, Array[Float])]
    val q2 = Streaming.annProbeStream(
        mem2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        dir, tau = 0.9, nprobe = 16)
      .writeStream.format("memory").queryName("sink_midappend2")
      .outputMode(OutputMode.Append()).start()
    try {
      mem2.addData(Seq((300L, qvec))); q2.processAllAvailable()
    } finally q2.stop()
    assert(tags("sink_midappend2").contains((300L, 50L)),
      s"restarted stream still blind to the append: ${tags("sink_midappend2")}")
  }

  test("a restarted probe stream serves the rebuilt index (the maintenance-cadence contract)") {
    // rebuildIndex's generation flip deletes the files a RUNNING stream's
    // plan snapshot points at (loud failure by design, IndexLifecycle
    // Scaladoc); the operable contract is quiesce → rebuild → restart.
    // Pin the happy path: a stream started AFTER the rebuild serves the
    // retrained index — including a row that only an id assigned under
    // the NEW quantizer can deliver.
    val rnd = new scala.util.Random(73)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    def near(eps: Float) = base.map(_ + eps)
    val corpus = (1L to 10L).map(i => (i, near(0.01f * i)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_annps_rebuild").toString
    graft.ops.Ivf.buildIndex(corpus, "vec_id", "embedding", dir, maxIter = 5)
    graft.ops.Ivf.appendIndex(
      Seq((50L, near(0.015f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    graft.ops.IndexLifecycle.rebuildIndex(spark, dir, maxIter = Some(5))
    val stats = graft.ops.IndexLifecycle.indexStats(spark, dir).head()
    assert(stats.getAs[Long]("built_rows") == 11L &&
      stats.getAs[Double]("appended_fraction") == 0.0,
      s"rebuild did not absorb the append: $stats")
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.annProbeStream(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        dir, tau = 0.9, nprobe = 16)
      .writeStream.format("memory").queryName("sink_rebuilt")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Seq((100L, near(-0.02f)))); q.processAllAvailable()
      val got = spark.table("sink_rebuilt")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((100L, 1L)) && got.contains((100L, 50L)),
        s"restarted stream does not serve the rebuilt index: $got")
    } finally q.stop()
  }

  test("probe stream serves the committed generation; a mid-stream tombstone flip fails LOUDLY; a fresh plan serves it") {
    // streams resolve the committed generation ONCE at plan time
    // (annProbeStream's plan-snapshot contract). A tombstoned remove
    // flips the NESTED deletes root inside that generation — the
    // per-batch freshness guard must see that flip (a new commit file in
    // the tombstone root's listing) and fail the running stream.
    val rnd = new scala.util.Random(97)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    def near(eps: Float) = base.map(_ + eps)
    val corpus = (1L to 10L).map(i => (i, near(0.01f * i)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val root = java.nio.file.Files.createTempDirectory("graft_annps_ptr").toString + "/idx"
    graft.ops.Ivf.buildIndex(corpus, "vec_id", "embedding", root, maxIter = 5)
    val qvec = near(-0.02f)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.annProbeStream(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        root, tau = 0.9, nprobe = 16)
      .writeStream.format("memory").queryName("sink_ptrstream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Seq((100L, qvec))); q.processAllAvailable()
      val got = spark.table("sink_ptrstream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((100L, 1L)),
        s"pointer-root probe stream dead on arrival: $got")
      // removal lands WHILE the stream runs: the deletes flip must trip
      // the guard on the next micro-batch — loud, never silently stale
      graft.ops.IndexLifecycle.removeIds(spark, root,
        Seq(1L).toDF("vec_id"), "vec_id", tombstone = true)
      mem.addData(Seq((200L, qvec)))
      val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable) =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
      assert(chain(boom).exists(e =>
          String.valueOf(e.getMessage).contains("tombstone set")),
        s"wrong failure for a mid-stream pointer-root remove: $boom")
    } finally q.stop()
    // a FRESH plan resolves the new tombstone generation and serves it
    val mem2 = MemoryStream[(Long, Array[Float])]
    val q2 = Streaming.annProbeStream(
        mem2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        root, tau = 0.9, nprobe = 16)
      .writeStream.format("memory").queryName("sink_ptrstream2")
      .outputMode(OutputMode.Append()).start()
    try {
      mem2.addData(Seq((300L, qvec))); q2.processAllAvailable()
    } finally q2.stop()
    val after = spark.table("sink_ptrstream2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!after.contains((300L, 1L)),
      s"tombstoned id still tagged by the fresh pointer-root plan: $after")
    assert(after.exists(_._1 == 300L),
      s"fresh pointer-root plan tagged nothing: $after")
  }

  test("rebuild under a RUNNING probe stream fails LOUDLY on the next micro-batch") {
    // The other half of the maintenance-cadence contract (r14 verdict
    // #5): rebuildIndex's scaladoc promises that a running stream's plan
    // snapshot — which points at the pre-rebuild generation the flip's
    // GC deletes — raises on its next micro-batch rather than serving
    // anything stale. Pin it like the append-visibility contract: a
    // Spark upgrade that silently re-lists (or ignores missing files)
    // must fail HERE, not ship stale cells in production.
    val rnd = new scala.util.Random(83)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    def near(eps: Float) = base.map(_ + eps)
    val corpus = (1L to 10L).map(i => (i, near(0.01f * i)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_annps_rbrun").toString
    graft.ops.Ivf.buildIndex(corpus, "vec_id", "embedding", dir, maxIter = 5)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.annProbeStream(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        dir, tau = 0.9, nprobe = 16)
      .writeStream.format("memory").queryName("sink_rbrun")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Seq((100L, near(-0.02f)))); q.processAllAvailable()
      assert(spark.table("sink_rbrun").collect()
        .exists(_.getLong(0) == 100L), "probe stream dead on arrival")
      graft.ops.IndexLifecycle.rebuildIndex(spark, dir, maxIter = Some(5))
      mem.addData(Seq((200L, near(-0.02f))))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      // the failure is the missing pre-rebuild files, not some unrelated
      // stream error — walk the cause chain (Spark wraps FNF in task /
      // SparkException layers)
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(20).toSeq
      assert(chain.exists(c => c.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(c.getMessage).toLowerCase.contains("file")),
        s"stream failed, but not on the GC'd files: $e")
      assert(!spark.table("sink_rbrun").collect().exists(_.getLong(0) == 200L),
        "post-rebuild micro-batch served results from the stale plan snapshot")
    } finally q.stop()
  }

  test("tombstoned removeIds under a RUNNING probe stream fails LOUDLY on the next micro-batch; restart serves the removal (r17 verdict #2)") {
    // The r16 pin documented this as the SILENT half of the plan-snapshot
    // contract: the tombstone set resolves at PLAN time and a mid-stream
    // removeIds touched no file the plan lists, so the stream kept
    // tagging the removed id until restart. r18 closes the asymmetry:
    // annProbeStream's tombstoneFreshnessGuard re-lists
    // deletes.parquet every micro-batch (the static side of a
    // stream-static join re-executes per batch) and fails the query
    // loudly on change — the rebuild contract, extended to removes. The
    // restart's fresh plan serves the removal. Both tombstoning arms:
    // IVF under removeIds(tombstone = true), LSH (always tombstones).
    val rnd = new scala.util.Random(97)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    def near(eps: Float) = base.map(_ + eps)
    val corpus = (1L to 10L).map(i => (i, near(0.01f * i)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    def tags(table: String) = spark.table(table)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def pin(dir: String, sink: String, tombstone: Boolean): Unit = {
      val qvec = near(-0.02f)
      val mem = MemoryStream[(Long, Array[Float])]
      val q = Streaming.annProbeStream(
          mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          dir, tau = 0.9, nprobe = 16)
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData(Seq((100L, qvec))); q.processAllAvailable()
        assert(tags(sink).contains((100L, 3L)), s"$sink: fixture id 3 not tagging")
        // remove WHILE the stream runs: the guard's next per-batch check
        // sees the deletes.parquet change and fails the query LOUDLY —
        // serving the removed id silently is no longer on the table
        graft.ops.IndexLifecycle.removeIds(spark, dir,
          Seq(3L).toDF("vec_id"), "vec_id", tombstone = tombstone)
        mem.addData(Seq((200L, qvec)))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        val chain = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).take(20).toSeq
        assert(chain.exists(c => String.valueOf(c.getMessage)
            .contains("changed while this probe stream was running")),
          s"$sink: stream failed, but not on the tombstone freshness guard: $e")
        assert(!tags(sink).exists(_._1 == 200L),
          s"$sink: the failed micro-batch still shipped rows to the sink")
      } finally q.stop()
      // restart = fresh plan = fresh tombstone resolve: the removal serves
      val mem2 = MemoryStream[(Long, Array[Float])]
      val q2 = Streaming.annProbeStream(
          mem2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          dir, tau = 0.9, nprobe = 16)
        .writeStream.format("memory").queryName(s"${sink}_rs")
        .outputMode(OutputMode.Append()).start()
      try {
        mem2.addData(Seq((300L, qvec))); q2.processAllAvailable()
        val fresh = tags(s"${sink}_rs")
        assert(fresh.exists(t => t._1 == 300L && t._2 != 3L),
          s"$sink restart: stream dead after the remove: $fresh")
        assert(!fresh.contains((300L, 3L)),
          s"$sink: restarted stream still serves the tombstoned id")
      } finally q2.stop()
    }
    val ivfDir = java.nio.file.Files
      .createTempDirectory("graft_annps_tomb_ivf").toString
    graft.ops.Ivf.buildIndex(corpus, "vec_id", "embedding", ivfDir, maxIter = 5)
    pin(ivfDir, "sink_tomb_ivf", tombstone = true)
    val lshDir = java.nio.file.Files
      .createTempDirectory("graft_annps_tomb_lsh").toString
    graft.ops.Similarity.buildLshIndex(corpus, "vec_id", "embedding", lshDir)
    pin(lshDir, "sink_tomb_lsh", tombstone = false) // LSH always tombstones
  }

  test("append over a NON-EMPTY tombstone backlog keeps the silent append contract; an append that UN-DELETES trips the guard (review r18)") {
    // The guard watches deletes.parquet's listing — and the append verbs
    // owe the re-insert contract a tombstone rewrite. Unconditional, that
    // rewrite (same effective set, new part files) would kill a guarded
    // running stream on ANY append over a backlog, contradicting the
    // pinned silent append-between-micro-batches contract; gated on
    // actual intersection, a brand-new-ids append stays silent while a
    // genuine un-delete — where the plan's stale tombstone filter WOULD
    // keep suppressing the re-inserted id — fails loud like a remove.
    val rnd = new scala.util.Random(109)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    def near(eps: Float) = base.map(_ + eps)
    val corpus = (1L to 10L).map(i => (i, near(0.01f * i)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_annps_tomb_append").toString
    graft.ops.Similarity.buildLshIndex(corpus, "vec_id", "embedding", dir)
    graft.ops.IndexLifecycle.removeIds(spark, dir,
      Seq(3L).toDF("vec_id"), "vec_id") // backlog {3} BEFORE the stream
    val qvec = near(-0.02f)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.annProbeStream(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        dir, tau = 0.9, nprobe = 16)
      .writeStream.format("memory").queryName("sink_tomb_append")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Seq((100L, qvec))); q.processAllAvailable()
      def tags = spark.table("sink_tomb_append")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(tags.exists(_._1 == 100L) && !tags.contains((100L, 3L)),
        s"fixture drifted: $tags")
      // brand-new id: postings/vectors append + a SKIPPED undelete rewrite —
      // the stream must survive and keep the plan snapshot (id 50
      // invisible until restart)
      graft.ops.Similarity.appendLshIndex(
        Seq((50L, near(0.015f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir)
      mem.addData(Seq((200L, qvec))); q.processAllAvailable()
      assert(tags.exists(_._1 == 200L),
        "append of new ids over a backlog broke the guarded stream — " +
          "the undelete rewrite ran without an intersection")
      assert(!tags.exists(t => t._1 == 200L && t._2 == 50L),
        "mid-stream append became visible to the running plan")
      // re-insert of the tombstoned id: the rewrite must run and the guard
      // must trip — the plan's stale tombstone filter would otherwise
      // keep suppressing id 3 silently
      graft.ops.Similarity.appendLshIndex(
        corpus.filter(col("vec_id") === 3L), "vec_id", "embedding", dir)
      mem.addData(Seq((300L, qvec)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(20).toSeq
      assert(chain.exists(c => String.valueOf(c.getMessage)
          .contains("changed while this probe stream was running")),
        s"un-deleting append failed the stream, but not via the guard: $e")
    } finally q.stop()
  }
}
