package graft.engine.export

import graft.SparkSpec
import java.nio.file.Files

class ExportServiceSpec extends SparkSpec {
  import ExportService._
  import spark.implicits._

  private def setup(clock: () => Long = () => System.currentTimeMillis()) = {
    val resultDir = Files.createTempDirectory("graft-res").toString
    val exportDir = Files.createTempDirectory("graft-exp").toString
    // materialize a fake finished query result
    Seq((1, "x"), (2, "y")).toDF("k", "v")
      .write.option("header", "true").csv(s"$resultDir/q1")
    val svc = new ExportService(spark, id => s"$resultDir/$id", exportDir, clock)
    (svc, resultDir, exportDir)
  }

  test("export lifecycle: QUEUED -> DONE, artifact exists, idempotent DONE") {
    val (svc, _, _) = setup()
    val st0 = svc.export("q1", "tsv")
    assert(st0 == Queued || st0 == Processing || st0.isInstanceOf[Done])
    val done = svc.await("q1", "tsv").asInstanceOf[Done]
    assert(new java.io.File(done.path).isFile)
    // second call hits the idempotency probe immediately
    assert(svc.export("q1", "tsv").isInstanceOf[Done])
  }

  test("all seven formats export the same result") {
    val (svc, _, _) = setup()
    for (f <- Exporters.SupportedFormats) {
      svc.export("q1", f)
      assert(svc.await("q1", f).isInstanceOf[Done], s"format $f")
    }
  }

  test("missing source -> FAILED, locked for 60s, retryable after") {
    var now = 1000000L
    val (svc, _, _) = setup(() => now)
    svc.export("missing", "csv")
    val f = svc.await("missing", "csv")
    assert(f.isInstanceOf[Failed])
    // within lockout: still FAILED, no new attempt
    assert(svc.export("missing", "csv") == f)
    // after lockout: retried (QUEUED again)
    now += FailedRetryLockoutMillis + 1
    val retried = svc.export("missing", "csv")
    assert(retried == Queued || retried == Processing || retried.isInstanceOf[Failed])
    assert(retried != f)
  }

  test("concurrency soak: racing exporters per (query, format) stay idempotent (property)") {
    // 12 threads hammer the same 7 (query, format) targets concurrently,
    // 3 rounds. Invariants: every call returns a legal state (never an
    // exception), every target converges to DONE at the same path, and
    // the artifact is a complete readable file — no torn writes from
    // double-enqueued workers racing the idempotency probe.
    import scala.jdk.CollectionConverters._
    for (round <- 1 to 3) {
      val (svc, _, exportDir) = setup()
      val clients = java.util.concurrent.Executors.newFixedThreadPool(12)
      try {
        val calls = for (_ <- 0 until 6; f <- Exporters.SupportedFormats)
          yield (() => svc.export("q1", f)): java.util.concurrent.Callable[State]
        val observed = clients.invokeAll(scala.util.Random.shuffle(calls).asJava)
          .asScala.map(_.get)
        observed.foreach {
          case Queued | Processing | Done(_) => ()
          case f: Failed => fail(s"round $round: export failed under contention: $f")
        }
        for (f <- Exporters.SupportedFormats) {
          val done = svc.await("q1", f).asInstanceOf[Done]
          assert(done.path == svc.targetPath("q1", f))
          assert(new java.io.File(done.path).isFile && new java.io.File(done.path).length > 0,
            s"round $round: torn/missing artifact for $f")
        }
        // the tsv artifact must be complete and parseable after the storm
        val tsv = spark.read.option("header", "true").option("sep", "\t")
          .csv(svc.targetPath("q1", "tsv"))
        assert(tsv.count() == 2 && tsv.columns.toSeq == Seq("k", "v"))
      } finally { clients.shutdownNow(); svc.close() }
    }
  }

  test("a client polling export is handed Done only for a complete file") {
    // the streaming writers create the target when they open it; a poll
    // that lands mid-write must see QUEUED/PROCESSING, never Done on a
    // partial file. Each Done is read back at once, while a partial file
    // would still be growing.
    val (svc, resultDir, _) = setup()
    val rows = 100000L
    spark.range(rows).selectExpr("id AS k", "concat('row-', id, '-', repeat('x', 40)) AS v")
      .write.option("header", "true").csv(s"$resultDir/big")
    try {
      val deadline = System.currentTimeMillis() + 120000
      var polls = 0
      var dones = 0
      while (dones < 3 && System.currentTimeMillis() < deadline) {
        polls += 1
        svc.export("big", "csv") match {
          case Done(path) =>
            val lines = Files.lines(java.nio.file.Paths.get(path))
            val readBack = try lines.count() - 1 finally lines.close()
            assert(readBack == rows, s"poll $polls: Done named a file with $readBack of $rows rows")
            dones += 1
          case f: Failed => fail(s"export failed: $f")
          case _ => ()
        }
      }
      assert(dones == 3, s"no Done within the deadline after $polls polls")
      assert(polls > 3, "the export finished before the first poll; nothing was raced")
    } finally svc.close()
  }

  test("unsupported format rejected synchronously") {
    val (svc, _, _) = setup()
    intercept[IllegalArgumentException] { svc.export("q1", "pdf") }
  }
}
