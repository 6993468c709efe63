package graft.engine

import graft.SparkSpec
import java.nio.file.Files

class QueryServiceSpec extends SparkSpec {
  import QueryService._

  private def freshService(ttl: Long = QueryService.DefaultCacheTtlMillis,
                           clock: () => Long = () => System.currentTimeMillis()) = {
    val dir = Files.createTempDirectory("graft-results").toString
    new QueryService(spark, new Catalog(spark, sf0001), dir, ttl, clock)
  }

  test("submit -> SUCCEEDED with a readable CSV result") {
    val svc = freshService()
    val id = svc.submit("lineitem", "l_returnflag", "R",
      fields = "l_orderkey, l_extendedprice", condition = Some("l_quantity > 30"))
    assert(isValidQueryId(id))
    assert(svc.await(id) == Succeeded)
    val st = svc.status(id).get
    assert(st.state == Succeeded && st.resultPath.isDefined)
    val back = spark.read.option("header", "true").csv(st.resultPath.get)
    assert(back.columns.toSeq == Seq("l_orderkey", "l_extendedprice"))
    assert(back.count() > 0)
  }

  test("semantically equal queries reuse the same query id (AND commutativity)") {
    val svc = freshService()
    val a = svc.submit("orders", "o_orderstatus", "F",
      condition = Some("o_totalprice > 1000 AND o_custkey < 50"))
    svc.await(a)
    val b = svc.submit("orders", "o_orderstatus", "F",
      condition = Some("o_custkey < 50 AND o_totalprice > 1000"))
    assert(a == b)
    // distinct literals must NOT collide (the reference's token-sort bug)
    val c = svc.submit("orders", "o_orderstatus", "F",
      condition = Some("o_totalprice > 50 AND o_custkey < 1000"))
    assert(c != a)
  }

  test("cache entries expire after the TTL") {
    var now = 0L
    val svc = freshService(ttl = 1000, clock = () => now)
    val a = svc.submit("region", "r_name", "ASIA")
    svc.await(a)
    now = 2000
    val b = svc.submit("region", "r_name", "ASIA")
    assert(a != b)
  }

  test("status/preview reject malformed ids and unknown ids") {
    val svc = freshService()
    assert(svc.status("not-a-uuid").isEmpty)
    assert(svc.preview("not-a-uuid").isLeft)
    assert(svc.preview("00000000-0000-0000-0000-000000000000").isLeft)
  }

  test("preview: header row 0, all strings, default 26 total rows, cap enforced") {
    val svc = freshService()
    val id = svc.submit("lineitem", "l_returnflag", "N", fields = "l_orderkey, l_quantity")
    svc.await(id)
    val rows = svc.preview(id).toOption.get
    assert(rows.length == 26)
    assert(rows.head == Seq("l_orderkey", "l_quantity"))
    assert(rows(1).forall(_.isInstanceOf[String]))
    assert(svc.preview(id, 0).isLeft)
    assert(svc.preview(id, 1001).isLeft)
    assert(svc.preview(id, 2).toOption.get.length == 2)
  }

  test("concurrent submissions all complete independently") {
    val svc = freshService()
    val ids = Seq("R", "A", "N").map(v =>
      svc.submit("lineitem", "l_returnflag", v, fields = "l_orderkey, l_quantity",
        condition = Some("l_quantity > 25")))
    assert(ids.distinct.size == 3)
    ids.foreach(id => assert(svc.await(id) == Succeeded))
    ids.foreach { id =>
      val n = spark.read.option("header", "true").csv(svc.resultPath(id)).count()
      assert(n > 0)
    }
  }

  test("cancel yields CANCELLED via job-group cancellation") {
    val svc = freshService()
    // a plan slow enough to still be in flight when cancel lands: per-row
    // sleep via a scalar UDF over a multi-partition range
    val slow = org.apache.spark.sql.functions.udf((x: Long) => { Thread.sleep(2); x })
    val df = spark.range(0, 20000, 1, 8)
      .select(slow(org.apache.spark.sql.functions.col("id")).as("v"))
    val id = svc.submitPlan(df)
    assert(svc.cancel(id), "cancel on a queued/running query must return true")
    assert(svc.await(id) == Cancelled)
    // cancel on a finished query is a no-op
    assert(!svc.cancel(id))
  }

  test("registry survives close + reconstruct (reference Redis semantics)") {
    val dir = Files.createTempDirectory("graft-results").toString
    val cat = new Catalog(spark, sf0001)
    val svc = new QueryService(spark, cat, dir)
    val id = svc.submit("region", "r_name", "ASIA")
    assert(svc.await(id) == Succeeded)
    svc.close()
    // a "restarted engine": new service over the same result dir
    val svc2 = new QueryService(spark, cat, dir)
    val st = svc2.status(id)
    assert(st.exists(_.state == Succeeded), s"status after restart: $st")
    // the plan-reuse cache survives too: the same query returns the prior
    // id without re-executing
    val again = svc2.submit("region", "r_name", "ASIA")
    assert(again == id)
    svc2.close()
  }

  test("registry is write-through: a crashed engine (no close) still resolves ids") {
    val dir = Files.createTempDirectory("graft-results").toString
    val cat = new Catalog(spark, sf0001)
    val svc = new QueryService(spark, cat, dir)
    val id = svc.submit("region", "r_name", "ASIA")
    assert(svc.await(id) == Succeeded)
    // NO close(): simulate kill -9 — the transition log must already be
    // on disk (the reference's Redis persisted every transition live)
    val svc2 = new QueryService(spark, cat, dir)
    val st = svc2.status(id)
    assert(st.exists(_.state == Succeeded), s"status after crash-restart: $st")
    // reuse cache survived too
    assert(svc2.submit("region", "r_name", "ASIA") == id)
    svc2.close()
  }

  test("a rewritten table misses the reuse cache; an untouched one hits, across a reload") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-rewrite").toString
    Seq(("homo_sapiens", "g1"), ("homo_sapiens", "g2")).toDF("species", "gene_id")
      .write.parquet(s"$root/gene.parquet")
    Tables.read(spark, sf0001, "region").write.parquet(s"$root/region.parquet")
    val dir = Files.createTempDirectory("graft-results").toString
    val cat = new Catalog(spark, root)
    def rows(svc: QueryService, id: String) = svc.preview(id).toOption.get.size - 1
    val svc = new QueryService(spark, cat, dir)
    val before = svc.submit("gene", "species", "homo_sapiens")
    assert(svc.await(before) == Succeeded && rows(svc, before) == 2)
    assert(svc.submit("gene", "species", "homo_sapiens") == before)
    val region = svc.submit("region", "r_name", "ASIA")
    assert(svc.await(region) == Succeeded)

    Seq(("homo_sapiens", "g1"), ("homo_sapiens", "g2"), ("homo_sapiens", "g3"))
      .toDF("species", "gene_id").write.mode("overwrite").parquet(s"$root/gene.parquet")
    val after = svc.submit("gene", "species", "homo_sapiens")
    assert(after != before, "a rewritten table was served from the cache")
    assert(svc.await(after) == Succeeded && rows(svc, after) == 3)
    assert(svc.submit("region", "r_name", "ASIA") == region)
    svc.close()

    val svc2 = new QueryService(spark, cat, dir)
    assert(svc2.submit("region", "r_name", "ASIA") == region)
    assert(svc2.submit("gene", "species", "homo_sapiens") == after)
    svc2.close()
  }

  test("a registry key written before the input digest loads but never matches") {
    val dir = Files.createTempDirectory("graft-results").toString
    val cat = new Catalog(spark, sf0001)
    val df = QueryBuilder.build(cat.table("region"), "r_name", "ASIA", "*", None)
    val bareHash = df.queryExecution.analyzed.canonicalized.semanticHash()
    val old = java.util.UUID.randomUUID().toString
    Files.write(java.nio.file.Paths.get(dir, "_registry.tsv"),
      s"S\t$old\tSUCCEEDED\t\nC\t$bareHash\t$old\t${System.currentTimeMillis()}\n"
        .getBytes("UTF-8"))
    val svc = new QueryService(spark, cat, dir)
    assert(svc.status(old).exists(_.state == Succeeded))
    val id = svc.submitPlan(df)
    assert(id != old)
    assert(svc.await(id) == Succeeded)
    svc.close()
  }

  test("registry load skips corrupt lines instead of failing construction") {
    val dir = Files.createTempDirectory("graft-results").toString
    val cat = new Catalog(spark, sf0001)
    val svc = new QueryService(spark, cat, dir)
    val id = svc.submit("region", "r_name", "AFRICA")
    assert(svc.await(id) == Succeeded)
    svc.close()
    // corrupt the registry: a non-numeric cache key and a truncated line
    val reg = java.nio.file.Paths.get(dir, "_registry.tsv")
    java.nio.file.Files.write(reg,
      "C\tnot_an_int\tx\tnot_a_long\nS\ttrunc".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val svc2 = new QueryService(spark, cat, dir) // must not throw
    assert(svc2.status(id).exists(_.state == Succeeded))
    svc2.close()
  }

  test("in-flight state in a crashed registry loads as FAILED(interrupted)") {
    val dir = Files.createTempDirectory("graft-results").toString
    val cat = new Catalog(spark, sf0001)
    // hand-write a log whose last transition is RUNNING (crash mid-query)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val id = java.util.UUID.randomUUID().toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_registry.tsv"),
      s"S\t$id\tQUEUED\t\nS\t$id\tRUNNING\t\n".getBytes("UTF-8"))
    val svc = new QueryService(spark, cat, dir)
    svc.status(id).map(_.state) match {
      case Some(Failed(msg)) => assert(msg.contains("interrupted"))
      case other => fail(s"expected Failed(interrupted...), got $other")
    }
    svc.close()
  }

  test("status on a finished query carries 3600s result expiry metadata") {
    var now = 5000L
    val svc = freshService(clock = () => now)
    val id = svc.submit("region", "r_name", "ASIA")
    assert(svc.await(id) == Succeeded)
    now = 9000L // expiry is stamped at poll time, like presigning
    val st = svc.status(id).get
    assert(st.expiresAtMillis.contains(now + QueryService.ResultTtlMillis))
    // unfinished/unknown queries carry no expiry
    assert(svc.status("00000000-0000-0000-0000-000000000000")
      .forall(_.expiresAtMillis.isEmpty))
  }

  test("request-correlation logging: uuid per request, latency + error logged") {
    val logs = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val dir = Files.createTempDirectory("graft-results").toString
    val svc = new QueryService(spark, new Catalog(spark, sf0001), dir,
      requestLog = (cid, msg) => logs.synchronized { logs += ((cid, msg)) })
    val (cid, id) = svc.logged("GET /query/region/ASIA") {
      svc.submit("region", "r_name", "ASIA")
    }
    assert(isValidQueryId(cid) && isValidQueryId(id) && cid != id)
    assert(logs.exists { case (c, m) =>
      c == cid && m.startsWith("GET /query/region/ASIA") && m.contains("ms ok") })
    // errors are logged with the same correlation id, reference log_error
    val boom = intercept[RuntimeException] {
      svc.logged("GET /boom") { sys.error("kapow") }
    }
    assert(boom.getMessage == "kapow")
    assert(logs.exists { case (_, m) => m.contains("""err="kapow"""") })
    svc.close()
  }

  test("concurrency soak: parallel submit/cancel storms keep CAS + registry consistent (property)") {
    // round-4 verdict #7: the CAS transitions are spec'd individually;
    // this exercises their INTERLEAVING — 8 client threads submitting 16
    // distinct plans while 4 more race cancels against half of them,
    // repeated 3 rounds. Invariants: a true cancel() always yields
    // CANCELLED, a false cancel() never does, uncancelled queries
    // succeed with readable results, and a crash-reload (no close) of
    // the write-through registry reproduces every terminal state.
    import org.apache.spark.sql.functions.{col, udf}
    import scala.jdk.CollectionConverters._
    val slow = udf((x: Long) => { Thread.sleep(1); x })
    for (round <- 1 to 3) {
      val dir = Files.createTempDirectory("graft-soak").toString
      val svc = new QueryService(spark, new Catalog(spark, sf0001), dir)
      val clients = java.util.concurrent.Executors.newFixedThreadPool(12)
      try {
        val plans = (0 until 16).map { k =>
          // distinct literals defeat the reuse cache; odd plans are slow
          // enough (per-row sleep, multi-partition) for cancels to land
          // mid-flight, and the 4-worker pool keeps a QUEUED backlog
          if (k % 2 == 0) spark.range(k * 1000, k * 1000 + 50).toDF("id")
          else spark.range(0, 3000 + k, 1, 4).select(slow(col("id")).as("v"))
        }
        val ids = clients.invokeAll(plans.map(p =>
          (() => svc.submitPlan(p)): java.util.concurrent.Callable[String]).asJava)
          .asScala.map(_.get).toIndexedSeq
        assert(ids.distinct.size == 16, "distinct plans must get distinct ids")
        val cancelWon = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
        clients.invokeAll(ids.zipWithIndex.collect { case (id, i) if i % 2 == 1 =>
          (() => { cancelWon.put(id, svc.cancel(id)); id }):
            java.util.concurrent.Callable[String] }.asJava)
        val finalStates = ids.map(id => id -> svc.await(id)).toMap
        ids.zipWithIndex.foreach { case (id, i) =>
          val st = finalStates(id)
          if (i % 2 == 0) {
            assert(st == Succeeded, s"round $round uncancelled query $i: $st")
            assert(spark.read.option("header", "true").csv(svc.resultPath(id)).count() > 0)
          } else if (cancelWon.get(id))
            assert(st == Cancelled, s"round $round: cancel won but state is $st")
          else
            assert(st == Succeeded || st.isInstanceOf[Failed],
              s"round $round: cancel lost but state is $st")
        }
        // crash-reload: no close(), the append-only log alone must
        // reproduce every terminal state under the contention above
        val reloaded = new QueryService(spark, new Catalog(spark, sf0001), dir)
        ids.foreach { id =>
          assert(reloaded.status(id).map(_.state) == Some(finalStates(id)),
            s"round $round: registry lost $id")
        }
        reloaded.close()
      } finally { clients.shutdownNow(); svc.close() }
    }
  }

  test("failed query reports FAILED and is not cached for reuse") {
    val svc = freshService()
    val id = svc.submit("lineitem", "l_returnflag", "R",
      condition = Some("no_such_column > 5"))
    svc.await(id) match {
      case Failed(msg) => assert(msg != null)
      case other => fail(s"expected Failed, got $other")
    }
    val retry = svc.submit("lineitem", "l_returnflag", "R",
      condition = Some("no_such_column > 5"))
    assert(retry != id)
  }
}
