package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The single-writer lease for the index lifecycle verbs (r15 verdict
  * #1): the generation protocol promises either-old-or-new against a
  * CRASH, not against a concurrent second WRITER — two verbs
  * interleaving on one root (append-during-rebuild, remove-during-
  * compact) must serialize through the lease or fail loudly, never
  * corrupt; and a holder taken over mid-verb must not land its writes
  * (the fencing token). */
class IndexLockSpec extends SparkSpec {
  import spark.implicits._

  private def emb = graft.engine.Tables.read(spark, sf0001, "embeddings")
    .select("vec_id", "embedding")

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def holdLock(dir: String, verb: String = "test-holder"): java.io.File = {
    val f = new java.io.File(IndexLifecycle.lockPath(dir))
    val w = new java.io.FileWriter(f)
    w.write(s"$verb ${System.currentTimeMillis()}\n"); w.close()
    f
  }

  test("every mutating verb fails loudly while another writer holds the lease; index untouched") {
    val corpus = emb.localCheckpoint(true)
    val query = corpus.filter($"vec_id" === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_held").toString + "/idx"
    Ivf.buildIndex(corpus, "vec_id", "embedding", dir, maxIter = 5)
    val before = pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10))
    val lock = holdLock(dir, "rebuildIndex")
    // append-during-rebuild: the exact interleaving the verdict names —
    // an append landing in the generation a rebuild is about to
    // supersede is lost with it
    val batch = corpus.limit(3)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    def heldError(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains("single-writer"), s"wrong error: ${e.getMessage}")
    }
    heldError(Ivf.appendIndex(batch, "vec_id", "embedding", dir))
    // remove-during-compact (the other named interleaving) + the rest
    heldError(IndexLifecycle.removeIds(spark, dir,
      Seq(0L).toDF("vec_id"), "vec_id"))
    heldError(IndexLifecycle.compactIndex(spark, dir))
    heldError(IndexLifecycle.rebuildIndex(spark, dir))
    heldError(IndexLifecycle.maintainIndex(spark, dir))
    // loud, not corrupt: the probe is bit-identical after every refusal
    assert(pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10)) == before, "refused verb still mutated the index")
    // release → the same verb goes through
    assert(lock.delete())
    Ivf.appendIndex(batch, "vec_id", "embedding", dir)
    val after = pairs(Ivf.probeIndex(spark, dir, "vec_id", "embedding",
      query, "embedding", k = 10))
    assert(after != before || after.map(_._1).exists(_ >= 1000000L) ||
      before == after, "sanity") // append landed; probe may or may not change
    assert(!new java.io.File(IndexLifecycle.lockPath(dir)).exists(),
      "verb did not release its lease")
  }

  test("LSH and PQ verbs honor the same lease") {
    val corpus = emb.limit(64).localCheckpoint(true)
    val lshDir = java.nio.file.Files.createTempDirectory("graft_lock_lsh").toString + "/idx"
    Similarity.buildLshIndex(corpus, "vec_id", "embedding", lshDir)
    val pqDir = java.nio.file.Files.createTempDirectory("graft_lock_pq").toString + "/idx"
    Quantize.buildPqIndex(corpus, "vec_id", "embedding", pqDir, m = 4)
    holdLock(lshDir)
    intercept[IllegalStateException](
      Similarity.appendLshIndex(corpus.limit(2), "vec_id", "embedding", lshDir))
    holdLock(pqDir)
    intercept[IllegalStateException](
      Quantize.appendPqIndex(corpus.limit(2), "vec_id", "embedding", pqDir))
  }

  test("stale lease (crashed holder) is taken over; healthy fresh lease is not") {
    val corpus = emb.limit(64).localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_stale").toString + "/idx"
    Ivf.buildIndex(corpus, "vec_id", "embedding", dir, maxIter = 5)
    val lock = holdLock(dir, "crashed-holder")
    // age the lease past DefaultLeaseMs: a holder that crashed mid-verb
    // never deletes its lock — the takeover is what unblocks maintenance
    assert(lock.setLastModified(
      System.currentTimeMillis() - IndexLifecycle.DefaultLeaseMs - 60000L))
    assert(IndexLifecycle.maintainIndex(spark, dir) == "none")
    assert(!lock.exists(), "takeover did not leave the lease released")
  }

  test("lease releases on verb FAILURE (wrong-layout append) — no deadlock after errors") {
    val corpus = emb.limit(64).localCheckpoint(true)
    val pqDir = java.nio.file.Files.createTempDirectory("graft_lock_fail").toString + "/idx"
    Quantize.buildPqIndex(corpus, "vec_id", "embedding", pqDir, m = 4)
    intercept[IllegalArgumentException](
      Ivf.appendIndex(corpus.limit(2), "vec_id", "embedding", pqDir))
    assert(!new java.io.File(IndexLifecycle.lockPath(pqDir)).exists(),
      "failed verb leaked its lease — every later verb would deadlock until takeover")
    // and the dir still accepts its RIGHT verb immediately
    Quantize.appendPqIndex(corpus.limit(2)
      .select(($"vec_id" + 500L).as("vec_id"), $"embedding"),
      "vec_id", "embedding", pqDir)
  }

  test("a HEALTHY verb outliving the lease duration is never taken over (heartbeat renewal)") {
    val corpus = emb.limit(64).localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_renew").toString + "/idx"
    Ivf.buildIndex(corpus, "vec_id", "embedding", dir, maxIter = 5)
    // a 300 ms lease held for 1200 ms: without renewal, the contender at
    // t=800 ms would see a stale lease and take it over — two live
    // writers, the exact corruption the lease exists to prevent
    val entered = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val holder = new Thread(() =>
      try IndexLifecycle.withIndexLock(spark, dir, "long-rebuild", leaseMs = 300L) {
        entered.countDown()
        Thread.sleep(1200)
      } catch { case t: Throwable => errors.add(t) })
    holder.start()
    assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS))
    Thread.sleep(800) // well past the un-renewed lease age
    val e = intercept[IllegalStateException](
      IndexLifecycle.withIndexLock(spark, dir, "contender", leaseMs = 300L) {
        fail("contender stole a HELD lease from a live, heartbeating holder")
      })
    assert(e.getMessage.contains("long-rebuild"), s"wrong error: ${e.getMessage}")
    holder.join(30000)
    assert(errors.isEmpty, s"holder failed: ${errors.peek()}")
    // holder released cleanly; the lease is free again
    IndexLifecycle.withIndexLock(spark, dir, "after", leaseMs = 300L) { () }
  }

  test("contenders racing a STALE lease: guarded takeover, never two live writers") {
    // review r16: ANY direct act on the lock path after a staleness stat
    // is an ABA race — an unconditional delete removes another
    // contender's fresh lock, and even a claim-by-rename steals one
    // created between the stat and the rename (this hammer caught both:
    // 8/8 entered under Hadoop's non-atomic local create, then 5 under
    // the rename claim). The takeover now serializes through a guard
    // file and re-stats inside it. N contenders hit one stale lock
    // simultaneously; body occupancy must never exceed 1.
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_steal").toString + "/idx"
    val lock = holdLock(dir, "crashed-holder")
    assert(lock.setLastModified(
      System.currentTimeMillis() - IndexLifecycle.DefaultLeaseMs - 60000L))
    val occupancy = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlaps = new java.util.concurrent.atomic.AtomicInteger(0)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CyclicBarrier(8)
    val threads = (1 to 8).map(i => new Thread(() => {
      start.await()
      try {
        IndexLifecycle.withIndexLock(spark, dir, s"contender-$i") {
          if (occupancy.incrementAndGet() > 1) overlaps.incrementAndGet()
          Thread.sleep(50)
          occupancy.decrementAndGet()
        }
        wins.incrementAndGet()
      } catch { case _: IllegalStateException => () } // loser: loud, correct
    }))
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    assert(overlaps.get() == 0,
      s"${overlaps.get()} overlapping writers inside the lease — takeover admitted two")
    assert(wins.get() >= 1, "no contender ever took the stale lease over")
    assert(!new java.io.File(IndexLifecycle.lockPath(dir)).exists())
  }

  test("two live writers race: exactly one wins the lease, the loser fails loudly") {
    val corpus = emb.limit(64).localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_race").toString + "/idx"
    Ivf.buildIndex(corpus, "vec_id", "embedding", dir, maxIter = 5)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      IndexLifecycle.withIndexLock(spark, dir, "slow-compact") {
        entered.countDown()
        release.await(30, java.util.concurrent.TimeUnit.SECONDS)
      })
    holder.start()
    assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS))
    try {
      val e = intercept[IllegalStateException](
        IndexLifecycle.removeIds(spark, dir, Seq(0L).toDF("vec_id"), "vec_id"))
      assert(e.getMessage.contains("slow-compact"),
        s"loser's error does not name the holder: ${e.getMessage}")
    } finally { release.countDown(); holder.join(30000) }
    // holder released cleanly → the verb now proceeds
    IndexLifecycle.removeIds(spark, dir, Seq(0L).toDF("vec_id"), "vec_id")
  }

  test("zombie release is fenced: a taken-over holder cannot delete the new holder's lock (r16 verdict #1)") {
    // the textbook fencing-token gap: holder A stalls past its lease
    // (heartbeat silently failing — the documented degrade on stores
    // without setTimes), B legitimately takes the stale lease over, A
    // RESUMES and completes — A's finally used to delete B's lock
    // unconditionally, reopening the two-writer window for a third
    // contender. The release now identity-checks the fencing token.
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_zombie").toString + "/idx"
    val lockFile = new java.io.File(IndexLifecycle.lockPath(dir))
    val aEntered = new java.util.concurrent.CountDownLatch(1)
    val aProceed = new java.util.concurrent.CountDownLatch(1)
    val aErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val zombie = new Thread(() =>
      try IndexLifecycle.withIndexLock(spark, dir, "zombie", leaseMs = 300L,
        heartbeat = false) {
        aEntered.countDown()
        aProceed.await(30, java.util.concurrent.TimeUnit.SECONDS)
      } catch { case t: Throwable => aErrors.add(t) })
    zombie.start()
    assert(aEntered.await(30, java.util.concurrent.TimeUnit.SECONDS))
    Thread.sleep(400) // past the un-renewed 300 ms lease: A is now stale
    val bEntered = new java.util.concurrent.CountDownLatch(1)
    val bRelease = new java.util.concurrent.CountDownLatch(1)
    val bErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val usurper = new Thread(() =>
      try IndexLifecycle.withIndexLock(spark, dir, "usurper", leaseMs = 300L) {
        bEntered.countDown()
        bRelease.await(30, java.util.concurrent.TimeUnit.SECONDS)
      } catch { case t: Throwable => bErrors.add(t) })
    usurper.start()
    assert(bEntered.await(30, java.util.concurrent.TimeUnit.SECONDS),
      s"takeover of the stale lease never happened: ${bErrors.peek()}")
    // resume the zombie; its body completes and its release runs
    aProceed.countDown()
    zombie.join(30000)
    assert(aErrors.isEmpty, s"zombie failed: ${aErrors.peek()}")
    assert(lockFile.exists(),
      "zombie release DELETED the live holder's lock — the fencing gap is back")
    // a third contender must still fail loudly against B's fresh lease
    val e = intercept[IllegalStateException](
      IndexLifecycle.withIndexLock(spark, dir, "third", leaseMs = 300L) {
        fail("third contender entered while the usurper held the lease")
      })
    assert(e.getMessage.contains("usurper"), s"wrong error: ${e.getMessage}")
    bRelease.countDown()
    usurper.join(30000)
    assert(bErrors.isEmpty, s"usurper failed: ${bErrors.peek()}")
    assert(!lockFile.exists(), "usurper's own (token-matching) release did not delete")
    // the lease is free again
    IndexLifecycle.withIndexLock(spark, dir, "after", leaseMs = 300L) { () }
  }

  test("zombie tombstone clear is fenced: a taken-over compaction cannot drop the new holder's backlog") {
    // the nothing-to-rewrite arm of compactIndexInner mutates EXACTLY
    // ONCE — the in-place drop of a tombstone root that filters nothing
    // — so without its own fence a zombie compaction (stalled past
    // takeover, resumed) would delete a backlog the new holder appended
    // meanwhile, silently resurrecting removed ids in every probe.
    // Fixture: a backlog holding only a GHOST id (no cell is affected,
    // so no generation is written; the drop fence is the verb's only
    // guard).
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_clear").toString + "/idx"
    Ivf.buildIndex(emb.limit(20).localCheckpoint(true), "vec_id", "embedding", dir,
      maxIter = 2)
    IndexLifecycle.removeIds(spark, dir, Seq(999L).toDF("vec_id"), "vec_id",
      tombstone = true)
    val aEntered = new java.util.concurrent.CountDownLatch(1)
    val aProceed = new java.util.concurrent.CountDownLatch(1)
    val aOutcome = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val zombie = new Thread(() =>
      IndexLifecycle.withIndexLock(spark, dir, "zombie-compact", leaseMs = 300L,
        heartbeat = false) {
        aEntered.countDown()
        aProceed.await(30, java.util.concurrent.TimeUnit.SECONDS)
        try IndexLifecycle.compactIndexInner(spark, dir, maxFilesPerCell = 4,
          idBroadcastLimit = Dedup.HotShingleBroadcastLimit)
        catch { case t: Throwable => aOutcome.add(t) }
      })
    zombie.start()
    assert(aEntered.await(30, java.util.concurrent.TimeUnit.SECONDS))
    Thread.sleep(400)
    val bRelease = new java.util.concurrent.CountDownLatch(1)
    val bEntered = new java.util.concurrent.CountDownLatch(1)
    val usurper = new Thread(() =>
      IndexLifecycle.withIndexLock(spark, dir, "usurper", leaseMs = 300L) {
        bEntered.countDown()
        bRelease.await(30, java.util.concurrent.TimeUnit.SECONDS)
      })
    usurper.start()
    assert(bEntered.await(30, java.util.concurrent.TimeUnit.SECONDS))
    aProceed.countDown()
    zombie.join(30000)
    bRelease.countDown()
    usurper.join(30000)
    val t = aOutcome.peek()
    assert(t != null, "zombie's tombstone clear went through under a lost lease")
    assert(t.isInstanceOf[IllegalStateException] &&
      t.getMessage.contains("lost before [tombstone-root drop (compaction)]"),
      s"wrong failure: $t")
    // the backlog survived — the live holder's tombstones are intact
    assert(IndexLifecycle.loadTombstones(spark, IndexLifecycle.resolveIndexDir(spark, dir))
      .map(_.as[Long].collect().toSeq).contains(Seq(999L)),
      "zombie cleared the backlog despite the lost lease")
  }

  test("release serializes through the takeover guard: a held guard defers release; a stale guard is cleared") {
    // ADVICE r17: the old read-token-then-delete release left a window —
    // a takeover landing between the content read and the delete still
    // lost its lock to the zombie. Release now takes the SAME guard the
    // stale takeover uses. Observable contract, both arms:
    //  (a) guard HELD by a live contender -> release defers (lock left
    //      to age out; liveness cost, never a safety gap);
    //  (b) guard is a ≥60s crash leftover -> release clears it and
    //      deletes its own lock normally.
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_rel").toString + "/idx"
    new java.io.File(dir).mkdirs()
    val lock = new java.io.File(IndexLifecycle.lockPath(dir))
    val guard = new java.io.File(IndexLifecycle.lockPath(dir) + ".__takeover")
    // (a) fresh guard held across the verb's whole release
    val w = new java.io.FileWriter(guard); w.write("takeover test\n"); w.close()
    IndexLifecycle.withIndexLock(spark, dir, "rel-test", leaseMs = 60000L) { () }
    assert(lock.exists(),
      "release deleted its lock while a live contender held the takeover " +
        "guard — the read-then-delete is racing takeovers again")
    assert(lock.delete())
    // (b) stale guard: crash leftover older than TakeoverGuardStaleMs
    val w2 = new java.io.FileWriter(guard); w2.write("takeover crash\n"); w2.close()
    assert(guard.setLastModified(System.currentTimeMillis() - 120000L))
    IndexLifecycle.withIndexLock(spark, dir, "rel-test2", leaseMs = 60000L) { () }
    assert(!lock.exists(), "release failed to clear a stale crash-leftover guard")
    assert(!guard.exists(), "release left its guard behind")
  }

  test("negative control: a non-atomic LockIo admits concurrent writers — the default primitive is load-bearing (r16 verdict #5)") {
    // the lease's guarantee is exactly as hard as LockIo.createExclusive:
    // substituting a deliberately non-atomic exists-then-create (the
    // stock object-store connector shape) makes the same hammer that
    // proves single-writer under the default admit MULTIPLE writers.
    // A real deployment on S3/GCS restores the hard guarantee by
    // installing a conditional-write LockIo (see the trait's scaladoc).
    val naive = new IndexLifecycle.LockIo {
      def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
                          lock: org.apache.hadoop.fs.Path,
                          content: String): Boolean =
        if (fs.exists(lock)) false
        else {
          Thread.sleep(200) // the check-to-create window, widened
          val out = fs.create(lock, true) // last writer wins: non-atomic
          out.write(content.getBytes("UTF-8")); out.close()
          true
        }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_naive").toString + "/idx"
    val lock = holdLock(dir, "crashed-holder")
    assert(lock.setLastModified(
      System.currentTimeMillis() - IndexLifecycle.DefaultLeaseMs - 60000L))
    val prev = IndexLifecycle.lockIo
    IndexLifecycle.lockIo = naive
    try {
      val occupancy = new java.util.concurrent.atomic.AtomicInteger(0)
      val overlaps = new java.util.concurrent.atomic.AtomicInteger(0)
      val start = new java.util.concurrent.CyclicBarrier(8)
      val threads = (1 to 8).map(i => new Thread(() => {
        start.await()
        try IndexLifecycle.withIndexLock(spark, dir, s"naive-$i") {
          if (occupancy.incrementAndGet() > 1) overlaps.incrementAndGet()
          Thread.sleep(100)
          occupancy.decrementAndGet()
        } catch { case _: IllegalStateException => () }
      }))
      threads.foreach(_.start()); threads.foreach(_.join(30000))
      assert(overlaps.get() > 0,
        "the non-atomic fake still excluded all contenders — this negative " +
          "control no longer demonstrates that the atomic primitive is what " +
          "the lease's guarantee rests on")
    } finally {
      IndexLifecycle.lockIo = prev
      new java.io.File(IndexLifecycle.lockPath(dir)).delete()
    }
  }

  test("PreconditionLockIo: an honoring conditional store restores the hard guarantee; a violator loses it (r17 verdict #7)") {
    // the object-store profile: LockIo backed by a conditional PUT
    // (S3 If-None-Match / GCS ifGenerationMatch=0 / ABFS ETag). Same
    // hammer as the negative control, both directions: a store that
    // HONORS the precondition admits exactly one writer; a store that
    // ignores it (plain last-writer-wins PUT) admits several — the
    // lease's guarantee is exactly the store's, nothing more.
    def fakeStore(honoring: Boolean) = new IndexLifecycle.ConditionalStore {
      private val mutex = new Object
      def putIfAbsent(key: String, content: String): Boolean = {
        val f = new java.io.File(new java.net.URI(
          if (key.startsWith("file:")) key else s"file:$key").getPath)
        def createAndWrite(): Boolean = {
          Option(f.getParentFile).foreach(_.mkdirs())
          val w = new java.io.FileWriter(f); w.write(content); w.close()
          true
        }
        if (honoring) mutex.synchronized {
          if (f.exists()) false else createAndWrite() // atomic per store
        } else {
          // precondition violated: exists-check separated from the PUT
          if (f.exists()) false
          else { Thread.sleep(200); createAndWrite() }
        }
      }
    }
    def hammer(dir: String): (Int, Int) = {
      val lock = holdLock(dir, "crashed-holder")
      assert(lock.setLastModified(
        System.currentTimeMillis() - IndexLifecycle.DefaultLeaseMs - 60000L))
      val occupancy = new java.util.concurrent.atomic.AtomicInteger(0)
      val overlaps = new java.util.concurrent.atomic.AtomicInteger(0)
      val entered = new java.util.concurrent.atomic.AtomicInteger(0)
      val start = new java.util.concurrent.CyclicBarrier(8)
      val threads = (1 to 8).map(i => new Thread(() => {
        start.await()
        try IndexLifecycle.withIndexLock(spark, dir, s"cond-$i") {
          entered.incrementAndGet()
          if (occupancy.incrementAndGet() > 1) overlaps.incrementAndGet()
          Thread.sleep(100)
          occupancy.decrementAndGet()
        } catch { case _: IllegalStateException => () }
      }))
      threads.foreach(_.start()); threads.foreach(_.join(30000))
      (entered.get(), overlaps.get())
    }
    val prev = IndexLifecycle.lockIo
    try {
      IndexLifecycle.lockIo = new IndexLifecycle.PreconditionLockIo(fakeStore(honoring = true))
      val dirA = java.nio.file.Files.createTempDirectory("graft_lock_cond").toString + "/idx"
      val (enteredA, overlapsA) = hammer(dirA)
      assert(enteredA >= 1, "honoring store admitted nobody")
      assert(overlapsA == 0,
        s"honoring conditional store admitted $overlapsA overlapping writers — " +
          "PreconditionLockIo is not relaying the store's guarantee")
      new java.io.File(IndexLifecycle.lockPath(dirA)).delete()
      IndexLifecycle.lockIo = new IndexLifecycle.PreconditionLockIo(fakeStore(honoring = false))
      val dirB = java.nio.file.Files.createTempDirectory("graft_lock_viol").toString + "/idx"
      val (_, overlapsB) = hammer(dirB)
      assert(overlapsB > 0,
        "the violating store still excluded everyone — this control no longer " +
          "demonstrates that the guarantee comes from the store's precondition")
      new java.io.File(IndexLifecycle.lockPath(dirB)).delete()
    } finally IndexLifecycle.lockIo = prev
  }
}
