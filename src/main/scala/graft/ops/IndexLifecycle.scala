package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Build, remove, compaction and rebuild for the materialized ANN serve
  * indexes ([[Ivf.buildIndex]]/[[Quantize.buildPqIndex]]/
  * [[Similarity.buildLshIndex]] + their appends): the FAISS `remove_ids`
  * analog, the small-file maintenance every append-accumulating 100 TB
  * layout eventually needs, and the retrain [[rebuildIndex]] finding
  * 29's drift policy acts through.
  *
  * ONE replace protocol. Every serve index is a GENERATION ROOT: a
  * directory of immutable `gen-*` generations plus `commit-<seq>.<gen>`
  * pointer files and the [[PointerMarker]]. Every verb that replaces
  * data (build, rebuild, compaction, a physical remove) writes a
  * complete new generation into a fresh dir and flips the pointer with
  * ONE conditional create through [[lockIo]]; readers resolve the
  * highest committed generation before every read. No live data is ever
  * renamed, so the guarantee — exactly one complete world at every
  * instant, a crash anywhere leaves the old or the new world — holds on
  * every store, object stores included (the Delta/Iceberg metadata
  * commit, at generation granularity). Appends add files inside the
  * live generation; tombstones live as a nested generation root
  * (`<gen>/deletes.parquet`) replaced the same way.
  *
  * Layout dispatch mirrors [[Ivf.cellSource]]: an LSH generation
  * carries `meta.parquet` + id-only postings; the cell layouts carry a
  * cell-PARTITIONED `invfile.parquet`/`codes.parquet`.
  *
  * Removal: every remove appends the ids to the tombstone set —
  * O(backlog) per call — which every probe path anti-joins out
  * ([[minusTombstones]]); [[compactIndex]] applies the backlog
  * physically in a new generation (the Lucene/Delta deletion-vector
  * shape). `removeIds(tombstone = false)` on a cell layout compacts the
  * affected cells right away, so no tombstone stays in the read path.
  *
  * Removal batches are increment-sized by contract, like appends — a
  * corpus-scale removal is a rebuild. The affected-cell list collects to
  * the driver: it is bounded by the CELL count (occupancy-sized by
  * construction — [[Ivf.cellsForSearch]]), never by corpus rows.
  */
object IndexLifecycle {

  private def hfs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  // ── single-writer lease ─────────────────────────────────────────────

  /** How long a writer lease stays honored before a contender may take
    * it over as crashed. The generation protocol makes a takeover
    * SAFE at any point (either-old-or-new, never mixed), so the lease
    * duration only trades "how long a crashed writer blocks maintenance"
    * against "how long the longest healthy verb runs" — size it above
    * the latter (a corpus-scale rebuild), never below. */
  val DefaultLeaseMs: Long = 60L * 60L * 1000L

  private[graft] def lockPath(dir: String): String = s"$dir.__lock"

  /** The acquired lease this thread currently holds: (lock path,
    * fencing token). Lets the protocol-critical writes (the commits)
    * re-verify the lease without threading the token through every
    * signature; `None` outside any lease (direct [[swapInParquet]]
    * callers, tests) skips the fence. */
  private val currentLease =
    new scala.util.DynamicVariable[Option[(String, String)]](None)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Acquire the index root's single-WRITER lease, run `body`, release.
    *
    * The generation protocol promises either-old-or-new against a
    * CRASH, not against a concurrent second WRITER: a scheduled
    * [[maintainIndex]] racing an append on the same root could land the
    * append inside a generation the rebuild is about to supersede (the
    * batch is lost with the old generation). Every mutating verb — the
    * builds, the appends ([[Ivf.appendIndex]],
    * [[Quantize.appendPqIndex]], [[Similarity.appendLshIndex]]),
    * [[removeIds]], [[compactIndex]], [[rebuildIndex]],
    * [[maintainIndex]] — serializes through this lease instead; a verb
    * arriving while another writer holds it FAILS LOUDLY (retry on the
    * caller's schedule) rather than corrupting.
    *
    * Mechanics: a sibling `root.__lock` file created atomically (via the
    * injectable [[LockIo]] primitive — POSIX O_EXCL locally, Hadoop
    * `create(overwrite = false)` elsewhere), holding
    * `"verb timestamp token"` where the token is this acquisition's
    * unique FENCING identity. A holder that crashed mid-verb leaves the
    * lock behind; a contender takes a lease older than `leaseMs` over
    * (delete + re-create, with the atomic create arbitrating racing
    * contenders) — the crashed verb's uncommitted generation is an
    * orphan no reader resolves. Release is identity-checked against the
    * token ([[releaseLock]]): a holder that stalled past takeover and
    * resumes cannot delete the new holder's lock, and every commit
    * re-verifies the token first ([[requireLeaseStillHeld]]) so the
    * zombie aborts loudly instead of flipping the pointer under the live
    * writer. Best-effort by construction (object stores without atomic
    * create weaken it to advisory — see [[LockIo]] for restoring the
    * hard guarantee via conditional writes), which is the contract: the
    * lease prevents the OPERATIONAL race; crash-consistency never
    * depended on it.
    *
    * READERS never take the lease — probes stay lock-free and resolve
    * the committed generation inside [[fencedProbeResolved]].
    *
    * The lease RENEWS while the verb runs (a daemon heartbeat re-touches
    * the lock's mtime every leaseMs/4): a healthy verb that outlives the
    * lease duration — a corpus-scale rebuild on a bad day — is never
    * taken over mid-run; takeover only ever fires on a holder that
    * stopped heartbeating (crashed, or a hung JVM whose commit the fence
    * then refuses). Renewal is best-effort like the lease itself: a store
    * without setTimes just degrades to the fixed-duration lease. */
  private[graft] def withIndexLock[T](spark: SparkSession, dir: String,
                                      verb: String,
                                      leaseMs: Long = DefaultLeaseMs,
                                      heartbeat: Boolean = true)(body: => T): T = {
    val (fs, lock) = hfs(spark, lockPath(dir))
    // the FENCING TOKEN (r16 verdict #1): release and every commit
    // identity-check against it, so a holder that stalled past takeover
    // and RESUMES (a zombie) can neither delete the new holder's lock
    // nor flip the pointer
    val token = java.util.UUID.randomUUID().toString
    acquireLock(fs, lock, verb, leaseMs, token)
    val renewer = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(math.max(1L, leaseMs / 4))
          try fs.setTimes(lock, System.currentTimeMillis(), -1)
          catch {
            // an interrupt landing INSIDE the fs call surfaces as
            // InterruptedIOException with the flag cleared — re-assert
            // it or the loop never exits and the thread leaks, touching
            // whatever lock later verbs create at this path (review r16)
            case _: java.io.InterruptedIOException =>
              Thread.currentThread().interrupt()
            case _: java.io.IOException => () // best-effort
          }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lease-renewer-$verb")
    renewer.setDaemon(true)
    // heartbeat=false is a TEST hook only (IndexLockSpec's zombie
    // interleaving needs a holder whose renewal "silently fails", the
    // exact degrade a store without setTimes produces)
    if (heartbeat) renewer.start()
    try currentLease.withValue(Some((lock.toString, token)))(body)
    finally {
      // stop the heartbeat BEFORE releasing: a touch landing after the
      // delete would recreate nothing (setTimes on a missing path just
      // throws into the swallow), but joining makes release ordered
      renewer.interrupt()
      renewer.join(2000)
      releaseLock(fs, lock, verb, token)
    }
  }

  /** FENCED release (r16 verdict #1): delete the lock only while it
    * still carries OUR token. The unconditional delete it replaces was
    * the textbook fencing gap — a holder whose heartbeat stalls past
    * `leaseMs` (hung NFS, a long GC) gets legitimately taken over;
    * when the zombie RESUMES, its finally would delete the NEW
    * holder's lock, reopening the two-writer window for a third
    * contender (the exact state the acquire-side hammer proves cannot
    * happen at acquire time). A token mismatch means we were taken
    * over: warn LOUDLY and leave the live lock alone — our verb's
    * writes after the takeover are the zombie-write hazard the
    * pre-commit [[requireLeaseStillHeld]] fence bounds. An unreadable
    * or missing lock also skips the delete (missing: the takeover
    * already cleared us; unreadable: deleting what we cannot identify
    * is the same gap).
    *
    * The read-verify-delete SERIALIZES through the same takeover guard
    * the stale takeover uses (ADVICE r17): without it, a takeover
    * landing between our content read and our delete replaces the lock
    * and the delete removes the NEW holder's — the exact two-writer
    * window the token exists to close. Inside the guard the lock path
    * cannot empty or change hands (takeover's delete is guard-gated and
    * a fresh acquire needs the path empty first), so the
    * read-then-delete is atomic w.r.t. the protocol. If the guard stays
    * contended past the retries (a contender crashed inside its
    * two-metadata-call guard window less than [[TakeoverGuardStaleMs]]
    * ago), release degrades to leave-it-stale: the lock ages out and
    * the next writer's takeover clears it — a liveness cost of up to
    * one lease, never a safety gap. */
  private def releaseLock(fs: org.apache.hadoop.fs.FileSystem,
                          lock: org.apache.hadoop.fs.Path,
                          verb: String, token: String): Unit = {
    def content(): String =
      try {
        val in = fs.open(lock)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      } catch { case _: java.io.IOException => "" }
    var attempts = 5
    while (attempts > 0) {
      if (tryTakeoverGuard(fs, lock, s"release $verb")) {
        try {
          val c = content()
          if (c.contains(token)) fs.delete(lock, false)
          else log.warn(
            s"graft lease release SKIPPED at $lock: verb [$verb] no longer " +
              s"holds the lease (content [${c.trim}] lacks our token) — this " +
              "verb stalled past its lease and was taken over; its work " +
              "since the takeover may have raced the new holder's")
        } finally fs.delete(guardPath(lock), false)
        return
      }
      attempts -= 1
      if (attempts > 0) Thread.sleep(50)
    }
    log.warn(
      s"graft lease release DEFERRED at $lock: verb [$verb] could not win " +
        "the takeover guard (a contender is mid-takeover or crashed inside " +
        "its guard window) — leaving the lock to age out; the next writer's " +
        "stale takeover clears it after the lease duration")
  }

  /** Re-verify, immediately before a live-world write, that the lease
    * this thread acquired is STILL ours — the fencing check that shrinks
    * the zombie-write window from "whole verb" to "between this check
    * and the write". A verb that stalled past takeover fails here LOUDLY
    * instead of interleaving its writes with the new holder's. Checked
    * before every generation commit ([[publishGeneration]]), the GC
    * sweep, the appends, and the in-place tombstone-root drop. `action`
    * names the write being fenced (ADVICE r17: a zombie abort must
    * diagnose the write it actually fenced). No-op outside a lease
    * (direct [[swapInParquet]] callers and readers are not fenced —
    * the protocol is crash-safe without it). */
  private[graft] def requireLeaseStillHeld(spark: SparkSession,
                                           action: String): Unit =
    currentLease.value.foreach { case (lockStr, token) =>
      val (fs, lock) = hfs(spark, lockStr)
      val content =
        try {
          val in = fs.open(lock)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        } catch { case _: java.io.IOException => "" }
      if (!content.contains(token))
        throw new IllegalStateException(
          s"index writer lease $lock lost before [$action] " +
            s"(content [${content.trim}] lacks our token): this verb stalled " +
            "past its lease and was taken over — aborting instead of racing " +
            "the new holder's writes")
    }

  /** Drop any lease left at `dir`'s lock path. ONLY for single-driver
    * orchestration that is about to (re)build the dir from scratch
    * (marker-gated fixtures, sweep tools): a
    * crashed build leaves its lock as a SIBLING of the dir, so deleting
    * the dir alone would block the recovery build for up to
    * [[DefaultLeaseMs]] (review r16). Never call this where a second
    * live writer could legitimately hold the lease — that is what the
    * stale-takeover protocol is for. */
  private[graft] def clearLock(spark: SparkSession, dir: String): Unit = {
    val (fs, lock) = hfs(spark, lockPath(dir))
    fs.delete(lock, false)
  }

  /** The atomic create-iff-absent primitive the whole lease protocol
    * rests on (r16 verdict #5): everything above it — acquire, the
    * takeover guard, the guard's own stale cleanup — assumes
    * `createExclusive` admits exactly ONE of N racing contenders.
    * Injectable because the guarantee is PER-STORE:
    *
    *  - HDFS: `create(overwrite = false)` is atomic at the NameNode —
    *    the default is hard.
    *  - local `file://`: Hadoop's create is exists-then-open (NOT
    *    atomic — IndexLockSpec's hammer caught 8/8 contenders
    *    entering); the default routes it through POSIX
    *    O_CREAT|O_EXCL, which is hard.
    *  - S3/GCS/ABFS via the stock connectors: create-exclusive is
    *    exists-then-PUT — ADVISORY only. A deployment with
    *    conditional writes (S3 `If-None-Match: *`, GCS
    *    `ifGenerationMatch=0`, ABFS ETag preconditions) should install
    *    a [[LockIo]] that issues the conditional PUT directly and
    *    treats a precondition failure as `false`, restoring the hard
    *    guarantee.
    *
    * [[NonAtomicLockIoSpec]] is the negative control: substituting a
    * deliberately non-atomic fake makes the acquire hammer admit
    * multiple writers — the contract, demonstrated by its absence. */
  private[graft] trait LockIo {
    /** Create `lock` holding `content` iff absent, atomically per the
      * store's guarantee. False when the lock already exists (or the
      * conditional write lost the race). */
    def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
                        lock: org.apache.hadoop.fs.Path,
                        content: String): Boolean
  }

  /** Deployment hook for [[LockIo]] — process-wide, set it once at
    * startup before any lifecycle verb runs. Defaults to
    * [[HadoopLockIo]] (hard on HDFS and local, advisory on stock
    * object-store connectors — see [[LockIo]]). */
  @volatile private[graft] var lockIo: LockIo = HadoopLockIo

  /** Default [[LockIo]]: POSIX O_CREAT|O_EXCL on `file://` (Hadoop's
    * local create is a non-atomic exists-then-open — caught red-handed
    * by IndexLockSpec's takeover hammer: 8 of 8 contenders entered),
    * Hadoop `create(overwrite = false)` everywhere else. */
  private[graft] object HadoopLockIo extends LockIo {
    def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
                        lock: org.apache.hadoop.fs.Path,
                        content: String): Boolean = {
      // a content-write failure AFTER the exclusive create must delete the
      // just-created file before surfacing (review r16 #3): an orphaned
      // empty lock with a fresh mtime and no heartbeat would block every
      // writer — including the failed contender's own retry — for a full
      // lease duration
      val isLocal = "file" == Option(fs.getUri).map(_.getScheme).orNull
      if (isLocal) {
        val f = new java.io.File(lock.toUri.getPath)
        Option(f.getParentFile).foreach(_.mkdirs())
        if (!f.createNewFile()) false
        else {
          try {
            val w = new java.io.FileWriter(f)
            try w.write(content) finally w.close()
            true
          } catch { case e: java.io.IOException => f.delete(); throw e }
        }
      } else {
        val created =
          try Some(fs.create(lock, false))
          catch { case _: java.io.IOException => None } // lost the create race
        created match {
          case None => false
          case Some(out) =>
            try { out.write(content.getBytes("UTF-8")); out.close(); true }
            catch { case e: java.io.IOException =>
              try fs.delete(lock, false)
              catch { case _: java.io.IOException => () }
              throw e
            }
        }
      }
    }
  }

  /** The byte-copy primitive compaction uses to carry UNTOUCHED cells
    * and small artifacts into a new generation —
    * injectable like [[LockIo]] because the COST model is
    * per-store (r20 review): the default streams bytes through the
    * driver (Hadoop `FileUtil.copy`, the only portable form) — honest
    * on local disk, but a data-plane corpus pass on object stores. A
    * deployment there installs a store-native SERVER-SIDE copy (S3
    * `CopyObject`, GCS `rewrite`, ABFS copy), making untouched-cell
    * carryover metadata-priced; PERF.md finding 41's numbers (the
    * deleted PtrSweep: `git show
    * 2672828:src/main/scala/graft/tools/PtrSweep.scala`) measure the
    * DEFAULT, i.e. the worst case. */
  private[graft] trait CopyIo {
    def copy(fs: org.apache.hadoop.fs.FileSystem,
             src: org.apache.hadoop.fs.Path,
             dst: org.apache.hadoop.fs.Path,
             conf: org.apache.hadoop.conf.Configuration): Unit
  }

  private[graft] object StreamingCopyIo extends CopyIo {
    def copy(fs: org.apache.hadoop.fs.FileSystem,
             src: org.apache.hadoop.fs.Path,
             dst: org.apache.hadoop.fs.Path,
             conf: org.apache.hadoop.conf.Configuration): Unit =
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
  }

  /** Deployment/test hook for [[CopyIo]] — process-wide. */
  @volatile private[graft] var copyIo: CopyIo = StreamingCopyIo

  /** The conditional-write primitive a deployment backs with its object
    * store's precondition API (r17 verdict #7): create the object at
    * `key` holding `content` iff nothing exists there, atomically per
    * the STORE's guarantee. Contract: return true iff THIS call created
    * the object, and the object must be readable at the same path
    * through the Hadoop FileSystem the verbs use (heartbeat mtime
    * touches and token reads go through `fs`, not the store adapter).
    *
    * Per-store guarantee matrix (public, documented semantics):
    *  - S3: `PutObject` with `If-None-Match: *` — HTTP 412 → false.
    *    Hard since S3 shipped conditional writes (2024); S3's strong
    *    read-after-write consistency makes the follow-up reads safe.
    *  - GCS: object insert with `ifGenerationMatch=0` — 412 → false.
    *    Hard; generation numbers make the precondition exact.
    *  - Azure Blob/ABFS: `Put Blob` with `If-None-Match: *` — 409/412
    *    → false. Hard via ETag preconditions.
    *  - HDFS/local: unnecessary — [[HadoopLockIo]] is already hard
    *    there (NameNode-atomic create / POSIX O_EXCL).
    *  - a store WITHOUT conditional writes: do not wrap it here; a
    *    plain PUT is last-writer-wins and [[NonAtomicLockIoSpec]]'s
    *    negative control shows exactly how that admits two writers —
    *    stay on the default advisory posture instead, which at least
    *    documents itself. */
  private[graft] trait ConditionalStore {
    def putIfAbsent(key: String, content: String): Boolean
  }

  /** [[LockIo]] over a [[ConditionalStore]]: restores the HARD
    * exclusive-create on object stores whose stock Hadoop connector
    * `create(overwrite = false)` is exists-then-PUT (advisory). Install
    * at startup: `IndexLifecycle.lockIo = new PreconditionLockIo(store)`.
    * The lease's guarantee is then EXACTLY the store's precondition
    * guarantee — IndexLockSpec proves the acquire hammer admits one
    * writer with an honoring store and multiple with a
    * precondition-violating one (both controls, same hammer). */
  private[graft] final class PreconditionLockIo(store: ConditionalStore)
    extends LockIo {
    def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
                        lock: org.apache.hadoop.fs.Path,
                        content: String): Boolean =
      store.putIfAbsent(lock.toString, content)
  }

  private def atomicCreateLock(fs: org.apache.hadoop.fs.FileSystem,
                               lock: org.apache.hadoop.fs.Path,
                               content: String): Boolean =
    lockIo.createExclusive(fs, lock, content)

  // ── generation roots ───────────────────────────────────────────────
  //
  // A root is never a parquet dir itself but a directory of IMMUTABLE
  // `gen-*` generations plus `commit-<seq>.<gen>` pointer files. Writers
  // publish a COMPLETE new generation (plain writes into a fresh dir —
  // no live data is ever renamed) and flip the pointer with ONE
  // conditional create through [[lockIo]] (the [[ConditionalStore]]
  // injection point: hard on HDFS/local by default, hard on object
  // stores once a [[PreconditionLockIo]] is installed); readers resolve
  // the highest committed generation before every read, under the
  // [[retryOnStaleFiles]]/[[requireSameWorld]] fences. The generation
  // name rides IN the commit FILENAME, so a commit is visible atomically
  // with its content — no reader can observe a half-written pointer.
  // Crash anywhere before the commit leaves an orphan generation that no
  // reader ever resolves (GC'd by the next successful flip); crash after
  // the commit leaves stale old generations (same). Exactly-one-world at
  // every instant, on every store, by construction — the Iceberg-style
  // metadata-commit shape, at generation granularity.
  //
  // SCOPE of that guarantee (r20 review): it covers every REPLACE. The
  // APPEND verbs add files inside the live generation through the
  // configured output committer: on a copy+delete store a crash mid
  // task-commit can leave a partial part-file, which parquet readers
  // reject LOUDLY (torn footer — never a silent wrong answer, but a
  // repair, not a self-heal). Deployments there pair the roots with a
  // store-native committer (e.g. the S3A committers, which upload
  // without rename); the protocol's own writes need no such pairing.
  //
  // Trades documented on the verbs: tombstone appends rewrite the
  // (compaction-bounded) backlog instead of appending one file, and
  // compaction is generation-granular — untouched cells carry over via
  // the injectable [[CopyIo]] (server-side on object stores once a
  // store-native copy is installed; driver-streamed by default) while
  // pressured cells rewrite through Spark.

  /** Marker file naming a generation root — it lives beside the
    * generations, so it survives every flip. Listings key on it: a
    * root's epoch is its commit files ([[epochEntries]]). */
  private[graft] val PointerMarker = "_GRAFT_PTR"

  /** Mark `path` as a generation root (idempotent). The dir must not
    * already hold other artifacts (an index directory laid out before
    * generation roots existed) — the marker would turn its files
    * invisible to resolution and strand them as a permanent leak (GC
    * only touches `gen-*` names); ENFORCED, not just documented (r20
    * review). Migration is a build into a NEW root plus a serving-path
    * switch, never an in-place marking. */
  private[graft] def initPointerRoot(spark: SparkSession, path: String): Unit = {
    val (fs, p) = hfs(spark, path)
    fs.mkdirs(p)
    val marker = new org.apache.hadoop.fs.Path(s"$path/$PointerMarker")
    if (!fs.exists(marker)) {
      val foreign = fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filterNot(n => n == PointerMarker || n.startsWith("commit-") ||
          n.startsWith("gen-") || n.contains(".__"))
      require(foreign.isEmpty,
        s"initPointerRoot: $path already holds non-generation artifacts " +
          s"(${foreign.take(5).mkString(", ")}) — marking it a generation " +
          "root would hide them from every reader without reclaiming them. " +
          "Migrate by building into a NEW root and switching the serving " +
          "path.")
      // through lockIo like the commits: no checksum sidecar lands in
      // the root, which holds only the marker, commits and generations
      lockIo.createExclusive(fs, marker, "")
    }
  }

  private def freshGenName(): String =
    s"gen-${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"

  private def commitFileName(seq: Long, gen: String): String =
    f"commit-$seq%012d.$gen"

  /** (seq, generation name) of every commit file under `root` —
    * resolution is ONE metadata LIST; the gen name is encoded in the
    * filename so no content read (and no half-written-content window)
    * exists. A missing root has no commits (a generation without a
    * tombstone set); every other IOException PROPAGATES (r20 review):
    * swallowing a transient store listing failure here made
    * [[resolvePointer]] return None and [[resolveIndexDir]] misdiagnose
    * a throttled LIST as "no committed generation — build first", a
    * protocol-shaped lie about index state; callers that are genuinely
    * best-effort ([[gcGenerations]]) catch at their own boundary. */
  private def listCommits(fs: org.apache.hadoop.fs.FileSystem,
                          root: String): Seq[(Long, String)] =
    (try fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
     catch { case _: java.io.FileNotFoundException => Nil })
      .map(_.getPath.getName)
      .filter(_.startsWith("commit-"))
      .flatMap { n =>
        val rest = n.stripPrefix("commit-")
        val dot = rest.indexOf('.')
        if (dot <= 0) None
        else scala.util.Try(
          (rest.substring(0, dot).toLong, rest.substring(dot + 1))).toOption
      }

  /** The currently-committed generation's PHYSICAL path under a
    * generation root, or None when nothing has committed yet. */
  private[graft] def resolvePointer(spark: SparkSession,
                                    root: String): Option[String] = {
    val (fs, _) = hfs(spark, root)
    listCommits(fs, root).sortBy(_._1).lastOption.map(c => s"$root/${c._2}")
  }

  /** Flip the root's pointer to `gen`: one conditional create of the
    * next-sequence commit file through [[lockIo]]. Callers fence with
    * [[requireLeaseStillHeld]] FIRST — the commit is the protocol's
    * one protocol-critical write. A
    * lost create race re-reads the sequence and retries; mutating verbs
    * are single-writer by contract, so contention here means a protocol
    * violation and fails loudly after bounded attempts. */
  private[graft] def commitGeneration(spark: SparkSession, root: String,
                                      gen: String): Unit = {
    val (fs, _) = hfs(spark, root)
    var attempts = 5
    while (attempts > 0) {
      val next = listCommits(fs, root).map(_._1).foldLeft(0L)(math.max) + 1L
      val cPath = new org.apache.hadoop.fs.Path(s"$root/${commitFileName(next, gen)}")
      if (lockIo.createExclusive(fs, cPath, s"$gen\n")) return
      attempts -= 1
    }
    throw new IllegalStateException(
      s"could not commit generation $gen at $root after 5 attempts — " +
        "racing commits on a single-writer root (another writer is " +
        "violating the lease protocol, or the store's conditional create " +
        "is reporting spurious conflicts)")
  }

  /** Best-effort GC after a successful flip: superseded commit files and
    * every `gen-*` entry the surviving commit does not reference (stale
    * worlds AND crash-orphaned never-committed writes) are deleted. A
    * lock-free reader mid-read on a deleted generation fails on the
    * missing path and re-resolves under [[retryOnStaleFiles]] (the path
    * is under the probed root, so the anchor matches). IOExceptions are
    * swallowed — the next flip retries the cleanup. GC runs inside the
    * root's lease (for the nested tombstone root, the index root's),
    * which serializes it against every writer of the root, so no
    * generation can be mid-write here. */
  private def gcGenerations(spark: SparkSession, root: String): Unit = {
    // a zombie that stalled past takeover aborts here instead of
    // deleting a generation the new holder is writing (ADVICE r21)
    requireLeaseStillHeld(spark, "generation GC sweep")
    val (fs, p) = hfs(spark, root)
    try {
      val commits = listCommits(fs, root)
      if (commits.isEmpty) return
      val maxSeq = commits.map(_._1).max
      val current = commits.find(_._1 == maxSeq).get._2
      commits.filter(_._1 < maxSeq).foreach { case (s, g) =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/${commitFileName(s, g)}"), false)
      }
      fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("gen-") && n != current)
        .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(s"$root/$n"), true))
    } catch { case _: java.io.IOException => () }
  }

  /** The committed generation of the index root `dir` — the physical
    * dir every reader and verb operates on. Every probe resolves INSIDE
    * its retry harness ([[fencedProbeResolved]]) so a concurrent flip
    * re-resolves; plan-snapshot consumers (streams) resolve once at plan
    * time and fail loudly on the flip, the rebuild contract. */
  private[graft] def resolveIndexDir(spark: SparkSession, dir: String): String =
    resolvePointer(spark, dir).getOrElse(throw new IllegalStateException(
      s"$dir holds no committed index generation — build it first " +
        "(Ivf.buildIndex / Quantize.buildPqIndex / Similarity.buildLshIndex)"))

  /** Write a complete new generation of `root` through `write`, fence,
    * commit, GC — the one replace step every verb shares. The caller
    * holds the root's lease (for the nested tombstone root, the index
    * root's). A crash or failure inside `write` leaves an orphan
    * generation no reader resolves, reclaimed by the next flip. */
  private def publishGeneration[T](spark: SparkSession, root: String,
                                   what: String)(write: String => T): T = {
    val gen = freshGenName()
    val out = write(s"$root/$gen")
    requireLeaseStillHeld(spark, s"generation commit ($what)")
    commitGeneration(spark, root, gen)
    gcGenerations(spark, root)
    out
  }

  /** Build an index at `root`: take the root's lease, mark it a
    * generation root, write a fresh generation through `write` and flip
    * the pointer — the body of every public build ([[Ivf.buildIndex]],
    * [[Quantize.buildPqIndex]], [[Similarity.buildLshIndex]]). Building
    * over a LIVE index is one atomic flip: the old generation keeps
    * serving, its tombstones included, until the commit, and keeps
    * serving if the build fails. The new generation carries no
    * tombstone set — a build defines a new world. */
  private[graft] def buildGeneration[T](spark: SparkSession, root: String,
                                        verb: String)(write: String => T): T =
    withIndexLock(spark, root, verb) {
      initPointerRoot(spark, root)
      publishGeneration(spark, root, verb)(write)
    }

  /** A takeover guard older than this is a crash leftover (the guard is
    * only ever held across two driver-side metadata calls — never Spark
    * work), so a contender may clear it. */
  private val TakeoverGuardStaleMs = 60000L

  /** One attempt to acquire `lock`'s takeover guard (the sibling
    * `.__takeover` file, atomic create via [[lockIo]]), clearing a
    * crash-stale guard first. Shared by the stale-lock takeover and
    * the fenced release — BOTH of the protocol's lock-path deletes
    * serialize through it, so neither can interleave with the other's
    * read/stat-then-delete. Returns true iff acquired; the caller must
    * delete the guard in `finally`. */
  private def tryTakeoverGuard(fs: org.apache.hadoop.fs.FileSystem,
                               lock: org.apache.hadoop.fs.Path,
                               who: String): Boolean = {
    val guard = new org.apache.hadoop.fs.Path(s"${lock.toString}.__takeover")
    val guardSt =
      try Some(fs.getFileStatus(guard))
      catch { case _: java.io.FileNotFoundException => None }
    guardSt.foreach { g =>
      if (System.currentTimeMillis() - g.getModificationTime > TakeoverGuardStaleMs) {
        // identity-checked delete: clearing a stale guard is itself
        // stat-then-delete, so re-stat and require the SAME mtime — a
        // fresh guard (mtime ≈ now) can never satisfy it, which closes
        // the one-level-down ABA to a sub-syscall window that also
        // requires a ≥60 s-stale guard precondition (review r16 #2)
        val again =
          try Some(fs.getFileStatus(guard))
          catch { case _: java.io.FileNotFoundException => None }
        if (again.exists(_.getModificationTime == g.getModificationTime))
          fs.delete(guard, false)
      }
    }
    atomicCreateLock(fs, guard, s"$who ${System.currentTimeMillis()}\n")
  }

  private def guardPath(lock: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(s"${lock.toString}.__takeover")

  /** Clear a STALE lock under the takeover guard — see the call site's
    * comment for why acting on the lock path directly is an ABA race. */
  private def takeoverStaleLock(fs: org.apache.hadoop.fs.FileSystem,
                                lock: org.apache.hadoop.fs.Path,
                                leaseMs: Long): Unit = {
    if (tryTakeoverGuard(fs, lock, "takeover")) {
      try {
        val still =
          try Some(fs.getFileStatus(lock))
          catch { case _: java.io.FileNotFoundException => None }
        if (still.exists(s =>
            System.currentTimeMillis() - s.getModificationTime > leaseMs))
          fs.delete(lock, false)
      } finally fs.delete(guardPath(lock), false)
    }
  }

  private def acquireLock(fs: org.apache.hadoop.fs.FileSystem,
                          lock: org.apache.hadoop.fs.Path,
                          verb: String, leaseMs: Long,
                          token: String): Unit = {
    var attempts = 3
    while (attempts > 0) {
      if (atomicCreateLock(fs, lock,
          s"$verb ${System.currentTimeMillis()} $token\n")) return
      else {
          val held =
            try Some(fs.getFileStatus(lock))
            catch { case _: java.io.FileNotFoundException => None }
          held match {
            case Some(st) =>
              val age = System.currentTimeMillis() - st.getModificationTime
              if (age > leaseMs) {
                // stale-lease takeover: the holder crashed mid-verb (a
                // healthy verb deletes its lock in finally, and a healthy
                // LIVE one heartbeats its mtime). The takeover must not
                // act directly on the lock path — stat-then-delete AND
                // stat-then-rename are both ABA races on the path: the
                // instrumented hammer caught a contender claiming away a
                // FRESH lock created between its stat and its act (two
                // live writers, the exact corruption the lease
                // prevents). Instead the takeover itself serializes
                // through a short-lived GUARD file (atomic create): a
                // fresh lock can only appear at an EMPTY path, and the
                // path only empties through the guarded delete below, so
                // the re-stat INSIDE the guard is race-free — a fresh
                // lock observed there is never deleted. The guard is
                // held across two metadata calls only; one older than
                // [[TakeoverGuardStaleMs]] is a crash leftover.
                takeoverStaleLock(fs, lock, leaseMs)
              } else {
                val holder = try {
                  val in = fs.open(lock)
                  val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                  in.close(); s
                } catch { case _: java.io.IOException => "unknown" }
                throw new IllegalStateException(
                  s"index writer lease $lock held by [$holder] for ${age} ms " +
                    s"(lease ${leaseMs} ms): lifecycle verbs are single-writer — " +
                    "retry after the holder finishes; takeover fires " +
                    "automatically once a crashed holder's lease goes stale")
              }
            case None => // released between the failed create and the stat — retry
          }
          attempts -= 1
      }
    }
    throw new IllegalStateException(
      s"could not acquire index writer lease $lock after 3 attempts " +
        "(lost every takeover race — concurrent writers are contending; " +
        "lifecycle verbs are single-writer by contract)")
  }

  /** Replace the parquet artifact at the generation root `path` with
    * `fresh`: one new generation, one fenced commit, GC — the
    * [[publishGeneration]] step for a single artifact (the nested
    * `deletes.parquet` root's rewrites). A crash before the commit
    * leaves an orphan generation no reader resolves; `fresh` may read
    * the committed generation it replaces (it is written elsewhere). */
  private[ops] def swapInParquet(spark: SparkSession, path: String)
                                (fresh: DataFrame): Unit =
    publishGeneration(spark, path, "artifact replace")(gen =>
      fresh.write.mode("overwrite").parquet(gen))

  /** The cell-layout data file under the generation `dir`, or None for
    * the LSH layout. */
  private def cellFileOf(spark: SparkSession, dir: String): Option[String] = {
    if (Ivf.layoutFileExists(spark, dir, "meta.parquet")) None
    else if (Ivf.layoutFileExists(spark, dir, "invfile.parquet")) Some("invfile.parquet")
    else if (Ivf.layoutFileExists(spark, dir, "codes.parquet")) Some("codes.parquet")
    else throw new IllegalArgumentException(
      s"$dir holds no recognized index layout (meta/invfile/codes)")
  }

  /** Count-gated semi/anti join of `table` against the removal-id frame —
    * broadcast under the gate, SHUFFLE_HASH past it (the
    * no-small-by-construction rule; same gate every bounded-structure
    * path in this repo uses). */
  private def idJoin(table: DataFrame, ids: DataFrame, idCol: String,
                     nIds: Long, limit: Long, joinType: String): DataFrame =
    if (nIds <= limit) table.join(broadcast(ids), Seq(idCol), joinType)
    else table.join(ids.hint("SHUFFLE_HASH"), Seq(idCol), joinType)

  /** The dir's pending tombstone set as a MATERIALIZED distinct frame,
    * or None when none exist — the one read path every tombstone
    * consumer shares ([[minusTombstones]], [[indexStats]],
    * [[compactIndex]]), so the backlog is loaded and counted ONCE per
    * caller. The set is the committed generation of the generation
    * `dir`'s nested `deletes.parquet` root. Readers are LOCK-FREE, so
    * the resolve-then-read can race a flip whose GC deletes the
    * resolved set (review r16): one failure re-resolves and retries, a
    * second failure is real. */
  private[graft] def loadTombstones(spark: SparkSession,
                                    dir: String): Option[DataFrame] = {
    def attempt(): Option[DataFrame] =
      resolvePointer(spark, s"$dir/deletes.parquet")
        .map(p => Tables.parquet(spark, p).distinct().localCheckpoint(true))
    try attempt()
    catch { case scala.util.control.NonFatal(_) => attempt() }
  }

  /** Serve the `deletes.parquet` tombstones OUT of `table` — the single
    * read-side filter behind tombstoned removal on EVERY layout
    * ([[Similarity.lshVectors]] for LSH; [[Ivf.cellSource]],
    * [[Ivf.probeIndex]], [[Quantize.probePqIndex]] and the rebuild
    * sources for the cell layouts). Count-gates the anti-join like
    * every bounded structure: broadcast under the gate, SHUFFLE_HASH
    * past it — the backlog is compaction-bounded, not assumed small. A
    * dir with no (or an empty) tombstone set passes through untouched. */
  private[graft] def minusTombstones(spark: SparkSession, dir: String,
                                     table: DataFrame, idCol: String,
                                     broadcastLimit: Long =
                                       Dedup.HotShingleBroadcastLimit): DataFrame =
    tombstoneFilter(spark, dir, idCol, broadcastLimit)(table)

  /** [[minusTombstones]] for several frames of one index: the set loads
    * and counts once, and the returned filter serves it out of each
    * frame it is applied to (a single-query probe's probed cells and
    * its never-short corpus). */
  private[graft] def tombstoneFilter(spark: SparkSession, dir: String,
                                     idCol: String,
                                     broadcastLimit: Long): DataFrame => DataFrame =
    loadTombstones(spark, dir) match {
      case None => identity
      case Some(del) =>
        val n = del.count()
        if (n == 0L) identity
        else idJoin(_, del.select(col(idCol)), idCol, n, broadcastLimit, "left_anti")
    }

  /** Run `body`, retrying when it fails on STALE FILE LISTINGS — the
    * transient failure mode of a lock-free reader racing maintenance:
    * a probe's plan resolves the index's file listing, a concurrent
    * [[compactIndex]]/[[rebuildIndex]] flip's GC deletes those files,
    * and the tasks throw FILE_NOT_EXIST / missing-path. The race is
    * transient BY CONSTRUCTION (a complete committed generation exists
    * at every instant), so re-running the body re-resolves a consistent
    * listing —
    * caught red-handed by ConcurrentServeSpec's probe-during-compaction
    * hammer, which fails without this. Serve probes wrap their WHOLE
    * body (model load + candidate recovery + ranking + never-short
    * gate all execute inside the call). Bounded attempts: a genuinely
    * missing dir still fails, just after the retries — but the budget
    * is PROGRESS-aware (r19): a failure after which the dir epoch has
    * advanced since the previous failure is keeping pace with a
    * multi-step verb on a slow host, not spinning, and draws from a
    * separate freeCap pool instead of the charged budget (see the
    * accounting comment in the body). The running-
    * STREAM loud-failure contract is untouched — streams don't pass
    * through here (their plan snapshot must fail, not self-heal).
    *
    * Missing-path matches are ANCHORED to the probed `dir` (ADVICE
    * r16): a probe body also scans OTHER tables (the query corpus, a
    * selector frame), and a genuinely missing path there is a caller
    * error, not a maintenance race — retrying it 4× would turn a typo
    * into 4 slow identical failures. Only failures naming a path under
    * `dir` (scheme-insensitively) are treated as transient; every
    * swallowed retry is logged so a repeatedly-racing probe is visible
    * rather than just slow. A genuinely missing INDEX dir still pays
    * the retries — indistinguishable from the race by message — which
    * the log line also surfaces.
    *
    * Anchoring escape hatch (ADVICE r17): some wrappers surface the
    * race with a NULL message or quote only a bare filename/relative
    * path, omitting the probed dir — a genuine maintenance race that
    * strict anchoring would fail on the FIRST attempt. A
    * FileNotFoundException anywhere in the cause chain whose messages
    * never name the dir gets exactly ONE fallback retry (not the full
    * budget — a typo'd OTHER path still fails fast, now after one
    * extra attempt), and the unmatched message is logged at WARN so
    * the anchor list can be tuned from field evidence. */
  private[graft] def retryOnStaleFiles[T](dir: String, attempts: Int = 4)
                                         (body: => T): T = {
    // anchor scheme-insensitively: the dir arrives as "/tmp/idx" or
    // "file:/tmp/idx" while Spark's task failures print "file:/tmp/idx/…"
    val needle = dir.stripPrefix("file:")
    def anchored(m: String): Boolean =
      m != null && (m.contains(dir) || m.contains(needle))
    def chainOf(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    def staleFileFailure(t: Throwable): Boolean =
      chainOf(t).exists {
        case _: WorldChangedException => true
        case e: java.io.FileNotFoundException => anchored(e.getMessage)
        case e =>
          val m = String.valueOf(e.getMessage)
          // FAILED_READ_FILE covers the NO_HINT variant too (r20, caught
          // by the compaction hammer in a full-suite run): a
          // reader mid-file when the flip's GC deletes it can surface a
          // generic read failure instead of FILE_NOT_EXIST — under the
          // probed dir that IS the maintenance race (and a genuinely
          // corrupt file stays loud: the bounded retry re-fails)
          (m.contains("FILE_NOT_EXIST") || m.contains("PATH_NOT_FOUND") ||
            m.contains("FAILED_READ_FILE") ||
            m.contains("does not exist")) && anchored(m)
      }
    def unanchoredFnfe(t: Throwable): Boolean =
      chainOf(t).exists(_.isInstanceOf[java.io.FileNotFoundException])
    // budget accounting is PROGRESS-aware (r18 verdict #1 hardening): a
    // failure after which the dir's epoch has CHANGED since the previous
    // failure means another maintenance mutation landed — the retry is
    // not spinning on one stuck state, it is keeping pace with a
    // multi-step verb (a compaction over k affected cells changes the
    // epoch k+ times; on a loaded host each slow probe body can straddle
    // a different step, and a FIXED budget conflates that steady
    // progress with futility). Progress failures draw from a separate
    // larger pool (freeCap bounds livelock against a pathological
    // always-mutating dir); only no-progress failures charge the
    // original budget. Epoch observation needs a session — absent one
    // (never the case on the driver probe paths), failures just charge.
    val freeCap = 12
    var charged = 0
    var free = 0
    var fallbackLeft = 1
    var lastEpoch: Option[Any] = None
    def epochNow(): Option[Any] =
      org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .flatMap(s => try Some(dirEpoch(s, dir)) catch {
          case scala.util.control.NonFatal(_) => None
        })
    while (true) {
      try return body
      catch {
        case scala.util.control.NonFatal(t) if staleFileFailure(t) =>
          val now = epochNow()
          val progressed =
            lastEpoch.isDefined && now.isDefined && now != lastEpoch
          if (now.isDefined) lastEpoch = now
          if (progressed && free < freeCap) {
            free += 1
            log.info(
              s"graft probe at $dir raced a NEWER maintenance mutation " +
                s"(epoch advanced since the last attempt) — free retry " +
                s"($free/$freeCap): " +
                String.valueOf(t.getMessage).linesIterator.take(1).mkString)
          } else if (charged < attempts - 1) {
            charged += 1
            log.info(
              s"graft probe at $dir hit a stale file listing (concurrent " +
                s"maintenance flip) — retrying ($charged/${attempts - 1}): " +
                String.valueOf(t.getMessage).linesIterator.take(1).mkString)
          } else throw t
        case scala.util.control.NonFatal(t)
            if charged < attempts - 1 && fallbackLeft > 0 && unanchoredFnfe(t) =>
          charged += 1; fallbackLeft -= 1
          log.warn(
            s"graft probe at $dir hit a FileNotFoundException whose message " +
              "does not name the probed dir — granting ONE fallback retry in " +
              "case a wrapper stripped the path from a maintenance race; if " +
              "this recurs, add its shape to the retryOnStaleFiles anchors: " +
              chainOf(t).map(e => String.valueOf(e.getMessage)
                .linesIterator.take(1).mkString).mkString(" <- "))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Thrown by [[requireSameWorld]]; recognized by [[retryOnStaleFiles]]. */
  private[graft] final class WorldChangedException(msg: String)
    extends java.io.IOException(msg)

  /** The dir's LIVE-artifact identity: (name, mtime, len) of its direct
    * children, lock names (`.__`) excluded. On a generation root it keys
    * on the COMMIT FILES (plus the marker) only
    * (r20 review): an uncommitted `gen-*` being written by a long
    * rebuild is staging too — including it would make every artifact
    * landing inside it bump the root listing and spuriously retry
    * lock-free probes for the whole build, burning the retry budget on
    * a world that never changed. Commit files are immutable once
    * created (the gen name rides in the filename), so the filtered
    * epoch changes exactly when the committed world does. The rule is
    * [[epochEntries]], shared verbatim with
    * [[tombstoneFreshnessGuard]]'s executor-side listing. */
  private[graft] def epochEntries(
      entries: Seq[(String, Long, Long)]): Seq[(String, Long, Long)] = {
    val base = entries.filterNot(_._1.contains(".__"))
    if (base.exists(_._1 == PointerMarker))
      base.filter(e => e._1.startsWith("commit-") || e._1 == PointerMarker)
        .sortBy(_._1)
    else base.sortBy(_._1)
  }

  /** The artifact stores appends legitimately mutate inside a LIVE
    * generation (LSH postings/vectors, the cell layouts' inverted file /
    * code table). Their churn is the benign-by-contract append class;
    * [[fencedProbeResolved]]'s generation-listing fence excludes them
    * (ADVICE r21) so sustained appends cannot exhaust a probe's retry
    * budget. Everything else in a generation is protocol-immutable. */
  private val AppendMutableStores =
    Set("postings.parquet", "vectors.parquet", "invfile.parquet", "codes.parquet")

  /** [[dirEpoch]] of a live GENERATION dir with the append-mutable
    * artifact stores excluded — both the capture and the re-listing side
    * of the fence go through this one definition. */
  private def genListingEpoch(spark: SparkSession,
                              dir: String): Seq[(String, Long, Long)] =
    dirEpoch(spark, dir).filterNot(e =>
      AppendMutableStores(e._1) ||
        AppendMutableStores.exists(a => e._1 == s".$a.crc"))

  private[graft] def dirEpoch(spark: SparkSession,
                              dir: String): Seq[(String, Long, Long)] = {
    val (fs, p) = hfs(spark, dir)
    try epochEntries(fs.listStatus(p).toSeq
      .map(s => (s.getPath.getName, s.getModificationTime, s.getLen)))
    catch { case _: java.io.IOException => Seq.empty }
  }

  /** SAME-WORLD fence for lock-free probes: a probe loads its driver
    * model and resolves its file listings in separate eager steps, so a
    * maintenance flip landing BETWEEN them hands the probe the old
    * quantizer over the new artifacts — a silently MIXED answer (the
    * reader-side twin of the "fresh centroids over a stale inverted
    * file" hazard the one-commit rebuild exists to prevent; caught by
    * ConcurrentServeSpec's rebuild hammer as a third answer world).
    * Probes capture [[dirEpoch]] first and call this LAST: a changed
    * epoch throws the retry-recognized [[WorldChangedException]], and
    * the re-run reads every artifact from the post-flip world. */
  private[graft] def requireSameWorld(spark: SparkSession, dir: String,
                                      epoch: Seq[(String, Long, Long)]): Unit =
    if (dirEpoch(spark, dir) != epoch)
      throw new WorldChangedException(
        s"$dir changed mid-probe (concurrent maintenance flip) — retrying " +
          "against the new world")

  /** 1-row static guard frame for STREAMING probes — the loud half of
    * the mid-stream tombstone contract (r17 verdict #2). A probe
    * stream's plan resolves `deletes.parquet` ONCE at construction
    * ([[loadTombstones]] materializes it), and a [[removeIds]] landing
    * while the stream runs touches no file that plan lists — formerly
    * the one SILENT member of the plan-snapshot family (appends are
    * silent but deterministic-by-contract; rebuilds fail loud on the
    * GC'd files). This frame closes the asymmetry: broadcast-joined
    * onto the stream side, it is re-EXECUTED every micro-batch (the
    * static side of a stream-static join re-evaluates per batch —
    * exactly the behavior the localCheckpoint notes elsewhere exist to
    * avoid, used deliberately here), re-lists the tombstone dir on an
    * executor, and THROWS when the listing differs from the plan-time
    * epoch — failing the query loudly instead of serving removed ids
    * until restart.
    *
    * The epoch must be captured BEFORE the caller resolves tombstones:
    * a remove landing between capture and resolve then trips one
    * conservative restart (whose fresh plan serves it) rather than ever
    * hiding. Listing semantics mirror [[dirEpoch]] exactly — commits
    * only, so an uncommitted tombstone generation does not fire the
    * guard before its flip lands; a missing dir is the empty epoch. Cost
    * per batch: one 1-task job + one filesystem LIST — measured in
    * LifecycleSweep's stream-guard row. */
  private[graft] def tombstoneFreshnessGuard(spark: SparkSession,
                                             dir: String): DataFrame = {
    val path = s"$dir/deletes.parquet"
    val expected = dirEpoch(spark, path)
    val getConf = org.apache.spark.sql.graft.HadoopConfShim
      .confGetter(spark.sparkContext)
    import spark.implicits._
    // explicitly ONE partition: a bare range(1) defaults to
    // defaultParallelism slices and the partition-open check would then
    // run one filesystem LIST per slice per micro-batch
    spark.range(0L, 1L, 1L, 1).mapPartitions { it =>
      val p = new org.apache.hadoop.fs.Path(path)
      // the SAME filtering rule as dirEpoch (epochEntries — commits-only
      // on a generation root), or the comparison below would flap
      val now =
        try IndexLifecycle.epochEntries(
          p.getFileSystem(getConf()).listStatus(p).toSeq
            .map(s => (s.getPath.getName, s.getModificationTime, s.getLen)))
        catch { case _: java.io.IOException => Seq.empty[(String, Long, Long)] }
      if (now != expected)
        throw new IllegalStateException(
          s"tombstone set at $path changed while this probe stream was " +
            "running (a removeIds/compaction landed mid-stream); the plan's " +
            "tombstone resolve is a plan-time snapshot — restart the stream " +
            "from a FRESH annProbeStream call to serve the current " +
            "tombstones (the expected epoch is captured at plan " +
            "construction, so re-starting the same retained DataFrame " +
            "would fail every first micro-batch against the stale epoch)")
      it.map(_ => 1)
    }.toDF("__tombstones_fresh")
  }

  /** The reader-side harness every lock-free serve probe runs in
    * (finding 34): capture the dir's [[dirEpoch]] BEFORE the first
    * artifact read, run the probe body (whose result must be
    * MATERIALIZED by the time it returns), fence with
    * [[requireSameWorld]] AFTER — all inside [[retryOnStaleFiles]], so
    * both failure modes of racing maintenance (loud stale listings,
    * silent mixed worlds) convert into a consistent re-run. Extracted
    * so the ordering invariant holds by construction instead of by
    * comment at five call sites. */
  private[graft] def fencedProbe[T](spark: SparkSession, dir: String)
                                   (body: => T): T =
    fencedProbeResolved(spark, dir)(_ => body)

  /** [[fencedProbe]] with generation resolution INSIDE the harness:
    * the body receives the physical dir (the committed generation).
    * Epoch captured on the ROOT before resolution — a flip landing between capture and the
    * body's reads changes the root listing (a new commit file), so the
    * post-body fence throws and the retry re-resolves against the new
    * world; a generation GC'd mid-read fails on the missing path, which
    * the retry anchor also matches (the generation lives under the
    * root). Every serve probe runs through this, which is what "readers
    * resolve the pointer before every probe under the existing fences"
    * means mechanically. */
  private[graft] def fencedProbeResolved[T](spark: SparkSession, dir: String)
                                           (body: String => T): T =
    retryOnStaleFiles(dir) {
      val epoch = dirEpoch(spark, dir)
      val phys = resolveIndexDir(spark, dir)
      // ADVICE r20 (medium): the commit-keyed root epoch is deliberately
      // blind to everything but flips — which made it blind to mutations
      // INSIDE the live generation too (an append's new files, a
      // removeIds/undeleteTombstones flip of the NESTED deletes.parquet
      // root). A probe racing an un-delete could
      // then serve a mixed world (pre-append data listing + post-undelete
      // tombstone set) with no retry — the finding-34 silent class. Two
      // fences close it, one per substrate signal (r21 review):
      //  - the TOMBSTONE epoch lists the nested deletes.parquet root,
      //    whose dirEpoch keys on immutable COMMIT FILE NAMES — valid on
      //    copy+delete object stores, where directory mtimes are
      //    synthetic and a child-mtime fence would silently pass;
      //  - the GENERATION listing fence additionally catches any direct-
      //    child churn on POSIX filesystems (parent-dir mtime bumps).
      // A mid-probe APPEND that the object-store arm cannot see stays
      // within the established plan-snapshot contract (postings-first /
      // parquet-loud — benign by construction); the tombstone flip, the
      // one mutation that can serve a STALE REMOVED id, is name-keyed on
      // both substrates. An uncommitted staging `gen-*` under the root
      // still never perturbs either fence — the no-spurious-retry goal of
      // the commits-only root epoch is preserved. Pinned by
      // ConcurrentServeSpec's mid-probe mutation tests.
      // ADVICE r21 (low): the generation listing excludes the
      // APPEND-MUTABLE artifact stores — their in-generation churn is
      // exactly the benign append class (postings-first orphan-drop,
      // parquet-loud torn part-files: the established append-visibility
      // contract), and fencing on them made every concurrent append a
      // WorldChangedException; under sustained append load a probe could
      // exhaust its bounded retry budget with no wrong-data mutation in
      // sight. Every mutation that CAN serve wrong data keeps a trigger:
      // the nested deletes.parquet root (its parent entry here AND the
      // name-keyed tombEpoch below), the quantizer/meta artifacts
      // (protocol-immutable inside a live generation — churn there is a
      // bug worth the loud retry), and every generation flip (the
      // commit-keyed root epoch). ConcurrentServeSpec pins both sides:
      // a mid-probe append does NOT trip the fence, a mid-probe
      // removeIds still does.
      val genEpoch = genListingEpoch(spark, phys)
      val tombEpoch = dirEpoch(spark, s"$phys/deletes.parquet")
      val out = body(phys)
      requireSameWorld(spark, dir, epoch)
      if (genListingEpoch(spark, phys) != genEpoch)
        throw new WorldChangedException(
          s"$phys changed mid-probe (concurrent maintenance flip) — " +
            "retrying against the new world")
      requireSameWorld(spark, s"$phys/deletes.parquet", tombEpoch)
      out
    }

  /** Drop `batchIds` from the pending tombstone set — the re-insert
    * contract every append owes ([[Similarity.appendLshIndex]]'s rule,
    * extended to the cell layouts once they gained tombstoned removal):
    * appending an id that was tombstoned un-deletes it, else the append
    * lands physically but every probe keeps filtering it out until
    * compaction. Tombstone-sized (the set is compaction-bounded), via a
    * generation flip of the set — taken ONLY when the batch actually
    * intersects it (review r18): an unconditional rewrite changes the
    * `deletes.parquet` listing on every append over a non-empty backlog,
    * and the [[tombstoneFreshnessGuard]] would then kill a
    * running probe stream on an append of brand-new ids — exactly the
    * silent append-between-micro-batches contract appends are pinned to
    * keep. An append that DOES un-delete must still trip the guard: the
    * plan's stale tombstone filter would wrongly keep serving that id
    * out. */
  private[graft] def undeleteTombstones(spark: SparkSession, dir: String,
                                        batchIds: DataFrame,
                                        idCol: String): Unit =
    resolvePointer(spark, s"$dir/deletes.parquet").foreach { p =>
      val deletes = Tables.parquet(spark, p)
      if (deletes.join(batchIds.select(col(idCol)), Seq(idCol), "left_semi")
          .limit(1).count() > 0L)
        swapInParquet(spark, s"$dir/deletes.parquet")(
          deletes.join(batchIds.select(col(idCol)), Seq(idCol), "left_anti"))
    }

  /** Remove `ids` rows from the index at `dir` (FAISS `remove_ids`).
    * Every layout first appends the ids to the tombstone set, which
    * every probe path serves out ([[minusTombstones]]), so probes serve
    * the post-removal set immediately — modulo the running-stream
    * plan-snapshot contract ([[graft.streaming.Streaming
    * .annProbeStream]]): a stream RUNNING when a remove lands fails
    * LOUDLY on its next micro-batch ([[tombstoneFreshnessGuard]] sees
    * the `deletes.parquet` change, matching the rebuild contract);
    * restart to serve the removal. Spec-pinned by StreamingSpec's
    * loud-or-fresh test. Removing an id that is not in the index is a
    * no-op, as in FAISS.
    *
    * `tombstone = false` (the default) then applies the removal on a
    * cell layout physically at once: a generation compaction that
    * rewrites only the cells holding tombstoned ids (the file-count
    * bound is not applied) and carries every other cell over, so no
    * tombstone stays in the read path. `tombstone = true` leaves the
    * batch in the backlog and defers the rewrite to the [[compactIndex]]
    * cadence — the SCATTERED-batch remedy (r15 verdict #3): a scattered
    * batch touches min(batch, cells) cells, so rewriting them at once
    * degenerates toward a full-index rewrite at scale, where the
    * tombstone append costs O(backlog) whatever the cells touched. The
    * LSH layout ALWAYS tombstones: its postings are range-sorted by
    * (table, bucket), not id-clustered, so a physical remove is the
    * wholesale rewrite compaction does. `idBroadcastLimit` gates the
    * id joins of that immediate rewrite (broadcast under it,
    * SHUFFLE_HASH past it).
    *
    * Mutating verb: serializes through the dir's single-writer lease
    * ([[withIndexLock]]) — fails loudly if another writer holds it. */
  def removeIds(spark: SparkSession, dir: String, ids: DataFrame,
                idCol: String,
                idBroadcastLimit: Long = Dedup.HotShingleBroadcastLimit,
                tombstone: Boolean = false): Unit =
    withIndexLock(spark, dir, "removeIds") {
      val phys = resolveIndexDir(spark, dir)
      appendTombstones(spark, phys, ids, idCol)
      if (!tombstone && cellFileOf(spark, phys).isDefined)
        compactIndexInner(spark, dir, Int.MaxValue, idBroadcastLimit)
    }

  /** Append the batch to the generation `dir`'s tombstone set. The set
    * is a nested generation root, so every change rewrites the whole
    * (compaction-bounded) backlog into a new generation and flips —
    * O(backlog) instead of O(batch), the price of one protocol for the
    * append, the un-delete rewrite and the compaction clear alike. The
    * freshness guard fires on the commit. */
  private def appendTombstones(spark: SparkSession, dir: String,
                               ids: DataFrame, idCol: String): Unit = {
    val path = s"$dir/deletes.parquet"
    initPointerRoot(spark, path)
    val batch = ids.select(col(idCol)).distinct()
    val all = resolvePointer(spark, path)
      .map(p => Tables.parquet(spark, p).select(col(idCol)).union(batch).distinct())
      .getOrElse(batch)
    swapInParquet(spark, path)(all)
  }

  /** Compact the index at `dir` into a FRESH generation and flip.
    * Repeated [[Ivf.appendIndex]]-family appends accumulate one file
    * batch per touched cell per append — the classic small-file hazard
    * that turns a 100 TB scan into metadata torture — and removals
    * accumulate a tombstone backlog. Cell layouts rewrite through Spark
    * only the cells whose file count exceeds `maxFilesPerCell` or that
    * hold tombstoned ids (hash-repartitioned by cell, so each rewritten
    * cell lands as ONE file; a cell left empty is simply absent from the
    * new generation); every untouched cell directory and every small
    * artifact (model, meta, buildinfo, books) carries over via the
    * injectable [[CopyIo]] — server-side (metadata-priced) on object
    * stores once a store-native copy is installed, a driver-streamed
    * byte copy by default (finding 41: 21.1 s at x400 locally). The LSH
    * layout rewrites postings + vectors wholesale — its postings are not
    * id-clustered, so compaction doubles as the physical application of
    * the tombstones; the rewrite preserves the build's (table, bucket)
    * range-sort so row-group pruning survives. LSH compaction costs one
    * pass over the index (no signatures recompute); run it on the
    * append/remove cadence, not per call.
    *
    * The new generation carries NO tombstone set: the flip IS the
    * backlog clear, atomic with the rewrite by construction. A cell
    * index with nothing to rewrite never churns generations.
    *
    * Mutating verb: serializes through the dir's single-writer lease
    * ([[withIndexLock]]) — fails loudly if another writer holds it. */
  def compactIndex(spark: SparkSession, dir: String,
                   maxFilesPerCell: Int = 4): Unit =
    withIndexLock(spark, dir, "compactIndex") {
      compactIndexInner(spark, dir, maxFilesPerCell,
        Dedup.HotShingleBroadcastLimit)
    }

  // private[graft]: verb composition (removeIds, maintainIndex) + the
  // zombie fence specs, which drive this body directly under a
  // test-held lease (the public verb acquires its own)
  private[graft] def compactIndexInner(spark: SparkSession, root: String,
                                       maxFilesPerCell: Int,
                                       idBroadcastLimit: Long): Unit = {
    val phys = resolveIndexDir(spark, root)
    val (fs, _) = hfs(spark, root)
    val conf = spark.sparkContext.hadoopConfiguration
    def copyInto(srcPath: String, dstPath: String): Unit =
      copyIo.copy(fs, new org.apache.hadoop.fs.Path(srcPath),
        new org.apache.hadoop.fs.Path(dstPath), conf)
    // small artifacts = every direct child except the rewritten data
    // set and the tombstone set (cleared by the flip)
    def copySmallArtifacts(genPath: String, exclude: Set[String]): Unit =
      fs.listStatus(new org.apache.hadoop.fs.Path(phys)).toSeq
        .map(_.getPath.getName)
        .filterNot(exclude)
        .foreach(n => copyInto(s"$phys/$n", s"$genPath/$n"))
    cellFileOf(spark, phys) match {
      case None =>
        // LSH: compaction is wholesale by construction and never gated
        // on pressure (a direct compact is how duplicate postings die)
        val del = loadTombstones(spark, phys).filter(_.count() > 0L)
        def minusDeletes(df: DataFrame, idCol: String): DataFrame =
          del.fold(df)(d =>
            df.join(d.select(col(idCol)).hint("SHUFFLE_HASH"),
              Seq(idCol), "left_anti"))
        // the postings' id column name = the vectors' non-vector column
        // (the build wrote both from the same (idCol, vecCol) selection)
        val idCol = Tables.parquet(spark, s"$phys/postings.parquet").columns
          .filterNot(Set("table", "bucket")).head
        publishGeneration(spark, root, "compaction") { genPath =>
          minusDeletes(Tables.parquet(spark, s"$phys/postings.parquet"), idCol)
            // retried torn appends bake exact-duplicate (table, bucket,
            // id) rows — candidate dedup absorbs them per probe,
            // compaction is where they physically die (indexStats'
            // postings_dup_fraction returns to 0 here)
            .distinct()
            .repartitionByRange(col("table"), col("bucket"))
            .sortWithinPartitions("table", "bucket")
            .write.mode("overwrite").parquet(s"$genPath/postings.parquet")
          // a FULLY-retried append duplicates vectors rows too — exact-
          // row distinct is result-preserving by construction (the same
          // id with a DIFFERENT vector keeps both rows)
          minusDeletes(Tables.parquet(spark, s"$phys/vectors.parquet"), idCol)
            .distinct()
            .write.mode("overwrite").parquet(s"$genPath/vectors.parquet")
          copySmallArtifacts(genPath,
            Set("postings.parquet", "vectors.parquet", "deletes.parquet"))
        }
      case Some(file) =>
        val dataRoot = new org.apache.hadoop.fs.Path(s"$phys/$file")
        val cellDirs = fs.listStatus(dataRoot).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
        val heavy = cellDirs
          .filter(s => fs.listStatus(s.getPath)
            .count(f => f.getPath.getName.startsWith("part-")) > maxFilesPerCell)
          .map(_.getPath.getName.stripPrefix("cell=").toInt)
        // counted ONCE (the loadTombstones contract) — both idJoin gates
        // below read the same n
        val del: Option[(DataFrame, Long)] =
          loadTombstones(spark, phys).map(d => (d, d.count()))
            .filter(_._2 > 0L)
        val table = Tables.parquet(spark, s"$phys/$file")
        val affected: Seq[Int] = del match {
          case Some((d, n)) =>
            idJoin(table, d, d.columns.head, n, idBroadcastLimit, "left_semi")
              .select("cell").distinct().collect().map(_.getInt(0)).toSeq
          case None => Nil
        }
        val rewrite = (heavy ++ affected).distinct
        if (rewrite.isEmpty) {
          // no pressure and no tombstoned id matches a row: a remaining
          // tombstone set (committed-empty after re-appends, or ids the
          // index never held) filters nothing but still taxes every probe
          // with loadTombstones' read+distinct+checkpoint job — drop it
          // in place instead of churning a generation (r20 review)
          if (fs.exists(new org.apache.hadoop.fs.Path(s"$phys/deletes.parquet"))) {
            requireLeaseStillHeld(spark, "tombstone-root drop (compaction)")
            dropTombstonePointerRoot(spark, phys)
          }
          return
        }
        val base = table.filter(col("cell").isin(rewrite.map(Integer.valueOf): _*))
        publishGeneration(spark, root, "compaction") { genPath =>
          del.fold(base) { case (d, n) =>
              idJoin(base, d, d.columns.head, n, idBroadcastLimit, "left_anti") }
            .repartition(col("cell"))
            .write.mode("overwrite")
            .partitionBy("cell").parquet(s"$genPath/$file")
          // untouched cells COPY (no Spark job; a rewritten-empty cell
          // just isn't in the new data set)
          val rewriteSet = rewrite.toSet
          cellDirs
            .filterNot(s =>
              rewriteSet(s.getPath.getName.stripPrefix("cell=").toInt))
            .foreach(s =>
              copyInto(s.getPath.toString, s"$genPath/$file/${s.getPath.getName}"))
          copySmallArtifacts(genPath, Set(file, "deletes.parquet"))
        }
    }
  }

  /** Remove a nested tombstone root whose committed set the caller
    * verified filters nothing (empty, or holding no id the index holds).
    * Deletion order makes every crash window consistent: commits go
    * OLDEST-first (intermediate states resolve to the newest = the
    * verified set, then to none — never to an older one), then the
    * generations, the marker last; a crash anywhere leaves "the verified
    * set or no tombstones", both correct. Caller holds the lease and
    * fences first. */
  private def dropTombstonePointerRoot(spark: SparkSession, dir: String): Unit = {
    val rootPath = s"$dir/deletes.parquet"
    val (fs, root) = hfs(spark, rootPath)
    listCommits(fs, rootPath).sortBy(_._1).foreach { case (s, g) =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$rootPath/${commitFileName(s, g)}"), false)
    }
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("gen-"))
      .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(s"$rootPath/$n"), true))
    fs.delete(new org.apache.hadoop.fs.Path(s"$rootPath/$PointerMarker"), false)
    fs.delete(root, true)
  }

  /** One-row operational readout of a serve index — the numbers the
    * lifecycle policies act on, none of which a probe surfaces:
    *
    *  - `appended_fraction` = (live − built) / live, from the build-time
    *    row count the builds persist (`buildinfo.parquet`). Finding 29's
    *    retrain policy keys on THIS number (rebuild around ~0.5 for
    *    recall-sensitive serving; resize cells/nprobe first) — without
    *    the readout the policy is unactionable. NULL on dirs built
    *    before the counter existed. Negative growth (removals) clamps
    *    to 0: the fraction measures growth since training, and removed
    *    rows were assigned under the live quantizer either way.
    *  - `max_files_per_cell` — the small-file pressure [[compactIndex]]
    *    exists to relieve (its `maxFilesPerCell` bound compares against
    *    exactly this). For the LSH layout: file count of the postings
    *    set, which LSH compaction rewrites wholesale.
    *  - `tombstones` — the [[removeIds]] backlog a compaction would
    *    apply physically (the LSH layout always tombstones; cell
    *    layouts carry one only under `removeIds(tombstone = true)` —
    *    their default removes compact at once, backlog 0).
    *  - `postings_dup_fraction` (LSH only; NULL on cell layouts) —
    *    duplicate postings rows as a fraction of the postings table:
    *    1 − distinct(table, bucket, id) / count. Retried torn appends
    *    bake exact-duplicate postings rows ([[Similarity
    *    .appendLshIndex]] lands postings first, so a crash-then-retry
    *    re-posts the batch); candidate dedup absorbs them CORRECTLY
    *    but every probe's candidate volume inflates by the fraction
    *    forever — [[maintainIndex]] thresholds it so repeated retries
    *    eventually trigger the compaction that rewrites postings
    *    distinct (r17 verdict #5).
    *
    * `live_rows`/`cells` are distributed aggregates; the file-count walk
    * is driver-side filesystem METADATA, bounded by the cell count ×
    * compaction cadence — never by corpus rows. */
  def indexStats(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val dir = resolveIndexDir(spark, root)
    val built: Option[Long] =
      if (Ivf.layoutFileExists(spark, dir, "buildinfo.parquet"))
        Some(Tables.parquet(spark, s"$dir/buildinfo.parquet")
          .head().getAs[Long]("built_rows"))
      else None
    val (layout, live, cells, maxFiles, tombstones, dupFrac) = cellFileOf(spark, dir) match {
      case Some(file) =>
        // cell layouts can now carry a tombstone backlog too (removeIds
        // tombstone = true): live_rows serves it OUT, mirroring the LSH
        // arm, so the maintenance fraction compares the backlog against
        // the index a compaction would actually rewrite. ONE load of the
        // tombstone frame feeds both the count and the filter.
        val raw = Tables.parquet(spark, s"$dir/$file")
        val (table, tomb) = loadTombstones(spark, dir) match {
          case Some(del) =>
            val n = del.count()
            val idCol = del.columns.head
            (if (n == 0L) raw
             else idJoin(raw, del.select(col(idCol)), idCol, n,
               Dedup.HotShingleBroadcastLimit, "left_anti"),
              n)
          case None => (raw, 0L)
        }
        val agg = table.agg(count(lit(1)), countDistinct(col("cell"))).head()
        val (fs, root) = hfs(spark, s"$dir/$file")
        val mf = fs.listStatus(root).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
          .map(s => fs.listStatus(s.getPath)
            .count(f => f.getPath.getName.startsWith("part-")))
          .foldLeft(0)(math.max)
        (if (file == "invfile.parquet") "ivf" else "pq",
          agg.getLong(0), agg.getLong(1), mf, tomb, None: Option[Double])
      case None =>
        val idCol = Tables.parquet(spark, s"$dir/postings.parquet").columns
          .filterNot(Set("table", "bucket")).head
        val live = Similarity.lshVectors(spark, dir, idCol).count()
        // one pass over postings feeds all three counts; countDistinct
        // over the FULL row (table, bucket, id) is what a retried append
        // duplicates exactly
        val pAgg = Tables.parquet(spark, s"$dir/postings.parquet")
          .agg(count(lit(1)), countDistinct(col("table"), col("bucket")),
            countDistinct(col("table"), col("bucket"), col(idCol))).head()
        val buckets = pAgg.getLong(1)
        val dup: Option[Double] = Some(
          if (pAgg.getLong(0) == 0L) 0.0
          else (pAgg.getLong(0) - pAgg.getLong(2)).toDouble / pAgg.getLong(0))
        val (fs, root) = hfs(spark, s"$dir/postings.parquet")
        val mf = fs.listStatus(root)
          .count(f => f.getPath.getName.startsWith("part-"))
        // the shared loader, not a hand-rolled read: loadTombstones
        // retries the race against a concurrent compaction's backlog
        // clear that a bare exists-then-read would throw on (review r16)
        val tomb = loadTombstones(spark, dir).fold(0L)(_.count())
        ("lsh", live, buckets, mf, tomb, dup)
    }
    val frac: Option[Double] = built.map { b =>
      if (live <= 0L) 0.0
      else math.max(0.0, (live - b).toDouble / live)
    }
    Seq((layout, live, built, frac.map(f => math.rint(f * 10000) / 10000),
        cells, maxFiles, tombstones,
        dupFrac.map(f => math.rint(f * 10000) / 10000)))
      .toDF("layout", "live_rows", "built_rows", "appended_fraction",
        "cells", "max_files_per_cell", "tombstones", "postings_dup_fraction")
  }

  /** Retrain the index at `dir` from its OWN persisted rows — the
    * finding-29 remedy, completing the lifecycle verb set (build / probe
    * / append / remove / compact / REBUILD). Appends assign under the
    * stale quantizer (FAISS `add()` semantics); once `indexStats`'
    * `appended_fraction` crosses the policy threshold (~0.5 per the
    * PERF finding 29 measurement, the deleted DriftAb:
    * `git show 2262a09:src/main/scala/graft/tools/DriftAb.scala` — resize
    * cells/nprobe first, the bigger lever),
    * this rebuilds with FRESH corpus-sized training:
    *
    *  - every layout is self-contained — the cell layouts store raw
    *    vectors beside cells/codes (the [[Quantize.buildPqIndex]]
    *    rationale: on Spark the index is a cell-clustered REWRITE of the
    *    corpus, not a RAM copy), and the LSH layout's `vectors.parquet`
    *    is the corpus scan — so no caller-side corpus frame is needed,
    *    exactly like FAISS retraining from a reconstructible index;
    *  - LSH "training" is the occupancy SIZING (planes/tables from the
    *    live row count) — the one lifecycle step [[Similarity
    *    .appendLshIndex]] must not do (it would shear bucket spaces) and
    *    a rebuild is precisely allowed to; pending tombstones apply
    *    physically on every layout (the sources read through
    *    [[minusTombstones]]); the persisted dim/seed carry over;
    *  - every build parameter defaults to the value PERSISTED at build
    *    time (`buildinfo.parquet` — ADVICE r14): a policy-triggered
    *    rebuild of an index built with nprobe=8 / seed=7 / baseTables=12
    *    keeps that geometry instead of silently re-sizing cells under
    *    nprobe=4 and reseeding KMeans at 42. Pass `Some(...)` to
    *    deliberately change a parameter; a pre-params dir (no such
    *    buildinfo column) falls back to the build functions' defaults;
    *  - PQ rebuilds re-request the persisted REQUESTED codebook size,
    *    re-clamped by [[Quantize.buildPqIndex]] against the LIVE row
    *    count — so a codebook that trained clamped on a tiny corpus
    *    grows back once the corpus has. Only on a pre-params dir does
    *    the fallback reuse the TRAINED (clamp-shrunk) size from
    *    `books.parquet`, which never grows back; m falls back to the
    *    trained subspace count, which equals the request always.
    *
    * The rebuilt index lands in a fresh generation while the live one
    * keeps serving, then ONE commit flips every artifact at once —
    * fresh centroids never meet a stale inverted file, and a rebuild
    * that fails or crashes leaves the old generation serving.
    * A RUNNING probe stream's plan snapshot (the append-visibility
    * contract, StreamingSpec) points at the old generation's files,
    * which the flip's GC deletes, so it fails LOUDLY on its next
    * micro-batch rather than serving anything stale — restart the
    * stream to serve the rebuilt index, the same restart rule appends
    * already require, enforced by failure instead of staleness. Run
    * rebuilds on the maintenance cadence, quiesce streams first.
    *
    * Mutating verb: serializes through the dir's single-writer lease
    * ([[withIndexLock]]) — fails loudly if another writer holds it. The
    * lease keeps a concurrent append from landing in the generation
    * the flip supersedes (the batch would be lost with it). */
  def rebuildIndex(spark: SparkSession, dir: String,
                   nprobe: Option[Int] = None,
                   seed: Option[Long] = None,
                   maxIter: Option[Int] = None,
                   lshBaseTables: Option[Int] = None,
                   pqM: Option[Int] = None,
                   pqCodebookSize: Option[Int] = None): Unit =
    withIndexLock(spark, dir, "rebuildIndex") {
      rebuildIndexInner(spark, dir, nprobe, seed, maxIter, lshBaseTables,
        pqM, pqCodebookSize)
    }

  private def rebuildIndexInner(spark: SparkSession, dir: String,
                                nprobe: Option[Int],
                                seed: Option[Long],
                                maxIter: Option[Int],
                                lshBaseTables: Option[Int],
                                pqM: Option[Int],
                                pqCodebookSize: Option[Int]): Unit = {
    // sources read from the live generation throughout
    val src = resolveIndexDir(spark, dir)
    // persisted build parameters (buildinfo.parquet): caller override >
    // persisted > build-function default. Columns are probed by name so
    // pre-params dirs (built before the columns existed) keep working.
    val info: Map[String, Any] =
      if (Ivf.layoutFileExists(spark, src, "buildinfo.parquet")) {
        val r = Tables.parquet(spark, s"$src/buildinfo.parquet").head()
        r.schema.fieldNames.map(f => f -> r.get(r.fieldIndex(f))).toMap
      } else Map.empty
    def pLong(name: String): Option[Long] = info.get(name).collect {
      case l: java.lang.Long => l.longValue
      case i: java.lang.Integer => i.longValue
    }
    def pInt(name: String): Option[Int] = pLong(name).map(_.toInt)
    def pDouble(name: String): Option[Double] = info.get(name).collect {
      case d: java.lang.Double => d.doubleValue
    }
    val rNprobe = nprobe.orElse(pInt("nprobe")).getOrElse(4)
    val rSeed = seed.orElse(pLong("seed")).getOrElse(42L)
    val rMaxIter = maxIter.orElse(pInt("max_iter")).getOrElse(10)
    val rHier = pInt("hierarchical_threshold")
      .getOrElse(Dedup.HierarchicalCellsThreshold)
    // (idCol, vecCol) inferred from the persisted schema: the vector is
    // the array field, the id the remaining non-layout column
    def inferCols(df: DataFrame): (String, String) = {
      val layout = Set("cell", "code", "table", "bucket")
      val fields = df.schema.fields.filterNot(f => layout(f.name))
      val vec = fields.collectFirst {
        case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => f.name
      }.getOrElse(throw new IllegalArgumentException(
        s"$dir: no array column to rebuild from (${df.columns.mkString(",")})"))
      (fields.map(_.name).filterNot(_ == vec).head, vec)
    }
    publishGeneration(spark, dir, "rebuild") { gen =>
      cellFileOf(spark, src) match {
        case None =>
          val meta = Tables.parquet(spark, s"$src/meta.parquet").head()
          val (idCol, vecCol) =
            inferCols(Tables.parquet(spark, s"$src/vectors.parquet"))
          Similarity.writeLshIndex(
            Similarity.lshVectors(spark, src, idCol).select(idCol, vecCol),
            idCol, vecCol, gen,
            baseTables = lshBaseTables.orElse(pInt("base_tables")).getOrElse(8),
            dim = meta.getAs[Int]("dim"),
            seed = seed.getOrElse(meta.getAs[Long]("seed")))
        case Some("invfile.parquet") =>
          val raw = Tables.parquet(spark, s"$src/invfile.parquet")
          val (idCol, vecCol) = inferCols(raw)
          Ivf.writeIndex(minusTombstones(spark, src, raw, idCol).select(idCol, vecCol),
            idCol, vecCol, gen,
            nprobe = rNprobe, seed = rSeed, maxIter = rMaxIter,
            sampleFraction = pDouble("sample_fraction").getOrElse(1.0),
            hierarchicalThreshold = rHier)
        case Some(_) =>
          val raw = Tables.parquet(spark, s"$src/codes.parquet")
          val (idCol, vecCol) = inferCols(raw)
          // trained-geometry fallback for pre-params dirs only: m
          // (subspace count) is never clamped, so countDistinct(j) ==
          // the request; countDistinct(c) is the clamp-SHRUNK codebook —
          // see scaladoc
          lazy val books = Tables.parquet(spark, s"$src/books.parquet")
            .agg(countDistinct(col("j")), countDistinct(col("c"))).head()
          Quantize.writePqIndex(minusTombstones(spark, src, raw, idCol).select(idCol, vecCol),
            idCol, vecCol, gen,
            nprobe = rNprobe,
            m = pqM.orElse(pInt("m")).getOrElse(books.getLong(0).toInt),
            codebookSize = pqCodebookSize.orElse(pInt("codebook_size"))
              .getOrElse(books.getLong(1).toInt),
            seed = rSeed,
            trainSampleRows = pLong("train_sample_rows").getOrElse(16384L),
            hierarchicalThreshold = rHier)
      }
      ()
    }
  }

  /** One maintenance pass: read [[indexStats]], take the ONE action the
    * readout calls for, in severity order — rebuild beats compact
    * because a rebuild subsumes compaction (fresh single-batch
    * artifacts), so compacting first would pay the rewrite twice:
    *
    *  1. `appended_fraction` ≥ `rebuildAt` → [[rebuildIndex]] (the
    *     finding-29 drift policy; ~0.5 per that finding's measurement —
    *     resize cells/nprobe first if recall is the binding concern,
    *     that lever is per-probe and free);
    *  2. small-file pressure — cell layouts: any cell over
    *     `maxFilesPerCell`; LSH: postings files over
    *     `lshMaxPostingsFiles` (a SEPARATE, larger bound: the LSH file
    *     count baseline is the build's write parallelism, not 1 — a
    *     per-cell-sized bound would fire right after a healthy build
    *     and, because LSH compaction rewrites wholesale back to
    *     parallelism-many files, never reach the fixpoint; keep the
    *     bound above `spark.sql.shuffle.partitions`) — or a
    *     tombstone backlog (LSH always; cell layouts under
    *     `removeIds(tombstone = true)`, thresholded IDENTICALLY) at
    *     `tombstones ≥ max(minTombstoneBacklog, tombstoneFraction ·
    *     live_rows)` → [[compactIndex]]. The backlog is THRESHOLDED
    *     (r14 verdict #2): LSH compaction is a wholesale
    *     postings+vectors rewrite, so firing on ANY tombstone makes one
    *     removed id cost a corpus-sized rewrite on the next pass — the
    *     exact rewrite amplification the per-cell bound avoids on cell
    *     layouts. Below the threshold the backlog just keeps being
    *     served out of every probe ([[Similarity.lshVectors]]) at
    *     O(tombstones) anti-join cost — the Lucene/Delta
    *     deletion-vector cadence (rewrite when deletes reach a fraction
    *     of the segment, not per delete) — or duplicate-postings
    *     pressure (LSH only, r17 verdict #5): `postings_dup_fraction >
    *     maxDuplicateFraction` (strict — at 0 this reads "compact on
    *     any duplicate" and a clean index can never fire) →
    *     [[compactIndex]], whose postings
    *     distinct() resets it to 0. Fractional for the same
    *     rewrite-amplification reason as the tombstone rule: below the
    *     threshold, per-probe candidate dedup absorbs the duplicates at
    *     O(duplicates) cost;
    *  3. otherwise no-op.
    *
    * Returns the action taken (`"rebuild" | "compact" | "none"`) so a
    * scheduler can log/alert on it. One action per pass, idempotent at
    * the fixpoint: a second pass right after returns `"none"` (rebuild
    * resets the fraction, compaction clears files + tombstones). A dir
    * built before `buildinfo.parquet` existed has no fraction — rule 1
    * is skipped rather than guessed (the indexStats NULL contract).
    *
    * Mutating verb: the single-writer lease ([[withIndexLock]]) is held
    * across the WHOLE read-stats-then-act pass, which closes the TOCTOU
    * the unlocked shape had (an append landing between the [[indexStats]]
    * read and the action made the decision stale — benign for one
    * idempotent pass, but the lease makes the readout the verb acts on
    * exact: no writer can move the numbers mid-pass). */
  def maintainIndex(spark: SparkSession, dir: String,
                    rebuildAt: Double = 0.5,
                    maxFilesPerCell: Int = 4,
                    lshMaxPostingsFiles: Int = 256,
                    minTombstoneBacklog: Long = 64L,
                    tombstoneFraction: Double = 0.1,
                    maxDuplicateFraction: Double = 0.25): String =
    withIndexLock(spark, dir, "maintainIndex") {
      maintainIndexInner(spark, dir, rebuildAt, maxFilesPerCell,
        lshMaxPostingsFiles, minTombstoneBacklog, tombstoneFraction,
        maxDuplicateFraction)
    }

  private def maintainIndexInner(spark: SparkSession, dir: String,
                                 rebuildAt: Double,
                                 maxFilesPerCell: Int,
                                 lshMaxPostingsFiles: Int,
                                 minTombstoneBacklog: Long,
                                 tombstoneFraction: Double,
                                 maxDuplicateFraction: Double): String = {
    val s = indexStats(spark, dir).head()
    val isLsh = s.getAs[String]("layout") == "lsh"
    val frac = Option(s.getAs[java.lang.Double]("appended_fraction"))
      .map(_.doubleValue)
    val filePressure =
      if (isLsh) s.getAs[Int]("max_files_per_cell") > lshMaxPostingsFiles
      else s.getAs[Int]("max_files_per_cell") > maxFilesPerCell
    // live_rows already serves tombstones OUT, so the fraction compares
    // the backlog against the index a compaction would actually rewrite
    val tombstonePressure = s.getAs[Long]("tombstones") >= math.max(
      minTombstoneBacklog,
      math.ceil(tombstoneFraction * s.getAs[Long]("live_rows")).toLong)
    // duplicate-postings pressure (LSH only; r17 verdict #5): retried
    // torn appends inflate every probe's candidate volume by the
    // fraction — fractional like the tombstone rule (firing on ANY
    // duplicate would make one retry cost a wholesale rewrite), and
    // compaction's distinct() resets it to 0
    // strict >: threshold 0 means "compact on ANY duplicate" while a
    // clean index (fraction 0) can never fire — a >= rule at 0 would
    // compact every pass forever
    val dupPressure = Option(
        s.getAs[java.lang.Double]("postings_dup_fraction"))
      .exists(_.doubleValue > maxDuplicateFraction)
    if (frac.exists(_ >= rebuildAt)) {
      // inner verbs: the lease is already held (re-acquiring would
      // self-deadlock on our own lock file)
      rebuildIndexInner(spark, dir, None, None, None, None, None, None)
      "rebuild"
    } else if (filePressure || tombstonePressure || dupPressure) {
      compactIndexInner(spark, dir, maxFilesPerCell,
        Dedup.HotShingleBroadcastLimit)
      "compact"
    } else "none"
  }
}
