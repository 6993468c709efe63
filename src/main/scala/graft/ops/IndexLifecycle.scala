package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Remove + compaction + rebuild for the materialized ANN serve
  * indexes — the lifecycle verbs [[Ivf.buildIndex]]/
  * [[Quantize.buildPqIndex]]/[[Similarity.buildLshIndex]] + their
  * appends were missing (the FAISS `remove_ids` analog, the small-file
  * maintenance every append-accumulating 100 TB layout eventually
  * needs, and the retrain [[rebuildIndex]] finding 29's drift policy
  * acts through).
  *
  * Layout dispatch mirrors [[Ivf.cellSource]]: an LSH dir carries
  * `meta.parquet` + id-only postings; the cell layouts carry a
  * cell-PARTITIONED `invfile.parquet`/`codes.parquet`.
  *
  * Removal strategy differs by layout because the physical clustering
  * differs:
  *  - CELL layouts: physical, immediate — a dynamic-partition OVERWRITE
  *    of only the cells that actually hold removed ids (probes are
  *    untouched: no tombstone ever enters the read path). Cells left
  *    empty have their directories deleted explicitly — dynamic
  *    overwrite only replaces partitions PRESENT in the written data,
  *    so an emptied cell would otherwise keep its stale files.
  *    `removeIds(tombstone = true)` opts a cell layout into the LSH
  *    deletion-vector regime instead — the SCATTERED-batch remedy
  *    (r15 verdict #3): a scattered batch's physical remove touches
  *    min(batch, cells) cell directories, degenerating toward a
  *    full-index rewrite at scale, where the tombstone append is
  *    O(batch) flat and the rewrite defers to the compaction cadence.
  *  - LSH layout: postings are range-sorted by (table, bucket), not
  *    id-clustered, so a physical remove would rewrite the whole
  *    postings set per call. Removal instead APPENDS the ids to a
  *    `deletes.parquet` tombstone set — O(removed) per call — which
  *    every LSH probe path anti-joins out of the vectors side
  *    ([[Similarity.lshVectors]]); [[compactIndex]] applies tombstones
  *    physically and clears them, bounding the tombstone set by the
  *    compaction cadence (the Lucene/Delta deletion-vector shape).
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
    * it over as crashed. The crash-safety protocols make a takeover
    * SAFE at any point (either-old-or-new, never mixed), so the lease
    * duration only trades "how long a crashed writer blocks maintenance"
    * against "how long the longest healthy verb runs" — size it above
    * the latter (a corpus-scale rebuild), never below. */
  val DefaultLeaseMs: Long = 60L * 60L * 1000L

  private[graft] def lockPath(dir: String): String = s"$dir.__lock"

  /** The acquired lease this thread currently holds (innermost when
    * verbs nest — a rebuild's inner build leases its staging dir):
    * (lock path, fencing token). Lets the protocol-critical renames
    * re-verify the lease without threading the token through every
    * signature; `None` outside any lease (direct [[swapInParquet]]
    * callers, tests) skips the fence. */
  private val currentLease =
    new scala.util.DynamicVariable[Option[(String, String)]](None)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Acquire the index dir's single-WRITER lease, run `body`, release.
    *
    * The crash-safe rename protocols ([[swapInParquet]], [[rebuildIndex]]'s
    * whole-dir swap) promise either-old-or-new against a CRASH, not
    * against a concurrent second WRITER: a scheduled [[maintainIndex]]
    * racing an append on the same dir could interleave the renames (an
    * append's `mode("append")` landing between a rebuild's two renames
    * goes to a freshly-promoted dir or is lost with `__old`). Every
    * mutating verb — the appends ([[Ivf.appendIndex]],
    * [[Quantize.appendPqIndex]], [[Similarity.appendLshIndex]]),
    * [[removeIds]], [[compactIndex]], [[rebuildIndex]],
    * [[maintainIndex]] — serializes through this lease instead; a verb
    * arriving while another writer holds it FAILS LOUDLY (retry on the
    * caller's schedule) rather than corrupting.
    *
    * Mechanics: a sibling `dir.__lock` file created atomically (via the
    * injectable [[LockIo]] primitive — POSIX O_EXCL locally, Hadoop
    * `create(overwrite = false)` elsewhere; the sibling placement
    * survives [[rebuildIndex]]'s whole-dir swap, which renames `dir`
    * itself), holding `"verb timestamp token"` where the token is this
    * acquisition's unique FENCING identity. A holder that crashed
    * mid-verb leaves the lock behind; a contender takes a lease older
    * than `leaseMs` over (delete + re-create, with the atomic create
    * arbitrating racing contenders) and the verb's own entry recovery
    * heals whatever the crash tore. Release is identity-checked against
    * the token ([[releaseLock]]): a holder that stalled past takeover
    * and resumes cannot delete the new holder's lock, and the
    * protocol-critical renames re-verify the token first
    * ([[requireLeaseStillHeld]]) so the zombie aborts loudly instead of
    * interleaving its swap with the live writer's. Best-effort by
    * construction (object stores without atomic create weaken it to
    * advisory — see [[LockIo]] for restoring the hard guarantee via
    * conditional writes), which is the contract: the lease prevents the
    * OPERATIONAL race; crash-consistency never depended on it.
    *
    * READERS never take the lease — probes stay lock-free and self-heal
    * torn states via [[recoverSwap]]/[[recoverIndexDir]]; the writer-side
    * rename protocols tolerate a reader's concurrent recovery promoting
    * their finished artifact first (see [[swapInParquet]]).
    *
    * The lease RENEWS while the verb runs (a daemon heartbeat re-touches
    * the lock's mtime every leaseMs/4): a healthy verb that outlives the
    * lease duration — a corpus-scale rebuild on a bad day — is never
    * taken over mid-run; takeover only ever fires on a holder that
    * stopped heartbeating (crashed, or a hung JVM whose writes would
    * land on recovery-protected rename protocols anyway). Renewal is
    * best-effort like the lease itself: a store without setTimes just
    * degrades to the fixed-duration lease. */
  private[graft] def withIndexLock[T](spark: SparkSession, dir: String,
                                      verb: String,
                                      leaseMs: Long = DefaultLeaseMs,
                                      heartbeat: Boolean = true)(body: => T): T = {
    val (fs, lock) = hfs(spark, lockPath(dir))
    // the FENCING TOKEN (r16 verdict #1): release and the
    // protocol-critical renames identity-check against it, so a holder
    // that stalled past takeover and RESUMES (a zombie) can neither
    // delete the new holder's lock nor land its swap renames
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
    * pre-rename [[requireLeaseStillHeld]] fence bounds. An unreadable
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

  /** Re-verify, immediately before a protocol-critical rename or a
    * live-artifact overwrite, that the innermost lease this thread
    * acquired is STILL ours — the fencing check that shrinks the
    * zombie-write window from "whole verb" to "between this check and
    * the write". A verb that stalled past takeover fails here LOUDLY
    * instead of interleaving its writes with the new holder's. Checked
    * before both swap protocols' renames, the physical cell-partition
    * overwrites ([[removeIdsInner]], [[compactIndexInner]]), the
    * appends, the emptied-cell dir deletes, and the tombstone
    * appends/clears. `action` names the destructive write being fenced
    * (ADVICE r17: a zombie abort diagnosing as "rename" when it was
    * fencing a tombstone clear sent the reader to the wrong protocol).
    * No-op outside a lease (direct swap callers and readers are not
    * fenced — their protocols are crash-safe without it). */
  private[graft] def requireLeaseStillHeld(
      spark: SparkSession,
      action: String = "protocol-critical rename"): Unit =
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
    * (marker-gated fixtures, rebuild staging dirs, sweep tools): a
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

  /** The rename primitive both swap protocols (file-level
    * [[swapInParquet]]/[[recoverSwap]], whole-dir [[rebuildIndex]]/
    * [[recoverIndexDir]]) stand on — injectable so the ATOMICITY
    * assumption is a tested contract, not a comment (r18 verdict #5;
    * the [[LockIo]] treatment applied to the other filesystem
    * primitive the protocols trust).
    *
    * Per-store guarantee matrix (public, documented semantics):
    *  - HDFS: NameNode-atomic metadata move — the protocol's
    *    assumption holds as stated.
    *  - local (`file://`): POSIX `rename(2)` — atomic; Hadoop's
    *    RawLocalFileSystem delegates to it for same-volume moves (the
    *    swap siblings `x.__compact`/`x.__old` are same-directory by
    *    construction, so the fallback copy path never engages).
    *  - S3A/GCS/ABFS stock connectors: "rename" is COPY-then-DELETE —
    *    NOT atomic. A crash tears it mid-copy, and even a successful
    *    one exposes windows where source and destination are both
    *    visible or the source is partially deleted. The swap
    *    protocol's reader guarantee ("a complete artifact set at
    *    every instant") does NOT survive this: NonAtomicRenameSpec is
    *    the negative control showing a reader observing a TORN world
    *    under a copy+delete fake — crucially, a torn LIVE path that
    *    still exists looks healthy to [[recoverSwap]] (which keys on
    *    live-missing) and serves silently-partial data. On such
    *    stores, do not run the in-place lifecycle verbs against the
    *    store directly: either mount a rename-atomic layer, or use
    *    POINTER MODE (r20 — [[initPointerRoot]]/[[buildIndexGeneration]]
    *    and the generation machinery below): every verb then publishes
    *    an immutable new generation and flips a commit pointer via one
    *    conditional create, never renaming live data at all —
    *    NonAtomicRenameSpec re-runs its four torn-rename scenarios in
    *    pointer mode and reads exactly one world in each. */
  private[graft] trait RenameIo {
    def rename(fs: org.apache.hadoop.fs.FileSystem,
               src: org.apache.hadoop.fs.Path,
               dst: org.apache.hadoop.fs.Path): Boolean
  }

  /** Default [[RenameIo]]: the Hadoop filesystem's own rename (atomic
    * on HDFS/local — see the matrix on [[RenameIo]]). */
  private[graft] object HadoopRenameIo extends RenameIo {
    def rename(fs: org.apache.hadoop.fs.FileSystem,
               src: org.apache.hadoop.fs.Path,
               dst: org.apache.hadoop.fs.Path): Boolean = fs.rename(src, dst)
  }

  /** Deployment/test hook for [[RenameIo]] — process-wide, the
    * [[lockIo]] posture. */
  @volatile private[graft] var renameIo: RenameIo = HadoopRenameIo

  /** The byte-copy primitive pointer-mode compaction uses to carry
    * UNTOUCHED cells and small artifacts into a new generation —
    * injectable like [[LockIo]]/[[RenameIo]] because the COST model is
    * per-store (r20 review): the default streams bytes through the
    * driver (Hadoop `FileUtil.copy`, the only portable form) — honest
    * on local disk, but a data-plane corpus pass on object stores. A
    * deployment there installs a store-native SERVER-SIDE copy (S3
    * `CopyObject`, GCS `rewrite`, ABFS copy), making untouched-cell
    * carryover metadata-priced; PtrSweep's numbers (PERF.md finding 41)
    * measure the DEFAULT, i.e. the worst case. */
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

  private def swapRename(fs: org.apache.hadoop.fs.FileSystem,
                         src: org.apache.hadoop.fs.Path,
                         dst: org.apache.hadoop.fs.Path): Boolean =
    renameIo.rename(fs, src, dst)

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

  // ── pointer-flip generations (copy+delete object stores) ───────────
  //
  // The in-place swap protocols rename LIVE artifacts, and on stores
  // whose rename is copy-then-delete (stock S3A/GCS/ABFS connectors) a
  // torn rename serves silently PARTIAL data — demonstrated, not
  // guessed (NonAtomicRenameSpec's two broken rows; the RenameIo
  // matrix). Pointer mode is the supported alternative the matrix
  // prescribes (r19 verdict #1): a pointer-mode root is never a parquet
  // dir itself but a directory of IMMUTABLE `gen-*` generations plus
  // `commit-<seq>.<gen>` pointer files. Writers publish a COMPLETE new
  // generation (plain writes into a fresh dir — no live data is ever
  // renamed) and flip the pointer with ONE conditional create through
  // [[lockIo]] (the [[ConditionalStore]] injection point: hard on
  // HDFS/local by default, hard on object stores once a
  // [[PreconditionLockIo]] is installed); readers resolve the highest
  // committed generation before every read, under the existing
  // [[retryOnStaleFiles]]/[[requireSameWorld]] fences. The generation
  // name rides IN the commit FILENAME, so a commit is visible atomically
  // with its content — no reader can observe a half-written pointer.
  // Crash anywhere before the commit leaves an orphan generation that no
  // reader ever resolves (GC'd by the next successful flip); crash after
  // the commit leaves stale old generations (same). Exactly-one-world at
  // every instant, on every store, by construction — the Iceberg-style
  // metadata-commit shape, at generation granularity.
  //
  // SCOPE of that guarantee (r20 review): it covers every REPLACE the
  // protocol itself performs — the operations that were rename-swaps in
  // place. The APPEND verbs still add files inside the live generation
  // through the configured output committer, exactly as they do on
  // plain dirs: on a copy+delete store a crash mid task-commit can
  // leave a partial part-file, which parquet readers reject LOUDLY
  // (torn footer — never a silent wrong answer, but a repair, not a
  // self-heal). Deployments there pair pointer mode with a store-native
  // committer (e.g. the S3A committers, which upload without rename);
  // the protocol's own writes need no such pairing.
  //
  // Opt-in per ROOT via the [[PointerMarker]] file ([[initPointerRoot]]
  // / [[buildIndexGeneration]]); everything else auto-detects. Trades
  // documented on the verbs: pointer-mode removal always tombstones
  // (dynamic partition overwrite is rename-based), tombstone appends
  // rewrite the (compaction-bounded) backlog instead of appending one
  // file, and compaction is generation-granular — untouched cells carry
  // over via the injectable [[CopyIo]] (server-side on object stores
  // once a store-native copy is installed; driver-streamed by default)
  // while pressured cells rewrite through Spark.

  /** Marker file naming a pointer-mode root. Its PRESENCE is the mode
    * switch — per-dir, persisted, survives every flip (it lives beside
    * the generations, not inside them). */
  private[graft] val PointerMarker = "_GRAFT_PTR"

  private[graft] def isPointerRoot(spark: SparkSession, path: String): Boolean = {
    val (fs, _) = hfs(spark, path)
    fs.exists(new org.apache.hadoop.fs.Path(s"$path/$PointerMarker"))
  }

  /** Mark `path` as a pointer-mode root (idempotent). The root must not
    * already hold a plain parquet artifact — the marker would turn its
    * files invisible to resolution — ENFORCED, not just documented (r20
    * review): marking a LIVE plain index would blind every probe for
    * the duration of the first generation build (an outage) and strand
    * the old artifacts as an invisible permanent leak (GC only touches
    * `gen-*` names). Migration is a build into a NEW root plus a
    * serving-path switch, never an in-place marking. */
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
          s"(${foreign.take(5).mkString(", ")}) — marking it pointer-mode " +
          "would hide them from every reader without reclaiming them. " +
          "Migrate by building into a NEW pointer root and switching the " +
          "serving path.")
      fs.create(marker, true).close()
    }
  }

  private def freshGenName(): String =
    s"gen-${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"

  private def commitFileName(seq: Long, gen: String): String =
    f"commit-$seq%012d.$gen"

  /** (seq, generation name) of every commit file under `root` —
    * resolution is ONE metadata LIST; the gen name is encoded in the
    * filename so no content read (and no half-written-content window)
    * exists. IOExceptions PROPAGATE (r20 review): swallowing a
    * transient store listing failure here made [[resolvePointer]]
    * return None and [[resolveIndexDir]] misdiagnose a throttled LIST
    * as "no committed generation — build first", a protocol-shaped lie
    * about index state; callers that are genuinely best-effort
    * ([[gcGenerations]]) catch at their own boundary. */
  private def listCommits(fs: org.apache.hadoop.fs.FileSystem,
                          root: String): Seq[(Long, String)] =
    fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
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
    * pointer-mode root, or None when nothing has committed yet. */
  private[graft] def resolvePointer(spark: SparkSession,
                                    root: String): Option[String] = {
    val (fs, _) = hfs(spark, root)
    listCommits(fs, root).sortBy(_._1).lastOption.map(c => s"$root/${c._2}")
  }

  /** Flip the root's pointer to `gen`: one conditional create of the
    * next-sequence commit file through [[lockIo]]. Callers fence with
    * [[requireLeaseStillHeld]] FIRST — the commit is the pointer mode's
    * one protocol-critical write (the analog of the swap renames). A
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
    * every generation the surviving commit does not reference (stale
    * worlds AND crash-orphaned never-committed writes) are deleted. A
    * lock-free reader mid-read on a deleted generation fails on the
    * missing path and re-resolves under [[retryOnStaleFiles]] (the path
    * is under the probed root, so the anchor matches). IOExceptions are
    * swallowed — the next flip retries the cleanup. */
  private def gcGenerations(spark: SparkSession, root: String): Unit = {
    // ADVICE r21, scoped to what the call graph actually guarantees: a
    // LEASED caller (every mutating verb) re-verifies its lease here in
    // CODE before the sweep — a zombie that stalled past takeover aborts
    // loudly instead of deleting a lock/staging dir the new holder
    // legitimately owns. Unleased callers exist by contract
    // (swapInParquet's direct-use arm, whose protocols are crash-safe
    // without fencing — e.g. the nested deletes.parquet root swap in
    // specs), so the fence is the lease-aware requireLeaseStillHeld,
    // not a hard "must hold a lease" require.
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
      val names = fs.listStatus(p).toSeq.map(_.getPath.getName)
      val stale = names
        .filter(n => n.startsWith("gen-") && !n.contains(".__") && n != current)
      stale.foreach(n =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/$n"), true))
      // ADVICE r20 (low): a build that crashed inside buildIndexGeneration/
      // rebuildIndex leaves the generation's sibling `gen-*.__lock` (and,
      // if it crashed mid-takeover, `gen-*.__lock.__takeover`) behind, and
      // nothing else ever reclaims them (every other sweep skips `.__`
      // names) — one leaked file per crash, forever. A lock/guard whose
      // generation is not the CURRENT one can never be legitimately held
      // while gc runs: gc only executes inside the root lease, which
      // serializes it against every builder (an in-flight build holds the
      // root lease too, so no staging generation can be mid-build here —
      // the sweep above deletes non-current staging dirs for the same
      // reason). Reclaim every gen lock/guard except the current
      // generation's.
      names.filter(n => n.startsWith("gen-") &&
          (n.endsWith(".__lock") || n.endsWith(".__lock.__takeover")))
        .filterNot(n => n.stripSuffix(".__takeover")
          .stripSuffix(".__lock") == current)
        .foreach(n =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$root/$n"), false))
    } catch { case _: java.io.IOException => () }
  }

  /** The physical dir a reader/verb operates on: the committed
    * generation under a pointer-mode root, the dir itself otherwise.
    * Every probe resolves INSIDE its retry harness
    * ([[fencedProbeResolved]]) so a concurrent flip re-resolves; plan-
    * snapshot consumers (streams) resolve once at plan time and fail
    * loudly on the flip, the rebuild contract. */
  private[graft] def resolveIndexDir(spark: SparkSession, dir: String): String =
    if (isPointerRoot(spark, dir))
      resolvePointer(spark, dir).getOrElse(throw new IllegalStateException(
        s"$dir is a pointer-mode index root with no committed generation — " +
          "build into it first (IndexLifecycle.buildIndexGeneration)"))
    else dir

  /** Loud guard for the build functions: writing a plain index's
    * artifacts INTO a pointer-mode root would land them beside the
    * generations where no resolution ever reads them (and a later flip's
    * GC would not touch them) — a silently dead build. Pointer-mode
    * builds go through [[buildIndexGeneration]]. */
  private[graft] def requireNotPointerRoot(spark: SparkSession, dir: String,
                                           op: String): Unit =
    require(!isPointerRoot(spark, dir),
      s"$op: $dir is a pointer-mode index root — direct builds write " +
        "artifacts beside the generations, where no reader resolves them. " +
        "Build through IndexLifecycle.buildIndexGeneration(spark, dir) " +
        "{ gen => ... } instead.")

  /** Build an index into a pointer-mode root: run `build` against a
    * fresh generation path, then flip the pointer — the pointer-mode
    * counterpart of calling a build function on a plain dir (which the
    * builds themselves REJECT on a marked root: writing artifacts beside
    * the generations would corrupt resolution). Usage:
    * {{{
    * IndexLifecycle.buildIndexGeneration(spark, root) { gen =>
    *   Ivf.buildIndex(emb, "id", "vec", gen)
    * }
    * }}}
    * Holds the root's single-writer lease across build + flip (the inner
    * build takes its own lease on the generation path — a sibling lock
    * under the root, never the root's own). Idempotent against crashes:
    * a failed build leaves an orphan generation no reader resolves. */
  def buildIndexGeneration(spark: SparkSession, root: String)
                          (build: String => Unit): Unit =
    withIndexLock(spark, root, "buildGeneration") {
      initPointerRoot(spark, root)
      val gen = freshGenName()
      build(s"$root/$gen")
      requireLeaseStillHeld(spark, "generation pointer commit (build)")
      commitGeneration(spark, root, gen)
      gcGenerations(spark, root)
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

  /** Crash-safe parquet replace: write `fresh` to `path.__compact`, then
    * rename-swap (live → `.__old`, `.__compact` → live, drop `.__old`).
    * A crash at any point leaves either the old or the new file set
    * RECOVERABLE — never a half-written live target, which a plain
    * mode("overwrite") of the SAME path cannot promise (overwrite deletes
    * the target before writing). Shared by [[compactIndex]]'s LSH arm and
    * [[Similarity.appendLshIndex]]'s tombstone un-delete (ADVICE r14: the
    * in-place rewrite there could silently drop ALL pending tombstones on
    * a crash, resurrecting removed ids on every probe). Writing to a
    * sibling path also breaks the read-from-overwrite-target cycle, so no
    * localCheckpoint materialization is needed.
    *
    * The two renames leave a window where the LIVE path is missing — for
    * most artifacts that is LOUD (a probe's scan fails on the missing
    * path, the rebuild posture), but for `deletes.parquet` a missing
    * file reads as "no tombstones": silent resurrection. [[recoverSwap]]
    * closes that window: every reader of a swappable artifact calls it
    * first, and it completes or rolls back an interrupted swap from the
    * sibling dirs (the new set if its [[SwapOkMarker]] landed, else the
    * old). Completeness is a GRAFT-OWNED marker written after the
    * parquet write (ADVICE r15: keying on the committer's `_SUCCESS`
    * silently rolls every interrupted swap back to the old set on
    * deployments that disable `mapreduce.fileoutputcommitter
    * .marksuccessfuljobs` — never corrupt, but always-old); recovery
    * still honors a legacy `_SUCCESS` for swaps torn before the marker
    * existed. Rename return values are CHECKED — a false-returning
    * rename (object stores, permission races) must not silently no-op
    * the swap and then delete the old set — with ONE tolerated failure:
    * a concurrent READER's [[recoverSwap]] landing in the legitimate
    * between-renames window sees live missing + the marker present and
    * promotes the new set itself (ADVICE r15), so a failed second
    * rename whose outcome is already "tmp gone, live present" is that
    * reader finishing our swap, not an error. */
  private[ops] def swapInParquet(spark: SparkSession, path: String)
                                (fresh: DataFrame): Unit = {
    // pointer-mode artifact roots replace by GENERATION FLIP — no rename
    // of live data ever happens, which is what makes this arm safe on
    // copy+delete stores (the RenameIo matrix's prescription; the rename
    // arm below is for rename-atomic stores). Same fence discipline: the
    // commit is the one protocol-critical write.
    if (isPointerRoot(spark, path)) {
      val (fs, _) = hfs(spark, path)
      val gen = freshGenName()
      val genPath = s"$path/$gen"
      fresh.write.mode("overwrite").parquet(genPath)
      fs.create(new org.apache.hadoop.fs.Path(s"$genPath/$SwapOkMarker"), true)
        .close()
      requireLeaseStillHeld(spark, "generation pointer commit (artifact swap)")
      commitGeneration(spark, path, gen)
      gcGenerations(spark, path)
      return
    }
    recoverSwap(spark, path)
    val (fs, live) = hfs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(s"$path.__compact")
    val old = new org.apache.hadoop.fs.Path(s"$path.__old")
    fs.delete(tmp, true); fs.delete(old, true)
    fresh.write.mode("overwrite").parquet(tmp.toString)
    fs.create(new org.apache.hadoop.fs.Path(s"$tmp/$SwapOkMarker"), true).close()
    // fencing check (r16 verdict #1): a verb that stalled past takeover
    // must not land its renames under the NEW holder's feet
    requireLeaseStillHeld(spark, "artifact swap rename")
    require(swapRename(fs, live, old), s"swap: rename $live -> $old failed")
    val renamed =
      try swapRename(fs, tmp, live)
      catch { case _: java.io.FileNotFoundException => false }
    if (!renamed) {
      // tolerated iff another party (a reader's recovery) already
      // promoted the COMPLETE new set; anything else preserves the old
      require(!fs.exists(tmp) && fs.exists(live),
        s"swap: rename $tmp -> $live failed (old set preserved at $old)")
    }
    fs.delete(old, true)
  }

  /** Graft-owned completeness marker written inside `path.__compact`
    * after the parquet write, before the renames — the swap-level
    * analog of [[RebuildOkMarker]] (ADVICE r15: do not key recovery on
    * the Hadoop committer's `_SUCCESS`, which deployments can disable).
    * Survives into the live path after promotion (harmless: parquet
    * reads ignore underscore-prefixed files). */
  private[graft] val SwapOkMarker = "_GRAFT_SWAP_OK"

  /** Complete or roll back a [[swapInParquet]] interrupted between its
    * two renames: if the live path is missing, restore it from
    * `path.__compact` when that write COMPLETED ([[SwapOkMarker]] — or
    * the legacy `_SUCCESS` for pre-marker swaps — present: the new set
    * is the truth the crash interrupted publishing), else from
    * `path.__old` (the old set; "either the old or the new set",
    * never neither). A no-op when the live path exists or no sibling
    * does (a never-swapped artifact). Idempotent; called by every
    * reader whose artifact swaps ([[Similarity.lshVectors]],
    * [[indexStats]]) and by [[swapInParquet]] itself before it deletes
    * the siblings a previous crash left behind. */
  private[graft] def recoverSwap(spark: SparkSession, path: String): Unit =
    recoverRenamePair(spark, path, s"$path.__compact", s"$path.__old",
      Seq(s"$path.__compact/$SwapOkMarker", s"$path.__compact/_SUCCESS"))

  /** The WHOLE-DIR analog of [[recoverSwap]] for [[rebuildIndex]]'s
    * two-rename window: if the live index dir is missing, promote
    * `dir.__rebuild` when the rebuild COMPLETED (its `_GRAFT_BUILD_OK`
    * marker landed — written after every artifact, before the swap),
    * else restore `dir.__old`. Called by every index-dir reader
    * ([[Ivf.loadIndexModel]], the LSH probes, [[cellFileOf]]) so a
    * crashed rebuild self-heals at the next touch — same posture as
    * the file-level swaps. A RUNNING stream still fails loudly after a
    * SUCCESSFUL rebuild (its plan snapshot names the old files, which
    * the completed swap deleted) — recovery only changes the
    * crashed-mid-swap state, which previously threw path-not-found at
    * every reader until manual repair. */
  private[graft] def recoverIndexDir(spark: SparkSession, dir: String): Unit =
    recoverRenamePair(spark, dir, s"$dir.__rebuild", s"$dir.__old",
      Seq(s"$dir.__rebuild/$RebuildOkMarker"))

  /** Marker written inside `dir.__rebuild` after a complete rebuild,
    * before the swap — the dir-level `_SUCCESS`. Survives into the live
    * dir after promotion (harmless: layout dispatch checks specific
    * children). */
  private[graft] val RebuildOkMarker = "_GRAFT_BUILD_OK"

  private def recoverRenamePair(spark: SparkSession, livePath: String,
                                tmpPath: String, oldPath: String,
                                completeMarkers: Seq[String]): Unit = {
    val (fs, live) = hfs(spark, livePath)
    if (!fs.exists(live)) {
      val tmp = new org.apache.hadoop.fs.Path(tmpPath)
      val old = new org.apache.hadoop.fs.Path(oldPath)
      // a failed recovery rename is tolerated iff ANOTHER recoverer (a
      // concurrent reader, or the writer itself finishing its swap) got
      // there first and the live path now exists — two readers healing
      // the same torn state must not fail each other spuriously. The
      // raced rename surfaces as false OR as FileNotFoundException
      // (Hadoop's local rename throws when the src was already moved).
      // Re-check the destination IMMEDIATELY before renaming (review
      // r16): a recoverer that statted live as missing, then lost the
      // race to one on the OTHER branch (tmp promoted — its marker
      // vanishes with it), would otherwise rename old ONTO the existing
      // live — and Hadoop's local-FS rename fallback COPIES the source
      // nested INSIDE an existing directory and reports success,
      // silently mixing the stale set into the promoted one. The
      // remaining microsecond window is repaired after the fact: a
      // nested <live>/<src-basename> can only be that raced copy-into
      // (no graft artifact nests its own staging names), so drop it.
      def renameOrRaced(src: org.apache.hadoop.fs.Path, what: String): Unit = {
        val ok =
          try !fs.exists(live) && swapRename(fs, src, live)
          catch { case _: java.io.FileNotFoundException => false }
        if (!ok)
          require(fs.exists(live), s"swap recovery: $src -> $live failed ($what)")
        else {
          val nested = new org.apache.hadoop.fs.Path(live, src.getName)
          if (fs.exists(nested)) fs.delete(nested, true)
        }
      }
      if (completeMarkers.exists(m =>
          fs.exists(new org.apache.hadoop.fs.Path(m)))) {
        renameOrRaced(tmp, "promoting completed new set")
        fs.delete(old, true)
      } else if (fs.exists(old)) {
        renameOrRaced(old, "rolling back to old set")
        fs.delete(tmp, true)
      }
    }
  }

  /** The cell-layout data file under `dir`, or None for the LSH layout.
    * Recovers a crashed whole-dir rebuild first — layout dispatch on a
    * mid-swap missing dir would otherwise throw the unrecognized-layout
    * error at every lifecycle verb. */
  private def cellFileOf(spark: SparkSession, dir: String): Option[String] = {
    recoverIndexDir(spark, dir)
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
    * caller. Runs swap recovery first (a crash between
    * [[swapInParquet]]'s two renames leaves the live file missing,
    * which would read as "no tombstones" — silent resurrection).
    * Readers are LOCK-FREE, so the exists-then-read can race a
    * compaction's backlog clear or an in-flight swap's rename window
    * (review r16): one failure recovers and retries — on the retry a
    * missing file is genuinely "cleared", a second failure is real. */
  private[graft] def loadTombstones(spark: SparkSession,
                                    dir: String): Option[DataFrame] = {
    val path = s"$dir/deletes.parquet"
    def attempt(): Option[DataFrame] =
      tombstonePhysicalPath(spark, dir)
        .map(p => spark.read.parquet(p).distinct().localCheckpoint(true))
    try attempt()
    catch { case scala.util.control.NonFatal(_) => attempt() }
  }

  /** The readable tombstone-set path under `dir`, or None when none
    * exists: the committed generation for a pointer-mode artifact root
    * (pointer-mode indexes keep `deletes.parquet` as a NESTED pointer
    * root inside the live generation — its rewrites flip, never rename),
    * the swap-recovered live file otherwise. */
  private def tombstonePhysicalPath(spark: SparkSession,
                                    dir: String): Option[String] = {
    val path = s"$dir/deletes.parquet"
    if (isPointerRoot(spark, path)) resolvePointer(spark, path)
    else {
      recoverSwap(spark, path)
      if (Ivf.layoutFileExists(spark, dir, "deletes.parquet")) Some(path)
      else None
    }
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
    loadTombstones(spark, dir) match {
      case None => table
      case Some(del) =>
        val n = del.count()
        if (n == 0L) table
        else idJoin(table, del.select(col(idCol)), idCol, n,
          broadcastLimit, "left_anti")
    }

  /** Run `body`, retrying when it fails on STALE FILE LISTINGS — the
    * transient failure mode of a lock-free reader racing maintenance:
    * a probe's plan resolves the index's file listing, a concurrent
    * [[compactIndex]]/[[rebuildIndex]] swap replaces those files, and
    * the tasks throw FILE_NOT_EXIST / missing-path. The race is
    * transient BY CONSTRUCTION (the swap protocols leave a complete
    * artifact set at every instant, and reader-side recovery heals torn
    * states), so re-running the body re-resolves a consistent listing —
    * caught red-handed by ConcurrentServeSpec's probe-during-compaction
    * hammer, which fails without this. Serve probes wrap their WHOLE
    * body (model load + candidate recovery + ranking + never-short
    * gate all execute inside the call). Bounded attempts: a genuinely
    * missing dir still fails, just after the retries — but the budget
    * is PROGRESS-aware (r19): a failure after which the dir epoch has
    * advanced since the previous failure is keeping pace with a
    * multi-rename verb on a slow host, not spinning, and draws from a
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
          // by the pointer-compaction hammer in a full-suite run): a
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
    // multi-rename verb (a compaction over k affected cells changes the
    // epoch k+ times; on a loaded host each slow probe body can straddle
    // a different rename, and a FIXED budget conflates that steady
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
                s"maintenance swap) — retrying ($charged/${attempts - 1}): " +
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
    * children, staging/lock names (`.__`) excluded — in-flight writers
    * preparing a swap must not perturb readers that are still serving
    * the consistent old world. On a POINTER-MODE root the same
    * invariant means keying on the COMMIT FILES (plus the marker) only
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
    * maintenance swap landing BETWEEN them hands the probe the old
    * quantizer over the new artifacts — a silently MIXED answer (the
    * reader-side twin of the "fresh centroids over a stale inverted
    * file" hazard the whole-dir swap exists to prevent; caught by
    * ConcurrentServeSpec's rebuild hammer as a third answer world).
    * Probes capture [[dirEpoch]] first and call this LAST: a changed
    * epoch throws the retry-recognized [[WorldChangedException]], and
    * the re-run reads every artifact from the post-swap world. */
  private[graft] def requireSameWorld(spark: SparkSession, dir: String,
                                      epoch: Seq[(String, Long, Long)]): Unit =
    if (dirEpoch(spark, dir) != epoch)
      throw new WorldChangedException(
        s"$dir changed mid-probe (concurrent maintenance swap) — retrying " +
          "against the new world")

  /** 1-row static guard frame for STREAMING probes — the loud half of
    * the mid-stream tombstone contract (r17 verdict #2). A probe
    * stream's plan resolves `deletes.parquet` ONCE at construction
    * ([[loadTombstones]] materializes it), and a [[removeIds]] landing
    * while the stream runs touches no file that plan lists — formerly
    * the one SILENT member of the plan-snapshot family (appends are
    * silent but deterministic-by-contract; rebuilds fail loud on the
    * swapped files). This frame closes the asymmetry: broadcast-joined
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
    * hiding. Listing semantics mirror [[dirEpoch]] exactly — staging
    * names excluded, so an in-flight compaction's `.__compact` sibling
    * does not fire the guard before its swap lands; a missing dir is
    * the empty epoch. Cost per batch: one 1-task job + one filesystem
    * LIST — measured in LifecycleSweep's stream-guard row. */
  private[graft] def tombstoneFreshnessGuard(spark: SparkSession,
                                             dir: String): DataFrame = {
    val path = s"$dir/deletes.parquet"
    // heal a torn tombstone swap BEFORE capturing the epoch (review
    // r18): recoverIndexDir only handles the whole-DIR rebuild swap, so
    // a crash-torn deletes.parquet (live missing, __compact complete)
    // would read as the empty epoch here and then the arm's
    // loadTombstones recovery would promote the file — the brand-new
    // stream's first batch failing spuriously
    recoverSwap(spark, path)
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
      // on a pointer root), or the comparison below would flap
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

  /** Drop the ENTIRE tombstone set (swap siblings first, live file
    * LAST) — called by every BUILD at the moment the new world's
    * artifacts are about to land: a build defines a NEW world, and a
    * stale `deletes.parquet` surviving a mode("overwrite") build would
    * silently filter the fresh index by the OLD world's removals
    * (caught by LifecycleSweep: a rebuilt 50k-row index served 44,384
    * rows through the previous session's leftover backlog).
    *
    * Ordering matters twice (review r16 #3): siblings delete FIRST — a
    * concurrent reader's recoverSwap restoring the live file from a
    * leftover `__compact` mid-clear would resurrect the set after our
    * live delete; with the siblings gone there is nothing to restore
    * from. And the call sits AFTER training in every build — clearing
    * at build START would drop the tombstones minutes before the new
    * artifacts exist, so probes during training (and forever, if the
    * build crashes mid-training) would serve the OLD index with its
    * removals resurrected. */
  private[graft] def clearTombstones(spark: SparkSession, dir: String): Unit = {
    val (fs, _) = hfs(spark, dir)
    val path = s"$dir/deletes.parquet"
    if (isPointerRoot(spark, path)) {
      // pointer-mode clear = flip to an EMPTY generation: one atomic
      // commit, exactly-one-world throughout (deleting commit files
      // piecemeal would expose intermediate worlds). A root with no
      // commit yet has nothing to clear.
      resolvePointer(spark, path).foreach { p =>
        swapInParquet(spark, path)(spark.read.parquet(p).limit(0))
      }
      return
    }
    Seq("deletes.parquet.__compact", "deletes.parquet.__old", "deletes.parquet")
      .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$n"), true))
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

  /** [[fencedProbe]] with pointer-mode resolution INSIDE the harness:
    * the body receives the physical dir (the committed generation under
    * a pointer root, the dir itself otherwise). Epoch captured on the
    * ROOT before resolution — a flip landing between capture and the
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
      // ADVICE r20 (medium): on a pointer root the commit-keyed root
      // epoch is deliberately blind to everything but flips — which made
      // it blind to mutations INSIDE the live generation too (an append's
      // new files, a removeIds/undeleteTombstones flip of the NESTED
      // deletes.parquet pointer root). A probe racing an un-delete could
      // then serve a mixed world (pre-append data listing + post-undelete
      // tombstone set) with no retry — the finding-34 silent class. Two
      // fences close it, one per substrate signal (r21 review):
      //  - the TOMBSTONE epoch lists the nested deletes.parquet root,
      //    whose dirEpoch keys on immutable COMMIT FILE NAMES when it is
      //    a pointer root — valid on copy+delete object stores (the
      //    deployment this mode exists for), where directory mtimes are
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
      // ConcurrentServeSpec's pointer-root mid-probe mutation tests.
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
      val genEpoch = if (phys != dir) genListingEpoch(spark, phys)
                     else Seq.empty[(String, Long, Long)]
      val tombEpoch = if (phys != dir) dirEpoch(spark, s"$phys/deletes.parquet")
                      else Seq.empty[(String, Long, Long)]
      val out = body(phys)
      requireSameWorld(spark, dir, epoch)
      if (phys != dir) {
        if (genListingEpoch(spark, phys) != genEpoch)
          throw new WorldChangedException(
            s"$phys changed mid-probe (concurrent maintenance swap) — " +
              "retrying against the new world")
        requireSameWorld(spark, s"$phys/deletes.parquet", tombEpoch)
      }
      out
    }

  /** Drop `batchIds` from the pending tombstone set — the re-insert
    * contract every append owes ([[Similarity.appendLshIndex]]'s rule,
    * extended to the cell layouts once they gained tombstoned removal):
    * appending an id that was tombstoned un-deletes it, else the append
    * lands physically but every probe keeps filtering it out until
    * compaction. Tombstone-sized (the set is compaction-bounded), via
    * the crash-safe swap — taken ONLY when the batch actually intersects
    * the set (review r18): an unconditional rewrite changes the
    * `deletes.parquet` listing on every append over a non-empty backlog,
    * and the default-on [[tombstoneFreshnessGuard]] would then kill a
    * running probe stream on an append of brand-new ids — exactly the
    * silent append-between-micro-batches contract appends are pinned to
    * keep. An append that DOES un-delete must still trip the guard: the
    * plan's stale tombstone filter would wrongly keep serving that id
    * out. */
  private[graft] def undeleteTombstones(spark: SparkSession, dir: String,
                                        batchIds: DataFrame,
                                        idCol: String): Unit =
    // pointer-aware read (the nested-pointer-root tombstone shape);
    // swapInParquet dispatches the rewrite to the matching protocol
    tombstonePhysicalPath(spark, dir).foreach { p =>
      val deletes = spark.read.parquet(p)
      if (deletes.join(batchIds.select(col(idCol)), Seq(idCol), "left_semi")
          .limit(1).count() > 0L)
        swapInParquet(spark, s"$dir/deletes.parquet")(
          deletes.join(batchIds.select(col(idCol)), Seq(idCol), "left_anti"))
    }

  /** Remove `ids` rows from the index at `dir` (FAISS `remove_ids`):
    * cell layouts rewrite only the affected cell partitions; the LSH
    * layout appends tombstones served out by every probe path until
    * [[compactIndex]] applies them physically. Probes serve the
    * post-removal set immediately on every layout (modulo the running-
    * stream plan-snapshot contract, [[graft.streaming.Streaming
    * .annProbeStream]]: a stream RUNNING when a tombstoned remove lands
    * fails LOUDLY on its next micro-batch — the default
    * [[tombstoneFreshnessGuard]] detects the `deletes.parquet` change,
    * matching the rebuild contract; restart to serve the removal. Only
    * a stream opted out via `tombstoneGuard = false` keeps serving the
    * removed id silently until restart. Spec-pinned on both tombstoning
    * arms by StreamingSpec's loud-or-fresh test, which must change
    * together with this contract). Removing an id that is not in the
    * index is a no-op, as in FAISS.
    *
    * `tombstone = true` (cell layouts only — the LSH layout ALWAYS
    * tombstones, its postings aren't id-clustered) switches the cell
    * layouts to the same deletion-vector regime: the batch appends to
    * `deletes.parquet` at O(batch) cost, every probe path anti-joins it
    * out ([[minusTombstones]] on the vectors/codes choke point), and
    * [[compactIndex]] applies the backlog physically. This is the
    * SCATTERED-batch remedy (r15 verdict #3): the physical remove
    * rewrites min(batch, cells) cell directories, so a scattered batch
    * at scale degenerates toward a full-index rewrite — the tombstone
    * path's cost is flat in batch size and independent of how many
    * cells the batch touches, deferring the rewrite to the compaction
    * cadence exactly like the LSH arm (the Lucene/Delta
    * deletion-vector shape). Keep the default (physical, immediate) for
    * clustered or small removals where no tombstone should ever enter
    * the read path.
    *
    * Mutating verb: serializes through the dir's single-writer lease
    * ([[withIndexLock]]) — fails loudly if another writer holds it. */
  def removeIds(spark: SparkSession, dir: String, ids: DataFrame,
                idCol: String,
                idBroadcastLimit: Long = Dedup.HotShingleBroadcastLimit,
                tombstone: Boolean = false): Unit =
    withIndexLock(spark, dir, "removeIds") {
      removeIdsInner(spark, dir, ids, idCol, idBroadcastLimit, tombstone)
    }

  /** Append the batch to the dir's tombstone set: O(removed ids) —
    * dedup is the anti join's job, compaction clears the set. Recover
    * first: an append landing while deletes.parquet sits mid-swap would
    * strand the prior tombstones in the sibling dirs forever.
    *
    * `pointer = true` (the dir is a pointer-mode generation): the
    * tombstone set lives as a NESTED pointer root and every change is a
    * generation flip of the whole (compaction-bounded) set — O(backlog)
    * instead of O(batch), the documented pointer-mode trade: a plain
    * mode("append") would be rename-free too, but the un-delete rewrite
    * and the compaction clear could NOT be, so the artifact commits to
    * one protocol for all three mutations. The freshness guard fires on
    * the commit exactly as it fires on the append arm's new file. */
  private def appendTombstones(spark: SparkSession, dir: String,
                               ids: DataFrame, idCol: String,
                               pointer: Boolean = false): Unit = {
    val path = s"$dir/deletes.parquet"
    if (pointer) {
      initPointerRoot(spark, path)
      val batch = ids.select(col(idCol)).distinct()
      val all = resolvePointer(spark, path)
        .map(p => spark.read.parquet(p).select(col(idCol)).union(batch).distinct())
        .getOrElse(batch)
      swapInParquet(spark, path)(all) // pointer arm: fenced commit inside
    } else {
      recoverSwap(spark, path)
      requireLeaseStillHeld(spark, "tombstone append")
      ids.select(col(idCol)).distinct()
        .write.mode("append").parquet(path)
    }
  }

  private def removeIdsInner(spark: SparkSession, dir: String, ids: DataFrame,
                             idCol: String, idBroadcastLimit: Long,
                             tombstone: Boolean): Unit = {
    // pointer-mode roots ALWAYS tombstone, whatever the caller asked:
    // the physical arm's dynamic partition overwrite is rename-based
    // (stage-then-move inside the committer), exactly the primitive
    // pointer mode exists to avoid — compaction (a generation flip)
    // applies the backlog physically instead.
    val pointer = isPointerRoot(spark, dir)
    val phys = resolveIndexDir(spark, dir)
    cellFileOf(spark, phys) match {
      case None =>
        appendTombstones(spark, phys, ids, idCol, pointer)
      case Some(_) if tombstone || pointer =>
        appendTombstones(spark, phys, ids, idCol, pointer)
      case Some(file) =>
        val table = spark.read.parquet(s"$phys/$file")
        val idsDf = ids.select(col(idCol)).distinct().localCheckpoint(true)
        val nIds = idsDf.count()
        // affected cells: bounded by the cell count, driver-holdable
        val affected = idJoin(table, idsDf, idCol, nIds, idBroadcastLimit,
          "left_semi").select("cell").distinct().collect().map(_.getInt(0))
        if (affected.nonEmpty) {
          // localCheckpoint breaks the read-from-overwrite-target cycle
          // AND materializes survivors before their files are replaced;
          // bounded by the affected cells' content (increment-sized
          // removal contract). repartition(cell) first: without it the
          // dynamic overwrite fans each rewritten cell into one file PER
          // TASK holding its rows (LifecycleSweep measured files<=32 —
          // the shuffle parallelism — after one remove), manufacturing
          // the exact small-file pressure compactIndex exists to
          // relieve; hash-clustering by cell lands each rewritten cell
          // as ONE file (compactIndex's own discipline) for one extra
          // shuffle of the affected content — data that was moving
          // anyway.
          val survivors = idJoin(
            table.filter(col("cell").isin(affected.map(Integer.valueOf): _*)),
            idsDf, idCol, nIds, idBroadcastLimit, "left_anti")
            .repartition(col("cell"))
            .localCheckpoint(true)
          requireLeaseStillHeld(spark, "cell overwrite (removeIds)")
          survivors.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell").parquet(s"$phys/$file")
          // emptied cells keep stale files under dynamic overwrite
          // (nothing was written for them) — drop their directories.
          // Re-fence first: the overwrite job + kept-cells collect run
          // for minutes at scale, and a zombie resuming here would
          // delete cell dirs the new holder has since rewritten
          val kept = survivors.select("cell").distinct()
            .collect().map(_.getInt(0)).toSet
          requireLeaseStillHeld(spark, "emptied-cell dir delete (removeIds)")
          val (fs, _) = hfs(spark, phys)
          affected.filterNot(kept).foreach { c =>
            fs.delete(new org.apache.hadoop.fs.Path(s"$phys/$file/cell=$c"), true)
          }
        }
    }
  }

  /** Compact the index at `dir`: repeated [[Ivf.appendIndex]]-family
    * appends accumulate one file batch per touched cell per append — the
    * classic small-file hazard that turns a 100 TB scan into metadata
    * torture. Cell layouts rewrite only cells whose file count exceeds
    * `maxFilesPerCell` (hash-repartitioned by cell, so each rewritten
    * cell lands as ONE file). The LSH layout rewrites postings + vectors
    * wholesale — its postings are not id-clustered, so compaction doubles
    * as the physical application of the [[removeIds]] tombstones, which
    * are cleared afterwards; the rewrite preserves the build's
    * (table, bucket) range-sort so row-group pruning survives. LSH
    * compaction costs one pass over the index (no signatures recompute);
    * run it on the append/remove cadence, not per call.
    *
    * The LSH rewrite swaps via tmp dirs (write new → move live aside →
    * move new in → drop old), never materializing the corpus through the
    * block manager; a crash mid-swap leaves either the live or the
    * `.__old` dir intact.
    *
    * Mutating verb: serializes through the dir's single-writer lease
    * ([[withIndexLock]]) — fails loudly if another writer holds it. */
  def compactIndex(spark: SparkSession, dir: String,
                   maxFilesPerCell: Int = 4): Unit =
    withIndexLock(spark, dir, "compactIndex") {
      compactIndexInner(spark, dir, maxFilesPerCell)
    }

  // private[graft]: verb composition (maintainIndex) + the zombie
  // tombstone-clear fence spec, which must drive this body directly
  // under a test-held lease (the public verb acquires its own)
  private[graft] def compactIndexInner(spark: SparkSession, dir: String,
                                       maxFilesPerCell: Int): Unit =
    if (isPointerRoot(spark, dir))
      compactIntoGeneration(spark, dir, maxFilesPerCell)
    else compactInPlace(spark, dir, maxFilesPerCell)

  private def compactInPlace(spark: SparkSession, dir: String,
                             maxFilesPerCell: Int): Unit =
    cellFileOf(spark, dir) match {
      case None => compactLsh(spark, dir)
      case Some(file) =>
        val (fs, root) = hfs(spark, s"$dir/$file")
        val heavy = fs.listStatus(root).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
          .filter(s => fs.listStatus(s.getPath)
            .count(f => f.getPath.getName.startsWith("part-")) > maxFilesPerCell)
          .map(_.getPath.getName.stripPrefix("cell=").toInt)
        // tombstoned removal (removeIds tombstone = true) defers the
        // cell rewrites to HERE: cells holding tombstoned ids join the
        // rewrite set (bounded by the cell count, like removeIds'
        // affected list), survivors rewrite with the anti-join applied,
        // and the backlog clears LAST — a crash after the rewrite but
        // before the clear re-applies an already-physical anti-join:
        // idempotent, never resurrecting
        // counted ONCE (the loadTombstones contract) — both idJoin gates
        // below read the same n
        val del: Option[(DataFrame, Long)] =
          loadTombstones(spark, dir).map(d => (d, d.count()))
        val table = spark.read.parquet(s"$dir/$file")
        val affected: Seq[Int] = del match {
          case Some((d, n)) =>
            idJoin(table, d, d.columns.head, n,
              Dedup.HotShingleBroadcastLimit, "left_semi")
              .select("cell").distinct().collect().map(_.getInt(0)).toSeq
          case None => Nil
        }
        val rewrite = (heavy ++ affected).distinct
        if (rewrite.nonEmpty) {
          val base = table
            .filter(col("cell").isin(rewrite.map(Integer.valueOf): _*))
          val rows = del.fold(base) { case (d, n) =>
              idJoin(base, d, d.columns.head, n,
                Dedup.HotShingleBroadcastLimit, "left_anti") }
            .repartition(col("cell"))
            .localCheckpoint(true)
          requireLeaseStillHeld(spark, "cell overwrite (compaction)")
          rows.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell").parquet(s"$dir/$file")
          // emptied cells keep stale files under dynamic overwrite —
          // drop their directories (removeIds' physical-arm rule).
          // Re-fence: same zombie window as removeIdsInner's deletes
          val kept = rows.select("cell").distinct()
            .collect().map(_.getInt(0)).toSet
          requireLeaseStillHeld(spark, "emptied-cell dir delete (compaction)")
          rewrite.filterNot(kept).foreach { c =>
            fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$file/cell=$c"), true)
          }
        }
        if (del.isDefined) {
          // the SHARED clear, never a bare delete of the live file
          // (ADVICE r16): an interrupted undeleteTombstones swap leaves
          // a COMPLETE deletes.parquet.__compact sibling behind, and
          // recoverSwap no-ops while live exists — so deleting only the
          // live file hands the next reader's recovery a stale sibling
          // to promote, resurrecting the backlog this compaction just
          // applied (ids re-appended later would silently vanish from
          // every probe). clearTombstones drops siblings FIRST.
          // Fenced: a zombie compaction resuming here would clear the
          // NEW holder's fresh backlog — the removed ids would then
          // silently reappear in every probe (and this is the verb's
          // ONLY fence when rewrite was empty)
          requireLeaseStillHeld(spark, "tombstone clear (compaction)")
          clearTombstones(spark, dir)
        }
    }

  /** Pointer-mode compaction: write the compacted world into a FRESH
    * generation and flip — GENERATION-granular where the in-place arm is
    * cell-granular, because dynamic partition overwrite (the surgical
    * per-cell rewrite) is committer-rename-based, the exact primitive
    * pointer mode exists to avoid. The cost stays proportional to the
    * pressure: cells over the file bound (or holding tombstoned ids)
    * rewrite through Spark; every untouched cell directory and every
    * small artifact (model, meta, buildinfo, books) carries over via
    * the injectable [[CopyIo]] — server-side (metadata-priced) on
    * object stores once a store-native copy is installed, a
    * driver-streamed byte copy by default (the cost PtrSweep measures —
    * finding 41's 21 s local worst case). The new generation carries NO
    * tombstone set: the flip IS the backlog clear, atomic with the
    * rewrite by construction (the in-place arm needs fence + ordering
    * discipline for the same guarantee). No-ops when nothing is under
    * pressure — a healthy index never churns generations. */
  private def compactIntoGeneration(spark: SparkSession, root: String,
                                    maxFilesPerCell: Int): Unit = {
    val phys = resolveIndexDir(spark, root)
    val (fs, _) = hfs(spark, root)
    val conf = spark.sparkContext.hadoopConfiguration
    def copyInto(srcPath: String, dstPath: String): Unit =
      copyIo.copy(fs, new org.apache.hadoop.fs.Path(srcPath),
        new org.apache.hadoop.fs.Path(dstPath), conf)
    // small artifacts = every direct child except the rewritten data
    // set, the tombstone set (cleared by the flip), and staging/lock
    // siblings — model/meta/buildinfo/books and completeness markers
    def copySmallArtifacts(genPath: String, exclude: Set[String]): Unit =
      fs.listStatus(new org.apache.hadoop.fs.Path(phys)).toSeq
        .map(_.getPath.getName)
        .filterNot(n => exclude(n) || n.contains(".__"))
        .foreach(n => copyInto(s"$phys/$n", s"$genPath/$n"))
    cellFileOf(spark, phys) match {
      case None =>
        // LSH: compaction is wholesale by construction (postings are not
        // id-clustered) — same rewrite as compactLsh, into the new gen;
        // never gated on pressure here (the in-place arm isn't either:
        // a direct compact is how duplicate postings die)
        val del = loadTombstones(spark, phys).filter(_.count() > 0L)
        val gen = freshGenName()
        val genPath = s"$root/$gen"
        fs.delete(new org.apache.hadoop.fs.Path(genPath), true)
        def minusDeletes(df: DataFrame, idCol: String): DataFrame =
          del.fold(df)(d =>
            df.join(d.select(col(idCol)).hint("SHUFFLE_HASH"),
              Seq(idCol), "left_anti"))
        val idCol = spark.read.parquet(s"$phys/postings.parquet").columns
          .filterNot(Set("table", "bucket")).head
        minusDeletes(spark.read.parquet(s"$phys/postings.parquet"), idCol)
          .distinct()
          .repartitionByRange(col("table"), col("bucket"))
          .sortWithinPartitions("table", "bucket")
          .write.mode("overwrite").parquet(s"$genPath/postings.parquet")
        minusDeletes(spark.read.parquet(s"$phys/vectors.parquet"), idCol)
          .distinct()
          .write.mode("overwrite").parquet(s"$genPath/vectors.parquet")
        copySmallArtifacts(genPath,
          Set("postings.parquet", "vectors.parquet", "deletes.parquet"))
        requireLeaseStillHeld(spark, "generation pointer commit (compaction)")
        commitGeneration(spark, root, gen)
        gcGenerations(spark, root)
      case Some(file) =>
        val dataRoot = new org.apache.hadoop.fs.Path(s"$phys/$file")
        val cellDirs = fs.listStatus(dataRoot).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
        val heavy = cellDirs
          .filter(s => fs.listStatus(s.getPath)
            .count(f => f.getPath.getName.startsWith("part-")) > maxFilesPerCell)
          .map(_.getPath.getName.stripPrefix("cell=").toInt)
        val del: Option[(DataFrame, Long)] =
          loadTombstones(spark, phys).map(d => (d, d.count()))
            .filter(_._2 > 0L)
        val table = spark.read.parquet(s"$phys/$file")
        val affected: Seq[Int] = del match {
          case Some((d, n)) =>
            idJoin(table, d, d.columns.head, n,
              Dedup.HotShingleBroadcastLimit, "left_semi")
              .select("cell").distinct().collect().map(_.getInt(0)).toSeq
          case None => Nil
        }
        val rewrite = (heavy ++ affected).distinct
        if (rewrite.isEmpty && del.isEmpty) {
          // nothing to rewrite — but a committed-EMPTY nested tombstone
          // root (re-appends un-deleted everything) still taxes every
          // probe with loadTombstones' read+distinct+checkpoint job;
          // the in-place arm clears empty sets, so match it (r20
          // review). Commits delete OLDEST-first: every intermediate
          // state resolves to the newest (empty) set or to "none" —
          // never to an older, non-empty one.
          if (isPointerRoot(spark, s"$phys/deletes.parquet")) {
            requireLeaseStillHeld(spark, "empty tombstone-root drop (compaction)")
            dropTombstonePointerRoot(spark, phys)
          }
          return
        }
        val gen = freshGenName()
        val genPath = s"$root/$gen"
        fs.delete(new org.apache.hadoop.fs.Path(genPath), true)
        if (rewrite.nonEmpty) {
          val base = table
            .filter(col("cell").isin(rewrite.map(Integer.valueOf): _*))
          del.fold(base) { case (d, n) =>
              idJoin(base, d, d.columns.head, n,
                Dedup.HotShingleBroadcastLimit, "left_anti") }
            .repartition(col("cell"))
            .write.mode("overwrite")
            .partitionBy("cell").parquet(s"$genPath/$file")
        } else {
          fs.mkdirs(new org.apache.hadoop.fs.Path(s"$genPath/$file"))
        }
        // untouched cells COPY (no Spark job; a rewritten-empty cell just
        // isn't in the new data set — the emptied-cell delete for free)
        val rewriteSet = rewrite.toSet
        cellDirs
          .filterNot(s =>
            rewriteSet(s.getPath.getName.stripPrefix("cell=").toInt))
          .foreach(s =>
            copyInto(s.getPath.toString, s"$genPath/$file/${s.getPath.getName}"))
        copySmallArtifacts(genPath, Set(file, "deletes.parquet"))
        requireLeaseStillHeld(spark, "generation pointer commit (compaction)")
        commitGeneration(spark, root, gen)
        gcGenerations(spark, root)
    }
  }

  /** Remove a nested tombstone pointer root whose committed set the
    * caller verified EMPTY. Deletion order makes every crash window
    * consistent: commits go OLDEST-first (intermediate states resolve
    * to the newest = the empty set, then to none — never to an older
    * non-empty one), then the generations, the marker last; a crash
    * anywhere leaves "empty or no tombstones", both correct. Caller
    * holds the lease and fences first. */
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
    *    their default removes are physical and immediate, backlog 0).
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
    // pointer-mode roots read through the committed generation
    val dir = resolveIndexDir(spark, root)
    val built: Option[Long] =
      if (Ivf.layoutFileExists(spark, dir, "buildinfo.parquet"))
        Some(spark.read.parquet(s"$dir/buildinfo.parquet")
          .head().getAs[Long]("built_rows"))
      else None
    val (layout, live, cells, maxFiles, tombstones, dupFrac) = cellFileOf(spark, dir) match {
      case Some(file) =>
        // cell layouts can now carry a tombstone backlog too (removeIds
        // tombstone = true): live_rows serves it OUT, mirroring the LSH
        // arm, so the maintenance fraction compares the backlog against
        // the index a compaction would actually rewrite. ONE load of the
        // tombstone frame feeds both the count and the filter.
        val raw = spark.read.parquet(s"$dir/$file")
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
        // recover BEFORE the eager postings read below — maintenance is
        // the natural first call after a compaction crash and must
        // self-heal the exact state it exists to clean up
        Seq("deletes.parquet", "postings.parquet", "vectors.parquet")
          .foreach(n => recoverSwap(spark, s"$dir/$n"))
        val idCol = spark.read.parquet(s"$dir/postings.parquet").columns
          .filterNot(Set("table", "bucket")).head
        val live = Similarity.lshVectors(spark, dir, idCol).count()
        // one pass over postings feeds all three counts; countDistinct
        // over the FULL row (table, bucket, id) is what a retried append
        // duplicates exactly
        val pAgg = spark.read.parquet(s"$dir/postings.parquet")
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
    * this rebuilds in place with FRESH corpus-sized training:
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
    *    physically (the rebuild reads through [[Similarity.lshVectors]]);
    *    the persisted dim/seed carry over;
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
    * The rebuilt artifacts land in `dir.__rebuild` while the live dir
    * keeps serving, then swap in as a WHOLE-dir rename pair — a partial
    * child-by-child swap could leave fresh centroids over a stale
    * inverted file: silently wrong cells. A crash inside the two-rename
    * window leaves the live dir missing, and the next reader
    * SELF-HEALS it ([[recoverIndexDir]]): the completed `dir.__rebuild`
    * promotes (its [[RebuildOkMarker]] landed), a torn one rolls back
    * to `dir.__old` — either the old or the new index, never mixed,
    * never manual.
    * Marker files callers keep INSIDE the dir do not survive the swap
    * (the serve-query cache re-validates via its own marker protocol).
    * A RUNNING probe stream's plan snapshot (the append-visibility
    * contract, StreamingSpec) points at the now-deleted old files, so it
    * fails LOUDLY on its next micro-batch rather than serving anything
    * stale — restart the stream to serve the rebuilt index, the same
    * restart rule appends already require, enforced by failure instead
    * of staleness. Run rebuilds on the maintenance cadence, quiesce
    * streams first.
    *
    * Mutating verb: serializes through the dir's single-writer lease
    * ([[withIndexLock]]) — fails loudly if another writer holds it. The
    * lease is what makes the whole-dir swap safe against a concurrent
    * append: without it, an append's `mode("append")` landing between
    * the two renames would write into a path that is about to become
    * `__old` (batch silently lost) or already the promoted fresh dir
    * (batch assigned under a quantizer it was never trained beside). */
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
    // a rebuild issued on a dir a PREVIOUS rebuild crashed mid-swap must
    // first restore it (also before the buildinfo read below — the
    // persisted params live inside the dir being recovered)
    recoverIndexDir(spark, dir)
    // pointer-mode roots rebuild into a fresh GENERATION and flip —
    // the same build logic, a commit instead of the two renames (no
    // live data moves, so copy+delete stores are safe); sources read
    // from the live generation throughout
    val pointer = isPointerRoot(spark, dir)
    val src = resolveIndexDir(spark, dir)
    val tmp = if (pointer) s"$dir/${freshGenName()}" else s"$dir.__rebuild"
    val (fs, _) = hfs(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    // a PREVIOUS rebuild crashed mid-build leaves tmp's build lock as a
    // sibling; the staging dir was just deleted, so its lock is orphaned
    // by construction (we hold the PARENT dir's lease)
    clearLock(spark, tmp)
    // persisted build parameters (buildinfo.parquet): caller override >
    // persisted > build-function default. Columns are probed by name so
    // pre-params dirs (built before the columns existed) keep working.
    val info: Map[String, Any] =
      if (Ivf.layoutFileExists(spark, src, "buildinfo.parquet")) {
        val r = spark.read.parquet(s"$src/buildinfo.parquet").head()
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
    cellFileOf(spark, src) match {
      case None =>
        // a rebuild is how an operator restores a crashed index — it
        // must recover interrupted swaps, not throw on them
        Seq("deletes.parquet", "postings.parquet", "vectors.parquet")
          .foreach(n => recoverSwap(spark, s"$src/$n"))
        val meta = spark.read.parquet(s"$src/meta.parquet").head()
        val (idCol, vecCol) =
          inferCols(spark.read.parquet(s"$src/vectors.parquet"))
        Similarity.buildLshIndex(
          Similarity.lshVectors(spark, src, idCol).select(idCol, vecCol),
          idCol, vecCol, tmp,
          baseTables = lshBaseTables.orElse(pInt("base_tables")).getOrElse(8),
          dim = meta.getAs[Int]("dim"),
          seed = seed.getOrElse(meta.getAs[Long]("seed")))
      case Some("invfile.parquet") =>
        val raw = spark.read.parquet(s"$src/invfile.parquet")
        val (idCol, vecCol) = inferCols(raw)
        // pending cell-layout tombstones apply physically here, like
        // the LSH arm's read-through-lshVectors: the rebuilt index
        // never carries them (the whole-dir swap drops deletes.parquet)
        val rows = minusTombstones(spark, src, raw, idCol)
        Ivf.buildIndex(rows.select(idCol, vecCol), idCol, vecCol, tmp,
          nprobe = rNprobe, seed = rSeed, maxIter = rMaxIter,
          sampleFraction = pDouble("sample_fraction").getOrElse(1.0),
          hierarchicalThreshold = rHier)
      case Some(_) =>
        val raw = spark.read.parquet(s"$src/codes.parquet")
        val (idCol, vecCol) = inferCols(raw)
        val rows = minusTombstones(spark, src, raw, idCol)
        // trained-geometry fallback for pre-params dirs only: m (subspace
        // count) is never clamped, so countDistinct(j) == the request;
        // countDistinct(c) is the clamp-SHRUNK codebook — see scaladoc
        lazy val books = spark.read.parquet(s"$src/books.parquet")
          .agg(countDistinct(col("j")), countDistinct(col("c"))).head()
        Quantize.buildPqIndex(rows.select(idCol, vecCol), idCol, vecCol, tmp,
          nprobe = rNprobe,
          m = pqM.orElse(pInt("m")).getOrElse(books.getLong(0).toInt),
          codebookSize = pqCodebookSize.orElse(pInt("codebook_size"))
            .getOrElse(books.getLong(1).toInt),
          seed = rSeed,
          trainSampleRows = pLong("train_sample_rows").getOrElse(16384L),
          hierarchicalThreshold = rHier)
    }
    // completeness marker (the dir-level _SUCCESS): recovery promotes a
    // __rebuild dir only when this landed — a torn rebuild is never served
    fs.create(new org.apache.hadoop.fs.Path(s"$tmp/$RebuildOkMarker"), true)
      .close()
    if (pointer) {
      // the build's own lease (on tmp, a sibling lock under the root)
      // released in its finally; the flip is OURS to fence and land
      requireLeaseStillHeld(spark, "generation pointer commit (rebuild)")
      commitGeneration(spark, dir, tmp.substring(dir.length + 1))
      gcGenerations(spark, dir)
      return
    }
    val live = new org.apache.hadoop.fs.Path(dir)
    val old = new org.apache.hadoop.fs.Path(s"$dir.__old")
    fs.delete(old, true)
    // checked renames (swapInParquet's rule): a false-returning rename
    // must not silently no-op the rebuild — the stale index would keep
    // serving while maintainIndex retrains forever without landing.
    // Fencing check first (r16 verdict #1): a rebuild that stalled past
    // takeover aborts here rather than swapping over the new holder
    requireLeaseStillHeld(spark, "rebuild swap rename")
    require(swapRename(fs, live, old), s"rebuild swap: rename $dir -> $old failed")
    val renamed =
      try swapRename(fs, new org.apache.hadoop.fs.Path(tmp), live)
      catch { case _: java.io.FileNotFoundException => false }
    if (!renamed) {
      // swapInParquet's tolerated failure: a concurrent reader's
      // recoverIndexDir can promote the COMPLETE __rebuild (its marker
      // landed before the renames) in the between-renames window —
      // that reader finished our swap; anything else preserves the old
      require(!fs.exists(new org.apache.hadoop.fs.Path(tmp)) && fs.exists(live),
        s"rebuild swap: rename $tmp -> $dir failed (old index preserved at $old)")
    }
    fs.delete(old, true)
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
      compactIndexInner(spark, dir, maxFilesPerCell); "compact"
    } else "none"
  }

  private def compactLsh(spark: SparkSession, dir: String): Unit = {
    Seq("postings.parquet", "vectors.parquet")
      .foreach(n => recoverSwap(spark, s"$dir/$n"))
    // one load feeds both anti-joins (loadTombstones recovers its own swap)
    val del = loadTombstones(spark, dir)
    val hasDeletes = del.isDefined
    def minusDeletes(df: DataFrame, idCol: String): DataFrame =
      del.fold(df)(d =>
        df.join(d.select(col(idCol)).hint("SHUFFLE_HASH"),
          Seq(idCol), "left_anti"))
    // the postings' id column name = the vectors' non-vector column (the
    // build wrote both from the same (idCol, vecCol) selection)
    val idCol = spark.read.parquet(s"$dir/postings.parquet").columns
      .filterNot(Set("table", "bucket")).head
    def swapIn(name: String)(fresh: DataFrame): Unit =
      swapInParquet(spark, s"$dir/$name")(fresh)
    swapIn("postings.parquet")(
      minusDeletes(spark.read.parquet(s"$dir/postings.parquet"), idCol)
        // retried torn appends bake exact-duplicate (table, bucket, id)
        // rows — candidate dedup absorbs them per probe, compaction is
        // where they physically die (indexStats' postings_dup_fraction
        // returns to 0 here; maintainIndex thresholds it)
        .distinct()
        .repartitionByRange(col("table"), col("bucket"))
        .sortWithinPartitions("table", "bucket"))
    swapIn("vectors.parquet")(
      // a FULLY-retried append (crash after the vectors write, before
      // the undelete swap) duplicates vectors rows too — probes dedup
      // candidates so answers are right, but a rebuild would train on
      // and re-write the duplicates forever; exact-row distinct is
      // result-preserving by construction (same id with a DIFFERENT
      // vector — the re-insert-after-remove shape — keeps both rows,
      // unchanged semantics)
      minusDeletes(spark.read.parquet(s"$dir/vectors.parquet"), idCol)
        .distinct())
    if (hasDeletes) {
      // shared clear, siblings first — see compactIndexInner's cell arm.
      // Fenced: a zombie LSH compaction resuming after takeover must
      // not clear the new holder's fresh tombstone backlog
      requireLeaseStillHeld(spark, "tombstone clear (LSH compaction)")
      clearTombstones(spark, dir)
    }
  }
}
