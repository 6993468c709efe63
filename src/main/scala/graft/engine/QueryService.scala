package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory, TimeUnit}
import scala.util.control.NonFatal

/** Async query lifecycle + result-reuse cache (reference §3.1 transposed).
  *
  * The reference submits `SELECT {fields} FROM {t} WHERE species='{v}' AND
  * {condition}` to Athena and returns a query id immediately; clients poll
  * status and fetch the materialized CSV result (`app/main.py:427-503`).
  * Here the same contract runs on Spark: submit builds the declarative
  * plan, a driver-side pool executes `df.write.csv` under a job group
  * (= the query id, so CANCELLED maps to `cancelJobGroup`), and a state
  * registry tracks QUEUED → RUNNING → SUCCEEDED | FAILED | CANCELLED.
  * Transitions are compare-and-set so a concurrent cancel() always wins
  * over the worker's QUEUED→RUNNING and RUNNING→SUCCEEDED moves.
  *
  * Result reuse: the reference canonicalized the SQL text (lowercase
  * unquoted tokens + sort condition tokens, `app/main.py:78-86`) — which
  * collides distinct queries sharing a token multiset (`a=1 AND b=2` vs
  * `a=2 AND b=1`). We key on Catalyst's canonicalized analyzed plan
  * instead: strictly sound (same semantics ⇒ same key) and it still
  * honors the reference's AND-commutativity reuse. The plan names a
  * table by path, not by contents, so the key also carries a digest of
  * the files the plan reads ([[QueryService.inputDigest]]): a rewritten
  * table misses the cache. TTL matches the reference's 44 days by
  * default; entries are evicted lazily on probe.
  *
  * Scale: results are written partition-parallel (no `coalesce(1)` on the
  * hot path — a 100 TB extract must not serialize through one task);
  * single-file delivery is the exporters' job, which stream via
  * `toLocalIterator`.
  */
object QueryService {
  sealed trait State
  case object Queued extends State
  case object Running extends State
  case object Succeeded extends State
  final case class Failed(error: String) extends State
  case object Cancelled extends State

  final case class Status(queryId: String, state: State, resultPath: Option[String],
                          expiresAtMillis: Option[Long] = None)

  /** Reference query-id validation (`app/main.py:70-76`): 36 chars, 4
    * hyphens — the UUID shape. */
  def isValidQueryId(id: String): Boolean =
    id.length == 36 && id.count(_ == '-') == 4

  val DefaultCacheTtlMillis: Long = 3801600L * 1000 // 44 days, app/main.py:488

  /** Digest of the files `plan` reads: (path, size, mtime) of every
    * file each file-source leaf (parquet, ORC, CSV; joins and subqueries
    * included) listed when its frame was built — no extra listing. */
  private[engine] def inputDigest(plan: LogicalPlan): String = {
    val files = plan.collectWithSubqueries { case l: LogicalRelation => l.relation }
      .flatMap {
        case h: HadoopFsRelation => h.location match {
          case index: PartitioningAwareFileIndex =>
            index.allFiles().map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}")
          case index => index.inputFiles.toSeq
        }
        case _ => Nil
      }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.sorted.foreach(f => md.update((f + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Result delivery expiry (A18): the reference presigns the result URL
    * for 3600s at poll time (`app/main.py:272`, `app/constants.py:16`). */
  val ResultTtlMillis: Long = 3600L * 1000
}

final class QueryService(
    spark: SparkSession,
    catalog: Catalog,
    resultDir: String,
    cacheTtlMillis: Long = QueryService.DefaultCacheTtlMillis,
    clock: () => Long = () => System.currentTimeMillis(),
    poolSize: Int = 4,
    requestLog: (String, String) => Unit = (_, _) => ()
) extends AutoCloseable {
  import QueryService._

  private val states = new ConcurrentHashMap[String, State]()
  // semanticHash of the canonicalized analyzed plan + its input digest
  // -> (queryId, insertedAt)
  private val planCache = new ConcurrentHashMap[String, (String, Long)]()
  private val registryLock = new Object
  loadRegistry() // query ids + reuse cache survive a restart (Redis role)
  private val pool = Executors.newFixedThreadPool(poolSize, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "graft-query"); t.setDaemon(true); t
    }
  })

  def resultPath(queryId: String): String = s"$resultDir/$queryId"

  /** Correlation-id request logging (reference's `log_requests` middleware,
    * `app/main.py:31-49`: every request gets a uuid, logged with path +
    * latency, echoed as X-Correlation-ID). Facade methods wrap their work
    * in this; the sink is injectable (`requestLog`) so a host can forward
    * to any logger. Returns the correlation id with the result. */
  def logged[A](action: String)(body: => A): (String, A) = {
    val cid = UUID.randomUUID().toString
    val t0 = System.nanoTime()
    try {
      val out = body
      requestLog(cid, f"$action time=${(System.nanoTime() - t0) / 1e6}%.2fms ok")
      (cid, out)
    } catch {
      case NonFatal(e) =>
        requestLog(cid, s"""$action err="${String.valueOf(e.getMessage)}"""")
        throw e
    }
  }

  /** HAL `_links` for a submitted query (`app/main.py:492-500`,
    * draft-kelly-json-hal-01): the follow-up actions a client can take,
    * keyed exactly like the reference's response. */
  def links(queryId: String): Map[String, String] = Map(
    "self" -> s"/query/$queryId",
    "status" -> s"/query/$queryId/status",
    "preview" -> s"/query/$queryId/preview",
    "export" -> s"/query/$queryId/export"
  )

  /** Submit the reference's query shape; returns immediately with a query
    * id (cache hit returns the prior id without re-execution). */
  def submit(dataType: String, partitionColumn: String, partitionValue: String,
             fields: String = "*", condition: Option[String] = None): String =
    // Dataset analysis is eager (Spark 4): a bad column/syntax in
    // `condition` throws right here, so the build is inside the same
    // guard that turns plan errors into an async FAILED query.
    try submitPlan(QueryBuilder.build(catalog.table(dataType), partitionColumn,
      partitionValue, fields, condition))
    catch { case NonFatal(e) => failedQuery(e) }

  private def failedQuery(e: Throwable): String = {
    val queryId = UUID.randomUUID().toString
    putState(queryId, Failed(String.valueOf(e.getMessage)))
    queryId
  }

  // ── state transitions: every successful move is write-through appended
  //    to the registry log, so a kill -9 loses nothing (the reference's
  //    Redis persisted each transition as it happened) ───────────────────

  private def putState(queryId: String, st: State): Unit = {
    states.put(queryId, st)
    appendRegistry(stateLine(queryId, st))
  }

  /** CAS move; appends + returns true only if the transition won. */
  private def casState(queryId: String, from: State, to: State): Boolean = {
    val won = states.replace(queryId, from, to)
    if (won) appendRegistry(stateLine(queryId, to))
    won
  }

  /** Submit an arbitrary DataFrame as an async query (the engine surface
    * is wider than the reference's single shape — Layer C). */
  def submitPlan(df: DataFrame): String = {
    // Analysis errors (bad column, bad syntax deep in `condition`) surface
    // through the async status, like an Athena FAILED execution — the
    // submit endpoint itself stays non-throwing for plan bugs.
    val key = try {
      val plan = df.queryExecution.analyzed
      s"${plan.canonicalized.semanticHash()}:${inputDigest(plan)}"
    } catch {
      case NonFatal(e) => return failedQuery(e)
    }
    val now = clock()
    val cached = planCache.get(key)
    if (cached != null && now - cached._2 < cacheTtlMillis
        && states.get(cached._1) != null
        && !states.get(cached._1).isInstanceOf[Failed]
        && states.get(cached._1) != Cancelled) {
      return cached._1
    }
    val queryId = UUID.randomUUID().toString
    putState(queryId, Queued)
    planCache.put(key, (queryId, now))
    appendRegistry(s"C\t$key\t$queryId\t$now")
    pool.submit(new Runnable {
      def run(): Unit = {
        // CAS: if cancel() flipped QUEUED→CANCELLED first, replace fails
        // and we never run (the old get-then-put lost this race and
        // overwrote CANCELLED with RUNNING)
        if (!casState(queryId, Queued, Running)) return
        try {
          spark.sparkContext.setJobGroup(queryId, s"graft query $queryId",
            interruptOnCancel = true)
          // cancelJobGroup before setJobGroup is a no-op interrupt:
          // re-check state now that the group is registered, so a cancel
          // that raced the gap above still stops the query
          if (states.get(queryId) == Cancelled) return
          df.write.option("header", "true").mode("overwrite")
            .csv(resultPath(queryId))
          // CAS again: a cancel that landed mid-write wins the final state
          casState(queryId, Running, Succeeded)
        } catch {
          case NonFatal(e) =>
            casState(queryId, Running, Failed(String.valueOf(e.getMessage)))
        } finally spark.sparkContext.clearJobGroup()
      }
    })
    queryId
  }

  /** Poll status (the reference's `GET /query/{id}/status`, `app/main.py:
    * 234-277`): state + result location once SUCCEEDED. */
  def status(queryId: String): Option[Status] = {
    if (!isValidQueryId(queryId)) return None
    Option(states.get(queryId)).map { st =>
      // expiry is stamped at poll time, like the reference presigning a
      // fresh 3600s URL on every status call
      Status(queryId, st,
        if (st == Succeeded) Some(resultPath(queryId)) else None,
        if (st == Succeeded) Some(clock() + ResultTtlMillis) else None)
    }
  }

  /** CANCELLED state via Spark job-group cancellation. */
  def cancel(queryId: String): Boolean = {
    val won = casState(queryId, Queued, Cancelled) ||
      casState(queryId, Running, Cancelled)
    if (won) spark.sparkContext.cancelJobGroup(queryId)
    won
  }

  /** Preview (`app/main.py:361-424`): first `maxResults` rows of a
    * finished result **including the header as row 0**, every cell a
    * string (Athena's VarCharValue semantics). maxResults ∈ [1, 1000],
    * default 26 (= header + 25 data rows). */
  def preview(queryId: String, maxResults: Int = 26): Either[String, Seq[Seq[String]]] = {
    if (!isValidQueryId(queryId)) return Left(s"invalid query id: $queryId")
    if (maxResults < 1 || maxResults > 1000)
      return Left("maxResults must be within [1, 1000]")
    Option(states.get(queryId)) match {
      case None => Left(s"unknown query id: $queryId")
      case Some(Succeeded) =>
        val df = spark.read.option("header", "true").csv(resultPath(queryId))
        val header = df.columns.toSeq
        val rows = df.limit(maxResults - 1).collect().toSeq
          .map(_.toSeq.map(v => if (v == null) "" else String.valueOf(v)))
        Right(header +: rows)
      case Some(st) => Left(s"query not finished: $st")
    }
  }

  /** Test/ops hook: block until the query leaves QUEUED/RUNNING. */
  def await(queryId: String, timeoutMillis: Long = 120000): State = {
    val deadline = System.currentTimeMillis() + timeoutMillis
    while (System.currentTimeMillis() < deadline) {
      states.get(queryId) match {
        case Queued | Running => Thread.sleep(20)
        case other if other != null => return other
        case _ => throw new NoSuchElementException(queryId)
      }
    }
    throw new java.util.concurrent.TimeoutException(queryId)
  }

  // ── durable registry (reference role: Redis, `app/redis_setup.py:1-6`,
  //    shared by workers and surviving API restarts, `app/main.py:472-488`).
  //    Here: an append-only TSV transition log in the result dir — every
  //    state change lands on disk as it happens (write-through, so even a
  //    crashed engine resolves old query ids after restart), compacted to
  //    a clean snapshot on close. Last line per id wins on load. ─────────

  private def registryPath = java.nio.file.Paths.get(resultDir, "_registry.tsv")

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def stateLine(id: String, st: State): String = {
    val (name, err) = st match {
      case Succeeded => ("SUCCEEDED", "")
      case Cancelled => ("CANCELLED", "")
      case Failed(e) => ("FAILED", b64(String.valueOf(e)))
      case Queued => ("QUEUED", "")
      case Running => ("RUNNING", "")
    }
    s"S\t$id\t$name\t$err"
  }

  private def appendRegistry(line: String): Unit = registryLock.synchronized {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(resultDir))
    java.nio.file.Files.write(registryPath, (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  private def loadRegistry(): Unit = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(registryPath)) return
    java.nio.file.Files.readAllLines(registryPath).asScala.foreach { line =>
      // best-effort cache state: a corrupt/truncated line (crash mid-append)
      // is skipped, never a constructor failure that bricks the service
      try {
        line.split("\t", -1) match {
          case Array("S", id, name, err) =>
            val st = name match {
              case "SUCCEEDED" => Succeeded
              case "CANCELLED" => Cancelled
              // in-flight at crash: the Spark job died with the JVM
              case "QUEUED" | "RUNNING" => Failed("interrupted by engine restart")
              case _ => Failed(new String(
                java.util.Base64.getDecoder.decode(err), "UTF-8"))
            }
            states.put(id, st) // later lines overwrite: last transition wins
          // a key written before the input digest (a bare plan hash)
          // loads but never matches a current key
          case Array("C", key, id, at) => planCache.put(key, (id, at.toLong))
          case _ => ()
        }
      } catch { case NonFatal(_) => () }
    }
  }

  /** Clean-shutdown compaction: one line per id instead of the transition
    * log (loads are last-wins either way; this just keeps the file small). */
  private def persistRegistry(): Unit = {
    val sb = new StringBuilder
    states.forEach { (id, st) => sb.append(stateLine(id, st)).append("\n") }
    planCache.forEach { (k, v) => sb.append(s"C\t$k\t${v._1}\t${v._2}\n") }
    registryLock.synchronized {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(resultDir))
      java.nio.file.Files.write(registryPath, sb.toString.getBytes("UTF-8"))
    }
  }

  def close(): Unit = {
    pool.shutdown()
    // let in-flight queries finish (bounded) before snapshotting: a query
    // that completes during shutdown must be recorded SUCCEEDED, not
    // frozen as interrupted
    if (!pool.awaitTermination(30, TimeUnit.SECONDS)) pool.shutdownNow()
    persistRegistry()
  }
}
