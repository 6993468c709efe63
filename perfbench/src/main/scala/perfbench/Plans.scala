package perfbench

import scala.collection.mutable
import scala.util.Random

/** The reference query shape: `SELECT fields FROM table WHERE
  * partCol = partValue AND conjuncts...`. */
final case class RefQuery(table: String, partCol: String, partValue: String,
                          fields: Seq[String], conjuncts: Seq[String]) {
  def fieldList: String = fields.mkString(", ")
  def condition: String = conjuncts.mkString(" AND ")
  /** The same predicate with its conjuncts in another order. */
  def commuted: RefQuery = copy(conjuncts = conjuncts.reverse)
}

/** One service_mix client iteration: browse, a fresh query, preview, one
  * export, and optionally an AND-commuted re-submit of an earlier query
  * (an index into this client's own history). */
final case class Iteration(query: RefQuery, format: String, repeat: Option[Int])

sealed trait VectorOp
final case class Probe(kind: String, id: Long) extends VectorOp
final case class Remove(ids: Seq[Long]) extends VectorOp
final case class Append(ids: Seq[Long]) extends VectorOp
case object Compact extends VectorOp

/** Seeded operation sequences. Each draws from its own random stream, so
  * a client's sequence depends only on the seed and the client number,
  * never on timing. Mixes are dealt from shuffled decks rather than drawn
  * independently, so every seed runs nearly the same mix. */
object Plans {

  val Formats: Seq[String] = Seq("csv", "tsv", "json", "xml", "xlsx", "feather", "parquet")

  /** `fieldGroups`: one column is drawn from each group (longs, doubles,
    * strings, timestamps), so every query writes the same mix of types. */
  private final case class TableShape(name: String, partCol: String, partValues: Seq[String],
                                      key: String, keys: Long, filter: String, filterRange: (Int, Int),
                                      fieldGroups: Seq[Seq[String]], fractions: Seq[Double])

  // fractions of one partition (~200k lineitem rows, ~50k orders rows):
  // results run from ~1k to ~100k rows
  private val Shapes = Seq(
    TableShape("lineitem", "l_returnflag", Seq("A", "N", "R"), "l_orderkey", 150000L,
      "l_quantity <= %d", (49, 51), Seq(Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"), Seq("l_linestatus"),
        Seq("l_shipdate")),
      Seq(0.005, 0.02, 0.1, 0.5)),
    TableShape("orders", "o_orderstatus", Seq("F", "O", "P"), "o_orderkey", 150000L,
      "o_totalprice >= %d", (800, 5000), Seq(Seq("o_orderkey", "o_custkey"), Seq("o_totalprice"),
        Seq("o_orderpriority"), Seq("o_orderdate")),
      Seq(0.02, 0.2, 0.6)))

  /** Iterations per round: one per result-size stratum and one per format. */
  val RoundSize: Int = Formats.size
  /** AND-commuted re-submits per round (2 of 7, about a quarter). */
  val RepeatsPerRound = 2

  private def stream(seed: Long, salt: Long): Random = new Random(seed * 1000003L + salt)

  /** The rounds of service_mix client `client`. A round is seven
    * iterations: each result-size stratum once, each export format once,
    * paired by the seed, with two re-submits at seeded places. So every
    * round, whatever the seed, runs the same mix of sizes, formats and
    * cache hits. Query text never repeats within a client, so every fresh
    * submit misses the cache. */
  def serviceRounds(seed: Long, client: Int): Iterator[Seq[Iteration]] = {
    val rng = stream(seed, 101L + client)
    val strata = Shapes.flatMap(s => s.fractions.map(f => (s, f)))
    require(strata.size == RoundSize)
    val seen = mutable.HashSet.empty[RefQuery]
    var made = 0
    Iterator.continually {
      val repeatAt = rng.shuffle((1 until RoundSize).toList).take(RepeatsPerRound).toSet
      rng.shuffle(strata).zip(rng.shuffle(Formats)).zipWithIndex.map { case (((shape, f), format), i) =>
        var q = query(rng, shape, f)
        while (seen.contains(q)) q = query(rng, shape, f)
        seen += q
        val repeat = if (repeatAt(i)) Some(rng.nextInt(made)) else None
        made += 1
        Iteration(q, format, repeat)
      }
    }
  }

  private def query(rng: Random, shape: TableShape, fraction: Double): RefQuery = {
    val width = math.max(1L, (shape.keys * fraction).toLong)
    val lo = (rng.nextDouble() * (shape.keys - width)).toLong
    val (from, until) = shape.filterRange // keeps 96-100% of the rows
    RefQuery(shape.name, shape.partCol, shape.partValues(rng.nextInt(shape.partValues.size)),
      rng.shuffle(shape.fieldGroups.map(g => g(rng.nextInt(g.size)))),
      Seq(s"${shape.key} >= $lo", s"${shape.key} < ${lo + width}",
        shape.filter.format(from + rng.nextInt(until - from))))
  }

  /** One small query per table, for warming the service up. */
  def warmupQueries(seed: Long): Seq[RefQuery] = {
    val rng = stream(seed, 100L)
    Shapes.map(s => query(rng, s, s.fractions.head))
  }

  /** The four curation pipelines, in a seeded order for each pass. */
  val Pipelines: Seq[String] =
    Seq("c24_curation_v7", "c13_neardup_removed", "c12_dedup_exact", "c15_ppl_bigram_lang")

  def curationPasses(seed: Long): Iterator[Seq[String]] = {
    val rng = stream(seed, 201L)
    Iterator.continually(rng.shuffle(Pipelines))
  }

  val ProbeKinds: Seq[String] = Seq("ivf", "pq", "lsh")
}

object VectorPlan {
  /** One round: each IVF write verb once, each index kind probed twice. */
  val Pattern: Seq[String] =
    Seq("remove", "ivf", "pq", "lsh", "compact", "ivf", "pq", "lsh", "append")
  val Round: Int = Pattern.size
}

/** vector_lifecycle's operation stream, in rounds of [[VectorPlan.Pattern]]:
  * remove a batch of live ids from the IVF index (tombstoned), compact it
  * (which drops them physically), re-append that batch, with two probes of
  * each index kind between. It tracks which ids the IVF index serves, so
  * the probes and checks know what to expect. The seed picks the ids; the
  * rhythm is the same for every seed, so each run sees the same mix. */
final class VectorPlan(seed: Long, corpus: Int, val batch: Int = 20) {
  private val rng = new Random(seed * 1000003L + 301L)
  private var n = 0
  private val live = mutable.ArrayBuffer.tabulate(corpus)(_.toLong)
  private val liveSet = mutable.HashSet.from(live)
  /** Tombstoned, not yet compacted away. */
  val pending = mutable.LinkedHashSet.empty[Long]
  /** Physically dropped by a compaction; re-appended next. */
  private val gone = mutable.ArrayBuffer.empty[Long]

  def isLive(id: Long): Boolean = liveSet.contains(id)
  def liveCount: Int = live.size

  private def takeLive(): Long = {
    val i = rng.nextInt(live.size)
    val id = live(i)
    live(i) = live(live.size - 1)
    live.remove(live.size - 1)
    liveSet -= id
    id
  }

  def next(): VectorOp = {
    val step = VectorPlan.Pattern(n % VectorPlan.Round)
    n += 1
    step match {
      case "remove" =>
        val ids = Seq.fill(batch)(takeLive()).sorted
        pending ++= ids
        Remove(ids)
      case "compact" =>
        gone ++= pending
        pending.clear()
        Compact
      case "append" =>
        val ids = gone.toSeq.sorted
        gone.clear()
        ids.foreach { id => live += id; liveSet += id }
        Append(ids)
      case kind => Probe(kind, live(rng.nextInt(live.size)))
    }
  }
}
