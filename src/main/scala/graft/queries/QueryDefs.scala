package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.QueryBuilder
import graft.ops.{Dedup, IndexLifecycle, Ivf, Multimodal, Quantize, Relational, Similarity, Text}

/** One named query per implemented operator (SURVEY.md §2 checklist), each
  * with DuckDB oracle SQL where the semantics are SQL-expressible.
  *
  * Conventions shared with the oracle (the driver hash-compares values
  * after sorting columns by name):
  *  - every computed column is aliased identically on both sides;
  *  - floating-point aggregates are `round`-ed (2–4 dp) on both sides so
  *    summation-order FP noise can't flip the hash;
  *  - every LIMIT is preceded by a total order with a unique tie-break.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object QueryDefs {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.engine.Tables.read(s, dir, name)

  /** Build-once/serve-many ANN: materialize the `kind` index for the
    * corpus at `d` under /tmp ONCE (marker-gated), so the serve queries
    * measure the PROBE wall with training paid offline — exactly the
    * split a 100 TB deployment runs ([[Ivf.buildIndex]] /
    * [[Quantize.buildPqIndex]] Scaladoc). Keyed by the data dir, so
    * sf0.01 and sf0.1 never share an index; the marker is written only
    * after a completed build, so a crashed build rebuilds. */
  private def ensureServeIndex(s: SparkSession, d: String, kind: String): String = {
    // v5 = index layout version (v5: every index is a generation root —
    // an older plain dir is never read as a root): bump when any
    // persisted schema changes.
    // The dir is ALSO keyed by a corpus fingerprint (total bytes ⊕
    // rotated max-mtime ⊕ file count of the embeddings table), so a
    // regenerated corpus at the same path gets a fresh build instead of
    // a silently stale index. Single-driver contract: Verify/Bench runs
    // are sequential, so the marker-after-build protocol never races.
    val srcPath = new org.apache.hadoop.fs.Path(s"$d/embeddings.parquet")
    val srcFs = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stats = srcFs.listStatus(srcPath)
    val fp = java.lang.Long.toHexString(
      stats.map(_.getLen).sum ^
        java.lang.Long.rotateLeft(
          if (stats.isEmpty) 0L else stats.map(_.getModificationTime).max, 21) ^
        stats.length.toLong)
    val dir = s"/tmp/graft_ann_serve_v5_${Integer.toHexString(d.hashCode)}_$fp/$kind"
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_GRAFT_INDEX_OK")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      // marker absent ⇒ any lock here is a crashed build's orphan (the
      // single-driver contract above) — clear it or the recovery build
      // blocks on its own corpse for up to DefaultLeaseMs (review r16)
      IndexLifecycle.clearLock(s, dir)
      val corpus = t(s, d, "embeddings").filter(col("vec_id") =!= 0)
        .select("vec_id", "embedding")
      kind match {
        case "ivf" => Ivf.buildIndex(corpus, "vec_id", "embedding", dir)
        case "pq"  => Quantize.buildPqIndex(corpus, "vec_id", "embedding", dir)
        case "lsh" => Similarity.buildLshIndex(corpus, "vec_id", "embedding", dir)
      }
      fs.create(marker, true).close()
    }
    dir
  }

  /** The rebuild-lifecycle fixture (marker-gated like [[ensureServeIndex]],
    * sharing its fingerprint key): build the IVF index on HALF the
    * corpus, append the other half (appended_fraction ~0.5 — exactly the
    * finding-29 retrain threshold), then [[IndexLifecycle.rebuildIndex]]
    * retrains from the index's own rows. The marker lives OUTSIDE the
    * index root and is written only after a completed rebuild, so a
    * crash rebuilds. The per-run
    * query cost is the stats readout, not the training. */
  private def ensureRebuiltIndex(s: SparkSession, d: String): String = {
    val base = ensureServeIndex(s, d, "ivf")  // forces the shared parent dir
    val parent = base.stripSuffix("/ivf")
    val dir = s"$parent/ivf_rebuilt"
    val marker = new org.apache.hadoop.fs.Path(s"$parent/_GRAFT_REBUILD_OK")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      val corpus = t(s, d, "embeddings").filter(col("vec_id") =!= 0)
        .select("vec_id", "embedding")
      val half = corpus.agg(expr("percentile(vec_id, 0.5)")).head().getDouble(0)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      IndexLifecycle.clearLock(s, dir) // crashed-build orphan (see ensureServeIndex)
      Ivf.buildIndex(corpus.filter(col("vec_id") <= half),
        "vec_id", "embedding", dir)
      Ivf.appendIndex(corpus.filter(col("vec_id") > half),
        "vec_id", "embedding", dir)
      IndexLifecycle.rebuildIndex(s, dir)
      fs.create(marker, true).close()
    }
    dir
  }

  /** The deletion-vector lifecycle fixture: its OWN IVF dir (the shared
    * serve fixture must never be mutated — every serve probe's planted
    * expectations read it), marker-gated like [[ensureRebuiltIndex]].
    * The QUERY mutates this dir per run (tombstone-remove → probe →
    * compact), which is cross-run stable by construction: run 1 hides
    * then physically applies the victims; later runs re-tombstone ids
    * that no longer exist (a no-op by the removeIds contract), so the
    * probe result, live count, and post-compact backlog (0) never
    * change. */
  private[graft] def ensureTombIndex(s: SparkSession, d: String): String = {
    val base = ensureServeIndex(s, d, "ivf") // forces the shared parent dir
    val parent = base.stripSuffix("/ivf")
    val dir = s"$parent/ivf_tomb"
    val marker = new org.apache.hadoop.fs.Path(s"$parent/_GRAFT_TOMB_OK")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      IndexLifecycle.clearLock(s, dir) // crashed-build orphan (see ensureServeIndex)
      Ivf.buildIndex(
        t(s, d, "embeddings").filter(col("vec_id") =!= 0)
          .select("vec_id", "embedding"),
        "vec_id", "embedding", dir)
      fs.create(marker, true).close()
    }
    dir
  }

  /** Untimed warm-up of every marker-gated serve/lifecycle fixture
    * (r14 verdict #8): Bench calls this BEFORE pass 1 so the one-off
    * builds (16.9 s for the rebuild fixture on a fresh /tmp) land
    * outside the timed passes — min-of-2 already hides them from
    * totals, but the pass-1 numbers polluted the noise witness and
    * every session-spread read. The serve queries' own marker checks
    * then hit warm fixtures, the same way ScaleBench pre-materializes
    * its pair corpora. */
  def warmServeFixtures(s: SparkSession, d: String): Unit = {
    Seq("ivf", "pq", "lsh").foreach(kind => ensureServeIndex(s, d, kind))
    ensureRebuiltIndex(s, d)
    ensureTombIndex(s, d)
  }

  /** DuckDB replay of [[Text.bpeTrain]]'s merge loop as `n` UNROLLED SQL
    * stages (BPE training is a bounded iteration, so a non-recursive
    * unroll is exact — and DuckDB's recursive CTEs can't aggregate in the
    * recursive term anyway). Stage k: pair-count the stage-(k−1) symbol
    * table, argmax with the (cnt desc, l, r) tie-break, then apply the
    * merge with the GREEDY left-to-right overlap rule — candidate
    * positions form runs of consecutive indices (overlap is only possible
    * when l = r), and greedy-from-left keeps exactly the odd-numbered
    * positions within each run. CTEs are MATERIALIZED: DuckDB inlines
    * plain CTEs per reference, and each stage is referenced twice, so the
    * naive form re-plans the whole prefix 2^n times. */
  private def bpeReplayStage(k: Int): String = {
    val p = k - 1
    s"""
  pc$k AS MATERIALIZED (SELECT sym[i] AS l, sym[i+1] AS r, sum(wc) AS cnt
          FROM s$p, UNNEST(generate_series(1, len(sym)-1)) t(i)
          GROUP BY 1, 2),
  b$k AS MATERIALIZED (SELECT l, r, cnt FROM pc$k ORDER BY cnt DESC, l, r LIMIT 1),
  p$k AS MATERIALIZED (SELECT word, wc, sym, i,
           (sym[i] = (SELECT l FROM b$k) AND sym[i+1] = (SELECT r FROM b$k)) AS cand
         FROM s$p, UNNEST(generate_series(1, len(sym))) t(i)),
  c$k AS (SELECT word, i, i - row_number() OVER (PARTITION BY word ORDER BY i) AS g
         FROM p$k WHERE cand),
  m$k AS MATERIALIZED (SELECT word, i FROM (
           SELECT word, i, row_number() OVER (PARTITION BY word, g ORDER BY i) AS rr
           FROM c$k) WHERE rr % 2 = 1),
  s$k AS MATERIALIZED (SELECT p.word, p.wc,
           list(CASE WHEN m.i IS NOT NULL
                THEN (SELECT l FROM b$k) || (SELECT r FROM b$k)
                ELSE p.sym[p.i] END ORDER BY p.i) AS sym
         FROM p$k p LEFT JOIN m$k m ON m.word = p.word AND m.i = p.i
                   LEFT JOIN m$k m2 ON m2.word = p.word AND m2.i = p.i - 1
         WHERE m2.i IS NULL
         GROUP BY p.word, p.wc)"""
  }

  private def bpeReplayPrefix(n: Int): String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
  v AS (SELECT word, count(*) AS wc FROM tok WHERE len(word) > 0 GROUP BY word),
  s0 AS MATERIALIZED (SELECT word, wc, list_append(string_split(word, ''), '</w>') AS sym FROM v),""" +
      (1 to n).map(bpeReplayStage).mkString(",")

  /** Learned merge table: the b_k argmax rows, one per rank. A rank whose
    * pair table was empty (vocab exhausted) contributes zero rows — the
    * same early stop as the Spark loop. `cnt` casts to BIGINT because
    * DuckDB's sum returns HUGEINT, which pandas reads as float. */
  private def bpeTrainOracleSql(n: Int): String =
    bpeReplayPrefix(n) + "\n" + (1 to n).map(k =>
      s"""SELECT $k AS rank, l AS "left", r AS "right", l || r AS merged,
         CAST(cnt AS BIGINT) AS pair_count FROM b$k""")
      .mkString("\nUNION ALL ") + "\nORDER BY rank"

  /** [[bpeReplayPrefix]] over the GPT-2 BYTE alphabet: s0 symbols are
    * each word's UTF-8 bytes through bytes-to-unicode, built entirely in
    * SQL — the mapping table from `range(256)` (printable bytes to
    * themselves, the rest to 256+k in byte order, via a running
    * non-printable count), per-code-point UTF-8 byte arithmetic
    * (1/2/3/4-byte CASE), bytes ordered by (char index, byte index).
    * The merge stages are [[bpeReplayStage]] unchanged — byte-level BPE
    * is char-level BPE over the mapped alphabet. */
  private def bpeBytesReplayPrefix(n: Int): String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
  v AS (SELECT word, count(*) AS wc FROM tok WHERE len(word) > 0 GROUP BY word),
  bmap AS (SELECT b, CASE WHEN pr THEN chr(b) ELSE chr(256 + CAST(coalesce(
             sum(CASE WHEN pr THEN 0 ELSE 1 END) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)) END AS s
           FROM (SELECT CAST(t.range AS INTEGER) AS b,
                   ((t.range BETWEEN 33 AND 126) OR (t.range BETWEEN 161 AND 172)
                     OR (t.range BETWEEN 174 AND 255)) AS pr
                 FROM range(256) t)),
  wch AS (SELECT word, ci, unicode(ch) AS cp FROM (
            SELECT word, unnest(string_split(word, '')) AS ch,
                   generate_subscripts(string_split(word, ''), 1) AS ci FROM v)),
  wby AS (SELECT word, ci, generate_subscripts(bl, 1) AS bi, unnest(bl) AS byt FROM (
            SELECT word, ci,
              CASE WHEN cp < 128 THEN [cp]
                   WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
                   WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64, 128 + cp % 64]
                   ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64, 128 + (cp // 64) % 64, 128 + cp % 64]
              END AS bl FROM wch) t2),
  wsym AS (SELECT word, list(s ORDER BY ci, bi) AS bsym
           FROM wby JOIN bmap ON bmap.b = wby.byt GROUP BY word),
  s0 AS MATERIALIZED (SELECT v.word, v.wc, list_append(w.bsym, '</w>') AS sym
                      FROM v JOIN wsym w ON w.word = v.word),""" +
      (1 to n).map(bpeReplayStage).mkString(",")

  /** Unrolled replay of [[graft.ops.Similarity.mmrRerank]]'s greedy
    * selection (MMR is a bounded k-step recurrence, so — like the BPE
    * replay — a non-recursive unroll is exact, and DuckDB's recursive
    * CTEs couldn't aggregate in the recursive term anyway): top-`c`
    * candidates by 4-dp cosine, all pairwise 4-dp candidate cosines,
    * then stage i picks the (marginal desc, id) argmax of
    * λ·rel − (1−λ)·max(cos to selected). With 4-dp rel and redundancy
    * the marginal is a three-op IEEE double expression, bit-identical
    * between the Spark driver loop and DuckDB — with λ and (1 − λ)
    * forced to IEEE double on both sides (a bare 0.7 binds DECIMAL in
    * DuckDB, whose exact 1 − 0.7 = 0.3 is ONE ULP off the JVM's double
    * subtraction — the JM-LM oracle's lesson applied). */
  private def mmrOracleSql(k: Int, c: Int, lambda: String): String = {
    val stages = (2 to k).map { i =>
      s"""
  m$i AS MATERIALIZED (SELECT c.vec_id AS vec_id, $i AS rank,
          CAST($lambda AS DOUBLE) * c.rel
            - (CAST(1 AS DOUBLE) - CAST($lambda AS DOUBLE)) * max(p.cs) AS sc
        FROM cand c JOIN pc p ON p.a = c.vec_id
          AND p.b IN (SELECT vec_id FROM t${i - 1})
        WHERE c.vec_id NOT IN (SELECT vec_id FROM t${i - 1})
        GROUP BY c.vec_id, c.rel
        ORDER BY sc DESC, c.vec_id LIMIT 1),
  t$i AS MATERIALIZED (SELECT vec_id, rank, sc FROM t${i - 1}
        UNION ALL SELECT vec_id, rank, sc FROM m$i)"""
    }.mkString(",")
    s"""WITH q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
           generate_subscripts(embedding, 1) AS i
         FROM embeddings WHERE vec_id = 0),
  e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
          generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id <> 0),
  rel AS (SELECT e.vec_id,
            round(sum(e.v * q.v) / (sqrt(sum(e.v * e.v)) * sqrt(sum(q.v * q.v))), 4) AS rel
          FROM e JOIN q ON e.i = q.i GROUP BY e.vec_id),
  cand AS MATERIALIZED (SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id LIMIT $c),
  ce AS (SELECT e.vec_id, e.v, e.i FROM e
         WHERE e.vec_id IN (SELECT vec_id FROM cand)),
  nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM ce GROUP BY vec_id),
  pc AS MATERIALIZED (SELECT x.vec_id AS a, y.vec_id AS b,
          round(sum(x.v * y.v) / (nx.n * ny.n), 4) AS cs
        FROM ce x JOIN ce y ON x.i = y.i AND x.vec_id <> y.vec_id
        JOIN nrm nx ON nx.vec_id = x.vec_id
        JOIN nrm ny ON ny.vec_id = y.vec_id
        GROUP BY x.vec_id, y.vec_id, nx.n, ny.n),
  m1 AS MATERIALIZED (SELECT vec_id, 1 AS rank, CAST($lambda AS DOUBLE) * rel AS sc
        FROM cand ORDER BY sc DESC, vec_id LIMIT 1),
  t1 AS MATERIALIZED (SELECT vec_id, rank, sc FROM m1),$stages
SELECT vec_id, rank, round(sc, 6) AS mmr FROM t$k ORDER BY rank"""
  }

  private def bpeBytesOracleSql(n: Int): String =
    bpeBytesReplayPrefix(n) + "\n" + (1 to n).map(k =>
      s"""SELECT $k AS rank, l AS "left", r AS "right", l || r AS merged,
         CAST(cnt AS BIGINT) AS pair_count FROM b$k""")
      .mkString("\nUNION ALL ") + "\nORDER BY rank"

  /** Per-doc token counts under the learned tokenizer: the stage-n symbol
    * table IS each word's encoding (training state = progressively merged
    * vocab), so encode = len(sym) joined back to per-doc word counts. */
  private def bpeEncodeOracleSql(n: Int): String =
    bpeReplayPrefix(n) + s""",
  wl AS (SELECT word, len(sym) AS tok_len FROM s$n),
  dwc AS (SELECT doc_id, word, count(*) AS n FROM tok
          WHERE len(word) > 0 GROUP BY doc_id, word)
SELECT doc_id, CAST(sum(n * tok_len) AS BIGINT) AS n_bpe_tokens
FROM dwc JOIN wl USING (word) GROUP BY doc_id"""

  val all: Seq[QueryDef] = Seq(

    // ── Layer B: the reference's query surface ─────────────────────────
    QueryDef(
      "b1_scan_filter_project",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_returnflag") === lit("R") && col("l_quantity") > 30)
        .select("l_orderkey", "l_linenumber", "l_extendedprice"),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
              WHERE l_returnflag = 'R' AND l_quantity > 30""")
    ),

    // The reference's exact query shape (`SELECT {fields} FROM {t} WHERE
    // part='{v}' AND {condition}`) with l_returnflag as the species-analog
    // mandatory partition filter (reference app/main.py:479).
    QueryDef(
      "b2_reference_shape",
      (s, d) => QueryBuilder.build(
        t(s, d, "lineitem"),
        partitionColumn = "l_returnflag", partitionValue = "A",
        fields = "l_orderkey, l_partkey, l_quantity, l_extendedprice",
        condition = Some("l_quantity BETWEEN 10 AND 20 AND l_shipdate >= TIMESTAMP '1995-06-01'")
      ),
      Some("""SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice FROM lineitem
              WHERE l_returnflag = 'A' AND l_quantity BETWEEN 10 AND 20
                AND l_shipdate >= TIMESTAMP '1995-06-01'""")
    ),

    QueryDef(
      "b5_distinct",
      (s, d) => QueryBuilder.distinct(t(s, d, "orders"), "o_orderpriority"),
      Some("SELECT DISTINCT o_orderpriority FROM orders")
    ),

    QueryDef(
      "b6_limit_topn",
      (s, d) => t(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""")
    ),

    // B7: the scalar-expression grammar reachable through the reference's
    // condition/fields pass-through (CASE/LIKE/BETWEEN/string/math fns).
    QueryDef(
      "b7_expr_grammar",
      (s, d) => t(s, d, "part")
        .filter(expr("p_name LIKE '%a%' AND p_size BETWEEN 5 AND 45 AND p_type IS NOT NULL"))
        .selectExpr(
          "p_partkey",
          "upper(substr(p_name, 1, 5)) AS name5",
          "CASE WHEN p_size < 10 THEN 'small' WHEN p_size < 30 THEN 'medium' ELSE 'large' END AS size_class",
          "round(sqrt(p_retailprice), 3) AS sqrt_price",
          "coalesce(nullif(p_brand, 'Brand#33'), 'other') AS brand_adj"
        ),
      Some("""SELECT p_partkey, upper(substr(p_name, 1, 5)) AS name5,
                CASE WHEN p_size < 10 THEN 'small' WHEN p_size < 30 THEN 'medium' ELSE 'large' END AS size_class,
                round(sqrt(p_retailprice), 3) AS sqrt_price,
                coalesce(nullif(p_brand, 'Brand#33'), 'other') AS brand_adj
              FROM part
              WHERE p_name LIKE '%a%' AND p_size BETWEEN 5 AND 45 AND p_type IS NOT NULL""")
    ),

    // B7 date/time surface: Presto date_parse (MySQL %-format, shimmed
    // through PrestoCompat at plan time) + native trunc/extract/add/diff.
    // The oracle uses DuckDB's strptime — same %-tokens for the date part.
    QueryDef(
      "b7_datetime_grammar",
      (s, d) => {
        graft.functions.PrestoCompat.register(s)
        t(s, d, "orders")
          .filter(col("o_orderstatus") === "F")
          .selectExpr(
            "o_orderkey",
            "date_parse(date_format(o_orderdate, 'yyyy-MM-dd'), '%Y-%m-%d') AS reparsed",
            "year(o_orderdate) AS y",
            "month(o_orderdate) AS mo",
            "day(o_orderdate) AS dy",
            "date_trunc('month', o_orderdate) AS mon_start",
            "date_add(CAST(o_orderdate AS DATE), 30) AS plus30",
            "timestampdiff(DAY, date_trunc('month', o_orderdate), o_orderdate) AS day_in_month")
      },
      Some("""SELECT o_orderkey,
                     strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS reparsed,
                     year(o_orderdate) AS y, month(o_orderdate) AS mo, day(o_orderdate) AS dy,
                     date_trunc('month', o_orderdate) AS mon_start,
                     CAST(o_orderdate AS DATE) + 30 AS plus30,
                     date_diff('day', date_trunc('month', o_orderdate), o_orderdate) AS day_in_month
              FROM orders WHERE o_orderstatus = 'F'""")
    ),

    // B7 Presto string/array/json surface — the remaining name deltas a
    // reference user's raw `condition`/projection strings reach (SURVEY
    // §2 B7): strpos (1-based, 0 if absent; shimmed → StringInstr),
    // json_extract_scalar (shimmed → GetJsonObject), cardinality (a
    // native Spark alias of size). DuckDB speaks strpos natively; its
    // json_extract_string/len are the same semantics. date_diff is the
    // one documented NON-shim (Spark 4's native 2-arg form would be
    // shadowed) — PrestoCompatSpec pins the timestampdiff equivalent.
    // Casts to BIGINT match DuckDB's integer width.
    QueryDef(
      "b7_presto_strings",
      (s, d) => {
        graft.functions.PrestoCompat.register(s)
        t(s, d, "events")
          .filter(col("event_type").isin("click", "error"))
          .selectExpr(
            "event_id",
            "CAST(strpos(event_type, 'i') AS BIGINT) AS pos_i",
            "CAST(strpos(event_type, 'zz') AS BIGINT) AS pos_missing",
            "CAST(cardinality(split(event_type, 'r')) AS BIGINT) AS n_parts",
            "json_extract_scalar(props, '$.k') AS k_str")
      },
      Some("""SELECT event_id,
                     strpos(event_type, 'i') AS pos_i,
                     strpos(event_type, 'zz') AS pos_missing,
                     len(string_split(event_type, 'r')) AS n_parts,
                     json_extract_string(props, '$.k') AS k_str
              FROM events WHERE event_type IN ('click', 'error')""")
    ),

    // Presto date_diff through the CONDITION/FIELDS pass-through, spelled
    // exactly as a Presto caller writes it — quoted unit and all.
    // The quoted unit is a PARSER delta (Spark 4's grammar
    // owns 3-arg date_diff and wants an unquoted unit identifier with
    // identical truncated-elapsed-unit semantics), so the shim is the
    // rewriteDialect pass QueryBuilder applies to raw fragments, not a
    // registered function. DuckDB mirror: epoch-microsecond floor
    // division (diffs are positive — the anchor precedes every event —
    // so floor == trunc); the native 2-arg form rides along untouched.
    QueryDef(
      "b7_presto_datediff",
      (s, d) => graft.engine.QueryBuilder.select(
        t(s, d, "events"),
        fields = "event_id, " +
          "date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts) AS hrs_in, " +
          "date_diff('minute', TIMESTAMP '2024-01-01 00:00:00', ts) AS mins_in, " +
          "CAST(date_diff(CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT) AS native_days",
        condition = Some("event_type = 'click' AND " +
          "date_diff('day', TIMESTAMP '2024-01-01 00:00:00', ts) >= 1")),
      Some("""SELECT event_id,
                     (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) // 3600000000 AS hrs_in,
                     (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) // 60000000 AS mins_in,
                     date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS native_days
              FROM events WHERE event_type = 'click'
                AND (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) // 86400000000 >= 1""")
    ),

    // Presto date_add (quoted unit) + bare CAST(.. AS VARCHAR) through
    // the pass-through — the two parser-level deltas the r18 B7 closure
    // audit found still open (SURVEY §2 B7). Same rewriteDialect pass as
    // date_diff: Presto's `date_add('day', n, ts)` becomes Spark's
    // unquoted-unit 3-arg form (TimestampAdd, identical add-n-units
    // semantics), `CAST(x AS VARCHAR)` (no length — Presto's unbounded
    // varchar, which Spark's grammar rejects) becomes AS STRING. DuckDB
    // mirror: interval arithmetic + its own unbounded VARCHAR.
    QueryDef(
      "b7_presto_dateadd",
      (s, d) => graft.engine.QueryBuilder.select(
        t(s, d, "events"),
        fields = "event_id, " +
          "date_add('hour', 3, ts) AS plus3h, " +
          "dateadd('day', 1, ts) AS next_day, " +
          "CAST(event_id AS VARCHAR) AS id_str",
        condition = Some("event_type = 'view' AND " +
          "date_add('minute', 90, ts) > TIMESTAMP '2024-01-08 12:00:00'")),
      Some("""SELECT event_id,
                     ts + INTERVAL 3 HOUR AS plus3h,
                     ts + INTERVAL 1 DAY AS next_day,
                     CAST(event_id AS VARCHAR) AS id_str
              FROM events WHERE event_type = 'view'
                AND ts + INTERVAL 90 MINUTE > TIMESTAMP '2024-01-08 12:00:00'""")
    ),

    // ── Layer C: relational ────────────────────────────────────────────
    QueryDef(
      "c1_join_inner",
      (s, d) => t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        // Decimal-exact revenue: double summation order differs between Spark's
        // partitioned partial aggregates and DuckDB's scan order, flipping the
        // 2-dp round for sums near a half-cent boundary. Cast the term to
        // decimal BEFORE summing on both sides so the sum is order-independent.
        .agg(
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)")), 2)
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines")
        ),
      Some("""SELECT l_orderkey,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
                count(*) AS n_lines
              FROM customer JOIN orders ON c_custkey = o_custkey
                            JOIN lineitem ON l_orderkey = o_orderkey
              WHERE c_mktsegment = 'BUILDING' GROUP BY l_orderkey""")
    ),

    QueryDef(
      "c1_join_left",
      (s, d) => t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"), "left")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), count(col("c_custkey")).as("n_matched")),
      Some("""SELECT o_orderstatus, count(*) AS n_orders, count(c_custkey) AS n_matched
              FROM orders LEFT JOIN customer ON o_custkey = c_custkey
              GROUP BY o_orderstatus""")
    ),

    QueryDef(
      "c1_join_full",
      (s, d) => t(s, d, "nation")
        .join(t(s, d, "supplier"), col("n_nationkey") === col("s_nationkey"), "full")
        .select("n_name", "s_name"),
      Some("""SELECT n_name, s_name FROM nation
              FULL OUTER JOIN supplier ON n_nationkey = s_nationkey""")
    ),

    QueryDef(
      "c1_join_right",
      (s, d) => t(s, d, "supplier")
        .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"), "right")
        .select("n_name", "s_name"),
      Some("""SELECT n_name, s_name FROM supplier
              RIGHT JOIN nation ON s_nationkey = n_nationkey""")
    ),

    QueryDef(
      "c2_semi_join",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_acctbal"),
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
              WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")
    ),

    QueryDef(
      "c2_anti_join",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")
    ),

    // C3: star join — every dimension side explicitly broadcast; only the
    // fact↔orders join shuffles. TPC-H Q5 shape.
    QueryDef(
      "c3_star_join_broadcast",
      (s, d) => {
        val dims = broadcast(
          t(s, d, "customer")
            .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
            .join(broadcast(t(s, d, "region").filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
            .select("c_custkey", "n_name")
        )
        t(s, d, "lineitem")
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(dims, col("o_custkey") === col("c_custkey"))
          .groupBy("n_name")
          // decimal-cast before summing: order-independent (see c1_join_inner)
          .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)")), 2)
            .cast("double").as("revenue"))
      },
      Some("""SELECT n_name, CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                            JOIN customer ON o_custkey = c_custkey
                            JOIN nation ON c_nationkey = n_nationkey
                            JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA' GROUP BY n_name""")
    ),

    // C4: point-in-band range join. The non-equi side is a 5-row broadcast
    // (BroadcastNestedLoop with a tiny build side) — the scalable shape for
    // point-in-interval joins; never BNL two large sides.
    QueryDef(
      "c4_range_join",
      (s, d) => t(s, d, "orders")
        .join(
          broadcast(t(s, d, "region")),
          col("o_totalprice") >= col("r_regionkey") * 100000.0 &&
            col("o_totalprice") < (col("r_regionkey") + 1) * 100000.0
        )
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total")),
      Some("""SELECT r_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
              FROM orders JOIN region
                ON o_totalprice >= r_regionkey * 100000.0
               AND o_totalprice < (r_regionkey + 1) * 100000.0
              GROUP BY r_name""")
    ),

    // C5: as-of join — most recent order at/before each event's timestamp.
    // Orders pre-projected to the 3 needed columns: the max_by struct is
    // opaque to Catalyst's column pruning, so without this the full
    // 9-column row would ride through the join and the aggregate.
    // C4b interval-overlap join (the genomics shape): customer/supplier
    // keys become half-open coordinate ranges; binned equi-join with
    // first-bin dedup — never a nested loop. Oracle is the plain theta
    // join (DuckDB's IEJoin handles sf0.01 fine; ours must scale past it).
    QueryDef(
      "c4_interval_join",
      (s, d) => Relational.intervalJoin(
          t(s, d, "customer").select(col("c_custkey"),
            (col("c_custkey") * 100).as("start"), (col("c_custkey") * 100 + 250).as("end")),
          t(s, d, "supplier").select(col("s_suppkey"),
            (col("s_suppkey") * 1000).as("start"), (col("s_suppkey") * 1000 + 5000).as("end")),
          "c_custkey", "start", "end", "s_suppkey", "start", "end",
          binWidth = 1000)
        .select(col("a_id").as("c_custkey"), col("b_id").as("s_suppkey"),
          col("overlap_len")),
      Some("""SELECT c.c_custkey, s.s_suppkey,
                     least(c.c_custkey * 100 + 250, s.s_suppkey * 1000 + 5000)
                       - greatest(c.c_custkey * 100, s.s_suppkey * 1000) AS overlap_len
              FROM customer c JOIN supplier s
                ON c.c_custkey * 100 < s.s_suppkey * 1000 + 5000
               AND s.s_suppkey * 1000 < c.c_custkey * 100 + 250""")
    ),

    // C4c nearest-feature join (bedtools `closest` within a window):
    // customer point-features to the nearest supplier range within 2000.
    // Binned candidate join + one min_by hash aggregate; oracle picks
    // per-point argmin with a row_number window.
    QueryDef(
      "c4_nearest_join",
      (s, d) => Relational.nearestIntervalJoin(
          t(s, d, "customer").select(col("c_custkey"),
            (col("c_custkey") * 137).as("start"), (col("c_custkey") * 137 + 1).as("end")),
          t(s, d, "supplier").select(col("s_suppkey"),
            (col("s_suppkey") * 1000).as("start"), (col("s_suppkey") * 1000 + 300).as("end")),
          "c_custkey", "start", "end", "s_suppkey", "start", "end",
          maxDist = 2000, binWidth = 1000)
        .select(col("a_id").as("c_custkey"), col("b_id").as("s_suppkey"), col("dist")),
      Some("""WITH a AS (SELECT c_custkey AS a_id, c_custkey * 137 AS s1,
                                c_custkey * 137 + 1 AS e1 FROM customer),
                b AS (SELECT s_suppkey AS b_id, s_suppkey * 1000 AS s2,
                             s_suppkey * 1000 + 300 AS e2 FROM supplier),
                cand AS (SELECT a_id, b_id,
                                greatest(0, s2 - e1, s1 - e2) AS dist
                         FROM a JOIN b ON greatest(0, s2 - e1, s1 - e2) <= 2000),
                r AS (SELECT a_id, b_id, dist,
                             row_number() OVER (PARTITION BY a_id
                                                ORDER BY dist, b_id) AS rn
                      FROM cand)
              SELECT a_id AS c_custkey, b_id AS s_suppkey, CAST(dist AS BIGINT) AS dist
              FROM r WHERE rn = 1""")
    ),

    QueryDef(
      "c5_asof_join",
      (s, d) => Relational.asOfJoin(
        t(s, d, "events").select("event_id", "user_id", "ts"),
        t(s, d, "orders").select("o_custkey", "o_orderdate", "o_orderkey"),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        leftIdCol = "event_id", rightTieBreak = "o_orderkey"
      ).select(col("event_id"), col("o_orderkey").as("last_orderkey")),
      Some("""SELECT event_id, o_orderkey AS last_orderkey FROM (
                SELECT e.event_id, o.o_orderkey,
                       row_number() OVER (PARTITION BY e.event_id
                                          ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
                FROM events e JOIN orders o
                  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) t
              WHERE rn = 1""")
    ),

    // C6: TPC-H Q1 — partial (map-side) + final hash aggregate.
    QueryDef(
      "c6_agg_q1",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("n")
        ),
      Some("""SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
                round(avg(l_quantity), 4) AS avg_qty,
                count(*) AS n
              FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
              GROUP BY l_returnflag, l_linestatus""")
    ),

    QueryDef(
      "c6_agg_stats",
      (s, d) => t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          round(stddev_samp(col("o_totalprice")), 2).as("sd_price"),
          round(min("o_totalprice"), 2).as("min_price"),
          round(max("o_totalprice"), 2).as("max_price"),
          countDistinct(col("o_custkey")).as("n_custs"),
          array_join(sort_array(collect_set(col("o_orderpriority"))), ",").as("priorities")
        ),
      Some("""SELECT o_orderstatus,
                round(stddev_samp(o_totalprice), 2) AS sd_price,
                round(min(o_totalprice), 2) AS min_price,
                round(max(o_totalprice), 2) AS max_price,
                count(DISTINCT o_custkey) AS n_custs,
                array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS priorities
              FROM orders GROUP BY o_orderstatus""")
    ),

    // C6 pivot: per-orderstatus revenue columns by priority bucket.
    QueryDef(
      "c6_pivot",
      (s, d) => t(s, d, "orders")
        .withColumn("prio", substring(col("o_orderpriority"), 1, 1))
        .groupBy("o_orderstatus")
        .pivot("prio", Seq("1", "2", "3", "4", "5"))
        .agg(round(sum("o_totalprice"), 2))
        .withColumnsRenamed((1 to 5).map(i => i.toString -> s"p$i").toMap),
      Some("""SELECT o_orderstatus,
                round(sum(CASE WHEN prio = '1' THEN o_totalprice END), 2) AS p1,
                round(sum(CASE WHEN prio = '2' THEN o_totalprice END), 2) AS p2,
                round(sum(CASE WHEN prio = '3' THEN o_totalprice END), 2) AS p3,
                round(sum(CASE WHEN prio = '4' THEN o_totalprice END), 2) AS p4,
                round(sum(CASE WHEN prio = '5' THEN o_totalprice END), 2) AS p5
              FROM (SELECT o_orderstatus, substring(o_orderpriority, 1, 1) AS prio,
                           o_totalprice FROM orders) t
              GROUP BY o_orderstatus""")
    ),

    // C6 correlation/covariance between quantity and price.
    QueryDef(
      "c6_corr",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(corr("l_quantity", "l_extendedprice"), 4).as("corr_qp"),
          round(covar_samp("l_quantity", "l_extendedprice"), 2).as("covar_qp")
        ),
      Some("""SELECT l_returnflag, round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
                round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp
              FROM lineitem GROUP BY l_returnflag""")
    ),

    QueryDef(
      "c7_rollup",
      (s, d) => t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n")),
      Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
              FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""")
    ),

    QueryDef(
      "c7_cube",
      (s, d) => t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(round(sum("l_extendedprice"), 2).as("sum_price"), count(lit(1)).as("n")),
      Some("""SELECT l_returnflag, l_linestatus, round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
              FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""")
    ),

    QueryDef(
      "c7_grouping_sets",
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("lineitem_gs")
        s.sql("""SELECT l_returnflag, l_linestatus,
                        round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
                 FROM lineitem_gs
                 GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")
      },
      Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
              FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")
    ),

    // C22: typed UDAF (Aggregator) — geometric mean, partial-agg capable.
    QueryDef(
      "c22_udaf_geomean",
      (s, d) => t(s, d, "part")
        .groupBy("p_brand")
        .agg(round(graft.functions.Aggregators.geoMean(col("p_retailprice")), 4)
          .as("geo_price")),
      Some("""SELECT p_brand, round(exp(avg(ln(p_retailprice))), 4) AS geo_price
              FROM part GROUP BY p_brand""")
    ),

    // Exact percentiles with linear interpolation (both engines'
    // continuous-quantile semantics).
    // Skew-resistant two-phase salted aggregation (AQE covers join skew
    // only, NOT aggregation skew — this is the manual idiom for power-law
    // keys at 100 TB). Salt is internal; results must equal the direct
    // groupBy, which is exactly what the oracle computes.
    QueryDef(
      "c6_salted_agg",
      (s, d) => Relational.saltedAgg(
        t(s, d, "lineitem"), Seq("l_returnflag"), saltBuckets = 16,
        aggs = Seq(
          ("sum_qty", sum(_: org.apache.spark.sql.Column), sum(_: org.apache.spark.sql.Column)),
          ("n", count(_: org.apache.spark.sql.Column), sum(_: org.apache.spark.sql.Column)),
          ("max_price", max(_: org.apache.spark.sql.Column), max(_: org.apache.spark.sql.Column))),
        valueCols = Seq("l_quantity", "l_quantity", "l_extendedprice"))
        .select(col("l_returnflag"), round(col("sum_qty"), 2).as("sum_qty"),
          col("n"), round(col("max_price"), 2).as("max_price")),
      Some("""SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
                     count(*) AS n, round(max(l_extendedprice), 2) AS max_price
              FROM lineitem GROUP BY l_returnflag""")
    ),

    // C23: deterministic content-stable train/val split — hash-bucketed
    // by md5(id) hex prefix (lexicographic on fixed-length hex = numeric),
    // so membership survives reordering and corpus growth, unlike
    // position- or RNG-based splits. Pure codegen projection, zero
    // shuffle; the oracle runs the SAME expression (0.75 = 0xc000/0x10000).
    QueryDef(
      "c23_train_val_split",
      (s, d) => graft.ops.Relational.hashSplit(
          t(s, d, "documents"), "doc_id", trainFrac = 0.75)
        .select(col("doc_id"), col("split")),
      Some("""SELECT doc_id,
                     CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'c000'
                          THEN 'train' ELSE 'val' END AS split
              FROM documents""")
    ),

    // C23: deterministic epoch shuffle — reproducible training-data
    // ordering: rank by md5(id:seed), stable under cluster size /
    // partitioning / file layout (rand(seed) is not), reshuffled per
    // epoch seed. The query takes the epoch HEAD under the total
    // (key, id) order — TakeOrderedAndProject, no global sort — then
    // numbers the bounded frame (50-row window, finding-21-sized).
    QueryDef(
      "c23_epoch_shuffle",
      (s, d) => {
        val top = graft.ops.Relational.epochShuffle(
            t(s, d, "documents").select("doc_id"), "doc_id", seed = 42L)
          .orderBy(col("epoch_key"), col("doc_id")).limit(50)
        top.withColumn("pos", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("epoch_key"), col("doc_id"))))
          .select(col("pos"), col("doc_id"), col("epoch_key"))
      },
      Some("""SELECT row_number() OVER (ORDER BY epoch_key, doc_id) AS pos,
                     doc_id, epoch_key
              FROM (SELECT doc_id,
                           md5(CAST(doc_id AS VARCHAR) || ':42') AS epoch_key
                    FROM documents ORDER BY epoch_key, doc_id LIMIT 50) t""")
    ),

    // C6 composition: daily cohort retention — users grouped by first-seen
    // day, counted per day-offset of later activity (the other standard
    // event-analytics query next to the funnel). Shape: distinct
    // (user, day) activity, a user-keyed min aggregate for the cohort,
    // one user-keyed join, one (cohort, offset) aggregate — every
    // aggregate folds map-side; nothing is users-sized on the driver.
    QueryDef(
      "c6_retention",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
        ev.join(cohort, Seq("user_id"))
          .groupBy(col("cohort_day"),
            datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
                cohort AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
              SELECT cohort.cohort_day AS cohort_day,
                     date_diff('day', cohort.cohort_day, ev.day) AS day_offset,
                     count(*) AS n_users
              FROM ev JOIN cohort USING (user_id)
              GROUP BY 1, 2""")
    ),

    QueryDef(
      "c6_percentiles",
      (s, d) => t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 2).as("median_price"),
          round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90_price")
        ),
      Some("""SELECT o_orderstatus,
                round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
                round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price
              FROM orders GROUP BY o_orderstatus""")
    ),

    // C6 composition: group-wise z-score outlier detection — the standard
    // data-quality pass before training-data ingestion. Two-pass shape:
    // one map-side-folding stats aggregate per group, stats joined back to
    // the stream (AQE broadcasts the group-keyed side when it is small,
    // shuffles when it is not — no smallness assumption), z computed as a
    // codegen projection. NOT a window over the group: a window ships and
    // sorts every row by group key and serializes skewed groups through
    // one task; the agg+join form folds map-side and rejoins hash-to-hash.
    // The |z| > 2 filter gates ROW MEMBERSHIP on the group stats, so the
    // stats must be bit-identical on both engines — avg/stddev over
    // doubles are summation-order-dependent (the DECIMAL-accumulation
    // invariant, here flipping set membership, not a rounded digit).
    // Sums run over
    // DECIMAL(19,6) (exact, order-free; 19 not 18 — DuckDB types the
    // square as DECIMAL(w1+w2 capped at 38, 12), and at (18,6)² the cap
    // leaves 6 integer digits, overflowing for |value| ≥ 1000); the
    // variance numerator is clamped at 0 (the E[x²]−E[x]² form can go
    // fractionally negative on zero-variance groups: DuckDB sqrt throws,
    // Spark yields NaN and NaN-largest ordering would EMIT those rows);
    // σ > 0 then excludes zero-variance groups identically on both
    // sides (0/0 is NaN in Spark but NULL in DuckDB — never compared).
    // The cast widths DIFFER per engine on purpose: both must keep the
    // square EXACT at scale 12. DuckDB types (w1,6)·(w2,6) as
    // (min(w1+w2,38),12) — needs (19,6) so the integer part gets 26
    // digits; Spark types it (p1+p2+1, s1+s2) and at (19,6)² the
    // precision 39 > 38 triggers scale REDUCTION to (38,11), silently
    // rounding the 12th digit — so Spark stays at (18,6), whose (37,12)
    // product is exact. Same VALUES either way (scale-6 cast + exact
    // sums); only the type headroom differs.
    QueryDef(
      "c6_zscore_outliers",
      (s, d) => {
        val ev = t(s, d, "events")
          .withColumn("v6", col("value").cast("decimal(18,6)"))
        val stats = ev.groupBy("event_type").agg(
          sum(col("v6")).as("s1"), sum(col("v6") * col("v6")).as("s2"),
          count(lit(1)).as("n"))
        ev.join(stats, Seq("event_type"))
          .withColumn("mu", col("s1").cast("double") / col("n"))
          .withColumn("sigma", sqrt(greatest(
            (col("s2").cast("double") - col("n") * col("mu") * col("mu")) /
              (col("n") - 1), lit(0.0))))
          .withColumn("z", (col("v6").cast("double") - col("mu")) / col("sigma"))
          .filter(col("sigma") > 0 && abs(col("z")) > 2)
          .select(col("event_id"), col("event_type"), round(col("z"), 2).as("z"))
      },
      Some("""WITH e AS (SELECT event_id, event_type,
                                CAST(value AS DECIMAL(19,6)) AS v6 FROM events),
                stats AS (SELECT event_type, sum(v6) AS s1, sum(v6 * v6) AS s2,
                                 count(*) AS n
                          FROM e GROUP BY event_type),
                z AS (SELECT event_id, e.event_type AS event_type,
                             sqrt(greatest((CAST(s2 AS DOUBLE)
                                   - n * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                                  / (n - 1), 0)) AS sigma,
                             (CAST(v6 AS DOUBLE) - CAST(s1 AS DOUBLE) / n) /
                             sqrt(greatest((CAST(s2 AS DOUBLE)
                                   - n * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                                  / (n - 1), 0)) AS z
                      FROM e JOIN stats USING (event_type))
              SELECT event_id, event_type, round(z, 2) AS z
              FROM z WHERE sigma > 0 AND abs(z) > 2""")
    ),

    // C22 scalar UDF (black-box Scala function; prefer native expressions
    // on hot paths — this pins the registration surface itself).
    QueryDef(
      "c22_udf_scalar",
      (s, d) => {
        val rev = udf((name: String) => name.reverse)
        t(s, d, "nation").select(col("n_nationkey"), rev(col("n_name")).as("rev_name"))
      },
      Some("SELECT n_nationkey, reverse(n_name) AS rev_name FROM nation")
    ),

    // C8: HLL++ sketch — estimates are implementation-specific, so no SQL
    // oracle (driver records rows-only); exactness is spec-tested against
    // count_distinct at small scale.
    QueryDef(
      "c8_approx_distinct",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_suppkey")).as("approx_supps")
        ),
      None
    ),

    // Quantile sketch (GK/approx_percentile): the other mergeable sketch a
    // 100 TB aggregation needs — exact percentile sorts every group value,
    // the sketch merges map-side partials. DuckDB's approx_quantile is a
    // different sketch (t-digest), so no value oracle; SketchSpec bounds
    // the error against exact percentile instead.
    QueryDef(
      "c8_approx_percentile",
      (s, d) => t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(expr("approx_percentile(o_totalprice, array(0.5, 0.9), 1000)").as("pct"))
        .select(col("o_orderstatus"),
          round(element_at(col("pct"), 1), 2).as("p50_approx"),
          round(element_at(col("pct"), 2), 2).as("p90_approx")),
      None
    ),

    // C8: Misra-Gries heavy hitters — the frequent-items sketch next to
    // HLL (distincts) and GK (quantiles): m counters, mergeable, folds
    // map-side. Estimates are merge-order-dependent (rows-only); the
    // deterministic guarantees (every > n/(m+1) item present, est within
    // [true − n/(m+1), true]) are pinned in SketchSpec.
    QueryDef(
      "c8_heavy_hitters",
      (s, d) => t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .agg(graft.functions.Aggregators.heavyHitters(col("word"), 50).as("hh"))
        .select(explode(expr("arrays_zip(hh.items, hh.counts)")).as("z"))
        .select(col("z.items").as("item"), col("z.counts").as("est")),
      None
    ),

    QueryDef(
      "c9_window_running",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, d, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"),
          round(sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_spend"),
          lag("o_orderkey", 1).over(w).as("prev_order")
        )
      },
      Some("""SELECT o_custkey, o_orderkey,
                CAST(row_number() OVER w AS INTEGER) AS rn,
                round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
                lag(o_orderkey, 1) OVER w AS prev_order
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""")
    ),

    QueryDef(
      "c9_window_rank",
      (s, d) => {
        val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders").select(
          col("o_orderstatus"), col("o_orderkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"),
          lead("o_orderkey", 1).over(w).as("next_order")
        )
      },
      Some("""SELECT o_orderstatus, o_orderkey,
                CAST(rank() OVER w AS INTEGER) AS rnk,
                CAST(dense_rank() OVER w AS INTEGER) AS drnk,
                CAST(ntile(4) OVER w AS INTEGER) AS quartile,
                lead(o_orderkey, 1) OVER w AS next_order
              FROM orders
              WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)""")
    ),

    // C9 distribution windows: percent_rank/cume_dist — exact rational
    // arithmetic ((rank-1)/(n-1), rank/n) computed identically by both
    // engines, so 4-dp rounding is hash-safe. Same (partition, order) for
    // both functions: one exchange + one sort serves the pair.
    // Skew note: o_orderstatus has 3 distinct
    // values, so each window partition holds ~n/3 of the FACT table —
    // per-partition volume scales with the data, and at 100 TB each
    // status sorts inside one task. That is inherent to exact per-group
    // distribution statistics (the ranks ARE a per-group total order);
    // when the consumer only needs a normalized score, the agg+join
    // z-score form (c6_zscore_outliers: one hash aggregate + broadcast
    // join, no per-group sort) is the skew-safe alternative.
    QueryDef(
      "c9_window_dist",
      (s, d) => {
        val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, d, "orders").select(
          col("o_orderstatus"), col("o_orderkey"),
          round(percent_rank().over(w), 4).as("pct_rank"),
          round(cume_dist().over(w), 4).as("cdist")
        )
      },
      Some("""SELECT o_orderstatus, o_orderkey,
                round(percent_rank() OVER w, 4) AS pct_rank,
                round(cume_dist() OVER w, 4) AS cdist
              FROM orders
              WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)""")
    ),

    // C9 composition: ordered funnel (view -> click-after-view ->
    // purchase-after-that) per user, counted per stage — the classic
    // event-analytics query over the events table. Three cumulative-max
    // windows over the SAME (partition, order): one exchange + one sort,
    // the later Window operators reuse the ordering (no re-shuffle — the
    // scale shape that makes staged funnels viable on a long event log).
    // Ties broken by event_id so the cumulative flags are deterministic.
    QueryDef(
      "c9_funnel",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .withColumn("seen_view",
            max(when(col("event_type") === "view", 1).otherwise(0)).over(w))
          .withColumn("seen_click",
            max(when(col("event_type") === "click" && col("seen_view") === 1, 1)
              .otherwise(0)).over(w))
          .withColumn("seen_purchase",
            max(when(col("event_type") === "purchase" && col("seen_click") === 1, 1)
              .otherwise(0)).over(w))
          .groupBy("user_id")
          .agg(max("seen_view").as("sv"), max("seen_click").as("sc"),
            max("seen_purchase").as("sp"))
          .agg(sum("sv").cast("long").as("n_view"),
            sum("sc").cast("long").as("n_view_click"),
            sum("sp").cast("long").as("n_funnel"))
      },
      Some("""WITH s1 AS (SELECT user_id, event_type, ts, event_id,
                       max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seen_view
                     FROM events),
                s2 AS (SELECT *,
                       max(CASE WHEN event_type = 'click' AND seen_view = 1 THEN 1 ELSE 0 END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seen_click
                     FROM s1),
                s3 AS (SELECT *,
                       max(CASE WHEN event_type = 'purchase' AND seen_click = 1 THEN 1 ELSE 0 END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seen_purchase
                     FROM s2),
                u AS (SELECT user_id, max(seen_view) AS sv, max(seen_click) AS sc,
                             max(seen_purchase) AS sp
                      FROM s3 GROUP BY user_id)
              SELECT CAST(sum(sv) AS BIGINT) AS n_view,
                     CAST(sum(sc) AS BIGINT) AS n_view_click,
                     CAST(sum(sp) AS BIGINT) AS n_funnel
              FROM u""")
    ),

    QueryDef(
      "c10_topk_per_group",
      (s, d) => Relational.topKPerGroup(
        t(s, d, "lineitem").select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
        groupCols = Seq("l_returnflag"),
        orderBy = Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")),
        k = 5
      ),
      Some("""SELECT * FROM (
                SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                       CAST(row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INTEGER) AS rk
                FROM lineitem) t
              WHERE rk <= 5""")
    ),

    QueryDef(
      "c11_union_agg",
      (s, d) => t(s, d, "customer").select(lit("c").as("src"), col("c_nationkey").as("nationkey"))
        .unionAll(t(s, d, "supplier").select(lit("s").as("src"), col("s_nationkey").as("nationkey")))
        .groupBy("src", "nationkey")
        .agg(count(lit(1)).as("n")),
      Some("""SELECT src, nationkey, count(*) AS n FROM (
                SELECT 'c' AS src, c_nationkey AS nationkey FROM customer
                UNION ALL
                SELECT 's' AS src, s_nationkey AS nationkey FROM supplier) t
              GROUP BY src, nationkey""")
    ),

    QueryDef(
      "c11_intersect",
      (s, d) => t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))),
      Some("""SELECT c_nationkey AS nationkey FROM customer
              INTERSECT
              SELECT s_nationkey AS nationkey FROM supplier""")
    ),

    QueryDef(
      "c11_except",
      (s, d) => t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .except(t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))),
      Some("""SELECT c_nationkey AS nationkey FROM customer
              EXCEPT
              SELECT s_nationkey AS nationkey FROM supplier""")
    ),

    QueryDef(
      "c11_union_distinct",
      (s, d) => t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct(),
      Some("""SELECT c_nationkey AS nationkey FROM customer
              UNION
              SELECT s_nationkey AS nationkey FROM supplier""")
    ),

    // ── Layer C: LLM-pipeline extensions ───────────────────────────────
    QueryDef(
      "c12_dedup_exact",
      (s, d) => Dedup.exact(t(s, d, "lineitem"), Seq("l_partkey", "l_suppkey"), "l_orderkey"),
      Some("""SELECT l_partkey, l_suppkey, min(l_orderkey) AS l_orderkey, count(*) AS dup_count
              FROM lineitem GROUP BY l_partkey, l_suppkey""")
    ),

    QueryDef(
      "c12_dedup_text",
      (s, d) => Dedup.exact(t(s, d, "documents"), Seq("text"), "doc_id"),
      Some("""SELECT text, min(doc_id) AS doc_id, count(*) AS dup_count
              FROM documents GROUP BY text""")
    ),

    // C12 cross-snapshot flavor: incremental-ingest dedup — a
    // new batch dedupes AGAINST the accumulated corpus via a count-gated
    // Bloom prefilter + exact text verify; the existing corpus is scanned
    // but never shuffled under the gate. The batch plants re-ingested
    // copies (doc_id%6==1 re-idded) that must drop, alongside genuinely
    // new rows (doc_id%3==0) that must survive. Oracle is the exact
    // anti-join semantics (NOT EXISTS keeps NULL-text rows, matching the
    // operator's NULL routing).
    QueryDef(
      "c12_incremental_dedup",
      (s, d) => {
        val docs = t(s, d, "documents")
        val existing = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
          .unionAll(docs.filter(pmod(col("doc_id"), lit(6)) === 1)
            .withColumn("doc_id", col("doc_id") + lit(1000000L)))
        Dedup.incrementalDedup(existing, batch, "doc_id", "text")
          .select("doc_id", "lang", "n_chars")
      },
      Some("""WITH existing AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
                batch AS (SELECT doc_id, text, lang, n_chars FROM documents WHERE doc_id % 3 = 0
                          UNION ALL
                          SELECT doc_id + 1000000, text, lang, n_chars
                          FROM documents WHERE doc_id % 6 = 1)
              SELECT b.doc_id, b.lang, b.n_chars FROM batch b
              WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.text = b.text)""")
    ),

    // C12/C13 bridge: the digest-keyed representative
    // collapse (repCollapse — the exchange carries (length, xxhash64)
    // digests and ids, never document text; rep text returns through the
    // count-gated id semi-join). Same answer as GROUP BY text, which is
    // exactly what the oracle checks.
    QueryDef(
      "c13_rep_collapse",
      (s, d) => Dedup.repCollapse(
          t(s, d, "documents").filter(col("text").isNotNull), "doc_id", "text")
        .select(col("doc_id"), md5(col("text")).as("text_md5")),
      Some("""SELECT min(doc_id) AS doc_id, md5(text) AS text_md5
              FROM documents WHERE text IS NOT NULL GROUP BY text""")
    ),

    // Survivorship POLICY variant: keep the "best" copy per
    // exact-dup group instead of the min id — the RefinedWeb rule. Text
    // is identical within a group, so the score is metadata; here
    // recency (the id itself: keep the NEWEST copy). Same digest-keyed
    // exchange, oracled as GROUP BY text with max(doc_id).
    QueryDef(
      "c12_dedup_keep_newest",
      (s, d) => Dedup.repCollapseBest(
          t(s, d, "documents").filter(col("text").isNotNull), "doc_id", "text",
          score = col("doc_id").cast("double"))
        .select(col("doc_id"), md5(col("text")).as("text_md5")),
      Some("""SELECT max(doc_id) AS doc_id, md5(text) AS text_md5
              FROM documents WHERE text IS NOT NULL GROUP BY text""")
    ),

    // C12 per-source duplication report: the pre-mixing table a data
    // team reads (which source is 40% dup). Docs in corpus-wide exact-dup
    // groups and min-id-removable copies per source, digest-keyed with
    // the collision-verified exact fallback — counts are exact, and the
    // oracle computes them from plain GROUP BY text.
    QueryDef(
      "c12_dup_rate_by_source",
      (s, d) => Dedup.dupRateBySource(t(s, d, "documents"),
        "doc_id", "text", "source"),
      Some("""WITH g AS (SELECT text, count(*) AS n, min(doc_id) AS rid
                         FROM documents WHERE text IS NOT NULL GROUP BY text),
                m AS (SELECT d.doc_id, d.source, g.n, g.rid
                      FROM documents d JOIN g USING (text)
                      WHERE d.text IS NOT NULL)
              SELECT source, count(*) AS n_docs,
                     CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
                     CAST(sum(CASE WHEN n >= 2 AND doc_id <> rid THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_removable,
                     round(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END)::DOUBLE
                           / count(*), 4) AS dup_rate
              FROM m GROUP BY source""")
    ),

    // C13 exact flavor: 3-gram shingle Jaccard ≥ 0.6 via inverted-index
    // self-join (no cross join). maxDf=100 drops stop-shingles — the
    // quadratic-pair cut that keeps pair-gen near-linear at scale; the
    // oracle mirrors it with a HAVING on the shingle df.
    QueryDef(
      "c13_jaccard_ngram",
      (s, d) => Dedup.jaccardNearDup(t(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.6, maxDf = Some(100)),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 2)) t(i)),
                keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
                shk AS (SELECT doc, sh.shingle FROM sh JOIN keep ON sh.shingle = keep.shingle),
                cnt AS (SELECT doc, count(*) AS n_sh FROM shk GROUP BY doc),
                pair AS (SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
                         FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc < b.doc
                         GROUP BY 1, 2)
              SELECT doc_a, doc_b, round(common * 1.0 / (ca.n_sh + cb.n_sh - common), 4) AS jaccard
              FROM pair JOIN cnt ca ON ca.doc = doc_a JOIN cnt cb ON cb.doc = doc_b
              WHERE common * 1.0 / (ca.n_sh + cb.n_sh - common) >= 0.6""")
    ),

    // C13 forced-gate twin of c13_jaccard_ngram: sigBroadcastBytes = -1
    // forces the finding-35 MERGE kernel verify tail (sig-carrying prefix
    // join, verify inline, dedup after the filter) even though the sf0.01/
    // sf0.1 signature tables sit under the gate — so the scale-critical
    // tail runs under the DuckDB oracle (the driver's hard signal), not
    // only under DedupSpec's pair-for-pair equality. The oracle SQL is
    // c13_jaccard_ngram's VERBATIM: the two tails are result-identical by
    // construction, so the oracle is shared for free.
    QueryDef(
      "c13_jaccard_kernel",
      (s, d) => Dedup.jaccardNearDup(t(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.6, maxDf = Some(100), sigBroadcastBytes = -1L),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 2)) t(i)),
                keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
                shk AS (SELECT doc, sh.shingle FROM sh JOIN keep ON sh.shingle = keep.shingle),
                cnt AS (SELECT doc, count(*) AS n_sh FROM shk GROUP BY doc),
                pair AS (SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
                         FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc < b.doc
                         GROUP BY 1, 2)
              SELECT doc_a, doc_b, round(common * 1.0 / (ca.n_sh + cb.n_sh - common), 4) AS jaccard
              FROM pair JOIN cnt ca ON ca.doc = doc_a JOIN cnt cb ON cb.doc = doc_b
              WHERE common * 1.0 / (ca.n_sh + cb.n_sh - common) >= 0.6""")
    ),

    // C13 applied: the corpus with near-duplicates REMOVED (greedy min-id
    // survivor over the Jaccard pairs) — identify + drop, end to end.
    QueryDef(
      "c13_neardup_removed",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.removeNearDups(docs, "doc_id",
          Dedup.jaccardNearDup(docs, "doc_id", "text", n = 3, threshold = 0.6, maxDf = Some(100)))
          .select("doc_id", "lang", "n_chars")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 2)) t(i)),
                keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
                shk AS (SELECT doc, sh.shingle FROM sh JOIN keep ON sh.shingle = keep.shingle),
                cnt AS (SELECT doc, count(*) AS n_sh FROM shk GROUP BY doc),
                pair AS (SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
                         FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc < b.doc
                         GROUP BY 1, 2),
                dups AS (SELECT doc_b FROM pair
                         JOIN cnt ca ON ca.doc = doc_a JOIN cnt cb ON cb.doc = doc_b
                         WHERE common * 1.0 / (ca.n_sh + cb.n_sh - common) >= 0.6)
              SELECT doc_id, lang, n_chars FROM documents
              WHERE doc_id NOT IN (SELECT doc_b FROM dups)""")
    ),

    // C13 edit-distance flavor for short strings (names/titles):
    // levenshtein pair join on a small blocked candidate set.
    QueryDef(
      "c13_levenshtein",
      (s, d) => {
        val a = t(s, d, "nation").select(col("n_name").as("name_a"))
        val b = t(s, d, "nation").select(col("n_name").as("name_b"))
        a.crossJoin(broadcast(b))
          .filter(col("name_a") < col("name_b"))
          .select(col("name_a"), col("name_b"),
            levenshtein(col("name_a"), col("name_b")).as("dist"))
          .filter(col("dist") <= 4)
      },
      Some("""SELECT a.n_name AS name_a, b.n_name AS name_b,
                CAST(levenshtein(a.n_name, b.n_name) AS INTEGER) AS dist
              FROM nation a JOIN nation b ON a.n_name < b.n_name
              WHERE levenshtein(a.n_name, b.n_name) <= 4""")
    ),

    // C13 transitive closure: duplicate clusters as connected components
    // (A~B, B~C => one cluster). Oracle via DuckDB recursive CTE.
    QueryDef(
      "c13_dedup_components",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.connectedComponents(
          Dedup.jaccardNearDup(docs, "doc_id", "text", n = 3, threshold = 0.6, maxDf = Some(100)))
          .select(col("node").cast("long").as("node"), col("comp").cast("long").as("comp"))
      },
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 2)) t(i)),
                keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
                shk AS (SELECT doc, sh.shingle FROM sh JOIN keep ON sh.shingle = keep.shingle),
                cnt AS (SELECT doc, count(*) AS n_sh FROM shk GROUP BY doc),
                pr AS (SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
                       FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc < b.doc
                       GROUP BY 1, 2),
                pair AS (SELECT doc_a, doc_b FROM pr
                         JOIN cnt ca ON ca.doc = doc_a JOIN cnt cb ON cb.doc = doc_b
                         WHERE common * 1.0 / (ca.n_sh + cb.n_sh - common) >= 0.6),
                edges AS (SELECT doc_a AS src, doc_b AS dst FROM pair
                          UNION ALL SELECT doc_b, doc_a FROM pair),
                reach AS (
                  SELECT DISTINCT src AS node, src AS comp FROM edges
                  UNION
                  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node),
              labels AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node)
              SELECT CAST(node AS BIGINT) AS node, CAST(comp AS BIGINT) AS comp FROM labels""")
    ),

    // Dedup audit metric: the cluster-size histogram (how many dup
    // clusters of each size — the number a curation run reports before
    // committing a removal). GROUP BY twice over the component labels;
    // oracle extends the recursive-CTE component computation.
    QueryDef(
      "c13_cluster_sizes",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.connectedComponents(
          Dedup.jaccardNearDup(docs, "doc_id", "text", n = 3, threshold = 0.6, maxDf = Some(100)))
          .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").cast("long").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"))
      },
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 2)) t(i)),
                keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
                shk AS (SELECT doc, sh.shingle FROM sh JOIN keep ON sh.shingle = keep.shingle),
                cnt AS (SELECT doc, count(*) AS n_sh FROM shk GROUP BY doc),
                pr AS (SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
                       FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc < b.doc
                       GROUP BY 1, 2),
                pair AS (SELECT doc_a, doc_b FROM pr
                         JOIN cnt ca ON ca.doc = doc_a JOIN cnt cb ON cb.doc = doc_b
                         WHERE common * 1.0 / (ca.n_sh + cb.n_sh - common) >= 0.6),
                edges AS (SELECT doc_a AS src, doc_b AS dst FROM pair
                          UNION ALL SELECT doc_b, doc_a FROM pair),
                reach AS (
                  SELECT DISTINCT src AS node, src AS comp FROM edges
                  UNION
                  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node),
                labels AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
                sizes AS (SELECT comp, count(*) AS sz FROM labels GROUP BY comp)
              SELECT CAST(sz AS BIGINT) AS cluster_size, count(*) AS n_clusters
              FROM sizes GROUP BY sz""")
    ),

    // C13 approximate flavor: MinHash + LSH banding (deterministic seeded
    // hashes; estimates aren't SQL-expressible → rows-only + specs).
    QueryDef(
      "c13_minhash_lsh",
      (s, d) => Dedup.minhashLshCandidates(
        t(s, d, "documents"), "doc_id", "text",
        n = 3, bands = 8, rowsPerBand = 4, estThreshold = 0.5
      ),
      None
    ),

    QueryDef(
      "c13_simhash",
      (s, d) => Dedup.simhash(t(s, d, "documents"), "doc_id", "text"),
      None
    ),

    // SimHash SEARCH: hamming-close pairs via band blocking (pigeonhole
    // over maxHamming+1 bands — candidate gen is a 16-bit-band equi-join,
    // never an all-pairs XOR scan). Rows-only: xxhash64-based signatures
    // aren't DuckDB-expressible; pair semantics spec-tested.
    QueryDef(
      "c13_simhash_pairs",
      (s, d) => Dedup.simhashNearDup(t(s, d, "documents"), "doc_id", "text",
        maxHamming = 3),
      None
    ),

    // C13 embedding flavor: near-dup by embedding cosine over LSH buckets
    // (rows-only; pair semantics spec-tested with planted duplicates).
    QueryDef(
      "c13_embedding_neardup",
      (s, d) => Dedup.embeddingNearDup(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.15),
      None
    ),

    // C13 semantic flavor (SemDeDup): KMeans-cluster the embeddings, prune
    // cosine-duplicates within each cluster. Rows-only: KMeans centroids
    // are seed/float-order dependent; survivor semantics spec-tested with
    // planted exact+near duplicates (DedupSpec). Cell count sized from
    // the corpus (cellsFor — k ∝ n keeps pair generation linear; a
    // fixed k makes candidate pairs quadratic).
    QueryDef(
      "c13_semantic_dedup",
      (s, d) => Dedup.semanticDedupSized(t(s, d, "embeddings"), "vec_id", "embedding",
          tau = 0.85)
        .select(col("vec_id"), col("label")),
      None
    ),

    // C14: exact brute-force cosine top-10 around vec_id=0. Oracle computes
    // the dot product in double via an indexed unnest join (DuckDB's
    // list_inner_product accumulates in float, which would flip the 4 dp
    // rounding).
    QueryDef(
      "c14_cosine_topk",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteForceTopK(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10
        )
      },
      Some("""WITH q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
                                generate_subscripts(embedding, 1) AS i
                         FROM embeddings WHERE vec_id = 0),
                e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                             generate_subscripts(embedding, 1) AS i
                      FROM embeddings WHERE vec_id <> 0),
                dots AS (SELECT e.vec_id, sum(e.v * q.v) AS dot, sum(e.v * e.v) AS ne,
                                sum(q.v * q.v) AS nq
                         FROM e JOIN q ON e.i = q.i GROUP BY e.vec_id)
              SELECT vec_id, round(dot / (sqrt(ne) * sqrt(nq)), 4) AS sim
              FROM dots ORDER BY sim DESC, vec_id LIMIT 10""")
    ),

    // Filtered exact search (the per-tenant / metadata-predicate RAG
    // shape): on Spark a metadata predicate IS the filter — pushed to
    // the scan ahead of the TakeOrderedAndProject top-k — so the exact
    // form is a composition, no new operator (the serve-side analog,
    // FAISS's IDSelector, is `c14_ann_serve_filtered` below). Oracle
    // replays c14_cosine_topk's double-accumulated cosine under the
    // same predicate.
    QueryDef(
      "c14_filtered_topk",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteForceTopK(
          emb.filter(col("vec_id") =!= 0 && col("label") === 3),
          "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10
        )
      },
      Some("""WITH q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
                                generate_subscripts(embedding, 1) AS i
                         FROM embeddings WHERE vec_id = 0),
                e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                             generate_subscripts(embedding, 1) AS i
                      FROM embeddings WHERE vec_id <> 0 AND label = 3),
                dots AS (SELECT e.vec_id, sum(e.v * q.v) AS dot, sum(e.v * e.v) AS ne,
                                sum(q.v * q.v) AS nq
                         FROM e JOIN q ON e.i = q.i GROUP BY e.vec_id)
              SELECT vec_id, round(dot / (sqrt(ne) * sqrt(nq)), 4) AS sim
              FROM dots ORDER BY sim DESC, vec_id LIMIT 10""")
    ),

    // Exact RANGE search (FAISS range_search): the full qualifying set
    // at rounded cosine >= 0.3 — no k, no LIMIT, so the total order
    // exists purely for the deterministic-output contract. Oracle
    // replays the double-accumulated cosine and the same
    // round-then-compare.
    QueryDef(
      "c14_range_search",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.rangeSearch(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", tau = 0.3)
      },
      Some("""WITH q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
                                generate_subscripts(embedding, 1) AS i
                         FROM embeddings WHERE vec_id = 0),
                e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                             generate_subscripts(embedding, 1) AS i
                      FROM embeddings WHERE vec_id <> 0),
                dots AS (SELECT e.vec_id, sum(e.v * q.v) AS dot, sum(e.v * e.v) AS ne,
                                sum(q.v * q.v) AS nq
                         FROM e JOIN q ON e.i = q.i GROUP BY e.vec_id)
              SELECT vec_id, round(dot / (sqrt(ne) * sqrt(nq)), 4) AS sim
              FROM dots WHERE round(dot / (sqrt(ne) * sqrt(nq)), 4) >= 0.3
              ORDER BY sim DESC, vec_id""")
    ),

    // Hybrid retrieval: BM25 lexical top-20 + exact cosine dense top-20
    // fused by reciprocal rank fusion (1/(60+rank)). Both input lists are
    // rank-deterministic (each orders by its ROUNDED score with an id
    // tie-break), contributions round 12 dp and sum through DECIMAL, so
    // the fused ranking hashes identically. Fusion itself is O(k) rows —
    // the corpus-sized work lives in the two producers.
    // Id namespaces: the synthetic corpus generates embeddings 1:1 with
    // documents (vec_id ≡ doc_id — embeddings.parquet row i embeds
    // documents.parquet row i), so fusing vec_id against doc_id is the
    // aligned-id case, mirrored by the oracle. A corpus without that
    // alignment must join embeddings to its doc-id mapping first, or
    // unrelated entities with colliding numeric ids would merge their
    // RRF contributions.
    QueryDef(
      "c14_hybrid_rrf",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val dense = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 20)
        val lex = Text.bm25(t(s, d, "documents"), "doc_id", "text",
          Seq("hash", "join", "customer"))
        Similarity.rrfFuse(Seq((dense, "vec_id", "sim"), (lex, "doc", "bm25")))
          .select(col("id").as("doc_id"), col("rrf"))
      },
      Some("""WITH q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
                                generate_subscripts(embedding, 1) AS i
                         FROM embeddings WHERE vec_id = 0),
                e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                             generate_subscripts(embedding, 1) AS i
                      FROM embeddings WHERE vec_id <> 0),
                dots AS (SELECT e.vec_id, sum(e.v * q.v) AS dot,
                                sum(e.v * e.v) AS ne, sum(q.v * q.v) AS nq
                         FROM e JOIN q ON e.i = q.i GROUP BY e.vec_id),
                dense AS (SELECT vec_id AS id,
                            round(dot / (sqrt(ne) * sqrt(nq)), 4) AS s
                          FROM dots ORDER BY s DESC, vec_id LIMIT 20),
                lens AS (SELECT doc_id, len(string_split(text, ' ')) AS doc_len
                         FROM documents),
                st AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avglen FROM lens),
                tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                        FROM documents),
                hits AS (SELECT l.doc_id, l.doc_len, t.token,
                           count(*)::DOUBLE AS tf
                         FROM tok t JOIN lens l USING (doc_id)
                         WHERE t.token IN ('hash', 'join', 'customer')
                         GROUP BY l.doc_id, l.doc_len, t.token),
                dft AS (SELECT token, count(*)::DOUBLE AS df FROM hits GROUP BY token),
                lex AS (SELECT doc_id AS id,
                          CAST(round(sum(CAST(
                            ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
                            (tf + 1.2 * (1 - 0.75 + 0.75 * doc_len / avglen))
                            AS DECIMAL(18,6))), 4) AS DOUBLE) AS s
                        FROM hits JOIN dft USING (token) CROSS JOIN st
                        GROUP BY doc_id ORDER BY s DESC, doc_id LIMIT 20),
                u AS (SELECT id, CAST(round(1.0 /
                        (60 + row_number() OVER (ORDER BY s DESC, id)), 12)
                        AS DECIMAL(18,12)) AS c FROM dense
                      UNION ALL
                      SELECT id, CAST(round(1.0 /
                        (60 + row_number() OVER (ORDER BY s DESC, id)), 12)
                        AS DECIMAL(18,12)) AS c FROM lex)
              SELECT id AS doc_id, CAST(round(sum(c), 6) AS DOUBLE) AS rrf
              FROM u GROUP BY id ORDER BY rrf DESC, doc_id LIMIT 10""")
    ),

    // MMR diversification over a top-50 exact-cosine candidate list:
    // greedy λ·rel − (1−λ)·max-sim-to-selected, driver-side over the
    // k-bounded list (the corpus scan lives in the producer). Oracled by
    // the UNROLLED 10-stage replay (mmrOracleSql): 4-dp rel/redundancy
    // make each marginal a three-op IEEE expression, so the SQL argmax
    // walks the exact same selections; SimilaritySpec additionally pins
    // planted redundant-candidate demotion and determinism.
    QueryDef(
      "c14_mmr_rerank",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cand = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 50)
          .join(emb, Seq("vec_id")) // ≤50-row side broadcasts
        Similarity.mmrRerank(cand, "vec_id", "sim", "embedding",
          lambda = 0.7, k = 10)
      },
      Some(mmrOracleSql(k = 10, c = 50, lambda = "0.7"))
    ),

    // Embedding-space prototypicality pruning (Sorscher et al. NeurIPS'22):
    // cosine of every vector to its label's centroid, least-prototypical
    // 10 reported — the outlier slice a pruning pass would drop first.
    // Centroid means and every product sum accumulate through
    // DECIMAL(18,6) (order-independent) so the oracle replays each score
    // bit-for-bit; the centroid frame is |labels|·dim rows and broadcasts
    // under the count gate, so the corpus never shuffles on this path.
    QueryDef(
      "c14_embedding_outliers",
      (s, d) => {
        val scored = Similarity.prototypeScores(
          t(s, d, "embeddings"), "vec_id", "embedding", "label")
        scored.orderBy(col("sim").asc, col("vec_id")).limit(10)
      },
      Some("""WITH e AS (SELECT vec_id, label,
                                CAST(unnest(embedding) AS DOUBLE) AS v,
                                generate_subscripts(embedding, 1) AS i
                         FROM embeddings),
                cen AS (SELECT label, i,
                          round(CAST(sum(CAST(round(v, 6) AS DECIMAL(18,6)))
                                     AS DOUBLE) / count(*), 6) AS c
                        FROM e GROUP BY label, i),
                nc AS (SELECT label,
                         CAST(sum(CAST(c * c AS DECIMAL(18,6))) AS DOUBLE) AS nc
                       FROM cen GROUP BY label),
                d AS (SELECT e.vec_id, e.label,
                        CAST(sum(CAST(e.v * cen.c AS DECIMAL(18,6))) AS DOUBLE) AS dot,
                        CAST(sum(CAST(e.v * e.v AS DECIMAL(18,6))) AS DOUBLE) AS ne
                      FROM e JOIN cen ON e.label = cen.label AND e.i = cen.i
                      GROUP BY e.vec_id, e.label)
              SELECT d.vec_id, d.label,
                     round(d.dot / (sqrt(d.ne) * sqrt(nc.nc)), 4) AS sim
              FROM d JOIN nc ON d.label = nc.label
              WHERE d.ne > 0 AND nc.nc > 0
              ORDER BY sim ASC, d.vec_id LIMIT 10""")
    ),

    // C14 batched exact top-k — the realistic search shape (a PROBE BATCH
    // of 5 queries, one corpus pass): broadcast nested-loop scoring, then
    // per-query rank <= k planned as WindowGroupLimit (partial group
    // limits before the rank exchange — the batched TakeOrderedAndProject
    // analog). Oracle mirrors the double-accumulated indexed-unnest dot
    // product per (query, vector), ranked on the ROUNDED sim + id.
    QueryDef(
      "c14_cosine_topk_batch",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteForceTopKBatch(
          emb.filter(col("vec_id") >= 5), "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3)
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                                generate_subscripts(embedding, 1) AS i
                         FROM embeddings WHERE vec_id < 5),
                e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                             generate_subscripts(embedding, 1) AS i
                      FROM embeddings WHERE vec_id >= 5),
                dots AS (SELECT q.query_id, e.vec_id, sum(e.v * q.v) AS dot,
                                sum(e.v * e.v) AS ne, sum(q.v * q.v) AS nq
                         FROM e JOIN q ON e.i = q.i GROUP BY q.query_id, e.vec_id),
                ranked AS (SELECT query_id, vec_id,
                                  round(dot / (sqrt(ne) * sqrt(nq)), 4) AS sim,
                                  row_number() OVER (PARTITION BY query_id
                                    ORDER BY round(dot / (sqrt(ne) * sqrt(nq)), 4) DESC,
                                             vec_id) AS rnk
                           FROM dots)
              SELECT query_id, vec_id, sim, CAST(rnk AS INTEGER) AS rnk
              FROM ranked WHERE rnk <= 3""")
    ),

    // C14 batched LSH probe (rows-only: hyperplane buckets aren't DuckDB-
    // expressible; per-query k-rows + recall gated in SimilaritySpec).
    // One corpus index pass serves all queries; a query whose probe came
    // back short of k falls back to the exact scan PER QUERY.
    QueryDef(
      "c14_ann_topk_batch",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.lshTopKBatchSized(
          emb.filter(col("vec_id") >= 5), "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3)
      },
      None
    ),

    // C14 scale path: hyperplane-LSH bucketed candidate pairs (rows-only;
    // recall vs brute force is spec-tested). Plane count sized from the
    // corpus (planesFor + table compensation) — a fixed count on a query
    // path is the finding-17 quadratic.
    QueryDef(
      "c14_ann_lsh_pairs",
      (s, d) => Similarity.lshCandidatePairsSized(t(s, d, "embeddings"), "vec_id", "embedding"),
      None
    ),

    // C14 query path: probe-only ANN top-k (IVF-style bucket probe).
    QueryDef(
      "c14_ann_topk",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        // planes sized by bucket OCCUPANCY (probePlanesFor), not the
        // pair rule — the pair sizing collapses probe recall on
        // moderate-cosine neighbors (measured: 0 rows); and a
        // < k probe result falls back to the exact scan, so a search
        // degrades recall but never answers "nothing"
        Similarity.lshTopKSized(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10
        )
      },
      None
    ),

    // C14 IVF variant: KMeans coarse quantizer (sample-trainable) +
    // nprobe cell scan. Rows-only; recall mechanics spec-tested.
    QueryDef(
      "c14_ann_ivf",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        // the COMPOSED sized entry point: cell count
        // from cellsForSearch (nlist ≈ √(nprobe·n) — a fixed k makes the
        // probe a constant corpus fraction at scale), sample-trained
        // quantizer (the 100 TB posture: train on sampled vectors, never
        // the corpus), and past HierarchicalCellsThreshold cells (~4M
        // vectors) topKSized switches to the two-level residual quantizer
        // automatically — the caller no longer has to know the regime.
        Ivf.topKSized(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10,
          nprobe = 4, sampleFraction = 0.25, maxIter = 5)
      },
      None
    ),

    // C14 batched IVF probe: the serving shape on the KMeans
    // index — one inverted-file pass answers the whole probe batch,
    // per-query WindowGroupLimit rank, per-query exact fallback.
    // Rows-only like c14_ann_ivf (KMeans centroids seed/float-order
    // dependent); batch==single + fallback specs in IvfSpec.
    QueryDef(
      "c14_ann_ivf_batch",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        // the composed sized entry point, batch form: cells from
        // cellsForSearch, automatic residual switch past the threshold
        Ivf.topKBatchSized(emb.filter(col("vec_id") >= 5), "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3,
          nprobe = 4, sampleFraction = 0.25, maxIter = 5)
      },
      None
    ),

    // C14 on the two-level residual quantizer — the search analog of the
    // hierarchical semantic-dedup path (the regime where a single-level
    // centroid count stops scaling; see Dedup.cellsFor). Rows-only like
    // c14_ann_ivf (KMeans centroids are seed/float-order dependent);
    // recall gated >= 0.8 vs brute force in IvfSpec.
    QueryDef(
      "c14_ann_ivf2",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        // √-of-the-search-sized-count per level: k1·k2 ≈ cellsForSearch(n)
        val kLevel = math.max(2, math.ceil(
          math.sqrt(Ivf.cellsForSearch(emb.count()).toDouble)).toInt)
        val rq = Ivf.trainResidualQuantizer(emb, "embedding",
          k1 = kLevel, k2 = kLevel, sampleFraction = 0.25, maxIter = 5)
        Ivf.topKResidual(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10, rq,
          nprobe1 = 2, nprobe2 = 2)
      },
      None
    ),

    // C14 memory lever: exact top-k over int8-quantized embeddings (4x
    // smaller column). ORACLED: symmetric int8
    // quantization is deterministic arithmetic, so DuckDB can mirror it
    // bit-for-bit — the float32 steps are pinned with REAL casts
    // (qscale is stored float32; a dequantized element is an IEEE float32
    // product, which equals the exact double product rounded to REAL),
    // everything else runs in double exactly like the Spark side
    // (Divide coerces float inputs to double; CosineSim accumulates in
    // double over array<double> casts).
    QueryDef(
      "c14_quantized_topk",
      (s, d) => {
        val emb = Quantize.toInt8(t(s, d, "embeddings"), "embedding")
          .withColumn("deq", Quantize.dequantize(col("qvec"), col("qscale")))
        Similarity.bruteForceTopK(
          emb.filter(col("vec_id") =!= 0), "vec_id", "deq",
          emb.filter(col("vec_id") === 0), "deq", k = 10)
      },
      Some("""WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                                generate_subscripts(embedding, 1) AS i
                         FROM embeddings),
                s AS (SELECT vec_id, CAST(max(abs(v)) / 127.0 AS REAL) AS qscale
                      FROM x GROUP BY vec_id),
                dq AS (SELECT x.vec_id, x.i,
                              CAST(CAST(CASE WHEN s.qscale = 0 THEN 0.0
                                   ELSE round(x.v / CAST(s.qscale AS DOUBLE))
                                        * CAST(s.qscale AS DOUBLE) END AS REAL)
                                   AS DOUBLE) AS dv
                       FROM x JOIN s ON x.vec_id = s.vec_id),
                q AS (SELECT i, dv FROM dq WHERE vec_id = 0),
                e AS (SELECT vec_id, i, dv FROM dq WHERE vec_id <> 0),
                dots AS (SELECT e.vec_id, sum(e.dv * q.dv) AS dot,
                                sum(e.dv * e.dv) AS ne, sum(q.dv * q.dv) AS nq
                         FROM e JOIN q ON e.i = q.i GROUP BY e.vec_id)
              SELECT vec_id, round(dot / (sqrt(ne) * sqrt(nq)), 4) AS sim
              FROM dots ORDER BY sim DESC, vec_id LIMIT 10""")
    ),

    // Product-quantized two-stage search (Jegou et al. TPAMI 2011; the
    // FAISS ADC shape): m-byte codes instead of 4*dim float bytes, ADC
    // shortlist via TakeOrderedAndProject, exact cosine re-rank on the
    // <= rerank rows. Rows-only: KMeans codebooks are float-reduction-
    // order unstable; QuantizeSpec pins recall >= 0.7 vs brute force,
    // planted-duplicate retrieval, and seed determinism.
    QueryDef(
      "c14_pq_topk",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Quantize.pqTopK(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10)
      },
      None
    ),

    // IVFADC (Jegou et al. TPAMI 2011 SIV; the FAISS index architecture):
    // corpus-sized coarse cells, PQ codes of the cell RESIDUALS,
    // dot(q,x) decomposed exactly into a per-cell scalar + a shared ADC
    // lookup, probe scans ~nprobe/cells of the corpus, exact re-rank,
    // exact-scan fallback below k. The SIZED entry: past the
    // single-level cell limit the coarse stage auto-switches to the
    // two-level residual quantizer (PQ then codes the second-level
    // residual), like every other sized ANN/dedup path. Rows-only (two
    // KMeans stages); QuantizeSpec pins recall on BOTH coarse regimes,
    // planted-duplicate-first, and fallback.
    QueryDef(
      "c14_ann_ivfpq",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Quantize.ivfPqSized(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10)
      },
      None
    ),

    // ── build-once / serve-many ANN ────────────────────────────────────
    // The in-query ANN numbers above bury the probe under per-call KMeans
    // (the honest-training rule). These two measure the SERVING shape: the
    // index is materialized ONCE offline (marker-gated under /tmp), the
    // query pays zero training — driver-computed probed cells ⇒ static
    // partition pruning on the cell directories, exact cosine (IVF-flat)
    // or ADC + exact re-rank (IVFADC) within, never-short fallback.
    // Rows-only like every ANN query (KMeans is seed/float-order
    // dependent); IvfSpec/QuantizeSpec pin parquet round-trip equality
    // with the in-memory probe, planted-duplicate-first, and fallback.
    QueryDef(
      "c14_ann_serve",
      (s, d) => {
        val dir = ensureServeIndex(s, d, "ivf")
        Ivf.probeIndex(s, dir, "vec_id", "embedding",
          t(s, d, "embeddings").filter(col("vec_id") === 0), "embedding", k = 10)
      },
      None
    ),

    QueryDef(
      "c14_ann_serve_pq",
      (s, d) => {
        val dir = ensureServeIndex(s, d, "pq")
        Quantize.probePqIndex(s, dir, "vec_id", "embedding",
          t(s, d, "embeddings").filter(col("vec_id") === 0), "embedding", k = 10)
      },
      None
    ),

    // The LSH arm of the serve split: no training at all — the one
    // corpus-sized cost (the signature projection) is paid at build;
    // the probe recomputes the query's buckets from the persisted
    // sizing, filters sorted row groups (pushed (table, bucket)
    // predicates), exact cosine within. Rows-only (bucket membership is
    // seed-dependent); SimilaritySpec pins serve==in-query equality,
    // pushdown, fallback and the single-query guard.
    QueryDef(
      "c14_ann_serve_lsh",
      (s, d) => {
        val dir = ensureServeIndex(s, d, "lsh")
        Similarity.probeLshIndex(s, dir, "vec_id", "embedding",
          t(s, d, "embeddings").filter(col("vec_id") === 0), "embedding", k = 10)
      },
      None
    ),

    // Multi-probe LSH serve (Lv et al. VLDB'07): the same materialized
    // index, plus per table the `multiProbe` buckets reached by flipping
    // the lowest-|margin| hyperplane bits — bounded extra candidates
    // for recall without more tables (= a smaller index than table
    // compensation buys). q is OCCUPANCY-SIZED (multiProbeFor: a fixed
    // expected candidate budget against the persisted sizing + live
    // occupancy — the last ANN lever without a sized policy, r14 verdict
    // #3). Rows-only; SimilaritySpec pins the driver/codegen bucket
    // parity, the heap-expansion order, the sized-q recall gate, and the
    // recall gain over single-probe at equal tables.
    QueryDef(
      "c14_ann_serve_lsh_mp",
      (s, d) => {
        val dir = ensureServeIndex(s, d, "lsh")
        Similarity.probeLshIndex(s, dir, "vec_id", "embedding",
          t(s, d, "embeddings").filter(col("vec_id") === 0), "embedding", k = 10,
          multiProbe = Similarity.multiProbeFor(s, dir))
      },
      None
    ),

    // The batched serving shape: one cell equi-join of the broadcast
    // probe frame against the materialized inverted file (a batch's
    // probed-cell union defeats static pruning, so the join IS the
    // right plan), shared per-query rank + exact fallback. Rows-only;
    // IvfSpec pins serve==in-query-batch equality on both regimes.
    QueryDef(
      "c14_ann_serve_batch",
      (s, d) => {
        val dir = ensureServeIndex(s, d, "ivf")
        val emb = t(s, d, "embeddings")
        Ivf.probeIndexBatch(s, dir, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      },
      None
    ),

    // The batched serve shape on the TRAINING-FREE layout: query buckets
    // from the same codegen expression the build used (in-plan, no
    // driver collect of the batch), one (table, bucket) equi-join
    // against the persisted postings, count-gated id recovery, per-query
    // exact fallback. Rows-only; SimilaritySpec pins batch == per-query
    // single probes on the same dir.
    // The operational readout the index-lifecycle policies act on:
    // appended_fraction (finding 29's retrain trigger), small-file
    // pressure vs compactIndex's bound, LSH tombstone backlog. Rows-only
    // (file counts depend on task scheduling); IndexLifecycleSpec pins
    // the arithmetic across build/append/remove/compact on all three
    // layouts.
    QueryDef(
      "c14_ann_index_stats",
      (s, d) => {
        val dir = ensureServeIndex(s, d, "ivf")
        IndexLifecycle.indexStats(s, dir)
      },
      None
    ),

    // The REBUILD verb closing the index lifecycle (finding 29's remedy):
    // the fixture builds on half the corpus, appends the other half
    // (appended_fraction ~0.5 — the retrain threshold), and rebuilds from
    // the index's own rows. The readout must show the reset: built ==
    // live, fraction 0 — and the planted near-self still answers first
    // through the retrained quantizer. Rows-only (KMeans float-reduction
    // order); IndexLifecycleSpec pins content/stats/geometry on all
    // three layouts.
    QueryDef(
      "c14_ann_index_rebuild",
      (s, d) => {
        val dir = ensureRebuiltIndex(s, d)
        val emb = t(s, d, "embeddings")
        val probe = Ivf.probeIndex(s, dir, "vec_id", "embedding",
          emb.filter(col("vec_id") === 1), "embedding", k = 5)
          .agg(count(lit(1)).as("k_rows"),
            sum(when(col("vec_id") === 1, 1).otherwise(0)).as("self_hits"))
        IndexLifecycle.indexStats(s, dir)
          .select(col("layout"), col("live_rows"), col("built_rows"),
            col("appended_fraction"), col("tombstones"))
          .crossJoin(probe)
      },
      None
    ),

    // The DELETION-VECTOR lifecycle on a cell layout (r16): tombstoned
    // scattered remove (a flip of the small tombstone set — the physical verb pays
    // min(batch, cells) cell rewrites, PERF finding 32), probe serving
    // the survivors through the anti-join rider, compaction applying
    // the backlog physically and clearing it. Cross-run stable: later
    // runs re-tombstone already-removed ids (no-op) and compact a clean
    // dir. Rows-only (KMeans cells); IndexLifecycleSpec pins
    // union-probe equality, no cell rewrite, re-insert un-delete,
    // rebuild-applies, and the maintenance threshold on both cell
    // layouts.
    QueryDef(
      "c14_ann_index_tombstone",
      (s, d) => {
        val dir = ensureTombIndex(s, d)
        // this query MUTATES its fixture per run, so a session killed
        // mid-verb orphans the lock under a PRESENT marker — the one
        // case ensureTombIndex's marker-absent clearLock can't reach
        // (review r16). Verify/Bench are single-driver by contract, so
        // no live writer can hold it here.
        IndexLifecycle.clearLock(s, dir)
        val emb = t(s, d, "embeddings")
        val victims = Seq(2L, 3L, 4L)
        IndexLifecycle.removeIds(s, dir,
          emb.filter(col("vec_id").isin(victims.map(java.lang.Long.valueOf): _*))
            .select("vec_id"),
          "vec_id", tombstone = true)
        // materialize the 1-row probe summary BEFORE compacting: the
        // lazy plan snapshots the pre-compact file listing, and the
        // compaction deletes rewritten cells' old files (the same
        // plan-snapshot contract the rebuild-under-stream spec pins)
        val probe = Ivf.probeIndex(s, dir, "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10)
          .agg(count(lit(1)).as("k_rows"),
            sum(when(col("vec_id").isin(victims.map(java.lang.Long.valueOf): _*), 1)
              .otherwise(0)).as("victim_hits"))
          .localCheckpoint(true)
        IndexLifecycle.compactIndex(s, dir)
        IndexLifecycle.indexStats(s, dir)
          .select(col("layout"), col("live_rows"), col("built_rows"),
            col("tombstones"))
          .crossJoin(probe)
      },
      None
    ),

    QueryDef(
      "c14_ann_serve_lsh_batch",
      (s, d) => {
        val dir = ensureServeIndex(s, d, "lsh")
        val emb = t(s, d, "embeddings")
        Similarity.probeLshIndexBatch(s, dir, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      },
      None
    ),

    // The batch probe with the IN-PLAN multi-probe lever engaged
    // (HyperplaneBucketsMulti): one codegen pass per query row emits
    // the exact bucket plus the q lowest-|margin| single-bit flips per
    // table, the same (table, bucket) equi-join carries (1+q)x pairs —
    // recall without more tables at bounded cost (measured: batch
    // parity at 1-5x, ~1.3-2x the single-probe batch at 10-25x as the
    // candidate volume surfaces — PERF.md round-14 rows). q is the same
    // occupancy-sized default as the single-probe sibling
    // (multiProbeFor: fixed candidate budget). Rows-only;
    // SimilaritySpec pins expression parity, recall dominance, and the
    // stream==driver-oracle equality at equal q.
    QueryDef(
      "c14_ann_serve_lsh_batch_mp",
      (s, d) => {
        val dir = ensureServeIndex(s, d, "lsh")
        val emb = t(s, d, "embeddings")
        Similarity.probeLshIndexBatch(s, dir, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10,
          multiProbe = Similarity.multiProbeFor(s, dir))
      },
      None
    ),

    // Filtered SERVE probe (FAISS IDSelector / SearchParameters.sel —
    // the per-tenant RAG serving shape): the same materialized IVF
    // index, probe restricted to a driver-supplied allowlist frame. The
    // selector rides the inverted-file choke point as a COUNT-GATED
    // semi-join (an allowlist is never "small by construction"), the
    // probed-cell filter still pushes through it (partition pruning
    // survives), and the never-short fallback runs over the FILTERED
    // corpus — 3 allowed rows at k=10 return exactly 3, never a
    // disallowed id. Rows-only (KMeans); FilteredProbeSpec pins
    // no-disallowed-id + full-selector no-op + filtered-never-short +
    // covering-nprobe exactness on every probe path, all layouts.
    QueryDef(
      "c14_ann_serve_filtered",
      (s, d) => {
        val dir = ensureServeIndex(s, d, "ivf")
        val emb = t(s, d, "embeddings")
        Ivf.probeIndex(s, dir, "vec_id", "embedding",
          emb.filter(col("vec_id") === 0), "embedding", k = 10,
          selector = Some(emb.filter(col("label") === 3).select("vec_id")))
      },
      None
    ),

    // The SERVE range probe: annProbeStream's plan on a batch frame
    // (stream-static joins are plain joins given a batch input — the
    // stream==batch specs rest on exactly that) against the
    // materialized IVF index: probed cells only, exact cosine >= tau
    // within, recall = probed-cell recall (range semantics: an empty
    // answer is valid, no never-short — that contract belongs to
    // top-k). Rows-only (KMeans cells); StreamingSpec pins
    // values-exact-within-probed-cells and covering-nprobe set
    // equality with the exact rangeSearch.
    QueryDef(
      "c14_ann_serve_range",
      (s, d) => {
        val dir = ensureServeIndex(s, d, "ivf")
        val emb = t(s, d, "embeddings")
        // annProbeStream on a batch frame is a SIXTH lock-free probe
        // over a flipping root, and its plan stays lazy (a range result
        // has no k bound to collect under) — so THIS serve surface runs
        // the reader harness itself: materialize inside fencedProbe,
        // never hand the caller a lazy plan that outlives the fence
        // (review r16; finding 34's rule)
        IndexLifecycle.fencedProbe(s, dir) {
          graft.streaming.Streaming.annProbeStream(
              emb.filter(col("vec_id") === 0), "vec_id", "embedding",
              dir, tau = 0.2, nprobe = 16)
            .orderBy(col("sim").desc, col("vec_id"))
            .localCheckpoint(true)
        }
      },
      None
    ),

    // ── C15: text analysis ─────────────────────────────────────────────
    QueryDef(
      "c15_lang_stats",
      (s, d) => t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), round(avg("n_chars"), 2).as("avg_chars")),
      Some("""SELECT lang, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
              FROM documents GROUP BY lang""")
    ),

    QueryDef(
      "c15_wordcount_topk",
      (s, d) => Text.wordCount(t(s, d, "documents"), "text")
        .orderBy(col("n").desc, col("token"))
        .limit(20),
      Some("""SELECT token, count(*) AS n
              FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
              GROUP BY token ORDER BY n DESC, token LIMIT 20""")
    ),

    QueryDef(
      "c15_token_stats",
      (s, d) => Text.tokenStats(t(s, d, "documents"), "doc_id", "text"),
      Some("""SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
                CAST(length(text) AS INTEGER) AS n_chars_measured,
                CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_unique_tokens
              FROM documents""")
    ),

    QueryDef(
      "c15_quality",
      (s, d) => Text.qualityScore(t(s, d, "documents"), "doc_id", "text"),
      Some("""SELECT doc_id,
                round(len(list_distinct(string_split(text, ' '))) * 1.0
                      / len(string_split(text, ' ')), 4) AS lexical_diversity,
                round((length(text) - len(string_split(text, ' ')) + 1) * 1.0
                      / len(string_split(text, ' ')), 4) AS avg_token_len,
                round(len(list_filter(string_split(text, ' '), x -> x IN ('a', 'the'))) * 1.0
                      / len(string_split(text, ' ')), 4) AS stopword_ratio
              FROM documents""")
    ),

    // C15 unigram-LM quality score (the LM-perplexity filter family with
    // a corpus-trained unigram model): per-doc token count + summed
    // negative log-likelihood, decimal-accumulated on both sides.
    QueryDef(
      "c15_unigram_nll",
      (s, d) => Text.unigramNll(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_tok"), col("sum_nll")),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                           FROM documents),
                vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
                tot AS (SELECT sum(c)::DOUBLE AS n FROM vocab)
              SELECT doc_id, count(*) AS n_tok,
                CAST(round(sum(CAST(-ln(c / n) AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_nll
              FROM tok JOIN vocab USING (token) CROSS JOIN tot
              GROUP BY doc_id""")
    ),

    // BM25 ranked retrieval: the lexical complement to embedding search.
    // The token stream filters to QUERY TERMS before any aggregate, so
    // nothing vocabulary-sized ever exists; per-term scores accumulate
    // through DECIMAL so the oracle's summation order cannot flip the
    // 4-dp round; top-20 under the (score, doc) total order.
    QueryDef(
      "c15_bm25",
      (s, d) => Text.bm25(t(s, d, "documents"), "doc_id", "text",
          Seq("hash", "join", "customer"))
        .select(col("doc").as("doc_id"), col("bm25")),
      Some("""WITH lens AS (SELECT doc_id, len(string_split(text, ' ')) AS doc_len
                            FROM documents),
                st AS (SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avglen FROM lens),
                tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                        FROM documents),
                hits AS (SELECT l.doc_id, l.doc_len, t.token,
                           count(*)::DOUBLE AS tf
                         FROM tok t JOIN lens l USING (doc_id)
                         WHERE t.token IN ('hash', 'join', 'customer')
                         GROUP BY l.doc_id, l.doc_len, t.token),
                dft AS (SELECT token, count(*)::DOUBLE AS df FROM hits GROUP BY token)
              SELECT doc_id,
                CAST(round(sum(CAST(
                  ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
                  (tf + 1.2 * (1 - 0.75 + 0.75 * doc_len / avglen))
                  AS DECIMAL(18,6))), 4) AS DOUBLE) AS bm25
              FROM hits JOIN dft USING (token) CROSS JOIN st
              GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id
              LIMIT 20""")
    ),

    // The Gopher rule set as a filter: every doc with its failed-rule
    // count and verdict — one codegen projection, every ratio rounded
    // 4 dp before comparison so the oracle reproduces each verdict.
    // Non-vacuous on this corpus: the token-count and stopword rules
    // both fire (docs run 10-99 tokens; non-English docs have zero
    // English stopwords).
    QueryDef(
      "c15_gopher_filter",
      (s, d) => Text.gopherFilter(t(s, d, "documents"), "doc_id", "text"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
                           len(string_split(text, ' ')) AS n_tok,
                           len(text) AS nc
                         FROM documents),
                s AS (SELECT doc_id, n_tok,
                        round((nc - n_tok + 1)::DOUBLE / n_tok, 4) AS avg_len,
                        round(len(list_filter(ws, w ->
                          w IN ('a','the','of','and','to','in','is')))::DOUBLE
                          / n_tok, 4) AS stop_r,
                        round(len(list_filter(ws, w ->
                          regexp_matches(w, '[a-zA-Z]')))::DOUBLE
                          / n_tok, 4) AS alpha_r,
                        CASE WHEN n_tok >= 2 THEN round(1.0 -
                          len(list_distinct([ws[i] || ' ' || ws[i+1]
                                             for i in generate_series(1, n_tok - 1)]))::DOUBLE
                          / (n_tok - 1), 4) ELSE 0.0 END AS dup2
                      FROM t),
                f AS (SELECT doc_id,
                        (CASE WHEN n_tok BETWEEN 30 AND 50000 THEN 0 ELSE 1 END) +
                        (CASE WHEN avg_len BETWEEN 3.0 AND 10.0 THEN 0 ELSE 1 END) +
                        (CASE WHEN stop_r >= 0.02 THEN 0 ELSE 1 END) +
                        (CASE WHEN alpha_r >= 0.7 THEN 0 ELSE 1 END) +
                        (CASE WHEN dup2 <= 0.3 THEN 0 ELSE 1 END) AS n_fail
                      FROM s)
              SELECT doc_id, n_fail, n_fail = 0 AS kept FROM f""")
    ),

    // C4/FineWeb LINE-level rules: the formatting heuristics the
    // token-level Gopher set can't see. The corpus is single-line, so
    // the query PLANTS three line-suffix variants by doc_id % 3 (a
    // closing sentence / bullet lines / lorem-ipsum + short line) —
    // every rule fires on some docs and passes on others at both SFs.
    // One codegen projection; ratios round 4 dp before comparison.
    QueryDef(
      "c15_line_rules",
      (s, d) => {
        val planted = t(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              lit("\nA proper closing sentence appears right here."))
              .when(pmod(col("doc_id"), lit(3)) === 1,
                lit("\n- bullet point alpha\n- bullet point beta"))
              .otherwise(lit("\nlorem ipsum dolor sit amet\nno end"))).as("text"))
        Text.lineRules(planted, "doc_id", "text")
      },
      Some("""WITH planted AS (
                SELECT doc_id,
                       -- text || suffix, NOT concat(): DuckDB's concat()
                       -- SKIPS null arguments where Spark's concat
                       -- null-propagates — a NULL text row would diverge
                       -- on every output column under concat()
                       text || (CASE CAST(doc_id % 3 AS INTEGER)
                         WHEN 0 THEN chr(10) ||
                           'A proper closing sentence appears right here.'
                         WHEN 1 THEN chr(10) || '- bullet point alpha' ||
                           chr(10) || '- bullet point beta'
                         ELSE chr(10) || 'lorem ipsum dolor sit amet' ||
                           chr(10) || 'no end' END) AS text
                FROM documents),
              ls AS (SELECT doc_id, text,
                            string_split(text, chr(10)) AS lines,
                            len(string_split(text, chr(10))) AS nl
                     FROM planted),
              sig AS (SELECT doc_id,
                        round(len([l for l in lines if l LIKE '%.' OR l LIKE '%!'
                                   OR l LIKE '%?' OR l LIKE '%"'])::DOUBLE / nl, 4)
                          AS term_punct_ratio,
                        round(len([l for l in lines if l LIKE '- %' OR l LIKE '* %'
                                   OR l LIKE '• %'])::DOUBLE / nl, 4) AS bullet_frac,
                        round(len([l for l in lines
                                   if len(string_split(l, ' ')) < 3])::DOUBLE / nl, 4)
                          AS short_line_frac,
                        contains(lower(text), 'lorem ipsum') AS has_lorem,
                        contains(lower(text), 'javascript') AS has_js,
                        contains(text, '{') AS has_curly
                      FROM ls),
              f AS (SELECT *,
                      (CASE WHEN term_punct_ratio >= 0.2 THEN 0 ELSE 1 END) +
                      (CASE WHEN bullet_frac <= 0.5 THEN 0 ELSE 1 END) +
                      (CASE WHEN short_line_frac <= 0.5 THEN 0 ELSE 1 END) +
                      (CASE WHEN NOT has_lorem THEN 0 ELSE 1 END) +
                      (CASE WHEN NOT has_js THEN 0 ELSE 1 END) +
                      (CASE WHEN NOT has_curly THEN 0 ELSE 1 END) AS n_fail
                    FROM sig)
              SELECT doc_id, term_punct_ratio, bullet_frac, short_line_frac,
                     has_lorem, has_js, has_curly, n_fail, n_fail = 0 AS kept
              FROM f""")
    ),

    // CCNet perplexity bucketing: head/middle/tail terciles of the
    // unigram ppl-proxy by EXACT rank — integer bucket edges, ranked via
    // the two-phase range-partitioned Relational.globalRank (no
    // single-partition window; production applies fixed held-out
    // thresholds as a zero-shuffle filter instead).
    QueryDef(
      "c15_ppl_buckets",
      (s, d) => Text.perplexityBuckets(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc").as("doc_id"), col("ppl"), col("bucket")),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                           FROM documents),
                vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
                tot AS (SELECT sum(c)::DOUBLE AS n FROM vocab),
                nll AS (SELECT doc_id, count(*) AS n_tok,
                          CAST(round(sum(CAST(-ln(c / n) AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_nll
                        FROM tok JOIN vocab USING (token) CROSS JOIN tot
                        GROUP BY doc_id),
                p AS (SELECT doc_id, round(sum_nll / n_tok, 6) AS ppl FROM nll),
                r AS (SELECT doc_id, ppl,
                        row_number() OVER (ORDER BY ppl, doc_id) AS r,
                        count(*) OVER () AS n
                      FROM p)
              SELECT doc_id, ppl,
                CASE WHEN 3 * r <= n THEN 'head'
                     WHEN 3 * r <= 2 * n THEN 'middle'
                     ELSE 'tail' END AS bucket
              FROM r""")
    ),

    // Per-language CCNet bucketing (Wenzek 2020 §4.3 as shipped: one LM
    // and one tercile split PER LANGUAGE): per-lang unigram MLE, exact
    // within-language rank via the two-phase groupedRank — no
    // single-task-per-language window — and per-lang integer edges.
    QueryDef(
      "c15_ppl_buckets_lang",
      (s, d) => Text.perplexityBucketsByLang(t(s, d, "documents"),
        "doc_id", "text", "lang")
        .select(col("doc").as("doc_id"), col("lang"), col("ppl"), col("bucket")),
      Some("""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
                           FROM documents),
                vocab AS (SELECT lang, token, count(*) AS c FROM tok GROUP BY lang, token),
                tot AS (SELECT lang, sum(c)::DOUBLE AS n FROM vocab GROUP BY lang),
                nll AS (SELECT doc_id, t.lang, count(*) AS n_tok,
                          CAST(round(sum(CAST(-ln(c / n) AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_nll
                        FROM tok t JOIN vocab USING (lang, token) JOIN tot USING (lang)
                        GROUP BY doc_id, t.lang),
                p AS (SELECT doc_id, lang, round(sum_nll / n_tok, 6) AS ppl FROM nll),
                r AS (SELECT doc_id, lang, ppl,
                        row_number() OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS r,
                        count(*) OVER (PARTITION BY lang) AS n
                      FROM p)
              SELECT doc_id, lang, ppl,
                CASE WHEN 3 * r <= n THEN 'head'
                     WHEN 3 * r <= 2 * n THEN 'middle'
                     ELSE 'tail' END AS bucket
              FROM r""")
    ),

    // CCNet bucketing under the INTERPOLATED BIGRAM LM (lmOrder=2):
    // −Σ ln(0.7·c12/c1 + 0.3·cu/N) per doc — the smoothing a real LM
    // applies instead of trusting sparse bigram MLE. λ is forced to
    // IEEE double on both engines (a bare 0.7 in DuckDB binds DECIMAL
    // and rounds differently); docs with <2 tokens drop (the order-2
    // model has nothing to score), so the tercile population differs
    // from c15_ppl_buckets by exactly those docs.
    QueryDef(
      "c15_ppl_bigram",
      (s, d) => Text.perplexityBuckets(t(s, d, "documents"), "doc_id", "text",
        lmOrder = 2)
        .select(col("doc").as("doc_id"), col("ppl"), col("bucket")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                tok AS (SELECT doc_id, unnest(ws) AS token FROM toks),
                uni AS (SELECT token, count(*) AS cu FROM tok GROUP BY token),
                tot AS (SELECT sum(cu)::DOUBLE AS n FROM uni),
                big AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
                        FROM toks, UNNEST(generate_series(1, len(ws) - 1)) t(i)),
                c2 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
                c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
                nll AS (SELECT doc_id, count(*) AS n_big,
                          CAST(round(sum(CAST(-ln(
                            CAST(0.7 AS DOUBLE) * c12 / c1 +
                            (1 - CAST(0.7 AS DOUBLE)) * cu / n)
                            AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_nll
                        FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
                             JOIN uni ON uni.token = big.w2 CROSS JOIN tot
                        GROUP BY doc_id),
                p AS (SELECT doc_id, round(sum_nll / n_big, 6) AS ppl FROM nll),
                r AS (SELECT doc_id, ppl,
                        row_number() OVER (ORDER BY ppl, doc_id) AS r,
                        count(*) OVER () AS n
                      FROM p)
              SELECT doc_id, ppl,
                CASE WHEN 3 * r <= n THEN 'head'
                     WHEN 3 * r <= 2 * n THEN 'middle'
                     ELSE 'tail' END AS bucket
              FROM r""")
    ),

    // Per-language bucketing under the interpolated bigram LM: every
    // count conditioned on lang (one LM per language, Wenzek 2020 §4.3),
    // terciles within language via groupedRank.
    QueryDef(
      "c15_ppl_bigram_lang",
      (s, d) => Text.perplexityBucketsByLang(t(s, d, "documents"),
        "doc_id", "text", "lang", lmOrder = 2)
        .select(col("doc").as("doc_id"), col("lang"), col("ppl"), col("bucket")),
      Some("""WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
                tok AS (SELECT doc_id, lang, unnest(ws) AS token FROM toks),
                uni AS (SELECT lang, token, count(*) AS cu FROM tok GROUP BY lang, token),
                tot AS (SELECT lang, sum(cu)::DOUBLE AS n FROM uni GROUP BY lang),
                big AS (SELECT doc_id, lang, ws[i] AS w1, ws[i+1] AS w2
                        FROM toks, UNNEST(generate_series(1, len(ws) - 1)) t(i)),
                c2 AS (SELECT lang, w1, w2, count(*) AS c12 FROM big GROUP BY lang, w1, w2),
                c1 AS (SELECT lang, w1, count(*) AS c1 FROM big GROUP BY lang, w1),
                nll AS (SELECT doc_id, b.lang, count(*) AS n_big,
                          CAST(round(sum(CAST(-ln(
                            CAST(0.7 AS DOUBLE) * c12 / c1 +
                            (1 - CAST(0.7 AS DOUBLE)) * cu / n)
                            AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_nll
                        FROM big b JOIN c2 USING (lang, w1, w2)
                             JOIN c1 USING (lang, w1)
                             JOIN uni ON uni.lang = b.lang AND uni.token = b.w2
                             JOIN tot ON tot.lang = b.lang
                        GROUP BY doc_id, b.lang),
                p AS (SELECT doc_id, lang, round(sum_nll / n_big, 6) AS ppl FROM nll),
                r AS (SELECT doc_id, lang, ppl,
                        row_number() OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS r,
                        count(*) OVER (PARTITION BY lang) AS n
                      FROM p)
              SELECT doc_id, lang, ppl,
                CASE WHEN 3 * r <= n THEN 'head'
                     WHEN 3 * r <= 2 * n THEN 'middle'
                     ELSE 'tail' END AS bucket
              FROM r""")
    ),

    // Bigram conditional NLL: the next-step LM signal. Unlike unigram's
    // broadcast-vocab shape, the bigram table is |V|²-ish — probe via
    // shuffled-hash joins (the 100 TB shape). Decimal-accumulated sums.
    QueryDef(
      "c15_bigram_nll",
      (s, d) => Text.bigramNll(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_big"), col("sum_nll")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                big AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
                        FROM toks, UNNEST(generate_series(1, len(ws) - 1)) t(i)),
                c2 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
                c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1)
              SELECT doc_id, count(*) AS n_big,
                CAST(round(sum(CAST(-ln(c12::DOUBLE / c1) AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_nll
              FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
              GROUP BY doc_id""")
    ),

    // Interpolated Kneser-Ney bigram NLL (Kneser & Ney 1995; Chen &
    // Goodman 1998 d=0.75) — backoff to CONTINUATION counts (distinct
    // bigram types), not unigram frequency: the smoothing KenLM ships,
    // hence what CCNet's filter models actually compute. Integer counts
    // + IEEE-double mixture + DECIMAL accumulation, replayed exactly.
    QueryDef(
      "c15_ppl_kn",
      (s, d) => Text.bigramKnNll(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_big"), col("sum_nll")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                big AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
                        FROM toks, UNNEST(generate_series(1, len(ws) - 1)) t(i)),
                c2 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
                c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
                n1f AS (SELECT w1, count(*) AS n1f FROM c2 GROUP BY w1),
                n1b AS (SELECT w2, count(*) AS n1b FROM c2 GROUP BY w2),
                tt AS (SELECT count(*)::DOUBLE AS t FROM c2)
              SELECT doc_id, count(*) AS n_big,
                CAST(round(sum(CAST(-ln(
                  greatest(c12 - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) / c1 +
                  CAST(0.75 AS DOUBLE) * n1f / c1 * (n1b / t))
                  AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_nll
              FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
                   JOIN n1f USING (w1) JOIN n1b USING (w2) CROSS JOIN tt
              GROUP BY doc_id""")
    ),

    // C15 repetition signals (Gopher-style duplicate-n-gram fractions):
    // distinct n-gram counts via the fused ShingleHashes pass — one
    // codegen projection, no shuffle. Oracle counts distinct string
    // n-grams with a DuckDB list comprehension.
    QueryDef(
      "c15_repetition",
      (s, d) => Text.repetitionSignals(t(s, d, "documents"), "doc_id", "text"),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
              SELECT doc_id,
                CASE WHEN len(ws) >= 2 THEN round(1.0 -
                  len(list_distinct([ws[i] || ' ' || ws[i+1]
                                     for i in generate_series(1, len(ws)-1)]))::DOUBLE
                  / (len(ws)-1), 4) ELSE 0.0 END AS dup2_frac,
                CASE WHEN len(ws) >= 3 THEN round(1.0 -
                  len(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                     for i in generate_series(1, len(ws)-2)]))::DOUBLE
                  / (len(ws)-2), 4) ELSE 0.0 END AS dup3_frac
              FROM toks""")
    ),

    // TF-IDF scores for one document's terms (full-corpus df), top-20 by
    // score with a term tie-break so LIMIT is total-ordered.
    QueryDef(
      "c15_tfidf",
      (s, d) => Text.tfidf(t(s, d, "documents"), "doc_id", "text")
        .filter(col("doc") === 7)
        .orderBy(col("tfidf").desc, col("token"))
        .limit(20),
      Some("""WITH tc AS (SELECT doc_id AS doc, len(string_split(text, ' ')) AS doc_len,
                                 unnest(string_split(text, ' ')) AS token
                          FROM documents),
                tcc AS (SELECT doc, doc_len, token, count(*) AS tf_raw
                        FROM tc GROUP BY doc, doc_len, token),
                dft AS (SELECT token, count(*) AS df FROM tcc GROUP BY token),
                n AS (SELECT count(*) AS n FROM documents)
              SELECT doc, token,
                     round((tf_raw * 1.0 / doc_len) * ln(n.n * 1.0 / df), 6) AS tfidf
              FROM tcc JOIN dft USING (token), n
              WHERE doc = 7
              ORDER BY tfidf DESC, token LIMIT 20""")
    ),

    // Regex extraction (text analysis / structured scraping surface).
    QueryDef(
      "c15_regex_extract",
      (s, d) => t(s, d, "customer")
        .select(
          col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)$", 1).as("name_num"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("name_masked"))
        .filter(col("name_num") =!= ""),
      Some("""SELECT c_custkey, regexp_extract(c_name, '([0-9]+)$', 1) AS name_num,
                regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked
              FROM customer WHERE regexp_extract(c_name, '([0-9]+)$', 1) <> ''""")
    ),

    // Stratified sampling (training-data pipelines: per-class fractions),
    // via the content-stable md5-threshold form (the hashSplit pattern):
    // membership is a pure function of doc_id, so the oracle runs the
    // IDENTICAL expression — hash-checked, where the previous seeded
    // sampleBy was rows-only AND layout-dependent (its kept set changes
    // with partitioning — exactly what a reproducible pipeline can't use).
    QueryDef(
      "c23_sample_stratified",
      (s, d) => Relational.stratifiedHashSample(
          t(s, d, "documents"), "lang", "doc_id", Map("en" -> 0.5, "es" -> 0.2))
        .select("doc_id", "lang"),
      Some("""SELECT doc_id, lang FROM documents
              WHERE (lang = 'en' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
                 OR (lang = 'es' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '3333')""")
    ),

    // C23 temperature sampling (XLM-R α=0.5 rebalancing): rates are
    // COMPUTED FROM THE DATA — count per lang, rate = min(1,
    // 0.5·√(cmax/c)) — yet the query is hash-checked because every step
    // is bit-reproducible IEEE arithmetic (÷ and √ correctly rounded,
    // ×0.5 and ×65536 exact): the oracle recomputes identical thresholds.
    QueryDef(
      "c23_temperature_sample",
      (s, d) => Relational.temperatureSample(
          t(s, d, "documents"), "lang", "doc_id", baseFrac = 0.5)
        .select("doc_id", "lang"),
      Some("""WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
                m AS (SELECT max(c) AS cmax FROM c),
                t AS (SELECT lang,
                        CAST(round(least(1.0, 0.5 * sqrt(cmax::DOUBLE / c)) * 65536)
                          AS BIGINT) AS thr
                      FROM c CROSS JOIN m)
              SELECT d.doc_id, d.lang FROM documents d JOIN t USING (lang)
              WHERE thr >= 65536
                 OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', thr)""")
    ),

    // PII scrubbing over text with PLANTED pii (deterministic per doc_id:
    // an email, a phone, an IPv4 appended to each doc) — the oracle runs
    // the same three RE2-safe rewrites in the same order, so the match
    // proves the redaction itself, not just a no-op pass-through.
    QueryDef(
      "c15_pii_scrub",
      (s, d) => {
        val planted = t(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id"), lit("@example.com or +1 555-01"),
            col("doc_id"), lit(" 4321 from 10.0."), pmod(col("doc_id"), lit(256)),
            lit(".7")).as("text"))
        // stage the scrub once: four downstream references would otherwise
        // re-run the 3-regex chain per output column (CollapseProject keeps
        // a multiply-referenced alias materialized — PERF.md gotcha)
        planted.select(col("doc_id"), graft.ops.Text.scrubPii(col("text")).as("__s"))
          .select(col("doc_id"),
            md5(col("__s")).as("scrub_md5"),
            (size(split(col("__s"), "\\[EMAIL\\]")) - 1).as("n_email"),
            (size(split(col("__s"), "\\[IP\\]")) - 1).as("n_ip"),
            (size(split(col("__s"), "\\[PHONE\\]")) - 1).as("n_phone"))
      },
      Some("""WITH planted AS (
                SELECT doc_id,
                       concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                              '@example.com or +1 555-01', CAST(doc_id AS VARCHAR),
                              ' 4321 from 10.0.', CAST(doc_id % 256 AS VARCHAR), '.7') AS text
                FROM documents),
              scrubbed AS (
                SELECT doc_id, regexp_replace(
                         regexp_replace(
                           regexp_replace(text,
                             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                           '[0-9]{1,3}(\.[0-9]{1,3}){3}', '[IP]', 'g'),
                         '\+?[0-9][0-9 ()-]{6,}[0-9]', '[PHONE]', 'g') AS s
                FROM planted)
              SELECT doc_id, md5(s) AS scrub_md5,
                     CAST(len(string_split(s, '[EMAIL]')) - 1 AS INTEGER) AS n_email,
                     CAST(len(string_split(s, '[IP]')) - 1 AS INTEGER) AS n_ip,
                     CAST(len(string_split(s, '[PHONE]')) - 1 AS INTEGER) AS n_phone
              FROM scrubbed""")
    ),

    // Compressibility quality signal (deflate ratio; zlib isn't DuckDB-
    // expressible -> rows-only; ordering property spec-tested).
    QueryDef(
      "c15_compress_ratio",
      (s, d) => graft.ops.Text.compressionRatios(
        t(s, d, "documents"), "doc_id", "text"),
      None
    ),

    // Context-window chunking (64-token windows, 16-token overlap →
    // stride 48): every token lands in >=1 training window, boundaries
    // overlap so no cross-cut n-gram is lost. Pure projection + explode —
    // zero shuffle. md5 per chunk so the oracle proves content AND
    // placement, not just counts.
    QueryDef(
      "c15_chunk_docs",
      (s, d) => Text.chunkDocs(t(s, d, "documents"), "doc_id", "text",
          window = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx"),
          md5(col("chunk")).as("chunk_md5"),
          size(split(col("chunk"), " ")).as("n_chunk_tokens")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                c AS (SELECT doc_id, ws,
                        CASE WHEN len(ws) <= 64 THEN 1
                             ELSE (len(ws) - 64 + 47) // 48 + 1 END AS nc
                      FROM toks)
              SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
                     md5(array_to_string(ws[i*48+1 : i*48+64], ' ')) AS chunk_md5,
                     CAST(len(string_split(array_to_string(ws[i*48+1 : i*48+64], ' '), ' '))
                          AS INTEGER) AS n_chunk_tokens
              FROM c, UNNEST(generate_series(0, nc - 1)) g(i)""")
    ),

    // Order-sensitive rolling fingerprint (xxhash64 chain — not DuckDB-
    // expressible; exactness spec-tested).
    QueryDef(
      "c15_fingerprint",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), graft.ops.Text.fingerprint(col("text")).as("fingerprint")),
      None
    ),

    // Model-based quality filtering (GPT-3 §2.2): logistic regression
    // trained to separate a trusted reference slice (three curated
    // sources here, WebText there) from the rest, then every doc scored
    // P(reference|features). Rows-only: L-BFGS scores depend on float
    // reduction order; separation quality is pinned by QualityModelSpec
    // (planted-gradient AUC > 0.95, generalization ordering).
    QueryDef(
      "c15_quality_classifier",
      (s, d) => graft.ops.QualityModel.trainScore(
        t(s, d, "documents"), "doc_id", "text",
        col("source").isin("src0", "src1", "src2")),
      None
    ),

    // BPE merge-rule TRAINING (Sennrich 2016): the learned merge table
    // over the corpus word vocabulary — count-gated collect + the
    // driver-local incremental merge loop (distributed per-merge
    // aggregates past the gate). Deterministic (lexicographic
    // tie-breaks); the merge sequence is pinned by TextSpec's
    // hand-computed tables and the oracle replays the same 12 merges
    // as unrolled SQL stages.
    QueryDef(
      "c15_bpe_train",
      (s, d) => Text.bpeTrain(t(s, d, "documents"), "text", numMerges = 12),
      Some(bpeTrainOracleSql(12))
    ),

    // BYTE-level BPE (the GPT-2 tokenizer alphabet): merge semantics of
    // c15_bpe_train, but symbols are the word's UTF-8 bytes through
    // bytes-to-unicode — char-level tables undercount non-ASCII token
    // budgets (one symbol for a 3-byte CJK char). The driver corpus is
    // ASCII, so what this oracle checks end-to-end is the MACHINERY (the
    // SQL byte-mapping table, UTF-8 byte arithmetic, unrolled replay over
    // the mapped alphabet); TextSpec pins the multi-byte semantics
    // (é → 2 symbols, gate-path equality on non-ASCII corpora).
    QueryDef(
      "c15_bpe_bytes",
      (s, d) => Text.bpeTrainBytes(t(s, d, "documents"), "text", numMerges = 12),
      Some(bpeBytesOracleSql(12))
    ),

    // BPE ENCODE under the learned table: train on the corpus, then
    // count per-doc tokens under that tokenizer — the budgeting number
    // pipelines plan with. Distinct words encode exactly once
    // (mapPartitions over the vocab); docs fold word-count × token-len.
    // The oracle replays the same 12 merges as unrolled SQL stages and
    // reads each word's token count off the final symbol table; TextSpec
    // additionally pins hand-applied encodes and the no-merge case.
    QueryDef(
      "c15_bpe_encode",
      (s, d) => {
        val docs = t(s, d, "documents")
        val table = Text.bpeTrain(docs, "text", numMerges = 12)
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        Text.bpeEncode(docs, "doc_id", "text", table)
          .select(col("doc").as("doc_id"), col("n_bpe_tokens"))
      },
      Some(bpeEncodeOracleSql(12))
    ),

    // BPE-ish token counting: pre-tokenizer span counts (letter/digit/
    // punct runs) — the whitespace-independent token accounting a
    // training-data pipeline budgets with.
    QueryDef(
      "c15_bpe_tokens",
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        size(Text.bpeishTokens(col("text"))).as("n_bpe_tokens")),
      Some("""SELECT doc_id,
                CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]+')) AS INTEGER)
                  AS n_bpe_tokens
              FROM documents""")
    ),

    // Language-ID heuristic (marker-token argmax). The argmax + tie-break
    // (max score; larger language code on a tie, from the reversed
    // ascending struct sort) is mirrored in the oracle's CASE.
    QueryDef(
      "c15_language_id",
      (s, d) => Text.languageId(t(s, d, "documents"), "doc_id", "text",
        markers = Map(
          "en" -> Seq("the", "a", "of", "and", "to"),
          "es" -> Seq("el", "la", "de", "y", "en")
        )),
      Some("""WITH sc AS (SELECT doc_id,
                len(list_filter(string_split(text, ' '),
                    t -> t IN ('the','a','of','and','to'))) * 1.0
                  / len(string_split(text, ' ')) AS s_en,
                len(list_filter(string_split(text, ' '),
                    t -> t IN ('el','la','de','y','en'))) * 1.0
                  / len(string_split(text, ' ')) AS s_es
              FROM documents)
              SELECT doc_id, CASE WHEN s_es >= s_en THEN 'es' ELSE 'en' END AS lang_pred
              FROM sc""")
    ),

    // ── C16: semi-structured + multimodal columns ──────────────────────
    QueryDef(
      "c16_json_extract",
      (s, d) => t(s, d, "events")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          round(sum("value"), 2).as("total_value"),
          max(get_json_object(col("props"), "$.k").cast("long")).as("max_k")
        ),
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value,
                max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
              FROM events GROUP BY event_type""")
    ),

    QueryDef(
      "c16_multimodal_bytes",
      (s, d) => Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text")
        .select(col("media_id"), octet_length(col("payload")).as("n_bytes")),
      Some("""SELECT CAST(doc_id AS BIGINT) AS media_id,
                CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
              FROM documents""")
    ),

    // Featurize, projected to scalars: the raw array<float> column chokes
    // the driver's pandas row-sorter, so return (n_bins, bin_wsum) where
    // bin_wsum = Σ_b (b+1)·count_b recovers an exact integer checksum of
    // the whole histogram (float error ≪ 0.5, so the round is exact) and
    // is DuckDB-expressible over the ASCII text → real oracle row.
    QueryDef(
      "c16_multimodal_features",
      (s, d) => Multimodal.featurize(
        Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text")
      ).select(
        col("media_id"),
        size(col("features")).as("n_bins"),
        round(aggregate(
          zip_with(col("features"), sequence(lit(1), lit(16)),
            (f, w) => f.cast("double") * w),
          lit(0.0d), (a, x) => a + x) * octet_length(col("payload")), 0)
          .cast("long").as("bin_wsum")
      ),
      Some("""WITH ch AS (SELECT doc_id, unicode(substring(text, CAST(i AS INTEGER), 1)) AS code
                          FROM documents, UNNEST(generate_series(1, len(text))) t(i))
              SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(16 AS INTEGER) AS n_bins,
                     CAST(sum(code // 16 + 1) AS BIGINT) AS bin_wsum
              FROM ch GROUP BY doc_id""")
    ),

    // Resize stub (truncate/zero-pad to a fixed width): binary-in/
    // binary-out contract; oracle checks the enforced width (payload
    // bytes themselves aren't DuckDB-comparable — no blob functions).
    QueryDef(
      "c16_resize",
      (s, d) => Multimodal.resize(
        Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text"), targetBytes = 256)
        .select(col("media_id"),
          octet_length(col("payload_resized")).as("n_bytes")),
      Some("""SELECT CAST(doc_id AS BIGINT) AS media_id,
                     CAST(256 AS INTEGER) AS n_bytes FROM documents""")
    ),

    // REAL image decode (javax.imageio): synthesize a gradient PNG per doc
    // (sized by table columns, pixels keyed on doc_id), decode it back
    // through ImageIO, and emit scalars. PNG is lossless, so the DuckDB
    // oracle predicts width/height/Σ(r+g+b) in CLOSED FORM — the oracle
    // can't decode PNG, but it can check a real decode of a constructed
    // image. Encode + decode both run inside mapPartitions.
    QueryDef(
      "c16_image_decode",
      (s, d) => Multimodal.decodeImages(Multimodal.synthesizeImages(
          t(s, d, "documents"), "doc_id",
          lit(1) + col("n_chars") % 16, lit(1) + col("doc_id") % 8))
        .toDF()
        .select(col("media_id").as("doc_id"), col("width"), col("height"),
          col("pixel_sum")),
      // Σ_y((doc_id+y) mod 256) in closed form (DuckDB 1.0 can't lateral-
      // join generate_series): with a = id mod 256 and h ≤ 8, at most one
      // wrap past 256, so the sum is h·a + h(h−1)/2 − 256·max(0, a+h−256)
      Some("""WITH p AS (SELECT doc_id, 1 + n_chars % 16 AS w, 1 + doc_id % 8 AS h,
                                doc_id % 256 AS a,
                                (doc_id * 7) % 256 + (doc_id * 13) % 256 AS gb
                         FROM documents)
              SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                     CAST(w * (h * a + h * (h - 1) // 2
                               - 256 * greatest(0, a + h - 256) + h * gb) AS BIGINT) AS pixel_sum
              FROM p""")
    ),

    // C16 audio: REAL WAV synthesis + decode (JDK javax.sound.sampled —
    // PCM-16 mono needs no external codec). Sample i of doc `id` is
    // ((31·id + 7i) mod 65536) − 32768, so Σ samples has a closed form:
    // with a = 31·id mod 65536 and 7·n < 65536 the ramp wraps at most
    // once, at i = ⌈(65536 − a)/7⌉ — the image-gradient oracle trick on
    // the time axis.
    QueryDef(
      "c16_audio_decode",
      (s, d) => Multimodal.decodeAudio(Multimodal.synthesizeAudio(
          t(s, d, "documents"), "doc_id", col("n_chars") % 500 + 100))
        .toDF()
        .select(col("media_id"), col("n_samples"), col("sample_sum")),
      Some("""WITH p AS (SELECT doc_id, (n_chars % 500) + 100 AS n,
                                (doc_id * 31) % 65536 AS a
                         FROM documents)
              SELECT doc_id AS media_id,
                     CAST(n AS INTEGER) AS n_samples,
                     CAST(n * a + 7 * n * (n - 1) // 2
                          - 65536 * greatest(0, n - (65536 - a + 6) // 7)
                          - 32768 * n AS BIGINT) AS sample_sum
              FROM p""")
    ),

    // C16 audio frame features (VAD/speech front-end): decode → 160-
    // sample (20 ms @ 8 kHz) frames → per-frame Σ sample² (integer-
    // exact; RMS derives as √(sum_sq/n), identical IEEE ops both sides)
    // + within-frame zero crossings. The oracle regenerates the ramp PCM
    // arithmetically — all four integer columns hash-exact.
    QueryDef(
      "c16_audio_features",
      (s, d) => Multimodal.audioFrameFeatures(Multimodal.synthesizeAudio(
          t(s, d, "documents"), "doc_id", col("n_chars") % 500 + 100))
        .toDF()
        .select(col("media_id"), col("frame_idx"), col("n"), col("sum_sq"),
          col("zero_crossings"),
          round(sqrt(col("sum_sq").cast("double") / col("n")), 2).as("rms")),
      Some("""WITH base AS (SELECT doc_id AS media_id, (n_chars % 500) + 100 AS ns
                            FROM documents),
                s AS (SELECT media_id, i,
                             ((media_id * 31 + 7 * i) % 65536) - 32768 AS v,
                             CAST(i // 160 AS INTEGER) AS frame_idx,
                             i % 160 AS pos
                      FROM base, UNNEST(generate_series(0, ns - 1)) t(i)),
                sp AS (SELECT *, ((media_id * 31 + 7 * (i - 1)) % 65536) - 32768 AS vprev
                       FROM s),
                f AS (SELECT media_id, frame_idx,
                             CAST(count(*) AS INTEGER) AS n,
                             CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
                             CAST(sum(CASE WHEN pos > 0 AND ((v >= 0) != (vprev >= 0))
                                           THEN 1 ELSE 0 END) AS INTEGER) AS zero_crossings
                      FROM sp GROUP BY 1, 2)
              SELECT media_id, frame_idx, n, sum_sq, zero_crossings,
                     round(sqrt(CAST(sum_sq AS DOUBLE) / n), 2) AS rms
              FROM f""")
    ),

    // REAL image resize: synthesize → nearest-neighbor ÷2 → decode. The
    // sampled gradient keeps a closed form: resized row y' carries red
    // (id + 2y') mod 256, dims ⌈w/2⌉ × ⌈h/2⌉, at most one mod-wrap
    // (h ≤ 8), so wrapped-term count = max(0, h2 − (257−a)//2).
    QueryDef(
      "c16_image_resize",
      (s, d) => Multimodal.decodeImages(Multimodal.resizeImages(
          Multimodal.synthesizeImages(
            t(s, d, "documents"), "doc_id",
            lit(1) + col("n_chars") % 16, lit(1) + col("doc_id") % 8),
          factor = 2))
        .toDF()
        .select(col("media_id").as("doc_id"), col("width"), col("height"),
          col("pixel_sum")),
      Some("""WITH p AS (SELECT doc_id,
                                (1 + n_chars % 16 + 1) // 2 AS w2,
                                (1 + doc_id % 8 + 1) // 2 AS h2,
                                doc_id % 256 AS a,
                                (doc_id * 7) % 256 + (doc_id * 13) % 256 AS gb
                         FROM documents)
              SELECT doc_id, CAST(w2 AS INTEGER) AS width, CAST(h2 AS INTEGER) AS height,
                     CAST(w2 * (h2 * a + h2 * (h2 - 1)
                                - 256 * greatest(0, h2 - (257 - a) // 2))
                          + w2 * h2 * gb AS BIGINT) AS pixel_sum
              FROM p""")
    ),

    // Frame-sampling generator shape over binary payloads; md5 per frame so
    // the oracle compares fixed-width strings (DuckDB 1.0 can't substring
    // blobs — text is ASCII, so char-substring md5 matches byte-substring).
    QueryDef(
      "c16_frame_sample",
      (s, d) => Multimodal.frameSample(
        Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text"), stride = 64)
        .select(col("media_id"), col("frame_idx"),
          md5(col("frame")).as("frame_md5")),
      Some("""WITH m AS (SELECT CAST(doc_id AS BIGINT) AS media_id, text,
                                length(text) AS n FROM documents)
              SELECT media_id, CAST(k - 1 AS INTEGER) AS frame_idx,
                     md5(substring(text, CAST((k-1)*64 + 1 AS INTEGER), 64)) AS frame_md5
              FROM m, UNNEST(generate_series(1, greatest(n // 64, 1))) t(k)""")
    ),

    // ── C24: the curation pipeline end-to-end (the north-star use case:
    //    quality-filter → language-filter → near-dup-removal → stats) ──
    QueryDef(
      "c24_curation_pipeline",
      (s, d) => {
        val docs = t(s, d, "documents")
        val quality = Text.qualityScore(docs, "doc_id", "text")
        // localCheckpoint: `kept` feeds BOTH the dedup pair-gen branch and
        // the final aggregate — materialize the filtered corpus once
        // instead of re-running docs⋈quality in each branch.
        val kept = docs
          .join(quality.filter(col("lexical_diversity") >= 0.5).select("doc_id"), Seq("doc_id"))
          .filter(col("lang").isin("en", "es", "de", "fr"))
          .localCheckpoint(true)
        // exact-first (nearDupPipeline): identical docs collapse to their
        // min-id rep BEFORE pair generation, so a heavily duplicated
        // corpus can't emit C(m,2) true-positive pairs per dup group —
        // the normal web-corpus case, enforced not just documented
        val deduped = Dedup.nearDupPipeline(kept, "doc_id", "text",
          reps => Dedup.jaccardNearDup(reps, "doc_id", "text",
            n = 3, threshold = 0.6, maxDf = Some(100)))
        deduped.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(avg("n_chars"), 2).as("avg_chars"))
      },
      Some("""WITH q AS (SELECT doc_id FROM documents
                         WHERE round(len(list_distinct(string_split(text, ' '))) * 1.0
                                     / len(string_split(text, ' ')), 4) >= 0.5),
                kept AS (SELECT d.* FROM documents d JOIN q USING (doc_id)
                         WHERE lang IN ('en', 'es', 'de', 'fr')),
                reps AS (SELECT min(doc_id) AS doc_id, text FROM kept
                         WHERE text IS NOT NULL GROUP BY text),
                toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM reps),
                sh AS (SELECT DISTINCT doc_id AS doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 2)) t(i)),
                keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
                shk AS (SELECT doc, sh.shingle FROM sh JOIN keep ON sh.shingle = keep.shingle),
                cnt AS (SELECT doc, count(*) AS n_sh FROM shk GROUP BY doc),
                pair AS (SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS common
                         FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc < b.doc
                         GROUP BY 1, 2),
                dups AS (SELECT doc_b FROM pair
                         JOIN cnt ca ON ca.doc = doc_a JOIN cnt cb ON cb.doc = doc_b
                         WHERE common * 1.0 / (ca.n_sh + cb.n_sh - common) >= 0.6)
              SELECT lang, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
              FROM kept WHERE text IS NULL
                OR (doc_id IN (SELECT doc_id FROM reps)
                    AND doc_id NOT IN (SELECT doc_b FROM dups))
              GROUP BY lang""")
    ),

    // C23 deterministic dataset mixing: per-source quotas filled in
    // doc_id order (reproducible row-for-row, unlike the seeded
    // statistical sample in c23_sample_stratified).
    QueryDef(
      "c23_dataset_mix",
      (s, d) => Relational.datasetMix(t(s, d, "documents"), "source", "doc_id",
          Map("src0" -> 20, "src1" -> 12, "src2" -> 8))
        .select(col("doc_id"), col("source")),
      Some("""WITH r AS (SELECT doc_id, source,
                           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                         FROM documents),
                q(source, quota) AS (VALUES ('src0', 20), ('src1', 12), ('src2', 8))
              SELECT doc_id, source FROM r JOIN q USING (source)
              WHERE rn <= quota""")
    ),

    // C13 line-level dedup (C4/RefinedWeb): plant newline-separated
    // boilerplate (one line shared by ALL docs, one with three variants)
    // after each doc's unique body, then remove repeated lines corpus-wide
    // keeping first occurrence — the oracle mirrors with a row_number over
    // (line) window. Output md5 proves exact reassembly order.
    QueryDef(
      "c13_line_dedup",
      (s, d) => {
        val planted = t(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            lit("\nsubscribe to the newsletter today\ncopyright footer "),
            pmod(col("doc_id"), lit(3))).as("text"))
        Dedup.lineDedup(planted, "doc_id", "text")
          .select(col("doc_id"), md5(col("text")).as("dedup_md5"), col("n_lines"))
      },
      Some("""WITH planted AS (
                SELECT doc_id,
                       concat(text, chr(10), 'subscribe to the newsletter today',
                              chr(10), 'copyright footer ',
                              CAST(doc_id % 3 AS VARCHAR)) AS text
                FROM documents),
              arrs AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM planted),
              lines AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, arr[i] AS line
                        FROM arrs, UNNEST(generate_series(1, len(arr))) t(i)),
              ranked AS (SELECT doc_id, pos, line,
                                row_number() OVER (PARTITION BY line
                                                   ORDER BY doc_id, pos) AS rn
                         FROM lines)
              SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS dedup_md5,
                     CAST(count(*) AS INTEGER) AS n_lines
              FROM ranked WHERE rn = 1 GROUP BY doc_id""")
    ),

    // C13 exact-substring dup detection via MOSS winnowing (k=16-char
    // grams, w=8 window): doc pairs sharing >= 3 fingerprints, i.e. >= 3
    // distinct 23+-char substrings — the duplication regime whole-doc
    // Jaccard misses. Hash = md5 hex prefix so DuckDB mirrors the window
    // minima exactly; maxDf=50 cuts boilerplate fingerprints before the
    // pair join.
    QueryDef(
      "c13_winnow_pairs",
      (s, d) => Dedup.winnowPairs(t(s, d, "documents"), "doc_id", "text",
        k = 16, w = 8, minShared = 3, maxDf = 50),
      Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE len(text) >= 23),
                hs AS (SELECT doc_id, i,
                              substring(md5(substr(text, i, 16)), 1, 16) AS h,
                              len(text) - 15 AS nh
                       FROM d, UNNEST(generate_series(1, len(text) - 15)) t(i)),
                wm AS (SELECT doc_id, i, nh,
                              min(h) OVER (PARTITION BY doc_id ORDER BY i
                                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
                       FROM hs),
                fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE i <= nh - 7),
                keep AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
                pl AS (SELECT doc_id, f.fp AS fp FROM fps f JOIN keep USING (fp))
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
              FROM pl a JOIN pl b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 3""")
    ),

    // C13 SPAN-level exact-substring dedup (ExactSubstr's second half,
    // Lee et al. ACL'22 §4.1): duplicated >= 2-occurrence winnow
    // fingerprints mark spans; the globally-first (doc, pos) occurrence
    // survives, every other extent [pos, pos+16) is cut and the doc
    // reassembled — whole docs never drop, only the duplicated bytes.
    // The oracle replays the selection (rightmost argmin per window =
    // max(i) over grams attaining the window min), the keep-first rank,
    // and a per-char coverage cut; md5 proves byte-exact reassembly.
    QueryDef(
      "c13_span_dedup",
      (s, d) => Dedup.spanDedup(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), md5(col("text")).as("span_md5"), col("n_cut")),
      Some("""WITH d AS (SELECT doc_id, text FROM documents
                         WHERE text IS NOT NULL AND len(text) >= 23),
                hs AS (SELECT doc_id, i,
                              substring(md5(substr(text, i, 16)), 1, 16) AS h,
                              len(text) - 15 AS nh
                       FROM d, UNNEST(generate_series(1, len(text) - 15)) t(i)),
                wm AS (SELECT doc_id, i AS ws, nh,
                              min(h) OVER (PARTITION BY doc_id ORDER BY i
                                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m
                       FROM hs),
                sel AS (SELECT w.doc_id, w.m AS fp, max(h2.i) AS pos
                        FROM wm w JOIN hs h2
                          ON h2.doc_id = w.doc_id AND h2.h = w.m
                             AND h2.i BETWEEN w.ws AND w.ws + 7
                        WHERE w.ws <= w.nh - 7
                        GROUP BY w.doc_id, w.ws, w.m),
                occ AS (SELECT DISTINCT doc_id, fp, pos FROM sel),
                ranked AS (SELECT doc_id, fp, pos,
                                  row_number() OVER (PARTITION BY fp
                                                     ORDER BY doc_id, pos) AS rn,
                                  count(*) OVER (PARTITION BY fp) AS n
                           FROM occ),
                cuts AS (SELECT doc_id, pos FROM ranked WHERE n >= 2 AND rn > 1),
                chars AS (SELECT doc_id, i, substr(text, i, 1) AS ch
                          FROM (SELECT doc_id, text FROM documents
                                WHERE text IS NOT NULL) dd,
                               UNNEST(generate_series(1, len(text))) t(i)),
                kept AS (SELECT c.doc_id, string_agg(ch, '' ORDER BY i) AS newtext
                         FROM chars c
                         WHERE NOT EXISTS (SELECT 1 FROM cuts k
                                           WHERE k.doc_id = c.doc_id
                                             AND c.i >= k.pos AND c.i < k.pos + 16)
                         GROUP BY c.doc_id)
              SELECT doc.doc_id,
                     md5(CASE WHEN doc.text IS NULL THEN NULL
                              ELSE coalesce(k.newtext, '') END) AS span_md5,
                     CAST(CASE WHEN doc.text IS NULL THEN 0
                               ELSE len(doc.text) - len(coalesce(k.newtext, '')) END
                          AS BIGINT) AS n_cut
              FROM documents doc LEFT JOIN kept k USING (doc_id)""")
    ),

    // C24 exact-substring decontamination: docs 0-49 as the benchmark;
    // drop every remaining doc quoting >= 2 verbatim >= 23-char benchmark
    // substrings (winnowed fingerprints, tokenizer-free — catches quotes
    // word-n-gram overlap misses under tokenization drift). stopDf=50
    // cuts boilerplate fingerprints the same way decontaminate's stopDf
    // cuts stock phrases.
    QueryDef(
      "c24_substring_decontaminate",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.winnowDecontaminate(
          docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
          "doc_id", "text", minShared = 2, stopDf = Some(50))
          .select(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE len(text) >= 23),
                hs AS (SELECT doc_id, i,
                              substring(md5(substr(text, i, 16)), 1, 16) AS h,
                              len(text) - 15 AS nh
                       FROM d, UNNEST(generate_series(1, len(text) - 15)) t(i)),
                wm AS (SELECT doc_id, i, nh,
                              min(h) OVER (PARTITION BY doc_id ORDER BY i
                                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
                       FROM hs),
                fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE i <= nh - 7),
                bfp AS (SELECT DISTINCT fp FROM fps WHERE doc_id < 50),
                hits AS (SELECT doc_id, f.fp AS fp FROM fps f JOIN bfp USING (fp)
                         WHERE doc_id >= 50),
                keep AS (SELECT fp FROM hits GROUP BY fp HAVING count(*) <= 50),
                contaminated AS (SELECT doc_id FROM hits JOIN keep USING (fp)
                                 GROUP BY doc_id HAVING count(*) >= 2)
              SELECT doc_id FROM documents
              WHERE doc_id >= 50
                AND doc_id NOT IN (SELECT doc_id FROM contaminated)""")
    ),

    // C24 test-set decontamination: docs 0-49 stand in as the held-out
    // benchmark; drop every remaining doc sharing an 8-gram with them
    // (the GPT-3/Gopher n-gram-overlap rule). Benchmark shingles and the
    // contaminated-id set both broadcast — the corpus never shuffles.
    QueryDef(
      "c24_decontaminate",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.decontaminate(
          docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
          "doc_id", "text", n = 8)
          .select(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc,
                         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
                         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 7)) t(i)),
                bench AS (SELECT DISTINCT shingle FROM sh WHERE doc < 50),
                bad AS (SELECT DISTINCT doc FROM sh
                        WHERE doc >= 50 AND shingle IN (SELECT shingle FROM bench))
              SELECT doc_id FROM documents
              WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc FROM bad)""")
    ),

    // C24 contamination AUDIT: per-benchmark-item leak report — distinct
    // corpus docs and distinct shared 8-grams per benchmark doc, zeros
    // included (the GPT-3-appendix overlap statistic a leakage review
    // reads before choosing removal policy). |benchmark|-bounded output;
    // the count-gated posting join is c24_decontaminate's shape.
    // stopDf = None EXPLICITLY: the oracle models the uncut join, and the
    // default df cut would silently diverge from it if the driver ever
    // regenerated testdata with >10k-df boilerplate 8-grams (DedupSpec
    // exercises the cut itself).
    QueryDef(
      "c24_decon_report",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.contaminationReport(
          docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
          "doc_id", "text", n = 8, stopDf = None)
          .select(col("bench_doc").as("bench_id"), col("n_docs"), col("n_shingles"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc,
                         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
                         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 7)) t(i)),
                hits AS (SELECT b.doc AS bench_id, c.doc, b.shingle
                         FROM sh b JOIN sh c USING (shingle)
                         WHERE b.doc < 50 AND c.doc >= 50),
                agg AS (SELECT bench_id, count(DISTINCT doc) AS n_docs,
                               count(DISTINCT shingle) AS n_shingles
                        FROM hits GROUP BY bench_id)
              SELECT d.doc_id AS bench_id,
                COALESCE(a.n_docs, 0) AS n_docs,
                COALESCE(a.n_shingles, 0) AS n_shingles
              FROM (SELECT doc_id FROM documents WHERE doc_id < 50) d
              LEFT JOIN agg a ON a.bench_id = d.doc_id""")
    ),

    // Decontamination with the benchmark-side stop-shingle cut: an 8-gram
    // occurring in more than stopDf corpus docs is boilerplate, evidence
    // of nothing — matching on it would nuke a corpus fraction. stopDf=1
    // ignores the df-2 shingles at this SF, so the kept set observably
    // differs from c24_decontaminate (the cut is exercised, not vacuous).
    QueryDef(
      "c24_decontaminate_stopdf",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.decontaminate(
          docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
          "doc_id", "text", n = 8, stopDf = Some(1))
          .select(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc,
                         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
                         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 7)) t(i)),
                bench AS (SELECT DISTINCT shingle FROM sh WHERE doc < 50),
                eff AS (SELECT shingle FROM sh
                        WHERE doc >= 50 AND shingle IN (SELECT shingle FROM bench)
                        GROUP BY shingle HAVING count(*) <= 1),
                bad AS (SELECT DISTINCT doc FROM sh
                        WHERE doc >= 50 AND shingle IN (SELECT shingle FROM eff))
              SELECT doc_id FROM documents
              WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc FROM bad)""")
    ),

    // C24 SEMANTIC decontamination: drop every corpus vector within
    // cosine 0.95 of a benchmark embedding — the embedding analog of the
    // n-gram rule (paraphrases share no 8-gram but keep their embedding
    // neighborhood; production pipelines run both). Benchmark = the
    // FIXED-size vec_id < 50 slice (the doc_id < 50 convention of the
    // n-gram path — an eval set does not scale with the corpus), reused
    // as an eval set so contamination is PLANTED (each benchmark member
    // hits itself at cosine 1.0) and the drop is exercised, not
    // vacuous — the synthetic corpus is otherwise near-orthogonal (max
    // cross-cosine < 0.5 at both SFs, measured). Oracle: exact
    // double-accumulated indexed-unnest cosine per (corpus, benchmark)
    // pair.
    QueryDef(
      "c24_semantic_decontaminate",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Dedup.semanticDecontaminate(
          emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 50), "embedding",
          tau = 0.95)
          .select(col("vec_id"), col("label"))
      },
      Some("""WITH q AS (SELECT vec_id AS b, CAST(unnest(embedding) AS DOUBLE) AS v,
                                generate_subscripts(embedding, 1) AS i
                         FROM embeddings WHERE vec_id < 50),
                e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                             generate_subscripts(embedding, 1) AS i
                      FROM embeddings),
                dots AS (SELECT e.vec_id, q.b, sum(e.v * q.v) AS dot,
                                sum(e.v * e.v) AS ne, sum(q.v * q.v) AS nq
                         FROM e JOIN q ON e.i = q.i GROUP BY e.vec_id, q.b),
                bad AS (SELECT DISTINCT vec_id FROM dots
                        WHERE dot / (sqrt(ne) * sqrt(nq)) >= 0.95)
              SELECT vec_id, label FROM embeddings
              WHERE vec_id NOT IN (SELECT vec_id FROM bad)""")
    ),

    // C24 DSIR data selection (Xie et al., NeurIPS 2023): rank the corpus
    // by hashed-bigram importance weights against an 'en'/src0-src1
    // target slice and keep the top 50 — the distribution-matching
    // selection step between quality filtering and dedup. Buckets are
    // 2-hex-char md5 prefixes (lexical string keys, the hashSplit trick)
    // so the oracle mirrors the feature hashing verbatim; weights are
    // 6-dp-rounded DECIMALs so both engines' sums are exact and the
    // top-50 cut orders on exact decimals (never a float boundary).
    QueryDef(
      "c24_dsir_select",
      (s, d) => {
        val docs = t(s, d, "documents")
        val target = docs.filter(col("lang") === "en" && col("source").isin("src0", "src1"))
        Text.dsirScores(docs, target, "doc_id", "text")
          .join(docs.select("doc_id", "lang", "source"), Seq("doc_id"))
          .orderBy(col("dsir_score").desc, col("doc_id"))
          .limit(50)
          .select(col("doc_id"), col("lang"), col("source"),
            round(col("dsir_score"), 4).cast("double").as("dsir_score"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                g AS (SELECT doc_id, substr(md5(ws[i] || ' ' || ws[i+1]), 1, 2) AS b
                      FROM toks, UNNEST(generate_series(1, len(ws) - 1)) t(i)),
                tgt AS (SELECT b, count(*) AS ct FROM g JOIN documents d USING (doc_id)
                        WHERE d.lang = 'en' AND d.source IN ('src0', 'src1') GROUP BY b),
                raw AS (SELECT b, count(*) AS cr FROM g GROUP BY b),
                tot AS (SELECT (SELECT count(*) FROM g JOIN documents d USING (doc_id)
                                WHERE d.lang = 'en' AND d.source IN ('src0', 'src1')) AS nt,
                               (SELECT count(*) FROM g) AS nr),
                dom AS (SELECT printf('%02x', i) AS b FROM generate_series(0, 255) s(i)),
                w AS (SELECT dom.b,
                        CAST(round(ln(coalesce(tgt.ct, 0) + 1.0) - ln(nt + 256.0)
                                 - ln(coalesce(raw.cr, 0) + 1.0) + ln(nr + 256.0), 6)
                             AS DECIMAL(18,6)) AS wb
                      FROM dom LEFT JOIN tgt USING (b) LEFT JOIN raw USING (b), tot),
                db AS (SELECT doc_id, b, count(*) AS n FROM g GROUP BY doc_id, b),
                sc AS (SELECT doc_id, sum(n * wb) AS s FROM db JOIN w USING (b) GROUP BY doc_id)
              SELECT d.doc_id, d.lang, d.source, CAST(round(sc.s, 4) AS DOUBLE) AS dsir_score
              FROM sc JOIN documents d USING (doc_id)
              ORDER BY sc.s DESC, d.doc_id
              LIMIT 50""")
    ),

    // C24 curation v4 — CROSS-MODAL decontamination composed: the n-gram
    // doom set (docs sharing an 8-gram with the held-out docs 0-49) and
    // the SEMANTIC doom set (vectors within cosine 0.95 of the held-out
    // vec_id < 50 slice — doc_id and vec_id share the id space) union
    // into ONE doomed-id frame and the corpus pays ONE count-gated
    // removal pass — however many doom sources contribute, one scan
    // (Dedup.removeIds). Quality filter + per-lang stats close the
    // pipeline.
    QueryDef(
      "c24_curation_v4",
      (s, d) => {
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        val corpus = docs.filter(col("doc_id") >= 50)
        val doomed = Dedup.contaminatedIds(
            corpus, docs.filter(col("doc_id") < 50), "doc_id", "text", n = 8)
          .unionAll(Dedup.semanticContaminatedIds(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 50), "embedding", tau = 0.95))
        // localCheckpoint: `kept` feeds BOTH the quality branch and the
        // final join — materialize the scan + doomed anti-join once
        val kept = Dedup.removeIds(corpus, "doc_id", doomed).localCheckpoint(true)
        val quality = Text.qualityScore(kept, "doc_id", "text")
        kept
          .join(quality.filter(col("lexical_diversity") >= 0.5).select("doc_id"), Seq("doc_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(avg("n_chars"), 2).as("avg_chars"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc,
                         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
                         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 7)) t(i)),
                bench AS (SELECT DISTINCT shingle FROM sh WHERE doc < 50),
                bad1 AS (SELECT DISTINCT doc FROM sh
                         WHERE doc >= 50 AND shingle IN (SELECT shingle FROM bench)),
                bq AS (SELECT vec_id AS b, CAST(unnest(embedding) AS DOUBLE) AS v,
                              generate_subscripts(embedding, 1) AS i
                       FROM embeddings WHERE vec_id < 50),
                ev AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                              generate_subscripts(embedding, 1) AS i
                       FROM embeddings),
                dots AS (SELECT ev.vec_id, bq.b, sum(ev.v * bq.v) AS dot,
                                sum(ev.v * ev.v) AS ne, sum(bq.v * bq.v) AS nq
                         FROM ev JOIN bq ON ev.i = bq.i GROUP BY ev.vec_id, bq.b),
                bad2 AS (SELECT DISTINCT vec_id AS doc FROM dots
                         WHERE dot / (sqrt(ne) * sqrt(nq)) >= 0.95),
                q AS (SELECT doc_id FROM documents
                      WHERE round(len(list_distinct(string_split(text, ' '))) * 1.0
                                  / len(string_split(text, ' ')), 4) >= 0.5)
              SELECT lang, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
              FROM documents
              WHERE doc_id >= 50
                AND doc_id NOT IN (SELECT doc FROM bad1)
                AND doc_id NOT IN (SELECT doc FROM bad2)
                AND doc_id IN (SELECT doc_id FROM q)
              GROUP BY lang""")
    ),

    // C24 curation v5 — ALL THREE decontamination rules composed: the
    // n-gram doom set, the semantic doom set, and the exact-substring
    // (winnow) doom set union into ONE doomed-id frame; the corpus still
    // pays ONE count-gated removal pass however many rules contribute
    // (Dedup.removeIds). The three rules catch disjoint leak modes:
    // shared word 8-grams, paraphrases in embedding space, and verbatim
    // >= 23-char quotes under tokenization drift.
    QueryDef(
      "c24_curation_v5",
      (s, d) => {
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        val corpus = docs.filter(col("doc_id") >= 50)
        val bench = docs.filter(col("doc_id") < 50)
        val doomed = Dedup.contaminatedIds(corpus, bench, "doc_id", "text", n = 8)
          .unionAll(Dedup.semanticContaminatedIds(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 50), "embedding", tau = 0.95))
          .unionAll(Dedup.substringContaminatedIds(corpus, bench, "doc_id", "text",
            minShared = 2, stopDf = Some(50)))
        // localCheckpoint: `kept` feeds BOTH the quality branch and the
        // final join — materialize the scan + doomed anti-join once
        val kept = Dedup.removeIds(corpus, "doc_id", doomed).localCheckpoint(true)
        val quality = Text.qualityScore(kept, "doc_id", "text")
        kept
          .join(quality.filter(col("lexical_diversity") >= 0.5).select("doc_id"), Seq("doc_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(avg("n_chars"), 2).as("avg_chars"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc,
                         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
                         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 7)) t(i)),
                bench AS (SELECT DISTINCT shingle FROM sh WHERE doc < 50),
                bad1 AS (SELECT DISTINCT doc FROM sh
                         WHERE doc >= 50 AND shingle IN (SELECT shingle FROM bench)),
                bq AS (SELECT vec_id AS b, CAST(unnest(embedding) AS DOUBLE) AS v,
                              generate_subscripts(embedding, 1) AS i
                       FROM embeddings WHERE vec_id < 50),
                ev AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                              generate_subscripts(embedding, 1) AS i
                       FROM embeddings),
                dots AS (SELECT ev.vec_id, bq.b, sum(ev.v * bq.v) AS dot,
                                sum(ev.v * ev.v) AS ne, sum(bq.v * bq.v) AS nq
                         FROM ev JOIN bq ON ev.i = bq.i GROUP BY ev.vec_id, bq.b),
                bad2 AS (SELECT DISTINCT vec_id AS doc FROM dots
                         WHERE dot / (sqrt(ne) * sqrt(nq)) >= 0.95),
                wd AS (SELECT doc_id, text FROM documents WHERE len(text) >= 23),
                whs AS (SELECT doc_id, i,
                               substring(md5(substr(text, i, 16)), 1, 16) AS h,
                               len(text) - 15 AS nh
                        FROM wd, UNNEST(generate_series(1, len(text) - 15)) t(i)),
                wwm AS (SELECT doc_id, i, nh,
                               min(h) OVER (PARTITION BY doc_id ORDER BY i
                                            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
                        FROM whs),
                wfps AS (SELECT DISTINCT doc_id, fp FROM wwm WHERE i <= nh - 7),
                wbfp AS (SELECT DISTINCT fp FROM wfps WHERE doc_id < 50),
                whits AS (SELECT doc_id, f.fp AS fp FROM wfps f JOIN wbfp USING (fp)
                          WHERE doc_id >= 50),
                wkeep AS (SELECT fp FROM whits GROUP BY fp HAVING count(*) <= 50),
                bad3 AS (SELECT doc_id AS doc FROM whits JOIN wkeep USING (fp)
                         GROUP BY doc_id HAVING count(*) >= 2),
                q AS (SELECT doc_id FROM documents
                      WHERE round(len(list_distinct(string_split(text, ' '))) * 1.0
                                  / len(string_split(text, ' ')), 4) >= 0.5)
              SELECT lang, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
              FROM documents
              WHERE doc_id >= 50
                AND doc_id NOT IN (SELECT doc FROM bad1)
                AND doc_id NOT IN (SELECT doc FROM bad2)
                AND doc_id NOT IN (SELECT doc FROM bad3)
                AND doc_id IN (SELECT doc_id FROM q)
              GROUP BY lang""")
    ),

    // C24 curation v6 — the DISTRIBUTION-shaping stage a real run
    // appends after contamination removal: decontaminate → CCNet
    // perplexity tercile filter (drop 'tail' — the LM trained on the
    // DECONTAMINATED corpus, as it must be: benchmark text must not
    // shape the quality model either) → XLM-R α=0.5 temperature
    // rebalance across languages (rates computed from the ppl-kept
    // corpus). Every stage is deterministic arithmetic, so unlike the
    // classifier (rows-only by float-order) this full path hash-checks:
    // the oracle recomputes the NLL, the tercile edges, AND the
    // per-language thresholds from scratch.
    QueryDef(
      "c24_curation_v6",
      (s, d) => {
        val docs = t(s, d, "documents")
        // localCheckpoint: clean feeds the NLL vocab build AND the
        // survivor join — one decontamination pass, not two
        val clean = Dedup.decontaminate(docs.filter(col("doc_id") >= 50),
          docs.filter(col("doc_id") < 50), "doc_id", "text", n = 8)
          .localCheckpoint(true)
        val buckets = Text.perplexityBuckets(clean, "doc_id", "text")
          .filter(col("bucket") =!= "tail")
        val kept = clean.select("doc_id", "lang")
          .join(buckets.select(col("doc").as("doc_id"), col("bucket")), Seq("doc_id"))
        Relational.temperatureSample(kept, "lang", "doc_id", baseFrac = 0.5)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc,
                         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
                         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 7)) t(i)),
                bench AS (SELECT DISTINCT shingle FROM sh WHERE doc < 50),
                bad AS (SELECT DISTINCT doc FROM sh
                        WHERE doc >= 50 AND shingle IN (SELECT shingle FROM bench)),
                clean AS (SELECT doc_id, lang FROM documents
                          WHERE doc_id >= 50
                            AND doc_id NOT IN (SELECT doc FROM bad)),
                tok AS (SELECT t.doc_id, unnest(t.ws) AS token
                        FROM toks t JOIN clean USING (doc_id)),
                vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
                tot AS (SELECT sum(c)::DOUBLE AS n FROM vocab),
                nll AS (SELECT doc_id, count(*) AS n_tok,
                          CAST(round(sum(CAST(-ln(c / n) AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_nll
                        FROM tok JOIN vocab USING (token) CROSS JOIN tot
                        GROUP BY doc_id),
                p AS (SELECT doc_id, round(sum_nll / n_tok, 6) AS ppl FROM nll),
                r AS (SELECT doc_id, ppl,
                        row_number() OVER (ORDER BY ppl, doc_id) AS r,
                        count(*) OVER () AS n
                      FROM p),
                keepb AS (SELECT doc_id,
                            CASE WHEN 3 * r <= n THEN 'head'
                                 WHEN 3 * r <= 2 * n THEN 'middle'
                                 ELSE 'tail' END AS bucket
                          FROM r),
                kept AS (SELECT c.doc_id, c.lang, k.bucket
                         FROM clean c JOIN keepb k USING (doc_id)
                         WHERE k.bucket <> 'tail'),
                cnt AS (SELECT lang, count(*) AS c FROM kept GROUP BY lang),
                m AS (SELECT max(c) AS cmax FROM cnt),
                thr AS (SELECT lang,
                          CAST(round(least(1.0, 0.5 * sqrt(cmax::DOUBLE / c)) * 65536)
                            AS BIGINT) AS thr
                        FROM cnt CROSS JOIN m)
              SELECT k.doc_id, k.lang, k.bucket FROM kept k JOIN thr USING (lang)
              WHERE thr >= 65536
                 OR substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 4) < printf('%04x', thr)""")
    ),

    // C24 curation v7 — v6 with the per-LANGUAGE tercile split CCNet
    // actually ships (Wenzek 2020 §4.3: one LM and one head/middle/tail
    // split per language — a global split lets an easy language's docs
    // crowd a hard language out of "head"; v6 keeps the global form for
    // monolingual corpora). decontaminate → per-lang unigram LM trained
    // on the decontaminated corpus → drop each language's own tail →
    // XLM-R α=0.5 temperature rebalance. Deterministic end-to-end, so
    // the whole path hash-checks: the oracle recomputes per-lang NLL,
    // per-lang tercile edges, and the rebalance thresholds from scratch.
    QueryDef(
      "c24_curation_v7",
      (s, d) => {
        val docs = t(s, d, "documents")
        // localCheckpoint: clean feeds the per-lang NLL vocab build AND
        // the survivor join — one decontamination pass, not two
        val clean = Dedup.decontaminate(docs.filter(col("doc_id") >= 50),
          docs.filter(col("doc_id") < 50), "doc_id", "text", n = 8)
          .localCheckpoint(true)
        val buckets = Text.perplexityBucketsByLang(clean, "doc_id", "text", "lang")
          .filter(col("bucket") =!= "tail")
        val kept = clean.select("doc_id", "lang")
          .join(buckets.select(col("doc").as("doc_id"), col("bucket")), Seq("doc_id"))
        Relational.temperatureSample(kept, "lang", "doc_id", baseFrac = 0.5)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc,
                         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
                         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 7)) t(i)),
                bench AS (SELECT DISTINCT shingle FROM sh WHERE doc < 50),
                bad AS (SELECT DISTINCT doc FROM sh
                        WHERE doc >= 50 AND shingle IN (SELECT shingle FROM bench)),
                clean AS (SELECT doc_id, lang FROM documents
                          WHERE doc_id >= 50
                            AND doc_id NOT IN (SELECT doc FROM bad)),
                tok AS (SELECT t.doc_id, c.lang, unnest(t.ws) AS token
                        FROM toks t JOIN clean c USING (doc_id)),
                vocab AS (SELECT lang, token, count(*) AS c FROM tok GROUP BY lang, token),
                tot AS (SELECT lang, sum(c)::DOUBLE AS n FROM vocab GROUP BY lang),
                nll AS (SELECT doc_id, lang, count(*) AS n_tok,
                          CAST(round(sum(CAST(-ln(c / n) AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_nll
                        FROM tok JOIN vocab USING (lang, token) JOIN tot USING (lang)
                        GROUP BY doc_id, lang),
                p AS (SELECT doc_id, lang, round(sum_nll / n_tok, 6) AS ppl FROM nll),
                r AS (SELECT doc_id, lang, ppl,
                        row_number() OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS r,
                        count(*) OVER (PARTITION BY lang) AS n
                      FROM p),
                kept AS (SELECT doc_id, lang,
                           CASE WHEN 3 * r <= n THEN 'head'
                                WHEN 3 * r <= 2 * n THEN 'middle'
                                ELSE 'tail' END AS bucket
                         FROM r
                         WHERE NOT (3 * r > 2 * n)),
                cnt AS (SELECT lang, count(*) AS c FROM kept GROUP BY lang),
                m AS (SELECT max(c) AS cmax FROM cnt),
                thr AS (SELECT lang,
                          CAST(round(least(1.0, 0.5 * sqrt(cmax::DOUBLE / c)) * 65536)
                            AS BIGINT) AS thr
                        FROM cnt CROSS JOIN m)
              SELECT k.doc_id, k.lang, k.bucket FROM kept k JOIN thr USING (lang)
              WHERE thr >= 65536
                 OR substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 4) < printf('%04x', thr)""")
    ),

    // C24 curation v8 — SPAN-surgical decontamination: v5's whole-doc
    // substring drop replaced by spanDecontaminate — a corpus doc that
    // quotes the benchmark verbatim loses just the quoted spans and
    // STAYS in the mix (the data-efficient policy at 100 TB: a 50k-char
    // doc with one leaked quiz question keeps its other 49k chars).
    // n-gram and semantic doom stay whole-doc (those rules model
    // documents ABOUT the benchmark, not quotes inside otherwise-good
    // docs). Quality gating runs on the CUT text — the honest order:
    // remove the leak first, judge what remains. The aggregate reads
    // kept-char averages and total cut bytes, so the span surgery is
    // hash-witnessed end to end.
    QueryDef(
      "c24_curation_v8",
      (s, d) => {
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        val corpus = docs.filter(col("doc_id") >= 50)
        val bench = docs.filter(col("doc_id") < 50)
        val doomed = Dedup.contaminatedIds(corpus, bench, "doc_id", "text", n = 8)
          .unionAll(Dedup.semanticContaminatedIds(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 50), "embedding", tau = 0.95))
        // localCheckpoint: kept feeds the span posting AND the lang join
        val kept = Dedup.removeIds(corpus, "doc_id", doomed).localCheckpoint(true)
        val spanned = Dedup.spanDecontaminate(kept, bench, "doc_id", "text")
          .localCheckpoint(true) // feeds the quality branch AND the agg
        val quality = Text.qualityScore(spanned, "doc_id", "text")
        spanned
          .join(kept.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .join(quality.filter(col("lexical_diversity") >= 0.5).select("doc_id"),
            Seq("doc_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(avg(length(col("text"))), 2).as("avg_kept_chars"),
            sum(col("n_cut")).as("chars_cut"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc,
                         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
                         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 7)) t(i)),
                bench AS (SELECT DISTINCT shingle FROM sh WHERE doc < 50),
                bad1 AS (SELECT DISTINCT doc FROM sh
                         WHERE doc >= 50 AND shingle IN (SELECT shingle FROM bench)),
                bq AS (SELECT vec_id AS b, CAST(unnest(embedding) AS DOUBLE) AS v,
                              generate_subscripts(embedding, 1) AS i
                       FROM embeddings WHERE vec_id < 50),
                ev AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                              generate_subscripts(embedding, 1) AS i
                       FROM embeddings),
                dots AS (SELECT ev.vec_id, bq.b, sum(ev.v * bq.v) AS dot,
                                sum(ev.v * ev.v) AS ne, sum(bq.v * bq.v) AS nq
                         FROM ev JOIN bq ON ev.i = bq.i GROUP BY ev.vec_id, bq.b),
                bad2 AS (SELECT DISTINCT vec_id AS doc FROM dots
                         WHERE dot / (sqrt(ne) * sqrt(nq)) >= 0.95),
                keptdocs AS (SELECT doc_id, lang, text FROM documents
                             WHERE doc_id >= 50
                               AND doc_id NOT IN (SELECT doc FROM bad1)
                               AND doc_id NOT IN (SELECT doc FROM bad2)),
                wd AS (SELECT doc_id, text FROM documents
                       WHERE doc_id < 50 AND text IS NOT NULL AND len(text) >= 23),
                whs AS (SELECT doc_id, i,
                               substring(md5(substr(text, i, 16)), 1, 16) AS h,
                               len(text) - 15 AS nh
                        FROM wd, UNNEST(generate_series(1, len(text) - 15)) t(i)),
                wwm AS (SELECT doc_id, i, nh,
                               min(h) OVER (PARTITION BY doc_id ORDER BY i
                                            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
                        FROM whs),
                bfp AS (SELECT DISTINCT fp FROM wwm WHERE i <= nh - 7),
                cd AS (SELECT doc_id, text FROM keptdocs
                       WHERE text IS NOT NULL AND len(text) >= 23),
                chs AS (SELECT doc_id, i,
                               substring(md5(substr(text, i, 16)), 1, 16) AS h,
                               len(text) - 15 AS nh
                        FROM cd, UNNEST(generate_series(1, len(text) - 15)) t(i)),
                cwm AS (SELECT doc_id, i AS ws, nh,
                               min(h) OVER (PARTITION BY doc_id ORDER BY i
                                            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m
                        FROM chs),
                sel AS (SELECT c.doc_id, c.m AS fp, max(h2.i) AS pos
                        FROM cwm c JOIN chs h2
                          ON h2.doc_id = c.doc_id AND h2.h = c.m
                             AND h2.i BETWEEN c.ws AND c.ws + 7
                        WHERE c.ws <= c.nh - 7
                        GROUP BY c.doc_id, c.ws, c.m),
                cuts AS (SELECT DISTINCT doc_id, pos FROM sel
                         WHERE fp IN (SELECT fp FROM bfp)),
                chars AS (SELECT doc_id, i, substr(text, i, 1) AS ch
                          FROM (SELECT doc_id, text FROM keptdocs
                                WHERE text IS NOT NULL) x,
                               UNNEST(generate_series(1, len(text))) t(i)),
                kept AS (SELECT c.doc_id, string_agg(ch, '' ORDER BY i) AS newtext
                         FROM chars c
                         WHERE NOT EXISTS (SELECT 1 FROM cuts k
                                           WHERE k.doc_id = c.doc_id
                                             AND c.i >= k.pos AND c.i < k.pos + 16)
                         GROUP BY c.doc_id),
                final AS (SELECT kd.doc_id, kd.lang,
                                 CASE WHEN kd.text IS NULL THEN NULL
                                      ELSE coalesce(k.newtext, '') END AS newtext,
                                 CASE WHEN kd.text IS NULL THEN 0
                                      ELSE len(kd.text) - len(coalesce(k.newtext, '')) END AS ncut
                          FROM keptdocs kd LEFT JOIN kept k USING (doc_id)),
                q AS (SELECT doc_id FROM final
                      WHERE round(len(list_distinct(string_split(newtext, ' '))) * 1.0
                                  / len(string_split(newtext, ' ')), 4) >= 0.5)
              SELECT lang, count(*) AS n_docs,
                     round(avg(len(newtext)), 2) AS avg_kept_chars,
                     CAST(sum(ncut) AS BIGINT) AS chars_cut
              FROM final WHERE doc_id IN (SELECT doc_id FROM q)
              GROUP BY lang""")
    ),

    // Curation v9: EMBEDDING-SPACE pruning in the product path (the
    // Sorscher et al. NeurIPS'22 stage) — decontaminate -> prototype
    // scores per LANGUAGE with centroids from the DECONTAMINATED corpus
    // (benchmark vectors must not shape the prototypes, v6's principle)
    // -> drop each language's least-prototypical tercile via groupedRank
    // (never a per-lang single-task window) -> alpha=0.5 temperature
    // rebalance. vec_id ≡ doc_id (the aligned-id convention, see
    // c14_hybrid_rrf); deterministic end-to-end, so the oracle recomputes
    // decon, centroids, scores, tercile edges, and rebalance thresholds
    // from scratch.
    QueryDef(
      "c24_curation_v9",
      (s, d) => {
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        val clean = Dedup.decontaminate(docs.filter(col("doc_id") >= 50),
          docs.filter(col("doc_id") < 50), "doc_id", "text", n = 8)
        val withVec = clean.select(col("doc_id"), col("lang"))
          .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
            Seq("doc_id"))
        // localCheckpoint: scored feeds the per-lang counts AND the rank
        val scored = Similarity.prototypeScores(
          withVec, "doc_id", "embedding", "lang").localCheckpoint(true)
        val n = scored.groupBy("lang").agg(count(lit(1)).as("__n"))
        val ranked = Relational.groupedRank(scored, Seq("lang"),
          Seq(col("sim"), col("doc_id")), "__r")
        // |langs|-sized gate: one take action, local relation under the
        // gate (the collectUnderGate posture, r22); past it the aggregate
        // re-runs into the checkpoint over the CHECKPOINTED scored blocks
        val withN = Relational.collectUnderGate(n, Dedup.HotShingleBroadcastLimit) match {
          case Some(rows) =>
            ranked.join(broadcast(Relational.localFrame(n, rows, n.schema)), Seq("lang"))
          case None =>
            ranked.join(n.localCheckpoint(true).hint("SHUFFLE_HASH"), Seq("lang"))
        }
        val kept = withN.filter(col("__r") * 3 > col("__n"))
          .select(col("doc_id"), col("lang"), col("sim"))
        Relational.temperatureSample(kept, "lang", "doc_id", baseFrac = 0.5)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc,
                         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
                         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 7)) t(i)),
                bench AS (SELECT DISTINCT shingle FROM sh WHERE doc < 50),
                bad AS (SELECT DISTINCT doc FROM sh
                        WHERE doc >= 50 AND shingle IN (SELECT shingle FROM bench)),
                clean AS (SELECT doc_id, lang FROM documents
                          WHERE doc_id >= 50
                            AND doc_id NOT IN (SELECT doc FROM bad)),
                e AS (SELECT c.doc_id, c.lang,
                             CAST(unnest(em.embedding) AS DOUBLE) AS v,
                             generate_subscripts(em.embedding, 1) AS i
                      FROM clean c JOIN embeddings em ON em.vec_id = c.doc_id),
                cen AS (SELECT lang, i,
                          round(CAST(sum(CAST(round(v, 6) AS DECIMAL(18,6)))
                                     AS DOUBLE) / count(*), 6) AS c
                        FROM e GROUP BY lang, i),
                nc AS (SELECT lang,
                         CAST(sum(CAST(c * c AS DECIMAL(18,6))) AS DOUBLE) AS nc
                       FROM cen GROUP BY lang),
                dts AS (SELECT e.doc_id, e.lang,
                          CAST(sum(CAST(e.v * cen.c AS DECIMAL(18,6))) AS DOUBLE) AS dot,
                          CAST(sum(CAST(e.v * e.v AS DECIMAL(18,6))) AS DOUBLE) AS ne
                        FROM e JOIN cen ON e.lang = cen.lang AND e.i = cen.i
                        GROUP BY e.doc_id, e.lang),
                scored AS (SELECT d.doc_id, d.lang,
                             round(d.dot / (sqrt(d.ne) * sqrt(nc.nc)), 4) AS sim
                           FROM dts d JOIN nc USING (lang)
                           WHERE d.ne > 0 AND nc.nc > 0),
                r AS (SELECT doc_id, lang, sim,
                        row_number() OVER (PARTITION BY lang ORDER BY sim, doc_id) AS r,
                        count(*) OVER (PARTITION BY lang) AS n
                      FROM scored),
                kept AS (SELECT doc_id, lang, sim FROM r WHERE 3 * r > n),
                cnt AS (SELECT lang, count(*) AS c FROM kept GROUP BY lang),
                m AS (SELECT max(c) AS cmax FROM cnt),
                thr AS (SELECT lang,
                          CAST(round(least(1.0, 0.5 * sqrt(cmax::DOUBLE / c)) * 65536)
                            AS BIGINT) AS thr
                        FROM cnt CROSS JOIN m)
              SELECT k.doc_id, k.lang, k.sim FROM kept k JOIN thr USING (lang)
              WHERE thr >= 65536
                 OR substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 4) < printf('%04x', thr)""")
    ),

    // C24 token budget: the per-(lang, source) planning table
    // a training run reads — docs, tokens, and corpus fraction AFTER
    // decontamination (epoch math, mixture weights, and cost estimates
    // all start from this frame). Two map-side-foldable aggregates over
    // one checkpointed decon pass; the total rides as a broadcast 1-row
    // frame.
    QueryDef(
      "c24_token_budget",
      (s, d) => {
        val docs = t(s, d, "documents")
        // localCheckpoint: clean feeds the per-stratum aggregate AND the
        // corpus total — one decontamination pass
        val clean = Dedup.decontaminate(docs.filter(col("doc_id") >= 50),
          docs.filter(col("doc_id") < 50), "doc_id", "text", n = 8)
          .localCheckpoint(true)
        val base = clean.select(col("lang"), col("source"),
          size(Text.tokens(col("text"))).cast("long").as("__n"))
        val agg = base.groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"))
        val total = broadcast(base.agg(sum(col("__n")).cast("double").as("__t")))
        agg.crossJoin(total)
          .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
            round(col("n_tokens") / col("__t"), 6).as("frac"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh AS (SELECT DISTINCT doc_id AS doc,
                         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
                         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS shingle
                       FROM toks, UNNEST(generate_series(1, len(ws) - 7)) t(i)),
                bench AS (SELECT DISTINCT shingle FROM sh WHERE doc < 50),
                bad AS (SELECT DISTINCT doc FROM sh
                        WHERE doc >= 50 AND shingle IN (SELECT shingle FROM bench)),
                clean AS (SELECT d.lang, d.source,
                            len(string_split(d.text, ' ')) AS n
                          FROM documents d
                          WHERE d.doc_id >= 50
                            AND d.doc_id NOT IN (SELECT doc FROM bad)),
                agg AS (SELECT lang, source, count(*) AS n_docs,
                          CAST(sum(n) AS BIGINT) AS n_tokens
                        FROM clean GROUP BY lang, source),
                tot AS (SELECT sum(n_tokens)::DOUBLE AS t FROM agg)
              SELECT lang, source, n_docs, n_tokens,
                round(n_tokens / t, 6) AS frac
              FROM agg CROSS JOIN tot""")
    ),

    // C24 sequence packing (concat-and-chunk): where each doc lands when
    // the corpus is concatenated in doc_id order and cut into 512-token
    // training sequences. Runs on the distributed two-phase prefix sum —
    // no single-partition global window (Relational.prefixSum).
    QueryDef(
      "c24_pack_sequences",
      (s, d) => Relational.packSequences(t(s, d, "documents"), "doc_id",
        size(Text.tokens(col("text"))), budget = 512),
      Some("""WITH t AS (SELECT doc_id,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                         FROM documents),
                c AS (SELECT doc_id, n_tokens,
                        sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS bef
                      FROM t)
              SELECT doc_id, n_tokens,
                CAST(bef // 512 AS BIGINT) AS seq_id,
                CAST(bef % 512 AS BIGINT) AS seq_offset
              FROM c""")
    ),

    // Curation pipeline v2 — the C12-C15 ops composed end-to-end:
    // decontaminate (docs 0-49 held out) → plant per-doc PII boilerplate →
    // scrub → line-level dedup → pack into 512-token sequences. The
    // ordering is the point: the planted contact line carries a UNIQUE
    // email per doc, so line dedup only collapses it AFTER redaction
    // normalizes it to 'contact [EMAIL] for access' — dedup-after-
    // normalization, the RefinedWeb lesson, proven by the oracle.
    QueryDef(
      "c24_curation_v2",
      (s, d) => {
        val docs = t(s, d, "documents")
        val clean = Dedup.decontaminate(docs.filter(col("doc_id") >= 50),
          docs.filter(col("doc_id") < 50), "doc_id", "text", n = 8)
        val planted = clean.select(col("doc_id"),
          concat(col("text"), lit("\ncontact user"), col("doc_id"),
            lit("@example.com for access")).as("text"))
        val scrubbed = planted.select(col("doc_id"),
          graft.ops.Text.scrubPii(col("text")).as("text"))
        val deduped = Dedup.lineDedup(scrubbed, "doc_id", "text")
        Relational.packSequences(deduped, "doc_id",
          size(split(col("text"), "[ \n]")), budget = 512)
      },
      Some("""WITH toks0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh0 AS (SELECT DISTINCT doc_id AS doc,
                          ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
                          ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS shingle
                        FROM toks0, UNNEST(generate_series(1, len(ws) - 7)) t(i)),
                bench AS (SELECT DISTINCT shingle FROM sh0 WHERE doc < 50),
                bad AS (SELECT DISTINCT doc FROM sh0
                        WHERE doc >= 50 AND shingle IN (SELECT shingle FROM bench)),
                clean AS (SELECT doc_id, text FROM documents
                          WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc FROM bad)),
                planted AS (SELECT doc_id,
                              concat(text, chr(10), 'contact user', CAST(doc_id AS VARCHAR),
                                     '@example.com for access') AS text
                            FROM clean),
                scrubbed AS (SELECT doc_id, regexp_replace(
                               regexp_replace(
                                 regexp_replace(text,
                                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                                 '[0-9]{1,3}(\.[0-9]{1,3}){3}', '[IP]', 'g'),
                               '\+?[0-9][0-9 ()-]{6,}[0-9]', '[PHONE]', 'g') AS text
                             FROM planted),
                arrs AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM scrubbed),
                lines AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, arr[i] AS line
                          FROM arrs, UNNEST(generate_series(1, len(arr))) t(i)),
                ranked AS (SELECT doc_id, pos, line,
                                  row_number() OVER (PARTITION BY line
                                                     ORDER BY doc_id, pos) AS rn
                           FROM lines),
                dedup AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
                          FROM ranked WHERE rn = 1 GROUP BY doc_id),
                tok AS (SELECT doc_id,
                          CAST(len(string_split_regex(text, '[ \n]')) AS BIGINT) AS n_tokens
                        FROM dedup),
                cum AS (SELECT doc_id, n_tokens,
                          sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS bef
                        FROM tok)
              SELECT doc_id, n_tokens,
                CAST(bef // 512 AS BIGINT) AS seq_id,
                CAST(bef % 512 AS BIGINT) AS seq_offset
              FROM cum""")
    ),

    // Curation pipeline v3 = v2 + the content-stable train/val split on
    // the curated output: the full corpus → curated → packed →
    // split-for-training product path. The split is a zero-shuffle
    // projection appended to the v2 plan, so the composition costs
    // nothing beyond v2.
    QueryDef(
      "c24_curation_v3",
      (s, d) => {
        val docs = t(s, d, "documents")
        val clean = Dedup.decontaminate(docs.filter(col("doc_id") >= 50),
          docs.filter(col("doc_id") < 50), "doc_id", "text", n = 8)
        val scrubbed = clean.select(col("doc_id"),
          graft.ops.Text.scrubPii(col("text")).as("text"))
        val deduped = Dedup.lineDedup(scrubbed, "doc_id", "text")
        val packed = Relational.packSequences(deduped, "doc_id",
          size(split(col("text"), "[ \n]")), budget = 512)
        graft.ops.Relational.hashSplit(packed, "doc_id", trainFrac = 0.875)
      },
      Some("""WITH toks0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                sh0 AS (SELECT DISTINCT doc_id AS doc,
                          ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
                          ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS shingle
                        FROM toks0, UNNEST(generate_series(1, len(ws) - 7)) t(i)),
                bench AS (SELECT DISTINCT shingle FROM sh0 WHERE doc < 50),
                bad AS (SELECT DISTINCT doc FROM sh0
                        WHERE doc >= 50 AND shingle IN (SELECT shingle FROM bench)),
                clean AS (SELECT doc_id, text FROM documents
                          WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc FROM bad)),
                scrubbed AS (SELECT doc_id, regexp_replace(
                               regexp_replace(
                                 regexp_replace(text,
                                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                                 '[0-9]{1,3}(\.[0-9]{1,3}){3}', '[IP]', 'g'),
                               '\+?[0-9][0-9 ()-]{6,}[0-9]', '[PHONE]', 'g') AS text
                             FROM clean),
                arrs AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM scrubbed),
                lines AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, arr[i] AS line
                          FROM arrs, UNNEST(generate_series(1, len(arr))) t(i)),
                ranked AS (SELECT doc_id, pos, line,
                                  row_number() OVER (PARTITION BY line
                                                     ORDER BY doc_id, pos) AS rn
                           FROM lines),
                dedup AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
                          FROM ranked WHERE rn = 1 GROUP BY doc_id),
                tok AS (SELECT doc_id,
                          CAST(len(string_split_regex(text, '[ \n]')) AS BIGINT) AS n_tokens
                        FROM dedup),
                cum AS (SELECT doc_id, n_tokens,
                          sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS bef
                        FROM tok)
              SELECT doc_id, n_tokens,
                CAST(bef // 512 AS BIGINT) AS seq_id,
                CAST(bef % 512 AS BIGINT) AS seq_offset,
                CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e000'
                     THEN 'train' ELSE 'val' END AS split
              FROM cum""")
    ),

    // ── C17-C21: event-time windows (batch equivalents of the streaming
    //    plans in graft.streaming; identical groupBy(window) expressions) ─
    QueryDef(
      "c18_window_tumbling",
      (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total")),
      Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
                count(*) AS n, round(sum(value), 2) AS total
              FROM events GROUP BY 1, 2""")
    ),

    QueryDef(
      "c18_window_sliding",
      (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total")),
      Some("""SELECT w_start, event_type, count(*) AS n, round(sum(value), 2) AS total FROM (
                SELECT time_bucket(INTERVAL '60 minutes', ts) AS w_start, event_type, value FROM events
                UNION ALL
                SELECT time_bucket(INTERVAL '60 minutes', ts, INTERVAL '30 minutes') AS w_start,
                       event_type, value FROM events) t
              GROUP BY 1, 2""")
    ),

    // C20 stream-stream interval join, batch form (same expression tree
    // as the streaming plan — withWatermark is eliminated on batch):
    // view→click attribution within 30 minutes per user.
    QueryDef(
      "c20_interval_join",
      (s, d) => {
        val ev = t(s, d, "events")
        graft.streaming.Streaming.viewClickAttribution(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "click"))
      },
      Some("""WITH v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
                         FROM events WHERE event_type = 'view'),
                c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
                      FROM events WHERE event_type = 'click')
              SELECT v.user_id, view_id, click_id,
                epoch_us(click_ts) - epoch_us(view_ts) AS delay_us
              FROM v JOIN c ON v.user_id = c.user_id
              WHERE click_ts >= view_ts
                AND click_ts <= view_ts + INTERVAL 30 MINUTE""")
    ),

    QueryDef(
      "c19_session_window",
      (s, d) => t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n"), col("total")),
      Some("""WITH g AS (SELECT user_id, ts, value,
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                               < INTERVAL '30 minutes' THEN 0 ELSE 1 END AS newsess
                   FROM events),
                sess AS (SELECT user_id, ts, value,
                       sum(newsess) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                     FROM g)
              SELECT user_id, min(ts) AS session_start, count(*) AS n, round(sum(value), 2) AS total
              FROM sess GROUP BY user_id, sid""")
    ),

    // C19×C9 composition: sessionized conversion — per (user, session),
    // did a purchase land AFTER the session's first view? The funnel
    // signal at session granularity, all inside the session aggregate
    // (conditional min/max — no second window pass). The oracle rebuilds
    // Spark's session windows with the lag/cumsum sessionization CTE.
    QueryDef(
      "c19_session_conversion",
      (s, d) => t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(when(col("event_type") === "view", col("ts"))).as("__fv"),
          max(when(col("event_type") === "purchase", col("ts"))).as("__lp"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"),
          (col("__fv").isNotNull && col("__lp").isNotNull &&
            col("__lp") > col("__fv")).cast("int").as("converted")),
      Some("""WITH g AS (SELECT user_id, ts, event_type,
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                               < INTERVAL '30 minutes' THEN 0 ELSE 1 END AS newsess
                   FROM events),
                sess AS (SELECT user_id, ts, event_type,
                       sum(newsess) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                     FROM g)
              SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
                     CAST(CASE WHEN min(CASE WHEN event_type = 'view' THEN ts END) IS NOT NULL
                                AND max(CASE WHEN event_type = 'purchase' THEN ts END)
                                    > min(CASE WHEN event_type = 'view' THEN ts END)
                               THEN 1 ELSE 0 END AS INTEGER) AS converted
              FROM sess GROUP BY user_id, sid""")
    ),

    // C21 batch equivalence for stateful dedup: deterministic first-event
    // survivor per (user_id, event_type) — the semantics
    // dropDuplicatesWithinWatermark converges to on an in-order stream
    // (stream==batch asserted in StreamingSpec).
    QueryDef(
      "c21_dedup_batch_equiv",
      (s, d) => graft.streaming.Streaming.dedupFirstEvent(
        t(s, d, "events"), Seq("user_id", "event_type")),
      Some("""SELECT user_id, event_type, first_ts, first_event_id FROM (
                SELECT user_id, event_type, ts AS first_ts, event_id AS first_event_id,
                       row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) AS rn
                FROM events) t WHERE rn = 1""")
    )
  )

  lazy val byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap
}
