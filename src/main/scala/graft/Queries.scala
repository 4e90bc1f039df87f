package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Stages
import graft.functions.TextFunctions._
import graft.operators._

/** The driver-facing query registry: every operator from SURVEY §2 plus the
  * training-data-pipeline extensions, each as a `(SparkSession, sfDir) =>
  * DataFrame` with (where SQL-expressible) a DuckDB oracle over the same
  * parquet tables.
  *
  * Cross-engine determinism rules used throughout (see README):
  *  - no raw float aggregates: money/value sums go through per-row
  *    `round(expr, s)` + `DECIMAL(18,s)` cast, summed exactly, cast back to
  *    double and rounded at the end — immune to summation order;
  *  - every ranking has a total tie-break (unique key last);
  *  - hashes are md5-derived (`TextFunctions.hash60`) — engine-stable;
  *  - timestamps are compared/emitted as epoch millis or formatted strings,
  *    never raw timestamp values;
  *  - every query ends in an explicit ORDER BY (same in both engines).
  */
object Queries {

  final case class Q(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      headline: Boolean = false)

  // ---------------------------------------------------------------- helpers

  /** Tables whose queries do heavy per-row compute (regex, explode, vector
    * math) before any shuffle. The testdata files are single-row-group
    * parquet, so the scan yields ONE partition and that compute would run
    * single-threaded; fan out to the session's parallelism when the source
    * under-partitions. On real multi-file datasets this is a no-op. Queries
    * whose first operation is a shuffle anyway (groupBy/window) gain nothing
    * from a pre-shuffle, so other tables are left as scanned. */
  // `part` joined the set in round 17: q_fuzzy_parts streams the whole
  // table through a block self-join whose per-pair Levenshtein ran on the
  // scan's single input partition — one core for the block-quadratic
  // comparator (measured 50.7 s at sf0.1, the slowest registry row; 32-way
  // fan-out puts it on every core).
  private val FanOutTables = Set("documents", "embeddings", "lineitem", "part")

  /** Test hook: forces [[rd]]'s fan-out width so invariance specs can vary
    * the INPUT partition layout, not just `spark.sql.shuffle.partitions` —
    * pre-shuffle aggregation buffers (typed Aggregators, map-side combine)
    * merge in input-partition order, a dimension the shuffle knob never
    * moves (the r8 `e_covariance` nondeterminism lived exactly there). */
  @volatile private[graft] var fanOutOverride: Option[Int] = None

  private def rd(s: SparkSession, dir: String, t: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$t.parquet")
    val target = fanOutOverride.getOrElse(s.sparkContext.defaultParallelism)
    if (FanOutTables(t) &&
        (fanOutOverride.isDefined ||
          df.rdd.getNumPartitions < math.min(target, 8)))
      df.repartition(target)
    else df
  }

  /** events.ts normalized to epoch NANOS as BIGINT regardless of the file's
    * physical type — ns-precision parquet arrives as a long already (via the
    * nanosAsLong fallback); us-precision arrives as TIMESTAMP_NTZ and is
    * converted (session tz is UTC, so the wall clock IS the epoch, matching
    * DuckDB's naive-timestamp epoch_ms on the oracle side). Downstream code
    * does pure integer time math (`ts div 1000000` -> ms) on one contract. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.core.Catalog.epochNanos(rd(s, dir, "events"), "ts")
  }

  /** Exact-sum pattern: per-row round to `scale` + decimal cast. */
  private def sdec(c: Column, scale: Int = 6): Column =
    round(c, scale).cast(s"decimal(18,$scale)")

  /** Decimal aggregate back to rounded double for output. */
  private def outd(c: Column, scale: Int = 2): Column =
    round(c.cast("double"), scale)

  /** The same pattern on the DuckDB side. */
  private def sqlSum(expr: String, rowScale: Int = 6, outScale: Int = 2): String =
    s"round(CAST(sum(CAST(round($expr, $rowScale) AS DECIMAL(18,$rowScale))) AS DOUBLE), $outScale)"

  /** Integer-scaled LONG row value: `round(c * 10^s) as long` — the exact
    * same grid point `sdec(c, s)` lands on (the row value is a native
    * s-decimal quantity, so rounding at scale s snaps fp noise back to the
    * grid; no true half-way case exists), but summed as a PRIMITIVE long:
    * whole-stage-codegen add with no per-row Decimal allocation and no
    * 128-bit overflow-checked aggregate buffer. sum(lrow)/10^s cast to
    * double equals the decimal sum cast to double bit-for-bit while the
    * total stays under 2^53 (9e15 — micro-unit sums at any per-executor
    * partition size; the final merge is the only place it could matter and
    * the output is rounded to `outScale` anyway). Value-equality with the
    * decimal formulation is spec-pinned (QueriesSpec). */
  private def lrow(c: Column, s: Int): Column =
    round(c * lit(math.pow(10, s)), 0).cast("long")

  /** `sum(lrow(c, s))` back to a rounded double at `outScale`. */
  private def lsum(c: Column, s: Int, outScale: Int = 2): Column =
    round(sum(lrow(c, s)).cast("double") / lit(math.pow(10, s)), outScale)

  // SQL fragments shared by the text oracles.
  private val ToksCte =
    """toks AS (SELECT doc_id, regexp_extract_all(text, '[\p{L}]+') AS t FROM documents)"""
  private val StreamCte =
    """stream AS (SELECT doc_id, unnest(t) AS token, unnest(range(1, len(t)+1)) AS pos FROM toks)"""
  private val UniCte =
    """uni AS (SELECT doc_id, token, count(*) AS "count" FROM stream GROUP BY doc_id, token)"""
  private val VocabCte =
    """vocab AS (SELECT token, "count", row_number() OVER (ORDER BY "count" DESC, token) - 1 AS wordid
      |  FROM (SELECT token, count(*) AS "count" FROM stream GROUP BY token
      |        ORDER BY count(*) DESC, token LIMIT 1000000))""".stripMargin

  private def sqlHash60(x: String): String =
    s"CAST('0x' || substring(md5($x), 1, 15) AS BIGINT)"

  /** The pqFit codeword-seed ORDER BY, shared by all four PQ oracle
    * replays (e_pq_adc, e_ivf_pq, e_ivf_pq_probe, e_ivf_pq_refine) —
    * ONE definition of the hash-spread seed rule so the replays cannot
    * drift from each other or from the Scala hash60 contract on a
    * future edit (ADVICE r16; the rule itself is the round-16
    * codebook-collapse fix: seeds in hash order, never id order). */
  private lazy val sqlPqSeedOrder: String =
    s"${sqlHash60("'pqseed:' || CAST(vec_id AS VARCHAR)")}, vec_id"

  /** BPE replay chain (6 rounds) over $ToksCte/$StreamCte: wbpe is the
    * lowercased [a-z]+ word-frequency table, s0..s6 the boundary-safe
    * symbol states (word carried through), t1..t6 each round's winning
    * pair. Every chained CTE is MATERIALIZED and the winning pair arrives
    * via a 1-row LEFT JOIN, not scalar subqueries — 4 scalar subs per
    * round re-evaluate the whole chain 4^6 times (measured: a hang; the
    * join form runs in 0.1s). Shared by t_bpe (reads t_i) and
    * t_bpe_encode (reads s6). */
  private lazy val sqlBpeCtes: String =
    s"""$ToksCte, $StreamCte,
    |$sqlBpeChain""".stripMargin

  /** Full-corpus packing replay (follows $sqlBpeCtes): piece split
    * `pc`, word stream `ws`, per-(doc,pos) `pieces`, dense piece-id
    * vocab `voc`, per-bucket running offsets `st`, and the global piece
    * index table `pp` — shared by t_packed_ids and t_packing_stats. */
  private lazy val sqlPackCtes: String =
    s"""pc AS (SELECT word, l[x] AS piece, x AS sp
        |  FROM (SELECT word, string_split(trim(sym), '  ') AS l FROM s6),
    |    unnest(range(1, len(l) + 1)) AS u(x)),
    |ws AS (SELECT doc_id, pos, lower(token) AS word FROM stream
    |  WHERE regexp_matches(lower(token), '^[a-z]+$$')),
    |pieces AS (SELECT ws.doc_id, ws.pos, pc.sp, pc.piece
    |  FROM ws JOIN pc ON pc.word = ws.word),
    |voc AS (SELECT piece, row_number() OVER (ORDER BY piece) - 1 AS pid
    |  FROM (SELECT DISTINCT piece FROM pieces)),
    |enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pieces
    |  FROM pieces GROUP BY doc_id),
    |bk AS (SELECT doc_id, n_pieces,
    |    ${sqlHash60("CAST(doc_id AS VARCHAR) || ':pack'")} % 8 AS bucket
    |  FROM enc),
    |st AS (SELECT doc_id, bucket,
    |    COALESCE(CAST(sum(n_pieces) OVER (PARTITION BY bucket
    |      ORDER BY doc_id
    |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
    |      0) AS start_tok
    |  FROM bk),
    |pp AS (SELECT p.doc_id, st.bucket,
    |    st.start_tok + row_number()
    |      OVER (PARTITION BY p.doc_id ORDER BY p.pos, p.sp) - 1 AS pg,
    |    v.pid
    |  FROM pieces p JOIN voc v USING (piece) JOIN st USING (doc_id))""".stripMargin

  /** The BPE train replay ALONE (wbpe..s6, t1..t6) over whatever `stream`
    * is in scope — lets a caller (the curation pipeline) train the
    * tokenizer on a FILTERED corpus by defining its own stream CTE first.
    * [[sqlBpeCtes]] = the full-corpus $ToksCte/$StreamCte + this chain. */
  private lazy val sqlBpeChain: String = {
    val rounds = (1 to 6).map { i =>
      val prev = s"s${i - 1}"
      s"""l$i AS MATERIALIZED (SELECT cnt, string_split(trim(sym), '  ') AS l FROM $prev),
      |p$i AS (SELECT cnt, l[x] AS a, l[x+1] AS b
      |  FROM l$i, unnest(range(1, len(l))) AS u(x) WHERE len(l) >= 2),
      |t$i AS MATERIALIZED (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS n FROM p$i
      |  GROUP BY a, b ORDER BY sum(cnt) DESC, a, b LIMIT 1),
      |s$i AS MATERIALIZED (SELECT s.word, s.cnt, CASE WHEN t.a IS NULL THEN s.sym
      |    ELSE replace(s.sym, ' ' || t.a || '  ' || t.b || ' ',
      |      ' ' || t.a || t.b || ' ') END AS sym
      |  FROM $prev s LEFT JOIN t$i t ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""wbpe AS (SELECT lower(token) AS word, CAST(count(*) AS BIGINT) AS cnt
    |  FROM stream WHERE regexp_matches(lower(token), '^[a-z]+$$')
    |  GROUP BY 1),
    |s0 AS MATERIALIZED (SELECT word, cnt,
    |    ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS sym
    |  FROM wbpe),
    |$rounds""".stripMargin
  }

  /** BM25 CTE chain over $UniCte: per-doc lengths, corpus stats (N,
    * milli-avgdl), df + Robertson idf at integer micro, and `sc` — the
    * per-(doc, token) score at integer micro. The arithmetic constants are
    * embedded from the SAME doubles `TextRanking.bm25` computes
    * (Double.toString round-trips), so both engines execute an identical
    * IEEE expression tree. */
  private lazy val sqlBm25Ctes: String = {
    // the SAME doubles the Spark plan computes — one derivation, no copy
    // to desync if k1/b defaults ever change
    val (kPlus1, c1, c2) = TextRanking.bm25Constants()
    s"""dlb AS (SELECT doc_id, CAST(sum("count") AS BIGINT) AS dl
    |  FROM uni GROUP BY doc_id),
    |stb AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
    |    (SELECT coalesce(sum(dl), 0) FROM dlb) AS tot),
    |stb2 AS (SELECT n, greatest(1, CAST(round(
    |    CAST(tot AS DOUBLE) * 1000.0 / greatest(n, 1), 0) AS BIGINT)) AS avgdl_m
    |  FROM stb),
    |dfx AS (SELECT token, CAST(count(*) AS BIGINT) AS df,
    |    CAST(round(ln((CAST((SELECT n FROM stb2) AS DOUBLE) - count(*) + 0.5)
    |      / (count(*) + 0.5) + 1.0) * 1000000, 0) AS BIGINT) AS idf_micro
    |  FROM uni GROUP BY token),
    |sc AS (SELECT u.doc_id, u.token, u."count" AS tf, d.df, l.dl,
    |    CAST(round((d.idf_micro * u."count") * $kPlus1 /
    |      (CAST(u."count" AS DOUBLE) + $c1 + $c2 *
    |        (CAST(l.dl AS DOUBLE) * 1000.0
    |          / CAST((SELECT avgdl_m FROM stb2) AS DOUBLE))),
    |      0) AS BIGINT) AS score_micro
    |  FROM uni u JOIN dfx d USING (token) JOIN dlb l USING (doc_id))""".stripMargin
  }

  // =============================================================== queries

  val all: Seq[(String, Q)] = relational ++ textCore ++ dedup ++ analysis ++
    srp ++ srpExtra ++ vectors ++ pca ++ multimodal

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, q) => n -> q.fn }.toMap
  lazy val oracleSql: Map[String, String] =
    all.collect { case (n, Q(_, Some(o), _)) => n -> o }.toMap
  lazy val headlines: Seq[String] = all.collect { case (n, q) if q.headline => n }

  // ------------------------------------------------------------ relational

  private lazy val relational: Seq[(String, Q)] = Seq(

    // A12/A1-style pricing summary: filter -> grouped exact sums (TPC-H Q1
    // shape). Sums run in integer-scaled LONGS (lrow/lsum — primitive
    // codegen adds, no per-row Decimal churn in the aggregate buffer; the
    // r7 profile showed the decimal path's allocation pressure drifting q1
    // upward across samples), converted to the rounded-double output grid
    // only at the end — bit-identical to the decimal formulation the
    // oracle runs (see lrow's contract + QueriesSpec pin).
    "q1_pricing_summary" -> Q(
      (s, dir) => {
        val li = rd(s, dir, "lineitem").filter(col("l_shipdate") <= lit("1998-09-02"))
        val qty = lrow(col("l_quantity"), 2)
        val price = lrow(col("l_extendedprice"), 2)
        val disc = lrow(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        val charge = lrow(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")), 4)
        li.groupBy("l_returnflag", "l_linestatus").agg(
            round(sum(qty).cast("double") / lit(1e2), 2).as("sum_qty"),
            round(sum(price).cast("double") / lit(1e2), 2).as("sum_base_price"),
            round(sum(disc).cast("double") / lit(1e4), 2).as("sum_disc_price"),
            round(sum(charge).cast("double") / lit(1e4), 2).as("sum_charge"),
            round(sum(qty).cast("double") / lit(1e2) / count(lit(1)), 4).as("avg_qty"),
            round(sum(price).cast("double") / lit(1e2) / count(lit(1)), 4).as("avg_price"),
            round(sum(lrow(col("l_discount"), 6)).cast("double") / lit(1e6)
              / count(lit(1)), 6).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        |  ${sqlSum("l_quantity", 2)} AS sum_qty,
        |  ${sqlSum("l_extendedprice", 2)} AS sum_base_price,
        |  ${sqlSum("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
        |  ${sqlSum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 4)} AS sum_charge,
        |  round(CAST(sum(CAST(round(l_quantity, 2) AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
        |  round(CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_price,
        |  round(CAST(sum(CAST(round(l_discount, 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      headline = true),

    // 3-way join + grouped top-k (TPC-H Q3 shape). Customer side broadcasts.
    "q3_top_orders" -> Q(
      (s, dir) => {
        val cust = rd(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val ord = rd(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
        val li = rd(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
          // integer-scaled long sum (lrow contract): exact, so the top-10
          // cut by rev_l is the same cut the decimal oracle makes
          .agg(sum(lrow(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
            .as("rev_l"))
          .orderBy(desc("rev_l"), asc("o_orderkey"))
          .limit(10)
          .select(col("o_orderkey"), col("orderdate"),
            round(col("rev_l").cast("double") / lit(1e4), 2).as("revenue"))
          .orderBy(desc("revenue"), asc("o_orderkey"))
      },
      Some(s"""WITH r AS (
        |  SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4))) AS rev_dec
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
        |  ORDER BY rev_dec DESC, o_orderkey LIMIT 10)
        |SELECT o_orderkey, orderdate, round(CAST(rev_dec AS DOUBLE), 2) AS revenue
        |FROM r ORDER BY revenue DESC, o_orderkey""".stripMargin),
      headline = true),

    // 6-table star join, revenue by nation (TPC-H Q5 shape); dims broadcast.
    "q5_nation_revenue" -> Q(
      (s, dir) => {
        val li = rd(s, dir, "lineitem")
        val ord = rd(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1998-01-01"))
        val cust = rd(s, dir, "customer")
        val supp = rd(s, dir, "supplier")
        val nat = rd(s, dir, "nation")
        val reg = rd(s, dir, "region")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          // integer-scaled long sum (lrow contract; same grid as the
          // decimal oracle, primitive codegen aggregate buffer)
          .agg(lsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""SELECT r_name, n_name,
        |  ${sqlSum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
      headline = true),

    // Window rank: top-3 orders per customer (W2-style ranking).
    "q_window_rank" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(sdec(col("o_totalprice"), 2).desc, col("o_orderkey").asc)
        rd(s, dir, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("rn"),
            round(col("o_totalprice"), 2).as("totalprice"))
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, rn, round(o_totalprice, 2) AS totalprice
        |FROM (SELECT *, row_number() OVER (ORDER BY CAST(round(o_totalprice,2) AS DECIMAL(18,2)) DESC, o_orderkey) AS rn_g,
        |             row_number() OVER (PARTITION BY o_custkey
        |               ORDER BY CAST(round(o_totalprice,2) AS DECIMAL(18,2)) DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
      headline = true),

    // Running window sum per supplier (W3-style running offset).
    "q_running_total" -> Q(
      (s, dir) => {
        // l_quantity completes the total order: sf0.1 has duplicate
        // (suppkey, shipdate, orderkey, linenumber) rows with DIFFERENT
        // quantities, and a running sum over tied rows is engine-order-
        // dependent. With quantity in the order, remaining ties are
        // between identical contributions — the output multiset is
        // deterministic either way.
        val w = Window.partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        rd(s, dir, "lineitem")
          .withColumn("running_qty", outd(sum(sdec(col("l_quantity"), 2)).over(w)))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("running_qty"))
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(CAST(sum(CAST(round(l_quantity,2) AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_qty
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)),

    // Anti join: customers with no order since 2000 (left_anti / NOT EXISTS).
    "q_customers_no_orders" -> Q(
      (s, dir) => {
        val cust = rd(s, dir, "customer")
        val ord = rd(s, dir, "orders").filter(col("o_orderdate") >= lit("2000-01-01"))
        cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin)),

    // Semi join: customers with at least one urgent order (left_semi / EXISTS).
    "q_customers_urgent" -> Q(
      (s, dir) => {
        val cust = rd(s, dir, "customer")
        val ord = rd(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_mktsegment")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)),

    // Set ops: part sizes that exist overall but not in Brand#13 (EXCEPT).
    "q_sizes_except" -> Q(
      (s, dir) => {
        val part = rd(s, dir, "part")
        val allSizes = part.select(col("p_size").as("size")).distinct()
        val brand = part.filter(col("p_brand") === "Brand#13")
          .select(col("p_size").as("size")).distinct()
        allSizes.except(brand).orderBy("size")
      },
      Some("""SELECT DISTINCT p_size AS size FROM part
        |EXCEPT SELECT DISTINCT p_size FROM part WHERE p_brand = 'Brand#13'
        |ORDER BY size""".stripMargin)),

    // UNION ALL + distinct aggregation across two sources (U1).
    "q_union_nations" -> Q(
      (s, dir) => {
        val c = rd(s, dir, "customer")
          .select(col("c_nationkey").as("nationkey"), lit("customer").as("side"))
        val su = rd(s, dir, "supplier")
          .select(col("s_nationkey").as("nationkey"), lit("supplier").as("side"))
        c.unionAll(su).groupBy("nationkey")
          .agg(count(lit(1)).as("n_rows"), countDistinct(col("side")).as("n_sides"))
          .orderBy("nationkey")
      },
      Some("""SELECT nationkey, count(*) AS n_rows, count(DISTINCT side) AS n_sides
        |FROM (SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
        |      UNION ALL SELECT s_nationkey, 'supplier' FROM supplier)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin)),

    // Salted large-x-large join (explicit skew mitigation): output must be
    // row-identical to the plain inner join the oracle runs — the salt is
    // invisible in the result by construction.
    "q_salted_join" -> Q(
      (s, dir) => {
        val li = rd(s, dir, "lineitem")
          .select(col("l_orderkey").as("orderkey"),
            col("l_linenumber"), col("l_quantity"))
        val ords = rd(s, dir, "orders")
          .select(col("o_orderkey").as("orderkey"), col("o_orderstatus"))
        graft.core.Skew.saltedJoin(li, ords, Seq("orderkey"),
            salts = 8, saltBy = col("l_linenumber"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_items"),
            outd(sum(sdec(col("l_quantity"), 2))).as("sum_qty"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n_items,
        |  ${sqlSum("l_quantity", 2)} AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Z-order (Morton) layout key over (l_partkey, l_suppkey): the bit
    // interleave behind multi-dimensional row-group skipping, replayed
    // bit-for-bit by the oracle. Top-100 by the interleaved key.
    "q_zorder" -> Q(
      (s, dir) =>
        rd(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            Layout.zorderKey(Seq(col("l_partkey"), col("l_suppkey")), bitsPer = 16)
              .as("zkey"))
          .orderBy("zkey", "l_orderkey", "l_linenumber").limit(100),
      Some {
        val zterms = (0 until 16).flatMap(i => Seq(
          s"(((l_partkey >> $i) & 1) << ${2 * i})",
          s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})")).mkString("\n    + ")
        s"""SELECT l_orderkey, l_linenumber,
        |  CAST($zterms AS BIGINT) AS zkey
        |FROM lineitem
        |ORDER BY zkey, l_orderkey, l_linenumber LIMIT 100""".stripMargin
      }),

    // Hilbert layout key over the same dimensions — the gap-free curve next
    // to q_zorder's Morton interleave (tighter row-group bounds when both
    // dimensions are filtered). The Spark side is a native codegen'd
    // expression (the rotation walk is stateful — an expression tree grows
    // ~3^bits); the oracle replays the walk level by level through
    // materialized CTEs carrying (x, y, d).
    "q_hilbert" -> Q(
      (s, dir) =>
        rd(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            Layout.hilbertKey(col("l_partkey"), col("l_suppkey"), bits = 8)
              .as("hkey"))
          .orderBy("hkey", "l_orderkey", "l_linenumber").limit(100),
      Some {
        val bits = 8
        val levels = (0 until bits).map { i =>
          val s = 1L << (bits - 1 - i) // level i processes bit s
          val (px, py, pd) = (s"x$i", s"y$i", s"d$i")
          s"""h${i + 1} AS MATERIALIZED (SELECT l_orderkey, l_linenumber,
          |  CASE WHEN ($py & $s) > 0 THEN $px
          |       WHEN ($px & $s) > 0 THEN $s - 1 - $py ELSE $py END AS x${i + 1},
          |  CASE WHEN ($py & $s) > 0 THEN $py
          |       WHEN ($px & $s) > 0 THEN $s - 1 - $px ELSE $px END AS y${i + 1},
          |  $pd + ${s * s} * xor(3 * (CASE WHEN ($px & $s) > 0 THEN 1 ELSE 0 END),
          |                       CASE WHEN ($py & $s) > 0 THEN 1 ELSE 0 END) AS d${i + 1}
          |  FROM h$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH h0 AS MATERIALIZED (SELECT l_orderkey, l_linenumber,
        |    l_partkey & 255 AS x0, l_suppkey & 255 AS y0, 0 AS d0
        |  FROM lineitem),
        |$levels
        |SELECT l_orderkey, l_linenumber, CAST(d$bits AS BIGINT) AS hkey
        |FROM h$bits
        |ORDER BY hkey, l_orderkey, l_linenumber LIMIT 100""".stripMargin
      }),

    // Distinct aggregation (A7 cardinality per group).
    "q_segment_stats" -> Q(
      (s, dir) =>
        rd(s, dir, "customer").groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"),
            countDistinct(col("c_nationkey")).as("n_nations"),
            outd(sum(sdec(col("c_acctbal"), 2))).as("sum_acctbal"))
          .orderBy("c_mktsegment"),
      Some(s"""SELECT c_mktsegment, count(*) AS n_customers,
        |  count(DISTINCT c_nationkey) AS n_nations,
        |  ${sqlSum("c_acctbal", 2)} AS sum_acctbal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Broadcast join + top-k by revenue per part type (O1/O3 sort+limit).
    "q_part_type_revenue" -> Q(
      (s, dir) => {
        val li = rd(s, dir, "lineitem")
        val part = rd(s, dir, "part")
        li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .groupBy("p_type")
          .agg(sum(sdec(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
            .as("rev_dec"), count(lit(1)).as("n_items"))
          .orderBy(desc("rev_dec"), asc("p_type"))
          .limit(10)
          .select(col("p_type"), outd(col("rev_dec")).as("revenue"), col("n_items"))
          .orderBy(desc("revenue"), asc("p_type"))
      },
      Some("""WITH r AS (
        |  SELECT p_type,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4))) AS rev_dec,
        |    count(*) AS n_items
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_type ORDER BY rev_dec DESC, p_type LIMIT 10)
        |SELECT p_type, round(CAST(rev_dec AS DOUBLE), 2) AS revenue, n_items
        |FROM r ORDER BY revenue DESC, p_type""".stripMargin)),

    // Exact quantiles + cardinality stats (A7/A8).
    "q_lineitem_stats" -> Q(
      (s, dir) => {
        // THREE countDistinct columns beside plain aggregates planned an
        // Expand that pushed 4x every lineitem row through the global
        // aggregate (round 17, guide §2.3). Split: each distinct count is
        // its own single-distinct aggregate (two-phase partial distinct —
        // map-side dedup of ONE narrow column, no Expand), the plain
        // percentile/min/max block keeps its single pass, and the four
        // 1-row results cross-join as broadcasts. Output row identical.
        val li = rd(s, dir, "lineitem")
        li.agg(
            count(lit(1)).as("n_rows"))
          .crossJoin(broadcast(li.agg(
            countDistinct(col("l_orderkey")).as("n_orders"))))
          .crossJoin(broadcast(li.agg(
            countDistinct(col("l_partkey")).as("n_parts"))))
          .crossJoin(broadcast(li.agg(
            countDistinct(col("l_suppkey")).as("n_suppliers"))))
          .crossJoin(broadcast(li.agg(
            round(percentile(col("l_quantity"), lit(0.25)), 6).as("qty_p25"),
            round(percentile(col("l_quantity"), lit(0.5)), 6).as("qty_p50"),
            round(percentile(col("l_quantity"), lit(0.75)), 6).as("qty_p75"),
            round(percentile(col("l_extendedprice"), lit(0.5)), 6).as("price_p50"),
            round(percentile(col("l_extendedprice"), lit(0.95)), 6).as("price_p95"),
            round(min(col("l_extendedprice")), 6).as("price_min"),
            round(max(col("l_extendedprice")), 6).as("price_max"))))
      },
      Some("""SELECT count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_suppliers,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS qty_p25,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS qty_p50,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS qty_p75,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS price_p50,
        |  round(quantile_cont(l_extendedprice, 0.95), 6) AS price_p95,
        |  round(min(l_extendedprice), 6) AS price_min,
        |  round(max(l_extendedprice), 6) AS price_max
        |FROM lineitem""".stripMargin)),

    // Columnar dataset profile (the "dataset card" row per column): exact
    // null and distinct counts in one aggregate job.
    "q_profile" -> Q(
      (s, dir) => graft.core.Catalog.profile(rd(s, dir, "orders")),
      Some {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        cols.map(c =>
          s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
          |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
          |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM orders""".stripMargin)
          .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
      }),

    // Sessionization over the events stream table (batch form of the
    // streaming gap-session operator; see graft.streaming).
    "q_events_sessions" -> Q(
      (s, dir) => {
        val ev = events(s, dir).withColumn("ms", expr("ts div 1000000"))
        val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
        ev.withColumn("gap", col("ms") - lag("ms", 1).over(w))
          .withColumn("new_s",
            when(col("gap").isNull || col("gap") > 1800000L, 1L).otherwise(0L))
          .groupBy("user_id")
          .agg(sum("new_s").as("n_sessions"), count(lit(1)).as("n_events"),
            outd(sum(sdec(col("value"), 6)), 4).as("total_value"))
          .orderBy("user_id")
      },
      Some(s"""WITH e AS (
        |  SELECT user_id, value, epoch_ms(ts) AS ms,
        |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events,
        |  ${sqlSum("value", 6, 4)} AS total_value
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin),
      headline = true),

    // Interval containment join via granule bucketing (RangeJoin): count
    // every other user's events inside each of users 0-19's gap-derived
    // sessions. Spark would plan the raw BETWEEN theta-join as a nested-
    // loop; the operator turns it into ONE hash equi-join on the hour
    // granule (a point carries exactly one granule — no dedup, no point-
    // side fanout). Zero-hit sessions are kept (left join at the end).
    // SMJ-adjudicated (VERDICT r14 #7): events x events on (user, session)
    // granule keys — both sides event-scale, neither broadcastable; the
    // sort-merge join IS the intended strategy at every SF.
    "q_events_range_join" -> Q(
      (s, dir) => {
        val ev = events(s, dir).withColumn("ms", expr("ts div 1000000"))
        val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
        val sess = ev.filter(col("user_id") < 20)
          .withColumn("gap", col("ms") - lag("ms", 1).over(w))
          .withColumn("new_s",
            when(col("gap").isNull || col("gap") > 1800000L, 1L).otherwise(0L))
          .withColumn("sid", sum("new_s").over(w))
          .groupBy(col("user_id").as("s_user"), col("sid"))
          .agg(min("ms").as("lo"), max("ms").as("hi"))
        val pts = ev.select(col("user_id").as("p_user"), col("ms").as("t"))
        val hits = RangeJoin.pointInInterval(pts, "t", sess, "lo", "hi",
            granule = 3600000L)
          .filter(col("p_user") =!= col("s_user"))
          .groupBy("s_user", "sid").agg(count(lit(1)).as("n"))
        sess.join(hits, Seq("s_user", "sid"), "left")
          .select(col("s_user").as("user_id"), col("sid").as("session_id"),
            col("lo").as("lo_ms"), col("hi").as("hi_ms"),
            coalesce(col("n"), lit(0L)).as("n_other_events"))
          .orderBy("user_id", "session_id")
      },
      Some(s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |gg AS (SELECT user_id, ms, event_id,
        |    CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
        |           IS NULL
        |         OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
        |           > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WHERE user_id < 20),
        |sg AS (SELECT user_id, ms,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS sid
        |  FROM gg),
        |sess AS (SELECT user_id AS s_user, sid, min(ms) AS lo, max(ms) AS hi
        |  FROM sg GROUP BY 1, 2)
        |SELECT s.s_user AS user_id, CAST(s.sid AS BIGINT) AS session_id,
        |  s.lo AS lo_ms, s.hi AS hi_ms,
        |  CAST(count(e2.ms) AS BIGINT) AS n_other_events
        |FROM sess s LEFT JOIN e e2
        |  ON e2.user_id <> s.s_user AND e2.ms BETWEEN s.lo AND s.hi
        |GROUP BY 1, 2, 3, 4
        |ORDER BY user_id, session_id""".stripMargin)),

    // Tumbling-window aggregation (batch form of the streaming hourly rollup).
    "q_events_hourly" -> Q(
      (s, dir) =>
        events(s, dir)
          .withColumn("hour_ms", expr("(ts div 3600000000000) * 3600000"))
          .groupBy("hour_ms", "event_type")
          .agg(count(lit(1)).as("n"), outd(sum(sdec(col("value"), 6)), 4).as("sum_value"))
          .orderBy("hour_ms", "event_type"),
      Some(s"""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        |  count(*) AS n, ${sqlSum("value", 6, 4)} AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type""".stripMargin),
      headline = true),

    // Top users by total event value (sort+limit over aggregate).
    "q_events_top_users" -> Q(
      (s, dir) =>
        events(s, dir).groupBy("user_id")
          .agg(sum(sdec(col("value"), 6)).as("v_dec"), count(lit(1)).as("n_events"))
          .orderBy(desc("v_dec"), asc("user_id"))
          .limit(20)
          .select(col("user_id"), outd(col("v_dec"), 4).as("total_value"), col("n_events"))
          .orderBy(desc("total_value"), asc("user_id")),
      Some("""WITH r AS (
        |  SELECT user_id, sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS v_dec,
        |    count(*) AS n_events
        |  FROM events GROUP BY user_id ORDER BY v_dec DESC, user_id LIMIT 20)
        |SELECT user_id, round(CAST(v_dec AS DOUBLE), 4) AS total_value, n_events
        |FROM r ORDER BY total_value DESC, user_id""".stripMargin)),

    // JSON extraction from the props column (S4 semi-structured ingest analog).
    "q_events_json" -> Q(
      (s, dir) =>
        events(s, dir)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
            sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_high"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(sum(CASE WHEN CAST(props->>'k' AS BIGINT) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // F4 extract_year: regex year extraction from formatted dates + rollup.
    "q_orders_by_year" -> Q(
      (s, dir) =>
        rd(s, dir, "orders")
          .withColumn("year",
            graft.functions.TextFunctions.extractYear(
              date_format(col("o_orderdate"), "yyyy-MM-dd")))
          .groupBy("year")
          .agg(count(lit(1)).as("n_orders"),
            outd(sum(sdec(col("o_totalprice"), 2))).as("total"))
          .orderBy("year"),
      Some(s"""SELECT CAST(regexp_extract(strftime(o_orderdate, '%Y-%m-%d'), '([0-9]{4})', 1) AS INTEGER) AS year,
        |  count(*) AS n_orders, ${sqlSum("o_totalprice", 2)} AS total
        |FROM orders GROUP BY 1 ORDER BY year""".stripMargin)),

    // As-of join (engine extension; validated against DuckDB's native ASOF
    // JOIN): for each error event, the user's most recent prior purchase.
    "q_events_asof" -> Q(
      (s, dir) => {
        val ev = events(s, dir).withColumn("ms", expr("ts div 1000000"))
        val errors = ev.filter(col("event_type") === "error")
          .select("event_id", "user_id", "ms")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ms"), col("event_id").as("p_event"))
        AsOfJoin.asofLeft(errors, purchases, key = "user_id", ts = "ms",
            valueCols = Seq("p_event", "ms"), rightTieBreak = Some("p_event"))
          .select(col("event_id"), col("user_id"), col("ms"),
            col("asof_p_event").as("last_purchase_event"),
            col("asof_ms").as("last_purchase_ms"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
        |           FROM events WHERE event_type = 'error'),
        |p AS (SELECT user_id, epoch_ms(ts) AS ms, event_id AS p_event
        |      FROM events WHERE event_type = 'purchase')
        |SELECT e.event_id, e.user_id, e.ms,
        |  p.p_event AS last_purchase_event, p.ms AS last_purchase_ms
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ms >= p.ms
        |ORDER BY e.event_id""".stripMargin),
      headline = true),

    // Point lookup by id (P2, metadata.py:103-110).
    "q_point_lookup" -> Q(
      (s, dir) =>
        rd(s, dir, "documents").filter(col("doc_id") === 42)
          .select("doc_id", "lang", "source", "n_chars"),
      Some("SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42"))
  )

  // ------------------------------------------------------- core text (§2)

  private lazy val textCore: Seq[(String, Q)] = Seq(

    // F1/F9: tokenization as a positional stream.
    "t_tokens" -> Q(
      (s, dir) =>
        TextOps.tokenStream(rd(s, dir, "documents"))
          .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
          .orderBy("doc_id", "pos"),
      Some(s"""WITH $ToksCte, $StreamCte
        |SELECT doc_id, pos, token FROM stream ORDER BY doc_id, pos""".stripMargin)),

    // A6: document lengths.
    "t_doc_lengths" -> Q(
      (s, dir) =>
        TextOps.documentLengths(rd(s, dir, "documents")).orderBy("doc_id"),
      Some(s"""WITH $ToksCte
        |SELECT doc_id, len(t)::BIGINT AS nwords FROM toks ORDER BY doc_id""".stripMargin)),

    // A1(n=1)/A3: per-document unigram counts.
    "t_unigrams" -> Q(
      (s, dir) =>
        TextOps.unigrams(rd(s, dir, "documents")).orderBy("doc_id", "token"),
      Some(s"""WITH $ToksCte, $StreamCte
        |SELECT doc_id, token, count(*) AS "count" FROM stream
        |GROUP BY doc_id, token ORDER BY doc_id, token""".stripMargin),
      headline = true),

    // A5/W2/O3: corpus vocabulary with frequency-rank wordids.
    "t_vocab" -> Q(
      (s, dir) =>
        TextOps.totalWordcounts(rd(s, dir, "documents")).orderBy("wordid"),
      Some(s"""WITH $ToksCte, $StreamCte, $VocabCte
        |SELECT token, "count", wordid FROM vocab ORDER BY wordid""".stripMargin),
      headline = true),

    // Incremental vocabulary merge: vocab built on even-id docs, grown by
    // the odd-id batch — existing wordids STABLE, counts merged, new
    // tokens appended after the existing id range (the streaming-vocab
    // pattern the reference's static build lacks).
    // SMJ-adjudicated: FullOuter shard merge — FullOuter cannot broadcast by
    // definition, and both shards are vocab-scale (grow with the corpus).
    // Unhinted on purpose.
    "t_vocab_merge" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val existing = TextOps.totalWordcounts(
          docs.filter(col("doc_id") % 2 === 0))
        TextOps.mergeVocab(existing, docs.filter(col("doc_id") % 2 =!= 0))
          .orderBy("wordid")
      },
      Some("""WITH to2 AS (SELECT regexp_extract_all(text, '[\p{L}]+') AS t
        |    FROM documents WHERE doc_id % 2 = 0),
        |so AS (SELECT unnest(t) AS token FROM to2),
        |vo AS (SELECT token, CAST(count(*) AS BIGINT) AS c,
        |    row_number() OVER (ORDER BY count(*) DESC, token) - 1 AS wordid
        |  FROM so GROUP BY token),
        |tn AS (SELECT regexp_extract_all(text, '[\p{L}]+') AS t
        |    FROM documents WHERE doc_id % 2 != 0),
        |sn AS (SELECT unnest(t) AS token FROM tn),
        |cn AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM sn GROUP BY token),
        |mx AS (SELECT coalesce(max(wordid), -1) AS m FROM vo),
        |kept AS (SELECT vo.token, vo.c + coalesce(cn.c, 0) AS "count", vo.wordid
        |  FROM vo LEFT JOIN cn USING (token)),
        |fresh AS (SELECT cn.token, cn.c AS "count",
        |    row_number() OVER (ORDER BY cn.c DESC, cn.token) - 1
        |      + (SELECT m FROM mx) + 1 AS wordid
        |  FROM cn ANTI JOIN vo USING (token))
        |SELECT token, "count", wordid FROM kept
        |UNION ALL SELECT token, "count", wordid FROM fresh
        |ORDER BY wordid""".stripMargin)),

    // STREAMING vocabulary merge, oracle-checked (VERDICT r7 #5): the same
    // two batches (even docs, then odd docs) arrive as real micro-batches
    // through a Structured Streaming file source into a landing dir; each
    // foreachBatch folds mergeVocab over the running vocabulary. Because
    // merge is id-STABLE (old wordids frozen, new tokens appended densely
    // after the old range), the streaming fold over [even, odd] lands on
    // exactly the batch t_vocab_merge result — which is what the DuckDB
    // oracle replays. processAllAvailable() gates each staged write so the
    // micro-batch ORDER is deterministic regardless of file mtimes.
    "t_vocab_stream" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.operators.TextOps
        val docs = rd(s, dir, "documents").select(col("doc_id"), col("text"))
        val vdir = java.nio.file.Files
          .createTempDirectory("vocab_stream_q").toString
        var vocab = TextOps.totalWordcounts(docs.limit(0))
        val q = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(vdir)
          .writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .foreachBatch { (df: DataFrame, _: Long) =>
            vocab = TextOps.mergeVocab(vocab, df)
            // materialize within the batch (the source df is batch-scoped);
            // the vocabulary is vocab-sized, never corpus-sized
            val snap = vocab.collect()
              .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
            graft.core.CacheScope.release()
            vocab = snap.toSeq.toDF("token", "count", "wordid")
            ()
          }.start()
        docs.filter(col("doc_id") % 2 === 0)
          .coalesce(1).write.mode("append").parquet(vdir)
        q.processAllAvailable()
        docs.filter(col("doc_id") % 2 =!= 0)
          .coalesce(1).write.mode("append").parquet(vdir)
        q.processAllAvailable()
        q.stop()
        vocab.orderBy("wordid")
      },
      Some("""WITH to2 AS (SELECT regexp_extract_all(text, '[\p{L}]+') AS t
        |    FROM documents WHERE doc_id % 2 = 0),
        |so AS (SELECT unnest(t) AS token FROM to2),
        |vo AS (SELECT token, CAST(count(*) AS BIGINT) AS c,
        |    row_number() OVER (ORDER BY count(*) DESC, token) - 1 AS wordid
        |  FROM so GROUP BY token),
        |tn AS (SELECT regexp_extract_all(text, '[\p{L}]+') AS t
        |    FROM documents WHERE doc_id % 2 != 0),
        |sn AS (SELECT unnest(t) AS token FROM tn),
        |cn AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM sn GROUP BY token),
        |mx AS (SELECT coalesce(max(wordid), -1) AS m FROM vo),
        |kept AS (SELECT vo.token, vo.c + coalesce(cn.c, 0) AS "count", vo.wordid
        |  FROM vo LEFT JOIN cn USING (token)),
        |fresh AS (SELECT cn.token, cn.c AS "count",
        |    row_number() OVER (ORDER BY cn.c DESC, cn.token) - 1
        |      + (SELECT m FROM mx) + 1 AS wordid
        |  FROM cn ANTI JOIN vo USING (token))
        |SELECT token, "count", wordid FROM kept
        |UNION ALL SELECT token, "count", wordid FROM fresh
        |ORDER BY wordid""".stripMargin)),

    // J1: encoded unigrams via broadcast vocabulary join (one tokenize pass).
    "t_encoded_unigrams" -> Q(
      (s, dir) =>
        TextOps.encodedUnigramsOnePass(rd(s, dir, "documents"))
          .orderBy("doc_id", "wordid"),
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte, $VocabCte
        |SELECT u.doc_id, v.wordid, u."count"
        |FROM uni u JOIN vocab v ON u.token = v.token
        |ORDER BY u.doc_id, v.wordid""".stripMargin),
      headline = true),

    // J1: encoded bigrams — every word position vocab-encoded (the
    // reference's EncodedBigrams, transformations.py:257-297,320-346).
    "t_encoded_bigrams" -> Q(
      (s, dir) =>
        TextOps.encodedNgramsOnePass(rd(s, dir, "documents"), n = 2)
          // count breaks ties: distinct OOV bigrams share (null, null) keys
          .orderBy(asc_nulls_first("doc_id"), asc_nulls_first("wordid0"),
            asc_nulls_first("wordid1"), asc_nulls_first("count")),
      Some(s"""WITH $ToksCte, $StreamCte, $VocabCte,
        |b AS (SELECT doc_id, token AS w0,
        |        lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        |      FROM stream),
        |bg AS (SELECT doc_id, w0, w1, count(*) AS "count" FROM b
        |       WHERE w1 IS NOT NULL GROUP BY doc_id, w0, w1)
        |SELECT bg.doc_id, v0.wordid AS wordid0, v1.wordid AS wordid1, bg."count"
        |FROM bg LEFT JOIN vocab v0 ON bg.w0 = v0.token
        |        LEFT JOIN vocab v1 ON bg.w1 = v1.token
        |ORDER BY bg.doc_id, wordid0 NULLS FIRST, wordid1 NULLS FIRST, bg."count"""".stripMargin)),

    // J1: encoded trigrams (EncodedTrigrams, transformations.py:292-294).
    "t_encoded_trigrams" -> Q(
      (s, dir) =>
        TextOps.encodedNgramsOnePass(rd(s, dir, "documents"), n = 3)
          .orderBy(asc_nulls_first("doc_id"), asc_nulls_first("wordid0"),
            asc_nulls_first("wordid1"), asc_nulls_first("wordid2"),
            asc_nulls_first("count")),
      Some(s"""WITH $ToksCte, $StreamCte, $VocabCte,
        |b AS (SELECT doc_id, token AS w0,
        |        lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |        lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |      FROM stream),
        |tg AS (SELECT doc_id, w0, w1, w2, count(*) AS "count" FROM b
        |       WHERE w1 IS NOT NULL AND w2 IS NOT NULL
        |       GROUP BY doc_id, w0, w1, w2)
        |SELECT tg.doc_id, v0.wordid AS wordid0, v1.wordid AS wordid1,
        |       v2.wordid AS wordid2, tg."count"
        |FROM tg LEFT JOIN vocab v0 ON tg.w0 = v0.token
        |        LEFT JOIN vocab v1 ON tg.w1 = v1.token
        |        LEFT JOIN vocab v2 ON tg.w2 = v2.token
        |ORDER BY tg.doc_id, wordid0 NULLS FIRST, wordid1 NULLS FIRST,
        |         wordid2 NULLS FIRST, tg."count"""".stripMargin)),

    // A1(n=2)/W1: bigram counts.
    "t_bigrams" -> Q(
      (s, dir) =>
        TextOps.bigrams(rd(s, dir, "documents")).orderBy("doc_id", "w0", "w1"),
      Some(s"""WITH $ToksCte, $StreamCte,
        |b AS (SELECT doc_id, token AS w0,
        |        lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        |      FROM stream)
        |SELECT doc_id, w0, w1, count(*) AS "count" FROM b WHERE w1 IS NOT NULL
        |GROUP BY doc_id, w0, w1 ORDER BY doc_id, w0, w1""".stripMargin),
      headline = true),

    // A1(n=3): trigram counts.
    "t_trigrams" -> Q(
      (s, dir) =>
        TextOps.trigrams(rd(s, dir, "documents")).orderBy("doc_id", "w0", "w1", "w2"),
      Some(s"""WITH $ToksCte, $StreamCte,
        |b AS (SELECT doc_id, token AS w0,
        |        lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |        lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |      FROM stream)
        |SELECT doc_id, w0, w1, w2, count(*) AS "count" FROM b
        |WHERE w1 IS NOT NULL AND w2 IS NOT NULL
        |GROUP BY doc_id, w0, w1, w2 ORDER BY doc_id, w0, w1, w2""".stripMargin)),

    // A1(n=4): quadgram counts (the reference's Quadgrams actually computes
    // n=3, transformations.py:288 — ours is a real n=4).
    "t_quadgrams" -> Q(
      (s, dir) =>
        TextOps.quadgrams(rd(s, dir, "documents"))
          .orderBy("doc_id", "w0", "w1", "w2", "w3"),
      Some(s"""WITH $ToksCte, $StreamCte,
        |b AS (SELECT doc_id, token AS w0,
        |        lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |        lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
        |        lead(token, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        |      FROM stream)
        |SELECT doc_id, w0, w1, w2, w3, count(*) AS "count" FROM b
        |WHERE w1 IS NOT NULL AND w2 IS NOT NULL AND w3 IS NOT NULL
        |GROUP BY doc_id, w0, w1, w2, w3 ORDER BY doc_id, w0, w1, w2, w3""".stripMargin)),

    // A1(n=5): quintgram counts (transformations.py:295-297).
    "t_quintgrams" -> Q(
      (s, dir) =>
        TextOps.quintgrams(rd(s, dir, "documents"))
          .orderBy("doc_id", "w0", "w1", "w2", "w3", "w4"),
      Some(s"""WITH $ToksCte, $StreamCte,
        |b AS (SELECT doc_id, token AS w0,
        |        lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |        lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
        |        lead(token, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS w3,
        |        lead(token, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS w4
        |      FROM stream)
        |SELECT doc_id, w0, w1, w2, w3, w4, count(*) AS "count" FROM b
        |WHERE w1 IS NOT NULL AND w2 IS NOT NULL AND w3 IS NOT NULL AND w4 IS NOT NULL
        |GROUP BY doc_id, w0, w1, w2, w3, w4
        |ORDER BY doc_id, w0, w1, w2, w3, w4""".stripMargin)),

    // A4: chunked wordcounts (chunkSize 20).
    "t_chunked_wordcounts" -> Q(
      (s, dir) =>
        TextOps.chunkedWordcounts(rd(s, dir, "documents"), 20)
          .select(col("doc_id"), col("chunk").cast("long").as("chunk"),
            col("token"), col("count"))
          .orderBy("doc_id", "chunk", "token"),
      Some(s"""WITH $ToksCte,
        |st AS (SELECT doc_id, len(t)::BIGINT AS n, unnest(t) AS token,
        |         unnest(range(0, len(t))) AS pos0 FROM toks),
        |ch AS (SELECT doc_id, token,
        |         CAST(floor(pos0 * greatest(1, CAST(round(n / 20.0, 0) AS BIGINT)) / n) AS BIGINT) AS chunk
        |       FROM st)
        |SELECT doc_id, chunk, token, count(*) AS "count" FROM ch
        |GROUP BY doc_id, chunk, token ORDER BY doc_id, chunk, token""".stripMargin)),

    // Sentence segmentation: the sentence-level unit for chunking/dedup.
    "t_sentences" -> Q(
      (s, dir) =>
        TextOps.sentences(rd(s, dir, "documents")).orderBy("doc_id", "sent_idx"),
      Some("""WITH sx AS (SELECT doc_id,
        |    regexp_extract_all(text, '\s*([^\s.!?][^.!?]*[.!?]*)', 1) AS ss
        |  FROM documents)
        |SELECT doc_id,
        |  unnest(range(1, len(ss)+1)) AS sent_idx,
        |  unnest(ss) AS sentence,
        |  unnest(list_transform(ss, x -> len(regexp_extract_all(x, '[\p{L}]+'))::BIGINT)) AS n_tokens
        |FROM sx ORDER BY doc_id, sent_idx""".stripMargin)),

    // Token-window chunking with overlap (LLM pre-tokenization packing).
    "t_token_chunks" -> Q(
      (s, dir) =>
        TextOps.tokenChunks(rd(s, dir, "documents"), chunkTokens = 16, overlap = 4)
          .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH $ToksCte,
        |st AS (SELECT doc_id, t,
        |         unnest(range(1, len(t)+1, 12)) AS start,
        |         unnest(range(0, len(range(1, len(t)+1, 12)))) AS chunk_id
        |       FROM toks WHERE len(t) > 0)
        |SELECT doc_id, chunk_id,
        |  array_to_string(t[start:start+15], ' ') AS chunk_text,
        |  least(len(t) - start + 1, 16) AS n_tokens
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin)),

    // A9: frequency-ordered dictionary lookup table for `lang`.
    "t_dict_lang" -> Q(
      (s, dir) =>
        FlatCatalog.dictionary(rd(s, dir, "documents"), "lang").orderBy("id"),
      Some("""SELECT lang AS value, count(*) AS "count",
        |  row_number() OVER (ORDER BY count(*) DESC, lang) - 1 AS id
        |FROM documents GROUP BY lang ORDER BY id""".stripMargin)),

    // A10: fastcat projection (dictionary ids for lang + source).
    "t_fastcat" -> Q(
      (s, dir) =>
        FlatCatalog.fastcat(rd(s, dir, "documents"), "doc_id", Seq("lang", "source"))
          .orderBy("doc_id"),
      Some("""WITH dl AS (SELECT lang, row_number() OVER (ORDER BY count(*) DESC, lang) - 1 AS id
        |        FROM documents GROUP BY lang),
        |ds AS (SELECT source, row_number() OVER (ORDER BY count(*) DESC, source) - 1 AS id
        |        FROM documents GROUP BY source)
        |SELECT d.doc_id, dl.id AS lang__id, ds.id AS source__id
        |FROM documents d JOIN dl ON d.lang = dl.lang JOIN ds ON d.source = ds.source
        |ORDER BY d.doc_id""".stripMargin))
  )

  // ------------------------------------------------------------- dedup

  private lazy val dedup: Seq[(String, Q)] = Seq(

    // Exact dedup summary: corpus-level duplicate accounting by content hash.
    "t_dedup_exact" -> Q(
      (s, dir) =>
        rd(s, dir, "documents").agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dups")),
      Some("""SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
        |  count(*) - count(DISTINCT md5(text)) AS n_dups FROM documents""".stripMargin)),

    // Cross-SOURCE duplication matrix (round 10): per unordered source
    // pair, the number of exact-duplicate document pairs with members in
    // those sources — the provenance dashboard that surfaces syndicated
    // mirrors before mixing weights are chosen. The pair counts are
    // combinatorial on per-(content, source) group sizes (n*m across,
    // k*(k-1)/2 within), so a million-way dup group costs one row per
    // source it touches, never a member self-join.
    // The natural corpus has no exact duplicates below sf0.1 (and only 8
    // there), so — per the repo's no-vacuous-rows rule, the
    // s_srp_hamming_wide precedent — the row runs over the corpus plus
    // deterministic twins: the first 8 docs mirrored into '<src>_mirror'
    // sources (the syndication shape) and docs 8-11 duplicated
    // within-source. Both engines apply the identical augmentation.
    "t_dup_source_matrix" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents").select("doc_id", "text", "source")
        val mirrors = docs.filter(col("doc_id") < 8)
          .select(col("text"),
            concat(col("source"), lit("_mirror")).as("source"))
        val withinTwins = docs
          .filter(col("doc_id") >= 8 && col("doc_id") < 12)
          .select(col("text"), col("source"))
        Dedup.duplicateSourceMatrix(
            docs.select("text", "source").unionByName(mirrors)
              .unionByName(withinTwins))
          .orderBy("source_a", "source_b")
      },
      Some("""WITH aug AS (SELECT text, source FROM documents
        |  UNION ALL SELECT text, source || '_mirror' FROM documents
        |    WHERE doc_id < 8
        |  UNION ALL SELECT text, source FROM documents
        |    WHERE doc_id >= 8 AND doc_id < 12),
        |g AS (SELECT md5(text) AS h, source AS src,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM aug GROUP BY 1, 2),
        |t AS (SELECT h, sum(k) AS tot FROM g GROUP BY h),
        |gg AS (SELECT g.h, g.src, g.k FROM g JOIN t USING (h)
        |  WHERE t.tot > 1),
        |cx AS (SELECT a.src AS source_a, b.src AS source_b,
        |    a.k * b.k AS pairs
        |  FROM gg a JOIN gg b ON a.h = b.h AND a.src < b.src),
        |wi AS (SELECT src AS source_a, src AS source_b,
        |    k * (k - 1) // 2 AS pairs FROM gg WHERE k > 1)
        |SELECT source_a, source_b, CAST(sum(pairs) AS BIGINT) AS n_dup_pairs
        |FROM (SELECT * FROM cx UNION ALL SELECT * FROM wi)
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin)),

    // Exact token-set Jaccard pairs (shingle k=1): the small-scale oracle
    // baseline for near-dup detection.
    "t_jaccard_pairs" -> Q(
      (s, dir) =>
        Dedup.jaccardPairs(rd(s, dir, "documents"), k = 1, threshold = 0.8)
          .orderBy("id_a", "id_b"),
      Some(s"""WITH $ToksCte,
        |sh AS (SELECT DISTINCT doc_id AS id, unnest(t) AS s FROM toks),
        |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        |          GROUP BY a.id, b.id)
        |SELECT id_a, id_b,
        |  round(i::DOUBLE / (na.n + nb.n - i), 6) AS jaccard
        |FROM inter JOIN sz na ON id_a = na.id JOIN sz nb ON id_b = nb.id
        |WHERE round(i::DOUBLE / (na.n + nb.n - i), 6) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin)),

    // Fuzzy record-linkage near-duplicate pairs: blocked Levenshtein over
    // part names (block = trailing noun, so the quadratic is per-block;
    // minDist=1 leaves exact-equal names to t_dedup_exact's hash path).
    // Both engines run the same classic edit-distance DP — the comparator
    // itself is the oracle's comparator.
    "q_fuzzy_parts" -> Q(
      (s, dir) =>
        Dedup.fuzzyPairs(rd(s, dir, "part"),
            blockKey = regexp_extract(col("p_name"), "(\\w+)$", 1),
            maxDist = 3, minDist = 1, idCol = "p_partkey", strCol = "p_name")
          .orderBy("id_a", "id_b"),
      Some("""WITH n AS (SELECT p_partkey AS id, p_name AS s,
        |    regexp_extract(p_name, '(\w+)$', 1) AS blk FROM part
        |  WHERE regexp_extract(p_name, '(\w+)$', 1) != '')
        |SELECT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.blk = b.blk AND a.id < b.id
        |WHERE abs(len(a.s) - len(b.s)) <= 3
        |  AND levenshtein(a.s, b.s) BETWEEN 1 AND 3
        |ORDER BY id_a, id_b""".stripMargin)),

    // MinHash signatures (12 engine-stable permutations over token sets).
    "t_minhash_sigs" -> Q(
      (s, dir) =>
        Dedup.minhashSignatures(rd(s, dir, "documents"), shingleK = 1, numPerms = 12)
          .orderBy("doc_id"),
      Some {
        val permCols = (0 until 12).map { i =>
          s"min((h31 * ${2L * i + 3} + ${12289L * i + 1}) % 2147483647) AS m$i"
        }.mkString(",\n  ")
        s"""WITH $ToksCte,
        |sh AS (SELECT DISTINCT doc_id, unnest(t) AS s FROM toks),
        |h AS (SELECT doc_id, ${sqlHash60("s")} % 2147483647 AS h31 FROM sh)
        |SELECT doc_id,
        |  $permCols
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // MinHash LSH near-dup pairs (2 bands x 6 rows; s-curve threshold ~0.89 —
    // the standard "remove near-duplicates" operating point), verified by
    // signature agreement >= 0.75 — the linear-scale dedup path.
    "t_minhash_lsh" -> Q(
      (s, dir) =>
        Dedup.minhashLshPairs(rd(s, dir, "documents"), shingleK = 1, numPerms = 12,
            bands = 2, threshold = 0.75)
          .orderBy("id_a", "id_b"),
      Some {
        val permCols = (0 until 12).map { i =>
          s"min((h31 * ${2L * i + 3} + ${12289L * i + 1}) % 2147483647) AS m$i"
        }.mkString(",\n  ")
        val bandExprs = (0 until 2).map { b =>
          val cols = (0 until 6).map(r => s"m${b * 6 + r}")
          s"concat_ws('-', ${cols.mkString(", ")}) AS band$b"
        }.mkString(",\n  ")
        val candUnion = (0 until 2).map { b =>
          s"SELECT x.doc_id AS id_a, y.doc_id AS id_b FROM banded x JOIN banded y ON x.band$b = y.band$b AND x.doc_id < y.doc_id"
        }.mkString("\n  UNION\n  ")
        val simExpr = (0 until 12)
          .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH $ToksCte,
        |sh AS (SELECT DISTINCT doc_id, unnest(t) AS s FROM toks),
        |h AS (SELECT doc_id, ${sqlHash60("s")} % 2147483647 AS h31 FROM sh),
        |sig AS (SELECT doc_id,
        |  $permCols
        |FROM h GROUP BY doc_id),
        |banded AS (SELECT doc_id,
        |  $bandExprs
        |FROM sig),
        |cand AS (
        |  $candUnion
        |)
        |SELECT id_a, id_b, round(($simExpr) / 12.0, 6) AS sig_sim
        |FROM cand JOIN sig sa ON id_a = sa.doc_id JOIN sig sb ON id_b = sb.doc_id
        |WHERE round(($simExpr) / 12.0, 6) >= 0.75
        |ORDER BY id_a, id_b""".stripMargin
      },
      headline = true),

    // Approximation-QUALITY eval: the MinHash-LSH candidate pairs scored
    // against exact Jaccard at the same threshold — the one-row
    // precision/recall report that tells a 100 TB dedup run whether its
    // banding geometry is losing real duplicates. Both pair sets are the
    // oracle-checked operators above; the eval is two counts + one
    // semi-join intersection, all linear in the pair sets.
    // SMJ-adjudicated: LeftSemi of the candidate-pair table against the
    // truth-pair table — both corpus-derived pair sets; unhinted on purpose.
    "t_lsh_eval" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val pred = graft.core.CacheScope.persist(
          Dedup.minhashLshPairs(docs, shingleK = 1, numPerms = 12,
              bands = 2, threshold = 0.75)
            .select("id_a", "id_b"))
        val truth = graft.core.CacheScope.persist(
          Dedup.jaccardPairs(docs, k = 1, threshold = 0.75)
            .select("id_a", "id_b"))
        val hits = pred.join(truth, Seq("id_a", "id_b"), "left_semi")
        pred.agg(count(lit(1)).as("n_pred"))
          .crossJoin(truth.agg(count(lit(1)).as("n_true")))
          .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
          .select(col("n_pred"), col("n_true"), col("n_hit"),
            when(col("n_pred") > 0,
              round(col("n_hit") * lit(1000000.0) / col("n_pred"), 0)
                .cast("long")).otherwise(lit(0L)).as("precision_micro"),
            when(col("n_true") > 0,
              round(col("n_hit") * lit(1000000.0) / col("n_true"), 0)
                .cast("long")).otherwise(lit(0L)).as("recall_micro"))
      },
      Some {
        val permCols = (0 until 12).map { i =>
          s"min((h31 * ${2L * i + 3} + ${12289L * i + 1}) % 2147483647) AS m$i"
        }.mkString(",\n  ")
        val bandExprs = (0 until 2).map { b =>
          val cols = (0 until 6).map(r => s"m${b * 6 + r}")
          s"concat_ws('-', ${cols.mkString(", ")}) AS band$b"
        }.mkString(",\n  ")
        val candUnion = (0 until 2).map { b =>
          s"SELECT x.doc_id AS id_a, y.doc_id AS id_b FROM banded x JOIN banded y ON x.band$b = y.band$b AND x.doc_id < y.doc_id"
        }.mkString("\n  UNION\n  ")
        val simExpr = (0 until 12)
          .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH $ToksCte,
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(t) AS s FROM toks),
        |h AS (SELECT doc_id, ${sqlHash60("s")} % 2147483647 AS h31 FROM sh),
        |sig AS MATERIALIZED (SELECT doc_id,
        |  $permCols
        |FROM h GROUP BY doc_id),
        |banded AS (SELECT doc_id,
        |  $bandExprs
        |FROM sig),
        |cand AS (
        |  $candUnion
        |),
        |pred AS MATERIALIZED (SELECT id_a, id_b
        |  FROM cand JOIN sig sa ON id_a = sa.doc_id
        |  JOIN sig sb ON id_b = sb.doc_id
        |  WHERE round(($simExpr) / 12.0, 6) >= 0.75),
        |sz AS (SELECT doc_id AS id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY a.doc_id, b.doc_id),
        |truth AS MATERIALIZED (SELECT id_a, id_b FROM inter
        |  JOIN sz na ON id_a = na.id JOIN sz nb ON id_b = nb.id
        |  WHERE round(i::DOUBLE / (na.n + nb.n - i), 6) >= 0.75),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pred FROM pred),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
        |nh AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
        |  FROM pred JOIN truth USING (id_a, id_b))
        |SELECT n_pred, n_true, n_hit,
        |  CASE WHEN n_pred > 0
        |    THEN CAST(round(n_hit * 1000000.0 / n_pred, 0) AS BIGINT)
        |    ELSE 0 END AS precision_micro,
        |  CASE WHEN n_true > 0
        |    THEN CAST(round(n_hit * 1000000.0 / n_true, 0) AS BIGINT)
        |    ELSE 0 END AS recall_micro
        |FROM np CROSS JOIN nt CROSS JOIN nh""".stripMargin
      }),

    // SimHash 60-bit fingerprints.
    "t_simhash" -> Q(
      (s, dir) =>
        Dedup.simhash(rd(s, dir, "documents")).orderBy("doc_id"),
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |hu AS (SELECT doc_id, ${sqlHash60("token")} AS h, "count" FROM uni),
        |bits AS (SELECT doc_id, b.b AS b,
        |    sum(CASE WHEN (h >> CAST(b.b AS INTEGER)) & 1 = 1 THEN "count" ELSE -"count" END) AS s
        |  FROM hu, (SELECT unnest(range(0, 60)) AS b) b
        |  GROUP BY doc_id, b.b)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      headline = true),

    // Winnowing (MOSS) substring-overlap pairs: per-window minima of
    // 5-token-gram hashes (w=4) — any shared run of >= 8 tokens guarantees
    // a shared fingerprint. The passage-level dedup mode next to the
    // whole-set measures.
    "t_winnow" -> Q(
      (s, dir) =>
        Dedup.winnowPairs(rd(s, dir, "documents"), k = 5, w = 4, minShared = 2)
          .orderBy("id_a", "id_b"),
      Some(s"""WITH $ToksCte, $StreamCte,
        |g AS (SELECT doc_id, pos, token AS w0,
        |    lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |    lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
        |    lead(token, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS w3,
        |    lead(token, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS w4
        |  FROM stream),
        |kg AS (SELECT doc_id, pos,
        |    ${sqlHash60("w0 || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4")} AS h
        |  FROM g WHERE w4 IS NOT NULL),
        |kgc AS (SELECT doc_id, count(*) AS nk FROM kg GROUP BY doc_id),
        |win AS (SELECT kg.doc_id, pos, nk,
        |    min(h) OVER (PARTITION BY kg.doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM kg JOIN kgc ON kg.doc_id = kgc.doc_id),
        |sel AS (SELECT DISTINCT doc_id, fp FROM win
        |          WHERE nk >= 4 AND pos <= nk - 3
        |        UNION
        |        SELECT kg.doc_id AS doc_id, min(h) AS fp
        |        FROM kg JOIN kgc ON kg.doc_id = kgc.doc_id
        |        WHERE nk < 4 GROUP BY kg.doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
        |FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin)),

    // Eval-set decontamination: training docs (doc_id % 31 != 0) sharing
    // any exact word-8-gram with the held-out eval slice (doc_id % 31 == 0).
    // The eval n-gram set is broadcast; the oracle rebuilds both hashed
    // shingle sets with DuckDB list slicing.
    "t_decontam" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        Dedup.decontaminate(
            docs.filter(col("doc_id") % 31 =!= 0),
            docs.filter(col("doc_id") % 31 === 0), n = 8)
          .orderBy("doc_id")
      },
      Some(s"""WITH $ToksCte,
        |sl AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        |       FROM toks WHERE len(t) >= 8),
        |sh AS (SELECT DISTINCT doc_id,
        |    ${sqlHash60("array_to_string(t[i:i+7], ' ')")} AS sh
        |  FROM sl),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 31 = 0)
        |SELECT s.doc_id, count(*) AS shared_ngrams
        |FROM sh s JOIN ev USING (sh)
        |WHERE s.doc_id % 31 <> 0
        |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin)),

    // Contamination SEVERITY: per-doc fraction of distinct 8-gram shingles
    // found in the eval set, clean docs included — the distribution the
    // decontamination threshold is tuned on.
    "t_contam_frac" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        Dedup.contaminationReport(
            docs.filter(col("doc_id") % 31 =!= 0),
            docs.filter(col("doc_id") % 31 === 0), n = 8)
          .orderBy("doc_id")
      },
      Some(s"""WITH $ToksCte,
        |sl AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        |       FROM toks WHERE len(t) >= 8),
        |sh AS (SELECT DISTINCT doc_id,
        |    ${sqlHash60("array_to_string(t[i:i+7], ' ')")} AS sh
        |  FROM sl),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 31 = 0),
        |tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 31 <> 0),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
        |  FROM tr GROUP BY doc_id),
        |hit AS (SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM tr JOIN ev USING (sh) GROUP BY tr.doc_id)
        |SELECT t.doc_id, t.n_shingles, coalesce(h.n_hits, 0) AS n_hits,
        |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / t.n_shingles, 6)
        |    AS overlap_frac
        |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    // The same decontamination through the Bloom pre-filter path (the
    // eval-set-too-big-to-broadcast shape): eval shingles -> 64Kbit Bloom
    // broadcast, row-local bit tests prune the training shingles, exact
    // join confirms. No false negatives + exact confirm = bit-identical
    // output, so the oracle is t_decontam's SQL verbatim.
    "t_decontam_bloom" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        Dedup.decontaminateBloom(
            docs.filter(col("doc_id") % 31 =!= 0),
            docs.filter(col("doc_id") % 31 === 0), n = 8)
          .orderBy("doc_id")
      },
      Some(s"""WITH $ToksCte,
        |sl AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        |       FROM toks WHERE len(t) >= 8),
        |sh AS (SELECT DISTINCT doc_id,
        |    ${sqlHash60("array_to_string(t[i:i+7], ' ')")} AS sh
        |  FROM sl),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 31 = 0)
        |SELECT s.doc_id, count(*) AS shared_ngrams
        |FROM sh s JOIN ev USING (sh)
        |WHERE s.doc_id % 31 <> 0
        |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin)),

    // Character-exact repeated-substring spans (Lee et al. 2021 shape):
    // every maximal run of positions whose 24-char gram repeats
    // corpus-wide — boundary-free, so verbatim copies are caught at any
    // offset. L-gram seeding + df count + per-doc gaps-and-islands; the
    // oracle replays grams, hashes, df, and the island merge.
    "t_substring_spans" -> Q(
      (s, dir) =>
        Dedup.repeatedSubstringSpans(rd(s, dir, "documents"), L = 24)
          .orderBy("doc_id", "span_start"),
      Some(s"""WITH c AS (SELECT doc_id, text, len(text) AS n
        |    FROM documents WHERE text IS NOT NULL AND len(text) >= 24),
        |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    ${sqlHash60("substr(text, CAST(i AS INTEGER), 24)")} AS h
        |  FROM c, unnest(range(1, n - 22)) AS u(i)),
        |rep AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |m AS (SELECT g.doc_id, g.pos,
        |    g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS grp
        |  FROM g JOIN rep USING (h))
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 23 AS BIGINT) AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_grams
        |FROM m GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin)),

    // Keep-first policy: the corpus-first occurrence of every gram is
    // exempt, so exactly one copy of each repeated region survives — the
    // Lee et al. removal semantics. The oracle ranks occurrences per gram
    // hash by (doc_id, pos) and marks only rank > 1.
    "t_substring_keepfirst" -> Q(
      (s, dir) =>
        Dedup.repeatedSubstringSpans(rd(s, dir, "documents"), L = 24,
            keepFirst = true)
          .orderBy("doc_id", "span_start"),
      Some(s"""WITH c AS (SELECT doc_id, text, len(text) AS n
        |    FROM documents WHERE text IS NOT NULL AND len(text) >= 24),
        |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    ${sqlHash60("substr(text, CAST(i AS INTEGER), 24)")} AS h
        |  FROM c, unnest(range(1, n - 22)) AS u(i)),
        |mk AS (SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |    FROM g) WHERE rn > 1),
        |m AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM mk)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 23 AS BIGINT) AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_grams
        |FROM m GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin)),

    // The cut composition: delete every repeated-substring span from its
    // document and stitch the remainder (cut-all policy). Null-text docs
    // keep their null; span-free docs pass through byte-identical.
    "t_substring_cut" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val spans = Dedup.repeatedSubstringSpans(docs, L = 24)
        Dedup.removeSpans(docs, spans)
          .orderBy("doc_id")
      },
      Some(s"""WITH c AS (SELECT doc_id, text, len(text) AS n
        |    FROM documents WHERE text IS NOT NULL AND len(text) >= 24),
        |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    ${sqlHash60("substr(text, CAST(i AS INTEGER), 24)")} AS h
        |  FROM c, unnest(range(1, n - 22)) AS u(i)),
        |rep AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |m AS (SELECT g.doc_id, g.pos,
        |    g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS grp
        |  FROM g JOIN rep USING (h)),
        |sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS s,
        |    CAST(max(pos) + 23 AS BIGINT) AS e
        |  FROM m GROUP BY doc_id, grp),
        |gaps AS (SELECT d.doc_id, d.text, len(d.text) AS n, sp.s, sp.e,
        |    coalesce(lag(sp.e) OVER (PARTITION BY d.doc_id ORDER BY sp.s), 0) AS pe
        |  FROM documents d JOIN sp ON d.doc_id = sp.doc_id),
        |segs AS (SELECT doc_id, text, n, pe + 1 AS gs, s - 1 AS ge, s, e,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY s) AS rn,
        |    count(*) OVER (PARTITION BY doc_id) AS nsp
        |  FROM gaps),
        |kept AS (SELECT doc_id,
        |    string_agg(CASE WHEN gs <= ge
        |      THEN substr(text, CAST(gs AS INTEGER), CAST(ge - gs + 1 AS INTEGER))
        |      ELSE '' END, '' ORDER BY s)
        |    || any_value(CASE WHEN rn = nsp THEN
        |         CASE WHEN e + 1 <= n
        |           THEN substr(text, CAST(e + 1 AS INTEGER), CAST(n - e AS INTEGER))
        |           ELSE '' END END) AS clean_text,
        |    CAST(sum(e - s + 1) AS BIGINT) AS n_cut_chars
        |  FROM segs GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(k.clean_text, d.text) AS clean_text,
        |  coalesce(k.n_cut_chars, 0) AS n_cut_chars
        |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // C4-style span-level corpus dedup: cut each document into 8-token
    // chunks, keep only the FIRST corpus-wide occurrence of every chunk
    // (ordered by doc_id, chunk_id — total), reassemble survivors. The
    // dedup shuffle is partitioned by span hash; reassembly is one
    // per-document groupBy. Oracle replays chunking + a first-occurrence
    // window + ordered string_agg.
    "t_span_dedup" -> Q(
      (s, dir) => {
        val chunks = TextOps.tokenChunks(rd(s, dir, "documents"), chunkTokens = 8)
          .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
        Dedup.reassembleSpans(Dedup.dedupSpans(chunks), sep = " ")
          .orderBy("doc_id")
      },
      Some(s"""WITH $ToksCte,
        |chunks AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |    array_to_string(t[CAST(i*8+1 AS INT):CAST(i*8+8 AS INT)], ' ') AS chunk_text
        |  FROM toks, unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS u(i)
        |  WHERE len(t) > 0),
        |marked AS (SELECT doc_id, chunk_id, chunk_text,
        |    row_number() OVER (PARTITION BY chunk_text
        |      ORDER BY doc_id, chunk_id) = 1 AS keep
        |  FROM chunks)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN keep THEN chunk_text END, ' '
        |    ORDER BY chunk_id), '') AS clean_text,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Snapshot diff — the incremental-ingest primitive: v2 is a
    // deterministic mutation of the documents table (hash-bucketed: ~10%
    // removed, ~10% text-revised, ~10% re-added under new ids), diffed
    // against v1 by content fingerprint in ONE full-outer hash join.
    // SMJ-adjudicated: FullOuter of two corpus snapshots — cannot broadcast,
    // both sides corpus-scale; unhinted on purpose.
    "q_snapshot_diff" -> Q(
      (s, dir) => {
        import graft.functions.TextFunctions.hash60
        val v1 = rd(s, dir, "documents")
        val m = v1.withColumn("m",
          hash60(concat(col("doc_id").cast("string"), lit(":snap"))) % 10)
        val kept = m.filter(col("m") =!= 0)
          .withColumn("text", when(col("m") === 1,
            concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        // re-added ids live in the NEGATIVE id space (-id - 1): disjoint
        // from any non-negative real id at every corpus size, unlike a
        // fixed positive offset which collides once ids reach it
        val added = m.filter(col("m") === 2)
          .withColumn("doc_id", -col("doc_id") - 1)
        val v2 = kept.unionByName(added).drop("m")
        Snapshot.diff(v1, v2, "doc_id", Seq("text", "lang", "source"))
          .orderBy("doc_id")
      },
      Some(s"""WITH m AS (SELECT *,
        |    ${sqlHash60("CAST(doc_id AS VARCHAR) || ':snap'")} % 10 AS m
        |  FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN m = 1 THEN text || ' [rev2]' ELSE text END AS text,
        |    lang, source FROM m WHERE m <> 0
        |  UNION ALL
        |  SELECT -doc_id - 1, text, lang, source FROM m WHERE m = 2),
        |fa AS (SELECT doc_id, md5(concat_ws(chr(1),
        |    coalesce(CAST(text AS VARCHAR), chr(0)),
        |    coalesce(CAST(lang AS VARCHAR), chr(0)),
        |    coalesce(CAST(source AS VARCHAR), chr(0)))) AS fp FROM documents),
        |fb AS (SELECT doc_id, md5(concat_ws(chr(1),
        |    coalesce(CAST(text AS VARCHAR), chr(0)),
        |    coalesce(CAST(lang AS VARCHAR), chr(0)),
        |    coalesce(CAST(source AS VARCHAR), chr(0)))) AS fp FROM v2)
        |SELECT coalesce(fa.doc_id, fb.doc_id) AS doc_id,
        |  CASE WHEN fa.fp IS NULL THEN 'added'
        |       WHEN fb.fp IS NULL THEN 'removed'
        |       WHEN fa.fp = fb.fp THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM fa FULL OUTER JOIN fb ON fa.doc_id = fb.doc_id
        |ORDER BY doc_id""".stripMargin))
  )

  // ----------------------------------------------------- text analysis

  /** DSIR scoring chain (follows $ToksCte, $StreamCte): hashed
    * unigram+bigram features -> 4096-bucket counts -> add-one-smoothed
    * micro-nat log-likelihood-ratio weights (target = lang='en') -> per-doc
    * scores `sc(doc_id, score_micro)`. Shared by t_dsir / t_dsir_resample. */
  private lazy val sqlDsirCtes: String =
    s"""bg AS (SELECT doc_id,
    |    token || ' ' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS f
    |  FROM stream),
    |feats AS (SELECT doc_id, token AS f FROM stream
    |  UNION ALL SELECT doc_id, f FROM bg WHERE f IS NOT NULL),
    |bf AS (SELECT doc_id, ${sqlHash60("'dsir:' || f")} % 4096 AS bucket
    |  FROM feats),
    |db AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
    |  FROM bf GROUP BY doc_id, bucket),
    |tset AS (SELECT doc_id FROM documents WHERE lang = 'en'),
    |ct AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c_t
    |  FROM db JOIN tset USING (doc_id) GROUP BY bucket),
    |cr AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c_r
    |  FROM db GROUP BY bucket),
    |nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_t
    |  FROM db JOIN tset USING (doc_id)),
    |nr AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_r FROM db),
    |w AS (SELECT cr.bucket,
    |    CAST(round(ln(((coalesce(ct.c_t, 0) + 1.0) * (nr.n_r + 4096))
    |      / ((cr.c_r + 1.0) * (nt.n_t + 4096))) * 1e6, 0) AS BIGINT)
    |      AS w_micro
    |  FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN nt CROSS JOIN nr),
    |sc AS (SELECT db.doc_id,
    |    CAST(sum(db.cnt * w.w_micro) AS BIGINT) AS score_micro
    |  FROM db JOIN w USING (bucket) GROUP BY db.doc_id)""".stripMargin

  /** Trigram Kneser-Ney model + per-doc sums (follows $ToksCte,
    * $StreamCte): trigram stream -> per-doc + corpus trigram tables ->
    * the five model tables -> per-trigram micro-nat log-probs ->
    * `a(doc_id, s, n)`. Shared by t_kneser_ney3 / t_ccnet_buckets. */
  private lazy val sqlKn3Ctes: String =
    s"""tg AS (SELECT doc_id, token AS w0,
    |    lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
    |    lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    |  FROM stream),
    |td AS (SELECT doc_id, w0, w1, w2, CAST(count(*) AS BIGINT) AS "count"
    |  FROM tg WHERE w2 IS NOT NULL GROUP BY doc_id, w0, w1, w2),
    |tt AS (SELECT w0, w1, w2, CAST(sum("count") AS BIGINT) AS ctri
    |  FROM td GROUP BY w0, w1, w2),
    |s01 AS (SELECT w0, w1, CAST(sum(ctri) AS BIGINT) AS s01,
    |    CAST(count(*) AS BIGINT) AS n1r01 FROM tt GROUP BY w0, w1),
    |cont AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS ncont
    |  FROM tt GROUP BY w1, w2),
    |mid AS (SELECT w1, CAST(sum(ncont) AS BIGINT) AS nmid,
    |    CAST(count(*) AS BIGINT) AS n1rc FROM cont GROUP BY w1),
    |nlt AS (SELECT w2, CAST(count(*) AS BIGINT) AS nl
    |  FROM cont GROUP BY w2),
    |bb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM cont),
    |j AS (SELECT td.doc_id, td."count",
    |    CAST(round(ln(
    |      CAST(greatest(4 * tt.ctri - 3, 0) * (4 * mid.nmid * bb.b)
    |        + 3 * s01.n1r01 * (greatest(4 * cont.ncont - 3, 0) * bb.b
    |          + 3 * mid.n1rc * nlt.nl) AS DOUBLE)
    |      / CAST(16 * s01.s01 * mid.nmid * bb.b AS DOUBLE))
    |      * 1000000, 0) AS BIGINT) AS lp
    |  FROM td JOIN tt USING (w0, w1, w2) JOIN s01 USING (w0, w1)
    |  JOIN mid USING (w1) JOIN cont USING (w1, w2) JOIN nlt USING (w2)
    |  CROSS JOIN bb),
    |a AS (SELECT doc_id, CAST(sum("count" * lp) AS BIGINT) AS s,
    |    CAST(sum("count") AS BIGINT) AS n FROM j GROUP BY doc_id)""".stripMargin

  /** The pipeline row's oracle: the shared curation CTE prefix + the
    * survivor-trained BPE replay + the packing tail (the t_packed_ids
    * shape restricted to the `final` doc set). */
  /** The curation pipeline's packing replay THROUGH the global piece
    * index table `pp` (shared CTE prefix + survivor-trained BPE + the
    * final-doc-scoped pack chain) — shared by the pipeline row and its
    * manifest row. */
  private lazy val sqlCurationPackCtes: String =
    s"""$sqlCurationCtes,
        |$sqlBpeChain,
        |pc AS (SELECT word, l[x] AS piece, x AS sp
        |  FROM (SELECT word, string_split(trim(sym), '  ') AS l FROM s6),
        |    unnest(range(1, len(l) + 1)) AS u(x)),
        |ws AS (SELECT s.doc_id, s.pos, lower(s.token) AS word
        |  FROM stream s JOIN final USING (doc_id)
        |  WHERE regexp_matches(lower(s.token), '^[a-z]+$$')),
        |pieces AS MATERIALIZED (SELECT ws.doc_id, ws.pos, pc.sp, pc.piece
        |  FROM ws JOIN pc ON pc.word = ws.word),
        |voc AS (SELECT piece, row_number() OVER (ORDER BY piece) - 1 AS pid
        |  FROM (SELECT DISTINCT piece FROM pieces)),
        |enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pieces
        |  FROM pieces GROUP BY doc_id),
        |bk AS (SELECT doc_id, n_pieces,
        |    ${sqlHash60("CAST(doc_id AS VARCHAR) || ':pack'")} % 8 AS bucket
        |  FROM enc),
        |st AS (SELECT doc_id, bucket,
        |    COALESCE(CAST(sum(n_pieces) OVER (PARTITION BY bucket
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |      0) AS start_tok
        |  FROM bk),
        |pp AS (SELECT p.doc_id, st.bucket,
        |    st.start_tok + row_number()
        |      OVER (PARTITION BY p.doc_id ORDER BY p.pos, p.sp) - 1 AS pg,
        |    v.pid
        |  FROM pieces p JOIN voc v USING (piece) JOIN st USING (doc_id))""".stripMargin

  /** The pipeline row's oracle: packing tail over [[sqlCurationPackCtes]]. */
  private lazy val CurationPipelineOracle: Option[String] =
    Some(s"""WITH $sqlCurationPackCtes
        |SELECT bucket, pg // 128 AS seq_id,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_pieces,
        |  string_agg(CAST(pid AS VARCHAR), ' ' ORDER BY pg) AS ids_str
        |FROM pp GROUP BY bucket, pg // 128
        |ORDER BY bucket, seq_id""".stripMargin)


  /** Shared construction of the end-to-end curation chain (clean -> DSIR
    * resample -> decontaminate -> exact dedup -> KN3 perplexity cut): the
    * stage frames, so the pipeline row (packed sequences) and the funnel
    * row (per-stage attrition) compose the SAME chain. `surv` and
    * `finalDocs` are tracked [[graft.core.CacheScope.materialize]] leaves:
    * a merely-cached frame still carries its full logical lineage into
    * KN3's five model joins and the composed tree grows multiplicatively
    * (tens of thousands of nodes; planning alone exhausts the heap at
    * sf0.1). With the leaves every downstream plan is the same size as
    * its standalone row's, and the caller's release frees both. */
  private[graft] final case class CurationStages(
      cleaned: DataFrame, keptIds: DataFrame, train: DataFrame,
      decon: DataFrame, surv: DataFrame,
      private val finalDocsStage: Stages.Stage[DataFrame]) {
    /** The perplexity-filtered final doc set. Its KN3 model build, rank
      * and materialization run as a [[Stages]] fork started once `surv`
      * is materialized: the pipeline/manifest rows train BPE on `surv`
      * between constructing the stages and reading `finalDocs`, and the
      * two multi-job laps (measured 2.5 s and 4.3 s at sf0.1) are
      * independent, so the row's wall is the longer lap, not the sum.
      * First use blocks until the leaf is built and rethrows its failure;
      * values are unchanged. The fork is eager (a lazy one would forfeit
      * the overlap) and has no timeout (a long build at scale is not a
      * failure). A caller that never reads `finalDocs` may release before
      * the fork ends; the fork's leaf then stays tracked, and the next
      * release frees it. */
    def finalDocs: DataFrame = finalDocsStage.get
  }

  private def curationStages(s: SparkSession, dir: String): CurationStages =
    curationStagesFrom(rd(s, dir, "documents"))

  /** Persist and count each funnel stage frame as concurrent [[Stages]]
    * forks: the per-stage semi-join aggregates are independent once their
    * id frames exist, and the stage-5 builder blocks on `finalDocs`, so
    * stages 0-4 run while it waits instead of idling behind it. Every
    * fork settles before a failure propagates, so no stage registers a
    * persist after the caller's release. Returns the SAME persisted
    * frames, fully materialized; values are those of the lazy union. */
  private[graft] def persistedStages(
      frames: Seq[() => DataFrame]): Seq[DataFrame] =
    Stages.join(frames.map(f => Stages.fork {
      val df = graft.core.CacheScope.persist(f())
      df.count() // materializes every column of the cached frame
      df
    }))

  /** The chain over an arbitrary (doc_id, text, lang) corpus — exposed
    * package-private so ScaleSmoke can run the COMPOSED pipeline (not
    * just its stages) on a replicated corpus and confirm the lineage-cut
    * plan size is corpus-independent. */
  private[graft] def curationStagesFrom(docs: DataFrame): CurationStages = {
    // `cleaned` feeds four scans (the weight aggregate, the row-local
    // score pass + its resample max, the eval shard, the funnels'
    // token counts) — persist it once so cleanText's regex chain runs
    // over every character ONCE (round 18; the same measured decision
    // freeze() took in r17 for its three scans). CacheScope lifetime:
    // released by the session owner after the consuming action.
    val cleaned = graft.core.CacheScope.persist(docs.select(col("doc_id"),
      TextAnalysis.cleanText(col("text")).as("text"), col("lang")))
    // DSIR head in the r14-adjudicated BATCH-APPLY shape (round 18,
    // guide §2.4 — VERDICT r17 #3 "curation serial head"): weights from
    // ONE bucket-keyed aggregate (no corpus-sized (doc, bucket)
    // exchange), then ROW-LOCAL scoring against the collected
    // geometry-sized weight array — the score exchange AND the
    // keptIds semi-join attach (which re-shuffled the full text rows)
    // both disappear; the text never leaves its row until the dedup
    // hash exchange. Values byte-identical: weightTable replicates
    // scoreAll's arithmetic, scoreRowLocal replicates the join scoring
    // exactly (weighted_hits > 0 ≡ the old inner-join doc drop), and
    // importanceResample sees the same (doc_id, score_micro) set, so
    // the kept set — and every downstream stage — is unchanged
    // (oracle-verified on all curation rows).
    val w = Dsir.weightTable(cleaned, col("lang") === "en",
      numBuckets = 4096)
    val scored = Dsir.scoreRowLocal(cleaned, w, numBuckets = 4096)
      .filter(col("weighted_hits") > 0)
      .drop("weighted_hits")
    val kept = Dsir.importanceResample(scored, temperature = 2.0)
    val keptIds = kept.select("doc_id")
    val selected = kept.select("doc_id", "text", "lang")
    val train = graft.core.CacheScope.persist(
      selected.filter(col("doc_id") % 31 =!= 0))
    val evalDocs = cleaned.filter(col("doc_id") % 31 === 0)
    val contaminated = Dedup.decontaminate(train, evalDocs, n = 8)
      .select("doc_id")
    val decon = train.join(contaminated, Seq("doc_id"), "left_anti")
    val surv = graft.core.CacheScope.materialize(
      Dedup.dropExactDuplicates(decon).select("doc_id", "text"))
    // forked (see CurationStages.finalDocs): everything below depends
    // only on the already-materialized `surv`
    val finalDocs = Stages.fork {
      val keepIds = TextRanking.perplexityBuckets(surv, nBuckets = 3)
        .filter(col("bucket_id") <= 1).select("doc_id")
      graft.core.CacheScope.materialize(
        surv.join(keepIds, Seq("doc_id"), "left_semi"))
    }
    CurationStages(cleaned, keptIds, train, decon, surv, finalDocs)
  }

  /** The curation chain's oracle CTE prefix (cleaned corpus `d`, DSIR
    * scoring/resample `keep`, decontamination `decon`, dedup `surv`, the
    * survivor-scoped `toks`/`stream`, KN3 + perplexity cut `final`) —
    * shared by the pipeline and funnel oracles. Hub CTEs MATERIALIZED:
    * DuckDB re-inlines plain CTEs per reference. */
  private lazy val sqlCurationCtes: String =
    s"""d AS MATERIALIZED (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(regexp_replace(text,
        |      '<[^>]*>', ' ', 'g'),
        |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
        |      '\\s+', ' ', 'g')) AS text,
        |    lang
        |  FROM documents),
        |toks0 AS MATERIALIZED (SELECT doc_id, regexp_extract_all(text, '[\\p{L}]+') AS t
        |  FROM d),
        |stream0 AS MATERIALIZED (SELECT doc_id, unnest(t) AS token,
        |    unnest(range(1, len(t)+1)) AS pos FROM toks0),
        |bg0 AS (SELECT doc_id,
        |    token || ' ' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS f
        |  FROM stream0),
        |feats0 AS (SELECT doc_id, token AS f FROM stream0
        |  UNION ALL SELECT doc_id, f FROM bg0 WHERE f IS NOT NULL),
        |bf0 AS (SELECT doc_id, ${sqlHash60("'dsir:' || f")} % 4096 AS bucket
        |  FROM feats0),
        |db0 AS MATERIALIZED (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bf0 GROUP BY doc_id, bucket),
        |tset0 AS (SELECT doc_id FROM d WHERE lang = 'en'),
        |ct0 AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c_t
        |  FROM db0 JOIN tset0 USING (doc_id) GROUP BY bucket),
        |cr0 AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c_r
        |  FROM db0 GROUP BY bucket),
        |nt0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_t
        |  FROM db0 JOIN tset0 USING (doc_id)),
        |nr0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_r FROM db0),
        |wd0 AS (SELECT cr0.bucket,
        |    CAST(round(ln(((coalesce(ct0.c_t, 0) + 1.0) * (nr0.n_r + 4096))
        |      / ((cr0.c_r + 1.0) * (nt0.n_t + 4096))) * 1e6, 0) AS BIGINT)
        |      AS w_micro
        |  FROM cr0 LEFT JOIN ct0 USING (bucket) CROSS JOIN nt0 CROSS JOIN nr0),
        |sc0 AS MATERIALIZED (SELECT db0.doc_id,
        |    CAST(sum(db0.cnt * wd0.w_micro) AS BIGINT) AS score_micro
        |  FROM db0 JOIN wd0 USING (bucket) GROUP BY db0.doc_id),
        |mx0 AS (SELECT max(score_micro) AS m FROM sc0),
        |keep AS (SELECT doc_id FROM (
        |    SELECT doc_id,
        |      CAST(round(exp(CAST(score_micro - mx0.m AS DOUBLE) / 2000000.0)
        |        * 1e6, 0) AS BIGINT) AS p_micro,
        |      ${sqlHash60("CAST(doc_id AS VARCHAR) || ':resample:dsir'")}
        |        % 1000000 AS u_micro
        |    FROM sc0 CROSS JOIN mx0)
        |  WHERE u_micro < p_micro),
        |train AS MATERIALIZED (SELECT doc_id FROM keep WHERE doc_id % 31 <> 0),
        |sl AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        |  FROM toks0 WHERE len(t) >= 8),
        |shg AS MATERIALIZED (SELECT DISTINCT doc_id,
        |    ${sqlHash60("array_to_string(t[i:i+7], ' ')")} AS sh
        |  FROM sl),
        |ev AS (SELECT DISTINCT sh FROM shg WHERE doc_id % 31 = 0),
        |contam AS (SELECT DISTINCT s.doc_id
        |  FROM shg s JOIN ev USING (sh) JOIN train tr ON tr.doc_id = s.doc_id),
        |decon AS MATERIALIZED (SELECT doc_id FROM train
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
        |surv AS MATERIALIZED (SELECT doc_id FROM (
        |    SELECT d.doc_id,
        |      row_number() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id)
        |        AS rn
        |    FROM d JOIN decon USING (doc_id)) WHERE rn = 1),
        |toks AS MATERIALIZED (SELECT t0.doc_id, t0.t FROM toks0 t0 JOIN surv USING (doc_id)),
        |stream AS MATERIALIZED (SELECT doc_id, unnest(t) AS token, unnest(range(1, len(t)+1)) AS pos FROM toks),
        |$sqlKn3Ctes,
        |ce AS (SELECT doc_id,
        |    -CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT) / 1000000.0
        |      AS cross_entropy
        |  FROM a),
        |rk AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY cross_entropy, doc_id) - 1 AS rank0,
        |    count(*) OVER () AS nn FROM ce),
        |final AS (SELECT doc_id FROM rk WHERE (rank0 * 3) // nn <= 1)""".stripMargin

  private lazy val analysis: Seq[(String, Q)] = Seq(

    // Trainable quality classifier: 3 batch-perceptron rounds over hashed
    // bag-of-words features (64 buckets + bias), labels self-derived from
    // lang='en'. All-integer train+score, so the oracle replays the ENTIRE
    // training run: w1 is the cold-start update (w0 = 0 misclassifies
    // everything), then two score->misclassified->delta rounds, then the
    // final scoring pass — identical arithmetic in both engines.
    "t_perceptron" -> Q(
      (s, dir) =>
        Classifier.qualityScores(rd(s, dir, "documents"),
            positive = col("lang") === "en", nBuckets = 64, rounds = 3)
          .orderBy("doc_id"),
      Some {
        def round(i: Int): String = {
          val (w, wn) = (s"w$i", s"w${i + 1}")
          s"""s$i AS (SELECT f.doc_id, CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS sc
          |  FROM fx f LEFT JOIN $w w ON f.b = w.b GROUP BY f.doc_id),
          |m$i AS (SELECT s.doc_id, l.y FROM s$i s JOIN lab l USING (doc_id)
          |  WHERE l.y * s.sc <= 0),
          |d$i AS (SELECT f.b, CAST(sum(m.y * f.cnt) AS BIGINT) AS d
          |  FROM fx f JOIN m$i m USING (doc_id) GROUP BY f.b),
          |$wn AS (SELECT coalesce(w.b, d.b) AS b, coalesce(w.w, 0) + coalesce(d.d, 0) AS w
          |  FROM $w w FULL JOIN d$i d ON w.b = d.b)""".stripMargin
        }
        s"""WITH $ToksCte, $StreamCte, $UniCte,
        |fx AS (
        |  SELECT doc_id, ${sqlHash60("token")} % 64 AS b,
        |    CAST(sum("count") AS BIGINT) AS cnt
        |  FROM uni GROUP BY 1, 2
        |  UNION ALL SELECT doc_id, 64, 1 FROM documents),
        |lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
        |  FROM documents),
        |w1 AS (SELECT f.b, CAST(sum(l.y * f.cnt) AS BIGINT) AS w
        |  FROM fx f JOIN lab l USING (doc_id) GROUP BY f.b),
        |${round(1)},
        |${round(2)},
        |sf AS (SELECT f.doc_id, CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS score
        |  FROM fx f LEFT JOIN w3 w ON f.b = w.b GROUP BY f.doc_id)
        |SELECT s.doc_id, l.y, s.score,
        |  CASE WHEN s.score > 0 THEN CAST(1 AS BIGINT)
        |       ELSE CAST(-1 AS BIGINT) END AS pred
        |FROM sf s JOIN lab l USING (doc_id)
        |ORDER BY doc_id""".stripMargin
      }),

    // Quality-classifier DISTILLATION (round 10) — the FineWeb-Edu /
    // weak-supervision shape: the expensive-but-rule-based Gopher bundle
    // labels the corpus, and the cheap hashed-feature perceptron is
    // trained on those labels so the RULES' judgment can be applied as
    // one broadcast dot product per document downstream (or to text the
    // rules were never run on). Pure composition of two oracle-checked
    // operators; the oracle chains the Gopher keep CTEs into the
    // perceptron's exact-integer training replay as the label relation.
    // SMJ-adjudicated: the doc_id join of hashed features against teacher
    // labels is corpus x corpus (the bounded weight VECTOR rides as a
    // literal, not a join); unhinted on purpose.
    "t_distilled_quality" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val keep = TextAnalysis.gopherRules(docs)
          .select(col("doc_id"), col("keep"))
        Classifier.qualityScores(docs.join(keep, Seq("doc_id")),
            positive = col("keep"), nBuckets = 64, rounds = 3)
          .orderBy("doc_id")
      },
      Some {
        val stop = TextAnalysis.StopwordSets.head._2.map(w => s"'$w'").mkString(", ")
        def round(i: Int): String = {
          val (w, wn) = (s"w$i", s"w${i + 1}")
          s"""s$i AS (SELECT f.doc_id, CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS sc
          |  FROM fx f LEFT JOIN $w w ON f.b = w.b GROUP BY f.doc_id),
          |m$i AS (SELECT s.doc_id, l.y FROM s$i s JOIN lab l USING (doc_id)
          |  WHERE l.y * s.sc <= 0),
          |d$i AS (SELECT f.b, CAST(sum(m.y * f.cnt) AS BIGINT) AS d
          |  FROM fx f JOIN m$i m USING (doc_id) GROUP BY f.b),
          |$wn AS (SELECT coalesce(w.b, d.b) AS b, coalesce(w.w, 0) + coalesce(d.d, 0) AS w
          |  FROM $w w FULL JOIN d$i d ON w.b = d.b)""".stripMargin
        }
        s"""WITH $ToksCte, $StreamCte, $UniCte,
        |gg AS (SELECT doc_id,
        |    regexp_extract_all(text, '[\\p{L}]+') AS t,
        |    regexp_extract_all(text, '\\S+') AS ws,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |gm AS (SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_tok,
        |    CAST(length(array_to_string(t, '')) AS BIGINT) AS tok_chars,
        |    CAST(len(list_filter(ws, w -> regexp_matches(w, '\\p{L}')))
        |      AS BIGINT) AS alpha_w,
        |    CAST(len(ws) AS BIGINT) AS n_ws,
        |    CAST(len(list_intersect(list_distinct(list_transform(t,
        |      x -> lower(x))), [$stop])) AS BIGINT) AS n_stops,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines,
        |      l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS bullets,
        |    CAST(len(list_filter(lines,
        |      l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*${"$"}')))
        |      AS BIGINT) AS ells,
        |    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct
        |  FROM gg),
        |lab AS (SELECT doc_id, CASE WHEN
        |    (n_tok BETWEEN 50 AND 100000)
        |    AND (3 * n_tok <= tok_chars AND tok_chars <= 10 * n_tok)
        |    AND (10 * alpha_w >= 8 * n_ws) AND (n_stops >= 2)
        |    AND (10 * bullets <= n_lines) AND (10 * ells <= 3 * n_lines)
        |    AND (10 * n_distinct >= 4 * n_tok)
        |  THEN 1 ELSE -1 END AS y FROM gm),
        |fx AS (
        |  SELECT doc_id, ${sqlHash60("token")} % 64 AS b,
        |    CAST(sum("count") AS BIGINT) AS cnt
        |  FROM uni GROUP BY 1, 2
        |  UNION ALL SELECT doc_id, 64, 1 FROM documents),
        |w1 AS (SELECT f.b, CAST(sum(l.y * f.cnt) AS BIGINT) AS w
        |  FROM fx f JOIN lab l USING (doc_id) GROUP BY f.b),
        |${round(1)},
        |${round(2)},
        |sf AS (SELECT f.doc_id, CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS score
        |  FROM fx f LEFT JOIN w3 w ON f.b = w.b GROUP BY f.doc_id)
        |SELECT s.doc_id, l.y, s.score,
        |  CASE WHEN s.score > 0 THEN CAST(1 AS BIGINT)
        |       ELSE CAST(-1 AS BIGINT) END AS pred
        |FROM sf s JOIN lab l USING (doc_id)
        |ORDER BY doc_id""".stripMargin
      }),

    // Multinomial Naive Bayes lang routing — generative counterpart to
    // t_perceptron; every log term is a micro-nat long of an exact-integer
    // ratio so the oracle replays the identical integer sums.
    "t_naive_bayes" -> Q(
      (s, dir) =>
        Classifier.naiveBayes(rd(s, dir, "documents"), labelCol = "lang")
          .orderBy("doc_id"),
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |dl AS (SELECT doc_id, lang FROM documents),
        |tl AS (SELECT u.token, dl.lang AS cand,
        |    CAST(sum(u."count") AS BIGINT) AS c_tl
        |  FROM uni u JOIN dl ON dl.doc_id = u.doc_id
        |  GROUP BY u.token, dl.lang),
        |nl AS (SELECT cand, CAST(sum(c_tl) AS BIGINT) AS n_l
        |  FROM tl GROUP BY cand),
        |vv AS (SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v FROM uni),
        |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |lc AS (SELECT ld.cand,
        |    CAST(round(ln(CAST(coalesce(nl.n_l, 0) AS DOUBLE)
        |      + (SELECT v FROM vv)) * 1e6, 0) AS BIGINT) AS ln_nv,
        |    CAST(round(ln(ld.n_docs_l / (SELECT n FROM nd)) * 1e6, 0)
        |      AS BIGINT) AS ln_prior
        |  FROM (SELECT lang AS cand, CAST(count(*) AS DOUBLE) AS n_docs_l
        |        FROM documents GROUP BY lang) ld
        |  LEFT JOIN nl ON nl.cand = ld.cand),
        |lpt AS (SELECT token, cand,
        |    CAST(round(ln(CAST(c_tl AS DOUBLE) + 1.0) * 1e6, 0) AS BIGINT)
        |      AS lp
        |  FROM tl),
        |dt AS (SELECT doc_id, CAST(sum("count") AS BIGINT) AS n_tok
        |  FROM uni GROUP BY doc_id),
        |pres AS (SELECT u.doc_id, lpt.cand,
        |    CAST(sum(u."count" * lpt.lp) AS BIGINT) AS s_pres
        |  FROM uni u JOIN lpt ON lpt.token = u.token
        |  GROUP BY u.doc_id, lpt.cand),
        |sc AS (SELECT dt.doc_id, lc.cand,
        |    coalesce(p.s_pres, 0) - dt.n_tok * lc.ln_nv + lc.ln_prior
        |      AS score
        |  FROM dt CROSS JOIN lc
        |  LEFT JOIN pres p ON p.doc_id = dt.doc_id AND p.cand = lc.cand),
        |rk AS (SELECT doc_id, cand, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cand) AS rn
        |  FROM sc)
        |SELECT r.doc_id, r.cand AS pred_lang, r.score AS score_micro,
        |  CASE WHEN r.cand = d.lang THEN 1 ELSE 0 END AS correct
        |FROM rk r JOIN documents d ON d.doc_id = r.doc_id
        |WHERE r.rn = 1 ORDER BY r.doc_id""".stripMargin)),

    "t_langid" -> Q(
      (s, dir) =>
        TextAnalysis.languageId(rd(s, dir, "documents")).orderBy("doc_id"),
      Some {
        val hitExprs = TextAnalysis.StopwordSets.map { case (lang, words) =>
          val lst = words.map(w => s"'$w'").mkString(", ")
          s"len(list_filter(lt, x -> x IN ($lst))) AS hits_$lang"
        }.mkString(",\n  ")
        val langs = TextAnalysis.StopwordSets.map(_._1)
        val bestExpr = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
        val caseChain = langs.map(l => s"WHEN hits_$l = best AND best > 0 THEN '$l'")
          .mkString(" ")
        s"""WITH lt AS (SELECT doc_id, regexp_extract_all(lower(text), '[\\p{L}]+') AS lt FROM documents),
        |sc AS (SELECT doc_id,
        |  $hitExprs,
        |  len(lt) AS n_toks FROM lt),
        |b AS (SELECT *, $bestExpr AS best FROM sc)
        |SELECT doc_id,
        |  CASE $caseChain ELSE 'und' END AS lang_pred,
        |  round(best::DOUBLE / greatest(n_toks, 1), 6) AS confidence
        |FROM b ORDER BY doc_id""".stripMargin
      }),

    // Language-ID EVAL against the corpus's own lang labels: the
    // (label, prediction, n) confusion table plus per-cell share of the
    // label's docs — the router-quality report a mixing pipeline reads
    // before trusting lang_pred. The oracle replays the full stopword
    // argmax + priority tie-break, then the confusion aggregate.
    "t_langid_eval" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val pred = TextAnalysis.languageId(docs).select("doc_id", "lang_pred")
        docs.select(col("doc_id"), col("lang"))
          .join(pred, Seq("doc_id"))
          .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
          .withColumn("label_total",
            sum("n").over(Window.partitionBy("lang")))
          .withColumn("share_micro",
            round(col("n") * lit(1000000.0) / col("label_total"), 0)
              .cast("long"))
          .orderBy("lang", "lang_pred")
      },
      Some {
        val hitExprs = TextAnalysis.StopwordSets.map { case (lang, words) =>
          val lst = words.map(w => s"'$w'").mkString(", ")
          s"len(list_filter(lt, x -> x IN ($lst))) AS hits_$lang"
        }.mkString(",\n  ")
        val langs = TextAnalysis.StopwordSets.map(_._1)
        val bestExpr = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
        val caseChain = langs.map(l => s"WHEN hits_$l = best AND best > 0 THEN '$l'")
          .mkString(" ")
        s"""WITH lt AS (SELECT doc_id, regexp_extract_all(lower(text), '[\\p{L}]+') AS lt FROM documents),
        |sc AS (SELECT doc_id,
        |  $hitExprs
        |  FROM lt),
        |b AS (SELECT *, $bestExpr AS best FROM sc),
        |p AS (SELECT doc_id,
        |    CASE $caseChain ELSE 'und' END AS lang_pred FROM b),
        |cf AS (SELECT d.lang, p.lang_pred, CAST(count(*) AS BIGINT) AS n
        |  FROM documents d JOIN p USING (doc_id)
        |  GROUP BY d.lang, p.lang_pred),
        |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS label_total
        |  FROM cf GROUP BY lang)
        |SELECT cf.lang, cf.lang_pred, cf.n, tot.label_total,
        |  CAST(round(cf.n * 1000000.0 / tot.label_total, 0) AS BIGINT)
        |    AS share_micro
        |FROM cf JOIN tot USING (lang)
        |ORDER BY lang, lang_pred""".stripMargin
      }),

    // The Gopher rule bundle (Rae et al. 2021 §A1.1) as explicit booleans
    // + keep: every threshold an exact integer comparison (3n <= chars <=
    // 10n etc.), so the flags replay bit-exactly with no float contract.
    "t_gopher_rules" -> Q(
      (s, dir) =>
        TextAnalysis.gopherRules(rd(s, dir, "documents")).orderBy("doc_id"),
      Some {
        val stop = TextAnalysis.StopwordSets.head._2.map(w => s"'$w'").mkString(", ")
        s"""WITH g AS (SELECT doc_id,
        |    regexp_extract_all(text, '[\\p{L}]+') AS t,
        |    regexp_extract_all(text, '\\S+') AS ws,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_tok,
        |    CAST(length(array_to_string(t, '')) AS BIGINT) AS tok_chars,
        |    CAST(len(list_filter(ws, w -> regexp_matches(w, '\\p{L}')))
        |      AS BIGINT) AS alpha_w,
        |    CAST(len(ws) AS BIGINT) AS n_ws,
        |    CAST(len(list_intersect(list_distinct(list_transform(t,
        |      x -> lower(x))), [$stop])) AS BIGINT) AS n_stops,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines,
        |      l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS bullets,
        |    CAST(len(list_filter(lines,
        |      l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*${"$"}')))
        |      AS BIGINT) AS ells,
        |    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct
        |  FROM g)
        |SELECT doc_id, n_tok AS n_words, n_lines,
        |  (n_tok BETWEEN 50 AND 100000) AS r_word_count,
        |  (3 * n_tok <= tok_chars AND tok_chars <= 10 * n_tok)
        |    AS r_mean_word_len,
        |  (10 * alpha_w >= 8 * n_ws) AS r_alpha_words,
        |  (n_stops >= 2) AS r_stopwords,
        |  (10 * bullets <= n_lines) AS r_bullet_lines,
        |  (10 * ells <= 3 * n_lines) AS r_ellipsis_lines,
        |  (10 * n_distinct >= 4 * n_tok) AS r_dup_tokens,
        |  ((n_tok BETWEEN 50 AND 100000)
        |    AND (3 * n_tok <= tok_chars AND tok_chars <= 10 * n_tok)
        |    AND (10 * alpha_w >= 8 * n_ws) AND (n_stops >= 2)
        |    AND (10 * bullets <= n_lines) AND (10 * ells <= 3 * n_lines)
        |    AND (10 * n_distinct >= 4 * n_tok)) AS keep
        |FROM m ORDER BY doc_id""".stripMargin
      }),

    // Per-SOURCE quality dashboard: document counts, Gopher-rule keep
    // rates and mean quality score per source — the table a data-mixing
    // decision actually reads (which sources are worth their tokens).
    // Integer-exact: keep counts are longs, the mean aggregates the 6-dp
    // per-doc score on the micro grid (order-free integer sum).
    "t_source_quality" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val g = TextAnalysis.gopherRules(docs).select(col("doc_id"), col("keep"))
        val q = TextAnalysis.qualityScore(docs).select(col("doc_id"),
          round(col("quality_score") * 1e6, 0).cast("long").as("q_micro"))
        docs.select(col("doc_id"), col("source"))
          .join(g, Seq("doc_id")).join(q, Seq("doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("n_keep"),
            round(sum("q_micro") / count(lit(1)), 0).cast("long")
              .as("mean_quality_micro"))
          .withColumn("keep_micro",
            round(col("n_keep") * lit(1000000.0) / col("n_docs"), 0)
              .cast("long"))
          .orderBy("source")
      },
      Some {
        val stop = TextAnalysis.StopwordSets.head._2.map(w => s"'$w'").mkString(", ")
        s"""WITH qm AS (SELECT doc_id,
        |  length(text) AS nc,
        |  regexp_extract_all(text, '[\\p{L}]+') AS t,
        |  len(regexp_extract_all(text, '[\\p{P}\\p{S}]')) AS np,
        |  len(regexp_extract_all(text, '[0-9]')) AS nd,
        |  len(list_filter(list_transform(regexp_extract_all(text, '[\\p{L}]+'), x -> lower(x)), x -> x IN ($stop))) AS nstop
        |  FROM documents),
        |qm2 AS (SELECT doc_id,
        |  CASE WHEN len(t) > 0 THEN list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t) ELSE 0.0 END AS mtl,
        |  np / greatest(nc, 1)::DOUBLE AS pr,
        |  nd / greatest(nc, 1)::DOUBLE AS dr,
        |  nstop / greatest(len(t), 1)::DOUBLE AS sr
        |  FROM qm),
        |qs AS (SELECT doc_id,
        |  CAST(round(round(least(greatest(1.0 - pr*2 - dr*2
        |    + (CASE WHEN mtl BETWEEN 3 AND 12 THEN 0.0 ELSE -0.25 END)
        |    + (CASE WHEN sr > 0.01 THEN 0.0 ELSE -0.25 END), 0.0), 1.0), 6)
        |    * 1000000, 0) AS BIGINT) AS q_micro
        |  FROM qm2),
        |gg AS (SELECT doc_id,
        |    regexp_extract_all(text, '[\\p{L}]+') AS t,
        |    regexp_extract_all(text, '\\S+') AS ws,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |gk AS (SELECT doc_id,
        |    ((CAST(len(t) AS BIGINT) BETWEEN 50 AND 100000)
        |     AND (3 * len(t) <= length(array_to_string(t, ''))
        |          AND length(array_to_string(t, '')) <= 10 * len(t))
        |     AND (10 * len(list_filter(ws, w -> regexp_matches(w, '\\p{L}')))
        |          >= 8 * len(ws))
        |     AND (len(list_intersect(list_distinct(list_transform(t,
        |          x -> lower(x))), [$stop])) >= 2)
        |     AND (10 * len(list_filter(lines,
        |          l -> regexp_matches(l, '^\\s*[-*•]'))) <= len(lines))
        |     AND (10 * len(list_filter(lines,
        |          l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*${"$"}')))
        |          <= 3 * len(lines))
        |     AND (10 * len(list_distinct(t)) >= 4 * len(t))) AS keep
        |  FROM gg)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN gk.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(round(CAST(sum(qs.q_micro) AS DOUBLE) / count(*), 0) AS BIGINT)
        |    AS mean_quality_micro,
        |  CAST(round(sum(CASE WHEN gk.keep THEN 1 ELSE 0 END) * 1000000.0
        |    / count(*), 0) AS BIGINT) AS keep_micro
        |FROM documents d JOIN qs USING (doc_id) JOIN gk USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin
      }),

    // OOV-vs-vocab-size CURVE: corpus out-of-vocabulary token mass at
    // several vocab caps from ONE ranked vocabulary table (rank once,
    // aggregate per cap) — the "how big must the vocab be" sizing curve.
    "t_oov_curve" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = rd(s, dir, "documents")
        val uni = graft.core.CacheScope.persist(TextOps.unigrams(docs))
        // UNCAPPED rank: the curve measures total OOV mass, so dropping
        // tokens ranked past any cap would silently undercount n_tokens
        // AND n_oov once the corpus has more distinct tokens than the cap
        // (the oracle ranks the full vocabulary). The rank itself is the
        // two-phase distributed scheme, so no cap is needed for scale.
        val ranked = TextOps.vocabFromUnigrams(uni, cap = Int.MaxValue)
        val caps = Seq(50L, 100L, 200L, 400L).toDF("cap")
        ranked.crossJoin(caps)
          .groupBy("cap")
          .agg(sum("count").as("n_tokens"),
            sum(when(col("wordid") >= col("cap"), col("count"))
              .otherwise(lit(0L))).as("n_oov"))
          .withColumn("oov_micro",
            round(col("n_oov") * lit(1000000.0) / col("n_tokens"), 0)
              .cast("long"))
          .orderBy("cap")
      },
      Some(s"""WITH $ToksCte, $StreamCte,
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS c,
        |    row_number() OVER (ORDER BY count(*) DESC, token) - 1 AS wordid
        |  FROM stream GROUP BY token),
        |caps(cap) AS (VALUES (50), (100), (200), (400))
        |SELECT CAST(cap AS BIGINT) AS cap,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN wordid >= cap THEN c ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(round(sum(CASE WHEN wordid >= cap THEN c ELSE 0 END)
        |    * 1000000.0 / sum(c), 0) AS BIGINT) AS oov_micro
        |FROM v CROSS JOIN caps GROUP BY cap ORDER BY cap""".stripMargin)),

    "t_quality" -> Q(
      (s, dir) =>
        TextAnalysis.qualityScore(rd(s, dir, "documents")).orderBy("doc_id"),
      Some {
        val stop = TextAnalysis.StopwordSets.head._2.map(w => s"'$w'").mkString(", ")
        s"""WITH m AS (SELECT doc_id,
        |  length(text) AS nc,
        |  regexp_extract_all(text, '[\\p{L}]+') AS t,
        |  len(regexp_extract_all(text, '[\\p{P}\\p{S}]')) AS np,
        |  len(regexp_extract_all(text, '[0-9]')) AS nd,
        |  len(list_filter(list_transform(regexp_extract_all(text, '[\\p{L}]+'), x -> lower(x)), x -> x IN ($stop))) AS nstop
        |  FROM documents),
        |m2 AS (SELECT doc_id, nc, len(t) AS nt,
        |  CASE WHEN len(t) > 0 THEN list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t) ELSE 0.0 END AS mtl,
        |  np / greatest(nc, 1)::DOUBLE AS pr,
        |  nd / greatest(nc, 1)::DOUBLE AS dr,
        |  nstop / greatest(len(t), 1)::DOUBLE AS sr
        |  FROM m)
        |SELECT doc_id, nc::BIGINT AS n_chars_text, nt::BIGINT AS n_tokens,
        |  round(mtl, 6) AS mean_token_len,
        |  round(pr, 6) AS punct_ratio,
        |  round(dr, 6) AS digit_ratio,
        |  round(sr, 6) AS stopword_ratio,
        |  round(least(greatest(1.0 - pr*2 - dr*2
        |    + (CASE WHEN mtl BETWEEN 3 AND 12 THEN 0.0 ELSE -0.25 END)
        |    + (CASE WHEN sr > 0.01 THEN 0.0 ELSE -0.25 END), 0.0), 1.0), 6) AS quality_score
        |FROM m2 ORDER BY doc_id""".stripMargin
      },
      headline = true),

    // Cross-engine audit of the DEFLATE compression-ratio signal
    // (VERDICT r9 #5, r10 #1): the compressed byte count itself is
    // implementation-defined — no DuckDB oracle can reproduce it — but
    // raw length, losslessness, and the stored-block worst-case size
    // bound are not. The Spark side VERIFIES round-trip + bound
    // in-engine and emits the booleans; the oracle pins them TRUE — any
    // lossy or out-of-bound deflate hash-fails at the driver. This row
    // SUPERSEDES the retired oracle-less `t_compression` registry row
    // (VERDICT r10 task 1: zero no_oracle rows); the raw
    // `ratio_micro` signal remains available via
    // [[TextAnalysis.compressionSignals]], whose determinism is pinned
    // in CompressionSpec against an independent JDK code path and
    // golden literals.
    "t_compression_audit" -> Q(
      (s, dir) =>
        TextAnalysis.compressionAudit(rd(s, dir, "documents"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
        |  CASE WHEN text IS NULL THEN NULL ELSE TRUE END AS z_bounded,
        |  CASE WHEN text IS NULL THEN NULL ELSE TRUE END AS roundtrip_ok
        |FROM documents ORDER BY doc_id""".stripMargin)),

    "t_token_counts" -> Q(
      (s, dir) =>
        TextAnalysis.tokenCounts(rd(s, dir, "documents")).orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  len(regexp_extract_all(text, '\S+'))::BIGINT AS ws_tokens,
        |  len(regexp_extract_all(text, '[\p{L}]+|[0-9]+|[^\p{L}0-9\s]'))::BIGINT AS bpe_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]+'))::BIGINT AS alt_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // TF-IDF term weights (integer-scaled ln, see TextRanking): the
    // retrieval layer over the unigram tables.
    "t_tfidf" -> Q(
      (s, dir) =>
        TextRanking.tfidf(rd(s, dir, "documents")).orderBy("doc_id", "token"),
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |dfx AS (SELECT token, count(*) AS df,
        |    CAST(round(ln((SELECT count(*) FROM documents)::DOUBLE / count(*)) * 1000000, 0) AS BIGINT) AS idf_scaled
        |  FROM uni GROUP BY token)
        |SELECT u.doc_id, u.token, u."count" AS tf, d.df,
        |  (u."count" * d.idf_scaled) / 1000000.0 AS tfidf
        |FROM uni u JOIN dfx d USING (token)
        |ORDER BY u.doc_id, u.token""".stripMargin)),

    // Per-document keyword extraction: top-3 tokens by TF-IDF.
    "t_keywords" -> Q(
      (s, dir) =>
        TextRanking.keywords(rd(s, dir, "documents"), k = 3)
          .orderBy("doc_id", "rank"),
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |dfx AS (SELECT token, count(*) AS df,
        |    CAST(round(ln((SELECT count(*) FROM documents)::DOUBLE / count(*)) * 1000000, 0) AS BIGINT) AS idf_scaled
        |  FROM uni GROUP BY token),
        |tfx AS (SELECT u.doc_id, u.token,
        |    (u."count" * d.idf_scaled) / 1000000.0 AS tfidf
        |  FROM uni u JOIN dfx d USING (token)),
        |r AS (SELECT doc_id, token, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
        |  FROM tfx)
        |SELECT doc_id, rank, token, tfidf FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin)),

    // Bigram collocations by PMI (integer-scaled ln; rank + cut on the
    // scaled integer, so the top-k is engine-exact).
    "t_collocations" -> Q(
      (s, dir) =>
        TextRanking.collocations(rd(s, dir, "documents"), minCount = 5, k = 50)
          .orderBy(desc("pmi"), asc("w0"), asc("w1")),
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |ut AS (SELECT token, CAST(sum("count") AS BIGINT) AS c FROM uni GROUP BY token),
        |bg AS (SELECT doc_id, token AS w0,
        |        lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        |      FROM stream),
        |bt AS (SELECT w0, w1, CAST(count(*) AS BIGINT) AS cbi FROM bg
        |       WHERE w1 IS NOT NULL GROUP BY w0, w1),
        |tot AS (SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM ut) AS t,
        |               (SELECT CAST(sum(cbi) AS DOUBLE) FROM bt) AS bb),
        |p AS (SELECT w0, w1, cbi,
        |    CAST(round(ln(CAST(cbi AS DOUBLE) * t * t / (bb * c0.c * c1.c)) * 1000000, 0) AS BIGINT) AS ps
        |  FROM bt
        |  CROSS JOIN tot
        |  JOIN ut c0 ON bt.w0 = c0.token
        |  JOIN ut c1 ON bt.w1 = c1.token
        |  WHERE cbi >= 5),
        |r AS (SELECT w0, w1, cbi, ps FROM p ORDER BY ps DESC, w0, w1 LIMIT 50)
        |SELECT w0, w1, cbi, ps / 1000000.0 AS pmi FROM r
        |ORDER BY pmi DESC, w0, w1""".stripMargin)),

    // Kneser-Ney-smoothed bigram-LM cross-entropy: the production
    // (KenLM/CCNet-family) discounting. d = 3/4 exactly makes every
    // probability one rational of exact integer-valued doubles, so both
    // engines take ln of identical ratios.
    "t_kneser_ney" -> Q(
      (s, dir) =>
        TextRanking.kneserNeyCrossEntropy(rd(s, dir, "documents"))
          .orderBy("doc_id"),
      Some(s"""WITH $ToksCte, $StreamCte,
        |bg AS (SELECT doc_id, token AS w0,
        |        lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        |      FROM stream),
        |bd AS (SELECT doc_id, w0, w1, CAST(count(*) AS BIGINT) AS "count"
        |  FROM bg WHERE w1 IS NOT NULL GROUP BY doc_id, w0, w1),
        |bt AS (SELECT w0, w1, CAST(sum("count") AS BIGINT) AS cbi
        |  FROM bd GROUP BY w0, w1),
        |s0 AS (SELECT w0, CAST(sum(cbi) AS BIGINT) AS s0,
        |    CAST(count(*) AS BIGINT) AS n1r FROM bt GROUP BY w0),
        |n1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1l FROM bt GROUP BY w1),
        |bb AS (SELECT CAST(count(*) AS DOUBLE) AS b FROM bt),
        |j AS (SELECT bd.doc_id, bd."count",
        |    CAST(round(ln(
        |        ((4.0 * bt.cbi - 3.0) * bb.b + 3.0 * s0.n1r * n1.n1l)
        |        / (4.0 * s0.s0 * bb.b)) * 1000000, 0) AS BIGINT) AS lp
        |  FROM bd JOIN bt USING (w0, w1) JOIN s0 USING (w0)
        |  JOIN n1 USING (w1) CROSS JOIN bb),
        |a AS (SELECT doc_id, CAST(sum("count" * lp) AS BIGINT) AS s,
        |    CAST(sum("count") AS BIGINT) AS n FROM j GROUP BY doc_id)
        |SELECT doc_id, n AS n_bigrams,
        |  -CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT) / 1000000.0
        |    AS cross_entropy
        |FROM a ORDER BY doc_id""".stripMargin)),

    // TRIGRAM interpolated Kneser-Ney: the d=3/4 exact-rational trick one
    // order up — lower-order continuation probabilities derived from the
    // trigram table, every probability one ratio of exact int64s, one
    // micro-rounded ln per row. The oracle rebuilds all five model tables
    // and replays the identical long arithmetic.
    "t_kneser_ney3" -> Q(
      (s, dir) =>
        TextRanking.trigramKneserNeyCrossEntropy(rd(s, dir, "documents"))
          .orderBy("doc_id"),
      Some(s"""WITH $ToksCte, $StreamCte, $sqlKn3Ctes
        |SELECT doc_id, n AS n_trigrams,
        |  -CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT) / 1000000.0
        |    AS cross_entropy
        |FROM a ORDER BY doc_id""".stripMargin)),

    // INCREMENTAL KN3 (round 10, same maintenance theme as
    // t_dsir_incremental): the model's sufficient statistics are trigram
    // TYPE counts, which are additive — per-shard statistics (even/odd
    // doc halves) unioned and re-aggregated give EXACTLY the monolithic
    // model. The whole corpus is then scored under the merged model; the
    // oracle is t_kneser_ney3's monolithic chain verbatim. Equality
    // proves a sharded corpus maintains its LM filter without ever
    // re-reading old shards — only type-sized tables move.
    "t_kn3_incremental" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val tri = graft.core.CacheScope.persist(TextOps.ngrams(docs, 3))
        val merged = TextRanking
          .kn3Statistics(tri.filter(col("doc_id") % 2 === 0))
          .unionByName(
            TextRanking.kn3Statistics(tri.filter(col("doc_id") % 2 === 1)))
        TextRanking.kn3ScoreTrigrams(tri, TextRanking.kn3LogProbs(merged))
          .orderBy("doc_id")
      },
      Some(s"""WITH $ToksCte, $StreamCte, $sqlKn3Ctes
        |SELECT doc_id, n AS n_trigrams,
        |  -CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT) / 1000000.0
        |    AS cross_entropy
        |FROM a ORDER BY doc_id""".stripMargin)),

    // CCNet perplexity buckets: equal-population head/middle/tail cut of
    // the trigram-KN cross-entropy ranking — floor(rank*3/n) over the
    // total order (ce asc, id asc). Rank is the two-phase scheme on the
    // Spark side, a plain window in the oracle.
    "t_ccnet_buckets" -> Q(
      (s, dir) =>
        TextRanking.perplexityBuckets(rd(s, dir, "documents"), nBuckets = 3)
          .orderBy("doc_id"),
      Some(s"""WITH $ToksCte, $StreamCte, $sqlKn3Ctes,
        |ce AS (SELECT doc_id, n AS n_trigrams,
        |    -CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT) / 1000000.0
        |      AS cross_entropy
        |  FROM a),
        |rk AS (SELECT doc_id, n_trigrams, cross_entropy,
        |    row_number() OVER (ORDER BY cross_entropy, doc_id) - 1 AS rank0,
        |    count(*) OVER () AS nn FROM ce)
        |SELECT doc_id, n_trigrams, cross_entropy,
        |  (rank0 * 3) // nn AS bucket_id,
        |  CASE (rank0 * 3) // nn WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
        |    ELSE 'tail' END AS bucket
        |FROM rk ORDER BY doc_id""".stripMargin)),

    // Pairwise source KL divergence over the shared top-200 vocab grid —
    // the data-mixing diagnostic (which sources are redundant, which are
    // unlike anything else). Micro-nat log ratios, exact long numerators,
    // one double division per pair.
    "t_source_kl" -> Q(
      (s, dir) =>
        TextAnalysis.sourceDivergence(rd(s, dir, "documents"), k = 200)
          .orderBy("source_a", "source_b"),
      Some(s"""WITH $ToksCte, $StreamCte,
        |u AS (SELECT d.source AS src, s.token FROM stream s
        |  JOIN documents d USING (doc_id)),
        |uc AS (SELECT src, token, CAST(count(*) AS BIGINT) AS c
        |  FROM u GROUP BY src, token),
        |topv AS (SELECT token FROM (SELECT token, sum(c) AS ct FROM uc
        |  GROUP BY token ORDER BY sum(c) DESC, token LIMIT 200)),
        |srcs AS (SELECT DISTINCT src FROM uc),
        |grid AS (SELECT srcs.src, topv.token FROM srcs CROSS JOIN topv),
        |cnt AS (SELECT g.src, g.token, coalesce(uc.c, 0) AS c
        |  FROM grid g LEFT JOIN uc ON uc.src = g.src AND uc.token = g.token),
        |tot AS (SELECT src, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY src),
        |pr AS (SELECT a.src AS source_a, b.src AS source_b,
        |    a.c AS c_a, b.c AS c_b, ta.n AS n_a, tb.n AS n_b
        |  FROM cnt a JOIN cnt b USING (token)
        |  JOIN tot ta ON ta.src = a.src JOIN tot tb ON tb.src = b.src
        |  WHERE a.src <> b.src),
        |tm AS (SELECT source_a, source_b, n_a, c_a,
        |    CAST(round(ln(CAST((c_a + 1) * (n_b + 200) AS DOUBLE)
        |      / CAST((c_b + 1) * (n_a + 200) AS DOUBLE)) * 1e6, 0) AS BIGINT)
        |      AS lr
        |  FROM pr),
        |ag AS (SELECT source_a, source_b, max(n_a) AS n_a,
        |    CAST(sum((c_a + 1) * lr) AS BIGINT) AS num
        |  FROM tm GROUP BY source_a, source_b)
        |SELECT source_a, source_b, n_a,
        |  round((CAST(num AS DOUBLE) / (n_a + 200)) / 1e6, 6) AS kl
        |FROM ag ORDER BY source_a, source_b""".stripMargin)),

    // Vocabulary growth curve (Heaps-law view): equal-population document
    // bands in id order; cumulative docs/tokens/vocab per band, with each
    // token counted at its FIRST band — exact, one corpus pass + one
    // vocab-sized min aggregate.
    "t_vocab_growth" -> Q(
      (s, dir) =>
        TextAnalysis.vocabGrowth(rd(s, dir, "documents"), nBands = 10)
          .orderBy("band"),
      Some(s"""WITH $ToksCte,
        |rk AS (SELECT doc_id, t,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS rank0,
        |    count(*) OVER () AS n FROM toks),
        |bd AS (SELECT doc_id, t, (rank0 * 10) // n AS band FROM rk),
        |mass AS (SELECT band, CAST(count(*) AS BIGINT) AS docs_in_band,
        |    CAST(sum(len(t)) AS BIGINT) AS toks_in_band
        |  FROM bd GROUP BY band),
        |fb AS (SELECT token, min(band) AS first_band
        |  FROM (SELECT band, unnest(t) AS token FROM bd) GROUP BY token),
        |hist AS (SELECT first_band AS band,
        |    CAST(count(*) AS BIGINT) AS new_tokens
        |  FROM fb GROUP BY first_band)
        |SELECT m.band,
        |  CAST(sum(m.docs_in_band) OVER (ORDER BY m.band) AS BIGINT)
        |    AS n_docs,
        |  CAST(sum(m.toks_in_band) OVER (ORDER BY m.band) AS BIGINT)
        |    AS n_tokens,
        |  CAST(sum(coalesce(h.new_tokens, 0)) OVER (ORDER BY m.band)
        |    AS BIGINT) AS vocab
        |FROM mass m LEFT JOIN hist h ON h.band = m.band
        |ORDER BY m.band""".stripMargin)),

    // Zipf-law fit: least-squares ln(count) ~ ln(rank) over the top-1000
    // vocab — micro-rounded logs, exact integer sufficient statistics,
    // one double slope/intercept expression identical in both engines.
    "t_zipf" -> Q(
      (s, dir) =>
        TextAnalysis.zipfFit(rd(s, dir, "documents"), k = 1000),
      Some(s"""WITH $ToksCte, $StreamCte,
        |v AS (SELECT token, "count",
        |    row_number() OVER (ORDER BY "count" DESC, token) - 1 AS wordid
        |  FROM (SELECT token, CAST(count(*) AS BIGINT) AS "count"
        |        FROM stream GROUP BY token
        |        ORDER BY count(*) DESC, token LIMIT 1000)),
        |p AS (SELECT
        |    CAST(round(ln(CAST(wordid + 1 AS DOUBLE)) * 1e6, 0) AS BIGINT)
        |      AS x,
        |    CAST(round(ln(CAST("count" AS DOUBLE)) * 1e6, 0) AS BIGINT)
        |      AS y
        |  FROM v),
        |sm AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM p)
        |SELECT n,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0 THEN
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END AS slope,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0 THEN
        |  round(((CAST(sy AS DOUBLE)
        |      - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |        * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE)) / 1e6, 6) END AS intercept
        |FROM sm""".stripMargin)),

    // TextRank keyword importance: 3 integer-micro PageRank rounds over
    // the vocab-capped token co-occurrence graph. The oracle rebuilds the
    // graph and replays every damped round with the same floor divisions
    // (Spark `div` == DuckDB `//` on non-negative longs).
    "t_textrank" -> Q(
      (s, dir) =>
        TextRanking.textrank(rd(s, dir, "documents"), vocabSize = 200,
            iters = 3, k = 30)
          .orderBy(desc("prm"), asc("token")),
      Some {
        def iter(i: Int): String =
          s"""p$i AS (SELECT v.token,
          |    CAST(150000 + (850000 * coalesce(s.s, 0)) // 1000000 AS BIGINT) AS prm
          |  FROM voc v LEFT JOIN (
          |    SELECT e.dst AS token,
          |      CAST(sum((p.prm * e.w) // e.wdeg) AS BIGINT) AS s
          |    FROM ed e JOIN p${i - 1} p ON p.token = e.src GROUP BY e.dst) s
          |  ON s.token = v.token)""".stripMargin
        s"""WITH $ToksCte, $StreamCte,
        |unic AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM stream GROUP BY token),
        |voc AS (SELECT token FROM unic ORDER BY cnt DESC, token LIMIT 200),
        |bg AS (SELECT doc_id, token AS w0,
        |        lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        |      FROM stream),
        |bt AS (SELECT w0, w1, CAST(count(*) AS BIGINT) AS cnt FROM bg
        |       WHERE w1 IS NOT NULL AND w0 != w1 GROUP BY w0, w1),
        |ef AS (SELECT w0, w1, cnt FROM bt
        |       JOIN voc va ON bt.w0 = va.token
        |       JOIN voc vb ON bt.w1 = vb.token),
        |ed0 AS (SELECT src, dst, CAST(sum(cnt) AS BIGINT) AS w FROM (
        |    SELECT w0 AS src, w1 AS dst, cnt FROM ef
        |    UNION ALL SELECT w1, w0, cnt FROM ef) u GROUP BY src, dst),
        |wd AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM ed0 GROUP BY src),
        |ed AS (SELECT ed0.src, ed0.dst, ed0.w, wd.wdeg
        |       FROM ed0 JOIN wd ON ed0.src = wd.src),
        |p0 AS (SELECT token, CAST(1000000 AS BIGINT) AS prm FROM voc),
        |${iter(1)},
        |${iter(2)},
        |${iter(3)}
        |SELECT token, prm FROM p3 ORDER BY prm DESC, token LIMIT 30""".stripMargin
      }),

    // Per-document cross-entropy under the corpus bigram LM (add-1
    // smoothing): the in-distribution quality filter.
    "t_crossentropy" -> Q(
      (s, dir) =>
        TextRanking.bigramCrossEntropy(rd(s, dir, "documents"), alpha = 1.0)
          .orderBy("doc_id"),
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |ut AS (SELECT token, CAST(sum("count") AS BIGINT) AS c0 FROM uni GROUP BY token),
        |vsz AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM ut),
        |bg AS (SELECT doc_id, token AS w0,
        |        lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        |      FROM stream),
        |bd AS (SELECT doc_id, w0, w1, CAST(count(*) AS BIGINT) AS "count" FROM bg
        |       WHERE w1 IS NOT NULL GROUP BY doc_id, w0, w1),
        |bt AS (SELECT w0, w1, CAST(sum("count") AS BIGINT) AS cbi FROM bd GROUP BY w0, w1),
        |j AS (SELECT bd.doc_id, bd."count",
        |    CAST(round(ln((CAST(bt.cbi AS DOUBLE) + 1.0) / (CAST(ut.c0 AS DOUBLE) + 1.0 * v)) * 1000000, 0) AS BIGINT) AS lp
        |  FROM bd JOIN bt ON bd.w0 = bt.w0 AND bd.w1 = bt.w1
        |  JOIN ut ON bd.w0 = ut.token
        |  CROSS JOIN vsz)
        |SELECT doc_id, CAST(sum("count") AS BIGINT) AS n_bigrams,
        |  -CAST(round(CAST(sum("count" * lp) AS BIGINT)
        |     / CAST(sum("count") AS BIGINT), 0) AS BIGINT) / 1000000.0 AS cross_entropy
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Deterministic train/val/test split: engine-stable hash buckets, no
    // RNG — membership replayed exactly by the oracle.
    "t_splits" -> Q(
      (s, dir) =>
        Sampling.assignSplits(rd(s, dir, "documents"), "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .groupBy("lang", "split").agg(count(lit(1)).as("n"))
          .orderBy("lang", "split"),
      Some(s"""WITH b AS (SELECT lang,
        |    ${sqlHash60("CAST(doc_id AS VARCHAR) || ':split'")} % 10000 AS bk
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN bk < 8000 THEN 'train' WHEN bk < 9000 THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),

    // Weighted (PPS) systematic sampling: selection probability
    // proportional to token count, all-integer and hash-replayable —
    // per-bucket cumulative lines + hash-derived point offsets, so the
    // oracle recomputes exact membership.
    "t_pps" -> Q(
      (s, dir) => {
        val withW = rd(s, dir, "documents")
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
        Sampling.ppsSample(withW, "doc_id", "n_tokens", step = 2000, nBuckets = 8)
          .orderBy("doc_id")
      },
      Some(s"""WITH $ToksCte,
        |base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |    ${sqlHash60("CAST(doc_id AS VARCHAR) || ':pps'")} % 8 AS bucket
        |  FROM toks),
        |cum AS (SELECT doc_id, n_tokens,
        |    bucket,
        |    COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY bucket
        |      ORDER BY doc_id, n_tokens
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum
        |  FROM base),
        |sel AS (SELECT doc_id, n_tokens,
        |    cum + 2000 - (${sqlHash60("'pps:off:' || CAST(bucket AS VARCHAR)")} % 2000) AS a
        |  FROM cum)
        |SELECT doc_id, n_tokens FROM sel
        |WHERE (a + n_tokens - 1) // 2000 > (a - 1) // 2000
        |ORDER BY doc_id""".stripMargin)),

    // Deterministic uniform k-sample: k smallest salted FULL 60-bit id
    // hashes (no bucketing — a mod-1e6 grid would collide past ~1e6 rows
    // and bias toward low ids via the tie-break). Prefix-stable in k;
    // all-integer; membership replayed exactly.
    "t_uniform_k" -> Q(
      (s, dir) =>
        Sampling.uniformK(
            rd(s, dir, "documents").select("doc_id", "lang"), "doc_id", 40)
          .orderBy("doc_id"),
      Some(s"""WITH h AS (SELECT doc_id, lang,
        |    ${sqlHash60("CAST(doc_id AS VARCHAR) || ':uniform'")} AS hk
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT doc_id, lang FROM
        |  (SELECT * FROM h ORDER BY hk, doc_id LIMIT 40)
        |ORDER BY doc_id""".stripMargin)),

    // Efraimidis–Spirakis weighted k-sample without replacement: key =
    // ln(u)/w on the integer NANO grid (micro degenerates once weights
    // reach ~1e6 — see Sampling.weightedSampleK), top-k keys. The one
    // libm call per row is rounded to nano before comparison, so
    // membership is cross-engine exact; token count is the weight.
    "t_weighted_k" -> Q(
      (s, dir) => {
        val withW = rd(s, dir, "documents")
          .select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("n_tokens"))
        Sampling.weightedSampleK(withW, "doc_id", "n_tokens", k = 40,
          salt = "es").orderBy("doc_id")
      },
      Some(s"""WITH $ToksCte,
        |base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
        |  WHERE doc_id IS NOT NULL AND len(t) > 0),
        |keyed AS (SELECT doc_id, n_tokens,
        |    CAST(round(ln((CAST(${sqlHash60(
               "CAST(doc_id AS VARCHAR) || ':es'")} % 1000000 AS DOUBLE)
        |        + 0.5) / 1e6) * 1e9 / CAST(n_tokens AS DOUBLE), 0) AS BIGINT)
        |      AS key_nano
        |  FROM base)
        |SELECT doc_id, n_tokens FROM
        |  (SELECT * FROM keyed ORDER BY key_nano DESC, doc_id LIMIT 40)
        |ORDER BY doc_id""".stripMargin)),

    // Stratified deterministic sampling (the training-mix knob): keep 50%
    // of en, 25% of de, all other strata full.
    "t_sample_strata" -> Q(
      (s, dir) =>
        Sampling.stratifiedSample(rd(s, dir, "documents"), "doc_id", "lang",
            Map("en" -> 0.5, "de" -> 0.25))
          .select("doc_id", "lang").orderBy("doc_id"),
      Some(s"""WITH b AS (SELECT doc_id, lang,
        |    ${sqlHash60("CAST(doc_id AS VARCHAR) || ':sample'")} % 10000 AS bk
        |  FROM documents)
        |SELECT doc_id, lang FROM b
        |WHERE bk < CAST(round((CASE WHEN lang = 'en' THEN 0.5
        |                            WHEN lang = 'de' THEN 0.25
        |                            ELSE 1.0 END) * 10000, 0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin)),

    // Training-mix solver: rates computed FROM the data to hit a target
    // 60/30/10 composition at max feasible size; the oracle re-derives the
    // same rates with the same arithmetic and replays the hash membership.
    "t_mix" -> Q(
      (s, dir) =>
        Sampling.mixSample(rd(s, dir, "documents"), "doc_id", "lang",
            Map("en" -> 0.6, "de" -> 0.3, "fr" -> 0.1))
          .select("doc_id", "lang").orderBy("doc_id"),
      Some(s"""WITH cnt AS (SELECT lang, count(*) AS n FROM documents
        |    WHERE lang IN ('de', 'en', 'fr') GROUP BY lang),
        |tgt(lang, w) AS (VALUES ('de', 0.3), ('en', 0.6), ('fr', 0.1)),
        |tt AS (SELECT min(n / w) AS t FROM cnt JOIN tgt USING (lang)),
        |rates AS (SELECT lang, least(1.0, w * t / n) AS rate
        |          FROM cnt JOIN tgt USING (lang) CROSS JOIN tt),
        |b AS (SELECT doc_id, d.lang,
        |    ${sqlHash60("CAST(doc_id AS VARCHAR) || ':sample'")} % 10000 AS bk,
        |    r.rate
        |  FROM documents d JOIN rates r ON d.lang = r.lang)
        |SELECT doc_id, lang FROM b
        |WHERE bk < CAST(round(rate * 10000, 0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin)),

    // PII-style scrub audit: category counts + md5 of the redacted text
    // (the equality witness that both engines applied the SAME transform).
    "t_redact" -> Q(
      (s, dir) =>
        TextAnalysis.redactionAudit(rd(s, dir, "documents")).orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  len(regexp_extract_all(text, 'https?://[^\s]+'))::BIGINT AS n_urls,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(text, '[0-9]{7,}'))::BIGINT AS n_longnums,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g')) AS redacted_md5
        |FROM documents ORDER BY doc_id""".stripMargin)),

    "t_fingerprint" -> Q(
      (s, dir) =>
        TextAnalysis.fingerprint(rd(s, dir, "documents")).orderBy("doc_id"),
      Some(s"""WITH $ToksCte
        |SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fingerprint
        |FROM toks ORDER BY doc_id""".stripMargin)),

    // Content-defined chunking: boundaries where the 8-char window hash
    // is 0 mod 64 (expected chunk ~64 chars) — the rsync/LBFS dedup-
    // storage primitive. Row-local; the oracle recomputes every window
    // hash, boundary, and chunk md5.
    "t_cdc_chunks" -> Q(
      (s, dir) =>
        TextOps.cdcChunks(rd(s, dir, "documents"), window = 8, divisor = 64)
          .orderBy("doc_id", "chunk_idx"),
      Some(s"""WITH c AS (SELECT doc_id, text, len(text) AS n
        |    FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, text, n,
        |    list_filter(list_transform(range(8, n + 1),
        |        i -> CASE WHEN ${sqlHash60("substr(text, CAST(i AS INTEGER) - 7, 8)")} % 64 = 0
        |             THEN i END),
        |      x -> x IS NOT NULL) AS bnds
        |  FROM c),
        |se AS (SELECT doc_id, text,
        |    [1] || list_transform(bnds, x -> x + 1) AS starts,
        |    bnds || [n] AS ends
        |  FROM b)
        |SELECT doc_id, j AS chunk_idx, starts[j] AS start,
        |  ends[j] - starts[j] + 1 AS chunk_len,
        |  md5(substr(text, CAST(starts[j] AS INTEGER),
        |    CAST(ends[j] - starts[j] + 1 AS INTEGER))) AS chunk_md5
        |FROM se, unnest(range(1, len(starts) + 1)) AS u(j)
        |WHERE starts[j] <= ends[j]
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // CDC via the O(n) polynomial ROLLING hash (codegen Expression — one
    // multiply-add per code point instead of a full md5 per window). The
    // oracle replays the identical fold over Unicode code points with
    // list_reduce: acc = (acc * 257 + cp) % 1e9+7 over each 8-wide window,
    // boundary when % 64 == 0 — then the shared chunk assembly.
    "t_cdc_rolling" -> Q(
      (s, dir) =>
        TextOps.cdcChunksRolling(rd(s, dir, "documents"), window = 8,
            divisor = 64)
          .orderBy("doc_id", "chunk_idx"),
      Some("""WITH c AS (SELECT doc_id, text, len(text) AS n,
        |    list_transform(regexp_extract_all(text, '(?s).'),
        |      ch -> CAST(unicode(ch) AS BIGINT)) AS cp
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, text, n,
        |    list_filter(list_transform(range(8, n + 1),
        |        i -> CASE WHEN list_reduce(cp[CAST(i AS INTEGER) - 7:CAST(i AS INTEGER)],
        |            (a, x) -> (a * 257 + x) % 1000000007) % 64 = 0
        |          THEN i END),
        |      x -> x IS NOT NULL) AS bnds
        |  FROM c),
        |se AS (SELECT doc_id, text,
        |    [1] || list_transform(bnds, x -> x + 1) AS starts,
        |    bnds || [n] AS ends
        |  FROM b)
        |SELECT doc_id, j AS chunk_idx, starts[j] AS start,
        |  ends[j] - starts[j] + 1 AS chunk_len,
        |  md5(substr(text, CAST(starts[j] AS INTEGER),
        |    CAST(ends[j] - starts[j] + 1 AS INTEGER))) AS chunk_md5
        |FROM se, unnest(range(1, len(starts) + 1)) AS u(j)
        |WHERE starts[j] <= ends[j]
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Deterministic greedy LM decoding (temperature-0 argmax): start at
    // the most frequent token, follow the most frequent successor 8 times
    // (ties lowest token). The oracle replays the chain with a recursive
    // CTE over the same bigram table.
    "t_greedy_chain" -> Q(
      (s, dir) =>
        TextRanking.greedyChain(rd(s, dir, "documents"), steps = 8)
          .orderBy("step"),
      Some(s"""WITH RECURSIVE $ToksCte, $StreamCte,
        |b AS (SELECT doc_id, token AS w0,
        |        lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        |      FROM stream),
        |bg AS (SELECT w0, w1, CAST(count(*) AS BIGINT) AS c FROM b
        |       WHERE w1 IS NOT NULL GROUP BY w0, w1),
        |succ AS (SELECT w0, w1 FROM (
        |    SELECT w0, w1, row_number() OVER (PARTITION BY w0 ORDER BY c DESC, w1) AS rn
        |    FROM bg) WHERE rn = 1),
        |start AS (SELECT token FROM (
        |    SELECT token, count(*) AS c FROM stream GROUP BY token
        |    ORDER BY c DESC, token LIMIT 1)),
        |chain(step, token) AS (
        |  SELECT CAST(0 AS BIGINT) AS step, token FROM start
        |  UNION ALL
        |  SELECT chain.step + 1, s.w1 FROM chain JOIN succ s ON chain.token = s.w0
        |  WHERE chain.step < 8)
        |SELECT step, token FROM chain ORDER BY step""".stripMargin)),

    // Deterministic MULTINOMIAL decode: successor drawn from the full
    // c(w,.)/S(w) distribution by integer inverse-CDF with a
    // hash-deterministic uniform — faithful temperature-1 sampling of the
    // LM with zero libm, replayed exactly by the recursive CTE.
    "t_sampled_chain" -> Q(
      (s, dir) =>
        TextRanking.sampledChain(rd(s, dir, "documents"), steps = 8)
          .orderBy("step"),
      Some(s"""WITH RECURSIVE $ToksCte, $StreamCte,
        |b AS (SELECT doc_id, token AS w0,
        |        lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        |      FROM stream),
        |bg AS (SELECT w0, w1, CAST(count(*) AS BIGINT) AS c FROM b
        |       WHERE w1 IS NOT NULL GROUP BY w0, w1),
        |succ AS (SELECT w0, w1, c,
        |    CAST(sum(c) OVER (PARTITION BY w0 ORDER BY w1
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    CAST(sum(c) OVER (PARTITION BY w0) AS BIGINT) AS sw
        |  FROM bg),
        |start AS (SELECT token FROM (
        |    SELECT token, count(*) AS c FROM stream GROUP BY token
        |    ORDER BY c DESC, token LIMIT 1)),
        |chain(step, token) AS (
        |  SELECT CAST(0 AS BIGINT) AS step, token FROM start
        |  UNION ALL
        |  SELECT chain.step + 1, s.w1 FROM chain JOIN succ s
        |  ON chain.token = s.w0
        |  WHERE chain.step < 8
        |    AND ${sqlHash60(
                 "'decode:' || CAST(chain.step + 1 AS VARCHAR) || ':' || s.w0")}
        |      % s.sw >= s.cum - s.c
        |    AND ${sqlHash60(
                 "'decode:' || CAST(chain.step + 1 AS VARCHAR) || ':' || s.w0")}
        |      % s.sw < s.cum)
        |SELECT step, token FROM chain ORDER BY step""".stripMargin)),

    // Sqrt-temperature mixture sampling (alpha = 0.5): composition
    // proportional to sqrt(stratum count), scarcest stratum kept whole.
    // sqrt is IEEE-correctly-rounded in both engines, so the oracle
    // re-derives the exact same rates and membership.
    "t_temperature" -> Q(
      (s, dir) =>
        Sampling.temperatureSample(rd(s, dir, "documents"), "doc_id", "lang")
          .select("doc_id", "lang").orderBy("doc_id"),
      Some(s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |    FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        |mn AS (SELECT min(n) AS nmin FROM c),
        |r AS (SELECT lang,
        |    CAST(round(sqrt(CAST((SELECT nmin FROM mn) AS DOUBLE) / n)
        |      * 10000, 0) AS BIGINT) AS bound
        |  FROM c)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
        |WHERE ${sqlHash60("CAST(doc_id AS VARCHAR) || ':temp'")} % 10000 < r.bound
        |ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition filters (dup-token / top-bigram / dup-trigram
    // fractions) — degenerate-document detection for a training mix.
    "t_repetition" -> Q(
      (s, dir) =>
        TextAnalysis.repetitionSignals(rd(s, dir, "documents")).orderBy("doc_id"),
      Some(s"""WITH $ToksCte, $StreamCte,
        |ts AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(t) > 0
        |      THEN round(CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t), 6)
        |      ELSE 0.0 END AS dup_token_frac
        |  FROM toks),
        |b2 AS (SELECT doc_id, token AS w0,
        |    lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1 FROM stream),
        |bc AS (SELECT doc_id, w0, w1, count(*) AS c FROM b2
        |  WHERE w1 IS NOT NULL GROUP BY doc_id, w0, w1),
        |bi AS (SELECT doc_id,
        |    round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT), 6) AS top_bigram_frac
        |  FROM bc GROUP BY doc_id),
        |t3 AS (SELECT doc_id, token AS w0,
        |    lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |    lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM stream),
        |tc AS (SELECT doc_id, w0, w1, w2, count(*) AS c FROM t3
        |  WHERE w1 IS NOT NULL AND w2 IS NOT NULL GROUP BY doc_id, w0, w1, w2),
        |tri AS (SELECT doc_id,
        |    round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
        |      / CAST(sum(c) AS BIGINT), 6) AS dup_trigram_frac
        |  FROM tc GROUP BY doc_id)
        |SELECT ts.doc_id, ts.n_tokens, ts.dup_token_frac,
        |  bi.top_bigram_frac, tri.dup_trigram_frac
        |FROM ts LEFT JOIN bi ON ts.doc_id = bi.doc_id
        |        LEFT JOIN tri ON ts.doc_id = tri.doc_id
        |ORDER BY ts.doc_id""".stripMargin)),

    // Deterministic sequence packing: every document located on a
    // fixed-token-budget training-sequence grid (hash-bucketed streams,
    // running offsets per stream) — all-integer, hash-replayable.
    "t_packing" -> Q(
      (s, dir) =>
        TextOps.packSequences(rd(s, dir, "documents"),
            budget = 512, nBuckets = 32).orderBy("doc_id"),
      Some(s"""WITH $ToksCte,
        |base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |    ${sqlHash60("CAST(doc_id AS VARCHAR) || ':pack'")} % 32 AS bucket
        |  FROM toks),
        |cum AS (SELECT doc_id, bucket, n_tokens,
        |    COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS start_tok
        |  FROM base)
        |SELECT doc_id, bucket, n_tokens, start_tok // 512 AS seq_id,
        |  start_tok % 512 AS seq_off
        |FROM cum ORDER BY doc_id""".stripMargin)),

    // Length-bucketed training batches: 16-token length bands, ordered by
    // (n_tok, doc_id) and cut into batches of 8 — padding-minimizing batch
    // construction. Within-band positions come from the two-phase global
    // rank minus the band's first rank (no band-sized window; see
    // TextOps.lengthBatches). The oracle replays the same total order with
    // a per-band row_number.
    "t_length_batches" -> Q(
      (s, dir) =>
        TextOps.lengthBatches(rd(s, dir, "documents"),
            batchSize = 8, bucketTokens = 16)
          .orderBy("bucket", "batch_ix", "pos"),
      Some(s"""WITH $ToksCte,
        |n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
        |    CAST(len(t) // 16 AS BIGINT) AS bucket FROM toks),
        |r AS (SELECT doc_id, n_tok, bucket,
        |    row_number() OVER (PARTITION BY bucket ORDER BY n_tok, doc_id) - 1 AS rn
        |  FROM n)
        |SELECT doc_id, n_tok, bucket, CAST(rn // 8 AS BIGINT) AS batch_ix,
        |  CAST(rn % 8 AS BIGINT) AS pos,
        |  max(n_tok) OVER (PARTITION BY bucket, rn // 8) AS padded_to
        |FROM r ORDER BY bucket, batch_ix, pos""".stripMargin)),

    // Count-min sketch heavy hitters: a fixed-size (3 x 16) sketch of the
    // corpus token counts, probed for the exact top-20 tokens. Width 16 is
    // deliberately small so collisions occur and the CMS over-count
    // semantics (estimate >= exact, min over depth rows) are actually
    // exercised; the oracle replays every cell from the same md5 hashes.
    // INCREMENTAL CMS (round 10, mergeable-statistics family): count-min
    // cells are additive sums, so per-shard sketches of the same
    // (depth, width) geometry merge into exactly the monolithic sketch.
    // Spark builds one sketch per doc-parity shard and merges; the
    // oracle replays the MONOLITHIC sketch over the full stream. Equal
    // estimates prove per-shard frequency sketches compose losslessly —
    // the sketch analog of t_dsir_incremental's count merge.
    "t_cms_merge" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        def shard(p: Column) = {
          val counts = docs.filter(p)
            .select(explode(tokens(col("text"))).as("token"))
            .groupBy("token").agg(count(lit(1)).as("exact_count"))
          Sketches.cmsBuild(counts, "token", "exact_count",
            depth = 3, width = 16)
        }
        val merged = Sketches.merge(Seq(
          shard(col("doc_id") % 2 === 0), shard(col("doc_id") % 2 === 1)))
        val counts = graft.core.CacheScope.persist(docs
          .select(explode(tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("exact_count")))
        val top = counts.orderBy(desc("exact_count"), asc("token")).limit(20)
        Sketches.cmsEstimate(merged, top, "token", depth = 3, width = 16)
          .orderBy("token")
      },
      Some(s"""WITH $ToksCte, $StreamCte,
        |tc AS (SELECT token, count(*) AS exact_count FROM stream GROUP BY token),
        |dd(d) AS (VALUES (0), (1), (2)),
        |cms AS (SELECT dd.d AS d,
        |    ${sqlHash60("CAST(dd.d AS VARCHAR) || chr(1) || token")} % 16 AS bucket,
        |    CAST(sum(exact_count) AS BIGINT) AS total
        |  FROM tc, dd GROUP BY 1, 2),
        |top AS (SELECT token, exact_count FROM tc
        |        ORDER BY exact_count DESC, token LIMIT 20),
        |probes AS (SELECT t.token, t.exact_count, dd.d AS d,
        |    ${sqlHash60("CAST(dd.d AS VARCHAR) || chr(1) || t.token")} % 16 AS bucket
        |  FROM top t, dd)
        |SELECT p.token, p.exact_count,
        |  CAST(min(coalesce(c.total, 0)) AS BIGINT) AS est_count
        |FROM probes p LEFT JOIN cms c ON c.d = p.d AND c.bucket = p.bucket
        |GROUP BY p.token, p.exact_count
        |ORDER BY p.token""".stripMargin)),

    "t_cms_topk" -> Q(
      (s, dir) => {
        // persisted: the counts aggregate feeds BOTH the sketch and the
        // top-k probe side — without the persist the corpus is tokenized
        // and aggregated twice (no ReusedExchange across the branches)
        val counts = graft.core.CacheScope.persist(
          rd(s, dir, "documents")
            .select(explode(tokens(col("text"))).as("token"))
            .groupBy("token").agg(count(lit(1)).as("exact_count")))
        val cms = Sketches.cmsBuild(counts, "token", "exact_count",
          depth = 3, width = 16)
        val top = counts.orderBy(desc("exact_count"), asc("token")).limit(20)
        Sketches.cmsEstimate(cms, top, "token", depth = 3, width = 16)
          .orderBy("token")
      },
      Some(s"""WITH $ToksCte, $StreamCte,
        |tc AS (SELECT token, count(*) AS exact_count FROM stream GROUP BY token),
        |dd(d) AS (VALUES (0), (1), (2)),
        |cms AS (SELECT dd.d AS d,
        |    ${sqlHash60("CAST(dd.d AS VARCHAR) || chr(1) || token")} % 16 AS bucket,
        |    CAST(sum(exact_count) AS BIGINT) AS total
        |  FROM tc, dd GROUP BY 1, 2),
        |top AS (SELECT token, exact_count FROM tc
        |        ORDER BY exact_count DESC, token LIMIT 20),
        |probes AS (SELECT t.token, t.exact_count, dd.d AS d,
        |    ${sqlHash60("CAST(dd.d AS VARCHAR) || chr(1) || t.token")} % 16 AS bucket
        |  FROM top t, dd)
        |SELECT p.token, p.exact_count,
        |  CAST(min(coalesce(c.total, 0)) AS BIGINT) AS est_count
        |FROM probes p LEFT JOIN cms c ON c.d = p.d AND c.bucket = p.bucket
        |GROUP BY p.token, p.exact_count
        |ORDER BY p.token""".stripMargin)),

    // Misra-Gries guaranteed heavy hitters: tokens holding >= 1/200 of all
    // token mass. Pass 1 is a bounded-memory MG summary (<= 200 counters
    // per task, <= 200 shuffle rows per partition — the shape that survives
    // a multi-billion-key universe); pass 2 exact-counts only the candidate
    // superset, so the output equals the brute-force GROUP BY/HAVING the
    // oracle runs, despite the sketch-sized state.
    "t_heavy_hitters" -> Q(
      (s, dir) =>
        HeavyHitters.heavyHitters(
            TextOps.unigrams(rd(s, dir, "documents")), "token", "count",
            num = 1, den = 200)
          .orderBy(desc("cnt"), asc("key")),
      Some(s"""WITH $ToksCte, $StreamCte
        |SELECT token AS key, CAST(count(*) AS BIGINT) AS cnt
        |FROM stream GROUP BY token
        |HAVING count(*) * 200 >= (SELECT count(*) FROM stream) * 1
        |ORDER BY cnt DESC, key""".stripMargin)),

    // End-to-end curation pipeline: exact-dedup survivors (first-wins) ->
    // minimum token count -> deterministic split assignment -> per-split
    // accounting. Every stage is an oracle-checked operator on its own;
    // this row checks their COMPOSITION.
    "t_filter_pipeline" -> Q(
      (s, dir) => {
        val kept = Dedup.dropExactDuplicates(rd(s, dir, "documents"))
          .withColumn("ntok", size(tokens(col("text"))))
          .filter(col("ntok") >= 50)
        Sampling.assignSplits(kept, "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n"), sum(col("ntok").cast("long")).as("n_tokens"))
          .orderBy("split", "lang")
      },
      Some(s"""WITH $ToksCte,
        |surv AS (SELECT doc_id, lang FROM (
        |    SELECT doc_id, lang,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn = 1),
        |kept AS (SELECT s.doc_id, s.lang, CAST(len(t.t) AS BIGINT) AS ntok
        |  FROM surv s JOIN toks t ON s.doc_id = t.doc_id
        |  WHERE len(t.t) >= 50),
        |b AS (SELECT doc_id, lang, ntok,
        |    ${sqlHash60("CAST(doc_id AS VARCHAR) || ':split'")} % 10000 AS bk
        |  FROM kept)
        |SELECT CASE WHEN bk < 8000 THEN 'train' WHEN bk < 9000 THEN 'val'
        |       ELSE 'test' END AS split,
        |  lang, count(*) AS n, CAST(sum(ntok) AS BIGINT) AS n_tokens
        |FROM b GROUP BY 1, 2 ORDER BY split, lang""".stripMargin)),

    // The END-TO-END curation pipeline as ONE composed plan — the artifact
    // a 100 TB pretraining run actually ships: clean -> DSIR importance
    // resample (target lang='en', T=2) -> decontaminate vs the eval shard
    // (doc_id % 31 = 0) -> exact dedup (first-wins) -> trigram-KN
    // perplexity buckets over the survivors, keep head+middle -> BPE
    // tokenizer TRAINED ON THE SURVIVORS -> encode the kept docs ->
    // packed 128-piece training sequences. Every stage is oracle-checked
    // alone (t_clean, t_dsir_resample, t_decontam, t_dedup_exact,
    // t_ccnet_buckets, t_input_ids, t_packed_ids); this row checks their
    // COMPOSITION stays exact — the oracle replays the entire chain over
    // the same cleaned corpus. The only driver-side actions are the ones
    // the leaf rows already have (BPE merge selection per round, KN3's
    // dense-rank phase); everything else is one lazy plan.
    "t_curation_pipeline" -> Q(
      (s, dir) => {
        val st = curationStages(s, dir)
        val merges = Bpe.train(st.surv, nMerges = 6)
        Bpe.packedInputIds(st.finalDocs, merges, budget = 128, nBuckets = 8)
          .orderBy("bucket", "seq_id")
      },
      CurationPipelineOracle),

    // The pipeline's SHIPPING MANIFEST: per-bucket stats of the packed
    // training sequences the composed chain emits (sequence counts,
    // pieces, doc slots, waste, micro fill) — the audit record that rides
    // with a 100 TB run's output shards. Composes the SAME curationStages
    // + packing the pipeline row runs; the oracle reuses the shared
    // packing CTE prefix with a stats tail.
    "t_curation_manifest" -> Q(
      (s, dir) => {
        val st = curationStages(s, dir)
        val merges = Bpe.train(st.surv, nMerges = 6)
        Bpe.packedInputIds(st.finalDocs, merges, budget = 128, nBuckets = 8)
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_seqs"), sum("n_pieces").as("n_pieces"),
            sum("n_docs").as("n_doc_slots"))
          .withColumn("waste", col("n_seqs") * lit(128L) - col("n_pieces"))
          .withColumn("fill_micro",
            round(col("n_pieces") * lit(1000000.0) /
              (col("n_seqs") * lit(128L)), 0).cast("long"))
          .orderBy("bucket")
      },
      Some(s"""WITH $sqlCurationPackCtes,
        |packed AS (SELECT bucket, pg // 128 AS seq_id,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_pieces
        |  FROM pp GROUP BY bucket, pg // 128)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_seqs,
        |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
        |  CAST(sum(n_docs) AS BIGINT) AS n_doc_slots,
        |  CAST(count(*) * 128 - sum(n_pieces) AS BIGINT) AS waste,
        |  CAST(round(sum(n_pieces) * 1000000.0 / (count(*) * 128), 0)
        |    AS BIGINT) AS fill_micro
        |FROM packed GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Attrition FUNNEL over the same chain — the observability artifact a
    // 100 TB curation run reads first: one row per stage with surviving
    // document and token counts (tokens from the cleaned corpus, so the
    // ratios compare like for like). Stage list: corpus -> dsir_resample
    // (importance kept) -> train_selected (eval shard carved out) ->
    // decontaminated -> deduped -> perplexity_filtered. Composes the
    // SAME curationStages frames the pipeline row runs, so the funnel
    // numbers are exactly the pipeline's own attrition, not a re-derivation
    // that could drift.
    // SMJ-adjudicated: per-stage survivor joins are corpus x corpus on
    // doc_id; unhinted on purpose.
    "t_curation_funnel" -> Q(
      (s, dir) => {
        val st = curationStages(s, dir)
        // six concurrently planned stage forks read the token counts:
        // kept eagerly before any fork plans, every fork plans against
        // the same measured leaf (over a lazy persist, a fork's join
        // strategy depends on whether a sibling has filled it yet)
        val tokCounts = graft.core.CacheScope.materialize(
          st.cleaned.select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("ntok")))
        def stage(i: Int, name: String, ids: DataFrame): DataFrame =
          tokCounts.join(ids.select("doc_id"), Seq("doc_id"), "left_semi")
            .agg(count(lit(1)).as("n_docs"),
              coalesce(sum("ntok"), lit(0L)).as("n_tokens"))
            .select(lit(i.toLong).as("stage"), lit(name).as("stage_name"),
              col("n_docs"), col("n_tokens"))
        // concurrent stage jobs (see persistedStages); the union below
        // reads the persisted results
        persistedStages(Seq(
          () => stage(0, "corpus", tokCounts),
          () => stage(1, "dsir_resample", st.keptIds),
          () => stage(2, "train_selected", st.train),
          () => stage(3, "decontaminated", st.decon),
          () => stage(4, "deduped", st.surv),
          () => stage(5, "perplexity_filtered", st.finalDocs)))
          .reduce(_.unionAll(_))
          .orderBy("stage")
      },
      Some(s"""WITH $sqlCurationCtes,
        |tc AS MATERIALIZED (SELECT doc_id, CAST(len(t) AS BIGINT) AS ntok
        |  FROM toks0)
        |SELECT 0 AS stage, 'corpus' AS stage_name,
        |  count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens FROM tc
        |UNION ALL
        |SELECT 1, 'dsir_resample', count(*), CAST(sum(ntok) AS BIGINT)
        |FROM tc JOIN keep USING (doc_id)
        |UNION ALL
        |SELECT 2, 'train_selected', count(*), CAST(sum(ntok) AS BIGINT)
        |FROM tc JOIN train USING (doc_id)
        |UNION ALL
        |SELECT 3, 'decontaminated', count(*), CAST(sum(ntok) AS BIGINT)
        |FROM tc JOIN decon USING (doc_id)
        |UNION ALL
        |SELECT 4, 'deduped', count(*), CAST(sum(ntok) AS BIGINT)
        |FROM tc JOIN surv USING (doc_id)
        |UNION ALL
        |SELECT 5, 'perplexity_filtered', count(*), CAST(sum(ntok) AS BIGINT)
        |FROM tc JOIN final USING (doc_id)
        |ORDER BY stage""".stripMargin)),

    // Per-SOURCE attrition through the same chain (round 10): which
    // sources survive each curation stage — the mixing diagnostic that
    // shows WHERE each source's mass goes before weights are chosen (a
    // source the perplexity cut hates is a different decision than one
    // full of eval contamination). Same stage frames, grouped by the
    // catalog's source column; a source with zero survivors at a stage
    // simply has no row there (inner-join semantics in both engines).
    // SMJ-adjudicated: same corpus x corpus survivor joins as
    // t_curation_funnel; unhinted on purpose.
    "t_curation_funnel_by_source" -> Q(
      (s, dir) => {
        val st = curationStages(s, dir)
        // kept eagerly, as in t_curation_funnel above
        val tokCounts = graft.core.CacheScope.materialize(
          st.cleaned.select(col("doc_id"),
              size(tokens(col("text"))).cast("long").as("ntok"))
            .join(rd(s, dir, "documents").select("doc_id", "source"),
              Seq("doc_id")))
        def stage(i: Int, name: String, ids: DataFrame): DataFrame =
          tokCounts.join(ids.select("doc_id"), Seq("doc_id"), "left_semi")
            .groupBy("source")
            .agg(count(lit(1)).as("n_docs"),
              coalesce(sum("ntok"), lit(0L)).as("n_tokens"))
            .select(lit(i.toLong).as("stage"), lit(name).as("stage_name"),
              col("source"), col("n_docs"), col("n_tokens"))
        // concurrent stage jobs, as in t_curation_funnel above
        persistedStages(Seq(
          () => stage(0, "corpus", tokCounts),
          () => stage(1, "dsir_resample", st.keptIds),
          () => stage(2, "train_selected", st.train),
          () => stage(3, "decontaminated", st.decon),
          () => stage(4, "deduped", st.surv),
          () => stage(5, "perplexity_filtered", st.finalDocs)))
          .reduce(_.unionAll(_))
          .orderBy("stage", "source")
      },
      Some(s"""WITH $sqlCurationCtes,
        |tc AS MATERIALIZED (SELECT toks0.doc_id,
        |    CAST(len(t) AS BIGINT) AS ntok, documents.source AS source
        |  FROM toks0 JOIN documents USING (doc_id))
        |SELECT 0 AS stage, 'corpus' AS stage_name, source,
        |  count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
        |FROM tc GROUP BY source
        |UNION ALL
        |SELECT 1, 'dsir_resample', source, count(*), CAST(sum(ntok) AS BIGINT)
        |FROM tc JOIN keep USING (doc_id) GROUP BY source
        |UNION ALL
        |SELECT 2, 'train_selected', source, count(*), CAST(sum(ntok) AS BIGINT)
        |FROM tc JOIN train USING (doc_id) GROUP BY source
        |UNION ALL
        |SELECT 3, 'decontaminated', source, count(*), CAST(sum(ntok) AS BIGINT)
        |FROM tc JOIN decon USING (doc_id) GROUP BY source
        |UNION ALL
        |SELECT 4, 'deduped', source, count(*), CAST(sum(ntok) AS BIGINT)
        |FROM tc JOIN surv USING (doc_id) GROUP BY source
        |UNION ALL
        |SELECT 5, 'perplexity_filtered', source, count(*), CAST(sum(ntok) AS BIGINT)
        |FROM tc JOIN final USING (doc_id) GROUP BY source
        |ORDER BY stage, source""".stripMargin)),

    // The FROZEN-MODEL curation apply (CurationStream) as an oracle row —
    // the deployment shape proven against an independent engine, not just
    // Spark-vs-Spark: every artifact (DSIR weights + score ceiling, eval
    // shingles, seen hashes, KN3 model, perplexity cutoff) is trained on
    // the even-id half of the corpus, then the odd-id half "arrives" and
    // is curated batch-style. The oracle replays the ENTIRE frozen chain:
    // the reference-scoped DSIR model and its max score, the resample
    // decision under the frozen ceiling, exact shingle decontamination
    // (the Bloom is a no-false-negative prefilter + exact confirm, so the
    // result equals the exact join), the seen-hash dedup, the KN3 model
    // trained on the reference stream, arriving docs scored under it
    // (out-of-support trigrams skipped), and the frozen head+middle
    // cutoff (window-ranked, boundary-inclusive).
    // SMJ-adjudicated: the exact-confirm joins run batch x HISTORY (seen
    // hashes / eval shingles grow without bound), the canonical
    // large-large bucketed join; unhinted on purpose.
    "t_frozen_curation" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val ref = docs.filter(col("doc_id") % 2 === 0)
        val frozen = graft.streaming.CurationStream.freeze(
          ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en")
        val out = graft.streaming.CurationStream.curateBatch(
          docs.filter(col("doc_id") % 2 === 1), frozen).orderBy("doc_id")
        // adopt the frozen leaves into the query's CacheScope: the
        // session owner releases them right after materialization, so the
        // models stay cached while the row computes without leaking
        // across a Verify run
        frozen.tables.foreach(graft.core.CacheScope.track)
        out
      },
      Some(s"""WITH d AS MATERIALIZED (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(regexp_replace(text,
        |      '<[^>]*>', ' ', 'g'),
        |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
        |      '\\s+', ' ', 'g')) AS text,
        |    lang
        |  FROM documents),
        |toksd AS MATERIALIZED (SELECT doc_id,
        |    regexp_extract_all(text, '[\\p{L}]+') AS t FROM d),
        |toks AS (SELECT doc_id, t FROM toksd WHERE doc_id % 2 = 0),
        |$StreamCte,
        |$sqlKn3Ctes,
        |streama AS MATERIALIZED (SELECT doc_id, unnest(t) AS token,
        |    unnest(range(1, len(t)+1)) AS pos FROM toksd
        |  WHERE doc_id % 2 = 1),
        |bgr AS (SELECT doc_id,
        |    token || ' ' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS f
        |  FROM stream),
        |featsr AS (SELECT doc_id, token AS f FROM stream
        |  UNION ALL SELECT doc_id, f FROM bgr WHERE f IS NOT NULL),
        |dbr AS MATERIALIZED (SELECT doc_id,
        |    ${sqlHash60("'dsir:' || f")} % 4096 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM featsr GROUP BY 1, 2),
        |tsetr AS (SELECT doc_id FROM d WHERE doc_id % 2 = 0 AND lang = 'en'),
        |ctr AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c_t
        |  FROM dbr JOIN tsetr USING (doc_id) GROUP BY bucket),
        |crr AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c_r
        |  FROM dbr GROUP BY bucket),
        |ntr AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_t
        |  FROM dbr JOIN tsetr USING (doc_id)),
        |nrr AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_r FROM dbr),
        |wr AS MATERIALIZED (SELECT crr.bucket,
        |    CAST(round(ln(((coalesce(ctr.c_t, 0) + 1.0) * (nrr.n_r + 4096))
        |      / ((crr.c_r + 1.0) * (ntr.n_t + 4096))) * 1e6, 0) AS BIGINT)
        |      AS w_micro
        |  FROM crr LEFT JOIN ctr USING (bucket) CROSS JOIN ntr CROSS JOIN nrr),
        |scr AS (SELECT dbr.doc_id,
        |    CAST(sum(dbr.cnt * wr.w_micro) AS BIGINT) AS score_micro
        |  FROM dbr JOIN wr USING (bucket) GROUP BY dbr.doc_id),
        |mxr AS (SELECT max(score_micro) AS m FROM scr),
        |bga AS (SELECT doc_id,
        |    token || ' ' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS f
        |  FROM streama),
        |featsa AS (SELECT doc_id, token AS f FROM streama
        |  UNION ALL SELECT doc_id, f FROM bga WHERE f IS NOT NULL),
        |dba AS (SELECT doc_id,
        |    ${sqlHash60("'dsir:' || f")} % 4096 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM featsa GROUP BY 1, 2),
        |sca AS MATERIALIZED (SELECT dba.doc_id,
        |    CAST(sum(dba.cnt * wr.w_micro) AS BIGINT) AS score_micro
        |  FROM dba JOIN wr USING (bucket) GROUP BY dba.doc_id),
        |keepa AS MATERIALIZED (SELECT doc_id, score_micro FROM (
        |    SELECT doc_id, score_micro,
        |      CAST(round(exp(CAST(score_micro - mxr.m AS DOUBLE) / 2000000.0)
        |        * 1e6, 0) AS BIGINT) AS p_micro,
        |      ${sqlHash60("CAST(doc_id AS VARCHAR) || ':resample:dsir'")}
        |        % 1000000 AS u_micro
        |    FROM sca CROSS JOIN mxr)
        |  WHERE u_micro < p_micro),
        |sl AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        |  FROM toksd WHERE len(t) >= 8),
        |shg AS MATERIALIZED (SELECT DISTINCT doc_id,
        |    ${sqlHash60("array_to_string(t[i:i+7], ' ')")} AS sh
        |  FROM sl),
        |ev AS (SELECT DISTINCT sh FROM shg
        |  WHERE doc_id % 2 = 0 AND doc_id % 31 = 0),
        |contam AS (SELECT DISTINCT s.doc_id
        |  FROM shg s JOIN ev USING (sh) JOIN keepa k ON k.doc_id = s.doc_id),
        |seen AS (SELECT DISTINCT md5(text) AS h FROM d WHERE doc_id % 2 = 0),
        |fresh AS MATERIALIZED (SELECT k.doc_id, k.score_micro FROM keepa k
        |  JOIN d ON d.doc_id = k.doc_id
        |  WHERE k.doc_id NOT IN (SELECT doc_id FROM contam)
        |    AND md5(d.text) NOT IN (SELECT h FROM seen)),
        |tga AS (SELECT doc_id, token AS w0,
        |    lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |    lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM streama),
        |tda AS (SELECT doc_id, w0, w1, w2, CAST(count(*) AS BIGINT) AS "count"
        |  FROM tga WHERE w2 IS NOT NULL GROUP BY doc_id, w0, w1, w2),
        |ja AS (SELECT tda.doc_id, tda."count",
        |    CAST(round(ln(
        |      CAST(greatest(4 * tt.ctri - 3, 0) * (4 * mid.nmid * bb.b)
        |        + 3 * s01.n1r01 * (greatest(4 * cont.ncont - 3, 0) * bb.b
        |          + 3 * mid.n1rc * nlt.nl) AS DOUBLE)
        |      / CAST(16 * s01.s01 * mid.nmid * bb.b AS DOUBLE))
        |      * 1000000, 0) AS BIGINT) AS lp
        |  FROM tda JOIN tt USING (w0, w1, w2) JOIN s01 USING (w0, w1)
        |  JOIN mid USING (w1) JOIN cont USING (w1, w2) JOIN nlt USING (w2)
        |  CROSS JOIN bb),
        |cea AS (SELECT doc_id,
        |    -CAST(round(CAST(sum("count" * lp) AS DOUBLE)
        |      / sum("count"), 0) AS BIGINT) AS ce_micro
        |  FROM ja GROUP BY doc_id),
        |cer AS (SELECT doc_id,
        |    -CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT) AS ce_micro
        |  FROM a),
        |cerk AS (SELECT ce_micro,
        |    row_number() OVER (ORDER BY ce_micro, doc_id) AS rk,
        |    count(*) OVER () AS n FROM cer),
        |cut AS (SELECT coalesce(
        |    max(CASE WHEN rk <= (2 * n) // 3 THEN ce_micro END),
        |    -9223372036854775808) AS c FROM cerk)
        |SELECT f.doc_id, d.text, f.score_micro, cea.ce_micro
        |FROM fresh f JOIN d ON d.doc_id = f.doc_id
        |JOIN cea ON cea.doc_id = f.doc_id
        |CROSS JOIN cut WHERE cea.ce_micro <= cut.c
        |ORDER BY f.doc_id""".stripMargin)),

    // Day-2 history advance (round 11): extendSeen folds a batch of
    // accepted documents into the frozen seen-set — content-hash union
    // plus a same-geometry Bloom merge (sketch algebra, no rebuild) — so
    // tomorrow's batches dedup against everything accepted so far. The
    // row runs the REAL operator chain (freeze -> extendSeen -> the
    // curateBatch dedup stage: Bloom prune + exact confirm) over the
    // day-2 arrivals (all odd ids; the %4==1 half replays day-1's
    // accepted content, the %4==3 half is fresh) and emits a
    // per-arriving-doc verdict. The oracle replays the hash-set union
    // exactly: the Bloom is a no-false-negative prefilter, so the engine
    // result equals the exact membership test.
    // SMJ-adjudicated: day-2 confirm joins against the advanced history —
    // same batch x history shape as t_frozen_curation; unhinted on purpose.
    "t_curation_advance" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val ref = docs.filter(col("doc_id") % 2 === 0)
        val frozen = graft.streaming.CurationStream.freeze(
          ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en")
        val cleaned = docs.select(col("doc_id"),
          TextAnalysis.cleanText(col("text")).as("text"))
        val day1 = cleaned.filter(col("doc_id") % 4 === 1)
        val advanced =
          graft.streaming.CurationStream.extendSeen(frozen, day1)
        (frozen.tables ++ Seq(advanced.seenHashes, advanced.seenBloom))
          .foreach(graft.core.CacheScope.track)
        val day2 = cleaned.filter(col("doc_id") % 2 === 1)
        val hashed = day2.withColumn("__h", md5(col("text")))
        val dup = Sketches.bloomPruneSharded(advanced.seenBloom,
            hashed.select(col("doc_id"), col("__h")), "__h",
            advanced.seenShards, advanced.seenBloomBits,
            advanced.bloomHashes)
          .join(advanced.seenHashes, col("__h") === col("h"))
          .select("doc_id").distinct()
          .withColumn("is_dup", lit(true))
        day2.select("doc_id").join(dup, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("is_dup"), lit(false)).as("is_dup"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS MATERIALIZED (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(regexp_replace(text,
        |      '<[^>]*>', ' ', 'g'),
        |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
        |      '\\s+', ' ', 'g')) AS text
        |  FROM documents),
        |seen AS (SELECT md5(text) AS h FROM d
        |    WHERE doc_id % 2 = 0 AND text IS NOT NULL
        |  UNION SELECT md5(text) FROM d
        |    WHERE doc_id % 4 = 1 AND text IS NOT NULL)
        |SELECT doc_id,
        |  coalesce(md5(text) IN (SELECT h FROM seen), FALSE) AS is_dup
        |FROM d WHERE doc_id % 2 = 1 ORDER BY doc_id""".stripMargin)),

    // Token-budget mixture sampling (round 11) — the per-source
    // re-weighting step before packing: uniform target proportions over
    // the observed sources, rate_s = min(1, budget/|S|/avail_s) at exact
    // integer micro, per-doc verdict from the id-keyed hash lottery (the
    // DSIR resample convention). The oracle replays the token counts,
    // the per-source availability, the identical double chain for the
    // rate, and the md5 lottery — both keep AND drop verdicts are
    // value-checked per document.
    "t_mixture_sample" -> Q(
      (s, dir) =>
        TextAnalysis.mixtureSample(rd(s, dir, "documents"),
            budgetTokens = 20000)
          .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, source,
        |    (CASE WHEN text IS NULL THEN 0
        |      ELSE len(regexp_extract_all(text, '[\\p{L}]+')) END)::BIGINT
        |      AS n_tokens
        |  FROM documents),
        |av AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS avail
        |  FROM t GROUP BY source),
        |sw AS (SELECT CAST(count(*) AS DOUBLE) AS s FROM av),
        |r AS (SELECT source,
        |    CASE WHEN avail = 0 THEN 0
        |      ELSE least(1000000, CAST(round(
        |        CAST(20000 AS DOUBLE) * 1.0 / (SELECT s FROM sw)
        |          / CAST(avail AS DOUBLE) * 1000000.0, 0) AS BIGINT))
        |    END AS rate_micro
        |  FROM av)
        |SELECT t.doc_id, t.source, t.n_tokens, r.rate_micro,
        |  (${sqlHash60("CAST(t.doc_id AS VARCHAR) || ':mixture:sample'")}
        |    % 1000000) < r.rate_micro AS kept
        |FROM t JOIN r USING (source) ORDER BY t.doc_id""".stripMargin)),


    // Bloom-filter incremental dedup: a 4096-bit / 5-hash seen-set built
    // over the first shard's content hashes (doc_id < 250 = "yesterday's
    // corpus"), probed by every document — the constant-size membership
    // structure that replaces a full corpus-vs-corpus join at 100 TB.
    // No false negatives by construction; the oracle replays every bit.
    "t_bloom" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val seen = docs.filter(col("doc_id") < 250).select(md5(col("text")).as("h"))
        val bloom = Sketches.bloomBuild(seen, "h", numBits = 4096, numHashes = 5)
        val probes = docs.select(col("doc_id"), md5(col("text")).as("h"))
        Sketches.bloomMightContain(bloom, probes, "h", numBits = 4096, numHashes = 5)
          .orderBy("doc_id")
      },
      Some(s"""WITH hh(i) AS (VALUES (0), (1), (2), (3), (4)),
        |seen AS (SELECT md5(text) AS h FROM documents WHERE doc_id < 250),
        |pos AS (SELECT ${sqlHash60("'b' || hh.i || chr(1) || h")} % 4096 AS p
        |  FROM seen, hh),
        |bloom AS (SELECT p // 32 AS word,
        |    bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
        |  FROM pos GROUP BY 1),
        |probes AS (SELECT doc_id, md5(text) AS h FROM documents),
        |pp AS (SELECT doc_id, h,
        |    ${sqlHash60("'b' || hh.i || chr(1) || h")} % 4096 AS p
        |  FROM probes, hh)
        |SELECT pp.doc_id, pp.h,
        |  (CAST(min(CASE WHEN b.bits IS NOT NULL
        |      AND (b.bits & (1::BIGINT << CAST(pp.p % 32 AS INT))) <> 0
        |      THEN 1 ELSE 0 END) AS BIGINT) = 1) AS might_contain
        |FROM pp LEFT JOIN bloom b ON b.word = pp.p // 32
        |GROUP BY pp.doc_id, pp.h ORDER BY pp.doc_id""".stripMargin)),

    // INCREMENTAL Bloom maintenance (round 10, third member of the
    // shard-statistics family with t_dsir_incremental /
    // t_kn3_incremental): a Bloom filter's statistic is its bit words,
    // and bit_or is associative — per-shard filters of the SAME geometry
    // merge into exactly the filter of the unioned key set. The Spark
    // side builds the seen-set filter from two disjoint halves via
    // bloomMerge and probes the full corpus; the oracle replays the
    // MONOLITHIC filter. Byte-equal membership proves per-shard /
    // per-day seen-sets compose losslessly — how a streaming dedup
    // frontier is actually maintained at 100 TB.
    "t_bloom_merge" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        def half(p: Column) = Sketches.bloomBuild(
          docs.filter(col("doc_id") < 250 && p)
            .select(md5(col("text")).as("h")),
          "h", numBits = 4096, numHashes = 5)
        val merged = Sketches.bloomMerge(Seq(
          half(col("doc_id") % 2 === 0), half(col("doc_id") % 2 === 1)))
        val probes = docs.select(col("doc_id"), md5(col("text")).as("h"))
        Sketches.bloomMightContain(merged, probes, "h",
            numBits = 4096, numHashes = 5)
          .orderBy("doc_id")
      },
      Some(s"""WITH hh(i) AS (VALUES (0), (1), (2), (3), (4)),
        |seen AS (SELECT md5(text) AS h FROM documents WHERE doc_id < 250),
        |pos AS (SELECT ${sqlHash60("'b' || hh.i || chr(1) || h")} % 4096 AS p
        |  FROM seen, hh),
        |bloom AS (SELECT p // 32 AS word,
        |    bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
        |  FROM pos GROUP BY 1),
        |probes AS (SELECT doc_id, md5(text) AS h FROM documents),
        |pp AS (SELECT doc_id, h,
        |    ${sqlHash60("'b' || hh.i || chr(1) || h")} % 4096 AS p
        |  FROM probes, hh)
        |SELECT pp.doc_id, pp.h,
        |  (CAST(min(CASE WHEN b.bits IS NOT NULL
        |      AND (b.bits & (1::BIGINT << CAST(pp.p % 32 AS INT))) <> 0
        |      THEN 1 ELSE 0 END) AS BIGINT) = 1) AS might_contain
        |FROM pp LEFT JOIN bloom b ON b.word = pp.p // 32
        |GROUP BY pp.doc_id, pp.h ORDER BY pp.doc_id""".stripMargin)),

    // SHARDED Bloom prune (round 12, VERDICT r11 #3): past the single-
    // filter broadcast budget the filter PARTITIONS by key hash into
    // independent same-geometry shards (a 10^10-key history is ~750
    // 16 MB shards, not one impossible 12.5 GB broadcast). The Spark side
    // builds a 4-shard filter over the seen set and prunes every document
    // row-locally; the oracle replays every shard's every bit in SQL —
    // shard choice, per-shard bit positions, and the all-bits-set test.
    // Survivors = true members + ~FP-rate false positives, identically in
    // both engines (the exact-confirm composition downstream is what
    // makes prune-then-join result-identical to the plain join).
    "t_bloom_sharded" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val seen = docs.filter(col("doc_id") < 250)
          .select(md5(col("text")).as("h"))
        val bloom = Sketches.bloomBuildSharded(seen, "h", nShards = 4,
          shardBits = 2048, numHashes = 5)
        val probes = docs.select(col("doc_id"), md5(col("text")).as("h"))
        Sketches.bloomPruneSharded(bloom, probes, "h", nShards = 4,
            shardBits = 2048, numHashes = 5)
          .orderBy("doc_id")
      },
      Some(s"""WITH hh(i) AS (VALUES (0), (1), (2), (3), (4)),
        |seen AS (SELECT md5(text) AS h FROM documents WHERE doc_id < 250),
        |sp AS (SELECT ${sqlHash60("'shard' || chr(1) || h")} % 4 AS shard,
        |    ${sqlHash60("'b' || hh.i || chr(1) || h")} % 2048 AS p
        |  FROM seen, hh),
        |bloom AS (SELECT shard, p // 32 AS word,
        |    bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
        |  FROM sp GROUP BY 1, 2),
        |probes AS (SELECT doc_id, md5(text) AS h FROM documents),
        |pp AS (SELECT doc_id, h,
        |    ${sqlHash60("'shard' || chr(1) || h")} % 4 AS shard,
        |    ${sqlHash60("'b' || hh.i || chr(1) || h")} % 2048 AS p
        |  FROM probes, hh),
        |hits AS (SELECT doc_id, h,
        |    CAST(min(CASE WHEN b.bits IS NOT NULL
        |        AND (b.bits & (1::BIGINT << CAST(pp.p % 32 AS INT))) <> 0
        |        THEN 1 ELSE 0 END) AS BIGINT) AS all_set
        |  FROM pp LEFT JOIN bloom b
        |    ON b.shard = pp.shard AND b.word = pp.p // 32
        |  GROUP BY doc_id, h)
        |SELECT doc_id, h FROM hits WHERE all_set = 1
        |ORDER BY doc_id""".stripMargin)),

    // The SAME sharded prune FORCED down the equi-join physical path
    // (mapBits = 0: what a history-scale filter actually runs — probe
    // positions explode to k rows that hash-join the filter table on
    // (shard, word), O(1) per lookup, no broadcast map; VERDICT r12 #3:
    // t_bloom_sharded exercises only the broadcast-map path, so the path
    // a 10^10-key deployment uses was spec-pinned but never oracle-
    // checked). Identical oracle SQL semantics: the physical path choice
    // must be invisible in the result, and now BOTH paths hash-match
    // DuckDB at every SF.
    "t_bloom_sharded_join" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val seen = docs.filter(col("doc_id") < 250)
          .select(md5(col("text")).as("h"))
        val bloom = Sketches.bloomBuildSharded(seen, "h", nShards = 4,
          shardBits = 2048, numHashes = 5)
        Sketches.bloomPruneSharded(bloom,
            docs.select(col("doc_id"), md5(col("text")).as("h")), "h",
            nShards = 4, shardBits = 2048, numHashes = 5, mapBits = 0L)
          .orderBy("doc_id")
      },
      Some(s"""WITH hh(i) AS (VALUES (0), (1), (2), (3), (4)),
        |seen AS (SELECT md5(text) AS h FROM documents WHERE doc_id < 250),
        |sp AS (SELECT ${sqlHash60("'shard' || chr(1) || h")} % 4 AS shard,
        |    ${sqlHash60("'b' || hh.i || chr(1) || h")} % 2048 AS p
        |  FROM seen, hh),
        |bloom AS (SELECT shard, p // 32 AS word,
        |    bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
        |  FROM sp GROUP BY 1, 2),
        |probes AS (SELECT doc_id, md5(text) AS h FROM documents),
        |pp AS (SELECT doc_id, h,
        |    ${sqlHash60("'shard' || chr(1) || h")} % 4 AS shard,
        |    ${sqlHash60("'b' || hh.i || chr(1) || h")} % 2048 AS p
        |  FROM probes, hh),
        |hits AS (SELECT doc_id, h,
        |    CAST(min(CASE WHEN b.bits IS NOT NULL
        |        AND (b.bits & (1::BIGINT << CAST(pp.p % 32 AS INT))) <> 0
        |        THEN 1 ELSE 0 END) AS BIGINT) AS all_set
        |  FROM pp LEFT JOIN bloom b
        |    ON b.shard = pp.shard AND b.word = pp.p // 32
        |  GROUP BY doc_id, h)
        |SELECT doc_id, h FROM hits WHERE all_set = 1
        |ORDER BY doc_id""".stripMargin)),

    // HyperLogLog distinct-count sketch (p=8, 256 registers) over the order
    // keys, next to the exact count it approximates. Registers are engine-
    // exact integers; the estimator denominator is integer-scaled (every
    // 2^-r term a power of two) so the single final division is the only
    // float op. Sketch state is 64 rows regardless of corpus size.
    "t_hll" -> Q(
      (s, dir) => {
        val li = rd(s, dir, "lineitem")
        val regs = Sketches.hllRegisters(
          li.select(col("l_orderkey").cast("string").as("k")), "k", p = 8)
        Sketches.hllEstimate(regs, p = 8)
          .crossJoin(li.agg(countDistinct(col("l_orderkey")).as("exact_distinct")))
      },
      Some(s"""WITH h AS (SELECT ${sqlHash60("CAST(l_orderkey AS VARCHAR)")} AS h
        |  FROM lineitem WHERE l_orderkey IS NOT NULL),
        |rr AS (SELECT h % 256 AS register,
        |    CASE WHEN h // 256 = 0 THEN 53 ELSE 53 - length(bin(h // 256)) END AS rank
        |  FROM h),
        |regs AS (SELECT register, max(rank) AS r FROM rr GROUP BY register),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_registers_hit,
        |    CAST(sum(1::BIGINT << CAST(54 - r AS INT))
        |      + (256 - count(*)) * (1::BIGINT << 54) AS BIGINT) AS denom_scaled
        |  FROM regs)
        |SELECT n_registers_hit, denom_scaled,
        |  round(${"%.17g".format(Sketches.hllNumerator(8))} / denom_scaled, 2)
        |    AS est_distinct,
        |  (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem)
        |    AS exact_distinct
        |FROM agg""".stripMargin)),

    // INCREMENTAL HLL (round 10, mergeable-statistics family): register
    // tables merge by register-wise MAX — exact sketch algebra, the
    // merged table IS the sketch of the concatenated keys. Spark builds
    // one sketch per orderkey-parity shard and hllMerges; the oracle
    // replays the MONOLITHIC sketch. Identical registers (and therefore
    // the identical estimate) prove per-shard cardinality state composes
    // losslessly.
    "t_hll_merge" -> Q(
      (s, dir) => {
        val li = rd(s, dir, "lineitem")
        def shard(p: Column) = Sketches.hllRegisters(
          li.filter(p).select(col("l_orderkey").cast("string").as("k")),
          "k", p = 8)
        val merged = Sketches.hllMerge(Seq(
          shard(col("l_orderkey") % 2 === 0),
          shard(col("l_orderkey") % 2 === 1)))
        Sketches.hllEstimate(merged, p = 8)
          .crossJoin(li.agg(countDistinct(col("l_orderkey"))
            .as("exact_distinct")))
      },
      Some(s"""WITH h AS (SELECT ${sqlHash60("CAST(l_orderkey AS VARCHAR)")} AS h
        |  FROM lineitem WHERE l_orderkey IS NOT NULL),
        |rr AS (SELECT h % 256 AS register,
        |    CASE WHEN h // 256 = 0 THEN 53 ELSE 53 - length(bin(h // 256)) END AS rank
        |  FROM h),
        |regs AS (SELECT register, max(rank) AS r FROM rr GROUP BY register),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_registers_hit,
        |    CAST(sum(1::BIGINT << CAST(54 - r AS INT))
        |      + (256 - count(*)) * (1::BIGINT << 54) AS BIGINT) AS denom_scaled
        |  FROM regs)
        |SELECT n_registers_hit, denom_scaled,
        |  round(${"%.17g".format(Sketches.hllNumerator(8))} / denom_scaled, 2)
        |    AS est_distinct,
        |  (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem)
        |    AS exact_distinct
        |FROM agg""".stripMargin)),

    // Fixed-width mergeable price histogram ($5000 bins over exact cents):
    // constant-size distribution state, merge = bin-wise sum.
    "t_histogram" -> Q(
      (s, dir) =>
        Sketches.histogram(rd(s, dir, "lineitem"), "l_extendedprice",
            binCents = 500000L).orderBy("bin"),
      Some("""WITH c AS (SELECT
        |    CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT cents // 500000 AS bin,
        |  CAST((cents // 500000) * 500000 AS BIGINT) AS lo_cents,
        |  count(*) AS n
        |FROM c GROUP BY 1, 2 ORDER BY bin""".stripMargin)),

    // Histogram-derived quantiles (p25/p50/p90/p99 as per-mille points):
    // integer thresholds ceil(total*q/1000) against the cumulative BIN
    // table — the window runs over ~20 bins, never the data.
    "t_histogram_quantiles" -> Q(
      (s, dir) =>
        Sketches.histogramQuantiles(
          Sketches.histogram(rd(s, dir, "lineitem"), "l_extendedprice",
            binCents = 500000L),
          Seq(250, 500, 900, 990)).orderBy("qpm"),
      Some("""WITH c AS (SELECT
        |    CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |hist AS (SELECT cents // 500000 AS bin,
        |    CAST((cents // 500000) * 500000 AS BIGINT) AS lo_cents,
        |    count(*) AS n
        |  FROM c GROUP BY 1, 2),
        |cum AS (SELECT bin, lo_cents,
        |    CAST(sum(n) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(n) OVER () AS BIGINT) AS total
        |  FROM hist),
        |qq(qpm) AS (VALUES (250), (500), (900), (990))
        |SELECT qq.qpm, min(lo_cents) AS lo_cents
        |FROM cum, qq
        |WHERE cum >= (total * qq.qpm + 999) // 1000
        |GROUP BY qq.qpm ORDER BY qq.qpm""".stripMargin)),

    // Bloom-pruned join: the 100 TB join-prune pattern. A Bloom filter of
    // the urgent-order keys (one broadcastable map row) drops ~4/5 of
    // lineitem BEFORE its join shuffle, row-locally; the exact join then
    // removes the false positives, so the result is IDENTICAL to the
    // plain join — which is exactly what the oracle replays (the sketch
    // is an invisible physical optimization, not a semantics change).
    "q_bloom_join" -> Q(
      (s, dir) => {
        val urgent = rd(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        val bloom = Sketches.bloomBuild(
          urgent.select(col("o_orderkey").cast("string").as("k")), "k",
          numBits = 32768, numHashes = 5)
        val pruned = Sketches.bloomPrune(bloom,
          rd(s, dir, "lineitem").withColumn("k", col("l_orderkey").cast("string")),
          "k", numBits = 32768, numHashes = 5)
        pruned.join(urgent, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            outd(sum(sdec(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)))
              .as("revenue"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag, count(*) AS n_items,
        |  ${sqlSum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Per-group HLL: one independent 256-register sketch per event type
    // (distinct users per type), estimate next to the exact count. Every
    // register is oracle-replayed per group — same integer-exact
    // denominator as t_hll, one groupBy regardless of user cardinality.
    "t_hll_grouped" -> Q(
      (s, dir) => {
        val ev = events(s, dir)
          .select(col("event_type"), col("user_id").cast("string").as("k"))
        val est = Sketches.hllEstimateBy(
          Sketches.hllRegistersBy(ev, Seq("event_type"), "k", p = 8),
          Seq("event_type"), p = 8)
        val exact = events(s, dir).groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_distinct"))
        est.join(exact, "event_type").orderBy("event_type")
      },
      Some(s"""WITH h AS (SELECT event_type,
        |    ${sqlHash60("CAST(user_id AS VARCHAR)")} AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |rr AS (SELECT event_type, h % 256 AS register,
        |    CASE WHEN h // 256 = 0 THEN 53 ELSE 53 - length(bin(h // 256)) END AS rank
        |  FROM h),
        |regs AS (SELECT event_type, register, max(rank) AS r
        |  FROM rr GROUP BY 1, 2),
        |agg AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n_registers_hit,
        |    CAST(sum(1::BIGINT << CAST(54 - r AS INT))
        |      + (256 - count(*)) * (1::BIGINT << 54) AS BIGINT) AS denom_scaled
        |  FROM regs GROUP BY event_type)
        |SELECT a.event_type, n_registers_hit, denom_scaled,
        |  round(${"%.17g".format(Sketches.hllNumerator(8))} / denom_scaled, 2)
        |    AS est_distinct,
        |  x.exact_distinct
        |FROM agg a JOIN (SELECT event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |  FROM events GROUP BY event_type) x USING (event_type)
        |ORDER BY a.event_type""".stripMargin)),

    // HLL set algebra: overlap between two distinct-user sets estimated
    // from their sketches alone (inclusion-exclusion; the union sketch is
    // the EXACT register-wise max) — the "shared users between two
    // segments" question with only 2^p rows per side ever moving.
    "t_hll_intersect" -> Q(
      (s, dir) => {
        def regs(t: String) = Sketches.hllRegisters(
          events(s, dir).filter(col("event_type") === t)
            .select(col("user_id").cast("string").as("k")), "k", p = 8)
        Sketches.hllIntersect(regs("view"), regs("purchase"), p = 8)
      },
      Some(s"""WITH h AS (SELECT event_type,
        |    ${sqlHash60("CAST(user_id AS VARCHAR)")} AS h
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IN ('view', 'purchase')),
        |rr AS (SELECT event_type, h % 256 AS register,
        |    CASE WHEN h // 256 = 0 THEN 53 ELSE 53 - length(bin(h // 256)) END AS rank
        |  FROM h),
        |regs AS (SELECT event_type, register, max(rank) AS r
        |  FROM rr GROUP BY 1, 2),
        |u AS (SELECT register, max(r) AS r FROM regs GROUP BY 1),
        |ea AS (SELECT round(${"%.17g".format(Sketches.hllNumerator(8))} /
        |    CAST(sum(1::BIGINT << CAST(54 - r AS INT))
        |      + (256 - count(*)) * (1::BIGINT << 54) AS BIGINT), 2) AS est_a
        |  FROM regs WHERE event_type = 'view'),
        |eb AS (SELECT round(${"%.17g".format(Sketches.hllNumerator(8))} /
        |    CAST(sum(1::BIGINT << CAST(54 - r AS INT))
        |      + (256 - count(*)) * (1::BIGINT << 54) AS BIGINT), 2) AS est_b
        |  FROM regs WHERE event_type = 'purchase'),
        |eu AS (SELECT round(${"%.17g".format(Sketches.hllNumerator(8))} /
        |    CAST(sum(1::BIGINT << CAST(54 - r AS INT))
        |      + (256 - count(*)) * (1::BIGINT << 54) AS BIGINT), 2) AS est_union
        |  FROM u)
        |SELECT est_a, est_b, est_union,
        |  round(est_a + est_b - est_union, 2) AS est_intersection
        |FROM ea, eb, eu""".stripMargin)),

    // Inverted-index posting lists: (token, doc, tf, ascending position
    // CSV, df) — the corpus search-index build. Token-partitioned
    // aggregate + token-partitioned df window; no global sort anywhere.
    "t_postings" -> Q(
      (s, dir) =>
        TextRanking.postings(rd(s, dir, "documents"))
          .orderBy("token", "doc_id"),
      Some(s"""WITH $ToksCte, $StreamCte,
        |pl AS (SELECT token, doc_id, count(*) AS tf,
        |    string_agg(pos, ',' ORDER BY pos) AS positions
        |  FROM stream GROUP BY token, doc_id)
        |SELECT token, doc_id, tf, positions,
        |  CAST(count(*) OVER (PARTITION BY token) AS BIGINT) AS df
        |FROM pl ORDER BY token, doc_id""".stripMargin)),

    // Exact phrase search for the corpus's most frequent trigram (self-
    // deriving, so the query is meaningful at every scale factor): per-doc
    // occurrence counts via position-aligned posting intersections. The
    // phrase pick is a 1-row collect (bounded); the search is n-1 hash
    // joins of single-token posting lists.
    "t_phrase" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val top = TextOps.trigrams(docs)
          .groupBy("w0", "w1", "w2").agg(sum("count").as("n"))
          .orderBy(desc("n"), asc("w0"), asc("w1"), asc("w2"))
          .limit(1).collect().headOption
        top match {
          case None => // no 3-token doc anywhere: empty result, like the
            // oracle's empty `top` CTE — never a driver throw
            docs.select(col("doc_id"), lit(0L).as("n_hits"),
              lit("").as("w0"), lit("").as("w1"), lit("").as("w2")).limit(0)
          case Some(t) =>
            val phrase = Seq(t.getString(0), t.getString(1), t.getString(2))
            TextRanking.phraseOccurrences(docs, phrase)
              .withColumn("w0", lit(phrase(0))).withColumn("w1", lit(phrase(1)))
              .withColumn("w2", lit(phrase(2)))
              .orderBy("doc_id")
        }
      },
      Some(s"""WITH $ToksCte, $StreamCte,
        |g AS (SELECT doc_id, pos, token AS w0,
        |    lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |    lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM stream),
        |top AS (SELECT w0, w1, w2 FROM g WHERE w2 IS NOT NULL
        |  GROUP BY 1, 2, 3 ORDER BY count(*) DESC, w0, w1, w2 LIMIT 1)
        |SELECT g.doc_id, count(*) AS n_hits, g.w0, g.w1, g.w2
        |FROM g JOIN top USING (w0, w1, w2)
        |GROUP BY g.doc_id, g.w0, g.w1, g.w2
        |ORDER BY g.doc_id""".stripMargin)),

    // Okapi BM25 per (doc, token): saturating tf + length normalization
    // over the same unigram/df tables as t_tfidf. Every factor is row-local
    // scalar arithmetic over exact integers (tf, df, dl, N, milli-avgdl) —
    // the fixed expression tree is IEEE-identical across engines, then
    // rounded ONCE to integer micro units.
    "t_bm25" -> Q(
      (s, dir) =>
        TextRanking.bm25(rd(s, dir, "documents"))
          .select(col("doc_id"), col("token"), col("tf"), col("df"),
            col("dl"), col("score"))
          .orderBy("doc_id", "token"),
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |$sqlBm25Ctes
        |SELECT doc_id, token, tf, df, dl, score_micro / 1000000.0 AS score
        |FROM sc ORDER BY doc_id, token""".stripMargin)),

    // Ranked retrieval: top-10 documents by summed BM25 for the corpus's
    // three highest-df tokens (self-derived, meaningful at every sf). The
    // per-term micros sum exactly; the cut is orderBy+limit (TakeOrdered),
    // ranked by the two-phase range rank — no single-partition window.
    "t_bm25_topk" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        // ONE tokenize: the persisted unigram table derives the query
        // terms AND feeds bm25Rank (no second corpus scan)
        val uni = graft.core.CacheScope.persist(TextOps.unigrams(docs))
        val terms = uni
          .groupBy("token").agg(count(lit(1)).as("df"))
          .orderBy(desc("df"), asc("token")).limit(3)
          .collect().map(_.getString(0)).toSeq
        if (terms.isEmpty)
          docs.select(col("doc_id"), lit(0L).as("rank"), lit(0.0).as("score"))
            .limit(0)
        else
          TextRanking.bm25Rank(docs, terms, k = 10, unigrams = uni)
            .orderBy("rank")
      },
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |$sqlBm25Ctes,
        |terms AS (SELECT token FROM dfx ORDER BY df DESC, token LIMIT 3),
        |tot AS (SELECT doc_id, CAST(sum(score_micro) AS BIGINT) AS total_micro
        |  FROM sc JOIN terms USING (token) GROUP BY doc_id),
        |ranked AS (SELECT doc_id, total_micro,
        |    row_number() OVER (ORDER BY total_micro DESC, doc_id) AS rank
        |  FROM tot)
        |SELECT doc_id, rank, total_micro / 1000000.0 AS score
        |FROM ranked WHERE rank <= 10 ORDER BY rank""".stripMargin)),

    // Word-boundary blocklist gate over the corpus's three most frequent
    // tokens (self-derived: stopword-like, so hits exist at every sf).
    // Matching is on TOKENS (no substring false positives), row-local
    // against a literal list; the blocked share is an exact integer micro.
    "t_blocklist" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val top = TextOps.unigrams(docs)
          .groupBy("token").agg(sum("count").as("n"))
          .orderBy(desc("n"), asc("token")).limit(3)
          .collect().map(_.getString(0)).toSeq
        if (top.isEmpty)
          docs.select(col("doc_id"), lit(0L).as("n_tokens"),
            lit(0L).as("n_blocked"), lit(0L).as("blocked_micro"),
            lit(true).as("keep")).limit(0)
        else
          TextAnalysis.blocklistHits(docs, top, maxRatioMicro = 50000)
            .orderBy("doc_id")
      },
      Some(s"""WITH $ToksCte, $StreamCte,
        |topb AS (SELECT token FROM (
        |    SELECT token, count(*) AS n FROM stream GROUP BY token)
        |  ORDER BY n DESC, token LIMIT 3),
        |ltc AS (SELECT doc_id, regexp_extract_all(lower(text), '[\\p{L}]+') AS lt
        |  FROM documents),
        |base AS (SELECT doc_id,
        |    CAST(coalesce(len(lt), 0) AS BIGINT) AS n_tokens FROM ltc),
        |s2 AS (SELECT doc_id, unnest(lt) AS token FROM ltc),
        |topl AS (SELECT DISTINCT lower(token) AS token FROM topb),
        |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocked
        |  FROM s2 JOIN topl USING (token) GROUP BY doc_id),
        |j AS (SELECT b.doc_id, b.n_tokens, coalesce(h.n_blocked, 0) AS n_blocked
        |  FROM base b LEFT JOIN hits h ON b.doc_id = h.doc_id)
        |SELECT doc_id, n_tokens, n_blocked,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(round(n_blocked * 1000000.0 / n_tokens, 0) AS BIGINT)
        |    ELSE 0 END AS blocked_micro,
        |  (CASE WHEN n_tokens > 0
        |    THEN CAST(round(n_blocked * 1000000.0 / n_tokens, 0) AS BIGINT)
        |    ELSE 0 END) <= 50000 AS keep
        |FROM j ORDER BY doc_id""".stripMargin)),

    // Crawl-text cleaning over deterministically dirtied documents (a
    // hash-chosen third get markup wrappers, another third control chars
    // + boilerplate tails): strip tags, drop control chars, collapse
    // whitespace, trim — with the byte-reduction audit a curation
    // pipeline watches. The oracle replays dirtying AND cleaning.
    "t_clean" -> Q(
      (s, dir) => {
        import graft.functions.TextFunctions.hash60
        val m = hash60(concat(col("doc_id").cast("string"), lit(":clean"))) % 3
        val dirty = when(m === 0,
            concat(lit("<p>"), col("text"), lit("</p>\t\t")))
          .when(m === 1,
            concat(lit("  \u0007"), col("text"), lit(" <br> tail  ")))
          .otherwise(col("text"))
        TextAnalysis.cleanAudit(
            rd(s, dir, "documents").withColumn("text", dirty))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id,
        |    CASE ${sqlHash60("CAST(doc_id AS VARCHAR) || ':clean'")} % 3
        |      WHEN 0 THEN '<p>' || text || '</p>' || chr(9) || chr(9)
        |      WHEN 1 THEN '  ' || chr(7) || text || ' <br> tail  '
        |      ELSE text END AS text
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(regexp_replace(text,
        |      '<[^>]*>', ' ', 'g'),
        |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
        |      '\\s+', ' ', 'g')) AS clean_text,
        |    length(text) AS n_chars_raw
        |  FROM d)
        |SELECT doc_id, clean_text, CAST(n_chars_raw AS BIGINT) AS n_chars_raw,
        |  CAST(length(clean_text) AS BIGINT) AS n_chars_clean
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Grouped top-k WITHOUT a window: the bounded typed aggregate carries
    // at most k pairs per group per partition (map-side combined), vs
    // row_number() shuffling and sorting every row of every group. The
    // oracle IS the window formulation — proving the aggregate exact.
    "t_top_docs" -> Q(
      (s, dir) =>
        TopK.topKByGroup(rd(s, dir, "documents"), Seq("lang"), "doc_id",
            "n_chars", k = 5)
          .orderBy("lang", "rank"),
      Some("""WITH r AS (SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rank
        |  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL)
        |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, n_chars
        |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin)),

    // BPE tokenizer training — 6 merge rounds over the corpus word table
    // (classic Sennrich: count adjacent symbol pairs frequency-weighted,
    // merge the winner everywhere, leftmost-non-overlapping). The oracle
    // replays every round via the boundary-safe symbol encoding (each
    // symbol wrapped in its own spaces, merges are literal replaces — see
    // operators.Bpe). Per round: one vocabulary-sized aggregate + a 1-row
    // collect; the corpus is tokenized once.
    "t_bpe" -> Q(
      (s, dir) => {
        import s.implicits._
        Bpe.train(rd(s, dir, "documents"), nMerges = 6)
          .map(m => (m.step.toLong, m.lhs, m.rhs, m.n))
          .toDF("step", "lhs", "rhs", "n").orderBy("step")
      },
      Some {
        val unions = (1 to 6)
          .map(i => s"SELECT CAST($i AS BIGINT) AS step, a AS lhs, b AS rhs, n FROM t$i")
          .mkString("\nUNION ALL ")
        s"""WITH $sqlBpeCtes
        |$unions
        |ORDER BY step""".stripMargin
      }),

    // Applying the learned BPE merge table: the per-word segmentation of
    // the corpus vocabulary under the 6 trained merges — the trained
    // tokenizer's view of its own training vocabulary. Same replay chain
    // as t_bpe; the state AFTER the final round IS the encoded vocab, so
    // the oracle just reads it back out (words carried through).
    "t_bpe_encode" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val merges = Bpe.train(docs, nMerges = 6)
        Bpe.wordTable(docs)
          .select(col("word"), col("cnt"),
            array_join(Bpe.encode(col("word"), merges), " ").as("segm"))
          .orderBy("word")
      },
      Some(s"""WITH $sqlBpeCtes
        |SELECT word, cnt,
        |  array_to_string(string_split(trim(sym), '  '), ' ') AS segm
        |FROM s6 ORDER BY word""".stripMargin)),

    // Document -> input_ids: the trained tokenizer applied to every
    // document, pieces to dense ids (rank of the distinct piece strings),
    // sequence re-assembled in (word, piece) order. The oracle reuses the
    // training replay's final word-segmentation state (s6) — per-doc
    // sequences, counts and the id map all recomputed independently.
    "t_input_ids" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val merges = Bpe.train(docs, nMerges = 6)
        Bpe.encodeDocuments(docs, merges).orderBy("doc_id")
      },
      Some(s"""WITH $sqlBpeCtes,
        |pc AS (SELECT word, l[x] AS piece, x AS sp
        |  FROM (SELECT word, string_split(trim(sym), '  ') AS l FROM s6),
        |    unnest(range(1, len(l) + 1)) AS u(x)),
        |ws AS (SELECT doc_id, pos, lower(token) AS word FROM stream
        |  WHERE regexp_matches(lower(token), '^[a-z]+$$')),
        |pieces AS (SELECT ws.doc_id, ws.pos, pc.sp, pc.piece
        |  FROM ws JOIN pc ON pc.word = ws.word),
        |voc AS (SELECT piece, row_number() OVER (ORDER BY piece) - 1 AS pid
        |  FROM (SELECT DISTINCT piece FROM pieces))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pieces,
        |  string_agg(CAST(pid AS VARCHAR), ' ' ORDER BY pos, sp) AS ids_str
        |FROM pieces JOIN voc USING (piece)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Tokenizer ROUND-TRIP: encode every document to dense input ids,
    // decode the ids back through the piece vocabulary, and assert the
    // reassembled piece stream equals the original in-contract word
    // stream (md5 witnesses per doc) — the end-to-end inverse proof of
    // the id assignment, ids_str formatting, and vocab join.
    "t_bpe_roundtrip" -> Q(
      (s, dir) => {
        import graft.functions.TextFunctions.tokens
        val docs = rd(s, dir, "documents")
        val merges = Bpe.train(docs, nMerges = 6)
        val enc = Bpe.encodeDocuments(docs, merges)
        val vocab = Bpe.pieceVocab(docs, merges)
        val dec = Bpe.decodeDocuments(enc, vocab)
          .select(col("doc_id"), md5(col("decoded_text")).as("decoded_md5"))
        val orig = docs
          .select(col("doc_id"),
            posexplode(tokens(col("text"))).as(Seq("pos", "word")))
          .withColumn("w", lower(col("word")))
          .filter(col("w").rlike("^[a-z]+$"))
          .groupBy("doc_id")
          .agg(md5(concat_ws("", transform(
            array_sort(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w")))).as("orig_md5"))
        orig.join(dec, Seq("doc_id"))
          .withColumn("roundtrip_ok", col("orig_md5") === col("decoded_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlBpeCtes,
        |$sqlPackCtes,
        |o AS (SELECT doc_id,
        |    md5(string_agg(word, '' ORDER BY pos)) AS orig_md5
        |  FROM ws GROUP BY doc_id),
        |dd AS (SELECT p.doc_id,
        |    md5(string_agg(v2.piece, '' ORDER BY p.pos, p.sp))
        |      AS decoded_md5
        |  FROM pieces p JOIN voc v USING (piece)
        |  JOIN voc v2 ON v2.pid = v.pid
        |  GROUP BY p.doc_id)
        |SELECT o.doc_id, o.orig_md5, dd.decoded_md5,
        |  (o.orig_md5 = dd.decoded_md5) AS roundtrip_ok
        |FROM o JOIN dd USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // Tokenizer fertility per source: mean BPE pieces per in-contract
    // word — the vocabulary-fit metric. Oracle reuses the training
    // replay's s6 segmentation state.
    "t_fertility" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val merges = Bpe.train(docs, nMerges = 6)
        Bpe.fertility(docs, merges).orderBy("source")
      },
      Some(s"""WITH $sqlBpeCtes,
        |pcn AS (SELECT word,
        |    CAST(len(string_split(trim(sym), '  ')) AS BIGINT) AS np
        |  FROM s6),
        |ws AS (SELECT d.source, lower(s.token) AS word
        |  FROM stream s JOIN documents d USING (doc_id)
        |  WHERE regexp_matches(lower(s.token), '^[a-z]+$$')),
        |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(np) AS BIGINT) AS n_pieces
        |  FROM ws JOIN pcn USING (word) GROUP BY source)
        |SELECT source, n_words, n_pieces,
        |  CAST(round(n_pieces * 1000000.0 / n_words, 0) AS BIGINT)
        |    AS fertility_micro
        |FROM ag ORDER BY source""".stripMargin)),

    // Packed training sequences: the encodeDocuments stream laid end to
    // end in 8 hash buckets and cut every 128 pieces — per-sequence
    // concatenated ids plus doc/piece counts, the final pretraining
    // artifact. The oracle rebuilds global piece indexes (per-bucket
    // running sums + in-doc rank) and re-derives every sequence string.
    "t_packed_ids" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val merges = Bpe.train(docs, nMerges = 6)
        Bpe.packedInputIds(docs, merges, budget = 128, nBuckets = 8)
          .orderBy("bucket", "seq_id")
      },
      Some(s"""WITH $sqlBpeCtes,
        |$sqlPackCtes
        |SELECT bucket, pg // 128 AS seq_id,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_pieces,
        |  string_agg(CAST(pid AS VARCHAR), ' ' ORDER BY pg) AS ids_str
        |FROM pp GROUP BY bucket, pg // 128
        |ORDER BY bucket, seq_id""".stripMargin)),

    // Packing EFFICIENCY report — the artifact that tells a 100 TB run
    // whether its sequence budget fits the corpus: per bucket, sequence
    // count, packed pieces, doc slots (a doc straddling a cut counts once
    // per sequence), waste = budget*n_seqs - n_pieces (only the bucket's
    // final partial sequence can waste), and the micro fill ratio.
    "t_packing_stats" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val merges = Bpe.train(docs, nMerges = 6)
        Bpe.packedInputIds(docs, merges, budget = 128, nBuckets = 8)
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_seqs"), sum("n_pieces").as("n_pieces"),
            sum("n_docs").as("n_doc_slots"))
          .withColumn("waste", col("n_seqs") * lit(128L) - col("n_pieces"))
          .withColumn("fill_micro",
            round(col("n_pieces") * lit(1000000.0) /
              (col("n_seqs") * lit(128L)), 0).cast("long"))
          .orderBy("bucket")
      },
      Some(s"""WITH $sqlBpeCtes,
        |$sqlPackCtes,
        |packed AS (SELECT bucket, pg // 128 AS seq_id,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_pieces
        |  FROM pp GROUP BY bucket, pg // 128)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_seqs,
        |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
        |  CAST(sum(n_docs) AS BIGINT) AS n_doc_slots,
        |  CAST(count(*) * 128 - sum(n_pieces) AS BIGINT) AS waste,
        |  CAST(round(sum(n_pieces) * 1000000.0 / (count(*) * 128), 0)
        |    AS BIGINT) AS fill_micro
        |FROM packed GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // OOV rate against the top-100 vocabulary — the tokenizer-coverage
    // signal: documents full of out-of-vocabulary tokens are exactly the
    // ones a fixed vocab serves worst. One broadcast join against the
    // capped vocab (vocab-sized, like every encode join), counts exact.
    "t_oov" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        // ONE tokenize: the persisted unigram table feeds both the capped
        // vocab and the per-doc counts (the single-tokenize convention)
        val uni = graft.core.CacheScope.persist(TextOps.unigrams(docs))
        val vocab = TextOps.vocabFromUnigrams(uni, cap = 100)
          .select(col("token"), lit(1).as("in_vocab"))
        uni
          .join(broadcast(vocab), Seq("token"), "left")
          .groupBy("doc_id")
          .agg(sum("count").as("n_tokens"),
            sum(when(col("in_vocab").isNull, col("count")).otherwise(lit(0L)))
              .as("n_oov"))
          .withColumn("oov_micro",
            when(col("n_tokens") > 0,
              round(col("n_oov") * lit(1000000.0) / col("n_tokens"), 0)
                .cast("long")).otherwise(lit(0L)))
          .orderBy("doc_id")
      },
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |v100 AS (SELECT token FROM (
        |    SELECT token, count(*) AS "count" FROM stream GROUP BY token
        |    ORDER BY count(*) DESC, token LIMIT 100)),
        |agg AS (SELECT doc_id, CAST(sum("count") AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN v.token IS NULL THEN "count" ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM uni u LEFT JOIN v100 v USING (token) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_oov,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(round(n_oov * 1000000.0 / n_tokens, 0) AS BIGINT)
        |    ELSE 0 END AS oov_micro
        |FROM agg ORDER BY doc_id""".stripMargin)),

    // Deterministic k-per-group sampling = the TopK aggregate over a hash
    // order (value = -hash60, so "top" = lowest hash): the reservoir-
    // sample shape with zero RNG state, replayable anywhere. Same bounded
    // buffer economics as t_top_docs — k rows per group per partition.
    "q_group_sample" -> Q(
      (s, dir) => {
        import graft.functions.TextFunctions.hash60
        val docs = rd(s, dir, "documents")
          .withColumn("hv",
            -hash60(concat(col("doc_id").cast("string"), lit(":gs"))))
        TopK.topKByGroup(docs, Seq("lang"), "doc_id", "hv", k = 3)
          .select(col("lang"), col("rank"), col("doc_id"),
            (-col("hv")).as("h"))
          .orderBy("lang", "rank")
      },
      Some(s"""WITH h AS (SELECT lang, doc_id,
        |    ${sqlHash60("CAST(doc_id AS VARCHAR) || ':gs'")} AS h
        |  FROM documents WHERE doc_id IS NOT NULL),
        |r AS (SELECT lang, doc_id, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rank
        |  FROM h)
        |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, h
        |FROM r WHERE rank <= 3 ORDER BY lang, rank""".stripMargin)),

    // Hybrid retrieval — the RAG shape: lexical BM25 recall (top-20 for
    // the corpus's three highest-df terms) re-ranked by embedding cosine
    // against the best lexical hit's vector (self-derived; docs and
    // vectors join on id). Two bounded driver collects (3 terms, 1 query
    // vector); the re-rank is a broadcast literal against <= 20 rows.
    "t_hybrid_search" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val emb = rd(s, dir, "embeddings")
        // ONE tokenize shared by term derivation and BM25 (see t_bm25_topk)
        val uni = graft.core.CacheScope.persist(TextOps.unigrams(docs))
        val terms = uni
          .groupBy("token").agg(count(lit(1)).as("df"))
          .orderBy(desc("df"), asc("token")).limit(3)
          .collect().map(_.getString(0)).toSeq
        val empty = docs.select(col("doc_id"), lit(0L).as("bm25_rank"),
          lit(0.0).as("cos_sim"), lit(0L).as("rank")).limit(0)
        if (terms.isEmpty) empty
        else {
          val top = TextRanking.bm25Rank(docs, terms, k = 20, unigrams = uni)
            .select(col("doc_id"), col("rank").as("bm25_rank"))
          val withVec = top.join(
            emb.filter(col("vec_id").isNotNull && col("embedding").isNotNull)
              .select(col("vec_id").as("doc_id"), col("embedding")),
            Seq("doc_id"))
          val qrow = withVec.orderBy(asc("bm25_rank"), asc("doc_id")).limit(1)
            .select(col("doc_id"), col("embedding").cast("array<double>"))
            .collect()
          if (qrow.isEmpty) empty
          else {
            val qv = qrow.head.getSeq[Double](1).toSeq
            val qn = math.sqrt(qv.map(x => x * x).sum)
            val reranked = withVec
              .withColumn("cos_sim",
                round(Similarity.dot(col("embedding"), typedlit(qv)) /
                  (Similarity.norm(col("embedding")) * lit(qn)), 6))
              .orderBy(desc("cos_sim"), asc("doc_id")).limit(10)
            graft.core.Ids.denseRankBy(reranked,
                Seq(desc("cos_sim"), asc("doc_id")), "rank0")
              .select(col("doc_id"), col("bm25_rank"), col("cos_sim"),
                (col("rank0") + 1).as("rank"))
              .orderBy("rank")
          }
        }
      },
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |$sqlBm25Ctes,
        |terms AS (SELECT token FROM dfx ORDER BY df DESC, token LIMIT 3),
        |btot AS (SELECT doc_id, CAST(sum(score_micro) AS BIGINT) AS total_micro
        |  FROM sc JOIN terms USING (token) GROUP BY doc_id),
        |branked AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY total_micro DESC, doc_id) AS bm25_rank
        |  FROM btot),
        |withv AS (SELECT t.doc_id, t.bm25_rank, e.embedding AS v
        |  FROM branked t JOIN embeddings e ON e.vec_id = t.doc_id
        |  WHERE t.bm25_rank <= 20
        |    AND e.vec_id IS NOT NULL AND e.embedding IS NOT NULL),
        |qsel AS (SELECT doc_id, v FROM withv
        |  ORDER BY bm25_rank, doc_id LIMIT 1),
        |hscored AS (SELECT w.doc_id, w.bm25_rank,
        |    round(${sqlCos("w.v", "q.v")}, 6) AS cos_sim
        |  FROM withv w, qsel q)
        |SELECT doc_id, bm25_rank, cos_sim, rank FROM (
        |  SELECT doc_id, bm25_rank, cos_sim,
        |    row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rank
        |  FROM hscored) WHERE rank <= 10
        |ORDER BY rank""".stripMargin)),

    // Hard-negative mining for retrieval training: query = the corpus's
    // top trigram (t_phrase's self-derivation); positives = docs with the
    // exact phrase; the BM25 top-20 minus positives are the classic
    // lexically-similar-but-wrong hard negatives. One labeled
    // training-pair table per query, composed from existing operators.
    // SMJ-adjudicated: doc_id LeftOuter of corpus-scale score tables;
    // unhinted on purpose.
    "t_hard_negatives" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val uni = graft.core.CacheScope.persist(TextOps.unigrams(docs))
        val top = TextOps.trigrams(docs)
          .groupBy("w0", "w1", "w2").agg(sum("count").as("n"))
          .orderBy(desc("n"), asc("w0"), asc("w1"), asc("w2"))
          .limit(1).collect().headOption
        top match {
          case None =>
            docs.select(col("doc_id"), lit(0L).as("bm25_rank"),
              lit("").as("label")).limit(0)
          case Some(t) =>
            val phrase = Seq(t.getString(0), t.getString(1), t.getString(2))
            val pos = TextRanking.phraseOccurrences(docs, phrase)
              .select(col("doc_id"), lit(1).as("__pos"))
            TextRanking.bm25Rank(docs, phrase, k = 20, unigrams = uni)
              .join(pos, Seq("doc_id"), "left")
              .select(col("doc_id"), col("rank").as("bm25_rank"),
                when(col("__pos").isNotNull, lit("positive"))
                  .otherwise(lit("hard_negative")).as("label"))
              .orderBy("bm25_rank")
        }
      },
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |$sqlBm25Ctes,
        |g AS (SELECT doc_id, pos, token AS w0,
        |    lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |    lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM stream),
        |top AS (SELECT w0, w1, w2 FROM g WHERE w2 IS NOT NULL
        |  GROUP BY 1, 2, 3 ORDER BY count(*) DESC, w0, w1, w2 LIMIT 1),
        |hits AS (SELECT DISTINCT g.doc_id FROM g JOIN top USING (w0, w1, w2)),
        |tw AS (SELECT w0 AS token FROM top UNION SELECT w1 FROM top
        |  UNION SELECT w2 FROM top),
        |tot AS (SELECT doc_id, CAST(sum(score_micro) AS BIGINT) AS total_micro
        |  FROM sc JOIN tw USING (token) GROUP BY doc_id),
        |ranked AS (SELECT doc_id, total_micro,
        |    row_number() OVER (ORDER BY total_micro DESC, doc_id) AS rank
        |  FROM tot)
        |SELECT r.doc_id, r.rank AS bm25_rank,
        |  CASE WHEN h.doc_id IS NOT NULL THEN 'positive'
        |       ELSE 'hard_negative' END AS label
        |FROM ranked r LEFT JOIN hits h ON r.doc_id = h.doc_id
        |WHERE r.rank <= 20 ORDER BY r.rank""".stripMargin)),

    // DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
    // features (4096 buckets), per-bucket add-one-smoothed log-likelihood
    // ratio target-vs-raw in integer micro-nats, per-doc score = sum of
    // cnt*weight, deterministic top-50. The oracle rebuilds the whole
    // model: same md5 bucket hash, same smoothing rational inside one ln,
    // same micro rounding — so selection membership AND scores match
    // exactly. Target = lang='en' (the same self-derived label the
    // perceptron/NB classifiers use).
    "t_dsir" -> Q(
      (s, dir) =>
        Dsir.selectTop(rd(s, dir, "documents"), col("lang") === "en",
          numBuckets = 4096, k = 50),
      Some(s"""WITH $ToksCte, $StreamCte, $sqlDsirCtes
        |SELECT doc_id, score_micro, round(score_micro / 1e6, 6) AS score
        |FROM sc ORDER BY score_micro DESC, doc_id LIMIT 50""".stripMargin)),

    // DSIR's resampling half: hash-deterministic Bernoulli keep with
    // p = exp((score - max)/T) on an integer micro grid — membership AND
    // the (p_micro, u_micro) evidence columns replayed exactly.
    "t_dsir_resample" -> Q(
      (s, dir) => {
        val scored = Dsir.scoreAll(rd(s, dir, "documents"),
          col("lang") === "en", numBuckets = 4096)
        Dsir.importanceResample(scored, temperature = 2.0).orderBy("doc_id")
      },
      Some(s"""WITH $ToksCte, $StreamCte, $sqlDsirCtes,
        |mx AS (SELECT max(score_micro) AS m FROM sc),
        |r AS (SELECT doc_id, score_micro,
        |    CAST(round(exp(CAST(score_micro - mx.m AS DOUBLE) / 2000000.0)
        |      * 1e6, 0) AS BIGINT) AS p_micro,
        |    ${sqlHash60("CAST(doc_id AS VARCHAR) || ':resample:dsir'")}
        |      % 1000000 AS u_micro
        |  FROM sc CROSS JOIN mx)
        |SELECT doc_id, score_micro, p_micro, u_micro FROM r
        |WHERE u_micro < p_micro ORDER BY doc_id""".stripMargin)),

    // INCREMENTAL model maintenance (round 10): the DSIR model's
    // sufficient statistics are per-bucket counts, which are ADDITIVE —
    // so per-shard statistics (here the even-id and odd-id halves, each
    // with its own target slice) merge into EXACTLY the monolithic
    // model. The Spark side never touches a combined corpus: it builds
    // two shard feature tables, folds their (bucket, c) statistics with
    // mergeCounts, and derives weights from the merged counts; the
    // oracle computes the full-corpus weights directly. Equality proves
    // the incremental path bit-for-bit — the shape under which a 100 TB
    // model absorbs a new day's data without re-reading old shards.
    "t_dsir_incremental" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val even = graft.core.CacheScope.persist(
          Dsir.hashedFeatures(docs.filter(col("doc_id") % 2 === 0), 4096))
        val odd = graft.core.CacheScope.persist(
          Dsir.hashedFeatures(docs.filter(col("doc_id") % 2 === 1), 4096))
        val tgtIds = docs.filter(col("lang") === "en").select("doc_id")
        def tgtCounts(f: DataFrame) =
          Dsir.bucketCounts(f.join(tgtIds, Seq("doc_id"), "left_semi"))
        Dsir.weightsFromCounts(
            Dsir.mergeCounts(Seq(tgtCounts(even), tgtCounts(odd))),
            Dsir.mergeCounts(Seq(Dsir.bucketCounts(even),
              Dsir.bucketCounts(odd))),
            numBuckets = 4096)
          .orderBy("bucket")
      },
      Some(s"""WITH $ToksCte, $StreamCte, $sqlDsirCtes
        |SELECT bucket, w_micro FROM w ORDER BY bucket""".stripMargin)),

    // The classic TWO-CORPUS DSIR composition (Xie et al. 2023's
    // Wikipedia-vs-crawl setup): target = one source's documents, raw =
    // every other source, composed from the building blocks —
    // hashedFeatures on each corpus, importanceWeights (target vs raw
    // add-one LLR in micro-nats), scoreDocuments (broadcast weight join)
    // — unlike t_dsir's predicate-target scoreAll fast path, the raw
    // totals here EXCLUDE the target corpus. Deterministic top-50.
    "t_dsir_two_corpus" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        // persist both hashed-feature tables: each feeds 2-3 aggregates
        // (bucket counts, totals, scoring) — unpersisted, every consumer
        // re-tokenizes the corpus (measured 10 parquet scans vs 2)
        val tf = graft.core.CacheScope.persist(
          Dsir.hashedFeatures(docs.filter(col("source") === "src0"), 4096))
        val rf = graft.core.CacheScope.persist(
          Dsir.hashedFeatures(docs.filter(col("source") =!= "src0"), 4096))
        val w = Dsir.importanceWeights(tf, rf, 4096)
        Dsir.scoreDocuments(rf, w)
          .orderBy(desc("score_micro"), col("doc_id").asc).limit(50)
          .select(col("doc_id"), col("score_micro"),
            round(col("score_micro") / lit(1e6), 6).as("score"))
      },
      Some(s"""WITH $ToksCte, $StreamCte,
        |bg AS (SELECT doc_id,
        |    token || ' ' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS f
        |  FROM stream),
        |feats AS (SELECT doc_id, token AS f FROM stream
        |  UNION ALL SELECT doc_id, f FROM bg WHERE f IS NOT NULL),
        |bf AS (SELECT doc_id, ${sqlHash60("'dsir:' || f")} % 4096 AS bucket
        |  FROM feats),
        |db AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bf GROUP BY doc_id, bucket),
        |tset AS (SELECT doc_id FROM documents WHERE source = 'src0'),
        |rset AS (SELECT doc_id FROM documents WHERE source <> 'src0'),
        |ct AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c_t
        |  FROM db JOIN tset USING (doc_id) GROUP BY bucket),
        |cr AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c_r
        |  FROM db JOIN rset USING (doc_id) GROUP BY bucket),
        |nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_t
        |  FROM db JOIN tset USING (doc_id)),
        |nr AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_r
        |  FROM db JOIN rset USING (doc_id)),
        |w AS (SELECT cr.bucket,
        |    CAST(round(ln(((coalesce(ct.c_t, 0) + 1.0) * (nr.n_r + 4096))
        |      / ((cr.c_r + 1.0) * (nt.n_t + 4096))) * 1e6, 0) AS BIGINT)
        |      AS w_micro
        |  FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN nt CROSS JOIN nr),
        |sc AS (SELECT db.doc_id,
        |    CAST(sum(db.cnt * w.w_micro) AS BIGINT) AS score_micro
        |  FROM db JOIN rset USING (doc_id) JOIN w USING (bucket)
        |  GROUP BY db.doc_id)
        |SELECT doc_id, score_micro, round(score_micro / 1e6, 6) AS score
        |FROM sc ORDER BY score_micro DESC, doc_id LIMIT 50""".stripMargin))
  )

  // ------------------------------------------------------------- SRP

  private lazy val srp: Seq[(String, Q)] = Seq(

    // F11: SRP embedding, 60-dim slice (one md5 block) in flat form. The
    // library supports the reference's full 1280 dims (Srp.DefaultDims); the
    // oracle uses one block to keep the SQL-side cross join tractable.
    "s_srp" -> Q(
      (s, dir) =>
        Srp.srpFlat(rd(s, dir, "documents"), dims = 60).orderBy("doc_id", "dim"),
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |hw AS (SELECT doc_id, CAST(round(ln(1 + "count") * 1000, 0) AS BIGINT) AS w,
        |         ${sqlHash60("token || ':0'")} AS hs
        |       FROM uni),
        |x AS (SELECT doc_id, d.dim AS dim,
        |        CASE WHEN (hs >> CAST(d.dim AS INTEGER)) & 1 = 1 THEN w ELSE -w END AS c
        |      FROM hw, (SELECT unnest(range(0, 60)) AS dim) d)
        |SELECT doc_id, dim, CAST(sum(c) AS DOUBLE) / 1000 AS value
        |FROM x GROUP BY doc_id, dim ORDER BY doc_id, dim""".stripMargin),
      headline = true),

    // F12: packed SRP sign bits (60 bits -> one word).
    "s_srp_bits" -> Q(
      (s, dir) =>
        Srp.srpBits(rd(s, dir, "documents"), dims = 60).orderBy("doc_id", "word_idx"),
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |hw AS (SELECT doc_id, CAST(round(ln(1 + "count") * 1000, 0) AS BIGINT) AS w,
        |         ${sqlHash60("token || ':0'")} AS hs
        |       FROM uni),
        |x AS (SELECT doc_id, d.dim AS dim,
        |        CASE WHEN (hs >> CAST(d.dim AS INTEGER)) & 1 = 1 THEN w ELSE -w END AS c
        |      FROM hw, (SELECT unnest(range(0, 60)) AS dim) d),
        |v AS (SELECT doc_id, dim, sum(c) AS sv FROM x GROUP BY doc_id, dim)
        |SELECT doc_id, (dim // 60)::BIGINT AS word_idx,
        |  CAST(sum(CASE WHEN sv > 0 THEN (1::BIGINT << CAST(dim % 60 AS INTEGER)) ELSE 0 END) AS BIGINT) AS bits
        |FROM v GROUP BY doc_id, dim // 60 ORDER BY doc_id, word_idx""".stripMargin))
  )

  // -------------------------------------------------- srp extensions

  private lazy val srpExtra: Seq[(String, Q)] = Seq(

    // ANN over the engine's OWN text embeddings — the text -> vector
    // bridge: SRP-embed every document (60-dim slice), then brute cosine
    // top-5 neighbors for the first 10 docs. The cosine runs in EXACT
    // integer space: srp values are s/1000 with s an exact long, and the
    // 1/1000 scales cancel in cosine, so the numerator and both norms are
    // integer-derived in both engines — no float fold-order contract
    // needed anywhere.
    "e_srp_knn" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val sv = Srp.srpFlat(docs, dims = 60)
          .select(col("doc_id"), col("dim"),
            round(col("value") * 1000, 0).cast("long").as("sv"))
        val dense = sv.groupBy("doc_id").agg(
          transform(array_sort(collect_list(struct(col("dim"), col("sv")))),
            x => x.getField("sv").cast("double")).as("v"))
        val emb = dense.select(col("doc_id").as("vec_id"),
          col("v").as("embedding"))
        Similarity.knnBrute(emb, emb.filter(col("vec_id") < 10), k = 5)
          .select("query_id", "rank", "neighbor_id", "cos_sim")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |hw AS (SELECT doc_id, CAST(round(ln(1 + "count") * 1000, 0) AS BIGINT) AS w,
        |         ${sqlHash60("token || ':0'")} AS hs
        |       FROM uni),
        |x AS (SELECT doc_id, d.dim AS dim,
        |        CASE WHEN (hs >> CAST(d.dim AS INTEGER)) & 1 = 1 THEN w ELSE -w END AS c
        |      FROM hw, (SELECT unnest(range(0, 60)) AS dim) d),
        |v AS MATERIALIZED (SELECT doc_id, dim, CAST(sum(c) AS BIGINT) AS sv
        |  FROM x GROUP BY doc_id, dim),
        |nrm AS MATERIALIZED (SELECT doc_id, CAST(sum(sv * sv) AS BIGINT) AS n2
        |  FROM v GROUP BY doc_id),
        |num AS (SELECT a.doc_id AS qid, b.doc_id AS nid,
        |    CAST(sum(a.sv * b.sv) AS BIGINT) AS num
        |  FROM v a JOIN v b ON a.dim = b.dim
        |  WHERE a.doc_id < 10 AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2),
        |sc AS (SELECT qid, nid,
        |    round(CAST(num AS DOUBLE)
        |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
        |      6) AS cos_sim
        |  FROM num JOIN nrm na ON na.doc_id = qid
        |  JOIN nrm nb ON nb.doc_id = nid),
        |r AS (SELECT qid AS query_id, nid AS neighbor_id, cos_sim,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY cos_sim DESC, nid) AS rank FROM sc)
        |SELECT query_id, rank, neighbor_id, cos_sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    // Hamming near-dup pairs over SRP sign bits: pigeonhole-banded equi-join
    // (exact recall for dist <= 3), no cross join.
    "s_srp_hamming" -> Q(
      (s, dir) =>
        Srp.hammingPairs(rd(s, dir, "documents"), maxDist = 3)
          .orderBy("id_a", "id_b"),
      Some(s"""WITH $ToksCte, $StreamCte, $UniCte,
        |hw AS (SELECT doc_id, CAST(round(ln(1 + "count") * 1000, 0) AS BIGINT) AS w,
        |         ${sqlHash60("token || ':0'")} AS hs
        |       FROM uni),
        |x AS (SELECT doc_id, d.dim AS dim,
        |        CASE WHEN (hs >> CAST(d.dim AS INTEGER)) & 1 = 1 THEN w ELSE -w END AS c
        |      FROM hw, (SELECT unnest(range(0, 60)) AS dim) d),
        |v AS (SELECT doc_id, dim, sum(c) AS sv FROM x GROUP BY doc_id, dim),
        |bits AS (SELECT doc_id AS id,
        |    CAST(sum(CASE WHEN sv > 0 THEN (1::BIGINT << CAST(dim AS INTEGER)) ELSE 0 END) AS BIGINT) AS bits
        |  FROM v GROUP BY doc_id),
        |banded AS (SELECT id, bits, b.blk AS blk,
        |    (bits >> (b.blk * 15)) & 32767 AS bv
        |  FROM bits, (SELECT unnest(range(0, 4)) AS blk) b),
        |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b,
        |    CAST(bit_count(xor(x.bits, y.bits)) AS BIGINT) AS hamming
        |  FROM banded x JOIN banded y ON x.blk = y.blk AND x.bv = y.bv AND x.id < y.id)
        |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin),
      headline = true),

    // Multi-word Hamming near-dup over 180-bit SRP fingerprints: the
    // word-group pigeonhole (3 bands x 1 word at maxDist=2), array-keyed
    // candidate equi-join, zip_with popcount verify. The oracle rebuilds
    // all three 60-bit words from the per-block md5s and replays the
    // band join + exact distance.
    //
    // NON-VACUOUS BY CONSTRUCTION: the natural corpus's closest pair sits
    // at Hamming 3 (> maxDist) at sf0.01, so the row is run over the
    // corpus augmented with 20 deterministic near-dup twins — the first 20
    // docs by id with one extra occurrence of an existing common token
    // (`text || ' the'`). A count bump c -> c+1 moves that token's SRP
    // weight by round(1000*ln((2+c)/(1+c))) — a few hundred micro-units —
    // flipping only the sign bits whose per-dim sums sit near zero:
    // measured 6 of 20 twins land within Hamming <= 2, so the band join,
    // zip_with popcount, and distance cut are all exercised on real
    // matches. Both engines build the SAME augmented corpus, so the
    // oracle match stays exact.
    "s_srp_hamming_wide" -> Q(
      (s, dir) => {
        val base = rd(s, dir, "documents")
          .select(col("doc_id").cast("string").as("doc_id"), col("text"))
        val twins = base.orderBy("doc_id").limit(20)
          .select(concat(col("doc_id"), lit("~twin")).as("doc_id"),
            concat(col("text"), lit(" the")).as("text"))
        Srp.hammingPairsWide(base.unionAll(twins), maxDist = 2, dims = 180)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH aug AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR) || '~twin', text || ' the'
        |  FROM (SELECT doc_id, text FROM documents
        |        ORDER BY CAST(doc_id AS VARCHAR) LIMIT 20)),
        |toks AS (SELECT doc_id, regexp_extract_all(text, '[\\p{L}]+') AS t
        |  FROM aug),
        |$StreamCte, $UniCte,
        |hwb AS (SELECT doc_id,
        |    CAST(round(ln(1 + "count") * 1000, 0) AS BIGINT) AS w,
        |    b.blk AS wi,
        |    ${sqlHash60("token || ':' || CAST(b.blk AS VARCHAR)")} AS hs
        |  FROM uni, (SELECT unnest(range(0, 3)) AS blk) b),
        |x AS (SELECT doc_id, wi, d.dim AS dim,
        |    CASE WHEN (hs >> CAST(d.dim AS INTEGER)) & 1 = 1 THEN w
        |         ELSE -w END AS c
        |  FROM hwb, (SELECT unnest(range(0, 60)) AS dim) d),
        |v AS (SELECT doc_id, wi, dim, sum(c) AS sv
        |  FROM x GROUP BY doc_id, wi, dim),
        |bitsw AS (SELECT doc_id AS id, wi,
        |    CAST(sum(CASE WHEN sv > 0
        |      THEN (1::BIGINT << CAST(dim AS INTEGER)) ELSE 0 END) AS BIGINT)
        |      AS bits
        |  FROM v GROUP BY doc_id, wi),
        |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
        |  FROM bitsw x JOIN bitsw y
        |  ON x.wi = y.wi AND x.bits = y.bits AND x.id < y.id),
        |hx AS (SELECT c.id_a, c.id_b,
        |    CAST(sum(bit_count(xor(a.bits, b.bits))) AS BIGINT) AS hamming
        |  FROM cand c JOIN bitsw a ON a.id = c.id_a
        |  JOIN bitsw b ON b.id = c.id_b AND b.wi = a.wi
        |  GROUP BY c.id_a, c.id_b)
        |SELECT id_a, id_b, hamming FROM hx WHERE hamming <= 2
        |ORDER BY id_a, id_b""".stripMargin)),

    // Trigram successor lookup (the reference notebooks' Markov-chain use):
    // most frequent next word for each corpus-wide bigram context.
    "t_trigram_successors" -> Q(
      (s, dir) => {
        val tri = TextOps.trigrams(rd(s, dir, "documents"))
          .groupBy("w0", "w1", "w2").agg(sum("count").as("n"))
        val w = Window.partitionBy("w0", "w1").orderBy(desc("n"), asc("w2"))
        tri.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("w0"), col("w1"), col("w2").as("next_word"), col("n"))
          .orderBy("w0", "w1")
      },
      Some(s"""WITH $ToksCte, $StreamCte,
        |b AS (SELECT doc_id, token AS w0,
        |        lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |        lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |      FROM stream),
        |tri AS (SELECT w0, w1, w2, count(*) AS n FROM b
        |        WHERE w1 IS NOT NULL AND w2 IS NOT NULL GROUP BY w0, w1, w2),
        |r AS (SELECT w0, w1, w2, n,
        |        row_number() OVER (PARTITION BY w0, w1 ORDER BY n DESC, w2) AS rn
        |      FROM tri)
        |SELECT w0, w1, w2 AS next_word, n FROM r WHERE rn = 1
        |ORDER BY w0, w1""".stripMargin))
  )

  // ----------------------------------------------------------- vectors

  /** DuckDB cosine between two list columns, sequential double accumulation
    * (list_reduce) matching Spark's `aggregate` fold order. */
  private def sqlCos(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_transform(range(1, len($x)+1), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)), (p, q) -> p + q)"
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  /** Shared CTE chain: plane-sign buckets -> cosine near-dup pairs (>= 0.3,
    * nbits=4) -> symmetric edges -> recursive transitive closure -> `lbl`
    * (id, cluster_id = min reachable id). Used by the cluster and survivor
    * oracles; mirrors Similarity.cosineDupPairs + Dedup.duplicateClusters. */
  private lazy val sqlCosineClusterCtes: String = {
    val planesSql = Similarity.planeMatrix(4, 64).zipWithIndex.map {
      case (row, b) => s"($b, [${row.mkString(", ")}])"
    }.mkString(",\n  ")
    s"""WITH RECURSIVE pl(b, pv) AS (VALUES
    |  $planesSql),
    |v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
    |proj AS (SELECT id, b,
    |    list_reduce(list_transform(range(1, len(v)+1),
    |      i -> CAST(v[i] AS DOUBLE) * pv[i]), (p, q) -> p + q) AS pr
    |  FROM v, pl),
    |bk AS (SELECT id,
    |    CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
    |  FROM proj GROUP BY id),
    |pairsAll AS (SELECT a.id AS id_a, c.id AS id_b,
    |    round(${sqlCos("qv.v", "nv.v")}, 6) AS cos_sim
    |  FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.id < c.id
    |  JOIN v qv ON qv.id = a.id JOIN v nv ON nv.id = c.id),
    |dup AS (SELECT id_a, id_b, cos_sim FROM pairsAll WHERE cos_sim >= 0.3),
    |e AS (SELECT id_a AS src, id_b AS dst FROM dup
    |      UNION SELECT id_b, id_a FROM dup),
    |reach(id, r) AS (
    |  SELECT src, src FROM e
    |  UNION
    |  SELECT rc.id, e.dst FROM reach rc JOIN e ON e.src = rc.r),
    |lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin
  }

  /** Shared CTE chain: 2 Lloyd rounds of k=8 k-means over `embeddings` in
    * exact integer micro space — `a2` holds the final (vec_id, cl, dist,
    * rn) assignment ranking; `WHERE rn = 1` selects it. Used by e_kmeans
    * and both e_semdedup rows (one definition, three replays). */
  private lazy val sqlKmeans8Ctes: String =
    """WITH vm AS (SELECT vec_id,
    |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000, 0)) AS vm
    |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    |ve AS (SELECT vec_id, unnest(range(0, len(vm))) AS dim,
    |    CAST(unnest(vm) AS BIGINT) AS v FROM vm),
    |seeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl
    |  FROM vm ORDER BY vec_id LIMIT 8),
    |c0 AS (SELECT s.cl, ve.dim, ve.v AS cm
    |  FROM seeds s JOIN ve ON s.vec_id = ve.vec_id),
    |d1 AS (SELECT ve.vec_id, c.cl,
    |    CAST(sum((ve.v - c.cm) * (ve.v - c.cm)) AS BIGINT) AS dist
    |  FROM ve JOIN c0 c ON ve.dim = c.dim GROUP BY 1, 2),
    |a1 AS (SELECT vec_id, cl, dist,
    |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn FROM d1),
    |g1 AS (SELECT vec_id, cl FROM a1 WHERE rn = 1),
    |c1 AS (SELECT g.cl, ve.dim,
    |    CAST(round(CAST(sum(ve.v) AS BIGINT) / count(*), 0) AS BIGINT) AS cm
    |  FROM g1 g JOIN ve ON g.vec_id = ve.vec_id GROUP BY 1, 2),
    |d2 AS (SELECT ve.vec_id, c.cl,
    |    CAST(sum((ve.v - c.cm) * (ve.v - c.cm)) AS BIGINT) AS dist
    |  FROM ve JOIN c1 c ON ve.dim = c.dim GROUP BY 1, 2),
    |a2 AS (SELECT vec_id, cl, dist,
    |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn FROM d2)""".stripMargin

  /** Appended to [[sqlKmeans8Ctes]]: within-cell cosine pairs >= 0.3 —
    * `dupsem` is the SemDeDup pair set (id_a < id_b, cluster, cos_sim). */
  private lazy val sqlSemdedupCtes: String =
    s"""g2 AS (SELECT vec_id AS id, cl FROM a2 WHERE rn = 1),
    |vv AS (SELECT vec_id AS id, embedding AS v FROM embeddings
    |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    |prsem AS (SELECT x.id AS id_a, y.id AS id_b, x.cl AS cluster,
    |    round(${sqlCos("xv.v", "yv.v")}, 6) AS cos_sim
    |  FROM g2 x JOIN g2 y ON x.cl = y.cl AND x.id < y.id
    |  JOIN vv xv ON xv.id = x.id JOIN vv yv ON yv.id = y.id),
    |dupsem AS (SELECT id_a, id_b, cluster, cos_sim FROM prsem
    |  WHERE cos_sim >= 0.3)""".stripMargin

  private lazy val vectors: Seq[(String, Q)] = Seq(

    // Brute-force cosine top-5 for query vectors (vec_id < 10).
    "e_knn_brute" -> Q(
      (s, dir) => {
        val emb = rd(s, dir, "embeddings")
        Similarity.knnBrute(emb, emb.filter(col("vec_id") < 10), k = 5)
          .select("query_id", "rank", "neighbor_id", "cos_sim")
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings),
        |s AS (SELECT qid, nid, round(
        |    list_reduce(list_transform(range(1, len(qv)+1),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)), (a, b) -> a + b)
        |    / (sqrt(list_reduce(list_transform(range(1, len(qv)+1),
        |         i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)), (a, b) -> a + b))
        |     * sqrt(list_reduce(list_transform(range(1, len(cv)+1),
        |         i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)), (a, b) -> a + b))), 6) AS cos_sim
        |  FROM q, c WHERE qid != nid),
        |r AS (SELECT qid AS query_id, nid AS neighbor_id, cos_sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
        |      FROM s)
        |SELECT query_id, rank, neighbor_id, cos_sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
      headline = true),

    // Maximal Marginal Relevance diverse top-5 over the 20-candidate
    // re-rank window (lambda = 0.7). Integer-micro relevance and pairwise
    // sims make every greedy round exact; the oracle replays all 5 picks
    // as chained argmax CTEs.
    "e_mmr" -> Q(
      (s, dir) =>
        Similarity.mmrSelect(rd(s, dir, "embeddings"), queryId = 0L,
            k = 5, nCand = 20, lambdaMicro = 700000L)
          .orderBy("rank"),
      Some {
        val lm = 700000L
        val nm = 1000000L - lm
        def pick(i: Int): String =
          if (i == 1)
            s"""p1 AS (SELECT id, rm, CAST($lm AS BIGINT) * rm AS mmr FROM cand
            |  ORDER BY rm DESC, id LIMIT 1),
            |sel1 AS (SELECT id FROM p1)""".stripMargin
          else
            s"""p$i AS (SELECT c.id, c.rm,
            |    CAST($lm AS BIGINT) * c.rm - CAST($nm AS BIGINT) * max(ps.sm) AS mmr
            |  FROM cand c JOIN ps ON ps.ia = c.id
            |  JOIN sel${i - 1} s ON ps.ib = s.id
            |  WHERE c.id NOT IN (SELECT id FROM sel${i - 1})
            |  GROUP BY c.id, c.rm
            |  ORDER BY mmr DESC, c.id LIMIT 1),
            |sel$i AS (SELECT id FROM sel${i - 1} UNION ALL SELECT id FROM p$i)""".stripMargin
        val unions = (2 to 5)
          .map(i => s"UNION ALL SELECT $i, id, rm, mmr FROM p$i").mkString("\n")
        s"""WITH v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM v WHERE id = 0),
        |cand AS (SELECT c.id, c.v,
        |    CAST(round(${sqlCos("c.v", "q.qv")} * 1e6, 0) AS BIGINT) AS rm
        |  FROM v c, q WHERE c.id != 0
        |  ORDER BY rm DESC, c.id LIMIT 20),
        |ps AS (SELECT a.id AS ia, b.id AS ib,
        |    CAST(round(${sqlCos("a.v", "b.v")} * 1e6, 0) AS BIGINT) AS sm
        |  FROM cand a JOIN cand b ON a.id != b.id),
        |${(1 to 5).map(pick).mkString(",\n")}
        |SELECT CAST(1 AS BIGINT) AS rank, id AS vec_id, rm AS rel_micro,
        |  mmr AS mmr_micro FROM p1
        |$unions
        |ORDER BY rank""".stripMargin
      }),

    // LSH-bucketed ANN — the scale path. The bucket function is md5-derived
    // hyperplane signs, so the oracle replays it exactly: the same plane
    // literals (Similarity.planeMatrix) are inlined into the SQL.
    "e_knn_lsh" -> Q(
      (s, dir) =>
        Similarity.knnLsh(rd(s, dir, "embeddings"), k = 5, nbits = 8, dim = 64)
          .select("query_id", "rank", "neighbor_id", "cos_sim")
          .orderBy("query_id", "rank"),
      Some {
        val planesSql = Similarity.planeMatrix(8, 64).zipWithIndex.map {
          case (row, b) => s"($b, [${row.mkString(", ")}])"
        }.mkString(",\n  ")
        s"""WITH pl(b, pv) AS (VALUES
        |  $planesSql),
        |v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |proj AS (SELECT id, b,
        |    list_reduce(list_transform(range(1, len(v)+1),
        |      i -> CAST(v[i] AS DOUBLE) * pv[i]), (p, q) -> p + q) AS pr
        |  FROM v, pl),
        |bk AS (SELECT id,
        |    CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY id),
        |pairs AS (SELECT a.id AS query_id, c.id AS neighbor_id,
        |    round(${sqlCos("qv.v", "nv.v")}, 6) AS cos_sim
        |  FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.id != c.id
        |  JOIN v qv ON qv.id = a.id JOIN v nv ON nv.id = c.id),
        |r AS (SELECT query_id, neighbor_id, cos_sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
        |  FROM pairs)
        |SELECT query_id, rank, neighbor_id, cos_sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin
      }),

    // Embedding-cosine near-dup pairs: bucketed all-pairs dedup at a cosine
    // threshold (the embedding-space analog of t_minhash_lsh). Oracle
    // replays the identical plane-literal buckets via the shared CTE chain
    // (one definition for this, e_dup_clusters, and e_dedup_survivors).
    "e_cosine_dups" -> Q(
      (s, dir) =>
        Similarity.cosineDupPairs(rd(s, dir, "embeddings"),
            threshold = 0.3, nbits = 4, dim = 64)
          .orderBy("id_a", "id_b"),
      Some(s"""$sqlCosineClusterCtes
        |SELECT id_a, id_b, cos_sim FROM dup
        |ORDER BY id_a, id_b""".stripMargin)),

    // Duplicate-cluster resolution: connected components over the cosine
    // near-dup pair graph (iterative min-label propagation in Spark); the
    // oracle computes the same components by recursive-CTE transitive
    // closure. This is the stage that turns pairwise dup evidence into
    // "keep one document per cluster".
    // SMJ-adjudicated: connected-components label propagation joins the
    // corpus-derived pair graph against itself; unhinted on purpose.
    "e_dup_clusters" -> Q(
      (s, dir) =>
        Dedup.duplicateClusters(
            Similarity.cosineDupPairs(rd(s, dir, "embeddings"),
              threshold = 0.3, nbits = 4, dim = 64))
          .orderBy("id"),
      Some(s"""$sqlCosineClusterCtes,
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY cluster_id)
        |SELECT l.id, l.cluster_id, s.cluster_size
        |FROM lbl l JOIN sz s USING (cluster_id)
        |ORDER BY id""".stripMargin)),

    // Terminal dedup stage: drop every cosine-cluster member except the
    // min-id representative (anti-join against the loser set); survivors
    // accounted per label.
    // SMJ-adjudicated: survivor anti-join against the corpus-derived cluster
    // table; unhinted on purpose.
    "e_dedup_survivors" -> Q(
      (s, dir) => {
        val emb = rd(s, dir, "embeddings")
        Dedup.dropNearDuplicates(emb,
            Similarity.cosineDupPairs(emb, threshold = 0.3, nbits = 4, dim = 64),
            idCol = "vec_id")
          .groupBy("label").agg(count(lit(1)).as("n_survivors"))
          .orderBy("label")
      },
      Some(s"""$sqlCosineClusterCtes,
        |losers AS (SELECT id FROM lbl WHERE id <> cluster_id)
        |SELECT emb.label, count(*) AS n_survivors
        |FROM embeddings emb LEFT JOIN losers lo ON emb.vec_id = lo.id
        |WHERE lo.id IS NULL
        |GROUP BY emb.label ORDER BY emb.label""".stripMargin)),

    // IVF-style ANN: deterministic coarse quantizer (8 lowest-id seeds),
    // search within the assigned cell — the inverted-file scale path.
    "e_knn_ivf" -> Q(
      (s, dir) =>
        Similarity.knnIvf(rd(s, dir, "embeddings"), k = 5, nlist = 8, nprobe = 1)
          .select("query_id", "rank", "neighbor_id", "cos_sim")
          .orderBy("query_id", "rank"),
      Some(s"""WITH c AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |seeds AS (SELECT vec_id AS seed_id, embedding AS sv FROM embeddings
        |          ORDER BY vec_id LIMIT 8),
        |cells AS (SELECT id, seed_id, round(${sqlCos("v", "sv")}, 6) AS seed_cos
        |          FROM c, seeds),
        |ranked AS (SELECT id, seed_id,
        |             row_number() OVER (PARTITION BY id ORDER BY seed_cos DESC, seed_id) AS cell_rank
        |           FROM cells),
        |assigned AS (SELECT id, seed_id AS cell FROM ranked WHERE cell_rank = 1),
        |probed AS (SELECT id AS query_id, seed_id AS cell FROM ranked WHERE cell_rank <= 1),
        |pairs AS (SELECT p.query_id, a.id AS neighbor_id,
        |            round(${sqlCos("qc.v", "nc.v")}, 6) AS cos_sim
        |          FROM probed p JOIN assigned a ON p.cell = a.cell AND p.query_id != a.id
        |          JOIN c qc ON qc.id = p.query_id JOIN c nc ON nc.id = a.id),
        |r AS (SELECT query_id, neighbor_id, cos_sim,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
        |      FROM pairs)
        |SELECT query_id, rank, neighbor_id, cos_sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
      headline = true),

    // Multi-probe IVF: the recall knob — each query searches its 2 nearest
    // cells instead of 1, same deterministic seed quantizer.
    "e_knn_ivf_probe" -> Q(
      (s, dir) =>
        Similarity.knnIvf(rd(s, dir, "embeddings"), k = 5, nlist = 8, nprobe = 2)
          .select("query_id", "rank", "neighbor_id", "cos_sim")
          .orderBy("query_id", "rank"),
      Some(s"""WITH c AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |seeds AS (SELECT vec_id AS seed_id, embedding AS sv FROM embeddings
        |          ORDER BY vec_id LIMIT 8),
        |cells AS (SELECT id, seed_id, round(${sqlCos("v", "sv")}, 6) AS seed_cos
        |          FROM c, seeds),
        |ranked AS (SELECT id, seed_id,
        |             row_number() OVER (PARTITION BY id ORDER BY seed_cos DESC, seed_id) AS cell_rank
        |           FROM cells),
        |assigned AS (SELECT id, seed_id AS cell FROM ranked WHERE cell_rank = 1),
        |probed AS (SELECT id AS query_id, seed_id AS cell FROM ranked WHERE cell_rank <= 2),
        |pairs AS (SELECT p.query_id, a.id AS neighbor_id,
        |            round(${sqlCos("qc.v", "nc.v")}, 6) AS cos_sim
        |          FROM probed p JOIN assigned a ON p.cell = a.cell AND p.query_id != a.id
        |          JOIN c qc ON qc.id = p.query_id JOIN c nc ON nc.id = a.id),
        |r AS (SELECT query_id, neighbor_id, cos_sim,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
        |      FROM pairs)
        |SELECT query_id, rank, neighbor_id, cos_sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    // Multi-table LSH ANN: 2 independent plane tables at nbits=6 — the
    // recall strategy that does NOT coarsen buckets. Oracle replays both
    // tables' plane literals and unions the candidate sets.
    "e_knn_lsh_multi" -> Q(
      (s, dir) =>
        Similarity.knnLshMulti(rd(s, dir, "embeddings"),
            k = 5, nbits = 6, tables = 2, dim = 64)
          .select("query_id", "rank", "neighbor_id", "cos_sim")
          .orderBy("query_id", "rank"),
      Some {
        val planesSql = Similarity.planeMatrix(12, 64).zipWithIndex.map {
          case (row, b) => s"($b, [${row.mkString(", ")}])"
        }.mkString(",\n  ")
        s"""WITH pl(b, pv) AS (VALUES
        |  $planesSql),
        |v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |proj AS (SELECT id, b,
        |    list_reduce(list_transform(range(1, len(v)+1),
        |      i -> CAST(v[i] AS DOUBLE) * pv[i]), (p, q) -> p + q) AS pr
        |  FROM v, pl),
        |bk AS (SELECT id, CAST(b AS INTEGER) // 6 AS t,
        |    CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << (CAST(b AS INTEGER) % 6)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY id, t),
        |pairs AS (SELECT DISTINCT a.id AS query_id, c.id AS neighbor_id
        |  FROM bk a JOIN bk c ON a.t = c.t AND a.bucket = c.bucket AND a.id != c.id),
        |s AS (SELECT query_id, neighbor_id,
        |    round(${sqlCos("qv.v", "nv.v")}, 6) AS cos_sim
        |  FROM pairs JOIN v qv ON qv.id = pairs.query_id
        |             JOIN v nv ON nv.id = pairs.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, cos_sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, rank, neighbor_id, cos_sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin
      }),

    // int8-quantized brute top-5: exact INTEGER dot products over
    // max-abs-scaled vectors — the cheap first pass of a quantize+rerank
    // pipeline, with zero float sensitivity in the ranking.
    "e_quantized" -> Q(
      (s, dir) => {
        val emb = rd(s, dir, "embeddings")
        Similarity.knnQuantized(emb, emb.filter(col("vec_id") < 10), k = 5)
          .select("query_id", "rank", "neighbor_id", "dot_q")
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (SELECT vec_id AS id, embedding FROM embeddings),
        |pre AS (SELECT id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
        |  FROM v),
        |qz AS (SELECT id,
        |    CASE WHEN m > 0 THEN list_transform(dv, x -> round(x * 127.0 / m, 0))
        |         ELSE list_transform(dv, x -> 0.0) END AS q
        |  FROM pre),
        |s AS (SELECT a.id AS query_id, b.id AS neighbor_id,
        |    CAST(list_reduce(list_transform(range(1, len(a.q)+1),
        |      i -> a.q[i] * b.q[i]), (p, qq) -> p + qq) AS BIGINT) AS dot_q
        |  FROM qz a JOIN qz b ON a.id != b.id WHERE a.id < 10),
        |r AS (SELECT query_id, neighbor_id, dot_q,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, rank, neighbor_id, dot_q FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    // Per-label centroids, integer-scaled means (k-means M-step shape).
    "e_centroids" -> Q(
      (s, dir) =>
        Similarity.labelCentroids(rd(s, dir, "embeddings"))
          .orderBy("label", "dim"),
      Some("""WITH x AS (SELECT label,
        |    unnest(range(0, len(embedding))) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS sv
        |  FROM embeddings)
        |SELECT label, dim,
        |  CAST(round(CAST(sum(sv) AS BIGINT) / count(*), 0) AS BIGINT) / 1000000.0 AS centroid
        |FROM x GROUP BY label, dim ORDER BY label, dim""".stripMargin)),

    // Full k-means, two Lloyd rounds (k=8, lowest-id seeds): engine-exact
    // integer distances and integer micro centroids, so the oracle replays
    // BOTH rounds (assign -> update -> assign) as a CTE chain and the final
    // assignment + exact squared distance hash-match.
    "e_kmeans" -> Q(
      (s, dir) =>
        Similarity.kmeansFit(rd(s, dir, "embeddings"), k = 8, iters = 2)
          .orderBy("id"),
      Some(s"""$sqlKmeans8Ctes
        |SELECT vec_id AS id, cl AS cluster, dist AS dist_sq
        |FROM a2 WHERE rn = 1 ORDER BY id""".stripMargin)),

    // SemDeDup-style semantic dedup, pairs: k-means cells (the e_kmeans
    // chain, replayed) confine the quadratic cosine work; pairs above the
    // threshold are the semantic near-duplicates lexical dedup misses.
    // SMJ-adjudicated: within-cell pair join of the clustered embedding
    // table against itself — corpus-scale both sides; unhinted on purpose.
    "e_semdedup_pairs" -> Q(
      (s, dir) =>
        Similarity.semanticDupPairs(rd(s, dir, "embeddings"),
            threshold = 0.3, k = 8, iters = 2)
          .orderBy("id_a", "id_b"),
      Some(s"""$sqlKmeans8Ctes,
        |$sqlSemdedupCtes
        |SELECT id_a, id_b, cluster, cos_sim FROM dupsem
        |ORDER BY id_a, id_b""".stripMargin)),

    // SemDeDup survivors under the greedy lowest-id-wins rule: drop any
    // vector that is a semantic near-duplicate of a lower id in its cell.
    // SMJ-adjudicated: same within-cell self-join as e_semdedup_pairs plus
    // the survivor anti-join; unhinted on purpose.
    "e_semdedup_keep" -> Q(
      (s, dir) => {
        val emb = rd(s, dir, "embeddings")
        val pairs = Similarity.semanticDupPairs(emb,
          threshold = 0.3, k = 8, iters = 2)
        Similarity.semanticSurvivors(emb, pairs)
          .filter(col("vec_id").isNotNull)
          .select(col("vec_id"), col("label"))
          .orderBy("vec_id")
      },
      Some(s"""$sqlKmeans8Ctes,
        |$sqlSemdedupCtes,
        |drop AS (SELECT DISTINCT id_b FROM dupsem)
        |SELECT e.vec_id, e.label
        |FROM embeddings e LEFT JOIN drop d ON e.vec_id = d.id_b
        |WHERE d.id_b IS NULL AND e.vec_id IS NOT NULL
        |ORDER BY e.vec_id""".stripMargin)),

    // Product quantization + asymmetric-distance search, engine-exact end
    // to end: 4 subspaces x 16 codes trained per-subspace (seed -> assign
    // -> integer micro mean -> re-assign), corpus encoded to 4 small ints
    // per vector, then ADC top-5 for 5 queries via a broadcast partial-
    // distance table. The oracle replays ALL of it — training, encoding,
    // distance tables, ranking — as one CTE chain of exact integers.
    "e_pq_adc" -> Q(
      (s, dir) => {
        val emb = rd(s, dir, "embeddings")
        val model = Similarity.pqFit(emb, m = 4, k = 16, dim = 64)
        Similarity.pqAdcSearch(model, emb.filter(col("vec_id") < 5),
            topk = 5, m = 4, dim = 64)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH vm AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000, 0)) AS vm
        |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |ve AS (SELECT vec_id, unnest(range(0, len(vm))) AS dim,
        |    CAST(unnest(vm) AS BIGINT) AS v FROM vm),
        |seeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY
        |      $sqlPqSeedOrder) - 1 AS INT) AS code
        |  FROM vm ORDER BY $sqlPqSeedOrder LIMIT 16),
        |c0 AS (SELECT s.code, ve.dim, ve.v AS cm
        |  FROM seeds s JOIN ve ON s.vec_id = ve.vec_id),
        |d1 AS (SELECT ve.vec_id, ve.dim // 16 AS sub, c.code,
        |    CAST(sum((ve.v - c.cm) * (ve.v - c.cm)) AS BIGINT) AS dist
        |  FROM ve JOIN c0 c ON ve.dim = c.dim GROUP BY 1, 2, 3),
        |g1 AS (SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
        |    FROM d1) WHERE rn = 1),
        |c1 AS (SELECT g.sub, g.code, ve.dim,
        |    CAST(round(CAST(sum(ve.v) AS BIGINT) / count(*), 0) AS BIGINT) AS cm
        |  FROM g1 g JOIN ve ON g.vec_id = ve.vec_id AND ve.dim // 16 = g.sub
        |  GROUP BY 1, 2, 3),
        |d2 AS (SELECT ve.vec_id, c.sub, c.code,
        |    CAST(sum((ve.v - c.cm) * (ve.v - c.cm)) AS BIGINT) AS dist
        |  FROM ve JOIN c1 c ON ve.dim = c.dim GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
        |    FROM d2) WHERE rn = 1),
        |qe AS (SELECT vec_id AS query_id, dim, v FROM ve WHERE vec_id < 5),
        |dtab AS (SELECT qe.query_id, c.sub, c.code,
        |    CAST(sum((qe.v - c.cm) * (qe.v - c.cm)) AS BIGINT) AS pdist
        |  FROM qe JOIN c1 c ON qe.dim = c.dim GROUP BY 1, 2, 3),
        |adc AS (SELECT t.query_id, k.vec_id AS neighbor_id,
        |    CAST(sum(t.pdist) AS BIGINT) AS adist
        |  FROM codes k JOIN dtab t ON k.sub = t.sub AND k.code = t.code
        |  WHERE t.query_id <> k.vec_id GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, adist, rank FROM (
        |  SELECT query_id, neighbor_id, adist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
        |  FROM adc) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    // IVF-PQ, the composed production ANN index: 4 coarse cells bound the
    // scan set, PQ over the RESIDUALS (16 codes x 4 subspaces) bounds the
    // bytes; ADC top-5 for 5 queries reads only same-cell codes. The
    // oracle replays the whole thing — coarse assign, residuals, PQ train
    // on residuals, distance tables, inverted-file read — in exact
    // integers.
    "e_ivf_pq" -> Q(
      (s, dir) => {
        val emb = rd(s, dir, "embeddings")
        val model = Similarity.ivfPqFit(emb, nlist = 4, m = 4, k = 16, dim = 64)
        Similarity.ivfPqSearch(model, emb.filter(col("vec_id") < 5),
            topk = 5, m = 4, dim = 64)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH vm AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000, 0)) AS vm
        |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |ve AS (SELECT vec_id, unnest(range(0, len(vm))) AS dim,
        |    CAST(unnest(vm) AS BIGINT) AS v FROM vm),
        |cs AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
        |  FROM vm ORDER BY vec_id LIMIT 4),
        |cc AS (SELECT s.cell, ve.dim, ve.v AS cm
        |  FROM cs s JOIN ve ON s.vec_id = ve.vec_id),
        |cd AS (SELECT ve.vec_id, c.cell,
        |    CAST(sum((ve.v - c.cm) * (ve.v - c.cm)) AS BIGINT) AS dist
        |  FROM ve JOIN cc c ON ve.dim = c.dim GROUP BY 1, 2),
        |ca AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM cd) WHERE rn = 1),
        |res AS (SELECT ve.vec_id, ve.dim, ve.v - c.cm AS r
        |  FROM ve JOIN ca a ON ve.vec_id = a.vec_id
        |  JOIN cc c ON c.cell = a.cell AND c.dim = ve.dim),
        |ps AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY
        |      $sqlPqSeedOrder) - 1 AS INT) AS code
        |  FROM vm ORDER BY $sqlPqSeedOrder LIMIT 16),
        |p0 AS (SELECT s.code, r.dim, r.r AS cm
        |  FROM ps s JOIN res r ON s.vec_id = r.vec_id),
        |pd1 AS (SELECT res.vec_id, res.dim // 16 AS sub, c.code,
        |    CAST(sum((res.r - c.cm) * (res.r - c.cm)) AS BIGINT) AS dist
        |  FROM res JOIN p0 c ON res.dim = c.dim GROUP BY 1, 2, 3),
        |pg1 AS (SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
        |    FROM pd1) WHERE rn = 1),
        |p1 AS (SELECT g.sub, g.code, res.dim,
        |    CAST(round(CAST(sum(res.r) AS BIGINT) / count(*), 0) AS BIGINT) AS cm
        |  FROM pg1 g JOIN res ON g.vec_id = res.vec_id AND res.dim // 16 = g.sub
        |  GROUP BY 1, 2, 3),
        |pd2 AS (SELECT res.vec_id, c.sub, c.code,
        |    CAST(sum((res.r - c.cm) * (res.r - c.cm)) AS BIGINT) AS dist
        |  FROM res JOIN p1 c ON res.dim = c.dim GROUP BY 1, 2, 3),
        |pcodes AS (SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
        |    FROM pd2) WHERE rn = 1),
        |qr AS (SELECT vec_id AS query_id, dim, r FROM res WHERE vec_id < 5),
        |dtab AS (SELECT q.query_id, c.sub, c.code,
        |    CAST(sum((q.r - c.cm) * (q.r - c.cm)) AS BIGINT) AS pdist
        |  FROM qr q JOIN p1 c ON q.dim = c.dim GROUP BY 1, 2, 3),
        |adc AS (SELECT t.query_id, k.vec_id AS neighbor_id,
        |    CAST(sum(t.pdist) AS BIGINT) AS adist
        |  FROM pcodes k JOIN dtab t ON k.sub = t.sub AND k.code = t.code
        |  JOIN ca nc ON nc.vec_id = k.vec_id
        |  JOIN ca qc ON qc.vec_id = t.query_id AND qc.cell = nc.cell
        |  WHERE t.query_id <> k.vec_id GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, adist, rank FROM (
        |  SELECT query_id, neighbor_id, adist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
        |  FROM adc) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    // IVF-PQ at production settings: the coarse geometry is Lloyd-TRAINED
    // (one integer-micro-mean update over the seed assignment — cells track
    // density, not arbitrary seed ids) and each query probes its 2 nearest
    // cells, residualizing against EACH probed cell's own centroid (IVF-PQ
    // distances are relative to the probed centroid). Recall knob without
    // touching the inverted-file read pattern: the scan set is still only
    // the probed cells' codes. The oracle replays coarse train, reassign,
    // residual PQ, per-cell distance tables, and the 2-cell read.
    "e_ivf_pq_probe" -> Q(
      (s, dir) => {
        val emb = rd(s, dir, "embeddings")
        val model = Similarity.ivfPqFit(emb, nlist = 4, m = 4, k = 16,
          dim = 64, coarseIters = 2)
        Similarity.ivfPqSearch(model, emb.filter(col("vec_id") < 5),
            topk = 5, m = 4, dim = 64, nprobe = 2)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH vm AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000, 0)) AS vm
        |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |ve AS (SELECT vec_id, unnest(range(0, len(vm))) AS dim,
        |    CAST(unnest(vm) AS BIGINT) AS v FROM vm),
        |cs AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
        |  FROM vm ORDER BY vec_id LIMIT 4),
        |cc AS (SELECT s.cell, ve.dim, ve.v AS cm
        |  FROM cs s JOIN ve ON s.vec_id = ve.vec_id),
        |cd AS (SELECT ve.vec_id, c.cell,
        |    CAST(sum((ve.v - c.cm) * (ve.v - c.cm)) AS BIGINT) AS dist
        |  FROM ve JOIN cc c ON ve.dim = c.dim GROUP BY 1, 2),
        |ca AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM cd) WHERE rn = 1),
        |cu AS (SELECT a.cell, ve.dim,
        |    CAST(round(CAST(sum(ve.v) AS BIGINT) / count(*), 0) AS BIGINT) AS cm
        |  FROM ve JOIN ca a ON ve.vec_id = a.vec_id GROUP BY a.cell, ve.dim),
        |cd2 AS (SELECT ve.vec_id, c.cell,
        |    CAST(sum((ve.v - c.cm) * (ve.v - c.cm)) AS BIGINT) AS dist
        |  FROM ve JOIN cu c ON ve.dim = c.dim GROUP BY 1, 2),
        |ca2 AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM cd2) WHERE rn = 1),
        |res AS (SELECT ve.vec_id, ve.dim, ve.v - c.cm AS r
        |  FROM ve JOIN ca2 a ON ve.vec_id = a.vec_id
        |  JOIN cu c ON c.cell = a.cell AND c.dim = ve.dim),
        |ps AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY
        |      $sqlPqSeedOrder) - 1 AS INT) AS code
        |  FROM vm ORDER BY $sqlPqSeedOrder LIMIT 16),
        |p0 AS (SELECT s.code, r.dim, r.r AS cm
        |  FROM ps s JOIN res r ON s.vec_id = r.vec_id),
        |pd1 AS (SELECT res.vec_id, res.dim // 16 AS sub, c.code,
        |    CAST(sum((res.r - c.cm) * (res.r - c.cm)) AS BIGINT) AS dist
        |  FROM res JOIN p0 c ON res.dim = c.dim GROUP BY 1, 2, 3),
        |pg1 AS (SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
        |    FROM pd1) WHERE rn = 1),
        |p1 AS (SELECT g.sub, g.code, res.dim,
        |    CAST(round(CAST(sum(res.r) AS BIGINT) / count(*), 0) AS BIGINT) AS cm
        |  FROM pg1 g JOIN res ON g.vec_id = res.vec_id AND res.dim // 16 = g.sub
        |  GROUP BY 1, 2, 3),
        |pd2 AS (SELECT res.vec_id, c.sub, c.code,
        |    CAST(sum((res.r - c.cm) * (res.r - c.cm)) AS BIGINT) AS dist
        |  FROM res JOIN p1 c ON res.dim = c.dim GROUP BY 1, 2, 3),
        |pcodes AS (SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
        |    FROM pd2) WHERE rn = 1),
        |qp AS (SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM cd2 WHERE vec_id < 5) WHERE rn <= 2),
        |qr AS (SELECT q.query_id, q.cell, ve.dim, ve.v - c.cm AS r
        |  FROM qp q JOIN ve ON ve.vec_id = q.query_id
        |  JOIN cu c ON c.cell = q.cell AND c.dim = ve.dim),
        |dtab AS (SELECT q.query_id, q.cell, c.sub, c.code,
        |    CAST(sum((q.r - c.cm) * (q.r - c.cm)) AS BIGINT) AS pdist
        |  FROM qr q JOIN p1 c ON q.dim = c.dim GROUP BY 1, 2, 3, 4),
        |adc AS (SELECT t.query_id, k.vec_id AS neighbor_id,
        |    CAST(sum(t.pdist) AS BIGINT) AS adist
        |  FROM pcodes k JOIN ca2 nc ON nc.vec_id = k.vec_id
        |  JOIN dtab t ON k.sub = t.sub AND k.code = t.code AND t.cell = nc.cell
        |  WHERE t.query_id <> k.vec_id GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, adist, rank FROM (
        |  SELECT query_id, neighbor_id, adist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
        |  FROM adc) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    // Exact squared-L2 brute top-5 in integer micro units — the metric-
    // matched baseline the L2-family ANN paths (PQ/IVF-PQ) are measured
    // against; an exact-integer BIGINT end to end, so the oracle is a
    // plain hash match.
    "e_knn_l2" -> Q(
      (s, dir) => {
        val emb = rd(s, dir, "embeddings")
        Similarity.knnBruteL2(emb, emb.filter(col("vec_id") < 5), k = 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH vm AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000, 0)) AS vm
        |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |ve AS (SELECT vec_id, unnest(range(0, len(vm))) AS dim,
        |    CAST(unnest(vm) AS BIGINT) AS v FROM vm),
        |q AS (SELECT vec_id, dim, v FROM ve WHERE vec_id < 5),
        |d AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    CAST(sum((q.v - n.v) * (q.v - n.v)) AS BIGINT) AS dist
        |  FROM q JOIN ve n ON q.dim = n.dim AND n.vec_id <> q.vec_id
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, dist, rank FROM (
        |  SELECT query_id, neighbor_id, dist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
        |  FROM d) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    // IVF-PQ with the exact re-rank REFINE step (FAISS IndexRefineFlat over
    // IndexIVFPQ): the inverted-file ADC read fetches topk*4 candidates,
    // then ONLY those rows are re-scored with the exact integer micro
    // squared-L2 and the true top-5 kept. The oracle replays the whole
    // pipeline — coarse assign, residual PQ, ADC candidates, exact refine.
    "e_ivf_pq_refine" -> Q(
      (s, dir) => {
        val emb = rd(s, dir, "embeddings")
        val model = Similarity.ivfPqFit(emb, nlist = 4, m = 4, k = 16, dim = 64)
        Similarity.ivfPqSearchRefined(model, emb.filter(col("vec_id") < 5),
            emb, topk = 5, m = 4, dim = 64, nprobe = 1, refine = 4)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH vm AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000, 0)) AS vm
        |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |ve AS (SELECT vec_id, unnest(range(0, len(vm))) AS dim,
        |    CAST(unnest(vm) AS BIGINT) AS v FROM vm),
        |cs AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
        |  FROM vm ORDER BY vec_id LIMIT 4),
        |cc AS (SELECT s.cell, ve.dim, ve.v AS cm
        |  FROM cs s JOIN ve ON s.vec_id = ve.vec_id),
        |cd AS (SELECT ve.vec_id, c.cell,
        |    CAST(sum((ve.v - c.cm) * (ve.v - c.cm)) AS BIGINT) AS dist
        |  FROM ve JOIN cc c ON ve.dim = c.dim GROUP BY 1, 2),
        |ca AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM cd) WHERE rn = 1),
        |res AS (SELECT ve.vec_id, ve.dim, ve.v - c.cm AS r
        |  FROM ve JOIN ca a ON ve.vec_id = a.vec_id
        |  JOIN cc c ON c.cell = a.cell AND c.dim = ve.dim),
        |ps AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY
        |      $sqlPqSeedOrder) - 1 AS INT) AS code
        |  FROM vm ORDER BY $sqlPqSeedOrder LIMIT 16),
        |p0 AS (SELECT s.code, r.dim, r.r AS cm
        |  FROM ps s JOIN res r ON s.vec_id = r.vec_id),
        |pd1 AS (SELECT res.vec_id, res.dim // 16 AS sub, c.code,
        |    CAST(sum((res.r - c.cm) * (res.r - c.cm)) AS BIGINT) AS dist
        |  FROM res JOIN p0 c ON res.dim = c.dim GROUP BY 1, 2, 3),
        |pg1 AS (SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
        |    FROM pd1) WHERE rn = 1),
        |p1 AS (SELECT g.sub, g.code, res.dim,
        |    CAST(round(CAST(sum(res.r) AS BIGINT) / count(*), 0) AS BIGINT) AS cm
        |  FROM pg1 g JOIN res ON g.vec_id = res.vec_id AND res.dim // 16 = g.sub
        |  GROUP BY 1, 2, 3),
        |pd2 AS (SELECT res.vec_id, c.sub, c.code,
        |    CAST(sum((res.r - c.cm) * (res.r - c.cm)) AS BIGINT) AS dist
        |  FROM res JOIN p1 c ON res.dim = c.dim GROUP BY 1, 2, 3),
        |pcodes AS (SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
        |    FROM pd2) WHERE rn = 1),
        |qr AS (SELECT vec_id AS query_id, dim, r FROM res WHERE vec_id < 5),
        |dtab AS (SELECT q.query_id, c.sub, c.code,
        |    CAST(sum((q.r - c.cm) * (q.r - c.cm)) AS BIGINT) AS pdist
        |  FROM qr q JOIN p1 c ON q.dim = c.dim GROUP BY 1, 2, 3),
        |adc AS (SELECT t.query_id, k.vec_id AS neighbor_id,
        |    CAST(sum(t.pdist) AS BIGINT) AS adist
        |  FROM pcodes k JOIN dtab t ON k.sub = t.sub AND k.code = t.code
        |  JOIN ca nc ON nc.vec_id = k.vec_id
        |  JOIN ca qc ON qc.vec_id = t.query_id AND qc.cell = nc.cell
        |  WHERE t.query_id <> k.vec_id GROUP BY 1, 2),
        |cand AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
        |    FROM adc) WHERE rnk <= 20),
        |ex AS (SELECT c.query_id, c.neighbor_id,
        |    CAST(sum((q.v - n.v) * (q.v - n.v)) AS BIGINT) AS dist
        |  FROM cand c JOIN ve q ON q.vec_id = c.query_id
        |  JOIN ve n ON n.vec_id = c.neighbor_id AND n.dim = q.dim
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, dist, rank FROM (
        |  SELECT query_id, neighbor_id, dist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
        |  FROM ex) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    // Per-label centroid-distance outliers (embedding-space data
    // cleaning): exact integer micro distances to the own-label centroid,
    // flagged when above factor x the label's integral-mean distance —
    // integers end to end, so the full report (distance, mean, flag)
    // hash-matches.
    "e_outliers" -> Q(
      (s, dir) =>
        Similarity.embeddingOutliers(rd(s, dir, "embeddings"), factor = 4)
          .orderBy("vec_id"),
      Some("""WITH vm AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000, 0)) AS vm
        |  FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND label IS NOT NULL),
        |ve AS (SELECT vec_id, label, unnest(range(0, len(vm))) AS dim,
        |    CAST(unnest(vm) AS BIGINT) AS v FROM vm),
        |c AS (SELECT label, dim,
        |    CAST(round(CAST(sum(v) AS BIGINT) / count(*), 0) AS BIGINT) AS cm
        |  FROM ve GROUP BY label, dim),
        |d AS (SELECT ve.vec_id, ve.label,
        |    CAST(sum((ve.v - c.cm) * (ve.v - c.cm)) AS BIGINT) AS dist_sq
        |  FROM ve JOIN c ON ve.label = c.label AND ve.dim = c.dim
        |  GROUP BY 1, 2),
        |m AS (SELECT label, CAST(sum(dist_sq) // count(*) AS BIGINT) AS mean_dist
        |  FROM d GROUP BY label)
        |SELECT d.vec_id, d.label, d.dist_sq, m.mean_dist,
        |  d.dist_sq > 4 * m.mean_dist AS is_outlier
        |FROM d JOIN m USING (label) ORDER BY d.vec_id""".stripMargin)),

    // Vector column statistics: norms + per-label rollup (array math).
    "e_embed_stats" -> Q(
      (s, dir) =>
        rd(s, dir, "embeddings")
          .select(col("label"),
            round(Similarity.norm(col("embedding")), 6).as("nrm"))
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            round(min(col("nrm")), 6).as("min_norm"),
            round(max(col("nrm")), 6).as("max_norm"))
          .orderBy("label"),
      Some("""WITH n AS (SELECT label, round(sqrt(list_reduce(
        |    list_transform(range(1, len(embedding)+1),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |    (a, b) -> a + b)), 6) AS nrm
        |  FROM embeddings)
        |SELECT label, count(*) AS n, round(min(nrm), 6) AS min_norm,
        |  round(max(nrm), 6) AS max_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin))
  )

  /** Shared CTE base for the PCA family: per-(vector, dim) long table,
    * per-dim sums, full d x d raw-product matrix, population covariance,
    * and — when `iters > 0` — that many UNROLLED power-iteration steps
    * (w_k = C v_{k-1}, v_k = w_k / |w_k|), the SQL mirror of
    * [[graft.operators.Pca.powerIterate]]. Both engines run the SAME fixed
    * step count from the SAME uniform start vector, so the iterate is a
    * deterministic function of the data (convergence NOT required for
    * cross-engine agreement — fp noise stays contracted; see Pca scaladoc). */
  private def sqlPcaCtes(iters: Int, d: Int = 64): String = {
    // MATERIALIZED + window-function normalization: DuckDB inlines plain
    // CTEs per reference, so a norm computed as a scalar subquery over w_k
    // would reference w_k twice -> 2^k plan expansion. One reference per
    // CTE and a materialized base keeps the unrolled chain linear.
    // Micro-grid moments (the Pca.MomentsAgg engine contract): components
    // snapped ONCE to round(x*1e6) bigints, sums exact integers, then the
    // covariance formed by the SAME fixed double expression the Scala
    // driver uses — (ss/n - (sa/n)(sb/n))/1e12 — so the cell is
    // bit-identical across engines and across any partitioning.
    val base = s"""WITH dmat AS MATERIALIZED (
      |  SELECT vec_id,
      |         unnest(range(1, ${d + 1})) AS i,
      |         unnest(list_transform(range(1, ${d + 1}),
      |           k -> CAST(embedding[k] AS DOUBLE))) AS x,
      |         unnest(list_transform(range(1, ${d + 1}),
      |           k -> CAST(round(CAST(embedding[k] AS DOUBLE) * 1000000, 0)
      |                     AS BIGINT))) AS mc
      |  FROM embeddings),
      |mstat AS MATERIALIZED (
      |  SELECT i, CAST(sum(mc) AS BIGINT) AS s, count(*) AS n
      |  FROM dmat GROUP BY i),
      |pmat AS MATERIALIZED (
      |  SELECT a.i AS i, b.i AS j, sum(a.mc * b.mc) AS ss, count(*) AS n
      |  FROM dmat a JOIN dmat b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
      |cmat AS MATERIALIZED (
      |  SELECT p.i, p.j,
      |    (CAST(p.ss AS DOUBLE) / p.n
      |      - (CAST(ma.s AS DOUBLE) / ma.n) * (CAST(mb.s AS DOUBLE) / mb.n))
      |      / 1000000000000.0 AS cov
      |  FROM pmat p JOIN mstat ma ON ma.i = p.i
      |  JOIN mstat mb ON mb.i = p.j),
      |v0 AS (SELECT i, 1.0 / sqrt($d) AS v FROM mstat)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""w$k AS (SELECT c.i AS i, sum(c.cov * v.v) AS w
         |  FROM cmat c JOIN v${k - 1} v ON v.i = c.j GROUP BY c.i),
         |v$k AS MATERIALIZED (
         |  SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM w$k)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  // def, not val: `val all` forces this group during object construction,
  // before later-declared plain vals initialize (they'd read as 0)
  private def PcaIters: Int = 24

  /** PC2 chain appended to the PC1 chain: Rayleigh lambda1 from the final
    * PC1 iterate, Hotelling deflation (C - lambda1 v1 v1'), then the same
    * unrolled power iteration on the deflated matrix from the c=1
    * deterministic non-uniform start of [[Pca.principalComponents]] (the
    * uniform vector can be orthogonal to PC2's dominant direction). */
  private def sqlPca2Ctes(iters: Int, d: Int = 64): String = {
    val v1 = s"v$iters"
    val base = s"""${sqlPcaCtes(iters)},
      |wl AS (SELECT c.i AS i, sum(c.cov * v.v) AS w
      |  FROM cmat c JOIN $v1 v ON v.i = c.j GROUP BY c.i),
      |lam AS MATERIALIZED (
      |  SELECT sum(v.v * w.w) AS l FROM $v1 v JOIN wl w ON w.i = v.i),
      |cmat2 AS MATERIALIZED (
      |  SELECT c.i, c.j, c.cov - (SELECT l FROM lam) * va.v * vb.v AS cov
      |  FROM cmat c JOIN $v1 va ON va.i = c.i JOIN $v1 vb ON vb.i = c.j),
      |u0 AS (SELECT i, 1.0 + 0.001 * (((i - 1) * 31 + 17) % 89) AS v
      |  FROM mstat)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""x$k AS (SELECT c.i AS i, sum(c.cov * v.v) AS w
         |  FROM cmat2 c JOIN u${k - 1} v ON v.i = c.j GROUP BY c.i),
         |u$k AS MATERIALIZED (
         |  SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM x$k)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** Replay of [[Pca.principalComponents]] + whitened [[Pca.projectTopK]]
    * for k = 2: unlike the PC1/PC2 rows (uniform start for PC1),
    * principalComponents uses the deterministic NON-uniform start
    * `1 + 0.001*((i*31 + c*17) % 89)` for EVERY component c, so this chain
    * runs PC1 from the c=0 start (a-chain), takes its Rayleigh lambda,
    * deflates, runs PC2 from the c=1 start (b-chain), and whitens each
    * projection by 1/sqrt(max(lambda, 1e-12)). */
  private def sqlPcaTopKCtes(iters: Int, d: Int = 64): String = {
    val base = s"""${sqlPcaCtes(0, d)},
      |a0 AS (SELECT i, 1.0 + 0.001 * (((i - 1) * 31) % 89) AS v FROM mstat)""".stripMargin
    val aSteps = (1 to iters).map { k =>
      s"""wa$k AS (SELECT c.i AS i, sum(c.cov * v.v) AS w
         |  FROM cmat c JOIN a${k - 1} v ON v.i = c.j GROUP BY c.i),
         |a$k AS MATERIALIZED (
         |  SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM wa$k)""".stripMargin
    }
    val deflate = s"""wla AS (SELECT c.i AS i, sum(c.cov * v.v) AS w
      |  FROM cmat c JOIN a$iters v ON v.i = c.j GROUP BY c.i),
      |lama AS MATERIALIZED (
      |  SELECT sum(v.v * w.w) AS l FROM a$iters v JOIN wla w ON w.i = v.i),
      |cmatd AS MATERIALIZED (
      |  SELECT c.i, c.j, c.cov - (SELECT l FROM lama) * va.v * vb.v AS cov
      |  FROM cmat c JOIN a$iters va ON va.i = c.i
      |  JOIN a$iters vb ON vb.i = c.j),
      |b0 AS (SELECT i, 1.0 + 0.001 * (((i - 1) * 31 + 17) % 89) AS v
      |  FROM mstat)""".stripMargin
    val bSteps = (1 to iters).map { k =>
      s"""xb$k AS (SELECT c.i AS i, sum(c.cov * v.v) AS w
         |  FROM cmatd c JOIN b${k - 1} v ON v.i = c.j GROUP BY c.i),
         |b$k AS MATERIALIZED (
         |  SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM xb$k)""".stripMargin
    }
    val lamb = s"""wlb AS (SELECT c.i AS i, sum(c.cov * v.v) AS w
      |  FROM cmatd c JOIN b$iters v ON v.i = c.j GROUP BY c.i),
      |lamb AS MATERIALIZED (
      |  SELECT sum(v.v * w.w) AS l FROM b$iters v JOIN wlb w ON w.i = v.i)""".stripMargin
    ((base +: aSteps) ++ (deflate +: bSteps) :+ lamb).mkString(",\n")
  }

  private lazy val pca: Seq[(String, Q)] = Seq(

    // Population covariance of the embedding cloud — the single-pass
    // moments aggregate (shuffle volume: one ~2k-double buffer per
    // partition, data-size independent). Upper triangle, 1-based dims.
    "e_covariance" -> Q(
      (s, dir) =>
        Pca.covarianceDF(rd(s, dir, "embeddings"), "embedding", 64)
          .select(col("i").cast("long"), col("j").cast("long"), col("cov"))
          .orderBy("i", "j"),
      Some(s"""${sqlPcaCtes(0)}
        |SELECT i, j, round(cov, 6) + 0 AS cov FROM cmat
        |WHERE i <= j ORDER BY i, j""".stripMargin)),

    // PC1 loadings after a fixed 24-step power iteration (driver-side on
    // the collected d x d covariance; the oracle unrolls the identical 24
    // steps as CTEs).
    "e_pca_loadings" -> Q(
      (s, dir) =>
        Pca.pc1LoadingsDF(rd(s, dir, "embeddings"), "embedding", 64,
            iters = PcaIters)
          .select(col("i").cast("long"), col("loading"))
          .orderBy("i"),
      Some(s"""${sqlPcaCtes(PcaIters)}
        |SELECT i, round(v, 6) AS loading FROM v$PcaIters
        |ORDER BY i""".stripMargin)),

    // Mean-centered projection of every vector onto PC1 — the distributed
    // pass is ONE codegen'd dot product per row against a broadcast
    // literal ((x - mu) . v = x . v - mu . v).
    "e_pca_project" -> Q(
      (s, dir) =>
        Pca.pc1Projection(rd(s, dir, "embeddings"), "vec_id", "embedding",
            64, iters = PcaIters)
          .select(col("vec_id"), round(col("pc1"), 6).as("pc1"))
          .orderBy("vec_id"),
      Some(s"""${sqlPcaCtes(PcaIters)},
        |proj AS (SELECT d.vec_id,
        |    sum((d.x - (m.s / m.n) / 1000000.0) * vv.v) AS p
        |  FROM dmat d JOIN mstat m ON m.i = d.i
        |  JOIN v$PcaIters vv ON vv.i = d.i
        |  GROUP BY d.vec_id)
        |SELECT vec_id, round(p, 6) AS pc1 FROM proj
        |ORDER BY vec_id""".stripMargin)),

    // PC2 via Hotelling deflation — the oracle replays lambda1 (Rayleigh),
    // the rank-1 subtraction, and 24 more unrolled steps from the same
    // deterministic non-uniform start the Scala deflation uses.
    "e_pca_pc2" -> Q(
      (s, dir) =>
        Pca.pc2LoadingsDF(rd(s, dir, "embeddings"), "embedding", 64,
            iters = PcaIters)
          .select(col("i").cast("long"), col("loading"))
          .orderBy("i"),
      Some(s"""${sqlPca2Ctes(PcaIters)}
        |SELECT i, round(v, 6) AS loading FROM u$PcaIters
        |ORDER BY i""".stripMargin)),

    // Whitened top-k projection (k=2) — the ANN/whitening preprocessor:
    // both components from principalComponents' deterministic non-uniform
    // starts, Hotelling deflation between them, each coordinate scaled by
    // 1/sqrt(lambda_c) so the projected cloud is isotropic. The oracle
    // unrolls both 24-step chains and both Rayleigh quotients.
    "e_pca_topk" -> Q(
      (s, dir) =>
        Pca.projectTopK(rd(s, dir, "embeddings"), "vec_id", "embedding", 64,
            k = 2, iters = PcaIters, whiten = true)
          .select(col("vec_id"),
            round(element_at(col("pc"), 1), 6).as("p1"),
            round(element_at(col("pc"), 2), 6).as("p2"))
          .orderBy("vec_id"),
      Some(s"""${sqlPcaTopKCtes(PcaIters)},
        |proj AS (SELECT d.vec_id,
        |    sum((d.x - (m.s / m.n) / 1000000.0) * a.v) AS p1,
        |    sum((d.x - (m.s / m.n) / 1000000.0) * b.v) AS p2
        |  FROM dmat d JOIN mstat m ON m.i = d.i
        |  JOIN a$PcaIters a ON a.i = d.i
        |  JOIN b$PcaIters b ON b.i = d.i
        |  GROUP BY d.vec_id)
        |SELECT vec_id,
        |  round(p1 / sqrt(greatest((SELECT l FROM lama), 1e-12)), 6) AS p1,
        |  round(p2 / sqrt(greatest((SELECT l FROM lamb), 1e-12)), 6) AS p2
        |FROM proj ORDER BY vec_id""".stripMargin)),

    // Semantic near-dup pairs via PCA-GRID candidate generation — the
    // dimensionality-reduction SemDeDup shape: whitened top-2 projection,
    // exact-micro grid cells, per-cell candidates, exact cosine confirm
    // on the original vectors. Cell assignment is integer-exact by
    // construction (VERDICT r10 #4): components, mean and eigenvectors
    // are all snapped to the micro grid BEFORE the centered dot product,
    // so the per-row sum is order-free integer arithmetic under 2^53 and
    // the oracle replays it term-for-term (round(s/n) mean, round(v*1e6)
    // loadings, one divide by 1e6*sqrt(lambda), one round, one floor-div).
    "e_pca_grid_dups" -> Q(
      (s, dir) =>
        Similarity.pcaGridDupPairs(rd(s, dir, "embeddings"),
            threshold = 0.3, iters = PcaIters)
          .orderBy("id_a", "id_b"),
      Some(s"""${sqlPcaTopKCtes(PcaIters)},
        |musnap AS (SELECT i, round(CAST(s AS DOUBLE) / n, 0) AS mu
        |  FROM mstat),
        |vsa AS (SELECT i, round(v * 1000000, 0) AS vm FROM a$PcaIters),
        |vsb AS (SELECT i, round(v * 1000000, 0) AS vm FROM b$PcaIters),
        |cells AS MATERIALIZED (SELECT d.vec_id,
        |    CAST(floor(round(sum((d.mc - m.mu) * a.vm)
        |      / (1000000 * sqrt(greatest((SELECT l FROM lama), 1e-12))), 0)
        |      / 500000.0) AS BIGINT) AS cx,
        |    CAST(floor(round(sum((d.mc - m.mu) * b.vm)
        |      / (1000000 * sqrt(greatest((SELECT l FROM lamb), 1e-12))), 0)
        |      / 500000.0) AS BIGINT) AS cy
        |  FROM dmat d JOIN musnap m ON m.i = d.i
        |  JOIN vsa a ON a.i = d.i JOIN vsb b ON b.i = d.i
        |  GROUP BY d.vec_id),
        |vv AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        |pairs AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
        |    round(${sqlCos("qv.v", "nv.v")}, 6) AS cos_sim
        |  FROM cells a JOIN cells c
        |    ON a.cx = c.cx AND a.cy = c.cy AND a.vec_id < c.vec_id
        |  JOIN vv qv ON qv.id = a.vec_id JOIN vv nv ON nv.id = c.vec_id)
        |SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.3
        |ORDER BY id_a, id_b""".stripMargin)),

    // Spectrum summary: PC1 eigenvalue, total variance (trace), explained
    // ratio — the "is one direction dominating the cloud" health check.
    "e_pca_var" -> Q(
      (s, dir) =>
        Pca.varianceSummaryDF(rd(s, dir, "embeddings"), "embedding", 64,
          iters = PcaIters),
      Some(s"""${sqlPcaCtes(PcaIters)},
        |wl AS (SELECT c.i AS i, sum(c.cov * v.v) AS w
        |  FROM cmat c JOIN v$PcaIters v ON v.i = c.j GROUP BY c.i),
        |lam AS MATERIALIZED (
        |  SELECT sum(v.v * w.w) AS l FROM v$PcaIters v JOIN wl w ON w.i = v.i),
        |tr AS (SELECT sum(cov) AS t FROM cmat WHERE i = j)
        |SELECT round((SELECT l FROM lam), 6) AS lambda1,
        |       round(t, 6) AS trace,
        |       round((SELECT l FROM lam) / t, 6) AS var_ratio
        |FROM tr""".stripMargin))
  )

  // --------------------------------------------------------- multimodal

  private lazy val multimodal: Seq[(String, Q)] = Seq(

    // Binary-column plumbing: payload bytes + deterministic "frame" digests
    // (decode itself is stubbed — see operators.Multimodal).
    "m_payload_meta" -> Q(
      (s, dir) => {
        val text = col("text")
        val n = length(text)
        // char-quarter frame [i*n/4, (i+1)*n/4) digest
        def frame(i: Int): Column = md5(text.substr(
          (floor(n * i / 4) + 1).cast("int"),
          (floor(n * (i + 1) / 4) - floor(n * i / 4)).cast("int")))
        rd(s, dir, "documents").select(
          col("doc_id"),
          octet_length(text).cast("long").as("n_bytes"),
          md5(text).as("payload_md5"),
          frame(0).as("frame0_md5"), frame(1).as("frame1_md5"),
          frame(2).as("frame2_md5"), frame(3).as("frame3_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, strlen(text)::BIGINT AS n_bytes, md5(text) AS payload_md5,
        |  md5(substring(text, CAST(floor(length(text) * 0 / 4) AS INTEGER) + 1,
        |    CAST(floor(length(text) * 1 / 4) - floor(length(text) * 0 / 4) AS INTEGER))) AS frame0_md5,
        |  md5(substring(text, CAST(floor(length(text) * 1 / 4) AS INTEGER) + 1,
        |    CAST(floor(length(text) * 2 / 4) - floor(length(text) * 1 / 4) AS INTEGER))) AS frame1_md5,
        |  md5(substring(text, CAST(floor(length(text) * 2 / 4) AS INTEGER) + 1,
        |    CAST(floor(length(text) * 3 / 4) - floor(length(text) * 2 / 4) AS INTEGER))) AS frame2_md5,
        |  md5(substring(text, CAST(floor(length(text) * 3 / 4) AS INTEGER) + 1,
        |    CAST(floor(length(text) * 4 / 4) - floor(length(text) * 3 / 4) AS INTEGER))) AS frame3_md5
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Decode-stub features over the payload column: exercises the multimodal
    // decode plumbing end-to-end (schema + deterministic fake features; the
    // codec itself is stubbed, operators.Multimodal).
    "m_decode_features" -> Q(
      (s, dir) => {
        val withPayload = Multimodal.attachPayload(rd(s, dir, "documents"),
          encode(col("text"), "UTF-8"), "text/plain")
        Multimodal.decodeStub(withPayload, featureDims = 8)
          .select(col("doc_id"), posexplode(col("features")).as(Seq("dim", "feature")))
          .select(col("doc_id"), col("dim").cast("long").as("dim"),
            round(col("feature"), 6).as("feature"))
          .orderBy("doc_id", "dim")
      },
      Some(s"""WITH p AS (SELECT doc_id, md5(text) AS digest FROM documents),
        |f AS (SELECT doc_id, d.dim AS dim,
        |    (${sqlHash60("digest || ':' || d.dim")} % 1000000) / 1000000.0 - 0.5 AS feature
        |  FROM p, (SELECT unnest(range(0, 8)) AS dim) d)
        |SELECT doc_id, dim, round(feature, 6) AS feature
        |FROM f ORDER BY doc_id, dim""".stripMargin)),

    // MIME sniffing by magic bytes over REAL binary payloads built in-plan:
    // each doc's md5 digest bytes get one of the six container signatures
    // (or none) prepended by hash choice, then `sniffMime` classifies from
    // the first bytes alone. The oracle replays both the payload
    // construction AND the sniff over the hex form — so a digest that
    // happens to start with a magic sequence classifies identically on
    // both engines.
    "m_magic_sniff" -> Q(
      (s, dir) => {
        import graft.functions.TextFunctions.hash60
        val magics = Multimodal.MagicNumbers
        val choice = hash60(concat(col("doc_id").cast("string"), lit(":magic"))) % (magics.size + 1)
        val prefixHex = magics.zipWithIndex
          .foldRight(lit(""): Column) { case (((_, magic), i), acc) =>
            when(choice === i, lit(magic)).otherwise(acc)
          }
        val payload = unhex(concat(prefixHex, md5(col("text"))))
        rd(s, dir, "documents").select(
            col("doc_id"),
            Multimodal.sniffMime(payload).as("mime"),
            octet_length(payload).cast("long").as("n_bytes"))
          .orderBy("doc_id")
      },
      Some {
        val magics = Multimodal.MagicNumbers
        val prefixCase = magics.zipWithIndex
          .map { case ((_, magic), i) => s"WHEN $i THEN '$magic'" }
          .mkString(" ")
        val sniffCase = magics
          .map { case (mime, magic) =>
            s"WHEN substring(hx, 1, ${magic.length}) = '$magic' THEN '$mime'"
          }
          .mkString("\n        |    ")
        s"""WITH p AS (SELECT doc_id,
        |    ${sqlHash60("CAST(doc_id AS VARCHAR) || ':magic'")} % ${magics.size + 1} AS c,
        |    md5(text) AS h FROM documents),
        |hp AS (SELECT doc_id,
        |    upper((CASE c $prefixCase ELSE '' END) || h) AS hx FROM p)
        |SELECT doc_id,
        |  CASE $sniffCase
        |    ELSE 'application/octet-stream' END AS mime,
        |  CAST(length(hx) / 2 AS BIGINT) AS n_bytes
        |FROM hp ORDER BY doc_id""".stripMargin
      }),

    // REAL image decode (javax.imageio, JDK-native PNG codec): deterministic
    // solid-color PNG payloads are ENCODED in-plan from doc_id arithmetic,
    // then DECODED back by the real codec; the oracle predicts the decoded
    // geometry and exact integer channel sums from the same arithmetic —
    // so a codec round-trip failure, a channel-order bug, or a dropped
    // corrupt-payload null all hash-mismatch. Every 10th payload is a
    // truncated (broken) PNG and must surface as an all-null stats row.
    "m_image_decode" -> Q(
      (s, dir) =>
        Multimodal.decodeImage(
            Multimodal.syntheticImagePayloads(rd(s, dir, "documents")))
          .orderBy("doc_id"),
      Some("""WITH g AS (SELECT doc_id,
        |    1 + doc_id % 8 AS w, 1 + (doc_id // 8) % 5 AS h,
        |    (doc_id * 37) % 256 AS r, (doc_id * 59) % 256 AS g2,
        |    (doc_id * 83) % 256 AS b, (doc_id % 10 = 0) AS corrupt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE w END AS BIGINT) AS width,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE h END AS BIGINT) AS height,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE w * h END AS BIGINT) AS n_px,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE w * h * r END AS BIGINT) AS sum_r,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE w * h * g2 END AS BIGINT) AS sum_g,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE w * h * b END AS BIGINT) AS sum_b
        |FROM g ORDER BY doc_id""".stripMargin)),

    // REAL audio decode (javax.sound.sampled, JDK-native WAV/PCM): 16-bit
    // PCM WAV payloads are ENCODED in-plan from doc_id arithmetic, DECODED
    // back by the real codec, and reduced to exact-integer stats; the
    // oracle regenerates every sample arithmetically and predicts the
    // decoded format fields + the sum of absolute sample values. Every
    // 10th payload is a truncated RIFF header and must surface all-null.
    "m_audio_decode" -> Q(
      (s, dir) =>
        Multimodal.decodeAudio(
            Multimodal.syntheticWavPayloads(rd(s, dir, "documents")))
          .orderBy("doc_id"),
      Some("""WITH g AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
        |    50 + doc_id % 100 AS nf, (doc_id % 10 = 0) AS corrupt
        |  FROM documents),
        |t AS (SELECT doc_id, ch, nf, corrupt,
        |    unnest(range(0, nf)) AS t FROM g),
        |s AS (SELECT doc_id, ch, nf, corrupt, t,
        |    unnest(range(0, ch)) AS c FROM t),
        |a AS (SELECT doc_id, any_value(ch) AS ch, any_value(nf) AS nf,
        |    any_value(corrupt) AS corrupt,
        |    CAST(sum(abs(((doc_id * 31 + t * 7 + c * 13) % 65536) - 32768))
        |      AS BIGINT) AS sum_abs
        |  FROM s GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE 8000 END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE ch END AS BIGINT) AS channels,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE 16 END AS BIGINT) AS bits,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE nf END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE sum_abs END AS BIGINT) AS sum_abs
        |FROM a ORDER BY doc_id""".stripMargin)),

    // REAL multi-frame (video-style) decode: animated-GIF payloads are
    // ENCODED in-plan (the JDK's only multi-frame codec; solid-color
    // frames survive the 256-color palette exactly), then every frame is
    // extracted back through the real reader — one row per frame with
    // exact pixel sums the oracle predicts arithmetically. Corrupt
    // payloads (every 10th, truncated GIF header) surface as ONE all-null
    // frame row. A null frame_idx only ever occurs on such single-row
    // documents, so the (doc_id, frame_idx) order is engine-unambiguous.
    "m_video_frames" -> Q(
      (s, dir) =>
        Multimodal.decodeFrames(
            Multimodal.syntheticGifPayloads(rd(s, dir, "documents")))
          .orderBy("doc_id", "frame_idx"),
      Some("""WITH g AS (SELECT doc_id, 2 + doc_id % 4 AS nf,
        |    4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h,
        |    (doc_id % 10 = 0) AS corrupt
        |  FROM documents),
        |fr AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f
        |  FROM g WHERE NOT corrupt),
        |ok AS (SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        |    CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |    CAST(w * h AS BIGINT) AS n_px,
        |    CAST(w * h * ((doc_id * 37 + f * 11) % 256) AS BIGINT) AS sum_r,
        |    CAST(w * h * ((doc_id * 59 + f * 23) % 256) AS BIGINT) AS sum_g,
        |    CAST(w * h * ((doc_id * 83 + f * 41) % 256) AS BIGINT) AS sum_b
        |  FROM fr),
        |bad AS (SELECT doc_id, CAST(NULL AS BIGINT) AS frame_idx,
        |    CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
        |    CAST(NULL AS BIGINT) AS n_px, CAST(NULL AS BIGINT) AS sum_r,
        |    CAST(NULL AS BIGINT) AS sum_g, CAST(NULL AS BIGINT) AS sum_b
        |  FROM g WHERE corrupt)
        |SELECT * FROM ok UNION ALL SELECT * FROM bad
        |ORDER BY doc_id, frame_idx""".stripMargin)),

    // Deterministic frame sampling: every 2nd frame of each decoded GIF
    // (stride sampler, no RNG); corrupt rows pass through for triage. The
    // oracle is the frame-decode oracle filtered to even frame indices.
    "m_frame_sample" -> Q(
      (s, dir) =>
        Multimodal.sampleFrames(
            Multimodal.decodeFrames(
              Multimodal.syntheticGifPayloads(rd(s, dir, "documents"))),
            every = 2)
          .orderBy(asc("doc_id"), asc_nulls_first("frame_idx")),
      Some("""WITH g AS (SELECT doc_id, 2 + doc_id % 4 AS nf,
        |    4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h,
        |    (doc_id % 10 = 0) AS corrupt
        |  FROM documents),
        |fr AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f
        |  FROM g WHERE NOT corrupt),
        |ok AS (SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        |    CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |    CAST(w * h AS BIGINT) AS n_px,
        |    CAST(w * h * ((doc_id * 37 + f * 11) % 256) AS BIGINT) AS sum_r,
        |    CAST(w * h * ((doc_id * 59 + f * 23) % 256) AS BIGINT) AS sum_g,
        |    CAST(w * h * ((doc_id * 83 + f * 41) % 256) AS BIGINT) AS sum_b
        |  FROM fr WHERE f % 2 = 0),
        |bad AS (SELECT doc_id, CAST(NULL AS BIGINT) AS frame_idx,
        |    CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
        |    CAST(NULL AS BIGINT) AS n_px, CAST(NULL AS BIGINT) AS sum_r,
        |    CAST(NULL AS BIGINT) AS sum_g, CAST(NULL AS BIGINT) AS sum_b
        |  FROM g WHERE corrupt)
        |SELECT * FROM ok UNION ALL SELECT * FROM bad
        |ORDER BY doc_id, frame_idx""".stripMargin)),

    // Exact block-average resize to an 8x8 gray grid over REAL decoded
    // pixels — the standalone downscale step (aHash's first stage);
    // integer floor-division block means, so every target pixel is
    // predicted arithmetically from the gradient formula.
    "m_image_resize" -> Q(
      (s, dir) =>
        Multimodal.imageResize(
            Multimodal.syntheticGradientPayloads(rd(s, dir, "documents")))
          .orderBy(asc("doc_id"), asc_nulls_first("by"), asc_nulls_first("bx")),
      Some("""WITH g AS (SELECT doc_id, 4 + doc_id % 12 AS w,
        |    4 + (doc_id // 12) % 9 AS h, (doc_id % 10 = 0) AS corrupt
        |  FROM documents),
        |px AS (SELECT doc_id, w, h, least(8, w) AS gw, least(8, h) AS gh,
        |    x, y, (doc_id * 37 + x * 11 + y * 29) % 256 AS v
        |  FROM g, unnest(range(0, w)) AS ux(x), unnest(range(0, h)) AS uy(y)
        |  WHERE NOT corrupt),
        |b AS (SELECT doc_id, CAST(gw AS BIGINT) AS gw, CAST(gh AS BIGINT) AS gh,
        |    CAST((x * gw) // w AS BIGINT) AS bx, CAST((y * gh) // h AS BIGINT) AS by,
        |    CAST(sum(v) // count(*) AS BIGINT) AS v
        |  FROM px GROUP BY 1, 2, 3, 4, 5),
        |bad AS (SELECT doc_id, CAST(NULL AS BIGINT) AS gw,
        |    CAST(NULL AS BIGINT) AS gh, CAST(NULL AS BIGINT) AS bx,
        |    CAST(NULL AS BIGINT) AS by, CAST(NULL AS BIGINT) AS v
        |  FROM g WHERE corrupt)
        |SELECT * FROM b UNION ALL SELECT * FROM bad
        |ORDER BY doc_id, by, bx""".stripMargin)),

    // Perceptual average hash over REAL decoded pixels: gradient PNGs are
    // encoded in-plan from doc_id arithmetic, decoded by the real JDK
    // codec, block-averaged onto an 8x8 grid and bit-packed (two 32-bit
    // words — DuckDB's << refuses the BIGINT sign bit). Exact integers:
    // the bit test cross-multiplies block and image sums, so the oracle
    // predicts every bit from the gradient formula alone. Every 10th
    // payload is truncated -> all-null hash row.
    "m_image_ahash" -> Q(
      (s, dir) =>
        Multimodal.imageAHash(
            Multimodal.syntheticGradientPayloads(rd(s, dir, "documents")))
          .orderBy("doc_id"),
      Some("""WITH g AS (SELECT doc_id, 4 + doc_id % 12 AS w,
        |    4 + (doc_id // 12) % 9 AS h, (doc_id % 10 = 0) AS corrupt
        |  FROM documents),
        |px AS (SELECT doc_id, w, h, least(8, w) AS gw, least(8, h) AS gh,
        |    x, y, (doc_id * 37 + x * 11 + y * 29) % 256 AS v
        |  FROM g, unnest(range(0, w)) AS ux(x), unnest(range(0, h)) AS uy(y)
        |  WHERE NOT corrupt),
        |b AS (SELECT doc_id, gw, gh, (y * gh) // h AS by, (x * gw) // w AS bx,
        |    CAST(sum(v) AS BIGINT) AS sb, CAST(count(*) AS BIGINT) AS nb
        |  FROM px GROUP BY 1, 2, 3, 4, 5),
        |t AS (SELECT doc_id, CAST(sum(sb) AS BIGINT) AS st,
        |    CAST(sum(nb) AS BIGINT) AS nt
        |  FROM b GROUP BY 1),
        |bits AS (SELECT b.doc_id, b.gw, b.gh,
        |    CASE WHEN b.by < b.gh // 2 AND b.sb * t.nt > t.st * b.nb
        |      THEN 1::BIGINT << CAST(b.by * b.gw + b.bx AS INTEGER)
        |      ELSE 0::BIGINT END AS hbit,
        |    CASE WHEN b.by >= b.gh // 2 AND b.sb * t.nt > t.st * b.nb
        |      THEN 1::BIGINT << CAST((b.by - b.gh // 2) * b.gw + b.bx AS INTEGER)
        |      ELSE 0::BIGINT END AS lbit
        |  FROM b JOIN t USING (doc_id)),
        |hashed AS (SELECT doc_id, CAST(any_value(gw) AS BIGINT) AS gw,
        |    CAST(any_value(gh) AS BIGINT) AS gh,
        |    CAST(bit_or(hbit) AS BIGINT) AS ahash_hi,
        |    CAST(bit_or(lbit) AS BIGINT) AS ahash_lo
        |  FROM bits GROUP BY doc_id)
        |SELECT d.doc_id, hh.gw, hh.gh, hh.ahash_hi, hh.ahash_lo
        |FROM documents d LEFT JOIN hashed hh ON d.doc_id = hh.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // Image dedup BY perceptual hash — the composition the fixtures were
    // built for: consecutive ids are the same image at two brightnesses,
    // aHash is exactly brightness-invariant, so hash-equality grouping
    // must pair them (keeper = lowest id per hash). Undecodable payloads
    // are excluded from grouping (no hash to group on).
    "m_image_dups" -> Q(
      (s, dir) => {
        val hashed = graft.core.CacheScope.persist(
          Multimodal.imageAHash(
              Multimodal.syntheticGradientPairPayloads(rd(s, dir, "documents")))
            .filter(col("ahash_hi").isNotNull))
        val keep = hashed.groupBy("gw", "gh", "ahash_hi", "ahash_lo")
          .agg(min("doc_id").as("keeper"))
        hashed.join(keep, Seq("gw", "gh", "ahash_hi", "ahash_lo"))
          .select(col("doc_id"), col("keeper"),
            (col("doc_id") =!= col("keeper")).as("is_dup"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (SELECT doc_id, doc_id - doc_id % 2 AS base,
        |    (doc_id % 2) * 7 AS shift,
        |    4 + (doc_id - doc_id % 2) % 12 AS w,
        |    4 + ((doc_id - doc_id % 2) // 12) % 9 AS h,
        |    (doc_id % 10 = 0) AS corrupt
        |  FROM documents),
        |px AS (SELECT doc_id, w, h, least(8, w) AS gw, least(8, h) AS gh,
        |    x, y, (base * 37 + x * 11 + y * 29) % 200 + shift AS v
        |  FROM g, unnest(range(0, w)) AS ux(x), unnest(range(0, h)) AS uy(y)
        |  WHERE NOT corrupt),
        |b AS (SELECT doc_id, gw, gh, (y * gh) // h AS by, (x * gw) // w AS bx,
        |    CAST(sum(v) AS BIGINT) AS sb, CAST(count(*) AS BIGINT) AS nb
        |  FROM px GROUP BY 1, 2, 3, 4, 5),
        |t AS (SELECT doc_id, CAST(sum(sb) AS BIGINT) AS st,
        |    CAST(sum(nb) AS BIGINT) AS nt
        |  FROM b GROUP BY 1),
        |bits AS (SELECT b.doc_id, b.gw, b.gh,
        |    CASE WHEN b.by < b.gh // 2 AND b.sb * t.nt > t.st * b.nb
        |      THEN 1::BIGINT << CAST(b.by * b.gw + b.bx AS INTEGER)
        |      ELSE 0::BIGINT END AS hbit,
        |    CASE WHEN b.by >= b.gh // 2 AND b.sb * t.nt > t.st * b.nb
        |      THEN 1::BIGINT << CAST((b.by - b.gh // 2) * b.gw + b.bx AS INTEGER)
        |      ELSE 0::BIGINT END AS lbit
        |  FROM b JOIN t USING (doc_id)),
        |hashed AS (SELECT doc_id, CAST(any_value(gw) AS BIGINT) AS gw,
        |    CAST(any_value(gh) AS BIGINT) AS gh,
        |    CAST(bit_or(hbit) AS BIGINT) AS ahash_hi,
        |    CAST(bit_or(lbit) AS BIGINT) AS ahash_lo
        |  FROM bits GROUP BY doc_id),
        |keep AS (SELECT gw, gh, ahash_hi, ahash_lo, min(doc_id) AS keeper
        |  FROM hashed GROUP BY 1, 2, 3, 4)
        |SELECT h.doc_id, k.keeper, h.doc_id <> k.keeper AS is_dup
        |FROM hashed h JOIN keep k USING (gw, gh, ahash_hi, ahash_lo)
        |ORDER BY h.doc_id""".stripMargin)),

    // VAD-ish energy segmentation over real decoded PCM: burst WAV
    // fixtures (quiet/loud 25-frame blocks) are encoded in-plan, decoded
    // by the real JDK codec, windowed, thresholded against the track mean
    // (cross-multiplied integers — no float mean) and merged into
    // segments. The oracle regenerates every sample arithmetically and
    // replays the merge as gaps-and-islands. Truncated payloads -> one
    // all-null row.
    "m_audio_segments" -> Q(
      (s, dir) =>
        Multimodal.audioEnergySegments(
            Multimodal.syntheticBurstWavPayloads(rd(s, dir, "documents")),
            winFrames = 25, factor = 1)
          .orderBy(asc("doc_id"), asc_nulls_first("seg_idx")),
      Some("""WITH g AS (SELECT doc_id, 200 + doc_id % 100 AS nf,
        |    (doc_id % 10 = 0) AS corrupt FROM documents),
        |s AS (SELECT doc_id, t, t // 25 AS win,
        |    abs(((doc_id * 31 + t * 7) %
        |        (CASE WHEN (t // 25) % 2 = 0 THEN 128 ELSE 32768 END))
        |      - CASE WHEN (t // 25) % 2 = 0 THEN 64 ELSE 16384 END) AS av
        |  FROM g, unnest(range(0, nf)) AS u(t) WHERE NOT corrupt),
        |w AS (SELECT doc_id, win, CAST(sum(av) AS BIGINT) AS sa,
        |    CAST(count(*) AS BIGINT) AS ns FROM s GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(sa) AS BIGINT) AS tsa,
        |    CAST(sum(ns) AS BIGINT) AS tns FROM w GROUP BY 1),
        |act AS (SELECT w.doc_id, w.win, w.sa FROM w JOIN tot USING (doc_id)
        |  WHERE w.sa * tot.tns > tot.tsa * w.ns),
        |seg AS (SELECT doc_id, win, sa,
        |    win - row_number() OVER (PARTITION BY doc_id ORDER BY win) AS grp
        |  FROM act),
        |segs AS (SELECT doc_id, CAST(min(win) AS BIGINT) AS start_win,
        |    CAST(count(*) AS BIGINT) AS n_wins,
        |    CAST(sum(sa) AS BIGINT) AS sum_abs,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY min(win))
        |      AS BIGINT) AS seg_idx
        |  FROM seg GROUP BY doc_id, grp)
        |SELECT doc_id, seg_idx, start_win, n_wins, sum_abs FROM segs
        |UNION ALL
        |SELECT doc_id, NULL, NULL, NULL, NULL FROM g WHERE corrupt
        |ORDER BY doc_id, seg_idx NULLS FIRST""".stripMargin)),

    // The triage -> dispatch composition a mixed-media crawl runs: build a
    // corpus whose payloads are REAL PNGs (even ids) and REAL WAVs (odd
    // ids), sniff each payload's container by magic bytes — the declared
    // type is never trusted — and route every row to the matching REAL
    // decoder; emit one unified (kind, units, checksum) row per document.
    // Corrupt payloads (every 10th, truncated) still sniff correctly (the
    // magic prefix survives truncation) and surface as null units from
    // their decoder — triage keeps them visible, decode nulls them.
    "m_dispatch" -> Q(
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        // persist: three dispatch branches read the payload table; the
        // codec-encode pass must run once, not once per branch
        val payloads = graft.core.CacheScope.persist(Multimodal
          .syntheticImagePayloads(docs.filter(col("doc_id") % 2 === 0))
          .union(Multimodal
            .syntheticWavPayloads(docs.filter(col("doc_id") % 2 === 1)))
          .withColumn("mime", Multimodal.sniffMime(col("payload"))))
        val images = Multimodal
          .decodeImage(payloads.filter(col("mime") === "image/png"))
          .select(col("doc_id"), lit("image").as("kind"),
            col("n_px").as("units"),
            (col("sum_r") + col("sum_g") + col("sum_b")).as("checksum"))
        val audio = Multimodal
          .decodeAudio(payloads.filter(col("mime") === "application/x-riff"))
          .select(col("doc_id"), lit("audio").as("kind"),
            col("n_frames").as("units"), col("sum_abs").as("checksum"))
        val opaque = payloads
          .filter(col("mime") =!= "image/png" &&
            col("mime") =!= "application/x-riff")
          .select(col("doc_id"), lit("opaque").as("kind"),
            lit(null).cast("long").as("units"),
            lit(null).cast("long").as("checksum"))
        images.union(audio).union(opaque).orderBy("doc_id")
      },
      Some("""WITH img AS (SELECT doc_id, 1 + doc_id % 8 AS w,
        |    1 + (doc_id // 8) % 5 AS h,
        |    ((doc_id * 37) % 256) + ((doc_id * 59) % 256)
        |      + ((doc_id * 83) % 256) AS csum,
        |    (doc_id % 10 = 0) AS corrupt
        |  FROM documents WHERE doc_id % 2 = 0),
        |aud AS (SELECT doc_id, 1 + doc_id % 2 AS ch, 50 + doc_id % 100 AS nf,
        |    (doc_id % 10 = 0) AS corrupt
        |  FROM documents WHERE doc_id % 2 = 1),
        |samp AS (SELECT doc_id, nf, corrupt, unnest(range(0, nf)) AS t, ch
        |  FROM aud),
        |sc AS (SELECT doc_id, nf, corrupt, t, unnest(range(0, ch)) AS c
        |  FROM samp),
        |asum AS (SELECT doc_id, any_value(nf) AS nf,
        |    any_value(corrupt) AS corrupt,
        |    CAST(sum(abs(((doc_id * 31 + t * 7 + c * 13) % 65536) - 32768))
        |      AS BIGINT) AS sum_abs
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, 'image' AS kind,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE w * h END AS BIGINT) AS units,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE w * h * csum END AS BIGINT) AS checksum
        |FROM img
        |UNION ALL
        |SELECT doc_id, 'audio' AS kind,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE nf END AS BIGINT) AS units,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE sum_abs END AS BIGINT) AS checksum
        |FROM asum
        |ORDER BY doc_id""".stripMargin))
  )
}
