package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.IndexManifest
import graft.sources.Tables
import graft.relational.Staging
import graft.relational.Staging.StagingSpec

/** A named query with an optional DuckDB-equivalent oracle SQL.
  *
  * Every query orders its output deterministically (unique key combos) so
  * the harness compare never depends on partition/run order, and every
  * float aggregate is rounded identically on both sides — distributed
  * summation order differs between engines, so raw double aggregates are
  * not bit-comparable (SURVEY §7.4 item 3).
  */
final case class RegisteredQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Row type for the typed-Dataset query (top-level by necessity:
  * Spark's Product encoders cannot derive for method-local classes).
  */
final case class Ord(o_orderkey: Long, o_custkey: Long,
    o_orderstatus: String, o_totalprice: Double, o_orderpriority: String)

/** The engine's registered query inventory (SURVEY §2.2 delegated surface
  * plus the encode-stratum SQL-expressible slices). The reference exposes
  * this whole surface through its SQL REPL (reference
  * `Trainer.scala:110-121`); here each category is authored as a
  * first-class DataFrame program so plans stay declarative: filters reach
  * the parquet scan, small dimensions broadcast, aggregates get map-side
  * partial combine from Catalyst.
  */
object Catalog {

  /** Filesystem/table-name-safe tag of a fixture dir — the FULL path,
    * sanitized. A 32-bit `hashCode` tag collides across datasets,
    * which for the STAMPED build-once caches below (bucketed tables,
    * disk ANN indexes) means two datasets fighting over one cache
    * path; ephemeral write-then-read temp dirs are unaffected.
    */
  private def dirTag(d: String): String =
    d.replaceAll("[^A-Za-z0-9_]", "_").replaceAll("_+", "_")
      .stripPrefix("_")

  /** Order-independent money sum, rounded to cents. The per-row double
    * `term` is bit-identical in any engine (IEEE ops), but a multi-
    * million-row double SUM is order-dependent — at sf1 the q5 revenue
    * flipped its rounded cent between Spark's partial-aggregate order
    * and DuckDB's scan order. Quantize each term to an integer count
    * of 1e-4 units (`round(term·10⁴)` — one identical IEEE multiply +
    * half-away round on both engines), sum as DECIMAL(38,0) (exact,
    * associative, overflow-free to 10³⁸ scaled units ≈ $10³⁴ per
    * group — a LONG partial would wrap SILENTLY around sf≈16k, where
    * one group's revenue crosses 2⁶³/10⁴ ≈ $9.2e14; a 100 TB TPC-H's
    * total lineitem revenue is ~$2e16), and divide back. The DuckDB
    * oracle twin sums BIGINT into HUGEINT (int128), so both engines
    * carry exact integer totals and agree on the final integer→double
    * rounding. Oracle twin:
    * `round(CAST(sum(CAST(round(term*10000) AS BIGINT)) AS DOUBLE)
    *  / 10000.0, 2)`.
    */
  private def moneySum(term: org.apache.spark.sql.Column):
      org.apache.spark.sql.Column =
    round(sum(round(term * lit(10000.0), 0).cast("decimal(38,0)"))
      .cast("double") / 10000.0, 2)

  /** The scaled-decimal partial of [[moneySum]] for ratio-of-sums
    * aggregates: exact and order-independent; divide two of these and
    * the 10⁴ scales cancel exactly (both engines run the identical
    * exact-integer→double casts and one division).
    */
  private def moneySumRaw(term: org.apache.spark.sql.Column):
      org.apache.spark.sql.Column =
    sum(round(term * lit(10000.0), 0).cast("decimal(38,0)"))
      .cast("double")

  /** Freshness stamp of source parquet paths (name:length:mtime of
    * every part file) — what `stampGate` compares, so a persisted
    * layout investment (bucketed tables, disk indexes) rebuilds exactly
    * when the fixture regenerates. Shared by every build-once cache so
    * the stamping rule can't silently diverge between them.
    */
  private def sourceStamp(paths: String*): String = paths.map { p =>
    val f = new java.io.File(p)
    val parts = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq(f))
    parts.sortBy(_.getName)
      .map(x => s"${x.getName}:${x.length}:${x.lastModified}")
      .mkString(",")
  }.mkString(";")

  private val stampLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** THE build-once gate of every persisted artifact (bucketed tables,
    * disk indexes, skip-index sidecars, the purchase graph, trained
    * model sidecars): runs `build` unless the file at `stampPath`
    * holds `stamp` and `present` holds. The check runs under a lock
    * per stamp path, held until the stamp is written — a
    * check-then-act outside it let two callers both rebuild, or read
    * an artifact another thread was overwriting. Each path has one
    * builder, and a nested gate (an index build that trains
    * centroids) always locks in dependency order. The stamp is
    * deleted before `build` and written only after it, so a build
    * that throws or dies leaves no stamp and the next call rebuilds.
    */
  private[queries] def stampGate(stampPath: String, stamp: String,
      present: => Boolean = true)(build: => Unit): Unit =
    stampLocks.computeIfAbsent(stampPath, _ => new Object).synchronized {
      val stampFile = new java.io.File(stampPath)
      val fresh = stampFile.exists() &&
        scala.util.Try(java.nio.file.Files.readString(stampFile.toPath))
          .toOption.contains(stamp) && present
      if (!fresh) {
        stampFile.delete(): Unit
        build
        stampFile.getAbsoluteFile.getParentFile.mkdirs()
        java.nio.file.Files.writeString(stampFile.toPath, stamp): Unit
      }
    }

  // ---------------------------------------------------------------- agg

  /** TPC-H Q1 core (SURVEY §7.2): scan → hash-agg → sort. */
  val q1PricingSummary = RegisteredQuery(
    "q1_pricing_summary",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus,
      round(sum(l_quantity), 2) AS sum_qty,
      round(CAST(sum(CAST(round(l_extendedprice * 10000) AS BIGINT))
        AS DOUBLE) / 10000.0, 2) AS sum_base_price,
      round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
        AS BIGINT)) AS DOUBLE) / 10000.0, 2) AS sum_disc_price,
      round(avg(l_quantity), 6) AS avg_qty,
      round(avg(l_discount), 6) AS avg_disc,
      count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** Distinct aggregation (expand/partial-distinct plan in Spark). */
  val aggDistinct = RegisteredQuery(
    "agg_distinct",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"),
          round(max(col("o_totalprice")), 2).as("max_price"))
        .orderBy(col("o_orderpriority")),
    Some("""SELECT o_orderpriority,
      count(DISTINCT o_custkey) AS n_cust,
      count(*) AS n_orders,
      round(max(o_totalprice), 2) AS max_price
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** ROLLUP grouping sets; NULLS FIRST pinned on both sides (DuckDB
    * defaults to NULLS LAST, Spark to NULLS FIRST).
    */
  val rollupCount = RegisteredQuery(
    "rollup_count",
    (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
      round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""))

  /** Typed custom Aggregator (UDAF surface): geometric mean of
    * l_quantity per return flag, oracle = exp(avg(ln x)). Rounded: the
    * log-sum order differs between engines.
    */
  val aggCustomUdaf = RegisteredQuery(
    "agg_custom_udaf",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(round(graft.functions.GeometricMean(col("l_quantity")), 6)
          .as("geo_qty"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      round(exp(avg(ln(l_quantity))), 6) AS geo_qty
      FROM lineitem WHERE l_quantity > 0
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Pivot (orderpriority × orderstatus counts) — oracle via
    * conditional aggregation, the engine-portable formulation.
    */
  val aggPivot = RegisteredQuery(
    "agg_pivot",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("o_orderpriority")),
    Some("""SELECT o_orderpriority,
      count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
      count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
      count(*) FILTER (WHERE o_orderstatus = 'P') AS P
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Exact median + quartiles (Spark percentile == DuckDB
    * quantile_cont, both linear interpolation).
    */
  val aggMedian = RegisteredQuery(
    "agg_median",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("q1"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("median"),
          round(expr("percentile(o_totalprice, 0.75)"), 4).as("q3"))
        .orderBy(col("o_orderstatus")),
    Some("""SELECT o_orderstatus,
      round(quantile_cont(o_totalprice, 0.25), 4) AS q1,
      round(quantile_cont(o_totalprice, 0.5), 4) AS median,
      round(quantile_cont(o_totalprice, 0.75), 4) AS q3
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Linear-regression aggregates (regr_slope/intercept/r2/count —
    * identical Welford-style definitions in both engines): price as a
    * linear function of quantity per return flag. Slope/intercept are
    * O(1e3) so round(…, 3) leaves 1e-9 relative headroom over the
    * cross-engine summation-order noise; r2 ∈ [0,1] rounds at 6.
    */
  val aggRegression = RegisteredQuery(
    "agg_regression",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 3)
            .as("slope"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 3)
            .as("intercept"),
          round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
          expr("regr_count(l_extendedprice, l_quantity)").as("n"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      round(regr_slope(l_extendedprice, l_quantity), 3) AS slope,
      round(regr_intercept(l_extendedprice, l_quantity), 3) AS intercept,
      round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
      regr_count(l_extendedprice, l_quantity) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Bitwise aggregates + conditional count (exact integer semantics —
    * no rounding needed): AND/OR/XOR over the line number domain and a
    * filtered count, per return flag. Integer aggregation is
    * order-independent, so this also pins cross-engine exactness for
    * the non-float aggregate path.
    */
  val aggBitwise = RegisteredQuery(
    "agg_bitwise",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("bit_and(l_linenumber)").cast("long").as("and_ln"),
          expr("bit_or(l_linenumber)").cast("long").as("or_ln"),
          expr("bit_xor(l_linenumber)").cast("long").as("xor_ln"),
          expr("count_if(l_quantity > 25)").as("n_heavy"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      bit_and(CAST(l_linenumber AS BIGINT)) AS and_ln,
      bit_or(CAST(l_linenumber AS BIGINT)) AS or_ln,
      bit_xor(CAST(l_linenumber AS BIGINT)) AS xor_ln,
      CAST(count_if(l_quantity > 25) AS BIGINT) AS n_heavy
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Ordered-set aggregates (`WITHIN GROUP` SQL-text surface):
    * percentile_disc picks an actual data value (exactly comparable —
    * both engines define it as the smallest value with cume_dist ≥ p),
    * percentile_cont interpolates (rounded).
    */
  val aggPercentileDisc = RegisteredQuery(
    "agg_percentile_disc",
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT o_orderstatus,
          percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
            AS median_disc,
          round(percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice),
            4) AS q1_cont,
          percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)
            AS p90_disc
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus,
      percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
        AS median_disc,
      round(percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice),
        4) AS q1_cont,
      percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90_disc
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Generator/lateral surface: posexplode of the embedding array,
    * restricted to the first 3 elements of the first 5 vectors.
    */
  val explodeArrays = RegisteredQuery(
    "explode_arrays",
    (s, d) =>
      Tables.embeddings(s, d)
        .filter(col("vec_id") < 5)
        .select(col("vec_id"),
          posexplode(slice(col("embedding").cast("array<double>"), 1, 3)))
        .withColumnRenamed("pos", "idx")
        .withColumnRenamed("col", "val")
        .orderBy(col("vec_id"), col("idx")),
    Some("""SELECT vec_id, CAST(i - 1 AS INTEGER) AS idx,
      CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, generate_series(1, 3) AS t(i)
      WHERE vec_id < 5 ORDER BY vec_id, idx"""))

  /** String-function surface: substr/upper/trim/lpad/regexp/split. */
  val stringFunctions = RegisteredQuery(
    "string_functions",
    (s, d) =>
      Tables.customer(s, d).select(
        col("c_custkey"),
        upper(substring(col("c_name"), 1, 8)).as("name_head"),
        length(col("c_name")).as("name_len"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("key_pad"),
        regexp_extract(col("c_name"), "(\\d+)", 1).as("name_digits"),
        size(split(col("c_name"), "#")).as("n_parts"))
        .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey,
      upper(substr(c_name, 1, 8)) AS name_head,
      CAST(length(c_name) AS INTEGER) AS name_len,
      lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_pad,
      regexp_extract(c_name, '(\d+)', 1) AS name_digits,
      CAST(len(string_split(c_name, '#')) AS INTEGER) AS n_parts
      FROM customer ORDER BY c_custkey"""))

  /** Date-function surface: datediff/date_add/last_day/weekday/trunc.
    * Date outputs are ISO strings on BOTH sides: raw DATE columns
    * normalize differently in the compare (DuckDB dates fetch as
    * midnight timestamps, parquet dates as date objects).
    */
  val dateFunctions = RegisteredQuery(
    "date_functions",
    (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate"))
          .as("days_to_eoy"),
        date_add(col("o_orderdate"), 90).cast("string").as("due_date"),
        last_day(col("o_orderdate")).cast("string").as("month_end"),
        dayofweek(col("o_orderdate")).as("dow"),
        trunc(col("o_orderdate"), "mm").cast("string").as("month_start"))
        .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey,
      CAST(date_diff('day', o_orderdate, DATE '1998-12-31') AS INTEGER)
        AS days_to_eoy,
      strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_date,
      strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
      CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
      strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
      FROM orders ORDER BY o_orderkey"""))

  // ------------------------------------------------------------ staging

  /** Reference P-1..P-4 staging projection (drop-by-prefix + selective
    * CAST; reference `Trainer.scala:100-107`) registered as a checkable
    * query. Dropping `l_ship*` also keeps timestamps out of the compare.
    */
  val stagingProjection = RegisteredQuery(
    "staging_projection",
    (s, d) =>
      Staging.stage(
          Tables.lineitem(s, d),
          StagingSpec(dropPrefixes = Seq("l_ship"), widenIntegers = true))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""SELECT l_orderkey, l_partkey, l_suppkey,
      CAST(l_linenumber AS DOUBLE) AS l_linenumber,
      l_quantity, l_extendedprice, l_discount, l_tax,
      l_returnflag, l_linestatus
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  /** Filter + narrow projection — both must reach the parquet scan
    * (PushedFilters / ReadSchema in the formatted plan).
    */
  val filterPushdown = RegisteredQuery(
    "filter_pushdown",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem WHERE l_quantity >= 45 AND l_returnflag = 'R'
      ORDER BY l_orderkey, l_linenumber"""))

  // -------------------------------------------------------------- joins

  /** Fact ⋈ broadcast dimension + aggregation. `broadcast()` is explicit:
    * at 100 TB the orders side is huge while customer stays dimension-
    * sized, so the hint keeps the join shuffle-free regardless of stats.
    */
  val joinInnerAgg = RegisteredQuery(
    "join_inner_agg",
    (s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(
          round(sum(col("o_totalprice")), 2).as("total_spend"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey, c_name,
      round(sum(o_totalprice), 2) AS total_spend, count(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name ORDER BY c_custkey"""))

  /** Three-way star join: lineitem ⋈ orders ⋈ broadcast customer. */
  val joinMultiway = RegisteredQuery(
    "join_multiway",
    (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("c_mktsegment")),
    Some("""SELECT c_mktsegment,
      round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
        AS BIGINT)) AS DOUBLE) / 10000.0, 2) AS revenue,
      count(*) AS n_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Left-semi join (EXISTS). */
  val joinSemi = RegisteredQuery(
    "join_semi",
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"),
          "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey"""))

  /** Left-anti join (NOT EXISTS). */
  val joinAnti = RegisteredQuery(
    "join_anti",
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"),
          "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey"""))

  /** Left outer join with null-extension: nations that may lack
    * suppliers. COALESCE pins the null-side aggregate.
    */
  val joinLeftOuter = RegisteredQuery(
    "join_left_outer",
    (s, d) =>
      Tables.nation(s, d)
        .join(Tables.supplier(s, d),
          col("n_nationkey") === col("s_nationkey"), "left_outer")
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(count(col("s_suppkey")).as("n_suppliers"))
        .orderBy(col("n_nationkey")),
    Some("""SELECT n_nationkey, n_name, count(s_suppkey) AS n_suppliers
      FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
      GROUP BY n_nationkey, n_name ORDER BY n_nationkey"""))

  /** Full outer join over disjoint-ish key sets. */
  val joinFullOuter = RegisteredQuery(
    "join_full_outer",
    (s, d) => {
      val hi = Tables.customer(s, d).filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"))
      val lo = Tables.customer(s, d).filter(col("c_custkey") % 3 === 1)
        .select(col("c_custkey").as("k"), col("c_name").as("nm"))
      hi.join(lo, Seq("k"), "full_outer")
        .select(col("k"), col("bal"), col("nm"))
        .orderBy(col("k"))
    },
    Some("""SELECT COALESCE(a.k, b.k) AS k, a.bal, b.nm
      FROM (SELECT c_custkey AS k, c_acctbal AS bal FROM customer
            WHERE c_custkey % 3 = 0) a
      FULL OUTER JOIN (SELECT c_custkey AS k, c_name AS nm FROM customer
            WHERE c_custkey % 3 = 1) b USING (k)
      ORDER BY k"""))

  /** Non-equi (range) theta join: orders binned against a small literal
    * band table — BroadcastNestedLoopJoin territory; the band side is
    * tiny and broadcast, which is the only shape a theta join scales in.
    */
  val joinRange = RegisteredQuery(
    "join_range",
    (s, d) => {
      import s.implicits._
      val bands = Seq(
        ("low", 0.0, 50000.0), ("mid", 50000.0, 150000.0),
        ("high", 150000.0, 1e18)).toDF("band", "lo", "hi")
      Tables.orders(s, d)
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 4).as("avg_price"))
        .orderBy(col("band"))
    },
    Some("""SELECT band, count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
      FROM orders JOIN (VALUES ('low', 0.0, 50000.0),
        ('mid', 50000.0, 150000.0), ('high', 150000.0, 1e18))
        AS bands(band, lo, hi)
        ON o_totalprice >= lo AND o_totalprice < hi
      GROUP BY band ORDER BY band"""))

  /** Backward as-of join: each event joined to the user's latest click
    * at or before it (a click event matches itself — inclusive tie,
    * same as DuckDB `ON l.ts >= r.ts`). Union+window physical shape
    * (one shuffle, no range expansion) vs DuckDB's native ASOF JOIN —
    * cross-engine agreement on 10k rows pins the boundary semantics.
    */
  val joinAsof = RegisteredQuery(
    "join_asof",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      graft.relational.AsOf.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        clicks, Seq("user_id"), "ts", "click_ts", Seq("click_ts"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT e.event_id, e.user_id, e.ts, c.click_ts
      FROM events e ASOF LEFT JOIN
        (SELECT user_id, ts AS click_ts FROM events
         WHERE event_type = 'click') c
        ON e.user_id = c.user_id AND e.ts >= c.click_ts
      ORDER BY e.event_id"""))

  /** NEAREST-direction as-of join
    * ([[graft.relational.AsOf.asofJoinNearest]]) — the third
    * `merge_asof` direction, completing backward/forward/nearest:
    * each event matches the click CLOSEST in time for its user, ties
    * preferring the earlier (backward) click, pandas semantics.
    * Composed from the two proven single-shuffle as-of passes plus an
    * equi-join on the unique event id; distances are exact integer
    * microseconds. DuckDB has no nearest ASOF, so the oracle is the
    * LATERAL nearest-pick with the same (distance, click_ts) order.
    */
  val joinAsofNearest = RegisteredQuery(
    "join_asof_nearest",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      graft.relational.AsOf.asofJoinNearest(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        clicks, Seq("user_id"), "ts", "click_ts", Seq("click_ts"),
        leftId = "event_id")
        .orderBy(col("event_id"))
    },
    Some("""WITH c AS (
        SELECT user_id, ts AS click_ts FROM events
        WHERE event_type = 'click')
      SELECT e.event_id, e.user_id, e.ts, n.click_ts
      FROM events e LEFT JOIN LATERAL (
        SELECT click_ts FROM c
        WHERE c.user_id = e.user_id
        ORDER BY abs(epoch_us(e.ts) - epoch_us(click_ts)), click_ts
        LIMIT 1) n ON TRUE
      ORDER BY e.event_id"""))

  /** The same backward as-of join through the CUSTOM operator chain
    * (AsOfJoinPlan logical node → AsOfJoinStrategy → AsOfJoinExec
    * streaming merge pass, registered via SparkSessionExtensions) —
    * hash-checked against the identical DuckDB ASOF JOIN oracle, so
    * the custom physical operator has driver-verified correctness, not
    * just spec equivalence.
    */
  val joinAsofNative = RegisteredQuery(
    "join_asof_native",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      graft.relational.AsOf.asofJoinNative(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        clicks, Seq("user_id"), "ts", "click_ts", Seq("click_ts"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT e.event_id, e.user_id, e.ts, c.click_ts
      FROM events e ASOF LEFT JOIN
        (SELECT user_id, ts AS click_ts FROM events
         WHERE event_type = 'click') c
        ON e.user_id = c.user_id AND e.ts >= c.click_ts
      ORDER BY e.event_id"""))

  /** Forward as-of: each event joined to the user's NEXT click at or
    * after it (time-to-next-action, the other as-of direction). Same
    * union+window shape with the frame mirrored.
    */
  val joinAsofForward = RegisteredQuery(
    "join_asof_forward",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("next_click_ts"))
      graft.relational.AsOf.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        clicks, Seq("user_id"), "ts", "next_click_ts", Seq("next_click_ts"),
        forward = true)
        .orderBy(col("event_id"))
    },
    Some("""SELECT e.event_id, e.user_id, e.ts, c.next_click_ts
      FROM events e ASOF LEFT JOIN
        (SELECT user_id, ts AS next_click_ts FROM events
         WHERE event_type = 'click') c
        ON e.user_id = c.user_id AND e.ts <= c.next_click_ts
      ORDER BY e.event_id"""))

  /** Forward direction through the custom operator (peek-ahead merge
    * variant of AsOfJoinExec) — same DuckDB forward ASOF oracle.
    */
  val joinAsofNativeForward = RegisteredQuery(
    "join_asof_native_fwd",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("next_click_ts"))
      graft.relational.AsOf.asofJoinNative(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        clicks, Seq("user_id"), "ts", "next_click_ts", Seq("next_click_ts"),
        forward = true)
        .orderBy(col("event_id"))
    },
    Some("""SELECT e.event_id, e.user_id, e.ts, c.next_click_ts
      FROM events e ASOF LEFT JOIN
        (SELECT user_id, ts AS next_click_ts FROM events
         WHERE event_type = 'click') c
        ON e.user_id = c.user_id AND e.ts <= c.next_click_ts
      ORDER BY e.event_id"""))

  /** TPC-H Q3 (shipping priority): the classic two-broadcast multi-join
    * + aggregate + top-k — revenue of undelivered orders for one
    * segment. Plan: customer/orders dims broadcast onto the lineitem
    * scan with both date filters PUSHED, partial+final HashAggregate,
    * TakeOrderedAndProject for the top 10.
    */
  val q3ShippingPriority = RegisteredQuery(
    "q3_shipping_priority",
    (s, d) =>
      Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          col("o_orderdate").cast("string").as("orderdate"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("orderdate"), col("l_orderkey"))
        .limit(10),
    Some("""SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2)
        AS revenue,
        CAST(o_orderdate AS VARCHAR) AS orderdate, o_orderpriority
      FROM customer c
      JOIN orders o ON c_custkey = o_custkey
      JOIN lineitem l ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1995-03-15'
        AND l_shipdate > DATE '1995-03-15'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, orderdate, l_orderkey LIMIT 10"""))

  /** CSV source/sink round-trip under a query: write lineitem's slim
    * projection as headered CSV, read it back with an EXPLICIT schema
    * (schema inference is a full extra pass at 100 TB — never ship
    * it), aggregate. The oracle computes the same aggregate from the
    * parquet original, so hash-green proves the text round-trip loses
    * nothing (decimal/date formatting included).
    */
  val sourceCsvRoundtrip = RegisteredQuery(
    "source_csv_roundtrip",
    (s, d) => {
      val tmp = s"/tmp/graft_csvdemo_${math.abs(d.hashCode)}"
      val slim = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
      graft.sources.IO.writeCsv(slim, tmp)
      s.read
        .schema("l_orderkey BIGINT, l_returnflag STRING, " +
          "l_quantity DOUBLE, l_extendedprice DOUBLE")
        .option("header", "true")
        .csv(tmp)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, count(*) AS n,
        round(sum(l_quantity), 2) AS sum_qty,
        round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** JSON source/sink round-trip (same contract as the CSV twin, over
    * the nested-friendlier format): orders → JSON lines → explicit
    * schema read → aggregate vs the parquet original.
    */
  val sourceJsonRoundtrip = RegisteredQuery(
    "source_json_roundtrip",
    (s, d) => {
      val tmp = s"/tmp/graft_jsondemo_${math.abs(d.hashCode)}"
      val slim = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      graft.sources.IO.writeJson(slim, tmp)
      s.read
        .schema("o_orderkey BIGINT, o_orderpriority STRING, " +
          "o_totalprice DOUBLE")
        .json(tmp)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
        round(sum(o_totalprice), 2) AS sum_price
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** ORC source/sink round-trip (same contract as the CSV/JSON twins,
    * over Spark's other native columnar format): lineitem slice → ORC
    * → explicit-schema read → aggregate vs the parquet original. ORC
    * carries stripe-level min/max + bloom stats, so the scan-side
    * pushdown/pruning behavior matches parquet — an ORC-lake consumer
    * keeps the identical plan shape.
    */
  val sourceOrcRoundtrip = RegisteredQuery(
    "source_orc_roundtrip",
    (s, d) => {
      val tmp = s"/tmp/graft_orcdemo_${math.abs(d.hashCode)}"
      val slim = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
      graft.sources.IO.writeOrc(slim, tmp)
      graft.sources.IO.readOrc(s, tmp)
        .filter(col("l_quantity") >= 25.0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, count(*) AS n,
        round(sum(l_quantity), 2) AS sum_qty,
        round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem WHERE l_quantity >= 25
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Plain-text source/sink round-trip (`spark.read.text` — the format
    * raw corpora arrive in): one line per document, read back as
    * `value` rows, then corpus-level integrity aggregates vs the
    * parquet original. Text files carry no schema and no escaping, so
    * the contract is per-LINE fidelity — the fixture's documents are
    * newline-free by construction, which is exactly the precondition a
    * real pipeline must enforce before a text-sink stage.
    */
  val sourceTextRoundtrip = RegisteredQuery(
    "source_text_roundtrip",
    (s, d) => {
      val tmp = s"/tmp/graft_textdemo_${math.abs(d.hashCode)}"
      Tables.documents(s, d).select(col("text"))
        .write.mode("overwrite").text(tmp)
      s.read.text(tmp)
        .agg(count(lit(1)).as("n"),
          sum(length(col("value"))).as("sum_chars"),
          countDistinct(col("value")).as("n_distinct"))
    },
    // CAST: DuckDB sum(INT) widens to INT128 → float64 in pandas
    Some("""SELECT count(*) AS n, CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        count(DISTINCT text) AS n_distinct FROM documents"""))

  /** XML source/sink round-trip (Spark 4's built-in XML data source —
    * the format enterprise feeds still arrive in): orders slice →
    * row-tagged XML files → explicit-schema read-back (schema
    * inference over XML is an extra full pass at 100 TB — never ship
    * it) → aggregate vs the parquet original. Hash-green proves the
    * markup round-trip loses nothing, numeric text formatting
    * included; plan-wise the XML scan is a line-splittable text read,
    * so it parallelizes like CSV.
    */
  val sourceXmlRoundtrip = RegisteredQuery(
    "source_xml_roundtrip",
    (s, d) => {
      val tmp = s"/tmp/graft_xmldemo_${math.abs(d.hashCode)}"
      val slim = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      slim.write.mode("overwrite")
        .option("rowTag", "order").option("rootTag", "orders")
        .format("xml").save(tmp)
      s.read
        .schema("o_orderkey BIGINT, o_orderpriority STRING, " +
          "o_totalprice DOUBLE")
        .option("rowTag", "order")
        .format("xml").load(tmp)
        .filter(col("o_totalprice") >= 1000.0)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
        round(sum(o_totalprice), 2) AS sum_price
      FROM orders WHERE o_totalprice >= 1000.0
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** XML scalar-function surface: `to_xml(struct)` → `from_xml` back
    * to a typed struct, plus the Hive `xpath_*` extractors on the
    * markup text — the per-row path for XML payload COLUMNS (message
    * queues, API dumps) as opposed to XML files. The oracle replays
    * the identity from the raw columns, so hash-green pins the full
    * encode→parse loop, double text-formatting included. All codegen
    * expressions, one scan, zero shuffle.
    */
  val xmlFunctions = RegisteredQuery(
    "xml_functions",
    (s, d) => {
      val opts = new java.util.HashMap[String, String]()
      opts.put("rowTag", "cust")
      val base = Tables.customer(s, d)
        .filter(col("c_custkey") <= 500)
        .withColumn("x", to_xml(struct(
          col("c_custkey").as("id"), col("c_mktsegment").as("seg"),
          round(col("c_acctbal"), 2).as("bal")), opts))
      base.select(
          col("c_custkey"),
          from_xml(col("x"), lit("id BIGINT, seg STRING, bal DOUBLE"),
            opts).as("p"),
          expr("xpath_long(x, '/cust/id/text()')").as("id_xp"),
          expr("xpath_string(x, '/cust/seg/text()')").as("seg_xp"))
        .select(col("c_custkey"), col("p.seg").as("seg_rt"),
          round(col("p.bal"), 2).as("bal_rt"), col("id_xp"), col("seg_xp"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_mktsegment AS seg_rt,
        round(c_acctbal, 2) AS bal_rt, c_custkey AS id_xp,
        c_mktsegment AS seg_xp
      FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey"""))

  /** CDC changelog apply (the lakehouse ingest pattern: a stream of
    * keyed upserts/deletes folded into a snapshot). The scale-right
    * form is `max_by(payload, version)` under a hash aggregate — NOT a
    * window sort: partial aggregation keeps ONE candidate row per key
    * per map task, so the shuffle moves O(keys) rows while
    * `row_number` ships every version to the sort. Delete tombstones
    * are dropped AFTER latest-version election (a delete must beat an
    * older update). The oracle replays with the window form — two
    * shapes, one semantics. Version order is (µs ts, event_id); the
    * oracle casts TIMESTAMP_NS to µs first so both engines break
    * sub-µs ties identically, by event id.
    */
  val cdcApply = RegisteredQuery(
    "cdc_apply",
    (s, d) => {
      val log = Tables.events(s, d).select(
        col("user_id"),
        when(col("event_type") === "error", lit("D"))
          .otherwise(lit("U")).as("op"),
        col("value"), col("ts"), col("event_id"))
      log.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_versions"),
          max_by(struct(col("op"), col("value"), col("ts")),
            struct(col("ts"), col("event_id"))).as("last"))
        .filter(col("last.op") =!= "D")
        .select(col("user_id"), col("n_versions"),
          col("last.value").as("last_value"),
          col("last.ts").as("last_ts"))
        .orderBy(col("user_id"))
    },
    // last_value passes through UNROUNDED: the double is never
    // arithmetic'd, so both engines return the identical bits —
    // rounding a per-row scalar near a .00005 tie is the only way to
    // make them differ.
    Some("""WITH ranked AS (
        SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts_us,
          CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
          count(*) OVER (PARTITION BY user_id) AS n_versions,
          row_number() OVER (PARTITION BY user_id
            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, n_versions, value AS last_value,
        ts_us AS last_ts
      FROM ranked WHERE rn = 1 AND op <> 'D' ORDER BY user_id"""))

  /** The SAME CDC fold as a stateful STREAM (`transformWithState`,
    * one ValueState per key carrying the winning version across
    * micro-batches): two time-ordered micro-batches replay the
    * changelog, the final emission per key is the snapshot, and the
    * oracle is cdc_apply's — batch/stream parity for the ingest
    * pattern. The stream touches each version once and holds O(keys)
    * state; the batch recompute re-reads all history every run — at
    * 100 TB the stream IS the deployable form and this query proves
    * it computes the same snapshot.
    */
  val streamingCdc = RegisteredQuery(
    "streaming_cdc",
    (s, d) => {
      import graft.streaming.Streams
      import s.implicits._
      val raw = Streams
        .eventsStreamTwoBatches(s, s"$d/events.parquet", "2024-01-16")
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("event_type") === "error", lit("D"))
            .otherwise(lit("U")).as("op"),
          col("value"))
        .as[Streams.CdcEvent]
      val snaps = Streams.cdcSnapshot(raw)
      // the RocksDB provider swap rides the runner's ISOLATED session —
      // the shared session is never mutated, so no lock and no restore
      Streams.runAvailableNowWithPartitions(s, snaps.toDF(),
          s"graft_streamcdc_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Update(),
          // state partitions sized from the staged source (guide §2.2;
          // the stream-join right-sizing extended to every stateful
          // runner): each partition opens one RocksDB instance per
          // epoch here, so the constant 8 paid ~6 store setups for
          // nothing at bench volume and under-parallelized at sf1+
          statePartitions = Streams.statePartitionsFor(s,
            s"$d/events.parquet"),
          extraConf = Map("spark.sql.streaming.stateStore.providerClass" ->
            ("org.apache.spark.sql.execution.streaming." +
              "state.RocksDBStateStoreProvider")))
        // the LAST emission per key (largest fold count) is final
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("op"), col("value"), col("ts")),
          col("n_versions")).as("last"),
          max(col("n_versions")).as("n_versions"))
        .filter(col("last.op") =!= "D")
        .select(col("user_id"), col("n_versions"),
          col("last.value").as("last_value"),
          col("last.ts").as("last_ts"))
        .orderBy(col("user_id"))
    },
    Some("""WITH ranked AS (
        SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts_us,
          CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
          count(*) OVER (PARTITION BY user_id) AS n_versions,
          row_number() OVER (PARTITION BY user_id
            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, n_versions, value AS last_value,
        ts_us AS last_ts
      FROM ranked WHERE rn = 1 AND op <> 'D' ORDER BY user_id"""))

  /** STREAMING CDC UPSERT INTO THE LAKEHOUSE ([[graft.streaming
    * .Streams.cdcMergeAvailableNow]]) — the pattern the V2 catalog's
    * row-level-operations surface exists FOR: the changelog arrives as
    * two time-ordered micro-batches, each collapses to its latest
    * version per key and executes one SQL MERGE INTO against the
    * catalog table (matched-D deletes, matched-U updates, unmatched-U
    * inserts, unmatched-D no-ops). The final table state must equal
    * the global latest-version fold — intermediate per-batch merges
    * that lose a version, apply a stale one, or let a tombstone
    * resurrect break the oracle (cdc_apply's, minus the version
    * count, which a delete legitimately resets). Composes three
    * engine features end-to-end: streaming ingestion, the
    * copy-on-write MERGE rewrite, and catalog snapshots.
    */
  val streamingMergeUpsert = RegisteredQuery(
    "streaming_merge_upsert",
    (s, d) => {
      import graft.streaming.Streams
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.cdc_tgt")
      s.sql("""CREATE TABLE graft_cat.ns.cdc_tgt
        (user_id BIGINT, value DOUBLE, ts TIMESTAMP, event_id BIGINT)""")
      val raw = Streams
        .eventsStreamTwoBatches(s, s"$d/events.parquet", "2024-01-16")
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("event_type") === "error", lit("D"))
            .otherwise(lit("U")).as("op"),
          col("value"))
      val nBatches = Streams.cdcMergeAvailableNow(raw,
        "graft_cat.ns.cdc_tgt")
      require(nBatches >= 2,
        s"expected >=2 micro-batches through the merge, got $nBatches")
      s.sql("""SELECT user_id, value AS last_value, ts AS last_ts
        FROM graft_cat.ns.cdc_tgt ORDER BY user_id""")
    },
    Some("""WITH ranked AS (
        SELECT user_id, value, CAST(ts AS TIMESTAMP) AS ts_us,
          CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
          row_number() OVER (PARTITION BY user_id
            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, value AS last_value, ts_us AS last_ts
      FROM ranked WHERE rn = 1 AND op <> 'D' ORDER BY user_id"""))

  /** RAG-style overlapping text chunking (fixed window 128 chars,
    * stride 96): per document, `sequence(0, len-1, stride)` generates
    * the start offsets and `posexplode` emits one row per chunk — one
    * scan, zero shuffle, output linear in total text volume, no
    * driver involvement. Chunks are emitted as md5 scalars (the
    * embedding stage downstream consumes the text; the check needs
    * identity, not payload). The oracle replays with
    * `generate_series`/`substr` — character (not byte) semantics in
    * both engines.
    */
  val chunkOverlap = RegisteredQuery(
    "chunk_overlap",
    (s, d) => {
      val (size, stride) = (128, 96)
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("starts",
          sequence(lit(0), length(col("text")) - 1, lit(stride)))
        .select(col("doc_id"), col("text"),
          posexplode(col("starts")).as(Seq("chunk_idx", "start")))
        .select(col("doc_id"), col("chunk_idx"),
          col("text").substr(col("start") + 1, lit(size)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some("""WITH starts AS (
        SELECT doc_id, text, CAST(u.i AS INTEGER) AS start,
          CAST(row_number() OVER (PARTITION BY doc_id ORDER BY u.i) - 1
            AS INTEGER) AS chunk_idx
        FROM documents,
          unnest(generate_series(0, length(text) - 1, 96)) AS u(i))
      SELECT doc_id, chunk_idx,
        CAST(length(substr(text, start + 1, 128)) AS INTEGER) AS chunk_len,
        md5(substr(text, start + 1, 128)) AS chunk_md5
      FROM starts ORDER BY doc_id, chunk_idx"""))

  /** Managed-table surface (`saveAsTable` into the session catalog →
    * `spark.table` read-back → `tableExists`): the warehouse path a
    * multi-step pipeline uses to hand datasets between stages by NAME
    * instead of by path — the catalog carries schema + format, and
    * readers prune/push down exactly as against the raw parquet.
    */
  val catalogManagedTable = RegisteredQuery(
    "catalog_managed_table",
    (s, d) => {
      val tbl = s"graft_orders_${math.abs(d.hashCode)}"
      // a table DIRECTORY can survive from a prior process whose
      // in-memory catalog is gone; saveAsTable then fails with
      // LOCATION_ALREADY_EXISTS (overwrite only covers cataloged
      // tables). Drop both the entry and any orphan location first.
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), tbl)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true): Unit
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").saveAsTable(tbl)
      require(s.catalog.tableExists(tbl), s"catalog lost table $tbl")
      s.table(tbl)
        .filter(col("o_totalprice") > 50000.0)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
        round(sum(o_totalprice), 2) AS sum_price
      FROM orders WHERE o_totalprice > 50000
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** DYNAMIC partition overwrite on a file sink: the second write
    * carries only 'F'-partition rows, so with
    * `partitionOverwriteMode=dynamic` exactly that partition is
    * replaced and the 'O'/'P' partitions SURVIVE — the nightly-rebuild
    * semantics a partitioned lake table needs (static mode would wipe
    * every partition). The read-back aggregate proves both halves:
    * untouched partitions intact, rewritten partition reduced to its
    * high-value subset. At 100 TB this is the difference between
    * rewriting one day and rewriting the table.
    */
  val sinkPartitionOverwrite = RegisteredQuery(
    "sink_partition_overwrite",
    (s, d) => {
      val tmp = s"/tmp/graft_dpo_${math.abs(d.hashCode)}"
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      orders.write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(tmp)
      orders
        .filter(col("o_orderstatus") === "F" &&
          col("o_totalprice") > 100000.0)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus").parquet(tmp)
      s.read.parquet(tmp)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
        round(sum(o_totalprice), 2) AS sum_price
      FROM orders
      WHERE o_orderstatus <> 'F' OR o_totalprice > 100000
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** SQL-text INSERT OVERWRITE with a STATIC partition spec on a
    * partitioned managed table: `PARTITION (o_orderstatus = 'O')`
    * must replace exactly the named partition (the other partitions'
    * files are never touched), the SQL-DDL face of the dynamic-mode
    * sink above. INSERT INTO seeds all partitions first, so the final
    * state proves targeted replacement, not append.
    */
  val sinkInsertOverwrite = RegisteredQuery(
    "sink_insert_overwrite",
    (s, d) => {
      Tables.registerAll(s, d)
      val tbl = s"graft_iow_${math.abs(d.hashCode)}"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), tbl)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true): Unit
      s.sql(s"""CREATE TABLE $tbl
        (o_orderkey BIGINT, o_totalprice DOUBLE)
        USING parquet PARTITIONED BY (o_orderstatus STRING)""")
      s.sql(s"""INSERT INTO $tbl
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders""")
      s.sql(s"""INSERT OVERWRITE TABLE $tbl
        PARTITION (o_orderstatus = 'O')
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderstatus = 'O' AND o_totalprice <= 50000""")
      s.table(tbl)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
        round(sum(o_totalprice), 2) AS sum_price
      FROM orders
      WHERE o_orderstatus <> 'O' OR o_totalprice <= 50000
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Catalog introspection as a checked query: DESCRIBE TABLE over two
    * registered views, unioned with a table label — the schema the
    * catalog serves readers must be exactly the parquet schema
    * (names AND Spark type strings), which the oracle pins as
    * literals. (SHOW TABLES is deliberately not hashed: the pooled
    * verify registers other queries' temp views concurrently, so its
    * row set is nondeterministic by design.)
    */
  val catalogIntrospect = RegisteredQuery(
    "catalog_introspect",
    (s, d) => {
      Tables.registerAll(s, d)
      def describe(t: String) =
        s.sql(s"DESCRIBE TABLE $t")
          .select(lit(t).as("tbl"), col("col_name"), col("data_type"))
      describe("nation").union(describe("region"))
        .orderBy(col("tbl"), col("col_name"))
    },
    Some("""SELECT * FROM (VALUES
        ('nation', 'n_name', 'string'),
        ('nation', 'n_nationkey', 'int'),
        ('nation', 'n_regionkey', 'int'),
        ('region', 'r_name', 'string'),
        ('region', 'r_regionkey', 'int'))
      AS t(tbl, col_name, data_type) ORDER BY tbl, col_name"""))

  /** Custom DataSourceV2 connector end-to-end
    * ([[graft.sources.synth.SynthDocsProvider]]): a deterministic
    * synthetic table read through the full v2 path — id-range filter
    * PUSHED into the source (rows outside the range are never
    * generated, the source-side analogue of row-group pruning; pinned
    * by SynthSourceSpec via the scan description) and columns pruned
    * at the reader. Every cell is a pure function of id, so the oracle
    * re-derives the table closed-form with generate_series and the
    * identical integer arithmetic. Prices sum as DECIMAL for
    * cross-engine order-independence.
    */
  val sourceCustomV2 = RegisteredQuery(
    "source_custom_v2",
    (s, d) =>
      s.read.format("graft.sources.synth.SynthDocsProvider")
        .option("rows", "100000").option("slices", "8").load()
        .filter(col("id") >= 1000 && col("id") < 51000)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"),
          countDistinct(col("tag")).as("n_tags"))
        .orderBy(col("grp")),
    Some("""WITH t AS (
        SELECT i AS id, CAST(i % 25 AS INTEGER) AS grp,
          (i * 2654435761 % 100000) / CAST(100 AS DOUBLE) AS value,
          't' || CAST(i % 10 AS VARCHAR) AS tag
        FROM (SELECT unnest(generate_series(1000, 50999)) AS i) s)
      SELECT grp, count(*) AS n_rows,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        count(DISTINCT tag) AS n_tags
      FROM t GROUP BY grp ORDER BY grp"""))

  /** DSv2 AGGREGATE pushdown, COMPLETE: COUNT(*)/MIN(id)/MAX(id) with
    * no GROUP BY answer closed-form from the pushed id-range — the
    * connector returns the final one-row result and Spark plans NO
    * aggregation node at all (SynthSourceSpec pins the plan: no
    * HashAggregate, scan description carries the pushed functions).
    * The DSv2 analogue of answering COUNT/MIN/MAX from parquet footer
    * statistics: at 100 TB the difference between a metadata read and
    * a full scan. Oracle replays the same arithmetic over
    * generate_series.
    */
  val sourcePushdownAgg = RegisteredQuery(
    "source_pushdown_agg",
    (s, d) =>
      s.read.format("graft.sources.synth.SynthDocsProvider")
        .option("rows", "100000").option("slices", "8").load()
        .filter(col("id") >= 1000 && col("id") < 91000)
        .agg(count(lit(1)).as("n_rows"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id")),
    Some("""SELECT count(*) AS n_rows, min(i) AS min_id, max(i) AS max_id
      FROM (SELECT unnest(generate_series(1000, 90999)) AS i) s"""))

  /** DSv2 LIMIT pushdown: the scan itself caps its generated range
    * (isPartiallyPushed = false — fully honored at the source), so
    * Spark's limit on top passes through rows the connector never
    * over-produced. Deterministic here because the pushed filter
    * already restricts to exactly the limited set. Full row contents
    * re-derived by the oracle.
    */
  val sourcePushdownLimit = RegisteredQuery(
    "source_pushdown_limit",
    (s, d) =>
      s.read.format("graft.sources.synth.SynthDocsProvider")
        .option("rows", "100000").option("slices", "8").load()
        .filter(col("id") < 7).limit(7)
        .select(col("id"), col("grp"),
          col("value").cast("decimal(18,2)").cast("double").as("value"),
          col("tag"))
        .orderBy(col("id")),
    Some("""SELECT i AS id, CAST(i % 25 AS INTEGER) AS grp,
        CAST(CAST((i * 2654435761 % 100000) / CAST(100 AS DOUBLE)
          AS DECIMAL(18,2)) AS DOUBLE) AS value,
        't' || CAST(i % 10 AS VARCHAR) AS tag
      FROM (SELECT unnest(generate_series(0, 6)) AS i) s ORDER BY id"""))

  /** Custom V2 CATALOG PLUGIN end-to-end
    * ([[graft.sources.catalog.GraftCatalog]]): SQL DDL + DML against a
    * connector-served namespace — CREATE TABLE AS SELECT, INSERT INTO,
    * row-level DELETE FROM (`SupportsDeleteV2`, predicates evaluated
    * source-side), then an aggregate read back through the catalog
    * scan. The oracle replays the same build-insert-delete sequence as
    * plain SQL set algebra over lineitem. This is the
    * `spark.sql.catalog.*` extension point lakehouse formats use; the
    * registered sequence proves identifiers, writes, deletes and scans
    * all route through the plugin.
    */
  val catalogV2Dml = RegisteredQuery(
    "catalog_v2_dml",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_cat_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li")
      s.sql("""CREATE TABLE graft_cat.ns.li AS
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM li_cat_src WHERE l_orderkey <= 1000""")
      s.sql("""INSERT INTO graft_cat.ns.li
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM li_cat_src WHERE l_orderkey > 1000 AND l_orderkey <= 1600""")
      s.sql("DELETE FROM graft_cat.ns.li WHERE l_returnflag = 'R'")
      s.sql("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(min(l_orderkey) AS BIGINT) AS min_ok,
          CAST(max(l_orderkey) AS BIGINT) AS max_ok
        FROM graft_cat.ns.li GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""WITH t AS (
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM lineitem WHERE l_orderkey <= 1600)
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        CAST(max(l_orderkey) AS BIGINT) AS max_ok
      FROM t WHERE l_returnflag <> 'R'
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** TIME TRAVEL on the custom V2 catalog: every commit (CTAS, INSERT,
    * DELETE) appends an immutable snapshot, and `VERSION AS OF v`
    * resolves through the `loadTable(ident, version)` overload to the
    * pinned row set — the Iceberg-style read surface on the
    * lakehouse-catalog extension point. The query reads THREE versions
    * of the same table (post-CTAS, post-INSERT, post-DELETE) plus the
    * current state and aggregates each; the oracle replays the
    * version states by set algebra over lineitem. A version that
    * leaked later writes, or a DELETE that mutated history in place,
    * breaks the per-version counts.
    */
  val catalogTimeTravel = RegisteredQuery(
    "catalog_time_travel",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_tt_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_tt")
      s.sql("""CREATE TABLE graft_cat.ns.li_tt AS
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM li_tt_src WHERE l_orderkey <= 1000""")
      s.sql("""INSERT INTO graft_cat.ns.li_tt
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM li_tt_src WHERE l_orderkey > 1000 AND l_orderkey <= 1600""")
      s.sql("DELETE FROM graft_cat.ns.li_tt WHERE l_returnflag = 'R'")
      def agg(v: Int, from: String) =
        s"""SELECT CAST($v AS INTEGER) AS version,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            AS sum_qty
        FROM $from"""
      s.sql(Seq(
          agg(0, "graft_cat.ns.li_tt VERSION AS OF 0"),
          agg(1, "graft_cat.ns.li_tt VERSION AS OF 1"),
          agg(2, "graft_cat.ns.li_tt VERSION AS OF 2"),
          agg(3, "graft_cat.ns.li_tt VERSION AS OF 3"),
          agg(4, "graft_cat.ns.li_tt")).mkString("\nUNION ALL\n") +
        "\nORDER BY version")
    },
    Some("""WITH a AS (
        SELECT l_quantity, l_returnflag FROM lineitem
        WHERE l_orderkey <= 1000),
      ab AS (
        SELECT l_quantity, l_returnflag FROM lineitem
        WHERE l_orderkey <= 1600),
      abd AS (SELECT * FROM ab WHERE l_returnflag <> 'R'),
      v AS (
        SELECT 0 AS version, CAST(0 AS BIGINT) AS n_rows,
          CAST(NULL AS DOUBLE) AS sum_qty
        UNION ALL
        SELECT 1, count(*), CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
          AS DOUBLE) FROM a
        UNION ALL
        SELECT 2, count(*), CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
          AS DOUBLE) FROM ab
        UNION ALL
        SELECT 3, count(*), CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
          AS DOUBLE) FROM abd
        UNION ALL
        SELECT 4, count(*), CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
          AS DOUBLE) FROM abd)
      SELECT CAST(version AS INTEGER) AS version, n_rows, sum_qty
      FROM v ORDER BY version"""))

  /** SCHEMA EVOLUTION through the V2 catalog: `ALTER TABLE ADD/RENAME/
    * DROP COLUMN` routes to `TableCatalog.alterTable` as
    * `org.apache.spark.sql.connector.catalog.TableChange`s, with
    * snapshot-consistent semantics — each ALTER commits a NEW version
    * carrying the new schema; prior snapshots keep their own schema
    * and rows. The query drives the full lifecycle: CTAS (era 1) →
    * ADD COLUMN → INSERT era 2 (with the new column) → RENAME COLUMN
    * → DROP COLUMN, then reads THREE eras: the pre-ALTER snapshot
    * (v1, original shape), the post-ADD snapshot (v3 — era-1 rows
    * null-fill the added column, so count(l_disc) only sees era 2),
    * and the current table grouped by the RENAMED column with the
    * dropped column gone. Oracle replays all three states by set
    * algebra over lineitem. A catalog that rewrote history on ALTER,
    * forgot to null-fill, or misapplied rename/drop positions breaks
    * a stage.
    */
  val catalogSchemaEvolution = RegisteredQuery(
    "catalog_schema_evolution",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_evo_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_evo")
      // v0 = empty at creation; v1 = the CTAS rows (era 1)
      s.sql("""CREATE TABLE graft_cat.ns.li_evo AS
        SELECT l_orderkey, l_quantity, l_returnflag
        FROM li_evo_src WHERE l_orderkey <= 800""")
      // v2 = same rows, schema widened (era-1 rows null-fill l_disc)
      s.sql("ALTER TABLE graft_cat.ns.li_evo ADD COLUMN l_disc DOUBLE")
      // v3 = era 2 lands with the new column populated
      s.sql("""INSERT INTO graft_cat.ns.li_evo
        SELECT l_orderkey, l_quantity, l_returnflag, l_discount
        FROM li_evo_src WHERE l_orderkey > 800 AND l_orderkey <= 1600""")
      // v4 = rename; v5 = drop — values stay put, shape changes
      s.sql("ALTER TABLE graft_cat.ns.li_evo RENAME COLUMN l_returnflag TO rflag")
      s.sql("ALTER TABLE graft_cat.ns.li_evo DROP COLUMN l_quantity")
      s.sql("""SELECT CAST(1 AS INT) AS stage, CAST(NULL AS STRING) AS rflag,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(l_quantity) AS BIGINT) AS n_nonnull,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS metric
        FROM graft_cat.ns.li_evo VERSION AS OF 1
        UNION ALL
        SELECT CAST(2 AS INT), CAST(NULL AS STRING),
          CAST(count(*) AS BIGINT), CAST(count(l_disc) AS BIGINT),
          CAST(sum(CAST(l_disc AS DECIMAL(18,2))) AS DOUBLE)
        FROM graft_cat.ns.li_evo VERSION AS OF 3
        UNION ALL
        SELECT CAST(3 AS INT), rflag,
          CAST(count(*) AS BIGINT), CAST(count(l_disc) AS BIGINT),
          CAST(sum(CAST(l_disc AS DECIMAL(18,2))) AS DOUBLE)
        FROM graft_cat.ns.li_evo GROUP BY rflag
        ORDER BY stage, rflag NULLS FIRST""")
    },
    Some("""WITH era1 AS (
        SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem
        WHERE l_orderkey <= 800),
      era2 AS (
        SELECT l_orderkey, l_quantity, l_returnflag, l_discount
        FROM lineitem WHERE l_orderkey > 800 AND l_orderkey <= 1600),
      cur AS (
        SELECT l_returnflag AS rflag, CAST(NULL AS DOUBLE) AS l_disc
        FROM era1
        UNION ALL
        SELECT l_returnflag, l_discount FROM era2),
      v AS (
        SELECT 1 AS stage, CAST(NULL AS VARCHAR) AS rflag,
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(*) AS BIGINT) AS n_nonnull,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS metric
        FROM era1
        UNION ALL
        SELECT 2, NULL,
          (SELECT CAST(count(*) AS BIGINT) FROM era1)
            + (SELECT CAST(count(*) AS BIGINT) FROM era2),
          (SELECT CAST(count(*) AS BIGINT) FROM era2),
          (SELECT CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
           FROM era2)
        UNION ALL
        SELECT 3, rflag, CAST(count(*) AS BIGINT),
          CAST(count(l_disc) AS BIGINT),
          CAST(sum(CAST(l_disc AS DECIMAL(18,2))) AS DOUBLE)
        FROM cur GROUP BY rflag)
      SELECT CAST(stage AS INTEGER) AS stage, rflag, n_rows, n_nonnull,
        metric
      FROM v ORDER BY stage, rflag NULLS FIRST"""))

  /** SQL `MERGE INTO` through the V2 catalog — the DSv2 row-level-
    * operations path (`SupportsRowLevelOperations`, group-based
    * copy-on-write): Spark rewrites the statement to read the target
    * through the operation's scan, apply matched-delete /
    * matched-update / not-matched-insert row math, and write the
    * surviving rows back replacing the scanned group. One statement
    * exercises all three WHEN branches (clause order matters: the
    * R-flag DELETE must win over the UPDATE for matched R rows);
    * the oracle replays the merge by set algebra over lineitem.
    * The synthetic fixture's (l_orderkey, l_linenumber) is NOT
    * unique, so the source pre-aggregates per key (sum qty, min
    * flag): the rewrite's multiple-SOURCE-match cardinality check
    * passes by construction, while duplicate TARGET rows sharing a
    * key are each updated/deleted (allowed by MERGE semantics and
    * replayed by the oracle's join). Quantities are integral doubles
    * in the fixture, so the pre-aggregate sum is order-exact.
    */
  val catalogMergeInto = RegisteredQuery(
    "catalog_merge_into",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_m_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_m")
      s.sql("""CREATE TABLE graft_cat.ns.li_m AS
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM li_m_src WHERE l_orderkey <= 1000""")
      s.sql("""MERGE INTO graft_cat.ns.li_m t
        USING (SELECT l_orderkey, l_linenumber,
                 sum(l_quantity) AS l_quantity,
                 min(l_returnflag) AS l_returnflag
               FROM li_m_src
               WHERE l_orderkey > 600 AND l_orderkey <= 1600
               GROUP BY l_orderkey, l_linenumber) s
        ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
        WHEN MATCHED AND s.l_returnflag = 'R' THEN DELETE
        WHEN MATCHED THEN UPDATE SET l_quantity = t.l_quantity + s.l_quantity
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(min(l_orderkey) AS BIGINT) AS min_ok,
          CAST(max(l_orderkey) AS BIGINT) AS max_ok
        FROM graft_cat.ns.li_m GROUP BY l_returnflag
        ORDER BY l_returnflag""")
    },
    Some("""WITH src AS (
        SELECT l_orderkey, l_linenumber,
          sum(l_quantity) AS s_qty, min(l_returnflag) AS s_rf
        FROM lineitem
        WHERE l_orderkey > 600 AND l_orderkey <= 1600
        GROUP BY l_orderkey, l_linenumber),
      tgt AS (
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM lineitem WHERE l_orderkey <= 1000),
      merged AS (
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM tgt WHERE l_orderkey <= 600
        UNION ALL
        SELECT t.l_orderkey, t.l_linenumber,
          t.l_quantity + s.s_qty, t.l_returnflag
        FROM tgt t JOIN src s USING (l_orderkey, l_linenumber)
        WHERE s.s_rf <> 'R'
        UNION ALL
        SELECT l_orderkey, l_linenumber, s_qty, s_rf
        FROM src WHERE l_orderkey > 1000)
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        CAST(max(l_orderkey) AS BIGINT) AS max_ok
      FROM merged GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** MERGE through the DELTA (merge-on-read) row-level path — the
    * OTHER half of the DSv2 row-level contract, engaged when the
    * table declares a unique row id (`TBLPROPERTIES
    * ('delta.key'='l_orderkey,l_linenumber')`): Spark plans
    * `WriteDelta` instead of the group rewrite, so the writer
    * receives ONLY the changed rows (delete/update/insert, each with
    * its row-id projection) and carried rows never move — the Iceberg
    * MoR shape vs `catalog_merge_into`'s CoW. The target is
    * pre-aggregated per key so the declared id is actually unique.
    * Same clause semantics, same set-algebra oracle idiom; the query
    * REQUIRES all three op kinds engaged, and the spec pins the
    * only-changed-rows property by op count.
    */
  val catalogMergeDelta = RegisteredQuery(
    "catalog_merge_delta",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_md_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_md")
      s.sql("""CREATE TABLE graft_cat.ns.li_md
        (l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE,
         l_returnflag STRING)
        TBLPROPERTIES ('delta.key'='l_orderkey,l_linenumber')""")
      s.sql("""INSERT INTO graft_cat.ns.li_md
        SELECT l_orderkey, l_linenumber, sum(l_quantity),
          min(l_returnflag)
        FROM li_md_src WHERE l_orderkey <= 1000
        GROUP BY l_orderkey, l_linenumber""")
      s.sql("""MERGE INTO graft_cat.ns.li_md t
        USING (SELECT l_orderkey, l_linenumber,
                 sum(l_quantity) AS l_quantity,
                 min(l_returnflag) AS l_returnflag
               FROM li_md_src
               WHERE l_orderkey > 600 AND l_orderkey <= 1600
               GROUP BY l_orderkey, l_linenumber) s
        ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
        WHEN MATCHED AND s.l_returnflag = 'R' THEN DELETE
        WHEN MATCHED THEN UPDATE SET l_quantity = t.l_quantity + s.l_quantity
        WHEN NOT MATCHED THEN INSERT *""")
      val (nd, nu, ni) =
        graft.sources.catalog.GraftCatalog.lastDeltaOps("ns.li_md")
      require(nd > 0 && nu > 0 && ni > 0,
        s"delta MERGE must engage all three op kinds, got ($nd,$nu,$ni)")
      s.sql("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(min(l_orderkey) AS BIGINT) AS min_ok,
          CAST(max(l_orderkey) AS BIGINT) AS max_ok
        FROM graft_cat.ns.li_md GROUP BY l_returnflag
        ORDER BY l_returnflag""")
    },
    Some("""WITH tgt AS (
        SELECT l_orderkey, l_linenumber, sum(l_quantity) AS l_quantity,
          min(l_returnflag) AS l_returnflag
        FROM lineitem WHERE l_orderkey <= 1000
        GROUP BY l_orderkey, l_linenumber),
      src AS (
        SELECT l_orderkey, l_linenumber, sum(l_quantity) AS s_qty,
          min(l_returnflag) AS s_rf
        FROM lineitem
        WHERE l_orderkey > 600 AND l_orderkey <= 1600
        GROUP BY l_orderkey, l_linenumber),
      merged AS (
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM tgt WHERE l_orderkey <= 600
        UNION ALL
        SELECT t.l_orderkey, t.l_linenumber,
          t.l_quantity + s.s_qty, t.l_returnflag
        FROM tgt t JOIN src s USING (l_orderkey, l_linenumber)
        WHERE s.s_rf <> 'R'
        UNION ALL
        SELECT l_orderkey, l_linenumber, s_qty, s_rf
        FROM src WHERE l_orderkey > 1000)
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        CAST(max(l_orderkey) AS BIGINT) AS max_ok
      FROM merged GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** PARTITIONED tables on the V2 catalog
    * (`SupportsPartitionManagement` + `SupportsPushDownV2Filters`):
    * `PARTITIONED BY (identity col)` DDL, partition-col predicates
    * fully pushed and pruning whole partitions at plan time (the
    * memtable analogue of directory pruning — planned-partition count
    * pinned in GraftCatalogSpec), `SHOW PARTITIONS` listing both
    * data-defined and explicitly-registered partitions, and
    * `ALTER TABLE DROP PARTITION` deleting a partition's rows as one
    * commit. The query drives the lifecycle: partitioned CTAS-shape
    * create + insert → SHOW PARTITIONS → pruned aggregate of one
    * flag → DROP PARTITION ('R') → full aggregate proving the
    * partition's rows are gone; set-algebra replay.
    */
  val catalogPartitioned = RegisteredQuery(
    "catalog_partitioned",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_p_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_p")
      s.sql("""CREATE TABLE graft_cat.ns.li_p
        (l_orderkey BIGINT, l_quantity DOUBLE, l_returnflag STRING)
        PARTITIONED BY (l_returnflag)""")
      s.sql("""INSERT INTO graft_cat.ns.li_p
        SELECT l_orderkey, l_quantity, l_returnflag
        FROM li_p_src WHERE l_orderkey <= 1600""")
      val shown = s.sql("SHOW PARTITIONS graft_cat.ns.li_p")
        .selectExpr("CAST(1 AS INT) AS stage", "partition AS k",
          "CAST(NULL AS DOUBLE) AS v")
      val pruned = s.sql("""SELECT CAST(2 AS INT) AS stage,
          'N' AS k,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS v
        FROM graft_cat.ns.li_p WHERE l_returnflag = 'N'""")
      s.sql("ALTER TABLE graft_cat.ns.li_p DROP PARTITION " +
        "(l_returnflag = 'R')")
      val after = s.sql("""SELECT CAST(3 AS INT) AS stage,
          l_returnflag AS k, CAST(count(*) AS DOUBLE) AS v
        FROM graft_cat.ns.li_p GROUP BY l_returnflag""")
      shown.unionByName(pruned).unionByName(after)
        .orderBy(col("stage"), col("k"))
    },
    Some("""WITH t AS (
        SELECT l_quantity, l_returnflag FROM lineitem
        WHERE l_orderkey <= 1600),
      v AS (
        SELECT 1 AS stage, 'l_returnflag=' || l_returnflag AS k,
          CAST(NULL AS DOUBLE) AS v
        FROM (SELECT DISTINCT l_returnflag FROM t)
        UNION ALL
        SELECT 2, 'N',
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        FROM t WHERE l_returnflag = 'N'
        UNION ALL
        SELECT 3, l_returnflag, CAST(count(*) AS DOUBLE)
        FROM t WHERE l_returnflag <> 'R' GROUP BY l_returnflag)
      SELECT CAST(stage AS INTEGER) AS stage, k, v
      FROM v ORDER BY stage, k"""))

  /** Commit-log HISTORY + snapshot EXPIRY on the V2 catalog — the
    * DESCRIBE HISTORY / VACUUM pair completing the time-travel
    * lifecycle: every DML commit is listed with its row count, and
    * expiry retains the last `keepLast` snapshots while version
    * NUMBERS never shift (an expired `VERSION AS OF` fails by id —
    * pinned in GraftCatalogSpec — it never silently rebinds). The
    * query emits the listing BEFORE and AFTER expire-keep-2: stage 1
    * shows every commit's count, stage 2 shows the two retained
    * counts with expired versions' counts nulled. Commit timestamps
    * are wall-clock and excluded; counts replay by set algebra.
    */
  val catalogHistory = RegisteredQuery(
    "catalog_history",
    (s, d) => {
      import s.implicits._
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_h_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_h")
      s.sql("""CREATE TABLE graft_cat.ns.li_h AS
        SELECT l_orderkey, l_quantity, l_returnflag
        FROM li_h_src WHERE l_orderkey <= 800""")
      s.sql("""INSERT INTO graft_cat.ns.li_h
        SELECT l_orderkey, l_quantity, l_returnflag
        FROM li_h_src WHERE l_orderkey > 800 AND l_orderkey <= 1600""")
      s.sql("DELETE FROM graft_cat.ns.li_h WHERE l_returnflag = 'R'")
      def listing(stage: Int) =
        graft.sources.catalog.GraftCatalog.history("ns.li_h")
          .map { case (v, _, n, expired) =>
            (stage, v, if (expired) None else Some(n)) }
      val before = listing(1)
      val nExpired = graft.sources.catalog.GraftCatalog
        .expireSnapshots("ns.li_h", keepLast = 2)
      require(nExpired == 2, s"expected 2 expired snapshots, $nExpired")
      (before ++ listing(2)).toDF("stage", "version", "n_rows")
        .select(col("stage"), col("version"),
          col("n_rows").cast("long").as("n_rows"))
        .orderBy(col("stage"), col("version"))
    },
    Some("""WITH c AS (
        SELECT
          (SELECT count(*) FROM lineitem WHERE l_orderkey <= 800) AS c1,
          (SELECT count(*) FROM lineitem WHERE l_orderkey <= 1600) AS c2,
          (SELECT count(*) FROM lineitem
           WHERE l_orderkey <= 1600 AND l_returnflag <> 'R') AS c3),
      v AS (
        SELECT 1 AS stage, 0 AS version, CAST(0 AS BIGINT) AS n_rows FROM c
        UNION ALL SELECT 1, 1, c1 FROM c
        UNION ALL SELECT 1, 2, c2 FROM c
        UNION ALL SELECT 1, 3, c3 FROM c
        UNION ALL SELECT 2, 0, NULL FROM c
        UNION ALL SELECT 2, 1, NULL FROM c
        UNION ALL SELECT 2, 2, c2 FROM c
        UNION ALL SELECT 2, 3, c3 FROM c)
      SELECT CAST(stage AS INTEGER) AS stage,
        CAST(version AS INTEGER) AS version, CAST(n_rows AS BIGINT) AS n_rows
      FROM v ORDER BY stage, version"""))

  /** STREAMING READ OF THE CATALOG TABLE — the Delta streaming-source
    * shape closing the stream↔lakehouse loop in BOTH directions
    * (`streaming_merge_upsert` streams INTO the catalog; this streams
    * OUT of it): offsets are commit versions, each micro-batch ships
    * the rows a commit range APPENDED (a commit is the atomic unit,
    * never split), and replace commits fail the stream loudly with a
    * pointer at the change feed — append-only history is the
    * streaming contract, exactly Delta's. The streamed aggregate over
    * two INSERT eras must equal the batch replay of both; spec
    * additionally pins the replace-commit poisoning.
    */
  val streamingCatalogSource = RegisteredQuery(
    "streaming_catalog_source",
    (s, d) => {
      import graft.streaming.Streams
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_cs_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_cs")
      s.sql("""CREATE TABLE graft_cat.ns.li_cs
        (l_quantity DOUBLE, l_returnflag STRING)""")
      s.sql("""INSERT INTO graft_cat.ns.li_cs
        SELECT l_quantity, l_returnflag FROM li_cs_src
        WHERE l_orderkey <= 800""")
      s.sql("""INSERT INTO graft_cat.ns.li_cs
        SELECT l_quantity, l_returnflag FROM li_cs_src
        WHERE l_orderkey > 800 AND l_orderkey <= 1600""")
      val iso = graft.core.Sessions.isolated(s,
        Map("spark.sql.shuffle.partitions" -> "8"))
      val raw = iso.readStream.table("graft_cat.ns.li_cs")
      Streams.runAvailableNowWithPartitions(iso,
          raw.groupBy(col("l_returnflag"))
            .agg(count(lit(1)).as("n_rows"),
              round(sum(col("l_quantity")), 2).as("sum_qty")),
          s"graft_cat_stream_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Complete(),
          statePartitions = 8)
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, count(*) AS n_rows,
        round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem WHERE l_orderkey <= 1600
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** TYPE WIDENING through ALTER TABLE (Iceberg promotion rules):
    * `ALTER COLUMN … TYPE BIGINT` on an INT column re-boxes existing
    * values losslessly and widens the current schema, while prior
    * snapshots keep their narrow era (same snapshot-consistency
    * contract as ADD/RENAME/DROP); narrowing or cross-family casts
    * fail up front with nothing mutated. This is the promotion every
    * long-lived table eventually needs (int ids outgrowing 2^31). The
    * query inserts an era under INT, widens, inserts an era under
    * BIGINT, and aggregates across both — the oracle replays with a
    * cast. Pre-ALTER-snapshot narrowness and the narrowing rejection
    * are spec-pinned.
    */
  val catalogTypeWidening = RegisteredQuery(
    "catalog_type_widening",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_tw_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_tw")
      s.sql("""CREATE TABLE graft_cat.ns.li_tw
        (l_linenumber INT, l_quantity DOUBLE)""")
      s.sql("""INSERT INTO graft_cat.ns.li_tw
        SELECT l_linenumber, l_quantity FROM li_tw_src
        WHERE l_orderkey <= 800""")
      s.sql("""ALTER TABLE graft_cat.ns.li_tw
        ALTER COLUMN l_linenumber TYPE BIGINT""")
      s.sql("""INSERT INTO graft_cat.ns.li_tw
        SELECT l_linenumber, l_quantity FROM li_tw_src
        WHERE l_orderkey > 800 AND l_orderkey <= 1600""")
      s.sql("""SELECT l_linenumber, count(*) AS n_rows,
        round(sum(l_quantity), 2) AS sum_qty
        FROM graft_cat.ns.li_tw GROUP BY l_linenumber
        ORDER BY l_linenumber""")
    },
    Some("""SELECT CAST(l_linenumber AS BIGINT) AS l_linenumber,
        count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem WHERE l_orderkey <= 1600
      GROUP BY l_linenumber ORDER BY l_linenumber"""))

  /** RESTORE TO VERSION — the recovery verb completing the
    * time-travel lifecycle (commit log `catalog_history`, VACUUM
    * expiry, VERSION/TIMESTAMP AS OF reads, and now rollback): a bad
    * write is undone by COMMITTING the old snapshot as the new
    * current version — append-only history, nothing rewritten, so the
    * "bad" era stays readable for audit and a restore is itself
    * auditable in DESCRIBE HISTORY (Delta `RESTORE TABLE` semantics).
    * The query stages CTAS → DELETE → INSERT, restores to v1, then
    * aggregates the restored current table AND the still-readable
    * post-INSERT v3; the oracle replays both eras by set algebra over
    * lineitem. Schema-restore across an ALTER and expired-version
    * failure are pinned in GraftCatalogSpec.
    */
  val catalogRestore = RegisteredQuery(
    "catalog_restore",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_rst_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_rst")
      s.sql("""CREATE TABLE graft_cat.ns.li_rst AS
        SELECT l_orderkey, l_quantity, l_returnflag
        FROM li_rst_src WHERE l_orderkey <= 800""") // v1
      s.sql("DELETE FROM graft_cat.ns.li_rst WHERE l_returnflag = 'R'") // v2
      s.sql("""INSERT INTO graft_cat.ns.li_rst
        SELECT l_orderkey, l_quantity, l_returnflag
        FROM li_rst_src WHERE l_orderkey > 800 AND l_orderkey <= 1600""") // v3
      graft.sources.catalog.GraftCatalog.restore("ns.li_rst", 1) // v4
      val hist = graft.sources.catalog.GraftCatalog.history("ns.li_rst")
      require(hist.size == 5,
        s"restore must COMMIT (versions 0..4), got ${hist.size}")
      def agg(src: String, stage: String) =
        s.sql(s"""SELECT '$stage' AS stage, count(*) AS n_rows,
          round(sum(l_quantity), 2) AS sum_qty FROM $src""")
      agg("graft_cat.ns.li_rst", "restored_current")
        .unionByName(
          agg("graft_cat.ns.li_rst VERSION AS OF 3", "pre_restore_v3"))
        .orderBy(col("stage"))
    },
    Some("""WITH era1 AS (
        SELECT l_quantity FROM lineitem WHERE l_orderkey <= 800),
      v3 AS (
        SELECT l_quantity FROM lineitem
        WHERE l_orderkey <= 800 AND l_returnflag <> 'R'
        UNION ALL
        SELECT l_quantity FROM lineitem
        WHERE l_orderkey > 800 AND l_orderkey <= 1600)
      SELECT * FROM (
        SELECT 'restored_current' AS stage, count(*) AS n_rows,
          round(sum(l_quantity), 2) AS sum_qty FROM era1
        UNION ALL
        SELECT 'pre_restore_v3', count(*), round(sum(l_quantity), 2)
        FROM v3)
      ORDER BY stage"""))

  /** Shallow CLONE — the dev/test-branch verb lakehouse formats pair
    * with time travel: the clone's first snapshot IS the source's
    * current snapshot by reference (zero data copied — on a file
    * format, a metadata-only commit pointing at the source's files;
    * here the immutable row seq is shared), after which the two
    * tables have independent histories. The query clones, then writes
    * to BOTH sides (INSERT into the clone, DELETE on the source) and
    * aggregates three eras: source current, clone current, and the
    * clone's v1 birth snapshot — proving divergence without
    * interference in either direction. Set-algebra oracle.
    */
  val catalogClone = RegisteredQuery(
    "catalog_clone",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_cln_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_cls")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_clc")
      s.sql("""CREATE TABLE graft_cat.ns.li_cls AS
        SELECT l_orderkey, l_quantity, l_returnflag
        FROM li_cln_src WHERE l_orderkey <= 800""") // src v1
      graft.sources.catalog.GraftCatalog.cloneTable("ns.li_cls", "ns.li_clc")
      s.sql("""INSERT INTO graft_cat.ns.li_clc
        SELECT l_orderkey, l_quantity, l_returnflag
        FROM li_cln_src
        WHERE l_orderkey > 800 AND l_orderkey <= 1200""") // clone v2
      s.sql("DELETE FROM graft_cat.ns.li_cls WHERE l_returnflag = 'R'") // src v2
      def agg(src: String, stage: String) =
        s.sql(s"""SELECT '$stage' AS stage, count(*) AS n_rows,
          round(sum(l_quantity), 2) AS sum_qty FROM $src""")
      agg("graft_cat.ns.li_cls", "source_current")
        .unionByName(agg("graft_cat.ns.li_clc", "clone_current"))
        .unionByName(
          agg("graft_cat.ns.li_clc VERSION AS OF 1", "clone_birth"))
        .orderBy(col("stage"))
    },
    Some("""WITH base AS (
        SELECT l_quantity, l_returnflag FROM lineitem
        WHERE l_orderkey <= 800),
      src_cur AS (SELECT l_quantity FROM base WHERE l_returnflag <> 'R'),
      clone_cur AS (
        SELECT l_quantity FROM base
        UNION ALL
        SELECT l_quantity FROM lineitem
        WHERE l_orderkey > 800 AND l_orderkey <= 1200)
      SELECT * FROM (
        SELECT 'source_current' AS stage, count(*) AS n_rows,
          round(sum(l_quantity), 2) AS sum_qty FROM src_cur
        UNION ALL
        SELECT 'clone_current', count(*), round(sum(l_quantity), 2)
        FROM clone_cur
        UNION ALL
        SELECT 'clone_birth', count(*), round(sum(l_quantity), 2)
        FROM base)
      ORDER BY stage"""))

  /** CATALOG-RESOLVED V2 FUNCTIONS
    * ([[graft.sources.catalog.GraftFunctions]]) — the FunctionCatalog
    * quadrant of DSv2, how a connector ships compute alongside its
    * tables (Iceberg's `system.bucket` shape): `graft_cat.ns.gcd` is
    * a ScalarFunction whose magic `invoke` method the analyzer binds
    * for codegen'd per-row calls, and `graft_cat.ns.bor` is an
    * AggregateFunction with the partial/merge state contract, so the
    * catalog aggregate shuffles one state per group exactly like a
    * builtin. Both are exact integer functions, replayed
    * bit-identically by DuckDB's `gcd` / `bit_or`.
    */
  val catalogFunctions = RegisteredQuery(
    "catalog_functions",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_fn_src")
      s.sql("""SELECT l_returnflag,
        sum(graft_cat.ns.gcd(l_partkey, l_suppkey)) AS sum_gcd,
        graft_cat.ns.bor(l_linenumber) AS bor_ln,
        count(*) AS n_rows
        FROM li_fn_src GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
      CAST(sum(gcd(l_partkey, l_suppkey)) AS BIGINT) AS sum_gcd,
      CAST(bit_or(l_linenumber) AS BIGINT) AS bor_ln,
      count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** COLUMN DEFAULT VALUES through the V2 catalog
    * (SUPPORT_COLUMN_DEFAULT_VALUE): `DEFAULT` lives in column
    * metadata (CURRENT_DEFAULT) and the ANALYZER substitutes it into
    * writes that omit the column — the connector only carries the
    * metadata, which is how every file-format catalog implements
    * defaults without rewriting data. The query proves the lifecycle
    * that matters operationally: rows inserted before an `ALTER
    * COLUMN … SET DEFAULT` keep the OLD default (defaults are
    * write-time substitutions, not read-time), rows after get the new
    * one. Set-algebra oracle; the DEFAULT-keyword and per-row mix are
    * spec-pinned.
    */
  val catalogDefaults = RegisteredQuery(
    "catalog_defaults",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_dv_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_dv")
      s.sql("""CREATE TABLE graft_cat.ns.li_dv (
        l_orderkey BIGINT, l_quantity DOUBLE,
        batch_tag STRING DEFAULT 'base')""")
      s.sql("""INSERT INTO graft_cat.ns.li_dv (l_orderkey, l_quantity)
        SELECT l_orderkey, l_quantity FROM li_dv_src
        WHERE l_orderkey <= 800""")
      s.sql("""ALTER TABLE graft_cat.ns.li_dv
        ALTER COLUMN batch_tag SET DEFAULT 'delta'""")
      s.sql("""INSERT INTO graft_cat.ns.li_dv (l_orderkey, l_quantity)
        SELECT l_orderkey, l_quantity FROM li_dv_src
        WHERE l_orderkey > 800 AND l_orderkey <= 1600""")
      s.sql("""SELECT batch_tag, count(*) AS n_rows,
        round(sum(l_quantity), 2) AS sum_qty
        FROM graft_cat.ns.li_dv GROUP BY batch_tag ORDER BY batch_tag""")
    },
    Some("""SELECT * FROM (
        SELECT 'base' AS batch_tag, count(*) AS n_rows,
          round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem WHERE l_orderkey <= 800
        UNION ALL
        SELECT 'delta', count(*), round(sum(l_quantity), 2)
        FROM lineitem WHERE l_orderkey > 800 AND l_orderkey <= 1600)
      ORDER BY batch_tag"""))

  /** CHANGE DATA FEED on the V2 catalog (Delta `table_changes`
    * semantics): every DML verb reduces to `insert`/`delete` rows
    * tagged with their commit version — the uniform diff stream an
    * incremental consumer tails instead of re-reading snapshots. The
    * feed is reconstructed by per-commit MULTISET difference over the
    * immutable history, so a copy-on-write UPDATE surfaces as exactly
    * its delete+insert pair while the rewrite's untouched rows cancel
    * — the feed shows REAL changes, not physical rewrites (q+100
    * keeps updated rows disjoint from the 1..50 fixture domain, so
    * nothing cancels spuriously). The query stages CTAS → DELETE →
    * INSERT → UPDATE and aggregates the (0,4] feed per
    * (commit_version, change_type); the oracle replays all four
    * commits by set algebra.
    */
  val catalogChangeFeed = RegisteredQuery(
    "catalog_change_feed",
    (s, d) => {
      import s.implicits._
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_cdf_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_cdf")
      s.sql("""CREATE TABLE graft_cat.ns.li_cdf AS
        SELECT l_orderkey, l_quantity, l_returnflag
        FROM li_cdf_src WHERE l_orderkey <= 800""") // v1
      s.sql("DELETE FROM graft_cat.ns.li_cdf WHERE l_returnflag = 'R'") // v2
      s.sql("""INSERT INTO graft_cat.ns.li_cdf
        SELECT l_orderkey, l_quantity, l_returnflag
        FROM li_cdf_src
        WHERE l_orderkey > 800 AND l_orderkey <= 1200""") // v3
      s.sql("""UPDATE graft_cat.ns.li_cdf
        SET l_quantity = l_quantity + 100
        WHERE l_returnflag = 'A'""") // v4
      val (feed, sch) =
        graft.sources.catalog.GraftCatalog.changeFeed("ns.li_cdf", 0, 4)
      val qi = sch.fieldIndex("l_quantity")
      feed.map { case (v, t, r) => (v, t, r.getDouble(qi)) }
        .toDF("commit_version", "change_type", "q")
        .groupBy(col("commit_version"), col("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("q")), 2).as("sum_qty"))
        .orderBy(col("commit_version"), col("change_type"))
    },
    Some("""WITH base AS (
        SELECT l_quantity, l_returnflag FROM lineitem
        WHERE l_orderkey <= 800),
      ins3 AS (
        SELECT l_quantity, l_returnflag FROM lineitem
        WHERE l_orderkey > 800 AND l_orderkey <= 1200),
      dels AS (SELECT l_quantity FROM base WHERE l_returnflag = 'R'),
      upd AS (
        SELECT l_quantity FROM base WHERE l_returnflag = 'A'
        UNION ALL
        SELECT l_quantity FROM ins3 WHERE l_returnflag = 'A')
      SELECT * FROM (
        SELECT 1 AS commit_version, 'insert' AS change_type,
          count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
        FROM base
        UNION ALL
        SELECT 2, 'delete', count(*), round(sum(l_quantity), 2) FROM dels
        UNION ALL
        SELECT 3, 'insert', count(*), round(sum(l_quantity), 2) FROM ins3
        UNION ALL
        SELECT 4, 'delete', count(*), round(sum(l_quantity), 2) FROM upd
        UNION ALL
        SELECT 4, 'insert', count(*),
          round(sum(l_quantity) + 100 * count(*), 2) FROM upd)
      ORDER BY commit_version, change_type"""))

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE from the change feed —
    * what the CDF exists FOR: a grouped count/sum aggregate is
    * SELF-MAINTAINABLE (inserts add, deletes subtract), so the MV is
    * maintained by folding the (1,4] feed into the v1 snapshot's
    * aggregate — never re-scanning the base table — across DELETE,
    * INSERT, and a copy-on-write UPDATE (whose delete+insert pair is
    * exactly what makes subtract/add correct). l_quantity is
    * integer-valued, so the incremental sum is bit-exact against the
    * oracle's direct aggregation of the FINAL state; a drifted delta
    * (missed commit, double-applied rewrite) breaks the hash. Groups
    * folded to zero rows drop out, as IVM requires.
    */
  val catalogIncrementalMv = RegisteredQuery(
    "catalog_incremental_mv",
    (s, d) => {
      import s.implicits._
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_mv_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_mv")
      s.sql("""CREATE TABLE graft_cat.ns.li_mv AS
        SELECT l_orderkey, l_quantity, l_returnflag
        FROM li_mv_src WHERE l_orderkey <= 800""") // v1
      s.sql("DELETE FROM graft_cat.ns.li_mv WHERE l_returnflag = 'R'") // v2
      s.sql("""INSERT INTO graft_cat.ns.li_mv
        SELECT l_orderkey, l_quantity, l_returnflag
        FROM li_mv_src
        WHERE l_orderkey > 800 AND l_orderkey <= 1200""") // v3
      s.sql("""UPDATE graft_cat.ns.li_mv
        SET l_quantity = l_quantity + 100
        WHERE l_returnflag = 'A'""") // v4
      val (feed, sch) =
        graft.sources.catalog.GraftCatalog.changeFeed("ns.li_mv", 1, 4)
      val (qi, fi) =
        (sch.fieldIndex("l_quantity"), sch.fieldIndex("l_returnflag"))
      val deltas = feed.map { case (_, t, r) =>
        val sign = if (t == "insert") 1 else -1
        (r.getString(fi), sign.toLong, sign * r.getDouble(qi))
      }.toDF("l_returnflag", "dn", "dq")
      val base = s.sql("""SELECT l_returnflag,
          count(*) AS dn, sum(l_quantity) AS dq
        FROM graft_cat.ns.li_mv VERSION AS OF 1 GROUP BY l_returnflag""")
      base.unionByName(deltas)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("dn")).as("n_rows"),
          round(sum(col("dq")), 2).as("sum_qty"))
        .filter(col("n_rows") > 0)
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH fin AS (
        SELECT l_returnflag,
          CASE WHEN l_returnflag = 'A' THEN l_quantity + 100
            ELSE l_quantity END AS q
        FROM (
          SELECT l_quantity, l_returnflag FROM lineitem
          WHERE l_orderkey <= 800 AND l_returnflag <> 'R'
          UNION ALL
          SELECT l_quantity, l_returnflag FROM lineitem
          WHERE l_orderkey > 800 AND l_orderkey <= 1200))
      SELECT l_returnflag, count(*) AS n_rows,
        round(sum(q), 2) AS sum_qty
      FROM fin GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** AUTO-BROADCAST FROM HONEST CATALOG STATISTICS: the memtable scan
    * reports exact post-pruning row counts and a schema-width byte
    * estimate (`SupportsReportStatistics`), so the planner broadcasts
    * a small catalog dimension with NO hint — the contract that makes
    * dim-table joins cheap at 100 TB (unknown stats = assumed huge =
    * shuffle join on both sides). The query joins customer to a
    * 25-row catalog-managed nation dim hint-free and REQUIRES the
    * broadcast in-plan; the oracle replays the plain join.
    */
  val catalogBroadcastJoin = RegisteredQuery(
    "catalog_broadcast_join",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.nation(s, d).createOrReplaceTempView("nat_bc_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.nat_dim")
      s.sql("""CREATE TABLE graft_cat.ns.nat_dim AS
        SELECT n_nationkey, n_name FROM nat_bc_src""")
      val joined = Tables.customer(s, d)
        .join(s.table("graft_cat.ns.nat_dim"),
          col("c_nationkey") === col("n_nationkey"))
      require(joined.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
        "small catalog dim must auto-broadcast from reported stats")
      joined.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal")), 2).as("sum_bal"))
        .orderBy(col("n_name"))
    },
    Some("""SELECT n_name, count(*) AS n_cust,
        round(sum(c_acctbal), 2) AS sum_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name"""))

  /** ANSI CHECK CONSTRAINTS through the V2 catalog (the Spark 4
    * constraints SPIP): the table DECLARES `CHECK (…) ENFORCED` and
    * Spark's write planning compiles it into a CheckInvariant guard
    * over every incoming row — a batch with one violating row fails
    * the WHOLE statement before commit, so the table never holds a
    * snapshot violating its invariants (the write-side quality gate a
    * lakehouse pairs with read-side `dq_checks`). The query proves
    * the full lifecycle: a conforming INSERT lands, a violating
    * INSERT is rejected atomically (count unchanged — required
    * in-code), and after `ALTER TABLE … DROP CONSTRAINT` the same
    * rows land. Oracle replays both eras by set algebra.
    */
  val catalogConstraints = RegisteredQuery(
    "catalog_constraints",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_ck_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_ck")
      s.sql("""CREATE TABLE graft_cat.ns.li_ck (
        l_quantity DOUBLE, l_returnflag STRING,
        CONSTRAINT qty_cap CHECK (l_quantity <= 30) ENFORCED)""")
      s.sql("""INSERT INTO graft_cat.ns.li_ck
        SELECT l_quantity, l_returnflag FROM li_ck_src
        WHERE l_orderkey <= 8000 AND l_quantity <= 30""")
      val nAfterInsert = s.table("graft_cat.ns.li_ck").count()
      // the violating batch must fail BEFORE commit: nothing lands
      val rejected = scala.util.Try(s.sql(
        """INSERT INTO graft_cat.ns.li_ck
          SELECT l_quantity, l_returnflag FROM li_ck_src
          WHERE l_orderkey <= 8000""")).isFailure
      require(rejected, "violating INSERT must be rejected")
      require(s.table("graft_cat.ns.li_ck").count() == nAfterInsert,
        "rejected INSERT must not commit any rows")
      s.sql("ALTER TABLE graft_cat.ns.li_ck DROP CONSTRAINT qty_cap")
      s.sql("""INSERT INTO graft_cat.ns.li_ck
        SELECT l_quantity, l_returnflag FROM li_ck_src
        WHERE l_orderkey <= 8000 AND l_quantity > 30""")
      def agg(stage: String, pred: String) =
        s.sql(s"""SELECT '$stage' AS stage, l_returnflag,
          count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
          FROM graft_cat.ns.li_ck $pred GROUP BY l_returnflag""")
      agg("enforced", "WHERE l_quantity <= 30")
        .unionByName(agg("final", ""))
        .orderBy(col("stage"), col("l_returnflag"))
    },
    Some("""SELECT * FROM (
        SELECT 'enforced' AS stage, l_returnflag,
          count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem WHERE l_orderkey <= 8000 AND l_quantity <= 30
        GROUP BY l_returnflag
        UNION ALL
        SELECT 'final', l_returnflag,
          count(*), round(sum(l_quantity), 2)
        FROM lineitem WHERE l_orderkey <= 8000 GROUP BY l_returnflag)
      ORDER BY stage, l_returnflag"""))

  /** SQL `UPDATE` through the V2 catalog — the second statement the
    * row-level-operations contract unlocks (same group-based
    * copy-on-write rewrite as `catalog_merge_into`, via
    * `RewriteUpdateTable`): Spark scans the target once, applies the
    * SET arithmetic to matching rows, carries the rest unchanged, and
    * writes the survivors back replacing the scanned group. The
    * oracle replays the update by set algebra over lineitem.
    */
  val catalogUpdate = RegisteredQuery(
    "catalog_update",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.catalog.GraftCatalog].getName)
      Tables.lineitem(s, d).createOrReplaceTempView("li_u_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.li_u")
      s.sql("""CREATE TABLE graft_cat.ns.li_u AS
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM li_u_src WHERE l_orderkey <= 1200""")
      s.sql("""UPDATE graft_cat.ns.li_u
        SET l_quantity = l_quantity * 2
        WHERE l_returnflag = 'R' AND l_orderkey > 300""")
      s.sql("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft_cat.ns.li_u GROUP BY l_returnflag
        ORDER BY l_returnflag""")
    },
    Some("""WITH t AS (
        SELECT l_returnflag,
          CASE WHEN l_returnflag = 'R' AND l_orderkey > 300
            THEN l_quantity * 2 ELSE l_quantity END AS l_quantity
        FROM lineitem WHERE l_orderkey <= 1200)
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM t GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** DSv2 RUNTIME filtering (dynamic pruning): a filtered dim joins
    * the 100k-row fact on id — the connector reports honest post-
    * pushdown statistics (SupportsReportStatistics), so the dim
    * auto-broadcasts; dynamic pruning reuses that broadcast, delivers
    * the dim's id set to the fact scan AFTER the build side runs
    * (SupportsRuntimeV2Filtering), and partitions for pruned ids are
    * never planned — SynthSourceSpec pins numOutputRows == matches,
    * not the full range. The v2 analogue of DPP on hive partitions:
    * at 100 TB the fact scan reads only the joined keys' slices.
    */
  val sourceRuntimeFilter = RegisteredQuery(
    "source_runtime_filter",
    (s, d) => {
      def read(rows: Long) = s.read
        .format("graft.sources.synth.SynthDocsProvider")
        .option("rows", rows.toString).option("slices", "8").load()
      val dim = read(30).filter(col("tag") === "t3")
        .select(col("id").as("k"))
      read(100000L).join(dim, col("id") === col("k"))
        .select(col("id"), col("grp"),
          col("value").cast("decimal(18,2)").cast("double").as("value"),
          col("tag"))
        .orderBy(col("id"))
    },
    Some("""SELECT i AS id, CAST(i % 25 AS INTEGER) AS grp,
        CAST(CAST((i * 2654435761 % 100000) / CAST(100 AS DOUBLE)
          AS DECIMAL(18,2)) AS DOUBLE) AS value,
        't' || CAST(i % 10 AS VARCHAR) AS tag
      FROM (SELECT unnest(generate_series(0, 29)) AS i) s
      WHERE i % 10 = 3 ORDER BY id"""))

  /** Custom STREAMING source end-to-end: the same synth connector read
    * through `readStream` as a MicroBatchStream with real offset
    * management — admission control paces 4 micro-batches
    * (`maxRowsPerBatch`), AvailableNow drains to the reported end, and
    * the final aggregate must hash-match the closed-form oracle over
    * the whole range: custom-source streaming ≡ batch, the same
    * equivalence law the file-source streaming queries pin.
    */
  val sourceCustomStream = RegisteredQuery(
    "source_custom_stream",
    (s, d) => {
      import graft.streaming.Streams
      val st = s.readStream
        .format("graft.sources.synth.SynthDocsProvider")
        .option("rows", "20000").option("slices", "8")
        .option("maxRowsPerBatch", "6000")
        .load()
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
      Streams.runAvailableNowWithPartitions(s, st,
          s"graft_synthstream_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Complete(),
          statePartitions = 8)
        .orderBy(col("grp"))
    },
    Some("""WITH t AS (
        SELECT CAST(i % 25 AS INTEGER) AS grp,
          (i * 2654435761 % 100000) / CAST(100 AS DOUBLE) AS value
        FROM (SELECT unnest(generate_series(0, 19999)) AS i) s)
      SELECT grp, count(*) AS n_rows,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM t GROUP BY grp ORDER BY grp"""))

  /** Custom DataSourceV2 STREAMING WRITE path end-to-end — the fourth
    * DSv2 quadrant (batch read / batch write / stream read / stream
    * write): the synth MicroBatchStream paces 4 micro-batches through
    * a Complete-mode aggregation into the custom
    * [[graft.sources.synth.MemorySinkProvider]] StreamingWrite — each
    * epoch a full two-phase commit (buffered per-task writers →
    * per-epoch atomic publish with monotone-epoch replay protection).
    * The registry's final state after AvailableNow must equal the
    * closed-form batch aggregate: custom-source streaming through a
    * custom sink ≡ batch. Epoch-replay idempotence is pinned by
    * MemorySinkSpec.
    */
  val sinkCustomStream = RegisteredQuery(
    "sink_custom_stream",
    (s, d) => {
      import org.apache.spark.sql.types.{StructType, StructField, IntegerType, LongType, DoubleType}
      import graft.sources.synth.MemorySinkRegistry
      val tbl = s"stream_sink_${math.abs(d.hashCode)}"
      MemorySinkRegistry.clear(tbl)
      val st = s.readStream
        .format("graft.sources.synth.SynthDocsProvider")
        .option("rows", "20000").option("slices", "8")
        .option("maxRowsPerBatch", "6000") // 4 epochs through the sink
        .load()
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
      // 8 state partitions, not the session's 32: per-epoch state-store
      // open/commit overhead dominates this 25-key aggregate (the 2PC
      // protocol under test is per-epoch, not per-partition), same
      // right-sizing source_custom_stream applies. The override rides
      // an ISOLATED session (plan rebound onto it) so concurrent batch
      // queries in the shared session never see it
      locally {
        val iso = graft.core.Sessions.isolated(s,
          Map("spark.sql.shuffle.partitions" -> "8"))
        graft.streaming.Streams.runOnce(
          graft.core.Sessions.rebind(iso, st).writeStream
            .format("graft.sources.synth.MemorySinkProvider")
            .option("table", tbl)
            .outputMode("complete")
            .queryName(tbl), "graft_ssink"): Unit
      }
      val schema = StructType(Seq(
        StructField("grp", IntegerType),
        StructField("n_rows", LongType),
        StructField("sum_value", DoubleType)))
      s.createDataFrame(
          s.sparkContext.parallelize(MemorySinkRegistry.rows(tbl), 1),
          schema)
        .orderBy(col("grp"))
    },
    Some("""WITH t AS (
        SELECT CAST(i % 25 AS INTEGER) AS grp,
          (i * 2654435761 % 100000) / CAST(100 AS DOUBLE) AS value
        FROM (SELECT unnest(generate_series(0, 19999)) AS i) s)
      SELECT grp, count(*) AS n_rows,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM t GROUP BY grp ORDER BY grp"""))

  /** Custom DataSourceV2 WRITE path end-to-end
    * ([[graft.sources.synth.MemorySinkProvider]]): an aggregate written
    * through the full two-phase commit protocol (per-task DataWriters →
    * WriterCommitMessages → atomic publish) and read back from the
    * committed registry — the oracle checks the round-tripped rows
    * against the same aggregate computed directly, so a sink that
    * drops/duplicates a partition or publishes before commit cannot
    * pass. Abort semantics are pinned by MemorySinkSpec.
    */
  val sinkCustomV2 = RegisteredQuery(
    "sink_custom_v2",
    (s, d) => {
      import graft.sources.synth.MemorySinkRegistry
      val tbl = s"sink_demo_${math.abs(d.hashCode)}"
      MemorySinkRegistry.clear(tbl)
      val agg = Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
      agg.write.format("graft.sources.synth.MemorySinkProvider")
        .option("table", tbl).mode("append").save()
      s.createDataFrame(
          new java.util.ArrayList(
            scala.jdk.CollectionConverters.SeqHasAsJava(
              MemorySinkRegistry.rows(tbl)).asJava),
          agg.schema)
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** TPC-H Q6 core (forecast revenue change): the pure scan-filter-agg
    * — every predicate reaches the parquet scan as a pushed filter,
    * no shuffle at all before the single-row aggregate.
    */
  val q6ForecastRevenue = RegisteredQuery(
    "q6_forecast_revenue",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) &&
          col("l_quantity") < 24)
        .agg(moneySum(col("l_extendedprice") * col("l_discount"))
          .as("revenue")),
    Some("""SELECT round(CAST(sum(CAST(round(l_extendedprice * l_discount
        * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 2) AS revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"""))

  /** TPC-H Q14 (promo revenue share), adapted to the fixture's p_type
    * domain (single words, so equality instead of `LIKE 'PROMO%'`).
    * part is a dimension — broadcast explicitly so the month of
    * lineitem never shuffles; the two conditional sums fold into ONE
    * hash aggregate pass. Ratio-of-sums is rounded as an aggregate
    * (summation order differs across engines; per-row values don't).
    */
  val q14PromoRevenue = RegisteredQuery(
    "q14_promo_revenue",
    (s, d) => {
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .agg(round(
          moneySumRaw(when(col("p_type") === "PROMO", rev)
              .otherwise(lit(0.0))) * 100.0 /
            moneySumRaw(rev), 4)
          .as("promo_revenue"))
    },
    Some("""SELECT round(CAST(sum(CAST(round(CASE WHEN p_type = 'PROMO'
        THEN l_extendedprice * (1 - l_discount) ELSE 0 END * 10000)
        AS BIGINT)) AS DOUBLE) * 100.0
        / CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
        AS BIGINT)) AS DOUBLE), 4) AS promo_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= DATE '1996-09-01'
        AND l_shipdate < DATE '1996-10-01'"""))

  /** TPC-H Q17 (small-quantity-order revenue), adapted to the fixture
    * (no p_container column — brand filter only). The correlated
    * scalar subquery is authored as an explicit per-part aggregate +
    * join — exactly what a decorrelator lowers to, but with the
    * broadcast of the filtered part dimension pinned. The threshold
    * compare is exact cross-engine: l_quantity is integer-valued, so
    * per-part sums are order-independent in IEEE doubles.
    */
  val q17SmallQuantity = RegisteredQuery(
    "q17_small_quantity",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      val thresh = l.groupBy(col("l_partkey").as("t_partkey"))
        .agg((avg(col("l_quantity")) * 0.2).as("qty_thresh"))
      l.join(broadcast(Tables.part(s, d)
            .filter(col("p_brand") === "Brand#23")),
          col("l_partkey") === col("p_partkey"))
        .join(thresh, col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < col("qty_thresh"))
        .agg(round(moneySumRaw(col("l_extendedprice")) / 10000.0 / 7.0, 2)
          .as("avg_yearly"))
    },
    Some("""SELECT round(CAST(sum(CAST(round(l.l_extendedprice * 10000)
        AS BIGINT)) AS DOUBLE) / 10000.0 / 7.0, 2) AS avg_yearly
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#23'
        AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)"""))

  /** Unpivot/melt (wide metrics → long (metric, value) rows) — the
    * reshape every feature-store export needs. Spark's native
    * `unpivot` keeps this a zero-shuffle Expand node: each input row
    * fans out to 4 output rows in the same task, no exchange.
    */
  val unpivotMelt = RegisteredQuery(
    "unpivot_melt",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 200)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric")),
    Some("""SELECT l_orderkey, l_linenumber, metric, value FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
          l_quantity AS value FROM lineitem WHERE l_orderkey <= 200
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice',
          l_extendedprice FROM lineitem WHERE l_orderkey <= 200
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount',
          l_discount FROM lineitem WHERE l_orderkey <= 200
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax',
          l_tax FROM lineitem WHERE l_orderkey <= 200)
      ORDER BY l_orderkey, l_linenumber, metric"""))

  /** Deterministic stratified sample: first `n` rows per stratum in
    * md5-of-key order. Unlike `sampleBy` (seeded but engine-specific),
    * hash-order sampling is reproducible across engines AND across
    * cluster sizes — the sample is a pure function of the data, so a
    * 100 TB re-run or a different partitioning yields the same rows.
    * One window shuffle keyed by the stratum.
    */
  val sampleStratified = RegisteredQuery(
    "sample_stratified",
    (s, d) => {
      val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("hk"))
      Tables.orders(s, d)
        .withColumn("hk", md5(col("o_orderkey").cast("string")))
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= 20)
        .select(col("o_orderstatus"), col("o_orderkey"), col("rn"))
        .orderBy(col("o_orderstatus"), col("rn"))
    },
    Some("""SELECT o_orderstatus, o_orderkey, rn FROM (
        SELECT o_orderstatus, o_orderkey,
          CAST(row_number() OVER (PARTITION BY o_orderstatus
            ORDER BY md5(CAST(o_orderkey AS VARCHAR))) AS INTEGER) AS rn
        FROM orders) WHERE rn <= 20
      ORDER BY o_orderstatus, rn"""))

  /** Weighted sampling without replacement, k=5 docs per language,
    * weight = length bucket (longer docs proportionally likelier) —
    * the quality-weighted subsampling step of a training-data mixture.
    * Efraimidis-Spirakis via min-of-w-md5-tickets
    * ([[graft.relational.Sampling.weightedSample]]): the min of w iid
    * uniforms has the same distribution as u^(1/w), so this IS the
    * textbook weighted k-sample, but every comparison is an exact
    * string compare — no ln/pow whose last-ulp differences would break
    * cross-engine hash equality. The oracle replays tickets, min, and
    * ranking verbatim, so the CHECK proves the sampling scheme
    * end-to-end, not just row counts.
    */
  val sampleWeighted = RegisteredQuery(
    "sample_weighted",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("weight",
          least(lit(8), lit(1) + floor(col("n_chars") / 500)).cast("int"))
      graft.relational.Sampling.weightedSample(
          docs, "lang", "doc_id", "weight", k = 5, maxWeight = 8)
        .select(col("lang"), col("doc_id"), col("weight"))
        .orderBy(col("lang"), col("doc_id"))
    },
    Some("""WITH w AS (
        SELECT doc_id, lang,
          CAST(least(8, 1 + n_chars // 500) AS INTEGER) AS weight
        FROM documents),
      tick AS (
        SELECT doc_id, lang, weight,
          min(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(t AS VARCHAR)))
            AS ticket
        FROM w, unnest(generate_series(0, weight - 1)) AS u(t)
        GROUP BY doc_id, lang, weight),
      r AS (
        SELECT lang, doc_id, weight,
          row_number() OVER (PARTITION BY lang ORDER BY ticket, doc_id)
            AS rn
        FROM tick)
      SELECT lang, doc_id, weight FROM r WHERE rn <= 5
      ORDER BY lang, doc_id"""))

  /** Upsert/merge as a pure relational program (the SCD-1 pattern
    * without a table format): base = customer, updates = each
    * customer's latest order priority; merged = updates win, inserts
    * survive, untouched rows pass through. Full-outer join +
    * coalesce — exactly what MERGE INTO lowers to, expressible on any
    * engine, shuffle keyed by the merge key only.
    */
  val mergeUpsert = RegisteredQuery(
    "merge_upsert",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val updates = Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey").as("u_custkey"),
          col("o_orderpriority").as("u_priority"))
      Tables.customer(s, d)
        .join(updates, col("c_custkey") === col("u_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("u_custkey")).as("custkey"),
          col("c_mktsegment").as("mktsegment"),
          coalesce(col("u_priority"), lit("NONE")).as("latest_priority"))
        .orderBy(col("custkey"))
    },
    Some("""WITH updates AS (
        SELECT o_custkey AS u_custkey, o_orderpriority AS u_priority
        FROM (SELECT o_custkey, o_orderpriority, row_number() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        WHERE rn = 1)
      SELECT coalesce(c_custkey, u_custkey) AS custkey,
        c_mktsegment AS mktsegment,
        coalesce(u_priority, 'NONE') AS latest_priority
      FROM customer FULL OUTER JOIN updates ON c_custkey = u_custkey
      ORDER BY custkey"""))

  /** One-pass column profiler (ANALYZE-style data-quality stats):
    * every column's row/null/distinct counts and numeric min/max from
    * ONE aggregation job (multi-distinct lowers to one Expand, still a
    * single scan), exploded to a row per column. The operator a
    * pipeline runs before trusting a new 100 TB drop.
    */
  val profileColumns = RegisteredQuery(
    "profile_columns",
    (s, d) => {
      val cust = Tables.customer(s, d)
      val numeric = Seq("c_custkey", "c_nationkey", "c_acctbal")
      val textual = Seq("c_name", "c_mktsegment")
      val aggs =
        Seq(count(lit(1)).as("n_rows")) ++
        (numeric ++ textual).flatMap(c => Seq(
          count(col(c)).as(s"nn_$c"),
          countDistinct(col(c)).as(s"nd_$c"))) ++
        numeric.flatMap(c => Seq(
          min(col(c)).cast("double").as(s"min_$c"),
          max(col(c)).cast("double").as(s"max_$c")))
      val one = cust.agg(aggs.head, aggs.tail: _*)
      val rows = (numeric ++ textual).map { c =>
        struct(lit(c).as("col_name"),
          col("n_rows").as("n_rows"),
          (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
          col(s"nd_$c").as("n_distinct"),
          (if (numeric.contains(c)) col(s"min_$c")
           else lit(null).cast("double")).as("min_d"),
          (if (numeric.contains(c)) col(s"max_$c")
           else lit(null).cast("double")).as("max_d"))
      }
      one.select(explode(array(rows: _*)).as("p"))
        .select(col("p.*"))
        .orderBy(col("col_name"))
    },
    Some("""SELECT col_name, n_rows, n_nulls, n_distinct, min_d, max_d
      FROM (
        SELECT 'c_custkey' AS col_name, count(*) AS n_rows,
          count(*) - count(c_custkey) AS n_nulls,
          count(DISTINCT c_custkey) AS n_distinct,
          CAST(min(c_custkey) AS DOUBLE) AS min_d,
          CAST(max(c_custkey) AS DOUBLE) AS max_d FROM customer
        UNION ALL
        SELECT 'c_nationkey', count(*), count(*) - count(c_nationkey),
          count(DISTINCT c_nationkey),
          CAST(min(c_nationkey) AS DOUBLE), CAST(max(c_nationkey) AS DOUBLE)
          FROM customer
        UNION ALL
        SELECT 'c_acctbal', count(*), count(*) - count(c_acctbal),
          count(DISTINCT c_acctbal),
          CAST(min(c_acctbal) AS DOUBLE), CAST(max(c_acctbal) AS DOUBLE)
          FROM customer
        UNION ALL
        SELECT 'c_name', count(*), count(*) - count(c_name),
          count(DISTINCT c_name), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
          FROM customer
        UNION ALL
        SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment),
          count(DISTINCT c_mktsegment), CAST(NULL AS DOUBLE),
          CAST(NULL AS DOUBLE) FROM customer)
      ORDER BY col_name"""))

  /** Bloom-runtime-filtered join: the build side (URGENT orders — a
    * predicate selectivity stats can't see) sketches its keys into a
    * Bloom filter (distributed treeAggregate, ~1.2 B/key), and the
    * probe side (lineitem) is pruned BEFORE the shuffle — the rows
    * that can never match are the dominant join cost at 100 TB. No
    * false negatives ⇒ byte-identical to the plain join, so the
    * oracle is the plain join itself: hash-green proves the pruning
    * is sound, not just fast.
    */
  val joinBloomPruned = RegisteredQuery(
    "join_bloom_pruned",
    (s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
      graft.relational.RuntimeFilter.bloomPrunedJoin(
          Tables.lineitem(s, d), "l_orderkey", urgent, "o_orderkey",
          expectedItems = math.max(urgent.count(), 1L))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, count(*) AS n,
        round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem l JOIN orders o ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** TPC-H Q7 core (volume shipping between two nations): the
    * self-join of a dimension under two roles (nation as supplier's
    * vs customer's) — both roles broadcast; the year extraction and
    * nation-pair filter run before the aggregate.
    */
  val q7VolumeShipping = RegisteredQuery(
    "q7_volume_shipping",
    (s, d) => {
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      Tables.supplier(s, d)
        .join(Tables.lineitem(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
    Some("""SELECT supp_nation, cust_nation, l_year,
        round(CAST(sum(CAST(round(volume * 10000) AS BIGINT)) AS DOUBLE)
          / 10000.0, 2) AS revenue
      FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              CAST(year(l_shipdate) AS INTEGER) AS l_year,
              l_extendedprice * (1 - l_discount) AS volume
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1998-01-01')
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** TPC-H Q10 core (returned-item reporting): the revenue-at-risk
    * report — scan-filtered orders window, returned lineitems only,
    * top 20 customers by lost revenue.
    */
  val q10ReturnedItems = RegisteredQuery(
    "q10_returned_items",
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_returnflag") === "R")
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20),
    Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= DATE '1996-10-01'
        AND o_orderdate < DATE '1997-01-01'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey LIMIT 20"""))

  /** Co-located (bucketed) join as a checked query: both sides are
    * written `bucketBy(orderkey)` once — the layout investment — and
    * the join then plans a sort-merge join with NO Exchange on either
    * side (verified in BucketingSpec; `hint("merge")` keeps the
    * planner on the shuffle-join path so bucketing, not broadcast,
    * is what's exercised). THE strategy for 100 TB fact-to-fact joins
    * that repeat daily: the shuffle is paid once at write time, every
    * subsequent join is shuffle-free. Oracle = the same join from the
    * unbucketed originals.
    */
  val joinBucketed = RegisteredQuery(
    "join_bucketed",
    (s, d) => {
      val tag = dirTag(d)
      // a fresh session's catalog is empty but the managed-table
      // LOCATION from a previous run survives on disk — clear both or
      // saveAsTable raises LOCATION_ALREADY_EXISTS
      def resetTable(name: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        val wh = s.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        val loc = new java.io.File(wh, name.toLowerCase)
        if (loc.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(): Unit
          }
          rm(loc)
        }
      }
      // The layout investment is paid ONCE per source-data version —
      // that is the entire point of bucketing ("the shuffle is paid at
      // write time; every subsequent join is shuffle-free"). A content
      // stamp of the source files gates the rewrite: fixture
      // regenerated ⇒ stale stamp ⇒ rebuild; otherwise the persisted
      // bucketed tables ARE the warehouse state a daily job would see.
      // Correctness never depends on the stamp — the oracle checks the
      // join output either way, and a missing/corrupt table simply
      // fails the read loudly.
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val stamp = sourceStamp(s"$d/orders.parquet", s"$d/lineitem.parquet")
      stampGate(s"$wh/graft_bucketed_stamp_$tag.txt", stamp,
          present = s.catalog.tableExists(s"graft_orders_b_$tag") &&
            s.catalog.tableExists(s"graft_lineitem_b_$tag")) {
        resetTable(s"graft_orders_b_$tag")
        resetTable(s"graft_lineitem_b_$tag")
        // bucket only the columns the join consumes — the layout
        // investment is priced by bytes written, and a bucketed copy is
        // a materialized view, not a backup
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(s"graft_orders_b_$tag")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
          .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(s"graft_lineitem_b_$tag")
      }
      s.table(s"graft_lineitem_b_$tag").hint("merge")
        .join(s.table(s"graft_orders_b_$tag"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("o_orderpriority"), col("l_returnflag"))
    },
    Some("""SELECT o_orderpriority, l_returnflag, count(*) AS n,
        round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority, l_returnflag
      ORDER BY o_orderpriority, l_returnflag"""))

  /** TPC-H Q5 core (local supplier volume): the 6-way join with the
    * classic scale shape — lineitem/orders/customer shuffle on their
    * keys, supplier/nation/region broadcast (dimension tables stay
    * broadcast-sized at any SF), date filter pushed to the orders
    * scan, region filter pushed to the region scan.
    */
  val q5LocalSupplier = RegisteredQuery(
    "q5_local_supplier",
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name")),
    Some("""SELECT n_name, round(CAST(sum(CAST(round(l_extendedprice *
          (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 2)
        AS revenue
      FROM customer c
      JOIN orders o ON c_custkey = o_custkey
      JOIN lineitem l ON l_orderkey = o_orderkey
      JOIN supplier s ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation n ON s_nationkey = n_nationkey
      JOIN region r ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND o_orderdate >= DATE '1996-01-01'
        AND o_orderdate < DATE '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""))

  /** TPC-H Q18 core (large-volume customer): the IN-subquery over an
    * aggregate — Catalyst plans it as an aggregate + left-semi join,
    * no subquery re-execution per row; the big lineitem table is
    * aggregated ONCE and reused for both the filter and the output
    * sum.
    */
  val q18LargeVolume = RegisteredQuery(
    "q18_large_volume",
    (s, d) => {
      val bigOrders = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150)
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("string").as("orderdate"),
          col("o_totalprice"),
          round(col("total_qty"), 2).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
    Some("""SELECT c_name, c_custkey, o_orderkey,
        CAST(o_orderdate AS VARCHAR) AS orderdate, o_totalprice,
        round(total_qty, 2) AS total_qty
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(l_quantity) > 150) big
        ON o_orderkey = big.l_orderkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""))

  /** Typed Dataset API surface (case-class Encoders end to end):
    * `Dataset[Order]` filter with Scala lambdas, `groupByKey` +
    * typed aggregators — the compile-time-checked face of the same
    * engine; the oracle proves the typed path computes exactly what
    * the SQL path would. Lambda filters are opaque to pushdown (the
    * documented cost of the typed API); keep them AFTER columnar
    * predicates in real pipelines.
    */
  val typedDataset = RegisteredQuery(
    "typed_dataset",
    (s, d) => {
      import s.implicits._
      val ds = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
        .as[Ord]
      ds.filter((o: Ord) => o.o_totalprice > 100000.0 && o.o_orderstatus != "F")
        .groupByKey((o: Ord) => o.o_orderpriority)
        .agg(
          count(lit(1)).as("n").as[Long],
          round(sum(col("o_totalprice")), 2).as("sum_price").as[Double])
        .select(col("key").as("o_orderpriority"), col("n"),
          col("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
        round(sum(o_totalprice), 2) AS sum_price
      FROM orders
      WHERE o_totalprice > 100000 AND o_orderstatus <> 'F'
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Pure SQL-text entry (the reference's REPL surface, reference
    * `Trainer.scala:110-121`): CTE + window + join over registered
    * temp views, executed through `spark.sql` — same engine, same
    * plans, proving the SQL face computes exactly what the DataFrame
    * face does.
    */
  val sqlCteWindow = RegisteredQuery(
    "sql_cte_window",
    (s, d) => {
      Tables.registerAll(s, d)
      // prices are summed as DECIMAL(18,2): double summation order
      // differs between engines, and round(fp_sum, 2) flips on .005
      // ties — decimal sums are exact and order-independent, then one
      // deterministic cast back to double for the driver's comparator
      s.sql("""
        WITH spend AS (
          SELECT o_custkey,
                 sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spend,
                 count(*) AS n_orders
          FROM orders GROUP BY o_custkey)
        SELECT c_mktsegment,
               CAST(sum(total_spend) AS DOUBLE) AS segment_spend,
               CAST(sum(n_orders) AS BIGINT) AS segment_orders,
               count(*) AS n_customers,
               CAST(max(total_spend) AS DOUBLE) AS top_customer_spend
        FROM customer JOIN spend ON c_custkey = o_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")
    },
    // sum(BIGINT) is INT128 in DuckDB and arrives in pandas as float64
    // (2932.0 vs Spark's 2932) — cast to BIGINT on BOTH sides so the
    // driver's comparator hashes the same integer representation.
    Some("""WITH spend AS (
        SELECT o_custkey,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spend,
               count(*) AS n_orders
        FROM orders GROUP BY o_custkey)
      SELECT c_mktsegment,
             CAST(sum(total_spend) AS DOUBLE) AS segment_spend,
             CAST(sum(n_orders) AS BIGINT) AS segment_orders,
             count(*) AS n_customers,
             CAST(max(total_spend) AS DOUBLE) AS top_customer_spend
      FROM customer JOIN spend ON c_custkey = o_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""))

  /** `GROUP BY ALL` / `ORDER BY ALL` (the modern SQL-text shorthand,
    * same semantics in both engines): every non-aggregate select item
    * groups, the whole row orders. Decimal-sum the price for the
    * cross-engine tie-safety established by `sql_cte_window`.
    */
  val sqlGroupByAll = RegisteredQuery(
    "sql_group_by_all",
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY ALL ORDER BY ALL""")
    },
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY ALL ORDER BY ALL"""))

  /** Named-parameter SQL (`:param` binding via `spark.sql(text, args)`)
    * — the injection-safe text-query surface; the oracle is the same
    * query with the parameters inlined as literals, proving binding ≡
    * literal substitution.
    */
  val sqlParameterized = RegisteredQuery(
    "sql_parameterized",
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        """SELECT o_orderpriority, count(*) AS n
          FROM orders
          WHERE o_totalprice > :minp
            AND o_orderdate < CAST(:cutoff AS TIMESTAMP)
          GROUP BY o_orderpriority ORDER BY o_orderpriority""",
        Map("minp" -> Int.box(150000), "cutoff" -> "1998-01-01"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n
      FROM orders
      WHERE o_totalprice > 150000
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** LIMIT/OFFSET pagination — the page-N query every API backend
    * writes (Spark 3.4+ `OFFSET`): deterministic only because the
    * ORDER BY is total (price desc, then unique key), which is the
    * operational lesson the query encodes — an offset over a
    * non-total order returns different pages per run. Spark plans the
    * global TakeOrdered with limit+offset folded together (scan keeps
    * limit 60, the page cut happens once), not a 40-row discard after
    * a full sort.
    */
  val sqlOffsetPagination = RegisteredQuery(
    "sql_offset_pagination",
    (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .offset(40).limit(20),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 20 OFFSET 40"""))

  /** SQL SCRIPTING (Spark 4 `BEGIN … END` compound statements) — the
    * procedural surface above variables/parameters: DECLARE'd locals,
    * a WHILE loop driving per-iteration scalar subqueries, and IF
    * branching, with the script's value being its final SELECT. The
    * accumulation adds three per-line rounded sums in fixed
    * left-to-right order, so the float math replays exactly; the
    * oracle unrolls the loop into the same expression tree.
    */
  val sqlScripting = RegisteredQuery(
    "sql_scripting",
    (s, d) => {
      s.conf.set("spark.sql.scripting.enabled", "true")
      Tables.lineitem(s, d).createOrReplaceTempView("li_script")
      s.sql("""BEGIN
        DECLARE total DOUBLE DEFAULT 0.0;
        DECLARE n_lines INT DEFAULT 0;
        DECLARE i INT DEFAULT 1;
        WHILE i <= 3 DO
          SET total = total + (SELECT round(sum(l_quantity), 2)
            FROM li_script WHERE l_linenumber = i);
          IF (SELECT count(*) FROM li_script WHERE l_linenumber = i) > 0
          THEN
            SET n_lines = n_lines + 1;
          END IF;
          SET i = i + 1;
        END WHILE;
        SELECT total AS total_qty, n_lines, i AS next_i;
      END""")
    },
    Some("""WITH r AS (
        SELECT
          (SELECT round(sum(l_quantity), 2) FROM lineitem
           WHERE l_linenumber = 1) AS r1,
          (SELECT round(sum(l_quantity), 2) FROM lineitem
           WHERE l_linenumber = 2) AS r2,
          (SELECT round(sum(l_quantity), 2) FROM lineitem
           WHERE l_linenumber = 3) AS r3)
      SELECT 0.0 + r1 + r2 + r3 AS total_qty,
        CAST(3 AS INTEGER) AS n_lines, CAST(4 AS INTEGER) AS next_i
      FROM r"""))

  /** SQL session variables (Spark 4 `DECLARE`/`SET VARIABLE`): typed
    * server-side state referenced from query text — the scripting
    * surface between literals and bind parameters. Variable names are
    * session-scoped and re-declarable, so the query is re-entrant.
    * Oracle: the same query with values inlined, proving variable
    * resolution ≡ literal substitution.
    */
  val sqlVariables = RegisteredQuery(
    "sql_variables",
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql("DECLARE OR REPLACE VARIABLE graft_minp DOUBLE DEFAULT 0.0")
      s.sql("DECLARE OR REPLACE VARIABLE graft_seg STRING")
      s.sql("SET VARIABLE graft_minp = 120000.0")
      s.sql("SET VARIABLE graft_seg = 'BUILDING'")
      s.sql("""
        SELECT o_orderpriority, count(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_totalprice > graft_minp AND c_mktsegment = graft_seg
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority, count(*) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_totalprice > 120000.0 AND c_mktsegment = 'BUILDING'
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** SQL-text `PIVOT` clause (the DataFrame `pivot()` surface is
    * covered by `agg_pivot`; this pins the PARSER path): orders
    * pivoted to one column per status. Oracle: closed-form conditional
    * aggregation — engine-neutral semantics of the same reshape.
    */
  val sqlPivotText = RegisteredQuery(
    "sql_pivot_text",
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT * FROM (
          SELECT o_orderpriority, o_orderstatus FROM orders)
        PIVOT (count(*) FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
        ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority,
        count(*) FILTER (WHERE o_orderstatus = 'F') AS f,
        count(*) FILTER (WHERE o_orderstatus = 'O') AS o,
        count(*) FILTER (WHERE o_orderstatus = 'P') AS p
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** VARIANT ingestion (Spark 4's semi-structured type): parse the
    * JSON props column once into a variant, extract a typed field with
    * `variant_get` — the schema-on-read path for ragged event
    * payloads (vs `json_extract`'s per-path string parsing, already
    * covered by `json_extract`).
    */
  val variantExtract = RegisteredQuery(
    "variant_extract",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          variant_get(parse_json(col("props")), "$.k", "int").as("k"))
        .filter(col("k") > 50)
        .orderBy(col("event_id")),
    Some("""SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
      FROM events WHERE CAST(props->>'$.k' AS INTEGER) > 50
      ORDER BY event_id"""))

  /** Multiset set-ops (`EXCEPT ALL` / `INTERSECT ALL`): duplicates
    * count, unlike the DISTINCT forms already covered — the bag
    * semantics reconciliation jobs actually need (a row present twice
    * on one side and once on the other differs by exactly one copy).
    */
  val setopMultiset = RegisteredQuery(
    "setop_multiset",
    (s, d) => {
      val a = Tables.orders(s, d).select(col("o_orderpriority"))
      val b = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderpriority"))
      a.exceptAll(b).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_except_all"))
        .join(
          a.intersectAll(b).groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n_intersect_all")),
          Seq("o_orderpriority"), "full_outer")
        .orderBy(col("o_orderpriority"))
    },
    Some("""WITH a AS (SELECT o_orderpriority FROM orders),
        b AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
        ea AS (SELECT o_orderpriority, count(*) AS n_except_all
               FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
               GROUP BY 1),
        ia AS (SELECT o_orderpriority, count(*) AS n_intersect_all
               FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
               GROUP BY 1)
      SELECT coalesce(ea.o_orderpriority, ia.o_orderpriority)
          AS o_orderpriority,
        n_except_all, n_intersect_all
      FROM ea FULL OUTER JOIN ia ON ea.o_orderpriority = ia.o_orderpriority
      ORDER BY o_orderpriority"""))

  /** `unionByName(allowMissingColumns)`: the DataFrame-API face of
    * schema evolution — frames with different column sets align by
    * NAME (positional union would silently mismatch) and absent
    * columns null-fill.
    */
  val unionByNameQ = RegisteredQuery(
    "union_by_name",
    (s, d) => {
      val v1 = Tables.nation(s, d).filter(col("n_nationkey") < 12)
        .select(col("n_nationkey"), col("n_name"))
      val v2 = Tables.nation(s, d).filter(col("n_nationkey") >= 12)
        .select(col("n_regionkey"), col("n_name"), col("n_nationkey"))
      v1.unionByName(v2, allowMissingColumns = true)
        .orderBy(col("n_nationkey"))
    },
    Some("""SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey
      FROM nation WHERE n_nationkey < 12
      UNION ALL
      SELECT n_nationkey, n_name, n_regionkey
      FROM nation WHERE n_nationkey >= 12
      ORDER BY n_nationkey"""))

  /** `regexp_extract_all` + explode: every number in every document
    * pulled out with its ordinal — the scrape-then-normalize pattern
    * (the generator keeps the per-doc ordinal so downstream joins are
    * possible).
    */
  val regexExtractAll = RegisteredQuery(
    "regex_extract_all",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
            .as(Seq("ordinal", "number")))
        .orderBy(col("doc_id"), col("ordinal")),
    Some("""SELECT doc_id,
        CAST(u.i - 1 AS INTEGER) AS ordinal, nums[i] AS number
      FROM (SELECT doc_id, regexp_extract_all(text, '[0-9]+') AS nums
            FROM documents),
        unnest(generate_series(1, len(nums))) AS u(i)
      ORDER BY doc_id, ordinal"""))

  /** Recursive CTE (Spark 4's `WITH RECURSIVE`): node depth in the
    * implicit binary tree `parent(n) = n div 2` over document ids — a
    * genuine SQL fixpoint both engines iterate to convergence (the
    * DataFrame-side analogue is `Dedup.connectedComponents`' manual
    * loop; this is the declarative face of the same capability).
    */
  val sqlRecursiveCte = RegisteredQuery(
    "sql_recursive_cte",
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""WITH RECURSIVE depth(doc_id, d) AS (
          SELECT doc_id, 0 FROM documents WHERE doc_id = 0
          UNION ALL
          SELECT c.doc_id, p.d + 1
          FROM documents c JOIN depth p ON c.doc_id div 2 = p.doc_id
          WHERE c.doc_id > 0)
        SELECT doc_id, d FROM depth ORDER BY doc_id""")
    },
    Some("""WITH RECURSIVE depth(doc_id, d) AS (
        SELECT doc_id, 0 FROM documents WHERE doc_id = 0
        UNION ALL
        SELECT c.doc_id, p.d + 1
        FROM documents c JOIN depth p ON c.doc_id // 2 = p.doc_id
        WHERE c.doc_id > 0)
      SELECT doc_id, d FROM depth ORDER BY doc_id"""))

  /** NOT IN subquery semantics — the SQL trap and the physical
    * operator it forces. `x NOT IN (subquery)` is NOT an anti-join
    * when the subquery can yield NULL: three-valued logic makes every
    * row's predicate UNKNOWN, so the result is EMPTY. Spark compiles
    * the clean variant to a null-aware anti join (single-key broadcast
    * NAAJ — the hash-join form, not a nested loop) and must get the
    * poisoned variant's empty answer right. Both variants' counts in
    * one output; DuckDB replays the same standard semantics.
    */
  val subqueryNotIn = RegisteredQuery(
    "subquery_not_in",
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""SELECT 'clean' AS variant, count(*) AS n FROM customer
          WHERE c_custkey NOT IN
            (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
        UNION ALL
        SELECT 'with_null', count(*) FROM customer
          WHERE c_custkey NOT IN
            (SELECT CASE WHEN o_totalprice > 150000 THEN o_custkey END
             FROM orders)
        ORDER BY variant""")
    },
    Some("""SELECT 'clean' AS variant, count(*) AS n FROM customer
        WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
      UNION ALL
      SELECT 'with_null', count(*) FROM customer
        WHERE c_custkey NOT IN
          (SELECT CASE WHEN o_totalprice > 150000 THEN o_custkey END
           FROM orders)
      ORDER BY variant"""))

  /** Correlated LATERAL subquery with per-row ORDER/LIMIT: each
    * customer's top-2 orders by price — the "top-N per key as a join"
    * formulation (the window formulation is `window_topn_per_group`;
    * this is the same semantics through the decorrelator).
    */
  val joinLateral = RegisteredQuery(
    "join_lateral",
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""SELECT c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
    },
    Some("""SELECT c_custkey, o.o_orderkey, o.o_totalprice
      FROM customer,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_custkey = c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      ORDER BY c_custkey, o_totalprice DESC, o_orderkey"""))

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): planted
    * nulls on both sides MATCH each other under null-safe equality —
    * the semantic corner plain equi-joins silently drop.
    */
  val joinNullSafe = RegisteredQuery(
    "join_null_safe",
    (s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"),
          nullif(col("c_nationkey") % 5, lit(0)).as("grp"))
      val supp = Tables.supplier(s, d)
        .select(col("s_suppkey"),
          nullif(col("s_nationkey") % 5, lit(0)).as("grp"))
      cust.join(supp, cust("grp") <=> supp("grp"))
        .groupBy(coalesce(cust("grp"), lit(-1)).as("grp_key"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("grp_key"))
    },
    Some("""SELECT coalesce(c.grp, -1) AS grp_key, count(*) AS n_pairs
      FROM (SELECT c_custkey, nullif(c_nationkey % 5, 0) AS grp
            FROM customer) c
      JOIN (SELECT s_suppkey, nullif(s_nationkey % 5, 0) AS grp
            FROM supplier) s
        ON c.grp IS NOT DISTINCT FROM s.grp
      GROUP BY 1 ORDER BY 1"""))

  /** J-1/J-2 positional zip with a REAL oracle: both sides derive
    * narrowly from the same sorted parent (same partitioning), so the
    * narrow `RDD.zip` path pairs rows positionally — pair integrity is
    * then order-insensitively checkable by sorting on the key column.
    */
  val zipFrames = RegisteredQuery(
    "zip_frames",
    (s, d) => {
      // both sides derive from the SAME sorted plan; range partitioning
      // is deterministic for identical input, so the layouts match and
      // the narrow zip path applies (no cache: unpersisting before the
      // caller's action would silently drop it anyway)
      val base = Tables.customer(s, d).orderBy(col("c_custkey"))
      val left = base.select(col("c_custkey"), col("c_name"))
      val right = base.select(col("c_acctbal"))
      graft.relational.Zip.zipFrames(s, left, right)
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
      ORDER BY c_custkey"""))

  /** Skew-salted join, oracle = the plain join: salting must be
    * semantically invisible (same rows), it only changes the shuffle
    * key distribution. 8 salts spread each customer key over 8
    * reducers.
    */
  val joinSalted = RegisteredQuery(
    "join_salted",
    (s, d) =>
      graft.relational.Skew.saltedJoin(
          Tables.orders(s, d),
          Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
            col("c_name"), col("c_mktsegment")),
          "o_custkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("c_mktsegment")),
    Some("""SELECT c_mktsegment, count(*) AS n_orders,
      round(sum(o_totalprice), 2) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** AQE skew-split join as a checked query (the runtime counterpart
    * of `join_salted`'s manual mitigation): 90% of lineitem rows are
    * funneled onto one join key, the join runs through
    * [[graft.relational.Skew.aqeSkewJoin]] with fixture-scale
    * thresholds, and AQE splits the hot reducer partition at runtime
    * (JoinSkewAqeSpec pins `isSkewJoin` + PartialReducer slices in the
    * executed plan). Oracle = the plain join: skew splitting must be
    * semantically invisible.
    */
  val joinSkewAqe = RegisteredQuery(
    "join_skew_aqe",
    (s, d) => {
      val fact = Tables.lineitem(s, d).select(
        when(col("l_orderkey") % 100 < 90, lit(0L))
          .otherwise(col("l_orderkey") % 100).as("sk"),
        col("l_quantity"))
      val dim = Tables.customer(s, d)
        .groupBy((col("c_custkey") % 100).as("sk"))
        .agg(count(lit(1)).as("n_cust"))
      graft.relational.Skew.aqeSkewJoin(fact, dim, "sk",
          skewThresholdBytes = 16L << 10, advisoryBytes = 8L << 10)
        .groupBy(col("sk"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          max(col("n_cust")).as("n_cust"))
        .orderBy(col("sk"))
    },
    Some("""WITH fact AS (
        SELECT CASE WHEN l_orderkey % 100 < 90 THEN 0
          ELSE l_orderkey % 100 END AS sk, l_quantity
        FROM lineitem),
      dim AS (
        SELECT c_custkey % 100 AS sk, count(*) AS n_cust
        FROM customer GROUP BY 1)
      SELECT f.sk, CAST(count(*) AS BIGINT) AS n_rows,
        round(sum(l_quantity), 2) AS sum_qty,
        max(n_cust) AS n_cust
      FROM fact f JOIN dim d ON f.sk = d.sk
      GROUP BY f.sk ORDER BY f.sk"""))

  // ------------------------------------------------------------ windows

  /** Top-N per group via row_number; tie-broken on the unique key so the
    * result is deterministic.
    */
  val windowTopnPerGroup = RegisteredQuery(
    "window_topn_per_group",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rnk"))
        .orderBy(col("o_custkey"), col("rnk"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        CAST(row_number() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
      FROM orders) WHERE rnk <= 3 ORDER BY o_custkey, rnk"""))

  /** Running aggregate over an explicit ROWS frame. */
  val windowRunningSum = RegisteredQuery(
    "window_running_sum",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        AS running_spend
      FROM orders ORDER BY o_custkey, o_orderkey"""))

  /** Explicit GROUPING SETS (the general form rollup/cube desugar to),
    * via the SQL surface; NULLS FIRST pinned for cross-engine ordering.
    */
  val aggGroupingSets = RegisteredQuery(
    "agg_grouping_sets",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderpriority, o_orderstatus, count(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""")
    },
    Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n
      FROM orders GROUP BY GROUPING SETS ((o_orderpriority),
        (o_orderstatus), ())
      ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST"""))

  /** Offset window functions (lag/lead — pass-through values, no
    * arithmetic) + ntile bucketing; the deterministic tiebreak
    * (o_orderkey) makes offsets reproducible across engines.
    */
  /** Event-time RANGE frame (value-based, not row-based): events per
    * user in the trailing hour — the frame Spark evaluates with one
    * sort per partition and a sliding range pointer, no self-join.
    * Bounds are epoch microseconds on both engines so tie/precision
    * semantics match exactly.
    */
  val windowRangeFrame = RegisteredQuery(
    "window_range_frame",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_last_hour"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id,
        count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_last_hour
      FROM events ORDER BY event_id"""))

  /** Rank-family window functions over one sort: rank, dense_rank,
    * percent_rank, cume_dist (row_number/ntile live in
    * `window_lag_lead`).
    */
  val windowRankStats = RegisteredQuery(
    "window_rank_stats",
    (s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          round(percent_rank().over(w), 6).as("prnk"),
          round(cume_dist().over(w), 6).as("cdist"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_mktsegment,
        rank() OVER w AS rnk,
        dense_rank() OVER w AS drnk,
        round(percent_rank() OVER w, 6) AS prnk,
        round(cume_dist() OVER w, 6) AS cdist
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment
        ORDER BY c_acctbal DESC, c_custkey)
      ORDER BY c_custkey"""))

  /** NTILE quartile assignment — the remaining rank-family member
    * (rank/dense_rank/percent_rank/cume_dist live in
    * `window_rank_stats`): deterministic because the window order is
    * total (balance desc, then unique key), and ntile's
    * uneven-remainder rule (first `n mod k` buckets get the extra
    * row) is the same in both engines. The query emits the quartile
    * EDGES per segment — min/max balance and member count per
    * (segment, quartile) — the summary a risk-banding report ships.
    */
  val windowNtileBuckets = RegisteredQuery(
    "window_ntile_buckets",
    (s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_acctbal"),
          ntile(4).over(w).as("quartile"))
        .groupBy(col("c_mktsegment"), col("quartile"))
        .agg(count(lit(1)).as("n_members"),
          max(col("c_acctbal")).as("top_bal"),
          min(col("c_acctbal")).as("bottom_bal"))
        .orderBy(col("c_mktsegment"), col("quartile"))
    },
    Some("""SELECT c_mktsegment, quartile, count(*) AS n_members,
        max(c_acctbal) AS top_bal, min(c_acctbal) AS bottom_bal
      FROM (
        SELECT c_mktsegment, c_acctbal,
          ntile(4) OVER (PARTITION BY c_mktsegment
            ORDER BY c_acctbal DESC, c_custkey) AS quartile
        FROM customer)
      GROUP BY c_mktsegment, quartile
      ORDER BY c_mktsegment, quartile"""))

  /** Equi-width histogram without a histogram builtin: bucket index is
    * pure arithmetic over the global min/max (two scans: one tiny agg,
    * one binning pass — the portable formulation every engine can
    * verify). */
  val aggHistogram = RegisteredQuery(
    "agg_histogram",
    (s, d) => {
      val stats = Tables.orders(s, d)
        .agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
        .collect().head
      val (lo, hi) = (stats.getDouble(0), stats.getDouble(1))
      val span = if (hi > lo) hi - lo else 1.0
      Tables.orders(s, d)
        .select(least(floor((col("o_totalprice") - lit(lo)) / lit(span) * 10)
          .cast("int"), lit(9)).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },
    Some("""WITH s AS (SELECT min(o_totalprice) AS lo,
          max(o_totalprice) AS hi FROM orders)
      SELECT least(CAST(floor((o_totalprice - lo) /
          (CASE WHEN hi > lo THEN hi - lo ELSE 1 END) * 10) AS INTEGER), 9)
          AS bucket,
        count(*) AS n
      FROM orders, s GROUP BY 1 ORDER BY 1"""))

  /** Daily-spine gap-fill (the time-series resample every metrics
    * pipeline needs): per-user daily event counts with missing days
    * emitted as 0 — the spine is `sequence()` over the GLOBAL date
    * range cross-joined to the user list (spine rows are
    * days×users — tiny next to events), left-joined to the actuals.
    */
  /** RATE-SPIKE anomaly detection — the monitoring twin of the
    * gapfill/interp family: per (event_type, hour) counts compared
    * against the MEDIAN of the trailing six observed hours (rows
    * frame, not range — both engines agg the same six rows), spike =
    * count > 2×median. Everything is INTEGER-EXACT by design: counts
    * are longs, the median of six longs is at worst an exact .5, and
    * the 2× comparison stays in exactly-representable doubles — no
    * float summation order anywhere, so the anomaly FLAGS are
    * hash-stable cross-engine (the trap a mean/stddev z-score
    * detector would hit at the 3σ boundary). The robustness argument
    * is the same as production practice: medians ignore the spike
    * itself when it enters the trailing window.
    */
  val timeseriesSpike = RegisteredQuery(
    "timeseries_spike",
    (s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("hour_start")).rowsBetween(-6, -1)
      hourly.select(col("event_type"), col("hour_start"), col("n"),
          expr("percentile(n, 0.5)").over(w).as("med"),
          count(lit(1)).over(w).as("n_prior"))
        .filter(col("n_prior") === 6)
        .select(col("event_type"), col("hour_start"), col("n"),
          col("med"), (col("n") > col("med") * 2).as("is_spike"))
        .orderBy(col("event_type"), col("hour_start"))
    },
    Some("""WITH h AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_start,
          count(*) AS n
        FROM events GROUP BY 1, 2),
      w AS (
        SELECT event_type, CAST(hour_start AS TIMESTAMP) AS hour_start, n,
          quantile_cont(n, 0.5) OVER (PARTITION BY event_type
            ORDER BY hour_start
            ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS med,
          count(*) OVER (PARTITION BY event_type ORDER BY hour_start
            ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS n_prior
        FROM h)
      SELECT event_type, hour_start, n, med, (n > 2 * med) AS is_spike
      FROM w WHERE n_prior = 6
      ORDER BY event_type, hour_start"""))

  val timeseriesGapfill = RegisteredQuery(
    "timeseries_gapfill",
    (s, d) => {
      val ev = Tables.events(s, d)
      val range = ev.agg(min(to_date(col("ts"))).as("lo"),
        max(to_date(col("ts"))).as("hi"))
      val spine = range
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .crossJoin(ev.select(col("user_id")).distinct())
      val actual = ev
        .groupBy(to_date(col("ts")).as("day"), col("user_id"))
        .agg(count(lit(1)).as("n_raw"))
      spine.join(actual, Seq("day", "user_id"), "left")
        .select(col("day").cast("string").as("day"), col("user_id"),
          coalesce(col("n_raw"), lit(0L)).as("n_events"))
        .orderBy(col("day"), col("user_id"))
    },
    Some("""WITH r AS (SELECT CAST(min(ts) AS DATE) AS lo,
          CAST(max(ts) AS DATE) AS hi FROM events),
      spine AS (
        SELECT CAST(unnest(generate_series(lo, hi,
          INTERVAL 1 DAY)) AS DATE) AS day, u.user_id
        FROM r, (SELECT DISTINCT user_id FROM events) u),
      actual AS (
        SELECT CAST(ts AS DATE) AS day, user_id, count(*) AS n_raw
        FROM events GROUP BY 1, 2)
      SELECT CAST(s.day AS VARCHAR) AS day, s.user_id,
        coalesce(a.n_raw, 0) AS n_events
      FROM spine s LEFT JOIN actual a
        ON s.day = a.day AND s.user_id = a.user_id
      ORDER BY day, s.user_id"""))

  /** Linear interpolation over time-series gaps (the resample step a
    * metrics/feature pipeline runs after gap-fill): per-user daily
    * sums on the global date spine, missing days interpolated between
    * the nearest known neighbors, boundary gaps clamped to the nearest
    * known value. Two window passes over the spine (prev/next known
    * value+day via IGNORE NULLS frames) — no self-join, one shuffle
    * keyed by user. Daily sums are decimal-exact before the IEEE
    * interpolation arithmetic, so both engines compute bit-identical
    * inputs and round(…, 6) absorbs only window-order noise.
    */
  val timeseriesInterp = RegisteredQuery(
    "timeseries_interp",
    (s, d) => {
      val ev = Tables.events(s, d)
      val range = ev.agg(min(to_date(col("ts"))).as("lo"),
        max(to_date(col("ts"))).as("hi"))
      val spine = range
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .crossJoin(ev.select(col("user_id")).distinct())
      val actual = ev
        .groupBy(to_date(col("ts")).as("day"), col("user_id"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
      val wPrev = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(actual, Seq("day", "user_id"), "left")
        .select(col("day"), col("user_id"), col("v"),
          last(col("v"), ignoreNulls = true).over(wPrev).as("pv"),
          last(when(col("v").isNotNull, col("day")), ignoreNulls = true)
            .over(wPrev).as("pd"),
          first(col("v"), ignoreNulls = true).over(wNext).as("nv"),
          first(when(col("v").isNotNull, col("day")), ignoreNulls = true)
            .over(wNext).as("nd"))
        .select(col("day").cast("string").as("day"), col("user_id"),
          round(
            when(col("v").isNotNull, col("v"))
              .when(col("pv").isNull, col("nv"))
              .when(col("nv").isNull, col("pv"))
              .otherwise(col("pv") + (col("nv") - col("pv")) *
                (datediff(col("day"), col("pd")).cast("double") /
                  datediff(col("nd"), col("pd")).cast("double"))), 6)
            .as("v_interp"))
        .orderBy(col("day"), col("user_id"))
    },
    Some("""WITH r AS (SELECT CAST(min(ts) AS DATE) AS lo,
          CAST(max(ts) AS DATE) AS hi FROM events),
      spine AS (
        SELECT CAST(unnest(generate_series(lo, hi,
          INTERVAL 1 DAY)) AS DATE) AS day, u.user_id
        FROM r, (SELECT DISTINCT user_id FROM events) u),
      actual AS (
        SELECT CAST(ts AS DATE) AS day, user_id,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2),
      j AS (
        SELECT s.day, s.user_id, a.v
        FROM spine s LEFT JOIN actual a
          ON s.day = a.day AND s.user_id = a.user_id),
      w AS (
        SELECT day, user_id, v,
          last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
            ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS pv,
          last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
          first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
            ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            AS nv,
          first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        FROM j)
      SELECT CAST(day AS VARCHAR) AS day, user_id,
        round(CASE
          WHEN v IS NOT NULL THEN v
          WHEN pv IS NULL THEN nv
          WHEN nv IS NULL THEN pv
          ELSE pv + (nv - pv) *
            (CAST(date_diff('day', pd, day) AS DOUBLE) /
             CAST(date_diff('day', pd, nd) AS DOUBLE))
          END, 6) AS v_interp
      FROM w ORDER BY day, user_id"""))

  /** Stream-STATIC broadcast enrichment (the dimension-join every
    * streaming ingest runs): the events stream joins the nation
    * dimension map-side per micro-batch — a broadcast static side adds
    * NO streaming state and no watermark interaction, unlike the
    * stream-stream joins. Oracle: identical batch join+aggregate.
    */
  val streamingEnrich = RegisteredQuery(
    "streaming_enrich",
    (s, d) => {
      import graft.streaming.Streams
      val raw = Streams.eventsStreamFromFile(s, s"$d/events.parquet")
      val nation = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
      val enriched = raw
        .join(broadcast(nation), (col("user_id") % 25) === col("nk"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
      Streams.runAvailableNowWithPartitions(s, enriched,
          s"graft_stream_enrich_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Complete(),
          statePartitions = Streams.statePartitionsFor(s,
            s"$d/events.parquet"))
        .orderBy(col("n_name"))
    },
    Some("""SELECT n_name, count(*) AS n_events,
        round(sum(value), 2) AS sum_value
      FROM events JOIN nation ON user_id % 25 = n_nationkey
      GROUP BY n_name ORDER BY n_name"""))

  /** Ratio-to-total window (percent-of-group without a self-join): each
    * (status, priority) cell's share of its status total via
    * sum-over-partition — ONE shuffle keyed by status, no second
    * aggregate or join back. Counts are exact integers, so the division
    * is bit-identical cross-engine; round absorbs nothing but noise.
    */
  val windowRatio = RegisteredQuery(
    "window_ratio",
    (s, d) => {
      val w = Window.partitionBy(col("o_orderstatus"))
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share",
          round(col("n").cast("double") /
            sum(col("n")).over(w).cast("double"), 9))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    },
    Some("""WITH c AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY 1, 2)
      SELECT o_orderstatus, o_orderpriority, n,
        round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (
          PARTITION BY o_orderstatus) AS DOUBLE), 9) AS share
      FROM c ORDER BY o_orderstatus, o_orderpriority"""))

  /** Median absolute deviation per group — the robust spread statistic
    * quality-filter clipping uses (σ blows up on heavy tails; MAD does
    * not). Two exact-percentile aggregates: per-group median, then the
    * median of |x − median| after a broadcast join of the 3-row median
    * table back onto the scan. DuckDB's `mad()` is the closed-form
    * oracle for the whole composition. Exact `percentile` buffers a
    * group's values — at 100 TB swap both phases to
    * `percentile_approx` (same shape, bounded state; the approx-vs-
    * exact error contract is the `agg_approx_bounds` pattern).
    */
  val aggMad = RegisteredQuery(
    "agg_mad",
    (s, d) => {
      val med = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.5D)").as("med"))
      Tables.lineitem(s, d)
        .join(broadcast(med), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(abs(l_extendedprice - med), 0.5D)"), 6)
          .as("mad"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, round(mad(l_extendedprice), 6) AS mad
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  val windowLagLead = RegisteredQuery(
    "window_lag_lead",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).as("quartile"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_custkey,
      lag(o_totalprice) OVER w AS prev_price,
      lead(o_totalprice) OVER w AS next_price,
      ntile(4) OVER w AS quartile
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_orderkey"""))

  // --------------------------------------------------------- sort/top-k

  /** Global top-k: Spark plans TakeOrderedAndProject (no full sort). */
  val topkOrders = RegisteredQuery(
    "topk_orders",
    (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""))

  // ------------------------------------------------------------ set ops

  val setopUnion = RegisteredQuery(
    "setop_union",
    (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy(col("nationkey")),
    Some("""SELECT c_nationkey AS nationkey FROM customer
      UNION SELECT s_nationkey AS nationkey FROM supplier
      ORDER BY nationkey"""))

  /** UNION ALL (bag semantics — no dedup shuffle, unlike `setop_union`):
    * the counts prove duplicates survive.
    */
  val setopUnionAll = RegisteredQuery(
    "setop_union_all",
    (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .unionAll(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("nationkey")),
    Some("""SELECT nationkey, count(*) AS n FROM (
        SELECT c_nationkey AS nationkey FROM customer
        UNION ALL SELECT s_nationkey AS nationkey FROM supplier)
      GROUP BY nationkey ORDER BY nationkey"""))

  val setopExcept = RegisteredQuery(
    "setop_except",
    (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .except(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey")),
    Some("""SELECT c_nationkey AS nationkey FROM customer
      EXCEPT SELECT s_nationkey AS nationkey FROM supplier
      ORDER BY nationkey"""))

  val setopIntersect = RegisteredQuery(
    "setop_intersect",
    (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey")),
    Some("""SELECT c_nationkey AS nationkey FROM customer
      INTERSECT SELECT s_nationkey AS nationkey FROM supplier
      ORDER BY nationkey"""))

  /** CUBE grouping sets (rollup's sibling). */
  val aggCube = RegisteredQuery(
    "agg_cube",
    (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first),
    Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n
      FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
      ORDER BY o_orderpriority ASC NULLS FIRST,
        o_orderstatus ASC NULLS FIRST"""))

  /** Conditional-aggregate surface: the SQL-standard `FILTER (WHERE …)`
    * clause plus `count_if` / `bool_and` / `bool_or` — one hash
    * aggregate, each conditional folding into a codegen'd branch (no
    * per-condition scans). The filtered price sum goes through
    * DECIMAL(18,2) for the cross-engine order-independence established
    * by `sql_cte_window`.
    */
  val aggFilterClause = RegisteredQuery(
    "agg_filter_clause",
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT o_orderpriority,
          count_if(o_totalprice > 150000) AS n_big,
          count(*) FILTER (WHERE o_orderstatus = 'F') AS n_final,
          bool_and(o_totalprice > 0) AS all_pos,
          bool_or(o_orderstatus = 'P') AS any_pending,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS open_price
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority,
        count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
        count(*) FILTER (WHERE o_orderstatus = 'F') AS n_final,
        bool_and(o_totalprice > 0) AS all_pos,
        bool_or(o_orderstatus = 'P') AS any_pending,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS open_price
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** HAVING: post-aggregation filter (Catalyst folds it into the agg). */
  val aggHaving = RegisteredQuery(
    "agg_having",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .filter(col("n_lines") >= 20)
        .orderBy(col("l_suppkey")),
    Some("""SELECT l_suppkey, count(*) AS n_lines,
      round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY l_suppkey HAVING count(*) >= 20
      ORDER BY l_suppkey"""))

  /** Correlated scalar subquery (decorrelated by Catalyst into a join):
    * customers spending above their nation's average.
    */
  val subqueryCorrelated = RegisteredQuery(
    "subquery_correlated",
    (s, d) => {
      Tables.customer(s, d).as("c").createOrReplaceTempView("graft_cust")
      s.sql("""SELECT c_custkey, c_acctbal FROM graft_cust outer_c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM graft_cust inner_c
                           WHERE inner_c.c_nationkey = outer_c.c_nationkey)
        ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey, c_acctbal FROM customer outer_c
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer inner_c
                         WHERE inner_c.c_nationkey = outer_c.c_nationkey)
      ORDER BY c_custkey"""))

  /** Array functions over the embeddings list column: size, element
    * access, slice-sum — the array-scalar surface.
    */
  val arrayFunctions = RegisteredQuery(
    "array_functions",
    (s, d) =>
      Tables.embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).cast("double").as("first_elem"),
        aggregate(slice(col("embedding").cast("array<double>"), 1, 8),
          lit(0.0), (acc, x) => acc + x).as("head_sum"))
        .orderBy(col("vec_id")),
    Some("""SELECT vec_id,
      CAST(len(embedding) AS INTEGER) AS dim,
      CAST(embedding[1] AS DOUBLE) AS first_elem,
      list_sum(embedding[1:8]::DOUBLE[]) AS head_sum
      FROM embeddings ORDER BY vec_id"""))

  // --------------------------------------------------- scalar functions

  /** Date/string/math/conditional scalar surface in one projection.
    * Scalar float math on identical inputs is bit-exact across engines
    * (IEEE 754: *, -, sqrt are correctly rounded), so the float outputs
    * are NOT rounded — `round(x, 2)` is the one non-portable op (Spark
    * HALF_UPs the exact binary double, DuckDB rounds the scaled value,
    * and inputs near a .005 tie diverge). Casts pin narrower Spark types.
    */
  val scalarFunctions = RegisteredQuery(
    "scalar_functions",
    (s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        year(col("l_shipdate")).as("ship_year"),
        month(col("l_shipdate")).as("ship_month"),
        concat(col("l_returnflag"), lit("-"), col("l_linestatus"))
          .as("flag_status"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("disc_price"),
        when(col("l_discount") > 0.05, "HIGH").otherwise("LOW").as("disc_band"),
        sqrt(col("l_quantity")).as("qty_sqrt"),
        length(concat(col("l_returnflag"), col("l_linestatus"))).as("code_len"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""SELECT l_orderkey, l_linenumber,
      CAST(year(l_shipdate) AS INTEGER) AS ship_year,
      CAST(month(l_shipdate) AS INTEGER) AS ship_month,
      l_returnflag || '-' || l_linestatus AS flag_status,
      l_extendedprice * (1 - l_discount) AS disc_price,
      CASE WHEN l_discount > 0.05 THEN 'HIGH' ELSE 'LOW' END AS disc_band,
      sqrt(l_quantity) AS qty_sqrt,
      CAST(length(l_returnflag || l_linestatus) AS INTEGER) AS code_len
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  /** JSON scalar extraction over the events props column. */
  val jsonExtract = RegisteredQuery(
    "json_extract",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .orderBy(col("event_id")),
    Some("""SELECT event_id,
      CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
      FROM events ORDER BY event_id"""))

  /** Time-bucketed aggregation over the stream-shaped events table —
    * the batch twin of the tumbling-window streaming query.
    */
  /** Statistical aggregates (the moments family beyond mean/σ that
    * `graft.encode.Moments` serves): Pearson correlation, sample
    * covariance, sample stddev per group — one pass, map-side partial
    * merge of the co-moment sums (Spark's imperative aggregates carry
    * (n, Σx, Σy, Σxy…) through combiners; no per-group materialization).
    */
  val aggStats = RegisteredQuery(
    "agg_stats",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6)
            .as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
            .as("covar_qty_price"),
          round(stddev_samp(col("l_discount")), 6).as("sd_discount"),
          round(avg(col("l_tax")), 6).as("avg_tax"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
        round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
        round(stddev_samp(l_discount), 6) AS sd_discount,
        round(avg(l_tax), 6) AS avg_tax
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** ANSI-safe scalar error handling: Spark 4 runs ANSI mode (x/0 and
    * bad casts THROW), so dirty-data pipelines must use the `try_*`
    * family — this query proves the null-not-crash semantics match the
    * oracle's native behavior (DuckDB division and TRY_CAST return
    * NULL) row for row across 60k rows.
    */
  val scalarTryFunctions = RegisteredQuery(
    "scalar_try_functions",
    (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          try_divide(col("l_extendedprice"), col("l_linenumber") - lit(3))
            .as("safe_ratio"),
          expr("try_cast(l_returnflag AS INT)").as("flag_num"),
          coalesce(nullif(col("l_linenumber"), lit(3)), lit(-1))
            .as("ln_or_default"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""SELECT l_orderkey, l_linenumber,
        l_extendedprice / (l_linenumber - 3) AS safe_ratio,
        TRY_CAST(l_returnflag AS INTEGER) AS flag_num,
        coalesce(nullif(l_linenumber, 3), -1) AS ln_or_default
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  /** Sketch aggregates with error-bound verification: HLL distinct
    * count and t-digest-style approximate median next to their exact
    * twins, emitting BOOLEAN within-bound columns (the sketch values
    * themselves are engine-specific and can never hash-match another
    * engine — the bound contract is what's portable). Oracle asserts
    * the exact values and `TRUE` for every bound: a sketch drifting
    * out of tolerance turns a row red. At 100 TB the approx forms are
    * the usable ones (single pass, constant memory, no distinct
    * shuffle).
    */
  val aggApproxBounds = RegisteredQuery(
    "agg_approx_bounds",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("nd"),
          approx_count_distinct(col("l_partkey"), 0.02).as("nd_approx"),
          expr("percentile_approx(l_extendedprice, 0.5D, 10000)").as("p50a"),
          expr("percentile(l_extendedprice, 0.5D)").as("p50e"))
        .select(col("l_returnflag"),
          col("nd").as("exact_distinct"),
          (abs(col("nd_approx") - col("nd")).cast("double") /
            col("nd").cast("double") <= 0.1).as("hll_ok"),
          (abs(col("p50a") - col("p50e")) / col("p50e") <= 0.01).as("p50_ok"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
        count(DISTINCT l_partkey) AS exact_distinct,
        TRUE AS hll_ok, TRUE AS p50_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Count-min sketch heavy hitters: ONE pass builds the frequency
    * sketch (`count_min_sketch`, seeded), collected once as a few-KB
    * bounded broadcastable digest, then the top-20 user exact counts
    * probe it. CMS guarantees est ≥ exact always and est ≤ exact +
    * ε·total with depth-many independent rows — both bounds asserted
    * per user. This is the mergeable heavy-hitter path for 100 TB
    * streams: per-partition sketches merge associatively, unlike an
    * exact top-k which needs the full key space. The estimate values
    * are hash-family-specific, so (as with the HLL queries) the
    * checked contract is exact counts + the ge_exact flag — the one
    * bound CMS guarantees DETERMINISTICALLY (est ≥ exact always). The
    * ε-overcount bound holds only with probability 1−δ per estimate,
    * so hashing it into the oracle would make the gate flake ~2% per
    * run over 20 rows; it is asserted in CountMinBoundSpec instead,
    * where a rare miss is diagnosable.
    */
  val aggCountmin = RegisteredQuery(
    "agg_countmin",
    (s, d) => {
      val ev = Tables.events(s, d)
      // ~depth 7 × width 272 ints: a bounded driver fetch, like the
      // capped key/stats collects documented in SURVEY §2
      val skBytes = ev
        .agg(expr("count_min_sketch(user_id, 0.01d, 0.999d, 42)").as("sk"))
        .collect()(0).getAs[Array[Byte]](0)
      // bytes ship in the closure; the sketch object deserializes once
      // per executor (transient lazy), not once per probed row
      val probe = new (Long => Long) with Serializable {
        @transient private lazy val cms =
          org.apache.spark.util.sketch.CountMinSketch
            .readFrom(new java.io.ByteArrayInputStream(skBytes))
        def apply(u: Long): Long = cms.estimateCount(u)
      }
      val est = udf((u: Long) => probe(u))
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
        .select(col("user_id"), col("n_exact"),
          est(col("user_id")).as("e"))
        .select(col("user_id"), col("n_exact"),
          (col("e") >= col("n_exact")).as("ge_exact"))
        .orderBy(col("n_exact").desc, col("user_id"))
        .limit(20)
    },
    Some("""SELECT user_id, count(*) AS n_exact, TRUE AS ge_exact
      FROM events GROUP BY user_id
      ORDER BY n_exact DESC, user_id LIMIT 20"""))

  /** DETERMINISTIC grouped MODE — the categorical summary statistic
    * done safely: Spark's builtin `mode()` breaks frequency ties
    * arbitrarily (hash order), which is exactly the
    * nondeterminism-in-an-aggregate trap, so the operator is the
    * count + `max_by` struct-ordering pick instead (most frequent
    * value, ties to the smallest) — same integer-exact idiom the k-NN
    * classifier's vote uses, exposed as the standalone statistic.
    * One extra keyed aggregate over the slim (group, value) counts;
    * no window.
    */
  val aggModeDeterministic = RegisteredQuery(
    "agg_mode",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_shipdate"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("l_returnflag"))
        .agg(max_by(
          struct(date_format(col("l_shipdate"), "yyyy-MM-dd").as("ds"),
            col("n").as("n")),
          // highest count, then SMALLEST date (negated epoch days)
          struct(col("n"), -datediff(col("l_shipdate"),
            lit("1970-01-01").cast("date")))).as("m"))
        .select(col("l_returnflag"), col("m.ds").as("mode_shipdate"),
          col("m.n").as("n_occurrences"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
        strftime(CAST(mode_shipdate AS DATE), '%Y-%m-%d')
          AS mode_shipdate,
        n_occurrences
      FROM (
        SELECT l_returnflag, l_shipdate AS mode_shipdate, count(*)
            AS n_occurrences,
          row_number() OVER (PARTITION BY l_returnflag
            ORDER BY count(*) DESC, l_shipdate) AS rn
        FROM lineitem GROUP BY l_returnflag, l_shipdate)
      WHERE rn = 1 ORDER BY l_returnflag"""))

  /** EXACT distinct counting via BITMAP aggregates (Spark 3.5
    * `bitmap_bucket_number` / `bitmap_bit_position` /
    * `bitmap_construct_agg` / `bitmap_count`) — the third
    * count-distinct strategy beside exact `countDistinct` (full key
    * shuffle) and HLL (approximate): keys fold into fixed 4 KB
    * bitmaps per 32k-bucket, so the shuffle carries one bitmap per
    * (group, bucket) instead of every distinct key, and the result is
    * still EXACT — the warehouse trick for high-cardinality distinct
    * at scale. The two-level shape (per-bucket construct+count, then
    * sum) is the documented usage; the oracle is plain
    * count(DISTINCT), with the equality asserted per group.
    */
  val aggBitmapDistinct = RegisteredQuery(
    "agg_bitmap_distinct",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val viaBitmap = li
        .groupBy(col("l_returnflag"),
          expr("bitmap_bucket_number(l_partkey)").as("bkt"))
        .agg(expr(
          "bitmap_count(bitmap_construct_agg(bitmap_bit_position(l_partkey)))")
          .as("c"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("c")).as("nd_bitmap"))
      li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd_exact"))
        .join(viaBitmap, "l_returnflag")
        .select(col("l_returnflag"), col("nd_exact"),
          (col("nd_bitmap") === col("nd_exact")).as("bitmap_ok"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
        count(DISTINCT l_partkey) AS nd_exact, TRUE AS bitmap_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** MISRA-GRIES heavy hitters
    * ([[graft.llm.Vocabulary.heavyHittersKeys]]) — the DETERMINISTIC
    * counter-based complement of `agg_countmin`'s hash sketch: k
    * counters in one treeAggregate scan (map-side partials, mergeable
    * per Agarwal et al.) guarantee, with NO probability qualifier,
    * that every key holding > n/k of the stream is present and every
    * estimate lies in [true − n/k, true]. The stream is the skewed
    * join key from `join_skew_aqe` (one key carries ~90% of lineitem)
    * — exactly the diagnostic MG exists for at 100 TB: "which keys
    * would break my shuffle" without an exact full-cardinality
    * aggregate. Both bounds are deterministic, so the oracle asserts
    * them as literal TRUEs over the exact counts of the keys above
    * threshold (estimates themselves are partitioning-dependent and
    * stay out of the hash, like every sketch query here).
    */
  val aggHeavyHitters = RegisteredQuery(
    "agg_heavy_hitters",
    (s, d) => {
      val capacity = 8
      val skewed = Tables.lineitem(s, d).select(
        when(col("l_orderkey") % 100 < 90, lit(0L))
          .otherwise(col("l_orderkey") % 100).as("sk"))
      // the sketch pass and the exact-count pass are independent scans
      // — overlap them (guide §2.6); the n/capacity bound filter moves
      // to the driver over the key-bounded (≤ 101-row) group digest,
      // which is the same k-bounded fetch contract either way
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      // carryJobDescription: both spawned jobs keep the bench's
      // thread-local label/group (guide §1.5)
      val fSketch = graft.core.Sessions.carryJobDescription(s)(
        graft.llm.Vocabulary.heavyHittersKeys(skewed, "sk", capacity))
      val fExact = graft.core.Sessions.carryJobDescription(s)(
        skewed.groupBy(col("sk"))
          .agg(count(lit(1)).as("n_exact"))
          .collect())
      val (summary, n) = scala.concurrent.Await.result(fSketch,
        scala.concurrent.duration.Duration.Inf)
      val bound = n / capacity
      val rows = scala.concurrent.Await.result(fExact,
          scala.concurrent.duration.Duration.Inf)
        .filter(_.getLong(1) > bound)
        .map { r =>
          val (k, exact) = (r.getLong(0), r.getLong(1))
          val est = summary.getOrElse(k.toString, -1L)
          (k, exact, est >= 0L, est <= exact && exact - est <= bound)
        }
        .sortBy(_._1).toIndexedSeq
      import s.implicits._
      rows.toDF("sk", "n_exact", "in_sketch", "bound_ok")
    },
    Some("""WITH k AS (
        SELECT CASE WHEN l_orderkey % 100 < 90 THEN 0
          ELSE l_orderkey % 100 END AS sk
        FROM lineitem),
      c AS (SELECT sk, count(*) AS n_exact FROM k GROUP BY sk),
      t AS (SELECT count(*) AS total FROM k)
      SELECT sk, n_exact, TRUE AS in_sketch, TRUE AS bound_ok
      FROM c, t WHERE n_exact > total // 8 ORDER BY sk"""))

  /** MERGEABLE sketches — the incremental-distinct pattern: one HLL
    * sketch per daily batch (`hll_sketch_agg`), merged with
    * `hll_union_agg`, estimated once — so "distinct users ever" is
    * maintainable by merging each new day's sketch into yesterday's
    * instead of recounting history (the only way incremental distinct
    * works at 100 TB; plain counts can't subtract-merge). Estimates
    * are engine-specific, so the checked output is the exact count
    * plus a boolean asserting the merged estimate lands within 5%/±5
    * of it (same contract as `agg_approx_bounds`/`streaming_hll`).
    */
  val incrementalHll = RegisteredQuery(
    "incremental_hll",
    (s, d) => {
      val perDay = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"),
          countDistinct(col("user_id")).as("nd_day"))
      perDay.agg(
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
          sum(col("nd_day")).as("sum_daily"))
        .join(Tables.events(s, d)
          .agg(countDistinct(col("user_id")).as("exact_users")))
        .select(col("exact_users"),
          (abs(col("est") - col("exact_users")).cast("double") <=
            greatest(col("exact_users") * 0.05, lit(5.0)))
            .as("merged_within_bound"),
          // merging must dedup across days: daily sum >> true distinct
          (col("sum_daily") >= col("exact_users")).as("daily_sum_ge_exact"))
    },
    Some("""SELECT count(DISTINCT user_id) AS exact_users,
        TRUE AS merged_within_bound, TRUE AS daily_sum_ge_exact
      FROM events"""))

  /** Partition-pruned scan: write events partitioned by day (the
    * layout decision), read back ONE day — the plan's PartitionFilters
    * prove only that day's files are touched (a 100 TB table read
    * becomes a 1-day read; data-layout pruning is the cheapest scan
    * optimization there is). Oracle computes the same day from the
    * unpartitioned original.
    */
  val partitionPruning = RegisteredQuery(
    "partition_pruning",
    (s, d) => {
      val tmp = s"/tmp/graft_partdemo_${math.abs(d.hashCode)}"
      val ev = Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
      ev.write.mode("overwrite").partitionBy("day").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("day") === lit("2024-01-03").cast("date"))
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("hour_start"))
    },
    Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events
      WHERE CAST(ts AS DATE) = DATE '2024-01-03'
      GROUP BY 1 ORDER BY 1"""))

  /** Ordered funnel (view → click → purchase): per user, the FIRST
    * view, the first click strictly after it, the first purchase
    * strictly after that — order matters, not mere event presence.
    * Shape: one conditional min-aggregate per stage, each joined back
    * on user_id — three shuffles all keyed by the same column (one
    * exchange reused under AQE), per-stage frames at most one row per
    * user, no windows over the raw event stream. Stage-gap median is
    * exact: µs diffs are integers, and linear interpolation of two
    * integers is the same half in both engines.
    */
  val funnelConversion = RegisteredQuery(
    "funnel_conversion",
    (s, d) => {
      val e = Tables.events(s, d)
      // each stage frame persists for its TWO consumers (the next
      // stage's join + the final counts) — unpersisted, the funnel
      // chain re-derived v inside c and c inside p, scanning events 6
      // times instead of 3 (one pushed-filter scan per stage). Slim
      // per-user rows. The ONE-ROW result materializes inside the
      // query so the caches release deterministically in the finally
      // (Spark's CacheManager pins a persisted Dataset until explicit
      // unpersist — an unreferenced handle is never reclaimed).
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
        .persist()
      val c = e.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"),
          min(col("t_view")).as("t_view"))
        .persist()
      try {
        val p = e.filter(col("event_type") === "purchase")
          .join(c, Seq("user_id"))
          .filter(col("ts") > col("t_click"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
        val out = v.agg(count(lit(1)).as("n_view")).crossJoin(
            c.agg(count(lit(1)).as("n_click"),
              round(expr("percentile((unix_micros(t_click) - " +
                "unix_micros(t_view)) / 60000000.0, 0.5)"), 4)
                .as("median_mins_to_click")))
          .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
        val rows = out.collect().toIndexedSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
      } finally {
        c.unpersist(blocking = false)
        v.unpersist(blocking = false): Unit
      }
    },
    Some("""WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      c AS (
        SELECT e.user_id, min(e.ts) AS t_click, min(v.t_view) AS t_view
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id),
      p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id)
      SELECT (SELECT count(*) FROM v) AS n_view,
        (SELECT count(*) FROM c) AS n_click,
        (SELECT round(quantile_cont(
          (epoch_us(t_click) - epoch_us(t_view)) / 60000000.0, 0.5), 4)
          FROM c) AS median_mins_to_click,
        (SELECT count(*) FROM p) AS n_purchase"""))

  /** Incremental aggregation (the 100 TB ingest pattern): aggregate
    * two disjoint batches of events independently, then MERGE the
    * partials (counts add, sums add) — proving the nightly-delta
    * pipeline equals the full recompute. Count/sum/min/max are the
    * mergeable aggregates; the final round happens after the merge so
    * summation-order differences stay absorbed.
    */
  val incrementalAgg = RegisteredQuery(
    "incremental_agg",
    (s, d) => {
      val e = Tables.events(s, d)
      val split = lit("2024-01-04").cast("timestamp")
      def daily(df: DataFrame): DataFrame =
        df.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"),
            min(col("value")).as("mn"), max(col("value")).as("mx"))
      daily(e.filter(col("ts") < split))
        .unionByName(daily(e.filter(col("ts") >= split)))
        .groupBy(col("day"))
        .agg(sum(col("n")).as("n_events"),
          round(sum(col("sv")), 2).as("sum_value"),
          min(col("mn")).as("min_value"),
          max(col("mx")).as("max_value"))
        .orderBy(col("day"))
    },
    Some("""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        count(*) AS n_events, round(sum(value), 2) AS sum_value,
        min(value) AS min_value, max(value) AS max_value
      FROM events GROUP BY 1 ORDER BY day"""))

  /** Z-order (Morton) index: the bit-interleave that drives
    * two-dimensional file clustering ([[graft.relational.ZOrder]]).
    * The oracle runs the IDENTICAL shift/mask arithmetic, generated
    * from the same code. The layout step itself (repartitionByRange on
    * z + sorted write ⇒ disjoint per-file envelopes on both columns)
    * is asserted in ZOrderSpec.
    */
  /** Per-file BLOOM file-skipping index
    * ([[graft.relational.BloomSkipIndex]]) — the point-lookup
    * complement of `zorder_index`'s range story: the table is laid
    * out by a column UNCORRELATED with the lookup key (16 files
    * hash-partitioned on l_suppkey), so min/max stats cannot prune an
    * l_orderkey point predicate; the bloom sidecar (one filter per
    * file, built in one scan with map-side-merged partials) answers
    * "might this file hold the key" and the lookup scans only
    * candidate files — Delta bloom-index / Iceberg puffin semantics
    * from public Spark pieces. The looked-up key is max(l_orderkey),
    * derived from the data identically by the oracle. File-skip
    * evidence (candidates ≪ files) is pinned in BloomSkipIndexSpec —
    * a hash-partitioned layout isn't SQL-replayable, but the returned
    * ROWS are layout-independent, so the oracle checks them exactly.
    */
  val lookupBloomSkip = RegisteredQuery(
    "lookup_bloom_skip",
    (s, d) => {
      import graft.relational.BloomSkipIndex
      val tbl = s"/tmp/graft_bloom_tbl_${dirTag(d)}"
      val idx = s"/tmp/graft_bloom_idx_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/lineitem.parquet")
      stampGate(s"$idx.stamp", stamp) {
        val li = Tables.lineitem(s, d)
        li.repartition(16, col("l_suppkey"))
          .write.mode("overwrite").parquet(tbl)
        BloomSkipIndex.build(s, tbl, "l_orderkey", idx,
          expectedPerFile = math.max(li.count() / 8, 64L))
      }
      val key = Tables.lineitem(s, d)
        .agg(max(col("l_orderkey"))).collect().head.getLong(0)
      val (res, nCand, nFiles) = BloomSkipIndex.lookup(s, tbl, idx,
        "l_orderkey", key)
      require(nCand >= 1 && nCand <= nFiles,
        s"bloom candidates $nCand out of $nFiles files")
      res.select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"))
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      FROM lineitem
      WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)
      ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag"""))

  /** Per-file MIN/MAX zone-map sidecar
    * ([[graft.relational.MinMaxSkipIndex]]) — the RANGE complement of
    * `lookup_bloom_skip`'s point story, and the explicit form of
    * Delta/Iceberg per-file data-skipping stats: the table is laid
    * out range-clustered on the key (`repartitionByRange` + sorted
    * write ⇒ disjoint per-file envelopes), the sidecar records each
    * file's [min, max, count] in one scan, and a 10%-of-domain range
    * lookup plans a scan over only the overlapping files. The range
    * bounds derive from the data (max//2 .. max//2 + max//10) with
    * the identical integer arithmetic in the oracle. File-skip
    * evidence (candidates ≪ files) plus the no-skip honesty of a
    * random layout are pinned in MinMaxSkipIndexSpec; the returned
    * ROWS are layout-independent, so the oracle checks them exactly.
    */
  val lookupMinmaxSkip = RegisteredQuery(
    "lookup_minmax_skip",
    (s, d) => {
      import graft.relational.MinMaxSkipIndex
      val tbl = s"/tmp/graft_minmax_tbl_${dirTag(d)}"
      val idx = s"/tmp/graft_minmax_idx_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/lineitem.parquet")
      stampGate(s"$idx.stamp", stamp) {
        Tables.lineitem(s, d)
          .repartitionByRange(16, col("l_orderkey"))
          .sortWithinPartitions(col("l_orderkey"))
          .write.mode("overwrite").parquet(tbl)
        MinMaxSkipIndex.build(s, tbl, "l_orderkey", idx)
      }
      val maxOk = Tables.lineitem(s, d)
        .agg(max(col("l_orderkey"))).collect().head.getLong(0)
      val (lo, hi) = (maxOk / 2, maxOk / 2 + maxOk / 10)
      val (res, nCand, nFiles) = MinMaxSkipIndex.lookupRange(s, tbl, idx,
        "l_orderkey", lo, hi)
      require(nCand >= 1 && nCand < nFiles,
        s"zone map skipped nothing: $nCand of $nFiles files")
      res.select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"))
    },
    Some("""WITH r AS (
        SELECT max(l_orderkey) // 2 AS lo,
          max(l_orderkey) // 2 + max(l_orderkey) // 10 AS hi
        FROM lineitem)
      SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      FROM lineitem, r WHERE l_orderkey BETWEEN lo AND hi
      ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag"""))

  val zorderIndex = RegisteredQuery(
    "zorder_index",
    (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.relational.ZOrder.zValue(
            col("l_partkey") % 256, col("l_suppkey") % 256, bits = 8)
            .as("z"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some(s"""SELECT l_orderkey, l_linenumber,
      ${graft.relational.ZOrder.zValueSql(
        "(l_partkey % 256)", "(l_suppkey % 256)", bits = 8)} AS z
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  val eventsHourly = RegisteredQuery(
    "events_hourly",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("hour_start")),
    Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
      count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1 ORDER BY hour_start"""))

  /** Structured-Streaming hourly aggregate run to completion
    * (AvailableNow) over the same events data — shares the batch twin's
    * DuckDB oracle, proving stream/batch equivalence through the
    * harness. The fixture file is staged into a directory because the
    * streaming file source requires one.
    */
  /** Streaming HLL per window vs the batch exact twin: streams cannot
    * run exact count-distinct (unbounded per-window key state), so the
    * sketch IS the production form — the query joins the stream's
    * per-hour approx against the batch exact and emits a bound
    * boolean; the oracle asserts every bound TRUE plus the exact
    * per-hour row counts.
    */
  val streamingHll = RegisteredQuery(
    "streaming_hll",
    (s, d) => {
      import graft.streaming.Streams
      val raw = Streams.eventsStreamFromFile(s, s"$d/events.parquet")
      val streamed = Streams.runAvailableNowWithPartitions(s,
        Streams.hourlyApproxUsers(raw),
        s"graft_stream_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Complete(),
        // source-sized state partitions (guide §2.2) — the stream-join
        // right-sizing extended to every stateful runner
        statePartitions = Streams.statePartitionsFor(s,
          s"$d/events.parquet"))
      val exact = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
        .agg(countDistinct(col("user_id")).as("nd_exact"))
      // 10% relative with an absolute floor of 5: HLL's RELATIVE error
      // degrades at tiny cardinalities (an hour with ~10 users can be
      // off by 2-3), while the absolute error stays small
      streamed.join(exact, Seq("hour_start"))
        .select(col("hour_start"), col("n_events"),
          (abs(col("nd_approx") - col("nd_exact")).cast("double") <=
            greatest(col("nd_exact").cast("double") * 0.1, lit(5.0)))
            .as("hll_ok"))
        .orderBy(col("hour_start"))
    },
    Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        count(*) AS n_events, TRUE AS hll_ok
      FROM events GROUP BY 1 ORDER BY 1"""))

  val streamingHourly = RegisteredQuery(
    "streaming_hourly",
    (s, d) => {
      import graft.streaming.Streams
      val raw = Streams.eventsStreamFromFile(s, s"$d/events.parquet")
      Streams.runAvailableNowWithPartitions(s, Streams.hourlyAgg(raw),
          s"graft_stream_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Complete(),
          statePartitions = Streams.statePartitionsFor(s,
            s"$d/events.parquet"))
        .orderBy(col("hour_start"))
    },
    Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
      count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1 ORDER BY hour_start"""))

  /** Sliding-window (1 h length, 30 min slide) event-type counts run as
    * a stream to completion. Oracle: each event belongs to exactly TWO
    * sliding windows — the 30-min-aligned one at floor30(ts) and the
    * one 30 min earlier — so the batch twin is a UNION ALL of two
    * shifted tumbling groupings. Stream/batch hash equality pins the
    * overlapping window-assignment semantics.
    */
  val streamingSliding = RegisteredQuery(
    "streaming_sliding",
    (s, d) => {
      import graft.streaming.Streams
      val raw = Streams.eventsStreamFromFile(s, s"$d/events.parquet")
      Streams.runAvailableNowWithPartitions(s, Streams.slidingTypeCounts(raw),
          s"graft_stream_sliding_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Complete(),
          statePartitions = Streams.statePartitionsFor(s,
            s"$d/events.parquet"))
        .orderBy(col("window_start"), col("event_type"))
    },
    Some("""WITH w AS (
        SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 1800000000)
            AS window_start,
          event_type FROM events
        UNION ALL
        SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 1800000000
            - 1800000000),
          event_type FROM events)
      SELECT window_start, event_type, count(*) AS n
      FROM w GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Stateful streaming sessionization over the events fixture: user
    * sessions closed on a 2-hour event-time gap, aggregated to a
    * per-user closed-session count. Oracle: gaps-and-islands sessions
    * (strict `>` gap, matching `sessionize`) minus each user's LAST
    * session — exactly the sessions the stream has closed when input
    * ends. A stateful-streaming operator proven equivalent to a batch
    * oracle. (Fixture audited: no inter-event gap within 1 ms of the
    * 2 h boundary at sf0.01/sf0.1, so the handler's millisecond gap
    * math and the oracle's µs interval compare agree.)
    */
  val streamingSessions = RegisteredQuery(
    "streaming_sessions",
    (s, d) => {
      import graft.streaming.Streams
      import s.implicits._
      val raw = Streams.eventsStreamFromFile(s, s"$d/events.parquet")
        .select(col("user_id"), col("ts"), col("value"))
        .as[Streams.SessionEvent]
      val sessions = Streams.sessionize(raw, gapMs = 2L * 3600 * 1000)
      Streams.runAvailableNowWithPartitions(s, sessions.toDF(),
          s"graft_sessions_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Streams.statePartitionsFor(s,
            s"$d/events.parquet"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_closed_sessions"),
          round(sum(col("sum_value")), 2).as("total_value"))
        .orderBy(col("user_id"))
    },
    Some("""WITH marked AS (
        SELECT user_id, ts, value,
          CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 > INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_sess
        FROM events),
      sess AS (
        SELECT user_id, ts, value,
          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked),
      by_sess AS (
        SELECT user_id, sid, sum(value) AS sum_value
        FROM sess GROUP BY user_id, sid),
      closed AS (
        SELECT * FROM by_sess
        QUALIFY sid < max(sid) OVER (PARTITION BY user_id))
      SELECT user_id, count(*) AS n_closed_sessions,
        round(sum(sum_value), 2) AS total_value
      FROM closed GROUP BY user_id ORDER BY user_id"""))

  /** Streaming exactly-once dedup under simulated at-least-once
    * delivery: the fixture staged TWICE into the stream directory,
    * `dropDuplicatesWithinWatermark(event_id)` in Append mode, then the
    * deduped memory table aggregated hourly — hash-equal to the batch
    * hourly oracle over the ORIGINAL single-copy events iff every
    * duplicate was dropped.
    */
  val streamingDedup = RegisteredQuery(
    "streaming_dedup",
    (s, d) => {
      import graft.streaming.Streams
      val raw = Streams.eventsStreamFromFile(s, s"$d/events.parquet",
        copies = 2)
      val deduped = Streams.dedupByKey(raw, "event_id", "2 hours")
      Streams.runAvailableNowWithPartitions(s, deduped,
          s"graft_stream_dedup_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Streams.statePartitionsFor(s,
            s"$d/events.parquet"),
          // dropDuplicatesWithinWatermark emits each survivor in its
          // own data batch; the trailing no-data micro-batch only
          // evicts expired keys from state — skipping it cannot change
          // the output (guide §1.2-1)
          extraConf = Map(
            "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("hour_start"))
    },
    Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
      count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1 ORDER BY hour_start"""))

  /** Watermarked stream-stream interval join: each click joined to the
    * same user's purchases within the following 24 h. Inner join emits
    * on match (not on watermark), so the AvailableNow replay emits all
    * matches; the watermark bounds join state on an unbounded stream.
    * Oracle: the identical interval join in batch SQL.
    */
  val streamingJoin = RegisteredQuery(
    "streaming_join",
    (s, d) => {
      import graft.streaming.Streams
      // one staged source, filtered twice (stream self-join): half the
      // source scan + offset tracking of two independent file streams
      val raw = Streams.eventsStreamFromFile(s, s"$d/events.parquet")
      val clicks = raw
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = raw
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"),
          col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = Streams.intervalJoin(clicks, purchases,
        "user_id", "p_user_id", "click_ts", "purchase_ts", "24 hours")
      Streams.runAvailableNowWithPartitions(s, joined
          .select(col("user_id"), col("click_id"), col("purchase_id")),
          s"graft_stream_join_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Streams.statePartitionsFor(s,
            s"$d/events.parquet"),
          // INNER join emits on match, never on watermark: the final
          // no-data micro-batch exists only to evict state, so skipping
          // it cannot change the output — one fewer full state-store
          // commit cycle per run (guide §1.2-1: don't run work whose
          // result is thrown away). The OUTER variants below keep it:
          // their unmatched rows emit exactly there.
          extraConf = Map(
            "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))
        .orderBy(col("click_id"), col("purchase_id"))
    },
    Some("""SELECT c.user_id, c.event_id AS click_id,
        pu.event_id AS purchase_id
      FROM events c JOIN events pu
        ON c.user_id = pu.user_id AND c.event_type = 'click'
        AND pu.event_type = 'purchase'
        AND pu.ts >= c.ts AND pu.ts <= c.ts + INTERVAL 24 HOUR
      ORDER BY click_id, purchase_id"""))

  /** LEFT-OUTER stream-stream interval join — the semantics only a
    * watermark can define: matches emit eagerly; an unmatched view
    * emits (with a null click) once the watermark passes its 30-minute
    * match window; views the final watermark never clears stay in
    * state and never emit. The AvailableNow trigger advances the
    * watermark through to the end of input before terminating, and
    * the GLOBAL watermark is the MINIMUM over the per-stream
    * watermarks (each `max(ts seen) − delay` — calibrated empirically
    * against the stream's own output), so the flush boundary is
    * closed-form: unmatched views emit iff
    * `v_ts + 30 min < least(max view ts, max click ts) − 1 h`. The
    * batch oracle computes exactly which rows the stream must have
    * emitted. Two time-ordered micro-batches keep the watermark
    * progression realistic (matches also emit mid-stream, not only at
    * the end).
    */
  val streamingJoinOuter = RegisteredQuery(
    "streaming_join_outer",
    (s, d) => {
      import graft.streaming.Streams
      val split = "2024-01-16"
      val raw = Streams.eventsStreamTwoBatches(s, s"$d/events.parquet", split)
      val views = raw.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val clicks = raw.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user_id"),
          col("event_id").as("click_id"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = Streams.leftOuterIntervalJoin(views, clicks,
        "user_id", "c_user_id", "v_ts", "c_ts", "30 minutes")
      Streams.runAvailableNowWithPartitions(s,
          joined.select(col("user_id"), col("view_id"), col("click_id")),
          s"graft_stream_louter_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Streams.statePartitionsFor(s,
            s"$d/events.parquet"))
        .orderBy(col("view_id"), col("click_id"))
    },
    Some("""WITH v AS (SELECT user_id, event_id AS view_id, ts AS v_ts
              FROM events WHERE event_type = 'view'),
        c AS (SELECT user_id AS c_user_id, event_id AS click_id, ts AS c_ts
              FROM events WHERE event_type = 'click'),
        m AS (SELECT v.user_id, view_id, click_id
              FROM v JOIN c ON v.user_id = c_user_id
                AND c_ts >= v_ts
                AND c_ts <= v_ts + INTERVAL 30 MINUTE),
        wm AS (SELECT least(
                 (SELECT max(ts) FROM events WHERE event_type = 'view'),
                 (SELECT max(ts) FROM events WHERE event_type = 'click'))
                 - INTERVAL 1 HOUR AS w),
        unm AS (SELECT v.user_id, view_id, CAST(NULL AS BIGINT) AS click_id
                FROM v, wm
                WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.view_id = v.view_id)
                  AND v_ts + INTERVAL 30 MINUTE < wm.w)
      SELECT user_id, view_id, click_id FROM m
      UNION ALL SELECT user_id, view_id, click_id FROM unm
      ORDER BY view_id, click_id NULLS FIRST"""))

  /** FULL-OUTER stream-stream interval join — both null sides, each
    * with its own closed-form flush law under the same global
    * watermark `wm = least(max view ts, max click ts) − 1 h`: an
    * unmatched view emits when its whole match window is below wm
    * (`v_ts + 30 min < wm`); an unmatched click emits when no future
    * view can reach it (views arrive with `v_ts > wm`; a match needs
    * `v_ts ≤ c_ts`, so the click is dead once `c_ts < wm`).
    */
  val streamingJoinFull = RegisteredQuery(
    "streaming_join_full",
    (s, d) => {
      import graft.streaming.Streams
      val split = "2024-01-16"
      val raw = Streams.eventsStreamTwoBatches(s, s"$d/events.parquet", split)
      val views = raw.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user_id"),
          col("event_id").as("view_id"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val clicks = raw.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user_id"),
          col("event_id").as("click_id"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = views.join(clicks,
        col("v_user_id") === col("c_user_id") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("interval 30 minutes"),
        "full_outer")
      Streams.runAvailableNowWithPartitions(s,
          joined.select(col("view_id"), col("click_id")),
          s"graft_stream_fouter_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Streams.statePartitionsFor(s,
            s"$d/events.parquet"))
        .orderBy(col("view_id"), col("click_id"))
    },
    Some("""WITH v AS (SELECT user_id, event_id AS view_id, ts AS v_ts
              FROM events WHERE event_type = 'view'),
        c AS (SELECT user_id AS c_user_id, event_id AS click_id, ts AS c_ts
              FROM events WHERE event_type = 'click'),
        m AS (SELECT view_id, click_id, v_ts, c_ts
              FROM v JOIN c ON v.user_id = c_user_id
                AND c_ts >= v_ts
                AND c_ts <= v_ts + INTERVAL 30 MINUTE),
        wm AS (SELECT least(
                 (SELECT max(ts) FROM events WHERE event_type = 'view'),
                 (SELECT max(ts) FROM events WHERE event_type = 'click'))
                 - INTERVAL 1 HOUR AS w),
        unmv AS (SELECT view_id, CAST(NULL AS BIGINT) AS click_id
                 FROM v, wm
                 WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.view_id = v.view_id)
                   AND v_ts + INTERVAL 30 MINUTE < wm.w),
        unmc AS (SELECT CAST(NULL AS BIGINT) AS view_id, click_id
                 FROM c, wm
                 WHERE NOT EXISTS
                   (SELECT 1 FROM m WHERE m.click_id = c.click_id)
                   AND c_ts < wm.w)
      SELECT view_id, click_id FROM m
      UNION ALL SELECT view_id, click_id FROM unmv
      UNION ALL SELECT view_id, click_id FROM unmc
      ORDER BY view_id NULLS FIRST, click_id NULLS FIRST"""))

  /** LEFT-SEMI stream-stream join: a view emits (once, no click
    * payload) as soon as ANY click lands in its 30-minute window.
    * Unlike the outer variants the answer is watermark-INDEPENDENT —
    * matches emit eagerly and non-matches never emit — so the oracle
    * is a plain EXISTS with no flush-boundary modeling.
    */
  val streamingJoinSemi = RegisteredQuery(
    "streaming_join_semi",
    (s, d) => {
      import graft.streaming.Streams
      val raw = Streams.eventsStreamTwoBatches(s, s"$d/events.parquet",
        "2024-01-16")
      val views = raw.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user_id"),
          col("event_id").as("view_id"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val clicks = raw.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user_id"),
          col("event_id").as("click_id"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = views.join(clicks,
        col("v_user_id") === col("c_user_id") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("interval 30 minutes"),
        "left_semi")
      Streams.runAvailableNowWithPartitions(s,
          joined.select(col("v_user_id").as("user_id"), col("view_id")),
          s"graft_stream_semi_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Streams.statePartitionsFor(s,
            s"$d/events.parquet"),
          // semi-join output is watermark-INDEPENDENT (matches emit
          // eagerly, non-matches never emit — the query's own contract
          // above), so the state-eviction-only no-data micro-batch is
          // skipped (guide §1.2-1)
          extraConf = Map(
            "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))
        .orderBy(col("view_id"))
    },
    Some("""SELECT v.user_id, v.event_id AS view_id
      FROM events v
      WHERE v.event_type = 'view'
        AND EXISTS (SELECT 1 FROM events c
          WHERE c.event_type = 'click' AND c.user_id = v.user_id
            AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE)
      ORDER BY view_id"""))

  /** Batch session windows (`session_window` builtin, 2-hour gap) —
    * oracle via the classic gaps-and-islands SQL (lag + running sum of
    * boundaries). Cross-engine agreement pins the boundary semantics:
    * a new session starts when the gap is ≥ the duration.
    */
  val sessionWindowBatch = RegisteredQuery(
    "session_window_batch",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "2 hours"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start")),
    Some("""WITH marked AS (
        SELECT user_id, ts, value,
          CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 >= INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_sess
        FROM events),
      sess AS (
        SELECT user_id, ts, value,
          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked)
      SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, session_start"""))

  /** DYNAMIC-GAP session windows (`session_window(ts, gapExpr)`) —
    * per-event inactivity timeouts, the production sessionization
    * rule (a click keeps a session alive briefly; a view holds it
    * open longer). Merge semantics generalize the fixed-gap case:
    * each event extends its session to ts+gap(event) and a new
    * session starts when ts ≥ the RUNNING MAX of previous extents —
    * which is exactly the oracle's window replay (the fixed-gap
    * lag-based rule is the constant-gap special case). All integer-µs
    * timestamp arithmetic, hash-exact.
    */
  val sessionWindowDynamic = RegisteredQuery(
    "session_window_dynamic",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"),
          when(col("event_type") === "click", lit("10 minutes"))
            .otherwise(lit("30 minutes"))))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start")),
    Some("""WITH g AS (
        SELECT user_id, ts, value,
          CASE WHEN event_type = 'click' THEN INTERVAL 10 MINUTE
            ELSE INTERVAL 30 MINUTE END AS gap
        FROM events),
      marked AS (
        SELECT user_id, ts, value,
          CASE WHEN ts >= max(ts + gap) OVER (PARTITION BY user_id
              ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING)
            THEN 1 ELSE 0 END AS new_sess
        FROM g),
      sess AS (
        SELECT user_id, ts, value,
          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked)
      SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, session_start"""))

  /** The NATIVE streaming session operator
    * (`session_window` + watermark, Spark's built-in session
    * aggregation with its dedicated merging state store) — distinct
    * machinery from `streaming_sessions`' flatMapGroupsWithState
    * sessionizer, completing the sessionization pair the way the
    * join/dedup families pair built-in and custom-state forms. Run to
    * completion over the full file the final sessions equal the
    * batch computation, so it SHARES `session_window_dynamic`'s
    * generalized-merge oracle (same dynamic per-type gaps).
    */
  val streamingSessionWindow = RegisteredQuery(
    "streaming_session_window",
    (s, d) => {
      import graft.streaming.Streams
      val raw = Streams.eventsStreamFromFile(s, s"$d/events.parquet")
      val sessions = raw
        .withWatermark("ts", "0 seconds")
        .groupBy(col("user_id"), session_window(col("ts"),
          when(col("event_type") === "click", lit("10 minutes"))
            .otherwise(lit("30 minutes"))))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("n_events"), col("sum_value"))
      Streams.runAvailableNowWithPartitions(s, sessions,
          s"graft_stream_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Complete(),
          statePartitions = Streams.statePartitionsFor(s,
            s"$d/events.parquet"))
        .orderBy(col("user_id"), col("session_start"))
    },
    Some("""WITH g AS (
        SELECT user_id, ts, value,
          CASE WHEN event_type = 'click' THEN INTERVAL 10 MINUTE
            ELSE INTERVAL 30 MINUTE END AS gap
        FROM events),
      marked AS (
        SELECT user_id, ts, value,
          CASE WHEN ts >= max(ts + gap) OVER (PARTITION BY user_id
              ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING)
            THEN 1 ELSE 0 END AS new_sess
        FROM g),
      sess AS (
        SELECT user_id, ts, value,
          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked)
      SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, session_start"""))

  // ---------------------------------------------------- encode stratum

  /** A-1 distinct categorical key discovery ("path=value" keys) as ONE
    * job over all columns — explode+distinct instead of the reference's
    * per-frame collect (reference `DataframeModeler.scala:163-170`).
    */
  val keyDiscovery = RegisteredQuery(
    "key_discovery",
    (s, d) =>
      graft.encode.KeyDiscovery
        .keysFrame(Tables.customer(s, d), Seq("c_mktsegment", "c_nationkey"))
        .orderBy(col("key")),
    Some("""SELECT 'c_mktsegment=' || c_mktsegment AS key FROM customer
      UNION SELECT 'c_nationkey=' || CAST(c_nationkey AS VARCHAR) FROM customer
      ORDER BY key"""))

  /** A-2/A-3 per-column moments with population-σ semantics (reference
    * `DataframeModeler.scala:125-137`) — one aggregate job for all
    * columns, partial+final combine from Catalyst.
    */
  val moments = RegisteredQuery(
    "moments",
    (s, d) =>
      graft.encode.Moments
        .momentsFrame(Tables.lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("path")),
    Some("""SELECT * FROM (
      SELECT 'l_quantity' AS path, count(l_quantity) AS n,
        round(avg(l_quantity), 6) AS mean,
        round(stddev_pop(l_quantity), 6) AS std_pop FROM lineitem
      UNION ALL SELECT 'l_extendedprice', count(l_extendedprice),
        round(avg(l_extendedprice), 6), round(stddev_pop(l_extendedprice), 6)
        FROM lineitem
      UNION ALL SELECT 'l_discount', count(l_discount),
        round(avg(l_discount), 6), round(stddev_pop(l_discount), 6)
        FROM lineitem
      UNION ALL SELECT 'l_tax', count(l_tax),
        round(avg(l_tax), 6), round(stddev_pop(l_tax), 6) FROM lineitem)
      ORDER BY path"""))

  /** E-1 `evalToDataframe`: fit + encode customer, then digest the
    * `array<double>` features column to its CONTRACT: every row must
    * encode to a finite vector of exactly the configured featureDim
    * (the struct-reduce output dimension is config-static, not
    * data-dependent). Feature VALUES are HMAC-seeded and engine-
    * internal (byte-exact determinism pinned by EncoderSpec goldens);
    * the invariants are what SQL can check — and now does.
    */
  val encodeEval = RegisteredQuery(
    "encode_eval",
    (s, d) => {
      import graft.encode.Encoder
      val df = Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_nationkey"),
          col("c_acctbal"))
      val state = Encoder.fit(df, Encoder.EncoderSpec(featureDim = 8))
      val finite = (x: org.apache.spark.sql.Column) =>
        !x.isNaN && x =!= Double.PositiveInfinity &&
          x =!= Double.NegativeInfinity
      Encoder.evalToDataframe(s, df, state, "features")
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(size(col("features"))).as("distinct_dims"),
          first(size(col("features"))).as("feat_dim"),
          min(aggregate(col("features"), lit(true),
            (acc, x) => acc && finite(x))).as("all_finite"))
    },
    Some("""SELECT count(*) AS n_rows, 1 AS distinct_dims, 8 AS feat_dim,
        TRUE AS all_finite
      FROM customer"""))

  /** E-5 training loop smoke: 3 GD iterations of a small classifier
    * predicting c_nationkey from segment+balance. Checked on the
    * training CONTRACT — the schedule ran all iterations, losses are
    * finite, and the final loss improved on the initial one (loss
    * VALUES are engine-internal numerics; the trajectory itself is
    * pinned by TrainerSpec). Kept small so bench time stays bounded.
    */
  val trainLoop = RegisteredQuery(
    "train_loop",
    (s, d) => {
      import graft.encode.Encoder.EncoderSpec
      import graft.train.DistributedTrainer
      val df = Tables.customer(s, d).select(
        col("c_mktsegment"), col("c_acctbal"),
        (col("c_nationkey") + lit(1)).cast("int").as("label"))
      val result = DistributedTrainer.fit(s, df,
        EncoderSpec(featureDim = 8),
        DistributedTrainer.TrainConfig(
          hidden = Seq(8), classes = 25, labelCol = "label",
          iterations = 3, initialStep = 0.5))
      import s.implicits._
      val ls = result.lossHistory
      Seq((ls.length, ls.forall(l => !l.isNaN && !l.isInfinite),
        ls.last < ls.head))
        .toDF("n_loss_points", "all_finite", "loss_improved")
    },
    Some("""SELECT 4 AS n_loss_points, TRUE AS all_finite,
      TRUE AS loss_improved"""))

  /** E-8 prediction report: label + features + softmax prediction in
    * one frame, checked on the report CONTRACT — the requested number
    * of rows, every prediction a valid distribution (sums to 1 within
    * 1e-6), every argmax inside the class range (classification
    * quality itself is pinned in TrainerSpec).
    */
  val trainPredict = RegisteredQuery(
    "train_predict",
    (s, d) => {
      import graft.encode.Encoder.EncoderSpec
      import graft.train.DistributedTrainer
      val df = Tables.customer(s, d).select(
        col("c_mktsegment"), col("c_acctbal"),
        (col("c_nationkey") + lit(1)).cast("int").as("label"))
      val result = DistributedTrainer.fit(s, df,
        EncoderSpec(featureDim = 8),
        DistributedTrainer.TrainConfig(
          hidden = Nil, classes = 25, labelCol = "label",
          iterations = 2, initialStep = 0.5))
      DistributedTrainer.predictionReport(
          s, df, result.state, result.net, "label", limit = 100)
        .agg(
          count(lit(1)).as("n_rows"),
          min(abs(aggregate(col("prediction"), lit(0.0), (a, x) => a + x)
            - lit(1.0)) < 1e-6).as("all_probs_valid"),
          min(array_position(col("prediction"), array_max(col("prediction")))
            .between(1, 25)).as("all_preds_in_range"))
    },
    Some("""SELECT 100 AS n_rows, TRUE AS all_probs_valid,
      TRUE AS all_preds_in_range"""))

  /** EP-1 end-to-end pipeline: stage → split → schedule-train →
    * held-out prediction report, checked on the pipeline CONTRACT —
    * training improved the loss and the held-out report materialized
    * (accuracy level is only meaningful on separable data, where
    * PipelineSpec pins ≥0.9; the fixture labels are not separable).
    */
  val pipelineE2e = RegisteredQuery(
    "pipeline_e2e",
    (s, d) => {
      import graft.pipeline.Pipeline
      import graft.encode.Encoder.EncoderSpec
      import graft.relational.Staging.StagingSpec
      import graft.train.DistributedTrainer.TrainConfig
      val raw = Tables.customer(s, d).select(
        col("c_mktsegment"), col("c_acctbal"), col("c_name"),
        (col("c_nationkey") + lit(1)).cast("int").as("label"))
      val r = Pipeline.run(s, raw, Pipeline.PipelineConfig(
        staging = StagingSpec(dropPrefixes = Seq("c_name"),
          labelColumn = Some("label")),
        encoder = EncoderSpec(featureDim = 8),
        train = TrainConfig(hidden = Seq(8), classes = 25,
          labelCol = "label", iterations = 2, initialStep = 0.5)))
      import s.implicits._
      val ls = r.trainResult.lossHistory
      Seq((ls.last < ls.head, r.report.count() > 0,
        r.reportAccuracy >= 0.0 && r.reportAccuracy <= 1.0))
        .toDF("loss_improved", "has_report_rows", "accuracy_in_range")
    },
    Some("""SELECT TRUE AS loss_improved, TRUE AS has_report_rows,
      TRUE AS accuracy_in_range"""))

  // --------------------------------------------------------- LLM: dedup

  /** Exact dedup survivors: hash-groupBy keeps the first doc per distinct
    * text. groupBy(min) not window row_number: map-side partial agg, no
    * per-group sort — the shape that survives 100 TB.
    */
  val dedupExact = RegisteredQuery(
    "dedup_exact",
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("text_hash"), col("n_copies"))
        .orderBy(col("doc_id")),
    Some("""SELECT min(doc_id) AS doc_id, md5(text) AS text_hash,
      count(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY doc_id"""))

  // ------------------------------------------------- LLM: text analysis

  /** Token/char/punct stats per document — oracle-checkable (identical
    * regex semantics both engines, integer outputs).
    */
  val textStats = RegisteredQuery(
    "text_stats",
    (s, d) => {
      import graft.llm.TextAnalysis._
      Tables.documents(s, d).select(
        col("doc_id"),
        charCount(col("text")).as("n_char"),
        tokenCount(col("text")).as("n_tokens"),
        length(regexp_replace(col("text"), "[\\p{L}\\p{Nd}\\s]", ""))
          .as("n_punct"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      CAST(length(text) AS INTEGER) AS n_char,
      CAST(len(regexp_split_to_array(trim(regexp_replace(lower(text),
        '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ')) AS INTEGER) AS n_tokens,
      CAST(length(regexp_replace(text, '[\p{L}\p{Nd}\s]', '', 'g'))
        AS INTEGER) AS n_punct
      FROM documents ORDER BY doc_id"""))

  /** Token counting, all three budget-accounting flavors: whitespace
    * words, BPE-ish pre-tokens (the GPT-2-family split regex — the
    * count an LLM data pipeline budgets by), and the subword estimate.
    * One scan, pure codegen expressions; the oracle replicates each
    * count op-for-op (the split regex is Java/RE2-portable by
    * construction).
    */
  val tokenCounts = RegisteredQuery(
    "token_count",
    (s, d) => {
      import graft.llm.TextAnalysis
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"),
        TextAnalysis.subwordCountEstimate(col("text")).as("n_subword"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
        SELECT doc_id, text,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents)
      SELECT doc_id,
        CAST(len(toks) AS INTEGER) AS n_ws,
        CAST(len(regexp_extract_all(text,
          '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{Nd}+| ?[^\s\p{L}\p{Nd}]+|\s+'))
          AS INTEGER) AS n_bpe,
        CAST(list_aggregate(list_transform(toks,
          w -> greatest(1, CAST(ceil(length(w) / 4.0) AS BIGINT))), 'sum')
          AS INTEGER) AS n_subword
      FROM t ORDER BY doc_id"""))

  /** MD5 fingerprint of the normalized text — the exact-dedup key,
    * oracle-checkable.
    */
  val docFingerprint = RegisteredQuery(
    "doc_fingerprint",
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        graft.llm.TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      md5(trim(regexp_replace(lower(text), '[^\p{L}\p{Nd}]+', ' ', 'g')))
        AS fp
      FROM documents ORDER BY doc_id"""))

  /** Winnowing fingerprints per document via the PORTABLE md5-k-gram
    * variant: the oracle replays the whole winnow in SQL — positions →
    * md5 k-grams → rightmost-min per sliding window → distinct picks
    * in position order — so the fingerprint LISTS hash-match, not just
    * counts. (The rolling-hash `winnow` stays as the O(len) scale form
    * with implementation-defined values.) The list is emitted as a
    * comma-joined scalar: the driver's comparator sorts rows with
    * pandas, and ARRAY cells (unhashable Python lists) crash it.
    */
  val docWinnow = RegisteredQuery(
    "doc_winnow",
    (s, d) => {
      val fp = graft.llm.TextAnalysis.winnowPortable()(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        size(fp).as("n_fingerprints"),
        array_join(fp, ",").as("fingerprints"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text),
          '[^\p{L}\p{Nd}]+', ' ', 'g')) AS s
        FROM documents),
      longd AS (SELECT doc_id, s FROM d WHERE length(s) >= 8),
      pos AS (
        SELECT doc_id, CAST(i AS INTEGER) AS p,
          md5(substr(s, CAST(i AS INTEGER), 8)) AS hx,
          length(s) - 7 AS n
        FROM longd, unnest(generate_series(1, length(s) - 7)) AS u(i)),
      wins AS (
        SELECT doc_id, CAST(st AS INTEGER) AS st
        FROM (SELECT DISTINCT doc_id, n FROM pos),
          unnest(generate_series(1, n - 3)) AS u(st)),
      ranked AS (
        SELECT w.doc_id, w.st, p.p, p.hx,
          row_number() OVER (PARTITION BY w.doc_id, w.st
            ORDER BY p.hx, p.p DESC) AS rn
        FROM wins w JOIN pos p ON p.doc_id = w.doc_id
          AND p.p BETWEEN w.st AND w.st + 3),
      picks AS (SELECT DISTINCT doc_id, p, hx FROM ranked WHERE rn = 1),
      agg AS (
        SELECT doc_id, count(*) AS n_fingerprints,
          string_agg(hx, ',' ORDER BY p) AS fingerprints
        FROM picks GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(coalesce(a.n_fingerprints,
          CASE WHEN length(d.s) < 8 THEN 1 ELSE 0 END) AS INTEGER)
          AS n_fingerprints,
        coalesce(a.fingerprints,
          CASE WHEN length(d.s) < 8 THEN md5(d.s) ELSE '' END)
          AS fingerprints
      FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id
      ORDER BY d.doc_id"""))

  /** Language-ID over documents. Oracle mirrors the function-word /
    * char-class scoring arithmetic exactly (same profiles, same int/int
    * double divisions, alphabetical-first tie break as a CASE chain) —
    * cross-engine agreement pins the whole scoring pipeline, not just
    * the labels. Accuracy on real-language text is pinned in
    * TextAnalysisSpec.
    */
  val langId = RegisteredQuery(
    "lang_id",
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        graft.llm.TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id")),
    Some("""WITH t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks,
          trim(regexp_replace(lower(text), '[^\p{L}\p{Nd}]+', ' ', 'g'))
            AS norm
        FROM documents),
      s AS (
        SELECT doc_id,
          CAST(len(list_filter(toks, x -> list_contains(['في','من','على',
            'إلى','عن','أن','هذا','هذه','التي','الذي','مع','كان','لا',
            'ما','هو','هي','قد','كل','أو','ثم'], x))) AS DOUBLE)
            / greatest(len(toks), 1) AS s_ar,
          CAST(len(list_filter(toks, x -> list_contains(['der','die','das',
            'und','ist','ich','nicht','sie','es','ein','eine','mit','auf',
            'für','den','von','zu','im'], x))) AS DOUBLE)
            / greatest(len(toks), 1) AS s_de,
          CAST(len(list_filter(toks, x -> list_contains(['the','and','of',
            'to','in','is','that','it','was','for','with','as','his','on',
            'be','at','by','had','not'], x))) AS DOUBLE)
            / greatest(len(toks), 1) AS s_en,
          CAST(len(list_filter(toks, x -> list_contains(['el','la','los',
            'las','y','es','no','que','en','un','una','por','con','para',
            'su','se','del','al','lo'], x))) AS DOUBLE)
            / greatest(len(toks), 1) AS s_es,
          CAST(len(list_filter(toks, x -> list_contains(['le','la','les',
            'et','est','je','ne','pas','vous','un','une','du','des','dans',
            'que','qui','pour','sur','au'], x))) AS DOUBLE)
            / greatest(len(toks), 1) AS s_fr,
          CAST(length(norm) - length(regexp_replace(norm,
            '[のにはをたがでてとしもないかられるすまこ]', '', 'g')) AS DOUBLE)
            / greatest(length(norm), 1) AS s_ja,
          CAST(length(norm) - length(regexp_replace(norm,
            '[이의에는을를가하고지서다로과도은인한그사]', '', 'g')) AS DOUBLE)
            / greatest(length(norm), 1) AS s_ko,
          CAST(len(list_filter(toks, x -> list_contains(['и','в','не',
            'на','я','что','он','с','это','как','по','но','его','к','у',
            'из','за','от','же','то'], x))) AS DOUBLE)
            / greatest(len(toks), 1) AS s_ru,
          CAST(length(norm) - length(regexp_replace(norm,
            '[的是了在我有他这不人们来到时大地为子中你]', '', 'g')) AS DOUBLE)
            / greatest(length(norm), 1) AS s_zh
        FROM t),
      b AS (SELECT *, greatest(s_ar, s_de, s_en, s_es, s_fr, s_ja, s_ko,
        s_ru, s_zh) AS best FROM s)
      SELECT doc_id,
        CASE WHEN s_ar >= 0.05 AND s_ar = best THEN 'ar'
             WHEN s_de >= 0.05 AND s_de = best THEN 'de'
             WHEN s_en >= 0.05 AND s_en = best THEN 'en'
             WHEN s_es >= 0.05 AND s_es = best THEN 'es'
             WHEN s_fr >= 0.05 AND s_fr = best THEN 'fr'
             WHEN s_ja >= 0.05 AND s_ja = best THEN 'ja'
             WHEN s_ko >= 0.05 AND s_ko = best THEN 'ko'
             WHEN s_ru >= 0.05 AND s_ru = best THEN 'ru'
             WHEN s_zh >= 0.05 AND s_zh = best THEN 'zh'
             ELSE 'und' END AS lang_pred
      FROM b ORDER BY doc_id"""))

  /** Quality scoring over documents, rounded to 6 decimals. Oracle
    * replicates every component in the same operation order (identical
    * IEEE doubles on both engines; the round only absorbs potential
    * 1-ulp engine differences).
    */
  val qualityScore = RegisteredQuery(
    "quality_score",
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        round(graft.llm.TextAnalysis.qualityScore(col("text")), 6)
          .as("quality"))
        .orderBy(col("doc_id")),
    Some("""WITH t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks,
          CAST(length(regexp_replace(text, '[\p{L}\p{Nd}\s]', '', 'g'))
            AS DOUBLE) / greatest(length(text), 1) AS punct_ratio
        FROM documents),
      c AS (
        SELECT doc_id,
          least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS len_score,
          1.0 - least(punct_ratio * 4.0, 1.0) AS punct_score,
          CAST(len(list_filter(toks, x -> list_contains(['the','and','of',
            'to','in','is','that','it','was','for','with','as','his','on',
            'be','at','by','had','not','a','an','are','but','from','or',
            'this','which','you','we','they','have','has','were','been',
            'their','its','can','will'], x))) AS DOUBLE)
            / greatest(len(toks), 1) AS swr,
          CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
            / greatest(len(toks), 1) AS mwl
        FROM t)
      SELECT doc_id,
        round(len_score * 0.3 + punct_score * 0.2
          + (1.0 - least(abs(swr - 0.4) * 2.5, 1.0)) * 0.3
          + (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2,
          6) AS quality
      FROM c ORDER BY doc_id"""))

  /** Corpus vocabulary: top-100 terms by document frequency. The
    * ranking key (df desc, term) is integer+string — fully portable —
    * and total, so the LIMIT cut is deterministic. See
    * [[graft.llm.Vocabulary]] for the scale shape.
    */
  val vocabTopk = RegisteredQuery(
    "vocab_topk",
    (s, d) =>
      graft.llm.Vocabulary.vocabulary(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("df").desc, col("term"))
        .limit(100),
    Some("""WITH t AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(regexp_replace(
          lower(text), '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ')) AS term
        FROM documents)
      SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf_total
      FROM t WHERE length(term) > 0
      GROUP BY term ORDER BY df DESC, term LIMIT 100"""))

  /** Length-bucketed batching PADDING report ([[graft.llm.SeqPack
    * .paddingReport]]): for document-aligned batches (SFT/eval — no
    * cross-doc packing), quantify the padding a batch of 32 pays in
    * arrival order vs length-sorted order. Pure integer arithmetic;
    * the oracle replays both strategies' rank→batch→max/sum math.
    */
  val seqPaddingReport = RegisteredQuery(
    "seq_padding_report",
    (s, d) =>
      graft.llm.SeqPack.paddingReport(
        Tables.documents(s, d).select(col("doc_id"),
          graft.llm.TextAnalysis.tokenCount(col("text")).as("n_tok")),
        "doc_id", "n_tok", batchSize = 32)
        .orderBy(col("strategy")),
    Some("""WITH t AS (
        SELECT doc_id,
          len(regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ')) AS n
        FROM documents),
      base AS (SELECT doc_id, CAST(n AS BIGINT) AS n FROM t WHERE n > 0),
      a AS (
        SELECT (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS batch, n
        FROM base),
      ab AS (
        SELECT batch, count(*) AS rows, max(n) AS mx, sum(n) AS tok
        FROM a GROUP BY batch),
      l AS (
        SELECT (row_number() OVER (ORDER BY n, doc_id) - 1) // 32 AS batch,
          n
        FROM base),
      lb AS (
        SELECT batch, count(*) AS rows, max(n) AS mx, sum(n) AS tok
        FROM l GROUP BY batch),
      u AS (
        SELECT 'arrival' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
          CAST(sum(tok) AS BIGINT) AS real_tokens,
          CAST(sum(rows * mx - tok) AS BIGINT) AS padding_tokens
        FROM ab
        UNION ALL
        SELECT 'length_sorted', CAST(count(*) AS BIGINT),
          CAST(sum(tok) AS BIGINT), CAST(sum(rows * mx - tok) AS BIGINT)
        FROM lb)
      SELECT strategy, n_batches, real_tokens, padding_tokens,
        round(CAST(padding_tokens AS DOUBLE) /
          (real_tokens + padding_tokens), 6) AS waste_frac
      FROM u ORDER BY strategy"""))

  /** Vocabulary COVERAGE CURVE ([[graft.llm.Vocabulary
    * .vocabCoverage]]) — the tokenizer-design statistic: token-
    * occurrence coverage of the top-{10,100,1000} terms. One corpus
    * scan to the vocab frame, then a k-BOUNDED TakeOrdered + window
    * (never a vocabulary-wide sort). coverage = covered/total in one
    * double division, identical bits both engines.
    */
  val vocabCoverageQ = RegisteredQuery(
    "vocab_coverage",
    (s, d) =>
      graft.llm.Vocabulary.vocabCoverage(Tables.documents(s, d),
          "doc_id", "text", ks = Seq(10, 100, 1000))
        .orderBy(col("k")),
    Some("""WITH t AS (
        SELECT unnest(regexp_split_to_array(trim(regexp_replace(
          lower(text), '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ')) AS term
        FROM documents),
      tc AS (
        SELECT term, count(*) AS n FROM t
        WHERE length(term) > 0 GROUP BY term),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM tc),
      r AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rank
        FROM tc),
      c AS (SELECT rank, sum(n) OVER (ORDER BY rank) AS cum FROM r),
      ks AS (SELECT unnest([10, 100, 1000]) AS k)
      SELECT CAST(k AS INTEGER) AS k,
        CAST(cum AS BIGINT) AS covered_tokens,
        round(CAST(cum AS BIGINT) / total, 6) AS coverage
      FROM ks
      JOIN c ON c.rank = least(k, (SELECT count(*) FROM tc))
      CROSS JOIN tot
      ORDER BY k"""))

  /** Top-3 distinctive terms per document (keyword extraction): tf-df
    * ranking with an integer-portable key (see
    * [[graft.llm.Vocabulary.topTermsPerDoc]] — float tf-idf ties are
    * not bit-comparable across engines; this order is).
    */
  val docTopTerms = RegisteredQuery(
    "doc_top_terms",
    (s, d) =>
      graft.llm.Vocabulary
        .topTermsPerDoc(Tables.documents(s, d), "doc_id", "text", 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("rn")),
    Some("""WITH t AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(regexp_replace(
          lower(text), '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ')) AS term
        FROM documents),
      tt AS (
        SELECT doc_id, term, count(*) AS tf FROM t
        WHERE length(term) > 0 GROUP BY doc_id, term),
      dd AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM t
        WHERE length(term) > 0 GROUP BY term),
      r AS (
        SELECT tt.doc_id, tt.term, tf, df,
          CAST(row_number() OVER (PARTITION BY tt.doc_id
            ORDER BY tf DESC, df ASC, tt.term) AS INTEGER) AS rn
        FROM tt JOIN dd USING (term))
      SELECT doc_id, rn, term, tf, df FROM r WHERE rn <= 3
      ORDER BY doc_id, rn"""))

  /** The BM25 oracle's scoring CTEs (`t` through `sc`, k1=1.5, b=0.75,
    * query terms dup/spark/join) over `documents` plus `where`, the
    * clause of the queries that score a surviving corpus. The hybrid
    * retrieval oracles extend these CTEs.
    */
  private def bm25OracleCtes(where: String = ""): String =
    raw"""WITH t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents$where),
      d AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
      stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
      hit AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
      tf AS (
        SELECT doc_id, dl, term, count(*) AS tf FROM hit
        WHERE term IN ('dup', 'spark', 'join') GROUP BY doc_id, dl, term),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      sc AS (
        SELECT tf.doc_id,
          round(sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) *
            (tf.tf * 2.5) /
            (tf.tf + 1.5 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 4)
            AS score
        FROM tf JOIN df USING (term) CROSS JOIN stats
        GROUP BY tf.doc_id)"""

  /** The BM25 top-20 oracle shared by every BM25 query, in memory or
    * on disk (see `bm25OracleCtes` for `where`).
    */
  private def bm25OracleSql(where: String = ""): String =
    bm25OracleCtes(where) + """
      SELECT doc_id, score FROM sc
      ORDER BY score DESC, doc_id LIMIT 20"""

  /** BM25 retrieval over the corpus for a 3-term query mixing one rare
    * term (`dup`, df≈25 — high idf) with two common ones — the scorer
    * a training-data pipeline uses for targeted corpus search and
    * relevance-weighted sampling. k1=1.5 / b=0.75 are exactly
    * binary-representable, so the only cross-engine float risk is
    * `ln`'s last ulp, absorbed by round(…, 4); both engines cut the
    * top 20 on the ROUNDED (score desc, doc_id) order, so the limit
    * boundary is deterministic. See [[graft.llm.Vocabulary.bm25]] for
    * the scale shape (filter-before-explode, broadcast df + stats).
    */
  val docBm25 = RegisteredQuery(
    "doc_bm25",
    (s, d) =>
      graft.llm.Vocabulary.bm25(
        Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("dup", "spark", "join"), topK = 20)
        .withColumnRenamed("id", "doc_id"),
    Some(bm25OracleSql()))

  /** BM25 served from the DISK inverted index ([[graft.llm.Vocabulary
    * .writeBm25Index]]/[[graft.llm.Vocabulary.bm25Disk]]): postings
    * partitioned by md5-term bucket, query terms compile to a closed
    * bucket list (partition pruning) + a term IN row filter riding the
    * within-partition term sort; corpus stats in a 1-row sidecar.
    * Per-query bytes = the query terms' posting lists, no corpus scan
    * or re-tokenization at serve time. Identical scoring arithmetic to
    * `doc_bm25` ⇒ shares its oracle.
    */
  val docBm25Disk = RegisteredQuery(
    "doc_bm25_disk",
    (s, d) => {
      import graft.llm.Vocabulary
      val path = s"/tmp/graft_bm25_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/documents.parquet")
      stampGate(s"$path.stamp", stamp,
          present = IndexManifest.exists(path)) {
        Vocabulary.writeBm25Index(Tables.documents(s, d), "doc_id",
          "text", path, buckets = 16)
      }
      Vocabulary.bm25Disk(s, path,
          queryTerms = Seq("dup", "spark", "join"), topK = 20,
          buckets = 16)
        .withColumnRenamed("id", "doc_id")
    },
    Some(bm25OracleSql()))

  /** INCREMENTAL BM25 index maintenance ([[graft.llm.Vocabulary
    * .appendBm25Index]]): the base inverted index builds from the
    * history slice (doc_id % 3 != 0), the delta (doc_id % 3 == 0)
    * appends postings into the SAME md5-term-bucket layout at
    * O(delta) tokenization cost, and the 1-row stats sidecar merges
    * associatively from exact integer length sums (bit-identical to a
    * full rebuild — see the module doc). The serve path is the
    * unchanged `doc_bm25_disk` read, and because df at serve time
    * counts base+delta posting rows per term, a lost or double-
    * applied append shifts idf for EVERY query hit — so sharing
    * `doc_bm25`'s full-corpus oracle checks the merge, not just the
    * appended rows.
    */
  /** DELETE on the disk inverted index
    * ([[graft.llm.Vocabulary.deleteBm25Index]]) — removal symmetry
    * with `sim_topk_ann_delete` across both index families: the
    * takedown writes (id, dl) tombstones, no posting file is
    * rewritten, and the serve path folds them BEFORE df counts while
    * the stats recombine from exact integer sums — so the deletion
    * shifts idf and avgdl for every surviving document exactly as a
    * rebuild over the survivors would. The oracle IS that rebuild:
    * the full BM25 replay over `documents` minus the deleted tenth.
    */
  val docBm25Delete = RegisteredQuery(
    "doc_bm25_delete",
    (s, d) => {
      import graft.llm.{Similarity, Vocabulary}
      val path = s"/tmp/graft_bm25_del_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/documents.parquet")
      stampGate(s"$path.stamp", stamp,
          present = IndexManifest.exists(path)) {
        // a rebuild starts a fresh manifest version with no
        // tombstones — nothing to clear explicitly
        val docs = Tables.documents(s, d)
        Vocabulary.writeBm25Index(docs, "doc_id", "text", path,
          buckets = 16)
        val doomed = docs.filter(col("doc_id") % 10 === 3)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
        Vocabulary.deleteBm25Index(s, path, doomed)
      }
      Vocabulary.bm25Disk(s, path,
          queryTerms = Seq("dup", "spark", "join"), topK = 20,
          buckets = 16)
        .withColumnRenamed("id", "doc_id")
    },
    Some(bm25OracleSql(" WHERE doc_id % 10 <> 3")))

  val docBm25Append = RegisteredQuery(
    "doc_bm25_append",
    (s, d) => {
      import graft.llm.Vocabulary
      val path = s"/tmp/graft_bm25_app_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/documents.parquet")
      stampGate(s"$path.stamp", stamp,
          present = IndexManifest.exists(path)) {
        val docs = Tables.documents(s, d)
        Vocabulary.writeBm25Index(docs.filter(col("doc_id") % 3 =!= 0),
          "doc_id", "text", path, buckets = 16)
        Vocabulary.appendBm25Index(docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", path, buckets = 16)
      }
      Vocabulary.bm25Disk(s, path,
          queryTerms = Seq("dup", "spark", "join"), topK = 20,
          buckets = 16)
        .withColumnRenamed("id", "doc_id")
    },
    Some(bm25OracleSql()))

  /** HYBRID sparse+dense retrieval with Reciprocal Rank Fusion
    * ([[graft.llm.Retrieval.hybridRrf]]) — the RAG serving shape: a
    * BM25 top-50 (exact-term evidence) and an exact-cosine top-50
    * (semantic evidence) fuse by rank only, rrf = Σ 1/(60+rank),
    * because the two score scales are incomparable. Each list comes
    * from its own scale path; the fusion itself touches ≤100 rows.
    * Ranks are integers both engines agree on (rounded-score +
    * id tiebreaks), so the oracle replays BM25, the dense ranking,
    * and the fused sum byte-for-byte. doc_id and vec_id are aligned
    * in the fixture (same 0..n−1 key space).
    */
  val retrievalHybridRrf = RegisteredQuery(
    "retrieval_hybrid_rrf",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queryVec = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      graft.llm.Retrieval.hybridRrf(
        Tables.documents(s, d), "doc_id", "text",
        emb, "vec_id", "embedding",
        queryTerms = Seq("dup", "spark", "join"), queryVec = queryVec,
        nPerList = 50, k = 10)
    },
    Some(bm25OracleCtes() + """,
      sparse AS (
        SELECT doc_id,
          CAST(row_number() OVER (ORDER BY score DESC, doc_id)
            AS INTEGER) AS sparse_rank
        FROM (SELECT doc_id, score FROM sc
              ORDER BY score DESC, doc_id LIMIT 50)),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      dsc AS (
        SELECT vec_id AS doc_id,
          round(list_cosine_similarity(embedding::DOUBLE[],
            qv::DOUBLE[]), 6) AS ds
        FROM embeddings, q),
      dense AS (
        SELECT doc_id,
          CAST(row_number() OVER (ORDER BY ds DESC, doc_id)
            AS INTEGER) AS dense_rank
        FROM (SELECT doc_id, ds FROM dsc
              ORDER BY ds DESC, doc_id LIMIT 50)),
      fused AS (
        SELECT doc_id,
          coalesce(1.0 / (60 + sparse_rank), 0)
            + coalesce(1.0 / (60 + dense_rank), 0) AS rrf0,
          sparse_rank, dense_rank
        FROM sparse FULL JOIN dense USING (doc_id))
      SELECT doc_id, round(rrf0, 6) AS rrf, sparse_rank, dense_rank
      FROM fused ORDER BY rrf0 DESC, doc_id LIMIT 10"""))

  /** END-TO-END RAG SERVING PIPELINE — the retrieval-side twin of
    * `pipeline_data_e2e`, COMPOSED as one dataflow: hybrid
    * sparse+dense retrieval (the certified
    * [[graft.llm.Retrieval.hybridRrf]] fusion) → RRF-order ranking →
    * greedy CONTEXT-WINDOW ASSEMBLY under a 512-token budget (the
    * prefix cut every RAG server runs before prompting). The output
    * is the assembled context listing — a function of every upstream
    * decision, so one mis-ranked or mis-counted document anywhere
    * shifts the cut and breaks the hash. Ranking is over the ROUNDED
    * rrf (ties collapse identically cross-engine); token math is the
    * certified integer count; the cumulative sum runs over a 10-row
    * frame. The oracle replays retrieval + assembly in one CTE chain.
    */
  val pipelineRagE2e = RegisteredQuery(
    "pipeline_rag_e2e",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val queryVec = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val fused = graft.llm.Retrieval.hybridRrf(
        docs, "doc_id", "text", emb, "vec_id", "embedding",
        queryTerms = Seq("dup", "spark", "join"), queryVec = queryVec,
        nPerList = 50, k = 10)
      // bounded frame (<= k fused rows): non-foldable null-robust
      // constant key, same rationale as SeqPack's offset windows
      val ranked = fused.withColumn("rrf_rank",
        row_number().over(Window.partitionBy(pmod(hash(col("doc_id")), lit(1)))
          .orderBy(col("rrf").desc, col("doc_id"))))
      // tokenCount AFTER the join: the fused list holds <= k rows, so
      // joining first and tokenizing the survivors costs k regex
      // passes — tokenizing inside the join input would pay a full
      // corpus tokenize for a 10-row result (the guide's
      // decide-with-small-rows rule)
      val withTok = ranked.join(docs.select(col("doc_id"), col("text")),
          "doc_id")
        .withColumn("n_tok",
          graft.llm.TextAnalysis.tokenCount(col("text")).cast("long"))
        .drop("text")
      withTok
        .withColumn("cum_tok",
          sum(col("n_tok")).over(
            // pmod, not ×0: rrf_rank is non-nullable (row_number), so
            // Catalyst folds x*0 to a literal and strips the partition
            Window.partitionBy(pmod(col("rrf_rank"), lit(1)))
              .orderBy(col("rrf_rank"))))
        .filter(col("cum_tok") <= 512)
        .select(col("rrf_rank"), col("doc_id"), col("n_tok"),
          col("cum_tok"), col("rrf"))
        .orderBy(col("rrf_rank"))
    },
    Some(bm25OracleCtes() + """,
      sparse AS (
        SELECT doc_id,
          CAST(row_number() OVER (ORDER BY score DESC, doc_id)
            AS INTEGER) AS sparse_rank
        FROM (SELECT doc_id, score FROM sc
              ORDER BY score DESC, doc_id LIMIT 50)),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      dsc AS (
        SELECT vec_id AS doc_id,
          round(list_cosine_similarity(embedding::DOUBLE[],
            qv::DOUBLE[]), 6) AS ds
        FROM embeddings, q),
      dense AS (
        SELECT doc_id,
          CAST(row_number() OVER (ORDER BY ds DESC, doc_id)
            AS INTEGER) AS dense_rank
        FROM (SELECT doc_id, ds FROM dsc
              ORDER BY ds DESC, doc_id LIMIT 50)),
      fused AS (
        SELECT doc_id,
          coalesce(1.0 / (60 + sparse_rank), 0)
            + coalesce(1.0 / (60 + dense_rank), 0) AS rrf0
        FROM sparse FULL JOIN dense USING (doc_id)),
      topk AS (
        SELECT doc_id, round(rrf0, 6) AS rrf
        FROM fused ORDER BY rrf0 DESC, doc_id LIMIT 10),
      ranked AS (
        SELECT doc_id, rrf,
          CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
            AS INTEGER) AS rrf_rank
        FROM topk),
      toks2 AS (
        SELECT doc_id,
          CAST(len(regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
        FROM documents),
      packed AS (
        SELECT r.rrf_rank, r.doc_id, tk.n_tok, r.rrf,
          CAST(sum(tk.n_tok) OVER (ORDER BY r.rrf_rank) AS BIGINT)
            AS cum_tok
        FROM ranked r JOIN toks2 tk USING (doc_id))
      SELECT rrf_rank, doc_id, n_tok, cum_tok, rrf
      FROM packed WHERE cum_tok <= 512
      ORDER BY rrf_rank"""))

  /** k-NN LABEL CLASSIFICATION ([[graft.llm.Retrieval.knnClassify]]):
    * the supervised application of the batch k-NN join — each of 50
    * query vectors takes the majority label of its 5 nearest non-self
    * neighbors (label-propagation / weak-label QA shape). Exact by
    * construction (brute k-NN + deterministic vote tiebreaks), so the
    * DuckDB all-pairs + row_number + argmax oracle must hash-match.
    */
  val simKnnClassify = RegisteredQuery(
    "sim_knn_classify",
    (s, d) =>
      graft.llm.Retrieval.knnClassify(Tables.embeddings(s, d),
          "vec_id", "embedding", "label",
          queryFilter = col("vec_id") < 50, k = 5)
        .orderBy(col("vec_id")),
    Some("""WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv, label AS truth
        FROM embeddings WHERE vec_id < 50),
      sc AS (
        SELECT query_id, e.vec_id AS id, e.label AS nbr_label,
          list_cosine_similarity(e.embedding::DOUBLE[], qv::DOUBLE[]) AS s
        FROM embeddings e, q WHERE e.vec_id <> q.query_id),
      r AS (
        SELECT query_id, nbr_label,
          row_number() OVER (PARTITION BY query_id
            ORDER BY s DESC, id) AS rn
        FROM sc),
      v AS (
        SELECT query_id, nbr_label, count(*) AS votes
        FROM r WHERE rn <= 5 GROUP BY query_id, nbr_label),
      p AS (
        SELECT query_id, nbr_label AS pred_label,
          row_number() OVER (PARTITION BY query_id
            ORDER BY votes DESC, nbr_label) AS pr
        FROM v)
      SELECT q.query_id AS vec_id, p.pred_label,
        q.truth AS true_label
      FROM p JOIN q USING (query_id) WHERE p.pr = 1
      ORDER BY vec_id"""))

  /** PII scrub over the corpus: plant a per-doc email, redact, verify
    * byte-exact output via md5. The oracle runs the IDENTICAL regex —
    * the pattern is kept to the Java/RE2-shared subset by construction
    * ([[graft.llm.TextAnalysis.EmailPattern]]). One codegen'd scan, no
    * shuffle — the shape of a 100 TB scrub pass.
    */
  val piiRedact = RegisteredQuery(
    "pii_redact",
    (s, d) => {
      import graft.llm.TextAnalysis
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"),
            lit("@example.com or admin@example.org")).as("t"))
        .select(col("doc_id"),
          TextAnalysis.emailCount(col("t")).as("n_emails"),
          md5(TextAnalysis.redactEmails(col("t"))).as("redacted_md5"),
          length(TextAnalysis.redactEmails(col("t"))).as("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
        SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
          || '@example.com or admin@example.org' AS t
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(t,
          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_emails,
        md5(regexp_replace(t,
          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'))
          AS redacted_md5,
        CAST(length(regexp_replace(t,
          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'))
          AS INTEGER) AS n_chars
      FROM t ORDER BY doc_id"""))

  // ------------------------------------------------ LLM: near-dup + ANN

  /** MinHash-LSH near-dup clustering: every doc labeled with the min
    * doc id sharing an LSH band. Uses the PORTABLE md5 hash family
    * ([[graft.llm.Dedup.minhashClustersPortable]]) so the oracle
    * reproduces banding and bucket-min labeling byte-for-byte —
    * cluster ASSIGNMENT itself is hash-checked, not just row count.
    * The faster engine-private splitmix path (`minhashClusters`)
    * keeps its planted-near-dup coverage in DedupSpec.
    */
  val dedupMinhash = RegisteredQuery(
    "dedup_minhash",
    (s, d) =>
      graft.llm.Dedup.minhashClustersPortable(
        Tables.documents(s, d), "doc_id", "text",
        numHashes = 8, bands = 4)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id")),
    Some("""WITH t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
            ELSE list_distinct(list_transform(range(1, len(toks) - 1),
              i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        FROM t),
      e AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      h AS (
        SELECT doc_id, i,
          min(substr(md5(CAST(i AS VARCHAR) || '|' || s), 17, 16)) AS m
        FROM e, unnest(generate_series(0, 7)) AS u(i)
        GROUP BY doc_id, i),
      bands AS (
        SELECT doc_id,
          CAST(i // 2 AS VARCHAR) || '|' || string_agg(m, '|' ORDER BY i)
            AS bk
        FROM h GROUP BY doc_id, i // 2),
      lbl AS (SELECT bk, min(doc_id) AS m FROM bands GROUP BY bk)
      SELECT b.doc_id, min(l.m) AS cluster_id
      FROM bands b JOIN lbl l ON b.bk = l.bk
      GROUP BY b.doc_id ORDER BY doc_id"""))

  /** The MinHash signature itself, hash-checked: slot `i` is the
    * minimum `md5(i + "|" + shingle)` (low 64 hex bits) over the
    * document's distinct 3-gram shingles — a PORTABLE hash family both
    * engines can compute byte-for-byte, so the oracle proves the
    * minhash ESTIMATOR (shingling, salting, per-slot min) end to end,
    * not just its downstream use. `dedup_minhash` keeps the faster
    * engine-private splitmix family for the production path; this
    * pins the algorithm. One explode + one hash aggregate with
    * map-side partial mins — the index-build shape at any scale.
    */
  val dedupMinhashSig = RegisteredQuery(
    "dedup_minhash_sig",
    (s, d) =>
      graft.llm.Dedup.minhashSignaturePortable(
        Tables.documents(s, d), "doc_id", "text", numHashes = 8)
        .select(col("id").as("doc_id"), col("sig"))
        .orderBy(col("doc_id")),
    Some("""WITH t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
            ELSE list_distinct(list_transform(range(1, len(toks) - 1),
              i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        FROM t),
      e AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      h AS (
        SELECT doc_id, i,
          min(substr(md5(CAST(i AS VARCHAR) || '|' || s), 17, 16)) AS m
        FROM e, unnest(generate_series(0, 7)) AS u(i)
        GROUP BY doc_id, i)
      SELECT doc_id, string_agg(m, ',' ORDER BY i) AS sig
      FROM h GROUP BY doc_id ORDER BY doc_id"""))

  /** MinHash-LSH candidate pairs with exact n-gram-Jaccard
    * verification ≥0.7. The fixture's documents are all DISTINCT as
    * exact strings but contain planted near-duplicates — this finds 25
    * pairs at sf0.01 (e.g. docs 8/245, Jaccard 0.988) that exact dedup
    * cannot see.
    *
    * Oracle: the EXACT quadratic all-pairs Jaccard (feasible for DuckDB
    * at the check scale) — hash-equality therefore proves (a) the
    * hashed-shingle merge-pass verifier computes the true set Jaccard
    * (zero 64-bit collisions) and (b) banding recall is 1.0 on this
    * corpus: the planted near-dups sit at Jaccard ≥0.9, where the
    * 16-band/64-hash S-curve is ≈1. A recall miss would surface as a
    * missing row.
    */
  val dedupPairs = RegisteredQuery(
    "dedup_pairs",
    (s, d) =>
      graft.llm.Dedup.nearDupPairs(
        Tables.documents(s, d), "doc_id", "text", threshold = 0.7)
        .orderBy(col("id_a"), col("id_b")),
    Some("""WITH t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
            ELSE list_distinct(list_transform(range(1, len(toks) - 1),
              i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        FROM t)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) >= 0.7
      ORDER BY id_a, id_b"""))

  /** EXACT Jaccard similarity join via prefix filtering (AllPairs/
    * PPJoin family) — recall 1.0 BY CONSTRUCTION, not by fixture luck:
    * the oracle is the same quadratic DuckDB all-pairs as
    * [[dedupPairs]], but here hash-equality is an algorithmic
    * guarantee (prefix filter never drops a qualifying pair), so this
    * stays green on ANY corpus. The scale path trades the MinHash
    * S-curve's approximation for an inverted index on rarest-first
    * prefix tokens; candidates are output-bound, verification joins
    * carry 8 B/shingle hashed arrays only.
    */
  val dedupJaccardExact = RegisteredQuery(
    "dedup_jaccard_exact",
    (s, d) =>
      exactPairsFor(s, d)
        .orderBy(col("id_a"), col("id_b")),
    Some("""WITH t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
            ELSE list_distinct(list_transform(range(1, len(toks) - 1),
              i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        FROM t)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) >= 0.7
      ORDER BY id_a, id_b"""))

  /** TRUE dedup clusters: connected components (iterative min-label
    * propagation, O(diameter) rounds) over the EXACT Jaccard pair
    * graph — transitive near-dup families get one survivor even
    * through chains the one-hop `dedup_minhash` labeling cannot
    * merge. Oracle: DuckDB `WITH RECURSIVE` reachability over the
    * same exact all-pairs edges — two entirely different fixpoint
    * machineries agreeing on every component label.
    */
  val dedupComponents = RegisteredQuery(
    "dedup_components",
    (s, d) =>
      componentsFor(s, d)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy(col("doc_id")),
    Some("""WITH RECURSIVE
      t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
            ELSE list_distinct(list_transform(range(1, len(toks) - 1),
              i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        FROM t),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) >= 0.7),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
      SELECT id AS doc_id, min(r) AS component
      FROM reach GROUP BY id ORDER BY doc_id"""))

  /** Unrolled-SQL PageRank oracle: p0 = 1/N, then `iters` chained CTEs
    * each computing one power-iteration step. The teleport and damping
    * constants are written as explicit DOUBLE casts so both engines run
    * the identical IEEE expression; only summation order differs, which
    * round(pr, 9) absorbs. The purchase graph is bidirectional, so every
    * node has out-edges — no dangling-mass term needed here (the engine
    * still implements it; GraphSpec pins the dangling case).
    */
  /** Unrolled synchronous-label-propagation oracle: round k picks,
    * per node, the most frequent neighbor label of round k−1, ties to
    * the smallest label — exactly [[graft.llm.Graph.labelPropagation]]
    * (deterministic counts and tie-breaks ⇒ hashable label
    * ASSIGNMENTS, unlike float centrality scores).
    */
  private def labelPropOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""c$k AS (
        SELECT e.a AS id, l.lbl,
          row_number() OVER (PARTITION BY e.a
            ORDER BY count(*) DESC, l.lbl) AS rn
        FROM edges e JOIN l${k - 1} l ON l.id = e.b
        GROUP BY e.a, l.lbl),
      l$k AS (
        SELECT n.id, coalesce(p.lbl, n.lbl) AS lbl
        FROM l${k - 1} n LEFT JOIN (
          SELECT id, lbl FROM c$k WHERE rn = 1) p ON p.id = n.id)"""
    }.mkString(",\n      ")
    s"""WITH raw AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (
        SELECT c AS a, sup + 1000000 AS b FROM raw
        UNION ALL
        SELECT sup + 1000000 AS a, c AS b FROM raw),
      nodes AS (SELECT DISTINCT a AS id FROM edges),
      l0 AS (SELECT id, id AS lbl FROM nodes),
      $steps
      SELECT id AS node_id, lbl AS community FROM l$iters
      ORDER BY node_id"""
  }

  /** LABEL-PROPAGATION COMMUNITIES over the purchase graph — the
    * community-detection member of the graph family beside
    * PageRank/degrees/components: synchronous rounds, most-frequent
    * neighbor label, smallest-label ties (Raghavan et al. made
    * deterministic — no update-order dependence), fixed 3 rounds so
    * the label ASSIGNMENT itself is a pure function of the graph and
    * the oracle unrolls the identical rounds. Integer labels ⇒ exact
    * hash check per node, a stronger contract than the rounded float
    * centralities.
    */
  val graphLabelprop = RegisteredQuery(
    "graph_labelprop",
    (s, d) => {
      val raw = purchaseGraphFor(s, d)
      val edges = raw
        .select(col("c").as("src"), (col("sup") + 1000000L).as("dst"))
        .union(raw
          .select((col("sup") + 1000000L).as("src"), col("c").as("dst")))
      graft.llm.Graph.labelPropagation(edges, "src", "dst", iters = 3)
        .select(col("id").as("node_id"), col("lbl").as("community"))
        .orderBy(col("node_id"))
    },
    Some(labelPropOracleSql(3)))

  private def pagerankOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""p$k AS (
        SELECT nd.id,
          (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
            + CAST(0.85 AS DOUBLE) * coalesce(c.contrib, 0) AS pr
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN (
          SELECT e.dst AS id, sum(p.pr / o.d) AS contrib
          FROM edges e JOIN p${k - 1} p ON p.id = e.src
          JOIN outdeg o ON o.src = e.src
          GROUP BY e.dst) c ON c.id = nd.id)"""
    }.mkString(",\n      ")
    s"""WITH raw AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (
        SELECT c AS src, sup + 1000000 AS dst FROM raw
        UNION ALL
        SELECT sup + 1000000 AS src, c AS dst FROM raw),
      outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      p0 AS (SELECT id, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
      $steps
      SELECT id AS node_id, round(pr, 9) AS pr FROM p$iters
      ORDER BY node_id"""
  }

  /** PageRank centrality over the customer↔supplier purchase graph
    * (distinct (custkey, suppkey) relations from orders ⋈ lineitem,
    * both directions, supplier ids offset to their own range). Five
    * power iterations at d = 0.85 — the OPIC/link-quality scoring a
    * web-scale curation pipeline runs. The oracle replays all five
    * iterations as unrolled SQL, so every rank value hash-matches, not
    * just the node set. Iterative-operator scale shape documented at
    * [[graft.llm.Graph.pageRank]].
    */
  // The distinct (custkey, suppkey) purchase relation is an index
  // artifact shared by the three graph queries — the orders ⋈
  // lineitem + distinct build (~3 s at sf0.1) is a pure function of
  // the source files, so it persists to DISK stamp-gated (the
  // bucketed-table/disk-index pattern, not a session-lifetime
  // localCheckpoint: a cached frame dies with every new session, so
  // each bench retime pass paid the full rebuild — the r10/r11
  // graph_labelprop anomaly). Fixture regenerated ⇒ stale stamp ⇒
  // rebuild; otherwise the graph reads back as a plain parquet scan.
  // Correctness never depends on the stamp — all three graph oracles
  // recompute the relation from the raw tables in SQL.
  private def purchaseGraphFor(s: SparkSession, d: String): DataFrame = {
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val tag = dirTag(d)
    val dataDir = new java.io.File(wh, s"graft_purchase_graph_$tag")
    val stamp = sourceStamp(s"$d/orders.parquet", s"$d/lineitem.parquet")
    stampGate(s"$wh/graft_purchase_graph_stamp_$tag.txt", stamp,
        present = new java.io.File(dataDir, "_SUCCESS").exists()) {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
        .distinct()
        .write.mode("overwrite").parquet(dataDir.getPath)
    }
    s.read.parquet(dataDir.getPath)
  }

  /** Sequence packing ([[graft.llm.SeqPack]]): concat-and-chunk the
    * corpus token stream into fixed 2048-token training chunks,
    * documents spanning boundaries. The global prefix sum runs as the
    * two-phase distributed scan (per-bucket local cumsum + broadcast
    * bucket offsets — never a single-partition window); the oracle
    * replays the identical integer arithmetic over a plain window
    * cumsum, so every chunk's doc count and token mass hash-match.
    * Tokenization is the same portable form `token_count` certifies.
    */
  val seqPack = RegisteredQuery(
    "seq_pack",
    (s, d) => {
      import graft.llm.{SeqPack, TextAnalysis}
      // persisted: the two-phase prefix sum consumes the counted frame
      // twice (per-bucket local cumsum + bucket-total aggregate) —
      // unpersisted, the corpus tokenize runs twice. Slim (id, n)
      // rows. The returned chunk frame is corpus-sized (tokens/2048
      // rows), so it is NOT collected here the way funnel_conversion's
      // one-row report is — the cache is session-owned and released by
      // spark.catalog.clearCache() (Bench's retime reset does).
      val counted = Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
        .persist()
      SeqPack.packChunks(counted, "doc_id", "n",
          (col("doc_id") / 500).cast("long"), chunkLen = 2048L)
        .orderBy(col("chunk"))
    },
    Some("""WITH t AS (
        SELECT doc_id,
          CAST(len(regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ')) AS BIGINT) AS n
        FROM documents),
      s AS (
        SELECT doc_id, n,
          CAST(coalesce(sum(n) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS start
        FROM t WHERE n > 0),
      x AS (
        SELECT doc_id, n, start,
          unnest(generate_series(start // 2048, (start + n - 1) // 2048))
            AS chunk
        FROM s)
      SELECT chunk, CAST(count(*) AS INTEGER) AS n_docs,
        CAST(sum(least(start + n, (chunk + 1) * 2048)
          - greatest(start, chunk * 2048)) AS BIGINT) AS n_tokens
      FROM x GROUP BY chunk ORDER BY chunk"""))

  val graphPagerank = RegisteredQuery(
    "graph_pagerank",
    (s, d) => {
      val raw = purchaseGraphFor(s, d)
      val edges = raw
        .select(col("c").as("src"), (col("sup") + 1000000L).as("dst"))
        .union(raw
          .select((col("sup") + 1000000L).as("src"), col("c").as("dst")))
      val pr = graft.llm.Graph.pageRank(edges, "src", "dst", iters = 5)
      pr.select(col("id").as("node_id"), round(col("pr"), 9).as("pr"))
        .orderBy(col("node_id"))
    },
    Some(pagerankOracleSql(5)))

  /** Degree summary of the DIRECTED purchase graph (customer → supplier
    * only): out-degree counts distinct suppliers a customer buys from,
    * in-degree counts distinct customers a supplier serves. One shuffle.
    */
  val graphDegrees = RegisteredQuery(
    "graph_degrees",
    (s, d) => {
      val raw = purchaseGraphFor(s, d)
        .select(col("c").as("src"), (col("sup") + 1000000L).as("dst"))
      graft.llm.Graph.degrees(raw, "src", "dst")
        .orderBy(col("id"))
    },
    Some("""WITH raw AS (
        SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      sides AS (
        SELECT src AS id, 1 AS outd, 0 AS ind FROM raw
        UNION ALL
        SELECT dst AS id, 0 AS outd, 1 AS ind FROM raw)
      SELECT id, CAST(sum(outd) AS BIGINT) AS out_degree,
        CAST(sum(ind) AS BIGINT) AS in_degree
      FROM sides GROUP BY id ORDER BY id"""))

  /** Incremental (incoming-vs-history) near-dup: every 10th document
    * plays tonight's batch, the rest the lake; the asymmetric banded
    * join ([[graft.llm.Dedup.nearDupAgainst]]) must find exactly the
    * cross-set near-dup pairs. Oracle: exact cross-set Jaccard — the
    * banding's S-curve recall at the fixture's planted-pair
    * similarities is 1.0, the same certified property as
    * `dedup_pairs`.
    */
  val dedupIncremental = RegisteredQuery(
    "dedup_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.llm.Dedup.nearDupAgainst(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text")
        .select(col("id_in"), col("id_hist"), round(col("jaccard"), 6)
          .as("jaccard"))
        .orderBy(col("id_in"), col("id_hist"))
    },
    Some("""WITH t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
            ELSE list_distinct(list_transform(range(1, len(toks) - 1),
              i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        FROM t)
      SELECT i.doc_id AS id_in, h.doc_id AS id_hist,
        round(CAST(len(list_intersect(i.sh, h.sh)) AS DOUBLE) /
          greatest(len(list_distinct(list_concat(i.sh, h.sh))), 1), 6)
          AS jaccard
      FROM sh i JOIN sh h
        ON i.doc_id % 10 = 0 AND h.doc_id % 10 <> 0
      WHERE CAST(len(list_intersect(i.sh, h.sh)) AS DOUBLE) /
          greatest(len(list_distinct(list_concat(i.sh, h.sh))), 1) >= 0.7
      ORDER BY id_in, id_hist"""))

  // The near-dup component assignment is an index artifact like the
  // centroid sets: a pure function of (corpus, threshold), built once
  // and reused by every query that consumes it (dedup_components,
  // split_leakfree). The frame returned by connectedComponents is
  // already checkpoint-materialized, so memoizing skips only the
  // redundant edge-build + fixpoint jobs. Keyed by SESSION IDENTITY as
  // well as directory: a DataFrame is bound to the session that built
  // it, and a process that stops one session and opens another (e.g. a
  // harness invoking two mains in-JVM) must rebuild, not resurrect a
  // frame whose SparkContext is gone.
  private val componentCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def componentsFor(s: SparkSession, d: String): DataFrame =
    componentCache.computeIfAbsent(
      s"${System.identityHashCode(s.sparkContext)}|$d", _ => {
      val docs = Tables.documents(s, d)
      graft.llm.Dedup.connectedComponents(
        docs, "doc_id", exactPairsFor(s, d), "id_a", "id_b")
    })

  /** The exact-Jaccard (≥0.7) pair set over `documents` — the near-dup
    * EDGE LIST both `dedup_jaccard_exact` and the component family
    * consume. Built once per (session, dir) and eagerly checkpointed:
    * in a real pipeline this is a persisted index artifact, and
    * rebuilding the 3-scan prefix-filter join per downstream consumer
    * would pay its dominant cost (the shingle/prefix passes) twice.
    * Cleared by [[resetSharedArtifacts]] so re-timing passes stay
    * honest.
    */
  private val exactPairsCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def exactPairsFor(s: SparkSession, d: String): DataFrame =
    exactPairsCache.computeIfAbsent(
      s"${System.identityHashCode(s.sparkContext)}|$d", _ =>
        graft.llm.Dedup.jaccardJoinExact(
          Tables.documents(s, d), "doc_id", "text", threshold = 0.7)
          .localCheckpoint(true))

  /** Leakage-free train/val split: hash-split by NEAR-DUP COMPONENT,
    * not by document — a plain per-doc hash split leaks when a
    * training document's near-duplicate lands in validation, which is
    * exactly what happens at web scale (CC re-crawls, mirrors). Every
    * member of a component gets the component's md5-based assignment
    * (~75% train), so no near-dup pair ever straddles the split — the
    * oracle recomputes the same components (WITH RECURSIVE) and the
    * same md5 assignment, so the hash check proves the property on
    * every row.
    */
  val splitLeakfree = RegisteredQuery(
    "split_leakfree",
    (s, d) =>
      componentsFor(s, d)
        .select(col("id").as("doc_id"), col("component"),
          when(substring(md5(concat(lit("split:"),
              col("component").cast("string"))), 1, 1) <= "b", "train")
            .otherwise("val").as("split"))
        .orderBy(col("doc_id")),
    Some("""WITH RECURSIVE
      t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
            ELSE list_distinct(list_transform(range(1, len(toks) - 1),
              i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        FROM t),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) >= 0.7),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
      comp AS (SELECT id AS doc_id, min(r) AS component
        FROM reach GROUP BY id)
      SELECT doc_id, component,
        CASE WHEN substr(md5('split:' || CAST(component AS VARCHAR)), 1, 1)
          <= 'b' THEN 'train' ELSE 'val' END AS split
      FROM comp ORDER BY doc_id"""))

  /** Per-document N-GRAM NOVELTY — the corpus-growth statistic behind
    * "is new data still adding information": for each document (in
    * doc_id arrival order), the fraction of its distinct 3-gram
    * shingles whose FIRST corpus occurrence is this document. A
    * crawl's novelty curve decaying toward zero is the signal to stop
    * ingesting a source; near-dups show up as ~0-novelty docs.
    * Shape: one shingle explode to slim (id, gram) rows, one min
    * aggregate per gram (map-side partials), one join back — no
    * all-pairs anything. The ratio is a single IEEE division of two
    * small ints, bit-identical cross-engine.
    */
  val docNgramNovelty = RegisteredQuery(
    "doc_ngram_novelty",
    (s, d) => {
      val grams = Tables.documents(s, d)
        .select(col("doc_id"),
          graft.llm.TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(graft.llm.Dedup.shinglesOfTokens(col("toks"), 3))
            .as("g"))
      // first-claimant per gram as a WINDOW MIN on the same exploded
      // frame (the jaccardJoinExact one-scan idiom): the groupBy+join
      // form consumed `grams` twice — two tokenize+shingle scans of
      // the corpus and an extra exchange for the re-join on g
      grams.withColumn("first_id", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("first_id") === col("doc_id"), 1))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_grams"))
            .as("novelty"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
            ELSE list_distinct(list_transform(range(1, len(toks) - 1),
              i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        FROM t),
      e AS (SELECT doc_id, unnest(sh) AS g FROM sh),
      f AS (SELECT g, min(doc_id) AS first_id FROM e GROUP BY g)
      SELECT e.doc_id, count(*) AS n_grams,
        CAST(count(*) FILTER (WHERE f.first_id = e.doc_id) AS BIGINT)
          AS n_novel,
        CAST(count(*) FILTER (WHERE f.first_id = e.doc_id) AS DOUBLE)
          / count(*) AS novelty
      FROM e JOIN f USING (g)
      GROUP BY e.doc_id ORDER BY e.doc_id"""))

  /** QUALITY-BASED canonical election over the near-dup components —
    * production dedup practice the min-id election approximates: when
    * a near-dup family collapses to one document, keep the
    * HIGHEST-QUALITY member (here: most characters, tie → smallest
    * id), not an arbitrary one — a crawl usually holds a full page
    * and several truncated mirrors, and min-id keeps whichever was
    * crawled first. Reuses the cached component assignment
    * (`componentsFor` — the shared index artifact) joined with the
    * per-doc quality signal; one bounded `max_by` struct-ordering
    * aggregate per family, no window. The oracle recomputes the same
    * components (WITH RECURSIVE) and the same (n_chars desc, id asc)
    * election, so every family's kept id is hash-checked.
    */
  val dedupElectQuality = RegisteredQuery(
    "dedup_elect_quality",
    (s, d) =>
      componentsFor(s, d)
        .select(col("id").as("doc_id"), col("component"))
        .join(Tables.documents(s, d).select(col("doc_id"),
          col("n_chars")), "doc_id")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max_by(col("doc_id"),
            struct(col("n_chars"), -col("doc_id"))).as("kept_doc_id"),
          max(col("n_chars")).as("kept_n_chars"))
        .orderBy(col("component")),
    Some("""WITH RECURSIVE
      t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
            ELSE list_distinct(list_transform(range(1, len(toks) - 1),
              i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        FROM t),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) >= 0.7),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
      comp AS (SELECT id AS doc_id, min(r) AS component
        FROM reach GROUP BY id),
      fam AS (
        SELECT c.component, c.doc_id, d.n_chars,
          row_number() OVER (PARTITION BY c.component
            ORDER BY d.n_chars DESC, c.doc_id) AS rn,
          count(*) OVER (PARTITION BY c.component) AS n_members
        FROM comp c JOIN documents d USING (doc_id))
      SELECT component, n_members, doc_id AS kept_doc_id,
        n_chars AS kept_n_chars
      FROM fam WHERE rn = 1 ORDER BY component"""))

  /** C4-style cross-document LINE dedup, adapted to the fixture's
    * unpunctuated text as fixed 10-token chunks: the corpus keeps only
    * the FIRST occurrence (lowest (doc_id, position)) of every distinct
    * chunk, then each document is reassembled from its surviving chunks
    * in order. Two shuffles total: winner election keyed by md5(chunk)
    * (each bucket is one duplicate family — the in-bucket sort is
    * bounded by the dup count), then the per-doc regroup. The chunk
    * payload crosses the wire once per shuffle; no join.
    */
  val dedupLines = RegisteredQuery(
    "dedup_lines",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("doc_id"), col("idx"))
      // token array staged through a projection (the O(len²)
      // inline-tokenization trap hashedShingles documents)
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          ceil(size(col("toks")) / lit(10.0)).cast("long").as("n_chunks"),
          posexplode(expr(
            """transform(sequence(0, cast(ceil(size(toks) / 10.0) as int) - 1),
               i -> array_join(slice(toks, i * 10 + 1, 10), ' '))"""))
            .as(Seq("idx", "chunk")))
        .withColumn("k", md5(col("chunk")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("doc_id"))
        .agg(first(col("n_chunks")).as("n_chunks"),
          count(lit(1)).as("n_kept"),
          array_join(expr("transform(array_sort(collect_list(struct(idx, chunk))), x -> x.chunk)"), " ")
            .as("cleaned_text"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      c AS (
        SELECT doc_id,
          CAST(ceil(len(toks) / 10.0) AS BIGINT) AS n_chunks,
          CAST(i AS INTEGER) AS idx,
          array_to_string(toks[(CAST(i AS INTEGER) * 10 + 1):
            (CAST(i AS INTEGER) * 10 + 10)], ' ') AS chunk
        FROM t, unnest(generate_series(0,
          CAST(ceil(len(toks) / 10.0) AS INTEGER) - 1)) u(i)),
      kept AS (
        SELECT doc_id, n_chunks, idx, chunk FROM (
          SELECT *, row_number() OVER (PARTITION BY chunk
            ORDER BY doc_id, idx) AS rn FROM c) WHERE rn = 1)
      SELECT doc_id, any_value(n_chunks) AS n_chunks,
        count(*) AS n_kept,
        string_agg(chunk, ' ' ORDER BY idx) AS cleaned_text
      FROM kept GROUP BY doc_id ORDER BY doc_id"""))

  /** EXACT-substring dedup pairs — Lee et al. 2021 "exact substring
    * deduplication" semantics: document pairs sharing a VERBATIM
    * substring of ≥50 characters. The reference builds one suffix
    * array over the concatenated corpus (a global sort-order structure
    * that doesn't distribute); the Spark shape
    * ([[graft.llm.Dedup.exactSubstringPairs]]) gets the same answer
    * set from positional winnowing anchors (guarantee threshold =
    * minLen exactly), one hash-keyed shuffle with capped buckets, and
    * per-anchor left/right extension over texts joined onto the
    * DEDUPED pair list — no all-pairs join, no false positives
    * (extension verifies), no false negatives (the MOSS guarantee).
    * Oracle: DuckDB md5 of every 50-char window, self-joined —
    * pairs share a window iff they share a ≥50-char substring.
    */
  val dedupSubstring = RegisteredQuery(
    "dedup_substring",
    (s, d) =>
      graft.llm.Dedup.exactSubstringPairs(
          Tables.documents(s, d), "doc_id", "text", minLen = 50, k = 20)
        .orderBy(col("id_a"), col("id_b")),
    Some("""WITH wins AS (
        SELECT doc_id, md5(substr(text, CAST(u.i AS INTEGER), 50)) AS h
        FROM documents,
          unnest(range(1, greatest(strlen(text) - 48, 1))) u(i))
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM wins a JOIN wins b ON a.h = b.h AND a.doc_id < b.doc_id
      ORDER BY id_a, id_b"""))

  /** Native generator surface: per-doc trigram totals via the custom
    * `graft_ngrams` table-generating expression
    * ([[graft.functions.WordNgramsGenerator]]) through the SQL
    * `LATERAL VIEW` path — the Generator rung of the custom-operator
    * ladder (scalar Expression / UDAF / optimizer Rule / LogicalPlan+
    * Strategy+Exec are already oracle-covered). Oracle: the same
    * trigram windows (with the short-text whole-string degrade) in
    * DuckDB list arithmetic.
    */
  val docNgrams = RegisteredQuery(
    "doc_ngrams",
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT doc_id, count(*) AS n_ngrams,
          count(DISTINCT ngram) AS n_distinct
        FROM documents
        LATERAL VIEW graft_ngrams(
          split(trim(regexp_replace(lower(text), '[^\\p{L}\\p{Nd}]+', ' ')),
            ' '), 3) g AS pos, ngram
        GROUP BY doc_id ORDER BY doc_id""")
    },
    Some("""WITH t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      g AS (
        SELECT doc_id,
          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
            ELSE list_transform(range(1, len(toks) - 1),
              i -> array_to_string(toks[i:i+2], ' ')) END AS gs
        FROM t)
      SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_ngrams,
        CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct
      FROM g ORDER BY doc_id"""))

  /** Per-document perplexity under the corpus's own add-one-smoothed
    * bigram LM ([[graft.llm.Vocabulary.bigramPerplexity]]) — the
    * CCNet-style quality filter. The oracle rebuilds the identical LM
    * (same counts, same smoothing, same IEEE expression shape) and
    * re-scores every document; round(…, 6) absorbs only ln-summation
    * order.
    */
  val docLmPpl = RegisteredQuery(
    "doc_lm_ppl",
    (s, d) =>
      graft.llm.Vocabulary.bigramPerplexity(
          Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id")),
    Some("""WITH t AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text),
          '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      big AS (
        SELECT doc_id, toks[CAST(i AS INTEGER)] AS a,
          toks[CAST(i AS INTEGER) + 1] AS b
        FROM t, unnest(generate_series(1, len(toks) - 1)) u(i)
        WHERE len(toks) >= 2),
      cab AS (SELECT a, b, count(*) AS cab FROM big GROUP BY a, b),
      ca AS (SELECT a, CAST(sum(cab) AS DOUBLE) AS ca FROM cab GROUP BY a),
      v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
        FROM (SELECT unnest(toks) AS tok FROM t) s
        WHERE length(s.tok) > 0),
      sc AS (
        SELECT big.doc_id, count(*) AS n_bigrams,
          sum(ln((CAST(cab.cab AS DOUBLE) + 1.0) / (ca.ca + v.v))) AS s
        FROM big JOIN cab ON big.a = cab.a AND big.b = cab.b
        JOIN ca ON big.a = ca.a CROSS JOIN v
        GROUP BY big.doc_id)
      SELECT doc_id, n_bigrams, round(exp(-s / n_bigrams), 6) AS ppl
      FROM sc ORDER BY doc_id"""))

  /** Corpus mixture report — the per-source composition table every
    * curation run starts from (doc counts, token mass, size and
    * language spread per source): one scan, one keyed aggregate with
    * map-side partials; the token count shares `split(text, ' ')`
    * semantics with the token-counting queries.
    */
  val sourceMixReport = RegisteredQuery(
    "source_mix_report",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("lang"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          round(avg(col("n_chars")), 2).as("avg_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("source")),
    Some("""SELECT source, count(*) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        round(avg(n_chars), 2) AS avg_chars,
        count(DISTINCT lang) AS n_langs
      FROM documents GROUP BY source ORDER BY source"""))

  /** Tokenizer-training stage 1 — corpus-wide adjacent character-pair
    * frequencies (the count a BPE trainer maximizes each merge round):
    * words explode to slim 2-char pair rows, ONE keyed shuffle with
    * map-side partial counts, top-30 via TakeOrdered. At 100 TB the
    * pair key space stays tiny (alphabet²), so the aggregate is
    * all-map-side; the corpus text never shuffles.
    */
  val bpePairCounts = RegisteredQuery(
    "bpe_pair_counts",
    (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 1)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(30),
    Some("""WITH w AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      p AS (
        SELECT substr(w, CAST(i AS INTEGER), 2) AS pair
        FROM w, unnest(generate_series(1, length(w) - 1)) u(i)
        WHERE length(w) > 1)
      SELECT pair, count(*) AS n FROM p
      GROUP BY pair ORDER BY n DESC, pair LIMIT 30"""))

  /** BPE tokenizer APPLY ([[graft.llm.Bpe]]): greedy lowest-rank-first
    * merge encoding of every corpus word against a 40-entry merge
    * table ranked exactly like `bpe_pair_counts`. Checked per DOC:
    * total token count plus the md5 of the full space-joined token
    * stream in word order — the oracle replays the merge ranking, the
    * greedy fixpoint (recursive CTE), and the stream reassembly, so a
    * wrong merge order in any single word anywhere in the corpus
    * breaks the hash.
    */
  val bpeEncode = RegisteredQuery(
    "bpe_encode",
    (s, d) =>
      graft.llm.Bpe.encodeCorpus(Tables.documents(s, d), "doc_id", "text",
          m = 40)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id")),
    Some("""WITH RECURSIVE
        occ AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        pairs AS (
          SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, count(*) AS n
          FROM occ, unnest(generate_series(1, length(w) - 1)) u(i)
          WHERE length(w) > 1
          GROUP BY 1),
        merges AS (
          SELECT pair,
            CAST(row_number() OVER (ORDER BY n DESC, pair) AS INTEGER) AS rk
          FROM pairs ORDER BY n DESC, pair LIMIT 40),
        vocab AS (SELECT DISTINCT w FROM occ),
        enc AS (
          SELECT w,
            CASE WHEN length(w) < 2 THEN [w]
              ELSE list_transform(range(1, length(w) + 1),
                i -> substr(w, CAST(i AS INTEGER), 1)) END AS syms,
            0 AS iter
          FROM vocab
          UNION ALL
          SELECT w,
            syms[1:bp-1] || [syms[bp] || syms[bp+1]] || syms[bp+2:],
            iter + 1
          FROM (
            SELECT w, syms, iter,
              (SELECT CAST(u.i AS INTEGER)
               FROM unnest(generate_series(1, len(e.syms) - 1)) u(i)
               JOIN merges m
                 ON m.pair = e.syms[CAST(u.i AS INTEGER)] ||
                             e.syms[CAST(u.i AS INTEGER) + 1]
               ORDER BY m.rk, u.i LIMIT 1) AS bp
            FROM enc e) s
          WHERE bp IS NOT NULL),
        dict AS (
          SELECT w, syms FROM enc
          QUALIFY row_number() OVER (PARTITION BY w ORDER BY iter DESC) = 1),
        wordpos AS (
          SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
            ws[CAST(u.i AS INTEGER)] AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents) t,
               unnest(generate_series(1, len(ws))) u(i))
      SELECT doc_id,
        CAST(sum(len(syms)) AS BIGINT) AS n_tokens,
        md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos))
          AS tok_md5
      FROM wordpos JOIN dict USING (w)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Oracle for `bpe_train`: the full iterative merge loop unrolled to
    * `rounds` CTE stages (the same fully-unrolled-SQL pattern as the
    * `graph_pagerank` oracle) — each stage recounts pairs over the
    * post-merge dictionary, re-derives the argmax, and re-applies the
    * merge with the identical left-to-right `replace` rule, so round k
    * is only right if every round before it merged correctly.
    */
  private def bpeTrainOracleSql(rounds: Int): String = {
    val stages = (1 to rounds).map { k =>
      s"""      p$k AS (
        SELECT n, string_split(trim(s, ' '), ' ') AS a FROM v${k - 1}),
      c$k AS MATERIALIZED (
        SELECT a[CAST(u.i AS INTEGER)] || ' ' || a[CAST(u.i AS INTEGER) + 1]
            AS pair,
          CAST(sum(n) AS BIGINT) AS cnt
        FROM p$k, unnest(generate_series(1, len(a) - 1)) u(i)
        WHERE len(a) > 1
        GROUP BY 1),
      b$k AS MATERIALIZED (
        SELECT pair, cnt FROM c$k ORDER BY cnt DESC, pair LIMIT 1),
      v$k AS MATERIALIZED (
        SELECT v.w, v.n,
          CASE WHEN b.pair IS NULL THEN v.s
            ELSE replace(v.s, ' ' || b.pair || ' ',
                         ' ' || replace(b.pair, ' ', '') || ' ') END AS s
        FROM v${k - 1} v LEFT JOIN b$k b ON TRUE)"""
    }.mkString(",\n")
    val union = (1 to rounds)
      .map(k => s"        SELECT CAST($k AS INTEGER) AS step, pair, cnt AS n FROM b$k")
      .mkString("\n        UNION ALL\n")
    s"""WITH v0 AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS n,
          ' ' || array_to_string(list_transform(range(1, length(w) + 1),
            i -> substr(w, CAST(i AS INTEGER), 1)), ' ') || ' ' AS s
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE length(w) > 0
        GROUP BY w),
$stages
      SELECT step, pair, n FROM (
$union
      ) ORDER BY step"""
  }

  /** Tokenizer-training stage 2 — the FULL iterative BPE merge loop
    * ([[graft.llm.Bpe.train]]): 12 rounds of count-argmax-merge over
    * the frequency-weighted word dictionary. Completes the tokenizer
    * lifecycle: `bpe_pair_counts` (one round's statistic) →
    * `bpe_train` (the learned merge sequence) → `bpe_encode` (apply).
    * Scale shape: corpus scanned once into the (word, count)
    * dictionary; each round is one slim-row count job plus a ONE-ROW
    * argmax collect; merges apply as chained codegen'd `replace`
    * columns — the dictionary never re-shuffles.
    */
  val bpeTrain = RegisteredQuery(
    "bpe_train",
    (s, d) =>
      graft.llm.Bpe.train(s, Tables.documents(s, d), "text", rounds = 12)
        .orderBy(col("step")),
    Some(bpeTrainOracleSql(12)))

  /** Fuzzy entity matching: EXACT edit-distance-≤1 join over customer
    * names via the deletion-neighborhood scheme (FastSS) — recall 1.0
    * by construction (any one-edit pair shares a deletion signature),
    * verified by the builtin codegen'd levenshtein. Oracle: quadratic
    * DuckDB all-pairs levenshtein, feasible at the gate fixture.
    */
  val fuzzyJoinNames = RegisteredQuery(
    "fuzzy_join_names",
    (s, d) =>
      graft.llm.Dedup.editDistancePairs(
        Tables.customer(s, d), "c_custkey", "c_name")
        .orderBy(col("id_a"), col("id_b")),
    Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist
      FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1
      ORDER BY id_a, id_b"""))

  /** SimHash signatures per doc, emitted as 16-hex strings. The
    * per-token hash is the low 64 bits of md5, so the oracle
    * RECOMPUTES ENTIRE SIGNATURES in SQL: per-(doc, bit) weighted
    * sums from the md5 hex nibbles, re-assembled to hex — the whole
    * 64-bit fingerprint is hash-checked, not just row counts.
    */
  val dedupSimhash = RegisteredQuery(
    "dedup_simhash",
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        lpad(lower(hex(graft.llm.Dedup.simhashCol(col("text")))), 16, "0")
          .as("simhash"))
        .orderBy(col("doc_id")),
    Some("""WITH t AS (
        SELECT doc_id,
          unnest(string_split(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ')) AS tok
        FROM documents),
      h AS (SELECT doc_id, substr(md5(tok), 17, 16) AS lo FROM t),
      b AS (
        SELECT doc_id, i,
          CASE WHEN sum(CASE WHEN
              ((instr('0123456789abcdef',
                  substr(lo, 16 - CAST(i AS INTEGER) // 4, 1)) - 1)
                >> (CAST(i AS INTEGER) % 4)) & 1 = 1
            THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit
        FROM h, unnest(generate_series(0, 63)) AS u(i)
        GROUP BY doc_id, i),
      nib AS (
        SELECT doc_id, 16 - CAST(i AS INTEGER) // 4 AS j,
          sum(bit << (CAST(i AS INTEGER) % 4)) AS nv
        FROM b GROUP BY doc_id, j)
      SELECT doc_id,
        string_agg(substr('0123456789abcdef', CAST(nv AS INTEGER) + 1, 1),
          '' ORDER BY j) AS simhash
      FROM nib GROUP BY doc_id ORDER BY doc_id"""))

  /** SimHash near-dup pairs via chunk pigeonhole — the bucketed,
    * maxBucket-guarded candidate path end-to-end (rows-only:
    * hash-dependent; planted recall + degenerate-bucket behavior pinned
    * in DedupSpec). Chunk count is corpus-scaled (`chunksFor`): piece
    * width must track log2(n) or buckets lose selectivity and the
    * in-bucket expansion degenerates toward all-pairs. maxBucket=200:
    * the synthetic corpus shares one vocabulary, so signature bits are
    * biased and pieces concentrate (measured max bucket 2 472, 9.4M
    * in-bucket pairs at sf0.1) — the cap keeps candidate volume
    * output-bound and the observe() metric counts what was dropped.
    * Low-hamming pairs share MANY chunks, so they survive unless every
    * shared chunk is a hot bucket; planted recall is pinned in
    * DedupSpec.
    */
  val dedupSimhashPairs = RegisteredQuery(
    "dedup_simhash_pairs",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val chunks = graft.llm.Dedup.chunksFor(docs.count())
      graft.llm.Dedup.simhashPairs(
        docs, "doc_id", "text",
        chunks = chunks, maxHamming = chunks - 1, maxBucket = 200)
        .orderBy(col("id_a"), col("id_b"))
    },
    // The oracle replays the WHOLE candidate pipeline in SQL,
    // including the corpus-scaled parameterization: the `par` CTE
    // recomputes chunksFor(count(*)) (8 below 16k docs, 4 below 4M,
    // else 2 ⇒ piece width 64/chunks, maxHamming chunks−1) so the
    // oracle stays exact at every SF, not just the 500-doc gate
    // fixture (r12: the pinned //8 version diverged at sf1's 50k
    // docs where chunksFor = 4). Signatures from md5 nibbles, hot
    // buckets (>200) excluded exactly as the engine drops them,
    // candidates from shared non-hot pieces, hamming verified per bit.
    Some("""WITH t AS (
        SELECT doc_id,
          unnest(string_split(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ')) AS tok
        FROM documents),
      h AS (SELECT doc_id, substr(md5(tok), 17, 16) AS lo FROM t),
      b AS (
        SELECT doc_id, i,
          CASE WHEN sum(CASE WHEN
              ((instr('0123456789abcdef',
                  substr(lo, 16 - CAST(i AS INTEGER) // 4, 1)) - 1)
                >> (CAST(i AS INTEGER) % 4)) & 1 = 1
            THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit
        FROM h, unnest(generate_series(0, 63)) AS u(i)
        GROUP BY doc_id, i),
      par AS (
        SELECT CASE WHEN count(*) < 16384 THEN 8
                    WHEN count(*) < 4194304 THEN 4 ELSE 2 END AS nchunks,
               64 // CASE WHEN count(*) < 16384 THEN 8
                    WHEN count(*) < 4194304 THEN 4 ELSE 2 END AS width
        FROM documents),
      pieces AS (
        SELECT doc_id, CAST(i AS INTEGER) // par.width AS chunk,
          sum(bit << (CAST(i AS INTEGER) % par.width)) AS piece
        FROM b, par GROUP BY doc_id, chunk),
      hot AS (SELECT chunk, piece FROM pieces
              GROUP BY chunk, piece HAVING count(*) > 200),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
        FROM pieces a JOIN pieces b2
          ON a.chunk = b2.chunk AND a.piece = b2.piece
          AND a.doc_id < b2.doc_id
        WHERE NOT EXISTS (SELECT 1 FROM hot
          WHERE hot.chunk = a.chunk AND hot.piece = a.piece)),
      ham AS (
        SELECT c.id_a, c.id_b,
          count(*) FILTER (WHERE ba.bit <> bb.bit) AS hamming
        FROM cand c
        JOIN b ba ON ba.doc_id = c.id_a
        JOIN b bb ON bb.doc_id = c.id_b AND bb.i = ba.i
        GROUP BY c.id_a, c.id_b)
      SELECT id_a, id_b, hamming FROM ham, par
      WHERE hamming <= par.nchunks - 1
      ORDER BY id_a, id_b"""))

  /** Per-dimension vector mean by group (the centroid/pooled-embedding
    * aggregation every embedding pipeline runs): posexplode to
    * (group, pos, value) — ONE shuffle keyed by (group, pos), partial
    * aggregation map-side — rather than any array-zip reduce that
    * would serialize whole vectors through the aggregate. Output
    * stays exploded (group, pos, mean): directly comparable and
    * directly usable.
    */
  val aggVectorMean = RegisteredQuery(
    "agg_vector_mean",
    (s, d) =>
      Tables.embeddings(s, d)
        .select((col("vec_id") % 10).as("grp"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .groupBy(col("grp"), col("pos"))
        .agg(round(avg(col("x")), 6).as("mean_val"))
        .orderBy(col("grp"), col("pos")),
    Some("""SELECT vec_id % 10 AS grp, i - 1 AS pos,
        round(avg(embedding[i]::DOUBLE), 6) AS mean_val
      FROM embeddings,
        unnest(generate_series(1, len(embedding))) AS t(i)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** The exact cosine top-10 oracle against the vec_id=0 embedding,
    * shared by every top-10 vector query (brute force, LSH, IVF,
    * IVF×PQ, in memory or on disk). `where` follows
    * `FROM embeddings, q` and restricts the corpus to the survivors
    * of a delete.
    */
  private def cosineTop10OracleSql(where: String = ""): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id,
        round(list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]), 6)
          AS score
      FROM embeddings, q$where
      ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]) DESC,
        vec_id LIMIT 10"""

  /** `cosineTop10OracleSql`'s clause for the `*_delete` queries,
    * which take down every `vec_id % 50 == 7`.
    */
  private final val DeleteSurvivorsWhere = "\n      WHERE vec_id % 50 <> 7"

  /** Brute-force cosine top-10 against the vec_id=0 embedding — exact,
    * oracle-checked against DuckDB's list_cosine_similarity. Spark plans
    * TakeOrderedAndProject (per-partition heaps, no global sort).
    */
  val simTopkBrute = RegisteredQuery(
    "sim_topk_brute",
    (s, d) => {
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      Similarity.topKBrute(emb, "embedding", "vec_id", query, 10)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql()))

  /** Multi-table LSH ANN top-10: candidates from 8 bitsFor-scaled
    * tables, exact cosine on the candidate union. Approximate by
    * design, but the multi-table OR recovers the EXACT top-10 on this
    * corpus (the old single-table probe sat at recall 0.7) — so the
    * brute-force oracle applies: hash-green certifies recall 1.0 here;
    * a recall drop surfaces as a row mismatch. General-case recall
    * bounds are pinned in SimilaritySpec.
    */
  val simTopkAnn = RegisteredQuery(
    "sim_topk_ann",
    (s, d) => {
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val bits = Similarity.bitsFor(emb.count())
      val index = Similarity.multiTableIndex(
        emb, "embedding", "vec_id", dim = query.length, bits = bits,
        tables = 8)
      Similarity.topKAnnMultiTable(index, query,
          dim = query.length, bits = bits, tables = 8, k = 10)
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql()))

  // Trained centroid sets / PQ codebooks are INDEX artifacts: a pure,
  // deterministic function of (corpus, fixed params), built once and
  // served by every query that probes them — memoized per process AND
  // persisted as stamp-gated parquet sidecars (the bucketed-table /
  // disk-LSH pattern): Lloyd iterations are once-per-corpus-VERSION
  // work a daily job finds already trained in the warehouse, so a
  // fresh process (and the bench's retime pass, which clears only the
  // in-process memo) pays a driver-sized sidecar read, not k-means
  // over the corpus. The stamp gates freshness; a stale or corrupt
  // sidecar rebuilds loudly-deterministically (goldens in PqSpec pin
  // train ≡ reload).

  /** Load-or-rebuild of a driver-sized trained artifact with parquet
    * sidecar persistence, through `stampGate` on `path.stamp`.
    * `load` must throw on a missing or torn sidecar — a failed load
    * counts as absent, and the gate then runs `build` + `save`.
    */
  private def stampedModel[T](path: String, stamp: String)(load: => T)(
      build: => T)(save: T => Unit): T = {
    var model: Option[T] = None
    stampGate(s"$path.stamp", stamp,
        present = { model = scala.util.Try(load).toOption; model.isDefined }) {
      val t = build
      save(t)
      model = Some(t)
    }
    model.get
  }

  private val centroidCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Double]], Array[Double])]()

  /** Trained coarse quantizer + per-cell angular radii, stamp-gated.
    * The radii are computed ONCE at train time over the full-corpus
    * IVF assignment: they are a pure function of (corpus, centroids),
    * and a radius over the full member set upper-bounds every subset
    * an individual query path indexes (the PQ index drops
    * null-code rows), so the branch-and-bound exactness argument
    * holds for every consumer — bounds can only be WIDE, never tight.
    */
  private def centroidRadiiFor(s: SparkSession,
      d: String): (Array[Array[Double]], Array[Double]) =
    centroidCache.computeIfAbsent(d, _ => {
      import graft.llm.Similarity
      val path = s"/tmp/graft_centroids_${dirTag(d)}"
      stampedModel(path, sourceStamp(s"$d/embeddings.parquet")) {
        val rows = s.read.parquet(path)
          .select(col("cell").cast("int"), col("centroid"), col("radius"))
          .collect()
        val cents = Array.fill(rows.length)(null: Array[Double])
        val radii = new Array[Double](rows.length)
        rows.foreach { r =>
          cents(r.getInt(0)) = r.getSeq[Double](1).toArray
          radii(r.getInt(0)) = r.getDouble(2)
        }
        require(cents.nonEmpty && cents.forall(_ != null),
          s"centroid sidecar at $path has gaps")
        (cents, radii)
      } {
        val emb = Tables.embeddings(s, d)
        val cents = Similarity.kmeansCentroids(emb, "embedding", "vec_id",
          k = Similarity.cellsFor(emb.count()), iters = 2)
        val radii = Similarity.cellRadii(
          Similarity.ivfIndex(emb, "embedding", "vec_id", cents), cents)
        (cents, radii)
      } { case (cents, radii) =>
        import s.implicits._
        cents.indices.map(i => (i, cents(i).toSeq, radii(i)))
          .toDF("cell", "centroid", "radius")
          .coalesce(1).write.mode("overwrite").parquet(path)
      }
    })
  private def centroidsFor(s: SparkSession, d: String): Array[Array[Double]] =
    centroidRadiiFor(s, d)._1
  private val pqModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.llm.Pq.PqModel]()

  /** Drop every memoized shared artifact (component frames, k-means
    * centroids, PQ codebooks) so a re-timing pass pays the same jobs a
    * cold process would — Bench's second pass calls this to keep
    * min-of-2 numbers honest. Checkpointed frames are released to the
    * ContextCleaner by dropping the reference. The DISK artifacts
    * behind `stampGate` (bucketed tables, disk indexes, the purchase
    * graph, and since r13 the trained centroid/codebook sidecars) are
    * deliberately NOT reset: they model warehouse state a daily job
    * would find already built, and their build cost is priced
    * separately by their stamps' cold path — a cold process re-LOADS
    * the trained models (driver-sized sidecar read), it does not
    * re-run Lloyd over the corpus.
    */
  def resetSharedArtifacts(): Unit = {
    componentCache.clear()
    exactPairsCache.clear()
    centroidCache.clear()
    pqModelCache.clear()
    histCentroidCache.clear()
    // Spark's CacheManager holds strong refs to every Dataset
    // .persist() until an explicit unpersist/clearCache — the driver
    // maps above are only half the shared state. Without this, a
    // re-timed plan-equal invocation of a persisting query silently
    // reads the first pass's warm InMemoryRelation and measures cache
    // reads instead of recomputation (ADVICE r20).
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(_.catalog.clearCache())
  }
  private def pqModelFor(s: SparkSession, d: String,
      dim: Int): graft.llm.Pq.PqModel =
    pqModelCache.computeIfAbsent(d, _ => {
      import graft.llm.Pq
      val path = s"/tmp/graft_pqmodel_${dirTag(d)}"
      stampedModel(path, sourceStamp(s"$d/embeddings.parquet")) {
        val p = s.read.parquet(s"$path/params")
          .select(col("dim").cast("int"), col("m").cast("int"),
            col("k").cast("int")).collect().head
        val (dm, m, k) = (p.getInt(0), p.getInt(1), p.getInt(2))
        require(dm == dim, s"PQ sidecar at $path trained for dim=$dm")
        val books = Array.fill(m, k)(null: Array[Double])
        s.read.parquet(s"$path/codebooks")
          .select(col("j").cast("int"), col("c").cast("int"),
            col("codeword"))
          .collect().foreach { r =>
            books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
          }
        require(books.forall(_.forall(cw =>
            cw != null && cw.length == dm / m)),
          s"codebook sidecar at $path is incomplete")
        Pq.PqModel(dm, m, k, books)
      } {
        Pq.trainCodebooks(Tables.embeddings(s, d), "embedding",
          "vec_id", dim = dim, m = 16, k = 64, iters = 2)
      } { model =>
        import s.implicits._
        (for { j <- 0 until model.m; c <- 0 until model.k }
            yield (j, c, model.codebooks(j)(c).toSeq))
          .toDF("j", "c", "codeword")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
        Seq((model.dim, model.m, model.k)).toDF("dim", "m", "k")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
      }
    })

  /** IVF top-k via EXACT branch-and-bound: data-adaptive coarse
    * quantization (deterministic spherical k-means cells) with a
    * per-cell angular radius; cells are probed in upper-bound order and
    * the probe set expands only while an unprobed cell's bound exceeds
    * the k-th score found — so the answer equals brute force BY
    * CONSTRUCTION on any corpus and the brute DuckDB oracle is an
    * algorithmic guarantee, not fixture luck (a fixed-nprobe variant
    * missed one of the top-10 on this isotropic corpus; its
    * partial-probe recall is pinned in SimilaritySpec on clustered
    * data instead). At scale the index is partitioned by cell, so the
    * probed fraction — not the corpus — is what a query reads.
    */
  val simTopkIvf = RegisteredQuery(
    "sim_topk_ivf",
    (s, d) => {
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val (cents, radii) = centroidRadiiFor(s, d)
      val cells = cents.length
      // the index is an INDEX: persist it — the bound probe and the
      // final probe both read it (unpersisted, each re-derives the
      // assignment scan); radii come from the trained sidecar
      val index = Similarity.ivfIndex(emb, "embedding", "vec_id", cents)
        .persist()
      Similarity.topKIvfExact(index, query, cents, radii, k = 10,
          nprobe = math.max(2, cells / 4))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql()))

  /** The disk-serving path of the IVF index: the index is WRITTEN
    * partitioned by cell and the probe runs against the read-back
    * frame, so cell filters prune whole directories — a probe reads
    * O(occupancy·nprobe) bytes no matter the corpus size (verified as
    * PartitionFilters in IvfDiskSpec). Build once, serve many: the
    * same write-time-investment contract as `join_bucketed`. Exact by
    * construction, so it shares the brute-force oracle.
    */
  val simTopkIvfDisk = RegisteredQuery(
    "sim_topk_ivf_disk",
    (s, d) => {
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val (cents, radii) = centroidRadiiFor(s, d)
      val cells = cents.length
      val path = s"/tmp/graft_ivf_${dirTag(d)}"
      // build-once/serve-many for real: the write is stamp-gated like
      // every other disk index (it was an every-run rewrite until r13)
      val stamp = sourceStamp(s"$d/embeddings.parquet")
      stampGate(s"$path.stamp", stamp,
          present = IndexManifest.exists(path)) {
        Similarity.writeIvfIndex(
          Similarity.ivfIndex(emb, "embedding", "vec_id", cents), path)
      }
      val disk = Similarity.readIvfIndex(s, path)
      Similarity.topKIvfExact(disk, query, cents, radii, k = 10,
          nprobe = math.max(2, cells / 4))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql()))

  /** END-TO-END LLM DATA-PREP PIPELINE — the five stages a training
    * corpus actually passes through, COMPOSED in one dataflow: exact
    * dedup (canonical copy per md5) → integer-exact quality gate
    * (≥10 tokens, punctuation ≤ 1/4 of chars) → decontamination
    * against the benchmark slice (any shared 4-gram) → per-source
    * token-budget mixture sampling → 512-token sequence packing. The
    * output is the per-chunk packing report, which is a function of
    * EVERY upstream decision — a single wrongly-kept/dropped/mis-
    * counted document anywhere shifts all later chunk boundaries and
    * breaks the hash. The oracle replays all five stages in one CTE
    * chain from the per-stage oracle idioms already proven green
    * individually (`dedup_exact`, `text_stats`, `decontaminate`,
    * `mixture_sample_budget`, `seq_pack`).
    *
    * Scale shape: stages compose WITHOUT materialization barriers —
    * dedup is one md5-keyed aggregate; quality is a map-side filter;
    * decontamination broadcasts the slim contaminated-id frame back as
    * an anti join (the corpus never re-shuffles for it); sampling is
    * the one per-source window; packing is the two-phase prefix sum.
    */
  val pipelineDataE2e = RegisteredQuery(
    "pipeline_data_e2e",
    (s, d) => {
      import graft.llm.{Decontaminate, SeqPack, TextAnalysis}
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
      val bench = docs.filter(col("doc_id") % 20 === 0)
      val canon = corpus.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      val deduped = corpus.join(canon, Seq("doc_id"), "left_semi")
      val nPunct = length(
        regexp_replace(col("text"), "[\\p{L}\\p{Nd}\\s]", ""))
      // persisted: BOTH the contamination branch and the final
      // anti-join consume the cleaned frame — unpersisted, the whole
      // dedup+gate+tokenize chain runs twice. The report materializes
      // inside the query (its row count is BUDGET-bounded: ≤
      // Σbudgets/chunkLen chunks at any corpus scale) so the cache
      // releases deterministically in the finally — Spark's
      // CacheManager pins a persisted Dataset until explicit
      // unpersist; an unreferenced handle is never reclaimed.
      val cleaned = deduped
        .withColumn("n_tok", TextAnalysis.tokenCount(col("text"))
          .cast("long"))
        .filter(col("n_tok") >= 10 &&
          nPunct * lit(4) <= length(col("text")))
        .persist()
      try {
        val bad = Decontaminate.contaminationReport(cleaned, bench,
            "doc_id", "text", k = 4)
          .select(col("id").as("doc_id"))
        val decon = cleaned.join(broadcast(bad), Seq("doc_id"), "left_anti")
        val budgets = (0 until 20).map(i => s"src$i" -> 600L).toMap
        val sampled = graft.relational.Sampling.mixtureSampleByBudget(
          decon.select(col("source"), col("doc_id"), col("n_tok")),
          "source", "doc_id", "n_tok", budgets)
        val out = SeqPack.packChunks(sampled, "doc_id", "n_tok",
            (col("doc_id") / 500).cast("long"), chunkLen = 512L)
          .orderBy(col("chunk"))
        val rows = out.collect().toIndexedSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
      } finally cleaned.unpersist(blocking = false): Unit
    },
    Some("""WITH corp AS (
        SELECT * FROM documents WHERE doc_id % 20 <> 0),
      canon AS (
        SELECT min(doc_id) AS doc_id FROM corp GROUP BY md5(text)),
      dd AS (SELECT c.* FROM corp c JOIN canon USING (doc_id)),
      tok AS (
        SELECT doc_id, source, text,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks,
          length(regexp_replace(text, '[\p{L}\p{Nd}\s]', '', 'g'))
            AS n_punct
        FROM dd),
      clean AS (
        SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS n_tok
        FROM tok
        WHERE len(toks) >= 10 AND 4 * n_punct <= length(text)),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
            ELSE list_distinct(list_transform(range(1, len(toks) - 2),
              i -> array_to_string(toks[i:i+3], ' '))) END AS sh
        FROM clean),
      bt AS (
        SELECT regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents WHERE doc_id % 20 = 0),
      bg AS (
        SELECT DISTINCT unnest(
          CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
            ELSE list_distinct(list_transform(range(1, len(toks) - 2),
              i -> array_to_string(toks[i:i+3], ' '))) END) AS g
        FROM bt),
      cg AS (SELECT doc_id, unnest(sh) AS g FROM sh),
      bad AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g)),
      keep AS (
        SELECT c.doc_id, c.source, c.n_tok FROM clean c
        LEFT JOIN bad b ON c.doc_id = b.doc_id WHERE b.doc_id IS NULL),
      samp AS (
        SELECT source, doc_id, n_tok,
          coalesce(sum(n_tok) OVER (PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS cum_before
        FROM keep),
      sel AS (
        SELECT doc_id, n_tok FROM samp WHERE cum_before < 600),
      st AS (
        SELECT doc_id, n_tok,
          CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS start
        FROM sel WHERE n_tok > 0),
      x AS (
        SELECT doc_id, n_tok, start,
          unnest(generate_series(start // 512, (start + n_tok - 1) // 512))
            AS chunk
        FROM st)
      SELECT chunk, CAST(count(*) AS INTEGER) AS n_docs,
        CAST(sum(least(start + n_tok, (chunk + 1) * 512)
          - greatest(start, chunk * 512)) AS BIGINT) AS n_tokens
      FROM x GROUP BY chunk ORDER BY chunk"""))

  /** Index COMPACTION ([[graft.llm.Similarity.compactLshIndex]]) — the
    * third maintenance verb (build → append× → compact): three
    * appended deltas fragment every (table, grp) directory, compaction
    * rewrites to one sig-sorted file per directory behind an
    * atomic-rename swap, and serving is unchanged. Oracle = the same
    * exact brute-force top-10: a compaction that drops/duplicates rows
    * or breaks the layout fails hash equality. The fragmentation and
    * file-count collapse themselves are pinned in LshDiskSpec.
    */
  val simTopkAnnCompact = RegisteredQuery(
    "sim_topk_ann_compact",
    (s, d) => {
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val bits = Similarity.bitsFor(emb.count())
      val path = s"/tmp/graft_lsh_cpt_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/embeddings.parquet")
      stampGate(s"$path.stamp", stamp,
          present = IndexManifest.exists(path)) {
        Similarity.writeLshIndex(
          Similarity.multiTableIndex(
            emb.filter(col("vec_id") % 3 === 0), "embedding", "vec_id",
            dim = query.length, bits = bits, tables = 8),
          path, groups = 16)
        (1 until 3).foreach { r =>
          Similarity.appendLshIndex(
            emb.filter(col("vec_id") % 3 === r), "embedding", "vec_id",
            path, dim = query.length, bits = bits, tables = 8,
            groups = 16)
        }
        Similarity.compactLshIndex(s, path)
      }
      Similarity.topKAnnDisk(s, path, query, dim = query.length,
          bits = bits, tables = 8, k = 10, groups = 16)
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql()))

  /** Index DELETION ([[graft.llm.Similarity.deleteFromLshIndex]]) —
    * the removal verb completing the lifecycle (build → append →
    * compact → DELETE, the GDPR-takedown shape): deleted ids land in
    * a tombstone sidecar at O(ids) cost with index data untouched,
    * and the serve path anti-joins them out IMMEDIATELY — this query
    * serves with tombstones still pending, the hard case. Every 50th
    * vector (vec_id % 50 == 7) is taken down; the oracle is brute
    * force over the SURVIVING corpus, so a tombstone that leaks a
    * deleted id into the top-k, or one that suppresses a survivor,
    * breaks hash equality. Physical folding at compaction is pinned
    * in LshDiskSpec.
    */
  val simTopkAnnDelete = RegisteredQuery(
    "sim_topk_ann_delete",
    (s, d) => {
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val bits = Similarity.bitsFor(emb.count())
      val path = s"/tmp/graft_lsh_del_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/embeddings.parquet")
      stampGate(s"$path.stamp", stamp,
          present = IndexManifest.exists(path)) {
        Similarity.clearTombstones(path)
        Similarity.writeLshIndex(
          Similarity.multiTableIndex(emb, "embedding", "vec_id",
            dim = query.length, bits = bits, tables = 8),
          path, groups = 16)
        Similarity.deleteFromLshIndex(
          emb.filter(col("vec_id") % 50 === 7), "vec_id", path)
      }
      Similarity.topKAnnDisk(s, path, query, dim = query.length,
          bits = bits, tables = 8, k = 10, groups = 16)
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql(DeleteSurvivorsWhere)))

  /** INCREMENTAL IVF index maintenance ([[graft.llm.Similarity
    * .appendIvfIndex]]): centroids train on the HISTORY slice only —
    * arrival never retrains — the delta (vec_id % 10 == 0, incl. the
    * query vector) is assigned to those fixed cells and appended as
    * new files in the same cell= layout at O(delta) cost. The
    * branch-and-bound serve stays EXACT by construction because the
    * radii recompute over base+delta (a drifted delta widens radii —
    * costs probes, never answers), so the brute-force oracle is an
    * algorithmic guarantee. History centroids are re-derived on cache
    * miss (deterministic k-means ⇒ identical across processes).
    */
  private val histCentroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  val simTopkIvfAppend = RegisteredQuery(
    "sim_topk_ivf_append",
    (s, d) => {
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val hist = emb.filter(col("vec_id") % 10 =!= 0)
      val cents = histCentroidCache.computeIfAbsent(d, _ =>
        Similarity.kmeansCentroids(hist, "embedding", "vec_id",
          k = Similarity.cellsFor(hist.count()), iters = 2))
      val path = s"/tmp/graft_ivf_app_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/embeddings.parquet")
      stampGate(s"$path.stamp", stamp,
          present = IndexManifest.exists(path)) {
        Similarity.writeIvfIndex(
          Similarity.ivfIndex(hist, "embedding", "vec_id", cents), path)
        Similarity.appendIvfIndex(
          emb.filter(col("vec_id") % 10 === 0), "embedding", "vec_id",
          path, cents)
      }
      val disk = Similarity.readIvfIndex(s, path)
      val radii = Similarity.cellRadii(disk, cents)
      Similarity.topKIvfExact(disk, query, cents, radii, k = 10,
          nprobe = math.max(2, cents.length / 4))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql()))

  /** DELETE on the disk IVF index
    * ([[graft.llm.Similarity.deleteFromIvfIndex]]) — removal symmetry
    * across all three index families (LSH `sim_topk_ann_delete`, BM25
    * `doc_bm25_delete`, and now IVF): tombstones append at O(delta),
    * fold on read BEFORE scoring (a deleted id is unservable
    * immediately), physical bytes go when `compactIvfIndex`'s
    * rewrite commits. Exactness survives by construction — radii over
    * the folded frame only tighten — so the oracle is brute force
    * over the surviving corpus, same contract as the other deletes.
    */
  val simTopkIvfDelete = RegisteredQuery(
    "sim_topk_ivf_delete",
    (s, d) => {
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val cents = centroidsFor(s, d)
      val path = s"/tmp/graft_ivf_del_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/embeddings.parquet")
      stampGate(s"$path.stamp", stamp,
          present = IndexManifest.exists(path)) {
        Similarity.clearTombstones(path)
        Similarity.writeIvfIndex(
          Similarity.ivfIndex(emb, "embedding", "vec_id", cents), path)
        Similarity.deleteFromIvfIndex(
          emb.filter(col("vec_id") % 50 === 7), "vec_id", path)
      }
      val disk = Similarity.readIvfIndex(s, path)
      val radii = Similarity.cellRadii(disk, cents)
      Similarity.topKIvfExact(disk, query, cents, radii, k = 10,
          nprobe = math.max(2, cents.length / 4))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql(DeleteSurvivorsWhere)))

  /** Product-quantization ANN: byte-packed PQ codes (16 B/row vs
    * 256 B raw — the representation that serves a 100 TB embedding
    * corpus from memory) score an ADC shortlist with NO vector access,
    * then exact cosine re-ranks the shortlist. Approximate by design,
    * but at these parameters the 100-row shortlist recovers the exact
    * top-10 on this corpus (isotropic data is PQ's WORST case; the
    * 20-row shortlist already recovers it in PqSpec) — so the
    * brute-force oracle applies: hash-green certifies shortlist
    * recall 1.0, and a quantization regression surfaces as a row
    * mismatch. General-case recall is pinned in PqSpec.
    */
  val simTopkPq = RegisteredQuery(
    "sim_topk_pq",
    (s, d) => {
      import graft.llm.Pq
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val model = pqModelFor(s, d, query.length)
      val index = Pq.pqIndex(emb, "embedding", "vec_id", model)
      Pq.topKRerank(index, emb, "embedding", "vec_id", query, model,
          k = 10, shortlist = 100)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql()))

  /** IVF×PQ composed (the two scale levers at once): angular cell
    * bounds prune which rows the query READS — exactly, via the
    * topKIvfExact radii argument, so no pruned cell can hold a top-k
    * member — and byte-packed PQ codes shrink what each read row
    * COSTS (ADC, no vector access) before an exact cosine re-rank.
    * The only approximation is the ADC shortlist, the same residual
    * as `sim_topk_pq`, so the brute oracle applies on the same
    * recall-1.0-with-margin grounds (PqSpec pins the general case).
    */
  val simTopkIvfPq = RegisteredQuery(
    "sim_topk_ivfpq",
    (s, d) => {
      import graft.llm.{Pq, Similarity}
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val model = pqModelFor(s, d, query.length)
      val (cents, radii) = centroidRadiiFor(s, d)
      val cells = cents.length
      val index = Pq.ivfPqIndex(emb, "embedding", "vec_id", cents, model)
        .persist()
      Pq.topKIvfPq(index, emb, "embedding", "vec_id", query, model,
          cents, radii, k = 10, nprobe = math.max(2, cells / 4),
          shortlist = 100)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql()))

  /** Stamp-gated build-once of the shared disk LSH index over the full
    * embeddings fixture (tables=8, groups=16) — serves every
    * disk-LSH-reading query (`sim_topk_ann_disk`,
    * `sim_knn_join_ann_disk`). Returns the index path.
    */
  private def ensureLshDiskIndex(s: SparkSession, d: String, dim: Int,
      bits: Int): String = {
    import graft.llm.Similarity
    val path = s"/tmp/graft_lsh_${dirTag(d)}"
    val stamp = sourceStamp(s"$d/embeddings.parquet")
    stampGate(s"$path.stamp", stamp,
        present = IndexManifest.exists(path)) {
      Similarity.writeLshIndex(
        Similarity.multiTableIndex(Tables.embeddings(s, d), "embedding",
          "vec_id", dim = dim, bits = bits, tables = 8),
        path, groups = 16)
    }
    path
  }

  /** The disk-SERVING path of multi-table LSH ANN — build-once/
    * serve-many for the hyperplane family, completing the lifecycle
    * story across all three ANN families (LSH here, IVF
    * `sim_topk_ivf_disk`, IVF×PQ `sim_topk_ivfpq_disk`). The index is
    * partitioned by (table, sig-mod-groups) so the closed multiprobe
    * list prunes whole directories at ANY bit width; the exact
    * signature selection inside a probed directory rides sorted
    * row-group stats. Same probe math as `sim_topk_ann` ⇒ same exact
    * top-10 oracle.
    */
  val simTopkAnnDisk = RegisteredQuery(
    "sim_topk_ann_disk",
    (s, d) => {
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val bits = Similarity.bitsFor(emb.count())
      val path = ensureLshDiskIndex(s, d, query.length, bits)
      Similarity.topKAnnDisk(s, path, query, dim = query.length,
          bits = bits, tables = 8, k = 10, groups = 16)
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql()))

  /** INCREMENTAL index maintenance ([[graft.llm.Similarity
    * .appendLshIndex]]): the nightly-ingest ANN lifecycle — build the
    * disk LSH index from the history slice (vec_id % 10 != 0), APPEND
    * the incoming delta (vec_id % 10 == 0, ~10%) as new files in the
    * same (table, grp) layout at O(delta) cost, then serve top-k over
    * base+delta with the unchanged [[graft.llm.Similarity
    * .topKAnnDisk]] path. The oracle is the exact brute-force top-10
    * over the FULL corpus — and the query vector itself (vec_id 0)
    * lives in the DELTA, so a lost or mis-bucketed append can't score
    * its guaranteed top-1 self-match and breaks the hash instantly.
    */
  val simTopkAnnAppend = RegisteredQuery(
    "sim_topk_ann_append",
    (s, d) => {
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val bits = Similarity.bitsFor(emb.count())
      val path = s"/tmp/graft_lsh_app_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/embeddings.parquet")
      stampGate(s"$path.stamp", stamp,
          present = IndexManifest.exists(path)) {
        Similarity.writeLshIndex(
          Similarity.multiTableIndex(
            emb.filter(col("vec_id") % 10 =!= 0), "embedding", "vec_id",
            dim = query.length, bits = bits, tables = 8),
          path, groups = 16)
        Similarity.appendLshIndex(
          emb.filter(col("vec_id") % 10 === 0), "embedding", "vec_id",
          path, dim = query.length, bits = bits, tables = 8, groups = 16)
      }
      Similarity.topKAnnDisk(s, path, query, dim = query.length,
          bits = bits, tables = 8, k = 10, groups = 16)
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql()))

  /** STREAMING index maintenance ([[graft.streaming.Streams
    * .appendIndexAvailableNow]]): the embeddings corpus arrives as a
    * 2-micro-batch file stream and each batch APPENDS into a fresh
    * disk LSH index via foreachBatch — new files per epoch in the
    * (table, grp) layout, O(batch) per epoch — then the UNCHANGED
    * serve path answers top-10 over everything ingested. Oracle =
    * exact brute-force top-10 over the full corpus: if either
    * micro-batch's append were lost the hash breaks (half the corpus,
    * including or excluding the query vector's self-match, would be
    * missing). The streaming twin of `sim_topk_ann_append`.
    */
  val streamingIndexAppend = RegisteredQuery(
    "streaming_index_append",
    (s, d) => {
      import graft.llm.Similarity
      import graft.streaming.Streams
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val bits = Similarity.bitsFor(emb.count())
      // per-run unique index dir; stale siblings from earlier runs are
      // swept first so repeated bench/verify runs don't grow /tmp
      val prefix = s"graft_lsh_stream_${math.abs(d.hashCode)}_"
      Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(prefix))
        .foreach(Similarity.rmTree)
      val path = s"/tmp/$prefix${System.nanoTime()}"
      // 8 shuffle partitions on an ISOLATED session: each epoch's
      // append repartitions by (table, grp) before the partitioned
      // write — at micro-batch volumes 32 reduce tasks is pure
      // scheduling+small-file overhead (same right-sizing as the
      // other streaming runners; the shared session is untouched)
      val iso = graft.core.Sessions.isolated(s,
        Map("spark.sql.shuffle.partitions" -> "8"))
      val stream = Streams.idParityStream(iso,
        s"$d/embeddings.parquet", "vec_id")
      // groups=4 at fixture occupancy: 32 partition dirs per epoch
      // instead of 128 — the dominant cost of a tiny-batch append is
      // parquet writer open/close per directory, and group count is
      // an occupancy knob (bounded dirs at any bit width), not a
      // recall parameter
      val nBatches = Streams.appendIndexAvailableNow(iso, stream,
        "embedding", "vec_id", path, dim = query.length, bits = bits,
        tables = 8, groups = 4)
      require(nBatches >= 2,
        s"expected >=2 micro-batches through the index, got $nBatches")
      val served = Similarity.topKAnnDisk(s, path, query,
          dim = query.length, bits = bits, tables = 8, k = 10, groups = 4)
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
      // materialize the k rows, then drop the per-run index: the
      // returned frame must not lazily re-read files this run deletes
      val rows = served.collect().toIndexedSeq
      Similarity.rmTree(new java.io.File(path))
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), served.schema)
    },
    Some(cosineTop10OracleSql()))

  /** STREAMING BM25 index maintenance ([[graft.streaming.Streams
    * .appendBm25AvailableNow]]) — the sparse twin of
    * `streaming_index_append`, completing maintenance symmetry across
    * both index families: the corpus arrives as a paced file stream
    * (one file per micro-batch), the first epoch bulk-builds the
    * inverted index, every later epoch appends postings into the same
    * md5-term-bucket layout and merges the stats sidecar from exact
    * integer sums. Serve path unchanged ⇒ shares `doc_bm25`'s
    * full-corpus oracle — a lost epoch drops half the postings AND
    * shifts idf corpus-wide, breaking the hash. The served rows are
    * materialized eagerly and the per-run index deleted (same /tmp
    * hygiene as the ANN twin).
    */
  val streamingBm25Append = RegisteredQuery(
    "streaming_bm25_append",
    (s, d) => {
      import graft.llm.{Similarity, Vocabulary}
      import graft.streaming.Streams
      val prefix = s"graft_bm25_stream_${math.abs(d.hashCode)}_"
      Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(prefix))
        .foreach(Similarity.rmTree)
      val path = s"/tmp/$prefix${System.nanoTime()}"
      val iso = graft.core.Sessions.isolated(s,
        Map("spark.sql.shuffle.partitions" -> "8"))
      val stream = Streams.idParityStream(iso,
        s"$d/documents.parquet", "doc_id")
      val nBatches = Streams.appendBm25AvailableNow(iso, stream,
        "doc_id", "text", path, buckets = 16)
      require(nBatches >= 2,
        s"expected >=2 micro-batches through the index, got $nBatches")
      val served = Vocabulary.bm25Disk(s, path,
          queryTerms = Seq("dup", "spark", "join"), topK = 20,
          buckets = 16)
        .withColumnRenamed("id", "doc_id")
      val rows = served.collect().toIndexedSeq
      Similarity.rmTree(new java.io.File(path))
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), served.schema)
    },
    Some(bm25OracleSql()))

  /** STREAMING QUALITY ROUTER with a dead-letter side output
    * ([[graft.streaming.Streams.routeAvailableNow]]) — the DLQ shape
    * of a production ingest: each micro-batch splits ONCE on the
    * quality gate (the same token-count + punctuation rule as
    * `pipeline_data_e2e`'s quality stage), accepted docs land in the
    * main sink, rejects in the dead-letter sink with a reason column
    * — an auditable drop, the streaming analogue of the observe()
    * metrics on the batch candidate generators. Both sides write
    * idempotent batch=<id> dirs, so acceptance+rejection stays a
    * partition of the input under replay; the oracle replays the gate
    * over the whole corpus and checks BOTH sides' aggregates — a row
    * routed to neither (or both) sides breaks the hash.
    */
  val streamingQualityRouter = RegisteredQuery(
    "streaming_quality_router",
    (s, d) => {
      import graft.llm.{Similarity, TextAnalysis}
      import graft.streaming.Streams
      val prefix = s"graft_router_${math.abs(d.hashCode)}_"
      Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(prefix))
        .foreach(Similarity.rmTree)
      val base = s"/tmp/$prefix${System.nanoTime()}"
      val iso = graft.core.Sessions.isolated(s,
        Map("spark.sql.shuffle.partitions" -> "8"))
      val stream = Streams.idParityStream(iso,
        s"$d/documents.parquet", "doc_id")
      val nPunct = length(
        regexp_replace(col("text"), "[\\p{L}\\p{Nd}\\s]", ""))
      val gate = TextAnalysis.tokenCount(col("text")) >= 10 &&
        nPunct * lit(4) <= length(col("text"))
      val nBatches = Streams.routeAvailableNow(iso, stream, gate,
        "quality_gate", s"$base/ok", s"$base/dlq")
      require(nBatches >= 2,
        s"expected >=2 micro-batches through the router, got $nBatches")
      def agg(dir: String, side: String) = s.read.parquet(dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .select(lit(side).as("side"), col("lang"), col("n_docs"),
          col("n_chars"))
      val out = agg(s"$base/ok", "accepted")
        .unionByName(agg(s"$base/dlq", "dead_letter"))
      val rows = out.collect().toIndexedSeq
        .sortBy(r => (r.getString(0), r.getString(1)))
      Similarity.rmTree(new java.io.File(base))
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), out.schema)
    },
    Some("""WITH t AS (
        SELECT lang, n_chars,
          len(regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ')) AS n_tok,
          length(regexp_replace(text, '[\p{L}\p{Nd}\s]', '', 'g'))
            AS n_punct,
          length(text) AS n_len
        FROM documents)
      SELECT * FROM (
        SELECT 'accepted' AS side, lang, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM t WHERE n_tok >= 10 AND 4 * n_punct <= n_len GROUP BY lang
        UNION ALL
        SELECT 'dead_letter', lang, count(*), CAST(sum(n_chars) AS BIGINT)
        FROM t WHERE NOT (n_tok >= 10 AND 4 * n_punct <= n_len)
        GROUP BY lang)
      ORDER BY side, lang"""))

  /** STREAMING first-seen-wins near-dup dedup
    * ([[graft.streaming.Streams.dedupMinhashAvailableNow]]) — the
    * ONLINE member of the dedup family: documents arrive as a paced
    * file stream (two id-parity epochs), each epoch's docs are
    * checked against a persistent band-signature store (content seen
    * in earlier epochs) and against smaller-id docs in the same
    * epoch, survivors and the epoch's keys land in idempotent
    * batch=<id> dirs. "Seen content" semantics: dropped documents'
    * keys stay in the store, so a near-dup of a dropped doc is also
    * dropped. The oracle replays the exact first-wins rule in the
    * staged arrival order — (doc_id % 2, doc_id) lexicographic — over
    * the same portable md5 band keys as `dedup_minhash`, so a doc
    * surviving that shares a band with ANY earlier-arrived doc breaks
    * the hash. Store hygiene mirrors the other streaming index
    * queries (materialize, then delete the per-run dirs).
    */
  val streamingDedupMinhash = RegisteredQuery(
    "streaming_dedup_minhash",
    (s, d) => {
      import graft.llm.Similarity
      import graft.streaming.Streams
      val prefix = s"graft_dedup_stream_${math.abs(d.hashCode)}_"
      Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(prefix))
        .foreach(Similarity.rmTree)
      val base = s"/tmp/$prefix${System.nanoTime()}"
      val iso = graft.core.Sessions.isolated(s,
        Map("spark.sql.shuffle.partitions" -> "8"))
      val stream = Streams.idParityStream(iso,
        s"$d/documents.parquet", "doc_id")
      val nBatches = Streams.dedupMinhashAvailableNow(iso, stream,
        "doc_id", "text", s"$base/store", s"$base/out")
      require(nBatches >= 2,
        s"expected >=2 micro-batches through the dedup, got $nBatches")
      val out = s.read.parquet(s"$base/out")
        .select(col("doc_id"), col("n_chars"))
      val rows = out.collect().toIndexedSeq
        .sortBy(_.getLong(0))
      Similarity.rmTree(new java.io.File(base))
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), out.schema)
    },
    Some("""WITH t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
            ELSE list_distinct(list_transform(range(1, len(toks) - 1),
              i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        FROM t),
      e AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      h AS (
        SELECT doc_id, i,
          min(substr(md5(CAST(i AS VARCHAR) || '|' || s), 17, 16)) AS m
        FROM e, unnest(generate_series(0, 7)) AS u(i)
        GROUP BY doc_id, i),
      bands AS (
        SELECT doc_id,
          CAST(i // 2 AS VARCHAR) || '|' || string_agg(m, '|' ORDER BY i)
            AS bk
        FROM h GROUP BY doc_id, i // 2),
      dup AS (
        SELECT DISTINCT a.doc_id
        FROM bands a JOIN bands b ON a.bk = b.bk
        WHERE (b.doc_id % 2 < a.doc_id % 2)
          OR (b.doc_id % 2 = a.doc_id % 2 AND b.doc_id < a.doc_id))
      SELECT d.doc_id, d.n_chars
      FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
      WHERE dup.doc_id IS NULL
      ORDER BY d.doc_id"""))

  /** The disk-SERVING path of IVF×PQ — the production ANN lifecycle:
    * the Lloyd builds (IVF centroids + PQ codebooks) and the radii scan
    * are paid ONCE per corpus version (stamp-gated, like
    * `join_bucketed`'s layout investment), written as a
    * cell-partitioned codes parquet plus driver-sized metadata
    * sidecars; every query thereafter reads sidecars + only the probed
    * cells' directories (PartitionFilters, pinned in IvfPqDiskSpec) at
    * m bytes/row. Same exact-cell-bound + ADC-shortlist + exact-rerank
    * math as `sim_topk_ivfpq`, so the brute-force oracle applies on the
    * same recall-1.0-with-margin grounds.
    */
  val simTopkIvfPqDisk = RegisteredQuery(
    "sim_topk_ivfpq_disk",
    (s, d) => {
      import graft.llm.{Pq, Similarity}
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val path = s"/tmp/graft_ivfpq_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/embeddings.parquet")
      stampGate(s"$path.stamp", stamp,
          present = IndexManifest.exists(path)) {
        val model = pqModelFor(s, d, query.length)
        val (cents, radii) = centroidRadiiFor(s, d)
        val index = Pq.ivfPqIndex(emb, "embedding", "vec_id", cents, model)
          .persist()
        Pq.writeIvfPqIndex(index, path, model, cents, radii)
        index.unpersist(blocking = false)
      }
      val idx = Pq.readIvfPqIndex(s, path)
      Pq.topKIvfPq(idx.codes, emb, "embedding", "vec_id", query, idx.model,
          idx.centroids, idx.radii, k = 10,
          nprobe = math.max(2, idx.centroids.length / 4), shortlist = 100)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql()))

  /** INCREMENTAL IVF×PQ index maintenance ([[graft.llm.Pq
    * .appendIvfPqIndex]]) — the last index family to gain the append
    * verb. Codebooks and centroids train on the HISTORY slice only
    * (vec_id % 10 != 0) and freeze into the sidecars; the delta —
    * including the query vector itself (vec_id 0), so a lost append
    * can't score its guaranteed top-1 self-match — is encoded against
    * those frozen artifacts and appended as new files in the same
    * cell= layout at O(delta) cost, with the radii sidecar WIDENED
    * per touched cell (max is associative ⇒ identical to a full
    * recompute, see the module doc). Serve is the unchanged
    * `sim_topk_ivfpq_disk` path over base+delta; base-file
    * immutability is pinned in IvfPqDiskSpec. Exact-cell-bound + ADC
    * shortlist + exact rerank ⇒ the brute oracle applies on the same
    * recall-1.0-with-margin grounds as the disk variant.
    */
  val simTopkIvfPqAppend = RegisteredQuery(
    "sim_topk_ivfpq_append",
    (s, d) => {
      import graft.llm.{Pq, Similarity}
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val path = s"/tmp/graft_ivfpq_app_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/embeddings.parquet")
      stampGate(s"$path.stamp", stamp,
          present = IndexManifest.exists(path)) {
        val hist = emb.filter(col("vec_id") % 10 =!= 0)
        val model = Pq.trainCodebooks(hist, "embedding", "vec_id",
          dim = query.length, m = 16, k = 64, iters = 2)
        val cents = Similarity.kmeansCentroids(hist, "embedding",
          "vec_id", k = Similarity.cellsFor(hist.count()), iters = 2)
        val index = Pq.ivfPqIndex(hist, "embedding", "vec_id", cents,
          model).persist()
        val radii = Similarity.cellRadii(
          index.join(hist.select(col("vec_id").as("id"),
            col("embedding").cast("array<double>").as("vec")), "id"),
          cents)
        Pq.writeIvfPqIndex(index, path, model, cents, radii)
        index.unpersist(blocking = false)
        Pq.appendIvfPqIndex(s, emb.filter(col("vec_id") % 10 === 0),
          "embedding", "vec_id", path)
      }
      val idx = Pq.readIvfPqIndex(s, path)
      Pq.topKIvfPq(idx.codes, emb, "embedding", "vec_id", query, idx.model,
          idx.centroids, idx.radii, k = 10,
          nprobe = math.max(2, idx.centroids.length / 4), shortlist = 100)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql()))

  /** DELETE on the disk IVF×PQ index ([[graft.llm.Pq
    * .deleteFromIvfPqIndex]]) — the LAST index-lifecycle verb, closing
    * removal symmetry across all four families (LSH
    * `sim_topk_ann_delete`, IVF `sim_topk_ivf_delete`, BM25
    * `doc_bm25_delete`, and now IVF×PQ): tombstone ids commit as a new
    * manifest version at O(delta) (code files carried as hard links),
    * [[graft.llm.Pq.readIvfPqIndex]] anti-joins them BEFORE ADC
    * scoring, and radii stay as built — bounds only loosen when
    * members leave, so exact cell pruning remains sound and the brute
    * oracle over the SURVIVING corpus applies on the usual
    * recall-1.0-with-margin grounds. Compaction's physical fold is
    * pinned bit-equal in IvfPqDiskSpec.
    */
  val simTopkIvfPqDelete = RegisteredQuery(
    "sim_topk_ivfpq_delete",
    (s, d) => {
      import graft.llm.{Pq, Similarity}
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val path = s"/tmp/graft_ivfpq_del_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/embeddings.parquet")
      stampGate(s"$path.stamp", stamp,
          present = IndexManifest.exists(path)) {
        val model = pqModelFor(s, d, query.length)
        val (cents, radii) = centroidRadiiFor(s, d)
        val index = Pq.ivfPqIndex(emb, "embedding", "vec_id", cents,
          model).persist()
        Pq.writeIvfPqIndex(index, path, model, cents, radii)
        index.unpersist(blocking = false)
        Pq.deleteFromIvfPqIndex(
          emb.filter(col("vec_id") % 50 === 7), "vec_id", path)
      }
      val idx = Pq.readIvfPqIndex(s, path)
      Pq.topKIvfPq(idx.codes, emb, "embedding", "vec_id", query, idx.model,
          idx.centroids, idx.radii, k = 10,
          nprobe = math.max(2, idx.centroids.length / 4), shortlist = 100)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql(DeleteSurvivorsWhere)))

  /** Batch k-NN JOIN (the retrieval-serving shape: top-k corpus
    * neighbors PER ROW of a query table, not per single vector): 8
    * query vectors broadcast, corpus scanned once, candidates folded
    * into bounded O(k) map-side partials
    * ([[graft.functions.TopKMaxByScore]]) — the shuffle carries
    * q·k·partitions rows, never the scored cross product, and no
    * window sort appears anywhere in the plan (KnnJoinSpec pins both).
    * Exact by construction ⇒ the DuckDB all-pairs row_number oracle
    * must hash-match.
    */
  val simKnnJoin = RegisteredQuery(
    "sim_knn_join",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.llm.Similarity.knnJoinBrute(
          emb.filter(col("vec_id") < 8), emb, "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("id").as("vec_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("score").desc, col("vec_id"))
    },
    Some("""WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 8),
      scored AS (
        SELECT query_id, e.vec_id AS vec_id,
          list_cosine_similarity(e.embedding::DOUBLE[], qv::DOUBLE[])
            AS score
        FROM embeddings e, q),
      ranked AS (
        SELECT query_id, vec_id, score,
          row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn
        FROM scored)
      SELECT query_id, vec_id, round(score, 6) AS score
      FROM ranked WHERE rn <= 5
      ORDER BY query_id, score DESC, vec_id"""))

  /** The SCALE path of `sim_knn_join`: same top-k-per-query-row
    * semantics, but candidates come from multi-table multiprobe LSH
    * buckets instead of a full corpus scan — candidate volume is
    * q·tables·probes·bucketSize, independent of corpus row count.
    * Probe generation runs in-plan (no driver signature computation),
    * so the query side need not be broadcastable. Oracle: the EXACT
    * brute-force answer — hash-green certifies recall 1.0 on this
    * corpus at all three SFs, the same evidence standard as
    * `sim_topk_ann` / `sim_neardup_lsh`.
    */
  val simKnnJoinAnn = RegisteredQuery(
    "sim_knn_join_ann",
    (s, d) => {
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, d)
      val bits = Similarity.bitsFor(emb.count())
      Similarity.knnJoinAnn(
          emb.filter(col("vec_id") < 8), emb, "embedding", "vec_id",
          k = 5, dim = 64, bits = bits, tables = 8, probeHamming = 2)
        .select(col("query_id"), col("id").as("vec_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("score").desc, col("vec_id"))
    },
    Some("""WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 8),
      scored AS (
        SELECT query_id, e.vec_id AS vec_id,
          list_cosine_similarity(e.embedding::DOUBLE[], qv::DOUBLE[])
            AS score
        FROM embeddings e, q),
      ranked AS (
        SELECT query_id, vec_id, score,
          row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn
        FROM scored)
      SELECT query_id, vec_id, round(score, 6) AS score
      FROM ranked WHERE rn <= 5
      ORDER BY query_id, score DESC, vec_id"""))

  /** Batch ANN retrieval from the DISK index ([[graft.llm.Similarity
    * .knnJoinAnnDisk]]): the probe frame carries the (table, grp)
    * PARTITION columns as join keys, so Spark's DYNAMIC PARTITION
    * PRUNING turns the broadcast probe set into a runtime directory
    * filter on the partitioned scan — the engine prunes the index from
    * the join itself, no driver-compiled probe list. The at-scale
    * serving shape for a retrieval batch: bytes read = probed
    * directories only, candidates independent of corpus row count.
    * Same exact top-k oracle as `sim_knn_join_ann` (recall 1.0 at
    * 3 SFs); KnnJoinSpec pins the dynamicpruning PartitionFilter.
    */
  val simKnnJoinAnnDisk = RegisteredQuery(
    "sim_knn_join_ann_disk",
    (s, d) => {
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, d)
      val bits = Similarity.bitsFor(emb.count())
      // derive dim from the data (as sim_topk_ann_disk does) so both
      // users of the SHARED index path agree on the hyperplane family
      // by construction if the fixture's embedding dim ever changes
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val path = ensureLshDiskIndex(s, d, dim, bits)
      Similarity.knnJoinAnnDisk(s, path,
          emb.filter(col("vec_id") < 8), "embedding", "vec_id",
          k = 5, dim = dim, bits = bits, tables = 8, probeHamming = 2,
          groups = 16)
        .select(col("query_id"), col("id").as("vec_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("score").desc, col("vec_id"))
    },
    Some("""WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 8),
      scored AS (
        SELECT query_id, e.vec_id AS vec_id,
          list_cosine_similarity(e.embedding::DOUBLE[], qv::DOUBLE[])
            AS score
        FROM embeddings e, q),
      ranked AS (
        SELECT query_id, vec_id, score,
          row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn
        FROM scored)
      SELECT query_id, vec_id, round(score, 6) AS score
      FROM ranked WHERE rn <= 5
      ORDER BY query_id, score DESC, vec_id"""))

  /** Mixture sampling over documents: per-source target counts (the
    * "40% web, 30% code" domain-mixing primitive), drawn by md5-of-key
    * rank so the pick is a pure function of the data — identical
    * across engines, runs, and cluster sizes. Targets here derive from
    * the source name so the oracle can recompute them.
    */
  val mixtureSample = RegisteredQuery(
    "mixture_sample",
    (s, d) => {
      val targets = (0 until 20).map(i => s"src$i" -> (3 + i % 5)).toMap
      graft.relational.Sampling.mixtureSample(
          Tables.documents(s, d), "source", "doc_id", targets)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    },
    Some("""SELECT source, doc_id FROM (
        SELECT source, doc_id, row_number() OVER (PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents)
      WHERE rn <= 3 + (CAST(substr(source, 4) AS INTEGER) % 5)
      ORDER BY source, doc_id"""))

  /** Adaptive per-source length filter: documents kept iff their token
    * count lies within the [p05, p95] `percentile_disc` bounds of
    * their OWN source — domain-aware outlier trimming. Exact order
    * statistics, so the oracle replays the bounds and the cut with
    * zero float risk.
    */
  val filterAdaptiveLength = RegisteredQuery(
    "filter_adaptive_length",
    (s, d) =>
      graft.llm.TextAnalysis.adaptiveLengthFilter(
          Tables.documents(s, d), "doc_id", "source", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("source"), col("doc_id")),
    Some("""WITH t AS (
        SELECT source, doc_id,
          CAST(len(regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ')) AS INTEGER) AS n_tok
        FROM documents),
      b AS (
        SELECT source,
          percentile_disc(0.05) WITHIN GROUP (ORDER BY n_tok) AS lo,
          percentile_disc(0.95) WITHIN GROUP (ORDER BY n_tok) AS hi
        FROM t GROUP BY source)
      SELECT t.source, t.doc_id, t.n_tok
      FROM t JOIN b ON t.source = b.source
      WHERE t.n_tok >= b.lo AND t.n_tok <= b.hi
      ORDER BY t.source, t.doc_id"""))

  /** Temperature-flattened mixture sampling
    * ([[graft.relational.Sampling.mixtureSampleTemperature]]): source
    * shares ∝ floor(sqrt(count)) — the integerized α=1/2 multilingual
    * up/down-sampling rule — with pure-integer target allocation and
    * md5-rank selection, so the oracle replays allocation AND picks
    * exactly. Output includes the per-source target so the allocation
    * arithmetic itself is hash-checked, not just the row picks.
    */
  val mixtureSampleTemperature = RegisteredQuery(
    "mixture_sample_temperature",
    (s, d) =>
      graft.relational.Sampling.mixtureSampleTemperature(
          Tables.documents(s, d), "source", "doc_id", totalN = 400L)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id")),
    Some("""WITH c AS (SELECT source AS g, count(*) AS c
        FROM documents GROUP BY 1),
      w AS (SELECT g, c, CAST(floor(sqrt(c)) AS BIGINT) AS w FROM c),
      t AS (SELECT g, least(c,
          (400 * w) // (SELECT CAST(sum(w) AS BIGINT) FROM w)) AS tgt
        FROM w),
      r AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents)
      SELECT r.source, r.doc_id FROM r JOIN t ON r.source = t.g
      WHERE r.rn <= t.tgt
      ORDER BY r.source, r.doc_id"""))

  /** Token-budget mixture sampling: per-source token budgets (the unit
    * training actually consumes) rather than document counts. Budgets
    * derive from the source name so the oracle recomputes them; the
    * md5 ranking and running-sum cut are integer/string arithmetic —
    * exact in any engine.
    */
  val mixtureSampleBudget = RegisteredQuery(
    "mixture_sample_budget",
    (s, d) => {
      val budgets = (0 until 20)
        .map(i => s"src$i" -> (150L + 40L * (i % 7))).toMap
      graft.relational.Sampling.mixtureSampleByBudget(
          Tables.documents(s, d)
            .select(col("source"), col("doc_id"),
              graft.llm.TextAnalysis.tokenCount(col("text")).as("n_tok")),
          "source", "doc_id", "n_tok", budgets)
        .select(col("source"), col("doc_id"), col("n_tok"))
        .orderBy(col("source"), col("doc_id"))
    },
    Some("""WITH t AS (
        SELECT source, doc_id,
          CAST(len(regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ')) AS INTEGER) AS n_tok,
          md5(CAST(doc_id AS VARCHAR)) AS rk
        FROM documents),
      c AS (
        SELECT source, doc_id, n_tok,
          coalesce(sum(n_tok) OVER (PARTITION BY source
            ORDER BY rk, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS cum_before
        FROM t)
      SELECT source, doc_id, n_tok FROM c
      WHERE cum_before < 150 + 40 * (CAST(substr(source, 4) AS INTEGER) % 7)
      ORDER BY source, doc_id"""))

  /** Quality-filter cascade: every rule's raw signal, its flag, and
    * the final keep verdict in ONE scan — the filter-and-audit shape
    * (drop-reason accounting) of a C4/Gopher-style cleaning pass. The
    * oracle replays all three signals (whitespace token count, the
    * composite quality score, bigram repetition) op-for-op and re-derives
    * every flag.
    */
  val qualityCascade = RegisteredQuery(
    "quality_cascade",
    (s, d) =>
      graft.llm.TextAnalysis.qualityCascade(
          Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id")),
    Some("""WITH t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks,
          CAST(length(regexp_replace(text, '[\p{L}\p{Nd}\s]', '', 'g'))
            AS DOUBLE) / greatest(length(text), 1) AS punct_ratio
        FROM documents),
      c AS (
        SELECT doc_id, toks,
          least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS len_score,
          1.0 - least(punct_ratio * 4.0, 1.0) AS punct_score,
          CAST(len(list_filter(toks, x -> list_contains(['the','and','of',
            'to','in','is','that','it','was','for','with','as','his','on',
            'be','at','by','had','not','a','an','are','but','from','or',
            'this','which','you','we','they','have','has','were','been',
            'their','its','can','will'], x))) AS DOUBLE)
            / greatest(len(toks), 1) AS swr,
          CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
            / greatest(len(toks), 1) AS mwl,
          CASE WHEN len(toks) < 2 THEN []
            ELSE list_transform(range(1, len(toks)),
              i -> toks[i] || ' ' || toks[i + 1]) END AS bi
        FROM t),
      f AS (
        SELECT doc_id,
          CAST(len(toks) AS INTEGER) AS n_tokens,
          round(len_score * 0.3 + punct_score * 0.2
            + (1.0 - least(abs(swr - 0.4) * 2.5, 1.0)) * 0.3
            + (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
              * 0.2, 6) AS quality,
          CASE WHEN len(bi) < 1 THEN 0.0 ELSE
            round(1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) /
              CAST(len(bi) AS DOUBLE), 4) END AS dup_bigram_frac
        FROM c)
      SELECT doc_id, n_tokens, quality, dup_bigram_frac,
        n_tokens < 20 AS too_short,
        quality < 0.5 AS low_quality,
        dup_bigram_frac > 0.1 AS repetitive,
        NOT (n_tokens < 20 OR quality < 0.5 OR dup_bigram_frac > 0.1)
          AS keep
      FROM f ORDER BY doc_id"""))

  /** Embedding near-dup pairs, exact baseline: broadcast cross join at
    * fixture scale, oracle-checked against DuckDB's all-pairs cosine.
    * The scale path is `sim_neardup_lsh` below — same logical result
    * restricted to LSH buckets.
    */
  val simNeardupExact = RegisteredQuery(
    "sim_neardup_exact",
    (s, d) => {
      import graft.functions.GraftFunctions
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val a = emb.select(col("vec_id").as("id_a"), col("v").as("va"))
      val b = emb.select(col("vec_id").as("id_b"), col("v").as("vb"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          GraftFunctions.cosine(col("va"), col("vb")).as("score"))
        .filter(col("score") >= 0.5)
        .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      round(list_cosine_similarity(a.embedding::DOUBLE[],
        b.embedding::DOUBLE[]), 6) AS score
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id
        AND list_cosine_similarity(a.embedding::DOUBLE[],
          b.embedding::DOUBLE[]) >= 0.5
      ORDER BY id_a, id_b"""))

  /** Embedding near-dup pairs at scale: same threshold, candidates
    * restricted to QUERY-DIRECTED multiprobe buckets (Lv et al. 2007)
    * across 8 independent bitsFor-scaled tables. Bucket-exact joins
    * alone are not enough: a cosine-0.5 pair agrees per bit with
    * p=2/3, so at 5 bits a single table catches it with ~0.13 and
    * even 8 tables miss ~33% of threshold pairs — which the sf0.1
    * fixture actually exposed. Instead of exploding the full
    * Hamming-≤2 neighborhood (16 rows at b=5, C(b,2)-growth at the
    * b≈20 a 100 TB corpus needs), each row probes only flips of its 3
    * lowest-|margin| bits — 7 rows at ANY b — and the pair join is
    * symmetric (either endpoint's probe set may cover the differing
    * bits): per-table catch ~0.69, 8-table miss ~8·10⁻⁵ per threshold
    * pair, at 2.3× (16/7) less probe shuffle than the full
    * neighborhood. No all-pairs join; probe cost is slim 16 B rows.
    *
    * Oracle: the exact all-pairs answer (same SQL as
    * `sim_neardup_exact`) — hash-green proves multiprobe recall is
    * 1.0 on this corpus (at sf0.001/0.01/0.1) in addition to
    * score arithmetic parity; a recall miss surfaces as a missing
    * row. General-case recall bounds are probed in SimilaritySpec.
    */
  val simNeardupLsh = RegisteredQuery(
    "sim_neardup_lsh",
    (s, d) => {
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, d)
      val bits = Similarity.bitsFor(emb.count())
      Similarity.similarityJoinMultiProbe(emb, "embedding", "vec_id",
          threshold = 0.5, dim = 64, bits = bits, tables = 8,
          flipBits = 3, probeHamming = 2)
        .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      round(list_cosine_similarity(a.embedding::DOUBLE[],
        b.embedding::DOUBLE[]), 6) AS score
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id
        AND list_cosine_similarity(a.embedding::DOUBLE[],
          b.embedding::DOUBLE[]) >= 0.5
      ORDER BY id_a, id_b"""))

  /** Multimodal plumbing: documents text → binary media struct →
    * decode → typed metadata. Text bytes are NOT a video container, so
    * the CHECKED contract is the plumbing's null-safety: the byte
    * count must survive the binary cast and struct round-trip exactly
    * (oracle = DuckDB `strlen`, BYTES not chars), and the real
    * container parser must yield NULL dims for unparseable bytes
    * instead of crashing the scan — the one-bad-blob-in-100-TB
    * property. (Real decode contracts: `multimodal_decode` for images,
    * `multimodal_audio` for audio, `multimodal_video` for video.)
    */
  val multimodalMeta = RegisteredQuery(
    "multimodal_meta",
    (s, d) => {
      import graft.llm.Multimodal
      val media = Tables.documents(s, d).select(
        col("doc_id"),
        Multimodal.asMedia(col("text"), "video/fake").as("media"))
      Multimodal.withDecodedMeta(media, "media")
        .select(col("doc_id"), col("decoded.n_bytes").as("n_bytes"),
          (col("decoded.width").isNull && col("decoded.height").isNull)
            .as("dims_null"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, strlen(text) AS n_bytes, TRUE AS dims_null
      FROM documents ORDER BY doc_id"""))

  /** REAL image decode round-trip, oracle-checked: per-doc PNG bytes
    * whose dimensions are a deterministic function of doc_id, pushed
    * through `javax.imageio` header decode. The oracle predicts the
    * dimensions the codec must recover — a wrong decoder (or a stub)
    * cannot pass this.
    */
  val multimodalDecode = RegisteredQuery(
    "multimodal_decode",
    (s, d) => {
      import graft.llm.Multimodal
      val pngFor = udf((id: Long) => {
        val w = 16 + (id % 32).toInt
        val h = 12 + (id % 24).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        img.setRGB(0, 0, (id * 2654435761L).toInt)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      })
      val media = Tables.documents(s, d).select(
        col("doc_id"),
        Multimodal.asMedia(pngFor(col("doc_id")), "image/png").as("media"))
      Multimodal.withDecodedMeta(media, "media")
        .select(col("doc_id"),
          col("decoded.width").as("width"),
          col("decoded.height").as("height"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      CAST(16 + doc_id % 32 AS INTEGER) AS width,
      CAST(12 + doc_id % 24 AS INTEGER) AS height
      FROM documents ORDER BY doc_id"""))

  /** REAL audio metadata decode, oracle-checked: per-doc PCM WAV bytes
    * synthesized in-flight (16-bit mono 8 kHz, frame count a
    * deterministic function of doc_id) pushed through the actual
    * `javax.sound.sampled` container parser. The oracle predicts the
    * sample rate, channel count, and exact duration the parser must
    * recover — a stub cannot pass. Frame count is a multiple of 8 so
    * duration_ms = frames/8 is exact integer arithmetic on both sides.
    */
  val multimodalAudio = RegisteredQuery(
    "multimodal_audio",
    (s, d) => {
      import graft.llm.Multimodal
      val wavFor = udf((id: Long) => {
        val frames = 8 * (100 + (id % 200).toInt)
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val pcm = new Array[Byte](frames * 2)
        var i = 0
        while (i < frames) { // deterministic sawtooth payload
          val v = ((id + i) % 256 - 128).toShort
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      })
      val media = Tables.documents(s, d).select(
        col("doc_id"),
        graft.llm.Multimodal.asMedia(wavFor(col("doc_id")), "audio/wav")
          .as("media"))
      Multimodal.withDecodedMeta(media, "media")
        .withColumn("a", Multimodal.decodeAudio(col("media.content")))
        .select(col("doc_id"),
          col("a._1").as("sample_rate"),
          col("a._2").as("channels"),
          col("decoded.duration_ms").as("duration_ms"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
        CAST(8000 AS INTEGER) AS sample_rate,
        CAST(1 AS INTEGER) AS channels,
        CAST(100 + doc_id % 200 AS INTEGER) AS duration_ms
      FROM documents ORDER BY doc_id"""))

  /** REAL video metadata decode, oracle-checked: per-doc MP4 (even
    * ids) or WebM (odd ids) containers synthesized in-flight with
    * spec-layout writers ([[graft.llm.VideoMeta.buildMp4]]/
    * [[graft.llm.VideoMeta.buildWebm]]), pushed through the actual
    * box/EBML walk. The oracle predicts the width, height, duration,
    * and codec id the parser must recover from the container
    * structures — covering both families, 16.16 fixed-point dims,
    * mvhd timescale arithmetic, and EBML float duration. Durations
    * stay < 2^24 so the WebM float round-trip is exact.
    */
  val multimodalVideo = RegisteredQuery(
    "multimodal_video",
    (s, d) => {
      import graft.llm.{Multimodal, VideoMeta}
      val vidFor = udf((id: Long) => {
        val w = 16 * (20 + (id % 60).toInt)
        val h = 16 * (12 + (id % 34).toInt)
        val dur = 1000L + id % 9000
        if (id % 2 == 0) VideoMeta.buildMp4(w, h, dur, codec = "avc1")
        else VideoMeta.buildWebm(w, h, dur, codec = "V_VP9")
      })
      val media = Tables.documents(s, d).select(
        col("doc_id"),
        Multimodal.asMedia(vidFor(col("doc_id")), "video/mp4").as("media"))
      Multimodal.withDecodedMeta(media, "media")
        .withColumn("v", Multimodal.decodeVideo(col("media.content")))
        .select(col("doc_id"),
          col("decoded.width").as("width"),
          col("decoded.height").as("height"),
          col("decoded.duration_ms").as("duration_ms"),
          col("v._4").as("codec"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
        CAST(16 * (20 + doc_id % 60) AS INTEGER) AS width,
        CAST(16 * (12 + doc_id % 34) AS INTEGER) AS height,
        CAST(1000 + doc_id % 9000 AS INTEGER) AS duration_ms,
        CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'V_VP9' END AS codec
      FROM documents ORDER BY doc_id"""))

  /** REAL frame-sample extraction, oracle-checked: per-doc MP4s carry
    * 6 + id%7 coded samples of 24 + (id+k)%16 bytes each; the demux
    * ([[graft.llm.Multimodal.frameSampleMp4]]) must resolve the
    * stsz/stsc/stco tables and cut up to 4 evenly-spaced samples back
    * out. The oracle replays the even-spacing pick (`n*i//k` integer
    * floor) and the per-sample sizes — so the count AND the exact
    * total byte mass of extracted frames hash-match. A wrong offset
    * or a misread table cannot pass (`total_bytes` would shift).
    */
  val multimodalFrames = RegisteredQuery(
    "multimodal_frames",
    (s, d) => {
      import graft.llm.{Multimodal, VideoMeta}
      val vidFor = udf((id: Long) => {
        val n = 6 + (id % 7).toInt
        val samples = (0 until n).map(k =>
          Array.fill[Byte](24 + ((id + k) % 16).toInt)(
            ((id + 7 * k) % 127).toByte))
        VideoMeta.buildMp4(320, 240, 1000L, samples = samples)
      })
      // spread the slim id column: MP4 build + stsz/stsc/stco demux is
      // an expensive per-row kernel on a one-task single-file scan
      // (guide §2.5; the multimodal_features rationale)
      graft.core.Spread.bySession(
          Tables.documents(s, d).select(col("doc_id")), col("doc_id"))
        .select(col("doc_id"),
          explode(Multimodal.frameSampleMp4(4)(vidFor(col("doc_id"))))
            .as("frame"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_frames"),
          sum(length(col("frame._2"))).cast("long").as("total_bytes"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH p AS (
        SELECT doc_id, 6 + doc_id % 7 AS n,
          least(4, 6 + doc_id % 7) AS k
        FROM documents),
      sel AS (
        SELECT doc_id, (n * i) // k AS s
        FROM p, unnest(range(0, CAST(k AS BIGINT))) AS t(i)),
      sz AS (
        SELECT doc_id, 24 + (doc_id + s) % 16 AS bytes FROM sel)
      SELECT doc_id, CAST(count(*) AS INTEGER) AS n_frames,
        CAST(sum(bytes) AS BIGINT) AS total_bytes
      FROM sz GROUP BY doc_id ORDER BY doc_id"""))

  /** REAL image resize round-trip, oracle-checked: per-doc PNGs pushed
    * through decode → bilinear rescale → PNG re-encode
    * ([[graft.llm.Multimodal.resizeImage]]). The oracle replicates the
    * scaling arithmetic exactly (same IEEE op order; Java's
    * floor(x+0.5) and DuckDB's half-away-from-zero agree for positive
    * values) — a stubbed resize cannot pass.
    */
  val multimodalResize = RegisteredQuery(
    "multimodal_resize",
    (s, d) => {
      import graft.llm.Multimodal
      val pngFor = udf((id: Long) => {
        val w = 16 + (id % 32).toInt
        val h = 12 + (id % 24).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        img.setRGB(0, 0, (id * 2654435761L).toInt)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      })
      Tables.documents(s, d)
        .select(col("doc_id"),
          Multimodal.resizeImage(10)(pngFor(col("doc_id"))).as("r"))
        .select(col("doc_id"),
          col("r._1").as("width"), col("r._2").as("height"),
          (length(col("r._3")) > 0).as("has_bytes"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
        SELECT doc_id,
          CAST(16 + doc_id % 32 AS DOUBLE) AS w0,
          CAST(12 + doc_id % 24 AS DOUBLE) AS h0
        FROM documents)
      SELECT doc_id,
        CAST(greatest(1, round(w0 * least(1.0, 10.0 / greatest(w0, h0))))
          AS INTEGER) AS width,
        CAST(greatest(1, round(h0 * least(1.0, 10.0 / greatest(w0, h0))))
          AS INTEGER) AS height,
        TRUE AS has_bytes
      FROM t ORDER BY doc_id"""))

  /** REAL image FEATURE extraction, oracle-checked: per-doc PNGs with
    * a deterministic per-pixel color function are pushed through full
    * raster decode into a 3×8-bin RGB histogram
    * ([[graft.llm.Multimodal.imageHistogram]]). The oracle regenerates
    * every pixel's channel values in SQL and re-bins them — all
    * integer arithmetic over a lossless PNG round-trip, so every
    * (channel, bin) count must hash-match exactly. This is the
    * vision-encoder slot of the multimodal pipeline computing a real
    * function of the pixels (the former hash-seeded stub is gone).
    */
  val multimodalFeatures = RegisteredQuery(
    "multimodal_features",
    (s, d) => {
      import graft.llm.Multimodal
      val pngFor = udf((id: Long) => {
        val w = 16 + (id % 16).toInt
        val h = 12 + (id % 12).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val r = ((id * 3 + x * 7 + y * 11) % 256).toInt
            val g = ((id * 5 + x * 13 + y * 3) % 256).toInt
            val b = ((id * 7 + x + y * 17) % 256).toInt
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      })
      // spread the slim id column first: the PNG encode→raster
      // decode→histogram kernel is milliseconds PER ROW, and the
      // single-file documents scan runs as ONE task no matter the core
      // count (guide §2.5 input skew — the minhash-kernel Spread case);
      // gated, so a many-split corpus pays no extra shuffle
      graft.core.Spread.bySession(
          Tables.documents(s, d).select(col("doc_id")), col("doc_id"))
        .select(col("doc_id"),
          posexplode(Multimodal.imageHistogram(pngFor(col("doc_id")))))
        .select(col("doc_id"),
          (col("pos") / 8).cast("int").as("channel"),
          (col("pos") % 8).cast("int").as("bin"),
          col("col").as("n"))
        .filter(col("n") > 0)
        .orderBy(col("doc_id"), col("channel"), col("bin"))
    },
    Some("""WITH px AS (
        SELECT doc_id, x, y
        FROM documents,
          unnest(range(0, 16 + doc_id % 16)) AS tx(x),
          unnest(range(0, 12 + doc_id % 12)) AS ty(y)),
      ch AS (
        SELECT doc_id, 0 AS channel,
          ((doc_id * 3 + x * 7 + y * 11) % 256) // 32 AS bin FROM px
        UNION ALL
        SELECT doc_id, 1,
          ((doc_id * 5 + x * 13 + y * 3) % 256) // 32 FROM px
        UNION ALL
        SELECT doc_id, 2,
          ((doc_id * 7 + x + y * 17) % 256) // 32 FROM px)
      SELECT doc_id, CAST(channel AS INTEGER) AS channel,
        CAST(bin AS INTEGER) AS bin, CAST(count(*) AS INTEGER) AS n
      FROM ch GROUP BY doc_id, channel, bin
      ORDER BY doc_id, channel, bin"""))

  /** REAL audio FEATURE extraction, oracle-checked: the same
    * deterministic sawtooth WAVs as `multimodal_audio`, decoded by the
    * actual `javax.sound.sampled` parser into 16-bit samples and
    * folded into 4 equal bands of (sum of squares, zero crossings)
    * ([[graft.llm.Multimodal.audioBands]]). The oracle regenerates the
    * PCM samples in SQL and replays band assignment, energy, and
    * crossing detection — exact integers end to end (frame counts are
    * multiples of 8, so quarter-band boundaries are exact).
    */
  val multimodalAudioFeatures = RegisteredQuery(
    "multimodal_audio_features",
    (s, d) => {
      import graft.llm.Multimodal
      val wavFor = udf((id: Long) => {
        val frames = 8 * (100 + (id % 200).toInt)
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val pcm = new Array[Byte](frames * 2)
        var i = 0
        while (i < frames) { // deterministic sawtooth payload
          val v = ((id + i) % 256 - 128).toShort
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      })
      // NOT spread (cf. multimodal_features): the WAV synth + band
      // kernel was measured flat-to-worse under the Spread wrap — the
      // added exchange barrier dominates this lighter kernel
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(Multimodal.audioBands(4)(wavFor(col("doc_id")))).as("b"))
        .select(col("doc_id"),
          col("b._1").as("band"),
          col("b._2").as("sum_sq"),
          col("b._3").as("zero_crossings"))
        .orderBy(col("doc_id"), col("band"))
    },
    Some("""WITH p AS (
        SELECT doc_id, 8 * (100 + doc_id % 200) AS n FROM documents),
      s AS (
        SELECT doc_id, i // (n // 4) AS band,
          (doc_id + i) % 256 - 128 AS v,
          CASE WHEN i % (n // 4) > 0 AND
            (((doc_id + i - 1) % 256 - 128 < 0)
              <> ((doc_id + i) % 256 - 128 < 0))
            THEN 1 ELSE 0 END AS zc
        FROM p, unnest(range(0, CAST(n AS BIGINT))) AS t(i))
      SELECT doc_id, CAST(band AS INTEGER) AS band,
        CAST(sum(v * v) AS BIGINT) AS sum_sq,
        CAST(sum(zc) AS INTEGER) AS zero_crossings
      FROM s GROUP BY doc_id, band ORDER BY doc_id, band"""))

  // ----------------------------------------------- TPC-H completion set
  // The fixture is TPC-H-lite: no partsupp table and no
  // commitdate/receiptdate/shipmode/comment/phone columns, so Q2, Q9,
  // Q11, Q16, Q20 are not expressible and Q4/Q12/Q13/Q21/Q22 run as
  // "core" adaptations on the available columns (documented per query,
  // same approach as q7/q10 above). Together with q1/q3/q5/q6/q7/q10/
  // q14/q17/q18 this exhausts the expressible TPC-H surface.

  /** TPC-H Q4 core (order-priority checking): EXISTS semi-join — count
    * orders per priority with at least one "late" lineitem. The fixture
    * has no commit/receipt dates, so late = shipped more than 60 days
    * after the order date. Plans as a LeftSemi hash join: the lineitem
    * side carries only (orderkey, shipdate) into the shuffle.
    */
  val q4OrderPriority = RegisteredQuery(
    "q4_order_priority",
    (s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      o.join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= DATE '1996-07-01'
        AND o_orderdate < DATE '1996-10-01'
        AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** TPC-H Q8 (national market share): a nation's share of PROMO-part
    * revenue among ASIA customers by year — the deepest join tree in
    * the suite (6 tables + nation twice). Dimension sides broadcast;
    * the conditional-sum / sum ratio aggregates in one pass.
    */
  val q8MarketShare = RegisteredQuery(
    "q8_market_share",
    (s, d) => {
      val nSupp = Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val nCust = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nk"))
      val volume = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.part(s, d).filter(col("p_type") === "PROMO")
        .join(Tables.lineitem(s, d), col("p_partkey") === col("l_partkey"))
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(nCust), col("c_nationkey") === col("c_nk"))
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(nSupp), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          moneySumRaw(when(col("supp_nation") === "NATION_2", volume)
              .otherwise(lit(0.0))) /
            moneySumRaw(volume), 6)
          .as("mkt_share"))
        .orderBy(col("o_year"))
    },
    Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        round(CAST(sum(CAST(round(CASE WHEN supp_nation = 'NATION_2'
                       THEN volume ELSE 0 END * 10000) AS BIGINT)) AS DOUBLE)
          / CAST(sum(CAST(round(volume * 10000) AS BIGINT)) AS DOUBLE), 6)
          AS mkt_share
      FROM (SELECT o_orderdate, l_extendedprice * (1 - l_discount) AS volume,
              n2.n_name AS supp_nation
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA' AND p_type = 'PROMO'
              AND o_orderdate >= DATE '1995-01-01'
              AND o_orderdate < DATE '1997-01-01')
      GROUP BY 1 ORDER BY 1"""))

  /** TPC-H Q9 core (product-type profit): profit by supplier nation
    * and year over name-filtered parts. No partsupp in the fixture, so
    * supply cost is proxied at 10% of retail price — the plan shape
    * (LIKE filter pushed to the part scan, two broadcast dims, fact
    * joins on their keys, two-level grouping) is the faithful part.
    */
  val q9ProductProfit = RegisteredQuery(
    "q9_product_profit",
    (s, d) => {
      val amount = col("l_extendedprice") * (lit(1) - col("l_discount")) -
        col("l_quantity") * col("p_retailprice") * lit(0.1)
      Tables.part(s, d).filter(col("p_name").contains("red"))
        .join(Tables.lineitem(s, d), col("p_partkey") === col("l_partkey"))
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(moneySum(amount).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
    Some("""SELECT n_name AS nation,
        CAST(year(o_orderdate) AS INTEGER) AS o_year,
        round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
          - l_quantity * p_retailprice * 0.1) * 10000) AS BIGINT))
          AS DOUBLE) / 10000.0, 2) AS sum_profit
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON o_orderkey = l_orderkey
      WHERE p_name LIKE '%red%'
      GROUP BY 1, 2 ORDER BY nation, o_year DESC"""))

  /** Distributed total order (global sort): `orderBy` materializes via
    * range partitioning — Spark samples the sort key to compute
    * balanced range bounds, each partition sorts locally, and
    * partition i's rows all precede partition i+1's. The one
    * total-order shape that scales (a single-reducer sort does not);
    * tie-broken on the key so output is deterministic.
    */
  val globalSort = RegisteredQuery(
    "global_sort",
    (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")),
    Some("""SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey"""))

  /** TPC-H Q12 core (late-shipment priority split): lineitems shipped
    * >90 days after their order, split per linestatus into critical
    * (URGENT/HIGH) vs other order priorities. No shipmode/receiptdate
    * in the fixture; shipdate lag stands in for the receipt lag.
    * `count(CASE …)` on both sides — DuckDB's sum(int) widens to
    * HUGEINT, which the comparator can't canonicalize, count stays
    * BIGINT.
    */
  val q12LateLines = RegisteredQuery(
    "q12_late_lines",
    (s, d) => {
      val crit = col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH"
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_linestatus"))
        .agg(
          count(when(crit, lit(1))).as("high_line_count"),
          count(when(!crit, lit(1))).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },
    Some("""SELECT l_linestatus,
        count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 1 END) AS high_line_count,
        count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                   THEN 1 END) AS low_line_count
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        AND l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1997-01-01'
      GROUP BY l_linestatus ORDER BY l_linestatus"""))

  /** TPC-H Q13 (customer order-count distribution): LEFT OUTER join so
    * zero-order customers survive into the c_count=0 bucket, then a
    * second aggregation over the counts — the filter must live in the
    * JOIN condition, not WHERE (WHERE would drop the zero-order rows
    * the query exists to count). Comment filter → orderstatus proxy.
    */
  val q13CustomerDistribution = RegisteredQuery(
    "q13_customer_distribution",
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") =!= "F"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc),
    Some("""SELECT c_count, count(*) AS custdist
      FROM (SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderstatus <> 'F'
            GROUP BY c_custkey)
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""))

  /** TPC-H Q15 (top supplier): quarterly revenue per supplier, then the
    * supplier(s) achieving the maximum — the scalar-subquery-on-an-
    * aggregate pattern. The max joins back as a broadcast single row
    * instead of a driver round-trip, so the plan is one shuffle for
    * the revenue aggregate plus two broadcasts.
    */
  val q15TopSupplier = RegisteredQuery(
    "q15_top_supplier",
    (s, d) => {
      // EQUALITY ON A FLOAT AGGREGATE IS A TRAP: `rev` is consumed
      // twice (per-supplier join + corpus max), and a double SUM is
      // order-dependent — at sf1 the two evaluations' partial-agg
      // orders diverged in the last ulp and the equality matched ZERO
      // rows (DuckDB inlining the CTE twice hit the identical bug).
      // The revenue therefore stays a SCALED EXACT INTEGER
      // (the moneySum quantization, decimal so it cannot wrap at any
      // SF) until after the max-equality; only the displayed column
      // divides back to dollars.
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(round(
            col("l_extendedprice") * (lit(1) - col("l_discount"))
              * lit(10000.0), 0).cast("decimal(38,0)"))
          .as("rev_scaled"))
      Tables.supplier(s, d)
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(rev.agg(max(col("rev_scaled")).as("max_rev"))),
          col("rev_scaled") === col("max_rev"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("rev_scaled").cast("double") / 10000.0, 2)
            .as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    Some("""WITH rev AS (
        SELECT l_suppkey,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                 AS BIGINT)) AS rev_scaled
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name,
        round(CAST(rev_scaled AS DOUBLE) / 10000.0, 2) AS total_revenue
      FROM supplier JOIN rev ON s_suppkey = l_suppkey
      WHERE rev_scaled = (SELECT max(rev_scaled) FROM rev)
      ORDER BY s_suppkey"""))

  /** TPC-H Q19 core (discounted revenue, disjunctive predicates): three
    * brand/size/quantity disjuncts over a lineitem-part join. The join
    * key predicate is conjunctive so the equi-join stays hash-planned;
    * the disjunction is a post-join filter Catalyst can't split — the
    * point of the query is that it still runs as ONE scan each side.
    */
  val q19DiscountedRevenue = RegisteredQuery(
    "q19_discounted_revenue",
    (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#15" && col("p_size").between(10, 30) &&
            col("l_quantity").between(5, 30)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(20, 50) &&
            col("l_quantity").between(10, 40)))
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue")),
    Some("""SELECT round(CAST(sum(CAST(round(l_extendedprice *
        (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 2)
        AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 20)
         OR (p_brand = 'Brand#15' AND p_size BETWEEN 10 AND 30
             AND l_quantity BETWEEN 5 AND 30)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 20 AND 50
             AND l_quantity BETWEEN 10 AND 40)"""))

  /** TPC-H Q21 core (suppliers who kept orders waiting): in finished
    * multi-supplier orders, the supplier whose lineitem is the UNIQUE
    * latest shipment held everyone up. The fixture lacks
    * commit/receipt dates, so lateness is the order's max shipdate.
    * Spark has no DISTINCT window aggregate — `collect_set(…).over`
    * + size replaces DuckDB's count(DISTINCT …) OVER; both windows
    * share one partitioning so it's a single shuffle.
    */
  val q21WaitingSupplier = RegisteredQuery(
    "q21_waiting_supplier",
    (s, d) => {
      val w = Window.partitionBy(col("l_orderkey"))
      val lines = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .withColumn("max_ship", max(col("l_shipdate")).over(w))
        .withColumn("n_supp", size(collect_set(col("l_suppkey")).over(w)))
        .withColumn("n_supp_max", size(collect_set(
          when(col("l_shipdate") === col("max_ship"), col("l_suppkey")))
          .over(w)))
      lines
        .filter(col("l_shipdate") === col("max_ship") &&
          col("n_supp") > 1 && col("n_supp_max") === 1)
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
    Some("""WITH l AS (
        SELECT l_orderkey, l_suppkey, l_shipdate,
               max(l_shipdate) OVER (PARTITION BY l_orderkey) AS max_ship,
               count(DISTINCT l_suppkey) OVER (PARTITION BY l_orderkey)
                 AS n_supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'),
      m AS (
        SELECT *, count(DISTINCT CASE WHEN l_shipdate = max_ship
                                      THEN l_suppkey END)
                    OVER (PARTITION BY l_orderkey) AS n_supp_max
        FROM l)
      SELECT s_name, count(*) AS numwait
      FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM m
            WHERE l_shipdate = max_ship AND n_supp > 1 AND n_supp_max = 1)
      JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"""))

  /** TPC-H Q22 core (global sales opportunity): above-average-balance
    * customers with no orders at all, grouped by a 7-bucket key proxy
    * (the fixture has no phone column for country codes). The
    * positive-balance average collapses to one driver scalar (a
    * deliberate driver-side fetch of ONE aggregate value — the
    * documented exception to no-collect), then an anti join finds
    * customers with no RECENT orders (no orders at all matches nobody
    * in this fixture — every customer ordered at least once, so the
    * faithful form would be a vacuous 0-row query).
    */
  val q22GlobalSales = RegisteredQuery(
    "q22_global_sales",
    (s, d) => {
      val avgBal = Tables.customer(s, d)
        .filter(col("c_acctbal") > 0.0)
        .agg(avg(col("c_acctbal"))).head().getDouble(0)
      Tables.customer(s, d)
        .filter(col("c_acctbal") > lit(avgBal))
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy((col("c_custkey") % 7).as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal")), 2).as("totacctbal"))
        .orderBy(col("cntrycode"))
    },
    Some("""SELECT c_custkey % 7 AS cntrycode, count(*) AS numcust,
        round(sum(c_acctbal), 2) AS totacctbal
      FROM customer
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                         WHERE c_acctbal > 0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderdate >= DATE '1999-01-01')
      GROUP BY 1 ORDER BY 1"""))

  /** Exact rolling median over a moving 5-row event frame — an
    * operator Spark has no native window function for (percentile
    * functions don't run over frames), composed as
    * sort_array(collect_list) + middle-element selection. Bounded
    * frame ⇒ bounded per-row state, so the compose stays safe at
    * scale; interpolation (mean of the two middles on even frames)
    * matches DuckDB's `median` exactly since both average the SAME two
    * selected values. Ordering is (ts, event_id) — unique — so frames
    * are deterministic.
    */
  val windowRollingMedian = RegisteredQuery(
    "window_rolling_median",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
      val arr = sort_array(collect_list(col("value")).over(w))
      val n = size(arr)
      // Column `/` is double division — floor+cast for the 1-based
      // middle indices (equal on odd frames, adjacent on even ones)
      val mid = element_at(arr, (floor(n / lit(2)) + 1).cast("int"))
      val midLow = element_at(arr, floor((n + lit(1)) / lit(2)).cast("int"))
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          ((mid + midLow) / 2.0).as("rolling_median"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id,
        median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS rolling_median
      FROM events ORDER BY event_id"""))

  /** SCD2 history build (the warehouse slowly-changing-dimension
    * pattern): per customer, collapse the order stream into validity
    * intervals of the tracked attribute — keep only change points
    * (value ≠ previous value), then close each interval with the next
    * change's start (null = current). Two window passes over ONE
    * (custkey)-keyed shuffle; no self-join.
    */
  val scd2History = RegisteredQuery(
    "scd2_history",
    (s, d) => {
      val byTime = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val changes = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .withColumn("prev", lag(col("o_orderpriority"), 1).over(byTime))
        .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
      changes
        .withColumn("valid_to",
          lead(col("o_orderdate"), 1).over(byTime))
        .select(col("o_custkey"), col("o_orderpriority"),
          col("o_orderdate").as("valid_from"), col("valid_to"))
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderpriority"))
    },
    Some("""WITH marked AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
          lag(o_orderpriority) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders),
      changes AS (
        SELECT * FROM marked
        WHERE prev IS NULL OR prev <> o_orderpriority)
      SELECT o_custkey, o_orderpriority, o_orderdate AS valid_from,
        lead(o_orderdate) OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate, o_orderkey) AS valid_to
      FROM changes
      ORDER BY o_custkey, valid_from, o_orderpriority"""))

  /** Map-typed column surface: per-order line→quantity maps built with
    * `map_from_entries` (sorted entries ⇒ deterministic map order),
    * interrogated with `map_keys`/`map_filter`/`map_values` and a HOF
    * `aggregate` fold. The oracle computes the same figures from the
    * flat rows — proving the map round-trip loses nothing. Key lists
    * are emitted comma-joined: the driver's comparator sorts rows with
    * pandas and ARRAY cells (unhashable Python lists) crash it.
    */
  val mapFunctions = RegisteredQuery(
    "map_functions",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 1000)
        // line numbers repeat within an order in this fixture — map
        // keys must be unique, so pre-aggregate to (order, line)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(sum(col("l_quantity")).as("qty"))
        .groupBy(col("l_orderkey"))
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("l_linenumber"), col("qty"))))).as("m"))
        .select(col("l_orderkey"),
          size(col("m")).as("n_lines"),
          array_join(transform(sort_array(map_keys(col("m"))),
            _.cast("string")), ",").as("line_nums"),
          round(aggregate(
            map_values(map_filter(col("m"), (_, v) => v >= 25.0)),
            lit(0.0), (acc, x) => acc + x), 2).as("big_qty_sum"))
        .orderBy(col("l_orderkey")),
    Some("""WITH lines AS (
        SELECT l_orderkey, l_linenumber, sum(l_quantity) AS qty
        FROM lineitem WHERE l_orderkey <= 1000
        GROUP BY l_orderkey, l_linenumber)
      SELECT l_orderkey, CAST(count(*) AS INTEGER) AS n_lines,
        array_to_string(list_sort(list(l_linenumber)), ',') AS line_nums,
        round(coalesce(sum(qty) FILTER (WHERE qty >= 25.0), 0.0), 2)
          AS big_qty_sum
      FROM lines GROUP BY l_orderkey ORDER BY l_orderkey"""))

  /** The scale-path mixture sample (hash-threshold, no per-group
    * sort): even-numbered sources keep 25%, odd 10%. The oracle
    * replays the SAME selection in SQL — a fixed-width lowercase hex
    * prefix compares lexicographically exactly as the 60-bit value
    * compares numerically, so both engines pick identical rows.
    */
  val mixtureSampleApproxQ = {
    def hexCutoff(f: Double): String =
      f"${(f * math.pow(2, 60)).toLong}%015x"
    RegisteredQuery(
      "mixture_sample_approx",
      (s, d) => {
        val fractions = (0 until 20)
          .map(i => s"src$i" -> (if (i % 2 == 0) 0.25 else 0.10)).toMap
        graft.relational.Sampling.mixtureSampleApprox(
            Tables.documents(s, d), "source", "doc_id", fractions)
          .select(col("source"), col("doc_id"))
          .orderBy(col("source"), col("doc_id"))
      },
      Some(s"""SELECT source, doc_id FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) <
          CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
               THEN '${hexCutoff(0.25)}' ELSE '${hexCutoff(0.10)}' END
        ORDER BY source, doc_id"""))
  }

  /** `grouping_id()` disambiguation on a cube: a NULL in a cube row
    * means "all values" only when the grouping bit says so — with real
    * NULLs in the data the bitmask is the ONLY correct way to tell
    * subtotal rows from NULL-key groups. Standard SQL, same bitmask
    * semantics in DuckDB's GROUPING().
    */
  val aggGroupingId = RegisteredQuery(
    "agg_grouping_id",
    (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
        .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority")),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        GROUPING(o_orderstatus, o_orderpriority) AS gid
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY gid, o_orderstatus NULLS FIRST,
        o_orderpriority NULLS FIRST"""))

  /** PERMISSIVE JSON parsing with `_corrupt_record`: malformed lines
    * land in the corrupt column instead of failing the read — the
    * only survivable posture for a 100 TB semi-structured ingest
    * (FAILFAST turns one bad byte into a dead pipeline). Input is
    * authored in-query, so the expected output is a closed-form
    * VALUES oracle.
    */
  val jsonCorruptRecords = RegisteredQuery(
    "json_corrupt_records",
    (s, d) => {
      val dir = s"/tmp/graft_corrupt_${math.abs(d.hashCode)}"
      val f = new java.io.File(dir)
      f.mkdirs()
      val pw = new java.io.PrintWriter(s"$dir/data.json")
      pw.println("""{"id": 1, "v": "ok"}""")
      pw.println("""{"id": 2, "v": """) // malformed
      pw.println("""{"id": 3, "v": "fine"}""")
      pw.close()
      s.read
        .schema("id LONG, v STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(s"$dir/data.json")
        .select(col("id"), col("v"),
          col("_corrupt_record").isNotNull.as("corrupt"))
        .orderBy(col("id").asc_nulls_first, col("v"))
    },
    Some("""SELECT * FROM (VALUES
        (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), TRUE),
        (1, 'ok', FALSE),
        (3, 'fine', FALSE)) AS t(id, v, corrupt)
      ORDER BY id NULLS FIRST, v"""))

  /** Character-entropy quality proxy per document (sorted-char UDF
    * pass; the per-char explode alternative would shuffle |text| rows
    * per doc). Oracle rebuilds the distribution in SQL via
    * generate_series + substr.
    */
  val charEntropy = RegisteredQuery(
    "char_entropy",
    (s, d) =>
      Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          round(graft.llm.TextAnalysis.charEntropy(col("text")), 6)
            .as("entropy"))
        .orderBy(col("doc_id")),
    Some("""WITH ch AS (
        SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS c,
               length(text) AS n
        FROM documents, unnest(generate_series(1, length(text))) AS u(i)
        WHERE length(text) > 0),
      p AS (SELECT doc_id, count(*)::DOUBLE / any_value(n) AS p
            FROM ch GROUP BY doc_id, c)
      SELECT doc_id, round(-sum(p * log2(p)), 6) AS entropy
      FROM p GROUP BY doc_id ORDER BY doc_id"""))

  /** Gopher-style repetition quality signals: per-document duplicate
    * fraction of token occurrences and of adjacent bigrams
    * (`1 − distinct/total`) — looping-generator output and boilerplate
    * score high; the standard cheap pre-training filter alongside
    * [[charEntropy]]. Pure per-row expressions over a staged token
    * array (no shuffle — a 100 TB scan shape); both fractions are
    * small-integer IEEE divides, bit-identical across engines.
    */
  val docRepetition = RegisteredQuery(
    "doc_repetition",
    (s, d) => {
      import graft.llm.TextAnalysis
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          TextAnalysis.dupFraction(col("toks")).as("dup_token_frac"),
          TextAnalysis.dupFraction(
            TextAnalysis.repetitionBigrams(col("toks")))
            .as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
        SELECT doc_id,
          regexp_split_to_array(trim(regexp_replace(lower(text),
            '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      b AS (
        SELECT doc_id, toks,
          CASE WHEN len(toks) < 2 THEN []
            ELSE list_transform(range(1, len(toks)),
              i -> toks[i] || ' ' || toks[i + 1]) END AS bi
        FROM t)
      SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
        CASE WHEN len(toks) < 1 THEN 0.0 ELSE
          round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) /
            CAST(len(toks) AS DOUBLE), 4) END AS dup_token_frac,
        CASE WHEN len(bi) < 1 THEN 0.0 ELSE
          round(1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) /
            CAST(len(bi) AS DOUBLE), 4) END AS dup_bigram_frac
      FROM b ORDER BY doc_id"""))

  /** Forward fill (`last(..., ignoreNulls)` over an unbounded
    * preceding frame): error events get a null reading, each user's
    * gap fills with their latest prior reading — the canonical
    * time-series repair. One keyed window shuffle; DuckDB's
    * `last_value(... IGNORE NULLS)` is the exact same semantics.
    */
  val windowFillForward = RegisteredQuery(
    "window_fill_forward",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("reading",
          when(col("event_type") === "error", lit(null)).otherwise(col("value")))
        .withColumn("filled", last(col("reading"), ignoreNulls = true).over(w))
        .select(col("event_id"), col("user_id"), col("reading"), col("filled"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id,
        CASE WHEN event_type = 'error' THEN NULL ELSE value END AS reading,
        last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
          IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      FROM events ORDER BY event_id"""))

  /** Data-quality expectation suite over orders: four single-pass
    * rules (one aggregation job for all of them — the suite must not
    * cost a scan per rule at 100 TB) plus a referential-integrity
    * anti-join against the customer dimension, unioned into one
    * (rule, metric, passed) report. Oracle recomputes every metric
    * independently in SQL.
    */
  val dqChecks = RegisteredQuery(
    "dq_checks",
    (s, d) => {
      import graft.relational.DataQuality._
      val orders = Tables.orders(s, d)
      check(orders, Seq(
        unique("o_orderkey"),
        nullFraction("o_custkey", atMost = 0.0),
        minAtLeast("o_totalprice", 0.0),
        maxAtMost("o_totalprice", 1.0e8)))
        .union(refIntegrity(orders, "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .orderBy(col("rule"))
    },
    Some("""SELECT * FROM (
        SELECT 'o_orderkey_unique' AS rule,
          CAST(count(DISTINCT o_orderkey) AS DOUBLE) AS metric,
          count(DISTINCT o_orderkey) = count(*) AS passed FROM orders
        UNION ALL
        SELECT 'o_custkey_null_frac',
          avg(CASE WHEN o_custkey IS NULL THEN 1.0 ELSE 0.0 END),
          avg(CASE WHEN o_custkey IS NULL THEN 1.0 ELSE 0.0 END) <= 0.0
        FROM orders
        UNION ALL
        SELECT 'o_totalprice_min', CAST(min(o_totalprice) AS DOUBLE),
          min(o_totalprice) >= 0.0 FROM orders
        UNION ALL
        SELECT 'o_totalprice_max', CAST(max(o_totalprice) AS DOUBLE),
          max(o_totalprice) <= 1.0e8 FROM orders
        UNION ALL
        SELECT 'o_custkey_in_c_custkey',
          CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS DOUBLE),
          count(*) FILTER (WHERE c.c_custkey IS NULL) = 0
        FROM orders LEFT JOIN customer c ON o_custkey = c.c_custkey)
      ORDER BY rule"""))

  /** Nested-schema pruning: events rewritten as a two-level struct
    * table, then a query touching ONE leaf per struct — the scan's
    * `ReadSchema` must carry only those leaves (Catalyst's
    * nestedSchemaPruning), not whole structs. At 100 TB of deeply
    * nested logs, pruned leaf reads are the difference between
    * scanning terabytes and scanning the whole lake; the oracle is the
    * same projection from the FLAT original.
    */
  val nestedPruning = RegisteredQuery(
    "nested_pruning",
    (s, d) => {
      val base = s"/tmp/graft_nested_${math.abs(d.hashCode)}"
      Tables.events(s, d)
        .select(col("event_id"),
          struct(col("user_id"), col("event_type").as("etype")).as("meta"),
          struct(col("value"), col("props")).as("payload"))
        .write.mode("overwrite").parquet(base)
      s.read.parquet(base)
        .select(col("event_id"), col("meta.user_id").as("user_id"),
          col("payload.value").as("value"))
        .filter(col("value") > 15.0)
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id, value FROM events
      WHERE value > 15.0 ORDER BY event_id"""))

  /** Join-strategy hint coverage: `shuffle_hash` forces a
    * ShuffledHashJoin where the planner would pick sort-merge — the
    * right call when one side is much smaller per partition (hash
    * build beats sorting both sides) but too big to broadcast.
    * Result ≡ the unhinted join; PlanLintSpec pins the strategy.
    */
  val joinShuffleHash = RegisteredQuery(
    "join_shuffle_hash",
    (s, d) =>
      Tables.orders(s, d).hint("shuffle_hash")
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy(col("o_orderstatus")),
    Some("""SELECT o_orderstatus, count(*) AS n,
        round(sum(l_quantity), 2) AS qty
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Schema evolution on read: a table directory accretes files
    * written under an OLDER schema (no n_regionkey) and a NEWER one;
    * `mergeSchema` unions the footers and fills the missing column
    * with nulls — the ingestion reality of any long-lived 100 TB
    * table (schema-per-file, evolved in place, never rewritten).
    */
  val schemaEvolution = RegisteredQuery(
    "schema_evolution",
    (s, d) => {
      val base = s"/tmp/graft_schevo_${math.abs(d.hashCode)}"
      val n = Tables.nation(s, d)
      n.filter(col("n_nationkey") < 12)
        .select(col("n_nationkey"), col("n_name"))
        .write.mode("overwrite").parquet(base)
      n.filter(col("n_nationkey") >= 12)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .write.mode("append").parquet(base)
      s.read.option("mergeSchema", "true").parquet(base)
        .orderBy(col("n_nationkey"))
    },
    Some("""SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey
      FROM nation WHERE n_nationkey < 12
      UNION ALL
      SELECT n_nationkey, n_name, n_regionkey
      FROM nation WHERE n_nationkey >= 12
      ORDER BY n_nationkey"""))

  /** `transformWithState` running totals (Spark 4's arbitrary-state
    * streaming processor): per-user ValueState folds each micro-batch;
    * the final emission per user must equal the batch aggregate. Runs
    * on the RocksDB state store (the only provider the API supports),
    * set on the runner's isolated session so the shared session is
    * never touched.
    */
  val streamingRunningTotals = RegisteredQuery(
    "streaming_running_totals",
    (s, d) => {
      import graft.streaming.Streams
      import s.implicits._
      val raw = Streams.eventsStreamFromFile(s, s"$d/events.parquet")
        .select(col("user_id"), col("ts"), col("value"))
        .as[Streams.SessionEvent]
      val totals = Streams.runningTotals(raw)
      Streams.runAvailableNowWithPartitions(s, totals.toDF(),
          s"graft_twstotals_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Update(),
          // state partitions sized from the staged source (guide §2.2;
          // the stream-join right-sizing extended to every stateful
          // runner): each partition opens one RocksDB instance per
          // epoch here, so the constant 8 paid ~6 store setups for
          // nothing at bench volume and under-parallelized at sf1+
          statePartitions = Streams.statePartitionsFor(s,
            s"$d/events.parquet"),
          extraConf = Map("spark.sql.streaming.stateStore.providerClass" ->
            ("org.apache.spark.sql.execution.streaming." +
              "state.RocksDBStateStoreProvider")))
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n_events"),
          round(max(col("total")), 2).as("total_value"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, count(*) AS n_events,
        round(sum(value), 2) AS total_value
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Durable-checkpoint CRASH-RESUME certification as a registered
    * query: the events fixture staged into four time-ordered files is
    * run through the watermarked hourly aggregation (complete mode,
    * idempotent snapshot sink) with a sabotage crash injected inside
    * epoch 1 — output written, commit suppressed, query dead — then
    * the WHOLE plan is rebuilt from scratch on a fresh session and
    * resumed from the durable checkpoint: the engine re-runs the
    * uncommitted epoch against its recovered state-store version and
    * drains the rest. The oracle is the batch twin, so a green row
    * here means exactly-once across a mid-stream crash — recovered
    * state neither lost (undercount) nor double-applied (overcount).
    */
  val streamingResume = RegisteredQuery(
    "streaming_resume",
    (s, d) => {
      import graft.streaming.Streams
      val staged = Streams.stageEventsParts(s, s"$d/events.parquet", 4)
      // tmpfs-backed when free: the checkpoint survives PROCESS death
      // there just the same (the spec's JVM-halt test resumes across
      // processes), and the 7 durable epoch commits skip disk fsyncs
      Streams.withThrowawayDir("graft_resume_q") { work =>
        val res = Streams.resumeCertified(s,
          sess => Streams.hourlyAgg(Streams.pacedStream(sess, staged)),
          work, "streaming_resume", crashAfterBatch = 1L,
          complete = true)
        // materialize before cleanup (bounded: one row per event-hour
        // of the fixture), so the checkpoint+sink dir — RAM-backed
        // when on tmpfs — never outlives the query
        val rows = res.orderBy(col("hour_start")).collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
          .orderBy(col("hour_start"))
      }
    },
    Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
      count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1 ORDER BY hour_start"""))

  /** Weekly cohort retention over the events stream: users are
    * cohorted by the week of their first event; each (cohort, week
    * offset) cell counts the distinct users still active. Two shuffles
    * by construction — first-event discovery and the distinct count —
    * both keyed by user/cohort, both map-side partial; the week
    * truncation keeps the output a small dense matrix no matter how
    * many events feed it. Monday-start `date_trunc('week', …)` agrees
    * between engines, and offsets are exact multiples of 7 days so the
    * division is exact.
    */
  val cohortRetention = RegisteredQuery(
    "cohort_retention",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      val first = e.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort_wk"))
      first.join(e, "user_id")
        .groupBy(col("cohort_wk"),
          (datediff(col("wk"), col("cohort_wk")) / 7).cast("int")
            .as("week_offset"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .orderBy(col("cohort_wk"), col("week_offset"))
    },
    Some("""WITH e AS (
        SELECT user_id, date_trunc('week', ts) AS wk FROM events),
      f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id)
      SELECT cohort_wk,
        CAST(date_diff('day', cohort_wk, wk) // 7 AS INTEGER) AS week_offset,
        count(DISTINCT e.user_id) AS active_users
      FROM f JOIN e ON f.user_id = e.user_id
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Benchmark decontamination over the documents table: docs whose
    * id is a multiple of 20 play the "benchmark suite", the rest the
    * training corpus; any corpus doc sharing a word 4-gram with the
    * benchmark is reported with its distinct-overlap count. The oracle
    * rebuilds the same shingles as strings (the engine joins 64-bit
    * hashes — a collision would need ~2⁶⁴ shingles to matter).
    */
  val decontaminate = RegisteredQuery(
    "decontaminate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.llm.Decontaminate.contaminationReport(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", k = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),
          '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
            ELSE list_distinct(list_transform(range(1, len(toks) - 2),
              i -> array_to_string(toks[i:i+3], ' '))) END AS sh
        FROM t),
      cg AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 20 <> 0),
      bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 20 = 0),
      tot AS (SELECT doc_id, len(sh) AS n_ngrams FROM sh
              WHERE doc_id % 20 <> 0),
      ov AS (SELECT cg.doc_id, count(*) AS n_overlap
             FROM cg JOIN bg USING (g) GROUP BY cg.doc_id)
      SELECT tot.doc_id, ov.n_overlap, tot.n_ngrams,
        round(ov.n_overlap * 1.0 / tot.n_ngrams, 6) AS overlap_frac
      FROM tot JOIN ov ON tot.doc_id = ov.doc_id
      ORDER BY tot.doc_id"""))

  /** Bloom-prefiltered decontamination: same report as `decontaminate`
    * (and the same oracle — the sketch has no false negatives and the
    * exact verify phase removes its false positives), but the corpus
    * side is pruned map-side against a ~1.2 byte/key broadcast Bloom
    * sketch instead of an exact broadcast hash set — the shape for
    * benchmark suites whose distinct n-gram set outgrows broadcast.
    */
  val decontaminateBloom = RegisteredQuery(
    "decontaminate_bloom",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.llm.Decontaminate.contaminationReportBloom(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", k = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),
          '[^\p{L}\p{Nd}]+', ' ', 'g')), ' ') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
            ELSE list_distinct(list_transform(range(1, len(toks) - 2),
              i -> array_to_string(toks[i:i+3], ' '))) END AS sh
        FROM t),
      cg AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 20 <> 0),
      bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 20 = 0),
      tot AS (SELECT doc_id, len(sh) AS n_ngrams FROM sh
              WHERE doc_id % 20 <> 0),
      ov AS (SELECT cg.doc_id, count(*) AS n_overlap
             FROM cg JOIN bg USING (g) GROUP BY cg.doc_id)
      SELECT tot.doc_id, ov.n_overlap, tot.n_ngrams,
        round(ov.n_overlap * 1.0 / tot.n_ngrams, 6) AS overlap_frac
      FROM tot JOIN ov ON tot.doc_id = ov.doc_id
      ORDER BY tot.doc_id"""))

  /** SemDeDup-style semantic dedup over the embeddings table: k=8
    * md5-ranked seed medoids, argmax-cosine assignment, and the
    * EXISTS drop rule (a row dies iff a smaller-id row in its cluster
    * sits at cosine ≥ 0.5). The oracle replays all three phases —
    * seed pick, assignment (argmax with ties to seed rank, the
    * [[graft.functions.NearestCentroidExpr]] tie rule), and the
    * within-cluster pair exists — so a hash match proves the
    * clustering and the drop set, not just the output shape.
    */
  val dedupSemantic = RegisteredQuery(
    "dedup_semantic",
    (s, d) => {
      graft.llm.SemDedup.semanticDedup(
          Tables.embeddings(s, d), "embedding", "vec_id",
          k = 8, threshold = 0.5)
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"))
    },
    Some("""WITH seeds AS (
        SELECT vec_id AS sid, embedding::DOUBLE[] AS sv,
          row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rk
        FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8),
      assign AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
          (SELECT s.sid FROM seeds s
           ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], s.sv)
             DESC, s.rk ASC
           LIMIT 1) AS cluster
        FROM embeddings e),
      dups AS (
        SELECT DISTINCT b.vec_id
        FROM assign a JOIN assign b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          AND list_cosine_similarity(a.v, b.v) >= 0.5)
      SELECT vec_id, cluster FROM assign
      WHERE vec_id NOT IN (SELECT vec_id FROM dups)
      ORDER BY vec_id"""))

  /** The OBJECT-STORE index layout, certified inside the oracle gate:
    * the full disk-LSH lifecycle — build(history) → append(delta) →
    * delete(takedowns) → compact → serve — runs on a posix root
    * pinned to the `listing` layout (carry-forward by per-version
    * file LISTING, [[graft.llm.IndexManifest]]; zero hard links, the
    * S3/GCS deployment shape) and must serve the exact brute-force
    * top-10 over the SURVIVING corpus. Every verb participates: a
    * lost append drops the query vector's own self-match (vec_id 0
    * lives in the delta), a lost delete resurrects a tombstoned id,
    * and the compact rewrites what the listing carried by reference.
    */
  val simTopkAnnDiskListing = RegisteredQuery(
    "sim_topk_ann_disk_listing",
    (s, d) => {
      import graft.llm.Similarity
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
      val bits = Similarity.bitsFor(emb.count())
      val path = s"/tmp/graft_lsh_lst_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/embeddings.parquet")
      stampGate(s"$path.stamp", stamp,
          present = IndexManifest.exists(path)) {
        IndexManifest.pinLayout(path, IndexManifest.ListingLayout)
        Similarity.writeLshIndex(
          Similarity.multiTableIndex(
            emb.filter(col("vec_id") % 10 =!= 0), "embedding",
            "vec_id", dim = query.length, bits = bits, tables = 8),
          path, groups = 16)
        Similarity.appendLshIndex(
          emb.filter(col("vec_id") % 10 === 0), "embedding", "vec_id",
          path, dim = query.length, bits = bits, tables = 8,
          groups = 16)
        import s.implicits._
        Similarity.deleteFromLshIndex(
          Seq(3L, 7L).toDF("vec_id"), "vec_id", path)
        Similarity.compactLshIndex(s, path)
      }
      Similarity.topKAnnDisk(s, path, query, dim = query.length,
          bits = bits, tables = 8, k = 10, groups = 16)
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    },
    Some(cosineTop10OracleSql(" WHERE vec_id NOT IN (3, 7)")))

  /** BM25 twin of `sim_topk_ann_disk_listing`: the sparse-retrieval
    * disk lifecycle — build(history) → append(delta) → delete → compact
    * → serve — on a posix root pinned to the listing layout, against
    * the exact BM25 oracle over the surviving corpus (idf/avgdl shift
    * with the deletions; the integer-exact stats recombination must
    * match a from-scratch rebuild, which is what the oracle computes).
    */
  val docBm25DiskListing = RegisteredQuery(
    "doc_bm25_disk_listing",
    (s, d) => {
      import graft.llm.Vocabulary
      val path = s"/tmp/graft_bm25_lst_${dirTag(d)}"
      val stamp = sourceStamp(s"$d/documents.parquet")
      stampGate(s"$path.stamp", stamp,
          present = IndexManifest.exists(path)) {
        IndexManifest.pinLayout(path, IndexManifest.ListingLayout)
        val docs = Tables.documents(s, d)
        Vocabulary.writeBm25Index(docs.filter(col("doc_id") % 3 =!= 0),
          "doc_id", "text", path, buckets = 16)
        Vocabulary.appendBm25Index(docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", path, buckets = 16)
        Vocabulary.deleteBm25Index(s, path, Seq(1L, 5L))
        Vocabulary.compactBm25Index(s, path, buckets = 16)
      }
      Vocabulary.bm25Disk(s, path,
          queryTerms = Seq("dup", "spark", "join"), topK = 20,
          buckets = 16)
        .withColumnRenamed("id", "doc_id")
    },
    Some(bm25OracleSql(" WHERE doc_id NOT IN (1, 5)")))

  /** Object-store BACKEND twin of `doc_bm25_disk_listing`: the same
    * build → append → delete → compact → serve lifecycle, but the
    * root is addressed by SCHEME (`file://`), which routes every
    * manifest metadata operation through
    * `graft.llm.HadoopManifestIo` — sequenced immutable
    * `MANIFEST-<seq>` commit files (conditional create as the CAS),
    * stage-into-final-dir claims with no directory rename, TTL-lease
    * commit lock, listing layout auto-pinned. Keeping this in the
    * oracle gate means the Hadoop-`FileSystem` protocol is
    * hash-checked against DuckDB every round, not just spec-checked.
    * Shares `doc_bm25_disk_listing`'s oracle (identical surviving
    * corpus and scoring).
    */
  val docBm25DiskObjectStore = RegisteredQuery(
    "doc_bm25_disk_object_store",
    (s, d) => {
      import graft.llm.Vocabulary
      val local = s"/tmp/graft_bm25_objstore_${dirTag(d)}"
      val path = s"file://$local"
      val stamp = sourceStamp(s"$d/documents.parquet")
      // a schemed root pins the listing layout on its first stage
      stampGate(s"$local.stamp", stamp,
          present = IndexManifest.exists(path)) {
        val docs = Tables.documents(s, d)
        Vocabulary.writeBm25Index(docs.filter(col("doc_id") % 3 =!= 0),
          "doc_id", "text", path, buckets = 16)
        Vocabulary.appendBm25Index(docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", path, buckets = 16)
        Vocabulary.deleteBm25Index(s, path, Seq(1L, 5L))
        Vocabulary.compactBm25Index(s, path, buckets = 16)
      }
      Vocabulary.bm25Disk(s, path,
          queryTerms = Seq("dup", "spark", "join"), topK = 20,
          buckets = 16)
        .withColumnRenamed("id", "doc_id")
    },
    Some(bm25OracleSql(" WHERE doc_id NOT IN (1, 5)")))

  /** L-2/L-3/L-4/L-5 CONTRACT query — the seeded-sampling cluster's
    * registry entry (previously spec-only): randomSplit partitions the
    * table exactly (counts sum, zero overlap), the same seed
    * reproduces the same MEMBERSHIP (not just the same counts) for
    * both split and sample, realized fractions land within a 5σ-wide
    * tolerance, the 10k-rows-per-partition heuristic is what
    * `repartitionForRows` actually applies, and `microBatches` drains
    * every row exactly once in bounded driver-side batches. Random
    * VALUES are engine-internal (which rows land where is Spark's
    * seeded XORShift); the invariants are what an oracle CAN pin —
    * the `encode_eval`/`train_loop` contract pattern.
    */
  val samplingContract = RegisteredQuery(
    "sampling_contract",
    (s, d) => {
      import graft.relational.Sampling
      val df = Tables.orders(s, d).select(col("o_orderkey"))
      val Array(a1, b1) = Sampling.randomSplit(df, Array(0.8, 0.2), 42L)
      val Array(a2, _) = Sampling.randomSplit(df, Array(0.8, 0.2), 42L)
      val s1 = Sampling.sample(df, 0.3, 7L)
      val s2 = Sampling.sample(df, 0.3, 7L)
      // The nine contract probes are INDEPENDENT actions on seeded,
      // deterministic frames — run them as concurrent jobs (the
      // overlap-independent-jobs idiom, spark_optimization_guide §2.6:
      // FIFO scheduling backfills each job's straggler tail with the
      // next job's tasks). Results are identical to the sequential
      // form; only the wall-clock sum of fixed per-job costs drops.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      // carryJobDescription: each pooled job keeps the bench's
      // thread-local label/group (guide §1.5)
      import graft.core.Sessions.carryJobDescription
      val probes = Future.sequence(Seq(
        carryJobDescription(s)(df.count()),
        carryJobDescription(s)(a1.count()),
        carryJobDescription(s)(b1.count()),
        carryJobDescription(s)(a1.join(b1, "o_orderkey").count()),
        carryJobDescription(s)(a1.exceptAll(a2).count()),
        carryJobDescription(s)(a2.exceptAll(a1).count()),
        carryJobDescription(s)(s1.exceptAll(s2).count()),
        carryJobDescription(s)(s2.exceptAll(s1).count()),
        carryJobDescription(s)(s1.count())))
      val Seq(total, na1, nb1, overlap, exA, exB, sxA, sxB, sN) =
        try Await.result(probes, Duration.Inf)
        finally pool.shutdown()
      val splitSame = exA + exB == 0L
      val sampleSame = sxA + sxB == 0L
      val parts = Sampling.repartitionForRows(df, total)
        .rdd.getNumPartitions
      val heuristicOk =
        parts == math.max((total / 10000L).toInt, 2) && parts >= 2
      val batches = Sampling.microBatches(df.limit(5000), 997).toSeq
      val mbRows = batches.map(_.size.toLong).sum
      val mbOk = mbRows == math.min(5000L, total) &&
        batches.forall(_.size <= 997)
      import s.implicits._
      Seq((total, na1 + nb1 == total, overlap == 0L, splitSame,
          math.abs(na1.toDouble / total - 0.8) < 0.05,
          sampleSame, math.abs(sN.toDouble / total - 0.3) < 0.05,
          heuristicOk, mbOk))
        .toDF("n_total", "split_exhaustive", "split_disjoint",
          "split_deterministic", "split_frac_ok", "sample_deterministic",
          "sample_frac_ok", "partition_heuristic_ok", "microbatch_exact")
    },
    Some("""SELECT count(*) AS n_total, TRUE AS split_exhaustive,
        TRUE AS split_disjoint, TRUE AS split_deterministic,
        TRUE AS split_frac_ok, TRUE AS sample_deterministic,
        TRUE AS sample_frac_ok, TRUE AS partition_heuristic_ok,
        TRUE AS microbatch_exact
      FROM orders"""))

  // ---------------------------------------------------------- registry

  val all: Seq[RegisteredQuery] = Seq(
    q1PricingSummary, aggDistinct, rollupCount, aggCube, aggHaving,
    aggFilterClause,
    aggCustomUdaf, aggPivot, aggMedian, aggRegression, aggBitwise,
    aggPercentileDisc, explodeArrays,
    stringFunctions, dateFunctions,
    stagingProjection, filterPushdown,
    joinInnerAgg, joinMultiway, joinSemi, joinAnti,
    joinLeftOuter, joinFullOuter, joinRange, joinAsof, joinAsofNative,
    joinAsofForward, joinAsofNativeForward, joinAsofNearest,
    q3ShippingPriority,
    q5LocalSupplier, q7VolumeShipping, q10ReturnedItems, q18LargeVolume,
    typedDataset,
    joinBloomPruned, joinBucketed, joinNullSafe, sqlCteWindow,
    sqlGroupByAll, sqlParameterized, sqlVariables, sqlScripting,
    sqlOffsetPagination, sqlPivotText,
    variantExtract,
    sqlRecursiveCte, joinLateral, subqueryNotIn, setopMultiset, unionByNameQ,
    regexExtractAll,
    joinSalted, joinSkewAqe, zipFrames,
    aggApproxBounds, partitionPruning,
    aggGroupingSets, aggGroupingId, jsonCorruptRecords, mapFunctions,
    windowTopnPerGroup, windowRunningSum, windowLagLead,
    topkOrders, setopUnion, setopUnionAll, setopExcept, setopIntersect,
    q6ForecastRevenue, q14PromoRevenue, q17SmallQuantity,
    q4OrderPriority, q8MarketShare, q9ProductProfit, q12LateLines,
    q13CustomerDistribution, q15TopSupplier, q19DiscountedRevenue,
    q21WaitingSupplier, q22GlobalSales, globalSort,
    unpivotMelt, sampleStratified, sampleWeighted,
    mergeUpsert, profileColumns, windowRangeFrame,
    sourceCsvRoundtrip, sourceJsonRoundtrip, sourceOrcRoundtrip,
    sourceTextRoundtrip, sourceXmlRoundtrip, xmlFunctions, cdcApply,
    chunkOverlap, catalogManagedTable, sinkPartitionOverwrite,
    sinkInsertOverwrite, catalogIntrospect, sourceCustomV2,
    sourcePushdownAgg, sourcePushdownLimit, sourceRuntimeFilter,
    catalogV2Dml, catalogTimeTravel, catalogSchemaEvolution,
    catalogMergeInto, catalogMergeDelta, catalogUpdate, catalogHistory,
    catalogRestore, catalogClone, catalogConstraints, catalogFunctions,
    catalogDefaults, catalogBroadcastJoin, catalogChangeFeed,
    catalogIncrementalMv, catalogTypeWidening,
    catalogPartitioned, sinkCustomV2,
    sourceCustomStream, sinkCustomStream,
    schemaEvolution,
    joinShuffleHash, nestedPruning,
    windowRankStats, windowNtileBuckets, aggHistogram, aggHeavyHitters,
    aggBitmapDistinct, aggModeDeterministic, timeseriesGapfill,
    timeseriesInterp, timeseriesSpike,
    scalarTryFunctions, streamingEnrich, windowRatio, aggMad,
    windowRollingMedian, scd2History, windowFillForward,
    aggStats,
    subqueryCorrelated, arrayFunctions,
    scalarFunctions, jsonExtract, eventsHourly, funnelConversion,
    incrementalAgg, incrementalHll, zorderIndex, lookupBloomSkip,
    lookupMinmaxSkip, cohortRetention, dqChecks,
    streamingHourly,
    streamingSliding, streamingSessions, streamingDedup, streamingJoin,
    streamingHll, streamingRunningTotals, streamingResume,
    streamingJoinOuter,
    streamingJoinFull, streamingJoinSemi, streamingCdc,
    streamingIndexAppend, streamingBm25Append, streamingDedupMinhash,
    streamingQualityRouter, streamingMergeUpsert,
    streamingCatalogSource,
    sessionWindowBatch, sessionWindowDynamic, streamingSessionWindow,
    keyDiscovery, moments, encodeEval, trainLoop, trainPredict,
    pipelineE2e, dedupExact,
    textStats, tokenCounts, docFingerprint, docWinnow, docNgramNovelty,
    langId, qualityScore,
    charEntropy, docRepetition,
    vocabTopk, vocabCoverageQ, docTopTerms, docBm25, docBm25Disk,
    docBm25Append, docBm25Delete, docBm25DiskListing,
    docBm25DiskObjectStore,
    piiRedact,
    decontaminate, decontaminateBloom, dedupSemantic,
    retrievalHybridRrf, simKnnClassify,
    dedupMinhash, dedupMinhashSig, dedupPairs, dedupJaccardExact,
    dedupComponents, seqPack, seqPaddingReport, graphPagerank,
    graphLabelprop, graphDegrees, aggCountmin,
    splitLeakfree, dedupElectQuality, dedupLines, dedupSubstring,
    bpePairCounts,
    sourceMixReport, docLmPpl,
    docNgrams,
    dedupSimhash, dedupSimhashPairs, dedupIncremental, fuzzyJoinNames,
    bpeEncode, bpeTrain,
    aggVectorMean, simTopkBrute, simTopkAnn, simTopkAnnDisk,
    simTopkAnnAppend, simTopkAnnCompact, simTopkAnnDelete,
    simTopkAnnDiskListing, samplingContract,
    simTopkIvf, simTopkIvfDisk, simTopkIvfAppend, simTopkIvfDelete,
    simTopkPq, simTopkIvfPq, simTopkIvfPqDisk, simTopkIvfPqAppend,
    simTopkIvfPqDelete,
    simKnnJoin, simKnnJoinAnn,
    simKnnJoinAnnDisk,
    mixtureSample, mixtureSampleApproxQ, mixtureSampleBudget,
    mixtureSampleTemperature,
    qualityCascade, filterAdaptiveLength, pipelineDataE2e, pipelineRagE2e,
    simNeardupExact, simNeardupLsh, multimodalMeta, multimodalDecode,
    multimodalResize, multimodalAudio, multimodalVideo, multimodalFrames,
    multimodalFeatures, multimodalAudioFeatures)

  def byName(name: String): RegisteredQuery =
    all.find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no registered query named $name"))
}
