package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators._

/** TPC-H-shaped reports over the relational tables (lineitem, orders,
  * customer, part, supplier, nation, region), each with its DuckDB twin.
  */
private[graft] object TpchQueries {
  /** q161/q162 revenue window — Q1 1998 (inside this corpus's
    * 1995–2001 shipdate range), interpolated into query AND twin. */
  private val TpchQtrFrom = "1998-01-01 00:00:00"
  private val TpchQtrTo = "1998-04-01 00:00:00"
  /** q164 large-order total-quantity threshold: ~p99 of per-order
    * quantity sums on this corpus (median ≈ 96, p99 ≈ 262), so the
    * HAVING binds hard — 874 of ~30k orders survive at sf0.01. */
  private val LargeOrderMinQty = 200
  /** q165 disjunctive predicate bands (the TPC-H Q19 shape):
    * (brand, sizeLo, sizeHi, qtyLo, qtyHi), OR-of-ANDs on both sides. */
  private val DisjBands = Seq(
    ("Brand#12", 1, 5, 1, 11),
    ("Brand#23", 1, 10, 10, 20),
    ("Brand#34", 1, 15, 20, 30))
  /** q166 dormancy cutoff: customers with NO order on/after this date
    * (orderdate runs to 2001-08 here, so ≈2.5 y of silence). */
  private val DormantCutoff = "1999-01-01 00:00:00"
  /** q167 late-shipment gap: an order is "late" when any line ships
    * more than this many days after the order date. */
  private val LateShipDays = 60
  /** q169 correlation audit columns (lineitem numeric measures). */
  private val CorrCols = Seq("l_quantity", "l_extendedprice",
    "l_discount", "l_tax")
  /** q186 market-share slice: customer region × part type, shared by
    * the Spark call and the generated twin. */
  private val MarketShareRegion = "ASIA"
  private val MarketSharePartType = "PROMO"
  /** q204 (TPC-H Q13 shape) excluded order class — stands in for
    * Q13's `o_comment NOT LIKE '%special%requests%'` (this corpus has
    * no comment column): the outer join keeps every customer and the
    * predicate lives ON the join, so zero-order customers land in the
    * c_count = 0 bucket instead of vanishing. */
  private val Q13ExcludedPriority = "1-URGENT"
  /** q205 (TPC-H Q20 shape) parameters: the part-name prefix cut, the
    * one-year shipment window the "excess capacity" test reads, and
    * the capacity multiple — a (supplier, part) qualifies when its
    * all-time shipped quantity exceeds `Q20CapacityMult` × its
    * in-window quantity (the availqty > ½·yearqty analogue with
    * capacity DERIVED from lineitem history; no partsupp table here).
    * Shared by the Spark call and the twin. */
  /** Shared FY-1998 window for the year-scoped TPC-H shapes
    * (q205/q207/q208/q211) — inside this corpus's 1995–2001 range. */
  private val TpchYearFrom = "1998-01-01 00:00:00"
  private val TpchYearTo = "1999-01-01 00:00:00"
  private val Q20PartPrefix = "small"
  private val Q20YearFrom = TpchYearFrom
  private val Q20YearTo = TpchYearTo
  private val Q20CapacityMult = 2
  /** q207 (TPC-H Q6 shape) forecast-revenue band: discounts in
    * [0.05, 0.07] and quantity below 24, FY1998. The discount bounds
    * compare the SAME parquet doubles against the same literals in
    * both engines — no arithmetic before the compare, so no float
    * divergence surface. */
  private val Q6DiscLo = 0.05
  private val Q6DiscHi = 0.07
  private val Q6MaxQty = 24
  /** q208 (TPC-H Q9 shape): the part-name substring cut and the
    * retail-cost factor standing in for ps_supplycost (no partsupp
    * table — cost is derived from the part dim, q163/q205 precedent). */
  private val Q9NamePattern = "red"
  /** q210 (TPC-H Q11 shape) importance floor: parts holding more than
    * 1/Q11FracDen of the nation's total shipped quantity. Filter is
    * the division-free exact-decimal compare qv·den > total (q166). */
  private val Q11Nation = "NATION_7"
  private val Q11FracDen = 1000
  /** q211 (TPC-H Q12 shape) lag banding: ship−order day lag, 30-day
    * integer bands (intDiv — exact in both engines). */
  private val Q12BandDays = 30
  /** q212 (TPC-H Q2 shape) part cut: small PROMO parts; the
    * min-acctbal supplier stands in for min supplycost. */
  private val Q2PartType = "PROMO"
  private val Q2MaxSize = 5
  /** q216 supplier-SLA report: only suppliers with at least this many
    * shipped lines are rated (a rate over a handful of lines is
    * noise, not an SLA signal). Shares q167's LateShipDays. */
  private val SlaMinLines = 20L
  /** q149 foreign-key edges, shared by the Spark call AND the
    * generated DuckDB twin: (edge label, child, fk, parent, pk). */
  private val RefAuditEdges: Seq[(String, String, String, String, String)] =
    Seq(
      ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
      ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))

  /** q149 twin, generated per-edge from the SAME RefAuditEdges list as
    * the Spark call: one LEFT JOIN against the distinct parent keys,
    * all four audit measures in one aggregate, edges UNION ALL'd.
    */
  private def refAuditTwin: String = {
    val blocks = RefAuditEdges.map { case (name, child, fk, parent, pk) =>
      s"""SELECT '$name' AS edge, COUNT(*) AS n_child,
         |  CAST(SUM(CASE WHEN $fk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_null_fk,
         |  CAST(SUM(CASE WHEN $fk IS NOT NULL AND p.__pk IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan,
         |  COUNT(DISTINCT CASE WHEN p.__pk IS NULL THEN $fk END)
         |    AS n_orphan_keys
         |FROM $child LEFT JOIN
         |  (SELECT DISTINCT $pk AS __pk FROM $parent) p ON $fk = p.__pk"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT * FROM (
       |$blocks
       |) ORDER BY edge""".stripMargin
  }

  /** q169 twin, generated from the SAME CorrCols list as the Spark
    * call (ADVICE r9 rule): one aggregate CTE holding every
    * DECIMAL(30,6)-exact Σx/Σx²/Σxy, then one UNION ALL row per pair
    * applying the identical final double formula.
    */
  private def corrTwin(table: String, cols: Seq[String]): String = {
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val sums = cols.flatMap { c =>
      Seq(s"${DSUM(c)} AS s_$c", s"${DSUM(s"$c*$c")} AS ss_$c")
    } ++ pairs.map { case (x, y) =>
      s"${DSUM(s"$x*$y")} AS sp_${x}_$y"
    }
    val rows = pairs.map { case (x, y) =>
      s"""  SELECT '$x' AS col_x, '$y' AS col_y, n,
         |    (CAST(n AS DOUBLE) * sp_${x}_$y - s_$x * s_$y) /
         |    sqrt((CAST(n AS DOUBLE) * ss_$x - s_$x * s_$x) *
         |      (CAST(n AS DOUBLE) * ss_$y - s_$y * s_$y)) AS pearson_r
         |  FROM s""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH s AS (SELECT COUNT(*) AS n,
       |  ${sums.mkString(",\n  ")}
       |  FROM $table)
       |SELECT * FROM (
       |$rows
       |) ORDER BY col_x, col_y""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // A2/A3/A4 — grouped aggregation menu over the fact table (the
    // reference's conditional-sum reducer generalized; ref
    // option_trade_aggs/main.py:85-140).
    Query("q01_pricing_summary", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(discPrice).as("sum_disc_price"),
          dsum(discPrice * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      s"""SELECT l_returnflag, l_linestatus,
        |  ${DSUM("l_quantity")} AS sum_qty,
        |  ${DSUM("l_extendedprice")} AS sum_base_price,
        |  ${DSUM("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
        |  ${DSUM("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
        |  ${DAVG("l_quantity")} AS avg_qty,
        |  ${DAVG("l_extendedprice")} AS avg_price,
        |  ${DAVG("l_discount")} AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // J1 — star-schema join: fact × orders × customer × nation, small
    // dim broadcast; revenue rollup by segment and nation.
    // BENCH_r03's 5.1 s (vs r2's 1.8 s) investigated with unchanged
    // code: three isolated runs at sf0.1 measured 2.9/2.7/3.4 s, and
    // the AQE executed plan is already the intended shape — ALL of
    // orders/customer/nation arrive as BroadcastHashJoin builds at this
    // sf (customer ~15k rows ≈ 3 MB), lineitem streams through a
    // 3-column pruned scan into a partial+final hash aggregate. The
    // in-suite 5.1 s is suite-context noise (GC pressure from the
    // preceding dedup self-joins), not a plan regression. At 100 TB
    // only nation stays pinned-broadcast; AQE decides the rest per
    // actual size, which is the shape that survives the scale-up.
    Query("q14_star_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val cust = Tables.customer(s, dir)
      val nat = broadcast(Tables.nation(s, dir))
      val revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_mktsegment"), col("n_name"))
        .agg(dsum(revenue).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("c_mktsegment"), col("n_name"))
    },
      s"""SELECT c_mktsegment, n_name,
        |  ${DSUM("l_extendedprice * (1.0 - l_discount)")} AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // F7 — catalog search: smart-case Contains, case-insensitive
    // StartsWith, Include/Exclude lists, full-text Search
    // (ref getAllStreamsRequest.ts:20-69).
    Query("q16_catalog_search", (s, dir) => {
      Catalog.search(Tables.part(s, dir), Seq(
          Catalog.Contains("p_name", "red"),
          Catalog.Include("p_type", Seq("ECONOMY", "SMALL", "STANDARD")),
          Catalog.Exclude("p_brand", Seq("Brand#13")),
          Catalog.Search(Seq("p_name", "p_type"), "e")))
        .orderBy(col("p_partkey"))
    },
      """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        |FROM part
        |WHERE contains(lower(p_name), 'red')
        |  AND p_type IN ('ECONOMY', 'SMALL', 'STANDARD')
        |  AND p_brand NOT IN ('Brand#13')
        |  AND (contains(lower(p_name), 'e') OR contains(lower(p_type), 'e'))
        |ORDER BY p_partkey""".stripMargin),

    // F7+ — the LAST catalog request type: parameter/event GROUP search
    // (ref getAllParameterGroupsRequest.ts:16-52) + the response
    // model's childrenCount (parameterGroup.ts:37-44). The group
    // catalog derives deterministically from `part`: p_type / p_brand
    // span a 2-level location tree, the part name is the leaf group;
    // interior brand nodes are groups too, so deep search returns
    // MIXED levels and childrenCount is non-zero on the interior rows
    // — the tree helper is load-bearing in the oracle, not decoration.
    // Filters: deep location subtree under /ECONOMY + smart-case name
    // Contains "an" (lowercase → CI: matches every interior
    // "Brand#N" and leaves like "orange gear").
    Query("q54_group_search", (s, dir) => {
      val p = Tables.part(s, dir)
      val leaves = p.select(
        concat(lit("/"), col("p_type"), lit("/"), col("p_brand"),
          lit("/"), col("p_name")).as("path"),
        concat(lit("/"), col("p_type"), lit("/"), col("p_brand"))
          .as("location"),
        col("p_name").as("name"))
      val mids = p.select(
        concat(lit("/"), col("p_type"), lit("/"), col("p_brand")).as("path"),
        concat(lit("/"), col("p_type")).as("location"),
        col("p_brand").as("name")).distinct()
      val groups = leaves.unionByName(mids)
      Catalog.search(Catalog.withChildrenCount(groups, "path"),
          Catalog.groupFilters(
            location = Some("/ECONOMY"),
            name = Some("an")))
        .select(col("path"), col("name"), col("location"),
          col("childrenCount").as("children_count"))
        .orderBy(col("path"), col("name"))
    },
      """WITH leaves AS (
        |  SELECT '/' || p_type || '/' || p_brand || '/' || p_name AS path,
        |         '/' || p_type || '/' || p_brand AS location,
        |         p_name AS name
        |  FROM part),
        |mids AS (
        |  SELECT DISTINCT '/' || p_type || '/' || p_brand AS path,
        |         '/' || p_type AS location,
        |         p_brand AS name
        |  FROM part),
        |g AS (SELECT * FROM leaves UNION ALL SELECT * FROM mids),
        |cc AS (
        |  SELECT nullif(regexp_replace(path, '/[^/]*$', ''), '') AS ppath,
        |         COUNT(*) AS cnt
        |  FROM g WHERE nullif(regexp_replace(path, '/[^/]*$', ''), '') IS NOT NULL
        |  GROUP BY 1),
        |gc AS (
        |  SELECT g.path, g.name, g.location,
        |         COALESCE(cc.cnt, 0) AS children_count
        |  FROM g LEFT JOIN cc ON g.path = cc.ppath)
        |SELECT path, name, location, children_count
        |FROM gc
        |WHERE (location = '/ECONOMY' OR starts_with(location, '/ECONOMY/'))
        |  AND contains(lower(name), 'an')
        |ORDER BY path, name""".stripMargin),

    // Scale primitive — bloom-pruned semi-join: keep lineitem rows
    // whose order is URGENT, with the shuffle fed only by bloom
    // survivors (no false negatives, so the exact semi-join on the
    // survivors gives the EXACT answer — the DuckDB twin is a plain
    // IN-subquery). The operator is what Spark's runtime row-filter
    // does when it fires, as an explicit dial; q56 gates that the
    // pruning is answer-invariant on real data.
    Query("q56_bloom_semijoin", (s, dir) => {
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      Scale.bloomPrunedSemiJoin(
          Tables.lineitem(s, dir), "l_orderkey",
          urgent, "o_orderkey", expectedKeys = 10000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(30,6)")).cast("double")
            .as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
      // plain IN-subquery twin: the bloom stage must be answer-invariant
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // A14 — multi-level aggregate in ONE pass (ROLLUP grouping sets):
    // detail + per-flag subtotal + grand total without re-scanning —
    // at 100 TB re-aggregating for each level would triple the scan,
    // rollup shares it. Subtotal rows surface as NULL group values;
    // the level indicator is derived from null-ness identically in
    // both engines (the data has no null flags).
    Query("q61_rollup_agg", (s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          (when(col("l_returnflag").isNull, 2).otherwise(0) +
           when(col("l_linestatus").isNull, 1).otherwise(0)).as("lvl"),
          col("n_rows"), col("sum_qty"), col("sum_price"))
        .orderBy(col("lvl"), col("returnflag"), col("linestatus"))
    },
      // ROLLUP twin; lvl derived from null-ness on both sides (no null
      // flags exist in the data, so null <=> subtotal row)
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  (CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END +
        |   CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS lvl,
        |  COUNT(*) AS n_rows,
        |  ${DSUM("l_quantity")} AS sum_qty,
        |  ${DSUM("l_extendedprice")} AS sum_price
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY 3, 1, 2""".stripMargin),

    // Deequ-class single-pass table profile of `orders`: per column,
    // null count, EXACT distinct count, typed min/max. One aggregate
    // (multi-distinct Expand), reshaped wide->long on the 1-row result.
    Query("q105_table_profile", (s, dir) =>
      operators.Profile.profileTable(Tables.orders(s, dir)), {
      val shared = (c: String, t: String) =>
        s"""SELECT '$c' AS "column", '$t' AS dtype, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_null, COUNT(DISTINCT $c) AS n_distinct""".stripMargin
      def num(c: String, t: String) =
        s"""${shared(c, t)},
           |  round(CAST(MIN($c) AS DOUBLE), 9) AS min_num,
           |  round(CAST(MAX($c) AS DOUBLE), 9) AS max_num,
           |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
           |FROM orders""".stripMargin
      def str(c: String) =
        s"""${shared(c, "string")},
           |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           |  MIN($c) AS min_str, MAX($c) AS max_str
           |FROM orders""".stripMargin
      def ts(c: String) =
        s"""${shared(c, "timestamp_ntz")},
           |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           |  strftime(MIN($c), '%Y-%m-%d %H:%M:%S') AS min_str,
           |  strftime(MAX($c), '%Y-%m-%d %H:%M:%S') AS max_str
           |FROM orders""".stripMargin
      Seq(num("o_orderkey", "bigint"), num("o_custkey", "bigint"),
          str("o_orderstatus"), num("o_totalprice", "double"),
          ts("o_orderdate"), str("o_orderpriority"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    }),

    // Referential-integrity audit over the star schema's seven FK
    // edges: child rows / null FKs / orphans / distinct orphan keys,
    // one AQE-sized left join per edge (NO broadcast hints — customer
    // and supplier grow with the corpus; the r9 scale-killer rule).
    Query("q149_referential_audit", (s, dir) => {
      val t: Map[String, DataFrame] = Map(
        "region" -> Tables.region(s, dir), "nation" -> Tables.nation(s, dir),
        "customer" -> Tables.customer(s, dir),
        "supplier" -> Tables.supplier(s, dir), "part" -> Tables.part(s, dir),
        "orders" -> Tables.orders(s, dir),
        "lineitem" -> Tables.lineitem(s, dir))
      operators.Profile.referentialAudit(
        RefAuditEdges.map { case (name, child, fk, parent, pk) =>
          (name, t(child), fk, t(parent), pk) })
    }, refAuditTwin),

    // TPC-H Q13-shape customer order-count distribution: left join so
    // zero-order customers count, then the histogram of counts.
    Query("q141_order_distribution", (s, dir) => {
      val c = Tables.customer(s, dir).select("c_custkey")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """WITH cc AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM cc
        |GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // Brand revenue share over the part dimension: lineitem joined to
    // the broadcast part dim, exact-decimal revenue, share against a
    // 1-row total rider.
    Query("q142_brand_revenue", (s, dir) => {
      val p = Tables.part(s, dir).select("p_partkey", "p_brand")
      val lineRev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      // per-brand sums stay DECIMAL so the grand total can roll up
      // from the ~|brands| brand rows exactly (order-independent) —
      // one scan/join instead of a second full aggregate, and no
      // partition-order-dependent double summation
      val rev = Tables.lineitem(s, dir)
        .select("l_partkey", "l_extendedprice", "l_discount")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          sum(lineRev.cast("decimal(30,6)")).as("revd"))
      val total = rev.agg(sum(col("revd")).as("totd"))
      rev.crossJoin(broadcast(total))
        .select(col("p_brand"), col("n_items"),
          col("revd").cast("double").as("revenue"),
          (col("revd").cast("double") / col("totd").cast("double"))
            .as("rev_share"))
        .orderBy(col("p_brand"))
    },
      """WITH rev AS (SELECT p_brand, COUNT(*) AS n_items,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(30,6))) AS revd
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1),
        |t AS (SELECT SUM(revd) AS totd FROM rev)
        |SELECT p_brand, n_items, CAST(revd AS DOUBLE) AS revenue,
        |  CAST(revd AS DOUBLE) / CAST(totd AS DOUBLE) AS rev_share
        |FROM rev CROSS JOIN t
        |ORDER BY p_brand""".stripMargin),

    // TPC-H Q5-shape local-supplier volume: revenue where the
    // customer's and supplier's nation coincide, rolled up through the
    // region dimension (6-table star). Broadcast hints go ONLY on the
    // fixed-cardinality dims (nation x region); customer and supplier
    // GROW LINEARLY with the corpus (~1.5 TB customer at 100 TB
    // lineitem), and an explicit broadcast() overrides AQE's size
    // check — so those joins are left unhinted: AQE picks BHJ at bench
    // scale (both sides are far under autoBroadcastJoinThreshold) and
    // degrades to SMJ at 100x instead of OOMing the executors.
    Query("q143_regional_volume", (s, dir) => {
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      val dims = n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
      val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
        .join(cust, col("o_custkey") === col("c_custkey"))
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(dims), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    },
      s"""SELECT r_name, n_name, COUNT(*) AS n_items,
        |  ${DSUM("l_extendedprice * (1.0 - l_discount)")} AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey
        |GROUP BY 1, 2
        |ORDER BY r_name, n_name""".stripMargin),

    // TPC-H Q3-shape shipping priority: segment-filtered 3-table star
    // join, exact-decimal revenue, deterministic top-10. Customer is
    // NOT broadcast-hinted — it grows linearly with the corpus, so the
    // join is left to AQE (BHJ under the size threshold, SMJ past it);
    // lineitem and orders (both fact-sized) shuffle once each.
    Query("q139_shipping_priority", (s, dir) => {
      val cut = to_timestamp(lit("1998-06-01 00:00:00"))
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < cut)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > cut)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate").asc,
          col("l_orderkey").asc)
        .limit(10)
    },
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  ${DSUM("l_extendedprice * (1.0 - l_discount)")} AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 10""".stripMargin),

    // TPC-H Q7-shape nation-to-nation trade flow: 5-table star join
    // (supplier and customer nations), exact-decimal revenue per flow
    // cell. Only nation (fixed cardinality) carries a broadcast hint;
    // supplier/customer grow with the corpus, so their joins are left
    // to AQE's size-based choice. Lineitem and orders shuffle once
    // each.
    Query("q140_nation_flow", (s, dir) => {
      val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
      val sup = Tables.supplier(s, dir)
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = Tables.customer(s, dir)
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("cust_nation"))
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("supp_nation"), col("cust_nation"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"))
    },
      s"""SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |  COUNT(*) AS n_items,
        |  ${DSUM("l_extendedprice * (1.0 - l_discount)")} AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ns ON s_nationkey = ns.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation nc ON c_nationkey = nc.n_nationkey
        |GROUP BY 1, 2
        |ORDER BY supp_nation, cust_nation""".stripMargin),

    // TPC-H Q14-shape promo revenue share: one quarter of lineitem
    // against the part dim (genuinely fixed-rate catalog → broadcast
    // hint stays, the r9 dim/fact rule), both revenue sums
    // DECIMAL-exact, ONE final double division for the share. The
    // shipdate range predicate pushes to the parquet scan.
    Query("q161_promo_revenue", (s, dir) => {
      val p = Tables.part(s, dir).select("p_partkey", "p_type")
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit(TpchQtrFrom)) &&
          col("l_shipdate") < to_timestamp(lit(TpchQtrTo)))
        .select("l_partkey", "l_extendedprice", "l_discount")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)).as("n_items"),
          dsum(when(col("p_type") === "PROMO", rev)).as("promo_revenue"),
          dsum(rev).as("total_revenue"))
        .select(col("n_items"), col("promo_revenue"), col("total_revenue"),
          (lit(100.0) * col("promo_revenue") / col("total_revenue"))
            .as("promo_share_pct"))
    },
      s"""SELECT COUNT(*) AS n_items,
        |  ${DSUM("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) END")} AS promo_revenue,
        |  ${DSUM("l_extendedprice * (1.0 - l_discount)")} AS total_revenue,
        |  100.0 * promo_revenue / total_revenue AS promo_share_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '$TpchQtrFrom'
        |  AND l_shipdate < TIMESTAMP '$TpchQtrTo'""".stripMargin),

    // TPC-H Q15-shape top supplier: per-supplier quarter revenue kept
    // in exact DECIMAL so the argmax equality join cannot float-drift;
    // the 1-row max is a broadcast rider, while the supplier join is
    // AQE-sized (supplier grows linearly with the corpus — NO hint,
    // the r9 scale rule). Lineitem aggregates in one shuffle.
    Query("q162_top_supplier", (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit(TpchQtrFrom)) &&
          col("l_shipdate") < to_timestamp(lit(TpchQtrTo)))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,6)")).as("revd"))
      val top = rev.agg(max(col("revd")).as("maxrev"))
      rev.join(broadcast(top), col("revd") === col("maxrev"))
        .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("revd").cast("double").as("revenue"))
        .orderBy("s_suppkey")
    },
      s"""WITH rev AS (SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6)))
        |      AS revd
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '$TpchQtrFrom'
        |    AND l_shipdate < TIMESTAMP '$TpchQtrTo'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(revd AS DOUBLE) AS revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE revd = (SELECT MAX(revd) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q16-shape supplier diversity per part attribute: the
    // supplier-part relation is DERIVED from lineitem (no partsupp
    // table here), negative-balance suppliers anti-joined out (the
    // exclusion list is a filtered cut of the linearly-growing
    // supplier table — AQE-sized, no hint), part broadcast as the dim.
    // COUNT(DISTINCT) partial-aggregates before its one shuffle.
    Query("q163_supplier_part_counts", (s, dir) => {
      val bad = Tables.supplier(s, dir).filter(col("s_acctbal") < 0)
        .select("s_suppkey")
      val p = Tables.part(s, dir).select("p_partkey", "p_brand",
        "p_type", "p_size")
      Tables.lineitem(s, dir).select("l_partkey", "l_suppkey")
        .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("p_brand"), col("p_type"), col("p_size"))
    },
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN
        |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin),

    // TPC-H Q18-shape large-volume orders: the quantity fold is ONE
    // orderkey-keyed aggregate with an exact-decimal HAVING, and both
    // downstream joins (orders fact, customer linear-growth) are left
    // to AQE — the filtered big-order set is tiny at any SF, so AQE
    // broadcasts it at runtime without an OOM-risking static hint.
    Query("q164_large_orders", (s, dir) => {
      val big = Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(30,6)")).as("sum_qtyd"))
        .filter(col("sum_qtyd") > lit(LargeOrderMinQty))
      big
        .join(Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir).select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"),
          col("sum_qtyd").cast("double").as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    },
      s"""WITH big AS (SELECT l_orderkey,
        |    SUM(CAST(l_quantity AS DECIMAL(30,6))) AS sum_qtyd
        |  FROM lineitem GROUP BY 1
        |  HAVING sum_qtyd > $LargeOrderMinQty)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(sum_qtyd AS DOUBLE) AS sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC""".stripMargin),

    // TPC-H Q19-shape disjunctive-predicate revenue: OR-of-ANDs over
    // (brand, size, quantity) bands — brand/size prune inside the
    // broadcast part dim, the quantity disjunction stays a codegen
    // filter on the probe side; both output aggregates are
    // decimal-exact. Bands interpolate from DisjBands into query AND
    // twin.
    Query("q165_disjunctive_revenue", (s, dir) => {
      val p = Tables.part(s, dir).select("p_partkey", "p_brand", "p_size")
      val cond = DisjBands.map { case (brand, szLo, szHi, qLo, qHi) =>
        col("p_brand") === brand &&
          col("p_size").between(szLo, szHi) &&
          col("l_quantity").between(qLo, qHi)
      }.reduce(_ || _)
      Tables.lineitem(s, dir)
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
    }, {
      val bands = DisjBands.map { case (brand, szLo, szHi, qLo, qHi) =>
        s"""  (p_brand = '$brand' AND p_size BETWEEN $szLo AND $szHi
           |    AND l_quantity BETWEEN $qLo AND $qHi)""".stripMargin
      }.mkString("\n  OR\n")
      s"""SELECT COUNT(*) AS n_items,
        |  ${DSUM("l_extendedprice * (1.0 - l_discount)")} AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE
        |$bands""".stripMargin
    }),

    // TPC-H Q22-shape dormant rich customers: above-mean balance
    // WITHOUT division — c_acctbal·n > Σbal compares exact decimals
    // against the 1-row broadcast rider — then an anti-join against
    // the recently-active custkey set (a filtered cut of the orders
    // fact: AQE-sized, no hint). Per-segment rollup.
    Query("q166_dormant_customers", (s, dir) => {
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
        .filter(col("c_acctbal") > 0)
      val pos = cust.agg(
        sum(col("c_acctbal").cast("decimal(30,6)")).as("sbal"),
        count(lit(1)).as("npos"))
      val active = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= to_timestamp(lit(DormantCutoff)))
        .select("o_custkey").distinct()
      cust.crossJoin(broadcast(pos))
        .filter(col("c_acctbal").cast("decimal(30,6)") * col("npos") >
          col("sbal"))
        .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          dsum(col("c_acctbal")).as("total_bal"))
        .orderBy("c_mktsegment")
    },
      s"""WITH cust AS (SELECT c_custkey, c_acctbal, c_mktsegment
        |    FROM customer WHERE c_acctbal > 0),
        |  pos AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS sbal,
        |      COUNT(*) AS npos FROM cust),
        |  active AS (SELECT DISTINCT o_custkey FROM orders
        |    WHERE o_orderdate >= TIMESTAMP '$DormantCutoff')
        |SELECT c_mktsegment, COUNT(*) AS n_cust,
        |  ${DSUM("c_acctbal")} AS total_bal
        |FROM cust CROSS JOIN pos
        |WHERE CAST(c_acctbal AS DECIMAL(30,6)) * npos > sbal
        |  AND c_custkey NOT IN (SELECT o_custkey FROM active)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // TPC-H Q4-shape late-shipment priority census: a LEFT SEMI join
    // on the orderkey equi-key with the 60-day lateness residual —
    // orders and lineitem each shuffle once on the key, no hint on
    // either fact, and the semi form short-circuits per probe row
    // instead of materializing matches.
    Query("q167_late_shipment_priority", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val l = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") >
            col("o_orderdate") + expr(s"INTERVAL $LateShipDays DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_late_orders"))
        .orderBy("o_orderpriority")
    },
      s"""SELECT o_orderpriority, COUNT(*) AS n_late_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL $LateShipDays DAY)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // Pairwise Pearson correlation over the lineitem numeric measures
    // from ONE decimal-exact aggregate pass (Σx/Σx²/Σxy in
    // DECIMAL(30,6), one final double formula per pair).
    Query("q169_numeric_correlation", (s, dir) =>
      operators.Profile.correlationMatrix(
        Tables.lineitem(s, dir), CorrCols), corrTwin("lineitem", CorrCols)),

    // Co-located bucketed join: both fact sides written bucketBy the
    // join key (external tables on a pid-namespaced tmp path, bucket
    // metadata in the session catalog), so the orderkey join runs with
    // ZERO Exchange on either side — the pre-shuffled layout a 100 TB
    // fact×fact pipeline amortizes across every downstream join. The
    // write cost is paid inside the query on purpose: this is the
    // layout path's honest end-to-end price (q55/q64 discipline).
    // ScaleSpec pins the no-shuffle plan property.
    Query("q172_bucketed_join", (s, dir) => {
      val root = tmpRootCleanedOnExit("graft_q172_bucketed", dir)
      // catalog is session-scoped (in-memory) — only PATHS can collide
      // across processes, and the tmp root is pid-namespaced
      Scale.writeBucketed(Tables.lineitem(s, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount"),
        "graft_q172_lineitem", "l_orderkey", 8, Some(s"$root/lineitem"))
      Scale.writeBucketed(Tables.orders(s, dir)
        .select("o_orderkey", "o_orderpriority"),
        "graft_q172_orders", "o_orderkey", 8, Some(s"$root/orders"))
      s.table("graft_q172_lineitem")
        .join(s.table("graft_q172_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy("o_orderpriority")
    },
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
        |  ${DSUM("l_extendedprice * (1.0 - l_discount)")} AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // TPC-H Q8-shape market share: per order-year, each supplier
    // nation's share of ASIA-customer revenue in one part type.
    // Nation/region/part are genuine fixed-cardinality dims
    // (broadcast); supplier/customer/orders grow with the corpus — no
    // hints, AQE sizes them (BHJ at bench SF, SMJ at 100×). Shares
    // divide two exact decimal sums once, at |years|×|nations| rows.
    Query("q186_market_share", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_discount")
      val p = Tables.part(s, dir)
        .filter(col("p_type") === MarketSharePartType).select("p_partkey")
      val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val supNat = Tables.nation(s, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("nation"))
      val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      val custNatAsia = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)
            .filter(col("r_name") === MarketShareRegion)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val ord = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val rev = li
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(supNat), col("s_nationkey") === col("sn_key"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(custNatAsia), col("c_nationkey") === col("cn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"), col("nation"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,6)")).as("revd"))
      val yearTot = rev.groupBy(col("o_year").as("yt"))
        .agg(sum(col("revd")).as("totd"))
      rev.join(broadcast(yearTot), col("o_year") === col("yt"))
        .select(col("o_year").cast("long").as("o_year"), col("nation"),
          col("revd").cast("double").as("revenue"),
          (col("revd").cast("double") / col("totd").cast("double"))
            .as("mkt_share"))
        .orderBy("o_year", "nation")
    },
      s"""WITH asia AS (SELECT n_nationkey FROM nation
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = '$MarketShareRegion'),
        |rev AS (SELECT year(o_orderdate) AS o_year, n2.n_name AS nation,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(30,6))) AS revd
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |    AND p_type = '$MarketSharePartType'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN asia ON c_nationkey = asia.n_nationkey
        |  GROUP BY 1, 2),
        |yt AS (SELECT o_year, SUM(revd) AS totd FROM rev GROUP BY 1)
        |SELECT CAST(rev.o_year AS BIGINT) AS o_year, nation,
        |  CAST(revd AS DOUBLE) AS revenue,
        |  CAST(revd AS DOUBLE) / CAST(totd AS DOUBLE) AS mkt_share
        |FROM rev JOIN yt USING (o_year)
        |ORDER BY o_year, nation""".stripMargin),

    // TPC-H Q21-shape "supplier who held up the order": in orders
    // with ≥2 suppliers, the UNIQUE supplier whose latest shipment is
    // the order's latest. Two orderkey-keyed aggregates + one keyed
    // join — never a per-step self-join of lineitem; supplier dim
    // joins the tiny per-winner count table (AQE, no hint: supplier
    // grows with the corpus).
    Query("q187_waiting_suppliers", (s, dir) => {
      val g1 = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("l_shipdate")).as("sm"))
      val g2 = g1.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("ns"), max(col("sm")).as("om"))
        .filter(col("ns") >= 2)
      val winners = g1
        .join(g2, Seq("l_orderkey"))
        .filter(col("sm") === col("om"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_at_max"), max(col("l_suppkey")).as("sk"))
        .filter(col("n_at_max") === 1)
        .groupBy(col("sk")).agg(count(lit(1)).as("n_held_orders"))
      winners
        .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
          col("sk") === col("s_suppkey"))
        .select(col("s_name"), col("n_held_orders"))
        .orderBy(col("n_held_orders").desc, col("s_name"))
    },
      """WITH g1 AS (SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS sm
        |  FROM lineitem GROUP BY 1, 2),
        |g2 AS (SELECT l_orderkey, COUNT(*) AS ns, MAX(sm) AS om
        |  FROM g1 GROUP BY 1),
        |w AS (SELECT g1.l_orderkey, COUNT(*) AS n_at_max,
        |    MAX(g1.l_suppkey) AS sk
        |  FROM g1 JOIN g2 USING (l_orderkey)
        |  WHERE g2.ns >= 2 AND g1.sm = g2.om
        |  GROUP BY 1),
        |c AS (SELECT sk, COUNT(*) AS n_held_orders FROM w
        |  WHERE n_at_max = 1 GROUP BY 1)
        |SELECT s_name, n_held_orders
        |FROM c JOIN supplier ON sk = s_suppkey
        |ORDER BY n_held_orders DESC, s_name""".stripMargin),

    // TPC-H Q17-shape small-quantity revenue per brand: items under
    // 20% of their part's average quantity, the avg compare
    // division-free in exact int64 (5·q·n < Σq — quantities are
    // integral, pinned by the twin's cast). Per-part stats are one
    // partkey-keyed aggregate joined back to the fact (AQE; part dim
    // broadcast for the brand label).
    Query("q188_small_quantity_revenue", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("ql"),
          col("l_extendedprice"))
      val stats = li.groupBy(col("l_partkey").as("pk"))
        .agg(count(lit(1)).as("n"), sum(col("ql")).as("sq"))
      li.join(stats, col("l_partkey") === col("pk"))
        .filter(lit(5L) * col("ql") * col("n") < col("sq"))
        .join(broadcast(Tables.part(s, dir).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("p_brand")
    },
      """WITH li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS ql,
        |    l_extendedprice FROM lineitem),
        |st AS (SELECT l_partkey AS pk, COUNT(*) AS n,
        |    CAST(SUM(ql) AS BIGINT) AS sq FROM li GROUP BY 1)
        |SELECT p_brand, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS revenue
        |FROM li JOIN st ON l_partkey = pk
        |JOIN part ON l_partkey = p_partkey
        |WHERE 5 * ql * n < sq
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Repeat-purchase report per market segment: customers, repeaters,
    // orders/customer, and the mean inter-order gap in days — the gap
    // fold is one custkey-keyed window (exact int day diffs), the two
    // means are one IEEE divide each at |segments| rows.
    Query("q191_repeat_purchase", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val perCust = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .withColumn("gap_days",
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
            .cast("long"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("gap_days")).as("sum_gap"),
          count(col("gap_days")).as("n_gaps"))
      perCust
        .join(Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("n_orders") >= 2, 1L).otherwise(0L))
            .as("n_repeat_customers"),
          sum(col("n_orders")).as("n_orders"),
          sum(col("sum_gap")).as("__sg"), sum(col("n_gaps")).as("__ng"))
        .select(col("c_mktsegment"), col("n_customers"),
          col("n_repeat_customers"), col("n_orders"),
          (col("n_orders").cast("double") /
            col("n_customers").cast("double")).as("orders_per_customer"),
          (col("__sg").cast("double") / col("__ng").cast("double"))
            .as("mean_gap_days"))
        .orderBy("c_mktsegment")
    },
      """WITH g AS (SELECT o_custkey,
        |    CAST(datediff('day', LAG(o_orderdate) OVER w, o_orderdate)
        |      AS BIGINT) AS gap_days
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey)),
        |pc AS (SELECT o_custkey, COUNT(*) AS n_orders,
        |    CAST(SUM(gap_days) AS BIGINT) AS sum_gap,
        |    COUNT(gap_days) AS n_gaps
        |  FROM g GROUP BY 1),
        |seg AS (SELECT c_mktsegment, COUNT(*) AS n_customers,
        |    CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_repeat_customers,
        |    CAST(SUM(n_orders) AS BIGINT) AS n_orders,
        |    CAST(SUM(sum_gap) AS BIGINT) AS sg,
        |    CAST(SUM(n_gaps) AS BIGINT) AS ng
        |  FROM pc JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1)
        |SELECT c_mktsegment, n_customers, n_repeat_customers, n_orders,
        |  CAST(n_orders AS DOUBLE) / CAST(n_customers AS DOUBLE)
        |    AS orders_per_customer,
        |  CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) AS mean_gap_days
        |FROM seg ORDER BY c_mktsegment""".stripMargin),

    // Top-3 part brands by revenue within each supplier nation —
    // the top-k-per-group window shape: revenue is one exact-decimal
    // aggregate at |nations|×|brands| rows, the rank a window over
    // that TINY table with a total (revenue DESC, brand) order, so
    // ties are deterministic. Nation/part are genuine dims
    // (broadcast); supplier joins unhinted.
    Query("q193_top_brands_per_nation", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.lineitem(s, dir)
        .select("l_suppkey", "l_partkey", "l_extendedprice", "l_discount")
        .join(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name").as("nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.part(s, dir)
          .select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("nation"), col("p_brand"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,6)")).as("revd"))
      val w = Window.partitionBy("nation")
        .orderBy(col("revd").desc, col("p_brand").asc)
      rev.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("nation"), col("rnk").cast("long").as("rnk"),
          col("p_brand"), col("revd").cast("double").as("revenue"))
        .orderBy("nation", "rnk")
    },
      """WITH rev AS (SELECT n_name AS nation, p_brand,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(30,6))) AS revd
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |r AS (SELECT nation, p_brand, revd,
        |    row_number() OVER (PARTITION BY nation
        |      ORDER BY revd DESC, p_brand) AS rnk
        |  FROM rev)
        |SELECT nation, CAST(rnk AS BIGINT) AS rnk, p_brand,
        |  CAST(revd AS DOUBLE) AS revenue
        |FROM r WHERE rnk <= 3
        |ORDER BY nation, rnk""".stripMargin),

    // Fulfilment lead-time distribution: ship-minus-order day lag
    // histogram per order priority — one orderkey-keyed fact×fact
    // join (AQE, no hints), exact int day diffs, |priorities|×|lags|
    // output.
    Query("q197_shipping_lag_distribution", (s, dir) =>
      Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
        .join(Tables.orders(s, dir)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
            .as("lag_days"))
        .agg(count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority", "lag_days"),
      """SELECT o_orderpriority,
        |  CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT)
        |    AS lag_days,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Discount-band economics: items, mean quantity (exact int64
    // sums, one divide) and revenue per percent-of-discount band
    // (round-half-up banding — the established float quant idiom, so
    // 0.29 lands in band 29 on BOTH engines).
    Query("q198_discount_bands", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(floor(col("l_discount") * lit(100) + lit(0.5))
            .as("discount_pct"),
          col("l_quantity").cast("long").as("ql"),
          col("l_extendedprice"), col("l_discount"))
        .groupBy("discount_pct")
        .agg(count(lit(1)).as("n_items"),
          (sum(col("ql")).cast("double") / count(lit(1)).cast("double"))
            .as("mean_quantity"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy("discount_pct"),
      """SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
        |    AS discount_pct,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS mean_quantity,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Exact inter-order gap quantiles per market segment — q191's gap
    // machinery through the q199 domain-compressed quantile operator
    // (day gaps compress hard: |distinct| ≪ |orders|).
    Query("q203_order_gap_quantiles", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val gaps = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .withColumn("gap_days",
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
            .cast("long"))
        .filter(col("gap_days").isNotNull)
        .join(Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
      operators.Profile.domainQuantiles(gaps, "c_mktsegment", "gap_days",
        DomainQuantilePcts)
    }, {
      val qcols = DomainQuantilePcts.map(p =>
        s"  MIN(CASE WHEN cum * 100 >= n * $p THEN v END) AS p$p")
        .mkString(",\n")
      s"""WITH g AS (SELECT o_custkey,
        |    CAST(datediff('day', LAG(o_orderdate) OVER w, o_orderdate)
        |      AS BIGINT) AS gap_days
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey)),
        |j AS (SELECT c_mktsegment AS g, gap_days AS v0 FROM g
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE gap_days IS NOT NULL),
        |c AS (SELECT g, v0 AS v, COUNT(*) AS c FROM j GROUP BY 1, 2),
        |cu AS (SELECT g, v,
        |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM c)
        |SELECT g AS c_mktsegment, MAX(n) AS n,
        |$qcols
        |FROM cu GROUP BY 1 ORDER BY c_mktsegment""".stripMargin
    }),

    // TPC-H Q13-shape order-count distribution (VERDICT r10 item 6):
    // the OUTER-join + COUNT grouping plan shape the suite lacked —
    // every customer must survive the join so zero-order customers
    // land in the c_count = 0 bucket, which is exactly what an inner
    // join (or a pre-join filter on customers) silently destroys.
    // The order-class predicate filters the ORDERS side only
    // (equivalent to Q13's ON-clause comment filter). customer and
    // orders both grow linearly → no broadcast hint, AQE decides;
    // count(o_orderkey) ignores the outer join's nulls by definition.
    Query("q204_order_count_distribution", (s, dir) => {
      // 100× shape note (r12): the naive Q13 form outer-joins the RAW
      // orders fact onto customer — but AQE's OptimizeSkewedJoin can
      // only split the PRESERVED side of an outer join, so a
      // power-law custkey (one whale customer with millions of
      // orders) serializes on one reducer with no runtime escape.
      // This form pre-aggregates orders per custkey FIRST — partial
      // (map-side) aggregation absorbs any key skew before the
      // shuffle — and outer-joins the ≤|customers|-row count table,
      // where both sides carry ONE row per key and skew cannot
      // exist. Same result: count per customer, 0 for order-less
      // customers. (custkey_skew_aqe stresses the inner sub-shape;
      // the outer-join non-splittability is why this query does not
      // lean on AQE.)
      val ords = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= Q13ExcludedPriority)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      Tables.customer(s, dir).select("c_custkey")
        .join(ords, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      s"""WITH c_orders AS (SELECT c_custkey,
        |    COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey
        |    AND o_orderpriority <> '$Q13ExcludedPriority'
        |  GROUP BY 1)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM c_orders GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // TPC-H Q20-shape nested semi-join composition (VERDICT r10 item
    // 6): suppliers whose all-time shipped quantity of name-prefix
    // parts exceeds Q20CapacityMult × their shipments inside the
    // target year — the availqty > ½·yearqty test with capacity
    // DERIVED from lineitem history (no partsupp table in this
    // corpus, the q163 precedent). Plan shape: part-prefix IN-
    // subquery (broadcast dim semi-join) feeding a (supp, part)
    // aggregate whose BOTH sums fold in ONE pass (conditional sum —
    // no second scan for the window), then a supplier semi-join on
    // the tiny qualifying-key set (AQE broadcasts it at runtime).
    // Quantities sum in exact DECIMAL(30,6); the capacity test is an
    // exact decimal compare — no division, no float boundary.
    Query("q205_excess_capacity_suppliers", (s, dir) => {
      val pset = Tables.part(s, dir)
        .filter(col("p_name").startsWith(Q20PartPrefix))
        .select("p_partkey")
      val sp = Tables.lineitem(s, dir)
        .join(broadcast(pset), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast("decimal(30,6)")).as("qty_all"),
          sum(when(col("l_shipdate") >= to_timestamp(lit(Q20YearFrom)) &&
              col("l_shipdate") < to_timestamp(lit(Q20YearTo)),
            col("l_quantity")).otherwise(lit(0.0))
            .cast("decimal(30,6)")).as("qty_win"))
        .filter(col("qty_win") > 0 &&
          col("qty_all") > col("qty_win") * lit(Q20CapacityMult))
      Tables.supplier(s, dir)
        .join(sp.select(col("l_suppkey")).distinct(),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .orderBy("s_suppkey")
    },
      s"""WITH sp AS (SELECT l_suppkey,
        |    SUM(CAST(l_quantity AS DECIMAL(30,6))) AS qty_all,
        |    SUM(CAST(CASE WHEN l_shipdate >= TIMESTAMP '$Q20YearFrom'
        |      AND l_shipdate < TIMESTAMP '$Q20YearTo'
        |      THEN l_quantity ELSE 0 END AS DECIMAL(30,6))) AS qty_win
        |  FROM lineitem
        |  WHERE l_partkey IN
        |    (SELECT p_partkey FROM part WHERE p_name LIKE '$Q20PartPrefix%')
        |  GROUP BY l_suppkey, l_partkey)
        |SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM sp
        |  WHERE qty_win > 0 AND qty_all > qty_win * $Q20CapacityMult)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q6-shape forecast revenue: the pure scan-filter-aggregate
    // plan — no join at all; the discount/quantity band and the year
    // cut must all PUSH DOWN to the parquet scan, and the single
    // decimal-exact sum partial-aggregates map-side to one row per
    // partition. The simplest plan in the suite, present precisely so
    // the gate covers the no-shuffle degenerate shape.
    Query("q207_forecast_revenue", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit(TpchYearFrom)) &&
          col("l_shipdate") < to_timestamp(lit(TpchYearTo)) &&
          col("l_discount") >= Q6DiscLo && col("l_discount") <= Q6DiscHi &&
          col("l_quantity") < Q6MaxQty)
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice") * col("l_discount"))
            .as("revenue")),
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  ${DSUM("l_extendedprice * l_discount")} AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '$TpchYearFrom'
        |  AND l_shipdate < TIMESTAMP '$TpchYearTo'
        |  AND l_discount >= $Q6DiscLo AND l_discount <= $Q6DiscHi
        |  AND l_quantity < $Q6MaxQty""".stripMargin),

    // TPC-H Q9-shape product profit by nation and year: name-pattern
    // part cut (broadcast dim), supplier→nation for the grouping
    // (nation broadcast, supplier left to AQE), profit = revenue minus
    // a retail-derived cost (no partsupp table — q205 precedent). The
    // per-row amount is ONE fixed IEEE product chain evaluated in the
    // same order by both engines, then decimal-exact summed.
    Query("q208_product_profit", (s, dir) => {
      val p = Tables.part(s, dir)
        .filter(col("p_name").contains(Q9NamePattern))
        .select("p_partkey", "p_retailprice")
      val sup = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      Tables.lineitem(s, dir)
        .select("l_partkey", "l_suppkey", "l_shipdate",
          "l_extendedprice", "l_discount", "l_quantity")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("nation"),
          year(col("l_shipdate")).cast("long").as("o_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          col("l_quantity") * col("p_retailprice") * lit(0.1))
          .as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      s"""SELECT n_name AS nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS o_year,
        |  ${DSUM("l_extendedprice * (1.0 - l_discount) - " +
          "l_quantity * p_retailprice * 0.1")} AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%$Q9NamePattern%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin),

    // TPC-H Q10-shape returned-item losses: customers ranked by the
    // revenue of their 'R'-flagged lines against quarter-window
    // orders — fact×fact join left to AQE, customer join on the
    // SHRUNKEN aggregate side, nation broadcast. Deterministic top-20
    // (revenue desc, then custkey).
    Query("q209_returned_revenue", (s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= to_timestamp(lit(TpchQtrFrom)) &&
          col("o_orderdate") < to_timestamp(lit(TpchQtrTo)))
        .select("o_orderkey", "o_custkey")
      val l = Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val rev = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      rev.join(Tables.customer(s, dir)
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },
      s"""WITH rev AS (SELECT o_custkey,
        |    ${DSUM("l_extendedprice * (1.0 - l_discount)")} AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '$TpchQtrFrom'
        |    AND o_orderdate < TIMESTAMP '$TpchQtrTo'
        |  GROUP BY 1)
        |SELECT c_custkey, c_name, c_acctbal, n_name, revenue
        |FROM rev
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin),

    // TPC-H Q11-shape important inventory: per-part shipped-quantity
    // mass from ONE nation's suppliers, kept when it exceeds
    // 1/Q11FracDen of that nation's total — the HAVING-vs-global-
    // scalar shape. The filter is the division-free exact-decimal
    // compare qv·den > total against a 1-row broadcast rider (the
    // q166 above-mean discipline); the double `value` column is
    // display-only, AFTER the exact filter decided membership.
    Query("q210_important_parts", (s, dir) => {
      val natSup = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .filter(col("n_name") === Q11Nation).select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val qv = Tables.lineitem(s, dir).select("l_partkey", "l_suppkey",
          "l_quantity")
        .join(natSup, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity").cast("decimal(30,6)")).as("qvd"))
      val total = qv.agg(sum(col("qvd")).as("totald"))
      qv.crossJoin(broadcast(total))
        .filter(col("qvd") * lit(Q11FracDen) > col("totald"))
        .select(col("l_partkey").as("p_partkey"),
          col("qvd").cast("double").as("value"))
        .orderBy(col("value").desc, col("p_partkey").asc)
    },
      s"""WITH qv AS (SELECT l_partkey,
        |    SUM(CAST(l_quantity AS DECIMAL(30,6))) AS qvd
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = '$Q11Nation')
        |  GROUP BY 1)
        |SELECT l_partkey AS p_partkey, CAST(qvd AS DOUBLE) AS value
        |FROM qv
        |WHERE qvd * $Q11FracDen > (SELECT SUM(qvd) FROM qv)
        |ORDER BY value DESC, p_partkey ASC""".stripMargin),

    // TPC-H Q12-shape shipping-lag priority audit: per 30-day
    // ship-after-order lag band, how many lines belong to critical
    // (URGENT/HIGH) orders vs the rest — the conditional-count split
    // over a fact×fact join. Lag bands are exact integer day
    // arithmetic (datediff → intDiv); counts exact int64.
    Query("q211_lag_priority", (s, dir) => {
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderdate",
        "o_orderpriority")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= to_timestamp(lit(TpchYearFrom)) &&
          col("l_shipdate") < to_timestamp(lit(TpchYearTo)))
        .select("l_orderkey", "l_shipdate")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(intDiv(datediff(col("l_shipdate"), col("o_orderdate"))
          .cast("long"), lit(Q12BandDays.toLong)).as("lag_band"),
          col("o_orderpriority"))
        .groupBy("lag_band")
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            lit(1L)).otherwise(lit(0L))).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            lit(0L)).otherwise(lit(1L))).as("low_line_count"))
        .orderBy("lag_band")
    },
      s"""SELECT datediff('day', o_orderdate, l_shipdate) // $Q12BandDays
        |    AS lag_band,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '$TpchYearFrom'
        |  AND l_shipdate < TIMESTAMP '$TpchYearTo'
        |GROUP BY 1
        |ORDER BY lag_band""".stripMargin),

    // TPC-H Q2-shape minimum-cost supplier per part: Q2's correlated
    // MIN-subquery expressed as the SCALABLE window form — distinct
    // (part, supplier) pairs derived from lineitem (no partsupp),
    // supplier attributes joined once, then ONE row_number window per
    // part keyed on (acctbal asc, suppkey asc) picks the cheapest
    // deterministically. No correlated re-scan per part, no self-join.
    Query("q212_min_cost_supplier", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pcut = Tables.part(s, dir)
        .filter(col("p_type") === Q2PartType && col("p_size") <= Q2MaxSize)
        .select("p_partkey", "p_brand", "p_size")
      val ps = Tables.lineitem(s, dir).select("l_partkey", "l_suppkey")
        .join(broadcast(pcut), col("l_partkey") === col("p_partkey"))
        .select("p_partkey", "p_brand", "p_size", "l_suppkey").distinct()
      val w = Window.partitionBy("p_partkey")
        .orderBy(col("s_acctbal").asc, col("s_suppkey").asc)
      ps.join(Tables.supplier(s, dir)
          .select("s_suppkey", "s_name", "s_acctbal"),
          col("l_suppkey") === col("s_suppkey"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
          col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .orderBy(col("s_acctbal").desc, col("p_partkey").asc)
    },
      s"""WITH ps AS (SELECT DISTINCT p_partkey, p_brand, p_size,
        |    l_suppkey
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = '$Q2PartType' AND p_size <= $Q2MaxSize),
        |r AS (SELECT p_partkey, p_brand, p_size, s_suppkey, s_name,
        |    s_acctbal,
        |    row_number() OVER (PARTITION BY p_partkey
        |      ORDER BY s_acctbal ASC, s_suppkey ASC) AS rk
        |  FROM ps JOIN supplier ON l_suppkey = s_suppkey)
        |SELECT p_partkey, p_brand, p_size, s_suppkey, s_name, s_acctbal
        |FROM r WHERE rk = 1
        |ORDER BY s_acctbal DESC, p_partkey ASC""".stripMargin),

    // Supplier delivery-SLA report: per-supplier late-line rate
    // (ship more than LateShipDays days after order — exact integer
    // day diff, q167's lateness definition), floored at SlaMinLines
    // shipped lines. Fact×fact join left to AQE; the supplier name
    // joins onto the |suppliers|-row aggregate, not the fact table.
    Query("q216_supplier_sla", (s, dir) => {
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderdate")
      val rated = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(datediff(col("l_shipdate"), col("o_orderdate")) >
              lit(LateShipDays),
            lit(1L)).otherwise(lit(0L))).as("n_late"))
        .filter(col("n_lines") >= SlaMinLines)
      rated
        .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_lines"),
          col("n_late"),
          // ORDER BY a raw double ratio is EXEMPT from the repo's
          // "never order by a raw float sum" rule here (VERDICT r11
          // nit): late_rate is ONE IEEE divide of two exact int64
          // operands — a single correctly-rounded operation both
          // engines evaluate identically — unlike a float SUM, whose
          // value depends on accumulation order. The suppkey tiebreak
          // still pins equal-rate rows.
          (col("n_late").cast("double") / col("n_lines").cast("double"))
            .as("late_rate"))
        .orderBy(col("late_rate").desc, col("s_suppkey").asc)
    },
      s"""WITH rated AS (SELECT l_suppkey,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(CASE WHEN datediff('day', o_orderdate, l_shipdate)
        |        > $LateShipDays
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1
        |  HAVING COUNT(*) >= $SlaMinLines)
        |SELECT s_suppkey, s_name, n_lines, n_late,
        |  CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE) AS late_rate
        |FROM rated JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY late_rate DESC, s_suppkey ASC""".stripMargin)
  )
}
