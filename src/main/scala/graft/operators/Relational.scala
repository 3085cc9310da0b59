package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Det
import graft.functions.Det.{dec4, dsum, davg}

/** Batch relational operators: scan→filter→aggregate, star joins,
  * semi/anti joins, grouped top-N, rollup, conditional/string/date/math
  * scalar functions.
  *
  * Scale design: filters sit directly on scanned columns (parquet
  * predicate pushdown), constant dims are broadcast, fact-fact joins are
  * left to Catalyst/AQE (SMJ with skew handling at scale), and every
  * aggregate is a two-phase hash aggregate with map-side partials.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: scan → pushed filter → hash agg →
    * sort. The heart of the engine's batch path. */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" <= lit("1999-06-30").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        round(sum(dec4($"l_extendedprice") *
          (lit(1).cast("decimal(18,4)") - dec4($"l_discount"))).cast("double"), 2)
          .as("sum_disc_price"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        davg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Star join: lineitem ⋈ orders ⋈ customer ⋈ nation(bcast) ⋈
    * region(bcast), revenue per nation in ASIA. */
  def regionRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    val o  = Tables.orders(spark, sfDir)
    val c  = Tables.customer(spark, sfDir)
    val n  = Tables.nationB(spark, sfDir)
    val r  = Tables.regionB(spark, sfDir)
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(n, $"c_nationkey" === $"n_nationkey")
      .join(r, $"n_regionkey" === $"r_regionkey")
      .filter($"r_name" === "ASIA")
      .groupBy($"n_name")
      .agg(round(sum(dec4($"l_extendedprice") *
        (lit(1).cast("decimal(18,4)") - dec4($"l_discount"))).cast("double"), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), $"n_name")
  }

  /** Top-10 customers by revenue (global top-k → TakeOrderedAndProject). */
  def topCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    val o  = Tables.orders(spark, sfDir)
    val c  = Tables.customer(spark, sfDir)
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .groupBy($"c_custkey", $"c_name")
      .agg(round(sum(dec4($"l_extendedprice") *
        (lit(1).cast("decimal(18,4)") - dec4($"l_discount"))).cast("double"), 2)
        .as("revenue"))
      .orderBy(desc("revenue"), $"c_custkey")
      .limit(10)
  }

  /** Grouped top-N: 3 priciest parts per brand via ranking window. */
  def topPartsPerBrand(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"p_brand")
      .orderBy(desc("p_retailprice"), $"p_partkey")
    Tables.part(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"p_brand", $"rn".cast("long").as("rn"), $"p_partkey", $"p_name",
        round($"p_retailprice", 2).as("price"))
      .orderBy($"p_brand", $"rn")
  }

  /** Left-semi join: stats over customers that have at least one order. */
  def segmentStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        dsum($"c_acctbal").as("sum_bal"),
        davg($"c_acctbal").as("avg_bal"))
      .orderBy($"c_mktsegment")
  }

  /** Left-anti join: customers with no order since 2001, per nation.
    * The date filter is pushed into the orders scan before the anti join. */
  def customersWithoutOrders(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter($"o_orderdate" >= lit("2001-01-01").cast("timestamp"))
    val n = Tables.nationB(spark, sfDir)
    c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
      .join(n, $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"n_name")
  }

  /** ROLLUP over (returnflag, linestatus) — subtotal/grand-total rows. */
  def rollupReturns(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"sum_qty", $"n")
      .orderBy($"returnflag", $"linestatus")
  }

  /** CASE-bucketed conditional aggregation over orders. */
  def priorityCase(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .withColumn("bucket",
        when($"o_totalprice" > 300000, "large")
          .when($"o_totalprice" > 100000, "medium")
          .otherwise("small"))
      .groupBy($"o_orderpriority", $"bucket")
      .agg(count(lit(1)).as("n"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderpriority", $"bucket")
  }

  /** Per-row string functions over part (upper/substr/length/concat/split). */
  def partStrings(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, sfDir)
      .select(
        $"p_partkey",
        upper($"p_brand").as("brand_u"),
        lower($"p_type").as("type_l"),
        substring($"p_type", 1, 6).as("type6"),
        length($"p_name").cast("long").as("name_len"),
        concat($"p_brand", lit("#"), $"p_type").as("brand_type"),
        element_at(split($"p_type", " "), 1).as("type_head"))
      .orderBy($"p_partkey")
  }

  /** Date/time functions: orders bucketed by year/month. */
  def ordersByMonth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .groupBy(year($"o_orderdate").cast("long").as("y"), month($"o_orderdate").cast("long").as("m"))
      .agg(count(lit(1)).as("n_orders"),
        dsum($"o_totalprice").as("sum_price"))
      .orderBy($"y", $"m")
  }

  /** Math functions + histogram: group by integer quantity. */
  def qtyHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_quantity".cast("int").as("qty"))
      .agg(count(lit(1)).as("n"),
        davg($"l_extendedprice").as("avg_price"),
        round(sqrt(abs(sum(dec4($"l_extendedprice")).cast("double"))), 4)
          .as("sqrt_sum"))
      .orderBy($"qty")
  }

  /** Set ops (intersect/except, set semantics): (nation, segment) pairs
    * with vs without a recent purchaser. */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter($"o_orderdate" >= lit("2001-06-01").cast("timestamp"))
    val recent = c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_nationkey", $"c_mktsegment")
    val all = c.select($"c_nationkey", $"c_mktsegment")
    val both = all.intersect(recent).withColumn("tag", lit("has_recent"))
    val only = all.except(recent).withColumn("tag", lit("no_recent"))
    both.unionByName(only)
      .groupBy($"tag")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"tag")
  }

  /** TPC-H Q5 shape: revenue per nation where the customer and supplier
    * share a nation (local supply chains), one region, one year. */
  def localSupplierRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nationB(spark, sfDir)
    val r = Tables.regionB(spark, sfDir)
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(s, $"l_suppkey" === $"s_suppkey" &&
        $"c_nationkey" === $"s_nationkey")
      .join(n, $"s_nationkey" === $"n_nationkey")
      .join(r, $"n_regionkey" === $"r_regionkey")
      .filter($"r_name" === "EUROPE")
      .groupBy($"n_name")
      .agg(round(sum(dec4($"l_extendedprice") *
        (lit(1).cast("decimal(18,4)") - dec4($"l_discount"))).cast("double"), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), $"n_name")
  }

  /** lineitem ⋈ part FK join: revenue by part-type family. */
  def partTypeRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    li.join(p, $"l_partkey" === $"p_partkey")
      .groupBy(element_at(split($"p_type", " "), 1).as("type_family"))
      .agg(round(sum(dec4($"l_extendedprice") *
        (lit(1).cast("decimal(18,4)") - dec4($"l_discount"))).cast("double"), 2)
        .as("revenue"),
        countDistinct($"p_partkey").as("n_parts"),
        count(lit(1)).as("n_items"))
      .orderBy($"type_family")
  }

  /** TPC-H Q8 shape — national market share: of all revenue from EUROPE
    * customers, the fraction supplied by NATION_3, per order year. A
    * 7-relation star join feeding one conditional aggregation.
    *
    * Determinism: both revenue sums are exact decimals (4-dp inputs ⇒
    * 8-dp products, no float error), so the share is a RATIONAL; it is
    * scaled to integer 10⁻⁸ units and rounded half-up in exact int64
    * arithmetic — bit-identical in both engines by construction (the
    * double-division-then-round alternative ties at the 5th decimal on
    * each engine's last ulp). */
  def marketShare(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // per-row revenue in exact int64 10⁻⁴ units: cents × (100 − disc%);
    // the 2-dp inputs make round(x·100) a safe integer recovery
    val volI = round($"l_extendedprice" * 100, 0).cast("long") *
      (lit(100L) - round($"l_discount" * 100, 0).cast("long"))
    val ns = Tables.nationB(spark, sfDir)
      .select($"n_nationkey".as("s_nkey"), $"n_name".as("s_nation"))
    Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, sfDir), $"o_custkey" === $"c_custkey")
      .join(Tables.nationB(spark, sfDir), $"c_nationkey" === $"n_nationkey")
      .join(Tables.regionB(spark, sfDir), $"n_regionkey" === $"r_regionkey")
      .filter($"r_name" === "EUROPE")
      .join(Tables.supplier(spark, sfDir), $"l_suppkey" === $"s_suppkey")
      .join(ns, $"s_nationkey" === $"s_nkey")
      .groupBy(year($"o_orderdate").cast("long").as("o_year"))
      .agg(
        // sums stay int64 (exact, fast); the rounding arithmetic below
        // widens to DECIMAL(38,0) because num_i·2·10⁴ would overflow
        // int64 once a year-group's revenue units pass ~4.6e14 (≈ sf10)
        // — Spark would wrap silently, DuckDB errors, both wrong
        sum(when($"s_nation" === "NATION_3", volI).otherwise(0L)).as("num_i"),
        sum(volI).as("den_i"))
      .select($"o_year",
        (call_function("div",
          $"num_i".cast("decimal(38,0)") * 20000L + $"den_i",
          $"den_i".cast("decimal(38,0)") * 2L) / 10000.0).as("mkt_share"),
        // total to 2 dp: round(den/10⁴) half-up in cents
        (call_function("div", $"den_i".cast("decimal(38,0)") * 2L + 100L,
          lit(200L).cast("decimal(38,0)")) / 100.0).as("total_revenue"))
      .orderBy($"o_year")
  }

  /** TPC-H Q16 shape — supplier diversity per (brand, size): distinct
    * suppliers shipping each surviving part group, one brand excluded,
    * kept only where supplier diversity beats the global average (a
    * decorrelated scalar subquery in the HAVING position). Exercises
    * countDistinct under grouping + scalar-subquery filtering; the
    * average is a broadcast one-row cross join, and the > comparison is
    * exact in both engines (integer sums/counts ⇒ identical IEEE
    * division). */
  def brandSupplierStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // r15 (measured, OPTIMIZATION_r15.md): `base` feeds BOTH the output
    // and the avg_sup scalar — left as a lazy plan, the lineitem join +
    // two-distinct Expand aggregation ran TWICE per execution (Catalyst
    // does not dedup shared subtrees across a crossJoin boundary).
    // Materializing the |brands×sizes|-row aggregate once (bounded by
    // the brand/size domain at every SF, never by lineitem) halves the
    // query: one fact-table pass instead of two. 1.4 s → ~0.75 s.
    val base = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir), $"l_partkey" === $"p_partkey")
      .filter($"p_brand" =!= "Brand#1")
      .groupBy($"p_brand", $"p_size")
      .agg(countDistinct($"l_suppkey").as("n_suppliers"),
        countDistinct($"p_partkey").as("n_parts"))
      .localCheckpoint()
    val avgSup = base.agg(avg($"n_suppliers").as("avg_sup"))
    base.crossJoin(broadcast(avgSup))
      .filter($"n_suppliers" > $"avg_sup")
      .select($"p_brand", $"p_size", $"n_suppliers", $"n_parts")
      .orderBy($"p_brand", $"p_size")
  }

  /** IN / NOT IN predicate subqueries (TPC-H Q20 shape): brands whose
    * parts appear in some very-large-quantity lineitem but never in a
    * returned near-max-quantity one. Written through the SQL entry so
    * Catalyst's subquery rewrites are what runs: the IN becomes a
    * left-semi join and the NOT IN a null-aware anti join — both
    * hash joins on p_partkey, no per-row subquery execution. The keys
    * are non-null on both sides, so NOT IN's three-valued-logic trap
    * (one NULL empties the result) cannot fire — but the plan is still
    * the null-aware one, which is the surface this query pins. */
  def brandsInNotIn(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.part(spark, sfDir).createOrReplaceTempView("graft_part")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """SELECT p_brand, count(*) AS n_parts,
        |round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE), 2)
        |  AS sum_price
        |FROM graft_part
        |WHERE p_partkey IN (SELECT l_partkey FROM graft_lineitem
        |                    WHERE l_quantity >= 45)
        |  AND p_partkey NOT IN (SELECT l_partkey FROM graft_lineitem
        |                        WHERE l_returnflag = 'R' AND l_quantity >= 49)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
  }

  /** TPC-H Q22 shape — idle capital: customers with above-average
    * positive balance and no recent orders, summarized per segment.
    * Exercises uncorrelated scalar subqueries + NOT EXISTS (anti join).
    *
    * Determinism: `bal > avg(bal)` compared as doubles would hang rows
    * within an ulp of each engine's float-summation order; instead the
    * 2-dp balances are exact integer cents and the predicate is the
    * cross-multiplied rational `cents·n > sum_cents` — bit-identical in
    * both engines (products stay far under 2⁶³ even at sf10k). */
  def idleCapital(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("graft_customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("graft_orders")
    spark.sql(
      """WITH pos AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
        |  FROM graft_customer)
        |SELECT c_mktsegment, count(*) AS n_customers,
        |  round(sum(cents) / 100.0, 2) AS total_bal
        |FROM pos
        |WHERE cents * (SELECT count(*) FROM pos WHERE cents > 0)
        |      > (SELECT sum(cents) FROM pos WHERE cents > 0)
        |  AND NOT EXISTS (SELECT 1 FROM graft_orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  /** q22: recursive-CTE hierarchy rollup (Spark 4's WITH RECURSIVE /
    * UnionLoop — the iterative-query surface: org charts, BOM
    * explosions, graph reachability). The part table is read as an
    * implicit binary assembly tree — part k's sub-assemblies are parts
    * 2k and 2k+1 — and each anchor part (keys 1..7) is rolled up over
    * its whole subtree: component count, tree height, total retail
    * price.
    *
    * Scale design: each recursion level is ONE hash equi-join
    * (c.p_partkey DIV 2 = level's frontier keys) — never a
    * nested-loop — so a level costs one shuffle bounded by the frontier
    * size, and the loop depth is the hierarchy height (log n here,
    * BOM depth in practice), the same iterate-until-empty shape as
    * [[Graph.connectedComponents]]. Sums are exact DECIMAL cents.
    * Key 0 is excluded from the tree: 0 DIV 2 = 0 would make it its own
    * child and the recursion non-terminating. */
  def subtreeRollup(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.part(spark, sfDir).createOrReplaceTempView("graft_part")
    spark.sql(
      """WITH RECURSIVE sub(anchor, k, depth, price) AS (
        |  SELECT p_partkey, p_partkey, 0,
        |    CAST(p_retailprice AS DECIMAL(18,4))
        |  FROM graft_part WHERE p_partkey BETWEEN 1 AND 7
        |  UNION ALL
        |  SELECT s.anchor, c.p_partkey, s.depth + 1,
        |    CAST(c.p_retailprice AS DECIMAL(18,4))
        |  FROM sub s JOIN graft_part c
        |    ON c.p_partkey DIV 2 = s.k AND c.p_partkey >= 2)
        |SELECT anchor, count(*) AS n_parts,
        |  max(depth) AS max_depth,
        |  round(CAST(sum(price) AS DOUBLE), 2) AS subtree_price
        |FROM sub GROUP BY anchor ORDER BY anchor""".stripMargin)
  }

  /** TPC-H Q17 shape — small-quantity revenue per brand: lineitems whose
    * quantity is below 20% of their part's average quantity, summed as
    * the "average yearly" revenue they represent (the Q17 /7.0
    * constant, one row per brand instead of Q17's single scalar).
    *
    * Determinism: quantities are integral, so the 20%-of-average
    * predicate is the cross-multiplied exact integer `5·qty·cnt < Σqty`
    * — no float threshold to straddle an ulp. Revenue sums in exact
    * integer cents, divided once at the end.
    *
    * Scale design: the per-part average is ONE hash-agg over lineitem
    * keyed on l_partkey; the join back to lineitem re-uses the same key
    * (co-partitioned — AQE plans a single exchange for the pair), and
    * the part dimension is broadcast. This is the correlated-aggregate
    * join done the way a 100 TB fact table needs: never a per-row
    * subquery, one shuffle of the fact side total. */
  def smallQtyRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, sfDir).select(
      $"l_partkey",
      $"l_quantity".cast("long").as("qty"),
      expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
    val stats = l.groupBy($"l_partkey")
      .agg(sum($"qty").as("sumq"), count(lit(1)).as("cnt"))
    val brands = Tables.part(spark, sfDir).select($"p_partkey", $"p_brand")
    l.join(stats, "l_partkey")
      .filter($"qty" * $"cnt" * lit(5L) < $"sumq")
      .join(broadcast(brands), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_small"),
        round(sum($"cents") / lit(700.0), 2).as("avg_yearly"))
      .orderBy($"p_brand")
  }

  /** TPC-H Q21 shape — suppliers who were the SOLE latest shipper on a
    * multi-supplier order (the fixture lacks commit/receipt dates, so
    * "kept waiting" is re-expressed on l_shipdate with identical query
    * structure): EXISTS another supplier on the order, NOT EXISTS
    * another supplier shipping at the order's max date, self-correlated
    * three ways on the same fact table.
    *
    * Scale design: the oracle states it as literal correlated
    * EXISTS / NOT EXISTS; the Spark side DECORRELATES all three into
    * ONE window pass over lineitem keyed on l_orderkey — max shipdate,
    * distinct-supplier count, and distinct-suppliers-at-max computed
    * over the same exchange, then a broadcast supplier join. The naive
    * translation is three self-joins of the 100 TB fact table; this is
    * one shuffle of it. */
  def soleLatestShipper(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"l_orderkey")
    val waiting = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
      .withColumn("maxship", max($"l_shipdate").over(w))
      .withColumn("nsupp", size(collect_set($"l_suppkey").over(w)))
      .withColumn("natmax", size(collect_set(
        when($"l_shipdate" === $"maxship", $"l_suppkey")).over(w)))
      .filter($"nsupp" > 1 && $"natmax" === 1 &&
        $"l_shipdate" === $"maxship")
      .select($"l_orderkey", $"l_suppkey").distinct()
    waiting
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select($"s_suppkey", $"s_name")), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name").agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), $"s_name").limit(10)
  }

  /** q25: declarative data-quality validation (the Deequ / dbt-test
    * shape a pipeline runs as its ingest gate): primary-key
    * uniqueness, referential integrity, null checks, range checks and
    * domain checks, reported as one (check, violations, status) table.
    *
    * Scale design: row-level checks on the same table FUSE into ONE
    * scan with conditional-sum aggregates (lineitem is read once for
    * its three checks, not three times); uniqueness is a hash-agg on
    * the key; referential integrity is a left-anti join that
    * broadcasts the (small) pk side — at big-big scale the same plan
    * shuffle-joins on the key. Nothing collects more than the 1-row
    * summaries. */
  def dataChecks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    def one(name: String, n: Column): Column =
      struct(lit(name).as("check_name"), n.cast("long").as("n_violations"))
    // one scan of lineitem for all three row-level checks
    val lRow = l.agg(explode(array(
      one("lineitem_qty_range",
        sum(when($"l_quantity" < 1 || $"l_quantity" > 50, 1L).otherwise(0L))),
      one("lineitem_returnflag_domain",
        sum(when(!$"l_returnflag".isin("A", "N", "R"), 1L).otherwise(0L))),
      one("lineitem_shipdate_notnull",
        sum(when($"l_shipdate".isNull, 1L).otherwise(0L))))).as("c"))
      .select($"c.*")
    val oPk = o.groupBy($"o_orderkey").agg(count(lit(1)).as("c"))
      .filter($"c" > 1)
      .agg(count(lit(1)).cast("long").as("n_violations"))
      .select(lit("orders_pk_unique").as("check_name"), $"n_violations")
    val fk = l.select($"l_orderkey")
      .join(broadcast(o.select($"o_orderkey")),
        $"l_orderkey" === $"o_orderkey", "left_anti")
      .agg(count(lit(1)).cast("long").as("n_violations"))
      .select(lit("lineitem_fk_orders").as("check_name"), $"n_violations")
    lRow.unionAll(oPk).unionAll(fk)
      .withColumn("status",
        when($"n_violations" === 0, "pass").otherwise("fail"))
      .orderBy($"check_name")
  }

  /** q26: join-key skew profiler — the diagnostic that DECIDES when the
    * e22 salted-join path is worth its two-stage cost: per candidate
    * join key, the row-count distribution (exact p50/p90/p99 over the
    * per-key counts), the hottest key, and the skew ratio max/mean.
    * Every engine's ops story needs this table before a big join: a
    * skew ratio near 1 says hash-partitioning will balance; a large one
    * says the hot keys need salting or AQE skew splitting.
    *
    * Determinism: counts are exact longs; percentiles over counts use
    * the same linear-interpolation contract as e17 (Spark `percentile`
    * ≡ DuckDB `quantile_cont`); the mean-based skew ratio is the r4
    * exact rational max·n_keys / total; the hot key ties to the
    * smallest key.
    *
    * Scale design: ONE shuffle builds the per-key count table
    * (map-side combined); the profile then aggregates |keys| rows, not
    * |rows| — at 100 TB that second step is the cheap one. Exact
    * percentiles over billions of keys would use approx_percentile in
    * production; exact is chosen here for the oracle contract, on the
    * already-collapsed count table. */
  def skewProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // per-key counts: the one |keys|-sized stage, a map-side-combined
    // hash-agg. localCheckpointed because FOUR downstream subtrees read
    // it (tot twice: tgts' n_keys broadcast + the final readout; cum's
    // lineage twice before the r13 merge) and the differing projections
    // above the exchange defeat ReuseExchange — without the pin each
    // consumer re-scans lineitem (ADVICE r12). One fact scan total.
    val counts = Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // totals + hottest key in the SAME pass — argmax as a struct max
    // (count desc, key asc via the negated key), never a global rank
    // window: the old unpartitioned row_number() single-task-sorted
    // ALL keys (measured 32.8× at the 100× probe before this fix)
    val tot = counts.agg(
      count(lit(1)).as("n_keys"),
      sum($"cnt").as("total_rows"),
      max($"cnt").as("max_cnt"),
      max(struct($"cnt", (-$"l_orderkey").as("nk"))).as("hot"))
    // exact quantile_cont read off the count-of-counts table: per-key
    // counts are small integers, so the frequency table is ≤ max_cnt
    // rows and the type-7 interpolation is exact integer arithmetic
    // over its cumsum — the d55/x02 bin discipline, EXACT here because
    // the value domain is already discrete. The old in-line
    // percentile() aggregate buffered every key's count in one
    // aggregation state (the same single-task shape as the window).
    val freq = counts.groupBy($"cnt").agg(count(lit(1)).as("f"))
    val wc = Window.orderBy($"cnt")
    val cum = freq.withColumn("cum", sum($"f").over(
        wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"cnt", $"f", $"cum")
    val tgts = Seq(50L, 90L, 99L).toDF("p100")
      .crossJoin(broadcast(tot.select($"n_keys".as("nk_t"))))
      .withColumn("tnum", $"p100" * ($"nk_t" - 1L))
      .withColumn("lo", Det.fdiv($"tnum", lit(100L)))
      .withColumn("hi", Det.fdiv($"tnum" + 99L, lit(100L)))
      .withColumn("frac", $"tnum" % 100L)
    // ONE join against cum finds both bracketing rows (the row whose
    // cumulative range covers rank lo, and the one covering rank hi —
    // the same row when frac = 0); the per-target agg then reads v_lo /
    // v_hi off it. Replaces the r12 two-broadcast vlo/vhi pair: one
    // broadcast of cum instead of two evaluations of its lineage.
    val coversLo = $"cum" >= $"lo" + 1L && $"cum" - $"f" < $"lo" + 1L
    val coversHi = $"cum" >= $"hi" + 1L && $"cum" - $"f" < $"hi" + 1L
    val pcts = tgts.join(broadcast(cum), coversLo || coversHi)
      .groupBy($"p100", $"frac")
      .agg(max(when(coversLo, $"cnt")).as("v_lo"),
        max(when(coversHi, $"cnt")).as("v_hi"))
      .select($"p100",
        round($"v_lo" + ($"v_hi" - $"v_lo") * $"frac" / 100.0, 2).as("pv"))
      .groupBy()
      .agg(max(when($"p100" === 50L, $"pv")).as("p50_cnt"),
        max(when($"p100" === 90L, $"pv")).as("p90_cnt"),
        max(when($"p100" === 99L, $"pv")).as("p99_cnt"))
    tot.crossJoin(broadcast(pcts))
      .select($"n_keys", $"total_rows", $"max_cnt",
        $"p50_cnt", $"p90_cnt", $"p99_cnt",
        Det.r4($"max_cnt" * $"n_keys", $"total_rows").as("skew_ratio"),
        (-$"hot.nk").as("hot_key"))
  }

  /** q27: equi-depth (equi-height) histogram of `l_extendedprice` —
    * q26's sibling diagnostic: where q26 profiles JOIN-key skew, this
    * is the optimizer-statistics build every engine runs over measure
    * columns (selectivity estimation, range pruning, AQE skew bounds).
    * 16 buckets, each holding ~1/16 of the rows; rows with equal value
    * land in one bucket, so heavy values may make a bucket run long —
    * the standard equi-depth contract.
    *
    * Determinism: prices become exact integer cents; the bucket of a
    * value is `floor(16·cum_excl / N)` over the VALUE-sorted cumulative
    * counts — pure int64 arithmetic, no interpolation anywhere, so both
    * engines bucket identically by construction.
    *
    * Scale design: the fact scan collapses to a (value → count)
    * frequency table in ONE map-side-combined shuffle; the cumulative
    * window then runs over |distinct values|, not |rows| — bounded by
    * the price domain (~10⁶ cents values), which is why the
    * frequency-table route beats any global-sort/ntile shape (whose
    * window would be a single partition over ALL rows). The one
    * single-partition window here sees only the collapsed value table;
    * at a larger domain it would range-partition into ordered chunks
    * with offset recombination. */
  def equidepthHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val f = Tables.lineitem(spark, sfDir)
      .withColumn("c", expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
      .groupBy($"c").agg(count(lit(1)).as("cnt"))
    // r15 (measured, OPTIMIZATION_r15.md): the cumulative count runs as
    // ordered chunks + offset recombination — the at-scale shape the r12
    // scaladoc promised (the cents domain is ~|rows| here: 583 k
    // distinct values at sf0.1, so a single ORDER BY c window would be a
    // serial sort+scan of the whole frequency table).
    // r16: the chunk id is now a PURE FUNCTION of the value — equal-
    // width cents ranges between the table's min/max, chunk count
    // derived from defaultParallelism —
    // instead of spark_partition_id() over a repartitionByRange. That
    // (a) deletes the range exchange outright (ensureRequirements
    // inserts the one hash(chunk) exchange the per-chunk window needs;
    // the range pass also paid a hidden boundary-sampling read), and
    // (b) makes chunk assignment replay-stable BY CONSTRUCTION: the r15
    // form relied on runtime exchange reuse to keep the two consumers'
    // sampled range boundaries identical (ADVICE r15) — a recomputed
    // chunk id is now the same value on every branch, every retry, any
    // config sweep. Equal-WIDTH chunks of a value domain are not
    // equal-DEPTH, but chunking only sets parallel grain: the global
    // cumulative is identical wherever chunk boundaries fall. The
    // explicit repartition pins the window exchange at
    // defaultParallelism so AQE cannot coalesce the ~|domain|-row sort
    // onto a few tasks (the e38/d46 discipline).
    val nChunks = 4 * spark.sparkContext.defaultParallelism
    val mm = f.agg(min($"c").as("cmin"), max($"c").as("cmax"))
    val fp = f.crossJoin(broadcast(mm))
      .withColumn("pid", Det.fdiv(($"c" - $"cmin") * nChunks,
        $"cmax" - $"cmin" + 1L).cast("int"))
      .drop("cmin", "cmax")
    val offs = fp.groupBy($"pid").agg(sum($"cnt").as("psum"))
    val wOff = Window.orderBy($"pid").rowsBetween(Window.unboundedPreceding, -1)
    val wAllOff = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = offs
      .withColumn("offset", coalesce(sum($"psum").over(wOff), lit(0L)))
      .withColumn("n_rows", sum($"psum").over(wAllOff))
      .select($"pid", $"offset", $"n_rows")
    val wIn = Window.partitionBy($"pid").orderBy($"c")
      .rowsBetween(Window.unboundedPreceding, -1)
    fp.join(broadcast(offsets), "pid")
      .repartition(spark.sparkContext.defaultParallelism, $"pid")
      .withColumn("cum_excl",
        $"offset" + coalesce(sum($"cnt").over(wIn), lit(0L)))
      .withColumn("bucket", Det.fdiv($"cum_excl" * 16L, $"n_rows"))
      .groupBy($"bucket")
      .agg(
        round(min($"c") / 100.0, 2).as("lo"),
        round(max($"c") / 100.0, 2).as("hi"),
        count(lit(1)).as("n_values"),
        sum($"cnt").as("n"),
        max($"n_rows").as("n_rows"))
      .select($"bucket", $"lo", $"hi", $"n_values", $"n",
        Det.r4($"n", $"n_rows").as("share"))
      .orderBy($"bucket")
  }

  /** The q28 profiled column set — int keys and low-cardinality flags
    * (doubles/timestamps excluded: their VARCHAR rendering is the one
    * thing the two engines do NOT agree on bit-for-bit). */
  private val StatsCols =
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_returnflag", "l_linestatus")

  /** q28: column NDV + most-common-values profiler — the third leg of
    * the optimizer-statistics suite (q26 join-key skew, q27 value
    * histograms): per column, exact distinct-value count, row count,
    * and the top-3 most common values with frequencies (count desc,
    * value asc ties) — what selectivity estimation and dictionary/
    * low-cardinality encoding decisions read.
    *
    * Scale design: the 6 columns MELT into (col, value) rows map-side
    * (one scan, 6× rows, no per-column scans), then ONE
    * map-side-combined hash-agg collapses to the frequency table;
    * everything after runs on |distinct values|, not |rows|. Exact
    * NDV is the declared contract on the collapsed table (the sketch
    * counterpart is x01). The MCV top-3 is a bounded
    * [[graft.functions.TopValAggregator]] buffer in the SAME
    * per-column hash-agg — map-side partial heaps merge
    * associatively, so no per-column rank window ever materializes
    * (the window variant partitioned by col, putting each column's
    * whole NDV in one sort task: parallelism 6, measured 40× at the
    * 100× probe; this shape re-measured 11×, linear). */
  def columnStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val melted = Tables.lineitem(spark, sfDir)
      .select(explode(array(StatsCols.map(c =>
        struct(lit(c).as("col"), col(c).cast("string").as("v"))): _*))
        .as("cv"))
      .select($"cv.col".as("col"), $"cv.v".as("v"))
    val freq = melted.groupBy($"col", $"v").agg(count(lit(1)).as("cnt"))
    val top3 = udaf(new graft.functions.TopValAggregator(3))
    freq
      .groupBy($"col")
      .agg(
        count(lit(1)).as("ndv"),
        sum($"cnt").as("n_rows"),
        top3($"cnt", $"v").as("topk"))
      .select($"col", $"ndv", $"n_rows",
        concat_ws(",", expr(
          "transform(topk, x -> concat(x.v, ':', cast(x.cnt AS string)))"))
          .as("top3"))
      .orderBy($"col")
  }

  /** q29: per-brand Pearson correlation between line quantity and
    * extended price (in cents) — the statistical-moments surface the
    * optimizer-statistics suite (q26/q27/q28) doesn't cover: the
    * five sufficient moments (Σx, Σy, Σxy, Σx², Σy²) plus n are
    * enough to answer corr/variance/covariance questions without a
    * second scan, which is how a 100 TB profiler computes them.
    *
    * Determinism (the e49 z² precedent): every moment is an EXACT
    * integer — quantities are integral, prices exact cents, products
    * summed as DECIMAL(38,0) on Spark and HUGEINT in DuckDB (Σy²
    * reaches ~6·10²² at sf0.1, past int64 — the cast is
    * load-bearing) — and the final r is ONE identical double
    * expression over those exact values (num / (sqrt(vx)·sqrt(vy)),
    * same association order both engines), NULL on zero variance.
    *
    * Scale design: ONE hash-agg over the fact table keyed by the
    * broadcast brand dim; the correlation math runs on 25 rows of
    * moments. Nothing else touches the fact table. */
  def brandCorr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, sfDir).select($"l_partkey",
      $"l_quantity".cast("long").as("x"),
      expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("y"))
    val brands = Tables.part(spark, sfDir)
      .select($"p_partkey", $"p_brand")
    l.join(broadcast(brands), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))"))
          .as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))"))
          .as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))"))
          .as("syy"))
      .select($"p_brand", $"n",
        round(expr(
          """CASE WHEN n * sxx - CAST(sx AS DECIMAL(38,0)) * sx > 0
            |       AND n * syy - CAST(sy AS DECIMAL(38,0)) * sy > 0
            |  THEN CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
            |    / (sqrt(CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
            |       * sqrt(CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)))
            |  END""".stripMargin), 4).as("corr_qty_price"))
      .orderBy($"p_brand")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q29_brand_corr"         -> brandCorr _,
    "q28_column_stats"       -> columnStats _,
    "q27_equidepth_hist"     -> equidepthHistogram _,
    "q26_skew_profile"       -> skewProfile _,
    "q25_data_checks" -> dataChecks _,
    "q22_subtree_rollup" -> subtreeRollup _,
    "q23_small_qty_revenue" -> smallQtyRevenue _,
    "q24_sole_latest_shipper" -> soleLatestShipper _,
    "q01_pricing_summary"    -> pricingSummary _,
    "q02_region_revenue"     -> regionRevenue _,
    "q03_top_customers"      -> topCustomers _,
    "q04_top_parts_per_brand" -> topPartsPerBrand _,
    "q05_segment_stats"      -> segmentStats _,
    "q06_customers_without_orders" -> customersWithoutOrders _,
    "q07_rollup_returns"     -> rollupReturns _,
    "q08_priority_case"      -> priorityCase _,
    "q09_part_strings"       -> partStrings _,
    "q10_orders_by_month"    -> ordersByMonth _,
    "q11_qty_histogram"      -> qtyHistogram _,
    "q12_set_ops"            -> setOps _,
    "q15_local_supplier_revenue" -> localSupplierRevenue _,
    "q16_part_type_revenue"  -> partTypeRevenue _,
    "q18_market_share"       -> marketShare _,
    "q19_brand_suppliers"    -> brandSupplierStats _,
    "q20_brands_in_not_in"   -> brandsInNotIn _,
    "q21_idle_capital"       -> idleCapital _,
  )

  private val D = Det.sql
  private val discPrice =
    "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * " +
      "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2)"

  val oracles: Map[String, String] = Map(
    // melt → frequency table → per-column rollup + ordered top-3;
    // int/flag columns only (VARCHAR casts agree cross-engine there)
    // exact integer moments (HUGEINT sums ≡ Spark DECIMAL(38,0)),
    // one identical double expression for r, NULL on zero variance
    "q29_brand_corr" ->
      """WITH j AS (SELECT p.p_brand, CAST(l.l_quantity AS BIGINT) AS x,
        |    CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS y
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |m AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
        |    sum(x*x) AS sxx, sum(y*y) AS syy
        |  FROM j GROUP BY p_brand)
        |SELECT p_brand, n,
        |  round(CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
        |    THEN CAST(n*sxy - sx*sy AS DOUBLE)
        |      / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
        |         * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
        |    END, 4) AS corr_qty_price
        |FROM m ORDER BY p_brand""".stripMargin,
    "q28_column_stats" -> {
      val melt = StatsCols.map(c =>
        s"SELECT '$c' AS col, CAST($c AS VARCHAR) AS v FROM lineitem")
        .mkString("\n  UNION ALL ")
      s"""WITH m AS (\n  $melt),
         |c AS (SELECT col, v, count(*) AS cnt FROM m GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY col
         |    ORDER BY cnt DESC, v) AS rn FROM c)
         |SELECT col, CAST(count(*) AS BIGINT) AS ndv,
         |  CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  string_agg(CASE WHEN rn <= 3 THEN v || ':' || cnt END, ','
         |    ORDER BY rn) AS top3
         |FROM r GROUP BY col ORDER BY col""".stripMargin
    },
    // integer-cents frequency table → exclusive cumulative counts →
    // floor(16·cum/N) bucketing: no interpolation, so the bucketing is
    // bit-identical across engines; CASTs keep HUGEINT off the schema
    "q27_equidepth_hist" ->
      s"""WITH f AS (SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c,
         |    count(*) AS cnt FROM lineitem GROUP BY 1),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows FROM f),
         |w AS (SELECT c, cnt, n_rows,
         |    COALESCE(CAST(sum(cnt) OVER (ORDER BY c
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |      0) AS cum_excl
         |  FROM f CROSS JOIN t),
         |b AS (SELECT ${D.fdiv("cum_excl * 16", "n_rows")} AS bucket,
         |    c, cnt, n_rows FROM w)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  round(min(c) / 100.0, 2) AS lo,
         |  round(max(c) / 100.0, 2) AS hi,
         |  CAST(count(*) AS BIGINT) AS n_values,
         |  CAST(sum(cnt) AS BIGINT) AS n,
         |  ${D.r4("CAST(sum(cnt) AS BIGINT)", "max(n_rows)")} AS share
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // quantile_cont ≡ Spark percentile (e17's contract); the hot key
    // is the count-desc, key-asc argmax; CASTs keep HUGEINT off the
    // output schema
    "q26_skew_profile" ->
      s"""WITH c AS (SELECT l_orderkey, count(*) AS cnt
         |  FROM lineitem GROUP BY l_orderkey),
         |r AS (SELECT *, row_number()
         |    OVER (ORDER BY cnt DESC, l_orderkey) AS rn FROM c)
         |SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(sum(cnt) AS BIGINT) AS total_rows,
         |  CAST(max(cnt) AS BIGINT) AS max_cnt,
         |  round(quantile_cont(cnt, 0.5), 2) AS p50_cnt,
         |  round(quantile_cont(cnt, 0.9), 2) AS p90_cnt,
         |  round(quantile_cont(cnt, 0.99), 2) AS p99_cnt,
         |  ${D.r4("CAST(max(cnt) * count(*) AS BIGINT)",
              "CAST(sum(cnt) AS BIGINT)")} AS skew_ratio,
         |  CAST(max(CASE WHEN rn = 1 THEN l_orderkey END) AS BIGINT)
         |    AS hot_key
         |FROM r""".stripMargin,
    "q25_data_checks" ->
      """WITH v AS (
        |  SELECT 'lineitem_qty_range' AS check_name, count(*) FILTER
        |    (WHERE l_quantity < 1 OR l_quantity > 50) AS n_violations
        |    FROM lineitem
        |  UNION ALL SELECT 'lineitem_returnflag_domain', count(*) FILTER
        |    (WHERE l_returnflag NOT IN ('A', 'N', 'R')) FROM lineitem
        |  UNION ALL SELECT 'lineitem_shipdate_notnull', count(*) FILTER
        |    (WHERE l_shipdate IS NULL) FROM lineitem
        |  UNION ALL SELECT 'orders_pk_unique', count(*) FROM
        |    (SELECT o_orderkey FROM orders GROUP BY o_orderkey
        |     HAVING count(*) > 1)
        |  UNION ALL SELECT 'lineitem_fk_orders', count(*) FROM lineitem l
        |    LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |    WHERE o.o_orderkey IS NULL)
        |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
        |  CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM v ORDER BY check_name""".stripMargin,
    // stated as the literal Q21-style triple correlation — DuckDB
    // decorrelates it its own way; the Spark side's single window pass
    // must reproduce exactly the same supplier counts
    "q24_sole_latest_shipper" ->
      """WITH waiting AS (
        |  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
        |  FROM lineitem l1
        |  WHERE l1.l_shipdate = (SELECT max(l2.l_shipdate) FROM lineitem l2
        |          WHERE l2.l_orderkey = l1.l_orderkey)
        |    AND EXISTS (SELECT 1 FROM lineitem l3
        |          WHERE l3.l_orderkey = l1.l_orderkey
        |            AND l3.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l4
        |          WHERE l4.l_orderkey = l1.l_orderkey
        |            AND l4.l_suppkey <> l1.l_suppkey
        |            AND l4.l_shipdate = (SELECT max(l5.l_shipdate)
        |              FROM lineitem l5 WHERE l5.l_orderkey = l1.l_orderkey)))
        |SELECT s_name, count(*) AS numwait
        |FROM waiting JOIN supplier ON s_suppkey = l_suppkey
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,
    "q23_small_qty_revenue" ->
      """WITH l AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |  FROM lineitem),
        |s AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sumq,
        |  count(*) AS cnt FROM l GROUP BY l_partkey)
        |SELECT p_brand, count(*) AS n_small,
        |  round(CAST(sum(cents) AS BIGINT) / 700.0, 2) AS avg_yearly
        |FROM l JOIN s USING (l_partkey)
        |JOIN part ON p_partkey = l_partkey
        |WHERE qty * cnt * 5 < sumq
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q22_subtree_rollup" ->
      """WITH RECURSIVE sub(anchor, k, depth, price) AS (
        |  SELECT p_partkey, p_partkey, 0,
        |    CAST(p_retailprice AS DECIMAL(18,4))
        |  FROM part WHERE p_partkey BETWEEN 1 AND 7
        |  UNION ALL
        |  SELECT s.anchor, c.p_partkey, s.depth + 1,
        |    CAST(c.p_retailprice AS DECIMAL(18,4))
        |  FROM sub s JOIN part c
        |    ON c.p_partkey // 2 = s.k AND c.p_partkey >= 2)
        |SELECT anchor, count(*) AS n_parts,
        |  max(depth) AS max_depth,
        |  round(CAST(sum(price) AS DOUBLE), 2) AS subtree_price
        |FROM sub GROUP BY anchor ORDER BY anchor""".stripMargin,
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |${D.dsum("l_quantity", "sum_qty")},
         |${D.dsum("l_extendedprice", "sum_base_price")},
         |$discPrice AS sum_disc_price,
         |${D.davg("l_quantity", "avg_qty")},
         |${D.davg("l_extendedprice", "avg_price")},
         |${D.davg("l_discount", "avg_disc")},
         |count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-06-30 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_region_revenue" ->
      s"""SELECT n_name, $discPrice AS revenue, count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "q03_top_customers" ->
      s"""SELECT c_custkey, c_name, $discPrice AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_custkey, c_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 10""".stripMargin,
    "q04_top_parts_per_brand" ->
      """SELECT p_brand, rn, p_partkey, p_name, price FROM (
        |  SELECT p_brand, p_partkey, p_name, round(p_retailprice, 2) AS price,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part) t
        |WHERE rn <= 3
        |ORDER BY p_brand, rn""".stripMargin,
    "q05_segment_stats" ->
      s"""SELECT c_mktsegment, count(*) AS n_customers,
         |${D.dsum("c_acctbal", "sum_bal")},
         |${D.davg("c_acctbal", "avg_bal")}
         |FROM customer
         |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,
    "q06_customers_without_orders" ->
      """SELECT n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q07_rollup_returns" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
         |coalesce(l_linestatus, 'ALL') AS linestatus,
         |${D.dsum("l_quantity", "sum_qty")}, count(*) AS n
         |FROM lineitem
         |GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY returnflag, linestatus""".stripMargin,
    "q08_priority_case" ->
      s"""SELECT o_orderpriority,
         |CASE WHEN o_totalprice > 300000 THEN 'large'
         |     WHEN o_totalprice > 100000 THEN 'medium'
         |     ELSE 'small' END AS bucket,
         |count(*) AS n, ${D.dsum("o_totalprice", "sum_price")}
         |FROM orders
         |GROUP BY 1, 2
         |ORDER BY o_orderpriority, bucket""".stripMargin,
    "q09_part_strings" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u, lower(p_type) AS type_l,
        |substr(p_type, 1, 6) AS type6, length(p_name) AS name_len,
        |p_brand || '#' || p_type AS brand_type,
        |str_split(p_type, ' ')[1] AS type_head
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q10_orders_by_month" ->
      s"""SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
         |count(*) AS n_orders, ${D.dsum("o_totalprice", "sum_price")}
         |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin,
    "q11_qty_histogram" ->
      s"""SELECT CAST(l_quantity AS INT) AS qty, count(*) AS n,
         |${D.davg("l_extendedprice", "avg_price")},
         |round(sqrt(abs(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE))), 4) AS sqrt_sum
         |FROM lineitem GROUP BY 1 ORDER BY qty""".stripMargin,
    "q12_set_ops" ->
      """WITH recent AS (
        |  SELECT c_nationkey, c_mktsegment FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2001-06-01 00:00:00')),
        |all_p AS (SELECT c_nationkey, c_mktsegment FROM customer),
        |both_t AS (SELECT c_nationkey, c_mktsegment FROM all_p INTERSECT
        |           SELECT c_nationkey, c_mktsegment FROM recent),
        |only_t AS (SELECT c_nationkey, c_mktsegment FROM all_p EXCEPT
        |           SELECT c_nationkey, c_mktsegment FROM recent)
        |SELECT tag, count(*) AS n_pairs FROM (
        |  SELECT 'has_recent' AS tag FROM both_t
        |  UNION ALL
        |  SELECT 'no_recent' AS tag FROM only_t) u
        |GROUP BY tag ORDER BY tag""".stripMargin,
    "q15_local_supplier_revenue" ->
      s"""SELECT n_name, $discPrice AS revenue, count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'EUROPE'
         |AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "q16_part_type_revenue" ->
      s"""SELECT str_split(p_type, ' ')[1] AS type_family,
         |$discPrice AS revenue,
         |count(DISTINCT p_partkey) AS n_parts, count(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY type_family""".stripMargin,
    "q18_market_share" ->
      """WITH f AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) *
        |    (100 - CAST(round(l_discount * 100) AS BIGINT)) AS vol_i,
        |  sn.n_name AS s_nation
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE r_name = 'EUROPE'),
        |a AS (SELECT o_year,
        |  CAST(sum(CASE WHEN s_nation = 'NATION_3' THEN vol_i ELSE 0 END)
        |    AS HUGEINT) AS num_i,
        |  CAST(sum(vol_i) AS HUGEINT) AS den_i FROM f GROUP BY o_year)
        |SELECT o_year,
        |CAST((num_i * 20000 + den_i) // (den_i * 2) AS BIGINT) / 10000.0
        |  AS mkt_share,
        |CAST((den_i * 2 + 100) // 200 AS BIGINT) / 100.0 AS total_revenue
        |FROM a ORDER BY o_year""".stripMargin,
    "q19_brand_suppliers" ->
      """WITH base AS (SELECT p_brand, p_size,
        |  count(DISTINCT l_suppkey) AS n_suppliers,
        |  count(DISTINCT p_partkey) AS n_parts
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand <> 'Brand#1'
        |  GROUP BY p_brand, p_size)
        |SELECT p_brand, p_size, n_suppliers, n_parts FROM base
        |WHERE n_suppliers > (SELECT avg(n_suppliers) FROM base)
        |ORDER BY p_brand, p_size""".stripMargin,
    "q20_brands_in_not_in" ->
      """SELECT p_brand, count(*) AS n_parts,
        |round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE), 2)
        |  AS sum_price
        |FROM part
        |WHERE p_partkey IN (SELECT l_partkey FROM lineitem
        |                    WHERE l_quantity >= 45)
        |  AND p_partkey NOT IN (SELECT l_partkey FROM lineitem
        |                        WHERE l_returnflag = 'R' AND l_quantity >= 49)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q21_idle_capital" ->
      """WITH pos AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer)
        |SELECT c_mktsegment, count(*) AS n_customers,
        |  round(sum(cents) / 100.0, 2) AS total_bal
        |FROM pos
        |WHERE cents * (SELECT count(*) FROM pos WHERE cents > 0)
        |      > (SELECT sum(cents) FROM pos WHERE cents > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
  )
}
