package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Registry.Q

/** Classic relational-OLAP queries over the TPC-H-style tables — the
  * bread-and-butter shapes (pricing-summary rollup, dimension-filtered
  * multi-join top-k) that prove the engine is a general analytics engine,
  * not only a TA/pipeline library. Both are pure declarative
  * DataFrame plans: filters and column pruning reach the parquet scan,
  * Catalyst broadcasts the dimension side, aggregates are map-side
  * partial, and every money sum runs in exact narrow decimals so the result is
  * order-independent (double summation order differs between Spark's
  * partial aggregation and DuckDB's scan — the classic 1-ulp hash
  * breaker).
  *
  * Date columns arrive as parquet TIMESTAMP(MICROS). The date predicates
  * compare the timestamp column DIRECTLY against an end/start-of-day
  * literal — `CAST(ts AS DATE) <= d` wraps the column in a cast Spark
  * does not unwrap, which silently kills parquet filter pushdown; the
  * direct comparison lands in PushedFilters (plan-pinned), which at
  * 100 TB is row-group/page skipping on the scan itself.
  */
object RelationalQueries extends Registry {

  private def r6(c: Column): Column = round(c, 6) + lit(0.0)
  // The TPC-H money/rate columns are 2-decimal by construction (verified
  // on the generated data), so DECIMAL(12,2) values and DECIMAL(4,2)
  // (1±x) factors hold them EXACTLY and their products stay exact at
  // scale 6 — narrow enough that DuckDB's non-rescaling decimal multiply
  // (p1+p2 <= 38) cannot overflow, wide enough that both engines sum the
  // identical exact decimals and cast the identical value to double.
  private def dec(c: Column): Column = c.cast("decimal(12,2)")
  private def fac(c: Column): Column = c.cast("decimal(4,2)")

  val entries: Seq[Entry] = Seq(

    Entry("relational_pricing_summary",
      // TPC-H Q1 shape: scan-heavy single-table rollup. Everything
      // algebraic → one exchange on the 4-value group key; the shipdate
      // filter and 7-column projection reach the scan (PushedFilters /
      // ReadSchema — the scan reads 7 of 11 columns, not the table).
      (spark, dir) => Tables.table(spark, dir, "lineitem")
        .where(col("l_shipdate") <=
          lit("1998-09-01 23:59:59.999999").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          r6(sum(dec(col("l_quantity"))).cast("double")).as("sum_qty"),
          r6(sum(dec(col("l_extendedprice"))).cast("double")).as("sum_base_price"),
          r6(sum(dec(col("l_extendedprice")) * fac(lit(1) - col("l_discount")))
            .cast("double")).as("sum_disc_price"),
          r6(sum(dec(col("l_extendedprice")) * fac(lit(1) - col("l_discount"))
            * fac(lit(1) + col("l_tax"))).cast("double")).as("sum_charge"),
          r6((sum(dec(col("l_quantity"))) / count(lit(1))).cast("double")).as("avg_qty"),
          r6((sum(dec(col("l_discount"))) / count(lit(1))).cast("double")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
        |  ROUND(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 6)+0.0 AS sum_qty,
        |  ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 6)+0.0 AS sum_base_price,
        |  ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE), 6)+0.0 AS sum_disc_price,
        |  ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE), 6)+0.0 AS sum_charge,
        |  ROUND(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) / count(*) AS DOUBLE), 6)+0.0 AS avg_qty,
        |  ROUND(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) / count(*) AS DOUBLE), 6)+0.0 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 23:59:59.999999'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Entry("relational_top_orders",
      // TPC-H Q3 shape: dimension-filtered 3-table join + per-order
      // revenue top-10. customer (filtered to one segment) broadcasts;
      // orders⋈lineitem is the one real shuffle; the top-k is a global
      // sort of the already-aggregated per-order rows (group count ≪
      // input). Ties broken by o_orderkey so the LIMIT frontier is
      // deterministic in both engines.
      (spark, dir) => {
        val cust = Tables.table(spark, dir, "customer")
          .where(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val ord = Tables.table(spark, dir, "orders")
          .where(col("o_orderdate") < lit("1995-03-15 00:00:00").cast("timestamp_ntz"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val li = Tables.table(spark, dir, "lineitem")
          .where(col("l_shipdate") > lit("1995-03-15 23:59:59.999999").cast("timestamp_ntz"))
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").cast("string").as("o_orderdate"))
          .agg(r6(sum(dec(col("l_extendedprice")) * fac(lit(1) - col("l_discount")))
            .cast("double")).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |  ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE), 6)+0.0 AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 23:59:59.999999'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin)),

    Entry("relational_rollup",
      // ROLLUP subtotal lattice: (flag, status) → (flag) → grand total in
      // ONE pass — Spark expands the grouping sets BEFORE the exchange,
      // so partial aggregation still applies and no second job re-reads
      // the table for subtotals. grouping_id disambiguates a real NULL
      // key from a subtotal row; keys are COALESCEd to 'ALL' for a
      // deterministic, engine-portable output shape.
      (spark, dir) => Tables.table(spark, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          r6(sum(dec(col("l_quantity"))).cast("double")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("gid"), col("n"), col("sum_qty"))
        .orderBy("gid", "returnflag", "linestatus"),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  ROUND(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 6)+0.0 AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, returnflag, linestatus""".stripMargin)),

    Entry("relational_setops",
      // INTERSECT / EXCEPT over key sets (set semantics, deduplicating —
      // Spark plans them as left-semi/anti joins over distinct inputs, so
      // they shuffle once on the key like any equi-join and broadcast
      // when one side is small). Customers who placed an order before
      // 1995 INTERSECT the BUILDING segment, EXCEPT those who also
      // ordered on/after 1995-06 — three scans, two semi/anti joins,
      // no driver-side set logic.
      (spark, dir) => {
        val before = Tables.table(spark, dir, "orders")
          .where(col("o_orderdate") < lit("1995-01-01 00:00:00").cast("timestamp_ntz"))
          .select(col("o_custkey").as("custkey"))
        val building = Tables.table(spark, dir, "customer")
          .where(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("custkey"))
        val late = Tables.table(spark, dir, "orders")
          .where(col("o_orderdate") >= lit("1995-06-01 00:00:00").cast("timestamp_ntz"))
          .select(col("o_custkey").as("custkey"))
        before.intersect(building).except(late).orderBy("custkey")
      },
      Some("""SELECT o_custkey AS custkey FROM orders
        |WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
        |ORDER BY custkey""".stripMargin))
  )
}
