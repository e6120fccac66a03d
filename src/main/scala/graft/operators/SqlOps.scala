package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.{Exact, Tables}

/** SQL-text entry-point queries exercising Catalyst's subquery
  * rewrites (SURVEY.md §4.1: RewriteCorrelatedScalarSubquery and
  * IN-to-semi-join conversion — rewrites a MapReduce pipeline would
  * have to hand-build as extra jobs).
  *
  * Scale notes (100 TB): both subqueries decorrelate into joins —
  * the correlated scalar becomes an aggregate + equi-join (one
  * shuffle, partial agg map-side) and the IN becomes a left-semi
  * join, so neither executes per-row; plans are asserted in
  * PlanSpec. The scalar comparison is decimal-exact on both engines
  * so the predicate can never flip on a float ulp.
  */
object SqlOps {
  import Exact._

  /** Orders priced above their customer's decimal-exact average order
    * price — correlated scalar subquery, decorrelated by Catalyst. */
  def subqueryScalar(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.withViews(spark, sfDir)(_.sql(subqueryScalarSql))
  }

  val subqueryScalarSql: String =
    s"""SELECT o_orderkey, o_custkey, o_totalprice
       |FROM orders o
       |WHERE o_totalprice > (
       |  SELECT ${sqlXavg("o2.o_totalprice")}
       |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
       |ORDER BY o_orderkey""".stripMargin

  /** Customers with at least one urgent order — IN subquery, planned
    * as a left-semi join. */
  def subqueryIn(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.withViews(spark, sfDir)(_.sql(subqueryInSql))
  }

  val subqueryInSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE c_custkey IN (
      |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** NOT EXISTS with a correlated predicate — null-safe anti-join
    * planning (the three-valued-logic hazard of NOT IN is avoided by
    * EXISTS semantics; suppliers with no BULK lineitem shipped after a
    * date). The quantity > 47 conjunct keeps the result provably
    * non-empty at the test fixtures' density (11 suppliers at sf0.01,
    * 94 at sf0.1) — every supplier ships after any plain date cutoff
    * in the dense fixture, so the unqualified form passed vacuously
    * with 0 rows. */
  def subqueryNotExists(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.withViews(spark, sfDir)(_.sql(subqueryNotExistsSql))
  }

  val subqueryNotExistsSql: String =
    """SELECT s_suppkey, s_name
      |FROM supplier s
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM lineitem l
      |  WHERE l.l_suppkey = s.s_suppkey
      |    AND l.l_shipdate >= TIMESTAMP '2001-06-01 00:00:00'
      |    AND l.l_quantity > 47.0)
      |ORDER BY s_suppkey""".stripMargin

  /** NOT IN over nullable columns — the three-valued-logic form that
    * NOT EXISTS sidesteps (any NULL in the inner set empties the
    * result; a NULL probe never qualifies). A naive distributed
    * implementation needs a nested-loop join to evaluate the NULL
    * disjunct; Catalyst instead plans a NULL-AWARE ANTI JOIN
    * (BroadcastHashJoin with isNullAwareAntiJoin=true): the inner set
    * broadcasts once with an any-null flag, the probe side streams —
    * same O(n) shape as a plain anti join. Round5Spec pins the NAAJ
    * operator in the physical plan. Both engines implement standard
    * SQL three-valued NOT IN, so one SQL string serves both. */
  def subqueryNotIn(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.withViews(spark, sfDir)(_.sql(subqueryNotInSql))
  }

  val subqueryNotInSql: String =
    """SELECT c_custkey, c_name, c_nationkey
      |FROM customer
      |WHERE c_nationkey NOT IN (
      |  SELECT s_nationkey FROM supplier WHERE s_acctbal < 1000)
      |ORDER BY c_custkey""".stripMargin

  /** Recursive CTE (Spark 4's WITH RECURSIVE): generate the full
    * 1995-01 … 2001-12 month series in pure integer arithmetic (no
    * engine-specific date stepping), then left-join per-month order
    * counts so months with no orders still appear — the calendar
    * densification every reporting pipeline needs. Recursion depth is
    * the series length (84), independent of data size: the recursive
    * part never touches the fact table, so the plan at 100 TB is one
    * scan + one small join. */
  def recursiveCte(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.withViews(spark, sfDir) { spark =>
      // Same query as the oracle; only the integer-division spelling
      // differs by dialect (Spark `div`, DuckDB `//`).
      spark.sql(recursiveCteSql.replace("n // 12", "n div 12"))
    }
  }

  val recursiveCteSql: String =
    s"""WITH RECURSIVE months(n) AS (
       |  SELECT 0
       |  UNION ALL
       |  SELECT n + 1 FROM months WHERE n < 83
       |),
       |cal AS (
       |  SELECT n, 1995 + n // 12 AS y, 1 + n % 12 AS m FROM months),
       |per_month AS (
       |  SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
       |    COUNT(*) AS n_orders,
       |    ${sqlXsum("o_totalprice")} AS sum_price
       |  FROM orders GROUP BY 1, 2)
       |SELECT c.y, c.m,
       |  COALESCE(p.n_orders, 0) AS n_orders,
       |  COALESCE(p.sum_price, 0.0) AS sum_price
       |FROM cal c LEFT JOIN per_month p ON c.y = p.y AND c.m = p.m
       |ORDER BY c.y, c.m""".stripMargin

  /** LATERAL correlated subquery (Spark 4): per nation, the top-2
    * customers by account balance — the "top-N per row of the outer"
    * pattern LATERAL expresses directly. Catalyst decorrelates this
    * into a window-style plan rather than executing per-row. */
  def lateralJoin(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.withViews(spark, sfDir)(_.sql(lateralJoinSql))
  }

  val lateralJoinSql: String =
    """SELECT n.n_name, t.c_custkey, t.c_acctbal
      |FROM nation n,
      |LATERAL (
      |  SELECT c_custkey, c_acctbal FROM customer
      |  WHERE c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2) t
      |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin

  /** Named-parameter binding for [[sqlParams]] — the values a caller
    * would pass per invocation. */
  private val PARAM_MINPRICE = 50000.0
  private val PARAM_FROMDATE = "1996-01-01"

  /** Parameterized SQL (Spark 3.4+/4 named markers): the query text
    * carries `:minprice` / `:fromdate` and values bind at execution —
    * the injection-safe, plan-cache-friendly way a serving layer
    * templates queries (string-splicing user input into SQL is both
    * the classic injection hole and a new plan per literal). The
    * oracle is the same query with the bindings inlined — bind-time
    * substitution is exactly the semantics under test. */
  def sqlParams(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.withViews(spark, sfDir) { spark =>
      spark.sql(
        s"""SELECT o_orderpriority, COUNT(*) AS n,
           |  ${sqlXsum("o_totalprice")} AS rev
           |FROM orders
           |WHERE o_totalprice > :minprice
           |  AND o_orderdate >= CAST(:fromdate AS TIMESTAMP)
           |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
        Map("minprice" -> PARAM_MINPRICE, "fromdate" -> PARAM_FROMDATE))
    }
  }

  val sqlParamsSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${sqlXsum("o_totalprice")} AS rev
       |FROM orders
       |WHERE o_totalprice > $PARAM_MINPRICE
       |  AND o_orderdate >= CAST('$PARAM_FROMDATE' AS TIMESTAMP)
       |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  /** SQL pipe syntax (Spark 4.0 `|>`): the linear FROM → WHERE →
    * AGGREGATE → WHERE → ORDER BY form of a classic
    * filter-aggregate-having report — each stage reads top-down the
    * way the plan executes (and the way a DataFrame chain composes),
    * instead of the inside-out nesting of legacy SQL. Catalyst plans
    * it identically to the nested form; DuckDB has no pipe syntax, so
    * the oracle IS that nested form — equality is the semantics
    * proof. */
  def sqlPipe(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.withViews(spark, sfDir) { spark =>
      spark.sql(
        s"""FROM orders
           ||> WHERE o_totalprice > 1000.0
           ||> AGGREGATE COUNT(*) AS n, ${sqlXsum("o_totalprice")} AS rev
           |   GROUP BY o_orderpriority
           ||> WHERE n > 5
           ||> ORDER BY o_orderpriority""".stripMargin)
    }
  }

  val sqlPipeSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${sqlXsum("o_totalprice")} AS rev
       |FROM orders
       |WHERE o_totalprice > 1000.0
       |GROUP BY 1
       |HAVING COUNT(*) > 5
       |ORDER BY o_orderpriority""".stripMargin

  /** SQL-defined scalar function (Spark 4 `CREATE FUNCTION … RETURN
    * expr`): business logic (net revenue per line) declared ONCE in
    * SQL and reused across queries — unlike a JVM/Python UDF the body
    * is a Catalyst expression, so it INLINES into whole-stage codegen
    * and pushes through the optimizer like any built-in (no
    * serialization wall, no codegen break). The oracle inlines the
    * same arithmetic — which is literally what Spark's analyzer does
    * with the function body. */
  def sqlUdf(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.withViews(spark, sfDir) { spark =>
      spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_net_line(
          |  price DOUBLE, disc DOUBLE, tax DOUBLE)
          |RETURNS DOUBLE
          |RETURN price * (1.0 - disc) * (1.0 + tax)""".stripMargin)
      spark.sql(
        s"""SELECT l_returnflag, COUNT(*) AS n,
           |  ${sqlXsum("graft_net_line(l_extendedprice, l_discount, l_tax)")}
           |    AS net_rev
           |FROM lineitem
           |GROUP BY 1 ORDER BY l_returnflag""".stripMargin)
    }
  }

  val sqlUdfSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${sqlXsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")}
       |    AS net_rev
       |FROM lineitem
       |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** `GROUP BY ALL` (Spark 3.4+/4, DuckDB-pioneered): the grouping
    * key list is INFERRED — every select-list item that is not an
    * aggregate becomes a key. Kills the classic copy-the-columns
    * drift bug in wide rollups; the analyzer expands it to the
    * explicit form, so the plan (and therefore the 100 TB cost) is
    * byte-identical to spelling the keys out. DuckDB supports the
    * same syntax — the oracle uses it directly, making this a
    * two-engine semantics check of the inference rule itself. */
  def sqlGroupByAll(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.withViews(spark, sfDir) { spark =>
      spark.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |  YEAR(l_shipdate) AS ship_year,
           |  COUNT(*) AS n, ${sqlXsum("l_quantity")} AS sum_qty
           |FROM lineitem
           |GROUP BY ALL
           |ORDER BY l_returnflag, l_linestatus, ship_year""".stripMargin)
    }
  }

  val sqlGroupByAllSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(YEAR(l_shipdate) AS INTEGER) AS ship_year,
       |  COUNT(*) AS n, ${sqlXsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY ALL
       |ORDER BY l_returnflag, l_linestatus, ship_year""".stripMargin

  /** MATCH_RECOGNIZE reached from SQL TEXT: the verbatim SQL:2016
    * clause grammar parsed by [[graft.plans.MatchRecognizeSql]] and
    * mapped onto the library's [[graft.plans.MatchRecognize]]
    * operator — the same funnel (`V C* P`, SKIP PAST LAST ROW,
    * FIRST/LAST navigation measures) a Scala caller gets from
    * [[SnapshotOps.matchRecognize]], now writable by a SQL-text
    * user. The parse produces the identical plan, so cost and
    * semantics cannot drift between the two surfaces; the oracle is
    * the same match-by-match positional reconstruction. */
  def sqlMatchRecognize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.MatchRecognizeSql.sql(spark,
      """SELECT * FROM events
        |MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES FIRST(event_id), LAST(event_id)
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (V C* P)
        |  DEFINE
        |    V AS event_type = 'view',
        |    C AS event_type = 'click',
        |    P AS event_type = 'purchase'
        |)""".stripMargin,
      _ => Tables.events(spark, sfDir))
      .orderBy($"user_id", $"match_no")
  }

  val sqlMatchRecognizeSql: String = SnapshotOps.matchRecognizeSql

  /** QUALIFY from SQL TEXT ([[graft.plans.QualifySql]]): filter on a
    * window function without the manual subquery — the Snowflake /
    * BigQuery / DuckDB clause Spark's parser lacks, desugared to the
    * standard subquery form (predicate as inner select item, outer
    * filter, helper dropped, trailing ORDER BY applied on top). The
    * top-3-orders-per-customer shape lands on Spark's
    * WindowGroupLimit path — per-partition top-k heaps before the
    * full sort, the same plan the hand-written subquery gets. The
    * oracle is the VERBATIM same statement: DuckDB executes QUALIFY
    * natively, so the two engines parse the identical text — the
    * strongest cross-engine check a SQL front end can get. */
  def sqlQualify(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.withViews(spark, sfDir)(graft.plans.QualifySql.sql(_, qualifyText))
  }

  private val qualifyText: String =
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM orders
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey) <= 3
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  val sqlQualifySql: String = qualifyText
}
