package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Num.rnd

/** Generic table operations + SQL passthrough — the admin/data-browser
  * surface of the reference (/root/reference/core/app.py): paginated
  * table pages (:1795), column search with LIKE (:1848), sorted pages
  * (:2224), a guarded SELECT-only raw SQL runner (:2253-2256), and the
  * named analytical views of core/database_schema.py:475-484.
  *
  * Scale notes: browse/search/sort are scan + total-order top-N — Spark
  * executes global sort-limit as per-partition top-N + single-partition
  * merge (TakeOrderedAndProject), no full sort at 100 TB. The SQL
  * runner is `spark.sql` over temp views, so ad-hoc SQL gets the same
  * Catalyst pushdown as the DataFrame API.
  */
object TableOps {

  /** The database-catalog page (ref app.py:1746 get_tables_list → one
    * row per table: record count + column count, sorted by size):
    * count-star over parquet reads footers, not data, so this "scans"
    * every table at metadata cost; column counts come from the schema
    * (driver-side metadata, no job).
    *
    * The 10 per-table counts are INDEPENDENT one-row-aggregate job
    * chains, so they are submitted concurrently from a thread pool
    * (guide §2.6 — the single-plan union executed them as sequential
    * AQE stage materializations: 21 back-to-back tiny jobs, each
    * leaving every core idle during its tail; r13 measured the entry
    * at 2.4 s of almost pure scheduling). Each count collects ONE long
    * — bounded model-sized driver work, not a data loop — and the
    * assembled page is deterministic: values are exact counts, the
    * sort is the same (record_count desc, table_name). */
  def catalogPage(spark: SparkSession, dir: String): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "region" -> (Tables.region _), "nation" -> (Tables.nation _),
      "customer" -> (Tables.customer _), "supplier" -> (Tables.supplier _),
      "part" -> (Tables.part _), "orders" -> (Tables.orders _),
      "lineitem" -> (Tables.lineitem _), "events" -> (Tables.events _),
      "documents" -> (Tables.documents _),
      "embeddings" -> (Tables.embeddings _))
    val rows: Seq[(String, Long, Long)] = Await.result(
      Future.sequence(loaders.map { case (name, load) => Future {
        val df = load(spark, dir)
        (name, df.count(), df.schema.fields.length.toLong)
      }}), Duration.Inf)
    rows.toDF("table_name", "record_count", "n_columns")
      .orderBy(col("record_count").desc, col("table_name"))
  }

  /** Paginated ordered page of a table (browse shape: LIMIT/OFFSET). */
  def browse(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
              date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .orderBy(col("o_orderkey"))
      .offset(100)
      .limit(50)

  /** LIKE search across a text column, ordered page (search shape). */
  def search(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_name").like("%1%"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
      .limit(25)

  /** Arbitrary-sort-column table page (app.py:2224: `ORDER BY {col}
    * {dir} LIMIT ? OFFSET ?`). The sort column is validated against the
    * schema — the reference whitelists its column names the same way —
    * and a unique-key tiebreak makes the page deterministic. A global
    * sort+limit executes as TakeOrderedAndProject: per-partition
    * top-(offset+limit) heaps + a single-partition merge, never a full
    * sort at 100 TB. */
  def sortedPage(df: DataFrame, sortCol: String, descending: Boolean,
                 tiebreak: String, limit: Int, offset: Int): DataFrame = {
    def resolve(n: String): String = df.columns
      .find(_.equalsIgnoreCase(n))
      .getOrElse(throw new IllegalArgumentException(
        s"sortedPage: column '$n' not in ${df.columns.mkString(", ")}"))
    val sc = col(resolve(sortCol))
    df.orderBy(if (descending) sc.desc else sc.asc, col(resolve(tiebreak)))
      .offset(offset)
      .limit(limit)
  }

  /** Fixed instantiation of the sorted page for the driver contract:
    * orders by totalprice descending, page 2. */
  def sortedDefault(spark: SparkSession, dir: String): DataFrame =
    sortedPage(
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
                col("o_orderpriority")),
      sortCol = "o_totalprice", descending = true,
      tiebreak = "o_orderkey", limit = 50, offset = 20)

  /** Keyset (cursor) pagination — the offset-free paging that stays
    * O(page) at any depth. Offset paging (sortedPage, the reference's
    * shape) scans and discards `offset` rows on every page; the cursor
    * form turns the page boundary into a scan predicate
    * ((sort, tiebreak) > cursor), so page 10⁶ costs the same as page 1
    * — the only paging that survives a 100 TB table. Plans as a pushed
    * disjunctive filter + TakeOrderedAndProject. */
  def keysetPage(df: DataFrame, sortCol: String, tiebreak: String,
                 afterSort: Any, afterTie: Any, limit: Int): DataFrame = {
    val s = col(sortCol); val t = col(tiebreak)
    df.filter(s > lit(afterSort) ||
              (s === lit(afterSort) && t > lit(afterTie)))
      .orderBy(s.asc, t.asc)
      .limit(limit)
  }

  /** Fixed instantiation for the driver contract: orders past the
    * cursor (o_totalprice 50000.0, o_orderkey 0). */
  def keysetDefault(spark: SparkSession, dir: String): DataFrame =
    keysetPage(
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      sortCol = "o_totalprice", tiebreak = "o_orderkey",
      afterSort = 50000.0, afterTie = 0L, limit = 25)

  /** Guarded raw-SQL runner: registers the star schema as temp views and
    * executes a SELECT-only statement (the reference's admin SQL runner
    * rejects anything else the same way). */
  def runSql(spark: SparkSession, dir: String, sql: String): DataFrame = {
    require(sql.trim.toUpperCase.startsWith("SELECT"),
      "only SELECT statements are allowed")
    Tables.Schemas.keys.foreach(t =>
      Tables.byName(spark, dir, t).createOrReplaceTempView(s"v_$t"))
    spark.sql(sql)
  }

  /** Fixed instantiation of the SQL runner for the driver contract. */
  def sqlRunnerDefault(spark: SparkSession, dir: String): DataFrame =
    runSql(spark, dir,
      """SELECT o_orderpriority, count(*) AS n,
                floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total_price
         FROM v_orders
         WHERE o_orderstatus = 'F'
         GROUP BY o_orderpriority
         ORDER BY n DESC, o_orderpriority""")

  /** Client-journey view (v_client_journey shape,
    * database_schema.py:483): per-customer lifetime rollup registered as
    * a named temp view and queried relationally. */
  def clientJourney(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
           date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_order"),
           date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_order"),
           rnd(sum(col("o_totalprice")), 2).as("lifetime_value"))
    v.createOrReplaceTempView("v_client_journey")
    spark.table("v_client_journey")
      .filter(col("n_orders") >= 3)
      .orderBy(col("lifetime_value").desc, col("o_custkey"))
      .limit(25)
  }

  /** Pinned "now" for view date windows (the reference uses date('now');
    * we pin just past the data's max order date for determinism). */
  private val RefDate = "2001-09-01"

  /** v_active_cases shape (database_schema.py:394-413): open cases with
    * client + org info — status filter and two left joins, wide
    * projection. Customer is SF-proportional (no broadcast hint — AQE
    * decides); nation is fixed-size (broadcast). */
  def activeCases(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "O")
    val c = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    val v = o.join(c, col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left")
      .select(
        col("o_orderkey").as("case_id"),
        col("o_orderstatus").as("case_status"),
        col("o_orderpriority").as("service_type"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("created_at"),
        col("c_custkey").as("client_id"),
        col("c_name").as("client_name"),
        col("c_mktsegment").as("client_segment"),
        col("n_name").as("client_office"))
    v.createOrReplaceTempView("v_active_cases")
    spark.table("v_active_cases")
  }

  /** v_referral_flow shape (database_schema.py:415-429): recent referral
    * lines (30-day window before the pinned now) chained through their
    * case to the client. */
  def referralFlow(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(to_date(col("l_shipdate")) >= lit("2001-08-02")) // RefDate - 30d
      .select("l_orderkey", "l_linenumber", "l_linestatus", "l_returnflag",
              "l_shipdate", "l_suppkey")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_name")
    val v = li.join(o, col("l_orderkey") === col("o_orderkey"), "left")
      .join(c, col("o_custkey") === col("c_custkey"), "left")
      .select(
        col("l_orderkey").as("referral_case_id"),
        col("l_linenumber").cast("long").as("referral_line"),
        col("l_linestatus").as("referral_status"),
        col("l_returnflag").as("flow_flag"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("referred_at"),
        col("l_suppkey").as("receiving_provider_id"),
        col("c_name").as("client_name"))
    v.createOrReplaceTempView("v_referral_flow")
    spark.table("v_referral_flow")
  }

  /** v_employee_workload shape (database_schema.py:431-442): per-worker
    * caseload — LEFT JOIN from the worker roster so zero-caseload workers
    * appear with 0s, conditional active count, MAX last-activity date.
    *
    * The fact side is pre-aggregated by `l_suppkey` BEFORE the roster
    * join: the shuffle carries map-side partial aggregates (one row per
    * supplier per input partition) instead of full lineitem rows, and
    * the LEFT-JOIN-from-roster semantics survive joining the per-key
    * aggregate — workers with no lines coalesce to 0/NULL exactly as
    * the row-level LEFT JOIN + CASE aggregation would produce. */
  def employeeWorkload(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_name")
    val liAgg = Tables.lineitem(spark, dir)
      .select("l_suppkey", "l_orderkey", "l_linestatus", "l_shipdate")
      .groupBy(col("l_suppkey"))
      .agg(
        sum(when(col("l_linestatus") === "O", 1L).otherwise(0L)).as("active_agg"),
        count(col("l_orderkey")).as("total_agg"),
        max(col("l_shipdate")).as("max_ship"))
    val v = s.join(liAgg, col("s_suppkey") === col("l_suppkey"), "left")
      .select(
        col("s_suppkey").as("worker_id"),
        col("s_name").as("worker_name"),
        coalesce(col("active_agg"), lit(0L)).as("active_cases"),
        coalesce(col("total_agg"), lit(0L)).as("total_cases"),
        date_format(col("max_ship"), "yyyy-MM-dd").as("last_case_date"))
    v.createOrReplaceTempView("v_employee_workload")
    spark.table("v_employee_workload")
  }

  /** v_service_demand shape (database_schema.py:444-455): request volume
    * by service type × segment over the trailing 90 days, with active
    * share and average age against the pinned now. */
  def serviceDemand(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(to_date(col("o_orderdate")) >= lit("2001-06-03")) // RefDate - 90d
    val c = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    val v = o.join(c, col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("o_orderpriority").as("service_type"),
               col("c_mktsegment").as("service_subtype"))
      .agg(
        count(lit(1)).as("request_count"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L))
          .as("active_count"),
        rnd(avg(datediff(to_date(lit(RefDate)), to_date(col("o_orderdate")))), 1)
          .as("avg_age_days"))
      .orderBy(col("request_count").desc, col("service_type"),
               col("service_subtype"))
    v.createOrReplaceTempView("v_service_demand")
    spark.table("v_service_demand")
  }

  /** Per-column table profile — the catalog drill-down page (null
    * counts, distinct cardinality, min/max per column) every data
    * platform's admin surface shows, and the stats a cost-based
    * planner consumes (ANALYZE TABLE's relational twin).
    *
    * Shape: one UNION leg per column, each a single-distinct aggregate
    * over ONLY that column. N exact distincts in one combined pass
    * would plan through Expand (scan output × N rows into the first
    * aggregate — formerly the documented 100 TB caveat of this page);
    * per-column legs instead plan via planAggregateWithOneDistinct (no
    * Expand anywhere — ProfileSpec locks it), and with columnar
    * storage the N column-pruned scans read the SAME total bytes as
    * the one wide scan while each leg's aggregate sees N× fewer rows.
    * The legs are independent subtrees of one plan, so they schedule
    * concurrently. Values are stringified with EXPLICIT, type-aware
    * rendering (fixed-scale decimal for floating point, date_format
    * for temporals) so the text never depends on an engine's default
    * value rendering (Java's Double.toString flips to scientific
    * notation at ≥1e7; timestamp formats differ across engines — the
    * oracle mirrors each format). [[profileApprox]] remains the sketch
    * form: all columns in ONE pass, no distinct shuffle at all. */
  def profile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val legs = o.schema.fields.toIndexedSeq.map { f =>
      val c = f.name
      o.select(col(c))
        .agg(count(lit(1)).as("n_rows"),
             sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
             count_distinct(col(c)).as("n_distinct"),
             renderValue(min(col(c)), f.dataType).as("min_value"),
             renderValue(max(col(c)), f.dataType).as("max_value"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
                col("n_distinct"), col("min_value"), col("max_value"))
    }
    legs.reduce(_ unionByName _).orderBy(col("column_name"))
  }

  /** The 100 TB form of [[profile]]: approx_count_distinct (HLL++,
    * rsd 5%) replaces the exact distincts, so the plan is ONE plain
    * hash aggregate — no Expand, scan output read once, sketches merge
    * map-side like any partial agg. Approximate by design → rows-only
    * driver check; ProfileSpec pins every approx cardinality within
    * the HLL error bound of the exact page and locks the Expand-free
    * plan. */
  def profileApprox(spark: SparkSession, dir: String): DataFrame =
    profileOn(spark, dir, c => approx_count_distinct(c))

  /** Type-aware explicit rendering for profile min/max values. */
  private def renderValue(c: Column, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case DoubleType | FloatType =>
        c.cast(DecimalType(28, 6)).cast("string")
      case TimestampType => date_format(c, "yyyy-MM-dd HH:mm:ss")
      case DateType      => date_format(c, "yyyy-MM-dd")
      case _             => c.cast("string")
    }
  }

  private def profileOn(spark: SparkSession, dir: String,
                        distinctAgg: Column => Column): DataFrame = {
    val o = Tables.orders(spark, dir)
    val fields = o.schema.fields.toIndexedSeq
    val cols = fields.map(_.name)
    val aggs = fields.flatMap { f =>
      val c = f.name
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        distinctAgg(col(c)).as(s"${c}__distinct"),
        renderValue(min(col(c)), f.dataType).as(s"${c}__min"),
        renderValue(max(col(c)), f.dataType).as(s"${c}__max"))
    }
    val wide = o.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stackExpr = cols.map { c =>
      s"'$c', `${c}__nulls`, `${c}__distinct`, `${c}__min`, `${c}__max`"
    }.mkString(s"stack(${cols.length}, ", ", ",
      ") as (column_name, n_nulls, n_distinct, min_value, max_value)")
    wide.select(col("n_rows"), expr(stackExpr))
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
              col("n_distinct"), col("min_value"), col("max_value"))
      .orderBy(col("column_name"))
  }

  /** Snapshot diff / reconciliation — the data-ops regression check run
    * after every pipeline change: full-outer join two table snapshots
    * on the key, classify each key added / removed / changed /
    * unchanged, roll up counts + a value-drift total. Snapshots are
    * deterministic md5 1/16 splits of orders (A drops nibble 0, B
    * drops nibble 1 and perturbs nibble 2's price by +1 — so all four
    * verdicts occur), mirrored in the oracle. One co-partitioned
    * key join (both sides shuffle once on the key), O(verdicts) output;
    * the per-column compare extends to any width by adding struct
    * fields. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val nib = conv(substring(md5(col("o_orderkey").cast("string")), 1, 1), 16, 10)
      .cast("int")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), nib.as("nib"))
    val a = o.filter(col("nib") =!= 0)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("val_a"))
    val b = o.filter(col("nib") =!= 1)
      .select(col("o_orderkey").as("key"),
        (col("o_totalprice") +
          when(col("nib") === 2, 1.0).otherwise(0.0)).as("val_b"))
    a.join(b, Seq("key"), "full_outer")
      .select(
        when(col("val_a").isNull, "added")
          .when(col("val_b").isNull, "removed")
          .when(col("val_a") =!= col("val_b"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("val_b"), lit(0.0)) - coalesce(col("val_a"), lit(0.0)))
      .toDF("status", "drift")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_keys"), rnd(sum(col("drift")), 2).as("value_drift"))
      .orderBy(col("status"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tbl_diff"             -> (snapshotDiff _),
    "tbl_profile"          -> (profile _),
    "tbl_profile_approx"   -> (profileApprox _),
    "tbl_catalog"          -> (catalogPage _),
    "tbl_browse"           -> (browse _),
    "tbl_sorted"           -> (sortedDefault _),
    "tbl_keyset"           -> (keysetDefault _),
    "tbl_search"           -> (search _),
    "sql_runner"           -> (sqlRunnerDefault _),
    "vw_client_journey"    -> (clientJourney _),
    "vw_active_cases"      -> (activeCases _),
    "vw_referral_flow"     -> (referralFlow _),
    "vw_employee_workload" -> (employeeWorkload _),
    "vw_service_demand"    -> (serviceDemand _))

  val oracles: Map[String, String] = Map(
    "tbl_diff" ->
      """WITH o AS (
           SELECT o_orderkey, o_totalprice,
                  CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1))
                       AS INTEGER) AS nib
           FROM orders),
         a AS (SELECT o_orderkey AS key, o_totalprice AS val_a
               FROM o WHERE nib <> 0),
         b AS (SELECT o_orderkey AS key,
                      o_totalprice + CASE WHEN nib = 2 THEN 1.0 ELSE 0.0 END
                        AS val_b
               FROM o WHERE nib <> 1),
         j AS (
           SELECT CASE WHEN val_a IS NULL THEN 'added'
                       WHEN val_b IS NULL THEN 'removed'
                       WHEN val_a <> val_b THEN 'changed'
                       ELSE 'unchanged' END AS status,
                  coalesce(val_b, 0.0) - coalesce(val_a, 0.0) AS drift
           FROM a FULL OUTER JOIN b USING (key))
         SELECT status, count(*) AS n_keys,
                floor((sum(drift)) * 100 + 0.5) / 100 AS value_drift
         FROM j GROUP BY status ORDER BY status""",
    "tbl_profile" -> {
      // render type tags mirror profile's renderValue: dbl → fixed
      // 6-decimal, ts → second-resolution format, else bare varchar
      val cols = Seq("o_orderkey" -> "raw", "o_custkey" -> "raw",
        "o_orderstatus" -> "raw", "o_totalprice" -> "dbl",
        "o_orderdate" -> "ts", "o_orderpriority" -> "raw")
      def render(e: String, t: String): String = t match {
        case "dbl" => s"CAST(CAST($e AS DECIMAL(28,6)) AS VARCHAR)"
        case "ts"  => s"strftime($e, '%Y-%m-%d %H:%M:%S')"
        case _     => s"CAST($e AS VARCHAR)"
      }
      cols.map { case (c, t) =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
                   CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_nulls,
                   count(DISTINCT $c) AS n_distinct,
                   ${render(s"min($c)", t)} AS min_value,
                   ${render(s"max($c)", t)} AS max_value
            FROM orders"""
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY column_name")
    },
    // column counts are literals on the DuckDB side (they are schema
    // metadata); Spark derives them from the live schema, so a schema
    // drift breaks the hash — which is the point
    "tbl_catalog" -> {
      val arity = Seq("region" -> 2, "nation" -> 3, "customer" -> 5,
        "supplier" -> 4, "part" -> 6, "orders" -> 6, "lineitem" -> 11,
        "events" -> 6, "documents" -> 5, "embeddings" -> 3)
      arity.map { case (t, n) =>
        s"""SELECT '$t' AS table_name, CAST(count(*) AS BIGINT) AS record_count,
                   CAST($n AS BIGINT) AS n_columns FROM $t"""
      }.mkString("SELECT * FROM (", " UNION ALL ",
                 ") ORDER BY record_count DESC, table_name")
    },
    "tbl_browse" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                strftime(o_orderdate, '%Y-%m-%d') AS orderdate
         FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 100""",
    "tbl_sorted" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
         FROM orders ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 50 OFFSET 20""",
    "tbl_keyset" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         WHERE o_totalprice > 50000.0
            OR (o_totalprice = 50000.0 AND o_orderkey > 0)
         ORDER BY o_totalprice, o_orderkey LIMIT 25""",
    "tbl_search" ->
      """SELECT c_custkey, c_name, c_mktsegment
         FROM customer WHERE c_name LIKE '%1%'
         ORDER BY c_custkey LIMIT 25""",
    "sql_runner" ->
      """SELECT o_orderpriority, count(*) AS n,
                floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total_price
         FROM orders
         WHERE o_orderstatus = 'F'
         GROUP BY o_orderpriority
         ORDER BY n DESC, o_orderpriority""",
    "vw_active_cases" ->
      """SELECT o_orderkey AS case_id,
                o_orderstatus AS case_status,
                o_orderpriority AS service_type,
                strftime(o_orderdate, '%Y-%m-%d') AS created_at,
                c_custkey AS client_id,
                c_name AS client_name,
                c_mktsegment AS client_segment,
                n_name AS client_office
         FROM orders
         LEFT JOIN customer ON o_custkey = c_custkey
         LEFT JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderstatus = 'O'""",
    "vw_referral_flow" ->
      """SELECT l_orderkey AS referral_case_id,
                CAST(l_linenumber AS BIGINT) AS referral_line,
                l_linestatus AS referral_status,
                l_returnflag AS flow_flag,
                strftime(l_shipdate, '%Y-%m-%d') AS referred_at,
                l_suppkey AS receiving_provider_id,
                c_name AS client_name
         FROM lineitem
         LEFT JOIN orders ON l_orderkey = o_orderkey
         LEFT JOIN customer ON o_custkey = c_custkey
         WHERE CAST(l_shipdate AS DATE) >= DATE '2001-08-02'""",
    "vw_employee_workload" ->
      """SELECT s_suppkey AS worker_id, s_name AS worker_name,
                CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
                  AS active_cases,
                count(l_orderkey) AS total_cases,
                strftime(max(l_shipdate), '%Y-%m-%d') AS last_case_date
         FROM supplier LEFT JOIN lineitem ON s_suppkey = l_suppkey
         GROUP BY 1, 2""",
    "vw_service_demand" ->
      """SELECT o_orderpriority AS service_type,
                c_mktsegment AS service_subtype,
                count(*) AS request_count,
                CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
                  AS active_count,
                floor((avg(date_diff('day', CAST(o_orderdate AS DATE),
                                     DATE '2001-09-01'))) * 10 + 0.5) / 10
                  AS avg_age_days
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey
         WHERE CAST(o_orderdate AS DATE) >= DATE '2001-06-03'
         GROUP BY 1, 2
         ORDER BY request_count DESC, service_type, service_subtype""",
    "vw_client_journey" ->
      """WITH v AS (
           SELECT o_custkey,
                  count(*) AS n_orders,
                  strftime(min(o_orderdate), '%Y-%m-%d') AS first_order,
                  strftime(max(o_orderdate), '%Y-%m-%d') AS last_order,
                  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS lifetime_value
           FROM orders GROUP BY o_custkey)
         SELECT * FROM v WHERE n_orders >= 3
         ORDER BY lifetime_value DESC, o_custkey LIMIT 25""")
}
