package graft.pipelines

import graft.core.Tables
import graft.ops.Cleaning
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Revenue family — the three cataloged tables with no reference script
  * body, built (like q47's `ads_fare_revenue_region_mi`) from their
  * documented schemas alone: `docs/ads_revenue.xls` rows 34-47
  * (`ads_fare_revenue_service_type_mi`), rows 48-58
  * (`ads_revenue_proportion_product_type_mi`), and rows 59-75
  * (`ads_revenue_route_mi`). Column names, types, and grain come from
  * the catalog; the fixture mapping mirrors the conventions the q44/q47
  * siblings already established (orders = fare transactions, region =
  * o_custkey % 5 → region dim, exact integer-cents money arithmetic,
  * literal audit columns per the family's hardcoded author+timestamp
  * style, `ads_fare_revenue_region_mi.R:129-132`).
  *
  * Scale notes shared by all three: one projected+cached scan of the
  * fact feeds every grain; dims and post-aggregation merge sides are
  * broadcast; every aggregate is partial-aggregable (plain sums/counts
  * over codegen'd expressions — no distinct, no window on the fact);
  * money stays in exact integer cents so partial-agg merge order can
  * never flip a rounding tie (the measured q47/q51 defect class).
  */
object Revenue {

  private def intDiv(num: Column, den: Column): Column =
    Cleaning.intDiv(num, den)

  private def ratio4(num: Column, den: Column): Column =
    when(den > 0, Cleaning.roundHalfUpRatio(num * 10000L, den, 4))
      .otherwise(0.0)

  private val auditCols = Seq(
    lit("system").as("create_by"), lit("system").as("update_by"),
    lit("2025-09-01 11:07:58").as("create_time"),
    lit("2025-09-01 11:07:58").as("update_time"))

  /** `ads_fare_revenue_service_type_mi` (`docs/ads_revenue.xls` rows
    * 34-47): month × region × service_type grain with fare revenue,
    * fines-issued count/amount, evasion count, passengers, and the
    * guarded 4-decimal evasion ratio. No Overall row — unlike the
    * region_mi sibling, the catalog comment for this table's region_id
    * does not request one.
    *
    * Fixture: fares = orders (q47's mapping) with service_type from the
    * F21 composite dispatch (region × priority class, the
    * `ads_ridership...py:129-148` label style); fines/evasion = lineitem
    * legs via their order — a leg with returnflag R is a detected
    * evader, one with R+F is a written-up fine at 10.00 per unit
    * quantity (exact integer cents by construction).
    */
  def adsFareRevenueServiceTypeMonthly(s: SparkSession, dir: String): DataFrame = {
    val region = broadcast(Tables.region(s, dir)
      .select(col("r_regionkey"), col("r_name").as("region_id")))

    // the projected orders subplan appears twice below (fare rows +
    // the fine-leg key join). NOT cached (round-8 change): the
    // projection is a column-pruned scan — both occurrences run inside
    // ONE job, while Caching.eager's build is a SERIAL barrier job
    // (measured 0.37 s of q55's 1.8 s at sf0.1) that also forces
    // downstream stages onto the cache's (single) partitioning.
    // region_id / service_type derive from carried order attributes
    // (o_custkey, priority) AFTER the aggregation (round-9: below the
    // agg they are pure integer group keys), so the region broadcast
    // join probes ~10^5 grouped rows, not the unioned stream.
    // Round-9: every pre-aggregation column is an INTEGER — the month
    // as year*100+month, the service class as 1/2/3, the region slot
    // as custkey%5 — so the 100TB-path exchanges and the big hash agg
    // carry ints, not strings, and the 300M-row date_format/concat
    // work of the old shape happens ONCE per output group (~10^5
    // rows) after the agg. format_string("%04d-%02d") equals
    // date_format "yyyy-MM" on the whole AD 1..9999 domain.
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("ym"),
        when(col("o_orderpriority") === "1-URGENT", 1)
          .when(col("o_orderpriority") === "2-HIGH", 2)
          .otherwise(3).as("svc"),
        round(col("o_totalprice") * 100).cast("long").as("fare_cents"))

    // TAGGED UNION, ONE AGGREGATION (round-8 restructure, the q42/J5
    // conditional-agg trick): fare rows (one per order) and fine rows
    // (one per inspected leg) carry mutually-zeroed metric columns, so
    // a single hash agg on the grain keys replaces the former
    // two-aggregations-meeting-in-a-join plan — one exchange and no
    // post-agg join stage. Zero-filled metrics reproduce the old LEFT
    // join exactly: a leg's keys always exist among the fare rows (its
    // order IS a fare row), so no group appears or disappears.
    val fareRows = orders.select(
      col("o_custkey"), col("ym"), col("svc"),
      col("fare_cents"), lit(1L).as("pax"),
      lit(0L).as("fine_n"), lit(0L).as("fine_cents"), lit(0L).as("evade_n"))
    // Round-9 (the sf100 measurement, SCALE.md): two EXACT reductions
    // ahead of the orderkey join, which the sf100 point showed carries
    // the whole query (Spark 69.7 s vs DuckDB 12.3 s on 600M legs).
    //  1. Scan filter l_returnflag = 'R': a non-R leg contributes
    //     (0,0,0) to every fine metric and can never create a group
    //     (every group's keys exist via its order's fare row), so
    //     dropping them is algebraically exact — and the predicate
    //     pushes to the parquet scan, cutting the join's probe side
    //     ~4x before any exchange.
    //  2. Pre-aggregate the surviving legs BY ORDERKEY before joining:
    //     the metrics are order-additive, TPC-H lineitem is physically
    //     clustered by orderkey so the map-side partial agg collapses
    //     multi-leg orders inside each scan partition, and the join's
    //     left side arrives already hash-partitioned on the join key —
    //     EnsureRequirements reuses that exchange, so the join adds
    //     only the orders-side shuffle.
    val fineAgg = Tables.lineitem(s, dir)
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        when(col("l_linestatus") === "F", 1L).otherwise(0L).as("is_rf"),
        when(col("l_linestatus") === "F",
          round(col("l_quantity")).cast("long") * 1000L)
          .otherwise(0L).as("rf_cents"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("is_rf")).as("fine_n"),
        sum(col("rf_cents")).as("fine_cents"),
        count(lit(1)).as("evade_n"))
    val fineRows = fineAgg
      // pinned shuffled-hash — same rationale as q56's orderkey join
      .join(orders.select(col("o_orderkey"), col("o_custkey"),
          col("ym"), col("svc")).hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("ym"), col("svc"),
        lit(0L).as("fare_cents"), lit(0L).as("pax"),
        col("fine_n"), col("fine_cents"), col("evade_n"))

    fareRows.union(fineRows)
      .groupBy((col("o_custkey") % 5).as("rkey"), col("ym"), col("svc"))
      .agg(sum(col("fare_cents")).as("fare_cents"),
        sum(col("pax")).as("passenger_num"),
        sum(col("fine_n")).as("passenger_fines_issued_num"),
        sum(col("fine_cents")).as("fine_cents"),
        sum(col("evade_n")).as("fare_evasion_passenger_num"))
      // output-group cardinality from here down: dim join + all string
      // building on ~10^5 rows, not 10^8
      .join(region, col("rkey") === col("r_regionkey"))
      .withColumn("t_date",
        format_string("%04d-%02d",
          (col("ym") / lit(100)).cast("int"), col("ym") % 100))
      .withColumn("service_type",
        Cleaning.serviceType(col("region_id"),
          when(col("svc") === 1, "Link")
            .when(col("svc") === 2, "Regional")
            .otherwise("Local")))
      .select(Seq(
        col("t_date"), lit("month").as("date_type"),
        col("region_id"), col("service_type"),
        round(col("fare_cents").cast("double") / 100.0, 2).as("fare_revenue"),
        coalesce(col("passenger_fines_issued_num"), lit(0L))
          .as("passenger_fines_issued_num"),
        round(coalesce(col("fine_cents"), lit(0L)).cast("double") / 100.0, 2)
          .as("fines_issued_amount"),
        coalesce(col("fare_evasion_passenger_num"), lit(0L))
          .as("fare_evasion_passenger_num"),
        col("passenger_num"),
        ratio4(coalesce(col("fare_evasion_passenger_num"), lit(0L)),
          col("passenger_num")).as("fare_evasion_ratio")) ++ auditCols: _*)
      .orderBy(col("t_date"), col("region_id"), col("service_type"))
  }

  /** `ads_revenue_proportion_product_type_mi` (`docs/ads_revenue.xls`
    * rows 48-58): month × region × product_type grain over the catalog's
    * enumerated seven products, with net fare revenue, cards sold, and
    * gross sales revenue.
    *
    * Fixture: sales legs = lineitem via its order (month/region from the
    * order, q47's mapping); product_type = the catalog's seven labels
    * keyed by l_partkey mod 7 (deterministic, no dim join needed — the
    * key is already on the fact); fare_revenue = discounted net in exact
    * cents, ext_cents·(100−disc_pct) div 100, computed per leg BEFORE
    * the sum so the truncation point is identical on both engines.
    */
  def adsRevenueProportionProductTypeMonthly(s: SparkSession, dir: String): DataFrame = {
    val region = broadcast(Tables.region(s, dir)
      .select(col("r_regionkey"), col("r_name").as("region_id")))

    val productNames = array(
      lit("T-Purse Personalised"), lit("Disabled"), lit("Senior"),
      lit("Student"), lit("T-Purse Annonymous"), lit("Monthly Pass"),
      lit("Weekly Pass"))

    // Round-9 (the q55 sf100 lesson, same treatment): the hot path —
    // leg scan, orderkey join, grain agg — carries ONLY integers
    // (month as year*100+month, product as its 0-6 slot, region as
    // custkey%5); the dim broadcast, product-name lookup, and month
    // formatting all run on the ~10^5 aggregated groups instead of
    // 10^8 legs. No R-filter analogue here: every leg contributes.
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("ym"))

    // net_cents derives from leg columns only — computed in the scan
    // projection so the join shuffle carries one fewer column
    val legs = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        (col("l_partkey") % 7).cast("int").as("pidx"),
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("ext_cents"),
        round(col("l_discount") * 100).cast("long").as("disc_pct"))
      .withColumn("net_cents",
        intDiv(col("ext_cents") * (lit(100L) - col("disc_pct")), lit(100L)))
      .drop("disc_pct")
      // pinned shuffled-hash (q67 precedent): past the shuffled-hash
      // size estimate the planner flips to sort-merge, paying TWO full
      // sorts of the fact streams (measured sf100: the sorts carry the
      // query); the per-partition hash build is the orders side ÷
      // shuffle partitions, which AQE keeps executor-sized at any SF
      .join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))

    legs
      .groupBy((col("o_custkey") % 5).as("rkey"), col("ym"), col("pidx"))
      .agg(sum(col("net_cents")).as("net_cents"),
           sum(col("qty")).as("product_sold_num"),
           sum(col("ext_cents")).as("gross_cents"))
      .join(region, col("rkey") === col("r_regionkey"))
      .withColumn("t_date",
        format_string("%04d-%02d",
          (col("ym") / lit(100)).cast("int"), col("ym") % 100))
      .withColumn("product_type",
        element_at(productNames, col("pidx") + 1))
      .select(Seq(
        col("t_date"), lit("month").as("date_type"),
        col("region_id"), col("product_type"),
        round(col("net_cents").cast("double") / 100.0, 2).as("fare_revenue"),
        col("product_sold_num"),
        round(col("gross_cents").cast("double") / 100.0, 2)
          .as("product_sold_revenue")) ++ auditCols: _*)
      .orderBy(col("t_date"), col("region_id"), col("product_type"))
  }

  /** `ads_revenue_route_mi` (`docs/ads_revenue.xls` rows 59-75): month ×
    * line × route-option × direction grain with fare revenue, per-day
    * and per-trip averages, a cost breakdown (operation/fuel/
    * maintenance), and integer profitability.
    *
    * Fixture: events as AFC taps (q46's mapping — route = event_type,
    * direction = event_id % 2 + 1 per the catalog's 1-forward/2-reverse
    * coding, line_no = dense_rank over route text); fare per tap =
    * (event_id mod 491) + 10 cents — deterministic from the key, spread
    * across fare classes; meters per tap = |round(value)| (the q45 km
    * convention). Costs are exact-integer functions of the group:
    * operation 1.50/trip, fuel 0.012/meter (integer div), maintenance
    * 25.00/line·month; profitability = fare − total cost in cents
    * (bigint per the catalog).
    */
  def adsRevenueRouteMonthly(s: SparkSession, dir: String): DataFrame = {
    // one projected scan; the dim derives from the same cache
    val ev = graft.core.Caching.eager(Tables.events(s, dir).select(
      date_format(col("ts"), "yyyy-MM").as("t_date"),
      col("event_type").as("route"),
      (col("event_id") % 2 + 1).cast("int").as("direction"),
      (col("event_id") % 491 + 10L).as("fare_cents"),
      abs(coalesce(round(col("value")), lit(0.0))).cast("long").as("meters"),
      dayofmonth(last_day(col("ts"))).as("dim")))

    // tiny dim (distinct routes): the single-partition window is
    // deliberate and bounded, same as q46's line_no derivation
    val lineDim = broadcast(ev.select(col("route")).distinct()
      .withColumn("line_no", dense_rank().over(Window.orderBy(col("route"))))
      .withColumn("route_no", (length(col("route")) % 5 + 1).cast("int")))

    ev.groupBy(col("t_date"), col("route"), col("direction"))
      .agg(sum(col("fare_cents")).as("cents"),
           count(lit(1)).as("trips"),
           sum(col("meters")).as("meters"),
           max(col("dim")).as("dim"))
      .join(lineDim, Seq("route"))
      .withColumn("operation_cents", col("trips") * 150L)
      .withColumn("fuel_cents", intDiv(col("meters") * 12L, lit(1000L)))
      .withColumn("maintenance_cents", col("line_no").cast("long") * 2500L)
      .withColumn("total_cents",
        col("operation_cents") + col("fuel_cents") + col("maintenance_cents"))
      .select(Seq(
        col("t_date"), lit("month").as("date_type"),
        col("line_no"), col("route_no"), col("direction"),
        round(col("cents").cast("double") / 100.0, 2).as("fare_revenue"),
        Cleaning.roundHalfUpRatio(col("cents"), col("dim").cast("long"), 2)
          .as("avg_daily_fare_revenue"),
        (col("cents") - col("total_cents")).as("profitability"),
        Cleaning.roundHalfUpRatio(col("cents"), col("trips"), 2)
          .as("avg_fare_per_trip"),
        round(col("total_cents").cast("double") / 100.0, 2).as("total_cost"),
        round(col("operation_cents").cast("double") / 100.0, 2)
          .as("operation_cost"),
        round(col("fuel_cents").cast("double") / 100.0, 2).as("fuel_cost"),
        round(col("maintenance_cents").cast("double") / 100.0, 2)
          .as("maintenance_cost")) ++ auditCols: _*)
      .orderBy(col("t_date"), col("line_no"), col("direction"))
  }
}
