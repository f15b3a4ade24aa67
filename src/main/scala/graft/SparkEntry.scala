package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Movements, Relational, TimeSeries}
import graft.text.TextAnalysis
import graft.dedup.Dedup
import graft.similarity.Knn
import graft.multimodal.Multimodal
import graft.functions.FunctionCoverage

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is defined twice: as a Spark plan (the engine under
  * test) and as ANSI-ish SQL for the DuckDB oracle. Both sides follow
  * the same portability rules (see functions.Portable): decimal-exact
  * sums, md5-based hashing, rounded ratios, explicit ORDER BY on a
  * unique key so row order is deterministic everywhere.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's heatmap pipeline (SURVEY §3.3): top-k recent
    * seconds → flatten → LOCF → per-position counts. */
  def entry(spark: SparkSession): DataFrame = {
    val s = GraftSession.tune(spark)
    Movements.heatmap(Tables.events(s, "/root/testdata/sf0.001"), userId = 1)
  }

  // ---- shared constants (both sides) ----
  private val ChartFromSec = 1705276800L // 2024-01-15T00:00:00Z
  private val SessionGapSec = 600L

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** Deterministic old/new snapshot pair for the CDC queries: the new
    * snapshot drops keys ≡7 (mod 10), bumps the price of keys ≡3 by
    * 100, and inserts a negated-key row for every key ≡1 — same
    * derivation the oracle SQL replays. */
  private def cdcSnapshots(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val o = Tables.orders(s, dir)
    val oldS = o.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val newS = o.where(pmod(col("o_orderkey"), lit(10)) =!= 7)
      .select(col("o_orderkey"), col("o_orderstatus"),
        when(pmod(col("o_orderkey"), lit(10)) === 3, col("o_totalprice") + 100)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      .unionByName(o.where(pmod(col("o_orderkey"), lit(10)) === 1)
        .select((-col("o_orderkey")).as("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") + 0.5).as("o_totalprice")))
    (oldS, newS)
  }

  private type Q = (SparkSession, String) => DataFrame

  /** Shared fixture for the delete-capable top-k IVM queries
    * (cdc_topk_delete / cdc_topk_refill): orders as a keyed fact
    * table — 50 customer-hash groups, the UNIQUE o_orderkey as row
    * id (lineitem has no unique key in this fixture: (orderkey,
    * linenumber) collides), integer-cent prices (portable hashing;
    * doubles never cross the compare). The delete batch mixes a
    * light corpus-wide wash (id % 13 — exercises shadow-row
    * promotion in many groups while staying inside the k′−k budget)
    * with a heavy wash on groups 0-4 (~75% of ids — blows the
    * budget, so the refill signal deterministically fires). The
    * insert batch re-keys every 11th order above the id range. */
  private def topkFacts(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      pmod(col("o_custkey"), lit(50)).as("grp"),
      col("o_orderkey").as("id"),
      (col("o_totalprice").cast("decimal(9,2)") * 100)
        .cast("long").as("price_cents"))

  private def topkDeletes(f: DataFrame): DataFrame =
    f.filter(pmod(col("id"), lit(13)) === 0 ||
      (col("grp") < 5 && pmod(col("id"), lit(4)) < 3))

  private def topkInserts(f: DataFrame): DataFrame =
    f.filter(pmod(col("id"), lit(11)) === 0)
      .select(col("grp"), (col("id") + 1000000000L).as("id"),
        col("price_cents"))

  private def q(f: (SparkSession, String) => DataFrame): Q =
    (s, dir) => f(GraftSession.tune(s), dir)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] = Map(
    // ---- reference parity: movements pipeline (SURVEY §2/§3) ----
    "mov_sec_counts" -> q((s, d) =>
      Movements.perSecondCounts(ev(s, d)).sortWithinPartitions("user_id", "sec")),
    // incremental view maintenance through the exactness gate: merge
    // a deterministic half of the stream into the other half's
    // materialization; the oracle is the full recompute
    "mov_incremental" -> q((s, d) => {
      val events = ev(s, d)
      // null-safe split so the two halves PARTITION the stream even
      // if event_id were ever null (the oracle recomputes over all
      // rows unconditionally)
      val isEven = pmod(col("event_id"), lit(2)) <=> 0
      val base = Movements.perSecondCounts(events.filter(isEven))
      Movements.mergeCountsIncrement(base, events.filter(!isEven))
        .sortWithinPartitions("user_id", "sec")
    }),
    "mov_chart_sum" -> q((s, d) =>
      Movements.chartSum(ev(s, d), ChartFromSec).sortWithinPartitions("user_id")),
    "mov_chart" -> q((s, d) =>
      Movements.chart(ev(s, d), 1L).sortWithinPartitions("sec")),
    "mov_topk_recent" -> q((s, d) =>
      Movements.topkRecent(ev(s, d), 1L, 10)),
    "mov_locf" -> q((s, d) =>
      Movements.locf(ev(s, d)).sortWithinPartitions("user_id", "event_id")),
    "mov_interp" -> q((s, d) =>
      Movements.interpolated(ev(s, d)).sortWithinPartitions("user_id", "event_id")),
    "mov_heatmap" -> q((s, d) =>
      Movements.heatmap(ev(s, d), 1L).sortWithinPartitions("cx", "cy")),
    "mov_heatmap_max" -> q((s, d) =>
      Movements.heatmapMax(ev(s, d), 1L)),
    "mov_heatmap_all" -> q((s, d) =>
      Movements.heatmapAll(ev(s, d))
        .sortWithinPartitions("user_id", "cx", "cy")),
    "mov_sentinel_stats" -> q((s, d) =>
      Movements.sentinelStats(ev(s, d)).sortWithinPartitions("user_id")),
    "mov_bot_signals" -> q((s, d) =>
      Movements.botSignals(ev(s, d)).sortWithinPartitions("user_id")),
    "mov_sessions" -> q((s, d) =>
      Movements.sessions(ev(s, d), SessionGapSec)
        .sortWithinPartitions("user_id", "session_id")),
    "mov_gap_fill" -> q((s, d) =>
      Movements.gapFillMinutes(ev(s, d), 1L)
        .sortWithinPartitions("hour_start", "minute")),
    "mov_session_window" -> q((s, d) =>
      Movements.sessionWindows(ev(s, d), SessionGapSec)
        .sortWithinPartitions("user_id", "session_start_sec")),

    // ---- relational coverage ----
    "q1_pricing" -> q((s, d) =>
      Relational.pricingSummary(Tables.lineitem(s, d))
        .sortWithinPartitions("l_returnflag", "l_linestatus")),
    "q3_top_orders" -> q((s, d) =>
      Relational.topUnshippedOrders(Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d))),
    "q5_region_revenue" -> q((s, d) =>
      Relational.regionRevenue(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))
        .sortWithinPartitions("n_name")),
    "join_semi_segments" -> q((s, d) =>
      Relational.segmentsWithOrders(Tables.customer(s, d), Tables.orders(s, d))
        .sortWithinPartitions("c_mktsegment")),
    "join_anti_customers" -> q((s, d) =>
      Relational.customersWithoutOrders(Tables.customer(s, d), Tables.orders(s, d))
        .sortWithinPartitions("c_custkey")),
    "join_outer_stats" -> q((s, d) =>
      Relational.customerOrderStats(Tables.customer(s, d), Tables.orders(s, d))
        .sortWithinPartitions("c_custkey")),
    "win_rank_orders" -> q((s, d) =>
      Relational.topOrdersPerCustomer(Tables.orders(s, d))
        .sortWithinPartitions("o_custkey", "rn")),
    "win_lag_gaps" -> q((s, d) =>
      Relational.orderGaps(Tables.orders(s, d))
        .sortWithinPartitions("o_custkey", "o_orderkey")),
    "win_running_volume" -> q((s, d) =>
      Relational.runningSupplierVolume(Tables.lineitem(s, d))
        .sortWithinPartitions("l_suppkey", "l_orderkey", "l_linenumber")),
    "agg_brand_suppliers" -> q((s, d) =>
      Relational.brandSupplierCounts(Tables.part(s, d), Tables.lineitem(s, d))
        .sortWithinPartitions("p_brand")),
    "set_intersect_active" -> q((s, d) =>
      Relational.customersActiveBothYears(Tables.orders(s, d))
        .sortWithinPartitions("o_custkey")),
    "set_except_churned" -> q((s, d) =>
      Relational.customersChurned(Tables.orders(s, d))
        .sortWithinPartitions("o_custkey")),
    "rollup_returns" -> q((s, d) =>
      Relational.rollupSummary(Tables.lineitem(s, d))
        .sortWithinPartitions("returnflag", "linestatus")),
    "pivot_priority_status" -> q((s, d) =>
      Relational.priorityStatusPivot(Tables.orders(s, d))
        .sortWithinPartitions("o_orderpriority")),
    "pivot_native" -> q((s, d) =>
      Relational.priorityStatusPivotNative(Tables.orders(s, d))
        .sortWithinPartitions("o_orderpriority")),
    "topk_lineitems" -> q((s, d) =>
      Relational.topLineitems(Tables.lineitem(s, d))),
    // metric-guaranteed string-similarity join: part names within
    // edit distance 2, via Ed-Join's rarest-q-gram prefixes + length
    // filter + codegen levenshtein verify (deterministic %10 slice —
    // the oracle's quadratic truth stays gate-sized)
    "join_editdist" -> q((s, d) =>
      graft.dedup.EditJoin.editJoin(
          Tables.part(s, d).filter(col("p_partkey") % 10 === 0),
          col("p_partkey"), col("p_name"), k = 2)
        .sortWithinPartitions("id1", "id2")),
    // Pareto frontier of parts on (cheapest, largest) — the skyline
    // operator as a distributed sweep line, not an n² dominance join
    "skyline_parts" -> q((s, d) =>
      Relational.skyline2D(Tables.part(s, d),
          (col("p_retailprice") * 100).cast("long"), col("p_size"))
        .select(col("a").as("price_cents"), col("b").as("p_size"), col("n"))
        .sortWithinPartitions("price_cents")),
    "agg_event_stats" -> q((s, d) =>
      Relational.eventTypeStats(Tables.events(s, d))
        .sortWithinPartitions("event_type")),
    "agg_percentiles" -> q((s, d) =>
      Relational.pricePercentiles(Tables.orders(s, d))
        .sortWithinPartitions("o_orderpriority")),
    "agg_corr" -> q((s, d) =>
      Relational.quantityPriceCorr(Tables.lineitem(s, d))
        .sortWithinPartitions("l_returnflag")),
    "agg_sketch" -> q((s, d) =>
      Relational.sketchStatsPortable(Tables.lineitem(s, d))
        .sortWithinPartitions("l_returnflag")),
    "cube_returns" -> q((s, d) =>
      Relational.cubeSummary(Tables.lineitem(s, d))
        .sortWithinPartitions("returnflag", "linestatus")),
    "grouping_sets_events" -> q((s, d) =>
      Relational.groupingSetsEvents(Tables.events(s, d))
        .sortWithinPartitions("event_type", "user_id")),
    "join_range_bands" -> q((s, d) =>
      Relational.priceBandCounts(Tables.orders(s, d)).sortWithinPartitions("band")),
    "join_session_overlap" -> q((s, d) => {
      val sess = Movements.sessionBounds(ev(s, d), SessionGapSec)
      val l = sess.select(col("user_id").as("u1"),
        col("min_us").as("lo1"), (col("max_us") + 1).as("hi1"))
      val r = sess.select(col("user_id").as("u2"),
        col("min_us").as("lo2"), (col("max_us") + 1).as("hi2"))
      operators.RangeJoin.intervalOverlap(
          l, r, "lo1", "hi1", "lo2", "hi2", binWidth = 600000000.0)
        .where(col("u1") < col("u2"))
        .groupBy("u1", "u2")
        .agg(count(lit(1)).as("n_overlaps"),
          sum(least(col("hi1"), col("hi2")) -
            greatest(col("lo1"), col("lo2"))).as("overlap_us"))
        .sortWithinPartitions("u1", "u2")
    }),
    // 2-D ε-join: same-minute cross-user proximity on the positioned
    // event grid — candidates from (minute, cell) equi-keys, exact
    // integer d² residual; per-event neighbor count + nearest d²
    "join_spatial_grid" -> q((s, d) => {
      val p = Movements.positioned(ev(s, d))
        .filter(col("x").isNotNull && col("y").isNotNull)
        .select(col("event_id").as("id"), col("user_id").as("grp"),
          expr("ts_us div 60000000").as("part"), col("x"), col("y"))
      operators.RangeJoin.gridEpsilonJoin(p, r = 5)
        .sortWithinPartitions("event_id")
    }),
    "join_range_binned" -> q((s, d) => {
      import s.implicits._
      val bands = (0 until 8)
        .map(b => (b.toLong, b * 50000.0, (b + 1) * 50000.0))
        .toDF("band", "lo", "hi")
      operators.RangeJoin.pointInInterval(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
          bands, "o_totalprice", "lo", "hi", binWidth = 50000.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("min_price"),
          round(max(col("o_totalprice")), 2).as("max_price"))
        .sortWithinPartitions("band")
    }),
    "win_distributions" -> q((s, d) =>
      Relational.orderDistributions(Tables.orders(s, d))
        .sortWithinPartitions("o_custkey", "o_orderkey")),
    "win_rankings" -> q((s, d) =>
      Relational.orderRankings(Tables.orders(s, d))
        .sortWithinPartitions("o_custkey", "o_orderkey")),
    "win_ntile" -> q((s, d) =>
      Relational.orderNtiles(Tables.orders(s, d))
        .sortWithinPartitions("o_custkey", "o_orderkey")),
    "func_unpivot" -> q((s, d) =>
      Relational.unpivotMeasures(Tables.lineitem(s, d))
        .sortWithinPartitions("l_orderkey", "l_linenumber", "metric")),
    "set_union_all" -> q((s, d) =>
      Relational.yearlyOrderCounts(Tables.orders(s, d))
        .sortWithinPartitions("yr", "o_orderpriority")),
    "q6_forecast" -> q((s, d) =>
      Relational.forecastRevenue(Tables.lineitem(s, d))),
    "q17_small_quantity" -> q((s, d) =>
      Relational.smallQuantityRevenue(Tables.lineitem(s, d))),
    "q14_promo_share" -> q((s, d) =>
      Relational.promoRevenueShare(Tables.lineitem(s, d), Tables.part(s, d))),
    "q18_large_orders" -> q((s, d) =>
      Relational.largeOrders(Tables.orders(s, d), Tables.lineitem(s, d))
        .sortWithinPartitions("o_orderkey")),
    "q4_late_orders" -> q((s, d) =>
      Relational.lateOrderCounts(Tables.orders(s, d), Tables.lineitem(s, d))
        .sortWithinPartitions("o_orderpriority")),
    "q10_return_customers" -> q((s, d) =>
      Relational.topReturnCustomers(Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d))),
    "q22_rich_inactive" -> q((s, d) =>
      Relational.richInactiveCustomers(Tables.customer(s, d),
        Tables.orders(s, d)).sortWithinPartitions("c_custkey")),
    "q2_cheapest_supplier" -> q((s, d) =>
      Relational.cheapestSupplierPerPart(Tables.lineitem(s, d))
        .sortWithinPartitions("l_partkey")),
    "nested_posexplode" -> q((s, d) =>
      Relational.tokenPositions(Tables.documents(s, d))
        .sortWithinPartitions("doc_id", "pos")),
    "agg_collect_buckets" -> q((s, d) =>
      Relational.typeUserBuckets(Tables.events(s, d))
        .sortWithinPartitions("event_type")),
    "win_frame_edges" -> q((s, d) =>
      Relational.orderFrameEdges(Tables.orders(s, d))
        .sortWithinPartitions("o_custkey", "o_orderkey")),
    "agg_arg_extremes" -> q((s, d) =>
      Relational.eventArgExtremes(Tables.events(s, d))
        .sortWithinPartitions("event_type")),

    // ---- time series ----
    "ts_asof_purchase_click" -> q((s, d) =>
      TimeSeries.asofPurchaseClick(ev(s, d)).sortWithinPartitions("user_id", "event_id")),
    // linear multi-touch attribution: one unit of credit per purchase
    // split round(1/n, 6) across its 30-min lookback touches (summed
    // in DECIMAL), unmatched purchases credit 'direct'; touches pair
    // with conversions via a TIME-BINNED (user, bin) equi-join
    "ts_attribution" -> q((s, d) =>
      TimeSeries.attribution(ev(s, d)).sortWithinPartitions("channel")),
    "ts_asof_native" -> q((s, d) =>
      TimeSeries.asofNative(ev(s, d)).sortWithinPartitions("user_id", "event_id")),
    "ts_sliding_avg" -> q((s, d) =>
      TimeSeries.slidingAvg(ev(s, d)).sortWithinPartitions("user_id", "event_id")),
    "ts_twap" -> q((s, d) =>
      TimeSeries.twap(ev(s, d)).sortWithinPartitions("user_id")),
    "ts_m4_downsample" -> q((s, d) =>
      TimeSeries.m4Downsample(ev(s, d)).sortWithinPartitions("bucket")),
    "win_range_frame" -> q((s, d) =>
      TimeSeries.trailingRangeSums(ev(s, d))
        .sortWithinPartitions("user_id", "event_id")),
    "set_bag_ops" -> q((s, d) =>
      Relational.bagSetCounts(Tables.orders(s, d))),
    // correlated LATERAL subquery — the per-row top-N surface in SQL
    // form (plans as the same ranked join the window formulation uses)
    "join_lateral" -> q((s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        """SELECT c_custkey, o_orderkey, o_totalprice
          |FROM customer JOIN LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders
          |  WHERE o_custkey = c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
          |WHERE c_custkey < 100
          |ORDER BY c_custkey, o_orderkey""".stripMargin)
    }),
    "profile_lineitem" -> q((s, d) =>
      operators.Profiling.profile(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
          "l_linestatus")).sortWithinPartitions("col_name")),
    "ts_funnel" -> q((s, d) =>
      TimeSeries.conversionFunnel(ev(s, d)).sortWithinPartitions("step")),
    // CEP negation pattern: view → next purchase within an hour with
    // NO error between — one window pass, no event self-join
    "ts_cep_match" -> q((s, d) =>
      TimeSeries.cepMatch(ev(s, d))
        .sortWithinPartitions("user_id", "first_id")),
    "ts_retention" -> q((s, d) =>
      TimeSeries.cohortRetention(ev(s, d)).sortWithinPartitions("cohort", "offset")),
    "ts_ab_lift" -> q((s, d) =>
      TimeSeries.abConversion(ev(s, d))),
    "ts_paths" -> q((s, d) =>
      TimeSeries.topPaths(ev(s, d))),
    "ts_5min_buckets" -> q((s, d) =>
      TimeSeries.fiveMinuteBuckets(ev(s, d))
        .sortWithinPartitions("user_id", "bucket_start")),
    "ts_monthly_revenue" -> q((s, d) =>
      TimeSeries.monthlyRevenue(Tables.orders(s, d))
        .sortWithinPartitions("month_start_ms")),
    // truncated exponential smoothing: per-priority daily revenue,
    // frozen alpha=1/4 ppm weights over 16 row lags, leading edge
    // renormalized — all-long arithmetic, floor div at the end
    "ts_ema" -> q((s, d) =>
      TimeSeries.emaDaily(Tables.orders(s, d))
        .sortWithinPartitions("o_orderpriority", "day_ms")),
    "q15_top_supplier" -> q((s, d) =>
      Relational.topRevenueSupplier(Tables.lineitem(s, d))
        .sortWithinPartitions("l_suppkey")),
    "agg_kmv_distinct" -> q((s, d) =>
      Relational.kmvDistinctParts(Tables.lineitem(s, d))
        .sortWithinPartitions("l_returnflag")),
    "agg_kmv_jaccard" -> q((s, d) =>
      Relational.kmvSetAlgebra(Tables.lineitem(s, d))),
    "agg_regression" -> q((s, d) =>
      Relational.regressionByFlag(Tables.lineitem(s, d))
        .sortWithinPartitions("l_returnflag")),
    // third standardized moment from decimal power sums — portable
    // where the built-in skewness() streams partition-dependent floats
    "agg_skewness" -> q((s, d) =>
      Relational.skewnessByFlag(Tables.lineitem(s, d))
        .sortWithinPartitions("l_returnflag")),
    // exact 5%-trimmed mean per group WITHOUT a fact-table sort:
    // per-(group, cents) histogram + prefix-sum rank intersection
    // (the budgetSelect trick) — order-statistic state at histogram
    // cost, every division one floor at the end
    "agg_trimmed_mean" -> q((s, d) =>
      Relational.trimmedMeanByFlag(Tables.lineitem(s, d))
        .sortWithinPartitions("l_returnflag")),
    "agg_outliers" -> q((s, d) =>
      Relational.outlierCounts(Tables.lineitem(s, d))
        .sortWithinPartitions("l_returnflag")),
    "q7_nation_volume" -> q((s, d) =>
      Relational.nationVolume(Tables.supplier(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))
        .sortWithinPartitions("supp_nation", "cust_nation", "l_year")),
    "q8_market_share" -> q((s, d) =>
      Relational.marketShare(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.part(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d))
        .sortWithinPartitions("o_year")),
    "q9_product_profit" -> q((s, d) =>
      Relational.productProfit(Tables.nation(s, d), Tables.supplier(s, d),
        Tables.part(s, d), Tables.orders(s, d), Tables.lineitem(s, d))
        .sortWithinPartitions("nation", "o_year")),
    "q11_part_value" -> q((s, d) =>
      Relational.importantPartValues(Tables.nation(s, d), Tables.supplier(s, d),
        Tables.part(s, d), Tables.lineitem(s, d))
        .sortWithinPartitions("p_partkey")),
    "q12_priority_lateness" -> q((s, d) =>
      Relational.priorityByLateness(Tables.orders(s, d), Tables.lineitem(s, d))
        .sortWithinPartitions("ship_class")),
    "q13_order_distribution" -> q((s, d) =>
      Relational.customerOrderDistribution(Tables.customer(s, d),
        Tables.orders(s, d))
        .sortWithinPartitions("c_count")),
    "q16_supplier_counts" -> q((s, d) =>
      Relational.partSupplierCounts(Tables.part(s, d), Tables.lineitem(s, d))
        .sortWithinPartitions("p_brand", "p_type", "p_size")),
    "q19_banded_revenue" -> q((s, d) =>
      Relational.bandedRevenue(Tables.part(s, d), Tables.lineitem(s, d))),
    "q20_excess_suppliers" -> q((s, d) =>
      Relational.excessStockSuppliers(Tables.supplier(s, d), Tables.part(s, d),
        Tables.lineitem(s, d))
        .sortWithinPartitions("s_suppkey")),
    "q21_waiting_suppliers" -> q((s, d) =>
      Relational.waitingSuppliers(Tables.supplier(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))
        .sortWithinPartitions("s_suppkey")),

    // ---- function surface ----
    "func_scalar" -> q((s, d) =>
      FunctionCoverage.scalarFuncs(ev(s, d)).sortWithinPartitions("event_id")),
    "func_string" -> q((s, d) =>
      FunctionCoverage.stringFuncs(Tables.documents(s, d)).sortWithinPartitions("doc_id")),
    "func_array" -> q((s, d) =>
      FunctionCoverage.arrayFuncs(Tables.documents(s, d)).sortWithinPartitions("doc_id")),
    "func_datetime" -> q((s, d) =>
      FunctionCoverage.datetimeFuncs(Tables.orders(s, d)).sortWithinPartitions("o_orderkey")),
    "func_hof" -> q((s, d) =>
      FunctionCoverage.hofFuncs(Tables.documents(s, d)).sortWithinPartitions("doc_id")),
    "func_strdist" -> q((s, d) =>
      FunctionCoverage.stringDistances(Tables.documents(s, d))
        .sortWithinPartitions("doc_id")),
    "func_trysafe" -> q((s, d) =>
      FunctionCoverage.trySafeFuncs(Tables.documents(s, d))
        .sortWithinPartitions("doc_id")),
    "func_map" -> q((s, d) =>
      FunctionCoverage.mapFuncs(ev(s, d)).sortWithinPartitions("event_id")),
    "func_json" -> q((s, d) =>
      FunctionCoverage.jsonFuncs(ev(s, d)).sortWithinPartitions("event_id")),

    // ---- text analysis ----
    "doc_token_stats" -> q((s, d) =>
      TextAnalysis.tokenStats(Tables.documents(s, d)).sortWithinPartitions("doc_id")),
    "doc_quality" -> q((s, d) =>
      TextAnalysis.qualityScore(Tables.documents(s, d)).sortWithinPartitions("doc_id")),
    "doc_langid" -> q((s, d) =>
      TextAnalysis.languageId(Tables.documents(s, d)).sortWithinPartitions("doc_id")),
    "doc_fingerprint" -> q((s, d) =>
      TextAnalysis.fingerprint(Tables.documents(s, d)).sortWithinPartitions("doc_id")),
    "doc_chunks" -> q((s, d) =>
      TextAnalysis.chunk(Tables.documents(s, d))
        .sortWithinPartitions("doc_id", "chunk_idx")),
    "doc_pii_scrub" -> q((s, d) =>
      TextAnalysis.piiScrub(Tables.documents(s, d)).sortWithinPartitions("doc_id")),
    "doc_repetition" -> q((s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d))
        .sortWithinPartitions("doc_id")),
    "doc_pack_bins" -> q((s, d) =>
      TextAnalysis.packBins(Tables.documents(s, d)).sortWithinPartitions("doc_id")),
    "doc_decontaminate" -> q((s, d) =>
      graft.dedup.Dedup.benchmarkOverlap(Tables.documents(s, d))
        .sortWithinPartitions("doc_id")),
    "doc_tfidf_terms" -> q((s, d) =>
      TextAnalysis.tfidfTerms(Tables.documents(s, d))
        .sortWithinPartitions("lang", "rnk")),
    "doc_collocations" -> q((s, d) =>
      TextAnalysis.collocations(Tables.documents(s, d))
        .orderBy(col("lift").desc, col("bigram"))),
    "doc_shuffle_shards" -> q((s, d) =>
      operators.Sampling.shuffleShards(
          Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), col("shard"), col("pos"))
        .sortWithinPartitions("shard", "pos")),
    "ret_bm25" -> q((s, d) => {
      import s.implicits._
      val qs = Seq((1L, "spark window agg"),
        (2L, "customer join filter")).toDF("qid", "query")
      graft.text.Retrieval.bm25(Tables.documents(s, d), qs)
        .sortWithinPartitions("qid", "rnk")
    }),
    "ret_rrf_hybrid" -> q((s, d) => {
      import s.implicits._
      val qs = Seq((1L, "spark window agg"),
        (2L, "customer join filter")).toDF("qid", "query")
      val lex = graft.text.Retrieval.bm25(Tables.documents(s, d), qs)
        .select(col("qid"), col("doc_id").as("item"), col("rnk"))
      val sem = graft.text.Retrieval.semanticTopK(
          Tables.embeddings(s, d), Map(1L -> 100L, 2L -> 200L))
        .select(col("qid"), col("vec_id").as("item"), col("rnk"))
      graft.text.Retrieval.rrfFuse(lex, sem).sortWithinPartitions("qid", "rnk")
    }),
    // ranking-quality eval: BM25 top-10 graded against deterministic
    // term-overlap qrels (≥2 distinct query terms = relevant) —
    // precision/recall/MRR in integer ppm, the lexical stack's
    // knn_recall counterpart
    "ret_eval" -> q((s, d) => {
      import s.implicits._
      val qs = Seq((1L, "spark window agg"),
        (2L, "customer join filter")).toDF("qid", "query")
      val docs = Tables.documents(s, d)
      graft.text.Retrieval.rankEval(
          graft.text.Retrieval.bm25(docs, qs),
          graft.text.Retrieval.qrelsByTermOverlap(docs, qs))
        .sortWithinPartitions("qid")
    }),
    // graded ranking eval: nDCG@10 where the grade is the
    // distinct-term-overlap count the qrels already compute — frozen
    // integer log2 discounts, gains 2^min(g,9)-1, everything long
    "ret_ndcg" -> q((s, d) => {
      import s.implicits._
      val qs = Seq((1L, "spark window agg"),
        (2L, "customer join filter")).toDF("qid", "query")
      val docs = Tables.documents(s, d)
      graft.text.Retrieval.ndcg(
          graft.text.Retrieval.bm25(docs, qs),
          graft.text.Retrieval.qrelsGraded(docs, qs))
        .sortWithinPartitions("qid")
    }),
    // pseudo-relevance feedback: top-5 expansion terms per query from
    // the bm25 top-10 pool, ML weight P(term|pool) in integer ppm,
    // query terms excluded, >= 2 pool docs per term
    "ret_expand" -> q((s, d) => {
      import s.implicits._
      val qs = Seq((1L, "spark window agg"),
        (2L, "customer join filter")).toDF("qid", "query")
      graft.text.Retrieval.expandTerms(Tables.documents(s, d), qs)
        .sortWithinPartitions("qid", "rnk")
    }),
    // the PRF loop CLOSED (VERDICT r11 item 7): the expansion terms
    // are CONSUMED — bm25 re-runs with query ∪ top-5 expansion terms
    // and nDCG@10 against the ORIGINAL query's graded qrels is
    // reported before and after, per query; the measured lift (or
    // its absence) is the deliverable, recorded in ARCHITECTURE
    "ret_expand_eval" -> q((s, d) => {
      import s.implicits._
      val qs = Seq((1L, "spark window agg"),
        (2L, "customer join filter")).toDF("qid", "query")
      val docs = Tables.documents(s, d)
      val R = graft.text.Retrieval
      // lazy lineage cuts (round 18, VERDICT r17 item 7 — the lesson
      // ret_expand_ab_eval learned in r13, applied here): qrels, r1
      // and r2 are each consumed TWICE (the ndcg evals plus the
      // `moved` anti-join), and each is a query-set-sized relation
      // whose lineage is a full corpus pass — uncut, the second
      // consumer re-ran bm25 / the qrels derivation
      val qrels = R.qrelsGraded(docs, qs).localCheckpoint(false)
      val r1 = R.bm25(docs, qs).localCheckpoint(false)
      val r2 = R.bm25(docs, R.expandedQueries(docs, qs))
        .localCheckpoint(false)
      val before = R.ndcg(r1, qrels)
        .select(col("qid"), col("ndcg_ppm").as("ndcg_before_ppm"))
      val after = R.ndcg(r2, qrels)
        .select(col("qid"), col("ndcg_ppm").as("ndcg_after_ppm"))
      // how much the ranking actually MOVED: docs in the expanded
      // top-10 absent from the original top-10 (a saturated metric
      // can hide a real reshuffle — report both)
      val moved = r2.join(r1.select(col("qid"), col("doc_id")),
          Seq("qid", "doc_id"), "left_anti")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_new_top10"))
      before.join(after, Seq("qid"))
        .join(moved, Seq("qid"), "left")
        .select(col("qid"), col("ndcg_before_ppm"),
          col("ndcg_after_ppm"),
          (col("ndcg_after_ppm") - col("ndcg_before_ppm"))
            .as("delta_ppm"),
          coalesce(col("n_new_top10"), lit(0L)).as("n_new_top10"))
        .sortWithinPartitions("qid")
    }),
    // the PRF A/B under FREQUENCY-graded qrels, both treatments in
    // ONE query (VERDICT r13 item 8 — the three separate PRF evals
    // each rebuilt the same baseline bm25 + qrels): the shared
    // before-side and qrels compute ONCE (qrels localCheckpointed —
    // its corpus-pass lineage would otherwise re-execute under all
    // three nDCG evals), then two after-sides — the UN-ANCHORED
    // rewrite (query ∪ top-5 expansion terms; measured −141 478 ppm
    // on q1, classic topic drift) and the RM3-ANCHORED weighted
    // rerun (original terms at λ·P(t|q), expansion at (1−λ)·P(t|R);
    // measured +36 754 ppm on the same query) — report side by side
    // as two delta columns; the lift (or loss) of each treatment is
    // the deliverable
    "ret_expand_ab_eval" -> q((s, d) => {
      import s.implicits._
      val qs = Seq((1L, "spark window agg"),
        (2L, "customer join filter")).toDF("qid", "query")
      val docs = Tables.documents(s, d)
      val R = graft.text.Retrieval
      val qrels = R.qrelsGradedByTf(docs, qs).localCheckpoint(true)
      val before = R.ndcg(R.bm25(docs, qs), qrels)
        .select(col("qid"), col("ndcg_ppm").as("ndcg_before_ppm"))
      // ONE expandTerms run (its two corpus passes) feeds BOTH
      // treatments through the *From sharing seam
      val exp = R.expandTerms(docs, qs).localCheckpoint(true)
      val afterU = R.ndcg(
          R.bm25(docs, R.expandedQueriesFrom(qs, exp)), qrels)
        .select(col("qid"), col("ndcg_ppm").as("ndcg_unanchored_ppm"))
      val afterW = R.ndcg(
          R.bm25Weighted(docs, R.rm3WeightsFrom(qs, exp)), qrels)
        .select(col("qid"), col("ndcg_ppm").as("ndcg_rm3_ppm"))
      before.join(afterU, Seq("qid")).join(afterW, Seq("qid"))
        .select(col("qid"), col("ndcg_before_ppm"),
          col("ndcg_unanchored_ppm"), col("ndcg_rm3_ppm"),
          (col("ndcg_unanchored_ppm") - col("ndcg_before_ppm"))
            .as("delta_unanchored_ppm"),
          (col("ndcg_rm3_ppm") - col("ndcg_before_ppm"))
            .as("delta_rm3_ppm"))
        .sortWithinPartitions("qid")
    }),
    "dedup_delta" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      graft.dedup.Dedup.dedupDelta(
        corpus = docs.filter(col("doc_id") % 5 =!= 0),
        fresh = docs.filter(col("doc_id") % 5 === 0))
        .sortWithinPartitions("doc_id")
    }),
    // delta ingest with ROUTED exactness: LSH collisions are only
    // candidates; rejection requires a verified Jaccard
    "dedup_delta_verified" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      graft.dedup.Dedup.dedupDeltaVerified(
        corpus = docs.filter(col("doc_id") % 5 =!= 0),
        fresh = docs.filter(col("doc_id") % 5 === 0))
        .sortWithinPartitions("doc_id")
    }),
    "sample_mix_sources" -> q((s, d) =>
      operators.Sampling.mixSources(Tables.documents(s, d),
        Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1), 60)
        .sortWithinPartitions("source", "rnk")),
    "doc_clean_corpus" -> q((s, d) =>
      TextAnalysis.cleanCorpusStats(Tables.documents(s, d))
        .sortWithinPartitions("source")),
    "sample_weighted" -> q((s, d) =>
      operators.Sampling.weightedTopK(
        Tables.lineitem(s, d).select(
          concat_ws(":", col("l_orderkey"), col("l_linenumber")).as("item_id"),
          col("l_quantity")),
        col("item_id"), col("l_quantity"), 50)
        .select(col("item_id"), col("l_quantity"), col("priority"))),
    "sample_weighted_strata" -> q((s, d) =>
      operators.Sampling.weightedTopKPerGroup(
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
          length(col("text")).as("n_chars")),
        col("lang"), col("doc_id"), col("n_chars"), 5)
        .select(col("lang"), col("rnk"), col("doc_id"), col("priority"))
        .sortWithinPartitions("lang", "rnk")),
    "sample_temperature" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      val t = operators.Sampling.temperatureTargets(docs, total = 200L)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(graft.functions.Portable.hash52(col("doc_id")), col("doc_id"))
      val sel = docs.join(broadcast(t.select("source", "target")), "source")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= lit(200L) && col("rnk") <= col("target"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_sel"), sum(col("doc_id")).as("sum_ids"))
      t.join(sel, Seq("source"), "left")
        .select(col("source"), col("n"), col("target"),
          coalesce(col("n_sel"), lit(0L)).as("n_sel"),
          coalesce(col("sum_ids"), lit(0L)).as("sum_ids"))
        .sortWithinPartitions("source")
    }),
    "hh_top_terms" -> q((s, d) =>
      graft.functions.HeavyHitters.exactTopK(
        Tables.documents(s, d).select(
          explode(graft.functions.Portable.tokens(col("text"))).as("term")),
        "term", 20)),
    "hh_group_terms" -> q((s, d) =>
      graft.functions.HeavyHitters.exactTopKPerGroup(
        Tables.documents(s, d).select(col("lang"),
          explode(graft.functions.Portable.tokens(col("text"))).as("term")),
        "lang", "term", 5)
        .sortWithinPartitions("lang", "rnk")),
    "agg_hist_quantiles" -> q((s, d) => {
      val h = graft.functions.HistogramSketch.histogram(
        Tables.lineitem(s, d), "l_extendedprice", 1000.0)
      graft.functions.HistogramSketch.quantiles(h, Seq(0.5, 0.9, 0.99), 1000.0)
        .sortWithinPartitions("q")
    }),
    "agg_hist_by_flag" -> q((s, d) => {
      val h = graft.functions.HistogramSketch.histogramBy(
        Tables.lineitem(s, d), Seq("l_returnflag"), "l_extendedprice", 1000.0)
      graft.functions.HistogramSketch.quantilesBy(
          h, Seq("l_returnflag"), Seq(0.5, 0.95), 1000.0)
        .sortWithinPartitions("l_returnflag", "q")
    }),
    "ts_sliding_distinct" -> q((s, d) =>
      operators.TimeSeries.slidingDistinct(ev(s, d), "user_id")
        .sortWithinPartitions("bucket")),
    "ts_concurrency" -> q((s, d) => {
      val sess = Movements.sessionBounds(ev(s, d), SessionGapSec)
        .select(col("min_us").as("lo"), (col("max_us") + 1).as("hi"))
      operators.TimeSeries.sweepConcurrency(sess, "lo", "hi",
          bucketUs = 3600000000L)
        .sortWithinPartitions("bucket")
    }),
    "profile_checksum" -> q((s, d) =>
      operators.Profiling.checksum(Tables.orders(s, d), "o_orderstatus",
          Seq("o_orderkey", "o_custkey", "o_orderpriority"))
        .select(col("o_orderstatus"), col("n_rows"),
          col("content_sum").cast("string").as("content_sum"))
        .sortWithinPartitions("o_orderstatus")),
    "cdc_diff" -> q((s, d) => {
      val (oldS, newS) = cdcSnapshots(s, d)
      operators.Cdc.snapshotDiff(oldS, newS,
          Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
        .sortWithinPartitions("o_orderkey")
    }),
    "cdc_scd2" -> q((s, d) => {
      val (oldS, newS) = cdcSnapshots(s, d)
      val dim = oldS.withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("bigint"))
      val diff = operators.Cdc.snapshotDiff(oldS, newS,
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
      operators.Cdc.scd2Apply(dim, diff,
          Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"), ts = 1L)
        .where(pmod(abs(col("o_orderkey")), lit(10)).isin(1, 3, 7))
        .sortWithinPartitions("o_orderkey", "valid_from")
    }),
    // incremental view maintenance: fold the diff into the PRIOR
    // per-status aggregate without rescanning orders — the oracle is
    // the from-scratch aggregate over the new snapshot, and equality
    // with it IS the contract (same idea as graph_components_delta)
    "cdc_agg_delta" -> q((s, d) => {
      val (oldS, newS) = cdcSnapshots(s, d)
      val prior = operators.Cdc.groupAggState(
        oldS, "o_orderstatus", "o_totalprice")
      val changes = operators.Cdc.snapshotDiff(oldS, newS,
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
      operators.Cdc.aggDelta(prior, changes,
          "o_orderstatus", "o_totalprice")
        .select(col("o_orderstatus"), col("cnt"),
          round(col("total").cast("double"), 2).as("total"))
        .sortWithinPartitions("o_orderstatus")
    }),
    // bounded-state IVM: per-priority top-3 orders maintained by
    // folding an insert batch (o_orderkey % 10 == 0) into the prior
    // top-k state — the oracle is the from-scratch top-k over ALL
    // orders, and exact equality with it IS the merge law's contract
    "cdc_topk_delta" -> q((s, d) => {
      val o = Tables.orders(s, d).withColumn("price_cents",
        (col("o_totalprice").cast("decimal(9,2)") * lit(100))
          .cast("long"))
      val base = o.filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
      val ins = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
      val state = operators.Cdc.topkState(
        base, "o_orderpriority", "price_cents", "o_orderkey", k = 3)
      operators.Cdc.topkDelta(state, ins,
          "o_orderpriority", "price_cents", "o_orderkey", k = 3)
        .sortWithinPartitions("o_orderpriority", "rnk")
    }),
    // delete-capable top-k IVM (VERDICT r11 item 4): k'=2k shadow
    // rows absorb up to k'-k deletions per group exactly; the oracle
    // is the FROM-SCRATCH top-k over the post-batch facts, restricted
    // to the groups an INDEPENDENTLY derived refill rule keeps — on
    // those groups the fold must match the recompute bit-for-bit,
    // including every delete-promotes-hidden-row case the id % 13
    // wash creates (a deleted top-5 row whose replacement was held
    // only in the shadow region ranks 6..10)
    "cdc_topk_delete" -> q((s, d) => {
      val f = topkFacts(s, d)
      val state = operators.Cdc.topkShadowState(
        f, "grp", "price_cents", "id", k = 5, kPrime = 10)
      operators.Cdc.topkFold(state, topkInserts(f), topkDeletes(f),
          "grp", "price_cents", "id", k = 5, kPrime = 10)
        .filter(!col("needs_refill") && col("rnk") <= 5)
        .select(col("grp"), col("rnk"), col("id"), col("price_cents"))
        .sortWithinPartitions("grp", "rnk")
    }),
    // the refill signal itself, oracle-checked: groups whose heavy
    // delete wash exceeds the k'-k budget must be REPORTED (with the
    // damage quantified), not silently under-filled — the oracle
    // derives the same set from the base tables alone
    "cdc_topk_refill" -> q((s, d) => {
      val f = topkFacts(s, d)
      val state = operators.Cdc.topkShadowState(
        f, "grp", "price_cents", "id", k = 5, kPrime = 10)
      operators.Cdc.topkRefill(state, topkDeletes(f), "grp", "id", k = 5)
        .sortWithinPartitions("grp")
    }),
    // the refill signal CONSUMED: rebuild the flagged groups from the
    // post-batch facts (a scan FILTERED to those groups), merge with
    // the healthy folded state — and now the served top-5 is exact
    // for EVERY group, which is the oracle's unrestricted contract
    "cdc_topk_repair" -> q((s, d) => {
      val f = topkFacts(s, d)
      val dels = topkDeletes(f)
      val ins = topkInserts(f)
      val state = operators.Cdc.topkShadowState(
        f, "grp", "price_cents", "id", k = 5, kPrime = 10)
      val folded = operators.Cdc.topkFold(state, ins, dels,
        "grp", "price_cents", "id", k = 5, kPrime = 10)
      val refill = operators.Cdc.topkRefill(state, dels, "grp", "id", k = 5)
      val newFacts = f.join(dels.select("id"), Seq("id"), "left_anti")
        .select("grp", "id", "price_cents").unionByName(ins)
      operators.Cdc.topkRepair(folded, refill, newFacts,
          "grp", "price_cents", "id", k = 5, kPrime = 10)
        .filter(col("rnk") <= 5)
        .select(col("grp"), col("rnk"), col("id"), col("price_cents"))
        .sortWithinPartitions("grp", "rnk")
    }),
    "cms_term_counts" -> q((s, d) => {
      // one per-term aggregate feeds the sketch (weighted form), the
      // top-k, and the exact column — three uses of an identical
      // subtree collapse to ONE scan via exchange reuse
      val counts = Tables.documents(s, d)
        .select(explode(graft.functions.Portable.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("exact_cnt"))
      val sk = graft.functions.CountMin.sketchWeighted(
        counts, "term", "exact_cnt", depth = 5, width = 512)
      val top = counts.orderBy(desc("exact_cnt"), col("term")).limit(20)
      graft.functions.CountMin.estimate(sk, top, "term", depth = 5, width = 512)
        .join(top, Seq("term"))
        .select(col("term"), col("exact_cnt"), col("cms_est"),
          (col("cms_est") - col("exact_cnt")).as("overcount"))
        .orderBy(desc("exact_cnt"), col("term"))
    }),
    "sample_bernoulli" -> q((s, d) =>
      operators.Sampling.bernoulli(Tables.lineitem(s, d),
          concat_ws(":", col("l_orderkey"), col("l_linenumber")), 1, 50)
        .agg(count(lit(1)).as("n"),
          graft.functions.Portable.exactSum(col("l_quantity")).as("sum_qty"))),
    "sample_stratified" -> q((s, d) =>
      operators.Sampling.stratified(ev(s, d), col("event_type"),
          col("event_id"), 10)
        .select(col("event_type"), col("rnk"), col("event_id"))
        .sortWithinPartitions("event_type", "rnk")),
    "sample_folds" -> q((s, d) =>
      Tables.lineitem(s, d)
        .withColumn("h", graft.functions.Portable.hash52(
          concat_ws(":", col("l_orderkey"), col("l_linenumber"))))
        .withColumn("fold", expr("(h * 4) div 4503599627370496"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Portable.exactSum(col("l_quantity")).as("sum_qty"))
        .sortWithinPartitions("fold")),
    // leakage-safe folds: hash the CLUSTER id, not the doc id, so a
    // near-dup pair can never straddle a train/eval split — the fold
    // assignment doc-level hashing gets wrong by construction
    "sample_folds_safe" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      val labels = operators.GraphOps.connectedComponents(
        Dedup.simhashPairs(docs).select("id1", "id2"))
      docs.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn("h", graft.functions.Portable.hash52(col("cluster_id")))
        .withColumn("fold", expr("(h * 4) div 4503599627370496"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"))
        .sortWithinPartitions("fold")
    }),
    // fill a 1M-char budget with the longest documents first — the
    // distributed prefix-sum selection (no single-task global window)
    "sample_budget" -> q((s, d) =>
      operators.Sampling.budgetSelect(Tables.documents(s, d),
          col("doc_id"), col("n_chars"), col("n_chars"), 1000000L)
        .sortWithinPartitions("doc_id")),
    "sample_quantiles" -> q((s, d) =>
      operators.Sampling.bernoulli(Tables.lineitem(s, d),
          concat_ws(":", col("l_orderkey"), col("l_linenumber")), 1, 10)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_sampled"),
          round(percentile(col("l_extendedprice"), lit(0.5)), 4).as("p50"),
          round(percentile(col("l_extendedprice"), lit(0.9)), 4).as("p90"))
        .sortWithinPartitions("l_returnflag")),
    "doc_winnow_fp" -> q((s, d) =>
      TextAnalysis.winnowFingerprint(Tables.documents(s, d))
        .sortWithinPartitions("doc_id")),

    // ---- dedup ----
    "dedup_exact" -> q((s, d) =>
      Dedup.exact(Tables.documents(s, d)).sortWithinPartitions("doc_id")),
    "dedup_minhash_sig" -> q((s, d) =>
      Dedup.minhashSignatures(Tables.documents(s, d)).sortWithinPartitions("doc_id")),
    "dedup_minhash_pairs" -> q((s, d) =>
      Dedup.minhashPairs(Tables.documents(s, d)).sortWithinPartitions("id1", "id2")),
    "dedup_clusters" -> q((s, d) =>
      Dedup.nearDupClusters(Dedup.minhashPairs(Tables.documents(s, d)))
        .sortWithinPartitions("doc_id")),
    "dedup_simhash" -> q((s, d) =>
      Dedup.simhash(Tables.documents(s, d)).sortWithinPartitions("doc_id")),
    // contrastive pair mining: miner positives (label 1) + one
    // deterministic hash-derived negative per doc (label 0), both
    // carrying true simhash hamming as the hardness signal
    "doc_contrastive_pairs" -> q((s, d) =>
      Dedup.contrastivePairs(Tables.documents(s, d))
        .sortWithinPartitions("label", "id1", "id2")),
    "dedup_simhash_pairs" -> q((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d)).sortWithinPartitions("id1", "id2")),
    "dedup_ngram_jaccard" -> q((s, d) =>
      Dedup.ngramJaccardTop(Tables.documents(s, d))),
    // threshold 2/3: the scale knob in action — prefixes shrink to
    // |x|/3, candidate volume drops superlinearly vs the 1/2 default
    "dedup_setsim_strict" -> q((s, d) =>
      dedup.SetSimJoin.jaccardJoin(Tables.documents(s, d), tNum = 2L,
          tDen = 3L)
        .sortWithinPartitions("id1", "id2")),
    "dedup_setsim_join" -> q((s, d) =>
      dedup.SetSimJoin.jaccardJoin(Tables.documents(s, d))
        .sortWithinPartitions("id1", "id2")),
    // the R-S (two-relation) form over a deterministic corpus split:
    // even doc_ids as the left corpus, odd as the right — the
    // cross-corpus matching shape (crawl vs reference, eval vs shard)
    "dedup_setsim_rs" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      dedup.SetSimJoin.jaccardJoinRS(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1))
        .sortWithinPartitions("id1", "id2")
    }),
    // the cross-corpus routing: per-side LSH bands, cross-side
    // bucket collisions, exact verification over the candidate slice
    "dedup_route_rs" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      dedup.SetSimJoin.routedJoinRS(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1))
        .sortWithinPartitions("id1", "id2")
    }),
    // R-S recall eval at gate scale: quarter-corpus slices per side
    // (the exact cross ground truth is the dominant cost, same
    // discipline as dedup_route_recall's sampleMod gate)
    "dedup_route_rs_recall" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      dedup.SetSimJoin.routeRecallRS(
        docs.filter(col("doc_id") % 4 === 0),
        docs.filter(col("doc_id") % 4 === 1))
    }),
    // the 100 TB routing: LSH mines bulk candidates, the exact
    // verifier touches only that slice (precision 1.0 by construction)
    "dedup_route" -> q((s, d) =>
      dedup.SetSimJoin.routedJoin(Tables.documents(s, d))
        .sortWithinPartitions("id1", "id2")),
    // recall eval at GATE scale (doc_id % 2 slice): the exact
    // prefix-filter ground truth is the eval's dominant cost and is
    // quadratic in docs, so the deterministic half-slice cuts it ~4×;
    // recall stays unbiased (banding treats every doc identically).
    // The full-corpus eval remains available as routeRecall(docs).
    "dedup_route_recall" -> q((s, d) =>
      dedup.SetSimJoin.routeRecall(Tables.documents(s, d), sampleMod = 2L)),
    // link prediction: the near-dup pairs the miner's hamming cut
    // MISSED — non-adjacent doc pairs ranked by shared neighborhood
    // (common-neighbor count + integer-ppm resource allocation).
    // maxMiddleDegree = 64 bounds wedge volume at cap·Σdeg (the
    // 301M-wedge uncapped graph at sf0.1 is exactly the hub blow-up
    // the cap exists for); the cap is SEMANTICS — the oracle
    // replicates it — not a silent approximation
    "graph_common_neighbors" -> q((s, d) =>
      operators.GraphOps.commonNeighbors(
          Dedup.simhashPairs(Tables.documents(s, d)).select("id1", "id2")
            .localCheckpoint(true),
          limit = 50, maxMiddleDegree = 64)),
    // 5 iterations, not the operator-default 10: ranking order on the
    // shallow near-dup graph stabilizes by round 5, and each extra
    // round is a fixed AQE stage-scheduling cost at bench scale
    "graph_pagerank" -> q((s, d) =>
      operators.GraphOps.pageRank(
          Dedup.simhashPairs(Tables.documents(s, d)).select("id1", "id2"),
          iterations = 5)
        .orderBy(desc("pr"), col("node")).limit(50)),
    // TrustRank composition: teleport mass only on the trusted seed
    // slice (every 7th doc) — ranks docs by path-weighted closeness
    // to trusted documents, where graph_bfs only counts hops
    "graph_ppr" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      operators.GraphOps.personalizedPageRank(
          Dedup.simhashPairs(docs).select("id1", "id2"),
          docs.filter(col("doc_id") % 7 === 0).select("doc_id"),
          iterations = 5)
        .orderBy(desc("pr"), col("node")).limit(50)
    }),
    // incremental RANKING (VERDICT r12 item 1): trajectory state on
    // the ~99% prior graph, then a node-preserving ~1% edge delta
    // folds BALL-LIMITED — result must equal from-scratch pageRank
    // over the union (the oracle replays the split and recomputes
    // pr0..pr5 on the union graph from scratch). The delta slice is
    // semi-joined to prior nodes so the teleport denominator is
    // unchanged — the operator's stated contract
    "graph_pagerank_delta" -> q((s, d) => {
      val pairs = Dedup.simhashPairs(Tables.documents(s, d))
        .select("id1", "id2").localCheckpoint(true)
      val d0 = pairs.filter((col("id1") + col("id2")) % 101 === 0)
      val p0 = pairs.filter((col("id1") + col("id2")) % 101 =!= 0)
      val nodes0 = p0.select(col("id1").as("node"))
        .unionByName(p0.select(col("id2").as("node"))).distinct()
      val delta = d0
        .join(nodes0.withColumnRenamed("node", "id1"), Seq("id1"), "left_semi")
        .join(nodes0.withColumnRenamed("node", "id2"), Seq("id2"), "left_semi")
      // state pair built ONCE and shared: trajectory + edge-degree
      // state feed the fold through the FromState path (the demo
      // prices state build + fold; production amortizes the build)
      val st = operators.GraphOps.pageRankEdgeState(p0)
      val traj = operators.GraphOps
        .pageRankTrajectoryFromEdges(st, iterations = 5)
      operators.GraphOps
        .pageRankDeltaFromState(traj, st, delta, iterations = 5)
        .orderBy(desc("pr"), col("node")).limit(50)
    }),
    // SEEDED-RANDOM delta fixture (VERDICT r15 item 8): every other
    // graph IVM query derives its delta as a fixed modulus of id
    // SUMS, so the concentrated deltas all share one locality shape;
    // this twin slices by a multiplicative hash of the endpoint pair
    // — deterministic (oracle replays it exactly) but uniform over
    // edges, showing the ball pricing isn't tuned to the modulus
    // shapes. The fold's branch decision is logged per run
    // ([graphops] … locality probe) — a hash-uniform slice is
    // expected to price as a majority ball and take the incremental
    // recompute branch, like the %101 scattered fixture
    "graph_pagerank_delta_rand" -> q((s, d) => {
      val pairs = Dedup.simhashPairs(Tables.documents(s, d))
        .select("id1", "id2").localCheckpoint(true)
      val h = (col("id1") * 48271L + col("id2") * 16807L) % 101
      val d0 = pairs.filter(h === 0)
      val p0 = pairs.filter(h =!= 0)
      val nodes0 = p0.select(col("id1").as("node"))
        .unionByName(p0.select(col("id2").as("node"))).distinct()
      val delta = d0
        .join(nodes0.withColumnRenamed("node", "id1"), Seq("id1"), "left_semi")
        .join(nodes0.withColumnRenamed("node", "id2"), Seq("id2"), "left_semi")
      val st = operators.GraphOps.pageRankEdgeState(p0)
      val traj = operators.GraphOps
        .pageRankTrajectoryFromEdges(st, iterations = 5)
      operators.GraphOps
        .pageRankDeltaFromState(traj, st, delta, iterations = 5)
        .orderBy(desc("pr"), col("node")).limit(50)
    }),
    // incremental PPR (VERDICT r13 item 3): same %101 fixture split
    // as graph_pagerank_delta, seeds = every-7th doc — trajectory
    // state on the prior graph, fold the node-preserving delta
    // ball-limited; must equal from-scratch personalizedPageRank on
    // the union (the oracle replays the split and unrolls the
    // seed-teleport recurrence from scratch, blind to the
    // trajectory/ball/seed-check machinery)
    "graph_ppr_delta" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.simhashPairs(docs)
        .select("id1", "id2").localCheckpoint(true)
      val d0 = pairs.filter((col("id1") + col("id2")) % 101 === 0)
      val p0 = pairs.filter((col("id1") + col("id2")) % 101 =!= 0)
      val nodes0 = p0.select(col("id1").as("node"))
        .unionByName(p0.select(col("id2").as("node"))).distinct()
      val delta = d0
        .join(nodes0.withColumnRenamed("node", "id1"), Seq("id1"), "left_semi")
        .join(nodes0.withColumnRenamed("node", "id2"), Seq("id2"), "left_semi")
      val seeds = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
      // state pair shared through the FromState seams, as in
      // graph_pagerank_delta (the edge state is recurrence-agnostic)
      val st = operators.GraphOps.pageRankEdgeState(p0)
      val traj = operators.GraphOps
        .pprTrajectoryFromEdges(st, seeds, iterations = 5)
      operators.GraphOps
        .pprDeltaFromState(traj, st, delta, seeds, iterations = 5)
        .orderBy(desc("pr"), col("node")).limit(50)
    }),
    // the ranking DELETION law (VERDICT r14 item 3): trajectory state
    // on the full pair graph, then a %13 slice of its edges is
    // RETRACTED and folds signed — the node universe stays the
    // trajectory's (edges never delete documents; a stranded node
    // keeps its teleport-only rank), so the oracle recomputes the
    // recurrence from scratch over the SURVIVING edges with the node
    // set and n_nodes of the PRIOR graph, blind to the ball/branch
    // machinery
    "graph_pagerank_delete" -> q((s, d) => {
      val pairs = Dedup.simhashPairs(Tables.documents(s, d))
        .select("id1", "id2").localCheckpoint(true)
      val del = pairs.filter((col("id1") + col("id2")) % 13 === 0)
      val st = operators.GraphOps.pageRankEdgeState(pairs)
      val traj = operators.GraphOps
        .pageRankTrajectoryFromEdges(st, iterations = 5)
      operators.GraphOps.pageRankDelete(traj, st, del, iterations = 5)
        .orderBy(desc("pr"), col("node")).limit(50)
    }),
    // the PPR deletion law: same %13 retraction, seed-relative
    // recurrence (seeds = every-7th doc, verified against the
    // trajectory's iterate 0); tele(v) depends on the seed set alone
    // so it never moves on a deletion — a stranded non-seed decays to
    // zero, a stranded seed keeps its damped teleport share
    "graph_ppr_delete" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.simhashPairs(docs)
        .select("id1", "id2").localCheckpoint(true)
      val del = pairs.filter((col("id1") + col("id2")) % 13 === 0)
      val seeds = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
      val st = operators.GraphOps.pageRankEdgeState(pairs)
      val traj = operators.GraphOps
        .pprTrajectoryFromEdges(st, seeds, iterations = 5)
      operators.GraphOps.pprDelete(traj, st, del, seeds, iterations = 5)
        .orderBy(desc("pr"), col("node")).limit(50)
    }),
    // shape-independent components: the O(log n)-round star
    // contraction over the same simhash pair graph (min-label's
    // diameter-bound alternative lives at dedup_clusters)
    "graph_components" -> q((s, d) =>
      operators.GraphOps.connectedComponents(
          Dedup.simhashPairs(Tables.documents(s, d)).select("id1", "id2"))
        .sortWithinPartitions("doc_id")),
    // proximity to a trusted seed set (every 7th doc): min similarity
    // hops caps at 10 — the seed-expansion / contamination-spread
    // grade the component labels can't give (reachable-or-not only)
    "graph_bfs" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      operators.GraphOps.bfsHops(
          Dedup.simhashPairs(docs).select("id1", "id2"),
          docs.filter(col("doc_id") % 7 === 0).select("doc_id"))
        .sortWithinPartitions("doc_id")
    }),
    // the DROP step the cluster labels exist for: one survivor per
    // near-dup cluster (longest doc, ties to min id), unpaired docs
    // survive as their own cluster
    "dedup_canonical" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.canonicalPerCluster(docs,
          operators.GraphOps.connectedComponents(
            Dedup.simhashPairs(docs).select("id1", "id2")))
        .sortWithinPartitions("doc_id")
    }),
    // incremental clustering: label the even-doc "yesterday" subgraph,
    // then fold the odd-involving delta in WITHOUT re-clustering —
    // result must equal from-scratch components over the full graph
    // (the equivalence the oracle checks: same closure SQL as
    // graph_components)
    "graph_components_delta" -> q((s, d) => {
      val pairs = Dedup.simhashPairs(Tables.documents(s, d))
        .select("id1", "id2").localCheckpoint(true)
      // prior labeling via the same shape-independent contraction the
      // fold uses (an interleaved-ish A/B vs a min-label prior was a
      // wash at sf0.1 — mins 5.6 vs 6.5 s across adjacent sessions —
      // and this form has no chain-depth cap to trip)
      val prev = operators.GraphOps.connectedComponents(
        pairs.filter(col("id1") % 2 === 0 && col("id2") % 2 === 0))
      operators.GraphOps.componentsDelta(prev,
          pairs.filter(col("id1") % 2 =!= 0 || col("id2") % 2 =!= 0))
        .sortWithinPartitions("doc_id")
    }),
    // the DELETION law (VERDICT r13 item 7): a %13 slice of the pair
    // graph's edges is retracted; only the touched components
    // re-cluster, everything else passes through — and the result
    // must equal the from-scratch closure over the SURVIVING edges
    // with every prior node still labeled (stranded nodes become
    // their own singletons, edges never delete documents)
    "graph_components_delete" -> q((s, d) => {
      val pairs = Dedup.simhashPairs(Tables.documents(s, d))
        .select("id1", "id2").localCheckpoint(true)
      val del = pairs.filter((col("id1") + col("id2")) % 13 === 0)
      val prev = operators.GraphOps.connectedComponents(pairs)
      operators.GraphOps.componentsDelete(prev, pairs, del)
        .sortWithinPartitions("doc_id")
    }),
    // dense near-dup cores: nodes similar to ≥3 others AFTER peeling —
    // template farms and mirror rings, where components/bfs only say
    // reachable (a star's leaves share a component but peel out here)
    "graph_kcore" -> q((s, d) =>
      operators.GraphOps.kCore(
          Dedup.simhashPairs(Tables.documents(s, d)).select("id1", "id2"),
          k = 3)
        .sortWithinPartitions("doc_id")),
    "dedup_embedding_cosine" -> q((s, d) =>
      Knn.nearDupPairs(Tables.embeddings(s, d))),

    // ---- similarity search ----
    "knn_filtered" -> q((s, d) =>
      Knn.filteredSearch(Tables.embeddings(s, d)).sortWithinPartitions("qid", "rnk")),
    "knn_brute" -> q((s, d) =>
      Knn.bruteForce(Tables.embeddings(s, d)).sortWithinPartitions("qid", "rnk")),
    "knn_ivf_assign" -> q((s, d) =>
      Knn.ivfAssign(Tables.embeddings(s, d)).sortWithinPartitions("vec_id")),
    // threshold 0.4, not the real-world ~0.9: the synthetic embeddings
    // are near-random (max in-cell cosine ≈ 0.5), so a relaxed bound is
    // what exercises the drop path end-to-end
    "emb_semantic_prune" -> q((s, d) =>
      Knn.semanticPrune(Tables.embeddings(s, d), threshold = 0.4)
        .sortWithinPartitions("vec_id")),
    // mutual-kNN semantic clusters: each edge requires BOTH endpoints
    // in the other's top-5 (hub vectors can't stitch regions), then
    // components; every vector labeled, isolates are their own
    // singleton cluster — the kNN-graph step of embedding curation
    "emb_mutual_knn_clusters" -> q((s, d) =>
      Knn.mutualKnnClusters(Tables.embeddings(s, d))
        .sortWithinPartitions("vec_id")),
    // the 100 TB form of the mutual-kNN clustering: candidates from
    // shared LSH buckets (bucket-keyed equi-self-join, pair volume
    // Σ bucket² instead of n²) — top-k/mutualize/components identical
    "emb_mutual_knn_lsh" -> q((s, d) =>
      Knn.mutualKnnClustersLsh(Tables.embeddings(s, d))
        .sortWithinPartitions("vec_id")),
    // MMR diversified top-k: each pick maximizes relevance minus
    // max-similarity-to-picked (integer basis points, λ=0.5) — the
    // redundancy penalty a plain top-k lacks; greedy trajectory is
    // engine-exact, oracle = the same greedy unrolled as 10 CTE steps
    "ret_mmr" -> q((s, d) =>
      Knn.mmrRerank(Tables.embeddings(s, d))
        .sortWithinPartitions("qid", "rnk")),
    "knn_ivf_search" -> q((s, d) =>
      Knn.ivfSearch(Tables.embeddings(s, d)).sortWithinPartitions("qid", "rnk")),
    // frozen-centroid delta ingest: base-trained cells, delta batch
    // assigned to them, probe over the grown index (IvfIndex.append's
    // declarative twin)
    "knn_ivf_delta" -> q((s, d) =>
      Knn.ivfDeltaSearch(Tables.embeddings(s, d)).sortWithinPartitions("qid", "rnk")),
    // index maintenance: per-cell add-log share and the cell drift a
    // retrain corrects (IvfIndex.rebuild's declarative twin; the
    // persisted compaction itself is spec-driven in KmeansSpec)
    "knn_ivf_compact" -> q((s, d) =>
      Knn.ivfCompactionReport(Tables.embeddings(s, d)).sortWithinPartitions("cell")),
    "knn_lsh_buckets" -> q((s, d) =>
      Knn.rpLshBuckets(Tables.embeddings(s, d)).sortWithinPartitions("vec_id")),
    "knn_lsh_search" -> q((s, d) =>
      Knn.rpLshSearch(Tables.embeddings(s, d)).sortWithinPartitions("qid", "rnk")),
    // per-label centroid diagnostics: mean-vector norm + intra-class
    // cohesion (cos-to-centroid == cos-to-sum-vector, 1/n cancels) —
    // the label health check before filtered search trusts labels
    "emb_label_centroids" -> q((s, d) =>
      Knn.labelCentroids(Tables.embeddings(s, d))
        .sortWithinPartitions("label")),
    "emb_norms" -> q((s, d) =>
      Knn.norms(Tables.embeddings(s, d)).sortWithinPartitions("vec_id")),
    "emb_quantize" -> q((s, d) =>
      // qvec is array<int>; the driver's comparator can't sort array
      // cells, so the query edge fingerprints the codes (md5 of the
      // comma-joined ints) — same values checked, portable shape.
      similarity.Quantize.quantizeInt8(Tables.embeddings(s, d))
        .withColumn("qvec_md5",
          md5(array_join(transform(col("qvec"), _.cast("string")), ",")))
        .drop("qvec")
        .sortWithinPartitions("vec_id")),
    "knn_quantized" -> q((s, d) =>
      similarity.Quantize.searchQuantized(Tables.embeddings(s, d))
        .sortWithinPartitions("qid", "rnk")),
    "knn_mrl" -> q((s, d) =>
      similarity.Quantize.searchPrefix(Tables.embeddings(s, d), dims = 16)
        .sortWithinPartitions("qid", "rnk")),
    "knn_funnel" -> q((s, d) =>
      similarity.Quantize.searchFunnel(Tables.embeddings(s, d))
        .sortWithinPartitions("qid", "rnk")),
    "knn_ivf_sq8" -> q((s, d) =>
      similarity.Quantize.ivfSearchQuantized(Tables.embeddings(s, d))
        .sortWithinPartitions("qid", "rnk")),
    "doc_forget" -> q((s, d) =>
      operators.Forget.corpusAudit(
          Tables.documents(s, d), Tables.embeddings(s, d))
        .sortWithinPartitions("artifact")),

    // ---- multimodal plumbing ----
    "mm_meta" -> q((s, d) =>
      Multimodal.metaQuery(Tables.documents(s, d)).sortWithinPartitions("doc_id")),
    // the comparison harness can't hash raw binary cells, so the
    // sampled frame (a real binary column Spark-side) is fingerprinted
    // with md5 + length for the gate
    "mm_frames" -> q((s, d) =>
      Multimodal.sampleFrames(Multimodal.mediaTable(Tables.documents(s, d)))
        .select(col("doc_id"), col("media_type"), col("frame_id"),
          md5(col("frame")).as("frame_md5"),
          length(col("frame")).cast("int").as("frame_len"))
        .sortWithinPartitions("doc_id", "frame_id")),
    // storage-style BLOCK-level exact dedup: identical sampled frames
    // (16-byte blocks) across media objects — only (md5, length)
    // fingerprints cross the exchange, never payloads. Block grain
    // (vs whole payloads, which the operator equally accepts) keeps
    // the demo non-degenerate at gate scale: the corpus has shared
    // boilerplate blocks everywhere but few whole-payload duplicates
    "mm_dup_blocks" -> q((s, d) =>
      Multimodal.dupContent(
          Multimodal.sampleFrames(Multimodal.mediaTable(Tables.documents(s, d)))
            .select(col("doc_id"), col("media_type"), col("frame").as("data")))
        .sortWithinPartitions("media_type", "canonical_id", "content_md5")),
    // near-dup media: simhash over frame-byte shingles, banded on the
    // signature prefix within a media type, Hamming-verified — the
    // perceptual counterpart of mm_dup_blocks' exact md5 matching
    "mm_near_blocks" -> q((s, d) =>
      Multimodal.nearBlocks(Multimodal.mediaTable(Tables.documents(s, d)))
        .sortWithinPartitions("media_type", "id1", "id2")),
    // the truncation AUDIT for the banded near-dup path (ADVICE r11):
    // every banded bucket past the cap, with its true size — at the
    // demo cap of 2 the fixture's duplicate payloads surface, proving
    // the audit rule against an independently derived oracle (at the
    // production default of 10 000 the fixture reports zero rows,
    // spec-pinned in MultimodalSpec)
    "mm_near_trunc" -> q((s, d) =>
      Multimodal.nearBlocksTruncated(
          Multimodal.mediaTable(Tables.documents(s, d)), maxBucket = 2)
        .sortWithinPartitions("media_type", "band", "bits")),

    // ---- scale patterns: runtime filters + layout ----
    "join_bloom_prune" -> q((s, d) =>
      operators.BloomJoin.prunedSemiJoin(
          Tables.orders(s, d),
          Tables.customer(s, d).filter(col("c_acctbal") > 9000),
          "o_custkey", "c_custkey", numBits = 1 << 17, numHashes = 5)
        .select(col("o_orderkey"), col("o_custkey"))
        .sortWithinPartitions("o_orderkey")),
    "layout_zvalue" -> q((s, d) =>
      Movements.positioned(ev(s, d))
        .select(col("event_id"),
          graft.sources.Layout.zValue(
            coalesce(col("x"), lit(0)), coalesce(col("y"), lit(0)), 8).as("z"))
        .sortWithinPartitions("event_id")),
    // salting changes DISTRIBUTION, never the result: the oracle is
    // the plain unsalted join — that equality IS the contract
    "join_salted" -> q((s, d) =>
      operators.SkewJoin.revenueByPrioritySalted(
          Tables.lineitem(s, d), Tables.orders(s, d))
        .sortWithinPartitions("o_orderpriority")),
    "qc_expectations" -> q((s, d) =>
      operators.Expectations.lineitemSuite(Tables.lineitem(s, d))
        .sortWithinPartitions("rule")),
    "qc_drift" -> q((s, d) =>
      operators.Expectations.orderPriceDrift(Tables.orders(s, d))
        .sortWithinPartitions("bin")),
    // exact two-sample KS statistic (integer numerator, divided only
    // at the read edge) between the even- and odd-key order-price
    // populations — the unbinned drift measure qc_drift quantizes away
    "qc_ks_drift" -> q((s, d) => {
      val o = Tables.orders(s, d)
      operators.Expectations.ksDrift(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0),
        o.filter(pmod(col("o_orderkey"), lit(2)) =!= 0),
        "o_totalprice")
    }),
    "qc_drift_seg" -> q((s, d) =>
      operators.Expectations.orderPriceDriftBySegment(Tables.orders(s, d))
        .sortWithinPartitions("seg", "bin")),
    // Benford first-digit forensics on order totals: observed vs
    // frozen expected ppm per digit — fabricated/truncated amount
    // columns surface as a deviation profile
    "qc_benford" -> q((s, d) =>
      operators.Expectations.benfordAudit(Tables.orders(s, d), "o_totalprice")
        .sortWithinPartitions("digit")),
    // label-skew audit: per-source language balance — class count,
    // majority share, Gini impurity, all integer ppm (no libm)
    "qc_class_balance" -> q((s, d) =>
      operators.Expectations.classBalance(
          Tables.documents(s, d), "source", "lang")
        .sortWithinPartitions("segment")),
    // chi-square feature↔label association in integer-exact ppm: the
    // leakage/imbalance detector — each (source, lang) cell's
    // (O−E)²/E contribution with the single floor division deferred
    // to the end; χ²·10⁶ for the table = the SUM of contrib_ppm
    "qc_label_assoc" -> q((s, d) =>
      operators.Expectations.labelAssociation(
          Tables.documents(s, d), "source", "lang")
        .sortWithinPartitions("feature", "label")),
    "er_neighbors" -> q((s, d) =>
      dedup.Blocking.customerNeighbors(Tables.customer(s, d))
        .sortWithinPartitions("c_nationkey", "id1", "dist")),
    "graph_triangles" -> q((s, d) =>
      operators.GraphOps.triangleCensus(
        dedup.Blocking.customerNeighbors(Tables.customer(s, d))
          .select(col("id1"), col("id2")))),
    // the census's global closure broken down per vertex: triangles
    // through each node over its C(deg,2) wedges — hubs with mutually
    // dissimilar neighborhoods score 0, clique members 1
    "graph_lcc" -> q((s, d) =>
      operators.GraphOps.localClustering(
          dedup.Blocking.customerNeighbors(Tables.customer(s, d))
            .select(col("id1"), col("id2")))
        .sortWithinPartitions("doc_id")),
    // triangles join the IVM family (round 17): per-node counts
    // maintained through a SIGNED delta — the %101 slice added back
    // (endpoints restricted to the prior universe, the family's
    // node-preserving law) and the %13 slice of the prior graph
    // retracted, folded against the SAME maintained edge state the
    // ranking and components folds read; result must equal the
    // from-scratch per-node census on the survivor graph (the
    // oracle's derivation), stranded nodes decaying to 0
    "graph_triangles_fold" -> q((s, d) => {
      val pairs = dedup.Blocking.customerNeighbors(Tables.customer(s, d))
        .select(col("id1"), col("id2")).localCheckpoint(true)
      val prior = pairs.filter((col("id1") + col("id2")) % 101 =!= 0)
      val nodes0 = prior.select(col("id1").as("n"))
        .unionByName(prior.select(col("id2").as("n"))).distinct()
      val adds = pairs.filter((col("id1") + col("id2")) % 101 === 0)
        .join(nodes0.withColumnRenamed("n", "id1"), Seq("id1"), "left_semi")
        .join(nodes0.withColumnRenamed("n", "id2"), Seq("id2"), "left_semi")
      val dels = prior.filter((col("id1") + col("id2")) % 13 === 0)
      val st = operators.GraphOps.pageRankEdgeState(prior)
      val tri0 = operators.GraphOps.triangleCountsFromEdges(st)
      operators.GraphOps.trianglesDelta(tri0, st, adds, dels)
        .sortWithinPartitions("doc_id")
    }),
    "basket_rules" -> q((s, d) =>
      operators.MarketBasket.pairRules(Tables.lineitem(s, d),
        col("l_orderkey"), col("l_partkey"))),
    // the warehouse load gate: orphan FKs and null FKs per edge,
    // partitioning the defect space (clean data → all zeros, and the
    // oracle proves the zeros rather than assuming them)
    "qc_referential" -> q((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      operators.Expectations.referentialAudit(Seq(
        ("customer->nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey"),
        ("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        ("lineitem->part", li, "l_partkey", Tables.part(s, d), "p_partkey"),
        ("lineitem->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"),
        ("nation->region", Tables.nation(s, d), "n_regionkey",
          Tables.region(s, d), "r_regionkey"),
        ("orders->customer", o, "o_custkey",
          Tables.customer(s, d), "c_custkey"),
        ("supplier->nation", Tables.supplier(s, d), "s_nationkey",
          Tables.nation(s, d), "n_nationkey")))
        .sortWithinPartitions("relationship")
    }),
    // referentialAudit's sibling gate: PK uniqueness per table —
    // row/key/dup counts and worst multiplicity in ONE key-grouped
    // aggregate each; the composite lineitem key widens the group
    // key, not the plan
    "qc_uniqueness" -> q((s, d) =>
      operators.Expectations.uniquenessAudit(Seq(
        ("region", Tables.region(s, d), Seq("r_regionkey")),
        ("nation", Tables.nation(s, d), Seq("n_nationkey")),
        ("customer", Tables.customer(s, d), Seq("c_custkey")),
        ("supplier", Tables.supplier(s, d), Seq("s_suppkey")),
        ("part", Tables.part(s, d), Seq("p_partkey")),
        ("orders", Tables.orders(s, d), Seq("o_orderkey")),
        ("lineitem", Tables.lineitem(s, d),
          Seq("l_orderkey", "l_linenumber")),
        ("events", Tables.events(s, d), Seq("event_id")),
        ("documents", Tables.documents(s, d), Seq("doc_id")),
        ("embeddings", Tables.embeddings(s, d), Seq("vec_id"))))
        .sortWithinPartitions("table_key")),
    "qc_mad_outliers" -> q((s, d) =>
      operators.Expectations.orderPriceOutliers(Tables.orders(s, d))
        .sortWithinPartitions("grp")),
    "dedup_dup_spans" -> q((s, d) =>
      Dedup.dupSpans(Tables.documents(s, d))
        .sortWithinPartitions("doc_id", "span_start")),
    "doc_lm_coverage" -> q((s, d) =>
      TextAnalysis.lmCoverageScore(Tables.documents(s, d), vocabSize = 200)
        .sortWithinPartitions("doc_id")),
    "doc_lm_score" -> q((s, d) =>
      TextAnalysis.lmScore(Tables.documents(s, d))
        .sortWithinPartitions("doc_id")),
    "doc_corpus_mix" -> q((s, d) =>
      TextAnalysis.corpusMix(Tables.documents(s, d))
        .sortWithinPartitions("lang", "source")),
    // markup stripping proven as a ROUND TRIP: each doc's text is
    // wrapped in deterministic HTML (tags, attributes, a script block
    // whose body contains a tag-shaped string, a style block,
    // entities around it) and stripMarkup must recover the original
    "doc_markup" -> q((s, d) => {
      import org.apache.spark.sql.functions.{concat, lit}
      val html = concat(
        lit("<html><head><style type=\"text/css\">p { color: red; }" +
          "</style></head><body class=\"m\">&quot;<p id=\"t\">"),
        col("text"),
        lit("</p>&#39;<script type=\"text/javascript\">var t = " +
          "\"<b>bold</b>\";</script> &amp;tail</body></html>"))
      Tables.documents(s, d).select(col("doc_id"), col("text"),
          TextAnalysis.stripMarkup(html).as("clean"))
        .select(col("doc_id"),
          (col("clean") === concat(lit("\" "), col("text"), lit(" ' &tail")))
            .as("roundtrip"),
          length(col("clean")).cast("long").as("n_chars"))
        .sortWithinPartitions("doc_id")
    }),
    "ts_anomaly" -> q((s, d) =>
      TimeSeries.rateAnomalies(ev(s, d))
        .sortWithinPartitions("event_type", "bucket_start")),
    "dedup_containment" -> q((s, d) =>
      Dedup.containmentTop(Tables.documents(s, d))),
    "er_entities" -> q((s, d) =>
      dedup.Blocking.customerEntities(Tables.customer(s, d))
        .sortWithinPartitions("entity_id")),
    "ts_seasonal" -> q((s, d) =>
      TimeSeries.seasonalDecompose(ev(s, d))
        .sortWithinPartitions("event_type", "bucket_start")),
    "sample_balanced" -> q((s, d) =>
      operators.Sampling.balanced(ev(s, d), col("event_type"), col("event_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_sel"), sum(col("event_id")).as("sum_ids"))
        .sortWithinPartitions("event_type")),
    "ts_anomaly_deseason" -> q((s, d) =>
      TimeSeries.rateAnomaliesDeseasonalized(ev(s, d))
        .sortWithinPartitions("event_type", "bucket_start")),
    "ts_changepoint" -> q((s, d) =>
      TimeSeries.changepoint(ev(s, d))
        .sortWithinPartitions("event_type")),
    "func_variant" -> q((s, d) =>
      FunctionCoverage.variantFuncs(Tables.events(s, d))
        .sortWithinPartitions("event_id")),
    "agg_bitmap_distinct" -> q((s, d) =>
      FunctionCoverage.bitmapDistinct(Tables.lineitem(s, d))
        .sortWithinPartitions("l_returnflag")),
    "doc_dup_rate" -> q((s, d) =>
      Dedup.dupRate(Tables.documents(s, d))
        .sortWithinPartitions("doc_id")),
    // the cleaning ACTION: covered positions cut, survivors rejoined
    "doc_despan" -> q((s, d) =>
      Dedup.removeDupSpans(Tables.documents(s, d))
        .sortWithinPartitions("doc_id")),
    "ts_asof_tolerance" -> q((s, d) =>
      TimeSeries.asofNativeTolerance(ev(s, d))
        .sortWithinPartitions("user_id", "event_id")),
    "ts_asof_forward" -> q((s, d) =>
      TimeSeries.asofNextPurchase(ev(s, d))
        .sortWithinPartitions("user_id", "event_id")),
    "ts_asof_strict" -> q((s, d) =>
      TimeSeries.asofNativeStrict(ev(s, d))
        .sortWithinPartitions("user_id", "event_id")),
    "knn_recall" -> q((s, d) =>
      Knn.recallAtK(Tables.embeddings(s, d))
        .sortWithinPartitions("qid")),
    "knn_recall_lsh" -> q((s, d) =>
      Knn.lshRecallAtK(Tables.embeddings(s, d))
        .sortWithinPartitions("qid")),
    "ts_autocorr" -> q((s, d) =>
      TimeSeries.lag1Autocorr(ev(s, d))
        .sortWithinPartitions("event_type")),
    "qc_freshness" -> q((s, d) =>
      TimeSeries.freshness(ev(s, d))
        .sortWithinPartitions("event_type")),
    "doc_admission_gate" -> q((s, d) =>
      // thresholds tuned to the synthetic corpus's signal range
      // (median dup_frac 0.93, median iv_rate 0.28) so both gates
      // actually discriminate; library defaults stay real-world
      TextAnalysis.admissionGate(Tables.documents(s, d),
          maxDupFrac = 0.9, minIvRate = 0.2)
        .sortWithinPartitions("doc_id")),
    "doc_admission_lm" -> q((s, d) =>
      // the CCNet-graduated gate: duplication + smoothed-bigram-LM
      // avg_nll. 3.42 is the corpus's p75 (range 3.28-3.63), so the
      // perplexity gate actually splits the corpus here
      TextAnalysis.admissionGateLm(Tables.documents(s, d),
          maxDupFrac = 0.9, maxAvgNll = 3.42)
        .sortWithinPartitions("doc_id")),
  )

  // ================= oracle SQL =================

  /** Canonical event CTE: both time grains, positions, sentinel rule —
    * the SQL mirror of Tables.events + Movements.positioned. */
  private val EV =
    """ev AS (
      |  SELECT event_id, user_id, event_type, value, props,
      |         epoch_us(ts) AS ts_us,
      |         epoch_us(ts) // 1000000 AS sec
      |  FROM events)""".stripMargin

  private val POS =
    s"""$EV,
       |pos AS (
       |  SELECT *,
       |    CASE WHEN event_type <> 'error'
       |         THEN CAST(floor(value / 10) AS INT) END AS x,
       |    CASE WHEN event_type <> 'error'
       |         THEN CAST(json_extract_string(props, '$$.k') AS INT) END AS y
       |  FROM ev)""".stripMargin

  /** The shared whitespace-tokenized documents CTE. `docWhere` narrows
    * the corpus at the SOURCE (e.g. the gate-scale `doc_id % 2 = 0`
    * slice) — a builder parameter rather than post-hoc string surgery
    * on the composed SQL, so a reformat of this CTE can never turn the
    * gate into a silent full-corpus no-op. */
  private def toksSql(docWhere: String = ""): String = {
    val where = if (docWhere.isEmpty) "" else s" WHERE $docWhere"
    s"toks AS (SELECT *, string_split(text, ' ') AS t FROM documents$where)"
  }

  private val TOKS = toksSql()

  /** Duplicated-span chain ending in spans(doc_id, span_start,
    * span_end, n_shingles) — the SQL mirror of Dedup.dupSpans. shp
    * zips two parallel unnests (DuckDB pairs equal-length lists);
    * pos = i - 1 matches Spark's 0-based posexplode. */
  private val DupSpansSql =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |shp AS (
      |  SELECT doc_id,
      |    unnest(range(1, len(t) - 1)) - 1 AS pos,
      |    substr(md5(unnest(list_transform(range(1, len(t) - 1),
      |      i -> array_to_string(list_slice(t, i, i + 2), ' ')))), 1, 16)
      |      AS h
      |  FROM toks),
      |df AS (
      |  SELECT h FROM shp GROUP BY h
      |  HAVING count(DISTINCT doc_id) >= 2),
      |d AS (
      |  SELECT s.doc_id, s.pos,
      |    s.pos - row_number() OVER (PARTITION BY s.doc_id ORDER BY s.pos)
      |      AS island
      |  FROM shp s JOIN df USING (h)),
      |spans AS (
      |  SELECT doc_id,
      |    CAST(min(pos) AS BIGINT) AS span_start,
      |    CAST(max(pos) AS BIGINT) AS span_end,
      |    CAST(count(*) AS BIGINT) AS n_shingles
      |  FROM d GROUP BY doc_id, island)""".stripMargin

  /** Decomposed smoothed-bigram-LM per-doc aggregate — the SQL mirror
    * of TextAnalysis.lmScoreImpl: per instance
    * ll = round6(ln(c2+1)) − round6(ln(c1+V)), with the w1 term
    * summed as all-tokens minus the doc's last token. Needs a `toks`
    * CTE in scope; ends in agg(doc_id, n_bigrams, sum_ll) with
    * bigram-less docs dropped (the spine LEFT JOIN nulls them).
    * Shared by doc_lm_score / doc_admission_lm. */
  private val LmAggSql =
    """bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t)),
      |      i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS g
      |  FROM toks),
      |uni AS (SELECT doc_id, unnest(t) AS w FROM toks),
      |c2 AS (SELECT g, count(*) AS c2 FROM bg GROUP BY g),
      |c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
      |vv AS (SELECT count(*) AS v FROM c1),
      |parts AS (
      |  SELECT bg.doc_id, 1 AS src,
      |    CAST(round(ln(c2.c2 + 1.0), 6) AS DECIMAL(18,6)) AS ll
      |  FROM bg JOIN c2 ON bg.g = c2.g
      |  UNION ALL
      |  SELECT uni.doc_id, 2,
      |    CAST(round(ln(c1.c1 + 1.0 * vv.v), 6) AS DECIMAL(18,6))
      |  FROM uni JOIN c1 ON uni.w = c1.w CROSS JOIN vv
      |  UNION ALL
      |  SELECT toks.doc_id, 3,
      |    CAST(round(ln(c1.c1 + 1.0 * vv.v), 6) AS DECIMAL(18,6))
      |  FROM toks JOIN c1 ON t[len(t)] = c1.w CROSS JOIN vv
      |  WHERE len(t) >= 1),
      |agg AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN src = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_bigrams,
      |    sum(CASE WHEN src = 2 THEN -ll ELSE ll END) AS sum_ll
      |  FROM parts GROUP BY doc_id
      |  HAVING sum(CASE WHEN src = 1 THEN 1 ELSE 0 END) > 0)""".stripMargin

  /** Sorted-neighborhood candidate chain ending in u(c_nationkey,
    * id1, id2, dist, bal_gap, name_dist) — the SQL mirror of
    * Blocking.customerNeighbors; shared by er_neighbors/er_entities. */
  private val ErNeighborsSql = {
    val leads = (1 to 2).map(i =>
      s"""lead(c_custkey, $i) OVER win AS id2_$i,
         |    lead(c_acctbal, $i) OVER win AS bal_$i,
         |    lead(c_name, $i) OVER win AS nm_$i""".stripMargin)
      .mkString(",\n    ")
    val arms = (1 to 2).map(i =>
      s"""SELECT c_nationkey, c_custkey AS id1, id2_$i AS id2,
         |    CAST($i AS INT) AS dist,
         |    round(abs(bal_$i - c_acctbal), 2) AS bal_gap,
         |    CAST(levenshtein(c_name, nm_$i) AS INT) AS name_dist
         |  FROM w""".stripMargin)
    s"""w AS (
       |  SELECT c_nationkey, c_custkey, c_acctbal, c_name,
       |    $leads
       |  FROM customer
       |  WINDOW win AS (PARTITION BY c_nationkey
       |                 ORDER BY c_acctbal, c_custkey)),
       |u AS (
       |  ${arms.mkString("\n  UNION ALL\n  ")})""".stripMargin
  }

  private val ShinglesSql =
    """sh AS (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1),
      |           i -> array_to_string(list_slice(t, i, i + 2), ' '))
      |      ELSE [] END) AS shingle
      |  FROM toks)""".stripMargin

  /** Minhash-signature CTE chain; `docWhere` narrows the corpus at the
    * toks source (see [[toksSql]]). */
  private def minhashSigSql(docWhere: String = ""): String = {
    // lane i = 8-hex-char window j of md5 digest for seed s, i = s*4+j
    val mins = (for {
      s <- 0 until Dedup.NumSeeds
      j <- 0 until Dedup.LanesPerSeed
    } yield s"min(substr(md5('$s:' || shingle), ${j * 8 + 1}, 8)) AS mh${s * Dedup.LanesPerSeed + j}")
      .mkString(", ")
    s"""WITH ${toksSql(docWhere)}, $ShinglesSql,
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)""".stripMargin
  }

  private val MinhashSigSql = minhashSigSql()

  /** Reusable simhash CTE chain: sim(doc_id, simhash16). */
  private val SimhashSql = {
    val hexSet = "('8','9','a','c','b','d','e','f')"
    val sums = (1 to 16).map(i =>
      s"CAST(sum(CASE WHEN substr(md5(tok), $i, 1) IN $hexSet THEN 1 ELSE -1 END) AS BIGINT) AS b$i")
      .mkString(", ")
    val bits = (1 to 16).map(i =>
      s"CASE WHEN b$i > 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""tk AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |shagg AS (SELECT doc_id, $sums FROM tk GROUP BY doc_id),
       |sim AS MATERIALIZED (SELECT doc_id, $bits AS simhash16 FROM shagg)""".stripMargin
  }

  // The simhash-graph oracles below are built from the pieces written
  // once here. A CTE that the SQL reads more than once is MATERIALIZED:
  // DuckDB 1.0 inlines a CTE at each reference, so an unmarked pair
  // miner is re-run by every edge, degree and rank iterate that reads
  // it (the delta PageRank rows then outgrow DuckDB's memory).

  /** Hamming distance between two equal-length '0'/'1' strings. */
  private def hammingSql(a: String, b: String, bits: Int = 16): String =
    (1 to bits).map(i =>
      s"CASE WHEN substr($a, $i, 1) = substr($b, $i, 1) THEN 0 ELSE 1 END")
      .mkString(" + ")

  /** The simhash pair miner: sim, a self join on the simhash prefix
    * (plen grows with the corpus), and ed0(id1, id2, hamming), the
    * id1 < id2 pairs within Hamming distance 3. */
  private val SimPairsSql =
    s"""$SimhashSql,
       |plv AS (SELECT CASE WHEN count(*) >= 320000 THEN 10
       |                    WHEN count(*) >= 20000 THEN 9
       |                    ELSE 8 END AS plen FROM documents),
       |pre AS MATERIALIZED (SELECT doc_id, simhash16,
       |          substr(simhash16, 1, (SELECT plen FROM plv)) AS prefix
       |        FROM sim),
       |prs AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2,
       |         ${hammingSql("a.simhash16", "b.simhash16")} AS hamming
       |  FROM pre a JOIN pre b
       |    ON a.prefix = b.prefix AND a.doc_id < b.doc_id),
       |ed0 AS MATERIALIZED (
       |  SELECT id1, id2, hamming FROM prs WHERE hamming <= 3)""".stripMargin

  /** e(a, b), both directions of a pair relation's (id1, id2), and
    * reach(a, b), its transitive closure: least(a, min(b)) over reach
    * is a's component minimum. Needs WITH RECURSIVE. */
  private def closureSql(pairs: String): String =
    s"""e AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM $pairs
       |      UNION SELECT id2, id1 FROM $pairs),
       |reach AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)""".stripMargin

  /** The fixed-iteration integer rank recurrence over the row's
    * edges(src, dst), deg(src, deg) and node universe nodesv, unrolled
    * into pr0 .. pr<iterations> because recursive CTEs forbid
    * aggregation in the recursive term. seeds = None is the uniform
    * teleport: pr0 = 10¹² // n and each step adds (10¹²·15)//100//n.
    * Some(rule) puts the teleport mass on the nodes matching rule:
    * tele = 10¹² // n_seeds on a seed and 0 elsewhere, pr0 = tele, and
    * each step adds (15·tele)//100. A node with no in-edges keeps the
    * bare teleport term through the left join. */
  private def rankRecurrenceSql(iterations: Int, seeds: Option[String]): String = {
    val (pr0, universe, term) = seeds match {
      case None =>
        ("""nn AS MATERIALIZED (SELECT count(*) AS n_nodes FROM nodesv),
           |pr0 AS MATERIALIZED (
           |  SELECT node, 1000000000000 // (SELECT n_nodes FROM nn) AS pr
           |  FROM nodesv)""".stripMargin,
         "nodesv", "(1000000000000 * 15) // 100 // (SELECT n_nodes FROM nn)")
      case Some(rule) =>
        (s"""seedsv AS MATERIALIZED (SELECT node FROM nodesv WHERE $rule),
            |ns AS (SELECT count(*) AS n_seeds FROM seedsv),
            |tele AS MATERIALIZED (SELECT n.node,
            |           CASE WHEN s.node IS NOT NULL
            |             THEN 1000000000000 // (SELECT n_seeds FROM ns)
            |             ELSE CAST(0 AS BIGINT) END AS tele
            |         FROM nodesv n LEFT JOIN seedsv s ON s.node = n.node),
            |pr0 AS MATERIALIZED (SELECT node, tele AS pr FROM tele)""".stripMargin,
         "tele", "(15 * t.tele) // 100")
    }
    val steps = (1 to iterations).map { i =>
      s"""pr$i AS MATERIALIZED (
         |  SELECT t.node,
         |    $term +
         |    (85 * coalesce(c.s, CAST(0 AS BIGINT))) // 100 AS pr
         |  FROM $universe t LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(p.pr // dg.deg) AS BIGINT) AS s
         |    FROM edges e
         |      JOIN pr${i - 1} p ON p.node = e.src
         |      JOIN deg dg ON dg.src = e.src
         |    GROUP BY e.dst) c ON c.node = t.node)""".stripMargin
    }
    (pr0 +: steps).mkString(",\n")
  }

  /** BM25 CTE chain over `toks` ending in bm25r(qid, doc_id, score,
    * rnk) — mirrors Retrieval.bm25's arithmetic exactly: rational
    * Robertson idf (no log — libm), binary-exact k1=1.25 / b=0.75
    * literals, per-term weight rounded at 4 then summed in
    * DECIMAL(18,4). Shared by ret_bm25 and ret_rrf_hybrid. */
  private val Bm25Sql =
    """q(qid, query) AS (
      |  VALUES (1, 'spark window agg'), (2, 'customer join filter')),
      |qt AS (SELECT qid, unnest(string_split(query, ' ')) AS term FROM q),
      |dtok AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
      |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM dtok
      |       WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
      |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |st AS (SELECT count(*) AS n_docs, sum(len(t)) AS sum_dl FROM toks),
      |sc AS (SELECT qt.qid, tf.doc_id,
      |         round(((CAST(n_docs - df AS DOUBLE) + 0.5) /
      |                (CAST(df AS DOUBLE) + 0.5)) *
      |               ((CAST(tf AS DOUBLE) * 2.25) /
      |                (CAST(tf AS DOUBLE) + 1.25 *
      |                 (0.25 + 0.75 * (CAST(dl AS DOUBLE) /
      |                   (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))),
      |           4) AS w
      |       FROM tf JOIN qt USING (term) JOIN dfr USING (term), st),
      |ag AS (SELECT qid, doc_id,
      |         round(CAST(sum(CAST(w AS DECIMAL(18,4))) AS DOUBLE), 4)
      |           AS score
      |       FROM sc GROUP BY 1, 2),
      |bm25r AS (SELECT qid, doc_id, score, row_number() OVER (
      |         PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |       FROM ag)""".stripMargin

  private def dotSql(a: String, b: String): String =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  private def cosSql(a: String, b: String): String =
    s"round(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})), 4)"

  /** Hyperplane-LSH signature CTE chain: sigs(vec_id, bucket). Plane
    * weights regenerate Knn.planeWeights' md5 formula; the sign dot
    * accumulates in DECIMAL(38,18) so the bit is summation-order
    * independent (DuckDB's hash agg vs Spark's left fold). */
  private val RpLshSigSql =
    """WITH ex AS (
      |  SELECT vec_id, unnest(embedding) AS v, unnest(range(64)) AS d
      |  FROM embeddings),
      |planes AS (
      |  SELECT p, d,
      |    CAST('0x' || substr(md5(CAST(p AS VARCHAR) || ':' ||
      |                            CAST(d AS VARCHAR)), 1, 13) AS BIGINT)
      |      / 4503599627370496.0 * 2 - 1 AS w
      |  FROM (SELECT unnest(range(8)) AS p), (SELECT unnest(range(64)) AS d)),
      |dots AS (
      |  SELECT vec_id, p, sum(CAST(CAST(v AS DOUBLE) * w AS DECIMAL(22,18))) AS s
      |  FROM ex JOIN planes USING (d) GROUP BY vec_id, p),
      |sigs AS (
      |  SELECT vec_id,
      |    string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p)
      |      AS bucket
      |  FROM dots GROUP BY vec_id)""".stripMargin

  private val HeatmapBase =
    s"""WITH $POS,
       |u AS (SELECT * FROM pos WHERE user_id = 1),
       |recent AS (SELECT sec FROM u GROUP BY sec ORDER BY sec DESC LIMIT 10),
       |w AS (
       |  SELECT u.*,
       |    last_value(x IGNORE NULLS) OVER lw AS cx,
       |    last_value(y IGNORE NULLS) OVER lw AS cy
       |  FROM u JOIN recent USING (sec)
       |  WINDOW lw AS (PARTITION BY user_id ORDER BY ts_us, event_id
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |hm AS (
       |  SELECT cx, cy, count(*) AS value FROM w
       |  WHERE cx IS NOT NULL GROUP BY cx, cy)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] = Map(
    "mov_sec_counts" ->
      s"""WITH $EV
         |SELECT user_id, sec, count(*) AS cnt FROM ev
         |GROUP BY user_id, sec ORDER BY user_id, sec""".stripMargin,

    "mov_chart_sum" ->
      s"""WITH $EV
         |SELECT user_id, count(*) AS total_events FROM ev
         |WHERE sec > $ChartFromSec GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the merged increment must equal the full recompute
    "mov_incremental" ->
      s"""WITH $EV
         |SELECT user_id, sec, count(*) AS cnt FROM ev
         |GROUP BY user_id, sec ORDER BY user_id, sec""".stripMargin,

    "mov_chart" ->
      s"""WITH $EV
         |SELECT sec,
         |  lpad(CAST((sec // 3600) % 24 AS VARCHAR), 2, '0') || ':' ||
         |  lpad(CAST((sec // 60) % 60 AS VARCHAR), 2, '0') || ':' ||
         |  lpad(CAST(sec % 60 AS VARCHAR), 2, '0') AS label,
         |  count(*) AS cnt
         |FROM ev WHERE user_id = 1 GROUP BY sec ORDER BY sec""".stripMargin,

    "mov_topk_recent" ->
      s"""WITH $EV
         |SELECT sec, count(*) AS cnt FROM ev WHERE user_id = 1
         |GROUP BY sec ORDER BY sec DESC LIMIT 10""".stripMargin,

    "mov_locf" ->
      s"""WITH $POS
         |SELECT user_id, event_id,
         |  last_value(x IGNORE NULLS) OVER lw AS cx,
         |  last_value(y IGNORE NULLS) OVER lw AS cy
         |FROM pos
         |WINDOW lw AS (PARTITION BY user_id ORDER BY ts_us, event_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, event_id""".stripMargin,

    "mov_heatmap" ->
      s"""$HeatmapBase
         |SELECT cx, cy, value FROM hm ORDER BY cx, cy""".stripMargin,

    "mov_heatmap_max" ->
      s"""$HeatmapBase
         |SELECT max(value) AS max_value FROM hm""".stripMargin,

    "mov_heatmap_all" ->
      s"""WITH $POS,
         |recent AS (
         |  SELECT user_id, sec FROM (
         |    SELECT user_id, sec,
         |      row_number() OVER (PARTITION BY user_id ORDER BY sec DESC) AS rn
         |    FROM (SELECT user_id, sec FROM pos GROUP BY user_id, sec))
         |  WHERE rn <= 10),
         |w AS (
         |  SELECT p.*,
         |    last_value(x IGNORE NULLS) OVER lw AS cx,
         |    last_value(y IGNORE NULLS) OVER lw AS cy
         |  FROM pos p JOIN recent USING (user_id, sec)
         |  WINDOW lw AS (PARTITION BY user_id ORDER BY ts_us, event_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT user_id, cx, cy, count(*) AS value FROM w
         |WHERE cx IS NOT NULL GROUP BY user_id, cx, cy
         |ORDER BY user_id, cx, cy""".stripMargin,

    "mov_sentinel_stats" ->
      s"""WITH $EV
         |SELECT user_id, count(*) AS total,
         |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS sentinels,
         |  CAST(sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS moves
         |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin,

    // integer cross-product collinearity + integer-exact gap moments:
    // floor-mean via BIGINT division, variance numerator gn*gss-gs^2
    // in DECIMAL — no double rounding anywhere. var_gap_num ships as a
    // STRING on both sides: the ~6.5e24 numerator exceeds float64's
    // 2^53, so a numeric readout (DuckDB delivers DECIMAL(38,0) as
    // double) would corrupt every row even though the math matches.
    "mov_bot_signals" ->
      s"""WITH $POS,
         |m AS (SELECT user_id, sec, ts_us, event_id, x, y
         |      FROM pos WHERE x IS NOT NULL),
         |t AS (SELECT user_id, sec, x, y,
         |        lead(x, 1) OVER win AS x2, lead(y, 1) OVER win AS y2,
         |        lead(x, 2) OVER win AS x3, lead(y, 2) OVER win AS y3,
         |        ts_us - lag(ts_us, 1) OVER win AS gap
         |      FROM m
         |      WINDOW win AS (PARTITION BY user_id
         |                     ORDER BY ts_us, event_id)),
         |s AS (SELECT user_id, sec, gap,
         |        CASE WHEN x3 IS NOT NULL THEN
         |          CASE WHEN CAST(x2 - x AS BIGINT) * (y3 - y2) -
         |                    CAST(y2 - y AS BIGINT) * (x3 - x2) = 0
         |               THEN 1 ELSE 0 END END AS lin
         |      FROM t),
         |pu AS (SELECT user_id, count(*) AS n_moves,
         |         CAST(sum(lin) AS BIGINT) AS n_straight,
         |         count(lin) AS n_triples,
         |         sum(CAST(gap AS DECIMAL(38,0))) AS gs,
         |         sum(CAST(gap AS DECIMAL(19,0)) *
         |             CAST(gap AS DECIMAL(19,0))) AS gss,
         |         count(gap) AS gn
         |       FROM s GROUP BY 1),
         |b AS (SELECT user_id, CAST(max(c) AS BIGINT) AS max_per_sec FROM
         |        (SELECT user_id, sec, count(*) AS c FROM m GROUP BY 1, 2)
         |      GROUP BY 1)
         |SELECT pu.user_id, n_moves, max_per_sec,
         |  round(CASE WHEN n_triples = 0 THEN 0.0
         |        ELSE CAST(n_straight AS DOUBLE) / n_triples END, 8)
         |    AS straight8,
         |  CASE WHEN gn = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(gs AS BIGINT) // gn END AS mean_gap_floor_us,
         |  CAST(CASE WHEN gn = 0 THEN CAST(0 AS DECIMAL(38,0))
         |       ELSE CAST(CAST(gn AS DECIMAL(10,0)) * CAST(gss AS DECIMAL(28,0))
         |                 - CAST(gs AS DECIMAL(19,0)) * CAST(gs AS DECIMAL(19,0))
         |            AS DECIMAL(38,0)) END AS VARCHAR) AS var_gap_num
         |FROM pu JOIN b USING (user_id) ORDER BY user_id""".stripMargin,

    "mov_sessions" ->
      s"""WITH $EV,
         |g AS (
         |  SELECT user_id, ts_us, event_id,
         |    CASE WHEN lag(ts_us) OVER lw IS NULL
         |           OR ts_us - lag(ts_us) OVER lw > ${SessionGapSec}000000
         |         THEN 1 ELSE 0 END AS new_sess
         |  FROM ev
         |  WINDOW lw AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s AS (
         |  SELECT user_id, ts_us,
         |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS session_id
         |  FROM g)
         |SELECT user_id, session_id, count(*) AS n_events,
         |  (max(ts_us) - min(ts_us)) // 1000000 AS duration_sec
         |FROM s GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    "mov_gap_fill" ->
      s"""WITH $EV,
         |m AS (
         |  SELECT sec // 3600 * 3600 AS hour_start,
         |         (sec % 3600) // 60 AS minute, count(*) AS cnt
         |  FROM ev WHERE user_id = 1 GROUP BY 1, 2),
         |b AS (SELECT hour_start, min(minute) AS mn, max(minute) AS mx
         |      FROM m GROUP BY hour_start),
         |g AS (SELECT hour_start, unnest(range(mn, mx + 1)) AS minute FROM b)
         |SELECT g.hour_start, g.minute, coalesce(m.cnt, 0) AS cnt
         |FROM g LEFT JOIN m
         |  ON g.hour_start = m.hour_start AND g.minute = m.minute
         |ORDER BY g.hour_start, g.minute""".stripMargin,

    "mov_session_window" ->
      s"""WITH $EV,
         |g AS (
         |  SELECT user_id, event_id, ts_us,
         |    CASE WHEN lag(ts_us) OVER lw IS NULL
         |           OR ts_us - lag(ts_us) OVER lw >= ${SessionGapSec}000000
         |         THEN 1 ELSE 0 END AS new_sess
         |  FROM ev
         |  WINDOW lw AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s AS (
         |  SELECT user_id, ts_us,
         |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM g)
         |SELECT user_id, min(ts_us) // 1000000 AS session_start_sec,
         |  count(*) AS n_events
         |FROM s GROUP BY user_id, sid
         |ORDER BY user_id, session_start_sec""".stripMargin,

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                 CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      """SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                 CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                 CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "join_semi_segments" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND year(o.o_orderdate) = 1995)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "join_anti_customers" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "join_outer_stats" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE), 2) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "win_rank_orders" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "win_lag_gaps" ->
      """SELECT o_custkey, o_orderkey,
        |  (epoch_ms(o_orderdate) - lag(epoch_ms(o_orderdate)) OVER lw) // 86400000 AS gap_days
        |FROM orders
        |WINDOW lw AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "win_running_volume" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) OVER lw AS DOUBLE) AS running_qty
        |FROM lineitem WHERE l_suppkey < 10
        |WINDOW lw AS (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "agg_brand_suppliers" ->
      """SELECT p_brand, count(DISTINCT l_suppkey) AS n_suppliers,
        |  count(*) AS n_lineitems
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "set_intersect_active" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2000
        |ORDER BY o_custkey""".stripMargin,

    "set_except_churned" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2000
        |ORDER BY o_custkey""".stripMargin,

    "rollup_returns" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "pivot_priority_status" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "pivot_native" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "topk_lineitems" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,

    // the oracle computes the TRUE edit-distance join directly (the
    // engine's prefix filter is lossless by the Ed-Join theorem, so
    // truth is the comparison); the length filter keeps the
    // quadratic pass gate-sized on the %10 slice
    "join_editdist" ->
      """WITH p AS (SELECT p_partkey AS id, p_name AS s FROM part
        |           WHERE p_partkey % 10 = 0)
        |SELECT a.id AS id1, b.id AS id2, levenshtein(a.s, b.s) AS dist
        |FROM p a JOIN p b
        |  ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 2
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY id1, id2""".stripMargin,

    // skyline via the same exclusive prefix-max the engine's sweep
    // line computes (window form is fine at oracle scale); strict
    // compare resolves every tie class identically on both engines
    "skyline_parts" ->
      """WITH pts AS (
        |  SELECT CAST(p_retailprice * 100 AS BIGINT) AS price_cents,
        |         CAST(p_size AS BIGINT) AS p_size, count(*) AS n
        |  FROM part GROUP BY 1, 2),
        |sc AS (
        |  SELECT price_cents, p_size, n,
        |    max(p_size) OVER (ORDER BY price_cents ASC, p_size DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM pts)
        |SELECT price_cents, p_size, n FROM sc
        |WHERE pm IS NULL OR p_size > pm ORDER BY price_cents""".stripMargin,

    "agg_event_stats" ->
      """SELECT event_type, count(*) AS n,
        |  round(min(value), 2) AS min_value,
        |  round(max(value), 2) AS max_value,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_percentiles" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // agg_sketch runs the PORTABLE approximate-aggregate panel
    // (KMV distinct + exact median) so the sketch row is value-exact
    // like everything else; the engine-specific HLL++ form stays
    // available as Relational.sketchStats (API surface, not gated).
    "agg_sketch" ->
      """WITH hp AS (
        |  SELECT l_returnflag,
        |    CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13)
        |         AS BIGINT) AS h
        |  FROM lineitem GROUP BY 1, 2),
        |sp AS (
        |  SELECT l_returnflag, list_sort(list(h)) AS hs, count(*) AS nd
        |  FROM hp GROUP BY 1),
        |hq AS (
        |  SELECT l_returnflag,
        |    CAST('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)), 1, 13)
        |         AS BIGINT) AS h
        |  FROM lineitem GROUP BY 1, 2),
        |sq AS (
        |  SELECT l_returnflag, list_sort(list(h)) AS hs, count(*) AS nd
        |  FROM hq GROUP BY 1),
        |m AS (
        |  SELECT l_returnflag,
        |    round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |    count(*) AS n
        |  FROM lineitem GROUP BY 1)
        |SELECT m.l_returnflag,
        |  round(CASE WHEN sp.nd < 64 THEN CAST(sp.nd AS DOUBLE)
        |             ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
        |                  / CAST(sp.hs[64] AS DOUBLE)
        |        END, 2) AS approx_parts,
        |  round(CASE WHEN sq.nd < 64 THEN CAST(sq.nd AS DOUBLE)
        |             ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
        |                  / CAST(sq.hs[64] AS DOUBLE)
        |        END, 2) AS approx_supps,
        |  m.p50, CAST(m.n AS BIGINT) AS n
        |FROM m
        |JOIN sp ON m.l_returnflag = sp.l_returnflag
        |JOIN sq ON m.l_returnflag = sq.l_returnflag
        |ORDER BY m.l_returnflag""".stripMargin,

    "agg_corr" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "cube_returns" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "grouping_sets_events" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |  coalesce(user_id, -1) AS user_id,
        |  count(*) AS n
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (user_id))
        |ORDER BY event_type, user_id""".stripMargin,

    "join_range_bands" ->
      """WITH bands AS (
        |  SELECT band, band * 50000.0 AS lo, (band + 1) * 50000.0 AS hi
        |  FROM (SELECT unnest(range(8)) AS band))
        |SELECT band, count(*) AS n,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM orders JOIN bands
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    // binned-equi-join formulation; the relation it computes is the
    // same point-in-interval join, so the oracle is identical
    // ε-join oracle: minute-equi self-join with the exact d² filter —
    // semantics only; the engine's grid cells are pure access path
    "join_spatial_grid" ->
      s"""WITH $POS,
         |p AS (SELECT event_id, user_id, ts_us // 60000000 AS minute,
         |             x, y
         |      FROM pos WHERE x IS NOT NULL AND y IS NOT NULL),
         |pr AS (SELECT a.event_id AS id1, b.event_id AS id2,
         |         (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
         |       FROM p a JOIN p b
         |         ON a.minute = b.minute AND a.event_id < b.event_id
         |        AND a.user_id <> b.user_id
         |       WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 25),
         |bo AS (SELECT id1 AS event_id, d2 FROM pr
         |       UNION ALL SELECT id2, d2 FROM pr)
         |SELECT event_id, count(*) AS n_nbr, min(d2) AS min_d2
         |FROM bo GROUP BY event_id ORDER BY event_id""".stripMargin,

    "join_range_binned" ->
      """WITH bands AS (
        |  SELECT band, band * 50000.0 AS lo, (band + 1) * 50000.0 AS hi
        |  FROM (SELECT unnest(range(8)) AS band))
        |SELECT band, count(*) AS n,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM orders JOIN bands
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "win_ntile" ->
      """SELECT o_custkey, o_orderkey,
        |  ntile(4) OVER (PARTITION BY o_custkey
        |                 ORDER BY o_totalprice, o_orderkey) AS quartile
        |FROM orders WHERE o_custkey < 200
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "func_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber,
        |         'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber,
        |         'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber,
        |         'l_discount', l_discount FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "agg_outliers" ->
      """WITH m AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4)) *
        |             CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY l_returnflag),
        |s AS (SELECT flag, n, sx / n AS mu,
        |        sqrt((sxx - sx * sx / n) / n) AS sigma FROM m)
        |SELECT l_returnflag, count(*) AS n_rows,
        |  count(CASE WHEN abs(CAST(l_extendedprice AS DOUBLE) - mu)
        |                  > 3.0 * sigma THEN 1 END) AS n_outliers,
        |  round(max(mu), 4) AS mean_price,
        |  round(max(sigma), 4) AS stddev_price
        |FROM lineitem JOIN s ON l_returnflag = flag
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the try_ family's contract, spelled out as explicit guards
    "func_trysafe" ->
      s"""WITH $TOKS
         |SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN NULL
         |       ELSE CAST(doc_id AS DOUBLE) / CAST(doc_id % 2 AS DOUBLE)
         |  END AS div_mixed,
         |  t[CAST(doc_id % 300 + 1 AS INT)] AS tok_mixed,
         |  CASE WHEN length(CAST(doc_id AS VARCHAR)) <= 4
         |       THEN CAST(CAST(doc_id AS DECIMAL(4,0)) AS DOUBLE)
         |  END AS num_mixed
         |FROM toks ORDER BY doc_id""".stripMargin,

    "func_strdist" ->
      """SELECT doc_id,
        |  CAST(levenshtein(lang, 'english') AS INT) AS lev_lang,
        |  CAST(levenshtein(substring(text, 1, 16), substring(text, 17, 16))
        |       AS INT) AS lev_halves,
        |  CAST(levenshtein(source, reverse(source)) AS INT) AS lev_pal
        |FROM documents ORDER BY doc_id""".stripMargin,

    "func_hof" ->
      s"""WITH $TOKS
         |SELECT doc_id,
         |  CAST(len(list_filter(t, x -> strlen(x) > 3)) AS INT) AS n_long,
         |  len(list_filter(t, x -> x = 'the')) > 0 AS has_the,
         |  len(list_filter(t, x -> NOT strlen(x) > 0)) = 0 AS all_nonempty,
         |  CAST(list_aggregate(list_transform(t, x -> strlen(x)), 'sum')
         |       AS BIGINT) AS chars,
         |  array_to_string(list_transform(t, x -> upper(substr(x, 1, 1))), '')
         |    AS initials
         |FROM toks ORDER BY doc_id""".stripMargin,

    "win_distributions" ->
      """SELECT o_custkey, o_orderkey,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "win_rankings" ->
      """SELECT o_custkey, o_orderkey, drnk, quartile, next_price FROM (
        |  SELECT o_custkey, o_orderkey,
        |    dense_rank() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS drnk,
        |    ntile(4) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS quartile,
        |    round(lead(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey), 2) AS next_price
        |  FROM orders)
        |WHERE drnk <= 2 ORDER BY o_custkey, o_orderkey""".stripMargin,

    "set_union_all" ->
      """SELECT yr, o_orderpriority, n FROM (
        |  SELECT 1995 AS yr, o_orderpriority, count(*) AS n FROM orders
        |  WHERE year(o_orderdate) = 1995 GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT 2000 AS yr, o_orderpriority, count(*) AS n FROM orders
        |  WHERE year(o_orderdate) = 2000 GROUP BY o_orderpriority)
        |ORDER BY yr, o_orderpriority""".stripMargin,

    "q6_forecast" ->
      """SELECT
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                 CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q17_small_quantity" ->
      """SELECT
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |        / 7.0, 2) AS avg_yearly,
        |  count(*) AS n
        |FROM (
        |  SELECT l_quantity, l_extendedprice,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
        |         OVER (PARTITION BY l_partkey) AS DOUBLE) /
        |      count(*) OVER (PARTITION BY l_partkey) AS avg_qty
        |  FROM lineitem)
        |WHERE l_quantity < avg_qty * 0.2""".stripMargin,

    "q4_late_orders" ->
      """SELECT o_orderpriority, count(*) AS n_late_orders
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND epoch_ms(l.l_shipdate) > epoch_ms(o.o_orderdate) + CAST(90 AS BIGINT) * 86400000)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q10_return_customers" ->
      """SELECT c_custkey, c_name,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                 CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 2)
        |    AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q22_rich_inactive" ->
      """SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal
        |FROM customer c
        |WHERE c_acctbal > (
        |    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
        |           / count(*) FROM customer)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q14_promo_share" ->
      """SELECT
        |  round(100.0 *
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |               THEN CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                    CAST(1.0 - l_discount AS DECIMAL(18,4))
        |               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |             CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4)
        |    AS promo_share,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin,

    "q18_large_orders" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,
        |  total_qty
        |FROM orders JOIN (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 300.0
        |) b ON o_orderkey = b.l_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    "q2_cheapest_supplier" ->
      """SELECT l_partkey, l_suppkey, round(l_extendedprice, 2) AS best_price
        |FROM (SELECT l_partkey, l_suppkey, l_extendedprice,
        |        row_number() OVER (PARTITION BY l_partkey
        |          ORDER BY l_extendedprice, l_suppkey, l_orderkey, l_linenumber) AS rn
        |      FROM lineitem WHERE l_partkey < 200)
        |WHERE rn = 1 ORDER BY l_partkey""".stripMargin,

    "nested_posexplode" ->
      s"""WITH $TOKS
         |SELECT doc_id,
         |  unnest(range(0, len(t))) AS pos,
         |  unnest(t) AS token
         |FROM toks WHERE doc_id < 20 ORDER BY doc_id, pos""".stripMargin,

    "agg_collect_buckets" ->
      s"""WITH $EV
         |SELECT event_type,
         |  array_to_string(list_sort(list_distinct(list(user_id % 10))), ',')
         |    AS user_buckets,
         |  count(DISTINCT user_id % 10) AS n_buckets
         |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,

    "win_frame_edges" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER lw AS first_key,
        |  last_value(o_orderkey) OVER lw AS last_key,
        |  nth_value(o_orderkey, 2) OVER lw AS second_key
        |FROM orders
        |WINDOW lw AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "agg_arg_extremes" ->
      s"""WITH $EV,
         |keyed AS (
         |  SELECT event_type, event_id,
         |    CAST(round(value * 100) AS BIGINT) * 10000000 + event_id AS k
         |  FROM ev)
         |SELECT event_type,
         |  arg_max(event_id, k) AS max_value_event,
         |  arg_min(event_id, k) AS min_value_event
         |FROM keyed GROUP BY event_type ORDER BY event_type""".stripMargin,

    // attribution oracle: plain user-equi band join (semantics); the
    // engine's bin keys are pure access path. DECIMAL credit sums.
    "ts_attribution" ->
      s"""WITH $EV,
         |tt AS (SELECT user_id, ts_us AS tts, event_type AS channel
         |       FROM ev WHERE event_type IN ('click', 'view', 'signup')),
         |cc AS (SELECT user_id, ts_us AS pts, event_id AS pid
         |       FROM ev WHERE event_type = 'purchase'),
         |mm AS (SELECT cc.pid, tt.channel
         |       FROM cc JOIN tt ON cc.user_id = tt.user_id
         |        AND tt.tts < cc.pts AND cc.pts - tt.tts <= 1800000000),
         |w AS (SELECT pid, channel,
         |        count(*) OVER (PARTITION BY pid) AS ntouch
         |      FROM mm),
         |cr AS (SELECT channel, count(*) AS n_events,
         |         round(CAST(sum(CAST(round(1.0 / ntouch, 6)
         |           AS DECIMAL(18,6))) AS DOUBLE), 6) AS credit6
         |       FROM w GROUP BY channel),
         |d AS (SELECT 'direct' AS channel, count(*) AS n_events,
         |        round(CAST(count(*) AS DOUBLE), 6) AS credit6
         |      FROM cc WHERE NOT EXISTS
         |        (SELECT 1 FROM mm WHERE mm.pid = cc.pid))
         |SELECT * FROM cr UNION ALL SELECT * FROM d
         |ORDER BY channel""".stripMargin,

    "ts_asof_purchase_click" ->
      s"""WITH $EV,
         |t AS (SELECT user_id, event_id, ts_us, event_type FROM ev
         |      WHERE event_type IN ('purchase', 'click')),
         |w AS (
         |  SELECT *,
         |    last_value(CASE WHEN event_type = 'click' THEN event_id END
         |      IGNORE NULLS) OVER lw AS click_id,
         |    last_value(CASE WHEN event_type = 'click' THEN ts_us END
         |      IGNORE NULLS) OVER lw AS click_us
         |  FROM t
         |  WINDOW lw AS (PARTITION BY user_id
         |    ORDER BY ts_us, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END,
         |             event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT user_id, event_id, ts_us, click_id,
         |  (ts_us - click_us) // 1000000 AS gap_sec
         |FROM w WHERE event_type = 'purchase'
         |ORDER BY user_id, event_id""".stripMargin,

    // the native-operator variant is checked against DuckDB's own
    // ASOF JOIN rather than the window emulation
    "ts_asof_native" ->
      s"""WITH $EV,
         |p AS (SELECT user_id, event_id, ts_us FROM ev
         |      WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts_us AS click_us, max(event_id) AS click_id
         |      FROM ev WHERE event_type = 'click'
         |      GROUP BY user_id, ts_us)
         |SELECT p.user_id, p.event_id, p.ts_us, c.click_id,
         |  (p.ts_us - c.click_us) // 1000000 AS gap_sec
         |FROM p ASOF LEFT JOIN c
         |  ON p.user_id = c.user_id AND p.ts_us >= c.click_us
         |ORDER BY p.user_id, p.event_id""".stripMargin,

    "ts_asof_tolerance" ->
      s"""WITH $EV,
         |p AS (SELECT user_id, event_id, ts_us FROM ev
         |      WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts_us AS click_us, max(event_id) AS click_id
         |      FROM ev WHERE event_type = 'click'
         |      GROUP BY user_id, ts_us)
         |SELECT p.user_id, p.event_id, p.ts_us,
         |  CASE WHEN p.ts_us - c.click_us <= 60000000
         |       THEN c.click_id END AS click_id,
         |  CASE WHEN p.ts_us - c.click_us <= 60000000
         |       THEN (p.ts_us - c.click_us) // 1000000 END AS gap_sec
         |FROM p ASOF LEFT JOIN c
         |  ON p.user_id = c.user_id AND p.ts_us >= c.click_us
         |ORDER BY p.user_id, p.event_id""".stripMargin,

    "ts_asof_strict" ->
      s"""WITH $EV,
         |p AS (SELECT user_id, event_id, ts_us FROM ev
         |      WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts_us AS click_us, max(event_id) AS click_id
         |      FROM ev WHERE event_type = 'click'
         |      GROUP BY user_id, ts_us)
         |SELECT p.user_id, p.event_id, p.ts_us, c.click_id,
         |  (p.ts_us - c.click_us) // 1000000 AS gap_sec
         |FROM p ASOF LEFT JOIN c
         |  ON p.user_id = c.user_id AND p.ts_us > c.click_us
         |ORDER BY p.user_id, p.event_id""".stripMargin,

    "ts_asof_forward" ->
      s"""WITH $EV,
         |cl AS (SELECT user_id, event_id, ts_us FROM ev
         |       WHERE event_type = 'click'),
         |pu AS (SELECT user_id, ts_us AS purchase_us,
         |         max(event_id) AS purchase_id
         |       FROM ev WHERE event_type = 'purchase'
         |       GROUP BY user_id, ts_us)
         |SELECT cl.user_id, cl.event_id, cl.ts_us, pu.purchase_id,
         |  (pu.purchase_us - cl.ts_us) // 1000000 AS lead_sec
         |FROM cl ASOF LEFT JOIN pu
         |  ON cl.user_id = pu.user_id AND cl.ts_us <= pu.purchase_us
         |ORDER BY cl.user_id, cl.event_id""".stripMargin,

    "ts_sliding_avg" ->
      s"""WITH $EV
         |SELECT user_id, event_id,
         |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER lw AS DOUBLE) /
         |        count(*) OVER lw, 4) AS avg3
         |FROM ev
         |WINDOW lw AS (PARTITION BY user_id ORDER BY ts_us, event_id
         |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, event_id""".stripMargin,

    "ts_5min_buckets" ->
      s"""WITH $EV
         |SELECT user_id, sec // 300 * 300 AS bucket_start,
         |  count(*) AS n,
         |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
         |FROM ev GROUP BY user_id, bucket_start
         |ORDER BY user_id, bucket_start""".stripMargin,

    "ts_ab_lift" ->
      s"""WITH $EV,
         |pu AS (SELECT user_id,
         |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |           AS conv,
         |         user_id % 2 AS arm
         |       FROM ev GROUP BY user_id),
         |t AS (SELECT
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS users_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
         |      AS conv_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS users_b,
         |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
         |      AS conv_b
         |  FROM pu),
         |r AS (SELECT *,
         |        CAST(conv_a AS DOUBLE) / users_a AS ra,
         |        CAST(conv_b AS DOUBLE) / users_b AS rb FROM t),
         |s AS (SELECT *,
         |        sqrt(ra * (1.0 - ra) / users_a +
         |             rb * (1.0 - rb) / users_b) AS se FROM r)
         |SELECT users_a, conv_a, round(ra, 8) AS rate_a8,
         |  users_b, conv_b, round(rb, 8) AS rate_b8,
         |  round(ra - rb, 8) AS diff8, round(se, 8) AS se8,
         |  round(CASE WHEN se = 0 THEN 0.0 ELSE (ra - rb) / se END, 8)
         |    AS z8
         |FROM s""".stripMargin,

    "ts_paths" ->
      s"""WITH $EV,
         |f AS (SELECT user_id, event_type,
         |        row_number() OVER (PARTITION BY user_id
         |          ORDER BY ts_us, event_id) AS rn
         |      FROM ev),
         |p AS (SELECT user_id,
         |        string_agg(event_type, '->' ORDER BY rn) AS path
         |      FROM f WHERE rn <= 3 GROUP BY user_id)
         |SELECT path, count(*) AS n_users
         |FROM p GROUP BY path
         |ORDER BY n_users DESC, path LIMIT 20""".stripMargin,

    "ts_retention" ->
      s"""WITH $EV,
         |uw AS (SELECT DISTINCT user_id, sec // 86400 AS period FROM ev),
         |ch AS (SELECT user_id, min(period) AS cohort FROM uw GROUP BY 1),
         |m AS (SELECT cohort, period - cohort AS "offset",
         |        count(DISTINCT user_id) AS n_users
         |      FROM uw JOIN ch USING (user_id) GROUP BY 1, 2),
         |s AS (SELECT cohort, "offset", n_users,
         |        max(CASE WHEN "offset" = 0 THEN n_users END)
         |          OVER (PARTITION BY cohort) AS c0
         |      FROM m)
         |SELECT cohort, "offset", n_users,
         |  round(CAST(n_users AS DOUBLE) / c0, 8) AS retention8
         |FROM s ORDER BY cohort, "offset" """.stripMargin,

    // negation CEP: per view, the next purchase (rn order = total
    // (ts_us, event_id) order) within the hour, matched iff the next
    // error sits strictly after it; the rn join-back fetches the
    // purchase's own ts/id
    "ts_cep_match" ->
      s"""WITH $EV,
         |e2 AS (SELECT user_id, event_id, ts_us, event_type,
         |         row_number() OVER (PARTITION BY user_id
         |           ORDER BY ts_us, event_id) AS rn
         |       FROM ev),
         |m AS (SELECT user_id, event_id, ts_us, event_type, rn,
         |        min(CASE WHEN event_type = 'purchase' THEN rn END)
         |          OVER (PARTITION BY user_id ORDER BY rn DESC
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |          AS nb_rn,
         |        min(CASE WHEN event_type = 'error' THEN rn END)
         |          OVER (PARTITION BY user_id ORDER BY rn DESC
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |          AS nx_rn
         |      FROM e2)
         |SELECT m.user_id, m.event_id AS first_id, b.event_id AS second_id,
         |       b.ts_us - m.ts_us AS gap_us
         |FROM m JOIN e2 b ON b.user_id = m.user_id AND b.rn = m.nb_rn
         |WHERE m.event_type = 'view' AND b.ts_us <= m.ts_us + 3600000000
         |  AND (m.nx_rn IS NULL OR m.nx_rn > m.nb_rn)
         |ORDER BY m.user_id, first_id""".stripMargin,

    // first-touch funnel: step i = earliest event of its type strictly
    // after step i-1's time; NULL propagates "never reached"
    "ts_funnel" ->
      s"""WITH $EV,
         |u1 AS (SELECT user_id,
         |         min(CASE WHEN event_type = 'view' THEN ts_us END) AS t1
         |       FROM ev GROUP BY 1),
         |u2 AS (SELECT e.user_id,
         |         min(CASE WHEN event_type = 'click' AND ts_us > t1
         |             THEN ts_us END) AS t2
         |       FROM ev e JOIN u1 USING (user_id) GROUP BY 1),
         |u3 AS (SELECT e.user_id,
         |         min(CASE WHEN event_type = 'purchase' AND ts_us > t2
         |             THEN ts_us END) AS t3
         |       FROM ev e JOIN u2 USING (user_id) GROUP BY 1),
         |j AS (SELECT u1.user_id, t1, t2, t3
         |      FROM u1 JOIN u2 USING (user_id) JOIN u3 USING (user_id)),
         |t AS (SELECT count(*) AS total_u, count(t1) AS n1,
         |             count(t2) AS n2, count(t3) AS n3 FROM j),
         |u AS (
         |  SELECT '1:view' AS step, n1 AS reached, total_u FROM t
         |  UNION ALL SELECT '2:click', n2, total_u FROM t
         |  UNION ALL SELECT '3:purchase', n3, total_u FROM t)
         |SELECT step, reached AS users,
         |  round(CAST(reached AS DOUBLE) / total_u, 8) AS conv8
         |FROM u ORDER BY step""".stripMargin,

    "ts_monthly_revenue" ->
      """SELECT epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms,
        |  count(*) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2)
        |    AS revenue
        |FROM orders GROUP BY month_start_ms ORDER BY month_start_ms""".stripMargin,

    // truncated EMA: frozen floor(1e6·(1/4)(3/4)^i) ppm weights over
    // 16 row lags, leading edge renormalized over available lags,
    // one floor division at the end — all BIGINT arithmetic
    "ts_ema" -> {
      val ws = Seq(250000L, 187500L, 140625L, 105468L, 79101L, 59326L,
        44494L, 33370L, 25028L, 18771L, 14078L, 10558L, 7919L, 5939L,
        4454L, 3340L)
      val lagCols = ws.indices.map(i =>
        s"lag(revenue_cents, $i) OVER w AS x$i").mkString(", ")
      val num = ws.zipWithIndex.map { case (wi, i) =>
        s"coalesce(x$i * $wi, 0)" }.mkString(" + ")
      val den = ws.zipWithIndex.map { case (wi, i) =>
        s"CASE WHEN x$i IS NOT NULL THEN $wi ELSE 0 END" }.mkString(" + ")
      s"""WITH daily AS (
         |  SELECT o_orderpriority,
         |    epoch_ms(date_trunc('day', o_orderdate)) AS day_ms,
         |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(9,2)) * 100
         |      AS BIGINT)) AS BIGINT) AS revenue_cents
         |  FROM orders GROUP BY 1, 2),
         |lg AS (SELECT o_orderpriority, day_ms, revenue_cents, $lagCols
         |       FROM daily
         |       WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day_ms))
         |SELECT o_orderpriority, day_ms, revenue_cents,
         |  CAST(($num) // ($den) AS BIGINT) AS ema_cents
         |FROM lg ORDER BY o_orderpriority, day_ms""".stripMargin
    },

    "q15_top_supplier" ->
      """WITH bysupp AS (
        |  SELECT l_suppkey,
        |    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                   CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 2)
        |      AS total_revenue
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT l_suppkey, total_revenue FROM bysupp
        |WHERE total_revenue = (SELECT max(total_revenue) FROM bysupp)
        |ORDER BY l_suppkey""".stripMargin,

    "agg_kmv_distinct" ->
      """WITH h AS (
        |  SELECT l_returnflag,
        |    CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13)
        |         AS BIGINT) AS h
        |  FROM lineitem GROUP BY 1, 2),
        |s AS (
        |  SELECT l_returnflag, list_sort(list(h)) AS hs, count(*) AS nd
        |  FROM h GROUP BY 1),
        |x AS (
        |  SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct
        |  FROM lineitem GROUP BY 1)
        |SELECT s.l_returnflag, x.exact_distinct,
        |  round(CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
        |             ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
        |                  / CAST(hs[64] AS DOUBLE)
        |        END, 2) AS kmv_est
        |FROM s JOIN x ON s.l_returnflag = x.l_returnflag
        |ORDER BY s.l_returnflag""".stripMargin,

    "join_lateral" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) ON TRUE
        |WHERE c_custkey < 100
        |ORDER BY c_custkey, o_orderkey""".stripMargin,

    "win_range_frame" ->
      s"""WITH $EV
         |SELECT user_id, event_id, sec,
         |  count(*) OVER rw AS n_win,
         |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER rw AS DOUBLE), 2)
         |    AS sum_win
         |FROM ev
         |WINDOW rw AS (PARTITION BY user_id ORDER BY sec
         |              RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, event_id""".stripMargin,

    "set_bag_ops" ->
      """SELECT
        |  (SELECT count(*) FROM (
        |     SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |     INTERSECT ALL
        |     SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996))
        |    AS n_intersect_all,
        |  (SELECT count(*) FROM (
        |     SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |     EXCEPT ALL
        |     SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996))
        |    AS n_except_all""".stripMargin,

    "ts_twap" ->
      s"""WITH $EV,
         |d AS (
         |  SELECT user_id, value,
         |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         |      - ts_us AS dt
         |  FROM ev)
         |SELECT user_id,
         |  round(CAST(sum(CAST(value AS DECIMAL(30,4)) *
         |                 CAST(dt AS DECIMAL(30,4))) AS DOUBLE)
         |        / CAST(sum(dt) AS DOUBLE), 6) AS twap,
         |  count(*) AS n_weighted
         |FROM d WHERE dt IS NOT NULL
         |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // ---- M4 chart downsampling (first/last/min/max per bucket) ----
    "ts_m4_downsample" ->
      s"""WITH $EV,
         |bounds AS (SELECT min(sec) AS lo, max(sec) AS hi FROM ev),
         |b AS (
         |  SELECT ev.*, ((sec - lo) * 100) // (hi - lo + 1) AS bucket
         |  FROM ev CROSS JOIN bounds),
         |r AS (
         |  SELECT bucket, value,
         |    row_number() OVER (PARTITION BY bucket
         |      ORDER BY ts_us, event_id) AS rn_f,
         |    row_number() OVER (PARTITION BY bucket
         |      ORDER BY ts_us DESC, event_id DESC) AS rn_l
         |  FROM b)
         |SELECT bucket, count(*) AS n,
         |  min(value) AS v_min, max(value) AS v_max,
         |  min(CASE WHEN rn_f = 1 THEN value END) AS v_first,
         |  min(CASE WHEN rn_l = 1 THEN value END) AS v_last
         |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,

    "profile_lineitem" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_returnflag", "l_linestatus")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count($c) AS n_nonnull,
           |  (SELECT round(CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS DOUBLE)
           |          ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
           |               / CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE)
           |          END, 2)
           |   FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn,
           |                count(*) OVER () AS nd
           |         FROM (SELECT DISTINCT CAST('0x' || substr(md5(
           |                  coalesce(CAST($c AS VARCHAR), '__graft_null__')),
           |                  1, 13) AS BIGINT) AS h
           |               FROM lineitem))) AS distinct_est,
           |  min(CAST($c AS VARCHAR)) AS min_str,
           |  max(CAST($c AS VARCHAR)) AS max_str
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // skewness oracle: identical decimal power sums, identical double
    // epilogue — the 3/2 power spelled m2*sqrt(m2) (sqrt is IEEE
    // correctly-rounded; pow(x,1.5) is engine-varying libm)
    "agg_skewness" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) *
        |             CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(9,2)) *
        |                  CAST(l_extendedprice AS DECIMAL(9,2))
        |             AS DECIMAL(19,4)) *
        |             CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS s3
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  round((s3 / n - 3.0 * (s1 / n) * (s2 / n)
        |         + 2.0 * (s1 / n) * (s1 / n) * (s1 / n)) /
        |        ((s2 / n - (s1 / n) * (s1 / n)) *
        |         sqrt(s2 / n - (s1 / n) * (s1 / n))), 6) AS skew6
        |FROM m ORDER BY l_returnflag""".stripMargin,

    // exact trimmed mean via the histogram prefix-sum: kept copies of
    // a value = |[cum−c+1, cum] ∩ [k+1, n−k]|, k = n·500 // 10⁴
    "agg_trimmed_mean" ->
      """WITH h AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(9,2)) * 100 AS BIGINT)
        |      AS cents,
        |    count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cm AS (SELECT *,
        |         sum(c) OVER (PARTITION BY l_returnflag ORDER BY cents
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum,
        |         sum(c) OVER (PARTITION BY l_returnflag) AS n
        |       FROM h),
        |kp AS (SELECT l_returnflag, cents, c, cum, n,
        |         n * 500 // 10000 AS k
        |       FROM cm),
        |kept AS (SELECT l_returnflag, cents, n, k,
        |           greatest(least(cum, n - k)
        |             - greatest(cum - c + 1, k + 1) + 1, 0) AS kc
        |         FROM kp)
        |SELECT l_returnflag,
        |  CAST(max(n) AS BIGINT) AS n_rows,
        |  CAST(max(k) AS BIGINT) AS k_trim,
        |  CAST(sum(kc) AS BIGINT) AS n_kept,
        |  CAST(sum(CAST(kc AS HUGEINT) * cents) AS BIGINT)
        |    AS trimmed_sum_cents,
        |  CAST(sum(CAST(kc AS HUGEINT) * cents) * 10000 // sum(kc)
        |    AS BIGINT) AS mean_c4
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_regression" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(30,4)) *
        |             CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(30,4)) *
        |             CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4)) *
        |             CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
        |    AS intercept,
        |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
        |        ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "agg_kmv_jaccard" ->
      """WITH ha AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)),
        |                       1, 13) AS BIGINT) AS h
        |  FROM lineitem WHERE l_returnflag = 'A'),
        |ka AS (SELECT h FROM ha ORDER BY h LIMIT 64),
        |hb AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)),
        |                       1, 13) AS BIGINT) AS h
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |kb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
        |ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) u
        |       ORDER BY h LIMIT 64),
        |st AS (SELECT count(*) AS nu, max(h) AS kth,
        |         count(*) FILTER (WHERE h IN (SELECT h FROM ka)
        |                            AND h IN (SELECT h FROM kb)) AS inter
        |       FROM ku)
        |SELECT round(CAST(inter AS DOUBLE) / 64, 4) AS jaccard_est,
        |  round(CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
        |        ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
        |             / CAST(kth AS DOUBLE) END, 2) AS union_est
        |FROM st""".stripMargin,

    "q7_nation_volume" ->
"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                 CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2') OR
        |       (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        |  round(CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,4)) *
        |           CAST(1.0 - l_discount AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |             CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4)
        |    AS mkt_share,
        |  count(*) AS n
        |FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q9_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                 CAST(1.0 - l_discount AS DECIMAL(18,4)) -
        |                 CAST(p_retailprice / 10 AS DECIMAL(18,4)) *
        |                 CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_profit
        |FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q11_part_value" ->
      """WITH pp AS (
        |  SELECT p_partkey,
        |    sum(CAST(l_quantity AS DECIMAL(18,4)) *
        |        CAST(p_retailprice AS DECIMAL(18,4))) AS value_dec
        |  FROM lineitem
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN part ON l_partkey = p_partkey
        |  WHERE n_name = 'NATION_5'
        |  GROUP BY p_partkey)
        |SELECT p_partkey, round(CAST(value_dec AS DOUBLE), 2) AS part_value
        |FROM pp, (SELECT sum(value_dec) AS total_dec FROM pp) t
        |WHERE CAST(value_dec AS DOUBLE) > CAST(total_dec AS DOUBLE) * 0.001
        |ORDER BY p_partkey""".stripMargin,

    "q12_priority_lateness" ->
      """SELECT CASE WHEN epoch_ms(l_shipdate) >
        |                 epoch_ms(o_orderdate) + 90 * CAST(86400000 AS BIGINT)
        |            THEN 'LATE' ELSE 'ONTIME' END AS ship_class,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q13_order_distribution" ->
      """WITH cc AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM cc GROUP BY c_count ORDER BY c_count""".stripMargin,

    "q16_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 14, 23, 45)
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q19_banded_revenue" ->
      """SELECT
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                 CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 2)
        |    AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q20_excess_suppliers" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_suppkey = s_suppkey AND p_name LIKE 'red%'
        |    AND year(l_shipdate) = 1996
        |  GROUP BY l_suppkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 50.0)
        |ORDER BY s_suppkey""".stripMargin,

    "q21_waiting_suppliers" ->
      """WITH perorder AS (
        |  SELECT l_orderkey,
        |    count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN epoch_ms(l_shipdate) >
        |        epoch_ms(o_orderdate) + 90 * CAST(86400000 AS BIGINT)
        |      THEN l_suppkey END) AS n_late,
        |    min(CASE WHEN epoch_ms(l_shipdate) >
        |        epoch_ms(o_orderdate) + 90 * CAST(86400000 AS BIGINT)
        |      THEN l_suppkey END) AS blamed_supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY l_orderkey)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM perorder JOIN supplier ON blamed_supp = s_suppkey
        |WHERE n_supp >= 2 AND n_late = 1
        |GROUP BY 1, 2 ORDER BY s_suppkey""".stripMargin,

    "func_scalar" ->
      s"""WITH $EV
         |SELECT event_id,
         |  greatest(0.0, value - 100.0) AS clamped,
         |  CAST(round(value) AS BIGINT) AS rounded,
         |  CAST(floor(value / 10) AS BIGINT) AS floored,
         |  CAST(ceil(value / 10) AS BIGINT) AS ceiled,
         |  abs(value - 250.0) AS abs_centered,
         |  user_id % 7 AS mod7,
         |  strftime(make_timestamp(sec * 1000000), '%H:%M:%S') AS clock24,
         |  strftime(make_timestamp(sec * 1000000), '%I:%M:%S %p') AS clock12
         |FROM ev ORDER BY event_id""".stripMargin,

    "func_string" ->
      """SELECT doc_id,
        |  upper(substr(source, 1, 3)) AS src_upper,
        |  lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id_padded,
        |  regexp_replace(lang, 'e', 'E', 'g') AS lang_replaced,
        |  length(trim(text)) AS trimmed_len,
        |  strpos(text, 'spark') AS spark_pos,
        |  regexp_extract(text, '(\w+) (\w+)', 2) AS second_word,
        |  len(regexp_extract_all(text, '(sh)', 1)) AS sh_count,
        |  reverse(lang) AS lang_rev,
        |  concat_ws('-', lang, source) AS lang_src
        |FROM documents ORDER BY doc_id""".stripMargin,

    "func_array" ->
      s"""WITH $TOKS
         |SELECT doc_id, len(t) AS n_tokens,
         |  array_to_string(list_slice(t, 1, 3), ' ') AS first3,
         |  array_to_string(list_slice(t, -2, -1), ' ') AS last2,
         |  list_contains(t, 'the') AS has_the,
         |  list_min(t) AS min_token,
         |  list_max(t) AS max_token,
         |  len(list_distinct(t)) AS n_distinct,
         |  array_to_string(list_sort(list_distinct(list_slice(t, 1, 5))), ',')
         |    AS first5_sorted,
         |  t[1] AS head_token
         |FROM toks ORDER BY doc_id""".stripMargin,

    "func_datetime" ->
      """SELECT o_orderkey,
        |  epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms,
        |  epoch_ms(date_trunc('week', o_orderdate)) AS week_start_ms,
        |  year(o_orderdate) AS yr,
        |  quarter(o_orderdate) AS qtr,
        |  month(o_orderdate) AS mo,
        |  dayofmonth(o_orderdate) AS dom,
        |  dayofweek(o_orderdate) + 1 AS dow,
        |  dayofyear(o_orderdate) AS doy,
        |  epoch_ms(o_orderdate + INTERVAL 3 MONTH) AS plus3mo_ms,
        |  epoch_ms(o_orderdate + INTERVAL 45 DAY) AS plus45d_ms,
        |  epoch_ms(CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP))
        |    AS month_end_ms,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
        |    AS days_to_2002,
        |  strftime(o_orderdate, '%Y-%m') AS ym
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "func_map" ->
      s"""WITH $EV
         |SELECT event_id,
         |  CAST(3 AS BIGINT) AS m_size,
         |  'sec,type,user' AS m_keys,
         |  event_type AS m_type,
         |  TRUE AS has_user,
         |  array_to_string(list_sort(
         |    ['sec=' || coalesce(CAST(sec AS VARCHAR), 'null'),
         |     'type=' || coalesce(event_type, 'null'),
         |     'user=' || coalesce(CAST(user_id AS VARCHAR), 'null')]), '|')
         |    AS m_flat
         |FROM ev ORDER BY event_id""".stripMargin,

    "func_json" ->
      s"""WITH $EV,
         |j AS (SELECT event_id, user_id, sec,
         |        to_json(struct_pack(t := event_type, u := user_id,
         |                            s := sec)) AS js
         |      FROM ev)
         |SELECT event_id, CAST(js AS VARCHAR) AS js,
         |  json_extract_string(js, '$$.t') AS t_ex,
         |  CAST(json_extract_string(js, '$$.u') AS BIGINT) AS u_ex,
         |  CAST(json_extract_string(js, '$$.s') AS BIGINT) AS s_parsed,
         |  CAST(to_json([user_id, sec]) AS VARCHAR) AS js_arr
         |FROM j ORDER BY event_id""".stripMargin,

    "doc_chunks" ->
      s"""WITH $TOKS,
         |c AS (SELECT doc_id, t,
         |  greatest(1, (len(t) - 16 + 47) // 48) AS nc FROM toks),
         |u AS (SELECT doc_id, t,
         |  unnest(generate_series(0, nc - 1)) AS chunk_idx FROM c)
         |SELECT doc_id, chunk_idx,
         |  len(list_slice(t, chunk_idx * 48 + 1, chunk_idx * 48 + 64))
         |    AS n_chunk_tokens,
         |  md5(array_to_string(
         |    list_slice(t, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' '))
         |    AS chunk_md5
         |FROM u ORDER BY doc_id, chunk_idx""".stripMargin,

    "doc_pii_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |  len(regexp_extract_all(text,
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g')) AS scrubbed_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_repetition" ->
      s"""WITH $TOKS,
         |g AS (
         |  SELECT doc_id,
         |    unnest(CASE WHEN len(t) >= 2
         |      THEN list_transform(range(1, len(t)),
         |           i -> array_to_string(list_slice(t, i, i + 1), ' '))
         |      ELSE [] END) AS g
         |  FROM toks),
         |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         |  CAST(count(*) AS BIGINT) AS n_distinct_grams,
         |  round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_gram_frac,
         |  round(CAST(count(*) AS DOUBLE) / sum(c), 4) AS distinct_gram_ratio
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "doc_pack_bins" ->
      s"""WITH $TOKS,
         |n AS (SELECT source, doc_id, len(t) AS n_tokens,
         |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
         |       AS BIGINT) AS h
         |  FROM toks),
         |c AS (SELECT source, doc_id, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id)
         |       AS BIGINT) AS cum_tokens
         |  FROM n)
         |SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  cum_tokens, (cum_tokens - n_tokens) // 512 AS bin
         |FROM c ORDER BY doc_id""".stripMargin,

    "doc_decontaminate" ->
      s"""WITH $TOKS, $ShinglesSql,
         |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |ev AS (SELECT DISTINCT shingle FROM dsh WHERE doc_id % 50 = 0),
         |sz AS (SELECT doc_id, count(*) AS n_shingles FROM dsh
         |       WHERE doc_id % 50 <> 0 GROUP BY 1),
         |ov AS (SELECT d.doc_id, count(*) AS n_overlap
         |       FROM dsh d JOIN ev USING (shingle)
         |       WHERE d.doc_id % 50 <> 0 GROUP BY 1)
         |SELECT ov.doc_id, CAST(n_overlap AS BIGINT) AS n_overlap,
         |  CAST(n_shingles AS BIGINT) AS n_shingles,
         |  round(CAST(n_overlap AS DOUBLE) / n_shingles, 4) AS overlap_frac
         |FROM ov JOIN sz ON ov.doc_id = sz.doc_id
         |ORDER BY overlap_frac DESC, ov.doc_id LIMIT 50""".stripMargin,

    // rational idf (n_docs+1)/(df+1), NOT its log: log is not
    // correctly rounded across libm implementations; the rational
    // form is exact conversions + one IEEE division, same ranking
    "doc_tfidf_terms" ->
      s"""WITH $TOKS,
         |tok AS (SELECT doc_id, lang, unnest(t) AS term FROM toks),
         |tf AS (SELECT lang, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df
         |       FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |s AS (SELECT lang, term, tf, df,
         |        round(CAST(tf AS DOUBLE) *
         |          (CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)), 4)
         |          AS score
         |      FROM tf JOIN df USING (term), n WHERE df >= 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |        ORDER BY score DESC, term) AS rnk FROM s)
         |SELECT lang, rnk, term, CAST(tf AS BIGINT) AS tf,
         |  CAST(df AS BIGINT) AS df, score
         |FROM r WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin,

    // lift = P(ab) / (P(a)·P(b)) — PMI without the log (same ranking,
    // and products/division of exactly-converted counts hash-match)
    "doc_collocations" ->
      s"""WITH $TOKS,
         |uni AS (SELECT unnest(t) AS term FROM toks),
         |uc AS (SELECT term, count(*) AS n_term FROM uni GROUP BY 1),
         |nu AS (SELECT count(*) AS n_uni FROM uni),
         |bi AS (SELECT unnest(CASE WHEN len(t) >= 2
         |         THEN list_transform(range(1, len(t)),
         |              i -> array_to_string(list_slice(t, i, i + 1), ' '))
         |         ELSE [] END) AS bigram FROM toks),
         |bc AS (SELECT bigram, count(*) AS n_ab FROM bi GROUP BY 1
         |       HAVING count(*) >= 5),
         |nb AS (SELECT count(*) AS n_bi FROM bi),
         |j AS (SELECT bigram, n_ab,
         |        string_split(bigram, ' ')[1] AS w1,
         |        string_split(bigram, ' ')[2] AS w2 FROM bc),
         |s AS (SELECT bigram, n_ab, a.n_term AS n_a, b.n_term AS n_b,
         |        round(CAST(n_ab AS DOUBLE) * CAST(n_uni AS DOUBLE) *
         |          CAST(n_uni AS DOUBLE) /
         |          (CAST(n_bi AS DOUBLE) * CAST(a.n_term AS DOUBLE) *
         |            CAST(b.n_term AS DOUBLE)), 4) AS lift
         |      FROM j JOIN uc a ON j.w1 = a.term
         |             JOIN uc b ON j.w2 = b.term, nu, nb)
         |SELECT bigram, CAST(n_ab AS BIGINT) AS n_ab,
         |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, lift
         |FROM s ORDER BY lift DESC, bigram LIMIT 20""".stripMargin,

    "doc_shuffle_shards" ->
      """WITH h AS (SELECT doc_id,
        |  CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 13)
        |       AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, (h * 4) // 4503599627370496 AS shard,
        |  row_number() OVER (PARTITION BY (h * 4) // 4503599627370496
        |    ORDER BY h, doc_id) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,

    "ret_bm25" ->
      s"""WITH $TOKS, $Bm25Sql
         |SELECT CAST(qid AS BIGINT) AS qid, rnk, doc_id, score
         |FROM bm25r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,

    "ret_rrf_hybrid" ->
      s"""WITH $TOKS, $Bm25Sql,
         |lex AS (SELECT qid, doc_id AS item, rnk FROM bm25r WHERE rnk <= 10),
         |qv AS (SELECT 1 AS qid, vec_id AS vid, embedding AS qvec
         |       FROM embeddings WHERE vec_id = 100
         |       UNION ALL
         |       SELECT 2, vec_id, embedding FROM embeddings WHERE vec_id = 200),
         |ss AS (SELECT qv.qid, e.vec_id,
         |         ${cosSql("qvec", "e.embedding")} AS cos_sim
         |       FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> qv.vid),
         |sr AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |         ORDER BY cos_sim DESC, vec_id) AS rnk FROM ss),
         |sem AS (SELECT qid, vec_id AS item, rnk FROM sr WHERE rnk <= 10),
         |fu AS (SELECT coalesce(l.qid, s.qid) AS qid,
         |         coalesce(l.item, s.item) AS item,
         |         round(coalesce(1.0 / CAST(l.rnk + 60 AS DOUBLE), 0.0) +
         |               coalesce(1.0 / CAST(s.rnk + 60 AS DOUBLE), 0.0), 6)
         |           AS rrf
         |       FROM lex l FULL OUTER JOIN sem s
         |         ON l.qid = s.qid AND l.item = s.item),
         |fr AS (SELECT qid, item, rrf, row_number() OVER (PARTITION BY qid
         |         ORDER BY rrf DESC, item) AS rnk FROM fu)
         |SELECT CAST(qid AS BIGINT) AS qid, rnk, item, rrf
         |FROM fr WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,

    // ranking eval: boolean ≥2-term-overlap qrels, metrics as integer
    // ppm floor divisions — no float ratio anywhere
    "ret_eval" ->
      s"""WITH $TOKS, $Bm25Sql,
         |res AS (SELECT qid, rnk, doc_id FROM bm25r WHERE rnk <= 10),
         |dterm AS (SELECT DISTINCT doc_id, unnest(t) AS term FROM toks),
         |qrel AS (SELECT qt.qid, dterm.doc_id
         |         FROM dterm JOIN qt USING (term)
         |         GROUP BY 1, 2 HAVING count(DISTINCT term) >= 2),
         |nr AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel
         |       FROM qrel GROUP BY 1),
         |h AS (SELECT r.qid,
         |        CAST(sum(CASE WHEN r.rnk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS hits_5,
         |        CAST(sum(CASE WHEN r.rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS hits_10,
         |        CAST(min(r.rnk) AS BIGINT) AS first_rel
         |      FROM res r JOIN qrel USING (qid, doc_id) GROUP BY 1),
         |qs AS (SELECT DISTINCT qid FROM res)
         |SELECT CAST(q.qid AS BIGINT) AS qid,
         |  coalesce(n_rel, 0) AS n_rel,
         |  coalesce(hits_5, 0) AS hits_5,
         |  coalesce(hits_10, 0) AS hits_10,
         |  CAST(coalesce(hits_5, 0) * 1000000 // 5 AS BIGINT) AS p5_ppm,
         |  CAST(coalesce(hits_10, 0) * 1000000 // 10 AS BIGINT) AS p10_ppm,
         |  CAST(CASE WHEN coalesce(n_rel, 0) = 0 THEN 0
         |       ELSE coalesce(hits_10, 0) * 1000000 // n_rel END AS BIGINT)
         |    AS r10_ppm,
         |  CAST(CASE WHEN first_rel IS NULL THEN 0
         |       ELSE 1000000 // first_rel END AS BIGINT) AS mrr_ppm
         |FROM qs q LEFT JOIN h USING (qid) LEFT JOIN nr USING (qid)
         |ORDER BY qid""".stripMargin,

    // graded ranking eval: frozen floor(1e6/log2(r+1)) discount
    // constants (log2 is libm — never computed at query time), gains
    // (1 << min(grade,9)) - 1, ndcg = dcg*1e6 floor-div idcg
    "ret_ndcg" ->
      s"""WITH $TOKS, $Bm25Sql,
         |res AS (SELECT qid, rnk, doc_id FROM bm25r WHERE rnk <= 10),
         |dterm AS (SELECT DISTINCT doc_id, unnest(t) AS term FROM toks),
         |qrel AS (SELECT qt.qid, dterm.doc_id,
         |           CAST(count(DISTINCT term) AS BIGINT) AS grade
         |         FROM dterm JOIN qt USING (term)
         |         GROUP BY 1, 2 HAVING count(DISTINCT term) >= 2),
         |disc(rnk, d) AS (VALUES (1, 1000000), (2, 630929),
         |  (3, 500000), (4, 430676), (5, 386852), (6, 356207),
         |  (7, 333333), (8, 315464), (9, 301029), (10, 289064)),
         |dcg AS (SELECT r.qid,
         |          CAST(sum(((CAST(1 AS BIGINT) <<
         |            CAST(least(q.grade, 9) AS INTEGER)) - 1) * d.d)
         |            AS BIGINT) AS dcg_ppm
         |        FROM res r JOIN qrel q USING (qid, doc_id)
         |        JOIN disc d USING (rnk) GROUP BY 1),
         |ir AS (SELECT qid, grade, row_number() OVER (PARTITION BY qid
         |         ORDER BY grade DESC, doc_id) AS rnk FROM qrel),
         |idcg AS (SELECT ir.qid,
         |           CAST(sum(((CAST(1 AS BIGINT) <<
         |             CAST(least(ir.grade, 9) AS INTEGER)) - 1) * d.d)
         |             AS BIGINT) AS idcg_ppm
         |         FROM ir JOIN disc d USING (rnk)
         |         WHERE ir.rnk <= 10 GROUP BY 1),
         |qs AS (SELECT DISTINCT qid FROM res)
         |SELECT CAST(q.qid AS BIGINT) AS qid,
         |  CAST(coalesce(dcg_ppm, 0) AS BIGINT) AS dcg_ppm,
         |  CAST(coalesce(idcg_ppm, 0) AS BIGINT) AS idcg_ppm,
         |  CAST(CASE WHEN coalesce(idcg_ppm, 0) = 0 THEN 0
         |       ELSE coalesce(dcg_ppm, 0) * 1000000 // idcg_ppm END
         |    AS BIGINT) AS ndcg_ppm
         |FROM qs q LEFT JOIN dcg USING (qid) LEFT JOIN idcg USING (qid)
         |ORDER BY qid""".stripMargin,

    // pseudo-relevance feedback: ML weight P(term|pool) in ppm over
    // the bm25 top-10 pool, query terms excluded, pool_df >= 2,
    // top 5 per query by (weight, term) — floor divisions stated
    "ret_expand" ->
      s"""WITH $TOKS, $Bm25Sql,
         |pool AS (SELECT qid, doc_id FROM bm25r WHERE rnk <= 10),
         |ptok AS (SELECT p.qid, t.doc_id, unnest(t.t) AS term
         |         FROM toks t JOIN pool p USING (doc_id)),
         |plen AS (SELECT qid, count(*) AS pool_len FROM ptok GROUP BY 1),
         |cand AS (SELECT qid, term, count(*) AS pool_tf,
         |           count(DISTINCT doc_id) AS pool_df
         |         FROM ptok GROUP BY 1, 2
         |         HAVING count(DISTINCT doc_id) >= 2),
         |fil AS (SELECT c.* FROM cand c
         |        WHERE NOT EXISTS (SELECT 1 FROM qt
         |          WHERE qt.qid = c.qid AND qt.term = c.term)),
         |wt AS (SELECT f.qid, f.term, f.pool_tf, f.pool_df,
         |         f.pool_tf * 1000000 // p.pool_len AS weight_ppm
         |       FROM fil f JOIN plen p USING (qid)),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY qid
         |         ORDER BY weight_ppm DESC, term) AS rnk FROM wt)
         |SELECT CAST(qid AS BIGINT) AS qid, rnk, term,
         |  CAST(pool_tf AS BIGINT) AS pool_tf,
         |  CAST(pool_df AS BIGINT) AS pool_df,
         |  CAST(weight_ppm AS BIGINT) AS weight_ppm
         |FROM rk WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // the PRF loop closed: re-run bm25 with query ∪ top-5 expansion
    // terms (same CTE chain with the widened qt2 vocabulary) and
    // report nDCG@10 before/after against the ORIGINAL query's
    // graded qrels — the fold of ret_expand + ret_ndcg, composed
    "ret_expand_eval" ->
      s"""WITH $TOKS, $Bm25Sql,
         |pool AS (SELECT qid, doc_id FROM bm25r WHERE rnk <= 10),
         |ptok AS (SELECT p.qid, t.doc_id, unnest(t.t) AS term
         |         FROM toks t JOIN pool p USING (doc_id)),
         |plen AS (SELECT qid, count(*) AS pool_len FROM ptok GROUP BY 1),
         |cand AS (SELECT qid, term, count(*) AS pool_tf,
         |           count(DISTINCT doc_id) AS pool_df
         |         FROM ptok GROUP BY 1, 2
         |         HAVING count(DISTINCT doc_id) >= 2),
         |fil AS (SELECT c.* FROM cand c
         |        WHERE NOT EXISTS (SELECT 1 FROM qt
         |          WHERE qt.qid = c.qid AND qt.term = c.term)),
         |wt AS (SELECT f.qid, f.term,
         |         f.pool_tf * 1000000 // p.pool_len AS weight_ppm
         |       FROM fil f JOIN plen p USING (qid)),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY qid
         |         ORDER BY weight_ppm DESC, term) AS rnk FROM wt),
         |qt2 AS MATERIALIZED (SELECT qid, term FROM qt
         |       UNION ALL SELECT qid, term FROM rk WHERE rnk <= 5),
         |tf2 AS (SELECT doc_id, dl, term, count(*) AS tf FROM dtok
         |        WHERE term IN (SELECT term FROM qt2) GROUP BY 1, 2, 3),
         |dfr2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY 1),
         |sc2 AS (SELECT qt2.qid, tf2.doc_id,
         |         round(((CAST(n_docs - df AS DOUBLE) + 0.5) /
         |                (CAST(df AS DOUBLE) + 0.5)) *
         |               ((CAST(tf AS DOUBLE) * 2.25) /
         |                (CAST(tf AS DOUBLE) + 1.25 *
         |                 (0.25 + 0.75 * (CAST(dl AS DOUBLE) /
         |                   (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))),
         |           4) AS w
         |       FROM tf2 JOIN qt2 USING (term) JOIN dfr2 USING (term), st),
         |ag2 AS (SELECT qid, doc_id,
         |         round(CAST(sum(CAST(w AS DECIMAL(18,4))) AS DOUBLE), 4)
         |           AS score
         |       FROM sc2 GROUP BY 1, 2),
         |bm25r2 AS (SELECT qid, doc_id, row_number() OVER (
         |         PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
         |       FROM ag2),
         |dterm AS (SELECT DISTINCT doc_id, unnest(t) AS term FROM toks),
         |qrel AS MATERIALIZED (SELECT qt.qid, dterm.doc_id,
         |           CAST(count(DISTINCT term) AS BIGINT) AS grade
         |         FROM dterm JOIN qt USING (term)
         |         GROUP BY 1, 2 HAVING count(DISTINCT term) >= 2),
         |disc(rnk, d) AS (VALUES (1, 1000000), (2, 630929),
         |  (3, 500000), (4, 430676), (5, 386852), (6, 356207),
         |  (7, 333333), (8, 315464), (9, 301029), (10, 289064)),
         |idcg AS (SELECT ir.qid,
         |           CAST(sum(((CAST(1 AS BIGINT) <<
         |             CAST(least(ir.grade, 9) AS INTEGER)) - 1) * d.d)
         |             AS BIGINT) AS idcg_ppm
         |         FROM (SELECT qid, grade, row_number() OVER (
         |                 PARTITION BY qid ORDER BY grade DESC, doc_id)
         |                 AS rnk FROM qrel) ir
         |         JOIN disc d USING (rnk)
         |         WHERE ir.rnk <= 10 GROUP BY 1),
         |dcg1 AS (SELECT r.qid,
         |           CAST(sum(((CAST(1 AS BIGINT) <<
         |             CAST(least(q.grade, 9) AS INTEGER)) - 1) * d.d)
         |             AS BIGINT) AS dcg_ppm
         |         FROM (SELECT qid, rnk, doc_id FROM bm25r
         |               WHERE rnk <= 10) r
         |         JOIN qrel q USING (qid, doc_id)
         |         JOIN disc d USING (rnk) GROUP BY 1),
         |dcg2 AS (SELECT r.qid,
         |           CAST(sum(((CAST(1 AS BIGINT) <<
         |             CAST(least(q.grade, 9) AS INTEGER)) - 1) * d.d)
         |             AS BIGINT) AS dcg_ppm
         |         FROM (SELECT qid, rnk, doc_id FROM bm25r2
         |               WHERE rnk <= 10) r
         |         JOIN qrel q USING (qid, doc_id)
         |         JOIN disc d USING (rnk) GROUP BY 1),
         |moved AS (SELECT r2.qid, count(*) AS n_new_top10
         |          FROM (SELECT qid, doc_id FROM bm25r2 WHERE rnk <= 10) r2
         |          LEFT JOIN (SELECT qid, doc_id FROM bm25r
         |                     WHERE rnk <= 10) r1
         |            ON r1.qid = r2.qid AND r1.doc_id = r2.doc_id
         |          WHERE r1.doc_id IS NULL GROUP BY 1),
         |qids AS (SELECT DISTINCT qid FROM bm25r WHERE rnk <= 10)
         |SELECT qid, ndcg_before_ppm, ndcg_after_ppm,
         |  CAST(ndcg_after_ppm - ndcg_before_ppm AS BIGINT) AS delta_ppm,
         |  n_new_top10
         |FROM (
         |  SELECT CAST(q.qid AS BIGINT) AS qid,
         |    CAST(CASE WHEN coalesce(i.idcg_ppm, 0) = 0 THEN 0
         |         ELSE coalesce(d1.dcg_ppm, 0) * 1000000 // i.idcg_ppm
         |         END AS BIGINT) AS ndcg_before_ppm,
         |    CAST(CASE WHEN coalesce(i.idcg_ppm, 0) = 0 THEN 0
         |         ELSE coalesce(d2.dcg_ppm, 0) * 1000000 // i.idcg_ppm
         |         END AS BIGINT) AS ndcg_after_ppm,
         |    CAST(coalesce(m.n_new_top10, 0) AS BIGINT) AS n_new_top10
         |  FROM qids q LEFT JOIN dcg1 d1 USING (qid)
         |    LEFT JOIN dcg2 d2 USING (qid)
         |    LEFT JOIN idcg i USING (qid)
         |    LEFT JOIN moved m USING (qid)) t
         |ORDER BY qid""".stripMargin,

    "sample_mix_sources" ->
      """WITH tgt(source, target) AS (
        |  VALUES ('src0', 24), ('src1', 18), ('src2', 12), ('src3', 6)),
        |r AS (
        |  SELECT d.source, d.doc_id, t.target,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 13)
        |                    AS BIGINT), d.doc_id) AS rnk
        |  FROM documents d JOIN tgt t ON d.source = t.source)
        |SELECT source, rnk, doc_id FROM r WHERE rnk <= target
        |ORDER BY source, rnk""".stripMargin,

    "doc_token_stats" ->
      s"""WITH $TOKS
         |SELECT doc_id, len(t) AS n_tokens, length(text) AS n_chars_text,
         |  round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
         |        / len(t), 4) AS avg_token_len,
         |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
         |    AS n_subtokens
         |FROM toks ORDER BY doc_id""".stripMargin,

    "doc_quality" ->
      s"""WITH $TOKS
         |SELECT doc_id, len(t) AS n_tokens,
         |  len(list_filter(t, x -> x IN ('the','and','of','to','a','in','is','it'))) AS n_stopwords,
         |  round(CAST(len(list_filter(t, x -> x IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE)
         |        / len(t), 4) AS stop_ratio,
         |  round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4) AS distinct_ratio,
         |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
         |  round(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
         |        / length(text), 4) AS punct_ratio
         |FROM toks ORDER BY doc_id""".stripMargin,

    "doc_langid" ->
      s"""WITH $TOKS,
         |sc AS (
         |  SELECT doc_id, lang AS labeled_lang,
         |    len(list_filter(t, x -> x IN ('the','and','of','is'))) AS s_en,
         |    len(list_filter(t, x -> x IN ('el','la','de','que'))) AS s_es,
         |    len(list_filter(t, x -> x IN ('der','die','und','das'))) AS s_de,
         |    len(list_filter(t, x -> x IN ('le','la','et','les'))) AS s_fr
         |  FROM toks)
         |SELECT doc_id, labeled_lang, s_en, s_es, s_de, s_fr,
         |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
         |       WHEN s_de >= s_fr THEN 'de'
         |       ELSE 'fr' END AS pred_lang
         |FROM sc ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id,
        |  substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 16) AS fp,
        |  length(text) AS n_chars_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_clean_corpus" ->
      s"""WITH $TOKS,
         |g AS (
         |  SELECT doc_id, text, source, len(t) AS n_tokens
         |  FROM toks
         |  WHERE len(t) >= 20
         |    AND round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4)
         |        >= 0.5),
         |c AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(text))
         |        AS canonical FROM g)
         |SELECT source, count(*) AS n_docs,
         |  round(CAST(sum(CAST(n_tokens AS DECIMAL(18,4))) AS DOUBLE)
         |        / count(*), 4) AS avg_tokens
         |FROM c WHERE doc_id = canonical
         |GROUP BY source ORDER BY source""".stripMargin,

    "mov_interp" ->
      s"""WITH $POS,
         |anch AS (
         |  SELECT user_id, event_id, ts_us,
         |    last_value(x IGNORE NULLS) OVER pw AS px,
         |    last_value(CASE WHEN x IS NOT NULL THEN ts_us END IGNORE NULLS)
         |      OVER pw AS ptx,
         |    last_value(y IGNORE NULLS) OVER pw AS py,
         |    last_value(CASE WHEN y IS NOT NULL THEN ts_us END IGNORE NULLS)
         |      OVER pw AS pty,
         |    first_value(x IGNORE NULLS) OVER fw AS nx,
         |    first_value(CASE WHEN x IS NOT NULL THEN ts_us END IGNORE NULLS)
         |      OVER fw AS ntx,
         |    first_value(y IGNORE NULLS) OVER fw AS ny,
         |    first_value(CASE WHEN y IS NOT NULL THEN ts_us END IGNORE NULLS)
         |      OVER fw AS nty
         |  FROM pos
         |  WINDOW
         |    pw AS (PARTITION BY user_id ORDER BY ts_us, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    fw AS (PARTITION BY user_id ORDER BY ts_us, event_id
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, event_id,
         |  CASE WHEN ptx IS NOT NULL AND ntx IS NOT NULL AND ntx <> ptx
         |       THEN CAST(px AS DOUBLE) + CAST(nx - px AS DOUBLE) *
         |            (CAST(ts_us - ptx AS DOUBLE) / CAST(ntx - ptx AS DOUBLE))
         |       WHEN ptx IS NOT NULL THEN CAST(px AS DOUBLE)
         |       ELSE CAST(nx AS DOUBLE) END AS ix,
         |  CASE WHEN pty IS NOT NULL AND nty IS NOT NULL AND nty <> pty
         |       THEN CAST(py AS DOUBLE) + CAST(ny - py AS DOUBLE) *
         |            (CAST(ts_us - pty AS DOUBLE) / CAST(nty - pty AS DOUBLE))
         |       WHEN pty IS NOT NULL THEN CAST(py AS DOUBLE)
         |       ELSE CAST(ny AS DOUBLE) END AS iy
         |FROM anch ORDER BY user_id, event_id""".stripMargin,

    "sample_weighted" ->
      """WITH it AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) || ':' ||
        |         CAST(l_linenumber AS VARCHAR) AS item_id,
        |         l_quantity
        |  FROM lineitem)
        |SELECT item_id, l_quantity,
        |  CAST(l_quantity AS DOUBLE) /
        |    (CAST(CAST('0x' || substr(md5(item_id), 1, 13) AS BIGINT) + 1
        |          AS DOUBLE) / 4503599627370496.0) AS priority
        |FROM it
        |ORDER BY priority DESC, item_id LIMIT 50""".stripMargin,

    "sample_weighted_strata" ->
      """WITH p AS (
        |  SELECT lang, doc_id,
        |    CAST(length(text) AS DOUBLE) /
        |      (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
        |            AS BIGINT) + 1 AS DOUBLE) / 4503599627370496.0)
        |      AS priority
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, priority,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY priority DESC, doc_id) AS INT) AS rnk
        |  FROM p)
        |SELECT lang, rnk, doc_id, priority FROM r WHERE rnk <= 5
        |ORDER BY lang, rnk""".stripMargin,

    "hh_top_terms" ->
      """WITH tk AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT term, count(*) AS cnt FROM tk
        |GROUP BY term ORDER BY cnt DESC, term LIMIT 20""".stripMargin,

    "hh_group_terms" ->
      """WITH tk AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |c AS (SELECT lang, term, count(*) AS cnt FROM tk GROUP BY lang, term),
        |r AS (SELECT lang, term, cnt,
        |        CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY cnt DESC, term) AS INT) AS rnk
        |      FROM c)
        |SELECT lang, term, cnt, rnk FROM r WHERE rnk <= 5
        |ORDER BY lang, rnk""".stripMargin,

    "join_session_overlap" ->
      s"""WITH $EV,
         |g AS (
         |  SELECT user_id, ts_us, event_id,
         |    CASE WHEN lag(ts_us) OVER lw IS NULL
         |           OR ts_us - lag(ts_us) OVER lw > ${SessionGapSec}000000
         |         THEN 1 ELSE 0 END AS new_sess
         |  FROM ev
         |  WINDOW lw AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s AS (
         |  SELECT user_id, ts_us,
         |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS session_id
         |  FROM g),
         |sb AS (
         |  SELECT user_id, session_id, min(ts_us) AS lo, max(ts_us) + 1 AS hi
         |  FROM s GROUP BY 1, 2)
         |SELECT a.user_id AS u1, b.user_id AS u2, count(*) AS n_overlaps,
         |  CAST(sum(least(a.hi, b.hi) - greatest(a.lo, b.lo)) AS BIGINT)
         |    AS overlap_us
         |FROM sb a JOIN sb b
         |  ON a.user_id < b.user_id AND a.lo < b.hi AND b.lo < a.hi
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "agg_hist_quantiles" ->
      """WITH h AS (
        |  SELECT CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS bin,
        |         count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
        |c AS (SELECT bin, CAST(sum(cnt) OVER (ORDER BY bin
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        AS cum FROM h),
        |qs AS (SELECT CAST(unnest(['0.5', '0.9', '0.99']) AS DOUBLE) AS q),
        |sel AS (
        |  SELECT q, nt.n, min(bin) AS qbin
        |  FROM c CROSS JOIN nt CROSS JOIN qs
        |  WHERE cum >= CAST(ceil(q * nt.n) AS BIGINT)
        |  GROUP BY q, nt.n)
        |SELECT q, n, CAST(qbin + 1 AS DOUBLE) * 1000.0 AS est
        |FROM sel ORDER BY q""".stripMargin,

    "agg_hist_by_flag" ->
      """WITH h AS (
        |  SELECT l_returnflag,
        |         CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS bin,
        |         count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, bin,
        |    CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        |  FROM h),
        |qs AS (SELECT CAST(unnest(['0.5', '0.95']) AS DOUBLE) AS q),
        |sel AS (
        |  SELECT l_returnflag, q, n, min(bin) AS qbin
        |  FROM c CROSS JOIN qs
        |  WHERE cum >= CAST(ceil(q * n) AS BIGINT)
        |  GROUP BY 1, 2, 3)
        |SELECT l_returnflag, q, n, CAST(qbin + 1 AS DOUBLE) * 1000.0 AS est
        |FROM sel ORDER BY l_returnflag, q""".stripMargin,

    "ts_sliding_distinct" ->
      s"""WITH $EV,
         |b AS (
         |  SELECT sec // 300 AS bucket,
         |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)
         |      AS BIGINT) AS h
         |  FROM ev),
         |bm AS (
         |  SELECT bucket,
         |    list_slice(list_sort(list_distinct(list(h))), 1, 64) AS mins
         |  FROM b GROUP BY bucket),
         |wm AS (
         |  SELECT bucket,
         |    list_slice(list_sort(list_distinct(flatten(
         |      list(mins) OVER (ORDER BY bucket
         |        RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)))), 1, 64) AS win
         |  FROM bm)
         |SELECT bucket,
         |  round(CASE WHEN len(win) < 64 THEN CAST(len(win) AS DOUBLE)
         |        ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
         |             / CAST(win[64] AS DOUBLE) END, 2)
         |    AS distinct_est
         |FROM wm ORDER BY bucket""".stripMargin,

    "ts_concurrency" ->
      s"""WITH $EV,
         |g AS (
         |  SELECT user_id, ts_us, event_id,
         |    CASE WHEN lag(ts_us) OVER lw IS NULL
         |           OR ts_us - lag(ts_us) OVER lw > ${SessionGapSec}000000
         |         THEN 1 ELSE 0 END AS new_sess
         |  FROM ev
         |  WINDOW lw AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s AS (
         |  SELECT user_id, ts_us,
         |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS session_id
         |  FROM g),
         |sb AS (
         |  SELECT min(ts_us) AS lo, max(ts_us) + 1 AS hi
         |  FROM s GROUP BY user_id, session_id),
         |edges AS (
         |  SELECT lo AS t, CAST(1 AS BIGINT) AS delta FROM sb
         |  UNION ALL
         |  SELECT hi, CAST(-1 AS BIGINT) FROM sb),
         |b AS (SELECT t, delta, t // 3600000000 AS bucket FROM edges),
         |l AS (
         |  SELECT bucket, delta,
         |    CAST(sum(delta) OVER (PARTITION BY bucket ORDER BY t, delta
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS lc
         |  FROM b),
         |pb AS (SELECT bucket, CAST(sum(delta) AS BIGINT) AS tot,
         |              max(lc) AS maxlc
         |       FROM l GROUP BY bucket),
         |o AS (
         |  SELECT bucket, maxlc,
         |    coalesce(CAST(sum(tot) OVER (ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |      CAST(0 AS BIGINT)) AS off
         |  FROM pb)
         |SELECT bucket, off + greatest(maxlc, 0) AS max_concurrent
         |FROM o ORDER BY bucket""".stripMargin,

    "profile_checksum" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        |  CAST(sum(CAST(CAST('0x' || substr(md5(concat_ws(chr(1),
        |        CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
        |        o_orderpriority)), 1, 13) AS BIGINT) AS DECIMAL(38,0)))
        |    AS VARCHAR) AS content_sum
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "cdc_diff" ->
      """WITH olds AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |news AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT -o_orderkey, o_orderstatus, o_totalprice + 0.5
        |  FROM orders WHERE o_orderkey % 10 = 1)
        |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'I'
        |       WHEN n.o_orderkey IS NULL THEN 'D'
        |       WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |         OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |       THEN 'U' END AS change_type,
        |  o.o_orderstatus AS old_o_orderstatus,
        |  o.o_totalprice AS old_o_totalprice,
        |  n.o_orderstatus AS new_o_orderstatus,
        |  n.o_totalprice AS new_o_totalprice
        |FROM olds o FULL OUTER JOIN news n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |ORDER BY 1""".stripMargin,

    // IVM contract: the folded state must equal the from-scratch
    // aggregate over the NEW snapshot — so that recompute IS the
    // oracle; DECIMAL sums make the equality exact, not approximate
    "cdc_agg_delta" ->
      """WITH news AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT -o_orderkey, o_orderstatus, o_totalprice + 0.5
        |  FROM orders WHERE o_orderkey % 10 = 1)
        |SELECT o_orderstatus, count(*) AS cnt,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2)
        |    AS total
        |FROM news GROUP BY 1 ORDER BY 1""".stripMargin,

    // bounded-state top-k IVM: the oracle is the from-scratch top-3
    // over ALL orders — equality with the folded state IS the
    // insert-only merge law's contract
    "cdc_topk_delta" ->
      """WITH pc AS (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(9,2)) * 100 AS BIGINT)
        |      AS price_cents
        |  FROM orders),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |         ORDER BY price_cents DESC, o_orderkey) AS rnk FROM pc)
        |SELECT o_orderpriority, rnk, o_orderkey, price_cents
        |FROM rk WHERE rnk <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin,

    // delete-capable top-k IVM: the oracle recomputes the top-5 from
    // scratch over (facts \ deletes) ∪ inserts and independently
    // derives the refill set from the base tables (a group with more
    // than k'=10 rows that loses > k'-k=5 of its top-10) — on every
    // kept group the fold must equal the recompute exactly
    "cdc_topk_delete" ->
      """WITH facts AS MATERIALIZED (
        |  SELECT o_custkey % 50 AS grp, o_orderkey AS id,
        |    CAST(CAST(o_totalprice AS DECIMAL(9,2)) * 100 AS BIGINT)
        |      AS price_cents
        |  FROM orders),
        |dels AS MATERIALIZED (
        |  SELECT id FROM facts
        |  WHERE id % 13 = 0 OR (grp < 5 AND id % 4 < 3)),
        |refill AS (
        |  SELECT grp FROM (
        |    SELECT f.grp, count(*) AS cnt_old,
        |      count(*) FILTER (WHERE f.rnk <= 10 AND d.id IS NOT NULL)
        |        AS del10
        |    FROM (SELECT facts.*, row_number() OVER (PARTITION BY grp
        |            ORDER BY price_cents DESC, id) AS rnk FROM facts) f
        |    LEFT JOIN dels d ON f.id = d.id
        |    GROUP BY f.grp) t
        |  WHERE cnt_old > 10 AND 10 - del10 < 5),
        |newf AS (
        |  SELECT f.* FROM facts f LEFT JOIN dels d ON f.id = d.id
        |  WHERE d.id IS NULL
        |  UNION ALL
        |  SELECT grp, id + 1000000000 AS id, price_cents
        |  FROM facts WHERE id % 11 = 0),
        |rk AS (SELECT grp, id, price_cents,
        |         row_number() OVER (PARTITION BY grp
        |           ORDER BY price_cents DESC, id) AS rnk
        |       FROM newf)
        |SELECT grp, rnk, id, price_cents FROM rk
        |WHERE rnk <= 5 AND grp NOT IN (SELECT grp FROM refill)
        |ORDER BY grp, rnk""".stripMargin,

    // the refill report: same independent derivation, with the
    // damage quantified (held = the 10 shadow rows a truncated group
    // held, deleted = how many of them this batch removed)
    "cdc_topk_refill" ->
      """WITH facts AS MATERIALIZED (
        |  SELECT o_custkey % 50 AS grp, o_orderkey AS id,
        |    CAST(CAST(o_totalprice AS DECIMAL(9,2)) * 100 AS BIGINT)
        |      AS price_cents
        |  FROM orders),
        |dels AS MATERIALIZED (
        |  SELECT id FROM facts
        |  WHERE id % 13 = 0 OR (grp < 5 AND id % 4 < 3))
        |SELECT grp, LEAST(cnt_old, CAST(10 AS BIGINT)) AS held,
        |  del10 AS deleted
        |FROM (
        |  SELECT f.grp, count(*) AS cnt_old,
        |    count(*) FILTER (WHERE f.rnk <= 10 AND d.id IS NOT NULL)
        |      AS del10
        |  FROM (SELECT facts.*, row_number() OVER (PARTITION BY grp
        |          ORDER BY price_cents DESC, id) AS rnk FROM facts) f
        |  LEFT JOIN dels d ON f.id = d.id
        |  GROUP BY f.grp) t
        |WHERE cnt_old > 10 AND 10 - del10 < 5
        |ORDER BY grp""".stripMargin,

    // after the repair the served top-5 is exact for EVERY group —
    // the oracle is the plain from-scratch top-5 over the post-batch
    // facts with NO refill restriction
    "cdc_topk_repair" ->
      """WITH facts AS MATERIALIZED (
        |  SELECT o_custkey % 50 AS grp, o_orderkey AS id,
        |    CAST(CAST(o_totalprice AS DECIMAL(9,2)) * 100 AS BIGINT)
        |      AS price_cents
        |  FROM orders),
        |dels AS MATERIALIZED (
        |  SELECT id FROM facts
        |  WHERE id % 13 = 0 OR (grp < 5 AND id % 4 < 3)),
        |newf AS (
        |  SELECT f.* FROM facts f LEFT JOIN dels d ON f.id = d.id
        |  WHERE d.id IS NULL
        |  UNION ALL
        |  SELECT grp, id + 1000000000 AS id, price_cents
        |  FROM facts WHERE id % 11 = 0),
        |rk AS (SELECT grp, id, price_cents,
        |         row_number() OVER (PARTITION BY grp
        |           ORDER BY price_cents DESC, id) AS rnk
        |       FROM newf)
        |SELECT grp, rnk, id, price_cents FROM rk WHERE rnk <= 5
        |ORDER BY grp, rnk""".stripMargin,

    "cdc_scd2" ->
      """WITH olds AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |news AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT -o_orderkey, o_orderstatus, o_totalprice + 0.5
        |  FROM orders WHERE o_orderkey % 10 = 1),
        |d AS (
        |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'I'
        |         WHEN n.o_orderkey IS NULL THEN 'D'
        |         ELSE 'U' END AS change_type,
        |    n.o_orderstatus AS new_o_orderstatus,
        |    n.o_totalprice AS new_o_totalprice
        |  FROM olds o FULL OUTER JOIN news n ON o.o_orderkey = n.o_orderkey
        |  WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |     OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |     OR o.o_totalprice IS DISTINCT FROM n.o_totalprice),
        |applied AS (
        |  SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,
        |    CAST(0 AS BIGINT) AS valid_from,
        |    CASE WHEN d.change_type IN ('U', 'D')
        |         THEN CAST(1 AS BIGINT) END AS valid_to
        |  FROM olds o LEFT JOIN d ON o.o_orderkey = d.o_orderkey
        |  UNION ALL
        |  SELECT o_orderkey, new_o_orderstatus, new_o_totalprice,
        |    CAST(1 AS BIGINT), CAST(NULL AS BIGINT)
        |  FROM d WHERE change_type IN ('I', 'U'))
        |SELECT * FROM applied
        |WHERE abs(o_orderkey) % 10 IN (1, 3, 7)
        |ORDER BY o_orderkey, valid_from""".stripMargin,

    "sample_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |w AS (SELECT source, n,
        |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
        |          AS w_int
        |      FROM c),
        |t AS (SELECT source, n,
        |        (200 * w_int) //
        |          CAST((SELECT sum(w_int) FROM w) AS BIGINT) AS target
        |      FROM w),
        |r AS (SELECT d.source, d.doc_id,
        |        row_number() OVER (PARTITION BY d.source
        |          ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |            1, 13) AS BIGINT), doc_id) AS rnk
        |      FROM documents d),
        |sel AS (SELECT r.source, count(*) AS n_sel,
        |          CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |        FROM r JOIN t USING (source)
        |        WHERE rnk <= t.target GROUP BY 1)
        |SELECT t.source, t.n, t.target,
        |  coalesce(sel.n_sel, 0) AS n_sel,
        |  coalesce(sel.sum_ids, 0) AS sum_ids
        |FROM t LEFT JOIN sel USING (source)
        |ORDER BY t.source""".stripMargin,

    "cms_term_counts" ->
      """WITH tk AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |rows_i AS (SELECT unnest(range(5)) AS row_i),
        |cells AS (
        |  SELECT row_i,
        |    CAST('0x' || substr(md5(CAST(row_i AS VARCHAR) || ':' || term),
        |         1, 13) AS BIGINT) % 512 AS bucket,
        |    count(*) AS cnt
        |  FROM tk CROSS JOIN rows_i GROUP BY 1, 2),
        |top AS (SELECT term, count(*) AS exact_cnt FROM tk GROUP BY 1
        |        ORDER BY exact_cnt DESC, term LIMIT 20),
        |est AS (
        |  SELECT t.term, min(coalesce(c.cnt, 0)) AS cms_est
        |  FROM top t CROSS JOIN rows_i r
        |  LEFT JOIN cells c ON c.row_i = r.row_i AND c.bucket =
        |    CAST('0x' || substr(md5(CAST(r.row_i AS VARCHAR) || ':' || t.term),
        |         1, 13) AS BIGINT) % 512
        |  GROUP BY 1)
        |SELECT t.term, t.exact_cnt, e.cms_est,
        |  e.cms_est - t.exact_cnt AS overcount
        |FROM top t JOIN est e USING (term)
        |ORDER BY t.exact_cnt DESC, t.term""".stripMargin,

    "sample_bernoulli" ->
      """SELECT count(*) AS n,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2)
        |    AS sum_qty
        |FROM lineitem
        |WHERE CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
        |        CAST(l_linenumber AS VARCHAR)), 1, 13) AS BIGINT) * 50
        |      < 1 * 4503599627370496""".stripMargin,

    "sample_stratified" ->
      s"""WITH $EV,
         |r AS (
         |  SELECT event_type, event_id,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)),
         |                                   1, 13) AS BIGINT), event_id)
         |      AS rnk
         |  FROM ev)
         |SELECT event_type, rnk, event_id FROM r WHERE rnk <= 10
         |ORDER BY event_type, rnk""".stripMargin,

    "sample_folds" ->
      """SELECT (CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
        |          CAST(l_linenumber AS VARCHAR)), 1, 13) AS BIGINT) * 4)
        |         // 4503599627370496 AS fold,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2)
        |    AS sum_qty
        |FROM lineitem GROUP BY fold ORDER BY fold""".stripMargin,

    // leakage-safe folds: same md5 fold formula as sample_folds but
    // over the closure's cluster labels (unpaired docs = own cluster)
    "sample_folds_safe" -> {
      s"""WITH RECURSIVE $SimPairsSql,
         |${closureSql("ed0")},
         |lab AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |        FROM reach GROUP BY a),
         |alld AS (
         |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id)
         |SELECT (CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 13)
         |          AS BIGINT) * 4) // 4503599627370496 AS fold,
         |  count(*) AS n_docs, count(DISTINCT cluster_id) AS n_clusters
         |FROM alld GROUP BY fold ORDER BY fold""".stripMargin
    },

    // best-first selection under a cumulative budget: the window
    // cumsum is fine at ORACLE scale; the engine side is the
    // distributed two-pass prefix sum
    "sample_budget" ->
      """WITH ord AS (
        |  SELECT doc_id, n_chars,
        |         CAST(sum(n_chars) OVER (ORDER BY n_chars DESC, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum_cost
        |  FROM documents)
        |SELECT doc_id, n_chars AS score, n_chars AS cost, cum_cost
        |FROM ord WHERE cum_cost <= 1000000 ORDER BY doc_id""".stripMargin,

    // estimate-from-sample composite: both engines draw the IDENTICAL
    // deterministic sample, so even the estimates hash-match
    "sample_quantiles" ->
      """SELECT l_returnflag, count(*) AS n_sampled,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem
        |WHERE CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
        |        CAST(l_linenumber AS VARCHAR)), 1, 13) AS BIGINT) * 10
        |      < 1 * 4503599627370496
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "doc_winnow_fp" ->
      """WITH c AS (SELECT doc_id, text, length(text) AS n FROM documents
        |           WHERE length(text) >= 11),
        |pos AS (SELECT doc_id, text, n,
        |          unnest(range(1, n - 8 + 2)) AS i FROM c),
        |h AS (SELECT doc_id, n, i,
        |        substr(md5(substr(text, CAST(i AS INT), 8)), 1, 8) AS hv
        |      FROM pos),
        |wm AS (SELECT doc_id, n, i,
        |         min(hv) OVER (PARTITION BY doc_id ORDER BY i
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
        |       FROM h),
        |sel AS (SELECT DISTINCT doc_id, mh FROM wm
        |        WHERE i <= (n - 8 + 1) - 4 + 1)
        |SELECT doc_id, count(*) AS n_selected,
        |  substr(md5(string_agg(mh, '' ORDER BY mh)), 1, 16) AS winnow_fp
        |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        |  count(*) OVER (PARTITION BY md5(text)) AS group_size
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_minhash_sig" ->
      s"""$MinhashSigSql
         |SELECT * FROM sig ORDER BY doc_id""".stripMargin,

    "dedup_delta" -> {
      val bandRows = (0 until Dedup.NumBands).map { b =>
        val m = (b * Dedup.BandSize until (b + 1) * Dedup.BandSize)
          .map(i => s"mh$i").mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, md5($m) AS key FROM sig"
      }.mkString("\n UNION ALL ")
      s"""$MinhashSigSql,
         |band AS ($bandRows),
         |hits AS (
         |  SELECT a.doc_id, b.doc_id AS other, a.band
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id <> b.doc_id
         |  WHERE a.doc_id % 5 = 0)
         |SELECT doc_id, min(other) AS dup_of,
         |  CAST(count(DISTINCT band) AS BIGINT) AS n_band_hits
         |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "dedup_minhash_pairs" -> {
      val bandRows = (0 until Dedup.NumBands).map { b =>
        val m = (b * Dedup.BandSize until (b + 1) * Dedup.BandSize)
          .map(i => s"mh$i").mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, md5($m) AS key FROM sig"
      }.mkString("\n UNION ALL ")
      s"""$MinhashSigSql,
         |band AS ($bandRows)
         |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |FROM band a JOIN band b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |ORDER BY id1, id2""".stripMargin
    },

    // connected components of the LSH pair graph via transitive
    // closure (min-label fixpoint ≡ component minimum, which the
    // recursive CTE computes exactly)
    "dedup_clusters" -> {
      val bandRows = (0 until Dedup.NumBands).map { b =>
        val m = (b * Dedup.BandSize until (b + 1) * Dedup.BandSize)
          .map(i => s"mh$i").mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, md5($m) AS key FROM sig"
      }.mkString("\n UNION ALL ")
      s"""${MinhashSigSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |band AS MATERIALIZED ($bandRows),
         |p AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |${closureSql("p")}
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin
    },

    "dedup_simhash" ->
      s"""WITH $SimhashSql
         |SELECT doc_id, simhash16 FROM sim ORDER BY doc_id""".stripMargin,

    "doc_contrastive_pairs" -> {
      s"""WITH $SimPairsSql,
         |pos AS MATERIALIZED (SELECT id1, id2, hamming, 1 AS label FROM ed0),
         |n1 AS (SELECT count(*) AS n FROM documents),
         |cnd AS (SELECT least(doc_id, j) AS id1, greatest(doc_id, j) AS id2
         |        FROM (SELECT doc_id,
         |                CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |                     1, 13) AS BIGINT) % (SELECT n FROM n1) AS j
         |              FROM documents)
         |        WHERE doc_id <> j GROUP BY 1, 2),
         |ex AS (SELECT c.id1, c.id2 FROM cnd c
         |       JOIN documents d1 ON c.id1 = d1.doc_id
         |       JOIN documents d2 ON c.id2 = d2.doc_id
         |       LEFT JOIN pos p ON p.id1 = c.id1 AND p.id2 = c.id2
         |       WHERE p.id1 IS NULL),
         |neg AS (SELECT e.id1, e.id2,
         |          ${hammingSql("s1.simhash16", "s2.simhash16")} AS hamming,
         |          0 AS label
         |        FROM ex e JOIN sim s1 ON s1.doc_id = e.id1
         |                  JOIN sim s2 ON s2.doc_id = e.id2)
         |SELECT id1, id2, hamming, label FROM pos
         |UNION ALL SELECT id1, id2, hamming, label FROM neg
         |ORDER BY label, id1, id2""".stripMargin
    },

    "dedup_simhash_pairs" -> {
      s"""WITH $SimPairsSql
         |SELECT id1, id2, hamming FROM ed0
         |ORDER BY id1, id2""".stripMargin
    },

    // link prediction: wedge enumeration over the capped-degree
    // middles, RA index as integer ppm (1000000 // deg summed) —
    // engine-portable, no float summation order
    "graph_common_neighbors" -> {
      s"""WITH $SimPairsSql,
         |sym AS MATERIALIZED (SELECT id1 AS m, id2 AS x FROM ed0
         |        UNION ALL SELECT id2, id1 FROM ed0),
         |deg AS (SELECT m, count(*) AS deg FROM sym GROUP BY m),
         |mids AS (SELECT * FROM deg WHERE deg <= 64),
         |adj AS MATERIALIZED (
         |  SELECT s.m, s.x, d.deg FROM sym s JOIN mids d USING (m)),
         |sc AS (SELECT a.x AS id1, b.x AS id2, count(*) AS cn,
         |         CAST(sum(1000000 // a.deg) AS BIGINT) AS ra_ppm
         |       FROM adj a JOIN adj b ON a.m = b.m AND a.x < b.x
         |       GROUP BY 1, 2),
         |na AS (SELECT sc.* FROM sc LEFT JOIN ed0 e
         |         ON sc.id1 = e.id1 AND sc.id2 = e.id2
         |       WHERE e.id1 IS NULL)
         |SELECT id1, id2, cn, ra_ppm FROM na
         |ORDER BY cn DESC, ra_ppm DESC, id1, id2 LIMIT 50""".stripMargin
    },

    // components of the simhash pair graph: the star-contraction
    // fixpoint equals the component minimum, which the recursive
    // closure computes exactly (same oracle idea as dedup_clusters)
    "graph_components" -> {
      s"""WITH RECURSIVE $SimPairsSql,
         |${closureSql("ed0")}
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin
    },

    // survivors = rank-1 per closure cluster by (n_chars desc, doc_id),
    // with unpaired documents surviving as their own cluster
    "dedup_canonical" -> {
      s"""WITH RECURSIVE $SimPairsSql,
         |${closureSql("ed0")},
         |lab AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |        FROM reach GROUP BY a),
         |alld AS (
         |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
         |         d.n_chars
         |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id),
         |rk AS (SELECT doc_id, cluster_id, n_chars,
         |         row_number() OVER (PARTITION BY cluster_id
         |           ORDER BY n_chars DESC, doc_id) AS rnk
         |       FROM alld)
         |SELECT doc_id, cluster_id, n_chars FROM rk WHERE rnk = 1
         |ORDER BY doc_id""".stripMargin
    },

    // incremental = from-scratch is the CLAIM under test, so the
    // oracle for the delta-folded labeling is literally the
    // full-graph closure: Spark clusters the even-doc subgraph, folds
    // the odd-involving delta in as label stars, and must land on the
    // same labels the closure computes over every pair
    "graph_components_delta" -> {
      s"""WITH RECURSIVE $SimPairsSql,
         |${closureSql("ed0")}
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin
    },

    // deletion = from-scratch on the SURVIVORS is the claim under
    // test: the oracle replays the %13 retraction, closes over the
    // surviving edges only, and keeps every PRIOR node labeled
    // (stranded nodes fall back to self-labels) — blind to the
    // touched/untouched scoping the operator uses
    "graph_components_delete" -> {
      s"""WITH RECURSIVE $SimPairsSql,
         |surv AS MATERIALIZED (
         |  SELECT id1, id2 FROM ed0 WHERE (id1 + id2) % 13 <> 0),
         |-- DISTINCT over UNION ALL, not bare UNION: under WITH
         |-- RECURSIVE DuckDB parses any `a UNION b` CTE as an
         |-- anchor+step recursion and skips the cross-dedupe
         |allnodes AS (SELECT DISTINCT n FROM (
         |  SELECT id1 AS n FROM ed0 UNION ALL SELECT id2 FROM ed0)),
         |${closureSql("surv")},
         |lab AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |        FROM reach GROUP BY a)
         |SELECT an.n AS doc_id,
         |  coalesce(l.cluster_id, an.n) AS cluster_id
         |FROM allnodes an LEFT JOIN lab l ON l.doc_id = an.n
         |ORDER BY doc_id""".stripMargin
    },

    // min hop distance from the seed set (doc_id % 7 = 0, restricted
    // to pair-graph nodes): the walk recursion is bounded at hops < 10
    // — the operator's maxHops cap — so a (node, hops) state space of
    // |V|×11 terminates the recursive UNION, and min(hops) over the
    // bounded walks IS the BFS distance for every node within the cap
    // while nodes beyond it are absent from both engines
    "graph_bfs" -> {
      s"""WITH RECURSIVE $SimPairsSql,
         |e AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM ed0
         |      UNION SELECT id2, id1 FROM ed0),
         |seeds AS (SELECT DISTINCT a AS doc_id FROM e WHERE a % 7 = 0),
         |walk AS (
         |  SELECT doc_id, 0 AS hops FROM seeds
         |  UNION
         |  SELECT e2.b, w.hops + 1 FROM walk w JOIN e e2 ON w.doc_id = e2.a
         |  WHERE w.hops < 10)
         |SELECT doc_id, min(hops) AS hops FROM walk
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // 3-core by explicit peel recursion: level i carries the edge set
    // after i peels (a window count per endpoint is that level's
    // degree), bounded at 30 peels exactly like the operator; a
    // converged set reproduces itself through the remaining levels,
    // so the iter = 30 slice IS the fixpoint whenever the peel
    // converges within the bound and the 30-peel prefix otherwise —
    // the same contract on both engines
    "graph_kcore" -> {
      s"""WITH RECURSIVE $SimPairsSql,
         |e AS (SELECT id1 AS src, id2 AS dst FROM ed0 WHERE id1 <> id2
         |      UNION SELECT id2, id1 FROM ed0 WHERE id1 <> id2),
         |peel AS (
         |  SELECT src, dst, 0 AS iter FROM e
         |  UNION ALL
         |  SELECT src, dst, iter + 1 FROM (
         |    SELECT src, dst, iter,
         |           count(*) OVER (PARTITION BY iter, src) AS dsrc,
         |           count(*) OVER (PARTITION BY iter, dst) AS ddst
         |    FROM peel)
         |  WHERE iter < 30 AND dsrc >= 3 AND ddst >= 3)
         |SELECT DISTINCT src AS doc_id FROM peel WHERE iter = 30
         |ORDER BY doc_id""".stripMargin
    },

    "graph_pagerank" -> {
      s"""WITH $SimPairsSql,
         |edges AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM ed0
         |          UNION SELECT id2, id1 FROM ed0),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |nodesv AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
         |${rankRecurrenceSql(5, seeds = None)}
         |SELECT node, pr FROM pr5
         |ORDER BY pr DESC, node LIMIT 50""".stripMargin
    },

    // the incremental fold's contract is EQUALITY with from-scratch
    // pageRank on the union graph, so the oracle replays the fixture
    // split (1%-slice, endpoints semi-joined to prior nodes) and then
    // runs the SAME unrolled integer recurrence as graph_pagerank on
    // prior ∪ delta — an independent from-scratch derivation, blind
    // to the trajectory/ball machinery
    "graph_pagerank_delta" -> {
      s"""WITH $SimPairsSql,
         |d0 AS (SELECT id1, id2 FROM ed0 WHERE (id1 + id2) % 101 = 0),
         |p0 AS MATERIALIZED (SELECT id1, id2 FROM ed0 WHERE (id1 + id2) % 101 <> 0),
         |n0 AS MATERIALIZED (SELECT id1 AS n FROM p0 UNION SELECT id2 FROM p0),
         |dd AS (SELECT id1, id2 FROM d0
         |       WHERE id1 IN (SELECT n FROM n0)
         |         AND id2 IN (SELECT n FROM n0)),
         |un AS MATERIALIZED (SELECT id1, id2 FROM p0
         |       UNION ALL SELECT id1, id2 FROM dd),
         |edges AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM un
         |          UNION SELECT id2, id1 FROM un),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |nodesv AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
         |${rankRecurrenceSql(5, seeds = None)}
         |SELECT node, pr FROM pr5
         |ORDER BY pr DESC, node LIMIT 50""".stripMargin
    },

    // the seeded-random twin: identical recurrence, but the delta
    // slice is the multiplicative hash (id1*48271 + id2*16807) % 101
    // — DuckDB replays the exact integer hash split from scratch
    "graph_pagerank_delta_rand" -> {
      s"""WITH $SimPairsSql,
         |d0 AS (SELECT id1, id2 FROM ed0
         |       WHERE (id1 * 48271 + id2 * 16807) % 101 = 0),
         |p0 AS MATERIALIZED (SELECT id1, id2 FROM ed0
         |       WHERE (id1 * 48271 + id2 * 16807) % 101 <> 0),
         |n0 AS MATERIALIZED (SELECT id1 AS n FROM p0 UNION SELECT id2 FROM p0),
         |dd AS (SELECT id1, id2 FROM d0
         |       WHERE id1 IN (SELECT n FROM n0)
         |         AND id2 IN (SELECT n FROM n0)),
         |un AS MATERIALIZED (SELECT id1, id2 FROM p0
         |       UNION ALL SELECT id1, id2 FROM dd),
         |edges AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM un
         |          UNION SELECT id2, id1 FROM un),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |nodesv AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
         |${rankRecurrenceSql(5, seeds = None)}
         |SELECT node, pr FROM pr5
         |ORDER BY pr DESC, node LIMIT 50""".stripMargin
    },

    // the PPR fold's contract is EQUALITY with from-scratch
    // personalizedPageRank on the union graph: replay the %101 split
    // (delta endpoints semi-joined to prior nodes), then unroll the
    // SAME seed-teleport integer recurrence as graph_ppr over
    // prior ∪ delta — blind to the trajectory, the ball, and the
    // fold's seed-consistency check
    "graph_ppr_delta" -> {
      s"""WITH $SimPairsSql,
         |d0 AS (SELECT id1, id2 FROM ed0 WHERE (id1 + id2) % 101 = 0),
         |p0 AS MATERIALIZED (SELECT id1, id2 FROM ed0 WHERE (id1 + id2) % 101 <> 0),
         |n0 AS MATERIALIZED (SELECT id1 AS n FROM p0 UNION SELECT id2 FROM p0),
         |dd AS (SELECT id1, id2 FROM d0
         |       WHERE id1 IN (SELECT n FROM n0)
         |         AND id2 IN (SELECT n FROM n0)),
         |un AS MATERIALIZED (SELECT id1, id2 FROM p0
         |       UNION ALL SELECT id1, id2 FROM dd),
         |edges AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM un
         |          UNION SELECT id2, id1 FROM un),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |nodesv AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
         |${rankRecurrenceSql(5, seeds = Some("node % 7 = 0"))}
         |SELECT node, pr FROM pr5
         |ORDER BY pr DESC, node LIMIT 50""".stripMargin
    },

    // the deletion fold's contract: the recurrence over the SURVIVING
    // edges (%13 slice retracted) on the PRIOR graph's node set and
    // n_nodes — stranded nodes fall out of the edge/deg relations and
    // the left join hands them the bare teleport term, exactly the
    // operator's node-universe law. Blind to the trajectory, ball,
    // and branch machinery.
    "graph_pagerank_delete" -> {
      s"""WITH $SimPairsSql,
         |surv AS MATERIALIZED (
         |  SELECT id1, id2 FROM ed0 WHERE (id1 + id2) % 13 <> 0),
         |edges AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM surv
         |          UNION SELECT id2, id1 FROM surv),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |nodesv AS MATERIALIZED (SELECT DISTINCT node FROM (
         |  SELECT id1 AS node FROM ed0 UNION ALL SELECT id2 FROM ed0)),
         |${rankRecurrenceSql(5, seeds = None)}
         |SELECT node, pr FROM pr5
         |ORDER BY pr DESC, node LIMIT 50""".stripMargin
    },

    // the PPR deletion law: survivors-%13 recurrence with the PRIOR
    // node set and its %7 seed teleport — a stranded non-seed's rows
    // vanish from edges/deg, so the left join decays it to zero, a
    // stranded seed to its damped teleport share
    "graph_ppr_delete" -> {
      s"""WITH $SimPairsSql,
         |surv AS MATERIALIZED (
         |  SELECT id1, id2 FROM ed0 WHERE (id1 + id2) % 13 <> 0),
         |edges AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM surv
         |          UNION SELECT id2, id1 FROM surv),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |nodesv AS MATERIALIZED (SELECT DISTINCT node FROM (
         |  SELECT id1 AS node FROM ed0 UNION ALL SELECT id2 FROM ed0)),
         |${rankRecurrenceSql(5, seeds = Some("node % 7 = 0"))}
         |SELECT node, pr FROM pr5
         |ORDER BY pr DESC, node LIMIT 50""".stripMargin
    },

    // same unrolled integer recurrence with the teleport mass on the
    // %7 seed slice only — pr0 = tele, each step mixes (15·tele)//100
    // with the damped in-sum
    "graph_ppr" -> {
      s"""WITH $SimPairsSql,
         |edges AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM ed0
         |          UNION SELECT id2, id1 FROM ed0),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |nodesv AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
         |${rankRecurrenceSql(5, seeds = Some("node % 7 = 0"))}
         |SELECT node, pr FROM pr5
         |ORDER BY pr DESC, node LIMIT 50""".stripMargin
    },

    "dedup_ngram_jaccard" ->
      s"""WITH $TOKS, $ShinglesSql,
         |ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
         |  FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT id1, id2,
         |  round(CAST(n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - n_common), 4) AS jaccard
         |FROM common
         |  JOIN sizes s1 ON s1.doc_id = id1
         |  JOIN sizes s2 ON s2.doc_id = id2
         |ORDER BY jaccard DESC, id1, id2 LIMIT 50""".stripMargin,

    "dedup_setsim_join" ->
      s"""WITH $TOKS, $ShinglesSql,
         |ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
         |  FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT id1, id2, s1.n AS n1, s2.n AS n2, inter,
         |  round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 4) AS jaccard
         |FROM common
         |  JOIN sizes s1 ON s1.doc_id = id1
         |  JOIN sizes s2 ON s2.doc_id = id2
         |WHERE inter * 2 >= (s1.n + s2.n - inter) * 1
         |ORDER BY id1, id2""".stripMargin,

    "dedup_setsim_rs" ->
      s"""WITH $TOKS, $ShinglesSql,
         |ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
         |  FROM ds a JOIN ds b ON a.shingle = b.shingle
         |    AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT id1, id2, s1.n AS n1, s2.n AS n2, inter,
         |  round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 4) AS jaccard
         |FROM common
         |  JOIN sizes s1 ON s1.doc_id = id1
         |  JOIN sizes s2 ON s2.doc_id = id2
         |WHERE inter * 2 >= (s1.n + s2.n - inter) * 1
         |ORDER BY id1, id2""".stripMargin,

    "dedup_setsim_strict" ->
      s"""WITH $TOKS, $ShinglesSql,
         |ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
         |  FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT id1, id2, s1.n AS n1, s2.n AS n2, inter,
         |  round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 4) AS jaccard
         |FROM common
         |  JOIN sizes s1 ON s1.doc_id = id1
         |  JOIN sizes s2 ON s2.doc_id = id2
         |WHERE inter * 3 >= (s1.n + s2.n - inter) * 2
         |ORDER BY id1, id2""".stripMargin,

    "dedup_delta_verified" -> {
      val bandRows = (0 until Dedup.NumBands).map { b =>
        val m = (b * Dedup.BandSize until (b + 1) * Dedup.BandSize)
          .map(i => s"mh$i").mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, md5($m) AS key FROM sig"
      }.mkString("\n UNION ALL ")
      s"""$MinhashSigSql,
         |band AS ($bandRows),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id <> b.doc_id
         |  WHERE a.doc_id % 5 = 0),
         |ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
         |common AS (
         |  SELECT c.id1, c.id2, count(*) AS inter
         |  FROM cand c
         |    JOIN ds a ON a.doc_id = c.id1
         |    JOIN ds b ON b.doc_id = c.id2 AND b.shingle = a.shingle
         |  GROUP BY 1, 2),
         |v AS (
         |  SELECT id1, id2, s1.n AS n1, s2.n AS n2, inter,
         |    round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 4)
         |      AS jaccard
         |  FROM common
         |    JOIN sizes s1 ON s1.doc_id = id1
         |    JOIN sizes s2 ON s2.doc_id = id2
         |  WHERE inter * 2 >= (s1.n + s2.n - inter) * 1),
         |r AS (SELECT *, row_number() OVER (PARTITION BY id1
         |        ORDER BY jaccard DESC, id2) AS rk FROM v)
         |SELECT id1 AS doc_id, id2 AS dup_of, n1, n2, inter, jaccard
         |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin
    },

    // R-S recall eval: exact cross ground truth over the quarter
    // slices vs the banded routing, same recall4 shape as
    // dedup_route_recall
    "dedup_route_rs_recall" -> {
      val bandRows = (0 until Dedup.NumBands).map { b =>
        val m = (b * Dedup.BandSize until (b + 1) * Dedup.BandSize)
          .map(i => s"mh$i").mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, md5($m) AS key FROM sig"
      }.mkString("\n UNION ALL ")
      s"""${minhashSigSql("doc_id % 4 <= 1")},
         |band AS ($bandRows),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.key = b.key
         |    AND a.doc_id % 4 = 0 AND b.doc_id % 4 = 1),
         |ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
         |allc AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
         |  FROM ds a JOIN ds b ON a.shingle = b.shingle
         |    AND a.doc_id % 4 = 0 AND b.doc_id % 4 = 1
         |  GROUP BY 1, 2),
         |exact AS (
         |  SELECT id1, id2 FROM allc
         |    JOIN sizes s1 ON s1.doc_id = id1
         |    JOIN sizes s2 ON s2.doc_id = id2
         |  WHERE inter * 2 >= (s1.n + s2.n - inter) * 1),
         |routedc AS (
         |  SELECT c.id1, c.id2, count(*) AS inter
         |  FROM cand c
         |    JOIN ds a ON a.doc_id = c.id1
         |    JOIN ds b ON b.doc_id = c.id2 AND b.shingle = a.shingle
         |  GROUP BY 1, 2),
         |routed AS (
         |  SELECT id1, id2 FROM routedc
         |    JOIN sizes s1 ON s1.doc_id = id1
         |    JOIN sizes s2 ON s2.doc_id = id2
         |  WHERE inter * 2 >= (s1.n + s2.n - inter) * 1),
         |ne AS (SELECT count(*) AS n_exact FROM exact),
         |nr AS (SELECT count(*) AS n_routed FROM routed),
         |nh AS (SELECT count(*) AS n_hit
         |       FROM routed r JOIN exact e
         |         ON r.id1 = e.id1 AND r.id2 = e.id2)
         |SELECT n_exact, n_routed, n_hit,
         |  round(CASE WHEN n_exact = 0 THEN 1.0
         |        ELSE CAST(n_hit AS DOUBLE) / n_exact END, 4) AS recall4
         |FROM ne, nr, nh""".stripMargin
    },

    // cross-corpus routed join: same banding, candidates restricted
    // to even×odd cross pairs (signatures are per-doc, so banding the
    // full corpus then gating by parity ≡ banding each side)
    "dedup_route_rs" -> {
      val bandRows = (0 until Dedup.NumBands).map { b =>
        val m = (b * Dedup.BandSize until (b + 1) * Dedup.BandSize)
          .map(i => s"mh$i").mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, md5($m) AS key FROM sig"
      }.mkString("\n UNION ALL ")
      s"""$MinhashSigSql,
         |band AS ($bandRows),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.key = b.key
         |    AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
         |ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
         |common AS (
         |  SELECT c.id1, c.id2, count(*) AS inter
         |  FROM cand c
         |    JOIN ds a ON a.doc_id = c.id1
         |    JOIN ds b ON b.doc_id = c.id2 AND b.shingle = a.shingle
         |  GROUP BY 1, 2)
         |SELECT id1, id2, s1.n AS n1, s2.n AS n2, inter,
         |  round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 4) AS jaccard
         |FROM common
         |  JOIN sizes s1 ON s1.doc_id = id1
         |  JOIN sizes s2 ON s2.doc_id = id2
         |WHERE inter * 2 >= (s1.n + s2.n - inter) * 1
         |ORDER BY id1, id2""".stripMargin
    },

    "dedup_route" -> {
      val bandRows = (0 until Dedup.NumBands).map { b =>
        val m = (b * Dedup.BandSize until (b + 1) * Dedup.BandSize)
          .map(i => s"mh$i").mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, md5($m) AS key FROM sig"
      }.mkString("\n UNION ALL ")
      s"""$MinhashSigSql,
         |band AS ($bandRows),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
         |common AS (
         |  SELECT c.id1, c.id2, count(*) AS inter
         |  FROM cand c
         |    JOIN ds a ON a.doc_id = c.id1
         |    JOIN ds b ON b.doc_id = c.id2 AND b.shingle = a.shingle
         |  GROUP BY 1, 2)
         |SELECT id1, id2, s1.n AS n1, s2.n AS n2, inter,
         |  round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 4) AS jaccard
         |FROM common
         |  JOIN sizes s1 ON s1.doc_id = id1
         |  JOIN sizes s2 ON s2.doc_id = id2
         |WHERE inter * 2 >= (s1.n + s2.n - inter) * 1
         |ORDER BY id1, id2""".stripMargin
    },

    "dedup_route_recall" -> {
      val bandRows = (0 until Dedup.NumBands).map { b =>
        val m = (b * Dedup.BandSize until (b + 1) * Dedup.BandSize)
          .map(i => s"mh$i").mkString(" || '|' || ")
        s"SELECT doc_id, $b AS band, md5($m) AS key FROM sig"
      }.mkString("\n UNION ALL ")
      // gate-scale slice: same doc_id % 2 filter as the Spark side,
      // applied at the toks SOURCE via the builder parameter
      val gatedSig = minhashSigSql("doc_id % 2 = 0")
      s"""$gatedSig,
         |band AS ($bandRows),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
         |allc AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
         |  FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |exact AS (
         |  SELECT id1, id2 FROM allc
         |    JOIN sizes s1 ON s1.doc_id = id1
         |    JOIN sizes s2 ON s2.doc_id = id2
         |  WHERE inter * 2 >= (s1.n + s2.n - inter) * 1),
         |routedc AS (
         |  SELECT c.id1, c.id2, count(*) AS inter
         |  FROM cand c
         |    JOIN ds a ON a.doc_id = c.id1
         |    JOIN ds b ON b.doc_id = c.id2 AND b.shingle = a.shingle
         |  GROUP BY 1, 2),
         |routed AS (
         |  SELECT id1, id2 FROM routedc
         |    JOIN sizes s1 ON s1.doc_id = id1
         |    JOIN sizes s2 ON s2.doc_id = id2
         |  WHERE inter * 2 >= (s1.n + s2.n - inter) * 1),
         |ne AS (SELECT count(*) AS n_exact FROM exact),
         |nr AS (SELECT count(*) AS n_routed FROM routed),
         |nh AS (SELECT count(*) AS n_hit
         |       FROM routed r JOIN exact e
         |         ON r.id1 = e.id1 AND r.id2 = e.id2)
         |SELECT n_exact, n_routed, n_hit,
         |  round(CASE WHEN n_exact = 0 THEN 1.0
         |        ELSE CAST(n_hit AS DOUBLE) / n_exact END, 4) AS recall4
         |FROM ne, nr, nh""".stripMargin
    },

    "dedup_embedding_cosine" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding,
         |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings)
         |SELECT a.vec_id AS id1, b.vec_id AS id2,
         |  round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 4)
         |    AS cos_sim
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |ORDER BY cos_sim DESC, id1, id2 LIMIT 20""".stripMargin,

    // mutual-kNN graph + recursive closure; norms hoisted once (the
    // per-pair cosine is identical arithmetic to Portable.cosine)
    "emb_mutual_knn_clusters" ->
      s"""WITH RECURSIVE n AS (
         |  SELECT vec_id, embedding,
         |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |s AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS vid,
         |    round(${dotSql("a.embedding", "b.embedding")} /
         |          (a.nrm * b.nrm), 4) AS cs
         |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
         |r AS (SELECT qid, vid, row_number() OVER (PARTITION BY qid
         |        ORDER BY cs DESC, vid) AS rnk
         |      FROM s),
         |knn AS (SELECT qid, vid FROM r WHERE rnk <= 5),
         |m AS (SELECT x.qid AS id1, x.vid AS id2
         |      FROM knn x JOIN knn y ON x.qid = y.vid AND x.vid = y.qid
         |      WHERE x.qid < x.vid),
         |e AS (SELECT id1 AS a, id2 AS b FROM m
         |      UNION SELECT id2, id1 FROM m),
         |reach AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r2.a, e2.b FROM reach r2 JOIN e e2 ON r2.b = e2.a),
         |lab AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id
         |        FROM reach GROUP BY a),
         |allv AS (SELECT v.vec_id,
         |           coalesce(l.cluster_id, v.vec_id) AS cluster_id
         |         FROM embeddings v LEFT JOIN lab l ON v.vec_id = l.vec_id),
         |sz AS (SELECT cluster_id, count(*) AS csize FROM allv
         |       GROUP BY cluster_id)
         |SELECT allv.vec_id, allv.cluster_id, sz.csize
         |FROM allv JOIN sz USING (cluster_id) ORDER BY vec_id""".stripMargin,

    // LSH-candidate mutual-kNN clusters: same tail as the exact form,
    // candidates restricted to shared hyperplane buckets. RpLshSigSql
    // already opens its own WITH; the recursive closure CTE rides in
    // the same chain.
    "emb_mutual_knn_lsh" -> {
      val base = RpLshSigSql.replaceFirst("WITH ", "WITH RECURSIVE ")
      s"""$base,
         |sj AS (SELECT s.vec_id, s.bucket, e.embedding
         |       FROM sigs s JOIN embeddings e USING (vec_id)),
         |sc AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS vid,
         |    ${cosSql("a.embedding", "b.embedding")} AS cs
         |  FROM sj a JOIN sj b
         |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |r AS (SELECT qid, vid, row_number() OVER (PARTITION BY qid
         |        ORDER BY cs DESC, vid) AS rnk
         |      FROM sc),
         |knn AS (SELECT qid, vid FROM r WHERE rnk <= 5),
         |m AS (SELECT x.qid AS id1, x.vid AS id2
         |      FROM knn x JOIN knn y ON x.qid = y.vid AND x.vid = y.qid
         |      WHERE x.qid < x.vid),
         |e AS (SELECT id1 AS a, id2 AS b FROM m
         |      UNION SELECT id2, id1 FROM m),
         |reach AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r2.a, e2.b FROM reach r2 JOIN e e2 ON r2.b = e2.a),
         |lab AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id
         |        FROM reach GROUP BY a),
         |allv AS (SELECT v.vec_id,
         |           coalesce(l.cluster_id, v.vec_id) AS cluster_id
         |         FROM embeddings v LEFT JOIN lab l ON v.vec_id = l.vec_id),
         |sz AS (SELECT cluster_id, count(*) AS csize FROM allv
         |       GROUP BY cluster_id)
         |SELECT allv.vec_id, allv.cluster_id, sz.csize
         |FROM allv JOIN sz USING (cluster_id) ORDER BY vec_id""".stripMargin
    },

    // MMR greedy unrolled: selT picks step T's argmax of
    // rel − max(sim to prevT-1) with (mmr DESC, vec_id) tie order;
    // prevT accumulates the selected set. Integer basis points via
    // floor(round(cos,4)·1e4 + 0.5) — same doubles both engines.
    // Every chained CTE is MATERIALIZED: DuckDB inlines CTEs by
    // default, and prevT referencing prevT-1 three times would expand
    // the scan tree 3^9-fold (observed as fd exhaustion).
    "ret_mmr" -> {
      val steps = (2 to 10).map { t =>
        s"""sel$t AS MATERIALIZED (SELECT qid, vec_id, mmr, $t AS rnk FROM (
           |  SELECT qid, vec_id, mmr, row_number() OVER (
           |    PARTITION BY qid ORDER BY mmr DESC, vec_id) AS rn
           |  FROM (
           |    SELECT c.qid, c.vec_id,
           |      c.rel - (SELECT max(p.sim) FROM ps p
           |        JOIN prev${t - 1} s ON s.qid = p.qid AND s.vec_id = p.vb
           |        WHERE p.qid = c.qid AND p.va = c.vec_id) AS mmr
           |    FROM cand c
           |    WHERE NOT EXISTS (SELECT 1 FROM prev${t - 1} s2
           |      WHERE s2.qid = c.qid AND s2.vec_id = c.vec_id))
           |) WHERE rn = 1),
           |prev$t AS MATERIALIZED (SELECT * FROM prev${t - 1}
           |           UNION ALL SELECT * FROM sel$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
         |           FROM embeddings WHERE vec_id < 3),
         |s AS (
         |  SELECT qid, e.vec_id, e.embedding,
         |    CAST(floor(${cosSql("qvec", "e.embedding")} * 10000 + 0.5)
         |      AS BIGINT) AS rel
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> qid),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY rel DESC, vec_id) AS rn
         |      FROM s),
         |cand AS MATERIALIZED (SELECT qid, vec_id, embedding, rel
         |                     FROM r WHERE rn <= 30),
         |ps AS MATERIALIZED (
         |  SELECT a.qid, a.vec_id AS va, b.vec_id AS vb,
         |    CAST(floor(${cosSql("a.embedding", "b.embedding")} * 10000 + 0.5)
         |      AS BIGINT) AS sim
         |  FROM cand a JOIN cand b
         |    ON a.qid = b.qid AND a.vec_id <> b.vec_id),
         |sel1 AS MATERIALIZED (SELECT qid, vec_id, rel AS mmr, 1 AS rnk FROM (
         |  SELECT qid, vec_id, rel, row_number() OVER (PARTITION BY qid
         |    ORDER BY rel DESC, vec_id) AS rn FROM cand) WHERE rn = 1),
         |prev1 AS MATERIALIZED (SELECT * FROM sel1),
         |$steps
         |SELECT qid, rnk, vec_id, mmr FROM prev10
         |ORDER BY qid, rnk""".stripMargin
    },

    "knn_brute" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
         |           FROM embeddings WHERE vec_id < 5),
         |s AS (
         |  SELECT qid, e.vec_id, ${cosSql("qvec", "e.embedding")} AS cos_sim
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> qid),
         |r AS (SELECT qid, vec_id, cos_sim,
         |        row_number() OVER (PARTITION BY qid
         |          ORDER BY cos_sim DESC, vec_id) AS rnk
         |      FROM s)
         |SELECT qid, rnk, vec_id, cos_sim FROM r WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin,

    // ---- metadata-filtered top-k (pre-filter strategy) ----
    "knn_filtered" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec,
         |                  label AS qlabel
         |           FROM embeddings WHERE vec_id < 5),
         |s AS (
         |  SELECT qid, e.vec_id, e.label,
         |    ${cosSql("qvec", "e.embedding")} AS cos_sim
         |  FROM embeddings e JOIN q
         |    ON e.label = qlabel AND e.vec_id <> qid),
         |r AS (SELECT qid, vec_id, label, cos_sim,
         |        row_number() OVER (PARTITION BY qid
         |          ORDER BY cos_sim DESC, vec_id) AS rnk
         |      FROM s)
         |SELECT qid, rnk, vec_id, label, cos_sim FROM r WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin,

    "knn_ivf_assign" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cvec
         |           FROM embeddings WHERE vec_id < 16),
         |s AS (
         |  SELECT e.vec_id, centroid_id,
         |    ${cosSql("e.embedding", "cvec")} AS cos_sim
         |  FROM embeddings e CROSS JOIN c),
         |r AS (SELECT vec_id, centroid_id, cos_sim,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos_sim DESC, centroid_id) AS rn
         |      FROM s)
         |SELECT vec_id, centroid_id, cos_sim AS centroid_sim
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "knn_recall" ->
      s"""WITH bq AS (SELECT vec_id AS qid, embedding AS qvec
         |            FROM embeddings WHERE vec_id < 5),
         |bs AS (
         |  SELECT qid, e.vec_id, ${cosSql("qvec", "e.embedding")} AS cos_sim
         |  FROM embeddings e CROSS JOIN bq WHERE e.vec_id <> qid),
         |br AS (SELECT qid, vec_id,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos_sim DESC, vec_id) AS rnk
         |       FROM bs),
         |c AS (SELECT vec_id AS centroid_id, embedding AS cvec
         |      FROM embeddings WHERE vec_id < 16),
         |sc AS (
         |  SELECT e.vec_id, centroid_id,
         |    ${cosSql("e.embedding", "cvec")} AS cos_sim
         |  FROM embeddings e CROSS JOIN c),
         |assigned AS (
         |  SELECT s.vec_id, s.centroid_id, e.embedding
         |  FROM (SELECT vec_id, centroid_id,
         |          row_number() OVER (PARTITION BY vec_id
         |            ORDER BY cos_sim DESC, centroid_id) AS rn
         |        FROM sc) s
         |  JOIN embeddings e ON s.vec_id = e.vec_id
         |  WHERE s.rn = 1),
         |iq AS (SELECT vec_id AS qid, centroid_id AS qcell, embedding AS qvec
         |       FROM assigned WHERE vec_id < 5),
         |probe AS (
         |  SELECT qid, a.vec_id,
         |    ${cosSql("qvec", "a.embedding")} AS cos_sim
         |  FROM assigned a JOIN iq
         |    ON a.centroid_id = iq.qcell AND a.vec_id <> iq.qid),
         |ir AS (SELECT qid, vec_id,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos_sim DESC, vec_id) AS rnk
         |       FROM probe),
         |hits AS (
         |  SELECT b.qid, count(*) AS n_hit
         |  FROM br b JOIN ir i ON b.qid = i.qid AND b.vec_id = i.vec_id
         |  WHERE b.rnk <= 3 AND i.rnk <= 3
         |  GROUP BY b.qid),
         |qids AS (SELECT DISTINCT qid FROM br)
         |SELECT qids.qid,
         |  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
         |  round(CAST(coalesce(n_hit, 0) AS DOUBLE) / 3, 4) AS recall4
         |FROM qids LEFT JOIN hits ON qids.qid = hits.qid
         |ORDER BY qids.qid""".stripMargin,

    "emb_semantic_prune" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cvec
         |           FROM embeddings
         |           WHERE vec_id < (SELECT greatest(16,
         |             CAST(ceil(count(*) / 64.0) AS BIGINT))
         |             FROM embeddings)),
         |s AS (
         |  SELECT e.vec_id, centroid_id,
         |    ${cosSql("e.embedding", "cvec")} AS cos_sim
         |  FROM embeddings e CROSS JOIN c),
         |a AS (
         |  SELECT r.vec_id, r.centroid_id, e.embedding
         |  FROM (SELECT vec_id, centroid_id,
         |          row_number() OVER (PARTITION BY vec_id
         |            ORDER BY cos_sim DESC, centroid_id) AS rn
         |        FROM s) r
         |  JOIN embeddings e ON r.vec_id = e.vec_id
         |  WHERE r.rn = 1),
         |p AS (
         |  SELECT x.vec_id AS id2, y.vec_id AS id1,
         |    ${cosSql("x.embedding", "y.embedding")} AS sim
         |  FROM a x JOIN a y
         |    ON x.centroid_id = y.centroid_id AND y.vec_id < x.vec_id),
         |d AS (
         |  SELECT id2 AS vec_id, min(id1) AS kept_as, max(sim) AS dup_sim
         |  FROM p WHERE sim >= 0.4 GROUP BY 1)
         |SELECT a.vec_id, a.centroid_id, d.kept_as IS NULL AS kept,
         |  d.kept_as, d.dup_sim
         |FROM a LEFT JOIN d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin,

    "knn_ivf_search" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cvec
         |           FROM embeddings WHERE vec_id < 16),
         |sc AS (
         |  SELECT e.vec_id, centroid_id,
         |    ${cosSql("e.embedding", "cvec")} AS cos_sim
         |  FROM embeddings e CROSS JOIN c),
         |assigned AS (
         |  SELECT s.vec_id, s.centroid_id, e.embedding
         |  FROM (SELECT vec_id, centroid_id,
         |          row_number() OVER (PARTITION BY vec_id
         |            ORDER BY cos_sim DESC, centroid_id) AS rn
         |        FROM sc) s
         |  JOIN embeddings e ON s.vec_id = e.vec_id
         |  WHERE s.rn = 1),
         |q AS (SELECT vec_id AS qid, centroid_id AS qcell, embedding AS qvec
         |      FROM assigned WHERE vec_id < 5),
         |probe AS (
         |  SELECT qid, a.vec_id,
         |    ${cosSql("qvec", "a.embedding")} AS cos_sim
         |  FROM assigned a JOIN q
         |    ON a.centroid_id = q.qcell AND a.vec_id <> q.qid),
         |r AS (SELECT qid, vec_id, cos_sim,
         |        row_number() OVER (PARTITION BY qid
         |          ORDER BY cos_sim DESC, vec_id) AS rnk
         |      FROM probe)
         |SELECT qid, rnk, vec_id, cos_sim FROM r WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin,

    // frozen-centroid delta ingest: centroids from the BASE slice only
    // (vec_id % 5 <> 0), every vector — base and delta — assigns to
    // them, probe over the union (the IvfIndex.append contract)
    "knn_ivf_delta" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cvec
         |           FROM embeddings
         |           WHERE vec_id < 16 AND vec_id % 5 <> 0),
         |sc AS (
         |  SELECT e.vec_id, centroid_id,
         |    ${cosSql("e.embedding", "cvec")} AS cos_sim
         |  FROM embeddings e CROSS JOIN c),
         |assigned AS (
         |  SELECT s.vec_id, s.centroid_id, e.embedding
         |  FROM (SELECT vec_id, centroid_id,
         |          row_number() OVER (PARTITION BY vec_id
         |            ORDER BY cos_sim DESC, centroid_id) AS rn
         |        FROM sc) s
         |  JOIN embeddings e ON s.vec_id = e.vec_id
         |  WHERE s.rn = 1),
         |q AS (SELECT vec_id AS qid, centroid_id AS qcell, embedding AS qvec
         |      FROM assigned WHERE vec_id < 5),
         |probe AS (
         |  SELECT qid, a.vec_id,
         |    ${cosSql("qvec", "a.embedding")} AS cos_sim
         |  FROM assigned a JOIN q
         |    ON a.centroid_id = q.qcell AND a.vec_id <> q.qid),
         |r AS (SELECT qid, vec_id, cos_sim,
         |        row_number() OVER (PARTITION BY qid
         |          ORDER BY cos_sim DESC, vec_id) AS rnk
         |      FROM probe)
         |SELECT qid, rnk, vec_id, cos_sim FROM r WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin,

    // cell drift report: before = frozen base centroids (vec_id < 16,
    // base slice) assigning base+delta; after = retrained centroids
    // (vec_id < 16, full set). Same conventions as knn_ivf_delta /
    // knn_ivf_search.
    "knn_ivf_compact" ->
      s"""WITH bc AS (SELECT vec_id AS centroid_id, embedding AS cvec
         |            FROM embeddings
         |            WHERE vec_id < 16 AND vec_id % 5 <> 0),
         |fc AS (SELECT vec_id AS centroid_id, embedding AS cvec
         |       FROM embeddings WHERE vec_id < 16),
         |sb AS (
         |  SELECT e.vec_id, centroid_id,
         |    ${cosSql("e.embedding", "cvec")} AS cos_sim
         |  FROM embeddings e CROSS JOIN bc),
         |ab AS (
         |  SELECT vec_id, centroid_id
         |  FROM (SELECT vec_id, centroid_id,
         |          row_number() OVER (PARTITION BY vec_id
         |            ORDER BY cos_sim DESC, centroid_id) AS rn
         |        FROM sb) x
         |  WHERE rn = 1),
         |sf AS (
         |  SELECT e.vec_id, centroid_id,
         |    ${cosSql("e.embedding", "cvec")} AS cos_sim
         |  FROM embeddings e CROSS JOIN fc),
         |af AS (
         |  SELECT vec_id, centroid_id
         |  FROM (SELECT vec_id, centroid_id,
         |          row_number() OVER (PARTITION BY vec_id
         |            ORDER BY cos_sim DESC, centroid_id) AS rn
         |        FROM sf) x
         |  WHERE rn = 1),
         |pre AS (
         |  SELECT centroid_id AS cell, count(*) AS n_before,
         |    CAST(sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_delta
         |  FROM ab GROUP BY 1),
         |post AS (
         |  SELECT centroid_id AS cell, count(*) AS n_after
         |  FROM af GROUP BY 1)
         |SELECT coalesce(pre.cell, post.cell) AS cell,
         |  CAST(coalesce(n_before, 0) AS BIGINT) AS n_before,
         |  CAST(coalesce(n_delta, 0) AS BIGINT) AS n_delta,
         |  CAST(coalesce(n_after, 0) AS BIGINT) AS n_after
         |FROM pre FULL OUTER JOIN post ON pre.cell = post.cell
         |ORDER BY cell""".stripMargin,

    "knn_lsh_buckets" ->
      s"""$RpLshSigSql
         |SELECT vec_id, bucket FROM sigs ORDER BY vec_id""".stripMargin,

    "knn_lsh_search" ->
      s"""$RpLshSigSql,
         |sj AS (SELECT s.vec_id, s.bucket, e.embedding
         |       FROM sigs s JOIN embeddings e USING (vec_id)),
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS vec_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos_sim
         |  FROM sj q JOIN sj c
         |    ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 5),
         |r AS (SELECT qid, vec_id, cos_sim,
         |        row_number() OVER (PARTITION BY qid
         |          ORDER BY cos_sim DESC, vec_id) AS rnk
         |      FROM scored)
         |SELECT qid, rnk, vec_id, cos_sim FROM r WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin,

    "knn_recall_lsh" ->
      s"""$RpLshSigSql,
         |sj AS (SELECT s.vec_id, s.bucket, e.embedding
         |       FROM sigs s JOIN embeddings e USING (vec_id)),
         |lsc AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS vec_id,
         |    ${cosSql("q.embedding", "c.embedding")} AS cos_sim
         |  FROM sj q JOIN sj c
         |    ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 5),
         |lr AS (SELECT qid, vec_id,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos_sim DESC, vec_id) AS rnk
         |       FROM lsc),
         |bq AS (SELECT vec_id AS qid, embedding AS qvec
         |       FROM embeddings WHERE vec_id < 5),
         |bs AS (
         |  SELECT qid, e.vec_id, ${cosSql("qvec", "e.embedding")} AS cos_sim
         |  FROM embeddings e CROSS JOIN bq WHERE e.vec_id <> qid),
         |br AS (SELECT qid, vec_id,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos_sim DESC, vec_id) AS rnk
         |       FROM bs),
         |hits AS (
         |  SELECT b.qid, count(*) AS n_hit
         |  FROM br b JOIN lr l ON b.qid = l.qid AND b.vec_id = l.vec_id
         |  WHERE b.rnk <= 3 AND l.rnk <= 3
         |  GROUP BY b.qid),
         |qids AS (SELECT DISTINCT qid FROM br)
         |SELECT qids.qid,
         |  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
         |  round(CAST(coalesce(n_hit, 0) AS DOUBLE) / 3, 4) AS recall4
         |FROM qids LEFT JOIN hits ON qids.qid = hits.qid
         |ORDER BY qids.qid""".stripMargin,

    // centroid oracle: parallel unnest for (d, x), DECIMAL(22,18)
    // per-dim sums, ordered list agg rebuilds the sum vector
    "emb_label_centroids" ->
      s"""WITH dims AS (
         |  SELECT label, vec_id, unnest(embedding) AS x,
         |         unnest(range(64)) AS d
         |  FROM embeddings),
         |sums AS (SELECT label, d, sum(CAST(x AS DECIMAL(22,18))) AS s
         |         FROM dims GROUP BY 1, 2),
         |cent AS (SELECT label, list(CAST(s AS DOUBLE) ORDER BY d) AS svec
         |         FROM sums GROUP BY 1),
         |cn AS (SELECT label, svec,
         |         sqrt(list_dot_product(svec, svec)) AS norm_s
         |       FROM cent),
         |mem AS (
         |  SELECT e.label, c.norm_s,
         |    CASE WHEN c.norm_s = 0.0 THEN 0.0 ELSE
         |      round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.svec) /
         |        (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |         sqrt(list_dot_product(c.svec, c.svec))), 4) END AS cv
         |  FROM embeddings e JOIN cn c USING (label))
         |SELECT label, count(*) AS n,
         |  round(any_value(norm_s) / count(*), 4) AS centroid_norm4,
         |  round(CAST(sum(CAST(cv AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4)
         |    AS cohesion4
         |FROM mem GROUP BY label ORDER BY label""".stripMargin,

    "emb_norms" ->
      s"""SELECT vec_id, len(embedding) AS dim,
         |  round(sqrt(${dotSql("embedding", "embedding")}), 4) AS l2_norm,
         |  label
         |FROM embeddings ORDER BY vec_id""".stripMargin,

    "mm_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS media_type,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CAST(octet_length(encode(text)) AS INT) % 640 AS width,
        |  (CAST(octet_length(encode(text)) AS INT) * 7) % 480 AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_frames" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END
        |    AS media_type,
        |  CAST(frame_id AS INT) AS frame_id,
        |  md5(substring(text, frame_id * 16 + 1, 16)) AS frame_md5,
        |  CAST(octet_length(encode(substring(text, frame_id * 16 + 1, 16)))
        |       AS INT) AS frame_len
        |FROM documents
        |CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS frame_id) f
        |WHERE octet_length(encode(substring(text, frame_id * 16 + 1, 16))) > 0
        |ORDER BY doc_id, frame_id""".stripMargin,

    // block-level exact dedup by (type, md5, length) over the sampled
    // 16-byte frames: frame bytes are substrings of encode(text), so
    // md5 on the VARCHAR substring hashes the same bytes (the
    // mm_frames convention)
    "mm_dup_blocks" ->
      """WITH fr AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END
        |      AS media_type,
        |    substring(text, frame_id * 16 + 1, 16) AS frame
        |  FROM documents
        |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS frame_id) f
        |  WHERE octet_length(encode(substring(text, frame_id * 16 + 1, 16)))
        |        > 0),
        |m AS (SELECT doc_id, media_type, md5(frame) AS content_md5,
        |        CAST(octet_length(encode(frame)) AS BIGINT) AS n_bytes
        |      FROM fr)
        |SELECT media_type, content_md5, n_bytes,
        |  CAST(min(doc_id) AS BIGINT) AS canonical_id,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST((count(*) - 1) * n_bytes AS BIGINT) AS reclaim_bytes
        |FROM m GROUP BY 1, 2, 3 HAVING count(*) >= 2
        |ORDER BY media_type, canonical_id, content_md5""".stripMargin,

    // near-dup media: 64-bit simhash = four independently-salted
    // 16-bit blocks (salt '#k' on every shingle — matches the
    // engine's four salted graft_simhash calls bit-for-bit), over
    // 4-char shingles of the four sampled 16-byte frames (frame
    // bytes are substrings of encode(text), so VARCHAR substrings
    // hash the same bytes — the mm_frames convention), banded
    // 4 x 16 bits within a media type (pigeonhole: hamming <= 3
    // pairs share a band), hamming-verified
    "mm_near_blocks" -> {
      val hexSet = "('8','9','a','b','c','d','e','f')"
      val sums = (for (k <- 0 to 3; i <- 1 to 16) yield
        s"CAST(sum(CASE WHEN substr(md5(tok || '#$k'), $i, 1) IN $hexSet THEN 1 ELSE -1 END) AS BIGINT) AS b${k}_$i")
        .mkString(", ")
      val bits = (for (k <- 0 to 3; i <- 1 to 16) yield
        s"CASE WHEN b${k}_$i > 0 THEN '1' ELSE '0' END").mkString(" || ")
      s"""WITH fr AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END
         |      AS media_type,
         |    substring(text, frame_id * 16 + 1, 16) AS frame
         |  FROM documents
         |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS frame_id) f
         |  WHERE length(substring(text, frame_id * 16 + 1, 16)) >= 4),
         |gr AS (SELECT doc_id, media_type, substring(frame, p, 4) AS tok
         |       FROM fr CROSS JOIN (SELECT unnest(range(1, 14)) AS p) pp
         |       WHERE p <= length(frame) - 3),
         |shagg AS (SELECT doc_id, media_type, $sums FROM gr GROUP BY 1, 2),
         |sim AS (SELECT doc_id, media_type, $bits AS simhash64 FROM shagg),
         |bd AS (SELECT doc_id, media_type, simhash64, band,
         |         substr(simhash64, band * 16 + 1, 16) AS bits
         |       FROM sim
         |       CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bb),
         |pairs AS (
         |  SELECT DISTINCT a.media_type, a.doc_id AS id1, b.doc_id AS id2,
         |         a.simhash64 AS sh1, b.simhash64 AS sh2
         |  FROM bd a JOIN bd b
         |    ON a.media_type = b.media_type AND a.band = b.band
         |   AND a.bits = b.bits AND a.doc_id < b.doc_id),
         |ham AS (SELECT media_type, id1, id2,
         |          ${hammingSql("sh1", "sh2", 64)} AS hamming
         |        FROM pairs)
         |SELECT media_type, id1, id2, hamming FROM ham WHERE hamming <= 3
         |ORDER BY media_type, id1, id2""".stripMargin
    },

    // the truncation audit: same signature + banding chain, one
    // GROUP BY per (type, band, bits) bucket, kept past the demo cap
    "mm_near_trunc" -> {
      val hexSet = "('8','9','a','b','c','d','e','f')"
      val sums = (for (k <- 0 to 3; i <- 1 to 16) yield
        s"CAST(sum(CASE WHEN substr(md5(tok || '#$k'), $i, 1) IN $hexSet THEN 1 ELSE -1 END) AS BIGINT) AS b${k}_$i")
        .mkString(", ")
      val bits = (for (k <- 0 to 3; i <- 1 to 16) yield
        s"CASE WHEN b${k}_$i > 0 THEN '1' ELSE '0' END").mkString(" || ")
      s"""WITH fr AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END
         |      AS media_type,
         |    substring(text, frame_id * 16 + 1, 16) AS frame
         |  FROM documents
         |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS frame_id) f
         |  WHERE length(substring(text, frame_id * 16 + 1, 16)) >= 4),
         |gr AS (SELECT doc_id, media_type, substring(frame, p, 4) AS tok
         |       FROM fr CROSS JOIN (SELECT unnest(range(1, 14)) AS p) pp
         |       WHERE p <= length(frame) - 3),
         |shagg AS (SELECT doc_id, media_type, $sums FROM gr GROUP BY 1, 2),
         |sim AS (SELECT doc_id, media_type, $bits AS simhash64 FROM shagg),
         |bd AS (SELECT doc_id, media_type, band,
         |         substr(simhash64, band * 16 + 1, 16) AS bits
         |       FROM sim
         |       CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bb)
         |SELECT media_type, CAST(band AS INT) AS band, bits,
         |  CAST(count(*) AS BIGINT) AS bucket_size
         |FROM bd GROUP BY 1, 2, 3 HAVING count(*) > 2
         |ORDER BY media_type, band, bits""".stripMargin
    },

    // the PRF A/B eval under frequency-graded qrels (grade = total
    // query-term occurrences, capped at the gain cap 9, >= 2 distinct
    // terms — the non-saturating judgment), BOTH treatments in one
    // independent CTE chain: the shared before-side bm25 + qrels
    // compute once; the UN-ANCHORED after-side re-ranks with the
    // widened flat vocabulary (qt2), the RM3 after-side re-ranks
    // WEIGHTED — original terms at λ·P(t|q) ppm, expansion at
    // (1−λ)·P(t|R) ppm, the score an exact decimal(18,4)×
    // decimal(7,0) product summed then floated once (the Scala
    // kernel's recipe, independently redone); the two term sets are
    // IDENTICAL (weights differ), so tf2/dfr2 are shared too
    "ret_expand_ab_eval" ->
      s"""WITH $TOKS, $Bm25Sql,
         |pool AS (SELECT qid, doc_id FROM bm25r WHERE rnk <= 10),
         |ptok AS (SELECT p.qid, t.doc_id, unnest(t.t) AS term
         |         FROM toks t JOIN pool p USING (doc_id)),
         |plen AS (SELECT qid, count(*) AS pool_len FROM ptok GROUP BY 1),
         |cand AS (SELECT qid, term, count(*) AS pool_tf,
         |           count(DISTINCT doc_id) AS pool_df
         |         FROM ptok GROUP BY 1, 2
         |         HAVING count(DISTINCT doc_id) >= 2),
         |fil AS (SELECT c.* FROM cand c
         |        WHERE NOT EXISTS (SELECT 1 FROM qt
         |          WHERE qt.qid = c.qid AND qt.term = c.term)),
         |wt AS (SELECT f.qid, f.term,
         |         f.pool_tf * 1000000 // p.pool_len AS weight_ppm
         |       FROM fil f JOIN plen p USING (qid)),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY qid
         |         ORDER BY weight_ppm DESC, term) AS rnk FROM wt),
         |qt2 AS MATERIALIZED (SELECT qid, term FROM qt
         |       UNION ALL SELECT qid, term FROM rk WHERE rnk <= 5),
         |qlen AS (SELECT qid, count(*) AS q_len FROM qt GROUP BY 1),
         |worig AS (SELECT qt.qid, qt.term,
         |           600000 * (count(*) * 1000000 // l.q_len) // 1000000
         |             AS weight_ppm
         |         FROM qt JOIN qlen l USING (qid)
         |         GROUP BY qt.qid, qt.term, l.q_len),
         |qt2w AS MATERIALIZED (
         |  SELECT qid, term, weight_ppm FROM worig
         |  UNION ALL
         |  SELECT qid, term, (400000 * weight_ppm) // 1000000
         |  FROM rk WHERE rnk <= 5),
         |tf2 AS (SELECT doc_id, dl, term, count(*) AS tf FROM dtok
         |        WHERE term IN (SELECT term FROM qt2) GROUP BY 1, 2, 3),
         |dfr2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY 1),
         |sc2u AS (SELECT qt2.qid, tf2.doc_id,
         |         round(((CAST(n_docs - df AS DOUBLE) + 0.5) /
         |                (CAST(df AS DOUBLE) + 0.5)) *
         |               ((CAST(tf AS DOUBLE) * 2.25) /
         |                (CAST(tf AS DOUBLE) + 1.25 *
         |                 (0.25 + 0.75 * (CAST(dl AS DOUBLE) /
         |                   (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))),
         |           4) AS w
         |       FROM tf2 JOIN qt2 USING (term) JOIN dfr2 USING (term), st),
         |ag2u AS (SELECT qid, doc_id,
         |         round(CAST(sum(CAST(w AS DECIMAL(18,4))) AS DOUBLE), 4)
         |           AS score
         |       FROM sc2u GROUP BY 1, 2),
         |bm25r2u AS (SELECT qid, doc_id, row_number() OVER (
         |         PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
         |       FROM ag2u),
         |sc2w AS (SELECT qt2w.qid, tf2.doc_id, qt2w.weight_ppm,
         |         round(((CAST(n_docs - df AS DOUBLE) + 0.5) /
         |                (CAST(df AS DOUBLE) + 0.5)) *
         |               ((CAST(tf AS DOUBLE) * 2.25) /
         |                (CAST(tf AS DOUBLE) + 1.25 *
         |                 (0.25 + 0.75 * (CAST(dl AS DOUBLE) /
         |                   (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))),
         |           4) AS w
         |       FROM tf2 JOIN qt2w USING (term) JOIN dfr2 USING (term), st),
         |ag2w AS (SELECT qid, doc_id,
         |         round(CAST(sum(CAST(w AS DECIMAL(18,4)) *
         |             CAST(weight_ppm AS DECIMAL(7,0))) AS DOUBLE)
         |           / 1000000.0, 4) AS score
         |       FROM sc2w GROUP BY 1, 2),
         |bm25r2w AS (SELECT qid, doc_id, row_number() OVER (
         |         PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
         |       FROM ag2w),
         |dtall AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |qrel AS MATERIALIZED (
         |  SELECT qt.qid, dtall.doc_id,
         |    least(CAST(count(*) AS BIGINT), CAST(9 AS BIGINT)) AS grade
         |  FROM dtall JOIN qt USING (term)
         |  GROUP BY 1, 2 HAVING count(DISTINCT term) >= 2),
         |disc(rnk, d) AS (VALUES (1, 1000000), (2, 630929),
         |  (3, 500000), (4, 430676), (5, 386852), (6, 356207),
         |  (7, 333333), (8, 315464), (9, 301029), (10, 289064)),
         |idcg AS (SELECT ir.qid,
         |           CAST(sum(((CAST(1 AS BIGINT) <<
         |             CAST(least(ir.grade, 9) AS INTEGER)) - 1) * d.d)
         |             AS BIGINT) AS idcg_ppm
         |         FROM (SELECT qid, grade, row_number() OVER (
         |                 PARTITION BY qid ORDER BY grade DESC, doc_id)
         |                 AS rnk FROM qrel) ir
         |         JOIN disc d USING (rnk)
         |         WHERE ir.rnk <= 10 GROUP BY 1),
         |dcg1 AS (SELECT r.qid,
         |           CAST(sum(((CAST(1 AS BIGINT) <<
         |             CAST(least(q.grade, 9) AS INTEGER)) - 1) * d.d)
         |             AS BIGINT) AS dcg_ppm
         |         FROM (SELECT qid, rnk, doc_id FROM bm25r
         |               WHERE rnk <= 10) r
         |         JOIN qrel q USING (qid, doc_id)
         |         JOIN disc d USING (rnk) GROUP BY 1),
         |dcg2u AS (SELECT r.qid,
         |           CAST(sum(((CAST(1 AS BIGINT) <<
         |             CAST(least(q.grade, 9) AS INTEGER)) - 1) * d.d)
         |             AS BIGINT) AS dcg_ppm
         |         FROM (SELECT qid, rnk, doc_id FROM bm25r2u
         |               WHERE rnk <= 10) r
         |         JOIN qrel q USING (qid, doc_id)
         |         JOIN disc d USING (rnk) GROUP BY 1),
         |dcg2w AS (SELECT r.qid,
         |           CAST(sum(((CAST(1 AS BIGINT) <<
         |             CAST(least(q.grade, 9) AS INTEGER)) - 1) * d.d)
         |             AS BIGINT) AS dcg_ppm
         |         FROM (SELECT qid, rnk, doc_id FROM bm25r2w
         |               WHERE rnk <= 10) r
         |         JOIN qrel q USING (qid, doc_id)
         |         JOIN disc d USING (rnk) GROUP BY 1),
         |qids AS (SELECT DISTINCT qid FROM bm25r WHERE rnk <= 10)
         |SELECT qid, ndcg_before_ppm, ndcg_unanchored_ppm, ndcg_rm3_ppm,
         |  CAST(ndcg_unanchored_ppm - ndcg_before_ppm AS BIGINT)
         |    AS delta_unanchored_ppm,
         |  CAST(ndcg_rm3_ppm - ndcg_before_ppm AS BIGINT) AS delta_rm3_ppm
         |FROM (
         |  SELECT CAST(q.qid AS BIGINT) AS qid,
         |    CAST(CASE WHEN coalesce(i.idcg_ppm, 0) = 0 THEN 0
         |         ELSE coalesce(d1.dcg_ppm, 0) * 1000000 // i.idcg_ppm
         |         END AS BIGINT) AS ndcg_before_ppm,
         |    CAST(CASE WHEN coalesce(i.idcg_ppm, 0) = 0 THEN 0
         |         ELSE coalesce(du.dcg_ppm, 0) * 1000000 // i.idcg_ppm
         |         END AS BIGINT) AS ndcg_unanchored_ppm,
         |    CAST(CASE WHEN coalesce(i.idcg_ppm, 0) = 0 THEN 0
         |         ELSE coalesce(dw.dcg_ppm, 0) * 1000000 // i.idcg_ppm
         |         END AS BIGINT) AS ndcg_rm3_ppm
         |  FROM qids q LEFT JOIN dcg1 d1 USING (qid)
         |    LEFT JOIN dcg2u du USING (qid)
         |    LEFT JOIN dcg2w dw USING (qid)
         |    LEFT JOIN idcg i USING (qid)) t
         |ORDER BY qid""".stripMargin,
    // Bloom pruning is result-transparent: the oracle is the plain
    // semi-join the pruned plan must reproduce exactly
    "join_bloom_prune" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE EXISTS (SELECT 1 FROM customer
        |              WHERE c_custkey = o_custkey AND c_acctbal > 9000)
        |ORDER BY o_orderkey""".stripMargin,

    "layout_zvalue" -> {
      // bit-interleave of (x on even, y on odd positions), 8 bits each
      val terms = (0 until 8).map(i =>
        s"(((xm >> $i) & 1) << ${2 * i}) | (((ym >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH $POS,
         |m AS (SELECT event_id,
         |  CAST(coalesce(x, 0) AS BIGINT) & 255 AS xm,
         |  CAST(coalesce(y, 0) AS BIGINT) & 255 AS ym FROM pos)
         |SELECT event_id, $terms AS z FROM m ORDER BY event_id""".stripMargin
    },

    // ---- int8 quantization ----
    "emb_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings),
        |qx AS (
        |  SELECT vec_id, embedding, scale,
        |    list_transform(embedding, x -> CAST(
        |      CASE WHEN scale = 0 THEN 0
        |           ELSE greatest(-127.0, least(127.0,
        |                  round(CAST(x AS DOUBLE) / scale, 0))) END
        |      AS INT)) AS qvec
        |  FROM s),
        |er AS (
        |  SELECT vec_id,
        |    sum(CAST(abs(CAST(x AS DOUBLE) - q * scale)
        |        AS DECIMAL(28,18))) AS errs,
        |    count(*) AS n,
        |    CAST(sum(CAST(q AS BIGINT) * q) AS BIGINT) AS q_norm2
        |  FROM (SELECT vec_id, scale, unnest(embedding) AS x,
        |               unnest(qvec) AS q FROM qx)
        |  GROUP BY vec_id)
        |SELECT q.vec_id,
        |  md5(array_to_string(qvec, ',')) AS qvec_md5,
        |  round(q.scale, 8) AS scale8, e.q_norm2,
        |  round(CAST(e.errs AS DOUBLE) / e.n, 8) AS mae8
        |FROM qx q JOIN er e USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    // integer dot products in double are EXACT (|q| <= 127, dim 64),
    // so no decimal accumulation is needed anywhere here
    "knn_quantized" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings),
        |q8 AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(
        |      CASE WHEN scale = 0 THEN 0
        |           ELSE greatest(-127.0, least(127.0,
        |                  round(CAST(x AS DOUBLE) / scale, 0))) END
        |      AS DOUBLE)) AS qv
        |  FROM s),
        |qq AS (SELECT vec_id AS qid, qv AS qqv FROM q8 WHERE vec_id < 5),
        |sc AS (
        |  SELECT qid, e.vec_id,
        |    round(list_dot_product(qqv, e.qv) /
        |      (sqrt(list_dot_product(qqv, qqv)) *
        |       sqrt(list_dot_product(e.qv, e.qv))), 4) AS qcos
        |  FROM q8 e CROSS JOIN qq WHERE e.vec_id <> qid),
        |r AS (SELECT qid, vec_id, qcos,
        |        row_number() OVER (PARTITION BY qid
        |          ORDER BY qcos DESC, vec_id) AS rnk
        |      FROM sc)
        |SELECT qid, rnk, vec_id, qcos FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin,

    // salting is result-transparent: the oracle is the PLAIN join —
    // that equality is the operator's contract
    "join_salted" ->
      """SELECT o_orderpriority,
        |  count(*) AS n_lines,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                 CAST(1.0 - l_discount AS DECIMAL(18,4)))
        |        AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "qc_expectations" -> {
      val rules = Seq(
        "quantity_in_1_50" -> "l_quantity >= 1 AND l_quantity <= 50",
        "discount_in_0_10pct" -> "l_discount >= 0.0 AND l_discount <= 0.10",
        "tax_in_0_8pct" -> "l_tax >= 0.0 AND l_tax <= 0.08",
        "price_positive" -> "l_extendedprice > 0.0",
        "returnflag_domain" -> "l_returnflag IN ('A', 'N', 'R')",
        "linestatus_domain" -> "l_linestatus IN ('O', 'F')",
        "shipdate_not_null" -> "l_shipdate IS NOT NULL",
        "orderkey_positive" -> "l_orderkey > 0")
      val vcols = rules.zipWithIndex.map { case ((_, pred), i) =>
        s"CAST(sum(CASE WHEN NOT coalesce($pred, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v$i"
      }.mkString(",\n        |    ")
      val rows = rules.zipWithIndex.map { case ((name, _), i) =>
        s"SELECT '$name' AS rule, v$i AS violations, total FROM t"
      } :+ "SELECT 'pk_unique' AS rule, total - uniq AS violations, total FROM t"
      s"""WITH t AS (
        |  SELECT count(*) AS total,
        |    $vcols,
        |    count(DISTINCT l_orderkey * 10 + l_linenumber) AS uniq
        |  FROM lineitem),
        |u AS (${rows.mkString("\n        |      UNION ALL ")})
        |SELECT rule, violations, total,
        |  round(1.0 - CAST(violations AS DOUBLE) / total, 6) AS pass_rate
        |FROM u ORDER BY rule""".stripMargin
    },

    "knn_mrl" ->
      s"""WITH p AS (SELECT vec_id, list_slice(embedding, 1, 16) AS pv
         |           FROM embeddings),
         |q AS (SELECT vec_id AS qid, pv AS qq FROM p WHERE vec_id < 5),
         |s AS (
         |  SELECT qid, p.vec_id, ${cosSql("qq", "p.pv")} AS pcos
         |  FROM p CROSS JOIN q WHERE p.vec_id <> qid),
         |r AS (SELECT qid, vec_id, pcos,
         |        row_number() OVER (PARTITION BY qid
         |          ORDER BY pcos DESC, vec_id) AS rnk
         |      FROM s)
         |SELECT qid, rnk, vec_id, pcos FROM r WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin,

    // the funnel is deterministic per stage: prefix pool of 50, then a
    // full-width re-rank of only the pool
    "knn_funnel" ->
      s"""WITH p AS (SELECT vec_id, embedding,
         |             list_slice(embedding, 1, 16) AS pv
         |           FROM embeddings),
         |q AS (SELECT vec_id AS qid, pv AS qq, embedding AS qvec
         |      FROM p WHERE vec_id < 5),
         |s1 AS (
         |  SELECT qid, p.vec_id, ${cosSql("qq", "p.pv")} AS pcos
         |  FROM p CROSS JOIN q WHERE p.vec_id <> qid),
         |pool AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY pcos DESC, vec_id) AS prnk FROM s1)
         |  WHERE prnk <= 50),
         |s2 AS (
         |  SELECT pool.qid, pool.vec_id,
         |    ${cosSql("q.qvec", "e.embedding")} AS cos_sim
         |  FROM pool
         |  JOIN embeddings e ON e.vec_id = pool.vec_id
         |  JOIN q ON q.qid = pool.qid),
         |r AS (SELECT qid, vec_id, cos_sim,
         |        row_number() OVER (PARTITION BY qid
         |          ORDER BY cos_sim DESC, vec_id) AS rnk
         |      FROM s2)
         |SELECT qid, rnk, vec_id, cos_sim FROM r WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin,

    // IVFSQ8: full-precision cell assignment, int8 in-cell scoring
    "knn_ivf_sq8" ->
      s"""WITH s AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
         |  FROM embeddings),
         |q8 AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(
         |      CASE WHEN scale = 0 THEN 0
         |           ELSE greatest(-127.0, least(127.0,
         |                  round(CAST(x AS DOUBLE) / scale, 0))) END
         |      AS DOUBLE)) AS qv
         |  FROM s),
         |c AS (SELECT vec_id AS centroid_id, embedding AS cvec
         |      FROM embeddings WHERE vec_id < 16),
         |sc AS (
         |  SELECT e.vec_id, centroid_id,
         |    ${cosSql("e.embedding", "cvec")} AS cos_sim
         |  FROM embeddings e CROSS JOIN c),
         |a AS (SELECT vec_id, centroid_id FROM (
         |    SELECT vec_id, centroid_id, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY cos_sim DESC, centroid_id)
         |      AS rn FROM sc)
         |  WHERE rn = 1),
         |aq AS (SELECT a.vec_id, a.centroid_id, q8.qv
         |       FROM a JOIN q8 USING (vec_id)),
         |q AS (SELECT vec_id AS qid, centroid_id AS qcell, qv AS qq
         |      FROM aq WHERE vec_id < 5),
         |s2 AS (
         |  SELECT qid, aq.vec_id,
         |    round(list_dot_product(qq, aq.qv) /
         |      (sqrt(list_dot_product(qq, qq)) *
         |       sqrt(list_dot_product(aq.qv, aq.qv))), 4) AS qcos
         |  FROM aq JOIN q ON aq.centroid_id = qcell
         |              AND aq.vec_id <> qid),
         |r AS (SELECT qid, vec_id, qcos, row_number() OVER (
         |        PARTITION BY qid ORDER BY qcos DESC, vec_id) AS rnk
         |      FROM s2)
         |SELECT qid, rnk, vec_id, qcos FROM r WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin,

    // chunk counts come from the same closed form the doc_chunks
    // oracle uses — no need to materialize chunks to audit them
    "doc_forget" ->
      s"""WITH $TOKS,
         |cc AS (SELECT doc_id,
         |         greatest(1, (len(t) - 16 + 47) // 48) AS nc FROM toks),
         |u AS (
         |  SELECT 'chunks' AS artifact,
         |    CAST(sum(nc) AS BIGINT) AS rows_before,
         |    CAST(sum(CASE WHEN doc_id % 97 = 0 THEN nc ELSE 0 END)
         |         AS BIGINT) AS rows_removed
         |  FROM cc
         |  UNION ALL
         |  SELECT 'documents',
         |    count(*),
         |    CAST(sum(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END)
         |         AS BIGINT)
         |  FROM documents
         |  UNION ALL
         |  SELECT 'embeddings',
         |    count(*),
         |    CAST(sum(CASE WHEN vec_id % 97 = 0 THEN 1 ELSE 0 END)
         |         AS BIGINT)
         |  FROM embeddings)
         |SELECT artifact, rows_before, rows_removed,
         |  rows_before - rows_removed AS rows_after
         |FROM u ORDER BY artifact""".stripMargin,

    "basket_rules" ->
      """WITH base AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
        |sized AS (
        |  SELECT bk, it FROM (
        |    SELECT *, count(*) OVER (PARTITION BY bk) AS bs FROM base)
        |  WHERE bs <= 64),
        |p AS (SELECT a.it AS item1, b.it AS item2, count(*) AS pair_n
        |      FROM sized a JOIN sized b ON a.bk = b.bk AND a.it < b.it
        |      GROUP BY 1, 2),
        |m AS (SELECT it, count(*) AS n FROM sized GROUP BY 1),
        |t AS (SELECT count(DISTINCT bk) AS baskets FROM sized)
        |SELECT item1, item2, pair_n, m1.n AS n1, m2.n AS n2,
        |  round(CAST(pair_n AS DOUBLE) / baskets, 8) AS support8,
        |  round(CAST(pair_n AS DOUBLE) / m1.n, 8) AS conf8,
        |  round(CAST(pair_n AS DOUBLE) * baskets / (m1.n * m2.n), 8)
        |    AS lift8
        |FROM p JOIN m m1 ON p.item1 = m1.it
        |       JOIN m m2 ON p.item2 = m2.it, t
        |ORDER BY pair_n DESC, item1, item2 LIMIT 20""".stripMargin,

    // ordered-wedge triangle census over the sorted-neighborhood
    // candidate graph; every triangle found exactly once (a<b<c)
    "graph_triangles" ->
      """WITH w AS (
        |  SELECT c_custkey,
        |    lead(c_custkey, 1) OVER win AS l1,
        |    lead(c_custkey, 2) OVER win AS l2
        |  FROM customer
        |  WINDOW win AS (PARTITION BY c_nationkey
        |                 ORDER BY c_acctbal, c_custkey)),
        |pr AS (
        |  SELECT c_custkey AS id1, l1 AS id2 FROM w WHERE l1 IS NOT NULL
        |  UNION ALL
        |  SELECT c_custkey, l2 FROM w WHERE l2 IS NOT NULL),
        |e AS (SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
        |      FROM pr WHERE id1 <> id2),
        |nn AS (SELECT count(DISTINCT v) AS n_nodes FROM
        |        (SELECT a AS v FROM e UNION ALL SELECT b FROM e)),
        |ec AS (SELECT count(*) AS n_edges FROM e),
        |deg AS (SELECT v, count(*) AS deg FROM
        |         (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
        |        GROUP BY v),
        |wg AS (SELECT e1.a AS wa, e1.b AS wb, e2.b AS wc
        |       FROM e e1 JOIN e e2 ON e1.b = e2.a),
        |wcnt AS (SELECT CAST(coalesce(sum(deg * (deg - 1) // 2), 0)
        |                AS BIGINT) AS n_wedges FROM deg),
        |tc AS (SELECT count(*) AS n_triangles
        |       FROM wg JOIN e e3 ON wg.wa = e3.a AND wg.wc = e3.b)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  round(CASE WHEN n_wedges = 0 THEN 0.0
        |        ELSE 3 * CAST(n_triangles AS DOUBLE) / n_wedges END, 8)
        |    AS closure8
        |FROM nn, ec, wcnt, tc""".stripMargin,

    // per-corner triangle credit over the same neighbor graph; the
    // oracle enumerates id-ordered wedges (affordable at gate scale —
    // the engine's degree-ordering is an execution concern, the
    // triangle SET is identical)
    "graph_lcc" ->
      """WITH w AS (
        |  SELECT c_custkey,
        |    lead(c_custkey, 1) OVER win AS l1,
        |    lead(c_custkey, 2) OVER win AS l2
        |  FROM customer
        |  WINDOW win AS (PARTITION BY c_nationkey
        |                 ORDER BY c_acctbal, c_custkey)),
        |pr AS (
        |  SELECT c_custkey AS id1, l1 AS id2 FROM w WHERE l1 IS NOT NULL
        |  UNION ALL
        |  SELECT c_custkey, l2 FROM w WHERE l2 IS NOT NULL),
        |e AS (SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
        |      FROM pr WHERE id1 <> id2),
        |deg AS (SELECT v, count(*) AS deg FROM
        |         (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
        |        GROUP BY v),
        |wg AS (SELECT e1.a AS wa, e1.b AS wb, e2.b AS wc
        |       FROM e e1 JOIN e e2 ON e1.b = e2.a),
        |tris AS (SELECT wg.wa AS x, wg.wb AS y, wg.wc AS z
        |         FROM wg JOIN e e3 ON wg.wa = e3.a AND wg.wc = e3.b),
        |tn AS (SELECT x AS v FROM tris UNION ALL
        |       SELECT y FROM tris UNION ALL SELECT z FROM tris),
        |tcnt AS (SELECT v, count(*) AS n_tri FROM tn GROUP BY v)
        |SELECT d.v AS doc_id,
        |  CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
        |  CAST(d.deg * (d.deg - 1) // 2 AS BIGINT) AS n_wedges,
        |  round(CASE WHEN d.deg < 2 THEN 0.0
        |        ELSE CAST(coalesce(t.n_tri, 0) AS DOUBLE) /
        |             (d.deg * (d.deg - 1) // 2) END, 8) AS lcc8
        |FROM deg d LEFT JOIN tcnt t ON t.v = d.v
        |ORDER BY doc_id""".stripMargin,

    // from-scratch per-node census on the survivor graph
    // (prior − %13 slice) ∪ (node-preserving %101 adds), over the
    // PRIOR graph's node universe — the triangles fold's equality
    // contract (stranded nodes zero-filled by the left join)
    "graph_triangles_fold" ->
      """WITH w AS (
        |  SELECT c_custkey,
        |    lead(c_custkey, 1) OVER win AS l1,
        |    lead(c_custkey, 2) OVER win AS l2
        |  FROM customer
        |  WINDOW win AS (PARTITION BY c_nationkey
        |                 ORDER BY c_acctbal, c_custkey)),
        |pr AS (
        |  SELECT c_custkey AS id1, l1 AS id2 FROM w WHERE l1 IS NOT NULL
        |  UNION ALL
        |  SELECT c_custkey, l2 FROM w WHERE l2 IS NOT NULL),
        |e AS (SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
        |      FROM pr WHERE id1 <> id2),
        |prior AS (SELECT a, b FROM e WHERE (a + b) % 101 <> 0),
        |pnodes AS (SELECT DISTINCT v FROM
        |            (SELECT a AS v FROM prior UNION ALL SELECT b FROM prior)),
        |adds AS (SELECT a, b FROM e WHERE (a + b) % 101 = 0
        |           AND a IN (SELECT v FROM pnodes)
        |           AND b IN (SELECT v FROM pnodes)),
        |surv AS (SELECT a, b FROM prior WHERE (a + b) % 13 <> 0
        |         UNION SELECT a, b FROM adds),
        |wg AS (SELECT e1.a AS wa, e1.b AS wb, e2.b AS wc
        |       FROM surv e1 JOIN surv e2 ON e1.b = e2.a),
        |tris AS (SELECT wg.wa AS x, wg.wb AS y, wg.wc AS z
        |         FROM wg JOIN surv e3 ON wg.wa = e3.a AND wg.wc = e3.b),
        |tn AS (SELECT x AS v FROM tris UNION ALL
        |       SELECT y FROM tris UNION ALL SELECT z FROM tris),
        |tcnt AS (SELECT v, count(*) AS n_tri FROM tn GROUP BY v)
        |SELECT p.v AS doc_id, CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri
        |FROM pnodes p LEFT JOIN tcnt t ON t.v = p.v
        |ORDER BY doc_id""".stripMargin,

    // triangular-discrimination drift: rational arithmetic only, so
    // per-bin contributions are bit-identical across engines
    // exact KS: per-value counts, window cumsums, integer numerator
    // max |ca*m - cb*n|; the division happens once, at the read edge
    "qc_ks_drift" ->
      """WITH t AS (
        |  SELECT o_totalprice AS v, o_orderkey % 2 = 0 AS ia FROM orders
        |  WHERE o_totalprice IS NOT NULL),
        |g AS (SELECT v,
        |        CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |        CAST(sum(CASE WHEN ia THEN 0 ELSE 1 END) AS BIGINT) AS nb
        |      FROM t GROUP BY v),
        |c AS (SELECT sum(na) OVER (ORDER BY v) AS ca,
        |             sum(nb) OVER (ORDER BY v) AS cb
        |      FROM g),
        |st AS (SELECT
        |         CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN ia THEN 0 ELSE 1 END) AS BIGINT) AS m
        |       FROM t)
        |SELECT n, m,
        |  CAST(max(abs(ca * m - cb * n)) AS BIGINT) AS d_num,
        |  round(CAST(max(abs(ca * m - cb * n)) AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * m), 6) AS ks6
        |FROM c, st GROUP BY n, m""".stripMargin,

    // Benford first-digit audit: first digit via the decimal
    // rendering of integer cents (exact for DECIMAL(p,2)); expected
    // ppm are FROZEN floor(1e6·log10(1+1/d)) constants — no runtime
    // libm log on either engine
    "qc_benford" ->
      """WITH c AS (
        |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_totalprice > 0),
        |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
        |        AS digit FROM c WHERE cents > 0),
        |e(digit, exp_ppm) AS (VALUES
        |  (1, 301029), (2, 176091), (3, 124938), (4, 96910), (5, 79181),
        |  (6, 66946), (7, 57991), (8, 51152), (9, 45757)),
        |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS tot FROM o)
        |SELECT CAST(e.digit AS BIGINT) AS digit,
        |  coalesce(o.n, 0) AS n,
        |  CAST(CASE WHEN tot = 0 THEN 0
        |       ELSE coalesce(o.n, 0) * 1000000 // tot END AS BIGINT)
        |    AS obs_ppm,
        |  CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
        |  CAST(abs(CASE WHEN tot = 0 THEN 0
        |       ELSE coalesce(o.n, 0) * 1000000 // tot END - e.exp_ppm)
        |    AS BIGINT) AS dev_ppm
        |FROM e LEFT JOIN o USING (digit), t
        |ORDER BY digit""".stripMargin,

    // class balance per source: majority tie breaks to the
    // lexicographically larger label (= Spark's max(struct(n,label)));
    // gini as ONE floor division (n²−Σnᵢ²)·10⁶ // n², not 10⁶−floor
    "qc_class_balance" ->
      """WITH c AS (SELECT source AS segment, lang AS label,
        |            count(*) AS n
        |          FROM documents GROUP BY 1, 2),
        |mj AS (SELECT segment, label AS majority_label, n AS maj_n
        |       FROM (SELECT *, row_number() OVER (PARTITION BY segment
        |               ORDER BY n DESC, label DESC) AS r FROM c)
        |       WHERE r = 1),
        |ag AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_classes,
        |         CAST(sum(n) AS BIGINT) AS n_rows,
        |         sum(CAST(n AS HUGEINT) * n) AS sum_sq
        |       FROM c GROUP BY 1)
        |SELECT a.segment, a.n_rows, a.n_classes, m.majority_label,
        |  CAST(m.maj_n * 1000000 // a.n_rows AS BIGINT) AS majority_ppm,
        |  CAST((CAST(a.n_rows AS HUGEINT) * a.n_rows - sum_sq) * 1000000
        |       // (CAST(a.n_rows AS HUGEINT) * a.n_rows) AS BIGINT)
        |    AS gini_ppm
        |FROM ag a JOIN mj m USING (segment)
        |ORDER BY segment""".stripMargin,

    // chi-square association: (O−E)²/E per cell with the division
    // deferred — contrib = (O·N − n_f·n_l)²·10⁶ // (N·n_f·n_l), all
    // int128 (HUGEINT) until the final BIGINT cast
    "qc_label_assoc" ->
      """WITH c AS (SELECT source AS feature, lang AS label,
        |            CAST(count(*) AS BIGINT) AS n_obs
        |          FROM documents GROUP BY 1, 2),
        |f AS (SELECT feature, CAST(sum(n_obs) AS BIGINT) AS n_f
        |      FROM c GROUP BY 1),
        |l AS (SELECT label, CAST(sum(n_obs) AS BIGINT) AS n_l
        |      FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_tot FROM c)
        |SELECT f.feature, l.label,
        |  CAST(coalesce(c.n_obs, 0) AS BIGINT) AS n_obs, f.n_f, l.n_l,
        |  CAST(CAST(f.n_f AS HUGEINT) * l.n_l * 1000000 // t.n_tot
        |    AS BIGINT) AS e_ppm,
        |  CAST(CAST(coalesce(c.n_obs, 0) * t.n_tot - f.n_f * l.n_l
        |         AS HUGEINT)
        |       * (coalesce(c.n_obs, 0) * t.n_tot - f.n_f * l.n_l)
        |       * 1000000
        |       // (CAST(t.n_tot AS HUGEINT) * f.n_f * l.n_l)
        |    AS BIGINT) AS contrib_ppm
        |FROM f CROSS JOIN l
        |  LEFT JOIN c ON c.feature = f.feature AND c.label = l.label, t
        |ORDER BY f.feature, l.label""".stripMargin,

    "qc_drift" ->
      """WITH r AS (
        |  SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |         count(*) AS ref_n
        |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
        |c AS (
        |  SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |         count(*) AS cur_n
        |  FROM orders WHERE o_orderkey % 2 <> 0 GROUP BY 1),
        |j AS (
        |  SELECT coalesce(r.bin, c.bin) AS bin,
        |         CAST(coalesce(ref_n, 0) AS BIGINT) AS ref_n,
        |         CAST(coalesce(cur_n, 0) AS BIGINT) AS cur_n
        |  FROM r FULL OUTER JOIN c ON r.bin = c.bin),
        |t AS (SELECT CAST(sum(ref_n) AS BIGINT) AS rt,
        |             CAST(sum(cur_n) AS BIGINT) AS ct FROM j)
        |SELECT bin, ref_n, cur_n,
        |  round(CASE
        |    WHEN CAST(ref_n AS DOUBLE) / rt + CAST(cur_n AS DOUBLE) / ct = 0
        |      THEN 0.0
        |    ELSE (CAST(ref_n AS DOUBLE) / rt - CAST(cur_n AS DOUBLE) / ct) *
        |         (CAST(ref_n AS DOUBLE) / rt - CAST(cur_n AS DOUBLE) / ct) /
        |         (CAST(ref_n AS DOUBLE) / rt + CAST(cur_n AS DOUBLE) / ct)
        |    END, 8) AS contrib8
        |FROM j, t ORDER BY bin""".stripMargin,

    "qc_drift_seg" ->
      """WITH r AS (
        |  SELECT o_orderpriority AS seg,
        |         CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |         count(*) AS ref_n
        |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1, 2),
        |c AS (
        |  SELECT o_orderpriority AS seg,
        |         CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |         count(*) AS cur_n
        |  FROM orders WHERE o_orderkey % 2 <> 0 GROUP BY 1, 2),
        |j AS (
        |  SELECT coalesce(r.seg, c.seg) AS seg,
        |         coalesce(r.bin, c.bin) AS bin,
        |         CAST(coalesce(ref_n, 0) AS BIGINT) AS ref_n,
        |         CAST(coalesce(cur_n, 0) AS BIGINT) AS cur_n
        |  FROM r FULL OUTER JOIN c ON r.seg = c.seg AND r.bin = c.bin),
        |t AS (
        |  SELECT seg, bin, ref_n, cur_n,
        |    CAST(sum(ref_n) OVER (PARTITION BY seg) AS DOUBLE) AS rt,
        |    CAST(sum(cur_n) OVER (PARTITION BY seg) AS DOUBLE) AS ct
        |  FROM j),
        |p AS (
        |  SELECT seg, bin, ref_n, cur_n,
        |    CASE WHEN rt = 0 THEN 0.0
        |         ELSE CAST(ref_n AS DOUBLE) / rt END AS pr,
        |    CASE WHEN ct = 0 THEN 0.0
        |         ELSE CAST(cur_n AS DOUBLE) / ct END AS pc
        |  FROM t)
        |SELECT seg, bin, ref_n, cur_n,
        |  round(CASE WHEN pr + pc = 0 THEN 0.0
        |        ELSE (pr - pc) * (pr - pc) / (pr + pc) END, 8) AS contrib8
        |FROM p ORDER BY seg, bin""".stripMargin,

    "er_neighbors" ->
      s"""WITH $ErNeighborsSql
        |SELECT * FROM u WHERE id2 IS NOT NULL
        |ORDER BY c_nationkey, id1, dist""".stripMargin,

    "er_entities" ->
      s"""WITH RECURSIVE $ErNeighborsSql,
        |m AS (
        |  SELECT id1, id2 FROM u
        |  WHERE id2 IS NOT NULL AND name_dist <= 3 AND bal_gap <= 50),
        |e AS (SELECT id1 AS a, id2 AS b FROM m
        |      UNION SELECT id2, id1 FROM m),
        |reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |lbl AS (SELECT a AS node, least(a, min(b)) AS ent
        |        FROM reach GROUP BY a)
        |SELECT ent AS entity_id,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(max(node) AS BIGINT) AS max_member
        |FROM lbl GROUP BY ent ORDER BY entity_id""".stripMargin,

    // one UNION ALL branch per FK edge; orphans = non-null child keys
    // with no parent, nulls counted separately
    // per-table key-grouped aggregate; clean data must PROVE its
    // zeros (n_dup_keys = 0, max_mult = 1), not assume them
    "qc_uniqueness" -> {
      val specs = Seq(
        ("region", Seq("r_regionkey")),
        ("nation", Seq("n_nationkey")),
        ("customer", Seq("c_custkey")),
        ("supplier", Seq("s_suppkey")),
        ("part", Seq("p_partkey")),
        ("orders", Seq("o_orderkey")),
        ("lineitem", Seq("l_orderkey", "l_linenumber")),
        ("events", Seq("event_id")),
        ("documents", Seq("doc_id")),
        ("embeddings", Seq("vec_id")))
      specs.map { case (name, ks) =>
        s"""SELECT '$name' AS table_key,
           |  CAST(coalesce(sum(mult), 0) AS BIGINT) AS n_rows,
           |  count(*) AS n_keys,
           |  CAST(coalesce(sum(CASE WHEN mult > 1 THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS n_dup_keys,
           |  coalesce(max(mult), 0) AS max_mult
           |FROM (SELECT count(*) AS mult FROM $name
           |      GROUP BY ${ks.mkString(", ")}) g""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY table_key")
    },

    "qc_referential" -> {
      val edges = Seq(
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      edges.map { case (name, child, ck, parent, pk) =>
        s"""SELECT '$name' AS relationship,
           |  count(*) AS n_child,
           |  CAST((SELECT count(*) FROM $child c
           |        WHERE c.$ck IS NOT NULL AND NOT EXISTS (
           |          SELECT 1 FROM $parent p WHERE p.$pk = c.$ck))
           |    AS BIGINT) AS n_orphans,
           |  CAST(sum(CASE WHEN $ck IS NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_null_keys
           |FROM $child""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
    },

    "qc_mad_outliers" ->
      """WITH med AS (
        |  SELECT o_orderpriority AS grp,
        |    quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS med
        |  FROM orders GROUP BY 1),
        |mad AS (
        |  SELECT m.grp,
        |    quantile_cont(abs(CAST(o_totalprice AS DOUBLE) - med), 0.5) AS mad,
        |    max(med) AS med
        |  FROM orders o JOIN med m ON o.o_orderpriority = m.grp
        |  GROUP BY m.grp)
        |SELECT m.grp, CAST(count(*) AS BIGINT) AS n,
        |  round(max(med), 4) AS median4,
        |  round(max(mad), 4) AS mad4,
        |  CAST(sum(CASE WHEN abs(CAST(o_totalprice AS DOUBLE) - med)
        |                     > mad * 1.8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  round(CAST(sum(CASE WHEN abs(CAST(o_totalprice AS DOUBLE) - med)
        |                           > mad * 1.8 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS outlier_frac
        |FROM orders o JOIN mad m ON o.o_orderpriority = m.grp
        |GROUP BY m.grp ORDER BY grp""".stripMargin,

    "dedup_dup_spans" ->
      s"""WITH $DupSpansSql
        |SELECT doc_id, span_start, span_end, n_shingles,
        |  span_end - span_start + 3 AS span_tokens
        |FROM spans ORDER BY doc_id, span_start""".stripMargin,

    // span CUTTING: every covered position removed, survivors rejoin
    // in order — same island merge as doc_dup_rate, then an anti-range
    // filter on positions and an ordered string_agg
    "doc_despan" ->
      s"""WITH $DupSpansSql,
        |sp AS (SELECT doc_id, span_start AS s, span_end + 2 AS e
        |       FROM spans),
        |m AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM sp),
        |fl AS (
        |  SELECT *, CASE WHEN pme IS NULL OR s > pme
        |                 THEN 1 ELSE 0 END AS ni
        |  FROM m),
        |isl AS (
        |  SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY s
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM fl),
        |mg AS (
        |  SELECT doc_id, island, min(s) AS ms, max(e) AS me
        |  FROM isl GROUP BY 1, 2),
        |pos AS (SELECT doc_id, unnest(t) AS w,
        |          unnest(range(len(t))) AS pos
        |        FROM toks),
        |kept AS (
        |  SELECT p.doc_id, p.w, p.pos FROM pos p
        |  WHERE NOT EXISTS (SELECT 1 FROM mg
        |    WHERE mg.doc_id = p.doc_id
        |      AND mg.ms <= p.pos AND p.pos <= mg.me)),
        |ka AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(w, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY 1),
        |sz AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |       FROM documents)
        |SELECT sz.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_tokens - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(clean_text, '') AS clean_text
        |FROM sz LEFT JOIN ka ON sz.doc_id = ka.doc_id
        |ORDER BY sz.doc_id""".stripMargin,

    "doc_dup_rate" ->
      s"""WITH $DupSpansSql,
        |sp AS (SELECT doc_id, span_start AS s, span_end + 2 AS e
        |       FROM spans),
        |m AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM sp),
        |fl AS (
        |  SELECT *, CASE WHEN pme IS NULL OR s > pme
        |                 THEN 1 ELSE 0 END AS ni
        |  FROM m),
        |isl AS (
        |  SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY s
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM fl),
        |cov AS (
        |  SELECT doc_id, island, max(e) - min(s) + 1 AS covered
        |  FROM isl GROUP BY 1, 2),
        |dup AS (SELECT doc_id, sum(covered) AS dup_tokens
        |        FROM cov GROUP BY 1),
        |sz AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |       FROM documents)
        |SELECT sz.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  round(CAST(coalesce(dup_tokens, 0) AS DOUBLE) / n_tokens, 4)
        |    AS dup_frac
        |FROM sz LEFT JOIN dup ON sz.doc_id = dup.doc_id
        |ORDER BY sz.doc_id""".stripMargin,

    "ts_anomaly" ->
      s"""WITH $EV,
         |b AS (
         |  SELECT event_type, sec // 3600 * 3600 AS bucket_start,
         |         count(*) AS n
         |  FROM ev GROUP BY 1, 2),
         |w AS (
         |  SELECT event_type, bucket_start, n,
         |    count(*) OVER win AS base_cnt,
         |    sum(n) OVER win AS base_sum,
         |    sum(CAST(n AS HUGEINT) * n) OVER win AS base_sumsq
         |  FROM b
         |  WINDOW win AS (PARTITION BY event_type ORDER BY bucket_start
         |                 RANGE BETWEEN 36000 PRECEDING AND 3600 PRECEDING))
         |SELECT event_type, bucket_start, n,
         |  CAST(base_cnt AS BIGINT) AS base_cnt,
         |  CASE WHEN base_cnt > 0
         |       THEN round(CAST(base_sum AS DOUBLE) / base_cnt, 4)
         |  END AS mean4,
         |  CAST(CASE WHEN base_cnt >= 5
         |         AND CAST(base_cnt * n - base_sum AS HUGEINT)
         |             * (base_cnt * n - base_sum)
         |             > 9 * (base_cnt * base_sumsq
         |                    - CAST(base_sum AS HUGEINT) * base_sum)
         |       THEN 1 ELSE 0 END AS INT) AS is_anomaly
         |FROM w ORDER BY event_type, bucket_start""".stripMargin,

    "dedup_containment" ->
      s"""WITH $TOKS, $ShinglesSql,
         |ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
         |  FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT id1, id2, CAST(n_common AS BIGINT) AS n_common,
         |  CAST(least(s1.n_sh, s2.n_sh) AS BIGINT) AS n_small,
         |  round(CAST(n_common AS DOUBLE) / least(s1.n_sh, s2.n_sh), 4)
         |    AS containment
         |FROM common
         |  JOIN sizes s1 ON s1.doc_id = id1
         |  JOIN sizes s2 ON s2.doc_id = id2
         |ORDER BY containment DESC, id1, id2 LIMIT 50""".stripMargin,

    "ts_seasonal" ->
      s"""WITH $EV,
         |b AS (
         |  SELECT event_type, sec // 3600 * 3600 AS bucket_start,
         |         count(*) AS n
         |  FROM ev GROUP BY 1, 2),
         |bh AS (SELECT *, bucket_start // 3600 % 24 AS hod FROM b),
         |p AS (
         |  SELECT event_type AS _t, hod AS _h,
         |    round(CAST(sum(n) AS DOUBLE) / count(*), 4) AS expected4
         |  FROM bh GROUP BY 1, 2)
         |SELECT event_type, bucket_start, hod, n, expected4,
         |  round(n - expected4, 4) AS resid4
         |FROM bh JOIN p ON event_type = _t AND hod = _h
         |ORDER BY event_type, bucket_start""".stripMargin,

    "ts_anomaly_deseason" ->
      s"""WITH $EV,
         |b AS (
         |  SELECT event_type, sec // 3600 * 3600 AS bucket_start,
         |         count(*) AS n
         |  FROM ev GROUP BY 1, 2),
         |bh AS (SELECT *, bucket_start // 3600 % 24 AS hod FROM b),
         |p AS (
         |  SELECT event_type AS _t, hod AS _h,
         |    round(CAST(sum(n) AS DOUBLE) / count(*), 4) AS expected4
         |  FROM bh GROUP BY 1, 2),
         |res AS (
         |  SELECT event_type, bucket_start,
         |    CAST(round(round(n - expected4, 4) * 10000) AS BIGINT) AS n
         |  FROM bh JOIN p ON event_type = _t AND hod = _h),
         |w AS (
         |  SELECT event_type, bucket_start, n,
         |    count(*) OVER win AS base_cnt,
         |    sum(n) OVER win AS base_sum,
         |    sum(CAST(n AS HUGEINT) * n) OVER win AS base_sumsq
         |  FROM res
         |  WINDOW win AS (PARTITION BY event_type ORDER BY bucket_start
         |                 RANGE BETWEEN 36000 PRECEDING AND 3600 PRECEDING))
         |SELECT event_type, bucket_start, n,
         |  CAST(base_cnt AS BIGINT) AS base_cnt,
         |  CASE WHEN base_cnt > 0
         |       THEN round(CAST(base_sum AS DOUBLE) / base_cnt, 4)
         |  END AS mean4,
         |  CAST(CASE WHEN base_cnt >= 5
         |         AND CAST(base_cnt * n - base_sum AS HUGEINT)
         |             * (base_cnt * n - base_sum)
         |             > 9 * (base_cnt * base_sumsq
         |                    - CAST(base_sum AS HUGEINT) * base_sum)
         |       THEN 1 ELSE 0 END AS INT) AS is_anomaly
         |FROM w ORDER BY event_type, bucket_start""".stripMargin,

    "func_variant" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long,
        |  json_extract_string(props, '$.k') AS k_str,
        |  json_extract_string(props, '$.missing') AS missing_str,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 + 1
        |    AS k_derived,
        |  json_extract_string(props, '$.k') IS NOT NULL AS k_present
        |FROM events ORDER BY event_id""".stripMargin,

    // the equality against COUNT(DISTINCT) IS the contract, like the
    // salted join: bitmaps change the aggregation mechanics, never
    // the answer
    "agg_bitmap_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_parts
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "ts_autocorr" ->
      s"""WITH $EV,
         |b AS (
         |  SELECT event_type, sec // 3600 * 3600 AS bucket_start,
         |         count(*) AS n
         |  FROM ev GROUP BY 1, 2),
         |p AS (
         |  SELECT event_type,
         |    lag(bucket_start) OVER w AS prev_b,
         |    lag(n) OVER w AS x, n AS y, bucket_start
         |  FROM b
         |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)),
         |pp AS (SELECT event_type, CAST(x AS HUGEINT) AS x,
         |         CAST(y AS HUGEINT) AS y
         |       FROM p WHERE prev_b = bucket_start - 3600),
         |a AS (
         |  SELECT event_type,
         |    CAST(count(*) AS HUGEINT) AS m,
         |    sum(x) AS sx, sum(y) AS sy,
         |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
         |  FROM pp GROUP BY event_type)
         |SELECT event_type, CAST(m AS BIGINT) AS n_pairs,
         |  CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
         |       THEN round(CAST(m * sxy - sx * sy AS DOUBLE) /
         |              sqrt(CAST(m * sxx - sx * sx AS DOUBLE) *
         |                   CAST(m * syy - sy * sy AS DOUBLE)), 4)
         |  END AS r4
         |FROM a ORDER BY event_type""".stripMargin,

    "qc_freshness" ->
      s"""WITH $EV,
         |f AS (SELECT max(sec) AS frontier_sec FROM ev)
         |SELECT event_type, min(sec) AS first_sec, max(sec) AS last_sec,
         |  count(*) AS n_events,
         |  (SELECT frontier_sec FROM f) - max(sec) AS stale_sec
         |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ts_changepoint" ->
      s"""WITH $EV,
         |b AS (
         |  SELECT event_type, sec // 3600 * 3600 AS bucket_start,
         |         count(*) AS n
         |  FROM ev GROUP BY 1, 2),
         |s AS (
         |  SELECT event_type, bucket_start, n,
         |    row_number() OVER (PARTITION BY event_type
         |                       ORDER BY bucket_start) AS k,
         |    sum(n) OVER (PARTITION BY event_type ORDER BY bucket_start
         |                 ROWS UNBOUNDED PRECEDING) AS prefix,
         |    count(*) OVER (PARTITION BY event_type) AS nb,
         |    sum(n) OVER (PARTITION BY event_type) AS total
         |  FROM b),
         |t AS (
         |  SELECT *, abs(CAST(nb AS HUGEINT) * prefix
         |                - CAST(k AS HUGEINT) * total) AS stat
         |  FROM s),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type
         |              ORDER BY stat DESC, bucket_start) AS rnk
         |  FROM t)
         |SELECT event_type, bucket_start AS cp_bucket,
         |  CAST(stat AS BIGINT) AS stat,
         |  CAST(nb AS BIGINT) AS n_buckets,
         |  CAST(total AS BIGINT) AS total_n,
         |  round(CAST(prefix AS DOUBLE) / k, 4) AS mean_before4,
         |  CASE WHEN nb > k
         |       THEN round(CAST(total - prefix AS DOUBLE) / (nb - k), 4)
         |  END AS mean_after4
         |FROM r WHERE rnk = 1 ORDER BY event_type""".stripMargin,

    "sample_balanced" ->
      s"""WITH $EV,
         |cap AS (
         |  SELECT min(cnt) AS m FROM (
         |    SELECT count(*) AS cnt FROM ev GROUP BY event_type)),
         |r AS (
         |  SELECT event_type, event_id,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)),
         |                                   1, 13) AS BIGINT), event_id)
         |      AS rnk
         |  FROM ev)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_sel,
         |  CAST(sum(event_id) AS BIGINT) AS sum_ids
         |FROM r, cap WHERE rnk <= m
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "doc_admission_gate" ->
      s"""WITH $DupSpansSql,
        |sp AS (SELECT doc_id, span_start AS s, span_end + 2 AS e
        |       FROM spans),
        |m AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM sp),
        |fl AS (
        |  SELECT *, CASE WHEN pme IS NULL OR s > pme
        |                 THEN 1 ELSE 0 END AS ni
        |  FROM m),
        |isl AS (
        |  SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY s
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM fl),
        |cov AS (
        |  SELECT doc_id, island, max(e) - min(s) + 1 AS covered
        |  FROM isl GROUP BY 1, 2),
        |dup AS (SELECT doc_id, sum(covered) AS dup_tokens
        |        FROM cov GROUP BY 1),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)),
        |      i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS g
        |  FROM toks),
        |vc AS (
        |  SELECT g, count(*) AS c FROM bg GROUP BY g
        |  ORDER BY c DESC, g LIMIT 200),
        |covr AS (
        |  SELECT b.doc_id,
        |    round(CAST(count(v.g) AS DOUBLE) / count(*), 4) AS iv_rate
        |  FROM bg b LEFT JOIN vc v ON b.g = v.g GROUP BY b.doc_id),
        |sz AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |       FROM documents),
        |base AS (
        |  SELECT sz.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    round(CAST(coalesce(dup_tokens, 0) AS DOUBLE) / n_tokens, 4)
        |      AS dup_frac
        |  FROM sz LEFT JOIN dup ON sz.doc_id = dup.doc_id)
        |SELECT base.doc_id, n_tokens, dup_frac,
        |  coalesce(iv_rate, 0.0) AS iv_rate,
        |  (dup_frac <= 0.9 AND coalesce(iv_rate, 0.0) >= 0.2) AS keep,
        |  CASE WHEN dup_frac > 0.9 THEN 'duplication'
        |       WHEN coalesce(iv_rate, 0.0) < 0.2 THEN 'low_quality'
        |  END AS reason
        |FROM base LEFT JOIN covr ON base.doc_id = covr.doc_id
        |ORDER BY base.doc_id""".stripMargin,

    // ---- CCNet-graduated admission gate: duplication + LM avg_nll ----
    "doc_admission_lm" ->
      s"""WITH $DupSpansSql,
        |sp AS (SELECT doc_id, span_start AS s, span_end + 2 AS e
        |       FROM spans),
        |m AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM sp),
        |fl AS (
        |  SELECT *, CASE WHEN pme IS NULL OR s > pme
        |                 THEN 1 ELSE 0 END AS ni
        |  FROM m),
        |isl AS (
        |  SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY s
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM fl),
        |cov AS (
        |  SELECT doc_id, island, max(e) - min(s) + 1 AS covered
        |  FROM isl GROUP BY 1, 2),
        |dup AS (SELECT doc_id, sum(covered) AS dup_tokens
        |        FROM cov GROUP BY 1),
        |$LmAggSql,
        |sz AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |       FROM documents),
        |base AS (
        |  SELECT sz.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    round(CAST(coalesce(dup_tokens, 0) AS DOUBLE) / n_tokens, 4)
        |      AS dup_frac
        |  FROM sz LEFT JOIN dup ON sz.doc_id = dup.doc_id),
        |fin AS (
        |  SELECT base.doc_id, n_tokens, dup_frac,
        |    CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |    round(-CAST(a.sum_ll AS DOUBLE) / a.n_bigrams, 4) AS avg_nll
        |  FROM base LEFT JOIN agg a ON base.doc_id = a.doc_id)
        |SELECT doc_id, n_tokens, dup_frac, n_bigrams, avg_nll,
        |  (dup_frac <= 0.9 AND avg_nll IS NOT NULL AND avg_nll <= 3.42)
        |    AS keep,
        |  CASE WHEN dup_frac > 0.9 THEN 'duplication'
        |       WHEN avg_nll IS NULL OR avg_nll > 3.42
        |         THEN 'high_perplexity'
        |  END AS reason
        |FROM fin ORDER BY doc_id""".stripMargin,

    "doc_markup" ->
      """WITH h AS (
        |  SELECT doc_id, text,
        |    '<html><head><style type="text/css">p { color: red; }' ||
        |    '</style></head><body class="m">&quot;<p id="t">' || text ||
        |    '</p>&#39;<script type="text/javascript">var t = ' ||
        |    '"<b>bold</b>";</script> &amp;tail</body></html>' AS html
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(html,
        |              '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '<[^>]+>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |        '&#39;', ''''), '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM h)
        |SELECT doc_id,
        |  clean = ('" ' || text || ' '' &tail') AS roundtrip,
        |  CAST(length(clean) AS BIGINT) AS n_chars
        |FROM c ORDER BY doc_id""".stripMargin,

    "doc_lm_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)),
        |      i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS g
        |  FROM toks),
        |vc AS (
        |  SELECT g, count(*) AS c FROM bg GROUP BY g
        |  ORDER BY c DESC, g LIMIT 200)
        |SELECT b.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(count(v.g) AS BIGINT) AS n_in_vocab,
        |  round(CAST(count(v.g) AS DOUBLE) / count(*), 4) AS iv_rate
        |FROM bg b LEFT JOIN vc v ON b.g = v.g
        |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin,

    // ---- corpus composition (data-card mixture table) ----
    "doc_corpus_mix" ->
      """WITH t AS (
        |  SELECT lang, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |tot AS (SELECT sum(n_tok) AS total_tok FROM t)
        |SELECT lang, source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(n_tok) AS DOUBLE) / (SELECT total_tok FROM tot), 6)
        |    AS tok_share
        |FROM t GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    // ---- smoothed bigram-LM negative log-likelihood (CCNet-style) ----
    "doc_lm_score" ->
      s"""WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |$LmAggSql
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  round(-CAST(a.sum_ll AS DOUBLE) / a.n_bigrams, 4) AS avg_nll
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,
  )
}
