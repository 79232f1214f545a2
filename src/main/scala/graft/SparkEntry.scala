package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Relational._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is a deterministic, totally-ordered DataFrame whose result
  * hash-matches the DuckDB oracle in [[SparkEntry.oracleSql]] at any scale
  * factor. Cross-engine float determinism rules (FIXTURES.md §7 spirit):
  *   - money-like doubles (≤2 decimals) are cast to DECIMAL before SUM —
  *     exact integer-scaled arithmetic in both engines, immune to
  *     aggregation order;
  *   - averages are `CAST(exact-decimal-sum AS DOUBLE) / COUNT` — one
  *     deterministic double division instead of order-dependent avg();
  *   - metric aggregates use scaled-BIGINT arithmetic (see q13);
  *   - raw double columns pass through untouched (bit-exact both sides);
  *   - every query ends in a total ORDER BY on non-null keys.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_join_revenue")(spark, "/root/testdata/sf0.001")

  /** One (queries, oracleSql) pair per module, ONE LINE EACH (ADVICE r10:
    * the old single-line double concatenation made every wave's diff
    * unreviewable and let the two lists drift). Both public maps fold the
    * same Seq, so a module registered for queries is registered for its
    * oracles by construction; per-name query/oracle parity is still
    * enforced at runtime by RelationalQueriesSpec. */
  private lazy val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = Seq(
    (relationalQueries, relationalOracles),
    (TextQueries.queries, TextQueries.oracleSql),
    (VectorQueries.queries, VectorQueries.oracleSql),
    (PipelineQueries.queries, PipelineQueries.oracleSql),
    (MlQueries.queries, MlQueries.oracleSql),
    (FeatureQueries.queries, FeatureQueries.oracleSql),
    (CurationQueries.queries, CurationQueries.oracleSql),
    (AuditQueries.queries, AuditQueries.oracleSql),
    (BehaviorQueries.queries, BehaviorQueries.oracleSql),
    (GovernanceQueries.queries, GovernanceQueries.oracleSql),
    (IndexQueries.queries, IndexQueries.oracleSql),
    (AnalyticsQueries.queries, AnalyticsQueries.oracleSql),
    (WarehouseQueries.queries, WarehouseQueries.oracleSql),
    (EvalQueries.queries, EvalQueries.oracleSql),
    (SignalQueries.queries, SignalQueries.oracleSql),
    (RobustQueries.queries, RobustQueries.oracleSql),
    (LakeQueries.queries, LakeQueries.oracleSql),
    (MaintQueries.queries, MaintQueries.oracleSql),
    (ServiceQueries.queries, ServiceQueries.oracleSql),
    (TemporalQueries.queries, TemporalQueries.oracleSql),
    (ProfileQueries.queries, ProfileQueries.oracleSql),
    (IntegrityQueries.queries, IntegrityQueries.oracleSql),
    (SearchQueries.queries, SearchQueries.oracleSql),
    (PlannerQueries.queries, PlannerQueries.oracleSql),
    (FlowQueries.queries, FlowQueries.oracleSql),
    (QualityQueries.queries, QualityQueries.oracleSql),
    (ModelQueries.queries, ModelQueries.oracleSql),
    (TrustQueries.queries, TrustQueries.oracleSql),
    (PrepQueries.queries, PrepQueries.oracleSql),
    (PathQueries.queries, PathQueries.oracleSql),
    (CalendarQueries.queries, CalendarQueries.oracleSql),
    (MasterQueries.queries, MasterQueries.oracleSql),
    (OpsQueries.queries, OpsQueries.oracleSql),
    (TuneQueries.queries, TuneQueries.oracleSql),
    (ReconQueries.queries, ReconQueries.oracleSql),
    (MixtureQueries.queries, MixtureQueries.oracleSql),
    (RankEvalQueries.queries, RankEvalQueries.oracleSql),
    (CorpusHealthQueries.queries, CorpusHealthQueries.oracleSql),
    (TrendQueries.queries, TrendQueries.oracleSql),
    (GraphLinkQueries.queries, GraphLinkQueries.oracleSql),
    (VectorGeomQueries.queries, VectorGeomQueries.oracleSql),
    (FeedbackQueries.queries, FeedbackQueries.oracleSql),
    (EpochQueries.queries, EpochQueries.oracleSql),
    (DecisionQueries.queries, DecisionQueries.oracleSql),
    (SignalsTwoQueries.queries, SignalsTwoQueries.oracleSql),
    (ExperimentQueries.queries, ExperimentQueries.oracleSql),
    (StreamTwoQueries.queries, StreamTwoQueries.oracleSql),
    (PlannerTwoQueries.queries, PlannerTwoQueries.oracleSql),
    (StatsQueries.queries, StatsQueries.oracleSql),
    (ForecastScienceQueries.queries, ForecastScienceQueries.oracleSql),
    (RetrievalLakeQueries.queries, RetrievalLakeQueries.oracleSql),
    (TextScienceQueries.queries, TextScienceQueries.oracleSql),
    (AssuranceQueries.queries, AssuranceQueries.oracleSql),
    (SemanticsQueries.queries, SemanticsQueries.oracleSql),
    (SupplyQueries.queries, SupplyQueries.oracleSql),
    (ReliabilityQueries.queries, ReliabilityQueries.oracleSql),
    (DecisionTwoQueries.queries, DecisionTwoQueries.oracleSql),
    (TimePriceQueries.queries, TimePriceQueries.oracleSql),
    (EstimatorQueries.queries, EstimatorQueries.oracleSql),
    (MiningQueries.queries, MiningQueries.oracleSql),
    (SeasonQueries.queries, SeasonQueries.oracleSql),
    (IntervalQueries.queries, IntervalQueries.oracleSql),
    (ImpactQueries.queries, ImpactQueries.oracleSql),
    (ConsistencyQueries.queries, ConsistencyQueries.oracleSql),
    (BridgeQueries.queries, BridgeQueries.oracleSql),
    (GreedyQueries.queries, GreedyQueries.oracleSql),
    (RankMetricsQueries.queries, RankMetricsQueries.oracleSql),
    (ParityQueries.queries, ParityQueries.oracleSql),
    (ControlQueries.queries, ControlQueries.oracleSql),
    (AdvisorQueries.queries, AdvisorQueries.oracleSql),
    (GuardrailQueries.queries, GuardrailQueries.oracleSql),
    (DisclosureQueries.queries, DisclosureQueries.oracleSql),
    (VarianceQueries.queries, VarianceQueries.oracleSql),
    (SketchQueries.queries, SketchQueries.oracleSql),
    (InferenceQueries.queries, InferenceQueries.oracleSql),
    (TelemetryQueries.queries, TelemetryQueries.oracleSql),
    (InferenceTwoQueries.queries, InferenceTwoQueries.oracleSql),
    (LinkageQueries.queries, LinkageQueries.oracleSql),
    (SystemsQueries.queries, SystemsQueries.oracleSql),
    (AlgorithmQueries.queries, AlgorithmQueries.oracleSql),
    (OptimalityQueries.queries, OptimalityQueries.oracleSql),
    (MatchingQueries.queries, MatchingQueries.oracleSql),
    (SlidingSketchQueries.queries, SlidingSketchQueries.oracleSql),
    (DriftQueries.queries, DriftQueries.oracleSql),
    (CostQueries.queries, CostQueries.oracleSql),
    (SamplingEconQueries.queries, SamplingEconQueries.oracleSql),
    (CurveQueries.queries, CurveQueries.oracleSql),
    (LatticeQueries.queries, LatticeQueries.oracleSql),
    (AdvisorTwoQueries.queries, AdvisorTwoQueries.oracleSql),
    (IntegrityTwoQueries.queries, IntegrityTwoQueries.oracleSql),
    (EmpiricalQueries.queries, EmpiricalQueries.oracleSql),
    (SequentialQueries.queries, SequentialQueries.oracleSql),
    (ResourceQueries.queries, ResourceQueries.oracleSql),
    (OrderTheoryQueries.queries, OrderTheoryQueries.oracleSql),
    (ReplicationQueries.queries, ReplicationQueries.oracleSql),
    (GeometryQueries.queries, GeometryQueries.oracleSql),
    (AuctionGraphQueries.queries, AuctionGraphQueries.oracleSql),
    (ConvergenceQueries.queries, ConvergenceQueries.oracleSql),
    (RoutingQueries.queries, RoutingQueries.oracleSql),
    (ForecastOpsQueries.queries, ForecastOpsQueries.oracleSql),
    (CurationOpsQueries.queries, CurationOpsQueries.oracleSql),
    (RetrievalOpsQueries.queries, RetrievalOpsQueries.oracleSql),
    (MonitorOpsQueries.queries, MonitorOpsQueries.oracleSql),
    (RagOpsQueries.queries, RagOpsQueries.oracleSql),
    (FeatureOpsQueries.queries, FeatureOpsQueries.oracleSql),
    (ScoringOpsQueries.queries, ScoringOpsQueries.oracleSql),
    (DiagnosticsOpsQueries.queries, DiagnosticsOpsQueries.oracleSql),
    (GovernanceOpsQueries.queries, GovernanceOpsQueries.oracleSql),
    (LifecycleOpsQueries.queries, LifecycleOpsQueries.oracleSql),
    (CorpusOpsQueries.queries, CorpusOpsQueries.oracleSql),
    (SelectionOpsQueries.queries, SelectionOpsQueries.oracleSql),
    (AdvisoryOpsQueries.queries, AdvisoryOpsQueries.oracleSql),
    (SequentialOpsQueries.queries, SequentialOpsQueries.oracleSql),
    (TuningOpsQueries.queries, TuningOpsQueries.oracleSql),
    (ReleaseQueries.queries, ReleaseQueries.oracleSql)
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  // ---------------------------------------------------------------- batch 1
  /** SURVEY §2.2-§2.8 relational surface over the driver testdata. */
  private def relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A2/A4/A9 aggregation with map-side partial agg; decimal sums for
    // cross-engine determinism (SURVEY A2, A4, A9).
    "q01_pricing_summary" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(24, 4))).cast(DecimalType(38, 4)).as("sum_disc_price"),
          (sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // F1-F3/P3 filtered projection — predicate + column pruning reach the
    // parquet scan (PushedFilters in explain).
    "q02_filter_scan" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast(TimestampType)
          && col("l_shipdate") < lit("1996-01-01").cast(TimestampType)
          && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), to_date(col("l_shipdate")).as("ship_day"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // 4-table star join: fact-fact shuffle join (AQE-managed) + broadcast
    // dims (nation is tiny at every SF; customer is left to AQE).
    "q03_join_revenue" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o  = Tables.orders(s, dir)
      val c  = Tables.customer(s, dir)
      val n  = broadcast(Tables.nation(s, dir))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(24, 4))).cast(DecimalType(38, 4)).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // O2 top-k → TakeOrderedAndProject (per-partition heaps, no global sort).
    "q04_topk" -> ((s, dir) =>
      topK(Tables.orders(s, dir).select("o_orderkey", "o_totalprice"),
        10, col("o_totalprice").desc, col("o_orderkey").asc)),

    // A1 distinct key enumeration.
    "q05_distinct" -> ((s, dir) =>
      distinctKeys(Tables.customer(s, dir), "c_mktsegment").orderBy("c_mktsegment")),

    // W1/J1 latest-row-per-key: window dedup, recency by id like the
    // reference's max(id) convention (web-ui/app/db_utils.py:45-47).
    "q06_latest_per_key" -> ((s, dir) => {
      latestPerKey(Tables.events(s, dir), Seq("user_id"), col("event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
          to_date(col("ts")).as("day"))
        .orderBy("user_id")
    }),

    // J2 key-pair enumeration (cross join of two tiny distinct sets).
    "q07_crossjoin" -> ((s, dir) => {
      keyPairs(
        Tables.region(s, dir).select("r_name"),
        distinctKeys(Tables.orders(s, dir), "o_orderstatus"))
        .orderBy("r_name", "o_orderstatus")
    }),

    // X9 inclusive daily sequence (8 rows per 7-day horizon — the
    // reference's pd.date_range inclusivity, helpers.py:29).
    "q08_date_sequence" -> ((s, dir) => {
      val base = topK(Tables.orders(s, dir), 5, col("o_orderkey").asc)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
      dateIndex(base, col("od"), date_add(col("od"), 7), "day")
        .select("o_orderkey", "day")
        .orderBy("o_orderkey", "day")
    }),

    // §2.7 set difference (distinct order days that never appear as ship
    // days — non-empty because shipping lags ordering).
    "q09_except" -> ((s, dir) => {
      Tables.orders(s, dir).select(to_date(col("o_orderdate")).as("day"))
        .except(Tables.lineitem(s, dir).select(to_date(col("l_shipdate")).as("day")))
        .orderBy("day")
    }),

    // F5 membership as a distributed left-semi join.
    "q10_semijoin" -> ((s, dir) => {
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
    }),

    // Anti join (NOT EXISTS with correlated predicate): orders having no
    // high-value line item.
    "q11_antijoin" -> ((s, dir) => {
      val expensive = Tables.lineitem(s, dir)
        .filter(col("l_extendedprice") > 50000)
        .select(col("l_orderkey").as("o_orderkey"))
      Tables.orders(s, dir)
        .join(expensive, Seq("o_orderkey"), "left_anti")
        .select("o_orderkey")
        .orderBy("o_orderkey")
    }),

    // W2 expanding per-key running aggregate (walk-forward frame shape);
    // DECIMAL running sum → order-forced, exact in both engines.
    "q12_running_sum" -> ((s, dir) => {
      val purchases = Tables.events(s, dir).filter(col("event_type") === "purchase")
      runningAgg(purchases, Seq("user_id"), col("event_id"),
        sum(col("value").cast(DecimalType(18, 6))), "running_value")
        .select(col("user_id"), col("event_id"),
          col("running_value").cast(DecimalType(38, 6)).as("running_value"))
        .orderBy("user_id", "event_id")
    }),

    // A4-A8 error-metric pack (RMSE/MAE/MAPE/MedAE) against a fixed
    // baseline prediction, in scaled-BIGINT arithmetic so both engines sum
    // exact integers (order-independent): v6 = round(value·1e6).
    "q13_error_metrics" -> ((s, dir) => {
      Tables.events(s, dir)
        .filter(col("value") > 0)
        .select(col("event_type"),
          round(col("value") * 1000000).cast(LongType).as("v6"))
        .withColumn("abs6", abs(col("v6") - 50000000L))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          (sum(col("abs6")).cast(DoubleType) / count(lit(1)) / 1000000.0).as("mae"),
          (sqrt(sum((col("abs6") * col("abs6")).cast(DecimalType(38, 0))).cast(DoubleType) / count(lit(1))) / 1000000.0).as("rmse"),
          // pure BIGINT floor-division (abs6 ≤ 1e9 ⇒ abs6·1e9 fits a long):
          // exact in both engines, no doubles past 2^53 (r1 verdict #7)
          (sum(expr("abs6 * 1000000000 div v6")).cast(DoubleType) / count(lit(1)) / 1000000000.0).as("mape"),
          (expr("percentile(abs6, 0.5)") / 1000000.0).as("medae"))
        .orderBy("event_type")
    }),

    // F3/X8 anchored date-lookback window (anchor = max event day, not
    // wall clock — FIXTURES.md §7 determinism rule).
    "q14_lookback_window" -> ((s, dir) => {
      val e = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      val anchor = e.agg(max(col("day")).as("maxd"))
      e.crossJoin(broadcast(anchor))
        .filter(col("day") >= date_sub(col("maxd"), 6))
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("day", "event_type")
    }),

    // The seed-prep pipeline shape (X3-X7 date math, F2 in-list month
    // filter as a semi-join, scalar max via broadcast cross join) —
    // put_data_in_postgres.py:30-47 re-expressed distributed.
    "q15_seedprep_months" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        to_date(col("o_orderdate")).as("od"))
      val lastMonths = topK(o.select("month").distinct(), 2, col("month").desc)
      val mx = o.agg(max(col("od")).as("maxd"))
      semiFilter(o, lastMonths, Seq("month"))
        .crossJoin(broadcast(mx))
        .select(col("o_orderkey"), col("month"),
          datediff(col("maxd"), col("od")).cast(LongType).as("days_from_latest"))
        .orderBy("o_orderkey")
    }),

    // Range (point-in-interval) join via the bucketization rewrite
    // (ops/Relational.rangeJoin): lineitem quantities land in irregular
    // quadratic bands [b², (b+1)²−1]. The tiny band table broadcasts
    // here; the operator's big-big shape (equi-join on bins, never a
    // nested loop) is asserted in RelationalQueriesSpec with broadcast
    // disabled.
    "q46_range_join" -> ((s, dir) => {
      val bands = s.range(0, 8).select(
        col("id").cast(IntegerType).as("band"),
        (col("id") * col("id")).as("lo"),
        ((col("id") + 1) * (col("id") + 1) - 1).as("hi"))
      rangeJoin(Tables.lineitem(s, dir).select("l_orderkey", "l_quantity"),
          col("l_quantity"), bands, col("lo"), col("hi"), binWidth = 8)
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity")).cast(LongType)).as("sum_qty"))
        .orderBy("band")
    }),

    // A1-at-scale (ops/Relational.approxDistinctCount): HLL sketch
    // cardinality — kilobytes shuffled instead of the distinct-key
    // universe. Declared on the 5-value event_type key, where HLL++'s
    // sparse representation is EXACT (it only approximates beyond ~
    // register count), so the oracle is a strict equality with
    // COUNT(DISTINCT); at the high cardinalities the op exists for,
    // callers accept the configured rsd instead of an exact answer.
    "q49_approx_distinct" -> ((s, dir) =>
      approxDistinctCount(
        Tables.events(s, dir).select("event_type"), "event_type")),

    // Skew-governed two-phase aggregation (ops/Relational.saltedAgg):
    // events has only 5 event_type keys — the power-law worst case where
    // one reducer would otherwise own a whole key's rows. Each hot key
    // spreads over 8 salted sub-keys, partially aggregates, then merges;
    // decomposable sums/counts make the two-phase result EXACTLY the
    // plain groupBy (same DuckDB oracle shape as a direct aggregate).
    "q47_salted_agg" -> ((s, dir) => {
      saltedAgg(
          Tables.events(s, dir)
            .select(col("event_type"),
              round(col("value") * 1000000).cast(LongType).as("v6")),
          Seq("event_type"), salts = 8,
          partial = Seq(sum(col("v6")).as("ps"), count(lit(1)).as("pc")),
          merge = Seq(sum(col("ps")).as("sum_v6"), sum(col("pc")).as("n")))
        .orderBy("event_type")
    }),

    // X10 JSON parse (from_json, the streaming-ingest parse path) +
    // exact integer aggregation.
    "q16_json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          from_json(col("props"), StructType(Seq(StructField("k", LongType)))).getField("k").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"),
          (sum(col("k")).cast(DoubleType) / count(lit(1))).as("avg_k"))
        .orderBy("event_type")
    })
  )

  /** DuckDB-dialect ANSI SQL oracles, column-name aligned with `queries`. */
  lazy val oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)

  private def relationalOracles: Map[String, String] = Map(
    "q49_approx_distinct" ->
      """SELECT COUNT(DISTINCT event_type) AS approx_distinct_event_type
        |FROM events""".stripMargin,

    "q47_salted_agg" ->
      """SELECT event_type,
        | CAST(SUM(CAST(round(value*1000000) AS BIGINT)) AS BIGINT) AS sum_v6,
        | COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q46_range_join" ->
      """WITH bands AS (SELECT CAST(b AS INT) AS band, b*b AS lo, (b+1)*(b+1)-1 AS hi
        |               FROM (SELECT UNNEST(range(0, 8)) AS b))
        |SELECT band, COUNT(*) AS n,
        | CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity <= hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,4))) AS DECIMAL(38,4)) AS sum_disc_price,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        | CAST(l_shipdate AS DATE) AS ship_day
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_join_revenue" ->
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,4))) AS DECIMAL(38,4)) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q04_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",

    "q05_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",

    "q06_latest_per_key" ->
      """SELECT user_id, event_id, event_type, value, CAST(ts AS DATE) AS day
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q07_crossjoin" ->
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY r_name, o_orderstatus""".stripMargin,

    "q08_date_sequence" ->
      """SELECT o_orderkey,
        | CAST(UNNEST(generate_series(CAST(o_orderdate AS DATE),
        |                             CAST(o_orderdate AS DATE) + 7,
        |                             INTERVAL 1 DAY)) AS DATE) AS day
        |FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 5)
        |ORDER BY o_orderkey, day""".stripMargin,

    "q09_except" ->
      """SELECT CAST(o_orderdate AS DATE) AS day FROM orders
        |EXCEPT
        |SELECT CAST(l_shipdate AS DATE) AS day FROM lineitem
        |ORDER BY day""".stripMargin,

    "q10_semijoin" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q11_antijoin" ->
      """SELECT o_orderkey FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_extendedprice > 50000)
        |ORDER BY o_orderkey""".stripMargin,

    "q12_running_sum" ->
      """SELECT user_id, event_id,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,6)) AS running_value
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin,

    "q13_error_metrics" ->
      """WITH s AS (
        |  SELECT event_type, CAST(round(value*1000000) AS BIGINT) AS v6,
        |         ABS(CAST(round(value*1000000) AS BIGINT) - 50000000) AS abs6
        |  FROM events WHERE value > 0)
        |SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(abs6) AS DOUBLE)/COUNT(*)/1000000.0 AS mae,
        | sqrt(CAST(SUM(CAST(abs6*abs6 AS DECIMAL(38,0))) AS DOUBLE)/COUNT(*))/1000000.0 AS rmse,
        | CAST(SUM((abs6*1000000000) // v6) AS DOUBLE)/COUNT(*)/1000000000.0 AS mape,
        | CAST(quantile_cont(abs6, 0.5) AS DOUBLE)/1000000.0 AS medae
        |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q14_lookback_window" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
        |     a AS (SELECT MAX(day) AS maxd FROM e)
        |SELECT day, event_type, COUNT(*) AS n
        |FROM e, a WHERE day >= maxd - 6
        |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,

    "q15_seedprep_months" ->
      """WITH o AS (SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS month,
        |                  CAST(o_orderdate AS DATE) AS od FROM orders),
        |     m AS (SELECT DISTINCT month FROM o ORDER BY month DESC LIMIT 2),
        |     mx AS (SELECT MAX(od) AS maxd FROM o)
        |SELECT o.o_orderkey, o.month, CAST(date_diff('day', o.od, mx.maxd) AS BIGINT) AS days_from_latest
        |FROM o, mx WHERE o.month IN (SELECT month FROM m)
        |ORDER BY o.o_orderkey""".stripMargin,

    "q16_json_extract" ->
      """SELECT event_type,
        | CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS DOUBLE)/COUNT(*) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
