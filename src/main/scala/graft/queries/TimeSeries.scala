package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/** Time-series / reshaping operators the reference's warehouses provide
  * natively but Spark lacks as single primitives (SURVEY.md §2.7):
  * as-of join, range join, batch sessionization, quantile binning,
  * unpivot, per-group argmax. Each is expressed in its *scalable* Spark
  * form — union+window instead of a per-row subquery for as-of, a
  * bucket-banded equi-join instead of an inequality join for range — and
  * each has a DuckDB oracle twin (which CAN use the native ASOF / theta
  * join, making the oracle a genuine cross-implementation check).
  */
object TimeSeries {

  private final val TenMinUs = 600000000L // 10 min in microseconds

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // AS-OF JOIN (attribution): for each purchase, the user's latest
    // view at-or-before it. Spark-first shape: tag+union both streams,
    // one window pass carries the last view forward — a single shuffle
    // on (user_id), no per-row subquery, no range blow-up; this is how
    // an as-of join stays linear at 100 TB. The tag orders a view at
    // the exact purchase timestamp BEFORE the purchase (inclusive
    // match), mirroring ASOF's >= semantics.
    "r35_asof_join" -> { (s, dir) =>
      val e = t(s, dir, "events")
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("tm"), lit(0).as("tag"),
          col("ts").as("vts"), lit(null).cast("long").as("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("tm"), lit(1).as("tag"),
          lit(null).cast("timestamp").as("vts"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("tm"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      views.unionByName(purchases)
        .withColumn("last_view_ts", last(col("vts"), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .selectExpr("event_id", "user_id", "tm as ts", "last_view_ts",
          """case when last_view_ts is null then cast(-1 as bigint)
            |  else unix_micros(tm) - unix_micros(last_view_ts) end as gap_us""".stripMargin)
        .orderBy("event_id")
    },

    // RANGE JOIN (windowed enrichment): per purchase, count + sum the
    // view/click activity in the strict 10-minute window before it.
    // Spark-first shape: band the time axis into 10-minute buckets and
    // equi-join on (user_id, bucket) with the probe exploded to its two
    // candidate buckets — the inequality predicate then filters a
    // bounded candidate set instead of driving a cross product. A prior
    // event lives in exactly one bucket, so no pair can match twice.
    "r36_range_join" -> { (s, dir) =>
      val e = t(s, dir, "events")
      val prior = e.filter(col("event_type").isin("view", "click"))
        .selectExpr("user_id", "unix_micros(ts) as pus", "value as pval",
          s"unix_micros(ts) div $TenMinUs as b")
      val purchases = e.filter(col("event_type") === "purchase")
        .selectExpr("event_id", "user_id", "ts", "unix_micros(ts) as us")
      val probes = purchases
        .selectExpr("event_id", "user_id", "us",
          s"explode(array(us div $TenMinUs - 1, us div $TenMinUs)) as b")
      val matched = probes.join(prior, Seq("user_id", "b"))
        .filter(col("pus") < col("us") && col("pus") >= col("us") - TenMinUs)
        .groupBy("event_id")
        .agg(cnt.as("n_prior"), dsum(col("pval")).as("val_prior"))
      purchases.select("event_id", "user_id", "ts")
        .join(matched, Seq("event_id"), "left")
        .selectExpr("event_id", "user_id", "ts",
          "coalesce(n_prior, cast(0 as bigint)) as n_prior",
          "coalesce(val_prior, cast(0.0 as double)) as val_prior")
        .orderBy("event_id")
    },

    // BATCH SESSIONIZATION: 30-minute inactivity gap splits sessions
    // (the batch twin of streaming/Streaming.sessionize). Two window
    // passes over one (user_id) shuffle: lag marks session starts,
    // a running sum numbers them; then one aggregation per session.
    "r37_sessionize" -> { (s, dir) =>
      val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val run = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("prev_us", lag(expr("unix_micros(ts)"), 1).over(byTime))
        .withColumn("is_new",
          when(col("prev_us").isNull ||
            expr("unix_micros(ts)") - col("prev_us") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(run))
        .groupBy("user_id", "session_id")
        .agg(cnt.as("n_events"),
          min(expr("unix_micros(ts)")).as("start_us"),
          max(expr("unix_micros(ts)")).as("end_us"),
          dsum(col("value")).as("total_value"))
        .orderBy("user_id", "session_id")
    },

    // QUANTILE BINNING: decile summary of order totals.
    "r38_price_deciles" -> { (s, dir) =>
      // EXACT DISTRIBUTED NTILE — no single-partition global window
      // (ntile().over(Window.orderBy(..)) funnels the corpus through
      // one task; at 100 TB that is the canonical broken plan).
      // ExactRank composes range-repartition + local row_number +
      // broadcast partition-offset cumsum (see queries.ExactRank);
      // NTILE bucket arithmetic is then pure per-row math.
      ExactRank.withGlobalRank(
          t(s, dir, "orders").select("o_totalprice", "o_orderkey"),
          Seq(col("o_totalprice"), col("o_orderkey")))
        .selectExpr("o_totalprice", "rank", "n_total as n")
        // NTILE(10): r = n % 10 buckets of size s+1 first, then size s
        .selectExpr("o_totalprice",
          """case when rank <= (n % 10) * (n div 10 + 1)
            |  then (rank - 1) div (n div 10 + 1) + 1
            |  else (n % 10) + 1 + (rank - 1 - (n % 10) * (n div 10 + 1)) div greatest(n div 10, 1)
            |end as decile""".stripMargin)
        .groupBy("decile")
        .agg(cnt.as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("decile")
    },

    // UNPIVOT/MELT: wide per-flag metrics to long (metric, value) rows —
    // Spark's native unpivot (Dataset.unpivot), one narrow map, no
    // shuffle beyond the feeding aggregation.
    "r39_unpivot_metrics" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          dsum(col("l_discount"), 4).as("sum_disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
          "metric", "value")
        .orderBy("l_returnflag", "metric")
    },

    // RANGE-frame window: per event, activity in the trailing 10-minute
    // interval — a true RANGE (value-based) frame over the numeric
    // microsecond axis, not a ROWS frame; one (user_id) shuffle.
    "r41_range_window" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-TenMinUs, 0)
      t(s, dir, "events")
        .selectExpr("user_id", "event_id", "value", "unix_micros(ts) as us")
        .withColumn("n_win", cnt.over(w))
        .withColumn("val_win",
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 2)))
            .over(w).cast("double"))
        .select("user_id", "event_id", "n_win", "val_win")
        .orderBy("user_id", "event_id")
    },

    // FRAME NAVIGATION: first_value / last_value / nth_value over a
    // bounded sliding frame (the window-function family r32/r33's
    // running/lag coverage misses). One (user_id) shuffle.
    "r46_frame_values" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("event_id"))
        .rowsBetween(-2, 2)
      t(s, dir, "events")
        .withColumn("first_in_frame", first(col("event_type")).over(w))
        .withColumn("last_in_frame", last(col("event_type")).over(w))
        .withColumn("mid_val",
          nth_value(col("value"), 2).over(w))
        .select("user_id", "event_id", "first_in_frame", "last_in_frame", "mid_val")
        .orderBy("user_id", "event_id")
    },

    // NATIVE TOP-K PER KEY: the custom two-phase physical operator
    // (graft.plans.TopKPerKey — partial bounded heaps before the
    // exchange, so the shuffle carries ≤ k × keys × partitions rows
    // instead of the corpus). Same output as the window form.
    "r43_topk_per_key" -> { (s, dir) =>
      graft.plans.TopKPerKey.topKDesc(
        t(s, dir, "events").select("event_type", "event_id", "user_id", "value"),
        keyCols = Seq("event_type"), orderCol = "value",
        tiebreakCols = Seq("event_id"), k = 10)
        .select("event_type", "rk", "event_id", "user_id", "value")
        .orderBy("event_type", "rk")
    },

    // GAP FILL — forward-fill (LOCF, last observation carried forward)
    // and backward-fill over a sparse series: IGNORE NULLS navigation,
    // the standard repair for missing sensor/metric readings before
    // resampling. Nulls are injected deterministically (event_id % 3)
    // so both engines fill the identical holes; fills are pure value
    // pass-through (no arithmetic) ⇒ hash-exact. Both directions ride
    // the one user_id exchange: same-keyed windows differing only in
    // frame/direction plan as a single sort, not two.
    "r60_gap_fill" -> { (s, dir) =>
      val byTs = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val back = byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = byTs.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      t(s, dir, "events")
        .selectExpr("event_id", "user_id", "ts",
          "case when event_id % 3 = 0 then cast(null as double) else value end as v")
        .withColumn("v_locf", last(col("v"), ignoreNulls = true).over(back))
        .withColumn("v_bfill", first(col("v"), ignoreNulls = true).over(fwd))
        .select("event_id", "user_id", "v", "v_locf", "v_bfill")
        .orderBy("event_id")
    },

    // LINEAR INTERPOLATION — r60's gap fill upgraded from
    // nearest-observation carry to time-weighted interpolation
    // (the resampling repair when readings are continuous-valued):
    // v(t) = v₀ + (v₁ − v₀)·(t − t₀)/(t₁ − t₀) between the bracketing
    // non-null readings; LOCF/NOCB at the series edges. Holes are the
    // same deterministic event_id % 3 set as r60. The bracketing
    // values AND their timestamps come from four IGNORE NULLS
    // navigations riding ONE user_id exchange (same-keyed windows
    // differing only in direction plan one sort). Arithmetic is the
    // identical IEEE expression text on both engines (integer μs
    // diffs cast exactly to double), rounded via the decimal cast.
    "r61_interp_fill" -> { (s, dir) =>
      val byTs = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val back = byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = byTs.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      t(s, dir, "events")
        .selectExpr("event_id", "user_id", "ts", "unix_micros(ts) as us",
          "case when event_id % 3 = 0 then cast(null as double) else value end as v")
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
        .withColumn("pus",
          last(when(col("v").isNotNull, col("us")), ignoreNulls = true).over(back))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
        .withColumn("nus",
          first(when(col("v").isNotNull, col("us")), ignoreNulls = true).over(fwd))
        .selectExpr("event_id", "user_id", "v",
          """case when v is not null then v
            |  when pv is null then nv
            |  when nv is null then pv
            |  else cast(cast(pv + (nv - pv) * (cast(us - pus as double) / cast(nus - pus as double)) as decimal(16,6)) as double)
            |end as v_interp""".stripMargin)
        .orderBy("event_id")
    },

    // ROLLING MEDIAN (robust smoothing): exact median of the trailing
    // 5 readings per user — the outlier-resistant alternative to r32's
    // moving average that one spiked sensor reading cannot drag. Spark
    // has no holistic window aggregate, so the frame materializes as a
    // bounded collect_list (≤ 5 values — window state is constant, not
    // partition-sized) sorted per row; the median is the ⌈n/2⌉-th
    // order statistic (percentile_disc convention, r42's rule), a pure
    // value passthrough ⇒ engine-exact. The DuckDB oracle uses its
    // native QUANTILE_DISC *window* aggregate — a genuinely different
    // implementation agreeing on the same order statistic.
    "r64_rolling_median" -> { (s, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, Window.currentRow)
      t(s, dir, "events")
        .withColumn("arr", sort_array(collect_list(col("value")).over(w)))
        .selectExpr("user_id", "event_id", "value",
          "element_at(arr, cast((size(arr) + 1) div 2 as int)) as med5")
        .orderBy("event_id")
    },

    // TRAILING EWMA (recency-weighted smoothing): exponentially
    // weighted average of the trailing 10 readings per user (α = 0.8
    // decay, normalized) — r32's moving average with a memory that
    // fades instead of a cliff at the window edge. Spark has no
    // order-aware window fold, so the frame materializes as a bounded
    // collect_list (≤ 10 values, constant window state) and a
    // positional decimal fold applies the weights. Cross-engine
    // exactness without matching float summation order: weights 0.8^j
    // are finite decimals (≤ 9 dp), values pre-round to DECIMAL(20,6),
    // so both engines form EXACT, order-free decimal sums — the only
    // float op is one final division on identical operands. The oracle
    // is a structurally different algorithm (rn self-join against a
    // weights VALUES table vs. positional array fold).
    "r65_ewma_smooth" -> { (s, dir) =>
      val w8 = BigDecimal("0.8")
      val W = (0 to 9).map(j => s"cast(${w8.pow(j)} as decimal(12,9))")
        .mkString("array(", ", ", ")")
      // den(m) = Σ_{j<m} 0.8^j = 5·(1 − 0.8^m), exact decimal
      val DENS = (1 to 10)
        .map(m => s"cast(${(BigDecimal(1) - w8.pow(m)) * 5} as decimal(12,9))")
        .mkString("array(", ", ", ")")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-9, Window.currentRow)
      t(s, dir, "events")
        .withColumn("l",
          collect_list(expr("cast(value as decimal(20,6))")).over(w))
        .selectExpr("user_id", "event_id", "value",
          // the merge re-cast keeps the accumulator type fixed (decimal
          // + grows precision by 1 per step); scale stays 15 and the
          // sum needs < 15 integral digits, so the cast is lossless
          s"""aggregate(sequence(1, size(l)), cast(0 as decimal(30,15)),
             |  (acc, i) -> cast(acc + element_at(l, i) * element_at($W, size(l) - i + 1) as decimal(30,15))) as num""".stripMargin,
          s"element_at($DENS, size(l)) as den")
        .selectExpr("user_id", "event_id", "value",
          "cast(cast(cast(num as double) / cast(den as double) as decimal(16,6)) as double) as ewma10")
        .orderBy("event_id")
    },

    // PEAK DRAWDOWN (running-max decline): per user, the largest
    // peak-to-trough drop of the reading series — the cumulative-
    // extreme analytic (risk/regression detection) that needs a
    // RUNNING max, not r32's frame average. One user_id-bounded window
    // carries the running peak; drawdown = peak − value is a single
    // float subtraction on identical operands and max/count are
    // order-free, so the whole query is engine-exact with no rounding.
    "r66_drawdown" -> { (s, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("peak", max(col("value")).over(w))
        .selectExpr("user_id", "peak", "peak - value as dd")
        .groupBy("user_id")
        .agg(cnt.as("n_events"), max(col("peak")).as("max_value"),
          max(col("dd")).as("max_drawdown"))
        .selectExpr("user_id", "cast(n_events as bigint) as n_events",
          "max_value", "max_drawdown")
        .orderBy("user_id")
    },

    // GRID RESAMPLE (downsample to a regular calendar grid): one
    // daily snapshot row per user per day in the user's active span,
    // carrying the latest reading at-or-before each grid point and its
    // staleness — the irregular→regular conversion every dashboard/
    // feature-store pipeline runs. Spark-first shape: the grid is a
    // per-user sequence() explode (no driver-side calendar), and the
    // as-of fill is r35's tag+union+window — grid points and readings
    // interleave on ONE user_id shuffle, so no per-grid-point subquery
    // and no range join. Ties at a grid point resolve by (ts,
    // event_id), deterministic on both engines (the oracle uses a
    // LATERAL top-1, a completely different algorithm).
    "r63_grid_resample" -> { (s, dir) =>
      val e = t(s, dir, "events")
      val grid = e.groupBy("user_id")
        .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
        .selectExpr("user_id",
          "explode(sequence(date_trunc('DAY', t0), date_trunc('DAY', t1), interval 1 day)) as tm")
        .selectExpr("user_id", "tm", "cast(1 as int) as tag",
          "cast(null as double) as v", "cast(null as timestamp) as ets",
          "cast(null as bigint) as eid")
      val readings = e.selectExpr("user_id", "ts as tm", "cast(0 as int) as tag",
        "value as v", "ts as ets", "event_id as eid")
      val w = Window.partitionBy("user_id")
        .orderBy(col("tm"), col("tag"), col("eid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      readings.unionByName(grid)
        .withColumn("v_asof", last(col("v"), ignoreNulls = true).over(w))
        .withColumn("asof_ts", last(col("ets"), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .selectExpr("user_id", "tm as grid_ts", "v_asof",
          """case when asof_ts is null then cast(-1 as bigint)
            |  else unix_micros(tm) - unix_micros(asof_ts) end as age_us""".stripMargin)
        .orderBy("user_id", "grid_ts")
    },

    // GAPS-AND-ISLANDS (activity streaks): per user, merge consecutive
    // active calendar days into streaks and report count/longest — the
    // classic retention/engagement reshaping neither engine has as a
    // primitive. date − row_number is constant within a consecutive
    // run, so streaks are one more keyed aggregation after the distinct
    // — two shuffles total (user_id+day distinct, then user_id), the
    // ranking window partition-bounded by user. Integer/date arithmetic
    // only ⇒ engine-exact; the island key never leaves the plan.
    "r62_day_streaks" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("d"))
      val days = t(s, dir, "events")
        .selectExpr("user_id", "cast(ts as date) as d").distinct()
      days
        .withColumn("rn", row_number().over(w))
        .withColumn("grp", expr("date_sub(d, rn)"))
        .groupBy("user_id", "grp").agg(cnt.as("len"))
        .groupBy("user_id")
        .agg(sum(col("len")).as("nd"), cnt.as("n_streaks"),
          max(col("len")).as("max_streak"))
        .selectExpr("user_id", "cast(nd as bigint) as n_active_days",
          "n_streaks", "max_streak")
        .orderBy("user_id")
    },

    // PER-GROUP ARGMAX (mode): each user's most frequent event type,
    // ties broken lexicographically. groupBy + ranking window — the
    // count aggregation is map-side partial, the window shuffles only
    // the (user, type, n) aggregate rows.
    "r40_user_top_event" -> { (s, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("n").desc, col("event_type"))
      t(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(cnt.as("n"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select("user_id", "event_type", "n")
        .orderBy("user_id")
    },
  )

  val oracleSql: Map[String, String] = Map(
    "r64_rolling_median" ->
      """SELECT user_id, event_id, value,
        |  QUANTILE_DISC(value, 0.5) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med5
        |FROM events ORDER BY event_id""".stripMargin,
    "r66_drawdown" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MAX(peak) AS max_value, MAX(peak - value) AS max_drawdown
        |FROM (SELECT user_id, value,
        |        MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |      FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // rn self-join + weights VALUES table — order-free exact decimal
    // sums, same as the Spark side's positional fold (see scaladoc).
    "r65_ewma_smooth" ->
      """WITH r AS (SELECT user_id, event_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |       FROM events),
        |w(j, wt) AS (VALUES
        |  (0, CAST(1.0 AS DECIMAL(12,9))), (1, CAST(0.8 AS DECIMAL(12,9))),
        |  (2, CAST(0.64 AS DECIMAL(12,9))), (3, CAST(0.512 AS DECIMAL(12,9))),
        |  (4, CAST(0.4096 AS DECIMAL(12,9))), (5, CAST(0.32768 AS DECIMAL(12,9))),
        |  (6, CAST(0.262144 AS DECIMAL(12,9))), (7, CAST(0.2097152 AS DECIMAL(12,9))),
        |  (8, CAST(0.16777216 AS DECIMAL(12,9))), (9, CAST(0.134217728 AS DECIMAL(12,9))))
        |SELECT a.user_id, a.event_id, a.value,
        |  CAST(CAST(CAST(CAST(SUM(CAST(b.value AS DECIMAL(20,6)) * w.wt) AS VARCHAR) AS DOUBLE)
        |    / CAST(SUM(w.wt) AS DOUBLE) AS DECIMAL(16,6)) AS DOUBLE) AS ewma10
        |FROM r a JOIN r b ON a.user_id = b.user_id
        |  AND b.rn BETWEEN a.rn - 9 AND a.rn
        |JOIN w ON w.j = a.rn - b.rn
        |GROUP BY a.user_id, a.event_id, a.value
        |ORDER BY a.event_id""".stripMargin,
    // LATERAL top-1 per grid point — a structurally different
    // algorithm than the Spark union+window plan (and deterministic
    // under ts ties, unlike ASOF), so agreement is a real cross-check.
    "r63_grid_resample" ->
      """WITH b AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t0,
        |             MAX(CAST(ts AS TIMESTAMP)) AS t1
        |           FROM events GROUP BY user_id),
        |grid AS (SELECT user_id,
        |           unnest(generate_series(date_trunc('day', t0),
        |             date_trunc('day', t1), INTERVAL 1 DAY)) AS grid_ts
        |         FROM b)
        |SELECT g.user_id, g.grid_ts, l.v AS v_asof,
        |  CASE WHEN l.ts0 IS NULL THEN CAST(-1 AS BIGINT)
        |       ELSE epoch_us(g.grid_ts) - epoch_us(l.ts0) END AS age_us
        |FROM grid g LEFT JOIN LATERAL (
        |  SELECT e.value AS v, e.ts AS ts0 FROM events e
        |  WHERE e.user_id = g.user_id AND e.ts <= g.grid_ts
        |  ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) l ON TRUE
        |ORDER BY g.user_id, g.grid_ts""".stripMargin,
    "r62_day_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |g AS (SELECT user_id, d,
        |        d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
        |      FROM d),
        |st AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
        |       FROM g GROUP BY user_id, grp)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_streaks, MAX(len) AS max_streak
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin,
    "r61_interp_fill" ->
      """WITH e AS (SELECT event_id, user_id, ts, epoch_us(ts) AS us,
        |             CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
        |           FROM events),
        |n AS (SELECT event_id, user_id, us, v,
        |  LAST_VALUE(v IGNORE NULLS) OVER wb AS pv,
        |  LAST_VALUE(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS) OVER wb AS pus,
        |  FIRST_VALUE(v IGNORE NULLS) OVER wf AS nv,
        |  FIRST_VALUE(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS) OVER wf AS nus
        |FROM e
        |WINDOW wb AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id, v,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NULL THEN nv
        |       WHEN nv IS NULL THEN pv
        |       ELSE CAST(CAST(pv + (nv - pv) * (CAST(us - pus AS DOUBLE) / CAST(nus - pus AS DOUBLE)) AS DECIMAL(16,6)) AS DOUBLE)
        |  END AS v_interp
        |FROM n ORDER BY event_id""".stripMargin,
    "r60_gap_fill" ->
      """WITH e AS (SELECT event_id, user_id, ts,
        |             CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
        |           FROM events)
        |SELECT event_id, user_id, v,
        |  LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf,
        |  FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_bfill
        |FROM e ORDER BY event_id""".stripMargin,
    "r41_range_window" ->
      """SELECT user_id, event_id,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(20,2))) OVER w AS VARCHAR) AS DOUBLE) AS val_win
        |FROM (SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    // DuckDB's native ASOF JOIN — a different algorithm than the Spark
    // union+window plan, so agreement is a real cross-check.
    "r35_asof_join" ->
      """SELECT p.event_id, p.user_id, p.ts, v.ts AS last_view_ts,
        |  CASE WHEN v.ts IS NULL THEN CAST(-1 AS BIGINT)
        |       ELSE epoch_us(p.ts) - epoch_us(v.ts) END AS gap_us
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY event_id""".stripMargin,
    "r36_range_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |pri AS (SELECT user_id, ts AS pts, value AS pval FROM events
        |        WHERE event_type IN ('view', 'click')),
        |m AS (SELECT p.event_id, CAST(COUNT(*) AS BIGINT) AS n_prior,
        |        CAST(CAST(SUM(CAST(pval AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS val_prior
        |      FROM p JOIN pri ON p.user_id = pri.user_id
        |        AND epoch_us(pts) < epoch_us(p.ts)
        |        AND epoch_us(pts) >= epoch_us(p.ts) - 600000000
        |      GROUP BY p.event_id)
        |SELECT p.event_id, p.user_id, p.ts,
        |  COALESCE(n_prior, 0) AS n_prior, COALESCE(val_prior, 0.0) AS val_prior
        |FROM p LEFT JOIN m ON p.event_id = m.event_id
        |ORDER BY p.event_id""".stripMargin,
    "r37_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN LAG(ts, 1) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_id, ts, value,
        |        SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS session_id
        |      FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "r38_price_deciles" ->
      """SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM (SELECT o_totalprice,
        |        CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS decile
        |      FROM orders)
        |GROUP BY decile ORDER BY decile""".stripMargin,
    "r39_unpivot_metrics" ->
      """WITH agg AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |    CAST(CAST(SUM(CAST(l_discount AS DECIMAL(22,4))) AS VARCHAR) AS DOUBLE) AS sum_disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, value FROM (
        |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM agg
        |  UNION ALL
        |  SELECT l_returnflag, 'sum_price', sum_price FROM agg
        |  UNION ALL
        |  SELECT l_returnflag, 'sum_disc', sum_disc FROM agg)
        |ORDER BY l_returnflag, metric""".stripMargin,
    "r46_frame_values" ->
      """SELECT user_id, event_id,
        |  FIRST_VALUE(event_type) OVER w AS first_in_frame,
        |  LAST_VALUE(event_type) OVER w AS last_in_frame,
        |  NTH_VALUE(value, 2) OVER w AS mid_val
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
        |ORDER BY user_id, event_id""".stripMargin,
    "r43_topk_per_key" ->
      """SELECT event_type, rk, event_id, user_id, value FROM (
        |  SELECT event_type, event_id, user_id, value,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS BIGINT) AS rk
        |  FROM events)
        |WHERE rk <= 10 ORDER BY event_type, rk""".stripMargin,
    "r40_user_top_event" ->
      """SELECT user_id, event_type, n FROM (
        |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY COUNT(*) DESC, event_type) AS rk
        |  FROM events GROUP BY user_id, event_type)
        |WHERE rk = 1 ORDER BY user_id""".stripMargin,
  )
}
