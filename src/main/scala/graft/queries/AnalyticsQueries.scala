package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.operators.Reuse

/** General analytics over the TPC-H-ish star schema + events stream table —
  * the engine's scan/filter/aggregate/join/window coverage beyond the
  * reference's fixed pipeline.
  *
  * Scale design notes, per query:
  *   - money sums use exact integer cents (`round(x*100) :: long`) so
  *     results are identical regardless of partial-aggregation order — both
  *     correctness (oracle hash) and determinism at 1000 executors;
  *   - dimension tables (region/nation/customer/supplier) are broadcast —
  *     no shuffle of the fact table for the join;
  *   - the only fact-table shuffles are the final groupBys on low-cardinality
  *     keys; AQE coalesces the post-shuffle partitions.
  */
object AnalyticsQueries {

  private def cents(c: Column): Column = round(c * 100).cast("long")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-style pricing summary: single scan, one shuffle on a
    // 6-value group key; all sums exact-integer.
    "q1_pricing_summary" -> { (s, dir) =>
      Graft.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .withColumn("ext_c", cents(col("l_extendedprice")))
        .withColumn("disc_c", cents(col("l_discount")))
        .withColumn("tax_c", cents(col("l_tax")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          (sum(col("ext_c")) / 100.0).as("sum_base_price"),
          (sum(col("ext_c") * (lit(100) - col("disc_c"))) / 10000.0).as("sum_disc_price"),
          (sum(col("ext_c") * (lit(100) - col("disc_c")) * (lit(100) + col("tax_c"))) / 1000000.0)
            .as("sum_charge"),
          round(sum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
          round(sum(col("ext_c")) / count(lit(1)) / 100.0, 6).as("avg_price"),
          round(sum(col("disc_c")) / count(lit(1)) / 100.0, 6).as("avg_disc"),
          count(lit(1)).as("count_order")
        )
    },

    // TPC-H Q3-style: broadcast customer dim, shuffle join orders⋈lineitem
    // on orderkey, top-10 by exact revenue.
    "q3_shipping_priority" -> { (s, dir) =>
      val cust = Graft.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val ord = Graft.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      val li = Graft.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
          .as("rev_c"))
        .select(
          col("l_orderkey"),
          (col("rev_c") / 10000.0).as("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(col("rev_c").desc, col("l_orderkey"))
        .drop("rev_c")
        .limit(10)
    },

    // TPC-H Q5-style: all dims broadcast, fact shuffles only for the final
    // per-nation aggregate.
    "q5_local_supplier_volume" -> { (s, dir) =>
      val region = Graft.region(s, dir).filter(col("r_name") === "ASIA")
      val nation = Graft.nation(s, dir)
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      val cust = Graft.customer(s, dir)
      val supp = Graft.supplier(s, dir)
      val ord = Graft.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      Graft.lineitem(s, dir)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg((sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount")))) / 10000.0)
          .as("revenue"))
    },

    // As-of join: for each purchase, the user's most recent click value at
    // or before the purchase time — one shuffle via the union +
    // carry-forward pattern (operators/AsofJoin); oracle uses DuckDB's
    // native ASOF JOIN.
    "asof_latest_click" -> { (s, dir) =>
      import graft.operators.AsofJoin
      val ev = Graft.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      // unique (user, ts) on the right: equal-timestamp clicks make the
      // as-of pick undefined (any engine may pick either); max(value) is
      // the order-free deterministic choice, applied identically in the
      // oracle (the orders_value_quartiles determinism rule)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts_us")
        .agg(max(col("value")).as("click_value"))
      AsofJoin.asofJoin(purchases, clicks, Seq("user_id"), "ts_us", Seq("click_value"))
    },

    // Hot-key-safe as-of join: identical output to `asof_latest_click` via
    // AsofJoin.asofJoinChunked (range-chunked local carry-forward + a
    // per-(chunk, key) stitch cascade) — the variant that survives one
    // device emitting a macroscopic share of the stream; see the operator
    // Scaladoc and the skew rehearsal in SCALE.md.
    "asof_latest_click_skewsafe" -> { (s, dir) =>
      import graft.operators.AsofJoin
      val ev = Graft.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      // unique (user, ts) on the right: equal-timestamp clicks make the
      // as-of pick undefined (any engine may pick either); max(value) is
      // the order-free deterministic choice, applied identically in the
      // oracle (the orders_value_quartiles determinism rule)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts_us")
        .agg(max(col("value")).as("click_value"))
      AsofJoin.asofJoinChunked(purchases, clicks, Seq("user_id"), "ts_us",
        Seq("click_value"), s.sparkContext.defaultParallelism * 4)
    },

    // Pure range join (no equality key): count ALL events inside 2-hour
    // incident windows opened by user 0's purchases — banded equi-join on
    // the bucket id instead of a nested-loop cross product
    // (operators/RangeJoin). Oracle: DuckDB's native inequality join.
    "range_join_incidents" -> { (s, dir) =>
      import graft.operators.RangeJoin
      val ev = Graft.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val windows = ev
        .filter(col("event_type") === "purchase" && col("user_id") === 0)
        .select(col("event_id").as("incident_id"), col("ts_us").as("lo"),
          (col("ts_us") + 7200000000L).as("hi"))
      val points = ev.select(col("event_id"), col("ts_us"))
      RangeJoin
        .bandedRangeJoin(points, windows, "ts_us", "lo", "hi", 7200000000L)
        .groupBy("incident_id")
        .agg(count(lit(1)).as("n_events_in_window"))
    },

    // Gap-based sessionization over the events stream: one shuffle on
    // user_id, session boundaries via lag, ids via running sum.
    "events_sessionize" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us")
      Graft.events(s, dir)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > 1800000000L, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(sum("new_session").as("n_sessions"), count(lit(1)).as("n_events"))
    },

    // Skew-safe sessionize: identical semantics to `events_sessionize`,
    // built for the hot-key regime the bare user-keyed window cannot
    // survive. `Window.partitionBy(user_id)` puts EVERY event of a user in
    // ONE task's sort — a device that emits 10% of a 100 TB stream becomes
    // a straggler no salting or AQE can split, because window partitions
    // (unlike join/agg skew) are never subdivided at runtime. Here the
    // stream is range-partitioned on (user_id, ts), so a hot user spans
    // many contiguous chunks: each chunk counts its local session starts
    // with a bounded-size window, then a stitch frame — ONE ROW PER
    // (chunk, user), i.e. ≤ #partitions rows per user regardless of data
    // volume — cancels the starts that a chunk boundary fabricated
    // (first event of a chunk within the gap threshold of the previous
    // chunk's last event). Within a user, partition id is monotone in ts
    // (range partitioning on the lexicographic key), so chunk adjacency
    // IS ts adjacency and the correction is exact — same trick as the
    // ev44 cue-chain walk. Cost on unskewed data: one extra (tiny)
    // grouped frame; the rehearsal in SCALE.md measures both variants on
    // a deliberately skewed corpus.
    "events_sessionize_skewsafe" -> { (s, dir) =>
      val gapUs  = 1800000000L
      val chunks = s.sparkContext.defaultParallelism * 4
      val wLocal = Window.partitionBy("pid", "user_id").orderBy("ts_us")
      val wStitch = Window.partitionBy("user_id").orderBy("pid")
      Graft.events(s, dir)
        .withColumn("ts_us", expr("ts div 1000"))
        .select("user_id", "ts_us")
        .repartitionByRange(chunks, col("user_id"), col("ts_us"))
        .withColumn("pid", spark_partition_id())
        .withColumn("prev_ts", lag(col("ts_us"), 1).over(wLocal))
        .groupBy("pid", "user_id")
        .agg(
          sum(when(col("prev_ts").isNull ||
            col("ts_us") - col("prev_ts") > gapUs, 1L).otherwise(0L)).as("starts"),
          count(lit(1)).as("n_chunk_events"),
          min("ts_us").as("first_ts"), max("ts_us").as("last_ts"))
        .withColumn("prev_last", lag(col("last_ts"), 1).over(wStitch))
        .withColumn("boundary_merge",
          when(col("prev_last").isNotNull &&
            col("first_ts") - col("prev_last") <= gapUs, 1L).otherwise(0L))
        .groupBy("user_id")
        .agg((sum("starts") - sum("boundary_merge")).cast("long").as("n_sessions"),
          sum("n_chunk_events").cast("long").as("n_events"))
    },

    // Event-type transition matrix (the Markov/path-analysis readout):
    // consecutive same-user events within the 30-min session gap,
    // counted per (prev_type → next_type) with the mean gap. One
    // user-keyed window (never a bare global order; event_id breaks ts
    // ties deterministically) into a low-cardinality type-pair agg.
    "events_transition_counts" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      Graft.events(s, dir)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("prev_type").isNotNull && col("gap_us") <= 1800000000L)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n_transitions"),
          // exact-decimal mean (ExactStats): cross-engine ulp-stable
          ExactStats.meanExact6(col("gap_us").cast("double") / 1000000.0,
            count(lit(1))).as("avg_gap_sec"))
    },

    // Conversion funnel view → click → purchase: first-occurrence times per
    // step from ONE conditional aggregation pass (no per-step self-joins);
    // ordered conversion is plain arithmetic on the three scalars.
    "events_funnel" -> { (s, dir) =>
      Graft.events(s, dir)
        .withColumn("ts_us", expr("ts div 1000"))
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts_us"))).as("first_view_us"),
          min(when(col("event_type") === "click", col("ts_us"))).as("first_click_us"),
          min(when(col("event_type") === "purchase", col("ts_us"))).as("first_purchase_us"))
        .withColumn("converted",
          col("first_view_us").isNotNull && col("first_click_us").isNotNull &&
            col("first_purchase_us").isNotNull &&
            col("first_view_us") < col("first_click_us") &&
            col("first_click_us") < col("first_purchase_us"))
    },

    // Daily rollup: day × type counts and exact-cents revenue.
    "events_daily_rollup" -> ((s, dir) =>
      Graft.events(s, dir)
        .groupBy(
          expr("ts div 86400000000000").as("day"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          (sum(cents(col("value"))) / 100.0).as("total_value"))),

    // TPC-H Q6-style: pure scan-side filters + one exact-cents aggregate —
    // the pushdown showcase (no joins, no wide shuffle).
    "q6_forecast_revenue" -> ((s, dir) =>
      Graft.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg((sum(cents(col("l_extendedprice")) * cents(col("l_discount"))) / 10000.0)
          .as("revenue"))),

    // Distinct aggregate: two-phase distinct count per day.
    "distinct_users_daily" -> ((s, dir) =>
      Graft.events(s, dir)
        .groupBy(expr("ts div 86400000000000").as("day"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))),

    // Rolling 7-day distinct users — the mergeable-sketch formulation:
    // per-day HLL (DataSketches) sketches built in ONE corpus pass, then
    // union-merged across each 7-day window on the tiny daily frame.
    // Mergeability is the whole point: rolling DISTINCT cannot be
    // composed from daily exact counts, and re-scanning the corpus per
    // window is 7× the IO at 100 TB. The exact rolling count is computed
    // here too as the oracle-shared audit; the estimate is reported only
    // through the deterministic within-bound boolean (the
    // approx_distinct_error pattern: both engines' estimators meet the
    // published bound, so the boolean is engine-stable where raw
    // estimates are not). Default lgK=12 ⇒ rsd ≈ 1.6%; bound 3.8σ.
    "events_rolling_distinct_7d" -> { (s, dir) =>
      val ev = Graft.events(s, dir)
        .select(expr("ts div 86400000000000").as("day"), col("user_id"))
      val daily = ev.groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
      val days  = daily.select(col("day").as("d0"))
      val win = days.join(daily, col("day").between(col("d0") - 6, col("d0")))
        .groupBy("d0")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
      val exact = broadcast(days)
        .join(ev, col("day").between(col("d0") - 6, col("d0")))
        .groupBy("d0")
        .agg(countDistinct("user_id").as("exact_users"))
      exact.join(win, "d0")
        .select(col("d0").as("day"), col("exact_users"),
          (abs(col("approx") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.06).as("within_bound"))
    },

    // Cohort retention matrix: users bucketed by first-seen day, then
    // distinct returning users per (cohort, day-offset). Both aggs and the
    // join are keyed on user_id, so the first-seen exchange is reused by
    // the join; the final agg runs on the narrow (cohort, offset) pair.
    "events_retention" -> { (s, dir) =>
      val ev = Graft.events(s, dir)
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val first = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.join(first, "user_id")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },

    // 7-day rolling aggregates per event type: daily pre-aggregation
    // bounds the window input to days × types, then a RANGE frame
    // PARTITIONED by type — never a global-order single-partition window;
    // sums are exact cents so frame evaluation order can't perturb the
    // doubles.
    "events_rolling_7d" -> { (s, dir) =>
      val daily = Graft.events(s, dir)
        .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_c"))
      val w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-6, 0)
      daily.select(
        col("event_type"), col("day"), col("n"),
        sum("n").over(w).as("n_7d"),
        (sum("value_c").over(w) / 100.0).as("value_7d"))
    },

    // The stream-stream interval join (StreamAggregates.intervalJoin)
    // in batch-parity mode, oracle-checked: every click by the same user
    // in the 30 minutes before each purchase — attribution-style
    // pairing. The streaming form is the same operator with bounded join
    // state (both sides watermarked).
    "events_click_attribution" -> { (s, dir) =>
      import graft.streaming.StreamAggregates
      val ev = Graft.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      StreamAggregates
        .intervalJoin(purchases, clicks, Seq("user_id"), "ts",
          before = "30 minutes", after = "0 seconds")
        .select(col("l_event_id").as("purchase_id"), col("r_event_id").as("click_id"))
    },

    // PRODUCTION quartile banding — the 100 TB shape: per-priority value
    // CUTOFFS from a deterministic 10% md5 sample (one slim scan of two
    // columns), exact interpolated percentiles of the SAMPLE (a few
    // hundred values per group), broadcast back, and assigned map-side
    // by comparison. NO per-priority partition sort anywhere, so a
    // skewed priority can never serialize the corpus; at larger corpora
    // the sample RATE shrinks to keep the cutoff pass' output bounded
    // while the assignment path is untouched. A group the sample misses
    // lands in quartile 4 via null-comparison semantics — identical in
    // both engines. Exact row-count ntile stays available as
    // orders_value_quartiles_exact, the banding trade's cross-check.
    "orders_value_quartiles" -> { (s, dir) =>
      val o = Graft.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val bucket = conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
      val cuts = o.filter(bucket < 10)
        .groupBy("o_orderpriority")
        .agg(percentile(col("o_totalprice"),
          array(lit(0.75), lit(0.5), lit(0.25))).as("cs"))
        .select(col("o_orderpriority"),
          round(element_at(col("cs"), 1), 6).as("c75"),
          round(element_at(col("cs"), 2), 6).as("c50"),
          round(element_at(col("cs"), 3), 6).as("c25"))
      o.join(broadcast(cuts), Seq("o_orderpriority"), "left")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          when(col("o_totalprice") >= col("c75"), 1L)
            .when(col("o_totalprice") >= col("c50"), 2L)
            .when(col("o_totalprice") >= col("c25"), 3L)
            .otherwise(4L).as("quartile"))
    },

    // Exact within-group quartiles via ntile over a TOTAL order
    // (totalprice + orderkey tiebreak — without it ntile is
    // nondeterministic across engines). Exact ntile needs the per-group
    // sort — the price of row-count-exact banding; the sampled-cutoff
    // form above is the primary at scale.
    "orders_value_quartiles_exact" -> { (s, dir) =>
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Graft.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        ntile(4).over(w).cast("long").as("quartile"))
    },

    // The custom-state sessionizer (streaming/StatefulSessions,
    // flatMapGroupsWithState) run in its batch-parity mode and
    // oracle-checked against the classic gaps-and-islands SQL — the
    // strongest check available for an operator whose streaming form
    // can't be SQL-mirrored: same fold, end-of-input close.
    "events_sessions_closed" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.StatefulSessions
      val ev = Graft.events(s, dir)
        .select(col("user_id"), expr("ts div 1000000").as("ts_ms"))
        .as[StatefulSessions.SessionEvent]
      StatefulSessions.sessions(ev, gapMs = 1800000L).toDF()
    },

    // Grouping-sets aggregate: one scan expands to (type, day) /
    // (type) / (day) / () grand-total rows map-side — the OLAP cube
    // rollup without four separate scans; grouping_id disambiguates
    // NULL-as-aggregated from NULL-in-data.
    "events_cube" -> ((s, dir) =>
      Graft.events(s, dir)
        .cube(col("event_type"), expr("ts div 86400000000000").as("day"))
        .agg(
          count(lit(1)).as("n"),
          (sum(cents(col("value"))) / 100.0).as("total_value"),
          grouping_id().as("gid"))),

    // Morton z-value over (user_id, day) — the write-side multi-dim
    // clustering key (operators/ZOrder.layout range-partitions on it so
    // parquet min/max stats prune on EITHER dimension); emitted per
    // event so the bit interleaving itself is oracle-checked.
    "events_zorder" -> ((s, dir) =>
      Graft.events(s, dir).select(
        col("event_id"),
        graft.operators.ZOrder
          .zvalue(Seq(col("user_id"), expr("ts div 86400000000000")), 16)
          .as("zval"))),

    // Daily-volume anomaly flags: day counts vs global mean/σ. Moments are
    // ONE scalar aggregate (exact integer sums) broadcast back over the
    // daily frame — no second scan and no all-days window on a single
    // partition; z-scores are identical double arithmetic in both engines
    // and are rounded BEFORE the threshold compare.
    "events_zscore_days" -> { (s, dir) =>
      val daily = Graft.events(s, dir)
        .groupBy(expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val moments = daily.agg(
        count(lit(1)).as("n_days"),
        sum("n").as("sn"),
        sum(col("n") * col("n")).as("sq"))
      val mu = col("sn").cast("double") / col("n_days")
      val z =
        round((col("n") - mu) / sqrt(col("sq").cast("double") / col("n_days") - mu * mu), 6)
      daily
        .crossJoin(broadcast(moments))
        .select(col("day"), col("n"), z.as("z"), (abs(z) > lit(1.5)).as("is_anomaly"))
    },

    // Anti join: customers with no orders (broadcast the smaller side of
    // the null-producing side is left to AQE).
    "customers_without_orders" -> { (s, dir) =>
      Graft.customer(s, dir)
        .join(Graft.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },

    // Semi join: customers having at least one high-value order.
    "customers_with_big_orders" -> { (s, dir) =>
      Graft.customer(s, dir)
        .join(Graft.orders(s, dir).filter(col("o_totalprice") > 400000.0),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
    },

    // Exact dedup, keep-first output: the canonical surviving rows.
    // min-per-group, NOT a rank window — the partial aggregation
    // collapses duplicates map-side before the shuffle, where the window
    // form shuffles and sorts every copy.
    "dedup_keep_first" -> { (s, dir) =>
      import graft.functions.TextFunctions.fingerprint
      Graft.documents(s, dir)
        .select(fingerprint(col("text")).as("fp"), col("doc_id"))
        .groupBy("fp")
        .agg(min("doc_id").as("doc_id"))
        .select(col("doc_id"), col("fp"))
    },

    // TPC-H Q12-style: priority-bucket line counts per linestatus.
    "q12_priority_buckets" -> { (s, dir) =>
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Graft.lineitem(s, dir)
        .join(Graft.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(high, 1L).otherwise(0L)).cast("long").as("high_line_count"),
          sum(when(!high, 1L).otherwise(0L)).cast("long").as("low_line_count"))
    },

    // TPC-H Q14-style: promo revenue share (exact cents; one broadcast dim).
    "q14_promo_revenue" -> { (s, dir) =>
      val li = Graft.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-02-01").cast("timestamp"))
      li.join(broadcast(Graft.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .agg(
          (sum(when(col("p_type") === "PROMO",
            cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
            .otherwise(0L)) / 10000.0).as("promo_revenue"),
          (sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount")))) / 10000.0)
            .as("total_revenue"))
    },

    // TPC-H Q18-style: large-quantity orders (HAVING over a fact rollup,
    // then broadcast joins to name the customer).
    "q18_large_orders" -> { (s, dir) =>
      val big = Graft.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
        .filter(col("total_qty") > 250)
      big.join(Graft.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Graft.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("l_orderkey").as("o_orderkey"),
          (cents(col("o_totalprice")) / 100.0).as("o_totalprice"), col("total_qty"))
    },

    // HyperLogLog++ sketch distinct — the sketch path for cardinalities at
    // 100 TB where exact distinct shuffles every key — via the
    // estimator-measurement pattern (embed_ivf_recall,
    // dedup_estimate_vs_exact): the HLL sketch value has no cross-engine
    // oracle, but |approx − exact| / exact against the configured rsd's
    // 3σ bound IS oracle-checkable — the sketch is hash-based, not
    // randomized, so the boolean is stable for a given dataset. (A bare
    // sketch-value query existed through r4 as a permanently grey
    // no-oracle row; this checked invariant supersedes it. Accuracy vs
    // exact is also asserted in SaltingSpec.)
    "approx_distinct_error" -> ((s, dir) =>
      Graft.events(s, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("approx"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.06).as("within_bound"))),

    // Semi-structured extraction: JSON property pulled with the codegen'd
    // path expression (no UDF, no full from_json materialization — only
    // the one key is parsed), then a keyed aggregate. The standard
    // "props bag" pattern at event-log scale.
    "events_props_extract" -> ((s, dir) =>
      Graft.eventsFanned(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_high"))),

    // Rollup (grouping sets): day×type, per-day, and grand-total rows in
    // one pass — partial aggregation covers all grouping sets.
    "events_rollup" -> ((s, dir) =>
      Graft.events(s, dir)
        .rollup(expr("ts div 86400000000000").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("value"))) / 100.0).as("total_value"))),

    // Skew-safe two-phase aggregation: partials on (key, deterministic
    // salt) then merge — any single task's group bounded at ~1/16 of the
    // hottest key. The shared oracle proves result identity with a plain
    // group-by; exact integer cents make the partial order irrelevant.
    "events_type_counts_salted" -> { (s, dir) =>
      import graft.operators.Salting
      Graft.events(s, dir)
        .withColumn("__salt", Salting.salt(col("event_id"), 16))
        .groupBy(col("event_type"), col("__salt"))
        .agg(count(lit(1)).as("pn"), sum(cents(col("value"))).as("pc"))
        .groupBy("event_type")
        .agg(sum("pn").cast("long").as("n"),
          (sum("pc") / 100.0).as("total_value"))
    },

    // Exact interpolated percentiles per event type (single shuffle; both
    // engines use linear interpolation on the sorted values).
    "value_percentiles" -> ((s, dir) =>
      Graft.events(s, dir)
        .groupBy("event_type")
        .agg(percentile(col("value"), array(lit(0.5), lit(0.9), lit(0.99))).as("ps"))
        .select(
          col("event_type"),
          round(element_at(col("ps"), 1), 6).as("p50"),
          round(element_at(col("ps"), 2), 6).as("p90"),
          round(element_at(col("ps"), 3), 6).as("p99"))),

    // Quantile-sketch percentiles with an oracle-checked rank bound —
    // the fourth member of the sketch family (HLL cardinality, Bloom
    // membership, CMS frequency, quantile summary): exact percentile
    // materializes every group's full value multiset, while
    // percentile_approx folds it into a fixed-size mergeable summary
    // whose guarantee |rank(x) − q·N| ≤ N/accuracy is checkable without
    // a cross-engine sketch oracle. The estimate itself can depend on
    // partition merge order, but the BOUND holds on every merge order,
    // so the emitted booleans are stable — the same
    // estimator-measurement pattern as approx_distinct_error. Rank is
    // measured both sides of ties (count ≤ and count <) so duplicated
    // values can't fake a violation.
    "value_percentiles_sketch" -> { (s, dir) =>
      val acc = 1000
      val ev  = Graft.events(s, dir).select(col("event_type"), col("value"))
      val approx = ev.groupBy("event_type")
        .agg(percentile_approx(col("value"),
          array(lit(0.5), lit(0.9)), lit(acc)).as("ap"))
        .select(col("event_type").as("et"),
          element_at(col("ap"), 1).as("a50"), element_at(col("ap"), 2).as("a90"))
      def ok(a: Column, q: Double, n: Column): Column = {
        val slack = n.cast("double") / acc + lit(1.0)
        val le = sum(when(col("value") <= a, 1L).otherwise(0L)).cast("double")
        val lt = sum(when(col("value") < a, 1L).otherwise(0L)).cast("double")
        (le >= n.cast("double") * q - slack) && (lt <= n.cast("double") * q + slack)
      }
      // n counts only the non-null values the sketch saw (count(*) would
      // inflate the demanded rank past what any correct sketch can meet);
      // null-safe join key so a NULL event_type group survives to match
      // the oracle's GROUP BY
      val n = count(col("value"))
      ev.join(broadcast(approx), col("event_type") <=> col("et"))
        .groupBy("event_type")
        .agg(n.as("n"), ok(col("a50"), 0.5, n).as("p50_rank_ok"),
          ok(col("a90"), 0.9, n).as("p90_rank_ok"))
    },

    // Per-segment top-3 customers by exact order total: broadcast dim
    // join + the bounded TopKStructs aggregate (at most 2k rows per
    // segment cross the shuffle; the window form sorts every segment's
    // full customer list).
    "top_spenders_by_segment" -> { (s, dir) =>
      import graft.functions.TopKStructs.top_k_structs
      val totals = Graft.orders(s, dir)
        .groupBy("o_custkey")
        .agg(sum(cents(col("o_totalprice"))).as("spend_c"))
      totals.join(broadcast(Graft.customer(s, dir)),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(top_k_structs(
          struct((-col("spend_c")).as("neg"), col("c_custkey"), col("spend_c")), 3).as("top"))
        .select(col("c_mktsegment"), posexplode(col("top")))
        .select(col("c_mktsegment"), (col("pos") + 1).cast("long").as("rank"),
          col("col.c_custkey").as("c_custkey"),
          (col("col.spend_c") / 100.0).as("total_spend"))
    },

    // TPC-H Q4-shaped order-priority check: orders in a quarter with at
    // least one late-shipped line (EXISTS ≡ left-semi join; the schema
    // has no commitdate, so lateness = shipped after the order date).
    "q4_priority_check" -> { (s, dir) =>
      val ord = Graft.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
      val late = Graft.lineitem(s, dir)
      ord.join(late,
          ord("o_orderkey") === late("l_orderkey") &&
            late("l_shipdate") > ord("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    },

    // TPC-H Q10-shaped returned-item report: revenue lost to returns per
    // customer over a quarter, top 20. Fact⋈fact shuffle join on
    // orderkey; customer/nation dims broadcast; exact cents arithmetic;
    // top-20 via TakeOrderedAndProject (no global window).
    "q10_returned_revenue" -> { (s, dir) =>
      val ord = Graft.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = Graft.lineitem(s, dir).filter(col("l_returnflag") === "R")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Graft.customer(s, dir)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Graft.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
          .as("rev_c"))
        .orderBy(col("rev_c").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"),
          (col("rev_c") / 10000.0).as("revenue"), col("c_acctbal"), col("n_name"))
    },

    // TPC-H Q7-shaped volume shipping: revenue between a nation pair in
    // both directions by ship year. Lineitem⋈orders is the one fact
    // shuffle; supplier/customer/nation dims all broadcast; exact cents.
    "q7_volume_shipping" -> { (s, dir) =>
      val n1 = "NATION_1"; val n2 = "NATION_2"
      val supNat = Graft.supplier(s, dir)
        .join(Graft.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custNat = Graft.customer(s, dir)
        .join(Graft.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      Graft.lineitem(s, dir)
        .join(Graft.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(custNat), col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === n1 && col("cust_nation") === n2) ||
          (col("supp_nation") === n2 && col("cust_nation") === n1))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg((sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
          / 10000.0).as("revenue"))
    },

    // TPC-H Q8-shaped market share: one nation's share of a region's
    // revenue for a part type, by order year. Six-table join — part
    // filter prunes the fact scan early, every dimension broadcasts,
    // the share is a conditional-sum ratio on exact cents.
    "q8_market_share" -> { (s, dir) =>
      val regionNations = Graft.nation(s, dir)
        .join(broadcast(Graft.region(s, dir).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      val custs = Graft.customer(s, dir)
        .join(broadcast(regionNations), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey")
      val supNat = Graft.supplier(s, dir)
        .join(Graft.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val parts = Graft.part(s, dir).filter(col("p_type") === "ECONOMY")
        .select("p_partkey")
      val volC = cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount")))
      Graft.lineitem(s, dir)
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(Graft.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custs), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", volC).otherwise(lit(0L)))
            .cast("double") /
            sum(volC).cast("double"), 6).as("mkt_share"))
    },

    // TPC-H Q15-shaped top supplier: per-supplier revenue over a quarter,
    // then the suppliers achieving the global maximum (the max is ONE
    // scalar — computed as a 1-row aggregate and broadcast, not a global
    // window).
    "q15_top_supplier" -> { (s, dir) =>
      // rev feeds both the max and the equality join back — Reuse-pinned
      // (one small keyed frame) so the fact scan runs once, not twice
      val rev = Graft.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
          .as("rev_c"))
        .transform(Reuse.lineageCut(_))
      val top = rev.agg(max("rev_c").as("max_c"))
      rev.join(broadcast(top), col("rev_c") === col("max_c"))
        .join(broadcast(Graft.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), (col("rev_c") / 10000.0).as("total_revenue"))
    },

    // TPC-H Q17-shaped small-quantity revenue: lines under 20% of their
    // part's average quantity (the correlated subquery becomes one keyed
    // aggregate joined back — two passes over the filtered fact, both
    // keyed on partkey).
    "q17_small_quantity" -> { (s, dir) =>
      val li = Graft.lineitem(s, dir)
        .join(broadcast(Graft.part(s, dir).filter(col("p_brand") === "Brand#1")
          .select("p_partkey")), col("l_partkey") === col("p_partkey"))
      val avgQty = li.groupBy(col("l_partkey").as("ap_key"))
        .agg(avg("l_quantity").as("avg_qty"))
      li.join(avgQty, col("l_partkey") === col("ap_key"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg((sum(cents(col("l_extendedprice"))) / 100.0 / 7.0).as("avg_yearly"))
    },

    // TPC-H Q19-shaped disjunctive-predicate revenue: OR of
    // (brand, quantity-band) combinations over the part join — Catalyst
    // pushes the brand disjunction into the part scan; one broadcast
    // join, one scalar aggregate.
    "q19_branded_revenue" -> { (s, dir) =>
      val p = Graft.part(s, dir).select("p_partkey", "p_brand")
      Graft.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 30)))
        .agg((sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
          / 10000.0).as("revenue"))
    },

    // TPC-H Q22-shaped sales opportunity: rich (above the global
    // positive-balance average) customers in selected nations with no
    // orders — a scalar-subquery threshold (1-row broadcast) + an
    // anti-join, grouped per nation. Balance compares on exact cents.
    "q22_sales_opportunity" -> { (s, dir) =>
      val cust = Graft.customer(s, dir).filter(col("c_nationkey") < 5)
        .withColumn("bal_c", cents(col("c_acctbal")))
      val avgBal = cust.filter(col("bal_c") > 0).agg(avg("bal_c").as("avg_c"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("bal_c") > col("avg_c"))
        .join(Graft.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("long").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          (sum(col("bal_c")) / 100.0).as("totacctbal"))
    },

    // TPC-H Q2-shaped correlated min-cost subquery: for each part in the
    // size slice, the EUROPE suppliers achieving that part's minimum unit
    // cost (lineitem stands in for partsupp — the schema has no such
    // table). Unit cost is integer micro-cents so the min-equality join
    // is exact on both engines; the correlated subquery becomes one
    // keyed min joined back — no per-row re-execution; all dims broadcast,
    // the fact scan is the only shuffle source.
    "q2_min_cost_supplier" -> { (s, dir) =>
      val euroSupp = Graft.supplier(s, dir)
        .join(Graft.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Graft.region(s, dir).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val unitC = expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) * 100 div CAST(l_quantity AS BIGINT)")
      // cost feeds both the per-part min and the equality join back —
      // Reuse-pinned so the fact scan happens once, not twice
      val cost = Graft.lineitem(s, dir)
        .join(broadcast(euroSupp.select("s_suppkey")), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(unitC).as("unit_c"))
        .transform(Reuse.lineageCut(_))
      val best = cost.groupBy(col("l_partkey").as("bp_key")).agg(min("unit_c").as("best_c"))
      cost.join(best, col("l_partkey") === col("bp_key") && col("unit_c") === col("best_c"))
        .join(broadcast(Graft.part(s, dir).filter(col("p_size") === 15)),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(euroSupp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
          col("p_type"), (col("unit_c") / 10000.0).as("unit_cost"))
    },

    // TPC-H Q9-shaped profit by nation-year: revenue minus a cost
    // surrogate (10% of retail per unit — no partsupp supplycost in this
    // schema), exact integer arithmetic end to end. Part filter prunes
    // the fact scan; part/supplier/nation broadcast; lineitem⋈orders is
    // the one fact shuffle.
    "q9_product_profit" -> { (s, dir) =>
      val parts = Graft.part(s, dir).filter(col("p_name").like("%gear%"))
        .select(col("p_partkey"), cents(col("p_retailprice")).as("retail_c"))
      val supNat = Graft.supplier(s, dir)
        .join(Graft.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      Graft.lineitem(s, dir)
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(Graft.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))) -
          col("retail_c") * lit(10) * col("l_quantity").cast("long")) / 10000.0)
          .as("sum_profit"))
    },

    // TPC-H Q11-shaped important stock: per-part value held by one
    // nation's suppliers, kept where value exceeds a fraction of the
    // global total. The HAVING scalar subquery is a 1-row aggregate
    // broadcast back; the threshold compares INTEGERS (val_c × 1000 >
    // total_c) so no float-boundary flakes.
    "q11_important_stock" -> { (s, dir) =>
      val natSupp = Graft.supplier(s, dir)
        .join(broadcast(Graft.nation(s, dir).filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      // value feeds both the total and the threshold filter — Reuse-pinned
      // so the fact scan happens once
      val value = Graft.lineitem(s, dir)
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey").as("ps_partkey"))
        .agg(sum(cents(col("l_extendedprice"))).as("val_c"))
        .transform(Reuse.lineageCut(_))
      val total = value.agg(sum("val_c").as("total_c"))
      value.crossJoin(broadcast(total))
        .filter(col("val_c") * 1000 > col("total_c"))
        .select(col("ps_partkey"), (col("val_c") / 100.0).as("value"))
    },

    // TPC-H Q16-shaped supplier counts: distinct suppliers per
    // (brand, type, size) excluding a brand/type slice and a NOT-IN
    // supplier set (negative balances stand in for the complaints
    // filter). The NOT IN is a broadcast anti-join; part dims broadcast.
    // The distinct count is EXPLICITLY staged as dedup-then-count instead
    // of `countDistinct`: the partial (map-side) dedup on the full
    // (brand, type, size, suppkey) key collapses the fact rows before
    // either exchange, where the planner's distinct-aggregate rewrite was
    // measurably slower at sf0.1 (2.2 s → this shape), and the final
    // count is a plain partial-aggregable count.
    "q16_supplier_part_counts" -> { (s, dir) =>
      val parts = Graft.part(s, dir)
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO")
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val badSupp = Graft.supplier(s, dir).filter(col("s_acctbal") < 0).select("s_suppkey")
      Graft.lineitem(s, dir)
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
        // countDistinct ignored NULL suppkeys; the explicit staging must too
        .filter(col("l_suppkey").isNotNull)
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
        .groupBy("p_brand", "p_type", "p_size")
        .agg(count(lit(1)).as("supplier_cnt"))
    },

    // TPC-H Q20-shaped nested semi-joins: suppliers who shipped a heavy
    // quantity of any name-prefixed part in a year — supplier ⋉ (heavy
    // (supp, part) groups ⋉ prefix parts). Both semi-join sides reduce
    // before touching the supplier dim; nothing but the fact scan
    // shuffles.
    "q20_heavy_shippers" -> { (s, dir) =>
      val smallParts = Graft.part(s, dir).filter(col("p_name").like("small%"))
        .select("p_partkey")
      val heavy = Graft.lineitem(s, dir)
        .filter(year(col("l_shipdate")) === 1998)
        .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
        .filter(col("qty") > 50)
        .select("l_suppkey").distinct()
      Graft.supplier(s, dir)
        .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(Graft.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"))
    },

    // TPC-H Q21-shaped waiting suppliers: in finished multi-supplier
    // orders, the supplier who was the ONLY late one (ship > order + 365d
    // — the schema has no receipt/commit dates). The double correlation
    // (EXISTS other supplier / NOT EXISTS other late supplier) collapses
    // to one per-order aggregate — n_supp ≥ 2 ∧ n_late = 1 — joined back
    // to the late lines: two keyed shuffles total, no per-row subquery
    // re-execution.
    "q21_waiting_supplier" -> { (s, dir) =>
      // the joined fact feeds both the per-order aggregate and the late
      // lines — Reuse-pinned (corpus: lineitem-scale) so it runs once, not twice
      val li = Graft.lineitem(s, dir)
        .join(Graft.orders(s, dir).filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 365 DAYS")).as("late"))
        .transform(Reuse.lineageCut(_))
      val perOrder = li.groupBy(col("l_orderkey").as("po_key"))
        .agg(countDistinct("l_suppkey").as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("n_late"))
      li.filter(col("late"))
        .select("l_orderkey", "l_suppkey").distinct()
        .join(perOrder, col("l_orderkey") === col("po_key"))
        .filter(col("n_supp") >= 2 && col("n_late") === 1)
        .join(broadcast(Graft.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(countDistinct("l_orderkey").as("numwait"))
    },

    // TPC-H Q13-shaped customer distribution: orders per customer via one
    // outer join + keyed count, then the count histogram (two keyed
    // aggregations; no skew — o_custkey is near-uniform).
    "q13_order_distribution" -> { (s, dir) =>
      Graft.customer(s, dir)
        .join(Graft.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    }
  )

  val sql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  sum(ext_c) / 100.0 AS sum_base_price,
        |  sum(ext_c * (100 - disc_c)) / 10000.0 AS sum_disc_price,
        |  sum(ext_c * (100 - disc_c) * (100 + tax_c)) / 1000000.0 AS sum_charge,
        |  round(sum(l_quantity) / count(*), 6) AS avg_qty,
        |  round(sum(ext_c) / count(*) / 100.0, 6) AS avg_price,
        |  round(sum(disc_c) / count(*) / 100.0, 6) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM (
        |  SELECT *, CAST(round(l_extendedprice * 100) AS BIGINT) AS ext_c,
        |         CAST(round(l_discount * 100) AS BIGINT) AS disc_c,
        |         CAST(round(l_tax * 100) AS BIGINT) AS tax_c
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02')
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, rev_c / 10000.0 AS revenue,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
        |FROM (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |        (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_c
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-03-15'
        |    AND l_shipdate > TIMESTAMP '1998-03-15'
        |  GROUP BY 1, 2, 3)
        |ORDER BY rev_c DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier_volume" ->
      """SELECT n_name,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "events_funnel" ->
      """SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view_us,
        |  min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS first_click_us,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase_us,
        |  coalesce(
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) <
        |      min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |    AND min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) <
        |      min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END),
        |    FALSE) AS converted
        |FROM events GROUP BY user_id""".stripMargin,
    "asof_latest_click" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS click_value
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts_us, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us""".stripMargin,
    // identical output to asof_latest_click — the chunked plan is a
    // physical re-arrangement for the hot-key regime, not a semantic variant
    "asof_latest_click_skewsafe" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS click_value
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts_us, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us""".stripMargin,
    "range_join_incidents" ->
      """WITH w AS (SELECT event_id AS incident_id, epoch_us(ts) AS lo,
        |                  epoch_us(ts) + 7200000000 AS hi
        |           FROM events WHERE event_type = 'purchase' AND user_id = 0),
        |p AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events)
        |SELECT incident_id, CAST(count(*) AS BIGINT) AS n_events_in_window
        |FROM p JOIN w ON p.ts_us >= w.lo AND p.ts_us <= w.hi
        |GROUP BY incident_id""".stripMargin,
    "events_transition_counts" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |           FROM events),
        |l AS (SELECT user_id, event_type,
        |        lag(event_type) OVER (PARTITION BY user_id
        |                              ORDER BY ts_us, event_id) AS prev_type,
        |        ts_us - lag(ts_us) OVER (PARTITION BY user_id
        |                                 ORDER BY ts_us, event_id) AS gap_us
        |      FROM e)
        |SELECT prev_type, event_type AS next_type,
        |  CAST(count(*) AS BIGINT) AS n_transitions,
        |  ${ExactStats.sqlMeanExact6("CAST(gap_us AS DOUBLE) / 1000000.0")} + 0.0 AS avg_gap_sec
        |FROM l WHERE prev_type IS NOT NULL AND gap_us <= 1800000000
        |GROUP BY 1, 2""".stripMargin,
    "events_sessionize" ->
      """SELECT user_id,
        |  CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM (
        |    SELECT user_id, epoch_us(ts) AS ts_us,
        |           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |    FROM events))
        |GROUP BY user_id""".stripMargin,
    // identical output to events_sessionize — the skew-safe plan is a
    // physical re-arrangement, not a semantic variant
    "events_sessionize_skewsafe" ->
      """SELECT user_id,
        |  CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM (
        |    SELECT user_id, epoch_us(ts) AS ts_us,
        |           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |    FROM events))
        |GROUP BY user_id""".stripMargin,
    "events_daily_rollup" ->
      """SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           CAST(round(l_discount * 100) AS BIGINT)) / 10000.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin,
    "distinct_users_daily" ->
      """SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    "events_rolling_distinct_7d" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
        |d AS (SELECT DISTINCT day AS d0 FROM e)
        |SELECT d0 AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS within_bound
        |FROM d JOIN e ON e.day BETWEEN d0 - 6 AND d0
        |GROUP BY 1""".stripMargin,
    "events_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "events_rolling_7d" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |             CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n,
        |  CAST(sum(n) OVER w AS BIGINT) AS n_7d,
        |  CAST(sum(value_c) OVER w AS BIGINT) / 100.0 AS value_7d
        |FROM d
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    "events_click_attribution" ->
      """SELECT l.event_id AS purchase_id, r.event_id AS click_id
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'purchase' AND r.event_type = 'click'
        | AND epoch_us(r.ts) >= epoch_us(l.ts) - 1800000000
        | AND epoch_us(r.ts) <= epoch_us(l.ts)""".stripMargin,
    // the md5 draw, the sample percentiles and the banding comparisons
    // are all deterministic and engine-shared (the sample_stratified /
    // value_percentiles patterns composed)
    "orders_value_quartiles" ->
      """WITH s AS (
        |  SELECT o_orderpriority, o_totalprice FROM orders
        |  WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
        |             AS UBIGINT)::BIGINT % 100 < 10),
        |c AS (SELECT o_orderpriority,
        |        round(quantile_cont(o_totalprice, 0.75), 6) AS c75,
        |        round(quantile_cont(o_totalprice, 0.5), 6) AS c50,
        |        round(quantile_cont(o_totalprice, 0.25), 6) AS c25
        |      FROM s GROUP BY 1)
        |SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
        |  CAST(CASE WHEN o.o_totalprice >= c.c75 THEN 1
        |            WHEN o.o_totalprice >= c.c50 THEN 2
        |            WHEN o.o_totalprice >= c.c25 THEN 3
        |            ELSE 4 END AS BIGINT) AS quartile
        |FROM orders o LEFT JOIN c USING (o_orderpriority)""".stripMargin,
    "orders_value_quartiles_exact" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |                      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT)
        |    AS quartile
        |FROM orders""".stripMargin,
    "events_sessions_closed" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 1000 AS ts_ms FROM events),
        |x AS (SELECT user_id, ts_ms,
        |        CASE WHEN lag(ts_ms) OVER w IS NULL
        |               OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
        |y AS (SELECT user_id, ts_ms,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ms
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM x)
        |SELECT user_id, min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM y GROUP BY user_id, sid""".stripMargin,
    "events_cube" ->
      """SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value,
        |  CAST(GROUPING(event_type, epoch_us(ts) // 86400000000) AS BIGINT) AS gid
        |FROM events
        |GROUP BY CUBE(event_type, epoch_us(ts) // 86400000000)""".stripMargin,
    "events_zorder" ->
      """SELECT event_id,
        |  CAST(list_sum(list_transform(generate_series(0, 15),
        |    b -> (((least(user_id, 65535) >> b) & 1) << (2 * b + 1))
        |         + (((least(epoch_us(ts) // 86400000000, 65535) >> b) & 1) << (2 * b))))
        |    AS BIGINT) AS zval
        |FROM events""".stripMargin,
    "events_zscore_days" ->
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_days, CAST(sum(n) AS BIGINT) AS sn,
        |        CAST(sum(n * n) AS BIGINT) AS sq
        |      FROM d)
        |SELECT day, n,
        |  round((n - CAST(sn AS DOUBLE) / n_days)
        |        / sqrt(CAST(sq AS DOUBLE) / n_days
        |               - (CAST(sn AS DOUBLE) / n_days) * (CAST(sn AS DOUBLE) / n_days)),
        |        6) + 0.0 AS z,
        |  abs(round((n - CAST(sn AS DOUBLE) / n_days)
        |            / sqrt(CAST(sq AS DOUBLE) / n_days
        |                   - (CAST(sn AS DOUBLE) / n_days) * (CAST(sn AS DOUBLE) / n_days)),
        |            6)) > 1.5 AS is_anomaly
        |FROM d, m""".stripMargin,
    "customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "customers_with_big_orders" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""".stripMargin,
    "dedup_keep_first" ->
      """SELECT doc_id, fp FROM (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |         row_number() OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |                            ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1""".stripMargin,
    "q4_priority_check" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,
    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, rev_c / 10000.0 AS revenue, c_acctbal, n_name
        |FROM (
        |  SELECT c_custkey, c_name, c_acctbal, n_name,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |        (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_c
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1997-10-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY c_custkey, c_name, c_acctbal, n_name)
        |ORDER BY rev_c DESC, c_custkey LIMIT 20""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year, sum(vol_c) / 10000.0 AS revenue
        |FROM (
        |  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(round(l_discount * 100) AS BIGINT)) AS vol_c
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |     OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        |GROUP BY supp_nation, cust_nation, l_year""".stripMargin,
    "q8_market_share" ->
      """SELECT o_year,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_c ELSE 0 END) AS DOUBLE)
        |        / CAST(sum(vol_c) AS DOUBLE), 6) AS mkt_share
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, sn.n_name AS supp_nation,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(round(l_discount * 100) AS BIGINT)) AS vol_c
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE')
        |GROUP BY o_year""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |        (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_c
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, rev_c / 10000.0 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_c = (SELECT max(rev_c) FROM rev)""".stripMargin,
    "q17_small_quantity" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#1'),
        |aq AS (SELECT l_partkey AS ap_key, avg(l_quantity) AS avg_qty
        |       FROM li GROUP BY l_partkey)
        |SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0 AS avg_yearly
        |FROM li JOIN aq ON l_partkey = ap_key
        |WHERE l_quantity < 0.5 * avg_qty""".stripMargin,
    "q19_branded_revenue" ->
      """SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_sales_opportunity" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer WHERE c_nationkey < 5),
        |a AS (SELECT avg(bal_c) AS avg_c FROM c WHERE bal_c > 0)
        |SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
        |       CAST(count(*) AS BIGINT) AS numcust,
        |       sum(bal_c) / 100.0 AS totacctbal
        |FROM c, a
        |WHERE bal_c > avg_c
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders)
        |GROUP BY c_nationkey""".stripMargin,
    "approx_distinct_error" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS within_bound
        |FROM events GROUP BY 1""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH es AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |cost AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(round(l_extendedprice * 100) AS BIGINT) * 100
        |        // CAST(l_quantity AS BIGINT)) AS unit_c
        |  FROM lineitem JOIN es ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
        |  unit_c / 10000.0 AS unit_cost
        |FROM cost JOIN part ON l_partkey = p_partkey
        |JOIN es ON l_suppkey = s_suppkey
        |WHERE p_size = 15
        |  AND unit_c = (SELECT min(c2.unit_c) FROM cost c2
        |                WHERE c2.l_partkey = cost.l_partkey)""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |        (100 - CAST(round(l_discount * 100) AS BIGINT))
        |      - CAST(round(p_retailprice * 100) AS BIGINT) * 10 *
        |        CAST(l_quantity AS BIGINT)) / 10000.0 AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY 1, 2""".stripMargin,
    "q11_important_stock" ->
      """WITH v AS (
        |  SELECT l_partkey AS ps_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS val_c
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7'
        |  GROUP BY 1)
        |SELECT ps_partkey, val_c / 100.0 AS value
        |FROM v WHERE val_c * 1000 > (SELECT CAST(sum(val_c) AS BIGINT) FROM v)""".stripMargin,
    "q16_supplier_part_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,
    "q20_heavy_shippers" ->
      """SELECT s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE year(l_shipdate) = 1998
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(CAST(l_quantity AS BIGINT)) > 50)""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |l1 AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM li
        |  WHERE l_shipdate > o_orderdate + INTERVAL 365 DAY)
        |SELECT s_name, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
        |FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM li l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM li l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > l3.o_orderdate + INTERVAL 365 DAY)
        |GROUP BY s_name""".stripMargin,
    "q13_order_distribution" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "q12_priority_buckets" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_linestatus""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT
        |  sum(CASE WHEN p_type = 'PROMO'
        |           THEN CAST(round(l_extendedprice * 100) AS BIGINT) *
        |                (100 - CAST(round(l_discount * 100) AS BIGINT))
        |           ELSE 0 END) / 10000.0 AS promo_revenue,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) / 100.0 AS o_totalprice, total_qty
        |FROM (
        |  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250) b
        |JOIN orders ON b.l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "events_rollup" ->
      """SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
        |FROM events GROUP BY ROLLUP (day, event_type)""".stripMargin,
    "events_type_counts_salted" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
        |FROM events GROUP BY event_type""".stripMargin,
    "events_props_extract" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
        |  CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin,
    "value_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) + 0.0 AS p50,
        |  round(quantile_cont(value, 0.9), 6) + 0.0 AS p90,
        |  round(quantile_cont(value, 0.99), 6) + 0.0 AS p99
        |FROM events GROUP BY event_type""".stripMargin,
    "value_percentiles_sketch" ->
      """SELECT event_type, CAST(count(value) AS BIGINT) AS n,
        |  TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
        |FROM events GROUP BY event_type""".stripMargin,
    "top_spenders_by_segment" ->
      """SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rank, c_custkey,
        |       spend_c / 100.0 AS total_spend
        |FROM (
        |  SELECT c_mktsegment, c_custkey, spend_c,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY spend_c DESC, c_custkey) AS rnk
        |  FROM (
        |    SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_c
        |    FROM orders GROUP BY o_custkey) t
        |  JOIN customer ON o_custkey = c_custkey)
        |WHERE rnk <= 3""".stripMargin
  )
}
