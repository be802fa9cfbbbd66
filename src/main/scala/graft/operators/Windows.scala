package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{QueryPack, Tables}
import graft.engine.Tables.dec2

/** Window functions + temporal joins (SURVEY.md §2B: q_window_*,
  * q_join_range, q_join_asof — generalizing the reference's top-1-by-
  * mtime argmax, crocus base_scraper.py:96, and snapshot time-series
  * comparisons, §1.1).
  *
  * Scale notes:
  *  - every window here partitions by a key (nation / user / customer) —
  *    one hash shuffle, state bounded per key; no global windows;
  *  - the range join buckets both sides by hour so the join is
  *    equi-key (user_id, bucket) + residual range filter — at 100 TB
  *    this avoids the quadratic per-user blow-up of a pure theta join;
  *  - the as-of join is a union + running `last(ignoreNulls)` window —
  *    a single shuffle by user_id, no point lookups (no native as-of
  *    join in Spark; same rewrite Flink/Trino docs recommend).
  */
object Windows extends QueryPack {

  override def queries: Map[String, Q] = Map(
    // Top-N per group — generalized argmax (crocus base_scraper.py:96).
    "q_window_rank" -> ((s, d) => {
      val wTies = Window.partitionBy(col("c_nationkey")).orderBy(desc("c_acctbal"))
      val wTotal = Window.partitionBy(col("c_nationkey"))
        .orderBy(desc("c_acctbal"), col("c_custkey"))
      Tables.t(s, d, "customer")
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
        .withColumn("rn", row_number().over(wTotal))
        .withColumn("rnk", rank().over(wTies))
        .withColumn("drnk", dense_rank().over(wTies))
        .filter(col("rn") <= 5)
        .orderBy(col("c_nationkey"), col("rn"))
    }),

    // Frame navigation: first/last/nth value over full-partition frames.
    "q_window_firstlast" -> ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .withColumn("seg_min_cust", first(col("c_custkey")).over(w))
        .withColumn("seg_max_cust", last(col("c_custkey")).over(w))
        .withColumn("seg_third_cust", nth_value(col("c_custkey"), 3).over(w))
        .orderBy(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
    }),

    // Distribution functions: ntile / percent_rank / cume_dist.
    "q_window_dist" -> ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .withColumn("nt", ntile(4).over(w).cast("int"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .orderBy(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
    }),

    "q_window_analytic" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("next_value", lead(col("value"), 1).over(w))
        .withColumn("delta", col("value") - col("prev_value"))
        .orderBy(col("event_id"))
    }),

    "q_window_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mov = w.rowsBetween(-2, Window.currentRow)
      Tables.t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("running_spend",
          sum(dec2(col("o_totalprice"))).over(cum).cast("double"))
        .withColumn("mov3_avg",
          sum(dec2(col("o_totalprice"))).over(mov).cast("double") /
            count(lit(1)).over(mov))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // RANGE frame (value-based, vs the ROWS frames above): 30-day
    // trailing spend per customer — rows with equal order-days share
    // the same frame regardless of physical position.
    "q_window_range_frame" -> ((s, d) => {
      val days = datediff(col("o_orderdate").cast("date"),
        lit(java.sql.Date.valueOf("1995-01-01")))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("days"))
        .rangeBetween(-30, Window.currentRow)
      Tables.t(s, d, "orders")
        .withColumn("days", days)
        .withColumn("trail30_spend",
          sum(dec2(col("o_totalprice"))).over(w).cast("double"))
        .withColumn("trail30_n", count(lit(1)).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("days"),
          col("trail30_spend"), col("trail30_n"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Time-series resampling: 30-minute grid per user with last-
    // observation-carried-forward fill — the canonical financial
    // time-series normalization (sparse ticks → regular grid).
    "q_resample_ffill" -> ((s, d) => {
      def tts(x: String) = lit(java.sql.Timestamp.valueOf(x))
      val users = Tables.t(s, d, "events").filter(col("user_id") < 5)
      val ev = users.filter(col("ts") < tts("2024-01-03 00:00:00"))
      val b = ev
        .withColumn("slot", timestamp_seconds(
          (unix_seconds(col("ts").cast("timestamp")).divide(1800)).cast("long") * 1800)
          .cast("timestamp_ntz"))
        .groupBy(col("user_id"), col("slot"))
        .agg(max_by(col("value"),
          unix_micros(col("ts").cast("timestamp"))).as("v"))
      val grid = users.select(col("user_id")).distinct()
        .crossJoin(s.range(1).select(explode(sequence(
          tts("2024-01-01 00:00:00").cast("timestamp"),
          tts("2024-01-02 23:30:00").cast("timestamp"),
          expr("INTERVAL 30 MINUTES"))).as("slot0"))
          .select(col("slot0").cast("timestamp_ntz").as("slot")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("slot"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(b, Seq("user_id", "slot"), "left")
        .withColumn("v_ffill", last(col("v"), ignoreNulls = true).over(w))
        .orderBy(col("user_id"), col("slot"))
    }),

    // Native as-of join (custom LogicalPlan + Strategy + BinaryExecNode,
    // plans/AsOfJoin.scala): same semantics as q_join_asof, single
    // sort-merge pass instead of union + window.
    "q_join_asof_native" -> ((s, d) => {
      val ev = Tables.t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      graft.plans.AsOf.join(purchases, clicks, "user_id", "c_user", "ts", "c_ts",
          rightTieBreak = "click_id") // ties: largest click_id, like the rewrite's frame order
        .select(col("event_id"), col("user_id"), col("ts"), col("click_id"))
        .orderBy(col("event_id"))
    }),

    // Native forward as-of: AsOf.joinForward (backward exec over
    // negated time — zero new exec code). Same result as the
    // q_join_asof_fwd window rewrite, single merge pass.
    "q_join_asof_fwd_native" -> ((s, d) => {
      val ev = Tables.t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      graft.plans.AsOf.joinForward(clicks, purchases, "user_id", "p_user",
          "ts", "p_ts", rightTieBreak = "p_id")
        .select(col("event_id"), col("user_id"), col("ts"), col("p_id"))
        .orderBy(col("event_id"))
    }),

    // Range join: ordered event pairs within 1 hour per user.
    // Equi-join on (user_id, hour bucket) + residual filter: the left
    // side probes its own bucket and the next one.
    "q_join_range" -> ((s, d) => {
      val e = Tables.t(s, d, "events").select(col("event_id"), col("user_id"), col("ts"))
      val probe = e
        .withColumn("bucket",
          explode(array(date_trunc("hour", col("ts")),
            date_trunc("hour", col("ts")) + expr("INTERVAL 1 HOUR"))))
      val build = e
        .withColumnRenamed("event_id", "event_id2")
        .withColumnRenamed("ts", "ts2")
        .withColumn("bucket", date_trunc("hour", col("ts2")))
      probe.join(build, Seq("user_id", "bucket"))
        .filter(col("event_id2") =!= col("event_id") &&
          col("ts2") >= col("ts") &&
          col("ts2") <= col("ts") + expr("INTERVAL 1 HOUR"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    }),

    // As-of join: for each purchase, the latest click at-or-before it
    // (same user). Union + running last(ignoreNulls) — clicks sort
    // before purchases at equal ts to give >= semantics, matching the
    // DuckDB ASOF JOIN oracle.
    "q_join_asof" -> ((s, d) => {
      val ev = Tables.t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
          lit(null).cast("long").as("p_id"), lit(0).as("side"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(null).cast("long").as("click_id"),
          col("event_id").as("p_id"), lit(1).as("side"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("side"), coalesce(col("click_id"), col("p_id")))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("asof_click", last(col("click_id"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("p_id").as("event_id"), col("user_id"), col("ts"),
          col("asof_click").as("click_id"))
        .orderBy(col("event_id"))
    }),

    // Forward as-of: each click matched to the NEXT purchase at ts >=
    // click ts (attribution direction) — the mirrored union+window
    // rewrite, traversed in DESCENDING order with a running
    // (unboundedPreceding, currentRow) frame: Spark evaluates that
    // frame incrementally (O(k) per partition) where the naive
    // (currentRow, unboundedFollowing) frame re-scans the tail per row
    // (O(k²) — UnboundedFollowingWindowFunctionFrame). In desc
    // traversal an equal-ts purchase (side=1) precedes the click, so
    // it is visible in the click's frame — DuckDB ASOF `<=`
    // inclusivity — and last(ignoreNulls) picks the purchase with the
    // smallest ascending (ts, id), i.e. nearest-following, min id.
    "q_join_asof_fwd" -> ((s, d) => {
      val ev = Tables.t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
          lit(null).cast("long").as("p_id"), lit(0).as("side"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(null).cast("long").as("click_id"),
          col("event_id").as("p_id"), lit(1).as("side"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(desc("ts"), desc("side"),
          desc_nulls_last("p_id"), desc_nulls_last("click_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("next_p", last(col("p_id"), ignoreNulls = true).over(w))
        .filter(col("side") === 0)
        .select(col("click_id").as("event_id"), col("user_id"), col("ts"),
          col("next_p").as("p_id"))
        .orderBy(col("event_id"))
    })
  )

  override def oracle: Map[String, String] = Map(
    "q_window_rank" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn,
        |  CAST(RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INT) AS rnk,
        |  CAST(DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INT) AS drnk
        |FROM customer QUALIFY rn <= 5
        |ORDER BY c_nationkey, rn""".stripMargin,

    "q_window_firstlast" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  FIRST_VALUE(c_custkey) OVER w AS seg_min_cust,
        |  LAST_VALUE(c_custkey) OVER w AS seg_max_cust,
        |  NTH_VALUE(c_custkey, 3) OVER w AS seg_third_cust
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin,

    "q_window_dist" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(NTILE(4) OVER w AS INT) AS nt,
        |  PERCENT_RANK() OVER w AS pr,
        |  CUME_DIST() OVER w AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin,

    "q_window_analytic" ->
      """SELECT event_id, user_id, ts, value,
        |  LAG(value, 1) OVER w AS prev_value,
        |  LEAD(value, 1) OVER w AS next_value,
        |  value - LAG(value, 1) OVER w AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "q_window_frame" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov3_avg
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_range_frame" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, days,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trail30_spend,
        |  COUNT(*) OVER w AS trail30_n
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY days
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_join_range" ->
      """SELECT e1.user_id, COUNT(*) AS n_pairs
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id AND e2.event_id <> e1.event_id
        |  AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
        |GROUP BY e1.user_id
        |ORDER BY e1.user_id""".stripMargin,

    "q_resample_ffill" ->
      """WITH grid AS (
        |  SELECT u.user_id, g.slot
        |  FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 5) u
        |  CROSS JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
        |      TIMESTAMP '2024-01-02 23:30:00', INTERVAL 30 MINUTE)) AS slot) g),
        |b AS (
        |  SELECT user_id,
        |    TIMESTAMP '1970-01-01' + (CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800) * INTERVAL '1 second' AS slot,
        |    arg_max(value, epoch_us(ts)) AS v
        |  FROM events WHERE user_id < 5 AND ts < TIMESTAMP '2024-01-03'
        |  GROUP BY 1, 2)
        |SELECT g.user_id, g.slot, b.v,
        |  last_value(b.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.slot
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
        |FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.slot = b.slot
        |ORDER BY g.user_id, g.slot""".stripMargin,

    "q_join_asof" ->
      """SELECT p.event_id, p.user_id, p.ts, c.event_id AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    "q_join_asof_native" ->
      """SELECT p.event_id, p.user_id, p.ts, c.event_id AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    // deterministic forward-asof oracle: DuckDB's ASOF picks an
    // ARBITRARY row among right-side ties at the matched ts; the
    // engine deterministically picks the smallest event id. Spell the
    // tiebreak out (nearest ts, then min id) so parity can never flake
    // on tie-bearing data.
    "q_join_asof_fwd" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts,
        |  (SELECT min(p.event_id) FROM p
        |    WHERE p.user_id = c.user_id AND p.ts =
        |      (SELECT min(p2.ts) FROM p p2
        |        WHERE p2.user_id = c.user_id AND p2.ts >= c.ts)) AS p_id
        |FROM c ORDER BY c.event_id""".stripMargin,

    "q_join_asof_fwd_native" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts,
        |  (SELECT min(p.event_id) FROM p
        |    WHERE p.user_id = c.user_id AND p.ts =
        |      (SELECT min(p2.ts) FROM p p2
        |        WHERE p2.user_id = c.user_id AND p2.ts >= c.ts)) AS p_id
        |FROM c ORDER BY c.event_id""".stripMargin
  )
}
