package graft

import graft.functions.{Hashing, TextFunctions}
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The engine's query surface: every §2 capability as a
  * (name, Spark impl, DuckDB oracle) triple.
  *
  * Correctness discipline (see SURVEY §5):
  *  - measures are cast to DECIMAL before SUM (exact, order
  *    independent), results cast to DOUBLE (identical bits on both
  *    engines);
  *  - integer-ish outputs are BIGINT on both sides;
  *  - every query has a deterministic total ORDER BY;
  *  - both sides share identical expression structure wherever a
  *    result is not exactly representable.
  */
object Queries {

  final case class QueryDef(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private val d12 = DecimalType(12, 2)
  private val d4 = DecimalType(4, 2)
  private val d18 = DecimalType(18, 2)

  private def dec12(c: Column): Column = c.cast(d12)

  // ---------------------------------------------------------------
  // POS core (reference surface)
  // ---------------------------------------------------------------

  val dimLoad = QueryDef(
    "q_dim_load",
    (s, d) => {
      val nation = Tables.nation(s, d)
      val region = Tables.region(s, d)
      nation.join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"),
          col("n_name"), col("r_name"))
        .orderBy("n_nationkey")
    },
    Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, r_name
            FROM nation JOIN region ON n_regionkey = r_regionkey
            ORDER BY n_nationkey"""))

  val jsonExtract = QueryDef(
    "q_json_extract",
    (s, d) => {
      val ev = Tables.events(s, d)
      ev.withColumn("k", from_json(col("props"), lit("k INT")).getField("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          sum(dec12(col("value"))).cast("double").as("sum_value"))
        .select(col("k").cast("bigint").as("k"), col("n"), col("sum_value"))
        .orderBy("k")
    },
    Some("""SELECT CAST(CAST(json_extract(props, '$.k') AS INTEGER) AS BIGINT) AS k,
              COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1 ORDER BY k"""))

  val latestSnapshot = QueryDef(
    "q_latest_snapshot",
    (s, d) => Cdc.latestByKey(Tables.events(s, d),
        keys = Seq("user_id", "event_type"),
        seqCols = Seq("ts", "event_id"),
        payload = Seq("value"))
      .orderBy("user_id", "event_type"),
    Some("""SELECT user_id, event_type, ts, event_id, value FROM (
              SELECT user_id, event_type, ts, event_id, value,
                row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) WHERE rn = 1
            ORDER BY user_id, event_type"""))

  // Change-data-feed through the REAL CDC sink: two batches merged by
  // StatsTableSink.runMerge's per-batch body into a graft table with
  // its change feed on, then the second batch's generation read back
  // from the feed (its insert / update_postimage rows). The oracle
  // recomputes both snapshots (windowed latest-per-key) and diffs
  // them — insert = key born in batch 2, update = key whose winning
  // row changed. Delete transitions are MergeSinkSpec's job (they
  // need deleteWhen); this gate pins the diff arithmetic.
  val cdcChanges = QueryDef(
    "q_cdc_changes",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_cdf").toString + "/t"
      val b = Tables.events(s, d)
        .select("user_id", "event_type", "ts", "event_id", "value")
      DataSkipping.writeWithStats(s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), b.schema),
        root, Seq("user_id"), bloomCols = Nil, changeFeed = true)
      def merge(batch: DataFrame): Unit =
        graft.streaming.StatsTableSink.mergeBatch(s, batch, root,
          keyCols = Seq("user_id", "event_type"), seqCols = Seq("ts", "event_id"),
          deleteWhen = None, dropCols = Nil, txn = None)
      merge(b.filter(col("event_id") < 5000))
      merge(b.filter(col("event_id") >= 5000))
      val v = DataSkipping.tableVersions(s, root).max
      val ct = col(DataSkipping.ChangeTypeCol)
      DataSkipping.readChangeFeed(s, root, v, Some(v))
        .filter(ct.isin("insert", "update_postimage"))
        .select(when(ct === "insert", "insert").otherwise("update").as("change_type"),
          col("user_id"), col("event_type"), col("ts"), col("event_id"), col("value"))
        .orderBy("user_id", "event_type")
    },
    Some("""WITH s0 AS (
              SELECT user_id, event_type, ts, event_id, value FROM (
                SELECT user_id, event_type, ts, event_id, value,
                  row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE event_id < 5000) WHERE rn = 1
            ), s1 AS (
              SELECT user_id, event_type, ts, event_id, value FROM (
                SELECT user_id, event_type, ts, event_id, value,
                  row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) WHERE rn = 1
            )
            SELECT CASE WHEN s0.user_id IS NULL THEN 'insert' ELSE 'update' END AS change_type,
              s1.user_id, s1.event_type, s1.ts, s1.event_id, s1.value
            FROM s1 LEFT JOIN s0
              ON s1.user_id = s0.user_id AND s1.event_type = s0.event_type
            WHERE s0.user_id IS NULL
               OR s0.ts IS DISTINCT FROM s1.ts
               OR s0.event_id IS DISTINCT FROM s1.event_id
               OR s0.value IS DISTINCT FROM s1.value
            ORDER BY s1.user_id, s1.event_type"""))

  // SCD TYPE 2 — the other face of DLT apply_changes
  // (stored_as_scd_type=2): full per-key version history as validity
  // intervals, deletes closing intervals without opening one. The
  // oracle replays the identical window derivation in SQL; ~3.4% of
  // events (event_id % 29 = 7) act as delete markers, so interval
  // gaps (delete → later re-insert) are exercised by real data.
  val scd2 = QueryDef(
    "q_scd2",
    (s, d) => Cdc.scdType2(Tables.events(s, d),
        keys = Seq("user_id", "event_type"),
        seqCols = Seq("ts", "event_id"),
        payload = Seq("value"),
        deleteWhen = col("event_id") % 29 === 7)
      .orderBy(col("user_id"), col("event_type"),
        col("__start_ts"), col("__start_event_id")),
    Some("""WITH tagged AS (
              SELECT user_id, event_type, ts, event_id, value,
                     (event_id % 29 = 7) AS del
              FROM events),
            ordered AS (
              SELECT user_id, event_type, ts, event_id, value, del,
                     lead(ts) OVER w AS end_ts,
                     lead(event_id) OVER w AS end_event_id
              FROM tagged
              WINDOW w AS (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id))
            SELECT user_id, event_type, value,
                   ts AS __start_ts, event_id AS __start_event_id,
                   end_ts AS __end_ts, end_event_id AS __end_event_id
            FROM ordered WHERE NOT del
            ORDER BY user_id, event_type, __start_ts, __start_event_id"""))

  // Incremental SCD2 maintenance: history derived from the first
  // 80% of the change log, then the rest applied as a batch through
  // scdType2Apply (affected keys reconstructed + re-derived,
  // untouched keys passed through). The oracle is the FULL-log
  // derivation — the incremental result must be indistinguishable
  // from a from-scratch rebuild, splices, deletions and all.
  val scd2Apply = QueryDef(
    "q_scd2_apply",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select("user_id", "event_type", "ts", "event_id", "value")
      val del = col("event_id") % 29 === 7
      val keys = Seq("user_id", "event_type")
      val seqs = Seq("ts", "event_id")
      val pay = Seq("value")
      val hist = Cdc.scdType2(
        ev.filter(col("event_id") < 8000), keys, seqs, pay, del)
      Cdc.scdType2Apply(hist,
          ev.filter(col("event_id") >= 8000), keys, seqs, pay, del)
        .orderBy(col("user_id"), col("event_type"),
          col("__start_ts"), col("__start_event_id"))
    },
    Some("""WITH tagged AS (
              SELECT user_id, event_type, ts, event_id, value,
                     (event_id % 29 = 7) AS del
              FROM events),
            ordered AS (
              SELECT user_id, event_type, ts, event_id, value, del,
                     lead(ts) OVER w AS end_ts,
                     lead(event_id) OVER w AS end_event_id
              FROM tagged
              WINDOW w AS (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id))
            SELECT user_id, event_type, value,
                   ts AS __start_ts, event_id AS __start_event_id,
                   end_ts AS __end_ts, end_event_id AS __end_event_id
            FROM ordered WHERE NOT del
            ORDER BY user_id, event_type, __start_ts, __start_event_id"""))

  val currentInventory = QueryDef(
    "q_current_inventory",
    (s, d) => Inventory.currentInventoryOverEvents(s, Tables.events(s, d)),
    Some("""WITH snap AS (
              SELECT user_id, ts, value FROM (
                SELECT user_id, ts, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE event_type = 'signup') WHERE rn = 1
            ), chg AS (
              SELECT e.user_id, e.ts, e.value
              FROM events e
              JOIN (VALUES ('purchase'), ('click'), ('view')) ct(event_type)
                ON e.event_type = ct.event_type
            )
            SELECT a.user_id,
              CAST(MIN(CAST(a.value AS DECIMAL(12,2))) AS DOUBLE) AS snapshot_quantity,
              CAST(CAST(COALESCE(SUM(CAST(b.value AS DECIMAL(12,2))), 0) AS DECIMAL(18,2)) AS DOUBLE) AS change_quantity,
              CAST(MIN(CAST(a.value AS DECIMAL(12,2)))
                   + CAST(COALESCE(SUM(CAST(b.value AS DECIMAL(12,2))), 0) AS DECIMAL(18,2)) AS DOUBLE) AS current_inventory,
              GREATEST(MIN(a.ts), MAX(b.ts)) AS date_time
            FROM snap a LEFT OUTER JOIN chg b
              ON a.user_id = b.user_id AND a.ts <= b.ts
            GROUP BY a.user_id ORDER BY a.user_id"""))

  // PERIODIC SNAPSHOT + FORWARD FILL (row 7b): inventory position
  // per (store, day) — gap days carry the prior position forward, so
  // "stock on any day" is a filter, not an as-of join. Purchases
  // over user_id%97 stores give real gaps at every sf. Oracle
  // replays the last-of-day argmax, the per-key day grid and an
  // IGNORE NULLS last_value window.
  val dailySnapshotsQ = QueryDef(
    "q_daily_snapshots",
    (s, d) => {
      val ev = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select((col("user_id") % 97).as("store_id"), col("ts"), col("value"))
      Inventory.dailySnapshots(ev, Seq("store_id"), "ts", "value")
        .orderBy("store_id", "day")
    },
    Some("""WITH ev AS (
              SELECT user_id % 97 AS store_id, ts, value FROM events
              WHERE event_type = 'purchase'
            ), daily AS (
              SELECT store_id, day, value FROM (
                SELECT store_id, CAST(ts AS DATE) AS day, ts, value,
                  row_number() OVER (PARTITION BY store_id, CAST(ts AS DATE)
                    ORDER BY ts DESC, value DESC) AS rn
                FROM ev) WHERE rn = 1
            ), grid AS (
              SELECT store_id,
                CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                  (SELECT CAST(MAX(CAST(ts AS DATE)) AS TIMESTAMP) FROM ev),
                  INTERVAL 1 DAY)) AS DATE) AS day
              FROM (SELECT store_id, MIN(day) AS d0 FROM daily GROUP BY store_id)
            )
            SELECT g.store_id, g.day,
              last_value(daily.value IGNORE NULLS) OVER (
                PARTITION BY g.store_id ORDER BY g.day) AS quantity
            FROM grid g LEFT JOIN daily USING (store_id, day)
            ORDER BY store_id, day"""))

  val transactionalize = QueryDef(
    "q_transactionalize",
    (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("day", col("ts").cast("date"))
        .withColumn("tag",
          concat_ws(":", col("event_id").cast("string"), col("event_type")))
      ev.groupBy(col("user_id"), col("day"))
        .agg(
          count(lit(1)).as("n_items"),
          array_join(sort_array(collect_list(col("tag"))), ",").as("items"),
          sum(dec12(col("value"))).cast("double").as("sum_value"))
        .orderBy("user_id", "day")
    },
    Some("""SELECT user_id, CAST(ts AS DATE) AS day,
              COUNT(*) AS n_items,
              string_agg(CAST(event_id AS VARCHAR) || ':' || event_type, ','
                ORDER BY CAST(event_id AS VARCHAR) || ':' || event_type) AS items,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY user_id, CAST(ts AS DATE)
            ORDER BY user_id, day"""))

  val expectations = QueryDef(
    "q_expectations",
    (s, d) => Expectations.metrics(Tables.lineitem(s, d), Seq(
        Expectations.rule("discount_range", col("l_discount").between(0.0, 1.0)),
        Expectations.rule("price_positive", col("l_extendedprice") > 0.0),
        Expectations.rule("qty_positive", col("l_quantity") > 0.0),
        Expectations.rule("shipdate_not_null", col("l_shipdate").isNotNull)))
      .orderBy("rule"),
    Some("""SELECT 'discount_range' AS rule,
              CAST(SUM(CASE WHEN l_discount BETWEEN 0.0 AND 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
              CAST(SUM(CASE WHEN l_discount BETWEEN 0.0 AND 1.0 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail
            FROM lineitem
            UNION ALL SELECT 'price_positive',
              CAST(SUM(CASE WHEN l_extendedprice > 0.0 THEN 1 ELSE 0 END) AS BIGINT),
              CAST(SUM(CASE WHEN l_extendedprice > 0.0 THEN 0 ELSE 1 END) AS BIGINT)
            FROM lineitem
            UNION ALL SELECT 'qty_positive',
              CAST(SUM(CASE WHEN l_quantity > 0.0 THEN 1 ELSE 0 END) AS BIGINT),
              CAST(SUM(CASE WHEN l_quantity > 0.0 THEN 0 ELSE 1 END) AS BIGINT)
            FROM lineitem
            UNION ALL SELECT 'shipdate_not_null',
              CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
              CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
            FROM lineitem
            ORDER BY rule"""))

  // ---------------------------------------------------------------
  // Analytics core
  // ---------------------------------------------------------------

  val pricingSummary = QueryDef(
    "q1_pricing_summary",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val price = dec12(col("l_extendedprice"))
      val qty = dec12(col("l_quantity"))
      val omd = lit(1).cast(d4) - col("l_discount").cast(d4)
      val opt = lit(1).cast(d4) + col("l_tax").cast(d4)
      li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(qty).cast("double").as("sum_qty"),
          sum(price).cast("double").as("sum_base_price"),
          sum(price * omd).cast("double").as("sum_disc_price"),
          sum(price * omd * opt).cast("double").as("sum_charge"),
          (sum(qty).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(price).cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
              CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
              COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  val revenueByRegion = QueryDef(
    "q_revenue_by_region",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec12(col("o_totalprice"))).cast("double").as("revenue"))
        .orderBy("r_name")
    },
    Some("""SELECT r_name, COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name"""))

  val topOrders = QueryDef(
    "q_top_orders",
    (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val omd = lit(1).cast(d4) - col("l_discount").cast(d4)
      val revenueDec = sum(dec12(col("l_extendedprice")) * omd)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"), "left_semi")
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(revenueDec.as("__rev"))
        .orderBy(col("__rev").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_orderdate"),
          col("__rev").cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
    },
    Some("""SELECT o_orderkey, o_orderdate, CAST(rev AS DOUBLE) AS revenue FROM (
              SELECT o_orderkey, o_orderdate,
                SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS rev
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
              GROUP BY o_orderkey, o_orderdate
              ORDER BY rev DESC, o_orderkey ASC LIMIT 10)
            ORDER BY revenue DESC, o_orderkey ASC"""))

  val supplierRank = QueryDef(
    "q_supplier_rank",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d)
      val omd = lit(1).cast(d4) - col("l_discount").cast(d4)
      val perSupp = li
        .groupBy(col("l_suppkey"))
        .agg(sum(dec12(col("l_extendedprice")) * omd).as("__rev"))
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("__rev").desc, col("s_suppkey").asc)
      perSupp.join(broadcast(sup), perSupp("l_suppkey") === sup("s_suppkey"))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 3)
        .select(col("s_nationkey").cast("bigint").as("s_nationkey"),
          col("s_suppkey"), col("s_name"),
          col("__rev").cast("double").as("revenue"), col("rn"))
        .orderBy("s_nationkey", "rn")
    },
    Some("""SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, s_suppkey, s_name,
              CAST(rev AS DOUBLE) AS revenue, CAST(rn AS BIGINT) AS rn FROM (
              SELECT s_nationkey, s_suppkey, s_name, rev,
                row_number() OVER (PARTITION BY s_nationkey
                                   ORDER BY rev DESC, s_suppkey ASC) AS rn
              FROM (
                SELECT l_suppkey,
                  SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS rev
                FROM lineitem GROUP BY l_suppkey) r
              JOIN supplier ON l_suppkey = s_suppkey)
            WHERE rn <= 3
            ORDER BY s_nationkey, rn"""))

  // Native pivot (groupBy().pivot() with an EXPLICIT value list —
  // the two-phase implicit-values variant collects distinct values
  // to the driver first; pinning the list keeps the plan one
  // aggregate and the output schema stable, both required at scale).
  val pivotEvents = QueryDef(
    "q_pivot",
    (s, d) => {
      val ev = Tables.events(s, d)
      ev.withColumn("bucket", pmod(col("user_id"), lit(10)).cast("bigint"))
        .groupBy(col("bucket"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup"))
        .agg(count(lit(1)))
        .select(col("bucket"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("view"), lit(0L)).as("view"),
          coalesce(col("purchase"), lit(0L)).as("purchase"),
          coalesce(col("signup"), lit(0L)).as("signup"))
        .orderBy("bucket")
    },
    Some("""SELECT user_id % 10 AS bucket,
              COUNT(*) FILTER (WHERE event_type = 'click') AS click,
              COUNT(*) FILTER (WHERE event_type = 'view') AS view,
              COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
              COUNT(*) FILTER (WHERE event_type = 'signup') AS signup
            FROM events GROUP BY 1 ORDER BY bucket"""))

  // Window FRAMES (rowsBetween) + lag: per-customer 3-order moving
  // average and order-over-order delta — the sliding-frame operator
  // class q_supplier_rank's rank query doesn't touch. Decimal sums
  // inside the frame keep both engines bit-identical; (date, key)
  // ordering is a total order so frames are deterministic.
  val movingAvg = QueryDef(
    "q_moving_avg",
    (s, d) => {
      val o = Tables.orders(s, d).filter(col("o_custkey") < 200)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val frame = w.rowsBetween(-2, 0)
      o.select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"),
          dec12(col("o_totalprice")).as("__p"))
        .withColumn("mavg3",
          sum(col("__p")).over(frame).cast(d18).cast("double") /
            count(lit(1)).over(frame).cast("double"))
        .withColumn("prev_price",
          lag(col("__p"), 1).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("__p").cast("double").as("price"), col("mavg3"), col("prev_price"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_orderdate,
              CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
              CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DECIMAL(18,2)) AS DOUBLE)
                / CAST(COUNT(*) OVER w AS DOUBLE) AS mavg3,
              CAST(lag(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
                AS DOUBLE) AS prev_price
            FROM orders WHERE o_custkey < 200
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate ASC, o_orderkey ASC
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            ORDER BY o_custkey, o_orderdate, o_orderkey"""))

  // Anti join with a filtered right side: every customer has SOME
  // order in this data, so the unfiltered variant passed vacuously
  // (0 rows). "No order above 400k" yields 20/202 rows at
  // sf0.001/sf0.01 — the comparison now exercises the join.
  val usersNoPurchase = QueryDef(
    "q_users_no_purchase",
    (s, d) => {
      val c = Tables.customer(s, d)
      val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
      c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN
              (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
            ORDER BY c_custkey"""))

  val sessionize = QueryDef(
    "q_sessionize",
    (s, d) => Sessionize.sessionSummary(Tables.events(s, d),
        keyCol = "user_id", tsCol = "ts", gap = "30 minutes",
        tieBreak = Some("event_id"))
      .withColumn("session_id", col("session_id").cast("bigint"))
      .orderBy("user_id", "session_id"),
    Some("""WITH t AS (
              SELECT user_id, ts, event_id,
                CASE WHEN lag(ts) OVER w IS NULL THEN 0
                     WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1
                     ELSE 0 END AS ns
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
              SELECT user_id, ts,
                CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM t
            )
            SELECT user_id, session_id, COUNT(*) AS n_events,
              MIN(ts) AS session_start, MAX(ts) AS session_end
            FROM sess GROUP BY user_id, session_id
            ORDER BY user_id, session_id"""))

  // ROLLUP grouping sets: per-(region, nation) revenue with nation
  // and grand-total subtotals — the multi-level-aggregate surface
  // (Spark `rollup` == SQL GROUP BY ROLLUP). grouping_id
  // disambiguates a rolled-up level from a (hypothetical) null key.
  // One shuffle: Spark expands the grouping sets map-side.
  val revenueRollup = QueryDef(
    "q_revenue_rollup",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec12(col("o_totalprice"))).cast("double").as("revenue"),
          grouping_id(col("r_name"), col("n_name")).cast("bigint").as("lvl"))
        .orderBy(col("lvl"), col("r_name"), col("n_name"))
    },
    Some("""SELECT r_name, n_name, COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
              CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS lvl
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
            ORDER BY lvl, r_name, n_name"""))

  // ARBITRARY GROUPING SETS (row 12d): {(r_name), (o_orderpriority),
  // ()} — two INDEPENDENT one-dimension slices plus the grand total,
  // the shape ROLLUP can't express (it nests) and CUBE overshoots
  // (it would add the pair). Same scale shape: Spark expands the
  // sets map-side into one partial-aggregated shuffle.
  val groupingSetsQ = QueryDef(
    "q_grouping_sets",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupingSets(
          Seq(Seq(col("r_name")), Seq(col("o_orderpriority")), Seq.empty),
          col("r_name"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec12(col("o_totalprice"))).cast("double").as("revenue"),
          grouping_id(col("r_name"), col("o_orderpriority")).cast("bigint").as("lvl"))
        .orderBy(col("lvl"), col("r_name"), col("o_orderpriority"))
    },
    Some("""SELECT r_name, o_orderpriority, COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
              CAST(GROUPING(r_name) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS lvl
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
            ORDER BY lvl, r_name, o_orderpriority"""))

  // CUBE grouping sets over two INDEPENDENT dimensions — the slice
  // both ways rollup can't express (rollup nests right-to-left; cube
  // emits all 4 grouping sets incl. per-priority-across-regions).
  // Same scale shape as rollup: Spark expands the sets map-side into
  // ONE partial-aggregated shuffle — 4x the aggregate state, not 4
  // passes over the fact table.
  val revenueCube = QueryDef(
    "q_revenue_cube",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .cube(col("r_name"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec12(col("o_totalprice"))).cast("double").as("revenue"),
          grouping_id(col("r_name"), col("o_orderpriority")).cast("bigint").as("lvl"))
        .orderBy(col("lvl"), col("r_name"), col("o_orderpriority"))
    },
    Some("""SELECT r_name, o_orderpriority, COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
              CAST(GROUPING(r_name) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS lvl
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY CUBE (r_name, o_orderpriority)
            ORDER BY lvl, r_name, o_orderpriority"""))

  // Distribution window functions — the rank-family surface beyond
  // q_supplier_rank's rank/dense_rank: NTILE bucketing, PERCENT_RANK,
  // CUME_DIST and frame-sensitive NTH_VALUE, all over one totally
  // ordered window (unique (price, key) order — rank ties would
  // otherwise make the gate engine-dependent). One shuffle + per-key
  // sort, the same irreducible shape as any ordered window.
  val windowFuncs = QueryDef(
    "q_window_funcs",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_orderkey").cast("bigint").as("o_orderkey"),
        col("o_orderpriority"),
        ntile(8).over(w).cast("bigint").as("tile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        nth_value(col("o_orderkey"), 3).over(w).cast("bigint").as("third_key"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderpriority,
              CAST(NTILE(8) OVER w AS BIGINT) AS tile,
              PERCENT_RANK() OVER w AS pr,
              CUME_DIST() OVER w AS cd,
              CAST(NTH_VALUE(o_orderkey, 3) OVER w AS BIGINT) AS third_key
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey)
            ORDER BY o_orderkey"""))

  // Exact interpolated percentiles (Spark `percentile` == DuckDB
  // `quantile_cont`, both linear interpolation over sorted values).
  // The approximate path (approx_percentile / t-digest) is the
  // 100 TB default; the exact form is what an oracle can replay —
  // both run through one partial-aggregated shuffle.
  val orderPercentiles = QueryDef(
    "q_order_percentiles",
    (s, d) => Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(percentile(col("o_totalprice").cast("double"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))).as("__q"))
      .select(col("o_orderpriority"),
        col("__q").getItem(0).as("p25"),
        col("__q").getItem(1).as("p50"),
        col("__q").getItem(2).as("p75"),
        col("__q").getItem(3).as("p95"))
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
              quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) AS p25,
              quantile_cont(CAST(o_totalprice AS DOUBLE), 0.50) AS p50,
              quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75) AS p75,
              quantile_cont(CAST(o_totalprice AS DOUBLE), 0.95) AS p95
            FROM orders GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  // The stream-stream range-join operator on its batch parity path
  // (same code, same condition): purchases within 1 hour after a
  // click, per user. The streaming semantics (state eviction,
  // append timing) are StreamJoinSpec's job; this verifies the join
  // CONDITION byte-for-byte against a plain SQL oracle.
  val rangeJoin = QueryDef(
    "q_range_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      graft.streaming.StreamJoin.within(clicks, purchases,
          keys = Seq("user_id"), leftTs = "click_ts", rightTs = "purchase_ts",
          within = "1 hour", watermark = "1 hour")
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .orderBy("user_id", "click_id", "purchase_id")
    },
    Some("""SELECT c.user_id AS user_id, c.event_id AS click_id,
              p.event_id AS purchase_id
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
            ORDER BY c.user_id, click_id, purchase_id"""))

  // LEFT OUTER range join on the batch parity path: every click,
  // with its in-window purchases OR nulls — non-vacuous on both
  // branches (most clicks have no purchase within the hour; many
  // have several).
  val rangeJoinOuter = QueryDef(
    "q_range_join_outer",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      graft.streaming.StreamJoin.withinOuter(clicks, purchases,
          keys = Seq("user_id"), leftTs = "click_ts", rightTs = "purchase_ts",
          within = "1 hour", watermark = "1 hour")
        .select(col("user_id"), col("click_id"),
          col("purchase_id").cast("bigint").as("purchase_id"))
        .orderBy("user_id", "click_id", "purchase_id")
    },
    Some("""SELECT c.user_id AS user_id, c.event_id AS click_id,
              CAST(p.event_id AS BIGINT) AS purchase_id
            FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
            LEFT JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
            ORDER BY user_id, click_id, purchase_id"""))

  // FULL OUTER range join (batch parity of the streaming operator):
  // both sides' orphans are rows — clicks with no purchase AND
  // purchases preceded by no click, in one pass. Coalesced key, so a
  // right orphan still carries its user_id.
  val rangeJoinFull = QueryDef(
    "q_range_join_full",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      graft.streaming.StreamJoin.withinFullOuter(clicks, purchases,
          keys = Seq("user_id"), leftTs = "click_ts", rightTs = "purchase_ts",
          within = "1 hour", watermark = "1 hour")
        .select(col("user_id"),
          col("click_id").cast("bigint").as("click_id"),
          col("purchase_id").cast("bigint").as("purchase_id"))
        .orderBy("user_id", "click_id", "purchase_id")
    },
    Some("""SELECT COALESCE(c.user_id, p.user_id) AS user_id,
              CAST(c.event_id AS BIGINT) AS click_id,
              CAST(p.event_id AS BIGINT) AS purchase_id
            FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
            FULL JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
            ORDER BY user_id, click_id, purchase_id"""))

  // Binned point-in-interval range join (row 11b): traffic inside
  // each purchase's 10-minute attribution window, with NO shared
  // equi key — the pure-theta case where naive Spark plans a
  // BroadcastNestedLoopJoin. RangeJoin manufactures the bin equi key
  // (interval replicated to overlapped bins, point in exactly one
  // bin, range predicate residual), so the plan is an ordinary
  // shuffle equi join; RangeJoinSpec pins the no-nested-loop shape
  // and the binned==naive identity. Counts and a decimal-exact sum
  // make any lost/duplicated boundary row a hash mismatch.
  val rangeBinJoin = QueryDef(
    "q_range_bin_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val points = ev.select(col("event_id").as("p_id"),
        unix_micros(col("ts")).as("p_us"), col("value").as("p_value"))
      val winUs = 600L * 1000 * 1000 // 10 minutes, exact integer micros
      val intervals = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("interval_id"),
          unix_micros(col("ts")).as("w_start"),
          (unix_micros(col("ts")) + lit(winUs)).as("w_end"))
      RangeJoin.pointInInterval(points, intervals,
          "p_us", "w_start", "w_end", binWidth = winUs)
        .groupBy(col("interval_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec12(col("p_value"))).cast("double").as("sum_value"))
        .orderBy("interval_id")
    },
    Some("""WITH p AS (
              SELECT event_id AS p_id, epoch_us(ts) AS p_us, value AS p_value
              FROM events),
            i AS (
              SELECT event_id AS interval_id, epoch_us(ts) AS w_start,
                epoch_us(ts) + 600000000 AS w_end
              FROM events WHERE event_type = 'purchase')
            SELECT interval_id, COUNT(*) AS n_events,
              CAST(SUM(CAST(p_value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
            FROM i JOIN p ON p.p_us >= i.w_start AND p.p_us < i.w_end
            GROUP BY 1 ORDER BY interval_id"""))

  // As-of join: latest signup at or before each purchase, per user.
  // The operator is one equi-shuffle join + one partial-aggregated
  // max(struct); the oracle is a windowed row_number replay with the
  // identical (ts, event_id) tie-break.
  val asofJoin = QueryDef(
    "q_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("s_ts"),
          col("event_id").as("s_event_id"), col("value").as("s_value"))
      AsOfJoin.latestAtOrBefore(purchases, signups,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "s_ts",
          payload = Seq("s_event_id", "s_value"),
          tieBreak = Some("s_event_id"))
        .orderBy("event_id")
    },
    Some("""WITH p AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'
            ), s AS (
              SELECT user_id, ts AS s_ts, event_id AS s_event_id,
                value AS s_value
              FROM events WHERE event_type = 'signup'
            )
            SELECT p.event_id, p.user_id, p.ts, s.s_ts AS asof_ts,
              s.s_event_id, s.s_value
            FROM p LEFT JOIN s
              ON p.user_id = s.user_id AND s.s_ts <= p.ts
            QUALIFY row_number() OVER (
              PARTITION BY p.event_id
              ORDER BY s.s_ts DESC NULLS LAST,
                       s.s_event_id DESC NULLS LAST) = 1
            ORDER BY p.event_id"""))

  // Tumbling event-time window aggregate via streaming.WindowedAgg
  // (window() groups identically in batch, which is what makes the
  // streaming operator's window arithmetic oracle-checkable here;
  // the watermarked streaming path is WindowedAggSpec's job).
  // Decimal-cast before SUM for order-independent exactness.
  val windowedAgg = QueryDef(
    "q_windowed_agg",
    (s, d) => graft.streaming.WindowedAgg.windowed(
        Tables.events(s, d), tsCol = "ts", windowDur = "1 hour",
        keys = Seq("event_type"),
        aggs = Seq(
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(38, 6))).cast("double").as("sum_value")))
      .orderBy("window_start", "event_type"),
    Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
              CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
              event_type,
              count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
            FROM events
            GROUP BY 1, 2, 3
            ORDER BY window_start, event_type"""))

  // Spark's native session_window operator (batch form), checked
  // against a lag/cumsum emulation in the oracle. Note the boundary
  // semantics: session_window starts a NEW session when the gap is
  // >= the window gap (Sessionize's lag/cumsum uses strict >).
  val sessionWindowAgg = QueryDef(
    "q_session_window",
    (s, d) => Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start"),
    Some("""WITH t AS (
              SELECT user_id, ts, event_id,
                CASE WHEN lag(ts) OVER w IS NULL THEN 0
                     WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
                     ELSE 0 END AS ns
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
              SELECT user_id, ts,
                SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sid
              FROM t
            )
            SELECT user_id, MIN(ts) AS session_start,
              MAX(ts) + INTERVAL 30 MINUTE AS session_end,
              COUNT(*) AS n_events
            FROM sess GROUP BY user_id, sid
            ORDER BY user_id, session_start"""))

  // ---------------------------------------------------------------
  // Text analysis
  // ---------------------------------------------------------------

  val tokenCount = QueryDef(
    "q_token_count",
    (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"),
        TextFunctions.bpeTokenEstimate(col("text")).as("est_bpe"),
        length(col("text")).cast("bigint").as("len_chars"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n_tokens,
              CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe,
              CAST(length(text) AS BIGINT) AS len_chars
            FROM documents ORDER BY doc_id"""))

  // RAG CHUNKING (row 30p): 40-token windows, 10-token overlap,
  // over the whole documents table — shuffle-free fan-out, each
  // chunk's id/start/count/text replayed exactly by the oracle's
  // lateral generate_series + list slice.
  val chunkDocsQ = QueryDef(
    "q_chunk_docs",
    (s, d) => TextOps.chunkDocs(Tables.documents(s, d),
        "doc_id", "text", chunkTokens = 40, overlapTokens = 10)
      .orderBy("doc_id", "chunk_id"),
    Some("""WITH t AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
              FROM documents),
            n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
            c AS (SELECT doc_id, toks, n,
                    unnest(range(0, GREATEST(1,
                      CAST(ceil((n - 10) / 30.0) AS BIGINT)))) AS chunk_id
                  FROM n)
            SELECT doc_id, chunk_id,
              chunk_id * 30 AS start_token,
              GREATEST(0, LEAST(40, n - chunk_id * 30)) AS n_tokens,
              array_to_string(toks[chunk_id * 30 + 1 : chunk_id * 30 + 40], ' ')
                AS chunk_text
            FROM c ORDER BY doc_id, chunk_id"""))

  private val qualityOracle = {
    val stop = TextFunctions.enStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH base AS (
          SELECT doc_id, text,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS n_tokens,
            CASE WHEN length(text) = 0 THEN 0.0
                 ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()-]', '', 'g')) AS DOUBLE)
                      / CAST(length(text) AS DOUBLE) END AS punct_ratio,
            CASE WHEN length(text) = 0 THEN 0.0
                 ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                      / CAST(length(text) AS DOUBLE) END AS digit_ratio
          FROM documents
        ), sw AS (
          SELECT doc_id, text, n_tokens, punct_ratio, digit_ratio,
            CASE WHEN n_tokens = 0 THEN 0.0
                 ELSE CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                        t -> list_contains($stop, t))) AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS stopword_ratio
          FROM base
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, stopword_ratio, punct_ratio,
          (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.4
            + LEAST(stopword_ratio * 4.0, 1.0) * 0.3
            + GREATEST(0.0, 1.0 - (punct_ratio + digit_ratio) * 2.0) * 0.3 AS score,
          ((CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.4
            + LEAST(stopword_ratio * 4.0, 1.0) * 0.3
            + GREATEST(0.0, 1.0 - (punct_ratio + digit_ratio) * 2.0) * 0.3) >= 0.5 AS keep
        FROM sw ORDER BY doc_id"""
  }

  val qualityScore = QueryDef(
    "q_quality_score",
    (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"),
        TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"),
        TextFunctions.qualityScore(col("text")).as("score"),
        (TextFunctions.qualityScore(col("text")) >= 0.5).as("keep"))
      .orderBy("doc_id"),
    Some(qualityOracle))

  private val langOracle = {
    def lst(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    val scores = TextFunctions.markers.map { case (lang, ws) =>
      s"""CAST(len(list_filter(toks, t -> list_contains(${lst(ws)}, t))) AS BIGINT) AS s_$lang"""
    }.mkString(",\n            ")
    val langs = TextFunctions.markers.map(_._1)
    val m = langs.map(l => s"s_$l").mkString("GREATEST(", ", ", ")")
    val cases = langs.map(l => s"WHEN s_$l = $m THEN '$l'").mkString("\n            ")
    s"""WITH toks AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents
        ), scored AS (
          SELECT doc_id,
            $scores
          FROM toks
        )
        SELECT doc_id, s_en, s_de, s_fr, s_es, s_zh,
          CASE WHEN $m = 0 THEN 'und'
            $cases
            ELSE 'und' END AS lang_pred
        FROM scored ORDER BY doc_id"""
  }

  val langId = QueryDef(
    "q_lang_id",
    (s, d) => Tables.documents(s, d).select(
        (col("doc_id") +:
          TextFunctions.markers.map { case (lang, ws) =>
            TextFunctions.wordListHits(col("text"), ws).cast("bigint").as(s"s_$lang")
          }) :+ TextFunctions.langId(col("text")).as("lang_pred"): _*)
      .orderBy("doc_id"),
    Some(langOracle))

  val fingerprint = QueryDef(
    "q_fingerprint",
    (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        when(length(col("text")) === 0, lit(0L))
          .otherwise(TextFunctions.fingerprint(col("text"))).as("fp"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
                   ELSE list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ''), x -> CAST(ord(x) AS BIGINT))),
                     (a, b) -> (a * 31 + b) % 1000000007) END AS fp
            FROM documents ORDER BY doc_id"""))

  // UNICODE NFC NORMALIZATION (row 31c): planted combining-character
  // variants ("Cafe" + U+0301 vs precomposed U+00E9) must normalize
  // to the SAME canonical bytes — lengths shrink, canonical equality
  // holds across the variant classes, and the polynomial fingerprint
  // of the normalized text must match DuckDB's nfc_normalize replay
  // codepoint-for-codepoint.
  val nfcNormalizeQ = QueryDef(
    "q_nfc_normalize",
    (s, d) => {
      val sfx = when(col("doc_id") % 3 === 0, lit(" Cafe\u0301 menu"))
        .when(col("doc_id") % 3 === 1, lit(" Caf\u00e9 menu"))
        .otherwise(lit(" plain menu"))
      val raw = concat(col("text"), sfx)
      val norm = TextFunctions.nfcNormalize(raw)
      Tables.documents(s, d).select(
          col("doc_id"),
          length(raw).cast("bigint").as("len_raw"),
          length(norm).cast("bigint").as("len_norm"),
          (norm === concat(TextFunctions.nfcNormalize(col("text")),
            lit(" Caf\u00e9 menu"))).as("canonical_equal"),
          TextFunctions.fingerprint(norm).as("fp"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
              SELECT doc_id, text,
                text || CASE CAST(doc_id % 3 AS INTEGER)
                  WHEN 0 THEN ' Cafe' || chr(769) || ' menu'
                  WHEN 1 THEN ' Café menu'
                  ELSE ' plain menu' END AS raw
              FROM documents)
            SELECT doc_id,
              length(raw) AS len_raw,
              length(nfc_normalize(raw)) AS len_norm,
              nfc_normalize(raw) =
                (nfc_normalize(text) || ' Café menu') AS canonical_equal,
              list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                  list_transform(string_split(nfc_normalize(raw), ''),
                    x -> CAST(ord(x) AS BIGINT))),
                (a, b) -> (a * 31 + b) % 1000000007) AS fp
            FROM t ORDER BY doc_id"""))

  // HYPERLOGLOG APPROX DISTINCT (row 32): per-event-type distinct
  // event_ids via the partial-agg HLL composition (p=8, m=256) next
  // to the exact countDistinct. The sketch state T is an EXACT
  // scaled integer, so the oracle — which replays the poly60 hash,
  // bucketing, rho-via-binary-length and the bucket fold in SQL —
  // must match it bit-for-bit; the derived estimate is one double
  // divide from T on both engines.
  val approxDistinctQ = QueryDef(
    "q_approx_distinct",
    (s, d) => {
      val ev = Tables.events(s, d)
      val hll = Sketches.approxDistinct(ev, Seq("event_type"), "event_id", p = 8)
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("event_id")).as("exact_distinct"))
      exact.join(hll, Seq("event_type")).orderBy("event_type")
    },
    Some("""WITH cps AS (
              SELECT event_type,
                list_transform(string_split(CAST(event_id AS VARCHAR), ''),
                  x -> CAST(ord(x) AS BIGINT)) AS cp
              FROM events),
            h AS (
              SELECT event_type,
                CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), cp),
                   (a, b) -> (a * 31 + b) % 1000000007) AS HUGEINT) * 1073741824
                 + list_reduce(list_prepend(CAST(13 AS BIGINT), cp),
                   (a, b) -> (a * 31 + b) % 1000000007) AS h0
              FROM cps),
            -- splitmix64 finalizer; the 64-bit wrapping multiply is
            -- done in 32-bit constant halves so the int128
            -- intermediates never overflow:
            -- z*c mod 2^64 = (((z*c_hi) mod 2^32)*2^32 + z*c_lo) mod 2^64
            x1 AS (SELECT event_type, xor(h0, h0 // 1073741824) AS x FROM h),
            z1 AS (SELECT event_type,
                (((x * 3210233709::HUGEINT) % 4294967296) * 4294967296
                  + x * 484763065::HUGEINT)
                  % 18446744073709551616::HUGEINT AS z FROM x1),
            x2 AS (SELECT event_type, xor(z, z // 134217728) AS x FROM z1),
            z2 AS (SELECT event_type,
                (((x * 2496678331::HUGEINT) % 4294967296) * 4294967296
                  + x * 321982955::HUGEINT)
                  % 18446744073709551616::HUGEINT AS z FROM x2),
            z3 AS (SELECT event_type,
                xor(z, z // 2147483648) AS z FROM z2),
            r AS (
              SELECT event_type, CAST(z // (1::HUGEINT << 56) AS BIGINT) AS b,
                CASE WHEN (z % (1::HUGEINT << 56)) = 0 THEN 41
                     ELSE LEAST(41, 56 -
                       (length(bin(CAST(z % (1::HUGEINT << 56) AS BIGINT))) - 1))
                END AS rho
              FROM z3),
            mx AS (SELECT event_type, b, MAX(rho) AS m FROM r GROUP BY 1, 2),
            agg AS (
              SELECT event_type, COUNT(*) AS hll_buckets_used,
                CAST(SUM(CAST(power(2, 41 - m) AS BIGINT))
                  + (256 - COUNT(*)) * (1::BIGINT << 41) AS BIGINT) AS hll_t_scaled
              FROM mx GROUP BY 1),
            e AS (SELECT event_type, COUNT(DISTINCT event_id) AS exact_distinct
                  FROM events GROUP BY 1)
            SELECT event_type, exact_distinct, hll_buckets_used, hll_t_scaled,
              0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * power(2, 41)
                / CAST(hll_t_scaled AS DOUBLE) AS approx_distinct
            FROM agg JOIN e USING (event_type) ORDER BY event_type"""))

  // INCREMENTAL SKETCH MAINTENANCE (row 32 note): the events stream
  // arrives as three disjoint batches folded one at a time into a
  // persisted sketch table (conditional MERGE register merge); the
  // final estimate must be BIT-IDENTICAL to sketching everything at
  // once — which is exactly what the oracle replays. A lost
  // register, a non-idempotent fold, or an overwrite that lowered a
  // register all mismatch.
  val sketchMaintainQ = QueryDef(
    "q_sketch_maintain",
    (s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_skm").toString
      val t = s"$root/sketch"
      val ev = Tables.events(s, d)
      (0 until 3).foreach { i =>
        Sketches.foldSketch(s, t,
          ev.filter(col("event_id") % 3 === i),
          Seq("event_type"), "event_id", p = 8,
          txn = Some("q_sketch_maintain" -> i.toLong))
      }
      Sketches.readSketchEstimate(s, t, Seq("event_type"), p = 8)
        .orderBy("event_type")
    },
    Some("""WITH cps AS (
              SELECT event_type,
                list_transform(string_split(CAST(event_id AS VARCHAR), ''),
                  x -> CAST(ord(x) AS BIGINT)) AS cp
              FROM events),
            h AS (
              SELECT event_type,
                CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), cp),
                   (a, b) -> (a * 31 + b) % 1000000007) AS HUGEINT) * 1073741824
                 + list_reduce(list_prepend(CAST(13 AS BIGINT), cp),
                   (a, b) -> (a * 31 + b) % 1000000007) AS h0
              FROM cps),
            x1 AS (SELECT event_type, xor(h0, h0 // 1073741824) AS x FROM h),
            z1 AS (SELECT event_type,
                (((x * 3210233709::HUGEINT) % 4294967296) * 4294967296
                  + x * 484763065::HUGEINT)
                  % 18446744073709551616::HUGEINT AS z FROM x1),
            x2 AS (SELECT event_type, xor(z, z // 134217728) AS x FROM z1),
            z2 AS (SELECT event_type,
                (((x * 2496678331::HUGEINT) % 4294967296) * 4294967296
                  + x * 321982955::HUGEINT)
                  % 18446744073709551616::HUGEINT AS z FROM x2),
            z3 AS (SELECT event_type,
                xor(z, z // 2147483648) AS z FROM z2),
            r AS (
              SELECT event_type, CAST(z // (1::HUGEINT << 56) AS BIGINT) AS b,
                CASE WHEN (z % (1::HUGEINT << 56)) = 0 THEN 41
                     ELSE LEAST(41, 56 -
                       (length(bin(CAST(z % (1::HUGEINT << 56) AS BIGINT))) - 1))
                END AS rho
              FROM z3),
            mx AS (SELECT event_type, b, MAX(rho) AS m FROM r GROUP BY 1, 2)
            SELECT event_type, COUNT(*) AS hll_buckets_used,
              CAST(SUM(CAST(power(2, 41 - m) AS BIGINT))
                + (256 - COUNT(*)) * (1::BIGINT << 41) AS BIGINT) AS hll_t_scaled,
              0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * power(2, 41)
                / CAST(CAST(SUM(CAST(power(2, 41 - m) AS BIGINT))
                    + (256 - COUNT(*)) * (1::BIGINT << 41) AS BIGINT) AS DOUBLE)
                AS approx_distinct
            FROM mx GROUP BY event_type ORDER BY event_type"""))

  // Corpus-level term statistics (the TF-IDF integer core). The
  // oracle compares tf/df exactly; the ln-based tfidf value itself
  // is checked in TextOpsSpec (libm rounding isn't bit-stable across
  // engines, integers are).
  val termStats = QueryDef(
    "q_term_stats",
    (s, d) => TextOps.termStats(
        Tables.documents(s, d).filter(col("doc_id") < 200), "doc_id", "text")
      .orderBy("doc_id", "term"),
    Some("""WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
              FROM documents WHERE doc_id < 200
            ), t AS (
              SELECT doc_id, term FROM toks WHERE length(term) > 0
            ), tf AS (
              SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term
            ), dfc AS (
              SELECT term, COUNT(*) AS df FROM tf GROUP BY term
            )
            SELECT tf.doc_id, tf.term, tf.tf, dfc.df
            FROM tf JOIN dfc USING (term)
            ORDER BY doc_id, term"""))

  // BM25 top-k retrieval (row 30o): five fixed keyword queries over
  // the documents corpus. The oracle replays the whole decision
  // procedure — identical tokenization, exact integer tf/df/dl/N,
  // the same constant values (interpolated from the SAME Scala
  // doubles the engine uses), and the same term-sorted left fold —
  // and compares the RANK ordering (scores use ln(), libm-dependent
  // cross-engine; the ordering is stable because score gaps between
  // different (tf, dl) profiles are many orders above 1 ulp, and
  // equal profiles tie-break by doc_id in both engines).
  private val bm25K1 = 1.2
  private val bm25B = 0.75
  private val bm25QuerySet = Seq(
    (0L, "hash join"), (1L, "window agg stream"), (2L, "slow scan filter"),
    (3L, "customer vector data"), (4L, "spark merge batch"))
  val bm25Q = QueryDef(
    "q_bm25",
    (s, d) => {
      import s.implicits._
      val qs = bm25QuerySet.toDF("query_id", "qtext")
      TextOps.bm25(Tables.documents(s, d), "doc_id", "text",
          qs, "query_id", "qtext", k = 10, k1 = bm25K1, b = bm25B)
        .select(col("query_id"), col("doc_id"), col("rank").cast("bigint").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
              FROM documents
            ), t AS (
              SELECT doc_id, term FROM toks WHERE length(term) > 0
            ), tf AS (
              SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2
            ), dl AS (
              SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1
            ), s AS (
              SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                     (SELECT COUNT(*) FROM t) AS total_dl
            ), qt AS (
              SELECT DISTINCT query_id, term FROM (
                SELECT query_id,
                  unnest(string_split_regex(trim(lower(qtext)), '\\s+')) AS term
                FROM (VALUES ${bm25QuerySet
                  .map { case (i, q) => s"($i, '$q')" }.mkString(", ")})
                  AS qq(query_id, qtext))
              WHERE length(term) > 0
            ), dfc AS (
              SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
            ), post AS (
              SELECT q.query_id, tf.doc_id, tf.term,
                ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(dfc.df AS DOUBLE) + 0.5)
                         / (CAST(dfc.df AS DOUBLE) + 0.5))
                  * (CAST(tf.tf AS DOUBLE) * ${bm25K1 + 1.0})
                  / (CAST(tf.tf AS DOUBLE) + $bm25K1 * (${1.0 - bm25B}
                     + $bm25B * CAST(dl.dl AS DOUBLE)
                       / (CAST(s.total_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) AS c
              FROM qt q
              JOIN tf ON tf.term = q.term
              JOIN dfc ON dfc.term = q.term
              JOIN dl ON dl.doc_id = tf.doc_id, s
            ), sc AS (
              SELECT query_id, doc_id,
                list_reduce(list(c ORDER BY term), (x, y) -> x + y) AS score
              FROM post GROUP BY 1, 2
            )
            SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank FROM (
              SELECT query_id, doc_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id ASC) AS rank
              FROM sc)
            WHERE rank <= 10 ORDER BY query_id, rank"""))

  // Frequency-ranked vocabulary: the tokenizer-prep id table. The
  // oracle replays the (count desc, term asc) dense ranking and the
  // top-maxVocab cut — the TakeOrderedAndProject selection must be
  // indistinguishable from the full sort. maxVocab = 20 sits BELOW
  // the synthetic corpus's distinct-term count (~31), so the cut and
  // its tie-break genuinely fire in the gate, not just in the spec.
  val vocabQ = QueryDef(
    "q_vocab",
    (s, d) => TextOps.buildVocab(
        Tables.documents(s, d), "text", maxVocab = 20, firstId = 4L)
      .orderBy("term_id"),
    Some("""WITH toks AS (
              SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
              FROM documents
            ), c AS (
              SELECT term, COUNT(*) AS n FROM toks
              WHERE length(term) > 0 GROUP BY term
            ), r AS (
              SELECT term,
                CAST(row_number() OVER (ORDER BY n DESC, term) - 1 + 4 AS BIGINT)
                  AS term_id, n
              FROM c
            )
            SELECT term, term_id, n FROM r
            WHERE term_id < 24 ORDER BY term_id"""))

  // Token-id encoding against a deliberately SMALL vocab (12 of the
  // corpus's ~31 distinct terms) so OOV -> unkId genuinely fires on
  // most documents. The encoded arrays are re-exploded with
  // positions: the oracle ranks each doc's kept tokens by original
  // index and joins the same vocab ranking — array reassembly,
  // broadcast lookup, and OOV mapping all hash-gate per
  // (doc, pos, id) row.
  val encodeTokensQ = QueryDef(
    "q_encode_tokens",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
      val vocab = TextOps.buildVocab(docs, "text", maxVocab = 12)
      TextOps.encodeDocs(docs, "doc_id", "text", vocab)
        .select(col("doc_id"), posexplode(col("ids")).as(Seq("pos", "id")))
        .select(col("doc_id"), col("pos").cast("bigint").as("pos"), col("id"))
        .orderBy("doc_id", "pos")
    },
    Some("""WITH d AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 300
            ), c AS (
              SELECT term, COUNT(*) AS n FROM (
                SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
                FROM d)
              WHERE length(term) > 0 GROUP BY term
            ), v AS (
              SELECT term, term_id FROM (
                SELECT term,
                  CAST(row_number() OVER (ORDER BY n DESC, term) - 1 AS BIGINT)
                    AS term_id
                FROM c)
              WHERE term_id < 12
            ), p AS (
              SELECT doc_id, u.pos0 AS pos0, u.term AS term FROM (
                SELECT doc_id, unnest(list_transform(range(1, len(ts) + 1),
                  i -> {'pos0': i, 'term': ts[i]})) AS u
                FROM (SELECT doc_id,
                        string_split_regex(trim(lower(text)), '\s+') AS ts
                      FROM d))
              WHERE length(u.term) > 0
            ), k AS (
              SELECT doc_id, term,
                CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos0) - 1
                  AS BIGINT) AS pos
              FROM p
            )
            SELECT k.doc_id, k.pos, COALESCE(v.term_id, -1) AS id
            FROM k LEFT JOIN v USING (term)
            ORDER BY doc_id, pos"""))

  // PII redaction. The synthetic corpus contains no PII-shaped
  // strings (a plain redact(text) hash-matched vacuously as the
  // identity), so both sides append deterministic per-doc PII —
  // email, phone, card — before redacting: the operator provably
  // fires on EVERY row, and prose must survive untouched.
  val redactDocs = QueryDef(
    "q_redact",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), TextOps.redact(concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1 (555) 123-4567 card 4111111111111111 ok")))
        .as("clean"))
      .orderBy("doc_id"),
    // NOTE: DuckDB string literals do NOT process backslash escapes,
    // so the Scala regex strings embed verbatim (single backslashes).
    Some(s"""SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com or +1 (555) 123-4567 card 4111111111111111 ok',
                     '${TextOps.emailRe}', '<EMAIL>', 'g'),
                   '${TextOps.cardRe}', '<NUMBER>', 'g'),
                 '${TextOps.phoneRe}', '<PHONE>', 'g') AS clean
             FROM documents ORDER BY doc_id"""))

  // HTML boilerplate strip + URL host/domain extraction. Both sides
  // wrap every document in the same HTML scaffold (script/style
  // noise, tags, entities) and derive a per-doc URL, then strip and
  // parse — the operator provably fires on every row and prose must
  // come through byte-identical.
  val stripHtmlQ = QueryDef(
    "q_strip_html",
    (s, d) => {
      val html = concat(
        lit("<html><head><script>var x=1; if(a<b){}</script>" +
          "<style>p{color:red}</style></head><body><p>"),
        col("text"),
        lit("</p><br><a href=\"#\">link &amp; more</a>&nbsp;</body></html>"))
      val url = concat(lit("https://www.Site"), pmod(col("doc_id"), lit(7)),
        lit(".example.com:8080/p/"), col("doc_id"), lit("?ref=x"))
      Tables.documents(s, d).select(
          col("doc_id"),
          TextFunctions.stripHtml(html).as("clean"),
          TextFunctions.urlHost(url).as("host"),
          TextFunctions.urlDomain(url).as("domain"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
              trim(regexp_replace(
                replace(replace(replace(replace(replace(replace(
                  regexp_replace(regexp_replace(regexp_replace(
                    '<html><head><script>var x=1; if(a<b){}</script><style>p{color:red}</style></head><body><p>'
                      || text ||
                    '</p><br><a href="#">link &amp; more</a>&nbsp;</body></html>',
                    '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g'),
                    '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g'),
                    '<[^>]+>', ' ', 'g'),
                  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                  '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
                '\s+', ' ', 'g')) AS clean,
              regexp_extract(lower(trim(
                  'https://www.Site' || (doc_id % 7) || '.example.com:8080/p/' || doc_id || '?ref=x')),
                '^[a-z][a-z0-9+.-]*://(?:[^@/]*@)?([^/?#:]+)', 1) AS host,
              regexp_replace(
                regexp_extract(lower(trim(
                    'https://www.Site' || (doc_id % 7) || '.example.com:8080/p/' || doc_id || '?ref=x')),
                  '^[a-z][a-z0-9+.-]*://(?:[^@/]*@)?([^/?#:]+)', 1),
                '^www\.', '') AS domain
            FROM documents ORDER BY doc_id"""))

  // Gopher/MassiveText repetition signals. The synthetic corpus is
  // single-line, so BOTH sides first derive multi-line structure
  // deterministically: 2-token lines (regex pass 1), then a blank
  // line after every 3rd line (pass 2) — the tiny vocabulary makes
  // repeated 2-token lines genuinely common, so dup-line/para
  // fractions are non-vacuous and vary per document. All fractions
  // are exact-integer ratios evaluated identically in both engines.
  val repetition = QueryDef(
    "q_repetition",
    (s, d) => {
      val ml = Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"), "(\\S+ \\S+) ", "$1\n"),
          "((?:[^\n]+\n){3})", "$1\n").as("text"))
      TextOps.repetitionSignals(ml, "doc_id", "text", ngram = 2)
        .orderBy("doc_id")
    },
    Some("""WITH ml AS (
              SELECT doc_id,
                regexp_replace(
                  regexp_replace(text, '(\S+ \S+) ', '\1' || chr(10), 'g'),
                  '((?:[^\n]+\n){3})', '\1' || chr(10), 'g') AS t
              FROM documents
            ), lc AS (
              SELECT doc_id, u, COUNT(*) AS c FROM (
                SELECT doc_id, unnest(list_filter(string_split(t, chr(10)),
                  x -> length(x) > 0)) AS u FROM ml)
              GROUP BY doc_id, u
            ), ls AS (
              SELECT doc_id, SUM(c) AS n_l,
                SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_l,
                SUM(c * length(u)) AS chars_l,
                SUM(CASE WHEN c > 1 THEN c * length(u) ELSE 0 END) AS dup_chars_l
              FROM lc GROUP BY doc_id
            ), pc AS (
              SELECT doc_id, u, COUNT(*) AS c FROM (
                SELECT doc_id, unnest(list_filter(string_split(t, chr(10)||chr(10)),
                  x -> length(x) > 0)) AS u FROM ml)
              GROUP BY doc_id, u
            ), ps AS (
              SELECT doc_id, SUM(c) AS n_p,
                SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_p
              FROM pc GROUP BY doc_id
            ), gc AS (
              SELECT doc_id, g, COUNT(*) AS c FROM (
                SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(range(1, len(toks)),
                         i -> array_to_string(toks[i:i+1], ' ')) END) AS g
                FROM (SELECT doc_id, string_split_regex(trim(lower(t)), '\s+') AS toks
                      FROM ml))
              GROUP BY doc_id, g
            ), tg AS (
              SELECT doc_id, g AS top_gram, c AS top_cnt FROM (
                SELECT doc_id, g, c,
                  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn
                FROM gc) WHERE rn = 1
            )
            SELECT m.doc_id,
              CAST(COALESCE(ls.n_l, 0) AS BIGINT) AS n_lines,
              CASE WHEN COALESCE(ls.n_l, 0) > 0
                   THEN CAST(ls.dup_l AS DOUBLE) / CAST(ls.n_l AS DOUBLE)
                   ELSE 0.0 END AS dup_line_frac,
              CASE WHEN COALESCE(ls.chars_l, 0) > 0
                   THEN CAST(ls.dup_chars_l AS DOUBLE) / CAST(ls.chars_l AS DOUBLE)
                   ELSE 0.0 END AS dup_line_char_frac,
              CAST(COALESCE(ps.n_p, 0) AS BIGINT) AS n_paras,
              CASE WHEN COALESCE(ps.n_p, 0) > 0
                   THEN CAST(ps.dup_p AS DOUBLE) / CAST(ps.n_p AS DOUBLE)
                   ELSE 0.0 END AS dup_para_frac,
              COALESCE(tg.top_gram, '') AS top_gram,
              CAST(COALESCE(tg.top_cnt, 0) AS BIGINT) AS top_gram_cnt,
              CASE WHEN length(m.t) > 0
                   THEN CAST(COALESCE(tg.top_cnt, 0) * length(COALESCE(tg.top_gram, '')) AS DOUBLE)
                        / CAST(length(m.t) AS DOUBLE)
                   ELSE 0.0 END AS top_gram_char_frac
            FROM ml m
            LEFT JOIN ls USING (doc_id)
            LEFT JOIN ps USING (doc_id)
            LEFT JOIN tg USING (doc_id)
            ORDER BY doc_id"""))

  // File-stats data skipping end to end: write a range-partitioned
  // copy of events WITH a min/max manifest, read it back through the
  // pruned-scan path under a range predicate. The oracle is the
  // plain filtered SQL over the source table — pruning must be
  // invisible in the result (files are only skipped when their stats
  // prove no row can match). DataSkippingSpec asserts the pruning
  // itself (fewer files scanned); this gate asserts zero row drift.
  val skippingScan = QueryDef(
    "q_skipping_scan",
    (s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_skq").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      graft.sources.DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("user_id")), s"$root/events", Seq("user_id"))
      graft.sources.DataSkipping.readSkipping(s, s"$root/events",
          col("user_id") >= 100L && col("user_id") < 200L)
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value
            FROM events WHERE user_id >= 100 AND user_id < 200
            ORDER BY event_id"""))

  // Z-order clustering end to end: events written z-ordered on
  // (user_id, event_id) with a stats manifest, read back through the
  // pruned path under a predicate on the SECOND z column, with the
  // Morton z-value itself in the output — the oracle recomputes the
  // bucketization and bit interleave in plain SQL (integer div +
  // shifts), so a single wrong bit anywhere in the dilation is a
  // hash mismatch. Multi-column pruning quality is DataSkippingSpec's
  // job; this gate pins arithmetic + zero row drift.
  val zorderScan = QueryDef(
    "q_zorder_scan",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_zoq").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val r = ev.agg(min("user_id"), max("user_id"),
        min("event_id"), max("event_id")).head()
      val (uLo, uHi, eLo, eHi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      DataSkipping.writeZOrdered(ev, s"$root/ev",
        Seq(("user_id", uLo, uHi), ("event_id", eLo, eHi)), targetFiles = 16)
      DataSkipping.readSkipping(s, s"$root/ev", col("event_id") < 5000L)
        .withColumn("zval", DataSkipping.zValue(Seq(
          DataSkipping.bucket16(col("user_id"), uLo, uHi),
          DataSkipping.bucket16(col("event_id"), eLo, eHi))))
        .orderBy("event_id")
    },
    Some {
      def spread(x: String, n: Int): String =
        (0 until 16).map(i => s"((($x >> $i) & 1) << ${i * n})").mkString("(", " | ", ")")
      s"""WITH r AS (
            SELECT min(user_id) AS ulo, max(user_id) AS uhi,
                   min(event_id) AS elo, max(event_id) AS ehi
            FROM events
          ), b AS (
            SELECT e.event_id, e.user_id, e.event_type, e.value,
              CASE WHEN r.uhi = r.ulo THEN 0
                   ELSE ((e.user_id - r.ulo) * 65535) // (r.uhi - r.ulo) END AS bu,
              CASE WHEN r.ehi = r.elo THEN 0
                   ELSE ((e.event_id - r.elo) * 65535) // (r.ehi - r.elo) END AS be
            FROM events e, r
            WHERE e.event_id < 5000
          )
          SELECT event_id, user_id, event_type, value,
            CAST(${spread("bu", 2)} | (${spread("be", 2)} << 1) AS BIGINT) AS zval
          FROM b ORDER BY event_id"""
    })

  /** Pre-materialized storage tables, one per (sf dir, layout), so
    * the `*_read` gate queries time ONLY the pruned-read plan.
    * The `*_scan` variants time write+read together, which is honest
    * for the end-to-end operation but lets a read-path plan
    * regression hide under write noise (r6 verdict #2) — the read
    * variants make the pruned scan its own gated number. The first
    * call per JVM pays the write (bench warmup covers it); timed
    * attempts then measure the read alone.
    */
  private object StorageFixtures {
    private val skipping = scala.collection.mutable.HashMap[String, String]()
    private val dfp = scala.collection.mutable.HashMap[String, String]()
    private val vidx = scala.collection.mutable.HashMap[String, String]()

    /** One persisted IVF-PQ index per sf dir, trained on the planted
      * ANN corpus with q_ann_ivfpq's pinned seeds — search over it
      * must equal that query's result exactly.
      */
    def vectorIndexTable(s: SparkSession, d: String): String = synchronized {
      vidx.getOrElseUpdate(d, {
        val root = java.nio.file.Files.createTempDirectory("graft_vix").toString
        graft.sources.VectorIndex.build(s, annPlantedCorpus(s, d), "vec_id",
          "embedding", s"$root/idx", nCenters = 8, m = 8, ksub = 16,
          coarseSeedIds = Some(ivfPqCoarseSeeds), pqSeedIds = Some(pqSeedIds))
        s"$root/idx"
      })
    }

    private val vidxR = scala.collection.mutable.HashMap[String, String]()

    /** The RESIDUAL-coded twin of [[vectorIndexTable]] — must equal
      * q_ann_ivfpq_residual's query-time pipeline exactly.
      */
    def vectorIndexResidualTable(s: SparkSession, d: String): String =
      synchronized {
        vidxR.getOrElseUpdate(d, {
          val root = java.nio.file.Files.createTempDirectory("graft_vixr").toString
          graft.sources.VectorIndex.build(s, annPlantedCorpus(s, d), "vec_id",
            "embedding", s"$root/idx", nCenters = 8, m = 8, ksub = 16,
            coarseSeedIds = Some(ivfPqCoarseSeeds), pqSeedIds = Some(pqSeedIds),
            residual = true)
          s"$root/idx"
        })
      }
    private val zorder =
      scala.collection.mutable.HashMap[String, (String, Long, Long, Long, Long)]()

    private def events4(s: SparkSession, d: String): DataFrame =
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

    def skippingTable(s: SparkSession, d: String): String = synchronized {
      skipping.getOrElseUpdate(d, {
        val root = java.nio.file.Files.createTempDirectory("graft_skr").toString
        graft.sources.DataSkipping.writeWithStats(
          events4(s, d).repartitionByRange(16, col("user_id")),
          s"$root/events", Seq("user_id"))
        s"$root/events"
      })
    }

    def dfpTable(s: SparkSession, d: String): String = synchronized {
      dfp.getOrElseUpdate(d, {
        val root = java.nio.file.Files.createTempDirectory("graft_dfr").toString
        graft.sources.DataSkipping.writeWithStats(
          Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
            .repartitionByRange(16, col("o_custkey")),
          s"$root/orders", Seq("o_custkey"))
        s"$root/orders"
      })
    }

    def zorderTable(s: SparkSession, d: String): (String, Long, Long, Long, Long) =
      synchronized {
        zorder.getOrElseUpdate(d, {
          val root = java.nio.file.Files.createTempDirectory("graft_zor").toString
          val ev = events4(s, d)
          val r = ev.agg(min("user_id"), max("user_id"),
            min("event_id"), max("event_id")).head()
          val (uLo, uHi, eLo, eHi) =
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
          graft.sources.DataSkipping.writeZOrdered(ev, s"$root/ev",
            Seq(("user_id", uLo, uHi), ("event_id", eLo, eHi)), targetFiles = 16)
          (s"$root/ev", uLo, uHi, eLo, eHi)
        })
      }
  }

  // OPTIMIZE ZORDER as maintenance: a linearly-written table is
  // DV-deleted then RE-CLUSTERED in place (manifest-derived ranges,
  // vector materialized by the rewrite, generation-committed), and
  // read back pruned on the SECOND column — the one the original
  // layout couldn't prune. Any row lost/duplicated by the
  // re-cluster, or a resurrected DV row, mismatches.
  val zorderOptimize = QueryDef(
    "q_zorder_optimize",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_zopt").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("event_id")), s"$root/ev",
        Seq("event_id", "user_id"))
      DataSkipping.deleteWhereDV(s, s"$root/ev", col("event_id") < 500L)
      DataSkipping.zorderTable(s, s"$root/ev", Seq("event_id", "user_id"),
        targetFiles = 16)
      DataSkipping.readSkipping(s, s"$root/ev",
          col("user_id") >= 100L && col("user_id") < 200L)
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value
            FROM events
            WHERE user_id >= 100 AND user_id < 200
              AND NOT (event_id < 500)
            ORDER BY event_id"""))

  // HILBERT CLUSTERING (row 17e note): the same maintenance op with
  // curve = "hilbert" — the locality-preserving alternative (no
  // Morton diagonal jumps, tighter per-file envelopes). The curve
  // only changes LAYOUT: the gate is content identity after the
  // re-cluster plus a pruned read on the second column; the
  // adjacency property itself is pinned in ZorderMaintenanceSpec.
  val hilbertOptimize = QueryDef(
    "q_hilbert_optimize",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_hopt").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("event_id")), s"$root/ev",
        Seq("event_id", "user_id"))
      DataSkipping.deleteWhereDV(s, s"$root/ev", col("event_id") < 500L)
      DataSkipping.zorderTable(s, s"$root/ev", Seq("event_id", "user_id"),
        targetFiles = 16, curve = "hilbert")
      DataSkipping.readSkipping(s, s"$root/ev",
          col("user_id") >= 100L && col("user_id") < 200L)
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value
            FROM events
            WHERE user_id >= 100 AND user_id < 200
              AND NOT (event_id < 500)
            ORDER BY event_id"""))

  // The format("graft") data source: the same pruned read through
  // the STANDARD reader API + a SQL view — filters arrive at
  // planning time via PrunedFilteredScan and the deletion vector
  // applies inside the relation. Oracle = plain SQL over the
  // surviving rows.
  val graftSourceQ = QueryDef(
    "q_graft_source",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_fmt").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(8, col("user_id")), s"$root/ev", Seq("user_id"))
      DataSkipping.deleteWhereDV(s, s"$root/ev", col("event_id") % 13 === 5)
      s.read.format("graft").load(s"$root/ev")
        .createOrReplaceTempView("graft_events_v")
      s.sql("""SELECT user_id, COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
               FROM graft_events_v
               WHERE user_id >= 50 AND user_id < 150
               GROUP BY user_id ORDER BY user_id""")
    },
    Some("""SELECT user_id, COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
            FROM events
            WHERE user_id >= 50 AND user_id < 150
              AND NOT (event_id % 13 = 5)
            GROUP BY user_id ORDER BY user_id"""))

  // Read-only pruned scan against the pre-materialized stats table:
  // the manifest-driven file pruning + predicate re-apply, nothing
  // else. Same oracle as q_skipping_scan (the write is content-
  // invisible by construction).
  val skippingRead = QueryDef(
    "q_skipping_read",
    (s, d) => graft.sources.DataSkipping.readSkipping(
        s, StorageFixtures.skippingTable(s, d),
        col("user_id") >= 100L && col("user_id") < 200L)
      .orderBy("event_id"),
    Some("""SELECT event_id, user_id, event_type, value
            FROM events WHERE user_id >= 100 AND user_id < 200
            ORDER BY event_id"""))

  // Read-only pruned scan of the pre-materialized z-ordered table,
  // Morton arithmetic included in the output (same oracle as
  // q_zorder_scan).
  val zorderRead = QueryDef(
    "q_zorder_read",
    (s, d) => {
      import graft.sources.DataSkipping
      val (path, uLo, uHi, eLo, eHi) = StorageFixtures.zorderTable(s, d)
      DataSkipping.readSkipping(s, path, col("event_id") < 5000L)
        .withColumn("zval", DataSkipping.zValue(Seq(
          DataSkipping.bucket16(col("user_id"), uLo, uHi),
          DataSkipping.bucket16(col("event_id"), eLo, eHi))))
        .orderBy("event_id")
    },
    zorderScan.oracle)

  // Incremental append to a stats table: base write + an appended
  // batch (appendWithStats — the manifest gains O(batch) rows,
  // nothing existing is re-scanned or rewritten), then a pruned read
  // spanning BOTH generations of files. Oracle is the plain filtered
  // SQL over the source table: the base/batch split and the
  // staging/move machinery must be invisible in the result.
  // DataSkippingSpec asserts the manifest mechanics (old rows
  // byte-identical, pruning spans appended files).
  val appendScan = QueryDef(
    "q_append_scan",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_apq").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.filter(col("event_id") % 2 === 0).repartitionByRange(8, col("user_id")),
        s"$root/events", Seq("user_id"))
      DataSkipping.appendWithStats(
        ev.filter(col("event_id") % 2 === 1).repartitionByRange(4, col("user_id")),
        s"$root/events", Seq("user_id"))
      // predicate INSIDE the data domain at every gated scale (sf0.01
      // events carry user_id < 150): a range past the domain returns
      // zero rows from both engines and the gate would stay green even
      // if the append dropped or duplicated every row (r7 advice)
      DataSkipping.readSkipping(s, s"$root/events",
          col("user_id") >= 30L && col("user_id") < 80L)
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value
            FROM events WHERE user_id >= 30 AND user_id < 80
            ORDER BY event_id"""))

  // OPTIMIZE bin-packing: a deliberately fragmented table (16 base
  // files + a small-file append tail) compacted into few files, then
  // a pruned read. Oracle is the plain filtered SQL — compaction
  // must be content-invisible. File-count / vacuum / no-op mechanics
  // are DataSkippingSpec's job; this gate pins zero row drift
  // through the rewrite + manifest swap.
  val compactScan = QueryDef(
    "q_compact_scan",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_cpq").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.filter(col("event_id") % 4 =!= 0).repartitionByRange(16, col("user_id")),
        s"$root/events", Seq("user_id"))
      DataSkipping.appendWithStats(
        ev.filter(col("event_id") % 4 === 0).repartitionByRange(3, col("user_id")),
        s"$root/events", Seq("user_id"))
      DataSkipping.compactTable(s, s"$root/events",
        targetFileBytes = 16L * 1024 * 1024)
      DataSkipping.readSkipping(s, s"$root/events",
          col("user_id") >= 100L && col("user_id") < 250L)
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value
            FROM events WHERE user_id >= 100 AND user_id < 250
            ORDER BY event_id"""))

  // Bloom-indexed point lookup: events clustered by USER (the usual
  // layout for per-user reads), blooms on the UNCLUSTERED unique
  // event_id — each file's event_id range spans nearly everything,
  // so min/max stats keep all 16 files and only the Bloom narrows a
  // point lookup to ~1 file + fpp. Oracle is the plain filtered SQL
  // — bloom pruning must be content-invisible (a false negative =
  // lost rows = hash mismatch). Pruning counts are
  // DataSkippingSpec's job.
  val bloomScan = QueryDef(
    "q_bloom_scan",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_blq").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("user_id")), s"$root/events",
        statsCols = Seq("user_id", "event_id"),
        bloomCols = Seq("event_id"), bloomBits = 1 << 16)
      DataSkipping.readSkipping(s, s"$root/events",
          col("event_id") === 1234L || col("event_id").isin(77L, 5555L))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value
            FROM events
            WHERE event_id = 1234 OR event_id IN (77, 5555)
            ORDER BY event_id"""))

  // Deterministic training-order shuffle. The global ordinal makes
  // the ORDER itself part of the row values (the gate's row-sorted
  // hash would not see a wrong sort otherwise): the oracle replays
  // the key arithmetic and ranks with row_number over (key, id).
  val shuffleOrder = QueryDef(
    "q_shuffle_order",
    (s, d) => TextOps.shuffleDeterministic(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id", seed = 12345L)
      .orderBy("shuffle_pos"),
    Some {
      val (m, a) = TextOps.shuffleKeyConstants(12345L)
      s"""SELECT doc_id, source,
            ((doc_id % 1000000007) * $m + $a) % 1000000007 AS shuffle_key,
            row_number() OVER (ORDER BY
              ((doc_id % 1000000007) * $m + $a) % 1000000007,
              doc_id) - 1 AS shuffle_pos
          FROM documents
          ORDER BY shuffle_pos"""
    })

  // GPT-3-style benchmark decontamination. Non-vacuous by
  // construction on BOTH sides: docs 450+ act as the benchmark set,
  // the corpus is docs < 450 plus 50 planted variants (id+200000)
  // whose text embeds one full benchmark document — those MUST flag
  // as contaminated (every benchmark gram present), while the
  // random-vocabulary originals share almost no 5-gram with the
  // benchmark. Exact-match grams, integer counts — replayable.
  val contamination = QueryDef(
    "q_contamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val planted = docs.filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text"))
        .join(docs.filter(col("doc_id") >= 450)
          .select((col("doc_id") - 450).as("doc_id"), col("text").as("btext")),
          Seq("doc_id"))
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" "), col("btext")).as("text"))
      val corpus = docs.filter(col("doc_id") < 450)
        .select(col("doc_id"), col("text"))
        .union(planted)
      val bench = docs.filter(col("doc_id") >= 450)
      TextOps.contamination(corpus, "doc_id", "text", bench, "text", n = 5)
        .orderBy("doc_id")
    },
    Some("""WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 450
              UNION ALL
              SELECT a.doc_id + 200000, a.text || ' ' || b.text
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 450
              WHERE a.doc_id < 50
            ), cg AS (
              SELECT doc_id, list_distinct(
                CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(range(1, len(toks) - 3),
                            i -> array_to_string(toks[i:i+4], ' ')) END) AS gs
              FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
                    FROM corpus)
            ), bg AS (
              SELECT DISTINCT unnest(list_distinct(
                CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(range(1, len(toks) - 3),
                            i -> array_to_string(toks[i:i+4], ' ')) END)) AS g
              FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
                    FROM documents WHERE doc_id >= 450)
            ), hits AS (
              SELECT c.doc_id, COUNT(*) AS n_hit
              FROM (SELECT doc_id, unnest(gs) AS g FROM cg) c
              JOIN bg USING (g)
              GROUP BY c.doc_id
            )
            SELECT cg.doc_id,
              CAST(len(cg.gs) AS BIGINT) AS n_grams,
              CAST(COALESCE(hits.n_hit, 0) AS BIGINT) AS n_contaminated,
              CASE WHEN len(cg.gs) > 0
                   THEN CAST(COALESCE(hits.n_hit, 0) AS DOUBLE) / CAST(len(cg.gs) AS DOUBLE)
                   ELSE 0.0 END AS contaminated_frac,
              COALESCE(hits.n_hit, 0) >= 1 AS contaminated
            FROM cg LEFT JOIN hits USING (doc_id)
            ORDER BY doc_id"""))

  // ---------------------------------------------------------------
  // Dedup
  // ---------------------------------------------------------------

  // Registered through the hash path: groups shuffle a 64-bit key
  // instead of the full normalized text (the 100 TB-safe shape);
  // rep_id/n_dups are identical to full-text grouping absent xxhash64
  // collisions, so the full-text oracle still applies. DedupSpec
  // asserts exact == exactByHash on the test corpus.
  val dedupExact = QueryDef(
    "q_dedup_exact",
    (s, d) => Dedup.exactByHash(Tables.documents(s, d), "doc_id", "text")
      .orderBy("rep_id"),
    Some("""SELECT MIN(doc_id) AS rep_id, COUNT(*) AS n_dups
            FROM documents
            GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
            ORDER BY rep_id"""))

  // URL-level dedup (row 18h): documents get deterministically
  // planted messy URLs (uppercase scheme/host, www., default port,
  // tracking params, trailing slash, fragment) colliding mod
  // lcm(7,5,3)=105 canonical groups; the operator keeps the lowest
  // doc_id per canonical URL. The oracle replays the EXACT
  // canonicalization chain (same regexes — RE2-safe, no
  // backreferences — with 'g' where Spark replaces all) and the
  // min-id election, so the gate checks every normalization step
  // byte for byte.
  val urlDedupQ = QueryDef(
    "q_url_dedup",
    (s, d) => {
      // userinfo + mixed-case tracker keys are part of the fixture:
      // the canonical form must strip 'User:Pw@' before the www/port
      // normalizations and match trackers case-insensitively
      val withUrls = Tables.documents(s, d).withColumn("url",
        concat(lit("HTTPS://User:Pw@WWW.Site"), (col("doc_id") % 7).cast("string"),
          lit(".example.COM:443/Path"), (col("doc_id") % 5).cast("string"),
          lit("/?UTM_Source=x&p="), (col("doc_id") % 3).cast("string"),
          lit("&FBclid=abc#frag")))
      Dedup.urlDedup(withUrls, "doc_id", "url")
        .select(col("canonical_url"), col("doc_id"), col("n_dupes"))
        .orderBy("canonical_url")
    },
    Some("""WITH urls AS (
              SELECT doc_id,
                'HTTPS://User:Pw@WWW.Site' || (doc_id % 7) || '.example.COM:443/Path' ||
                (doc_id % 5) || '/?UTM_Source=x&p=' || (doc_id % 3) ||
                '&FBclid=abc#frag' AS url
              FROM documents
            ), c1 AS (
              SELECT doc_id, regexp_replace(trim(url), '#.*$', '') AS nofrag FROM urls
            ), c2 AS (
              SELECT doc_id,
                lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://')) AS scheme,
                regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
              FROM c1
            ), c3 AS (
              SELECT doc_id, scheme,
                regexp_replace(lower(regexp_replace(
                  regexp_extract(rest, '^[^/?#]*'), '^[^@]*@', '')),
                  '^www\.', '') AS hostport,
                regexp_replace(rest, '^[^/?#]*', '') AS pathq
              FROM c2
            ), c4 AS (
              SELECT doc_id, scheme,
                CASE WHEN scheme = 'http://' THEN regexp_replace(hostport, ':80$', '')
                     WHEN scheme = 'https://' THEN regexp_replace(hostport, ':443$', '')
                     ELSE hostport END AS host,
                regexp_replace(regexp_extract(pathq, '^[^?]*'), '/+$', '') AS path,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(regexp_replace(pathq, '^[^?]*', ''),
                      '&((?i:utm_[^=&#]*|fbclid|gclid|msclkid))=[^&#]*', '', 'g'),
                    '\?((?i:utm_[^=&#]*|fbclid|gclid|msclkid))=[^&#]*&?', '?'),
                  '[?&]+$', '') AS query
              FROM c3
            )
            SELECT scheme || host || path || query AS canonical_url,
              MIN(doc_id) AS doc_id, COUNT(*) AS n_dupes
            FROM c4 GROUP BY 1 ORDER BY canonical_url"""))

  // Incremental (new-batch-vs-history) dedup through the Bloom
  // prefilter + exact-verify path. Non-vacuous: 50 batch rows are
  // case/whitespace variants of history docs (MUST flag
  // in_history=true via normalization), 50 carry a unique suffix
  // (MUST pass as new). The Bloom filter only prunes; the exact
  // verify join makes the output equal to the plain membership SQL.
  val incrementalDedup = QueryDef(
    "q_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val batch = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit("  ")).as("text"))
        .union(docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
          .select((col("doc_id") + 400000L).as("doc_id"),
            concat(col("text"), lit(" zzqx"), col("doc_id").cast("string")).as("text")))
      Dedup.incrementalDedup(docs, batch, "doc_id", "text",
          expectedItems = 1000L, fpp = 0.01)
        .select(col("doc_id"), col("in_history"))
        .orderBy("doc_id")
    },
    Some("""WITH batch AS (
              SELECT doc_id + 300000 AS doc_id,
                '  ' || upper(text) || '  ' AS text
              FROM documents WHERE doc_id < 50
              UNION ALL
              SELECT doc_id + 400000,
                text || ' zzqx' || CAST(doc_id AS VARCHAR)
              FROM documents WHERE doc_id >= 100 AND doc_id < 150
            ), hist AS (
              SELECT DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
              FROM documents
            )
            SELECT doc_id,
              lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) IN (SELECT nt FROM hist) AS in_history
            FROM batch ORDER BY doc_id"""))

  // Exact corpus heavy hitters through the Misra-Gries sketch +
  // exact-verify path. At the 3.3% threshold the synthetic
  // vocabulary genuinely splits (some terms above, some below), so
  // both the sketch's superset guarantee and the exact threshold
  // filter do real work; the oracle is the plain exact GROUP BY /
  // HAVING — the sketch must be invisible in the result.
  val heavyTermsQ = QueryDef(
    "q_heavy_terms",
    (s, d) => TextOps.heavyTerms(
        Tables.documents(s, d), "text", minFreqRatio = 0.033)
      .orderBy("term"),
    Some("""WITH t AS (
              SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
              FROM documents
            ), tt AS (
              SELECT term FROM t WHERE length(term) > 0
            )
            SELECT term, COUNT(*) AS freq FROM tt
            GROUP BY term
            HAVING COUNT(*) >= (SELECT CEIL(COUNT(*) * 0.033) FROM tt)
            ORDER BY term"""))

  // Int8 embedding quantization, exploded to scalar rows (per-dim
  // values — the gate's hash then checks every quantized byte and
  // the per-vector scale; rounding is floor(x+0.5), bit-identical in
  // both engines, where round() half-cases are not).
  val quantizeQ = QueryDef(
    "q_quantize",
    (s, d) => {
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 100)
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("__qz"))
      e.select(col("vec_id"), col("__qz.scale").as("scale"),
          posexplode(col("__qz.q")).as(Seq("dim", "qval")))
        .select(col("vec_id"), col("dim").cast("bigint").as("dim"),
          col("qval").cast("bigint").as("qval"), col("scale"))
        .orderBy("vec_id", "dim")
    },
    Some("""WITH s AS (
              SELECT vec_id, embedding,
                CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS scale
              FROM (SELECT vec_id, embedding,
                      CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS mx
                    FROM embeddings WHERE vec_id < 100)
            )
            SELECT vec_id, CAST(u.d AS BIGINT) AS dim,
              CAST(floor(CAST(u.v AS DOUBLE) / scale + 0.5) AS BIGINT) AS qval,
              scale
            FROM (SELECT vec_id, scale,
                    unnest(list_transform(range(1, len(embedding) + 1),
                      i -> {'d': i - 1, 'v': embedding[i]})) AS u
                  FROM s)
            ORDER BY vec_id, dim"""))

  // Paragraph-level dedup across the corpus: the same 2-token-line
  // derivation as q_repetition turns each doc into many small
  // "paragraphs" with heavy natural cross-document duplication
  // (tiny vocabulary), so the first-occurrence election and the
  // reassembly both do real work. Oracle replays the election with
  // a row_number over (para -> doc_id, idx) and rebuilds documents
  // with an ordered string_agg.
  val dedupParagraphsQ = QueryDef(
    "q_dedup_paragraphs",
    (s, d) => {
      val ml = Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          regexp_replace(col("text"), "(\\S+ \\S+) ", "$1\n").as("text"))
      Dedup.dedupParagraphs(ml, "doc_id", "text", sep = "\n")
        .orderBy("doc_id")
    },
    Some("""WITH ml AS (
              SELECT doc_id,
                regexp_replace(text, '(\S+ \S+) ', '\1' || chr(10), 'g') AS t
              FROM documents WHERE doc_id < 200
            ), p AS (
              SELECT doc_id, u.idx AS idx, u.para AS para FROM (
                SELECT doc_id, unnest(list_transform(range(1, len(ps)+1),
                  i -> {'idx': i, 'para': ps[i]})) AS u
                FROM (SELECT doc_id, string_split(t, chr(10)) AS ps FROM ml))
              WHERE length(u.para) > 0
            ), k AS (
              SELECT doc_id, idx, para,
                row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
              FROM p
            )
            SELECT ml.doc_id,
              COALESCE(string_agg(CASE WHEN rn = 1 THEN para END,
                chr(10) ORDER BY idx), '') AS text,
              CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
              CAST(COUNT(rn) - COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_dropped
            FROM ml LEFT JOIN k USING (doc_id)
            GROUP BY ml.doc_id ORDER BY doc_id"""))

  // BOILERPLATE LINE REMOVAL (row 18i): the rule dedupParagraphs
  // deliberately doesn't implement — a line in >= minDocs DISTINCT
  // docs is removed from EVERY doc, first occurrence included.
  // Planted banners ("subscribe ..." on even ids, "all rights
  // reserved" on ids % 3 == 0) must vanish everywhere; natural
  // 3-word lines crossing the threshold go too; rare lines survive
  // verbatim. Oracle replays the distinct-doc counting and ordered
  // reassembly exactly.
  val removeBoilerplateQ = QueryDef(
    "q_remove_boilerplate",
    (s, d) => {
      val ml = Tables.documents(s, d).filter(col("doc_id") < 250)
        .select(col("doc_id"), concat(
          when(col("doc_id") % 2 === 0,
            lit("subscribe to our newsletter\n")).otherwise(lit("")),
          regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n"),
          when(col("doc_id") % 3 === 0,
            lit("\nall rights reserved")).otherwise(lit(""))).as("text"))
      Dedup.removeBoilerplate(ml, "doc_id", "text", minDocs = 5, sep = "\n")
        .orderBy("doc_id")
    },
    Some("""WITH ml AS (
              SELECT doc_id,
                CASE WHEN doc_id % 2 = 0
                     THEN 'subscribe to our newsletter' || chr(10) ELSE '' END
                || regexp_replace(text, '(\S+ \S+ \S+) ', '\1' || chr(10), 'g')
                || CASE WHEN doc_id % 3 = 0
                        THEN chr(10) || 'all rights reserved' ELSE '' END AS t
              FROM documents WHERE doc_id < 250
            ), p AS (
              SELECT doc_id, u.idx AS idx, u.para AS para FROM (
                SELECT doc_id, unnest(list_transform(range(1, len(ps)+1),
                  i -> {'idx': i, 'para': ps[i]})) AS u
                FROM (SELECT doc_id, string_split(t, chr(10)) AS ps FROM ml))
              WHERE length(u.para) > 0
            ), b AS (
              SELECT para FROM (
                SELECT para, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY para)
              WHERE nd >= 5
            ), k AS (
              SELECT doc_id, idx, para FROM p
              WHERE para NOT IN (SELECT para FROM b)
            ), c AS (
              SELECT doc_id, COUNT(*) AS n_lines FROM p GROUP BY doc_id
            )
            SELECT ml.doc_id,
              COALESCE(string_agg(k.para, chr(10) ORDER BY k.idx), '') AS text,
              CAST(COUNT(k.para) AS BIGINT) AS n_kept,
              CAST(COALESCE(ANY_VALUE(c.n_lines), 0) - COUNT(k.para) AS BIGINT)
                AS n_removed
            FROM ml LEFT JOIN c USING (doc_id) LEFT JOIN k USING (doc_id)
            GROUP BY ml.doc_id ORDER BY doc_id"""))

  val ngramJaccardPairs = QueryDef(
    "q_ngram_jaccard_pairs",
    (s, d) => Dedup.ngramJaccardPairs(
        Tables.documents(s, d).filter(col("doc_id") < 300), "doc_id", "text",
        n = 3, threshold = 0.5, maxDf = Some(100))
      .select(col("id_a"), col("id_b"), col("shared"), col("n_a"), col("n_b"))
      .orderBy("id_a", "id_b"),
    Some("""WITH grams AS (
              SELECT doc_id AS id, unnest(list_distinct(ngrams)) AS g FROM (
                SELECT doc_id,
                  CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                       ELSE list_transform(range(1, len(toks) - 1),
                              i -> array_to_string(toks[i:i+2], ' ')) END AS ngrams
                FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
                      FROM documents WHERE doc_id < 300))
            ), counts AS (
              SELECT id, COUNT(*) AS n_grams FROM grams GROUP BY id
            ), shared AS (
              SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS shared
              FROM grams a JOIN grams b ON a.g = b.g AND a.id < b.id
              GROUP BY a.id, b.id
            )
            SELECT id_a, id_b, shared, ca.n_grams AS n_a, cb.n_grams AS n_b
            FROM shared
            JOIN counts ca ON ca.id = id_a
            JOIN counts cb ON cb.id = id_b
            WHERE CAST(shared AS DOUBLE) / CAST(ca.n_grams + cb.n_grams - shared AS DOUBLE) >= 0.5
            ORDER BY id_a, id_b"""))

  // Long-shared-span detection (the "any 50-token overlap" dedup
  // signal, n=20 here since synthetic docs run ~55 tokens): 20
  // planted docs embed a 30-token verbatim prefix of a corpus doc —
  // each MUST pair with its source on an absolute shared-span count,
  // while overall-Jaccard similarity stays low (the case ratio
  // thresholds miss). Both engines derive the planted corpus with
  // identical token-slice arithmetic.
  val sharedSpans = QueryDef(
    "q_shared_spans",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val toks = split(trim(lower(col("text"))), "\\s+")
      val planted = docs.filter(col("doc_id") < 20)
        .select(col("doc_id"),
          concat_ws(" ", slice(toks, 1, 30)).as("prefix"))
        .join(docs.filter(col("doc_id") >= 300 && col("doc_id") < 320)
          .select((col("doc_id") - 300).as("doc_id"), col("text").as("suffix")),
          Seq("doc_id"))
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("prefix"), lit(" "), col("suffix")).as("text"))
      val corpus = docs.filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
        .union(planted)
      Dedup.sharedSpanPairs(corpus, "doc_id", "text", n = 20, minShared = 1)
        .orderBy("id_a", "id_b")
    },
    Some("""WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 100
              UNION ALL
              SELECT a.doc_id + 100000,
                array_to_string(string_split_regex(trim(lower(a.text)), '\s+')[1:30], ' ')
                  || ' ' || b.text
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 300
              WHERE a.doc_id < 20
            ), grams AS (
              SELECT doc_id AS id, unnest(list_distinct(gs)) AS g FROM (
                SELECT doc_id,
                  CASE WHEN len(toks) < 20 THEN CAST([] AS VARCHAR[])
                       ELSE list_transform(range(1, len(toks) - 18),
                              i -> array_to_string(toks[i:i+19], ' ')) END AS gs
                FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
                      FROM corpus))
            ), counts AS (
              SELECT id, COUNT(*) AS n_grams FROM grams GROUP BY id
            ), shared AS (
              SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS shared
              FROM grams a JOIN grams b ON a.g = b.g AND a.id < b.id
              GROUP BY a.id, b.id
            )
            SELECT id_a, id_b, shared, ca.n_grams AS n_a, cb.n_grams AS n_b
            FROM shared
            JOIN counts ca ON ca.id = id_a
            JOIN counts cb ON cb.id = id_b
            WHERE shared >= 1
            ORDER BY id_a, id_b"""))

  // Exact substring EXCISION (row 21c, Lee et al. ExactSubstr): the
  // duplicated spans are CUT OUT of later documents instead of the
  // documents being dropped. Planted docs carry a 30-token prefix
  // copied from a smaller-id corpus doc plus a unique suffix — the
  // prefix must excise in full (every token sits inside a duplicated
  // 20-gram window) while the suffix survives verbatim. The oracle
  // replays the whole decision procedure in SQL: positional tokens,
  // positional 20-grams, global first-occurrence election (min
  // (id, pos), row_number), window cover, ordered reassembly — any
  // drift in the election order, the cover arithmetic, or the
  // reassembly is a hash mismatch on the rebuilt text itself.
  val exciseSpans = QueryDef(
    "q_excise_spans",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val toksC = split(trim(lower(col("text"))), "\\s+")
      val planted = docs.filter(col("doc_id") < 20)
        .select(col("doc_id"),
          concat_ws(" ", slice(toksC, 1, 30)).as("prefix"))
        .join(docs.filter(col("doc_id") >= 300 && col("doc_id") < 320)
          .select((col("doc_id") - 300).as("doc_id"), col("text").as("suffix")),
          Seq("doc_id"))
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("prefix"), lit(" "), col("suffix")).as("text"))
      val corpus = docs.filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
        .union(planted)
      Dedup.exciseSpans(corpus, "doc_id", "text", n = 20)
        .orderBy("doc_id")
    },
    Some("""WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 100
              UNION ALL
              SELECT a.doc_id + 100000,
                array_to_string(string_split_regex(trim(lower(a.text)), '\s+')[1:30], ' ')
                  || ' ' || b.text
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 300
              WHERE a.doc_id < 20
            ), tk AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
              FROM corpus
            ), toks AS (
              SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
                SELECT doc_id, unnest(list_transform(range(1, len(ts) + 1),
                  i -> {'pos': i - 1, 'tok': ts[i]})) AS u
                FROM tk)
            ), occ AS (
              SELECT doc_id, u.pos AS pos, u.g AS g FROM (
                SELECT doc_id, unnest(CASE WHEN len(ts) < 20
                    THEN CAST([] AS STRUCT(pos BIGINT, g VARCHAR)[])
                    ELSE list_transform(range(1, len(ts) - 18),
                      i -> {'pos': i - 1, 'g': array_to_string(ts[i:i+19], ' ')})
                  END) AS u
                FROM tk)
            ), winners AS (
              SELECT g, doc_id AS wid, pos AS wpos FROM (
                SELECT g, doc_id, pos,
                  row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
                FROM occ) WHERE rn = 1
            ), covered AS (
              SELECT DISTINCT o.doc_id, o.pos + d.i AS tp
              FROM occ o
              JOIN winners w ON o.g = w.g
                AND (o.doc_id <> w.wid OR o.pos <> w.wpos),
                (SELECT unnest(range(0, 20)) AS i) d
            ), kept AS (
              SELECT t.doc_id, t.pos, t.tok
              FROM toks t LEFT JOIN covered c
                ON t.doc_id = c.doc_id AND t.pos = c.tp
              WHERE c.doc_id IS NULL
            )
            SELECT c.doc_id,
              coalesce(k.text, '') AS text,
              coalesce(nt.n_tokens, 0) AS n_tokens,
              coalesce(nt.n_tokens, 0) - coalesce(k.n_kept, 0) AS n_excised
            FROM corpus c
            LEFT JOIN (SELECT doc_id, count(*) AS n_kept,
                         array_to_string(list(tok ORDER BY pos), ' ') AS text
                       FROM kept GROUP BY doc_id) k ON k.doc_id = c.doc_id
            LEFT JOIN (SELECT doc_id, count(*) AS n_tokens
                       FROM toks GROUP BY doc_id) nt ON nt.doc_id = c.doc_id
            ORDER BY c.doc_id"""))

  // Canonical-form exact dedup: normalization (lowercase, strip
  // punctuation, collapse whitespace) merges documents that differ
  // only in case/punct/spacing. Non-vacuous by construction: 50
  // uppercased+punctuated variants are planted and MUST collapse
  // onto their sources (n_dups=2), byte-verified against DuckDB's
  // replay of the same regexp chain.
  val normalizeDedup = QueryDef(
    "q_normalize_dedup",
    (s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val variants = base.filter(col("doc_id") < 50)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" !!! ")).as("text"))
      base.union(variants)
        .groupBy(TextFunctions.normalizeForDedup(col("text")).as("norm_text"))
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_dups"))
        .select(col("rep_id"), col("n_dups"))
        .orderBy("rep_id")
    },
    Some("""WITH aug AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000, '  ' || upper(text) || ' !!! '
              FROM documents WHERE doc_id < 50
            ), n AS (
              SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text),
                  '[^\p{L}\p{N}\s]+', ' ', 'g'), '\s+', ' ', 'g')) AS nt
              FROM aug
            )
            SELECT min(doc_id) AS rep_id, count(*) AS n_dups
            FROM n GROUP BY nt ORDER BY rep_id"""))

  // --- Oracle-replayable polynomial hash (SQL side) ---------------
  // h = (h*31 + code) mod 1e9+7 folded over the characters, seeded —
  // the DuckDB replay of graft.functions.Hashing.poly. `cs` is a
  // BIGINT[] of character codes.
  private def phSql(seed: String): String =
    s"list_reduce(list_prepend(CAST($seed AS BIGINT), cs), " +
      "(a, b) -> (a * 31 + b) % 1000000007)"

  // The registered minhash/simhash queries run the SAME sketch as the
  // xxhash64 production default but with the polynomial hash family,
  // so the driver gate gets full row/schema/hash verification instead
  // of a rows-only check (round-3 verdict #2). DedupSpec covers the
  // xxhash64 family; the sketch math is shared.
  // 20 planted textual near-duplicates (source text + a short
  // appended tail: 3-gram jaccard ~0.95+) keep the pair set
  // NON-VACUOUS at every scale factor — at sf0.1 the natural corpus
  // has no pairs above threshold, and a 0-row hash match would
  // verify nothing.
  // Planted textual near-duplicates shared by the sketch queries
  // (minhash pairs, end-to-end dedup, simhash pairs): base corpus is
  // documents with doc_id < 300; sources with doc_id < 20 get an
  // appended-tail copy at doc_id + 100000 (3-gram jaccard ~0.95,
  // simhash within a few bits) so pair sets stay non-vacuous at
  // every scale factor. ONE definition on each engine — the Spark
  // builder and the SQL source below must stay twins.
  private val plantedDocsSql =
    """SELECT doc_id, text FROM documents WHERE doc_id < 300
          UNION ALL
          SELECT doc_id + 100000, text || ' zq zr zs'
          FROM documents WHERE doc_id < 20"""

  private def plantedDocs(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") < 20)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" zq zr zs")).as("text"))
    base.union(planted)
  }

  // CTE chain shared by q_minhash_pairs and q_deduplicate: planted
  // corpus -> tokenize -> 3-grams -> polynomial minhash signatures ->
  // banding -> surviving pairs (est jaccard >= 0.5) as `sel`.
  private val minhashCtes = {
    val mins = (0 until 32).map(i => s"MIN(${phSql(i.toString)})").mkString(",\n              ")
    s"""aug AS (
          $plantedDocsSql
        ), toks AS (
          SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM aug
        ), grams AS (
          SELECT id, unnest(list_distinct(
            CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                 ELSE list_transform(range(1, len(toks) - 1),
                        i -> array_to_string(toks[i:i+2], ' ')) END)) AS g
          FROM toks
        ), gc AS (
          SELECT id, list_transform(string_split(g, ''), x -> CAST(ord(x) AS BIGINT)) AS cs
          FROM grams
        ), sig AS (
          SELECT id, [$mins] AS s
          FROM gc GROUP BY id
        ), banded AS (
          SELECT id, s, b,
            list_reduce(list_prepend(CAST(0 AS BIGINT), s[b*4+1 : b*4+4]),
              (a, v) -> (a * 31 + (v % 1000000007)) % 1000000007) AS bh
          FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b)
        ), pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
          FROM banded a JOIN banded b ON a.b = b.b AND a.bh = b.bh AND a.id < b.id
        ), sel AS (
          SELECT id_a, id_b FROM pairs
          WHERE CAST(len(list_filter(range(1, 33), i -> sa[i] = sb[i])) AS DOUBLE) / 32.0 >= 0.5
        )"""
  }

  private val minhashOracle =
    s"WITH $minhashCtes SELECT id_a, id_b FROM sel ORDER BY id_a, id_b"

  val minhashPairs = QueryDef(
    "q_minhash_pairs",
    (s, d) => {
      Dedup.minHashLsh(plantedDocs(s, d), "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.5,
          hashFn = Hashing.poly, bandHashFn = Hashing.polyLongs)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    },
    Some(minhashOracle))

  // Incremental MinHash admission (row 18i): a new batch (20 planted
  // near-dup variants + 30 novel docs) gated against the history's
  // SIGNATURE INDEX — the text-near-dup face of the continuous-
  // ingestion triple (18e exact, 18g embeddings). The oracle replays
  // the polynomial minhash, the banding, the batch x history band
  // join, and the est-Jaccard cut; est_jaccard = matches/32.0 is
  // exact arithmetic, so it rides the hash compare.
  private val incMinhashOracle = {
    val mins = (0 until 32).map(i => s"MIN(${phSql(i.toString)})").mkString(",\n              ")
    s"""WITH corpus AS (
          SELECT doc_id AS id, 0 AS side, text FROM documents WHERE doc_id < 300
          UNION ALL
          SELECT doc_id + 100000, 1, text || ' zq zr zs'
          FROM documents WHERE doc_id < 20
          UNION ALL
          SELECT doc_id, 1, text FROM documents WHERE doc_id >= 400 AND doc_id < 430
        ), toks AS (
          SELECT id, side, string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM corpus
        ), grams AS (
          SELECT id, side, unnest(list_distinct(
            CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                 ELSE list_transform(range(1, len(toks) - 1),
                        i -> array_to_string(toks[i:i+2], ' ')) END)) AS g
          FROM toks
        ), gc AS (
          SELECT id, side, list_transform(string_split(g, ''), x -> CAST(ord(x) AS BIGINT)) AS cs
          FROM grams
        ), sig AS (
          SELECT id, side, [$mins] AS s
          FROM gc GROUP BY id, side
        ), banded AS (
          SELECT id, side, s, b,
            list_reduce(list_prepend(CAST(0 AS BIGINT), s[b*4+1 : b*4+4]),
              (a, v) -> (a * 31 + (v % 1000000007)) % 1000000007) AS bh
          FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b)
        ), pairs AS (
          SELECT DISTINCT bb.id AS batch_id, hh.id AS history_id, bb.s AS sb, hh.s AS sh
          FROM banded bb JOIN banded hh ON bb.b = hh.b AND bb.bh = hh.bh
          WHERE bb.side = 1 AND hh.side = 0
        ), est AS (
          SELECT batch_id, history_id,
            CAST(len(list_filter(range(1, 33), i -> sb[i] = sh[i])) AS DOUBLE) / 32.0
              AS est_jaccard
          FROM pairs
        )
        SELECT batch_id, history_id, est_jaccard FROM est
        WHERE est_jaccard >= 0.5
        ORDER BY batch_id, history_id"""
  }

  val incrementalMinhashQ = QueryDef(
    "q_incremental_minhash",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val history = docs.filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val hSigs = Dedup.minHashSignatures(history, "doc_id", "text",
        numHashes = 32, ngram = 3, hashFn = Hashing.poly)
      val batch = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" zq zr zs")).as("text"))
        .union(docs.filter(col("doc_id") >= 400 && col("doc_id") < 430)
          .select(col("doc_id"), col("text")))
      Dedup.incrementalMinHashNearDup(hSigs, batch, "doc_id", "text",
          threshold = 0.5, hashFn = Hashing.poly, bandHashFn = Hashing.polyLongs)
        .orderBy("batch_id", "history_id")
    },
    Some(incMinhashOracle))

  // End-to-end near-dedup: the pair CTEs above + transitive closure
  // + drop every non-representative. The Spark side is ONE call
  // (Dedup.deduplicate) composing minHashLsh -> duplicateComponents
  // -> anti-join.
  private val dedupOracle =
    s"""WITH RECURSIVE $minhashCtes, edges AS (
          SELECT id_a AS s, id_b AS d FROM sel
          UNION SELECT id_b, id_a FROM sel
        ), reach AS (
          SELECT s AS a, d AS b FROM edges
          UNION
          SELECT r.a, e2.d FROM reach r JOIN edges e2 ON r.b = e2.s
        ), losers AS (
          SELECT a AS id FROM reach GROUP BY a HAVING min(b) < a
        )
        SELECT doc_id FROM aug
        WHERE doc_id NOT IN (SELECT id FROM losers)
        ORDER BY doc_id"""

  val dedupEndToEnd = QueryDef(
    "q_deduplicate",
    (s, d) => {
      Dedup.deduplicate(plantedDocs(s, d), "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.5,
          hashFn = Hashing.poly, bandHashFn = Hashing.polyLongs)
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
    Some(dedupOracle))

  // poly60 = poly(7)*2^30 + poly(13): bits 0..59 populated, 60..63
  // always zero -> those sums are -n_tokens and contribute bit 0 on
  // both engines, so the oracle only needs bits 0..59. `docSource`
  // must yield (doc_id, text); the CTE chain ends in
  // sh(doc_id, simhash).
  private def simhashShCtes(docSource: String): String = {
    val bitSums = (0 until 60).map(j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b_$j")
      .mkString(",\n            ")
    val recombine = (0 until 60).map(j =>
      s"(CASE WHEN b_$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString("\n          + ")
    s"""toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
          FROM ($docSource)
        ), tc AS (
          SELECT doc_id, list_transform(string_split(t, ''), x -> CAST(ord(x) AS BIGINT)) AS cs
          FROM toks
        ), h AS (
          SELECT doc_id, ${phSql("7")} * 1073741824 + ${phSql("13")} AS h
          FROM tc
        ), bits AS (
          SELECT doc_id,
            $bitSums
          FROM h GROUP BY doc_id
        ), sh AS (
          SELECT doc_id,
            $recombine AS simhash
          FROM bits
        )"""
  }

  val simhash = QueryDef(
    "q_simhash",
    (s, d) => Dedup.simHash(
        Tables.documents(s, d).filter(col("doc_id") < 300), "doc_id", "text",
        hashFn = Hashing.poly60)
      .orderBy("doc_id"),
    Some(s"""WITH ${simhashShCtes("SELECT doc_id, text FROM documents WHERE doc_id < 300")}
             SELECT doc_id, simhash FROM sh ORDER BY doc_id"""))

  // SimHash PAIRS via pigeonhole banding at the canonical Manku
  // threshold (hamming <= 3, 4-chunk pigeonhole). Non-vacuous twice
  // over: half the planted appended-tail variants land within 3 bits
  // of their source, and the synthetic corpus contains ~85 genuinely
  // similar natural pairs at that distance.
  val simhashPairs = QueryDef(
    "q_simhash_pairs",
    (s, d) => {
      Dedup.simHashPairs(plantedDocs(s, d), "doc_id", "text",
          maxHamming = 3, hashFn = Hashing.poly60)
        .select(col("id_a"), col("id_b"), col("hamming").cast("bigint").as("hamming"))
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH ${simhashShCtes(plantedDocsSql)}
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
             FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
             ORDER BY id_a, id_b"""))

  // --- Planted near-duplicate corpora -----------------------------
  // The test embeddings are ISOTROPIC (max natural pairwise cosine
  // ~0.51-0.60): they contain no actual near-duplicates, and at a
  // threshold low enough to match natural tail pairs (0.4) NO LSH
  // parameterization can both prune and recall (agreement rate 0.63
  // vs 0.5 background — round-3 verdict #1). So the approximate-
  // search queries are verified in the operators' design regime:
  // both engines append deterministic perturbed copies (real near-
  // duplicates at cosine ~0.96-0.994, see
  // Similarity.plantNearDuplicates) and the oracle is the exact
  // all-pairs / exact top-k over the augmented corpus. The LSH side
  // must now find the true result WHILE pruning — DedupSpec/
  // SimilaritySpec assert the candidate counts stay << n^2/2.
  private def plantedSql(
      baseWhere: String, srcWhere: String, copies: Int,
      idOffset: Long, scaleStep: Double): String =
    (s"SELECT vec_id, embedding FROM embeddings $baseWhere" +:
      (1 to copies).map { c =>
        val scale = scaleStep * c // Double.toString round-trips: DuckDB parses the identical double
        s"""SELECT vec_id + ${idOffset * c} AS vec_id,
              list_transform(range(1, len(embedding) + 1),
                i -> CAST(embedding[i] + $scale * (((i - 1) % 5) - 2) AS FLOAT)) AS embedding
            FROM embeddings $srcWhere"""
      }).mkString("\n            UNION ALL ")

  val embeddingNearDup = QueryDef(
    "q_embedding_neardup",
    (s, d) => {
      val base = Tables.embeddings(s, d).filter(col("vec_id") < 1000)
      val corpus = Similarity.plantNearDuplicates(base, "vec_id", "embedding",
        col("vec_id") < 200, copies = 1, idOffset = 100000L, scaleStep = 0.01)
      Dedup.embeddingNearDup(corpus, "vec_id", "embedding", threshold = 0.9)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    },
    // 200 planted pairs at cosine ~0.994 vs a ~0.60 max background —
    // the near-dup regime. The oracle is all-pairs exact over the
    // same augmented corpus; the Spark side is LSH-banded (r=16,
    // b=16, multi-probe 1: per-pair miss ~1e-15, unrelated-pair
    // candidate rate ~0.4%) and must produce the identical pair set.
    Some(s"""WITH aug AS (
              ${plantedSql("WHERE vec_id < 1000", "WHERE vec_id < 200", 1, 100000L, 0.01)}
            ), e AS (
              SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                  (x, y) -> x + y)) AS nrm
              FROM aug)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_reduce(list_transform(range(1, len(a.embedding) + 1),
                    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                  (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.9
            ORDER BY id_a, id_b"""))

  // ---------------------------------------------------------------
  // Similarity search
  // ---------------------------------------------------------------

  val embeddingTopK = QueryDef(
    "q_embedding_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH e AS (
              SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                  (x, y) -> x + y)) AS nrm
              FROM embeddings),
            q AS (SELECT * FROM e WHERE vec_id < 10),
            pairs AS (
              SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                list_reduce(list_transform(range(1, len(e.embedding) + 1),
                  i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                  (x, y) -> x + y) / (q.nrm * e.nrm) AS cosine
              FROM e, q WHERE e.vec_id <> q.vec_id)
            SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM pairs)
            WHERE rank <= 5 ORDER BY query_id, rank"""))

  // ANN queries run against the planted corpus: each query vector
  // (vec_id < 10) gets 5 perturbed copies at increasing perturbation
  // scale, so its TRUE top-5 is exactly those copies in scale order
  // (cosine ~0.998 down to ~0.96, natural background <= ~0.60). The
  // approximate search must find and rank them — making the result
  // oracle-checkable as plain exact top-k SQL, with no need to
  // replay hyperplanes/centroids in the oracle. Misses can't hide:
  // a dropped planted neighbor changes the row set.
  private val annPlantedCorpus: (SparkSession, String) => DataFrame =
    (s, d) => Similarity.plantNearDuplicates(Tables.embeddings(s, d),
      "vec_id", "embedding", col("vec_id") < 10,
      copies = 5, idOffset = 100000L, scaleStep = 0.005)

  private val annOracle: String =
    s"""WITH aug AS (
          ${plantedSql("", "WHERE vec_id < 10", 5, 100000L, 0.005)}
        ), e AS (
          SELECT vec_id, embedding,
            sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
              i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
              (x, y) -> x + y)) AS nrm
          FROM aug),
        q AS (SELECT * FROM e WHERE vec_id < 10),
        pairs AS (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
              (x, y) -> x + y) / (q.nrm * e.nrm) AS cosine
          FROM e, q WHERE e.vec_id <> q.vec_id)
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM pairs)
        WHERE rank <= 5 ORDER BY query_id, rank"""

  val annLsh = QueryDef(
    "q_ann_lsh",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(
          emb.filter(col("vec_id") < 10), annPlantedCorpus(s, d), "vec_id", "embedding",
          k = 5, numPlanes = 256, bands = 16, dim = 64, multiProbe = 1)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some(annOracle))

  val annIvf = QueryDef(
    "q_ann_ivf",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(
          emb.filter(col("vec_id") < 10), annPlantedCorpus(s, d), "vec_id", "embedding",
          k = 5, nCenters = 16, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some(annOracle)) // planted neighbors sit in the query's own
                     // Voronoi cell, so nProbe=4 retrieves them;
                     // SimilaritySpec separately proves
                     // nProbe=nCenters == brute force exactly

  // Product-quantization ADC search (row 24d): the corpus stores m=8
  // codeword ids instead of 64 floats and queries rank by
  // dot(query, codeword reconstruction). The oracle REPLAYS the
  // decision procedure itself — pinned seed codebooks (codeword c of
  // subspace j = subvector j of seed row c), per-subspace argmin of
  // the sequentially-summed squared L2 distance (ties to the smaller
  // code), then the ADC dot against the flattened reconstruction in
  // the same global element order — so the gate checks PQ's defined
  // semantics, not a recall assumption. Decision margins: codeword
  // argmin margins are O(0.1..1) squared distance (distinct corpus
  // vectors as seeds) and ranking gaps between different code
  // assignments are quantization-level; rows sharing EXACT codes get
  // bit-equal scores in both engines (the score depends only on
  // codes + the raw query floats) and tie-break by neighbor id
  // identically. Recall of planted neighbors is asserted separately
  // in SimilaritySpec.
  private val pqSeedIds = Seq(11L, 42L, 73L, 104L, 135L, 166L, 197L, 228L,
    259L, 290L, 321L, 352L, 383L, 414L, 445L, 476L)
  val annPq = QueryDef(
    "q_ann_pq",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopK(
          emb.filter(col("vec_id") < 10), annPlantedCorpus(s, d), "vec_id", "embedding",
          k = 5, m = 8, ksub = 16, seedIds = Some(pqSeedIds))
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH aug AS (
          ${plantedSql("", "WHERE vec_id < 10", 5, 100000L, 0.005)}
        ), seeds(code, sid) AS (
          VALUES ${pqSeedIds.zipWithIndex.map { case (id, c) => s"($c, $id)" }.mkString(", ")}
        ), cw AS (
          SELECT s.code, a.embedding FROM seeds s JOIN aug a ON a.vec_id = s.sid
        ), dist AS (
          SELECT x.vec_id, j.j, c.code,
            list_reduce(list_transform(range(1, 9),
              i -> (CAST(x.embedding[j.j * 8 + i] AS DOUBLE) - CAST(c.embedding[j.j * 8 + i] AS DOUBLE))
                 * (CAST(x.embedding[j.j * 8 + i] AS DOUBLE) - CAST(c.embedding[j.j * 8 + i] AS DOUBLE))),
              (u, v) -> u + v) AS d2
          FROM aug x, (SELECT unnest(range(0, 8)) AS j) j, cw c
        ), codes AS (
          SELECT vec_id, j, code FROM (
            SELECT vec_id, j, code,
              row_number() OVER (PARTITION BY vec_id, j ORDER BY d2 ASC, code ASC) AS rn
            FROM dist) WHERE rn = 1
        ), recon AS (
          SELECT codes.vec_id,
            flatten(list(list_transform(range(1, 9),
              i -> CAST(c.embedding[codes.j * 8 + i] AS DOUBLE)) ORDER BY codes.j)) AS rvec
          FROM codes JOIN cw c ON c.code = codes.code
          GROUP BY codes.vec_id
        ), q AS (
          SELECT vec_id, embedding FROM aug WHERE vec_id < 10
        ), scored AS (
          SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, 65),
              i -> CAST(q.embedding[i] AS DOUBLE) * r.rvec[i]), (u, v) -> u + v) AS score
          FROM q, recon r WHERE r.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank"""))

  // IVF-PQ (row 24e): the coarse quantizer prunes to nProbe=2 of 8
  // cells AND scanned rows are 8-int PQ codes scored by ADC — both
  // serving-index levers composed. The oracle replays BOTH decision
  // procedures: cell assignment/probe ranking in the NearestCentroids
  // order (dot x 1/||c||, ties to the larger cell id — the
  // q_semantic_dedup arithmetic) and the PQ codes + flattened-
  // reconstruction ADC (the q_ann_pq arithmetic), so the gate checks
  // the composition's defined semantics end to end. Recall and the
  // nProbe=nCenters == pqTopK identity are SimilaritySpec's job.
  private val ivfPqCoarseSeeds = Seq(23L, 87L, 151L, 215L, 279L, 343L, 407L, 471L)
  val annIvfPq = QueryDef(
    "q_ann_ivfpq",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqTopK(
          emb.filter(col("vec_id") < 10), annPlantedCorpus(s, d), "vec_id", "embedding",
          k = 5, nCenters = 8, nProbe = 2, m = 8, ksub = 16,
          coarseSeedIds = Some(ivfPqCoarseSeeds), pqSeedIds = Some(pqSeedIds))
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some(ivfPqOracleSql("")))

  /** The q_ann_ivfpq replay, parameterized with a UNION tail so
    * [[annIndex]] (the PERSISTED index — same frozen decision
    * procedure by construction) can append its pruning-marker
    * constants to the identical result set.
    */
  private def ivfPqOracleSql(tail: String): String =
    s"""WITH aug AS (
          ${plantedSql("", "WHERE vec_id < 10", 5, 100000L, 0.005)}
        ), cent AS (
          SELECT s.cid, a.embedding AS cvec,
            1.0 / sqrt(list_reduce(list_transform(range(1, 65),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)),
              (u, v) -> u + v)) AS cinv
          FROM (VALUES ${ivfPqCoarseSeeds.zipWithIndex
            .map { case (id, c) => s"($c, $id)" }.mkString(", ")}) AS s(cid, sid)
          JOIN aug a ON a.vec_id = s.sid
        ), assign AS (
          SELECT vec_id, cid FROM (
            SELECT x.vec_id, c.cid,
              row_number() OVER (PARTITION BY x.vec_id ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(x.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE)),
                  (u, v) -> u + v) * c.cinv DESC, c.cid DESC) AS rn
            FROM aug x, cent c) WHERE rn = 1
        ), probes AS (
          SELECT vec_id AS qid, cid FROM (
            SELECT q.vec_id, c.cid,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE)),
                  (u, v) -> u + v) * c.cinv DESC, c.cid DESC) AS rn
            FROM (SELECT * FROM aug WHERE vec_id < 10) q, cent c) WHERE rn <= 2
        ), seeds(code, sid) AS (
          VALUES ${pqSeedIds.zipWithIndex.map { case (id, c) => s"($c, $id)" }.mkString(", ")}
        ), cw AS (
          SELECT s.code, a.embedding FROM seeds s JOIN aug a ON a.vec_id = s.sid
        ), dist AS (
          SELECT x.vec_id, j.j, c.code,
            list_reduce(list_transform(range(1, 9),
              i -> (CAST(x.embedding[j.j * 8 + i] AS DOUBLE) - CAST(c.embedding[j.j * 8 + i] AS DOUBLE))
                 * (CAST(x.embedding[j.j * 8 + i] AS DOUBLE) - CAST(c.embedding[j.j * 8 + i] AS DOUBLE))),
              (u, v) -> u + v) AS d2
          FROM aug x, (SELECT unnest(range(0, 8)) AS j) j, cw c
        ), codes AS (
          SELECT vec_id, j, code FROM (
            SELECT vec_id, j, code,
              row_number() OVER (PARTITION BY vec_id, j ORDER BY d2 ASC, code ASC) AS rn
            FROM dist) WHERE rn = 1
        ), recon AS (
          SELECT codes.vec_id,
            flatten(list(list_transform(range(1, 9),
              i -> CAST(c.embedding[codes.j * 8 + i] AS DOUBLE)) ORDER BY codes.j)) AS rvec
          FROM codes JOIN cw c ON c.code = codes.code
          GROUP BY codes.vec_id
        ), q AS (
          SELECT vec_id, embedding FROM aug WHERE vec_id < 10
        ), scored AS (
          SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, 65),
              i -> CAST(q.embedding[i] AS DOUBLE) * r.rvec[i]), (u, v) -> u + v) AS score
          FROM q
          JOIN probes p ON p.qid = q.vec_id
          JOIN assign a2 ON a2.cid = p.cid
          JOIN recon r ON r.vec_id = a2.vec_id
          WHERE r.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
          FROM scored)
        WHERE rank <= 5$tail ORDER BY query_id, rank"""

  // PERSISTED IVF-PQ index (row 24g): build-once/search-many. The
  // index table stores (id, codes) partitioned by cell id under the
  // frozen sidecar model, so a lookup plans through the manifest and
  // reads ONLY the probed cells' files. Search equals q_ann_ivfpq's
  // query-time pipeline exactly at equal probes (same pinned seeds,
  // same codegen'd encode/probe/ADC arithmetic), so the oracle is
  // the SAME replay — plus two marker rows pinning the physical
  // pruning property: (-1) the full query batch's scan read exactly
  // the probed cells' manifest files, (-2) a single query's
  // nProbe=2 scan read exactly its two cells' files AND strictly
  // fewer than the table's (files read proportional to
  // nProbe/nCenters). A pruning regression flips a marker to 0 and
  // the gate hash-mismatches.
  val annIndex = QueryDef(
    "q_ann_index",
    (s, d) => {
      import graft.sources.{DataSkipping, VectorIndex}
      val idx = StorageFixtures.vectorIndexTable(s, d)
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val res = VectorIndex.search(s, queries, idx, k = 5, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("bigint").as("rank"))
      val mt = VectorIndex.meta(s, idx)
      def rel(p: String) = {
        val ph = new org.apache.hadoop.fs.Path(p)
        s"${ph.getParent.getName}/${ph.getName}"
      }
      val manifest = DataSkipping.readManifest(s, idx)
        .select(col("file"), col("min_cid").cast("int").as("cid")).collect()
        .map(r => rel(r.getString(0)) -> r.getInt(1))
      val allFiles = manifest.map(_._1).toSet
      def cellsOf(qs: DataFrame): Seq[Int] = qs
        .select(explode(graft.plans.VectorExpressions
          .nearestCentroids(col("embedding"), mt.centroids, 2)).as("cid"))
        .distinct().collect().map(_.getInt(0)).toSeq
      def exactPrune(cids: Seq[Int]): (Boolean, Int) = {
        val scanned = VectorIndex.probedScan(s, idx, cids)
          .inputFiles.map(rel).toSet
        (scanned == manifest.filter(x => cids.contains(x._2)).map(_._1).toSet,
          scanned.size)
      }
      val (batchExact, _) = exactPrune(cellsOf(queries))
      val (oneExact, oneN) =
        exactPrune(cellsOf(queries.filter(col("vec_id") === 0L)))
      val markers = s.createDataFrame(Seq(
        (-2L, if (oneExact && oneN < allFiles.size) 1L else 0L, 0L),
        (-1L, if (batchExact) 1L else 0L, 0L)))
        .toDF("query_id", "neighbor_id", "rank")
      res.unionByName(markers).orderBy("query_id", "rank")
    },
    Some(ivfPqOracleSql("""
        UNION ALL SELECT CAST(-2 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        UNION ALL SELECT CAST(-1 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)""")))

  // Residual-coded IVF-PQ (row 24e, the FAISS default): each vector
  // PQ-encodes its RESIDUAL x - c(x) against its own cell centroid
  // and the score decomposes as the EXACT dot(q, c) plus the
  // residual ADC — quantization error applies only to the within-
  // cell displacement. The oracle replays the full composition:
  // cell assignment/probe ranking (NearestCentroids order), float32
  // residual formation (CAST(a::DOUBLE - b::DOUBLE AS REAL) — IEEE
  // float subtraction is the correctly-rounded exact difference, so
  // it equals Spark's float zip_with subtraction bit-for-bit),
  // residual codewords = the pinned seed rows' OWN residuals,
  // per-subspace argmin, then dot(q, cvec) + dot(q, residual
  // reconstruction) in the same global element order and add order.
  val annIvfPqResidual = QueryDef(
    "q_ann_ivfpq_residual",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqTopK(
          emb.filter(col("vec_id") < 10), annPlantedCorpus(s, d), "vec_id", "embedding",
          k = 5, nCenters = 8, nProbe = 2, m = 8, ksub = 16,
          coarseSeedIds = Some(ivfPqCoarseSeeds), pqSeedIds = Some(pqSeedIds),
          residual = true)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some(ivfPqResidualOracleSql("")))

  /** The q_ann_ivfpq_residual replay, parameterized like
    * [[ivfPqOracleSql]] so [[annIndexResidual]] (the persisted index
    * under residual coding — same frozen arithmetic) appends its
    * pruning-marker constants to the identical result set.
    */
  private def ivfPqResidualOracleSql(tail: String): String =
    s"""WITH aug AS (
          ${plantedSql("", "WHERE vec_id < 10", 5, 100000L, 0.005)}
        ), cent AS (
          SELECT s.cid, a.embedding AS cvec,
            1.0 / sqrt(list_reduce(list_transform(range(1, 65),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)),
              (u, v) -> u + v)) AS cinv
          FROM (VALUES ${ivfPqCoarseSeeds.zipWithIndex
            .map { case (id, c) => s"($c, $id)" }.mkString(", ")}) AS s(cid, sid)
          JOIN aug a ON a.vec_id = s.sid
        ), assign AS (
          SELECT vec_id, cid FROM (
            SELECT x.vec_id, c.cid,
              row_number() OVER (PARTITION BY x.vec_id ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(x.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE)),
                  (u, v) -> u + v) * c.cinv DESC, c.cid DESC) AS rn
            FROM aug x, cent c) WHERE rn = 1
        ), probes AS (
          SELECT vec_id AS qid, cid FROM (
            SELECT q.vec_id, c.cid,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                list_reduce(list_transform(range(1, 65),
                  i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE)),
                  (u, v) -> u + v) * c.cinv DESC, c.cid DESC) AS rn
            FROM (SELECT * FROM aug WHERE vec_id < 10) q, cent c) WHERE rn <= 2
        ), resid AS (
          SELECT x.vec_id, a.cid,
            list_transform(range(1, 65),
              i -> CAST(CAST(x.embedding[i] AS DOUBLE)
                      - CAST(c.cvec[i] AS DOUBLE) AS REAL)) AS rv
          FROM aug x
          JOIN assign a ON a.vec_id = x.vec_id
          JOIN cent c ON c.cid = a.cid
        ), seeds(code, sid) AS (
          VALUES ${pqSeedIds.zipWithIndex.map { case (id, c) => s"($c, $id)" }.mkString(", ")}
        ), cw AS (
          SELECT s.code, r.rv FROM seeds s JOIN resid r ON r.vec_id = s.sid
        ), dist AS (
          SELECT r.vec_id, j.j, c.code,
            list_reduce(list_transform(range(1, 9),
              i -> (CAST(r.rv[j.j * 8 + i] AS DOUBLE) - CAST(c.rv[j.j * 8 + i] AS DOUBLE))
                 * (CAST(r.rv[j.j * 8 + i] AS DOUBLE) - CAST(c.rv[j.j * 8 + i] AS DOUBLE))),
              (u, v) -> u + v) AS d2
          FROM resid r, (SELECT unnest(range(0, 8)) AS j) j, cw c
        ), codes AS (
          SELECT vec_id, j, code FROM (
            SELECT vec_id, j, code,
              row_number() OVER (PARTITION BY vec_id, j ORDER BY d2 ASC, code ASC) AS rn
            FROM dist) WHERE rn = 1
        ), recon AS (
          SELECT codes.vec_id,
            flatten(list(list_transform(range(1, 9),
              i -> CAST(c.rv[codes.j * 8 + i] AS DOUBLE)) ORDER BY codes.j)) AS rvec
          FROM codes JOIN cw c ON c.code = codes.code
          GROUP BY codes.vec_id
        ), q AS (
          SELECT vec_id, embedding FROM aug WHERE vec_id < 10
        ), scored AS (
          SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, 65),
              i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE)),
              (u, v) -> u + v)
            + list_reduce(list_transform(range(1, 65),
              i -> CAST(q.embedding[i] AS DOUBLE) * r.rvec[i]), (u, v) -> u + v) AS score
          FROM q
          JOIN probes p ON p.qid = q.vec_id
          JOIN cent c ON c.cid = p.cid
          JOIN assign a2 ON a2.cid = p.cid
          JOIN recon r ON r.vec_id = a2.vec_id
          WHERE r.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
          FROM scored)
        WHERE rank <= 5$tail ORDER BY query_id, rank"""

  // The persisted index under RESIDUAL coding (row 24g's default-
  // FAISS face): same frozen decision procedure as q_ann_ivfpq_
  // residual by construction, so the oracle is that replay plus the
  // same two physical pruning markers q_ann_index pins — plus a
  // CELL-BALANCE marker: cellStats (the grouped count over the cell
  // partition column) must answer every cell from the MANIFEST
  // (grouped metadata pushdown) and sum to the corpus size.
  val annIndexResidual = QueryDef(
    "q_ann_index_residual",
    (s, d) => {
      import graft.sources.{DataSkipping, VectorIndex}
      val idx = StorageFixtures.vectorIndexResidualTable(s, d)
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val res = VectorIndex.search(s, queries, idx, k = 5, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("bigint").as("rank"))
      val mt = VectorIndex.meta(s, idx)
      def rel(p: String) = {
        val ph = new org.apache.hadoop.fs.Path(p)
        s"${ph.getParent.getName}/${ph.getName}"
      }
      val manifest = DataSkipping.readManifest(s, idx)
        .select(col("file"), col("min_cid").cast("int").as("cid")).collect()
        .map(r => rel(r.getString(0)) -> r.getInt(1))
      val allFiles = manifest.map(_._1).toSet
      def cellsOf(qs: DataFrame): Seq[Int] = qs
        .select(explode(graft.plans.VectorExpressions
          .nearestCentroids(col("embedding"), mt.centroids, 2)).as("cid"))
        .distinct().collect().map(_.getInt(0)).toSeq
      def exactPrune(cids: Seq[Int]): (Boolean, Int) = {
        val scanned = VectorIndex.probedScan(s, idx, cids)
          .inputFiles.map(rel).toSet
        (scanned == manifest.filter(x => cids.contains(x._2)).map(_._1).toSet,
          scanned.size)
      }
      val (batchExact, _) = exactPrune(cellsOf(queries))
      val (oneExact, oneN) =
        exactPrune(cellsOf(queries.filter(col("vec_id") === 0L)))
      // cell balance from the manifest: the grouped count must push
      // down (plan-inspected) and its total must equal the corpus
      val cs = VectorIndex.cellStats(s, idx)
      val pushed = cs.queryExecution.executedPlan.exists {
        case _: graft.sources.GraftMetaGroupCountExec => true
        case _ => false
      }
      val csRows = cs.collect().map(r => r.getInt(0) -> r.getLong(1))
      val balanced = pushed && csRows.length == 8 &&
        csRows.map(_._2).sum == annPlantedCorpus(s, d).count()
      val markers = s.createDataFrame(Seq(
        (-3L, if (balanced) 1L else 0L, 0L),
        (-2L, if (oneExact && oneN < allFiles.size) 1L else 0L, 0L),
        (-1L, if (batchExact) 1L else 0L, 0L)))
        .toDF("query_id", "neighbor_id", "rank")
      res.unionByName(markers).orderBy("query_id", "rank")
    },
    Some(ivfPqResidualOracleSql("""
        UNION ALL SELECT CAST(-3 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        UNION ALL SELECT CAST(-2 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        UNION ALL SELECT CAST(-1 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)""")))

  // Binary (1-bit sign) quantization ANN (row 24f): Hamming over
  // packed sign bits picks 50 candidates per query, exact cosine
  // reranks them — the filter-then-rerank serving shape. The oracle
  // replays the FULL decision procedure: the sign threshold
  // (>= 0), integer Hamming with (distance ASC, id ASC) candidate
  // cut, then the q_embedding_topk cosine arithmetic over exactly
  // those candidates — so the gate checks the operator's defined
  // semantics including any "mistakes" the 1-bit filter makes.
  // Hamming is integral, so the candidate boundary is exact in both
  // engines; SimilaritySpec separately pins bqTopK(C=|corpus|) ==
  // bruteForceTopK and the packed-word layout.
  val annBq = QueryDef(
    "q_ann_bq",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bqTopK(
          emb.filter(col("vec_id") < 10), annPlantedCorpus(s, d), "vec_id", "embedding",
          k = 5, dim = 64, candidates = 50)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH aug AS (
          ${plantedSql("", "WHERE vec_id < 10", 5, 100000L, 0.005)}
        ), q AS (
          SELECT vec_id, embedding FROM aug WHERE vec_id < 10
        ), ham AS (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, 65),
              i -> CASE WHEN (q.embedding[i] >= 0) <> (e.embedding[i] >= 0)
                        THEN 1 ELSE 0 END),
              (x, y) -> x + y) AS hamming
          FROM aug e, q WHERE e.vec_id <> q.vec_id
        ), cand AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY hamming ASC, neighbor_id ASC) AS rn
            FROM ham) WHERE rn <= 50
        ), e2 AS (
          SELECT vec_id, embedding,
            sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
              i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
              (x, y) -> x + y)) AS nrm
          FROM aug
        ), scored AS (
          SELECT c.query_id, c.neighbor_id,
            list_reduce(list_transform(range(1, len(b.embedding) + 1),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
              (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
          FROM cand c
          JOIN e2 a ON a.vec_id = c.query_id
          JOIN e2 b ON b.vec_id = c.neighbor_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank"""))

  // Duplicate-cluster components over the near-dup pair graph: with
  // TWO planted copies per source, pairs chain (source~copy1,
  // source~copy2, copy1~copy2) and the representative of each
  // cluster is only decidable transitively — exactly what
  // duplicateComponents resolves. Oracle: recursive-CTE reachability
  // closure + min label over the identical exact pair set.
  val dedupComponents = QueryDef(
    "q_dedup_components",
    (s, d) => {
      val base = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      val corpus = Similarity.plantNearDuplicates(base, "vec_id", "embedding",
        col("vec_id") < 100, copies = 2, idOffset = 100000L, scaleStep = 0.01)
      val pairs = Dedup.embeddingNearDup(corpus, "vec_id", "embedding", threshold = 0.9)
      Dedup.duplicateComponents(pairs).orderBy("id")
    },
    Some(s"""WITH RECURSIVE aug AS (
              ${plantedSql("WHERE vec_id < 300", "WHERE vec_id < 100", 2, 100000L, 0.01)}
            ), e AS (
              SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                  (x, y) -> x + y)) AS nrm
              FROM aug
            ), pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE list_reduce(list_transform(range(1, len(a.embedding) + 1),
                      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                    (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.9
            ), edges AS (
              SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ), reach AS (
              SELECT s AS a, d AS b FROM edges
              UNION
              SELECT r.a, e2.d FROM reach r JOIN edges e2 ON r.b = e2.s
            )
            SELECT a AS id, least(a, min(b)) AS component
            FROM reach GROUP BY a ORDER BY id"""))

  // SemDeDup-style semantic dedup over the same planted corpus:
  // cluster-bounded pair detection (each vector assigned to its top-2
  // Voronoi cells over PINNED seed centroids), exact-cosine verify,
  // transitive components, min-id representative. The oracle REPLAYS
  // the algorithm's own semantics in SQL — centroid scores in the
  // identical double arithmetic (dot x (1/||c||), ties to the larger
  // cell id), rank <= 2 cell membership, shared-cell pairs, cosine
  // verify, recursive-CTE components — so the gate checks the defined
  // decision procedure, not a geometric assumption about boundaries.
  // FP margins: DuckDB's float cast of the planted perturbation can
  // differ from IEEE double-then-round by 1 ulp (see
  // q_incremental_embdedup), so the two engines score centroids on
  // vectors differing at ~1e-7 relative. Every DECISION this gate
  // hashes (cell rank order, cosine vs eps) sits at O(0.01..0.1)
  // margins on this corpus — nine orders above the perturbation —
  // and the test data is fixed, so green at sf0.01/sf0.1 is
  // deterministic, not a per-run gamble. A decision landing inside
  // ulp distance of a boundary would show up as a persistent (not
  // flaky) mismatch and mean re-picking seeds, never silent wrong
  // results. The spec separately asserts recall of planted copies
  // and that the candidate set actually pruned.
  private val semanticSeedIds = Seq(3L, 41L, 77L, 114L, 152L, 189L, 226L, 263L)
  val semanticDedupQ = QueryDef(
    "q_semantic_dedup",
    (s, d) => {
      val base = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      val corpus = Similarity.plantNearDuplicates(base, "vec_id", "embedding",
        col("vec_id") < 100, copies = 2, idOffset = 100000L, scaleStep = 0.01)
      Dedup.semanticDedup(corpus, "vec_id", "embedding",
          eps = 0.9, nCenters = 8, assignProbes = 2,
          seedIds = Some(semanticSeedIds))
        .orderBy("id")
    },
    Some(s"""WITH RECURSIVE aug AS (
              ${plantedSql("WHERE vec_id < 300", "WHERE vec_id < 100", 2, 100000L, 0.01)}
            ), e AS (
              SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                  (x, y) -> x + y)) AS nrm
              FROM aug
            ), cent AS (
              SELECT s.cid, e.embedding AS cvec,
                1.0 / e.nrm AS cinv
              FROM (VALUES ${semanticSeedIds.zipWithIndex
                .map { case (id, i) => s"($i, $id)" }.mkString(", ")}) AS s(cid, sid)
              JOIN e ON e.vec_id = s.sid
            ), scores AS (
              SELECT e.vec_id, cent.cid,
                list_reduce(list_transform(range(1, len(e.embedding) + 1),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(cent.cvec[i] AS DOUBLE)),
                  (x, y) -> x + y) * cent.cinv AS s
              FROM e CROSS JOIN cent
            ), cells AS (
              SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rk
                FROM scores)
              WHERE rk <= 2
            ), cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
            ), pairs AS (
              SELECT c.id_a, c.id_b
              FROM cand c
              JOIN e a ON a.vec_id = c.id_a
              JOIN e b ON b.vec_id = c.id_b
              WHERE list_reduce(list_transform(range(1, len(a.embedding) + 1),
                      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                    (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.9
            ), edges AS (
              SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ), reach AS (
              SELECT s AS a, d AS b FROM edges
              UNION
              SELECT r.a, e2.d FROM reach r JOIN edges e2 ON r.b = e2.s
            ), comp AS (
              SELECT a AS id, least(a, min(b)) AS component
              FROM reach GROUP BY a
            )
            SELECT aug.vec_id AS id,
              COALESCE(comp.component, aug.vec_id) AS component,
              (COALESCE(comp.component, aug.vec_id) = aug.vec_id) AS keep
            FROM aug LEFT JOIN comp ON comp.id = aug.vec_id
            ORDER BY id"""))

  // Incremental embedding near-dup: a 100-row admission batch (50
  // planted copies of history rows at cosine ~0.994 + 50 genuinely
  // novel vectors) gated against a 400-row history. The LSH path must
  // find exactly the 50 true (batch, history) pairs — the oracle is
  // the exact batch x history cosine join — while the plan never
  // shuffles the history (PlanShapeSpec).
  val incrementalEmbDedup = QueryDef(
    "q_incremental_embdedup",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val history = emb.filter(col("vec_id") < 400)
      val copies = Similarity.plantNearDuplicates(history, "vec_id", "embedding",
          col("vec_id") < 50, copies = 1, idOffset = 100000L, scaleStep = 0.01)
        .filter(col("vec_id") >= 100000L)
      val fresh = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
        .select(col("vec_id"), col("embedding"))
      Dedup.incrementalEmbeddingNearDup(history, copies.union(fresh),
          "vec_id", "embedding", threshold = 0.9)
        // ids only: DuckDB's float cast of the planted perturbation
        // differs from IEEE double-then-round by 1 ulp on some
        // elements, so raw cosines disagree at 1e-9 while the pair
        // SET is decision-stable (planted pairs at 0.994 vs the 0.9
        // threshold) — the same convention as q_embedding_neardup
        .select(col("batch_id"), col("history_id"))
        .orderBy("batch_id", "history_id")
    },
    Some("""WITH hist AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400
            ), batch AS (
              SELECT vec_id + 100000 AS vec_id,
                list_transform(range(1, len(embedding) + 1),
                  i -> CAST(embedding[i] + 0.01 * (((i - 1) % 5) - 2) AS FLOAT)) AS embedding
              FROM embeddings WHERE vec_id < 50
              UNION ALL
              SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= 400 AND vec_id < 450
            ), eh AS (
              SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                  (x, y) -> x + y)) AS nrm
              FROM hist
            ), eb AS (
              SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                  (x, y) -> x + y)) AS nrm
              FROM batch
            )
            SELECT b.vec_id AS batch_id, h.vec_id AS history_id
            FROM eb b JOIN eh h
              ON list_reduce(list_transform(range(1, len(b.embedding) + 1),
                   i -> CAST(b.embedding[i] AS DOUBLE) * CAST(h.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y) / (b.nrm * h.nrm) >= 0.9
            ORDER BY batch_id, history_id"""))

  // Leakage-safe split assignment over the same planted near-dup
  // corpus: every cluster (source + 2 planted copies, chained) must
  // land atomically in one split. The oracle recomputes components
  // via the recursive reachability closure, keys the bucket
  // arithmetic on COALESCE(component, own id), and replays the
  // cumulative-bound CASE — one doc split off from its cluster
  // anywhere in the corpus is a hash mismatch.
  val splitNoLeakage = QueryDef(
    "q_split_no_leakage",
    (s, d) => {
      val base = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      val corpus = Similarity.plantNearDuplicates(base, "vec_id", "embedding",
        col("vec_id") < 100, copies = 2, idOffset = 100000L, scaleStep = 0.01)
      val pairs = Dedup.embeddingNearDup(corpus, "vec_id", "embedding", threshold = 0.9)
      TextOps.assignSplitsLeakageSafe(corpus.select(col("vec_id")), "vec_id", pairs,
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .orderBy("vec_id")
    },
    Some(s"""WITH RECURSIVE aug AS (
              ${plantedSql("WHERE vec_id < 300", "WHERE vec_id < 100", 2, 100000L, 0.01)}
            ), e AS (
              SELECT vec_id, embedding,
                sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                  (x, y) -> x + y)) AS nrm
              FROM aug
            ), pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE list_reduce(list_transform(range(1, len(a.embedding) + 1),
                      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                    (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.9
            ), edges AS (
              SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ), reach AS (
              SELECT s AS a, d AS b FROM edges
              UNION
              SELECT r.a, e2.d FROM reach r JOIN edges e2 ON r.b = e2.s
            ), comp AS (
              SELECT a AS id, least(a, min(b)) AS component
              FROM reach GROUP BY a
            ), rep AS (
              SELECT aug.vec_id, COALESCE(comp.component, aug.vec_id) AS r
              FROM aug LEFT JOIN comp ON aug.vec_id = comp.id
            )
            SELECT vec_id,
              CASE WHEN b < 8000 THEN 'train'
                   WHEN b < 9000 THEN 'val'
                   ELSE 'test' END AS split
            FROM (SELECT vec_id,
                    (((r % 1000000007) * 654435747) % 1000000007) % 10000 AS b
                  FROM rep)
            ORDER BY vec_id"""))

  // ---------------------------------------------------------------
  // Multimodal
  // ---------------------------------------------------------------

  val multimodalMeta = QueryDef(
    "q_multimodal_meta",
    (s, d) => Multimodal.withPayloadMeta(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc_id"), col("n_bytes").cast("bigint").as("n_bytes"),
        col("fmt"), col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
              CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width,
              CAST(64 + (octet_length(encode(text)) // 2) % 512 AS BIGINT) AS height
            FROM documents ORDER BY doc_id"""))

  // The mapPartitions decode path, oracle-checked end-to-end: the
  // stub codec is deterministic byte arithmetic, so DuckDB can
  // replay it and verify the partition-batched plumbing itself.
  val multimodalDecode = QueryDef(
    "q_multimodal_decode",
    (s, d) => Multimodal.decodePartitioned(s,
        Multimodal.withPayloadMeta(Tables.documents(s, d), "doc_id", "text"), "doc_id")
      .select(col("id"), col("fmt"),
        col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"))
      .orderBy("id"),
    Some("""SELECT doc_id AS id,
              CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
              CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width,
              CAST(64 + (octet_length(encode(text)) // 2) % 512 AS BIGINT) AS height
            FROM documents ORDER BY id"""))

  // GPT-style concat-and-chunk packing: the distributed two-phase
  // prefix scan must agree with the oracle's window-function running
  // sum — a wrong partition offset or dropped carry = hash mismatch.
  val packSequences = QueryDef(
    "q_pack_sequences",
    (s, d) => TextOps.packSequences(
        Tables.documents(s, d), "doc_id", "n_chars", binSize = 8192)
      .orderBy("id"),
    Some("""WITH c AS (
              SELECT doc_id AS id, n_chars AS w,
                CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                  AS start_offset
              FROM documents)
            SELECT id, w, start_offset,
              CAST(start_offset // 8192 AS BIGINT) AS bin,
              CAST(start_offset % 8192 AS BIGINT) AS bin_offset
            FROM c ORDER BY id"""))

  // Deterministic source-weighted sampling (data mixing): hash-based
  // keep decisions replay exactly in the oracle — same mixture on
  // every engine, run and retry.
  val sampleSources = QueryDef(
    "q_sample_sources",
    (s, d) => TextOps.sampleBySource(Tables.documents(s, d), "doc_id", "source",
        rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        defaultRate = 0.1)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, source FROM documents
            WHERE (((doc_id % 1000000007) * 654435747) % 1000000007) % 10000 <
              CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                          WHEN 'src2' THEN 2500 ELSE 1000 END
            ORDER BY doc_id"""))

  // Reference-corpus familiarity scoring: a bigram model counted
  // from docs < 100 scores the WHOLE corpus (in-reference docs score
  // high on their own bigrams; the rest mix known and unknown
  // grams). The oracle replays the counts, the smoothing arithmetic,
  // and the position-ordered left-fold sum — bit-exact doubles, no
  // transcendentals — so a wrong count, join, or fold order anywhere
  // is a hash mismatch.
  val lmFamiliarityQ = QueryDef(
    "q_lm_familiarity",
    (s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.lmFamiliarity(docs, "doc_id", "text",
          docs.filter(col("doc_id") < 100), "text")
        .orderBy("doc_id")
    },
    Some("""WITH rtoks AS (
              SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
              FROM documents WHERE doc_id < 100
            ), uni AS (
              SELECT t, COUNT(*) AS cu FROM rtoks GROUP BY t
            ), vs AS (
              SELECT COUNT(*) AS v FROM uni
            ), rg AS (
              SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                ELSE list_transform(range(1, len(toks)),
                       i -> array_to_string(toks[i:i+1], ' ')) END) AS g
              FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
                    FROM documents WHERE doc_id < 100)
            ), big AS (
              SELECT g, COUNT(*) AS cb FROM rg GROUP BY g
            ), dg AS (
              SELECT doc_id, u.pos AS pos, u.g AS g FROM (
                SELECT doc_id, unnest(CASE WHEN len(toks) < 2
                  THEN CAST([] AS STRUCT(pos BIGINT, g VARCHAR)[])
                  ELSE list_transform(range(1, len(toks)),
                         i -> {'pos': i, 'g': array_to_string(toks[i:i+1], ' ')}) END) AS u
                FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
                      FROM documents))
            ), dp AS (
              SELECT dg.doc_id, dg.pos,
                CAST(COALESCE(b.cb, 0) + 1 AS DOUBLE)
                  / CAST(COALESCE(u2.cu, 0) + (SELECT v FROM vs) AS DOUBLE) AS p
              FROM dg
              LEFT JOIN big b ON dg.g = b.g
              LEFT JOIN uni u2 ON string_split(dg.g, ' ')[1] = u2.t
            ), agg AS (
              SELECT doc_id, COUNT(*) AS n_bigrams,
                list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(p ORDER BY pos)), (a, b) -> a + b) AS s
              FROM dp GROUP BY doc_id
            )
            SELECT d.doc_id,
              CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
              COALESCE(a.s / a.n_bigrams, 0.0) AS score
            FROM documents d LEFT JOIN agg a USING (doc_id)
            ORDER BY doc_id"""))

  // Token-budget source mixing: per-source greedy prefix in seeded
  // hash order until the token budget is met. The oracle replays the
  // key arithmetic, the token count, and the EXCLUSIVE running sum
  // with a window — the two-phase distributed scan must be
  // indistinguishable from the per-source window cumsum, and
  // tokens_before in the output makes any prefix drift a hash
  // mismatch. Budgets sit well inside each source's total so the
  // cutoff genuinely fires.
  val sampleTokenBudget = QueryDef(
    "q_sample_token_budget",
    (s, d) => TextOps.sampleByTokenBudget(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tok")),
        "doc_id", "source", "n_tok",
        budgets = Map("src0" -> 4000L, "src1" -> 1500L, "src2" -> 1L),
        seed = 99L)
      .select(col("id").as("doc_id"), col("source"),
        col("n_tokens"), col("tokens_before"))
      .orderBy("doc_id"),
    Some {
      val (m, a) = TextOps.shuffleKeyConstants(99L)
      s"""WITH keyed AS (
            SELECT doc_id, source,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS n_tokens,
              ((doc_id % 1000000007) * $m + $a) % 1000000007 AS sk
            FROM documents
          ), c AS (
            SELECT doc_id, source, n_tokens,
              CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
                ORDER BY sk, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                AS tokens_before
            FROM keyed
          )
          SELECT doc_id, source, n_tokens, tokens_before
          FROM c
          WHERE tokens_before < CASE source WHEN 'src0' THEN 4000
                                            WHEN 'src1' THEN 1500
                                            WHEN 'src2' THEN 1
                                            ELSE 0 END
          ORDER BY doc_id"""
    })

  // Per-source document cap through the bounded-heap topk aggregate:
  // keep the 10 hash-smallest docs per source (the per-domain-limit
  // pass). The oracle replays the seeded key arithmetic and elects
  // winners with a row_number window — the heap selection must be
  // indistinguishable from the full sort.
  val capPerSource = QueryDef(
    "q_cap_per_source",
    (s, d) => TextOps.capPerGroup(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        "source", "doc_id", k = 10, seed = 777L)
      .orderBy("doc_id"),
    Some {
      val (m, a) = TextOps.shuffleKeyConstants(777L)
      s"""WITH keyed AS (
            SELECT doc_id, source,
              ((doc_id % 1000000007) * $m + $a) % 1000000007 AS sk
            FROM documents
          ), r AS (
            SELECT doc_id, source,
              row_number() OVER (PARTITION BY source ORDER BY sk, doc_id) AS rn
            FROM keyed
          )
          SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id"""
    })

  // Deterministic split assignment: the cumulative-bound CASE must
  // replay exactly (80/10/10 over the hash bucket).
  val assignSplits = QueryDef(
    "q_assign_splits",
    (s, d) => TextOps.assignSplits(Tables.documents(s, d), "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CASE WHEN b < 8000 THEN 'train'
                   WHEN b < 9000 THEN 'val'
                   ELSE 'test' END AS split
            FROM (SELECT doc_id,
                    (((doc_id % 1000000007) * 654435747) % 1000000007) % 10000 AS b
                  FROM documents)
            ORDER BY doc_id"""))

  // Salted hot-key join, oracle-checked against the PLAIN join SQL:
  // salting must be invisible in the result (the hot key's rows land
  // on saltBuckets reducers instead of one, nothing else changes).
  val saltedJoin = QueryDef(
    "q_salted_join",
    (s, d) => {
      val big = Tables.orders(s, d)
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val small = Tables.customer(s, d)
        .select(col("c_custkey").as("custkey"), col("c_nationkey"))
      Skew.saltedJoin(big, small, Seq("custkey"), saltBuckets = 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec12(col("o_totalprice"))).cast("double").as("revenue"))
        .orderBy("c_nationkey")
    },
    Some("""SELECT c_nationkey, COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey ORDER BY c_nationkey"""))

  // Dynamic file pruning: the dim side's key envelope is pushed into
  // the fact's file skipping before the broadcast join. Both
  // envelope shapes run against ONE oracle — the exact IN-set
  // (maxKeys ample) and the range fallback (maxKeys=1 forces it) —
  // so a divergence in either path breaks the hash. Pruning itself
  // (files actually skipped, bloom path, plan shape) is asserted in
  // DynamicFilePruningSpec; the gate proves the envelope never
  // changes the answer.
  val dfpJoin = QueryDef(
    "q_dfp_join",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_dfp").toString
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      DataSkipping.writeWithStats(
        ord.repartitionByRange(16, col("o_custkey")),
        s"$root/orders", Seq("o_custkey"))
      val dim = Tables.customer(s, d).filter(col("c_nationkey") === 7L)
        .select(col("c_custkey"))
      def run(label: String, maxKeys: Int) =
        DynamicFilePruning.joinPruned(s, s"$root/orders", "o_custkey",
            dim, "c_custkey", maxKeys = maxKeys)
          .agg(count(lit(1)).as("n_orders"),
            sum(dec12(col("o_totalprice"))).cast("double").as("revenue"))
          .select(lit(label).as("envelope"), col("n_orders"), col("revenue"))
      run("exact", 1000000).unionByName(run("range", 1)).orderBy("envelope")
    },
    Some("""WITH j AS (
              SELECT COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
              FROM orders JOIN customer ON o_custkey = c_custkey
              WHERE c_nationkey = 7)
            SELECT 'exact' AS envelope, n_orders, revenue FROM j
            UNION ALL
            SELECT 'range', n_orders, revenue FROM j
            ORDER BY envelope"""))

  // Read-only DFP gate over the pre-materialized stats table (the
  // q_skipping_read treatment): dim envelope + pruned scan +
  // broadcast join ONLY — the 16-file stats write that dominates
  // q_dfp_join's cost is out of the timed path, so a DFP plan
  // regression can't hide behind write noise. Same oracle (both
  // envelope shapes against one answer).
  val dfpRead = QueryDef(
    "q_dfp_read",
    (s, d) => {
      val fact = StorageFixtures.dfpTable(s, d)
      val dim = Tables.customer(s, d).filter(col("c_nationkey") === 7L)
        .select(col("c_custkey"))
      def run(label: String, maxKeys: Int) =
        DynamicFilePruning.joinPruned(s, fact, "o_custkey",
            dim, "c_custkey", maxKeys = maxKeys)
          .agg(count(lit(1)).as("n_orders"),
            sum(dec12(col("o_totalprice"))).cast("double").as("revenue"))
          .select(lit(label).as("envelope"), col("n_orders"), col("revenue"))
      run("exact", 1000000).unionByName(run("range", 1)).orderBy("envelope")
    },
    Some("""WITH j AS (
              SELECT COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
              FROM orders JOIN customer ON o_custkey = c_custkey
              WHERE c_nationkey = 7)
            SELECT 'exact' AS envelope, n_orders, revenue FROM j
            UNION ALL
            SELECT 'range', n_orders, revenue FROM j
            ORDER BY envelope"""))

  // REAL audio decode, oracle-checked end-to-end: the WAV container
  // is synthesized from closed-form doc_id arithmetic, decoded
  // through the genuine javax.sound stack, and DuckDB replays the
  // arithmetic — a mis-parsed header, wrong byte order or dropped
  // frame shows up as a hash mismatch.
  val audioDecode = QueryDef(
    "q_audio_decode",
    (s, d) => Multimodal.decodeAudioPartitioned(s,
        Multimodal.withAudioPayload(s, Tables.documents(s, d), "doc_id"), "id")
      .select(col("id"), col("fmt"),
        col("sample_rate").cast("bigint").as("sample_rate"),
        col("channels").cast("bigint").as("channels"),
        col("n_frames").cast("bigint").as("n_frames"),
        col("duration_ms").cast("bigint").as("duration_ms"),
        col("peak").cast("bigint").as("peak"),
        col("sum_abs").cast("bigint").as("sum_abs"))
      .orderBy("id"),
    Some("""WITH f AS (
              SELECT d.doc_id, t.i, c.ch,
                     ((d.doc_id*31 + t.i*7 + c.ch*13) % 2003) - 1001 AS v
              FROM documents d
              CROSS JOIN generate_series(0, 127) t(i)
              CROSS JOIN generate_series(0, 1) c(ch)
              WHERE t.i < 64 + d.doc_id % 64 AND c.ch <= d.doc_id % 2
            )
            SELECT doc_id AS id,
              'pcm_signed' AS fmt,
              CAST(8000*(1 + doc_id % 3) AS BIGINT) AS sample_rate,
              CAST(1 + doc_id % 2 AS BIGINT) AS channels,
              CAST(64 + doc_id % 64 AS BIGINT) AS n_frames,
              CAST(((64 + doc_id % 64) * 1000) // (8000*(1 + doc_id % 3)) AS BIGINT) AS duration_ms,
              CAST(MAX(ABS(v)) AS BIGINT) AS peak,
              CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs
            FROM f GROUP BY doc_id ORDER BY id"""))

  // REAL image decode, oracle-checked end-to-end (closes the r6
  // verdict's fake-only image gap): a genuine PNG is synthesized from
  // closed-form doc_id arithmetic, decoded through the real
  // javax.imageio PNG stack (header metadata + full pixel decode into
  // exact per-channel sums), and DuckDB replays the arithmetic — a
  // mis-read channel order, color-space shift, or off-by-one in the
  // pixel walk = hash mismatch. PNG is lossless, so decoded pixels
  // are byte-identical to the synthesis and integers compare exactly.
  val imageDecode = QueryDef(
    "q_image_decode",
    (s, d) => Multimodal.decodeImagesExact(s,
        Multimodal.withImagePayload(s, Tables.documents(s, d), "doc_id"), "id")
      .select(col("id"), col("fmt"),
        col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"),
        col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy("id"),
    Some("""WITH px AS (
              SELECT d.doc_id, x.i AS x, y.j AS y
              FROM documents d
              CROSS JOIN generate_series(0, 16) x(i)
              CROSS JOIN generate_series(0, 14) y(j)
              WHERE x.i < 8 + d.doc_id % 9 AND y.j < 8 + d.doc_id % 7
            )
            SELECT doc_id AS id,
              'png' AS fmt,
              CAST(8 + doc_id % 9 AS BIGINT) AS width,
              CAST(8 + doc_id % 7 AS BIGINT) AS height,
              CAST(SUM((doc_id*7 + x*3 + y*5) % 256) AS BIGINT) AS sum_r,
              CAST(SUM((doc_id*11 + x*13 + y*2) % 256) AS BIGINT) AS sum_g,
              CAST(SUM((doc_id*3 + x + y*17) % 256) AS BIGINT) AS sum_b
            FROM px GROUP BY doc_id ORDER BY id"""))

  // CORPUS SQL SURFACE (r17): the §2c pipeline operators reachable
  // from plain SQL — `DEDUP` and `CHUNK` statements parse to the
  // OPERATORS' OWN lazy plans (never a driver-side command collect),
  // through both GraftSql.sql and the injected session parser. The
  // gate plants exact duplicates (a wholesale id-shifted copy of the
  // corpus), dedups through SQL, chunks the survivors through SQL,
  // and the oracle replays normalize→min-id election→chunk
  // arithmetic end to end.
  val sqlCorpus = QueryDef(
    "q_sql_corpus",
    (s, d) => {
      import graft.sources.GraftSql
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"))
      docs.unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
          col("text"), col("source")))
        .createOrReplaceTempView("sqlc_v")
      GraftSql.sql(s, "DEDUP sqlc_v ON (doc_id, text)")
        .createOrReplaceTempView("sqlc_dd")
      GraftSql.sql(s, "CHUNK sqlc_dd ON (doc_id, text) SIZE 40 OVERLAP 10")
        .createOrReplaceTempView("sqlc_ch")
      GraftSql.sql(s, "SAMPLE sqlc_dd ON (doc_id, source) " +
          "RATES ('src0' 1.0, 'src1' 0.5, 'src2' 0.25) DEFAULT 0.1")
        .createOrReplaceTempView("sqlc_sm")
      GraftSql.sql(s,
          "SPLIT sqlc_sm ON (doc_id) FRACTIONS ('train' 0.8, 'val' 0.1, 'test' 0.1)")
        .createOrReplaceTempView("sqlc_sp")
      GraftSql.sql(s, "SCORE sqlc_sm ON (doc_id, text)")
        .createOrReplaceTempView("sqlc_sc")
      s.sql("""SELECT p.doc_id, p.source, p.split, c.n_tokens,
                      c.stopword_ratio, c.punct_ratio, c.score, c.lang_pred,
                      ch.n_chunks
               FROM sqlc_sp p
               JOIN sqlc_sc c ON c.doc_id = p.doc_id
               JOIN (SELECT doc_id, count(*) AS n_chunks
                     FROM sqlc_ch GROUP BY doc_id) ch
                 ON ch.doc_id = p.doc_id
               ORDER BY doc_id""")
    },
    Some(sqlCorpusOracle))

  /** The q_sql_corpus replay: dedup election, chunk-count arithmetic,
    * the sample/split hash buckets, the quality-score formula and the
    * marker-stopword language id — each the SAME replay its dedicated
    * gate uses, composed over the pipeline's intermediate sets.
    */
  private lazy val sqlCorpusOracle: String = {
    val stop = TextFunctions.enStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val scores = TextFunctions.markers.map { case (lang, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(toks, t -> list_contains($lst, t))) AS BIGINT) AS s_$lang"
    }.mkString(",\n                ")
    val langs = TextFunctions.markers.map(_._1)
    val mBest = langs.map(l => s"s_$l").mkString("GREATEST(", ", ", ")")
    val cases = langs.map(l => s"WHEN s_$l = $mBest THEN '$l'")
      .mkString("\n                ")
    s"""WITH all_docs AS (
              SELECT doc_id, text, source FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text, source FROM documents),
            dd AS (
              SELECT MIN(doc_id) AS doc_id
              FROM all_docs
              GROUP BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))),
            kept AS (
              SELECT a.doc_id, a.text, a.source
              FROM all_docs a JOIN dd USING (doc_id)),
            ch AS (
              SELECT doc_id, GREATEST(1, CAST(ceil((
                  CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(lower(text)), '\\s+'))
                  END - 10) / 30.0) AS BIGINT)) AS n_chunks
              FROM kept),
            sm AS (
              SELECT * FROM kept
              WHERE (((doc_id % 1000000007) * 654435747) % 1000000007) % 10000 <
                CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                            WHEN 'src2' THEN 2500 ELSE 1000 END),
            sp AS (
              SELECT doc_id,
                CASE WHEN b < 8000 THEN 'train'
                     WHEN b < 9000 THEN 'val'
                     ELSE 'test' END AS split
              FROM (SELECT doc_id,
                      (((doc_id % 1000000007) * 654435747) % 1000000007) % 10000 AS b
                    FROM sm)),
            base AS (
              SELECT doc_id, text,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS n_tokens,
                CASE WHEN length(text) = 0 THEN 0.0
                     ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()-]', '', 'g')) AS DOUBLE)
                          / CAST(length(text) AS DOUBLE) END AS punct_ratio,
                CASE WHEN length(text) = 0 THEN 0.0
                     ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                          / CAST(length(text) AS DOUBLE) END AS digit_ratio
              FROM sm),
            sw AS (
              SELECT doc_id, n_tokens, punct_ratio, digit_ratio,
                CASE WHEN n_tokens = 0 THEN 0.0
                     ELSE CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            t -> list_contains($stop, t))) AS DOUBLE)
                          / CAST(n_tokens AS DOUBLE) END AS stopword_ratio
              FROM base),
            lang AS (
              SELECT doc_id,
                CASE WHEN $mBest = 0 THEN 'und'
                $cases
                ELSE 'und' END AS lang_pred
              FROM (
                SELECT doc_id, $scores
                FROM (SELECT doc_id,
                        string_split_regex(trim(lower(text)), '\\s+') AS toks
                      FROM sm)))
            SELECT w.doc_id, k.source, sp.split,
              CAST(w.n_tokens AS BIGINT) AS n_tokens,
              w.stopword_ratio, w.punct_ratio,
              (CASE WHEN w.n_tokens BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.4
                + LEAST(w.stopword_ratio * 4.0, 1.0) * 0.3
                + GREATEST(0.0, 1.0 - (w.punct_ratio + w.digit_ratio) * 2.0) * 0.3 AS score,
              lang.lang_pred, ch.n_chunks
            FROM sw w
            JOIN kept k USING (doc_id)
            JOIN sp USING (doc_id)
            JOIN lang USING (doc_id)
            JOIN ch USING (doc_id)
            ORDER BY doc_id"""
  }

  // PERCEPTUAL IMAGE DEDUP (r17): raw-image near-duplicate detection
  // BEFORE any embedding model exists — difference hash (dHash) over
  // a real javax.imageio decode, paired by the banded-Hamming join
  // (simHashPairs' machinery, never all-pairs). The corpus is
  // block-textured genuine PNGs whose grid arithmetic the DuckDB
  // oracle replays bit-for-bit (each dHash cell is exactly one
  // block), with planted duplicates that went through a REAL
  // resize + PNG re-encode under shifted ids — the 'hash' rows pin
  // the grid arithmetic, the 'pair' rows pin that every planted
  // resized copy (and nothing else) is detected.
  val imageDedup = QueryDef(
    "q_image_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val orig = Multimodal.withBlockImagePayload(s, docs, "doc_id")
      val dups = Multimodal.withBlockImagePayload(s,
        docs.filter(col("doc_id") % 5 === 0), "doc_id",
        idOffset = 10000000L, resizeTo = Some((36, 28)))
      val hashes = Multimodal.withImageDHash(s,
        orig.unionByName(dups), "id", "payload")
      val pairs = Dedup.imageDHashPairs(hashes, "id")
      hashes.filter(col("id") < 10000000L)
        .select(col("id").as("a"), col("dhash").as("b"), lit("hash").as("kind"))
        .unionAll(pairs.select(col("id_a").as("a"), col("id_b").as("b"),
          lit("pair").as("kind")))
        .orderBy("kind", "a", "b")
    },
    Some("""WITH ks AS (
              SELECT d.doc_id, cx.i AS cx, cy.j AS cy,
                (d.doc_id*7919 + cx.i*104729 + cy.j*1299709)
                  * 2654435761 % 4294967296 AS m1
              FROM documents d
              CROSS JOIN generate_series(0, 8) cx(i)
              CROSS JOIN generate_series(0, 6) cy(j)
            ),
            mx AS (
              SELECT doc_id, cx, cy,
                xor(m1, m1 // 65536) * 40503 % 4294967296 AS m2
              FROM ks
            ),
            cells AS (
              SELECT doc_id, cx, cy,
                xor(m2, m2 // 1024) % 256 AS v
              FROM mx
            ),
            bits AS (
              SELECT a.doc_id, a.cy*8 + a.cx AS b,
                CASE WHEN n.v > a.v THEN 1 ELSE 0 END AS bit
              FROM cells a JOIN cells n
                ON n.doc_id = a.doc_id AND n.cy = a.cy AND n.cx = a.cx + 1
              WHERE a.cx < 8
            )
            SELECT * FROM (
              SELECT doc_id AS a,
                CAST(SUM(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS b,
                'hash' AS kind
              FROM bits GROUP BY doc_id
              UNION ALL
              SELECT doc_id, doc_id + 10000000, 'pair'
              FROM documents WHERE doc_id % 5 = 0)
            ORDER BY kind, a, b"""))

  // REAL video demux, oracle-checked end-to-end: a standards-shaped
  // RIFF AVI with genuine JPEG frames is synthesized from closed-form
  // doc_id arithmetic, demuxed by the real RIFF walk, every 2nd frame
  // decoded by the real javax.imageio stack; DuckDB replays the
  // arithmetic — a mis-walked chunk or dropped frame = hash mismatch.
  val videoFrames = QueryDef(
    "q_video_frames",
    (s, d) => Multimodal.decodeVideoFrames(s,
        Multimodal.withVideoPayload(s, Tables.documents(s, d), "doc_id"), "id",
        every = 2)
      .select(col("id"), col("frame_idx").cast("bigint").as("frame_idx"),
        col("fmt"),
        col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"))
      .orderBy("id", "frame_idx"),
    Some("""SELECT d.doc_id AS id,
              t.i AS frame_idx,
              'jpeg' AS fmt,
              CAST(16 + (d.doc_id % 4) * 8 AS BIGINT) AS width,
              CAST(16 + (d.doc_id % 3) * 8 AS BIGINT) AS height
            FROM documents d
            CROSS JOIN generate_series(0, 3) t(i)
            WHERE t.i < ((3 + d.doc_id % 5) + 1) // 2
            ORDER BY id, frame_idx"""))

  // ---------------------------------------------------------------

  // ---------------------------------------------------------------
  // Auto-Loader schema evolution, end state (oracle-checkable)
  // ---------------------------------------------------------------

  /** Write `df` as ONE csv file at `dest` (Spark write to a staging
    * dir, then move the single part file) — harness plumbing for
    * replaying a file-drop trail without collecting rows to the
    * driver.
    */
  private def writeCsvStep(df: DataFrame, staging: String, dest: String): Unit = {
    df.coalesce(1).write.option("header", "true").mode("overwrite").csv(staging)
    val stagingPath = java.nio.file.Paths.get(staging)
    val listing = java.nio.file.Files.list(stagingPath)
    val part = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala
        .find(_.getFileName.toString.matches("part-.*\\.csv"))
        .getOrElse(throw new IllegalStateException(s"no part file in $staging"))
    } finally listing.close()
    java.nio.file.Files.move(part, java.nio.file.Paths.get(dest),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // Replays FileIngest.streamEvolving's restart loop over a 3-step
  // evolution trail derived from the nation table (2 cols -> +
  // n_regionkey -> + name_len), then reads the sink back under the
  // final persisted schema. The deterministic END STATE — merged
  // schema + null back-fill for rows ingested before each column
  // landed — is exactly expressible in SQL over nation, which makes
  // the evolution semantics oracle-checkable (the restart mechanics
  // stay FileIngestSpec's job).
  val ingestEvolved = QueryDef(
    "q_ingest_evolved",
    (s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_iev").toString
      val drop = s"$root/drop"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(drop))
      val nation = Tables.nation(s, d)
      val steps = Seq(
        nation.filter(col("n_nationkey") < 10)
          .select(col("n_nationkey").cast("int"), col("n_name")),
        nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 18)
          .select(col("n_nationkey").cast("int"), col("n_name"),
            col("n_regionkey").cast("int")),
        nation.filter(col("n_nationkey") >= 18)
          .select(col("n_nationkey").cast("int"), col("n_name"),
            col("n_regionkey").cast("int"),
            length(col("n_name")).as("name_len")))
      steps.zipWithIndex.foreach { case (df, i) =>
        writeCsvStep(df, s"$root/staging$i", s"$drop/f$i.csv")
        val stream = graft.streaming.FileIngest.streamEvolving(
          s, drop, s"$root/schemas", format = "csv",
          options = Map("header" -> "true"))
        val q = stream.writeStream.format("parquet")
          .option("path", s"$root/sink")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      }
      val finalSchema = graft.streaming.FileIngest
        .persistedSchema(s"$root/schemas").get
      s.read.schema(finalSchema).parquet(s"$root/sink")
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("bigint").as("n_regionkey"),
          col("name_len").cast("bigint").as("name_len"))
        .orderBy("n_nationkey")
    },
    Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
              CAST(CASE WHEN n_nationkey >= 10 THEN n_regionkey END AS BIGINT) AS n_regionkey,
              CAST(CASE WHEN n_nationkey >= 18 THEN length(n_name) END AS BIGINT) AS name_len
            FROM nation ORDER BY n_nationkey"""))

  // ---------------------------------------------------------------
  // Pipeline event log (DLT run-history analog)
  // ---------------------------------------------------------------

  // Runs a real 3-table streaming pipeline (bronze file ingest ->
  // silver with Drop/Warn expectations -> gold filter) over the
  // documents table, then queries the PERSISTED parquet event log it
  // leaves behind — the DLT event-log surface (run history, per-rule
  // violation counts) as a queryable table. The oracle recomputes
  // every logged count from the source table directly, so this
  // verifies the log's rows_in/rows_out/violation accounting, not
  // just its shape. Batch granularity is engine-dependent; sums over
  // batches are not.
  val pipelineEvents = QueryDef(
    "q_pipeline_events",
    (s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_plev").toString
      val docsSchema = s.read.parquet(s"$d/documents.parquet").schema
      val p = new graft.streaming.StreamingPipeline(s, root)
      // the file stream source needs a DIRECTORY: stream the sf dir
      // itself, glob-restricted to the documents table's file
      p.source("bronze")(s.readStream.schema(docsSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(d))
      p.tableWithExpectations("silver", Seq("bronze"), Seq(
        Expectations.ruleOrDrop("text_within_limit", col("n_chars") <= 400),
        Expectations.rule("lang_en", col("lang") === "en")))(t => t("bronze"))
      p.table("gold", "silver")(t => t("silver").filter(col("n_chars") >= 100))
      p.runOnce()
      p.eventLog
        .select(col("table_name"), col("rows_in"), col("rows_out"),
          explode_outer(col("expectations")).as("e"))
        .groupBy(col("table_name"), col("e.rule").as("rule"),
          col("e.action").as("action"))
        .agg(sum(col("rows_in")).as("rows_in"),
          sum(col("rows_out")).as("rows_out"),
          sum(col("e.failed")).as("failed_rows"))
        .orderBy(asc_nulls_first("table_name"), asc_nulls_first("rule"))
    },
    Some("""WITH s AS (
              SELECT count(*) AS n,
                count(*) FILTER (WHERE n_chars <= 400) AS kept,
                count(*) FILTER (WHERE n_chars > 400) AS drop_viol,
                count(*) FILTER (WHERE lang <> 'en') AS warn_viol,
                count(*) FILTER (WHERE n_chars <= 400 AND n_chars >= 100) AS gold_kept
              FROM documents)
            SELECT 'bronze' AS table_name, CAST(NULL AS VARCHAR) AS rule,
              CAST(NULL AS VARCHAR) AS action, n AS rows_in, n AS rows_out,
              CAST(NULL AS BIGINT) AS failed_rows FROM s
            UNION ALL
            SELECT 'gold', NULL, NULL, kept, gold_kept, NULL FROM s
            UNION ALL
            SELECT 'silver', 'lang_en', 'Warn', n, kept, warn_viol FROM s
            UNION ALL
            SELECT 'silver', 'text_within_limit', 'Drop', n, kept, drop_viol FROM s
            ORDER BY table_name, rule NULLS FIRST"""))

  // The END-TO-END corpus pipeline — the FineWeb/C4-style path from
  // raw crawl to training manifest, five operators composed into ONE
  // gated result: quality filter (score >= 0.5) -> canonical exact
  // dedup (min-id representative per normalized text) -> per-source
  // cap (k hash-smallest) -> deterministic splits (90/5/5) ->
  // training-order shuffle ordinal over the train split. The oracle
  // replays every stage in one CTE chain, so drift in ANY stage —
  // or in how stages compose — is a hash mismatch. Individual
  // operators are gated by their own queries; this pins the
  // composition a real user would run. NON-VACUOUS by construction:
  // planted digit-junk docs MUST die at the quality gate, planted
  // case/punct variants MUST collapse onto their originals at the
  // dedup stage, and k = 15 sits under the 25-docs-per-source
  // corpus so the cap genuinely elects.
  val corpusPipeline = QueryDef(
    "q_corpus_pipeline",
    (s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      val junk = base.filter(col("doc_id") < 30)
        .select((col("doc_id") + 200000L).as("doc_id"), col("source"),
          lit("12345 67890 !!! ??? 000").as("text"))
      val dupes = base.filter(col("doc_id") < 50)
        .select((col("doc_id") + 100000L).as("doc_id"), col("source"),
          concat(lit("  "), upper(col("text")), lit(" .")).as("text"))
      val docs = base.union(junk).union(dupes)
      val kept = docs.filter(TextFunctions.qualityScore(col("text")) >= 0.5)
      // keep-one dedup in ONE pass over the scored corpus: min-id
      // winner per normalized text via min(struct), grouped on the
      // 8-byte HASH of the normalization (the text itself never
      // shuffles — exactByHash's stance, exact modulo 64-bit
      // collisions). The (id, source) survivor set is tiny and
      // consumed by four downstream stages (cap's election + its
      // semi-join, both split branches), so it is materialized ONCE
      // via localCheckpoint — without it every consumer re-runs the
      // full text-stats quality scan. (localCheckpoint, not persist:
      // its blocks are reclaimed by the ContextCleaner when the
      // frame is unreferenced, where a bare .persist() would pin a
      // block per invocation in a long-lived session — the leak
      // packSequences' CacheScope exists to prevent.)
      val unique = kept
        .select(xxhash64(TextFunctions.normalizeForDedup(col("text"))).as("__n"),
          col("doc_id"), col("source"))
        .groupBy(col("__n"))
        .agg(min(struct(col("doc_id"), col("source"))).as("__w"))
        .select(col("__w.doc_id").as("doc_id"), col("__w.source").as("source"))
        .localCheckpoint()
      val capped = TextOps.capPerGroup(unique, "source", "doc_id",
        k = 15, seed = 42L)
      val split = TextOps.assignSplits(capped, "doc_id",
        Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
      val train = TextOps.shuffleDeterministic(
        split.filter(col("split") === "train"), "doc_id", seed = 7L)
      train.select(col("doc_id"), col("source"), col("split"), col("shuffle_pos"))
        .union(split.filter(col("split") =!= "train")
          .select(col("doc_id"), col("source"), col("split"),
            lit(-1L).as("shuffle_pos")))
        .orderBy("doc_id")
    },
    Some {
      val stop = TextFunctions.enStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      val (m42, a42) = TextOps.shuffleKeyConstants(42L)
      val (m7, a7) = TextOps.shuffleKeyConstants(7L)
      s"""WITH aug AS (
            SELECT doc_id, source, text FROM documents
            UNION ALL
            SELECT doc_id + 200000, source, '12345 67890 !!! ??? 000'
            FROM documents WHERE doc_id < 30
            UNION ALL
            SELECT doc_id + 100000, source, '  ' || upper(text) || ' .'
            FROM documents WHERE doc_id < 50
          ), base AS (
            SELECT doc_id, source, text,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS n_tokens,
              CASE WHEN length(text) = 0 THEN 0.0
                   ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()-]', '', 'g')) AS DOUBLE)
                        / CAST(length(text) AS DOUBLE) END AS punct_ratio,
              CASE WHEN length(text) = 0 THEN 0.0
                   ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                        / CAST(length(text) AS DOUBLE) END AS digit_ratio
            FROM aug
          ), sw AS (
            SELECT doc_id, source, text, n_tokens, punct_ratio, digit_ratio,
              CASE WHEN n_tokens = 0 THEN 0.0
                   ELSE CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                          t -> list_contains($stop, t))) AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS stopword_ratio
            FROM base
          ), q AS (
            SELECT doc_id, source, text FROM sw
            WHERE (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.4
              + LEAST(stopword_ratio * 4.0, 1.0) * 0.3
              + GREATEST(0.0, 1.0 - (punct_ratio + digit_ratio) * 2.0) * 0.3 >= 0.5
          ), n AS (
            SELECT doc_id, source,
              trim(regexp_replace(regexp_replace(lower(text),
                '[^\\p{L}\\p{N}\\s]+', ' ', 'g'), '\\s+', ' ', 'g')) AS nt
            FROM q
          ), u AS (
            SELECT doc_id, source FROM (
              SELECT doc_id, source, min(doc_id) OVER (PARTITION BY nt) AS rep FROM n)
            WHERE doc_id = rep
          ), capped AS (
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                row_number() OVER (PARTITION BY source ORDER BY sk, doc_id) AS rn
              FROM (SELECT doc_id, source,
                      ((doc_id % 1000000007) * $m42 + $a42) % 1000000007 AS sk
                    FROM u))
            WHERE rn <= 15
          ), sp AS (
            SELECT doc_id, source,
              CASE WHEN b < 9000 THEN 'train'
                   WHEN b < 9500 THEN 'val'
                   ELSE 'test' END AS split
            FROM (SELECT doc_id, source,
                    (((doc_id % 1000000007) * 654435747) % 1000000007) % 10000 AS b
                  FROM capped)
          ), tr AS (
            SELECT doc_id, source, split,
              row_number() OVER (ORDER BY
                ((doc_id % 1000000007) * $m7 + $a7) % 1000000007, doc_id) - 1
                AS shuffle_pos
            FROM sp WHERE split = 'train'
          )
          SELECT doc_id, source, split, shuffle_pos FROM tr
          UNION ALL
          SELECT doc_id, source, split, CAST(-1 AS BIGINT) AS shuffle_pos
          FROM sp WHERE split <> 'train'
          ORDER BY doc_id"""
    })

  // Generation TIME TRAVEL (the Delta VERSION AS OF analog at
  // maintenance granularity): build a stats table in three waves —
  // base write + append (generation v0), compaction (freezes v0,
  // commits v1), a post-compaction append (lands in v1) — then read
  // AT VERSION 0. The oracle is the plain SQL over exactly the first
  // two waves: if the versioned read leaked the third wave (read the
  // current state), or if compaction's default-retention vacuum had
  // deleted the files v0 references, the gate mismatches/fails.
  // Non-vacuous by construction: every wave is non-empty at the
  // correctness scale (event_id mod 3), and the predicate sits inside
  // the user_id domain.
  val timeTravel = QueryDef(
    "q_time_travel",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_ttq").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.filter(col("event_id") % 3 === 0).repartitionByRange(8, col("user_id")),
        s"$root/events", Seq("user_id"))
      DataSkipping.appendWithStats(
        ev.filter(col("event_id") % 3 === 1).repartitionByRange(4, col("user_id")),
        s"$root/events", Seq("user_id"))
      DataSkipping.compactTable(s, s"$root/events",
        targetFileBytes = 16L * 1024 * 1024) // freezes v0, commits v1
      DataSkipping.appendWithStats(
        ev.filter(col("event_id") % 3 === 2).repartitionByRange(4, col("user_id")),
        s"$root/events", Seq("user_id")) // lands in v1, invisible to v0
      DataSkipping.readSkippingAt(s, s"$root/events", 0L,
          col("user_id") >= 40L && col("user_id") < 110L)
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value
            FROM events
            WHERE event_id % 3 <> 2 AND user_id >= 40 AND user_id < 110
            ORDER BY event_id"""))

  // Silver→gold chained through MANIFEST COMMITS (the Delta-source
  // analog): bronze file-streams two waves of documents, silver
  // materializes as a stats table whose micro-batches land as named
  // manifest commits, and gold consumes silver through
  // StatsTableSource — each commit becomes one downstream
  // micro-batch, discovery driven by the manifest, never a directory
  // listing. TWO pipeline runs (fresh instances, shared checkpoints)
  // prove incremental exactly-once delivery: the oracle is the plain
  // SQL over ALL documents, so a dropped or doubled commit anywhere
  // in the chain is a row-count/hash mismatch. Both filter bounds
  // fire at the correctness scale (n_chars spans well past [150,380])
  // — the gate is non-vacuous in both directions.
  val manifestStream = QueryDef(
    "q_manifest_stream",
    (s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_mstr").toString
      val src = s"$root/src"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val schema = docs.schema
      def wave(pred: Column): Unit =
        docs.filter(pred).coalesce(1).write.mode("append").parquet(src)
      def runPipe(): Map[String, DataFrame] = {
        val p = new graft.streaming.StreamingPipeline(s, s"$root/pipe")
        p.source("bronze")(s.readStream.schema(schema).parquet(src))
        p.statsTable("silver", Seq("doc_id"), "bronze")(t =>
          t("bronze").filter(col("n_chars") >= 150 && col("n_chars") <= 380))
        p.table("gold", "silver")(t =>
          t("silver").withColumn("n_mod", col("n_chars") % 7))
        p.runOnce()
      }
      wave(col("doc_id") % 2 === 0)
      runPipe()
      wave(col("doc_id") % 2 === 1)
      val built = runPipe()
      built("gold").orderBy("doc_id")
    },
    Some("""SELECT doc_id, source, n_chars, n_chars % 7 AS n_mod
            FROM documents WHERE n_chars >= 150 AND n_chars <= 380
            ORDER BY doc_id"""))

  // The q_manifest_stream chain with a PARTITIONED silver (r14):
  // micro-batches route into `source=<v>` directories and gold
  // consumes the commits through the PART-AWARE manifest source — a
  // partition-blind batch read would feed gold NULL source values
  // and every output row would mismatch the oracle. Two runs prove
  // incremental exactly-once over the partitioned layout.
  val manifestStreamPart = QueryDef(
    "q_manifest_stream_part",
    (s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_mstrp").toString
      val src = s"$root/src"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val schema = docs.schema
      def wave(pred: Column): Unit =
        docs.filter(pred).coalesce(1).write.mode("append").parquet(src)
      def runPipe(): Map[String, DataFrame] = {
        val p = new graft.streaming.StreamingPipeline(s, s"$root/pipe")
        p.source("bronze")(s.readStream.schema(schema).parquet(src))
        p.statsTablePartitioned("silver", Seq("doc_id"), Seq("source"), "bronze")(t =>
          t("bronze").filter(col("n_chars") >= 150 && col("n_chars") <= 380))
        p.table("gold", "silver")(t =>
          t("silver").withColumn("src_len",
            length(col("source")) + col("n_chars") % 5))
        p.runOnce()
      }
      wave(col("doc_id") % 2 === 0)
      runPipe()
      wave(col("doc_id") % 2 === 1)
      val built = runPipe()
      built("gold").orderBy("doc_id")
    },
    Some("""SELECT doc_id, source, n_chars,
              length(source) + n_chars % 5 AS src_len
            FROM documents WHERE n_chars >= 150 AND n_chars <= 380
            ORDER BY doc_id"""))

  // Row-level DML, copy-on-write: DELETE drops one user_id band,
  // UPDATE rewrites another (string literal + value sign flip), then
  // a FULL readback. The oracle replays both as plain SQL (NOT
  // (deleted band), CASE on the updated band) over the whole events
  // domain — a row dropped/duplicated/left stale by the prune→touch→
  // rewrite→generation-commit path is a row/hash mismatch. Both
  // bands sit inside the user_id domain at every gated scale
  // (sf0.01 max is 149). File-preservation mechanics (untouched
  // files carried verbatim, only matching files rewritten) are
  // DataSkippingSpec's job.
  val deleteUpdate = QueryDef(
    "q_delete_update",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_dml").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("user_id")), s"$root/events", Seq("user_id"))
      DataSkipping.deleteWhere(s, s"$root/events",
        col("user_id") >= 40L && col("user_id") < 60L)
      DataSkipping.updateWhere(s, s"$root/events",
        col("user_id") >= 100L && col("user_id") < 120L,
        Map("event_type" -> lit("redacted"), "value" -> (col("value") * -1)))
      DataSkipping.readSkipping(s, s"$root/events", col("user_id") >= 0L)
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
              CASE WHEN user_id >= 100 AND user_id < 120
                   THEN 'redacted' ELSE event_type END AS event_type,
              CASE WHEN user_id >= 100 AND user_id < 120
                   THEN value * -1 ELSE value END AS value
            FROM events
            WHERE NOT (user_id >= 40 AND user_id < 60)
            ORDER BY event_id"""))

  // MERGE-ON-READ DML (deletion vectors): two stacked DV deletes
  // (overlapping bands — double-delete protection on the overlap), a
  // DV update, then a COMPACTION that materializes the vector, then a
  // full readback. The oracle is the same CASE/NOT SQL as the
  // copy-on-write gate — merge-on-read must be observationally
  // IDENTICAL to copy-on-write; only the write amplification differs.
  // A resurrected dead row (any scan path missing the vector), a
  // double-counted overlap, or a compaction losing/duplicating a row
  // all mismatch.
  val deleteDv = QueryDef(
    "q_delete_dv",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_dv").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("user_id")), s"$root/events", Seq("user_id"))
      DataSkipping.deleteWhereDV(s, s"$root/events",
        col("user_id") >= 40L && col("user_id") < 55L)
      DataSkipping.deleteWhereDV(s, s"$root/events",
        col("user_id") >= 50L && col("user_id") < 60L)
      DataSkipping.updateWhereDV(s, s"$root/events",
        col("user_id") >= 100L && col("user_id") < 120L,
        Map("event_type" -> lit("redacted"), "value" -> (col("value") * -1)))
      DataSkipping.compactTable(s, s"$root/events",
        targetFileBytes = 4L * 1024 * 1024)
      DataSkipping.readSkipping(s, s"$root/events", col("user_id") >= 0L)
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
              CASE WHEN user_id >= 100 AND user_id < 120
                   THEN 'redacted' ELSE event_type END AS event_type,
              CASE WHEN user_id >= 100 AND user_id < 120
                   THEN value * -1 ELSE value END AS value
            FROM events
            WHERE NOT (user_id >= 40 AND user_id < 60)
            ORDER BY event_id"""))

  // REORG / PURGE DV (row 17i note): stacked merge-on-read DML, then
  // purgeDeletionVectors rewrites ONLY the vector's files — the
  // readback must be identical to the logical state and the vector
  // must be gone (the plan is probe-free; any resurrection or loss
  // mismatches the oracle).
  val purgeDvQ = QueryDef(
    "q_purge_dv",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_prg").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("user_id")), s"$root/events", Seq("user_id"))
      DataSkipping.deleteWhereDV(s, s"$root/events",
        col("user_id") >= 40L && col("user_id") < 60L)
      DataSkipping.updateWhereDV(s, s"$root/events",
        col("user_id") >= 100L && col("user_id") < 120L,
        Map("event_type" -> lit("redacted"), "value" -> (col("value") * -1)))
      DataSkipping.purgeDeletionVectors(s, s"$root/events")
      DataSkipping.readSkipping(s, s"$root/events", col("user_id") >= 0L)
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
              CASE WHEN user_id >= 100 AND user_id < 120
                   THEN 'redacted' ELSE event_type END AS event_type,
              CASE WHEN user_id >= 100 AND user_id < 120
                   THEN value * -1 ELSE value END AS value
            FROM events
            WHERE NOT (user_id >= 40 AND user_id < 60)
            ORDER BY event_id"""))

  // METADATA-ONLY COUNT (the Delta/Photon metadata-count analog):
  // tri-state file classification from manifest stats — all-match
  // files contribute n_rows (minus deletion-vector entries) with no
  // data read, no-match files prune, only boundary files scan. The
  // gate stacks a DV delete on top so the metadata arithmetic must
  // subtract dead positions exactly; the oracle recomputes all four
  // labeled counts by brute force.
  val countMeta = QueryDef(
    "q_count_meta",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_cnt").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("user_id")), s"$root/events", Seq("user_id"))
      DataSkipping.deleteWhereDV(s, s"$root/events",
        col("user_id") >= 40L && col("user_id") < 60L)
      def cnt(label: String, pred: org.apache.spark.sql.Column) =
        (label, DataSkipping.countWhere(s, s"$root/events", pred))
      import s.implicits._
      Seq(
        cnt("all", lit(true)),
        cnt("band", col("user_id") >= 100L && col("user_id") < 200L),
        cnt("deleted_band", col("user_id") >= 30L && col("user_id") < 70L),
        cnt("none", col("user_id") > 1000000L))
        .toDF("label", "cnt").orderBy("label")
    },
    Some("""WITH live AS (
              SELECT * FROM events
              WHERE NOT (user_id >= 40 AND user_id < 60))
            SELECT * FROM (
              SELECT 'all' AS label, COUNT(*) AS cnt FROM live
              UNION ALL
              SELECT 'band', COUNT(*) FROM live
              WHERE user_id >= 100 AND user_id < 200
              UNION ALL
              SELECT 'deleted_band', COUNT(*) FROM live
              WHERE user_id >= 30 AND user_id < 70
              UNION ALL
              SELECT 'none', COUNT(*) FROM live WHERE user_id > 1000000)
            ORDER BY label"""))

  // SQL-surface metadata aggregate pushdown (r14 verdict #2): the
  // same O(manifest) COUNT/MIN/MAX the q_count_meta Scala API gives,
  // now reached by a PLAIN `SELECT count(*)/min/max ... WHERE ...`
  // over a graft view — GraftMetaAggStrategy plans the global
  // aggregate to GraftMetaAggExec. Every output row carries a
  // `pushed` flag read from the EXECUTED PLAN (1 = the meta node
  // answered, no scan operator), which the oracle pins to 1: if the
  // strategy ever stops claiming these shapes, the gate hash-
  // mismatches — the plan shape is part of the contract, not just
  // the values.
  val aggPushdown = QueryDef(
    "q_agg_pushdown",
    (s, d) => {
      import graft.sources.{DataSkipping, GraftMetaAggExec, MetaAggPushdown}
      val root = java.nio.file.Files.createTempDirectory("graft_apd").toString
      // v2 carries REAL nulls so COUNT(v2) ≠ COUNT(*): the r16
      // COUNT(col) = n_rows − nullCount pushdown leg is non-vacuous
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("v2", when(col("event_id") % 5 === 0,
          lit(null).cast("double")).otherwise(col("value")))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("user_id")), s"$root/events",
        Seq("user_id", "event_id", "v2"))
      DataSkipping.deleteWhereDV(s, s"$root/events",
        col("user_id") >= 40L && col("user_id") < 60L)
      MetaAggPushdown.install(s)
      s.read.format("graft").load(s"$root/events")
        .createOrReplaceTempView("apd_events_v")
      def run(label: String, where: String)
          : (String, Long, Long, Long, Option[Long], Option[Long]) = {
        val df = s.sql("SELECT count(*) AS n, count(v2) AS nn, " +
          "min(event_id) AS lo, " +
          s"max(event_id) AS hi FROM apd_events_v $where")
        val pushed = df.queryExecution.executedPlan
          .collectFirst { case g: GraftMetaAggExec => g }.nonEmpty
        val r = df.collect()(0)
        (label, if (pushed) 1L else 0L, r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))
      }
      import s.implicits._
      Seq(
        run("all", ""),
        run("band", "WHERE user_id >= 100 AND user_id < 200"),
        run("deleted_band", "WHERE user_id >= 30 AND user_id < 70"),
        run("none", "WHERE user_id > 1000000"))
        .toDF("label", "pushed", "cnt", "nn", "lo", "hi").orderBy("label")
    },
    Some("""WITH live AS (
              SELECT *,
                CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v2
              FROM events
              WHERE NOT (user_id >= 40 AND user_id < 60))
            SELECT * FROM (
              SELECT 'all' AS label, CAST(1 AS BIGINT) AS pushed, COUNT(*) AS cnt,
                     COUNT(v2) AS nn, MIN(event_id) AS lo, MAX(event_id) AS hi
              FROM live
              UNION ALL
              SELECT 'band', CAST(1 AS BIGINT), COUNT(*), COUNT(v2),
                     MIN(event_id), MAX(event_id)
              FROM live WHERE user_id >= 100 AND user_id < 200
              UNION ALL
              SELECT 'deleted_band', CAST(1 AS BIGINT), COUNT(*), COUNT(v2),
                     MIN(event_id), MAX(event_id)
              FROM live WHERE user_id >= 30 AND user_id < 70
              UNION ALL
              SELECT 'none', CAST(1 AS BIGINT), COUNT(*), COUNT(v2),
                     MIN(event_id), MAX(event_id)
              FROM live WHERE user_id > 1000000)
            ORDER BY label"""))

  // SHOW PARTITIONS (r15): live partition tuples from ONE manifest
  // aggregate — no directory listing. The program exercises the
  // tuple lifecycle: a null partition value (Hive default marker), a
  // whole-partition DELETE vanishing from the listing, and an append
  // creating a NEW partition appearing in it.
  val showPartitionsQ = QueryDef(
    "q_show_partitions",
    (s, d) => {
      import graft.sources.{DataSkipping, GraftSql}
      val root = java.nio.file.Files.createTempDirectory("graft_shpq").toString
      val t = s"$root/events"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("p", when(col("user_id") % 7 === 0, lit(null))
          .otherwise(pmod(col("user_id"), lit(5))).cast("long"))
      DataSkipping.writeWithStats(ev.repartition(4), t, Seq("event_id"),
        bloomCols = Nil, partitionBy = Seq("p"))
      DataSkipping.deleteWhere(s, t, col("p") === 2L, vacuum = false)
      DataSkipping.appendWithStats(
        ev.filter(col("p") === 0L).limit(50)
          .withColumn("p", lit(99L)).coalesce(1), t, Seq("event_id"))
      GraftSql.sql(s, s"SHOW PARTITIONS '$t'")
        .orderBy("partition")
    },
    Some("""SELECT DISTINCT
              'p=' || COALESCE(CAST(
                CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id % 5 END
                AS VARCHAR), '__HIVE_DEFAULT_PARTITION__') AS partition
            FROM events
            WHERE NOT COALESCE(
              CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id % 5 END = 2,
              FALSE)
            UNION
            SELECT 'p=99'
            ORDER BY partition"""))

  // Partition-scoped OPTIMIZE (r15, Delta's `OPTIMIZE t WHERE part`):
  // a 4x4-file fragmented partitioned table; a DV delete in p=1; then
  // SQL `OPTIMIZE ... WHERE p = 2`. The marker row pins the per-
  // partition FILE counts (4,4,1,4 — only p=2 collapsed; the scoped
  // op must not touch other partitions' files) and the data rows pin
  // content-invisibility (incl. the untouched partition's vector).
  val optimizeWhereQ = QueryDef(
    "q_optimize_where",
    (s, d) => {
      import graft.sources.{DataSkipping, GraftSql}
      val root = java.nio.file.Files.createTempDirectory("graft_optw").toString
      val t = s"$root/events"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("p", pmod(col("user_id"), lit(4)))
      val q = ev.count() / 4
      DataSkipping.writeWithStats(
        ev.orderBy("event_id").limit(q.toInt).coalesce(1), t, Seq("event_id"),
        bloomCols = Nil, partitionBy = Seq("p"))
      (1 to 3).foreach { b =>
        DataSkipping.appendWithStats(
          ev.orderBy("event_id")
            .limit(((b + 1) * q).toInt).offset((b * q).toInt).coalesce(1),
          t, Seq("event_id"))
      }
      DataSkipping.deleteWhereDV(s, t,
        col("p") === 1L && col("event_id") % 17 === 3L)
      GraftSql.sql(s, s"OPTIMIZE '$t' WHERE p = 2")
      val counts = DataSkipping.readManifest(s, t).select("file").collect()
        .map(_.getString(0))
        .flatMap("p=([0-9]+)".r.findFirstMatchIn(_).map(_.group(1).toInt))
        .groupBy(identity).view.mapValues(_.length).toMap
      val marker = (0 to 3).map(counts.getOrElse(_, 0)).mkString("files=", ",", "")
      DataSkipping.readSkipping(s, t, lit(true))
        .select(col("event_id"), col("user_id"), col("value"), col("p"),
          lit("data").as("info"))
        .unionAll(s.range(1).select(lit(-1L).as("event_id"),
          lit(-1L).as("user_id"), lit(0.0).as("value"), lit(-1L).as("p"),
          lit(marker).as("info")))
        .orderBy("event_id")
    },
    Some("""SELECT * FROM (
              SELECT event_id, user_id, value, user_id % 4 AS p,
                     'data' AS info
              FROM events
              WHERE NOT (user_id % 4 = 1 AND event_id % 17 = 3)
              UNION ALL
              SELECT -1, -1, 0.0, -1, 'files=4,4,1,4')
            ORDER BY event_id"""))

  // GROUPED metadata count pushdown (r15): `SELECT p, count(*) …
  // GROUP BY p` over partition columns answers from ONE manifest
  // aggregate (per-file n_rows minus vector dead, grouped by the
  // min=max partition value) — the partition-profile query reads no
  // data at any table size. The pushed flag from the executed plan
  // is pinned like q_agg_pushdown's.
  val groupCountPushdown = QueryDef(
    "q_group_count_pushdown",
    (s, d) => {
      import graft.sources.{DataSkipping, GraftMetaGroupCountExec, MetaAggPushdown}
      val root = java.nio.file.Files.createTempDirectory("graft_gcp").toString
      val t = s"$root/events"
      // v2 carries REAL nulls (COUNT(v2) ≠ COUNT(*)); the DV delete
      // in p=2 exercises the grouped rewrite's scan-demotion side
      // for count(col)/min/max (dead rows' values are unknowable
      // from stats) while other partitions answer from the manifest
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("v2", when(col("event_id") % 4 === 0,
          lit(null).cast("double")).otherwise(col("value")))
        .withColumn("p", pmod(col("user_id"), lit(8)))
      DataSkipping.writeWithStats(ev.repartition(4), t,
        Seq("event_id", "value", "v2"),
        bloomCols = Nil, partitionBy = Seq("p"))
      DataSkipping.deleteWhereDV(s, t,
        col("p") === 2L && col("event_id") % 3 === 0L)
      MetaAggPushdown.install(s)
      s.read.format("graft").load(t).createOrReplaceTempView("gcp_v")
      val q = s.sql(
        "SELECT p, count(*) AS n, count(v2) AS nn, min(event_id) AS lo, " +
          "max(value) AS hi FROM gcp_v WHERE p >= 1 AND p < 7 GROUP BY p")
      val pushed = q.queryExecution.executedPlan
        .collectFirst { case g: GraftMetaGroupCountExec => g }.nonEmpty
      q.withColumn("pushed", lit(if (pushed) 1L else 0L))
        .orderBy("p")
    },
    Some("""SELECT user_id % 8 AS p, COUNT(*) AS n,
                   COUNT(CASE WHEN event_id % 4 = 0 THEN NULL ELSE value END) AS nn,
                   MIN(event_id) AS lo, MAX(value) AS hi,
                   CAST(1 AS BIGINT) AS pushed
            FROM events
            WHERE user_id % 8 >= 1 AND user_id % 8 < 7
              AND NOT (user_id % 8 = 2 AND event_id % 3 = 0)
            GROUP BY 1 ORDER BY p"""))

  // NESTED-FIELD STATS (r16; the Delta nested-column-stats shape):
  // a struct-typed silver document — the reference's own pre-explode
  // txn shape (03_Bronze-to-Silver ETL.py:283-324 keeps the parsed
  // doc as a struct before exploding) — with min/max/nullCount
  // tracked on struct PATHS (`m.uid`, `m.v`), so a predicate on
  // `m.uid` prunes files exactly like a flat column. The marker pins
  // that the nested-predicate read is a SUBSET scan (derivable only
  // from per-file nested stats); the data rows pin that pruning
  // never changes results against the flat-recomputed oracle.
  val nestedStats = QueryDef(
    "q_nested_stats",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_nst").toString
      val t = s"$root/docs"
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          struct(col("user_id").as("uid"), col("value").as("v")).as("m"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(8, col("m.uid")), t,
        Seq("event_id", "m.uid", "m.v"))
      val pred = col("m.uid") >= 20L && col("m.uid") < 40L
      val (kept, files) = DataSkipping.prunedFiles(s, t, pred)
      val marker = s"files=${files.size >= 8},subset=${kept.size < files.size}"
      DataSkipping.readSkipping(s, t, pred)
        .select(col("event_id"), col("m.uid").as("uid"),
          col("m.v").as("v"), lit("data").as("info"))
        .unionAll(s.range(1).select(lit(-1L).as("event_id"),
          lit(-1L).as("uid"), lit(0.0).as("v"), lit(marker).as("info")))
        .orderBy("event_id", "uid", "v")
    },
    Some("""SELECT * FROM (
              SELECT event_id, user_id AS uid, value AS v, 'data' AS info
              FROM events WHERE user_id >= 20 AND user_id < 40
              UNION ALL
              SELECT -1, -1, 0.0, 'files=true,subset=true')
            ORDER BY event_id, uid, v"""))

  // LAZY NAME-SURFACE READ (r17; the Delta TahoeFileIndex shape):
  // a NESTED struct-path predicate through a catalog/format("graft")
  // view plans as a standard file scan whose SkippingFileIndex
  // evaluates the manifest's nested stats at listing time — the V1
  // PrunedFilteredScan boundary (SURVEY §7.2b(i)) closed. The marker
  // pins BOTH the plan shape (a FileSourceScanExec, not the opaque
  // V1 RDD node) and that the listing kept a strict SUBSET of the
  // files — derivable only if the nested predicate reached the
  // manifest. Data rows pin that lazy pruning never changes results.
  val lazyNestedRead = QueryDef(
    "q_lazy_nested_read",
    (s, d) => {
      import graft.sources.DataSkipping
      import org.apache.spark.sql.execution.FileSourceScanExec
      val root = java.nio.file.Files.createTempDirectory("graft_lnr").toString
      val t = s"$root/docs"
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          struct(col("user_id").as("uid"), col("value").as("v")).as("m"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(8, col("m.uid")), t,
        Seq("event_id", "m.uid", "m.v"))
      graft.sources.GraftScanRewrite.install(s)
      s.read.format("graft").load(t).createOrReplaceTempView("lnr_v")
      val sql = "SELECT event_id, m.uid AS uid, m.v AS v FROM lnr_v " +
        "WHERE m.uid >= 20 AND m.uid < 40"
      // probe run: execute once so the scan's file metric is real
      val probe = s.sql(sql)
      probe.collect()
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[FileSourceScanExec] = p.flatMap {
        case f: FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case _ => Nil
      }.toSeq
      val scan = scans(probe.queryExecution.executedPlan)
      val total = DataSkipping.readManifest(s, t).count()
      val marker = s"filescan=${scan.nonEmpty}," +
        s"subset=${scan.exists(_.metrics("numFiles").value < total)}"
      s.sql(sql)
        .withColumn("info", lit("data"))
        .unionAll(s.range(1).select(lit(-1L).as("event_id"),
          lit(-1L).as("uid"), lit(0.0).as("v"), lit(marker).as("info")))
        .orderBy("event_id", "uid", "v")
    },
    Some("""SELECT * FROM (
              SELECT event_id, user_id AS uid, value AS v, 'data' AS info
              FROM events WHERE user_id >= 20 AND user_id < 40
              UNION ALL
              SELECT -1, -1, 0.0, 'filescan=true,subset=true')
            ORDER BY event_id, uid, v"""))

  // AUTOMATIC dynamic partition pruning on a name-addressed join
  // (r17): a partitioned graft fact joined to a filtered dim through
  // plain SQL prunes its files at runtime with the dim's build-side
  // keys — Spark's native DPP against the lazy SkippingFileIndex, no
  // DynamicFilePruning.joinPruned call (the 04_Silver-to-Gold
  // ETL.sql:70-103 porter's joins now prune by themselves). The
  // marker pins the DynamicPruningExpression in the executed plan
  // and the runtime file subset; rows pin join correctness.
  val dppJoin = QueryDef(
    "q_dpp_join",
    (s, d) => {
      import graft.sources.DataSkipping
      import org.apache.spark.sql.execution.FileSourceScanExec
      val root = java.nio.file.Files.createTempDirectory("graft_dpp").toString
      val t = s"$root/fact"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("p", pmod(col("user_id"), lit(20)))
      DataSkipping.writeWithStats(ev.repartition(2), t,
        Seq("event_id", "value"), bloomCols = Nil, partitionBy = Seq("p"))
      graft.sources.GraftScanRewrite.install(s)
      s.read.format("graft").load(t).createOrReplaceTempView("dpp_fact")
      Tables.nation(s, d).createOrReplaceTempView("dpp_dim")
      val sql = "SELECT f.event_id, f.value, d.n_name AS nname " +
        "FROM dpp_fact f JOIN dpp_dim d ON f.p = d.n_nationkey " +
        "WHERE d.n_name IN ('NATION_6', 'NATION_18')"
      val probe = s.sql(sql)
      probe.collect()
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[FileSourceScanExec] = p.flatMap {
        case f: FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case _ => Nil
      }.toSeq
      val pruned = scans(probe.queryExecution.executedPlan).find(
        _.partitionFilters.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
            .DynamicPruningExpression])))
      val total = DataSkipping.readManifest(s, t).count()
      val marker = s"dpp=${pruned.nonEmpty}," +
        s"subset=${pruned.exists(_.metrics("numFiles").value < total)}"
      s.sql(sql)
        .withColumn("info", lit("data"))
        .unionAll(s.range(1).select(lit(-1L).as("event_id"),
          lit(0.0).as("value"), lit("").as("nname"), lit(marker).as("info")))
        .orderBy("event_id", "value", "nname")
    },
    Some("""SELECT * FROM (
              SELECT e.event_id, e.value, n.n_name AS nname, 'data' AS info
              FROM events e JOIN nation n ON e.user_id % 20 = n.n_nationkey
              WHERE n.n_name IN ('NATION_6', 'NATION_18')
              UNION ALL
              SELECT -1, 0.0, '', 'dpp=true,subset=true')
            ORDER BY event_id, value, nname"""))

  // DPP x DATA-FILTER COMPOSITION (r18): the two r17 pruning
  // mechanisms in the SAME scan — the join prunes partition dirs at
  // RUNTIME (DynamicPruningExpression from the dim's build side)
  // while a NESTED struct-path predicate prunes files WITHIN the
  // surviving partitions through the manifest's nested stats. Each
  // mechanism has its own single-mechanism gate (q_dpp_join,
  // storage_nested_read); a regression in their composition — DPP
  // disabling the data-filter listing, nested stats lost under the
  // partition filters — would be invisible to both, so the marker
  // pins BOTH: the DynamicPruningExpression in the executed plan AND
  // a runtime file count strictly below the selected partitions'
  // file count (the nested predicate must drop files DPP kept).
  val dppNested = QueryDef(
    "q_dpp_nested",
    (s, d) => {
      import graft.sources.DataSkipping
      import org.apache.spark.sql.execution.FileSourceScanExec
      val root = java.nio.file.Files.createTempDirectory("graft_dppn").toString
      val t = s"$root/fact"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("p", pmod(col("user_id"), lit(20)))
        .withColumn("m", struct(col("event_id").as("uid")))
      // range-layout on the nested key: each partition dir gets
      // several files with NARROW m.uid envelopes, so the nested
      // predicate can drop most of a surviving partition's files
      DataSkipping.writeWithStats(ev.repartitionByRange(8, col("m.uid")), t,
        Seq("value", "m.uid"), bloomCols = Nil, partitionBy = Seq("p"))
      graft.sources.GraftScanRewrite.install(s)
      s.read.format("graft").load(t).createOrReplaceTempView("dppn_fact")
      Tables.nation(s, d).createOrReplaceTempView("dppn_dim")
      val sql = "SELECT f.event_id, f.value, d.n_name AS nname " +
        "FROM dppn_fact f JOIN dppn_dim d ON f.p = d.n_nationkey " +
        "WHERE d.n_name IN ('NATION_6', 'NATION_18') " +
        "AND f.m.uid >= 100 AND f.m.uid < 600"
      val probe = s.sql(sql)
      probe.collect()
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[FileSourceScanExec] = p.flatMap {
        case f: FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case _ => Nil
      }.toSeq
      val pruned = scans(probe.queryExecution.executedPlan).find(
        _.partitionFilters.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
            .DynamicPruningExpression])))
      // files in the two DPP-selected partitions — the nested data
      // predicate must read strictly fewer than this
      val inParts = DataSkipping.readManifest(s, t)
        .filter(col("min_p").isin(6, 18)).count()
      val marker = s"dpp=${pruned.nonEmpty}," +
        s"datasubset=${pruned.exists(f =>
          f.metrics("numFiles").value < inParts && inParts > 2)}"
      s.sql(sql)
        .withColumn("info", lit("data"))
        .unionAll(s.range(1).select(lit(-1L).as("event_id"),
          lit(0.0).as("value"), lit("").as("nname"), lit(marker).as("info")))
        .orderBy("event_id", "value", "nname")
    },
    Some("""SELECT * FROM (
              SELECT e.event_id, e.value, n.n_name AS nname, 'data' AS info
              FROM events e JOIN nation n ON e.user_id % 20 = n.n_nationkey
              WHERE n.n_name IN ('NATION_6', 'NATION_18')
                AND e.event_id >= 100 AND e.event_id < 600
              UNION ALL
              SELECT -1, 0.0, '', 'dpp=true,datasubset=true')
            ORDER BY event_id, value, nname"""))

  // Keyed MERGE DELETE (the WHEN MATCHED THEN DELETE arm): the
  // delete set is a key DATAFRAME (no O(batch) IN literal), pruned
  // by key envelope, absent keys no-ops. Full readback vs an
  // anti-join oracle; the key set includes absent keys (+10M shift)
  // so idempotent-no-op behavior is in the gate.
  val mergeDeleteQ = QueryDef(
    "q_merge_delete",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_mdl").toString
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      DataSkipping.writeWithStats(
        ord.repartitionByRange(8, col("o_orderkey")),
        s"$root/orders", Seq("o_orderkey"))
      val keys = ord.filter(col("o_orderkey") % 7 === 3)
        .select(col("o_orderkey"))
        .unionByName(ord.filter(col("o_orderkey") % 7 === 4)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey")))
      DataSkipping.mergeDelete(s, s"$root/orders", keys, Seq("o_orderkey"))
      DataSkipping.readSkipping(s, s"$root/orders", col("o_orderkey") >= 0L)
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders WHERE o_orderkey % 7 <> 3
            ORDER BY o_orderkey"""))

  // CHECK constraints: monitoring-only registrations report live
  // violation counts (the staged-rollout surface); the oracle
  // recomputes each count by brute force. SQL CHECK semantics: only
  // FALSE violates, NULL passes — the props IS NOT NULL distinction
  // rides on real nulls in the events table if present (count is
  // whatever the data says; both engines must agree exactly).
  val checkConstraints = QueryDef(
    "q_check_constraints",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_ck").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(8, col("user_id")), s"$root/events", Seq("user_id"))
      DataSkipping.addCheckConstraint(s, s"$root/events",
        "id_nonneg", "event_id >= 0") // validated: zero violations
      DataSkipping.addCheckConstraint(s, s"$root/events",
        "user_low", "user_id < 80", validate = false)
      DataSkipping.addCheckConstraint(s, s"$root/events",
        "value_mid", "value >= 10 AND value < 90", validate = false)
      DataSkipping.constraintViolations(s, s"$root/events")
        .orderBy("constraint")
    },
    Some("""SELECT * FROM (
              SELECT 'id_nonneg' AS "constraint", COUNT(*) AS violations
              FROM events WHERE NOT COALESCE(event_id >= 0, TRUE)
              UNION ALL
              SELECT 'user_low', COUNT(*) FROM events
              WHERE NOT COALESCE(user_id < 80, TRUE)
              UNION ALL
              SELECT 'value_mid', COUNT(*) FROM events
              WHERE NOT COALESCE(value >= 10 AND value < 90, TRUE))
            ORDER BY "constraint""""))

  // GENERATED COLUMNS (row 17u): event_day = to_date(ts) declared
  // generated; the append OMITS the column (the engine computes it),
  // and the read filters on it — derived-column pruning with zero
  // writer discipline (the Delta partition-pruning-via-generation-
  // expressions shape, served here by min/max file stats). Oracle
  // recomputes the day from raw ts — any drift between the stored
  // generated values and the expression mismatches the hash.
  // Generated-column PARTITION PRUNING, read side (r15; the Delta
  // generation-expression story's missing half — the write side
  // landed r14): a table partitioned by GENERATED `day = to_date(ts)`
  // queried by the RAW ts column. `ts` itself is deliberately
  // UNTRACKED, so only the derived `day ∈ [f(lo), f(hi)]` conjunct
  // can prune — the marker row pins that exactly the 3 in-range
  // day-partitions PLUS the upper boundary day survive (days=4: the
  // non-strict derived bound keeps day=2024-01-13, whose rows the
  // row predicate then removes — manifest + boundary partitions, the
  // clustered-range contract). The data rows prove the derivation
  // never changes results.
  val genPartitionPrune = QueryDef(
    "q_gen_partition_prune",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_gpp").toString
      val t = s"$root/events"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("day", to_date(col("ts")))
      DataSkipping.writeWithStats(ev.repartition(4), t, Seq("user_id"),
        bloomCols = Nil, partitionBy = Seq("day"))
      DataSkipping.addGeneratedColumn(s, t, "day", "to_date(ts)")
      val pred = col("ts") >= expr("timestamp'2024-01-10 00:00:00'") &&
        col("ts") < expr("timestamp'2024-01-13 00:00:00'")
      val (kept, files) = DataSkipping.prunedFiles(s, t, pred)
      val dayOf = "day=([0-9-]+)".r
      val keptDays = kept.flatMap(p => dayOf.findFirstMatchIn(p).map(_.group(1)))
        .distinct.sorted
      val inRange = keptDays.forall(dd =>
        dd >= "2024-01-10" && dd <= "2024-01-13")
      val marker = s"days=${keptDays.size},subset=${kept.size < files.size}," +
        s"inRange=$inRange"
      DataSkipping.readSkipping(s, t, pred)
        .select(col("event_id"), col("user_id"), col("value"),
          lit("data").as("info"))
        .unionAll(s.range(1).select(lit(-1L).as("event_id"),
          lit(-1L).as("user_id"), lit(0.0).as("value"),
          lit(marker).as("info")))
        .orderBy("event_id")
    },
    Some("""SELECT * FROM (
              SELECT event_id, user_id, value, 'data' AS info FROM events
              WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                AND ts <  TIMESTAMP '2024-01-13 00:00:00'
              UNION ALL
              SELECT -1, -1, 0.0, 'days=4,subset=true,inRange=true')
            ORDER BY event_id"""))

  val generatedColQ = QueryDef(
    "q_generated_col",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_genq").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      DataSkipping.writeWithStats(
        ev.filter(col("event_id") % 2 === 0)
          .withColumn("event_day", to_date(col("ts")))
          .repartitionByRange(8, col("ts")),
        s"$root/events", Seq("user_id", "event_day"))
      DataSkipping.addGeneratedColumn(s, s"$root/events", "event_day", "to_date(ts)")
      // the append never mentions event_day — generation fills it
      DataSkipping.appendWithStats(
        ev.filter(col("event_id") % 2 === 1).repartitionByRange(4, col("ts")),
        s"$root/events", Seq("user_id", "event_day"))
      DataSkipping.readSkipping(s, s"$root/events",
          col("event_day") >= lit(java.sql.Date.valueOf("2024-01-10")) &&
            col("event_day") < lit(java.sql.Date.valueOf("2024-01-20")))
        .groupBy(col("event_day"))
        .agg(count(lit(1)).as("n"),
          sum(dec12(col("value"))).cast("double").as("sum_value"))
        .orderBy("event_day")
    },
    Some("""SELECT CAST(ts AS DATE) AS event_day, COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
            FROM events
            WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
              AND CAST(ts AS DATE) < DATE '2024-01-20'
            GROUP BY 1 ORDER BY event_day"""))

  // IDENTITY COLUMNS (row 17v): row_id GENERATED ALWAYS AS IDENTITY
  // (start 1000 step 2). Bootstrap rows carry a deterministic id
  // (1000 + 2*event_id); two appends OMIT the column and the engine
  // deals dense grid ids past the bootstrap max — no window, no
  // global sort, per-partition offsets only. WHICH appended row gets
  // WHICH id is partitioning-dependent by design (Delta's contract
  // too), so the oracle checks the exact ID SETS per batch (dense
  // ranges the arithmetic pins) plus per-batch payload aggregates,
  // and the per-row binding only for the deterministic bootstrap.
  // Batch boundaries are recovered IN-PLAN from a 1-row broadcast of
  // source-derived bounds — never a driver value.
  val identityColQ = QueryDef(
    "q_identity_col",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_idq").toString
      val t = s"$root/events_id"
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
      DataSkipping.writeWithStats(
        ev.filter(col("event_id") % 4 === 0)
          .select((lit(1000L) + lit(2L) * col("event_id")).as("row_id"),
            col("event_id"), col("value"))
          .repartitionByRange(8, col("row_id")),
        t, Seq("row_id"))
      DataSkipping.addIdentityColumn(s, t, "row_id", start = 1000L, step = 2L)
      DataSkipping.appendWithStats(
        ev.filter(col("event_id") % 4 === 1).repartition(8), t, Seq("row_id"))
      DataSkipping.appendWithStats(
        ev.filter(col("event_id") % 4 === 2).repartition(3), t, Seq("row_id"))
      val bounds = ev.agg(
          (lit(1002L) + lit(2L) * max(when(col("event_id") % 4 === 0,
            col("event_id")))).as("next0"),
          count(when(col("event_id") % 4 === 1, lit(1))).as("n1"))
        .select(col("next0"), (col("next0") + lit(2L) * col("n1")).as("b2lo"))
      val tbl = DataSkipping.readSkipping(s, t,
          col("row_id").isNotNull || col("row_id").isNull)
        .crossJoin(broadcast(bounds))
        .withColumn("batch",
          when(col("row_id") < col("next0"), lit(0))
            .when(col("row_id") < col("b2lo"), lit(1)).otherwise(lit(2)))
        .withColumn("eid", when(col("batch") === 0, col("event_id")))
      // per-batch payload aggregates ride back on a 3-row broadcast
      // join — no window over the table, no per-batch row funnel
      val per = tbl.groupBy(col("batch")).agg(
        count(lit(1)).as("n"),
        sum(dec12(col("value"))).cast("double").as("sum_value"))
      tbl.join(broadcast(per), Seq("batch"))
        .select(col("row_id"), col("batch"), col("eid"),
          col("n"), col("sum_value"))
        .orderBy("row_id")
    },
    Some("""WITH bounds AS (
              SELECT 1002 + 2*MAX(CASE WHEN event_id % 4 = 0 THEN event_id END) AS next0
              FROM events),
            b0 AS (SELECT 1000 + 2*event_id AS row_id, 0 AS batch,
                     event_id AS eid, value
                   FROM events WHERE event_id % 4 = 0),
            b1 AS (SELECT (SELECT next0 FROM bounds)
                       + 2*(ROW_NUMBER() OVER (ORDER BY event_id) - 1) AS row_id,
                     1 AS batch, CAST(NULL AS BIGINT) AS eid, value
                   FROM events WHERE event_id % 4 = 1),
            b2 AS (SELECT (SELECT next0 FROM bounds)
                       + 2*(SELECT COUNT(*) FROM events WHERE event_id % 4 = 1)
                       + 2*(ROW_NUMBER() OVER (ORDER BY event_id) - 1) AS row_id,
                     2 AS batch, CAST(NULL AS BIGINT) AS eid, value
                   FROM events WHERE event_id % 4 = 2),
            u AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1
                  UNION ALL SELECT * FROM b2)
            SELECT row_id, batch, eid,
              COUNT(*) OVER (PARTITION BY batch) AS n,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY batch)
                AS DOUBLE) AS sum_value
            FROM u ORDER BY row_id"""))

  // SHALLOW CLONE: zero-copy clone of the events stats table, DML
  // applied to the CLONE only, then BOTH tables read back united
  // with a side label — the clone must show the delete while the
  // source shows none of it (and keeps serving the files the clone
  // references). Any cross-contamination mismatches.
  val cloneQ = QueryDef(
    "q_clone",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_clnq").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(8, col("user_id")), s"$root/src", Seq("user_id"))
      DataSkipping.cloneTable(s, s"$root/src", s"$root/cln")
      DataSkipping.deleteWhere(s, s"$root/cln",
        col("user_id") >= 30L && col("user_id") < 70L)
      DataSkipping.readSkipping(s, s"$root/cln", col("user_id") >= 0L)
        .withColumn("side", lit("clone"))
        .unionByName(
          DataSkipping.readSkipping(s, s"$root/src", col("user_id") >= 0L)
            .withColumn("side", lit("source")))
        .orderBy("side", "event_id")
    },
    Some("""SELECT event_id, user_id, value, 'clone' AS side FROM events
            WHERE NOT (user_id >= 30 AND user_id < 70)
            UNION ALL
            SELECT event_id, user_id, value, 'source' FROM events
            ORDER BY side, event_id"""))

  // METADATA-ONLY MIN/MAX (aggregate pushdown): all-match files
  // answer from manifest stats, vector-bearing files demote to a
  // scan — the gate DV-deletes the global minimum band, so believing
  // a stale stats row surfaces a dead extremum and mismatches.
  val minmaxMeta = QueryDef(
    "q_minmax_meta",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_mm").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("event_id")), s"$root/events", Seq("event_id"))
      DataSkipping.deleteWhereDV(s, s"$root/events", col("event_id") < 37L)
      def mm(label: String, pred: org.apache.spark.sql.Column) = {
        val (lo, hi) = DataSkipping.minMaxWhere(s, s"$root/events",
          "event_id", pred)
        (label, lo.map(_.asInstanceOf[Long]), hi.map(_.asInstanceOf[Long]))
      }
      import s.implicits._
      Seq(
        mm("all", lit(true)),
        mm("band", col("event_id") >= 2000L && col("event_id") < 3000L),
        mm("none", col("event_id") > 1000000L))
        .toDF("label", "lo", "hi").orderBy("label")
    },
    Some("""WITH live AS (
              SELECT * FROM events WHERE NOT (event_id < 37))
            SELECT * FROM (
              SELECT 'all' AS label, MIN(event_id) AS lo, MAX(event_id) AS hi
              FROM live
              UNION ALL
              SELECT 'band', MIN(event_id), MAX(event_id) FROM live
              WHERE event_id >= 2000 AND event_id < 3000
              UNION ALL
              SELECT 'none', MIN(event_id), MAX(event_id) FROM live
              WHERE event_id > 1000000)
            ORDER BY label"""))

  // Upsert MERGE: keys ending in 3 are updated in place (priority
  // flipped to a literal), keys ending in 7 re-enter shifted +10M as
  // inserts, then a FULL readback. The oracle is the
  // unmatched-target ∪ source union — a lost update, doubled insert,
  // or a stale matched row anywhere in the prune→semi-join→anti-
  // join→commit path mismatches. Non-vacuous on both MERGE arms at
  // every gated scale (orders keys cover all residues mod 10; the
  // +10M shift stays clear of the key domain ≤ sf1).
  val mergeUpsertQ = QueryDef(
    "q_merge_upsert",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_mrg").toString
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
      DataSkipping.writeWithStats(
        ord.repartitionByRange(8, col("o_orderkey")),
        s"$root/orders", Seq("o_orderkey"))
      val updates = ord.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderpriority", lit("MERGED"))
      val inserts = ord.filter(col("o_orderkey") % 10 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_orderpriority", lit("INSERTED"))
      DataSkipping.mergeUpsert(s, s"$root/orders",
        updates.unionByName(inserts), Seq("o_orderkey"))
      DataSkipping.readSkipping(s, s"$root/orders", col("o_orderkey") >= 0L)
        .orderBy("o_orderkey")
    },
    Some("""WITH src AS (
              SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                     'MERGED' AS o_orderpriority
              FROM orders WHERE o_orderkey % 10 = 3
              UNION ALL
              SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
                     o_orderstatus, o_totalprice, 'INSERTED' AS o_orderpriority
              FROM orders WHERE o_orderkey % 10 = 7)
            SELECT * FROM (
              SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                     o_orderpriority
              FROM orders WHERE o_orderkey % 10 <> 3
              UNION ALL
              SELECT * FROM src)
            ORDER BY o_orderkey"""))

  // MERGE SCHEMA EVOLUTION (row 17q note): the source adds a
  // `channel` column under mergeSchema = true — matched rows take
  // the source's value, inserts carry it, and every UNTOUCHED row
  // surfaces NULL straight from the parquet reader (old files are
  // never rewritten). Oracle builds the same three-way frame.
  val mergeEvolveQ = QueryDef(
    "q_merge_evolve",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_mev").toString
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      DataSkipping.writeWithStats(
        ord.repartitionByRange(8, col("o_orderkey")),
        s"$root/orders", Seq("o_orderkey"))
      val updates = ord.filter(col("o_orderkey") % 10 === 3)
        .withColumn("channel", lit("store"))
      val inserts = ord.filter(col("o_orderkey") % 10 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("channel", lit("online"))
      DataSkipping.mergeUpsert(s, s"$root/orders",
        updates.unionByName(inserts), Seq("o_orderkey"), mergeSchema = true)
      DataSkipping.readSkipping(s, s"$root/orders", col("o_orderkey") >= 0L)
        .orderBy("o_orderkey")
    },
    Some("""WITH src AS (
              SELECT o_orderkey, o_custkey, o_totalprice, 'store' AS channel
              FROM orders WHERE o_orderkey % 10 = 3
              UNION ALL
              SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
                     o_totalprice, 'online' AS channel
              FROM orders WHERE o_orderkey % 10 = 7)
            SELECT * FROM (
              SELECT o_orderkey, o_custkey, o_totalprice,
                     CAST(NULL AS VARCHAR) AS channel
              FROM orders WHERE o_orderkey % 10 <> 3
              UNION ALL
              SELECT * FROM src)
            ORDER BY o_orderkey"""))

  // CHANGE DATA FEED across all three DML ops: v1 DELETE (band A),
  // v2 UPDATE (band B, pre+post images), v3 MERGE keyed on event_id
  // (matched rows pre+post, keys deleted in v1 re-enter as inserts).
  // The oracle replays the WHOLE feed: v3's preimages must show v2's
  // updated values and must exclude v1's deleted rows — the arms are
  // order-sensitive, so a feed row recorded from the wrong snapshot
  // mismatches. All bands are inside the data domain at every gated
  // scale (sf0.01 user_id < 150; event_id % 50 = 3 intersects both
  // the deleted band and its complement). Retention/vacuum coupling
  // and failure modes are DataSkippingSpec's job.
  val cdfChanges = QueryDef(
    "q_cdf_changes",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_cdf").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("user_id")), s"$root/events",
        statsCols = Seq("user_id"), bloomCols = Nil, changeFeed = true)
      DataSkipping.deleteWhere(s, s"$root/events",
        col("user_id") >= 40L && col("user_id") < 60L)
      DataSkipping.updateWhere(s, s"$root/events",
        col("user_id") >= 100L && col("user_id") < 120L,
        Map("event_type" -> lit("redacted"), "value" -> (col("value") * -1)))
      DataSkipping.mergeUpsert(s, s"$root/events",
        ev.filter(col("event_id") % 50 === 3)
          .withColumn("event_type", lit("merged"))
          .withColumn("value", col("value") * 2),
        Seq("event_id"))
      DataSkipping.readChangeFeed(s, s"$root/events", 0L)
        .orderBy("_commit_version", "_change_type", "event_id")
    },
    Some("""WITH base AS (
              SELECT event_id, user_id, event_type, value FROM events),
            upd AS (
              SELECT event_id, user_id,
                CASE WHEN user_id >= 100 AND user_id < 120
                     THEN 'redacted' ELSE event_type END AS event_type,
                CASE WHEN user_id >= 100 AND user_id < 120
                     THEN value * -1 ELSE value END AS value
              FROM base WHERE NOT (user_id >= 40 AND user_id < 60)),
            src AS (
              SELECT event_id, user_id, 'merged' AS event_type,
                     value * 2 AS value
              FROM base WHERE event_id % 50 = 3)
            SELECT * FROM (
              SELECT event_id, user_id, event_type, value,
                     'delete' AS _change_type,
                     CAST(1 AS BIGINT) AS _commit_version
              FROM base WHERE user_id >= 40 AND user_id < 60
              UNION ALL
              SELECT event_id, user_id, event_type, value,
                     'update_preimage', CAST(2 AS BIGINT)
              FROM base WHERE user_id >= 100 AND user_id < 120
              UNION ALL
              SELECT event_id, user_id, 'redacted', value * -1,
                     'update_postimage', CAST(2 AS BIGINT)
              FROM base WHERE user_id >= 100 AND user_id < 120
              UNION ALL
              SELECT event_id, user_id, event_type, value,
                     'update_preimage', CAST(3 AS BIGINT)
              FROM upd WHERE event_id % 50 = 3
              UNION ALL
              SELECT s.event_id, s.user_id, s.event_type, s.value,
                     'update_postimage', CAST(3 AS BIGINT)
              FROM src s WHERE s.event_id IN (SELECT event_id FROM upd)
              UNION ALL
              SELECT s.event_id, s.user_id, s.event_type, s.value,
                     'insert', CAST(3 AS BIGINT)
              FROM src s WHERE s.event_id NOT IN (SELECT event_id FROM upd)
            ) ORDER BY _commit_version, _change_type, event_id"""))

  // RESTORE VERSION AS OF: two destructive DML generations, then a
  // restore back to v0 and a FULL readback. The oracle is the plain
  // unmodified source table — any DML state leaking through the
  // restore (a stale rewritten file claimed, an original file lost)
  // is a row/hash mismatch against ~13% deleted and ~13% rewritten
  // rows. History/CDF-diff/vacuum-failure mechanics are
  // DataSkippingSpec's job.
  val restoreQ = QueryDef(
    "q_restore",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_rst").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("user_id")), s"$root/events", Seq("user_id"))
      DataSkipping.deleteWhere(s, s"$root/events",
        col("user_id") >= 40L && col("user_id") < 60L)
      DataSkipping.updateWhere(s, s"$root/events",
        col("user_id") >= 100L && col("user_id") < 120L,
        Map("event_type" -> lit("redacted")))
      DataSkipping.restoreTable(s, s"$root/events", 0L)
      DataSkipping.readSkipping(s, s"$root/events", col("user_id") >= 0L)
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value
            FROM events ORDER BY event_id"""))

  // SQL maintenance surface (row 17p): the full OPTIMIZE → DML →
  // RESTORE → VACUUM → DESCRIBE HISTORY/DETAIL loop driven through
  // GraftSql's statement grammar (the Delta SQL-command analog; the
  // same parser GraftExtensions injects into spark.sql). The result
  // unions (a) the post-restore pruned readback — a failed RESTORE
  // leaves the DELETE's hole, a failed OPTIMIZE changes nothing
  // logically but its history row vanishes — with (b) the exact
  // operation sequence from DESCRIBE HISTORY and (c) the constraint
  // count from DESCRIBE DETAIL after an ALTER TABLE ADD CONSTRAINT.
  // All three parts are deterministic, so the oracle pins them as
  // literals + plain SQL.
  val sqlMaintenance = QueryDef(
    "q_sql_maintenance",
    (s, d) => {
      import graft.sources.{DataSkipping, GraftSql}
      val root = java.nio.file.Files.createTempDirectory("graft_sqlm").toString
      val t = s"$root/events"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.filter(col("event_id") % 3 =!= 0).repartitionByRange(12, col("user_id")),
        t, Seq("user_id"))
      DataSkipping.appendWithStats(
        ev.filter(col("event_id") % 3 === 0).repartitionByRange(4, col("user_id")),
        t, Seq("user_id"))
      GraftSql.sql(s, s"OPTIMIZE '$t'")                              // v1
      DataSkipping.deleteWhere(s, t,
        col("user_id") >= 60L && col("user_id") < 80L)               // v2
      GraftSql.sql(s, s"RESTORE '$t' TO VERSION AS OF 1")            // v3
      DataSkipping.deleteWhereDV(s, t, col("user_id") % 10 === 7L)  // v4 (vector)
      GraftSql.sql(s, s"REORG TABLE '$t' APPLY (PURGE)")              // v5
      GraftSql.sql(s, s"VACUUM '$t' RETAIN 168 HOURS")
      GraftSql.sql(s, s"ALTER TABLE '$t' ADD CONSTRAINT uid_ok CHECK (user_id >= 0)")
      val data = DataSkipping.readSkipping(s, t,
          col("user_id") >= 40L && col("user_id") < 120L)
        .select(col("event_id"), lit("data").as("info"))
      val ops = GraftSql.sql(s, s"DESCRIBE HISTORY '$t'")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("version"), col("operation")))),
            x => x.getField("operation")), ",").as("info"))
        .select(lit(-1L).as("event_id"), col("info"))
      val detail = GraftSql.sql(s, s"DESCRIBE DETAIL '$t'")
        .select(lit(-2L).as("event_id"),
          concat(lit("constraints="), col("num_constraints")).as("info"))
      data.unionAll(ops).unionAll(detail).orderBy("event_id")
    },
    Some("""SELECT event_id, 'data' AS info FROM events
            WHERE user_id >= 40 AND user_id < 120 AND user_id % 10 <> 7
            UNION ALL SELECT -1, 'WRITE,OPTIMIZE,DELETE,RESTORE(v1),DELETE,REORG'
            UNION ALL SELECT -2, 'constraints=1'
            ORDER BY event_id"""))

  // SQL DML statements (row 17p extension): the reference's gold
  // notebook is PURE SQL — this gate drives the whole row-level DML
  // program through `GraftSql.sql` strings alone (DELETE FROM /
  // UPDATE ... SET / full conditional MERGE INTO with a subquery
  // source), then reads the table back with the op history folded
  // in. The oracle replays the identical program as plain SQL: a
  // mis-parsed clause, a dropped WHERE, an alias mis-rewrite, or a
  // wrong clause precedence all hash-mismatch.
  // Catalog-name addressing (the r14 verdict's #1 gap): the
  // reference's SQL notebook speaks table NAMES, never paths — this
  // gate drives a full name-addressed program: CREATE TABLE ... USING
  // graft LOCATION registers the table, INSERT INTO routes through
  // the V1 InsertableRelation, DELETE/UPDATE/MERGE (bare-name USING
  // source) + OPTIMIZE resolve the name through the session catalog
  // in the GraftSql grammar, and the readback is a plain
  // `SELECT ... FROM <name>` through the catalog relation. The DML
  // program and oracle mirror q_sql_dml exactly, so any divergence is
  // the name-resolution layer, not DML semantics.
  val catalogQ = QueryDef(
    "q_catalog",
    (s, d) => {
      import graft.sources.{DataSkipping, GraftSql}
      val root = java.nio.file.Files.createTempDirectory("graft_cata").toString
      val t = s"$root/events"
      val n = "cat_events_" +
        java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      // seed the table with the EVEN event_ids; the odd half arrives
      // BY NAME through INSERT INTO — a dropped or double-applied
      // insert hash-mismatches the readback
      DataSkipping.writeWithStats(
        ev.filter(col("event_id") % 2 === 0)
          .repartitionByRange(12, col("user_id")), t, Seq("user_id", "event_id"))
      s.sql(s"CREATE TABLE $n USING graft LOCATION '$t'")
      ev.filter(col("event_id") % 2 === 1).createOrReplaceTempView("cat_ins_src")
      s.sql(s"INSERT INTO $n SELECT event_id, user_id, event_type, value " +
        "FROM cat_ins_src")
      GraftSql.sql(s,
        s"DELETE FROM $n WHERE user_id >= 40 AND user_id < 60")             // v1
      GraftSql.sql(s,
        s"UPDATE $n SET value = value * -1, event_type = 'redacted' " +
          "WHERE user_id >= 100 AND user_id < 120")                         // v2
      ev.createOrReplaceTempView("cat_mrg_events")
      s.sql(
        """SELECT event_id, user_id, 'merged' AS event_type,
                  value * 2 AS value
           FROM cat_mrg_events WHERE event_id % 50 = 3
           UNION ALL
           SELECT event_id + 5000000, user_id, 'ins', value + 0.5
           FROM cat_mrg_events WHERE event_id % 50 = 3 AND user_id < 50""")
        .createOrReplaceTempView("cat_mrg_src")
      GraftSql.sql(s,
        s"""MERGE INTO $n AS tgt USING cat_mrg_src AS src
            ON tgt.event_id = src.event_id
            WHEN MATCHED AND src.user_id % 7 = 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET value = src.value,
                                         event_type = src.event_type
            WHEN NOT MATCHED AND src.user_id < 25 THEN INSERT *""")         // v3
      GraftSql.sql(s, s"OPTIMIZE $n")                                       // v4
      val data = s.sql(
        s"SELECT event_id, user_id, event_type, value FROM $n")
      val ops = GraftSql.sql(s, s"DESCRIBE HISTORY $n")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("version"), col("operation")))),
            x => x.getField("operation")), ",").as("event_type"))
        .select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
          col("event_type"), lit(0.0).as("value"))
      data.unionByName(ops).orderBy("event_id")
    },
    Some("""WITH after_del AS (
              SELECT event_id, user_id, event_type, value FROM events
              WHERE NOT (user_id >= 40 AND user_id < 60)),
            after_upd AS (
              SELECT event_id, user_id,
                CASE WHEN user_id >= 100 AND user_id < 120
                     THEN 'redacted' ELSE event_type END AS event_type,
                CASE WHEN user_id >= 100 AND user_id < 120
                     THEN value * -1 ELSE value END AS value
              FROM after_del),
            src AS (
              SELECT event_id, user_id, 'merged' AS event_type,
                     value * 2 AS value
              FROM events WHERE event_id % 50 = 3
              UNION ALL
              SELECT event_id + 5000000, user_id, 'ins', value + 0.5
              FROM events WHERE event_id % 50 = 3 AND user_id < 50),
            merged AS (
              SELECT t.event_id, t.user_id,
                CASE WHEN s.event_id IS NOT NULL THEN s.event_type
                     ELSE t.event_type END AS event_type,
                CASE WHEN s.event_id IS NOT NULL THEN s.value
                     ELSE t.value END AS value
              FROM after_upd t LEFT JOIN src s
                ON s.event_id = t.event_id AND s.user_id % 7 <> 0
              WHERE NOT EXISTS (SELECT 1 FROM src x
                WHERE x.event_id = t.event_id AND x.user_id % 7 = 0)
              UNION ALL
              SELECT s.event_id, s.user_id, s.event_type, s.value
              FROM src s
              WHERE s.user_id < 25 AND NOT EXISTS (SELECT 1 FROM after_upd t
                WHERE t.event_id = s.event_id))
            SELECT * FROM (
              SELECT event_id, user_id, event_type, value FROM merged
              UNION ALL
              SELECT -1, -1, 'WRITE,DELETE,UPDATE,MERGE,OPTIMIZE', 0.0)
            ORDER BY event_id"""))

  val sqlDml = QueryDef(
    "q_sql_dml",
    (s, d) => {
      import graft.sources.{DataSkipping, GraftSql}
      val root = java.nio.file.Files.createTempDirectory("graft_sqldml").toString
      val t = s"$root/events"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(12, col("user_id")), t, Seq("user_id", "event_id"))
      GraftSql.sql(s,
        s"DELETE FROM '$t' WHERE user_id >= 40 AND user_id < 60")            // v1
      GraftSql.sql(s,
        s"UPDATE '$t' SET value = value * -1, event_type = 'redacted' " +
          "WHERE user_id >= 100 AND user_id < 120")                          // v2
      ev.createOrReplaceTempView("sql_dml_events")
      GraftSql.sql(s,
        s"""MERGE INTO '$t' AS tgt USING (
              SELECT event_id, user_id, 'merged' AS event_type,
                     value * 2 AS value
              FROM sql_dml_events WHERE event_id % 50 = 3
              UNION ALL
              SELECT event_id + 5000000, user_id, 'ins', value + 0.5
              FROM sql_dml_events WHERE event_id % 50 = 3 AND user_id < 50
            ) AS src
            ON tgt.event_id = src.event_id
            WHEN MATCHED AND src.user_id % 7 = 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET value = src.value,
                                         event_type = src.event_type
            WHEN NOT MATCHED AND src.user_id < 25 THEN INSERT *""")          // v3
      val data = DataSkipping.readSkipping(s, t, lit(true))
      val ops = GraftSql.sql(s, s"DESCRIBE HISTORY '$t'")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("version"), col("operation")))),
            x => x.getField("operation")), ",").as("event_type"))
        .select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
          col("event_type"), lit(0.0).as("value"))
      data.unionByName(ops).orderBy("event_id")
    },
    Some("""WITH after_del AS (
              SELECT event_id, user_id, event_type, value FROM events
              WHERE NOT (user_id >= 40 AND user_id < 60)),
            after_upd AS (
              SELECT event_id, user_id,
                CASE WHEN user_id >= 100 AND user_id < 120
                     THEN 'redacted' ELSE event_type END AS event_type,
                CASE WHEN user_id >= 100 AND user_id < 120
                     THEN value * -1 ELSE value END AS value
              FROM after_del),
            src AS (
              SELECT event_id, user_id, 'merged' AS event_type,
                     value * 2 AS value
              FROM events WHERE event_id % 50 = 3
              UNION ALL
              SELECT event_id + 5000000, user_id, 'ins', value + 0.5
              FROM events WHERE event_id % 50 = 3 AND user_id < 50),
            merged AS (
              SELECT t.event_id, t.user_id,
                CASE WHEN s.event_id IS NOT NULL THEN s.event_type
                     ELSE t.event_type END AS event_type,
                CASE WHEN s.event_id IS NOT NULL THEN s.value
                     ELSE t.value END AS value
              FROM after_upd t LEFT JOIN src s
                ON s.event_id = t.event_id AND s.user_id % 7 <> 0
              WHERE NOT EXISTS (SELECT 1 FROM src x
                WHERE x.event_id = t.event_id AND x.user_id % 7 = 0)
              UNION ALL
              SELECT s.event_id, s.user_id, s.event_type, s.value
              FROM src s
              WHERE s.user_id < 25 AND NOT EXISTS (SELECT 1 FROM after_upd t
                WHERE t.event_id = s.event_id))
            SELECT * FROM (
              SELECT event_id, user_id, event_type, value FROM merged
              UNION ALL
              SELECT -1, -1, 'WRITE,DELETE,UPDATE,MERGE', 0.0)
            ORDER BY event_id"""))

  // Full conditional MERGE (row 17t): every clause family in one
  // statement — WHEN MATCHED AND s.value<0 DELETE, WHEN MATCHED
  // UPDATE (value from source, event_type tagged), WHEN NOT MATCHED
  // AND s.user_id<25 INSERT, WHEN NOT MATCHED BY SOURCE AND band
  // UPDATE — then a FULL readback. The oracle reconstructs the exact
  // row routing as one LEFT-JOIN CASE chain + the conditional insert
  // union: a wrong clause precedence, a leaked delete, an exempted
  // by-source row touched, or a dropped carry all hash-mismatch.
  val mergeIntoQ = QueryDef(
    "q_merge_into",
    (s, d) => {
      import graft.sources.{DataSkipping, MergeClause}
      val root = java.nio.file.Files.createTempDirectory("graft_mrgi").toString
      val t = s"$root/events"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(12, col("user_id")), t, Seq("user_id", "event_id"))
      val base = ev.filter(col("user_id") < 50L && col("event_id") % 11 === 0)
      val src = base.select(col("event_id"), col("user_id"),
          lit("src").as("event_type"),
          when(col("event_id") % 3 === 0, lit(-1.0))
            .otherwise(col("value") * 2).as("value"))
        .unionAll(base.select((col("event_id") + 5000000L).as("event_id"),
          col("user_id"), lit("ins").as("event_type"),
          (col("value") + 0.5).as("value")))
      DataSkipping.mergeInto(s, t, src, Seq("event_id"), Seq(
        MergeClause.MatchedDelete(Some(col("s.value") < 0)),
        MergeClause.MatchedUpdate(None, Map(
          "value" -> col("s.value"),
          "event_type" -> concat(col("t.event_type"), lit("+m")))),
        MergeClause.NotMatchedInsert(Some(col("s.user_id") < 25L)),
        MergeClause.BySourceUpdate(
          Some(col("t.user_id") >= 120L && col("t.user_id") < 130L),
          Map("event_type" -> lit("aged")))))
      DataSkipping.readSkipping(s, t, lit(true)).orderBy("event_id")
    },
    Some("""WITH base AS (
              SELECT event_id, user_id, value FROM events
              WHERE user_id < 50 AND event_id % 11 = 0
            ), src AS (
              SELECT event_id, user_id, 'src' AS event_type,
                CASE WHEN event_id % 3 = 0 THEN -1.0 ELSE value * 2 END AS value
              FROM base
              UNION ALL
              SELECT event_id + 5000000, user_id, 'ins', value + 0.5 FROM base
            )
            SELECT t.event_id, t.user_id,
              CASE WHEN s.event_id IS NOT NULL THEN t.event_type || '+m'
                   WHEN t.user_id >= 120 AND t.user_id < 130 THEN 'aged'
                   ELSE t.event_type END AS event_type,
              CASE WHEN s.event_id IS NOT NULL THEN s.value
                   ELSE t.value END AS value
            FROM events t LEFT JOIN src s
              ON s.event_id = t.event_id AND s.value >= 0
            WHERE NOT EXISTS (SELECT 1 FROM src x
              WHERE x.event_id = t.event_id AND x.value < 0)
            UNION ALL
            SELECT event_id, user_id, event_type, value FROM src
            WHERE event_id > 4000000 AND user_id < 25
            ORDER BY event_id"""))

  // CONVERT TO GRAFT (row 17s): an existing plain parquet dataset
  // becomes a stats table in place — zero data bytes rewritten — and
  // is immediately a first-class table: the gate converts, runs a
  // copy-on-write DELETE, reads back pruned, and folds in the exact
  // DESCRIBE HISTORY op sequence (CONVERT then DELETE). The oracle is
  // plain SQL over the same rows plus the pinned history literal.
  val convertQ = QueryDef(
    "q_convert",
    (s, d) => {
      import graft.sources.{DataSkipping, GraftSql}
      val root = java.nio.file.Files.createTempDirectory("graft_cvt").toString
      val t = s"$root/events"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      // a PLAIN parquet dataset — no manifest, no sidecars
      ev.repartitionByRange(10, col("user_id")).write.parquet(t)
      GraftSql.sql(s, s"CONVERT TO GRAFT '$t' STATS BY (user_id)")       // v0
      DataSkipping.deleteWhere(s, t, col("user_id") >= 30L && col("user_id") < 50L) // v1
      val data = DataSkipping.readSkipping(s, t, col("user_id") < 100L)
        .select(col("event_id"), lit("data").as("info"))
      val ops = GraftSql.sql(s, s"DESCRIBE HISTORY '$t'")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("version"), col("operation")))),
            x => x.getField("operation")), ",").as("info"))
        .select(lit(-1L).as("event_id"), col("info"))
      data.unionAll(ops).orderBy("event_id")
    },
    Some("""SELECT event_id, 'data' AS info FROM events
            WHERE user_id < 100 AND NOT (user_id >= 30 AND user_id < 50)
            UNION ALL SELECT -1, 'CONVERT,DELETE'
            ORDER BY event_id"""))

  // CONVERT TO GRAFT of a Hive-partitioned layout (row 17s,
  // partitioned form): the dataset's data files live under two levels
  // of `col=value` directories and do NOT contain the partition
  // columns — conversion derives per-file min=max stats from the
  // directory keys (zero bytes rewritten), reads serve the values
  // through the relation's partition schema, and a partition
  // predicate prunes at FILE granularity straight from the manifest
  // (no directory listing at plan time). The gate converts via SQL,
  // reads back under a mixed partition+data predicate, folds in a
  // metadata-only COUNT on partition columns, the exact prune
  // fraction (deterministic: one file per partition dir), and the
  // history op. The oracle replays the rows as plain SQL over the
  // source table plus the pinned literals.
  val convertPartitionedQ = QueryDef(
    "q_convert_partitioned",
    (s, d) => {
      import graft.sources.{DataSkipping, GraftSql}
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_cvp").toString
      val t = s"$root/events"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          (col("user_id") % 8).cast("int").as("shard"))
      // one file per (event_type, shard) dir — 5 x 8 = 40 data files
      ev.repartition(1).write.partitionBy("event_type", "shard").parquet(t)
      GraftSql.sql(s, s"CONVERT TO GRAFT '$t' STATS BY (user_id) " +
        "PARTITIONED BY (event_type, shard)")
      val data = DataSkipping.readSkipping(s, t,
          col("event_type") === "click" && col("shard") < 3 &&
            col("user_id") < 200L)
        .select(col("event_id"), col("user_id").as("n"), lit("data").as("info"))
      val meta = Seq((-1L,
        DataSkipping.countWhere(s, t,
          col("event_type") === "error" && col("shard") === 2),
        "meta_count")).toDF("event_id", "n", "info")
      val (kept, all) = DataSkipping.prunedFiles(s, t,
        col("event_type") === "purchase")
      val prune = Seq((-2L, kept.count(_.contains("event_type=purchase")).toLong,
        if (kept.size < all.size && all.size == 40) "pruned" else "UNPRUNED"))
        .toDF("event_id", "n", "info")
      // APPEND + DML legs (r12 verdict: CONVERT output must be
      // mutable): a batch routed INTO the partition layout, then a
      // copy-on-write DELETE of one appended shard and an UPDATE in
      // another — partition values come back from directories across
      // converted, appended and REWRITTEN files, and the
      // partition+data predicate prunes them all alike. Appended
      // user_ids sit at 1_000_000+ — outside every scale's event
      // domain, so the legs stay disjoint from original rows. (The
      // eager prune/meta legs above ran pre-append; the lazy `data`
      // leg excludes these user_ids.)
      val extra = (0 until 20)
        .map(i => (10000000L + i, 1000000L + i, "click", i % 8))
        .toDF("event_id", "user_id", "event_type", "shard")
        .repartition(1)
      graft.sources.DataSkipping.appendWithStats(extra, t, Seq("user_id"))
      DataSkipping.deleteWhere(s, t,
        col("shard") === 0 && col("user_id") >= 1000000L, vacuum = false)
      DataSkipping.updateWhere(s, t,
        col("shard") === 1 && col("user_id") >= 1000000L,
        Map("user_id" -> (col("user_id") + 100000L)), vacuum = false)
      val appended = DataSkipping.readSkipping(s, t,
          col("event_type") === "click" && col("shard") < 3 &&
            col("user_id") >= 1000000L)
        .select(col("event_id"), col("user_id").as("n"),
          lit("appended").as("info"))
      // history fold AFTER the DML legs: pins the exact op sequence
      // (appends create no generation, so exactly CONVERT,DELETE,UPDATE)
      val ops = GraftSql.sql(s, s"DESCRIBE HISTORY '$t'")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("version"), col("operation")))),
            x => x.getField("operation")), ",").as("info"))
        .select(lit(-3L).as("event_id"), lit(0L).as("n"), col("info"))
      data.unionAll(meta).unionAll(prune).unionAll(ops).unionAll(appended)
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id AS n, 'data' AS info FROM events
            WHERE event_type = 'click' AND user_id % 8 < 3 AND user_id < 200
            UNION ALL
            SELECT -1, (SELECT count(*) FROM events
                        WHERE event_type = 'error' AND user_id % 8 = 2),
                   'meta_count'
            UNION ALL SELECT -2, 8, 'pruned'
            UNION ALL SELECT -3, 0, 'CONVERT,DELETE,UPDATE'
            UNION ALL
            SELECT 10000000 + i,
                   1000000 + i + CASE WHEN i % 8 = 1 THEN 100000 ELSE 0 END,
                   'appended'
            FROM generate_series(0, 19) t(i)
            WHERE i % 8 < 3 AND i % 8 <> 0
            ORDER BY event_id"""))

  // NATIVE partitioned write (row 17s note, r13): writeWithStats with
  // partitionBy creates the hive-partitioned graft table directly —
  // same layout CONVERT produces, so the whole partitioned capability
  // set applies from the first write. The gate writes events
  // partitioned by event_type, runs a mixed-predicate partitioned CoW
  // DELETE, and reads back under a partition IN + data predicate —
  // wrong directory routing, lost partition values, or a mis-pruned
  // file all mismatch the plain-SQL oracle.
  val writePartitioned = QueryDef(
    "q_write_partitioned",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_npwq").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(ev.repartition(4), s"$root/ev",
        Seq("user_id"), bloomCols = Nil, partitionBy = Seq("event_type"))
      DataSkipping.deleteWhere(s, s"$root/ev",
        col("event_type") === "error" && col("user_id") < 50L, vacuum = false)
      DataSkipping.readSkipping(s, s"$root/ev",
          col("event_type").isin("click", "error") && col("user_id") < 100L)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value FROM events
            WHERE event_type IN ('click', 'error') AND user_id < 100
              AND NOT (event_type = 'error' AND user_id < 50)
            ORDER BY event_id"""))

  // Partitioned metadata DDL (rows 17q+17s, r14): RENAME of data AND
  // partition columns on a PARTITIONED table is metadata-only —
  // partition directories key on the never-changing physical name,
  // so only the logical→physical sidecar moves. The gate writes
  // events partitioned by event_type, renames a data column AND the
  // partition column (one via SQL), runs a logical-name partitioned
  // CoW DELETE, appends under the NEW logical names (rows must route
  // into their col=value dirs), drops a data column, and reads back
  // under a partition predicate in the renamed name. A stale
  // directory key, a lost partition value, a mis-routed append or a
  // resurrected dropped column all mismatch the plain-SQL oracle.
  val ddlPartitioned = QueryDef(
    "q_ddl_partitioned",
    (s, d) => {
      import graft.sources.{DataSkipping, GraftSql}
      val root = java.nio.file.Files.createTempDirectory("graft_pddl").toString
      val t = s"$root/ev"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(ev.repartition(4), t,
        Seq("user_id"), bloomCols = Nil, partitionBy = Seq("event_type"))
      DataSkipping.renameColumn(s, t, "user_id", "uid")
      GraftSql.sql(s, s"ALTER TABLE '$t' RENAME COLUMN event_type TO etype")
      DataSkipping.deleteWhere(s, t,
        col("etype") === "error" && col("uid") < 50L, vacuum = false)
      val extra = Tables.events(s, d)
        .filter(col("user_id") < 10L && col("event_id") % 7 === 0)
        .select((col("event_id") + 1000000L).as("event_id"),
          col("user_id").as("uid"), col("event_type").as("etype"),
          (col("value") * 2.0).as("value"))
      DataSkipping.appendWithStats(extra, t, Seq("uid"))
      DataSkipping.dropColumn(s, t, "value")
      // mergeSchema RE-ADD of the dropped name on the PARTITIONED
      // table (r14): binds to a fresh physical column — old rows must
      // read NULL (a resurrected dropped value mismatches the oracle)
      val extra2 = Tables.events(s, d)
        .filter(col("user_id") < 10L && col("event_id") % 11 === 0)
        .select((col("event_id") + 2000000L).as("event_id"),
          col("user_id").as("uid"), col("event_type").as("etype"),
          (col("value") * 3.0).as("value"))
      DataSkipping.appendWithStats(extra2, t, Seq("uid", "value"),
        mergeSchema = true)
      DataSkipping.readSkipping(s, t,
          col("etype").isin("click", "error") && col("uid") < 100L)
        .orderBy("event_id")
    },
    Some("""WITH base AS (
              SELECT event_id, user_id AS uid, event_type AS etype,
                CAST(NULL AS DOUBLE) AS value
              FROM events
              WHERE NOT (event_type = 'error' AND user_id < 50)
            ), added AS (
              SELECT event_id + 1000000 AS event_id, user_id AS uid,
                event_type AS etype, CAST(NULL AS DOUBLE) AS value
              FROM events WHERE user_id < 10 AND event_id % 7 = 0
            ), readded AS (
              SELECT event_id + 2000000 AS event_id, user_id AS uid,
                event_type AS etype, value * 3.0 AS value
              FROM events WHERE user_id < 10 AND event_id % 11 = 0
            )
            SELECT * FROM (SELECT * FROM base UNION ALL
                           SELECT * FROM added UNION ALL
                           SELECT * FROM readded)
            WHERE etype IN ('click', 'error') AND uid < 100
            ORDER BY event_id"""))

  // Column mapping (row 17q): RENAME + DROP COLUMN are metadata-only
  // (zero data rewritten), every batch entry point speaks logical
  // names, and a dropped-then-re-added name binds to a FRESH physical
  // column so old values can never resurrect. The gate drives the
  // full loop — rename x2 (one via SQL), logical-name DML, drop,
  // mergeSchema RE-ADD OF THE DROPPED NAME (binds to a fresh physical
  // column, value__p1) — then reads back through a logical predicate.
  // The oracle replays it as plain SQL with aliases: the re-added
  // 'value' column must be NULL for every pre-re-add row (a
  // resurrected dropped value would mismatch), the DELETE band must
  // be gone, and the renamed columns must carry their exact values
  // under the new names.
  val columnMapping = QueryDef(
    "q_column_mapping",
    (s, d) => {
      import graft.sources.{DataSkipping, GraftSql}
      val root = java.nio.file.Files.createTempDirectory("graft_cmq").toString
      val t = s"$root/events"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(12, col("user_id")), t, Seq("user_id"))
      DataSkipping.renameColumn(s, t, "user_id", "uid")
      GraftSql.sql(s, s"ALTER TABLE '$t' RENAME COLUMN event_type TO etype")
      DataSkipping.deleteWhere(s, t, col("uid") >= 60L && col("uid") < 80L)
      DataSkipping.dropColumn(s, t, "value")
      val extra = Tables.events(s, d)
        .filter(col("user_id") < 10L && col("event_id") % 7 === 0)
        .select((col("event_id") + 1000000L).as("event_id"), col("user_id").as("uid"),
          col("event_type").as("etype"), (col("value") * 2.0).as("value"))
      DataSkipping.appendWithStats(extra, t, Seq("uid", "value"), mergeSchema = true)
      DataSkipping.readSkipping(s, t, col("uid") < 100L)
        .orderBy("event_id")
    },
    Some("""WITH base AS (
              SELECT event_id, user_id AS uid, event_type AS etype,
                CAST(NULL AS DOUBLE) AS value
              FROM events
              WHERE user_id < 60 OR user_id >= 80
            ), added AS (
              SELECT event_id + 1000000 AS event_id, user_id AS uid,
                event_type AS etype, value * 2.0 AS value
              FROM events WHERE user_id < 10 AND event_id % 7 = 0
            )
            SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM added)
            WHERE uid < 100 ORDER BY event_id"""))

  // Incrementally-maintained materialized aggregate: bootstrap the
  // sum/count-by-event_type view at v0, run all three DML ops on the
  // base (the UPDATE migrates rows into a NEW group 'redacted', the
  // MERGE into 'merged'), then refresh the view purely from the
  // change feed. The oracle RECOMPUTES the aggregate from the
  // replayed final state — the incremental fold must be bit-identical
  // (decimal arithmetic), so a wrong sign, a double-applied version,
  // or a missed group migration mismatches. Zero-count group removal
  // and exactly-once replay are IncrementalViewSpec's job.
  val incrementalAgg = QueryDef(
    "q_incremental_agg",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_ivw").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("user_id")), s"$root/events",
        statsCols = Seq("user_id"), bloomCols = Nil, changeFeed = true)
      def refresh() = graft.streaming.IncrementalView.maintainSumCount(
        s, s"$root/events", s"$root/view", "event_type", "value",
        s"$root/ckpt")
      refresh() // bootstrap at v0, feed pinned after it
      DataSkipping.deleteWhere(s, s"$root/events",
        col("user_id") >= 40L && col("user_id") < 60L)
      DataSkipping.updateWhere(s, s"$root/events",
        col("user_id") >= 100L && col("user_id") < 120L,
        Map("event_type" -> lit("redacted"), "value" -> (col("value") * -1)))
      DataSkipping.mergeUpsert(s, s"$root/events",
        ev.filter(col("event_id") % 50 === 3)
          .withColumn("event_type", lit("merged"))
          .withColumn("value", col("value") * 2),
        Seq("event_id"))
      // the fold is exact decimal internally; the GATE OUTPUT casts
      // to double because raw DECIMAL columns render differently
      // across the compare's two read paths (pyarrow keeps the
      // ".000000" scale padding, DuckDB's pandas conversion drops it
      // as float64) — a representation mismatch, not a value one. At
      // these magnitudes (~1e6, 6 dp ≈ 13 sig digits < double's
      // 15.95) the cast is injective: any 1e-6 fold error still
      // shifts the double, so discrimination is unchanged.
      refresh()
        .select(col("event_type"),
          col("sum_value").cast("double").as("sum_value"), col("cnt"))
        .orderBy("event_type")
    },
    Some("""WITH base AS (
              SELECT event_id, user_id, event_type, value FROM events),
            upd AS (
              SELECT event_id, user_id,
                CASE WHEN user_id >= 100 AND user_id < 120
                     THEN 'redacted' ELSE event_type END AS event_type,
                CASE WHEN user_id >= 100 AND user_id < 120
                     THEN value * -1 ELSE value END AS value
              FROM base WHERE NOT (user_id >= 40 AND user_id < 60)),
            src AS (
              SELECT event_id, user_id, 'merged' AS event_type,
                     value * 2 AS value
              FROM base WHERE event_id % 50 = 3),
            final AS (
              SELECT event_type, value FROM upd WHERE event_id % 50 <> 3
              UNION ALL
              SELECT event_type, value FROM src)
            SELECT event_type,
                   CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     AS sum_value,
                   COUNT(*) AS cnt
            FROM final GROUP BY event_type ORDER BY event_type"""))

  // Incrementally-maintained MEAN/VARIANCE view (row 17f family):
  // the second-moment fold — the view stores EXACT decimal
  // (Σv, Σv², n); mean and population variance derive in double AT
  // READ TIME with the identical expression on both engines, so the
  // incremental result is bit-equal to the oracle's from-scratch
  // recompute over the replayed final state.
  val incrementalMoments = QueryDef(
    "q_incremental_moments",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_ivmo").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("user_id")), s"$root/events",
        statsCols = Seq("user_id"), bloomCols = Nil, changeFeed = true)
      def refresh() = graft.streaming.IncrementalView.maintainMeanVar(
        s, s"$root/events", s"$root/view", "event_type", "value",
        s"$root/ckpt")
      refresh() // bootstrap at v0
      DataSkipping.deleteWhere(s, s"$root/events",
        col("user_id") >= 40L && col("user_id") < 60L)
      DataSkipping.updateWhere(s, s"$root/events",
        col("user_id") >= 100L && col("user_id") < 120L,
        Map("event_type" -> lit("redacted"), "value" -> (col("value") * -1)))
      DataSkipping.mergeUpsert(s, s"$root/events",
        ev.filter(col("event_id") % 50 === 3)
          .withColumn("event_type", lit("merged"))
          .withColumn("value", col("value") * 2),
        Seq("event_id"))
      val sumD = col("sum_value").cast("double")
      val cntD = col("cnt").cast("double")
      // derived stats rounded to 6 places: Spark's wide-decimal ->
      // double cast is correctly rounded (BigDecimal), DuckDB's goes
      // int128 -> double -> divide (two roundings) — a 1-ULP
      // cross-engine artifact on Σv²; 6 decimal places is what the
      // gate verifies
      refresh()
        .select(col("event_type"), col("cnt"),
          sumD.as("sum_value"),
          round(sumD / cntD, 6).as("mean"),
          round(col("sum_sq").cast("double") / cntD -
            (sumD / cntD) * (sumD / cntD), 6).as("variance"))
        .orderBy("event_type")
    },
    Some("""WITH base AS (
              SELECT event_id, user_id, event_type, value FROM events),
            upd AS (
              SELECT event_id, user_id,
                CASE WHEN user_id >= 100 AND user_id < 120
                     THEN 'redacted' ELSE event_type END AS event_type,
                CASE WHEN user_id >= 100 AND user_id < 120
                     THEN value * -1 ELSE value END AS value
              FROM base WHERE NOT (user_id >= 40 AND user_id < 60)),
            src AS (
              SELECT event_id, user_id, 'merged' AS event_type,
                     value * 2 AS value
              FROM base WHERE event_id % 50 = 3),
            final AS (
              SELECT event_type, value FROM upd WHERE event_id % 50 <> 3
              UNION ALL
              SELECT event_type, value FROM src)
            SELECT event_type, COUNT(*) AS cnt,
              CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE), 6) AS mean,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(16,6))
                       * CAST(value AS DECIMAL(16,6))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE)
                - (CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE))
                  * (CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE)), 6) AS variance
            FROM final GROUP BY event_type ORDER BY event_type"""))

  // Incrementally-maintained MIN/MAX/COUNT view — the NON-invertible
  // aggregate IVM gate: extrema don't fold under deletes, so the
  // maintainer recomputes exactly the groups whose extremum a delete
  // touched (at the batch's end version) and formulas the rest. The
  // DELETE band removes low user_ids whose values hit several groups'
  // extrema, the UPDATE migrates groups, the MERGE doubles values —
  // the oracle recomputes the final state from scratch; a stale
  // extremum, wrong recompute version, or missed tombstone all
  // mismatch (decimal min/max: bit-exact both engines).
  val incrementalMinMax = QueryDef(
    "q_incremental_minmax",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_ivmm").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(16, col("user_id")), s"$root/events",
        statsCols = Seq("user_id"), bloomCols = Nil, changeFeed = true)
      def refresh() = graft.streaming.IncrementalView.maintainMinMax(
        s, s"$root/events", s"$root/view", "event_type", "value",
        s"$root/ckpt")
      refresh() // bootstrap at v0
      DataSkipping.deleteWhere(s, s"$root/events",
        col("user_id") >= 40L && col("user_id") < 60L)
      DataSkipping.updateWhere(s, s"$root/events",
        col("user_id") >= 100L && col("user_id") < 120L,
        Map("event_type" -> lit("redacted"), "value" -> (col("value") * -1)))
      DataSkipping.mergeUpsert(s, s"$root/events",
        ev.filter(col("event_id") % 50 === 3)
          .withColumn("event_type", lit("merged"))
          .withColumn("value", col("value") * 2),
        Seq("event_id"))
      // decimal extrema internally; gate output in double — same
      // representation-stability rationale as q_incremental_agg (a
      // single cast value round-trips double exactly at this scale)
      refresh()
        .select(col("event_type"),
          col("min_value").cast("double").as("min_value"),
          col("max_value").cast("double").as("max_value"), col("cnt"))
        .orderBy("event_type")
    },
    Some("""WITH base AS (
              SELECT event_id, user_id, event_type, value FROM events),
            upd AS (
              SELECT event_id, user_id,
                CASE WHEN user_id >= 100 AND user_id < 120
                     THEN 'redacted' ELSE event_type END AS event_type,
                CASE WHEN user_id >= 100 AND user_id < 120
                     THEN value * -1 ELSE value END AS value
              FROM base WHERE NOT (user_id >= 40 AND user_id < 60)),
            src AS (
              SELECT event_id, user_id, 'merged' AS event_type,
                     value * 2 AS value
              FROM base WHERE event_id % 50 = 3),
            final AS (
              SELECT event_type, value FROM upd WHERE event_id % 50 <> 3
              UNION ALL
              SELECT event_type, value FROM src)
            SELECT event_type,
                   CAST(MIN(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     AS min_value,
                   CAST(MAX(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                     AS max_value,
                   COUNT(*) AS cnt
            FROM final GROUP BY event_type ORDER BY event_type"""))

  // Continuously-maintained SCD2 history from the change feed
  // (Scd2Stream): bootstrap at v0, three DML waves on DISJOINT
  // event_id classes, one refresh folding them all — then the FULL
  // history (every interval, open and closed) vs an oracle that
  // derives each row class's exact [start, end) version tiles from
  // the DML program. A wrong reconstruction, a torn replace, or a
  // missed preimage-drop shows up as a wrong tile somewhere.
  val scd2Stream = QueryDef(
    "q_scd2_stream",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_s2s").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(8, col("event_id")), s"$root/base",
        Seq("event_id"), bloomCols = Nil, changeFeed = true)
      def refresh() = graft.streaming.Scd2Stream.maintain(
        s, s"$root/base", s"$root/hist", Seq("event_id"),
        Seq("user_id", "value"), s"$root/ckpt")
      refresh() // bootstrap at v0
      DataSkipping.deleteWhere(s, s"$root/base", col("event_id") % 50 === 7)  // v1
      DataSkipping.updateWhere(s, s"$root/base", col("event_id") % 50 === 11,
        Map("value" -> (col("value") * -1)))                                  // v2
      DataSkipping.mergeUpsert(s, s"$root/base",
        ev.filter(col("event_id") % 50 === 13)
          .withColumn("value", col("value") * 2)
          .unionByName(ev.filter(col("event_id") % 50 === 17)
            .withColumn("event_id", col("event_id") + 10000000L)),
        Seq("event_id"))                                                      // v3
      refresh()
        .select(col("event_id"), col("user_id"), col("value"),
          col(graft.streaming.Scd2Stream.StartCol).as("start_ver"),
          col(graft.streaming.Scd2Stream.EndCol).as("end_ver"))
        .orderBy("event_id", "start_ver")
    },
    Some("""WITH base AS (SELECT event_id, user_id, value FROM events)
            SELECT * FROM (
              -- untouched keys: one open bootstrap row
              SELECT event_id, user_id, value,
                     CAST(0 AS BIGINT) AS start_ver,
                     CAST(NULL AS BIGINT) AS end_ver
              FROM base WHERE event_id % 50 NOT IN (7, 11, 13)
              UNION ALL
              -- deleted at v1: closed, no successor
              SELECT event_id, user_id, value, 0, 1
              FROM base WHERE event_id % 50 = 7
              UNION ALL
              -- updated at v2: [0,2) original + [2,) negated
              SELECT event_id, user_id, value, 0, 2
              FROM base WHERE event_id % 50 = 11
              UNION ALL
              SELECT event_id, user_id, value * -1, 2, NULL
              FROM base WHERE event_id % 50 = 11
              UNION ALL
              -- merge-updated at v3: [0,3) original + [3,) doubled
              SELECT event_id, user_id, value, 0, 3
              FROM base WHERE event_id % 50 = 13
              UNION ALL
              SELECT event_id, user_id, value * 2, 3, NULL
              FROM base WHERE event_id % 50 = 13
              UNION ALL
              -- merge-inserted at v3: born open
              SELECT event_id + 10000000, user_id, value, 3, NULL
              FROM base WHERE event_id % 50 = 17)
            ORDER BY event_id, start_ver"""))

  // Automatic materialized-view answering (GraftMvRewrite): after a
  // refresh, the SAME grouped-aggregate query over the base table is
  // silently answered by the maintained view (plan marker: the
  // logical Aggregate disappears and the only file scan reads the
  // VIEW directory); after one more un-refreshed DML it silently
  // falls back to the base scan (Aggregate present) and reflects the
  // newest state. The oracle recomputes BOTH states from the replayed
  // DML program — a stale serve, a lossy decimal round-trip, or a
  // tombstone leak mismatches on values, not just on the marker.
  val mvRewrite = QueryDef(
    "q_mv_rewrite",
    (s, d) => {
      import graft.sources.DataSkipping
      import org.apache.spark.sql.catalyst.plans.logical.Aggregate
      import org.apache.spark.sql.execution.FileSourceScanExec
      val root = java.nio.file.Files.createTempDirectory("graft_mvr").toString
      val base = s"$root/events"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(8, col("user_id")), base,
        statsCols = Seq("user_id"), bloomCols = Nil, changeFeed = true)
      def refresh() = graft.streaming.IncrementalView.maintainSumCount(
        s, base, s"$root/view", "event_type", "user_id", s"$root/ckpt")
      refresh() // bootstrap: fresh immediately
      DataSkipping.deleteWhere(s, base,
        col("user_id") >= 40L && col("user_id") < 60L)
      DataSkipping.updateWhere(s, base,
        col("user_id") >= 100L && col("user_id") < 120L,
        Map("event_type" -> lit("redacted")))
      refresh() // folds both -> fresh again
      def query() = s.read.format("graft").load(base)
        .groupBy("event_type")
        .agg(sum("user_id").as("sum_uid"), count(lit(1)).as("cnt"))
      def hasAgg(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collectFirst {
          case a: Aggregate => a
        }.nonEmpty
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[FileSourceScanExec] = p.flatMap {
        case f: FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case _ => Nil
      }.toSeq
      val fresh = query()
      // materialize the fresh leg NOW — its plan must freeze before
      // the staleness DML below lands
      val freshRows = fresh.collect().toSeq
      val freshScans = scans(fresh.queryExecution.executedPlan)
      val viewScan = freshScans.nonEmpty && freshScans.forall(
        _.relation.location.rootPaths.exists(_.toString.contains("/view")))
      DataSkipping.deleteWhere(s, base, col("event_id") % 10 === 3)
      val stale = query()
      val marker = s"served=${!hasAgg(fresh)},viewscan=$viewScan," +
        s"fallback=${hasAgg(stale)}"
      val freshDf = s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(freshRows).asJava),
        fresh.schema)
      freshDf.withColumn("leg", lit("fresh"))
        .unionByName(stale.withColumn("leg", lit("stale")))
        .unionByName(s.range(1).select(lit(marker).as("event_type"),
          lit(-1L).as("sum_uid"), lit(-1L).as("cnt"),
          lit("marker").as("leg")))
        .orderBy("leg", "event_type")
    },
    Some("""WITH base AS (
              SELECT event_id, user_id, event_type FROM events),
            s1 AS (
              SELECT event_id, user_id,
                CASE WHEN user_id >= 100 AND user_id < 120
                     THEN 'redacted' ELSE event_type END AS event_type
              FROM base WHERE NOT (user_id >= 40 AND user_id < 60)),
            s2 AS (SELECT * FROM s1 WHERE event_id % 10 <> 3)
            SELECT * FROM (
              SELECT event_type, CAST(SUM(user_id) AS BIGINT) AS sum_uid,
                     COUNT(*) AS cnt, 'fresh' AS leg
              FROM s1 GROUP BY event_type
              UNION ALL
              SELECT event_type, CAST(SUM(user_id) AS BIGINT),
                     COUNT(*), 'stale'
              FROM s2 GROUP BY event_type
              UNION ALL
              SELECT 'served=true,viewscan=true,fallback=true', -1, -1,
                     'marker')
            ORDER BY leg, event_type"""))

  // The SQL lifecycle of the same feature: CREATE INCREMENTAL VIEW
  // bootstraps the maintained aggregate, DML runs as SQL statements,
  // REFRESH INCREMENTAL VIEW re-drains from the view's own sidecar
  // (path-only — spec + checkpoint are self-described), and a PLAIN
  // spark.sql grouped aggregate is then silently answered by the view
  // (marker: no logical Aggregate). The oracle replays the DML
  // program and recomputes the aggregate from scratch.
  val sqlMv = QueryDef(
    "q_sql_mv",
    (s, d) => {
      import graft.sources.{DataSkipping, GraftSql}
      import org.apache.spark.sql.catalyst.plans.logical.Aggregate
      val root = java.nio.file.Files.createTempDirectory("graft_sqm").toString
      val base = s"$root/events"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"))
      DataSkipping.writeWithStats(
        ev.repartitionByRange(8, col("user_id")), base,
        statsCols = Seq("user_id"), bloomCols = Nil, changeFeed = true)
      GraftSql.sql(s, s"CREATE INCREMENTAL VIEW '$root/view' AS " +
        s"SUM(user_id) OF '$base' GROUP BY event_type " +
        s"CHECKPOINT '$root/ckpt'")
      GraftSql.sql(s,
        s"DELETE FROM '$base' WHERE user_id >= 70 AND user_id < 90")
      GraftSql.sql(s,
        s"UPDATE '$base' SET event_type = 'promo' WHERE user_id < 10")
      GraftSql.sql(s, s"REFRESH INCREMENTAL VIEW '$root/view'")
      s.read.format("graft").load(base).createOrReplaceTempView("sqm_base")
      val q = s.sql("SELECT event_type, sum(user_id) AS sum_uid, " +
        "count(*) AS cnt FROM sqm_base GROUP BY event_type")
      val served = q.queryExecution.optimizedPlan.collectFirst {
        case a: Aggregate => a
      }.isEmpty
      q.withColumn("leg", lit("data"))
        .unionByName(s.range(1).select(
          lit(s"served=$served").as("event_type"),
          lit(-1L).as("sum_uid"), lit(-1L).as("cnt"),
          lit("marker").as("leg")))
        .orderBy("leg", "event_type")
    },
    Some("""WITH s1 AS (
              SELECT event_id, user_id,
                CASE WHEN user_id < 10 THEN 'promo' ELSE event_type END
                  AS event_type
              FROM events WHERE NOT (user_id >= 70 AND user_id < 90))
            SELECT * FROM (
              SELECT event_type, CAST(SUM(user_id) AS BIGINT) AS sum_uid,
                     COUNT(*) AS cnt, 'data' AS leg
              FROM s1 GROUP BY event_type
              UNION ALL
              SELECT 'served=true', -1, -1, 'marker')
            ORDER BY leg, event_type"""))

  // Optimized partitioned write: rows shuffle onto their partition
  // values before the write job, so every directory gets ONE file per
  // write instead of one per (task x value). Marker pins the physical
  // claim three ways — fresh optimized write == 8 files (one per p
  // value), the same input without the knob fans out past 8, and an
  // all-values optimized APPEND adds exactly 8 more. Rows replay in
  // the oracle (write routing must never change content).
  val optimizedWriteQ = QueryDef(
    "q_optimized_write",
    (s, d) => {
      import graft.sources.DataSkipping
      val root = java.nio.file.Files.createTempDirectory("graft_owq").toString
      val t = s"$root/events"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .withColumn("p", pmod(col("user_id"), lit(8)))
      val input = ev.filter(col("event_id") % 3 =!= 0)
        .repartition(16, col("event_id"))
      def files(p: String) = DataSkipping.readManifest(s, p)
        .select("file").distinct().count()
      DataSkipping.writeWithStats(input, s"$root/control",
        statsCols = Seq("event_id"), bloomCols = Nil,
        partitionBy = Seq("p"))
      DataSkipping.writeWithStats(input, t,
        statsCols = Seq("event_id"), bloomCols = Nil,
        partitionBy = Seq("p"), optimizeWrite = true)
      val freshFiles = files(t)
      DataSkipping.appendWithStats(
        ev.filter(col("event_id") % 3 === 0)
          .repartition(16, col("event_id")),
        t, Seq("event_id"), optimizeWrite = true)
      val marker = s"fresh=${freshFiles == 8L}," +
        s"fanout=${files(s"$root/control") > 8L}," +
        s"append=${files(t) == freshFiles + 8L}"
      DataSkipping.readSkipping(s, t, col("event_id").isNotNull)
        .withColumn("leg", lit("data"))
        .unionByName(s.range(1).select(lit(-1L).as("event_id"),
          lit(-1L).as("user_id"), lit(marker).as("event_type"),
          lit(-1L).as("p"), lit("marker").as("leg")))
        .orderBy("leg", "event_id")
    },
    Some("""SELECT * FROM (
              SELECT event_id, user_id, event_type, user_id % 8 AS p,
                     'data' AS leg
              FROM events
              UNION ALL
              SELECT -1, -1, 'fresh=true,fanout=true,append=true', -1,
                     'marker')
            ORDER BY leg, event_id"""))

  val all: Seq[QueryDef] = Seq(
    dimLoad, jsonExtract, latestSnapshot, currentInventory, dailySnapshotsQ, cdcChanges,
    scd2, scd2Apply,
    transactionalize, expectations,
    pricingSummary, revenueByRegion, revenueRollup, revenueCube, groupingSetsQ, orderPercentiles,
    topOrders, supplierRank, windowFuncs, pivotEvents, movingAvg,
    usersNoPurchase, asofJoin, rangeJoin, rangeJoinOuter, rangeJoinFull, rangeBinJoin,
    sessionize, sessionWindowAgg,
    windowedAgg,
    tokenCount, chunkDocsQ, qualityScore, langId, fingerprint, nfcNormalizeQ, approxDistinctQ, sketchMaintainQ, termStats, bm25Q, heavyTermsQ, redactDocs,
    vocabQ, encodeTokensQ, splitNoLeakage, lmFamiliarityQ,
    repetition, contamination, stripHtmlQ, shuffleOrder, skippingScan, zorderScan,
    skippingRead, zorderRead, zorderOptimize, hilbertOptimize, graftSourceQ, appendScan, compactScan, optimizeWhereQ, showPartitionsQ, bloomScan, nestedStats,
    lazyNestedRead, dppJoin, dppNested,
    dedupExact, urlDedupQ, incrementalDedup, incrementalEmbDedup, dedupParagraphsQ,
    removeBoilerplateQ, normalizeDedup, ngramJaccardPairs,
    sharedSpans, exciseSpans, minhashPairs, incrementalMinhashQ,
    dedupEndToEnd, simhash, simhashPairs,
    embeddingNearDup, dedupComponents, semanticDedupQ, embeddingTopK, annLsh, annIvf, annPq, annIvfPq, annIvfPqResidual, annIndex, annIndexResidual, annBq, quantizeQ, multimodalMeta,
    multimodalDecode, audioDecode, imageDecode, imageDedup, videoFrames, saltedJoin, dfpJoin, dfpRead, sqlCorpus,
    packSequences, sampleSources, sampleTokenBudget, capPerSource, assignSplits, pipelineEvents,
    ingestEvolved, corpusPipeline, manifestStream, manifestStreamPart, timeTravel,
    deleteUpdate, deleteDv, purgeDvQ, countMeta, minmaxMeta, aggPushdown, groupCountPushdown, checkConstraints, generatedColQ, genPartitionPrune,
    identityColQ, cloneQ,
    mergeUpsertQ, mergeEvolveQ, mergeDeleteQ, cdfChanges, restoreQ, sqlMaintenance, sqlDml, catalogQ, columnMapping, convertQ, convertPartitionedQ, writePartitioned, ddlPartitioned, mergeIntoQ,
    incrementalAgg, incrementalMinMax, incrementalMoments, mvRewrite, sqlMv,
    optimizedWriteQ, scd2Stream)
}
