package posbench

import graft.operators.{Cdc, Inventory}
import graft.sources.DataSkipping
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A full gold refresh over change and snapshot history written once in
  * set-up: latest snapshot per key (`Cdc.latestByKey`), current
  * inventory (`Inventory.currentState`) and the per-store daily position
  * (`Inventory.dailySnapshots`), each materialized as a graft table.
  */
object GoldBackfill extends Workload {
  val name = "gold_backfill"
  val cyclesPerSecond = 0.2
  val ChangeRows = 300000L
  val ChangePartitions = 8
  /** Simulated time between change rows: the history spans ~42 days. */
  val StepMicros: Long = 12L * 1000000
  val SnapshotCopies = 5

  def setup(spark: SparkSession, gen: Gen, root: Path): Instance =
    new Run(spark, gen, root)

  final class Run(spark: SparkSession, gen: Gen, root: Path) extends Instance {
    val storageRoot: Path = root.resolve("store")
    private def table(n: String) = storageRoot.resolve(n).toString
    val changePath: String = table("inventory_change")
    val snapPath: String = table("inventory_snapshot")
    val latestPath: String = table("latest_inventory_snapshot")
    val currentPath: String = table("inventory_current")
    val dailyPath: String = table("store_daily_position")
    val graftTables: Seq[String] = Seq(changePath, snapPath, latestPath, currentPath, dailyPath)
    private val keys = Seq("store_id", "item_id")
    /** Snapshots are taken every ten days from the start of history. */
    private val snapStep: Long = 10L * 86400 * 1000000

    private def changes: DataFrame = gen.changes(spark, 0, ChangeRows, ChangePartitions,
      StepMicros, k => concat(lit("T"), k.cast("string")))
    private def snapshots: DataFrame =
      gen.snapshots(spark, SnapshotCopies, gen.epochMicros, snapStep, 4)

    DataSkipping.writeWithStats(changes, changePath, Seq("date_time", "store_id", "item_id"))
    DataSkipping.writeWithStats(snapshots, snapPath, Seq("store_id", "item_id", "date_time"))

    private def latestOf(snap: DataFrame) =
      Cdc.latestByKey(snap, keys, Seq("date_time"), Seq("quantity"))
    private def currentOf(latest: DataFrame, chg: DataFrame) =
      Inventory.currentState(latest, gen.countedChanges(spark, chg), keys, "date_time", "quantity")
    private def dailyOf(chg: DataFrame) =
      Inventory.dailySnapshots(chg.select("store_id", "date_time", "quantity"),
        Seq("store_id"), "date_time", "quantity")

    /** One gold statement: build and plan under `operators.<fn>`, then
      * execute it into its table.
      */
    private def statement(ctx: Ctx, fn: String, path: String, statsCols: Seq[String])(
        build: => DataFrame): Unit =
      ctx.op("write")(ctx.tracer(s"bench.$fn") {
        val df = ctx.tracer(s"operators.$fn") {
          val d = build
          ctx.tracer("plans.executedPlan")(d.queryExecution.executedPlan)
          d
        }
        ctx.tracer("sources.writeWithStats")(DataSkipping.writeWithStats(df, path, statsCols))
      })

    /** Refreshes in the latest `run`. */
    private var timedRefreshes = 0

    private def refresh(ctx: Ctx, i: Int): Unit = {
      ctx.cycle(i) {
        statement(ctx, "latestByKey", latestPath, keys) {
          latestOf(DataSkipping.readSkipping(spark, snapPath, lit(true)))
        }
        statement(ctx, "currentState", currentPath, keys :+ "date_time") {
          currentOf(DataSkipping.readSkipping(spark, latestPath, lit(true)),
            DataSkipping.readSkipping(spark, changePath, lit(true)))
        }
        statement(ctx, "dailySnapshots", dailyPath, Seq("store_id", "day")) {
          dailyOf(DataSkipping.readSkipping(spark, changePath, lit(true)))
        }
      }
      timedRefreshes += 1
      ctx.inputRows += ChangeRows + gen.stores.toLong * gen.items * SnapshotCopies
    }

    /** Two refreshes: after one, the next is still about 40% slower than
      * those that follow it.
      */
    def warmup(ctx: Ctx): Unit = (0 until 2).foreach(_ => refresh(ctx, 0))

    def run(ctx: Ctx, from: Int, until: Int): Unit = {
      timedRefreshes = 0
      (from until until).foreach(refresh(ctx, _))
    }

    def check(): Option[String] = {
      changes.createOrReplaceTempView("pb_changes")
      snapshots.createOrReplaceTempView("pb_snapshots")
      gen.storeDf(spark).createOrReplaceTempView("pb_store")
      gen.changeTypeDf(spark).createOrReplaceTempView("pb_change_type")
      val latest = spark.sql(
        """SELECT store_id, item_id, date_time, quantity FROM (
          |  SELECT *, row_number() OVER (PARTITION BY store_id, item_id
          |    ORDER BY date_time DESC, quantity DESC) AS rn FROM pb_snapshots) WHERE rn = 1
          |""".stripMargin)
      latest.createOrReplaceTempView("pb_latest")
      val current = spark.sql(
        """WITH b AS (
          |  SELECT x.store_id, x.item_id, x.date_time, x.quantity
          |  FROM pb_changes x
          |  JOIN pb_store y ON x.store_id = y.store_id
          |  JOIN pb_change_type z ON x.change_type_id = z.change_type_id
          |  WHERE NOT (y.name = 'online' AND z.change_type = 'bopis'))
          |SELECT a.store_id, a.item_id,
          |  CAST(MIN(CAST(a.quantity AS DECIMAL(12,2))) AS DOUBLE) AS snapshot_quantity,
          |  CAST(CAST(COALESCE(SUM(CAST(b.quantity AS DECIMAL(12,2))), 0) AS DECIMAL(18,2))
          |    AS DOUBLE) AS change_quantity,
          |  CAST(MIN(CAST(a.quantity AS DECIMAL(12,2)))
          |    + CAST(COALESCE(SUM(CAST(b.quantity AS DECIMAL(12,2))), 0) AS DECIMAL(18,2))
          |    AS DOUBLE) AS current_inventory,
          |  GREATEST(MIN(a.date_time), MAX(b.date_time)) AS date_time
          |FROM pb_latest a LEFT OUTER JOIN b
          |  ON a.store_id = b.store_id AND a.item_id = b.item_id AND a.date_time <= b.date_time
          |GROUP BY a.store_id, a.item_id""".stripMargin)
      val daily = spark.sql(
        """WITH daily AS (
          |  SELECT store_id, day, quantity AS q FROM (
          |    SELECT store_id, CAST(date_time AS DATE) AS day, quantity,
          |      row_number() OVER (PARTITION BY store_id, CAST(date_time AS DATE)
          |        ORDER BY date_time DESC, quantity DESC) AS rn
          |    FROM pb_changes) WHERE rn = 1
          |), grid AS (
          |  SELECT store_id, explode(sequence(d0,
          |    (SELECT MAX(CAST(date_time AS DATE)) FROM pb_changes), INTERVAL 1 DAY)) AS day
          |  FROM (SELECT store_id, MIN(day) AS d0 FROM daily GROUP BY store_id)
          |)
          |SELECT g.store_id, g.day,
          |  last_value(daily.q, true) OVER (PARTITION BY g.store_id ORDER BY g.day) AS quantity
          |FROM grid g LEFT JOIN daily ON g.store_id = daily.store_id AND g.day = daily.day
          |""".stripMargin)
      Workload.compare("latest_inventory_snapshot",
        DataSkipping.readSkipping(spark, latestPath, lit(true)), latest)
        .orElse(Workload.compare("inventory_current",
          DataSkipping.readSkipping(spark, currentPath, lit(true)), current))
        .orElse(Workload.compare("store_daily_position",
          DataSkipping.readSkipping(spark, dailyPath, lit(true)), daily))
    }

    def liveTables: Seq[DataFrame] = graftTables.map(DataSkipping.readSkipping(spark, _, lit(true)))

    def userRows: Seq[DataFrame] =
      Seq(latestPath, currentPath, dailyPath).map(DataSkipping.readSkipping(spark, _, lit(true)))
        .flatMap(df => Seq.fill(timedRefreshes)(df))

    def inputFingerprint: String = {
      val (cn, ch) = Gen.fingerprint(changes)
      val (sn, sh) = Gen.fingerprint(snapshots)
      s"$cn-$ch-$sn-$sh"
    }

    def sizes: Map[String, Any] = Map(
      "change_rows" -> ChangeRows,
      "snapshot_rows" -> gen.stores.toLong * gen.items * SnapshotCopies,
      "inventory_current_rows" -> DataSkipping.countWhere(spark, currentPath, lit(true)),
      "daily_rows" -> DataSkipping.countWhere(spark, dailyPath, lit(true)))
  }
}
