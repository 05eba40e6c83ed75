package posbench

import graft.operators.Inventory
import graft.sources.DataSkipping
import graft.streaming.{Dedupe, FileIngest, IncrementalView, StatsTableSink, StreamingPipeline}
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The reference DAG (`03`/`04`), run cycle after cycle in triggered
  * mode. Each cycle drops one inventory-change file (every second cycle
  * also one store's snapshot file), runs the pipeline once, and refreshes
  * gold `inventory_current` and the `store_sales` view.
  */
object PosCdcStream extends Workload {
  val name = "pos_cdc_stream"
  val cyclesPerSecond = 0.1
  val SnapshotEvery = 2
  /** Rows per change file, before retransmissions. */
  val RowsPerFile = 2000
  /** Simulated time one cycle's file covers. */
  val CycleSpanMs: Long = 10L * 60 * 1000

  def setup(spark: SparkSession, gen: Gen, root: Path): Instance =
    new Run(spark, gen, root)

  private val tsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
  val csvOptions = Map("header" -> "true",
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSS")

  final class Run(spark: SparkSession, gen: Gen, root: Path) extends Instance {
    val storageRoot: Path = root.resolve("store")
    private val landing = root.resolve("landing")
    private val changeDir = landing.resolve("inventory_change")
    private val snapDir = landing.resolve("inventory_snapshot")
    private def table(n: String) = storageRoot.resolve("tables").resolve(n).toString
    val changePath: String = table("inventory_change")
    val snapPath: String = table("inventory_snapshot")
    val goldPath: String = table("inventory_current")
    val viewPath: String = table("store_sales")
    private val viewCkpt = storageRoot.resolve("ckpt").resolve("store_sales").toString
    val graftTables: Seq[String] = Seq(changePath, snapPath, goldPath, viewPath)
    private val epochMs = gen.epochMicros / 1000
    private val timedFiles = mutable.ArrayBuffer.empty[Path]
    private var dropped = 0L
    private var recording = false

    Files.createDirectories(changeDir)
    Files.createDirectories(snapDir)
    dropSnapshot("snapshot-initial", (1 to gen.stores), epochMs - 86400000L, 0)
    private val changeStatsCols = Seq("date_time", "store_id", "item_id", "trans_id")
    DataSkipping.writeWithStats(
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        Gen.changeSchema).coalesce(1),
      changePath, changeStatsCols, bloomCols = Nil, changeFeed = true)

    val pipeline: StreamingPipeline =
      new StreamingPipeline(spark, storageRoot.resolve("pipeline").toString)
        .source("bronze_inventory_change") {
          FileIngest.stream(spark, changeDir.toString, Gen.changeSchema, "csv",
            options = csvOptions)
        }
        .source("bronze_inventory_snapshot") {
          FileIngest.stream(spark, snapDir.toString, Gen.snapshotSchema, "csv",
            options = csvOptions)
        }
        .sink("inventory_change", "bronze_inventory_change") { (bronze, ckpt) =>
          StatsTableSink.runMerge(
            Dedupe.exactlyOnce(bronze, Seq("trans_id", "item_id"), "date_time"),
            changePath, keyCols = Seq("trans_id", "item_id"),
            seqCols = Seq("date_time"), statsCols = changeStatsCols, checkpointDir = ckpt)
        }
        .sink("inventory_snapshot", "bronze_inventory_snapshot") { (bronze, ckpt) =>
          StatsTableSink.runMerge(bronze, snapPath, keyCols = Seq("store_id", "item_id"),
            seqCols = Seq("date_time"), statsCols = Seq("store_id", "item_id"),
            checkpointDir = ckpt)
        }
    // the first pipeline run and the view's bootstrap happen in the
    // warm-up cycle

    private def write(dir: Path, name: String, header: String, lines: Iterator[String]): Path = {
      val sb = new StringBuilder(header).append('\n')
      lines.foreach(l => sb.append(l).append('\n'))
      // written under a hidden name, then renamed: the file source
      // never sees a half-written file
      val tmp = dir.resolve(s".$name.tmp")
      Files.writeString(tmp, sb.toString)
      val dst = dir.resolve(s"$name.csv")
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      if (recording) timedFiles += dst
      dst
    }

    private def changeLine(g: Long): String = {
      val trans = g / 3
      val kind = gen.mix(3, g) % 16
      val (qty, typ) =
        if (kind < 11) (-(gen.mix(4, g) % 3 + 1), 0)
        else if (kind < 13) (-1L, 1)
        else if (kind < 14) (1L, 2)
        else (gen.mix(4, g) % 40 + 10, 3)
      val cycle = g / RowsPerFile
      val ts = epochMs + cycle * CycleSpanMs + (g % RowsPerFile) * (CycleSpanMs / RowsPerFile)
      val item = Gen.itemOf(trans, (g % 3).toInt, gen.items)
      val store = gen.mix(1, trans) % gen.stores + 1
      s"T$trans,$item,$store,${tsFormat.format(java.time.Instant.ofEpochMilli(ts))},$qty,$typ"
    }

    /** Cycle `i`'s change file: rows [i·R, (i+1)·R), and for about one
      * row in twenty a retransmitted copy of a row up to R rows older.
      */
    private def dropChanges(i: Int): Unit = {
      val lines = mutable.ArrayBuffer.empty[String]
      for (j <- 0 until RowsPerFile) {
        val g = i.toLong * RowsPerFile + j
        lines += changeLine(g)
        if (gen.mix(7, g) % 20 == 0) {
          val old = g - 1 - gen.mix(8, g) % RowsPerFile
          if (old >= 0) lines += changeLine(old)
        }
      }
      dropped += lines.size
      write(changeDir, f"change-$i%06d", Gen.changeSchema.fieldNames.mkString(","),
        lines.iterator)
    }

    private def dropSnapshot(name: String, stores: Seq[Int], atMs: Long, salt: Int): Unit = {
      val lines = for (s <- stores.iterator; it <- 1 to gen.items) yield {
        val k = s.toLong * 100000 + it
        val emp = gen.mix(11, k + salt) % 900 + 1
        val qty = gen.mix(13, k + salt) % 200 + 20
        s"$s,$it,$emp,${tsFormat.format(java.time.Instant.ofEpochMilli(atMs))},$qty"
      }
      val buf = lines.toSeq
      dropped += buf.size
      write(snapDir, name, Gen.snapshotSchema.fieldNames.mkString(","), buf.iterator)
    }

    private def cycle(ctx: Ctx, i: Int): Unit = {
      val t = ctx.tracer
      val before = dropped
      ctx.cycle(i) {
        dropChanges(i)
        if (i % SnapshotEvery == 0)
          dropSnapshot(f"snapshot-$i%06d", Seq((gen.mix(9, i) % gen.stores + 1).toInt),
            epochMs + (i + 1) * CycleSpanMs - 1, i + 1)
        ctx.op("write")(t("streaming.runOnce")(pipeline.runOnce()))
        ctx.op("write")(refreshGold(ctx))
        ctx.op("write")(t("streaming.maintainSumCount") {
          IncrementalView.maintainSumCount(spark, changePath, viewPath, "store_id",
            "quantity", viewCkpt)
        })
      }
      ctx.inputRows += dropped - before
    }

    private def refreshGold(ctx: Ctx): Unit = ctx.tracer("bench.currentState") {
      val t = ctx.tracer
      val gold = t("operators.currentState") {
        val snap = DataSkipping.readSkipping(spark, snapPath, lit(true))
        val chg = gen.countedChanges(spark, DataSkipping.readSkipping(spark, changePath, lit(true)))
        val g = Inventory.currentState(snap, chg, Seq("store_id", "item_id"), "date_time", "quantity")
        t("plans.executedPlan")(g.queryExecution.executedPlan)
        g
      }
      t("sources.writeWithStats")(
        DataSkipping.writeWithStats(gold, goldPath, Seq("store_id", "item_id", "date_time")))
    }

    def warmup(ctx: Ctx): Unit = cycle(ctx, 0)

    def run(ctx: Ctx, from: Int, until: Int): Unit = {
      timedFiles.clear()
      recording = true
      try (from until until).foreach(cycle(ctx, _))
      finally recording = false
    }

    private def csv(dir: Path, schema: org.apache.spark.sql.types.StructType,
        files: Seq[Path] = Nil): DataFrame = {
      val r = spark.read.schema(schema).options(csvOptions)
      if (files.isEmpty) r.csv(dir.toString) else r.csv(files.map(_.toString): _*)
    }

    def check(): Option[String] = {
      csv(changeDir, Gen.changeSchema).createOrReplaceTempView("pb_changes_raw")
      csv(snapDir, Gen.snapshotSchema).createOrReplaceTempView("pb_snapshots_raw")
      gen.storeDf(spark).createOrReplaceTempView("pb_store")
      gen.changeTypeDf(spark).createOrReplaceTempView("pb_change_type")
      // retransmitted rows are exact copies: DISTINCT is the dedup
      spark.sql("SELECT DISTINCT * FROM pb_changes_raw").createOrReplaceTempView("pb_changes")
      val gold = spark.sql(
        """WITH snap AS (
          |  SELECT store_id, item_id, date_time, quantity FROM (
          |    SELECT *, row_number() OVER (PARTITION BY store_id, item_id
          |      ORDER BY date_time DESC) AS rn FROM pb_snapshots_raw) WHERE rn = 1
          |), b AS (
          |  SELECT x.store_id, x.item_id, x.date_time, x.quantity
          |  FROM pb_changes x
          |  JOIN pb_store y ON x.store_id = y.store_id
          |  JOIN pb_change_type z ON x.change_type_id = z.change_type_id
          |  WHERE NOT (y.name = 'online' AND z.change_type = 'bopis')
          |)
          |SELECT a.store_id, a.item_id,
          |  CAST(MIN(CAST(a.quantity AS DECIMAL(12,2))) AS DOUBLE) AS snapshot_quantity,
          |  CAST(CAST(COALESCE(SUM(CAST(b.quantity AS DECIMAL(12,2))), 0) AS DECIMAL(18,2))
          |    AS DOUBLE) AS change_quantity,
          |  CAST(MIN(CAST(a.quantity AS DECIMAL(12,2)))
          |    + CAST(COALESCE(SUM(CAST(b.quantity AS DECIMAL(12,2))), 0) AS DECIMAL(18,2))
          |    AS DOUBLE) AS current_inventory,
          |  GREATEST(MIN(a.date_time), MAX(b.date_time)) AS date_time
          |FROM snap a LEFT OUTER JOIN b
          |  ON a.store_id = b.store_id AND a.item_id = b.item_id AND a.date_time <= b.date_time
          |GROUP BY a.store_id, a.item_id""".stripMargin)
      val sales = spark.sql(
        """SELECT store_id,
          |  CAST(SUM(CAST(quantity AS DECIMAL(20,6))) AS DECIMAL(30,6)) AS sum_value,
          |  COUNT(*) AS cnt
          |FROM pb_changes GROUP BY store_id""".stripMargin)
      Workload.compare("inventory_current",
        DataSkipping.readSkipping(spark, goldPath, lit(true)), gold)
        .orElse(Workload.compare("store_sales",
          IncrementalView.readView(spark, viewPath, "store_id"), sales))
    }

    def liveTables: Seq[DataFrame] =
      graftTables.map(DataSkipping.readSkipping(spark, _, lit(true))) ++
        Seq("bronze_inventory_change", "bronze_inventory_snapshot").map(pipeline.readTable)

    def userRows: Seq[DataFrame] = {
      val (c, s) = timedFiles.toSeq.partition(_.getParent == changeDir)
      Seq(csv(changeDir, Gen.changeSchema, c)) ++
        (if (s.isEmpty) Nil else Seq(csv(snapDir, Gen.snapshotSchema, s)))
    }

    def inputFingerprint: String = {
      val files = Seq(changeDir, snapDir).flatMap { d =>
        val s = Files.list(d)
        try s.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".csv")).sorted
        finally s.close()
      }
      Workload.sha256(files.iterator.map(Files.readAllBytes))
    }

    def sizes: Map[String, Any] = Map(
      "rows_per_change_file" -> RowsPerFile,
      "input_rows_dropped" -> dropped,
      "change_files" -> Files.list(changeDir).count(),
      "snapshot_files" -> Files.list(snapDir).count(),
      "inventory_change_rows" -> DataSkipping.countWhere(spark, changePath, lit(true)),
      "inventory_snapshot_rows" -> DataSkipping.countWhere(spark, snapPath, lit(true)))
  }
}
