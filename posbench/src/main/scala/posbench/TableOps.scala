package posbench

import graft.sources.{DataSkipping, MergeClause}
import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** A seeded closed-loop mix of operations on one POS change-history
  * table with a bloom-filtered transaction column: each round reads
  * (point lookup, one-day range, one-store filter), runs the metadata
  * aggregates and writes (append, DV delete, DV update, keyed merge);
  * every second round compacts the recent range and vacuums.
  */
object TableOps extends Workload {
  val name = "table_ops"
  val cyclesPerSecond = 0.1
  /** Files and rows of the starting table. */
  val Files = 500
  val RowsPerFile = 400
  val Rows: Long = Files.toLong * RowsPerFile
  /** Simulated time between consecutive rows: the table spans ~58 days. */
  val StepMicros: Long = 10L * 1000000
  val AppendRows = 600
  val MergeTrans = 4
  val MergeNew = 12
  val DmlTrans = 4
  val MaintEvery = 2
  /** Multiplier that permutes transaction numbers, so min/max stats do
    * not locate a transaction and the bloom filter has to.
    */
  val Perm = 1000003L

  def setup(spark: SparkSession, gen: Gen, root: Path): Instance =
    new Run(spark, gen, root)

  final class Run(spark: SparkSession, gen: Gen, root: Path) extends Instance {
    val storageRoot: Path = root.resolve("store")
    val path: String = storageRoot.resolve("inventory_change_history").toString
    val graftTables: Seq[String] = Seq(path)
    private val baseTrans: Long = Rows / 3
    private val statsCols = Seq("date_time", "store_id", "item_id", "trans_id")

    /** Transaction number k (< baseTrans) as stored: a permutation of
      * [0, baseTrans) rendered as a fixed-width string. Numbers from
      * baseTrans on belong to rows the loop inserts.
      */
    def transId(k: Long): String =
      if (k < baseTrans) f"T${(k * Perm) % baseTrans}%09d" else f"T$k%09d"
    private def transIdCol(k: Column): Column =
      when(k < baseTrans, format_string("T%09d", pmod(k * Perm, lit(baseTrans))))
        .otherwise(format_string("T%09d", k))

    private def base: DataFrame = gen.changes(spark, 0, Rows, Files, StepMicros, transIdCol)

    DataSkipping.writeWithStats(base, path, statsCols, bloomCols = Seq("trans_id"))

    // ---- the operation list, and the shadow model it implies ----
    private val deleted = mutable.Set.empty[Long]
    private val updates = mutable.Map.empty[Long, Int].withDefaultValue(0)
    /** (trans, line) -> quantity from the latest merge. */
    private val merged = mutable.Map.empty[(Long, Int), Int]
    private var nextTrans: Long = baseTrans
    /** (first row id, rows) of every insert, in order. */
    private val inserts = mutable.ArrayBuffer.empty[(Long, Long)]
    private var timedInserts = 0

    /** Distinct base transactions of round `r` from pool `pool`:
      * deletes, DV updates and merges touch disjoint transactions.
      */
    private def pick(r: Int, salt: Int, n: Int, pool: Int): Seq[Long] =
      (0 until n).map(j => (gen.mix(100 + salt, r.toLong * 64 + j) % (baseTrans / 3)) * 3 + pool)
        .distinct

    /** `n` new rows, transactions from `nextTrans` on. Row ids continue
      * past the table's, so new rows are also the newest in time.
      */
    private def fresh(n: Int): DataFrame = {
      val from = nextTrans * 3
      nextTrans += (n + 2) / 3
      inserts += ((from, n.toLong))
      if (recording) timedInserts += 1
      newRows(from, n)
    }

    private def newRows(from: Long, n: Long): DataFrame =
      gen.changes(spark, from, n, 1, StepMicros, transIdCol)

    private var recording = false
    private val roundStarts = mutable.Map.empty[Int, Column]

    private def round(ctx: Ctx, r: Int): Unit = {
      val t = ctx.tracer
      ctx.cycle(r) {
        val roundStart = timestamp_micros(lit(gen.epochMicros + nextTrans * 3 * StepMicros))
        roundStarts(r) = roundStart
        val point = transId(pick(r, 0, 1, r % 3).head)
        val day = gen.epochMicros + gen.mix(1, r) % (Rows * StepMicros - 86400000000L)
        val store = (gen.mix(2, r) % gen.stores + 1).toInt
        val dayCol = col("date_time") >= timestamp_micros(lit(day)) &&
          col("date_time") < timestamp_micros(lit(day + 86400000000L))
        ctx.op("read")(ctx.pruned(path, col("trans_id") === point)(_.collect()))
        ctx.op("read")(ctx.pruned(path, dayCol)(_.agg(count(lit(1)), sum("quantity")).collect()))
        ctx.op("read")(ctx.pruned(path, col("store_id") === store)(
          _.groupBy("change_type_id").agg(sum("quantity")).collect()))
        ctx.op("read")(t("sources.countWhere")(DataSkipping.countWhere(spark, path, dayCol)))
        ctx.op("read")(t("sources.minMaxWhere")(
          DataSkipping.minMaxWhere(spark, path, "date_time", col("store_id") === store)))

        val app = fresh(AppendRows)
        ctx.op("write")(t("sources.appendWithStats")(
          DataSkipping.appendWithStats(app, path, statsCols)))
        ctx.inputRows += AppendRows

        val del = pick(r, 1, DmlTrans, 0)
        deleted ++= del
        ctx.op("write")(t("sources.deleteWhereDV")(
          DataSkipping.deleteWhereDV(spark, path, col("trans_id").isin(del.map(transId): _*))))

        val upd = pick(r, 2, DmlTrans, 1)
        upd.foreach(k => updates(k) += 1)
        ctx.op("write")(t("sources.updateWhereDV")(
          DataSkipping.updateWhereDV(spark, path, col("trans_id").isin(upd.map(transId): _*),
            Map("quantity" -> (col("quantity") + 1)))))

        val mt = pick(r, 3, MergeTrans, 2)
        val changed = for (k <- mt; line <- 0 until 3) yield {
          val q = (gen.mix(5, k * 3 + line + r * 7L) % 50).toInt + 1
          merged((k, line)) = q
          (transId(k), Gen.itemOf(k, line, gen.items), q)
        }
        import spark.implicits._
        // matched rows carry only keys and the new quantity that matters
        val matched = changed.toDF("trans_id", "item_id", "quantity")
          .withColumn("store_id", lit(0))
          .withColumn("date_time", timestamp_micros(lit(gen.epochMicros)))
          .withColumn("change_type_id", lit(0))
        val src = fresh(MergeNew).unionByName(matched)
        ctx.op("write")(t("sources.mergeInto")(
          DataSkipping.mergeInto(spark, path, src, Seq("trans_id", "item_id"), Seq(
            MergeClause.MatchedUpdate(None, Map("quantity" -> col("s.quantity"))),
            MergeClause.NotMatchedInsert(None)))))
        ctx.inputRows += MergeNew + changed.size
      }
      if (r % MaintEvery == MaintEvery - 1) {
        val recent = roundStarts(r - MaintEvery + 1)
        ctx.op("maint")(t("sources.compactWhere")(
          DataSkipping.compactWhere(spark, path, col("date_time") >= recent)))
        ctx.op("maint")(t("sources.vacuumTable")(DataSkipping.vacuumTable(spark, path, 0L)))
      }
    }

    def warmup(ctx: Ctx): Unit = round(ctx, 0)

    def run(ctx: Ctx, from: Int, until: Int): Unit = {
      timedInserts = 0
      recording = true
      try (from until until).foreach(round(ctx, _))
      finally recording = false
    }

    /** The final table the operation list implies, built from the
      * generator with plain Spark: base rows minus deleted transactions,
      * DV updates counted per transaction, merged quantities, plus every
      * inserted row.
      */
    private def shadow: DataFrame = {
      import spark.implicits._
      val del = deleted.toSeq.map(transId).toDF("trans_id")
      val upd = updates.toSeq.map { case (k, n) => (transId(k), n) }.toDF("trans_id", "inc")
      val mrg = merged.toSeq.map { case ((k, l), q) => (transId(k), Gen.itemOf(k, l, gen.items), q) }
        .toDF("trans_id", "item_id", "mq")
      val kept = base.join(broadcast(del), Seq("trans_id"), "left_anti")
        .join(broadcast(upd), Seq("trans_id"), "left")
        .join(broadcast(mrg), Seq("trans_id", "item_id"), "left")
        .withColumn("quantity", coalesce(col("mq"), col("quantity") + coalesce(col("inc"), lit(0))))
        .drop("inc", "mq")
      val added = inserts.map { case (from, n) => newRows(from, n) }
      (kept +: added).reduce(_ unionByName _).select(Gen.changeSchema.fieldNames.map(col): _*)
    }

    def check(): Option[String] =
      Workload.compare("inventory_change_history",
        DataSkipping.readSkipping(spark, path, lit(true)), shadow)

    def liveTables: Seq[DataFrame] = Seq(DataSkipping.readSkipping(spark, path, lit(true)))

    def userRows: Seq[DataFrame] =
      inserts.takeRight(timedInserts).map { case (f, n) => newRows(f, n) }.toSeq

    def inputFingerprint: String = {
      val (n, h) = Gen.fingerprint(base)
      val ops = Workload.sha256(Iterator(
        (deleted.toSeq.sorted ++ updates.toSeq.sorted.flatMap(p => Seq(p._1, p._2.toLong)) ++
          merged.toSeq.sortBy(_._1).flatMap(p => Seq(p._1._1, p._1._2.toLong, p._2.toLong)))
          .mkString(",").getBytes("UTF-8")))
      s"$n-$h-$ops"
    }

    def sizes: Map[String, Any] = Map(
      "start_rows" -> Rows,
      "start_files" -> Files,
      "final_rows" -> DataSkipping.countWhere(spark, path, lit(true)),
      "bloom_bits" -> (1 << 16))
  }
}
