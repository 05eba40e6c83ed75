package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Byte-identity of write-task-gathered stats (the tracked write,
  * guide §6: no re-scan of just-written output) against the read-back
  * `statsFor` aggregate they replace: min/max orderings (NaN, -0.0,
  * unicode, decimals, temporal types), null counts (nested paths
  * included), Bloom word layout (null hashes to the seed), n_rows /
  * file_size / mod_time, and the `file` key form — over flat AND
  * dynamic-partitioned writes.
  */
class WriteStatsParitySpec extends SparkSpec {

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** NaN-tolerant deep equality (boxed equals: NaN==NaN true,
    * -0.0==0.0 false — exactly the strictness we want).
    */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Seq[_], y: Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (u, v) => same(u, v) }
    case (x, y) => x.equals(y)
  }

  private def assertRowsMatch(expected: Seq[Row], actual: Seq[Row],
      schema: StructType): Unit = {
    val fileIdx = schema.fieldIndex("file")
    val e = expected.map(r => r.getString(fileIdx) -> r).toMap
    val a = actual.map(r => r.getString(fileIdx) -> r).toMap
    assert(e.keySet == a.keySet, s"file keys differ: ${e.keySet} vs ${a.keySet}")
    for ((k, er) <- e) {
      val ar = a(k)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        assert(same(er.get(i), ar.get(i)),
          s"column ${f.name} of $k: statsFor=${er.get(i)} tracked=${ar.get(i)}")
      }
    }
  }

  private def df(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val rows = Seq(
      (1, 10L, 1.5, "alpha", "2024-01-02", "2024-01-02 03:04:05.123456",
        BigDecimal("12.34"), Some(7)),
      (2, -10L, Double.NaN, "Ωmega", "2023-12-31", "2023-12-31 23:59:59",
        BigDecimal("-0.01"), None),
      (3, 0L, -0.0, "", "2024-06-15", "2024-06-15 00:00:00",
        BigDecimal("99999999.99"), Some(-3)),
      (4, 5L, 0.0, "zzé", "2024-01-02", "2024-01-02 03:04:05",
        BigDecimal("0.00"), Some(0))
    ).toDF("i", "l", "d", "s", "dts", "tss", "dec", "mb")
    rows
      .withColumn("dt", to_date(col("dts")))
      .withColumn("ts", to_timestamp(col("tss")))
      .withColumn("meta", struct(col("mb").as("b")))
      .withColumn("d", when(col("i") === 2, lit(Double.NaN)).otherwise(col("d")))
      .withColumn("s", when(col("i") === 3, lit(null: String)).otherwise(col("s")))
      .drop("dts", "tss", "mb")
      .repartition(2, col("i"))
  }

  test("flat tracked write: stats rows byte-match the statsFor re-scan") {
    val path = tmpDir("wsp-flat")
    val fs = fsOf(path)
    val data = df(spark)
    val statsCols = Seq("i", "l", "d", "s", "dt", "ts", "dec", "meta.b")
    val bloom = Some((Seq("s", "i"), 256, 5))
    val staging = new Path(path, ".append-test")
    val tracked = DataSkipping.stagedWriteTracked(data, staging, Nil,
      statsCols, bloom)
    assert(tracked.isDefined, "tracked write should engage on plain types")
    val moved = DataSkipping.moveIn(fs, staging, new Path(path))
    assert(moved.nonEmpty)
    val frame = DataSkipping.statsFor(
      DataSkipping.statusScan(spark, path,
        StructType(data.schema.map(_.copy(nullable = true))),
        DataSkipping.statusesFor(fs, moved)),
      statsCols, bloom = bloom)
    val local = DataSkipping.statsRowsFromWrite(fs, path, moved, statsCols,
      Nil, bloom.get._1, tracked.get, frame.schema)
    assert(local.isDefined, "assembly must cover every moved file")
    assertRowsMatch(frame.collect().toSeq, local.get, frame.schema)
    // two tracker entries under one relative path: ambiguous, so the
    // assembly declines and the caller re-scans
    val collided = tracked.get :+ tracked.get.head
    assert(DataSkipping.statsRowsFromWrite(fs, path, moved, statsCols, Nil,
      bloom.get._1, collided, frame.schema).isEmpty)
  }

  test("partitioned tracked write: partition values, empty-string null " +
      "routing and per-dir stats match the part-aware re-scan") {
    val path = tmpDir("wsp-part")
    val fs = fsOf(path)
    import spark.implicits._
    val data = Seq(
      ("us east", 1, 10L, "a"),
      ("us east", 1, 20L, null.asInstanceOf[String]),
      ("eu", 2, -5L, "b"),
      ("", 2, 7L, "c"), // empty string partition value → null dir
      ("eu", 1, 0L, "d")
    ).toDF("region", "bucket", "v", "tag")
    val partCols = Seq("region", "bucket")
    val statsCols = Seq("v", "tag") ++ partCols
    val bloom = Some((Seq("tag"), 128, 3))
    val staging = new Path(path, ".append-test")
    val tracked = DataSkipping.stagedWriteTracked(data, staging, partCols,
      statsCols, bloom)
    assert(tracked.isDefined)
    val moved = DataSkipping.moveInPartitioned(fs, staging, new Path(path))
    assert(moved.nonEmpty)
    val schema = StructType(
      (data.schema.filterNot(f => partCols.contains(f.name)) ++
        partCols.map(c => data.schema(data.schema.fieldIndex(c))))
        .map(_.copy(nullable = true)))
    val frame = DataSkipping.statsFor(
      DataSkipping.partAwareStatusScanCols(spark, path, partCols, schema,
        DataSkipping.statusesFor(fs, moved)),
      statsCols, bloom = bloom)
    val local = DataSkipping.statsRowsFromWrite(fs, path, moved, statsCols,
      partCols, bloom.get._1, tracked.get, frame.schema)
    assert(local.isDefined)
    assertRowsMatch(frame.collect().toSeq, local.get, frame.schema)
  }

  test("unsupported stats shape falls back to the plain writer") {
    val path = tmpDir("wsp-fallback")
    import spark.implicits._
    val data = Seq((1, Map("k" -> 1))).toDF("i", "m")
    val staging = new Path(path, ".append-test")
    val tracked = DataSkipping.stagedWriteTracked(data, staging, Nil,
      Seq("i", "m"), None)
    assert(tracked.isEmpty, "map-typed stats col must fall back")
    val fs = fsOf(path)
    val moved = DataSkipping.moveIn(fs, staging, new Path(path))
    assert(moved.nonEmpty, "fallback still writes the data")
  }
}
