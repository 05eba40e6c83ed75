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

  /** Stage `data` through the tracked write, move it in, and check its
    * assembled rows — and [[DataSkipping.manifestSchemaFor]] — against
    * the `statsFor` aggregate over a scan of the same files.
    */
  private def assertTrackedParity(path: String, data: DataFrame,
      partCols: Seq[String], statsCols: Seq[String],
      bloom: Option[(Seq[String], Int, Int)],
      tableSchema: Option[StructType] = None)
      : (Seq[String], Seq[org.apache.spark.sql.graft.FileWriteStats]) = {
    val fs = fsOf(path)
    val staging = new Path(path, ".append-test")
    val tracked = DataSkipping.stagedWriteTracked(data, staging, partCols,
      statsCols, bloom)
    val moved =
      if (partCols.isEmpty) DataSkipping.moveIn(fs, staging, new Path(path))
      else DataSkipping.moveInPartitioned(fs, staging, new Path(path))
    assert(moved.nonEmpty)
    val schema = tableSchema.getOrElse(
      DataSkipping.writtenTableSchema(data.schema, partCols))
    val frame = DataSkipping.statsFor(
      DataSkipping.partAwareStatusScanCols(spark, path, partCols, schema,
        DataSkipping.statusesFor(fs, moved)),
      statsCols, bloom = bloom)
    val ms = DataSkipping.manifestSchemaFor(schema, statsCols, partCols,
      bloom.map(_._1).getOrElse(Nil))
    assert(ms == frame.schema)
    val local = DataSkipping.statsRowsFromWrite(fs, path, moved, statsCols,
      partCols, bloom.map(_._1).getOrElse(Nil), tracked, ms)
    assertRowsMatch(frame.collect().toSeq, local, frame.schema)
    (moved, tracked)
  }

  test("flat tracked write: stats rows byte-match the statsFor re-scan") {
    val path = tmpDir("wsp-flat")
    val statsCols = Seq("i", "l", "d", "s", "dt", "ts", "dec", "meta.b")
    val bloom = Some((Seq("s", "i"), 256, 5))
    val (moved, tracked) =
      assertTrackedParity(path, df(spark), Nil, statsCols, bloom)
    // two tracker entries under one relative path are a fault of the
    // write: the assembly throws instead of guessing
    val collided = tracked :+ tracked.head
    val e = intercept[IllegalStateException](DataSkipping.statsRowsFromWrite(
      fsOf(path), path, moved, statsCols, Nil, bloom.get._1, collided,
      DataSkipping.manifestSchemaFor(
        DataSkipping.writtenTableSchema(df(spark).schema, Nil), statsCols,
        Nil, bloom.get._1)))
    assert(e.getMessage.contains(tracked.head.relPath))
  }

  test("partitioned tracked write: partition values, empty-string null " +
      "routing and per-dir stats match the part-aware re-scan") {
    val path = tmpDir("wsp-part")
    import spark.implicits._
    val data = Seq(
      ("us east", 1, 10L, "a"),
      ("us east", 1, 20L, null.asInstanceOf[String]),
      ("eu", 2, -5L, "b"),
      ("", 2, 7L, "c"), // empty string partition value → null dir
      ("eu", 1, 0L, "d")
    ).toDF("region", "bucket", "v", "tag")
    val partCols = Seq("region", "bucket")
    assertTrackedParity(path, data, partCols, Seq("v", "tag") ++ partCols,
      Some((Seq("tag"), 128, 3)))
  }

  test("bloom over struct and array columns: tracker words match " +
      "graft_bloom_agg over xxhash64") {
    import spark.implicits._
    val data = Seq(
      (1, Some((1, "a")), Seq(1L, 2L)),
      (2, Some((2, null.asInstanceOf[String])), Seq.empty[Long]),
      (3, None, null.asInstanceOf[Seq[Long]]),
      (4, Some((4, "dd")), Seq(4L, -4L, 0L))
    ).toDF("i", "st", "arr").repartition(2, col("i"))
    assertTrackedParity(tmpDir("wsp-bloom-struct"), data, Nil, Seq("i"),
      Some((Seq("st"), 256, 4)))
    assertTrackedParity(tmpDir("wsp-bloom-array"), data, Nil, Seq("i"),
      Some((Seq("arr"), 256, 4)))
  }

  test("a tracked column the batch omits is recorded all-null, as the " +
      "table-schema scan reads it") {
    import spark.implicits._
    val data = Seq((1, "a"), (2, null.asInstanceOf[String]), (3, "c"))
      .toDF("i", "s").repartition(2, col("i"))
    val table = DataSkipping.writtenTableSchema(
      StructType(data.schema.fields :+ StructField("gone", LongType)), Nil)
    assertTrackedParity(tmpDir("wsp-absent"), data, Nil, Seq("i", "gone"),
      Some((Seq("gone", "s"), 128, 3)), Some(table))
  }

  test("manifestSchemaFor equals the statsFor aggregate's schema") {
    val data = df(spark)
    val path = tmpDir("wsp-schema")
    data.write.mode("overwrite").parquet(path)
    val fs = fsOf(path)
    val files = fs.listStatus(new Path(path)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).toSeq
    def check(partCols: Seq[String], tracked: Seq[String],
        bloom: Option[(Seq[String], Int, Int)]): Unit = {
      val schema = DataSkipping.writtenTableSchema(data.schema, partCols)
      val scan = DataSkipping.statusScan(spark, path, schema,
        DataSkipping.statusesFor(fs, files))
      assert(DataSkipping.manifestSchemaFor(schema, tracked, partCols,
          bloom.map(_._1).getOrElse(Nil)) ==
        DataSkipping.statsFor(scan, tracked, bloom).schema,
        s"tracked=$tracked partCols=$partCols bloom=$bloom")
    }
    check(Nil, Seq("i", "l", "d", "s", "dt", "ts", "dec"), None)
    check(Seq("dt"), Seq("i", "s", "dt"), None)
    check(Nil, Seq("meta.b", "meta", "dec"), None)
    check(Nil, Seq("i"), Some((Seq("s", "meta", "i"), 128, 3)))
  }

  test("unsupported stats shape is refused before any byte is written") {
    val path = tmpDir("wsp-refused")
    import spark.implicits._
    val data = Seq((1, Map("k" -> 1))).toDF("i", "m")
    val staging = new Path(path, ".append-test")
    val e = intercept[IllegalArgumentException](
      DataSkipping.stagedWriteTracked(data, staging, Nil, Seq("i", "m"), None))
    assert(e.getMessage.contains("column m"), e.getMessage)
    assert(fsOf(path).listStatus(new Path(path)).isEmpty,
      "the refusal must come before the write job")
  }

  test("the table-schema sidecar is what a parquet read of the table " +
      "serves, on flat and partitioned layouts, and the frame appends") {
    import spark.implicits._
    val data = Seq((1, "a", BigDecimal("1.25"), "2024-01-02",
        "2024-01-02 03:04:05"))
      .toDF("id", "p", "dec", "dts", "tss")
      .select(col("id"), col("p"),
        struct(lit(1).as("x"), lit("y").as("y")).as("nested"),
        col("dec").cast("decimal(9,2)").as("dec"),
        to_date(col("dts")).as("dt"), to_timestamp(col("tss")).as("ts"),
        to_timestamp_ntz(col("tss")).as("ntz"))
    assert(data.schema("nested").dataType.asInstanceOf[StructType]
      .forall(!_.nullable), "the fixture needs a non-null nested field")
    for (partitionBy <- Seq(Nil, Seq("p"))) {
      val path = tmpDir("wsp-sidecar")
      DataSkipping.writeWithStats(data, path, Seq("id"), Nil,
        partitionBy = partitionBy)
      val sidecar = DataSkipping.tableSchema(spark, path)
      val read = spark.read.parquet(path).schema
      val dataCols = data.columns.filterNot(partitionBy.contains)
      assert(dataCols.map(sidecar(_)).toSeq == dataCols.map(read(_)).toSeq,
        s"partitionBy=$partitionBy")
      // the frame's stricter nested nullability still appends
      assert(DataSkipping.appendWithStats(data, path, Seq("id")))
      assert(DataSkipping.readSkipping(spark, path, lit(true)).count() == 2)
    }
  }
}
