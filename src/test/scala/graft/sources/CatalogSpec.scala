package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Catalog-name table addressing — the last mile between a
  * path-addressed library and an engine a pos-dlt user ports to
  * without editing statements: the reference's SQL notebook speaks
  * table NAMES (`04_Silver-to-Gold ETL.sql:70-103` `LIVE.…`), never
  * path literals.
  *
  * Surfaces pinned here:
  *  - `CREATE TABLE n USING graft LOCATION p` → name-based SELECT /
  *    `spark.table` resolve through [[GraftRelation]] (pruned reads,
  *    deletion vectors, the whole read stack);
  *  - `INSERT INTO` / `INSERT OVERWRITE` by name ([[GraftRelation]]
  *    is an `InsertableRelation`);
  *  - name-addressed maintenance + DML through the [[GraftSql]]
  *    grammar (session-aware ref resolution);
  *  - `df.write.format("graft").saveAsTable`;
  *  - `CONVERT TO GRAFT <name>` flips the catalog provider;
  *  - `DROP TABLE` on an external graft table removes METADATA only;
  *  - non-graft names are NEVER intercepted (refusal parity).
  */
class CatalogSpec extends SparkSpec {

  private def freshName(p: String): String =
    s"${p}_${java.util.UUID.randomUUID.toString.replace("-", "").take(10)}"

  test("CREATE TABLE USING graft LOCATION: name-based reads go through the manifest stack") {
    val s = spark
    import s.implicits._
    val t = s"${tmpDir("graft_cat1")}/tbl"
    val n = freshName("cat_read")
    DataSkipping.writeWithStats(
      (0L until 500L).map(i => (i, i % 20, s"v$i")).toDF("id", "k", "v")
        .repartitionByRange(4, col("id")), t, Seq("id", "k"))
    DataSkipping.deleteWhereDV(s, t, col("id") % 7 === 3L)
    s.sql(s"CREATE TABLE $n USING graft LOCATION '$t'")
    // name SELECT = pruned relation read, vector applied
    assert(s.sql(s"SELECT count(*) AS n FROM $n").head.getLong(0) ===
      (0L until 500L).count(_ % 7 != 3L))
    assert(s.table(n).filter(col("id") < 100L).count() ===
      (0L until 100L).count(_ % 7 != 3L))
    // DROP TABLE on the external entry removes metadata ONLY
    s.sql(s"DROP TABLE $n")
    assert(!s.catalog.tableExists(n))
    assert(DataSkipping.readSkipping(s, t, lit(true)).count() ===
      (0L until 500L).count(_ % 7 != 3L),
      "external DROP TABLE must leave the data intact")
  }

  test("INSERT INTO appends a generation; INSERT OVERWRITE replaces keeping layout") {
    val s = spark
    import s.implicits._
    val t = s"${tmpDir("graft_cat2")}/tbl"
    val n = freshName("cat_ins")
    DataSkipping.writeWithStats(
      (0L until 100L).map(i => (i, s"a$i")).toDF("id", "v"), t, Seq("id"))
    s.sql(s"CREATE TABLE $n USING graft LOCATION '$t'")
    s.sql(s"INSERT INTO $n SELECT id + 1000, concat('b', id) FROM range(50) ")
    assert(s.table(n).count() === 150L)
    assert(DataSkipping.tableVersions(s, t) === Seq(0L),
      "INSERT INTO is an in-generation manifest append (no version bump)")
    // stats still tracked: a pruned count answers from the manifest
    assert(DataSkipping.countWhere(s, t, col("id") >= 1000L) === 50L)
    s.sql(s"INSERT OVERWRITE $n SELECT id, concat('c', id) FROM range(30)")
    // catalog relation caches by (provider, path) — refresh like any
    // external writer would
    s.catalog.refreshTable(n)
    assert(s.table(n).count() === 30L)
    // r17: overwrite is a GENERATION COMMIT — the pre-overwrite state
    // stays time-travelable; the op lands in the history
    assert(DataSkipping.tableVersions(s, t) === Seq(0L, 1L),
      "INSERT OVERWRITE commits a new generation")
    assert(DataSkipping.describeHistory(s, t)
      .filter(col("operation") === "OVERWRITE").count() === 1L)
    assert(DataSkipping.readSkippingAt(s, t, 0L, lit(true)).count() === 150L,
      "the replaced state must stay readable at its version")
    assert(DataSkipping.tableStatsCols(s, t).contains("id"),
      "overwrite must keep the tracked stats set")
    s.sql(s"DROP TABLE $n")
  }

  test("name-addressed maintenance + DML through the GraftSql grammar") {
    val s = spark
    import s.implicits._
    val t = s"${tmpDir("graft_cat3")}/tbl"
    val n = freshName("cat_dml")
    DataSkipping.writeWithStats(
      (0L until 400L).map(i => (i, i % 10, s"v$i")).toDF("id", "k", "v")
        .repartitionByRange(4, col("id")), t, Seq("id", "k"))
    s.sql(s"CREATE TABLE $n USING graft LOCATION '$t'")

    assert(GraftSql.sql(s, s"DELETE FROM $n WHERE k = 3").head.getLong(1) === 40L)
    assert(GraftSql.sql(s, s"UPDATE $n SET v = 'redacted' WHERE k = 4")
      .head.getLong(1) === 40L)
    (0L until 20L).map(i => (i * 20, i % 10, "merged")).toDF("id", "k", "v")
      .createOrReplaceTempView("cat_dml_src")
    // name target + bare-name source (a temp view → subquery route)
    val m = GraftSql.sql(s,
      s"""MERGE INTO $n AS t USING cat_dml_src AS s
          ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET v = s.v
          WHEN NOT MATCHED THEN INSERT *""").head
    assert(m.getLong(1) > 0L) // updates
    GraftSql.sql(s, s"OPTIMIZE $n")
    val hist = GraftSql.sql(s, s"DESCRIBE HISTORY $n")
      .select("operation").as[String].collect().toSeq
    assert(hist.contains("DELETE") && hist.contains("UPDATE") &&
      hist.contains("MERGE") && hist.contains("OPTIMIZE"), hist.toString)
    GraftSql.sql(s, s"RESTORE $n TO VERSION AS OF 1") // undo UPDATE+MERGE+OPTIMIZE
    assert(DataSkipping.readSkipping(s, t, col("v") === "redacted").count() === 0L)
    assert(DataSkipping.readSkipping(s, t, lit(true)).count() === 360L)
    // ALTER TABLE forms resolve names too
    GraftSql.sql(s, s"ALTER TABLE $n ADD CONSTRAINT k_ok CHECK (k >= 0)")
    assert(DataSkipping.tableConstraints(s, t).contains("k_ok"))
    GraftSql.sql(s, s"ALTER TABLE $n RENAME COLUMN v TO label")
    assert(DataSkipping.tableLogicalSchema(s, t).fieldNames.contains("label"))
    s.sql(s"DROP TABLE $n")
  }

  test("the injected session-aware parser resolves names; non-graft names fall through") {
    val s = spark
    import s.implicits._
    val t = s"${tmpDir("graft_cat4")}/tbl"
    val n = freshName("cat_parse")
    DataSkipping.writeWithStats(
      (0L until 50L).map(i => (i, s"v$i")).toDF("id", "v"), t, Seq("id"))
    s.sql(s"CREATE TABLE $n USING graft LOCATION '$t'")
    val parser = new GraftSqlParser(s, s.sessionState.sqlParser)
    // a graft name parses to the graft command with the resolved path
    parser.parsePlan(s"DELETE FROM $n WHERE id < 5") match {
      case DeleteGraftCommand(p, Some(cond)) =>
        assert(p.endsWith("/tbl") && cond.trim == "id < 5")
      case other => fail(s"expected DeleteGraftCommand, got $other")
    }
    // a NON-graft name must go to the delegate parser verbatim — the
    // graft grammar never shadows ordinary tables/views
    (0L until 5L).toDF("x").createOrReplaceTempView("cat_parse_view")
    assert(GraftSql.parse(s"DELETE FROM cat_parse_view WHERE x = 1", s).isEmpty)
    assert(GraftSql.parse("OPTIMIZE some_unknown_table", s).isEmpty)
    // the session-less grammar keeps path-literal-only behavior
    assert(GraftSql.parse(s"DELETE FROM $n WHERE id < 5").isEmpty)
    assert(GraftSql.parse("DELETE FROM '/x/t' WHERE id < 5").nonEmpty)
    s.sql(s"DROP TABLE $n")
  }

  test("saveAsTable registers a graft table; GraftTable.forName hands back the facade") {
    val s = spark
    import s.implicits._
    val t = s"${tmpDir("graft_cat5")}/tbl"
    val n = freshName("cat_sat")
    (0L until 80L).map(i => (i, i % 4)).toDF("id", "k")
      .write.format("graft").option("statsCols", "id,k")
      .option("path", t).saveAsTable(n)
    assert(s.table(n).count() === 80L)
    assert(GraftSql.graftTableLocation(s, n).exists(_.endsWith("/tbl")))
    val h = GraftTable.forName(s, n)
    assert(h.delete(col("k") === 0L) === 20L)
    assert(s.table(n).count() === 60L)
    intercept[IllegalArgumentException] {
      GraftTable.forName(s, "definitely_absent_table")
    }
    s.sql(s"DROP TABLE $n")
  }

  test("INSERT INTO by name speaks LOGICAL column names on a column-mapped table") {
    val s = spark
    import s.implicits._
    val t = s"${tmpDir("graft_cat7")}/tbl"
    val n = freshName("cat_map")
    DataSkipping.writeWithStats(
      (0L until 60L).map(i => (i, s"a$i")).toDF("id", "v"), t, Seq("id"))
    DataSkipping.renameColumn(s, t, "v", "label")
    s.sql(s"CREATE TABLE $n USING graft LOCATION '$t'")
    assert(s.table(n).columns.toSeq === Seq("id", "label"))
    // the insert batch arrives under the LOGICAL schema; the append
    // hook translates to the stable physical column underneath
    s.sql(s"INSERT INTO $n SELECT id + 1000, concat('b', id) FROM range(20)")
    assert(s.table(n).count() === 80L)
    assert(s.table(n).filter(col("id") >= 1000L)
      .select("label").as[String].collect().forall(_.startsWith("b")))
    // pruning on the logical name still reaches the manifest
    assert(DataSkipping.countWhere(s, t, col("id") >= 1000L) === 20L)
    // INSERT OVERWRITE on the RENAMED table: a fresh table under the
    // logical names (the old physical 'v' must not leak back)
    s.sql(s"INSERT OVERWRITE $n SELECT id, concat('c', id) FROM range(15)")
    s.catalog.refreshTable(n)
    assert(s.table(n).count() === 15L)
    assert(s.table(n).columns.toSeq === Seq("id", "label"))
    assert(DataSkipping.tableStatsCols(s, t).contains("id"))
    assert(DataSkipping.readSkipping(s, t, col("id") === 3L)
      .select("label").as[String].head() === "c3")
    s.sql(s"DROP TABLE $n")
  }

  test("streaming by name: readStream.table drains commits; writeStream.toTable appends exactly-once") {
    val s = spark
    import s.implicits._
    val t = s"${tmpDir("graft_cat8")}/tbl"
    val n = freshName("cat_stream")
    graft.streaming.StatsTableSink.ensureTable(s, t,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))), Seq("id"))
    assert(DataSkipping.appendWithStats((0L until 100L).toDF("id").coalesce(1),
      t, Seq("id"), commitName = Some("seed")))
    s.sql(s"CREATE TABLE $n USING graft LOCATION '$t'")

    // name-addressed STREAM READ resolves to the stats-table source
    val out = tmpDir("graft_cat8_out") + "/o"
    val ck1 = tmpDir("graft_cat8_ck1")
    def drain(): Unit = {
      val q = s.readStream.table(n).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck1)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(s.read.parquet(out).count() === 100L)
    assert(DataSkipping.appendWithStats((100L until 130L).toDF("id").coalesce(1),
      t, Seq("id"), commitName = Some("more")))
    drain()
    assert(s.read.parquet(out).count() === 130L,
      "restarted name-addressed stream must deliver exactly the new commit")

    // name-addressed STREAM WRITE routes through the graft sink
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long](s)
    ms.addData(1000L, 1001L)
    val q2 = ms.toDF.toDF("id").writeStream.format("graft")
      .option("checkpointLocation", tmpDir("graft_cat8_ck2"))
      .toTable(n)
    q2.processAllAvailable(); q2.stop()
    assert(DataSkipping.readSkipping(s, t, col("id") >= 1000L).count() === 2L)
    assert(s.table(n).count() === 132L)
    s.sql(s"DROP TABLE $n")
  }

  test("CONVERT TO GRAFT <name> converts in place and flips the catalog provider") {
    val s = spark
    import s.implicits._
    val t = s"${tmpDir("graft_cat6")}/tbl"
    val n = freshName("cat_cvt")
    (0L until 120L).map(i => (i, i % 6, s"v$i")).toDF("id", "k", "v")
      .repartitionByRange(3, col("id")).write.parquet(t)
    s.sql(s"CREATE TABLE $n USING parquet LOCATION '$t'")
    assert(GraftSql.graftTableLocation(s, n).isEmpty)
    GraftSql.sql(s, s"CONVERT TO GRAFT $n STATS BY (id, k)")
    assert(GraftSql.graftTableLocation(s, n).nonEmpty,
      "CONVERT must flip the catalog provider to graft")
    // name DML now routes through the graft grammar
    assert(GraftSql.sql(s, s"DELETE FROM $n WHERE k = 2").head.getLong(1) === 20L)
    s.catalog.refreshTable(n)
    assert(s.table(n).count() === 100L)
    s.sql(s"DROP TABLE $n")
  }

  test("INSERT INTO by name computes generated and assigns identity columns") {
    val s = spark
    import s.implicits._
    val t = s"${tmpDir("graft_cat9")}/tbl"
    val n = freshName("cat_genid")
    // bootstrap: rid on the identity grid, day materialized once
    val base = (0L until 100L).map(i =>
      (i, java.sql.Timestamp.valueOf(s"2024-01-0${i % 5 + 1} 08:00:00"), s"v$i"))
      .toDF("rid", "ts", "v")
      .withColumn("day", to_date(col("ts")))
    DataSkipping.writeWithStats(base, t, Seq("rid"))
    DataSkipping.addGeneratedColumn(s, t, "day", "to_date(ts)")
    DataSkipping.addIdentityColumn(s, t, "rid", start = 0L, step = 1L)
    s.sql(s"CREATE TABLE $n USING graft LOCATION '$t'")
    try {
      // the V1 insert fills omitted columns with null literals; the
      // relation must DROP those so the append hooks compute the
      // generated day and assign fresh identity ids — the porting
      // user's INSERT INTO n (cols…) SELECT … just works
      s.sql(s"INSERT INTO $n (ts, v) SELECT " +
        "timestamp'2024-03-05 10:00:00', concat('w', id) FROM range(10)")
      s.catalog.refreshTable(n)
      val added = s.table(n).filter(col("v").startsWith("w"))
      assert(added.count() === 10L)
      assert(added.filter(col("day") ===
        lit(java.sql.Date.valueOf("2024-03-05"))).count() === 10L,
        "generated column must compute through the name-addressed insert")
      val rids = s.table(n).select("rid").collect().map(_.getLong(0))
      assert(rids.distinct.length === rids.length, "identity ids must be unique")
      assert(added.agg(min("rid")).head.getLong(0) >= 100L,
        "fresh identity ids start past the bootstrap watermark")
      // a SUPPLIED identity value still refuses loudly (full-schema
      // positional insert carries real values into rid) and the
      // table is untouched
      intercept[Exception] {
        s.sql(s"INSERT INTO $n SELECT id, timestamp'2024-03-06 10:00:00', " +
          "concat('x', id), NULL FROM range(5)")
      }
      s.catalog.refreshTable(n)
      assert(s.table(n).count() === 110L)
    } finally s.sql(s"DROP TABLE $n")
  }

  test("a small graft dim joined BY NAME auto-broadcasts (manifest-backed sizeInBytes)") {
    val s = spark
    import s.implicits._
    val t = s"${tmpDir("graft_cat7")}/dim"
    val n = freshName("cat_bcast")
    DataSkipping.writeWithStats(
      (0L until 200L).map(i => (i, s"name$i")).toDF("k", "label"), t, Seq("k"))
    s.sql(s"CREATE TABLE $n USING graft LOCATION '$t'")
    try {
      val rel = s.table(n).queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation
      }.get
      val live = DataSkipping.tableSizeInBytes(s, t)
      assert(live > 0L && rel.sizeInBytes === live,
        s"GraftRelation must report the manifest's live bytes, got " +
          s"${rel.sizeInBytes} vs $live")
      // the porter's first join: fact ⋈ spark.table(dim) under the
      // DEFAULT autoBroadcastJoinThreshold — a 10 KB dim must plan a
      // broadcast, not a both-sides shuffle (the V1 default size is
      // effectively infinite and always planned SMJ before this)
      val fact = s.range(0, 5000).select((col("id") % 200).as("k"),
        (col("id") * 2).as("amt"))
      val joined = fact.join(s.table(n), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"name-addressed graft dim should auto-broadcast, plan:\n$plan")
      assert(!"(?<!Broadcast)Exchange (hash|range)".r.findFirstIn(plan).isDefined,
        s"broadcast join must not shuffle either side, plan:\n$plan")
      assert(joined.count() === 5000L)
    } finally s.sql(s"DROP TABLE $n")
  }

  test("sizeInBytes tracks append and DELETE generations (DV-discounted)") {
    val s = spark
    import s.implicits._
    val t = s"${tmpDir("graft_cat8")}/tbl"
    DataSkipping.writeWithStats(
      (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v"), t, Seq("id"))
    val s0 = DataSkipping.tableSizeInBytes(s, t)
    assert(s0 > 0L)
    DataSkipping.appendWithStats(
      (1000L until 2000L).map(i => (i, s"v$i")).toDF("id", "v"), t, Seq("id"))
    val s1 = DataSkipping.tableSizeInBytes(s, t)
    assert(s1 > s0, s"append must grow the live size ($s0 -> $s1)")
    // merge-on-read DELETE: file bytes unchanged, live size discounts
    // by the dead-row fraction
    DataSkipping.deleteWhereDV(s, t, col("id") < 1000L)
    val s2 = DataSkipping.tableSizeInBytes(s, t)
    assert(s2 < s1 && s2 > 0L,
      s"DV delete must discount the live size ($s1 -> $s2)")
    // a fresh relation instance over the same path serves the new size
    val rel = new GraftRelation(s, t)
    assert(rel.sizeInBytes === s2)
    // copy-on-write delete shrinks real bytes too
    DataSkipping.deleteWhere(s, t, col("id") >= 1500L)
    val s3 = DataSkipping.tableSizeInBytes(s, t)
    assert(s3 < s2, s"CoW delete must shrink the live size ($s2 -> $s3)")
  }
}
