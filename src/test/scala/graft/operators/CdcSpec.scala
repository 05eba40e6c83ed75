package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CdcSpec extends SparkSpec {

  test("applyChanges: delete wins when newest, stale delete ignored, re-insert works") {
    val s = spark
    import s.implicits._
    val current = Seq((1, 2, 10), (2, 1, 20)).toDF("k", "seq", "v")
    val updates = Seq(
      (1, 3, 0, "D"),  // newest for k=1 -> key deleted
      (2, 0, 99, "D"), // older than current k=2 row -> ignored
      (3, 1, 30, "U")) // new key
      .toDF("k", "seq", "v", "op")

    val merged = Cdc.applyChanges(current, updates,
      keys = Seq("k"), seqCols = Seq("seq"), payload = Seq("v"),
      deleteWhen = col("op") === "D")
    val state = merged.collect().map(r => r.getInt(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(state === Map(2 -> ((1, 20)), 3 -> ((1, 30))))

    // a row NEWER than the delete re-inserts the key
    val reinserted = Cdc.applyChanges(merged,
      Seq((1, 4, 11, "U")).toDF("k", "seq", "v", "op"),
      keys = Seq("k"), seqCols = Seq("seq"), payload = Seq("v"),
      deleteWhen = col("op") === "D")
      .collect().map(r => r.getInt(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(reinserted === Map(1 -> ((4, 11)), 2 -> ((1, 20)), 3 -> ((1, 30))))
  }

  test("equal-seq delete vs update: the delete wins regardless of payload values") {
    val s = spark
    import s.implicits._
    val current = Seq((1, 0, 5), (2, 0, 5)).toDF("k", "seq", "v")
    // k=1: delete payload (0) SORTS BELOW the update payload (99);
    // k=2: delete payload (100) sorts above the update (7). Both keys
    // must resolve the same way — delete wins — proving the outcome is
    // the stated precedence rule, not a payload comparison.
    val updates = Seq(
      (1, 3, 0, "D"), (1, 3, 99, "U"),
      (2, 3, 100, "D"), (2, 3, 7, "U"))
      .toDF("k", "seq", "v", "op")
    val state = Cdc.applyChanges(current, updates,
      keys = Seq("k"), seqCols = Seq("seq"), payload = Seq("v"),
      deleteWhen = col("op") === "D")
    assert(state.collect().isEmpty)
  }

  test("applyChanges: null delete condition counts as not-delete") {
    val s = spark
    import s.implicits._
    val current = Seq((1, 1, 10)).toDF("k", "seq", "v")
    val updates = Seq((1, 2, 11, null.asInstanceOf[String]))
      .toDF("k", "seq", "v", "op")
    val state = Cdc.applyChanges(current, updates,
      keys = Seq("k"), seqCols = Seq("seq"), payload = Seq("v"),
      deleteWhen = col("op") === "D")
      .collect().map(r => r.getInt(0) -> r.getInt(2)).toMap
    assert(state === Map(1 -> 11))
  }
}
