package posbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A benchmark workload: builds its starting tables, then runs a closed
  * loop of cycles whose count is fixed by the run length.
  */
trait Workload {
  def name: String
  /** Cycles per second of run length: fixes the timed work. */
  def cyclesPerSecond: Double
  def setup(spark: SparkSession, gen: Gen, root: Path): Instance
}

/** A workload bound to one storage root after set-up. */
trait Instance {
  /** Directory holding everything the program stores. */
  def storageRoot: Path
  /** Graft tables, for the manifest, deletion-vector and file counts. */
  def graftTables: Seq[String]
  /** One untimed cycle, so lazy set-up and code generation are done. */
  def warmup(ctx: Ctx): Unit
  /** Cycles `from` until `until` of the loop. */
  def run(ctx: Ctx, from: Int, until: Int): Unit
  /** Output checks against a plain-Spark formulation; None when equal. */
  def check(): Option[String]
  /** Every live table's rows, each to be written once as plain parquet. */
  def liveTables: Seq[DataFrame]
  /** Rows the timed writes submitted or produced, for write amplification. */
  def userRows: Seq[DataFrame]
  /** Fingerprint of every generated input. */
  def inputFingerprint: String
  /** Measured sizes of the starting and final state. */
  def sizes: Map[String, Any]
}

object Workload {
  val all: Seq[Workload] = Seq(PosCdcStream, TableOps, GoldBackfill)

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def sha256(parts: Iterator[Array[Byte]]): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(d.update)
    d.digest().take(12).map(b => f"$b%02x").mkString
  }

  /** Equal row counts and order-independent hashes, or the mismatch. */
  def compare(what: String, got: DataFrame, want: DataFrame): Option[String] = {
    val cols = want.columns.toSeq
    val g = Gen.fingerprint(got.select(cols.map(got.col): _*))
    val w = Gen.fingerprint(want)
    if (g == w) None else Some(s"$what: got $g, want $w")
  }
}
