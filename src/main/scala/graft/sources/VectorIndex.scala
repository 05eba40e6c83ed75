package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.plans.VectorExpressions

/** A PERSISTED IVF-PQ retrieval index (the FAISS `IVFx,PQy` shape as
  * a standing table, not a per-query computation): [[build]] trains
  * the coarse centroids and PQ codebooks ONCE, freezes them in a
  * root-level sidecar, and stores the corpus as (id, codes) rows in a
  * graft stats table PARTITIONED BY CELL ID; [[search]] reads ONLY
  * the query batch's probed cells' files through the existing
  * manifest pruning; [[append]] encodes new vectors under the FROZEN
  * codebooks and lands them as a normal (optionally named,
  * exactly-once) partition-routed append.
  *
  * Why a standing index: the query-time ANN family
  * ([[Similarity.ivfPqTopK]] and friends) re-derives centroids and
  * codebooks per call — fine for one-shot analytics, impossible for
  * a serving index over a 100 TB corpus, where training must happen
  * once and every lookup must touch O(nProbe/nCenters) of the data.
  * Here a lookup reads the sidecar (KBs), plans through the manifest
  * (min=max cell stats on the partition directories), and scans only
  * the probed cells' code files — m small ints per row, never the
  * raw floats.
  *
  * EXACT-EQUALITY contract (the correctness gate): with the same
  * pinned seeds, [[search]] over a freshly-built index equals
  * [[Similarity.ivfPqTopK]] at equal `nProbe` bit-for-bit — the
  * stored codes are the same codegen'd [[graft.plans.PqEncode]]
  * output, the probe ranking the same [[graft.plans.NearestCentroids]]
  * order, the ADC the same [[graft.plans.PqAdc]] arithmetic. The
  * sidecar stores every float as its raw IEEE-754 bits, so a reopened
  * index replays identically.
  *
  * Appends inherit the storage layer's exactly-once contract: a
  * `commitName` makes the encode-and-append idempotent (the
  * [[DataSkipping.appendWithStats]] marker machinery), the shape a
  * streaming ingest of fresh embeddings needs.
  */
object VectorIndex {

  /** Root-level model file of indexes built before the model moved
    * into the generation ([[DataSkipping.VIndexFile]]). Never written;
    * an index that still has one is refused, not read.
    */
  val MetaFile = "_vector_index.txt"

  /** The frozen index model: training parameters plus the exact
    * centroid / codebook floats.
    */
  final case class Meta(
      idCol: String, vecCol: String, dim: Int,
      nCenters: Int, m: Int, ksub: Int, residual: Boolean,
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]])

  // ------------------------------------------------------------------
  // build
  // ------------------------------------------------------------------

  /** Train on `corpus` and persist the index at `path` (CREATE OR
    * REPLACE semantics — rebuilding over a live index is a normal
    * overwrite generation). Seeds pin training rows for
    * oracle-replayable builds, exactly as in
    * [[Similarity.ivfPqTopK]]; `residual = true` stores each
    * vector's PQ codes against its cell centroid's residual (the
    * FAISS default — see [[Similarity.ivfPqTopK]]'s rationale).
    */
  def build(spark: SparkSession, corpus: DataFrame,
      idCol: String, vecCol: String, path: String,
      nCenters: Int = 16, m: Int = 8, ksub: Int = 16,
      coarseSeedIds: Option[Seq[Long]] = None,
      pqSeedIds: Option[Seq[Long]] = None,
      lloydRounds: Int = 0,
      residual: Boolean = false): Unit = {
    graft.plans.GraftFunctions.register(spark)
    val centroids = Similarity.seedCentroids(corpus, idCol, vecCol,
      nCenters, coarseSeedIds, lloydRounds)
    val dim = centroids.headOption.map(_.length).getOrElse(
      sys.error("cannot build a vector index over an empty corpus"))
    val (books, coded) =
      if (!residual) {
        val b = Similarity.pqCodebooks(corpus, idCol, vecCol, m, ksub,
          pqSeedIds, lloydRounds)
        (b, encodeRaw(corpus, idCol, vecCol, centroids, b))
      } else {
        val resid = residualFrame(spark, corpus, idCol, vecCol, centroids)
        val b = Similarity.pqCodebooks(resid, idCol, "__resid", m, ksub,
          pqSeedIds, lloydRounds)
        (b, resid.select(col(idCol).as("id"), col("cid"),
          Similarity.pqEncodeCol(col("__resid"), b).as("codes")))
      }
    // one file per cell is the serving layout: the append tail is
    // compacted by normal OPTIMIZE cadence later. The model rides the
    // SAME generation commit as the codes ([[DataSkipping.VIndexFile]]
    // sidecar): a rebuild over a live index swaps (model, codes) in
    // one atomic overwrite — a concurrent [[search]] can never pair
    // new codes with an old model — and the superseded generation
    // keeps ITS model for time travel ([[metaAt]]).
    DataSkipping.writeWithStats(
      coded.repartition(col("cid")), path,
      statsCols = Seq("id"), bloomCols = Nil,
      partitionBy = Seq("cid"),
      extraSidecars = Map(DataSkipping.VIndexFile -> serializeMeta(
        Meta(idCol, vecCol, dim, nCenters, m, ksub, residual,
          centroids, books))))
  }

  // ------------------------------------------------------------------
  // append
  // ------------------------------------------------------------------

  /** Encode `vectors` (same id/vec columns the index was built with)
    * under the FROZEN codebooks and append them to their cells.
    * Returns false iff `commitName` names an already-delivered batch
    * (the exactly-once replay short-circuit). The admission-gate
    * shape: new data joins a standing model without retraining —
    * recall for vectors far from every training row degrades
    * gracefully (they still land in their nearest cell), which is the
    * documented IVF-PQ trade until the next [[build]].
    */
  def append(spark: SparkSession, vectors: DataFrame, path: String,
      commitName: Option[String] = None): Boolean = {
    val mt = meta(spark, path)
    graft.plans.GraftFunctions.register(spark)
    val coded =
      if (!mt.residual)
        encodeRaw(vectors, mt.idCol, mt.vecCol, mt.centroids, mt.codebooks)
      else {
        val resid = residualFrame(spark, vectors, mt.idCol, mt.vecCol, mt.centroids)
        resid.select(col(mt.idCol).as("id"), col("cid"),
          Similarity.pqEncodeCol(col("__resid"), mt.codebooks).as("codes"))
      }
    DataSkipping.appendWithStats(coded, path, Seq("id"), commitName)
  }

  // ------------------------------------------------------------------
  // search
  // ------------------------------------------------------------------

  /** Top-k ADC search against the standing index: rank `nProbe`
    * cells per query, scan ONLY those cells' code files (manifest
    * pruning on the cell partition column), score by asymmetric
    * distance, return (query_id, neighbor_id, cosine, rank) in
    * [[Similarity.topKPerQuery]] order. Equals
    * [[Similarity.ivfPqTopK]] with the same model exactly.
    */
  def search(spark: SparkSession, queries: DataFrame, path: String,
      k: Int, nProbe: Int, excludeSelf: Boolean = true): DataFrame = {
    // SNAPSHOT consistency under concurrent rebuild/OPTIMIZE: pin ONE
    // version and take BOTH the model and the codes from it — the
    // model sidecar lives inside the generation, so (model, codes)
    // can never mix epochs. A path without generations fails in
    // meta().
    val pin = DataSkipping.tableVersions(spark, path).maxOption
    val mt = pin.map(metaAt(spark, path, _)).getOrElse(meta(spark, path))
    require(nProbe >= 1 && nProbe <= mt.nCenters, "1 <= nProbe <= nCenters")
    graft.plans.GraftFunctions.register(spark)
    val probes0 = queries
      .select(col(mt.idCol).as("query_id"), col(mt.vecCol).as("__qvec"))
      .withColumn("cid", explode(
        VectorExpressions.nearestCentroids(col("__qvec"), mt.centroids, nProbe)))
    // the probed cell set is tiny (<= |query batch| x nProbe ints) —
    // collecting it is what turns the scan into a manifest prune
    val cids = probes0.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (cids.isEmpty)
      return spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row],
        Similarity.topKPerQuery(
          probes0.select(col("query_id"),
            col("query_id").as("neighbor_id"), lit(0.0).as("cosine")),
          k).schema)
    val coded = probedScan(spark, path, cids, pin)
    val probes =
      if (!mt.residual) probes0
      else probes0.join(broadcast(centroidFrame(spark, mt.centroids)), Seq("cid"))
        .withColumn("__qc", VectorExpressions.dot(col("__qvec"), col("__cvec")))
        .drop("__cvec")
    val adc = Similarity.pqAdcCol(col("__qvec"), col("codes"), mt.codebooks)
    val scored = coded.join(broadcast(probes), Seq("cid"))
      .filter(if (excludeSelf) col("query_id") =!= col("id") else lit(true))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (if (mt.residual) col("__qc") + adc else adc).as("cosine"))
    Similarity.topKPerQuery(scored, k)
  }

  /** The pruned coded scan for a probed cell set — exposed so gates
    * can assert the FILE SUBSET property (`inputFiles` of this frame
    * vs the manifest) independently of search results.
    */
  def probedScan(spark: SparkSession, path: String, cids: Seq[Int],
      version: Option[Long] = None): DataFrame =
    version.fold(
        DataSkipping.readSkipping(spark, path, col("cid").isin(cids: _*)))(
        v => DataSkipping.readSkippingAt(spark, path, v,
          col("cid").isin(cids: _*)))
      .select(col("id"), col("cid"), col("codes"))

  /** Per-cell corpus balance — `(cid, n_vectors)`, the serving-health
    * probe for hot/empty cells (skewed cells mean probes read too
    * much and recall drifts — the signal to retrain with [[build]]).
    * Expressed as a plain grouped count over the cell PARTITION
    * column, so under `graft.plans.GraftExtensions` the grouped
    * metadata pushdown answers it from the MANIFEST — O(files), zero
    * data read at any index size — and without extensions it is still
    * exact (a normal m-int-codes scan).
    */
  def cellStats(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft").load(path)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_vectors"))

  /** The frozen model serving the CURRENT generation (the
    * [[DataSkipping.VIndexFile]] sidecar). Fails loudly if `path`
    * holds none.
    */
  def meta(spark: SparkSession, path: String): Meta =
    metaOption(spark, path).getOrElse(throw new IllegalArgumentException(
      s"no vector index at $path (no ${DataSkipping.VIndexFile} " +
        "generation sidecar)"))

  /** [[meta]], or None when `path` holds no index — an index whose
    * model still sits in the root-level [[MetaFile]] is refused.
    */
  def metaOption(spark: SparkSession, path: String): Option[Meta] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    DataSkipping.readSidecarIn(fs,
        DataSkipping.manifestDirOf(fs, path), DataSkipping.VIndexFile)
      .map(parseMeta(_, path))
      .orElse { refuseRootModel(fs, path); None }
  }

  private def refuseRootModel(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit =
    if (fs.exists(new Path(path, MetaFile)))
      DataSkipping.refuseLegacyLayout(path,
        s"root-level $MetaFile vector-index model (no generation sidecar)")

  /** The model that served VERSION `v` — paired with
    * `readSkippingAt(path, v)` this is a consistent historical index
    * snapshot (bounded by the vacuum retention, like all time
    * travel).
    */
  def metaAt(spark: SparkSession, path: String, version: Long): Meta = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = s"$path/${DataSkipping.StatsDir}/v$version"
    DataSkipping.readSidecarIn(fs, gen, DataSkipping.VIndexFile)
      .map(parseMeta(_, path))
      .getOrElse {
        refuseRootModel(fs, path)
        throw new IllegalArgumentException(
          s"version $version of $path carries no index model")
      }
  }

  private def parseMeta(text: String, path: String): Meta = {
    val kv = text.linesIterator.filter(_.contains(' '))
      .map { l => val i = l.indexOf(' '); l.substring(0, i) -> l.substring(i + 1) }
      .toMap
    require(kv.get("format").contains("graft-vector-index-v1"),
      s"unrecognized vector-index sidecar format at $path")
    val dim = kv("dim").toInt
    val nCenters = kv("ncenters").toInt
    val m = kv("m").toInt
    val ksub = kv("ksub").toInt
    val dsub = dim / m
    def floats(key: String): Array[Float] =
      kv(key).split(',').map(b => java.lang.Float.intBitsToFloat(b.toInt))
    val cents = floats("centroids").grouped(dim).toArray
    require(cents.length == nCenters, "centroid payload size mismatch")
    val flat = floats("codebooks")
    require(flat.length == m * ksub * dsub, "codebook payload size mismatch")
    val books = Array.tabulate(m)(j => Array.tabulate(ksub)(c =>
      flat.slice((j * ksub + c) * dsub, (j * ksub + c + 1) * dsub)))
    Meta(kv("idcol"), kv("veccol"), dim, nCenters, m, ksub,
      kv("residual").toBoolean, cents, books)
  }

  // ------------------------------------------------------------------
  // internals
  // ------------------------------------------------------------------

  private def encodeRaw(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]],
      books: Array[Array[Array[Float]]]): DataFrame =
    corpus.select(col(idCol).as("id"),
      Similarity.nearestCentroidId(col(vecCol), centroids).as("cid"),
      Similarity.pqEncodeCol(col(vecCol), books).as("codes"))

  /** (id, cid, __resid) — the residual-formation frame, arithmetic
    * identical to [[Similarity.ivfPqTopK]]'s residual branch (float32
    * zip_with subtraction against the broadcast centroid lookup).
    */
  private def residualFrame(spark: SparkSession, corpus: DataFrame,
      idCol: String, vecCol: String,
      centroids: Array[Array[Float]]): DataFrame =
    corpus.select(col(idCol), col(vecCol),
        Similarity.nearestCentroidId(col(vecCol), centroids).as("cid"))
      .join(broadcast(centroidFrame(spark, centroids)), Seq("cid"))
      .withColumn("__resid",
        zip_with(col(vecCol), col("__cvec"), (a, b) => a - b))

  private def centroidFrame(spark: SparkSession,
      centroids: Array[Array[Float]]): DataFrame =
    spark.createDataFrame(
      centroids.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
      .toDF("cid", "__cvec")

  private def serializeMeta(mt: Meta): String = {
    val dsub = mt.dim / mt.m
    val sb = new StringBuilder
    sb.append("format graft-vector-index-v1\n")
    sb.append(s"idcol ${mt.idCol}\n")
    sb.append(s"veccol ${mt.vecCol}\n")
    sb.append(s"dim ${mt.dim}\n")
    sb.append(s"ncenters ${mt.nCenters}\n")
    sb.append(s"m ${mt.m}\n")
    sb.append(s"ksub ${mt.ksub}\n")
    sb.append(s"residual ${mt.residual}\n")
    // raw IEEE-754 bits: the reopened model is the trained model,
    // bit for bit — decimal round-trips have no business in a gate
    // that asserts exact equality with the query-time pipeline
    sb.append("centroids ")
    sb.append(mt.centroids.iterator.flatten
      .map(java.lang.Float.floatToRawIntBits).mkString(","))
    sb.append("\ncodebooks ")
    sb.append((for (j <- 0 until mt.m; c <- 0 until mt.ksub; x <- 0 until dsub)
      yield java.lang.Float.floatToRawIntBits(mt.codebooks(j)(c)(x)))
      .mkString(","))
    sb.append("\n")
    sb.toString
  }
}
