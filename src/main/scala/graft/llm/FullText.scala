package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Catalog

/** Full-text keyword search with BM25 ranking — the reference's fts
  * extension surface (/root/reference/extension/fts/fts_indexing.cpp
  * builds term→doc postings; fts_main.cpp scores match_bm25), rebuilt
  * Spark-first.
  *
  * Two paths:
  *  - [[bm25TopK]]: index-free scoring over the corpus — one scan,
  *    only query-term postings ever shuffle (the explode is filtered
  *    to query terms BEFORE the tf groupBy).
  *  - [[writeFtsIndex]]/[[searchFtsIndex]]: a persisted inverted index
  *    partitioned by term-hash bucket (the same on-disk shape as the
  *    persisted IVF index, Similarity.writeIvfIndex): build once, then
  *    a query reads ONLY the partition directories its terms hash to —
  *    at 100 TB a 3-term query touches 3/nBuckets of the postings, not
  *    the corpus.
  *
  * Postings are denormalized: each row carries (term, id, tf, dl, df)
  * so scoring needs NO join against a corpus-sized side at query time
  * (dl and df are baked in at build; classic impact-style layout).
  * Corpus stats (N, avgdl) live in a one-row parquet.
  *
  * Scores are emitted as integer micro-units (floor(x*1e6+0.5)):
  * per-(doc,term) scores are deterministic double expressions, and the
  * per-doc SUM is then exact integer arithmetic — order-independent
  * WITHIN one engine, so ranking is reproducible across partitionings
  * and reruns. It is NOT bit-reproducible across engines: `ln` and
  * double division can differ in the last ulp between the JVM and
  * another engine's libm, and any fixed-point grid turns a 1-ulp
  * difference at a grid boundary into a ±1 integer difference. Cross-
  * engine comparisons must therefore use [[bm25TopKPortable]], which
  * ranks by the float score (distinct (tf, df, dl) inputs give scores
  * separated far beyond one ulp, and exact ties are broken by doc id)
  * but emits only exactly-portable integers: rank position, doc id,
  * matched-term count, total tf, and dl.
  */
object FullText {

  val K1 = 1.2
  val B  = 0.75

  /** BM25 per-(doc,term) score. Okapi idf with the +1 floor (Lucene
    * form): ln(1 + (N - df + 0.5)/(df + 0.5)) — never negative.
    */
  def bm25TermScore(tf: Column, df: Column, dl: Column,
                    n: Column, avgdl: Column): Column = {
    val idf = log(lit(1.0) +
      (n.cast("double") - df.cast("double") + lit(0.5)) /
        (df.cast("double") + lit(0.5)))
    val tfd = tf.cast("double")
    idf * (tfd * (K1 + 1.0)) /
      (tfd + lit(K1) * (lit(1.0 - B) + lit(B) * dl.cast("double") / avgdl))
  }

  /** Fixed-point micro-units: deterministic HALF_UP without the
    * per-value BigDecimal that Spark's round() allocates.
    */
  private def micro(x: Column): Column =
    floor(x * 1e6 + 0.5).cast("long")

  private def tokens(text: Column): Column = split(text, " ")

  /** Index-free BM25 top-k for a fixed term set. Plan shape: scan →
    * explode filtered to query terms (tiny) → tf groupBy → broadcast
    * df + stats → top-k via TakeOrderedAndProject.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int): DataFrame = {
    val base = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), size(col("toks")).as("dl"), col("toks"))
    val stats = base.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tf = base
      .select(col("id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isInCollection(terms))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("id"),
        micro(bm25TermScore(col("tf"), col("df"), col("dl"),
          col("n"), col("avgdl"))).as("s"))
      .groupBy(col("id"))
      .agg(sum(col("s")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("id"))
      .limit(k)
  }

  /** Cross-engine-portable BM25 top-k: same retrieval plan as
    * [[bm25TopK]], but the output carries only integers that every
    * engine computes identically — (rank, doc id, n_terms, tf_sum, dl)
    * — while the ulp-sensitive float score is used ONLY to order.
    * Ordering by the raw double is robust: docs with different
    * (tf, df, dl) tuples score apart by far more than one ulp, and
    * docs with identical tuples score exactly equal in each engine and
    * fall to the doc-id tiebreak. The 20-row rank window runs AFTER
    * TakeOrderedAndProject, so the single-partition sort it implies
    * only ever sees k rows.
    */
  def bm25TopKPortable(docs: DataFrame, idCol: String, textCol: String,
                       terms: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), size(col("toks")).as("dl"), col("toks"))
    val stats = base.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tf = base
      .select(col("id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isInCollection(terms))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val topk = tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("id"), col("dl"), col("tf"),
        bm25TermScore(col("tf"), col("df"), col("dl"),
          col("n"), col("avgdl")).as("s"))
      .groupBy(col("id"), col("dl"))
      .agg(sum(col("s")).as("score"),
        count(lit(1)).as("n_terms"), sum(col("tf")).as("tf_sum"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
    topk
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("score").desc, col("id")))
          .cast("bigint"))
      .select(col("rnk"), col("id").as("doc_id"), col("n_terms"),
        col("tf_sum"), col("dl").cast("bigint").as("dl"))
  }

  /** Term → partition bucket. Stable hash so a query can compute its
    * terms' buckets without touching the index.
    */
  def termBucket(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong)).cast("int")

  /** Build a persisted inverted index:
    *   dir/postings/bucket=<b>/  (term, id, tf, dl, df)
    *   dir/stats/                (n, avgdl) — one row
    * One shuffle for tf, one broadcast-back of df; the partitioned
    * write lays postings out for partition-pruned probes.
    */
  def writeFtsIndex(docs: DataFrame, idCol: String, textCol: String,
                    dir: String, nBuckets: Int = 64): Unit = {
    val base = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), size(col("toks")).as("dl"), col("toks"))
    base.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/stats")
    val tf = base
      .select(col("id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(df, Seq("term")) // term-keyed shuffle join: both sides big, co-partitioned
      .select(col("term"), col("id"), col("tf"), col("dl"), col("df"),
        termBucket(col("term"), nBuckets).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings")
  }

  /** Build-once persisted FTS index keyed by a corpus fingerprint
    * (same discipline as [[Similarity.ensureIvfIndex]]). */
  def ensureFtsIndex(docs: DataFrame, idCol: String, textCol: String,
                     nBuckets: Int): String = {
    val fp = Similarity.corpusFingerprint(docs, s"fts;b=$nBuckets;v=1")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_fts_$fp"
    Similarity.ensureBuilt(docs.sparkSession, dir) {
      writeFtsIndex(docs, idCol, textCol, dir, nBuckets)
    }
    dir
  }

  /** Index search emitting the same cross-engine-portable shape as
    * [[bm25TopKPortable]] — (rank, doc id, n_terms, tf_sum, dl), the
    * float score used only to order. The postings already carry
    * (tf, df, dl) per (term, doc) and stats (n, avgdl), so the scored
    * frame is identical to the index-free one and the SAME DuckDB
    * oracle gates both paths (r13: upgrades s06 from rows-only).
    */
  def searchFtsIndexPortable(spark: SparkSession, dir: String,
                             terms: Seq[String], k: Int,
                             nBuckets: Int = 64): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val buckets = terms.toDF("t")
      .select(termBucket(col("t"), nBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val stats = Catalog.parquet(spark, s"$dir/stats")
    val topk = Catalog.parquet(spark, s"$dir/postings")
      .filter(col("bucket").isInCollection(buckets))
      .filter(col("term").isInCollection(terms))
      .crossJoin(broadcast(stats))
      .select(col("id"), col("dl"), col("tf"),
        bm25TermScore(col("tf"), col("df"), col("dl"),
          col("n"), col("avgdl")).as("s"))
      .groupBy(col("id"), col("dl"))
      .agg(sum(col("s")).as("score"),
        count(lit(1)).as("n_terms"), sum(col("tf")).as("tf_sum"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
    topk
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("score").desc, col("id")))
          .cast("bigint"))
      .select(col("rnk"), col("id").as("doc_id"), col("n_terms"),
        col("tf_sum"), col("dl").cast("bigint").as("dl"))
  }

  /** Search a persisted index: reads ONLY the buckets the query terms
    * hash to (partition filter on `bucket` — static pruning, visible
    * as PartitionFilters in the scan), scores, top-k. No corpus scan,
    * no driver-resident index.
    */
  def searchFtsIndex(spark: SparkSession, dir: String,
                     terms: Seq[String], k: Int,
                     nBuckets: Int = 64): DataFrame = {
    import spark.implicits._
    // mirror termBucket with one LocalRelation eval (not a hand-rolled
    // driver-side xxhash64 that could drift from the engine's)
    val buckets = terms.toDF("t")
      .select(termBucket(col("t"), nBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val stats = Catalog.parquet(spark, s"$dir/stats")
    Catalog.parquet(spark, s"$dir/postings")
      .filter(col("bucket").isInCollection(buckets)) // partition-pruned read
      .filter(col("term").isInCollection(terms))
      .crossJoin(broadcast(stats))
      .select(col("id"),
        micro(bm25TermScore(col("tf"), col("df"), col("dl"),
          col("n"), col("avgdl"))).as("s"))
      .groupBy(col("id"))
      .agg(sum(col("s")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("id"))
      .limit(k)
  }
}
