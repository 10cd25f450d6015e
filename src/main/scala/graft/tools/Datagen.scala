package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Catalog

/** Deterministic scale-up of the test star schema: every base row is
  * replicated `factor` times with keys remapped to `key*factor + r`,
  * so foreign keys stay consistent (each orders replica joins the
  * same-replica customer), per-key cardinalities and date/value
  * selectivities are preserved exactly, and the output is a function
  * of (input, factor) only — no RNG, reruns are bit-stable.
  *
  * Documents get a one-token suffix per replica (r>0), turning every
  * base document into a 10-member NEAR-duplicate cluster — the honest
  * workload for the dedup pipelines at scale. Embeddings perturb one
  * coordinate per replica so ANN sees distinct-but-close vectors.
  *
  * Usage: runMain graft.tools.Datagen <srcSfDir> <dstDir> [factor]
  * e.g.   runMain graft.tools.Datagen /root/testdata/sf0.1 /tmp/graftdata/sf1 10
  */
object Datagen {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame = Catalog.table(spark, src, name)

    /** Cross every row with replica ids 0..factor-1. */
    def widen(df: DataFrame): DataFrame =
      df.withColumn("r", explode(sequence(lit(0L), lit(factor - 1L))))

    def write(df: DataFrame, name: String, files: Int): Unit =
      df.repartition(files)
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")

    def scaleKey(c: String): org.apache.spark.sql.Column =
      (col(c) * factor + col("r")).as(c)

    // fixed dims: copy through unchanged
    write(t("region"), "region", 1)
    write(t("nation"), "nation", 1)

    write(widen(t("customer")).select(
      scaleKey("c_custkey"),
      concat(col("c_name"), lit("_"), col("r")).as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer", math.max(1, factor / 5))

    write(widen(t("supplier")).select(
      scaleKey("s_suppkey"),
      concat(col("s_name"), lit("_"), col("r")).as("s_name"),
      col("s_nationkey"), col("s_acctbal")),
      "supplier", 1)

    write(widen(t("part")).select(
      scaleKey("p_partkey"),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")),
      "part", math.max(1, factor / 5))

    write(widen(t("orders")).select(
      scaleKey("o_orderkey"), scaleKey("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")),
      "orders", factor)

    // lineitem: orderkey follows its order's replica; part/supplier
    // replicas are mixed deterministically so item popularity spreads
    // across replicas instead of forming disjoint sub-universes
    write(widen(t("lineitem")).select(
      scaleKey("l_orderkey"),
      (col("l_partkey") * factor +
        pmod(col("l_orderkey") + col("l_linenumber") + col("r"), lit(factor.toLong)))
        .as("l_partkey"),
      (col("l_suppkey") * factor +
        pmod(col("l_orderkey") * 7 + col("r"), lit(factor.toLong)))
        .as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")),
      "lineitem", factor * 2)

    write(widen(t("events")).select(
      scaleKey("event_id"), col("ts"), scaleKey("user_id"),
      col("event_type"), col("value"), col("props")),
      "events", factor)

    // near-dup clusters: replica 0 is the original; r>0 appends one
    // token → jaccard stays high (near-dup), content hash differs
    val docs = widen(t("documents")).select(
      scaleKey("doc_id"),
      when(col("r") === 0, col("text"))
        .otherwise(concat(col("text"), lit(" rep"), col("r"))).as("text"),
      col("lang"), col("source"))
    // file count preserves the SOURCE's bytes-per-file (r15): the old
    // max(1, factor/5) rule wrote sf30 (factor 3) documents as ONE
    // 84 MB-compressed file with ONE row group, which serialized every
    // dedup kernel scan to a single task (OPTIMIZATION_r15.md: d03's
    // sf30 scan stage = 28.5 s wall ≈ sumRun, 88% of the query) — the
    // r14 sf30 "exponents" measured that storage floor, not the
    // operators.
    // Row groups are the scan-parallelism floor (guide §6), so output
    // files must multiply with the data.
    def srcFiles(name: String): Int =
      Option(new java.io.File(s"$src/$name.parquet").listFiles)
        .map(_.count(f => f.getName.startsWith("part-"))).getOrElse(1).max(1)
    write(docs.withColumn("n_chars", length(col("text")).cast("long")),
      "documents", srcFiles("documents") * factor)

    write(widen(t("embeddings")).select(
      scaleKey("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, x + col("r").cast("float") * lit(0.001f)).otherwise(x))
        .as("embedding"),
      col("label")),
      "embeddings", math.max(1, factor / 5))

    println(s"""{"datagen":"done","src":"$src","dst":"$dst","factor":$factor}""")
    spark.stop()
  }
}
