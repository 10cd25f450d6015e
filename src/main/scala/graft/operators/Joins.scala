package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators beyond plain equi-joins, expressed Spark-first.
  *
  * Reference surface covered here:
  *  - theta (non-equi) join — the fork's AM_US_JOIN nested-loop
  *    operator (/root/reference/src/execution/am_us_join/
  *    am_us_join_inner.cpp); in Spark a declarative non-equi condition
  *    plans to BroadcastNestedLoopJoin when one side is small.
  *  - semi / anti / mark joins (physical_am_us_join.cpp handles MARK) —
  *    Spark: left_semi / left_anti / null-aware NOT IN.
  *  - ASOF join (stock DuckDB `ASOF JOIN`).
  *  - range (interval) join.
  *  - POSITIONAL join (stock DuckDB).
  */
object Joins {

  /** Non-equi ("theta") join. Declarative condition; Catalyst plans
    * BroadcastNestedLoopJoin when a side fits the broadcast threshold —
    * the Spark analog of the reference's AM_US_JOIN. At 100 TB keep the
    * broadcast side a dim table; a fact-fact theta join should be
    * rewritten as a banded/range join instead (see [[rangeJoin]]).
    *
    * The right side is broadcast UNCONDITIONALLY by the hint, so an
    * unbroadcastable (fact-sized) right side would OOM an executor
    * with no message. Guard: refuse loudly when the optimizer's size
    * estimate for the right side exceeds
    * `spark.graft.thetaJoin.maxBroadcastBytes` (default 512 MB —
    * comfortably past every dim table, far under executor memory).
    * The refusal names the alternative: the reference runs fact×fact
    * inequality joins through a merge-based IEJoin
    * (/root/reference/src/execution/operator/join/physical_iejoin.cpp);
    * here, re-express as a banded equi-key [[rangeJoin]] so the band
    * key carries the shuffle, or raise the cap deliberately.
    */
  def thetaJoin(left: DataFrame, right: DataFrame, cond: Column): DataFrame = {
    val maxBytes = right.sparkSession.conf
      .get("spark.graft.thetaJoin.maxBroadcastBytes", (512L << 20).toString)
      .toLong
    val est = right.queryExecution.optimizedPlan.stats.sizeInBytes
    require(est <= maxBytes,
      s"thetaJoin: right side estimates $est bytes > " +
      s"$maxBytes (spark.graft.thetaJoin.maxBroadcastBytes) — an " +
      "unconditional broadcast of a fact-sized side would OOM. " +
      "Re-express the inequality as a banded equi-key rangeJoin " +
      "(the scalable analog of the reference's IEJoin, " +
      "physical_iejoin.cpp), or raise the cap deliberately.")
    left.join(broadcast(right), cond, "inner")
  }

  /** ASOF join with payload — the one union-and-window ASOF plan, used
    * by the q31 hand plan and, for every `ASOF … ON` statement, by
    * plans/AsofJoinRule. For each left row, attach the
    * payload columns of the latest right row with rightTime <= leftTime
    * on the same key (LEFT ASOF semantics — unmatched left rows keep
    * NULL payloads). Matches DuckDB's `ASOF LEFT JOIN` (reference
    * /root/reference/src/execution/operator/join/physical_asof_join.cpp
    * semantics; that operator partitions by key and sorts by time —
    * the same plan shape used here).
    *
    * Plan: union the two sides tagged left/right, then one running
    * `last(payload, ignoreNulls)` window per payload column over
    * (PARTITION BY key ORDER BY time, rightFirst ROWS UNBOUNDED
    * PRECEDING). ONE shuffle + one sort, zero pair space — a hot key
    * with 10⁵ left × 10⁴ right rows costs 1.1×10⁵ sorted rows, not
    * 10⁹ intermediate pairs (the join+max formulation this replaces).
    *
    * For a deterministic payload make the right side unique per
    * (key, time) first (e.g. pre-aggregate with max_by) — same
    * requirement DuckDB's ASOF has for a well-defined tie answer.
    *
    * `pruneBuild = false` skips the internal probe-key semi prune —
    * pass it when the caller already pruned the build side (e.g. below
    * a pre-aggregation), so the prune isn't paid twice.
    *
    * All payload columns are carried as ONE struct per right row, so
    * the output always holds the *matched* right row's values — its
    * genuine NULL payload fields included — exactly like DuckDB's
    * ASOF LEFT JOIN. (Carrying each column through its own
    * last(ignoreNulls) window would stitch together values from
    * different right rows whenever the matched row has a NULL field.)
    */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column,
      payload: Seq[String],
      direction: String = ">=",
      leftOuter: Boolean = true,
      rightOuter: Boolean = false,
      pruneBuild: Boolean = true): DataFrame = {
    val leftCols = left.columns.toSeq
    val mType = org.apache.spark.sql.types.StructType(
      payload.map(p => right.schema(p)))
    // the times order as they are when their types agree (always so
    // from AsofJoinRule, after coercion); otherwise, as for q31's DATE
    // against TIMESTAMP, both as TIMESTAMP
    val sameType =
      left.select(leftTime).schema.head.dataType == right.select(rightTime).schema.head.dataType
    def time(t: Column): Column = if (sameType) t else t.cast("timestamp")
    val l = left
      .withColumn("__k", leftKey)
      .withColumn("__t", time(leftTime))
      .withColumn("__isl", lit(1))
      // null struct on left rows → skipped by last(ignoreNulls)
      .withColumn("__m", lit(null).cast(mType))
      .select(Seq(col("__k"), col("__t"), col("__isl"), col("__m")) ++
        leftCols.map(col): _*)
    // Prune the build side to keys the probe actually holds BEFORE
    // anything sorts: right rows whose key never appears on the left
    // can't match, yet they'd flow through the union's partition sort
    // — a major cost when the probe's key set is much smaller than
    // the build's (q31: ~1.5k event users vs millions of custkeys;
    // measured 5.1–15 s → 4.4–4.8 s at sf10 — the residual is the
    // build side's own pre-aggregation, which no join-side prune can
    // touch). The distinct key set is
    // an aggregate of the (narrow) probe keys; AQE broadcasts it when
    // small, so the semi join adds no shuffle of the build side in
    // exactly the case it helps most.
    val probeKeys = l.select(col("__k")).distinct()
    val r0 = right.withColumn("__k", rightKey)
    val r = (
      // right-outer keeps unmatched right rows, so nothing may prune;
      // pruneBuild=false means the caller already pruned the build side
      if (rightOuter || !pruneBuild) r0
      else r0.join(probeKeys, Seq("__k"), "left_semi"))
      .withColumn("__t", time(rightTime))
      .withColumn("__isl", lit(0))
      // non-null struct on EVERY right row (fields may be null) → the
      // matched row is attached wholesale, never mixed across rows
      .withColumn("__m", struct(payload.map(col): _*))
      .select(Seq(col("__k"), col("__t"), col("__isl"), col("__m")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val u = l.unionByName(r)
    // All four reference inequalities (bind_joinref): `>=`/`>` match
    // backward (latest preceding right row), `<=`/`<` forward
    // (earliest following). Tie handling is encoded purely in the
    // sort order of the left/right tag: when equal times MATCH
    // (>=, <=) the right row sorts into the left row's frame; when
    // they don't (>, <) it sorts out of it.
    val tieMatches = direction == ">=" || direction == "<="
    val backward = direction == ">=" || direction == ">"
    val tagOrder =
      if (backward == tieMatches) col("__isl").asc // right(0) first
      else col("__isl").desc                       // left(1) first
    val w0 = Window.partitionBy(col("__k")).orderBy(col("__t"), tagOrder)
    val matched =
      if (backward)
        last(col("__m"), ignoreNulls = true)
          .over(w0.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      else
        first(col("__m"), ignoreNulls = true)
          .over(w0.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    if (rightOuter) {
      // ASOF RIGHT JOIN (reference physical_asof_join right-outer):
      // the INNER match set plus each unmatched right row once,
      // left columns NULL. A right row is matched iff some left row
      // lands in ITS gap of the sorted stream — rows with the same
      // running right-count (`__rg`) share a matched right row, so a
      // peers-frame count over __rg decides matched-ness. Same single
      // partition-by-key pass: the extra windows sort by columns
      // monotone in the existing order, no second shuffle.
      val rg =
        if (backward)
          sum(lit(1) - col("__isl"))
            .over(w0.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        else
          sum(lit(1) - col("__isl"))
            .over(w0.rowsBetween(Window.currentRow, Window.unboundedFollowing))
      val withRg = u.withColumn("__m", matched).withColumn("__rg", rg)
      val peersL = Window.partitionBy(col("__k")).orderBy(col("__rg"))
        .rangeBetween(Window.currentRow, Window.currentRow)
      val marked = withRg.withColumn("__lcnt", sum(col("__isl")).over(peersL))
      val inner = marked.filter(col("__isl") === 1 && col("__m").isNotNull)
        .select(leftCols.map(col) ++
          payload.map(p => col("__m").getField(p).as(p)): _*)
      val pads = marked
        .filter(col("__isl") === 0 && coalesce(col("__lcnt"), lit(0L)) === 0)
        .select(leftCols.map(c =>
          lit(null).cast(left.schema(c).dataType).as(c)) ++
          payload.map(p => col("__m").getField(p).as(p)): _*)
      return inner.unionByName(pads)
    }
    val out = u.withColumn("__m", matched)
      .filter(col("__isl") === 1)
    // plain ASOF JOIN is INNER: left rows with no match drop
    (if (leftOuter) out else out.filter(col("__m").isNotNull))
      .select(leftCols.map(col) ++
        payload.map(p => col("__m").getField(p).as(p)): _*)
  }

  /** Range (interval) join: pairs where `lo <= probe < hi` on the same
    * key. The equi key carries the shuffle; the band predicate is
    * evaluated post-shuffle — the scalable plan shape for interval
    * joins (vs. a cartesian). Skewed keys are AQE-split at runtime.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(right, cond, "inner")

  /** POSITIONAL join: zip two frames by row position under an explicit
    * total order. Row position is only well-defined given a sort key —
    * same contract DuckDB's POSITIONAL JOIN has on ordered scans.
    *
    * Positions come from `zipWithIndex` over a range-partitioned sort:
    * the sort distributes (no single-partition window), and
    * zipWithIndex numbers rows with one lightweight count-per-partition
    * job — positions stay globally correct on a fact-sized input.
    */
  def positionalJoin(left: DataFrame, leftOrder: Column,
                     right: DataFrame, rightOrder: Column): DataFrame = {
    def withPos(df: DataFrame, order: Column): DataFrame = {
      val sorted = df.orderBy(order)
      val spark = df.sparkSession
      val schema = org.apache.spark.sql.types.StructType(
        sorted.schema.fields :+
          org.apache.spark.sql.types.StructField("__pos", org.apache.spark.sql.types.LongType, nullable = false))
      val rdd = sorted.rdd.zipWithIndex().map { case (row, i) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (i + 1L))
      }
      spark.createDataFrame(rdd, schema)
    }
    withPos(left, leftOrder).join(withPos(right, rightOrder), "__pos").drop("__pos")
  }
}
