package graft.queries

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.GraftSql
import graft.sources.Catalog

/** The COMPLETE ClickBench query set — all 43 texts from the
  * reference's own benchmark tree
  * (/root/reference/benchmark/clickbench/queries/q01–q43.sql), read
  * at runtime and executed VERBATIM through the dialect front door
  * against a deterministic `hits` view derived from `events`.
  *
  * cb01–cb14 (ClickBench.scala) value-check the benchmark's plan
  * CLASSES with tie-safe orderings; this sweep closes benchmark
  * BREADTH: every one of the 43 official texts must parse, plan, and
  * execute. GATE STRENGTH (r11): each query is gated on row count
  * AND a STATICALLY-derived value fingerprint (md5 over sorted
  * per-row renderings under a positional fractional mask derived
  * from DuckDB DESCRIBE; see TpcdsFull's renderer contract) — full
  * rows where the output multiset is provably engine-deterministic,
  * otherwise the ORDER BY key columns only (whose windowed multiset
  * is always deterministic), otherwise count alone. See [[gates]].
  * The r10 MEASURED tie set failed the driver's gate (tie sets are
  * scale- and DuckDB-version-dependent); the static derivation holds
  * under any gate configuration.
  *
  * The `hits` view synthesizes the benchmark's columns from events
  * with closed-form arithmetic — one portable SQL text both engines
  * evaluate identically. The 2013 date-window queries (q37–q43)
  * return empty over 2024 data; they still exercise the full
  * filter+group+OFFSET pipeline on both engines.
  */
object ClickBench43 {

  private val queriesDir = "/root/reference/benchmark/clickbench/queries"

  private val files: Seq[String] = (1 to 43).map(i => f"$queriesDir/q$i%02d.sql")

  lazy val texts: Seq[String] = files.map { f =>
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))).trim.stripSuffix(";")
  }

  /** One deterministic, engine-portable hits projection over events. */
  val hitsViewSql: String =
    """SELECT
      |  event_id AS WatchID,
      |  CAST(event_id % 2 AS SMALLINT) AS JavaEnable,
      |  CASE WHEN event_id % 11 = 0 THEN ''
      |       WHEN event_id % 23 = 0 THEN 'All about Google ' || CAST(event_id % 40 AS VARCHAR)
      |       ELSE 'Title ' || CAST(event_id % 500 AS VARCHAR) END AS Title,
      |  ts AS EventTime,
      |  CAST(ts AS DATE) AS EventDate,
      |  CAST(event_id % 100 AS INTEGER) AS CounterID,
      |  CAST(event_id % 8191 AS INTEGER) AS ClientIP,
      |  CAST(user_id % 10 AS INTEGER) AS RegionID,
      |  user_id AS UserID,
      |  CASE WHEN event_id % 3 = 0 THEN ''
      |       ELSE event_type || ' ' || CAST(event_id % 97 AS VARCHAR) END AS SearchPhrase,
      |  CAST(event_id % 13 AS SMALLINT) AS SearchEngineID,
      |  CAST(event_id % 5 AS SMALLINT) AS AdvEngineID,
      |  CAST(1000 + event_id % 920 AS INTEGER) AS ResolutionWidth,
      |  CASE WHEN event_id % 4 = 0 THEN ''
      |       ELSE 'Phone' || CAST(event_id % 6 AS VARCHAR) END AS MobilePhoneModel,
      |  CAST(event_id % 3 AS SMALLINT) AS MobilePhone,
      |  CASE WHEN event_id % 5 = 0 THEN 'http://google.com/q=' || CAST(event_id % 50 AS VARCHAR)
      |       WHEN event_id % 5 = 1 THEN 'http://example.com/p/' || CAST(event_id % 200 AS VARCHAR)
      |       ELSE 'http://site' || CAST(event_id % 9 AS VARCHAR) || '.org/page/' || CAST(event_id % 300 AS VARCHAR) END AS URL,
      |  CASE WHEN event_id % 6 = 0 THEN ''
      |       ELSE 'http://ref' || CAST(event_id % 7 AS VARCHAR) || '.net/x/' || CAST(event_id % 40 AS VARCHAR) END AS Referer,
      |  CAST(event_id % 2 AS SMALLINT) AS IsRefresh,
      |  CAST(event_id % 17 - 1 AS SMALLINT) AS TraficSourceID,
      |  event_id * 37 % 1000003 AS RefererHash,
      |  event_id * 31 % 1000033 AS URLHash,
      |  CAST(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END AS SMALLINT) AS IsLink,
      |  CAST(CASE WHEN event_id % 13 = 0 THEN 1 ELSE 0 END AS SMALLINT) AS IsDownload,
      |  CAST(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS SMALLINT) AS DontCountHits,
      |  CAST(800 + event_id % 640 AS INTEGER) AS WindowClientWidth,
      |  CAST(600 + event_id % 480 AS INTEGER) AS WindowClientHeight
      |FROM events""".stripMargin

  /** Per-query positional fractional-ness of the DuckDB-side output
    * (DuckDB DESCRIBE over the hits view; static because the official
    * texts and the synthesized view are). 'f' = DECIMAL/DOUBLE/FLOAT
    * → 2dp-floor normalization; '.' = exact → native VARCHAR. */
  private val fracMasks: Seq[String] = Seq(
    ".", ".", "..f", "f", ".", ".", "..", "..", "..", "...f.",
    "..", "...", "..", "..", "...", "..", "...", "...", "....", ".",
    ".", "...", ".....", "..........................", ".", ".", ".", ".f.", ".f..",
    "..........................................................................................",
    "....f", "....f", "....f", "..", "...", ".....", "..", "..", "..",
    "......", "...", "...", "..")

  /** Per-query gate strength, derived STATICALLY from the query text +
    * hits-view construction (r11, replacing the r10 measured tie set —
    * a measured set is scale- and DuckDB-version-dependent and the
    * driver's oracle run falsified it; a static derivation transfers
    * to any gate configuration).
    *
    * - [[Full]]: full-row order-insensitive value fingerprint. Safe iff
    *   the output multiset is engine-deterministic: (a) no LIMIT
    *   (q1–q8, q20, q21, q30); (b) LIMIT but the ORDER BY keys form a
    *   unique key over the output (q43 orders by its own group key);
    *   (c) every output column is an ORDER BY key, so rows tied at the
    *   cutoff are indistinguishable in the output (q26, q27); (d) the
    *   group-key modulus in the hits view bounds the group count at or
    *   under the LIMIT, so the cutoff never discards rows (q9/q10:
    *   RegionID = user_id%10 → ≤10 groups, LIMIT 10; q11: 6 phone
    *   models, LIMIT 10).
    * - [[Keys]](idx): count + order-insensitive fingerprint of the
    *   ORDER BY key columns only. For any ORDER BY k LIMIT n OFFSET m,
    *   the multiset of key tuples inside the window is the positions
    *   m+1..m+n of the globally sorted key list — deterministic even
    *   when the non-key columns of tied rows are not. All such keys
    *   here are exact (counts / timestamps), never floats.
    * - [[CountGate]]: row count only. q18 has LIMIT with no ORDER BY
    *   (arbitrary 10 of many groups); q25 orders by EventTime which is
    *   not in the output; q28/q29 order by a float AVG where a
    *   last-ulp cross-engine difference could still reorder the
    *   cutoff after 2dp normalization. */
  private sealed trait Gate
  private case object Full extends Gate
  private final case class Keys(idx: Seq[Int]) extends Gate
  private case object CountGate extends Gate

  private val gates: Seq[Gate] = Seq(
    /* q01 */ Full, Full, Full, Full, Full, Full, Full, Full, Full, Full,
    /* q11 */ Full, Keys(Seq(2)), Keys(Seq(1)), Keys(Seq(1)), Keys(Seq(2)),
    /* q16 */ Keys(Seq(1)), Keys(Seq(2)), CountGate, Keys(Seq(3)), Full,
    /* q21 */ Full, Keys(Seq(2)), Keys(Seq(3)), Keys(Seq(3)), CountGate,
    /* q26 */ Full, Full, CountGate, CountGate, Full,
    /* q31 */ Keys(Seq(2)), Keys(Seq(2)), Keys(Seq(2)), Keys(Seq(1)), Keys(Seq(2)),
    /* q36 */ Keys(Seq(4)), Keys(Seq(1)), Keys(Seq(1)), Keys(Seq(1)), Keys(Seq(5)),
    /* q41 */ Keys(Seq(2)), Keys(Seq(2)), Full)

  /** DuckDB-side fingerprint subquery (TpcdsFull.oracleFp shape).
    * `keep` restricts fingerprinting to those column positions (the
    * [[Keys]] gate); None fingerprints the full row. */
  private def oracleFp(i: Int, keep: Option[Seq[Int]]): String = {
    val mask = fracMasks(i)
    val cols = mask.indices.map(k => s"c$k")
    val used = keep.getOrElse(mask.indices.toSeq)
    val norms = used.map { k =>
      if (mask(k) == 'f')
        s"COALESCE(CAST(CAST(floor(CAST(CAST(c$k AS VARCHAR) AS DOUBLE)*100 + 0.5) AS BIGINT) AS VARCHAR), '<null>')"
      else s"COALESCE(CAST(c$k AS VARCHAR), '<null>')"
    }
    // concat_ws, not chained || — a 90-column row (q30) blows DuckDB's
    // 128-deep binder recursion on the chained form
    val row =
      if (norms.length > 1) s"concat_ws('|', ${norms.mkString(", ")})"
      else norms.head
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |COALESCE(md5(string_agg(__r, chr(10) ORDER BY __r)), '<empty>') AS fp FROM
       |(SELECT $row AS __r FROM (
       |${texts(i)}
       |) __t(${cols.mkString(", ")})) __rows""".stripMargin
  }

  private def oracleText: String = {
    val parts = texts.indices.map { i =>
      gates(i) match {
        case CountGate =>
          s"SELECT ${i + 1} AS qid, CAST((SELECT COUNT(*) FROM (\n${texts(i)}\n) __q${i + 1}) AS BIGINT) AS n, '<count-only>' AS fp"
        case Full =>
          s"SELECT ${i + 1} AS qid, n, fp FROM (\n${oracleFp(i, None)}\n) __f${i + 1}"
        case Keys(idx) =>
          s"SELECT ${i + 1} AS qid, n, fp FROM (\n${oracleFp(i, Some(idx))}\n) __f${i + 1}"
      }
    }
    s"WITH hits AS (\n$hitsViewSql\n)\nSELECT * FROM (\n${parts.mkString("\nUNION ALL\n")}\n) ORDER BY qid"
  }

  /** Spark-side fingerprint under the same positional mask —
    * TpcdsFull's renderer (identical normalization contract). */
  def fingerprint(rows: Array[Row], i: Int, keep: Option[Seq[Int]] = None): String = {
    val mask = fracMasks(i)
    val used = keep.getOrElse(mask.indices.toSeq)
    val strs = rows.map { r =>
      require(r.length == mask.length,
        s"cb q${i + 1}: ${r.length} output columns, mask has ${mask.length}")
      used.map(k => TpcdsFull.renderValue(r.get(k), mask(k) == 'f')).mkString("|")
    }.sorted
    if (strs.isEmpty) "<empty>" else TpcdsFull.md5Hex(strs.mkString("\n"))
  }

  val defs: Seq[QDef] = Seq(
    QDef.sql("cb_full43_sweep", oracleText, files) { (s, dir) =>
      Catalog.registerAll(s, dir)
      GraftSql.sql(s, hitsViewSql).createOrReplaceTempView("hits")
      val rows = texts.zipWithIndex.map { case (q, i) =>
        gates(i) match {
          case CountGate => Row(i + 1, GraftSql.sql(s, q).count(), "<count-only>")
          case Full =>
            val collected = GraftSql.sql(s, q).collect()
            Row(i + 1, collected.length.toLong, fingerprint(collected, i))
          case Keys(idx) =>
            val collected = GraftSql.sql(s, q).collect()
            Row(i + 1, collected.length.toLong, fingerprint(collected, i, Some(idx)))
        }
      }
      val schema = StructType(Seq(
        StructField("qid", IntegerType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("fp", StringType, nullable = false)))
      s.createDataFrame(new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
        .orderBy("qid")
    }
  )
}
