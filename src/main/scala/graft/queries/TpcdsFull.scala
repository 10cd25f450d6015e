package graft.queries

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.GraftSql

/** The COMPLETE official TPC-DS suite — all 99 query texts from the
  * reference's tpcds extension
  * (/root/reference/extension/tpcds/dsdgen/queries/01.sql–99.sql),
  * read at runtime and executed VERBATIM through the dialect front
  * door against the synthesized 24-table schema (TpcdsGen).
  *
  * GATE STRENGTH (r9): every query is gated on row count AND — for
  * the deterministic subset — an order-insensitive VALUE fingerprint:
  * md5 over the sorted per-row renderings, identical SQL shape on the
  * DuckDB side. Per-row rendering pipes columns with '|' after a
  * positional normalization that makes the two engines' differing
  * aggregate result types render identically:
  *
  *   - fractional positions (DECIMAL/DOUBLE/FLOAT on the DuckDB side;
  *     [[fracMasks]], derived once from DuckDB DESCRIBE over the
  *     synthesized schema — a static property of the query texts):
  *     `floor(double(v)*100 + 0.5)` rendered as a BIGINT. Both
  *     engines run the identical IEEE-754 ops, so half-up-at-2dp is
  *     bit-reproducible even where Spark computes an exact DECIMAL
  *     avg and DuckDB a DOUBLE one (2dp is the DS money grain).
  *   - all other positions: the engine's native VARCHAR cast (exact
  *     types render identically: integers, dates, VARCHARs).
  *   - NULL → '<null>'; the empty result → '<empty>'.
  *
  * COUNT-ONLY residue ([[countOnly]]): queries whose top-level ORDER
  * BY under LIMIT is tie-ambiguous over this data — different engines
  * may legitimately keep different rows at the cutoff — would
  * fingerprint as the literal '<count-only>' on both sides and gate
  * on row count alone. The split was MEASURED, not guessed
  * (tools/TpcdsFpProbe vs the DuckDB side of the same fingerprint
  * SQL, r9), and the measured set is currently EMPTY: all 99 queries
  * hash-match on values over this data. The mechanism stays as the
  * documented policy for any future member (membership is stable
  * because TpcdsGen synthesizes deterministic data).
  */
object TpcdsFull {

  private val queriesDir = "/root/reference/extension/tpcds/dsdgen/queries"

  private val files: Seq[String] = (1 to 99).map(i => f"$queriesDir/$i%02d.sql")

  lazy val texts: Seq[String] = files.map { f =>
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))).trim.stripSuffix(";")
  }

  /** Per-query, per-position fractional-ness of the DuckDB-side
    * output schema ('f' = DECIMAL/DOUBLE/FLOAT — normalize through
    * the 2dp floor; '.' = exact — native VARCHAR render). Derived
    * from DuckDB DESCRIBE over TpcdsGen's schema; static because the
    * official texts and the synthesized schema are. */
  private val fracMasks: Seq[String] = Seq(
    ".", ".fffffff", "...f", "....", "..fff", "..",
    ".ffff", ".f", "fffff", "..............", "....", "....fff",
    "ffff", "....f.", ".f", ".ff", "....fff.fff.fff", "....fffffff",
    "....f", "....fff", "....", "....f", "..f", "...f",
    "....fff", ".ffff", "...ffff", "f..f..f..f..f..f..", ".......", "............f",
    "..ffff", "f", ".f", "......", ".......f....f....f", "f....",
    "..f", ".", "...ff...ff", "..ff", ".", "...f",
    "..fffffff", "...", "..f", ".....ff", "......ffff", ".",
    "..f..", "...............", "..ffff", "...f", ".ff", "...",
    "..f", ".f", ".....ffff", ".fffffff", "...fffffff", ".f",
    "fff", "........", ".ff", ".............ffffff..", "..fff.", "........ffffffffffffffffffffffffffffffffffff",
    "........f.", ".....fff", "........", "f....", "....f", "......",
    "......", "...", ".........f", "......f", "..fff", "...f.ff.ff",
    "....ff", "..fff", ".............f.f", "..f", "..f.f.ff", "..",
    ".fff", "f....", ".", "........", "......ff", "f",
    "...f", "f", ".f", ".ff", ".ff", ".",
    "...", "....fff", "........")

  /** 1-based query numbers gated on count only (ORDER BY ties at the
    * LIMIT cutoff make the kept row set engine-ambiguous). Populated
    * from the measured r9 Spark↔DuckDB diff; see the object doc. */
  private[queries] val countOnly: Set[Int] = TpcdsFpSplit.countOnly

  private def isCountOnly(i: Int): Boolean = countOnly.contains(i + 1)

  /** DuckDB-side fingerprint subquery for query index `i` (0-based):
    * positional aliases sidestep the 99 queries' unaliased/duplicate
    * output names. */
  private def oracleFp(i: Int): String = {
    val mask = fracMasks(i)
    val cols = mask.indices.map(k => s"c$k")
    val norms = mask.zipWithIndex.map { case (ch, k) =>
      if (ch == 'f')
        s"COALESCE(CAST(CAST(floor(CAST(CAST(c$k AS VARCHAR) AS DOUBLE)*100 + 0.5) AS BIGINT) AS VARCHAR), '<null>')"
      else s"COALESCE(CAST(c$k AS VARCHAR), '<null>')"
    }
    val row = if (norms.length > 1) norms.mkString(" || '|' || ") else norms.head
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |COALESCE(md5(string_agg(__r, chr(10) ORDER BY __r)), '<empty>') AS fp FROM
       |(SELECT $row AS __r FROM (
       |${texts(i)}
       |) __t(${cols.mkString(", ")})) __rows""".stripMargin
  }

  private def oracleText: String = {
    val parts = texts.indices.map { i =>
      if (isCountOnly(i))
        s"SELECT ${i + 1} AS qid, CAST((SELECT COUNT(*) FROM (\n${texts(i)}\n) __q${i + 1}) AS BIGINT) AS n, '<count-only>' AS fp"
      else
        s"SELECT ${i + 1} AS qid, n, fp FROM (\n${oracleFp(i)}\n) __f${i + 1}"
    }
    s"${TpcdsGen.oraclePrelude}\nSELECT * FROM (\n${parts.mkString("\nUNION ALL\n")}\n) ORDER BY qid"
  }

  /** Spark-side row rendering under the same positional mask. Runtime
    * JVM types differ from DuckDB's (exact DECIMAL avg vs DOUBLE; sum
    * of INT is LONG here, HUGEINT there) — the mask, not the runtime
    * type, picks the branch, so both engines render each position the
    * same way. */
  private[queries] def renderValue(v: Any, frac: Boolean): String = v match {
    case null => "<null>"
    case n: java.math.BigDecimal =>
      if (frac) fracRender(n.doubleValue)
      else n.stripTrailingZeros.toBigInteger.toString
    case n: java.lang.Number =>
      if (frac) fracRender(n.doubleValue) else n.toString
    case d: java.sql.Date => d.toString
    case t: java.sql.Timestamp =>
      // DuckDB renders micros-free timestamps without a fraction
      val s = t.toString
      if (s.endsWith(".0")) s.dropRight(2) else s
    case other => other.toString
  }

  private def fracRender(d: Double): String =
    math.floor(d * 100 + 0.5).toLong.toString

  private[queries] def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString
  }

  /** Fingerprint a collected result under query index `i`'s mask. */
  def fingerprint(rows: Array[Row], i: Int): String = {
    val mask = fracMasks(i)
    val strs = rows.map { r =>
      require(r.length == mask.length,
        s"tpcds q${i + 1}: ${r.length} output columns, mask has ${mask.length}")
      mask.indices.map(k => renderValue(r.get(k), mask(k) == 'f')).mkString("|")
    }.sorted
    if (strs.isEmpty) "<empty>" else md5Hex(strs.mkString("\n"))
  }

  val defs: Seq[QDef] = Seq(
    QDef.sql("tpcds_full99_sweep", oracleText, files) { (s, _) =>
      TpcdsGen.register(s)
      val rows = texts.indices.map { i =>
        if (isCountOnly(i))
          Row(i + 1, GraftSql.sql(s, texts(i)).count(), "<count-only>")
        else {
          val collected = GraftSql.sql(s, texts(i)).collect()
          Row(i + 1, collected.length.toLong, fingerprint(collected, i))
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
