package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.GraftSql
import graft.sources.Catalog

/** The complete IMDB Join Order Benchmark — all 113 query texts from
  * the reference's vendored benchmark
  * (/root/reference/third_party/imdb/include/imdb_constants.hpp,
  * referenced by benchmark/imdb/NNx.benchmark) — run VERBATIM on both
  * engines over a synthesized 21-table JOB schema.
  *
  * The real IMDB data is a remote download the environment cannot
  * reach, so each table is a deterministic WITH-view over testdata
  * rows, and every string column's value domain is mined FROM THE
  * QUERIES THEMSELVES: each `col = 'lit'` / `IN (...)` / `LIKE`
  * predicate literal across the 113 texts joins the (table, column)
  * pool, and values cycle through pool ∪ {NULL, 'x<id>'} — so the
  * benchmark's own filters select non-trivially. JOB queries are
  * single-row MIN() aggregates: fully deterministic, no tie
  * ambiguity, so the oracle checks VALUES — one md5 fingerprint of
  * the pipe-joined outputs per query, identical SQL text on both
  * engines.
  */
object Imdb {

  private[graft] val hppPath =
    "/root/reference/third_party/imdb/include/imdb_constants.hpp"

  /** (qid, text) parsed out of the C string array. */
  lazy val queries: Seq[(String, String)] = {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(hppPath)))
    // Unrolled-loop form: the naive ((?:[^"\]|\\.)*) alternation
    // recurses one Java-regex stack frame per character and overflows
    // on the ~2000-char literals in this 120 KB header under
    // parallel-suite stack pressure. Possessive chunks keep the
    // stack depth constant.
    val Entry = """(?s)/\* (\w+)\.sql \*/\s*"([^"\\]*+(?:\\.[^"\\]*+)*+)"""".r
    Entry.findAllMatchIn(src).map { m =>
      val text = m.group(2)
        .replace("\\n", "\n").replace("\\t", "\t")
        .replace("\\\"", "\"").replace("\\'", "'").replace("\\\\", "\\")
      (m.group(1), text.trim.stripSuffix(";"))
    }.toSeq
  }

  // -------------------------------------------------- literal mining

  /** alias → table for one query's comma-separated FROM clause. */
  private def aliasMap(q: String): Map[String, String] = {
    val fromIdx = q.toUpperCase.indexOf("FROM")
    val whereIdx = q.toUpperCase.indexOf("WHERE")
    val clause = q.substring(fromIdx + 4, if (whereIdx > 0) whereIdx else q.length)
    clause.split(',').flatMap { part =>
      val ws = part.trim.split("\\s+AS\\s+|\\s+")
      if (ws.length >= 2) Some(ws.last.trim -> ws.head.trim)
      else if (ws.length == 1 && ws.head.nonEmpty) Some(ws.head.trim -> ws.head.trim)
      else None
    }.toMap
  }

  /** (table, column) → literal pool across all 113 queries. LIKE
    * patterns contribute a value that MATCHES them: outer %s
    * stripped, inner % → '0', _ → 'x'. Columns with several
    * POSITIVE LIKE patterns also get one "mega" value concatenating
    * them (minus any NOT-LIKE literals), so conjunctions of LIKEs on
    * the same column — the 05a/22a JOB shape — can match one row.
    */
  private lazy val pools: Map[(String, String), Seq[String]] = {
    val acc = mutable.Map.empty[(String, String), mutable.LinkedHashSet[String]]
    val likes = mutable.Map.empty[(String, String), mutable.LinkedHashSet[String]]
    val notLikes = mutable.Map.empty[(String, String), mutable.LinkedHashSet[String]]
    def add(table: String, col: String, v: String): Unit =
      acc.getOrElseUpdate((table, col), mutable.LinkedHashSet.empty) += v
    val Eq = """(?i)(\w+)\.(\w+)\s*(?:=|!=|<>|>=|<=|>|<)\s*'((?:[^']|'')*)'""".r
    val In = """(?i)(\w+)\.(\w+)\s+(?:NOT\s+)?IN\s*\(([^)]*)\)""".r
    val Like = """(?i)(\w+)\.(\w+)\s+(NOT\s+)?LIKE\s+'((?:[^']|'')*)'""".r
    val Between = """(?i)(\w+)\.(\w+)\s+BETWEEN\s+'((?:[^']|'')*)'\s+AND\s+'((?:[^']|'')*)'""".r
    val Item = """'((?:[^']|'')*)'""".r
    for ((_, q) <- queries) {
      val am = aliasMap(q)
      for (m <- Eq.findAllMatchIn(q); t <- am.get(m.group(1)))
        add(t, m.group(2), m.group(3).replace("''", "'"))
      for (m <- In.findAllMatchIn(q); t <- am.get(m.group(1));
           item <- Item.findAllMatchIn(m.group(3)))
        add(t, m.group(2), item.group(1).replace("''", "'"))
      for (m <- Like.findAllMatchIn(q); t <- am.get(m.group(1))) {
        val pat = m.group(4).replace("''", "'")
        val v = pat.stripPrefix("%").stripSuffix("%").replace("%", "0").replace("_", "x")
        if (v.nonEmpty) {
          add(t, m.group(2), v)
          val bucket = if (m.group(3) != null) notLikes else likes
          bucket.getOrElseUpdate((t, m.group(2)), mutable.LinkedHashSet.empty) += v
        }
      }
      // string BETWEEN 'a' AND 'b': the lower bound itself satisfies it
      for (m <- Between.findAllMatchIn(q); t <- am.get(m.group(1))) {
        add(t, m.group(2), m.group(3).replace("''", "'"))
        add(t, m.group(2), m.group(4).replace("''", "'"))
      }
    }
    for ((k, ls) <- likes) {
      val nl = notLikes.getOrElse(k, mutable.LinkedHashSet.empty)
      val mega = (ls -- nl).toSeq.sorted.mkString(" ")
      if (mega.nonEmpty) acc(k) += mega
    }
    acc.map { case (k, v) => k -> v.toSeq.sorted }.toMap
  }

  /** Per-table cycler with PAIRWISE-COPRIME cycle lengths: column j
    * cycles on id % m_j where m_j is the smallest modulus ≥ pool+2
    * coprime to every earlier column's modulus in the same table. By
    * CRT every cross-COLUMN pair of pool values then co-occurs on
    * some residue (the 18a `gender = 'm' AND name LIKE '%Tim%'` JOB
    * shape; equal or factor-sharing moduli would pin misaligned
    * residue pairs to never co-occur). Indices past the pool fall to
    * the synthetic `'x'||id` branch, so padding a modulus only adds
    * filler values.
    */
  private final class Cyc(table: String, idExpr: String) {
    private val used = mutable.ArrayBuffer.empty[Long]
    private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    def pc(col: String): String = pools.get((table, col)) match {
      case Some(p) =>
        var m = (p.length + 2).toLong
        while (used.exists(u => gcd(u, m) != 1)) m += 1
        used += m
        val whens = p.zipWithIndex.map { case (v, i) =>
          s"WHEN $i THEN '${v.replace("'", "''")}'"
        }.mkString(" ")
        s"(CASE CAST($idExpr AS BIGINT) % $m $whens " +
          s"WHEN ${p.length} THEN CAST(NULL AS VARCHAR) " +
          s"ELSE 'x' || CAST($idExpr AS VARCHAR) END)"
      case None =>
        s"('x' || CAST($idExpr AS VARCHAR))"
    }
  }

  // -------------------------------------------------- synthesized schema

  /** Column order + kind (N numeric / S string) of each synthesized
    * view — must match viewDefs exactly; ImdbWitness renders its
    * VALUES arms from this.
    */
  val tableSchema: Map[String, Seq[(String, String)]] = Map(
    "title" -> Seq("id" -> "N", "title" -> "S", "imdb_index" -> "S",
      "kind_id" -> "N", "production_year" -> "N", "imdb_id" -> "N",
      "phonetic_code" -> "S", "episode_of_id" -> "N", "season_nr" -> "N",
      "episode_nr" -> "N", "series_years" -> "S", "md5sum" -> "S"),
    "movie_companies" -> Seq("id" -> "N", "movie_id" -> "N",
      "company_id" -> "N", "company_type_id" -> "N", "note" -> "S"),
    "movie_info" -> Seq("id" -> "N", "movie_id" -> "N",
      "info_type_id" -> "N", "info" -> "S", "note" -> "S"),
    "movie_info_idx" -> Seq("id" -> "N", "movie_id" -> "N",
      "info_type_id" -> "N", "info" -> "S", "note" -> "S"),
    "cast_info" -> Seq("id" -> "N", "person_id" -> "N", "movie_id" -> "N",
      "person_role_id" -> "N", "note" -> "S", "nr_order" -> "N", "role_id" -> "N"),
    "movie_keyword" -> Seq("id" -> "N", "movie_id" -> "N", "keyword_id" -> "N"),
    "keyword" -> Seq("id" -> "N", "keyword" -> "S", "phonetic_code" -> "S"),
    "company_name" -> Seq("id" -> "N", "name" -> "S", "country_code" -> "S",
      "imdb_id" -> "N", "name_pcode_nf" -> "S", "name_pcode_sf" -> "S",
      "md5sum" -> "S"),
    "name" -> Seq("id" -> "N", "name" -> "S", "imdb_index" -> "S",
      "imdb_id" -> "N", "gender" -> "S", "name_pcode_cf" -> "S",
      "name_pcode_nf" -> "S", "surname_pcode" -> "S", "md5sum" -> "S"),
    "char_name" -> Seq("id" -> "N", "name" -> "S", "imdb_index" -> "S",
      "imdb_id" -> "N", "name_pcode_nf" -> "S", "surname_pcode" -> "S",
      "md5sum" -> "S"),
    "aka_name" -> Seq("id" -> "N", "person_id" -> "N", "name" -> "S",
      "imdb_index" -> "S", "name_pcode_cf" -> "S", "name_pcode_nf" -> "S",
      "surname_pcode" -> "S", "md5sum" -> "S"),
    "aka_title" -> Seq("id" -> "N", "movie_id" -> "N", "title" -> "S",
      "imdb_index" -> "S", "kind_id" -> "N", "production_year" -> "N",
      "phonetic_code" -> "S", "episode_of_id" -> "N", "season_nr" -> "N",
      "episode_nr" -> "N", "note" -> "S", "md5sum" -> "S"),
    "person_info" -> Seq("id" -> "N", "person_id" -> "N",
      "info_type_id" -> "N", "info" -> "S", "note" -> "S"),
    "movie_link" -> Seq("id" -> "N", "movie_id" -> "N",
      "linked_movie_id" -> "N", "link_type_id" -> "N"),
    "complete_cast" -> Seq("id" -> "N", "movie_id" -> "N",
      "subject_id" -> "N", "status_id" -> "N"),
    "info_type" -> Seq("id" -> "N", "info" -> "S"),
    "company_type" -> Seq("id" -> "N", "kind" -> "S"),
    "kind_type" -> Seq("id" -> "N", "kind" -> "S"),
    "link_type" -> Seq("id" -> "N", "link" -> "S"),
    "role_type" -> Seq("id" -> "N", "role" -> "S"),
    "comp_cast_type" -> Seq("id" -> "N", "kind" -> "S"))

  /** The JOB schema (public: the join-order-benchmark's schema.sql)
    * as WITH-views over testdata. Keys chain naturally: movies =
    * orderkeys, fact rows = lineitems (FK by construction), people =
    * custkeys (cast_info reaches them modulo 1200).
    */
  private lazy val viewDefs: Seq[(String, String)] = {
    val cycTitle = new Cyc("title", "o_orderkey")
    val cycMc = new Cyc("movie_companies", "l_orderkey * 10 + l_linenumber")
    val cycMi = new Cyc("movie_info", "l_orderkey * 10 + l_linenumber")
    val cycMix = new Cyc("movie_info_idx", "l_orderkey * 10 + l_linenumber")
    val cycCi = new Cyc("cast_info", "l_orderkey * 10 + l_linenumber")
    val cycKw = new Cyc("keyword", "p_partkey")
    val cycCn = new Cyc("company_name", "p_partkey")
    val cycName = new Cyc("name", "c_custkey")
    val cycChn = new Cyc("char_name", "c_custkey")
    val cycAn = new Cyc("aka_name", "c_custkey")
    val cycAt = new Cyc("aka_title", "o_orderkey")
    val cycPi = new Cyc("person_info", "c_custkey")
    val cycIt = new Cyc("info_type", "p_partkey % 113 + 1")
    val cycCt = new Cyc("company_type", "n_nationkey + 1")
    val cycKt = new Cyc("kind_type", "n_nationkey + 1")
    val cycLt = new Cyc("link_type", "n_nationkey + 1")
    val cycRt = new Cyc("role_type", "n_nationkey + 1")
    val cycCct = new Cyc("comp_cast_type", "r_regionkey + 1")
    val cyc: Map[String, Cyc] = Map(
      "title" -> cycTitle, "movie_companies" -> cycMc, "movie_info" -> cycMi,
      "movie_info_idx" -> cycMix, "cast_info" -> cycCi, "keyword" -> cycKw,
      "company_name" -> cycCn, "name" -> cycName, "char_name" -> cycChn,
      "aka_name" -> cycAn, "aka_title" -> cycAt, "person_info" -> cycPi,
      "info_type" -> cycIt, "company_type" -> cycCt, "kind_type" -> cycKt,
      "link_type" -> cycLt, "role_type" -> cycRt, "comp_cast_type" -> cycCct)
    def pc(t: String, c: String, id: String) = cyc(t).pc(c)
    Seq(
      s"""title AS (
         |  SELECT o_orderkey AS id, ${pc("title", "title", "o_orderkey")} AS title,
         |    'I' || CAST(o_orderkey % 5 AS VARCHAR) AS imdb_index,
         |    CAST(o_orderkey % 7 + 1 AS INTEGER) AS kind_id,
         |    CAST(1880 + o_orderkey % 140 AS INTEGER) AS production_year,
         |    CAST(o_orderkey AS INTEGER) AS imdb_id,
         |    ${pc("title", "phonetic_code", "o_orderkey")} AS phonetic_code,
         |    CASE WHEN o_orderkey % 11 = 0 THEN CAST(NULL AS BIGINT) ELSE o_orderkey % 1000 END AS episode_of_id,
         |    CAST(o_orderkey % 30 AS INTEGER) AS season_nr,
         |    CAST(o_orderkey % 150 AS INTEGER) AS episode_nr,
         |    ${pc("title", "series_years", "o_orderkey")} AS series_years,
         |    'm' || CAST(o_orderkey AS VARCHAR) AS md5sum
         |  FROM orders)""",
      s"""movie_companies AS (
         |  SELECT l_orderkey * 10 + l_linenumber AS id, l_orderkey AS movie_id,
         |    CAST(l_partkey % 2000 AS BIGINT) AS company_id,
         |    CAST(l_suppkey % 4 + 1 AS BIGINT) AS company_type_id,
         |    ${pc("movie_companies", "note", "l_orderkey * 10 + l_linenumber")} AS note
         |  FROM lineitem)""",
      s"""movie_info AS (
         |  SELECT l_orderkey * 10 + l_linenumber AS id, l_orderkey AS movie_id,
         |    CAST((l_partkey + l_linenumber) % 113 + 1 AS BIGINT) AS info_type_id,
         |    ${pc("movie_info", "info", "l_orderkey * 10 + l_linenumber")} AS info,
         |    ${pc("movie_info", "note", "l_partkey")} AS note
         |  FROM lineitem)""",
      s"""movie_info_idx AS (
         |  SELECT l_orderkey * 10 + l_linenumber AS id, l_orderkey AS movie_id,
         |    CAST(l_suppkey % 113 + 1 AS BIGINT) AS info_type_id,
         |    ${pc("movie_info_idx", "info", "l_orderkey + l_suppkey")} AS info,
         |    CAST(NULL AS VARCHAR) AS note
         |  FROM lineitem)""",
      s"""cast_info AS (
         |  SELECT l_orderkey * 10 + l_linenumber AS id,
         |    CAST((l_orderkey * 3 + l_linenumber) % 1200 AS BIGINT) AS person_id,
         |    l_orderkey AS movie_id,
         |    CAST(l_partkey % 1200 AS BIGINT) AS person_role_id,
         |    ${pc("cast_info", "note", "l_orderkey + l_linenumber")} AS note,
         |    CAST(l_linenumber AS INTEGER) AS nr_order,
         |    CAST(l_linenumber % 12 + 1 AS BIGINT) AS role_id
         |  FROM lineitem)""",
      s"""movie_keyword AS (
         |  SELECT l_orderkey * 10 + l_linenumber AS id, l_orderkey AS movie_id,
         |    CAST(l_partkey % 2000 AS BIGINT) AS keyword_id
         |  FROM lineitem)""",
      s"""keyword AS (
         |  SELECT p_partkey AS id, ${pc("keyword", "keyword", "p_partkey")} AS keyword,
         |    ${pc("keyword", "phonetic_code", "p_partkey")} AS phonetic_code
         |  FROM part)""",
      s"""company_name AS (
         |  SELECT p_partkey AS id, ${pc("company_name", "name", "p_partkey")} AS name,
         |    ${pc("company_name", "country_code", "p_partkey")} AS country_code,
         |    CAST(p_partkey AS INTEGER) AS imdb_id,
         |    ${pc("company_name", "name_pcode_nf", "p_partkey")} AS name_pcode_nf,
         |    ${pc("company_name", "name_pcode_sf", "p_partkey")} AS name_pcode_sf,
         |    'c' || CAST(p_partkey AS VARCHAR) AS md5sum
         |  FROM part)""",
      s"""name AS (
         |  SELECT c_custkey AS id, ${pc("name", "name", "c_custkey")} AS name,
         |    'I' || CAST(c_custkey % 5 AS VARCHAR) AS imdb_index,
         |    CAST(c_custkey AS INTEGER) AS imdb_id,
         |    ${pc("name", "gender", "c_custkey")} AS gender,
         |    ${pc("name", "name_pcode_cf", "c_custkey")} AS name_pcode_cf,
         |    ${pc("name", "name_pcode_nf", "c_custkey")} AS name_pcode_nf,
         |    ${pc("name", "surname_pcode", "c_custkey")} AS surname_pcode,
         |    'n' || CAST(c_custkey AS VARCHAR) AS md5sum
         |  FROM customer)""",
      s"""char_name AS (
         |  SELECT c_custkey AS id, ${pc("char_name", "name", "c_custkey")} AS name,
         |    'I' || CAST(c_custkey % 5 AS VARCHAR) AS imdb_index,
         |    CAST(c_custkey AS INTEGER) AS imdb_id,
         |    ${pc("char_name", "name_pcode_nf", "c_custkey")} AS name_pcode_nf,
         |    ${pc("char_name", "surname_pcode", "c_custkey")} AS surname_pcode,
         |    'h' || CAST(c_custkey AS VARCHAR) AS md5sum
         |  FROM customer)""",
      s"""aka_name AS (
         |  SELECT c_custkey AS id, c_custkey AS person_id,
         |    ${pc("aka_name", "name", "c_custkey")} AS name,
         |    'I' || CAST(c_custkey % 5 AS VARCHAR) AS imdb_index,
         |    ${pc("aka_name", "name_pcode_cf", "c_custkey")} AS name_pcode_cf,
         |    ${pc("aka_name", "name_pcode_nf", "c_custkey")} AS name_pcode_nf,
         |    ${pc("aka_name", "surname_pcode", "c_custkey")} AS surname_pcode,
         |    'a' || CAST(c_custkey AS VARCHAR) AS md5sum
         |  FROM customer)""",
      s"""aka_title AS (
         |  SELECT o_orderkey AS id, o_orderkey AS movie_id,
         |    ${pc("aka_title", "title", "o_orderkey")} AS title,
         |    'I' || CAST(o_orderkey % 5 AS VARCHAR) AS imdb_index,
         |    CAST(o_orderkey % 7 + 1 AS INTEGER) AS kind_id,
         |    CAST(1880 + o_orderkey % 140 AS INTEGER) AS production_year,
         |    ${pc("aka_title", "phonetic_code", "o_orderkey")} AS phonetic_code,
         |    CAST(o_orderkey % 1000 AS BIGINT) AS episode_of_id,
         |    CAST(o_orderkey % 30 AS INTEGER) AS season_nr,
         |    CAST(o_orderkey % 150 AS INTEGER) AS episode_nr,
         |    ${pc("aka_title", "note", "o_orderkey")} AS note,
         |    't' || CAST(o_orderkey AS VARCHAR) AS md5sum
         |  FROM orders)""",
      s"""person_info AS (
         |  SELECT c_custkey AS id, c_custkey AS person_id,
         |    CAST(c_custkey % 113 + 1 AS BIGINT) AS info_type_id,
         |    ${pc("person_info", "info", "c_custkey")} AS info,
         |    ${pc("person_info", "note", "c_custkey")} AS note
         |  FROM customer)""",
      s"""movie_link AS (
         |  SELECT o_orderkey AS id, o_orderkey AS movie_id,
         |    o_orderkey AS linked_movie_id,
         |    CAST(o_orderkey % 18 + 1 AS BIGINT) AS link_type_id
         |  FROM orders)""",
      s"""complete_cast AS (
         |  SELECT o_orderkey AS id, o_orderkey AS movie_id,
         |    CAST(o_orderkey % 2 + 1 AS BIGINT) AS subject_id,
         |    CAST(o_orderkey % 2 + 3 AS BIGINT) AS status_id
         |  FROM orders)""",
      s"""info_type AS (
         |  SELECT p_partkey % 113 + 1 AS id,
         |    ${pc("info_type", "info", "p_partkey % 113 + 1")} AS info
         |  FROM part WHERE p_partkey < 113)""",
      s"""company_type AS (
         |  SELECT n_nationkey + 1 AS id,
         |    ${pc("company_type", "kind", "n_nationkey + 1")} AS kind
         |  FROM nation)""",
      s"""kind_type AS (
         |  SELECT n_nationkey + 1 AS id,
         |    ${pc("kind_type", "kind", "n_nationkey + 1")} AS kind
         |  FROM nation)""",
      s"""link_type AS (
         |  SELECT n_nationkey + 1 AS id,
         |    ${pc("link_type", "link", "n_nationkey + 1")} AS link
         |  FROM nation)""",
      s"""role_type AS (
         |  SELECT n_nationkey + 1 AS id,
         |    ${pc("role_type", "role", "n_nationkey + 1")} AS role
         |  FROM nation)""",
      s"""comp_cast_type AS (
         |  SELECT r_regionkey + 1 AS id,
         |    ${pc("comp_cast_type", "kind", "r_regionkey + 1")} AS kind
         |  FROM region)"""
    ).map(_.stripMargin).map { v =>
      val name = v.takeWhile(_ != ' ')
      val open = v.indexOf('(')
      // append the planted witness rows (ImdbWitness): per-query
      // solved rows that make the multi-table conjunctions satisfiable
      (name, v.substring(open + 1, v.length - 1).trim + ImdbWitness.valuesArm(name))
    }
  }

  private lazy val viewsSql: String =
    viewDefs.map { case (n, body) => s"$n AS (\n$body)" }.mkString(",\n")

  // -------------------------------------------------- fingerprints

  /** Output aliases of a JOB select list (uniformly `MIN(x) AS a`). */
  private def outputAliases(q: String): Seq[String] = {
    val fromIdx = q.toUpperCase.indexOf("\nFROM")
    val sel = q.substring(0, if (fromIdx > 0) fromIdx else q.length)
    """(?i)AS\s+(\w+)""".r.findAllMatchIn(sel).map(_.group(1)).toSeq
  }

  /** One-row md5 fingerprint wrapper — identical text both engines. */
  def fingerprintSql(q: String): String = {
    val cols = outputAliases(q)
    require(cols.nonEmpty, "imdb: no output aliases found")
    val parts = cols.map(c => s"COALESCE(CAST($c AS VARCHAR), '<null>')")
    s"SELECT md5(${parts.mkString(" || '|' || ")}) AS fp FROM (\n$q\n) __q"
  }

  /** The full 113-branch oracle statement. */
  private lazy val oracleSqlText: String = {
    // one scalar-subquery row per query
    val rows = queries.map { case (qid, q) =>
      s"SELECT '$qid' AS qid, (SELECT md5(${outputAliases(q).map(c => s"COALESCE(CAST($c AS VARCHAR), '<null>')").mkString(" || '|' || ")}) FROM (\n$q\n) __q) AS fp"
    }
    s"WITH $viewsSql\nSELECT * FROM (\n${rows.mkString("\nUNION ALL\n")}\n) ORDER BY qid"
  }

  val defs: Seq[QDef] = Seq(
    QDef.sql("imdb_job_sweep", oracleSqlText, Seq(hppPath)) { (s, dir) =>
      Catalog.registerAll(s, dir)
      // register the views once, then run each query's fingerprint
      // separately — 113 multi-join branches in ONE Spark statement
      // would stress the optimizer for no semantic gain; the oracle
      // side runs the single combined text
      viewDefs.foreach { case (name, body) =>
        GraftSql.sql(s, body).createOrReplaceTempView(name)
      }
      val rows = queries.map { case (qid, q) =>
        Row(qid, GraftSql.sql(s, fingerprintSql(q)).collect()(0).getString(0))
      }
      val schema = StructType(Seq(
        StructField("qid", StringType, nullable = false),
        StructField("fp", StringType, nullable = true)))
      s.createDataFrame(new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
        .orderBy("qid")
    }
  )
}
