package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Catalog

/** Source/sink surface S2–S5 (SURVEY §2.4): CSV and JSON round-trips
  * with explicit schemas, hive-partitioned parquet writes, and the SQL
  * view front door. Round-trips land in a per-run temp dir (the
  * correctness signal is the values surviving the format round-trip).
  */
object SourcesQ {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  val defs: Seq[QDef] = Seq(

    // S2: typed CSV round-trip; header + explicit schema on read (never
    // inferSchema at scale — schema inference is a full extra pass).
    QDef.sql("s02_csv_roundtrip",
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val path = tmp("graft_csv")
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
      s.read
        .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .option("header", "true").csv(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), graft.functions.Exact.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    },

    // S12: ORC round-trip — the columnar format Spark ships natively
    // besides parquet (the reference reads ORC through extensions;
    // here it is a first-class source). Full-fidelity check: doubles,
    // strings, timestamps and the row count all survive the
    // write→read cycle, proven by hash-matching an aggregate computed
    // from the ORIGINAL parquet in the oracle.
    QDef.sql("s12_orc_roundtrip",
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        | CAST(MAX(o_orderdate) AS DATE) AS last_day
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val path = tmp("graft_orc")
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
        .write.mode(SaveMode.Overwrite).orc(path)
      s.read.orc(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("o_totalprice")).as("total"),
          to_date(max(col("o_orderdate"))).as("last_day"))
        .orderBy(col("o_orderstatus"))
    },

    // S14: Delta Lake round-trip (sources/DeltaLake.scala — the
    // reference's delta extension as a native transaction log). The
    // snapshot SEMANTICS are what the oracle checks: append the full
    // table, then OVERWRITE with the doc_id<250 slice — the read-back
    // must see only the overwrite (old files still on disk, log stops
    // naming them), hash-matching the oracle's filtered aggregate.
    QDef.sql("s14_delta_scan",
      """SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE doc_id < 250
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      import graft.sources.DeltaLake
      val path = tmp("graft_delta")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars"))
      DeltaLake.append(s, docs, path)
      DeltaLake.overwrite(s, docs.where(col("doc_id") < 250), path)
      DeltaLake.read(s, path)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("source"))
    },

    // S3: JSON lines round-trip.
    QDef.sql("s03_json_roundtrip",
      """SELECT c_mktsegment, COUNT(*) AS n,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val path = tmp("graft_json")
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .write.mode(SaveMode.Overwrite).json(path)
      s.read
        .schema("c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE")
        .json(path)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), graft.functions.Exact.dsum(col("c_acctbal")).as("bal"))
        .orderBy(col("c_mktsegment"))
    },

    // S4: hive-style partitioned write + partition-pruned read-back.
    // At 100 TB this is the layout that makes partition pruning work;
    // the read below only touches one partition directory.
    QDef.sql("s04_partitioned_write",
      """SELECT o_orderstatus AS st, COUNT(*) AS n FROM orders
        |WHERE o_orderstatus = 'F' GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val path = tmp("graft_part")
      t(s, dir, "orders")
        .write.mode(SaveMode.Overwrite).partitionBy("o_orderstatus").parquet(path)
      Catalog.parquet(s, path)
        .filter(col("o_orderstatus") === "F") // partition-pruned scan
        .groupBy(col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("n"))
        .select(col("st").cast("string").as("st"), col("n"))
    },

    // S5: SQL front door over registered views.
    QDef.text("s05_sql_view",
      """SELECT n_name, COUNT(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // S6: CREATE TABLE AS SELECT — the reference's CTAS/persistence
    // surface (/root/reference/src/execution/operator/persistent/
    // physical_insert.cpp drives CTAS there). External parquet table
    // in a per-run location; correctness = aggregating the READ-BACK
    // table matches the oracle over the source table.
    QDef.sql("s06_ctas",
      """SELECT c_mktsegment, COUNT(*) AS n,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      Catalog.registerAll(s, dir)
      val path = tmp("graft_ctas")
      s.sql("DROP TABLE IF EXISTS g_ctas_seg")
      s.sql(s"CREATE TABLE g_ctas_seg USING parquet LOCATION '$path' " +
        "AS SELECT c_mktsegment, c_acctbal FROM customer")
      s.sql(
        """SELECT c_mktsegment, COUNT(*) AS n,
          | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
          |FROM g_ctas_seg GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },

    // S7: INSERT INTO ... SELECT append semantics (two appends, then
    // read back) — physical_insert.cpp's append path re-expressed as
    // catalog-table INSERTs.
    QDef.sql("s07_insert_append",
      """WITH u AS (
        |  SELECT r_regionkey, r_name FROM region
        |  UNION ALL
        |  SELECT r_regionkey + 100, r_name || '_2' FROM region)
        |SELECT COUNT(*) AS n, CAST(SUM(r_regionkey) AS BIGINT) AS key_sum FROM u""".stripMargin) { (s, dir) =>
      Catalog.registerAll(s, dir)
      val path = tmp("graft_ins")
      s.sql("DROP TABLE IF EXISTS g_ins_region")
      s.sql(s"CREATE TABLE g_ins_region (r_regionkey INT, r_name STRING) " +
        s"USING parquet LOCATION '$path'")
      s.sql("INSERT INTO g_ins_region SELECT r_regionkey, r_name FROM region")
      s.sql("INSERT INTO g_ins_region SELECT r_regionkey + 100, concat(r_name, '_2') FROM region")
      s.sql("SELECT COUNT(*) AS n, CAST(SUM(r_regionkey) AS BIGINT) AS key_sum FROM g_ins_region")
    },

    // S8: COPY TO (csv export) + full-fidelity read-back: every row
    // survives the text round-trip byte-exact
    // (physical_copy_to_file.cpp's surface).
    QDef.sql("s08_copy_csv",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
      val path = tmp("graft_copy")
      t(s, dir, "nation")
        .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
      s.read
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("header", "true").csv(path)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    },

    // S9: CSV auto-sniffing (the reference's sniff_csv.cpp /
    // read_csv auto-detection): a headerless, pipe-delimited file is
    // read with NO dialect or schema hints — the sniffer must detect
    // the delimiter, the absence of a header, and per-column types
    // from a bounded sample. No casts on the Spark side, so the
    // inferred types (BIGINT, STRING, BIGINT) are load-bearing: a
    // wrong inference fails the schema/hash compare against the
    // parquet ground truth.
    QDef.sql("s09_csv_sniff",
      """SELECT CAST(n_nationkey AS BIGINT) AS c0, n_name AS c1,
        | CAST(n_regionkey AS BIGINT) AS c2
        |FROM nation ORDER BY c0""".stripMargin) { (s, dir) =>
      val path = tmp("graft_sniff")
      t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .write.mode(SaveMode.Overwrite).option("sep", "|").csv(path)
      graft.sources.CsvSniffer.read(s, path)
        .orderBy(col("c0"))
    },

    // S12: JSON schema auto-inference — the read_json_auto counterpart
    // of s09's CSV sniffing (reference extension/json/json_functions/
    // read_json.cpp auto-detection). NO schema hint on the Spark read:
    // the inferred types (BIGINT, STRING, nested STRUCT) are
    // load-bearing — the untyped read must reconstruct typed values
    // that hash-match the parquet ground truth, including a nested
    // object round-tripped through JSON text.
    QDef.sql("s11_json_auto",
      """SELECT n_nationkey AS k, n_name AS name,
        | n_regionkey + 100 AS shifted,
        | 'r' || CAST(n_regionkey AS VARCHAR) AS tag
        |FROM nation ORDER BY k""".stripMargin) { (s, dir) =>
      val path = tmp("graft_jauto")
      t(s, dir, "nation")
        .select(col("n_nationkey").as("k"), col("n_name").as("name"),
          struct((col("n_regionkey") + 100).as("shifted"),
            concat(lit("r"), col("n_regionkey").cast("string")).as("tag"))
            .as("meta"))
        .write.mode(SaveMode.Overwrite).json(path)
      s.read.json(path) // schema inferred, nested struct included
        .select(col("k"), col("name"),
          col("meta.shifted").as("shifted"), col("meta.tag").as("tag"))
        .orderBy(col("k"))
    },

    // S13: BUCKETED persisted tables — co-locating the join key at
    // WRITE time so every later orderkey join runs with NO exchange
    // on either fact side (BucketingSpec proves the exchange count;
    // this entry proves the VALUES through the driver's oracle). This
    // is the 100 TB answer to the orderkey-exchange cost the README
    // profiles on q3/q5/q10/q12: amortize the shuffle once into the
    // storage layout instead of paying it per query.
    QDef.sql("s13_bucketed_join",
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         | ${graft.functions.Exact.dsumSql("l_quantity")} AS qty
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      // a fresh session's catalog is empty but the managed LOCATION
      // can survive from an earlier JVM — drop both before writing
      Seq("graft_src_orders_b", "graft_src_lineitem_b").foreach { tbl =>
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val loc = new java.io.File(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tbl)
        if (loc.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles.foreach(rm)
            f.delete()
          }
          rm(loc)
        }
      }
      t(s, dir, "orders")
        .write.mode(SaveMode.Overwrite).bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("graft_src_orders_b")
      t(s, dir, "lineitem")
        .write.mode(SaveMode.Overwrite).bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("graft_src_lineitem_b")
      s.table("graft_src_orders_b")
        .join(s.table("graft_src_lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("l_quantity")).as("qty"))
        .orderBy(col("o_orderstatus"))
    },

    // S11: SUMMARIZE — one-pass table profiling (bind_summarize.cpp
    // rewrites SUMMARIZE into a single wide aggregation; same shape
    // here: one scan regardless of width). The oracle spells out the
    // identical stats per column; n_distinct is exact on both sides
    // (the reference uses approx_unique — the approx variant is
    // spec-covered instead, SummarizeSpec).
    QDef.sql("s10_summarize", {
      def numCol(c: String, intAvg: Boolean) = {
        val avg =
          if (intAvg) s"CAST(SUM($c) AS DOUBLE)/COUNT($c)"
          else s"CAST(SUM(CAST($c AS DECIMAL(18,4))) AS DOUBLE)/COUNT($c)"
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
           | COUNT(*) - COUNT($c) AS n_null,
           | COUNT(DISTINCT $c) AS n_distinct,
           | CAST(MIN($c) AS DOUBLE) AS min_num,
           | CAST(MAX($c) AS DOUBLE) AS max_num,
           | $avg AS avg_num,
           | CAST(NULL AS VARCHAR) AS min_str,
           | CAST(NULL AS VARCHAR) AS max_str FROM events""".stripMargin
      }
      def tsCol(c: String) =
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
           | COUNT(*) - COUNT($c) AS n_null,
           | COUNT(DISTINCT $c) AS n_distinct,
           | CAST(MIN(epoch_us($c)) AS DOUBLE) AS min_num,
           | CAST(MAX(epoch_us($c)) AS DOUBLE) AS max_num,
           | CAST(NULL AS DOUBLE) AS avg_num,
           | CAST(NULL AS VARCHAR) AS min_str,
           | CAST(NULL AS VARCHAR) AS max_str FROM events""".stripMargin
      def strCol(c: String) =
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
           | COUNT(*) - COUNT($c) AS n_null,
           | COUNT(DISTINCT $c) AS n_distinct,
           | CAST(NULL AS DOUBLE) AS min_num,
           | CAST(NULL AS DOUBLE) AS max_num,
           | CAST(NULL AS DOUBLE) AS avg_num,
           | MIN($c) AS min_str,
           | MAX($c) AS max_str FROM events""".stripMargin
      Seq(numCol("event_id", intAvg = true), tsCol("ts"),
        numCol("user_id", intAvg = true), strCol("event_type"),
        numCol("value", intAvg = false), strCol("props"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    }) { (s, dir) =>
      graft.operators.Summarize.summarize(t(s, dir, "events"))
    },

    // S15: read_text / read_file / glob (reference
    // src/function/table/{read_file,glob}.cpp) — files-as-a-table.
    // The Spark analog of read_file is the binaryFile source (path,
    // modificationTime, length, content) with pathGlobFilter for the
    // glob; hive `r_name=...` directories written by partitionBy are
    // re-derived from the file PATH (read_text's filename column).
    // The oracle aggregates the original table — the check is the
    // values surviving text write → glob → binary read → parse.
    // Scale: binaryFile is a standard FileFormat — listing and reads
    // distribute; one file per partition value here, but nothing in
    // the plan is single-node.
    QDef.sql("s15_read_text",
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
      val path = tmp("graft_text")
      t(s, dir, "nation")
        .select(col("n_regionkey"),
          concat_ws("|", col("n_nationkey"), col("n_name")).as("value"))
        .write.partitionBy("n_regionkey").mode(SaveMode.Overwrite).text(path)
      val raw = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(path + "/n_regionkey=*")
      raw
        // read_file hands back whole contents — one row per FILE;
        // the per-line view (read_text's row shape) is an explode
        .select(col("path"),
          explode(split(decode(col("content"), "UTF-8"), "\n")).as("line"))
        .filter(length(col("line")) > 0)
        .select(
          expr("split_part(line, '|', 1)").cast("int").as("n_nationkey"),
          expr("split_part(line, '|', 2)").as("n_name"),
          // the hive directory IS the partition value — read_text's
          // filename column re-derived from the path
          regexp_extract(col("path"), "n_regionkey=([0-9]+)", 1)
            .cast("int").as("n_regionkey"))
        .orderBy(col("n_nationkey"))
    },

    // S17: DESCRIBE — table metadata AS a result set (reference
    // src/parser/statement/... DESCRIBE → pragma_table_info). The
    // front door reads the catalog schema, never the data: six
    // columns (column_name, column_type, null, key, default, extra)
    // with the reference's type names from DuckTypes. Metadata-only
    // on both engines — zero scan tasks.
    QDef.text("s16_describe", "DESCRIBE orders"),

    // S18: EXPORT DATABASE / IMPORT DATABASE round-trip (reference
    // export_statement.cpp — dir of per-table parquet + schema.sql +
    // load.sql). The check: a three-table join computed from the
    // IMPORTED catalog hash-matches the oracle computed from the
    // ORIGINALS — full catalog fidelity through the dump/reload
    // cycle. Each table write/read is an ordinary distributed
    // parquet job; import is lazy view registration.
    QDef.sql("s17_export_import",
      """SELECT r_name, count(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |JOIN nation ON o_custkey % 25 = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, dir) =>
      import graft.sources.ExportDb
      val path = tmp("graft_export")
      ExportDb.exportDatabase(Map(
        "exp_orders" -> t(s, dir, "orders"),
        "exp_nation" -> t(s, dir, "nation"),
        "exp_region" -> t(s, dir, "region")), path)
      val imported = ExportDb.importDatabase(s, path)
      imported("exp_orders")
        .join(imported("exp_nation"),
          col("o_custkey") % 25 === col("n_nationkey"))
        .join(imported("exp_region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("r_name"))
    },

    // S19: ATTACH 'dir' AS db / cross-database query (reference
    // attach_statement.cpp): two mounts of the star schema become two
    // session-catalog DATABASES (external tables — a metastore
    // registration, zero data movement), and the query joins
    // att1.orders against att2.customer across them. The oracle runs
    // the equivalent single-catalog join — attached reads must be
    // indistinguishable from direct reads. Detach/lifecycle
    // assertions live in AttachSpec.
    QDef.sql("s18_attach",
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      import graft.sources.Attach
      Attach.attach(s, "att1", dir)
      Attach.attach(s, "att2", dir)
      s.sql(
        """SELECT o_orderpriority, COUNT(*) AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
          |FROM att1.orders JOIN att2.customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }
  )
}
