package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.sources.{Catalog, Dml}

/** Persistent DML surface U1–U3 (SURVEY §2.4b): UPDATE / DELETE /
  * MERGE as copy-on-write parquet rewrites (graft.sources.Dml) — the
  * reference's physical_update.cpp / physical_delete.cpp /
  * ON CONFLICT surface. Each entry seeds a per-run copy of a base
  * table (8 hash-keyed files so the file-pruned rewrite is
  * exercised, not a trivial 1-file swap), mutates it, and aggregates
  * the READ-BACK table; the oracle states the post-DML table as pure
  * SQL over the original, so parity means the rewrite neither lost,
  * duplicated, nor corrupted any row.
  */
object DmlQ {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  private def ts(d: String): Column = lit(d).cast("timestamp")

  /** Drop a managed table AND its warehouse directory. The catalog
    * (Derby metastore) is per-JVM while ./spark-warehouse is shared,
    * so another process's run can leave an orphaned location that
    * makes saveAsTable refuse — clear both.
    */
  private def freshTable(s: SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val wh = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir") + "/" + name)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
  }

  /** Seed a mutable copy: 8 files, hash-clustered on `key` so DML
    * predicates on the key touch a strict subset of files. The path is
    * stable per (entry, sf dir) and overwritten each run, so repeated
    * Verify/Bench loops reuse one directory instead of accumulating a
    * fresh multi-GB table copy per run.
    */
  private def seed(s: SparkSession, dir: String, table: String,
                   key: String, prefix: String): String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/${prefix}_${dir.hashCode.toHexString}"
    t(s, dir, table).repartition(8, col(key))
      .write.mode(SaveMode.Overwrite).parquet(path)
    path
  }

  val defs: Seq[QDef] = Seq(

    // U1: UPDATE with a carried-through remainder — hit files keep
    // their non-matching rows, non-hit files are never rewritten.
    // +100.0 stays on the 2-decimal grid (no cross-engine rounding
    // edge; SURVEY §3 discipline).
    QDef.sql("u01_update",
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         | ${Exact.dsumSql("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice + 100.0 ELSE o_totalprice END")} AS total
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val path = seed(s, dir, "orders", "o_orderkey", "graft_upd")
      Dml.update(s, path,
        cond = col("o_orderpriority") === "1-URGENT",
        set = Map("o_totalprice" -> (col("o_totalprice") + 100.0)))
      Catalog.parquet(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), Exact.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    },

    // U2: DELETE — matching rows dropped, everything else intact.
    QDef.sql("u02_delete",
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         | CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
         |FROM orders WHERE NOT (o_orderdate < TIMESTAMP '1993-06-01')
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val path = seed(s, dir, "orders", "o_orderkey", "graft_del")
      Dml.delete(s, path, col("o_orderdate") < ts("1993-06-01"))
      Catalog.parquet(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).cast("bigint").as("key_sum"))
        .orderBy(col("o_orderstatus"))
    },

    // U3: MERGE upsert — WHEN MATCHED updates c_acctbal, WHEN NOT
    // MATCHED inserts synthetic customers in a fresh NEWSEG segment,
    // so both arms show up separately in the read-back aggregate.
    QDef.sql("u03_merge",
      s"""WITH upd AS (
         |  SELECT c_custkey, c_name, c_nationkey,
         |    CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 500.0 ELSE c_acctbal END AS c_acctbal,
         |    c_mktsegment
         |  FROM customer),
         |ins AS (
         |  SELECT c_custkey + 10000000 AS c_custkey, 'NEW_' || c_name AS c_name,
         |    c_nationkey, 10.0 AS c_acctbal, 'NEWSEG' AS c_mktsegment
         |  FROM customer WHERE c_custkey % 17 = 0),
         |merged AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
         |SELECT c_mktsegment, COUNT(*) AS n,
         | ${Exact.dsumSql("c_acctbal")} AS bal
         |FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val path = seed(s, dir, "customer", "c_custkey", "graft_mrg")
      val c = t(s, dir, "customer")
      val source = c.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          (col("c_acctbal") + 500.0).as("c_acctbal"), col("c_mktsegment"))
        .unionByName(
          c.filter(col("c_custkey") % 17 === 0)
            .select((col("c_custkey") + 10000000L).as("c_custkey"),
              concat(lit("NEW_"), col("c_name")).as("c_name"),
              col("c_nationkey"), lit(10.0).as("c_acctbal"),
              lit("NEWSEG").as("c_mktsegment")))
      Dml.merge(s, path, source, on = Seq("c_custkey"),
        set = Map("c_acctbal" -> source("c_acctbal")))
      Catalog.parquet(s, path)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), Exact.dsum(col("c_acctbal")).as("bal"))
        .orderBy(col("c_mktsegment"))
    },

    // U4: PRIMARY KEY uniqueness audit (SURVEY §2.4b) — the read-side
    // half of the reference's constraint surface (sql_files/big.sql
    // declares PRIMARY KEY, enforced by the ART index in
    // src/execution/index/art/art.cpp). Planted duplicates must come
    // back with exact multiplicities; write-side rejection is in
    // Dml.insert (DmlSpec accept/reject cases).
    QDef.sql("u04_pk_audit",
      """WITH planted AS (
        |  SELECT * FROM orders
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderkey % 997 = 0)
        |SELECT o_orderkey, COUNT(*) AS n
        |FROM planted GROUP BY o_orderkey HAVING COUNT(*) > 1
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val planted = o
        .unionAll(o.filter(col("o_orderkey") % 97 === 0))
        .unionAll(o.filter(col("o_orderkey") % 997 === 0))
      Dml.pkViolations(planted, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },

    // U5: COMPACT (OPTIMIZE/CHECKPOINT analog) — an UPDATE fragments
    // the table into extra part files; compaction rewrites them into
    // few large files with IDENTICAL data. The oracle aggregates what
    // the data must still be; the file-count collapse itself is
    // asserted in DmlSpec.
    QDef.sql("u05_compact",
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         | ${Exact.dsumSql("CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice + 1.0 ELSE o_totalprice END")} AS total
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val path = seed(s, dir, "orders", "o_orderkey", "graft_cpt")
      Dml.update(s, path,
        cond = col("o_orderpriority") === "5-LOW",
        set = Map("o_totalprice" -> (col("o_totalprice") + 1.0)))
      Dml.compact(s, path, targetBytes = 64L * 1024 * 1024)
      Catalog.parquet(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), Exact.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    },

    // U6: CREATE SEQUENCE analog — contiguous ids in key order with
    // START WITH / INCREMENT BY, assigned without any global window
    // (range partition + per-partition counts + O(#parts) offset
    // exchange; Dml.assignSequence). The oracle states the same ids
    // as a row_number arithmetic — the deterministic meaning of
    // nextval over a keyed scan.
    QDef.sql("u06_sequence",
      """SELECT o_orderkey,
        |  1000 + (row_number() OVER (ORDER BY o_orderkey) - 1) * 5 AS seq_id
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Dml.assignSequence(t(s, dir, "orders"), "o_orderkey",
          startWith = 1000L, incrementBy = 5L)
        .select(col("o_orderkey"), col("seq_id"))
        .orderBy(col("o_orderkey"))
    },

    // U7: FOREIGN KEY audit (events.user_id → customer.c_custkey).
    // The generator keeps the data referentially clean, so orphans
    // are planted (u04 pattern: shifted user ids) and must come back
    // with exact multiplicities. NULL child keys are exempt per SQL
    // FK semantics — one is planted to prove it stays out. Write-side
    // batch rejection is DmlSpec's insertChecked cases.
    QDef.sql("u07_fk_audit",
      """WITH planted AS (
        |  SELECT user_id FROM events
        |  UNION ALL
        |  SELECT user_id + 9000000 AS user_id FROM events WHERE event_id % 199 = 0
        |  UNION ALL
        |  SELECT CAST(NULL AS BIGINT) AS user_id FROM events WHERE event_id % 500 = 0)
        |SELECT p.user_id, COUNT(*) AS n
        |FROM planted p
        |WHERE p.user_id IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = p.user_id)
        |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
      val planted = e.select(col("user_id"))
        .unionAll(e.filter(col("event_id") % 199 === 0)
          .select((col("user_id") + 9000000L).as("user_id")))
        .unionAll(e.filter(col("event_id") % 500 === 0)
          .select(lit(null).cast("long").as("user_id")))
      Dml.fkViolations(planted, t(s, dir, "customer"),
          Seq("user_id" -> "c_custkey"))
        .orderBy(col("user_id"))
    },

    // U8: CHECK + NOT NULL audit. SQL CHECK semantics: only FALSE
    // violates — a NULL predicate (planted via NULL price) passes the
    // CHECK but trips the NOT NULL audit, so both behaviors are
    // pinned by the same entry.
    QDef.sql("u08_check_audit",
      """WITH planted AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 7000000, -o_totalprice FROM orders WHERE o_orderkey % 211 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 8000000, CAST(NULL AS DOUBLE) FROM orders WHERE o_orderkey % 401 = 0)
        |SELECT
        |  (SELECT COUNT(*) FROM planted WHERE NOT COALESCE(o_totalprice > 0.0, TRUE)) AS check_bad,
        |  (SELECT COUNT(*) FROM planted WHERE o_totalprice IS NULL) AS null_bad,
        |  (SELECT COUNT(*) FROM planted) AS total""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val planted = o
        .unionAll(o.filter(col("o_orderkey") % 211 === 0)
          .select((col("o_orderkey") + 7000000L).as("o_orderkey"),
            negate(col("o_totalprice")).as("o_totalprice")))
        .unionAll(o.filter(col("o_orderkey") % 401 === 0)
          .select((col("o_orderkey") + 8000000L).as("o_orderkey"),
            lit(null).cast("double").as("o_totalprice")))
      val checkBad = Dml.checkViolations(planted, col("o_totalprice") > 0.0)
        .agg(count(lit(1)).as("check_bad"))
      val nullBad = planted.filter(col("o_totalprice").isNull)
        .agg(count(lit(1)).as("null_bad"))
      val total = planted.agg(count(lit(1)).as("total"))
      checkBad.crossJoin(nullBad).crossJoin(total)
    },

    // U9: UPDATE + DELETE as STATEMENTS through the dialect front
    // door (sources/DmlSql; reference update_statement.cpp /
    // delete_statement.cpp) — the verbatim text a reference user
    // types, executed against a managed table, end state read back.
    QDef.sql("u09_dml_statements",
      s"""WITH upd AS (
         |  SELECT c_mktsegment,
         |    CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100.0
         |         ELSE c_acctbal END AS bal
         |  FROM customer)
         |SELECT c_mktsegment, COUNT(*) AS n, ${Exact.dsumSql("bal")} AS total
         |FROM upd WHERE NOT (bal < 0.0)
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val tbl = s"u09fd_${math.abs(dir.hashCode).toHexString}"
      freshTable(s, tbl)
      t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .repartition(8, col("c_custkey"))
        .write.saveAsTable(tbl)
      graft.GraftSql.runScript(s,
        s"""UPDATE $tbl SET c_acctbal = c_acctbal + 100.0 WHERE c_mktsegment = 'BUILDING';
           |DELETE FROM $tbl WHERE c_acctbal < 0.0""".stripMargin)
      s.table(tbl)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), Exact.dsum(col("c_acctbal")).as("total"))
        .orderBy(col("c_mktsegment"))
    },

    // U10: INSERT … ON CONFLICT DO UPDATE as a STATEMENT (reference
    // insert_statement.cpp:8 OnConflictInfo): keys 51–100 collide and
    // take bal + excluded.bal, 101–150 insert. The oracle states the
    // merged table as pure SQL.
    QDef.sql("u10_upsert_statement",
      s"""WITH base AS (
         |  SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS v
         |  FROM customer WHERE c_custkey <= 100),
         |ins AS (SELECT k + 50 AS k, 1.0 AS v FROM base),
         |upd AS (SELECT b.k, b.v + i.v AS v FROM base b JOIN ins i ON b.k = i.k),
         |keep AS (SELECT * FROM base WHERE k NOT IN (SELECT k FROM ins)),
         |neww AS (SELECT * FROM ins WHERE k NOT IN (SELECT k FROM base)),
         |fin AS (SELECT * FROM upd UNION ALL SELECT * FROM keep
         |        UNION ALL SELECT * FROM neww)
         |SELECT CAST(k % 7 AS INT) AS grp, COUNT(*) AS n,
         |  ${Exact.dsumSql("v")} AS total
         |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val tag = math.abs(dir.hashCode).toHexString
      val tgt = s"u10fd_$tag"
      val src = s"u10src_$tag"
      freshTable(s, tgt)
      freshTable(s, src)
      val base = t(s, dir, "customer").filter(col("c_custkey") <= 100)
        .select(col("c_custkey").as("k"), col("c_acctbal").cast("double").as("v"))
      base.repartition(4, col("k")).write.saveAsTable(tgt)
      base.write.saveAsTable(src)
      graft.GraftSql.sql(s,
        s"INSERT INTO $tgt SELECT k + 50, 1.0 FROM $src " +
          "ON CONFLICT (k) DO UPDATE SET v = v + excluded.v")
      s.table(tgt)
        .groupBy((col("k") % 7).cast("int").as("grp"))
        .agg(count(lit(1)).as("n"), Exact.dsum(col("v")).as("total"))
        .orderBy(col("grp"))
    },

    // U12: BEGIN / ROLLBACK / COMMIT as statements (reference
    // transaction_statement.cpp → sources/Txn file-level undo): the
    // rolled-back mutations must leave NO trace, the committed one
    // must be the only change — the oracle states exactly the
    // committed transform.
    QDef.sql("u11_transactions",
      s"""WITH fin AS (
         |  SELECT c_mktsegment,
         |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 50.0
         |         ELSE c_acctbal END AS bal
         |  FROM customer)
         |SELECT c_mktsegment, COUNT(*) AS n, ${Exact.dsumSql("bal")} AS total
         |FROM fin GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val tbl = s"u11fd_${math.abs(dir.hashCode).toHexString}"
      freshTable(s, tbl)
      t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .repartition(8, col("c_custkey"))
        .write.saveAsTable(tbl)
      graft.GraftSql.runScript(s,
        s"""BEGIN TRANSACTION;
           |UPDATE $tbl SET c_acctbal = 0.0 WHERE c_mktsegment = 'BUILDING';
           |DELETE FROM $tbl WHERE c_acctbal < 0.0;
           |ROLLBACK;
           |BEGIN TRANSACTION;
           |UPDATE $tbl SET c_acctbal = c_acctbal + 50.0 WHERE c_custkey % 3 = 0;
           |COMMIT""".stripMargin)
      s.table(tbl)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), Exact.dsum(col("c_acctbal")).as("total"))
        .orderBy(col("c_mktsegment"))
    }
  )
}
