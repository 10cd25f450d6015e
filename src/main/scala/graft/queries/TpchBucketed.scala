package graft.queries

import graft.sources.Bucketize

/** Bucketed-storage variants of the exchange-bound TPC-H queries —
  * the r4 perf verdict's top ask made first-class: the same four
  * plans (Tpch.q{3,5,10,12}Plan, identical code path), sourced from
  * orderkey-bucketed fact tables (sources/Bucketize.scala) instead of
  * flat parquet, so the lineitem⋈orders orderkey exchange — the one
  * residual >2× cost vs the single-node baseline — disappears from
  * the plan entirely.
  *
  * Oracle-gated with the SAME oracle SQL as the flat variants:
  * storage layout must never change answers. Benchmarked as separate
  * keys so flat-vs-bucketed is directly comparable in BENCH_r{N}.
  */
object TpchBucketed {
  private def oracleOf(name: String): String =
    Tpch.defs.find(_.name == name).get.oracle.get

  val defs: Seq[QDef] = Seq(
    QDef.sql("tpch_q3_bucketed", oracleOf("tpch_q3")) { (s, dir) =>
      Tpch.q3Plan(n => Bucketize.table(s, dir, n), bucketed = true)
    },
    QDef.sql("tpch_q5_bucketed", oracleOf("tpch_q5")) { (s, dir) =>
      Tpch.q5PlanV2(n => Bucketize.table(s, dir, n), bucketed = true)
    },
    QDef.sql("tpch_q10_bucketed", oracleOf("tpch_q10")) { (s, dir) =>
      Tpch.q10Plan(n => Bucketize.table(s, dir, n), bucketed = true)
    },
    QDef.sql("tpch_q12_bucketed", oracleOf("tpch_q12")) { (s, dir) =>
      Tpch.q12Plan(n => Bucketize.table(s, dir, n), bucketed = true)
    },
    // q18 touches the orderkey layout twice: the 15 M-group HAVING
    // aggregate (groupBy on the bucket key → NO exchange before the
    // partial/final agg) and the fact join — both go exchange-free on
    // the bucketed tables.
    QDef.sql("tpch_q18_bucketed", oracleOf("tpch_q18")) { (s, dir) =>
      Tpch.q18Plan(n => Bucketize.table(s, dir, n))
    }
  )
}
