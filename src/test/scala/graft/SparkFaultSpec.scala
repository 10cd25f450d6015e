package graft

import org.apache.spark.sql.PlainSession
import org.scalatest.funsuite.AnyFunSuite

/** Faults of Spark itself that graft entries hit, each as a minimal
  * repro on a session without graft's extensions that asserts today's
  * failure: a Spark upgrade that fixes one fails its test here, and the
  * entry's workaround or exclusion can then go.
  */
class SparkFaultSpec extends AnyFunSuite {
  import TestSession.spark

  // f84_quantified's shape: the dialect translates `x > ANY(SELECT …)`
  // to a correlated scalar subquery whose outer reference sits in a
  // derived table's projection
  private val side =
    "SELECT k, (SELECT max(c) FROM (SELECT k > v AS c FROM fault_r)) AS g FROM fault_n"

  test("Spark 4.1 fails EXCEPT ALL over a correlated scalar subquery in a derived table (f84)") {
    val plain = PlainSession.on(spark.sparkContext)
    plain.conf.unset("spark.sql.optimizer.excludedRules")
    plain.sql("CREATE TEMP VIEW fault_n AS SELECT * FROM VALUES (0L), (1L) AS t(k)")
    plain.sql("CREATE TEMP VIEW fault_r AS SELECT * FROM VALUES (0L), (1L) AS t(v)")
    assert(plain.sql(side).collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet ===
      Set((0L, false), (1L, true)))
    // the Union that RewriteExceptAll builds rewrites its children's
    // constraints through an attribute map that lacks the outer reference
    val e = intercept[java.util.NoSuchElementException] {
      plain.sql(s"SELECT * FROM ($side) EXCEPT ALL SELECT * FROM ($side)").collect()
    }
    assert(e.getMessage.startsWith("key not found: k#"), e.getMessage)
  }
}
