package graft.queries

/** The reference fork's OWN documented workloads
  * (/root/reference/sql_files/sml.sql and big.sql) run verbatim-shape
  * on this engine — the queries its AM_US_JOIN and GROUPJOIN operators
  * were built to serve. Tables are inlined as VALUES CTEs (sml.sql's
  * INSERTs; big.sql ships empty tables, so its non-equi/group-join
  * shapes get the same schema with representative rows) so the
  * identical SQL runs on both Spark and the DuckDB oracle.
  */
object RefWorkload {

  private val studEnrol =
    """WITH stud(sid, sname, sage) AS (VALUES
      |  (101,'A',25),(102,'B',26),(103,'A',27),(104,'B',23),
      |  (105,'A',30),(107,'D',30),(108,'C',25)),
      | enrol(sid, cid) AS (VALUES
      |  (101,1),(101,2),(102,3),(103,4),(102,2),(105,1),(108,1))
      |""".stripMargin

  private val userOrders =
    """WITH users(user_id, first_name, last_name) AS (VALUES
      |  (1,'u1','l1'),(2,'u2','l2'),(3,'u3','l3')),
      | products(product_id, product_name, price) AS (VALUES
      |  (10,'p10',100),(20,'p20',200),(30,'p30',300)),
      | orders2(order_id, user_id, product_ordered, total_paid) AS (VALUES
      |  (900,1,10,100),(901,1,20,200),(902,2,10,100),
      |  (903,3,30,300),(904,2,30,300))
      |""".stripMargin

  val defs: Seq[QDef] = Seq(

    // sml.sql Query 01: plain equi join.
    QDef.text("ref_sml_q1", studEnrol +
      """SELECT stud.sid, enrol.cid
        |FROM stud JOIN enrol ON stud.sid = enrol.sid
        |ORDER BY stud.sid, enrol.cid""".stripMargin),

    // sml.sql Query 02: join + filter.
    QDef.text("ref_sml_q2", studEnrol +
      """SELECT stud.sid, enrol.cid
        |FROM stud JOIN enrol ON stud.sid = enrol.sid
        |WHERE stud.sage > 25
        |ORDER BY stud.sid, enrol.cid""".stripMargin),

    // sml.sql Query 03: the GROUPJOIN shape (join feeding GROUP BY).
    QDef.text("ref_sml_q3", studEnrol +
      """SELECT enrol.cid, COUNT(stud.sid) AS student_count
        |FROM stud JOIN enrol ON stud.sid = enrol.sid
        |GROUP BY enrol.cid
        |ORDER BY cid""".stripMargin),

    // big.sql Query A: the AM_US_JOIN non-equi (!=) join.
    QDef.text("ref_big_qa", userOrders +
      """SELECT users.user_id, orders2.order_id
        |FROM users JOIN orders2 ON users.user_id <> orders2.user_id
        |ORDER BY users.user_id, orders2.order_id""".stripMargin),

    // big.sql Query B: chained non-equi joins.
    QDef.text("ref_big_qb", userOrders +
      """SELECT u.first_name, u.last_name, p.product_name, o.total_paid
        |FROM orders2 o
        |JOIN users u ON o.user_id <> u.user_id
        |JOIN products p ON o.product_ordered <> p.product_id
        |ORDER BY first_name, product_name, total_paid""".stripMargin),

    // big.sql Query C: plain grouped aggregation.
    QDef.text("ref_big_qc", userOrders +
      """SELECT o.user_id, o.product_ordered,
        | CAST(SUM(o.total_paid) AS BIGINT) AS total_spent
        |FROM orders2 o
        |GROUP BY o.user_id, o.product_ordered
        |ORDER BY user_id, product_ordered""".stripMargin),

    // big.sql Query D: non-equi joins + GROUP BY (GROUPJOIN target).
    QDef.text("ref_big_qd", userOrders +
      """SELECT u.first_name, u.last_name, p.product_name,
        | CAST(SUM(o.total_paid) AS BIGINT) AS total_spent
        |FROM orders2 o
        |JOIN users u ON o.user_id <> u.user_id
        |JOIN products p ON o.product_ordered <> p.product_id
        |GROUP BY u.user_id, p.product_id, u.first_name, u.last_name, p.product_name
        |ORDER BY first_name, product_name""".stripMargin)
  )
}
