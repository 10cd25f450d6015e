package graft.queries

/** F73/F74: the round's name-closure tranche through the SQL front
  * door — holistic aggregates (entropy, mad, quantile/quantile_disc,
  * bitstring_agg; operators/HolisticAggs.scala + plans/FunctionTable)
  * and the scalar stragglers (era, julian, age, datesub,
  * timezone_hour, parse_dirname/parse_path, unbin, bitstring/
  * get_bit/set_bit) — ONE query text runs verbatim on BOTH engines
  * (the f43 proof shape). histogram()/histogram_exact() are
  * registered too but return MAPs, which the driver's hash gate
  * cannot sort — their semantics are spec-pinned (Registry2Spec)
  * against the reference's binned_histogram.cpp contract instead.
  *
  * Float discipline: entropy is transcendental → FLOOR(x·1e9+0.5)
  * grid on both sides (the f28 convention); mad/quantile are
  * element arithmetic with the shared lower+(upper−lower)·frac
  * interpolation — bit-exact, no grid.
  */
object FunctionsQ8 {

  val defs: Seq[QDef] = Seq(

    QDef.text("f73_holistic_names",
      """SELECT o_orderpriority,
        |  CAST(FLOOR(entropy(o_orderstatus)*1e9 + 0.5) AS BIGINT) AS ent_e9,
        |  CAST(mad(o_totalprice) AS DOUBLE) AS mad_tp,
        |  CAST(quantile(o_totalprice, 0.25) AS DOUBLE) AS q25d,
        |  CAST(quantile_disc(o_totalprice, 0.75) AS DOUBLE) AS q75d,
        |  CAST(bitstring_agg(CAST(o_orderkey % 32 AS INT), 0, 31) AS STRING) AS bs
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    QDef.text("f74_fringe_names",
      """SELECT o_orderkey,
        |  CAST(era(CAST(o_orderdate AS DATE)) AS BIGINT) AS er,
        |  julian(CAST(o_orderdate AS DATE)) AS jd,
        |  CAST(date_part('year', age(DATE '2025-06-15', CAST(o_orderdate AS DATE))) AS BIGINT) AS ay,
        |  CAST(date_part('month', age(DATE '2025-06-15', CAST(o_orderdate AS DATE))) AS BIGINT) AS am,
        |  CAST(date_part('day', age(DATE '2025-06-15', CAST(o_orderdate AS DATE))) AS BIGINT) AS ad,
        |  CAST(datesub('month', CAST(o_orderdate AS DATE), DATE '2025-06-15') AS BIGINT) AS dsm,
        |  CAST(datesub('day', CAST(o_orderdate AS DATE), DATE '2025-06-15') AS BIGINT) AS dsd,
        |  CAST(timezone_hour(o_orderdate) AS BIGINT) AS tzh,
        |  parse_dirname(concat('data/', o_orderpriority, '/', CAST(o_orderkey AS STRING))) AS pdn,
        |  array_to_string(parse_path(concat('/data/', o_orderpriority, '/x.parquet')), '|') AS pp,
        |  lower(hex(unbin(bin(CAST(o_orderkey % 256 AS INT))))) AS ub,
        |  CAST(get_bit(bitstring(bin(CAST(o_orderkey % 256 AS INT)), 16), CAST(o_orderkey % 16 AS INT)) AS INT) AS gb,
        |  CAST(set_bit(bitstring(bin(CAST(o_orderkey % 256 AS INT)), 16), CAST(o_orderkey % 16 AS INT), CAST((o_orderkey + 1) % 2 AS INT)) AS STRING) AS sb
        |FROM orders ORDER BY o_orderkey""".stripMargin)
  )
}
