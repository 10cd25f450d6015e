package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Catalog
import graft.plans.NumericFringe

/** Scalar-function fringe F60–F64: the last uncovered names under the
  * reference's src/core_functions/scalar/{math,date,bit,string} —
  * even/signbit/isfinite/isinf/isnan/nextafter/gamma/lgamma (math_
  * functions.cpp), the julian/millennium/era/week/weekday/epoch_us/
  * epoch_ns/make_time/to_* date-part + interval-constructor tail
  * (date/part.cpp, to_interval.cpp), the BIT-string family
  * (bit/bitstring.cpp: get_bit/set_bit/bit_position/bitstring) over
  * the same 0/1-string encoding f33 renders, and md5_number
  * (string/md5.cpp — digest bytes as a little-endian uint128).
  *
  * Float discipline (see SURVEY §2.3 notes): nextafter and pi are
  * IEEE-bit-portable and compare raw; gamma/lgamma/log2 are libm-
  * dependent and snap to fixed grids; everything else here is exact
  * integer/string/date arithmetic.
  */
object FunctionsQ7 {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  /** DuckDB's INTERVAL → VARCHAR render for whole-day intervals:
    * zero renders as the zero-time '00:00:00', one day singular.
    */
  private def dayInterval(n: Column): Column =
    when(n === 0, lit("00:00:00"))
      .when(n === 1, lit("1 day"))
      .otherwise(concat(n.cast("string"), lit(" days")))

  /** Sub-day intervals render as (unbounded-hour) HH:MM:SS. */
  private def hms(h: Column, m: Column, s: Column): Column =
    format_string("%02d:%02d:%02d", h, m, s)

  /** Month-granularity intervals render as "Y years M months" with
    * singular forms and the zero-interval '00:00:00' fallback.
    */
  private def monthInterval(months: Column): Column = {
    val y = floor(months / 12).cast("long")
    val r = pmod(months, lit(12)).cast("long")
    val yPart = when(y === 1, lit("1 year"))
      .when(y > 1, concat(y.cast("string"), lit(" years")))
    val mPart = when(r === 1, lit("1 month"))
      .when(r > 1, concat(r.cast("string"), lit(" months")))
    when(y === 0 && r === 0, lit("00:00:00"))
      .when(y > 0 && r > 0, concat(yPart, lit(" "), mPart))
      .when(y > 0, yPart)
      .otherwise(mPart)
  }

  val defs: Seq[QDef] = Seq(

    // F60: math fringe (scalar/math/math_functions.cpp). even() is
    // round-away-from-zero to the next even integer (ceil(|x|/2)·2,
    // sign-restored; the `+ 0.0` normalizes Java's -0.0 for the zero
    // row). signbit() on DuckDB 1.0 is false for -0.0, so plain x<0
    // matches it exactly. nextafter is IEEE-defined — raw doubles
    // compare bit-equal with no grid. gamma/lgamma go through
    // commons-math3's Lanczos on the JVM vs libm tgamma/lgamma in the
    // reference — ~1e-15 relative, snapped to 1e6/1e9 grids.
    QDef.sql("f60_math_fringe",
      """SELECT p_partkey,
        |  even(p_retailprice / 100.0) AS ev,
        |  even(50.0 - p_retailprice / 25.0) AS ev_neg,
        |  signbit(1200.0 - p_retailprice) AS sb,
        |  isfinite(CASE CAST(p_partkey % 4 AS INT) WHEN 0 THEN CAST('inf' AS DOUBLE) WHEN 1 THEN CAST('nan' AS DOUBLE) ELSE p_retailprice END) AS fin,
        |  isinf(CASE CAST(p_partkey % 4 AS INT) WHEN 0 THEN CAST('-inf' AS DOUBLE) ELSE p_retailprice END) AS inf_f,
        |  isnan(CASE CAST(p_partkey % 4 AS INT) WHEN 1 THEN CAST('nan' AS DOUBLE) ELSE p_retailprice END) AS nan_f,
        |  nextafter(p_retailprice, 1e18) AS na_up,
        |  nextafter(p_retailprice, -1e18) AS na_dn,
        |  CAST(FLOOR(gamma(0.5 + CAST(p_partkey % 12 AS INT)) * 1e6 + 0.5) AS BIGINT) AS gamma_e6,
        |  CAST(FLOOR(lgamma(0.5 + CAST(p_partkey % 40 AS INT)) * 1e9 + 0.5) AS BIGINT) AS lgamma_e9,
        |  CAST(FLOOR(log2(CAST(p_partkey + 1 AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS log2_e9,
        |  CAST(sign(p_retailprice - 1500.0) AS INT) AS sgn,
        |  pi() AS pi_v
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      def even(c: Column): Column =
        (ceil(abs(c) / 2) * 2).cast("double") * signum(c) + lit(0.0)
      val price = col("p_retailprice")
      val m4 = pmod(col("p_partkey"), lit(4)).cast("int")
      t(s, dir, "part").select(
        col("p_partkey"),
        even(price / 100.0).as("ev"),
        even(lit(50.0) - price / 25.0).as("ev_neg"),
        (lit(1200.0) - price < 0).as("sb"),
        not(isnan(when(m4 === 0, lit(Double.PositiveInfinity))
            .when(m4 === 1, lit(Double.NaN)).otherwise(price)) ||
          abs(when(m4 === 0, lit(Double.PositiveInfinity))
            .when(m4 === 1, lit(Double.NaN)).otherwise(price)) === lit(Double.PositiveInfinity))
          .as("fin"),
        (abs(when(m4 === 0, lit(Double.NegativeInfinity)).otherwise(price))
          === lit(Double.PositiveInfinity)).as("inf_f"),
        isnan(when(m4 === 1, lit(Double.NaN)).otherwise(price)).as("nan_f"),
        NumericFringe.nextafter(price, lit(1e18)).as("na_up"),
        NumericFringe.nextafter(price, lit(-1e18)).as("na_dn"),
        floor(NumericFringe.gamma(lit(0.5) + pmod(col("p_partkey"), lit(12)).cast("int")) * 1e6 + 0.5)
          .cast("long").as("gamma_e6"),
        floor(NumericFringe.lgamma(lit(0.5) + pmod(col("p_partkey"), lit(40)).cast("int")) * 1e9 + 0.5)
          .cast("long").as("lgamma_e9"),
        floor(log2((col("p_partkey") + 1).cast("double")) * 1e9 + 0.5)
          .cast("long").as("log2_e9"),
        signum(price - 1500.0).cast("int").as("sgn"),
        lit(math.Pi).as("pi_v"))
        .orderBy(col("p_partkey"))
    },

    // F61: date-part + interval-constructor tail (scalar/date/
    // date_part.cpp, to_interval.cpp). julian() anchors at
    // julian(2000-01-01)=2451545 — day offsets stay exact in DOUBLE.
    // millennium/era are the reference's integer arithmetic; weekday
    // is Sunday=0 (Spark's dayofweek − 1); the to_* constructors
    // reproduce DuckDB's INTERVAL VARCHAR renders (singular forms,
    // "Y years M months" composition, '00:00:00' for zero, and
    // unbounded-hour HH:MM:SS for sub-day widths).
    QDef.sql("f61_date_fringe",
      """SELECT o_orderkey,
        |  last_day(CAST(o_orderdate AS DATE)) AS ld,
        |  julian(CAST(o_orderdate AS DATE)) AS jd,
        |  CAST(millennium(make_date(CAST(800 + o_orderkey % 2400 AS INT), 3, 15)) AS INT) AS mill,
        |  CAST(era(CAST(o_orderdate AS DATE)) AS INT) AS er,
        |  CAST(week(CAST(o_orderdate AS DATE)) AS INT) AS wk,
        |  CAST(weekday(CAST(o_orderdate AS DATE)) AS INT) AS wd,
        |  epoch_us(o_orderdate) AS eus,
        |  epoch_ns(o_orderdate) AS ens,
        |  make_time(CAST(o_orderkey % 24 AS INT), CAST(o_orderkey * 7 % 60 AS INT), CAST(o_orderkey * 13 % 60 AS INT))::VARCHAR AS mt,
        |  to_days(CAST(o_orderkey % 40 AS INT))::VARCHAR AS iv_d,
        |  to_weeks(CAST(o_orderkey % 5 AS INT))::VARCHAR AS iv_w,
        |  to_hours(CAST(o_orderkey % 50 AS INT))::VARCHAR AS iv_h,
        |  to_minutes(CAST(o_orderkey % 200 AS INT))::VARCHAR AS iv_m,
        |  to_seconds(CAST(o_orderkey % 5000 AS INT))::VARCHAR AS iv_s,
        |  to_months(CAST(o_orderkey % 30 AS INT))::VARCHAR AS iv_mo,
        |  to_years(CAST(o_orderkey % 9 AS INT))::VARCHAR AS iv_y,
        |  to_quarters(CAST(o_orderkey % 8 AS INT))::VARCHAR AS iv_q,
        |  to_decades(CAST(o_orderkey % 4 AS INT))::VARCHAR AS iv_de,
        |  to_centuries(CAST(o_orderkey % 3 AS INT))::VARCHAR AS iv_c,
        |  to_millennia(CAST(o_orderkey % 2 AS INT))::VARCHAR AS iv_mil
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val k = col("o_orderkey")
      val d = col("o_orderdate").cast("date")
      val millYear = (lit(800) + pmod(k, lit(2400))).cast("int")
      t(s, dir, "orders").select(
        k,
        last_day(d).as("ld"),
        (datediff(d, to_date(lit("2000-01-01"))) + lit(2451545)).cast("double").as("jd"),
        (floor((millYear - 1) / 1000) + 1).cast("int").as("mill"),
        when(year(d) > 0, lit(1)).otherwise(lit(0)).cast("int").as("er"),
        weekofyear(d).cast("int").as("wk"),
        (dayofweek(d) - 1).cast("int").as("wd"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("eus"),
        (unix_micros(col("o_orderdate").cast("timestamp")) * 1000L).as("ens"),
        hms(pmod(k, lit(24)), pmod(k * 7, lit(60)), pmod(k * 13, lit(60))).as("mt"),
        dayInterval(pmod(k, lit(40))).as("iv_d"),
        dayInterval(pmod(k, lit(5)) * 7).as("iv_w"),
        hms(pmod(k, lit(50)), lit(0), lit(0)).as("iv_h"),
        hms(floor(pmod(k, lit(200)) / 60).cast("long"), pmod(k, lit(200)) % 60, lit(0)).as("iv_m"),
        hms(floor(pmod(k, lit(5000)) / 3600).cast("long"),
          floor(pmod(k, lit(5000)) / 60).cast("long") % 60,
          pmod(k, lit(5000)) % 60).as("iv_s"),
        monthInterval(pmod(k, lit(30))).as("iv_mo"),
        monthInterval(pmod(k, lit(9)) * 12).as("iv_y"),
        monthInterval(pmod(k, lit(8)) * 3).as("iv_q"),
        monthInterval(pmod(k, lit(4)) * 120).as("iv_de"),
        monthInterval(pmod(k, lit(3)) * 1200).as("iv_c"),
        monthInterval(pmod(k, lit(2)) * 12000).as("iv_mil"))
        .orderBy(k)
    },

    // F62: sem + kahan_sum/fsum (algebraic/stddev.cpp
    // StandardErrorOfTheMeanOperation, distributive/sum.cpp
    // KahanSumOperation). sem is stddev_POP/√n in the reference —
    // dsquared/n, NOT n−1 — spelled here from exact decimal moments
    // in the same √(…/n)/√n arrangement on both sides (the native
    // Welford accumulator agrees to 1–2 ulps; the formula is pinned,
    // f26-style). kahan_sum runs the custom KahanSumAgg (see
    // operators/Aggregates.scala) over INTEGER-valued doubles: sums
    // stay < 2^53, the compensation term is exactly 0 in every
    // partition order, so both engines produce the identical double
    // — the adversarial compensation behavior is NumericFringeSpec's
    // job, not the cross-engine gate's.
    QDef.sql("f62_sem_kahan",
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(CAST(SUM(qd) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(qd*qd) AS VARCHAR) AS DOUBLE) AS sxx,
        |    kahan_sum(CAST(CAST(FLOOR(l_quantity) AS INT) AS DOUBLE)) AS ksum_q,
        |    kahan_sum(CAST(CAST(FLOOR(l_extendedprice) AS INT) AS DOUBLE)) AS ksum_p
        |  FROM (SELECT l_returnflag, l_quantity, l_extendedprice,
        |          CAST(l_quantity AS DECIMAL(6,2)) AS qd FROM lineitem)
        |  GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  SQRT((sxx - (sx*sx)/n) / n) / SQRT(n) AS sem_q,
        |  ksum_q, ksum_p
        |FROM m ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val qd = col("l_quantity").cast(DecimalType(6, 2))
      val m = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"), qd.as("qd"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("qd")).cast("double").as("sx"),
          sum(col("qd") * col("qd")).cast("double").as("sxx"),
          graft.operators.Aggregates.kahanSum(
            floor(col("l_quantity")).cast("int").cast("double")).as("ksum_q"),
          graft.operators.Aggregates.kahanSum(
            floor(col("l_extendedprice")).cast("int").cast("double")).as("ksum_p"))
      val n = col("n")
      m.select(col("l_returnflag"), n.cast("long").as("n"),
          (sqrt((col("sxx") - (col("sx") * col("sx")) / n) / n) / sqrt(n)).as("sem_q"),
          col("ksum_q"), col("ksum_p"))
        .orderBy(col("l_returnflag"))
    },

    // F63: BIT-string family (scalar/bit/bitstring.cpp) on the same
    // 0/1-string encoding the f33 bitstring_agg render uses.
    // bitstring() is a left-zero-pad; get_bit indexes 0-based from
    // the LEFT; set_bit is a one-char overlay; bit_position is the
    // reference's NON-BACKTRACKING scanner (bit.cpp:238) — NOT a
    // plain substring search; see NumericKernels.bitPosition. All
    // pure per-row string work — codegen'd, nothing shuffles.
    QDef.sql("f63_bitstring",
      """SELECT p_partkey,
        |  bitstring(bin(CAST(p_partkey % 256 AS INT)), 16)::VARCHAR AS bits,
        |  CAST(get_bit(bitstring(bin(CAST(p_partkey % 256 AS INT)), 16), CAST(p_partkey % 16 AS INT)) AS INT) AS gb,
        |  set_bit(bitstring(bin(CAST(p_partkey % 256 AS INT)), 16), CAST(p_partkey % 16 AS INT), CAST((p_partkey + 1) % 2 AS INT))::VARCHAR AS sb,
        |  CAST(bit_position('101'::BIT, bitstring(bin(CAST(p_partkey % 256 AS INT)), 16)) AS INT) AS bp
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      val k = col("p_partkey")
      val bits = lpad(bin(pmod(k, lit(256))), 16, "0")
      val idx = pmod(k, lit(16)).cast("int")
      t(s, dir, "part").select(
        k,
        bits.as("bits"),
        substring(bits, lit(1) + idx, lit(1)).cast("int").as("gb"),
        overlay(bits, pmod(k + 1, lit(2)).cast("string"), idx + 1, lit(1)).as("sb"),
        NumericFringe.bitPosition(lit("101"), bits).as("bp"))
        .orderBy(k)
    },

    // F64: md5_number (scalar/string/md5.cpp): the 16 digest bytes
    // read as a little-endian unsigned 128-bit integer. 2^128 exceeds
    // Spark's DECIMAL(38), so the custom expression renders the
    // decimal string and the oracle casts its HUGEINT to VARCHAR —
    // same digits, no widening anywhere.
    QDef.sql("f64_md5_number",
      """SELECT p_partkey,
        |  CAST(md5_number(p_name) AS STRING) AS mdn,
        |  CAST(md5_number(p_type || '/' || p_brand) AS VARCHAR) AS mdn2,
        |  CAST(md5_number_lower(p_name) AS VARCHAR) AS mdn_lo,
        |  CAST(md5_number_upper(p_name) AS VARCHAR) AS mdn_hi
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        NumericFringe.md5Number(col("p_name")).as("mdn"),
        NumericFringe.md5Number(concat(col("p_type"), lit("/"), col("p_brand"))).as("mdn2"),
        NumericFringe.md5NumberLower(col("p_name")).as("mdn_lo"),
        NumericFringe.md5NumberUpper(col("p_name")).as("mdn_hi"))
        .orderBy(col("p_partkey"))
    },

    // F65: left_grapheme / right_grapheme (scalar/string/left_right
    // .cpp grapheme variants): cluster-counting left/right over
    // extended grapheme clusters — combining marks travel with their
    // base. JDK BreakIterator ≡ utf8proc UAX #29 for this repertoire.
    // Negative n drops |n| clusters from the opposite end; overflow
    // clamps to the whole string; n=0 is ''. Codegen'd expressions in
    // plans/UnicodeKernels.scala.
    QDef.sql("f65_grapheme",
      """SELECT p_partkey,
        |  left_grapheme(p_brand || 'e' || chr(769) || 'x', CAST(p_partkey % 12 AS INT)) AS lg,
        |  right_grapheme(p_brand || 'e' || chr(769) || 'x', CAST(p_partkey % 12 AS INT)) AS rg,
        |  left_grapheme(p_name, CAST(-(p_partkey % 5) AS INT)) AS lg_neg,
        |  right_grapheme(p_name, CAST(-(p_partkey % 5) AS INT)) AS rg_neg,
        |  left_grapheme('a' || chr(769) || chr(776) || 'b', 1) AS lg_multi
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      import graft.plans.UnicodeFns
      val deco = concat(col("p_brand"), lit("éx"))
      val n = pmod(col("p_partkey"), lit(12)).cast("int")
      val negN = -pmod(col("p_partkey"), lit(5)).cast("int")
      t(s, dir, "part").select(
        col("p_partkey"),
        UnicodeFns.leftGrapheme(deco, n).as("lg"),
        UnicodeFns.rightGrapheme(deco, n).as("rg"),
        UnicodeFns.leftGrapheme(col("p_name"), negN).as("lg_neg"),
        UnicodeFns.rightGrapheme(col("p_name"), negN).as("rg_neg"),
        UnicodeFns.leftGrapheme(lit("á̈b"), lit(1)).as("lg_multi"))
        .orderBy(col("p_partkey"))
    },

    // F66: reservoir_quantile (holistic/reservoir_quantile.cpp) in
    // its EXACT regime: sample_size ≥ group row count means the
    // reservoir is the whole group and the finalize index math —
    // sorted element at truncate((n−1)·q), reservoir_quantile
    // .cpp:165, which differs from quantile_disc's ceil(q·n)−1 — is
    // deterministic on both engines. The custom
    // TypedImperativeAggregate keeps the bounded-memory sampling path
    // for the beyond-cap regime (AggregatesSpec covers it).
    // F68: the F60–F65 fringe through the SQL front door — ONE query
    // text, run VERBATIM by both engines (the f43 proof shape). The
    // custom expressions ride Spark's FunctionRegistry under their
    // reference names (plans/FunctionTable.scala): left/right_grapheme,
    // nextafter, md5_number(+lower), gamma/lgamma (grid-snapped —
    // libm), and the even/signbit/isfinite/isinf trees.
    {
      val q =
        """SELECT p_partkey,
          |  left_grapheme(p_name, 4) AS lg,
          |  right_grapheme(p_name, 3) AS rg,
          |  nextafter(p_retailprice, 1e18) AS na,
          |  CAST(md5_number(p_name) AS STRING) AS mdn,
          |  CAST(md5_number_lower(p_brand) AS STRING) AS mlo,
          |  CAST(FLOOR(gamma(0.5 + p_partkey % 10) * 1e6 + 0.5) AS BIGINT) AS gam_e6,
          |  CAST(FLOOR(lgamma(5.5 + p_partkey % 20) * 1e9 + 0.5) AS BIGINT) AS lgam_e9,
          |  even(p_retailprice / 100.0) AS ev,
          |  signbit(1200.0 - p_retailprice) AS sb,
          |  isfinite(p_retailprice) AS fin,
          |  isinf(p_retailprice) AS inf_f
          |FROM part ORDER BY p_partkey""".stripMargin
      QDef.sql("f68_sql_fringe", q) { (s, dir) =>
        Catalog.registerAll(s, dir)
        s.sql(q)
      }
    },

    // F70: blob/array fringe (scalar/blob/encode.cpp, string/hex.cpp
    // unbin, array/array_functions.cpp cross product): ord ≡ ascii,
    // octet_length ≡ binary length, unbin spelled as conv(2→16) +
    // unhex with a lower(hex(…)) render (control bytes don't survive
    // VARCHAR casts portably), encode/decode round-trip, and
    // array_cross_product over integer-valued FLOAT[3] vectors with
    // INT-cast components (float VARCHAR renders differ across
    // engines; the cross product of integer vectors is exact).
    QDef.sql("f70_blob_fringe",
      """SELECT p_partkey,
        |  CAST(ord(p_name) AS INT) AS o,
        |  CAST(octet_length(CAST(p_brand AS BLOB)) AS INT) AS ol,
        |  lower(hex(unbin(bitstring(bin(CAST(p_partkey % 256 AS INT)), 16)::VARCHAR))) AS ub,
        |  CAST(decode(encode(p_type)) AS VARCHAR) AS rt,
        |  CAST(array_cross_product(
        |    CAST([CAST(p_partkey % 5 AS FLOAT), CAST(p_partkey % 7 AS FLOAT), CAST(p_partkey % 3 AS FLOAT)] AS FLOAT[3]),
        |    CAST([CAST(p_partkey % 4 AS FLOAT), CAST(p_partkey % 6 AS FLOAT), CAST(p_partkey % 8 AS FLOAT)] AS FLOAT[3]))[1] AS INT) AS cx,
        |  CAST(array_cross_product(
        |    CAST([CAST(p_partkey % 5 AS FLOAT), CAST(p_partkey % 7 AS FLOAT), CAST(p_partkey % 3 AS FLOAT)] AS FLOAT[3]),
        |    CAST([CAST(p_partkey % 4 AS FLOAT), CAST(p_partkey % 6 AS FLOAT), CAST(p_partkey % 8 AS FLOAT)] AS FLOAT[3]))[2] AS INT) AS cy,
        |  CAST(array_cross_product(
        |    CAST([CAST(p_partkey % 5 AS FLOAT), CAST(p_partkey % 7 AS FLOAT), CAST(p_partkey % 3 AS FLOAT)] AS FLOAT[3]),
        |    CAST([CAST(p_partkey % 4 AS FLOAT), CAST(p_partkey % 6 AS FLOAT), CAST(p_partkey % 8 AS FLOAT)] AS FLOAT[3]))[3] AS INT) AS cz
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      val k = col("p_partkey")
      val bits = lpad(bin(pmod(k, lit(256))), 16, "0")
      val (a1, a2, a3) = (pmod(k, lit(5)), pmod(k, lit(7)), pmod(k, lit(3)))
      val (b1, b2, b3) = (pmod(k, lit(4)), pmod(k, lit(6)), pmod(k, lit(8)))
      t(s, dir, "part").select(
        k,
        ascii(col("p_name")).cast("int").as("o"),
        length(col("p_brand").cast("binary")).cast("int").as("ol"),
        lower(hex(unhex(lpad(conv(bits, 2, 16), 4, "0")))).as("ub"),
        col("p_type").cast("binary").cast("string").as("rt"),
        (a2 * b3 - a3 * b2).cast("int").as("cx"),
        (a3 * b1 - a1 * b3).cast("int").as("cy"),
        (a1 * b2 - a2 * b1).cast("int").as("cz"))
        .orderBy(k)
    },

    // F69: the aggregate fringe through the SQL front door —
    // kahan_sum (+fsum alias) and reservoir_quantile registered as
    // real aggregates under their reference names; one query text
    // runs verbatim on both engines (exact-integer kahan regime,
    // exact-regime reservoir — the same disciplines as f62/f66).
    {
      val q =
        """SELECT o_orderstatus,
          |  kahan_sum(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS DOUBLE)) AS ks,
          |  fsum(CAST(o_custkey % 1000 AS DOUBLE)) AS fs,
          |  reservoir_quantile(CAST(o_totalprice AS DOUBLE), 0.5, 100000) AS rq
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
      QDef.sql("f69_sql_aggregates", q) { (s, dir) =>
        Catalog.registerAll(s, dir)
        s.sql(q)
      }
    },

    // F67: equi_width_bins + histogram/histogram_exact over generated
    // bins (generic/binning.cpp, nested/binned_histogram.cpp). These
    // post-date the driver's oracle engine (DuckDB 1.0.0 has no
    // two-arg histogram), so the ORACLE hard-codes the STATICALLY
    // derived bins instead (cb43 derivation discipline):
    // floor(l_quantity) spans [1, 50] by the TPC-H generator's spec
    // at every SF, and equiWidthBinsLong(1, 50, 5, nice) = [10, 20,
    // 30, 40, 50] — pinned as a worked trace in BinningSpec; if the
    // datagen ever changed the quantity domain the gate fails loudly.
    // The binning itself is plain CASE arithmetic both engines run.
    // Bin generation is driver-side O(bin_count); the histogram is
    // one scan + a when-chain projection + groupBy — empty bins
    // survive via a literal bins frame left-joined to the counts
    // (the reference emits zero-count bins too).
    QDef.sql("f67_equi_width_hist",
      """WITH li AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS q FROM lineitem),
        |rb AS (SELECT CASE WHEN q <= 10 THEN '10' WHEN q <= 20 THEN '20'
        |  WHEN q <= 30 THEN '30' WHEN q <= 40 THEN '40' WHEN q <= 50 THEN '50'
        |  ELSE 'other' END AS bin FROM li),
        |eb AS (SELECT CASE WHEN q = 10 THEN '10' WHEN q = 20 THEN '20'
        |  WHEN q = 30 THEN '30' ELSE 'other' END AS bin FROM li),
        |bins(bin) AS (VALUES ('10'),('20'),('30'),('40'),('50'),('other')),
        |ebins(bin) AS (VALUES ('10'),('20'),('30'),('other'))
        |SELECT 'range' AS kind, b.bin, COALESCE(c.cnt, 0) AS cnt
        |FROM bins b LEFT JOIN (SELECT bin, count(*) cnt FROM rb GROUP BY bin) c USING (bin)
        |UNION ALL
        |SELECT 'exact', b.bin, COALESCE(c.cnt, 0)
        |FROM ebins b LEFT JOIN (SELECT bin, count(*) cnt FROM eb GROUP BY bin) c USING (bin)
        |UNION ALL
        |SELECT 'bins', bin, i FROM (VALUES ('10', 0), ('20', 1), ('30', 2),
        |  ('40', 3), ('50', 4)) t(bin, i)""".stripMargin) { (s, dir) =>
      import graft.plans.Binning
      val li = t(s, dir, "lineitem")
        .select(floor(col("l_quantity")).cast("long").as("q"))
      val mm = li.agg(min(col("q")).as("lo"), max(col("q")).as("hi")).collect()(0)
      val bins = Binning.equiWidthBinsLong(mm.getLong(0), mm.getLong(1), 5, nice = true)
      val exactBins = Seq(10L, 20L, 30L)

      // HistogramRange::GetBin — first boundary ≥ value, else other
      def rangeBin(q: org.apache.spark.sql.Column) =
        bins.foldLeft(when(lit(false), lit(null: String))) { (acc, b) =>
          acc.when(q <= b, lit(b.toString))
        }.otherwise(lit("other"))
      // HistogramExact::GetBin — equality, else other
      def exactBin(q: org.apache.spark.sql.Column) =
        exactBins.foldLeft(when(lit(false), lit(null: String))) { (acc, b) =>
          acc.when(q === b, lit(b.toString))
        }.otherwise(lit("other"))

      val spark = s
      import spark.implicits._
      def full(kind: String, allBins: Seq[Long], counts: DataFrame): DataFrame =
        (allBins.map(_.toString) :+ "other").toDF("bin")
          .join(counts, Seq("bin"), "left")
          .select(lit(kind).as("kind"), col("bin"),
            coalesce(col("cnt"), lit(0L)).as("cnt"))

      val ranges = full("range", bins,
        li.groupBy(rangeBin(col("q")).as("bin")).agg(count(lit(1)).as("cnt")))
      val exacts = full("exact", exactBins,
        li.groupBy(exactBin(col("q")).as("bin")).agg(count(lit(1)).as("cnt")))
      val binRows = bins.zipWithIndex
        .map { case (b, i) => ("bins", b.toString, i.toLong) }
        .toDF("kind", "bin", "cnt")
      ranges.unionByName(exacts).unionByName(binRows)
        .orderBy(col("kind"), col("bin"))
    },

    QDef.sql("f66_reservoir_quantile",
      """SELECT o_orderstatus,
        |  reservoir_quantile(o_totalprice, 0.25, 100000) AS rq25,
        |  reservoir_quantile(o_totalprice, 0.5, 100000) AS rq50,
        |  reservoir_quantile(o_totalprice, 0.9, 100000) AS rq90
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      import graft.operators.Aggregates
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          Aggregates.reservoirQuantile(col("o_totalprice"), 0.25, 100000).as("rq25"),
          Aggregates.reservoirQuantile(col("o_totalprice"), 0.5, 100000).as("rq50"),
          Aggregates.reservoirQuantile(col("o_totalprice"), 0.9, 100000).as("rq90"))
        .orderBy(col("o_orderstatus"))
    },

    // F71: the ALIAS surface, proven the same way f43 proves the
    // custom expressions — ONE query text, run VERBATIM by both
    // engines (plans/FunctionTable registers the reference names in
    // Spark's FunctionRegistry). Scalar side: hashing, search,
    // distance, hex render, path parsing, split→transform→aggregate
    // list pipelines, argsort, %-code strftime, python-style format,
    // epoch, time_bucket.
    {
      val q =
        """SELECT p_partkey,
          |  sha256(p_name) AS h,
          |  CAST(strpos(p_name, 'o') AS BIGINT) AS sp,
          |  starts_with(p_type, 'STANDARD') AS st,
          |  CAST(editdist3(p_brand, 'Brand#13') AS BIGINT) AS ed,
          |  to_hex(p_partkey) AS hx,
          |  parse_filename(replace(p_type, ' ', '/')) AS pf,
          |  CAST(list_aggr(list_transform(string_split(p_name, ' '),
          |         x -> CAST(length(x) AS BIGINT)), 'sum') AS BIGINT) AS lens,
          |  array_to_string(list_grade_up(list_transform(string_split(p_name, ' '),
          |         x -> CAST(length(x) AS BIGINT))), ',') AS gr,
          |  format('{}-{}', p_partkey, p_brand) AS fm,
          |  strftime(TIMESTAMP '2026-08-14 05:06:07', '%Y/%m/%d %H:%M') AS sf,
          |  epoch_us(TIMESTAMP '2026-01-01 01:02:03.5') AS eu,
          |  time_bucket(INTERVAL '15 minutes', TIMESTAMP '2026-08-14 05:07:33') AS tb
          |FROM part ORDER BY p_partkey""".stripMargin
      QDef.sql("f71_alias_scalars", q) { (s, dir) =>
        Catalog.registerAll(s, dir)
        s.sql(q)
      }
    },

    // F72: aliased aggregates, verbatim. arg_max/arg_min key on the
    // UNIQUE o_orderkey so tie-breaking cannot differ between
    // engines; quantile_cont is the f24-proved interpolation
    // identity (raw doubles compare exactly).
    {
      val q =
        """SELECT o_orderstatus,
          |  arg_max(o_orderpriority, o_orderkey) AS am,
          |  arg_min(o_orderpriority, o_orderkey) AS an,
          |  quantile_cont(o_totalprice, 0.25) AS q25
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
      QDef.sql("f72_alias_aggregates", q) { (s, dir) =>
        Catalog.registerAll(s, dir)
        s.sql(q)
      }
    }
  )
}
