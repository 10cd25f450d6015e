package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Aggregates
import graft.sources.Catalog

/** Aggregate-function long tail F25–F33 — the stock-DuckDB holistic /
  * distributive / algebraic aggregates the reference ships
  * (src/core_functions/aggregate/: holistic/mode.cpp, mad.cpp,
  * approx_top_k.cpp; distributive/skew.cpp, kurtosis.cpp,
  * entropy.cpp, product.cpp, bitstring_agg.cpp; algebraic/covar.cpp;
  * regression/regr_slope.cpp et al.; nested/histogram.cpp).
  *
  * Float discipline (same as q12_agg_stats): every statistic is
  * derived from EXACT decimal moments with the identical IEEE
  * arithmetic written on both the Spark side and the oracle SQL —
  * +,-,*,/ and sqrt are correctly-rounded on both engines, so same
  * operands in the same order give bit-identical doubles, independent
  * of partition count. Native accumulator results (engine-internal
  * fold order, libm pow/log) are NOT portable; the two entries that
  * depend on a transcendental (entropy) or an engine-native holistic
  * (mad) either round to a fixed grid or lean on the interpolation
  * identity f24 already proved.
  */
object FunctionsQ3 {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  val defs: Seq[QDef] = Seq(

    // F25: MODE — most frequent value (holistic/mode.cpp). The
    // reference's mode() is tie-nondeterministic (hash-table scan
    // order), so the oracle pins the DETERMINISTIC variant: highest
    // count, ties to the smallest value — exactly what Spark's
    // mode() WITHIN GROUP (ORDER BY v) computes.
    QDef.text("f25_mode",
      """WITH c AS (
        |  SELECT o_orderpriority, o_orderstatus, o_custkey % 10 AS bucket,
        |         COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2, 3),
        |s AS (SELECT o_orderpriority, o_orderstatus,
        |        SUM(cnt) AS scnt FROM c GROUP BY 1, 2),
        |b AS (SELECT o_orderpriority, bucket,
        |        SUM(cnt) AS bcnt FROM c GROUP BY 1, 2),
        |rs AS (SELECT o_orderpriority, o_orderstatus, ROW_NUMBER() OVER
        |        (PARTITION BY o_orderpriority
        |         ORDER BY scnt DESC, o_orderstatus ASC) AS rn FROM s),
        |rb AS (SELECT o_orderpriority, bucket, ROW_NUMBER() OVER
        |        (PARTITION BY o_orderpriority
        |         ORDER BY bcnt DESC, bucket ASC) AS rn FROM b)
        |SELECT rs.o_orderpriority, rs.o_orderstatus AS mode_status,
        |       CAST(rb.bucket AS BIGINT) AS mode_bucket
        |FROM rs JOIN rb ON rs.o_orderpriority = rb.o_orderpriority
        |WHERE rs.rn = 1 AND rb.rn = 1
        |ORDER BY rs.o_orderpriority""".stripMargin),

    // F26: SKEWNESS / KURTOSIS, the reference's bias-corrected sample
    // definitions (distributive/skew.cpp: g1·√(n(n−1))/(n−2);
    // kurtosis.cpp: ((n−1)/((n−2)(n−3)))·((n+1)·g2 + 6)), computed
    // from exact decimal power sums. m2^1.5 is spelled m2·√m2 — pow()
    // is libm-dependent, sqrt is IEEE — so both engines produce the
    // identical double. (Probe note: the √-arrangement reproduces
    // DuckDB's native skewness() bit-for-bit; its native kurtosis()
    // differs in the last 2 ulps from ANY moment arrangement, which
    // is exactly why the oracle pins the formula, not the native
    // accumulator.) Oracle-side sums round-trip through VARCHAR:
    // DuckDB's wide-DECIMAL→DOUBLE cast double-rounds (hugeint→double,
    // then ÷10^scale — measured 1-ulp-off when the unscaled value
    // exceeds 2^53), while decimal→varchar→double is exact-then-
    // correctly-rounded, matching Spark's BigDecimal cast.
    QDef.text("f26_skew_kurt",
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(CAST(SUM(qd) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(qd*qd) AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(qd*qd*qd) AS VARCHAR) AS DOUBLE) AS sxxx,
        |    CAST(CAST(SUM((qd*qd)*(qd*qd)) AS VARCHAR) AS DOUBLE) AS sxxxx
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS DECIMAL(6,2)) AS qd
        |        FROM lineitem)
        |  GROUP BY l_returnflag),
        |c AS (SELECT l_returnflag, n, sx/n AS mean, sxx, sxxx, sxxxx FROM m),
        |d AS (SELECT l_returnflag, n, mean,
        |        sxx/n - mean*mean AS m2,
        |        sxxx/n - 3.0*mean*(sxx/n) + 2.0*mean*mean*mean AS m3,
        |        sxxxx/n - 4.0*mean*(sxxx/n) + 6.0*(mean*mean)*(sxx/n)
        |          - 3.0*(mean*mean)*(mean*mean) AS m4
        |      FROM c)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  (SQRT(n*(n-1.0))/(n-2.0)) * (m3/(m2*SQRT(m2))) AS skew,
        |  ((n-1.0)/((n-2.0)*(n-3.0))) * ((n+1.0)*(m4/(m2*m2) - 3.0) + 6.0) AS kurt
        |FROM d ORDER BY l_returnflag""".stripMargin),

    // F27: COVAR_POP/COVAR_SAMP + the REGR_* family (algebraic/
    // covar.cpp, regression/regr_slope.cpp, regr_intercept.cpp,
    // regr_r2.cpp, regr_sxy.cpp…), all derived from one pass of exact
    // decimal cross-moments — n, Σx, Σy, Σx², Σy², Σxy — which is
    // precisely how an engine computes them at scale: one narrow
    // 6-number buffer per group through the shuffle, every statistic
    // a finalize-time formula.
    QDef.text("f27_covar_regr",
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(CAST(SUM(xd) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(yd) AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(xd*xd) AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(yd*yd) AS VARCHAR) AS DOUBLE) AS syy,
        |    CAST(CAST(SUM(xd*yd) AS VARCHAR) AS DOUBLE) AS sxy
        |  FROM (SELECT l_returnflag,
        |          CAST(l_quantity AS DECIMAL(6,2)) AS xd,
        |          CAST(l_extendedprice AS DECIMAL(9,2)) AS yd
        |        FROM lineitem)
        |  GROUP BY l_returnflag),
        |c AS (SELECT l_returnflag, n, sx, sy,
        |        sxx - (sx*sx)/n AS cxx,
        |        syy - (sy*sy)/n AS cyy,
        |        sxy - (sx*sy)/n AS cxy
        |      FROM m)
        |SELECT l_returnflag,
        |  CAST(n AS BIGINT) AS regr_cnt,
        |  sx/n AS avgx, sy/n AS avgy,
        |  cxx AS rsxx, cyy AS rsyy, cxy AS rsxy,
        |  cxy/cxx AS slope,
        |  (sy/n) - (cxy/cxx)*(sx/n) AS intercept,
        |  (cxy*cxy)/(cxx*cyy) AS r2,
        |  cxy/n AS covar_pop,
        |  cxy/(n-1.0) AS covar_samp
        |FROM c ORDER BY l_returnflag""".stripMargin),

    // F28: ENTROPY (distributive/entropy.cpp) — Shannon entropy in
    // bits of the value distribution. The oracle runs the NATIVE
    // entropy(); log2 is libm-territory (Spark computes ln x/ln 2,
    // DuckDB std::log2 — last-ulp differences of ~1e-15), so both
    // sides snap to a 1e-9 grid, which the ~1e-6-wide agreement
    // margin clears by three orders of magnitude.
    QDef.text("f28_entropy",
      """SELECT o_orderpriority,
        |  CAST(FLOOR(entropy(o_orderstatus)*1e9 + 0.5) AS BIGINT) AS ent_e9
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // F29: PRODUCT (distributive/product.cpp) — custom
    // DeclarativeAggregate (operators/Aggregates.scala): Spark has no
    // product agg, and exp(Σ ln x) would be both inexact and
    // zero/negative-hostile. Factors here are line numbers 1..7, so
    // every partial product is an exact small integer and the result
    // is order-independent — the regime where a parallel FP product
    // is well-defined at all (see ProductAgg scaladoc).
    QDef.sql("f29_product",
      """SELECT l_orderkey,
        |  product(CAST(l_linenumber AS DOUBLE)) AS line_product,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(Aggregates.product(col("l_linenumber").cast("double")).as("line_product"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("l_orderkey"))
    },

    // F30: APPROX_TOP_K (holistic/approx_top_k.cpp) — Space-Saving
    // sketch (operators/Aggregates.scala). The oracle is EXACT top-k
    // SQL: with capacity ≥ the group's distinct-value count the
    // sketch's counts are exact and its (cnt DESC, v ASC) order
    // matches the window formulation row for row — an oracle-gated
    // row for an approximate operator, on the same principle as the
    // IVF/LSH entries' exactness regimes.
    QDef.sql("f30_approx_top_k",
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT o_orderstatus, o_orderpriority, cnt, ROW_NUMBER() OVER
        |        (PARTITION BY o_orderstatus
        |         ORDER BY cnt DESC, o_orderpriority ASC) AS rn FROM c)
        |SELECT o_orderstatus, CAST(rn AS BIGINT) AS rnk,
        |       o_orderpriority AS priority, CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE rn <= 3 ORDER BY o_orderstatus, rnk""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(Aggregates.approxTopK(col("o_orderpriority"), 3, 16).as("tk"))
        .select(col("o_orderstatus"), posexplode(col("tk")))
        .select(col("o_orderstatus"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.v").as("priority"), col("col.cnt").as("cnt"))
        .orderBy(col("o_orderstatus"), col("rnk"))
    },

    // F31: MAD — median absolute deviation (holistic/mad.cpp):
    // median(|x − median(x)|), both medians interpolated
    // (quantile_cont ≡ Spark percentile, the f24 identity; the
    // deviations are single IEEE subtractions).
    QDef.text("f31_mad",
      """SELECT o_orderstatus,
        |  mad(o_totalprice) AS mad_price,
        |  median(o_totalprice) AS med_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // F32: binned HISTOGRAM (nested/histogram.cpp,
    // binned_histogram.cpp) — exploded to (group, bin, count) rows
    // rather than the reference's MAP value: same information, scan +
    // one aggregation, and the row shape is what a 1000-executor
    // plan wants anyway (maps concentrate a group's histogram on one
    // row; rows parallelize).
    QDef.text("f32_histogram",
      """SELECT o_orderstatus,
        |  CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // F35: MAP / STRUCT construction and access — the reference's
    // nested types (src/include/duckdb/common/types/: MAP, STRUCT;
    // map.cpp, struct_extract.cpp). All accesses project back to
    // SCALAR columns so the hash gate sees plain values; note the
    // reference's map[k] yields a LIST (unwrapped with [1]).
    QDef.text("f35_map_struct",
      """SELECT p_partkey,
        |  map([p_brand, p_type],
        |      [CAST(p_size AS BIGINT), CAST(p_partkey % 100 AS BIGINT)])[p_brand][1]
        |    AS brand_val,
        |  CAST(cardinality(map([p_brand, p_type], [1, 2])) AS BIGINT) AS m_card,
        |  struct_pack(brand := p_brand, size := p_size).brand AS s_brand,
        |  CAST({'k': p_size, 'j': p_partkey}.k AS BIGINT) AS s_size
        |FROM part ORDER BY p_partkey""".stripMargin),

    // F34: timezone-aware timestamp operations — the reference
    // bundles extension/icu/ for TIMESTAMPTZ / AT TIME ZONE; Spark's
    // equivalent is from_utc_timestamp over the JDK tz database. Both
    // convert the same UTC instants through the same IANA zones, DST
    // included: the dst_hour column shifts the instants across the
    // 2024-03-10 America/New_York spring-forward, so EST→EDT rows
    // land one hour later than ny_hour — wrong-by-offset
    // implementations fail the hash. All zone math is per-row scalar
    // work (no shuffle beyond the final small groupBy).
    QDef.text("f34_timezone",
      """SELECT ny_hour, tokyo_hour, dst_hour, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT
        |  CAST(EXTRACT(HOUR FROM (CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC')
        |    AT TIME ZONE 'America/New_York') AS INT) AS ny_hour,
        |  CAST(EXTRACT(HOUR FROM (CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC')
        |    AT TIME ZONE 'Asia/Tokyo') AS INT) AS tokyo_hour,
        |  CAST(EXTRACT(HOUR FROM ((CAST(ts AS TIMESTAMP) + INTERVAL 68 DAY)
        |    AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York') AS INT) AS dst_hour
        | FROM events)
        |GROUP BY ny_hour, tokyo_hour, dst_hour
        |ORDER BY ny_hour, tokyo_hour, dst_hour""".stripMargin),

    // F33: BITSTRING_AGG (distributive/bitstring_agg.cpp) — presence
    // bitmap over a bounded int domain, leftmost bit = domain min
    // (probed against the reference's VARCHAR rendering).
    QDef.text("f33_bitstring_agg",
      """SELECT l_orderkey AS o_orderkey,
        |  CAST(bitstring_agg(l_linenumber, 1, 7) AS VARCHAR) AS line_bits
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),

    // F36: string-distance family (scalar/string/damerau_levenshtein
    // .cpp, hamming.cpp, jaccard.cpp, jaro_winkler.cpp). Spark has
    // only levenshtein (f09); the other four are custom codegen'd
    // expressions over raw UTF-8 bytes — the reference's alphabet —
    // in plans/StringDistances.scala. The jaro/jw doubles are exact
    // (only +,*,/ on small integers, reference operation order), so
    // they hash-compare raw; hamming demands equal lengths, which the
    // fixed-width substrings guarantee.
    QDef.sql("f36_string_distance",
      """SELECT p_partkey,
        |  damerau_levenshtein(p_brand, 'Brand#25') AS dl,
        |  CAST(hamming(substr(p_name, 1, 6), substr(reverse(p_name), 1, 6)) AS BIGINT) AS hm,
        |  jaccard(p_name, p_type) AS jc,
        |  jaro_similarity(p_name, p_type) AS js,
        |  jaro_winkler_similarity(p_name, p_brand) AS jw
        |FROM part""".stripMargin) { (s, dir) =>
      import graft.plans.{StringDistances => D}
      t(s, dir, "part").select(
        col("p_partkey"),
        D.damerauLevenshtein(col("p_brand"), lit("Brand#25")).as("dl"),
        D.hamming(substring(col("p_name"), 1, 6), substring(reverse(col("p_name")), 1, 6)).as("hm"),
        D.jaccard(col("p_name"), col("p_type")).as("jc"),
        D.jaro(col("p_name"), col("p_type")).as("js"),
        D.jaroWinkler(col("p_name"), col("p_brand")).as("jw"))
    },

    // F37: rendering / radix long tail — to_base (= conv + lpad),
    // format_bytes + format_readable_decimal_size (custom kernels
    // mirroring BytesToHumanReadableString's divmod ladder and
    // truncated single decimal), bar (eighth-block unicode bars,
    // byte-length padding quirk preserved), translate, unicode.
    // o_orderkey is an exact integer on both sides, so every input is
    // portable; bar's width arithmetic is *,/ on exact doubles.
    QDef.sql("f37_render_funcs",
      """SELECT o_orderkey,
        |  to_base(o_orderkey % 4096, 2, 12) AS bits,
        |  to_base(o_orderkey, 36) AS b36,
        |  format_bytes(o_orderkey * 1000000) AS fb,
        |  formatReadableDecimalSize(o_orderkey * 1000000) AS fd,
        |  bar(CAST(o_orderkey % 100 AS DOUBLE) / 7.0, 0, 15, 12) AS chart,
        |  translate(o_orderpriority, '1-5URGENT', 'x_yABCDEF') AS tr,
        |  unicode(o_orderpriority) AS uc
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      import graft.plans.Formats
      t(s, dir, "orders").select(
        col("o_orderkey"),
        lpad(conv((col("o_orderkey") % 4096).cast("string"), 10, 2), 12, "0").as("bits"),
        conv(col("o_orderkey").cast("string"), 10, 36).as("b36"),
        Formats.formatBytes(col("o_orderkey") * 1000000L).as("fb"),
        Formats.formatReadableDecimalSize(col("o_orderkey") * 1000000L).as("fd"),
        Formats.bar((col("o_orderkey") % 100).cast("double") / lit(7.0), 0, 15, 12).as("chart"),
        translate(col("o_orderpriority"), "1-5URGENT", "x_yABCDEF").as("tr"),
        ascii(col("o_orderpriority")).as("uc"))
        .orderBy(col("o_orderkey"))
    }
  )
}
