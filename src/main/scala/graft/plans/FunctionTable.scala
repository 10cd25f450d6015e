package graft.plans

import java.util.concurrent.atomic.AtomicLong
import java.util.regex.Pattern

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedExtractValue, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.PercentileDisc
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.operators.{BinnedHistogramAgg, BitstringAgg, EntropyAgg, FrameAgg, HistogramAgg, KahanSumAgg, MadAgg, ProductAgg, ReservoirQuantileAgg}

/** The reference's function library under its own SQL names, as one
  * table injected into every graft session's FunctionRegistry: a
  * reference user's query text resolves verbatim through
  * `spark.sql(...)` and through the GraftSql front door.
  *
  * Each row is a name, the argument counts it accepts and a builder.
  * A builder is a rename onto a Spark built-in (resolved by the
  * analyzer via [[UnresolvedFunction]] on its next fixed-point
  * iteration), an expression tree over built-ins (inheriting their
  * codegen) or one of the engine's own expressions. Semantics are
  * pinned against DuckDB by AliasesSpec, Registry2Spec,
  * DuckDialectSpec, VarintSpec and the oracle entries.
  *
  * A row never changes what a Spark built-in name means: the names
  * below that Spark also binds are listed in FunctionTableSpec, each
  * proven result-identical at every Spark arity. Where DuckDB gives a
  * Spark name another meaning (`^` is power, 2-arg regexp_extract and
  * regexp_extract_all take group 0, dayname/monthname spell full
  * names, `<=>` is cosine distance, 3-arg date_diff counts period
  * crossings) the DuckDialect front door carries it, rewriting to a
  * Spark spelling or to a name that collides with nothing.
  *
  * Deliberately absent: enum_&#42; / setseed / stats / vector_type /
  * timetz_byte_comparable, which have no meaning off the reference's
  * runtime (no ENUM type, no per-query RNG state to reseed, no vector
  * executor).
  */
object FunctionTable {

  /** One injected function. An empty `arities` accepts any count: a
    * variadic builder, or a rename whose Spark target checks its own.
    */
  final case class Fn(name: String, arities: Seq[Int], build: Seq[Expression] => Expression)

  /** Rows for `names`, aliases of one meaning. */
  private def fn(names: String*)(arities: Int*)(build: Seq[Expression] => Expression): Seq[Fn] =
    names.map(Fn(_, arities, build))

  /** Plain rename: reference name → Spark built-in, args unchanged. */
  private def rename(from: String, to: String): Seq[Fn] = fn(from)()(uf(to, _))

  private def uf(name: String, args: Seq[Expression]): Expression =
    UnresolvedFunction(Seq(name), args, isDistinct = false)

  private def long(e: Expression): Expression = Cast(e, LongType)
  private def dbl(e: Expression): Expression = Cast(e, DoubleType)

  /** A plan-constant argument, folded at resolution time (the
    * reference binds these once per query too).
    */
  private def constOf(name: String, ex: Expression): Any = {
    require(ex.foldable, s"$name expects a constant argument")
    val v = ex.eval(null)
    require(v != null, s"$name: constant argument is null")
    v
  }
  private def constString(name: String, ex: Expression): String = constOf(name, ex).toString
  private def constDouble(name: String, ex: Expression): Double = constOf(name, Cast(ex, DoubleType)).asInstanceOf[Double]
  private def constLong(name: String, ex: Expression): Long = constOf(name, Cast(ex, LongType)).asInstanceOf[Long]

  // lambdas built with unresolved lambda variables, resolved by the
  // analyzer like any higher-order function's
  private def lambda1(body: Expression => Expression): LambdaFunction = {
    val x = UnresolvedNamedLambdaVariable(Seq("x"))
    LambdaFunction(body(x), Seq(x))
  }
  private def lambda2(body: (Expression, Expression) => Expression): LambdaFunction = {
    val a = UnresolvedNamedLambdaVariable(Seq("a"))
    val b = UnresolvedNamedLambdaVariable(Seq("b"))
    LambdaFunction(body(a, b), Seq(a, b))
  }

  private def arityText(arities: Seq[Int]): String =
    if (arities.length == 1) arities.head.toString
    else arities.init.mkString(", ") + " or " + arities.last

  /** The injection loop: the one place a graft name enters a session. */
  def inject(e: SparkSessionExtensions): Unit =
    for (f <- rows) {
      val info = new ExpressionInfo(classOf[GraftExtensions].getName, f.name)
      e.injectFunction((FunctionIdentifier(f.name), info, args => {
        require(f.arities.isEmpty || f.arities.contains(args.length),
          s"${f.name} expects ${arityText(f.arities)} arguments, got ${args.length}")
        f.build(args)
      }))
    }

  lazy val rows: Seq[Fn] =
    strings ++ numbers ++ dates ++ lists ++ aggregates ++ operators ++
      constructors ++ introspection ++ wideIntegers ++ internal

  // ---- strings, binary, json ----
  private def strings: Seq[Fn] = Seq(
    fn("damerau_levenshtein")(2)(a => DamerauLevenshtein(a(0), a(1))),
    fn("hamming", "mismatches")(2)(a => HammingDistance(a(0), a(1))),
    fn("jaccard")(2)(a => JaccardSim(a(0), a(1))),
    fn("jaro_similarity")(2)(a => JaroSim(a(0), a(1))),
    fn("jaro_winkler_similarity")(2)(a => JaroWinklerSim(a(0), a(1))),
    fn("unicode")(1)(a => Ascii(a(0))),
    fn("strip_accents")(1)(a => StripAccents(a(0))),
    fn("nfc_normalize")(1)(a => NfcNormalize(a(0))),
    fn("left_grapheme")(2)(a => LeftGrapheme(a(0), long(a(1)))),
    fn("right_grapheme")(2)(a => RightGrapheme(a(0), long(a(1)))),
    fn("md5_number")(1)(a => Md5Number(a(0))),
    fn("md5_number_lower")(1)(a => Md5NumberHalf(a(0), lower = true)),
    fn("md5_number_upper")(1)(a => Md5NumberHalf(a(0), lower = false)),
    fn("sha256")(1)(a => uf("sha2", a :+ Literal(256))),
    rename("starts_with", "startswith"),
    rename("ends_with", "endswith"),
    rename("strpos", "instr"),
    rename("editdist3", "levenshtein"),
    rename("ord", "ascii"),
    rename("to_base64", "base64"),
    rename("from_base64", "unbase64"),
    rename("to_hex", "hex"),
    rename("from_hex", "unhex"),
    // byte length (ClickBench q28/q29 spell STRLEN)
    rename("strlen", "octet_length"),
    // DuckDB's len is polymorphic: characters for strings (Spark's
    // built-in, bit-identical), element count for lists; other scalars
    // count the characters of their string form, as Spark's length does
    fn("len")(1)(a => LenPoly(a(0) match {
      case e if e.resolved && (e.dataType.isInstanceOf[NumericType] || Set[DataType](BooleanType,
          DateType, TimestampType, TimestampNTZType, NullType)(e.dataType)) => Cast(e, StringType)
      case e => e
    })),
    // literal-delimiter split: Spark's split() takes a REGEX, the
    // reference's string_split takes a literal — quote it at bind time
    fn("string_split", "str_split", "string_to_array")(2)(a =>
      uf("split", Seq(a(0), Literal(Pattern.quote(constString("string_split", a(1))))))),
    fn("string_split_regex", "str_split_regex", "regexp_split_to_array")()(uf("split", _)),
    fn("regexp_escape")(1)(a =>
      uf("regexp_replace", Seq(a(0), Literal("([.^$*+?()\\[\\]{}|\\\\])"), Literal("\\\\$1")))),
    // full match (the reference's `~` operator; Spark's RLIKE is a
    // partial match, so anchor with a non-capturing group)
    fn("regexp_full_match")(2)(a =>
      RLike(a(0), uf("concat", Seq(Literal("^(?:"), a(1), Literal(")$"))))),
    // partial match (≡ RLIKE); a constant options arg maps the 'i' flag
    fn("regexp_matches")(2, 3) { a =>
      val caseless = a.length == 3 && constString("regexp_matches", a(2)).contains("i")
      RLike(a(0), if (caseless) uf("concat", Seq(Literal("(?i)"), a(1))) else a(1))
    },
    // a non-numeric string 4th arg holds the reference's options
    // ('g' = global, Spark's default; 'i' = case-insensitive), not
    // Spark's position (a numeric string stays a position, as Spark
    // casts it). Without 'g' the reference replaces only the FIRST
    // match (RE2::Replace vs GlobalReplace). The 3-arg form keeps
    // Spark's replace-all: flipping it would change every DataFrame
    // caller; write 'g' explicitly for portable text.
    fn("regexp_replace")(3, 4) { a =>
      val opts = if (a.length == 4 && a(3).foldable && a(3).dataType == StringType)
        Option(a(3).eval(null)).map(_.toString).filterNot(_.trim.matches("[+-]?\\d+"))
      else None
      if (opts.isDefined) {
        val pat = if (opts.get.contains("i")) uf("concat", Seq(Literal("(?i)"), a(1))) else a(1)
        if (opts.get.contains("g")) RegExpReplace(a(0), pat, a(2))
        else RegExpReplaceFirst(a(0), pat, a(2))
      } else if (a.length == 3) RegExpReplace(a(0), a(1), a(2))
      else RegExpReplace(a(0), a(1), a(2), a(3))
    },
    // 1-arg encode/decode are UTF-8 string↔blob casts in the reference
    fn("encode")(1, 2)(a => Encode(a(0), if (a.length == 1) Literal("UTF-8") else a(1))),
    fn("decode")()(a => new Decode(if (a.length == 1) a :+ Literal("UTF-8") else a)),
    fn("parse_filename")(1)(a =>
      uf("element_at", Seq(uf("split", Seq(a(0), Literal("[/\\\\]"))), Literal(-1)))),
    fn("parse_dirpath")(1)(a =>
      uf("regexp_replace", Seq(a(0), Literal("[/\\\\][^/\\\\]*$"), Literal("")))),
    // parse_path parts, pathlib-style: root '/' is its own part, then
    // the non-empty components (pinned: parse_dirname('/a/b') = '/')
    fn("parse_path")(1, 2)(a => pathParts("parse_path", a)),
    fn("parse_dirname")(1, 2)(a => ElementAt(pathParts("parse_dirname", a), Literal(1))),
    // unbin('101') = 0x05: '0'/'1' string → blob, left-padded to whole
    // bytes; hex digits = 2·ceil(len/8)
    fn("unbin", "from_binary")(1) { a =>
      val hexDigits = Multiply(
        Cast(Ceil(Divide(Cast(Length(a(0)), DoubleType), Literal(8.0))), IntegerType), Literal(2))
      Unhex(StringLPad(Conv(a(0), Literal(2), Literal(16)), hexDigits, Literal("0")))
    },
    // bitstring family over the documented VARCHAR '0'/'1' encoding
    // (f63: bitstring = left-pad, get_bit = 0-based-from-left char,
    // set_bit = one-char overlay)
    fn("bitstring")(2)(a => StringLPad(a(0), Cast(a(1), IntegerType), Literal("0"))),
    fn("get_bit")(2)(a =>
      Cast(Substring(a(0), Add(Cast(a(1), IntegerType), Literal(1)), Literal(1)), IntegerType)),
    fn("set_bit")(3)(a =>
      new Overlay(a(0), Cast(a(2), StringType), Add(Cast(a(1), IntegerType), Literal(1)))),
    // python-style '{}' / '{0}' / '{[N]:[width][.prec][dfsx]}'
    // placeholders (the reference vendors fmtlib) → format_string
    fn("format")()(formatString),
    fn("json_merge_patch")(2)(a => JsonMergePatch(a(0), a(1))),
    rename("json_keys", "json_object_keys"),
    rename("json_extract_string", "get_json_object"),
    rename("row_to_json", "to_json")
  ).flatten

  private def pathParts(name: String, a: Seq[Expression]): Expression = {
    // default separator only; an explicit separator must name it
    if (a.length == 2) {
      val sep = constString(name, a(1))
      require(Seq("both_slash", "system", "forward_slash").contains(sep),
        s"$name: unsupported separator '$sep'")
    }
    val s = a(0)
    val nonEmpty = ArrayFilter(uf("split", Seq(s, Literal("[/\\\\]"))),
      lambda1(x => Not(EqualTo(x, Literal("")))))
    If(uf("startswith", Seq(s, Literal("/"))),
      Concat(Seq(CreateArray(Seq(Literal("/"))), nonEmpty)), nonEmpty)
  }

  private def formatString(a: Seq[Expression]): Expression = {
    val fmt = constString("format", a(0))
    val out = new StringBuilder
    // per-argument conversion demanded by its format spec
    // ('s' string, 'f' double, 'd'/'x' long)
    val convOf = scala.collection.mutable.Map.empty[Int, Char]
    var auto = 0
    var i = 0
    val SpecRe = """(\d*)(?::(\d*)(\.\d+)?([dfsxX])?)?""".r
    while (i < fmt.length) {
      fmt.charAt(i) match {
        case '{' =>
          val close = fmt.indexOf('}', i)
          require(close >= i, "format: unbalanced '{'")
          val spec = fmt.substring(i + 1, close)
          spec match {
            case SpecRe(idxS, width, prec, conv) =>
              val idx = if (idxS.nonEmpty) idxS.toInt else { val n = auto; auto += 1; n }
              val c = Option(conv).map(_.head).getOrElse('s')
              convOf(idx) = c
              out.append("%").append(idx + 1).append("$")
              if (width != null && width.nonEmpty) out.append(width)
              if (prec != null) out.append(prec)
              out.append(c)
            case _ => throw new IllegalArgumentException(
              s"format: unsupported format spec '{$spec}'")
          }
          i = close + 1
        case '%' => out.append("%%"); i += 1
        case c => out.append(c); i += 1
      }
    }
    val casted = a.tail.zipWithIndex.map { case (x, ix) =>
      convOf.getOrElse(ix, 's') match {
        case 'f' => Cast(x, DoubleType)
        case 'd' | 'x' | 'X' => Cast(x, LongType)
        case _ => Cast(x, StringType)
      }
    }
    uf("format_string", Literal(out.toString) +: casted)
  }

  // ---- numbers ----
  private def numbers: Seq[Fn] = Seq(
    fn("gcd", "greatest_common_divisor")(2)(a => Gcd(long(a(0)), long(a(1)))),
    fn("lcm", "least_common_multiple")(2)(a => Lcm(long(a(0)), long(a(1)))),
    fn("format_bytes")(1)(a => FormatBytes(long(a(0)), 1024L)),
    fn("format_readable_decimal_size", "formatReadableDecimalSize")(1)(a =>
      FormatBytes(long(a(0)), 1000L)),
    rename("formatReadableSize", "format_bytes"),
    fn("bar")(4)(a => BarChart(dbl(a(0)), constDouble("bar", a(1)),
      constDouble("bar", a(2)), constDouble("bar", a(3)))),
    // to_base(n, radix [, min_length]) as a conv+lpad tree
    fn("to_base")(2, 3) { a =>
      val conv = Conv(Cast(a(0), StringType), Literal(10), Cast(a(1), IntegerType))
      if (a.length == 2) conv else StringLPad(conv, Cast(a(2), IntegerType), Literal("0"))
    },
    fn("quantize_int8")(1)(a => QuantizeInt8(a(0))),
    fn("int8_cosine")(2)(a => Int8Cosine(a(0), a(1))),
    fn("nextafter")(2)(a => NextAfter(dbl(a(0)), dbl(a(1)))),
    fn("gamma")(1)(a => GammaFn(dbl(a(0)))),
    fn("lgamma")(1)(a => LogGammaFn(dbl(a(0)))),
    fn("bit_position")(2)(a => BitPositionQuirk(a(0), a(1))),
    // even / signbit / isfinite / isinf as trees over Spark
    // primitives (isnan is a Spark built-in already)
    fn("even")(1) { a =>
      val x = dbl(a(0))
      Add(Multiply(
        Cast(Multiply(Ceil(Divide(Abs(x), Literal(2.0))), Literal(2L)), DoubleType),
        Signum(x)),
        Literal(0.0)) // normalize Java's -0.0 for the zero row
    },
    fn("signbit")(1)(a => LessThan(dbl(a(0)), Literal(0.0))),
    fn("isinf")(1)(a => EqualTo(Abs(dbl(a(0))), Literal(Double.PositiveInfinity))),
    fn("isfinite")(1)(a => Not(Or(IsNaN(dbl(a(0))),
      EqualTo(Abs(dbl(a(0))), Literal(Double.PositiveInfinity))))),
    fn("xor")(2)(a => BitwiseXor(a(0), a(1))),
    // equi_width_bins(min, max, count, nice): plan-constant arguments,
    // evaluated through the Binning mirror, emitted as a literal array
    fn("equi_width_bins")(4) { a =>
      val name = "equi_width_bins"
      val nice = constOf(name, a(3)) match {
        case b: Boolean => b
        case other => other.toString.toBoolean
      }
      val count = constLong(name, a(2)).toInt
      val integral = Seq(a(0), a(1)).forall(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
      if (integral)
        CreateArray(Binning.equiWidthBinsLong(
          constLong(name, a(0)), constLong(name, a(1)), count, nice).map(Literal(_)))
      else
        CreateArray(Binning.equiWidthBinsDouble(
          constDouble(name, a(0)), constDouble(name, a(1)), count, nice).map(Literal(_)))
    }
  ).flatten

  // ---- dates and times ----
  private def isodowOf(d: Expression): Expression = // Mon=1 .. Sun=7
    Add(Pmod(Add(DayOfWeek(d), Literal(5)), Literal(7)), Literal(1))
  // ISO year = calendar year of this week's Thursday
  private def isoyearOf(d: Expression): Expression =
    Year(DateAdd(d, Subtract(Literal(4), isodowOf(d))))

  private def dates: Seq[Fn] = Seq(
    fn("isodow")(1)(a => Cast(isodowOf(a(0)), LongType)),
    fn("isoyear")(1)(a => Cast(isoyearOf(a(0)), LongType)),
    fn("century")(1)(a => Cast(Add(Floor(Divide(
      Cast(Subtract(Year(a(0)), Literal(1)), DoubleType), Literal(100.0))), Literal(1L)), LongType)),
    fn("decade")(1)(a =>
      Cast(Floor(Divide(Cast(Year(a(0)), DoubleType), Literal(10.0))), LongType)),
    fn("millennium")()(a =>
      Cast(Add(Divide(Subtract(uf("year", a), Literal(1)), Literal(1000)), Literal(1)), IntegerType)),
    fn("epoch_ms")(1)(a => Multiply(
      UnixTimestamp(Cast(a(0), TimestampType), Literal("yyyy-MM-dd HH:mm:ss")), Literal(1000L))),
    rename("epoch_us", "unix_micros"),
    fn("epoch_ns")()(a => Multiply(uf("unix_micros", a), Literal(1000L))),
    fn("epoch")()(a => Divide(Cast(uf("unix_micros", a), DoubleType), Literal(1e6))),
    // ISO year * 100 + ISO week — crosses year boundaries together
    // (2021-01-01 → 202053)
    fn("yearweek")(1)(a =>
      Cast(Add(Multiply(isoyearOf(a(0)), Literal(100)), WeekOfYear(a(0))), LongType)),
    // seconds-and-below components on the Postgres EXTRACT convention
    // (whole seconds included); date_part('SECOND') is DECIMAL(8,6),
    // so the scaling is exact
    fn("microsecond")()(a => Cast(Multiply(
      uf("date_part", Literal("SECOND") +: a), Literal(BigDecimal(1000000))), LongType)),
    fn("millisecond")()(a => Cast(Multiply(
      uf("date_part", Literal("SECOND") +: a), Literal(BigDecimal(1000))), LongType)),
    fn("nanosecond")()(a => Cast(Multiply(
      uf("date_part", Literal("SECOND") +: a), Literal(BigDecimal(1000000000))), LongType)),
    rename("week", "weekofyear"),
    rename("today", "current_date"),
    rename("datetrunc", "date_trunc"),
    rename("gen_random_uuid", "uuid"),
    rename("transaction_timestamp", "now"),
    rename("get_current_timestamp", "now"),
    // era/julian: the f61 identities (CE era flag; Julian Day anchored
    // at julian(2000-01-01) = 2451545, exact day integers)
    fn("era")(1)(a =>
      Cast(If(GreaterThan(Year(a(0)), Literal(0)), Literal(1), Literal(0)), LongType)),
    fn("julian")(1)(a => Cast(Add(DateDiff(Cast(a(0), DateType),
      Cast(Literal("2000-01-01"), DateType)), Literal(2451545)), DoubleType)),
    // the timezone of a naive timestamp in a UTC-pinned session is 0
    // on both engines; the argument is still type-checked
    fn("timezone", "timezone_hour", "timezone_minute")(1)(a =>
      If(IsNull(Cast(a(0), TimestampType)), Literal(null, LongType), Literal(0L))),
    // interval constructors
    fn("to_years")(1)(a => uf("make_ym_interval", Seq(a(0), Literal(0)))),
    fn("to_decades")(1)(a => uf("make_ym_interval", Seq(Multiply(a(0), Literal(10)), Literal(0)))),
    fn("to_centuries")(1)(a => uf("make_ym_interval", Seq(Multiply(a(0), Literal(100)), Literal(0)))),
    fn("to_millennia")(1)(a => uf("make_ym_interval", Seq(Multiply(a(0), Literal(1000)), Literal(0)))),
    fn("to_months")(1)(a => uf("make_ym_interval", Seq(Literal(0), a(0)))),
    fn("to_quarters")(1)(a => uf("make_ym_interval", Seq(Literal(0), Multiply(a(0), Literal(3))))),
    fn("to_weeks")(1)(a => uf("make_dt_interval", Seq(Multiply(a(0), Literal(7))))),
    fn("to_days")()(uf("make_dt_interval", _)),
    fn("to_hours")()(a => uf("make_dt_interval", Literal(0) +: a)),
    fn("to_minutes")()(a => uf("make_dt_interval", Seq(Literal(0), Literal(0)) ++ a)),
    fn("to_seconds")()(a => uf("make_dt_interval", Seq(Literal(0), Literal(0), Literal(0)) ++ a)),
    fn("to_milliseconds")(1)(a => uf("make_dt_interval", Seq(Literal(0), Literal(0), Literal(0),
      Divide(Cast(a(0), DoubleType), Literal(1e3))))),
    fn("to_microseconds")(1)(a => uf("make_dt_interval", Seq(Literal(0), Literal(0), Literal(0),
      Divide(Cast(a(0), DoubleType), Literal(1e6))))),
    // strftime/strptime %-codes translate to java patterns at bind
    // time (constant formats)
    fn("strftime")(2)(a =>
      uf("date_format", Seq(a(0), Literal(strfToJava(constString("strftime", a(1))))))),
    fn("strptime")(2)(a =>
      uf("to_timestamp", Seq(a(0), Literal(strfToJava(constString("strptime", a(1))))))),
    fn("try_strptime")(2)(a =>
      uf("try_to_timestamp", Seq(a(0), Literal(strfToJava(constString("try_strptime", a(1))))))),
    // fixed-width tumbling buckets; sub-day widths only (the f23
    // alignment identity: the reference's 2000-01-03 origin lands on
    // the epoch grid for widths dividing 86400 s — enforced here)
    fn("time_bucket")(2) { a =>
      require(a(0).foldable, "time_bucket expects a constant bucket width")
      // Spark parses INTERVAL '15 minutes' as an ANSI day-time
      // interval (Long micros); legacy CalendarInterval also accepted
      val w: Long = (a(0).dataType, a(0).eval(null)) match {
        case (_: DayTimeIntervalType, micros: java.lang.Long) => micros
        case (_, iv: org.apache.spark.unsafe.types.CalendarInterval) =>
          require(iv.months == 0 && iv.days == 0, "time_bucket alias supports sub-day widths only")
          iv.microseconds
        case (t, _) => throw new IllegalArgumentException(
          s"time_bucket alias supports sub-day interval widths only, got $t")
      }
      require(w > 0 && 86400000000L % w == 0, "time_bucket alias requires a width dividing 24h")
      val um = uf("unix_micros", Seq(a(1)))
      uf("timestamp_micros", Seq(Subtract(um, Pmod(um, Literal(w)))))
    },
    // age(later, earlier) at date resolution: fieldwise y/m/d with the
    // f48 single-borrow rule (day borrows days_in_month(earlier),
    // month borrows 12), returned as a calendar INTERVAL so
    // date_part('year'|'month'|'day', age(...)) matches the reference
    fn("age")(2) { a =>
      val (x, y) = (Cast(a(0), DateType), Cast(a(1), DateType))
      val y0 = Subtract(Year(x), Year(y))
      val m0 = Subtract(Month(x), Month(y))
      val d0 = Subtract(DayOfMonth(x), DayOfMonth(y))
      val borrowDay = LessThan(d0, Literal(0))
      val d1 = If(borrowDay, Add(d0, DayOfMonth(LastDay(y))), d0)
      val m1 = If(borrowDay, Subtract(m0, Literal(1)), m0)
      val borrowMonth = LessThan(m1, Literal(0))
      val m2 = If(borrowMonth, Add(m1, Literal(12)), m1)
      val y1 = If(borrowMonth, Subtract(y0, Literal(1)), y0)
      MakeInterval(y1, m2, Literal(0), d1, Literal(0), Literal(0),
        Literal(Decimal(0L, 18, 6), DecimalType(18, 6)))
    },
    fn("datesub")(3)(a => datesub(constString("datesub", a(0)).toLowerCase, a(1), a(2))),
    // 2-arg datediff keeps Spark's day difference; the 3-arg
    // date_diff('part', a, b) is spelled duck_date_diff by the dialect
    // (Spark's parser rejects the quoted unit before resolution) and
    // counts period crossings (dateDiffExpr)
    fn("date_diff", "datediff")(2, 3)(a =>
      if (a.length == 3) dateDiffExpr(constString("date_diff", a(0)), a(1), a(2))
      else DateDiff(a(0), a(1))),
    fn("duck_date_diff")(3)(a => dateDiffExpr(constString("duck_date_diff", a(0)), a(1), a(2))),
    // no TIME type in Spark 4.1: render the reference's TIMETZ as its
    // VARCHAR form, UTC offset
    fn("get_current_time")(0)(_ => uf("concat", Seq(
      uf("date_format", Seq(uf("now", Nil), Literal("HH:mm:ss.SSSSSS"))), Literal("+00"))))
  ).flatten

  /** datesub(part, a, b): COMPLETE part-intervals from a to b,
    * truncated toward zero (pinned: month Jan-31→Feb-28 = 1 via
    * add_months clamping, Jan-31→Mar-01 = 1, Mar-01→Jan-31 = −1,
    * day over timestamps 23h = 0). Month-quantum parts step with
    * add_months (end-of-month clamping identical in both engines)
    * and correct the raw month delta by one toward zero when the
    * stepped date overshoots; fixed-width parts divide the exact
    * microsecond delta.
    */
  private def datesub(part: String, a: Expression, b: Expression): Expression = {
    val monthQuantum = Map("year" -> 12, "quarter" -> 3, "month" -> 1,
      "decade" -> 120, "century" -> 1200, "millennium" -> 12000)
    val microQuantum = Map(
      "week" -> 604800000000L, "day" -> 86400000000L, "hour" -> 3600000000L,
      "minute" -> 60000000L, "second" -> 1000000L,
      "millisecond" -> 1000L, "microsecond" -> 1L)
    if (monthQuantum.contains(part)) {
      val q = monthQuantum(part)
      val ad = Cast(a, DateType)
      val bd = Cast(b, DateType)
      val m0 = Add(Multiply(Subtract(Year(bd), Year(ad)), Literal(12)),
        Subtract(Month(bd), Month(ad)))
      val c0 = Cast(IntegralDivide(Cast(m0, LongType), Literal(q.toLong)), IntegerType)
      val stepped = AddMonths(ad, Multiply(c0, Literal(q)))
      val corrected = If(GreaterThanOrEqual(bd, ad),
        If(GreaterThan(stepped, bd), Subtract(c0, Literal(1)), c0),
        If(LessThan(stepped, bd), Add(c0, Literal(1)), c0))
      Cast(corrected, LongType)
    } else {
      val q = microQuantum.getOrElse(part, throw new IllegalArgumentException(
        s"datesub: unsupported part '$part'"))
      val delta = Subtract(UnixMicros(Cast(b, TimestampType)), UnixMicros(Cast(a, TimestampType)))
      IntegralDivide(delta, Literal(q))
    }
  }

  /** T-SQL period-crossing date_diff (reference
    * src/core_functions/scalar/date/date_diff.cpp:31–140): year =
    * year(end)−year(start); month = (12y+m−1) delta; quarter = that
    * div 3; decade/century/millennium = year div 10/100/1000 delta;
    * week = day-distance div 7 — "not Monday crossings, just
    * distance" (:93); day = epoch-day delta of the DATE part; sub-day
    * units = truncating epoch-micros division per value then
    * subtract (matches the C `/`, which truncates toward zero).
    * All arithmetic is on the session-naive clock, like the
    * reference's TIMESTAMP. Result is BIGINT.
    */
  private def dateDiffExpr(unitRaw: String, start: Expression, end: Expression): Expression = {
    def asLong(x: Expression) = Cast(x, LongType)
    def dpart(x: Expression) = Cast(x, DateType)
    def idiv(x: Expression, d: Long) = IntegralDivide(asLong(x), Literal(d))
    def yr(x: Expression) = uf("year", Seq(dpart(x)))
    // zero-based month index: year*12 + month - 1
    def ymIdx(x: Expression) =
      Subtract(Add(Multiply(asLong(yr(x)), Literal(12L)), asLong(uf("month", Seq(dpart(x))))), Literal(1L))
    def um(x: Expression) = uf("unix_micros", Seq(Cast(x, TimestampType)))
    def delta(f: Expression => Expression) = Subtract(asLong(f(end)), asLong(f(start)))
    val days = DateDiff(dpart(end), dpart(start))
    val out: Expression = normUnit(unitRaw) match {
      case "year"        => delta(yr)
      case "isoyear"     => delta(x => uf("date_part", Seq(Literal("yearofweek"), dpart(x))))
      case "month"       => delta(ymIdx)
      case "quarter"     => delta(x => idiv(ymIdx(x), 3L))
      case "decade"      => delta(x => idiv(yr(x), 10L))
      case "century"     => delta(x => idiv(yr(x), 100L))
      case "millennium"  => delta(x => idiv(yr(x), 1000L))
      case "week"        => idiv(days, 7L)
      case "day"         => asLong(days)
      case "hour"        => delta(x => idiv(um(x), 3600000000L))
      case "minute"      => delta(x => idiv(um(x), 60000000L))
      case "second"      => delta(x => idiv(um(x), 1000000L))
      case "millisecond" => delta(x => idiv(um(x), 1000L))
      case "microsecond" => delta(um)
      case other => throw new IllegalArgumentException(
        s"date_diff: unrecognized unit '$other'")
    }
    Cast(out, LongType)
  }

  /** Reference unit-name aliases (common/enums/date_part_specifier). */
  private def normUnit(u0: String): String = u0.toLowerCase match {
    case "y" | "yr" | "yrs" | "year" | "years"                    => "year"
    case "isoyear"                                                => "isoyear"
    case "mon" | "mons" | "month" | "months"                      => "month"
    case "q" | "quarter" | "quarters"                             => "quarter"
    case "dec" | "decs" | "decade" | "decades"                    => "decade"
    case "c" | "cent" | "centuries" | "century"                   => "century"
    case "mil" | "mils" | "millenium" | "millennium" | "millennia" => "millennium"
    case "w" | "week" | "weeks" | "wk" | "wks" | "weekofyear"     => "week"
    case "d" | "day" | "days" | "dayofmonth"                      => "day"
    case "h" | "hr" | "hrs" | "hour" | "hours"                    => "hour"
    case "min" | "mins" | "minute" | "minutes"                    => "minute"
    case "s" | "sec" | "secs" | "second" | "seconds"              => "second"
    case "ms" | "msec" | "msecs" | "millisecond" | "milliseconds" => "millisecond"
    case "us" | "usec" | "usecs" | "microsecond" | "microseconds" => "microsecond"
    case other                                                    => other
  }

  /** strftime %-codes → java.time pattern, literal runs quoted. */
  private[plans] def strfToJava(fmt: String): String = {
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = {
      if (lit.nonEmpty) { out.append(SqlText.encode(lit.toString)); lit.clear() }
    }
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        val (code, step) =
          if (fmt.charAt(i + 1) == '-' && i + 2 < fmt.length) (s"-${fmt.charAt(i + 2)}", 3)
          else (fmt.charAt(i + 1).toString, 2)
        val j = code match {
          case "Y" => "yyyy"; case "y" => "yy"
          case "m" => "MM"; case "-m" => "M"
          case "d" => "dd"; case "-d" => "d"
          case "H" => "HH"; case "-H" => "H"
          case "I" => "hh"; case "-I" => "h"
          case "M" => "mm"; case "-M" => "m"
          case "S" => "ss"; case "-S" => "s"
          case "f" => "SSSSSS"; case "g" => "SSS"
          case "p" => "a"; case "j" => "DDD"
          case "a" => "EEE"; case "A" => "EEEE"
          case "b" | "h" => "MMM"; case "B" => "MMMM"
          case "%" => null // literal percent
          case other => throw new IllegalArgumentException(
            s"strftime/strptime: unsupported format code %$other")
        }
        if (j == null) lit.append('%') else { flush(); out.append(j) }
        i += step
      } else { lit.append(fmt.charAt(i)); i += 1 }
    }
    flush()
    out.toString
  }

  // ---- lists and maps ----
  // vector arithmetic in the f45 sequential-fold spelling: zip →
  // multiply → left fold, bit-exact on both engines because the fold
  // order is the element order
  private def fold(arr: Expression): Expression = {
    val ident = { val v = UnresolvedNamedLambdaVariable(Seq("acc")); LambdaFunction(v, Seq(v)) }
    ArrayAggregate(arr, Literal(0.0), lambda2((x, y) => Add(x, Cast(y, DoubleType))), ident)
  }
  private def dot(x: Expression, y: Expression): Expression =
    fold(ZipWith(x, y, lambda2((p, q) => Multiply(Cast(p, DoubleType), Cast(q, DoubleType)))))
  private def cosine(x: Expression, y: Expression): Expression =
    Divide(dot(x, y), Multiply(uf("sqrt", Seq(dot(x, x))), uf("sqrt", Seq(dot(y, y)))))

  private def lists: Seq[Fn] = Seq(
    fn("list_value")()(CreateArray(_)),
    rename("list_pack", "array"),
    rename("array_value", "array"),
    rename("unpivot_list", "array"),
    // distinct NON-NULL element count (reference list/functions.json)
    fn("list_unique", "array_unique")(1)(a =>
      Cast(Size(ArrayDistinct(ArrayCompact(a(0)))), LongType)),
    fn("list_distinct")(1)(a => ArrayDistinct(ArrayCompact(a(0)))),
    fn("list_intersect")(2)(a => ArrayIntersect(a(0), a(1))),
    fn("list_sort")(1)(a => new ArraySort(a(0))),
    fn("list_reverse_sort", "array_reverse_sort")(1)(a => SortArray(a(0), Literal(false))),
    rename("list_reverse", "reverse"),
    fn("array_to_string")(2)(a => ArrayJoin(a(0), a(1), None)),
    // full reference semantics (1-based INCLUSIVE bounds, negative
    // indices, clamping, optional 4th step arg) live in DuckSlice
    fn("array_slice", "list_slice")(3, 4)(a =>
      DuckSlice(a(0), a(1), a(2), a.lift(3), loEmpty = false, hiEmpty = false)),
    fn("list_extract", "list_element", "array_extract")(2)(a => ListExtract(a(0), a(1))),
    fn("list_aggregate", "list_aggr", "array_aggregate", "array_aggr")(2)(a =>
      listAggregate(a(0), constString("list_aggregate", a(1)))),
    fn("list_sum")(1)(a => listAggregate(a(0), "sum")),
    fn("list_count")(1)(a => listAggregate(a(0), "count")),
    rename("list_max", "array_max"),
    rename("list_min", "array_min"),
    rename("list_contains", "array_contains"),
    rename("list_zip", "arrays_zip"),
    // list_position: 1-based index, NULL when absent (Spark's
    // array_position spells absence as 0)
    fn("list_position", "list_indexof")()(a =>
      uf("nullif", Seq(uf("array_position", a), Literal(0L)))),
    // the reference's argument order: list_prepend(element, list)
    fn("list_prepend")(2)(a => uf("concat", Seq(uf("array", Seq(a(0))), a(1)))),
    fn("list_append")(2)(a => uf("concat", Seq(a(0), uf("array", Seq(a(1)))))),
    // mask gather: zip values with booleans, keep where the mask holds
    // (a NULL mask drops, matching the reference)
    fn("list_where")(2)(a => ArrayFilter(
      ZipWith(a(0), a(1),
        lambda2((v, m) => If(Coalesce(Seq(m, Literal(false))), v, Literal(null)))),
      lambda1(IsNotNull))),
    // higher-order aliases build the concrete expression classes: a
    // lambda argument must see a higher-order PARENT during analysis,
    // so a rename via UnresolvedFunction would fail the analyzer's
    // NON_HIGHER_ORDER_FUNCTION check before resolving
    fn("list_transform", "list_apply", "array_transform", "array_apply", "apply")(2)(a =>
      ArrayTransform(a(0), a(1))),
    fn("list_filter", "array_filter")(2)(a => ArrayFilter(a(0), a(1))),
    // the reference's reduce has NO init value — the first element
    // seeds the fold and the lambda runs over elements 2..n
    fn("list_reduce", "array_reduce")(2) { a =>
      val ident = { val v = UnresolvedNamedLambdaVariable(Seq("acc")); LambdaFunction(v, Seq(v)) }
      ArrayAggregate(Slice(a(0), Literal(2), Subtract(Size(a(0)), Literal(1))),
        ElementAt(a(0), Literal(1)), a(1), ident)
    },
    rename("list_has_any", "arrays_overlap"),
    rename("array_has_any", "arrays_overlap"),
    fn("list_has_all", "array_has_all")(2)(a =>
      EqualTo(Size(ArrayExcept(ArrayCompact(a(1)), a(0))), Literal(0))),
    // argsort: zip (value, 1-based index), lexicographic struct sort
    // (ties by original position), project the index
    fn("list_grade_up", "array_grade_up", "grade_up")(1) { a =>
      val (v, i, s) = (UnresolvedNamedLambdaVariable(Seq("v")),
        UnresolvedNamedLambdaVariable(Seq("i")), UnresolvedNamedLambdaVariable(Seq("s")))
      val zipped = ZipWith(a(0), uf("sequence", Seq(Literal(1), Size(a(0)))),
        LambdaFunction(CreateNamedStruct(Seq(Literal("v"), v, Literal("i"), i)), Seq(v, i)))
      ArrayTransform(new ArraySort(zipped),
        LambdaFunction(UnresolvedExtractValue(s, Literal("i")), Seq(s)))
    },
    fn("list_dot_product", "list_inner_product", "array_dot_product", "array_inner_product")(2)(a =>
      dot(a(0), a(1))),
    fn("list_negative_dot_product", "list_negative_inner_product",
        "array_negative_dot_product", "array_negative_inner_product")(2)(a =>
      UnaryMinus(dot(a(0), a(1)))),
    fn("list_cosine_similarity", "array_cosine_similarity")(2)(a => cosine(a(0), a(1))),
    fn("list_cosine_distance", "array_cosine_distance")(2)(a =>
      Subtract(Literal(1.0), cosine(a(0), a(1)))),
    fn("list_distance", "array_distance")(2) { a =>
      val diffSq = ZipWith(a(0), a(1), lambda2 { (x, y) =>
        val d = Subtract(Cast(x, DoubleType), Cast(y, DoubleType))
        Multiply(d, d)
      })
      uf("sqrt", Seq(fold(diffSq)))
    },
    fn("array_cross_product")(2) { a =>
      def el(v: Expression, i: Int) = Cast(ElementAt(v, Literal(i)), DoubleType)
      val (x, y) = (a(0), a(1))
      CreateArray(Seq(
        Subtract(Multiply(el(x, 2), el(y, 3)), Multiply(el(x, 3), el(y, 2))),
        Subtract(Multiply(el(x, 3), el(y, 1)), Multiply(el(x, 1), el(y, 3))),
        Subtract(Multiply(el(x, 1), el(y, 2)), Multiply(el(x, 2), el(y, 1)))))
    },
    // generate_subscripts(list, 1): one row per 1-based index —
    // explode of the index sequence (empty list → no rows)
    fn("generate_subscripts")(2)(a =>
      uf("explode", Seq(uf("sequence", Seq(Literal(1), uf("size", Seq(a(0)))))))),
    rename("generate_series", "sequence"),
    rename("map_contains", "map_contains_key"),
    // returns [value] / [] like the reference (not value / NULL); the
    // empty branch slices the same singleton so its element type
    // always matches
    fn("map_extract")(2) { a =>
      val one = CreateArray(Seq(ElementAt(a(0), a(1))))
      If(uf("map_contains_key", a), one, Slice(one, Literal(1), Literal(0)))
    }
  ).flatten

  private def listAggregate(arr: Expression, fnName: String): Expression = fnName match {
    // the reference's sum: in the element's numeric kind (integers as
    // BIGINT, decimals at precision 38, floats as DOUBLE), NULL elements
    // skipped, NULL for an empty or all-NULL list
    case "sum" =>
      val acc = arr.dataType match {
        case ArrayType(d: DecimalType, _) => DecimalType(DecimalType.MAX_PRECISION, d.scale)
        case ArrayType(FloatType | DoubleType, _) => DoubleType
        case _ => LongType
      }
      ArrayAggregate(Cast(arr, ArrayType(acc)), Literal(null, acc),
        lambda2((s, x) => If(IsNull(x), s, Cast(Add(Coalesce(Seq(s, Literal.default(acc))), x), acc))),
        lambda1(identity))
    case "min" => ArrayMin(arr)
    case "max" => ArrayMax(arr)
    case "count" => Cast(Size(ArrayCompact(arr)), LongType)
    case other => throw new IllegalArgumentException(
      s"list_aggregate: unsupported function '$other' (sum/min/max/count)")
  }

  // ---- aggregates: the analyzer wraps a bare AggregateFunction in
  // AggregateExpression itself, so builders return the raw aggregate ----
  private def constBins(name: String, ex: Expression): Seq[Any] =
    constOf(name, ex).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toObjectArray(ex.dataType.asInstanceOf[ArrayType].elementType).toSeq

  private def aggregates: Seq[Fn] = Seq(
    fn("kahan_sum", "fsum", "sumkahan")(1)(a => KahanSumAgg(dbl(a(0)))),
    fn("favg")()(a => Divide(uf("kahan_sum", a), Cast(uf("count", a), DoubleType))),
    fn("reservoir_quantile")(3)(a => ReservoirQuantileAgg(dbl(a(0)),
      constDouble("reservoir_quantile", a(1)), constDouble("reservoir_quantile", a(2)).toInt)),
    // histogram(x) = distinct-value map; histogram(x, bins) = binned
    // range variant (lower_bound assignment + "other" overflow bucket)
    fn("histogram")(1, 2)(a =>
      if (a.length == 1) HistogramAgg(a(0))
      else BinnedHistogramAgg(a(0), constBins("histogram", a(1)), exact = false)),
    fn("histogram_exact")(2)(a =>
      BinnedHistogramAgg(a(0), constBins("histogram_exact", a(1)), exact = true)),
    // the overflow bucket's sentinel probe (generic_functions.hpp):
    // v IS NOT DISTINCT FROM OtherBucketValue(typeof(v))
    fn("is_histogram_other_bin")(1) { a =>
      val sentinel: Option[Any] = a(0).dataType match {
        case ByteType => Some(Byte.MaxValue)
        case ShortType => Some(Short.MaxValue)
        case IntegerType => Some(Int.MaxValue)
        case LongType => Some(Long.MaxValue)
        case FloatType => Some(Float.PositiveInfinity)
        case DoubleType => Some(Double.PositiveInfinity)
        case StringType => Some("")
        case _ => None
      }
      sentinel.map(s => EqualNullSafe(a(0), Literal(s))).getOrElse(Literal(false))
    },
    fn("entropy")(1)(a => EntropyAgg(a(0))),
    fn("mad")(1)(a => MadAgg(a(0))),
    // bitstring_agg {3,5,7} over [1,8] → '00101010', 1-arg → '10101'
    fn("bitstring_agg")(1, 3)(a => BitstringAgg(a(0),
      if (a.length == 3)
        Some((constLong("bitstring_agg", a(1)), constLong("bitstring_agg", a(2))))
      else None)),
    // quantile ≡ quantile_disc: the element at cume_dist ≥ q. The
    // reference's LIST-pos overload is not registered (one scalar
    // result per call here); pass scalar positions.
    fn("quantile", "quantile_disc")(2) { a =>
      require(!a(1).dataType.isInstanceOf[ArrayType],
        "quantile: LIST positions not supported at the SQL surface — call once per position")
      PercentileDisc(a(0), Literal(constDouble("quantile", a(1))))
    },
    // internal-only name: sum minus the overflow checks — Spark's sum
    rename("sum_no_overflow", "sum"),
    // the reference's arg_max SKIPS rows whose argument is NULL
    // (arg_max_null keeps them); Spark's max_by keeps them but ignores
    // rows with a NULL ordering key — so null the key out when the
    // argument is null
    fn("arg_max", "argmax")(2)(a => uf("max_by", Seq(a(0), If(IsNull(a(0)), Literal(null), a(1))))),
    fn("arg_min", "argmin")(2)(a => uf("min_by", Seq(a(0), If(IsNull(a(0)), Literal(null), a(1))))),
    rename("arg_max_null", "max_by"),
    rename("arg_min_null", "min_by"),
    rename("approx_quantile", "approx_percentile"),
    rename("quantile_cont", "percentile"),
    rename("kurtosis_pop", "kurtosis"),
    fn("sem")()(a => Divide(uf("stddev_samp", a), uf("sqrt", Seq(uf("count", a))))),
    fn("group_concat")(1, 2)(a =>
      uf("array_join", Seq(uf("collect_list", Seq(a(0))), a.lift(1).getOrElse(Literal(","))))),
    fn("product")(1)(a => ProductAgg(Cast(a(0), DoubleType)).toAggregateExpression()),
    // `list(x)` is the reference's AGGREGATE (alias of array_agg —
    // list_aggregates.cpp), not a constructor (that's list_value/
    // list_pack). Same NULL-dropping divergence as array_agg itself.
    rename("list", "collect_list")
  ).flatten

  // ---- operator spellings, callable backquoted (`**`(2, 3)) and
  // reached from their infix forms through the dialect. `^` and `<=>`
  // are absent: Spark binds them (XOR, null-safe equality), so their
  // DuckDB meanings (power, cosine distance) live in the dialect ----
  private def operators: Seq[Fn] = Seq(
    rename("**", "power"),
    fn("//")(2)(a => DuckDiv(a(0), a(1))),
    rename("@", "abs"),
    rename("!__postfix", "factorial"),
    rename("^@", "starts_with"),
    rename("<->", "list_distance"),
    rename("&&", "list_has_any"),
    rename("@>", "list_has_all"),
    fn("<@")()(a => uf("list_has_all", a.reverse)),
    rename("error", "raise_error"),
    rename("row", "struct"),
    // kept for NAME closure only — the dialect rewrites FINALIZE(state)
    // structurally (EXPORT_STATE struct states); a bare Spark-dialect
    // call is the identity
    fn("finalize")(1)(_.head)
  ).flatten

  // ---- named-argument constructors, positional form (the dialect
  // rewrites `k := v` to these) and the f47 tagged-union encoding
  // (struct<tag: string, <member>: T, ...>) ----
  private def constructors: Seq[Fn] = Seq(
    fn("struct_pack")()(CreateNamedStruct(_)),
    fn("struct_insert")() { a =>
      require(a.length >= 3 && (a.length - 1) % 2 == 0,
        "struct_insert expects (struct, 'name', value, ...)")
      a.drop(1).grouped(2).foldLeft(a.head) { case (acc, Seq(k, v)) =>
        UpdateFields(acc, constString("struct_insert", k), v)
      }
    },
    fn("union_value")(2) { a =>
      val tag = constString("union_value", a(0))
      CreateNamedStruct(Seq(Literal("tag"), Literal(tag), Literal(tag), a(1)))
    },
    fn("union_tag")(1)(a => UnresolvedExtractValue(a(0), Literal("tag"))),
    fn("union_extract")(2)(a =>
      UnresolvedExtractValue(a(0), Literal(constString("union_extract", a(1)))))
  ).flatten

  // ---- session introspection, all bind-time constants like the
  // reference's bind data: current_setting reads SQLConf,
  // current_schemas/in_search_path read the session catalog,
  // current_query returns the front-door statement as typed (its
  // StatementScope), txid_current is a session-monotonic id
  // (transactions are per-query; sources/Dml) ----
  private val txid = new AtomicLong(1000L)

  private def introspection: Seq[Fn] = Seq(
    fn("current_setting")(1)(a =>
      Literal(SQLConf.get.getConfString(constString("current_setting", a(0)), ""))),
    fn("current_query")(0)(_ => Literal(StatementScope.current.map(_.text).getOrElse(""))),
    fn("txid_current")(0)(_ => Literal(txid.incrementAndGet())),
    fn("current_schemas")(1) { a =>
      val db = SparkSession.active.catalog.currentDatabase
      val withGlobal = constOf("current_schemas", a(0)) == true
      CreateArray((if (withGlobal) Seq(db, "global_temp") else Seq(db)).map(Literal(_)))
    },
    fn("in_search_path")(2) { a =>
      val db = constString("in_search_path", a(0))
      val schema = constString("in_search_path", a(1))
      val cat = SparkSession.active.catalog
      Literal(db == cat.currentCatalog &&
        (schema == cat.currentDatabase || schema == "global_temp"))
    },
    fn("alias")(1)(a => a(0) match {
      case x: UnresolvedAttribute => Literal(x.nameParts.last)
      case x: Attribute => Literal(x.name)
      case l: Literal => Literal(l.sql.stripPrefix("L")) // render value text
      case other => Literal(other.sql)
    }),
    fn("can_cast_implicitly")(2)(a => CanCastImplicitly(a(0), a(1))),
    fn("create_sort_key")()(CreateSortKey(_)),
    // sequence functions (nextval.cpp) — session registry in Sequences
    fn("nextval")(1)(a => SequenceVal(a(0), isNext = true)),
    fn("currval")(1)(a => SequenceVal(a(0), isNext = false))
  ).flatten

  // ---- HUGEINT / UHUGEINT and VARINT kernels over their binary
  // encodings (Hugeint.scala, Varint.scala) ----
  private def wideIntegers: Seq[Fn] = {
    val hugeint = for ((prefix, signed) <- Seq(("hugeint", true), ("uhugeint", false))) yield Seq(
      fn(prefix)(1)(a => HugeintParse(a(0), signed)),
      fn(s"${prefix}_lift")(1)(a => HugeintLift(a(0), signed)),
      fn(s"${prefix}_str")(1)(a => HugeintRender(a(0), signed))
    ) ++ Seq("add", "sub", "mul", "div", "mod", "shl", "shr", "and", "or", "xor").map(op =>
      fn(s"${prefix}_$op")(2)(a => HugeintBinOp(a(0), a(1), op, signed))
    ) ++ Seq("neg", "abs", "dbl", "long").map(op =>
      fn(s"${prefix}_$op")(1)(a => HugeintUnOp(a(0), op, signed)))
    hugeint.flatten.flatten ++ Seq(
      fn("varint")(1)(a => VarintLift(a(0))),
      fn("varint_str")(1)(a => VarintRender(a(0))),
      fn("varint_dbl")(1)(a => VarintToDouble(a(0)))
    ).flatten
  }

  // ---- kernels the dialect and the SQL passes emit ----
  private def internal: Seq[Fn] = Seq(
    // duck_slice arities: 3 = legacy `(x, lo, hi)` with literal-NULL
    // bounds meaning "empty" (old spliced-view texts); 5 = explicit
    // empty flags; 6 = with a step argument (the `[a:b:c]` spelling)
    fn("duck_slice")(3, 5, 6) { a =>
      def nullLit(x: Expression): Boolean = x match {
        case Literal(null, _) => true
        case _ => false
      }
      def boolLit(x: Expression): Boolean = x.eval(null).asInstanceOf[Boolean]
      if (a.length == 3) DuckSlice(a(0), a(1), a(2), None, nullLit(a(1)), nullLit(a(2)))
      else DuckSlice(a(0), a(1), a(2), if (a.length == 6) Some(a(3)) else None,
        boolLit(a(a.length - 2)), boolLit(a(a.length - 1)))
    },
    fn("graft_glob")(2)(a => GlobMatch(a(0), a(1))),
    // the ON condition of an ASOF join, marked by the dialect and
    // planned by AsofJoinRule
    fn("graft_asof")(1)(a => AsofCondition(a(0))),
    fn("graft_json_path")(1)(a => JsonPathNorm(a(0))),
    // numeric→integer cast rounding parity (the dialect wraps integer
    // cast targets in these; see DuckRint). _try: unparsable strings
    // yield NULL (TRY_CAST); plain: they error (CAST, both engines)
    fn("graft_rint")(1)(a => DuckRint(a(0))),
    fn("graft_rint_try")(1)(a => DuckRint(a(0), strict = false)),
    // a window frame Spark's grammar rejects, marked by the dialect and
    // planned by WindowFrameRule
    fn("graft_window")(8)(a => WindowFrameMark(a)),
    // the dialect's ordered-set quantile over a sorted value list
    // (operators/FrameAgg.scala)
    fn("graft_frame_agg")(2, 3)(a =>
      FrameAgg(a(0), a(1), a.lift(2).getOrElse(Literal(null, DoubleType))))
  ).flatten
}

/** Engine extensions entry point:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    // transaction read snapshots, one model for every connection
    // (sources/Txn): post-hoc so relations are already resolved to
    // their file sources
    e.injectPostHocResolutionRule(s => TxnSnapshotRule(s))
    // ASOF joins, resolved like any join, then planned as
    // Joins.asofJoin's union and window (plans/AsofJoinRule)
    e.injectPostHocResolutionRule(s => AsofJoinRule(s))
    // window frames Spark's grammar rejects, planned from the resolved
    // window before Spark extracts windows (plans/WindowFrameRule)
    e.injectResolutionRule(_ => WindowFrameRule)
    // relations a front-door statement computed for itself, resolved
    // ahead of the catalog (plans/StatementScope)
    e.injectHintResolutionRule(_ => StatementScopeRule)
    FunctionTable.inject(e)
  }
}
