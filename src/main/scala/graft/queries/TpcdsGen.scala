package graft.queries

/** Synthesized TPC-DS schema — all 24 tables of the reference's
  * tpcds extension (/root/reference/extension/tpcds/dsdgen/schema/
  * *.sql) as deterministic, engine-portable SQL view texts, so the
  * 99 official query texts (dsdgen/queries/01.sql–99.sql) can run
  * VERBATIM on both engines over identical data (the ClickBench43
  * `hits` treatment, scaled to a 24-table star schema).
  *
  * Design:
  *  - every table derives from a `generate_series` integer grid plus
  *    closed-form arithmetic — no dependence on engine RNG, ordering,
  *    or floating-point summation; both engines compute the same
  *    multiset by construction;
  *  - foreign keys mix through distinct affine hashes
  *    `(x*a + b) % 1048573 % m` (universal-hash family) so
  *    cross-table filter conjunctions equidistribute — the lesson of
  *    the JOB witness work (ImdbWitness): naive cycling makes joint
  *    filters unsatisfiable;
  *  - sales facts are TWO-LEVEL grids — an order/ticket grid with
  *    per-order attributes (date, customer, store, demographics) and
  *    a correlated `unnest(generate_series(1, size(g)))` line grid
  *    with per-line attributes (item, promo, measures), ticket sizes
  *    sweeping 1..25 so per-ticket HAVING bands (q34 cnt 15–20,
  *    q73 cnt 1–5) select real rows;
  *  - returns are filtered projections OF the sales views, so
  *    ticket/order+item join-back queries (q17/q24/q25/q29/q64/q93)
  *    always find matching pairs;
  *  - date_dim is a REAL calendar (1998-01-01..2003-12-31,
  *    d_date_sk = Julian day as in dsdgen) with
  *    d_month_seq = (year-1900)*12 + month - 1, matching the query
  *    corpus's literal windows (1176, 1200, 1212, …);
  *  - dimension value cycles carry the corpus's own literals
  *    ('ese', 'TN', 'Williamson County', 'reason 28', gmt -5, the
  *    q8/q45 zip lists, the q41/q24 color families, …) so literal
  *    equality filters land on live rows.
  *
  * Money stays in DECIMAL(7,2) (cast from an exact cent grid) so
  * engine-exact sums feed HAVING/subquery comparisons identically.
  */
object TpcdsGen {

  // ---------------------------------------------------------- hashing

  /** Affine hash over BIGINT x: distinct (a,b) per seed. Magnitudes:
    * x ≤ ~2.5e6, a ≤ ~6e5 → product ≤ 1.5e12, well inside BIGINT. */
  private def h(x: String, seed: Int): String = {
    val a = 100003L + 7919L * seed
    val b = 13L + 7907L * seed
    s"((($x) * $a + $b) % 1048573)"
  }
  private def hm(x: String, seed: Int, m: Long): String = s"(${h(x, seed)} % $m)"

  /** Exact cents → DECIMAL(7,2). */
  private def dec(cents: String): String =
    s"CAST(($cents) / 100.0 AS DECIMAL(7,2))"

  /** Pick from a fixed value cycle — a 1-based LIST SUBSCRIPT, not a
    * CASE chain: Catalyst expands `CASE (k) WHEN 0 … WHEN 63 …` into
    * 64 repeated-key comparisons, and the item table's stacked picks
    * blew whole-stage codegen past janino's 64 KB method limit (the
    * r10 verdict's observed fallback). A constant-array subscript
    * evaluates the key once and codegens to one element_at. Both
    * engines read this one text: DuckDB natively, Spark through the
    * dialect front door's 1-based-subscript translation. Indices are
    * in range by construction (mod list length), so ANSI Spark and
    * NULL-past-end DuckDB agree. */
  private def pick(idx: String, vals: Seq[String]): String =
    s"([${vals.map(v => s"'${v.replace("'", "''")}'").mkString(", ")}])[CAST(($idx) + 1 AS BIGINT)]"

  private def pickH(x: String, seed: Int, vals: Seq[String]): String =
    pick(hm(x, seed, vals.length), vals)

  /** Scala-side mirror of h()/hm() — used to SEARCH the generated key
    * space for rows satisfying popular query predicates ("hot pools",
    * the in-generator analog of ImdbWitness planting). */
  private def hEval(x: Long, seed: Int): Long =
    (x * (100003L + 7919L * seed) + (13L + 7907L * seed)) % 1048573L
  private def hmEval(x: Long, seed: Int, m: Long): Long = hEval(x, seed) % m

  /** Numeric pick of a literal sk from a hot list (same subscript
    * form as [[pick]]). */
  private def pickSk(idx: String, sks: Seq[Long]): String =
    s"([${sks.mkString(", ")}])[CAST(($idx) + 1 AS BIGINT)]"

  /** Fk that draws from a hot pool a fraction of the time:
    * pct/100 hot via `hotExpr`, else the full-range hash. */
  private def mixFk(x: String, seedSel: Int, pct: Int, hotExpr: String,
      coldExpr: String): String =
    s"(CASE WHEN ${hm(x, seedSel, 100L)} < $pct THEN $hotExpr ELSE $coldExpr END)"

  // ------------------------------------------------------------ grids

  /** 1-based sk grid. */
  private def grid(n: Int): String =
    s"(SELECT CAST(i AS BIGINT) AS i FROM generate_series(1, $n) t(i))"

  /** Order/line two-level grid: orders g in [0, orders), line ln in
    * [1, 1 + (g*mul) % mod] — sizes sweep 1..mod. */
  private def lines(orders: Int, mod: Int, mul: Int): String =
    s"(SELECT g, CAST(unnest(generate_series(1, 1 + (g * $mul) % $mod)) AS BIGINT) AS ln " +
      s"FROM (SELECT CAST(i AS BIGINT) AS g FROM generate_series(0, ${orders - 1}) t(i)))"

  // ------------------------------------------------------- dimensions

  private val DateSk0 = 2450815L // Julian day of 1998-01-01 (dsdgen convention)
  private val Days = 2192       // 1998-01-01 .. 2003-12-31
  private val LastSk = DateSk0 + Days - 1

  val dateDim: String = {
    val d = "(DATE '1998-01-01' + CAST(i - 1 AS INTEGER))"
    s"""SELECT
       |  CAST(${DateSk0 - 1} + i AS INTEGER) AS d_date_sk,
       |  'D' || CAST(${DateSk0 - 1} + i AS VARCHAR) AS d_date_id,
       |  $d AS d_date,
       |  (year($d) - 1900) * 12 + month($d) - 1 AS d_month_seq,
       |  CAST(floor((i + 3) / 7.0) AS INTEGER) + 5113 AS d_week_seq,
       |  (year($d) - 1900) * 4 + quarter($d) - 1 AS d_quarter_seq,
       |  year($d) AS d_year,
       |  CAST((i + 3) % 7 AS INTEGER) AS d_dow,
       |  month($d) AS d_moy,
       |  day($d) AS d_dom,
       |  quarter($d) AS d_qoy,
       |  year($d) AS d_fy_year,
       |  (year($d) - 1900) * 4 + quarter($d) - 1 AS d_fy_quarter_seq,
       |  CAST(floor((i + 3) / 7.0) AS INTEGER) + 5113 AS d_fy_week_seq,
       |  dayname($d) AS d_day_name,
       |  CAST(year($d) AS VARCHAR) || 'Q' || CAST(quarter($d) AS VARCHAR) AS d_quarter_name,
       |  CASE WHEN month($d) = 12 AND day($d) = 25 THEN 'Y' ELSE 'N' END AS d_holiday,
       |  CASE WHEN (i + 3) % 7 IN (0, 6) THEN 'Y' ELSE 'N' END AS d_weekend,
       |  'N' AS d_following_holiday,
       |  CAST(${DateSk0 - 1} + i - day($d) + 1 AS INTEGER) AS d_first_dom,
       |  CAST(${DateSk0 - 1} + i - day($d) + 28 AS INTEGER) AS d_last_dom,
       |  CAST(${DateSk0 - 1} + i - 365 AS INTEGER) AS d_same_day_ly,
       |  CAST(${DateSk0 - 1} + i - 91 AS INTEGER) AS d_same_day_lq,
       |  'N' AS d_current_day, 'N' AS d_current_week,
       |  'N' AS d_current_month, 'N' AS d_current_quarter, 'N' AS d_current_year
       |FROM ${grid(Days)}""".stripMargin
  }

  val timeDim: String =
    s"""SELECT
       |  CAST(i - 1 AS INTEGER) AS t_time_sk,
       |  'T' || CAST(i - 1 AS VARCHAR) AS t_time_id,
       |  CAST((i - 1) * 60 AS INTEGER) AS t_time,
       |  CAST(floor((i - 1) / 60.0) AS INTEGER) AS t_hour,
       |  CAST((i - 1) % 60 AS INTEGER) AS t_minute,
       |  0 AS t_second,
       |  CASE WHEN (i - 1) < 720 THEN 'AM' ELSE 'PM' END AS t_am_pm,
       |  CASE WHEN (i - 1) < 480 THEN 'first' WHEN (i - 1) < 960 THEN 'second' ELSE 'third' END AS t_shift,
       |  CASE WHEN (i - 1) < 480 THEN 'night' WHEN (i - 1) < 960 THEN 'morning' ELSE 'evening' END AS t_sub_shift,
       |  CASE WHEN (i - 1) >= 360 AND (i - 1) < 600 THEN 'breakfast'
       |       WHEN (i - 1) >= 1020 AND (i - 1) < 1260 THEN 'dinner' END AS t_meal_time
       |FROM ${grid(1440)}""".stripMargin

  private val NItem = 2003
  private val categories = Seq("Books", "Children", "Electronics", "Home",
    "Jewelry", "Men", "Music", "Shoes", "Sports", "Women")
  private val classes = Seq("accessories", "classical", "fragrances", "pants",
    "personal", "portable", "reference", "self-help", "shirts", "birdal",
    "dresses", "computers", "stereo", "football", "maternity", "estate",
    "scanners", "country")
  private val colors = Seq("purple", "slate", "blanched", "burnished",
    "burlywood", "floral", "indian", "medium", "spring", "peach", "powder",
    "khaki", "brown", "honeydew", "deep", "light", "cornflower", "cyan",
    "forest", "frosted", "ghost", "midnight", "orange", "papaya", "petite",
    "small", "snow", "metallic", "smoke", "pale", "chiffon", "rose")
  private val units = Seq("Ton", "Tbl", "Pound", "Pallet", "Oz", "Ounce",
    "N/A", "Lb", "Gross", "Each", "Dram", "Dozen", "Cup", "Bundle", "Bunch",
    "Box", "Carton", "Case")
  private val sizes = Seq("petite", "medium", "extra large", "small", "N/A",
    "large", "economy")
  private val brands = Seq("amalgimporto #1", "edu packscholar #1",
    "exportiimporto #1", "importoamalg #1", "scholaramalgamalg #14",
    "scholaramalgamalg #7", "scholaramalgamalg #9", "exportiunivamalg #9",
    "amalgamalg #2", "edu packamalg #1", "exportischolar #1",
    "importoscholar #2", "corpunivamalg #6", "univmaxi #5", "amalgnameless #3",
    "brandbrand #4", "edu packedu pack #1", "maxinameless #8",
    "namelesscorp #2", "univamalgamalg #11")

  /** q41's 8 predicate branches (category, 2 colors, 2 units, 2
    * sizes). 1/8 of items get their four attribute columns jointly
    * overridden from the 64-combo cross of these branches, so the
    * query's per-manufact correlated count finds live witnesses. */
  private val q41Branches = Seq(
    ("Women", Seq("powder", "khaki"), Seq("Ounce", "Oz"), Seq("medium", "extra large")),
    ("Women", Seq("brown", "honeydew"), Seq("Bunch", "Ton"), Seq("N/A", "small")),
    ("Men", Seq("floral", "deep"), Seq("N/A", "Dozen"), Seq("petite", "petite")),
    ("Men", Seq("light", "cornflower"), Seq("Box", "Pound"), Seq("medium", "extra large")),
    ("Women", Seq("midnight", "snow"), Seq("Pallet", "Gross"), Seq("medium", "extra large")),
    ("Women", Seq("cyan", "papaya"), Seq("Cup", "Dram"), Seq("N/A", "small")),
    ("Men", Seq("orange", "frosted"), Seq("Each", "Tbl"), Seq("petite", "petite")),
    ("Men", Seq("forest", "ghost"), Seq("Lb", "Bundle"), Seq("medium", "extra large")))

  private val witnessCombos: Seq[(String, String, String, String)] =
    for {
      (cat, cols, us, szs) <- q41Branches
      c <- cols; u <- us; s <- szs
    } yield (cat, c, u, s)

  private def witnessCol(select: Int, fallback: String): String = {
    val vals = witnessCombos.map {
      case (cat, c, u, s) => select match {
        case 0 => cat
        case 1 => c
        case 2 => u
        case _ => s
      }
    }
    s"CASE WHEN ${hm("i", 107, 8L)} = 0 THEN ${pick(hm("i", 108, 64L), vals)} ELSE $fallback END"
  }

  /** Hot-pool items (sk ≤ 149) that are 'Women'/'maternity' — q54's
    * revisit-cohort seed purchase needs this (category, class) pair
    * to appear in catalog/web lines at real density. */
  private val MaternityWitness = s"(i <= 149 AND ${hm("i", 110, 5L)} = 0)"

  val item: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS i_item_sk,
       |  'I' || CAST(100000 + i AS VARCHAR) AS i_item_id,
       |  DATE '1997-10-27' AS i_rec_start_date,
       |  CASE WHEN ${hm("i", 90, 2)} = 0 THEN DATE '2001-10-26' END AS i_rec_end_date,
       |  'Item description ' || CAST(${hm("i", 91, 797L)} AS VARCHAR) AS i_item_desc,
       |  ${dec(hm("i", 92, 9900L) + " + 88")} AS i_current_price,
       |  ${dec(hm("i", 93, 6600L) + " + 34")} AS i_wholesale_cost,
       |  CAST(1000001 + ${hm("i", 94, 5000L)} AS INTEGER) AS i_brand_id,
       |  ${pickH("i", 95, brands)} AS i_brand,
       |  CAST(1 + ${hm("i", 96, 16L)} AS INTEGER) AS i_class_id,
       |  CASE WHEN $MaternityWitness THEN 'maternity' ELSE ${pickH("i", 97, classes)} END AS i_class,
       |  CAST(1 + ${hm("i", 98, 10L)} AS INTEGER) AS i_category_id,
       |  CASE WHEN $MaternityWitness THEN 'Women' ELSE ${witnessCol(0, pickH("i", 98, categories))} END AS i_category,
       |  CAST(1 + ${hm("i", 99, 1000L)} AS INTEGER) AS i_manufact_id,
       |  'manufact' || CAST(1 + ${hm("i", 99, 1000L)} AS VARCHAR) AS i_manufact,
       |  ${witnessCol(3, pickH("i", 100, sizes))} AS i_size,
       |  'formulation' || CAST(${hm("i", 101, 100L)} AS VARCHAR) AS i_formulation,
       |  ${witnessCol(1, pickH("i", 102, colors))} AS i_color,
       |  ${witnessCol(2, pickH("i", 103, units))} AS i_units,
       |  CASE WHEN ${hm("i", 104, 10L)} = 0 THEN NULL ELSE 'Unknown' END AS i_container,
       |  CAST(1 + ${hm("i", 105, 100L)} AS INTEGER) AS i_manager_id,
       |  'product ' || CAST(${hm("i", 106, 997L)} AS VARCHAR) AS i_product_name
       |FROM ${grid(NItem)}""".stripMargin

  private val NStore = 13
  private val storeNames = Seq("ese", "ought", "able", "ese", "pri", "anti",
    "ese", "cally", "ation", "ese", "eing", "bar", "ese")
  private val otherStates = Seq("SD", "AL", "GA", "MI", "OH", "TX")

  val store: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS s_store_sk,
       |  'S' || CAST(100 + i AS VARCHAR) AS s_store_id,
       |  DATE '1997-03-13' AS s_rec_start_date,
       |  CAST(NULL AS DATE) AS s_rec_end_date,
       |  CAST(NULL AS INTEGER) AS s_closed_date_sk,
       |  ${pick("(i - 1) % " + storeNames.length, storeNames)} AS s_store_name,
       |  CAST(200 + ${hm("i", 110, 100L)} AS INTEGER) AS s_number_employees,
       |  CAST(5000000 + ${hm("i", 111, 5000000L)} AS INTEGER) AS s_floor_space,
       |  '8AM-8PM' AS s_hours,
       |  'Manager ' || CAST(i AS VARCHAR) AS s_manager,
       |  CAST(CASE WHEN i % 2 = 0 THEN 8 ELSE 1 + ${hm("i", 112, 10L)} END AS INTEGER) AS s_market_id,
       |  'Unknown' AS s_geography_class,
       |  'market description ' || CAST(i AS VARCHAR) AS s_market_desc,
       |  'Market Manager ' || CAST(i AS VARCHAR) AS s_market_manager,
       |  CAST(1 + (i % 2) AS INTEGER) AS s_division_id,
       |  'Unknown' AS s_division_name,
       |  1 AS s_company_id,
       |  'Unknown' AS s_company_name,
       |  CAST(100 + i AS VARCHAR) AS s_street_number,
       |  'Main' AS s_street_name,
       |  'St' AS s_street_type,
       |  'Suite ' || CAST(i AS VARCHAR) AS s_suite_number,
       |  ${pick("(i - 1) % 2", Seq("Fairview", "Midway"))} AS s_city,
       |  'Williamson County' AS s_county,
       |  CASE WHEN i % 2 = 1 THEN 'TN' ELSE ${pick("(i / 2 - 1) % " + otherStates.length, otherStates)} END AS s_state,
       |  ${pick("(i - 1) % 5", Seq("35709", "81792", "31904", "66557", "85460"))} AS s_zip,
       |  'United States' AS s_country,
       |  CAST(-5.00 AS DECIMAL(5,2)) AS s_gmt_offset,
       |  CAST(0.03 + (i % 9) / 100.0 AS DECIMAL(5,2)) AS s_tax_percentage
       |FROM ${grid(NStore)}""".stripMargin

  private val NAddr = 4999
  private val allStates = Seq("GA", "IL", "TX", "VA", "MS", "KY", "OR", "NM",
    "CO", "CA", "WI", "LA", "IN", "OH", "TN", "AL", "SD", "MI", "NC", "FL",
    "NY", "PA", "WA", "MN", "MO", "KS", "NE", "IA", "AR", "OK", "UT", "NV",
    "AZ", "ID", "MT", "WY", "ND", "WV", "MD", "NJ", "CT", "MA", "VT", "NH",
    "ME", "RI", "DE", "SC", "HI", "AK")
  private val cities = Seq("Edgewood", "Fairview", "Midway", "Oakland",
    "Glendale", "Centerville", "Riverside", "Pleasant Hill", "Springdale",
    "Oak Grove", "Union", "Salem", "Antioch", "Greenville", "Marion",
    "Walnut Grove", "Clinton", "Mount Zion", "Shiloh", "Lakeview")
  private val counties = Seq("Williamson County", "Rush County",
    "Orange County", "Bronx County", "Franklin Parish", "Toole County",
    "Dona Ana County", "Jefferson County", "La Porte County", "Mobile County",
    "Walker County", "Gage County", "Richland County", "Daviess County",
    "Barrow County", "Ziebach County")
  private val zips = Seq("24128", "76232", "65084", "87816", "83926", "77556",
    "20548", "26231", "43848", "15126", "91137", "61265", "98294", "25782",
    "17920", "18426", "98235", "40081", "84093", "28577", "55565", "17183",
    "54601", "67897", "22752", "86284", "18376", "38607", "45200", "21756",
    "85669", "86197", "88274", "83405", "86475", "85392", "85460", "80348",
    "81792", "35709", "35576", "81312", "31671", "66864", "85816",
    "31904", "66557")
  private val countries = Seq("United States", "Canada", "Mexico", "Brazil",
    "Germany", "France", "Japan", "China", "India", "Australia")

  val customerAddress: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS ca_address_sk,
       |  'A' || CAST(100000 + i AS VARCHAR) AS ca_address_id,
       |  CAST(${hm("i", 120, 900L)} + 100 AS VARCHAR) AS ca_street_number,
       |  'Street' || CAST(${hm("i", 121, 60L)} AS VARCHAR) AS ca_street_name,
       |  ${pickH("i", 122, Seq("St", "Ave", "Blvd", "Ln", "Way", "Ct"))} AS ca_street_type,
       |  'Suite ' || CAST(${hm("i", 123, 100L)} AS VARCHAR) AS ca_suite_number,
       |  ${pickH("i", 124, cities)} AS ca_city,
       |  ${pickH("i", 125, counties)} AS ca_county,
       |  ${pickH("i", 126, allStates)} AS ca_state,
       |  ${pickH("i", 127, zips)} AS ca_zip,
       |  CASE WHEN ${hm("i", 128, 10L)} = 0 THEN ${pickH("i", 129, countries.drop(1))} ELSE 'United States' END AS ca_country,
       |  CASE WHEN ${hm("i", 130, 2L)} = 0 THEN CAST(-5.00 AS DECIMAL(5,2))
       |       ELSE CAST(-6.00 - ${hm("i", 131, 3L)} AS DECIMAL(5,2)) END AS ca_gmt_offset,
       |  ${pickH("i", 132, Seq("apartment", "condo", "single family"))} AS ca_location_type
       |FROM ${grid(NAddr)}""".stripMargin

  private val NCdemo = 1051
  private val eduLevels = Seq("Primary", "Secondary", "College",
    "2 yr Degree", "4 yr Degree", "Advanced Degree", "Unknown")

  val customerDemographics: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS cd_demo_sk,
       |  CASE (i % 2) WHEN 0 THEN 'M' ELSE 'F' END AS cd_gender,
       |  ${pick("i % 5", Seq("S", "M", "D", "W", "U"))} AS cd_marital_status,
       |  ${pick("CAST(floor(i / 10.0) AS BIGINT) % 7", eduLevels)} AS cd_education_status,
       |  CAST(500 * (1 + ${hm("i", 140, 20L)}) AS INTEGER) AS cd_purchase_estimate,
       |  ${pickH("i", 141, Seq("Low Risk", "High Risk", "Good", "Unknown"))} AS cd_credit_rating,
       |  CAST(${hm("i", 142, 7L)} AS INTEGER) AS cd_dep_count,
       |  CAST(${hm("i", 143, 7L)} AS INTEGER) AS cd_dep_employed_count,
       |  CAST(${hm("i", 144, 7L)} AS INTEGER) AS cd_dep_college_count
       |FROM ${grid(NCdemo)}""".stripMargin

  private val NHdemo = 721
  private val buyPotentials = Seq(">10000", "Unknown", "0-500", "501-1000",
    "1001-5000", "5001-10000")

  val householdDemographics: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS hd_demo_sk,
       |  CAST(1 + (i % 20) AS INTEGER) AS hd_income_band_sk,
       |  ${pick("i % 6", buyPotentials)} AS hd_buy_potential,
       |  CAST(i % 10 AS INTEGER) AS hd_dep_count,
       |  CAST(CAST(floor(i / 10.0) AS BIGINT) % 6 - 1 AS INTEGER) AS hd_vehicle_count
       |FROM ${grid(NHdemo)}""".stripMargin

  val incomeBand: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS ib_income_band_sk,
       |  CAST((i - 1) * 10000 AS INTEGER) AS ib_lower_bound,
       |  CAST(i * 10000 AS INTEGER) AS ib_upper_bound
       |FROM ${grid(20)}""".stripMargin

  private val NCust = 9973
  private val firstNames = Seq("James", "Mary", "John", "Patricia", "Robert",
    "Jennifer", "Michael", "Linda", "William", "Elizabeth", "David",
    "Barbara", "Richard", "Susan", "Joseph", "Jessica", "Thomas", "Sarah",
    "Charles", "Karen", "Daniel", "Nancy", "Matthew", "Lisa", "Anthony",
    "Betty", "Mark", "Margaret", "Donald", "Sandra", "Steven", "Ashley",
    "Paul", "Kimberly", "Andrew", "Emily", "Joshua", "Donna", "Kenneth",
    "Michelle")
  private val lastNames = Seq("Smith", "Johnson", "Williams", "Brown",
    "Jones", "Garcia", "Miller", "Davis", "Rodriguez", "Martinez",
    "Hernandez", "Lopez", "Gonzalez", "Wilson", "Anderson", "Thomas",
    "Taylor", "Moore", "Jackson", "Martin", "Lee", "Perez", "Thompson",
    "White", "Harris", "Sanchez", "Clark", "Ramirez", "Lewis", "Robinson",
    "Walker", "Young", "Allen", "King", "Wright", "Scott", "Torres",
    "Nguyen", "Hill", "Flores", "Green", "Adams", "Nelson", "Baker", "Hall",
    "Rivera", "Campbell", "Mitchell", "Carter", "Roberts", "Gomez",
    "Phillips", "Evans", "Turner", "Diaz", "Parker", "Cruz", "Edwards",
    "Collins", "Reyes")

  val customer: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS c_customer_sk,
       |  'C' || CAST(100000 + i AS VARCHAR) AS c_customer_id,
       |  CAST(CASE WHEN i <= 20 THEN ${pickSk("i % " + q91CdSks.length, q91CdSks)}
       |       ELSE ${cdemoFk("i", 163, 150, 164)} END AS INTEGER) AS c_current_cdemo_sk,
       |  CAST(CASE WHEN i <= 20 THEN ${pickSk("i % " + unknownHdSks.length, unknownHdSks)}
       |       ELSE ${mixFk("i", 165, 30, pickSk(hm("i", 151, hotHdSks.length), hotHdSks), s"1 + ${hm("i", 166, NHdemo.toLong)}")} END AS INTEGER) AS c_current_hdemo_sk,
       |  CAST(CASE WHEN i <= 20 THEN ${pickSk("i % " + gmt7AddrSks.length, gmt7AddrSks)}
       |       WHEN i <= 50 THEN ${pickSk("i % " + wtAddrSks.length, wtAddrSks)}
       |       ELSE ${addrFk("i", 167, 152, 168)} END AS INTEGER) AS c_current_addr_sk,
       |  CAST($DateSk0 + ${hm("i", 153, Days.toLong - 40)} + 30 AS INTEGER) AS c_first_shipto_date_sk,
       |  CAST($DateSk0 + ${hm("i", 153, Days.toLong - 40)} AS INTEGER) AS c_first_sales_date_sk,
       |  ${pickH("i", 154, Seq("Mr.", "Mrs.", "Ms.", "Dr.", "Miss", "Sir"))} AS c_salutation,
       |  ${pickH("i", 155, firstNames)} AS c_first_name,
       |  ${pickH("i", 156, lastNames)} AS c_last_name,
       |  CASE (${hm("i", 157, 2L)}) WHEN 0 THEN 'Y' ELSE 'N' END AS c_preferred_cust_flag,
       |  CAST(1 + ${hm("i", 158, 28L)} AS INTEGER) AS c_birth_day,
       |  CAST(1 + ${hm("i", 159, 12L)} AS INTEGER) AS c_birth_month,
       |  CAST(1924 + ${hm("i", 160, 69L)} AS INTEGER) AS c_birth_year,
       |  ${pickH("i", 161, Seq("UNITED STATES", "CANADA", "MEXICO", "BRAZIL", "GERMANY", "FRANCE", "JAPAN", "CHINA", "INDIA", "AUSTRALIA"))} AS c_birth_country,
       |  CAST(NULL AS VARCHAR) AS c_login,
       |  'C' || CAST(100000 + i AS VARCHAR) || '@example.com' AS c_email_address,
       |  CAST($DateSk0 + ${hm("i", 162, Days.toLong)} AS INTEGER) AS c_last_review_date_sk
       |FROM ${grid(NCust)}""".stripMargin

  val warehouse: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS w_warehouse_sk,
       |  'W' || CAST(i AS VARCHAR) AS w_warehouse_id,
       |  'Warehouse number ' || CAST(i AS VARCHAR) AS w_warehouse_name,
       |  CAST(i * 97531 % 1000000 AS INTEGER) AS w_warehouse_sq_ft,
       |  CAST(100 + i AS VARCHAR) AS w_street_number, 'Main' AS w_street_name,
       |  'St' AS w_street_type, 'Suite 1' AS w_suite_number,
       |  'Fairview' AS w_city, 'Williamson County' AS w_county, 'TN' AS w_state,
       |  '35709' AS w_zip, 'United States' AS w_country,
       |  CAST(-5.00 AS DECIMAL(5,2)) AS w_gmt_offset
       |FROM ${grid(7)}""".stripMargin

  val shipMode: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS sm_ship_mode_sk,
       |  'SM' || CAST(i AS VARCHAR) AS sm_ship_mode_id,
       |  ${pick("(i - 1) % 5", Seq("EXPRESS", "OVERNIGHT", "REGULAR", "TWO DAY", "LIBRARY"))} AS sm_type,
       |  ${pick("(i - 1) % 4", Seq("AIR", "SURFACE", "SEA", "SHIP"))} AS sm_code,
       |  ${pick("(i - 1) % 10", Seq("UPS", "FEDEX", "AIRBORNE", "USPS", "DHL", "TBS", "ZHOU", "LATVIAN", "DIAMOND", "BARIAN"))} AS sm_carrier,
       |  'contract' || CAST(i AS VARCHAR) AS sm_contract
       |FROM ${grid(20)}""".stripMargin

  val reason: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS r_reason_sk,
       |  'R' || CAST(i AS VARCHAR) AS r_reason_id,
       |  'reason ' || CAST(i AS VARCHAR) AS r_reason_desc
       |FROM ${grid(31)}""".stripMargin

  val callCenter: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS cc_call_center_sk,
       |  'CC' || CAST(i AS VARCHAR) AS cc_call_center_id,
       |  DATE '1998-01-01' AS cc_rec_start_date,
       |  CAST(NULL AS DATE) AS cc_rec_end_date,
       |  CAST(NULL AS INTEGER) AS cc_closed_date_sk,
       |  CAST($DateSk0 AS INTEGER) AS cc_open_date_sk,
       |  ${pickH("i", 170, Seq("NY Metro", "Mid Atlantic", "North Midwest", "California", "Pacific Northwest", "Southwest"))} AS cc_name,
       |  ${pick("(i - 1) % 3", Seq("small", "medium", "large"))} AS cc_class,
       |  CAST(100 + ${hm("i", 171, 600L)} AS INTEGER) AS cc_employees,
       |  CAST(10000 + ${hm("i", 172, 30000L)} AS INTEGER) AS cc_sq_ft,
       |  '8AM-8PM' AS cc_hours,
       |  'Manager ' || CAST(i AS VARCHAR) AS cc_manager,
       |  CAST(1 + ${hm("i", 173, 6L)} AS INTEGER) AS cc_mkt_id,
       |  'mkt class ' || CAST(i AS VARCHAR) AS cc_mkt_class,
       |  'mkt description ' || CAST(i AS VARCHAR) AS cc_mkt_desc,
       |  'Market Manager ' || CAST(i AS VARCHAR) AS cc_market_manager,
       |  CAST(1 + (i % 2) AS INTEGER) AS cc_division,
       |  'division ' || CAST(1 + (i % 2) AS VARCHAR) AS cc_division_name,
       |  1 AS cc_company, 'Unknown' AS cc_company_name,
       |  CAST(100 + i AS VARCHAR) AS cc_street_number, 'Main' AS cc_street_name,
       |  'St' AS cc_street_type, 'Suite 1' AS cc_suite_number,
       |  'Midway' AS cc_city, 'Williamson County' AS cc_county, 'TN' AS cc_state,
       |  '35709' AS cc_zip, 'United States' AS cc_country,
       |  CAST(-5.00 AS DECIMAL(5,2)) AS cc_gmt_offset,
       |  CAST(0.05 AS DECIMAL(5,2)) AS cc_tax_percentage
       |FROM ${grid(11)}""".stripMargin

  val webSite: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS web_site_sk,
       |  'WEB' || CAST(i AS VARCHAR) AS web_site_id,
       |  DATE '1998-01-01' AS web_rec_start_date,
       |  CAST(NULL AS DATE) AS web_rec_end_date,
       |  'site_' || CAST((i - 1) % 4 AS VARCHAR) AS web_name,
       |  CAST($DateSk0 AS INTEGER) AS web_open_date_sk,
       |  CAST(NULL AS INTEGER) AS web_close_date_sk,
       |  'Unknown' AS web_class,
       |  'Manager ' || CAST(i AS VARCHAR) AS web_manager,
       |  CAST(1 + ${hm("i", 180, 6L)} AS INTEGER) AS web_mkt_id,
       |  'mkt class ' || CAST(i AS VARCHAR) AS web_mkt_class,
       |  'mkt description ' || CAST(i AS VARCHAR) AS web_mkt_desc,
       |  'Market Manager ' || CAST(i AS VARCHAR) AS web_market_manager,
       |  CAST(1 + (i % 6) AS INTEGER) AS web_company_id,
       |  ${pick("(i - 1) % 6", Seq("pri", "ought", "able", "ese", "anti", "cally"))} AS web_company_name,
       |  CAST(100 + i AS VARCHAR) AS web_street_number, 'Main' AS web_street_name,
       |  'St' AS web_street_type, 'Suite 1' AS web_suite_number,
       |  'Fairview' AS web_city, 'Williamson County' AS web_county, 'TN' AS web_state,
       |  '35709' AS web_zip, 'United States' AS web_country,
       |  CAST(-5.00 AS DECIMAL(5,2)) AS web_gmt_offset,
       |  CAST(0.04 AS DECIMAL(5,2)) AS web_tax_percentage
       |FROM ${grid(17)}""".stripMargin

  val webPage: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS wp_web_page_sk,
       |  'WP' || CAST(i AS VARCHAR) AS wp_web_page_id,
       |  DATE '1998-01-01' AS wp_rec_start_date,
       |  CAST(NULL AS DATE) AS wp_rec_end_date,
       |  CAST($DateSk0 AS INTEGER) AS wp_creation_date_sk,
       |  CAST($DateSk0 + ${hm("i", 190, Days.toLong)} AS INTEGER) AS wp_access_date_sk,
       |  CASE (${hm("i", 191, 2L)}) WHEN 0 THEN 'Y' ELSE 'N' END AS wp_autogen_flag,
       |  CAST(1 + ${hm("i", 192, NCust.toLong)} AS INTEGER) AS wp_customer_sk,
       |  'http://www.example.com/page' || CAST(i AS VARCHAR) AS wp_url,
       |  ${pickH("i", 193, Seq("ad", "feedback", "general", "order", "dynamic", "protected", "welcome"))} AS wp_type,
       |  CAST(2500 + ${hm("i", 194, 60L)} * 100 AS INTEGER) AS wp_char_count,
       |  CAST(${hm("i", 195, 25L)} AS INTEGER) AS wp_link_count,
       |  CAST(${hm("i", 196, 7L)} AS INTEGER) AS wp_image_count,
       |  CAST(${hm("i", 197, 4L)} AS INTEGER) AS wp_max_ad_count
       |FROM ${grid(97)}""".stripMargin

  val catalogPage: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS cp_catalog_page_sk,
       |  'CP' || CAST(i AS VARCHAR) AS cp_catalog_page_id,
       |  CAST($DateSk0 + CAST(floor((i - 1) / 17.0) AS BIGINT) * 120 AS INTEGER) AS cp_start_date_sk,
       |  CAST($DateSk0 + CAST(floor((i - 1) / 17.0) AS BIGINT) * 120 + 119 AS INTEGER) AS cp_end_date_sk,
       |  'DEPARTMENT' AS cp_department,
       |  CAST(1 + floor((i - 1) / 17.0) AS INTEGER) AS cp_catalog_number,
       |  CAST(1 + (i - 1) % 17 AS INTEGER) AS cp_catalog_page_number,
       |  'description ' || CAST(i AS VARCHAR) AS cp_description,
       |  ${pickH("i", 200, Seq("bi-annual", "quarterly", "monthly"))} AS cp_type
       |FROM ${grid(289)}""".stripMargin

  val promotion: String =
    s"""SELECT
       |  CAST(i AS INTEGER) AS p_promo_sk,
       |  'P' || CAST(i AS VARCHAR) AS p_promo_id,
       |  CAST($DateSk0 + ${hm("i", 210, Days.toLong - 60)} AS INTEGER) AS p_start_date_sk,
       |  CAST($DateSk0 + ${hm("i", 210, Days.toLong - 60)} + 60 AS INTEGER) AS p_end_date_sk,
       |  CAST(1 + ${hm("i", 211, NItem.toLong)} AS INTEGER) AS p_item_sk,
       |  CAST(1000.00 AS DECIMAL(15,2)) AS p_cost,
       |  1 AS p_response_target,
       |  'promo name ' || CAST(i AS VARCHAR) AS p_promo_name,
       |  CASE (${hm("i", 212, 3L)}) WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_dmail,
       |  CASE (${hm("i", 213, 3L)}) WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_email,
       |  CASE (${hm("i", 214, 3L)}) WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_catalog,
       |  CASE (${hm("i", 215, 3L)}) WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_tv,
       |  CASE (${hm("i", 216, 3L)}) WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_radio,
       |  CASE (${hm("i", 217, 3L)}) WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_press,
       |  CASE (${hm("i", 218, 3L)}) WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_event,
       |  CASE (${hm("i", 219, 3L)}) WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_demo,
       |  'channel details ' || CAST(i AS VARCHAR) AS p_channel_details,
       |  ${pickH("i", 220, Seq("ad", "holiday", "seasonal", "person"))} AS p_purpose,
       |  CASE (${hm("i", 221, 2L)}) WHEN 0 THEN 'Y' ELSE 'N' END AS p_discount_active
       |FROM ${grid(101)}""".stripMargin

  // -------------------------------------------------------- hot pools

  /** Demographic sks hit by the corpus's (marital, education) pair
    * filters (q13/q85/q91/…), two per pair — sales bill/ship cdemo
    * fks draw from this pool 40% of the time. */
  private lazy val maritals = Seq("S", "M", "D", "W", "U")
  private lazy val hotCdSks: Seq[Long] = {
    val pairs = Seq(
      ("M", "Advanced Degree"), ("S", "College"), ("W", "2 yr Degree"),
      ("M", "Unknown"), ("W", "Advanced Degree"), ("W", "Unknown"),
      ("D", "College"), ("M", "4 yr Degree"), ("D", "Unknown"),
      ("S", "Unknown"), ("U", "Advanced Degree"), ("D", "2 yr Degree"),
      ("S", "Secondary"), ("W", "Secondary"), ("D", "Primary"),
      ("M", "College"), ("S", "Advanced Degree"), ("U", "Primary"))
    val base = pairs.flatMap { case (m, e) =>
      (1 to NCdemo).filter(sk =>
        maritals(sk % 5) == m && eduLevels((sk / 10) % 7) == e)
        .take(2).map(_.toLong)
    }
    // q85's three (pair, price-band) branches multiply against its
    // (state, profit-band) branches — triple-weight those pairs so
    // the joint funnel carries mass
    base ++ base.take(6) ++ base.take(6)
  }

  /** Address sks hit by the corpus's gmt/state/county/city literals
    * (found by evaluating the generator hashes in Scala — the
    * in-generator analog of ImdbWitness's predicate solving). */
  private lazy val hotAddrSks: Seq[Long] = {
    val hotStates = Set("GA", "IL", "TX", "VA", "MS", "KY", "OR", "NM",
      "CO", "WI", "LA", "IN", "OH", "TN", "SD", "AL")
    def state(i: Long) = allStates(hmEval(i, 126, 50).toInt)
    def us(i: Long) = hmEval(i, 128, 10L) != 0
    def gmt5(i: Long) = hmEval(i, 130, 2L) == 0
    def gmt7(i: Long) = hmEval(i, 130, 2L) != 0 && hmEval(i, 131, 3L) == 1
    def williamson(i: Long) = hmEval(i, 125, counties.length) == 0
    def edgewood(i: Long) = hmEval(i, 124, cities.length) == 0
    val r = (1L to NAddr).filter(i => gmt5(i) && hotStates(state(i)) && us(i)).take(12) ++
      (1L to NAddr).filter(i => gmt7(i) && hotStates(state(i)) && us(i)).take(12) ++
      (1L to NAddr).filter(i => williamson(i) && state(i) == "TN" && us(i)).take(12) ++
      (1L to NAddr).filter(i => gmt5(i) && edgewood(i) && us(i)).take(3)
    r.distinct
  }

  /** Household sks with the corpus's hot buy potentials
    * ('>10000' = idx 0, 'Unknown' = idx 1). */
  private lazy val hotHdSks: Seq[Long] =
    (1 to NHdemo).filter(sk => sk % 6 <= 1).take(24).map(_.toLong)

  /** Fully-correlated witness customers (sk ≤ 20): gmt −7 address +
    * 'Unknown%' buy potential + q91's exact (marital, education)
    * pairs — q91's four-way attribute conjunction is too thin for
    * independent pools at this volume (the ImdbWitness lesson). */
  private lazy val gmt7AddrSks: Seq[Long] =
    (1L to NAddr).filter { i =>
      hmEval(i, 130, 2L) != 0 && hmEval(i, 131, 3L) == 1 &&
        hmEval(i, 128, 10L) != 0
    }.take(8)
  private lazy val unknownHdSks: Seq[Long] =
    (1 to NHdemo).filter(_ % 6 == 1).take(8).map(_.toLong)
  private lazy val q91CdSks: Seq[Long] = {
    val want = Seq(("M", "Unknown"), ("W", "Advanced Degree"))
    want.flatMap { case (m, e) =>
      (1 to NCdemo).filter(sk =>
        maritals(sk % 5) == m && eduLevels((sk / 10) % 7) == e)
        .take(2).map(_.toLong)
    }
  }

  /** Williamson-County/TN addresses — q54's revisit cohort requires
    * the customer's county AND state to equal a store's. */
  private lazy val wtAddrSks: Seq[Long] =
    (1L to NAddr).filter { i =>
      hmEval(i, 125, counties.length) == 0 &&
        allStates(hmEval(i, 126, 50).toInt) == "TN" &&
        hmEval(i, 128, 10L) != 0
    }.take(8)

  /** The 'Women'/'maternity' witness items (hot pool, 20%). */
  private lazy val maternityItemSks: Seq[Long] =
    (1L to 149L).filter(i => hmEval(i, 110, 5L) == 0)

  // ------------------------------------------------------------ facts

  /** Common per-order/per-line key exprs; `g` is the order id, the
    * line id is g*31+ln (ln ≤ 25 < 31 so it's injective). */
  private val X = "(g * 31 + ln)"

  private val HotCust = 499L  // dense customer pool: cross-year/cross-channel joins
  private val HotItem = 149L  // dense item pool: cross-channel same-item joins

  private def custFk(seedSel: Int, seedHot: Int, seedCold: Int): String =
    mixFk("g", seedSel, 75, s"1 + ${hm("g", seedHot, HotCust)}",
      s"1 + ${hm("g", seedCold, NCust.toLong)}")
  private def itemFk(x: String, seedSel: Int, seedHot: Int, seedCold: Int): String =
    mixFk(x, seedSel, 50, s"1 + ${hm(x, seedHot, HotItem)}",
      s"1 + ${hm(x, seedCold, NItem.toLong)}")
  private def cdemoFk(x: String, seedSel: Int, seedHot: Int, seedCold: Int): String =
    mixFk(x, seedSel, 40, pickSk(hm(x, seedHot, hotCdSks.length), hotCdSks),
      s"1 + ${hm(x, seedCold, NCdemo.toLong)}")
  private def addrFk(x: String, seedSel: Int, seedHot: Int, seedCold: Int): String =
    mixFk(x, seedSel, 30, pickSk(hm(x, seedHot, hotAddrSks.length), hotAddrSks),
      s"1 + ${hm(x, seedCold, NAddr.toLong)}")

  /** Item-PURE money (same formula in every channel): cross-channel
    * per-item revenue ratios (q58/q83's ±10% bands) then reduce to
    * line-count ratios, which the hot-item pool makes hit. */
  private def extSalesPrice(item: String): String =
    dec(s"($item) * 977 % 990000 + 100")
  private def salesPrice(item: String): String =
    dec(s"($item) * 499 % 19900 + 50")
  /** Bimodal net profit: 70% in -100..400 dollars so the corpus's
    * narrow BETWEEN bands (q85 100–200 etc.) carry real mass. */
  private def netProfit(x: String, s1: Int, s2: Int, s3: Int): String =
    dec(s"CASE WHEN ${hm(x, s1, 10L)} < 7 THEN ${hm(x, s2, 50000L)} - 10000 " +
      s"ELSE ${hm(x, s3, 2000000L)} - 500000 END")

  private def nullable(pctInv: Long, seed: Int, x: String, expr: String): String =
    s"CASE WHEN ${hm(x, seed, pctInv)} = 0 THEN NULL ELSE $expr END"

  val storeSales: String =
    s"""SELECT
       |  ss_sold_date_sk, ss_sold_time_sk, ss_item_sk, ss_customer_sk,
       |  ss_cdemo_sk, ss_hdemo_sk, ss_addr_sk, ss_store_sk, ss_promo_sk,
       |  ss_ticket_number,
       |  CAST(1 + ${hm("__x", 19, 100L)} AS INTEGER) AS ss_quantity,
       |  ${dec(hm("__x", 20, 9900L) + " + 100")} AS ss_wholesale_cost,
       |  ${dec(hm("__x", 21, 19900L) + " + 100")} AS ss_list_price,
       |  ${salesPrice("ss_item_sk")} AS ss_sales_price,
       |  ${dec(hm("__x", 23, 500000L))} AS ss_ext_discount_amt,
       |  ${extSalesPrice("ss_item_sk")} AS ss_ext_sales_price,
       |  ${dec(hm("__x", 25, 660000L) + " + 100")} AS ss_ext_wholesale_cost,
       |  ${dec(hm("__x", 26, 990000L) + " + 200")} AS ss_ext_list_price,
       |  ${dec(hm("__x", 27, 80000L))} AS ss_ext_tax,
       |  ${dec(hm("__x", 28, 30000L))} AS ss_coupon_amt,
       |  ${dec(hm("__x", 29, 900000L) + " + 100")} AS ss_net_paid,
       |  ${dec(hm("__x", 30, 980000L) + " + 100")} AS ss_net_paid_inc_tax,
       |  ${netProfit("__x", 31, 32, 33)} AS ss_net_profit
       |FROM (SELECT
       |  $X AS __x,
       |  CAST($DateSk0 + ${hm("g", 10, Days.toLong)} AS INTEGER) AS ss_sold_date_sk,
       |  CAST(${hm("g", 11, 1440L)} AS INTEGER) AS ss_sold_time_sk,
       |  CAST(CASE WHEN ln >= 20 THEN 1 + ${hm("g", 34, NItem.toLong)}
       |       ELSE ${itemFk(X, 35, 12, 36)} END AS INTEGER) AS ss_item_sk,
       |  CAST(${custFk(37, 13, 38)} AS INTEGER) AS ss_customer_sk,
       |  CAST(${cdemoFk("g", 39, 14, 40)} AS INTEGER) AS ss_cdemo_sk,
       |  CAST(1 + ${hm("g", 15, NHdemo.toLong)} AS INTEGER) AS ss_hdemo_sk,
       |  CAST(${nullable(20L, 41, "g", addrFk("g", 42, 16, 43))} AS INTEGER) AS ss_addr_sk,
       |  CAST(${nullable(33L, 44, "g", s"1 + ${hm("g", 17, NStore.toLong)}")} AS INTEGER) AS ss_store_sk,
       |  CAST(1 + ${hm(X, 18, 101L)} AS INTEGER) AS ss_promo_sk,
       |  CAST(g + 1 AS INTEGER) AS ss_ticket_number
       | FROM ${lines(4600, 25, 7)})""".stripMargin

  val storeReturns: String =
    s"""SELECT
       |  CAST(LEAST(ss_sold_date_sk + 1 + (ss_item_sk * 7 + ss_ticket_number) % 90, $LastSk) AS INTEGER) AS sr_returned_date_sk,
       |  ss_sold_time_sk AS sr_return_time_sk,
       |  ss_item_sk AS sr_item_sk,
       |  ss_customer_sk AS sr_customer_sk,
       |  ss_cdemo_sk AS sr_cdemo_sk,
       |  ss_hdemo_sk AS sr_hdemo_sk,
       |  ss_addr_sk AS sr_addr_sk,
       |  ss_store_sk AS sr_store_sk,
       |  CAST(1 + (ss_item_sk * 11 + ss_ticket_number) % 31 AS INTEGER) AS sr_reason_sk,
       |  ss_ticket_number AS sr_ticket_number,
       |  CAST(1 + (ss_item_sk * 7) % 10 AS INTEGER) AS sr_return_quantity,
       |  ${dec("(ss_item_sk) * 9973 % 2000000 + 100")} AS sr_return_amt,
       |  ${dec("(ss_item_sk * 89 + ss_ticket_number * 127) % 7000")} AS sr_return_tax,
       |  ${dec("(ss_item_sk) * 9973 % 2000000 + 100 + (ss_item_sk * 89 + ss_ticket_number * 127) % 7000")} AS sr_return_amt_inc_tax,
       |  ${dec("(ss_item_sk * 83 + ss_ticket_number * 113) % 10000")} AS sr_fee,
       |  ${dec("(ss_item_sk * 79 + ss_ticket_number * 109) % 12000")} AS sr_return_ship_cost,
       |  ${dec("(ss_item_sk * 73 + ss_ticket_number * 107) % 60000")} AS sr_refunded_cash,
       |  ${dec("(ss_item_sk * 71 + ss_ticket_number * 103) % 20000")} AS sr_reversed_charge,
       |  ${dec("(ss_item_sk * 67 + ss_ticket_number * 101) % 20000")} AS sr_store_credit,
       |  ${dec("(ss_item_sk * 61 + ss_ticket_number * 97) % 50000 + 50")} AS sr_net_loss
       |FROM store_sales
       |WHERE (ss_ticket_number * 13 + ss_item_sk) % 5 < 2""".stripMargin

  val catalogSales: String =
    s"""SELECT
       |  cs_sold_date_sk, cs_sold_time_sk, cs_ship_date_sk,
       |  cs_bill_customer_sk, cs_bill_cdemo_sk, cs_bill_hdemo_sk, cs_bill_addr_sk,
       |  cs_ship_customer_sk, cs_ship_cdemo_sk, cs_ship_hdemo_sk, cs_ship_addr_sk,
       |  cs_call_center_sk, cs_catalog_page_sk, cs_ship_mode_sk, cs_warehouse_sk,
       |  cs_item_sk, cs_promo_sk, cs_order_number,
       |  CAST(1 + ${hm("__x", 57, 100L)} AS INTEGER) AS cs_quantity,
       |  ${dec(hm("__x", 58, 9900L) + " + 100")} AS cs_wholesale_cost,
       |  ${dec(hm("__x", 59, 19900L) + " + 100")} AS cs_list_price,
       |  ${salesPrice("cs_item_sk")} AS cs_sales_price,
       |  ${dec(hm("__x", 61, 500000L))} AS cs_ext_discount_amt,
       |  ${extSalesPrice("cs_item_sk")} AS cs_ext_sales_price,
       |  ${dec(hm("__x", 63, 660000L) + " + 100")} AS cs_ext_wholesale_cost,
       |  ${dec(hm("__x", 64, 990000L) + " + 200")} AS cs_ext_list_price,
       |  ${dec(hm("__x", 65, 80000L))} AS cs_ext_tax,
       |  ${dec(hm("__x", 66, 30000L))} AS cs_coupon_amt,
       |  ${dec(hm("__x", 67, 60000L))} AS cs_ext_ship_cost,
       |  ${dec(hm("__x", 68, 900000L) + " + 100")} AS cs_net_paid,
       |  ${dec(hm("__x", 69, 980000L) + " + 100")} AS cs_net_paid_inc_tax,
       |  ${dec(hm("__x", 70, 990000L) + " + 100")} AS cs_net_paid_inc_ship,
       |  ${dec(hm("__x", 71, 999000L) + " + 100")} AS cs_net_paid_inc_ship_tax,
       |  ${netProfit("__x", 72, 73, 74)} AS cs_net_profit
       |FROM (SELECT
       |  $X AS __x,
       |  CAST(CASE WHEN g < 40 THEN $DateSk0 + 334 + (g % 28) WHEN g < 80 THEN $DateSk0 + 243 + (g % 30) ELSE $DateSk0 + ${hm("g", 40, Days.toLong)} END AS INTEGER) AS cs_sold_date_sk,
       |  CAST(${hm("g", 41, 1440L)} AS INTEGER) AS cs_sold_time_sk,
       |  CAST(LEAST((CASE WHEN g < 40 THEN $DateSk0 + 334 + (g % 28) WHEN g < 80 THEN $DateSk0 + 243 + (g % 30) ELSE $DateSk0 + ${hm("g", 40, Days.toLong)} END) + 2 + ${hm(X, 42, 60L)}, $LastSk) AS INTEGER) AS cs_ship_date_sk,
       |  CAST(CASE WHEN g < 40 THEN 21 + (g % 30) ELSE ${custFk(108, 43, 109)} END AS INTEGER) AS cs_bill_customer_sk,
       |  CAST(${cdemoFk("g", 110, 44, 111)} AS INTEGER) AS cs_bill_cdemo_sk,
       |  CAST(1 + ${hm("g", 45, NHdemo.toLong)} AS INTEGER) AS cs_bill_hdemo_sk,
       |  CAST(${addrFk("g", 112, 46, 113)} AS INTEGER) AS cs_bill_addr_sk,
       |  CAST(CASE WHEN g >= 40 AND g < 80 THEN 1 + (g % 20) ELSE ${custFk(114, 47, 115)} END AS INTEGER) AS cs_ship_customer_sk,
       |  CAST(${cdemoFk("g", 110, 44, 111)} AS INTEGER) AS cs_ship_cdemo_sk,
       |  CAST(1 + ${hm("g", 45, NHdemo.toLong)} AS INTEGER) AS cs_ship_hdemo_sk,
       |  CAST(${nullable(33L, 116, "g", addrFk("g", 117, 48, 118))} AS INTEGER) AS cs_ship_addr_sk,
       |  CAST(1 + ${hm("g", 51, 11L)} AS INTEGER) AS cs_call_center_sk,
       |  CAST(1 + ${hm(X, 52, 289L)} AS INTEGER) AS cs_catalog_page_sk,
       |  CAST(1 + ${hm(X, 53, 20L)} AS INTEGER) AS cs_ship_mode_sk,
       |  CAST(1 + ${hm(X, 54, 7L)} AS INTEGER) AS cs_warehouse_sk,
       |  CAST(CASE WHEN g < 40 THEN ${pickSk(hm(X, 169, maternityItemSks.length), maternityItemSks)} ELSE ${itemFk(X, 119, 55, 120)} END AS INTEGER) AS cs_item_sk,
       |  CAST(1 + ${hm(X, 56, 101L)} AS INTEGER) AS cs_promo_sk,
       |  CAST(g + 1 AS INTEGER) AS cs_order_number
       | FROM ${lines(3200, 21, 11)})""".stripMargin

  val catalogReturns: String =
    s"""SELECT
       |  CAST(LEAST(cs_ship_date_sk + 1 + (cs_item_sk * 7 + cs_order_number) % 60, $LastSk) AS INTEGER) AS cr_returned_date_sk,
       |  cs_sold_time_sk AS cr_returned_time_sk,
       |  cs_item_sk AS cr_item_sk,
       |  cs_bill_customer_sk AS cr_refunded_customer_sk,
       |  cs_bill_cdemo_sk AS cr_refunded_cdemo_sk,
       |  cs_bill_hdemo_sk AS cr_refunded_hdemo_sk,
       |  cs_bill_addr_sk AS cr_refunded_addr_sk,
       |  cs_ship_customer_sk AS cr_returning_customer_sk,
       |  cs_ship_cdemo_sk AS cr_returning_cdemo_sk,
       |  cs_ship_hdemo_sk AS cr_returning_hdemo_sk,
       |  cs_ship_addr_sk AS cr_returning_addr_sk,
       |  cs_call_center_sk AS cr_call_center_sk,
       |  cs_catalog_page_sk AS cr_catalog_page_sk,
       |  cs_ship_mode_sk AS cr_ship_mode_sk,
       |  cs_warehouse_sk AS cr_warehouse_sk,
       |  CAST(1 + (cs_item_sk * 11 + cs_order_number) % 31 AS INTEGER) AS cr_reason_sk,
       |  cs_order_number AS cr_order_number,
       |  CAST(1 + (cs_item_sk * 7) % 10 AS INTEGER) AS cr_return_quantity,
       |  ${dec("(cs_item_sk) * 9973 % 2000000 + 100")} AS cr_return_amount,
       |  ${dec("(cs_item_sk * 89 + cs_order_number * 127) % 7000")} AS cr_return_tax,
       |  ${dec("(cs_item_sk) * 9973 % 2000000 + 100 + (cs_item_sk * 89 + cs_order_number * 127) % 7000")} AS cr_return_amt_inc_tax,
       |  ${dec("(cs_item_sk * 83 + cs_order_number * 113) % 10000")} AS cr_fee,
       |  ${dec("(cs_item_sk * 79 + cs_order_number * 109) % 12000")} AS cr_return_ship_cost,
       |  ${dec("(cs_item_sk * 73 + cs_order_number * 107) % 60000")} AS cr_refunded_cash,
       |  ${dec("(cs_item_sk * 71 + cs_order_number * 103) % 20000")} AS cr_reversed_charge,
       |  ${dec("(cs_item_sk * 67 + cs_order_number * 101) % 20000")} AS cr_store_credit,
       |  ${dec("(cs_item_sk * 61 + cs_order_number * 97) % 50000 + 50")} AS cr_net_loss
       |FROM catalog_sales
       |WHERE (cs_order_number * 13 + cs_item_sk) % 5 < 2""".stripMargin

  val webSales: String =
    s"""SELECT
       |  ws_sold_date_sk, ws_sold_time_sk, ws_ship_date_sk, ws_item_sk,
       |  ws_bill_customer_sk, ws_bill_cdemo_sk, ws_bill_hdemo_sk, ws_bill_addr_sk,
       |  ws_ship_customer_sk, ws_ship_cdemo_sk, ws_ship_hdemo_sk, ws_ship_addr_sk,
       |  ws_web_page_sk, ws_web_site_sk, ws_ship_mode_sk, ws_warehouse_sk,
       |  ws_promo_sk, ws_order_number,
       |  CAST(1 + ${hm("__x", 92, 100L)} AS INTEGER) AS ws_quantity,
       |  ${dec(hm("__x", 93, 9900L) + " + 100")} AS ws_wholesale_cost,
       |  ${dec(hm("__x", 94, 19900L) + " + 100")} AS ws_list_price,
       |  ${salesPrice("ws_item_sk")} AS ws_sales_price,
       |  ${dec(hm("__x", 96, 500000L))} AS ws_ext_discount_amt,
       |  ${extSalesPrice("ws_item_sk")} AS ws_ext_sales_price,
       |  ${dec(hm("__x", 98, 660000L) + " + 100")} AS ws_ext_wholesale_cost,
       |  ${dec(hm("__x", 99, 990000L) + " + 200")} AS ws_ext_list_price,
       |  ${dec(hm("__x", 100, 80000L))} AS ws_ext_tax,
       |  ${dec(hm("__x", 101, 30000L))} AS ws_coupon_amt,
       |  ${dec(hm("__x", 102, 60000L))} AS ws_ext_ship_cost,
       |  ${dec(hm("__x", 103, 900000L) + " + 100")} AS ws_net_paid,
       |  ${dec(hm("__x", 104, 980000L) + " + 100")} AS ws_net_paid_inc_tax,
       |  ${dec(hm("__x", 105, 990000L) + " + 100")} AS ws_net_paid_inc_ship,
       |  ${dec(hm("__x", 106, 999000L) + " + 100")} AS ws_net_paid_inc_ship_tax,
       |  ${netProfit("__x", 121, 122, 123)} AS ws_net_profit
       |FROM (SELECT
       |  $X AS __x,
       |  CAST($DateSk0 + ${hm("g", 75, Days.toLong)} AS INTEGER) AS ws_sold_date_sk,
       |  CAST(${hm("g", 76, 1440L)} AS INTEGER) AS ws_sold_time_sk,
       |  CAST(LEAST($DateSk0 + ${hm("g", 75, Days.toLong)} + 1 + ${hm(X, 77, 120L)}, $LastSk) AS INTEGER) AS ws_ship_date_sk,
       |  CAST(${itemFk(X, 124, 78, 125)} AS INTEGER) AS ws_item_sk,
       |  CAST(${custFk(126, 79, 127)} AS INTEGER) AS ws_bill_customer_sk,
       |  CAST(${cdemoFk("g", 128, 80, 129)} AS INTEGER) AS ws_bill_cdemo_sk,
       |  CAST(1 + ${hm("g", 81, NHdemo.toLong)} AS INTEGER) AS ws_bill_hdemo_sk,
       |  CAST(${addrFk("g", 132, 82, 133)} AS INTEGER) AS ws_bill_addr_sk,
       |  CAST(${nullable(33L, 134, "g", custFk(135, 83, 136))} AS INTEGER) AS ws_ship_customer_sk,
       |  CAST(${cdemoFk("g", 128, 80, 129)} AS INTEGER) AS ws_ship_cdemo_sk,
       |  CAST(1 + ${hm("g", 81, NHdemo.toLong)} AS INTEGER) AS ws_ship_hdemo_sk,
       |  CAST(${addrFk("g", 137, 86, 138)} AS INTEGER) AS ws_ship_addr_sk,
       |  CAST(1 + ${hm(X, 87, 97L)} AS INTEGER) AS ws_web_page_sk,
       |  CAST(1 + ${hm(X, 88, 17L)} AS INTEGER) AS ws_web_site_sk,
       |  CAST(1 + ${hm(X, 89, 20L)} AS INTEGER) AS ws_ship_mode_sk,
       |  CAST(1 + ${hm(X, 90, 7L)} AS INTEGER) AS ws_warehouse_sk,
       |  CAST(1 + ${hm(X, 91, 101L)} AS INTEGER) AS ws_promo_sk,
       |  CAST(g + 1 AS INTEGER) AS ws_order_number
       | FROM ${lines(1800, 17, 13)})""".stripMargin

  val webReturns: String =
    s"""SELECT
       |  CAST(LEAST(ws_ship_date_sk + 1 + (ws_item_sk * 7 + ws_order_number) % 60, $LastSk) AS INTEGER) AS wr_returned_date_sk,
       |  ws_sold_time_sk AS wr_returned_time_sk,
       |  ws_item_sk AS wr_item_sk,
       |  ws_bill_customer_sk AS wr_refunded_customer_sk,
       |  ws_bill_cdemo_sk AS wr_refunded_cdemo_sk,
       |  ws_bill_hdemo_sk AS wr_refunded_hdemo_sk,
       |  ws_bill_addr_sk AS wr_refunded_addr_sk,
       |  ws_ship_customer_sk AS wr_returning_customer_sk,
       |  ws_ship_cdemo_sk AS wr_returning_cdemo_sk,
       |  ws_ship_hdemo_sk AS wr_returning_hdemo_sk,
       |  ws_ship_addr_sk AS wr_returning_addr_sk,
       |  ws_web_page_sk AS wr_web_page_sk,
       |  CAST(1 + (ws_item_sk * 11 + ws_order_number) % 31 AS INTEGER) AS wr_reason_sk,
       |  ws_order_number AS wr_order_number,
       |  CAST(1 + (ws_item_sk * 7) % 10 AS INTEGER) AS wr_return_quantity,
       |  ${dec("(ws_item_sk) * 9973 % 2000000 + 100")} AS wr_return_amt,
       |  ${dec("(ws_item_sk * 89 + ws_order_number * 127) % 7000")} AS wr_return_tax,
       |  ${dec("(ws_item_sk) * 9973 % 2000000 + 100 + (ws_item_sk * 89 + ws_order_number * 127) % 7000")} AS wr_return_amt_inc_tax,
       |  ${dec("(ws_item_sk * 83 + ws_order_number * 113) % 10000")} AS wr_fee,
       |  ${dec("(ws_item_sk * 79 + ws_order_number * 109) % 12000")} AS wr_return_ship_cost,
       |  ${dec("(ws_item_sk * 73 + ws_order_number * 107) % 60000")} AS wr_refunded_cash,
       |  ${dec("(ws_item_sk * 71 + ws_order_number * 103) % 20000")} AS wr_reversed_charge,
       |  ${dec("(ws_item_sk * 67 + ws_order_number * 101) % 20000")} AS wr_account_credit,
       |  ${dec("(ws_item_sk * 61 + ws_order_number * 97) % 50000 + 50")} AS wr_net_loss
       |FROM web_sales
       |WHERE (ws_order_number * 13 + ws_item_sk) % 5 < 3""".stripMargin

  /** ALL items × 21-day snapshots × 2 warehouses per (item, snap):
    * manufact-filtered inventory probes (q37/q82) always find their
    * items, and the warehouse-pair queries (q39) find two warehouses
    * sharing an item+date. ~421k rows of pure arithmetic. */
  val inventory: String = {
    val snaps = 157
    val n = NItem * snaps * 2
    s"""SELECT
       |  CAST($DateSk0 + CAST(floor(i / ${NItem * 2}.0) AS BIGINT) * 14 AS INTEGER) AS inv_date_sk,
       |  CAST(1 + (CAST(floor(i / 2.0) AS BIGINT) % $NItem) AS INTEGER) AS inv_item_sk,
       |  CAST(1 + (${hm(s"(CAST(floor(i / 2.0) AS BIGINT) % $NItem)", 229, 7L)} + (i % 2) * 3) % 7 AS INTEGER) AS inv_warehouse_sk,
       |  CAST((i * i + i * 31) % 1048573 % 1000 AS INTEGER) AS inv_quantity_on_hand
       |FROM (SELECT CAST(i AS BIGINT) AS i FROM generate_series(0, ${n - 1}) t(i))""".stripMargin
  }

  // --------------------------------------------------------- assembly

  /** (table, selectText) in dependency order — returns reference the
    * sales views, so sales must register first. */
  val tables: Seq[(String, String)] = Seq(
    "date_dim" -> dateDim,
    "time_dim" -> timeDim,
    "item" -> item,
    "store" -> store,
    "customer_address" -> customerAddress,
    "customer_demographics" -> customerDemographics,
    "household_demographics" -> householdDemographics,
    "income_band" -> incomeBand,
    "customer" -> customer,
    "warehouse" -> warehouse,
    "ship_mode" -> shipMode,
    "reason" -> reason,
    "call_center" -> callCenter,
    "web_site" -> webSite,
    "web_page" -> webPage,
    "catalog_page" -> catalogPage,
    "promotion" -> promotion,
    "store_sales" -> storeSales,
    "store_returns" -> storeReturns,
    "catalog_sales" -> catalogSales,
    "catalog_returns" -> catalogReturns,
    "web_sales" -> webSales,
    "web_returns" -> webReturns,
    "inventory" -> inventory)

  /** DuckDB-side prelude: the whole schema as one WITH clause (CTEs
    * shadow the TPC-H `customer` view the driver registers). */
  val oraclePrelude: String =
    tables.map { case (n, q) => s"$n AS (\n$q\n)" }.mkString("WITH ", ",\n", "")

  /** Spark-side registration through the dialect front door. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    tables.foreach { case (n, q) =>
      graft.GraftSql.sql(spark, q).createOrReplaceTempView(n)
    }
}
